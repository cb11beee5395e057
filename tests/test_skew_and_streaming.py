"""Registry-domain skew (one host owns ~90% of URLs) and the Structured
Streaming front-end."""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from new_ent_crawler_spark.plans.wave import WaveEngine
from new_ent_crawler_spark.simulator import Simulator
from new_ent_crawler_spark.synth import webgen

ALTER_INFO = "/corp-query-entprise-info-alterInfo"


def test_skewed_crawl_matches_simulator(spark, skew_web, tmp_path_factory):
    """The salted dequeue + per-host budgets keep order/seen-set equality
    when one host dominates the frontier (north_rule skew requirement)."""
    web_dir, stats = skew_web
    work = str(tmp_path_factory.mktemp("skewwork"))
    eng = WaveEngine(spark, web_dir, work, per_host_k=16, max_waves=40,
                     salt_buckets=8)
    eng.run()

    pages = webgen.load_fetch(web_dir)
    seeds = pq.read_table(web_dir + "/seeds.parquet").to_pylist()
    robots = {r["host"]: (r["disallow"], r["crawl_delay"])
              for r in pq.read_table(web_dir + "/robots.parquet").to_pylist()}
    sim = Simulator(pages, seeds, robots, per_host_k=16, max_waves=40)
    sim.run()

    assert eng.seen_urls() == sim.seen_urls()
    assert eng.crawl_order() == sim.crawl_order()
    # skew sanity: host 0 really dominates
    hosts = [u.split("://")[1].split("/")[0] for u in sim.seen_urls()]
    share = hosts.count("r00.gsxt.example") / len(hosts)
    assert share > 0.7


def test_stream_crawl_matches_batch_crawl(spark, tiny_web, tmp_path):
    """One seed file dropped into the watched dir: the stream crawl runs the
    batch engine's waves, so it ends with the same seen set and crawl order
    as ``WaveEngine.run()`` and obeys robots.txt.  The web's own rules
    (/private/, /admin/) match no URL, so the copy here also disallows the
    alterInfo pages on every host."""
    from new_ent_crawler_spark.streaming import stream as ST
    src, _ = tiny_web
    web_dir = str(tmp_path / "web")
    shutil.copytree(src, web_dir)
    robots_p = os.path.join(web_dir, "robots.parquet")
    robots = pq.read_table(robots_p)
    rules = [r + [ALTER_INFO] for r in robots.column("disallow").to_pylist()]
    pq.write_table(robots.set_column(
        robots.schema.get_field_index("disallow"), "disallow",
        pa.array(rules, pa.list_(pa.string()))), robots_p)

    batch = WaveEngine(spark, web_dir, str(tmp_path / "batch"),
                       per_host_k=8, max_waves=30)
    batch.run()

    seed_dir = str(tmp_path / "seeds_in")
    os.makedirs(seed_dir)
    shutil.copy(os.path.join(web_dir, "seeds.parquet"),
                os.path.join(seed_dir, "batch0.parquet"))
    eng = WaveEngine(spark, web_dir, str(tmp_path / "stream"),
                     per_host_k=8, max_waves=30)
    q = ST.crawl_stream(eng, seed_dir, str(tmp_path / "ckpt"),
                        trigger_seconds=1).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert eng.seen_urls() == batch.seen_urls()
    assert eng.crawl_order() == batch.crawl_order()

    def texts(e):
        return {r.url: r.text
                for r in e.extracted().select("url", "text").collect()}
    assert texts(eng) == texts(batch)
    # the lineage metrics stream reads the engine's lineage table
    lin = (ST.lineage_window_stream(spark, eng.lineage_t.path)
           .writeStream.format("memory").queryName("stream_crawl_lineage")
           .outputMode("append").trigger(availableNow=True).start())
    assert lin.awaitTermination(120)
    assert eng.extracted().filter(
        F.col("url").contains(ALTER_INFO)).count() == 0
    # the rule is what kept them out: the same web without it links to
    # alterInfo pages the crawl would reach
    seeds = pq.read_table(os.path.join(src, "seeds.parquet")).to_pylist()
    src_robots = {r["host"]: (r["disallow"], r["crawl_delay"]) for r in
                  pq.read_table(os.path.join(src, "robots.parquet"))
                  .to_pylist()}
    sim = Simulator(webgen.load_fetch(src), seeds, src_robots,
                    per_host_k=8, max_waves=30)
    sim.run()
    assert any(ALTER_INFO in u for u in sim.seen_urls())


def test_lineage_window_stream(spark, tmp_path):
    from new_ent_crawler_spark.streaming import stream as ST
    lineage_dir = str(tmp_path / "lineage")
    os.makedirs(lineage_dir)
    df = spark.range(10).select(
        F.lit(1).cast("long").alias("wave_id"),
        F.lit("parse").alias("stage"),
        F.col("id").cast("int").alias("partition_id"),
        F.lit(5).cast("long").alias("urls_in"),
        F.lit(7).cast("long").alias("urls_out"),
        F.lit(1).cast("long").alias("dedup_hits"),
        F.current_timestamp().alias("ts"))
    df.write.mode("overwrite").parquet(lineage_dir)
    agg = ST.lineage_window_stream(spark, lineage_dir)
    q = (agg.writeStream.format("memory").queryName("lin_win")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(60)
    # append mode emits only closed windows; the query itself running
    # end-to-end (schema + watermark + window agg) is the smoke check
    assert spark.table("lin_win").columns == [
        "window", "stage", "urls_in", "urls_out", "dedup_hits"]


def test_streaming_micro_batches_are_never_collected():
    """The de-collect contract (VERDICT r02 ask #4): micro-batch data in
    streaming/ stays distributed, never pulled through a driver-side
    collect() — a collect pin caps batch size at driver memory."""
    import inspect

    from new_ent_crawler_spark.streaming import stateful, stream
    for mod in (stream, stateful):
        src = inspect.getsource(mod)
        assert ".collect()" not in src, mod.__name__
