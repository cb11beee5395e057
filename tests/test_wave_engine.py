"""End-to-end crawl: Spark wave engine vs single-threaded reference
simulator — seen-set, crawl-order, status, and byte-identity gates
(SURVEY.md §5.2, BASELINE.json metric)."""

import json
import os
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from new_ent_crawler_spark.operators import assemble as ASM
from new_ent_crawler_spark.oracle import extract as X
from new_ent_crawler_spark.oracle import sink as SK
from new_ent_crawler_spark.oracle import urlspec as U
from new_ent_crawler_spark.plans import wave as W
from new_ent_crawler_spark.plans.wave import WaveEngine
from new_ent_crawler_spark.simulator import Simulator
from new_ent_crawler_spark.synth import webgen


def _simulator_for(web_dir, **kw):
    pages = webgen.load_fetch(web_dir)
    seeds = pq.read_table(web_dir + "/seeds.parquet").to_pylist()
    robots_rows = pq.read_table(web_dir + "/robots.parquet").to_pylist()
    robots = {r["host"]: (r["disallow"], r["crawl_delay"])
              for r in robots_rows}
    sim = Simulator(pages, seeds, robots, **kw)
    sim.run()
    return sim


def _crawl(spark, web_dir, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    eng = WaveEngine(spark, web_dir, work, per_host_k=8, max_waves=30)
    stats = eng.run()
    sim = _simulator_for(web_dir, per_host_k=8, max_waves=30)
    return eng, sim, stats


@pytest.fixture(scope="module")
def crawl(spark, tiny_web, tmp_path_factory):
    return _crawl(spark, tiny_web[0], tmp_path_factory)


def test_crawl_terminates(crawl):
    eng, sim, stats = crawl
    assert len(stats) >= 4  # listing -> main -> sections -> children
    assert stats[-1]["claimed"] > 0


def test_seen_set_equality(crawl):
    eng, sim, _ = crawl
    assert eng.seen_urls() == sim.seen_urls()


def test_crawl_order_equality(crawl):
    eng, sim, _ = crawl
    assert eng.crawl_order() == sim.crawl_order()


def test_statuses_equal(crawl):
    eng, sim, _ = crawl
    got = {r.url: r.status
           for r in eng.frontier().select("url", "status").collect()}
    assert got == sim.statuses()


def test_byte_identical_extracted_text(crawl, spark, tiny_web):
    """input_hint invariant: per-url extracted text == golden pages.text."""
    eng, sim, _ = crawl
    web_dir, _ = tiny_web
    pages = spark.read.parquet(web_dir + "/pages.parquet")
    ext = eng.extracted().filter(F.col("text").isNotNull())
    joined = (ext.alias("e")
              .join(pages.alias("p"), "url")
              .select("url", F.col("e.text").alias("got"),
                      F.col("p.text").alias("want")))
    bad = joined.filter(~F.col("got").eqNullSafe(F.col("want"))) \
        .limit(5).collect()
    assert bad == [], bad
    # and the engine extracted every page the simulator extracted
    got_urls = {r.url for r in ext.select("url").distinct().collect()}
    assert got_urls == set(sim.extracted)


def test_lineage_counts(crawl):
    eng, sim, _ = crawl
    lin = eng.lineage_t.read(eng.spark)
    parse_in = lin.filter("stage = 'parse'").agg(
        F.sum("urls_in")).collect()[0][0]
    assert parse_in == len(sim.crawl_order())
    dedup_hits = lin.filter("stage = 'dedup'").agg(
        F.sum("dedup_hits")).collect()[0][0]
    assert dedup_hits == sim.dedup_hits


def test_fast_seeding_equals_spark_seeding(crawl, spark, tiny_web):
    """The driver-side pyarrow seeding fast path (no Spark jobs) must
    produce exactly the frontier + budgets the Spark projections produce —
    value-for-value, dtype-for-dtype."""
    web_dir, _ = tiny_web
    from new_ent_crawler_spark.operators import frontier as FR
    from new_ent_crawler_spark.operators import politeness as PL

    seeds_pa = pq.read_table(web_dir + "/seeds.parquet")
    fast = FR.init_frontier_pa(seeds_pa)
    via_spark = FR.init_frontier(
        spark.read.parquet(web_dir + "/seeds.parquet"))
    assert [f.name for f in via_spark.schema.fields] == fast.column_names
    assert (sorted(map(tuple, fast.to_pandas().itertuples(index=False)))
            == sorted(map(tuple, via_spark.toPandas()
                          .itertuples(index=False))))

    robots_pa = pq.read_table(web_dir + "/robots.parquet")
    fast_b = PL.init_budgets_pd(robots_pa.to_pandas(), per_wave_k=8)
    spark_b = PL.init_budgets(
        spark.read.parquet(web_dir + "/robots.parquet"), per_wave_k=8
    ).toPandas()
    assert (sorted(map(tuple, fast_b.itertuples(index=False)))
            == sorted(map(tuple, spark_b.itertuples(index=False))))


def test_pending_after_exact(crawl):
    """The fused still-eligible counters must predict the next wave's
    pending count exactly — they are what lets run() stop without a probe
    wave (per-run fixed cost on every scaling leg)."""
    _, _, stats = crawl
    for prev, nxt in zip(stats, stats[1:]):
        if "pending_after" in prev:  # absent on zero-claim refill waves
            assert prev["pending_after"] == nxt["pending_before"]
    assert stats[-1].get("pending_after") == 0


def test_resume_from_checkpoint(spark, tiny_web, tmp_path_factory):
    """Kill after wave 2, resume, end state byte-identical (north_rule)."""
    web_dir, _ = tiny_web
    w_full = str(tmp_path_factory.mktemp("full"))
    w_part = str(tmp_path_factory.mktemp("part"))
    full = WaveEngine(spark, web_dir, w_full, per_host_k=8, max_waves=30)
    full.run()

    part = WaveEngine(spark, web_dir, w_part, per_host_k=8, max_waves=2)
    part.run()
    resumed = WaveEngine(spark, web_dir, w_part, per_host_k=8, max_waves=30)
    resumed.run(resume=True)

    assert resumed.seen_urls() == full.seen_urls()
    assert resumed.crawl_order() == full.crawl_order()


def test_ban_page_cools_host_down(spark, tiny_web, tmp_path):
    """A section page that serves the ban marker: the engine and the
    simulator agree on order, seen set and statuses, the page yields no
    text, and its host claims nothing in the wave after each ban."""
    src, _ = tiny_web
    web_dir = str(tmp_path / "web")
    shutil.copytree(src, web_dir)
    pages_p = os.path.join(web_dir, "pages.parquet")
    pages = pq.read_table(pages_p)
    urls = pages.column("url").to_pylist()
    banned = next(u for u in sorted(urls)
                  if U.classify(u)[0] == "section" and "?" not in u)
    ban_html = ("<html>" + X.BLOCK_MARKER + "</html>").encode("utf-8")
    html = [ban_html if u == banned else h
            for u, h in zip(urls, pages.column("html").to_pylist())]
    i = pages.schema.get_field_index("html")
    pq.write_table(pages.set_column(i, pages.schema.field(i),
                                    pa.array(html, pa.binary())), pages_p)

    eng = WaveEngine(spark, web_dir, str(tmp_path / "work"), per_host_k=8,
                     max_waves=30)
    eng.run()
    sim = _simulator_for(web_dir, per_host_k=8, max_waves=30)
    order = eng.crawl_order()
    assert order == sim.crawl_order()
    assert eng.seen_urls() == sim.seen_urls()
    got = {r.url: r.status
           for r in eng.frontier().select("url", "status").collect()}
    assert got == sim.statuses()
    assert got[banned] == U.STATUS_ERROR
    texts = [r.text for r in
             eng.extracted().filter(F.col("url") == banned).collect()]
    assert texts and all(t is None for t in texts)
    host = U.split_url(banned)[0]
    ban_waves = [w for w, u in order if u == banned]
    for w in ban_waves:
        assert not [u for w2, u in order
                    if w2 == w + 1 and U.split_url(u)[0] == host]
    # the host was cooled down, not drained: it claims again afterwards
    assert any(w > ban_waves[0] + 1 and U.split_url(u)[0] == host
               for w, u in order)


def test_fetch_misses_match_simulator(spark, tmp_path):
    """A web with section pages missing from ``pages``: each fetch miss is
    an error row, re-claimed until its crawler_count reaches MAX_ATTEMPTS,
    and the engine equals the simulator on order, seen set and statuses."""
    web_dir = str(tmp_path / "web")
    webgen.generate(web_dir, n_hosts=2, companies_per_host=2, seed=9,
                    p_missing_section=0.3)
    eng = WaveEngine(spark, web_dir, str(tmp_path / "work"), per_host_k=8,
                     max_waves=64)
    stats = eng.run()
    sim = _simulator_for(web_dir, per_host_k=8, max_waves=64)
    order = eng.crawl_order()
    assert order == sim.crawl_order()
    assert eng.seen_urls() == sim.seen_urls()
    rows = {r.url: r for r in
            eng.frontier().select("url", "status", "crawler_count").collect()}
    assert {u: r.status for u, r in rows.items()} == sim.statuses()

    on_web = set(webgen.load_fetch(web_dir))
    missed = sorted(u for u, r in rows.items() if u not in on_web
                    and r.status == U.STATUS_ERROR
                    and r.crawler_count == U.MAX_ATTEMPTS)
    assert missed
    texts = {}
    for r in (eng.extracted().filter(F.col("url").isin(missed))
              .select("url", "text").collect()):
        texts.setdefault(r.url, []).append(r.text)
    for u in missed:
        assert sum(1 for _, v in order if v == u) == U.MAX_ATTEMPTS
        assert texts[u] == [None] * U.MAX_ATTEMPTS
    assert stats[-1]["pending_after"] == 0


def test_add_seeds_joins_frontier(spark, tiny_web, tmp_path):
    """Seeds added to a running crawl: the URLs the frontier lacks enter as
    one pending delta at the current wave, and the waves after it crawl
    each late seed once without adding it again."""
    web_dir, _ = tiny_web
    seeds = spark.read.parquet(web_dir + "/seeds.parquet")
    eng = WaveEngine(spark, web_dir, str(tmp_path), per_host_k=8,
                     max_waves=1)
    eng.add_seeds(seeds.filter("seed_id % 2 = 0"))
    eng.drain()
    assert eng.last_wave() == 1
    eng.add_seeds(seeds)  # half of these are in the frontier already
    late = [r.seed_url for r in seeds.filter("seed_id % 2 = 1").collect()]
    snap = eng.frontier_t.current_snapshot()
    assert snap["meta"]["wave"] == 1
    assert eng.frontier_t.dir_rows(snap["dirs"][-1]) == len(late)
    rows = {r.url: (r.status, r.depth) for r in eng.frontier().collect()}
    assert all(rows[u] == (0, 0) for u in late)
    eng.max_waves = 3
    eng.drain()
    n_rows = dict(eng.frontier().filter(F.col("url").isin(late))
                  .groupBy("url").count().collect())
    assert n_rows == {u: 1 for u in late}
    order = [u for _, u in eng.crawl_order()]
    assert all(order.count(u) == 1 for u in late)


def test_delta_frontier_compaction_equivalence(spark, tiny_web,
                                               tmp_path_factory):
    """The merge-on-read frontier (VERDICT r02 ask #6): per-wave commits
    are O(wave) deltas; aggressive compaction (every 2 waves) and lazy
    compaction (never within the run) yield byte-identical crawl results,
    and each delta dir holds only that wave's touched rows, not the whole
    frontier."""
    import json
    import os

    import pyarrow.parquet as pq
    web_dir, _ = tiny_web
    w_a = str(tmp_path_factory.mktemp("compact2"))
    w_b = str(tmp_path_factory.mktemp("compact100"))
    a = WaveEngine(spark, web_dir, w_a, per_host_k=8, max_waves=30,
                   compact_every=2)
    a.run()
    b = WaveEngine(spark, web_dir, w_b, per_host_k=8, max_waves=30,
                   compact_every=10_000)
    b.run()
    assert a.seen_urls() == b.seen_urls()
    assert a.crawl_order() == b.crawl_order()
    sa = {r.url: r.status for r in a.frontier().select("url", "status").collect()}
    sb = {r.url: r.status for r in b.frontier().select("url", "status").collect()}
    assert sa == sb

    # O(wave) write cost: in the never-compacted run, every post-seed
    # snapshot adds one delta dir whose row count equals claimed + new for
    # that wave — never the full frontier
    with open(os.path.join(w_b, "frontier", "manifest.json")) as f:
        man = json.load(f)
    snaps = [s for s in man["snapshots"] if s["meta"].get("wave", 0) > 0]
    total = len(sb)
    assert snaps, "expected per-wave delta snapshots"
    for s in snaps:
        delta_dir = os.path.join(w_b, "frontier", s["dirs"][-1])
        n_rows = pq.read_table(delta_dir).num_rows
        assert n_rows < total, (n_rows, total)


def test_assembly_byte_identity(crawl, spark, tiny_web):
    """Company sink rows (JSON columns) equal the oracle's assembly."""
    eng, sim, _ = crawl
    web_dir, _ = tiny_web
    pages = spark.read.parquet(web_dir + "/pages.parquet")
    assembled = ASM.assemble_companies(eng.frontier(), pages)
    got = {r["company"]: r.asDict() for r in assembled.collect()}

    oracle_infos = sim.assemble_all()
    assert set(got) == set(oracle_infos)
    assert len(got) > 0
    ts_tbl = pq.read_table(web_dir + "/pages.parquet",
                           columns=["url", "warc_ts"])
    ts_map = dict(zip(ts_tbl.column("url").to_pylist(),
                      ts_tbl.column("warc_ts").to_pylist()))
    from datetime import timedelta, timezone
    cst = timezone(timedelta(hours=8))
    for company, info in oracle_infos.items():
        create_time = ts_map[company].astimezone(cst).strftime("%Y-%m-%d")
        host = company.split("://")[1].split("/")[0]
        recs = SK.build_sink_records(info, host, create_time)
        row = got[company]
        assert row["create_time"] == create_time
        assert row["bus_base"] == recs["business"]["base"]
        assert row["bus_mortgages"] == recs["business"]["mortgages"]
        assert row["ent_investors"] == recs["enterprise"]["investors"]
        assert row["md5"] == recs["business"]["md5"]
        assert len(row["reports"]) == len(recs["reports"])
        for got_rep, want_rep in zip(
                sorted(row["reports"], key=lambda r: r["year"] or ""),
                sorted(recs["reports"], key=lambda r: r["year"] or "")):
            assert got_rep["general"] == want_rep["general"]
            assert got_rep["invents"] == "null"  # faithful sink quirk


def test_run_crawl_cli_assemble(crawl, spark, tiny_web):
    """spark-submit entry point: resume no-op + sink tables + status 5."""
    import run_crawl
    from new_ent_crawler_spark.sources.snapshot import SnapshotTable
    eng, sim, _ = crawl
    web_dir, _ = tiny_web
    run_crawl.main(["--data", web_dir, "--work", eng.work_dir,
                    "--per-host-k", "8", "--assemble"])
    bus = SnapshotTable(eng.work_dir + "/business_info").read(spark)
    assert bus.count() == len(sim.assemble_all())
    assert set(bus.columns) >= {"province", "create_time", "name", "md5",
                                "type", "regno", "base", "mortgages"}
    rep = SnapshotTable(eng.work_dir + "/report_info").read(spark)
    assert "invents" in rep.columns
    sim.finalize_exact_matches()
    got = {r.url: r.status
           for r in eng.frontier().select("url", "status").collect()}
    assert got == sim.statuses()


@pytest.fixture(scope="module")
def revisit_web(tiny_web, tmp_path_factory):
    """tiny_web plus one seed at a page the crawl reaches in its last wave,
    so that wave re-discovers a URL the frontier already holds (the links
    of tiny_web alone never point back into the frontier)."""
    web_dir = str(tmp_path_factory.mktemp("revisit") / "web")
    shutil.copytree(tiny_web[0], web_dir)
    order = _simulator_for(web_dir, per_host_k=8, max_waves=30).crawl_order()
    url = min(u for w, u in order if w == order[-1][0])
    seeds_p = os.path.join(web_dir, "seeds.parquet")
    seeds = pq.read_table(seeds_p)
    extra = dict(seeds.slice(0, 1).to_pylist()[0], seed_url=url,
                 host=U.split_url(url)[0],
                 seed_id=max(seeds.column("seed_id").to_pylist()) + 1)
    pq.write_table(pa.concat_tables(
        [seeds, pa.Table.from_pylist([extra], schema=seeds.schema)]), seeds_p)
    return web_dir


class TestSeenJoinArms:
    """The engine-vs-Simulator checks on a crawl that re-discovers a URL it
    holds, on both arms of the seen-set anti-join: the broadcast a small
    frontier gets, and the shuffled join past ``SEEN_BROADCAST_BELOW``."""

    @pytest.fixture(scope="class", params=["broadcast", "shuffled"])
    def crawl(self, request, spark, revisit_web, tmp_path_factory):
        plans = []
        filter_new_urls = W.DD.filter_new_urls

        def spy(*args, **kw):
            df = filter_new_urls(*args, **kw)
            plans.append(df._jdf.queryExecution().executedPlan().toString())
            return df

        key = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(key)
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(W.DD, "filter_new_urls", spy)
            if request.param == "shuffled":
                mp.setattr(W, "SEEN_BROADCAST_BELOW", 0)
                # else Spark broadcasts the small test frontier by size
                spark.conf.set(key, "-1")
            try:
                out = _crawl(spark, revisit_web, tmp_path_factory)
            finally:
                spark.conf.set(key, old)
        join = {"broadcast": "BroadcastHashJoin",
                "shuffled": "SortMergeJoin"}[request.param]
        assert plans and all(
            re.search(join + r" \[url#\d+], \[url#\d+], LeftAnti", p)
            for p in plans)
        assert out[1].dedup_hits > 0
        return out

    test_crawl_terminates = staticmethod(test_crawl_terminates)
    test_seen_set_equality = staticmethod(test_seen_set_equality)
    test_crawl_order_equality = staticmethod(test_crawl_order_equality)
    test_statuses_equal = staticmethod(test_statuses_equal)
    test_byte_identical_extracted_text = staticmethod(
        test_byte_identical_extracted_text)
    test_lineage_counts = staticmethod(test_lineage_counts)
    test_pending_after_exact = staticmethod(test_pending_after_exact)
