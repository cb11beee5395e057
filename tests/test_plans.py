"""Physical-plan quality gates: the properties that matter at 100 TB must be
visible in `.explain` — filter pushdown to the parquet scan, column pruning,
broadcast joins for small sides, left_anti for the seen-set, two-phase
windowed top-K for the dequeue."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from new_ent_crawler_spark.operators import dedup as DD
from new_ent_crawler_spark.operators import frontier as FR

from .conftest import compiled_classes
from .test_queries import SF_DIR

SF = "/root/testdata/sf0.001"


def plan_of(df, extended=True) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted" if extended else "simple")
    return buf.getvalue()


def test_q1_pushdown_and_pruning(spark):
    df = entrymod.queries()["tpch_q1"](spark, SF)
    plan = plan_of(df)
    assert "PushedFilters" in plan and "l_shipdate" in plan
    # column pruning: untouched wide columns must not reach the scan
    assert "l_comment" not in plan and "l_partkey" not in plan


def test_broadcast_dim_join_is_broadcast(spark):
    df = entrymod.queries()["broadcast_dim_join"](spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_anti_join_in_seen_set(spark):
    seen = spark.range(100).select(
        F.concat(F.lit("u"), "id").alias("url"))
    cand = spark.range(50, 150).select(
        F.concat(F.lit("u"), "id").alias("url"))
    plan = plan_of(DD.filter_new_urls(cand, seen, None))
    assert "LeftAnti" in plan


def test_dequeue_two_phase_topk(spark):
    rows = [(f"http://h/p{i}", "h", None, 0, "k", 0, 0, 0, 0, 0, 0)
            for i in range(10)]
    frontier = spark.createDataFrame(rows, FR.FRONTIER_SCHEMA)
    grants = spark.createDataFrame([("h", 2)], "host string, grant int")
    plan = plan_of(FR.dequeue(frontier, grants, salt_buckets=4))
    assert plan.count("Window") >= 2  # salted partial + exact per-host


def test_topk_uses_take_ordered(spark):
    df = entrymod.queries()["sim_brute_topk"](spark, SF)
    plan = plan_of(df, extended=False)
    assert "TakeOrderedAndProject" in plan


def test_no_cartesian_anywhere(spark):
    for name, q in entrymod.queries().items():
        if name == "sim_brute_topk" or name == "ann_lsh_topk":
            continue  # single-row broadcast cross join is intentional there
        plan = plan_of(q(spark, SF), extended=False)
        assert "CartesianProduct" not in plan, name


def test_distributed_ntile_matches_global_window(spark):
    """operators/ranking.distributed_ntile == F.ntile over the same total
    order (exact remainder rule), while the physical plan range-partitions
    instead of funnelling through one task."""
    from pyspark.sql import Window

    from new_ent_crawler_spark.operators.ranking import distributed_ntile
    o = spark.read.parquet(SF + "/orders.parquet")
    for n in (4, 7):
        got = (distributed_ntile(o, n, ["o_totalprice", "o_orderkey"])
               .select("o_orderkey", "tile"))
        w = Window.orderBy("o_totalprice", "o_orderkey")
        want = o.select("o_orderkey", F.ntile(n).over(w).alias("tile"))
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0

    plan = plan_of(distributed_ntile(o, 4,
                                     ["o_totalprice", "o_orderkey"]), False)
    assert "rangepartitioning" in plan.lower()


def test_distributed_ntile_remainder_rule(spark):
    """total=10, n=4 -> bucket sizes 3,3,2,2 (SQL remainder rule)."""
    from new_ent_crawler_spark.operators.ranking import distributed_ntile
    df = spark.range(10).withColumnRenamed("id", "k")
    sizes = {r.tile: r.n for r in
             (distributed_ntile(df, 4, ["k"])
              .groupBy("tile").agg(F.count("*").alias("n")).collect())}
    assert sizes == {1: 3, 2: 3, 3: 2, 4: 2}


def test_small_shuffles_keep_session_parallelism(spark):
    """AQE coalescing must not serialize control-plane stages: with
    partitions explicitly sized by the session (2x cores), a sub-MB
    aggregate must keep its post-shuffle partition count instead of
    coalescing to 1 task (measured with coalescing on: 8 -> 1, i.e.
    every post-shuffle control stage single-threaded at any executor
    count — wrong by construction at 100 TB).  Skew-join splitting, the
    AQE feature the crawl path needs, stays enabled independently."""
    assert spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.enabled") == "false"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    agg = (spark.range(100_000)
           .select((F.col("id") % 997).alias("k"))
           .groupBy("k").count())
    agg.write.format("noop").mode("overwrite").save()
    assert agg.rdd.getNumPartitions() == int(
        spark.conf.get("spark.sql.shuffle.partitions"))


def test_minhash_signature_stage_has_no_exchange(spark):
    """The KM minhash signature is computed entirely in-row (three narrow
    array passes + one aggregate fold) — the plan must contain no
    Exchange and exactly ONE scan of documents; a per-(doc,shingle)
    explode/groupBy shape would show an exchange here."""
    from new_ent_crawler_spark.operators import dedup_text as DT
    docs = spark.read.parquet(SF + "/documents.parquet")
    df = DT.minhash_signatures(docs, k=8, num_hashes=6)
    plan = plan_of(df)
    assert "Exchange" not in plan
    assert plan_of(df, extended=False).count("FileScan") == 1
    # Catalyst inlines the shared aggregate into each h_i projection
    # (CollapseProject), and runtime subexpression elimination dedups the
    # copies: selecting all 6 columns measures the same as selecting 1
    # (verified 5.2 s vs 5.4 s at sf0.1).  The plan text showing six
    # aggregate(...) copies is cosmetic, not six evaluations.
    # same property for the xxhash64 engine family
    plan2 = plan_of(DT.minhash_signatures(docs, k=8, num_hashes=6,
                                          hash_family="xxhash64"))
    assert "Exchange" not in plan2


def test_jaccard_posting_exchange_uses_hashed_shingles(spark):
    """The posting-list exchange must shuffle 8-byte shingle hashes, not
    shingle strings: the partitioning key's type in the plan is the
    xxhash64 long (shingle#..L), and the string form appears in no
    exchange."""
    from new_ent_crawler_spark.operators import dedup_text as DT
    docs = spark.read.parquet(SF + "/documents.parquet")
    plan = plan_of(DT.ngram_jaccard_pairs(docs, k=8, threshold=0.5))
    import re
    parts = re.findall(r"hashpartitioning\(shingle#\d+(L?)", plan)
    assert parts and all(suffix == "L" for suffix in parts)


def test_headline_queries_compile_once(spark):
    """A repeated plan finds every generated class in Spark's codegen
    cache: a second run of the 21 headline queries compiles no class.  A
    cache smaller than the suite's ~200 classes recompiles all of them."""
    import bench
    bench._EMITTED = True  # importing bench registers an atexit line flush
    qs = entrymod.queries()

    def run() -> int:
        before = compiled_classes(spark)
        for name in bench.HEADLINE:
            qs[name](spark, SF_DIR).collect()
            spark.catalog.clearCache()
        return compiled_classes(spark) - before

    run()
    assert run() == 0
