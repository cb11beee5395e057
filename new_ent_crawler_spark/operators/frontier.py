"""Frontier table: schema, seeding, and the per-host top-K dequeue operator.

The frontier replaces the reference's MySQL ``keyword_info`` poll + Redis
FIFO (utils/MysqlDBHelper.py:122-128, utils/RedisDBHelper.py:36-49).  Its
``LIMIT 100`` batch becomes a *per-host* windowed top-K so one hot registry
domain cannot monopolize a wave, and FIFO-within-priority becomes an explicit
deterministic total order (SURVEY.md §2.5/§2.6):

    ORDER BY priority DESC, depth ASC, page_type_score DESC,
             enqueue_wave ASC, url ASC

Skew handling is explicit (north_rule): the ranking runs in two phases —
a partial top-K per (host, salt) bucket where salt = xxhash64(url) % S,
then the final per-host top-K over the survivors — so a host owning 90% of
pending URLs fans across S shuffle buckets instead of one straggler task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..oracle import urlspec as U
from ..oracle.urlspec import (MAX_ATTEMPTS, STATUS_ERROR,  # noqa: F401
                              STATUS_EXACT, STATUS_FOUND, STATUS_IN_FLIGHT,
                              STATUS_NOT_FOUND, STATUS_PENDING)

FRONTIER_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("host", T.StringType(), True),
    T.StructField("company", T.StringType(), True),
    T.StructField("seed_id", T.LongType(), True),
    T.StructField("keyword", T.StringType(), True),
    T.StructField("depth", T.IntegerType(), True),
    T.StructField("page_type_score", T.IntegerType(), True),
    T.StructField("priority", T.IntegerType(), True),
    T.StructField("status", T.IntegerType(), True),
    T.StructField("crawler_count", T.IntegerType(), True),
    T.StructField("enqueue_wave", T.LongType(), True),
])

FRONTIER_COLS = [f.name for f in FRONTIER_SCHEMA.fields]


def with_url_key(df: DataFrame, salt_buckets: int) -> DataFrame:
    """xxhash64 url key + host-salted bucket (north_rule partitioning)."""
    return (df
            .withColumn("url_key", F.xxhash64("url"))
            .withColumn("salt", F.pmod(F.col("url_key"),
                                       F.lit(salt_buckets)).cast("int")))


def init_frontier(seeds: DataFrame) -> DataFrame:
    """Seed rows -> pending listing-page frontier entries.

    Mirrors dispatcher seeding (dispatcher/dispatcher.py:18-55): two priority
    lanes, FIFO by seed_id (Redis rpush order) encoded as enqueue_wave=0 plus
    the deterministic url tiebreak.
    """
    return seeds.select(
        F.col("seed_url").alias("url"),
        F.col("host"),
        F.lit(None).cast("string").alias("company"),
        F.col("seed_id").cast("long"),
        F.col("keyword"),
        F.lit(0).alias("depth"),
        F.lit(U.SCORE_LISTING).alias("page_type_score"),
        F.col("priority").cast("int"),
        F.lit(STATUS_PENDING).alias("status"),
        F.lit(0).alias("crawler_count"),
        F.lit(0).cast("long").alias("enqueue_wave"),
    )


def init_frontier_pa(seeds):
    """pyarrow twin of ``init_frontier`` for footer-small seed lists: the
    seeding projection is a handful of constants, so running it as a Spark
    job prices one scheduler round into every crawl start — pure per-run
    fixed cost on the N->4N scaling legs.  Semantics are pinned to
    ``init_frontier`` by tests/test_wave_engine.py's fast/Spark seeding
    equality check; at unbounded seed scale the wave engine falls back to
    the Spark path."""
    import pyarrow as pa

    n = seeds.num_rows

    def const(v, t):
        return pa.array([v] * n, type=t)

    return pa.table({
        "url": seeds.column("seed_url").cast(pa.string()),
        "host": seeds.column("host").cast(pa.string()),
        "company": const(None, pa.string()),
        "seed_id": seeds.column("seed_id").cast(pa.int64()),
        "keyword": seeds.column("keyword").cast(pa.string()),
        "depth": const(0, pa.int32()),
        "page_type_score": const(U.SCORE_LISTING, pa.int32()),
        "priority": seeds.column("priority").cast(pa.int32()),
        "status": const(STATUS_PENDING, pa.int32()),
        "crawler_count": const(0, pa.int32()),
        "enqueue_wave": const(0, pa.int64()),
    })


def _order_cols():
    return [F.col("priority").desc(), F.col("depth").asc(),
            F.col("page_type_score").desc(), F.col("enqueue_wave").asc(),
            F.col("url").asc()]


def eligibility_predicate():
    """The single definition of "this row can still be claimed".  Used by
    ``dequeue`` and by the wave engine's pending counts before and after a
    wave, so they cannot disagree: a null-host row counted as pending but
    never claimable would spin refill-only waves until max_waves."""
    return ((F.col("status") < STATUS_IN_FLIGHT)
            & (F.col("crawler_count") < MAX_ATTEMPTS)
            & F.col("host").isNotNull())


def dequeue(frontier: DataFrame, budgets: DataFrame,
            salt_buckets: int = 8) -> DataFrame:
    """Claim this wave's work-list: per-host top-K_host by the priority
    total order, where K_host comes from the politeness token bucket.

    Two-phase windowed top-K (salted partial rank, then exact per-host rank)
    keeps the shuffle balanced under registry-domain skew.
    ``budgets``: (host, grant int) — small, broadcast.
    """
    eligible = (frontier
                .filter(eligibility_predicate())
                .join(F.broadcast(budgets), "host", "inner")
                .filter(F.col("grant") > 0))
    salted = with_url_key(eligible, salt_buckets)

    # phase 1: partial top-K inside each (host, salt) bucket — no single
    # task ever sees more than one bucket of the hot host
    w1 = Window.partitionBy("host", "salt").orderBy(*_order_cols())
    partial = (salted
               .withColumn("rk1", F.row_number().over(w1))
               .filter(F.col("rk1") <= F.col("grant"))
               .drop("rk1"))

    # phase 2: exact per-host top-K over at most S*K survivors
    w2 = Window.partitionBy("host").orderBy(*_order_cols())
    return (partial
            .withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= F.col("grant"))
            .drop("salt", "url_key", "grant"))
