"""Fetch+parse stage: the engine's single Arrow UDF family.

Per ``BASELINE.json.input_hint`` everything runs as vectorized pandas/Arrow
UDFs — no per-row Python UDFs in the plan.  One ``mapInPandas`` stage owns
all byte-level extraction (SURVEY.md §2.10): it consumes Arrow batches of
(claimed frontier row ⋈ pages.html) and emits per-URL

``status``, ``blocked``, ``text`` and ``links`` — the page rule of
``oracle.urlspec.analyze``, whose text bytes are judged against the golden
``pages.text`` column.

The "fetch" itself is the join against the ``pages`` table upstream of this
stage (the table *is* the web, SURVEY.md §2.1); a NULL html means the fetch
failed.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..oracle import urlspec as U
from . import frontier as FR

PARSED_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("host", T.StringType(), True),
    T.StructField("company", T.StringType(), True),
    T.StructField("seed_id", T.LongType(), True),
    T.StructField("keyword", T.StringType(), True),
    T.StructField("depth", T.IntegerType(), True),
    T.StructField("priority", T.IntegerType(), True),
    T.StructField("page_type_score", T.IntegerType(), True),
    T.StructField("enqueue_wave", T.LongType(), True),
    # pass-through: carrying the attempt counter through the parse lets the
    # wave's frontier delta be SELECTed straight off the parse output, with
    # no claimed⋈parsed shuffle join to reunite status with crawler_count
    T.StructField("crawler_count", T.IntegerType(), True),
    T.StructField("status", T.IntegerType(), True),
    T.StructField("blocked", T.BooleanType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("links", T.ArrayType(T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("score", T.IntegerType(), False),
        T.StructField("company", T.StringType(), True),
    ])), True),
])


def tune_arrow_batch(spark, parquet_path: str, col: str = "html",
                     target_mb: int = 16, lo: int = 64, hi: int = 4096,
                     max_files: int = 8) -> int:
    """Size Arrow batches by BYTES, not rows, for the parse UDF family.

    ``spark.sql.execution.arrow.maxRecordsPerBatch`` is a row count, but
    what the pipeline actually pays for is bytes per batch: each batch is
    built JVM-side, pushed through the local socket, and materialized as
    pandas objects.  At ~144 KB/page 1024 rows is a 150 MB slab per
    concurrent worker, slower than ~16 MB batches (BENCH/BASELINE.md §1).
    Spark 4 only honors a bytes cap for transformWithState, so the row cap
    comes from the mean UNCOMPRESSED ``col`` bytes per row recorded in the
    parquet footers (a driver-side read, no Spark job) and is set to
    approximate ``target_mb``.  Raises ValueError when the footers give no
    ``col`` size.
    """
    from ..parquet_meta import mean_column_bytes
    avg = mean_column_bytes(parquet_path, col, max_files=max_files)
    if avg is None:
        raise ValueError(f"no {col!r} column size in the parquet footers "
                         f"of {parquet_path}")
    rows = int(max(lo, min(hi, (target_mb * 2**20) // max(int(avg), 1))))
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(rows))
    return rows


def parse_pages(fetched: DataFrame) -> DataFrame:
    """mapInPandas fetch+parse over (frontier row ⋈ html)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [U.analyze(url, host, company,
                              None if html is None
                              else bytes(html).decode("utf-8"))
                    for url, host, company, html in zip(
                        pdf["url"], pdf["host"], pdf["company"], pdf["html"])]
            out = pdf[["url", "host", "company", "seed_id", "keyword",
                       "depth", "priority", "page_type_score",
                       "enqueue_wave", "crawler_count"]].copy()
            out["status"] = pd.Series([r[0] for r in rows], dtype="int32")
            out["blocked"] = pd.Series([r[1] for r in rows], dtype="bool")
            out["text"] = [r[2] for r in rows]
            out["links"] = [r[3] for r in rows]
            yield out

    return fetched.mapInPandas(run, schema=PARSED_SCHEMA)


def explode_links(parsed: DataFrame, wave_id: int) -> DataFrame:
    """Explode out-links into candidate frontier rows, PRE-dedup.

    Inherits priority/seed/keyword from the parent, depth+1, and derives the
    host from the canonical URL — all JVM-side expressions.  Callers that
    can cut rows cheaply (e.g. the robots broadcast filter) should do so
    between this and :func:`dedup_candidates`, so the dedup shuffle moves
    fewer bytes.
    """
    link = F.explode("links").alias("link")
    return (parsed
            .select("seed_id", "keyword", "priority", "depth", link)
            .select(
                F.col("link.url").alias("url"),
                F.regexp_extract("link.url", r"^https?://([^/]*)", 1).alias("host"),
                F.col("link.company").alias("company"),
                "seed_id", "keyword",
                (F.col("depth") + 1).cast("int").alias("depth"),
                F.col("link.score").alias("page_type_score"),
                "priority",
                F.lit(FR.STATUS_PENDING).alias("status"),
                F.lit(0).alias("crawler_count"),
                F.lit(wave_id).cast("long").alias("enqueue_wave"),
            ))


def dedup_candidates(cand: DataFrame) -> DataFrame:
    """One row per discovered URL: the highest-priority / shallowest /
    best-scored / lowest-seed claim, with every remaining column as a
    deterministic tiebreaker.

    ``groupBy(url).agg(max(struct(...)))`` rather than a row_number window:
    a hash aggregate gets map-side partial aggregation — each task collapses
    its local duplicates BEFORE the exchange, so the shuffle carries one row
    per (task, url) instead of every (parent, url) claim — and it never
    sorts.  On a heavily cross-linked web graph that is the difference
    between shuffling O(edges) and roughly O(vertices); a window must
    shuffle and sort every claim.  Equivalence with the window form is
    pinned by tests/test_operators.py::test_dedup_candidates_matches_window.
    """
    desc_keys = F.struct(
        F.col("priority"),                              # priority DESC
        (-F.col("depth")).alias("nd"),                  # depth ASC
        F.col("page_type_score"),                       # score DESC
        (-F.col("seed_id")).alias("ns"),                # seed_id ASC
        # payload (and any residual ties broken deterministically)
        F.col("host"), F.col("company"), F.col("keyword"),
        F.col("depth"), F.col("seed_id"), F.col("status"),
        F.col("crawler_count"), F.col("enqueue_wave"))
    best = cand.groupBy("url").agg(F.max(desc_keys).alias("b"))
    return best.select(
        "url", "b.host", "b.company", "b.seed_id", "b.keyword", "b.depth",
        "b.page_type_score", "b.priority", "b.status", "b.crawler_count",
        "b.enqueue_wave")

