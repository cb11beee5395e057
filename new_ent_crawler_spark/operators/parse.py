"""Fetch+parse stage: the engine's single Arrow UDF family.

Per ``BASELINE.json.input_hint`` everything runs as vectorized pandas/Arrow
UDFs — no per-row Python UDFs in the plan.  One ``mapInPandas`` stage owns
all byte-level extraction (SURVEY.md §2.10): it consumes Arrow batches of
(claimed frontier row ⋈ pages.html) and emits per-URL

* ``status``  — listing found/not_found/error codes (worker/worker.py:206)
  or done/error for detail pages,
* ``text``    — the extracted text whose bytes are judged against the golden
  ``pages.text`` column (oracle ``extract_url_text``),
* ``links``   — discovered out-links with page-type scores and the company
  key propagated down the crawl tree (oracle ``discover_links``).

The "fetch" itself is the join against the ``pages`` table upstream of this
stage (the table *is* the web, SURVEY.md §2.1); a NULL html means the fetch
failed -> status error, no links.
"""

from __future__ import annotations

import os
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
    # wave's frontier delta be SELECTed straight off the parse output —
    # without it the engine needed a claimed⋈parsed shuffle join per wave
    # just to reunite status with crawler_count (measured ~1 s/wave of the
    # non-scaling per-wave fixed cost at 16 threads)
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


def tune_arrow_batch(spark, pages: DataFrame, col: str = "html",
                     target_mb: int = 16, lo: int = 64, hi: int = 4096,
                     sample_rows: int = 512) -> int:
    """Size Arrow batches by BYTES, not rows, for the parse UDF family.

    ``spark.sql.execution.arrow.maxRecordsPerBatch`` is a row count, but
    what the pipeline actually pays for is bytes per batch: each batch is
    built JVM-side, pushed through the local socket, and materialized as
    pandas objects.  At ~24 KB/page 1024 rows ≈ 25 MB and scales linearly;
    at Common-Crawl-realistic ~144 KB/page the same 1024 rows is a 150 MB
    slab per concurrent worker — measured 20% slower at BOTH 4 and 16
    threads than ~16 MB batches on the same corpus (BENCH/BASELINE.md §1).
    Spark 4 only honors a bytes cap for transformWithState, so this samples
    the head of the pages table (one split, ``LIMIT sample_rows``) and sets
    the row cap to approximate ``target_mb``.  Heterogeneous page sizes at
    100 TB make a static row count wrong in both directions; re-tuning per
    table keeps batch memory bounded.
    """
    avg = (pages.select(F.length(col).alias("n")).limit(sample_rows)
           .agg(F.avg("n")).first()[0]) or 1.0
    rows = int(max(lo, min(hi, (target_mb * 2**20) // max(int(avg), 1))))
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(rows))
    return rows


def tune_arrow_batch_from_footer(spark, parquet_path: str,
                                 col: str = "html", target_mb: int = 16,
                                 lo: int = 64, hi: int = 4096,
                                 max_files: int = 8) -> int | None:
    """Footer-metadata variant of ``tune_arrow_batch``: parquet column
    chunks record the UNCOMPRESSED byte size of each column, so the mean
    page size — all the tuner needs — is already sitting in the footers.
    Reading a handful of them is a driver-side pyarrow call (~ms), where
    the sampling job is a full Spark job (session-warmup priced, ~1-2 s)
    paid once per crawl — pure per-run fixed cost, which is exactly what
    caps the N->4N scaling ratio.  Returns None when the path isn't
    footer-readable parquet (caller falls back to the sampling job).
    """
    from ..parquet_meta import mean_column_bytes
    avg = mean_column_bytes(parquet_path, col, max_files=max_files)
    if avg is None:
        return None
    rows = int(max(lo, min(hi, (target_mb * 2**20) // max(int(avg), 1))))
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                   str(rows))
    return rows


def _parse_one(url, host, company, html_bytes):
    """(status, text, links, blocked) for one fetched page."""
    if html_bytes is None:
        return FR.STATUS_ERROR, None, [], False
    content = bytes(html_bytes).decode("utf-8")
    kind, _ = U.classify(url)
    # block/ban detector (worker/worker.py:196) -> host cool-down instead of
    # the reference's ADSL redial
    from ..oracle import extract as X0
    if X0.BLOCK_MARKER in content or X0.INVALID_LINK_MARKER in content:
        return FR.STATUS_ERROR, None, [], True
    text = U.extract_url_text(url, content)

    status = FR.STATUS_FOUND
    if kind == "listing":
        from ..oracle import extract as X
        r = X.parse_listing(content)
        if r is None:
            status = FR.STATUS_ERROR
        elif r == "not_found":
            status = FR.STATUS_NOT_FOUND

    links = []
    for rel, score in U.discover_links(url, content):
        absolute = U.canonicalize(rel, host)
        # company key propagation: a listing's out-link IS the company main
        # page; everything below inherits the parent's company
        link_company = absolute if kind == "listing" else company
        links.append({"url": absolute, "score": score,
                      "company": link_company})
    return status, text, links, False


def parse_pages(fetched: DataFrame) -> DataFrame:
    """mapInPandas fetch+parse over (frontier row ⋈ html)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            statuses, texts, links_col, blocked_col = [], [], [], []
            for url, host, company, html in zip(
                    pdf["url"], pdf["host"], pdf["company"], pdf["html"]):
                s, t, l, blk = _parse_one(url, host, company, html)
                statuses.append(s)
                texts.append(t)
                links_col.append(l)
                blocked_col.append(blk)
            out = pdf[["url", "host", "company", "seed_id", "keyword",
                       "depth", "priority", "page_type_score",
                       "enqueue_wave", "crawler_count"]].copy()
            out["status"] = pd.Series(statuses, dtype="int32")
            out["blocked"] = pd.Series(blocked_col, dtype="bool")
            out["text"] = texts
            out["links"] = links_col
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

