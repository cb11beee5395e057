"""Text-analysis column functions for the ``documents`` table.

All JVM-side ``pyspark.sql.functions`` expressions (whole-stage codegen; no
Python in the hot path): language-ID heuristic, quality scoring, token
counting, and document fingerprinting.  Each has an exact ANSI-SQL oracle in
``__spark_entry__.oracle_sql`` (DuckDB), which is why the building blocks
are limited to portable primitives (regexp, length, md5, ascii)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def token_count(col) -> Column:
    """Whitespace-delimited token count (0 for empty/blank)."""
    c = F.trim(F.col(col) if isinstance(col, str) else col)
    return F.when(F.length(c) == 0, F.lit(0)).otherwise(
        F.size(F.split(c, r"\s+"))).cast("long")


def punct_ratio(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    punct = n - F.length(F.regexp_replace(c, r"[.,;:!?'\"()\[\]{}]", ""))
    return F.when(n > 0, punct.cast("double") / n.cast("double")) \
        .otherwise(F.lit(0.0))


def digit_ratio(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    digit = n - F.length(F.regexp_replace(c, r"[0-9]", ""))
    return F.when(n > 0, digit.cast("double") / n.cast("double")) \
        .otherwise(F.lit(0.0))


def quality_score(col) -> Column:
    """Composite [0,1] quality heuristic: long-enough docs with moderate
    punctuation/digit density score high (Gopher-rule style)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = token_count(c).cast("double")
    len_score = F.least(toks / F.lit(64.0), F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(c) * 4)
    digit_pen = F.greatest(F.lit(0.0), F.lit(1.0) - digit_ratio(c) * 4)
    return F.round(len_score * punct_pen * digit_pen, 6)


def lang_id(col) -> Column:
    """Tiny heuristic language ID over {zh, en, unknown}: CJK char presence
    beats ASCII stopword density."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    cjk = n - F.length(F.regexp_replace(c, r"[一-龥]", ""))
    en_stop = F.size(F.regexp_extract_all(
        F.lower(c), F.lit(r"\b(the|and|of|to|is|in)\b"), 0))
    return (F.when(n == 0, F.lit("unknown"))
            .when(cjk.cast("double") / n.cast("double") > 0.05, F.lit("zh"))
            .when(en_stop >= 2, F.lit("en"))
            .otherwise(F.lit("unknown")))


def fingerprint(col) -> Column:
    """Deterministic 64-bit-ish content fingerprint: md5 of the
    whitespace-normalized lowercase text, first 16 hex chars."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))
    return F.substring(F.md5(normalized), 1, 16)


def dup_line_fraction(col) -> Column:
    """Gopher-style repetition signal: fraction of non-blank lines that are
    duplicates of an earlier line, ``1 - distinct/total`` (0.0 for docs with
    no non-blank lines).  Pure array expressions — split, filter, distinct —
    so it stays inside whole-stage codegen; no shuffle, no Python."""
    c = F.col(col) if isinstance(col, str) else col
    lines = F.filter(F.split(c, r"\n"),
                     lambda x: F.length(F.trim(x)) > 0)
    total = F.size(lines).cast("double")
    distinct = F.size(F.array_distinct(lines)).cast("double")
    return F.when(total > 0, F.round(F.lit(1.0) - distinct / total, 6)) \
        .otherwise(F.lit(0.0))


def token_repetition_fraction(col) -> Column:
    """Fraction of whitespace tokens that repeat an earlier token,
    ``1 - distinct/total`` (0.0 for blank docs).  The token-level sibling
    of :func:`dup_line_fraction`; high values flag keyword-stuffed or
    boilerplate documents in a training-data filter chain."""
    c = F.trim(F.col(col) if isinstance(col, str) else col)
    toks = F.when(F.length(c) == 0,
                  F.array().cast("array<string>")) \
        .otherwise(F.split(c, r"\s+"))
    total = F.size(toks).cast("double")
    distinct = F.size(F.array_distinct(toks)).cast("double")
    return F.when(total > 0, F.round(F.lit(1.0) - distinct / total, 6)) \
        .otherwise(F.lit(0.0))


def contamination_hits(docs, probes: list[str], text_col: str = "text"):
    """Benchmark-contamination probe: for each probe string, count the
    documents whose text contains it verbatim — the check an LLM
    training pipeline runs against eval-set strings before training.

    Probes are by definition a SMALL set, so they ride into the scan as
    an array literal: each document is scanned ONCE, JVM-side
    (``F.filter`` over the probe array with ``contains`` — no Python in
    the hot path, no cross join, no shuffle before the tiny per-probe
    count aggregate)."""
    arr = F.array(*[F.lit(p) for p in probes])
    hit = docs.select(
        F.explode(F.filter(
            arr, lambda p: F.col(text_col).contains(p))).alias("probe"))
    return hit.groupBy("probe").agg(
        F.count(F.lit(1)).alias("n_docs_hit"))
