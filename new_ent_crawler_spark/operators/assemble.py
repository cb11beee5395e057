"""Company assembly: group crawled pages by company and build InfoV2 sinks.

The reference assembles one company per worker thread from ~20 live HTTP
responses (parser/DetaiParser.py:26-211); here the whole crawl has already
landed in the ``pages``/``frontier`` tables, so assembly is a shuffle on the
company key + ``applyInPandas``: each group holds every page of one company
(main + sections + pagination + children), the assembly function replays the
reference's traversal against an in-group dict, and byte-identity of the
JSON sink columns is preserved because serialization happens inside the same
Python code path as the oracle (SURVEY.md §7.2).

Output feeds four sink DataFrames mirroring the MySQL REPLACE targets
(utils/MysqlDBHelper.py:20-106): business_info, enterprise_info,
report_info (one row per company-year — an explode), main_url_record.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..oracle import extract as X
from ..oracle import sink as SK
from ..oracle import urlspec as U
from . import frontier as FR

_BUS_COLS = ["base", "investors", "changes", "members", "branchs",
             "licenses", "mortgages", "pledges", "punishs", "abnormals",
             "spot_checks"]
_ENT_COLS = ["investors", "changes", "stock_changes", "licenses", "intells",
             "punishs"]
_REP_COLS = ["year", "date", "from", "general", "operation", "websites",
             "licenses", "branchs", "invents", "guarantees", "investors",
             "stockchanges", "changes"]

ASSEMBLED_SCHEMA = T.StructType(
    [T.StructField("company", T.StringType(), False),
     T.StructField("province", T.StringType(), True),
     T.StructField("create_time", T.StringType(), True),
     T.StructField("name", T.StringType(), True),
     T.StructField("md5", T.StringType(), True),
     T.StructField("type", T.StringType(), True),
     T.StructField("regno", T.StringType(), True),
     T.StructField("main_url", T.StringType(), True),
     T.StructField("keyword", T.StringType(), True),
     T.StructField("seed_id", T.LongType(), True),
     T.StructField("exact_match", T.BooleanType(), True)]
    + [T.StructField("bus_" + c, T.StringType(), True) for c in _BUS_COLS]
    + [T.StructField("ent_" + c, T.StringType(), True) for c in _ENT_COLS]
    + [T.StructField("reports", T.ArrayType(T.StructType(
        [T.StructField(c, T.StringType(), True) for c in _REP_COLS])), True)]
)


def _assemble_group(pdf: pd.DataFrame) -> pd.DataFrame:
    company = pdf["company"].iloc[0]
    host, path, q = U.split_url(company)
    main_rel = path + ("?" + q if q else "")
    group_pages = {u: bytes(h).decode("utf-8")
                   for u, h in zip(pdf["url"], pdf["html"]) if h is not None}

    def fetch(u):
        return group_pages.get(U.canonicalize(u, host))

    info = X.assemble_company(main_rel, fetch)
    if info is None:
        return pd.DataFrame(columns=[f.name for f in ASSEMBLED_SCHEMA.fields])

    # deterministic create_time: the main page's warc_ts date (replaces the
    # reference's wall clock, utils/MysqlDBHelper.py:28).  Arrow delivers
    # timestamps tz-naive in the session zone (Asia/Shanghai), so the wall
    # clock is already CST.
    main_ts = pdf.loc[pdf["url"] == company, "warc_ts"]
    create_time = (pd.Timestamp(main_ts.iloc[0]).strftime("%Y-%m-%d")
                   if len(main_ts) else None)
    province = pdf["host"].iloc[0]
    recs = SK.build_sink_records(info, province, create_time)

    keyword = pdf["keyword"].iloc[0]
    seed_id = pdf["seed_id"].iloc[0]
    bus, ent = recs["business"], recs["enterprise"]
    row = {
        "company": company,
        "province": province,
        "create_time": create_time,
        "name": bus["name"],
        "md5": bus["md5"],
        "type": bus["type"],
        "regno": bus["regno"],
        "main_url": recs["main_url"]["main_url"],
        "keyword": keyword,
        "seed_id": seed_id,
        # exact-name match -> success=5 (worker/worker.py:237-242)
        "exact_match": bus["name"] == keyword,
    }
    for c in _BUS_COLS:
        row["bus_" + c] = bus[c]
    for c in _ENT_COLS:
        row["ent_" + c] = ent[c]
    row["reports"] = [{c: r.get(c) for c in _REP_COLS} for r in recs["reports"]]
    return pd.DataFrame([row])


def assemble_companies(frontier: DataFrame, pages: DataFrame) -> DataFrame:
    """Shuffle crawled pages by company key, replay assembly per group."""
    crawled = (frontier
               .filter(F.col("company").isNotNull()
                       & (F.col("status") == FR.STATUS_FOUND))
               .select("url", "host", "company", "keyword", "seed_id"))
    with_html = crawled.join(pages.select("url", "html", "warc_ts"), "url",
                             "inner")
    return (with_html
            .groupBy("company")
            .applyInPandas(_assemble_group, schema=ASSEMBLED_SCHEMA))


def business_info(assembled: DataFrame) -> DataFrame:
    return assembled.select(
        "province", "create_time", "name", "md5", "type", "regno",
        *[F.col("bus_" + c).alias(c) for c in _BUS_COLS])


def enterprise_info(assembled: DataFrame) -> DataFrame:
    return assembled.select(
        "province", "create_time", "md5",
        *[F.col("ent_" + c).alias(c) for c in _ENT_COLS])


def report_info(assembled: DataFrame) -> DataFrame:
    """One row per (company, year) — the reference's unnest
    (utils/MysqlDBHelper.py:66-91)."""
    rep = assembled.select(
        "province", "create_time", "md5", F.explode("reports").alias("r"))
    return rep.select("province", "create_time", "md5",
                      *[F.col("r." + c).alias(c) for c in _REP_COLS])


def main_url_record(assembled: DataFrame) -> DataFrame:
    return assembled.select(
        "md5", F.col("name").alias("company_name"), "main_url", "province",
        "create_time")


def exact_match_updates(assembled: DataFrame, frontier: DataFrame) -> DataFrame:
    """Full frontier rows upgrading seed listings to status 5 where the
    first result's name equals the keyword (worker/worker.py:237-242): one
    more attempt on ``crawler_count``, like any status update, ready to
    commit as a frontier delta."""
    matches = (assembled.filter(F.col("exact_match"))
               .select("seed_id").distinct())
    return (frontier
            .filter(F.col("depth") == 0)
            .join(matches, "seed_id", "inner")
            .withColumn("status", F.lit(FR.STATUS_EXACT))
            .withColumn("crawler_count",
                        (F.col("crawler_count") + 1).cast("int"))
            .select(*FR.FRONTIER_COLS))
