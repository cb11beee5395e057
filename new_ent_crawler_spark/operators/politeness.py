"""Per-host politeness: token bucket + robots rules broadcast per executor.

The reference throttles implicitly — serial per-province fetching, captcha
TTL caches and redial cool-downs (worker/worker.py:142-158,
utils/Geetest.py:36-44, utils/ADSL.py:17-42).  Here that becomes an explicit
per-host token bucket: each wave a host is granted
``min(capacity, floor(tokens))`` dequeue slots, spends what the wave actually
claimed, and refills by ``refill_rate`` (derived from robots crawl_delay).
Block/ban pages (HTTP 502 / 操作过于频繁 / invalidLink, worker/worker.py:196)
drain the host's bucket — the declarative analogue of the ADSL redial
cool-down.

Host count is unbounded at web scale, so budgets live in a DataFrame and are
broadcast into the dequeue join (they are tiny relative to the frontier).
Robots rules are broadcast once per wave (north_rule: "robots.txt caching
broadcast per executor").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def init_budgets(robots: DataFrame, per_wave_k: int,
                 capacity: int | None = None) -> DataFrame:
    """(host, tokens, refill_rate, capacity) from robots crawl_delay.

    refill = per_wave_k / max(crawl_delay, 1): a polite host with delay d
    earns slots d× slower.  With crawl_delay<=1 everywhere this degenerates
    to the fixed budget K per wave (the 'same politeness budget' the
    correctness gate holds fixed).
    """
    cap = capacity if capacity is not None else per_wave_k
    return robots.select(
        "host",
        F.lit(float(cap)).alias("tokens"),
        (F.lit(float(per_wave_k))
         / F.greatest(F.coalesce("crawl_delay", F.lit(1.0)), F.lit(1.0))
         ).alias("refill_rate"),
        F.lit(float(cap)).alias("capacity"),
    )


def init_budgets_pd(robots_pdf, per_wave_k: int,
                    capacity: int | None = None):
    """pandas twin of ``init_budgets`` for footer-small robots tables
    (driver-side crawl seeding, no Spark job); semantics pinned by the
    seeding equality test in tests/test_wave_engine.py."""
    import numpy as np
    import pandas as pd
    cap = float(capacity if capacity is not None else per_wave_k)
    if "crawl_delay" in robots_pdf.columns:
        delay = pd.to_numeric(robots_pdf["crawl_delay"],
                              errors="coerce").fillna(1.0).to_numpy(float)
    else:
        delay = np.ones(len(robots_pdf))
    return pd.DataFrame({
        "host": robots_pdf["host"].astype(object),
        "tokens": cap,
        "refill_rate": float(per_wave_k) / np.maximum(delay, 1.0),
        "capacity": cap,
    })


# -- driver-side (pandas) budget state --------------------------------------
#
# Budgets are broadcast into the dequeue join, so by construction the whole
# budgets table fits on the driver; managing its state there keeps each
# wave's grant and spend to vectorized pandas plus a metadata-sized parquet
# write, with no Spark job.

def grants_pd(budgets_pdf):
    """(host, grant int): this wave's dequeue slots, floor(tokens)."""
    import numpy as np
    out = budgets_pdf[["host"]].copy()
    out["grant"] = np.floor(budgets_pdf["tokens"]).astype("int32")
    return out


def spend_and_refill_pd(budgets_pdf, used: dict, blocked=frozenset()):
    """tokens' = min(capacity, tokens - used + refill); blocked hosts
    reset to 0 (cool-down).  ``used``: host -> claims this wave."""
    import numpy as np
    out = budgets_pdf.copy()
    u = out["host"].map(used).fillna(0.0).astype("float64")
    out["tokens"] = np.minimum(out["capacity"].to_numpy(),
                               out["tokens"].to_numpy() - u.to_numpy()
                               + out["refill_rate"].to_numpy())
    if blocked:
        out.loc[out["host"].isin(blocked), "tokens"] = 0.0
    return out


def domain_budgets(robots: DataFrame, per_wave_k: int,
                   capacity: int | None = None,
                   rules: list[str] | None = None) -> tuple[DataFrame,
                                                            DataFrame]:
    """Open-web variant of :func:`init_budgets`: ONE shared token bucket
    per publicsuffix.org *registered domain*, so a site cannot multiply
    its politeness budget by fanning out subdomains (``a.example.com``,
    ``b.example.com``, … all draw from ``example.com``'s bucket).  The
    reference never hits this (single registry domain); an open crawl
    does on its first blog/CDN host.

    Returns ``(budgets, host_map)``: budgets keyed by ``host`` =
    registered domain (drop-in for the per-host budget API), and a
    (host, bucket) map for re-keying frontier rows before the grant
    join.  The most-restrictive (max) crawl_delay among a domain's
    hosts wins — a conservative merge, matching how polite crawlers
    treat conflicting per-host robots.  Hosts with no registrable
    domain (bare public suffixes, IPs) keep their own bucket.
    """
    from new_ent_crawler_spark.functions.psl import with_registered_domain
    keyed = with_registered_domain(
        robots.select("host", "crawl_delay"), rules=rules)
    host_map = keyed.select(
        "host",
        F.coalesce("registered_domain", "host").alias("bucket"))
    merged = (keyed
              .groupBy(F.coalesce("registered_domain", "host").alias("host"))
              .agg(F.max("crawl_delay").alias("crawl_delay")))
    return init_budgets(merged, per_wave_k, capacity), host_map


def robots_allowed(df: DataFrame, robots: DataFrame) -> DataFrame:
    """Drop URLs whose path matches a disallow prefix for their host.
    Broadcast join — the rules table is tiny next to the candidate stream."""
    rules = F.broadcast(robots.select("host", "disallow"))
    path = F.regexp_replace("url", r"^https?://[^/]*", "")
    return (df.join(rules, "host", "left")
            .withColumn("_path", path)
            .filter(
                F.col("disallow").isNull()
                | ~F.exists("disallow",
                            lambda p: F.col("_path").startswith(p)))
            .drop("disallow", "_path"))
