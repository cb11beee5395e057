"""The query_suite workload: the 21 headline queries of the driver contract
(``__spark_entry__.queries()``) over seeded tables, each result checked
against its DuckDB ``oracle_sql()``.

The tables follow the schemas of the star-schema test data the queries
were written for (region, nation, customer, supplier, part, orders,
lineitem, events, documents, embeddings) and are generated here from the
benchmark seed, so the benchmark needs no data outside its checkout.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from datetime import datetime, timedelta

import eventlog
import procstat
from metrics import Pass, median_dicts

HEADLINE = [
    "tpch_q1", "tpch_q3", "tpch_q5ish", "frontier_topk_per_host",
    "dedup_last_writer_wins", "seen_set_anti_join", "broadcast_dim_join",
    "fanout_rejoin", "wave_priority_dequeue", "explode_tokens",
    "events_daily", "dedup_exact", "minhash_lsh_pairs",
    "ngram_jaccard_pairs", "sim_brute_topk", "ann_lsh_topk",
    "text_quality", "text_token_count", "simhash_groups",
    "asof_click_purchase", "tpch_q18ish",
]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# row counts (the sf0.01 test data's sizes)
_ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "lineitem": 60000, "events": 10000, "documents": 500,
         "embeddings": 500}

_WORDS = ("key agg row scan slow fast table value part hash a the line sort "
          "window merge batch spark order data column join small customer "
          "query stream group filter big vector").split()


def generate_tables(out_dir: str, seed: int) -> dict:
    """Write the ten tables as parquet under ``out_dir``; returns row counts.

    Money values are multiples of 0.25 and discount and tax rates multiples
    of 1/32, so every sum the queries round is exact in float64 and Spark
    and DuckDB round it alike whatever order they add in."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size) * 4) / 4

    def days(start: datetime, span: int, size):
        d = rng.integers(0, span, size)
        return pa.array([start + timedelta(days=int(x)) for x in d],
                        pa.timestamp("us"))

    def pick(values, size):
        return [values[i] for i in rng.integers(0, len(values), size)]

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
    }
    nc = _ROWS["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"], nc)})
    ns = _ROWS["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, ns)})
    npart = _ROWS["part"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [a + " " + b for a, b in zip(
            pick(["small", "red", "green", "large", "shiny", "blue", "old",
                  "new"], npart),
            pick(["ring", "widget", "bolt", "gear", "pipe", "valve", "nut",
                  "spring"], npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": pick(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
                        "PROMO"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": 900 + (np.arange(npart) % 1000) / 4})
    no = _ROWS["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], no),
        "o_totalprice": money(1000, 500000, no),
        "o_orderdate": days(datetime(1995, 1, 1), 2404, no),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], no)})
    nl = _ROWS["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": money(900, 105000, nl),
        "l_discount": rng.integers(0, 4, nl) / 32.0,
        "l_tax": rng.integers(0, 3, nl) / 32.0,
        "l_returnflag": pick(["A", "N", "R"], nl),
        "l_linestatus": pick(["F", "O"], nl),
        "l_shipdate": days(datetime(1995, 1, 2), 2498, nl)})
    ne = _ROWS["events"]
    ev_ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, ne))
    tables["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array([datetime(2024, 1, 1) + timedelta(microseconds=int(x))
                        for x in ev_ts], pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": pick(["click", "view", "purchase", "signup", "error"],
                           ne),
        "value": money(0.01, 500, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = _ROWS["documents"]
    texts = []
    for i in range(nd):
        r = rng.random()
        if texts and r < 0.05:      # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, len(texts)))])
        elif texts and r < 0.10:    # near duplicate: one token changed
            toks = texts[int(rng.integers(0, len(texts)))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = _WORDS[
                int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(pick(_WORDS, int(rng.integers(8, 90)))))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": pick(["en", "en", "en", "zh", "de", "fr", "es"], nd),
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv = _ROWS["embeddings"]
    emb = (rng.standard_normal((nv, 64)) * 0.125).astype("float32")
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})

    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, name + ".parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}


def _norm_cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    return v


def normalize(rows, cols) -> list[tuple]:
    """Order-insensitive canonical form of a result: columns sorted by name,
    floats rounded to 9 places, rows sorted (tests/test_queries.py's
    compare)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    return sorted(normed, key=lambda t: tuple((v is None, str(v)) for v in t))


def oracle_results(sf_dir: str) -> dict[str, list[tuple]]:
    """DuckDB answers for every headline query, normalized."""
    import duckdb

    import __spark_entry__ as entrymod
    sql = entrymod.oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf_dir, t + ".parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        out = {}
        for name in HEADLINE:
            res = con.execute(sql[name])
            out[name] = normalize(res.fetchall(),
                                  [d[0] for d in res.description])
        return out
    finally:
        con.close()


def run_pass(spark, sf_dir: str, want: dict[str, list[tuple]] | None,
             tag: str | None = None):
    """One closed-loop pass over the 21 queries.

    Returns (per-query seconds, names whose result differs from DuckDB).
    Each query is timed from plan build to the last collected row; the
    comparison runs outside the timed span and is skipped when ``want`` is
    None.  With ``tag``, each query's jobs run in the job group
    ``<tag>-<query>``."""
    import __spark_entry__ as entrymod
    qs = entrymod.queries()
    sc = spark.sparkContext
    times, failed = {}, []
    for name in HEADLINE:
        if tag is not None:
            sc.setJobGroup(f"{tag}-{name}", name)
        t0 = time.perf_counter()
        sdf = qs[name](spark, sf_dir)
        rows = sdf.collect()
        times[name] = time.perf_counter() - t0
        if want is not None and normalize(
                [tuple(r) for r in rows], sdf.columns) != want[name]:
            failed.append(name)
        # drop anything a query pinned so queries do not contend
        spark.catalog.clearCache()
    if tag is not None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return times, failed


class Workload:
    """query_suite, driven by run.py: prepare, warm up, timed
    passes, then the per-layer figures of the traced passes."""

    # ten small parquet tables
    need_disk_mb = 256

    def __init__(self, work_root: str, seed: int):
        self.seed = seed
        self.sf = os.path.join(work_root, "tables")
        self.rows: dict = {}
        self.want: dict | None = None
        self.wave_spans: dict = {}

    def prepare(self) -> None:
        shutil.rmtree(self.sf, ignore_errors=True)
        self.rows = generate_tables(self.sf, self.seed)
        self.want = oracle_results(self.sf)

    def warm_up(self, spark) -> None:
        """One unchecked pass over the same tables in the same session."""
        run_pass(spark, self.sf, None)

    def run_pass(self, spark, jvm_pid: int | None,
                 tag: str | None = None) -> Pass:
        cpu0 = procstat.tree_cpu_s()
        py0 = procstat.python_worker_cpu_s(jvm_pid)
        times, failed = run_pass(spark, self.sf, self.want, tag=tag)
        # a pass counts as 21 queries at their geometric-mean time (the
        # usual summary of a query suite): a plain sum is dominated by the
        # three slowest queries (the MinHash, n-gram and SimHash
        # pairs), which swing most with host load
        return Pass(seconds=len(times) * statistics.geometric_mean(
                        times.values()),
                    items=len(times),
                    steps=list(times.values()),
                    cpu_s=procstat.tree_cpu_s() - cpu0,
                    python_cpu_s=procstat.python_worker_cpu_s(jvm_pid) - py0,
                    attempted=len(times), failed=failed,
                    extra={"times": times})

    def detail(self, passes: list[Pass]) -> dict:
        return {"tables": self.rows,
                "suite_s": [sum(p.extra["times"].values()) for p in passes],
                "query_s": [p.extra["times"] for p in passes],
                "failed_queries": sorted({q for p in passes
                                          for q in p.failed})}

    def layers(self, passes: list[Pass], folded: dict) -> dict:
        per_pass = []
        for i, p in enumerate(passes):
            d = {f"query.{k}_s": v for k, v in p.extra["times"].items()}
            d.update(eventlog.session_layers(
                eventlog.sum_groups(folded, f"t{i}-"), p.python_cpu_s))
            per_pass.append(d)
        return median_dicts(per_pass)
