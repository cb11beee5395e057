"""Metric and workload definitions shared by run.py, the tests and
BENCHMARK.json (tests/test_metrics.py keeps the three in step), plus the
record of one timed pass that both workloads produce."""

from __future__ import annotations

import re
import statistics
from dataclasses import dataclass, field

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# Spark task slots of the benchmark's local[N] session
CORES = 2
RUN_SECONDS = 25

WORKLOADS = {
    "crawl_bigpage": "4 waves over 8 hosts of 144 KB pages by "
                     "WaveEngine.run(): per-wave fixed cost and a frontier "
                     "compaction, plus the Arrow parse and pruned pages scan "
                     "(px_write, ~15% of the time)",
    "query_suite": "the 21 headline queries checked against DuckDB: the "
                   "analytics operators no crawl calls",
}

# name -> (unit, better, bound).  Every workload reports every metric; an
# "item" is an extracted URL on a crawl and a query on the suite, a "step"
# is a wave on a crawl and a query on the suite.  The bound is the share
# of the parent's median by which the metric may worsen.
END_TO_END = {
    "throughput_per_core": ("1/s", "higher", 0.25),
    "step_s_p50": ("s", "lower", 0.25),
    "cpu_ms_per_item": ("ms", "lower", 0.25),
    "setup_s": ("s", "lower", 0.25),
    "peak_rss_mb": ("MB", "lower", 0.1),
}

CRAWL_LAYERS = {
    "wave.px_write_s": "s", "wave.dequeue_s": "s",
    "wave.candidates_dedup_s": "s", "wave.fm_write_s": "s",
    "wave.compact_s": "s", "wave.plan_s": "s",
    "wave.jobs_per_wave": "count", "wave.tasks_per_wave": "count",
    "wave.waves": "count",
    "parse.px_core_ms_per_page": "ms", "parse.scan_decode_ms_per_page": "ms",
    "parse.to_pandas_ms_per_page": "ms",
    "parse.extract_text_ms_per_page": "ms", "parse.links_ms_per_page": "ms",
    "parse.classify_ms_per_page": "ms", "parse.boundary_ratio": "ratio",
    "scan.rows_per_claim": "ratio", "scan.row_groups_read": "count",
    "frontier.pending_rows": "count", "dedup.candidates": "count",
    "dedup.new": "count", "dedup.new_ratio": "ratio", "dedup.bloom_s": "s",
    "politeness.budgets_s": "s",
    "snapshot.bytes_written_per_url": "B", "snapshot.files": "count",
    "snapshot.commits": "count", "snapshot.compactions": "count",
}

SESSION_LAYERS = {
    "spark.executor_cpu_s": "s", "spark.python_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB", "spark.input_mb": "MB",
    "trace.overhead_per_core": "1/s",
}

# per-layer metrics where a larger value is the better one: traced minus
# untraced throughput (closer to zero is less overhead) and the share of
# discovered links that were new
HIGHER_IS_BETTER = {"trace.overhead_per_core", "dedup.new_ratio"}


def query_layers(names) -> dict:
    return {f"query.{n}_s": "s" for n in names}


def per_layer(query_names) -> dict:
    """Every per-layer metric, name -> unit.  A layer a workload does not
    exercise reads 0 on it (the query layers on a crawl, and so on)."""
    return {**CRAWL_LAYERS, **SESSION_LAYERS, **query_layers(query_names)}


def benchmark_json(query_names) -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bound}
                       for n, (u, b, bound) in END_TO_END.items()],
        "per_layer": [{"name": n, "unit": u,
                       "better": "higher" if n in HIGHER_IS_BETTER else "lower"}
                      for n, u in per_layer(query_names).items()],
    }


@dataclass
class Pass:
    """One timed pass of a workload: ``seconds`` is the wall time of the
    public call(s) under test only, ``steps`` the wall seconds of each wave
    (crawl) or query (suite), ``failed`` the names of URLs or queries whose
    output did not match the reference."""
    seconds: float
    items: int
    steps: list
    cpu_s: float
    python_cpu_s: float
    attempted: int
    failed: list
    extra: dict = field(default_factory=dict, repr=False)


def end_to_end(passes: list[Pass]) -> dict:
    """The three pass-derived end-to-end metrics, pooled over passes."""
    items = sum(p.items for p in passes)
    return {
        "throughput_per_core":
            items / sum(p.seconds for p in passes) / CORES,
        "step_s_p50": statistics.median(s for p in passes for s in p.steps),
        "cpu_ms_per_item": sum(p.cpu_s for p in passes) * 1000.0 / items,
    }


def median_dicts(dicts: list[dict]) -> dict:
    """Key-wise median of dicts that share their keys."""
    return {k: statistics.median(d[k] for d in dicts) for k in dicts[0]}
