"""Metric names, units and BENCHMARK.json stay valid and in step."""

import json
import os

import metrics
import suite

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _all_names():
    return (list(metrics.WORKLOADS) + list(metrics.END_TO_END)
            + list(metrics.per_layer(suite.HEADLINE)))


def test_names_and_units_are_valid():
    names = _all_names()
    assert len(names) == len(set(names))
    assert all(metrics.NAME_RE.match(n) for n in names), [
        n for n in names if not metrics.NAME_RE.match(n)]
    units = ([u for u, _, _ in metrics.END_TO_END.values()]
             + list(metrics.per_layer(suite.HEADLINE).values()))
    assert all(metrics.UNIT_RE.match(u) for u in units)


def test_benchmark_json_matches_definitions():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        on_disk = json.load(f)
    assert on_disk == metrics.benchmark_json(suite.HEADLINE)


def test_benchmark_json_limits():
    b = metrics.benchmark_json(suite.HEADLINE)
    assert 2 <= len(b["workloads"]) <= 8
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"]
               for w in b["workloads"])
    assert 1 <= len(b["end_to_end"]) <= 16
    assert 1 <= len(b["per_layer"]) <= 128
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert 1 <= b["run_seconds"] <= 60
    assert len(json.dumps(b)) <= 64 * 1024


def test_headline_queries_exist_in_the_driver_contract():
    import __spark_entry__ as entry
    assert len(suite.HEADLINE) == 21 == len(set(suite.HEADLINE))
    assert set(suite.HEADLINE) <= set(entry.queries())
    assert set(suite.HEADLINE) <= set(entry.oracle_sql())


def test_end_to_end_pools_passes():
    p = [metrics.Pass(seconds=2.0, items=10, steps=[0.5, 1.5], cpu_s=4.0,
                      python_cpu_s=1.0, attempted=10, failed=[]),
         metrics.Pass(seconds=3.0, items=20, steps=[1.0], cpu_s=2.0,
                      python_cpu_s=1.0, attempted=20, failed=[])]
    e = metrics.end_to_end(p)
    assert e["throughput_per_core"] == 30 / 5.0 / metrics.CORES
    assert e["step_s_p50"] == 1.0
    assert e["cpu_ms_per_item"] == 200.0


def test_normalize_ignores_row_and_column_order():
    a = suite.normalize([(1, 0.1 + 0.2), (0, None)], ["b", "a"])
    b = suite.normalize([(None, 0), (0.3, 1)], ["a", "b"])
    assert a == b
