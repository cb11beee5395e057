"""The frontier's status-sorted files must actually enable row-group
pruning: after a crawl, the compacted base's parquet row groups carry
tight ``status`` min/max stats, so the eligibility filter (status < 2)
can skip groups whose min status >= 2 — the vanilla-parquet analog of
partitioning the frontier by status (keeps the dequeue scan O(pending)
as the crawled fraction grows)."""

import os

import pyarrow.parquet as pq
import pytest

from new_ent_crawler_spark.plans.wave import WaveEngine
from new_ent_crawler_spark.synth import webgen


@pytest.fixture(scope="module")
def crawled(spark, tmp_path_factory):
    web = str(tmp_path_factory.mktemp("prune_web"))
    work = str(tmp_path_factory.mktemp("prune_work"))
    webgen.generate(web, n_hosts=4, companies_per_host=4, seed=23)
    eng = WaveEngine(spark, web, work, per_host_k=50, max_waves=20,
                     compact_every=2)
    eng.run(resume=False)
    return eng


def _row_group_stats(table):
    """(min_status, max_status, n_rows) per row group of a snapshot's dirs."""
    cur = table.current_snapshot()
    out = []
    for d in cur["dirs"]:
        base = os.path.join(table.path, d)
        for f in os.listdir(base):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(base, f)).metadata
            names = [md.schema.column(i).name
                     for i in range(len(md.schema))]
            if "status" not in names:
                continue
            ci = names.index("status")
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is not None and st.has_min_max:
                    out.append((st.min, st.max, md.row_group(rg).num_rows))
    return out


def test_status_row_groups_have_stats_and_prune(crawled):
    stats = _row_group_stats(crawled.frontier_t)
    assert stats, "frontier files must carry status column statistics"
    total = sum(n for _, _, n in stats)
    # a finished crawl has (almost) no pending rows: with status-sorted
    # files, the eligibility predicate status < 2 must be able to skip
    # row groups covering the vast majority of rows via min/max alone
    skippable = sum(n for lo, _, n in stats if lo >= 2)
    assert skippable >= total * 0.9, (
        f"only {skippable}/{total} rows in prunable row groups — "
        "status sort not effective")


def test_status_sort_preserves_results(crawled, spark):
    # sanity: the sorted layout changed nothing semantically
    f = crawled.frontier()
    assert f.count() == f.select("url").distinct().count()
    assert f.filter("status >= 2").count() > 0
