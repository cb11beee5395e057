"""SnapshotTable: the Iceberg-contract storage layer (append/overwrite/
rollback/atomic commit/resume semantics)."""

import json

import pytest
from pyspark.sql import functions as F

from new_ent_crawler_spark.sources.snapshot import SnapshotTable


def test_append_is_incremental(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(spark.range(3).select(F.col("id")), meta={"wave": 1})
    t.append(spark.range(3, 5).select(F.col("id")), meta={"wave": 2})
    assert sorted(r.id for r in t.read(spark).collect()) == [0, 1, 2, 3, 4]
    # fast-append: second snapshot references the first's data dir
    snaps = t._read_manifest()["snapshots"]
    assert snaps[1]["dirs"][0] == snaps[0]["dirs"][0]
    assert len(snaps[1]["dirs"]) == 2


def test_overwrite_replaces(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(spark.range(5), meta={"wave": 1})
    t.overwrite(spark.range(2), meta={"wave": 2})
    assert t.read(spark).count() == 2
    assert t.meta() == {"wave": 2}


def test_rollback_time_travel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(spark.range(5), meta={"wave": 1})
    snap1 = t.current_snapshot()["id"]
    t.overwrite(spark.range(9), meta={"wave": 2})
    t.rollback_to(snap1)
    assert t.read(spark).count() == 5
    assert t.meta() == {"wave": 1}


def test_append_after_rollback_reads_new_content(spark, tmp_path):
    """Regression: ids must stay unique after rollback.  Previously
    current+1 collided with the orphaned forward snapshot, so
    current_snapshot() resolved to the STALE entry and a resume replaying
    a wave with different content silently read the old data."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(spark.range(3), meta={"wave": 1})
    snap1 = t.current_snapshot()["id"]
    t.append(spark.range(100, 103), meta={"wave": 2})
    t.rollback_to(snap1)
    # replay wave 2 with DIFFERENT content (e.g. changed per_host_k)
    t.append(spark.range(200, 202), meta={"wave": 2})
    got = sorted(r.id for r in t.read(spark).collect())
    assert got == [0, 1, 2, 200, 201], got
    assert t.meta() == {"wave": 2}
    ids = [s["id"] for s in t._read_manifest()["snapshots"]]
    assert len(ids) == len(set(ids)), ids


def test_commit_is_atomic_rename(spark, tmp_path):
    """A data dir written without a manifest commit is invisible (the crash
    window leaves the previous snapshot current)."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.overwrite(spark.range(5), meta={"wave": 1})
    # simulate crash: write data but never commit the manifest
    t._write_data(spark.range(100))
    assert t.read(spark).count() == 5
    # manifest file stays valid JSON
    with open(t._manifest_path) as f:
        m = json.load(f)
    assert m["current"] == 1


def test_missing_table_raises(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    assert not t.exists()
    with pytest.raises(ValueError):
        t.read(spark)


def test_delta_merge_matches_lww_semantics(spark, tmp_path):
    """DeltaTable.read resolves a base of 40 urls and two delta commits
    (10 updates + 5 inserts, then 5 updates overlapping both) to the
    last-writer-wins state computed by hand."""
    from new_ent_crawler_spark.sources.snapshot import DeltaTable
    t = DeltaTable(str(tmp_path / "lww"), key_col="url")
    base = spark.range(40).select(
        F.concat(F.lit("https://h/u"), "id").alias("url"),
        F.lit(0).alias("status"), F.lit("base").alias("src"))
    t.overwrite(base, meta={"wave": 0})
    d1 = spark.range(15).select(
        F.concat(F.lit("https://h/u"), (F.col("id") + 30)).alias("url"),
        F.lit(1).alias("status"), F.lit("d1").alias("src"))
    t.append_delta(d1, version=1, meta={"wave": 1})
    d2 = spark.range(5).select(
        F.concat(F.lit("https://h/u"), (F.col("id") + 38)).alias("url"),
        F.lit(2).alias("status"), F.lit("d2").alias("src"))
    t.append_delta(d2, version=2, meta={"wave": 2})
    expected = {}  # url -> (status, src)
    for i in range(40):
        expected[f"https://h/u{i}"] = (0, "base")
    for i in range(30, 45):
        expected[f"https://h/u{i}"] = (1, "d1")
    for i in range(38, 43):
        expected[f"https://h/u{i}"] = (2, "d2")
    got = {r["url"]: (r["status"], r["src"])
           for r in t.read(spark).collect()}
    assert got == expected
    # the unmerged key scan: a key once per version that wrote it (40 base
    # + 15 + 5 delta rows), and exactly the merged key set
    keys = t.keys(spark)
    assert keys.columns == ["url"]
    assert keys.count() == 60
    assert sorted(r.url for r in keys.distinct().collect()) == sorted(expected)
