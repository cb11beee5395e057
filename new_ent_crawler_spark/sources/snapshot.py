"""Snapshot-table storage: an Iceberg-style table contract on plain parquet.

The north rule calls for Iceberg tables with snapshot checkpoints; the
sandbox has no Iceberg runtime jar, so this module implements the same
*contract* — append / overwrite / atomic snapshot commit / time-travel-to-
last-committed — as a directory of immutable parquet data dirs plus a JSON
manifest (SURVEY.md §7.0).  Each snapshot lists the data dirs it comprises,
so ``append`` is O(new data) like an Iceberg fast-append (no rewrite), and
``overwrite`` is a copy-on-write replace like an Iceberg MERGE rewrite.
Manifest writes are tmp+rename, so a crash mid-wave leaves the previous
snapshot current and the engine resumes from it (checkpoint/resume
requirement of BASELINE.json ``north_rule``).

On a real cluster this class is swapped for ``df.writeTo(...)`` /
``MERGE INTO`` against an Iceberg catalog; the wave engine only uses this
narrow interface.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from ..parquet_meta import footer_rows, footer_schema


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` with the schema taken on the driver
    from the first file's footer (``parquet_meta.footer_schema``), so the
    read runs no schema-inference job.  Every engine table and input is
    read through here.  With no file under ``paths`` Spark infers, and
    fails as it always has."""
    ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled",
                         "true") == "true"
    schema = next((s for s in (footer_schema(p, ntz) for p in paths)
                   if s is not None), None)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


class SnapshotTable:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    # -- manifest ----------------------------------------------------------

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "manifest.json")

    def _read_manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"snapshots": [], "current": None}
        with open(self._manifest_path) as f:
            return json.load(f)

    def _commit(self, manifest: dict):
        tmp = self._manifest_path + ".tmp." + uuid.uuid4().hex
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path)  # atomic snapshot commit

    def current_snapshot(self) -> dict | None:
        m = self._read_manifest()
        if m["current"] is None:
            return None
        return next(s for s in m["snapshots"] if s["id"] == m["current"])

    def exists(self) -> bool:
        return self.current_snapshot() is not None

    # -- writes ------------------------------------------------------------

    def _write_data(self, df: DataFrame) -> str:
        data_dir = "data-" + uuid.uuid4().hex[:12]
        df.write.mode("overwrite").parquet(os.path.join(self.path, data_dir))
        return data_dir

    def _new_snapshot(self, dirs: list[str], meta: dict | None) -> dict:
        m = self._read_manifest()
        # ids must be unique across the whole history, not just ahead of
        # `current`: after rollback_to(k) the orphaned snapshots k+1..n stay
        # in the manifest (Iceberg keeps them for time travel), and a
        # current+1 id would collide with the stale k+1 entry, making
        # current_snapshot() resolve to the old data dirs
        snap_id = max((s["id"] for s in m["snapshots"]), default=0) + 1
        snap = {"id": snap_id, "dirs": dirs, "meta": meta or {}}
        m["snapshots"].append(snap)
        m["current"] = snap_id
        self._commit(m)
        return snap

    def append(self, df: DataFrame, meta: dict | None = None) -> dict:
        """Fast-append: new data dir + manifest entry; no rewrite."""
        new_dir = self._write_data(df)
        cur = self.current_snapshot()
        dirs = (cur["dirs"] if cur else []) + [new_dir]
        return self._new_snapshot(dirs, meta)

    def overwrite(self, df: DataFrame, meta: dict | None = None) -> dict:
        """Copy-on-write replace (the stand-in for MERGE INTO rewrites)."""
        new_dir = self._write_data(df)
        return self._new_snapshot([new_dir], meta)

    # -- control-plane row writes (no Spark job) ---------------------------

    def _write_rows(self, rows, schema) -> str:
        """Driver-side parquet write via pyarrow for tiny control tables
        (politeness budgets, lineage counters).  These tables are bounded by
        construction — budgets must fit a broadcast, lineage is a handful of
        counters per wave — so a Spark write job per wave is pure fixed cost
        (the Iceberg analogue: metadata-sized commits don't launch executor
        jobs either).  The resulting files read back via read_parquet
        exactly like executor-written data dirs."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        data_dir = "data-" + uuid.uuid4().hex[:12]
        full = os.path.join(self.path, data_dir)
        os.makedirs(full, exist_ok=True)
        if isinstance(rows, pa.Table):
            table = rows.cast(schema)
        elif hasattr(rows, "to_dict"):  # pandas DataFrame
            table = pa.Table.from_pandas(rows, schema=schema,
                                         preserve_index=False)
        else:  # list of row tuples
            cols = [[r[i] for r in rows] for i in range(len(schema))]
            table = pa.Table.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
                schema=schema)
        pq.write_table(table, os.path.join(full, "part-00000.parquet"),
                       compression="zstd")
        return data_dir

    def append_rows(self, rows, schema, meta: dict | None = None) -> dict:
        new_dir = self._write_rows(rows, schema)
        cur = self.current_snapshot()
        dirs = (cur["dirs"] if cur else []) + [new_dir]
        return self._new_snapshot(dirs, meta)

    def overwrite_rows(self, rows, schema, meta: dict | None = None) -> dict:
        new_dir = self._write_rows(rows, schema)
        return self._new_snapshot([new_dir], meta)

    def dir_rows(self, data_dir: str) -> int:
        """Row count of one data dir from parquet footer metadata only —
        driver-side, no Spark job (the Iceberg analogue: snapshot summary
        counts come from manifest metadata, not a scan)."""
        return footer_rows(os.path.join(self.path, data_dir)) or 0

    def rollback_to(self, snap_id: int):
        m = self._read_manifest()
        if any(s["id"] == snap_id for s in m["snapshots"]):
            m["current"] = snap_id
            self._commit(m)

    # -- reads ---------------------------------------------------------------

    def _paths(self) -> list[str]:
        """The current snapshot's data dirs; raises when there is none."""
        cur = self.current_snapshot()
        if cur is None or not cur["dirs"]:
            raise ValueError(f"table {self.path} has no current snapshot")
        return [os.path.join(self.path, d) for d in cur["dirs"]]

    def read(self, spark: SparkSession) -> DataFrame:
        return read_parquet(spark, *self._paths())

    def meta(self) -> dict:
        cur = self.current_snapshot()
        return cur["meta"] if cur else {}

    def drop(self):
        shutil.rmtree(self.path, ignore_errors=True)


def _lww_merge(base: DataFrame, deltas: DataFrame, key_col: str,
               version_col: str) -> DataFrame:
    """Last-writer-wins merge-on-read resolution: the latest delta row per
    key (one ``max_by`` aggregate over the deltas), unioned with the base
    rows whose key has no delta row (an anti-join of the unshuffled base
    against the delta keys, duplicates and all)."""
    from pyspark.sql import functions as F
    cols = [c for c in deltas.columns if c not in (key_col, version_col)]
    latest = (deltas.groupBy(key_col)
              .agg(F.max_by(F.struct(*cols), version_col).alias("_row"))
              .select(key_col, "_row.*"))
    keep = base.join(deltas.select(key_col), key_col, "left_anti")
    return keep.unionByName(latest)


class DeltaTable(SnapshotTable):
    """Merge-on-read extension: base dirs + keyed delta dirs with
    last-writer-wins resolution on ``key_col`` (the Iceberg equality-delete
    / merge-on-read shape, in place of copy-on-write ``overwrite``).

    * ``overwrite``   — rewrites the base (a compaction); O(table).
    * ``append_delta``— appends one small dir of changed/new rows tagged
      with a ``commit_version``; O(delta).  This is the per-wave frontier
      commit: a wave touches (claimed + discovered) rows, bounded by the
      politeness budgets, so the write does not scale with the frontier.
    * ``read``        — the latest delta row per key (one ``max_by``
      aggregate, the only exchange of the merge), unioned with the base
      rows whose key has no delta row.  Deltas-since-compaction stay
      bounded (compaction every K waves), so AQE turns the base-side
      anti-join into a broadcast probe and the base is never shuffled.  On
      a real cluster both base and deltas are bucketed by the key, making
      the merge bucket-local (Iceberg merge-on-read with equality deletes).
    * ``keys``        — the key column of base and deltas as one scan, with
      a key once per version that holds it: the seen set of an anti-join,
      which needs no merge.
    """

    VERSION_COL = "_commit_version"

    def __init__(self, path: str, key_col: str = "url"):
        super().__init__(path)
        self.key_col = key_col

    def _tag(self, df: DataFrame, version: int) -> DataFrame:
        from pyspark.sql import functions as F
        return df.withColumn(self.VERSION_COL,
                             F.lit(int(version)).cast("long"))

    def overwrite(self, df: DataFrame, meta: dict | None = None) -> dict:
        meta = dict(meta or {})
        new_dir = self._write_data(self._tag(df, meta.get("wave", 0)))
        meta["n_base"] = 1
        return self._new_snapshot([new_dir], meta)

    def overwrite_rows(self, rows, schema, meta: dict | None = None) -> dict:
        """Driver-side base write (pyarrow, no Spark job) of the
        ``pa.Table`` ``rows`` for bounded-size initial states — e.g.
        seeding a crawl frontier from a footer-small seed list.  Tags rows
        with the snapshot's wave as the commit version, mirroring
        ``overwrite``."""
        import pyarrow as pa
        meta = dict(meta or {})
        rows = rows.cast(schema)
        version = int(meta.get("wave", 0))
        rows = rows.append_column(
            self.VERSION_COL,
            pa.array([version] * rows.num_rows, type=pa.int64()))
        new_dir = self._write_rows(rows, rows.schema)
        meta["n_base"] = 1
        return self._new_snapshot([new_dir], meta)

    def append_delta(self, df: DataFrame, version: int,
                     meta: dict | None = None) -> dict:
        cur = self.current_snapshot()
        if cur is None:
            raise ValueError("append_delta before the initial overwrite")
        new_dir = self._write_data(self._tag(df, version))
        meta = dict(meta or {})
        meta["n_base"] = cur["meta"].get("n_base", len(cur["dirs"]))
        return self._new_snapshot(cur["dirs"] + [new_dir], meta)

    def n_deltas(self) -> int:
        cur = self.current_snapshot()
        if cur is None:
            return 0
        return len(cur["dirs"]) - cur["meta"].get("n_base", len(cur["dirs"]))

    def approx_rows(self) -> int | None:
        """Upper bound on the merged row count, from parquet footer
        metadata only (driver-side, no Spark job) — base + delta rows,
        counting a key once per version it appears in.  Callers use it to
        gate size-dependent strategies (e.g. broadcasting the seen side of
        an anti-join); an over-estimate degrades to the conservative
        strategy, never to a wrong result."""
        cur = self.current_snapshot()
        if cur is None:
            return None
        return sum(footer_rows(os.path.join(self.path, d)) or 0
                   for d in cur["dirs"])

    def read(self, spark: SparkSession) -> DataFrame:
        paths = self._paths()
        n_base = self.meta().get("n_base", len(paths))
        base = read_parquet(spark, *paths[:n_base])
        if n_base >= len(paths):
            return base.drop(self.VERSION_COL)
        deltas = read_parquet(spark, *paths[n_base:])
        # LWW among the (small) deltas only; base rows are versionless —
        # any delta row for a key supersedes the base row
        return _lww_merge(base.drop(self.VERSION_COL), deltas,
                          self.key_col, self.VERSION_COL)

    def keys(self, spark: SparkSession) -> DataFrame:
        """The ``key_col`` of every base and delta row, unmerged: each key
        the merged table holds, once per version that wrote it.  A left-anti
        join against it equals one against ``read``'s keys."""
        return read_parquet(spark, *self._paths()).select(self.key_col)

    def compact(self, spark: SparkSession, version: int,
                n_files: int = 16) -> dict:
        """Fold deltas into a fresh single-base snapshot (bin-pack style);
        old snapshots keep their dirs for time travel/rollback.  The base
        sorts by status within files (see WaveEngine's delta write): the
        per-wave eligibility scan then prunes done row groups via parquet
        min/max stats instead of reading the whole frontier."""
        resolved = self.read(spark)
        if "status" in resolved.columns:
            # range-partition by status (url spreads rows within a status):
            # each compacted file covers a narrow status range, so the
            # eligibility scan (status < 2) prunes done files via parquet
            # min/max stats — the status-partition-spec analog.  The range
            # exchange's sampling pass runs only at compaction cadence,
            # never per wave.
            resolved = resolved.repartitionByRange(
                n_files, "status", self.key_col)
        else:
            resolved = resolved.coalesce(n_files)
        return self.overwrite(resolved, meta={**self.meta(),
                                              "wave": version})

