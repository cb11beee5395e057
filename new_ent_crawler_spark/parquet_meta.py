"""Driver-side parquet footer helpers.

Footer metadata (row counts, per-column byte sizes) answers several
questions the engine would otherwise pay a Spark job for — seeding-size
gates, Arrow batch sizing, bench row counts.  Those jobs are per-run
fixed cost, which is exactly what caps the N->4N scaling ratio, so the
footers are the first stop and the Spark job the fallback.

Handles both parquet layouts: a single ``.parquet`` file and a
directory of part files (Spark writes directories; pyarrow writers and
the synthetic webgen write single files).
"""

from __future__ import annotations

import os


def parquet_files(path: str) -> list[str]:
    """All parquet data files under ``path`` (itself a file or a dir).
    Empty list when the path is neither — callers treat that as
    "footers unavailable" and fall back to a Spark job."""
    try:
        if os.path.isfile(path):
            return [path]
        if os.path.isdir(path):
            return sorted(
                os.path.join(path, f) for f in os.listdir(path)
                if f.endswith(".parquet") and not f.startswith(("_", ".")))
    except OSError:
        pass
    return []


def footer_rows(path: str) -> int | None:
    """Total row count from footers only; None when unavailable."""
    import pyarrow.parquet as pq
    files = parquet_files(path)
    if not files:
        return None
    try:
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except OSError:
        return None


def mean_column_bytes(path: str, col: str,
                      max_files: int = 8) -> float | None:
    """Mean UNCOMPRESSED bytes per row of ``col`` from column-chunk
    stats; None when unavailable or the column is missing."""
    import pyarrow.parquet as pq
    files = parquet_files(path)
    if not files:
        return None
    tot_bytes = tot_rows = 0
    try:
        for f in files[:max_files]:
            md = pq.ParquetFile(f).metadata
            if col not in md.schema.names:
                return None
            idx = md.schema.names.index(col)
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                tot_bytes += g.column(idx).total_uncompressed_size
                tot_rows += g.num_rows
    except OSError:
        return None
    if tot_rows == 0:
        return None
    return tot_bytes / tot_rows


SPARK_ROW_METADATA = "org.apache.spark.sql.parquet.row.metadata"


def footer_schema(path: str, prefer_timestamp_ntz: bool = True):
    """The Spark schema of the first parquet file under ``path``, read from
    its footer on the driver; None when there is no file.

    A Spark-written file stores its schema under Spark's row-metadata key;
    any other writer's schema is converted from Arrow, with a timestamp
    that has no time zone read as TIMESTAMP_NTZ when
    ``prefer_timestamp_ntz`` (Spark's ``inferTimestampNTZ``).  Either way
    this is the schema ``spark.read.parquet`` infers, without its footer-
    reading Spark job."""
    import json

    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import StructType
    files = parquet_files(path)
    if not files:
        return None
    schema = pq.read_schema(files[0])
    spark_json = (schema.metadata or {}).get(SPARK_ROW_METADATA.encode())
    if spark_json is not None:
        return StructType.fromJson(json.loads(spark_json))
    return from_arrow_schema(schema, prefer_timestamp_ntz)
