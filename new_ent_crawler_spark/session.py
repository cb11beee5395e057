"""SparkSession factory tuned for the crawl engine.

Single place for the configs that matter at 100 TB: AQE (runtime re-plan +
skew-join splitting), Arrow for the parse UDFs, pinned session timezone
(byte-identity of date formatting, SURVEY.md §1.2), and shuffle-partition
sizing.  Tests/bench call ``get_spark(cpus=...)`` to compare parallelism
levels on the same input (the N vs 4N scaling evidence)."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app: str = "new-ent-crawler-spark", cpus: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """``extra_conf`` overrides any default below — the bench uses it to
    size ``spark.sql.files.maxPartitionBytes`` to the leg so a few-GB test
    input splits into many more scan tasks than cores.  At real (100 TB)
    scale the 128 MB default is right: task count dwarfs core count, so
    task-round quantization is noise; on a 4 GB toy corpus the default
    yields ~33 splits and a 16-core leg pays a 2.06-round ceiling
    (measured 0.73 scaling) that says nothing about the engine."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # ~2x cores keeps all slots busy without tiny-partition overhead at
        # test scale; on a real cluster this is sized from input bytes /
        # target partition size and AQE coalesces the rest.
        shuffle_partitions = max(cpus * 2, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.session.timeZone", "Asia/Shanghai")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        # coalescing OFF, skew-join ON: this engine sizes shuffle
        # partitions explicitly (2x cores here; bytes-based on a cluster),
        # so AQE's runtime coalescing has no oversized-partition-count
        # problem to solve — its only observable effect is merging the
        # small control-plane shuffles (candidate dedup, dequeue ranking,
        # counters) below core count: measured 8 -> 1 post-shuffle
        # partitions on a sub-MB aggregate, i.e. every post-shuffle
        # control stage runs single-threaded no matter how many executors
        # exist.  Fine at toy scale, wrong by construction at 100 TB where
        # those stages carry GBs; skew-join splitting (the AQE feature the
        # crawl actually needs — registry-domain skew) is independent and
        # stays on.  (Spark 4 ignores the deprecated minPartitionNum floor,
        # so disabling coalescing is the only way to keep the floor at the
        # session's explicit partition count.)
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # conservative library default; the bench environment raises it via
        # SPARK_DRIVER_MEM (a 56g default would fail JVM startup on smaller
        # hosts)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # the generated-code cache must hold every class a repeated plan
        # needs, or each repeat runs Janino and the JIT again: the 99-query
        # oracle registry compiles ~900 classes, the headline suite ~200,
        # an 18-wave crawl ~250, most in its first two waves; the default
        # 100 entries, split into 4 LRU segments, hold none of these
        .config("spark.sql.codegen.cache.maxEntries", "2048")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, str(v))
    return builder.getOrCreate()

