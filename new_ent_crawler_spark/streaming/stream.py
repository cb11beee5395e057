"""Structured Streaming front end for the crawl engine.

Seed files land in a directory; a file-source stream picks them up, and
``foreachBatch`` hands each micro-batch to one ``WaveEngine``: the batch's
seeds join the frontier, then the engine runs waves until the frontier
drains.  The stream therefore crawls through the same ``run_wave`` as the
batch ``run()`` — robots filter, politeness budgets, retry cap and the
exact seen-set anti-join included — and the reference's dispatcher poll loop
(dispatcher/dispatcher.py:35) becomes the stream trigger interval.

Also includes a watermarked windowed aggregation over crawl lineage — the
streaming metrics the reference kept as ``crawler_log`` rows
(utils/MysqlDBHelper.py:108-119).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.wave import WaveEngine


def stream_seeds(spark: SparkSession, seed_dir: str,
                 seeds_schema: str = ("keyword string, host string, "
                                      "priority int, seed_id long, "
                                      "seed_url string")) -> DataFrame:
    """File-source stream of seed batches (new parquet files = new seeds)."""
    return (spark.readStream.schema(seeds_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(seed_dir))


def crawl_stream(engine: WaveEngine, seed_dir: str, checkpoint_dir: str,
                 trigger_seconds: int = 10):
    """Continuous crawl of seed files dropped into ``seed_dir``.

    Each micro-batch adds its seeds to ``engine``'s frontier and drains it;
    the results land in the engine's tables (``engine.extracted()``,
    ``engine.frontier()``, ``engine.lineage_t``).  A micro-batch replayed
    after a crash re-adds only seeds the frontier lacks, and the drain
    resumes from the last committed wave.  Returns the unstarted
    ``DataStreamWriter``.
    """
    def process_batch(batch_df: DataFrame, batch_id: int):
        engine.add_seeds(batch_df)
        engine.drain()

    return (stream_seeds(engine.spark, seed_dir).writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=f"{trigger_seconds} seconds"))


def lineage_window_stream(spark: SparkSession, lineage_dir: str,
                          window: str = "1 minute",
                          watermark: str = "2 minutes") -> DataFrame:
    """Watermarked tumbling-window crawl metrics over streaming lineage rows
    (urls/sec per window — the live counterpart of BENCH numbers).
    ``lineage_dir`` is a ``WaveEngine``'s lineage table
    (``engine.lineage_t.path``) or any directory of lineage parquet files;
    the glob filter skips the table's manifest."""
    schema = ("wave_id long, stage string, partition_id int, urls_in long, "
              "urls_out long, dedup_hits long, ts timestamp")
    rows = (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 4)
            .option("pathGlobFilter", "*.parquet")
            .parquet(lineage_dir))
    return (rows
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window), "stage")
            .agg(F.sum("urls_in").alias("urls_in"),
                 F.sum("urls_out").alias("urls_out"),
                 F.sum("dedup_hits").alias("dedup_hits")))
