"""File-replay streaming fixture (FIXTURES.md §streaming).

Turns the bounded ``events`` table into a deterministic micro-batch stream:
rows ordered by ts are written into K sequential parquet chunk files; a file
streaming source with ``maxFilesPerTrigger=1`` + ``trigger(availableNow)``
replays them in arrival order. The late-data variant additionally re-emits a
deterministic 1% of rows (``event_id % 100 == 7``) one chunk later than
their ts order — duplicates + late arrivals in one fixture, exercising
watermark drops (I4) and ``dropDuplicatesWithinWatermark`` (I5).

Never touches /root/testdata — chunks go to a caller-owned temp dir.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from twitter_event_stream_spark.streaming.pipelines import WIRE_SCHEMA
from twitter_event_stream_spark.tables import table


def write_replay_chunks(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_chunks: int = 20,
    late_rows: bool = False,
) -> int:
    """Materialize the ordered chunk files; returns the number of chunks.

    Chunk i holds the i-th contiguous ts range. With ``late_rows``, marked
    rows are *also* appended to chunk i+2, so the stream sees them twice —
    once on time and once late. The two-chunk displacement matters: a
    one-chunk-late duplicate arrives in the very batch where its window is
    being finalized (state still live → merged, not dropped — Spark's
    watermark drop is guaranteed only after eviction); two chunks late, the
    window was evicted a batch earlier and the duplicate is genuinely late.
    """
    ev = table(spark, sf_dir, "events")
    n = ev.count()
    if n == 0:
        return 0
    per = (n + n_chunks - 1) // n_chunks
    n_nonempty = (n + per - 1) // per
    # All rows pass through ONE executor-side sort — bounded by the
    # fixture's size, the same total order the old driver-side collect
    # produced, but the rows never leave the JVM, so chunk tasks stay
    # plan-sized. The column-derived constant keeps the partition spec
    # non-foldable (a plain lit(0) is stripped by Catalyst and the
    # "No Partition Defined" warning returns).
    w = Window.partitionBy(F.col("event_id") * F.lit(0)).orderBy("ts", "event_id")
    staged = ev.withColumn(
        "chunk", F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(per)).cast("int")
    )
    # Stage OUTSIDE out_dir: the replay reader walks out_dir recursively and
    # must never see the staging files. partitionBy gives the per-chunk
    # writes below a partition-pruned scan.
    staging = out_dir.rstrip("/") + ".staging"
    # Cleanup in a finally so a failed chunk write doesn't leak the staging
    # dir (rmtree is local-FS-only, fine for a test fixture living in tmp).
    try:
        staged.write.mode("overwrite").partitionBy("chunk").parquet(staging)
        base = spark.read.parquet(staging)
        os.makedirs(out_dir, exist_ok=True)
        # Chunks are written SEQUENTIALLY: the file streaming source replays
        # in modification-time order, so arrival order is the loop order.
        for i in range(n_nonempty):
            part = base.filter(F.col("chunk") == i)
            if late_rows and i > 1:
                part = part.unionByName(
                    base.filter(
                        (F.col("chunk") == i - 2) & (F.col("event_id") % 100 == 7)
                    )
                )
            part.drop("chunk").coalesce(1).write.mode("overwrite").parquet(
                os.path.join(out_dir, f"chunk={i:03d}")
            )
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return n_nonempty


def replay_stream(
    spark: SparkSession, chunk_dir: str, files_per_trigger: int = 1
) -> DataFrame:
    """The streaming DataFrame over the chunk dir (A3 — file source)."""
    return (
        spark.readStream.schema(WIRE_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .option("recursiveFileLookup", "true")
        .parquet(chunk_dir)
    )


def run_available_now(
    stream_df: DataFrame,
    query_name: str,
    checkpoint: str,
    output_mode: str = "append",
):
    """Drain the stream deterministically into a memory sink (A7/I9/I10);
    returns the started query (caller awaits termination)."""
    return (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
