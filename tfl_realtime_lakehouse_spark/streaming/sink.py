"""Idempotent streaming sinks (SURVEY T6: "Delta + foreachBatch
idempotent MERGE, or full-rebuild batch job").

No Delta in this environment (``import delta`` gated), so idempotence
comes from **dynamic partition overwrite** inside ``foreachBatch``. Each
micro-batch owns its ``(date, batch_id)`` partitions: a replayed batch
rewrites exactly those — same bytes, no duplicates — which is the
parquet-native equivalent of a partition-scoped MERGE, while a later
batch touching the same date adds its own partition instead of
replacing the earlier batches' rows (the pattern
:mod:`~tfl_realtime_lakehouse_spark.streaming.incremental` uses).
Checkpointing makes replays rare; the overwrite makes them harmless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def silver_partition_overwrite_writer(out_dir: str):
    """foreachBatch callback: write the batch partitioned by
    ``(date, batch_id)`` with dynamic partition overwrite (idempotent
    under replay, additive across batches). The mode is a writer option,
    so the shared session's conf, which concurrent queries read, is
    never touched."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("date", F.to_date("event_ts"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("date", "batch_id")
            .parquet(out_dir)
        )

    return write


def run_silver_stream(
    silver: DataFrame, out_dir: str, checkpoint_dir: str, available_now: bool = True
) -> StreamingQuery:
    """Bronze-stream → silver transform → idempotent partitioned sink."""
    writer = (
        silver.writeStream.foreachBatch(silver_partition_overwrite_writer(out_dir))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
