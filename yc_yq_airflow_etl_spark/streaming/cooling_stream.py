"""The cooling pipeline as a Structured Streaming job.

Reference mapping (SURVEY.md §2.10): the Airflow schedule policy
``@hourly, max_active_runs=1, catchup=False`` (yq_dag.py:47-51)
becomes a single streaming query with a processing-time trigger — one
concurrent run by construction; the manual EXP_DATE watermark (C5)
becomes the checkpointed source offset, advanced exactly-once by the
engine instead of by a post-success Variable.set.

Two entry points:

- :func:`stream_events_to_lake` — generic continuous ingestion:
  file-source stream → event-time watermark → partitioned parquet
  sink with checkpointing (exactly-once file sink semantics).
- :func:`cooling_foreach_batch` — the batch DAG's own cooling step
  (``plans.cooling.cooling_step``: load → reconcile → raise) run per
  micro-batch via foreachBatch. The stream stages a NULL
  ``payment_date`` as a NULL year, which lands in Hive's default
  partition; the step reads back exactly the partitions the write
  observed, the default one included. A failed reconcile raises
  inside the batch, failing the query before its offsets commit, and
  replay re-runs the idempotent step.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from ..plans.cooling import cooling_step
from ..sources.lake import LakeTable


def read_file_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def stream_events_to_lake(
    events: DataFrame,
    lake_path: str,
    checkpoint: str,
    partition_by: str = "event_type",
    watermark: str = "10 minutes",
) -> StreamingQuery:
    """Continuous append of an event stream into a partitioned lake
    table. The file sink's transaction log makes restarts
    exactly-once; the watermark bounds state for any downstream
    aggregation reading this stage."""
    return (
        events.withWatermark("ts", watermark)
        .writeStream.format("parquet")
        .option("path", lake_path)
        .option("checkpointLocation", checkpoint)
        .partitionBy(partition_by)
        .outputMode("append")
        .start()
    )


def cooling_foreach_batch(
    lake: LakeTable,
    on_diff: Callable[[int, int], None] | None = None,
) -> Callable[[DataFrame, int], None]:
    """Build the per-micro-batch body: stage the batch's
    ``payment_year`` and run the cooling step on it — overwrite the
    batch's partitions (dynamic overwrite keeps re-delivered batches
    idempotent), read back the partitions the write observed and
    reconcile them against the batch, the EXCLUSION JOIN safety check
    (yq_dag.py:93-94) at micro-batch granularity. ``on_diff(batch_id,
    diff)`` sees every batch's diff, before a non-zero one raises.

    Contract: micro-batches must be partition-aligned (a Hive
    partition never spans two batches) — the same alignment the
    reference guarantees with its one-year-per-run window. Overwrite
    then makes redelivery idempotent; unaligned sources need the
    append+dedup variant instead."""

    def body(batch: DataFrame, batch_id: int) -> None:
        cooling_step(
            batch.withColumn("payment_year", F.year("payment_date").cast("int")),
            lake,
            f"micro-batch {batch_id}",
            on_diff=None if on_diff is None else partial(on_diff, batch_id),
        )

    return body


def run_cooling_stream(
    payments_stream: DataFrame,
    lake: LakeTable,
    checkpoint: str,
    trigger_seconds: int | None = None,
    on_diff: Callable[[int, int], None] | None = None,
) -> StreamingQuery:
    """Wire the micro-batch body to a stream. ``trigger_seconds=None``
    → availableNow (process backlog then stop: the batch-pipeline
    parity mode used in tests); otherwise a processing-time trigger —
    the reference's @hourly tick is ``trigger_seconds=3600``."""
    writer = payments_stream.writeStream.foreachBatch(
        cooling_foreach_batch(lake, on_diff=on_diff)
    ).option("checkpointLocation", checkpoint)
    if trigger_seconds is None:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
