"""Structured Streaming sink into a ManifestTable — exactly-once.

``foreachBatch`` gives at-least-once delivery: after a crash between
the batch's write and the checkpoint commit, the SAME micro-batch
(same ``batch_id``) is replayed. Parquet-append sinks deduplicate by
directory convention; a ManifestTable does it transactionally — the
batch id rides the manifest as a carried-forward high-water mark, so
a replayed batch is detected from the latest manifest alone and
skipped BEFORE any files are written. Rows therefore land exactly
once, and each micro-batch is one atomic snapshot (readers never see
a partial batch — the same guarantee every commit through the table
has).

This composes the two scale pieces: bounded-state streaming in front,
snapshot-committed lake behind — the standard shape of a production
ingestion path (Kafka → stream → Delta/Iceberg), built here from the
engine's own primitives.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from .._reserved import reserve_tags
from ..operators.checkpoints import checkpointed_rdd_id, free_checkpoint
from ..sources.manifest import ManifestTable


def commit_batch(table: ManifestTable, batch_df: DataFrame, batch_id: int) -> bool:
    """Idempotently commit one micro-batch: skip (returning False) if
    ``batch_id`` is at or below the table's committed high-water mark,
    else append-commit with the id recorded. Exposed separately from
    the query wiring so replay semantics are directly testable."""
    spark = batch_df.sparkSession
    if batch_id <= table.last_batch_id(spark):
        return False
    table.append(batch_df, batch_id=batch_id)
    return True


def stream_to_manifest_table(
    stream: DataFrame, table: ManifestTable, checkpoint: str
) -> StreamingQuery:
    """Start the exactly-once ingestion query: every micro-batch is an
    atomic manifest commit, replays are skipped by batch id."""
    return (
        stream.writeStream.foreachBatch(
            lambda df, bid: commit_batch(table, df, bid)
        )
        .option("checkpointLocation", checkpoint)
        .start()
    )


@contextmanager
def _collapse_last_change(
    batch_df: DataFrame,
    batch_id: int,
    key: str,
    order_col: str,
    op_col: str | None = None,
) -> Iterator[DataFrame]:
    """Shared CDC-batch preparation for :func:`upsert_batch` and
    :func:`apply_cdc_batch`: collapse the batch to each key's LAST
    change by ``order_col`` and validate it, yielding the collapsed
    batch MATERIALIZED ONCE (``localCheckpoint``) and freeing it when
    the block exits, normally or by exception.

    One materialization does everything: the ``row_number`` window
    that picks the last change also flags ties — equal ``order_col``
    values sit next to each other in the window's sort, so a row past
    the first whose predecessor has the same ``order_col`` (NULL-safe,
    as groupBy groups NULLs) is a tied ``(key, order_col)`` pair, which
    would make the collapse nondeterministic. When ``op_col`` is given,
    the same pass counts NULL ops (a NULL op would pass neither the
    delete filter nor its negation: the change would vanish silently
    while the batch still advanced the replay high-water mark). Both
    counts ride the materialization through ``observe`` on the rows
    BEFORE the last-change filter, and both rules raise before
    anything is staged.

    Every later read of the batch (upserts, delete keys, merge's
    probe and write) scans the materialization instead of re-running
    the window, and the materialization keeps AQE's coalesced
    partitioning — a small micro-batch lands as one file, not one per
    configured shuffle partition. One implementation so the two sinks
    can never drift."""
    from pyspark.sql import Observation, Window
    from pyspark.sql import functions as F

    # the collapse's tags must not clash a data column
    reserve_tags("last-change collapse", batch_df.columns, "_rn", "_tie")
    w = Window.partitionBy(key).orderBy(F.col(order_col).desc())
    null_ops = (
        F.sum(F.col(op_col).isNull().cast("long"))
        if op_col is not None
        else F.lit(0)
    )
    obs = Observation()
    last = (
        batch_df.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "_tie",
            (F.col("_rn") > 1)
            & F.lag(order_col).over(w).eqNullSafe(F.col(order_col)),
        )
        .observe(
            obs,
            F.max(F.col("_tie").cast("int")).alias("ties"),
            null_ops.alias("null_ops"),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_tie")
        .localCheckpoint()
    )
    rdd_id = checkpointed_rdd_id(last)
    try:
        chk = obs.get
        if int(chk["ties"] or 0) > 0:
            raise ValueError(
                f"micro-batch {batch_id} has tied ({key}, {order_col}) rows — "
                "last-change collapse would be nondeterministic"
            )
        if int(chk["null_ops"] or 0) > 0:
            raise ValueError(
                f"micro-batch {batch_id} has rows with NULL {op_col!r} — "
                "every change must carry an operation"
            )
        yield last
    finally:
        free_checkpoint(batch_df.sparkSession, rdd_id)


def upsert_batch(
    table: ManifestTable,
    batch_df: DataFrame,
    batch_id: int,
    key: str,
    order_col: str,
    mode: str = "copy-on-write",
) -> bool:
    """Idempotent CDC upsert of one micro-batch — the changelog-apply
    twin of :func:`commit_batch`: replays are skipped by the same
    high-water mark (which :meth:`ManifestTable.merge` now carries
    through the commit), live batches MERGE by ``key`` (copy-on-write
    upsert — only stat-overlapping files rewrite).

    A CDC batch may carry several changes to one key; merge upserts
    whole rows, so the batch is first collapsed to each key's LAST
    change by ``order_col`` (change sequence / commit timestamp).
    ``(key, order_col)`` must be unique — "latest of a tie" has no
    defined answer, so ties raise rather than pick one silently.

    Crash safety: merge's compare-and-swap conflict raises into
    ``foreachBatch``, the streaming engine retries the SAME batch id,
    and the not-yet-recorded high-water mark lets the retry through —
    at-least-once delivery collapses to exactly-once."""
    spark = batch_df.sparkSession
    if batch_id <= table.last_batch_id(spark):
        return False
    with _collapse_last_change(batch_df, batch_id, key, order_col) as last:
        table.merge(last, key, batch_id=batch_id, mode=mode)
    return True


def apply_cdc_batch(
    table: ManifestTable,
    batch_df: DataFrame,
    batch_id: int,
    key: str,
    order_col: str,
    op_col: str = "op",
    delete_value: str = "D",
    mode: str = "copy-on-write",
) -> bool:
    """Full CDC changelog apply — :func:`upsert_batch` plus DELETE
    rows: the micro-batch carries an ``op_col`` marking each change,
    rows whose per-key LAST change (by ``order_col``) is
    ``delete_value`` remove that key, every other key upserts its last
    row. Both land in ONE atomic merge commit
    (``ManifestTable.merge(delete_keys=...)``) — two commits would
    expose a half-applied batch to readers and advance the replay
    high-water mark twice. ``op_col`` and ``order_col`` are TRANSPORT
    metadata, not table content: both are dropped from the upserted
    rows (a changelog's sequence number has no meaning at rest — the
    table's content already reflects the order it encoded; a pipeline
    that wants it as data should carry a separate column). Same tie
    rejection, replay skip and crash-safety contract as
    :func:`upsert_batch` (which, unlike this, keeps ``order_col`` —
    its fixture treats the sequence as table data).

    ``mode="merge-on-read"`` makes every micro-batch APPEND-ONLY
    (positional deletes + new files, no rewrite — see
    :meth:`ManifestTable.merge`), the right setting when batch keys
    scatter across many files; pair it with
    ``table.maybe_compact(...)`` to pay down the deletion-vector
    debt on a schedule instead of per batch."""
    from pyspark.sql import functions as F

    spark = batch_df.sparkSession
    if batch_id <= table.last_batch_id(spark):
        return False
    with _collapse_last_change(
        batch_df, batch_id, key, order_col, op_col=op_col
    ) as last:
        deletes = last.filter(F.col(op_col) == delete_value).select(key)
        upserts = (
            last.filter(F.col(op_col) != delete_value).drop(op_col, order_col)
        )
        table.merge(
            upserts, key, batch_id=batch_id, delete_keys=deletes, mode=mode
        )
    return True


def cdc_stream_to_manifest_table(
    stream: DataFrame,
    table: ManifestTable,
    key: str,
    order_col: str,
    checkpoint: str,
    op_col: str = "op",
    delete_value: str = "D",
    mode: str = "copy-on-write",
) -> StreamingQuery:
    """Start the exactly-once full-CDC-apply query: every micro-batch
    is one atomic merge commit applying its inserts, updates AND
    deletes; replays are skipped by batch id."""
    return (
        stream.writeStream.foreachBatch(
            lambda df, bid: apply_cdc_batch(
                table, df, bid, key, order_col, op_col, delete_value, mode
            )
        )
        .option("checkpointLocation", checkpoint)
        .start()
    )


def upsert_stream_to_manifest_table(
    stream: DataFrame,
    table: ManifestTable,
    key: str,
    order_col: str,
    checkpoint: str,
    mode: str = "copy-on-write",
) -> StreamingQuery:
    """Start the exactly-once CDC-apply query: every micro-batch is an
    atomic MERGE commit (upsert by ``key``), replays are skipped by
    batch id."""
    return (
        stream.writeStream.foreachBatch(
            lambda df, bid: upsert_batch(
                table, df, bid, key, order_col, mode
            )
        )
        .option("checkpointLocation", checkpoint)
        .start()
    )
