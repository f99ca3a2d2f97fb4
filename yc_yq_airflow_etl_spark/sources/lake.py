"""Partitioned Parquet lake table — the engine's equivalent of the
reference's Object Storage binding (``etl_object_storage``: bucket
``etl-bucket``, prefix ``etl/``, Hive layout
``payment_year=${payment_year}/`` — img/YQLink1.png–YQLink4.png).

The reference makes re-runs idempotent with an explicit
list-and-delete of the target prefix before INSERT
(yq_dag.py:16-19,54-59). Spark subsumes that whole step: a
``mode("overwrite")`` write with
``spark.sql.sources.partitionOverwriteMode=dynamic`` replaces exactly
the partitions present in the incoming data and leaves the rest of
the table untouched — same contract, atomic per partition, no
bespoke S3 listing code.
"""

from __future__ import annotations

import math
import urllib.parse
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame


# Root-level reader sentinel marking one partition mid-swap. Leading
# underscore: Spark's file index ignores it, so it never pollutes a
# scan — only LakeTable.read looks for it.
_SWAP_SENTINEL_PREFIX = "_swapping_"


def _wait_for_swaps(
    spark: SparkSession, path: str, tries: int = 10, delay_s: float = 0.2
) -> None:
    """Block a read while any partition of ``path`` is mid-swap.

    The swap window is two renames (~ms), so a short bounded retry
    almost always clears a LIVE swap; a sentinel that persists past
    the retries means a crashed compactor left a partition out of the
    live tree — the read fails LOUDLY naming the partitions instead
    of silently returning a partial table. Metadata-only: one root
    listStatus per attempt (the same listing Spark's own file index
    performs), so cost scales with partition count, never data size.
    """
    import time

    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    try:
        fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    except Exception:
        return  # unreadable root: let the reader raise its own error
    for attempt in range(tries):
        if not fs.exists(root):
            return
        pending = [
            st.getPath().getName()[len(_SWAP_SENTINEL_PREFIX):]
            for st in fs.listStatus(root)
            if st.isFile()
            and st.getPath().getName().startswith(_SWAP_SENTINEL_PREFIX)
        ]
        if not pending:
            return
        if attempt < tries - 1:
            time.sleep(delay_s)
    raise RuntimeError(
        f"partitions {sorted(pending)} of {path} are mid-swap "
        f"(compaction sentinel still present after "
        f"{tries * delay_s:.1f}s) — a live swap should clear in "
        "milliseconds, so this is likely a crashed compactor: recover "
        "by renaming _compacting/_replaced_<partition> back into the "
        "table and deleting the _swapping_<partition> sentinel. "
        "Refusing to read a tree with a partition missing."
    )


@dataclass(frozen=True)
class LakeTable:
    path: str
    partition_columns: tuple[str, ...] = ("payment_year",)
    schema: T.StructType | None = None

    def read(self, spark: SparkSession) -> DataFrame:
        # A compaction swap mid-flight leaves its partition ABSENT
        # from the live tree for the two-rename window; a reader
        # listing inside it would silently return zero rows for that
        # partition — at 100 TB a year-scoped read racing routine
        # maintenance becomes a reconciliation false-alarm (or a
        # false PASS). The swap publishes per-partition sentinels
        # (`_swapping_<dir>`, see _swap_partition_dir); check them
        # right before Spark's eager file listing: brief retry (the
        # window is two renames), then LOUD. A sentinel left by a
        # crashed compactor keeps reads loud until the documented
        # recovery (rename `_replaced_*` back, delete the sentinel) —
        # the honest trade of the Hive-layout lake vs the manifest
        # table's snapshot protocol. Residual check-then-list race is
        # the same trade, documented here, not hidden.
        _wait_for_swaps(spark, self.path)
        reader = spark.read
        if self.schema is not None:
            # partition columns come from directory names, not footers
            data_fields = [
                f for f in self.schema.fields if f.name not in self.partition_columns
            ]
            reader = reader.schema(T.StructType(data_fields))
        df = reader.parquet(self.path)
        return df

    def overwrite_partitions(
        self, df: DataFrame, sort_by: tuple[str, ...] | None = None
    ) -> None:
        """Replace exactly the Hive partitions present in ``df``
        (reference steps S3+S4 fused). Requires the session conf
        ``partitionOverwriteMode=dynamic`` (set by build_session); we
        also set it per-write so driver-owned sessions behave.

        ``sort_by``: cluster rows inside each task's output file by
        these columns (``sortWithinPartitions`` — a per-task sort, no
        extra shuffle). Sorted layout makes the parquet row-group
        min/max statistics (zone maps) disjoint on the sort key, so a
        later range filter — e.g. the reconciliation readback's
        ``payment_date`` window (yq_dag.py:89-91) — skips whole row
        groups instead of decoding them. At 100 TB this is the
        difference between scanning a partition and scanning the few
        megabytes the filter touches."""
        spark = df.sparkSession
        conf_key = "spark.sql.sources.partitionOverwriteMode"
        # set per-write, RESTORED after: leaking dynamic into the
        # shared session would silently change unrelated overwrite
        # writes (static full-table rewrites would keep stale
        # partitions absent from the new frame)
        prev = spark.conf.get(conf_key, None)
        spark.conf.set(conf_key, "dynamic")
        try:
            if sort_by:
                df = self._cluster(df, sort_by)
            (
                df.write.mode("overwrite")
                .partitionBy(*self.partition_columns)
                .parquet(self.path)
            )
        finally:
            if prev is None:
                spark.conf.unset(conf_key)
            else:
                spark.conf.set(conf_key, prev)

    def append(
        self, df: DataFrame, sort_by: tuple[str, ...] | None = None
    ) -> None:
        if sort_by:
            df = self._cluster(df, sort_by)
        df.write.mode("append").partitionBy(*self.partition_columns).parquet(self.path)

    def _cluster(self, df: DataFrame, sort_by: tuple[str, ...]) -> DataFrame:
        # The partition columns MUST lead the sort key: a partitioned
        # write requires rows ordered by partition columns (one open
        # file at a time per task) and inserts its own — unstable —
        # sort if the incoming order doesn't already satisfy that,
        # which would scramble the data-column clustering we're after.
        return df.sortWithinPartitions(*self.partition_columns, *sort_by)

    def partition_stats(self, spark: SparkSession) -> dict[str, tuple[int, int]]:
        """Driver-side metadata scan: ``{partition_dir_name: (bytes,
        n_data_files)}`` via the Hadoop FileSystem API (the same
        listing a query's file index performs). Metadata-only — cost
        scales with partition/file count, not data size."""
        jvm = spark._jvm
        root = jvm.org.apache.hadoop.fs.Path(self.path)
        fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
        out: dict[str, tuple[int, int]] = {}
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if not st.isDirectory() or "=" not in name:
                continue
            files = [
                f
                for f in fs.listStatus(st.getPath())
                if f.isFile() and not f.getPath().getName().startswith("_")
            ]
            out[name] = (sum(f.getLen() for f in files), len(files))
        return out

    def compact_partitions(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> dict[str, tuple[int, int]]:
        """Small-file compaction — the lake maintenance step every
        append-mode pipeline at scale needs (each incremental load
        S3/yq_dag.py:71-73 adds files; a year of hourly micro-batches
        is ~9k files/partition, and 100 TB tables die by file-listing
        and per-file open cost long before they die by bytes).

        For every Hive partition whose data-file count exceeds
        ``ceil(bytes / target_file_bytes)``, rewrite that partition's
        rows into that many ~target-size files. The rewrite is one
        distributed job for all affected partitions: rows get a group
        id assigned by hashing within their partition (group counts
        arrive via a broadcast map), one shuffle co-locates each
        output file's rows, and the result lands in a staging dir
        that is swapped in per-partition with filesystem renames.

        On HDFS the rename swap is atomic per partition; on S3-like
        stores rename is copy+delete, so production deployments put a
        table format's commit protocol (Delta/Iceberg snapshot) over
        the same rewrite plan. The rewrite job itself — the scalable
        part — is identical either way.

        Returns ``{partition_dir: (files_before, files_after)}`` for
        the partitions rewritten. Only single-column partitioning is
        supported (all tables in this engine use one).
        """
        if len(self.partition_columns) != 1:
            raise ValueError("compact_partitions supports 1 partition column")
        pcol = self.partition_columns[0]

        stats = self.partition_stats(spark)
        plan: dict[str, int] = {}  # partition value -> target file count
        before: dict[str, int] = {}
        for dirname, (nbytes, nfiles) in stats.items():
            target = max(1, math.ceil(nbytes / target_file_bytes))
            if nfiles > target:
                raw = dirname.split("=", 1)[1]
                if raw == "__HIVE_DEFAULT_PARTITION__":
                    # NULL partition value: isin(NULL) can never select
                    # it, so a rewrite would stage nothing and the swap
                    # below would destroy the partition. Leave it alone.
                    continue
                # Hive escapes special chars (space, '%', ':', ...) in
                # directory names; the column holds the unescaped value.
                plan[urllib.parse.unquote(raw)] = target
                before[dirname] = nfiles
        if not plan:
            return {}

        # isin on the partition column → PartitionFilters: only the
        # affected partitions are scanned (literals coerce to the
        # column's inferred type, keeping pruning intact)
        df = self.read(spark).filter(F.col(pcol).isin(list(plan)))
        targets = local_frame(
            spark, [(v, n) for v, n in plan.items()], "_pv string, _groups int"
        )
        data_cols = [c for c in df.columns if c != pcol]
        grouped = (
            df.join(F.broadcast(targets), df[pcol].cast("string") == F.col("_pv"))
            .withColumn(
                "_g", F.pmod(F.xxhash64(*data_cols), F.col("_groups"))
            )
            .drop("_pv", "_groups")
        )
        staging = self.path.rstrip("/") + "/_compacting"
        (
            grouped.repartition(sum(plan.values()), F.col(pcol), F.col("_g"))
            .drop("_g")
            .write.mode("overwrite")
            .partitionBy(pcol)
            .parquet(staging)
        )

        jvm = spark._jvm
        fs = jvm.org.apache.hadoop.fs.Path(self.path).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        # Verify every staged replacement exists BEFORE deleting any
        # live partition — a partition value that fails to round-trip
        # through the isin() filter would otherwise be silently lost.
        missing = [
            d
            for d in before
            if not fs.exists(jvm.org.apache.hadoop.fs.Path(f"{staging}/{d}"))
        ]
        if missing:
            fs.delete(jvm.org.apache.hadoop.fs.Path(staging), True)
            raise RuntimeError(
                f"compaction staged no data for partitions {missing}; "
                "aborting swap (live data untouched)"
            )
        for dirname in before:
            _swap_partition_dir(jvm, fs, self.path, staging, dirname)
        fs.delete(jvm.org.apache.hadoop.fs.Path(staging), True)

        after = self.partition_stats(spark)
        return {d: (before[d], after[d][1]) for d in before}


def _swap_partition_dir(
    jvm, fs, base: str, staging: str, dirname: str
) -> None:
    """Swap one live partition dir for its staged replacement via two
    renames (r15): the old ``delete(old) → rename(new, old)`` order
    left a crash window where the ORIGINAL data was already deleted
    before the replacement landed — the partition was simply gone from
    the live tree (the rewrite survived only as unreferenced staging
    debris). Rename-aside first: the original moves to
    ``<staging>/_replaced_<dirname>`` (rename refuses an existing
    destination, so delete-first was never required — moving it is),
    then the replacement renames in; on failure the original renames
    BACK, loudly. A crash between the two renames leaves BOTH copies
    on disk (recover by renaming ``_replaced_*`` back); nothing is
    deleted until the staging cleanup after every partition swapped.
    Readers (r16): a ``_swapping_<dirname>`` sentinel at the table
    root brackets the absent-partition window, so ``LakeTable.read``
    retries briefly then fails LOUDLY instead of silently returning a
    tree with the partition missing; the sentinel outlives a crashed
    swap on purpose — reads stay loud until the operator recovers.
    The remaining check-then-list race (a swap starting between the
    sentinel check and Spark's file listing) is the documented trade
    of the Hive-layout lake vs the manifest table's snapshot
    protocol (this module's docstring)."""
    old = jvm.org.apache.hadoop.fs.Path(f"{base}/{dirname}")
    new = jvm.org.apache.hadoop.fs.Path(f"{staging}/{dirname}")
    trash = jvm.org.apache.hadoop.fs.Path(f"{staging}/_replaced_{dirname}")
    # Publish the swap to READERS before the partition goes absent
    # (r16): a read racing the two-rename window would list the tree
    # without this partition and silently return zero rows for it.
    # LakeTable.read checks these sentinels (leading `_` keeps Spark's
    # own listing blind to the file). Created FIRST — if the sentinel
    # can't land, abort with live data untouched.
    sentinel = jvm.org.apache.hadoop.fs.Path(
        f"{base}/{_SWAP_SENTINEL_PREFIX}{dirname}"
    )
    if not fs.createNewFile(sentinel):
        raise RuntimeError(
            f"compaction swap could not publish its reader sentinel "
            f"for {dirname} (already present? crashed prior swap — "
            f"recover by renaming {staging}/_replaced_{dirname} back "
            "and deleting the sentinel); live data untouched"
        )
    if not fs.rename(old, trash):
        fs.delete(sentinel, False)
        raise RuntimeError(
            f"compaction swap could not move live partition {dirname} "
            "aside; live data untouched"
        )
    # Hadoop rename signals failure EITHER by returning false OR by
    # raising (RawLocalFileSystem throws FileNotFoundException for a
    # missing source) — the rollback must cover both, or the original
    # would be stranded in the trash slot exactly when restoring it
    # matters most
    try:
        ok = bool(fs.rename(new, old))
    except Exception:
        ok = False
    if not ok:
        # the restore itself can fail (store error, path claimed) —
        # checked, or the error would claim "restored" while the
        # original actually sits in the trash slot
        try:
            restored = bool(fs.rename(trash, old))
        except Exception:
            restored = False
        if restored:
            fs.delete(sentinel, False)  # tree is whole again
            raise RuntimeError(
                f"compaction swap rename failed for {dirname}; original "
                f"partition restored, rewritten data preserved at "
                f"{staging}"
            )
        # sentinel INTENTIONALLY left in place: the partition is
        # genuinely absent from the live tree, so readers must stay
        # loud until the operator recovers
        raise RuntimeError(
            f"compaction swap rename failed for {dirname} AND the "
            f"rollback rename failed: the original partition is "
            f"PRESERVED (not restored) at {staging}/_replaced_{dirname} "
            f"— rename it back to {base}/{dirname} and delete the "
            f"{_SWAP_SENTINEL_PREFIX}{dirname} sentinel to recover; "
            "nothing was deleted"
        )
    fs.delete(sentinel, False)  # replacement is live — reopen reads
