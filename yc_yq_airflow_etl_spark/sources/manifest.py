"""Snapshot-manifest committed parquet table.

``LakeTable.compact_partitions`` documents the S3 caveat honestly: a
directory-swap commit relies on atomic rename, which object stores do
not have (rename = copy + delete, and a reader listing the directory
mid-swap sees a torn table). The industry answer — the core of what a
Delta/Iceberg snapshot does — is to make the FILE LIST the unit of
commit instead of the directory:

- data files are immutable and write-once, under unique names;
- a manifest (one small JSON) lists the files of a snapshot;
- the COMMIT POINT is the appearance of manifest v(N+1): it is
  created under a temp name and renamed into place. Rename-to-a-
  fresh-name is atomic on HDFS/local-fs; readers resolve the highest
  complete manifest and read exactly its files, never a directory
  listing of data/.

Every mutation — overwrite, append, compaction — reduces to "write
files, publish manifest", so concurrent readers always see a complete
snapshot (old or new, never a mix), failed writers leave only
unreferenced garbage for vacuum, and time travel is free (old
manifests still resolve).

All I/O goes through the Hadoop FileSystem API resolved from the
table path (same pattern as LakeTable.compact_partitions), so the
same code runs over file://, hdfs:// or s3a://. On S3 the publish
rename is copy+delete of ONE tiny object — the race window the
directory swap has for the whole table shrinks to a single metadata
file. ``publish_mode="conditional-create"`` closes even that:
``FileSystem.create(dest, overwrite=False)`` is the putIfAbsent —
exactly-one writer claims a version name (on S3A with Hadoop 3.3+
conditional writes, the If-None-Match PUT commits at close). The
cost of skipping the temp-file indirection is that a writer crashing
mid-write can leave a TORN manifest under a claimed version name, so
the reader protocol is hardened to match: a manifest that fails JSON
parse (or lacks a ``files`` list) is treated as uncommitted and
skipped during snapshot resolution; the next writer burns that
version number and publishes the one above it. This mirrors the
commit discipline of Delta's S3 LogStore / Iceberg's catalog swap:
the commit point is "a VALID manifest exists at the next name", not
merely "a file exists". The reference's ``max_active_runs=1``
schedule (yq_dag.py:105) makes single-writer the common case; the
guard makes the concurrent case safe rather than assumed away.

Row-level mutation comes in both industry shapes: COPY-ON-WRITE
(touched files rewritten without their dead rows — read-optimal) and
MERGE-ON-READ (the dead rows' (file, row_index) positions land as
deletion-vector parts under deletes/ and readers subtract them with a
broadcast anti-join — write-optimal, O(batch) per CDC commit). Any
rewrite of a file materializes its deletes; ``maybe_compact`` pays
the accumulated DV debt down on a threshold.

Layout::

    <path>/data/<uuid>.parquet      immutable data files
    <path>/deletes/<uuid>.parquet   deletion-vector parts (_f, _pos)
    <path>/_manifests/v{N}.json     {"files": [...], "rows": R,
                                     "dvs": {file: {parts, rows}}, ...}

Reference: the reference pipeline's idempotency contract
(yq_dag.py:16-19 delete-prefix-then-insert) is subsumed — re-running a
failed commit re-publishes the same logical snapshot and the orphaned
files of the failed attempt are vacuumed, never read.
"""

from __future__ import annotations

import json
import re
import struct
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession

from ..session import local_frame

_MANIFEST_RE = re.compile(r"^v(\d+)\.json$")


def _nullable_type(dt):
    """The type with nullability forced TRUE at EVERY nesting level
    (struct fields, array elements, map values) and field metadata
    dropped. Spark's DataType equality is nullability- and
    metadata-sensitive, but neither carries schema meaning here: files
    written before an evolution NULL-fill whole columns, so nothing
    stays provably non-null — and a nested-nullability mismatch must
    not read as a type conflict."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _nullable_type(f.dataType), True)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable_type(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _nullable_type(dt.keyType), _nullable_type(dt.valueType), True
        )
    return dt


def _schema_json(schema) -> str:
    """Canonical JSON for a snapshot's logical schema — all-nullable
    at every level (see _nullable_type)."""
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField(f.name, _nullable_type(f.dataType), True)
            for f in schema.fields
        ]
    ).json()


def _schema_from_json(s: str):
    from pyspark.sql import types as T

    return T.StructType.fromJson(json.loads(s))


# sentinel: a shared column changed type between the recorded schema
# and an appended frame — record nothing AND force the evolved flag so
# reads go through mergeSchema, which fails LOUDLY on the conflict
# instead of adopting one file's footer nondeterministically
_SCHEMA_CONFLICT = object()


def _merged_schema_json(old_manifest: dict, new_schema):
    """The appended snapshot's logical schema: the predecessor's
    recorded schema with the new frame's novel columns appended —
    the same commit-time resolution Delta/Iceberg record so readers
    never pay a footer sweep. Returns None ("don't record") for a
    legacy predecessor without a recorded schema, or _SCHEMA_CONFLICT
    when a shared column's type differs (nullability-insensitively) —
    the caller must then set the evolved flag, since with identical
    column NAMES nothing else would, and a plain read over mixed
    physical types is nondeterministic."""
    from pyspark.sql import types as T

    if not old_manifest:
        return _schema_json(new_schema)
    old_json = old_manifest.get("schema")
    if old_json is None:
        return None
    old = _schema_from_json(old_json)
    have = {f.name: f.dataType for f in old.fields}
    fields = list(old.fields)
    for f in new_schema.fields:
        if f.name in have:
            if _nullable_type(have[f.name]) != _nullable_type(f.dataType):
                return _SCHEMA_CONFLICT
        else:
            fields.append(f)
    return _schema_json(T.StructType(fields))


# lossless write-side widenings: a CDC batch whose literal landed as a
# narrower numeric type must not brick the table, but it must also not
# silently change the recorded schema — the batch CASTS to the table
_INT_WIDTHS = ("tinyint", "smallint", "int", "bigint")


def _check_new_names(names, what: str) -> None:
    """Delta-style identifier contract for names ENTERING the table:
    dots and backticks in top-level column names are rejected. Spark
    resolves unquoted dotted names as struct-field access, so every
    engine touching the table (update/delete selects, stat
    expressions, oracle SQL) would need perfect quoting discipline
    forever — and a struct column alongside its dotted twin resolves
    AMBIGUOUSLY, silently writing wrong data. Only NEW names are
    gated: a pre-contract table that already carries such a name
    stays readable/compactable (grandfathered) rather than becoming
    permanently unmaintainable."""
    bad = sorted(c for c in names if "." in c or "`" in c)
    if bad:
        raise ValueError(
            f"{what}: unsupported column name(s) {bad} — dots/backticks "
            "in top-level names break Spark column resolution; rename "
            "before writing"
        )


def _widens_to(src, dst) -> bool:
    s, d = src.simpleString(), dst.simpleString()
    if s == d:
        return True
    if s == "void":
        # an all-NULL column (lit(None)) casts losslessly to anything
        return True
    if s in _INT_WIDTHS and d in _INT_WIDTHS:
        return _INT_WIDTHS.index(s) <= _INT_WIDTHS.index(d)
    return s == "float" and d == "double"

# column types whose min/max can round-trip through the JSON manifest
# and compare correctly on read-back (ints/floats compare numerically,
# strings lexicographically — both orderings match Spark's)
_STATS_TYPES = {"tinyint", "smallint", "int", "bigint", "float", "double", "string"}

# how each stats type's footer min/max bytes decode (parquet-mr writes
# them little-endian); None: a string, compared as unsigned UTF-8 bytes
_FOOTER_FORMATS = {
    "tinyint": "<i",
    "smallint": "<i",
    "int": "<i",
    "bigint": "<q",
    "float": "<f",
    "double": "<d",
    "string": None,
}


def _check_stat_types(stat_cols, types: dict) -> None:
    for c in stat_cols:
        if types.get(c) not in _STATS_TYPES:
            raise ValueError(
                f"stat column {c!r} has type {types.get(c)} — only "
                f"{sorted(_STATS_TYPES)} survive the JSON manifest "
                "round-trip with correct ordering"
            )


def _stats_truncate_length(spark: SparkSession) -> int | None:
    """The byte length past which the session's Parquet writer
    truncates string min/max (``parquet.statistics.truncate.length``;
    unset: never). A footer string bound at or past it may be a
    truncated prefix, not the value."""
    vals = [
        spark.conf.get("parquet.statistics.truncate.length", None),
        spark._jsc.hadoopConfiguration().get(
            "parquet.statistics.truncate.length"
        ),
    ]
    set_ = [int(v) for v in vals if v]
    return min(set_) if set_ else None


def _stats_sql_type(bounds) -> str:
    """SQL type for a column of recorded min/max stat values (post-
    JSON-round-trip: int, float, or str — the only shapes
    ``_STATS_TYPES`` admits). Scans ALL values, not just the first
    non-null one: a manifest whose recorded bounds mix int and float
    across files (reachable only via hand-edited/legacy manifests,
    which merge elsewhere explicitly tolerates) widens to double
    instead of aborting on local_frame's per-row type check; a
    str/numeric mix has no common ordering and raises a clear error.
    All-null columns (bucket-only files record no range) default to
    bigint — any type works there since every comparison against NULL
    is non-matching."""
    has_int = has_float = has_str = False
    for v in bounds:
        if v is None or isinstance(v, bool):
            continue  # bool is an int subclass — not a valid stat value
        if isinstance(v, int):
            has_int = True
        elif isinstance(v, float):
            has_float = True
        elif isinstance(v, str):
            has_str = True
    if has_str and (has_int or has_float):
        raise ValueError(
            "manifest range stats mix string and numeric bounds for one "
            "column — the recorded stats are inconsistent; repair the "
            "manifest or drop the column from stat_cols"
        )
    if has_str:
        return "string"
    if has_float:
        return "double"
    return "bigint"


def _bucket_canon_type(dtype: str | None, col: str) -> str:
    """Canonical hash-input type for a bucket column: integer widths
    all hash as bigint, floats as double, strings as-is — so the probe
    side (hashing a Python literal) and the commit side (hashing the
    column) always feed xxhash64 identical bytes."""
    if dtype in ("tinyint", "smallint", "int", "bigint"):
        return "bigint"
    if dtype in ("float", "double"):
        return "double"
    if dtype == "string":
        return "string"
    raise ValueError(
        f"bucket column {col!r} has type {dtype} — only integer, "
        "float/double, and string columns bucket deterministically"
    )


def _bucket_canon_type_of_value(value) -> str:
    if value is None:
        # SQL three-valued logic: `col = NULL` matches NO row, so an
        # equality probe with None is always a caller bug — the IS
        # NULL predicate has its own machinery (null-count stats)
        raise ValueError(
            "an equality probe with NULL matches no row — use "
            "read_where_null / pruned_files_null for IS NULL"
        )
    if isinstance(value, bool):
        raise ValueError("bucket probes on booleans are not supported")
    if isinstance(value, int):
        return "bigint"
    if isinstance(value, float):
        return "double"
    if isinstance(value, str):
        return "string"
    raise ValueError(f"unsupported bucket probe type: {type(value).__name__}")


def _qcol(name: str):
    """A column by its literal name, backtick-quoted: a dot in a
    column name must not parse as struct-field access."""
    from pyspark.sql import functions as F

    return F.col("`" + name.replace("`", "``") + "`")


# the (file, row_index) position columns a find step tags rows with
_POS = ("__dv_f", "__dv_pos")

# a deletion-vector part's columns: _metadata.file_name, row_index
_DV_SCHEMA = "_f string, _pos bigint"

# manifest keys describing a snapshot's content beyond its file list
# and row count: a commit that re-publishes a snapshot's content
# (heal, restore, a batch-id-only append) carries exactly these
_CONTENT_KEYS = ("columns", "schema", "stats", "evolved", "read_merged", "dvs")


class _RowChange(NamedTuple):
    """What one row-level op hands :meth:`ManifestTable._row_change`:
    only what differs between MERGE, DELETE WHERE and UPDATE WHERE."""

    candidates: list[str]  # files that may hold matching rows
    match: Callable  # position-tagged live rows -> the matching rows
    rewrite: Callable  # copy-on-write: touched live rows -> replacement
    images: Callable  # found matches (None: no find) -> rows to append
    # manifest key recording the matched-row count; a tallying op
    # finds in both modes and commits nothing when nothing matches
    tally: str | None = None


class ConcurrentWriteError(RuntimeError):
    """A conditional commit found the snapshot advanced past the
    version it was computed against — the caller must re-run against
    the new base (same contract as Delta/Iceberg commit conflicts)."""


class PublishContentionError(RuntimeError):
    """The publish loop lost every one of its bounded retries — each
    loss is a put that PROVABLY did not land (putIfAbsent saw the name
    claimed), so unlike a raw store exception this failure is known to
    have committed nothing (the cleanup paths rely on that)."""


class RestoreRacedVacuumError(RuntimeError):
    """A concurrent :meth:`ManifestTable.vacuum` deleted the restore
    target's files in the window between the restore's last existence
    check and its manifest publish (retired-history files delete
    regardless of age, and a restore is the one operation that
    resurrects them — the pure-CAS commit protocol cannot exclude the
    interleaving entirely). The restore did NOT take effect: before
    raising, the table was HEALED by re-publishing the newest still-
    materializable snapshot as a forward commit, so the live table
    stays readable; the torn restore version remains in history as an
    unreadable tombstone. Operationally: don't schedule vacuum
    concurrently with restores, or keep ``keep_versions`` above the
    oldest restore target."""


class WapRacedVacuumError(RuntimeError):
    """A :meth:`ManifestTable.write_audit_publish` whose audit outlived
    the vacuum stage-marker TTL lost its staged files to a concurrent
    vacuum in the residual window between the publish's last existence
    check and the manifest put landing in the vacuum's candidate scan
    (the restore-race shape by another door, r15). The batch is NOT
    durable: before raising, the table was HEALED by re-publishing the
    newest still-materializable snapshot with THAT snapshot's streaming
    high-water mark — never the torn commit's — so a batch_id-keyed
    replay of the lost batch lands instead of being silently skipped
    against data that no longer exists. Operationally: audits that can
    run past ``stage_marker_ttl_seconds`` (default 7 d) should raise
    the TTL or split the audit."""


class CommitAmbiguousError(RuntimeError):
    """The manifest put itself raised, and the commit MAY have landed
    server-side anyway (on S3A the close() that raised IS the PUT) —
    Iceberg's CommitStateUnknown semantics. The staged files are left
    on disk (a late-landing manifest may reference them; vacuum
    reclaims them if not). Callers must NOT blind-retry a
    non-idempotent operation on this error: reconcile first by
    checking current_version()/history() for the attempted commit.
    The batch_id-keyed streaming paths are safe to retry as-is — a
    landed commit carries the high-water mark and the replay is
    skipped."""


@dataclass(frozen=True)
class ManifestTable:
    path: str
    # "rename": temp file + rename-to-fresh-name — atomic on local/HDFS.
    # "conditional-create": create(dest, overwrite=False) putIfAbsent —
    # the S3-safe claim; torn manifests possible, reader skips them.
    publish_mode: str = "rename"
    # columns whose per-FILE min/max are recorded in the manifest at
    # commit time (Iceberg-style file stats). They power manifest-level
    # data skipping (`pruned_files`/`read_where`) and merge()'s
    # touched-file selection — at 100 TB the difference between a
    # metadata decision and a full-table scan. Numeric/string only.
    stat_cols: tuple[str, ...] = ()
    # Iceberg-style BUCKET transform metadata: {col: n_buckets}. Each
    # commit records, per file, the SET of xxhash64-derived bucket
    # values present for the column (bounded by n_buckets — metadata-
    # scale). An equality probe then keeps only files whose set holds
    # the probe's bucket (`pruned_files_eq`/`read_where_eq`) — the
    # pruning min/max ranges cannot give for high-cardinality keys
    # whose values interleave across files. Effective when the writer
    # clusters files by the same bucket function (the usual layout for
    # bucketed tables); harmless (prunes nothing) when it does not.
    # Tuple-of-pairs (not a dict) keeps the frozen dataclass hashable.
    bucket_cols: tuple[tuple[str, int], ...] = ()

    # -- filesystem plumbing (Hadoop FS API — file://, hdfs://, s3a://) --

    def _fs(self, spark: SparkSession):
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(self.path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return jvm, fs

    def _jp(self, jvm, *parts: str):
        return jvm.org.apache.hadoop.fs.Path("/".join((self.path,) + parts))

    def _read_text(self, spark: SparkSession, *parts: str) -> str:
        jvm, fs = self._fs(spark)
        stream = fs.open(self._jp(jvm, *parts))
        try:
            return jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()

    def _write_text_atomic(
        self, spark: SparkSession, content: str, *parts: str
    ) -> bool:
        """Write under a temp name, rename to the final (fresh) name.
        Returns False if the destination appeared concurrently — the
        loser of a publish race must retry with the next version."""
        jvm, fs = self._fs(spark)
        tmp = self._jp(jvm, parts[0], f"_tmp_{uuid.uuid4().hex}")
        out = fs.create(tmp, True)
        try:
            out.write(bytearray(content.encode("utf-8")))
        finally:
            out.close()
        dest = self._jp(jvm, *parts)
        if not fs.rename(tmp, dest):
            fs.delete(tmp, False)
            return False
        return True

    def _put_if_absent(self, spark: SparkSession, content: str, *parts: str) -> bool:
        """putIfAbsent commit: ``create(dest, overwrite=False)`` fails
        with FileAlreadyExistsException if another writer already
        claimed this version name — no rename needed, so it is safe on
        stores without atomic rename (S3). A crash between create and
        close leaves a torn manifest; `_try_manifest` quarantines it.

        Only a *lost race* (FileAlreadyExistsException) returns False —
        any other create failure (permissions, bad path, connectivity)
        re-raises, because `_publish` responds to False by retrying the
        next version forever: a persistent non-race failure must
        surface as an error, not a livelock.

        ATOMICITY: create(overwrite=False) is a true conditional PUT
        where the store provides one (HDFS namenode lease, S3
        conditional writes / If-None-Match). Hadoop's LOCAL filesystem
        is the exception — there create(overwrite=False) is
        check-then-act, a race window the r12 two-writer stress test
        actually hit (both appends "won" the same version name). For
        ``file://`` the claim therefore goes through POSIX
        ``O_CREAT|O_EXCL`` instead, which IS atomic, same-process and
        cross-process — the local twin then honors the same
        exactly-one-winner contract as the object-store path.

        The POSIX branch intentionally bypasses Hadoop's
        ChecksumFileSystem, so no ``.crc`` sidecar is written for the
        claimed manifest (unlike ``fs.create``): manifest reads go
        through ``_try_manifest``'s own parse-and-quarantine
        validation, never through Hadoop checksum verification, so the
        sidecar would be dead weight. The local path is resolved from
        ``fs.makeQualified(dest)`` — NOT the raw ``dest`` — so a
        relative table path resolves against the Hadoop FS working
        directory rather than the Python process CWD (the two can
        diverge; r12 ADVICE)."""
        jvm, fs = self._fs(spark)
        dest = self._jp(jvm, *parts)
        fs.mkdirs(dest.getParent())
        if fs.getScheme() == "file":
            import os

            local = fs.makeQualified(dest).toUri().getPath()
            try:
                fd = os.open(local, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                return False  # lost the race: the name is claimed
            with os.fdopen(fd, "wb") as out_f:
                out_f.write(content.encode("utf-8"))
            return True
        try:
            out = fs.create(dest, False)
        except Exception as exc:
            # py4j surfaces the Java class; match it precisely — any
            # exception that is NOT the already-exists signal re-raises
            java_cls = ""
            je = getattr(exc, "java_exception", None)
            if je is not None:
                java_cls = je.getClass().getName()
            if "FileAlreadyExistsException" in java_cls or (
                je is None and "FileAlreadyExistsException" in str(exc)
            ):
                return False  # lost the race: the name is claimed
            raise
        try:
            out.write(bytearray(content.encode("utf-8")))
        finally:
            out.close()
        return True

    def _list_names(self, spark: SparkSession, subdir: str) -> list[str]:
        jvm, fs = self._fs(spark)
        d = self._jp(jvm, subdir)
        if not fs.exists(d):
            return []
        return [st.getPath().getName() for st in fs.listStatus(d)]

    # -- snapshot resolution ---------------------------------------------

    def _name_versions(self, spark: SparkSession) -> list[int]:
        """Every version NUMBER with a manifest file present, valid or
        torn — publish targeting must skip claimed names either way."""
        return sorted(
            int(m.group(1))
            for n in self._list_names(spark, "_manifests")
            if (m := _MANIFEST_RE.match(n))
        )

    def _try_manifest(self, spark: SparkSession, version: int) -> dict | None:
        """The manifest if it is a COMPLETE commit record, else None.
        A torn write (conditional-create writer crashed mid-PUT) fails
        JSON parse or lacks `files` — treated as uncommitted."""
        try:
            m = json.loads(self._read_text(spark, "_manifests", f"v{version}.json"))
        except Exception:
            return None
        if not isinstance(m, dict) or not isinstance(m.get("files"), list):
            return None
        return m

    def _newest(self, spark: SparkSession, names: list[int]) -> tuple[int | None, dict]:
        """``(version, manifest)`` of the newest VALID manifest among
        the claimed version ``names`` — ``(None, {})`` when none is.
        Scans from the top so the common case (no torn manifests)
        costs one read."""
        for v in reversed(names):
            m = self._try_manifest(spark, v)
            if m is not None:
                return v, m
        return None, {}

    def current_version(self, spark: SparkSession) -> int | None:
        """Highest VALID manifest version — the valid manifest FILE is
        the commit record; no separate pointer object to keep
        consistent with it."""
        return self._newest(spark, self._name_versions(spark))[0]

    def _manifest(self, spark: SparkSession, version: int) -> dict:
        m = self._try_manifest(spark, version)
        if m is None:
            raise FileNotFoundError(
                f"no committed manifest v{version} at {self.path} "
                "(missing or torn)"
            )
        return m

    def _snapshot(
        self, spark: SparkSession, version: int | None = None
    ) -> tuple[int, dict]:
        """``(version, manifest)`` of snapshot ``version`` — the
        current one when None. Callers pin the returned version for
        every later lookup, so one operation never pairs two
        snapshots."""
        v = self.current_version(spark) if version is None else version
        if v is None:
            raise FileNotFoundError(f"no committed snapshot at {self.path}")
        return v, self._manifest(spark, v)

    def manifest_files(self, spark: SparkSession, version: int) -> list[str]:
        """Public accessor: the data-file names version ``version``
        commits. Raises :class:`FileNotFoundError` with a descriptive
        message for a missing or torn manifest — callers outside this
        module should use this rather than reaching into
        :meth:`_try_manifest` (whose None return turns into an
        AttributeError at the ``.get`` call site)."""
        return list(self._manifest(spark, version).get("files", []))

    # -- write path ------------------------------------------------------

    def _write_files(
        self, df: DataFrame, subdir: str = "data"
    ) -> tuple[list[str], SparkSession, int]:
        """Land df as immutable uniquely-named parquet files under
        ``subdir``/ (data files, or deletion-vector parts under
        deletes/) and return ``(names, spark, n_rows)``. The Spark job
        writes to a staging dir; each part file is renamed to a unique
        name under the target — renaming UNPUBLISHED files is safe on
        any store because no manifest references them yet.

        ``n_rows`` is the written row count, observed on the write
        job itself (``DataFrame.observe`` — r17): commit paths on
        stats-less tables used to pay a SECOND read of the
        just-landed files purely to count them (``_rows_of``
        fallback); the write scan now reports the count for free."""
        if subdir == "data":
            # the ONE choke point every data file passes through: keep
            # the DV position-key names out of committed snapshots, so
            # _strip_dvs/_live_positions can stamp them on any read or
            # rewrite without ever clobbering user data (DV parts
            # themselves use _f/_pos and are internal frames)
            from .._reserved import reserve_tags

            reserve_tags(
                "ManifestTable write", df.columns, "__dv_f", "__dv_pos"
            )
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        spark = df.sparkSession
        jvm, fs = self._fs(spark)
        staging_name = f"_staging_{uuid.uuid4().hex}"
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(f"{self.path}/{staging_name}")
        n_rows = int(obs.get["n"])
        names: list[str] = []
        try:
            for fname in sorted(self._list_names(spark, staging_name)):
                if fname.endswith(".parquet"):
                    name = f"{uuid.uuid4().hex}.parquet"
                    if not fs.rename(
                        self._jp(jvm, staging_name, fname),
                        self._jp(jvm, subdir, name),
                    ):
                        # first file ever in target: parent may not exist
                        fs.mkdirs(self._jp(jvm, subdir))
                        if not fs.rename(
                            self._jp(jvm, staging_name, fname),
                            self._jp(jvm, subdir, name),
                        ):
                            raise RuntimeError(
                                f"staging rename failed for {fname}"
                            )
                    names.append(name)
        except BaseException:
            # all-or-nothing stage: a failure mid-loop has already
            # renamed some files under fresh names the caller will
            # never learn — delete them (unreferenced by construction)
            # so a partial stage cannot orphan
            for n in names:
                fs.delete(self._jp(jvm, subdir, n), False)
            fs.delete(self._jp(jvm, staging_name), True)
            raise
        fs.delete(self._jp(jvm, staging_name), True)
        return names, spark, n_rows

    def _abandon_files(
        self, spark: SparkSession, files, dv_parts=()
    ) -> None:
        """Delete a stage — data ``files`` and deletion-vector
        ``dv_parts`` — whose commit attempt is KNOWN dead: only call
        when no put could have landed (a pre-publish rejection, or a
        publish failure :meth:`_publish` proves pre-put). An ambiguous
        put failure must NEVER reach this (see CommitAmbiguousError)."""
        if not files and not dv_parts:
            return
        jvm, fs = self._fs(spark)
        for f in files:
            fs.delete(self._jp(jvm, "data", f), False)
        for p in dv_parts:
            fs.delete(self._jp(jvm, "deletes", p), False)

    def _write_stage_marker(
        self, spark: SparkSession, files: list[str]
    ) -> str:
        """Record a long-lived pre-publish stage under ``_stage/`` so
        :meth:`vacuum` protects the listed data files REGARDLESS of
        age (Iceberg's staged-snapshot protection, r14). The in-flight
        orphan grace covers writers whose stage-to-publish window is
        seconds (append, merge); WRITE-AUDIT-PUBLISH's audit window is
        unbounded by design, so an audit outlasting the grace left its
        staged files looking like stale debris — a concurrent vacuum
        deleted them and the publish committed a manifest referencing
        missing files (a bricked table; interleaving-stress-tested).
        The marker is dropped on publish success, on audit rejection,
        and on provably-unpublished failures; it survives
        CommitAmbiguousError (a late-landing manifest may reference
        the stage) and crashed writers, where vacuum's marker TTL
        eventually reclaims it."""
        name = f"stage_{uuid.uuid4().hex}.json"
        self._write_text_atomic(
            spark,
            json.dumps({"files": list(files), "created_at": time.time()}),
            "_stage",
            name,
        )
        return name

    def _drop_stage_marker(self, spark: SparkSession, name: str) -> None:
        jvm, fs = self._fs(spark)
        p = self._jp(jvm, "_stage", name)
        if fs.exists(p):
            fs.delete(p, False)

    @contextmanager
    def _staged_cleanup(self, spark: SparkSession, data_files, dv_parts=()):
        """PRE-PUBLISH no-orphan window: any exception between staging
        and the first publish attempt (a stats/count job, a second
        staging write, a validation) provably precedes every put, so
        deleting the stage is safe. ``data_files``/``dv_parts`` are
        captured BY REFERENCE — append names to them as staging
        proceeds and whatever has landed by failure time is cleaned.
        The publish call itself must sit OUTSIDE this window (its
        failures need the classification :meth:`_publish` applies —
        an ambiguous put may have landed). BaseException, not
        Exception, for consistency with _write_files' own cleanup —
        a KeyboardInterrupt during the stats/count window must not
        leak the stage as orphans."""
        try:
            yield
        except BaseException:
            self._abandon_files(spark, list(data_files), list(dv_parts))
            raise

    def _file_stats(
        self, spark: SparkSession, files: list[str]
    ) -> dict[str, dict[str, list]]:
        """Per-file metadata for freshly-landed files (cost scales with
        the NEW files only — carried-forward files keep their recorded
        stats): the physical row count, min/max and null count for
        ``stat_cols``, and for ``bucket_cols`` the bounded set of
        bucket values present (recorded under a ``bucket:<col>`` key
        so it can never collide with a range entry). Returns {} when
        neither is configured.

        Parquet footers already hold row counts, min/max and null
        counts, so without ``bucket_cols`` each entry is read from its
        file's footer on the driver (:meth:`_footer_stats`) — no Spark
        job, the way Iceberg and Delta take file stats from the
        writer. One column-pruned Spark pass (:meth:`_scanned_stats`)
        covers what footers cannot answer exactly: bucket sets, and
        any file whose footer lacks a bound or may disagree with the
        pass (see :meth:`_footer_stats`). Both routes record
        byte-identical entries. Footers are read one after another:
        ~4 ms per file on local files, under the pass's cost at every
        size measured (1–300 files, 4-core host); a store with a high
        per-request latency pays it once per file."""
        if (not self.stat_cols and not self.bucket_cols) or not files:
            return {}
        out: dict[str, dict[str, list]] = {}
        rest = list(files)
        if not self.bucket_cols:
            trunc = _stats_truncate_length(spark)
            footer = self._footer_reader(spark)
            rest = []
            for f in files:
                entry = self._footer_stats(footer(f), trunc)
                if entry is None:
                    rest.append(f)
                elif entry:  # an empty file records no entry (as the pass)
                    out[f] = entry
        if rest:
            out.update(self._scanned_stats(spark, rest))
        return out

    def _stats_entry(self, rows: int, ranges: dict) -> dict:
        """One file's recorded stats entry from its row count and, per
        stat column, ``(min, max, nulls)`` — the one layout both stats
        routes record. The row count is keyed "rows:" (empty column
        part) so it can never collide with a real column's range
        entry; commits account rows from it instead of re-reading
        freshly written data."""
        entry: dict = {"rows:": int(rows)}
        for c in self.stat_cols:
            mn, mx, nulls = ranges[c]
            # an entirely-null column yields null min/max: record NO
            # range for it — readers then keep the file conservatively
            # instead of comparing None against real bounds
            if mn is not None and mx is not None:
                entry[c] = [mn, mx]
            # null count completes the stats triad (ranges, buckets,
            # nulls): IS NULL probes prune on it, and min/max alone
            # cannot say whether a file HAS nulls
            entry[f"nulls:{c}"] = int(nulls or 0)
        return entry

    def _footer_reader(self, spark: SparkSession) -> Callable:
        """``read(name)``: data file ``name``'s Parquet footer, read
        through the table's Hadoop FileSystem by parquet-mr's footer
        reader (so every store :meth:`_fs` handles works). The JVM
        classes are resolved once, not per file. ``readFooter`` reads
        only the footer; opening a ``ParquetFileReader`` for it cost
        ~10x more per file (a 4-core host, local files)."""
        jvm, fs = self._fs(spark)
        parquet = jvm.org.apache.parquet
        read_footer = parquet.hadoop.ParquetFileReader.readFooter
        from_status = parquet.hadoop.util.HadoopInputFile.fromStatus
        whole = parquet.format.converter.ParquetMetadataConverter.NO_FILTER
        path = jvm.org.apache.hadoop.fs.Path
        conf = spark._jsc.hadoopConfiguration()

        def read(name: str):
            status = fs.getFileStatus(path(f"{self.path}/data/{name}"))
            return read_footer(from_status(status, conf), whole)

        return read

    def _footer_stats(self, footer, trunc: int | None) -> dict | None:
        """A data file's stats entry from its Parquet ``footer``, with
        row counts, null counts and min/max merged across row groups.
        ``{}`` for a file with no rows (the Spark pass groups none).

        Returns None — fall back to the Spark pass — wherever the
        footer cannot give that pass's answer exactly: no Spark schema
        in the footer; a row group with values but no min/max
        (parquet-mr omits bounds over 4 KiB, and drops float bounds
        when a NaN is present — Spark's max would be NaN); a float
        bound of ±0.0 (the footer reader widens zeros to [-0.0, +0.0],
        while Spark's min/max keeps whichever zero it met first); a
        string bound the writer may have truncated (``trunc``); bytes
        that are not UTF-8. Java lists are walked by index: each step
        of a py4j iterator, its end included, is a round trip, and the
        end arrives as a converted exception."""
        meta = footer.getFileMetaData().getKeyValueMetaData().get(
            "org.apache.spark.sql.parquet.row.metadata"
        )
        if meta is None:
            return None
        types = {
            f.name: f.dataType.simpleString()
            for f in _schema_from_json(meta).fields
        }
        _check_stat_types(self.stat_cols, types)
        rows = 0
        ranges = {c: [None, None, 0] for c in self.stat_cols}
        at: dict[str, int] = {}  # stat column -> its chunk's position
        blocks = footer.getBlocks()
        for b in range(blocks.size()):
            block = blocks.get(b)
            n = block.getRowCount()
            rows += n
            chunks = block.getColumns()
            if not at:  # every row group lists the same leaf columns
                for i in range(chunks.size()):
                    path = chunks.get(i).getPath().toArray()
                    if len(path) == 1 and path[0] in ranges:
                        at[path[0]] = i
                if len(at) != len(ranges):
                    return None
            for c, i in at.items():
                st = chunks.get(i).getStatistics()
                nulls = st.getNumNulls()  # -1: not recorded
                if nulls < 0:
                    return None
                ranges[c][2] += nulls
                if not st.hasNonNullValue():
                    if nulls < n:
                        return None  # values present, bounds omitted
                    continue
                # strings stay bytes until the end: unsigned byte order
                # is Spark's string order
                fmt = _FOOTER_FORMATS[types[c]]
                bounds = []
                for raw in (bytes(st.getMinBytes()), bytes(st.getMaxBytes())):
                    if fmt is None:
                        if trunc is not None and len(raw) >= trunc:
                            return None
                        bounds.append(raw)
                        continue
                    if len(raw) != struct.calcsize(fmt):
                        return None
                    v = struct.unpack(fmt, raw)[0]
                    if isinstance(v, float) and (v == 0.0 or v != v):
                        return None
                    bounds.append(v)
                mn, mx, _ = ranges[c]
                if mn is None or bounds[0] < mn:
                    ranges[c][0] = bounds[0]
                if mx is None or bounds[1] > mx:
                    ranges[c][1] = bounds[1]
        if not rows:
            return {}
        try:
            return self._stats_entry(
                rows,
                {
                    c: tuple(
                        b.decode("utf-8") if isinstance(b, bytes) else b
                        for b in r
                    )
                    for c, r in ranges.items()
                },
            )
        except UnicodeDecodeError:
            return None

    def _scanned_stats(
        self, spark: SparkSession, files: list[str]
    ) -> dict[str, dict[str, list]]:
        """:meth:`_file_stats` by ONE column-pruned Spark pass grouped
        by input_file_name: the route for bucket sets, and the
        reference the footer route must match."""
        from pyspark.sql import functions as F

        df = spark.read.option("ignoreMissingFiles", "false").parquet(
            *[f"{self.path}/data/{f}" for f in files]
        )
        types = dict(df.dtypes)
        _check_stat_types(self.stat_cols, types)
        aggs = [F.count(F.lit(1)).alias("_rc")]
        for c in self.stat_cols:
            aggs.append(F.min(c).alias(f"_mn_{c}"))
            aggs.append(F.max(c).alias(f"_mx_{c}"))
            aggs.append(
                F.sum(F.col(c).isNull().cast("int")).alias(f"_nn_{c}")
            )
        for c, n in self.bucket_cols:
            canon = _bucket_canon_type(types.get(c), c)
            aggs.append(
                F.collect_set(
                    # NULL rows are EXCLUDED (r16): xxhash64(NULL) is
                    # the SEED (42), not NULL, so a NULL row would
                    # record phantom bucket pmod(42, n) — an only-null
                    # file then carries a non-empty set and every file
                    # with any NULL becomes unprunable for 1/n of all
                    # equality probes (a probe value can never equal
                    # NULL, so the phantom bucket proves nothing).
                    F.when(
                        F.col(c).isNotNull(),
                        F.pmod(F.xxhash64(F.col(c).cast(canon)), F.lit(n)),
                    )
                ).alias(f"_bk_{c}")
            )
        rows = (
            df.withColumn(
                "_f", F.element_at(F.split(F.input_file_name(), "/"), -1)
            )
            .groupBy("_f")
            .agg(*aggs)
            .collect()  # one row per NEW file — metadata-scale
        )
        out: dict[str, dict[str, list]] = {}
        for r in rows:
            entry = self._stats_entry(
                r["_rc"],
                {
                    c: (r[f"_mn_{c}"], r[f"_mx_{c}"], r[f"_nn_{c}"])
                    for c in self.stat_cols
                },
            )
            for c, _ in self.bucket_cols:
                # empty set is VALID metadata: only-null files match no
                # equality probe, pruning them is correct
                entry[f"bucket:{c}"] = sorted(int(x) for x in r[f"_bk_{c}"])
            out[r["_f"]] = entry
        return out

    def bucket_of(
        self,
        spark: SparkSession,
        col: str,
        value,
        version: int | None = None,
    ) -> int:
        """The bucket a probe value hashes to — computed with the SAME
        Spark expression the commit side records (xxhash64 over the
        canonical type), so probe and metadata can never disagree on
        hashing. One 1-row local job.

        The canonical type comes from the COLUMN's dtype in the
        snapshot schema, not from the probe's Python type: an int
        probe against a double column must hash the double bytes the
        commit side recorded (Iceberg promotes the literal to the
        column type before hashing for the same reason). An
        incompatible probe (string vs numeric, or a fractional float
        against an integer column — a predicate that can match no row)
        raises rather than silently pruning wrong."""
        from pyspark.sql import functions as F

        n = dict(self.bucket_cols)[col]
        v, _ = self._snapshot(spark, version)
        dtype = dict(self.read(spark, version=v).dtypes).get(col)
        canon = _bucket_canon_type(dtype, col)
        probe_canon = _bucket_canon_type_of_value(value)
        if (canon == "string") != (probe_canon == "string"):
            raise ValueError(
                f"bucket probe type {probe_canon} is incompatible with "
                f"column {col!r} of type {dtype} — cast the probe to the "
                "column's type"
            )
        if canon == "bigint" and probe_canon == "double":
            if not float(value).is_integer():
                raise ValueError(
                    f"probe {value!r} can never equal a value of integer "
                    f"column {col!r} — the predicate matches no row"
                )
            value = int(value)
        row = (
            spark.range(1)
            .select(
                F.pmod(F.xxhash64(F.lit(value).cast(canon)), F.lit(n)).alias("b")
            )
            .first()
        )
        return int(row["b"])

    def pruned_files_eq(
        self,
        spark: SparkSession,
        col: str,
        value,
        version: int | None = None,
    ) -> list[str]:
        """BUCKET-transform data skipping for an equality probe: keep
        only the snapshot's files whose recorded bucket set contains
        the probe's bucket. Files without bucket metadata are kept
        (conservative) — the result is always a correct superset of
        the files holding ``col = value``."""
        v, m = self._snapshot(spark, version)
        if not m["files"]:
            return []
        b = self.bucket_of(spark, col, value, version=v)
        stats = m.get("stats", {})
        out = []
        for f in m["files"]:
            bset = stats.get(f, {}).get(f"bucket:{col}")
            if bset is None or b in bset:
                out.append(f)
        return out

    def pruned_files_null(
        self, spark: SparkSession, col: str, version: int | None = None
    ) -> list[str]:
        """IS NULL data skipping: keep only files whose recorded null
        count for ``col`` is positive (files without the stat are kept
        conservatively). The mirror of range pruning for the predicate
        min/max can never answer."""
        _, m = self._snapshot(spark, version)
        stats = m.get("stats", {})
        out = []
        for f in m["files"]:
            nn = stats.get(f, {}).get(f"nulls:{col}")
            if nn is None or nn > 0:
                out.append(f)
        return out

    def _read_pruned(self, spark: SparkSession, prune, cond) -> DataFrame:
        """Scan only the files ``prune(version)`` keeps, then apply
        the exact predicate ``cond`` (file pruning is a superset
        filter, never the answer). The version is pinned first and
        supplies both the file list and the deletion vectors:
        re-resolving in between would let a concurrent commit pair v1
        files with v2 DVs (resurrecting deleted rows), and on a
        never-committed table the pin fails before any lookup."""
        from pyspark.sql import functions as F

        v, m = self._snapshot(spark)
        files = prune(v)
        if not files:
            return self.read(spark, version=v).filter(F.lit(False))
        return self._live_rows(spark, m, files).filter(cond)

    def read_where_null(self, spark: SparkSession, col: str) -> DataFrame:
        """IS NULL read through null-count metadata: scan only files
        that record (or might hold) nulls, then apply the predicate."""
        from pyspark.sql import functions as F

        return self._read_pruned(
            spark,
            lambda v: self.pruned_files_null(spark, col, version=v),
            F.col(col).isNull(),
        )

    def read_where_eq(self, spark: SparkSession, col: str, value) -> DataFrame:
        """Equality read through bucket metadata: scan ONLY the files
        `pruned_files_eq` keeps, then apply the exact predicate (the
        bucket set is a superset filter, never the answer)."""
        from pyspark.sql import functions as F

        return self._read_pruned(
            spark,
            lambda v: self.pruned_files_eq(spark, col, value, version=v),
            F.col(col) == value,
        )

    def _publish(
        self,
        spark: SparkSession,
        op: str,
        build: Callable,
        *,
        expected: int | None = None,
        batch_id: int | None = None,
        staged=(),
        dv_parts=(),
    ) -> int:
        """The ONE commit path: every manifest is decided here. Each
        attempt takes one listing of ``_manifests/``; it names the
        target version (above every CLAIMED name — a torn one's number
        is burned, never reused, else a slow torn writer finishing
        late could overwrite a real commit) and the base (the newest
        VALID manifest, read once). Then, in order:

        - compare-and-swap: ``expected`` pins the base version the
          caller computed against; a moved base raises
          :class:`ConcurrentWriteError` (rewritten files computed
          against a stale base would silently drop the winner's rows);
        - ``build(base_version, base_manifest)`` returns the op's
          ``(files, rows, extra)``; the base manifest is ``{}`` on a
          table with no commit yet;
        - the record is stamped with version, op, committed_at and
          the streaming high-water mark ``max(base mark, batch_id)``,
          so the mark survives every commit (the WAP heal alone sets
          its own, see :meth:`_heal`);
        - put. A lost race (the put returns False) means the base
          moved, so the next attempt lists and builds again: list →
          build → put, and no commit is ever based on a snapshot older
          than the one it replaces (a commit landing after the listing
          claims our name and fails our put; one landing before it is
          our base).

        Failures are classified by POSITION, not type: anything raised
        before the put (listing, CAS, build, serialization) and retry
        exhaustion (:class:`PublishContentionError`: every put provably
        did not land) delete the stage — ``staged`` data files and
        ``dv_parts`` — and re-raise, so routine ConcurrentWriteErrors
        never accrete orphan debt. An exception from the put ITSELF is
        an AMBIGUOUS commit: the stage stays on disk (a late-landing
        manifest may reference it; vacuum reclaims it if not) and the
        error surfaces as :class:`CommitAmbiguousError`, so a caller
        cannot mistake maybe-landed for failed and blind-retry a
        non-idempotent operation into a double-apply."""
        put = (
            self._put_if_absent
            if self.publish_mode == "conditional-create"
            else self._write_text_atomic
        )
        # Bounded: every retry means some OTHER writer claimed a name,
        # so 1000 consecutive losses is contention pathology (or a put
        # implementation bug), not normal operation — fail loudly.
        for _ in range(1000):
            try:
                names = self._name_versions(spark)
                version = names[-1] + 1 if names else 0
                base_v, base = self._newest(spark, names)
                if expected is not None and base_v != expected:
                    raise ConcurrentWriteError(
                        f"{op} computed against v{expected} but the "
                        f"snapshot is now v{base_v} — re-run the {op} on "
                        "the new base"
                    )
                files, rows, extra = build(base_v, base)
                record = {
                    "version": version,
                    "files": files,
                    "rows": rows,
                    "op": op,
                    "committed_at": time.time(),
                    "last_batch_id": max(
                        int(base.get("last_batch_id", -1)),
                        -1 if batch_id is None else int(batch_id),
                    ),
                    **extra,
                }
                if record["last_batch_id"] < 0:
                    del record["last_batch_id"]  # no batch committed yet
                body = json.dumps(record)
            except BaseException:
                self._abandon_files(spark, list(staged), list(dv_parts))
                raise
            try:
                landed = put(spark, body, "_manifests", f"v{version}.json")
            except Exception as exc:
                raise CommitAmbiguousError(
                    f"{op} commit outcome UNKNOWN at {self.path}: the "
                    "manifest put raised mid-flight and may have landed "
                    "server-side — check current_version()/history() "
                    "before retrying; staged files left for vacuum"
                ) from exc
            if landed:
                return version
        self._abandon_files(spark, list(staged), list(dv_parts))
        raise PublishContentionError(
            "manifest publish lost 1000 consecutive commit races — "
            "pathological contention or a broken conditional-create store"
        )

    def _rewrite(
        self,
        df: DataFrame,
        op: str,
        expected: int | None = None,
        check: Callable | None = None,
    ) -> int:
        """The rewrite tail ``overwrite``, ``compact`` and ``cluster``
        share: land ``df`` as fresh files, take their stats, publish
        them as the whole snapshot. A rewrite passes every row through
        one homogeneous schema, so columns and schema re-baseline (the
        evolved/read_merged flags and every deletion vector drop with
        the old files); ``check(base)`` vets the commit-time base."""
        files, spark, rows = self._write_files(df)
        with self._staged_cleanup(spark, files):  # pre-publish window
            stats = self._file_stats(spark, files)
        extra: dict = {
            "columns": sorted(df.columns),
            "schema": _schema_json(df.schema),
        }
        if stats:
            extra["stats"] = stats

        def build(base_v: int | None, base: dict):
            if check is not None:
                check(base)
            return files, rows, extra  # rows observed on the write job

        return self._publish(spark, op, build, expected=expected, staged=files)

    def overwrite(self, df: DataFrame) -> int:
        """Commit df as a full-replacement snapshot. Like every commit
        it carries the streaming high-water mark, so a replayed batch
        id stays skipped after an overwrite."""
        spark = df.sparkSession

        def check(base: dict) -> None:
            # identifier contract on names ENTERING the table only: a
            # grandfathered dotted column must keep its overwrite
            # re-baseline path (the type-change escape hatch) open
            _check_new_names(
                set(df.columns) - set(base.get("columns") or []),
                "overwrite",
            )

        check(self._newest(spark, self._name_versions(spark))[1])
        # re-checked against the COMMIT-TIME base too: a concurrent
        # overwrite may have renamed a grandfathered name away, and
        # this commit must not silently re-introduce it
        return self._rewrite(df, "overwrite", check=check)

    def _append_build(
        self,
        spark: SparkSession,
        new_files: list[str],
        new_cols: list[str],
        new_stats: dict,
        new_rows: int,
        new_schema,
    ) -> Callable:
        """The append-family build: stack pre-written files on the
        commit-time base :meth:`_publish` hands it (a concurrent commit
        winning the race moves the base, and this commit's file list
        must sit on top of THAT, not the one read before the race).
        Shared by ``append`` and ``write_audit_publish``.

        The per-attempt work is METADATA-ONLY: the new files' row
        count was observed on their write job, and the base's comes
        from its manifest — so losing a commit race costs one listing
        and one manifest read, never a Spark job (recounting per
        attempt would make the commit loop O(table) under contention,
        exactly when it retries most)."""

        def build(base_v: int | None, base: dict):
            extra: dict = {}
            if base.get("dvs"):
                # appended files are new — existing deletion vectors
                # carry forward untouched
                extra["dvs"] = base["dvs"]
            # schema-evolution check at commit time: compare the new
            # data's column set against the snapshot schema recorded
            old_cols = base.get("columns", new_cols)
            # re-check the identifier contract against the COMMIT-TIME
            # base (race-free): the entry check ran against the base
            # read before the publish race, and a concurrent overwrite
            # may have renamed a grandfathered name away. Checked
            # against the RECORDED columns (or nothing) — the old_cols
            # default of new_cols would make the difference empty and
            # skip the check on a columns-less base
            _check_new_names(
                set(new_cols) - set(base.get("columns") or []), "append"
            )
            extra["columns"] = sorted(set(new_cols) | set(old_cols))
            if base.get("evolved") or new_cols != old_cols:
                extra["evolved"] = True
            # appends are the ONLY evolution entry point, so the
            # logical schema resolves here once, from metadata; None
            # (legacy chain) records nothing and readers fall back to
            # mergeSchema
            sj = _merged_schema_json(base, new_schema)
            if sj is _SCHEMA_CONFLICT:
                # append()'s entry conformance makes this all but
                # unreachable (drift raises before files land); only a
                # CONCURRENT commit changing a column's type between
                # that check and this build lands here. Last resort:
                # carry neither schema record nor a silent adoption —
                # the evolved flag routes reads through mergeSchema,
                # which fails LOUDLY on the incompatible types (never
                # nondeterministic)
                extra["evolved"] = True
            elif sj is not None:
                extra["schema"] = sj
            elif base:
                # legacy chain without a schema record: file
                # homogeneity is unprovable from metadata, and entry
                # conformance had nothing to check against — a
                # same-named type drift would otherwise commit with
                # neither schema nor evolved and plain reads would
                # adopt one footer nondeterministically. read_merged
                # (NOT evolved — that would silently relax merge's
                # missing-column strictness) keeps every read on
                # mergeSchema until a compact/overwrite re-baselines
                # the record.
                extra["read_merged"] = True
            if new_stats or base.get("stats"):
                # carried files keep their recorded stats untouched
                extra["stats"] = {**base.get("stats", {}), **new_stats}
            rows = self._effective_rows(spark, base) + new_rows
            return base.get("files", []) + new_files, rows, extra

        return build

    def append(self, df: DataFrame, batch_id: int | None = None) -> int:
        """Commit df's rows on top of the current snapshot: new files
        plus the previous snapshot's files — no rewrite of old data.

        ``batch_id`` (for streaming sinks): recorded in the manifest
        as a carried-forward high-water mark, so an at-least-once
        replay of an already-committed micro-batch is detectable from
        the LATEST manifest alone (surviving vacuum of old ones).

        An empty frame that adds no column to an existing table lands
        no file: it commits (metadata-only) only when ``batch_id``
        raises the high-water mark, else it returns the current
        version.

        Types: NEW columns evolve freely; a column the table already
        has must conform to the recorded schema — lossless numeric
        widenings cast to the table's type, real drift raises HERE,
        before any file lands. Committing the conflict instead would
        poison every subsequent read (mergeSchema cannot reconcile
        incompatible types), with compact() unreachable as a repair
        because it reads first — one drifted micro-batch through the
        streaming sink would brick the table."""
        df = self._conform_to_current(df, "append")
        new_files, spark, wrote_rows = self._write_files(df)
        if not wrote_rows:
            base, m = self._newest(spark, self._name_versions(spark))
            if base is not None and set(df.columns) <= set(
                m.get("columns") or []
            ):
                # no row and no new column: the content is unchanged,
                # so land no file (the row-change core's no-op rule)
                self._abandon_files(spark, new_files)
                return self._record_batch(spark, base, m, batch_id)
        with self._staged_cleanup(spark, new_files):  # pre-publish window
            new_stats = self._file_stats(spark, new_files)
        build = self._append_build(
            spark, new_files, sorted(df.columns), new_stats, wrote_rows,
            df.schema,
        )
        return self._publish(
            spark, "append", build, batch_id=batch_id, staged=new_files
        )

    @staticmethod
    def _raises_mark(m: dict, batch_id: int | None) -> bool:
        """Whether committing ``batch_id`` on snapshot ``m`` raises its
        streaming high-water mark."""
        return batch_id is not None and int(batch_id) > int(
            m.get("last_batch_id", -1)
        )

    def _record_batch(
        self, spark: SparkSession, base: int, m: dict, batch_id: int | None
    ) -> int:
        """Metadata-only commit of ``batch_id`` as the streaming
        high-water mark: files, rows and every content key carry over
        unchanged. A no-op returning ``base`` (snapshot ``m``) unless
        ``batch_id`` raises the mark, so an empty micro-batch commits
        once and its replay is skipped."""
        if not self._raises_mark(m, batch_id):
            return base
        return self._publish(
            spark, "append", self._republish(spark), batch_id=batch_id
        )

    def _republish(
        self,
        spark: SparkSession,
        src_v: int | None = None,
        src: dict | None = None,
        **tags,
    ) -> Callable:
        """The build that re-publishes one snapshot's content — files,
        rows and the ``_CONTENT_KEYS`` — plus ``tags``: snapshot
        ``src`` (version ``src_v``; restore and the heals), or the
        commit-time base itself when None (a batch-id-only append). A
        ``src``'s files are re-checked on every attempt: restore and
        heal resurrect files whose only other referents may be retired
        manifests — exactly what a concurrent vacuum deletes regardless
        of age — and a check that raises pre-put provably commits
        nothing."""

        def build(base_v: int | None, base: dict):
            m = base if src is None else src
            gone = [] if src is None else self._missing(spark, src)
            if gone:
                raise FileNotFoundError(
                    f"v{src_v} lost {len(gone)} file(s) to a concurrent "
                    f"vacuum (e.g. {gone[0]}) before the publish"
                )
            content = {k: m[k] for k in _CONTENT_KEYS if k in m}
            return m["files"], self._effective_rows(spark, m), {
                **content,
                **tags,
            }

        return build

    def _missing(self, spark: SparkSession, m: dict) -> list[str]:
        """The data files and deletion-vector parts (``deletes/``-
        prefixed) that snapshot ``m`` references and that no longer
        exist."""
        jvm, fs = self._fs(spark)
        gone = [
            f for f in m.get("files", [])
            if not fs.exists(self._jp(jvm, "data", f))
        ]
        gone += [
            f"deletes/{p}"
            for p in sorted(
                {p for e in m.get("dvs", {}).values() for p in e["parts"]}
            )
            if not fs.exists(self._jp(jvm, "deletes", p))
        ]
        return gone

    def _heal(self, spark: SparkSession, torn: int, op: str) -> int | None:
        """Re-publish the newest snapshot whose files all still exist,
        skipping version ``torn`` (and any snapshot stacked on its
        vanished files — those fail the existence check naturally):
        the one repair after a vacuum tore a committed ``restore`` or
        ``write_audit_publish``. The two differ only in the record and
        the mark. A restore heal (``op="restore"``) is a restore of the
        candidate and carries the current mark, as every commit does.
        A WAP heal (``op="heal"``) rolls the mark back to the
        CANDIDATE's own: rolling data back without rolling the mark
        back would make a batch_id-keyed replay of the lost batch a
        silent no-op (r15). Returns the healed version, or None when
        nothing is materializable."""
        for v in reversed(self._name_versions(spark)):
            if v == torn:
                continue
            m = self._try_manifest(spark, v)
            if m is None or self._missing(spark, m):
                continue
            if op == "restore":
                tags = {"restored_from": v, "healed_from_torn_restore": torn}
            else:
                tags = {
                    "healed_from_torn_wap": torn,
                    "last_batch_id": int(m.get("last_batch_id", -1)),
                }
            try:
                return self._publish(
                    spark, op, self._republish(spark, v, m, **tags)
                )
            except FileNotFoundError:
                continue  # a further vacuum got this candidate too
        return None

    def write_audit_publish(
        self, df: DataFrame, rules, batch_id: int | None = None
    ) -> tuple[int | None, list]:
        """Iceberg-style WRITE-AUDIT-PUBLISH: land ``df`` as staged
        data files (unreferenced by any manifest — invisible to every
        reader), AUDIT exactly the bytes that landed (read back from
        the staged files, not the input plan — a nondeterministic
        upstream cannot sneak different rows past the audit), and only
        then PUBLISH them as an atomic append commit. Any rule
        violation abandons the attempt: the staged files are deleted
        and the table is untouched — readers can never observe a batch
        that failed its checks, which is the whole point of WAP over
        validate-then-write (no window where bad rows are live) and
        over write-then-delete (no window where they ever existed).

        ``rules``: :class:`operators.expectations.Rule` list, NULL
        fails closed. Returns ``(version, report_rows)`` on publish,
        ``(None, report_rows)`` on rejection — the report is the
        metadata-scale per-rule/total/combo audit either way."""
        from ..operators.expectations import _check_rules, audit

        # validate the ruleset BEFORE staging anything: a bad ruleset
        # must fail without landing files
        _check_rules(rules)
        # same type contract as append, checked before staging
        df = self._conform_to_current(df, "write_audit_publish")
        new_files, spark, wrote_rows = self._write_files(df)
        # the audit window is unbounded — a stage marker (not the
        # in-flight orphan grace, which it can outlive) is what keeps
        # a concurrent vacuum off the staged files (r14)
        marker = (
            self._write_stage_marker(spark, new_files) if new_files else None
        )

        def _drop_marker() -> None:
            if marker is not None:
                self._drop_stage_marker(spark, marker)

        def _abandon() -> None:
            # pre-publish rejections only: no put ran, a blind delete
            # is safe (publish failures get _publish's positional
            # classification)
            self._abandon_files(spark, new_files)
            _drop_marker()

        try:
            if new_files:
                # ignoreMissingFiles forced off (invariant #26): the
                # audit reads an exact staged file list — under a
                # session with ignoreMissingFiles=true a vacuum racing
                # this audit would silently validate a PARTIAL stage.
                staged = (
                    spark.read.option("mergeSchema", True)
                    .option("ignoreMissingFiles", "false")
                    .parquet(*[f"{self.path}/data/{f}" for f in new_files])
                )
            else:
                staged = df.limit(0)
            report = audit(staged, rules).collect()
        except Exception:
            # the no-orphan contract holds even when the audit itself
            # blows up (e.g. a rule referencing a missing column):
            # staged files must never outlive a failed attempt
            _abandon()
            raise
        total = next(r for r in report if r.rule == "_total")
        if total.n_violations > 0:
            _abandon()
            return None, report
        new_cols = sorted(staged.columns)
        # TTL-expiry hardening (r15): the audit window is unbounded, so
        # by the time the audit passes the marker may have outlived
        # vacuum's stage_marker_ttl and been reclaimed — protection
        # lapsed, and the staged files (older than the orphan grace by
        # then) are vacuum candidates. Three layers close the door:
        # REFRESH the marker now (write a NEW marker before dropping
        # the old one — overwriting in place is impossible, rename
        # refuses an existing destination, and drop-then-write would
        # open a no-marker gap; with write-first the protection never
        # lapses and any vacuum that reads _stage/ after this point
        # protects the publish window), RECHECK staged-file existence
        # on every publish attempt (raised pre-put — provably commits
        # nothing), and VERIFY after the put (a vacuum that scanned
        # _stage/ before the refresh can still delete after the put —
        # the restore-race residual window by another door).
        if marker is not None:
            fresh_marker = self._write_stage_marker(spark, new_files)
            self._drop_stage_marker(spark, marker)
            marker = fresh_marker
        staged_only = {"files": new_files}
        try:
            with self._staged_cleanup(spark, new_files):
                new_stats = self._file_stats(spark, new_files)
            append = self._append_build(
                spark, new_files, new_cols, new_stats, wrote_rows,
                staged.schema,
            )

            def build(base_v: int | None, base: dict):
                out = append(base_v, base)
                gone = self._missing(spark, staged_only)
                if gone:
                    raise FileNotFoundError(
                        f"write_audit_publish lost {len(gone)} staged "
                        f"file(s) to a concurrent vacuum before the "
                        f"publish (e.g. {gone[0]}) — the stage marker "
                        "TTL likely expired during a long audit; raise "
                        "stage_marker_ttl_seconds or split the audit"
                    )
                return out

            # proven pre-put failures delete the stage; an ambiguous
            # put leaves it for vacuum (a late-landing manifest may
            # reference it)
            version = self._publish(
                spark, "wap", build, batch_id=batch_id, staged=new_files
            )
        except CommitAmbiguousError:
            raise  # marker STAYS: the manifest may land late; the
            # vacuum marker TTL reclaims it if it never does
        except BaseException:
            _drop_marker()  # stage already deleted where proven dead
            raise
        # post-publish verify: a vacuum that scanned _stage/ before the
        # marker refresh may delete the staged files AFTER our put —
        # the committed manifest is then a torn tombstone. Heal to the
        # newest materializable snapshot (with ITS high-water mark, so
        # the lost batch replays) and fail loudly.
        gone = self._missing(spark, staged_only)
        if gone:
            healed_to = self._heal(spark, version, "heal")
            _drop_marker()
            raise WapRacedVacuumError(
                f"write_audit_publish committed v{version}, but a "
                f"concurrent vacuum deleted {len(gone)} of its staged "
                f"file(s) (e.g. {gone[0]}); v{version} is a torn "
                "tombstone and the batch is NOT durable. "
                + (
                    f"The table was healed: v{healed_to} re-publishes "
                    "the newest materializable snapshot with its own "
                    "high-water mark — a batch_id-keyed replay lands."
                    if healed_to is not None
                    else "NO materializable snapshot remains — the "
                    "table needs a fresh overwrite."
                )
            )
        _drop_marker()  # files are manifest-referenced from here on
        return version, report

    def last_batch_id(self, spark: SparkSession) -> int:
        """High-water mark of committed streaming batch ids (-1 if
        none): micro-batch ids from a Structured Streaming checkpoint
        are monotonically increasing, so ``batch_id <= last_batch_id``
        identifies a replayed batch."""
        v = self.current_version(spark)
        if v is None:
            return -1
        return int(self._manifest(spark, v).get("last_batch_id", -1))

    def compact(self, spark: SparkSession, target_files: int = 1) -> int:
        """Rewrite the current snapshot into ``target_files`` files and
        commit. The OLD files stay on disk (still referenced by the
        previous manifest — readers mid-flight keep a complete table)
        until vacuum() retires them. This is the S3-safe version of
        LakeTable.compact_partitions' directory swap.

        Concurrency is compare-and-swap, same rule as :meth:`merge`:
        the rewritten file list was computed against version ``v``, so
        if any commit lands in between, publishing it would silently
        drop that commit's files AND its ``last_batch_id`` high-water
        mark (losing the HWM re-opens the streaming replay hole).
        Raises :class:`ConcurrentWriteError` instead;
        :meth:`maybe_compact` retries on the new base."""
        v = self.current_version(spark)
        return self._rewrite(
            self.read(spark, version=v).coalesce(target_files),
            "compact",
            expected=v,
        )

    def cluster(
        self,
        spark: SparkSession,
        by: tuple[str, ...] | None = None,
        target_files: int | None = None,
        zorder: bool = False,
    ) -> int:
        """Sort-based layout rewrite (Delta ``OPTIMIZE ... ZORDER``'s
        linear-order cousin): rewrite the snapshot range-partitioned
        and sorted by ``by`` (default: ``stat_cols``), so each new
        file holds a contiguous, pairwise-disjoint key range and the
        recorded [min, max] stats become surgical — the fix for the
        layout where every file's range spans the whole key domain
        (ingest-ordered data) and range pruning keeps everything.

        ``repartitionByRange`` samples the keys to pick balanced
        boundaries then shuffles once; the sort is within partitions
        only (no global sort barrier). Multi-column ``by`` is
        lexicographic — the leading column dominates pruning power,
        which is why ``bucket_cols`` metadata (hash-based, order-free)
        remains the right tool for the secondary point-lookup column.

        ``zorder=True`` (numeric ``by`` columns only) sorts on the
        Morton-interleaved key from ``sources/zorder.zorder_key``
        instead: each file then covers a small HYPER-RECTANGLE of the
        key space, so the recorded [min, max] stats prune on EVERY
        participating column at once — Delta's OPTIMIZE ZORDER BY,
        applied to manifest-level skipping rather than row groups.
        The only driver-side step is one tiny min/max aggregate to
        fix the bit-scaling domain.

        Same commit discipline as :meth:`compact`: old files stay for
        in-flight readers until vacuum, the streaming high-water mark
        is carried, and a concurrent commit raises
        :class:`ConcurrentWriteError` rather than being dropped."""
        cols = tuple(by) if by else tuple(self.stat_cols)
        if not cols:
            raise ValueError(
                "cluster needs sort columns: pass by=... or configure "
                "stat_cols"
            )
        v, m = self._snapshot(spark)
        n_out = target_files if target_files else max(1, len(m["files"]))
        snap = self.read(spark, version=v)
        if zorder:
            from pyspark.sql import functions as F

            from .zorder import zorder_key

            from .._reserved import reserve_tags

            # a data column named __zkey would be REPLACED by
            # withColumn and then dropped — erased from the rewrite
            reserve_tags("cluster(zorder=True)", snap.columns, "__zkey")
            # NaN/Inf are EXCLUDED from the scaling domain (invariant
            # #30): plain min/max would return NaN if ANY row is NaN,
            # poisoning the key for every row — the whole clustering
            # pass dies with CAST_OVERFLOW under the default ANSI
            # session, or silently de-clusters under ANSI-off. NaN
            # rows themselves still land (top bucket, NaN-greatest —
            # see sources/zorder.zorder_key); ±Inf clamps to the
            # domain edges.
            from .zorder import _finite_only

            bounds = snap.agg(
                *[
                    F.min(_finite_only(F.col(c).cast("double"))).alias(
                        f"_mn_{c}"
                    )
                    for c in cols
                ],
                *[
                    F.max(_finite_only(F.col(c).cast("double"))).alias(
                        f"_mx_{c}"
                    )
                    for c in cols
                ],
            ).first()  # one tiny row — fixes the bit-scaling domain
            unbounded = [c for c in cols if bounds[f"_mn_{c}"] is None]
            if unbounded:
                raise ValueError(
                    f"cannot zorder on {unbounded}: empty table, "
                    "all-NULL column, or a column with no finite "
                    "value (all NaN/Inf) — no domain to scale the "
                    "interleave bits to"
                )
            key = zorder_key(
                list(cols),
                [float(bounds[f"_mn_{c}"]) for c in cols],
                [float(bounds[f"_mx_{c}"]) for c in cols],
            )
            df = (
                snap.withColumn("__zkey", key)
                .repartitionByRange(n_out, "__zkey")
                .sortWithinPartitions("__zkey")
                .drop("__zkey")
            )
        else:
            df = snap.repartitionByRange(n_out, *cols).sortWithinPartitions(
                *cols
            )
        return self._rewrite(df, "cluster", expected=v)

    def restore(self, spark: SparkSession, version: int) -> int:
        """RESTORE: commit a NEW version whose content is snapshot
        ``version``'s — rollback as a forward commit (Delta RESTORE /
        Iceberg rollback semantics). Nothing is rewritten or deleted:
        the old file list, column set, stats and evolved flag are
        re-published under the next version number, so the botched
        intermediate versions remain in the history (auditable, still
        time-travelable) and readers mid-flight are untouched.

        Two invariants a naive re-publish would break:

        - the streaming ``last_batch_id`` high-water mark is NOT
          content — it must carry the CURRENT snapshot's value, never
          the restored one's (rolling the HWM back would let a
          replayed micro-batch commit twice — data the restore just
          removed coming back as duplicates);
        - a restore target older than the last :meth:`vacuum` may
          reference deleted files; the file list is existence-checked
          and the restore refused LOUDLY rather than committing a
          snapshot that cannot be read.

        Concurrency: the HWM is stamped from each attempt's base by
        :meth:`_publish`, so losing a publish race can never resurrect
        a stale high-water mark. The existence check ALSO re-runs per
        attempt, and the committed snapshot is verified AFTER the
        publish: a restore uniquely references files whose only other
        referents are retired manifests — exactly what a concurrent
        :meth:`vacuum` deletes regardless of age — so a vacuum landing
        between the pre-publish check and the put would otherwise
        commit a live snapshot pointing at deleted files (a bricked
        table, found r14 by the interleaving stress test). When the
        post-publish verify finds the race hit, the table is healed by
        re-publishing the newest still-materializable snapshot and
        :class:`RestoreRacedVacuumError` is raised. A put that raises
        surfaces as :class:`CommitAmbiguousError`, as for every commit."""
        target = self._manifest(spark, version)  # raises if missing
        missing = self._missing(spark, target)
        if missing:
            raise FileNotFoundError(
                f"cannot restore v{version}: {len(missing)} of its data "
                f"or deletion-vector files were vacuumed (e.g. "
                f"{missing[0]}) — the snapshot is no longer "
                "materializable"
            )
        new_v = self._publish(
            spark,
            "restore",
            self._republish(spark, version, target, restored_from=version),
        )
        # Post-publish verify: a vacuum that scanned before our commit
        # may delete the target's files after it. Residual pure-CAS
        # window — detect it, heal, and fail loudly.
        missing = self._missing(spark, target)
        if not missing:
            return new_v
        healed_to = self._heal(spark, new_v, "restore")
        raise RestoreRacedVacuumError(
            f"restore of v{version} committed v{new_v}, but a concurrent "
            f"vacuum deleted {len(missing)} of its file(s) (e.g. "
            f"{missing[0]}); v{new_v} is a torn tombstone. "
            + (
                f"The table was healed: v{healed_to} re-publishes the "
                "newest materializable snapshot."
                if healed_to is not None
                else "NO materializable snapshot remains — the table "
                "needs a fresh overwrite."
            )
        )

    # -- read path -------------------------------------------------------

    def _reader_for(self, spark: SparkSession, m: dict):
        """A reader that resolves the snapshot's schema from METADATA:
        the manifest's recorded logical schema when present — no
        footer sweep, files written before an evolution NULL-fill the
        columns they lack, and (the case mergeSchema over a PRUNED
        subset cannot fix) a pruned read whose kept files all predate
        the evolution still returns the full table schema. Falls back
        to mergeSchema for legacy evolved manifests without a schema
        record, else plain single-footer inference.

        ``ignoreMissingFiles`` is FORCED off per-relation (r14): a
        session that globally enables it would turn a time-travel read
        racing a vacuum into a silent partial result instead of a loud
        PATH_NOT_FOUND / FileNotFoundException. Snapshot reads resolve
        exact file lists; a missing file is always a tear, never
        skippable."""
        reader = spark.read.option("ignoreMissingFiles", "false")
        sch = m.get("schema")
        if sch is not None:
            return reader.schema(_schema_from_json(sch))
        if m.get("evolved") or m.get("read_merged"):
            # evolved = the schema actually changed; read_merged = a
            # legacy chain whose file homogeneity is unprovable from
            # metadata. Both route through mergeSchema (unions
            # compatible types, fails loudly on conflicts) — but ONLY
            # evolved relaxes merge's missing-column strictness
            reader = reader.option("mergeSchema", "true")
        return reader

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """The snapshot's DataFrame: reads exactly the manifest's file
        list (time travel via ``version``) — never a directory
        listing, so concurrent commits cannot tear it.

        Schema evolution: appends may add columns. Rather than paying
        ``mergeSchema``'s every-footer read on each query, the union
        of the file schemas is resolved at COMMIT time: the manifest
        records the logical schema (``schema``) and an ``evolved``
        flag, and readers resolve entirely from that metadata."""
        _, m = self._snapshot(spark, version)
        return self._live_rows(spark, m, m["files"])

    def _live_rows(
        self, spark: SparkSession, m: dict, files: list[str]
    ) -> DataFrame:
        """``files`` of snapshot ``m`` under its recorded schema, minus
        the rows its deletion vectors hide."""
        return self._strip_dvs(
            self._reader_for(spark, m).parquet(
                *[f"{self.path}/data/{f}" for f in files]
            ),
            self._dv_frame(spark, m, files),
            self._dv_rows(m, files),
        )

    # -- deletion vectors (merge-on-read DELETE) -------------------------
    #
    # A DV commit records (file_name, row_index) pairs under deletes/
    # instead of rewriting data files: the manifest maps each affected
    # data file to the DV parts holding its dead positions plus the
    # exact dead-row count ({"dvs": {file: {"parts": [...], "rows": n}}}).
    # Readers subtract the pairs with a broadcast anti-join keyed on the
    # hidden _metadata (file_name, row_index) columns — positions are
    # keyed by the IMMUTABLE data-file name, so a stale or over-broad DV
    # entry can never corrupt a rewritten file (new files get new
    # names). Any rewrite of a file (merge/COW delete/compact/cluster)
    # reads it DV-applied and drops its entry: the rewrite materializes
    # the deletes, exactly Delta/Iceberg DV compaction semantics.

    def _dv_frame(
        self, spark: SparkSession, manifest: dict, files: list[str] | None = None
    ) -> DataFrame | None:
        """(_f, _pos) union of the snapshot's deletion-vector parts
        relevant to ``files`` (all files when None); None when there
        are no deletes to apply. Parts may conservatively hold
        positions of other files — the anti-join key includes the file
        name, so extra pairs match nothing. Its only readers are
        left-anti joins, where a repeated pair changes nothing, so it
        is not deduplicated (no shuffle per DV read)."""
        dvs = manifest.get("dvs", {})
        if files is not None:
            want = set(files)
            dvs = {f: e for f, e in dvs.items() if f in want}
        parts = sorted({p for e in dvs.values() for p in e["parts"]})
        if not parts:
            return None
        from pyspark.sql import functions as F

        return (
            # forced off like _reader_for: a skipped missing DV part
            # silently RESURRECTS deleted rows. The parts' schema is
            # fixed, so no job infers it from their footers
            spark.read.option("ignoreMissingFiles", "false")
            .schema(_DV_SCHEMA)
            .parquet(*[f"{self.path}/deletes/{p}" for p in parts])
            .select(F.col("_f"), F.col("_pos"))
        )

    # Above this many dead rows the DV frame stops being broadcast:
    # ~24 bytes/pair puts 20M pairs at ~500 MB on every executor, past
    # sane broadcast budgets. The exact count is manifest metadata, so
    # the decision costs nothing; past the bound the anti-join falls
    # back to the planner (AQE shuffle join) — a table THAT far into
    # DV debt should have been compacted (maybe_compact's
    # max_dv_fraction exists precisely so reads never get here).
    _DV_BROADCAST_MAX_ROWS = 20_000_000

    def _conform_to_current(self, df: DataFrame, what: str) -> DataFrame:
        """The append-family entry contract: NEW column names satisfy
        the identifier rules, and existing columns conform to the
        CURRENT snapshot's recorded schema — both checked before
        anything is staged (shared by append and write_audit_publish
        so the two can never drift apart)."""
        spark = df.sparkSession
        cur = self.current_version(spark)
        if cur is None:
            _check_new_names(df.columns, what)
            return df
        m = self._manifest(spark, cur)
        _check_new_names(
            set(df.columns) - set(m.get("columns") or []), what
        )
        return self._conform_to_schema(df, m, what)

    def _conform_to_schema(self, df: DataFrame, m: dict, what: str) -> DataFrame:
        """Align a frame about to land in data files with the
        snapshot's recorded logical schema — the check that keeps a
        type-drifted batch from committing files the recorded schema
        can no longer read (an int32 file under a bigint record throws
        on every subsequent scan; the table would be bricked until a
        manifest hand-edit). Identical types pass through, lossless
        numeric widenings CAST to the table's type (a literal-typed
        CDC batch must not fail), anything else raises — real type
        changes go through overwrite/compact re-baselining."""
        rec = m.get("schema")
        if rec is None:
            return df
        want = {f.name: f.dataType for f in _schema_from_json(rec).fields}
        out, casts, bad = [], 0, []
        for f in df.schema.fields:
            w = want.get(f.name)
            if w is None or _nullable_type(f.dataType) == _nullable_type(w):
                out.append(_qcol(f.name))
            elif _widens_to(f.dataType, w):
                out.append(_qcol(f.name).cast(w).alias(f.name))
                casts += 1
            else:
                bad.append(
                    f"{f.name}: {f.dataType.simpleString()} -> "
                    f"{w.simpleString()}"
                )
        if bad:
            raise ValueError(
                f"{what} would write column types incompatible with the "
                f"table's recorded schema ({', '.join(bad)}) — cast "
                "explicitly; type changes go through overwrite"
            )
        return df.select(out) if casts else df

    def _strip_dvs(
        self, df: DataFrame, dv: DataFrame | None, n_dead: int = 0
    ) -> DataFrame:
        """Subtract deletion-vector positions from a raw file scan.
        The DV side is normally metadata-scale (dead positions, not
        data) and broadcasts so the scan side never shuffles;
        ``n_dead`` (the manifest's recorded dead-row total for the
        files being read) drops the broadcast hint past the bound
        above."""
        if dv is None:
            return df
        from pyspark.sql import functions as F

        # reserved join-key names: a USER column named _f/_pos must
        # not be clobbered and silently dropped by the subtract
        dv = dv.select(
            F.col("_f").alias("__dv_f"), F.col("_pos").alias("__dv_pos")
        )
        right = (
            F.broadcast(dv)
            if n_dead <= self._DV_BROADCAST_MAX_ROWS
            else dv
        )
        return (
            df.withColumn("__dv_f", F.col("_metadata.file_name"))
            .withColumn("__dv_pos", F.col("_metadata.row_index"))
            .join(right, ["__dv_f", "__dv_pos"], "left_anti")
            .drop("__dv_f", "__dv_pos")
        )

    def _live_positions(
        self, df: DataFrame, manifest: dict, files: list[str] | None = None
    ) -> DataFrame:
        """Drop the rows of a position-tagged frame (reserved
        ``__dv_f``/``__dv_pos`` columns) that are already dead under
        the snapshot's deletion vectors — the shared find-phase step
        of every rewrite engine, so already-deleted rows can neither
        re-count, be updated back to life, nor trigger a rewrite.
        Same broadcast bound as :meth:`_strip_dvs`."""
        dv = self._dv_frame(df.sparkSession, manifest, files)
        if dv is None:
            return df
        from pyspark.sql import functions as F

        dv = dv.select(
            F.col("_f").alias("__dv_f"), F.col("_pos").alias("__dv_pos")
        )
        right = (
            F.broadcast(dv)
            if self._dv_rows(manifest, files) <= self._DV_BROADCAST_MAX_ROWS
            else dv
        )
        return df.join(right, ["__dv_f", "__dv_pos"], "left_anti")

    def _effective_rows(self, spark: SparkSession, manifest: dict) -> int:
        """The snapshot's live row count: recorded when present, else
        (legacy manifest without a count) one recount minus DV debt —
        never silently 0, which would drive every downstream
        subtraction negative."""
        if manifest.get("rows") is not None:
            return int(manifest["rows"])
        return self._rows_of(
            spark, manifest.get("stats", {}), manifest.get("files", [])
        ) - self._dv_rows(manifest)

    @staticmethod
    def _dv_rows(manifest: dict, files: list[str] | None = None) -> int:
        """Total dead rows the snapshot's DVs hide in ``files`` (all
        when None) — recorded exactly at delete time, so row accounting
        stays metadata-only."""
        dvs = manifest.get("dvs", {})
        if files is not None:
            want = set(files)
            dvs = {f: e for f, e in dvs.items() if f in want}
        return sum(int(e["rows"]) for e in dvs.values())

    def history(self, spark: SparkSession) -> list[dict]:
        """Commit log, newest first — the DESCRIBE HISTORY surface:
        one entry per valid committed snapshot with (version, op,
        rows, n_files, committed_at). Metadata-only (reads manifests);
        vacuumed or torn versions are simply absent."""
        latest = self.current_version(spark)
        if latest is None:
            return []
        out = []
        # present manifests only (one listStatus) — probing every
        # version number since 0 costs O(total-commits-ever) failed
        # fs.open calls on long-lived tables whose old versions were
        # vacuumed (same shape as the r14 vacuum enumeration fix)
        for v in sorted(self._name_versions(spark), reverse=True):
            if v > latest:
                continue  # claimed-but-torn name above the last commit
            m = self._try_manifest(spark, v)
            if m is not None:
                row = {
                    "version": v,
                    "op": m.get("op"),
                    "rows": m.get("rows"),
                    "n_files": len(m.get("files", [])),
                    "committed_at": m.get("committed_at"),
                }
                if "restored_from" in m:
                    row["restored_from"] = m["restored_from"]
                out.append(row)
        return out

    def version_as_of(self, spark: SparkSession, ts) -> int:
        """Newest version committed at or before ``ts`` (datetime or
        epoch seconds) — Delta's AS OF TIMESTAMP resolution, against
        the commit times the manifests already record. Raises when the
        table has no commit that old (or it was vacuumed away)."""
        from datetime import datetime

        t = ts.timestamp() if isinstance(ts, datetime) else float(ts)
        best = None
        for entry in self.history(spark):
            at = entry.get("committed_at")
            if at is not None and float(at) <= t:
                best = entry["version"]
                break  # history is newest-first: first hit is the answer
        if best is None:
            raise FileNotFoundError(
                f"no snapshot at {self.path} committed at or before {ts!r} "
                "(older than the first commit, or vacuumed)"
            )
        return best

    def read_as_of(self, spark: SparkSession, ts) -> DataFrame:
        """Time travel by timestamp: the snapshot that was current at
        ``ts``."""
        return self.read(spark, version=self.version_as_of(spark, ts))

    def table_changes(
        self, spark: SparkSession, v_from: int, v_to: int | None = None
    ) -> DataFrame:
        """Change-data-feed read: the row-level difference between two
        snapshots, as the snapshot columns plus ``_change_type``
        ('insert' | 'delete'; a copy-on-write update surfaces as its
        delete/insert pair — the Delta-CDF preimage/postimage shape
        without per-row tracking metadata).

        The 100 TB property: IO is proportional to the CHURNED files,
        never the table. Files present in both manifests are identical
        by construction (immutable, referenced by name), so their rows
        cancel without being read; only files added or removed between
        the versions are scanned, and ``exceptAll`` (multiset
        difference) cancels the rows a rewrite carried unchanged.
        Downstream incremental consumers (sync to an index, refresh an
        aggregate via ``incremental_agg``) apply deletes then inserts.

        Columns are aligned across schema evolution (a column absent
        in one version reads as NULL there, matching ``read``'s
        union-schema contract)."""
        from pyspark.sql import functions as F

        v_to, mt_ = self._snapshot(spark, v_to)
        mf = self._manifest(spark, v_from)
        # a file present in both snapshots is identical bytes, but a
        # merge-on-read DELETE changes its EFFECTIVE rows by attaching
        # a deletion vector without renaming it — treat a dv-entry
        # difference as removed+added so both sides are read (with
        # their own dvs applied) and the surviving rows cancel,
        # leaving exactly the newly-dead rows as deletes
        dvf, dvt = mf.get("dvs", {}), mt_.get("dvs", {})
        dv_changed = {
            f
            for f in set(mf["files"]) & set(mt_["files"])
            if dvf.get(f) != dvt.get(f)
        }
        removed = sorted((set(mf["files"]) - set(mt_["files"])) | dv_changed)
        added = sorted((set(mt_["files"]) - set(mf["files"])) | dv_changed)

        def _read(names: list[str], m: dict) -> DataFrame | None:
            if not names:
                return None
            # mergeSchema ALWAYS: the added (or removed) set can itself
            # mix schemas when evolution happened between the versions,
            # and without it Spark adopts one file's schema by listing
            # order — the evolved column nondeterministically vanishes
            # and an update that only changed it cancels in exceptAll.
            # ignoreMissingFiles forced off (invariant #26): this is an
            # exact-file-list read; under ignoreMissingFiles=true a CDF
            # read racing a vacuum silently DROPS change rows.
            return self._strip_dvs(
                spark.read.option("mergeSchema", True)
                .option("ignoreMissingFiles", "false")
                .parquet(*[f"{self.path}/data/{f}" for f in names]),
                self._dv_frame(spark, m, names),
                self._dv_rows(m, names),
            )

        old, new = _read(removed, mf), _read(added, mt_)
        if old is None and new is None:
            return (
                self.read(spark, version=v_to)
                .filter(F.lit(False))
                .withColumn("_change_type", F.lit(""))
            )
        if old is not None and new is not None:
            # align schemas (evolution between the versions): absent
            # columns read as NULL of the other side's type
            cols: list[str] = list(new.columns)
            cols += [c for c in old.columns if c not in cols]
            types = {f.name: f.dataType for f in new.schema.fields}
            for f in old.schema.fields:
                types.setdefault(f.name, f.dataType)

            def _align(df: DataFrame) -> DataFrame:
                have = set(df.columns)
                return df.select(
                    *[
                        F.col(c)
                        if c in have
                        else F.lit(None).cast(types[c]).alias(c)
                        for c in cols
                    ]
                )

            old, new = _align(old), _align(new)
            ins = new.exceptAll(old).withColumn(
                "_change_type", F.lit("insert")
            )
            dels = old.exceptAll(new).withColumn(
                "_change_type", F.lit("delete")
            )
            return ins.unionByName(dels)
        if new is not None:
            return new.withColumn("_change_type", F.lit("insert"))
        return old.withColumn("_change_type", F.lit("delete"))

    def files_table(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame:
        """Iceberg/Delta-style METADATA TABLE: the snapshot's file
        list as a queryable DataFrame — one row per data file with its
        recorded statistics (per-stat-column min/max and null count,
        per-bucket-column distinct bucket count). The lakehouse
        inspection surface (`table.files` / DESCRIBE DETAIL): answers
        'how is my table laid out, which files would this predicate
        keep' WITHOUT touching a data file — the frame is built from
        the manifest alone, so it is version-count × file-count
        metadata, never a data scan."""
        _, m = self._snapshot(spark, version)
        stats = m.get("stats", {})
        stat_cols = list(self.stat_cols)
        bucket_cols = [c for c, _ in self.bucket_cols]
        rows = []
        for f in m["files"]:
            st = stats.get(f, {})
            row: list = [f]
            for c in stat_cols:
                rng = st.get(c) or [None, None]
                nulls = st.get(f"nulls:{c}")
                row += [
                    None if rng[0] is None else str(rng[0]),
                    None if rng[1] is None else str(rng[1]),
                    None if nulls is None else int(nulls),
                ]
            for c in bucket_cols:
                bset = st.get(f"bucket:{c}")
                row.append(None if bset is None else len(bset))
            # dead rows hidden by this file's deletion vector (0 when
            # none): the layout surface where DV debt shows up — a file
            # mostly dead is a compaction candidate
            row.append(int(m.get("dvs", {}).get(f, {}).get("rows", 0)))
            rows.append(tuple(row))
        schema_parts = ["file string"]
        for c in stat_cols:
            schema_parts += [
                f"{c}_min string",
                f"{c}_max string",
                f"{c}_nulls int",
            ]
        for c in bucket_cols:
            schema_parts.append(f"{c}_n_buckets int")
        schema_parts.append("dv_rows int")
        return local_frame(spark, rows, ", ".join(schema_parts))

    def _count(self, spark: SparkSession, files: list[str]) -> int:
        if not files:
            return 0
        return (
            spark.read.option("ignoreMissingFiles", "false")
            .parquet(*[f"{self.path}/data/{f}" for f in files])
            .count()
        )

    @staticmethod
    def _recorded_rows(stats: dict, files) -> int | None:
        """Sum of the per-file physical row counts recorded in stats
        (the ``rows:`` key ``_file_stats`` writes), or None when ANY
        file lacks one — legacy manifests and stats-less tables fall
        back to a physical recount. Callers subtract DV debt
        themselves, exactly as they do around ``_count``."""
        total = 0
        for f in files:
            r = stats.get(f, {}).get("rows:")
            # anything but a plain int (absent; or a [min,max] range —
            # a stat column literally NAMED "rows:" overwrites the
            # count key) falls back to the recount, which is correct
            # regardless of what the entry holds
            if not isinstance(r, int) or isinstance(r, bool):
                return None
            total += r
        return total

    def _rows_of(
        self, spark: SparkSession, stats: dict, files: list[str]
    ) -> int:
        """Physical rows in ``files``: metadata when every file has a
        recorded count, one recount job otherwise."""
        rec = self._recorded_rows(stats, files)
        return self._count(spark, files) if rec is None else rec

    def pruned_files(
        self,
        spark: SparkSession,
        col: str,
        lo,
        hi,
        version: int | None = None,
    ) -> list[str]:
        """MANIFEST-LEVEL data skipping: the snapshot's files whose
        recorded [min, max] for ``col`` overlaps [lo, hi]. This is the
        decision Iceberg/Delta make from manifest stats BEFORE any
        footer is opened — one JSON read instead of listing + opening
        every file; parquet row-group skipping then prunes WITHIN the
        survivors. Files with no recorded stats are kept
        (conservative), so the result is always a correct superset."""
        import math

        _, m = self._snapshot(spark, version)
        stats = m.get("stats", {})

        def _is_nan(b) -> bool:
            return isinstance(b, float) and math.isnan(b)

        out = []
        for f in m["files"]:
            rng = stats.get(f, {}).get(col)
            # null bounds (stats written before the all-null guard, or a
            # hand-edited manifest) read as "no stats" — keep the file
            if rng is None or rng[0] is None or rng[1] is None:
                out.append(f)
            # NaN bounds (r15 degenerate-input sweep): Spark's max()
            # records NaN whenever ANY value is NaN (NaN orders above
            # every double), but this comparison runs in PYTHON, where
            # nan >= lo is three-valued-FALSE — one NaN in the column
            # silently pruned a file full of in-range rows out of
            # read_where (reproduced: [5.0, nan] file, probe [4, 8],
            # zero rows back). A NaN bound is an unusable proof on that
            # side → keep the file (conservative superset, same rule
            # as missing stats). The merge path was already sound: its
            # proofs compare IN Spark, where NaN-greatest semantics
            # match the NaN-greatest stats.
            elif _is_nan(rng[0]) or _is_nan(rng[1]):
                out.append(f)
            elif rng[0] <= hi and rng[1] >= lo:
                out.append(f)
        return out

    def read_where(
        self, spark: SparkSession, col: str, lo, hi
    ) -> DataFrame:
        """Range read through manifest stats: scan ONLY the files
        `pruned_files` keeps, then apply the predicate (row-group
        stats inside the kept files still prune further). Equivalent
        to ``read().filter(lo <= col <= hi)`` — minus the skipped
        files."""
        from pyspark.sql import functions as F

        return self._read_pruned(
            spark,
            lambda v: self.pruned_files(spark, col, lo, hi, version=v),
            (F.col(col) >= lo) & (F.col(col) <= hi),
        )

    def merge(
        self,
        updates: DataFrame,
        key: str,
        expected_version: int | None = None,
        batch_id: int | None = None,
        delete_keys: DataFrame | None = None,
        mode: str = "copy-on-write",
        *,
        _collapsed: bool = False,
    ) -> int:
        """Row-level MERGE (whole-row upsert by ``key``): rows of the
        snapshot whose key appears in ``updates`` are replaced,
        unmatched update rows are inserted, everything else is carried
        forward — BY FILE NAME, not by rewrite.

        ``delete_keys`` (optional single-column frame of key values)
        is MERGE's WHEN-MATCHED-DELETE clause: those keys' rows are
        removed in the SAME atomic commit — the piece a CDC changelog
        needs to apply inserts/updates/deletes as one snapshot (two
        commits would expose a half-applied batch and double-advance
        the replay high-water mark). A key appearing in BOTH updates
        and delete_keys is ambiguous and raises; deleting a key that
        is absent from the table is a no-op (DELETE semantics). NULL
        keys are exempt from the ambiguity check: a NULL never
        equi-matches any row, so a NULL-keyed update row always
        inserts and a NULL delete key is always a no-op — the outcome
        is deterministic even when NULL appears in both clauses.

        The files a merge may touch are decided from METADATA by
        :meth:`_merge_probe` (per-key [min, max] ∩ bucket-set proofs
        in one batch-wide job, which also rejects duplicate update
        keys); without stat_cols or bucket_cols every file is
        conservatively touched, still correct. The change itself runs
        through :meth:`_row_change`, the core MERGE shares with
        DELETE/UPDATE WHERE: ``mode="copy-on-write"`` rewrites the
        touched files without the batch's keys and writes the batch
        beside them; ``mode="merge-on-read"`` rewrites NO file — the
        matched keys' live positions become deletion-vector entries
        and ``updates`` lands as appended files, so a CDC micro-batch
        costs O(batch) writes however its keys scatter. The dead rows
        are compaction debt surfaced by ``files_table().dv_rows`` and
        paid down by :meth:`compact` / :meth:`maybe_compact`. A batch
        that matches and inserts nothing commits nothing, unless its
        ``batch_id`` raises the high-water mark: then the commit
        records the batch (one commit per streaming batch).

        ``updates`` is read up to three times (probe, drop keys,
        write), so it is persisted for the duration of the call — a
        micro-batch is O(batch) by contract, and caching it keeps a
        batch derived from a big table from costing three source
        scans. A batch the caller already persisted is left alone
        and never unpersisted. ``delete_keys`` is NOT cached here: a
        caller whose delete keys are expensive to derive materializes
        them first, as the CDC sinks do.

        ``_collapsed`` is private to :func:`apply_cdc_batch
        <yc_yq_airflow_etl_spark.streaming.manifest_sink.apply_cdc_batch>`,
        whose one materialization of the batch already holds one row
        per key, split into disjoint upserts and deletes: the probe
        then skips the duplicate and ambiguity checks that
        materialization made and only picks the files (the same
        per-key proofs, one job), and the batch is not persisted again.

        Concurrency is compare-and-swap: the commit validates the
        snapshot is still ``expected_version`` (default: the version
        read at entry) and raises :class:`ConcurrentWriteError`
        otherwise — rewritten files computed against a stale base
        cannot silently drop a concurrent commit's rows (append
        commutes and keeps its automatic rebase instead)."""
        from pyspark.sql import functions as F

        from ..operators.checkpoints import cache, scope

        spark = updates.sparkSession

        def prepare(base: int, m: dict) -> _RowChange:
            # one schema contract for BOTH modes: unknown columns always
            # fail loudly — tolerating them would silently widen the
            # schema off a typo'd CDC batch; missing columns are allowed
            # only on an evolved table (absent columns read as NULL, the
            # same contract read() gives pre-evolution files). Real
            # schema evolution goes through append.
            expected_cols = m.get("columns")
            if expected_cols is None:
                # hand-made manifest without a columns record: at least
                # hold the identifier line
                _check_new_names(updates.columns, "merge updates")
            else:
                unknown = sorted(set(updates.columns) - set(expected_cols))
                if unknown:
                    raise ValueError(
                        f"merge updates carry unknown columns {unknown} — "
                        "schema evolution goes through append, not MERGE"
                    )
                missing = sorted(set(expected_cols) - set(updates.columns))
                if missing and not m.get("evolved"):
                    raise ValueError(
                        f"merge updates are missing columns {missing} and "
                        f"table {self.path} is not schema-evolved — a "
                        "malformed batch must fail, not NULL-fill"
                    )
            # type contract: the batch's files will be read under the
            # recorded schema — a drifted type must widen or fail HERE
            ups = self._conform_to_schema(updates, m, "merge updates")
            drop_keys = ups.select(key)
            dk = None
            if delete_keys is not None:
                # repeated keys change neither the semi/anti joins nor
                # the probe's max(_d): no distinct, no shuffle for one
                dk = delete_keys.select(
                    F.col(delete_keys.columns[0]).alias(key)
                )
                drop_keys = drop_keys.unionByName(dk)

            def rewrite(rows: DataFrame) -> DataFrame:
                # evolved snapshots tolerate updates written against the
                # pre-evolution schema; a non-evolved table keeps the
                # strict match so a malformed batch fails loudly
                carried = rows.join(drop_keys, on=key, how="left_anti")
                return carried.unionByName(
                    ups, allowMissingColumns=bool(m.get("evolved"))
                )

            return _RowChange(
                candidates=self._merge_probe(
                    spark, base, m, ups, dk, key, checked=_collapsed
                ),
                match=lambda s: s.join(
                    drop_keys, on=key, how="left_semi"
                ).select(*_POS),
                rewrite=rewrite,
                images=lambda found: ups,
            )

        lvl = updates.storageLevel
        with scope():
            # a collapsed batch is a materialization already; a batch
            # the caller cached stays the caller's
            if not (
                _collapsed or lvl.useMemory or lvl.useDisk or lvl.useOffHeap
            ):
                cache(updates)  # in place: the next job reading it fills it
            return self._row_change(
                spark, "merge", mode, expected_version, prepare, batch_id
            )

    def _merge_probe(
        self,
        spark: SparkSession,
        base: int,
        m: dict,
        updates: DataFrame,
        dk: DataFrame | None,
        key: str,
        checked: bool = False,
    ) -> list[str]:
        """MERGE's candidate files, decided from metadata. ONE
        batch-wide job decides everything the keys can decide:
        duplicate-update detection, update∩delete ambiguity (both
        raise), and the touched-file set — one shuffle of the batch
        (groupBy key) feeding a broadcast join against the file
        metadata, instead of a job per clause. The range and bucket
        proofs apply PER KEY in the join condition — strictly stronger
        than a global bucket-set intersect, and still exact: key k can
        live in file f only if k ∈ [min, max] AND bucket(k) ∈ the
        file's recorded set. Bucket sets matter for CDC at scale, where
        uniformly distributed keys make every file's range cover every
        key. Files with neither proof are conservatively touched.

        ``checked``: the caller already guarantees one row per update
        key and no key in both clauses, so the probe runs the same
        per-key file join with neither the key grouping nor the checks
        — its touched files gathered by ``observe`` on a ``noop``
        write, one job with no shuffle."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        stats = m.get("stats", {})
        probe = updates.select(
            F.col(key).alias("_k"),
            F.lit(1).alias("_u"),
            F.lit(0).alias("_d"),
        )
        if dk is not None:
            probe = probe.unionByName(
                dk.select(
                    F.col(key).alias("_k"),
                    F.lit(0).alias("_u"),
                    F.lit(1).alias("_d"),
                )
            )
        keyed = probe if checked else probe.groupBy("_k").agg(
            F.sum("_u").alias("_cu"), F.max("_d").alias("_cd")
        )
        bucket_n = dict(self.bucket_cols).get(key)
        if bucket_n is not None:
            # hash every probe key with the SAME expression the commit
            # side recorded (xxhash64 over the column's canonical type
            # — see bucket_of). NOTE xxhash64(NULL) is the SEED (42),
            # not NULL — a NULL key still gets a numeric _b here; it
            # matches no file only because the `hit` predicate below
            # requires _k IS NOT NULL (r16: the commit side also stops
            # recording the phantom NULL bucket in file sets).
            # the recorded schema names the key's type without a read
            # (which checks every file of the snapshot exists)
            sch = m.get("schema")
            dtypes = (
                {
                    f.name: f.dataType.simpleString()
                    for f in _schema_from_json(sch).fields
                }
                if sch is not None
                else dict(self.read(spark, version=base).dtypes)
            )
            canon = _bucket_canon_type(dtypes.get(key), key)
            keyed = keyed.withColumn(
                "_b",
                F.pmod(F.xxhash64(F.col("_k").cast(canon)), F.lit(bucket_n)),
            )
        else:
            keyed = keyed.withColumn("_b", F.lit(None).cast("bigint"))

        def _bounds(f: str):
            rng = stats.get(f, {}).get(key)
            if rng is None or rng[0] is None or rng[1] is None:
                return None  # no/null stats → no range proof
            return rng

        def _bset(f: str):
            if bucket_n is None:
                return None
            s = stats.get(f, {}).get(f"bucket:{key}")
            # [] is VALID metadata (only-null file: no key can match);
            # None means no bucket proof recorded
            return None if s is None else [int(b) for b in s]

        provable: list[tuple] = []  # at least one proof recorded
        touched: set[str] = set()  # no usable metadata → conservative
        for f in m["files"]:
            rng, bs = _bounds(f), _bset(f)
            if rng is None and bs is None:
                touched.add(f)
            else:
                mn, mx = rng if rng is not None else (None, None)
                provable.append((f, mn, mx, bs))

        dup_rows = ambiguous = False
        flag_aggs = [
            F.max("_cu").alias("_mcu"),
            # NULL keys are exempt from the ambiguity flag: a NULL never
            # equi-matches any row downstream (the carry-forward anti
            # join and the MOR position probe are both equi-joins), so a
            # NULL update row inserts and a NULL delete key no-ops —
            # deterministic. Only a NON-NULL key in both clauses has an
            # ambiguous outcome.
            F.max(
                (
                    (F.col("_cu") > 0)
                    & (F.col("_cd") > 0)
                    & F.col("_k").isNotNull()
                ).cast("int")
            ).alias("_amb"),
        ]
        if provable:
            bound_t = _stats_sql_type(
                v for _, mn, mx, _ in provable for v in (mn, mx)
            )
            if bound_t == "double":
                # mixed int/float bounds (hand-edited/legacy manifests):
                # int bounds ride along as doubles. An int too wide for
                # an exact double (|v| > 2^53, or beyond double range)
                # would silently shift the recorded range and could
                # mis-prune, so that file falls back to conservatively
                # touched instead.
                widened: list[tuple] = []
                for f, mn, mx, bs in provable:
                    vals = []
                    for v in (mn, mx):
                        if v is None or isinstance(v, float):
                            vals.append(v)
                            continue
                        try:
                            fv = float(v)
                        except OverflowError:
                            vals = None
                            break
                        if fv == v:
                            vals.append(fv)
                        else:
                            vals = None
                            break
                    if vals is None:
                        touched.add(f)
                    else:
                        widened.append((f, vals[0], vals[1], bs))
                provable = widened
        if provable:
            files_df = local_frame(
                spark,
                provable,
                f"_f string, _mn {bound_t}, _mx {bound_t}, _bs array<bigint>",
            )
            hit = (
                F.col("_k").isNotNull()
                & (F.col("_mn").isNull() | (F.col("_k") >= F.col("_mn")))
                & (F.col("_mx").isNull() | (F.col("_k") <= F.col("_mx")))
                & (
                    F.col("_bs").isNull()
                    | F.array_contains(F.col("_bs"), F.col("_b"))
                )
            )
            if checked:
                obs = Observation()
                keyed.join(F.broadcast(files_df), hit).observe(
                    obs, F.collect_set("_f").alias("_fs")
                ).write.format("noop").mode("overwrite").save()
                touched.update(obs.get["_fs"])
                return sorted(touched)
            per_file = (
                keyed.join(F.broadcast(files_df), hit, "left")
                .groupBy("_f")
                .agg(*flag_aggs)
                .collect()  # bounded by file count + 1 — metadata-scale
            )
            for r in per_file:
                if r["_f"] is not None:
                    touched.add(r["_f"])
                dup_rows = dup_rows or (r["_mcu"] or 0) > 1
                ambiguous = ambiguous or bool(r["_amb"])
        elif checked:
            return sorted(touched)
        else:
            row = keyed.agg(*flag_aggs).first()
            dup_rows = (row["_mcu"] or 0) > 1
            ambiguous = bool(row["_amb"])
        if dup_rows:
            raise ValueError(f"updates carry duplicate {key!r} values")
        if ambiguous:
            raise ValueError(
                "a key appears in BOTH updates and delete_keys — "
                "the merge outcome would be ambiguous"
            )
        return sorted(touched)

    def delete_where(
        self,
        spark: SparkSession,
        predicate,
        expected_version: int | None = None,
        mode: str = "copy-on-write",
    ) -> int:
        """Row-level DELETE: rows where ``predicate`` (a Column or SQL
        string) is TRUE are removed; rows where it is FALSE **or
        NULL** are kept (SQL DELETE semantics — NULL never deletes).

        ``mode="copy-on-write"`` (default): untouched files are
        carried forward BY NAME and only files containing matches are
        rewritten. Touched-file selection is Delta's two-phase shape:
        one scan over the snapshot tagged with each row's file finds
        the files that actually CONTAIN live matching rows (the
        collect is bounded by file count — metadata-scale), then only
        those files are rewritten without their matching rows. Parquet
        row-group stats prune the find-phase scan for range predicates
        for free; files with no matches pay no rewrite.

        ``mode="merge-on-read"``: NO data file is rewritten. The
        matching rows' (file, row_index) positions land as
        deletion-vector parts under deletes/ and the commit only
        updates manifest metadata — the write-amplification fix for
        frequent small deletes at scale (a 3-row delete from a 1 GB
        file costs a KB of positions, not a 1 GB rewrite). Readers
        subtract the positions with a broadcast anti-join; the next
        rewrite of a file (merge / COW delete / compact / cluster)
        materializes its deletes and drops its DV entry. Per-file
        stats stay as written — a conservative superset, still valid
        for pruning.

        Either mode (both run :meth:`_row_change`): a predicate
        matching nothing is a NO-OP (the current version is returned,
        no commit — publishing an identical snapshot would only burn a
        version and invalidate caches); row accounting is
        metadata-only; the streaming high-water mark survives;
        concurrency is compare-and-swap like :meth:`merge`."""
        from pyspark.sql import functions as F

        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        cond = F.coalesce(pred, F.lit(False))
        return self._row_change(
            spark, "delete", mode, expected_version,
            lambda base, m: _RowChange(
                candidates=m["files"],
                match=lambda s: s.filter(cond).select(*_POS),
                rewrite=lambda rows: rows.filter(~cond),
                images=lambda found: None,
                tally="deleted_rows",
            ),
        )

    def update_where(
        self,
        spark: SparkSession,
        predicate,
        assignments: dict,
        expected_version: int | None = None,
        mode: str = "copy-on-write",
    ) -> int:
        """Row-level UPDATE: rows where ``predicate`` is TRUE get
        ``assignments`` (column name → Column/SQL-string expression,
        evaluated against the PRE-update row — standard UPDATE
        semantics, so two assignments can safely swap columns);
        FALSE/NULL rows pass through byte-identical.

        ``mode="copy-on-write"`` (default): same two-phase
        touched-file shape, no-op contract, row accounting, HWM and
        CAS rules as :meth:`delete_where` — the only difference is
        the rewrite keeps the row count (``updated_rows`` is recorded
        in the manifest instead of ``deleted_rows``).

        ``mode="merge-on-read"``: the matched rows' positions become
        deletion-vector entries and their TRANSFORMED images append
        as new files (Iceberg's MOR update = positional delete +
        insert, in one commit) — write cost O(matched rows), not
        O(touched files).

        Assignment names and output types are validated against the
        snapshot :meth:`_row_change` resolves and then changes — a
        commit landing after that resolution fails the update's CAS
        check rather than being updated unvalidated."""
        from pyspark.sql import functions as F

        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        cond = F.coalesce(pred, F.lit(False))
        exprs = {
            c: (F.expr(e) if isinstance(e, str) else e)
            for c, e in assignments.items()
        }

        def transform(rows: DataFrame) -> DataFrame:
            # single select: every assignment sees the ORIGINAL row
            return rows.select(
                *[
                    (F.when(cond, exprs[c]).otherwise(F.col(c)).alias(c)
                     if c in exprs else F.col(c))
                    for c in rows.columns
                ]
            )

        def prepare(base: int, m: dict) -> _RowChange:
            base_cols = m.get("columns")
            if base_cols is None and m.get("schema"):
                base_cols = _schema_from_json(m["schema"]).names
            if base_cols is None and m["files"]:
                # hand-made manifest without a columns record: footer
                # schema of the pinned base's own files (analysis only)
                base_cols = self._reader_for(spark, m).parquet(
                    *[f"{self.path}/data/{f}" for f in m["files"]]
                ).columns
            if base_cols is None:
                # nothing observable to validate assignments against —
                # fail loudly rather than skip the check
                raise ValueError(
                    f"update_where on {self.path} v{base}: the snapshot "
                    "records no columns, no schema, and no files — cannot "
                    "validate assignment names against it"
                )
            unknown = set(exprs) - set(base_cols)
            if unknown:
                raise ValueError(
                    f"update_where assigns unknown columns "
                    f"{sorted(unknown)} (schema evolution goes through "
                    "append, not UPDATE)"
                )
            if m.get("schema"):
                # the assignments' OUTPUT types, from the schema record
                # alone (no job): a drifted update fails before the
                # find scan runs or anything is staged
                self._conform_to_schema(
                    transform(
                        local_frame(spark, [], _schema_from_json(m["schema"]))
                    ),
                    m,
                    "update assignments",
                )
            return _RowChange(
                candidates=m["files"],
                match=lambda s: s.filter(cond),
                rewrite=transform,
                images=lambda found: transform(found.drop(*_POS)),
                tally="updated_rows",
            )

        return self._row_change(
            spark, "update", mode, expected_version, prepare
        )

    def _row_change(
        self,
        spark: SparkSession,
        op: str,
        mode: str,
        expected_version: int | None,
        prepare,
        batch_id: int | None = None,
    ) -> int:
        """The ONE row-level change core behind MERGE, DELETE WHERE and
        UPDATE WHERE: resolve the base snapshot once, let the op
        validate against it (``prepare(base, manifest)`` returns its
        :class:`_RowChange`), find → (rewrite | deletion vectors +
        append) → one CAS commit.

        - Find: the candidate files' live rows, tagged with their
          (file, row_index) positions, filtered by the op's ``match``.
          Merge-on-read always finds (the positions become deletion
          vectors) and materializes the result once — the count, the
          DV-part write and update's images reuse it — freeing it on
          every exit. Copy-on-write finds only for ops that tally
          their matches: the scan narrows the rewrite to files holding
          live matches. MERGE's candidates are already decided from
          metadata, so its copy-on-write path never scans to find.
        - Write: copy-on-write rewrites the touched files' live rows
          through ``rewrite`` (materializing their deletes); with no
          file touched only the op's ``images`` land (MERGE inserts).
          Merge-on-read writes the found positions as DV parts and
          appends ``images``. Written frames conform to the recorded
          schema; a write of zero rows lands no file.
        - Commit: nothing rewritten, dead or written is a no-op unless
          the call raises the streaming high-water mark (a CDC batch
          commits once even when it changes no row); a tallying op
          whose find matched nothing is a no-op. Rows are accounted
          from metadata: effective rows − live rows of rewritten files
          − new dead positions + rows written. The record carries
          columns, schema and the evolved flag (:meth:`_publish`
          stamps the high-water mark and checks the base is still the
          one found against); it flags ``read_merged`` when files were
          added to a chain without a schema record or the flag was
          already set."""
        from pyspark.sql import functions as F

        from ..operators.checkpoints import materialize, scope

        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError(
                f"unknown {op} mode {mode!r} — "
                "'copy-on-write' or 'merge-on-read'"
            )
        mor = mode == "merge-on-read"
        base, m = self._snapshot(spark, expected_version)
        ch = prepare(base, m)
        stats = m.get("stats", {})
        raw = found = None
        if ch.candidates and (mor or ch.tally):
            raw = self._reader_for(spark, m).parquet(
                *[f"{self.path}/data/{f}" for f in ch.candidates]
            )
            # reserved position tags: a data column named _f/_pos
            # must not collide with them
            tagged = raw.select(
                F.col("_metadata.file_name").alias("__dv_f"),
                F.col("_metadata.row_index").alias("__dv_pos"),
                *[_qcol(c) for c in raw.columns],
            )
            found = ch.match(self._live_positions(tagged, m, ch.candidates))
        new_files: list[str] = []
        parts: list[str] = []
        # pre-publish no-orphan window: whatever landed by failure time
        # (DV parts, data files) is deleted with the failure
        with self._staged_cleanup(spark, new_files, parts):
            with scope():
                if mor and found is not None:
                    found = materialize(found, f"{op}: find")
                hits = {} if found is None else {
                    r["__dv_f"]: int(r["n"])
                    for r in found.groupBy("__dv_f")
                    .agg(F.count("*").alias("n"))
                    .collect()  # bounded by file count — metadata-scale
                }
                if ch.tally and not hits:
                    return base  # no live row matches: no commit
                dead = hits if mor else {}
                if mor:
                    removed = []
                elif ch.tally:
                    removed = sorted(hits)  # files holding live matches
                else:
                    removed = list(ch.candidates)  # decided from metadata
                if dead:
                    parts += self._write_files(
                        found.select(
                            F.col("__dv_f").alias("_f"),
                            F.col("__dv_pos").alias("_pos"),
                        ),
                        subdir="deletes",
                    )[0]
                out = (
                    ch.rewrite(self._live_rows(spark, m, removed))
                    if removed
                    else ch.images(found)
                )
                written = 0
                if out is not None:
                    staged, _, written = self._write_files(
                        self._conform_to_schema(out, m, f"{op} rewrite")
                    )
                    new_files += staged  # extend: cleanup sees them
                    if not written:
                        self._abandon_files(spark, staged)
                        new_files.clear()
            # a batch that raises the streaming high-water mark commits
            # even when it changes no row, so its replay is skipped
            # (one commit per batch)
            if not (
                removed or dead or new_files or self._raises_mark(m, batch_id)
            ):
                return base  # nothing changed: no commit
            new_stats = self._file_stats(spark, new_files)
            removed_live = self._rows_of(
                spark, stats, removed
            ) - self._dv_rows(m, removed)
            rows = (
                self._effective_rows(spark, m)
                - removed_live
                - sum(dead.values())
                + written
            )
        gone = set(removed)
        kept = [f for f in m["files"] if f not in gone]
        extra: dict = {
            "columns": m.get("columns")
            or sorted((out if out is not None else raw).columns)
        }
        if ch.tally:
            extra[ch.tally] = sum(hits.values())
        if m.get("evolved"):
            extra["evolved"] = True
        if m.get("schema"):
            extra["schema"] = m["schema"]  # a row change never alters it
        elif new_files or m.get("read_merged"):
            # files added to a chain without a schema record: a
            # same-named type drift is undetectable, so homogeneity
            # stays unprovable and reads keep merging footers
            extra["read_merged"] = True
        carried = {f: s for f, s in stats.items() if f not in gone}
        if carried or new_stats:
            extra["stats"] = {**carried, **new_stats}
        dvs = {
            f: dict(e) for f, e in m.get("dvs", {}).items() if f not in gone
        }
        for f, n in dead.items():
            e = dvs.setdefault(f, {"parts": [], "rows": 0})
            e["parts"] = list(e["parts"]) + parts
            e["rows"] = int(e["rows"]) + n
        if dvs:
            extra["dvs"] = dvs

        return self._publish(
            spark,
            op,
            lambda base_v, base_m: (kept + new_files, rows, extra),
            expected=base,
            batch_id=batch_id,
            staged=new_files,
            dv_parts=parts,
        )

    # -- maintenance -----------------------------------------------------

    def maybe_compact(
        self,
        spark: SparkSession,
        max_files: int = 64,
        target_files: int = 8,
        max_dv_fraction: float = 0.2,
    ) -> int | None:
        """Small-file maintenance policy: compact when the live
        snapshot references more than ``max_files`` files (a streaming
        sink committing one file per micro-batch crosses this in
        minutes) OR when more than ``max_dv_fraction`` of its physical
        rows are deletion-vector debt (a merge-on-read CDC loop pays
        nothing per batch but accretes dead rows every reader must
        anti-join away — compaction materializes them). Both threshold
        checks are one manifest read — metadata only — so this is safe
        to call after every commit; returns the new version, or None
        when below threshold. Old files remain until :meth:`vacuum`
        retires them.

        compact() raises :class:`ConcurrentWriteError` when another
        commit lands mid-rewrite (concurrent appends are the NORM in
        the streaming sink this serves); this wrapper re-evaluates the
        threshold on the new base and retries a bounded number of
        times, then yields — a skipped compaction is pure policy, the
        next commit's call picks it up."""
        for _ in range(3):
            v = self.current_version(spark)
            if v is None:
                return None
            m = self._manifest(spark, v)
            dead = self._dv_rows(m)
            live = int(m.get("rows", 0))
            dv_debt = (
                dead > 0 and dead / (dead + live) > max_dv_fraction
                if dead + live > 0
                else False
            )
            if len(m["files"]) <= max_files and not dv_debt:
                return None
            try:
                return self.compact(spark, target_files=target_files)
            except ConcurrentWriteError:
                continue  # base moved: re-check threshold, rebase, retry
        return None

    def vacuum(
        self,
        spark: SparkSession,
        keep_versions: int = 1,
        orphan_grace_seconds: float = 3600.0,
        stage_marker_ttl_seconds: float = 7 * 86400.0,
    ) -> list[str]:
        """Delete data files referenced ONLY by manifests older than
        the newest ``keep_versions`` snapshots (plus stray uncommitted
        files past a grace age), and drop the retired manifests.
        Returns deleted file names. With keep_versions=1 only the live
        snapshot survives — run after readers of old snapshots have
        drained (retention windows in production).

        Candidates fall into three classes:

        - referenced by a KEPT manifest: never deleted;
        - referenced only by RETIRED manifests: deleted regardless of
          age — they are provably committed history being retired;
        - listed by a live ``_stage/`` marker (a write-audit-publish
          stage mid-audit): never deleted while the marker is younger
          than ``stage_marker_ttl_seconds`` — the audit window is
          unbounded, so age is no evidence of abandonment here;
        - referenced by NO present manifest: deleted only when older
          than ``orphan_grace_seconds``. A never-referenced file is
          either a crashed writer's debris OR a LIVE writer's
          staged-but-unpublished file — every commit renames its files
          into ``data/`` BEFORE its manifest publishes (the
          pre-publish window), and the two are indistinguishable from
          metadata alone. An age-blind vacuum racing that window
          deletes the stage and the writer then publishes a manifest
          referencing missing files — a bricked table (r13; the same
          failure Delta's VACUUM retention window exists to prevent,
          and the reason its default refuses retention < 168h). The
          grace also covers CommitAmbiguousError debt, whose manifest
          may still land server-side shortly after the client error.
          Pass 0 only when no writer can possibly be in flight.

        Clock-skew caveat: the grace compares the CLIENT clock
        (System.currentTimeMillis) against STORE-reported mtimes; on
        object stores, client/server skew shrinks or inflates the
        effective window the anti-brick guarantee depends on. The 1 h
        default already pads typical NTP-bounded skew by orders of
        magnitude; if the store's clock cannot be trusted to within
        minutes of the client's, derive "now" store-side (mtime of a
        just-written probe object) before tightening the grace."""
        latest = self.current_version(spark)
        if latest is None:
            return []
        jvm, fs = self._fs(spark)
        keep_from = max(0, latest - keep_versions + 1)
        live: set[str] = set()
        live_dv: set[str] = set()
        ever: set[str] = set()  # referenced by ANY present manifest
        ever_dv: set[str] = set()
        # Enumerate only PRESENT manifests (one listStatus of
        # _manifests/, already performed by _name_versions) rather than
        # probing every version number since 0: on long-lived tables
        # (the streaming sink commits per micro-batch) most old
        # versions were already vacuumed, and a range(0, latest+1)
        # probe loop costs O(total-commits-ever) failed fs.open calls
        # per vacuum even at keep_versions=1. Present-but-torn
        # manifests still parse to None and reference nothing.
        for v in self._name_versions(spark):
            if v > latest:
                continue  # claimed name above the last VALID commit
            m = self._try_manifest(spark, v)
            if m is None:  # torn manifests reference nothing
                continue
            files = set(m["files"])
            dvs = {p for e in m.get("dvs", {}).values() for p in e["parts"]}
            ever.update(files)
            ever_dv.update(dvs)
            if v >= keep_from:
                live.update(files)
                live_dv.update(dvs)
        now_ms = int(jvm.java.lang.System.currentTimeMillis())
        grace_ms = int(orphan_grace_seconds * 1000)
        marker_ttl_ms = int(stage_marker_ttl_seconds * 1000)

        def mtimes(subdir: str) -> dict[str, int]:
            d = self._jp(jvm, subdir)
            if not fs.exists(d):
                return {}
            return {
                st.getPath().getName(): int(st.getModificationTime())
                for st in fs.listStatus(d)
            }

        # Stage markers (_stage/, written by write_audit_publish):
        # files a live marker lists are protected REGARDLESS of age —
        # WAP's audit window is unbounded, so the orphan grace alone
        # cannot cover its stage (r14; an audit outlasting the grace
        # previously let vacuum delete the stage and the publish brick
        # the table). A marker older than the TTL (or torn — markers
        # write atomically, so torn = crashed writer debris) is itself
        # deleted and its protection lapses; the files then fall to
        # the normal never-referenced rules. TTL freshness uses the
        # marker file's STORE mtime, same clock the grace compares.
        staged_protect: set[str] = set()
        for mf, mtime in mtimes("_stage").items():
            expired = now_ms - mtime > marker_ttl_ms
            rec = None
            if not expired:
                try:
                    rec = json.loads(self._read_text(spark, "_stage", mf))
                    files_of = set(rec.get("files", []))
                except Exception:
                    rec = None
            if rec is None:
                fs.delete(self._jp(jvm, "_stage", mf), False)
                continue
            staged_protect |= files_of

        deleted = []
        for f, mtime in mtimes("data").items():
            if f in live:
                continue
            if f not in ever:
                if f in staged_protect:
                    continue  # a marked WAP stage, however old
                if now_ms - mtime < grace_ms:
                    continue  # possibly a live writer's pre-publish stage
            fs.delete(self._jp(jvm, "data", f), False)
            deleted.append(f)
        for f, mtime in mtimes("deletes").items():
            # deletion-vector parts referenced only by retired
            # manifests retire with them; never-referenced parts get
            # the same in-flight grace as data files
            if f in live_dv:
                continue
            if f not in ever_dv and now_ms - mtime < grace_ms:
                continue
            fs.delete(self._jp(jvm, "deletes", f), False)
            deleted.append(f"deletes/{f}")
        for mf in self._list_names(spark, "_manifests"):
            m = _MANIFEST_RE.match(mf)
            if m and int(m.group(1)) < keep_from:
                fs.delete(self._jp(jvm, "_manifests", mf), False)
        return sorted(deleted)
