"""Snapshot-manifest commit protocol (sources/manifest.py): the
S3-safe answer to directory-swap commits — readers resolve a file
list, the manifest file IS the commit record, old snapshots stay
complete until vacuumed. All I/O via the Hadoop FS API (file:// here,
same code for hdfs:// / s3a://)."""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from conftest import persisted_rdd_ids

from yc_yq_airflow_etl_spark.sources.manifest import (
    ManifestTable,
    WapRacedVacuumError,
)


@pytest.fixture()
def table(tmp_path):
    return ManifestTable(str(tmp_path / "mt"))


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )


def test_overwrite_and_read(spark, table):
    v = table.overwrite(_df(spark, 0, 100))
    assert v == 0
    got = table.read(spark)
    assert got.count() == 100
    assert got.agg(F.sum("v")).first()[0] == sum(2 * i for i in range(100))


def test_append_accumulates_and_time_travel(spark, table):
    table.overwrite(_df(spark, 0, 100))
    v1 = table.append(_df(spark, 100, 150))
    assert v1 == 1
    assert table.read(spark).count() == 150
    # time travel: the previous snapshot is still a complete table
    assert table.read(spark, version=0).count() == 100


def _data_files(table):
    return {
        f for f in os.listdir(f"{table.path}/data") if f.endswith(".parquet")
    }


def test_empty_append_lands_no_file(spark, table):
    """An empty frame that adds no column leaves the content as it is:
    no data file lands and, with no batch id raising the high-water
    mark, nothing commits. An empty frame that adds a column still
    commits (the column is new content)."""
    v0 = table.overwrite(_df(spark, 0, 10))
    files = table.manifest_files(spark, v0)
    assert table.append(_df(spark, 0, 0)) == v0
    assert table.current_version(spark) == v0
    assert _data_files(table) == set(files)
    assert table.read(spark).count() == 10
    v1 = table.append(_df(spark, 0, 0).withColumn("w", F.lit(1)))
    assert v1 == v0 + 1
    assert "w" in table._manifest(spark, v1)["columns"]


def test_commit_batch_of_empty_batch_records_batch_id_without_a_file(
    spark, table
):
    """``commit_batch`` appends every micro-batch: an empty one commits
    once, metadata-only, to record its batch id (same files, rows and
    content keys), and its replay is skipped."""
    from yc_yq_airflow_etl_spark.streaming.manifest_sink import commit_batch

    v0 = table.overwrite(_df(spark, 0, 10))
    assert commit_batch(table, _df(spark, 0, 0), 3) is True
    v1 = table.current_version(spark)
    m0, m1 = table._manifest(spark, v0), table._manifest(spark, v1)
    assert v1 == v0 + 1 and m1["last_batch_id"] == 3
    assert _data_files(table) == set(m0["files"])
    for k in ("files", "rows", "columns", "schema", "stats"):
        assert m1.get(k) == m0.get(k), k
    assert commit_batch(table, _df(spark, 0, 0), 3) is False
    assert table.current_version(spark) == v1
    assert table.read(spark).count() == 10


def test_compact_preserves_rows_and_snapshot_isolation(spark, table):
    table.overwrite(_df(spark, 0, 50))
    for lo in range(50, 250, 50):
        table.append(_df(spark, lo, lo + 50))
    pre_version = table.current_version(spark)
    assert len(table._manifest(spark, pre_version)["files"]) >= 5  # small files

    v = table.compact(spark, target_files=1)
    assert len(table._manifest(spark, v)["files"]) == 1
    assert table.read(spark).count() == 250
    # a reader pinned to the pre-compaction snapshot still sees a
    # complete table: compaction rewrote, it did NOT delete
    assert table.read(spark, version=pre_version).count() == 250


def _backdate(path: str, seconds: float = 7200.0) -> None:
    """Age a planted file past vacuum's in-flight orphan grace — the
    tests below distinguish 'a crash left this an hour ago' (eligible)
    from 'a live writer staged this just now' (protected)."""
    import time

    old = time.time() - seconds
    os.utime(path, (old, old))


def test_vacuum_retires_old_snapshots_only(spark, table):
    table.overwrite(_df(spark, 0, 100))
    table.compact(spark, target_files=1)
    # orphan from a writer that failed LONG AGO: never referenced by
    # any manifest, and old enough to clear the in-flight grace
    orphan = os.path.join(table.path, "data", "deadbeef.parquet")
    open(orphan, "wb").close()
    _backdate(orphan)

    deleted = table.vacuum(spark, keep_versions=1)
    assert "deadbeef.parquet" in deleted
    assert table.read(spark).count() == 100  # live snapshot intact
    with pytest.raises(Exception):
        table._manifest(spark, 0)  # retired manifest is gone


def test_failed_write_leaves_table_untouched(spark, table):
    table.overwrite(_df(spark, 0, 10))
    # simulate a writer dying between writing files and publishing:
    # files landed in data/ but no manifest references them
    files, _, _n = table._write_files(_df(spark, 1000, 2000))
    assert table.read(spark).count() == 10  # readers unaffected
    # a FRESH never-referenced file is indistinguishable from a live
    # writer's pre-publish stage — default vacuum must NOT touch it
    # (an age-blind vacuum racing the pre-publish window would brick
    # that writer's commit the moment its manifest lands)
    deleted = table.vacuum(spark, keep_versions=1)
    assert not (set(files) & set(deleted))
    for f in files:
        assert os.path.exists(os.path.join(table.path, "data", f))
    # past the grace (here: explicitly waived) the debris is collected
    deleted = table.vacuum(spark, keep_versions=1, orphan_grace_seconds=0)
    assert set(files) <= set(deleted)  # garbage collected
    assert table.read(spark).count() == 10


def test_vacuum_racing_live_append_does_not_brick_commit(
    spark, table, monkeypatch
):
    """The end-to-end pin of the in-flight grace: a maintenance vacuum
    fires EXACTLY inside an append's pre-publish window (files renamed
    into data/, manifest not yet up). The append must still publish a
    fully readable snapshot — with the grace mutation-disabled
    (orphan_grace_seconds=0 below), vacuum deletes the stage here and
    the append commits a manifest referencing missing files (a bricked
    table) — verified red before this landed."""
    table.overwrite(_df(spark, 0, 10))
    maintenance = ManifestTable(table.path)  # "another process"
    real_publish = ManifestTable._publish
    fired = []

    def vacuum_in_window(self, spark_, op, build, **kw):
        if op == "append" and not fired:
            fired.append(True)
            maintenance.vacuum(spark_, keep_versions=1)
        return real_publish(self, spark_, op, build, **kw)

    monkeypatch.setattr(ManifestTable, "_publish", vacuum_in_window)
    table.append(_df(spark, 100, 150))
    assert fired  # the race really interleaved
    assert table.read(spark).count() == 60  # snapshot complete, readable


def test_concurrent_evolving_append_merges_schema_at_rebase(
    spark, table, monkeypatch
):
    """Two writers race, one evolving: writer A stages a plain append
    against the 1-column base, and INSIDE A's pre-publish window
    writer B lands an append carrying a NEW column. A's rebase must
    re-resolve the schema against B's commit-time snapshot (not the
    one A read before the race): the final recorded schema is the
    union, both row sets land, and A's rows NULL-backfill B's column."""
    from pyspark.sql import functions as F

    table.overwrite(_df(spark, 0, 10))
    writer_b = ManifestTable(table.path)
    real_publish = ManifestTable._publish
    fired = []

    def b_lands_first(self, spark_, op, build, **kw):
        if op == "append" and not fired and self is not writer_b:
            fired.append(True)
            writer_b.append(
                _df(spark_, 100, 105).withColumn("extra", F.lit("b"))
            )
        return real_publish(self, spark_, op, build, **kw)

    monkeypatch.setattr(ManifestTable, "_publish", b_lands_first)
    table.append(_df(spark, 200, 203))  # plain schema, races B
    assert fired
    out = table.read(spark)
    assert set(out.columns) >= {"id", "extra"}
    assert out.count() == 18  # 10 base + 5 from B + 3 from A
    # A's rows (and the base) NULL-backfill B's evolved column
    assert out.filter(F.col("extra").isNull()).count() == 13
    # the rebase re-resolved on B's commit-time snapshot: A's files
    # lack B's column, so the snapshot is correctly flagged evolved
    # (heterogeneous files → union read), and the commit-time schema
    # record is the compatible UNION — not a conflict, not a silent
    # adoption of either writer's schema
    m = table._manifest(spark, table.current_version(spark))
    assert m.get("evolved") is True
    assert set(m["columns"]) == {"id", "v", "extra"}


def test_concurrent_type_change_flags_evolved_and_reads_fail_loudly(
    spark, table, monkeypatch
):
    """The documented last-resort path (manifest._append_build): a
    CONCURRENT overwrite changes a column's TYPE between an append's
    entry-conformance check and its commit-time build. The append must commit
    with the evolved flag — never silently adopt either schema — and
    a plain read over the mixed physical types must fail LOUDLY via
    mergeSchema instead of nondeterministically picking a footer."""
    import pytest
    from pyspark.sql import functions as F

    table.overwrite(_df(spark, 0, 10).withColumn("v", F.lit("s")))
    writer_b = ManifestTable(table.path)
    real_publish = ManifestTable._publish
    fired = []

    def b_overwrites_with_new_type(
        self, spark_, op, build, **kw
    ):
        if op == "append" and not fired and self is not writer_b:
            fired.append(True)
            writer_b.overwrite(
                _df(spark_, 100, 105).withColumn("v", F.lit(7).cast("long"))
            )
        return real_publish(self, spark_, op, build, **kw)

    monkeypatch.setattr(
        ManifestTable, "_publish", b_overwrites_with_new_type
    )
    table.append(_df(spark, 200, 203).withColumn("v", F.lit("a")))
    assert fired
    m = table._manifest(spark, table.current_version(spark))
    assert m.get("evolved") is True and "schema" not in m
    with pytest.raises(Exception):
        table.read(spark).collect()  # loud, not a nondeterministic pick


def test_vacuum_retired_history_deleted_regardless_of_age(spark, table):
    """The in-flight grace protects only NEVER-referenced files: a
    file some retired manifest references is provably committed
    history — it deletes immediately even though its mtime is
    seconds old."""
    table.overwrite(_df(spark, 0, 100))
    v0_files = set(table._manifest(spark, 0)["files"])
    table.compact(spark, target_files=1)  # v1 rewrites; v0 files stale
    deleted = set(table.vacuum(spark, keep_versions=1))
    assert v0_files <= deleted  # fresh mtimes, still collected
    assert table.read(spark).count() == 100


def test_restore_racing_vacuum_prepublish_refuses_loudly(
    spark, table, monkeypatch
):
    """restore(v0) vs concurrent vacuum, vacuum landing BEFORE the
    restore's manifest put: v0's files are referenced only by retired
    manifests, so the vacuum deletes them regardless of age — a
    restore that trusted its entry-time existence check would then
    commit a live snapshot pointing at deleted files (a bricked
    table; reproduced red on the pre-r14 single-check code). The
    per-attempt recheck inside the publish build must refuse pre-put:
    loud FileNotFoundError, NOTHING committed, live table intact."""
    import pytest as _pytest

    table.overwrite(_df(spark, 0, 100))  # v0
    table.overwrite(_df(spark, 100, 150))  # v1 (v0 now retired-only)
    maintenance = ManifestTable(table.path)
    orig = ManifestTable._publish
    fired = []

    def vacuum_in_window(self, spark_, op, build, **kw):
        if op == "restore" and not fired:
            fired.append(True)
            maintenance.vacuum(spark_, keep_versions=1)
        return orig(self, spark_, op, build, **kw)

    monkeypatch.setattr(ManifestTable, "_publish", vacuum_in_window)
    pre = table.current_version(spark)
    with _pytest.raises(FileNotFoundError, match="concurrent vacuum"):
        table.restore(spark, 0)
    assert fired
    assert table.current_version(spark) == pre  # nothing committed
    assert table.read(spark).count() == 50  # live table untouched


def test_restore_racing_vacuum_postpublish_heals_and_raises(
    spark, table, monkeypatch
):
    """The residual pure-CAS window: the vacuum's manifest scan ran
    BEFORE the restore's put, its delete loop AFTER — the restore's
    manifest is committed, then the files it references vanish. The
    post-publish verify must detect the tear, HEAL the table by
    re-publishing the newest materializable snapshot, and raise
    RestoreRacedVacuumError — never leave the live table bricked
    (mutation-verified: with the verify removed, read() of the live
    snapshot throws PATH_NOT_FOUND)."""
    import pytest as _pytest

    from yc_yq_airflow_etl_spark.sources.manifest import (
        RestoreRacedVacuumError,
    )

    table.overwrite(_df(spark, 0, 100))  # v0
    table.overwrite(_df(spark, 100, 150))  # v1
    v0_files = table.manifest_files(spark, 0)
    orig = ManifestTable._publish
    fired = []

    def late_delete(self, spark_, op, build, **kw):
        v = orig(self, spark_, op, build, **kw)
        # a racing vacuum whose scan predated our commit fires its
        # delete loop now: v0's files go, the restore manifest stays
        if op == "restore" and not fired:
            fired.append(True)
            for f in v0_files:
                os.remove(os.path.join(self.path, "data", f))
        return v

    monkeypatch.setattr(ManifestTable, "_publish", late_delete)
    with _pytest.raises(RestoreRacedVacuumError, match="healed"):
        table.restore(spark, 0)
    assert fired
    monkeypatch.setattr(ManifestTable, "_publish", orig)
    # the heal re-published v1's content: live table readable, and the
    # torn restore remains in history as a tombstone
    assert table.read(spark).count() == 50
    h = {e["version"]: e for e in table.history(spark)}
    healed = max(h)
    assert h[healed].get("op") == "restore"
    assert table.read(spark, version=healed).count() == 50


def test_wap_audit_outliving_grace_survives_vacuum_via_stage_marker(
    spark, table, monkeypatch
):
    """WRITE-AUDIT-PUBLISH racing vacuum: the audit window is
    unbounded by design, so an audit outlasting the in-flight orphan
    grace leaves the staged files looking like stale debris — a
    concurrent vacuum deleted them and the publish committed a
    manifest referencing missing files (a bricked table; reproduced
    red on the marker-less code, and mutation-verified red with the
    marker protection stripped from vacuum). The stage marker makes
    the staged files untouchable regardless of age; grace=0 below
    models an audit older than any grace."""
    from pyspark.sql import functions as F

    from yc_yq_airflow_etl_spark.operators.expectations import Rule

    table.overwrite(_df(spark, 0, 50))
    orig = ManifestTable._publish
    fired = []

    def vacuum_in_window(self, spark_, op, build, **kw):
        if op == "wap" and not fired:
            fired.append(True)
            ManifestTable(self.path).vacuum(
                spark_, keep_versions=1, orphan_grace_seconds=0
            )
        return orig(self, spark_, op, build, **kw)

    monkeypatch.setattr(ManifestTable, "_publish", vacuum_in_window)
    v, report = table.write_audit_publish(
        _df(spark, 100, 150), [Rule("v_even", F.col("v") % 2 == 0)]
    )
    assert fired and v is not None
    assert table.read(spark).count() == 100  # published AND readable
    # the marker is dropped once the files are manifest-referenced
    assert table._list_names(spark, "_stage") == []


def test_stage_marker_lifecycle_rejection_and_ttl_expiry(spark, table):
    """Marker hygiene: an audit REJECTION drops both the stage and its
    marker; a crashed WAP (marker left behind) protects its files from
    vacuum until the marker outlives the TTL, after which marker and
    files are both collected under the normal orphan rules."""
    from pyspark.sql import functions as F

    from yc_yq_airflow_etl_spark.operators.expectations import Rule

    table.overwrite(_df(spark, 0, 50))
    # rejection: odd values fail the rule → nothing staged survives
    v, report = table.write_audit_publish(
        spark.range(0, 10).select("id", (F.col("id") * 2 + 1).alias("v")),
        [Rule("v_even", F.col("v") % 2 == 0)],
    )
    assert v is None
    assert table._list_names(spark, "_stage") == []

    # crashed WAP: stage + marker exist, publish never ran
    files, _, _n = table._write_files(_df(spark, 100, 120))
    marker = table._write_stage_marker(spark, files)
    table.vacuum(spark, keep_versions=1, orphan_grace_seconds=0)
    for f in files:  # protected by the live marker, however old
        assert os.path.exists(os.path.join(table.path, "data", f))
    # marker outlives its TTL → collected, protection lapses
    _backdate(os.path.join(table.path, "_stage", marker), 8 * 86400)
    deleted = table.vacuum(spark, keep_versions=1, orphan_grace_seconds=0)
    assert set(files) <= set(deleted)
    assert table._list_names(spark, "_stage") == []
    assert table.read(spark).count() == 50


def test_timetravel_read_racing_vacuum_fails_loud_never_partial(
    spark, table
):
    """Time-travel read at v racing vacuum retiring v: the DataFrame
    resolves v's file list before the vacuum, the action runs after.
    The pinned property is that the vacuum can only cause a LOUD
    failure, never a silent partial result — even under the hostile
    session config ``spark.sql.files.ignoreMissingFiles=true`` (which
    would otherwise skip the deleted files and return fewer rows, and
    would silently RESURRECT deleted rows when a deletion-vector part
    goes missing). Snapshot readers force the option off per-relation;
    mutation-verified: on plain ``spark.read`` this test returns a
    partial count instead of raising."""
    import pytest as _pytest

    table.overwrite(_df(spark, 0, 100))  # v0
    table.overwrite(_df(spark, 100, 150))  # v1
    df_v0 = table.read(spark, version=0)  # lazy: file list resolved NOW
    old = spark.conf.get("spark.sql.files.ignoreMissingFiles")
    spark.conf.set("spark.sql.files.ignoreMissingFiles", "true")
    try:
        deleted = table.vacuum(spark, keep_versions=1)
        assert deleted  # v0's files really went
        with _pytest.raises(Exception) as ei:
            df_v0.count()
        assert "FileNotFound" in str(ei.getrepr()) or "not exist" in str(
            ei.value
        ) or "PATH_NOT_FOUND" in str(ei.value)
        # a read initiated AFTER the vacuum refuses descriptively
        with _pytest.raises(FileNotFoundError, match="missing or torn"):
            table.read(spark, version=0)
        # the live snapshot is untouched by any of this
        assert table.read(spark).count() == 50
    finally:
        spark.conf.set("spark.sql.files.ignoreMissingFiles", old)


def test_cdf_read_racing_vacuum_fails_loud_never_partial(spark, table):
    """table_changes (CDF) is an exact-file-list read like every other
    snapshot reader: under the hostile session config
    ``spark.sql.files.ignoreMissingFiles=true``, a vacuum retiring the
    from-version's files mid-read must cause a LOUD failure, never a
    silently-partial change feed (a downstream incremental consumer
    applying a partial feed diverges forever). Mutation-verified: on a
    bare ``spark.read.option('mergeSchema', True)`` reader this test
    returns fewer change rows instead of raising (r15, ADVICE)."""
    import pytest as _pytest

    table.overwrite(_df(spark, 0, 100))  # v0
    table.overwrite(_df(spark, 100, 150))  # v1: 100 deletes + 50 inserts
    cdf = table.table_changes(spark, 0, 1)  # file lists resolved NOW
    old = spark.conf.get("spark.sql.files.ignoreMissingFiles")
    spark.conf.set("spark.sql.files.ignoreMissingFiles", "true")
    try:
        deleted = table.vacuum(spark, keep_versions=1)
        assert deleted  # v0's files really went
        with _pytest.raises(Exception) as ei:
            cdf.count()
        msg = str(ei.getrepr())
        assert (
            "FileNotFound" in msg
            or "not exist" in msg
            or "PATH_NOT_FOUND" in msg
        )
    finally:
        spark.conf.set("spark.sql.files.ignoreMissingFiles", old)


def test_wap_audit_on_vanished_stage_fails_loud_never_partial(
    spark, table, monkeypatch
):
    """The WAP audit reads back the exact staged file list; if a staged
    file vanishes between staging and the audit (vacuum after marker
    TTL expiry, operator error), the audit must FAIL — under
    ``ignoreMissingFiles=true`` a bare reader would silently validate
    (and then PUBLISH a manifest referencing) a partial stage.
    Mutation-verified: without the per-relation
    ``ignoreMissingFiles=false`` the publish lands with the missing
    file in its manifest (r15, ADVICE)."""
    import pytest as _pytest

    from yc_yq_airflow_etl_spark.operators import expectations as _exp
    from yc_yq_airflow_etl_spark.operators.expectations import Rule

    table.overwrite(_df(spark, 0, 50))
    staged_names: list[str] = []
    orig_marker = ManifestTable._write_stage_marker

    def record_staged(self, spark_, files):
        staged_names.extend(files)
        return orig_marker(self, spark_, files)

    orig_audit = _exp.audit
    audit_validated_partial: list[bool] = []

    def lose_a_file_then_audit(staged, rules):
        # the race window: the reader is ALREADY constructed (footers
        # read while all files were present); one staged data file
        # disappears before the audit action scans it
        # (repartition(2) below guarantees >=2 files)
        os.remove(
            os.path.join(table.path, "data", sorted(staged_names)[0])
        )
        out = orig_audit(staged, rules)
        # layer pin: if this action SUCCEEDS, the audit just validated
        # a partial stage — the WAP contract is already broken even if
        # a later publish layer fails loud (mutation detector: the
        # bare-reader form returns a clean report on 25 of 50 rows)
        try:
            out.collect()
            audit_validated_partial.append(True)
        except Exception:
            pass
        return out

    monkeypatch.setattr(ManifestTable, "_write_stage_marker", record_staged)
    monkeypatch.setattr(_exp, "audit", lose_a_file_then_audit)
    # pin the layer: the AUDIT read must be the thing that fails —
    # publish's own _file_stats is a loud backstop (invariant #26), but
    # an audit that validated a partial stage has already broken the
    # WAP contract even if a later layer saves the manifest
    publish_attempts: list[str] = []
    orig_publish = ManifestTable._publish

    def record_publish(self, *a, **kw):
        publish_attempts.append("hit")
        return orig_publish(self, *a, **kw)

    monkeypatch.setattr(ManifestTable, "_publish", record_publish)
    old = spark.conf.get("spark.sql.files.ignoreMissingFiles")
    spark.conf.set("spark.sql.files.ignoreMissingFiles", "true")
    try:
        with _pytest.raises(Exception) as ei:
            table.write_audit_publish(
                _df(spark, 100, 150).repartition(2),
                [Rule("v_even", F.col("v") % 2 == 0)],
            )
        msg = str(ei.getrepr())
        assert (
            "FileNotFound" in msg
            or "not exist" in msg
            or "PATH_NOT_FOUND" in msg
        )
    finally:
        spark.conf.set("spark.sql.files.ignoreMissingFiles", old)
    # nothing published, table untouched, no marker debris — and the
    # failure came from the audit read, not a later publish backstop
    assert audit_validated_partial == []
    assert publish_attempts == []
    assert table.current_version(spark) == 0
    assert table.read(spark).count() == 50
    assert table._list_names(spark, "_stage") == []


def test_vacuum_reads_only_present_manifests(spark, table, monkeypatch):
    """Vacuum enumerates PRESENT manifests (one listStatus), not every
    version number since 0: on a long-lived table (streaming sink
    committing per micro-batch) most old versions are already
    vacuumed, and a range(0, latest+1) probe loop costs
    O(total-commits-ever) failed fs.open calls per vacuum even at
    keep_versions=1. Mutation check: the pre-r14 range loop calls
    _try_manifest latest+1 = 12 times here; the listing-based loop
    may read at most the 2 manifests that still exist."""
    table.overwrite(_df(spark, 0, 10))
    for lo in range(10, 120, 10):
        table.append(_df(spark, lo, lo + 10))
    assert table.current_version(spark) == 11
    table.vacuum(spark, keep_versions=2)  # retires manifests v0..v9

    calls = []
    orig = ManifestTable._try_manifest

    def counting(self, spark_, version):
        calls.append(version)
        return orig(self, spark_, version)

    monkeypatch.setattr(ManifestTable, "_try_manifest", counting)
    table.vacuum(spark, keep_versions=1)
    # current_version reads v11 once; the ever/live scan reads only
    # the present {v10, v11} — never the 10 vacuumed version numbers
    assert set(calls) <= {10, 11}, calls
    assert len(calls) <= 3, calls
    assert table.read(spark).count() == 120
    # history()/version_as_of ride the same listing: only the present
    # manifest (v11 after the second vacuum) is ever opened
    calls.clear()
    h = table.history(spark)
    assert [e["version"] for e in h] == [11]
    assert set(calls) <= {11}, calls


def test_ambiguous_commit_that_landed_is_skipped_on_streaming_replay(
    spark, table, monkeypatch
):
    """The documented 'batch-id paths are safe to retry as-is' claim,
    pinned end-to-end for the WORST ambiguous outcome: the manifest
    put raises client-side but the write LANDED server-side (on S3A
    the close() that raised IS the PUT). The sink's foreachBatch fails
    with CommitAmbiguousError, the streaming runtime replays the SAME
    batch id after restart — and the replay must be detected from the
    landed manifest's high-water mark and SKIPPED before any write,
    so rows land exactly once (a blind re-append would double them)."""
    import pytest as _pytest

    from yc_yq_airflow_etl_spark.sources.manifest import (
        CommitAmbiguousError,
    )
    from yc_yq_airflow_etl_spark.streaming.manifest_sink import commit_batch

    table.overwrite(_df(spark, 0, 10))
    orig = ManifestTable._write_text_atomic
    fired = []

    def lands_then_raises(self, spark_, content, *parts):
        ok = orig(self, spark_, content, *parts)
        if parts[0] == "_manifests" and not fired:
            fired.append(True)
            raise IOError("synthetic: connection reset AFTER the put landed")
        return ok

    monkeypatch.setattr(ManifestTable, "_write_text_atomic", lands_then_raises)
    with _pytest.raises(CommitAmbiguousError):
        commit_batch(table, _df(spark, 100, 150), batch_id=7)
    monkeypatch.undo()
    # the commit DID land: rows present, HWM carries batch 7
    assert table.read(spark).count() == 60
    assert table.last_batch_id(spark) == 7
    # the streaming replay of batch 7 must skip, not double-apply
    assert commit_batch(table, _df(spark, 100, 150), batch_id=7) is False
    assert table.read(spark).count() == 60
    # and the NEXT batch proceeds normally
    assert commit_batch(table, _df(spark, 150, 160), batch_id=8) is True
    assert table.read(spark).count() == 70


def test_overwrite_keeps_stream_high_water_mark(spark, table):
    """An overwrite carries the streaming high-water mark like every
    other commit: batch 4 committed before the overwrite stays
    committed, so its replay is skipped instead of landing a second
    time on top of the overwritten snapshot."""
    from yc_yq_airflow_etl_spark.streaming.manifest_sink import commit_batch

    batch = _df(spark, 0, 10)
    table.append(batch, batch_id=4)
    table.overwrite(_df(spark, 100, 105))
    assert table.last_batch_id(spark) == 4
    assert commit_batch(table, batch, 4) is False  # the replay is skipped
    assert table.read(spark).count() == 5
    assert table.last_batch_id(spark) == 4


def test_restore_put_that_raises_is_commit_ambiguous(
    spark, table, monkeypatch
):
    """restore commits through the same path as every op, so a
    manifest put that lands and then raises client-side (on S3A the
    close() that raised IS the PUT) surfaces as CommitAmbiguousError,
    not as the store's raw exception; the landed restore is then in
    history() for the caller to reconcile against."""
    import pytest as _pytest

    from yc_yq_airflow_etl_spark.sources.manifest import (
        CommitAmbiguousError,
    )

    table.overwrite(_df(spark, 0, 10))  # v0
    table.overwrite(_df(spark, 100, 150))  # v1
    orig = ManifestTable._write_text_atomic
    fired = []

    def lands_then_raises(self, spark_, content, *parts):
        ok = orig(self, spark_, content, *parts)
        if parts[0] == "_manifests" and not fired:
            fired.append(True)
            raise IOError("synthetic: connection reset AFTER the put landed")
        return ok

    monkeypatch.setattr(ManifestTable, "_write_text_atomic", lands_then_raises)
    with _pytest.raises(CommitAmbiguousError, match="restore commit outcome"):
        table.restore(spark, 0)
    monkeypatch.undo()
    assert fired
    top = table.history(spark)[0]
    assert top["version"] == 2
    assert top["op"] == "restore" and top["restored_from"] == 0
    assert table.read(spark).count() == 10


def test_commit_rules_live_only_in_publish():
    """Spark-free: ``ManifestTable._publish`` is the one place a
    commit record is decided. In ``sources/manifest.py`` no other
    function raises ConcurrentWriteError or CommitAmbiguousError, and
    none but ``_publish`` sets the ``last_batch_id`` key — apart from
    ``_heal``, whose WAP heal rolls the mark back to the candidate's
    own."""
    import ast

    import yc_yq_airflow_etl_spark.sources.manifest as mmod

    with open(mmod.__file__) as fh:
        tree = ast.parse(fh.read())
    owner: dict[int, str] = {}
    for fn in ast.walk(tree):
        if isinstance(fn, ast.FunctionDef):
            for node in ast.walk(fn):
                owner.setdefault(id(node), fn.name)  # outermost wins

    def is_mark(node) -> bool:
        return isinstance(node, ast.Constant) and node.value == "last_batch_id"

    raises, marks = [], []
    for node in ast.walk(tree):
        where = (owner.get(id(node)), node.lineno) if hasattr(
            node, "lineno"
        ) else None
        if (
            isinstance(node, ast.Raise)
            and isinstance(node.exc, ast.Call)
            and isinstance(node.exc.func, ast.Name)
            and node.exc.func.id
            in ("ConcurrentWriteError", "CommitAmbiguousError")
        ):
            raises.append((node.exc.func.id, *where))
        if isinstance(node, ast.Dict) and any(map(is_mark, node.keys)):
            marks.append(where)
        if (
            isinstance(node, ast.Subscript)
            and not isinstance(node.ctx, ast.Load)
            and is_mark(node.slice)
        ):
            marks.append(where)
        if isinstance(node, ast.Call) and (
            any(k.arg == "last_batch_id" for k in node.keywords)
            or (
                isinstance(node.func, ast.Attribute)
                and node.func.attr in ("setdefault", "update", "__setitem__")
                and node.args
                and is_mark(node.args[0])
            )
        ):
            marks.append(where)
    assert raises and all(r[1] == "_publish" for r in raises), raises
    assert {r[0] for r in raises} == {
        "ConcurrentWriteError",
        "CommitAmbiguousError",
    }
    assert marks and {m[0] for m in marks} <= {"_publish", "_heal"}, marks
    assert [m[0] for m in marks].count("_heal") == 1, marks


def test_streaming_into_manifest_table_exactly_once(spark, testdata, tmp_path):
    """Micro-batches land as atomic manifest commits; a replayed
    batch id (at-least-once foreachBatch after a crash) is skipped
    before any write, so rows land exactly once."""
    from yc_yq_airflow_etl_spark.schemas import EVENTS
    from yc_yq_airflow_etl_spark.streaming.manifest_sink import (
        commit_batch,
        stream_to_manifest_table,
    )

    src = str(tmp_path / "src")
    testdata["events"].limit(200).repartition(3).write.parquet(src)

    table = ManifestTable(str(tmp_path / "mt"))
    stream = (
        spark.readStream.schema(EVENTS)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream_to_manifest_table(stream, table, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)

    assert table.read(spark).count() == 200
    hwm = table.last_batch_id(spark)
    assert hwm >= 1  # multiple micro-batches really committed

    # crash replay: the SAME batch id redelivered must be a no-op
    dup = testdata["events"].limit(50)
    assert commit_batch(table, dup, hwm) is False
    assert table.read(spark).count() == 200
    # a genuinely new batch commits
    assert commit_batch(table, dup, hwm + 1) is True
    assert table.read(spark).count() == 250


def test_put_if_absent_claims_name_exactly_once(spark, tmp_path):
    """The conditional-create commit primitive: the first writer to a
    manifest name wins, the second gets False (never overwrites)."""
    t = ManifestTable(str(tmp_path / "mt"), publish_mode="conditional-create")
    assert t._put_if_absent(spark, '{"files": []}', "_manifests", "v0.json") is True
    assert t._put_if_absent(spark, '{"files": ["x"]}', "_manifests", "v0.json") is False
    # the winner's content is intact
    assert t._try_manifest(spark, 0) == {"files": []}


def test_put_if_absent_one_winner_under_contention(spark, tmp_path):
    """16 threads claim the SAME version name simultaneously: exactly
    one True, and the surviving bytes are the winner's — the atomic
    exactly-one-winner contract of the claim primitive itself, under
    far tighter contention than a full append pipeline can produce.
    On file:// the claim is POSIX O_CREAT|O_EXCL (Hadoop's local
    create(overwrite=false) is check-then-act and LOST this race —
    the r12 two-writer stress run caught two appends sharing one
    version name before the primitive was rerouted)."""
    import threading

    t = ManifestTable(str(tmp_path / "mt"), publish_mode="conditional-create")
    n = 16
    gate = threading.Barrier(n)
    results: list[tuple[int, bool]] = []
    lock = threading.Lock()

    def claim(i: int) -> None:
        content = '{"files": [], "writer": %d}' % i
        gate.wait()
        won = t._put_if_absent(spark, content, "_manifests", "v0.json")
        with lock:
            results.append((i, won))

    threads = [threading.Thread(target=claim, args=(i,)) for i in range(n)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    winners = [i for i, won in results if won]
    assert len(results) == n
    assert len(winners) == 1  # exactly one claim succeeds
    # the committed bytes are the winner's, complete and untorn
    assert t._try_manifest(spark, 0) == {"files": [], "writer": winners[0]}


def test_put_if_absent_scheme_dispatch(spark, tmp_path, monkeypatch):
    """The claim primitive dispatches on FS scheme (r12 verdict item):
    a non-file store (mocked s3a) must go through Hadoop
    ``fs.create(overwrite=False)`` — the store's real conditional PUT —
    and NEVER through the POSIX ``O_CREAT|O_EXCL`` branch, which is
    atomic only for the local filesystem. A refactor that silently
    routed S3 through the local-only branch would reintroduce the
    check-then-act race the r12 stress test caught on ``file://``."""
    t = ManifestTable(str(tmp_path / "mt"), publish_mode="conditional-create")
    real_jvm, _ = t._fs(spark)
    calls: list[tuple] = []

    class FakeStream:
        def write(self, b):
            calls.append(("write", bytes(b)))

        def close(self):
            calls.append(("close",))

    class FakeFs:
        def getScheme(self):
            return "s3a"

        def mkdirs(self, p):
            calls.append(("mkdirs", str(p)))
            return True

        def create(self, p, overwrite):
            calls.append(("create", str(p), overwrite))
            return FakeStream()

    monkeypatch.setattr(
        ManifestTable, "_fs", lambda self, s: (real_jvm, FakeFs())
    )
    assert t._put_if_absent(spark, '{"files": []}', "_manifests", "v0.json")
    create_calls = [c for c in calls if c[0] == "create"]
    assert len(create_calls) == 1
    assert create_calls[0][2] is False  # overwrite=False: conditional PUT
    assert ("write", b'{"files": []}') in calls and ("close",) in calls
    # and the local-only branch was NOT taken: nothing on disk
    assert not os.path.exists(str(tmp_path / "mt" / "_manifests" / "v0.json"))


def test_put_if_absent_file_scheme_writes_no_crc_sidecar(spark, tmp_path):
    """On file:// the POSIX O_EXCL branch intentionally bypasses
    Hadoop's ChecksumFileSystem — no .crc sidecar should appear
    (manifest integrity is parse-and-quarantine, not Hadoop CRC)."""
    t = ManifestTable(str(tmp_path / "mt"), publish_mode="conditional-create")
    assert t._put_if_absent(spark, '{"files": []}', "_manifests", "v0.json")
    names = os.listdir(str(tmp_path / "mt" / "_manifests"))
    assert names == ["v0.json"]  # no .v0.json.crc


def test_torn_manifest_ignored_and_version_burned(spark, tmp_path):
    """A writer that died mid-PUT (conditional-create mode) leaves a
    torn manifest under a claimed name. Readers must treat it as
    uncommitted — resolve the snapshot below it — and the next writer
    must burn that version number, never reuse or overwrite it."""
    t = ManifestTable(str(tmp_path / "mt"), publish_mode="conditional-create")
    t.overwrite(_df(spark, 0, 100))  # v0
    # simulate the crash: half-written JSON under the next version name
    with open(os.path.join(t.path, "_manifests", "v1.json"), "w") as fh:
        fh.write('{"version": 1, "files": ["aaa')

    # no torn read: the snapshot resolves to the last VALID commit
    assert t.current_version(spark) == 0
    assert t.read(spark).count() == 100
    # explicit time travel to the torn version is a clear error
    with pytest.raises(FileNotFoundError):
        t.read(spark, version=1)

    # the next commit lands ABOVE the torn name (burned, not reused)
    v = t.append(_df(spark, 100, 150))
    assert v == 2
    assert t.read(spark).count() == 150
    # vacuum with a torn manifest in range neither crashes nor deletes
    # the live snapshot's files
    t.vacuum(spark, keep_versions=1)
    assert t.read(spark).count() == 150


@pytest.mark.parametrize("mode", ["rename", "conditional-create"])
def test_concurrent_appends_no_lost_update(spark, tmp_path, mode):
    """Two writers interleaving appends: every publish race has exactly
    one winner per version name, the loser REBASES onto the winner's
    snapshot and retries — so no append is ever dropped (lost update)
    and every intermediate snapshot a reader could resolve is complete."""
    import threading

    t = ManifestTable(str(tmp_path / "mt"), publish_mode=mode)
    t.overwrite(_df(spark, 0, 100))

    versions: list[int] = []
    errors: list[Exception] = []
    gate = threading.Barrier(2)

    def writer(base: int) -> None:
        try:
            gate.wait()
            for i in range(3):
                lo = base + i * 10
                versions.append(t.append(_df(spark, lo, lo + 10)))
        except Exception as e:  # pragma: no cover - surfaced via assert
            errors.append(e)

    threads = [
        threading.Thread(target=writer, args=(1000,)),
        threading.Thread(target=writer, args=(2000,)),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    assert errors == []
    assert len(set(versions)) == 6  # six distinct committed versions
    # no lost update: all 6 appends' rows are in the final snapshot
    got = t.read(spark)
    assert got.count() == 160
    assert got.filter(F.col("id") >= 1000).count() == 60
    # every resolvable snapshot is a complete table (no torn reads)
    for v in sorted(set(versions)):
        assert t.read(spark, version=v).count() > 100


def test_schema_evolution_on_append(spark, table):
    """Appending rows with an added column evolves the snapshot: the
    read returns the union schema (old rows NULL in the new column),
    and compaction re-baselines everything onto one schema."""
    table.overwrite(_df(spark, 0, 10))
    wide = _df(spark, 10, 20).withColumn("w", F.lit("new"))
    table.append(wide)

    got = table.read(spark)
    assert set(got.columns) == {"id", "v", "w"}
    assert got.count() == 20
    assert got.filter(F.col("w").isNull()).count() == 10  # old rows
    # pre-evolution snapshot unchanged (time travel)
    assert set(table.read(spark, version=0).columns) == {"id", "v"}

    v = table.compact(spark, target_files=1)
    m = table._manifest(spark, v)
    assert "evolved" not in m  # re-baselined onto one schema
    assert table.read(spark).filter(F.col("w").isNull()).count() == 10


@pytest.fixture()
def stats_table(tmp_path):
    return ManifestTable(str(tmp_path / "mts"), stat_cols=("id",))


def _ranged(spark, lo, hi):
    # one file per commit, disjoint id ranges -> exercisable stats
    return (
        spark.range(lo, hi)
        .select(F.col("id"), (F.col("id") * 2).alias("v"))
        .coalesce(1)
    )


def test_file_stats_recorded_and_pruned(spark, stats_table):
    stats_table.overwrite(_ranged(spark, 0, 100))
    stats_table.append(_ranged(spark, 100, 200))
    stats_table.append(_ranged(spark, 200, 300))
    m = stats_table._manifest(spark, stats_table.current_version(spark))
    assert len(m["files"]) == 3
    assert set(m["stats"]) == set(m["files"])
    ranges = sorted(s["id"] for s in m["stats"].values())
    assert ranges == [[0, 99], [100, 199], [200, 299]]
    # manifest-level skipping: a mid-range probe keeps exactly 1 file
    kept = stats_table.pruned_files(spark, "id", 120, 150)
    assert len(kept) == 1
    got = stats_table.read_where(spark, "id", 120, 150)
    assert got.count() == 31
    assert got.agg(F.sum("v")).first()[0] == sum(2 * i for i in range(120, 151))


def test_merge_rewrites_only_touched_files(spark, stats_table):
    stats_table.overwrite(_ranged(spark, 0, 100))
    stats_table.append(_ranged(spark, 100, 200))
    stats_table.append(_ranged(spark, 200, 300))
    before = stats_table._manifest(spark, stats_table.current_version(spark))
    untouched_expected = {
        f for f, s in before["stats"].items() if s["id"][0] >= 100
    }
    # updates hit only the 0-99 file, plus one brand-new key (insert)
    updates = spark.createDataFrame(
        [(10, -1), (20, -2), (5000, -3)], ["id", "v"]
    )
    v = stats_table.merge(updates, "id")
    after = stats_table._manifest(spark, v)
    # the two out-of-range files were carried forward BY NAME
    assert untouched_expected < set(after["files"])
    assert set(after["files"]) != set(before["files"])
    got = {r.id: r.v for r in stats_table.read(spark).collect()}
    assert len(got) == 301  # 300 originals + 1 insert
    assert got[10] == -1 and got[20] == -2 and got[5000] == -3
    assert got[30] == 60  # untouched row in the rewritten file survives
    assert got[150] == 300  # carried-forward file untouched
    # stats follow the rewrite: carried files keep theirs, new files get new
    assert set(after["stats"]) == set(after["files"])


def test_commit_row_accounting_is_metadata_only_with_stats(
    spark, stats_table, monkeypatch
):
    """Stats-backed tables record a physical ``rows:`` count per file
    at write time, so merge/append/overwrite row accounting must run
    ZERO recount jobs (at 100 TB a recount is a second object-store
    scan of data just written). Pinned by forbidding ``_count``
    outright; legacy manifests without the key keep the fallback
    (separate test below)."""
    from yc_yq_airflow_etl_spark.sources.manifest import ManifestTable

    stats_table.overwrite(_ranged(spark, 0, 100))
    stats_table.append(_ranged(spark, 100, 200))
    m = stats_table._manifest(spark, stats_table.current_version(spark))
    assert all(s["rows:"] == 100 for s in m["stats"].values())
    assert m["rows"] == 200

    def _no_count(self, spark, files):
        raise AssertionError(
            f"physical recount of {len(files)} files despite recorded "
            "per-file rows"
        )

    monkeypatch.setattr(ManifestTable, "_count", _no_count)
    updates = spark.createDataFrame([(10, -1), (5000, -3)], ["id", "v"])
    v = stats_table.merge(updates, "id")
    after = stats_table._manifest(spark, v)
    assert after["rows"] == 201  # 200 + 1 insert, from metadata alone
    stats_table.append(_ranged(spark, 300, 350))
    final = stats_table._manifest(spark, stats_table.current_version(spark))
    assert final["rows"] == 251


def test_legacy_manifest_without_rowcounts_falls_back_to_recount(
    spark, stats_table
):
    """Pre-r9 manifests carry stats without the ``rows:`` key — the
    accounting must recount rather than crash or zero out."""
    stats_table.overwrite(_ranged(spark, 0, 100))
    v = stats_table.current_version(spark)
    m = stats_table._manifest(spark, v)
    for s in m["stats"].values():
        s.pop("rows:")
    m.pop("rows")
    import json as _json

    with open(f"{stats_table.path}/_manifests/v{v}.json", "w") as fh:
        _json.dump(m, fh)
    import os as _os

    # drop Hadoop LocalFS's checksum twin — the hand-edit above would
    # otherwise read as a torn (CRC-mismatched) manifest
    crc = f"{stats_table.path}/_manifests/.v{v}.json.crc"
    if _os.path.exists(crc):
        _os.remove(crc)
    updates = spark.createDataFrame([(10, -1)], ["id", "v"])
    v2 = stats_table.merge(updates, "id")
    after = stats_table._manifest(spark, v2)
    assert after["rows"] == 100


def test_merge_touched_selection_scales_to_thousand_files(spark, stats_table):
    """The touched-file decision is METADATA-scale: merge against a
    1000-file snapshot where 999 files' ranges provably exclude the
    batch must open only the one real file — the synthetic 999 have no
    bytes on disk, so any code path that touches them fails loudly.
    This pins the single-job fold at a file count ~250x the other
    merge tests (the shape a year of CDC appends produces)."""
    import json as _json
    import os as _os
    import time as _time

    stats_table.overwrite(_ranged(spark, 0, 100))
    v = stats_table.current_version(spark)
    m = stats_table._manifest(spark, v)
    real = list(m["files"])
    for i in range(1, 1000):
        name = f"synth_{i:04d}.parquet"
        m["files"].append(name)
        m["stats"][name] = {
            "rows:": 10,
            "id": [i * 1000, i * 1000 + 999],
            "nulls:id": 0,
        }
    m["rows"] = int(m["rows"]) + 999 * 10
    with open(f"{stats_table.path}/_manifests/v{v}.json", "w") as fh:
        _json.dump(m, fh)
    crc = f"{stats_table.path}/_manifests/.v{v}.json.crc"
    if _os.path.exists(crc):
        _os.remove(crc)

    ups = spark.createDataFrame([(10, -1)], ["id", "v"])
    t0 = _time.time()
    v2 = stats_table.merge(ups, "id")
    wall = _time.time() - t0
    after = stats_table._manifest(spark, v2)
    synth = {f for f in after["files"] if f.startswith("synth_")}
    assert len(synth) == 999  # every provably-unmatched file carried
    assert real[0] not in after["files"]  # the one real file rewrote
    assert after["rows"] == 100 + 999 * 10  # metadata-only accounting
    # carried stats survive by name
    assert after["stats"]["synth_0500.parquet"]["rows:"] == 10
    # generous ceiling: a per-file job regression would blow minutes
    assert wall < 30, f"1000-file merge took {wall:.1f}s"


def test_merge_prunes_on_string_and_double_keys(spark, tmp_path):
    """Touched-file selection must hold for every _STATS_TYPES key
    shape the JSON manifest round-trips: string bounds compare
    lexicographically, double bounds numerically (the typed file-
    metadata frame the single-pass probe broadcasts)."""
    from yc_yq_airflow_etl_spark.sources.manifest import ManifestTable

    # string key: two files with disjoint lexicographic ranges
    st = ManifestTable(str(tmp_path / "skey"), stat_cols=("k",))
    st.overwrite(
        spark.createDataFrame([("apple", 1), ("car", 2)], ["k", "v"]).coalesce(1)
    )
    st.append(
        spark.createDataFrame([("melon", 3), ("zebra", 4)], ["k", "v"]).coalesce(1)
    )
    before = set(st._manifest(spark, st.current_version(spark))["files"])
    v = st.merge(spark.createDataFrame([("banana", -1)], ["k", "v"]), "k")
    after = st._manifest(spark, v)
    assert len(before & set(after["files"])) == 1  # melon/zebra carried
    got = {r.k: r.v for r in st.read(spark).collect()}
    assert got == {"apple": 1, "banana": -1, "car": 2, "melon": 3, "zebra": 4}

    # double key: update hits only the low-range file
    dt = ManifestTable(str(tmp_path / "dkey"), stat_cols=("k",))
    dt.overwrite(
        spark.createDataFrame([(0.5, 1), (0.9, 2)], ["k", "v"]).coalesce(1)
    )
    dt.append(
        spark.createDataFrame([(10.5, 3), (99.9, 4)], ["k", "v"]).coalesce(1)
    )
    before = set(dt._manifest(spark, dt.current_version(spark))["files"])
    v = dt.merge(spark.createDataFrame([(0.9, -2)], ["k", "v"]), "k")
    after = dt._manifest(spark, v)
    assert len(before & set(after["files"])) == 1
    got = {r.k: r.v for r in dt.read(spark).collect()}
    assert got == {0.5: 1, 0.9: -2, 10.5: 3, 99.9: 4}


def test_merge_conflict_detection(spark, stats_table):
    stats_table.overwrite(_ranged(spark, 0, 100))
    base = stats_table.current_version(spark)
    stats_table.append(_ranged(spark, 100, 200))  # snapshot advances
    from yc_yq_airflow_etl_spark.sources.manifest import ConcurrentWriteError

    updates = spark.createDataFrame([(1, -1)], ["id", "v"])
    with pytest.raises(ConcurrentWriteError, match="re-run the merge"):
        stats_table.merge(updates, "id", expected_version=base)
    # the failed merge left only unreferenced garbage; data is intact
    assert stats_table.read(spark).count() == 200


def test_merge_without_stats_is_full_rewrite_but_correct(spark, table):
    table.overwrite(_df(spark, 0, 100))
    updates = spark.createDataFrame([(1, -1), (999, -9)], ["id", "v"])
    table.merge(updates, "id")
    got = {r.id: r.v for r in table.read(spark).collect()}
    assert len(got) == 101 and got[1] == -1 and got[999] == -9


def test_merge_rejects_duplicate_update_keys(spark, stats_table):
    stats_table.overwrite(_ranged(spark, 0, 100))
    dup = spark.createDataFrame([(1, -1), (1, -2)], ["id", "v"])
    with pytest.raises(ValueError, match="duplicate"):
        stats_table.merge(dup, "id")


def test_all_null_stat_column_is_kept_conservatively(spark, tmp_path):
    """A file whose stat column is entirely NULL must record no range
    for it (not [null, null]) — and both pruning and merge must keep /
    touch that file conservatively instead of comparing None bounds."""
    from pyspark.sql.types import LongType, StructField, StructType

    mt = ManifestTable(str(tmp_path / "mtn"), stat_cols=("id",))
    schema = StructType(
        [StructField("id", LongType()), StructField("v", LongType())]
    )
    mt.overwrite(_ranged(spark, 0, 100))
    mt.append(
        spark.createDataFrame([(None, 7), (None, 8)], schema).coalesce(1)
    )
    m = mt._manifest(spark, mt.current_version(spark))
    null_files = [f for f in m["files"] if "id" not in m["stats"].get(f, {})]
    assert len(null_files) == 1  # range omitted, not [null, null]
    # pruning keeps the stat-less file no matter the probe range
    kept = mt.pruned_files(spark, "id", 500, 600)
    assert null_files[0] in kept
    assert mt.read_where(spark, "id", 10, 20).count() == 11
    # merge conservatively rewrites the stat-less file and stays exact
    updates = spark.createDataFrame([(10, -1), (5000, -3)], ["id", "v"])
    mt.merge(updates, "id")
    got = mt.read(spark)
    assert got.count() == 103  # 100 + 2 null rows + 1 insert
    vals = {r.id: r.v for r in got.filter(F.col("id").isNotNull()).collect()}
    assert vals[10] == -1 and vals[5000] == -3
    assert got.filter(F.col("id").isNull()).count() == 2


def test_merge_and_compact_carry_batch_high_water_mark(spark, stats_table):
    """The streaming replay guard must survive EVERY commit type: a
    merge or compaction that dropped last_batch_id would let a
    replayed micro-batch re-land after it."""
    stats_table.overwrite(_ranged(spark, 0, 100))
    stats_table.append(_ranged(spark, 100, 200), batch_id=7)
    assert stats_table.last_batch_id(spark) == 7

    updates = spark.createDataFrame([(10, -1)], ["id", "v"])
    stats_table.merge(updates, "id")
    assert stats_table.last_batch_id(spark) == 7  # merge carried it

    stats_table.compact(spark, target_files=1)
    assert stats_table.last_batch_id(spark) == 7  # compaction carried it

    stats_table.merge(spark.createDataFrame([(11, -2)], ["id", "v"]),
                      "id", batch_id=9)
    assert stats_table.last_batch_id(spark) == 9  # merge can advance it


def test_streaming_cdc_upsert_exactly_once(spark, tmp_path):
    """Changelog-apply sink: micro-batches MERGE by key (last change
    per key wins within a batch), replayed batch ids are skipped, and
    the final table is the net state — not the event log."""
    from yc_yq_airflow_etl_spark.streaming.manifest_sink import (
        upsert_batch,
        upsert_stream_to_manifest_table,
    )

    table = ManifestTable(str(tmp_path / "cdc"), stat_cols=("id",))
    table.overwrite(
        spark.createDataFrame(
            [(i, 0, 0) for i in range(10)], "id long, v long, seq long"
        ).coalesce(1)
    )

    # two changelog files -> two micro-batches; file 1 carries TWO
    # changes for id=1 (seq 1 then 2: last-wins collapse), file 2
    # updates id=1 again and inserts id=100
    src = str(tmp_path / "log")
    spark.createDataFrame(
        [(1, 10, 1), (1, 20, 2), (2, 5, 1)], "id long, v long, seq long"
    ).coalesce(1).write.mode("append").parquet(src)
    import time as _t

    _t.sleep(0.05)  # distinct mod-times -> stable file replay order
    spark.createDataFrame(
        [(1, 30, 3), (100, 7, 1)], "id long, v long, seq long"
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("id long, v long, seq long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = upsert_stream_to_manifest_table(
        stream, table, "id", "seq", str(tmp_path / "ck")
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)

    got = {r.id: r.v for r in table.read(spark).collect()}
    assert len(got) == 11  # 10 seeded + 1 insert, upserts in place
    assert got[1] == 30 and got[2] == 5 and got[100] == 7 and got[3] == 0

    # crash replay of the last committed batch id is a no-op
    hwm = table.last_batch_id(spark)
    replay = spark.createDataFrame([(1, 999, 9)], "id long, v long, seq long")
    assert upsert_batch(table, replay, hwm, "id", "seq") is False
    assert {r.id: r.v for r in table.read(spark).collect()}[1] == 30

    # tied (key, seq) rows have no defined "latest" -> loud failure
    tied = spark.createDataFrame(
        [(5, 1, 4), (5, 2, 4)], "id long, v long, seq long"
    )
    with pytest.raises(ValueError, match="tied"):
        upsert_batch(table, tied, hwm + 1, "id", "seq")


def test_streaming_full_cdc_apply_with_deletes(spark, tmp_path):
    """Live end-to-end run of ``cdc_stream_to_manifest_table``: two
    changelog files -> two micro-batches, each landing as ONE atomic
    merge commit applying its inserts, updates AND deletes; a key
    deleted then re-inserted across batches survives with the later
    value; op/seq transport columns never reach the table."""
    from yc_yq_airflow_etl_spark.streaming.manifest_sink import (
        cdc_stream_to_manifest_table,
    )

    table = ManifestTable(str(tmp_path / "cdc"), stat_cols=("id",))
    table.overwrite(
        spark.createDataFrame(
            [(i, 0) for i in range(10)], "id long, v long"
        ).coalesce(1)
    )
    v0 = table.current_version(spark)

    src = str(tmp_path / "log")
    # batch 1: update id=1, delete id=2, insert-then-delete id=50
    # (nets to absent), delete id=3
    spark.createDataFrame(
        [
            (1, 10, 1, "U"),
            (2, 0, 1, "D"),
            (50, 5, 1, "I"),
            (50, 0, 2, "D"),
            (3, 0, 1, "D"),
        ],
        "id long, v long, seq long, op string",
    ).coalesce(1).write.mode("append").parquet(src)
    import time as _t

    _t.sleep(0.05)  # distinct mod-times -> stable file replay order
    # batch 2: re-insert the deleted id=2, update id=1 again
    spark.createDataFrame(
        [(2, 22, 3, "I"), (1, 11, 3, "U")],
        "id long, v long, seq long, op string",
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("id long, v long, seq long, op string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = cdc_stream_to_manifest_table(
        stream, table, "id", "seq", str(tmp_path / "ck")
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)

    got = {r.id: r.v for r in table.read(spark).collect()}
    assert got[1] == 11  # updated twice, last wins
    assert got[2] == 22  # deleted in batch 1, re-inserted in batch 2
    assert 3 not in got and 50 not in got  # deletes held
    assert len(got) == 9  # 10 seeded - 2 net deletes (3, none for 2) + 0
    assert set(table.read(spark).columns) == {"id", "v"}
    assert table.current_version(spark) == v0 + 2  # one commit per batch


def test_concurrent_merges_one_wins_one_conflicts(spark, stats_table):
    """Two writers merging from the same base snapshot: exactly one
    commit wins; the loser gets ConcurrentWriteError (its rewrite was
    computed against a stale base and silently dropping the winner's
    rows is the failure mode the CAS exists to prevent). Data equals
    the winner's merge applied exactly once."""
    import threading

    from yc_yq_airflow_etl_spark.sources.manifest import ConcurrentWriteError

    stats_table.overwrite(_ranged(spark, 0, 100))
    base = stats_table.current_version(spark)

    results: dict[str, object] = {}
    barrier = threading.Barrier(2)

    def writer(tag: str, rows):
        updates = spark.createDataFrame(rows, ["id", "v"])
        try:
            barrier.wait(30)
            results[tag] = stats_table.merge(
                updates, "id", expected_version=base
            )
        except ConcurrentWriteError:
            results[tag] = "conflict"
        except Exception as e:  # pragma: no cover - surfaced in assert
            results[tag] = e

    t1 = threading.Thread(target=writer, args=("a", [(1, -1)]))
    t2 = threading.Thread(target=writer, args=("b", [(2, -2)]))
    t1.start(); t2.start(); t1.join(120); t2.join(120)

    outcomes = sorted(str(v) for v in results.values())
    wins = [v for v in results.values() if isinstance(v, int)]
    assert len(wins) == 1 and "conflict" in results.values(), outcomes
    got = {r.id: r.v for r in stats_table.read(spark).collect()}
    assert len(got) == 100  # no insert, one in-place update
    winner = [k for k, v in results.items() if isinstance(v, int)][0]
    assert got[1 if winner == "a" else 2] == (-1 if winner == "a" else -2)
    # the loser's key is untouched
    assert got[2 if winner == "a" else 1] == (4 if winner == "a" else 2)


def test_maybe_compact_policy(spark, table):
    """maybe_compact fires only past the file-count threshold and is a
    metadata-only no-op below it."""
    table.overwrite(_df(spark, 0, 10))
    for lo in range(10, 60, 10):
        table.append(_df(spark, lo, lo + 10))
    v = table.current_version(spark)
    n_files = len(table._manifest(spark, v)["files"])
    assert n_files >= 6
    # below threshold: no new commit
    assert table.maybe_compact(spark, max_files=100) is None
    assert table.current_version(spark) == v
    # above threshold: one compaction commit, data intact
    new_v = table.maybe_compact(spark, max_files=4, target_files=2)
    assert new_v == v + 1
    assert len(table._manifest(spark, new_v)["files"]) <= 2
    assert table.read(spark).count() == 60
    # idempotent afterwards
    assert table.maybe_compact(spark, max_files=4) is None


def test_history_and_timestamp_time_travel(spark, table):
    """DESCRIBE HISTORY + AS OF TIMESTAMP: the commit log lists every
    valid snapshot newest-first, and timestamp resolution returns the
    snapshot that was current at that moment."""
    import time as _t

    table.overwrite(_df(spark, 0, 100))
    t_after_v0 = _t.time()
    _t.sleep(0.05)
    table.append(_df(spark, 100, 150))
    _t.sleep(0.05)
    t_after_v1 = _t.time()
    _t.sleep(0.05)
    table.append(_df(spark, 150, 160))

    h = table.history(spark)
    assert [e["version"] for e in h] == [2, 1, 0]
    assert [e["op"] for e in h] == ["append", "append", "overwrite"]
    assert h[-1]["rows"] == 100 and h[0]["rows"] == 160
    assert all(e["committed_at"] is not None for e in h)

    assert table.version_as_of(spark, t_after_v0) == 0
    assert table.read_as_of(spark, t_after_v1).count() == 150
    assert table.read_as_of(spark, _t.time()).count() == 160
    with pytest.raises(FileNotFoundError, match="at or before"):
        table.version_as_of(spark, h[-1]["committed_at"] - 10.0)


def test_bucket_transform_pruning(spark, tmp_path):
    """Iceberg-style bucket metadata: files written bucket-clustered
    record singleton bucket sets, and an equality probe keeps exactly
    the one file whose set holds the probe's bucket — the pruning
    min/max ranges cannot give when key values interleave."""
    mt = ManifestTable(str(tmp_path / "mb"), bucket_cols=(("id", 8),))
    base = spark.range(0, 400).select(F.col("id"), (F.col("id") * 2).alias("v"))
    bexpr = F.pmod(F.xxhash64(F.col("id").cast("bigint")), F.lit(8))
    for i in range(8):
        part = base.filter(bexpr == i).coalesce(1)
        (mt.overwrite if i == 0 else mt.append)(part)
    m = mt._manifest(spark, mt.current_version(spark))
    assert len(m["files"]) == 8
    sets = [m["stats"][f]["bucket:id"] for f in m["files"]]
    assert all(len(s) <= 1 for s in sets)  # clustered: one bucket per file

    kept = mt.pruned_files_eq(spark, "id", 123)
    assert len(kept) == 1  # id=123's own bucket is nonempty by definition
    got = mt.read_where_eq(spark, "id", 123).collect()
    assert [(r.id, r.v) for r in got] == [(123, 246)]
    # a value outside the data still reads correctly (bucket superset,
    # exact predicate empties it)
    assert mt.read_where_eq(spark, "id", 100_000).count() == 0
    # range stats absent -> plain pruned_files keeps everything
    assert len(mt.pruned_files(spark, "id", 0, 10)) == 8
    with pytest.raises(ValueError, match="bucket probe"):
        mt.bucket_of(spark, "id", [1])


def test_delete_merge_on_read_writes_no_data_file(spark, tmp_path):
    """MOR DELETE: the commit attaches deletion-vector positions and
    rewrites NOTHING — the data file list is unchanged byte-for-byte.
    Reads (full, range-pruned, time-travel) all subtract the dead
    rows; a second overlapping delete never double-subtracts; a
    predicate matching nothing (or only already-dead rows) is a
    no-op."""
    mt = ManifestTable(str(tmp_path / "mor"), stat_cols=("id",))
    mt.overwrite(_ranged(spark, 0, 100))
    mt.append(_ranged(spark, 100, 200), batch_id=3)
    v0 = mt.current_version(spark)
    files0 = mt._manifest(spark, v0)["files"]

    v1 = mt.delete_where(spark, "id % 10 = 7", mode="merge-on-read")
    m1 = mt._manifest(spark, v1)
    assert m1["files"] == files0  # no data file rewritten
    assert m1["deleted_rows"] == 20 and m1["rows"] == 180
    assert int(m1["last_batch_id"]) == 3  # hwm survives
    assert mt.read(spark).count() == 180
    assert mt.read(spark).filter("id % 10 = 7").count() == 0
    # time travel still sees the pre-delete snapshot
    assert mt.read(spark, version=v0).count() == 200
    # the layout surface exposes the per-file DV debt
    ft = mt.files_table(spark).collect()
    assert sum(r.dv_rows for r in ft) == 20
    assert all(r.dv_rows == 10 for r in ft)  # 10 dead per 100-row file
    # pruned range read subtracts too
    got = sorted(r.id for r in mt.read_where(spark, "id", 0, 20).collect())
    assert got == [i for i in range(21) if i % 10 != 7]

    # overlapping second MOR delete: id%5==2 matches ids ending in 2
    # or 7 (40 rows), but the ...7 ones are already dead — only the
    # 20 NEWLY dead rows subtract
    v2 = mt.delete_where(spark, "id % 5 = 2", mode="merge-on-read")
    m2 = mt._manifest(spark, v2)
    assert m2["deleted_rows"] == 20 and m2["rows"] == 160
    assert mt.read(spark).count() == 160

    # deleting only already-dead rows: no-op, no commit
    assert mt.delete_where(spark, "id = 7", mode="merge-on-read") == v2
    with pytest.raises(ValueError, match="unknown delete mode"):
        mt.delete_where(spark, "id = 1", mode="bogus")


def test_mor_deletes_survive_rewrites_and_vacuum(spark, tmp_path):
    """DV lifecycle across every rewrite op: merge materializes the
    touched file's deletes and carries the untouched file's DV;
    append carries DVs untouched; compact materializes all of them
    (no dvs key, same rows); vacuum retires DV parts with the
    manifests that referenced them; restore refuses a version whose
    DV parts were vacuumed; table_changes emits exactly the
    newly-dead rows for a DV-only commit."""
    mt = ManifestTable(str(tmp_path / "morlc"), stat_cols=("id",))
    mt.overwrite(_ranged(spark, 0, 100))
    mt.append(_ranged(spark, 100, 200))
    v_pre = mt.current_version(spark)
    v_dv = mt.delete_where(spark, "id in (5, 150)", mode="merge-on-read")

    # change feed of the DV-only commit: two deletes, zero inserts
    ch = mt.table_changes(spark, v_pre, v_dv).collect()
    assert sorted((r.id, r._change_type) for r in ch) == [
        (5, "delete"),
        (150, "delete"),
    ]

    # merge rewrites the file holding id∈[0,100) only: its dead row 5
    # must stay dead in the rewrite; file B keeps its DV entry
    v_m = mt.merge(spark.createDataFrame([(6, -1)], ["id", "v"]), "id")
    m = mt._manifest(spark, v_m)
    got = {r.id for r in mt.read(spark).collect()}
    assert 5 not in got and 150 not in got and m["rows"] == 198
    assert len(m.get("dvs", {})) == 1  # only file B's entry survives

    # append carries the remaining DV
    mt.append(_ranged(spark, 200, 210))
    assert mt.read(spark).count() == 208
    assert len(mt._manifest(spark, mt.current_version(spark))["dvs"]) == 1

    # compact materializes: no dvs key, content identical
    v_c = mt.compact(spark, target_files=2)
    mc = mt._manifest(spark, v_c)
    assert "dvs" not in mc and mc["rows"] == 208
    assert mt.read(spark).count() == 208

    # vacuum to the compacted snapshot retires the DV parts
    removed = mt.vacuum(spark, keep_versions=1)
    assert any(f.startswith("deletes/") for f in removed)
    assert mt.read(spark).count() == 208
    # the DV snapshot is gone (manifest retired with its parts) —
    # restore refuses rather than committing an unreadable snapshot
    with pytest.raises(FileNotFoundError):
        mt.restore(spark, v_dv)


def test_restore_refuses_when_dv_parts_missing(spark, tmp_path):
    """The restore existence check covers deletion-vector parts, not
    just data files: a surviving manifest whose DV part was lost must
    refuse loudly instead of restoring a snapshot that resurrects
    deleted rows."""
    import os

    mt = ManifestTable(str(tmp_path / "morrs"), stat_cols=("id",))
    mt.overwrite(_ranged(spark, 0, 50))
    v_dv = mt.delete_where(spark, "id = 3", mode="merge-on-read")
    mt.append(_ranged(spark, 50, 60))
    part = next(
        iter(mt._manifest(spark, v_dv)["dvs"].values())
    )["parts"][0]
    os.remove(f"{mt.path}/deletes/{part}")
    with pytest.raises(FileNotFoundError, match="no longer materializable"):
        mt.restore(spark, v_dv)


def test_merge_mor_is_append_only(spark, tmp_path):
    """MOR MERGE: every pre-existing data file survives BY NAME — the
    matched keys die via deletion vectors and the batch appends as
    new files. Updates, inserts and deletes land in one commit; a
    chained second merge on an appended key kills the newer copy;
    compaction materializes everything; a schema-mismatched batch
    raises."""
    mt = ManifestTable(
        str(tmp_path / "mm"), stat_cols=("id",), bucket_cols=(("id", 8),)
    )
    mt.overwrite(_ranged(spark, 0, 100))
    mt.append(_ranged(spark, 100, 200), batch_id=2)
    v0 = mt.current_version(spark)
    files0 = set(mt._manifest(spark, v0)["files"])

    ups = spark.createDataFrame([(50, -1), (500, -2)], ["id", "v"])
    dels = spark.createDataFrame([(150,)], ["id"])
    v1 = mt.merge(ups, "id", delete_keys=dels, mode="merge-on-read",
                  batch_id=4)
    m1 = mt._manifest(spark, v1)
    assert files0 <= set(m1["files"])  # nothing rewritten or dropped
    assert len(m1["files"]) > len(files0)  # batch appended
    assert int(m1["last_batch_id"]) == 4
    got = {r.id: r.v for r in mt.read(spark).collect()}
    assert got[50] == -1 and got[500] == -2 and 150 not in got
    assert len(got) == 200 and m1["rows"] == 200  # -1 delete +1 insert

    # second MOR merge re-updating id=50: the APPENDED copy must die
    # (its file's stats/buckets were recorded at append, so the probe
    # finds it), leaving exactly the newest value
    v2 = mt.merge(
        spark.createDataFrame([(50, -9)], ["id", "v"]),
        "id",
        mode="merge-on-read",
    )
    got = {r.id: r.v for r in mt.read(spark).collect()}
    assert got[50] == -9 and len(got) == 200
    assert mt._manifest(spark, v2)["rows"] == 200

    # empty batch: no-op, no version burned
    assert (
        mt.merge(ups.limit(0), "id", mode="merge-on-read") == v2
    )
    with pytest.raises(ValueError, match="unknown columns"):
        mt.merge(
            spark.createDataFrame([(1, 1, 1)], ["id", "v", "x"]),
            "id",
            mode="merge-on-read",
        )

    # compaction materializes: dead rows gone physically, dvs cleared
    vc = mt.compact(spark, target_files=2)
    mc = mt._manifest(spark, vc)
    assert "dvs" not in mc and mc["rows"] == 200
    assert {r.id: r.v for r in mt.read(spark).collect()} == got


def test_update_mor_delete_plus_insert_one_commit(spark, tmp_path):
    """MOR UPDATE: matched live rows' positions die and their
    transformed images append — row count unchanged, one commit,
    assignments see the pre-update row, rows already dead under a DV
    can't be updated back to life, and a no-match predicate commits
    nothing."""
    mt = ManifestTable(str(tmp_path / "mu"), stat_cols=("id",))
    mt.overwrite(_ranged(spark, 0, 100))
    mt.delete_where(spark, "id = 10", mode="merge-on-read")
    v0 = mt.current_version(spark)
    files0 = set(mt._manifest(spark, v0)["files"])

    v1 = mt.update_where(
        spark,
        "id < 20",
        {"v": F.col("v") + 1000},
        mode="merge-on-read",
    )
    m1 = mt._manifest(spark, v1)
    assert files0 <= set(m1["files"]) and len(m1["files"]) > len(files0)
    assert m1["updated_rows"] == 19  # id=10 is dead, not updatable
    assert m1["rows"] == 99
    got = {r.id: r.v for r in mt.read(spark).collect()}
    assert 10 not in got  # the deleted row stayed dead
    assert got[5] == 2 * 5 + 1000 and got[50] == 100
    assert len(got) == 99

    assert (
        mt.update_where(
            spark, "id = 10", {"v": F.lit(0)}, mode="merge-on-read"
        )
        == v1
    )  # only-dead match: no-op
    with pytest.raises(ValueError, match="unknown update mode"):
        mt.update_where(spark, "id = 1", {"v": F.lit(0)}, mode="bogus")


def test_apply_cdc_batch_merge_on_read_mode(spark, tmp_path):
    """The CDC sink in merge-on-read mode: identical net state to
    copy-on-write apply, but every pre-existing file survives by name
    (append-only micro-batches) — the pairing for a maybe_compact
    maintenance schedule."""
    from yc_yq_airflow_etl_spark.streaming.manifest_sink import apply_cdc_batch

    t = ManifestTable(str(tmp_path / "mtc"), stat_cols=("id",))
    t.overwrite(_df(spark, 0, 5).coalesce(1))
    files0 = set(t._manifest(spark, t.current_version(spark))["files"])
    batch = spark.createDataFrame(
        [(1, 111, 1, "U"), (2, 0, 1, "D"), (9, 900, 1, "I")],
        "id long, v long, seq int, op string",
    )
    assert apply_cdc_batch(
        t, batch, 1, key="id", order_col="seq", mode="merge-on-read"
    )
    m = t._manifest(spark, t.current_version(spark))
    assert files0 <= set(m["files"])
    got = {r.id: r.v for r in t.read(spark).collect()}
    assert got[1] == 111 and got[9] == 900 and 2 not in got
    assert len(got) == 5 and m["rows"] == 5


def test_cdc_batch_null_op_rejected(spark, tmp_path):
    """A NULL op would pass neither the delete filter nor its
    negation — the change would vanish while the batch still advanced
    the replay high-water mark. Must fail loudly instead."""
    from yc_yq_airflow_etl_spark.streaming.manifest_sink import apply_cdc_batch

    t = ManifestTable(str(tmp_path / "nullop"))
    t.overwrite(_df(spark, 0, 5).coalesce(1))
    batch = spark.createDataFrame(
        [(1, 10, 1, "U"), (2, 20, 1, None)],
        "id long, v long, seq int, op string",
    )
    with pytest.raises(ValueError, match="NULL 'op'"):
        apply_cdc_batch(t, batch, 1, key="id", order_col="seq")
    assert t.last_batch_id(spark) == -1  # nothing advanced


def test_cluster_zorder_rejects_unbounded_column(spark, tmp_path):
    """zorder needs a numeric domain: an all-NULL column (or empty
    table) must raise a clear error, not a bare float(None)."""
    from pyspark.sql.types import LongType, StructField, StructType

    mt = ManifestTable(str(tmp_path / "zn"), stat_cols=("x",))
    schema = StructType(
        [StructField("x", LongType()), StructField("y", LongType())]
    )
    mt.overwrite(
        spark.createDataFrame([(1, None), (2, None)], schema).coalesce(1)
    )
    with pytest.raises(ValueError, match="cannot zorder"):
        mt.cluster(spark, by=("x", "y"), zorder=True)


def test_maybe_compact_triggers_on_dv_debt(spark, tmp_path):
    """The maintenance policy fires on deletion-vector debt, not just
    file count: a table with few files but >20% dead rows compacts;
    under both thresholds it does not."""
    mt = ManifestTable(str(tmp_path / "md"), stat_cols=("id",))
    mt.overwrite(_ranged(spark, 0, 100))
    mt.delete_where(spark, "id < 10", mode="merge-on-read")  # 10% dead
    assert mt.maybe_compact(spark, max_files=64) is None
    mt.delete_where(spark, "id < 30", mode="merge-on-read")  # 30% dead
    v = mt.maybe_compact(spark, max_files=64)
    assert v is not None
    m = mt._manifest(spark, v)
    assert "dvs" not in m and m["rows"] == 70
    assert mt.read(spark).count() == 70


def test_dv_read_preserves_user_column_named_f(spark, tmp_path):
    """A table whose DATA has columns named _f/_pos must survive the
    DV subtract intact — the join keys are reserved names, never the
    user's columns."""
    mt = ManifestTable(str(tmp_path / "clash"))
    mt.overwrite(
        spark.range(0, 20)
        .select(
            F.col("id"),
            F.concat(F.lit("x"), F.col("id")).alias("_f"),
            (F.col("id") * 7).alias("_pos"),
        )
        .coalesce(1)
    )
    mt.delete_where(spark, "id = 3", mode="merge-on-read")
    got = mt.read(spark)
    assert set(got.columns) == {"id", "_f", "_pos"}
    rows = {r.id: (r._f, r._pos) for r in got.collect()}
    assert 3 not in rows and rows[4] == ("x4", 28) and len(rows) == 19

    # every rewrite engine must survive the clash too (regression:
    # the find-phase aliased _metadata AS _f/_pos next to the data
    # columns — ambiguous reference on any table with those names)
    mt.delete_where(spark, "id = 5")  # COW
    mt.update_where(spark, "id = 6", {"_pos": F.lit(-1)})  # COW
    mt.update_where(
        spark, "id = 7", {"_f": F.lit("seven")}, mode="merge-on-read"
    )
    mt.merge(
        spark.createDataFrame([(8, "y8", 0)], "id long, _f string, _pos long"),
        "id",
        mode="merge-on-read",
    )
    rows = {r.id: (r._f, r._pos) for r in mt.read(spark).collect()}
    assert 5 not in rows and rows[6] == ("x6", -1)
    assert rows[7] == ("seven", 49) and rows[8] == ("y8", 0)
    assert len(rows) == 18


def test_vacuum_cleans_orphaned_dv_parts(spark, tmp_path):
    """A writer crashing between staging DV parts and publishing the
    manifest leaves orphans under deletes/ that no snapshot
    references — vacuum must retire them while keeping every live DV
    part byte-complete."""
    mt = ManifestTable(str(tmp_path / "orph"), stat_cols=("id",))
    mt.overwrite(_ranged(spark, 0, 50))
    mt.delete_where(spark, "id = 3", mode="merge-on-read")  # live DV
    # simulate a crash AN HOUR+ AGO: parts staged, no manifest
    # published, mtimes past the in-flight grace
    orphan_parts, _, _n = mt._write_files(
        spark.createDataFrame([("zzz.parquet", 0)], "_f string, _pos long"),
        subdir="deletes",
    )
    for p in orphan_parts:
        _backdate(os.path.join(mt.path, "deletes", p))
    removed = mt.vacuum(spark, keep_versions=10)  # keep all manifests
    assert set(removed) == {f"deletes/{p}" for p in orphan_parts}
    assert mt.read(spark).count() == 49  # live DV still applied


def test_cow_rewrite_on_dv_table(spark, tmp_path):
    """Regression: COW DELETE/UPDATE on a table carrying deletion
    vectors. Touched-file detection must read raw files (pre-fix,
    input_file_name() over the DV-applied read was a multi-source
    expression Spark rejects), must NOT count a file whose only
    predicate matches are already-dead rows, and the rewrite keeps
    dead rows dead."""
    mt = ManifestTable(str(tmp_path / "cowdv"), stat_cols=("id",))
    mt.overwrite(_ranged(spark, 0, 100))
    mt.append(_ranged(spark, 100, 200))
    mt.delete_where(spark, "id in (5, 150)", mode="merge-on-read")
    v_dv = mt.current_version(spark)

    # predicate matching ONLY dead rows: no file touched, no commit
    assert mt.delete_where(spark, "id = 5") == v_dv

    # COW delete on the DV'd table: id=7 lives in file A (which also
    # carries dead id=5) — rewrite materializes A's deletes
    v = mt.delete_where(spark, "id = 7")
    m = mt._manifest(spark, v)
    assert m["deleted_rows"] == 1 and m["rows"] == 197
    got = {r.id for r in mt.read(spark).collect()}
    assert 5 not in got and 7 not in got and 150 not in got
    assert len(got) == 197
    assert len(m.get("dvs", {})) == 1  # file B's entry carried

    # COW update on the same table: dead rows not resurrected
    v2 = mt.update_where(spark, "id < 10", {"v": F.lit(-1)})
    got = {r.id: r.v for r in mt.read(spark).collect()}
    assert got[3] == -1 and 5 not in got
    assert mt._manifest(spark, v2)["updated_rows"] == 8  # 0-9 minus 5,7


def test_mor_ops_cas_conflict_on_stale_base(spark, tmp_path):
    """Both MOR engines are compare-and-swap guarded like their COW
    twins: computed against a base the table has moved past, they
    raise instead of committing deletion vectors whose positions were
    resolved on a stale snapshot (a concurrent compaction renames
    every file — stale positions would point at retired names and
    silently delete nothing)."""
    from yc_yq_airflow_etl_spark.sources.manifest import ConcurrentWriteError

    mt = ManifestTable(str(tmp_path / "cas"), stat_cols=("id",))
    mt.overwrite(_df(spark, 0, 50).coalesce(1))
    v0 = mt.current_version(spark)
    mt.append(_df(spark, 50, 60).coalesce(1))  # base moves

    with pytest.raises(ConcurrentWriteError):
        mt.delete_where(
            spark, "id = 1", mode="merge-on-read", expected_version=v0
        )
    with pytest.raises(ConcurrentWriteError):
        mt.update_where(
            spark, "id = 1", {"v": F.lit(0)},
            mode="merge-on-read", expected_version=v0,
        )
    with pytest.raises(ConcurrentWriteError):
        mt.merge(
            spark.createDataFrame([(1, -1)], ["id", "v"]),
            "id", mode="merge-on-read", expected_version=v0,
        )
    # nothing committed by the failed attempts
    assert mt.read(spark).count() == 60


def test_dv_read_plan_broadcasts_the_anti_join(spark, tmp_path):
    """Scale shape of the DV read path: the deletion-vector subtract
    must plan as a BROADCAST anti-join (DV side is metadata-scale) —
    a SortMergeJoin here would shuffle the entire table scan on every
    read, turning a metadata feature into a full-table tax."""
    mt = ManifestTable(str(tmp_path / "plan"), stat_cols=("id",))
    mt.overwrite(_df(spark, 0, 1000).coalesce(4))
    mt.delete_where(spark, "id % 100 = 3", mode="merge-on-read")
    plan = mt.read(spark)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_plain_append_carries_stream_high_water_mark(spark, tmp_path):
    """A non-streaming append after a streaming batch must NOT drop
    the replay high-water mark (pre-fix it did: last_batch_id was only
    written when the append itself carried a batch_id)."""
    mt = ManifestTable(str(tmp_path / "hwm"))
    mt.overwrite(_df(spark, 0, 10).coalesce(1))
    mt.append(_df(spark, 10, 20).coalesce(1), batch_id=4)
    mt.append(_df(spark, 20, 30).coalesce(1))  # plain append
    assert mt.last_batch_id(spark) == 4


def test_cluster_rewrites_interleaved_layout_for_pruning(spark, tmp_path):
    """Ingest-ordered layout (ids striped mod-4 across files) makes
    every file's [min, max] span the whole domain — range pruning
    keeps all files. cluster() rewrites sorted-by-key into disjoint
    contiguous ranges, after which the same probe keeps ≤2 files.
    Content is unchanged and the streaming high-water mark survives."""
    mt = ManifestTable(str(tmp_path / "mc"), stat_cols=("id",))
    base = spark.range(0, 400).select(F.col("id"), (F.col("id") * 2).alias("v"))
    for i in range(4):
        part = base.filter(F.col("id") % 4 == i).coalesce(1)
        (mt.overwrite if i == 0 else mt.append)(part)
    mt.append(
        spark.range(400, 410)
        .select(F.col("id"), (F.col("id") * 2).alias("v"))
        .coalesce(1),
        batch_id=5,
    )
    before = {(r.id, r.v) for r in mt.read(spark).collect()}
    assert len(mt.pruned_files(spark, "id", 10, 20)) >= 4  # striped: no pruning

    v = mt.cluster(spark)
    m = mt._manifest(spark, v)
    assert m["op"] == "cluster"
    assert int(m["last_batch_id"]) == 5  # replay guard survives rewrite
    ranges = sorted(m["stats"][f]["id"] for f in m["files"])
    for (_, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # pairwise-disjoint contiguous key ranges
    assert len(mt.pruned_files(spark, "id", 10, 20)) <= 2
    assert {(r.id, r.v) for r in mt.read(spark).collect()} == before
    # sorted within each file: read back one pruned file, ids ascending
    f0 = mt.pruned_files(spark, "id", 10, 20)[0]
    ids = [r.id for r in spark.read.parquet(f"{mt.path}/data/{f0}").collect()]
    assert ids == sorted(ids)

    with pytest.raises(ValueError, match="sort columns"):
        ManifestTable(str(tmp_path / "mc2")).cluster(spark)


def test_cluster_zorder_prunes_on_both_columns(spark, tmp_path):
    """Z-order clustering: after cluster(zorder=True) over a 64x64
    grid, the recorded per-file [min, max] hyper-rectangles prune a
    range probe on EITHER column — linear sort can only ever serve
    its leading column (the trailing column's ranges stay full-width
    in every file). Content unchanged."""
    mt = ManifestTable(str(tmp_path / "mz"), stat_cols=("x", "y"))
    grid = (
        spark.range(0, 64 * 64)
        .select(
            (F.col("id") % 64).alias("x"),
            (F.col("id") / 64).cast("bigint").alias("y"),
        )
    )
    # striped layout: every file spans the full domain on both axes
    for i in range(8):
        part = grid.filter((F.col("x") + F.col("y")) % 8 == i).coalesce(1)
        (mt.overwrite if i == 0 else mt.append)(part)
    assert len(mt.pruned_files(spark, "x", 0, 7)) == 8  # no pruning
    assert len(mt.pruned_files(spark, "y", 0, 7)) == 8
    before = {(r.x, r.y) for r in mt.read(spark).collect()}

    v = mt.cluster(spark, by=("x", "y"), target_files=16, zorder=True)
    m = mt._manifest(spark, v)
    assert len(m["files"]) == 16
    # BOTH columns now prune: a 1/8-width slab on either axis
    # intersects only the z-curve cells it overlaps
    kept_x = mt.pruned_files(spark, "x", 0, 7)
    kept_y = mt.pruned_files(spark, "y", 0, 7)
    assert len(kept_x) <= 8 and len(kept_y) <= 8, (
        len(kept_x), len(kept_y),
    )
    assert {(r.x, r.y) for r in mt.read(spark).collect()} == before
    got = sorted(
        (r.x, r.y) for r in mt.read_where(spark, "y", 0, 3).collect()
    )
    assert got == sorted((x, y) for x in range(64) for y in range(4))


def test_merge_bucket_pruning_skips_range_overlapped_files(spark, tmp_path):
    """CDC-at-scale shape: files whose [min, max] key ranges ALL
    overlap the update keys (uniformly distributed ids — range
    pruning degenerates to touch-everything) but whose bucket sets
    are disjoint per file. A merge touching a few keys must rewrite
    ONLY the files whose bucket set can hold them; every other file
    is carried forward by name. Results identical to an unpruned
    merge, with and without delete_keys."""
    mt = ManifestTable(
        str(tmp_path / "mbp"), stat_cols=("id",), bucket_cols=(("id", 8),)
    )
    base = spark.range(0, 400).select(F.col("id"), (F.col("id") * 2).alias("v"))
    bexpr = F.pmod(F.xxhash64(F.col("id").cast("bigint")), F.lit(8))
    # one file per bucket: ids interleave, so every file's id range
    # spans nearly [0, 400) — min/max pruning alone touches all 8
    for i in range(8):
        part = base.filter(bexpr == i).coalesce(1)
        (mt.overwrite if i == 0 else mt.append)(part)
    before = mt._manifest(spark, mt.current_version(spark))
    assert len(before["files"]) == 8
    lo = min(before["stats"][f]["id"][0] for f in before["files"])
    hi = max(before["stats"][f]["id"][1] for f in before["files"])
    assert lo < 10 and hi > 390  # precondition: ranges interleave

    b_upd = mt.bucket_of(spark, "id", 123)
    b_del = mt.bucket_of(spark, "id", 77)
    ups = spark.createDataFrame([(123, -1), (9999, -2)], ["id", "v"])
    dels = spark.createDataFrame([(77,)], ["id"])
    v = mt.merge(ups, "id", delete_keys=dels)
    after = mt._manifest(spark, v)

    survivors = set(before["files"]) & set(after["files"])
    # pruning is per key: a file is touched only if SOME probe key
    # falls in its [min, max] AND hashes into its bucket set — so the
    # out-of-range insert key 9999 touches nothing (its bucket's file
    # is carried forward; an insert needs no rewrite), stronger than
    # a global bucket-set intersect which would rewrite that file
    assert 9999 > hi
    expected_untouched = {
        f
        for f in before["files"]
        if not any(
            before["stats"][f]["id"][0] <= k <= before["stats"][f]["id"][1]
            and b in set(before["stats"][f]["bucket:id"])
            for k, b in ((123, b_upd), (77, b_del))
        )
    }
    assert survivors == expected_untouched
    assert len(survivors) >= 6  # ≥8 - 2 in-range probe buckets

    got = {r.id: r.v for r in mt.read(spark).collect()}
    assert got[123] == -1 and got[9999] == -2
    assert 77 not in got
    assert len(got) == 400  # 400 - 1 delete + 1 insert
    # untouched files kept their recorded stats (carried, not rebuilt)
    for f in survivors:
        assert after["stats"][f] == before["stats"][f]


def test_bucket_probe_promotes_to_column_type(spark, tmp_path):
    """The bucket hash canonicalizes on the COLUMN's type, not the
    probe's Python type (Iceberg literal promotion): an int probe
    against a double column must hash the recorded double bytes —
    pre-fix it hashed bigint bytes and could prune the file that
    actually holds the matching rows."""
    mt = ManifestTable(str(tmp_path / "mbp"), bucket_cols=(("x", 8),))
    base = spark.range(0, 400).selectExpr(
        "cast(id as double) x", "id * 2 v"
    )
    bexpr = F.pmod(F.xxhash64(F.col("x").cast("double")), F.lit(8))
    for i in range(8):
        part = base.filter(bexpr == i).coalesce(1)
        (mt.overwrite if i == 0 else mt.append)(part)

    # int probe on a double column: must find exactly the row x=123.0
    got = mt.read_where_eq(spark, "x", 123).collect()
    assert [(r.x, r.v) for r in got] == [(123.0, 246)]
    # float probe, same row
    got_f = mt.read_where_eq(spark, "x", 123.0).collect()
    assert [(r.x, r.v) for r in got_f] == [(123.0, 246)]
    # and the pruning itself is a correct non-trivial subset
    assert len(mt.pruned_files_eq(spark, "x", 123)) == 1

    # string probe against a numeric column is a caller bug: raise,
    # never silently prune wrong
    with pytest.raises(ValueError, match="incompatible"):
        mt.bucket_of(spark, "x", "123")

    # integer column: an integral float probe promotes; a fractional
    # one can match no row and raises
    mi = ManifestTable(str(tmp_path / "mbi"), bucket_cols=(("id", 8),))
    mi.overwrite(spark.range(0, 50).selectExpr("id", "id * 2 v"))
    assert mi.read_where_eq(spark, "id", 7.0).count() == 1
    with pytest.raises(ValueError, match="matches no row"):
        mi.bucket_of(spark, "id", 7.5)


def test_compact_conflicts_with_concurrent_append(spark, table):
    """compact() is CAS-committed like merge: a commit landing between
    its snapshot read and its publish must fail the compaction (the
    rewritten file list would silently drop the concurrent commit's
    files and its last_batch_id high-water mark), and maybe_compact
    must retry on the new base without losing either."""
    from yc_yq_airflow_etl_spark.sources.manifest import ConcurrentWriteError

    table.overwrite(_df(spark, 0, 50))
    for i in range(3):
        table.append(_df(spark, 50 + i * 10, 60 + i * 10), batch_id=i)
    v = table.current_version(spark)
    assert table.last_batch_id(spark) == 2

    # force the race: advance the snapshot after compact has read v by
    # intercepting the version check order — simplest deterministic
    # interleaving is to run compact against a base we then move. The
    # publish re-reads the current version at commit time, so an
    # append issued before publish is equivalent; emulate by wrapping
    # _write_files to append mid-compact.
    orig_write = type(table)._write_files
    state = {"raced": False}

    def racing_write(self_mt, df):
        out = orig_write(self_mt, df)
        if not state["raced"]:
            state["raced"] = True
            # concurrent writer lands an append AFTER compact's rewrite
            # but BEFORE its publish
            table.append(_df(spark, 900, 910), batch_id=7)
        return out

    import unittest.mock as mock

    with mock.patch.object(type(table), "_write_files", racing_write):
        with pytest.raises(ConcurrentWriteError, match="compact"):
            table.compact(spark, target_files=2)

    # nothing lost: the concurrent append's rows and HWM are intact
    assert table.read(spark).count() == 90
    assert table.last_batch_id(spark) == 7

    # maybe_compact retries on the new base and succeeds (no further
    # interleaving), preserving rows and the high-water mark
    got = table.maybe_compact(spark, max_files=1, target_files=2)
    assert got is not None
    assert table.read(spark).count() == 90
    assert table.last_batch_id(spark) == 7
    m = table._manifest(spark, table.current_version(spark))
    assert m["op"] == "compact" and len(m["files"]) <= 2


@pytest.fixture(scope="module")
def bucket_probe_tables(spark, tmp_path_factory):
    """One int-column and one double-column bucketed table, committed
    once for the probe property test: values 0..29 (int) and 0.0,
    0.5, ..., 29.5 (double), three bucket-unaligned files each."""
    root = tmp_path_factory.mktemp("bucket_probe")
    ti = ManifestTable(str(root / "ti"), bucket_cols=(("x", 4),))
    ints = spark.range(30).selectExpr("id x", "id v")
    ti.overwrite(ints.filter("x < 10").coalesce(1))
    ti.append(ints.filter("x >= 10 and x < 20").coalesce(1))
    ti.append(ints.filter("x >= 20").coalesce(1))
    td = ManifestTable(str(root / "td"), bucket_cols=(("x", 4),))
    dbls = spark.range(60).selectExpr("cast(id as double) / 2 x", "id v")
    td.overwrite(dbls.filter("x < 10").coalesce(1))
    td.append(dbls.filter("x >= 10 and x < 20").coalesce(1))
    td.append(dbls.filter("x >= 20").coalesce(1))
    return ti, td


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(
    probe=st.one_of(
        st.integers(min_value=-3, max_value=33),
        st.integers(min_value=-6, max_value=66).map(lambda i: i / 2.0),
        st.integers(min_value=0, max_value=120).map(lambda i: i / 4.0),
    )
)
def test_bucket_probe_superset_property(spark, bucket_probe_tables, probe):
    """Property (the documented contract the r5 type-mismatch bug
    broke): for ANY numeric probe — int or float, in-domain or not,
    integral or fractional — read_where_eq returns EXACTLY the rows
    equal to the probe under numeric promotion, i.e. bucket pruning
    never drops a file holding a matching row. Fractional probes on
    the integer column must raise (never silently mis-prune)."""
    ti, td = bucket_probe_tables

    # double column: every numeric probe is valid
    got = sorted(r.x for r in td.read_where_eq(spark, "x", probe).collect())
    expect = [float(probe)] if float(probe) * 2 == int(float(probe) * 2) and 0 <= probe < 30 else []
    assert got == expect, (probe, got)

    # int column: integral probes promote, fractional probes raise
    if float(probe).is_integer():
        got_i = sorted(
            r.x for r in ti.read_where_eq(spark, "x", probe).collect()
        )
        assert got_i == ([int(probe)] if 0 <= probe < 30 else []), probe
    else:
        with pytest.raises(ValueError, match="matches no row"):
            ti.bucket_of(spark, "x", probe)


def test_null_count_stats_and_is_null_pruning(spark, tmp_path):
    """The stats triad's third leg: per-file null counts power IS NULL
    skipping — files recorded null-free are pruned, a mixed file is
    kept, and the read returns exactly the null rows."""
    from pyspark.sql.types import LongType, StructField, StructType

    mt = ManifestTable(str(tmp_path / "mtn2"), stat_cols=("id",))
    schema = StructType(
        [StructField("id", LongType()), StructField("v", LongType())]
    )
    mt.overwrite(_ranged(spark, 0, 100))  # null-free file
    mt.append(
        spark.createDataFrame(
            [(None, 7), (500, 8), (None, 9)], schema
        ).coalesce(1)
    )  # mixed file: 2 nulls
    m = mt._manifest(spark, mt.current_version(spark))
    counts = sorted(s["nulls:id"] for s in m["stats"].values())
    assert counts == [0, 2]
    kept = mt.pruned_files_null(spark, "id")
    assert len(kept) == 1  # the null-free file is skipped
    got = mt.read_where_null(spark, "id").collect()
    assert sorted(r.v for r in got) == [7, 9]
    # range pruning is unaffected by the extra stat keys
    assert len(mt.pruned_files(spark, "id", 10, 20)) == 1


def test_table_changes_reports_row_diff_for_merge(spark, tmp_path):
    """CDF read: a COW merge's changes surface as delete/insert pairs
    for updated rows plus a bare insert, with carried rows cancelling;
    identical versions diff to empty; the diff only reads churned
    files (asserted via the input_file_name set of the change rows)."""
    mt = ManifestTable(str(tmp_path / "cdf"), stat_cols=("id",))
    mt.overwrite(_df(spark, 0, 10).coalesce(1))
    mt.append(_df(spark, 10, 20).coalesce(1))
    v0 = mt.current_version(spark)

    updates = spark.range(3, 6).select(
        F.col("id"), (F.col("id") * 100).alias("v")
    ).unionByName(
        spark.createDataFrame([(99, 1)], "id bigint, v bigint")
    )
    v1 = mt.merge(updates, "id")

    ch = mt.table_changes(spark, v0, v1)
    rows = ch.collect()
    ins = {(r.id, r.v) for r in rows if r._change_type == "insert"}
    dels = {(r.id, r.v) for r in rows if r._change_type == "delete"}
    assert ins == {(3, 300), (4, 400), (5, 500), (99, 1)}
    assert dels == {(3, 6), (4, 8), (5, 10)}

    # same version → empty diff, schema preserved
    empty = mt.table_changes(spark, v1, v1)
    assert empty.count() == 0
    assert "_change_type" in empty.columns

    # only churned files enter the diff: exactly one base file was
    # replaced, and it is the ids-0..9 file (the one the update keys
    # overlap), never the untouched ids-10..19 file
    m0, m1 = mt._manifest(spark, v0), mt._manifest(spark, v1)
    removed = set(m0["files"]) - set(m1["files"])
    assert len(removed) == 1
    (gone,) = removed
    assert m0["stats"][gone]["id"][0] == 0  # min id of the churned file


def test_table_changes_aligns_evolved_schema(spark, tmp_path):
    """Diffing across an ADD-COLUMN evolution (narrow snapshot
    replaced by a wide one): pre-evolution rows read as NULL in the
    new column on the delete side, so the diff is well-typed instead
    of failing on schema mismatch."""
    mt = ManifestTable(str(tmp_path / "cdfe"), stat_cols=("id",))
    mt.overwrite(_df(spark, 0, 5).coalesce(1))
    v0 = mt.current_version(spark)
    wide = _df(spark, 2, 4).withColumn("w", F.lit("new"))
    v1 = mt.overwrite(wide.coalesce(1))

    ch = mt.table_changes(spark, v0, v1)
    ins = {(r.id, r.v, r.w) for r in ch.collect() if r._change_type == "insert"}
    dels = {(r.id, r.v, r.w) for r in ch.collect() if r._change_type == "delete"}
    assert ins == {(2, 4, "new"), (3, 6, "new")}
    # every pre-image row deletes, carrying NULL for the new column
    assert dels == {(i, 2 * i, None) for i in range(5)}


def test_table_changes_drives_incremental_aggregate(spark, tmp_path):
    """The CDF's consumer contract: folding (inserts − deletes) into a
    stored aggregate reproduces a full recompute of the new snapshot —
    without rescanning the unchanged files. This is the maintenance
    loop incremental_agg_maintenance runs, driven here by
    table_changes instead of an explicit delta feed."""
    mt = ManifestTable(str(tmp_path / "cdfagg"), stat_cols=("id",))
    mt.overwrite(_df(spark, 0, 10).coalesce(1))
    mt.append(_df(spark, 10, 20).coalesce(1))
    v0 = mt.current_version(spark)

    def rollup(df):
        return (
            df.groupBy((F.col("id") % 3).alias("g"))
            .agg(
                F.sum("v").alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
        )

    base = {(r.g, r.s, r.n) for r in rollup(mt.read(spark, version=v0)).collect()}

    updates = spark.range(3, 6).select(
        F.col("id"), (F.col("id") * 100).alias("v")
    )
    v1 = mt.merge(updates, "id")

    ch = mt.table_changes(spark, v0, v1)
    sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    delta = (
        ch.groupBy((F.col("id") % 3).alias("g"))
        .agg(
            F.sum(F.col("v") * sign).alias("ds"),
            F.sum(sign).alias("dn"),
        )
    )
    base_df = rollup(mt.read(spark, version=v0))
    folded = {
        (r.g, r.s, r.n)
        for r in base_df.join(delta, "g", "left")
        .select(
            "g",
            (F.col("s") + F.coalesce("ds", F.lit(0))).alias("s"),
            (F.col("n") + F.coalesce("dn", F.lit(0))).alias("n"),
        )
        .collect()
    }
    recomputed = {
        (r.g, r.s, r.n) for r in rollup(mt.read(spark, version=v1)).collect()
    }
    assert folded == recomputed
    assert folded != base  # the delta actually changed something


def test_table_changes_merges_mixed_schema_file_sets(spark, tmp_path):
    """The added set itself mixes schemas (wide append then narrow
    append): without mergeSchema Spark would adopt one file's schema
    by listing order and nondeterministically drop the evolved column
    from the CDF rows. Run the diff several times — the evolved
    column must survive every time."""
    mt = ManifestTable(str(tmp_path / "cdfm"), stat_cols=("id",))
    mt.overwrite(_df(spark, 0, 5).coalesce(1))
    v0 = mt.current_version(spark)
    mt.append(_df(spark, 10, 12).withColumn("w", F.lit("wide")).coalesce(1))
    v2 = mt.append(_df(spark, 20, 22).coalesce(1))

    for _ in range(4):
        ch = mt.table_changes(spark, v0, v2)
        assert "w" in ch.columns
        ins = {(r.id, r.w) for r in ch.collect() if r._change_type == "insert"}
        assert ins == {(10, "wide"), (11, "wide"), (20, None), (21, None)}


def test_files_table_reports_recorded_stats(spark, tmp_path):
    """The metadata table mirrors exactly what the manifest recorded:
    per-file min/max/nulls for stat columns and distinct-bucket counts
    for bucket columns — built without touching a data file."""
    mt = ManifestTable(
        str(tmp_path / "meta"),
        stat_cols=("id",),
        bucket_cols=(("id", 4),),
    )
    mt.overwrite(_df(spark, 0, 10).coalesce(1))
    mt.append(_df(spark, 10, 30).coalesce(1))

    ft = {r.id_min: r for r in mt.files_table(spark).collect()}
    assert set(ft) == {"0", "10"}
    assert ft["0"].id_max == "9" and ft["0"].id_nulls == 0
    assert ft["10"].id_max == "29" and ft["10"].id_nulls == 0
    # 10 consecutive ids cover all 4 xxhash buckets w.h.p.; both files
    # must report a count between 1 and 4
    assert 1 <= ft["0"].id_n_buckets <= 4
    assert 1 <= ft["10"].id_n_buckets <= 4
    # time travel: the v0 metadata table has only the first file
    assert mt.files_table(spark, version=0).count() == 1


# batch encoding for the merge-equivalence property: update rows
# (key, value) over a small key space plus a delete-key list drawn
# from a disjoint range probe (may hit absent keys — DELETE no-ops).
_merge_batches = st.tuples(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=15),
            st.integers(min_value=-99, max_value=99),
        ),
        min_size=0,
        max_size=6,
        unique_by=lambda t: t[0],
    ),
    st.lists(
        st.integers(min_value=16, max_value=25), max_size=4, unique=True
    ),
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(batches=st.lists(_merge_batches, min_size=1, max_size=3))
def test_merge_modes_observationally_equivalent(
    spark, tmp_path_factory, batches
):
    """Property: for ANY sequence of merge batches (updates + delete
    keys), a table maintained merge-on-read reads back identical to
    one maintained copy-on-write — the storage strategies differ
    (deletion vectors + appends vs rewrites), the table they present
    must not."""
    tmp_path = tmp_path_factory.mktemp("modeprop")
    tables = {}
    for mode in ("copy-on-write", "merge-on-read"):
        t = ManifestTable(str(tmp_path / mode), stat_cols=("id",))
        t.overwrite(_df(spark, 10, 20).coalesce(2))  # keys 10-19
        tables[mode] = t
    for ups, dels in batches:
        if not ups and not dels:
            continue
        up_rows = [(k, v) for k, v in ups if k not in set(dels)]
        up_df = (
            spark.createDataFrame(up_rows, "id long, v long")
            if up_rows
            else spark.createDataFrame([], "id long, v long")
        )
        del_df = (
            spark.createDataFrame([(k,) for k in dels], "id long")
            if dels
            else None
        )
        for mode, t in tables.items():
            t.merge(up_df, "id", delete_keys=del_df, mode=mode)
    got = {
        mode: sorted((r.id, r.v) for r in t.read(spark).collect())
        for mode, t in tables.items()
    }
    assert got["copy-on-write"] == got["merge-on-read"], batches


# changelog encoding for the CDC fold property: each element is
# (key, value, op_code) — op 0/1/2 = I/U/D; per-batch sequence numbers
# are assigned by list position, so (key, seq) ties are impossible and
# the last list entry for a key is its net effect.
_cdc_changes = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=-100, max_value=100),
        st.integers(min_value=0, max_value=2),
    ),
    min_size=1,
    max_size=12,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(changes=_cdc_changes)
@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_apply_cdc_batch_fold_property(
    spark, tmp_path_factory, mode, changes
):
    """Model-based CDC invariant: for ANY changelog batch over a small
    key space (arbitrary interleavings of insert/update/delete per
    key), applying it with apply_cdc_batch equals the pure-Python
    fold 'last change per key wins; D removes, I/U upserts' over the
    base state — in exactly one commit, in either merge mode."""
    from yc_yq_airflow_etl_spark.streaming.manifest_sink import apply_cdc_batch

    tmp_path = tmp_path_factory.mktemp("cdcprop")
    mt = ManifestTable(str(tmp_path / "t"), stat_cols=("id",))
    base_n = 6
    mt.overwrite(_df(spark, 0, base_n).coalesce(1))
    v0 = mt.current_version(spark)

    rows = [
        (k, v, seq, "IUD"[op]) for seq, (k, v, op) in enumerate(changes)
    ]
    batch = spark.createDataFrame(
        rows, "id long, v long, seq long, op string"
    )
    assert apply_cdc_batch(
        mt, batch, 1, key="id", order_col="seq", mode=mode
    ) is True
    assert mt.current_version(spark) == v0 + 1

    model = {i: 2 * i for i in range(base_n)}
    last: dict[int, tuple[int, str]] = {}
    for k, v, _seq, op in rows:
        last[k] = (v, op)
    for k, (v, op) in last.items():
        if op == "D":
            model.pop(k, None)
        else:
            model[k] = v
    got = {r.id: r.v for r in mt.read(spark).collect()}
    assert got == model, (changes, got, model)


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_cdc_sinks_leave_no_persisted_rdds(spark, tmp_path, mode):
    """Every materialization a CDC micro-batch makes (the collapsed
    batch, merge's cached upserts, merge-on-read's dead-position set)
    is freed before the call returns — on success, on the tie and
    NULL-op rejections, and when merge itself raises. A leak here
    grows executor storage by one batch per trigger until JVM GC."""
    from yc_yq_airflow_etl_spark.streaming.manifest_sink import (
        apply_cdc_batch,
        upsert_batch,
    )

    t = ManifestTable(str(tmp_path / "cdc"), stat_cols=("id",))
    t.overwrite(_df(spark, 0, 5).coalesce(1))
    u = ManifestTable(str(tmp_path / "ups"), stat_cols=("id",))
    u.overwrite(
        spark.createDataFrame(
            [(i, 0, 0) for i in range(5)], "id long, v long, seq long"
        )
    )
    schema = "id long, v long, seq long, op string"
    before = persisted_rdd_ids(spark)

    def leaked() -> set[int]:
        return persisted_rdd_ids(spark) - before

    batch = spark.createDataFrame(
        [(1, 111, 1, "U"), (2, 0, 1, "D"), (9, 900, 1, "I")], schema
    )
    assert apply_cdc_batch(t, batch, 1, "id", "seq", mode=mode)
    assert leaked() == set()
    assert upsert_batch(u, batch.drop("op"), 1, "id", "seq", mode=mode)
    assert leaked() == set()

    tied = spark.createDataFrame([(3, 1, 4, "U"), (3, 2, 4, "U")], schema)
    with pytest.raises(ValueError, match="tied"):
        apply_cdc_batch(t, tied, 2, "id", "seq", mode=mode)
    assert leaked() == set()
    null_op = spark.createDataFrame([(3, 1, 4, "U"), (4, 2, 4, None)], schema)
    with pytest.raises(ValueError, match="NULL 'op'"):
        apply_cdc_batch(t, null_op, 2, "id", "seq", mode=mode)
    assert leaked() == set()
    # the collapse passed; merge rejects the batch (seq is not a table
    # column) — the collapsed batch must still be freed
    with pytest.raises(ValueError, match="unknown columns"):
        upsert_batch(t, batch.drop("op"), 2, "id", "seq", mode=mode)
    assert leaked() == set()
    assert t.last_batch_id(spark) == 1


def _tie_rejected(spark, rows) -> bool:
    """Whether the last-change collapse rejects ``rows`` of
    ``(id, seq)`` as tied."""
    from yc_yq_airflow_etl_spark.operators.checkpoints import scope
    from yc_yq_airflow_etl_spark.streaming.manifest_sink import (
        _collapse_last_change,
    )

    batch = spark.createDataFrame(rows, "id long, seq long")
    try:
        with scope():
            _collapse_last_change(batch, 1, "id", "seq")
        return False
    except ValueError as e:
        assert "tied" in str(e)
        return True


@pytest.mark.parametrize(
    "rows, rejected",
    [
        ([(1, 3), (1, 1), (1, 1)], True),  # tie below the last change
        ([(1, None), (1, None), (1, 2)], True),  # groupBy groups NULLs
        ([(1, None), (1, 2), (2, None)], False),  # one NULL seq per key
        ([(None, 1), (None, 1)], True),  # NULL keys group together
        ([(None, 1), (None, 2), (1, 1)], False),
    ],
    ids=["below-top", "two-null-seqs", "one-null-seq", "null-key-tie",
         "null-key-distinct"],
)
def test_cdc_tie_rule_cases(spark, rows, rejected):
    """The collapse's tie flag (a row past its key's first, with the
    same order value as its predecessor in the window's sort) rejects
    exactly the batches where some ``(key, order_col)`` pair occurs
    more than once — NULLs in either column included, as a groupBy
    counts them."""
    assert _tie_rejected(spark, rows) is rejected


_tie_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=0, max_value=2)),
        st.one_of(st.none(), st.integers(min_value=0, max_value=3)),
    ),
    min_size=0,
    max_size=8,
)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(rows=_tie_rows)
def test_cdc_tie_rule_matches_groupby_model(spark, rows):
    """Model-based parity: the window tie flag rejects a batch iff
    ``groupBy(key, order_col).count() > 1`` for some group (the rule
    it replaced), over random batches with NULL keys and seqs."""
    model = any(n > 1 for n in Counter(rows).values())
    assert _tie_rejected(spark, rows) is model, rows


def test_cdc_merge_on_read_batch_appends_one_file(spark, tmp_path):
    """A ~1,000-change merge-on-read micro-batch under the package's
    default shuffle partitions lands as ONE data file (the collapsed
    batch keeps AQE's coalesced partitioning, not one file per shuffle
    partition), so two batches on a 20,000-row table stay far below
    maybe_compact's small-file threshold."""
    from yc_yq_airflow_etl_spark.session import DEFAULT_SHUFFLE_PARTITIONS
    from yc_yq_airflow_etl_spark.streaming.manifest_sink import apply_cdc_batch

    t = ManifestTable(str(tmp_path / "fan"), stat_cols=("id",))
    t.overwrite(_df(spark, 0, 20_000).repartition(8))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS)
    )
    try:
        for b in (1, 2):
            # 400 keys updated twice (last change wins), 100 deleted,
            # 100 inserted: 1,000 change rows, 500 upserted keys
            batch = (
                spark.range(400)
                .select((F.col("id") * 37 + b).alias("id"))
                .crossJoin(spark.range(1, 3).withColumnRenamed("id", "seq"))
                .select("id", (F.col("id") * b).alias("v"), "seq",
                        F.lit("U").alias("op"))
                .unionByName(
                    spark.range(100).select(
                        (F.col("id") * 29 + 15_000 + b).alias("id"),
                        F.lit(0).cast("long").alias("v"),
                        F.lit(1).cast("long").alias("seq"),
                        F.lit("D").alias("op"),
                    )
                )
                .unionByName(
                    spark.range(100).select(
                        (F.col("id") + 20_000 + 100 * b).alias("id"),
                        F.col("id").alias("v"),
                        F.lit(1).cast("long").alias("seq"),
                        F.lit("I").alias("op"),
                    )
                )
            )
            files0 = set(t._manifest(spark, t.current_version(spark))["files"])
            assert apply_cdc_batch(
                t, batch, b, "id", "seq", mode="merge-on-read"
            )
            m = t._manifest(spark, t.current_version(spark))
            assert len(set(m["files"]) - files0) == 1
            assert t.maybe_compact(spark) is None
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert t.read(spark).count() == 20_000  # 200 deleted, 200 inserted


# op encoding for the CDF fold property: each element of the list is
# (op_kind, key_lo, n_keys) over a tiny integer key space, so random
# sequences interleave appends (new files), COW merges (rewrites),
# MOR merges (append + deletion vectors) and MOR deletes (DV-only
# commits — the case where the file list does not change at all).
_cdf_ops = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),
        st.integers(min_value=0, max_value=30),
        st.integers(min_value=1, max_value=6),
    ),
    min_size=1,
    max_size=4,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(ops=_cdf_ops)
def test_table_changes_fold_property(spark, tmp_path_factory, ops):
    """Model-based CDF invariant: for EVERY consecutive version pair
    produced by a random append/COW-merge/MOR-merge/MOR-delete
    sequence, applying the change feed to the older snapshot
    reproduces the newer one exactly — (v_i ∖ deletes) ⊎ inserts ≡
    v_{i+1} as multisets. This is the contract an incremental
    consumer relies on, checked across arbitrary interleavings
    (including DV-only commits, where no file is added or removed and
    the diff is carried entirely by deletion-vector entries)."""
    tmp_path = tmp_path_factory.mktemp("cdfprop")
    mt = ManifestTable(str(tmp_path / "t"), stat_cols=("id",))
    mt.overwrite(_df(spark, 0, 10).coalesce(1))

    versions = [mt.current_version(spark)]
    for seq, (kind, lo, n) in enumerate(ops):
        batch = spark.range(lo, lo + n).select(
            F.col("id"), (F.col("id") * 100 + seq).alias("v")
        )
        if kind == 0:
            mt.append(batch.coalesce(1))
        elif kind == 1:
            mt.merge(batch, "id")
        elif kind == 2:
            mt.merge(batch, "id", mode="merge-on-read")
        else:
            # MOR delete may be a no-op (no live match): no version
            mt.delete_where(
                spark,
                f"id >= {lo} and id < {lo + n}",
                mode="merge-on-read",
            )
        v = mt.current_version(spark)
        if v != versions[-1]:
            versions.append(v)

    def snap(v):
        return Counter(
            (r.id, r.v) for r in mt.read(spark, version=v).collect()
        )

    for v0, v1 in zip(versions, versions[1:]):
        ch = mt.table_changes(spark, v0, v1).collect()
        folded = snap(v0)
        for r in ch:
            if r._change_type == "delete":
                folded[(r.id, r.v)] -= 1
            else:
                folded[(r.id, r.v)] += 1
        folded = Counter({k: c for k, c in folded.items() if c})
        assert folded == snap(v1), (v0, v1, ops)


def test_write_audit_publish_gates_commits(spark, tmp_path):
    """WAP contract: a clean batch publishes atomically (first commit
    included); a dirty batch is rejected WITHOUT any table change and
    its staged files are physically removed (no orphan leak, nothing
    for vacuum to find); a subsequent clean batch publishes on top."""
    from pyspark.sql import functions as SF

    from yc_yq_airflow_etl_spark.operators.expectations import Rule

    mt = ManifestTable(str(tmp_path / "wap"), stat_cols=("id",))
    rules = [Rule("v_pos", SF.col("v") > 0)]

    # clean first commit (no prior snapshot)
    v1, rep1 = mt.write_audit_publish(_df(spark, 1, 6).coalesce(1), rules)
    assert v1 is not None and mt.read(spark).count() == 5
    assert {r.rule: r.n_violations for r in rep1}["_total"] == 0
    assert mt.history(spark)[0]["op"] == "wap"  # history is newest-first

    # dirty batch: rejected, table untouched, no files leaked
    bad = _df(spark, 10, 15).withColumn("v", -SF.col("v"))
    before_files = set(mt._manifest(spark, v1)["files"])
    v2, rep2 = mt.write_audit_publish(bad.coalesce(1), rules)
    assert v2 is None
    assert mt.read(spark).count() == 5
    assert mt.current_version(spark) == v1
    rep2d = {r.rule: r.n_violations for r in rep2}
    assert rep2d["_total"] == 5 and rep2d["v_pos"] == 5
    # staged files removed: data/ holds exactly the published files
    import os

    on_disk = {
        f for f in os.listdir(os.path.join(mt.path, "data"))
        if f.endswith(".parquet")
    }
    assert on_disk == before_files

    # clean follow-up publishes on top
    v3, _ = mt.write_audit_publish(_df(spark, 20, 23).coalesce(1), rules)
    assert v3 == v1 + 1
    assert mt.read(spark).count() == 8


def test_write_audit_publish_statless_records_observed_rows(
    spark, tmp_path
):
    """r18: WAP threads the write-job's observed row count into the
    commit record (``new_rows_known``), so a STATS-LESS table — where
    per-file stats can't supply the count — no longer pays a third
    read of the staged files. The pins: the committed manifest's
    ``rows`` is exact on a stats-less WAP table, accumulates across
    publishes, and survives a rejected batch in between unchanged."""
    from pyspark.sql import functions as SF

    from yc_yq_airflow_etl_spark.operators.expectations import Rule

    mt = ManifestTable(str(tmp_path / "wap_nostats"))  # no stat_cols
    rules = [Rule("v_pos", SF.col("v") > 0)]
    v1, _ = mt.write_audit_publish(_df(spark, 1, 8).coalesce(1), rules)
    assert v1 is not None
    assert mt._manifest(spark, v1)["rows"] == 7
    # rejected batch leaves the recorded count untouched
    bad = _df(spark, 50, 55).withColumn("v", -SF.col("v"))
    v2, _ = mt.write_audit_publish(bad.coalesce(1), rules)
    assert v2 is None
    v3, _ = mt.write_audit_publish(_df(spark, 10, 13).coalesce(1), rules)
    assert mt._manifest(spark, v3)["rows"] == 10
    assert mt.read(spark).count() == 10


def test_write_audit_publish_no_orphans_on_audit_error(spark, tmp_path):
    """The no-orphan contract must hold even when the AUDIT itself
    raises (rule referencing a missing column): staged files are
    cleaned up and the error propagates; a bad ruleset fails before
    anything lands."""
    import os

    from pyspark.sql import functions as SF

    from yc_yq_airflow_etl_spark.operators.expectations import Rule

    mt = ManifestTable(str(tmp_path / "waperr"))
    mt.overwrite(_df(spark, 0, 3).coalesce(1))
    files_before = {
        f for f in os.listdir(os.path.join(mt.path, "data"))
        if f.endswith(".parquet")
    }

    # bad ruleset: rejected before staging (data/ unchanged)
    with pytest.raises(ValueError):
        mt.write_audit_publish(_df(spark, 10, 12), [])
    # audit blow-up mid-flight: staged files removed, error propagates
    with pytest.raises(Exception):
        mt.write_audit_publish(
            _df(spark, 10, 12).coalesce(1),
            [Rule("ghost", SF.col("no_such_column") > 0)],
        )
    files_after = {
        f for f in os.listdir(os.path.join(mt.path, "data"))
        if f.endswith(".parquet")
    }
    assert files_after == files_before
    assert mt.read(spark).count() == 3


def test_write_audit_publish_no_orphans_on_publish_failure(
    spark, tmp_path, monkeypatch
):
    """The no-orphan contract covers the PUBLISH leg too: if the
    commit loop itself fails (here: a conditional-create store that
    loses every race), the already-staged-and-audited files are
    abandoned, not left as vacuum debt, and the table is untouched."""
    import os

    from pyspark.sql import functions as SF

    from yc_yq_airflow_etl_spark.operators.expectations import Rule

    mt = ManifestTable(
        str(tmp_path / "wappub"), publish_mode="conditional-create"
    )
    mt.overwrite(_df(spark, 0, 3).coalesce(1))
    files_before = {
        f for f in os.listdir(os.path.join(mt.path, "data"))
        if f.endswith(".parquet")
    }

    # every commit race lost from here on (class-level: the dataclass
    # is frozen; monkeypatch restores the real method afterwards)
    monkeypatch.setattr(
        ManifestTable, "_put_if_absent", lambda self, *a, **k: False
    )
    with pytest.raises(RuntimeError, match="commit races"):
        mt.write_audit_publish(
            _df(spark, 10, 12).coalesce(1), [Rule("v_pos", SF.col("v") > 0)]
        )
    monkeypatch.undo()

    files_after = {
        f for f in os.listdir(os.path.join(mt.path, "data"))
        if f.endswith(".parquet")
    }
    assert files_after == files_before  # staged batch physically gone
    assert mt.read(spark).count() == 3  # table untouched


def test_restore_rolls_back_content_forward_in_history(spark, tmp_path):
    """RESTORE commits the old snapshot as a NEW version: content
    equals the target, intermediate versions stay in history (still
    time-travelable), the streaming high-water mark carries the
    CURRENT value (never rolls back — a replayed batch id must stay
    skipped after a restore), and appends continue on top."""
    t = ManifestTable(str(tmp_path / "mt"))
    t.overwrite(_df(spark, 0, 5).coalesce(1))          # v0: rows 0-4
    t.append(_df(spark, 10, 13).coalesce(1), batch_id=7)  # v1: +10-12

    v2 = t.restore(spark, 0)
    assert v2 == 2
    assert {r.id for r in t.read(spark).collect()} == set(range(0, 5))
    # the bad version is history, not erased
    assert {r.id for r in t.read(spark, version=1).collect()} == (
        set(range(0, 5)) | {10, 11, 12}
    )
    hist = t.history(spark)
    assert hist[0]["op"] == "restore" and hist[0]["restored_from"] == 0
    # HWM survives the rollback: the replayed batch id is still a no-op
    assert t.last_batch_id(spark) == 7
    from yc_yq_airflow_etl_spark.streaming.manifest_sink import commit_batch

    assert commit_batch(t, _df(spark, 20, 22), 7) is False
    assert commit_batch(t, _df(spark, 20, 22).coalesce(1), 8) is True
    assert {r.id for r in t.read(spark).collect()} == (
        set(range(0, 5)) | {20, 21}
    )


def test_restore_refuses_vacuumed_target(spark, tmp_path):
    """A restore target whose files were vacuumed must fail loudly
    instead of committing an unreadable snapshot."""
    t = ManifestTable(str(tmp_path / "mtv"))
    t.overwrite(_df(spark, 0, 5).coalesce(1))   # v0
    t.overwrite(_df(spark, 10, 15).coalesce(1))  # v1: v0's files now stale
    t.vacuum(spark, keep_versions=1)
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        t.restore(spark, 0)
    # current snapshot untouched by the refused restore
    assert {r.id for r in t.read(spark).collect()} == set(range(10, 15))


def test_delete_where_cow_touched_file_minimality(spark, tmp_path):
    """Row-level DELETE: only files CONTAINING matching rows rewrite
    (others carry by name), NULL predicates keep their rows, a
    no-match delete is a version-preserving no-op, the HWM survives,
    and time travel still shows the pre-delete snapshot."""
    t = ManifestTable(str(tmp_path / "mt"), stat_cols=("id",))
    t.overwrite(_df(spark, 0, 10).coalesce(1))                 # file A: 0-9
    t.append(_df(spark, 100, 110).coalesce(1), batch_id=3)     # file B: 100-109
    t.append(_df(spark, 200, 210).coalesce(1), batch_id=4)     # file C: 200-209
    v_before = t.current_version(spark)
    files_before = set(t._manifest(spark, v_before)["files"])

    v = t.delete_where(spark, "id >= 100 AND id < 105")
    assert v == v_before + 1
    got = {r.id for r in t.read(spark).collect()}
    assert got == set(range(0, 10)) | set(range(105, 110)) | set(range(200, 210))
    m = t._manifest(spark, v)
    # files A and C carried BY NAME; only B rewrote
    carried = files_before & set(m["files"])
    assert len(carried) == 2
    assert m["rows"] == 25 and m["deleted_rows"] == 5
    assert t.last_batch_id(spark) == 4  # HWM survived the delete
    # pre-delete snapshot intact via time travel
    assert t.read(spark, version=v_before).count() == 30

    # no-op: nothing matches -> same version, no commit burned
    assert t.delete_where(spark, "id > 100000") == v
    assert t.current_version(spark) == v

    # NULL predicate keeps rows: v IS NULL never true for these rows,
    # and a predicate over a NULL expression deletes nothing
    assert t.delete_where(spark, "CAST(NULL AS BOOLEAN)") == v
    assert t.read(spark).count() == 25


def test_update_where_cow_pre_update_semantics(spark, tmp_path):
    """Row-level UPDATE: assignments evaluate against the PRE-update
    row (a swap of two columns works), non-matching rows and files
    pass through untouched (carried by name), row count is preserved,
    updated_rows counts exactly the matches, and unknown assignment
    columns are rejected."""
    t = ManifestTable(str(tmp_path / "mt"), stat_cols=("id",))
    t.overwrite(_df(spark, 0, 10).coalesce(1))              # file A
    t.append(_df(spark, 100, 110).coalesce(1), batch_id=9)  # file B
    v_before = t.current_version(spark)
    files_before = set(t._manifest(spark, v_before)["files"])

    # swap semantics: id <-> v for ids 100-104 (v was id*2)
    v = t.update_where(
        spark, "id >= 100 AND id < 105", {"id": "v", "v": "id"}
    )
    m = t._manifest(spark, v)
    assert m["rows"] == 20 and m["updated_rows"] == 5
    assert len(files_before & set(m["files"])) == 1  # file A carried
    got = {(r.id, r.v) for r in t.read(spark).collect()}
    assert {(200 + 2 * i, 100 + i) for i in range(5)} <= got  # swapped
    assert {(i, 2 * i) for i in range(10)} <= got  # file A untouched
    assert {(100 + i, 200 + 2 * i) for i in range(5, 10)} <= got
    assert t.last_batch_id(spark) == 9

    # no-match update: version-preserving no-op
    assert t.update_where(spark, "id < 0", {"v": F.lit(0)}) == v
    with pytest.raises(ValueError, match="unknown columns"):
        t.update_where(spark, "id = 0", {"nope": F.lit(1)})


def test_update_where_validates_against_pinned_base(spark, tmp_path):
    """update_where's unknown-column check judges the PINNED base
    snapshot's schema, not a fresh read() of the current one (TOCTOU:
    a concurrent commit between check and engine run must not swap
    the schema being judged). Pinning a pre-evolution version rejects
    an assignment to the evolved column even though the CURRENT
    snapshot has it; and on an empty table the error names
    update_where instead of read()'s generic message."""
    t = ManifestTable(str(tmp_path / "mt"))
    with pytest.raises(FileNotFoundError, match="update_where"):
        t.update_where(spark, "id = 0", {"v": F.lit(1)})
    t.overwrite(_df(spark, 0, 10))
    v0 = t.current_version(spark)
    t.append(_df(spark, 10, 20).withColumn("w", F.lit("new")))
    assert "w" in t.read(spark).columns  # current schema HAS w
    with pytest.raises(ValueError, match="unknown columns"):
        t.update_where(
            spark, "id = 0", {"w": F.lit("x")}, expected_version=v0
        )


def test_cow_update_recounts_on_legacy_manifest_without_rows(
    spark, tmp_path
):
    """A hand-made/legacy manifest lacking a recorded ``rows`` count:
    the copy-on-write UPDATE must recount via _effective_rows (the
    row-change core's one accounting formula, shared by every op and
    mode) instead of defaulting the base to 0 and recording a wrong
    (here 0, possibly negative) count that all later metadata-only
    accounting inherits."""
    import json as _json

    t = ManifestTable(str(tmp_path / "mt"))
    t.overwrite(_df(spark, 0, 10).coalesce(1))
    mp = tmp_path / "mt" / "_manifests" / "v0.json"
    m0 = _json.loads(mp.read_text())
    del m0["rows"]
    mp.write_text(_json.dumps(m0))
    crc = tmp_path / "mt" / "_manifests" / ".v0.json.crc"
    if crc.exists():
        crc.unlink()

    v = t.update_where(spark, "id < 3", {"v": F.lit(0)})
    m = t._manifest(spark, v)
    assert m["rows"] == 10  # recounted: 10 - 10 touched + 10 rewritten
    assert t.read(spark).count() == 10


def test_staged_cleanup_covers_base_exceptions(spark, tmp_path, monkeypatch):
    """The pre-publish no-orphan window catches BaseException, not just
    Exception — a KeyboardInterrupt during the stats/count window must
    delete the staged rewrite files instead of leaking them as orphans
    (consistent with _write_files' own cleanup)."""
    t = ManifestTable(str(tmp_path / "mt"), stat_cols=("id",))
    t.overwrite(_df(spark, 0, 10).coalesce(1))
    data_dir = tmp_path / "mt" / "data"
    before = {p.name for p in data_dir.iterdir() if p.suffix == ".parquet"}

    def interrupt(*a, **k):
        raise KeyboardInterrupt

    # frozen dataclass: patch at the class, not the instance. The
    # stats job is the window's remaining Spark action now that row
    # accounting is metadata-only (_count no longer runs there).
    monkeypatch.setattr(ManifestTable, "_file_stats", interrupt)
    with pytest.raises(KeyboardInterrupt):
        t.update_where(spark, "id < 3", {"v": F.lit(0)})
    after = {p.name for p in data_dir.iterdir() if p.suffix == ".parquet"}
    assert after == before  # staged rewrite abandoned, no orphans


def test_merge_with_delete_keys_single_atomic_commit(spark, tmp_path):
    """MERGE's WHEN-MATCHED-DELETE: updates, inserts and deletes land
    in ONE version; delete keys absent from the table are no-ops;
    a key in both updates and delete_keys raises."""
    t = ManifestTable(str(tmp_path / "mt"), stat_cols=("id",))
    t.overwrite(_df(spark, 0, 10).coalesce(1))
    v0 = t.current_version(spark)

    ups = spark.createDataFrame([(3, 999), (50, 100)], "id long, v long")
    dels = spark.createDataFrame([(7,), (8,), (12345,)], "id long")
    v1 = t.merge(ups, "id", delete_keys=dels)
    assert v1 == v0 + 1  # exactly one commit
    got = {r.id: r.v for r in t.read(spark).collect()}
    assert got[3] == 999 and got[50] == 100  # update + insert
    assert 7 not in got and 8 not in got  # deletes applied
    assert len(got) == 9  # 10 - 2 deleted + 1 inserted (update is in place)
    with pytest.raises(ValueError, match="BOTH updates and delete_keys"):
        t.merge(ups, "id", delete_keys=spark.createDataFrame([(3,)], "id long"))


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_merge_null_key_in_both_clauses_is_deterministic(spark, tmp_path, mode):
    """NULL keys are exempt from the update∩delete ambiguity check —
    a NULL never equi-matches any row (carry-forward anti join, MOR
    position probe), so a NULL-keyed update always INSERTS and a NULL
    delete key always NO-OPS: the outcome is deterministic, the same
    contract the pre-r9 per-clause equi-join check gave. The batch
    must succeed, not raise (r9 ADVICE)."""
    t = ManifestTable(str(tmp_path / "mt"), stat_cols=("id",))
    t.overwrite(_df(spark, 0, 10).coalesce(1))

    ups = spark.createDataFrame([(None, 777), (3, 999)], "id long, v long")
    dels = spark.createDataFrame([(None,), (7,)], "id long")
    t.merge(ups, "id", delete_keys=dels, mode=mode)
    got = t.read(spark).collect()
    by_id = {r.id: r.v for r in got if r.id is not None}
    assert [r.v for r in got if r.id is None] == [777]  # NULL row inserted
    assert by_id[3] == 999  # non-NULL update applied
    assert 7 not in by_id  # non-NULL delete applied
    assert len(got) == 10  # 10 - 1 deleted + 1 NULL inserted
    # a NON-NULL key in both clauses still raises
    with pytest.raises(ValueError, match="BOTH updates and delete_keys"):
        t.merge(
            spark.createDataFrame([(5, 1)], "id long, v long"),
            "id",
            delete_keys=spark.createDataFrame([(5,)], "id long"),
            mode=mode,
        )


def test_merge_mixed_int_float_bounds_widens_and_still_prunes(
    spark, stats_table
):
    """A legacy/hand-edited manifest whose recorded bounds for the
    merge key mix int and float ACROSS files must not abort the merge
    on createDataFrame's per-row type check (r9 ADVICE): int bounds
    widen to double and range pruning still holds. An int bound too
    wide for an exact double (>2^53) falls back to conservatively
    touched instead of comparing through a rounded range."""
    import json as _json
    import os as _os

    stats_table.overwrite(_ranged(spark, 0, 100))
    stats_table.append(_ranged(spark, 1000, 1100))
    v = stats_table.current_version(spark)
    m = stats_table._manifest(spark, v)
    far = [f for f in m["files"] if m["stats"][f]["id"][0] == 1000]
    assert len(far) == 1
    m["stats"][far[0]]["id"] = [1000.0, 1099.0]  # hand-edit: float bounds
    with open(f"{stats_table.path}/_manifests/v{v}.json", "w") as fh:
        _json.dump(m, fh)
    crc = f"{stats_table.path}/_manifests/.v{v}.json.crc"
    if _os.path.exists(crc):
        _os.remove(crc)

    ups = spark.createDataFrame([(10, -1)], ["id", "v"])
    v2 = stats_table.merge(ups, "id")
    after = stats_table._manifest(spark, v2)
    # the float-bounded far file provably excludes key 10: pruned,
    # carried forward by name — widening must not weaken pruning
    assert far[0] in after["files"]
    assert after["rows"] == 200
    got = {r.id: r.v for r in stats_table.read(spark).collect()}
    assert got[10] == -1 and len(got) == 200

    # huge-int bound mixed with float: exact widening impossible, the
    # file must be conservatively touched (rewritten) even though its
    # nominal range excludes the key
    v3 = stats_table.current_version(spark)
    m3 = stats_table._manifest(spark, v3)
    huge = [f for f in m3["files"] if m3["stats"][f]["id"][0] == 1000][0]
    m3["stats"][huge]["id"] = [2**53 + 1, 2**53 + 3]
    # keep the int/float mix alive: another file carries float bounds
    # (same values, widened type) so the widening path must run
    other = next(f for f in m3["files"] if f != huge)
    m3["stats"][other]["id"] = [float(x) for x in m3["stats"][other]["id"]]
    with open(f"{stats_table.path}/_manifests/v{v3}.json", "w") as fh:
        _json.dump(m3, fh)
    crc3 = f"{stats_table.path}/_manifests/.v{v3}.json.crc"
    if _os.path.exists(crc3):
        _os.remove(crc3)
    v4 = stats_table.merge(
        spark.createDataFrame([(11, -2)], ["id", "v"]), "id"
    )
    m4 = stats_table._manifest(spark, v4)
    assert huge not in m4["files"]  # conservatively rewritten
    got4 = {r.id: r.v for r in stats_table.read(spark).collect()}
    assert got4[11] == -2 and len(got4) == 200  # in-place update, no loss

    # str/numeric bound mix is inconsistent metadata: fail loudly
    from yc_yq_airflow_etl_spark.sources.manifest import _stats_sql_type

    with pytest.raises(ValueError, match="mix string and numeric"):
        _stats_sql_type(iter([1, "a"]))


def test_merge_overflow_int_bound_touches_conservatively(
    spark, stats_table
):
    """An int bound beyond double range entirely (> ~1.8e308, so
    float(v) raises OverflowError rather than rounding) must take the
    same conservative-touch fallback as the 2^53..1.8e308 band — the
    merge completes and the file is rewritten, not crashed (r10
    ADVICE)."""
    import json as _json
    import os as _os

    stats_table.overwrite(_ranged(spark, 0, 100))
    stats_table.append(_ranged(spark, 1000, 1100))
    v = stats_table.current_version(spark)
    m = stats_table._manifest(spark, v)
    far = next(f for f in m["files"] if m["stats"][f]["id"][0] == 1000)
    m["stats"][far]["id"] = [10**400, 10**400 + 2]  # OverflowError int
    other = next(f for f in m["files"] if f != far)
    m["stats"][other]["id"] = [float(x) for x in m["stats"][other]["id"]]
    with open(f"{stats_table.path}/_manifests/v{v}.json", "w") as fh:
        _json.dump(m, fh)
    crc = f"{stats_table.path}/_manifests/.v{v}.json.crc"
    if _os.path.exists(crc):
        _os.remove(crc)

    v2 = stats_table.merge(
        spark.createDataFrame([(12, -3)], ["id", "v"]), "id"
    )
    m2 = stats_table._manifest(spark, v2)
    assert far not in m2["files"]  # conservatively rewritten, no crash
    got = {r.id: r.v for r in stats_table.read(spark).collect()}
    assert got[12] == -3 and len(got) == 200


def test_stats_sql_type_widening_property():
    """Property over every bound-value shape a JSON round-trip can
    produce (None / bool / int / float / str, any order): the
    inferred SQL type is ORDER-INSENSITIVE and follows the widening
    lattice — any str+numeric mix raises, str-only → string, any
    float present → double (the r9-ADVICE widening), else bigint
    (ints, bools treated as non-values, all-null, empty)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from yc_yq_airflow_etl_spark.sources.manifest import _stats_sql_type

    vals = st.lists(
        st.one_of(
            st.none(),
            st.booleans(),
            st.integers(min_value=-(2**60), max_value=2**60),
            st.floats(allow_nan=False, allow_infinity=False),
            st.text(max_size=6),
        ),
        max_size=8,
    )

    @settings(max_examples=200, deadline=None)
    @given(bounds=vals, seed=st.randoms(use_true_random=False))
    def prop(bounds, seed):
        real = [v for v in bounds if v is not None and not isinstance(v, bool)]
        has = {
            "i": any(isinstance(v, int) for v in real),
            "f": any(isinstance(v, float) for v in real),
            "s": any(isinstance(v, str) for v in real),
        }
        shuffled = list(bounds)
        seed.shuffle(shuffled)
        for order in (bounds, shuffled):
            if has["s"] and (has["i"] or has["f"]):
                with pytest.raises(ValueError, match="mix string"):
                    _stats_sql_type(iter(order))
            else:
                want = (
                    "string" if has["s"]
                    else "double" if has["f"]
                    else "bigint"
                )
                assert _stats_sql_type(iter(order)) == want

    prop()


def test_apply_cdc_batch_inserts_updates_deletes_atomically(spark, tmp_path):
    """Changelog apply: per-key LAST change wins (an insert followed
    by a delete in one batch nets to absent), one atomic version per
    batch, replays are no-ops, op column never lands in the table."""
    from yc_yq_airflow_etl_spark.streaming.manifest_sink import apply_cdc_batch

    t = ManifestTable(str(tmp_path / "mt"))
    t.overwrite(_df(spark, 0, 5).coalesce(1), )  # ids 0-4
    v0 = t.current_version(spark)

    batch = spark.createDataFrame(
        [
            (1, 111, 1, "U"),   # update id 1
            (2, 0, 1, "U"),     # updated...
            (2, 0, 2, "D"),     # ...then deleted: net absent
            (9, 900, 1, "I"),   # new id inserted
            (8, 800, 1, "I"),   # inserted...
            (8, 801, 2, "U"),   # ...then updated: net v=801
        ],
        "id long, v long, seq int, op string",
    )
    assert apply_cdc_batch(t, batch, 1, key="id", order_col="seq") is True
    assert t.current_version(spark) == v0 + 1  # ONE commit for the batch
    got = {r.id: r.v for r in t.read(spark).collect()}
    assert got[1] == 111 and got[9] == 900 and got[8] == 801
    assert 2 not in got
    assert set(t.read(spark).columns) == {"id", "v"}  # no op/seq columns
    # replay of the same batch id: no-op
    assert apply_cdc_batch(t, batch, 1, key="id", order_col="seq") is False
    assert t.current_version(spark) == v0 + 1

# --- round-7 review regressions: evolved-merge schema contract, -----
# --- z-order key safety, read_where empty-table pin -----------------


def test_cow_merge_on_evolved_table_carries_evolved_flag(spark, tmp_path):
    """A copy-on-write merge that leaves a pre-evolution file
    UNTOUCHED must keep the manifest's ``evolved`` flag: without it
    read() skips mergeSchema and adopts one file's footer by listing
    order — the evolved column nondeterministically vanishes."""
    t = ManifestTable(str(tmp_path / "mt"), stat_cols=("id",))
    t.overwrite(_ranged(spark, 0, 100))            # f1: (id, v)
    t.append(_ranged(spark, 100, 200))             # f2: (id, v)
    t.append(                                      # f3: (id, v, w)
        _ranged(spark, 200, 300).withColumn("w", F.lit("wide"))
    )
    m = t._manifest(spark, t.current_version(spark))
    assert m.get("evolved") is True

    # touch only f1 (keys 0-9): f2 stays pre-evolution on disk
    upd = (
        spark.range(0, 10)
        .select(
            F.col("id"),
            (F.col("id") * 100).alias("v"),
            F.lit("upd").alias("w"),
        )
        .coalesce(1)
    )
    v = t.merge(upd, "id")
    m2 = t._manifest(spark, v)
    assert m2.get("evolved") is True, "evolved flag must survive COW merge"
    got = t.read(spark)
    assert set(got.columns) == {"id", "v", "w"}
    assert got.count() == 300
    by_id = {r.id: (r.v, r.w) for r in got.collect()}
    assert by_id[5] == (500, "upd")          # rewritten
    assert by_id[150] == (300, None)         # untouched pre-evolution
    assert by_id[250] == (500, "wide")       # untouched wide


def test_merge_rejects_unknown_columns_even_when_nothing_touched(
    spark, tmp_path
):
    """A typo'd batch whose keys overlap no file previously skipped
    the unionByName schema check entirely and committed the malformed
    frame verbatim — the validation must run before touched-file
    pruning, in both modes."""
    t = ManifestTable(str(tmp_path / "mt"), stat_cols=("id",))
    t.overwrite(_ranged(spark, 0, 100))
    bad = (
        spark.range(1000, 1005)
        .select(F.col("id"), (F.col("id") * 2).alias("vv"))  # typo'd v
        .coalesce(1)
    )
    for mode in ("copy-on-write", "merge-on-read"):
        with pytest.raises(ValueError, match="unknown columns.*'vv'"):
            t.merge(bad, "id", mode=mode)


def test_merge_evolved_table_rejects_typod_columns(spark, tmp_path):
    """The evolved-table tolerance covers MISSING columns only.
    allowMissingColumns previously accepted any malformed batch here:
    the typo'd column was recorded as schema and the real column
    NULL-filled for every update row — silent corruption."""
    t = ManifestTable(str(tmp_path / "mt"), stat_cols=("id",))
    t.overwrite(_ranged(spark, 0, 100))
    t.append(_ranged(spark, 100, 200).withColumn("w", F.lit("x")))
    bad = (
        spark.range(0, 5)
        .select(F.col("id"), (F.col("id") * 2).alias("vv"), F.lit("y").alias("w"))
        .coalesce(1)
    )
    for mode in ("copy-on-write", "merge-on-read"):
        with pytest.raises(ValueError, match="unknown columns.*'vv'"):
            t.merge(bad, "id", mode=mode)


def test_merge_missing_columns_strict_on_unevolved_table(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "mt"), stat_cols=("id",))
    t.overwrite(_ranged(spark, 0, 100))
    narrow = spark.range(0, 5).select("id").coalesce(1)
    for mode in ("copy-on-write", "merge-on-read"):
        with pytest.raises(ValueError, match="missing columns.*'v'"):
            t.merge(narrow, "id", mode=mode)


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_merge_evolved_table_accepts_pre_evolution_updates(
    spark, tmp_path, mode
):
    """Updates written against the pre-evolution schema NULL-fill the
    evolved column — in BOTH modes (merge-on-read previously rejected
    what copy-on-write accepted, so the two modes diverged
    observationally on evolved tables)."""
    t = ManifestTable(str(tmp_path / ("mt_" + mode)), stat_cols=("id",))
    t.overwrite(_ranged(spark, 0, 100))
    t.append(_ranged(spark, 100, 200).withColumn("w", F.lit("x")))
    upd = (
        spark.range(0, 5)
        .select(F.col("id"), (F.col("id") * 100).alias("v"))
        .coalesce(1)  # no w — pre-evolution writer
    )
    v = t.merge(upd, "id", mode=mode)
    m = t._manifest(spark, v)
    assert m.get("evolved") is True
    assert sorted(m["columns"]) == ["id", "v", "w"]  # never narrowed
    got = t.read(spark)
    assert set(got.columns) == {"id", "v", "w"}
    assert got.count() == 200
    by_id = {r.id: (r.v, r.w) for r in got.collect()}
    assert by_id[3] == (300, None)
    assert by_id[150] == (300, "x")


def test_zorder_key_caps_bits_below_sign_bit(spark):
    """4+ columns at the default 16 bits/col used to put the top
    interleaved bit at position 63 (sign flip — negative keys sort
    first, curve broken) and 5+ columns wrapped shifts mod 64
    (unrelated cells collide). The key must stay non-negative and
    injective on a small grid for any column count."""
    from itertools import product

    from yc_yq_airflow_etl_spark.sources.zorder import zorder_key

    for n_cols in (4, 5):
        cols = [f"c{i}" for i in range(n_cols)]
        rows = [tuple(p) for p in product(range(4), repeat=n_cols)]
        df = spark.createDataFrame(rows, ", ".join(f"{c} int" for c in cols))
        key = zorder_key(cols, [0.0] * n_cols, [3.0] * n_cols)
        keyed = df.select(key.alias("k")).collect()
        assert min(r.k for r in keyed) >= 0, f"negative key at n={n_cols}"
        assert len({r.k for r in keyed}) == len(rows), (
            f"key collision at n={n_cols} — shift wrap"
        )

    with pytest.raises(ValueError, match="cannot z-order"):
        zorder_key([f"c{i}" for i in range(64)], [0.0] * 64, [1.0] * 64)


def test_zorder_key_refuses_non_finite_bounds_and_routes_nan_top(spark):
    """Invariant #30 at the key-builder level: a NaN/Inf domain bound
    poisons span → every row's key (not just the bad row's), so
    zorder_key refuses it loudly naming the column; a NaN ROW under a
    finite domain routes to the top bucket (NaN-greatest, matching
    Spark sort order) instead of throwing CAST_OVERFLOW under the
    default-ANSI session, and ±Inf rows clamp to the domain edges."""
    from yc_yq_airflow_etl_spark.sources.zorder import zorder_key

    for lo, hi in [(float("nan"), 1.0), (0.0, float("nan")),
                   (float("-inf"), 1.0), (0.0, float("inf"))]:
        with pytest.raises(ValueError, match="'a'.*non-finite domain bound"):
            zorder_key(["a"], [lo], [hi])

    df = spark.createDataFrame(
        [(0.0,), (3.0,), (float("nan"),), (float("inf"),),
         (float("-inf"),), (None,)],
        "a double",
    )
    key = zorder_key(["a"], [0.0], [3.0])
    got = [r.k for r in df.select(key.alias("k")).collect()]
    top = got[1]  # key of the domain max
    assert got[2] == top, "NaN row must land in the top bucket"
    assert got[3] == top, "+Inf row must clamp to the top bucket"
    assert got[4] == got[0] == 0, "-Inf/domain-min rows land in bucket 0"
    assert got[5] == 0, "NULL rows keep landing in bucket 0"


def test_cluster_zorder_one_nan_row_survives_and_stays_selective(
    spark, tmp_path
):
    """Invariant #30, write path (r15 judge find): ONE NaN row in a
    stat column must not poison the Morton scaling domain. Before the
    fix, cluster(zorder=True) computed the domain with plain min/max,
    span went NaN, and every row's norm.cast('long') threw
    CAST_OVERFLOW under the engine's default-ANSI session — the whole
    clustering maintenance pass died on a single bad row (and under
    ANSI-off the column's key bits silently collapsed to a constant,
    de-clustering the table). Now: the pass succeeds, the NaN row
    lands (top bucket), and the CLEAN column's stats stay selective."""
    mt = ManifestTable(str(tmp_path / "mznan"), stat_cols=("x", "y"))
    grid = spark.range(0, 32 * 32).select(
        (F.col("id") % 32).cast("double").alias("x"),
        F.when(F.col("id") == 517, F.lit(float("nan")))
        .otherwise((F.col("id") / 32).cast("bigint").cast("double"))
        .alias("y"),
    )
    # striped layout: every file spans the full domain on both axes
    for i in range(4):
        part = grid.filter(F.col("id") % 4 == i).coalesce(1)
        (mt.overwrite if i == 0 else mt.append)(part)

    v = mt.cluster(spark, by=("x", "y"), target_files=8, zorder=True)
    m = mt._manifest(spark, v)
    assert len(m["files"]) == 8
    got = mt.read(spark)
    assert got.count() == 32 * 32
    assert got.filter(F.isnan("y")).count() == 1, "the NaN row must land"
    # the clean column still prunes: a 1/8-width slab on x touches
    # only the z-curve cells it overlaps, never all 8 files
    assert len(mt.pruned_files(spark, "x", 0.0, 3.0)) < 8
    # and a read_where on the clean column returns exactly its rows
    assert mt.read_where(spark, "x", 0.0, 3.0).filter(
        ~F.isnan("y")
    ).count() == 4 * 32


def test_cluster_zorder_all_nan_column_refuses_loudly(spark, tmp_path):
    """An ALL-NaN column sails past the all-NULL `is None` guard
    (min of all-NaN is NaN, not None) and used to crash deep in
    codegen with an error naming neither column nor row. It must hit
    the same loud named-column path as all-NULL."""
    mt = ManifestTable(str(tmp_path / "mzallnan"), stat_cols=("x",))
    mt.overwrite(
        spark.range(0, 16)
        .select(
            F.col("id").cast("double").alias("x"),
            F.lit(float("nan")).alias("y"),
        )
        .coalesce(1)
    )
    with pytest.raises(ValueError, match=r"cannot zorder on \['y'\]"):
        mt.cluster(spark, by=("x", "y"), zorder=True)


def test_cluster_zorder_reserved_key_column_guard(spark, tmp_path):
    """A data column literally named __zkey would be replaced by the
    Morton key and then dropped — erased from the committed snapshot.
    Same reserved-tag rule as the DV join keys: fail loudly."""
    t = ManifestTable(str(tmp_path / "mt"), stat_cols=("id",))
    t.overwrite(
        _ranged(spark, 0, 10).withColumn("__zkey", F.lit(7))
    )
    with pytest.raises(ValueError, match="__zkey.*reserved"):
        t.cluster(spark, by=("id", "v"), zorder=True)


def test_read_where_on_empty_table_raises_not_vnone(spark, tmp_path):
    """The version pin must fail immediately on a never-committed
    table — passing version=None downstream would let pruned_files_*
    re-resolve (racing a first commit) and then read 'vNone.json'."""
    t = ManifestTable(str(tmp_path / "mt"), stat_cols=("id",))
    with pytest.raises(FileNotFoundError, match="no committed snapshot"):
        t.read_where(spark, "id", 0, 10)
    with pytest.raises(FileNotFoundError, match="no committed snapshot"):
        t.read_where_eq(spark, "id", 1)
    with pytest.raises(FileNotFoundError, match="no committed snapshot"):
        t.read_where_null(spark, "id")


def test_read_where_schema_complete_on_evolved_snapshot(spark, tmp_path):
    """Pruned reads must return the SAME schema as read(): the
    manifest's recorded logical schema resolves it from metadata, so
    neither a mixed-schema kept set (nondeterministic footer adoption)
    nor a kept set made entirely of pre-evolution files (mergeSchema
    can't help — no kept footer has the column) can drop the evolved
    column."""
    t = ManifestTable(str(tmp_path / "mt"), stat_cols=("id",))
    t.overwrite(_ranged(spark, 0, 100))
    t.append(_ranged(spark, 100, 200))
    t.append(_ranged(spark, 200, 300).withColumn("w", F.lit("wide")))
    assert set(t.read(spark).columns) == {"id", "v", "w"}

    # kept set = the middle pre-evolution file ONLY
    assert len(t.pruned_files(spark, "id", 120, 150)) == 1
    got = t.read_where(spark, "id", 120, 150)
    assert set(got.columns) == {"id", "v", "w"}
    rows = got.collect()
    assert len(rows) == 31
    assert all(r.w is None for r in rows)  # NULL-filled, not dropped

    # kept set mixing pre- and post-evolution files
    got2 = t.read_where(spark, "id", 150, 250).orderBy("id").collect()
    assert {r.id: r.w for r in got2}[160] is None
    assert {r.id: r.w for r in got2}[240] == "wide"


def test_schema_record_survives_every_commit_type(spark, tmp_path):
    """The logical schema rides the manifest through append, COW
    merge, MOR delete/update, restore, cluster and compact — and
    read()'s resolved schema never flaps."""
    t = ManifestTable(str(tmp_path / "mt"), stat_cols=("id",))
    t.overwrite(_ranged(spark, 0, 50))
    t.append(_ranged(spark, 50, 100).withColumn("w", F.lit("x")))

    def _m():
        return t._manifest(spark, t.current_version(spark))

    assert "schema" in _m()
    want = {"id", "v", "w"}

    upd = (
        spark.range(0, 5)
        .select(F.col("id"), (F.col("id") * 9).alias("v"),
                F.lit("u").alias("w"))
        .coalesce(1)
    )
    t.merge(upd, "id")
    assert "schema" in _m() and set(t.read(spark).columns) == want
    t.delete_where(spark, "id >= 95", mode="merge-on-read")
    assert "schema" in _m() and set(t.read(spark).columns) == want
    t.update_where(spark, "id = 1", {"v": "v + 1"}, mode="merge-on-read")
    assert "schema" in _m() and set(t.read(spark).columns) == want
    t.restore(spark, 1)
    assert "schema" in _m() and set(t.read(spark).columns) == want
    t.cluster(spark, by=("id",))
    assert "schema" in _m() and set(t.read(spark).columns) == want
    t.compact(spark, target_files=1)
    m = _m()
    assert "schema" in m and "evolved" not in m  # full rewrite re-baselines
    assert set(t.read(spark).columns) == want


def test_legacy_manifest_without_schema_falls_back_to_mergeschema(
    spark, tmp_path
):
    """A chain whose predecessor lacks a schema record (pre-upgrade
    manifest) must not record a guessed schema — the union is
    unknowable from metadata — and reads fall back to the evolved-flag
    mergeSchema path."""
    import json as _json

    t = ManifestTable(str(tmp_path / "mt"), stat_cols=("id",))
    t.overwrite(_ranged(spark, 0, 50))
    # simulate a legacy manifest: strip the schema record on disk
    mp = tmp_path / "mt" / "_manifests" / "v0.json"
    m0 = _json.loads(mp.read_text())
    del m0["schema"]
    mp.write_text(_json.dumps(m0))
    # drop the Hadoop LocalFS checksum sidecar, or the edited file
    # reads as a torn (checksum-mismatched) manifest
    crc = tmp_path / "mt" / "_manifests" / ".v0.json.crc"
    if crc.exists():
        crc.unlink()
    assert t.current_version(spark) == 0  # still a valid commit

    t.append(_ranged(spark, 50, 100).withColumn("w", F.lit("x")))
    m1 = t._manifest(spark, t.current_version(spark))
    assert "schema" not in m1  # never guessed
    assert m1.get("evolved") is True
    got = t.read(spark)  # mergeSchema fallback still resolves the union
    assert set(got.columns) == {"id", "v", "w"}
    assert got.count() == 100


def test_append_type_conflict_race_fallback_sets_evolved(spark, tmp_path):
    """append() rejects type drift at entry (see
    test_append_widens_and_rejects_drift_before_any_file_lands), so a
    conflicting commit can only arise from a CONCURRENT type change
    between that check and the build. Drive the build directly to
    pin the fallback: the manifest carries the evolved flag and NO
    schema record — reads fail loudly in mergeSchema instead of
    adopting one file's footer nondeterministically."""
    t = ManifestTable(str(tmp_path / "mt"))
    t.overwrite(_df(spark, 0, 10))  # v: long
    drifted = spark.range(10, 20).select(
        F.col("id"), (F.col("id") * 0.5).alias("v")  # v: double
    )
    files, _, _n = t._write_files(drifted)
    build = t._append_build(
        spark, files, sorted(drifted.columns), {}, _n, drifted.schema
    )
    t._publish(spark, "append", build)
    m = t._manifest(spark, t.current_version(spark))
    assert "schema" not in m  # never records a conflicted union
    assert m.get("evolved") is True
    with pytest.raises(Exception, match="[Mm]erge|[Ff]ailed|compatible"):
        t.read(spark).collect()  # loud, not nondeterministic


def test_nested_nullability_difference_is_not_a_conflict(spark, tmp_path):
    """Spark's DataType equality is nullability-sensitive at every
    nesting level; the schema record must not be — an append whose
    struct field differs only in inner nullability keeps the record."""
    t = ManifestTable(str(tmp_path / "mt"))
    base = spark.range(0, 5).select(
        "id", F.struct(F.lit(1).alias("a")).alias("s")  # a: non-null
    )
    t.overwrite(base)
    nullable = spark.range(5, 10).select(
        "id",
        F.struct(
            F.when(F.col("id") > 6, F.lit(1)).alias("a")  # a: nullable
        ).alias("s"),
    )
    t.append(nullable)
    m = t._manifest(spark, t.current_version(spark))
    assert "schema" in m  # nullability drift never drops the record
    assert t.read(spark).count() == 10


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_merge_widens_narrow_batch_and_rejects_type_drift(
    spark, tmp_path, mode
):
    """A batch whose literals landed as a NARROWER numeric type casts
    to the table's recorded type (int -> bigint); an incompatible
    type raises instead of committing files the recorded schema can
    no longer read (which would throw on every later scan)."""
    t = ManifestTable(str(tmp_path / ("mt_" + mode)), stat_cols=("id",))
    t.overwrite(_ranged(spark, 0, 100))  # id, v: bigint

    narrow = spark.range(0, 3).select(
        F.col("id"), (F.col("id") * 7).cast("int").alias("v")
    )
    t.merge(narrow, "id", mode=mode)
    got = t.read(spark)
    assert dict(got.dtypes)["v"] == "bigint"  # widened, not drifted
    assert {r.id: r.v for r in got.collect()}[2] == 14
    got.collect()  # every file readable under the recorded schema

    drift = spark.range(0, 3).select(
        F.col("id"), (F.col("id") * 0.5).alias("v")  # double
    )
    with pytest.raises(ValueError, match="incompatible with the table"):
        t.merge(drift, "id", mode=mode)


def test_update_where_type_drift_rejected_both_modes(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "mt"), stat_cols=("id",))
    t.overwrite(_ranged(spark, 0, 50))
    for mode in ("copy-on-write", "merge-on-read"):
        with pytest.raises(ValueError, match="incompatible with the table"):
            t.update_where(spark, "id < 5", {"v": "v * 0.5"}, mode=mode)
    # the table stayed readable and unchanged
    assert t.read(spark).count() == 50


def test_dv_position_key_names_rejected_at_write(spark, tmp_path):
    """__dv_f/__dv_pos can never enter a committed snapshot, so every
    read/rewrite can stamp them without clobbering user data."""
    t = ManifestTable(str(tmp_path / "mt"))
    bad = spark.range(0, 3).select("id", F.lit(1).alias("__dv_f"))
    with pytest.raises(ValueError, match="__dv_f.*reserved"):
        t.overwrite(bad)


def test_append_widens_and_rejects_drift_before_any_file_lands(
    spark, tmp_path
):
    """Append on an EXISTING column must conform to the recorded
    schema at entry: lossless widenings cast, real drift raises with
    NOTHING staged or committed — a committed conflict would poison
    every read (mergeSchema cannot reconcile incompatible types) with
    compact() unreachable as repair, so one drifted micro-batch
    through the streaming sink would brick the table."""
    t = ManifestTable(str(tmp_path / "mt"))
    t.overwrite(_df(spark, 0, 10))  # v: bigint
    t.append(
        spark.range(10, 13).select(
            "id", (F.col("id") * 2).cast("int").alias("v")
        )
    )
    got = t.read(spark)
    assert dict(got.dtypes)["v"] == "bigint"
    assert got.count() == 13
    m = t._manifest(spark, t.current_version(spark))
    assert "schema" in m and "evolved" not in m  # widened, not evolved

    v_before = t.current_version(spark)
    n_data = len(list((tmp_path / "mt" / "data").glob("*.parquet")))
    with pytest.raises(ValueError, match="incompatible with the table"):
        t.append(
            spark.range(0, 3).select("id", (F.col("id") * 0.5).alias("v"))
        )
    assert t.current_version(spark) == v_before
    assert (
        len(list((tmp_path / "mt" / "data").glob("*.parquet"))) == n_data
    )  # nothing staged or orphaned
    t.read(spark).collect()  # table fully readable

    # NEW columns still evolve freely through append
    t.append(_df(spark, 13, 15).withColumn("w", F.lit("x")))
    assert set(t.read(spark).columns) == {"id", "v", "w"}


def test_merge_null_typed_column_is_lossless(spark, tmp_path):
    """A batch column built as lit(None) types as void; casting void
    to anything is lossless and must not be rejected."""
    t = ManifestTable(str(tmp_path / "mt"), stat_cols=("id",))
    t.overwrite(_ranged(spark, 0, 10))
    upd = spark.range(0, 3).select("id", F.lit(None).alias("v"))
    t.merge(upd, "id")
    got = {r.id: r.v for r in t.read(spark).collect()}
    assert got[1] is None and got[5] == 10


def test_update_mor_type_drift_rejected_before_any_io(spark, tmp_path):
    """The MOR update's type validation is schema-only and runs before
    the find scan: a rejected update lands no deletion-vector parts."""
    t = ManifestTable(str(tmp_path / "mt"), stat_cols=("id",))
    t.overwrite(_ranged(spark, 0, 20))
    with pytest.raises(ValueError, match="incompatible with the table"):
        t.update_where(spark, "id < 5", {"v": "v * 0.5"}, mode="merge-on-read")
    deletes = tmp_path / "mt" / "deletes"
    assert not deletes.exists() or not list(deletes.glob("*.parquet"))


def test_dotted_column_names_rejected_at_write(spark, tmp_path):
    """Delta-style identifier contract: dots/backticks in top-level
    column names are rejected at the data-write choke point. Spark
    resolves unquoted dotted names as struct-field access, so every
    downstream engine (update/delete selects, stat expressions) would
    need perfect quoting discipline forever — and a struct column
    alongside its dotted twin resolves ambiguously, writing wrong
    data. Loud at entry beats either."""
    t = ManifestTable(str(tmp_path / "mt"))
    bad = spark.range(0, 3).select("id", F.lit("k").alias("a.b"))
    with pytest.raises(ValueError, match="unsupported column name"):
        t.overwrite(bad)
    t.overwrite(_df(spark, 0, 5))
    with pytest.raises(ValueError, match="unsupported column name"):
        t.append(spark.range(5, 8).select(
            "id", (F.col("id") * 2).alias("v"), F.lit(1).alias("x`y")
        ))
    assert set(t.read(spark).columns) == {"id", "v"}  # table untouched


def _strip_schema_record(tmp_path, name="mt", version=0):
    """Simulate a legacy (pre-schema-record) manifest on disk."""
    import json as _json

    mp = tmp_path / name / "_manifests" / f"v{version}.json"
    m0 = _json.loads(mp.read_text())
    del m0["schema"]
    mp.write_text(_json.dumps(m0))
    crc = tmp_path / name / "_manifests" / f".v{version}.json.crc"
    if crc.exists():
        crc.unlink()


def test_legacy_chain_append_sets_read_merged_not_evolved(spark, tmp_path):
    """On a chain without a schema record, file-type homogeneity is
    unprovable from metadata: a same-named type drift must not commit
    with no flag at all (plain reads would adopt one footer
    nondeterministically). Legacy appends set read_merged — reads go
    through mergeSchema (loud on real conflicts) — but NOT evolved:
    overloading evolved would silently relax MERGE's missing-column
    strictness into NULL-fill."""
    t = ManifestTable(str(tmp_path / "mt"))
    t.overwrite(_df(spark, 0, 10))  # v: bigint
    _strip_schema_record(tmp_path)

    # drift with IDENTICAL column names: commits (nothing to check
    # against), but the conservative read_merged flag makes reads loud
    t.append(spark.range(10, 13).select(
        "id", (F.col("id") * 0.5).alias("v")
    ))
    m1 = t._manifest(spark, t.current_version(spark))
    assert "schema" not in m1
    assert m1.get("read_merged") is True
    assert "evolved" not in m1  # the flags stay semantically distinct
    with pytest.raises(Exception, match="[Mm]erge|[Ff]ailed|compatible"):
        t.read(spark).collect()  # loud, never footer-adoption roulette


def test_legacy_chain_merge_keeps_reads_loud_and_stays_strict(
    spark, tmp_path
):
    """Finding pair on legacy chains: (a) a MERGE landing batch files
    without a schema record to conform against must flag read_merged,
    so a drifted batch cannot produce footer-adoption roulette; (b)
    read_merged must NOT relax the missing-column guard the way
    evolved does — a malformed batch still fails loudly."""
    t = ManifestTable(str(tmp_path / "mt"), stat_cols=("id",))
    t.overwrite(_ranged(spark, 0, 50))
    _strip_schema_record(tmp_path)

    # (b) strictness preserved on the legacy chain
    with pytest.raises(ValueError, match="missing columns"):
        t.merge(spark.range(0, 3).select("id").coalesce(1), "id")

    # (a) a drifted same-named batch commits but reads stay loud
    drift = spark.range(0, 3).select("id", (F.col("id") * 0.5).alias("v"))
    t.merge(drift, "id", mode="merge-on-read")
    m = t._manifest(spark, t.current_version(spark))
    assert m.get("read_merged") is True and "schema" not in m
    with pytest.raises(Exception, match="[Mm]erge|[Ff]ailed|compatible"):
        t.read(spark).collect()


def test_grandfathered_dotted_table_stays_compactable(spark, tmp_path):
    """The identifier contract gates names ENTERING the table; a
    pre-contract table already carrying a dotted column must stay
    readable and compactable (the repair path), not become
    permanently unmaintainable."""
    t = ManifestTable(str(tmp_path / "mt"))
    dotted = spark.range(0, 10).select(
        "id", F.lit("k").alias("a.b")
    ).coalesce(1)
    # simulate the pre-contract table: land files + manifest directly
    files, _, _n = t._write_files(dotted)
    t._publish(
        spark, "overwrite",
        lambda *_: (files, 10, {"columns": sorted(dotted.columns)}),
    )
    assert set(t.read(spark).columns) == {"id", "a.b"}
    v = t.compact(spark, target_files=1)  # repair path works
    assert t._manifest(spark, v)["rows"] == 10
    assert t.read(spark).count() == 10
    # ...but appending a NEW dotted name is still rejected
    with pytest.raises(ValueError, match="unsupported column name"):
        t.append(t.read(spark).withColumn("c.d", F.lit(1)))


def test_overwrite_rebaseline_open_for_grandfathered_dotted_table(
    spark, tmp_path
):
    """overwrite is the type-change escape hatch; it must gate only
    NEW names, so a grandfathered dotted table can re-baseline."""
    t = ManifestTable(str(tmp_path / "mt"))
    dotted = spark.range(0, 5).select("id", F.lit("k").alias("a.b")).coalesce(1)
    files, _, _n = t._write_files(dotted)
    t._publish(
        spark, "overwrite",
        lambda *_: (files, 5, {"columns": sorted(dotted.columns)}),
    )
    # re-baseline with the SAME grandfathered name: allowed
    t.overwrite(t.read(spark))
    assert t.read(spark).count() == 5
    # a NEW dotted name via overwrite: still rejected
    with pytest.raises(ValueError, match="unsupported column name"):
        t.overwrite(t.read(spark).withColumn("c.d", F.lit(1)))


def test_pure_delete_merge_does_not_set_read_merged(spark, tmp_path):
    """A merge-on-read commit landing ONLY deletion-vector parts adds
    no data file, so a homogeneous legacy chain must not start paying
    the mergeSchema footer sweep for it."""
    t = ManifestTable(str(tmp_path / "mt"), stat_cols=("id",))
    t.overwrite(_ranged(spark, 0, 20))
    _strip_schema_record(tmp_path)
    dk = spark.createDataFrame([(3,)], ["id"])
    t.merge(
        spark.range(0, 0).select("id", (F.col("id")).alias("v")),
        "id",
        delete_keys=dk,
        mode="merge-on-read",
    )
    m = t._manifest(spark, t.current_version(spark))
    assert "read_merged" not in m and "schema" not in m
    assert t.read(spark).count() == 19


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(ops=st.lists(st.integers(min_value=0, max_value=6), min_size=1, max_size=5))
def test_schema_record_invariants_under_any_history(
    spark, tmp_path_factory, ops
):
    """Property: for ANY operation history (appends, an evolution,
    widened appends, merges, MOR updates, COW deletes, compaction) the
    schema-record machinery holds its invariants after every commit —
    (1) read() resolves, (2) its column set equals the manifest's
    recorded columns, (3) the chain never loses the schema record,
    (4) a pruned read returns the SAME schema and rows as
    read().filter — the contract the record exists to guarantee,
    (5) the manifest's row count matches the data."""
    tmp_path = tmp_path_factory.mktemp("schemaprop")
    t = ManifestTable(str(tmp_path / "t"), stat_cols=("id",))
    t.overwrite(_ranged(spark, 0, 20))
    hi_id = 20

    def batch(lo, hi, cols):
        df = spark.range(lo, hi).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        )
        if "w" in cols:
            df = df.withColumn("w", F.lit("b"))
        return df.coalesce(1)

    for op in ops:
        m0 = t._manifest(spark, t.current_version(spark))
        cols0 = m0["columns"]
        if op == 0:  # plain append, disjoint id range (pruning engages)
            t.append(batch(hi_id, hi_id + 10, cols0))
            hi_id += 10
        elif op == 1:  # evolution: add w if absent, else plain append
            t.append(
                batch(hi_id, hi_id + 10, cols0).withColumn(
                    "w2" if "w" in cols0 else "w", F.lit("e")
                )
            )
            hi_id += 10
        elif op == 2:  # widened append: v lands as int, casts to bigint
            t.append(
                spark.range(hi_id, hi_id + 5).select(
                    "id", (F.col("id") * 2).cast("int").alias("v")
                )
            )
            hi_id += 5
        elif op == 3:  # merge touching the first file's range
            upd = spark.range(0, 5).select(
                F.col("id"), (F.col("id") * 100).alias("v")
            )
            for c in cols0:
                if c not in ("id", "v"):
                    upd = upd.withColumn(c, F.lit("u"))
            t.merge(upd.coalesce(1), "id")
        elif op == 4:  # MOR update
            t.update_where(
                spark, "id % 5 = 1", {"v": "v + 1"}, mode="merge-on-read"
            )
        elif op == 5:  # COW delete
            t.delete_where(spark, "id % 7 = 3")
        elif op == 6:
            t.compact(spark, target_files=2)

        m = t._manifest(spark, t.current_version(spark))
        assert "schema" in m, f"record lost after op {op}"
        got = t.read(spark)
        assert sorted(got.columns) == m["columns"], (op, m["columns"])
        sel = sorted(got.columns)  # fix column order on both sides
        full = sorted(
            tuple(r) for r in got.select(sel).filter(
                (F.col("id") >= 3) & (F.col("id") <= 27)
            ).collect()
        )
        pruned_df = t.read_where(spark, "id", 3, 27)
        assert sorted(pruned_df.columns) == sel
        pruned = sorted(tuple(r) for r in pruned_df.select(sel).collect())
        assert pruned == full, f"pruned read diverged after op {op}"
        assert m["rows"] == got.count()


def test_publish_failure_cleanup_classified_by_provability(
    spark, tmp_path, monkeypatch
):
    """The no-orphan rule is CLASSIFIED, not unconditional: a failure
    type that proves no put landed (retry exhaustion, rebase conflict/
    validation) deletes the stage; an AMBIGUOUS store exception leaves
    it — on S3A the close() that raised IS the PUT and may have
    completed server-side, so deleting could erase files a
    late-landing manifest references (bricked snapshot > orphan
    debt)."""
    from yc_yq_airflow_etl_spark.sources.manifest import (
        PublishContentionError,
    )

    t = ManifestTable(str(tmp_path / "mt"))
    t.overwrite(_df(spark, 0, 5))
    n_before = len(list((tmp_path / "mt" / "data").glob("*.parquet")))

    def exhausted(self, spark_, content, *parts):
        return False  # the put loses every race: nothing lands

    monkeypatch.setattr(ManifestTable, "_write_text_atomic", exhausted)
    with pytest.raises(PublishContentionError):
        t.append(_df(spark, 5, 8))
    assert (
        len(list((tmp_path / "mt" / "data").glob("*.parquet"))) == n_before
    ), "proven-dead publish must delete the stage"
    with pytest.raises(PublishContentionError):
        t.overwrite(_df(spark, 0, 3))
    assert (
        len(list((tmp_path / "mt" / "data").glob("*.parquet"))) == n_before
    )
    monkeypatch.undo()

    def ambiguous(self, spark_, content, *parts):
        raise IOError("synthetic: connection reset during put")

    monkeypatch.setattr(ManifestTable, "_write_text_atomic", ambiguous)
    from yc_yq_airflow_etl_spark.sources.manifest import CommitAmbiguousError

    with pytest.raises(CommitAmbiguousError, match="outcome UNKNOWN"):
        t.append(_df(spark, 5, 8))
    assert (
        len(list((tmp_path / "mt" / "data").glob("*.parquet"))) > n_before
    ), "ambiguous put must LEAVE the stage (vacuum debt, never delete)"
    # ...and the debt is reclaimable: nothing references the stage, so
    # vacuum retires it — once past the in-flight grace (the ambiguous
    # put's manifest could still land server-side; waived here because
    # the monkeypatch guarantees nothing is in flight)
    monkeypatch.undo()
    t.append(_df(spark, 5, 8))  # advance so vacuum has an old version
    t.vacuum(spark, keep_versions=1, orphan_grace_seconds=0)
    live = set(t._manifest(spark, t.current_version(spark))["files"])
    on_disk = {p.name for p in (tmp_path / "mt" / "data").glob("*.parquet")}
    assert on_disk == live  # orphaned stage reclaimed


def test_overwrite_commit_time_recheck_catches_renamed_away_name(
    spark, tmp_path, monkeypatch
):
    """The overwrite's build re-checks the identifier contract against
    the COMMIT-TIME base: entry-checks against a grandfathered name,
    then a concurrent clean overwrite lands before publish — the
    racing writer must NOT re-introduce the dotted name, and its
    rejected stage must not orphan files."""
    from yc_yq_airflow_etl_spark.sources import manifest as mmod

    t = ManifestTable(str(tmp_path / "mt"))
    dotted = spark.range(0, 5).select("id", F.lit("k").alias("a.b")).coalesce(1)
    files0, _, _n = t._write_files(dotted)
    t._publish(
        spark, "overwrite",
        lambda *_: (files0, 5, {"columns": sorted(dotted.columns)}),
    )

    clean = spark.range(0, 5).select("id", F.lit(1).alias("ab")).coalesce(1)
    orig_write = ManifestTable._write_files
    fired = {"done": False}

    def hijack(self, df, subdir="data"):
        out = orig_write(self, df, subdir)
        if not fired["done"] and subdir == "data":
            fired["done"] = True
            # concurrent writer: a CLEAN overwrite lands (metadata
            # only — empty file list keeps the simulation cheap)
            self._publish(
                spark, "overwrite",
                lambda *_: ([], 0, {
                    "columns": ["ab", "id"],
                    "schema": mmod._schema_json(clean.schema),
                }),
            )
        return out

    monkeypatch.setattr(ManifestTable, "_write_files", hijack)
    with pytest.raises(ValueError, match="unsupported column name"):
        t.overwrite(t.read(spark, version=0))  # still carries 'a.b'
    monkeypatch.undo()
    # the racing writer's stage was cleaned up: only v0's data files
    # remain on disk
    on_disk = {p.name for p in (tmp_path / "mt" / "data").glob("*.parquet")}
    assert on_disk == set(files0)
    # and the clean concurrent overwrite is the live snapshot
    m = t._manifest(spark, t.current_version(spark))
    assert m["columns"] == ["ab", "id"]


def test_cas_conflict_cleans_up_staged_rewrite(spark, tmp_path, monkeypatch):
    """Routine ConcurrentWriteError on the CAS writers (compact under
    the streaming sink is the norm) must not orphan the staged
    rewrite as vacuum debt."""
    t = ManifestTable(str(tmp_path / "mt"))
    t.overwrite(_df(spark, 0, 20).coalesce(4))
    files_before = {
        p.name for p in (tmp_path / "mt" / "data").glob("*.parquet")
    }
    orig_write = ManifestTable._write_files
    fired = {"done": False}

    def hijack(self, df, subdir="data"):
        out = orig_write(self, df, subdir)
        if not fired["done"] and subdir == "data":
            fired["done"] = True
            self.append(_df(spark, 20, 25))  # concurrent commit
        return out

    monkeypatch.setattr(ManifestTable, "_write_files", hijack)
    from yc_yq_airflow_etl_spark.sources.manifest import ConcurrentWriteError

    with pytest.raises(ConcurrentWriteError):
        t.compact(spark, target_files=1)
    monkeypatch.undo()
    on_disk = {p.name for p in (tmp_path / "mt" / "data").glob("*.parquet")}
    live = set(t._manifest(spark, t.current_version(spark))["files"])
    assert live <= on_disk
    # nothing beyond the two commits' files: the rejected rewrite died
    assert on_disk == files_before | (live - files_before)
    assert t.read(spark).count() == 25


def test_spec_and_tests_in_lockstep():
    """docs/TABLE_FORMAT.md ⇄ this file: every spec invariant phrase
    still appears in the spec and every pinning test still exists
    (tools/spec_check.py holds the mapping). Rewording the spec or
    renaming a pinned test without updating the mapping fails here —
    the drift check the round-7 contract changes called for."""
    import os
    import sys

    tools = os.path.join(os.path.dirname(__file__), "..", "tools")
    sys.path.insert(0, tools)
    try:
        import spec_check

        assert spec_check.check() == []
    finally:
        sys.path.remove(tools)


def test_update_where_schemaless_snapshot_fails_loudly(spark, tmp_path):
    """A snapshot with no columns record, no schema record, and no
    files offers nothing to validate assignments against: update_where
    must raise (the old read()-based validation also raised here),
    never skip the unknown-column check and fall through to a silent
    no-op."""
    import json as _json

    t = ManifestTable(str(tmp_path / "mt"))
    t.overwrite(_df(spark, 0, 3))
    mp = tmp_path / "mt" / "_manifests" / "v0.json"
    m0 = _json.loads(mp.read_text())
    m0.pop("schema", None)
    m0.pop("columns", None)
    m0["files"] = []
    mp.write_text(_json.dumps(m0))
    crc = tmp_path / "mt" / "_manifests" / ".v0.json.crc"
    if crc.exists():
        crc.unlink()
    with pytest.raises(ValueError, match="cannot validate"):
        t.update_where(spark, "id = 0", {"nope": F.lit(1)})


def _backdate_days(path: str, days: float) -> None:
    """Clock injection for the TTL tests: like :func:`_backdate` but
    in DAYS — the stage-marker TTL is 7 d, far past the grace the
    seconds-based helper models."""
    _backdate(path, seconds=days * 86400.0)


def test_wap_marker_refresh_after_audit_restores_vacuum_protection(
    spark, table, monkeypatch
):
    """An audit that outlives the stage-marker TTL (clock-injected:
    marker + staged files backdated 8 d > the 7 d default) loses
    vacuum protection — but the publish REFRESHES the marker the
    moment the audit passes, so a vacuum running in the publish window
    sees a fresh marker and must not touch the stage; the publish then
    lands normally. Mutation-verified: with the refresh removed, the
    vacuum reclaims the expired marker and its files and the pre-put
    recheck refuses the publish (r15 verdict item 3)."""
    from pyspark.sql import functions as F

    from yc_yq_airflow_etl_spark.operators import expectations as _exp
    from yc_yq_airflow_etl_spark.operators.expectations import Rule

    table.overwrite(_df(spark, 0, 50))

    orig_audit = _exp.audit

    def age_the_audit(staged, rules):
        # the audit "took 8 days": everything staged so far — marker
        # and data files alike — is older than TTL and orphan grace
        for mf in os.listdir(os.path.join(table.path, "_stage")):
            _backdate_days(os.path.join(table.path, "_stage", mf), 8)
        v0_files = set(table._manifest(spark, 0)["files"])
        for f in os.listdir(os.path.join(table.path, "data")):
            if f not in v0_files:
                _backdate_days(os.path.join(table.path, "data", f), 8)
        return orig_audit(staged, rules)

    orig_pub = ManifestTable._publish

    def vacuum_then_publish(self, spark_, op, build, **kw):
        if op == "wap":
            # default TTL (7 d) and grace (1 h): the 8-day-old stage is
            # protected ONLY by the just-refreshed marker
            ManifestTable(self.path).vacuum(spark_, keep_versions=1)
        return orig_pub(self, spark_, op, build, **kw)

    monkeypatch.setattr(_exp, "audit", age_the_audit)
    monkeypatch.setattr(ManifestTable, "_publish", vacuum_then_publish)
    v, _report = table.write_audit_publish(
        _df(spark, 100, 150), [Rule("v_even", F.col("v") % 2 == 0)]
    )
    assert v is not None
    assert table.read(spark).count() == 100
    assert table._list_names(spark, "_stage") == []


def test_wap_preput_recheck_refuses_vacuumed_stage_loudly(
    spark, table, monkeypatch
):
    """The residual window, first half: a vacuum that scanned _stage/
    BEFORE the marker refresh deletes the TTL-expired stage after
    _file_stats but before the manifest put. The per-attempt pre-put
    recheck must refuse LOUDLY — no manifest referencing missing files
    is ever committed, the table and its version counter are
    untouched, no marker debris. Mutation-verified: with the recheck
    stripped the publish commits a torn manifest (the post-publish
    verify then heals, burning versions — this test's
    current_version==0 assertion goes red either way)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from yc_yq_airflow_etl_spark.operators.expectations import Rule

    table.overwrite(_df(spark, 0, 50))
    orig_pub = ManifestTable._publish

    def vacuum_won_the_window(self, spark_, op, build, **kw):
        if op == "wap":
            # simulate the pre-refresh-scan vacuum's delete loop
            # landing now: the staged data files vanish
            for f in kw["staged"]:
                os.remove(os.path.join(self.path, "data", f))
        return orig_pub(self, spark_, op, build, **kw)

    monkeypatch.setattr(ManifestTable, "_publish", vacuum_won_the_window)
    with _pytest.raises(FileNotFoundError, match="concurrent vacuum"):
        table.write_audit_publish(
            _df(spark, 100, 150), [Rule("v_even", F.col("v") % 2 == 0)]
        )
    assert table.current_version(spark) == 0
    assert table.read(spark).count() == 50
    assert table._list_names(spark, "_stage") == []


def test_wap_postput_vacuum_heals_and_batch_replay_lands(
    spark, table, monkeypatch
):
    """The residual window, second half: the vacuum's delete lands
    AFTER the manifest put (its candidate scan predates the commit) —
    the committed WAP manifest is a torn tombstone. Pinned properties:
    WapRacedVacuumError raised; the table HEALS to the newest
    materializable snapshot and stays readable; the healed commit
    carries the CANDIDATE's high-water mark, never the torn commit's,
    so a batch_id-keyed replay of the lost batch LANDS instead of
    being silently skipped (the silent-data-loss shape). Mutation-
    verified: with the post-publish verify removed, no error is raised
    and the live table read crashes on missing files."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from yc_yq_airflow_etl_spark.operators.expectations import Rule

    table.overwrite(_df(spark, 0, 50))  # v0, hwm -1
    orig_publish = ManifestTable._publish

    fired = []

    def put_then_vacuum_deletes(self, spark_, op, build, **kw):
        v = orig_publish(self, spark_, op, build, **kw)
        if op == "wap" and not fired:
            fired.append(True)
            m = self._manifest(spark_, v)
            v0_files = set(self._manifest(spark_, 0)["files"])
            for f in set(m["files"]) - v0_files:
                os.remove(os.path.join(self.path, "data", f))
        return v

    monkeypatch.setattr(ManifestTable, "_publish", put_then_vacuum_deletes)
    rules = [Rule("v_even", F.col("v") % 2 == 0)]
    with _pytest.raises(WapRacedVacuumError, match="healed"):
        table.write_audit_publish(_df(spark, 100, 150), rules, batch_id=7)
    assert fired
    # healed: live table readable with the BASE content
    assert table.read(spark).count() == 50
    # the torn version is refused descriptively, not silently partial
    assert table.last_batch_id(spark) == -1  # hwm rolled back with the data
    # the replay of the lost batch LANDS (no silent skip)
    monkeypatch.setattr(ManifestTable, "_publish", orig_publish)
    v2, _ = table.write_audit_publish(_df(spark, 100, 150), rules, batch_id=7)
    assert v2 is not None
    assert table.read(spark).count() == 100
    assert table.last_batch_id(spark) == 7


def test_compact_racing_delete_where_never_resurrects_rows(
    spark, table, monkeypatch
):
    """r15 verdict item 4: a compact whose rewrite was READ before a
    concurrent row-level delete landed must not resurrect the deleted
    rows. The compact's CAS refuses (ConcurrentWriteError) and
    the retry on the new base materializes the delete. Both delete
    modes stressed — merge-on-read is the dangerous shape: the
    compact's rewritten files physically CONTAIN the rows the DV
    killed. Mutation-verified: with compact's CAS stripped the
    pre-delete rewrite commits and ids < 20 come back from the dead
    (count 100, not 80)."""
    import pytest as _pytest

    from yc_yq_airflow_etl_spark.sources.manifest import ConcurrentWriteError

    orig_pub = ManifestTable._publish
    for mode in ("merge-on-read", "copy-on-write"):
        t = ManifestTable(f"{table.path}_cvd_{mode[:3]}")
        t.overwrite(_df(spark, 0, 100).repartition(4))  # v0, 4 files
        fired = []

        def delete_in_window(
            self, spark_, op, build, *, _t=t, _mode=mode, _fired=fired,
            **kw,
        ):
            if op == "compact" and not _fired:
                _fired.append(True)
                ManifestTable(_t.path).delete_where(
                    spark_, "id < 20", mode=_mode
                )
            return orig_pub(self, spark_, op, build, **kw)

        monkeypatch.setattr(ManifestTable, "_publish", delete_in_window)
        with _pytest.raises(ConcurrentWriteError, match="compact"):
            t.compact(spark, target_files=2)
        assert fired
        # the delete survived the torn compact attempt
        got = t.read(spark)
        assert got.count() == 80
        assert got.agg(F.min("id")).first()[0] == 20
        # retry on the new base: the rewrite materializes the delete —
        # same logical content, and (MOR) the DV debt is gone
        v2 = t.compact(spark, target_files=2)
        m2 = t._manifest(spark, v2)
        assert not m2.get("dvs")
        got2 = t.read(spark)
        assert got2.count() == 80
        assert got2.agg(F.sum("v")).first()[0] == sum(
            2 * i for i in range(20, 100)
        )
        monkeypatch.setattr(ManifestTable, "_publish", orig_pub)


def test_delete_where_racing_compact_refuses_and_lands_on_retry(
    spark, table, monkeypatch
):
    """The reverse interleaving: a delete computed against v0 while a
    compact lands first. The delete's CAS must refuse — a
    committed delete manifest would otherwise reference v0's
    pre-compact file list, silently undoing the compaction (and, once
    vacuum retires those files, bricking the table). The retry on the
    new base lands and (MOR) its DVs reference only files present in
    the current manifest."""
    import pytest as _pytest

    from yc_yq_airflow_etl_spark.sources.manifest import ConcurrentWriteError

    orig_pub = ManifestTable._publish
    for mode in ("merge-on-read", "copy-on-write"):
        t = ManifestTable(f"{table.path}_dvc_{mode[:3]}")
        t.overwrite(_df(spark, 0, 100).repartition(4))
        fired = []

        def compact_in_window(
            self, spark_, op, build, *, _t=t, _fired=fired, **kw,
        ):
            if op == "delete" and not _fired:
                _fired.append(True)
                ManifestTable(_t.path).compact(spark_, target_files=2)
            return orig_pub(self, spark_, op, build, **kw)

        monkeypatch.setattr(
            ManifestTable, "_publish", compact_in_window
        )
        with _pytest.raises(ConcurrentWriteError, match="delete"):
            t.delete_where(spark, "id < 20", mode=mode)
        assert fired
        # nothing deleted by the torn attempt; the compact stands
        assert t.read(spark).count() == 100
        # retry on the new base
        t.delete_where(spark, "id < 20", mode=mode)
        got = t.read(spark)
        assert got.count() == 80 and got.agg(F.min("id")).first()[0] == 20
        m = t._manifest(spark, t.current_version(spark))
        assert set(m.get("dvs", {})) <= set(m["files"])
        monkeypatch.setattr(ManifestTable, "_publish", orig_pub)


def test_wap_heal_skips_commits_stacked_on_the_torn_snapshot(
    spark, table, monkeypatch
):
    """The deepest WAP-raced-vacuum interleaving: after the torn WAP
    commit (staged files vacuumed post-put) a concurrent APPEND lands
    on top of it — the append's manifest carries the torn commit's
    vanished files plus its own. The heal must skip BOTH unmaterializable
    snapshots, re-publish the pre-WAP base, and the rolled-back
    append's rows are reported gone by the loud error, not silently
    half-readable. (Same roll-back-to-materializable contract as
    restore's heal; the append's own files survive on disk for manual
    recovery until vacuumed.) The materializability guard is layered —
    the candidate-loop filter AND the heal build's pre-put recheck;
    mutation-verified red with BOTH stripped (stripping only the loop
    filter is absorbed by the recheck, by design)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from yc_yq_airflow_etl_spark.operators.expectations import Rule

    table.overwrite(_df(spark, 0, 50))  # v0 — the only materializable base
    orig_publish = ManifestTable._publish
    fired = []

    def put_stack_then_vacuum(self, spark_, op, build, **kw):
        v = orig_publish(self, spark_, op, build, **kw)
        if op == "wap" and not fired:
            fired.append(True)
            m = self._manifest(spark_, v)
            # a concurrent append stacks on the torn WAP commit BEFORE
            # anyone notices (it sees a fully-present table — the
            # vacuum hasn't hit yet)
            ManifestTable(self.path).append(_df(spark_, 500, 510))
            # now the TTL-blind vacuum's delete loop lands: the WAP's
            # staged files vanish, tearing BOTH stacked snapshots
            v0_files = set(self._manifest(spark_, 0)["files"])
            for f in set(m["files"]) - v0_files:
                os.remove(os.path.join(self.path, "data", f))
        return v

    monkeypatch.setattr(ManifestTable, "_publish", put_stack_then_vacuum)
    with _pytest.raises(WapRacedVacuumError, match="healed"):
        table.write_audit_publish(
            _df(spark, 100, 150), [Rule("v_even", F.col("v") % 2 == 0)]
        )
    assert fired
    monkeypatch.setattr(ManifestTable, "_publish", orig_publish)
    # healed to the pre-WAP base: both the torn WAP rows AND the
    # stacked append's rows are rolled back, loudly
    got = table.read(spark)
    assert got.count() == 50
    assert got.agg(F.max("id")).first()[0] == 49
    # the table keeps working: a fresh append lands on the healed tip
    table.append(_df(spark, 500, 510))
    assert table.read(spark).count() == 60


def test_nan_stat_bound_never_prunes_in_range_rows(spark, tmp_path):
    """r15 degenerate-input sweep, the read-path silent-row-loss
    shape: Spark's max() records NaN as a file's upper bound whenever
    ANY value is NaN (NaN orders above every double), but pruned_files
    compared bounds in PYTHON, where nan >= lo is falsy — one NaN in a
    stat column pruned a file full of in-range rows out of read_where
    entirely (reproduced: a [5.0, NaN] file returned ZERO rows for the
    probe [4, 8]). A NaN bound is an unusable proof on that side and
    the file must be kept. All-real files still prune. Mutation-
    verified: without the NaN guard this returns no rows."""
    nan = float("nan")
    t = ManifestTable(str(tmp_path / "nanstats"), stat_cols=("x",))
    # file A: real values + one NaN (max records NaN)
    t.overwrite(
        spark.createDataFrame(
            [(1, 5.0), (2, nan), (3, 7.0)], "id long, x double"
        ).coalesce(1)
    )
    # file B: all-real out-of-range values — must still prune
    t.append(
        spark.createDataFrame(
            [(4, 100.0), (5, 200.0)], "id long, x double"
        ).coalesce(1)
    )
    kept = t.pruned_files(spark, "x", 4.0, 8.0)
    assert len(kept) == 1  # the NaN-bounded file kept, the 100s pruned
    got = sorted(r.id for r in t.read_where(spark, "x", 4.0, 8.0).collect())
    # Spark range semantics exclude the NaN row itself (NaN > 8.0)
    assert got == [1, 3]


def test_bucket_sets_exclude_null_rows_and_null_probe_guided(
    spark, tmp_path
):
    """r16 degenerate sweep, bucketing NULL-probe semantics:
    xxhash64(NULL) is the SEED (42), not NULL — so a NULL row used to
    record phantom bucket pmod(42, n) in its file's bucket set. An
    only-null file then carried a NON-empty set (contradicting the
    code's own 'empty set is valid metadata' claim), and every file
    containing any NULL was unprunable for 1/n of all equality probes
    (the phantom bucket proves nothing: no probe value equals NULL).
    Now NULL rows are excluded commit-side; an equality probe with
    None refuses with a pointer at the IS NULL machinery; and a NaN
    probe on a double bucket column is CONSISTENT end-to-end
    (float→double NaN hashes identically; Spark's `=` treats
    NaN = NaN as true, so the rows are found)."""
    mt = ManifestTable(str(tmp_path / "mbn"), bucket_cols=(("x", 8),))
    # file 0: only NULLs; file 1: value 5 plus a NULL; file 2: value 7
    mt.overwrite(
        spark.createDataFrame([(None, 1), (None, 2)], "x double, v int")
        .coalesce(1)
    )
    mt.append(
        spark.createDataFrame([(5.0, 3), (None, 4)], "x double, v int")
        .coalesce(1)
    )
    mt.append(spark.createDataFrame([(7.0, 5)], "x double, v int").coalesce(1))
    m = mt._manifest(spark, mt.current_version(spark))
    sets = {f: m["stats"][f]["bucket:x"] for f in m["files"]}
    only_null = [s for s in sets.values() if s == []]
    assert len(only_null) == 1, (
        f"the only-null file must record an EMPTY bucket set, got {sets}"
    )
    assert all(len(s) <= 1 for s in sets.values()), (
        f"NULL rows must not add phantom buckets: {sets}"
    )
    # the only-null file is pruned for EVERY equality probe; the
    # exact read still answers right
    kept = mt.pruned_files_eq(spark, "x", 5.0)
    assert len(kept) <= 2
    got = mt.read_where_eq(spark, "x", 5.0).collect()
    assert [(r.x, r.v) for r in got] == [(5.0, 3)]
    # NULL probe: loud, with the IS NULL pointer
    with pytest.raises(ValueError, match="read_where_null"):
        mt.read_where_eq(spark, "x", None)
    with pytest.raises(ValueError, match="read_where_null"):
        mt.pruned_files_eq(spark, "x", None)
    # NaN probe: consistent bucket both sides, rows found
    mt.append(
        spark.createDataFrame([(float("nan"), 6)], "x double, v int")
        .coalesce(1)
    )
    got = mt.read_where_eq(spark, "x", float("nan")).collect()
    assert [r.v for r in got] == [6]
    nan_kept = mt.pruned_files_eq(spark, "x", float("nan"))
    assert len(nan_kept) == 1  # only the NaN file's bucket matches


def _row_change_fixture(spark, path):
    """20,000 rows in 8 range-disjoint files, ``k`` stat-tracked."""
    t = ManifestTable(path, stat_cols=("k",))
    t.overwrite(
        spark.range(0, 20_000, numPartitions=8).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
    )
    return t


def _run_row_change(spark, t, op, mode, rejected=False):
    if op == "merge":
        ups = spark.range(19_500, 20_500).select(
            F.col("id").alias("k"), F.lit(-1).cast("bigint").alias("v")
        )
        if rejected:  # duplicate keys
            ups = ups.unionByName(ups.limit(1))
        return t.merge(ups, "k", mode=mode)
    if op == "delete_where":
        pred = "nope % 50 = 0" if rejected else "k % 50 = 0"
        return t.delete_where(spark, pred, mode=mode)
    assignment = "v * 0.5" if rejected else "v + 1"  # double drifts
    return t.update_where(spark, "k % 50 = 0", {"v": assignment}, mode=mode)


# Per-call job ceilings on this fixture, measured when the ceilings
# were set: a change may lower a count, never raise it.
_ROW_CHANGE_JOB_CEILING = {
    ("merge", "copy-on-write"): 6,
    ("merge", "merge-on-read"): 10,
    ("delete_where", "copy-on-write"): 3,
    ("delete_where", "merge-on-read"): 4,
    ("update_where", "copy-on-write"): 3,
    ("update_where", "merge-on-read"): 5,
}


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
@pytest.mark.parametrize("op", ["merge", "delete_where", "update_where"])
def test_row_change_frees_materializations_and_keeps_job_budget(
    spark, tmp_path, op, mode
):
    """Every row-level change, in either mode, frees what it
    materialized before returning — after a commit and after a
    rejected call — and runs no more Spark jobs than the ceiling."""
    t = _row_change_fixture(spark, str(tmp_path / "t"))
    sc = spark.sparkContext
    before = persisted_rdd_ids(spark)
    with pytest.raises(Exception):
        _run_row_change(spark, t, op, mode, rejected=True)
    assert persisted_rdd_ids(spark) == before
    assert t.current_version(spark) == 0

    group = f"row_change_{op}_{mode}"
    sc.setJobGroup(group, group)
    try:
        v = _run_row_change(spark, t, op, mode)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("", "")
    assert v == 1
    assert persisted_rdd_ids(spark) == before
    assert jobs <= _ROW_CHANGE_JOB_CEILING[(op, mode)], jobs
    want = {
        "merge": 20_500,
        "delete_where": 20_000 - 400,
        "update_where": 20_000,
    }[op]
    assert t._manifest(spark, v)["rows"] == want
    assert t.read(spark).count() == want


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_update_where_conflicts_with_commit_after_validation(
    spark, tmp_path, monkeypatch, mode
):
    """update_where validates its assignments against the snapshot it
    resolves first; a commit landing right after that resolution must
    end the update in ConcurrentWriteError — never a silent update of
    the newer snapshot the validation did not see."""
    from yc_yq_airflow_etl_spark.sources.manifest import ConcurrentWriteError

    t = ManifestTable(str(tmp_path / "t"), stat_cols=("id",))
    t.overwrite(_ranged(spark, 0, 20))
    orig = ManifestTable.current_version
    state = {"armed": True}

    def resolve_then_commit(self, spark_):
        v = orig(self, spark_)
        if state["armed"]:
            state["armed"] = False
            self.append(_ranged(spark, 20, 30))  # lands after the pin
        return v

    monkeypatch.setattr(ManifestTable, "current_version", resolve_then_commit)
    with pytest.raises(ConcurrentWriteError):
        t.update_where(spark, "id < 5", {"v": "v + 1"}, mode=mode)
    monkeypatch.undo()
    assert t.current_version(spark) == 1
    got = {r.id: r.v for r in t.read(spark).collect()}
    assert len(got) == 30 and got[0] == 0  # the update never landed


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_cdc_batch_changing_no_row_still_commits_once(spark, tmp_path, mode):
    """A CDC batch whose net effect changes no row (here: deleting a
    key the table never held) still lands exactly one commit — the
    one recording its batch id — so a replay of it is skipped; a
    second apply of the same batch id commits nothing."""
    from yc_yq_airflow_etl_spark.streaming.manifest_sink import apply_cdc_batch

    mt = ManifestTable(str(tmp_path / "t"), stat_cols=("id",))
    mt.overwrite(_df(spark, 0, 6).coalesce(1))
    batch = spark.createDataFrame(
        [(9, 0, 0, "D")], "id long, v long, seq long, op string"
    )
    assert apply_cdc_batch(mt, batch, 3, "id", "seq", mode=mode) is True
    assert mt.current_version(spark) == 1
    m = mt._manifest(spark, 1)
    assert m["last_batch_id"] == 3 and m["rows"] == 6
    assert m["files"] == mt._manifest(spark, 0)["files"]
    assert apply_cdc_batch(mt, batch, 3, "id", "seq", mode=mode) is False
    assert mt.current_version(spark) == 1
    assert sorted(r.id for r in mt.read(spark).collect()) == list(range(6))


# -- footer stats (``_file_stats`` without a Spark pass) ---------------------

_NAN, _BIG = float("nan"), "b" * 5000  # over parquet-mr's 4 KiB bound cap


@pytest.mark.parametrize(
    "schema, rows, footer_answers",
    [
        ("x tinyint", [(-128,), (127,), (None,), (3,)], True),
        ("x smallint", [(-32768,), (32767,), (None,)], True),
        ("x int", [(-(2**31),), (2**31 - 1,), (None,)], True),
        ("x bigint", [(-(2**63),), (2**63 - 1,), (None,)], True),
        ("x float", [(0.1,), (-2.5,), (None,), (3.25e38,)], True),
        ("x double", [(0.1,), (-1e300,), (None,), (5e-324,)], True),
        ("x string", [("Z",), ("é",), ("\uffff",), ("\U0001f600",)], True),
        ("x double, s string", [(None, None), (None, None)], True),
        ("x float", [(1.5,), (_NAN,)], False),
        ("x double", [(1.5,), (_NAN,), (None,)], False),
        ("x float", [(-0.0,), (0.0,), (2.0,)], False),
        ("x double", [(1.0,), (0.0,), (-0.0,)], False),
        ("x string", [("a",), (_BIG,)], False),
    ],
    ids=[
        "tinyint", "smallint", "int", "bigint", "float", "double",
        "non-ascii-string", "null-only", "float-nan", "double-nan",
        "float-signed-zeros", "double-signed-zeros", "string-over-4k",
    ],
)
def test_footer_stats_match_the_spark_pass(
    spark, tmp_path, schema, rows, footer_answers
):
    """Every recorded stats entry is byte-identical to the Spark pass's
    (the route it replaces). Where the footer cannot give that exact
    answer — NaN, a zero of either sign, a bound parquet-mr omitted —
    the footer route declines and the entry is the Spark pass's."""
    import json as _json

    cols = tuple(f.split()[0] for f in schema.split(", "))
    t = ManifestTable(str(tmp_path / "t"), stat_cols=cols)
    t.overwrite(spark.createDataFrame(rows, schema).coalesce(1))
    m = t._manifest(spark, 0)
    (f,) = m["files"]
    scanned = t._scanned_stats(spark, [f])
    footer = t._footer_stats(t._footer_reader(spark)(f), None)
    assert (footer is not None) is footer_answers
    if footer_answers:
        assert _json.dumps(footer) == _json.dumps(scanned[f])
    assert _json.dumps(m["stats"]) == _json.dumps(scanned)


def test_footer_stats_merge_row_groups_and_skip_empty_files(spark, tmp_path):
    """Row counts, null counts and bounds merge across row groups
    exactly as one Spark pass over the file computes them; a file
    with no rows records no entry on either route; a string bound the
    writer may have truncated sends the file to the Spark pass."""
    import json as _json

    import pyarrow.parquet as pq

    t = ManifestTable(str(tmp_path / "rg"), stat_cols=("id", "s"))
    spark.conf.set("parquet.block.size", "4096")
    try:
        t.overwrite(
            spark.range(0, 20_000, numPartitions=1).select(
                ((F.col("id") * 7919) % 20_000 - 5_000).alias("id"),
                F.when(F.col("id") % 7 != 0, F.concat(F.lit("k"), F.col("id")))
                .alias("s"),
            )
        )
    finally:
        spark.conf.unset("parquet.block.size")
    (f,) = t._manifest(spark, 0)["files"]
    assert pq.ParquetFile(f"{t.path}/data/{f}").num_row_groups > 1
    footer = t._footer_stats(t._footer_reader(spark)(f), None)
    assert _json.dumps(footer) == _json.dumps(t._scanned_stats(spark, [f])[f])

    e = ManifestTable(str(tmp_path / "empty"), stat_cols=("id",))
    e.overwrite(spark.createDataFrame([], "id long"))
    (f,) = e._manifest(spark, 0)["files"]
    assert e._footer_stats(e._footer_reader(spark)(f), None) == {}
    assert e._scanned_stats(spark, [f]) == {}
    assert "stats" not in e._manifest(spark, 0)

    s = ManifestTable(str(tmp_path / "trunc"), stat_cols=("s",))
    spark.conf.set("parquet.statistics.truncate.length", "4")
    try:
        s.overwrite(
            spark.createDataFrame([("abcdefgh",), ("zzzzzzzz",)], "s string")
            .coalesce(1)
        )
    finally:
        spark.conf.unset("parquet.statistics.truncate.length")
    (f,) = s._manifest(spark, 0)["files"]
    assert s._footer_stats(s._footer_reader(spark)(f), 4) is None
    assert s._manifest(spark, 0)["stats"][f]["s"] == ["abcdefgh", "zzzzzzzz"]


# -- merge-on-read CDC apply: one validation, per-key candidates ------------


def _cdc_batch(spark, b):
    """~1,000 changes on a 20,000-key table: 400 keys updated twice,
    100 deleted, 100 inserted."""
    return (
        spark.range(400)
        .select(((F.col("id") * 37 + b) % 20_000).alias("id"))
        .crossJoin(spark.range(1, 3).withColumnRenamed("id", "seq"))
        .select("id", (F.col("id") * b).alias("v"), "seq", F.lit("U").alias("op"))
        .unionByName(
            spark.range(100).select(
                (F.col("id") * 29 + 15_000 + b).alias("id"),
                F.lit(0).cast("long").alias("v"),
                F.lit(1).cast("long").alias("seq"),
                F.lit("D").alias("op"),
            )
        )
        .unionByName(
            spark.range(100).select(
                (F.col("id") + 20_000 + 100 * b).alias("id"),
                F.col("id").alias("v"),
                F.lit(1).cast("long").alias("seq"),
                F.lit("I").alias("op"),
            )
        )
    )


def test_cdc_merge_on_read_batch_job_budget(spark, tmp_path):
    """One merge-on-read ``apply_cdc_batch``, its collapse included,
    runs at most 12 Spark jobs — also once deletion vectors exist —
    and leaves the persisted-RDD set as it found it."""
    from yc_yq_airflow_etl_spark.streaming.manifest_sink import apply_cdc_batch

    t = ManifestTable(str(tmp_path / "t"), stat_cols=("id",))
    t.overwrite(_df(spark, 0, 20_000).repartition(8))
    sc = spark.sparkContext
    before = persisted_rdd_ids(spark)
    for b in (1, 2):
        group = f"cdc_mor_batch_{b}"
        sc.setJobGroup(group, group)
        try:
            assert apply_cdc_batch(
                t, _cdc_batch(spark, b), b, "id", "seq", mode="merge-on-read"
            )
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setJobGroup("", "")
        assert jobs <= 12, (b, jobs)
        assert persisted_rdd_ids(spark) == before
    assert t.read(spark).count() == 20_000  # 200 deleted, 200 inserted


def _python_stages(spark, group) -> list[int]:
    """The group's stages whose RDD lineage holds a ``PythonRDD`` (a
    stage that runs Python workers), from each stage's operation graph
    in the status store."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    dot = sc._jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile
    return [
        s
        for j in sc.statusTracker().getJobIdsForGroup(group)
        for s in sc.statusTracker().getJobInfo(j).stageIds
        if "PythonRDD" in dot(store.operationGraphForStage(s))
    ]


def test_cdc_and_merge_run_no_python_worker_stage(spark, tmp_path):
    """A merge-on-read ``apply_cdc_batch`` and a copy-on-write ``merge``
    on the 20,000-row, 8-file table run no stage with a ``PythonRDD``:
    the probe's file-stats frame is decoded in the JVM."""
    from yc_yq_airflow_etl_spark.streaming.manifest_sink import apply_cdc_batch

    sc = spark.sparkContext

    def python_stages(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setJobGroup("", "")
        return _python_stages(spark, group)

    # the check sees a Python stage when there is one
    assert python_stages(
        "py_stage_control",
        lambda: spark.createDataFrame([(1,)], "x int").count(),
    )
    t = ManifestTable(str(tmp_path / "t"), stat_cols=("id",))
    t.overwrite(_df(spark, 0, 20_000).repartition(8))
    assert python_stages(
        "py_stage_mor_cdc",
        lambda: apply_cdc_batch(
            t, _cdc_batch(spark, 1), 1, "id", "seq", mode="merge-on-read"
        ),
    ) == []
    assert python_stages(
        "py_stage_cow_merge", lambda: t.merge(_df(spark, 19_500, 20_500), "id")
    ) == []
    # the batch deletes 100 keys and inserts 20,100..20,199; the merge
    # inserts the 400 keys of 20,000..20,499 not yet present
    assert t.read(spark).count() == 20_400


def _with_synthetic_files(spark, t, entries):
    """Re-publish ``t``'s latest manifest in place with extra files
    that have recorded stats but no bytes on disk: any scan of one
    fails loudly."""
    import json as _json

    v = t.current_version(spark)
    m = t._manifest(spark, v)
    for i, stats in enumerate(entries):
        name = f"synth_{i:02d}.parquet"
        m["files"].append(name)
        m["stats"][name] = {"rows:": 10, **stats}
        m["rows"] = int(m["rows"]) + 10
    with open(f"{t.path}/_manifests/v{v}.json", "w") as fh:
        _json.dump(m, fh)
    crc = f"{t.path}/_manifests/.v{v}.json.crc"
    if os.path.exists(crc):
        os.remove(crc)


@pytest.mark.parametrize("proof", ["range", "bucket"])
def test_cdc_merge_on_read_scans_only_candidate_files(spark, tmp_path, proof):
    """The merge-on-read CDC path still skips files from metadata, key
    by key: the batch updates and deletes old keys of 1 of 8 files and
    inserts new keys, one above every file, so its overall [min, max]
    covers all 8 — yet by disjoint recorded ranges, or by disjoint
    bucket sets under ranges that cover every old key, the other 7
    (stats but no bytes, so a scan of one fails) are never read."""
    from yc_yq_airflow_etl_spark.streaming.manifest_sink import apply_cdc_batch

    buckets = 64
    t = ManifestTable(
        str(tmp_path / "t"),
        stat_cols=("id",),
        bucket_cols=(("id", buckets),) if proof == "bucket" else (),
    )
    t.overwrite(_ranged(spark, 0, 100))
    changes = [
        (3, 30, 1, "U"), (5, 0, 1, "D"), (150, 1, 1, "I"), (50_000, 2, 1, "I"),
    ]
    if proof == "range":
        synth = [
            {"id": [i * 1000, i * 1000 + 999], "nulls:id": 0}
            for i in range(1, 8)
        ]
    else:
        hit = {t.bucket_of(spark, "id", k) for k, *_ in changes}
        other = sorted(set(range(buckets)) - hit)
        synth = [
            {"id": [0, 1000], "nulls:id": 0, "bucket:id": other[i::7]}
            for i in range(7)
        ]
    _with_synthetic_files(spark, t, synth)
    batch = spark.createDataFrame(
        changes, "id long, v long, seq long, op string"
    )
    v = apply_cdc_batch(t, batch, 1, "id", "seq", mode="merge-on-read")
    assert v
    m = t._manifest(spark, t.current_version(spark))
    assert m["rows"] == 100 + 70 + 1  # one delete, two inserts
    assert {f: e["rows"] for f, e in m["dvs"].items()} == {
        m["files"][0]: 2  # the update's old row and the delete
    }


_cdc_changes = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=0, max_value=60)),
        st.sampled_from(["U", "D"]),
    ),
    min_size=1,
    max_size=12,
    unique_by=lambda c: c[0],
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(changes=_cdc_changes)
def test_cdc_candidates_cover_every_file_holding_a_match(
    spark, tmp_path_factory, monkeypatch, changes
):
    """The probe-chosen candidates of a merge-on-read CDC batch are
    a superset of the files that actually hold one of its keys (range
    and bucket proofs both active), and the applied table equals the
    replayed model."""
    from yc_yq_airflow_etl_spark.streaming.manifest_sink import apply_cdc_batch

    path = str(tmp_path_factory.mktemp("cand") / "t")
    t = ManifestTable(path, stat_cols=("id",), bucket_cols=(("id", 4),))
    t.overwrite(_ranged(spark, 0, 15))
    for lo in (15, 30, 45):
        t.append(_ranged(spark, lo, lo + 15))
    base = t._manifest(spark, t.current_version(spark))
    picked: list = []
    orig = ManifestTable._merge_probe

    def spy(self, *args, **kwargs):
        picked.append(orig(self, *args, **kwargs))
        return picked[-1]

    monkeypatch.setattr(ManifestTable, "_merge_probe", spy)
    batch = spark.createDataFrame(
        [(k, 7, 1, op) for k, op in changes],
        "id long, v long, seq long, op string",
    )
    assert apply_cdc_batch(t, batch, 1, "id", "seq", mode="merge-on-read")
    monkeypatch.undo()
    keys = {k for k, _ in changes if k is not None}
    holding = {
        r.f
        for r in spark.read.parquet(
            *[f"{path}/data/{f}" for f in base["files"]]
        )
        .select(F.col("_metadata.file_name").alias("f"), "id")
        .filter(F.col("id").isin(list(keys) or [-1]))
        .collect()
    }
    assert len(picked) == 1 and holding <= set(picked[0])
    model = {i: 2 * i for i in range(60)}
    for k, op in changes:
        if op == "D":
            model.pop(k, None)
        elif k is not None:
            model[k] = 7
    got = {r.id: r.v for r in t.read(spark).collect() if r.id is not None}
    assert got == model
