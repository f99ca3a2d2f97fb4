"""Unit tests for the custom join operators (range/as-of) — SURVEY.md
§2.12 'range / as-of / interval joins: ext'."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from conftest import persisted_rdd_ids

from yc_yq_airflow_etl_spark.operators import asof_join, range_join


def test_range_join_point_in_interval(spark):
    events = spark.createDataFrame(
        [(1, 5), (2, 15), (3, 25), (4, 35)], "id int, point int"
    )
    intervals = spark.createDataFrame(
        [("a", 0, 10), ("b", 10, 30)], "name string, lo int, hi int"
    )
    out = range_join(events, intervals, "point", "lo", "hi").select("id", "name")
    assert {(r.id, r.name) for r in out.collect()} == {
        (1, "a"),
        (2, "b"),
        (3, "b"),
    }


def test_range_join_left_outer_keeps_unmatched(spark):
    events = spark.createDataFrame([(1, 5), (2, 99)], "id int, point int")
    intervals = spark.createDataFrame([("a", 0, 10)], "name string, lo int, hi int")
    out = range_join(events, intervals, "point", "lo", "hi", how="left").collect()
    assert {(r.id, r.name) for r in out} == {(1, "a"), (2, None)}


def _ts(s: str) -> datetime:
    return datetime.strptime(s, "%Y-%m-%d %H:%M")


def test_asof_join_latest_quote_per_trade(spark):
    trades = spark.createDataFrame(
        [
            ("A", _ts("2024-01-01 10:00"), 100.0),
            ("A", _ts("2024-01-01 10:05"), 101.0),
            ("B", _ts("2024-01-01 10:03"), 200.0),
            ("B", _ts("2024-01-01 09:00"), 199.0),  # before any quote
        ],
        "sym string, ts timestamp, trade_px double",
    )
    quotes = spark.createDataFrame(
        [
            ("A", _ts("2024-01-01 09:59"), 99.5),
            ("A", _ts("2024-01-01 10:04"), 100.5),
            ("B", _ts("2024-01-01 10:00"), 198.5),
        ],
        "sym string, ts timestamp, quote_px double",
    )
    out = asof_join(trades, quotes, on_time="ts", by=["sym"])
    got = {(r.sym, r.trade_px): r.r_quote_px for r in out.collect()}
    assert got == {
        ("A", 100.0): 99.5,
        ("A", 101.0): 100.5,
        ("B", 200.0): 198.5,
        ("B", 199.0): None,
    }


def test_asof_join_equal_timestamps_match(spark):
    """A right row at exactly the left time IS eligible (<= semantics)."""
    left = spark.createDataFrame(
        [("A", _ts("2024-01-01 10:00"), 1.0)], "sym string, ts timestamp, x double"
    )
    right = spark.createDataFrame(
        [("A", _ts("2024-01-01 10:00"), 7.0)], "sym string, ts timestamp, y double"
    )
    out = asof_join(left, right, on_time="ts", by=["sym"]).collect()
    assert out[0].r_y == 7.0


def test_asof_join_null_times_never_match(spark):
    """A right row with a NULL time can never satisfy the <= as-of
    condition — before the r13 fix it SORTED FIRST in the carry window
    (asc puts NULLs first) and was emitted as the 'match' (payload with
    a NULL matched time) for every left row with no real earlier right
    row, in BOTH formulations. A NULL-time left row keeps NULL payload
    (left-outer)."""
    left = spark.createDataFrame(
        [
            ("A", _ts("2024-01-01 09:00"), 1.0),  # before any real quote
            ("A", _ts("2024-01-01 10:05"), 2.0),  # after the real quote
            ("A", None, 3.0),  # NULL left time: matches nothing
        ],
        "sym string, ts timestamp, x double",
    )
    right = spark.createDataFrame(
        [
            ("A", None, 666.0),  # NULL right time: must never match
            ("A", _ts("2024-01-01 10:00"), 7.0),
        ],
        "sym string, ts timestamp, y double",
    )
    for kw in ({}, {"bucket_width": 3600.0}):
        got = {
            r.x: (r.r_y, r.r_ts)
            for r in asof_join(
                left, right, on_time="ts", by=["sym"], **kw
            ).collect()
        }
        assert got[1.0] == (None, None), kw  # not the NULL-time payload
        assert got[2.0][0] == 7.0, kw  # the real quote still matches
        assert got[3.0] == (None, None), kw  # NULL left: no match


def test_asof_join_tolerance(spark):
    left = spark.createDataFrame(
        [("A", _ts("2024-01-01 10:00"), 1.0)], "sym string, ts timestamp, x double"
    )
    right = spark.createDataFrame(
        [("A", _ts("2024-01-01 08:00"), 7.0)], "sym string, ts timestamp, y double"
    )
    wide = asof_join(left, right, on_time="ts", by=["sym"], tolerance="3 HOURS")
    assert wide.collect()[0].r_y == 7.0
    narrow = asof_join(left, right, on_time="ts", by=["sym"], tolerance="30 MINUTES")
    assert narrow.collect()[0].r_y is None


def _skewed_asof_fixture(spark, seed: int = 7):
    """One pathological hot key (most of the rows) plus normal keys.
    Right timestamps are unique per key — the regime where the plain
    and bucketed formulations are defined to agree exactly."""
    import random

    rng = random.Random(seed)
    lrows, rrows = [], []
    for sym, n_l, n_r in [("HOT", 400, 250), ("a", 12, 9), ("b", 7, 0), ("c", 0, 5)]:
        # unique right times per key: sample without replacement
        r_times = rng.sample(range(0, 500_000), n_r)
        for i, t in enumerate(r_times):
            rrows.append((sym, t, float(i)))
        for i in range(n_l):
            # left times may collide with right times (<= boundary) and
            # with each other
            lrows.append((sym, rng.randrange(0, 500_000), i))
    left = spark.createDataFrame(lrows, "sym string, t long, lid long")
    right = spark.createDataFrame(rrows, "sym string, t long, payload double")
    return left, right


def test_asof_join_bucketed_matches_plain_on_skew(spark):
    """Property: the two-phase bucketed formulation produces exactly
    the plain single-window formulation's rows on a skewed fixture —
    including bucket widths that are tiny (many empty buckets between
    matches, carry must hop them) and huge (whole key in one bucket)."""
    left, right = _skewed_asof_fixture(spark)
    expected = {
        (r.sym, r.lid): (r.r_payload, r.r_t)
        for r in asof_join(left, right, on_time="t", by=["sym"]).collect()
    }
    assert expected  # fixture sanity
    for width in (1_000.0, 50_000.0, 10_000_000.0):
        got = {
            (r.sym, r.lid): (r.r_payload, r.r_t)
            for r in asof_join(
                left, right, on_time="t", by=["sym"], bucket_width=width
            ).collect()
        }
        assert got == expected, f"bucket_width={width}"


def test_asof_join_bucketed_boundary(spark):
    """A right row exactly on a bucket boundary (t=600, width=600)
    must match a left row at the same instant (<= semantics) and
    carry into later buckets."""
    left = spark.createDataFrame(
        [("A", 600, 1), ("A", 1200, 2), ("A", 599, 3)],
        "sym string, t long, lid int",
    )
    right = spark.createDataFrame([("A", 600, 9.0)], "sym string, t long, y double")
    out = asof_join(left, right, on_time="t", by=["sym"], bucket_width=600.0)
    got = {r.lid: r.r_y for r in out.collect()}
    assert got == {1: 9.0, 2: 9.0, 3: None}


def test_asof_join_bucketed_tolerance(spark):
    """INTERVAL tolerance filtering survives the bucketed path, even
    when the carry crosses many empty buckets."""
    left = spark.createDataFrame(
        [("A", _ts("2024-01-01 10:00"), 1.0)], "sym string, ts timestamp, x double"
    )
    right = spark.createDataFrame(
        [("A", _ts("2024-01-01 08:00"), 7.0)], "sym string, ts timestamp, y double"
    )
    wide = asof_join(
        left, right, on_time="ts", by=["sym"], tolerance="3 HOURS",
        bucket_width=600.0,
    )
    assert wide.collect()[0].r_y == 7.0
    narrow = asof_join(
        left, right, on_time="ts", by=["sym"], tolerance="30 MINUTES",
        bucket_width=600.0,
    )
    assert narrow.collect()[0].r_y is None


def test_interval_overlap_join_matches_naive(spark, testdata):
    """Bucket-equi interval-overlap join must produce exactly the
    naive non-equi join's pairs (including multi-bucket spanners,
    which the emit-once guard must not duplicate)."""
    from yc_yq_airflow_etl_spark.operators.joins import interval_overlap_join

    ev = testdata["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.unix_timestamp("ts").alias("c_lo"),
        (F.unix_timestamp("ts") + 1500).alias("c_hi"),  # spans >2 buckets
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.unix_timestamp("ts").alias("p_lo"),
        (F.unix_timestamp("ts") + 300).alias("p_hi"),
    )
    naive = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("c_lo") < F.col("p_hi"))
        & (F.col("p_lo") < F.col("c_hi")),
    )
    expected = {(r.click_id, r.purchase_id) for r in naive.collect()}

    got_df = interval_overlap_join(
        clicks,
        purchases.withColumnRenamed("p_user", "user_id"),
        "c_lo", "c_hi", "p_lo", "p_hi",
        on=["user_id"], bucket_width=600,
    )
    got = [(r.click_id, r.purchase_id) for r in got_df.collect()]
    assert len(got) == len(set(got))  # emit-once really deduplicates
    assert set(got) == expected and expected


def test_exclusion_join_strategies_agree_under_hot_keys(spark):
    """Duplicate-heavy keys (10⁴ dups): the union-strategy window path,
    the anti-join path, and the single-shuffle count must all agree —
    including multiplicity of an unmatched hot key's rows."""
    from yc_yq_airflow_etl_spark.operators.joins import (
        exclusion_diff_count,
        exclusion_join,
    )

    hot_both_l = spark.range(10_000).selectExpr("cast(1 as long) k", "id v")
    hot_both_r = spark.range(10_000).selectExpr(
        "cast(1 as long) k", "id + 500000 v"
    )
    hot_left_only = spark.range(10_000).selectExpr("cast(4 as long) k", "id v")
    left = hot_both_l.union(hot_left_only).union(
        spark.range(3).selectExpr("cast(2 as long) k", "id v")
    )
    right = hot_both_r.union(
        spark.range(2).selectExpr("cast(3 as long) k", "id v")
    )

    u = sorted(map(tuple, exclusion_join(left, right, ["k"]).collect()))
    a = sorted(
        map(tuple, exclusion_join(left, right, ["k"], strategy="anti").collect())
    )
    assert u == a
    # key 1 matched (drops entirely); key 4 ×10⁴ + key 2 ×3 + key 3 ×2 stay
    assert len(u) == 10_005
    assert exclusion_diff_count(left, right, ["k"]) == 10_005


def test_exclusion_diff_count_two_jobs_nothing_persisted(spark):
    """The count is one grouped shuffle (map job) plus one result job
    carrying the observed sum — the NULL-keyed rows ride the same
    aggregate instead of a scan per side, and the global sum adds no
    second exchange. Nothing stays persisted, on success or when a
    key column is missing."""
    import pytest as _pytest
    from pyspark.errors import AnalysisException

    from yc_yq_airflow_etl_spark.operators.joins import (
        exclusion_diff_count,
        exclusion_join,
    )

    left = spark.range(2_000).selectExpr(
        "id % 500 AS k", "IF(id % 97 = 0, NULL, CAST(id % 7 AS DOUBLE)) AS v"
    )
    right = spark.range(1_500).selectExpr(
        "id % 400 AS k", "IF(id % 89 = 0, NULL, CAST(id % 7 AS DOUBLE)) AS v"
    )
    expected = exclusion_join(left, right, ["k", "v"]).count()
    before = persisted_rdd_ids(spark)
    sc = spark.sparkContext
    sc.setJobGroup("exclusion_diff_count_jobs", "exclusion_diff_count jobs")
    try:
        got = exclusion_diff_count(left, right, ["k", "v"])
        n_jobs = len(
            sc.statusTracker().getJobIdsForGroup("exclusion_diff_count_jobs")
        )
    finally:
        sc.setJobGroup("", "")
    assert got == expected > 0
    assert n_jobs <= 2, f"exclusion_diff_count ran {n_jobs} jobs"
    assert persisted_rdd_ids(spark) == before

    with _pytest.raises(AnalysisException):
        exclusion_diff_count(left, right.drop("v"), ["k", "v"])
    with _pytest.raises(AnalysisException):
        exclusion_diff_count(left.drop("v"), right, ["k", "v"])
    assert persisted_rdd_ids(spark) == before


def test_salted_join_matches_plain_join_under_skew(spark):
    """Multiset equivalence of the salted formulation vs the plain
    join, on a fixture with a 10⁴-duplicate hot key — inner and left,
    with and without the hot_keys split."""
    from yc_yq_airflow_etl_spark.operators.joins import salted_join

    left = (
        spark.range(10_000)
        .selectExpr("cast(7 as long) k", "id lv")  # hot key
        .union(spark.range(50).selectExpr("id % 10 k", "id + 100000 lv"))
        .union(spark.range(3).selectExpr("cast(99 as long) k", "id lv"))
    )  # key 99 has no right match (exercises 'left' nulls)
    right = spark.range(10).selectExpr("id k", "id * 11 rv").union(
        spark.range(4).selectExpr("cast(7 as long) k", "id + 50 rv")
    )  # key 7 matches 5 right rows -> hot fan-out

    for how in ("inner", "left"):
        plain = sorted(
            map(tuple, left.join(right, on=["k"], how=how).collect())
        )
        salted = sorted(
            map(tuple, salted_join(left, right, ["k"], how=how).collect())
        )
        hot_split = sorted(
            map(
                tuple,
                salted_join(
                    left, right, ["k"], how=how, hot_keys=[7]
                ).collect(),
            )
        )
        assert salted == plain, how
        assert hot_split == plain, how


def test_exclusion_join_nan_and_null_key_semantics_pinned(spark):
    """Degenerate float keys in the 6-col float-bearing reconcile key
    (r14 pin): NaN matches NaN across sides (Spark SQL defines
    NaN = NaN as TRUE in equality and grouping, so a NaN-amount row
    present in both stores correctly cancels), while NULL never
    matches anything — a NULL-keyed row on either side is always
    REPORTED as a diff (fail-closed for reconciliation: the weird row
    gets flagged, never silently canceled; the reference pipeline
    unwrap()s NULLs away before the join, so this only matters for
    direct operator use). Both physical strategies must agree."""
    from yc_yq_airflow_etl_spark.operators.joins import exclusion_join

    nan = float("nan")
    a = spark.createDataFrame(
        [(1, 10.0), (2, nan), (3, None), (4, 40.0)], "id long, amt double"
    )
    b = spark.createDataFrame(
        [(1, 10.0), (2, nan), (3, None), (5, 50.0)], "id long, amt double"
    )
    expect = {(3, None, "left"), (3, None, "right"), (4, 40.0, "left"),
              (5, 50.0, "right")}
    for strat in ("union", "anti", "auto"):
        got = {
            (r.id, r.amt, r.side)
            for r in exclusion_join(
                a, b, ["id", "amt"], tag_column="side", strategy=strat
            ).collect()
        }
        assert got == expect, strat


def test_exclusion_auto_probe_resolution(spark):
    """strategy='auto' must resolve to 'anti' on bulk-duplicate keys
    (the hot-window shape 'union' serializes on) and to 'union' on
    PK-like keys — recorded in LAST_EXCLUSION_STRATEGY; results are
    strategy-independent either way."""
    from yc_yq_airflow_etl_spark.operators import joins

    hot_l = spark.range(5000).selectExpr("id % 5 k", "id v")
    hot_r = spark.range(4000).selectExpr("id % 4 k", "id + 10000 v")
    out = joins.exclusion_join(hot_l, hot_r, ["k"], strategy="auto")
    assert joins.LAST_EXCLUSION_STRATEGY == "anti"
    # key 4 exists only on the left: all its rows surface
    assert out.count() == 1000

    pk_l = spark.range(5000).selectExpr("id k", "id v")
    pk_r = spark.range(4000).selectExpr("id k", "id v")
    out = joins.exclusion_join(pk_l, pk_r, ["k"], strategy="auto")
    assert joins.LAST_EXCLUSION_STRATEGY == "union"
    assert out.count() == 1000  # keys 4000..4999


def test_salted_join_null_heavy_keys_survive_auto(spark):
    """Null join keys must never become 'hot keys': a None in the hot
    list makes isin() NULL for every cold row, and NULL is not true,
    so the pre-fix code dropped the entire cold slice. Fixture: nulls
    dominate the left side (the common real-world skew), plus one
    genuinely hot non-null key."""
    from yc_yq_airflow_etl_spark.operators.joins import (
        detect_hot_keys,
        salted_join,
    )

    rows = (
        [(None, i) for i in range(20_000)]  # null-heavy
        + [(7, i) for i in range(15_000)]  # real hot key
        + [(k, k) for k in range(200)]  # cold tail
    )
    left = spark.createDataFrame(rows, "k long, lv long")
    right = spark.createDataFrame(
        [(k, k * 10) for k in range(200)], "k long, rv long"
    )

    hot = detect_hot_keys(left, "k")
    assert None not in hot
    assert hot == [7]

    from collections import Counter

    for how in ("inner", "left"):
        plain = Counter(
            tuple(r) for r in left.join(right, on=["k"], how=how).collect()
        )
        auto = Counter(
            tuple(r)
            for r in salted_join(
                left, right, ["k"], how=how, hot_keys="auto"
            ).collect()
        )
        # An explicit None in the caller's list must be stripped, not
        # poison the filters.
        explicit = Counter(
            tuple(r)
            for r in salted_join(
                left, right, ["k"], how=how, hot_keys=[None, 7]
            ).collect()
        )
        only_none = Counter(
            tuple(r)
            for r in salted_join(
                left, right, ["k"], how=how, hot_keys=[None]
            ).collect()
        )
        assert auto == plain, how
        assert explicit == plain, how
        assert only_none == plain, how


def test_salted_join_tolerates_map_columns(spark):
    """xxhash64 refuses MapType; the deterministic salt must skip
    unhashable columns instead of raising (regression: the rand-based
    salt worked on any schema)."""
    from yc_yq_airflow_etl_spark.operators.joins import salted_join

    left = spark.range(100).selectExpr(
        "id % 5 k", "id lv", "map('a', id) props"
    )
    right = spark.range(5).selectExpr("id k", "id * 10 rv")
    plain = sorted(
        (r.k, r.lv, dict(r.props), r.rv)
        for r in left.join(right, on=["k"], how="inner").collect()
    )
    salted = sorted(
        (r.k, r.lv, dict(r.props), r.rv)
        for r in salted_join(left, right, ["k"]).collect()
    )
    hot_split = sorted(
        (r.k, r.lv, dict(r.props), r.rv)
        for r in salted_join(left, right, ["k"], hot_keys=[3]).collect()
    )
    assert salted == plain
    assert hot_split == plain


def test_salted_join_rejects_outer_sides(spark):
    from yc_yq_airflow_etl_spark.operators.joins import salted_join

    df = spark.range(5).selectExpr("id k", "id v")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="swap the inputs"):
        salted_join(df, df, ["k"], how="right")


def test_scd2_apply_dispositions(spark):
    """Every SCD2 row disposition in one batch: unchanged carry (no
    spurious version), changed close+reopen, unseen-key insert,
    null-safe attribute comparison, history carry."""
    from datetime import datetime

    from yc_yq_airflow_etl_spark.operators.scd import scd2_apply

    t0, t1 = datetime(2020, 1, 1), datetime(2021, 6, 1)
    dim = spark.createDataFrame(
        [
            # key 1: open, attrs will change
            (1, "A", None, t0, None),
            # key 2: open, update is identical (incl. NULL extra) -> carry
            (2, "B", None, t0, None),
            # key 3: open, no update -> carry
            (3, "C", "x", t0, None),
            # key 1 also has an old closed version -> carried verbatim
            (1, "A0", None, datetime(2019, 1, 1), t0),
        ],
        "k int, seg string, extra string, valid_from timestamp, valid_to timestamp",
    )
    updates = spark.createDataFrame(
        [
            (1, "A2", None, t1),
            (2, "B", None, t1),
            (9, "NEW", "y", t1),
        ],
        "k int, seg string, extra string, eff_ts timestamp",
    )
    out = scd2_apply(dim, updates, "k", ["seg", "extra"]).collect()
    rows = {(r.k, r.seg, r.valid_from, r.valid_to) for r in out}
    assert rows == {
        (1, "A0", datetime(2019, 1, 1), t0),  # history carried
        (1, "A", t0, t1),                     # closed at eff_ts
        (1, "A2", t1, None),                  # reopened from update
        (2, "B", t0, None),                   # identical update: no-op
        (3, "C", t0, None),                   # no update: carried
        (9, "NEW", t1, None),                 # insert
    }
    # exactly one open row per live key
    open_keys = [r.k for r in out if r.valid_to is None]
    assert sorted(open_keys) == [1, 2, 3, 9]


def test_scd2_apply_rejects_duplicate_batch_keys(spark):
    from datetime import datetime

    import pytest as _pytest

    from yc_yq_airflow_etl_spark.operators.scd import scd2_apply

    t0 = datetime(2020, 1, 1)
    dim = spark.createDataFrame(
        [(1, "A", t0, None)],
        "k int, seg string, valid_from timestamp, valid_to timestamp",
    )
    dup = spark.createDataFrame(
        [(1, "X", t0), (1, "Y", t0)], "k int, seg string, eff_ts timestamp"
    )
    with _pytest.raises(ValueError, match="duplicate"):
        scd2_apply(dim, dup, "k", ["seg"])


def test_exclusion_join_auto_strategy_picks_plan_by_skew(spark):
    """strategy='auto': a PK-like input keeps the single-shuffle union
    plan (no Join operator); a pathologically duplicated key routes to
    the anti-join plan (AQE-splittable). Results match the explicit
    strategies either way."""
    from yc_yq_airflow_etl_spark.operators.joins import exclusion_join

    pk_l = spark.range(0, 3000).selectExpr("id as k", "id as v")
    pk_r = spark.range(1000, 4000).selectExpr("id as k", "id as v")
    flat = exclusion_join(pk_l, pk_r, ["k"], strategy="auto")
    assert "Join" not in flat._jdf.queryExecution().executedPlan().toString()
    assert flat.count() == 2000  # 0-999 left-only + 3000-3999 right-only

    hot_l = spark.createDataFrame(
        [(7, i) for i in range(30_000)] + [(1, 1)], "k long, v long"
    )
    hot_r = spark.createDataFrame([(2, 2)], "k long, v long")
    skewed = exclusion_join(hot_l, hot_r, ["k"], strategy="auto")
    plan = skewed._jdf.queryExecution().executedPlan().toString()
    assert "Anti" in plan  # skew detected -> anti-join formulation
    assert skewed.count() == 30_002  # everything is unmatched here


def test_bucketed_range_join_matches_nonequi(spark):
    """The equi-key rewrite must agree with the raw non-equi form for
    ANY bucket width (correctness is width-independent): boundary
    points (p == lo inclusive, p == hi exclusive), overlapping
    intervals, multi-bucket intervals, and points in no interval."""
    from yc_yq_airflow_etl_spark.operators.joins import (
        bucketed_range_join,
        range_join,
    )

    pts = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([0, 5, 10, 15, 99, 100, 250, 999])],
        "pid int, p double",
    )
    ivals = spark.createDataFrame(
        [
            ("a", 0.0, 10.0),
            ("b", 10.0, 30.0),
            ("ov", 5.0, 120.0),  # overlaps a and b, spans many buckets
            ("wide", 0.0, 1000.0),
        ],
        "name string, lo double, hi double",
    )
    want = {
        (r.pid, r.name)
        for r in range_join(pts, ivals, "p", "lo", "hi").collect()
    }
    for width in (7.0, 10.0, 50.0, 2000.0):  # off-aligned, aligned, huge
        got = {
            (r.pid, r.name)
            for r in bucketed_range_join(
                pts, ivals, "p", "lo", "hi", bucket_width=width
            ).collect()
        }
        assert got == want, f"width={width}"


def test_bucketed_range_join_boundary_sliver_not_dropped(spark):
    """Regression: an interval whose upper bound sits within 1e-9
    ABOVE a bucket boundary must still match a point in that sliver's
    bucket. The old explosion used floor((hi - 1e-9)/w), which (a)
    skipped the boundary bucket entirely for hi = boundary + 5e-10
    (true match DROPPED), and (b) was a rounding no-op for |hi| ≳ 1e7.
    The fix explodes to floor(hi/w) unconditionally; the residual
    p < hi predicate keeps exclusivity exact."""
    from yc_yq_airflow_etl_spark.operators.joins import (
        bucketed_range_join,
        range_join,
    )

    w = 10.0
    ivals = spark.createDataFrame(
        [
            ("sliver", 5.0, 10.0 + 5e-10),  # upper 5e-10 past bucket edge
            ("exact", 20.0, 30.0),  # upper exactly ON a bucket edge
            ("big", 2e7 - 5.0, 2e7),  # |hi| large: 1e-9 rounds away
        ],
        "name string, lo double, hi double",
    )
    pts = spark.createDataFrame(
        [
            (0, 10.0),  # inside "sliver" (10.0 < 10.0000000005)
            (1, 30.0),  # NOT in "exact" (upper exclusive)
            (2, 2e7 - 1.0),  # inside "big"
            (3, 2e7),  # NOT in "big" (upper exclusive)
        ],
        "pid int, p double",
    )
    want = {
        (r.pid, r.name)
        for r in range_join(pts, ivals, "p", "lo", "hi").collect()
    }
    assert want == {(0, "sliver"), (2, "big")}  # fixture sanity
    got = {
        (r.pid, r.name)
        for r in bucketed_range_join(
            pts, ivals, "p", "lo", "hi", bucket_width=w
        ).collect()
    }
    assert got == want


def test_bucketed_range_join_runs_on_hash_join_path(spark):
    """The whole point of the rewrite: a broadcast interval side
    compiles to BroadcastHashJoin, never a nested-loop."""
    from yc_yq_airflow_etl_spark.operators.joins import bucketed_range_join

    pts = spark.range(0, 1000).selectExpr("CAST(id AS DOUBLE) AS p")
    ivals = spark.createDataFrame(
        [(i, i * 100.0, (i + 1) * 100.0) for i in range(10)],
        "band int, lo double, hi double",
    )
    out = bucketed_range_join(
        pts, F.broadcast(ivals), "p", "lo", "hi", bucket_width=100.0
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert out.count() == 1000


def test_nearest_join_two_sided_tolerance_and_ties(spark):
    """nearest_join picks the closer candidate in EITHER direction,
    breaks |delta| ties to the EARLIER right row, and leaves left rows
    with no candidate in tolerance unmatched (NULL payload)."""
    from yc_yq_airflow_etl_spark.operators.joins import nearest_join

    left = spark.createDataFrame(
        [
            (1, 100.0, "after_nearer"),
            (1, 200.0, "tie"),
            (1, 300.0, "out_of_range"),
            (2, 50.0, "before_only"),
        ],
        "uid int, t double, label string",
    )
    right = spark.createDataFrame(
        [
            (1, 90.0, "m90"),
            (1, 105.0, "m105"),
            (1, 195.0, "m195"),
            (1, 205.0, "m205"),
            (1, 360.0, "m360"),
            (2, 45.0, "m45"),
        ],
        "uid int, t double, mark string",
    )
    out = {
        r.label: r.r_mark
        for r in nearest_join(
            left, right, on_time="t", by=["uid"], tolerance=30.0
        ).collect()
    }
    assert out == {
        "after_nearer": "m105",  # delta 5 after beats 10 before
        "tie": "m195",  # equal delta 5 -> earlier right row
        "out_of_range": None,  # nearest is 60 away, tolerance 30
        "before_only": "m45",
    }


def test_nearest_join_rejects_overlapping_payload_columns(spark):
    import pytest as _pytest

    from yc_yq_airflow_etl_spark.operators.joins import nearest_join

    left = spark.createDataFrame([(1, 1.0, "x")], "uid int, t double, v string")
    right = spark.createDataFrame([(1, 1.0, "y")], "uid int, t double, v string")
    with _pytest.raises(ValueError, match="overlapping"):
        nearest_join(left, right, on_time="t", by=["uid"], tolerance=1.0)


def test_nearest_join_bucketed_matches_plain_on_skew(spark):
    """Property: the bounded-radius 3-bucket equi-join formulation
    produces exactly the window formulation's matches on a skewed
    fixture (one key holding ~90% of rows), across bucket widths from
    tolerance-tight to whole-axis."""
    import random

    from yc_yq_airflow_etl_spark.operators.joins import (
        nearest_join,
        nearest_join_bucketed,
    )

    rng = random.Random(7)
    lrows, rrows, seen = [], set(), set()
    for i in range(300):
        k = 1 if i % 10 else i  # hot key 1 holds ~90%
        lrows.append((i, k, float(rng.randrange(0, 5_000))))
    while len(rrows) < 200:
        k = 1 if rng.random() < 0.9 else rng.randrange(2, 30)
        t = float(rng.randrange(0, 5_000))
        if (k, t) not in seen:  # unique right (key, time): defined winner
            seen.add((k, t))
            rrows.add((f"m{k}_{int(t)}", k, t))
    left = spark.createDataFrame(lrows, "lid int, k int, t double")
    right = spark.createDataFrame(list(rrows), "mark string, k int, t double")

    expected = {
        r.lid: (r.r_mark, r.r_t)
        for r in nearest_join(
            left, right, on_time="t", by=["k"], tolerance=40.0
        ).collect()
    }
    assert any(v[0] is not None for v in expected.values())  # sanity
    for width in (40.0, 173.0, 1_000_000.0):
        got = {
            r.lid: (r.r_mark, r.r_t)
            for r in nearest_join_bucketed(
                left, right, on_time="t", by=["k"],
                tolerance=40.0, bucket_width=width,
            ).collect()
        }
        assert got == expected, f"bucket_width={width}"


def test_nearest_join_bucketed_rejects_undersized_bucket(spark):
    import pytest as _pytest

    from yc_yq_airflow_etl_spark.operators.joins import nearest_join_bucketed

    left = spark.createDataFrame([(1, 1.0)], "k int, t double")
    right = spark.createDataFrame([(1, 2.0, "m")], "k int, t double, mark string")
    with _pytest.raises(ValueError, match="bucket_width"):
        nearest_join_bucketed(
            left, right, on_time="t", by=["k"], tolerance=10.0, bucket_width=5.0
        )


def test_nearest_join_bucketed_no_window_hash_join_path(spark):
    """The formulation's point: no Window operator over the hot key —
    the plan is an equi-join + partial-aggregated argmin."""
    from yc_yq_airflow_etl_spark.operators.joins import nearest_join_bucketed

    left = spark.range(0, 500).selectExpr("id AS lid", "CAST(id % 3 AS INT) AS k", "CAST(id AS DOUBLE) AS t")
    right = spark.range(0, 200).selectExpr("CAST(id % 3 AS INT) AS k", "CAST(id * 2.5 AS DOUBLE) AS t", "CAST(id AS STRING) AS mark")
    out = nearest_join_bucketed(
        left, right, on_time="t", by=["k"], tolerance=10.0
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "partial_min" in plan or "partial_first" in plan
    assert out.count() == 500  # left-outer: every left row present


def test_reserved_tag_guard_across_join_operators(spark):
    """Every join operator that stamps internal columns onto a user
    frame must reject a clashing data column instead of silently
    replacing and dropping it (the __zkey/__dv_f rule)."""
    import pytest as _pytest

    from yc_yq_airflow_etl_spark.operators.joins import (
        asof_join,
        exclusion_diff_count,
        exclusion_join,
        interval_overlap_join,
        nearest_join,
        nearest_join_bucketed,
        salted_join,
    )

    tl = spark.createDataFrame([(1, 1.0)], "k int, t double")
    tr = spark.createDataFrame([(1, 2.0, "m")], "k int, t double, mark string")

    with _pytest.raises(ValueError, match="reserved"):
        exclusion_join(
            tl.withColumn("_xj_side", F.lit(1)), tl, on=["k"],
            strategy="union",
        )
    for tag in ("_side", "_nk"):
        keyed = tl.withColumnRenamed("t", tag)
        with _pytest.raises(ValueError, match="reserved"):
            exclusion_diff_count(keyed, keyed, on=["k", tag])
    with _pytest.raises(ValueError, match="reserved"):
        asof_join(
            tl.withColumn("_carry", F.lit(1)), tr, on_time="t", by=["k"]
        )
    with _pytest.raises(ValueError, match="reserved"):
        nearest_join(
            tl.withColumn("_chosen", F.lit(1)), tr,
            on_time="t", by=["k"], tolerance=1.0,
        )
    with _pytest.raises(ValueError, match="reserved"):
        nearest_join_bucketed(
            tl.withColumn("_lid", F.lit(1)), tr,
            on_time="t", by=["k"], tolerance=1.0,
        )
    with _pytest.raises(ValueError, match="reserved"):
        interval_overlap_join(
            tl.withColumn("_b_l", F.lit(1)),
            tr.withColumnRenamed("mark", "hi2"),
            l_lo="t", l_hi="t", r_lo="t", r_hi="hi2",
        )
    with _pytest.raises(ValueError, match="reserved"):
        salted_join(tl.withColumn("_salt", F.lit(1)), tr, on=["k"])


def test_cdc_batch_reserved_rn_guard(spark, tmp_path):
    from yc_yq_airflow_etl_spark.sources.manifest import ManifestTable
    from yc_yq_airflow_etl_spark.streaming.manifest_sink import (
        apply_cdc_batch,
        upsert_batch,
    )
    import pytest as _pytest

    t = ManifestTable(str(tmp_path / "mt"))
    t.overwrite(spark.createDataFrame([(1, 1)], "id long, v long"))
    batch = spark.createDataFrame(
        [(1, 2, 1, "U", 9)], "id long, v long, seq int, op string, _rn int"
    )
    with _pytest.raises(ValueError, match="_rn.*reserved"):
        apply_cdc_batch(t, batch, 1, key="id", order_col="seq")
    with _pytest.raises(ValueError, match="_rn.*reserved"):
        upsert_batch(t, batch.drop("op"), 1, key="id", order_col="seq")


def test_nearest_join_matches_python_reference_property(spark):
    """Property: over random (uid, t) point sets and tolerances, BOTH
    nearest_join formulations (window and bucketed — the latter is not
    covered by test_formats_and_properties' window-form property, and
    that gap hid a tolerance=0 divide-by-zero until this test) agree
    with a brute-force python reference of the documented contract —
    nearest |delta| within tolerance, ties to the EARLIER right row,
    left-outer NULL when no candidate is in range. Right rows are
    unique per (uid, t) (the documented pre-dedup contract for a
    specific dup-timestamp winner); left rows may repeat."""
    from collections import Counter

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from yc_yq_airflow_etl_spark.operators.joins import (
        nearest_join,
        nearest_join_bucketed,
    )

    lefts_s = st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 60)), max_size=10
    )
    rights_s = st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 60)),
        max_size=10,
        unique_by=lambda r: (r[0], r[1]),
    )

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[
            HealthCheck.too_slow,
            HealthCheck.function_scoped_fixture,
        ],
    )
    @given(lefts=lefts_s, rights=rights_s, tol=st.integers(0, 25))
    def prop(lefts, rights, tol):
        if not lefts:
            return
        want = Counter()
        for uid, lt in lefts:
            cands = [
                (abs(rt - lt), rt, ruid * 1000 + rt)
                for ruid, rt in rights
                if ruid == uid and abs(rt - lt) <= tol
            ]
            rid = min(cands)[2] if cands else None
            want[(uid, lt, rid)] += 1

        ldf = spark.createDataFrame(lefts, "uid int, t int")
        rdf = spark.createDataFrame(
            [(u, t, u * 1000 + t) for u, t in rights] or [(99, 99, 99)],
            "uid int, t int, rid int",
        )
        if not rights:
            rdf = rdf.filter("uid < 0")
        for fn in (nearest_join, nearest_join_bucketed):
            got = Counter(
                (r.uid, r.t, r.r_rid)
                for r in fn(
                    ldf, rdf, on_time="t", by=["uid"], tolerance=tol
                ).collect()
            )
            assert got == want, (fn.__name__, sorted(got), sorted(want))

    prop()


def test_asof_join_matches_python_reference_property(spark):
    """Property: both asof_join formulations — the default union+window
    and the hot-key-safe two-phase bucketed path, across bucket widths
    smaller/comparable/larger than the time domain — agree with a
    brute-force python reference of the contract: latest right row with
    rt <= lt in the same group, left-outer NULL when none. Right rows
    are unique per (uid, t) (the documented dup-timestamp caveat)."""
    from collections import Counter

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from yc_yq_airflow_etl_spark.operators.joins import asof_join

    lefts_s = st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 60)), max_size=10
    )
    rights_s = st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 60)),
        max_size=10,
        unique_by=lambda r: (r[0], r[1]),
    )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[
            HealthCheck.too_slow,
            HealthCheck.function_scoped_fixture,
        ],
    )
    @given(
        lefts=lefts_s,
        rights=rights_s,
        width=st.sampled_from([None, 1.0, 7.0, 100.0]),
    )
    def prop(lefts, rights, width):
        if not lefts:
            return
        want = Counter()
        for uid, lt in lefts:
            cands = [rt for ruid, rt in rights if ruid == uid and rt <= lt]
            rid = uid * 1000 + max(cands) if cands else None
            want[(uid, lt, rid)] += 1

        ldf = spark.createDataFrame(lefts, "uid int, t int")
        rdf = spark.createDataFrame(
            [(u, t, u * 1000 + t) for u, t in rights] or [(99, 99, 99)],
            "uid int, t int, rid int",
        )
        if not rights:
            rdf = rdf.filter("uid < 0")
        got = Counter(
            (r.uid, r.t, r.r_rid)
            for r in asof_join(
                ldf, rdf, on_time="t", by=["uid"], bucket_width=width
            ).collect()
        )
        assert got == want, (width, sorted(got), sorted(want))

    prop()


def test_interval_overlap_join_matches_python_reference_property(spark):
    """Property: the bucket-equi interval-overlap join equals a
    brute-force python reference over RANDOM interval sets — including
    empty intervals (lo == hi: half-open, must match nothing),
    negative coordinates (bucket ids below zero), spans covering many
    buckets, and bucket widths off-scale in both directions. The
    emit-once guard must neither drop nor duplicate any pair."""
    from collections import Counter

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from yc_yq_airflow_etl_spark.operators.joins import interval_overlap_join

    ivals = st.lists(
        st.tuples(
            st.integers(0, 2),           # key
            st.integers(-40, 40),        # lo
            st.integers(0, 50),          # length (0 = empty interval)
        ),
        max_size=8,
    )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[
            HealthCheck.too_slow,
            HealthCheck.function_scoped_fixture,
        ],
    )
    @given(ls=ivals, rs=ivals, width=st.sampled_from([1, 7, 64, 500]))
    def prop(ls, rs, width):
        if not ls or not rs:
            return
        # the TRUE half-open intersection test max(lo) < min(hi) — not
        # the pairwise (l_lo < r_hi AND r_lo < l_hi) shortcut, which
        # wrongly passes when one interval is EMPTY (r13: the shortcut
        # was this reference's original formula, codifying the same
        # empty-interval bug the operator had — the docstring said
        # "must match nothing" while the formula matched)
        want = Counter()
        for li, (lk, llo, llen) in enumerate(ls):
            for ri, (rk, rlo, rlen) in enumerate(rs):
                if lk == rk and max(llo, rlo) < min(llo + llen, rlo + rlen):
                    want[(li, ri)] += 1
        ldf = spark.createDataFrame(
            [(k, lo, lo + n, i) for i, (k, lo, n) in enumerate(ls)],
            "k int, a_lo long, a_hi long, lid int",
        )
        rdf = spark.createDataFrame(
            [(k, lo, lo + n, i) for i, (k, lo, n) in enumerate(rs)],
            "k int, b_lo long, b_hi long, rid int",
        )
        got = Counter(
            (r.lid, r.rid)
            for r in interval_overlap_join(
                ldf, rdf, "a_lo", "a_hi", "b_lo", "b_hi",
                on=["k"], bucket_width=width,
            ).collect()
        )
        assert got == want, (width, sorted(got), sorted(want))

    prop()


def test_interval_overlap_join_empty_and_inverted_match_nothing(spark):
    """An empty ([5,5)) or inverted ([9,3)) interval intersects
    nothing — the pairwise predicate alone would wrongly emit both
    against a spanning interval (and the inverted one would explode a
    descending bucket sequence). r13 regression pin."""
    from yc_yq_airflow_etl_spark.operators.joins import interval_overlap_join

    left = spark.createDataFrame(
        [(1, 5, 5, "empty"), (1, 9, 3, "inverted"), (1, 2, 4, "real")],
        "k int, a_lo long, a_hi long, tag string",
    )
    right = spark.createDataFrame([(1, 1, 10)], "k int, b_lo long, b_hi long")
    got = {
        r.tag
        for r in interval_overlap_join(
            left, right, "a_lo", "a_hi", "b_lo", "b_hi",
            on=["k"], bucket_width=4,
        ).collect()
    }
    assert got == {"real"}


def test_interval_overlap_join_fanout_cap_raises_loudly(spark):
    """One pathological interval spanning more buckets than the cap
    must fail with an actionable error, not fan out unbounded replicas
    (at a 10-minute bucket a year-long interval is ~50k rows PER input
    row — an OOM with no hint of the culprit)."""
    import pytest

    from yc_yq_airflow_etl_spark.operators.joins import interval_overlap_join

    left = spark.createDataFrame(
        [(1, 0, 1000)], "k int, a_lo long, a_hi long"
    )
    right = spark.createDataFrame([(1, 1, 5)], "k int, b_lo long, b_hi long")
    with pytest.raises(Exception, match="spans"):
        interval_overlap_join(
            left, right, "a_lo", "a_hi", "b_lo", "b_hi",
            on=["k"], bucket_width=1, max_buckets_per_interval=100,
        ).collect()
    # within the cap the same inputs join fine
    n = interval_overlap_join(
        left, right, "a_lo", "a_hi", "b_lo", "b_hi",
        on=["k"], bucket_width=1, max_buckets_per_interval=2000,
    ).count()
    assert n == 1


def test_bucketed_joins_refuse_nan_bucket_keys(spark):
    """r16 degenerate sweep (the bucketed-join sibling of the z-order
    NaN domain hole, invariant #30): Spark's floor(NaN/width) is
    silently 0 — even under ANSI — so a NaN value in a bucket-keyed
    column landed in bucket 0 and matched NEAR partners while
    silently missing FAR ones: plan-dependent answers diverging from
    each operator's declared naive-predicate semantics (reproduced on
    the pre-fix code: interval [0, NaN) emitted against [0, 5) but
    returned zero rows against [1200, 1800), which NaN-greatest
    overlap semantics say must match). NaN bucket keys now refuse
    loudly naming the column; NaN values whose no-match outcome is
    CONSISTENT across both plan shapes (a NaN point probe, a NaN
    interval lo) stay silent no-matches, exactly like NULL."""
    import pytest

    from yc_yq_airflow_etl_spark.operators.joins import (
        asof_join,
        bucketed_range_join,
        interval_overlap_join,
        nearest_join_bucketed,
    )

    nan = float("nan")

    # interval_overlap_join: NaN hi refuses loudly...
    L = spark.createDataFrame([(2, 0.0, nan)], "lid int, lo double, hi double")
    R = spark.createDataFrame(
        [(9, 1200.0, 1800.0)], "rid int, rlo double, rhi double"
    )
    with pytest.raises(Exception, match="NaN in 'hi'"):
        interval_overlap_join(L, R, "lo", "hi", "rlo", "rhi").collect()
    # ...while NaN lo is a CONSISTENT non-match (dropped like inverted)
    L2 = spark.createDataFrame(
        [(1, nan, 10.0), (3, 0.0, 10.0)], "lid int, lo double, hi double"
    )
    R2 = spark.createDataFrame([(9, 0.0, 5.0)], "rid int, rlo double, rhi double")
    got = interval_overlap_join(L2, R2, "lo", "hi", "rlo", "rhi").collect()
    assert [r.lid for r in got] == [3]

    # bucketed_range_join: NaN band bound refuses loudly...
    pts = spark.createDataFrame([(1, 3.0)], "pid int, p double")
    bands = spark.createDataFrame([(7, 0.0, nan)], "bid int, lo double, hi double")
    with pytest.raises(Exception, match="NaN in 'hi'"):
        bucketed_range_join(pts, bands, "p", "lo", "hi", 10.0).collect()
    # ...while a NaN POINT is a consistent no-match in both plans
    pts2 = spark.createDataFrame([(1, nan)], "pid int, p double")
    bands2 = spark.createDataFrame([(7, 0.0, 10.0)], "bid int, lo double, hi double")
    assert bucketed_range_join(pts2, bands2, "p", "lo", "hi", 10.0).count() == 0

    # asof_join two-phase bucketed twin: NaN event time refuses loudly
    # (the window twin gives a NaN left row the LAST right row —
    # NaN-greatest — which bucket 0 can never reproduce)
    al = spark.createDataFrame([("u", nan)], "k string, t double")
    ar = spark.createDataFrame([("u", 1.0, "x")], "k string, t double, v string")
    with pytest.raises(Exception, match="NaN in 't'"):
        asof_join(al, ar, by=["k"], on_time="t", bucket_width=10.0).collect()

    # nearest_join_bucketed needs NO guard: |NaN - t| <= tol is false
    # in BOTH formulations — pin the consistent no-match
    nl = spark.createDataFrame([("u", nan)], "k string, t double")
    nr = spark.createDataFrame([("u", 1.0, "x")], "k string, t double, v string")
    out = nearest_join_bucketed(
        nl, nr, by=["k"], on_time="t", tolerance=5.0
    ).collect()
    assert len(out) == 1 and out[0]["r_v"] is None


def test_interval_and_range_join_param_guards(spark):
    """r16 degenerate-param sweep: bucket_width=0 divides bounds to
    ±Inf (double division never throws), a negative width makes
    F.sequence silently DESCENDING (wrong buckets, wrong pairs), and
    a cap < 1 blames the data for a parameter bug."""
    import pytest

    from yc_yq_airflow_etl_spark.operators.joins import interval_overlap_join

    L = spark.createDataFrame([(1, 0, 10)], "lid int, lo long, hi long")
    R = spark.createDataFrame([(9, 0, 5)], "rid int, rlo long, rhi long")
    with pytest.raises(ValueError, match="bucket_width"):
        interval_overlap_join(L, R, "lo", "hi", "rlo", "rhi", bucket_width=0)
    with pytest.raises(ValueError, match="bucket_width"):
        interval_overlap_join(L, R, "lo", "hi", "rlo", "rhi", bucket_width=-5)
    with pytest.raises(ValueError, match="max_buckets_per_interval"):
        interval_overlap_join(
            L, R, "lo", "hi", "rlo", "rhi", max_buckets_per_interval=0
        )
