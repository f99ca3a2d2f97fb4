"""Scale-mechanics tests: bucketed exchange-free joins and skew
salting — correctness plus the plan property that motivates them."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yc_yq_airflow_etl_spark.operators.skew import salted_count, salted_join
from yc_yq_airflow_etl_spark.sources.bucketing import bucketed_join, write_bucketed


@pytest.fixture(scope="module")
def bucketed_tables(spark, testdata):
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    write_bucketed(testdata["orders"], "b_orders", "o_orderkey", 8)
    write_bucketed(
        testdata["lineitem"].withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        "o_orderkey",
        8,
    )
    yield
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_join_is_exchange_free(spark, testdata, bucketed_tables):
    joined = bucketed_join(spark, "b_lineitem", "b_orders", "o_orderkey")
    # disable broadcast so the plan must choose SMJ — the point is
    # that bucketing removes the per-query shuffle, not broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10m")
    # correctness: same row count as the plain join
    plain = testdata["lineitem"].join(
        testdata["orders"], F.col("l_orderkey") == F.col("o_orderkey")
    )
    assert joined.count() == plain.count()


def test_salted_count_equals_plain_groupby(spark, testdata):
    plain = {
        (r.o_orderstatus,): r.cnt
        for r in testdata["orders"]
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    salted = {
        (r.o_orderstatus,): r.cnt
        for r in salted_count(testdata["orders"], ["o_orderstatus"]).collect()
    }
    assert salted == plain


def test_salted_join_preserves_multiplicity(spark, testdata):
    """Salted join ≡ plain join, row for row — including customers
    with many orders (the 'hot key' stand-in)."""
    orders = testdata["orders"]
    cust = testdata["customer"].select("c_custkey", "c_mktsegment")
    plain = orders.join(
        cust, orders["o_custkey"] == cust["c_custkey"]
    ).groupBy("c_mktsegment").count()
    salted = salted_join(
        orders.withColumnRenamed("o_custkey", "c_custkey"), cust, on="c_custkey"
    ).groupBy("c_mktsegment").count()
    assert {(r.c_mktsegment, r["count"]) for r in plain.collect()} == {
        (r.c_mktsegment, r["count"]) for r in salted.collect()
    }


def test_salted_join_left_outer_keeps_unmatched(spark):
    skewed = spark.createDataFrame(
        [(1, "a"), (1, "b"), (99, "z")], "k int, v string"
    )
    small = spark.createDataFrame([(1, "one")], "k int, name string")
    out = salted_join(skewed, small, on="k", how="left").collect()
    got = {(r.k, r.v): r.name for r in out}
    assert got == {(1, "a"): "one", (1, "b"): "one", (99, "z"): None}


def test_approx_sketches_error_bounds(spark, testdata):
    """Sketch aggregates must land within their advertised error of
    the exact answers (HLL++ rsd=1%; percentile_approx accuracy
    1000 ≈ exact at this cardinality)."""
    from yc_yq_airflow_etl_spark.plans.analytics import (
        approx_distinct_customers,
        distinct_counts,
    )
    from tests.conftest import SF_DIR

    rows = {r.o_orderstatus: r for r in approx_distinct_customers(spark, SF_DIR).collect()}
    exact_d = {r.o_orderstatus: r.n_customers for r in distinct_counts(spark, SF_DIR).collect()}
    for status, row in rows.items():
        # the query emits the contract checks as data (exact value +
        # within-bounds booleans); both must hold, and its exact
        # distinct must agree with the independent distinct_counts query
        assert row.exact_customers == exact_d[status]
        assert row.hll_within_2pct is True
        assert row.p50_within_rank_eps is True


def test_sketch_store_survives_source_retirement(spark, tmp_path):
    """Mergeable HLL sketches (operators/sketches.py): per-year
    sketches persisted as the pipeline exports each year keep global
    distinct-count questions answerable AFTER the raw partitions are
    dropped — incremental, within HLL error of the exact answer."""
    from pyspark.sql import functions as F

    from yc_yq_airflow_etl_spark.operators.sketches import (
        SketchStore,
        build_sketches,
    )
    from yc_yq_airflow_etl_spark.sources.generator import generate_payments

    pay = generate_payments(spark, minutes=3 * 365 * 1440).withColumn(
        "payment_year", F.year("payment_date")
    )
    exact_total = pay.select("accdt").distinct().count()

    store = SketchStore(str(tmp_path / "sketches"))
    for year in (2020, 2021, 2022):
        year_rows = pay.filter(F.col("payment_year") == year)
        store.add(build_sketches(year_rows, ["payment_year"], "accdt"))
        # raw rows for `year` could now be dropped — only the store
        # is consulted below

    per_year = {
        r.payment_year: r.distinct_estimate
        for r in store.estimate(spark, by=["payment_year"]).collect()
    }
    assert set(per_year) == {2020, 2021, 2022}

    merged = store.estimate(spark).first()
    assert merged.n_rows == pay.count()
    rel_err = abs(merged.distinct_estimate - exact_total) / exact_total
    assert rel_err < 0.05, (merged.distinct_estimate, exact_total)

    # incremental: later sketches append without rebuilding old ones
    extra = spark.range(10_000_000, 10_001_000).select(
        F.lit(2023).alias("payment_year"), F.col("id").alias("accdt")
    )
    store.add(build_sketches(extra, ["payment_year"], "accdt"))
    updated = store.estimate(spark).first()
    assert updated.distinct_estimate > merged.distinct_estimate


def test_histogram_store_merge_and_error_bound(spark, testdata):
    """Mergeable histogram store: merging per-year histograms equals
    the direct global histogram (losslessness of the merge), and each
    quantile estimate is within one bin width of the exact quantile."""
    from yc_yq_airflow_etl_spark.operators.sketches import (
        build_histogram,
        histogram_quantiles,
        merge_histograms,
    )

    lo, hi, bins = 0.0, 600000.0, 256
    o = testdata["orders"].withColumn("yr", F.year("o_orderdate"))
    per_year = build_histogram(o, "o_totalprice", lo, hi, bins, group_cols=["yr"])
    merged = merge_histograms(per_year)
    direct = build_histogram(o, "o_totalprice", lo, hi, bins)
    assert {(r.bin, r.cnt) for r in merged.collect()} == {
        (r.bin, r.cnt) for r in direct.collect()
    }

    width = (hi - lo) / bins
    ests = {
        r.q: r.estimate
        for r in histogram_quantiles(merged, [0.5, 0.9], lo, hi, bins).collect()
    }
    for q in (0.5, 0.9):
        exact = o.agg(F.expr(f"percentile(o_totalprice, {q})")).first()[0]
        assert abs(ests[q] - exact) <= width


def test_zorder_pruned_scan_skips_row_groups(spark):
    """The registered query's box predicate, checked against parquet
    row-group statistics — the exact mechanism Spark's parquet reader
    uses to skip. The Z-ordered layout must leave strictly fewer
    candidate row groups than the md5-shuffled twin of the same rows
    (which should prune nothing), and the query's answer must match
    the same aggregate over the original table."""
    import glob

    import pyarrow.parquet as pq

    from yc_yq_airflow_etl_spark.plans.analytics import (
        ensure_zorder_demo,
        zorder_pruned_scan,
    )

    sf_dir = "/root/testdata/sf0.01"
    cdir, sdir = ensure_zorder_demo(spark, sf_dir)

    def candidates(path):
        """Row groups whose [min,max] intersect the query's box."""
        total = hits = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.read_metadata(f)
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            for rg in range(md.num_row_groups):
                total += 1
                q = md.row_group(rg).column(names.index("l_quantity")).statistics
                p = md.row_group(rg).column(
                    names.index("l_extendedprice")
                ).statistics
                if q.min <= 10.0 and q.max >= 5.0 and p.min <= 40000.0 and p.max >= 20000.0:
                    hits += 1
        return hits, total

    c_hits, c_total = candidates(cdir)
    s_hits, s_total = candidates(sdir)
    assert s_hits == s_total  # decorrelated layout prunes nothing
    assert c_hits < s_hits  # clustering actually skips data
    assert c_hits <= c_total // 2  # and not marginally: >= half skipped

    got = {
        r.l_returnflag: (r.n, r.sum_qty, r.sum_price)
        for r in zorder_pruned_scan(spark, sf_dir).collect()
    }
    from yc_yq_airflow_etl_spark.catalog import load_testdata

    li = load_testdata(spark, sf_dir)["lineitem"]
    exp = {
        r.l_returnflag: (r.n, float(r.sum_qty), float(r.sum_price))
        for r in li.filter(
            F.col("l_quantity").between(5.0, 10.0)
            & F.col("l_extendedprice").between(20000.0, 40000.0)
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("sum_price"),
        )
        .collect()
    }
    assert got == exp


def test_zorder_clusters_both_columns(spark, testdata, tmp_path):
    """Z-ordered files cover small rectangles of BOTH clustering
    columns (multi-column data skipping), where a plain single-column
    sort leaves the second column's per-file range at ~full width."""
    import glob

    import pyarrow.parquet as pq

    from yc_yq_airflow_etl_spark.sources.zorder import write_zordered

    o = testdata["orders"].select("o_custkey", "o_totalprice")

    zdir, sdir = str(tmp_path / "z"), str(tmp_path / "s")
    write_zordered(o, zdir, ["o_custkey", "o_totalprice"], num_files=8)
    (
        o.repartitionByRange(8, "o_custkey")
        .sortWithinPartitions("o_custkey")
        .write.mode("overwrite")
        .parquet(sdir)
    )

    def avg_coverage(path, col):
        lo_g, hi_g = None, None
        spans = []
        per_file = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.read_metadata(f)
            lo, hi = None, None
            for rg in range(md.num_row_groups):
                c = md.row_group(rg).column(
                    [md.schema.column(i).name for i in range(md.num_columns)].index(col)
                )
                st = c.statistics
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            per_file.append((lo, hi))
            lo_g = lo if lo_g is None else min(lo_g, lo)
            hi_g = hi if hi_g is None else max(hi_g, hi)
        width = hi_g - lo_g
        return sum((hi - lo) / width for lo, hi in per_file) / len(per_file)

    # z-order: both columns clustered (each file a small rectangle)
    assert avg_coverage(zdir, "o_custkey") < 0.75
    assert avg_coverage(zdir, "o_totalprice") < 0.75
    # single-column sort: first column tight, second column ~full width
    assert avg_coverage(sdir, "o_custkey") < 0.3
    assert avg_coverage(sdir, "o_totalprice") > 0.9


def test_cms_merge_and_overcount_contract(spark, testdata):
    """CMS invariants: (a) estimates never undercount — min over hash
    rows of added cells can only collide upward; (b) merging two
    half-sketches cell-by-cell equals the sketch of the whole data
    (linearity — what makes it a mergeable STORE, like the HLL and
    histogram stores)."""
    from yc_yq_airflow_etl_spark.operators.sketches import (
        build_cms,
        cms_estimate,
        merge_cms,
    )

    ev = testdata["events"].select(
        F.col("user_id").cast("string").alias("k"), "event_id"
    )
    whole = build_cms(ev, "k")
    a = build_cms(ev.filter(F.col("event_id") % 2 == 0), "k")
    b = build_cms(ev.filter(F.col("event_id") % 2 == 1), "k")
    merged = merge_cms(a, b)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )

    true_counts = ev.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    probe = true_counts.limit(50)
    est = {r.k: r.cms_est for r in cms_estimate(whole, probe, "k").collect()}
    truth = {r.k: r.n for r in probe.collect()}
    assert all(est[k] >= n for k, n in truth.items())


def test_salted_join_auto_detects_hot_key_and_matches_plain(spark):
    """hot_keys='auto': the sampled probe must surface a key holding
    ~half the rows, the salted result must equal the plain join as a
    multiset, and an unskewed input must degrade to the plain join
    (empty detection -> zero replication)."""
    from yc_yq_airflow_etl_spark.operators.joins import (
        detect_hot_keys,
        salted_join,
    )

    rows = [(7, i) for i in range(20_000)] + [
        (k, k) for k in range(1000) if k != 7
    ]
    left = spark.createDataFrame(rows, "k long, payload long")
    right = spark.createDataFrame(
        [(k, k * 10) for k in range(1000)], "k long, r long"
    )

    assert detect_hot_keys(left, "k") == [7]

    auto = salted_join(left, right, ["k"], hot_keys="auto")
    plain = left.join(right, on=["k"], how="inner")
    from collections import Counter

    a = Counter(tuple(r) for r in auto.collect())
    p = Counter(tuple(r) for r in plain.collect())
    assert a == p

    flat = spark.range(5000).selectExpr("id as k", "id as payload")
    assert detect_hot_keys(flat, "k") == []


def test_bloom_no_false_negatives_and_mergeable(spark):
    """The two Bloom contracts: (1) NO false negatives — every built
    key passes the membership test; (2) mergeability — bit_or of two
    filters' word rows equals the filter built over the union (the
    same union-by-parts property the HLL/CMS stores rely on)."""
    from pyspark.sql import functions as F

    from yc_yq_airflow_etl_spark.operators.sketches import (
        bloom_build,
        bloom_might_contain,
    )

    m, k = 1 << 12, 3
    keys = spark.range(500).selectExpr("id * 7 as k")
    words = bloom_build(keys, "k", num_bits=m, k=k)
    probe = spark.range(5000).selectExpr("id as k")
    passed = {
        r.k
        for r in probe.filter(
            bloom_might_contain(words, "k", num_bits=m, k=k)
        ).collect()
    }
    truth = {i * 7 for i in range(500)}
    assert truth <= passed  # no false negatives, ever
    # with m/n ≈ 8 bits/key the FP rate is a few percent — the filter
    # must actually filter (not degenerate to all-ones)
    assert len(passed) < 2500

    a = spark.range(0, 100).selectExpr("id as k")
    b = spark.range(100, 200).selectExpr("id as k")
    merged = (
        bloom_build(a, "k", num_bits=m, k=k)
        .unionByName(bloom_build(b, "k", num_bits=m, k=k))
        .groupBy("word_idx")
        .agg(F.bit_or("bits").alias("bits"))
    )
    direct = bloom_build(a.unionByName(b), "k", num_bits=m, k=k)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_kmv_sketch_exact_when_small_and_mergeable(spark):
    from yc_yq_airflow_etl_spark.operators.sketches import (
        KMV_HASH_SPACE,
        kmv_estimate_col,
        kmv_sketch,
    )

    df = spark.range(0, 100).withColumnRenamed("id", "k")
    sk = kmv_sketch(df, "k", k=256)
    rows = sk.collect()
    # fewer distinct values than k → the sketch IS the exact hash set
    assert len(rows) == 100
    assert all(0 <= r.h < KMV_HASH_SPACE for r in rows)
    est = (
        sk.agg(F.count("h").alias("n"), F.max("h").alias("hk"))
        .select(kmv_estimate_col(F.col("n"), F.col("hk"), 256).alias("e"))
        .collect()[0]
        .e
    )
    assert est == 100.0

    # mergeability: bottom-k of (bottom-k(A) ∪ bottom-k(B)) equals
    # bottom-k of A ∪ B
    a = spark.range(0, 5000).withColumnRenamed("id", "k")
    b = spark.range(2500, 7500).withColumnRenamed("id", "k")
    merged_sketches = (
        kmv_sketch(a, "k", k=64)
        .unionAll(kmv_sketch(b, "k", k=64))
        .distinct()
        .orderBy("h")
        .limit(64)
    )
    direct = kmv_sketch(a.unionAll(b), "k", k=64)
    assert [r.h for r in merged_sketches.collect()] == [
        r.h for r in direct.collect()
    ]


def test_kmv_sketch_assume_distinct_identical(spark):
    """r18: ``assume_distinct=True`` (used by kmv_join_cardinality,
    whose distinct-key frame is shared with the exact-count and
    intersection consumers) must yield the exact same sketch as the
    self-deduplicating path — the flag only skips a redundant
    exchange, never changes values. Probed with duplicates UPSTREAM of
    the caller-side distinct to prove the contract is about the
    frame handed in, and with NULLs to pin the null-filter staying on
    either way."""
    from yc_yq_airflow_etl_spark.operators.sketches import kmv_sketch

    raw = spark.createDataFrame(
        [(i % 500,) for i in range(2000)] + [(None,)] * 5, "k bigint"
    )
    dedup = raw.distinct()
    a = kmv_sketch(raw, "k", k=64).collect()
    b = kmv_sketch(dedup, "k", k=64, assume_distinct=True).collect()
    assert [r.h for r in a] == [r.h for r in b]
    # NULL keys stay excluded on the assume_distinct path too
    assert all(r.h is not None for r in b)


def test_kmv_estimate_within_error_bound(spark):
    from yc_yq_airflow_etl_spark.operators.sketches import (
        kmv_estimate_col,
        kmv_sketch,
    )

    n, k = 20000, 256
    df = spark.range(0, n).withColumnRenamed("id", "k")
    est = (
        kmv_sketch(df, "k", k=k)
        .agg(F.count("h").alias("n"), F.max("h").alias("hk"))
        .select(kmv_estimate_col(F.col("n"), F.col("hk"), k).alias("e"))
        .collect()[0]
        .e
    )
    # standard error ≈ 1/sqrt(k-2); allow 5 sigmas
    assert abs(est - n) / n < 5.0 / (k - 2) ** 0.5


def test_grouped_percentiles_guard_and_approx_route(spark):
    """Exact-twin size guard (mirrors topk_join's oversize contract):
    past exact_row_limit the DEFAULT is a loud ValueError naming the
    sketch route — the per-group-materializing exact percentile plan
    must never be picked silently at scale; oversize='approx' routes
    to percentile_approx with a RuntimeWarning and a rank-bounded
    answer. Under the limit the result is the exact interpolated
    percentile."""
    from yc_yq_airflow_etl_spark.operators.profiling import (
        grouped_percentiles,
    )

    df = spark.range(0, 1001).selectExpr(
        "CAST(id % 2 AS INT) AS g", "CAST(id AS DOUBLE) AS v"
    )
    exact = {
        (r.g, r.p50)
        for r in grouped_percentiles(df, "v", ["g"], probs=(0.5,)).collect()
    }
    # ids 0..1000: evens 0,2,..,1000 (median 500), odds 1,3,..,999 (500)
    assert exact == {(0, 500.0), (1, 500.0)}

    with pytest.raises(ValueError, match="percentile_approx"):
        grouped_percentiles(df, "v", ["g"], exact_row_limit=100)
    with pytest.warns(RuntimeWarning, match="APPROXIMATE"):
        approx = grouped_percentiles(
            df, "v", ["g"], probs=(0.5,), exact_row_limit=100,
            oversize="approx",
        ).collect()
    # GK sketch at accuracy=10000 on 1001 rows is rank-exact here,
    # but pin only a loose bound so the test never rides the sketch
    assert all(abs(r.p50 - 500.0) <= 2.0 for r in approx)


def test_profile_columns_guard_and_hll_route(spark):
    """profile_columns: exact NDV under the limit, loud ValueError
    past it by default, HLL routing (ndv_exact=False, ±5% of exact)
    with oversize='approx'."""
    from yc_yq_airflow_etl_spark.operators.profiling import profile_columns

    df = spark.range(0, 2000).selectExpr(
        "id AS a", "CAST(id % 37 AS STRING) AS b"
    )
    prof = {r.col: r for r in profile_columns(df, ["a", "b"]).collect()}
    assert prof["a"].n_distinct == 2000 and prof["a"].ndv_exact
    assert prof["b"].n_distinct == 37
    assert prof["a"].n_rows == 2000 and prof["a"].n_nulls == 0
    assert prof["b"].min_s == "0" and prof["b"].max_s == "9"  # strings

    with pytest.raises(ValueError, match="HyperLogLog"):
        profile_columns(df, ["a"], exact_row_limit=10)
    with pytest.warns(RuntimeWarning, match="APPROXIMATE"):
        aprof = {
            r.col: r
            for r in profile_columns(
                df, ["a", "b"], exact_row_limit=10, oversize="approx"
            ).collect()
        }
    assert not aprof["a"].ndv_exact
    assert abs(aprof["a"].n_distinct - 2000) <= 100  # rsd=0.02 → ±5%
    assert abs(aprof["b"].n_distinct - 37) <= 2


def test_connected_components_rounds_grow_logarithmically(spark):
    """Pointer jumping's O(log diameter) convergence, pinned on the
    worst-case topology (path graphs — maximal diameter per edge):
    quadrupling the diameter must add only ~log4 = 2 rounds, never
    scale linearly. This is THE scale variable for dedup_clusters —
    every round is a full shuffle over the (id, label) state, so a
    broken shortcut step (rounds ~ diameter) would turn the canonical
    dedup chain into hundreds of shuffles at 100 TB. The bench's 10x
    sidecar enforces the same law as a 12-round ceiling on the real
    dup graph (cc_rounds_within_ceiling)."""
    import math

    from yc_yq_airflow_etl_spark.operators import dedup as D

    rounds = {}
    for n in (16, 64, 256):
        path = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
        )
        labels = D.connected_components(path, max_iter=25).collect()
        assert all(r.label == 0 for r in labels)  # one component
        assert len(labels) == n
        rounds[n] = D.LAST_CC_ROUNDS
        # absolute law: rounds ≤ log2(diameter) + slack(3) — a linear
        # propagation would need ~n rounds and trip max_iter at 64
        assert rounds[n] <= math.log2(n) + 3, (n, rounds[n])
    # growth law: 4x the diameter costs at most 3 extra rounds
    assert rounds[64] - rounds[16] <= 3, rounds
    assert rounds[256] - rounds[64] <= 3, rounds


def test_profiling_operators_schema_stable_and_name_safe(spark):
    """Round-8 review regressions: (a) the approx percentile route
    must keep the SAME output type as the exact route (double) — the
    sketch returns the input type and would type-drift a schema-pinned
    consumer exactly at the scale the guard targets; (b) an empty
    input profiles with n_nulls=0, not NULL (sum-over-nothing);
    (c) both operators accept column names the SQL parser would mangle
    (spaces, quotes) — references are positional/escaped."""
    import warnings

    from yc_yq_airflow_etl_spark.operators.profiling import (
        grouped_percentiles,
        profile_columns,
    )

    df = spark.range(0, 100).selectExpr(
        "CAST(id % 2 AS INT) AS g", "id AS v"  # BIGINT value column
    )
    exact_t = dict(grouped_percentiles(df, "v", ["g"], probs=(0.5,)).dtypes)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        approx_t = dict(
            grouped_percentiles(
                df, "v", ["g"], probs=(0.5,), exact_row_limit=10,
                oversize="approx",
            ).dtypes
        )
    assert exact_t["p50"] == approx_t["p50"] == "double"

    empty = spark.range(0).selectExpr("id AS a")
    r = profile_columns(empty, ["a"]).collect()[0]
    assert (r.n_rows, r.n_nulls, r.n_distinct) == (0, 0, 0)

    w = spark.createDataFrame([(1, "x"), (None, "y")], ["order date", "it's"])
    prof = {r.col: r for r in profile_columns(w, ["order date", "it's"]).collect()}
    assert prof["order date"].n_nulls == 1
    assert prof["it's"].n_distinct == 2


def test_write_zordered_empty_and_null_domain_guards(spark, tmp_path):
    """Round-8 review regression: an EMPTY input slice (routine in
    per-partition backfills) must land an empty-but-schema'd output
    instead of dying on None min/max arithmetic; an all-NULL z-order
    column on non-empty data must raise a NAMED error pointing at the
    column, not an opaque TypeError inside the key builder."""
    from yc_yq_airflow_etl_spark.sources.zorder import write_zordered

    empty = spark.range(0).selectExpr(
        "CAST(id AS DOUBLE) AS a", "CAST(id AS DOUBLE) AS b"
    )
    out = str(tmp_path / "z_empty")
    write_zordered(empty, out, ["a", "b"])
    back = spark.read.parquet(out)
    assert back.count() == 0 and set(back.columns) == {"a", "b"}

    nulls = spark.range(5).selectExpr(
        "CAST(id AS DOUBLE) AS a", "CAST(NULL AS DOUBLE) AS b"
    )
    with pytest.raises(ValueError, match="entirely NULL.*'b'|\\['b'\\]"):
        write_zordered(nulls, str(tmp_path / "z_null"), ["a", "b"])


def test_write_zordered_nan_inf_rows_and_all_nan_guard(spark, tmp_path):
    """Invariant #30, standalone-writer path (r15 judge find): plain
    min/max domain aggregates went NaN on a single NaN row, and every
    row's key cast then threw CAST_OVERFLOW under the default-ANSI
    engine session — one bad row killed the whole z-order write. Now
    non-finite values are excluded from the domain, NaN rows route to
    the top bucket, ±Inf clamps to the edges, and an all-NaN column
    (which passes the all-NULL `is None` check) refuses loudly."""
    import glob

    import pyarrow.parquet as pq

    from yc_yq_airflow_etl_spark.sources.zorder import write_zordered

    grid = spark.range(0, 16 * 16).selectExpr(
        "CAST(id % 16 AS DOUBLE) AS a",
        "CASE WHEN id = 37 THEN CAST('NaN' AS DOUBLE) "
        "     WHEN id = 99 THEN CAST('Infinity' AS DOUBLE) "
        "     ELSE CAST(CAST(id / 16 AS BIGINT) AS DOUBLE) END AS b",
    )
    zdir = str(tmp_path / "z_nan")
    write_zordered(grid, zdir, ["a", "b"], num_files=8)
    back = spark.read.parquet(zdir)
    assert back.count() == 256, "every row must land, including NaN/Inf"
    assert back.filter(F.isnan("b")).count() == 1
    assert back.filter(F.col("b") == float("inf")).count() == 1

    # the CLEAN column must still be clustered: per-file [min, max]
    # rectangles on `a` average well below full domain width
    spans, lo_g, hi_g = [], None, None
    for f in glob.glob(f"{zdir}/*.parquet"):
        md = pq.read_metadata(f)
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(names.index("a")).statistics
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        spans.append((lo, hi))
        lo_g = lo if lo_g is None else min(lo_g, lo)
        hi_g = hi if hi_g is None else max(hi_g, hi)
    width = hi_g - lo_g
    assert sum((hi - lo) / width for lo, hi in spans) / len(spans) < 0.75

    allnan = spark.range(5).selectExpr(
        "CAST(id AS DOUBLE) AS a", "CAST('NaN' AS DOUBLE) AS b"
    )
    with pytest.raises(ValueError, match=r"non-finite.*\['b'\]|\['b'\].*non-finite"):
        write_zordered(allnan, str(tmp_path / "z_allnan"), ["a", "b"])


def test_sketches_exclude_nulls_and_salted_count_handles_maps(spark):
    """Round-8 review regressions, NULL/type edges of the sketch and
    salting family:

    - bloom_build over a nullable key column must not emit the
      (NULL, NULL) word row that crashed bloom_might_contain's int()
      loop — and the filter still answers membership for real values;
    - build_histogram must EXCLUDE NULL/NaN (greatest(0, NULL) is 0,
      so they silently counted into bin 0, permanently skewing every
      persisted histogram toward lo);
    - kmv_sketch must not let md5(NULL) steal a bottom-k slot;
    - salted_count must tolerate a MapType column in the frame
      (xxhash64 rejects maps — same _hashable_type guard as
      salted_join)."""
    from yc_yq_airflow_etl_spark.operators.sketches import (
        bloom_build,
        bloom_might_contain,
        build_histogram,
        kmv_sketch,
    )
    from yc_yq_airflow_etl_spark.operators.skew import salted_count

    vals = spark.createDataFrame(
        [("a",), (None,), ("b",)], "k string"
    )
    filt = bloom_build(vals, "k")
    assert all(
        r.word_idx is not None and r.bits is not None for r in filt.collect()
    )
    probe = spark.createDataFrame([("a",), ("zzz",)], "k string")
    pred = bloom_might_contain(filt, "k")
    got = {r.k: r.maybe for r in probe.select(
        "k", pred.alias("maybe")
    ).collect()}
    assert got["a"] is True  # no false negatives

    hist = build_histogram(
        spark.createDataFrame(
            [(1.0,), (None,), (None,), (float("nan"),)], "v double"
        ),
        "v", lo=0.0, hi=10.0, bins=10,
    ).collect()
    assert [(r.bin, r.cnt) for r in hist] == [(1, 1)]  # only the real value

    sk = kmv_sketch(vals, "k", k=8).collect()
    assert len(sk) == 2 and all(r.h is not None for r in sk)

    mapped = spark.createDataFrame(
        [(1, {"x": 1}), (1, {"y": 2}), (2, {"z": 3})],
        "k long, m map<string,int>",
    )
    counts = {r.k: r.cnt for r in salted_count(mapped, ["k"]).collect()}
    assert counts == {1: 2, 2: 1}


def test_salted_agg_sums_equal_plain_groupby_under_skew(spark):
    """salted_agg's two-phase DECIMAL sums must be bit-identical to the
    single-pass groupBy for any salt assignment — on a skewed frame
    (one key holds ~90% of rows, spread over all 16 shards), with a
    NULL-value row (sum ignores it, count doesn't) and negative and
    fractional cents exercising the decimal path."""
    from pyspark.sql import functions as F

    from yc_yq_airflow_etl_spark.operators.skew import salted_agg

    rows = [("hot", float(i % 7) - 2.5) for i in range(900)]
    rows += [("cold", 10.25), ("cold", -0.75), ("warm", None)]
    df = spark.createDataFrame(rows, "k string, value double")

    got = {
        r.k: (r.cnt, r.sum_value)
        for r in salted_agg(df, ["k"], sum_cols=("value",)).collect()
    }
    want = {
        r.k: (r.cnt, r.sum_value)
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
        )
        .collect()
    }
    assert got == want
    assert got["hot"][0] == 900 and got["warm"] == (1, None)


def test_sketches_degenerate_inputs(spark):
    """r15 degenerate-input sweep over the sketch family: NULL probe
    keys estimate NULL, never 0 (the build filters NULL keys, so a 0
    would be an UNDERcount for a table that did contain them —
    violating the overcount-only contract); merge_cms() with no args
    raises instead of IndexError; empty inputs build empty sketches
    that probe to 0/false/exact-0 rather than crashing; NaN keys are
    deterministic string-cast keys on both build and probe sides.
    Mutation-verified: the pre-guard cms_estimate returns cms_est=0
    for the NULL-key row."""
    import pytest as _pytest

    from yc_yq_airflow_etl_spark.operators.sketches import (
        bloom_build,
        bloom_might_contain,
        build_cms,
        cms_estimate,
        kmv_sketch,
        merge_cms,
    )

    df = spark.createDataFrame(
        [("a",), ("a",), ("b",), (None,)], "k string"
    )
    cms = build_cms(df, "k")
    probe = spark.createDataFrame([("a",), ("zz",), (None,)], "k string")
    est = {r.k: r.cms_est for r in cms_estimate(cms, probe, "k").collect()}
    assert est["a"] >= 2          # overcount-only
    assert est["zz"] == 0         # genuinely unseen non-NULL key
    assert est[None] is None      # no frequency semantics, not "0"

    with _pytest.raises(ValueError, match="at least one"):
        merge_cms()

    # empty inputs: empty sketches, sane probes
    empty = df.filter(F.lit(False))
    assert build_cms(empty, "k").count() == 0
    assert cms_estimate(build_cms(empty, "k"), probe.filter(
        F.col("k").isNotNull()), "k").agg(F.max("cms_est")).first()[0] == 0
    assert kmv_sketch(empty, "k").count() == 0
    words = bloom_build(empty, "k")
    got = df.filter(F.col("k").isNotNull()).filter(
        bloom_might_contain(words, "k")
    )
    assert got.count() == 0  # empty filter contains nothing

    # NaN keys: a deterministic key ("NaN" string-cast), consistent
    # between build and probe — present NaN is found, absent is not
    dnan = spark.createDataFrame(
        [(float("nan"),), (1.0,)], "x double"
    )
    wn = bloom_build(dnan, "x")
    assert dnan.filter(bloom_might_contain(wn, "x")).count() == 2
    cn = build_cms(dnan, "x")
    pn = cms_estimate(cn, dnan, "x").collect()
    assert all(r.cms_est >= 1 for r in pn)


def test_bucketed_demo_adopts_complete_dir_instead_of_clobbering(
    spark, testdata, monkeypatch, tmp_path
):
    """Engine processes share the bucketed fixture's directory (a
    full-value-compare run next to a parallel suite, observed live):
    one that cleared or rebuilt it while another read it handed the
    reader a wrong answer. The two tables are one ``catalog.artifact``:

    - a stage left by a crashed build is never adopted: the next call
      builds its own stage and publishes that;
    - a process whose catalog does not know the tables ADOPTS the
      published directory via CREATE TABLE ... CLUSTERED BY ...
      LOCATION: no file touched, bucket spec recovered from the
      saveAsTable file naming, zero-exchange join property intact."""
    import os
    import tempfile

    from pyspark.sql.readwriter import DataFrameWriter

    from yc_yq_airflow_etl_spark import catalog
    from yc_yq_airflow_etl_spark.plans.analytics import ensure_bucketed_demo

    sf_dir = "/root/testdata/sf0.001"
    tag = catalog.data_tag(sf_dir, "lineitem", "orders")
    names = (f"bdemo_lineitem_{tag}", f"bdemo_orders_{tag}")
    root = tmp_path / "spark_graft_artifacts"
    published = root / f"bucketed_demo-{tag}"

    def fresh_process():
        monkeypatch.setattr(catalog, "_ARTIFACTS", {})
        for t in names:
            spark.sql(f"DROP TABLE IF EXISTS {t}")

    def files():
        return {
            os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
            for d, _, fs in os.walk(published)
            for f in fs
        }

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    try:
        fresh_process()
        # a crashed build's torn stage sits next to the final path
        torn = root / f"bucketed_demo-{tag}.stage-1-crashed" / "lineitem"
        torn.mkdir(parents=True)
        (torn / "part-junk.parquet").write_text("torn")
        assert ensure_bucketed_demo(spark, sf_dir) == names
        assert (torn / "part-junk.parquet").read_text() == "torn"
        assert spark.table(names[0]).count() == testdata["lineitem"].count()
        assert spark.table(names[1]).count() == testdata["orders"].count()

        # another process built it: complete dir on disk, nothing in
        # this catalog, and no write may run
        fresh_process()
        before = files()
        for meth in ("parquet", "save", "saveAsTable"):
            monkeypatch.setattr(
                DataFrameWriter, meth,
                lambda *a, **k: (_ for _ in ()).throw(
                    AssertionError("must not rebuild")
                ),
            )
        assert ensure_bucketed_demo(spark, sf_dir) == names
        assert files() == before, "adoption must not touch a single file"
        assert spark.table(names[1]).count() == testdata["orders"].count()
        # the adopted tables are REALLY bucketed: SMJ join plans with
        # zero Exchange
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = (
                spark.table(names[0])
                .hint("merge")
                .join(
                    spark.table(names[1]),
                    F.col("l_orderkey") == F.col("o_orderkey"),
                )
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan[:2000]
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10m")
    finally:
        # later callers register the tables from the shared directory
        for t in names:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_salting_and_chunking_param_guards(spark, testdata):
    """r16 degenerate-param sweep tail: salt/salt_buckets below 1 hit
    pmod(x, 0) — DIVIDE_BY_ZERO deep in codegen under the pinned-ANSI
    session, or NULL salts (one-reducer collapse / dropped matches)
    under ANSI-off; chunk_tokens < 1 emitted empty chunks whose
    md5('') all collide, silently; stride < 1 died mid-job naming
    neither the parameter nor the operator."""
    from yc_yq_airflow_etl_spark.functions.text import chunk_documents
    from yc_yq_airflow_etl_spark.operators.skew import salted_agg

    with pytest.raises(ValueError, match="salt_buckets"):
        salted_agg(testdata["orders"], ["o_orderstatus"], salt_buckets=0)
    with pytest.raises(ValueError, match="salt must be >= 1"):
        salted_join(
            testdata["lineitem"],
            testdata["orders"].withColumnRenamed("o_orderkey", "l_orderkey"),
            "l_orderkey",
            salt_buckets=0,
        )
    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with pytest.raises(ValueError, match="chunk_tokens"):
        chunk_documents(docs, chunk_tokens=0)
    with pytest.raises(ValueError, match="stride"):
        chunk_documents(docs, stride=0)
