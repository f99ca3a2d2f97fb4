"""``session.local_frame``: driver-side rows as a JVM-decoded frame.

The helper must be a drop-in for ``spark.createDataFrame(rows, ddl)``
(same rows, same schema, same refusals) whose lineage holds no
``PythonRDD``, and it must be the package's only way to build such a
frame. Also here: the similarity query norm folded on the driver
(``operators.similarity.query_norm``) equals Spark's in-plan fold bit
for bit."""

from __future__ import annotations

import ast
import math
import os
import re
import struct

import pytest

from yc_yq_airflow_etl_spark.session import local_frame

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "yc_yq_airflow_etl_spark",
)

DDL = "b bigint, i int, d double, s string, a array<bigint>"
NAN, INF = float("nan"), float("inf")
ROWS = [
    (1, 2, 0.5, "ascii", [1, 2, 3]),
    (None, None, None, None, None),
    (-(2**63), -(2**31), NAN, "ünïcødé ✓", []),
    (2**63 - 1, 2**31 - 1, -0.0, "日本語", [None, 7, None]),
    (0, 0, 0.0, "", [-(2**63), 2**63 - 1]),
    (5, 6, INF, "emoji 🚀", [None]),
    (7, 8, -INF, "line\nbreak", [0]),
    (9, 10, 5e-324, "tab\tend", None),
]


def _canon(v):
    """Order-sensitive value key that tells NaN, -0.0 and 0.0 apart."""
    if isinstance(v, float):
        return ("f", struct.pack(">d", v) if not math.isnan(v) else "nan")
    if isinstance(v, list):
        return ("l", tuple(_canon(x) for x in v))
    return (type(v).__name__, v)


def _rows(df):
    return [tuple(_canon(v) for v in r) for r in df.collect()]


@pytest.fixture(params=["true", "false"], ids=["arrow_on", "arrow_off"])
def arrow(spark, request):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, request.param)
    try:
        yield request.param
    finally:
        spark.conf.set(key, old)


def test_local_frame_equals_create_dataframe(spark, arrow):
    got = local_frame(spark, ROWS, DDL)
    want = spark.createDataFrame(ROWS, DDL)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)  # in order: both are local relations

    empty = local_frame(spark, [], DDL)
    assert empty.schema == spark.createDataFrame([], DDL).schema
    assert empty.collect() == []


@pytest.mark.parametrize(
    "row",
    [
        (1, 2**31, 0.0, "x", []),  # int overflow
        (1, -(2**31) - 1, 0.0, "x", []),
        (2**63, 1, 0.0, "x", []),  # bigint overflow
        (1, 1, 0.0, "x", [2**63]),  # array<bigint> element overflow
    ],
)
def test_local_frame_int_overflow_raises_like_create_dataframe(spark, row):
    with pytest.raises(ValueError):
        spark.createDataFrame([row], DDL)
    with pytest.raises(ValueError):
        local_frame(spark, [row], DDL)


def test_local_frame_refuses_what_it_cannot_convert(spark):
    import datetime

    from pyspark.sql import types as T

    # PySpark's own verifier: a float is no bigint, on both sides
    with pytest.raises(TypeError):
        spark.createDataFrame([(1.0, 1, 0.0, "x", [])], DDL)
    with pytest.raises(TypeError):
        local_frame(spark, [(1.0, 1, 0.0, "x", [])], DDL)
    # a type outside the five in use is refused, not guessed
    with pytest.raises(TypeError, match="no value conversion"):
        local_frame(spark, [(datetime.date(2020, 1, 1),)], "d date")
    # rows are positional
    with pytest.raises(TypeError, match="positional"):
        local_frame(spark, [{"x": 1}], "x bigint")
    # an empty frame carries any schema (no value is converted)
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), True),
            T.StructField("amt", T.DecimalType(12, 2), True),
        ]
    )
    empty = local_frame(spark, [], schema)
    assert empty.schema == schema and empty.collect() == []


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def test_local_frame_lineage_holds_no_python_rdd(spark, arrow):
    got = local_frame(spark, ROWS, DDL)
    assert "PythonRDD" not in _lineage(got)
    assert "ParallelCollectionRDD" in _lineage(got)
    # the check can see one: the list form's lineage holds it
    assert "PythonRDD" in _lineage(spark.createDataFrame(ROWS, DDL))


def test_package_builds_local_frames_only_through_local_frame():
    """Spark-free: no ``createDataFrame(`` call in the package outside
    ``session.local_frame``."""
    found = []
    for root, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            allowed = set()
            if os.path.relpath(path, PKG) == "session.py":
                for node in ast.walk(tree):
                    if (
                        isinstance(node, ast.FunctionDef)
                        and node.name == "local_frame"
                    ):
                        allowed = {id(n) for n in ast.walk(node)}
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                    and id(node) not in allowed
                ):
                    found.append(f"{os.path.relpath(path, PKG)}:{node.lineno}")
    assert found == []


QUERY_VECTORS = [
    [0.0] * 64,
    [-0.0, 0.0],
    [NAN, 1.0],
    [1.0, NAN, 2.0],
    [INF, 1.0],
    [-INF, -INF],
    [INF, NAN],
    [5e-324, 2.2e-308, 1e-310],  # subnormals: squares underflow to 0
    [1e-160, 3e-170],  # normal values with subnormal squares
    [1e200, 1e200],  # the fold overflows to +Inf
    [0.1, 0.2, 0.3],  # a rounding-order-sensitive sum
    [math.sin(i) * 10 ** (i % 7 - 3) for i in range(64)],
]


def test_query_norm_bit_identical_to_spark_fold(spark):
    from yc_yq_airflow_etl_spark.operators.similarity import (
        l2_norm,
        query_literal,
        query_norm,
    )

    cols = []
    for i, v in enumerate(QUERY_VECTORS):
        cols += [
            l2_norm(query_literal(v)).alias(f"spark_{i}"),
            query_norm(v).alias(f"driver_{i}"),
        ]
    row = spark.range(1).select(*cols).first()
    for i, v in enumerate(QUERY_VECTORS):
        a, b = row[f"spark_{i}"], row[f"driver_{i}"]
        assert _canon(a) == _canon(b), (v, a, b)


def test_bruteforce_plan_has_no_fold_over_the_query_literal(spark):
    """The optimized plan folds the corpus row's norm and the dot, but
    no ``aggregate(`` runs over the literal query array any more."""
    from conftest import SF_DIR

    from yc_yq_airflow_etl_spark.plans.llm_queries import (
        similarity_bruteforce_topk,
    )

    plan = (
        similarity_bruteforce_topk(spark, SF_DIR)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert re.search(r"aggregate\(transform\(embedding#", plan)
    assert not re.search(r"aggregate\(transform\(\[", plan), plan
