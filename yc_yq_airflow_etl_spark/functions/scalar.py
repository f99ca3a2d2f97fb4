"""Scalar expression layer — the YQL/PG functions the reference
evaluates (SURVEY.md §2.9 F1-F15), each as a thin wrapper over a
built-in Spark expression so everything stays inside whole-stage
codegen. No Python UDFs here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def unwrap(col: Column | str, name: str = "column") -> Column:
    """YQL ``unwrap(x)`` — Optional<T> → T, **failing** on NULL
    (yq_dag.py:66,73). The reference's reconciliation philosophy is
    fail-closed; coercing NULL would silently corrupt the export, so
    we raise from inside the plan via ``raise_error``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        c.isNull(), F.raise_error(F.lit(f"unwrap() on NULL value in {name}"))
    ).otherwise(c)


def to_datetime(col: Column | str, strict: bool = False) -> Column:
    """YQL ``cast(x as datetime)`` (yq_dag.py:66,68-69,83).

    YQL ``Datetime`` is *second*-precision; with ``strict=True`` we
    truncate to seconds for exact parity. The reference's data is
    minute-granular (db_init.sql:60) so truncation is lossless there,
    and the default keeps full microseconds.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = c.cast("timestamp")
    return F.date_trunc("second", c).cast("timestamp") if strict else c


def date_lit(value: str) -> Column:
    """YQL ``date('YYYY-MM-DD')`` literal (yq_dag.py:68-69)."""
    return F.to_date(F.lit(value))


def get_year(col: Column | str) -> Column:
    """YQL ``DateTime::GetYear(ts)`` (yq_dag.py:73; README_en.md:245).
    Returns IntegerType, matching the reference's UInt32 range."""
    c = F.col(col) if isinstance(col, str) else col
    return F.year(c)


def to_uint32(col: Column | str, name: str = "column") -> Column:
    """YQL ``unwrap(cast(x as UInt32))`` (yq_dag.py:73). Spark has no
    unsigned types; we use int and assert non-negative, preserving the
    fail-on-invalid semantics of the unwrap+cast composition."""
    c = F.col(col) if isinstance(col, str) else col
    c = c.cast("int")
    return F.when(
        c.isNull() | (c < 0),
        F.raise_error(F.lit(f"cast to UInt32 failed for {name}")),
    ).otherwise(c)


def let(col: Column, f) -> Column:
    """Expression-level `let`: bind ``col`` ONCE as a lambda variable
    (1-element ``transform``) so ``f`` may reference it repeatedly at
    the cost of a single evaluation — Catalyst performs no CSE across
    higher-order functions (the measured r17 quantize_vec lesson), so
    a guard or rounding wrapper that mentions a heavy fold twice
    otherwise executes it twice. Exact: ``transform`` applies ``f``
    element-wise, so ``let(x, f) ≡ f(x)`` value-for-value."""
    return F.get(F.transform(F.array(col), f), 0)


def round6(col: Column | str) -> Column:
    """IEEE-stable 6-decimal rounding: ``floor(x * 1e6 + 0.5) / 1e6``.

    Spark's ``round(x, 6)`` rounds the shortest-decimal RENDERING
    HALF_UP while DuckDB rounds the binary double, so values within
    ~1 ulp of a .xxxxxx5 boundary can differ by 1e-6 between engines
    (measured r13, 5/572 half-aligned probes; see the registry
    conventions header and
    tests/test_reference_queries.py::test_round6_engine_divergence_is_understood).
    This form is pure double multiply/add/floor — bit-identical on
    both engines — and is what derived-float oracle columns (cosines,
    ratios) use on BOTH sides. Oracles use :data:`ROUND6_SQL`.
    NULL-safe (floor(NULL) is NULL); only for |x| small enough that
    x*1e6 stays well under 2^53 — cosines and ratios trivially are.

    Non-finite passthrough (r14): Spark's ``floor`` casts to LONG, so
    floor(NaN) is 0 and floor(±Inf) clamps to ±LONG_MAX — a corrupt
    NaN cosine would silently become 0.0 while DuckDB's floor form
    yields NaN/±Inf naturally. NaN/±Inf therefore pass through
    unchanged, keeping the two engines bit-identical on EVERY double.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        F.isnan(c) | (F.abs(c) == float("inf")), c
    ).otherwise(F.floor(c * 1e6 + F.lit(0.5)) / 1e6)


def round6_sql(expr: str) -> str:
    """The DuckDB/ANSI twin of :func:`round6` — splice into oracle SQL
    as ``round6_sql("<expr>")`` so both sides round identically."""
    return f"floor(({expr}) * 1e6 + 0.5) / 1e6"
