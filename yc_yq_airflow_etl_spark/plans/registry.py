"""Query registry: name → (Spark builder, DuckDB oracle SQL).

This is the single source of truth behind ``__spark_entry__.py``'s
``queries()`` / ``oracle_sql()`` contract. Conventions that keep the
driver's order-insensitive value-hash comparison stable:

- every computed/aggregate column is aliased identically on both sides;
- integer-ish outputs are explicit INT or BIGINT on both sides
  (DuckDB ``year()`` returns BIGINT, Spark INT — always cast);
- money aggregates are summed as DECIMAL(18,2) (exact, order-
  independent) then cast to DOUBLE — double-summation would differ in
  ulps between engines;
- timestamps leave the result as formatted strings, dates, or epoch
  BIGINTs — never raw timestamps (testdata mixes ms/ns physical types);
  timestamp COMPARISONS inside a query (as-of / interval joins) are
  executed at EXPLICIT µs precision on both engines (Spark:
  unix_micros or the native µs TimestampType; oracle:
  epoch_ns(ts)//1000 or make_timestamp(epoch_ns//1000) — the exact
  ns→µs floor Spark's parquet read applies), so cross-engine equality
  is structural at any fixture; second-granularity comparisons
  (epoch_ns//1e9 vs unix_timestamp) are safe by the nested-floor
  identity floor(floor(x/1e3)/1e6) = floor(x/1e9) for post-1970 data;
- floating-point *derived* values (cosines, ratios) are rounded to 6
  decimals on both sides via the IEEE-stable form
  ``floor(x * 1e6 + 0.5) / 1e6`` — Spark side through
  ``functions.scalar.round6``, oracle side through the same floor
  splice (``round6_sql``). RETIRED EDGE (measured r13, migrated r14):
  Spark's ``round(x, 6)`` rounds the shortest-decimal rendering
  HALF_UP while DuckDB rounds the binary double, so values within
  ~1 ulp of a .xxxxxx5 boundary could differ by 1e-6 between engines
  (5 of 572 half-aligned probes diverged;
  tests/test_reference_queries.py::test_round6_engine_divergence_is_understood
  keeps the measurement executable, and
  test_round6_helper_is_cross_engine_exact_on_divergent_grid proves
  the floor form exact on the same grid). Every oracle-paired
  6-decimal derived float now uses the floor form on BOTH sides (the
  4/2-decimal zipf/expected-count rounds use the same form at 1e4/1e2)
  — new derived-float columns MUST use round6/round6_sql, never
  ``round(x, n)``.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: QueryFn
    oracle: str | None  # ANSI/DuckDB SQL, or None → driver does rows-only check


_REGISTRY: list[QuerySpec] = []


def register(name: str, builder: QueryFn, oracle: str | None) -> None:
    _REGISTRY.append(QuerySpec(name, builder, oracle))


def specs() -> list[QuerySpec]:
    """Every registered query, in registration order."""
    _ensure_loaded()
    return list(_REGISTRY)


def queries() -> dict[str, QueryFn]:
    return {s.name: s.builder for s in specs()}


def oracle_sql() -> dict[str, str]:
    return {s.name: s.oracle for s in specs() if s.oracle is not None}


_LOADED = False


def _ensure_loaded() -> None:
    global _LOADED
    if _LOADED:
        return
    _LOADED = True
    from . import analytics, llm_queries, reference_queries, streaming_queries  # noqa: F401

    reference_queries.register_all()
    analytics.register_all()
    llm_queries.register_all()
    streaming_queries.register_all()
