"""bench.py's declarative plan against the query registry, without
Spark: a plan entry naming no registry query, or a 10x ceiling without
its 10x run or its steady 1x twin, would otherwise surface only as a
KeyError (or a silently unchecked ceiling) deep into a bench run."""

from __future__ import annotations

import importlib
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

bench = importlib.import_module("bench")


def test_every_plan_name_resolves_in_the_registry():
    from yc_yq_airflow_etl_spark.plans import registry

    qs = registry.queries()
    planned = (
        set(bench.HEADLINE)
        | set(bench.WATCH)
        | set(bench.SCALE_QUERIES)
        | set(bench.CEILINGS)
        | set(bench.ATTRIBUTED)
        | set(bench.BENCH_CONTROLS)
    )
    assert sorted(planned - set(qs)) == []


def test_every_ceiling_has_a_10x_run_and_a_steady_1x_twin():
    steady = set(bench.HEADLINE) | set(bench.WATCH)
    for name in bench.CEILINGS:
        assert name in bench.SCALE_QUERIES, name
        assert name in steady, name
    # the attribution and the CC ceiling extend 10x records
    assert set(bench.ATTRIBUTED) <= set(bench.SCALE_QUERIES)
    assert "dedup_clusters" in bench.SCALE_QUERIES
    # the control deflator compares steady walls
    assert set(bench.BENCH_CONTROLS) <= steady


def test_every_setup_entry_is_callable():
    labels = [label for label, _ in bench.SETUP]
    assert len(labels) == 12 and len(set(labels)) == 12
    assert all(callable(fn) for _, fn in bench.SETUP)


def test_steady_reruns_compare_walls_only_at_the_same_scale_factor():
    names = [f"q{i}" for i in range(14)]
    qs = dict.fromkeys(names)
    out = {"sf": 0.01, "queries": dict.fromkeys(names, 1.0)}
    out["queries"]["q13"] = 3.0  # 3x the committed wall
    committed = {"queries": dict.fromkeys(names, 1.0)}
    same = bench._steady_names(names, qs, out, {**committed, "sf": 0.01})
    other = bench._steady_names(names, qs, out, {**committed, "sf": 0.1})
    assert "q13" in same
    assert other == names[:12]
