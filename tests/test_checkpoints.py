"""``operators.checkpoints``: materializations with an owned lifetime.

Every materialization in the package goes through ``materialize`` /
``cache`` and is freed by ``release`` or by the ``scope()`` that owns
it. Pinned here: the package makes no materialization or free call of
its own (Spark-free scan), the registry queries that used to leave
persisted RDDs behind leave none once their scope closes, a repeat
call in a fresh scope does the full work again, and the scope rules
themselves."""

from __future__ import annotations

import ast
import os
import threading

import pytest

from conftest import SF_DIR, persisted_rdd_ids

from yc_yq_airflow_etl_spark.operators.checkpoints import (
    cache,
    materialize,
    release,
    scope,
)

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "yc_yq_airflow_etl_spark",
)

# the queries that left persisted RDDs behind on every call, or on
# their first call, before materializations were scope-owned
LEAKERS = (
    "kmv_join_cardinality",
    "histogram_quantile_store",
    "scd2_customer_history",
    "scd2_point_in_time_revenue",
    "cooccurrence_pmi",
    "dedup_simhash_pairs",
    "dedup_minhash_pairs",
    "dedup_clusters",
    "pagerank_doc_ranks",
    "dedup_embedding_pairs",
    "incremental_dedup_new_batch",
)


def test_package_materializes_only_through_checkpoints():
    """Spark-free: no ``localCheckpoint``/``persist``/``cache``/
    ``unpersist`` call and no use of the old id helpers in the package
    outside ``operators/checkpoints.py``."""
    calls = {"localCheckpoint", "persist", "cache", "unpersist"}
    names = {"free_checkpoint", "checkpointed_rdd_id"}
    found = []
    for root, _, files in os.walk(PKG):
        for name in files:
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG)
            if not name.endswith(".py") or rel == os.path.join(
                "operators", "checkpoints.py"
            ):
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in calls
                ):
                    found.append(f"{rel}:{node.lineno} .{node.func.attr}(")
                # a name, an attribute, an import or a definition
                for ref in (getattr(node, k, None) for k in ("id", "attr", "name")):
                    if ref in names:
                        found.append(f"{rel}:{node.lineno} {ref}")
    assert found == []


@pytest.fixture(scope="module")
def registry_queries(spark):
    """The registry, with the session's simhash artifacts built first
    (as bench.py's SETUP does): they belong to the session, not to the
    first query that reads them."""
    from yc_yq_airflow_etl_spark.plans import registry
    from yc_yq_airflow_etl_spark.plans.llm_queries import (
        ensure_simhash_artifacts,
    )

    ensure_simhash_artifacts(spark, SF_DIR)
    return registry.queries()


@pytest.mark.parametrize("name", LEAKERS)
def test_query_leaves_nothing_once_its_scope_closes(
    spark, registry_queries, name
):
    before = persisted_rdd_ids(spark)
    with scope():
        assert registry_queries[name](spark, SF_DIR).count() >= 0
    # nothing added; the set may shrink meanwhile: Spark's ContextCleaner
    # frees what earlier tests left outside any scope when a JVM GC runs
    assert persisted_rdd_ids(spark) - before == set()


def _jobs(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "name", ["dedup_embedding_pairs", "incremental_dedup_new_batch"]
)
def test_repeat_call_in_a_fresh_scope_runs_the_same_jobs(
    spark, registry_queries, name
):
    """A repeat call must not be served by a frame the first call left
    cached: both calls, each in its own scope, run the same jobs."""

    def run() -> None:
        with scope():
            registry_queries[name](spark, SF_DIR).count()

    first = _jobs(spark, f"{name}_1", run)
    second = _jobs(spark, f"{name}_2", run)
    assert first == second > 0


def test_scope_frees_on_an_escaping_exception(spark):
    before = persisted_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with scope():
            materialize(spark.range(100), "test: checkpoint")
            cached = cache(spark.range(50))
            cached.count()
            assert len(persisted_rdd_ids(spark) - before) == 2
            raise RuntimeError("boom")
    assert persisted_rdd_ids(spark) - before == set()


def test_nested_scope_frees_only_its_own(spark):
    before = persisted_rdd_ids(spark)
    with scope():
        outer = materialize(spark.range(100), "test: outer")
        with scope() as inner:
            materialize(spark.range(10), "test: inner")
            kept = inner.keep(materialize(spark.range(20), "test: kept"))
        # the inner frame is gone, the outer one and the handed-up one
        # are still readable
        assert len(persisted_rdd_ids(spark) - before) == 2
        assert outer.count() == 100
        assert kept.count() == 20
    assert persisted_rdd_ids(spark) - before == set()


def test_release_is_idempotent(spark):
    before = persisted_rdd_ids(spark)
    with scope():
        a = materialize(spark.range(100), "test: a")
        b = materialize(spark.range(30), "test: b")
        c = cache(spark.range(40))
        c.count()
        for df in (a, c):
            release(df)
            release(df)
        assert len(persisted_rdd_ids(spark) - before) == 1
        assert b.count() == 30
    assert persisted_rdd_ids(spark) - before == set()
    release(b)  # after its scope closed: still a no-op


def test_materialize_outside_any_scope_belongs_to_the_session(spark):
    d = materialize(spark.range(10), "test: session")
    with scope():
        pass
    assert d.count() == 10
    release(d)


def test_a_scope_owns_nothing_another_thread_materializes(spark):
    """The scope stack is per thread: a frame materialized on another
    thread (a ``foreachBatch`` body runs on the streaming callback
    thread) is not freed by the scope open on this one."""
    got = []
    with scope():
        th = threading.Thread(
            target=lambda: got.append(materialize(spark.range(7), "test: thread"))
        )
        th.start()
        th.join(60)
        assert not th.is_alive()
    assert got[0].count() == 7
    release(got[0])


def test_simhash_artifacts_first_built_inside_a_scope_stay(
    spark, monkeypatch
):
    """The artifacts are session state: built by a call inside a scope,
    they outlive it, and a later call returns the same frames."""
    from yc_yq_airflow_etl_spark.plans import llm_queries as lq

    monkeypatch.setattr(lq, "_SIMHASH_ARTIFACT_CACHE", {})
    before = persisted_rdd_ids(spark)
    with scope():
        p1, a1 = lq.ensure_simhash_artifacts(spark, SF_DIR)
        rows = (sorted(p1.collect()), sorted(a1.collect()))
    p2, a2 = lq.ensure_simhash_artifacts(spark, SF_DIR)
    assert p1 is p2 and a1 is a2
    # freed checkpoint blocks cannot be recomputed: a read would raise
    assert (sorted(p1.collect()), sorted(a1.collect())) == rows
    assert len(persisted_rdd_ids(spark) - before) == 2
    for df in (p1, a1):
        release(df)
