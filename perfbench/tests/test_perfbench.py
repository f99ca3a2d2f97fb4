"""Tests of the benchmark itself: its arithmetic, its reference replay,
its metric list against BENCHMARK.json, and a tiny-input smoke run of
every workload in both modes.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from argparse import Namespace

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT, os.path.join(ROOT, "tools")]

import datagen  # noqa: E402
import run  # noqa: E402
from stats import clip, median, percentile, self_times, union_length  # noqa: E402


# -- percentiles ------------------------------------------------------------


def test_percentile_matches_numpy_linear_rule():
    rng = np.random.default_rng(7)
    for n in (1, 2, 3, 10, 101):
        xs = rng.random(n).tolist()
        for q in (0, 10, 25, 50, 90, 99, 100):
            assert percentile(xs, q) == pytest.approx(np.percentile(xs, q), abs=1e-12)


def test_percentile_small_cases():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([1.0, 2.0, 3.0, 4.0]) == 2.5
    assert percentile([5.0], 90) == 5.0
    assert percentile([0.0, 10.0], 90) == 9.0
    assert median([1.0, 2.0, 3.0, 4.0]) == statistics.median([1.0, 2.0, 3.0, 4.0])


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


# -- self time --------------------------------------------------------------


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 4), (1, 2)]) == 4.0
    assert union_length([(3, 3), (2, 1)]) == 0.0


def test_clip_cuts_to_window():
    assert clip([(0, 5), (6, 9), (9, 12)], 2, 10) == [(2, 5), (6, 9), (9, 10)]
    assert clip([(0, 1)], 2, 3) == []


def span(i, start, end, parent=None):
    return {"id": i, "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_direct_children_only():
    spans = [
        span(0, 0.0, 10.0),
        span(1, 1.0, 4.0, 0),
        span(2, 2.0, 3.0, 1),  # grandchild: counts against 1, not 0
        span(3, 5.0, 9.0, 0),
    ]
    st = self_times(spans)
    assert st == {0: 3.0, 1: 2.0, 2: 1.0, 3: 4.0}
    # self times of a tree add up to the root's wall
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once():
    spans = [span(0, 0.0, 10.0), span(1, 1.0, 6.0, 0), span(2, 4.0, 8.0, 0)]
    assert self_times(spans)[0] == pytest.approx(3.0)


def test_tracer_skips_spans_outside_roots():
    from spans import Tracer

    t = Tracer()
    t.enabled = True
    with t.span("sources.state.get_watermark"):
        pass
    with t.span("op"):
        with t.span("layer") as c:
            c["n"] = 1
            assert t.current_name() == "layer"
    assert [s["name"] for s in t.spans] == ["op", "layer"]
    assert t.spans[1]["parent"] == 0 and t.spans[1]["counters"] == {"n": 1}
    st = t.self_times()
    assert st[0] + st[1] == pytest.approx(t.spans[0]["end"] - t.spans[0]["start"])


def test_stage_gap_is_wall_minus_stage_cover():
    from spans import stage_gap

    stages = [{"start": 1.0, "end": 3.0}, {"start": 2.0, "end": 4.0}, {"start": 9.0, "end": 12.0}]
    assert stage_gap(stages, 0.0, 10.0) == pytest.approx(10.0 - 3.0 - 1.0)


# -- reference replay -------------------------------------------------------


def test_replay_last_change_wins_and_deletes_remove():
    live = {1: (10, 100), 2: (20, 200)}
    rows = [
        (1, 10, 111, 2, "U"),
        (1, 10, 999, 1, "U"),  # earlier seq loses
        (2, 20, 222, 3, "U"),
        (2, 20, 0, 4, "D"),  # delete is the last change
        (3, 30, 300, 5, "I"),
    ]
    datagen.replay(live, rows)
    assert live == {1: (10, 111), 3: (30, 300)}
    assert datagen.checksums(live) == (2, 4, 411)


def test_changelog_batch_is_seeded_and_unique_per_key_seq():
    base = datagen.base_orders(200, 5)
    a, _ = datagen.changelog_batch(np.random.default_rng(1), dict(base), 200, 20, 5)
    b, _ = datagen.changelog_batch(np.random.default_rng(1), dict(base), 200, 20, 5)
    assert a == b
    assert len({(r[0], r[3]) for r in a}) == len(a)
    assert {r[4] for r in a} <= {"U", "D", "I"}


def test_testdata_matches_registry_schemas():
    from yc_yq_airflow_etl_spark import schemas

    tables = datagen.make_testdata(0.001, 42)
    assert set(tables) == set(schemas.TESTDATA_TABLES)
    for name, st in schemas.TESTDATA_TABLES.items():
        assert tables[name].column_names == [f.name for f in st.fields], name
    again = datagen.make_testdata(0.001, 42)
    assert all(tables[n].equals(again[n]) for n in tables)


# -- BENCHMARK.json ---------------------------------------------------------


def test_benchmark_json_lists_what_the_runner_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.layer_metric_units()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    with open(os.path.join(BENCH, "layers.json")) as f:
        targets = json.load(f)
    assert set(targets) == set(run.layer_metric_units())


# -- tiny-input smoke -------------------------------------------------------


def tiny(name, ctx):
    import workloads

    if name == "cooling":
        return workloads.Cooling(ctx, stride=1440)
    if name == "cdc":
        return workloads.Cdc(ctx, base_rows=500, files=2, batches=2,
                             keys_per_batch=40, inserts_per_batch=10)
    return workloads.Queries(ctx, ["federation_counts", workloads.STORED_QUERY])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke(workload, trace, tmp_path, monkeypatch):
    monkeypatch.setenv("TMPDIR", str(tmp_path / "tmp"))
    os.makedirs(tmp_path / "tmp")
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", None)
    args = Namespace(workload=workload, seed=3, seconds=0.1, trace=trace)
    out = run.run(args, str(tmp_path / "work"), str(tmp_path / "out"), tiny)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 2
    want = run.layer_metric_units() if trace else run.END_TO_END
    assert set(out["metrics"]) == set(want)
    values = {k: v["value"] for k, v in out["metrics"].items()}
    if trace:
        assert values["trace.op_s"] > 0
        # layer self times plus the roots' own time add up to the walls
        layer = sum(
            v for k, v in values.items()
            if not k.startswith(("spark.", "trace."))
            and (k.endswith((".s", "builder_s", "action_s")))
        )
        assert layer + values["trace.unattributed_s"] == pytest.approx(
            values["trace.op_s"] + values["trace.read_s"], rel=1e-6
        )
        assert os.listdir(tmp_path / "out")
        if workload == "cdc":
            assert values["sources.manifest.read.files_read"] > 0
            assert values["sources.manifest.merge.files_appended"] > 0
    else:
        assert all(v > 0 for v in values.values())
