"""``catalog.artifact``: the one build-once primitive behind every
durable demo fixture.

Spark-free. Two processes racing the first build of a generation must
both end up on one complete directory with no stage left, and no
module under ``plans/`` may pick a durable path or keep a fixture
memo of its own."""

from __future__ import annotations

import ast
import glob
import multiprocessing
import os

PLANS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "yc_yq_airflow_etl_spark",
    "plans",
)


def _race_worker(root, sf_dir, barrier):
    """One racer: both builds are inside ``build`` together (the second
    barrier), so both miss the adopt check and both try to publish.
    Writes the returned path to ``<root>/<pid>.out``."""
    import tempfile

    tempfile.tempdir = root
    from yc_yq_airflow_etl_spark import catalog

    def build(stage):
        with open(os.path.join(stage, "part-a"), "w") as fh:
            fh.write(str(os.getpid()))
        barrier.wait(timeout=60)
        with open(os.path.join(stage, "part-b"), "w") as fh:
            fh.write(str(os.getpid()))

    barrier.wait(timeout=60)
    path = catalog.artifact("race", sf_dir, ("orders",), build)
    with open(os.path.join(root, f"{os.getpid()}.out"), "w") as fh:
        fh.write(path)


def test_racing_first_builds_both_adopt_one_published_directory(tmp_path):
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    (sf_dir / "orders.parquet").write_bytes(b"dummy")
    root = tmp_path / "tmp"
    root.mkdir()

    ctx = multiprocessing.get_context("spawn")
    barrier = ctx.Barrier(2)
    procs = [
        ctx.Process(target=_race_worker, args=(str(root), str(sf_dir), barrier))
        for _ in range(2)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=120)
        assert not p.is_alive() and p.exitcode == 0
    got = {p.pid: (root / f"{p.pid}.out").read_text() for p in procs}

    paths = set(got.values())
    assert len(paths) == 1
    path = paths.pop()
    assert os.path.dirname(path) == str(root / "spark_graft_artifacts")
    assert sorted(os.listdir(path)) == ["part-a", "part-b"]
    builders = {open(os.path.join(path, f)).read() for f in ("part-a", "part-b")}
    assert len(builders) == 1 and int(builders.pop()) in got  # one build's output
    assert glob.glob(str(root / "spark_graft_artifacts" / "*.stage-*")) == []


def test_plans_take_durable_paths_only_from_artifact():
    """No ``tempfile.gettempdir()`` call under ``plans/`` and no
    module-level ``_*_CACHE`` there except the session-scoped
    ``_SIMHASH_ARTIFACT_CACHE``: every durable fixture path and memo
    belongs to ``catalog.artifact``. Per-call ``mkdtemp`` scratch
    directories are not durable and stay."""
    found = []
    for name in sorted(os.listdir(PLANS)):
        if not name.endswith(".py"):
            continue
        path = os.path.join(PLANS, name)
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and "gettempdir" in (
                getattr(node.func, "attr", None),
                getattr(node.func, "id", None),
            ):
                found.append(f"{name}:{node.lineno} gettempdir()")
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign):
                targets = [node.target]
            else:
                continue
            for t in targets:
                if (
                    isinstance(t, ast.Name)
                    and t.id.startswith("_")
                    and t.id.endswith("_CACHE")
                    and t.id != "_SIMHASH_ARTIFACT_CACHE"
                ):
                    found.append(f"{name}:{node.lineno} {t.id}")
    assert found == []
