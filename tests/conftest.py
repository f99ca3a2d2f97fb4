from __future__ import annotations

import json
import os
import time

import pytest

from yc_yq_airflow_etl_spark.operators.checkpoints import (  # noqa: F401
    persisted_rdd_ids,  # the leak-check reader the tests import from here
)
from yc_yq_airflow_etl_spark.session import build_session

SF_DIR = "/root/testdata/sf0.001"


def pytest_configure(config):
    config._wall_t0 = time.time()


def pytest_sessionfinish(session, exitstatus):
    """Record this chunk's wall for the suite wall-budget guard: the
    suite creeps a little each round (104 manifest tests alone are
    ~7.6 min), and deepening must not silently buy minutes. Appends
    one JSON line per pytest invocation to .suite_walls.jsonl
    (gitignored); ``tools/wall_budget.py`` aggregates the real chunks
    into sec/test and flags >20% growth vs the committed
    wall_budget.json."""
    try:
        if session.config.getoption("--collect-only", default=False):
            return  # collection walls would poison the sec/test ratio
        if hasattr(session.config, "workerinput"):
            # pytest-xdist worker: it COLLECTS the full suite but RUNS
            # a subset, so wall_s/testscollected would understate
            # sec/test by ~the worker count and silently loosen the
            # budget (r10 ADVICE). The controller process (no
            # workerinput) still records the overall wall correctly.
            return
        from yc_yq_airflow_etl_spark.hostcanary import machine_canary_sec

        rec = {
            "ts": round(time.time(), 1),
            "wall_s": round(time.time() - session.config._wall_t0, 1),
            "n_tests": int(session.testscollected or 0),
            "exit": int(exitstatus),
            # host speed at THIS record's epoch — the wall-budget guard
            # normalizes the suite sec/test metric by the suite
            # records' own canary, never by the bench sidecar's (which
            # may have been measured on a different boot; r12 ADVICE)
            "canary_s": machine_canary_sec(),
        }
        path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            ".suite_walls.jsonl",
        )
        with open(path, "a") as fh:
            fh.write(json.dumps(rec) + "\n")
    except Exception:
        pass  # diagnostics only — never fail a test run over it


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="pytest", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def testdata(spark):
    from yc_yq_airflow_etl_spark.catalog import load_testdata

    return load_testdata(spark, SF_DIR)
