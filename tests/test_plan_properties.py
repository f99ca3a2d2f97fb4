"""Physical-plan regression guard: the scale-critical plan properties
(tools/plan_audit.py EXPECTATIONS) asserted in CI so a refactor can't
silently un-push a filter or de-broadcast a dimension join."""

from __future__ import annotations

import re
import sys

import pytest

sys.path.insert(0, "/root/repo/tools")

from plan_audit import EXPECTATIONS, MIN_SF, SF_DIR, audit_frame  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from conftest import SF_DIR as FIXTURE_DIR  # noqa: E402


@pytest.mark.parametrize("name", sorted(EXPECTATIONS))
def test_plan_properties(spark, name):
    if MIN_SF.get(name, 0.0) > 0.001:
        pytest.skip(
            f"{name}'s plan expectation is scale-dependent (needs "
            f"sf ≥ {MIN_SF[name]}); enforced by tools/plan_audit.py "
            "at sf0.01"
        )
    qs = entrymod.queries()
    df = audit_frame(qs, name, spark, FIXTURE_DIR)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    executed = None
    for desc, pattern in EXPECTATIONS[name]:
        if pattern == "CODEGEN":
            if executed is None:
                df.collect()
                executed = spark._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "simple"
                )
            assert re.search(r"\*\(\d+\)", executed), f"{name}: {desc}"
        else:
            negate = pattern.startswith("!")
            pat = pattern[1:] if negate else pattern
            found = bool(re.search(pat, plan, re.MULTILINE))
            assert found != negate, f"{name}: {desc}\n{plan[:3000]}"
