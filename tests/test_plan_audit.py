"""The six PLANS.md physical-plan checks of ``tools/plan_audit.py``, run on
the session Spark so a plan regression fails the suite. Skipped when the
TPC-H sf0.01 tables (``$SPARK_GRAFT_SF_DIR``) are absent."""

import importlib.util
import os

import pytest

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "tools", "plan_audit.py")
_spec = importlib.util.spec_from_file_location("plan_audit", _PATH)
plan_audit = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(plan_audit)


@pytest.mark.skipif(not os.path.isdir(plan_audit.SF_DIR),
                    reason=f"no TPC-H tables at {plan_audit.SF_DIR}")
def test_plan_audit_all_checks_pass(spark):
    rows = plan_audit.run_checks(spark, plan_audit.SF_DIR)
    assert len(rows) == 6
    failed = [(name, detail) for name, _query, ok, detail in rows if not ok]
    assert not failed, failed
