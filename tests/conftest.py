from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from dbkit_spark.session import build_session  # noqa: E402

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="dbkit-spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF0001


# --- quick/full test tiers ---------------------------------------------------
#
# The whole-catalog sweeps are the ROUND-CLOSE gate, not an every-run
# gate: they carry the `full` marker and pytest.ini's
# `addopts = -m "not full"` keeps them out of the default collection —
# run them explicitly with `pytest tests/ -m full`.
#
# The default collection is everything else: the operator law/hand-case
# tier, the cheap catalog contracts (test_catalog: rotation order,
# COVERAGE.md / README count parity), the per-operator plan gates
# (test_plans minus its catalog-wide sweep), and the bounded oracle
# sample (test_oracle_sample.py — same compare/parity code as the full
# sweep, deterministic 60-ish query slice including all 13 bench
# queries). `-m quick` is the default minus the plan gates and the
# oracle sample.
_FULL_TIER_MODULES = {
    "test_oracle",  # every oracle compare + dtype parity + rows-only run
}
# catalog-wide structural sweeps inside otherwise-default modules: these
# build every registered query (driver-side planning of 475 pipelines —
# minutes of pure planning), which is round-close work
_FULL_TIER_TESTS = {
    "test_catalog_wide_no_accidental_nlj",
    "test_no_nested_output_columns_anywhere",
}
# default-tier modules left out of `-m quick`
_NOT_QUICK_MODULES = {"test_oracle_sample", "test_plans"}


def pytest_collection_modifyitems(config, items):
    for item in items:
        mod = item.module.__name__.rsplit(".", 1)[-1]
        base_name = item.name.split("[", 1)[0]
        if mod in _FULL_TIER_MODULES or base_name in _FULL_TIER_TESTS:
            item.add_marker(pytest.mark.full)
        elif mod not in _NOT_QUICK_MODULES:
            item.add_marker(pytest.mark.quick)
