"""Bounded oracle sample for the DEFAULT test collection
(OPTIMIZATION_r16 / VERDICT r15 item 2).

The whole-catalog differential sweep (``test_oracle.py``: every oracle
compare + dtype parity + rows-only run, ~31 min on a quiet machine at
460 queries) crossed the `pytest tests/` time budget at r15 the moment
the host slowed — the run timed out at ~38% with zero failures. The
sweep is the round-close gate, not an every-run gate, so it now lives
behind ``-m full`` (see pytest.ini / conftest) and THIS module keeps a
deterministic, bounded slice of it in the default collection:

- all 13 bench headline queries (the surface the driver measures), plus
- every ``_STRIDE``-th remaining oracled query by sorted name — a fixed,
  code-independent rule, so the sample can't quietly avoid a family.

Nothing is weakened: the sampled tests call the exact same
``compare_query`` / ``check_dtype_parity`` as the full sweep, and the
full sweep itself still runs unmodified under ``pytest tests/ -m full``
(the round-close invocation, see README).
"""

from __future__ import annotations

import pytest

from dbkit_spark.catalog import load_all, qnum
from tests.oracle_utils import check_dtype_parity, compare_query

CATALOG = load_all()
WITH_ORACLE = sorted(name for name, spec in CATALOG.items() if spec.oracle)

BENCH = [
    "q01_pricing_summary",
    "q07_join_3way_revenue",
    "q22_topk_per_customer",
    "q05_set_ops",
    "q34_tumbling_window",
    "q40_dedup_minhash",
    "q43_cosine_topk",
    "q12_asof_click_view",
    "q13_range_join_tiers",
    "q112_jaccard_prefix_filter",
    "q87_dedup_clusters",
    "q209_duplicated_spans",
    "q280_running_revenue",
]

_STRIDE = 9
# The stride runs separately over the catalog as first sampled (q-number
# <= 460) and over later additions, so registering a query never
# reshuffles the existing slice.
_REST = [n for n in WITH_ORACLE if n not in BENCH]
_FIRST = [n for n in _REST if qnum(n)[0] <= 460]
_LATER = [n for n in _REST if qnum(n)[0] > 460]
SAMPLE = (
    [n for n in BENCH if n in set(WITH_ORACLE)]
    + _FIRST[::_STRIDE]
    + _LATER[::_STRIDE]
)


@pytest.mark.parametrize("name", SAMPLE)
def test_oracle_match_sample(spark, sf_dir, name):
    spec = CATALOG[name]
    compare_query(spark, name, spec.fn, spec.oracle, sf_dir)


@pytest.mark.parametrize("name", SAMPLE)
def test_dtype_parity_sample(spark, sf_dir, name):
    spec = CATALOG[name]
    check_dtype_parity(spark, name, spec.fn, spec.oracle, sf_dir)
