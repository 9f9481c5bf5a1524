"""Catalog contract tests: coverage-rotation ordering and doc parity.

The driver's correctness sweep verifies a fixed-size window (50 entries
in rounds 1 and 2) of ``load_all()`` in iteration order. These tests pin
the two properties the round-3 rotation change relies on:

1. Every query the driver has never verified green sorts ahead of every
   query it has (so the window always spends its slots on unverified
   coverage first).
2. The ordering is a deterministic function of the committed
   CORRECTNESS_r*.json files (same commit => same order everywhere).

Doc parity: COVERAGE.md is auto-generated (tools/gen_coverage.py); its
query count and row set must match the live catalog so the round-2
snapshot drift (123 documented vs 126 registered) cannot recur.
"""

from __future__ import annotations

import re
from pathlib import Path

from dbkit_spark.catalog import _driver_green_rounds, load_all, qnum

REPO = Path(__file__).resolve().parent.parent


def test_rotation_never_green_first():
    order = list(load_all())
    green = _driver_green_rounds()
    ranks = {name: i for i, name in enumerate(order)}
    never = [n for n in order if green.get(n, 0) == 0]
    ever = [n for n in order if green.get(n, 0) > 0]
    if never and ever:
        assert max(ranks[n] for n in never) < min(ranks[n] for n in ever)
    # Within a verification class, q-number order (deterministic tiebreak).
    by_round: dict[int, list[str]] = {}
    for n in order:
        by_round.setdefault(green.get(n, 0), []).append(n)
    for names in by_round.values():
        assert names == sorted(names, key=qnum)


def test_rotation_is_deterministic():
    assert list(load_all()) == list(load_all())


def test_green_rounds_parse_committed_files():
    green = _driver_green_rounds()
    # Round 2 verified q01 and q50; round 1 failed q57 (never green since).
    if (REPO / "CORRECTNESS_r02.json").exists():
        assert green.get("q01_pricing_summary", 0) >= 2
        assert green.get("q50_cube", 0) >= 2
        assert green.get("q57_map_funcs", 0) == 0 or green["q57_map_funcs"] >= 3


def test_coverage_md_matches_catalog():
    catalog = load_all()
    text = (REPO / "COVERAGE.md").read_text()
    m = re.search(r"^(\d+) queries;", text, re.M)
    assert m, "COVERAGE.md missing query count header"
    assert int(m.group(1)) == len(catalog)
    documented = set(re.findall(r"^\| (q\d+\w+) \|", text, re.M))
    assert documented == set(catalog)


def test_readme_count_matches_catalog():
    catalog = load_all()
    text = (REPO / "README.md").read_text()
    m = re.search(r"`queries\(\)` \((\d+) declared queries\)", text)
    assert m, "README missing declared-query count"
    assert int(m.group(1)) == len(catalog)


def test_no_nested_output_columns_anywhere(spark):
    """Driver-canon structural gate (VERDICT r9 items 1 & 5): no
    registered query may emit an Array/Map/Struct column.

    The driver's canonicalizer pandas-sorts and hashes every output
    column; a nested value is unhashable and fails the whole query (the
    q289 r09 failure — the ONLY nested-output query in a full schema
    scan of all 341). The repo convention (catalog.py:5-9) is to
    serialize collections to strings (sorted concat or to_json) at the
    catalog boundary while operators keep real arrays for API users.
    This gate pins the class shut. Cost note: the check itself reads
    only schemas, but BUILDING fn(spark, sf) is not free for every
    entry — a handful of queries execute work at construction time
    (q353's streaming replay, q354's KMeans fits, q345/q348 fixture
    writes, eager-checkpoint component pipelines), so this is one of
    the suite's slower tests; that cost is the price of a
    catalog-wide guarantee and is paid at the smallest fixture."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    sf = "/root/testdata/sf0.001"
    offenders = []
    for name, spec in sorted(load_all().items()):
        for field in spec.fn(spark, sf).schema.fields:
            if isinstance(field.dataType, (ArrayType, MapType, StructType)):
                offenders.append(f"{name}.{field.name}: {field.dataType.simpleString()}")
    assert not offenders, offenders
