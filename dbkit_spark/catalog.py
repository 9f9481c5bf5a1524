"""Query catalog: every implemented operator from SURVEY.md §2 declares at
least one (Spark query, DuckDB oracle SQL) pair here.

The driver runs both sides at sf0.01 and hash-compares (order-insensitive,
column-name-sorted). Engine rule: every computed column is aliased
identically on both sides; order-sensitive floating aggregation is decimal-
stabilized (see ``operators.aggregate``); order-sensitive survivors (top-k,
dedup) always carry a unique tiebreaker; output columns are SCALAR only —
serialize arrays/maps/structs to strings (to_json / sorted concat) at the
catalog boundary. The full driver-canon contract every query author must
read is SURVEY.md §5.3; tests/test_catalog.py enforces the structural
parts (no nested outputs, dtype parity).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None => rows-only check
    notes: str = ""


CATALOG: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, notes: str = ""):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        CATALOG[name] = QuerySpec(fn=fn, oracle=oracle, notes=notes)
        return fn

    return deco


def qnum(name: str) -> tuple[int, str]:
    """Numeric q-number sort key — lexicographic order broke at q100
    (sorted between q10 and q11)."""
    digits = "".join(c for c in name[1:] if c.isdigit() or c == "_").split("_")[0]
    return (int(digits) if digits.isdigit() else 10**9, name)


def _driver_green_rounds() -> dict[str, int]:
    """Latest driver round in which each query was verified green.

    Derived from the committed ``CORRECTNESS_r*.json`` files at the repo
    root. A row counts as verified when the value hash matched, or — for
    rows-only queries with no SQL oracle — when the driver completed its
    row-count check (``err == "no_oracle"`` with a recorded row count).
    Queries absent from every file (or only ever failing) map to 0.
    """
    import json
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    last_green: dict[str, int] = {}
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", path.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            ok = bool(row.get("hash_match")) or (
                row.get("err") == "no_oracle" and row.get("spark_rows") is not None
            )
            if ok:
                last_green[name] = max(last_green.get(name, 0), rnd)
    return last_green


def load_all() -> dict[str, QuerySpec]:
    """Import every query module (side-effect: registration) and return
    the full catalog in coverage-rotation order. Query modules are found
    by listing the ``queries`` package; ``_``-prefixed modules hold
    shared helpers and are imported only by the modules that use them.

    The driver's correctness sweep checks a fixed-size window of the
    catalog in iteration order, so a static numeric sort would re-verify
    the same prefix forever. Instead, order by (last driver-green round
    ascending, q-number): queries never verified by the driver come
    first, then least-recently-verified. Deterministic — derived only
    from committed CORRECTNESS_r*.json files, so every machine computes
    the same order for a given commit.
    """
    import importlib
    import pkgutil

    from . import queries

    for mod in pkgutil.iter_modules(queries.__path__):
        if not mod.name.startswith("_"):
            importlib.import_module(f"{queries.__name__}.{mod.name}")

    green = _driver_green_rounds()
    return dict(
        sorted(CATALOG.items(), key=lambda kv: (green.get(kv[0], 0), qnum(kv[0])))
    )
