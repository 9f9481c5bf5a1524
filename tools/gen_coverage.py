"""Regenerate COVERAGE.md from the live query catalog.

Run from the repo root: ``python tools/gen_coverage.py``.

The table is emitted in q-number order (stable documentation order), not
the coverage-rotation order ``load_all()`` presents to the driver — the
rotation is a verification-scheduling concern, not a documentation one.
A pytest (tests/test_catalog.py) asserts the committed file's query count
matches ``len(load_all())`` so catalog/doc drift fails CI instead of
recurring silently.
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from dbkit_spark.catalog import load_all, qnum  # noqa: E402

HEADER = """# COVERAGE — declared-query catalog (auto-generated)

{n} queries; those marked `rows-only` have no SQL-expressible
oracle (sketches, iterative ML, streaming state, binary ops) and are
validated by dedicated pytest checks instead (noted per query).

| query | oracle | notes |
|---|---|---|
"""


def main() -> None:
    catalog = load_all()
    rows = []
    for name in sorted(catalog, key=qnum):
        spec = catalog[name]
        kind = "DuckDB-matched" if spec.oracle is not None else "rows-only"
        notes = " ".join(spec.notes.split())
        rows.append(f"| {name} | {kind} | {notes} |")
    out = HEADER.format(n=len(catalog)) + "\n".join(rows) + "\n"
    (REPO / "COVERAGE.md").write_text(out)
    print(f"wrote COVERAGE.md: {len(catalog)} queries")


if __name__ == "__main__":
    main()
