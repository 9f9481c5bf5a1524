"""Correctness checks, run outside every timed region.

Queries: an order-insensitive fingerprint of the Spark result is compared
with the same fingerprint of the query's DuckDB oracle on the same
generated inputs, canonicalized by ``tests/oracle_utils.canon_rows`` (the
catalog's compare rule: columns sorted by name, values bit-exact, rows
sorted).

Ingest: the admitted set is recomputed exactly in Python (first arrival
wins across batches, min id wins inside a batch, exact 3-shingle Jaccard
>= threshold) and the generator's invariants are checked against it.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import re

from .gen import IngestPlan


def _oracle_utils():
    """``tests/oracle_utils.py``, the catalog's compare rule, loaded by
    path so no other ``tests`` package on ``sys.path`` can shadow it."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "perfbench_oracle_utils", os.path.join(root, "tests", "oracle_utils.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_ou = _oracle_utils()


def fingerprint(cols: list[str], rows: list[tuple]) -> str:
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for row in _ou.canon_rows(cols, rows):
        h.update(repr(row).encode())
    return f"{len(rows)}:{h.hexdigest()[:16]}"


def arrow_fingerprint(table) -> str:
    """Fingerprint of a ``pyarrow.Table`` (``DataFrame.toArrow()``)."""
    cols = table.column_names
    data = [table.column(c).to_pylist() for c in cols]
    return fingerprint(cols, list(zip(*data)) if data else [])


def oracle_fingerprints(data_dir: str, oracles: dict[str, str]) -> dict[str, str]:
    return {name: fingerprint(*_ou.run_oracle(sql, data_dir)) for name, sql in oracles.items()}


# --- ingest -------------------------------------------------------------------
def _shingles(text: str) -> frozenset[str]:
    t = [w for w in re.split(r"[^a-z0-9]+", text.lower()) if w]
    return frozenset(" ".join(t[i:i + 3]) for i in range(len(t) - 2))


def _jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter) if a or b else 0.0


def expected_admitted(plan: IngestPlan, threshold: float = 0.5) -> list[list[int]]:
    """Ids admitted per batch under ``ingest_dedup``'s contract."""
    corpus: dict[int, frozenset] = {}
    index: dict[str, set[int]] = {}
    out = []
    for batch in plan.batches:
        sh = {i: _shingles(t) for i, t in batch}

        def near(i: int, pool) -> list[int]:
            cands = {j for s in sh[i] for j in pool.get(s, ())} - {i}
            return [j for j in cands if _jaccard(sh[i], corpus_or_batch(j)) >= threshold]

        def corpus_or_batch(j: int) -> frozenset:
            return sh[j] if j in sh else corpus[j]

        fresh = sorted(i for i in sh if i not in corpus and not near(i, index))
        # min id wins inside each near-dup component of the fresh docs
        local: dict[str, set[int]] = {}
        for i in fresh:
            for s in sh[i]:
                local.setdefault(s, set()).add(i)
        label = {i: i for i in fresh}
        for i in fresh:  # union-find over verified in-batch pairs
            for j in near(i, local):
                a, b = _root(label, i), _root(label, j)
                label[max(a, b)] = min(a, b)
        admitted = sorted(i for i in fresh if _root(label, i) == i)
        for i in admitted:
            corpus[i] = sh[i]
            for s in sh[i]:
                index.setdefault(s, set()).add(i)
        out.append(admitted)
    return out


def _root(label: dict[int, int], i: int) -> int:
    while label[i] != i:
        label[i] = label[label[i]]
        i = label[i]
    return i


def ingest_violations(
    plan: IngestPlan, expected: list[list[int]], per_batch: list[int], state_ids: list[int]
) -> list[str]:
    """Every way one ingest round can disagree with the plan and the oracle."""
    bad = []
    admitted = set(state_ids)
    want = {i for b in expected for i in b}
    if len(state_ids) != len(admitted):
        bad.append(f"{len(state_ids) - len(admitted)} ids admitted twice (re-ingest was not a no-op)")
    if admitted != want:
        bad.append(f"admitted set differs from oracle: +{len(admitted - want)} -{len(want - admitted)}")
    if admitted & plan.near_copies:
        bad.append(f"{len(admitted & plan.near_copies)} injected near-copies admitted")
    rejected = plan.distinct_ids - admitted
    if len(admitted) + len(rejected) != len(plan.distinct_ids) or not admitted <= plan.distinct_ids:
        bad.append("admitted + rejected != distinct ids generated")
    if per_batch != [len(b) for b in expected]:
        bad.append(f"per-batch admissions {per_batch} != oracle {[len(b) for b in expected]}")
    return bad
