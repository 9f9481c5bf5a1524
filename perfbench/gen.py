"""Seeded input generator for the benchmark.

Every table is drawn from ``numpy.random.default_rng(seed)`` with the
fixture schemas (``dbkit_spark.schema.TABLE_SCHEMAS``) and a quarter of
the row counts of the sf0.01 fixture set (see README.md for why), and
written as ONE Snappy row group per
``<name>.parquet`` file, so ``read_table``'s split policy and q280's
footer-boundary path take the same branch as on the fixtures. The same
seed gives byte-identical files.

The ingest workload's micro-batches are cut from the generated
``documents`` table (see ``make_ingest_batches``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# a quarter of the sf0.01 fixture row counts (region and nation as is)
ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 375,
    "supplier": 25,
    "part": 500,
    "orders": 3_750,
    "lineitem": 15_000,
    "events": 2_500,
    "documents": 125,
    "embeddings": 125,
}
EVENT_USERS = 150

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DUP_RATE = 0.05  # share of documents that are a near-copy of an earlier one

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_ORDER_DAYS = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    ckey = rng.permutation(c).astype(np.int64)
    t["customer"] = pa.table({
        "c_custkey": ckey,
        "c_name": [f"Customer#{k:09d}" for k in ckey],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c
        ),
    })
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    adj = ["blue", "hot", "large", "small", "red", "green", "shiny", "old", "new"]
    noun = ["anvil", "bolt", "ring", "widget", "gear", "spring", "valve"]
    t["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, p), rng.choice(noun, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], p),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 2),
    })
    o = n["orders"]
    order_day = rng.integers(0, _ORDER_DAYS + 1, o)
    t["orders"] = pa.table({
        "o_orderkey": rng.permutation(o).astype(np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000, 500_000, o),
        "o_orderdate": _ts(_EPOCH_1995 + order_day * _DAY_US),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o
        ),
    })
    li = n["lineitem"]
    okey = rng.integers(0, o, li)
    t["lineitem"] = pa.table({
        "l_orderkey": okey.astype(np.int64),
        "l_partkey": rng.integers(0, p, li).astype(np.int64),
        "l_suppkey": rng.integers(0, s, li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _ts(
            _EPOCH_1995 + (order_day[okey] + rng.integers(1, 95, li)) * _DAY_US
        ),
    })
    e = n["events"]
    t["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, e))),
        "user_id": rng.integers(0, EVENT_USERS, e).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    t["documents"] = _documents(rng, n["documents"])
    m = n["embeddings"]
    label = rng.integers(0, 10, m)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[label] + rng.normal(0, 1.5, (m, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word documents (10-100 tokens); DUP_RATE of them repeat an
    earlier document with one token appended, as the fixtures do."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < DUP_RATE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    ids = rng.permutation(n).astype(np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })


def write_tables(seed: int, out_dir: str) -> dict[str, dict[str, int]]:
    """Generate every table for ``seed`` into ``out_dir``; returns
    ``{table: {"rows": r, "bytes": b}}``."""
    os.makedirs(out_dir, exist_ok=True)
    info = {}
    for name, table in _tables(np.random.default_rng(seed)).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy", row_group_size=max(1, table.num_rows))
        info[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return info


# --- ingest micro-batches -----------------------------------------------------
INGEST_BATCHES = 2
NEAR_COPY_RATE = 0.10  # near-copies of earlier batches' documents, per batch
REINGEST_RATE = 0.05  # exact (id, text) repeats of earlier batches' rows, per batch
_NEAR_COPY_MIN_TOKENS = 60


@dataclass
class IngestPlan:
    batches: list[list[tuple[int, str]]]
    near_copies: set[int] = field(default_factory=set)
    reingested: set[int] = field(default_factory=set)

    @property
    def distinct_ids(self) -> set[int]:
        return {i for b in self.batches for i, _ in b}

    @property
    def rows(self) -> int:
        return sum(len(b) for b in self.batches)


def make_ingest_batches(seed: int, docs: pa.Table) -> IngestPlan:
    """Split ``docs`` into INGEST_BATCHES micro-batches in seeded order.

    From batch 1 on, each batch also carries NEAR_COPY_RATE near-copies of
    earlier documents (last token replaced and one token appended, so the
    3-shingle Jaccard to the source is (n-3)/n >= 0.95 for the n >= 60
    token sources chosen) under fresh ids, and REINGEST_RATE exact repeats
    of earlier (id, text) rows.
    """
    rng = np.random.default_rng([seed, 1])
    rows = list(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
    order = rng.permutation(len(rows))
    per = -(-len(rows) // INGEST_BATCHES)
    base = [[rows[j] for j in order[k * per:(k + 1) * per]] for k in range(INGEST_BATCHES)]
    next_id = max(i for i, _ in rows) + 1
    plan = IngestPlan(batches=[])
    seen: list[tuple[int, str]] = []
    for k, batch in enumerate(base):
        out = list(batch)
        if seen:
            long_src = [r for r in seen if len(r[1].split()) >= _NEAR_COPY_MIN_TOKENS]
            for j in rng.choice(len(long_src), int(NEAR_COPY_RATE * len(batch)), replace=False):
                toks = long_src[j][1].split()
                toks[-1] = next(w for w in rng.permutation(VOCAB) if w != toks[-1])
                out.append((next_id, " ".join(toks + [str(rng.choice(VOCAB))])))
                plan.near_copies.add(next_id)
                next_id += 1
            for j in rng.choice(len(seen), int(REINGEST_RATE * len(batch)), replace=False):
                out.append(seen[j])
                plan.reingested.add(seen[j][0])
        seen.extend(batch)
        plan.batches.append([out[j] for j in rng.permutation(len(out))])
    return plan


def write_ingest_batches(plan: IngestPlan, out_dir: str) -> int:
    """One parquet file per micro-batch, mtimes strictly increasing so the
    file stream source admits them in batch order. Returns total bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for k, batch in enumerate(plan.batches):
        path = os.path.join(out_dir, f"batch-{k:03d}.parquet")
        ids, texts = zip(*batch)
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": list(texts)}),
            path,
            compression="snappy",
        )
        os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))
        total += os.path.getsize(path)
    return total
