"""Approximate heavy hitters over an unbounded key stream with BOUNDED
state (SURVEY.md §2.9 / §2.12 — the streaming complement of q96's exact
batch heavy hitters and q176's HLL rollup).

Problem: exact streaming top-k over a high-cardinality key needs
O(distinct keys) state — unbounded. The classic fix is a frequency
summary with a hard capacity; this module uses the MERGEABLE
Misra–Gries / SpaceSaving family in its batch-trim form:

    per micro-batch, per shard:
      1. merge the batch's exact key counts into the summary dict
      2. if the dict exceeds ``capacity``: let ``sub`` = the
         (capacity+1)-th largest count; subtract ``sub`` from every
         count, drop the non-positive — at most ``capacity`` survivors
      3. accumulate ``err += sub``

    guarantee (the standard MG bound, Agarwal et al., "Mergeable
    Summaries", PODS'12): for every key,
        est <= true_count <= est + err,  and  err <= n_shard / capacity
    so any key with true frequency > n_shard/capacity is ALWAYS present.

The batch-trim form is ORDER-INDEPENDENT (counts are merged before the
value-threshold trim), unlike item-at-a-time MG — so batch and stream
replays of the same micro-batches produce bit-identical summaries, and
different micro-batchings agree within the error bound.

Scale design: the stream is hash-SHARDED on the key (md5 rule, portable
— ``conv(substr(md5(key || ':hh'), 1, 6), 16, 10) % n_shards``, so a
SQL oracle reproduces shard assignment digit-for-digit like every other
hash construction in this engine) and each shard keeps one summary —
state is O(n_shards * capacity) TOTAL regardless of stream length or key
cardinality, and the state store distributes shards across executors
(never a single global sketch funneling through one task). A key lives
in exactly one shard, so the union of shard summaries is a superset of
the global heavy hitters and per-key estimates carry their own shard's
error bound.

Reference: dbkit has no streaming surface (roadmap ``README.md:32-37``);
this extends the declared large-scale pipeline per the north-star plan.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.portable_hash import salted
from ..functions.text import token_hash24

HH_OUTPUT_SCHEMA = StructType(
    [
        StructField("shard", LongType()),
        StructField("key", StringType()),
        StructField("est", LongType()),
        StructField("err", LongType()),
        StructField("n_shard", LongType()),
    ]
)

HH_STATE_SCHEMA = StructType(
    [
        StructField("keys", ArrayType(StringType())),
        StructField("counts", ArrayType(LongType())),
        StructField("n", LongType()),
        StructField("err", LongType()),
    ]
)


def mg_merge_trim(
    summary: dict[str, int], batch_counts: dict[str, int], capacity: int
) -> tuple[dict[str, int], int]:
    """Merge exact ``batch_counts`` into ``summary`` and trim to at most
    ``capacity`` entries; returns (new_summary, err_increment). Pure and
    order-independent — the single testable kernel both the batch and
    streaming surfaces share."""
    for k, c in batch_counts.items():
        summary[k] = summary.get(k, 0) + c
    if len(summary) <= capacity:
        return summary, 0
    sub = sorted(summary.values(), reverse=True)[capacity]
    trimmed = {k: c - sub for k, c in summary.items() if c - sub > 0}
    return trimmed, sub


def _make_update(capacity: int):
    def update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (shard,) = key
        if state.exists:
            keys, counts, n, err = state.get
            summary = dict(zip(keys, counts))
        else:
            summary, n, err = {}, 0, 0
        batch: dict[str, int] = {}
        for pdf in pdfs:
            n += len(pdf)
            for k, c in pdf["key"].value_counts().items():
                batch[k] = batch.get(k, 0) + int(c)
        summary, sub = mg_merge_trim(summary, batch, capacity)
        err += sub
        state.update(
            (list(summary.keys()), [int(c) for c in summary.values()], n, err)
        )
        ks = sorted(summary)  # deterministic emission order
        yield pd.DataFrame(
            {
                "shard": [shard] * len(ks),
                "key": ks,
                "est": [summary[k] for k in ks],
                "err": [err] * len(ks),
                "n_shard": [n] * len(ks),
            }
        )

    return update


def _sharded(events: DataFrame, key_col: str, n_shards: int) -> DataFrame:
    # NULL keys are excluded up front: they have no frequency identity,
    # and letting them through would inflate n_shard (the error-bound
    # denominator) while pandas value_counts silently drops them from
    # the counts — a silent bound violation.
    return events.filter(F.col(key_col).isNotNull()).select(
        (token_hash24(salted(F.col(key_col), "hh")) % n_shards).alias("shard"),
        F.col(key_col).cast("string").alias("key"),
    )


def heavy_hitters_stream(
    events: DataFrame,
    key_col: str,
    capacity: int = 64,
    n_shards: int = 16,
) -> DataFrame:
    """Streaming sharded Misra–Gries summaries: one bounded summary per
    shard, updated per micro-batch, emitted in update mode as
    (shard, key, est, err, n_shard) rows. Total state is
    n_shards × capacity entries forever. Feed a memory sink and keep
    the LAST row per (shard, key) for the current summary;
    ``topk_from_summaries`` does the final metadata-sized cut."""
    if capacity <= 0 or n_shards <= 0:
        raise ValueError("capacity and n_shards must be positive")
    return (
        _sharded(events, key_col, n_shards)
        .groupBy("shard")
        .applyInPandasWithState(
            _make_update(capacity),
            outputStructType=HH_OUTPUT_SCHEMA,
            stateStructType=HH_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def heavy_hitters_batch(
    df: DataFrame,
    key_col: str,
    capacity: int = 64,
    n_shards: int = 16,
) -> DataFrame:
    """The batch twin: identical sharding + summary kernel over a static
    frame via grouped-map applyInPandas (one "micro-batch" containing
    everything). Equals the streaming result when the stream is replayed
    as a single availableNow batch — the q37-style parity pin — and
    agrees within ``err`` for any other micro-batching."""
    if capacity <= 0 or n_shards <= 0:
        raise ValueError("capacity and n_shards must be positive")

    def one_shot(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        batch = {k: int(c) for k, c in pdf["key"].value_counts().items()}
        summary, err = mg_merge_trim({}, batch, capacity)
        ks = sorted(summary)
        return pd.DataFrame(
            {
                "shard": [shard] * len(ks),
                "key": ks,
                "est": [summary[k] for k in ks],
                "err": [err] * len(ks),
                "n_shard": [len(pdf)] * len(ks),
            }
        )

    return (
        _sharded(df, key_col, n_shards)
        .groupBy("shard")
        .applyInPandas(one_shot, schema=HH_OUTPUT_SCHEMA)
    )


def topk_from_summaries(summaries: DataFrame, k: int) -> DataFrame:
    """Global approximate top-k from the union of shard summaries —
    metadata-sized input (≤ n_shards × capacity rows), so the order-by
    is trivial. Each key appears in exactly one shard; ``est`` is a
    lower bound and ``est + err`` an upper bound on its true count."""
    return summaries.orderBy(
        F.col("est").desc(), F.col("key").asc()
    ).limit(k)
