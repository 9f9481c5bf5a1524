"""foreachBatch incremental-upsert sink (§2.9 output surface).

The production streaming pattern Structured Streaming itself does not
provide as a built-in sink: maintain an aggregate STATE TABLE that each
micro-batch merges into (counts accumulate, "latest" columns resolve by
event time), with the state readable between and after batches. With a
transactional table format this is `foreachBatch + MERGE`; on plain
parquet the engine uses versioned state directories (write-new-version,
never rewrite-in-place), which is also what keeps it safe on object
stores where overwrite-in-place is not atomic.

Scale properties (SCALE.md):
- each batch shuffles only (batch partials ∪ previous state) — both
  keyed, state-sized, never raw-history-sized; the merge is a union +
  re-aggregation, so Catalyst plans one hash agg, no join.
- partial aggregates must be RE-AGGREGABLE (sum/count/min/max/max_by
  carrying its key) — the same restriction as rollup_hierarchy; decimal
  carries make float sums batch-order-independent, so the final state is
  bit-identical to a batch aggregation of the full history.
- state versions are pruned to the last ``keep_versions`` so the
  directory does not grow with stream lifetime.
"""

from __future__ import annotations

import shutil
from typing import Callable

from pyspark.sql import DataFrame

from .runner import _drive


def run_incremental_upsert(
    stream_df: DataFrame,
    partial_agg: Callable[[DataFrame], DataFrame],
    merge_agg: Callable[[DataFrame], DataFrame],
    state_dir: str,
    timeout_sec: int = 240,
    keep_versions: int = 2,
) -> DataFrame:
    """Drive ``stream_df`` to completion (availableNow) merging every
    micro-batch into a parquet state table; return the final state.

    ``partial_agg`` maps a raw batch to state-shaped rows;
    ``merge_agg`` re-aggregates state-shaped rows by key. Invariant:
    ``merge_agg(partial_agg(a) ∪ partial_agg(b)) ==
    partial_agg(a ∪ b)`` — with that, the final state equals the batch
    aggregate of the whole input regardless of how the stream was split
    into micro-batches (asserted in tests/test_streaming_extended.py).
    """
    versions: list[str] = []  # foreachBatch runs on the driver, in order

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        partial = partial_agg(batch_df)
        if versions:
            prev = spark.read.parquet(versions[-1])
            partial = prev.unionByName(partial)
        merged = merge_agg(partial)
        path = f"{state_dir}/v{batch_id:09d}"
        merged.write.mode("overwrite").parquet(path)
        versions.append(path)
        for stale in versions[:-keep_versions]:
            shutil.rmtree(stale, ignore_errors=True)
        del versions[:-keep_versions]

    writer = stream_df.writeStream.foreachBatch(_merge).option(
        "checkpointLocation", f"{state_dir}/_checkpoint"
    )
    _drive(writer, "incremental upsert", timeout_sec)
    if not versions:
        raise RuntimeError("stream produced no micro-batches")
    return stream_df.sparkSession.read.parquet(versions[-1])
