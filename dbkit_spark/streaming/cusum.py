"""Streaming CUSUM drift detection — the stateful-stream twin of
`operators/drift.cusum_scores`.

The batch operator answers "where did this (finished) series shift?";
the monitoring deployment needs the same recursion over an UNBOUNDED
stream: per-key (s+, s−) state carried across micro-batches, each new
event advancing the recursion exactly as a batch replay would. Same
accumulation, two runtimes — the batch/stream parity discipline of the
session-window and windowed-PSI families (SURVEY §2.9); both runtimes
step through the one recursion ``drift._cusum_walk``.

Contract: the input stream already carries the standardized ``z``
column (in production a stream-static broadcast join against a
reference-period stats table — exactly what the parity test does; the
reference-window mean/std is a BATCH quantity by definition, the
monitored stream must not move its own yardstick). Within a micro-batch
a key's rows are sorted by the order column; across batches the file
source's per-file ordering is the replay contract (the q215 ingest-loop
rule). State is two doubles per key — RocksDB-ready, O(keys) memory.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.drift import _cusum_walk


def streaming_cusum(
    zstream: DataFrame,
    key_col: str,
    order_col: str,
    k: float = 0.5,
    h: float = 5.0,
) -> DataFrame:
    """Per-row CUSUM scores over a stream of (key, order, z) —
    s+/s−/alarm per event, recursion state carried across
    micro-batches. Output mode: update (each batch emits its rows)."""
    kk, hh = float(k), float(h)
    dtypes = dict(zstream.dtypes)
    out_schema = (
        f"{key_col} {dtypes[key_col]}, {order_col} {dtypes[order_col]}, "
        "z double, s_pos double, s_neg double, alarm boolean"
    )
    state_schema = "s_pos double, s_neg double"

    def update(
        key: tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        sp, sn = state.get if state.exists else (0.0, 0.0)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        sps, sns, alarms, carried = _cusum_walk(pdf["z"], sp, sn, kk, hh)
        state.update(carried)
        yield pd.DataFrame(
            {
                key_col: [key[0]] * len(pdf),
                order_col: pdf[order_col],
                "z": pdf["z"],
                "s_pos": sps,
                "s_neg": sns,
                "alarm": alarms,
            }
        )

    return (
        zstream.select(key_col, order_col, "z")
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
