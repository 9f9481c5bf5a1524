"""Event-time window aggregation builders (SURVEY.md §2.9).

Each builder works on BOTH a batch DataFrame and a streaming DataFrame —
the Spark API is deliberately symmetric, so the same logical aggregation
is testable in batch (with a DuckDB oracle) and replayable as a stream
(``runner.run_available_now``).

Scale notes: event-time windows group-shuffle on (window, keys); with
watermarks, streaming state is bounded by the watermark horizon. Session
windows merge in the state store — the gap bounds state lifetime per key.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _window_agg(
    df: DataFrame,
    window: Column,
    struct: str,
    prefix: str,
    keys: Sequence[str],
    aggs: dict[str, Column],
) -> DataFrame:
    """Group by the ``window`` column (named ``struct``) and ``keys``;
    select the window bounds as ``<prefix>_start``/``<prefix>_end``, then
    the keys, then the aggregates."""
    out = df.groupBy(window, *keys).agg(*[c.alias(n) for n, c in aggs.items()])
    return out.select(
        F.col(f"{struct}.start").alias(f"{prefix}_start"),
        F.col(f"{struct}.end").alias(f"{prefix}_end"),
        *keys,
        *aggs.keys(),
    )


def tumbling_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: Sequence[str],
    aggs: dict[str, Column],
) -> DataFrame:
    """Fixed-size non-overlapping event-time windows (epoch-aligned)."""
    return _window_agg(df, F.window(ts_col, duration), "window", "window", keys, aggs)


def sliding_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    keys: Sequence[str],
    aggs: dict[str, Column],
) -> DataFrame:
    """Overlapping windows: each event lands in duration/slide windows."""
    return _window_agg(
        df, F.window(ts_col, duration, slide), "window", "window", keys, aggs
    )


def session_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: Sequence[str],
    aggs: dict[str, Column],
) -> DataFrame:
    """Session windows: events within ``gap`` of the previous event merge;
    a new session starts when the inter-event gap is >= ``gap``.
    Session end = last event + gap (Spark semantics)."""
    return _window_agg(
        df, F.session_window(ts_col, gap), "session_window", "session", keys, aggs
    )
