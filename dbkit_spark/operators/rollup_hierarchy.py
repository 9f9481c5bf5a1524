"""Multi-resolution rollup hierarchy (continuous-aggregate pattern).

The timeseries-DB "hypertable rollup": materialize the same aggregation at
several time resolutions (say 5m → 1h → 1d). The scale property is that
each coarser level is computed FROM THE PREVIOUS LEVEL, not from raw data:
at 100 TB the 5-minute level reduces the input by orders of magnitude, so
the 1-hour and 1-day passes are nearly free, where three independent
group-bys over raw events would scan 100 TB three times.

Only works for re-aggregable functions (sum/count/min/max; avg carried as
sum+count and finalized at read time) — the same restriction every
continuous-aggregate system has.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .iterate import checkpoint_and_release


_UNIT_SECONDS = {
    "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600, "day": 86400, "days": 86400,
}


def _duration_seconds(d: str) -> int:
    n, unit = d.split()
    if unit not in _UNIT_SECONDS:
        raise ValueError(f"unsupported duration unit in {d!r}")
    return int(n) * _UNIT_SECONDS[unit]


def _check_nesting(resolutions) -> None:
    """Each coarser resolution must be an exact multiple of the previous
    one: re-windowing level i-1 bucket STARTS only nests correctly when
    every finer bucket lies wholly inside one coarser bucket. A 7-minute
    level under a 1-hour level would silently assign a [06:56,07:03)
    bucket's rows to the 06:00 hour — loud error instead."""
    secs = [_duration_seconds(r) for r in resolutions]
    for finer, coarser in zip(secs, secs[1:]):
        if coarser % finer != 0:
            raise ValueError(
                f"resolutions must nest: {coarser}s is not a multiple of {finer}s"
            )


def rollup_hierarchy(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    value_col: str,
    resolutions: Sequence[str] = ("5 minutes", "1 hour", "1 day"),
) -> DataFrame:
    """Returns the union of all resolution levels, tagged by ``resolution``.

    Each level carries (n, total, vmin, vmax): count/sum/min/max of
    ``value_col``. Level 0 aggregates raw rows; level i>0 aggregates level
    i-1's partials (n summed, total summed, min of mins, max of maxes).
    Resolutions must nest (validated — see ``_check_nesting``).

    Each level is held in the session cache for the one job that
    checkpoints the union, then released: the union reads every level,
    and level i feeds level i+1, so without the barrier Catalyst
    re-derives each level from raw per union branch (measured: 3
    branches -> 3 raw scans, no ReuseExchange across the union). That is
    the in-session analogue of materializing each continuous-aggregate
    level to a table, which production does at 100 TB. ``_rollup_plan``
    gives the lazy levels and union for plan inspection.
    """
    levels, out = _rollup_plan(df, ts_col, keys, value_col, resolutions)
    return checkpoint_and_release(out, *levels)


def _rollup_plan(
    df: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    value_col: str,
    resolutions: Sequence[str],
) -> tuple[list[DataFrame], DataFrame]:
    """The lazy plan of ``rollup_hierarchy``: (the levels, finest first;
    their tagged union). Read the union's plan inside ``held(*levels)``
    to see it as ``rollup_hierarchy`` runs it."""
    _check_nesting(resolutions)
    # level 0: raw -> finest resolution
    cur = (
        df.groupBy(F.window(ts_col, resolutions[0]), *keys)
        .agg(
            F.count("*").alias("n"),
            F.sum(value_col).alias("total"),
            F.min(value_col).alias("vmin"),
            F.max(value_col).alias("vmax"),
        )
        .select(
            F.col("window.start").alias("bucket"),
            *keys,
            "n",
            "total",
            "vmin",
            "vmax",
        )
    )
    levels = [cur]
    # level i: re-aggregate level i-1 partials into coarser buckets
    for res in resolutions[1:]:
        cur = (
            cur.groupBy(F.window("bucket", res), *keys)
            .agg(
                F.sum("n").alias("n"),
                F.sum("total").alias("total"),
                F.min("vmin").alias("vmin"),
                F.max("vmax").alias("vmax"),
            )
            .select(
                F.col("window.start").alias("bucket"),
                *keys,
                "n",
                "total",
                "vmin",
                "vmax",
            )
        )
        levels.append(cur)
    out = levels[0].withColumn("resolution", F.lit(resolutions[0]))
    for lv, res in zip(levels[1:], resolutions[1:]):
        out = out.unionByName(lv.withColumn("resolution", F.lit(res)))
    return levels, out


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """MERGE/upsert as a pure DataFrame transform: rows in ``updates``
    replace same-key rows in ``target``; new keys are inserted; unmatched
    target rows pass through. Equivalent to
    ``MERGE INTO target USING updates ON keys WHEN MATCHED THEN UPDATE
    WHEN NOT MATCHED THEN INSERT``.

    One shuffle on the key (the anti-join and the union reuse the same
    partitioning). Updates must be key-unique — enforced eagerly, because a
    multi-match MERGE is nondeterministic and every SQL engine rejects it.
    At 100 TB: partition/bucket the target by key so repeated daily merges
    skip the target-side shuffle.
    """
    kl = list(keys)
    dup = updates.groupBy(*kl).count().filter(F.col("count") > 1).limit(1).count()
    if dup:
        raise ValueError("updates must be unique per key for a deterministic merge")
    kept = target.join(updates.select(*kl), kl, "left_anti")
    return kept.unionByName(updates)
