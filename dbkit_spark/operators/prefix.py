"""Distributed prefix scan — cumulative SUM/MAX/MIN/COUNT over a global
order with NO single-partition window.

``SUM(x) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)`` is the canonical
scale-killer: Spark plans the empty-PARTITION BY window as ONE reducer
holding the whole dataset. ``stable_row_number`` retired that class for
ROW_NUMBER; this operator retires it for cumulative aggregates — the
classic two-phase parallel prefix scan (Blelloch), expressed in
DataFrame ops:

1. **Bucket by value range** (not by ``spark_partition_id``): derive
   k−1 boundaries on the lead order column via ``approxQuantile`` (one
   distributed GK pass, driver gets a metadata-sized list), then a
   map-side literal comparison chain assigns each row a bucket id that
   is MONOTONE in the order key — the q79 sampled-boundaries discipline
   shared with quantile_bin/drift. Every row in bucket b sorts before
   every row in bucket b+1, so a bucket-local prefix plus a cross-bucket
   offset is the exact global prefix.
2. **Bucket-local prefix** via ``Window.partitionBy(bucket)`` — the ONE
   full-data hash exchange in the plan, balanced because the buckets
   are equi-depth by construction. (Bucketing on the VALUE domain
   rather than repartitionByRange + spark_partition_id means the window
   exchange IS the partitioning step — one exchange, not two.)
3. **Cross-bucket offsets**: per-bucket totals (k-row aggregate) are
   prefix-combined with the bounded-scalar ``pmod(bucket, 1)`` window
   (k rows through one reducer — the same metadata-sized class as
   stable_row_number's offsets, never data-sized) and broadcast-joined
   back on the bucket id.

Result equals the single-reducer window bit-for-bit when ``order_by``
is a total order (pass a tiebreaker — the standard ROWS-frame
contract; under ties ROWS numbering is arbitrary in any engine).
SUM should aggregate a decimal column when cross-engine/bit-exact
prefixes are required: decimal addition is associative so the
local+offset regrouping is exact, while double addition is
order-sensitive (the engine-wide decimal-carry rule).

ANSI null semantics are preserved: a prefix with no non-null values
yet is NULL (not 0), max/min skip nulls via ``greatest``/``least``.

At 100 TB: one GK boundary pass + one balanced hash exchange + a
k-row side agg — the same cost class as any groupBy. Skew caveat:
a single order-key value heavier than ~n/k rows lands in one bucket
(equi-depth boundaries can't split equal keys); that is inherent to
ordered prefix semantics, not this implementation.

Plan-gated (no SinglePartition) in tests/test_round8.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_AGGS = {"sum", "max", "min", "count"}


def _order_cols(order_by: list) -> list[Column]:
    cols = []
    for o in order_by:
        if isinstance(o, tuple):
            name, direction = o
            c = F.col(name)
            cols.append(c.desc() if direction.lower().startswith("d") else c.asc())
        else:
            cols.append(F.col(o).asc())
    return cols


def prefix_agg(
    df: DataFrame,
    order_by: list,
    value_col: str,
    agg: str = "sum",
    out_col: str | None = None,
    inclusive: bool = True,
    n_buckets: int | None = None,
    rel_err: float = 0.001,
    boundaries: list[float] | None = None,
) -> DataFrame:
    """``df`` + ``out_col``: the cumulative ``agg`` of ``value_col``
    over rows at-or-before (``inclusive=True``) or strictly before
    (``inclusive=False``) the current row in ``order_by`` order.

    ``order_by``: list of column names (ascending) or ``(name, "asc" |
    "desc")`` tuples. The LEAD column must be ascending and numeric /
    date / timestamp (it drives range bucketing); trailing tiebreakers
    may be any type or direction. Should form a total order for a
    deterministic result.

    ``boundaries``: optional precomputed bucket split points in the
    lead column's NUMERIC image (days for DATE, microseconds for
    timestamps, the value itself otherwise) — e.g. from
    ``sources.readers.footer_lead_boundaries``, which estimates them
    from the footer statistics of every file of a parquet dataset with
    zero data read. When given, the ``approxQuantile`` boundary pass
    (one full scan per execution) is skipped. Results are IDENTICAL for
    any monotone boundary set — the bucket-local + cross-bucket-offset
    combine is exact regardless of balance (OPTIMIZATION_r16); boundary
    quality affects only skew.
    """
    if agg not in _AGGS:
        raise ValueError(f"agg must be one of {sorted(_AGGS)}, got {agg!r}")
    if not order_by:
        raise ValueError("order_by must be non-empty")
    lead = order_by[0]
    if isinstance(lead, tuple):
        if lead[1].lower().startswith("d"):
            raise ValueError("lead order column must be ascending (negate it)")
        lead = lead[0]
    out_col = out_col or f"prefix_{agg}"
    k = n_buckets or df.sparkSession.sparkContext.defaultParallelism

    lead_field = df.schema[lead]
    lead_type = lead_field.dataType.typeName()
    if lead_type in ("date", "timestamp", "timestamp_ntz"):
        # monotone numeric image of the temporal key (ntz pinned via UTC
        # so the bucketing is timezone-independent)
        if lead_type == "date":
            lead_num = F.unix_date(F.col(lead)).cast("double")
        else:
            # ntz -> ltz via the session zone: a fixed-zone wall-to-instant
            # map is monotone non-decreasing, which is all bucketing needs
            lead_num = F.unix_micros(F.col(lead).cast("timestamp")).cast(
                "double"
            )
        if boundaries is None and k > 1:
            num_src = df.select(lead_num.alias("_k"))
            boundaries = num_src.stat.approxQuantile("_k", [i / k for i in range(1, k)], rel_err)
    elif lead_type in ("integer", "long", "short", "byte", "float", "double") or lead_type.startswith("decimal"):
        lead_num = F.col(lead).cast("double")
        if boundaries is None and k > 1:
            boundaries = df.stat.approxQuantile(lead, [i / k for i in range(1, k)], rel_err)
    else:
        raise ValueError(
            f"lead order column {lead!r} has type {lead_type}; bucket on a "
            "numeric/date/timestamp key (pre-map strings to a sortable key)"
        )
    boundaries = boundaries or []
    # dedupe + sort: equal boundaries waste buckets but stay monotone
    edges = sorted(set(float(b) for b in boundaries))

    # monotone map-side bucket id: 0 + one per strictly-exceeded edge, so
    # x <= y  =>  bucket(x) <= bucket(y); NULL lead keys -> bucket 0
    # (Spark ASC sorts NULLS FIRST, and bucket 0 is the first bucket).
    bucket = F.lit(0)
    for e in edges:
        bucket = bucket + F.when(lead_num > F.lit(e), 1).otherwise(0)
    tagged = df.withColumn("_bucket", bucket.cast("int"))

    order = _order_cols(order_by)
    upper = 0 if inclusive else -1
    w_local = (
        Window.partitionBy("_bucket")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, upper)
    )
    v = F.col(value_col)
    agg_fn = {"sum": F.sum, "max": F.max, "min": F.min, "count": F.count}[agg]
    local = tagged.withColumn("_local", agg_fn(v).over(w_local))

    # k-row per-bucket totals -> EXCLUSIVE cross-bucket prefix. pmod(b,1)
    # is constantly 0 but non-foldable, keeping the plan out of
    # SinglePartition (the stable_row_number trick).
    w_off = (
        Window.partitionBy(F.pmod(F.col("_bucket"), F.lit(1)))
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # cross-bucket combine: COUNT partials merge by SUM, everything else
    # by its own aggregate
    merge_fn = F.sum if agg == "count" else agg_fn
    # The totals branch re-reads the source rather than sharing the
    # window's exchange: its partial aggregate combines map-side, so the
    # branch shuffles only k rows against the window branch's full-data
    # exchange — a second PRUNED scan is the cheaper trade at any scale
    # (probed in OPTIMIZATION_r16: forcing both branches through one
    # explicit repartition never fires exchange reuse, because column
    # pruning specializes each branch's copy of the subtree, and it
    # upgrades this branch's k-row shuffle to a full-data one).
    offsets = (
        tagged.groupBy("_bucket")
        .agg(agg_fn(v).alias("_tot"))
        .withColumn("_offset", merge_fn(F.col("_tot")).over(w_off))
        .select("_bucket", "_offset")
    )

    lo, off = F.col("_local"), F.col("_offset")
    if agg in ("sum", "count"):
        combined = (
            F.when(lo.isNull() & off.isNull(), F.lit(None))
            .otherwise(F.coalesce(lo, F.lit(0)) + F.coalesce(off, F.lit(0)))
        )
        if agg == "count":
            combined = F.coalesce(combined, F.lit(0)).cast("long")
    elif agg == "max":
        combined = F.greatest(lo, off)
    else:
        combined = F.least(lo, off)

    return (
        local.join(F.broadcast(offsets), "_bucket")
        .withColumn(out_col, combined)
        .drop("_bucket", "_local", "_offset")
    )


def plan_shards(
    df: DataFrame,
    size_col: str,
    target_bytes: int,
    order_by: list | None = None,
    out_col: str = "shard",
) -> DataFrame:
    """Deterministic shard/compaction planning: assign each item (a
    document to export, a small file to compact) to an output shard of
    ~``target_bytes`` by walking items in ``order_by`` order and cutting
    a new shard each time the running size crosses the target —
    ``shard = floor(exclusive_prefix_sum(size) / target)``.

    The classic greedy writer loop, made distributed and rerunnable: the
    assignment is a pure function of (order, sizes), so two runs — or
    two engines — produce the identical plan (vs first-fit-decreasing
    bin packing, which is inherently sequential state). Each shard's
    fill lands in [target − max_item, target + max_item); items larger
    than ``target_bytes`` get a shard of their own, never split.

    Scale shape: one prefix_agg (one balanced exchange); the plan for a
    billion files is itself a DataFrame, never driver-resident.
    """
    if target_bytes <= 0:
        raise ValueError("target_bytes must be positive")
    order_by = order_by or [size_col]
    with_prefix = prefix_agg(
        df,
        order_by,
        size_col,
        agg="sum",
        out_col="_before",
        inclusive=False,
    )
    # integer DIV, not double floor-division: prefix sums past 2^53 bytes
    # (a ~9 PB corpus) would lose precision as doubles
    return (
        with_prefix.withColumn(
            out_col,
            F.expr(
                f"CAST(coalesce(_before, 0) DIV CAST({int(target_bytes)} AS BIGINT)"
                " AS BIGINT)"
            ),
        )
        .drop("_before")
    )


def weighted_quantile(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    qs: list[float],
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """EXACT weighted quantiles (lower/type-1: the smallest value whose
    cumulative weight reaches q·W) — frequency-weighted percentiles,
    which ``percentile_approx``/``percentile`` cannot express.

    Scale shape: one :func:`prefix_agg` over (value, tiebreaks) for the
    running weight (one balanced exchange, no SinglePartition), a 1-row
    total broadcast, then ONE aggregate holding a conditional MIN per
    requested q — |qs| map-side-combined columns, not |qs| passes.

    Weights must be non-negative integers (counts/frequencies — cast
    upstream): the cumulative sum stays an exact BIGINT, and the only
    float op is the q·W threshold multiply, identical IEEE in any
    engine. Zero-weight rows are excluded (they carry no mass and
    would otherwise be eligible as 'smallest value at the boundary').

    Output: one row per q — (q, value) with value as double.
    """
    if not qs:
        raise ValueError("qs must be non-empty")
    if any(not 0.0 < q <= 1.0 for q in qs):
        raise ValueError("each q must be in (0, 1]")
    order = [value_col] + list(tiebreak_cols or [])
    w = F.col(weight_col).cast("long")
    base = df.filter(w.isNotNull() & (w > 0) & F.col(value_col).isNotNull()).select(
        *[F.col(c) for c in order], w.alias("_w")
    )
    cum = prefix_agg(base, order, "_w", agg="sum", out_col="_cw")
    total = base.agg(F.sum("_w").alias("_tw"))
    joined = cum.join(F.broadcast(total))
    aggs = [
        F.min(
            F.when(
                F.col("_cw") >= F.lit(float(q)) * F.col("_tw"),
                F.col(value_col).cast("double"),
            )
        ).alias(f"_q{i}")
        for i, q in enumerate(qs)
    ]
    wide = joined.agg(*aggs)
    stacked = wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(float(q)).alias("q"), F.col(f"_q{i}").alias("value")
                    )
                    for i, q in enumerate(qs)
                ]
            )
        ).alias("r")
    )
    return stacked.select("r.q", "r.value")
