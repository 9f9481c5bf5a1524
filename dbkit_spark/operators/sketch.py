"""Count-Min sketch: fixed-size frequency estimation over unbounded
key domains.

The 100 TB problem this solves: "how often does each of these keys
occur?" when the key domain is too large to hold exact counts (URLs,
user ids, n-grams). A Count-Min sketch (Cormode & Muthukrishnan 2005)
is a depth × width counter table; each key increments one counter per
hash row, and a point estimate is the MIN over its depth counters —
an overestimate by at most εN with probability 1-δ for
width = ⌈e/ε⌉, depth = ⌈ln 1/δ⌉.

Spark design: the per-row depth-way expansion is a map-side
``transform`` over a ``sequence`` literal (codegen, no Python), and a
single hash aggregation with map-side combine reduces to the
depth × width cells — the shuffle carries O(depth·width) rows per
task, never per input row, so the exchange stays metadata-sized at
any corpus size. Hashing is the engine-wide portable md5 rule (first
6 hex digits of md5(key:salt:row)), so a DuckDB oracle replays the
ENTIRE table and every estimate digit-for-digit — unusual for a
sketch, and exactly why the family is testable here.

Complements the rest of the sketch family: HLL / approx_count_distinct
(distinct counts), KMV (join sizing, `operators/cardinality.py`),
Misra–Gries (heavy hitters, `streaming/heavy_hitters.py`), GK
(quantiles). CM is the point-frequency member.

Reference trace: none — dbkit stops at ToStr (`expression/convert.rs`);
sketches are north-star roadmap surface (`README.md:31-38`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.portable_hash import salted, u32_md5
from ..functions.text import token_hash24


def _cm_bucket(key: Column, row_idx: Column, salt: str, width: int) -> Column:
    """Portable md5 bucket for hash row ``row_idx``: first 6 hex digits
    of md5(key:salt:row) mod width — digit-replayable in any engine."""
    return token_hash24(salted(key, salt, row_idx)) % F.lit(width)


def cm_sketch(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    salt: str = "cm",
) -> DataFrame:
    """Build the sketch: ``(row, bucket, cnt)`` — depth × width cells
    (absent cells are zero). One map-side expansion + one hash agg;
    never a per-key table."""
    rows = F.sequence(F.lit(0), F.lit(depth - 1))
    pairs = F.transform(
        rows,
        lambda i: F.struct(
            i.alias("r"),
            _cm_bucket(F.col(key_col), i, salt, width).alias("b"),
        ),
    )
    return (
        df.select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.r").cast("int").alias("row"),
            F.col("p.b").cast("int").alias("bucket"),
        )
        .agg(F.count("*").alias("cnt"))
    )


def cm_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    salt: str = "cm",
) -> DataFrame:
    """Point estimates for the probe keys: est = MIN over the key's
    depth cells. The sketch (≤ depth·width rows) broadcasts; the probe
    side computes its buckets map-side and joins on (row, bucket) —
    no corpus re-scan, no shuffle of the probe side beyond its own
    depth-way expansion + per-key agg.

    ``depth``/``width``/``salt`` must match the build call (they are
    part of the sketch identity, like an index's hash family).
    """
    rows = F.sequence(F.lit(0), F.lit(depth - 1))
    pairs = F.transform(
        rows,
        lambda i: F.struct(
            i.alias("r"),
            _cm_bucket(F.col(key_col), i, salt, width).alias("b"),
        ),
    )
    probe_cells = probes.select(
        F.col(key_col), F.explode(pairs).alias("p")
    ).select(
        key_col,
        F.col("p.r").cast("int").alias("row"),
        F.col("p.b").cast("int").alias("bucket"),
    )
    return (
        probe_cells.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cm_est"))
    )


def cm_sketch_sql(
    table_expr: str,
    key_sql: str,
    depth: int = 4,
    width: int = 256,
    salt: str = "cm",
) -> str:
    """DuckDB twin of :func:`cm_sketch` — replays the md5 bucketing
    digit-for-digit (the oracle-portability contract)."""
    row_hash = (
        f"CAST(list_sum(list_transform(generate_series(1, 6), i -> "
        f"CAST((strpos('0123456789abcdef', substr(md5(concat("
        f"{key_sql}, ':{salt}:', CAST(r AS VARCHAR))), i, 1)) - 1) "
        f"AS BIGINT) * CAST(power(16, 6 - i) AS BIGINT))) AS BIGINT) "
        f"% {width}"
    )
    return f"""
    SELECT CAST(r AS INTEGER) AS row,
           CAST({row_hash} AS INTEGER) AS bucket,
           COUNT(*) AS cnt
    FROM {table_expr}
    CROSS JOIN (SELECT unnest(generate_series(0, {depth - 1})) AS r)
    GROUP BY 1, 2
    """


# --- t-digest: mergeable quantile sketch ------------------------------------
# The quantile member of the sketch family (Dunning & Ertl 2019, "Computing
# extremely accurate quantiles using t-digests"): centroids sized by the k1
# scale function so bins are fine near q=0/1 and coarse mid-distribution —
# relative rank error stays bounded at the tails, which is what p99 latency
# / max-length token budgeting actually needs. Complements GK (exact-bound
# offline quantiles) and the approxQuantile grids in operators/drift.py:
# a t-digest is MERGEABLE, so partial digests build map-side and combine
# associatively — the sketch you ship between pipeline stages.
#
# Determinism contract (the engine replayability rule): partial digests are
# keyed by a data-derived md5 salt (never spark_partition_id), partial and
# final builds consume their inputs in (value) / (mean, weight) sorted
# order, and the compression is a pure function of that ordered stream —
# the same DataFrame produces the same digest under any partitioning.
# Quantile ESTIMATES are approximations, so catalog anchors are rows-only
# with pytest accuracy bounds (the HLL/q20 precedent); the structure
# (centroid count bound, weight conservation) is exactly testable.


def _tdigest_k1(q: float, delta: int) -> float:
    import math

    return delta / (2.0 * math.pi) * math.asin(2.0 * q - 1.0)


def _tdigest_compress(
    pairs: "list[tuple[float, float]]", delta: int
) -> "list[tuple[float, float]]":
    """Single merging pass over (value, weight) pairs ALREADY sorted by
    value: greedily grow a centroid while the k1 size limit allows, else
    flush. Pure function of the ordered stream."""
    total = sum(w for _v, w in pairs)
    if total <= 0:
        return []
    out: list[tuple[float, float]] = []
    cur_sum = 0.0  # sum(v*w) of the open centroid
    cur_w = 0.0
    w_before = 0.0  # weight fully flushed before the open centroid
    k_lo = _tdigest_k1(0.0, delta)
    for v, w in pairs:
        q_new = (w_before + cur_w + w) / total
        if cur_w > 0 and _tdigest_k1(min(q_new, 1.0), delta) - k_lo > 1.0:
            out.append((cur_sum / cur_w, cur_w))
            w_before += cur_w
            k_lo = _tdigest_k1(w_before / total, delta)
            cur_sum, cur_w = 0.0, 0.0
        cur_sum += v * w
        cur_w += w
    if cur_w > 0:
        out.append((cur_sum / cur_w, cur_w))
    return out


def tdigest_build(
    df: DataFrame,
    value_col: str,
    group_cols: "list[str]",
    delta: int = 100,
    fanout: int = 32,
) -> DataFrame:
    """Per-group t-digest: (group..., centroid, mean, weight).

    Two-level build: level 1 compresses each (group, md5-salt) shard at
    4·delta resolution (the Dunning partial-resolution rule: compressing
    partials finer than the final digest keeps the merge error
    second-order); level 2 merges each group's ≤ fanout·O(delta) partial
    centroids — a few KB — into the final ≤ O(delta) digest. After
    level 1 every exchange carries centroid rows only: (groups · fanout
    · 4δ) rows total at any input size.

    Level-1 memory bound (ADVICE r10): duplicate values are
    pre-aggregated to (value, count) with a map-side-combined hash agg
    BEFORE sharding, so a level-1 pandas frame holds at most
    ``distinct_values(group) / fanout`` rows — a dominant repeated
    value is ONE weighted row, never a data-sized shard, and the
    pre-agg shuffle ships per-partition-distinct rows rather than raw
    data. The residual bound is real and left to the caller: for a
    continuous column (all values distinct) a shard is ~n/fanout rows,
    so size ``fanout ≈ rows_per_group / 5e6`` to keep shards inside an
    executor Arrow batch; the default 32 is sized for ~1e8 distinct
    values per group. Salting is by VALUE hash (determinism requires
    it), so identical values always co-locate — the pre-agg is what
    makes that safe under skew.
    """
    import pandas as pd

    src = (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, F.col(value_col).cast("double").alias("_v"))
        .groupBy(*group_cols, "_v")
        .agg(F.count("*").cast("double").alias("_w"))
        .withColumn("_s", u32_md5(F.col("_v"), "td") % fanout)
    )
    def gschema(extra: str) -> str:
        gs = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in
                       df.select(*group_cols).schema.fields)
        return f"{gs}, {extra}"

    def build_partial(pdf: pd.DataFrame) -> pd.DataFrame:
        pairs = sorted(zip(pdf["_v"].tolist(), pdf["_w"].tolist()))
        cents = _tdigest_compress(pairs, 4 * delta)
        head = pdf.iloc[0]
        return pd.DataFrame(
            {
                **{g: [head[g]] * len(cents) for g in group_cols},
                "mean": [m for m, _w in cents],
                "weight": [w for _m, w in cents],
            }
        )

    partial = src.groupBy(*group_cols, "_s").applyInPandas(
        build_partial, gschema("mean double, weight double")
    )
    return tdigest_merge(partial, group_cols, delta)


def tdigest_quantiles(
    digest: DataFrame,
    group_cols: "list[str]",
    probs: "list[float]",
) -> DataFrame:
    """Quantile estimates from a :func:`tdigest_build` digest:
    (group..., p, est, n). Standard t-digest readout — centroids at
    their cumulative-weight midpoints, linear interpolation between
    adjacent midpoints, clamped to the extreme centroid means. The
    digest is metadata-sized per group, so this is one Arrow batch per
    group, no data-table access."""
    import pandas as pd

    gs = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in digest.select(*group_cols).schema.fields
    )

    def readout(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["mean", "weight"]).reset_index(drop=True)
        means = pdf["mean"].tolist()
        ws = pdf["weight"].tolist()
        total = sum(ws)
        mids = []
        acc = 0.0
        for w in ws:
            mids.append(acc + w / 2.0)
            acc += w
        head = pdf.iloc[0]
        ests = []
        for p in probs:
            target = p * total
            if target <= mids[0]:
                ests.append(means[0])
                continue
            if target >= mids[-1]:
                ests.append(means[-1])
                continue
            hi = next(i for i, m in enumerate(mids) if m >= target)
            lo = hi - 1
            frac = (target - mids[lo]) / (mids[hi] - mids[lo])
            ests.append(means[lo] + frac * (means[hi] - means[lo]))
        return pd.DataFrame(
            {
                **{g: [head[g]] * len(probs) for g in group_cols},
                "p": probs,
                "est": ests,
                "n": [total] * len(probs),
            }
        )

    return digest.groupBy(*group_cols).applyInPandas(
        readout, f"{gs}, p double, est double, n double"
    )


def tdigest_merge(
    digest: DataFrame,
    group_cols: "list[str]",
    delta: int = 100,
) -> DataFrame:
    """Merge t-digest centroid rows per group into a fresh ≤ O(delta)
    digest — the MERGE-ONLY incremental-maintenance half of the sketch
    (Dunning & Ertl: t-digests are a commutative monoid under merge):
    union per-day / per-batch / per-partition digest tables and merge,
    never re-touching data rows. With :func:`tdigest_build` run per
    micro-batch this is streaming quantiles under the q353 watermark
    discipline: state per group is centroid rows, not values.

    Input: any union of digest outputs — (group..., mean, weight)
    (a ``centroid`` index column is ignored if present). Output:
    (group..., centroid, mean, weight) — this is also the final level
    of ``tdigest_build``, over its level-1 partials. Deterministic:
    centroid pairs are consumed in (mean, weight) sorted order, so the
    same input rows merge identically under any partitioning. The
    shuffle carries centroid rows only; an Arrow batch per group holds
    the unioned centroids (n_batches · O(delta) rows — metadata-sized
    for any sane batch count; re-merge hierarchically if batches
    outnumber ~10^4)."""
    import pandas as pd

    def gschema(extra: str) -> str:
        gs = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in digest.select(*group_cols).schema.fields
        )
        return f"{gs}, {extra}"

    def merge_final(pdf: pd.DataFrame) -> pd.DataFrame:
        pairs = sorted(zip(pdf["mean"], pdf["weight"]))
        cents = _tdigest_compress([(m, w) for m, w in pairs], delta)
        head = pdf.iloc[0]
        return pd.DataFrame(
            {
                **{g: [head[g]] * len(cents) for g in group_cols},
                "centroid": list(range(len(cents))),
                "mean": [m for m, _w in cents],
                "weight": [w for _m, w in cents],
            }
        )

    return (
        digest.select(*group_cols, "mean", "weight")
        .groupBy(*group_cols)
        .applyInPandas(merge_final, gschema("centroid int, mean double, weight double"))
    )
