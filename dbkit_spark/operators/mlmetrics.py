"""Distributed model-evaluation metrics.

A training-data pipeline ends in a model, and the pipeline engine is
where its evaluation happens at scale (scoring a 10^10-row holdout is a
data job, not an ML-library job). The reference stops at scan/project
(`operation/mod.rs` roadmap), so this is north-star surface: exact
grouped ROC-AUC via the Mann-Whitney rank-sum identity, plus a
histogram-binned approximation for corpora where even a per-group sort
is too much.

Cross-engine exactness: average ranks are multiples of 0.5, carried
doubled as exact LONGs so the rank-sum is order-independent and
bit-exact at any parallelism; the final AUC is a single IEEE division
of exact operands, so no rounding is needed for the oracle hash.

The statistical tests share private kernels, one per job:
``_avg_rank2`` (doubled average rank and tie size from one window),
``_value_scan`` (per-value counts with exact cumulative-before counts
over the distinct-value frame), ``_complete_blocks`` (the listwise
complete-block filter), ``_block_rank_sums`` (mid-ranks within complete
blocks and their per-member sums), ``_sq_dev_reduce`` (the Σ(x − c)²
reduce of the blocked tests), ``_group_moments`` and ``_oneway`` (the
one-way between/within decomposition) and ``_poisson_bootstrap``
(Poisson-bootstrap replicate means and the percentile select). Each
kernel drops the rows whose ranked, scanned, blocked, grouped or
resampled value is NULL, and keeps its arithmetic integer- or
decimal-exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.portable_hash import salted, u32_md5
from ..functions.text import _hash24_u01, token_hash24


def _avg_rank2(
    df: DataFrame, part_cols: list[str], value_col: str, out: str
) -> DataFrame:
    """``df`` without its NULL ``value_col`` rows, plus ``out`` = the
    DOUBLED average rank 2·rank + t − 1 of ``value_col`` within
    ``part_cols`` (ascending; a tie group shares the mean of its rank
    range) and ``out + "_t"`` = the tie size t, both exact LONGs. The
    tie count is a RANGE CURRENT ROW frame over the rank's own sort, so
    Catalyst evaluates both in a single Window operator."""
    w = Window.partitionBy(*part_cols).orderBy(F.col(value_col).asc())
    t = F.count(F.lit(1)).over(
        w.rangeBetween(Window.currentRow, Window.currentRow)
    )
    return df.filter(F.col(value_col).isNotNull()).select(
        "*", (2 * F.rank().over(w) + t - 1).alias(out), t.alias(f"{out}_t")
    )


def _value_scan(
    df: DataFrame, part_cols: list[str], value_col: str, counts: list[str]
) -> DataFrame:
    """The distinct-value scan under the rank-sum tests. Drops NULL
    ``value_col`` rows, sums each ``counts`` column (as LONG) per
    distinct combination of the remaining columns — ``part_cols``,
    ``value_col`` and any extra grain key — then runs ONE ordered
    window per partition over that compressed frame. For each count
    ``c`` it adds ``c_at`` (the total at this (partition, value), i.e.
    the tie size when ``c`` counts rows), ``c_below`` (the total over
    strictly smaller values) and ``c_all`` (the partition total). RANGE
    frames make ``c_at``/``c_below`` per value even when an extra grain
    key splits a value over several rows."""
    grain = [c for c in df.columns if c not in counts]
    w = Window.partitionBy(*part_cols).orderBy(value_col)
    at = w.rangeBetween(Window.currentRow, Window.currentRow)
    upto = w.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    every = w.rangeBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    per = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*grain)
        .agg(*(F.sum(c).cast("long").alias(c) for c in counts))
    )
    scans = []
    for c in counts:
        scans += [
            F.sum(c).over(at).alias(f"{c}_at"),
            (F.sum(c).over(upto) - F.sum(c).over(at)).alias(f"{c}_below"),
            F.sum(c).over(every).alias(f"{c}_all"),
        ]
    return per.select(*grain, *counts, *scans)


def _complete_blocks(
    base: DataFrame, block_col: str, member_col: str, value_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The listwise complete-block filter of the blocked rank tests:
    (k frame, complete blocks, n_incomplete frame). k (``_k``) counts
    the distinct members over ALL of ``base``; a block is complete when
    its non-NULL ``value_col`` rows number exactly k over exactly k
    distinct members. The complete frame carries ``block_col`` and the
    block's value total ``_bsum``; incomplete blocks are only counted."""
    k_frame = base.agg(F.countDistinct(member_col).cast("long").alias("_k"))
    per_block = (
        base.filter(F.col(value_col).isNotNull())
        .groupBy(block_col)
        .agg(
            F.count(F.lit(1)).alias("_cnt"),
            F.countDistinct(member_col).alias("_nm"),
            F.sum(value_col).alias("_bsum"),
        )
        .crossJoin(F.broadcast(k_frame))
    )
    ok = (F.col("_cnt") == F.col("_k")) & (F.col("_nm") == F.col("_k"))
    n_bad = per_block.filter(~ok).agg(
        F.count(F.lit(1)).cast("long").alias("n_incomplete")
    )
    return k_frame, per_block.filter(ok).select(block_col, "_bsum"), n_bad


def _block_rank_sums(
    base: DataFrame, block_col: str, member_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The blocked rank-sum kernel over ``base`` = (``block_col``,
    ``member_col``, ``_v`` DOUBLE): (ranked rows, per-member sums,
    n_incomplete frame). Only ``_complete_blocks`` are ranked; a ranked
    row carries ``_r``, the mid-rank of ``_v`` within its block, and
    ``_tsz``, its tie size. Per member: ``_nb`` ranked rows (LONG) and
    ``_rsum`` = Σ round(r, 9) and ``_r2`` = Σ round(r², 9), both
    DECIMAL(25,9) sums, exact because mid-ranks are half-integers."""
    dec = "decimal(25,9)"
    _, complete, n_bad = _complete_blocks(base, block_col, member_col, "_v")
    ranked = _avg_rank2(
        base.join(complete.select(block_col), block_col), [block_col], "_v", "_r2"
    ).select(
        block_col,
        member_col,
        (F.col("_r2") / F.lit(2.0)).alias("_r"),
        F.col("_r2_t").alias("_tsz"),
    )
    r = F.col("_r")
    per_member = ranked.groupBy(member_col).agg(
        F.count(F.lit(1)).cast("long").alias("_nb"),
        F.sum(F.round(r, 9).cast(dec)).alias("_rsum"),
        F.sum(F.round(r * r, 9).cast(dec)).alias("_r2"),
    )
    return ranked, per_member, n_bad


def _sq_dev_reduce(frame: DataFrame, x: str, center: Column, *keep: str) -> DataFrame:
    """One row over ``frame``: ``_ss`` = Σ round((x − center)², 9),
    summed on DECIMAL(25,9) and read back as DOUBLE, and the max of each
    ``keep`` column (the 1-row scalars that ``frame`` repeats on every
    row)."""
    dev = F.col(x).cast("double") - center
    return frame.agg(
        F.sum(F.round(dev * dev, 9).cast("decimal(25,9)")).cast("double").alias("_ss"),
        *(F.max(c).alias(c) for c in keep),
    )


def _group_moments(base: DataFrame) -> DataFrame:
    """Per-group moments of ``base`` = (``_g``, ``_v`` DOUBLE) without
    its NULL ``_v`` rows: ``_ng`` (LONG count), ``_sv`` = Σ round(v, 9)
    and ``_qv`` = Σ round(v², 9), both DECIMAL(25,9) sums."""
    dec = "decimal(25,9)"
    v = F.col("_v")
    return (
        base.filter(v.isNotNull())
        .groupBy("_g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_ng"),
            F.sum(F.round(v, 9).cast(dec)).alias("_sv"),
            F.sum(F.round(v * v, 9).cast(dec)).alias("_qv"),
        )
    )


def _oneway(base: DataFrame) -> tuple[DataFrame, Column, Column]:
    """The one-way decomposition of ``base`` = (``_g``, ``_v`` DOUBLE),
    NULL values dropped: (one row, SSB, SSW). The row reduces the
    ``_group_moments`` frame to ``_k`` groups, ``_n`` values, ``_s`` =
    ΣS_g (DECIMAL), ``_q`` = ΣQ_g, ``_sb`` = Σ S_g²/n_g (each term a
    single IEEE division rounded 9dp back onto DECIMAL) and ``_n2`` =
    Σn_g² (LONG); SSB = ``_sb`` − (ΣS_g)²/N and SSW = ``_q`` − ``_sb``
    are Columns over that row."""
    sv = F.col("_sv").cast("double")
    agg = _group_moments(base).agg(
        F.count(F.lit(1)).cast("long").alias("_k"),
        F.sum("_ng").cast("long").alias("_n"),
        F.sum("_sv").alias("_s"),
        F.sum("_qv").cast("double").alias("_q"),
        F.sum(F.round(sv * sv / F.col("_ng"), 9).cast("decimal(25,9)"))
        .cast("double")
        .alias("_sb"),
        F.sum(F.col("_ng") * F.col("_ng")).cast("long").alias("_n2"),
    )
    s = F.col("_s").cast("double")
    ssb = F.col("_sb") - s * s / F.col("_n").cast("double")
    ssw = F.col("_q") - F.col("_sb")
    return agg, ssb, ssw


def _poisson_bootstrap(
    base: DataFrame, n_replicates: int, alpha: float, salt: str
) -> DataFrame:
    """Percentile-bootstrap kernel over ``base`` = (``_id``, ``_x``
    DECIMAL): each row draws a Poisson(1) weight per replicate from an
    inverse-CDF ladder over the engine-wide md5 uniform of
    ``id:replicate:salt``, so every engine draws the same resamples.
    Per replicate the weighted mean is ONE IEEE division of an exact
    decimal sum by an exact weight total. A replicate whose weights are
    all zero has no mean and is dropped; the lo/hi percentile ranks
    ceil(α/2·B') and ceil((1 − α/2)·B') come from the B' replicates
    that remain. One row: (``_lo``, ``_hi``, ``_frac_pos`` = share of
    replicate means above zero).

    Plan: a map-side ×B explode of the projected pair, one B-group hash
    agg (map-side combined), one B'-row rank select."""
    if n_replicates < 2:
        raise ValueError("n_replicates must be >= 2")
    if not 0.0 < alpha < 1.0:
        raise ValueError("alpha must be in (0, 1)")
    thresholds = _poisson1_thresholds()
    rep = base.select(
        "_id",
        "_x",
        F.explode(F.sequence(F.lit(1), F.lit(n_replicates))).alias("_rep"),
    )
    u = _hash24_u01(salted(F.col("_id"), F.col("_rep"), salt))
    w = F.lit(len(thresholds))
    for k in reversed(range(len(thresholds))):
        w = F.when(u < F.lit(thresholds[k]), k).otherwise(w)
    means = (
        rep.select("_rep", w.alias("_w"), (F.col("_x") * F.col("_w")).alias("_wx"))
        .groupBy("_rep")
        .agg(
            F.sum("_w").cast("long").alias("_wsum"),
            F.sum("_wx").alias("_wxsum"),
        )
        .filter(F.col("_wsum") > 0)
        .select(
            "_rep", (F.col("_wxsum").cast("double") / F.col("_wsum")).alias("_m")
        )
    )
    order = Window.orderBy(F.col("_m").asc(), F.col("_rep").asc())
    ranked = means.select(
        "_m",
        F.row_number().over(order).alias("_rk"),
        F.count(F.lit(1))
        .over(order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("_b"),
    )
    lo_rank = F.greatest(F.lit(1), F.ceil(F.lit(alpha / 2) * F.col("_b")))
    hi_rank = F.least(F.col("_b"), F.ceil(F.lit(1 - alpha / 2) * F.col("_b")))
    return ranked.agg(
        F.max(F.when(F.col("_rk") == lo_rank, F.col("_m"))).alias("_lo"),
        F.max(F.when(F.col("_rk") == hi_rank, F.col("_m"))).alias("_hi"),
        (F.count(F.when(F.col("_m") > 0, 1)) / F.count(F.lit(1))).alias(
            "_frac_pos"
        ),
    )


def auc_by_group(
    df: DataFrame,
    group_cols: list[str],
    label_col: str,
    score_col: str,
) -> DataFrame:
    """Exact ROC-AUC per group: P(score_pos > score_neg) + ½·P(tie).

    Mann-Whitney identity: AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻) where R⁺
    is the sum of the positives' AVERAGE ranks by ascending score (ties
    share the mean of their rank range — the textbook tie correction,
    without which AUC of an all-tied group ≠ 0.5).

    Plan: the ``_avg_rank2`` window (partition by group, sort by score)
    over a single exchange, then one hash aggregation that REUSES the
    window's partitioning (group key == partition key): one exchange
    total, plan-gated. The per-group sort is the
    unavoidable cost of exact AUC (see ``auc_by_group_binned`` for the
    sort-free variant).

    Groups with only one class are dropped (AUC undefined). NULL scores
    and labels are excluded.

    Output: group cols + (n_pos, n_neg, auc).
    """
    y = F.col(label_col).cast("int")
    scored = _avg_rank2(
        df.filter(F.col(label_col).isNotNull()).select(
            *group_cols, y.alias("_y"), F.col(score_col)
        ),
        group_cols,
        score_col,
        "_ar2",
    )
    # the doubled rank sum is an exact LONG; halving its double is exact
    agg = scored.groupBy(*group_cols).agg(
        (
            F.sum(F.when(F.col("_y") == 1, F.col("_ar2"))).cast("double")
            / F.lit(2.0)
        ).alias("_rpos"),
        F.sum(F.when(F.col("_y") == 1, 1).otherwise(0)).cast("long").alias("n_pos"),
        F.sum(F.when(F.col("_y") == 0, 1).otherwise(0)).cast("long").alias("n_neg"),
    )
    # n⁺(n⁺+1)/2 is an exact integer (< 2^53 for any real group); the
    # division is one IEEE op on exact operands — deterministic across
    # engines, no rounding needed
    auc = (
        F.col("_rpos") - F.col("n_pos") * (F.col("n_pos") + 1) / F.lit(2.0)
    ) / (F.col("n_pos") * F.col("n_neg"))
    return (
        agg.filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
        .withColumn("auc", auc)
        .drop("_rpos")
    )


def auc_by_group_binned(
    df: DataFrame,
    group_cols: list[str],
    label_col: str,
    score_col: str,
    n_bins: int = 1024,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Approximate grouped AUC from a fixed-width score histogram —
    the 100 TB path: NO per-group sort, just two hash aggregations
    (map-side combinable) whose intermediate is O(groups × n_bins).

    Every (pos, neg) pair in different bins is ordered by its bins;
    pairs sharing a bin count ½ (the within-bin tie approximation) —
    error is bounded by the fraction of cross-class pairs that collide
    in a bin, which shrinks as 1/n_bins for continuous scores.

    ``lo``/``hi`` default to the global min/max (one extra metadata-
    sized aggregation; pass explicit bounds to skip it — scores from a
    sigmoid are [0,1] and need no pass).
    """
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    if lo is None or hi is None:
        row = df.agg(
            F.min(score_col).alias("lo"), F.max(score_col).alias("hi")
        ).first()
        lo = float(row["lo"]) if lo is None else lo
        hi = float(row["hi"]) if hi is None else hi
    if not hi > lo:
        raise ValueError("hi must exceed lo")
    width = (hi - lo) / n_bins
    bin_id = F.least(
        F.lit(n_bins - 1),
        F.greatest(
            F.lit(0),
            F.floor((F.col(score_col) - F.lit(lo)) / F.lit(width)).cast("int"),
        ),
    )
    y = F.col(label_col).cast("int")
    hist = (
        df.filter(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(*group_cols, bin_id.alias("_bin"))
        .agg(
            F.sum(F.when(y == 1, 1).otherwise(0)).cast("long").alias("_p"),
            F.sum(F.when(y == 0, 1).otherwise(0)).cast("long").alias("_n"),
        )
    )
    w = Window.partitionBy(*group_cols).orderBy("_bin")
    neg_below = F.coalesce(
        F.sum("_n").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    )
    # concordant pairs: pos in this bin × negs in strictly lower bins;
    # tied-bin pairs count half
    contrib = (
        F.col("_p") * neg_below + F.col("_p") * F.col("_n") / F.lit(2.0)
    )
    agg = hist.select(*group_cols, "_p", "_n", contrib.alias("_c")).groupBy(
        *group_cols
    ).agg(
        F.sum("_c").alias("_cs"),
        F.sum("_p").cast("long").alias("n_pos"),
        F.sum("_n").cast("long").alias("n_neg"),
    )
    return (
        agg.filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0))
        .withColumn("auc", F.col("_cs") / (F.col("n_pos") * F.col("n_neg")))
        .drop("_cs")
    )


def calibration_report(
    df: DataFrame,
    label_col: str,
    prob_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability-diagram bins + Brier score for a probabilistic
    classifier scored over a holdout: per probability-decile bin,
    (bin, n, mean_prob, frac_pos, gap) with the overall ``brier``
    (mean squared error of the probability) repeated on every row.

    A well-calibrated model has frac_pos ≈ mean_prob per bin (gap ≈ 0);
    Brier decomposes into calibration + refinement, so the two views
    together are the standard post-training audit.

    Cross-engine exactness contract: callers pass a probability ROUNDED
    to 9dp (the q27/wkey rule — if the probability came through libm
    functions like exp, the 9dp round collapses last-ulp differences to
    one shared double). Downstream, per-row terms are rounded to 9dp
    and carried as DECIMAL(25,9) so every sum is order-independent;
    each emitted ratio is a single IEEE division of exact operands.

    Plan: one map-side bucket + one hash agg to n_bins rows; the Brier
    total is the same agg's global twin broadcast back — two passes over
    nothing bigger than the score column.
    """
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    p = F.col(prob_col)
    y = F.col(label_col).cast("int")
    bin_id = F.least(
        F.lit(n_bins - 1), F.floor(p * F.lit(n_bins)).cast("int")
    )
    sq_err = F.round((p - y) * (p - y), 9).cast("decimal(25,9)")
    scored = df.filter(p.isNotNull() & y.isNotNull()).select(
        bin_id.alias("bin"),
        y.alias("_y"),
        F.round(p, 9).cast("decimal(25,9)").alias("_p9"),
        sq_err.alias("_se"),
    )
    per_bin = scored.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        (F.sum("_p9").cast("double") / F.count("*")).alias("_mp"),
        (F.sum("_y").cast("double") / F.count("*")).alias("_fp"),
        F.sum("_se").alias("_se_sum"),
    )
    tot = per_bin.agg(
        (F.sum("_se_sum").cast("double") / F.sum("n")).alias("_br")
    )
    # emitted stats are rounded to 6dp (the q27 rule): the 9dp per-row
    # round of a libm-derived double can disagree across engines by one
    # decimal ulp on boundary rows, leaving ~1e-13 aggregate noise that
    # a raw hash compare would flag
    return (
        per_bin.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n",
            F.round("_mp", 6).alias("mean_prob"),
            F.round("_fp", 6).alias("frac_pos"),
            F.round(F.col("_fp") - F.col("_mp"), 6).alias("gap"),
            F.round("_br", 6).alias("brier"),
        )
    )


def _poisson1_thresholds(max_k: int = 6) -> list[float]:
    """Cumulative Poisson(1) CDF values F(0..max_k-1) — the inverse-CDF
    ladder for hash-derived bootstrap weights. Python-evaluated floats;
    oracle SQL embeds the identical literals (repr round-trips)."""
    import math

    out, acc, fact = [], 0.0, 1.0
    for k in range(max_k):
        if k > 0:
            fact *= k
        acc += math.exp(-1.0) / fact
        out.append(acc)
    return out


def bootstrap_mean_ci(
    df: DataFrame,
    value_col: str,
    id_col: str,
    n_replicates: int = 50,
    alpha: float = 0.05,
    salt: str = "boot",
) -> DataFrame:
    """Percentile-bootstrap confidence interval for the mean —
    distributed and DETERMINISTIC via the POISSON bootstrap: instead of
    resampling n rows with replacement (which needs global coordination),
    each row independently receives a Poisson(1) weight per replicate —
    the classic single-pass approximation whose replicate sizes
    concentrate at n. Resampling and the percentile select are the
    ``_poisson_bootstrap`` kernel over values carried as DECIMAL(25,2).

    Output: one row — (n, point_mean, ci_lo, ci_hi, n_replicates).

    At 100 TB the ×B explode is the honest cost; B=50 on a projected
    (value, weight) pair is map-side-combinable and shuffle-light
    (B groups total).
    """
    base = df.filter(F.col(value_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.col(value_col).cast("decimal(25,2)").alias("_x"),
    )
    ci = _poisson_bootstrap(base, n_replicates, alpha, salt)
    point = base.agg(
        F.count("*").cast("long").alias("n"),
        (F.sum("_x").cast("double") / F.count("*")).alias("point_mean"),
    )
    return point.crossJoin(F.broadcast(ci)).select(
        "n",
        "point_mean",
        F.col("_lo").alias("ci_lo"),
        F.col("_hi").alias("ci_hi"),
        F.lit(n_replicates).cast("long").alias("n_replicates"),
    )


def welch_ttest(
    df: DataFrame,
    segment_col: str,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Per-segment Welch two-sample t-test (unequal variances) between
    ``group_a`` and ``group_b`` — the A/B experiment readout next to
    the calibration/AUC metrics above: one row per segment with
    (n_a, n_b, mean_a, mean_b, t_stat, df_welch).

    Scale: ONE decimal-stabilized hash aggregation over
    (segment, group) — map-side combined, metadata-sized output — then
    a segments-sized pivot join. All moments ride 9dp decimals
    (order-independent at any parallelism); t and the
    Welch–Satterthwaite df are raw IEEE doubles of those identical
    inputs, so a DuckDB oracle matches bit-for-bit. The p-value lookup
    (t CDF) is a client-side table concern, not an engine one — the
    engine's contract ends at (t, df).
    """
    dec = "decimal(38,9)"
    xd = F.round(F.col(value_col).cast("double"), 9)
    per = (
        df.filter(F.col(group_col).isin([group_a, group_b]))
        .select(
            F.col(segment_col),
            F.col(group_col),
            xd.cast(dec).alias("x"),
            F.round(xd * xd, 9).cast(dec).alias("xx"),
        )
        .groupBy(segment_col, group_col)
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("xx").alias("sxx"),
        )
    )

    def side(tag: str, grp: str) -> DataFrame:
        return per.filter(F.col(group_col) == grp).select(
            F.col(segment_col),
            F.col("n").alias(f"n_{tag}"),
            (F.col("sx").cast("double") / F.col("n")).alias(f"mean_{tag}"),
            (
                (
                    F.col("sxx").cast("double")
                    - F.col("sx").cast("double")
                    * F.col("sx").cast("double")
                    / F.col("n")
                )
                / (F.col("n") - 1)
            ).alias(f"var_{tag}"),
        )

    j = side("a", group_a).join(side("b", group_b), segment_col)
    se_a = F.col("var_a") / F.col("n_a")
    se_b = F.col("var_b") / F.col("n_b")
    return j.select(
        segment_col,
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        ((F.col("mean_a") - F.col("mean_b")) / F.sqrt(se_a + se_b)).alias(
            "t_stat"
        ),
        (
            (se_a + se_b) * (se_a + se_b)
            / (
                se_a * se_a / (F.col("n_a") - 1)
                + se_b * se_b / (F.col("n_b") - 1)
            )
        ).alias("df_welch"),
    )


def spearman_by_group(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group Spearman rank correlation with proper tie handling
    (average ranks) — the monotone-association companion to the
    Pearson/regr_ family: rank both columns inside each group, then
    Pearson over the ranks.

    Only pairs with both values non-NULL are ranked. One
    ``_avg_rank2`` window per column (both share the group
    partitioning — ONE exchange total); the Pearson moments ride 9dp
    decimals. Ranks are exact halves and every downstream op
    (+,−,×,÷,sqrt) is correctly-rounded IEEE, so the output doubles are
    bit-identical across engines with NO rounding (unlike ln()-based
    metrics). Output: (group, n, rho).
    """
    dec = "decimal(38,9)"
    pairs = df.filter(F.col(y_col).isNotNull()).select(group_col, x_col, y_col)
    ranked = _avg_rank2(
        _avg_rank2(pairs, [group_col], x_col, "_rx2"), [group_col], y_col, "_ry2"
    ).select(
        F.col(group_col),
        (F.col("_rx2") / 2.0).alias("rx"),
        (F.col("_ry2") / 2.0).alias("ry"),
    )
    agg = ranked.groupBy(group_col).agg(
        F.count("*").alias("n"),
        F.sum(F.col("rx").cast(dec)).alias("sx"),
        F.sum(F.col("ry").cast(dec)).alias("sy"),
        F.sum(F.round(F.col("rx") * F.col("ry"), 9).cast(dec)).alias("sxy"),
        F.sum(F.round(F.col("rx") * F.col("rx"), 9).cast(dec)).alias("sxx"),
        F.sum(F.round(F.col("ry") * F.col("ry"), 9).cast(dec)).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    num = n * F.col("sxy").cast("double") - sx * sy
    den = F.sqrt(
        (n * F.col("sxx").cast("double") - sx * sx)
        * (n * F.col("syy").cast("double") - sy * sy)
    )
    return agg.select(
        group_col, "n", (F.round(num / den, 6) + F.lit(0.0)).alias("rho")
    )


def conformal_intervals(
    df: DataFrame,
    segment_col: str,
    id_col: str,
    label_col: str,
    alpha: float = 0.9,
    salt: str = "conf",
) -> DataFrame:
    """Split-conformal prediction intervals per segment: a
    deterministic md5 half-split separates FIT rows (the segment mean
    becomes the point prediction) from CALIBRATION rows (the
    ``alpha``-quantile of |y − pred| becomes the interval radius); the
    output covers the calibration rows with (pred, lo, hi) whose
    finite-sample coverage ≥ alpha is the conformal guarantee.

    Two metadata-sized per-segment aggs (decimal mean; discrete
    quantile — an observed residual, no interpolation) broadcast back;
    everything else is map-side. md5 split + discrete quantile +
    correctly-rounded arithmetic → bit-portable without rounding."""
    dec = "decimal(38,9)"
    is_fit = token_hash24(salted(F.col(id_col), salt)) % 2 == 0
    tagged = df.withColumn("_fit", is_fit)
    pred = (
        tagged.filter(F.col("_fit"))
        .select(
            F.col(segment_col),
            F.round(F.col(label_col).cast("double"), 9).cast(dec).alias("y"),
        )
        .groupBy(segment_col)
        .agg(
            (F.sum("y").cast("double") / F.count("*")).alias("pred")
        )
    )
    calib = tagged.filter(~F.col("_fit")).join(
        F.broadcast(pred), segment_col
    )
    radius = (
        calib.select(
            F.col(segment_col),
            F.abs(F.col(label_col).cast("double") - F.col("pred")).alias(
                "_r"
            ),
        )
        .groupBy(segment_col)
        .agg(
            F.expr(
                f"percentile_disc({float(alpha)}) "
                "WITHIN GROUP (ORDER BY _r)"
            ).alias("q")
        )
    )
    return (
        calib.join(F.broadcast(radius), segment_col)
        .select(
            F.col(id_col),
            F.col(segment_col),
            F.col(label_col).cast("double").alias("y"),
            "pred",
            (F.col("pred") - F.col("q")).alias("lo"),
            (F.col("pred") + F.col("q")).alias("hi"),
        )
    )


def isotonic_calibrate(
    df: DataFrame,
    group_col: str,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Per-group isotonic regression (pool-adjacent-violators) of the
    label on the score — the non-parametric calibration map that
    complements ``calibration_report``'s fixed bins: the fitted curve
    is the best monotone fit, with no bin-width choice.

    PAV is inherently sequential per group (each pooling step depends
    on the previous), so it runs in a grouped Arrow batch over numpy —
    keys parallelize, one key shuffle, the per-key history must fit a
    task (the CUSUM contract). No SQL engine expresses PAV, so this is
    a rows-only catalog entry; the laws (monotone output, mean
    preservation, MSE ≤ any constant fit) are pytest-pinned.
    Output: (group, score, y, calibrated) per input row."""
    import numpy as np
    import pandas as pd

    out_schema = (
        f"{group_col} {dict(df.dtypes)[group_col]}, "
        f"{score_col} double, y double, calibrated double"
    )

    def pav(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([score_col, label_col]).reset_index(drop=True)
        y = pdf[label_col].astype(float).to_numpy()
        # classic PAV: maintain blocks of (sum, count); merge while the
        # last block mean exceeds the new one
        sums: list[float] = []
        cnts: list[int] = []
        for v in y:
            sums.append(float(v))
            cnts.append(1)
            while (
                len(sums) > 1
                and sums[-2] * cnts[-1] > sums[-1] * cnts[-2]
            ):
                sums[-2] += sums[-1]
                cnts[-2] += cnts[-1]
                sums.pop()
                cnts.pop()
        fitted = np.concatenate(
            [np.full(c, s / c) for s, c in zip(sums, cnts)]
        )
        return pd.DataFrame(
            {
                group_col: pdf[group_col],
                score_col: pdf[score_col].astype(float),
                "y": y,
                "calibrated": np.round(fitted, 9),
            }
        )

    return df.select(group_col, score_col, label_col).groupBy(
        group_col
    ).applyInPandas(pav, out_schema)


def classification_report(
    preds: DataFrame,
    label_col: str,
    pred_col: str,
    ndigits: int = 9,
) -> DataFrame:
    """Multiclass confusion summary: one row per class with support /
    tp / fp / fn and precision / recall / F1, plus ``__macro__`` and
    ``__micro__`` summary rows — the standard eval report for
    classifier-filtered corpora (toxicity tags, language routing,
    quality gates).

    Plan shape: ONE hash aggregation over (label, pred) — the confusion
    matrix, at most |classes|² rows — then metadata-sized reshaping:
    per-class marginals, two scalar summary rows, a union. Zero-division
    classes (no predictions or no support) report 0.0, sklearn's
    documented convention. All ratios are exact-integer counts with one
    IEEE division each, rounded to ``ndigits`` for cross-engine replay.
    """
    cm = preds.groupBy(
        F.col(label_col).alias("_y"), F.col(pred_col).alias("_p")
    ).agg(F.count("*").alias("_n"))
    classes = (
        cm.select(F.col("_y").alias("_c"))
        .union(cm.select(F.col("_p").alias("_c")))
        .distinct()
    )
    tp = cm.filter(F.col("_y") == F.col("_p")).select(
        F.col("_y").alias("_c"), F.col("_n").alias("_tp")
    )
    by_label = cm.groupBy(F.col("_y").alias("_c")).agg(F.sum("_n").alias("_support"))
    by_pred = cm.groupBy(F.col("_p").alias("_c")).agg(F.sum("_n").alias("_predicted"))
    per = (
        classes.join(tp, "_c", "left")
        .join(by_label, "_c", "left")
        .join(by_pred, "_c", "left")
        .select(
            F.col("_c").cast("string").alias("class"),
            F.coalesce("_support", F.lit(0)).alias("support"),
            F.coalesce("_tp", F.lit(0)).alias("tp"),
            (F.coalesce("_predicted", F.lit(0)) - F.coalesce("_tp", F.lit(0))).alias("fp"),
            (F.coalesce("_support", F.lit(0)) - F.coalesce("_tp", F.lit(0))).alias("fn"),
        )
    )
    prec = F.when(
        F.col("tp") + F.col("fp") > 0,
        F.col("tp").cast("double") / (F.col("tp") + F.col("fp")),
    ).otherwise(0.0)
    rec = F.when(
        F.col("tp") + F.col("fn") > 0,
        F.col("tp").cast("double") / (F.col("tp") + F.col("fn")),
    ).otherwise(0.0)
    per = per.withColumn("_prec", prec).withColumn("_rec", rec).withColumn(
        "_f1",
        F.when(
            F.col("_prec") + F.col("_rec") > 0,
            2.0 * F.col("_prec") * F.col("_rec") / (F.col("_prec") + F.col("_rec")),
        ).otherwise(0.0),
    )
    macro = per.agg(
        F.sum("support").alias("support"),
        F.sum("tp").alias("tp"),
        F.sum("fp").alias("fp"),
        F.sum("fn").alias("fn"),
        F.avg("_prec").alias("_prec"),
        F.avg("_rec").alias("_rec"),
        F.avg("_f1").alias("_f1"),
    ).select(F.lit("__macro__").alias("class"), "*")
    micro = per.agg(
        F.sum("support").alias("support"),
        F.sum("tp").alias("tp"),
        F.sum("fp").alias("fp"),
        F.sum("fn").alias("fn"),
    ).select(
        F.lit("__micro__").alias("class"),
        "support", "tp", "fp", "fn",
        # micro precision == recall == f1 == accuracy over the matrix
        (F.col("tp").cast("double") / F.col("support")).alias("_prec"),
        (F.col("tp").cast("double") / F.col("support")).alias("_rec"),
        (F.col("tp").cast("double") / F.col("support")).alias("_f1"),
    )
    return per.unionByName(macro).unionByName(micro).select(
        "class", "support", "tp", "fp", "fn",
        F.round("_prec", ndigits).alias("precision"),
        F.round("_rec", ndigits).alias("recall"),
        F.round("_f1", ndigits).alias("f1"),
    )

def mann_whitney_u(
    df: DataFrame,
    segment_col: str,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Per-segment Mann-Whitney U (Wilcoxon rank-sum) test between
    ``group_a`` and ``group_b`` — the NONPARAMETRIC two-sample readout
    next to :func:`welch_ttest`: no normality assumption, robust to the
    heavy-tailed value distributions (latency, spend, token counts)
    where the t-test misleads. Output per segment:
    (n_a, n_b, u_stat, z) with U for group_a and the tie-corrected
    normal approximation z = (U - n_a·n_b/2) / sigma,
    sigma² = (n_a·n_b/12)·((n+1) - Σ(t³-t)/(n(n-1))).

    Same engine contract as welch_ttest: the statistic, not the
    p-value (the normal CDF lookup is a client-side table). A segment
    with an empty group reports its counts with NULL u_stat and z; an
    all-tied segment (σ² = 0) has a NULL z.

    Scale + portability: the ``_value_scan`` of each segment's DISTINCT
    values (tied corpora compress massively; segments rank in
    parallel). All rank arithmetic stays INTEGER: average ranks are
    half-integers, so 2·R_a = Σ n_a(v)·(2·cum_before(v) + c(v) + 1) is
    an exact long, and U, z are IEEE doubles of exact integers —
    bit-identical across engines with no decimal stabilization.
    """
    both = df.filter(F.col(group_col).isin([group_a, group_b])).select(
        segment_col,
        value_col,
        (F.col(group_col) == group_a).cast("long").alias("na_v"),
        (F.col(group_col) == group_b).cast("long").alias("nb_v"),
    )
    c = F.col("na_v") + F.col("nb_v")
    ranked = _value_scan(both, [segment_col], value_col, ["na_v", "nb_v"]).select(
        F.col(segment_col),
        "na_v",
        "nb_v",
        c.alias("c"),
        (F.col("na_v_below") + F.col("nb_v_below")).alias("cum_before"),
    )
    agg = ranked.groupBy(segment_col).agg(
        F.sum("na_v").alias("n_a"),
        F.sum("nb_v").alias("n_b"),
        F.sum(
            F.col("na_v") * (2 * F.col("cum_before") + F.col("c") + 1)
        ).alias("r2a"),
        F.sum(
            F.col("c") * F.col("c") * F.col("c") - F.col("c")
        ).alias("tie_term"),
    )
    n_a = F.col("n_a").cast("double")
    n_b = F.col("n_b").cast("double")
    n = n_a + n_b
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    u = F.when(ok, (F.col("r2a").cast("double") - n_a * (n_a + 1)) / 2.0)
    sigma2 = (
        n_a * n_b / 12.0
        * ((n + 1) - F.try_divide(F.col("tie_term").cast("double"), n * (n - 1)))
    )
    return agg.select(
        segment_col,
        "n_a",
        "n_b",
        u.alias("u_stat"),
        F.try_divide(u - n_a * n_b / 2.0, F.sqrt(sigma2)).alias("z"),
    )


def permutation_test(
    df: DataFrame,
    segment_col: str,
    id_col: str,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    n_perms: int = 100,
) -> DataFrame:
    """Per-segment PERMUTATION test for the difference in means — the
    assumption-free significance readout: how often does a random
    relabeling of units produce a |mean_a - mean_b| at least as large
    as observed? Output per segment:
    (obs_diff, n_extreme, n_perms, p_value) with the add-one estimate
    p = (1 + #extreme) / (n_perms + 1).

    DETERMINISTIC relabeling (the engine's replayability contract —
    same reason the DP/Laplace and sampling ops hash instead of rng):
    permutation b assigns unit i to pseudo-group A iff
    u32(md5(i ':' b)) · n_units < n_units_a · 2^32, where u32 is the
    first 8 hex digits as an integer — an ALLOCATION-PRESERVING coin
    (P[A] = observed unit share of group A per segment, exact-integer
    compare, no float), i.i.d. across units and b, reproducible on any
    engine (a DuckDB oracle replays every permutation bit-for-bit). A
    fair coin would draw ~50/50 pseudo-groups regardless of the
    observed n_a/n_b split, inflating the null distribution of
    |mean diff| for unbalanced groups (conservatively biased p); the
    weighted coin matches the observed unit allocation in expectation
    (ADVICE r9). Units are relabeled by ``id_col`` (e.g. user_id), not
    by row, so unit-level dependence is respected (cluster
    permutation).

    Scale: the B-fold expansion is a SEQUENCE EXPLODE feeding straight
    into a map-side-combined hash agg on (segment, b, parity) — the
    shuffle carries O(segments·B·2) partial rows, never B× the data;
    the final per-segment reduction is metadata-sized. B is a bounded
    constant (default 100). Sums ride 9dp decimals for
    order-independent portability.
    """
    dec = "decimal(38,9)"
    both = df.filter(F.col(group_col).isin([group_a, group_b]))
    xd = F.round(F.col(value_col).cast("double"), 9)
    base = both.select(
        F.col(segment_col),
        F.col(id_col).alias("_unit"),
        F.col(group_col).alias("_grp"),
        xd.cast(dec).alias("_x"),
    )

    # observed statistic: one agg (map-side combined, metadata-sized)
    obs = (
        base.groupBy(segment_col)
        .agg(
            F.sum(F.when(F.col("_grp") == group_a, F.col("_x"))).alias("sa"),
            F.sum(F.when(F.col("_grp") == group_a, 1).otherwise(0)).alias("na"),
            F.sum(F.when(F.col("_grp") == group_b, F.col("_x"))).alias("sb"),
            F.sum(F.when(F.col("_grp") == group_b, 1).otherwise(0)).alias("nb"),
        )
        .select(
            F.col(segment_col),
            F.abs(
                F.col("sa").cast("double") / F.col("na")
                - F.col("sb").cast("double") / F.col("nb")
            ).alias("obs_diff"),
        )
    )

    # Observed per-segment UNIT allocation (metadata-sized agg,
    # broadcast back): the coin weight for the permuted pseudo-split.
    unit_alloc = base.groupBy(segment_col).agg(
        F.countDistinct(
            F.when(F.col("_grp") == group_a, F.col("_unit"))
        ).alias("_ua"),
        F.countDistinct("_unit").alias("_ut"),
    )

    # B permutations: explode then IMMEDIATE partial agg per (segment, b).
    # Coin: first 8 md5 hex digits as u32; pseudo-A iff
    # u32 · n_units < n_units_a · 2^32 — exact decimal(20,0) integer
    # compare (u32 < 2^32 and unit counts up to ~10^18 keep the products
    # inside 38 digits), bit-replayable by CAST('0x'||hex AS BIGINT).
    u32 = u32_md5(F.col("_unit"), F.col("b"))
    perm_tag = F.when(
        u32.cast("decimal(20,0)") * F.col("_ut").cast("decimal(20,0)")
        < F.lit(4294967296).cast("decimal(20,0)")
        * F.col("_ua").cast("decimal(20,0)"),
        0,
    ).otherwise(1)
    perms = (
        base.join(F.broadcast(unit_alloc), segment_col)
        .select(
            segment_col,
            "_unit",
            "_x",
            "_ua",
            "_ut",
            F.explode(F.sequence(F.lit(0), F.lit(n_perms - 1))).alias("b"),
        )
        .withColumn("_side", perm_tag)
        .groupBy(segment_col, "b")
        .agg(
            F.sum(F.when(F.col("_side") == 0, F.col("_x"))).alias("s0"),
            F.sum(F.when(F.col("_side") == 0, 1).otherwise(0)).alias("n0"),
            F.sum(F.when(F.col("_side") == 1, F.col("_x"))).alias("s1"),
            F.sum(F.when(F.col("_side") == 1, 1).otherwise(0)).alias("n1"),
        )
        .select(
            F.col(segment_col),
            F.abs(
                F.col("s0").cast("double") / F.col("n0")
                - F.col("s1").cast("double") / F.col("n1")
            ).alias("perm_diff"),
        )
    )

    joined = perms.join(obs, segment_col)
    return joined.groupBy(segment_col).agg(
        F.first("obs_diff").alias("obs_diff"),
        F.sum(
            F.when(F.col("perm_diff") >= F.col("obs_diff"), 1).otherwise(0)
        ).cast("long")
        .alias("n_extreme"),
        F.count("*").cast("long").alias("n_perms"),
    ).select(
        segment_col,
        "obs_diff",
        "n_extreme",
        "n_perms",
        (
            (F.col("n_extreme") + 1).cast("double")
            / (F.col("n_perms") + 1)
        ).alias("p_value"),
    )


def bh_adjust(
    df: DataFrame,
    family_col: str,
    test_col: str,
    p_col: str,
) -> DataFrame:
    """Benjamini-Hochberg FDR adjustment per family — the multiple-
    comparisons gate over any batch of per-test p-values (one family =
    one experiment sweep, e.g. a metric tested across many segments):
    adj_p(i) = min_{j >= i} p(j)·m/j clipped to 1, ranks ascending by
    p with a deterministic test-name tiebreak. Upstream p-values are an
    input column (this engine's test ops end at the statistic; the CDF
    lookup producing p is client-side — see welch_ttest).

    Scale: two windows sharing ONE family exchange (rank ascending +
    reversed running min); families adjust in parallel, no collect.
    """
    wr = Window.partitionBy(family_col).orderBy(p_col, test_col)
    m = Window.partitionBy(family_col)
    wmin = (
        Window.partitionBy(family_col)
        .orderBy(F.col(p_col).desc(), F.col(test_col).desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = df.select(
        family_col,
        test_col,
        p_col,
        (
            F.col(p_col)
            * F.count("*").over(m)
            / F.row_number().over(wr)
        ).alias("_raw"),
    )
    return staged.select(
        family_col,
        test_col,
        p_col,
        F.least(F.min("_raw").over(wmin), F.lit(1.0)).alias("adj_p"),
    )


def kruskal_wallis(
    df: DataFrame,
    segment_col: str,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-segment Kruskal-Wallis H test — the k-group generalization of
    :func:`mann_whitney_u` (one-way ANOVA on ranks): are any of k
    variants drawn from a shifted distribution? H =
    12/(N(N+1))·Σ_g R_g²/n_g − 3(N+1), tie-corrected H_c =
    H / (1 − Σ(t³−t)/(N³−N)). Groups are discovered from the data (no
    fixed-arm contract like the two-sample tests). Engine contract ends
    at the statistic; the chi-square CDF lookup is client-side.

    Scale + portability: the ``_value_scan`` at (segment, value, group)
    grain yields both the tie count c(v) and the cumulative rank offset
    per value. All rank arithmetic INTEGER (2R_g =
    Σ n_g(v)·(2·cum_before + c + 1) exact long); the only
    order-sensitive float reduce is the k-term Σ R_g²/n_g, so H is
    rounded to 6dp (k ≤ dozens — error << grid). Output per segment:
    (k_groups, n_total, h_stat, h_tie_corrected).
    """
    gv = df.select(segment_col, value_col, group_col, F.lit(1).alias("n_gv"))
    framed = _value_scan(gv, [segment_col], value_col, ["n_gv"]).select(
        F.col(segment_col),
        F.col(group_col),
        F.col(value_col),
        "n_gv",
        F.col("n_gv_at").alias("c"),
        F.col("n_gv_below").alias("cum_before"),
    )
    per_g = framed.groupBy(segment_col, group_col).agg(
        F.sum("n_gv").alias("n_g"),
        F.sum(
            F.col("n_gv") * (2 * F.col("cum_before") + F.col("c") + 1)
        ).alias("r2_g"),
    )
    # tie term needs (segment, value)-distinct c's: first row per value
    # carries it (dedup via min(group) marker would re-window; instead
    # reduce framed at value grain — map-side combine keeps it cheap)
    ties = (
        framed.groupBy(segment_col, value_col)
        .agg(F.max("c").alias("c"))
        .groupBy(segment_col)
        .agg(
            F.sum(
                F.col("c") * F.col("c") * F.col("c") - F.col("c")
            ).alias("tie_term")
        )
    )
    seg = per_g.groupBy(segment_col).agg(
        F.count("*").alias("k_groups"),
        F.sum("n_g").alias("n_total"),
        F.sum(
            F.col("r2_g").cast("double")
            * F.col("r2_g").cast("double")
            / (4.0 * F.col("n_g").cast("double"))
        ).alias("s_rank"),
    )
    n = F.col("n_total").cast("double")
    h = 12.0 / (n * (n + 1)) * F.col("s_rank") - 3.0 * (n + 1)
    corr = 1.0 - F.col("tie_term").cast("double") / (n * n * n - n)
    # degenerate segments are null, not NaN/Infinity: a 1-row segment
    # has N³−N = 0, an all-tied segment has corr = 0 — H is undefined
    # there and downstream aggregates must not be poisoned
    defined = (F.col("n_total") > 1) & (
        F.col("tie_term")
        < F.col("n_total") * F.col("n_total") * F.col("n_total")
        - F.col("n_total")
    )
    return (
        seg.join(ties, segment_col)
        .select(
            segment_col,
            "k_groups",
            "n_total",
            F.round(F.when(F.col("n_total") > 1, h), 6).alias("h_stat"),
            F.round(F.when(defined, h / corr), 6).alias(
                "h_tie_corrected"
            ),
        )
    )


def mcnemar_test(
    df: DataFrame,
    segment_col: str,
    a_correct_col: str,
    b_correct_col: str,
) -> DataFrame:
    """Per-segment McNemar test for PAIRED classifiers — the right test
    when two models score the SAME items (A/B z-tests assume
    independent samples and overstate significance on paired holdouts):
    only the discordant counts matter, b = #(A right, B wrong),
    c = #(A wrong, B right), chi² = (b−c)²/(b+c) with the
    continuity-corrected (|b−c|−1)²/(b+c) variant alongside.

    Scale + portability: ONE map-side-combined hash agg per segment —
    conditional sums, no join between the two prediction columns
    because the pairing is the row itself. Exact integers into two IEEE
    divisions; no rounding needed.
    """
    a = F.col(a_correct_col).cast("boolean")
    b = F.col(b_correct_col).cast("boolean")
    agg = df.groupBy(segment_col).agg(
        F.count("*").alias("n_items"),
        F.sum(F.when(a & ~b, 1).otherwise(0)).cast("long").alias("n_a_only"),
        F.sum(F.when(~a & b, 1).otherwise(0)).cast("long").alias("n_b_only"),
    )
    bc = F.col("n_a_only") + F.col("n_b_only")
    diff = (F.col("n_a_only") - F.col("n_b_only")).cast("double")
    cc = F.abs(F.col("n_a_only") - F.col("n_b_only")).cast("double") - 1.0
    return agg.select(
        segment_col,
        "n_items",
        "n_a_only",
        "n_b_only",
        F.when(bc > 0, diff * diff / bc.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("chi2"),
        F.when(
            bc > 0,
            F.greatest(cc, F.lit(0.0))
            * F.greatest(cc, F.lit(0.0))
            / bc.cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("chi2_cc"),
    )


def average_precision(
    df: DataFrame,
    segment_col: str,
    label_col: str,
    score_col: str,
) -> DataFrame:
    """Per-segment precision-recall summary: average precision (AP =
    Σ_t ΔR_t·P_t over distinct score thresholds descending — the area
    under the PR curve, the metric of record when positives are rare
    and ROC-AUC flatters) plus the best achievable F1 over all
    thresholds. Complements :func:`auc_by_group` (ROC) and
    :func:`classification_report` (fixed threshold).

    Scale + portability: the ``_value_scan`` of each segment's distinct
    scores gives cumulative TP/total — ties collapse to a single
    threshold so the curve is deterministic under any row order; the
    descending cumulative at s is the segment total minus the ascending
    total strictly below s. AP terms are exact-int ratios
    n_pos(s)·cumTP(s)/cumTot(s); their per-segment float sum is the
    only order-sensitive reduce → rounded to 6dp. best_f1 uses the
    identity F1_t = 2·TP_t/(cumTot_t + n_pos): a MAX of exact-operand
    IEEE ratios, order-independent, so it ships unrounded. Rows with a
    NULL label are dropped, as in :func:`auc_by_group`.
    """
    sv = df.filter(F.col(label_col).isNotNull()).select(
        segment_col,
        score_col,
        F.lit(1).alias("n_s"),
        F.col(label_col).cast("long").alias("pos_s"),
    )
    cum = _value_scan(sv, [segment_col], score_col, ["n_s", "pos_s"]).select(
        F.col(segment_col),
        "n_s",
        "pos_s",
        (F.col("n_s_all") - F.col("n_s_below")).alias("cum_tot"),
        (F.col("pos_s_all") - F.col("pos_s_below")).alias("cum_pos"),
        F.col("n_s_all").alias("n_total"),
        F.col("pos_s_all").alias("n_pos"),
    )
    term = (
        F.col("pos_s").cast("double")
        * F.col("cum_pos").cast("double")
        / F.col("cum_tot").cast("double")
    )
    f1 = (
        2.0
        * F.col("cum_pos").cast("double")
        / (F.col("cum_tot") + F.col("n_pos")).cast("double")
    )
    return (
        cum.groupBy(segment_col)
        .agg(
            F.max("n_pos").alias("n_pos"),
            (F.max("n_total") - F.max("n_pos")).alias("n_neg"),
            # a segment with zero positives has no PR curve: null, not
            # a 0/0 artifact
            F.round(
                F.when(
                    F.max("n_pos") > 0,
                    F.sum(term) / F.max("n_pos").cast("double"),
                ),
                6,
            ).alias("avg_precision"),
            F.max(f1).alias("best_f1"),
        )
    )


def pair_quality(
    predicted: DataFrame,
    truth: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Precision/recall/F1 of a predicted PAIR SET against a ground-truth
    pair set — the evaluation harness for the dedup/linkage family
    itself (how much does LSH banding miss vs the exact baseline? what
    does a blocking key cost in recall?). Pairs are canonicalized
    (least/greatest, distinct) on both sides so orientation and
    duplicates can't skew the counts.

    Output: ONE row (n_pred, n_true, tp, precision, recall, f1) — every
    ratio a single IEEE division of exact integers (f1 = 2·tp /
    (n_pred + n_true), the set-F1 identity, no float intermediates).

    Scale: two distinct aggregations + one pair-keyed equi-join (the
    pair sets are outputs of already-bounded candidate generators, tiny
    next to the corpus) + metadata-sized count aggregates.
    """

    def canon(df: DataFrame) -> DataFrame:
        return df.select(
            F.least(F.col(a_col), F.col(b_col)).alias("_a"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("_b"),
        ).distinct()

    p = canon(predicted)
    t = canon(truth)
    np_ = p.groupBy().agg(F.count("*").cast("long").alias("n_pred"))
    nt = t.groupBy().agg(F.count("*").cast("long").alias("n_true"))
    tp = (
        p.join(t, ["_a", "_b"])
        .groupBy()
        .agg(F.count("*").cast("long").alias("tp"))
    )
    return (
        np_.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(tp))
        .select(
            "n_pred",
            "n_true",
            "tp",
            (F.col("tp").cast("double") / F.col("n_pred")).alias("precision"),
            (F.col("tp").cast("double") / F.col("n_true")).alias("recall"),
            (
                (2 * F.col("tp")).cast("double")
                / (F.col("n_pred") + F.col("n_true"))
            ).alias("f1"),
        )
    )


def cuped_lift(
    units: DataFrame,
    arm_col: str,
    metric_col: str,
    covariate_col: str,
) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng, Xu, Kohavi &
    Walker, "Improving the Sensitivity of Online Controlled Experiments
    by Utilizing Pre-Experiment Data", WSDM 2013 — the standard
    large-scale A/B variance-reduction): per unit,
    ``Y' = Y − θ·(X − mean X)`` with ``θ = cov(X, Y) / var(X)`` POOLED
    across arms (the pre-period covariate X is independent of
    assignment, so the adjustment shifts both arms identically and the
    lift estimate stays unbiased while its variance drops by the
    squared X-Y correlation).

    Output, one row per arm: (arm, n_units, mean_raw, mean_cuped,
    var_raw, var_cuped, var_reduction, theta) — 9dp, with var_reduction
    = 1 − var_cuped/var_raw (the realized sensitivity gain; equal in
    expectation to corr(X,Y)²).

    Plan shape: ONE no-grouping aggregate computes θ and mean X
    (map-side-combined decimal-stabilized sums — products 6dp-rounded
    before the decimal cast, the engine-wide exactness rule), its
    1-row result broadcasts back through the structural-gate-exempt
    scalar crossJoin, and ONE groupBy(arm) aggregate produces the
    readout. Nothing scales with more than the unit table; at 10^9
    units this is two exchanges.
    """
    from .aggregate import stable_avg, stable_sum

    y = F.col(metric_col).cast("double")
    x = F.col(covariate_col).cast("double")
    base = units.select(
        F.col(arm_col).alias("_arm"), y.alias("_y"), x.alias("_x")
    )
    g = base.agg(
        F.count("*").cast("double").alias("_n"),
        stable_sum(F.col("_x"), 6).alias("_sx"),
        stable_sum(F.col("_y"), 6).alias("_sy"),
        stable_sum(F.round(F.col("_x") * F.col("_x"), 6), 6).alias("_sxx"),
        stable_sum(F.round(F.col("_x") * F.col("_y"), 6), 6).alias("_sxy"),
    ).select(
        (
            (F.col("_sxy") - F.col("_sx") * F.col("_sy") / F.col("_n"))
            / F.nullif(
                F.col("_sxx") - F.col("_sx") * F.col("_sx") / F.col("_n"),
                F.lit(0.0),
            )
        ).alias("_theta"),
        (F.col("_sx") / F.col("_n")).alias("_mx"),
    )
    adj = base.crossJoin(F.broadcast(g)).withColumn(
        "_adj",
        F.round(
            F.col("_y")
            - F.coalesce(F.col("_theta"), F.lit(0.0))
            * (F.col("_x") - F.col("_mx")),
            9,
        ),
    )
    mean_y = stable_avg(F.col("_y"), 6)
    mean_adj = stable_avg(F.col("_adj"), 9)
    var_y = stable_avg(F.round(F.col("_y") * F.col("_y"), 6), 6) - mean_y * mean_y
    var_adj = (
        stable_avg(F.round(F.col("_adj") * F.col("_adj"), 6), 6)
        - mean_adj * mean_adj
    )
    return (
        adj.groupBy(F.col("_arm").alias(arm_col))
        .agg(
            F.count("*").cast("long").alias("n_units"),
            F.round(mean_y, 9).alias("mean_raw"),
            F.round(mean_adj, 9).alias("mean_cuped"),
            F.round(var_y, 9).alias("var_raw"),
            F.round(var_adj, 9).alias("var_cuped"),
            F.round(
                F.lit(1.0) - var_adj / F.nullif(var_y, F.lit(0.0)), 9
            ).alias("var_reduction"),
            F.round(F.first("_theta"), 9).alias("theta"),
        )
    )


def diff_in_diff(
    units: DataFrame,
    group_col: str,
    period_col: str,
    metric_col: str,
    treated_value: str,
    post_value: str,
) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES readout (Card & Krueger 1994 made the
    design canonical): when assignment is NOT randomized (a staged
    rollout, a geo launch), the treatment effect estimate is the 2×2
    interaction ``(T_post − T_pre) − (C_post − C_pre)`` — each group's
    own pre-period differences out its level, the control's delta
    differences out the common time trend; identification rides the
    parallel-trends assumption, stated in the output contract rather
    than hidden.

    Output ONE row: per-cell n/mean (four cells), each group's delta,
    and ``did`` = the interaction. One no-grouping aggregate with
    conditional decimal-stabilized sums — no join, no window, one
    exchange of four partial cells at any scale (the q308 conditional-
    cell shape)."""
    from .aggregate import dec

    g = F.col(group_col) == F.lit(treated_value)
    p = F.col(period_col) == F.lit(post_value)
    m = F.col(metric_col).cast("double")

    def cell(cond, name):
        n = F.sum(F.when(cond, 1).otherwise(0)).cast("long")
        s = F.sum(F.when(cond, dec(m, 6))).cast("double")
        return [
            n.alias(f"n_{name}"),
            F.round(s / F.nullif(n.cast("double"), F.lit(0.0)), 9).alias(
                f"mean_{name}"
            ),
        ]

    agg = units.agg(
        *cell(g & ~p, "treat_pre"),
        *cell(g & p, "treat_post"),
        *cell(~g & ~p, "ctrl_pre"),
        *cell(~g & p, "ctrl_post"),
    )
    d_t = F.col("mean_treat_post") - F.col("mean_treat_pre")
    d_c = F.col("mean_ctrl_post") - F.col("mean_ctrl_pre")
    return agg.select(
        "*",
        F.round(d_t, 9).alias("delta_treated"),
        F.round(d_c, 9).alias("delta_control"),
        F.round(d_t - d_c, 9).alias("did"),
    )


def winsorized_metrics(
    units: DataFrame,
    arm_col: str,
    metric_col: str,
    cap_quantile: float = 0.99,
) -> DataFrame:
    """CAPPED (winsorized) metric readout — the heavy-tail defense
    every revenue experiment runs: a single whale purchase can move a
    raw mean more than the treatment does, so values above the POOLED
    ``cap_quantile`` are clipped to it before comparison (pooled, not
    per-arm — a per-arm cap would let the treatment shift its own
    yardstick).

    Output per arm: n, mean_raw, mean_capped, n_capped (how many rows
    hit the cap — the transparency number reviewers ask for), cap.
    Plan: one exact pooled percentile aggregate (fixture/oracle
    exactness; swap ``percentile`` for ``percentile_approx`` at 100 TB
    — the q204 GK trade), its 1-row result broadcast through the
    scalar crossJoin, one per-arm aggregate. Means decimal-stabilized,
    9dp."""
    from .aggregate import dec

    if not 0.0 < cap_quantile < 1.0:
        raise ValueError("cap_quantile must be in (0, 1)")
    m = F.col(metric_col).cast("double")
    capped_src = units.select(F.col(arm_col).alias("_arm"), m.alias("_y"))
    cap = capped_src.agg(
        F.round(
            F.expr(f"percentile(_y, {cap_quantile!r})"), 6
        ).alias("_cap")
    )
    w = capped_src.crossJoin(F.broadcast(cap)).withColumn(
        "_yc", F.least(F.col("_y"), F.col("_cap"))
    )
    return (
        w.groupBy(F.col("_arm").alias(arm_col))
        .agg(
            F.count("*").cast("long").alias("n_units"),
            F.round(
                F.sum(dec(F.col("_y"), 6)).cast("double") / F.count("*"),
                9,
            ).alias("mean_raw"),
            F.round(
                F.sum(dec(F.col("_yc"), 6)).cast("double") / F.count("*"),
                9,
            ).alias("mean_capped"),
            F.sum(F.when(F.col("_y") > F.col("_cap"), 1).otherwise(0))
            .cast("long")
            .alias("n_capped"),
            F.first(F.col("_cap")).alias("cap"),
        )
    )


def msprt_always_valid(
    units: DataFrame,
    arm_col: str,
    metric_col: str,
    treatment_value: str,
    tau2: float = 1.0,
) -> DataFrame:
    """ALWAYS-VALID sequential test (mixture SPRT, Johari, Koomen,
    Pekelis & Walsh, "Peeking at A/B Tests", KDD 2017): the fixed-n
    z-test's p-value is invalid the moment anyone peeks mid-run; the
    mSPRT's mixture likelihood ratio
    ``Λ = sqrt(V/(V+τ²)) · exp(Δ̄²·τ² / (2V(V+τ²)))`` (normal
    approximation, ``V = s²_t/n_t + s²_c/n_c``) gives
    ``p = min(1, 1/Λ)`` that is valid at EVERY look — the number a
    live experimentation dashboard may legally show while data still
    arrives.

    Output ONE row: n/mean per arm, delta, v, log_lambda,
    p_always_valid (9dp). One no-grouping aggregate of conditional
    decimal-stabilized cells (the q308/q370 shape) — no join, no
    window; the transcendentals run on engine-identical exact operands
    and their outputs are 9dp-rounded (the libm rule). ``tau2`` is the
    analyst's prior scale on the effect; it tunes power, never
    validity."""
    from .aggregate import dec

    if tau2 <= 0:
        raise ValueError("tau2 must be positive")
    is_t = F.col(arm_col) == F.lit(treatment_value)
    m = F.col(metric_col).cast("double")

    def cell(cond, name):
        n = F.sum(F.when(cond, 1).otherwise(0)).cast("double")
        s = F.sum(F.when(cond, dec(m, 6))).cast("double")
        ss = F.sum(F.when(cond, dec(F.round(m * m, 6), 6))).cast("double")
        return [n.alias(f"_n_{name}"), s.alias(f"_s_{name}"), ss.alias(f"_ss_{name}")]

    agg = units.agg(*cell(is_t, "t"), *cell(~is_t, "c"))

    def mean(name):
        return F.col(f"_s_{name}") / F.col(f"_n_{name}")

    def var(name):
        return F.col(f"_ss_{name}") / F.col(f"_n_{name}") - mean(name) * mean(name)

    delta = mean("t") - mean("c")
    v = var("t") / F.col("_n_t") + var("c") / F.col("_n_c")
    log_lam = F.round(
        F.lit(0.5) * F.log(v / (v + F.lit(tau2)))
        + delta * delta * F.lit(tau2) / (F.lit(2.0) * v * (v + F.lit(tau2))),
        9,
    )
    return agg.select(
        F.col("_n_t").cast("long").alias("n_treat"),
        F.col("_n_c").cast("long").alias("n_ctrl"),
        F.round(mean("t"), 9).alias("mean_treat"),
        F.round(mean("c"), 9).alias("mean_ctrl"),
        F.round(delta, 9).alias("delta"),
        F.round(v, 9).alias("v"),
        log_lam.alias("log_lambda"),
        F.round(
            F.least(F.lit(1.0), F.exp(-log_lam)), 9
        ).alias("p_always_valid"),
    )


# chi-square 0.05 critical values, dof 1..10 (standard published table)
_CHI2_CRIT_05 = [
    3.841459, 5.991465, 7.814728, 9.487729, 11.070498,
    12.591587, 14.067140, 15.507313, 16.918978, 18.307038,
]


def srm_check(
    units: DataFrame,
    arm_col: str,
    expected: "dict[str, float]",
) -> DataFrame:
    """SAMPLE-RATIO-MISMATCH guardrail — the first check every
    experimentation platform runs before reading ANY metric (Fabijan et
    al., "Diagnosing Sample Ratio Mismatch", KDD 2019): if the realized
    arm counts are not consistent with the designed split, assignment
    is broken (bot filtering, redirect loss, logging skew) and every
    downstream readout is garbage. Chi-square goodness-of-fit of the
    observed arm counts against the expected ratios; ``srm`` flags
    chi2 above the 0.05 critical value for the arms-1 dof.

    Output ONE row per arm (arm, n, expected_n 6dp, term 9dp) plus the
    shared chi2/dof/srm columns repeated — scalar-only, driver-canon.
    One groupBy(arm) count (map-side combined; arms are metadata-sized
    by definition) + literal expected ratios — no second pass over
    data.

    The arm list comes from ``expected``, not from the observed data
    (ADVICE r11): an arm with ZERO observed units is the most extreme
    mismatch a guardrail can see, so it must still contribute its
    (0-E)²/E term and appear in the output with n=0 — a groupBy over
    observed rows alone would silently drop it. Implemented as a
    literal-arms frame left-joined with the broadcast observed counts,
    coalescing missing counts to 0; both sides are metadata-sized."""
    if not expected:
        raise ValueError("expected must name at least one arm")
    if any(w <= 0 for w in expected.values()):
        raise ValueError("every expected ratio must be positive")
    dof = max(1, len(expected) - 1)
    if dof > len(_CHI2_CRIT_05):
        raise ValueError(
            f"dof={dof} exceeds the published critical-value table "
            f"(max {len(_CHI2_CRIT_05)}); extend _CHI2_CRIT_05 to test "
            "more arms"
        )
    total_w = float(sum(expected.values()))
    observed = (
        units.filter(F.col(arm_col).isin(list(expected)))
        .groupBy(F.col(arm_col).alias("arm"))
        .agg(F.count("*").cast("long").alias("n"))
    )
    arms = units.sparkSession.createDataFrame(
        [(k,) for k in sorted(expected)], "arm string"
    )
    counts = arms.join(F.broadcast(observed), "arm", "left").select(
        "arm", F.coalesce("n", F.lit(0)).cast("long").alias("n")
    )
    tot = counts.agg(F.sum("n").cast("double").alias("_tot"))
    ratio = F.create_map(
        *[x for k, w in sorted(expected.items()) for x in (F.lit(k), F.lit(w / total_w))]
    )
    with_e = counts.crossJoin(F.broadcast(tot)).select(
        "arm",
        "n",
        F.round(F.col("_tot") * ratio[F.col("arm")], 6).alias("expected_n"),
        F.round(
            (F.col("n") - F.col("_tot") * ratio[F.col("arm")])
            * (F.col("n") - F.col("_tot") * ratio[F.col("arm")])
            / (F.col("_tot") * ratio[F.col("arm")]),
            9,
        ).alias("term"),
    )
    crit = _CHI2_CRIT_05[dof - 1]
    chi = with_e.agg(
        F.round(F.sum(F.col("term").cast("decimal(25,9)")).cast("double"), 6).alias(
            "chi2"
        )
    )
    return (
        with_e.crossJoin(F.broadcast(chi))
        .select(
            "arm",
            "n",
            "expected_n",
            "term",
            "chi2",
            F.lit(dof).cast("long").alias("dof"),
            (F.col("chi2") > F.lit(crit)).alias("srm"),
        )
        .orderBy("arm")
    )


def quantile_lift(
    df: DataFrame,
    arm_col: str,
    value_col: str,
    control: str,
    treatment: str,
    probs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9),
    accuracy: int | None = None,
) -> DataFrame:
    """Quantile treatment effects — the distributional A/B readout the
    mean hides (Athey & Imbens 2017 motivate QTEs exactly this way: a
    whale-driven positive mean lift with a NEGATIVE median lift means
    the typical user got worse): per requested quantile, the control
    and treatment values and their difference.

    Plan: one GK summary pass PER ARM (two filtered aggregates over the
    fact table — no sort, no window, no per-row fan-out), then the two
    1-ROW summaries broadcast-recombine and a probs-sized literal
    explode emits the readout. With ``accuracy=None`` the GK pass runs
    effectively exact and returns ceil(p*n)-rank elements (the
    q204/q212/q382 rule) — SQL-replayable by rank arithmetic; pass a
    finite ``accuracy`` for the 100 TB path (same plan, bounded
    memory).

    Output per prob: (p, n_control, n_treatment, q_control,
    q_treatment, lift 6dp). An empty arm reports n=0 with NULL
    quantiles and NULL lift — check n_* before reading the lifts.
    """
    ps = [float(p) for p in probs]
    if not ps or sorted(ps) != ps or ps[0] <= 0 or ps[-1] >= 1:
        raise ValueError("probs must be ascending and inside (0, 1)")
    acc = int(accuracy) if accuracy is not None else 10_000_000
    parr = F.array(*[F.lit(p) for p in ps])

    def one_arm(arm: str, prefix: str) -> DataFrame:
        return (
            df.filter(F.col(arm_col) == arm)
            .agg(
                F.percentile_approx(value_col, parr, F.lit(acc)).alias(
                    f"_q{prefix}"
                ),
                F.count(value_col).alias(f"n_{prefix}"),
            )
        )

    both = F.broadcast(one_arm(control, "control")).crossJoin(
        F.broadcast(one_arm(treatment, "treatment"))
    )
    out = both.select(
        F.posexplode(parr).alias("_i", "p"),
        "n_control",
        "n_treatment",
        "_qcontrol",
        "_qtreatment",
    ).select(
        "p",
        "n_control",
        "n_treatment",
        F.element_at("_qcontrol", F.col("_i") + 1).alias("q_control"),
        F.element_at("_qtreatment", F.col("_i") + 1).alias("q_treatment"),
        F.round(
            F.element_at("_qtreatment", F.col("_i") + 1)
            - F.element_at("_qcontrol", F.col("_i") + 1),
            6,
        ).alias("lift"),
    )
    return out


# Standard normal quantiles for the supported alpha (two-sided) and
# power levels — published constants (Abramowitz & Stegun), the same
# fixed-table convention as _CHI2_CRIT_05.
_Z_ALPHA_2 = {0.10: 1.6448536269514722, 0.05: 1.959963984540054,
              0.01: 2.5758293035489004}
_Z_POWER = {0.8: 0.8416212335729143, 0.9: 1.2815515655446004,
            0.95: 1.6448536269514722}


def power_analysis(
    df: DataFrame,
    value_col: str,
    mde: float,
    alpha: float = 0.05,
    power: float = 0.8,
) -> DataFrame:
    """Sample-size calculator for a two-arm mean test — the question
    every experiment starts with: at the metric's OBSERVED variance,
    how many units per arm does detecting an absolute lift of ``mde``
    take?  n/arm = 2·(z_{1-α/2} + z_{power})²·σ²/δ² (the standard
    two-sample normal-approximation formula, e.g. Kohavi-Tang-Xu 2020
    §17).

    σ² comes from the data in ONE no-grouping map-side-combined
    aggregate (decimal-stabilized sums, the engine-wide exactness
    rule — products 6dp-rounded before the decimal cast, the CUPED
    convention); z constants are fixed published quantiles
    (ValueError outside the table, the SRM precedent — no silent
    approximation). Output one row: (n_observed, mean, variance,
    sigma, mde, z_alpha, z_power, n_per_arm) with n_per_arm rounded
    UP (ceil — under-powering is the failure mode).
    """
    from .aggregate import stable_sum

    if mde <= 0:
        raise ValueError("mde must be positive")
    if alpha not in _Z_ALPHA_2:
        raise ValueError(
            f"alpha={alpha} not in supported table {sorted(_Z_ALPHA_2)}"
        )
    if power not in _Z_POWER:
        raise ValueError(
            f"power={power} not in supported table {sorted(_Z_POWER)}"
        )
    za, zp = _Z_ALPHA_2[alpha], _Z_POWER[power]
    v = F.col(value_col).cast("double")
    agg = df.agg(
        F.count(value_col).alias("n_observed"),
        stable_sum(v, 6).alias("_s"),
        stable_sum(F.round(v * v, 6), 6).alias("_ss"),
    )
    n = F.col("n_observed").cast("double")
    mean = F.col("_s") / n
    # sample variance (n-1 denominator); NULL for n < 2
    var = F.try_divide(F.col("_ss") - F.col("_s") * F.col("_s") / n, n - 1)
    n_arm = F.ceil(
        F.lit(2.0) * F.lit((za + zp) ** 2) * var / F.lit(float(mde) ** 2)
    ).cast("long")
    return agg.select(
        "n_observed",
        F.round(mean, 6).alias("mean"),
        F.round(var, 6).alias("variance"),
        F.round(F.sqrt(var), 6).alias("sigma"),
        F.lit(float(mde)).alias("mde"),
        F.lit(za).alias("z_alpha"),
        F.lit(zp).alias("z_power"),
        n_arm.alias("n_per_arm"),
    )


def conformal_interval(
    df: DataFrame,
    group_col: str,
    pred_col: str,
    actual_col: str,
    alpha: float = 0.1,
    accuracy: int | None = None,
) -> DataFrame:
    """Split-conformal prediction interval calibration per group
    (Vovk's conformal framework; Angelopoulos & Bates 2021 tutorial
    form): q_hat = the ceil((1-α)(n+1))-th smallest absolute residual
    of the calibration set — then [pred ± q_hat] covers new points with
    probability ≥ 1-α, distribution-free. The per-group form is the
    production shape (one interval per segment/model/horizon).

    The (n+1) finite-sample correction rides a data trick instead of a
    second pass: ONE +∞ sentinel row per group is unioned in, making
    the GK pass over n+1 values select exactly the conformal rank —
    ceil(p·(n+1)) with p = 1-α (the q204/q212 rule). A q_hat that
    lands on the sentinel means α is too small for this n (coverage
    unachievable) and reports NULL rather than a fake number.

    Plan: one map-side residual projection + a groups-sized sentinel
    union + ONE grouped GK aggregate — no sort, no window, no collect.
    ``accuracy`` as elsewhere: None = effectively exact (oracle-
    replayable), finite = the bounded-memory 100 TB path.
    """
    if not (0 < alpha < 1):
        raise ValueError("alpha must be in (0, 1)")
    acc = int(accuracy) if accuracy is not None else 10_000_000
    resid = df.select(
        F.col(group_col).alias("grp"),
        F.abs(
            F.col(pred_col).cast("double") - F.col(actual_col).cast("double")
        ).alias("_r"),
    ).filter(F.col("_r").isNotNull())
    sentinel = resid.select("grp").distinct().withColumn(
        "_r", F.lit(float("inf"))
    )
    aug = resid.unionByName(sentinel)
    out = aug.groupBy("grp").agg(
        (F.count(F.lit(1)) - 1).cast("long").alias("n_cal"),
        F.percentile_approx("_r", F.lit(1.0 - alpha), F.lit(acc)).alias(
            "_q"
        ),
    )
    return out.select(
        F.col("grp").alias(group_col),
        "n_cal",
        F.when(F.col("_q") == F.lit(float("inf")), F.lit(None)).otherwise(
            F.round("_q", 6)
        ).alias("q_hat"),
        F.lit(float(alpha)).alias("alpha"),
    )


def brier_decomposition(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Murphy (1973) decomposition of the Brier score — the
    calibration readout behind every quality-classifier audit:
    BRIER ≈ RELIABILITY − RESOLUTION + UNCERTAINTY, where reliability
    (miscalibration, lower better) is Σ n_k(p̄_k−ō_k)²/n over
    probability bins, resolution (discrimination, higher better) is
    Σ n_k(ō_k−ō)²/n, and uncertainty ō(1−ō) is the data's own
    irreducible term. The identity is exact only for within-bin
    constant forecasts, so the raw Brier mean is reported alongside
    (the residual is the within-bin variance the binning hides).

    Bins are FIXED-WIDTH (floor(p·n_bins), top-capped — exact,
    engine-portable, the q378 convention). Plan: one map-side bucket
    expression + ONE (bin) aggregate + scalar recombination of the
    bins-sized table — two exchanges at any row count. Decimal-
    stabilized sums throughout (products 9dp-rounded pre-cast).
    Output one row: (n, brier, reliability, resolution, uncertainty).
    """
    from .aggregate import stable_sum

    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    p = F.col(prob_col).cast("double")
    o = F.col(label_col).cast("int").cast("double")
    base = df.filter(p.isNotNull() & o.isNotNull()).select(
        F.least(F.lit(n_bins - 1), F.floor(p * n_bins).cast("int")).alias(
            "_bin"
        ),
        p.alias("_p"),
        o.alias("_o"),
    )
    bins = base.groupBy("_bin").agg(
        F.count(F.lit(1)).alias("_nk"),
        stable_sum(F.col("_p"), 9).alias("_sp"),
        F.sum(F.col("_o").cast("long")).alias("_so"),
        stable_sum(F.round((F.col("_p") - F.col("_o")) * (F.col("_p") - F.col("_o")), 9), 9).alias("_sq"),
    )
    tot = bins.agg(
        F.sum("_nk").alias("_n"),
        F.sum("_so").alias("_sumo"),
        stable_sum(F.col("_sq"), 9).alias("_brier_sum"),
    )
    joined = bins.crossJoin(F.broadcast(tot))
    pk = F.col("_sp") / F.col("_nk")
    ok = F.col("_so") / F.col("_nk")
    obar = F.col("_sumo") / F.col("_n")
    terms = joined.select(
        "_n",
        "_sumo",
        "_brier_sum",
        F.round(F.col("_nk") * (pk - ok) * (pk - ok), 9).alias("_rel"),
        F.round(F.col("_nk") * (ok - obar) * (ok - obar), 9).alias("_res"),
    )
    out = terms.groupBy("_n", "_sumo", "_brier_sum").agg(
        stable_sum(F.col("_rel"), 9).alias("_srel"),
        stable_sum(F.col("_res"), 9).alias("_sres"),
    )
    ob = F.col("_sumo") / F.col("_n")
    return out.select(
        F.col("_n").cast("long").alias("n"),
        F.round(F.col("_brier_sum") / F.col("_n"), 6).alias("brier"),
        F.round(F.col("_srel") / F.col("_n"), 6).alias("reliability"),
        F.round(F.col("_sres") / F.col("_n"), 6).alias("resolution"),
        F.round(ob * (F.lit(1.0) - ob), 6).alias("uncertainty"),
    )


def weighted_mean_ess(
    df: DataFrame,
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Importance-weighted mean + Kish effective sample size — the
    diagnostics read BEFORE trusting any importance-weighted estimate
    (DSIR resampling, IPW experiment readouts, survey reweighting):
    ESS = (Σw)²/Σw² collapses toward 1 when a few rows dominate the
    weights, and ess_frac = ESS/n is the standard health number (Kish
    1965; an ess_frac under ~0.1 means the weighted answer hangs on a
    handful of rows).

    ONE no-grouping map-side-combined aggregate — decimal-stabilized
    sums (products 9dp-rounded pre-cast, the engine exactness rule),
    three IEEE divisions at the end. Rows with NULL value or weight
    are excluded; negative weights raise no error here but break the
    ESS interpretation — validate upstream. Output one row:
    (n, weighted_mean, sum_w, ess, ess_frac).
    """
    from .aggregate import stable_sum

    v = F.col(value_col).cast("double")
    w = F.col(weight_col).cast("double")
    base = df.filter(v.isNotNull() & w.isNotNull())
    agg = base.agg(
        F.count(F.lit(1)).alias("n"),
        stable_sum(w, 9).alias("_sw"),
        stable_sum(F.round(w * w, 9), 9).alias("_sww"),
        stable_sum(F.round(w * v, 9), 9).alias("_swv"),
    )
    ess = F.try_divide(F.col("_sw") * F.col("_sw"), F.col("_sww"))
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.round(F.try_divide(F.col("_swv"), F.col("_sw")), 6).alias(
            "weighted_mean"
        ),
        F.round(F.col("_sw"), 6).alias("sum_w"),
        F.round(ess, 6).alias("ess"),
        F.round(F.try_divide(ess, F.col("n").cast("double")), 6).alias(
            "ess_frac"
        ),
    )


def ratio_metric_delta(
    df: DataFrame,
    arm_col: str,
    num_col: str,
    den_col: str,
    control: str,
    treatment: str,
) -> DataFrame:
    """Delta-method readout for RATIO metrics (revenue per session,
    clicks per view — Deng, Knoblich & Lu 2018, "Applying the Delta
    Method in Metric Analytics"): the arm's metric is
    r = Σnum/Σden over randomization UNITS (pass one row per unit —
    pre-aggregate upstream), and Var(r) ≈ (s_x² + r²s_y² − 2r·s_xy) /
    (n·ȳ²) by the first-order expansion. A naive t-test on per-unit
    ratios is simply a different (wrong) estimand when units have
    unequal denominators; this is the standard correction.

    ONE conditional-cell aggregate over the units table (six decimal-
    stabilized sums per arm, map-side combined) + scalar recombination
    — no join, no window, no second pass.

    Output one row: (n_control, n_treatment, ratio_control,
    ratio_treatment, se_control, se_treatment, lift, se_lift, z,
    significant@0.05 two-sided). Arms need n ≥ 2 for a variance; an
    empty or singleton arm reports NULL se/z and significant=false.
    """
    from .aggregate import stable_sum

    x = F.col(num_col).cast("double")
    y = F.col(den_col).cast("double")
    base = df.filter(
        x.isNotNull() & y.isNotNull()
        & F.col(arm_col).isin([control, treatment])
    ).select(
        (F.col(arm_col) == treatment).alias("_t"), x.alias("_x"), y.alias("_y")
    )

    def cell(flag: bool, col: Column, name: str) -> Column:
        return stable_sum(
            F.when(F.col("_t") == flag, col).otherwise(F.lit(None)), 9
        ).alias(name)

    agg = base.agg(
        F.sum(F.when(~F.col("_t"), 1).otherwise(0)).cast("long").alias("nc"),
        F.sum(F.when(F.col("_t"), 1).otherwise(0)).cast("long").alias("nt"),
        cell(False, F.col("_x"), "sxc"),
        cell(False, F.col("_y"), "syc"),
        cell(False, F.round(F.col("_x") * F.col("_x"), 9), "sxxc"),
        cell(False, F.round(F.col("_y") * F.col("_y"), 9), "syyc"),
        cell(False, F.round(F.col("_x") * F.col("_y"), 9), "sxyc"),
        cell(True, F.col("_x"), "sxt"),
        cell(True, F.col("_y"), "syt"),
        cell(True, F.round(F.col("_x") * F.col("_x"), 9), "sxxt"),
        cell(True, F.round(F.col("_y") * F.col("_y"), 9), "syyt"),
        cell(True, F.round(F.col("_x") * F.col("_y"), 9), "sxyt"),
    )

    def arm(n: str, sx: str, sy: str, sxx: str, syy: str, sxy: str):
        nn = F.col(n).cast("double")
        r = F.try_divide(F.col(sx), F.col(sy))
        ybar = F.try_divide(F.col(sy), nn)
        varx = F.try_divide(
            F.col(sxx) - F.col(sx) * F.col(sx) / nn, nn - 1
        )
        vary = F.try_divide(
            F.col(syy) - F.col(sy) * F.col(sy) / nn, nn - 1
        )
        covxy = F.try_divide(
            F.col(sxy) - F.col(sx) * F.col(sy) / nn, nn - 1
        )
        var_r = F.try_divide(
            varx + r * r * vary - F.lit(2.0) * r * covxy,
            nn * ybar * ybar,
        )
        # FP noise can push a tiny true variance below zero (floor at
        # 0); an arm with n < 2 has NO estimable variance — NULL, not
        # 0, or a singleton arm would silently read as noiseless
        se = F.when(nn >= 2, F.sqrt(F.greatest(var_r, F.lit(0.0))))
        return r, se

    rc, sec = arm("nc", "sxc", "syc", "sxxc", "syyc", "sxyc")
    rt, set_ = arm("nt", "sxt", "syt", "sxxt", "syyt", "sxyt")
    lift = rt - rc
    se_lift = F.sqrt(set_ * set_ + sec * sec)
    z = F.round(F.try_divide(lift, se_lift), 6)
    return agg.select(
        F.col("nc").alias("n_control"),
        F.col("nt").alias("n_treatment"),
        F.round(rc, 6).alias("ratio_control"),
        F.round(rt, 6).alias("ratio_treatment"),
        F.round(sec, 6).alias("se_control"),
        F.round(set_, 6).alias("se_treatment"),
        F.round(lift, 6).alias("lift"),
        F.round(se_lift, 6).alias("se_lift"),
        z.alias("z"),
        F.coalesce(
            F.abs(z) > F.lit(_Z_ALPHA_2[0.05]), F.lit(False)
        ).alias("significant"),
    )


def cluster_design_effect(
    df: DataFrame,
    cluster_col: str,
    value_col: str,
) -> DataFrame:
    """Design-effect diagnostics for CLUSTER-randomized or cluster-
    sampled metrics (randomize users, analyze events): the intraclass
    correlation from one-way ANOVA with unequal cluster sizes
    (ICC = (MSB − MSW)/(MSB + (n₀−1)·MSW), n₀ the Kish/ANOVA average
    size correction (N − Σm²/N)/(J−1)), the Kish design effect
    DEFF = 1 + (m̄−1)·ICC, and the effective sample size N/DEFF —
    the number an event-level z-test silently overstates N by (Kish
    1965; Donner & Klar 2000).

    Plan: one map-combined (cluster) aggregate reduces the data to a
    clusters-sized frame; one scalar reduce of that frame finishes —
    no window, no join, two exchanges total at any size.

    Cross-engine exactness: per-cluster sums ride DECIMAL(9dp); the
    per-cluster S²/m terms round at 9dp before the decimal fold; final
    ratios are IEEE divisions rounded at 6dp.

    Output one row: (n, j_clusters, mean_cluster_size, msb, msw, icc,
    deff, n_eff). Degenerate inputs (J < 2 or N == J) report NULL
    icc/deff/n_eff rather than refusing — the counts still inform.
    """
    from .aggregate import stable_sum

    v = F.col(value_col).cast("double")
    per = (
        df.filter(v.isNotNull())
        .groupBy(F.col(cluster_col).alias("_c"))
        .agg(
            F.count(F.lit(1)).alias("_m"),
            stable_sum(v, 9).alias("_s"),
            stable_sum(F.round(v * v, 9), 9).alias("_ss"),
        )
    )
    agg = per.agg(
        F.count(F.lit(1)).alias("_j"),
        F.sum("_m").cast("long").alias("_n"),
        stable_sum(F.col("_s"), 9).alias("_g"),
        stable_sum(F.col("_ss"), 9).alias("_sstot"),
        stable_sum(
            F.round(
                F.col("_s") * F.col("_s") / F.col("_m").cast("double"), 9
            ),
            9,
        ).alias("_sb"),
        F.sum(F.col("_m") * F.col("_m")).cast("long").alias("_smm"),
    )
    nn = F.col("_n").cast("double")
    jj = F.col("_j").cast("double")
    ssb = F.col("_sb") - F.col("_g") * F.col("_g") / nn
    ssw = F.col("_sstot") - F.col("_sb")
    msb = F.try_divide(ssb, jj - 1)
    msw = F.try_divide(ssw, nn - jj)
    n0 = F.try_divide(nn - F.col("_smm").cast("double") / nn, jj - 1)
    icc = F.try_divide(msb - msw, msb + (n0 - 1) * msw)
    mbar = nn / jj
    deff = F.lit(1.0) + (mbar - 1) * icc
    return agg.select(
        F.col("_n").alias("n"),
        F.col("_j").alias("j_clusters"),
        F.round(mbar, 6).alias("mean_cluster_size"),
        F.round(msb, 6).alias("msb"),
        F.round(msw, 6).alias("msw"),
        F.round(icc, 6).alias("icc"),
        F.round(deff, 6).alias("deff"),
        F.round(F.try_divide(nn, deff), 6).alias("n_eff"),
    )


def stratified_lift(
    df: DataFrame,
    stratum_col: str,
    arm_col: str,
    value_col: str,
    control: str,
    treatment: str,
) -> DataFrame:
    """Post-stratified A/B lift (Miratrix, Sekhon & Yu 2013): reweight
    per-(stratum, arm) means by the POOLED stratum shares so a stratum
    imbalance between arms (the randomization noise CUPED attacks with
    a covariate) cannot masquerade as lift; variance is the standard
    Σ w²·s²/n stratified form. Strata missing either arm cannot be
    compared and are DROPPED with the weights renormalized over the
    complete strata (reported, not silent).

    Plan: one conditional-cell (stratum) aggregate reduces the corpus
    to a strata-sized frame; complete-strata totals are a second
    aggregate of that frame broadcast back; one final scalar reduce.
    No window, no data-sized join.

    Output one row: (n_strata, n_strata_dropped, n_control,
    n_treatment, naive_lift, adj_lift, se, z, significant@0.05) —
    naive_lift (unstratified difference of means over complete strata)
    is emitted next to adj_lift so the confound is visible.
    """
    from .aggregate import stable_sum

    v = F.col(value_col).cast("double")
    base = df.filter(
        v.isNotNull() & F.col(arm_col).isin([control, treatment])
    ).select(
        F.col(stratum_col).alias("_s"),
        (F.col(arm_col) == treatment).alias("_t"),
        v.alias("_v"),
    )
    per = base.groupBy("_s").agg(
        F.sum(F.when(~F.col("_t"), 1).otherwise(0)).cast("long").alias("_ncs"),
        F.sum(F.when(F.col("_t"), 1).otherwise(0)).cast("long").alias("_nts"),
        stable_sum(F.when(~F.col("_t"), F.col("_v")), 9).alias("_svc"),
        stable_sum(F.when(F.col("_t"), F.col("_v")), 9).alias("_svt"),
        stable_sum(
            F.when(~F.col("_t"), F.round(F.col("_v") * F.col("_v"), 9)), 9
        ).alias("_svvc"),
        stable_sum(
            F.when(F.col("_t"), F.round(F.col("_v") * F.col("_v"), 9)), 9
        ).alias("_svvt"),
    ).withColumn("_complete", (F.col("_ncs") > 0) & (F.col("_nts") > 0))
    tot = per.agg(
        F.sum(F.when(F.col("_complete"), F.col("_ncs") + F.col("_nts"))
              .otherwise(F.lit(0))).cast("long").alias("_nn"),
        F.sum(F.when(F.col("_complete"), 1).otherwise(0))
        .cast("long")
        .alias("_js"),
        F.count(F.lit(1)).alias("_jall"),
    )
    j = per.filter(F.col("_complete")).crossJoin(F.broadcast(tot))
    w = (F.col("_ncs") + F.col("_nts")).cast("double") / F.col("_nn")
    mc = F.col("_svc") / F.col("_ncs")
    mt = F.col("_svt") / F.col("_nts")
    varc = F.try_divide(
        F.col("_svvc") - F.col("_svc") * F.col("_svc") / F.col("_ncs"),
        (F.col("_ncs") - 1).cast("double"),
    )
    vart = F.try_divide(
        F.col("_svvt") - F.col("_svt") * F.col("_svt") / F.col("_nts"),
        (F.col("_nts") - 1).cast("double"),
    )
    # singleton cells carry zero estimable variance; count them exact,
    # variance contribution 0 (documented conservative-down choice)
    var_term = w * w * (
        F.coalesce(F.try_divide(vart, F.col("_nts").cast("double")), F.lit(0.0))
        + F.coalesce(F.try_divide(varc, F.col("_ncs").cast("double")), F.lit(0.0))
    )
    terms = j.select(
        "_nn",
        "_js",
        "_jall",
        F.col("_ncs").alias("_ncx"),
        F.col("_nts").alias("_ntx"),
        F.round(w * (mt - mc), 9).alias("_wlift"),
        F.round(var_term, 9).alias("_wvar"),
        F.col("_svc").alias("_svc"),
        F.col("_svt").alias("_svt"),
    )
    out = terms.groupBy("_nn", "_js", "_jall").agg(
        F.sum("_ncx").cast("long").alias("n_control"),
        F.sum("_ntx").cast("long").alias("n_treatment"),
        stable_sum(F.col("_wlift"), 9).alias("_adj"),
        stable_sum(F.col("_wvar"), 9).alias("_var"),
        stable_sum(F.col("_svc"), 9).alias("_allc"),
        stable_sum(F.col("_svt"), 9).alias("_allt"),
    )
    se = F.sqrt(F.greatest(F.col("_var"), F.lit(0.0)))
    z = F.round(F.try_divide(F.col("_adj"), se), 6)
    naive = F.col("_allt") / F.col("n_treatment") - F.col("_allc") / F.col(
        "n_control"
    )
    return out.select(
        F.col("_js").alias("n_strata"),
        (F.col("_jall") - F.col("_js")).cast("long").alias("n_strata_dropped"),
        "n_control",
        "n_treatment",
        F.round(naive, 6).alias("naive_lift"),
        F.round(F.col("_adj"), 6).alias("adj_lift"),
        F.round(se, 6).alias("se"),
        z.alias("z"),
        F.coalesce(
            F.abs(z) > F.lit(_Z_ALPHA_2[0.05]), F.lit(False)
        ).alias("significant"),
    )


# Abramowitz & Stegun 26.2.17 rational approximation of the standard
# normal upper tail (|error| < 7.5e-8) — the published closed form that
# turns the engine's z statistics into p-values WITHOUT a client-side
# CDF table, in plain arithmetic any SQL engine replays identically.
_AS_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_AS_T = 0.2316419
_INV_SQRT_2PI = 0.3989422804014327


def normal_p_two_sided(z: Column) -> Column:
    """Two-sided normal p-value 2·Q(|z|) via Abramowitz-Stegun 26.2.17
    (accuracy 7.5e-8 — documented approximation, the trade for an
    engine-portable closed form; exact enough for any FDR/significance
    read). Rounds at 9dp (the libm rule — exp is the one
    transcendental inside)."""
    az = F.abs(z)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_AS_T) * az)
    poly = (
        F.lit(_AS_B[0]) * t
        + F.lit(_AS_B[1]) * t * t
        + F.lit(_AS_B[2]) * t * t * t
        + F.lit(_AS_B[3]) * t * t * t * t
        + F.lit(_AS_B[4]) * t * t * t * t * t
    )
    q = F.lit(_INV_SQRT_2PI) * F.exp(-az * az / F.lit(2.0)) * poly
    return F.round(F.least(F.lit(2.0) * q, F.lit(1.0)), 9)


def normal_p_two_sided_sql(z_expr: str) -> str:
    """DuckDB twin of :func:`normal_p_two_sided` — same constants, same
    operation order, digit-for-digit."""
    b = _AS_B
    t = f"(1.0 / (1.0 + {_AS_T} * abs({z_expr})))"
    poly = (
        f"({b[0]} * {t} + {b[1]} * {t} * {t} + {b[2]} * {t} * {t} * {t}"
        f" + {b[3]} * {t} * {t} * {t} * {t}"
        f" + {b[4]} * {t} * {t} * {t} * {t} * {t})"
    )
    q = (
        f"({_INV_SQRT_2PI} * exp(-abs({z_expr}) * abs({z_expr}) / 2.0)"
        f" * {poly})"
    )
    return f"round(least(2.0 * {q}, 1.0), 9)"


def ipw_lift(
    df: DataFrame,
    treat_col: str,
    outcome_col: str,
    logit_col: str,
    trim_lo: float = 0.05,
    trim_hi: float = 0.95,
) -> DataFrame:
    """Observational lift via inverse-propensity weighting with a
    MODEL-BASED propensity (Horvitz & Thompson 1952; Hirano, Imbens &
    Ridder 2003): the caller supplies a propensity LOGIT column (e.g.
    the hashed-NB classifier's output — llm/quality.hashed_nb_score),
    this operator turns it into e(x) = sigmoid(logit), trims extreme
    propensities to [trim_lo, trim_hi] (Crump et al. 2009 — unbounded
    1/e weights make the estimator arbitrarily fragile), and reports
    Hajek-normalized weighted means per arm:

        mu_1 = sum(T·y/e) / sum(T/e)
        mu_0 = sum((1-T)·y/(1-e)) / sum((1-T)/(1-e))

    plus the Kish effective sample size per arm ((sum w)^2 / sum w**2,
    the q400 convention) — the honest denominator for any downstream
    power readout. Hajek normalization makes the usual stabilization
    constant (the marginal treated share) cancel in the point estimate,
    so it is intentionally omitted — documented, not forgotten.

    Cell-propensity IPW with Hajek normalization is algebraically
    post-stratification (see stratified_lift); this operator earns its
    row by accepting an arbitrary MODEL's propensity — the form that
    survives when strata are too many to enumerate.

    ONE conditional aggregate over the trimmed rows (map-side
    combined, no join, no window). Determinism: e rounds at 9dp (exp is
    libm), weights and weighted terms round at 9dp (single divisions /
    products of 9dp operands), sums ride DECIMAL(38,9), the final
    means are one division each, 6dp out.

    Output one row: (n_treat, n_control, n_trimmed, mu_treat,
    mu_control, lift, ess_treat, ess_control). An empty arm after
    trimming reports NULL means and NULL lift.
    """
    if not (0.0 <= trim_lo < trim_hi <= 1.0):
        raise ValueError(
            f"need 0 <= trim_lo < trim_hi <= 1, got [{trim_lo}, {trim_hi}]"
        )
    from .aggregate import stable_sum

    lg = F.col(logit_col).cast("double")
    e = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-lg)), 9)
    t = F.col(treat_col).cast("boolean")
    y = F.col(outcome_col).cast("double")
    base = df.filter(
        t.isNotNull() & y.isNotNull() & lg.isNotNull()
    ).select(
        t.alias("_t"),
        y.alias("_y"),
        e.alias("_e"),
        ((e >= F.lit(trim_lo)) & (e <= F.lit(trim_hi))).alias("_keep"),
    )
    w = F.when(
        F.col("_t"), F.round(F.lit(1.0) / F.col("_e"), 9)
    ).otherwise(F.round(F.lit(1.0) / (F.lit(1.0) - F.col("_e")), 9))
    kept = base.select(
        "_t",
        "_y",
        F.col("_keep"),
        F.when(F.col("_keep"), w).alias("_w"),
    )

    def arm_sum(flag: bool, col: Column, name: str) -> Column:
        return stable_sum(
            F.when(F.col("_keep") & (F.col("_t") == flag), col),
            9,
        ).alias(name)

    agg = kept.agg(
        F.sum(
            F.when(F.col("_keep") & F.col("_t"), 1).otherwise(0)
        ).cast("long").alias("n_treat"),
        F.sum(
            F.when(F.col("_keep") & ~F.col("_t"), 1).otherwise(0)
        ).cast("long").alias("n_control"),
        F.sum(F.when(~F.col("_keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_trimmed"),
        arm_sum(True, F.col("_w"), "sw1"),
        arm_sum(True, F.round(F.col("_w") * F.col("_y"), 9), "swy1"),
        arm_sum(True, F.round(F.col("_w") * F.col("_w"), 9), "sww1"),
        arm_sum(False, F.col("_w"), "sw0"),
        arm_sum(False, F.round(F.col("_w") * F.col("_y"), 9), "swy0"),
        arm_sum(False, F.round(F.col("_w") * F.col("_w"), 9), "sww0"),
    )
    mu1 = F.try_divide(F.col("swy1"), F.col("sw1"))
    mu0 = F.try_divide(F.col("swy0"), F.col("sw0"))
    return agg.select(
        "n_treat",
        "n_control",
        "n_trimmed",
        F.round(mu1, 6).alias("mu_treat"),
        F.round(mu0, 6).alias("mu_control"),
        F.round(mu1 - mu0, 6).alias("lift"),
        F.round(
            F.try_divide(F.col("sw1") * F.col("sw1"), F.col("sww1")), 6
        ).alias("ess_treat"),
        F.round(
            F.try_divide(F.col("sw0") * F.col("sw0"), F.col("sww0")), 6
        ).alias("ess_control"),
    )


def jackknife_ratio_ci(
    df: DataFrame,
    num_col: str,
    den_col: str,
    id_col: str,
    n_buckets: int = 20,
    alpha: float = 0.05,
) -> DataFrame:
    """Delete-one-BUCKET jackknife variance for a ratio-of-sums metric
    (Quenouille 1956 / Tukey 1958; the bucketed form is the standard
    large-scale estimator — units are hashed into B buckets and the
    leave-one-out runs over buckets, not rows, so B resamples cost one
    aggregate regardless of corpus size):

        theta      = Sx / Sy
        theta_(b)  = (Sx - sx_b) / (Sy - sy_b)
        var_jack   = (B-1)/B * sum_b (theta_(b) - theta_bar)^2

    The delta method (ratio_metric_delta) linearizes analytically; the
    jackknife resamples empirically — run both, disagreement means the
    linearization is strained (heavy tails, tiny n). Buckets come from
    the portable md5 rule (functions/portable_hash.u32_md5 mod B) so
    any engine replays the assignment digit-for-digit. B is the number
    of NON-EMPTY buckets (identical to n_buckets except on toy inputs;
    documented).

    Plans: one map-combined groupBy to a B-row frame, then scalar
    recombination on that frame (one broadcast of a 1-row total) — two
    exchanges, both tiny. Determinism: bucket sums ride DECIMAL(38,9);
    each theta rounds at 9dp (one division); deviations of 9dp values
    land exactly ON the 9dp grid and their squares are carried as EXACT
    decimal products (the q411 tied-products rule — never round a
    product of rounded values); sqrt is libm, 6dp out.

    Output one row: (theta, se_jack, ci_lo, ci_hi, n_buckets, n_units).
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if alpha not in _Z_ALPHA_2:
        raise ValueError(
            f"alpha={alpha} not in supported table {sorted(_Z_ALPHA_2)}"
        )
    from .aggregate import stable_sum

    z = _Z_ALPHA_2[alpha]
    x = F.col(num_col).cast("double")
    y = F.col(den_col).cast("double")
    base = df.filter(x.isNotNull() & y.isNotNull()).select(
        (u32_md5(F.col(id_col), "jk") % F.lit(n_buckets)).alias("_b"),
        x.alias("_x"),
        y.alias("_y"),
    )
    per_bucket = base.groupBy("_b").agg(
        stable_sum("_x", 9).alias("sx"),
        stable_sum("_y", 9).alias("sy"),
        F.count(F.lit(1)).alias("cnt"),
    )
    # totals carry distinct names (tsx vs sx): Spark resolution is
    # case-insensitive, so a bucket column `sx` and a total `Sx` would
    # collide as ambiguous references
    tot = per_bucket.agg(
        stable_sum("sx", 9).alias("tsx"),
        stable_sum("sy", 9).alias("tsy"),
        F.count(F.lit(1)).alias("nb"),
        F.sum("cnt").cast("long").alias("n_units"),
    )
    loo = per_bucket.crossJoin(F.broadcast(tot)).select(
        "tsx",
        "tsy",
        "nb",
        "n_units",
        F.round(
            F.try_divide(
                F.col("tsx") - F.col("sx"), F.col("tsy") - F.col("sy")
            ),
            9,
        ).alias("th"),
    )
    # theta_bar at 9dp; deviations are exact 9dp decimals; squares are
    # exact DECIMAL(38,18) products (never re-rounded)
    bar = loo.agg(
        (stable_sum("th", 9) / F.count(F.lit(1))).alias("_raw_bar")
    ).select(F.round(F.col("_raw_bar"), 9).alias("th_bar"))
    dev = loo.crossJoin(F.broadcast(bar)).select(
        "tsx",
        "tsy",
        "nb",
        "n_units",
        (
            (F.col("th") - F.col("th_bar")).cast("decimal(18,9)")
            * (F.col("th") - F.col("th_bar")).cast("decimal(18,9)")
        ).alias("dev2"),
    )
    fin = dev.groupBy("tsx", "tsy", "nb", "n_units").agg(
        F.sum("dev2").cast("double").alias("ss")
    )
    theta = F.round(F.try_divide(F.col("tsx"), F.col("tsy")), 9)
    bb = F.col("nb").cast("double")
    se = F.sqrt((bb - F.lit(1.0)) / bb * F.col("ss"))
    return fin.select(
        F.round(theta, 6).alias("theta"),
        F.round(se, 6).alias("se_jack"),
        F.round(theta - F.lit(z) * se, 6).alias("ci_lo"),
        F.round(theta + F.lit(z) * se, 6).alias("ci_hi"),
        F.col("nb").cast("long").alias("n_buckets"),
        "n_units",
    )


def propensity_overlap(
    df: DataFrame,
    treat_col: str,
    logit_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Propensity-overlap (positivity) diagnostic for IPW/matching
    (Austin 2011, "An Introduction to Propensity Score Methods"; the
    standing companion readout to ipw_lift — weighting is only valid
    where BOTH arms have propensity mass, and trimming bounds should be
    chosen from exactly this table): histogram of e(x) = sigmoid(logit)
    per arm over ``n_bins`` equal-width bins, with per-arm shares and
    the per-bin overlap mass min(share_treat, share_control). The sum
    of min_share over bins is the overlap coefficient — near 0 means
    the arms live in disjoint propensity regions and NO weighting
    estimator is trustworthy.

    ONE conditional aggregate to a bins-sized frame + a 1-row arm-total
    broadcast. e rounds at 9dp (libm rule); bin = min(floor(e·bins),
    bins−1) on identical doubles; shares are single divisions, 6dp out.

    Output, one row per non-empty bin: (bin, e_lo, e_hi, n_treat,
    n_control, share_treat, share_control, min_share).
    """
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    lg = F.col(logit_col).cast("double")
    e = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-lg)), 9)
    t = F.col(treat_col).cast("boolean")
    base = df.filter(t.isNotNull() & lg.isNotNull()).select(
        t.alias("_t"),
        F.least(
            F.floor(e * F.lit(float(n_bins))).cast("long"),
            F.lit(n_bins - 1),
        ).alias("bin"),
    )
    per_bin = base.groupBy("bin").agg(
        F.sum(F.when(F.col("_t"), 1).otherwise(0)).cast("long").alias("n_treat"),
        F.sum(F.when(~F.col("_t"), 1).otherwise(0))
        .cast("long")
        .alias("n_control"),
    )
    tot = per_bin.agg(
        F.sum("n_treat").cast("long").alias("tt"),
        F.sum("n_control").cast("long").alias("tc"),
    )
    st = F.try_divide(
        F.col("n_treat").cast("double"), F.col("tt").cast("double")
    )
    sc = F.try_divide(
        F.col("n_control").cast("double"), F.col("tc").cast("double")
    )
    return (
        per_bin.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            F.round(
                F.col("bin").cast("double") / F.lit(float(n_bins)), 6
            ).alias("e_lo"),
            F.round(
                (F.col("bin") + F.lit(1)).cast("double")
                / F.lit(float(n_bins)),
                6,
            ).alias("e_hi"),
            "n_treat",
            "n_control",
            F.round(st, 6).alias("share_treat"),
            F.round(sc, 6).alias("share_control"),
            F.round(F.least(st, sc), 6).alias("min_share"),
        )
        .orderBy("bin")
    )


def pass_at_k(
    df: DataFrame,
    problem_col: str,
    success_col: str,
    ks: tuple = (1, 5, 10),
) -> DataFrame:
    """Unbiased pass@k (Chen et al. 2021, "Evaluating Large Language
    Models Trained on Code", eq. 1) — THE reporting metric for
    sampled-attempt evals: given n attempts per problem with c
    successes, the probability that a random size-k subset contains at
    least one success,

        pass@k = 1 - C(n-c, k) / C(n, k)
               = 1 - prod_{i=0}^{k-1} (n - c - i) / (n - i)

    computed per problem and averaged equally across problems (the
    paper's protocol). The naive estimator (fraction of problems whose
    FIRST k attempts succeed) is biased when attempts are subsampled;
    this closed form is exactly unbiased. Problems with n < k report
    NULL and are EXCLUDED from that k's mean (insufficient attempts —
    counted out, not imputed); the product's zero factor makes
    pass@k = 1 exactly whenever n - c < k.

    ONE corpus-sized groupBy to a problems-sized frame, then a
    ks-sized literal explode + one k-keyed aggregate. The product is a
    fixed-order left fold of identical-operand IEEE divisions (Spark
    ``aggregate`` HOF; the oracle replays it with DuckDB
    ``list_reduce`` — same fold order), rounded at 9dp per problem,
    DECIMAL-summed, 6dp out.

    Output, one row per k: (k, n_problems, mean_pass_at_k).
    """
    if not ks or list(ks) != sorted(set(int(k) for k in ks)) or min(ks) < 1:
        raise ValueError(
            f"ks must be distinct ascending positive ints, got {ks!r}"
        )
    from .aggregate import stable_sum

    per_problem = df.filter(
        F.col(problem_col).isNotNull() & F.col(success_col).isNotNull()
    ).groupBy(F.col(problem_col).alias("_prob")).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col(success_col).cast("boolean").cast("int"))
        .cast("long")
        .alias("_c"),
    )

    def pass_expr(k: int) -> Column:
        terms = F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda i: (F.col("_n") - F.col("_c") - i).cast("double")
            / (F.col("_n") - i).cast("double"),
        )
        prod = F.aggregate(terms, F.lit(1.0), lambda acc, x: acc * x)
        return F.when(
            F.col("_n") >= F.lit(k), F.round(F.lit(1.0) - prod, 9)
        )

    structs = F.array(
        *[
            F.struct(
                F.lit(int(k)).alias("k"), pass_expr(int(k)).alias("p")
            )
            for k in ks
        ]
    )
    rows = per_problem.select(F.explode(structs).alias("_t")).select(
        F.col("_t.k").alias("k"), F.col("_t.p").alias("p")
    )
    return (
        rows.groupBy("k")
        .agg(
            F.count("p").alias("n_problems"),
            F.round(
                F.try_divide(stable_sum("p", 9), F.count("p")), 6
            ).alias("mean_pass_at_k"),
        )
        .select(
            F.col("k").cast("long").alias("k"),
            F.col("n_problems").cast("long").alias("n_problems"),
            "mean_pass_at_k",
        )
        .orderBy("k")
    )


def best_of_n_value(
    df: DataFrame,
    problem_col: str,
    score_col: str,
    tiebreak_col: str,
    ks: tuple = (1, 5, 10),
) -> DataFrame:
    """Unbiased best-of-k expected MAXIMUM score from n > k sampled
    attempts (the order-statistics estimator of the BoN curve — Nakano
    et al. 2021 WebGPT appendix; the continuous companion to
    ``pass_at_k`` for reward-model selection: "what score would
    best-of-k sampling achieve?"):

        E[max of k] = sum_i s_(i) * C(i-1, k-1) / C(n, k)

    over the ascending order statistics s_(1..n), computed per problem
    and averaged equally across problems. The weight telescopes to

        w_i = [prod_{j=0}^{k-2} (i-1-j)/(n-j)] * k/(n-k+1)

    — a fixed-order left fold of identical-operand IEEE divisions
    (Spark ``aggregate`` HOF == DuckDB ``list_reduce``, the q431
    pairing); the zero factor at j = i-1 makes w_i exactly 0 for
    i < k, and the weights sum to 1 by the hockey-stick identity.
    Ranks come from (score, tiebreak) so ties order deterministically
    in any engine (SURVEY 5.3 rule 5). Problems with n < k report NULL
    and are excluded from that k's mean.

    Plans: one problem-keyed window (rank) + one problem-keyed
    aggregate per k via a ks-sized literal explode — the corpus
    shuffles ONCE on the problem key. w*s terms round at 9dp onto
    DECIMAL sums; 6dp out.

    Output, one row per k: (k, n_problems, mean_best_of_k).
    """
    if not ks or list(ks) != sorted(set(int(k) for k in ks)) or min(ks) < 1:
        raise ValueError(
            f"ks must be distinct ascending positive ints, got {ks!r}"
        )

    from .aggregate import stable_sum

    w = Window.partitionBy(F.col(problem_col)).orderBy(
        F.col(score_col).asc(), F.col(tiebreak_col).asc()
    )
    ranked = df.filter(
        F.col(problem_col).isNotNull() & F.col(score_col).isNotNull()
    ).select(
        F.col(problem_col).alias("_prob"),
        F.col(score_col).cast("double").alias("_s"),
        F.row_number().over(w).cast("long").alias("_i"),
        F.count(F.lit(1))
        .over(Window.partitionBy(F.col(problem_col)))
        .cast("long")
        .alias("_n"),
    )

    def weight_expr(k: int) -> Column:
        nn = F.col("_n").cast("double")
        if k == 1:
            wk = F.lit(1.0) / nn
        else:
            terms = F.transform(
                F.sequence(F.lit(0), F.lit(k - 2)),
                lambda j: (F.col("_i") - 1 - j).cast("double")
                / (F.col("_n") - j).cast("double"),
            )
            prod = F.aggregate(terms, F.lit(1.0), lambda acc, x: acc * x)
            wk = prod * F.lit(float(k)) / (nn - F.lit(float(k - 1)))
        return F.when(
            F.col("_n") >= F.lit(k), F.round(wk * F.col("_s"), 9)
        )

    structs = F.array(
        *[
            F.struct(
                F.lit(int(k)).alias("k"), weight_expr(int(k)).alias("t")
            )
            for k in ks
        ]
    )
    rows = ranked.select(
        "_prob", F.explode(structs).alias("_e")
    ).select("_prob", F.col("_e.k").alias("k"), F.col("_e.t").alias("t"))
    per_problem = rows.groupBy("_prob", "k").agg(
        F.when(
            F.count("t") > 0, F.round(stable_sum("t", 9), 9)
        ).alias("bo")
    )
    return (
        per_problem.groupBy("k")
        .agg(
            F.count("bo").alias("n_problems"),
            F.round(
                F.try_divide(stable_sum("bo", 9), F.count("bo")), 6
            ).alias("mean_best_of_k"),
        )
        .select(
            F.col("k").cast("long").alias("k"),
            F.col("n_problems").cast("long").alias("n_problems"),
            "mean_best_of_k",
        )
        .orderBy("k")
    )


def ece_report(
    df: DataFrame,
    label_col: str,
    prob_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Expected / maximum calibration error under BOTH binning schemes
    — the scalar summary ``calibration_report`` (reliability bins +
    Brier) deliberately does not collapse to: ECE = Σ_b (n_b/N)·
    |acc_b − conf_b| (Naeini, Cooper & Hauskrecht AAAI 2015; the
    neural-net calibration metric of record per Guo, Pleiss, Sun &
    Weinberger ICML 2017), MCE = max_b |acc_b − conf_b|, computed over
    (a) equal-WIDTH probability bins (the papers' scheme; biased when
    probabilities pile up in one bin) and (b) equal-MASS bins via
    exact rank-selected quantile edges (adaptive/TACE binning, Nixon
    et al. CVPR-W 2019 — every bin carries n/k points so no bin's gap
    is estimated from 3 samples).

    Exactness: per-bin accuracy = exact integer division; confidence =
    DECIMAL(25,9) sum of the 9dp-rounded probability / n (the
    calibration_report contract — callers pass probs pre-rounded to
    9dp); |gap|·n_b sums ride DECIMAL(25,9); each emitted value is one
    IEEE division of those sums, 6dp. Equal-mass edges are the
    ``quantile_edges_exact`` rank grid (driver-collected metadata, the
    documented fixture/oracle mode — production monitoring would take
    the approxQuantile grid).

    Plan per scheme: one map-side bucket + one k-row aggregate + one
    1-row reduce — two passes over the score column, nothing bigger.

    Output: one row per scheme — (scheme, n_bins_used, n, ece, mce).
    """
    from .drift import bucket_by_edges, quantile_edges_exact

    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    p = F.col(prob_col)
    y = F.col(label_col).cast("int")
    scored = df.filter(p.isNotNull() & y.isNotNull())

    width_bin = F.least(
        F.lit(n_bins - 1), F.floor(p * F.lit(n_bins)).cast("int")
    )
    edges = quantile_edges_exact(
        scored.select(p.cast("double").alias("_pv")), "_pv", n_bins, "_pv"
    )
    # interior edges only; ties can collapse edges, shrinking the
    # effective bin count (reported as n_bins_used)
    mass_bin = bucket_by_edges(p.cast("double"), sorted(set(edges)))

    dec = "decimal(25,9)"

    def scheme(bin_col, tag: str) -> DataFrame:
        per_bin = (
            scored.select(
                bin_col.alias("_b"),
                y.alias("_y"),
                F.round(p, 9).cast(dec).alias("_p9"),
            )
            .groupBy("_b")
            .agg(
                F.count("*").cast("long").alias("_n"),
                F.sum("_y").cast("long").alias("_ny"),
                F.sum("_p9").alias("_ps"),
            )
        )
        gap = F.abs(
            F.col("_ny") / F.col("_n")
            - F.col("_ps").cast("double") / F.col("_n")
        )
        return per_bin.agg(
            F.lit(tag).alias("scheme"),
            F.count("*").cast("long").alias("n_bins_used"),
            F.sum("_n").cast("long").alias("n"),
            F.round(
                F.sum(F.round(gap * F.col("_n"), 9).cast(dec)).cast("double")
                / F.sum("_n"),
                6,
            ).alias("ece"),
            F.round(F.max(F.round(gap, 9)), 6).alias("mce"),
        )

    return scheme(width_bin, "width").unionByName(
        scheme(mass_bin, "mass")
    ).orderBy("scheme")


def factorial_interaction(
    df: DataFrame,
    factor_a_col: str,
    factor_b_col: str,
    value_col: str,
) -> DataFrame:
    """2×2 factorial experiment readout (Montgomery, *Design and
    Analysis of Experiments*, ch. 5 — the canonical two-simultaneous-
    treatments design; Kohavi-Tang-Xu §4 for the online form): cell
    means for the four (A, B) cells, the two main-effect contrasts
    (averaged over the other factor's levels), the INTERACTION
    contrast g = (m̄₁₁ − m̄₁₀) − (m̄₀₁ − m̄₀₀) — whether treatment A's
    lift depends on B, the question two separate A/B tests cannot
    answer — and its large-sample z/p via SE² = Σ_cells s²_c/n_c
    (each cell enters every contrast with coefficient ±1) and the
    q407 closed-form normal tail.

    Factor columns must be 0/1 ints (the caller derives them — e.g.
    portable-hash buckets of the randomization unit). Cells with
    n < 2 make the variance — and thus SE/z/p — NULL (honest
    degradation, the q408 singleton rule).

    Exactness: ONE conditional-cell aggregate over the corpus; per-cell
    sums ride DECIMAL(25,9) of 9dp-rounded values; means/variances are
    single IEEE divisions; the contrast chain is fixed-form IEEE
    arithmetic on identical doubles (engine-portable), 6dp out; p at
    the q407 9dp contract.

    Output: ONE row — (n_00, n_01, n_10, n_11, mean_00, mean_01,
    mean_10, mean_11, effect_a, effect_b, interaction, se_interaction,
    z_interaction, p_interaction).
    """
    a = F.col(factor_a_col).cast("int")
    b = F.col(factor_b_col).cast("int")
    v9 = F.round(F.col(value_col).cast("double"), 9)
    dec = "decimal(25,9)"
    dec2 = "decimal(38,18)"

    def cell(ai: int, bi: int, expr, out):
        return F.sum(
            F.when((a == ai) & (b == bi), expr)
        ).alias(out)

    agg = df.agg(
        *[
            f
            for ai in (0, 1)
            for bi in (0, 1)
            for f in (
                F.count(F.when((a == ai) & (b == bi), 1))
                .cast("long")
                .alias(f"_n{ai}{bi}"),
                cell(ai, bi, v9.cast(dec), f"_s{ai}{bi}"),
                cell(
                    ai, bi, F.round(v9 * v9, 9).cast(dec2), f"_q{ai}{bi}"
                ),
            )
        ]
    )

    def mean(ai: int, bi: int):
        return F.col(f"_s{ai}{bi}").cast("double") / F.col(f"_n{ai}{bi}")

    def var(ai: int, bi: int):
        n = F.col(f"_n{ai}{bi}")
        s = F.col(f"_s{ai}{bi}").cast("double")
        q = F.col(f"_q{ai}{bi}").cast("double")
        return F.when(
            n >= 2, (q - s * s / n) / (n - 1)
        )

    m00, m01, m10, m11 = mean(0, 0), mean(0, 1), mean(1, 0), mean(1, 1)
    g = (m11 - m10) - (m01 - m00)
    se2 = sum(
        var(ai, bi) / F.col(f"_n{ai}{bi}")
        for ai in (0, 1)
        for bi in (0, 1)
    )
    se = F.sqrt(se2)
    z = g / se
    return agg.select(
        F.col("_n00").alias("n_00"),
        F.col("_n01").alias("n_01"),
        F.col("_n10").alias("n_10"),
        F.col("_n11").alias("n_11"),
        F.round(m00, 6).alias("mean_00"),
        F.round(m01, 6).alias("mean_01"),
        F.round(m10, 6).alias("mean_10"),
        F.round(m11, 6).alias("mean_11"),
        F.round((m10 + m11) / 2 - (m00 + m01) / 2, 6).alias("effect_a"),
        F.round((m01 + m11) / 2 - (m00 + m10) / 2, 6).alias("effect_b"),
        F.round(g, 6).alias("interaction"),
        F.round(se, 6).alias("se_interaction"),
        F.round(z, 6).alias("z_interaction"),
        F.when(se.isNotNull(), normal_p_two_sided(z)).alias("p_interaction"),
    )


def wilcoxon_signed_rank(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Wilcoxon SIGNED-RANK test over paired observations (Wilcoxon,
    Biometrics 1945 — the paired companion to ``mann_whitney_u``'s
    rank-sum: same units measured under two systems, e.g. per-problem
    metric scores of model A vs model B; the t-test-free answer to
    "is A better than B on the same items?"): d = x − y (rounded 9dp,
    zeros DROPPED and counted — the classic Wilcoxon treatment, Pratt
    handling documented out of scope), |d| ranked with average ranks,
    W+ = Σ ranks of positive d; tie-corrected normal approximation
    z = (W+ − n(n+1)/4) / σ, σ² = n(n+1)(2n+1)/24 − Σ(t³−t)/48, and
    the q407 closed-form two-sided p.

    Integer-exact rank arithmetic: the ``_value_scan`` of the distinct
    |d| values; average ranks are half-integers so 2·W+ =
    Σ npos(v)·(2·cum_before + c + 1) is an exact LONG; W+, z are IEEE
    doubles of exact integers. Then a 1-row reduce.

    Output: ONE row — (n_pairs, n_zero, w_plus, w_minus, z,
    p_two_sided); n_pairs < 1 (all pairs tied) degrades z/p to NULL.
    """
    d = F.round(
        F.col(x_col).cast("double") - F.col(y_col).cast("double"), 9
    )
    base = df.select(d.alias("_d")).filter(F.col("_d").isNotNull())
    zeros = base.agg(
        F.count(F.when(F.col("_d") == 0, 1)).cast("long").alias("n_zero")
    )
    nz = base.filter(F.col("_d") != 0).select(
        F.abs(F.col("_d")).alias("_av"),
        F.lit(1).alias("_c"),
        (F.col("_d") > 0).cast("long").alias("_npos"),
    )
    ranked = _value_scan(nz, [], "_av", ["_c", "_npos"]).select(
        "_c", "_npos", F.col("_c_below").alias("_cum_before")
    )
    # coalesce: an all-tied input leaves the nonzero-diff frame EMPTY,
    # and sums over an empty agg are NULL — the documented degradation
    # is "n_pairs=0, w_plus=0 with NULL z/p", not NULL counts (ADVICE
    # r14).
    agg = ranked.agg(
        F.coalesce(F.sum("_c").cast("long"), F.lit(0).cast("long")).alias(
            "n_pairs"
        ),
        F.coalesce(
            F.sum(
                F.col("_npos") * (2 * F.col("_cum_before") + F.col("_c") + 1)
            ).cast("long"),
            F.lit(0).cast("long"),
        ).alias("_w2p"),
        F.coalesce(
            F.sum(
                F.col("_c") * F.col("_c") * F.col("_c") - F.col("_c")
            ).cast("long"),
            F.lit(0).cast("long"),
        ).alias("_tie"),
    )
    n = F.col("n_pairs").cast("double")
    w_plus = F.col("_w2p") / F.lit(2.0)
    mean_w = n * (n + 1) / 4.0
    var_w = n * (n + 1) * (2 * n + 1) / 24.0 - F.col("_tie") / F.lit(48.0)
    z = F.when(
        (F.col("n_pairs") >= 1) & (var_w > 0),
        (w_plus - mean_w) / F.sqrt(var_w),
    )
    return agg.crossJoin(F.broadcast(zeros)).select(
        "n_pairs",
        "n_zero",
        w_plus.alias("w_plus"),
        (n * (n + 1) / 2.0 - w_plus).alias("w_minus"),
        F.round(z, 6).alias("z"),
        F.when(z.isNotNull(), normal_p_two_sided(z)).alias("p_two_sided"),
    )


def paired_bootstrap_delta(
    df: DataFrame,
    a_col: str,
    b_col: str,
    id_col: str,
    n_replicates: int = 50,
    alpha: float = 0.05,
    salt: str = "pboot",
) -> DataFrame:
    """Paired bootstrap system comparison (Koehn, EMNLP 2004 — the MT
    community's significance test of record: resample the EVAL SET
    with replacement, recompute both systems' scores on each resample,
    read off how often A beats B and the delta's percentile CI; the
    pairing cancels per-item difficulty, which unpaired tests throw
    away): deterministic distributed form via the Poisson(1) bootstrap
    over the engine-wide md5 uniform (the ``_poisson_bootstrap``
    kernel of ``bootstrap_mean_ci`` — every engine draws the same
    resamples), applied to the per-item delta d = a − b.

    Exactness: deltas 9dp on DECIMAL(25,9); frac_a_wins counts strict
    mean_delta > 0 replicates.

    Output: ONE row — (n, point_delta, delta_ci_lo, delta_ci_hi,
    frac_a_wins, n_replicates).
    """
    dec = "decimal(25,9)"
    d = F.round(
        F.col(a_col).cast("double") - F.col(b_col).cast("double"), 9
    )
    base = df.select(F.col(id_col).alias("_id"), d.alias("_d")).filter(
        F.col("_d").isNotNull()
    ).select("_id", F.col("_d").cast(dec).alias("_x"))
    ci = _poisson_bootstrap(base, n_replicates, alpha, salt)
    point = base.agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum("_x").cast("double") / F.count("*"), 6).alias(
            "point_delta"
        ),
    )
    return point.crossJoin(F.broadcast(ci)).select(
        "n",
        "point_delta",
        F.round("_lo", 6).alias("delta_ci_lo"),
        F.round("_hi", 6).alias("delta_ci_hi"),
        F.round("_frac_pos", 6).alias("frac_a_wins"),
        F.lit(n_replicates).cast("long").alias("n_replicates"),
    )


def contingency_chi2(
    df: DataFrame,
    row_col: str,
    col_col: str,
) -> DataFrame:
    """Pearson chi-squared test of INDEPENDENCE over an R×C
    contingency table (Pearson 1900) with Cramér's V effect size
    (Cramér 1946) — the "are these two labelings related at all?"
    readout for corpus metadata (language × source, gate verdict ×
    domain): chi² = Σ (O−E)²/E with E = r_i·c_j/N, dof = (R−1)(C−1),
    V = √(chi²/(N·min(R−1, C−1))); the chi²-family completion next to
    ``mcnemar_test`` (paired binary) and ``srm_check`` (1-D
    goodness-of-fit vs declared shares).

    The p-value is computed IN-ENGINE via the Wilson–Hilferty cube-root
    normal approximation (Wilson & Hilferty, PNAS 1931):
    z = ((chi²/k)^{1/3} − (1 − 2/(9k)))·√(9k/2) is ≈ N(0,1) under the
    null, accurate to ~1e-3 in p for k ≥ 1 — a documented
    approximation (the q407 closed-form-over-client-side-table trade),
    upper tail through the Abramowitz-Stegun form.

    Plan: ONE (row, col) count aggregate over the corpus (map-side
    combined) to a cells-sized frame; margins are two aggregates OVER
    THE CELLS frame broadcast back; the chi² reduce is one more
    cells-sized pass. Expected-count hygiene: cells with E = 0
    cannot occur (margins are built from observed cells); the
    classic E ≥ 5 validity caveat is the caller's to check from the
    emitted min_expected.

    Output: ONE row — (n, n_rows, n_cols, dof, chi2, cramers_v,
    min_expected, z_wh, p_value); dof = 0 (single row or column)
    degrades chi2-derived fields to NULL.
    """
    cells = df.filter(
        F.col(row_col).isNotNull() & F.col(col_col).isNotNull()
    ).groupBy(
        F.col(row_col).alias("_r"), F.col(col_col).alias("_c")
    ).agg(F.count("*").cast("long").alias("_o"))
    rm = cells.groupBy("_r").agg(F.sum("_o").cast("long").alias("_rm"))
    cm = cells.groupBy("_c").agg(F.sum("_o").cast("long").alias("_cm"))
    tot = cells.agg(
        F.sum("_o").cast("long").alias("_n"),
        F.countDistinct("_r").cast("long").alias("n_rows"),
        F.countDistinct("_c").cast("long").alias("n_cols"),
    )
    dec = "decimal(25,9)"
    joined = (
        cells.join(F.broadcast(rm), "_r")
        .join(F.broadcast(cm), "_c")
        .crossJoin(F.broadcast(tot))
    )
    e = F.col("_rm") * F.col("_cm") / F.col("_n")
    term = F.round((F.col("_o") - e) * (F.col("_o") - e) / e, 9).cast(dec)
    agg = joined.agg(
        F.max("_n").alias("n"),
        F.max("n_rows").alias("n_rows"),
        F.max("n_cols").alias("n_cols"),
        F.sum(term).alias("_chi2"),
        F.round(F.min(e), 6).alias("min_expected"),
    )
    dof = (F.col("n_rows") - 1) * (F.col("n_cols") - 1)
    chi2 = F.col("_chi2").cast("double")
    k = dof.cast("double")
    z_wh = (
        F.pow(chi2 / k, F.lit(1.0 / 3.0))
        - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * k))
    ) * F.sqrt(F.lit(9.0) * k / F.lit(2.0))
    minrc = F.least(F.col("n_rows") - 1, F.col("n_cols") - 1)
    v = F.sqrt(chi2 / (F.col("n") * minrc))
    ok = dof > 0
    p2 = normal_p_two_sided(z_wh)
    p_upper = F.when(z_wh >= 0, p2 / 2).otherwise(1 - p2 / 2)
    return agg.select(
        "n",
        "n_rows",
        "n_cols",
        dof.cast("long").alias("dof"),
        F.round(F.when(ok, chi2), 6).alias("chi2"),
        F.round(F.when(ok, v), 6).alias("cramers_v"),
        "min_expected",
        F.round(F.when(ok, z_wh), 6).alias("z_wh"),
        F.round(F.when(ok, p_upper), 9).alias("p_value"),
    )


def delong_auc_test(
    df: DataFrame,
    label_col: str,
    score_a_col: str,
    score_b_col: str,
) -> DataFrame:
    """DeLong's test for two CORRELATED AUCs (DeLong, DeLong &
    Clarke-Pearson, Biometrics 1988 — the standard answer to "scorer A's
    AUC is 0.74, scorer B's is 0.71, same docs: is A actually better?";
    an unpaired comparison throws away the per-item pairing and
    overstates the variance): AUC via the placement-value identity
    AUC = mean over positives of V10(x) with V10 = (#negatives below +
    ½·ties)/n_neg (the Mann-Whitney statistic); Var(AUC_A − AUC_B) =
    (s10_aa + s10_bb − 2·s10_ab)/n_pos + (s01_aa + s01_bb −
    2·s01_ab)/n_neg from the 2×2 empirical covariance of the PAIRED
    placement values (sample n−1 denominators, the paper's form);
    z = ΔAUC/SE and the q407 closed-form two-sided p.

    Plan: per scorer, ONE ``_value_scan`` over the DISTINCT values
    (tied score grids compress massively), one value-keyed join back to
    items for per-item placements, then ONE 1-row covariance reduce
    over the paired placements. Placements are exact rationals: numerators
    2·(cum_below) + ties are exact LONGs, one IEEE division each at
    9dp; covariance moments ride DECIMAL(25,9)/(38,18).

    Output: ONE row — (n_pos, n_neg, auc_a, auc_b, delta_auc, se, z,
    p_two_sided); zero variance (e.g. identical scorers) degrades
    z/p to NULL, and an input without positives or without negatives
    reports its counts with every statistic NULL.
    """
    y = F.col(label_col).cast("int")
    base = df.select(
        y.alias("_y"),
        F.col(score_a_col).cast("double").alias("_sa"),
        F.col(score_b_col).cast("double").alias("_sb"),
    ).filter(
        F.col("_y").isNotNull()
        & F.col("_sa").isNotNull()
        & F.col("_sb").isNotNull()
    )

    def placements(col: str, out: str) -> DataFrame:
        """(value v, placement for a positive at v [p10], placement
        for a negative at v [p01]) — from the class counts of the
        ``_value_scan`` over the distinct values."""
        per_v = base.select(
            F.col(col).alias("_v"),
            F.col("_y").alias("_pv"),
            (1 - F.col("_y")).alias("_nv"),
        )
        return _value_scan(per_v, [], "_v", ["_pv", "_nv"]).select(
            F.col("_v").alias(f"{out}_v"),
            F.round(
                F.try_divide(
                    2 * F.col("_nv_below") + F.col("_nv"),
                    F.lit(2.0) * F.col("_nv_all"),
                ),
                9,
            ).alias(f"{out}_p10"),
            F.round(
                F.try_divide(
                    2 * (F.col("_pv_all") - F.col("_pv_below") - F.col("_pv"))
                    + F.col("_pv"),
                    F.lit(2.0) * F.col("_pv_all"),
                ),
                9,
            ).alias(f"{out}_p01"),
        )

    pa = placements("_sa", "a")
    pb = placements("_sb", "b")
    items = (
        base.join(pa, base["_sa"] == pa["a_v"])
        .join(pb, base["_sb"] == pb["b_v"])
        .select(
            "_y",
            F.when(F.col("_y") == 1, F.col("a_p10"))
            .otherwise(F.col("a_p01"))
            .alias("_qa"),
            F.when(F.col("_y") == 1, F.col("b_p10"))
            .otherwise(F.col("b_p01"))
            .alias("_qb"),
        )
    )
    dec = "decimal(25,9)"
    dec2 = "decimal(38,18)"

    def moments(cls: int, tag: str) -> list:
        cond = F.col("_y") == cls
        return [
            F.count(F.when(cond, 1)).cast("long").alias(f"_n{tag}"),
            F.sum(F.when(cond, F.col("_qa").cast(dec))).alias(f"_sa{tag}"),
            F.sum(F.when(cond, F.col("_qb").cast(dec))).alias(f"_sb{tag}"),
            F.sum(
                F.when(
                    cond,
                    F.round(F.col("_qa") * F.col("_qa"), 9).cast(dec2),
                )
            ).alias(f"_saa{tag}"),
            F.sum(
                F.when(
                    cond,
                    F.round(F.col("_qb") * F.col("_qb"), 9).cast(dec2),
                )
            ).alias(f"_sbb{tag}"),
            F.sum(
                F.when(
                    cond,
                    F.round(F.col("_qa") * F.col("_qb"), 9).cast(dec2),
                )
            ).alias(f"_sab{tag}"),
        ]

    agg = items.agg(*(moments(1, "p") + moments(0, "n")))

    def cov(sx: str, sy: str, sxy: str, n: str):
        nn = F.col(n)
        return F.when(
            nn >= 2,
            (
                F.col(sxy).cast("double")
                - F.col(sx).cast("double")
                * F.col(sy).cast("double")
                / nn
            )
            / (nn - 1),
        )

    auc_a = F.try_divide(F.col("_sap").cast("double"), F.col("_np"))
    auc_b = F.try_divide(F.col("_sbp").cast("double"), F.col("_np"))
    var = (
        cov("_sap", "_sap", "_saap", "_np")
        + cov("_sbp", "_sbp", "_sbbp", "_np")
        - 2 * cov("_sap", "_sbp", "_sabp", "_np")
    ) / F.col("_np") + (
        cov("_san", "_san", "_saan", "_nn")
        + cov("_sbn", "_sbn", "_sbbn", "_nn")
        - 2 * cov("_san", "_sbn", "_sabn", "_nn")
    ) / F.col("_nn")
    se = F.when(var > 0, F.sqrt(var))
    z = (auc_a - auc_b) / se
    return agg.select(
        F.col("_np").alias("n_pos"),
        F.col("_nn").alias("n_neg"),
        F.round(auc_a, 6).alias("auc_a"),
        F.round(auc_b, 6).alias("auc_b"),
        F.round(auc_a - auc_b, 6).alias("delta_auc"),
        F.round(se, 6).alias("se"),
        F.round(z, 6).alias("z"),
        F.when(z.isNotNull(), normal_p_two_sided(z)).alias("p_two_sided"),
    )


def two_proportion_test(
    df: DataFrame,
    group_col: str,
    success_col: str,
    group_a: str,
    group_b: str,
    z_crit: float = 1.959964,
) -> DataFrame:
    """Two-proportion comparison with the NEWCOMBE hybrid-score
    interval (Newcombe, Statistics in Medicine 1998, method 10 — the
    recommended CI for a difference of proportions: built from the two
    Wilson single-proportion intervals, it never exceeds [−1, 1] and
    behaves at p̂ ∈ {0, 1} where the Wald interval collapses; the
    difference-of-rates companion to ``pairwise_winrates``' Wilson
    form) plus the standard pooled two-proportion z test and its q407
    two-sided p.

    ``z_crit`` and its square ship as identical literals to both
    engines (the q421 convention). ONE conditional aggregate over the
    corpus; everything after is fixed-form IEEE on identical doubles,
    sqrt at the 6dp emit (q421 libm contract).

    Output: ONE row — (n_a, x_a, rate_a, n_b, x_b, rate_b, diff,
    z_stat, p_two_sided, ci_lo, ci_hi); an empty arm degrades
    everything derived to NULL.
    """
    g = F.col(group_col)
    s = F.col(success_col).cast("int")
    agg = df.filter(g.isin([group_a, group_b])).agg(
        F.count(F.when(g == group_a, 1)).cast("long").alias("n_a"),
        F.coalesce(F.sum(F.when(g == group_a, s)), F.lit(0))
        .cast("long")
        .alias("x_a"),
        F.count(F.when(g == group_b, 1)).cast("long").alias("n_b"),
        F.coalesce(F.sum(F.when(g == group_b, s)), F.lit(0))
        .cast("long")
        .alias("x_b"),
    )
    z = float(z_crit)
    z2 = z * z

    def wilson(x: str, n: str):
        nn = F.col(n).cast("double")
        p = F.col(x) / nn
        center = (p + F.lit(z2) / (2 * nn)) / (1 + F.lit(z2) / nn)
        half = (
            F.lit(z)
            * F.sqrt(
                p * (1 - p) / nn + F.lit(z2) / (4 * nn * nn)
            )
            / (1 + F.lit(z2) / nn)
        )
        return p, center - half, center + half

    pa, la, ua = wilson("x_a", "n_a")
    pb, lb, ub = wilson("x_b", "n_b")
    d = pa - pb
    ci_lo = d - F.sqrt((pa - la) * (pa - la) + (ub - pb) * (ub - pb))
    ci_hi = d + F.sqrt((ua - pa) * (ua - pa) + (pb - lb) * (pb - lb))
    pp = (F.col("x_a") + F.col("x_b")) / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    se_pooled = F.sqrt(
        pp
        * (1 - pp)
        * (
            1 / F.col("n_a").cast("double")
            + 1 / F.col("n_b").cast("double")
        )
    )
    z_stat = F.when(se_pooled > 0, d / se_pooled)
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return agg.select(
        "n_a",
        "x_a",
        F.round(F.when(ok, pa), 6).alias("rate_a"),
        "n_b",
        "x_b",
        F.round(F.when(ok, pb), 6).alias("rate_b"),
        F.round(F.when(ok, d), 6).alias("diff"),
        F.round(F.when(ok, z_stat), 6).alias("z_stat"),
        F.when(ok & z_stat.isNotNull(), normal_p_two_sided(z_stat)).alias(
            "p_two_sided"
        ),
        F.round(F.when(ok, ci_lo), 6).alias("ci_lo"),
        F.round(F.when(ok, ci_hi), 6).alias("ci_hi"),
    )


def _wilson_hilferty_p_upper(chi2: Column, dof: Column) -> Column:
    """Upper-tail chi-squared p via the Wilson–Hilferty cube-root
    normal approximation (PNAS 1931; the q451 contingency_chi2 rule:
    ~1e-3 accuracy, documented) through the q407 closed-form tail."""
    k = dof.cast("double")
    z = (
        F.pow(chi2 / k, F.lit(1.0 / 3.0))
        - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * k))
    ) * F.sqrt(F.lit(9.0) * k / F.lit(2.0))
    p2 = normal_p_two_sided(z)
    return F.round(
        F.when(z >= 0, p2 / 2).otherwise(1 - p2 / 2), 9
    )


def friedman_test(
    df: DataFrame,
    item_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Friedman rank test over n items × k treatments (Friedman, JASA
    1937; tie handling per Conover 1999 — the K-SYSTEM generalization
    of the Wilcoxon signed-rank: k models scored on the SAME eval
    items, does ANY of them rank consistently better? The omnibus
    gate before pairwise signed-rank comparisons): values rank WITHIN
    each item (average ranks on ties), T = (k−1)·Σ_j (R_j −
    n(k+1)/2)² / (A₁ − C₁) with A₁ = Σ r²_ij and C₁ = nk(k+1)²/4
    (the tie-corrected form; reduces to the classic 12/(nk(k+1))
    statistic when tie-free), upper-tail p via Wilson-Hilferty at
    k−1 dof.

    Only COMPLETE blocks count (``_complete_blocks``: items with
    exactly one non-NULL value per treatment — listwise, the classical
    treatment; incomplete items are counted and dropped). Average ranks
    are half-integers, so rank sums and A₁ ride DECIMAL(25,9) exactly.

    Plan: item-keyed rank windows over k-row partitions (k = a
    handful of systems — partitions are tiny and uniform), one
    treatment reduce + one 1-row reduce. Output: one row per
    treatment — (treatment, n_items, k_treatments, rank_sum,
    mean_rank) with (chi2_f, p_value, n_incomplete) repeated via
    1-row broadcast; k < 2 or n = 0 degrades chi2/p to NULL.
    """
    base = df.select(
        F.col(item_col).alias("_i"),
        F.col(treatment_col).alias("_t"),
        F.col(value_col).cast("double").alias("_v"),
    )
    _, per_t, n_bad = _block_rank_sums(base, "_i", "_t")
    # two-step: treatment frame -> scalars (the window-free form)
    scal = per_t.agg(
        F.max("_nb").cast("long").alias("_n"),
        F.count(F.lit(1)).cast("long").alias("_kk"),
        F.sum(F.col("_r2")).cast("double").alias("_a1"),
    )
    ssq = _sq_dev_reduce(
        per_t.crossJoin(F.broadcast(scal)),
        "_rsum",
        F.col("_n") * (F.col("_kk") + 1) / F.lit(2.0),
        "_n",
        "_kk",
        "_a1",
    )
    n = F.col("_n").cast("double")
    kk = F.col("_kk").cast("double")
    c1 = n * kk * (kk + 1) * (kk + 1) / F.lit(4.0)
    denom = F.col("_a1") - c1
    chi2 = F.when(
        (F.col("_kk") >= 2) & (F.col("_n") >= 1) & (denom > 0),
        (kk - 1) * F.col("_ss") / denom,
    )
    stats = ssq.select(
        F.round(chi2, 6).alias("chi2_f"),
        F.when(
            chi2.isNotNull(),
            _wilson_hilferty_p_upper(chi2, F.col("_kk") - 1),
        ).alias("p_value"),
    )
    return (
        per_t.crossJoin(F.broadcast(scal))
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(n_bad))
        .select(
            F.col("_t").alias("treatment"),
            F.col("_n").alias("n_items"),
            F.col("_kk").alias("k_treatments"),
            F.round(F.col("_rsum").cast("double"), 6).alias("rank_sum"),
            F.round(
                F.col("_rsum").cast("double") / F.col("_nb"), 6
            ).alias("mean_rank"),
            "chi2_f",
            "p_value",
            "n_incomplete",
        )
        .orderBy("treatment")
    )


def cochran_q_test(
    df: DataFrame,
    item_col: str,
    treatment_col: str,
    success_col: str,
) -> DataFrame:
    """Cochran's Q over n items × k BINARY treatments (Cochran,
    Biometrika 1950 — the k-system generalization of McNemar: k gates
    pass/fail the same documents, do the pass RATES differ beyond
    per-item difficulty? The omnibus before pairwise McNemars):
    Q = k(k−1)·Σ_j (G_j − N/k)² / (k·N − Σ_i L_i²) with G_j column
    totals, L_i row totals, N = ΣΣx over COMPLETE blocks (listwise);
    upper-tail p via Wilson-Hilferty at k−1 dof. All-0/all-k rows
    cancel algebraically — no need to drop them.

    Counts are exact LONGs end-to-end; Q is fixed-form IEEE on
    identical integer-derived doubles. Plan: one item reduce (L_i),
    one treatment reduce (G_j), one 1-row recombination. Output: ONE
    row — (n_items, k_treatments, n_total, q_stat, p_value,
    n_incomplete); zero denominator (all rows unanimous) degrades
    Q/p to NULL.
    """
    base = df.select(
        F.col(item_col).alias("_i"),
        F.col(treatment_col).alias("_t"),
        F.col(success_col).cast("int").alias("_x"),
    )
    k_frame, complete, n_bad = _complete_blocks(base, "_i", "_t", "_x")
    item_stats = complete.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_bsum").cast("long").alias("_nn"),
        F.sum(F.col("_bsum") * F.col("_bsum")).cast("long").alias("_l2"),
    )
    g = (
        base.join(complete.select("_i"), "_i")
        .groupBy("_t")
        .agg(F.sum("_x").cast("long").alias("_gj"))
    )
    agg = _sq_dev_reduce(
        g.crossJoin(F.broadcast(item_stats)).crossJoin(F.broadcast(k_frame)),
        "_gj",
        F.col("_nn") / F.col("_k").cast("double"),
        "_n",
        "_nn",
        "_l2",
        "_k",
    )
    kk = F.col("_k").cast("double")
    denom = kk * F.col("_nn") - F.col("_l2")
    q = F.when(
        (F.col("_k") >= 2) & (denom > 0),
        kk * (kk - 1) * F.col("_ss") / denom,
    )
    return agg.crossJoin(F.broadcast(n_bad)).select(
        F.col("_n").alias("n_items"),
        F.col("_k").alias("k_treatments"),
        F.col("_nn").alias("n_total"),
        F.round(q, 6).alias("q_stat"),
        F.when(
            q.isNotNull(), _wilson_hilferty_p_upper(q, F.col("_k") - 1)
        ).alias("p_value"),
        "n_incomplete",
    )


def kendalls_w(
    df: DataFrame,
    judge_col: str,
    object_col: str,
    value_col: str,
) -> DataFrame:
    """Kendall's coefficient of concordance W (Kendall & Babington
    Smith, Ann. Math. Stat. 1939; tie correction per Siegel &
    Castellan 1988 — the EFFECT SIZE next to q457's Friedman omnibus:
    k judges each rank n objects; W in [0,1] reads "how much do the
    judges agree?", where chi2_F only answers "more than chance?"):
    values rank WITHIN each judge (average ranks on ties), R_o = rank
    sum per object, S = sum_o (R_o - k(n+1)/2)^2, and
    W = 12S / (k^2(n^3 - n) - k*sum_j T_j) with T_j = sum(t^3 - t)
    over judge j's tie groups. chi2 = k(n-1)W at n-1 dof
    (Wilson-Hilferty p, the q457 rule).

    Only COMPLETE judges count (``_complete_blocks``: exactly one
    non-NULL value per object — listwise; incomplete judges are
    counted and dropped).

    Exactness: average ranks are half-integers — rank sums and the
    squared deviations ride DECIMAL(25,9); T_j is an exact LONG; W is
    fixed-form IEEE of exact operands, 6dp out.

    Plan: judge-keyed rank windows over n-row partitions, one object
    reduce + one 1-row reduce + a judge-keyed tie aggregate. Output:
    one row per object — (object, rank_sum, mean_rank) with
    (w, chi2, p_value, n_judges, n_objects, n_incomplete) repeated
    via 1-row broadcast; degenerate denominators -> NULL w/chi2/p.
    """
    base = df.select(
        F.col(judge_col).alias("_j"),
        F.col(object_col).alias("_o"),
        F.col(value_col).cast("double").alias("_v"),
    )
    ranked, per_o, n_bad = _block_rank_sums(base, "_j", "_o")
    # tie term: each tie group of size t contributes t^3 - t; every row
    # in the group carries _tsz = t, so sum (t^2 - 1) over rows = the
    # group total without a second exchange
    ties = ranked.agg(
        F.sum(F.col("_tsz") * F.col("_tsz") - 1).cast("long").alias("_tt"),
        F.countDistinct("_j").cast("long").alias("_k"),
    )
    scal = per_o.agg(
        F.count(F.lit(1)).cast("long").alias("_nn"),
    )
    agg = _sq_dev_reduce(
        per_o.crossJoin(F.broadcast(scal)).crossJoin(F.broadcast(ties)),
        "_rsum",
        F.col("_k") * (F.col("_nn") + 1) / F.lit(2.0),
        "_nn",
        "_k",
        "_tt",
    )
    kk = F.col("_k").cast("double")
    nn = F.col("_nn").cast("double")
    denom = kk * kk * (nn * nn * nn - nn) - kk * F.col("_tt")
    w_stat = F.when(
        (F.col("_k") >= 1) & (F.col("_nn") >= 2) & (denom > 0),
        F.lit(12.0) * F.col("_ss") / denom,
    )
    chi2 = kk * (nn - 1) * w_stat
    stats = agg.select(
        F.col("_k").alias("n_judges"),
        F.col("_nn").alias("n_objects"),
        F.round(w_stat, 6).alias("w"),
        F.round(chi2, 6).alias("chi2"),
        F.when(
            chi2.isNotNull(),
            _wilson_hilferty_p_upper(chi2, F.col("_nn") - 1),
        ).alias("p_value"),
    )
    return (
        per_o.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(n_bad))
        .select(
            F.col("_o").alias("object"),
            F.round(F.col("_rsum").cast("double"), 6).alias("rank_sum"),
            F.round(
                F.col("_rsum").cast("double") / F.col("n_judges"), 6
            ).alias("mean_rank"),
            "n_judges",
            "n_objects",
            "w",
            "chi2",
            "p_value",
            "n_incomplete",
        )
    )


def page_trend_test(
    df: DataFrame,
    item_col: str,
    treatment_col: str,
    value_col: str,
    order: "list[str]",
) -> DataFrame:
    """Page's L test for ORDERED alternatives in the Friedman layout
    (Page, JASA 1963 — when the k systems carry an a-priori ordering,
    e.g. increasing truncation severity, the omnibus Friedman wastes
    power; Page's L = sum_j j*R_j weights the rank sums by the
    hypothesized position and detects the monotone trend directly):
    values rank WITHIN each complete item (average ranks on ties,
    NULL rows filtered), R_j = rank sum
    of the treatment at position j in ``order`` (1-based), L = sum
    j*R_j; under H0 E[L] = n*k(k+1)^2/4 and Var[L] =
    n*k^2(k+1)^2(k-1)/144 (the classic no-tie null variance —
    documented approximation under heavy ties), z = (L-E)/sqrt(Var),
    one-sided upper p for the increasing-trend alternative (rank the
    order so "later = larger expected value").

    Treatments NOT in ``order`` are dropped before the completeness
    check (documented); completeness = exactly one non-NULL value per
    ordered treatment, k = len(order).

    Output ONE row: (n_items, k_treatments, l_stat, mean_l, z,
    p_one_sided, n_incomplete); n = 0 or k < 3 degrades z/p to NULL.
    """
    if len(order) < 2 or len(set(order)) != len(order):
        raise ValueError("order must list >= 2 distinct treatments")
    k = len(order)
    pos = F.array_position(
        F.array(*[F.lit(t) for t in order]), F.col("_t")
    )
    base = df.select(
        F.col(item_col).alias("_i"),
        F.col(treatment_col).alias("_t"),
        F.col(value_col).cast("double").alias("_v"),
    ).withColumn("_w", pos).filter(F.col("_w") > 0)
    # k is the caller's len(order), not counted from the data as in
    # _complete_blocks: an ordered treatment absent from every item
    # must leave every item incomplete
    per_item = base.filter(F.col("_v").isNotNull()).groupBy("_i").agg(
        F.count(F.lit(1)).alias("_cnt"),
        F.countDistinct("_t").alias("_nt"),
    )
    complete = per_item.filter(
        (F.col("_cnt") == k) & (F.col("_nt") == k)
    )
    n_bad = per_item.filter(
        (F.col("_cnt") != k) | (F.col("_nt") != k)
    ).agg(F.count(F.lit(1)).cast("long").alias("n_incomplete"))
    ranked = _avg_rank2(
        base.join(complete.select("_i"), "_i"), ["_i"], "_v", "_r2"
    ).select("_i", "_w", (F.col("_r2") / F.lit(2.0)).alias("_r"))
    dec = "decimal(25,9)"
    agg = ranked.agg(
        F.sum(
            F.round(F.col("_w") * F.col("_r"), 9).cast(dec)
        ).alias("_l"),
        (F.countDistinct("_i")).cast("long").alias("_n"),
    )
    n = F.col("_n").cast("double")
    kf = F.lit(float(k))
    l_stat = F.col("_l").cast("double")
    mean_l = n * kf * (kf + 1) * (kf + 1) / F.lit(4.0)
    var_l = n * kf * kf * (kf + 1) * (kf + 1) * (kf - 1) / F.lit(144.0)
    z = F.when(
        (F.col("_n") >= 1) & (F.lit(k) >= 3) & (var_l > 0),
        (l_stat - mean_l) / F.sqrt(var_l),
    )
    p2 = normal_p_two_sided(z)
    return agg.crossJoin(F.broadcast(n_bad)).select(
        F.col("_n").alias("n_items"),
        F.lit(k).cast("long").alias("k_treatments"),
        F.round(l_stat, 6).alias("l_stat"),
        F.round(mean_l, 6).alias("mean_l"),
        F.round(z, 6).alias("z"),
        F.round(
            F.when(z >= 0, p2 / 2).otherwise(1 - p2 / 2), 9
        ).alias("p_one_sided"),
        "n_incomplete",
    )


def jonckheere_terpstra(
    df: DataFrame,
    group_col: str,
    value_col: str,
    order: "list[str]",
) -> DataFrame:
    """Jonckheere-Terpstra test for ordered differences across
    INDEPENDENT groups (Jonckheere, Biometrika 1954; Terpstra 1952;
    tie-corrected null variance per Hollander & Wolfe 1999 §6.2 —
    Page's L needs the same items under every system; JT is the
    between-subjects counterpart: do values trend UP across the
    ordered groups?): J = sum over ordered group pairs s<t of the
    Mann-Whitney count U_st = #(x_s < x_t) + 0.5*#(x_s = x_t);
    E[J] = (N^2 - sum n_g^2)/4; the tie-corrected variance uses the
    global value-tie multiset and the group sizes (three closed-form
    terms); z = (J - E)/sqrt(Var), two-sided p.

    Groups NOT in ``order`` are dropped (documented); NULL values are
    dropped.

    Plan — NO pairwise value join (the O(N^2) trap): per-(group,
    value) counts, then per-group cumulative counts over each group's
    own ordered values via a group-partitioned window; U_st pairs are
    assembled by an EQUI-join on the value key between the counts
    frame and the cumulative frame (group order is a post-join filter
    predicate, never a theta key), plus the strictly-less mass from an
    as-of alignment on the merged distinct-value grid. Everything is
    value- or group-keyed; the only small frame is the k-row group
    list.

    Exactness: J doubles 2J = an exact LONG (counts plus half-ties
    twice); moments are IEEE of exact integers; 6dp out.

    Output ONE row: (n_total, k_groups, jt_stat, mean_jt, var_jt, z,
    p_two_sided); k < 2 or N < 2 degrades z/p to NULL.
    """
    if len(order) < 2 or len(set(order)) != len(order):
        raise ValueError("order must list >= 2 distinct groups")
    pos = F.array_position(
        F.array(*[F.lit(g) for g in order]), F.col("_g")
    )
    base = (
        df.select(
            F.col(group_col).alias("_g"),
            F.col(value_col).cast("double").alias("_v"),
        )
        .filter(F.col("_v").isNotNull())
        .withColumn("_og", pos)
        .filter(F.col("_og") > 0)
    )
    counts = base.groupBy("_og", "_v").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    # per-group cumulative count STRICTLY BELOW each value present in
    # ANY group: build the merged value grid per group by unioning
    # zero-count carrier rows for every value, then one
    # group-partitioned ``_value_scan``
    # the group axis is the STATIC order list, so the value x group
    # grid is a map-side literal explode — no join (a k-row crossJoin
    # would plan a non-scalar BNLJ and trip the structural gate);
    # groups absent from the data carry zero counts and contribute 0
    grid = counts.select("_v").distinct().select(
        F.explode(
            F.array(*[F.lit(i + 1) for i in range(len(order))])
        ).alias("_og"),
        "_v",
        F.lit(0).cast("long").alias("_c"),
    )
    cums = _value_scan(counts.unionByName(grid), ["_og"], "_v", ["_c"]).select(
        "_og", "_v", F.col("_c_below").alias("_below"), F.col("_c").alias("_ct")
    )
    # pair assembly, EQUI on value: U_st counts LOWER-group values
    # strictly below each HIGHER-group value, so the cumulative side is
    # the s (lower-order) group — for each t-group value v,
    # c_t(v) * C_s(<v) strict pairs plus c_s(v) * c_t(v) half-ties
    pairs = cums.select(
        F.col("_og").alias("_s"), "_v", "_below", F.col("_ct").alias("_cs")
    ).join(
        counts.select(F.col("_og").alias("_t"), "_v", F.col("_c").alias("_ct")),
        "_v",
    ).filter(F.col("_s") < F.col("_t"))
    two_j = pairs.agg(
        F.sum(
            2 * F.col("_ct") * F.col("_below")
            + F.col("_cs") * F.col("_ct")
        )
        .cast("long")
        .alias("_2j")
    )
    per_g = base.groupBy("_og").agg(
        F.count(F.lit(1)).cast("long").alias("_ng")
    )
    gstats = per_g.agg(
        F.sum("_ng").cast("long").alias("_N"),
        F.count(F.lit(1)).cast("long").alias("_k"),
        F.sum(F.col("_ng") * F.col("_ng")).cast("long").alias("_n2"),
        F.sum(
            F.col("_ng") * (F.col("_ng") - 1) * (2 * F.col("_ng") + 5)
        ).cast("long").alias("_g25"),
        F.sum(
            F.col("_ng") * (F.col("_ng") - 1) * (F.col("_ng") - 2)
        ).cast("long").alias("_g3"),
        F.sum(F.col("_ng") * (F.col("_ng") - 1)).cast("long").alias("_g2"),
    )
    vstats = base.groupBy("_v").agg(
        F.count(F.lit(1)).cast("long").alias("_tv")
    ).agg(
        F.sum(
            F.col("_tv") * (F.col("_tv") - 1) * (2 * F.col("_tv") + 5)
        ).cast("long").alias("_t25"),
        F.sum(
            F.col("_tv") * (F.col("_tv") - 1) * (F.col("_tv") - 2)
        ).cast("long").alias("_t3"),
        F.sum(F.col("_tv") * (F.col("_tv") - 1)).cast("long").alias("_t2"),
    )
    j = two_j.crossJoin(F.broadcast(gstats)).crossJoin(
        F.broadcast(vstats)
    )
    N = F.col("_N").cast("double")
    jt = F.col("_2j").cast("double") / F.lit(2.0)
    mean_jt = (N * N - F.col("_n2")) / F.lit(4.0)
    v1 = (
        N * (N - 1) * (2 * N + 5) - F.col("_g25") - F.col("_t25")
    ) / F.lit(72.0)
    v2 = (
        F.col("_g3").cast("double") * F.col("_t3")
    ) / (F.lit(36.0) * N * (N - 1) * (N - 2))
    v3 = (
        F.col("_g2").cast("double") * F.col("_t2")
    ) / (F.lit(8.0) * N * (N - 1))
    var_jt = v1 + v2 + v3
    z = F.when(
        (F.col("_k") >= 2) & (F.col("_N") >= 3) & (var_jt > 0),
        (jt - mean_jt) / F.sqrt(var_jt),
    )
    return j.select(
        F.col("_N").alias("n_total"),
        F.col("_k").alias("k_groups"),
        F.round(jt, 6).alias("jt_stat"),
        F.round(mean_jt, 6).alias("mean_jt"),
        F.round(var_jt, 6).alias("var_jt"),
        F.round(z, 6).alias("z"),
        F.when(z.isNotNull(), normal_p_two_sided(z)).alias("p_two_sided"),
    )


def icc_oneway(
    df: DataFrame,
    item_col: str,
    value_col: str,
) -> DataFrame:
    """One-way random-effects intraclass correlation ICC(1) and
    ICC(1,k) (Shrout & Fleiss, Psych. Bull. 1979 Case 1;
    unbalanced-design k0 per the standard one-way ANOVA estimator —
    the RELIABILITY readout next to Cronbach's alpha q459: of the
    total rating variance, what fraction is BETWEEN items? ICC(1) =
    single-rating reliability, ICC(1,k) = reliability of the k-rating
    mean): with n items, N total non-NULL ratings, group sums S_i and
    sizes n_i — SSB = sum S_i^2/n_i - (sum S_i)^2/N, SSW = sum v^2 -
    sum S_i^2/n_i, MSB = SSB/(n-1), MSW = SSW/(N-n),
    k0 = (N - sum n_i^2/N)/(n-1), ICC(1) = (MSB-MSW)/(MSB+(k0-1)MSW),
    ICC(1,k) = (MSB-MSW)/MSB, F = MSB/MSW (reported without a p —
    the F tail is out of the engine's closed-form scope, documented).

    Items with a single rating still contribute to SSB/k0 (the
    standard estimator); NULL ratings are dropped.

    Exactness: per-item sums and squares ride DECIMAL(25,9) (values
    rounded 9dp); the S_i^2/n_i terms are single IEEE divisions
    rounded 9dp back onto decimal; the final recombination is
    fixed-form IEEE, 6dp out.

    Plan: ONE item-keyed aggregate + ONE 1-row reduce. Output ONE
    row: (n_items, n_total, k0, msb, msw, f_stat, icc1, icc1k);
    n < 2 or N <= n degrades everything past the counts to NULL.
    """
    agg, ssb, ssw = _oneway(
        df.select(
            F.col(item_col).alias("_g"),
            F.col(value_col).cast("double").alias("_v"),
        )
    )
    n = F.col("_k").cast("double")
    N = F.col("_n").cast("double")
    ok = (F.col("_k") >= 2) & (F.col("_n") > F.col("_k"))
    msb = F.when(ok, ssb / (n - 1))
    msw = F.when(ok, ssw / (N - n))
    k0 = F.when(ok, (N - F.col("_n2") / N) / (n - 1))
    icc1 = F.when(
        ok & (msw > 0) & ((msb + (k0 - 1) * msw) != 0),
        (msb - msw) / (msb + (k0 - 1) * msw),
    )
    icc1k = F.when(ok & (msb != 0) & (msw > 0), (msb - msw) / msb)
    return agg.select(
        F.col("_k").alias("n_items"),
        F.col("_n").alias("n_total"),
        F.round(k0, 6).alias("k0"),
        F.round(msb, 6).alias("msb"),
        F.round(msw, 6).alias("msw"),
        F.round(F.when(ok & (msw > 0), msb / msw), 6).alias("f_stat"),
        F.round(icc1, 6).alias("icc1"),
        F.round(icc1k, 6).alias("icc1k"),
    )


def _ks_grid(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Shared two-sample ECDF frame under ks_two_sample /
    cvm_two_sample: per distinct pooled value v — (v, ca, cb,
    cum_a, cum_b, n_a, n_b) with cumulative counts INCLUSIVE of v.

    The scan is the ``_value_scan`` of the DISTINCT pooled values
    (tied grids compress; at 100 TB swap the ordered window for the
    q280 two-stage distributed prefix sum — documented)."""
    base = df.filter(F.col(group_col).isin([group_a, group_b])).select(
        F.col(value_col).cast("double").alias("_v"),
        (F.col(group_col) == group_a).cast("long").alias("_ca"),
        (F.col(group_col) == group_b).cast("long").alias("_cb"),
    )
    return _value_scan(base, [], "_v", ["_ca", "_cb"]).select(
        "_v",
        "_ca",
        "_cb",
        (F.col("_ca_below") + F.col("_ca")).alias("_cuma"),
        (F.col("_cb_below") + F.col("_cb")).alias("_cumb"),
        F.col("_ca_all").alias("_na"),
        F.col("_cb_all").alias("_nb"),
    )


def kolmogorov_sf(lam: Column, terms: int = 10) -> Column:
    """Asymptotic Kolmogorov survival function Q_KS(λ) = 2 Σ_{k>=1}
    (−1)^{k−1} e^{−2k²λ²}, truncated at ``terms`` (Numerical Recipes
    §14.3.3 convention; the series is alternating with doubly-
    exponential decay, so 10 terms are beyond double precision for
    any λ where the asymptotic form itself is meaningful). Terms ride
    9dp DECIMAL so the sum is order-independent; clamped to [0, 1].
    Below λ = 0.3 the alternating series needs many more terms but
    Q(0.3) already exceeds 1 before clamping — pinned to exactly 1
    there (both engines, documented)."""
    dec = "decimal(25,9)"
    total = None
    for k in range(1, terms + 1):
        term = F.round(
            F.lit(2.0 * (1 if k % 2 == 1 else -1))
            * F.exp(F.lit(-2.0 * k * k) * lam * lam),
            9,
        ).cast(dec)
        total = term if total is None else total + term
    series = F.least(
        F.lit(1.0), F.greatest(F.lit(0.0), total.cast("double"))
    )
    return F.when(lam < 0.3, F.lit(1.0)).otherwise(series)


def kolmogorov_sf_sql(lam: str, terms: int = 10) -> str:
    """DuckDB twin of :func:`kolmogorov_sf` — same truncation, same
    9dp decimal terms, same λ < 0.3 pin."""
    parts = " + ".join(
        f"CAST(round({2.0 * (1 if k % 2 == 1 else -1)} "
        f"* exp({-2.0 * k * k} * {lam} * {lam}), 9) AS DECIMAL(25,9))"
        for k in range(1, terms + 1)
    )
    series = f"least(1.0, greatest(0.0, CAST(({parts}) AS DOUBLE)))"
    return f"CASE WHEN {lam} < 0.3 THEN 1.0 ELSE {series} END"


def ks_two_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test (Smirnov, Ann. Math. Stat.
    1939 — THE distribution-drift detector: D = sup_v |F_a(v) −
    F_b(v)|, sensitive to any difference in location, scale, or
    shape; the metric-drift gate a feature pipeline runs between a
    reference window and today's data): D computed exactly on the
    pooled distinct-value grid (ECDF steps only move at sample
    points); asymptotic p = Q_KS((√n_e + 0.12 + 0.11/√n_e)·D) with
    n_e = n_a·n_b/(n_a+n_b) (the Numerical Recipes small-sample
    correction, documented approximation).

    Exactness: cum counts are exact LONGs; each ECDF difference is
    fixed-form IEEE of exact integers; D = MAX over the grid (no
    accumulation error); p through :func:`kolmogorov_sf`'s decimal
    term sum. Output ONE row: (n_a, n_b, d_stat, ks_lambda,
    p_value); either side empty degrades d/p to NULL.
    """
    grid = _ks_grid(df, group_col, value_col, group_a, group_b)
    diff = F.abs(
        F.try_divide(F.col("_cuma"), F.col("_na"))
        - F.try_divide(F.col("_cumb"), F.col("_nb"))
    )
    agg = grid.agg(
        F.max(F.round(diff, 9)).alias("_d"),
        F.max("_na").alias("n_a"),
        F.max("_nb").alias("n_b"),
    )
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    d = F.when(ok, F.col("_d"))
    ne = F.col("n_a").cast("double") * F.col("n_b") / (
        F.col("n_a") + F.col("n_b")
    )
    lam = (F.sqrt(ne) + 0.12 + F.try_divide(F.lit(0.11), F.sqrt(ne))) * d
    return agg.select(
        "n_a",
        "n_b",
        F.round(d, 6).alias("d_stat"),
        F.round(lam, 6).alias("ks_lambda"),
        F.when(ok, F.round(kolmogorov_sf(lam), 9)).alias("p_value"),
    )


def cvm_two_sample(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Two-sample Cramér-von Mises criterion (Anderson, Ann. Math.
    Stat. 1962 tie-adjusted form — KS reads the WORST ECDF gap, CvM
    integrates the SQUARED gap over the pooled sample, so it sees
    distributed small differences KS misses): T = n_a·n_b/(n_a+n_b)²
    · Σ_v w_v·(F_a(v) − F_b(v))² with w_v = pooled count at v
    (ties weight their step). Reported WITHOUT a tail p — the CvM
    limiting distribution has no engine closed form (documented; KS
    q471 carries the p story).

    Same distinct-value grid as ks_two_sample; squared-gap terms ride
    9dp DECIMAL. Output ONE row: (n_a, n_b, t_stat); either side empty
    degrades t to NULL.
    """
    grid = _ks_grid(df, group_col, value_col, group_a, group_b)
    gap = F.try_divide(F.col("_cuma"), F.col("_na")) - F.try_divide(
        F.col("_cumb"), F.col("_nb")
    )
    dec = "decimal(25,9)"
    agg = grid.agg(
        F.sum(
            F.round((F.col("_ca") + F.col("_cb")) * gap * gap, 9).cast(dec)
        )
        .cast("double")
        .alias("_s"),
        F.max("_na").alias("n_a"),
        F.max("_nb").alias("n_b"),
    )
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    t = na * nb / ((na + nb) * (na + nb)) * F.col("_s")
    return agg.select(
        "n_a", "n_b", F.round(F.when(ok, t), 6).alias("t_stat")
    )


def levene_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    center: str = "median",
) -> DataFrame:
    """Levene's test of variance homogeneity across k groups (Levene
    1960; ``center='median'`` is the Brown-Forsythe 1974 robust
    variant, the scipy default recommendation — the gate before
    pooled-variance tests like q443's OLS or q475's ANOVA: are the
    group spreads even comparable?): z = |x − center_g|, then the
    one-way ANOVA F on z: W = ((N−k)/(k−1)) · Σ n_g(z̄_g − z̄)² /
    Σ(z − z̄_g)². Reported with dof (k−1, N−k) and WITHOUT a tail p
    (F tail out of closed-form scope — the q469 convention).

    Exactness: group medians are the exact interpolated 0.5-quantile
    (both engines' continuous-percentile definition); z moments ride
    9dp DECIMAL; W is fixed-form IEEE. Plan: one group quantile agg +
    broadcast back, one group moment agg, one 1-row reduce.

    Output ONE row: (k_groups, n_total, w_stat, dof1, dof2); k < 2
    or N <= k degrades w to NULL.
    """
    if center not in ("median", "mean"):
        raise ValueError("center must be 'median' or 'mean'")
    base = df.select(
        F.col(group_col).alias("_g"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull())
    if center == "median":
        cen = base.groupBy("_g").agg(
            F.expr("percentile(_v, 0.5)").alias("_c")
        )
    else:
        cen = base.groupBy("_g").agg(F.avg("_v").alias("_c"))
    agg, ssb, ssw = _oneway(
        base.join(F.broadcast(cen), "_g").select(
            "_g", F.abs(F.col("_v") - F.col("_c")).alias("_v")
        )
    )
    n = F.col("_n").cast("double")
    k = F.col("_k").cast("double")
    ok = (F.col("_k") >= 2) & (F.col("_n") > F.col("_k")) & (ssw > 0)
    w_stat = F.when(ok, (n - k) / (k - 1) * ssb / ssw)
    return agg.select(
        F.col("_k").alias("k_groups"),
        F.col("_n").alias("n_total"),
        F.round(w_stat, 6).alias("w_stat"),
        (F.col("_k") - 1).alias("dof1"),
        (F.col("_n") - F.col("_k")).alias("dof2"),
    )


def bartlett_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Bartlett's test of variance homogeneity (Bartlett, Proc. Roy.
    Soc. A 1937 — the normal-theory companion to Levene q473: more
    powerful under normality, fragile under heavy tails; reports a
    CHI-SQUARED statistic, so unlike the F-based tests it gets a
    closed-form p): T = [(N−k)·ln s_p² − Σ(n_g−1)·ln s_g²] / C with
    C = 1 + (Σ 1/(n_g−1) − 1/(N−k)) / (3(k−1)); upper-tail p at k−1
    dof via the q451 Wilson-Hilferty tail.

    Exactness: group variances from 9dp decimal moment sums (sample
    n−1 form); ln terms rounded 9dp onto DECIMAL before the group
    sum (the q384 libm rule); groups with n_g < 2 or zero variance
    are excluded and counted (degenerate for a variance test —
    documented). Output ONE row: (k_groups, n_total, t_stat,
    p_value, n_excluded); k < 2 after exclusion degrades t/p to NULL.
    """
    dec = "decimal(25,9)"
    per_g = _group_moments(
        df.select(
            F.col(group_col).alias("_g"),
            F.col(value_col).cast("double").alias("_v"),
        )
    )
    s2 = (
        F.col("_qv").cast("double")
        - F.col("_sv").cast("double")
        * F.col("_sv").cast("double")
        / F.col("_ng")
    ) / (F.col("_ng") - 1)
    stats = per_g.select(
        "_ng", F.round(s2, 9).alias("_s2")
    )
    good = stats.filter((F.col("_ng") >= 2) & (F.col("_s2") > 0))
    n_bad = stats.filter(
        (F.col("_ng") < 2) | (F.col("_s2") <= 0)
    ).agg(F.count(F.lit(1)).cast("long").alias("n_excluded"))
    agg = good.agg(
        F.count(F.lit(1)).cast("long").alias("_k"),
        F.sum("_ng").cast("long").alias("_n"),
        F.sum(
            F.round((F.col("_ng") - 1) * F.col("_s2"), 9).cast(dec)
        ).alias("_pool"),
        F.sum(
            F.round((F.col("_ng") - 1) * F.log(F.col("_s2")), 9).cast(dec)
        ).alias("_lnsum"),
        F.sum(
            F.round(F.lit(1.0) / (F.col("_ng") - 1), 9).cast(dec)
        ).alias("_inv"),
    )
    n = F.col("_n").cast("double")
    k = F.col("_k").cast("double")
    sp2 = F.col("_pool").cast("double") / (n - k)
    t_raw = (n - k) * F.log(sp2) - F.col("_lnsum").cast("double")
    c = F.lit(1.0) + (
        F.col("_inv").cast("double") - F.lit(1.0) / (n - k)
    ) / (F.lit(3.0) * (k - 1))
    ok = (F.col("_k") >= 2) & (F.col("_n") > F.col("_k"))
    t = F.when(ok, t_raw / c)
    return agg.crossJoin(F.broadcast(n_bad)).select(
        F.col("_k").alias("k_groups"),
        F.col("_n").alias("n_total"),
        F.round(t, 6).alias("t_stat"),
        # T >= 0 by Jensen; clamp sub-ulp negatives so the tail is
        # defined at exact homogeneity (p -> ~1 at T = 0)
        F.when(
            t.isNotNull(),
            _wilson_hilferty_p_upper(
                F.greatest(t, F.lit(0.0)), F.col("_k") - 1
            ),
        ).alias("p_value"),
        "n_excluded",
    )


def anova_oneway(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """One-way fixed-effects ANOVA (Fisher 1925 — the k-group mean
    comparison everything else here refines: Kruskal-Wallis q_kw is
    its rank twin, Levene q473 runs it on spread, ICC q469 reads the
    same decomposition as reliability): SSB/SSW from group sums,
    F = MSB/MSW, effect sizes eta² = SSB/SST and the less-biased
    omega² = (SSB − (k−1)·MSW)/(SST + MSW). Reported WITHOUT a tail
    p (F tail out of closed-form scope — the q469/q473 convention;
    Kruskal-Wallis carries the closed-form-p story for k groups).

    Exactness: the q469 decimal moment discipline (9dp values and
    squares, S_g²/n_g as 9dp IEEE divisions back onto decimal). The
    RAW sums of squares are NOT emitted: at corpus magnitudes
    (SS ~ 1e15) a 6dp double round is outside the 2^53-exact window
    and the engines' rounding implementations legitimately diverge in
    the last ulp — only the SCALE-FREE statistics (F, eta², omega²)
    are cross-engine exact, so only they are the contract
    (documented; the q421 emit discipline taken to its conclusion).
    Output ONE row: (k_groups, n_total, f_stat, eta_sq, omega_sq);
    k < 2 or N <= k degrades to NULL.
    """
    agg, ssb, ssw = _oneway(
        df.select(
            F.col(group_col).alias("_g"),
            F.col(value_col).cast("double").alias("_v"),
        )
    )
    n = F.col("_n").cast("double")
    k = F.col("_k").cast("double")
    sst = ssb + ssw
    ok = (F.col("_k") >= 2) & (F.col("_n") > F.col("_k"))
    msb = F.when(ok, ssb / (k - 1))
    msw = F.when(ok, ssw / (n - k))
    f_stat = F.when(ok & (msw > 0), msb / msw)
    eta = F.when(ok & (sst > 0), ssb / sst)
    omega = F.when(
        ok & (msw > 0) & ((sst + msw) > 0),
        (ssb - (k - 1) * msw) / (sst + msw),
    )
    return agg.select(
        F.col("_k").alias("k_groups"),
        F.col("_n").alias("n_total"),
        F.round(f_stat, 6).alias("f_stat"),
        F.round(eta, 6).alias("eta_sq"),
        F.round(omega, 6).alias("omega_sq"),
    )
