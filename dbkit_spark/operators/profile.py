"""Table profiler: per-column data-quality stats in ONE pass.

Training-data pipelines gate ingest on profiles (null ratios, cardinality,
ranges). The scale property: all columns' stats are computed in a single
aggregation over a single scan — n columns never means n jobs. Output is
long-format (one row per column) so profiles of any-width tables have a
fixed schema.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def profile_table(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    exact_distinct: bool = False,
) -> DataFrame:
    """One row per column: (column, n, n_null, n_distinct, min_str, max_str).

    - ``exact_distinct=False`` (default — the 100 TB behavior):
      approx_count_distinct (HLL++) keeps the whole profile a single
      non-expanded aggregation pass. Opt in to ``exact_distinct=True``
      for oracle-parity exact counts: each countDistinct adds an Expand
      duplication of the input — n distinct columns cost ~n x the scan
      (measured 3.4x at sf0.1; BASELINE.md secondary table).
    - min/max rendered as strings so numeric/temporal/text columns share
      one schema
    """
    cols = list(columns) if columns else df.columns
    distinct_of = (
        F.countDistinct if exact_distinct else F.approx_count_distinct
    )
    agg_exprs = []
    for c in cols:
        agg_exprs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__n_null"),
            distinct_of(c).alias(f"{c}__n_distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = df.agg(*agg_exprs)
    # unpivot the single wide row via explode(array(structs)): ONE plan
    # branch, so the aggregation runs once (a union of per-column
    # projections would re-derive the agg per column — n scans)
    structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"{c}__n").alias("n"),
            F.col(f"{c}__n_null").alias("n_null"),
            F.col(f"{c}__n_distinct").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_str"),
            F.col(f"{c}__max").alias("max_str"),
        )
        for c in cols
    ]
    return wide.select(F.explode(F.array(*structs)).alias("s")).select("s.*")

def skew_profile(
    df: DataFrame,
    key_cols: Sequence[str],
    top: int = 10,
) -> DataFrame:
    """Join/agg-key SKEW diagnosis: the top-``top`` heaviest keys with
    their share of the table and the key distribution's skew factor —
    the operational question ("should this join be salted, and by how
    much?") answered before the expensive join, from ONE count
    aggregation.

    Output per heavy key (ordered heaviest-first by (n DESC, keys)):
    (key columns..., n, share, skew_factor, n_keys, n_rows) where
    ``skew_factor`` =
    max-key-count / mean-key-count. A factor near 1 means uniform keys
    (hash joins balance); a factor of S means the hottest reducer does
    ~S× the average work — the salting factor the q64 salted join
    should use is ~ceil(S / executors-per-key-target).

    Scale shape: one map-side-combined count per key (the same
    aggregate any groupBy pays), one global agg to a 1-row summary
    (broadcast back), and a top-k rank over the per-key counts cut
    with TakeOrdered semantics — no full sort, no collect. At 100 TB
    this costs one shuffle of (key, count) partials.
    """
    if not key_cols or top <= 0:
        raise ValueError("need key_cols and top > 0")
    counts = df.groupBy(*key_cols).agg(F.count("*").alias("n"))
    summary = F.broadcast(
        counts.agg(
            F.count("*").alias("n_keys"),
            F.sum("n").alias("n_rows"),
            F.max("n").alias("max_n"),
        )
    )
    joined = counts.crossJoin(summary)
    # orderBy().limit() plans as TakeOrderedAndProject — a per-partition
    # top-k merge, never a full sort (plan-gated); heaviest-first order
    # is carried by the take itself, no rank window needed
    ranked = joined.orderBy(
        F.col("n").desc(), *[F.col(c).asc() for c in key_cols]
    ).limit(top)
    return ranked.select(
        *key_cols,
        "n",
        F.round(F.col("n") / F.col("n_rows"), 6).alias("share"),
        F.round(
            F.col("max_n") / (F.col("n_rows") / F.col("n_keys")), 6
        ).alias("skew_factor"),
        "n_keys",
        "n_rows",
    )


def fd_discovery(
    df: DataFrame, columns: Sequence[str], exact: bool = True
) -> DataFrame:
    """Functional-dependency and candidate-key discovery over a declared
    column set — the metadata-profiling step behind schema inference,
    join-key validation, and normalization advice.

    A → B holds iff countDistinct(A, B) == countDistinct(A); column A
    is a candidate key iff countDistinct(A) == COUNT(*). Output is one
    row per ordered pair (determinant, dependent, n_det, n_pair,
    violations = n_pair − n_det, holds) plus one row per column with
    dependent='*' marking key status (violations = n − n_det).

    Scale: ALL distinct counts for every column and pair are expressions
    of ONE global aggregation over ONE scan (no per-pair jobs). With
    ``exact=True`` each countDistinct adds an Expand duplication (the
    profile_table trade, measured there); ``exact=False`` swaps in
    approx_count_distinct (HLL++) for a single non-expanded pass — at
    100 TB approximate FDs are the screening pass and exact runs only
    on the survivors. NULLs: countDistinct skips all-NULL tuples, so
    fully-NULL rows don't witness violations (documented, matches the
    SQL twin).
    """
    cols = list(columns)
    if len(cols) < 2:
        raise ValueError("need at least two columns")
    cd = F.countDistinct if exact else (
        lambda *cs: F.approx_count_distinct(F.struct(*cs))
        if len(cs) > 1
        else F.approx_count_distinct(cs[0])
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("_n")]
    for c in cols:
        aggs.append(cd(F.col(c)).cast("long").alias(f"_d_{c}"))
    pairs = [(a, b) for a in cols for b in cols if a != b]
    for a, b in pairs:
        aggs.append(cd(F.col(a), F.col(b)).cast("long").alias(f"_p_{a}_{b}"))
    stats = df.agg(*aggs)
    out_rows = []
    for a, b in pairs:
        out_rows.append(
            F.struct(
                F.lit(a).alias("determinant"),
                F.lit(b).alias("dependent"),
                F.col(f"_d_{a}").alias("n_det"),
                F.col(f"_p_{a}_{b}").alias("n_pair"),
                (F.col(f"_p_{a}_{b}") - F.col(f"_d_{a}")).alias("violations"),
                (F.col(f"_p_{a}_{b}") == F.col(f"_d_{a}")).alias("holds"),
            )
        )
    for c in cols:
        out_rows.append(
            F.struct(
                F.lit(c).alias("determinant"),
                F.lit("*").alias("dependent"),
                F.col(f"_d_{c}").alias("n_det"),
                F.col("_n").alias("n_pair"),
                (F.col("_n") - F.col(f"_d_{c}")).alias("violations"),
                (F.col(f"_d_{c}") == F.col("_n")).alias("holds"),
            )
        )
    return stats.select(
        F.explode(F.array(*out_rows)).alias("_r")
    ).select("_r.*")


def benford_audit(df: DataFrame, value_col: str) -> DataFrame:
    """First-significant-digit distribution vs Benford's law — the
    classic fabricated-/synthetic-data smell test for positive,
    scale-spanning quantities (amounts, populations, file sizes).

    Returns one row per digit 1..9: observed count, observed share,
    Benford's expected share log10(1 + 1/d), deviation, and the
    chi-square contribution n·(p_obs − p_exp)²/p_exp — the summable
    per-digit pieces of the usual goodness-of-fit statistic.

    One pass, one 9-group aggregation (map-side combined): the first
    significant digit is string-extracted from the integer part.
    Values are pre-filtered to [1.0, 9.2e18): sub-1 magnitudes would
    need the regex-on-scientific-notation form (out of scope for the
    fixture's price-like columns), and the explicit upper bound keeps
    the BIGINT cast inside the int64 range — without it Spark
    (non-ANSI) silently NULLs values >= 2^63 while DuckDB errors, a
    cross-engine divergence (round-7 advice). At 100 TB this is a
    scan + 9-row shuffle.

    Cross-engine: digit extraction is substring-on-CAST(BIGINT) —
    exact within the filtered range; shares and chi-square terms round
    at 6dp (the one ln/float rule); expected shares are double literals
    both engines compute from the identical log10 expression.

    The digit-by-powers alternative (floor(v / 10^floor(log10 v))) was
    rejected: log10 near exact powers of ten differs by 1 ulp across
    libm builds, which misclassifies boundary values differently per
    engine — the substring form has no such edge.
    """
    import math

    digit = F.substring(
        F.floor(F.col(value_col).cast("double")).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    v = F.col(value_col).cast("double")
    base = (
        df.filter((v >= 1.0) & (v < 9.2e18))
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    tot = base.agg(F.sum("cnt").alias("n"))
    expected = None
    for d in range(1, 10):
        e = float(math.log10(1.0 + 1.0 / d))
        expected = (
            F.when(F.col("digit") == d, F.lit(e))
            if expected is None
            else expected.when(F.col("digit") == d, F.lit(e))
        )
    p_obs = F.col("cnt") / F.col("n")
    return (
        base.crossJoin(F.broadcast(tot))
        .withColumn("p_expected", expected)
        .select(
            "digit",
            "cnt",
            F.round(p_obs, 6).alias("p_observed"),
            F.round(F.col("p_expected"), 6).alias("p_expected"),
            F.round(p_obs - F.col("p_expected"), 6).alias("deviation"),
            F.round(
                F.col("n")
                * (p_obs - F.col("p_expected"))
                * (p_obs - F.col("p_expected"))
                / F.col("p_expected"),
                6,
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )


def mutual_information(df: DataFrame, col_x: str, col_y: str) -> DataFrame:
    """Mutual information between two categorical columns, with the
    marginal entropies and the normalized MI — the feature-selection /
    redundancy readout next to the FD discovery above (an FD X→Y is
    the MI(X;Y) = H(Y) limit; this quantifies the in-between).

    I(X;Y) = Σ_xy p_xy ln(p_xy / (p_x p_y)),  NMI = I / sqrt(H_x H_y).

    Scale: one hash agg over (x, y) cells — map-side combined,
    cells-sized output — then the marginals derive from the SAME cell
    counts (no second corpus scan; two metadata-sized re-aggs). Each
    cell's nats term is one IEEE expression of exact integer counts,
    rounded at 9dp and decimal-summed so the reduction is
    order-independent and a DuckDB oracle replays it digit-for-digit
    (the engine float contract). Output: ONE row
    (cells, n, mi, h_x, h_y, nmi), 6dp.
    """
    dec = "decimal(38,9)"
    cells = (
        df.select(
            F.col(col_x).cast("string").alias("x"),
            F.col(col_y).cast("string").alias("y"),
        )
        .filter(F.col("x").isNotNull() & F.col("y").isNotNull())
        .groupBy("x", "y")
        .agg(F.count("*").alias("nxy"))
    )
    mx = cells.groupBy("x").agg(F.sum("nxy").alias("nx"))
    my = cells.groupBy("y").agg(F.sum("nxy").alias("ny"))
    tot = cells.agg(F.sum("nxy").alias("n"))
    joined = (
        cells.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
    )
    nxy = F.col("nxy").cast("double")
    n = F.col("n").cast("double")
    mi_term = F.round(
        nxy / n * F.log(nxy * n / (F.col("nx") * F.col("ny"))), 9
    ).cast(dec)
    agg = joined.agg(
        F.count("*").alias("cells"),
        F.max("n").alias("n"),
        F.sum(mi_term).alias("mi_d"),
    )
    # marginal entropies from the (metadata-sized) marginal frames —
    # each term summed exactly once, same 9dp-decimal reduction
    def marg_entropy(m: DataFrame, cnt: str, alias: str) -> DataFrame:
        p_ = F.col(cnt).cast("double") / F.col("n").cast("double")
        return m.crossJoin(F.broadcast(tot)).agg(
            F.sum(F.round(-p_ * F.log(p_), 9).cast(dec)).alias(alias)
        )

    one = (
        agg.crossJoin(F.broadcast(marg_entropy(mx, "nx", "hx_d")))
        .crossJoin(F.broadcast(marg_entropy(my, "ny", "hy_d")))
    )
    mi = F.col("mi_d").cast("double")
    hx = F.col("hx_d").cast("double")
    hy = F.col("hy_d").cast("double")
    return one.select(
        "cells",
        F.col("n").cast("long").alias("n"),
        F.round(mi, 6).alias("mi"),
        F.round(hx, 6).alias("h_x"),
        F.round(hy, 6).alias("h_y"),
        (F.round(mi / F.sqrt(hx * hy), 6) + F.lit(0.0)).alias("nmi"),
    )


def gini_lorenz(
    df: DataFrame,
    group_col: str,
    value_col: str,
    order_col: str,
) -> DataFrame:
    """Per-group Gini coefficient of a non-negative quantity — the
    concentration readout for curation questions like "how unevenly
    are tokens spread across domains?" (Gini 0 = uniform, →1 = one
    member holds everything).

    Exact rank formula over the ascending sort (ties broken by
    ``order_col`` for determinism — Gini is tie-order-invariant but
    the bit-identical cross-engine contract wants ONE order):

        G = 2·Σ i·x_i / (n·Σ x) − (n+1)/n

    One per-group window sort (rank i), one decimal agg of i·x — the
    same sort-once pattern as the percentile family. Output:
    (group, n, total, gini) at 6dp (the i·x decimal sum exceeds 2^53
    at scale, where decimal→double casts are last-ulp
    engine-dependent)."""
    dec = "decimal(38,9)"
    w = Window.partitionBy(group_col).orderBy(value_col, order_col)
    xd = F.round(F.col(value_col).cast("double"), 9)
    ranked = df.select(
        F.col(group_col),
        xd.alias("x"),
        F.row_number().over(w).cast("double").alias("i"),
    )
    agg = ranked.groupBy(group_col).agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.round(F.col("i") * F.col("x"), 9).cast(dec)).alias("six"),
    )
    n = F.col("n").cast("double")
    return agg.select(
        group_col,
        "n",
        F.col("sx").cast("double").alias("total"),
        (
            F.round(
                2.0 * F.col("six").cast("double")
                / (n * F.col("sx").cast("double"))
                - (n + 1.0) / n,
                6,
            )
            + F.lit(0.0)
        ).alias("gini"),
    )


def fd_repair(
    df: DataFrame,
    det_cols: list[str],
    dep_col: str,
) -> DataFrame:
    """Majority-value repair suggestions for near-FD violations — the
    action step after :func:`fd_discovery` flags X→Y as *almost*
    holding: for every determinant group with more than one distinct
    dependent value, propose the MODAL value (ties to the smallest,
    deterministic) with its support.

    One (X, Y) hash agg; the per-group argmax is a metadata-shaped
    window over the aggregated (X, Y, cnt) rows — group cardinality,
    not row cardinality, so at 100 TB the window input is the distinct
    pair table. Output: one row per VIOLATING group —
    (det..., suggested, n_rows, n_distinct, support) with support =
    modal_count / n_rows (small-int division, raw-portable)."""
    pair = (
        df.select(*det_cols, F.col(dep_col).alias("_y"))
        .filter(F.col("_y").isNotNull())
        .groupBy(*det_cols, "_y")
        .agg(F.count("*").alias("_c"))
    )
    w = Window.partitionBy(*det_cols).orderBy(
        F.col("_c").desc(), F.col("_y").asc()
    )
    ranked = pair.select(
        *det_cols,
        "_y",
        "_c",
        F.row_number().over(w).alias("_rk"),
        F.sum("_c").over(Window.partitionBy(*det_cols)).alias("_n"),
        F.count("*").over(Window.partitionBy(*det_cols)).alias("_nd"),
    )
    return ranked.filter(
        (F.col("_rk") == 1) & (F.col("_nd") > 1)
    ).select(
        *det_cols,
        F.col("_y").alias("suggested"),
        F.col("_n").alias("n_rows"),
        F.col("_nd").alias("n_distinct"),
        (F.col("_c").cast("double") / F.col("_n")).alias("support"),
    )


def mad_outliers(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Robust per-group outlier flags via MEDIAN ABSOLUTE DEVIATION —
    the outlier detector that doesn't let outliers move its own
    yardstick (mean/std z-scores famously do: one 1e9 spike inflates σ
    until nothing is anomalous). Flags rows with
    |x − med| > k · 1.4826 · MAD (1.4826 = 1/Φ⁻¹(3/4), the consistency
    constant making MAD estimate σ under normality).

    Two group aggregations (median, then median of |x − med|), each one
    exchange on the keys with the group-count-sized result broadcast
    back; flagging is map-side. percentile_disc keeps the medians
    OBSERVED values (Spark percentile_disc ≡ DuckDB quantile_disc, the
    q263 parity), so every comparison is exact IEEE on both engines —
    no interpolation ambiguity.

    Degenerate groups (MAD = 0: over half the mass on one value) flag
    only rows strictly off the median when k·1.4826·0 = 0 — the
    standard MAD caveat, documented rather than papered over.

    Output: input columns + ``med``, ``mad``, ``is_outlier``.
    """
    if not keys:
        raise ValueError("keys must be non-empty")
    c = F.col(value_col)
    clean = df.filter(c.isNotNull())
    med = clean.groupBy(*keys).agg(
        F.expr(
            f"percentile_disc(0.5) WITHIN GROUP (ORDER BY {value_col})"
        ).alias("med")
    )
    with_med = clean.join(F.broadcast(med), list(keys))
    mad = (
        with_med.withColumn("_ad", F.abs(c - F.col("med")))
        .groupBy(*keys)
        .agg(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY _ad)").alias(
                "mad"
            )
        )
    )
    return (
        with_med.join(F.broadcast(mad), list(keys))
        .withColumn(
            "is_outlier",
            F.abs(c - F.col("med")) > F.lit(float(k) * 1.4826) * F.col("mad"),
        )
    )


def bot_signature(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    min_events: int = 20,
    cv_threshold: float = 0.1,
) -> DataFrame:
    """Automation-signature detection from INTER-EVENT TIMING — the
    crawl/abuse triage heuristic behind every traffic-quality pipeline:
    humans emit bursty gaps (coefficient of variation ≈ 1 for
    Poisson-ish arrivals), schedulers and naive bots emit metronomic
    ones (CV → 0). Flags keys with ≥ ``min_events`` events whose gap
    CV falls below ``cv_threshold``.

    One per-key sort (lag window on the key exchange), decimal-summed
    gap moments (the engine-wide order-free rule), raw-IEEE mean/CV of
    identical sums. Emits every qualifying key with its gap stats so
    the threshold is tunable downstream; keys with constant timestamps
    (zero mean gap) flag as bots outright.

    Output: (key, n_events, mean_gap_s, cv_gap, is_bot).
    """
    if min_events < 3:
        raise ValueError("min_events must be >= 3 (CV needs gaps)")
    w = Window.partitionBy(key_col).orderBy(ts_col)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gaps = (
        events.select(key_col, F.col(ts_col))
        .withColumn("_gap", (us - F.lag(us).over(w)).cast("double") / 1e6)
        .filter(F.col("_gap").isNotNull())
    )
    gd = F.round(F.col("_gap"), 9)
    stats = gaps.groupBy(key_col).agg(
        (F.count(F.lit(1)) + 1).alias("n_events"),
        F.sum(gd.cast("decimal(38,9)")).alias("_sg"),
        F.sum(F.round(gd * gd, 9).cast("decimal(38,9)")).alias("_sgg"),
    )
    n = (F.col("n_events") - 1).cast("double")
    mean = F.col("_sg").cast("double") / n
    var = F.col("_sgg").cast("double") / n - mean * mean
    cv = F.when(mean <= 0, F.lit(0.0)).otherwise(
        F.sqrt(F.greatest(var, F.lit(0.0))) / mean
    )
    # floor(x*1e6 + 0.5)/1e6 instead of round(x, 6): round()'s HALF_UP
    # walks the double's exact decimal expansion in Spark but rounds the
    # float directly in DuckDB, diverging at 6dp boundaries (the q245
    # lesson); floor arithmetic is the identical IEEE op chain in both
    def r6(c):
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    return (
        stats.filter(F.col("n_events") >= min_events)
        .select(
            key_col,
            F.col("n_events").cast("long").alias("n_events"),
            r6(mean).alias("mean_gap_s"),
            r6(cv).alias("cv_gap"),
            (r6(cv) < cv_threshold).alias("is_bot"),
        )
    )


def null_pattern_audit(
    df: DataFrame,
    cols: list[str],
    top_n: int = 20,
) -> DataFrame:
    """Missing-data co-occurrence profile: group rows by their NULL
    *pattern* across ``cols`` (a '0'/'1' mask string, 1 = NULL) and
    report the ``top_n`` patterns with count and fraction — the
    diagnostic that distinguishes "5% of every column is null" from
    "5% of rows are null in ALL columns" (joint missingness drives
    imputation and filter policy; marginals hide it).

    ONE hash aggregation on a computed mask column + a metadata-sized
    scalar total; top-n by (count desc, pattern) with a deterministic
    tiebreak. Exact integer counts, one IEEE division — SQL-replayable.
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    mask = F.concat(
        *[F.when(F.col(c).isNull(), F.lit("1")).otherwise(F.lit("0")) for c in cols]
    )
    pat = df.select(mask.alias("pattern")).groupBy("pattern").agg(
        F.count("*").alias("n_rows")
    )
    total = pat.agg(F.sum("n_rows").alias("_total"))
    return (
        pat.crossJoin(total)  # scalar broadcast
        .select(
            "pattern",
            "n_rows",
            F.round(F.col("n_rows").cast("double") / F.col("_total"), 9).alias(
                "fraction"
            ),
        )
        .orderBy(F.col("n_rows").desc(), "pattern")
        .limit(top_n)
    )


# Format-class priority chain for infer_formats: first match wins.
# Patterns stay inside the Java-regex ∩ RE2 common subset (anchors,
# classes, +, ?, {m,n}, alternation) so Spark rlike and DuckDB
# regexp_matches agree literally.
FORMAT_CLASSES: list[tuple[str, str]] = [
    ("bool", "^(true|false|TRUE|FALSE|True|False)$"),
    ("integer", "^[+-]?[0-9]+$"),
    ("decimal", "^[+-]?[0-9]+[.][0-9]+$"),
    ("date_iso", "^[0-9]{4}-[0-9]{2}-[0-9]{2}$"),
    (
        "timestamp_iso",
        "^[0-9]{4}-[0-9]{2}-[0-9]{2}[T ][0-9]{2}:[0-9]{2}:[0-9]{2}",
    ),
    (
        "uuid",
        "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}"
        "-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$",
    ),
    ("email", "^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}$"),
    ("url", "^https?://"),
    ("json_object", "^[{].*[}]$"),
]


def infer_formats(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Schema-sniffing profiler: classify every value of the given
    string columns into a format class (bool/integer/decimal/date/
    timestamp/uuid/email/url/json_object, else null/empty/other) and
    report per-(col_name, fmt) counts + coverage fraction. This is the
    ingest gate that decides whether a landed VARCHAR column is really
    a typed column — run it before writing casts, not after they fail.

    Scale: ONE scan — the columns unpivot through ``stack`` (no
    per-column jobs), classification is a JVM-side first-match regex
    chain (whole-stage codegen, no UDF), then one map-side-combined
    hash agg on (col_name, fmt). frac = n/total is an IEEE division
    of exact longs, bit-portable unrounded.
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    bad = [c for c in cols if "`" in c or "'" in c]
    if bad:
        raise ValueError(
            f"column names with quote/backtick are not supported: {bad}"
        )
    stack_args = ", ".join(
        f"'{c}', CAST(`{c}` AS STRING)" for c in cols
    )
    long_df = df.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS (col_name, value)"
    )
    fmt = F.when(F.col("value").isNull(), "null").when(
        F.trim(F.col("value")) == "", "empty"
    )
    for name, pattern in FORMAT_CLASSES:
        fmt = fmt.when(F.col("value").rlike(pattern), name)
    fmt = fmt.otherwise("other")
    counted = long_df.select("col_name", fmt.alias("fmt")).groupBy(
        "col_name", "fmt"
    ).agg(F.count("*").cast("long").alias("n"))
    w = Window.partitionBy("col_name")
    return counted.select(
        "col_name",
        "fmt",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w).cast("double")).alias(
            "frac"
        ),
    )


def information_gain_ranking(
    df: DataFrame,
    label_col: str,
    feature_cols: "list[str]",
) -> DataFrame:
    """Rank MANY candidate features by information gain about a label
    in ONE scan — the feature-selection sweep
    (:func:`mutual_information` answers one pair; selection asks the
    same question of every candidate column, and running it per column
    re-scans the corpus per feature). Output per feature:
    (feature, h_label, h_cond, info_gain, n_values) with
    info_gain = H(label) − H(label|feature), in nats at 6dp.

    Plan: the ``stack`` unpivot (the infer_formats one-scan discipline)
    turns n feature columns into (feature, value, label) rows map-side,
    then ONE hash agg to (feature, value, label) cells; conditional
    entropy reduces from those cells, H(label) from the same pass's
    label marginals — one corpus scan, two metadata-sized aggregations,
    no per-feature jobs. Feature values are compared as strings (the
    unpivot needs one type); NULL feature values form their own
    category (missingness is informative — the null-pattern-audit
    stance). Per-cell entropy terms are 9dp-rounded decimals so every
    reduction is order-independent and an oracle replays it
    digit-for-digit.
    """
    if not feature_cols:
        raise ValueError("feature_cols must be non-empty")

    stack_expr = "stack({}, {}) as (feature, value)".format(
        len(feature_cols),
        ", ".join(f"'{c}', CAST(`{c}` AS STRING)" for c in feature_cols),
    )
    cells = (
        df.select(F.col(label_col).alias("_y"), F.expr(stack_expr))
        .groupBy("feature", "value", "_y")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    # totals stay LAZY (the t_closeness rule: never an eager count() at
    # construction time): the label table carries n via a labels-sized
    # window; the cell side via a per-feature window over the
    # values-sized vtot table
    lbl = (
        cells.filter(F.col("feature") == feature_cols[0])
        .groupBy("_y")
        .agg(F.sum("_c").alias("_cy"))
        .withColumn("_n", F.sum("_cy").over(Window.partitionBy(F.lit(1))))
    )
    hy_term = F.round(
        -(F.col("_cy").cast("double") / F.col("_n"))
        * F.log(F.col("_cy").cast("double") / F.col("_n")),
        9,
    ).cast("decimal(20,9)")
    h_label = lbl.agg(F.sum(hy_term).cast("double").alias("_hy"))
    # H(label|feature) = Σ_v p(v) H(label|v) = Σ_{v,y} -p(v,y) log(c_vy/c_v)
    vtot = cells.groupBy("feature", "value").agg(
        F.sum("_c").alias("_cv")
    ).withColumn("_n", F.sum("_cv").over(Window.partitionBy("feature")))
    cond_term = F.round(
        -(F.col("_c").cast("double") / F.col("_n"))
        * F.log(F.col("_c").cast("double") / F.col("_cv")),
        9,
    ).cast("decimal(20,9)")
    # n_values counts vtot ROWS (one per distinct value INCLUDING the
    # NULL category — countDistinct would silently drop it while the
    # entropy terms keep it)
    nvals = vtot.groupBy("feature").agg(
        F.count(F.lit(1)).cast("long").alias("n_values")
    )
    # NULL-SAFE value join: a plain equality join drops the NULL
    # category's cells (NULL != NULL), silently excluding exactly the
    # category this operator promises to keep
    vt = vtot.select(
        F.col("feature").alias("_vf"),
        F.col("value").alias("_vv"),
        "_cv",
        "_n",
    )
    h_cond = (
        cells.join(
            vt,
            (F.col("feature") == F.col("_vf"))
            & F.col("value").eqNullSafe(F.col("_vv")),
        )
        .groupBy("feature")
        .agg(F.sum(cond_term).cast("double").alias("_hc"))
        .join(nvals, "feature")
    )
    return h_cond.crossJoin(F.broadcast(h_label)).select(
        "feature",
        F.round("_hy", 6).alias("h_label"),
        F.round("_hc", 6).alias("h_cond"),
        F.round(F.col("_hy") - F.col("_hc"), 6).alias("info_gain"),
        "n_values",
    )
