"""Distribution-drift monitoring between two datasets.

The ingest-loop question "did this week's crawl shift under me?" is a
distribution comparison, not an eyeball job: bucket a reference period
into equal-mass quantile bins, measure where the current period's mass
lands, and reduce to the Population Stability Index
PSI = Σ_i (p_i − q_i)·ln(p_i/q_i) — the standard drift gate
(rule of thumb: <0.1 stable, 0.1–0.25 drifting, >0.25 shifted).

Scale design: the reference-side quantile edges are k−1 VALUES — a
metadata-sized result — extracted with one sort-based window pass over
the reference (exact; for corpora where even one sort is too much, feed
edges from ``approxQuantile`` instead — same downstream plan). The
k−1 edges then drive a map-only literal bisection on BOTH datasets
(the q79 sampled-boundaries discipline: tiny boundary set → inline
CASE chain, whole-stage codegen, zero joins), and each side reduces
with one map-side-combinable aggregation of k rows.

Cross-engine exactness: edges are rank-selected actual values (no
interpolation — portable), bucket membership is strict `value > edge`
counting, and only the final ln-weighted contributions are rounded
(6dp; ln differs in the last ulp across libms — the q27 rule).

The two-sample rule, stated once: ``_side_counts`` counts both samples
per key with one tagged union and one aggregate (exact LONG counts for
every non-NULL key seen on either side, 0 for the side that lacks it),
and a proportion is ``try_divide`` of a count by its side's total, so
an EMPTY side yields NULL proportions instead of a division error. PSI
(``_psi_bins``) floors those at ``floor``; ``wasserstein_1d`` and
``mauve_frontier`` report the side counts with NULL statistics. The
CUSUM recursion (``_cusum_walk``) is shared by the batch operator and
the streaming one in ``streaming/cusum.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import normalized_words


def quantile_edges_exact(
    df: DataFrame, value_col: str, k: int, tiebreak_col: str
) -> list[float]:
    """The k−1 exact quantile edges of ``value_col``: the value at sorted
    position ceil(i·n/k) for i = 1..k−1 (rank-selected, no
    interpolation, deterministic ties via ``tiebreak_col``).

    Returns a driver-side list — edges are metadata-sized (k−1 floats,
    the same bounded-scalar class as a convergence check), which is what
    lets bucketing stay map-only.

    FIXTURE/ORACLE MODE: the global row_number window serializes the
    reference through one reducer (the q184 caveat) — use it where a
    DuckDB oracle must reproduce the grid digit-for-digit; production
    drift monitoring takes ``psi_report``'s default approxQuantile grid.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    w = Window.orderBy(F.col(value_col).asc(), F.col(tiebreak_col).asc())
    ranked = df.select(
        F.col(value_col).cast("double").alias("_v"),
        F.row_number().over(w).alias("_rn"),
    )
    n = df.count()
    targets = sorted({-(-i * n // k) for i in range(1, k)})  # ceil(i*n/k)
    rows = (
        ranked.filter(F.col("_rn").isin([int(t) for t in targets]))
        .orderBy("_rn")
        .collect()
    )
    return [float(r["_v"]) for r in rows]


def bucket_by_edges(value: Column, edges: list[float]) -> Column:
    """Map-only bisection: bucket id = number of edges strictly below
    the value — an inline literal comparison chain (codegen'd), no join.
    NULLs map to bucket NULL (caller filters)."""
    b = F.lit(0)
    for e in edges:
        b = b + F.when(value > F.lit(e), 1).otherwise(0)
    return F.when(value.isNotNull(), b).cast("int")


def _side_counts(a: DataFrame, b: DataFrame, key: str) -> DataFrame:
    """(``key``, ``_ca``, ``_cb``): the LONG row counts of ``a`` and ``b``
    per non-NULL ``key`` seen on either side, 0 for the side without
    it — one tagged union and one aggregate, no join."""
    tagged = a.select(key, F.lit(1).alias("_ca"), F.lit(0).alias("_cb")).unionByName(
        b.select(key, F.lit(0).alias("_ca"), F.lit(1).alias("_cb"))
    )
    return (
        tagged.filter(F.col(key).isNotNull())
        .groupBy(key)
        .agg(
            F.sum("_ca").cast("long").alias("_ca"),
            F.sum("_cb").cast("long").alias("_cb"),
        )
    )


def _psi_term(pr: Column, pc: Column) -> Column:
    """One bin's PSI contribution (pr − pc)·ln(pr/pc) of floored
    proportions."""
    return (pr - pc) * F.log(pr / pc)


def _psi_bins(counted: DataFrame, groups: list[str], floor: float) -> DataFrame:
    """PSI from per-bin counts. ``counted`` holds ``groups``, one bin key
    and the LONG counts ``n_ref``/``n_cur``; each proportion is
    ``try_divide`` of a count by its side's total within the group,
    floored at ``floor`` (an empty side floors in every bin; Spark's
    greatest skips the NULL). Adds p_ref, p_cur and contrib (6dp) and
    the group's ``psi`` = rounded sum of contrib, repeated per row.
    Totals re-join as a groups-sized broadcast (with no group: a one-row
    broadcast cross join)."""
    on = groups or None
    tot = counted.groupBy(*groups).agg(
        F.sum("n_ref").alias("_tr"), F.sum("n_cur").alias("_tc")
    )
    with_p = counted.join(F.broadcast(tot), on).select(
        *counted.columns,
        F.greatest(F.try_divide(F.col("n_ref"), F.col("_tr")), F.lit(floor)).alias("_pr"),
        F.greatest(F.try_divide(F.col("n_cur"), F.col("_tc")), F.lit(floor)).alias("_pc"),
    )
    per_bin = with_p.select(
        *counted.columns,
        F.round("_pr", 6).alias("p_ref"),
        F.round("_pc", 6).alias("p_cur"),
        F.round(_psi_term(F.col("_pr"), F.col("_pc")), 6).alias("contrib"),
    )
    total = per_bin.groupBy(*groups).agg(F.round(F.sum("contrib"), 6).alias("psi"))
    return per_bin.join(F.broadcast(total), on).select(*per_bin.columns, "psi")


def _cusum_walk(zs, sp: float, sn: float, k: float, h: float):
    """Two-sided tabular CUSUM over the z sequence ``zs`` from the state
    (``sp``, ``sn``): per step s+ = max(0, s+ + z − k), s− = max(0,
    s− − z − k), alarm when either exceeds h. Returns the s+, s− and
    alarm lists and the final (s+, s−) state."""
    sps, sns, alarms = [], [], []
    for z in zs:
        sp = max(0.0, sp + z - k)
        sn = max(0.0, sn - z - k)
        sps.append(sp)
        sns.append(sn)
        alarms.append(sp > h or sn > h)
    return sps, sns, alarms, (sp, sn)


def psi_report(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    k: int = 10,
    edges: list[float] | None = None,
    floor: float = 1e-6,
) -> DataFrame:
    """Per-bucket PSI decomposition between ``ref`` and ``cur``.

    Output: (bucket, n_ref, n_cur, p_ref, p_cur, contrib, psi) — one row
    per bucket seen on either side, proportions and ln-contributions
    rounded to 6dp, ``psi`` the total repeated on every row so a
    single-row consumer can take any. Proportions floor at ``floor``
    before the ratio so ln stays finite (standard PSI practice); an
    empty side floors in every bucket.

    ``edges``: pass precomputed bin edges to control the reference
    grid. Default (None) derives them with ``approxQuantile`` — a
    single bounded-memory GK pass, NO global sort (the q184→q204
    default-routing rule: the path a user gets by accident must be the
    one that survives 100 TB). For a cross-engine-reproducible grid use
    ``quantile_edges_exact`` and pass the result in — that is the
    oracle/fixture mode.

    Cost beyond edge derivation: one map-only literal bisection per
    side, one k-row count aggregate over both, and the k-row PSI reduce.
    """
    if edges is None:
        probs = [i / k for i in range(1, k)]
        edges = [
            float(e)
            for e in ref.filter(F.col(value_col).isNotNull()).approxQuantile(
                value_col, probs, 0.001
            )
        ]

    def buckets(df: DataFrame) -> DataFrame:
        return df.filter(F.col(value_col).isNotNull()).select(
            bucket_by_edges(F.col(value_col), edges).alias("bucket")
        )

    counted = _side_counts(buckets(ref), buckets(cur), "bucket").select(
        "bucket", F.col("_ca").alias("n_ref"), F.col("_cb").alias("n_cur")
    )
    return _psi_bins(counted, [], floor)


def windowed_psi(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    edges: list[float],
    ref_probs: list[float],
    window: str = "10 minutes",
    floor: float = 1e-6,
) -> DataFrame:
    """PSI per event-time tumbling window against a FIXED reference
    grid — the continuous form of ``psi_report``: "which hour of the
    feed drifted?".

    Output per window: (window_start, window_end, n) + one count column
    per bucket (c0..c{k-1}) + ``psi`` (6dp).

    Designed as ONE stateful aggregation so the identical plan runs as
    a structured stream (Spark allows a single streaming agg in append
    mode with a watermark): the bucket id is computed map-side
    (``bucket_by_edges`` literal bisection), the per-window bucket
    counts are k conditional sums inside one ``groupBy(window(ts))``,
    and PSI folds over those k columns as a stateless post-agg
    projection with the reference proportions inlined as literals
    (metadata-sized, exactly the broadcast-scalar discipline).

    ``ref_probs`` are the reference-period bucket proportions —
    driver-side floats, one per bucket (k = len(edges)+1). Both engines
    fold the same literals, so determinism reduces to the q27 ln rule
    (psi rounded 6dp).
    """
    k = len(edges) + 1
    if len(ref_probs) != k:
        raise ValueError("ref_probs must have len(edges) + 1 entries")
    if any(not 0.0 <= p <= 1.0 for p in ref_probs):
        raise ValueError("ref_probs must be proportions in [0, 1]")
    b = bucket_by_edges(F.col(value_col), edges)
    base = df.filter(F.col(value_col).isNotNull()).select(
        F.col(ts_col).alias("_ts"), b.alias("_b")
    )
    counts = [
        F.sum(F.when(F.col("_b") == i, 1).otherwise(0))
        .cast("long")
        .alias(f"c{i}")
        for i in range(k)
    ]
    agg = base.groupBy(F.window("_ts", window).alias("_w")).agg(
        F.count("*").cast("long").alias("n"), *counts
    )
    psi = None
    for i in range(k):
        pr = F.lit(max(float(ref_probs[i]), floor))
        pc = F.greatest(F.try_divide(F.col(f"c{i}"), F.col("n")), F.lit(floor))
        term = _psi_term(pr, pc)
        psi = term if psi is None else psi + term
    return agg.select(
        F.col("_w.start").alias("window_start"),
        F.col("_w.end").alias("window_end"),
        "n",
        *[f"c{i}" for i in range(k)],
        F.round(psi, 6).alias("psi"),
    )


def ks_grid(
    a: DataFrame,
    b: DataFrame,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic evaluated on a fixed
    equal-width grid: per-edge ECDF gaps ``(bin_idx, edge, f_a, f_b,
    ecdf_gap, ks)`` with ``ks = max_i ecdf_gap_i``.

    The EXACT KS statistic needs both samples globally sorted — the
    single-partition scale-killer this repo routes around (q184 rule).
    The grid form replaces the sort with ONE aggregation per side: k
    conditional sums (``value <= edge_i``) that whole-stage-codegen
    folds map-side, so the shuffle carries k partials per task and the
    plan has no Sort at all. Grid KS lower-bounds exact KS and
    converges as the grid refines (the ECDF can move at most the mass
    of one bin between edges); k=64 puts the gap under max-bin-mass,
    fine for the <0.1 / >0.25 style drift gates this feeds.

    Cross-engine exactness: edges are ``mn + i*(mx-mn)/k`` with the
    global min/max from an exact agg — /k is a power-of-two division
    for the default k=64, and both engines evaluate the identical IEEE
    expression tree, so edge placement and the <= comparisons are
    bit-identical; counts are exact integers and only the final
    fractions round (6dp). The ``edge`` column is emitted as the RAW
    unrounded double: 6dp rounding of a double is NOT cross-engine
    stable (Spark rounds the exact decimal expansion HALF_UP, DuckDB
    rounds via scaled float arithmetic — near-tie values like
    261.0065625 diverge in the last digit), while the raw double is
    bit-identical by the expression-tree argument above.
    """
    mm = (
        a.select(F.col(value_col).cast("double").alias("_v"))
        .unionAll(b.select(F.col(value_col).cast("double").alias("_v")))
        .agg(F.min("_v").alias("mn"), F.max("_v").alias("mx"))
    )

    def side_counts(df: DataFrame, tag: str) -> DataFrame:
        base = df.select(F.col(value_col).cast("double").alias("_v")).crossJoin(
            F.broadcast(mm)
        )
        sums = [
            F.sum(
                (
                    F.col("_v")
                    <= F.col("mn")
                    + F.lit(float(i)) * (F.col("mx") - F.col("mn")) / F.lit(float(k))
                ).cast("long")
            ).alias(f"c{i}")
            for i in range(1, k + 1)
        ]
        agg = base.agg(F.count("*").cast("long").alias("n"), *sums)
        return agg.select(
            F.col("n").alias(f"n_{tag}"),
            F.posexplode(F.array(*[F.col(f"c{i}") for i in range(1, k + 1)])).alias(
                "bin0", f"c_{tag}"
            ),
        )

    ca, cb = side_counts(a, "a"), side_counts(b, "b")
    joined = (
        ca.join(cb, "bin0")
        .crossJoin(F.broadcast(mm))
        .select(
            (F.col("bin0") + 1).alias("bin_idx"),
            (
                F.col("mn")
                + (F.col("bin0") + 1).cast("double")
                * (F.col("mx") - F.col("mn"))
                / F.lit(float(k))
            ).alias("edge"),
            F.round(F.col("c_a") / F.col("n_a"), 6).alias("f_a"),
            F.round(F.col("c_b") / F.col("n_b"), 6).alias("f_b"),
            F.round(F.abs(F.col("c_a") / F.col("n_a") - F.col("c_b") / F.col("n_b")), 6).alias(
                "ecdf_gap"
            ),
        )
    )
    w = Window.partitionBy(F.lit(1))
    return joined.withColumn("ks", F.max("ecdf_gap").over(w)).orderBy("bin_idx")


def cusum_scores(
    df: DataFrame,
    key_col: str,
    order_col: str,
    value_col: str,
    k: float = 0.5,
    h: float = 5.0,
) -> DataFrame:
    """Two-sided tabular CUSUM per key (Page 1954): the SEQUENTIAL
    drift detector that complements the distributional ones above —
    PSI/KS ask "do two snapshots differ?", CUSUM asks "at which point
    in this ordered series did the level shift?".

    s+_t = max(0, s+_{t-1} + z_t - k), s-_t = max(0, s-_{t-1} - z_t - k);
    ``alarm`` when either exceeds h. z is the per-key standardized
    value whose mean/std come from DECIMAL-stabilized sums (9dp,
    order-independent), then every derived quantity — mu, sigma, z,
    and each recursion step — is RAW IEEE double arithmetic on those
    identical inputs, never re-rounded (the q245 lesson: rounding a
    near-tie double diverges between engines; identical IEEE ops do
    not). That is what makes this inherently sequential operator still
    hash-green bit-for-bit against a DuckDB WITH RECURSIVE oracle.

    Scale: the recursion is per key, so a grouped Arrow batch
    (applyInPandas, numpy-accumulated) handles each key sequentially
    while keys parallelize across the cluster — one shuffle on the
    key, the same cost class as any per-key sort. A key's history must
    fit one task (the same contract as every per-key window here).

    Output: (key, order, z, s_pos, s_neg, alarm) per row — raw
    doubles (bit-identical across engines by construction).
    """
    import pandas as pd

    dec = "decimal(38,9)"
    xd = F.round(F.col(value_col).cast("double"), 9)
    stats = (
        df.select(
            F.col(key_col),
            xd.cast(dec).alias("x"),
            # product in double, rounded 9dp, THEN decimal — the q243
            # covariance rule (dodges engine-specific decimal-multiply
            # scale inference while keeping the sum order-independent)
            F.round(xd * xd, 9).cast(dec).alias("xx"),
        )
        .groupBy(key_col)
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("xx").alias("sxx"),
        )
        .select(
            key_col,
            (F.col("sx").cast("double") / F.col("n")).alias("mu"),
            F.sqrt(
                (
                    F.col("sxx").cast("double")
                    - F.col("sx").cast("double")
                    * F.col("sx").cast("double")
                    / F.col("n")
                )
                / F.col("n")
            ).alias("sigma"),
        )
    )
    zed = df.join(F.broadcast(stats), key_col).select(
        F.col(key_col),
        F.col(order_col),
        (
            (F.col(value_col).cast("double") - F.col("mu"))
            / F.col("sigma")
        ).alias("z"),
    )
    out_schema = (
        f"{key_col} {dict(df.dtypes)[key_col]}, "
        f"{order_col} {dict(df.dtypes)[order_col]}, "
        "z double, s_pos double, s_neg double, alarm boolean"
    )
    kk, hh = float(k), float(h)

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        pdf["s_pos"], pdf["s_neg"], pdf["alarm"], _ = _cusum_walk(
            pdf["z"], 0.0, 0.0, kk, hh
        )
        return pdf[[key_col, order_col, "z", "s_pos", "s_neg", "alarm"]]

    return zed.groupBy(key_col).applyInPandas(run, out_schema)


def corpus_kl(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
    smooth: float = 0.5,
) -> DataFrame:
    """Unigram-distribution divergence between two corpora — the TEXT
    drift detector next to the numeric PSI/KS: KL(A‖B), KL(B‖A), and
    the symmetric Jensen–Shannon divergence over Laplace-smoothed token
    distributions on the UNION vocabulary.

    Words follow ``functions.text.normalized_words``; both sides count
    in ONE token-keyed ``_side_counts`` aggregate over the union
    vocabulary (no broadcast assumption on the vocabulary); per-token
    nats terms are 9dp-rounded decimals so the reductions are
    order-independent. Output: ONE row (vocab, n_a, n_b, kl_ab, kl_ba,
    js) at 6dp (ln is last-ulp engine-dependent — SCALE.md taxonomy)."""

    def words(df: DataFrame) -> DataFrame:
        return df.select(F.explode(normalized_words(text_col)).alias("t"))

    dec = "decimal(38,9)"
    s = float(smooth)
    joined = _side_counts(words(df_a), words(df_b), "t")
    tot = joined.agg(
        F.count("*").alias("v"),
        F.sum("_ca").alias("na"),
        F.sum("_cb").alias("nb"),
    )
    j = joined.crossJoin(F.broadcast(tot))
    p = (F.col("_ca") + s) / (F.col("na") + s * F.col("v"))
    q = (F.col("_cb") + s) / (F.col("nb") + s * F.col("v"))
    m = (p + q) / 2.0
    agg = j.agg(
        F.max("v").alias("vocab"),
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
        F.sum(F.round(p * F.log(p / q), 9).cast(dec)).alias("kl_ab_d"),
        F.sum(F.round(q * F.log(q / p), 9).cast(dec)).alias("kl_ba_d"),
        F.sum(
            F.round(
                (p * F.log(p / m) + q * F.log(q / m)) / 2.0, 9
            ).cast(dec)
        ).alias("js_d"),
    )
    return agg.select(
        F.col("vocab").cast("long").alias("vocab"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        (F.round(F.col("kl_ab_d").cast("double"), 6) + F.lit(0.0)).alias(
            "kl_ab"
        ),
        (F.round(F.col("kl_ba_d").cast("double"), 6) + F.lit(0.0)).alias(
            "kl_ba"
        ),
        (F.round(F.col("js_d").cast("double"), 6) + F.lit(0.0)).alias("js"),
    )


def embedding_drift(
    ref: DataFrame,
    cur: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """EMBEDDING-SPACE drift between a reference corpus and the current
    batch — the semantic member of the drift family (PSI/KS watch
    scalar columns; KL/JS watches token text; this watches the vector
    space a retrieval/dedup index lives in): centroid SHIFT (L2 between
    decimal-summed mean vectors — the first moment moving means the
    upstream encoder or content mix moved), mean-NORM ratio (encoder
    rescale signature), and mean dispersion about each centroid
    (spread change without a d×d covariance pass).

    One posexplode + (dim) aggregate per side (d-row results), one
    broadcast recombination — never a corpus shuffle; all reductions
    decimal-summed per the engine rule, outputs 6dp.

    Output: one row (n_ref, n_cur, centroid_shift, norm_ratio,
    dispersion_ref, dispersion_cur).
    """

    def moments(df: DataFrame, tag: str) -> tuple[DataFrame, DataFrame]:
        v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        exploded = df.select(F.posexplode(v).alias("dim", "x"))
        per_dim = exploded.groupBy("dim").agg(
            (
                F.sum(F.round(F.col("x"), 9).cast("decimal(38,12)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias(f"mu_{tag}")
        )
        norms = df.select(
            F.sqrt(
                F.aggregate(
                    F.transform(v, lambda x: F.round(x * x, 9)),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
            ).alias("nrm")
        ).agg(
            F.count(F.lit(1)).alias(f"n_{tag}"),
            (
                F.sum(F.round(F.col("nrm"), 9).cast("decimal(38,12)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias(f"mean_norm_{tag}"),
        )
        return per_dim, norms

    mu_r, n_r = moments(ref, "ref")
    mu_c, n_c = moments(cur, "cur")
    shift = (
        mu_r.join(mu_c, "dim")
        .agg(
            F.sqrt(
                F.sum(
                    F.round(
                        (F.col("mu_ref") - F.col("mu_cur"))
                        * (F.col("mu_ref") - F.col("mu_cur")),
                        12,
                    ).cast("decimal(38,14)")
                ).cast("double")
            ).alias("centroid_shift")
        )
    )

    def dispersion(df: DataFrame, mu: DataFrame, mu_col: str, tag: str):
        v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        # the row id MUST materialize before the generate: a
        # nondeterministic expression in the same select as posexplode
        # is evaluated per OUTPUT row, silently making every exploded
        # element its own group (caught by the q311 oracle differential)
        with_id = df.select(
            F.monotonically_increasing_id().alias("_rid"), v.alias("_v")
        )
        exploded = with_id.select(
            "_rid", F.posexplode(F.col("_v")).alias("dim", "x")
        )
        per_row = (
            exploded.join(F.broadcast(mu), "dim")
            .groupBy("_rid")
            .agg(
                F.sqrt(
                    F.sum(
                        F.round(
                            (F.col("x") - F.col(mu_col))
                            * (F.col("x") - F.col(mu_col)),
                            9,
                        ).cast("decimal(38,12)")
                    ).cast("double")
                ).alias("d")
            )
        )
        return per_row.agg(
            (
                F.sum(F.round(F.col("d"), 9).cast("decimal(38,12)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias(f"dispersion_{tag}")
        )

    disp_r = dispersion(ref, mu_r, "mu_ref", "ref")
    disp_c = dispersion(cur, mu_c, "mu_cur", "cur")
    return (
        n_r.crossJoin(F.broadcast(n_c))
        .crossJoin(F.broadcast(shift))
        .crossJoin(F.broadcast(disp_r))
        .crossJoin(F.broadcast(disp_c))
        .select(
            F.col("n_ref").cast("long").alias("n_ref"),
            F.col("n_cur").cast("long").alias("n_cur"),
            F.round(F.col("centroid_shift"), 6).alias("centroid_shift"),
            F.round(
                F.col("mean_norm_cur") / F.col("mean_norm_ref"), 6
            ).alias("norm_ratio"),
            F.round(F.col("dispersion_ref"), 6).alias("dispersion_ref"),
            F.round(F.col("dispersion_cur"), 6).alias("dispersion_cur"),
        )
    )


def wasserstein_1d(
    a: DataFrame,
    b: DataFrame,
    col: str,
) -> DataFrame:
    """EXACT 1-D Wasserstein-1 (earth mover's) distance between two
    samples — the drift metric that, unlike KS (max CDF gap) or binned
    PSI, weighs HOW FAR mass moved: W1 = ∫|F_a − F_b| dv over the
    union's distinct values.

    Distributed exactness via the prefix family: one per-value count
    aggregate (distinct-value-sized from then on), prefix_agg running
    counts for each side's CDF, and the NEXT distinct value as an
    EXCLUSIVE PREFIX MIN over the DESCENDING order (the suffix trick:
    min over strictly-greater values IS the successor — no global
    lead() window, no SinglePartition anywhere). Segment terms
    |F_a−F_b|·gap round at 9dp and decimal-sum, output 6dp.

    Output: one row (n_a, n_b, wasserstein); an empty side reports its
    0 count with a NULL ``wasserstein``. Two non-empty samples that share
    a single distinct value close no segment and report 0.0.
    """
    from ..operators.prefix import prefix_agg

    def values(df: DataFrame) -> DataFrame:
        return df.select(F.col(col).cast("double").alias("v"))

    counts = _side_counts(values(a), values(b), "v").withColumn("negv", -F.col("v"))
    cum_a = prefix_agg(counts, ["v"], "_ca", agg="sum", out_col="cum_a")
    cum_ab = prefix_agg(cum_a, ["v"], "_cb", agg="sum", out_col="cum_b")
    with_next = prefix_agg(
        cum_ab, ["negv"], "v", agg="min", inclusive=False, out_col="next_v"
    )
    totals = counts.agg(
        F.sum("_ca").alias("n_a"), F.sum("_cb").alias("n_b")
    )
    term = F.round(
        F.abs(
            F.try_divide(F.col("cum_a").cast("double"), F.col("n_a"))
            - F.try_divide(F.col("cum_b").cast("double"), F.col("n_b"))
        )
        * (F.col("next_v") - F.col("v")),
        9,
    )
    n_a = F.coalesce(F.max("n_a"), F.lit(0)).cast("long")
    n_b = F.coalesce(F.max("n_b"), F.lit(0)).cast("long")
    # the max value closes no segment: its NULL next_v makes a NULL term
    w = F.coalesce(F.sum(term.cast("decimal(38,12)")).cast("double"), F.lit(0.0))
    return with_next.join(F.broadcast(totals)).agg(
        n_a.alias("n_a"),
        n_b.alias("n_b"),
        F.round(F.when((n_a > 0) & (n_b > 0), w), 6).alias("wasserstein"),
    )


def fertility_drift(
    stats: DataFrame,
    group_col: str,
    batch_col: str,
    words_col: str,
    tokens_col: str,
    baseline_batch,
) -> DataFrame:
    """TOKENIZER-FERTILITY drift monitor per domain over crawl batches —
    the tokenizer-health gate a training pipeline runs on every
    snapshot: fertility (tokens emitted per word) rising for a domain
    means the tokenizer's vocabulary is aging against that domain's
    drift (new jargon, new scripts, markup creep), the corpus is
    silently costing more FLOPs per byte, and effective context is
    shrinking (Rust et al. 2021, "How Good is Your Tokenizer?" measure
    fertility exactly this way across languages).

    Tokenizer-agnostic by design: consumes a per-doc stats table
    (group, batch, n_words, n_tokens) — feed it ``bpe_encode`` output
    for the real learned-BPE reading or ``bpe_token_count`` for the
    regex proxy. Fertility is corpus-level (sum tokens / sum words per
    cell, both LONG sums — exact, order-free), not a mean of per-doc
    ratios (which would overweight short docs).

    Plan: ONE map-side-combined two-sum aggregate over the stats table,
    then the groups-sized baseline slice re-joins broadcast — no second
    pass over data, no window. Output per (group, batch): n_docs,
    fertility 6dp, baseline_fertility 6dp, drift_ratio 6dp
    (fertility / the group's ``baseline_batch`` fertility; groups
    missing the baseline batch report NULL drift rather than a fake 1).
    Cells with zero words report NULL fertility.
    """
    cells = (
        stats.groupBy(
            F.col(group_col).alias("grp"), F.col(batch_col).alias("batch")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col(words_col).cast("long")).alias("_w"),
            F.sum(F.col(tokens_col).cast("long")).alias("_t"),
        )
        .withColumn(
            "_fert",
            F.when(F.col("_w") > 0, F.col("_t") / F.col("_w")),
        )
    )
    base = cells.filter(F.col("batch") == F.lit(baseline_batch)).select(
        "grp", F.col("_fert").alias("_bfert")
    )
    return (
        cells.join(F.broadcast(base), "grp", "left")
        .select(
            F.col("grp").alias(group_col),
            F.col("batch").alias(batch_col),
            "n_docs",
            F.round("_fert", 6).alias("fertility"),
            F.round("_bfert", 6).alias("baseline_fertility"),
            F.round(F.col("_fert") / F.col("_bfert"), 6).alias("drift_ratio"),
        )
    )


def score_psi_grouped(
    df: DataFrame,
    group_col: str,
    baseline_col: str,
    score_col: str,
    n_bins: int = 10,
    floor: float = 1e-6,
) -> DataFrame:
    """PER-GROUP calibration drift of a bounded [0,1] score — PSI of the
    score's fixed-width decile histogram between a baseline segment and
    the current segment, computed for EVERY group in one plan (the
    q227 reliability-bin grid crossed with the q223 PSI reduction): a
    quality score whose per-domain distribution shifts between crawls
    no longer means the same thing, and every threshold downstream of
    it silently re-tunes.

    ``baseline_col`` is a boolean column marking the baseline segment.
    Bins are FIXED-WIDTH (floor(score*n_bins), top-capped) — exact and
    engine-portable, no quantile estimation; scores must land in [0,1]
    (values outside raise no error but clamp into the edge bins only
    at the top; keep scores normalized upstream).

    Plan: one map-side bucket expression + ONE (group, bin, segment)
    count aggregate + the groups-sized ``_psi_bins`` reduce — the fact
    table is read once; adding a group multiplies nothing. Output per
    (group, bin): n_ref, n_cur, p_ref 6dp, p_cur 6dp, contrib 6dp, psi
    6dp (the group total repeated per row, q223 convention; a group
    with an empty segment, e.g. a brand-new domain with no baseline
    rows, floors that segment at ``floor`` in every bin).
    """
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    bin_ = F.least(
        F.lit(n_bins - 1),
        F.floor(F.col(score_col) * n_bins).cast("int"),
    )
    counted = (
        df.filter(F.col(score_col).isNotNull())
        .groupBy(
            F.col(group_col).alias("grp"),
            bin_.alias("bin"),
        )
        .agg(
            F.sum(F.when(F.col(baseline_col), 1).otherwise(0))
            .cast("long")
            .alias("n_ref"),
            F.sum(F.when(F.col(baseline_col), 0).otherwise(1))
            .cast("long")
            .alias("n_cur"),
        )
    )
    return _psi_bins(counted, ["grp"], floor).withColumnRenamed("grp", group_col)


def mauve_frontier(
    p_df: DataFrame,
    q_df: DataFrame,
    label_col: str = "label",
    n_lambdas: int = 19,
) -> DataFrame:
    """MAUVE-style divergence frontier between two corpora over a
    SHARED quantization (Pillutla, Swayamdipta, Zellers, Thickstun,
    Welleck, Choi & Harchaoui, NeurIPS 2021 outstanding paper — the
    open-ended-generation metric: embed both corpora, quantize into
    cells, then trace how the two cell HISTOGRAMS trade off false
    positives against false negatives): for each mixture weight
    λ ∈ {1/(k+1) … k/(k+1)}, R_λ = λP + (1−λ)Q,
    c(λ) = KL(Q ‖ R_λ) and d(λ) = KL(P ‖ R_λ); the frontier point is
    (x, y) = (e^{−c}, e^{−d}) and the summary is the trapezoid area
    under the frontier sorted by x — 1.0 iff the histograms coincide
    (paper's scaling constant fixed at 1, a documented
    simplification; the paper's k-means quantization step is supplied
    BY THE CALLER as ``label_col``, e.g. the fitted cluster labels the
    engine's kmeans/IVF operators already produce).

    Divergence-mass accounting: KL(P‖R_λ) sums only over cells with
    P > 0, where R_λ ≥ λP > 0 — finite without smoothing for
    λ ∈ (0,1), which is why the λ grid is OPEN (no 0/1 endpoints).

    Exactness: cell counts exact LONG (ONE label-keyed ``_side_counts``
    aggregate over both sides — the only corpus-sized work);
    probabilities are single IEEE divisions; per-cell KL terms ln at
    9dp ride DECIMAL(25,9) sums over the labels-sized frame; x/y/area
    6dp. The trapezoid fold runs over an n_lambdas-sized frame (window
    over literals — never corpus data).

    Output: one row per λ — (lam, kl_q_mix, kl_p_mix, x, y) with
    (frontier_auc, n_p, n_q, n_cells) repeated via 1-row broadcast; an
    empty side reports its 0 count with NULL KL, x, y and AUC.
    """
    if n_lambdas < 3:
        raise ValueError("n_lambdas must be >= 3")

    def cells_of(df: DataFrame) -> DataFrame:
        return df.select(F.col(label_col).alias("cell"))

    cells = _side_counts(cells_of(p_df), cells_of(q_df), "cell").select(
        "cell", F.col("_ca").alias("cp"), F.col("_cb").alias("cq")
    )
    tot = cells.agg(
        F.sum("cp").cast("long").alias("n_p"),
        F.sum("cq").cast("long").alias("n_q"),
        F.count("*").cast("long").alias("n_cells"),
    )
    lam_grid = F.explode(
        F.array(
            *[
                F.round(F.lit(i / (n_lambdas + 1.0)), 9)
                for i in range(1, n_lambdas + 1)
            ]
        )
    ).alias("lam")
    graded = cells.crossJoin(F.broadcast(tot)).select(
        "cell", "cp", "cq", "n_p", "n_q", "n_cells", lam_grid
    )
    p = F.try_divide(F.col("cp"), F.col("n_p"))
    q = F.try_divide(F.col("cq"), F.col("n_q"))
    r = F.col("lam") * p + (1 - F.col("lam")) * q
    dec = "decimal(25,9)"
    klq_term = F.when(
        F.col("cq") > 0, F.round(q * F.log(q / r), 9).cast(dec)
    )
    klp_term = F.when(
        F.col("cp") > 0, F.round(p * F.log(p / r), 9).cast(dec)
    )
    per_lam = graded.groupBy("lam").agg(
        F.sum(klq_term).alias("_klq"),
        F.sum(klp_term).alias("_klp"),
        F.first("n_p").alias("n_p"),
        F.first("n_q").alias("n_q"),
        F.first("n_cells").alias("n_cells"),
    ).select(
        "lam",
        "n_p",
        "n_q",
        "n_cells",
        F.col("_klq").cast("double").alias("_kq"),
        F.col("_klp").cast("double").alias("_kp"),
        F.round(F.exp(-F.col("_klq").cast("double")), 9).alias("_x"),
        F.round(F.exp(-F.col("_klp").cast("double")), 9).alias("_y"),
    )
    w = Window.orderBy("_x", "lam").rowsBetween(-1, -1)
    with_prev = per_lam.select(
        "*",
        F.max("_x").over(w).alias("_xp"),
        F.max("_y").over(w).alias("_yp"),
    )
    trap = F.when(
        F.col("_xp").isNotNull(),
        F.round(
            (F.col("_x") - F.col("_xp"))
            * (F.col("_y") + F.col("_yp"))
            / 2,
            9,
        ).cast("decimal(25,9)"),
    )
    auc = with_prev.agg(
        F.round(F.sum(trap).cast("double"), 6).alias("frontier_auc")
    )
    return (
        per_lam.crossJoin(F.broadcast(auc))
        .select(
            "lam",
            F.round("_kq", 6).alias("kl_q_mix"),
            F.round("_kp", 6).alias("kl_p_mix"),
            F.round("_x", 6).alias("x"),
            F.round("_y", 6).alias("y"),
            "frontier_auc",
            "n_p",
            "n_q",
            "n_cells",
        )
        .orderBy("lam")
    )
