"""Catalog queries q363–q374, each registered where it is defined.

q363–q366 are the VERDICT r10 item-3 candidates; q367+ extend the
experimentation family. Same template as the r9/r10 additions:
operator + randomized/hand-case pytest (tests/test_round11.py) +
oracle pre-verified at sf0.001 and sf0.01
(tests/test_oracle.py), and the
driver-canon contract of SURVEY.md §5.3 (scalar outputs only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import register
from ..operators.aggregate import stable_avg_sql
from ..sources import read_table


# --- q363: MinHash band/row auto-tuner -----------------------------------------


def q363_minhash_autotune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band/row auto-tuner (llm/dedup.minhash_tune) over the exact
    pair-Jaccard distribution of the documents shingle graph — the
    harness that turns q357's pair-quality audit from a report into a
    knob: for each factorization of the 16-hash budget, the predicted
    recall/waste at threshold 0.5."""
    from ..llm.dedup import minhash_tune, ngram_jaccard_pairs

    docs = read_table(spark, sf_dir, "documents")
    sims = ngram_jaccard_pairs(docs, threshold=0.0)
    return minhash_tune(sims, "jaccard", n_hashes=16, target=0.5).orderBy(
        "pick_rank"
    )


def _q363_oracle() -> str:
    from .llm import _JACCARD_SQL, _SHINGLES_SQL

    avg_pos = stable_avg_sql("CASE WHEN s >= 0.5 THEN p END", scale=9)
    avg_neg = stable_avg_sql("CASE WHEN s < 0.5 THEN p END", scale=9)
    return f"""
    WITH sh AS ({_SHINGLES_SQL}),
    shx AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM shx a JOIN shx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    sims AS (
      SELECT CAST({_JACCARD_SQL} AS DOUBLE) AS s
      FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
                  JOIN sh sb ON sb.doc_id = c.doc_b
    ),
    cfg AS (SELECT * FROM (VALUES (1, 16), (2, 8), (4, 4), (8, 2), (16, 1))
            t(b, r)),
    scored AS (
      SELECT b, r, s,
             round(1.0 - pow(1.0 - pow(s, r), b), 9) AS p
      FROM sims CROSS JOIN cfg
    ),
    agg AS (
      SELECT b, r,
             round({avg_pos}, 6) AS exp_recall,
             round({avg_neg}, 6) AS exp_waste,
             COUNT(CASE WHEN s >= 0.5 THEN 1 END) AS n_pos,
             COUNT(CASE WHEN s < 0.5 THEN 1 END) AS n_neg
      FROM scored GROUP BY b, r
    )
    SELECT CAST(b AS INTEGER) AS b, CAST(r AS INTEGER) AS r,
           round(pow(1.0 / b, 1.0 / r), 6) AS s_star,
           exp_recall, exp_waste, n_pos, n_neg,
           CAST(row_number() OVER (
             ORDER BY abs(round(pow(1.0 / b, 1.0 / r), 9) - 0.5) ASC,
                      b DESC) AS INTEGER) AS pick_rank
    FROM agg ORDER BY pick_rank
    """


_Q363_NOTES = (
    "MINHASH BAND/ROW AUTO-TUNER (llm/dedup.minhash_tune — VERDICT r10 "
    "candidate 1, pairs with q357's pair_quality: the audit measures "
    "banding recall empirically, the tuner predicts it analytically "
    "from the S-curve P(cand|s)=1-(1-s^r)^b [Leskovec-Rajaraman-Ullman "
    "MMDS ch.3] and inverts it for a target threshold via "
    "s*=(1/b)^(1/r)): evaluated against the OBSERVED exact-Jaccard "
    "pair distribution (audit-scale by contract — the tuner itself "
    "consumes one similarity column via a literal config explode + one "
    "map-combined groupBy, never a join, never documents; its ranking "
    "window runs over the <= d(16)=5 config rows). Probabilities "
    "9dp-rounded before the decimal-stabilized mean (the libm pow "
    "rule); pick_rank 1 lands on (b=8, r=2) = the shipped "
    "NUM_BANDS/BAND_ROWS defaults, which is the point"
)

register("q363_minhash_autotune", _q363_oracle(), _Q363_NOTES)(q363_minhash_autotune)


# --- q364: incremental (merge-only) t-digest ------------------------------------


def q364_tdigest_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-only t-digest maintenance (operators/sketch.tdigest_merge
    — VERDICT r10 candidate 2): per-generation digests over the events
    table (even/odd event_id halves standing in for daily batches) are
    UNIONED AS CENTROID ROWS and merged without re-touching data; the
    readout is per-event-type p50/p95/p99."""
    from ..operators.sketch import tdigest_build, tdigest_merge, tdigest_quantiles

    ev = read_table(spark, sf_dir, "events")
    gen1 = tdigest_build(
        ev.filter(F.col("event_id") % 2 == 0), "value", ["event_type"]
    )
    gen2 = tdigest_build(
        ev.filter(F.col("event_id") % 2 == 1), "value", ["event_type"]
    )
    merged = tdigest_merge(gen1.unionByName(gen2), ["event_type"])
    return (
        tdigest_quantiles(merged, ["event_type"], [0.5, 0.95, 0.99])
        .select(
            "event_type",
            "p",
            F.round("est", 6).alias("est"),
            F.col("n").cast("long").alias("n"),
        )
        .orderBy("event_type", "p")
    )


_Q364_NOTES = (
    "INCREMENTAL T-DIGEST over micro-batches (operators/sketch."
    "tdigest_merge — the merge-only maintenance half of q342's sketch; "
    "Dunning & Ertl: digests form a commutative monoid under merge, so "
    "per-batch digests union as centroid ROWS and merge without "
    "re-touching data — streaming quantiles under the q353 watermark "
    "discipline, state = centroids per group): engine splits events "
    "into two generations, builds a digest per generation, merges. "
    "ROWS-ONLY (quantile estimates are sketch output, the q342/HLL "
    "precedent); pytests pin merged-readout rank error vs exact on "
    "randomized data, bit-determinism under repartitioning, exact "
    "weight conservation, and merge-vs-monolithic agreement"
)

register("q364_tdigest_incremental", None, _Q364_NOTES)(q364_tdigest_incremental)


# --- q365: delta-mode connected components --------------------------------------


def q365_components_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CC (llm/cluster.connected_components_delta — VERDICT
    r10 candidate 3): q359's chain graph split into a frozen prior
    labeling (edges except the u %% 11 == 3 holdouts) and a delta batch
    (the holdouts, each re-welding two prior components); the merged
    labeling must equal q359's full recompute — same closed-form
    oracle."""
    from pyspark.sql import Window

    from ..llm.cluster import (
        connected_components_contracting,
        connected_components_delta,
    )

    ids = (
        read_table(spark, sf_dir, "events")
        .select(F.col("user_id").alias("u"))
        .distinct()
    )
    w = Window.orderBy("u")
    edges = (
        ids.withColumn("_next", F.lead("u").over(w))
        .filter(
            F.col("_next").isNotNull()
            & (F.col("_next") == F.col("u") + 1)
            & (F.col("_next") % 37 != 0)
        )
        .select(F.col("u").alias("doc_a"), F.col("_next").alias("doc_b"))
    )
    delta = edges.filter(F.col("doc_a") % 11 == 3)
    base = edges.filter(F.col("doc_a") % 11 != 3)
    prior_cc = connected_components_contracting(base, max_iter=12)
    prior = ids.join(prior_cc, ids["u"] == prior_cc["id"], "left").select(
        F.col("u").alias("id"),
        F.coalesce("cluster_id", F.col("u")).alias("cluster_id"),
    )
    merged = connected_components_delta(prior, delta, max_iter=12)
    return merged.select(
        F.col("id").alias("user_id"), F.col("cluster_id").alias("component")
    ).orderBy("user_id")


_Q365_ORACLE = """
    WITH ids AS (SELECT DISTINCT user_id AS u FROM events),
    marked AS (
      SELECT u,
             CASE WHEN u % 37 = 0
                    OR lag(u) OVER (ORDER BY u) IS NULL
                    OR lag(u) OVER (ORDER BY u) <> u - 1
                  THEN u END AS seg_start
      FROM ids
    )
    SELECT u AS user_id,
           MAX(seg_start) OVER (ORDER BY u
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS component
    FROM marked ORDER BY u
"""

_Q365_NOTES = (
    "DELTA-MODE CONNECTED COMPONENTS (llm/cluster."
    "connected_components_delta — VERDICT r10 candidate 3, the "
    "incremental twin of q359 for daily corpus appends: new edges "
    "merge into a FROZEN min-id labeling without re-clustering the "
    "corpus): endpoints project to prior labels (one left equi-join "
    "per side), star contraction runs on the DELTA-SIZED label graph, "
    "one map-back join relabels — work scales with the append, never "
    "the corpus. Exactness: with min-id labels, label-level merging "
    "is lossless, so the result EQUALS the full recompute — the "
    "anchor replays q359's chain graph with the u%11==3 edges held "
    "out as the delta batch (each holdout re-welds two prior "
    "components) and shares q359's closed-form segment oracle; a "
    "randomized pytest pins delta == full on arbitrary graph splits "
    "incl. never-seen nodes"
)

register("q365_components_delta", _Q365_ORACLE, _Q365_NOTES)(q365_components_delta)


# --- q366: PQ recall@k eval ------------------------------------------------------


def q366_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ serving-quality eval (llm/similarity.pq_recall_at_k — VERDICT
    r10 candidate 4): recall@10 of ADC retrieval over q354's m=4/k=16
    codebooks against exact squared-L2 top-10, for the 5 probe
    queries of the q43 contract."""
    from ..llm.similarity import pq_recall_at_k, pq_train

    emb = read_table(spark, sf_dir, "embeddings")
    books = pq_train(emb, m=4, k=16)
    return pq_recall_at_k(
        emb.filter(F.col("vec_id") < 5), emb, books, k=10
    ).orderBy("query_id")


_Q366_NOTES = (
    "PQ RECALL@K EVAL (llm/similarity.pq_adc_topk + pq_recall_at_k — "
    "VERDICT r10 candidate 4, closes the PQ loop the way q362's RBO "
    "closed int8's: q354 proved the codes reconstruct, this measures "
    "what the m-byte index RETRIEVES): per query an m x kc ADC lookup "
    "table (Jegou-Douze-Schmid 2011 SIV) ships in the closure with "
    "the codebooks; the codes table streams through ONE map-only "
    "Arrow pass — the float corpus is never joined on the ADC arm; "
    "the exact arm is the q43 bounded-probe broadcast contract on the "
    "SAME metric (squared L2, what ADC approximates — not cosine); "
    "recall = one (query,cand) equi-join + count. ROWS-ONLY (KMeans "
    "codebooks have no SQL twin); pytests pin the identity ceiling "
    "(ADC over exact-reconstruction codebooks = recall 1), "
    "determinism under repartitioning, and the [0,1] range with "
    "n_hit <= k"
)

register("q366_pq_recall", None, _Q366_NOTES)(q366_pq_recall)


# --- q367: CUPED variance-reduced A/B readout -----------------------------------


def q367_cuped_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED readout (operators/mlmetrics.cuped_lift) over a synthetic
    experiment on events: per-user pre-period covariate (sum of value
    on even event_ids) vs experiment metric (odd event_ids), md5-rule
    arm assignment — the variance-reduction companion of q308's
    z-test."""
    from ..functions.portable_hash import u32_md5
    from ..operators.aggregate import stable_sum
    from ..operators.mlmetrics import cuped_lift

    ev = read_table(spark, sf_dir, "events")
    units = (
        ev.groupBy("user_id")
        .agg(
            stable_sum(
                F.when(F.col("event_id") % 2 == 0, F.col("value")), 2
            ).alias("pre"),
            stable_sum(
                F.when(F.col("event_id") % 2 == 1, F.col("value")), 2
            ).alias("post"),
        )
        .select(
            "user_id",
            F.coalesce("pre", F.lit(0.0)).alias("pre"),
            F.coalesce("post", F.lit(0.0)).alias("post"),
            F.when(u32_md5(F.col("user_id"), "cuped") % 2 == 0, "A")
            .otherwise("B")
            .alias("variant"),
        )
    )
    return cuped_lift(units, "variant", "post", "pre").orderBy("variant")


def _q367_oracle() -> str:
    from ..functions.portable_hash import u32_md5_sql
    from ..operators.aggregate import stable_avg_sql, stable_sum_sql

    arm = u32_md5_sql("user_id", "cuped")
    mean_y = stable_avg_sql("_y", 6)
    mean_adj = stable_avg_sql("_adj", 9)
    var_y = f"{stable_avg_sql('round(_y * _y, 6)', 6)} - ({mean_y}) * ({mean_y})"
    var_adj = (
        f"{stable_avg_sql('round(_adj * _adj, 6)', 6)} "
        f"- ({mean_adj}) * ({mean_adj})"
    )
    return f"""
    WITH units AS (
      SELECT user_id,
             COALESCE({stable_sum_sql(
                 "CASE WHEN event_id % 2 = 0 THEN value END", 2)}, 0.0) AS _x,
             COALESCE({stable_sum_sql(
                 "CASE WHEN event_id % 2 = 1 THEN value END", 2)}, 0.0) AS _y,
             CASE WHEN {arm} % 2 = 0 THEN 'A' ELSE 'B' END AS variant
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT ({stable_sum_sql("round(_x * _y, 6)", 6)}
                - {stable_sum_sql("_x", 6)} * {stable_sum_sql("_y", 6)}
                  / CAST(COUNT(*) AS DOUBLE))
             / nullif({stable_sum_sql("round(_x * _x, 6)", 6)}
                - {stable_sum_sql("_x", 6)} * {stable_sum_sql("_x", 6)}
                  / CAST(COUNT(*) AS DOUBLE), 0.0) AS _theta,
             {stable_sum_sql("_x", 6)} / CAST(COUNT(*) AS DOUBLE) AS _mx
      FROM units
    ),
    adj AS (
      SELECT u.variant, u._y,
             round(u._y - COALESCE(g._theta, 0.0) * (u._x - g._mx), 9) AS _adj,
             g._theta
      FROM units u CROSS JOIN g
    )
    SELECT variant,
           COUNT(*) AS n_units,
           round({mean_y}, 9) AS mean_raw,
           round({mean_adj}, 9) AS mean_cuped,
           round({var_y}, 9) AS var_raw,
           round({var_adj}, 9) AS var_cuped,
           round(1.0 - ({var_adj}) / nullif({var_y}, 0.0), 9)
             AS var_reduction,
           round(any_value(_theta), 9) AS theta
    FROM adj GROUP BY variant ORDER BY variant
    """


_Q367_NOTES = (
    "CUPED VARIANCE-REDUCED A/B READOUT (operators/mlmetrics.cuped_lift "
    "— Deng-Xu-Kohavi-Walker WSDM 2013, the standard large-scale "
    "experimentation sensitivity lever next to q308's z-test and "
    "q330's permutation test): Y' = Y - theta(X - mean X), theta = "
    "cov(X,Y)/var(X) pooled across arms (pre-period covariate is "
    "assignment-independent, so the lift stays unbiased while its "
    "variance drops by corr^2). Plan: ONE map-combined no-grouping agg "
    "for theta/meanX, a 1-row broadcast recombination (the structural "
    "gate's scalar-crossJoin exemption), ONE groupBy(arm) agg — two "
    "exchanges at any unit count. Exactness: all sums decimal-"
    "stabilized with 6dp-rounded products, theta/means/variances pure "
    "IEEE arithmetic on those exact sums — hash-identical in DuckDB; "
    "variance-reduction law (var_cuped <= var_raw, reduction ~ corr^2 "
    "on correlated synthetic data) pytest-pinned"
)

register("q367_cuped_lift", _q367_oracle(), _Q367_NOTES)(q367_cuped_lift)


# --- q368: Holt linear (double-exponential) smoothing ----------------------------


def q368_holt_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Holt level+trend smoothing of event values
    (operators/timeseries.holt_smooth — the trend-aware sibling of
    q118's EWMA), 6dp at the catalog boundary."""
    from ..operators.timeseries import holt_smooth

    events = read_table(spark, sf_dir, "events")
    out = holt_smooth(
        events, "ts", ["user_id"], "value", alpha=0.3, beta=0.2,
        tiebreak=["event_id"],
    )
    return out.select(
        "user_id",
        "ts",
        "value",
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
        F.round("forecast", 6).alias("forecast"),
    )


_Q368_ORACLE = """
    WITH RECURSIVE s AS (
      SELECT user_id, ts, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
      FROM events
    ),
    r AS (
      SELECT user_id, ts, value, rn,
             CAST(value AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS b,
             CAST(value AS DOUBLE) AS l_prev
      FROM s WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.ts, s.value, s.rn,
             0.3 * s.value + (1.0 - 0.3) * (r.l + r.b),
             0.2 * ((0.3 * s.value + (1.0 - 0.3) * (r.l + r.b)) - r.l)
               + (1.0 - 0.2) * r.b,
             r.l
      FROM r JOIN s ON s.user_id = r.user_id AND s.rn = r.rn + 1
    )
    SELECT user_id, ts, value,
           round(l, 6) AS level, round(b, 6) AS trend,
           round(l + b, 6) AS forecast
    FROM r
"""

_Q368_NOTES = (
    "HOLT LINEAR (double-exponential) SMOOTHING per key (operators/"
    "timeseries.holt_smooth — Holt 1957; the trend-aware upgrade of "
    "q118's EWMA, whose level-only recursion lags a trending series by "
    "a constant offset): l = a*y + (1-a)(l'+b'), b = B(l-l') + (1-B)b', "
    "init l1=y1, b1=0, plus the one-step forecast l+b the anomaly "
    "family compares against. Grouped-map applyInPandas (sequential "
    "within key, keys parallelize — the EWMA/CUSUM contract); the "
    "recurrence is plain ordered float arithmetic, so the recursive-"
    "CTE oracle replays it bit-for-bit stepping level/trend/l_prev "
    "state one row per iteration (the q118 conversion precedent), 6dp "
    "on both legs; trend-tracking law (on a pure ramp the forecast "
    "converges to the next point while EWMA lags) pytest-pinned"
)

register("q368_holt_smoothing", _Q368_ORACLE, _Q368_NOTES)(q368_holt_smoothing)


# --- q369: multi-touch (linear) attribution ---------------------------------------


def q369_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch LINEAR attribution — the fractional-credit
    complement of q349's last-touch: each purchase splits its value
    EQUALLY across every click/view in the 7-day lookback (winner-
    take-all last-touch over-credits the final retargeting click; the
    linear model is the standard first alternative). Purchases with no
    touch credit 'direct' in full."""
    from pyspark.sql import Window

    from ..operators.aggregate import dec

    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", "ts", "value"
    )
    touches = ev.filter(F.col("event_type").isin(["click", "view"])).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("channel"),
    )
    joined = purchases.join(
        touches,
        (F.col("t_user") == F.col("user_id"))
        & (F.col("t_ts") <= F.col("ts"))
        & (F.col("t_ts") >= F.col("ts") - F.expr("INTERVAL 7 DAYS")),
        "left",
    )
    w = Window.partitionBy("pid")
    credited = joined.select(
        F.coalesce("channel", F.lit("direct")).alias("channel"),
        F.round(
            F.col("value") / F.count("*").over(w).cast("double"), 6
        ).alias("credit"),
    )
    return (
        credited.groupBy("channel")
        .agg(
            F.count("*").cast("long").alias("n_credits"),
            F.sum(dec("credit", 6)).cast("double").alias("revenue"),
        )
        .orderBy("channel")
    )


_Q369_ORACLE = """
    WITH p AS (
      SELECT event_id AS pid, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    ),
    t AS (
      SELECT user_id AS t_user, ts AS t_ts, event_type AS channel
      FROM events WHERE event_type IN ('click', 'view')
    ),
    joined AS (
      SELECT p.pid, p.value, t.channel
      FROM p LEFT JOIN t ON t.t_user = p.user_id
        AND t.t_ts <= p.ts
        AND t.t_ts >= p.ts - INTERVAL 7 DAY
    ),
    credited AS (
      SELECT COALESCE(channel, 'direct') AS channel,
             round(value / CAST(COUNT(*) OVER (PARTITION BY pid) AS DOUBLE),
                   6) AS credit
      FROM joined
    )
    SELECT channel, COUNT(*) AS n_credits,
           CAST(SUM(CAST(credit AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM credited GROUP BY channel ORDER BY channel
"""

_Q369_NOTES = (
    "MULTI-TOUCH LINEAR ATTRIBUTION (the fractional-credit complement "
    "of q349's last-touch asof — winner-take-all over-credits the "
    "final retargeting click; linear is the standard first multi-touch "
    "model): ONE user-keyed equi-join with the 7-day lookback as a "
    "residual range predicate (hash join, never NLJ — fanout bounded "
    "by per-user touch activity inside the window), one purchase-keyed "
    "count window for the equal split, one channel agg. Credit = "
    "value/n is a pure IEEE division of exact inputs, 6dp-rounded "
    "before the decimal-stabilized sum — hash-identical in DuckDB; "
    "credit conservation (sum of credits == sum of purchase values) "
    "pytest-pinned"
)

register("q369_linear_attribution", _Q369_ORACLE, _Q369_NOTES)(q369_linear_attribution)


# --- q370: difference-in-differences --------------------------------------------


def q370_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DiD readout (operators/mlmetrics.diff_in_diff) on a synthetic
    staged rollout over events: md5-rule geo split (treated/control),
    event_id-parity period (pre/post) — the non-randomized-assignment
    companion of q308 (z-test) and q367 (CUPED)."""
    from ..functions.portable_hash import u32_md5
    from ..operators.mlmetrics import diff_in_diff

    ev = read_table(spark, sf_dir, "events").select(
        F.when(u32_md5(F.col("user_id"), "did") % 2 == 0, "treated")
        .otherwise("control")
        .alias("grp"),
        F.when(F.col("event_id") % 2 == 1, "post")
        .otherwise("pre")
        .alias("period"),
        "value",
    )
    return diff_in_diff(ev, "grp", "period", "value", "treated", "post")


def _q370_oracle() -> str:
    from ..functions.portable_hash import u32_md5_sql

    arm = u32_md5_sql("user_id", "did")

    def cell(cond, name):
        return (
            f"CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT) "
            f"AS n_{name}, "
            f"round(CAST(SUM(CASE WHEN {cond} THEN "
            f"CAST(value AS DECIMAL(38,6)) END) AS DOUBLE) "
            f"/ nullif(CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) "
            f"AS DOUBLE), 0.0), 9) AS mean_{name}"
        )

    g = f"({arm}) % 2 = 0"
    p = "event_id % 2 = 1"
    return f"""
    WITH agg AS (
      SELECT
        {cell(f"({g}) AND NOT ({p})", "treat_pre")},
        {cell(f"({g}) AND ({p})", "treat_post")},
        {cell(f"NOT ({g}) AND NOT ({p})", "ctrl_pre")},
        {cell(f"NOT ({g}) AND ({p})", "ctrl_post")}
      FROM events
    )
    SELECT *,
           round(mean_treat_post - mean_treat_pre, 9) AS delta_treated,
           round(mean_ctrl_post - mean_ctrl_pre, 9) AS delta_control,
           round((mean_treat_post - mean_treat_pre)
                 - (mean_ctrl_post - mean_ctrl_pre), 9) AS did
    FROM agg
    """


_Q370_NOTES = (
    "DIFFERENCE-IN-DIFFERENCES (operators/mlmetrics.diff_in_diff — "
    "Card-Krueger 1994 canonical design; the readout for NON-randomized "
    "rollouts where q308/q367 don't apply: each group's pre-period "
    "differences out its level, the control's delta differences out the "
    "common time trend, identification = parallel trends, stated not "
    "hidden): ONE no-grouping aggregate of four conditional decimal-"
    "stabilized cells — no join, no window, one four-cell exchange at "
    "any scale; every mean/delta a single IEEE op on exact sums, "
    "9dp-rounded on both legs; hand-computed 2x2 pytest pins the "
    "interaction sign and the trend-cancellation law"
)

register("q370_diff_in_diff", _q370_oracle(), _Q370_NOTES)(q370_diff_in_diff)


# --- q371: winsorized (capped) metric readout -------------------------------------


def q371_winsorized_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped-metric A/B readout (operators/mlmetrics.winsorized_metrics)
    on event values with an md5-rule split: clip at the pooled p95,
    report raw vs capped means and the n_capped transparency count."""
    from ..functions.portable_hash import u32_md5
    from ..operators.mlmetrics import winsorized_metrics

    ev = read_table(spark, sf_dir, "events").select(
        F.when(u32_md5(F.col("user_id"), "cap") % 2 == 0, "A")
        .otherwise("B")
        .alias("variant"),
        "value",
    )
    return winsorized_metrics(ev, "variant", "value", cap_quantile=0.95).orderBy(
        "variant"
    )


def _q371_oracle() -> str:
    from ..functions.portable_hash import u32_md5_sql

    arm = u32_md5_sql("user_id", "cap")
    return f"""
    WITH src AS (
      SELECT CASE WHEN ({arm}) % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
             CAST(value AS DOUBLE) AS _y
      FROM events
    ),
    cap AS (SELECT round(quantile_cont(_y, 0.95), 6) AS _cap FROM src),
    w AS (
      SELECT variant, _y, least(_y, _cap) AS _yc, _cap
      FROM src CROSS JOIN cap
    )
    SELECT variant,
           COUNT(*) AS n_units,
           round(CAST(SUM(CAST(_y AS DECIMAL(38,6))) AS DOUBLE)
                 / COUNT(*), 9) AS mean_raw,
           round(CAST(SUM(CAST(_yc AS DECIMAL(38,6))) AS DOUBLE)
                 / COUNT(*), 9) AS mean_capped,
           CAST(SUM(CASE WHEN _y > _cap THEN 1 ELSE 0 END) AS BIGINT) AS n_capped,
           any_value(_cap) AS cap
    FROM w GROUP BY variant ORDER BY variant
    """


_Q371_NOTES = (
    "WINSORIZED (capped) METRIC READOUT (operators/mlmetrics."
    "winsorized_metrics — the heavy-tail defense every revenue "
    "experiment runs: one whale purchase moves a raw mean more than "
    "the treatment; values clip at the POOLED quantile so the "
    "treatment cannot shift its own yardstick, and n_capped is the "
    "transparency count): one exact pooled percentile agg (swap in "
    "percentile_approx at 100 TB — the documented q204 GK trade), "
    "1-row broadcast through the scalar crossJoin, one per-arm "
    "decimal-stabilized agg; Spark exact percentile and DuckDB "
    "quantile_cont share the linear-interpolation definition, "
    "6dp-rounded; cap-behavior pytest pins clipping, n_capped, and "
    "the pooled-not-per-arm law"
)

register("q371_winsorized_metrics", _q371_oracle(), _Q371_NOTES)(
    q371_winsorized_metrics
)


# --- q372: always-valid sequential test (mSPRT) ------------------------------------


def q372_msprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid mSPRT readout (operators/mlmetrics.msprt_always_valid)
    on an md5-rule null split of event values (no true effect, so the
    always-valid p should sit near 1 — the anti-peeking baseline)."""
    from ..functions.portable_hash import u32_md5
    from ..operators.mlmetrics import msprt_always_valid

    ev = read_table(spark, sf_dir, "events").select(
        F.when(u32_md5(F.col("user_id"), "seq") % 2 == 0, "treat")
        .otherwise("ctrl")
        .alias("variant"),
        "value",
    )
    return msprt_always_valid(ev, "variant", "value", "treat", tau2=1.0)


def _q372_oracle() -> str:
    from ..functions.portable_hash import u32_md5_sql

    arm = u32_md5_sql("user_id", "seq")
    g = f"({arm}) % 2 = 0"

    def cell(cond, name):
        return (
            f"CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS DOUBLE) "
            f"AS _n_{name}, "
            f"CAST(SUM(CASE WHEN {cond} THEN CAST(value AS DECIMAL(38,6)) "
            f"END) AS DOUBLE) AS _s_{name}, "
            f"CAST(SUM(CASE WHEN {cond} THEN CAST(round(value * value, 6) "
            f"AS DECIMAL(38,6)) END) AS DOUBLE) AS _ss_{name}"
        )

    return f"""
    WITH agg AS (
      SELECT {cell(g, "t")}, {cell(f"NOT ({g})", "c")}
      FROM events
    ),
    d AS (
      SELECT _n_t, _n_c,
             _s_t / _n_t AS mt, _s_c / _n_c AS mc,
             (_ss_t / _n_t - (_s_t / _n_t) * (_s_t / _n_t)) / _n_t
               + (_ss_c / _n_c - (_s_c / _n_c) * (_s_c / _n_c)) / _n_c AS v
      FROM agg
    ),
    l AS (
      SELECT *, round(0.5 * ln(v / (v + 1.0))
               + (mt - mc) * (mt - mc) * 1.0 / (2.0 * v * (v + 1.0)), 9)
               AS log_lambda
      FROM d
    )
    SELECT CAST(_n_t AS BIGINT) AS n_treat,
           CAST(_n_c AS BIGINT) AS n_ctrl,
           round(mt, 9) AS mean_treat,
           round(mc, 9) AS mean_ctrl,
           round(mt - mc, 9) AS delta,
           round(v, 9) AS v,
           log_lambda,
           round(least(1.0, exp(-log_lambda)), 9) AS p_always_valid
    FROM l
    """


_Q372_NOTES = (
    "ALWAYS-VALID SEQUENTIAL TEST (operators/mlmetrics."
    "msprt_always_valid — mixture SPRT, Johari-Koomen-Pekelis-Walsh "
    "KDD 2017: fixed-n p-values are invalid under peeking; the mixture "
    "likelihood ratio L = sqrt(V/(V+tau2))*exp(delta^2 tau2/(2V(V+"
    "tau2))) gives p = min(1, 1/L) valid at EVERY interim look — the "
    "number a live dashboard may legally show): ONE no-grouping "
    "conditional-cell aggregate (the q308/q370 shape), decimal-"
    "stabilized sums, transcendentals on engine-identical operands "
    "with 9dp-rounded outputs (the libm rule); null-vs-signal "
    "behavior and the anti-peeking law (p never crosses under the "
    "null as n grows along a prefix chain) pytest-pinned"
)

register("q372_msprt_sequential", _q372_oracle(), _Q372_NOTES)(q372_msprt_sequential)


# --- q373: sample-ratio-mismatch guardrail ------------------------------------------


def q373_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRM guardrail (operators/mlmetrics.srm_check) on a deliberately
    UNBALANCED split: arms drawn 3-way by md5 but declared 50/50 over
    two of them — the detector must flag it."""
    from ..functions.portable_hash import u32_md5
    from ..operators.mlmetrics import srm_check

    ev = read_table(spark, sf_dir, "events").select(
        F.when(u32_md5(F.col("user_id"), "srm") % 3 == 0, "A")
        .otherwise("B")
        .alias("variant")
    )
    return srm_check(ev, "variant", {"A": 1.0, "B": 1.0})


def _q373_oracle() -> str:
    from ..functions.portable_hash import u32_md5_sql

    arm = u32_md5_sql("user_id", "srm")
    return f"""
    WITH counts AS (
      SELECT CASE WHEN ({arm}) % 3 = 0 THEN 'A' ELSE 'B' END AS arm,
             COUNT(*) AS n
      FROM events GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS _tot FROM counts),
    with_e AS (
      SELECT arm, n,
             round(_tot * 0.5, 6) AS expected_n,
             round((n - _tot * 0.5) * (n - _tot * 0.5) / (_tot * 0.5), 9)
               AS term
      FROM counts CROSS JOIN tot
    ),
    chi AS (
      SELECT round(CAST(SUM(CAST(term AS DECIMAL(25,9))) AS DOUBLE), 6)
               AS chi2
      FROM with_e
    )
    SELECT arm, n, expected_n, term, chi2,
           CAST(1 AS BIGINT) AS dof,
           chi2 > 3.841459 AS srm
    FROM with_e CROSS JOIN chi
    ORDER BY arm
    """


_Q373_NOTES = (
    "SAMPLE-RATIO-MISMATCH GUARDRAIL (operators/mlmetrics.srm_check — "
    "Fabijan et al. KDD 2019: the first check every experimentation "
    "platform runs; realized arm counts inconsistent with the designed "
    "split mean assignment is broken and every metric readout is "
    "garbage): chi-square GOF of arm counts vs declared ratios, "
    "flagged against the published 0.05 critical value for arms-1 dof. "
    "One groupBy(arm) count (arms are metadata-sized by definition) + "
    "literal ratios + two 1-row broadcast recombinations — no second "
    "data pass; the anchor declares 50/50 over a deliberate 1/3-2/3 "
    "split so the flag fires TRUE at every fixture scale; balanced-"
    "split-stays-quiet law pytest-pinned"
)

register("q373_srm_check", _q373_oracle(), _Q373_NOTES)(q373_srm_check)


# --- q374: corpus-level boilerplate removal -----------------------------------------


def q374_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate removal (llm/dedup.drop_boilerplate_segments)
    over deterministically constructed pipe-separated boilerplate:
    universal footer + 50%-coverage banner + 1/25-coverage promo on top
    of the unique per-doc body."""
    from ..llm.dedup import drop_boilerplate_segments

    docs = read_table(spark, sf_dir, "documents")
    built = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" | all rights reserved footer"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit(" | subscribe to our newsletter"),
            ).otherwise(F.lit("")),
            F.lit(" | promo block "),
            (F.col("doc_id") % 25).cast("string"),
        ).alias("text"),
    )
    return drop_boilerplate_segments(built, min_docs=10).orderBy("doc_id")


_Q374_ORACLE = """
    WITH built AS (
      SELECT doc_id,
             text || ' | all rights reserved footer'
                  || CASE WHEN doc_id % 2 = 0
                          THEN ' | subscribe to our newsletter' ELSE '' END
                  || ' | promo block ' || CAST(doc_id % 25 AS VARCHAR) AS t
      FROM documents
    ),
    segs AS (
      SELECT doc_id, u.i AS pos, l[u.i] AS seg,
             md5(trim(lower(l[u.i]))) AS h
      FROM (SELECT doc_id, string_split(t, ' | ') AS l FROM built),
           UNNEST(generate_series(1, len(l))) AS u(i)
    ),
    boiler AS (
      SELECT h FROM segs GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 10
    ),
    kept AS (
      SELECT s.* FROM segs s WHERE s.h NOT IN (SELECT h FROM boiler)
    ),
    reassembled AS (
      SELECT doc_id,
             string_agg(seg, ' | ' ORDER BY pos) AS clean_text,
             COUNT(*) AS n_kept
      FROM kept GROUP BY doc_id
    ),
    removed AS (
      SELECT doc_id, COUNT(*) AS n_removed
      FROM segs WHERE h IN (SELECT h FROM boiler)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(r.clean_text, '') AS clean_text,
           COALESCE(r.n_kept, 0) AS n_kept,
           COALESCE(x.n_removed, 0) AS n_removed
    FROM documents d
    LEFT JOIN reassembled r ON r.doc_id = d.doc_id
    LEFT JOIN removed x ON x.doc_id = d.doc_id
    ORDER BY d.doc_id
"""

_Q374_NOTES = (
    "CORPUS-LEVEL BOILERPLATE REMOVAL (llm/dedup."
    "drop_boilerplate_segments — the CCNet/RefinedWeb paragraph-dedup "
    "cleaning step: nav bars, cookie banners and copyright footers "
    "repeat VERBATIM ACROSS a site's pages, a cross-document frequency "
    "signal no within-document filter sees; the missing third member "
    "of the cleaning stack next to q209's within-doc span dedup and "
    "q275's compression rule): posexplode segments, ONE map-combined "
    "distinct-doc-count per normalized segment hash, the boilerplate "
    "set (tiny by construction: entry requires min_docs distinct docs) "
    "broadcasts back as a LEFT ANTI join, reassembly is one doc-keyed "
    "sort_array agg — at 100 TB swap exact countDistinct for "
    "approx_count_distinct and persist the set per crawl snapshot. "
    "Anchor constructs pipe-separated boilerplate deterministically "
    "(universal footer, 50%-coverage banner, 1/25-coverage promo that "
    "crosses the min_docs=10 threshold between sf0.001 and sf0.01 — "
    "the threshold is exercised in BOTH directions across driver "
    "scales); fixture-construction discipline of the audio/image "
    "anchors. Threshold/order/empty-doc laws pytest-pinned"
)

register("q374_boilerplate_removal", _Q374_ORACLE, _Q374_NOTES)(
    q374_boilerplate_removal
)
