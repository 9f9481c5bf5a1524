"""Evaluation queries: classification, calibration and ranking metrics,
experiment analysis (A/B tests, CUPED, sequential tests, FDR), the
nonparametric k-sample and paired tests, and generation-eval metrics
(token F1, BLEU, ROUGE, chrF, WER).

Placement rule row 2: a query lands here when it references
``operators.mlmetrics`` or ``llm.texteval`` and no streaming module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import register
from ..functions.text import tokens
from ..sources import read_table
from ._sql import (
    _DENS,
    _FEATS_SQL,
    _T,
    _bucket_sql,
    _f1_frac_sql,
    _hash_mod,
    _hash_mod_sql,
    _multi_sql,
    _multi_sys_scores,
    _sl_sql,
)


def q218_grouped_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mlmetrics import auc_by_group

    ev = read_table(spark, sf_dir, "events")
    base = ev.select(
        (F.col("user_id") % 8).alias("cohort"),
        F.when(F.col("event_type").isin("purchase", "signup"), 1)
        .otherwise(0)
        .alias("label"),
        F.col("value"),
    )
    return auc_by_group(base, ["cohort"], "label", "value").orderBy("cohort")


_Q218_ORACLE = """
    WITH base AS (
      SELECT user_id % 8 AS cohort,
             CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END AS y,
             value
      FROM events WHERE value IS NOT NULL
    ),
    ranked AS (
      SELECT cohort, y,
             RANK() OVER (PARTITION BY cohort ORDER BY value)
               + (COUNT(*) OVER (PARTITION BY cohort, value) - 1) / 2.0 AS ar
      FROM base
    ),
    agg AS (
      SELECT cohort,
             CAST(SUM(CASE WHEN y = 1 THEN CAST(ar AS DECIMAL(25,1)) END)
                  AS DOUBLE) AS rpos,
             CAST(COUNT(CASE WHEN y = 1 THEN 1 END) AS BIGINT) AS n_pos,
             CAST(COUNT(CASE WHEN y = 0 THEN 1 END) AS BIGINT) AS n_neg
      FROM ranked GROUP BY cohort
    )
    SELECT cohort, n_pos, n_neg,
           (rpos - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg) AS auc
    FROM agg WHERE n_pos > 0 AND n_neg > 0
    ORDER BY cohort
"""

_Q218_NOTES = (
    "exact grouped ROC-AUC (operators/mlmetrics.auc_by_group — "
    "distributed model evaluation as a data job): Mann-Whitney rank-sum "
    "identity with the textbook average-rank tie correction, computed "
    "in ONE window (rank + tie count share a single sort via a RANGE "
    "CURRENT ROW frame) and the grouped agg reuses its partitioning — "
    "ONE exchange total, plan-gated. Average ranks "
    "are multiples of 0.5 carried as DECIMAL(25,1), so the rank-sum is "
    "order-independent and the final AUC is one IEEE division of exact "
    "operands — engine-exact WITHOUT rounding. The sort-free 100 TB "
    "path (auc_by_group_binned, histogram concordance) is pinned to "
    "this exact result within 1/n_bins by tests/test_round7.py"
)


register("q218_grouped_auc", _Q218_ORACLE, _Q218_NOTES)(q218_grouped_auc)


def q227_calibration_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mlmetrics import calibration_report

    ev = read_table(spark, sf_dir, "events")
    scored = ev.filter(F.col("value").isNotNull()).select(
        F.when(F.col("event_type").isin("purchase", "signup"), 1)
        .otherwise(0)
        .alias("label"),
        # pseudo-probability through a logistic link; rounded to 9dp so
        # the libm exp's last-ulp spread collapses to one shared double
        F.round(
            F.lit(1.0)
            / (F.lit(1.0) + F.exp(-(F.col("value") - F.lit(50.0)) / F.lit(20.0))),
            9,
        ).alias("prob"),
    )
    return calibration_report(scored, "label", "prob", n_bins=10).orderBy("bin")


_Q227_ORACLE = """
    WITH scored AS (
      SELECT CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END
               AS y,
             round(1.0 / (1.0 + exp(-(value - 50.0) / 20.0)), 9) AS p
      FROM events WHERE value IS NOT NULL
    ),
    binned AS (
      SELECT LEAST(9, CAST(floor(p * 10) AS INTEGER)) AS bin, y,
             CAST(round(p, 9) AS DECIMAL(25,9)) AS p9,
             CAST(round((p - y) * (p - y), 9) AS DECIMAL(25,9)) AS se
      FROM scored
    ),
    per_bin AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(p9) AS DOUBLE) / COUNT(*) AS mean_prob,
             CAST(SUM(y) AS DOUBLE) / COUNT(*) AS frac_pos,
             SUM(se) AS se_sum
      FROM binned GROUP BY bin
    ),
    tot AS (
      SELECT CAST(SUM(se_sum) AS DOUBLE) / SUM(n) AS br FROM per_bin
    )
    SELECT bin, n, round(mean_prob, 6) AS mean_prob,
           round(frac_pos, 6) AS frac_pos,
           round(frac_pos - mean_prob, 6) AS gap,
           round(br, 6) AS brier
    FROM per_bin CROSS JOIN tot
    ORDER BY bin
"""

_Q227_NOTES = (
    "CALIBRATION reliability bins + BRIER score (operators/mlmetrics."
    "calibration_report — the post-training audit pairing q218's "
    "discrimination AUC with calibration): per probability-decile "
    "(n, mean_prob, frac_pos, gap) plus the overall Brier repeated per "
    "row. Probabilities go through a libm logistic, so the engine "
    "contract rounds them to 9dp FIRST (the q27/wkey rule), then every "
    "sum rides DECIMAL(25,9) — order-independent at any parallelism — "
    "and every ratio is one IEEE division of exact operands. One "
    "map-side bucket + one n_bins-row agg + a broadcast 1-row total"
)


register("q227_calibration_brier", _Q227_ORACLE, _Q227_NOTES)(q227_calibration_brier)


def q237_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mlmetrics import bootstrap_mean_ci

    ev = read_table(spark, sf_dir, "events")
    return bootstrap_mean_ci(
        ev, "value", "event_id", n_replicates=50, alpha=0.05
    )


def _q237_oracle() -> str:
    from ..operators.mlmetrics import _poisson1_thresholds

    th = _poisson1_thresholds()
    hex6 = (
        "CAST(list_sum(list_transform(generate_series(1, 6), i -> "
        "CAST((strpos('0123456789abcdef', substr(md5(concat("
        "CAST(event_id AS VARCHAR), ':', CAST(rep AS VARCHAR), ':boot'"
        ")), i, 1)) - 1) AS BIGINT) "
        "* CAST(power(16, 6 - i) AS BIGINT))) AS BIGINT)"
    )
    ladder = f"CAST({len(th)} AS BIGINT)"
    for k in reversed(range(len(th))):
        ladder = f"CASE WHEN u < {th[k]!r} THEN {k} ELSE {ladder} END"
    return f"""
    WITH base AS (
      SELECT event_id, value FROM events WHERE value IS NOT NULL
    ),
    rep AS (
      SELECT b.event_id, b.value, r.rep,
             ({hex6} + 0.5) / 16777216.0 AS u
      FROM base b CROSS JOIN generate_series(1, 50) r(rep)
    ),
    weighted AS (
      SELECT rep, CAST({ladder} AS BIGINT) AS w,
             CAST(value AS DECIMAL(25,2)) AS v
      FROM rep
    ),
    means AS (
      SELECT rep, CAST(SUM(v * w) AS DOUBLE) / SUM(w) AS m
      FROM weighted GROUP BY rep
    ),
    ranked AS (
      SELECT m, ROW_NUMBER() OVER (ORDER BY m, rep) AS rk FROM means
    ),
    ci AS (
      SELECT MAX(CASE WHEN rk = 2 THEN m END) AS ci_lo,
             MAX(CASE WHEN rk = 49 THEN m END) AS ci_hi
      FROM ranked
    ),
    point AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(25,2))) AS DOUBLE) / COUNT(*)
               AS point_mean
      FROM base
    )
    SELECT n, point_mean, ci_lo, ci_hi, CAST(50 AS BIGINT) AS n_replicates
    FROM point CROSS JOIN ci
"""


_Q237_NOTES = (
    "DISTRIBUTED BOOTSTRAP confidence interval (operators/mlmetrics."
    "bootstrap_mean_ci — percentile CI for the mean via the POISSON "
    "bootstrap, the single-pass resampling scheme that needs no global "
    "coordination: each row draws a Poisson(1) weight per replicate "
    "from an inverse-CDF ladder over the engine-wide md5 uniform, so "
    "both engines draw the SAME 50 resamples). Replicate means ride "
    "decimal-exact weighted sums (division is the only FP op), the CI "
    "is a rank-select over the 50-row metadata-sized mean set, and the "
    "x50 fan-out is a map-side explode of the projected value column — "
    "shuffle carries 50 groups. The CDF thresholds are Python-evaluated "
    "literals embedded in both plans (repr round-trips), so the weight "
    "draw is bit-identical"
)


register("q237_bootstrap_ci", _q237_oracle(), _Q237_NOTES)(q237_bootstrap_ci)


def q257_welch_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mlmetrics import welch_ttest

    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .withColumn(
            "variant",
            F.when(F.col("user_id") % 2 == 0, "a").otherwise("b"),
        )
    )
    return welch_ttest(
        ev, "event_type", "variant", "value", "a", "b"
    ).orderBy("event_type")


_Q257_ORACLE = """
    WITH tagged AS (
      SELECT event_type,
             CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS variant,
             value
      FROM events WHERE value IS NOT NULL
    ),
    per AS (
      SELECT event_type, variant, COUNT(*) AS n,
             SUM(CAST(round(value, 9) AS DECIMAL(38,9))) AS sx,
             SUM(CAST(round(round(value, 9) * round(value, 9), 9)
                 AS DECIMAL(38,9))) AS sxx
      FROM tagged GROUP BY 1, 2
    ),
    sides AS (
      SELECT a.event_type,
             a.n AS n_a, b.n AS n_b,
             CAST(a.sx AS DOUBLE) / a.n AS mean_a,
             CAST(b.sx AS DOUBLE) / b.n AS mean_b,
             (CAST(a.sxx AS DOUBLE) - CAST(a.sx AS DOUBLE)
              * CAST(a.sx AS DOUBLE) / a.n) / (a.n - 1) AS var_a,
             (CAST(b.sxx AS DOUBLE) - CAST(b.sx AS DOUBLE)
              * CAST(b.sx AS DOUBLE) / b.n) / (b.n - 1) AS var_b
      FROM (SELECT * FROM per WHERE variant = 'a') a
      JOIN (SELECT * FROM per WHERE variant = 'b') b USING (event_type)
    )
    SELECT event_type, n_a, n_b, mean_a, mean_b,
           (mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b) AS t_stat,
           (var_a / n_a + var_b / n_b) * (var_a / n_a + var_b / n_b)
             / ((var_a / n_a) * (var_a / n_a) / (n_a - 1)
                + (var_b / n_b) * (var_b / n_b) / (n_b - 1)) AS df_welch
    FROM sides ORDER BY event_type
"""

_Q257_NOTES = (
    "WELCH TWO-SAMPLE T-TEST per segment (operators/mlmetrics."
    "welch_ttest — the A/B experiment readout: unequal-variance t and "
    "Welch-Satterthwaite df per event_type between deterministic "
    "user-parity variants): ONE decimal-stabilized hash agg over "
    "(segment, variant) — map-side combined, metadata-sized — then a "
    "segments-sized self-join. t and df are raw IEEE doubles of the "
    "identical decimal moments, bit-matched by the oracle; the p-value "
    "lookup (t CDF) is a client-side table, the engine contract ends "
    "at (t, df)"
)


register("q257_welch_ab_test", _Q257_ORACLE, _Q257_NOTES)(q257_welch_ab_test)


def q264_spearman_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mlmetrics import spearman_by_group

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    return spearman_by_group(ev, "event_type", "user_id", "value").orderBy(
        "event_type"
    )


_Q264_ORACLE = """
    WITH base AS (
      SELECT event_type, user_id, value FROM events
      WHERE value IS NOT NULL
    ),
    ranked AS (
      SELECT event_type,
             CAST(rank() OVER (PARTITION BY event_type ORDER BY user_id)
                  AS DOUBLE)
               + (COUNT(*) OVER (PARTITION BY event_type, user_id) - 1)
                 / 2.0 AS rx,
             CAST(rank() OVER (PARTITION BY event_type ORDER BY value)
                  AS DOUBLE)
               + (COUNT(*) OVER (PARTITION BY event_type, value) - 1)
                 / 2.0 AS ry
      FROM base
    ),
    agg AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(CAST(rx AS DECIMAL(38,9))) AS sx,
             SUM(CAST(ry AS DECIMAL(38,9))) AS sy,
             SUM(CAST(round(rx * ry, 9) AS DECIMAL(38,9))) AS sxy,
             SUM(CAST(round(rx * rx, 9) AS DECIMAL(38,9))) AS sxx,
             SUM(CAST(round(ry * ry, 9) AS DECIMAL(38,9))) AS syy
      FROM ranked GROUP BY 1
    )
    SELECT event_type, n,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             + 0.0 AS rho
    FROM agg ORDER BY event_type
"""

_Q264_NOTES = (
    "SPEARMAN RANK CORRELATION per group with average-rank tie "
    "handling (operators/mlmetrics.spearman_by_group — the monotone-"
    "association companion to Pearson/regr_: rank() + per-value tie "
    "count windows sharing ONE group exchange, then decimal Pearson "
    "moments over the ranks). Ranks are exact halves and every "
    "downstream op is correctly-rounded IEEE, rho rounds at 6dp: the rank-product "
    "decimal sums exceed 2^53 at scale, where decimal->double casts "
    "are last-ulp engine-dependent (the q264/q266 lesson — raw-double "
    "bit portability holds only for sub-2^53 decimal pipelines)"
)


def q265_conformal_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mlmetrics import conformal_intervals

    ev = read_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    return conformal_intervals(
        ev, "event_type", "event_id", "value", alpha=0.9
    ).orderBy("event_id")


_Q265_ORACLE = """
    WITH tagged AS (
      SELECT event_type, event_id, value,
             CAST(list_sum(list_transform(generate_series(1, 6), i ->
               CAST((strpos('0123456789abcdef', substr(md5(concat(
                 CAST(event_id AS VARCHAR), ':conf')), i, 1)) - 1)
                 AS BIGINT)
               * CAST(power(16, 6 - i) AS BIGINT))) AS BIGINT) % 2 = 0
               AS fit
      FROM events WHERE value IS NOT NULL
    ),
    pred AS (
      SELECT event_type,
             CAST(SUM(CAST(round(value, 9) AS DECIMAL(38,9)))
                  AS DOUBLE) / COUNT(*) AS pred
      FROM tagged WHERE fit GROUP BY 1
    ),
    calib AS (
      SELECT t.event_type, t.event_id, t.value, p.pred
      FROM tagged t JOIN pred p USING (event_type)
      WHERE NOT t.fit
    ),
    radius AS (
      SELECT event_type, quantile_disc(abs(value - pred), 0.9) AS q
      FROM calib GROUP BY 1
    )
    SELECT c.event_id, c.event_type, c.value AS y, c.pred,
           c.pred - r.q AS lo, c.pred + r.q AS hi
    FROM calib c JOIN radius r USING (event_type)
    ORDER BY c.event_id
"""

_Q265_NOTES = (
    "SPLIT-CONFORMAL PREDICTION INTERVALS per segment (operators/"
    "mlmetrics.conformal_intervals — distribution-free coverage: the "
    "alpha-quantile of calibration |residuals| around a fit-half mean "
    "prediction gives finite-sample coverage >= alpha): deterministic "
    "md5 half-split, two metadata-sized per-segment aggs (decimal "
    "mean; DISCRETE quantile — an observed residual) broadcast back, "
    "everything else map-side. Bit-portable with zero rounding "
    "(md5 split + quantile_disc + correctly-rounded arithmetic); "
    "coverage law pinned in pytest"
)


def q267_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mlmetrics import isotonic_calibrate

    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .withColumn("lab", (F.col("value") > 40).cast("double"))
    )
    return isotonic_calibrate(ev, "event_type", "value", "lab").orderBy(
        "event_type", "value", "y"
    )


_Q267_ORACLE = """
    WITH base AS (
      SELECT event_type AS g, CAST(value AS DOUBLE) AS score,
             CAST(value > 40 AS DOUBLE) AS y
      FROM events WHERE value IS NOT NULL
    ),
    pos AS (
      SELECT g, score, y,
             row_number() OVER (PARTITION BY g ORDER BY score, y) AS i,
             sum(y) OVER (PARTITION BY g ORDER BY score, y
                          ROWS UNBOUNDED PRECEDING) AS s
      FROM base
    ),
    pairs AS (
      SELECT a.g, a.i AS j, b.i AS k,
             (b.s - a.s + a.y) / (b.i - a.i + 1) AS avg_jk
      FROM pos a JOIN pos b ON a.g = b.g AND b.i >= a.i
    ),
    m AS (
      SELECT g, j, k AS i,
             min(avg_jk) OVER (PARTITION BY g, j ORDER BY k DESC
                               ROWS UNBOUNDED PRECEDING) AS mn
      FROM pairs
    ),
    fit AS (SELECT g, i, max(mn) AS cal FROM m WHERE j <= i GROUP BY g, i)
    SELECT p.g AS event_type, p.score AS value, p.y AS y,
           round(f.cal, 9) AS calibrated
    FROM pos p JOIN fit f ON f.g = p.g AND f.i = p.i
    ORDER BY event_type, value, y
"""

_Q267_NOTES = (
    "ISOTONIC (PAV) CALIBRATION per group (operators/mlmetrics."
    "isotonic_calibrate — the non-parametric monotone calibration map, "
    "no bin-width choice, next to q227's fixed-bin report): pool-"
    "adjacent-violators is inherently sequential per group, so it runs "
    "in a grouped Arrow batch over numpy (keys parallelize, one key "
    "shuffle — the CUSUM contract). Converted from rows-only in round "
    "11 (VERDICT r10 item 4, fourth conversion): PAV's fit has the "
    "minimax closed form fitted[i] = max_{j<=i} min_{k>=i} avg(y_j..k) "
    "[Best & Chakravarti 1990], O(n^2)-pair-expressible in SQL at "
    "oracle scale; with 0/1 labels every pool mean is an exact "
    "small-int / small-int division, so both engines produce "
    "bit-identical doubles (9dp-rounded on both legs as belt). "
    "Monotonicity / mean-preservation / block-mean laws stay "
    "pytest-pinned"
)


register("q264_spearman_correlation", _Q264_ORACLE, _Q264_NOTES)(
    q264_spearman_correlation
)
register("q265_conformal_intervals", _Q265_ORACLE, _Q265_NOTES)(
    q265_conformal_intervals
)


register("q267_isotonic_calibration", _Q267_ORACLE, _Q267_NOTES)(
    q267_isotonic_calibration
)


# --- q318: multiclass classification report ---------------------------------


def q318_classification_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier eval over customer segments: prediction = true
    segment unless the hash draw (~25%) rotates it; classification_report
    emits per-class precision/recall/F1 plus macro/micro rows."""
    from ..operators.mlmetrics import classification_report

    c = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), F.col("c_mktsegment").alias("label")
    )
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    rot = F.element_at(
        F.array(*[F.lit(s) for s in segs]),
        _hash_mod(F.col("k"), 91, 5).cast("int") + 1,
    )
    preds = c.select(
        "label",
        F.when(_hash_mod(F.col("k"), 57, 8) < 2, rot).otherwise(F.col("label")).alias(
            "pred"
        ),
    )
    return classification_report(preds, "label", "pred").orderBy("class")


_Q318_ORACLE = f"""
    WITH preds AS (
      SELECT c_mktsegment AS label,
        CASE WHEN {_hash_mod_sql('c_custkey', 57, 8)} < 2
             THEN (['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD',
                    'MACHINERY'])[CAST({_hash_mod_sql('c_custkey', 91, 5)}
                                  AS INTEGER) + 1]
             ELSE c_mktsegment END AS pred
      FROM customer
    ),
    cm AS (SELECT label, pred, COUNT(*) AS n FROM preds GROUP BY label, pred),
    classes AS (
      SELECT DISTINCT label AS c FROM cm
      UNION SELECT DISTINCT pred AS c FROM cm
    ),
    per AS (
      SELECT cl.c AS class,
             CAST(COALESCE(s.support, 0) AS BIGINT) AS support,
             CAST(COALESCE(t.tp, 0) AS BIGINT) AS tp,
             CAST(COALESCE(p.predicted, 0) - COALESCE(t.tp, 0) AS BIGINT) AS fp,
             CAST(COALESCE(s.support, 0) - COALESCE(t.tp, 0) AS BIGINT) AS fn
      FROM classes cl
      LEFT JOIN (SELECT label, SUM(n) AS support FROM cm GROUP BY label) s
        ON s.label = cl.c
      LEFT JOIN (SELECT label, n AS tp FROM cm WHERE label = pred) t
        ON t.label = cl.c
      LEFT JOIN (SELECT pred, SUM(n) AS predicted FROM cm GROUP BY pred) p
        ON p.pred = cl.c
    ),
    scored AS (
      SELECT class, support, tp, fp, fn,
        CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp)
             ELSE 0.0 END AS prec,
        CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn)
             ELSE 0.0 END AS rec
      FROM per
    ),
    rows_per AS (
      SELECT class, support, tp, fp, fn, prec, rec,
        CASE WHEN prec + rec > 0 THEN 2.0 * prec * rec / (prec + rec)
             ELSE 0.0 END AS f1
      FROM scored
    ),
    macro AS (
      SELECT '__macro__' AS class, CAST(SUM(support) AS BIGINT) AS support,
             CAST(SUM(tp) AS BIGINT) AS tp, CAST(SUM(fp) AS BIGINT) AS fp,
             CAST(SUM(fn) AS BIGINT) AS fn,
             AVG(prec) AS prec, AVG(rec) AS rec, AVG(f1) AS f1
      FROM rows_per
    ),
    micro AS (
      SELECT '__micro__' AS class, CAST(SUM(support) AS BIGINT) AS support,
             CAST(SUM(tp) AS BIGINT) AS tp, CAST(SUM(fp) AS BIGINT) AS fp,
             CAST(SUM(fn) AS BIGINT) AS fn,
             CAST(SUM(tp) AS DOUBLE) / SUM(support) AS prec,
             CAST(SUM(tp) AS DOUBLE) / SUM(support) AS rec,
             CAST(SUM(tp) AS DOUBLE) / SUM(support) AS f1
      FROM rows_per
    ),
    unioned AS (
      SELECT * FROM rows_per UNION ALL SELECT * FROM macro
      UNION ALL SELECT * FROM micro
    )
    SELECT class, support, tp, fp, fn,
           round(prec, 9) AS precision, round(rec, 9) AS recall,
           round(f1, 9) AS f1
    FROM unioned ORDER BY class
"""

_Q318_NOTES = (
    "MULTICLASS CLASSIFICATION REPORT (operators/mlmetrics."
    "classification_report — per-class support/tp/fp/fn + precision/"
    "recall/F1 with __macro__/__micro__ summary rows, sklearn's "
    "zero-division=0 convention): ONE confusion-matrix hash agg, then "
    "metadata-sized reshaping (|classes|^2 rows). The eval report every "
    "classifier-filtered corpus (toxicity, language routing, quality "
    "gates) publishes"
)

register("q318_classification_report", _Q318_ORACLE, _Q318_NOTES)(
    q318_classification_report
)


# --- q326: Mann-Whitney U test ----------------------------------------------


def q326_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nonparametric two-sample test per event_type between user-parity
    variants, on DECILE-QUANTIZED values (floor(value·10) — forces
    heavy ties, exercising the tie-corrected sigma and the average-rank
    arithmetic)."""
    from ..operators.mlmetrics import mann_whitney_u

    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.when(F.col("user_id") % 2 == 0, "a").otherwise("b").alias("g"),
            F.floor(F.col("value") * 10).alias("v"),
        )
    )
    return mann_whitney_u(ev, "event_type", "g", "v", "a", "b").orderBy(
        "event_type"
    )


_Q326_ORACLE = """
    WITH tagged AS (
      SELECT event_type,
             CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS g,
             CAST(floor(value * 10) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
    ),
    per_v AS (
      SELECT event_type, v,
             SUM(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS na_v,
             SUM(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS nb_v
      FROM tagged GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, na_v, nb_v, na_v + nb_v AS c,
             SUM(na_v + nb_v) OVER (
               PARTITION BY event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - (na_v + nb_v) AS cum_before
      FROM per_v
    ),
    agg AS (
      SELECT event_type,
             SUM(na_v) AS n_a, SUM(nb_v) AS n_b,
             SUM(na_v * (2 * cum_before + c + 1)) AS r2a,
             SUM(c * c * c - c) AS tie_term
      FROM ranked GROUP BY 1
    )
    SELECT event_type,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           (CAST(r2a AS DOUBLE) - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1)) / 2.0
             AS u_stat,
           ((CAST(r2a AS DOUBLE) - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1)) / 2.0
            - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
           / sqrt(
               CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
               * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1)
                  - CAST(tie_term AS DOUBLE)
                    / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                       * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 1)))
             ) AS z
    FROM agg ORDER BY event_type
"""

_Q326_NOTES = (
    "MANN-WHITNEY U / WILCOXON RANK-SUM per segment (operators/"
    "mlmetrics.mann_whitney_u — the nonparametric two-sample readout "
    "next to the Welch t: U for group a plus tie-corrected normal z; "
    "the engine contract ends at the statistic, CDF lookup is "
    "client-side): one hash agg by (segment, value) so the rank window "
    "runs over DISTINCT values not rows, then all rank arithmetic "
    "INTEGER (2R_a exact long) so U and z are IEEE doubles of exact "
    "ints — bit-matched with no decimal stabilization. Decile-quantized "
    "fixture forces heavy ties"
)

register("q326_mann_whitney", _Q326_ORACLE, _Q326_NOTES)(q326_mann_whitney)


# --- q330: permutation test -------------------------------------------------


def q330_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster permutation test (units = users) for the value-mean
    difference between user-parity variants, per event_type; B=60
    md5-replayable relabelings (the md5-hex rule, not the Knuth rule —
    (key·MULT) % 2 preserves parity, so linear hashing cannot make the
    relabeling coins; md5 nibble parity can, and DuckDB replays it)."""
    from ..operators.mlmetrics import permutation_test

    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .withColumn(
            "variant",
            F.when(F.col("user_id") % 2 == 0, "a").otherwise("b"),
        )
    )
    return permutation_test(
        ev, "event_type", "user_id", "variant", "value", "a", "b", n_perms=60
    ).orderBy("event_type")


_Q330_ORACLE = """
    WITH base AS (
      SELECT event_type, user_id AS unit,
             CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS grp,
             CAST(round(value, 9) AS DECIMAL(38,9)) AS x
      FROM events WHERE value IS NOT NULL
    ),
    obs AS (
      SELECT event_type,
             abs(CAST(SUM(CASE WHEN grp = 'a' THEN x END) AS DOUBLE)
                   / SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END)
                 - CAST(SUM(CASE WHEN grp = 'b' THEN x END) AS DOUBLE)
                   / SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END)) AS obs_diff
      FROM base GROUP BY 1
    ),
    alloc AS (
      SELECT event_type,
             COUNT(DISTINCT CASE WHEN grp = 'a' THEN unit END) AS ua,
             COUNT(DISTINCT unit) AS ut
      FROM base GROUP BY 1
    ),
    perms AS (
      SELECT event_type, pb,
             abs(CAST(SUM(CASE WHEN side = 0 THEN x END) AS DOUBLE)
                   / SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END)
                 - CAST(SUM(CASE WHEN side = 1 THEN x END) AS DOUBLE)
                   / SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END)) AS perm_diff
      FROM (
        SELECT base.event_type, base.x, g.b AS pb,
               CASE WHEN CAST(CAST(('0x' ||
                        substr(md5(CAST(unit AS VARCHAR) || ':'
                               || CAST(g.b AS VARCHAR)), 1, 8))
                        AS BIGINT) AS HUGEINT) * a.ut
                    < CAST(4294967296 AS HUGEINT) * a.ua
                    THEN 0 ELSE 1 END AS side
        FROM base
        JOIN alloc a USING (event_type),
             (SELECT UNNEST(generate_series(0, 59)) AS b) g
      )
      GROUP BY 1, 2
    )
    SELECT o.event_type, o.obs_diff,
           CAST(SUM(CASE WHEN p.perm_diff >= o.obs_diff THEN 1 ELSE 0 END)
                AS BIGINT) AS n_extreme,
           COUNT(*) AS n_perms,
           CAST(SUM(CASE WHEN p.perm_diff >= o.obs_diff THEN 1 ELSE 0 END)
                + 1 AS DOUBLE) / (COUNT(*) + 1) AS p_value
    FROM perms p JOIN obs o USING (event_type)
    GROUP BY 1, 2 ORDER BY 1
"""

_Q330_NOTES = (
    "CLUSTER PERMUTATION TEST (operators/mlmetrics.permutation_test — "
    "assumption-free significance for a mean difference: B "
    "deterministic md5-relabelings of UNITS (users, respecting "
    "within-user dependence), add-one p = (1+#extreme)/(B+1); engine "
    "replayability contract, DuckDB replays every coin): the coin is "
    "ALLOCATION-PRESERVING (P[A] = observed unit share, u32(md5) vs "
    "exact-integer threshold — a fair coin would bias p conservative "
    "for unbalanced groups); the B-fold sequence explode feeds "
    "straight into a map-side-combined agg on (segment, b) — the "
    "shuffle carries O(segments*B) partial rows, never B x data; "
    "decimal-stabilized sums"
)

register("q330_permutation_test", _Q330_ORACLE, _Q330_NOTES)(q330_permutation_test)


# --- q332: Benjamini-Hochberg FDR -------------------------------------------


def q332_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BH adjustment over a deterministic per-(event_type, user-bucket)
    p-value fixture (Knuth-hash uniforms — fine HERE because each p is
    a modeled input value, not a relabeling coin): families adjust in
    parallel, adj_p = reversed running min of p*m/rank."""
    from ..operators.mlmetrics import bh_adjust

    tests = (
        read_table(spark, sf_dir, "events")
        .select(
            "event_type",
            (F.col("user_id") % 25).alias("test_id"),
            F.length("event_type").alias("_len"),
        )
        .distinct()
        .select(
            "event_type",
            "test_id",
            (
                _hash_mod(F.col("test_id") + 31 * F.col("_len"), 7, 997)
                / F.lit(996.0)
            ).alias("p"),
        )
    )
    return bh_adjust(tests, "event_type", "test_id", "p").orderBy(
        "event_type", "test_id"
    )


_Q332_ORACLE = f"""
    WITH tests AS (
      SELECT DISTINCT event_type, user_id % 25 AS test_id,
             length(event_type) AS _len
      FROM events
    ),
    pv AS (
      SELECT event_type, test_id,
             CAST({_hash_mod_sql('(test_id + 31 * _len)', 7, 997)} AS DOUBLE)
               / 996.0 AS p
      FROM tests
    ),
    staged AS (
      SELECT event_type, test_id, p,
             p * COUNT(*) OVER (PARTITION BY event_type)
               / ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY p, test_id
                 ) AS raw
      FROM pv
    )
    SELECT event_type, test_id, p,
           least(
             MIN(raw) OVER (
               PARTITION BY event_type
               ORDER BY p DESC, test_id DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ), 1.0) AS adj_p
    FROM staged ORDER BY event_type, test_id
"""

_Q332_NOTES = (
    "BENJAMINI-HOCHBERG FDR ADJUSTMENT per family (operators/"
    "mlmetrics.bh_adjust — the multiple-comparisons gate over any "
    "batch of per-test p-values; upstream p is an input column, the "
    "engine's test ops end at the statistic): rank + reversed running "
    "min share ONE family exchange, families adjust in parallel, "
    "deterministic test-name tiebreak"
)

register("q332_fdr_bh", _Q332_ORACLE, _Q332_NOTES)(q332_fdr_bh)


# --- q334: Kruskal-Wallis H -------------------------------------------------


def q334_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-group nonparametric test per event_type across THREE
    user-parity variants on decile-quantized values — the k>2
    completion of q326's Mann-Whitney (heavy ties exercise the
    tie-corrected denominator)."""
    from ..operators.mlmetrics import kruskal_wallis

    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.concat(F.lit("g"), (F.col("user_id") % 3).cast("string")).alias(
                "g"
            ),
            F.floor(F.col("value") * 10).alias("v"),
        )
    )
    return kruskal_wallis(ev, "event_type", "g", "v").orderBy("event_type")


_Q334_ORACLE = """
    WITH tagged AS (
      SELECT event_type,
             'g' || CAST(user_id % 3 AS VARCHAR) AS g,
             CAST(floor(value * 10) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
    ),
    gv AS (
      SELECT event_type, v, g, COUNT(*) AS n_gv FROM tagged GROUP BY 1, 2, 3
    ),
    framed AS (
      SELECT event_type, g, v, n_gv,
        SUM(n_gv) OVER (PARTITION BY event_type, v) AS c,
        SUM(n_gv) OVER (PARTITION BY event_type ORDER BY v
          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          - SUM(n_gv) OVER (PARTITION BY event_type, v) AS cum_before
      FROM gv
    ),
    per_g AS (
      SELECT event_type, g, SUM(n_gv) AS n_g,
             SUM(n_gv * (2 * cum_before + c + 1)) AS r2_g
      FROM framed GROUP BY 1, 2
    ),
    ties AS (
      SELECT event_type, SUM(c * c * c - c) AS tie_term FROM (
        SELECT event_type, v, MAX(c) AS c FROM framed GROUP BY 1, 2
      ) GROUP BY 1
    ),
    seg AS (
      SELECT event_type, COUNT(*) AS k_groups, SUM(n_g) AS n_total,
             SUM(CAST(r2_g AS DOUBLE) * CAST(r2_g AS DOUBLE)
                 / (4.0 * CAST(n_g AS DOUBLE))) AS s_rank
      FROM per_g GROUP BY 1
    )
    SELECT s.event_type,
           CAST(s.k_groups AS BIGINT) AS k_groups,
           CAST(s.n_total AS BIGINT) AS n_total,
           round(12.0 / (CAST(s.n_total AS DOUBLE) * (s.n_total + 1))
                 * s.s_rank - 3.0 * (s.n_total + 1), 6) AS h_stat,
           round((12.0 / (CAST(s.n_total AS DOUBLE) * (s.n_total + 1))
                  * s.s_rank - 3.0 * (s.n_total + 1))
                 / (1.0 - CAST(t.tie_term AS DOUBLE)
                    / (CAST(s.n_total AS DOUBLE) * s.n_total * s.n_total
                       - s.n_total)), 6) AS h_tie_corrected
    FROM seg s JOIN ties t ON t.event_type = s.event_type
    ORDER BY s.event_type
"""

_Q334_NOTES = (
    "KRUSKAL-WALLIS H per segment (operators/mlmetrics.kruskal_wallis "
    "— the k-group rank ANOVA completing the nonparametric family: "
    "Mann-Whitney answers a vs b, KW answers 'any of k variants "
    "shifted?'; groups discovered from data): one (segment,value,"
    "group) hash agg, ONE window whose two RANGE frames share the "
    "value sort (tie count + cumulative rank offset, single exchange), "
    "2R_g exact-integer; only the k-term rank-square sum is float so H "
    "ships at 6dp. Statistic only; chi-square CDF is client-side"
)

register("q334_kruskal_wallis", _Q334_ORACLE, _Q334_NOTES)(q334_kruskal_wallis)


# --- q335: McNemar paired test ----------------------------------------------


def q335_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two synthetic classifiers scored on the SAME events (model A
    right on ~70% by hash draw, model B on ~60% by an independent
    draw); McNemar's discordant-pair chi-square per event_type."""
    from ..operators.mlmetrics import mcnemar_test

    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        (_hash_mod(F.col("event_id"), 1, 10) < 7).alias("a_ok"),
        (_hash_mod(F.col("event_id"), 5, 10) < 6).alias("b_ok"),
    )
    return mcnemar_test(ev, "event_type", "a_ok", "b_ok").orderBy(
        "event_type"
    )


_Q335_ORACLE = f"""
    WITH tagged AS (
      SELECT event_type,
             {_hash_mod_sql('event_id', 1, 10)} < 7 AS a_ok,
             {_hash_mod_sql('event_id', 5, 10)} < 6 AS b_ok
      FROM events
    ),
    agg AS (
      SELECT event_type, COUNT(*) AS n_items,
             SUM(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END) AS n_a_only,
             SUM(CASE WHEN b_ok AND NOT a_ok THEN 1 ELSE 0 END) AS n_b_only
      FROM tagged GROUP BY 1
    )
    SELECT event_type, n_items,
           CAST(n_a_only AS BIGINT) AS n_a_only,
           CAST(n_b_only AS BIGINT) AS n_b_only,
           CASE WHEN n_a_only + n_b_only > 0 THEN
             CAST(n_a_only - n_b_only AS DOUBLE)
             * CAST(n_a_only - n_b_only AS DOUBLE)
             / CAST(n_a_only + n_b_only AS DOUBLE)
           ELSE 0.0 END AS chi2,
           CASE WHEN n_a_only + n_b_only > 0 THEN
             GREATEST(CAST(ABS(n_a_only - n_b_only) AS DOUBLE) - 1.0, 0.0)
             * GREATEST(CAST(ABS(n_a_only - n_b_only) AS DOUBLE) - 1.0, 0.0)
             / CAST(n_a_only + n_b_only AS DOUBLE)
           ELSE 0.0 END AS chi2_cc
    FROM agg ORDER BY event_type
"""

_Q335_NOTES = (
    "MCNEMAR PAIRED-CLASSIFIER TEST per segment (operators/mlmetrics."
    "mcnemar_test — the correct significance test when two models "
    "score the SAME holdout; q308's funnel z-test assumes independent "
    "samples, this one conditions on the discordant pairs b/c only): "
    "ONE map-side-combined conditional agg, the pairing is the row "
    "itself so there is no self-join. Exact ints into two IEEE "
    "divisions, bit-portable unrounded"
)

register("q335_mcnemar", _Q335_ORACLE, _Q335_NOTES)(q335_mcnemar)


# --- q336: precision-recall AP ----------------------------------------------


def q336_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PR-curve summary per event_type over a quantized model score
    (floor(value*20), heavy ties) with hash-drawn labels whose positive
    rate is score-dependent (so the curve is non-degenerate): AP +
    best achievable F1."""
    from ..operators.mlmetrics import average_precision

    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.floor(F.col("value") * 20).alias("s"),
            (
                _hash_mod(F.col("event_id"), 3, 100)
                < F.when(F.col("value") > 0.5, 55).otherwise(25)
            )
            .cast("int")
            .alias("label"),
        )
    )
    return average_precision(ev, "event_type", "label", "s").orderBy(
        "event_type"
    )


_Q336_ORACLE = f"""
    WITH tagged AS (
      SELECT event_type, CAST(floor(value * 20) AS BIGINT) AS s,
             CASE WHEN {_hash_mod_sql('event_id', 3, 100)}
                       < CASE WHEN value > 0.5 THEN 55 ELSE 25 END
                  THEN 1 ELSE 0 END AS label
      FROM events WHERE value IS NOT NULL
    ),
    sv AS (
      SELECT event_type, s, COUNT(*) AS n_s, SUM(label) AS pos_s
      FROM tagged GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, n_s, pos_s,
        SUM(n_s) OVER (PARTITION BY event_type ORDER BY s DESC
          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tot,
        SUM(pos_s) OVER (PARTITION BY event_type ORDER BY s DESC
          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
        SUM(n_s) OVER (PARTITION BY event_type) AS n_total,
        SUM(pos_s) OVER (PARTITION BY event_type) AS n_pos
      FROM sv
    )
    SELECT event_type,
           CAST(MAX(n_pos) AS BIGINT) AS n_pos,
           CAST(MAX(n_total) - MAX(n_pos) AS BIGINT) AS n_neg,
           round(SUM(CAST(pos_s AS DOUBLE) * CAST(cum_pos AS DOUBLE)
                     / CAST(cum_tot AS DOUBLE))
                 / CAST(MAX(n_pos) AS DOUBLE), 6) AS avg_precision,
           MAX(2.0 * CAST(cum_pos AS DOUBLE)
               / CAST(cum_tot + n_pos AS DOUBLE)) AS best_f1
    FROM cum GROUP BY event_type ORDER BY event_type
"""

_Q336_NOTES = (
    "AVERAGE PRECISION / PR CURVE per segment (operators/mlmetrics."
    "average_precision — area under precision-recall, the metric of "
    "record for rare-positive corpora where ROC-AUC flatters; plus "
    "best-F1 over all thresholds via F1_t = 2TP/(cumTot+P), a MAX of "
    "exact-int IEEE ratios that ships unrounded): one (segment,score) "
    "hash agg then ONE descending RANGE window — ties collapse to one "
    "threshold so the curve is row-order-deterministic. AP's "
    "per-segment float sum is the only order-sensitive reduce -> 6dp"
)

register("q336_average_precision", _Q336_ORACLE, _Q336_NOTES)(q336_average_precision)


# --- q357: dedup pipeline quality audit ------------------------------------------


def q357_dedup_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluate the LSH dedup pipeline AGAINST its own exact baseline
    (operators/mlmetrics.pair_quality): predicted = minhash-banded +
    Jaccard-verified pairs (q40), truth = exact inverted-index Jaccard
    pairs (q42). Verified candidates make precision structurally 1.0;
    recall is the banding miss rate — the number a dedup owner actually
    tunes bands/rows against."""
    from ..llm.dedup import minhash_near_dup_pairs, ngram_jaccard_pairs
    from ..operators.mlmetrics import pair_quality

    docs = read_table(spark, sf_dir, "documents")
    pred = minhash_near_dup_pairs(docs, threshold=0.5)
    truth = ngram_jaccard_pairs(docs, threshold=0.5)
    return pair_quality(pred, truth)


def _q357_oracle() -> str:
    from .llm import _JACCARD_SQL, _MINHASH_CTES

    return f"""
    WITH {_MINHASH_CTES},
    tr_cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM shx a JOIN shx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    truth AS (
      SELECT c.doc_a, c.doc_b
      FROM tr_cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b
      WHERE {_JACCARD_SQL} >= 0.5
    ),
    pred AS (SELECT doc_a, doc_b FROM mh_pairs),
    counts AS (
      SELECT (SELECT COUNT(*) FROM pred) AS n_pred,
             (SELECT COUNT(*) FROM truth) AS n_true,
             (SELECT COUNT(*) FROM pred JOIN truth USING (doc_a, doc_b))
               AS tp
    )
    SELECT n_pred, n_true, tp,
           CAST(tp AS DOUBLE) / n_pred AS precision,
           CAST(tp AS DOUBLE) / n_true AS recall,
           CAST(2 * tp AS DOUBLE) / (n_pred + n_true) AS f1
    FROM counts
    """


_Q357_NOTES = (
    "DEDUP PIPELINE QUALITY AUDIT (operators/mlmetrics.pair_quality — "
    "the evaluation harness for the dedup/linkage family itself: "
    "predicted LSH pairs q40 vs the exact inverted-index baseline q42; "
    "verified candidates make precision structurally 1.0 and recall IS "
    "the banding miss rate, the number bands/rows get tuned against): "
    "pairs canonicalized least/greatest+distinct both sides, one "
    "pair-keyed equi-join + metadata-sized counts; P/R/F1 are single "
    "IEEE divisions of exact integers (set-F1 identity 2tp/(np+nt)). "
    "Truth side rides the require_small-guarded exact baseline — the "
    "audit is a fixture-scale diagnostic by design, like every exact "
    "baseline in the q43/q44 class"
)

register("q357_dedup_quality", _q357_oracle(), _Q357_NOTES)(q357_dedup_quality)


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


# --- q389: quantile treatment effects ----------------------------------------------


def q389_quantile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects (operators/mlmetrics.quantile_lift):
    events split into arms by user_id parity; per-quantile value lift
    at p = 0.25/0.5/0.75/0.9."""
    from ..operators.mlmetrics import quantile_lift

    ev = read_table(spark, sf_dir, "events")
    armed = ev.select(
        F.when(F.col("user_id") % 2 == 0, F.lit("control"))
        .otherwise(F.lit("treatment"))
        .alias("arm"),
        "value",
    )
    return quantile_lift(
        armed, "arm", "value", control="control", treatment="treatment"
    ).orderBy("p")


def _q389_oracle() -> str:
    return """
    WITH base AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 'control'
                  ELSE 'treatment' END AS arm, value
      FROM events WHERE value IS NOT NULL
    ),
    tot AS (SELECT arm, COUNT(*) AS n FROM base GROUP BY arm),
    ranked AS (
      SELECT arm, value,
             ROW_NUMBER() OVER (PARTITION BY arm ORDER BY value) AS rk
      FROM base
    ),
    ps(p) AS (VALUES (CAST(0.25 AS DOUBLE)), (CAST(0.5 AS DOUBLE)),
                     (CAST(0.75 AS DOUBLE)), (CAST(0.9 AS DOUBLE))),
    sel AS (
      SELECT p.p, r.arm, r.value
      FROM ranked r JOIN tot t USING (arm)
                    JOIN ps p ON r.rk = CAST(ceil(p.p * t.n) AS BIGINT)
    ),
    -- Scalar subqueries + COALESCE so an EMPTY arm yields n=0 instead
    -- of cross-joining away every row; driving from ps via LEFT JOIN
    -- keeps one row per prob (NULL quantiles) — the exact empty-arm
    -- shape quantile_lift's global aggregate produces (ADVICE r12).
    tc AS (SELECT COALESCE(
             (SELECT n FROM tot WHERE arm = 'control'), 0) AS n),
    tt AS (SELECT COALESCE(
             (SELECT n FROM tot WHERE arm = 'treatment'), 0) AS n)
    SELECT p.p,
           tc.n AS n_control,
           tt.n AS n_treatment,
           MAX(CASE WHEN s.arm = 'control' THEN s.value END) AS q_control,
           MAX(CASE WHEN s.arm = 'treatment' THEN s.value END)
             AS q_treatment,
           round(MAX(CASE WHEN s.arm = 'treatment' THEN s.value END)
                 - MAX(CASE WHEN s.arm = 'control' THEN s.value END), 6)
             AS lift
    FROM ps p
    LEFT JOIN sel s ON s.p = p.p
    CROSS JOIN tc CROSS JOIN tt
    GROUP BY p.p, tc.n, tt.n
    ORDER BY p.p
    """


_Q389_NOTES = (
    "QUANTILE TREATMENT EFFECTS (operators/mlmetrics.quantile_lift — "
    "Athey-Imbens 2017: the distributional readout the mean hides; a "
    "whale-driven positive mean lift with negative median lift means "
    "the typical user got worse): one GK summary pass PER ARM (two "
    "filtered aggregates, no sort/window/fan-out), the two 1-ROW "
    "summaries broadcast-recombine, a probs-sized literal explode "
    "emits the readout; exact ceil(p*n)-rank at audit scale (the "
    "q204/q212/q382 rule) replayed by the oracle's ROW_NUMBER rank "
    "arithmetic, finite accuracy = the documented 100 TB path. "
    "Completes the experimentation suite next to q367 CUPED / q371 "
    "winsorized means"
)

register("q389_quantile_lift", _q389_oracle(), _Q389_NOTES)(q389_quantile_lift)


# --- q393: experiment power / sample-size calculator -------------------------------


def q393_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-size calculator (operators/mlmetrics.power_analysis):
    units per arm to detect a +5.0 absolute lift of events.value at
    alpha 0.05 / power 0.8, at the observed variance."""
    from ..operators.mlmetrics import power_analysis

    ev = read_table(spark, sf_dir, "events")
    return power_analysis(ev, "value", mde=5.0)


def _q393_oracle() -> str:
    from ..operators.mlmetrics import _Z_ALPHA_2, _Z_POWER
    from ..operators.aggregate import stable_sum_sql

    za, zp = _Z_ALPHA_2[0.05], _Z_POWER[0.8]
    k = repr(2.0 * (za + zp) ** 2)
    s = stable_sum_sql("value", 6)
    ss = stable_sum_sql("round(value * value, 6)", 6)
    return f"""
    WITH a AS (
      SELECT COUNT(value) AS n_observed,
             {s} AS s,
             {ss} AS ss
      FROM events
    )
    SELECT n_observed,
           round(s / n_observed, 6) AS mean,
           round((ss - s * s / n_observed) / (n_observed - 1), 6)
             AS variance,
           round(sqrt((ss - s * s / n_observed) / (n_observed - 1)), 6)
             AS sigma,
           CAST(5.0 AS DOUBLE) AS mde,
           CAST('{za!r}' AS DOUBLE) AS z_alpha,
           CAST('{zp!r}' AS DOUBLE) AS z_power,
           CAST(ceil(CAST('{k}' AS DOUBLE)
                     * ((ss - s * s / n_observed) / (n_observed - 1))
                     / 25.0) AS BIGINT) AS n_per_arm
    FROM a
    """


_Q393_NOTES = (
    "EXPERIMENT POWER / SAMPLE-SIZE CALCULATOR (operators/mlmetrics."
    "power_analysis — the question every experiment starts with; "
    "n/arm = 2(z_a/2+z_pow)^2 sigma^2/delta^2, Kohavi-Tang-Xu 2020 "
    "s17): sigma^2 from ONE no-grouping map-combined aggregate with "
    "decimal-stabilized sums (products 6dp-rounded before the decimal "
    "cast — the CUPED convention); z constants are fixed published "
    "normal quantiles with ValueError outside the table (the SRM "
    "precedent, no silent approximation); n_per_arm ceils UP because "
    "under-powering is the failure mode. Completes the "
    "experimentation suite: plan (q393) -> guard (q373) -> readout "
    "(q367/q370/q371/q389) -> stop (q372)"
)

register("q393_power_analysis", _q393_oracle(), _Q393_NOTES)(q393_power_analysis)


# --- q395: split-conformal interval calibration ------------------------------------


def q395_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal calibration (operators/mlmetrics.
    conformal_interval): a per-event-type mean predictor trained on
    even event_ids, calibrated on the odd half at alpha = 0.1."""
    from ..operators.aggregate import stable_avg
    from ..operators.mlmetrics import conformal_interval

    ev = read_table(spark, sf_dir, "events")
    model = (
        ev.filter(F.col("event_id") % 2 == 0)
        .groupBy("event_type")
        .agg(F.round(stable_avg(F.col("value"), 6), 6).alias("pred"))
    )
    cal = ev.filter(F.col("event_id") % 2 == 1).join(
        F.broadcast(model), "event_type"
    )
    return conformal_interval(cal, "event_type", "pred", "value").orderBy(
        "event_type"
    )


def _q395_oracle() -> str:
    from ..operators.aggregate import stable_avg_sql

    avg = stable_avg_sql("value", 6)
    return f"""
    WITH model AS (
      SELECT event_type, round({avg}, 6) AS pred
      FROM events WHERE event_id % 2 = 0 GROUP BY event_type
    ),
    resid AS (
      SELECT e.event_type AS grp, abs(m.pred - e.value) AS r
      FROM events e JOIN model m USING (event_type)
      WHERE e.event_id % 2 = 1 AND e.value IS NOT NULL
    ),
    tot AS (SELECT grp, COUNT(*) AS n FROM resid GROUP BY grp),
    ranked AS (
      SELECT grp, r, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY r)
               AS rk
      FROM resid
    ),
    sel AS (
      SELECT r.grp, r.r
      FROM ranked r JOIN tot t USING (grp)
      WHERE r.rk = CAST(ceil(0.9 * (t.n + 1)) AS BIGINT)
    )
    SELECT t.grp AS event_type,
           t.n AS n_cal,
           round(s.r, 6) AS q_hat,
           CAST(0.1 AS DOUBLE) AS alpha
    FROM tot t LEFT JOIN sel s USING (grp)
    ORDER BY event_type
    """


_Q395_NOTES = (
    "SPLIT-CONFORMAL INTERVAL CALIBRATION (operators/mlmetrics."
    "conformal_interval — Vovk's framework, Angelopoulos-Bates 2021 "
    "tutorial form: q_hat = ceil((1-a)(n+1))-th smallest |residual| "
    "gives distribution-free >=1-a coverage): the (n+1) finite-sample "
    "correction rides a +inf SENTINEL row per group unioned into the "
    "calibration set, so ONE grouped GK pass selects exactly the "
    "conformal rank (ceil(p*(n+1)), the q204/q212 rule) — no second "
    "pass, no sort, no window, no collect; a q_hat landing on the "
    "sentinel (alpha unachievable at this n) reports NULL, replayed by "
    "the oracle's rank-overflow LEFT JOIN. Per-group = the production "
    "shape (one interval per segment/model/horizon)"
)

register("q395_conformal_interval", _q395_oracle(), _Q395_NOTES)(
    q395_conformal_interval
)


# --- q399: Brier decomposition of the lang-ID signal -------------------------------


def q399_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition (operators/mlmetrics.brier_decomposition)
    of stop_ratio as a probability that a document is English — the
    calibration audit of the q47 lang-ID signal."""
    from ..functions.text import stopword_ratio
    from ..operators.mlmetrics import brier_decomposition

    docs = read_table(spark, sf_dir, "documents")
    scored = docs.select(
        stopword_ratio("text", tokens("text")).alias("p"),
        (F.col("lang") == "en").cast("int").alias("is_en"),
    )
    return brier_decomposition(scored, "p", "is_en", n_bins=10)


def _q399_oracle() -> str:
    from ..operators.aggregate import stable_sum_sql
    from .llm import _STOP_SQL, _TOKS_SQL

    return f"""
    WITH s AS (
      SELECT CASE WHEN len(t) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(t,
                       x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
                       / len(t) END AS p,
             CAST(lang = 'en' AS INTEGER) AS o
      FROM ({_TOKS_SQL})
    ),
    b AS (
      SELECT least(9, CAST(floor(p * 10) AS INTEGER)) AS bin,
             p, CAST(o AS DOUBLE) AS o
      FROM s WHERE p IS NOT NULL AND o IS NOT NULL
    ),
    bins AS (
      SELECT bin, COUNT(*) AS nk,
             {stable_sum_sql("p", 9)} AS sp,
             CAST(SUM(CAST(o AS BIGINT)) AS BIGINT) AS so,
             {stable_sum_sql("round((p - o) * (p - o), 9)", 9)} AS sq
      FROM b GROUP BY bin
    ),
    tot AS (
      SELECT SUM(nk) AS n, SUM(so) AS sumo,
             {stable_sum_sql("sq", 9)} AS brier_sum
      FROM bins
    ),
    terms AS (
      SELECT t.n, t.sumo, t.brier_sum,
             round(b.nk * (b.sp / b.nk - CAST(b.so AS DOUBLE) / b.nk)
                        * (b.sp / b.nk - CAST(b.so AS DOUBLE) / b.nk), 9)
               AS rel,
             round(b.nk * (CAST(b.so AS DOUBLE) / b.nk
                           - CAST(t.sumo AS DOUBLE) / t.n)
                        * (CAST(b.so AS DOUBLE) / b.nk
                           - CAST(t.sumo AS DOUBLE) / t.n), 9) AS res
      FROM bins b CROSS JOIN tot t
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(brier_sum / n, 6) AS brier,
           round({stable_sum_sql("rel", 9)} / n, 6) AS reliability,
           round({stable_sum_sql("res", 9)} / n, 6) AS resolution,
           round((CAST(sumo AS DOUBLE) / n)
                 * (1.0 - CAST(sumo AS DOUBLE) / n), 6) AS uncertainty
    FROM terms GROUP BY n, sumo, brier_sum
    """


_Q399_NOTES = (
    "BRIER DECOMPOSITION / CALIBRATION AUDIT (operators/mlmetrics."
    "brier_decomposition — Murphy 1973: BRIER ~ RELIABILITY - "
    "RESOLUTION + UNCERTAINTY; the readout behind every "
    "quality-classifier audit, here scoring stop_ratio as P(english) "
    "against the lang tag — the q47 signal graded honestly): "
    "fixed-width bins (the q378 convention), one map-side bucket + "
    "ONE bin aggregate + scalar recombination of the bins-sized table "
    "— two exchanges at any row count; decimal-stabilized sums with "
    "9dp-rounded products; raw Brier reported alongside because the "
    "identity is exact only for within-bin-constant forecasts"
)

register("q399_brier_decomposition", _q399_oracle(), _Q399_NOTES)(
    q399_brier_decomposition
)


# --- q400: importance-weight diagnostics (Kish ESS) --------------------------------


def q400_weighted_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish ESS diagnostics (operators/mlmetrics.weighted_mean_ess)
    over a deliberately skewed weighting of events.value (every 7th
    user up-weighted 25x) — the health check read before trusting any
    importance-weighted estimate (the q380 DSIR companion)."""
    from ..operators.mlmetrics import weighted_mean_ess

    ev = read_table(spark, sf_dir, "events")
    weighted = ev.select(
        "value",
        F.when(F.col("user_id") % 7 == 0, F.lit(25.0))
        .otherwise(F.lit(1.0))
        .alias("w"),
    )
    return weighted_mean_ess(weighted, "value", "w")


def _q400_oracle() -> str:
    from ..operators.aggregate import stable_sum_sql

    return f"""
    WITH base AS (
      SELECT value,
             CASE WHEN user_id % 7 = 0 THEN 25.0 ELSE 1.0 END AS w
      FROM events
      WHERE value IS NOT NULL
    ),
    a AS (
      SELECT COUNT(*) AS n,
             {stable_sum_sql("w", 9)} AS sw,
             {stable_sum_sql("round(w * w, 9)", 9)} AS sww,
             {stable_sum_sql("round(w * value, 9)", 9)} AS swv
      FROM base
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(swv / sw, 6) AS weighted_mean,
           round(sw, 6) AS sum_w,
           round(sw * sw / sww, 6) AS ess,
           round((sw * sw / sww) / n, 6) AS ess_frac
    FROM a
    """


_Q400_NOTES = (
    "IMPORTANCE-WEIGHT DIAGNOSTICS / KISH ESS (operators/mlmetrics."
    "weighted_mean_ess — Kish 1965: ESS = (sum w)^2 / sum w^2; the "
    "number read BEFORE trusting any importance-weighted estimate — "
    "DSIR resampling (q380), IPW readouts, survey reweighting; "
    "ess_frac << 1 means the answer hangs on a handful of rows): ONE "
    "no-grouping map-combined aggregate, decimal-stabilized sums with "
    "9dp-rounded products, three IEEE divisions at the end. Anchor "
    "up-weights every 7th user 25x so the diagnostic fires at every "
    "fixture scale"
)

register("q400_weighted_ess", _q400_oracle(), _Q400_NOTES)(q400_weighted_ess)


# --- q407: Mann-Whitney U ------------------------------------------------------------


def q407_fdr_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end significance pipeline over a REAL statistic battery:
    the q326 grouped Mann-Whitney runs once per event_type, its z's
    become two-sided p-values via the NEW Abramowitz-Stegun closed
    form (operators/mlmetrics.normal_p_two_sided — closing the
    'CDF lookup is client-side' gap the q326/q332 notes documented),
    and the existing per-family bh_adjust (q332) controls the battery
    jointly, with the reject flag at FDR 0.05."""
    from ..operators.mlmetrics import (
        bh_adjust,
        mann_whitney_u,
        normal_p_two_sided,
    )

    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.when(F.col("user_id") % 2 == 0, "a").otherwise("b").alias("g"),
            F.col("value").alias("v"),
        )
    )
    mw = mann_whitney_u(ev, "event_type", "g", "v", "a", "b")
    scored = mw.select(
        F.lit("mw_battery").alias("family"),
        F.col("event_type").alias("metric"),
        normal_p_two_sided(F.col("z")).alias("p"),
    )
    adj = bh_adjust(scored, "family", "metric", "p")
    return adj.select(
        "metric",
        "p",
        F.round("adj_p", 9).alias("adj_p"),
        (F.col("adj_p") <= 0.05).alias("rejected"),
    ).orderBy("metric")


def _q407_oracle() -> str:
    from ..operators.mlmetrics import normal_p_two_sided_sql

    z = """((CAST(r2a AS DOUBLE)
             - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1)) / 2.0
            - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
           / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
               * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1)
                  - CAST(tie_term AS DOUBLE)
                    / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                       * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)
                          - 1))))"""
    return f"""
    WITH tagged AS (
      SELECT event_type,
             CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS g,
             CAST(value AS DOUBLE) AS v
      FROM events WHERE value IS NOT NULL
    ),
    per_v AS (
      SELECT event_type, v,
             SUM(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS na_v,
             SUM(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS nb_v
      FROM tagged GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, na_v, nb_v, na_v + nb_v AS c,
             SUM(na_v + nb_v) OVER (
               PARTITION BY event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - (na_v + nb_v) AS cum_before
      FROM per_v
    ),
    agg AS (
      SELECT event_type,
             SUM(na_v) AS n_a, SUM(nb_v) AS n_b,
             SUM(na_v * (2 * cum_before + c + 1)) AS r2a,
             SUM(c * c * c - c) AS tie_term
      FROM ranked GROUP BY 1
    ),
    ps AS (
      SELECT event_type AS metric,
             {normal_p_two_sided_sql(z)} AS p
      FROM agg
    ),
    mm AS (SELECT COUNT(*) AS m FROM ps),
    rk AS (
      SELECT metric, p,
             row_number() OVER (ORDER BY p ASC, metric ASC) AS rank
      FROM ps
    ),
    adj AS (
      SELECT metric, p,
             least(MIN(p * mm.m / CAST(rank AS DOUBLE)) OVER (
               ORDER BY p DESC, metric DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 1.0)
               AS raw_adj
      FROM rk CROSS JOIN mm
    )
    SELECT metric, p, round(raw_adj, 9) AS adj_p,
           raw_adj <= 0.05 AS rejected
    FROM adj ORDER BY metric
    """


_Q407_NOTES = (
    "Z-TO-P + FDR SIGNIFICANCE PIPELINE (NEW operator mlmetrics."
    "normal_p_two_sided — Abramowitz-Stegun 26.2.17 closed-form normal "
    "tail, |err|<7.5e-8 documented, with a digit-matched _sql twin — "
    "composed with the EXISTING q326 grouped Mann-Whitney and q332 "
    "per-family bh_adjust): closes the 'CDF lookup is client-side' "
    "gap those operators documented, turning the battery's z's into "
    "jointly-FDR-controlled reject decisions fully in-engine. The "
    "battery is METRICS-sized so BH's windows run on a bounded frame; "
    "the data-sized work is the one per-(segment,value) MWU exchange. "
    "rejected compares the UNROUNDED adj_p (oracle mirrors)"
)

register("q407_fdr_battery", _q407_oracle(), _Q407_NOTES)(q407_fdr_battery)


# --- q408: delta-method ratio metric -------------------------------------------------


def q408_ratio_metric_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-per-event ratio metric (operators/mlmetrics.
    ratio_metric_delta): events pre-aggregate to the USER randomization
    unit (x = decimal-summed value, y = event count), arms by user
    parity — the estimand a per-event t-test silently gets wrong."""
    from ..operators.aggregate import stable_sum
    from ..operators.mlmetrics import ratio_metric_delta

    ev = read_table(spark, sf_dir, "events")
    units = (
        ev.filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            stable_sum(F.col("value"), 9).alias("x"),
            F.count("value").alias("y"),
        )
        .select(
            F.when(F.col("user_id") % 2 == 0, F.lit("control"))
            .otherwise(F.lit("treatment"))
            .alias("arm"),
            "x",
            "y",
        )
    )
    return ratio_metric_delta(units, "arm", "x", "y", "control", "treatment")


def _q408_oracle() -> str:
    from ..operators.aggregate import stable_sum_sql

    def cell(flag: str, expr: str, name: str) -> str:
        return (
            stable_sum_sql(f"CASE WHEN t = {flag} THEN {expr} END", 9)
            + f" AS {name}"
        )

    arms = ", ".join(
        [
            cell("false", "x", "sxc"), cell("false", "y", "syc"),
            cell("false", "round(x * x, 9)", "sxxc"),
            cell("false", "round(y * y, 9)", "syyc"),
            cell("false", "round(x * y, 9)", "sxyc"),
            cell("true", "x", "sxt"), cell("true", "y", "syt"),
            cell("true", "round(x * x, 9)", "sxxt"),
            cell("true", "round(y * y, 9)", "syyt"),
            cell("true", "round(x * y, 9)", "sxyt"),
        ]
    )

    def arm(n: str, sx: str, sy: str, sxx: str, syy: str, sxy: str, p: str):
        return f"""
        CAST({n} AS DOUBLE) AS n{p},
        {sx} / {sy} AS r{p},
        {sy} / CAST({n} AS DOUBLE) AS ybar{p},
        ({sxx} - {sx} * {sx} / CAST({n} AS DOUBLE))
          / nullif(CAST({n} AS DOUBLE) - 1, 0) AS varx{p},
        ({syy} - {sy} * {sy} / CAST({n} AS DOUBLE))
          / nullif(CAST({n} AS DOUBLE) - 1, 0) AS vary{p},
        ({sxy} - {sx} * {sy} / CAST({n} AS DOUBLE))
          / nullif(CAST({n} AS DOUBLE) - 1, 0) AS cov{p}
        """

    return f"""
    WITH u AS (
      SELECT user_id,
             {stable_sum_sql("value", 9)} AS x,
             CAST(COUNT(value) AS DOUBLE) AS y
      FROM events WHERE value IS NOT NULL GROUP BY user_id
    ),
    tagged AS (
      SELECT (user_id % 2 <> 0) AS t, x, y FROM u
    ),
    agg AS (
      SELECT CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS nc,
             CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nt,
             {arms}
      FROM tagged
    ),
    parts AS (
      SELECT nc, nt,
             {arm("nc", "sxc", "syc", "sxxc", "syyc", "sxyc", "c")},
             {arm("nt", "sxt", "syt", "sxxt", "syyt", "sxyt", "t")}
      FROM agg
    ),
    ses AS (
      SELECT nc, nt, rc, rt,
        CASE WHEN nc >= 2 THEN
          sqrt(greatest(COALESCE((varxc + rc * rc * varyc
              - 2.0 * rc * covc) / (nc * ybarc * ybarc), 0.0), 0.0))
        END AS sec,
        CASE WHEN nt >= 2 THEN
          sqrt(greatest(COALESCE((varxt + rt * rt * varyt
              - 2.0 * rt * covt) / (nt * ybart * ybart), 0.0), 0.0))
        END AS sett
      FROM parts
    )
    SELECT nc AS n_control, nt AS n_treatment,
           round(rc, 6) AS ratio_control,
           round(rt, 6) AS ratio_treatment,
           round(sec, 6) AS se_control,
           round(sett, 6) AS se_treatment,
           round(rt - rc, 6) AS lift,
           round(sqrt(sett * sett + sec * sec), 6) AS se_lift,
           round((rt - rc) / nullif(sqrt(sett * sett + sec * sec), 0), 6)
             AS z,
           COALESCE(abs(round((rt - rc)
             / nullif(sqrt(sett * sett + sec * sec), 0), 6))
             > 1.959963984540054, FALSE) AS significant
    FROM ses
    """


_Q408_NOTES = (
    "DELTA-METHOD RATIO METRIC (operators/mlmetrics.ratio_metric_delta "
    "— Deng-Knoblich-Lu KDD 2018: Var(Sx/Sy) over randomization units "
    "via the first-order expansion; per-unit-ratio t-tests answer a "
    "different estimand): ONE conditional-cell aggregate (six decimal-"
    "stabilized sums per arm, map-combined) + scalar recombination; "
    "anchor pre-aggregates events to the user unit with decimal sums. "
    "FP-noise variance floored at 0 before sqrt; n<2 arms degrade to "
    "NULL z / significant=false"
)

register("q408_ratio_metric_delta", _q408_oracle(), _Q408_NOTES)(
    q408_ratio_metric_delta
)


# --- q409: cluster design effect -----------------------------------------------------


def q409_cluster_design_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICC / DEFF / effective-n (operators/mlmetrics.
    cluster_design_effect) for event values clustered by user — the
    overcount audit for any event-level readout of a user-randomized
    experiment."""
    from ..operators.mlmetrics import cluster_design_effect

    ev = read_table(spark, sf_dir, "events")
    return cluster_design_effect(ev, "user_id", "value")


def _q409_oracle() -> str:
    from ..operators.aggregate import stable_sum_sql

    return f"""
    WITH per AS (
      SELECT user_id,
             COUNT(*) AS m,
             {stable_sum_sql("value", 9)} AS s,
             {stable_sum_sql("round(value * value, 9)", 9)} AS ss
      FROM events WHERE value IS NOT NULL GROUP BY user_id
    ),
    agg AS (
      SELECT COUNT(*) AS j,
             CAST(SUM(m) AS BIGINT) AS n,
             {stable_sum_sql("s", 9)} AS g,
             {stable_sum_sql("ss", 9)} AS sstot,
             {stable_sum_sql("round(s * s / CAST(m AS DOUBLE), 9)", 9)}
               AS sb,
             CAST(SUM(m * m) AS BIGINT) AS smm
      FROM per
    ),
    fin AS (
      SELECT n, j,
        CAST(n AS DOUBLE) / CAST(j AS DOUBLE) AS mbar,
        (sb - g * g / CAST(n AS DOUBLE))
          / nullif(CAST(j AS DOUBLE) - 1, 0) AS msb,
        (sstot - sb) / nullif(CAST(n AS DOUBLE) - CAST(j AS DOUBLE), 0)
          AS msw,
        (CAST(n AS DOUBLE) - CAST(smm AS DOUBLE) / CAST(n AS DOUBLE))
          / nullif(CAST(j AS DOUBLE) - 1, 0) AS n0
      FROM agg
    )
    SELECT n, j AS j_clusters,
           round(mbar, 6) AS mean_cluster_size,
           round(msb, 6) AS msb,
           round(msw, 6) AS msw,
           round((msb - msw) / nullif(msb + (n0 - 1) * msw, 0), 6) AS icc,
           round(1.0 + (mbar - 1)
                 * ((msb - msw) / nullif(msb + (n0 - 1) * msw, 0)), 6)
             AS deff,
           round(CAST(n AS DOUBLE) / nullif(1.0 + (mbar - 1)
                 * ((msb - msw) / nullif(msb + (n0 - 1) * msw, 0)), 0), 6)
             AS n_eff
    FROM fin
    """


_Q409_NOTES = (
    "CLUSTER DESIGN EFFECT (operators/mlmetrics.cluster_design_effect "
    "— Kish 1965 / Donner-Klar 2000: one-way-ANOVA ICC with the "
    "unequal-size n0 correction, DEFF = 1 + (mbar-1)*ICC, n_eff = "
    "N/DEFF — the factor an event-level test overstates its N by when "
    "randomization was by user): one map-combined cluster agg -> "
    "clusters-sized frame -> one scalar reduce; two exchanges at any "
    "size; decimal moment sums with 9dp-rounded S^2/m terms; "
    "degenerate inputs (J<2, N==J) report NULL diagnostics"
)

register("q409_cluster_design_effect", _q409_oracle(), _Q409_NOTES)(
    q409_cluster_design_effect
)


# --- q412: post-stratified lift ------------------------------------------------------


def q412_stratified_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-stratified A/B readout (operators/mlmetrics.
    stratified_lift): event values, strata = event_type, arms by user
    parity — naive and adjusted lift side by side."""
    from ..operators.mlmetrics import stratified_lift

    ev = read_table(spark, sf_dir, "events")
    armed = ev.select(
        F.col("event_type").alias("stratum"),
        F.when(F.col("user_id") % 2 == 0, F.lit("control"))
        .otherwise(F.lit("treatment"))
        .alias("arm"),
        "value",
    )
    return stratified_lift(
        armed, "stratum", "arm", "value", "control", "treatment"
    )


def _q412_oracle() -> str:
    from ..operators.aggregate import stable_sum_sql

    return f"""
    WITH base AS (
      SELECT event_type AS s, (user_id % 2 <> 0) AS t,
             CAST(value AS DOUBLE) AS v
      FROM events WHERE value IS NOT NULL
    ),
    per AS (
      SELECT s,
        CAST(SUM(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS ncs,
        CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nts,
        {stable_sum_sql("CASE WHEN NOT t THEN v END", 9)} AS svc,
        {stable_sum_sql("CASE WHEN t THEN v END", 9)} AS svt,
        {stable_sum_sql("CASE WHEN NOT t THEN round(v * v, 9) END", 9)}
          AS svvc,
        {stable_sum_sql("CASE WHEN t THEN round(v * v, 9) END", 9)} AS svvt
      FROM base GROUP BY s
    ),
    flagged AS (
      SELECT *, (ncs > 0 AND nts > 0) AS complete FROM per
    ),
    tot AS (
      SELECT CAST(SUM(CASE WHEN complete THEN ncs + nts ELSE 0 END)
                  AS BIGINT) AS nn,
             CAST(SUM(CASE WHEN complete THEN 1 ELSE 0 END) AS BIGINT)
               AS js,
             COUNT(*) AS jall
      FROM flagged
    ),
    terms AS (
      SELECT t.nn, t.js, t.jall, f.ncs, f.nts, f.svc, f.svt,
        round(CAST(f.ncs + f.nts AS DOUBLE) / t.nn
          * (f.svt / f.nts - f.svc / f.ncs), 9) AS wlift,
        round((CAST(f.ncs + f.nts AS DOUBLE) / t.nn)
          * (CAST(f.ncs + f.nts AS DOUBLE) / t.nn)
          * (COALESCE(((f.svvt - f.svt * f.svt / f.nts)
               / nullif(CAST(f.nts AS DOUBLE) - 1, 0))
               / CAST(f.nts AS DOUBLE), 0.0)
             + COALESCE(((f.svvc - f.svc * f.svc / f.ncs)
               / nullif(CAST(f.ncs AS DOUBLE) - 1, 0))
               / CAST(f.ncs AS DOUBLE), 0.0)), 9) AS wvar
      FROM flagged f CROSS JOIN tot t WHERE f.complete
    ),
    agg AS (
      SELECT nn, js, jall,
             CAST(SUM(ncs) AS BIGINT) AS n_control,
             CAST(SUM(nts) AS BIGINT) AS n_treatment,
             {stable_sum_sql("wlift", 9)} AS adj,
             {stable_sum_sql("wvar", 9)} AS var,
             {stable_sum_sql("svc", 9)} AS allc,
             {stable_sum_sql("svt", 9)} AS allt
      FROM terms GROUP BY nn, js, jall
    )
    SELECT js AS n_strata,
           CAST(jall - js AS BIGINT) AS n_strata_dropped,
           n_control, n_treatment,
           round(allt / n_treatment - allc / n_control, 6) AS naive_lift,
           round(adj, 6) AS adj_lift,
           round(sqrt(greatest(var, 0.0)), 6) AS se,
           round(adj / nullif(sqrt(greatest(var, 0.0)), 0), 6) AS z,
           COALESCE(abs(round(adj / nullif(sqrt(greatest(var, 0.0)), 0), 6))
                    > 1.959963984540054, FALSE) AS significant
    FROM agg
    """


_Q412_NOTES = (
    "POST-STRATIFIED LIFT (operators/mlmetrics.stratified_lift — "
    "Miratrix-Sekhon-Yu 2013: pooled stratum shares reweight per-"
    "(stratum,arm) means so stratum imbalance cannot masquerade as "
    "lift; naive lift emitted alongside so the confound is visible): "
    "one conditional-cell stratum agg -> strata-sized frame, complete-"
    "strata totals broadcast back, one scalar reduce; strata missing "
    "an arm are dropped AND counted (n_strata_dropped), weights "
    "renormalized; singleton-cell variance floors at 0 (conservative-"
    "down, documented)"
)

register("q412_stratified_lift", _q412_oracle(), _Q412_NOTES)(q412_stratified_lift)


# --- q422: model-propensity IPW lift ---------------------------------------------------


def _treat_expr():
    # treatment = the first ten sources (src0..src9): a deterministic,
    # text-correlated assignment so the NB propensity has signal
    return F.expr("substring(source, 4)").cast("int") < 10


_TREAT_SQL = "CAST(substr(source, 4) AS INT) < 10"


def _nb_logit_sql(pos_expr: str) -> str:
    """The q401 hashed-NB oracle chain (verbatim constants: m=64,
    k=0.5, km=32.0) with the positive-class predicate parameterized —
    yields CTEs ending in lg(doc_id, n_features, logit)."""
    from .llm import _TOKS_SQL

    return f"""toks AS ({_TOKS_SQL}),
    fb AS (
      SELECT doc_id, {pos_expr} AS pos, {_bucket_sql("f", 64)} AS bucket
      FROM (SELECT doc_id, lang, source, unnest({_FEATS_SQL}) AS f FROM toks)
    ),
    counts AS (
      SELECT bucket,
             CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS cp,
             CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS cn
      FROM fb GROUP BY bucket
    ),
    tots AS (SELECT SUM(cp) AS tp, SUM(cn) AS tn FROM counts),
    weights AS (
      SELECT r.range AS bucket,
             round(ln(((COALESCE(c.cp, 0) + 0.5) / (t.tp + 32.0))
                      / ((COALESCE(c.cn, 0) + 0.5) / (t.tn + 32.0))), 9)
               AS w
      FROM range(64) r LEFT JOIN counts c ON r.range = c.bucket
      CROSS JOIN tots t
    ),
    prior AS (
      SELECT round(ln(
        (SUM(CASE WHEN {pos_expr} THEN 1 ELSE 0 END) + 0.5)
        / (SUM(CASE WHEN {pos_expr} THEN 0 ELSE 1 END) + 0.5)), 9) AS bias
      FROM documents
    ),
    scored AS (
      SELECT b.doc_id, COUNT(*) AS n_features,
             SUM(CAST(w.w AS DECIMAL(38,12))) AS swd
      FROM fb b JOIN weights w USING (bucket) GROUP BY b.doc_id
    ),
    lg AS (
      SELECT s.doc_id, s.n_features,
             CAST(CAST(p.bias AS DECIMAL(38,12)) + s.swd AS DOUBLE)
               AS logit
      FROM scored s CROSS JOIN prior p
    )"""


def q422_ipw_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observational lift of n_chars between source groups via
    stabilization-free Hajek IPW, propensity = the q401 hashed-NB
    classifier trained on the treatment label itself
    (operators/mlmetrics.ipw_lift over llm/quality.hashed_nb_score)."""
    from ..llm.quality import hashed_nb_score, hashed_nb_train
    from ..operators.mlmetrics import ipw_lift

    docs = read_table(spark, sf_dir, "documents")
    labeled = docs.withColumn("_treat", _treat_expr())
    weights, prior = hashed_nb_train(labeled, "_treat", m=64, k=0.5)
    scored = hashed_nb_score(docs, weights, prior, m=64)
    j = scored.join(
        labeled.select("doc_id", "_treat", "n_chars"), "doc_id"
    )
    return ipw_lift(j, "_treat", "n_chars", "logit")


def _q422_oracle() -> str:
    from ..operators.aggregate import stable_sum_sql

    def arm_sum(cond: str, expr: str) -> str:
        return stable_sum_sql(f"CASE WHEN keep AND {cond} THEN {expr} END", 9)

    return f"""
    WITH {_nb_logit_sql(_TREAT_SQL)},
    lab AS (
      SELECT doc_id, {_TREAT_SQL} AS t, CAST(n_chars AS DOUBLE) AS y
      FROM documents
    ),
    base AS (
      SELECT l.t, l.y,
             round(1.0 / (1.0 + exp(-lg.logit)), 9) AS e
      FROM lg JOIN lab l ON lg.doc_id = l.doc_id
    ),
    kw AS (
      SELECT t, y, e, e >= 0.05 AND e <= 0.95 AS keep,
             CASE WHEN e >= 0.05 AND e <= 0.95 THEN
               CASE WHEN t THEN round(1.0 / e, 9)
                    ELSE round(1.0 / (1.0 - e), 9) END
             END AS w
      FROM base
    ),
    agg AS (
      SELECT
        CAST(SUM(CASE WHEN keep AND t THEN 1 ELSE 0 END) AS BIGINT)
          AS n_treat,
        CAST(SUM(CASE WHEN keep AND NOT t THEN 1 ELSE 0 END) AS BIGINT)
          AS n_control,
        CAST(SUM(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT)
          AS n_trimmed,
        {arm_sum('t', 'w')} AS sw1,
        {arm_sum('t', 'round(w * y, 9)')} AS swy1,
        {arm_sum('t', 'round(w * w, 9)')} AS sww1,
        {arm_sum('NOT t', 'w')} AS sw0,
        {arm_sum('NOT t', 'round(w * y, 9)')} AS swy0,
        {arm_sum('NOT t', 'round(w * w, 9)')} AS sww0
      FROM kw
    )
    SELECT n_treat, n_control, n_trimmed,
           round(swy1 / sw1, 6) AS mu_treat,
           round(swy0 / sw0, 6) AS mu_control,
           round(swy1 / sw1 - swy0 / sw0, 6) AS lift,
           round(sw1 * sw1 / sww1, 6) AS ess_treat,
           round(sw0 * sw0 / sww0, 6) AS ess_control
    FROM agg
    """


_Q422_NOTES = (
    "MODEL-PROPENSITY IPW LIFT (operators/mlmetrics.ipw_lift — "
    "Horvitz-Thompson 1952 / Hirano-Imbens-Ridder 2003 weighting, "
    "Crump et al. 2009 [0.05,0.95] trim; propensity = the q401 "
    "hashed-NB classifier, so the oracle NESTS the q401 chain verbatim "
    "with the treatment predicate): cell-propensity IPW with Hajek "
    "normalization is algebraically q412's post-stratification — this "
    "row earns its place by accepting an arbitrary MODEL's propensity, "
    "the form that survives when strata can't be enumerated. Hajek "
    "makes the stabilization constant cancel (documented, omitted). "
    "ONE conditional aggregate after the map-side scoring joins; "
    "e/w/terms at 9dp, DECIMAL(25,9) sums, Kish ESS per arm (q400 "
    "convention), 6dp out"
)

register("q422_ipw_lift", _q422_oracle(), _Q422_NOTES)(q422_ipw_lift)


# --- q425: delete-one-bucket jackknife -------------------------------------------------


def q425_jackknife_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-bucket jackknife CI for extendedprice-per-quantity
    with l_orderkey as the randomization unit (rows of one order share
    a bucket — the clustered-jackknife shape)
    (operators/mlmetrics.jackknife_ratio_ci)."""
    from ..operators.mlmetrics import jackknife_ratio_ci

    li = read_table(spark, sf_dir, "lineitem")
    return jackknife_ratio_ci(
        li, "l_extendedprice", "l_quantity", "l_orderkey", n_buckets=20
    )


def _q425_oracle() -> str:
    from ..functions.portable_hash import u32_md5_sql
    from ..operators.aggregate import stable_sum_sql
    from ..operators.mlmetrics import _Z_ALPHA_2

    z = repr(_Z_ALPHA_2[0.05])
    bucket = f"{u32_md5_sql('l_orderkey', 'jk')} % 20"
    return f"""
    WITH base AS (
      SELECT {bucket} AS b, l_extendedprice AS x, l_quantity AS y
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    ),
    pb AS (
      SELECT b, {stable_sum_sql('x', 9)} AS sx, {stable_sum_sql('y', 9)} AS sy,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM base GROUP BY b
    ),
    tot AS (
      SELECT {stable_sum_sql('sx', 9)} AS tsx, {stable_sum_sql('sy', 9)} AS tsy,
             CAST(COUNT(*) AS BIGINT) AS nb,
             CAST(SUM(cnt) AS BIGINT) AS n_units
      FROM pb
    ),
    loo AS (
      SELECT tsx, tsy, nb, n_units,
             round((tsx - sx) / (tsy - sy), 9) AS th
      FROM pb CROSS JOIN tot
    ),
    bar AS (
      SELECT round({stable_sum_sql('th', 9)} / COUNT(*), 9) AS th_bar
      FROM loo
    ),
    dev AS (
      SELECT tsx, tsy, nb, n_units,
             CAST(th - th_bar AS DECIMAL(18,9))
               * CAST(th - th_bar AS DECIMAL(18,9)) AS dev2
      FROM loo CROSS JOIN bar
    ),
    fin AS (
      SELECT tsx, tsy, nb, n_units, CAST(SUM(dev2) AS DOUBLE) AS ss
      FROM dev GROUP BY tsx, tsy, nb, n_units
    )
    SELECT round(round(tsx / tsy, 9), 6) AS theta,
           round(sqrt((CAST(nb AS DOUBLE) - 1.0) / CAST(nb AS DOUBLE) * ss),
                 6) AS se_jack,
           round(round(tsx / tsy, 9)
                 - {z} * sqrt((CAST(nb AS DOUBLE) - 1.0)
                              / CAST(nb AS DOUBLE) * ss), 6) AS ci_lo,
           round(round(tsx / tsy, 9)
                 + {z} * sqrt((CAST(nb AS DOUBLE) - 1.0)
                              / CAST(nb AS DOUBLE) * ss), 6) AS ci_hi,
           nb AS n_buckets, n_units
    FROM fin
    """


_Q425_NOTES = (
    "DELETE-ONE-BUCKET JACKKNIFE (operators/mlmetrics."
    "jackknife_ratio_ci — Quenouille 1956 / Tukey 1958; the hashed-"
    "bucket form is the standard web-scale variance estimator: B "
    "leave-one-out resamples cost ONE aggregate regardless of corpus "
    "size; buckets by the portable u32-md5 rule so any engine replays "
    "the assignment): the empirical complement to q408's analytic "
    "delta method — disagreement flags a strained linearization. One "
    "map-combined groupBy to a B-row frame + 1-row broadcasts; thetas "
    "9dp, deviations land exactly ON the 9dp grid and their squares "
    "ride EXACT DECIMAL(18,9)x(18,9) products (the q411 tied-products "
    "rule); sqrt libm, 6dp out"
)

register("q425_jackknife_ratio", _q425_oracle(), _Q425_NOTES)(q425_jackknife_ratio)


# --- q429: propensity-overlap diagnostic ---------------------------------------------


def q429_propensity_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positivity check for the q422 IPW readout: per-arm propensity
    histogram + per-bin overlap mass, propensity = the same q401
    hashed-NB logit (operators/mlmetrics.propensity_overlap)."""
    from ..llm.quality import hashed_nb_score, hashed_nb_train
    from ..operators.mlmetrics import propensity_overlap

    docs = read_table(spark, sf_dir, "documents")
    labeled = docs.withColumn("_treat", _treat_expr())
    weights, prior = hashed_nb_train(labeled, "_treat", m=64, k=0.5)
    scored = hashed_nb_score(docs, weights, prior, m=64)
    j = scored.join(labeled.select("doc_id", "_treat"), "doc_id")
    return propensity_overlap(j, "_treat", "logit", n_bins=10)


def _q429_oracle() -> str:
    return f"""
    WITH {_nb_logit_sql(_TREAT_SQL)},
    lab AS (SELECT doc_id, {_TREAT_SQL} AS t FROM documents),
    base AS (
      SELECT l.t,
             LEAST(CAST(floor(
               round(1.0 / (1.0 + exp(-lg.logit)), 9) * 10.0
             ) AS BIGINT), 9) AS bin
      FROM lg JOIN lab l ON lg.doc_id = l.doc_id
    ),
    per_bin AS (
      SELECT bin,
             CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS n_treat,
             CAST(SUM(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT)
               AS n_control
      FROM base GROUP BY bin
    ),
    tot AS (
      SELECT CAST(SUM(n_treat) AS BIGINT) AS tt,
             CAST(SUM(n_control) AS BIGINT) AS tc
      FROM per_bin
    )
    SELECT bin,
           round(CAST(bin AS DOUBLE) / 10.0, 6) AS e_lo,
           round(CAST(bin + 1 AS DOUBLE) / 10.0, 6) AS e_hi,
           n_treat, n_control,
           round(CAST(n_treat AS DOUBLE) / CAST(tt AS DOUBLE), 6)
             AS share_treat,
           round(CAST(n_control AS DOUBLE) / CAST(tc AS DOUBLE), 6)
             AS share_control,
           round(least(CAST(n_treat AS DOUBLE) / CAST(tt AS DOUBLE),
                       CAST(n_control AS DOUBLE) / CAST(tc AS DOUBLE)), 6)
             AS min_share
    FROM per_bin CROSS JOIN tot ORDER BY bin
    """


_Q429_NOTES = (
    "PROPENSITY-OVERLAP / POSITIVITY DIAGNOSTIC (operators/mlmetrics."
    "propensity_overlap — Austin 2011: weighting is only valid where "
    "BOTH arms carry propensity mass; trim bounds should be read off "
    "exactly this table, and sum(min_share) near 0 means no weighting "
    "estimator is trustworthy): the standing companion to q422, same "
    "q401 hashed-NB propensity so the oracle nests the same chain; ONE "
    "conditional aggregate to a bins-sized frame + 1-row arm totals; "
    "e at 9dp, bin = min(floor(e*bins), bins-1) on identical doubles, "
    "shares single divisions 6dp"
)

register("q429_propensity_overlap", _q429_oracle(), _Q429_NOTES)(
    q429_propensity_overlap
)


# --- q431: unbiased pass@k -------------------------------------------------------------


def q431_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased pass@{1,5,10} over per-user event 'attempts' (success =
    conversion event types) — the Chen et al. 2021 sampled-eval
    estimator (operators/mlmetrics.pass_at_k)."""
    from ..operators.mlmetrics import pass_at_k

    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_type").isin("purchase", "signup").alias("ok"),
    )
    return pass_at_k(ev, "user_id", "ok", ks=(1, 5, 10))


_Q431_ORACLE = """
    WITH pp AS (
      SELECT user_id AS prob, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type IN ('purchase', 'signup')
                           THEN 1 ELSE 0 END) AS BIGINT) AS c
      FROM events GROUP BY user_id
    ),
    ks AS (SELECT unnest([1, 5, 10]) AS k),
    pr AS (
      SELECT k,
             CASE WHEN n >= k THEN
               round(1.0 - list_reduce(
                 list_prepend(CAST(1.0 AS DOUBLE),
                   list_transform(generate_series(0, k - 1),
                     i -> CAST(n - c - i AS DOUBLE)
                          / CAST(n - i AS DOUBLE))),
                 (acc, x) -> acc * x), 9)
             END AS p
      FROM pp CROSS JOIN ks
    )
    SELECT CAST(k AS BIGINT) AS k,
           CAST(COUNT(p) AS BIGINT) AS n_problems,
           CASE WHEN COUNT(p) = 0 THEN NULL ELSE
             round(CAST(SUM(CAST(p AS DECIMAL(25,9))) AS DOUBLE)
                   / COUNT(p), 6)
           END AS mean_pass_at_k
    FROM pr GROUP BY k ORDER BY k
"""

_Q431_NOTES = (
    "UNBIASED PASS@K (operators/mlmetrics.pass_at_k — Chen et al. 2021 "
    "HumanEval eq. 1: 1 - C(n-c,k)/C(n,k) as the telescoping product, "
    "per problem, averaged equally across problems; the naive first-k "
    "estimator is biased under attempt subsampling): ONE corpus groupBy "
    "to a problems-sized frame + ks-sized literal explode + one k-keyed "
    "agg; the product is a FIXED-ORDER left fold of identical-operand "
    "IEEE divisions (Spark aggregate HOF == DuckDB list_reduce with a "
    "prepended 1.0 — fold-order-matched by construction), 9dp per "
    "problem on DECIMAL sums, 6dp out; n<k problems report NULL and "
    "are counted out of that k's mean, and the zero factor makes "
    "pass@k exactly 1 whenever n-c < k"
)

register("q431_pass_at_k", _Q431_ORACLE, _Q431_NOTES)(q431_pass_at_k)


# --- q432: best-of-n expected maximum ----------------------------------------------------


def q432_best_of_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbiased best-of-{1,5,10} expected max event value per user —
    the BoN reward-selection curve (operators/mlmetrics.
    best_of_n_value), companion to q431's pass@k."""
    from ..operators.mlmetrics import best_of_n_value

    ev = read_table(spark, sf_dir, "events")
    return best_of_n_value(ev, "user_id", "value", "event_id",
                           ks=(1, 5, 10))


_Q432_ORACLE = """
    WITH ranked AS (
      SELECT user_id AS prob, value AS s,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY value ASC, event_id ASC)
               AS BIGINT) AS i,
             CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
      FROM events WHERE value IS NOT NULL
    ),
    ks AS (SELECT unnest([1, 5, 10]) AS k),
    terms AS (
      SELECT prob, k,
        CASE WHEN n >= k THEN
          round(CASE WHEN k = 1 THEN 1.0 / CAST(n AS DOUBLE)
                ELSE list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
                       list_transform(generate_series(0, k - 2),
                         j -> CAST(i - 1 - j AS DOUBLE)
                              / CAST(n - j AS DOUBLE))),
                     (acc, x) -> acc * x)
                     * CAST(k AS DOUBLE) / CAST(n - (k - 1) AS DOUBLE)
                END * s, 9)
        END AS t
      FROM ranked CROSS JOIN ks
    ),
    pp AS (
      SELECT prob, k,
             CASE WHEN COUNT(t) > 0 THEN
               round(CAST(SUM(CAST(t AS DECIMAL(25,9))) AS DOUBLE), 9)
             END AS bo
      FROM terms GROUP BY prob, k
    )
    SELECT CAST(k AS BIGINT) AS k,
           CAST(COUNT(bo) AS BIGINT) AS n_problems,
           CASE WHEN COUNT(bo) = 0 THEN NULL ELSE
             round(CAST(SUM(CAST(bo AS DECIMAL(25,9))) AS DOUBLE)
                   / COUNT(bo), 6)
           END AS mean_best_of_k
    FROM pp GROUP BY k ORDER BY k
"""

_Q432_NOTES = (
    "BEST-OF-N EXPECTED MAXIMUM (operators/mlmetrics.best_of_n_value "
    "— the order-statistics BoN estimator, Nakano et al. 2021 WebGPT "
    "appendix: E[max of k] = sum_i s_(i) * C(i-1,k-1)/C(n,k) over "
    "ascending order statistics, the continuous companion to q431's "
    "pass@k for reward-model selection curves): ONE problem-keyed "
    "shuffle (rank window + agg share the key), ks-sized literal "
    "explode; the telescoped weight is a fixed-order left fold "
    "(Spark aggregate HOF == DuckDB list_reduce, the q431 pairing) "
    "whose zero factor pins w=0 exactly for i<k and whose weights sum "
    "to 1 by the hockey-stick identity; (score, event_id) rank "
    "tiebreak per SURVEY 5.3 rule 5; w*s at 9dp on DECIMAL sums, "
    "6dp out; n<k problems NULL and counted out"
)

register("q432_best_of_n", _Q432_ORACLE, _Q432_NOTES)(q432_best_of_n)


_PAIRS_SQL = f"""
  SELECT doc_id AS pair_id,
         CASE WHEN doc_id % 3 = 0 AND nxt IS NOT NULL THEN nxt
              ELSE array_to_string(list_slice(t, 1,
                     greatest(CAST(ceil(len(t) / 2.0) AS INTEGER), 1)), ' ')
         END AS cand,
         text AS ref
  FROM (SELECT doc_id, text,
               lead(text) OVER (PARTITION BY lang ORDER BY doc_id) AS nxt,
               {_T.format(c='text')} AS t
        FROM documents)
"""

_NORM_SQL = f"""
  SELECT pair_id, {_T.format(c='cand')} AS ct, {_T.format(c='rf')} AS rt
  FROM (SELECT pair_id, cand, ref AS rf FROM ({_PAIRS_SQL}))
"""


def _wgrams_sql(src: str, n: int) -> str:
    """DuckDB twin of functions/text.shingles_from_tokens over a token
    list column ``src`` (n=1 is the token list itself)."""
    if n == 1:
        return src
    return (
        f"CASE WHEN len({src}) >= {n} THEN "
        f"list_transform(generate_series(1, len({src}) - {n - 1}), "
        f"i -> array_to_string(list_slice({src}, i, i + {n - 1}), ' ')) "
        "ELSE CAST([] AS VARCHAR[]) END"
    )


def _eval_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("doc_id")
    t = tokens("text")
    half = F.array_join(
        F.slice(
            t, 1, F.greatest(F.ceil(F.size(t) / 2).cast("int"), F.lit(1))
        ),
        " ",
    )
    nxt = F.lead("text").over(w)
    return docs.select(
        F.col("doc_id").alias("pair_id"),
        F.when((F.col("doc_id") % 3 == 0) & nxt.isNotNull(), nxt)
        .otherwise(half)
        .alias("cand"),
        F.col("text").alias("ref"),
    )


# --- q433: token-level F1 + exact match (SQuAD) -----------------------------


def q433_token_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQuAD token-F1/EM (llm/texteval.token_f1) over the derived
    eval pairs — per pair the multiset overlap, single-division
    P/R/F1, and normalized exact match."""
    from ..llm.texteval import token_f1

    return token_f1(_eval_pairs(spark, sf_dir)).orderBy("pair_id")


def _q433_oracle() -> str:
    return f"""
    WITH norm AS ({_NORM_SQL}),
    base AS (
      SELECT pair_id, len(ct) AS n_cand, len(rt) AS n_ref,
             CASE WHEN array_to_string(ct, ' ') = array_to_string(rt, ' ')
                  THEN 1 ELSE 0 END AS exact_match
      FROM norm),
    cc AS (SELECT pair_id, tok, COUNT(*) AS c
           FROM (SELECT pair_id, unnest(ct) AS tok FROM norm)
           GROUP BY pair_id, tok),
    rc AS (SELECT pair_id, tok, COUNT(*) AS c
           FROM (SELECT pair_id, unnest(rt) AS tok FROM norm)
           GROUP BY pair_id, tok),
    ov AS (SELECT cc.pair_id, SUM(least(cc.c, rc.c)) AS overlap
           FROM cc JOIN rc ON cc.pair_id = rc.pair_id AND cc.tok = rc.tok
           GROUP BY cc.pair_id)
    SELECT b.pair_id,
           CAST(b.n_cand AS BIGINT) AS n_cand,
           CAST(b.n_ref AS BIGINT) AS n_ref,
           CAST(COALESCE(o.overlap, 0) AS BIGINT) AS overlap,
           round(CASE WHEN b.n_cand = 0 AND b.n_ref = 0 THEN 1.0
                      WHEN b.n_cand = 0 THEN 0.0
                      ELSE COALESCE(o.overlap, 0) / b.n_cand END, 6)
             AS precision,
           round(CASE WHEN b.n_cand = 0 AND b.n_ref = 0 THEN 1.0
                      WHEN b.n_ref = 0 THEN 0.0
                      ELSE COALESCE(o.overlap, 0) / b.n_ref END, 6)
             AS recall,
           round(CASE WHEN b.n_cand = 0 AND b.n_ref = 0 THEN 1.0
                      ELSE 2.0 * COALESCE(o.overlap, 0)
                           / (b.n_cand + b.n_ref) END, 6) AS f1,
           CAST(b.exact_match AS INTEGER) AS exact_match
    FROM base b LEFT JOIN ov o ON b.pair_id = o.pair_id
    ORDER BY b.pair_id
    """


_Q433_NOTES = (
    "TOKEN-LEVEL F1 + EXACT MATCH (llm/texteval.token_f1 — Rajpurkar "
    "et al. EMNLP 2016, the SQuAD answer metric; multiset overlap = "
    "sum of min(count_cand, count_ref) per token): every ratio is ONE "
    "IEEE division of exact LONGs — F1 via the multiset identity "
    "2*overlap/(n_cand+n_ref), no compounding; token explode -> "
    "(pair, tok) count agg per side -> inner equi-join -> pair-keyed "
    "reduce, pair-keyed end-to-end; both-empty pairs score 1 "
    "(vacuous), one-empty 0"
)

register("q433_token_f1", _q433_oracle(), _Q433_NOTES)(q433_token_f1)


# --- q434: corpus BLEU -------------------------------------------------------


def q434_bleu_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus BLEU-4 (llm/texteval.bleu_corpus) over the derived eval
    pairs — pooled clipped n-gram precisions, brevity penalty, and the
    geometric-mean BLEU, one row per order."""
    from ..llm.texteval import bleu_corpus

    return bleu_corpus(_eval_pairs(spark, sf_dir)).orderBy("n")


def _q434_oracle() -> str:
    grams_side = " UNION ALL ".join(
        f"SELECT pair_id, {n} AS n, unnest({_wgrams_sql('{col}', n)}) AS gram "
        "FROM norm"
        for n in (1, 2, 3, 4)
    )
    return f"""
    WITH norm AS ({_NORM_SQL}),
    cg AS (SELECT pair_id, n, gram, COUNT(*) AS c
           FROM ({grams_side.format(col='ct')}) GROUP BY pair_id, n, gram),
    rg AS (SELECT pair_id, n, gram, COUNT(*) AS c
           FROM ({grams_side.format(col='rt')}) GROUP BY pair_id, n, gram),
    ov AS (SELECT cg.n, SUM(least(cg.c, rg.c)) AS clipped
           FROM cg JOIN rg ON cg.pair_id = rg.pair_id AND cg.n = rg.n
                          AND cg.gram = rg.gram
           GROUP BY cg.n),
    tot AS (SELECT n.n,
                   SUM(greatest(len(ct) - n.n + 1, 0)) AS total
            FROM norm CROSS JOIN (VALUES (1), (2), (3), (4)) n(n)
            GROUP BY n.n),
    lens AS (SELECT SUM(len(ct)) AS c_len, SUM(len(rt)) AS r_len FROM norm),
    per_n AS (
      SELECT t.n, COALESCE(o.clipped, 0) AS clipped, t.total,
             CASE WHEN t.total > 0
                  THEN round(COALESCE(o.clipped, 0) / t.total, 9) END AS p_n
      FROM tot t LEFT JOIN ov o ON t.n = o.n),
    geo AS (
      SELECT min(p_n) AS pmin,
             SUM(CASE WHEN p_n > 0
                      THEN CAST(round(ln(p_n), 9) AS DECIMAL(25,9)) END)
               AS lnsum,
             COUNT(p_n) AS k
      FROM per_n)
    SELECT CAST(per_n.n AS INTEGER) AS n,
           CAST(per_n.clipped AS BIGINT) AS clipped,
           CAST(per_n.total AS BIGINT) AS total,
           round(p_n, 6) AS p_n,
           CAST(lens.c_len AS BIGINT) AS c_len,
           CAST(lens.r_len AS BIGINT) AS r_len,
           round(least(1.0, exp(1.0 - lens.r_len / lens.c_len)), 6) AS bp,
           round(CASE WHEN geo.pmin <= 0 THEN 0.0
                      ELSE least(1.0, exp(1.0 - lens.r_len / lens.c_len))
                           * exp(CAST(geo.lnsum AS DOUBLE) / geo.k) END, 6)
             AS bleu
    FROM per_n CROSS JOIN lens CROSS JOIN geo
    ORDER BY per_n.n
    """


_Q434_NOTES = (
    "CORPUS BLEU-4 (llm/texteval.bleu_corpus — Papineni et al. ACL "
    "2002): modified n-gram precision pooled over the corpus (clipped "
    "= sum min(count_cand, count_ref) per gram), brevity penalty "
    "min(1, e^(1-r/c)), geometric mean over effective orders; counts "
    "exact LONG, each p_n ONE IEEE division at 9dp, ln terms ride "
    "DECIMAL(25,9) so the 4-term sum is order-independent, exp at the "
    "6dp emit boundary (q379/q384 libm precedent); any p_n = 0 pins "
    "bleu = 0 (unsmoothed convention, documented); shared "
    "clipped_ngram_stats primitive with q435, pair-keyed exchanges + "
    "one 4-row reduce + 1-row broadcasts"
)

register("q434_bleu_corpus", _q434_oracle(), _Q434_NOTES)(q434_bleu_corpus)


# --- q435: ROUGE-N -----------------------------------------------------------


def q435_rouge_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1/2 (llm/texteval.rouge_n) over the derived eval pairs —
    per (pair, n) clipped overlap with reference-side recall (the
    classic ROUGE reading), precision and F1."""
    from ..llm.texteval import rouge_n

    return rouge_n(_eval_pairs(spark, sf_dir)).orderBy("pair_id", "n")


def _q435_oracle() -> str:
    grams_side = " UNION ALL ".join(
        f"SELECT pair_id, {n} AS n, unnest({_wgrams_sql('{col}', n)}) AS gram "
        "FROM norm"
        for n in (1, 2)
    )
    return f"""
    WITH norm AS ({_NORM_SQL}),
    cg AS (SELECT pair_id, n, gram, COUNT(*) AS c
           FROM ({grams_side.format(col='ct')}) GROUP BY pair_id, n, gram),
    rg AS (SELECT pair_id, n, gram, COUNT(*) AS c
           FROM ({grams_side.format(col='rt')}) GROUP BY pair_id, n, gram),
    ov AS (SELECT cg.pair_id, cg.n, SUM(least(cg.c, rg.c)) AS overlap
           FROM cg JOIN rg ON cg.pair_id = rg.pair_id AND cg.n = rg.n
                          AND cg.gram = rg.gram
           GROUP BY cg.pair_id, cg.n),
    tot AS (SELECT pair_id, n.n,
                   greatest(len(ct) - n.n + 1, 0) AS cand_grams,
                   greatest(len(rt) - n.n + 1, 0) AS ref_grams
            FROM norm CROSS JOIN (VALUES (1), (2)) n(n))
    SELECT t.pair_id, CAST(t.n AS INTEGER) AS n,
           CAST(COALESCE(o.overlap, 0) AS BIGINT) AS overlap,
           CAST(t.cand_grams AS BIGINT) AS cand_grams,
           CAST(t.ref_grams AS BIGINT) AS ref_grams,
           round(CASE WHEN t.cand_grams > 0
                      THEN COALESCE(o.overlap, 0) / t.cand_grams END, 6)
             AS precision,
           round(CASE WHEN t.ref_grams > 0
                      THEN COALESCE(o.overlap, 0) / t.ref_grams END, 6)
             AS recall,
           round(CASE WHEN t.cand_grams = 0 AND t.ref_grams = 0 THEN 1.0
                      ELSE 2.0 * COALESCE(o.overlap, 0)
                           / (t.cand_grams + t.ref_grams) END, 6) AS f1
    FROM tot t LEFT JOIN ov o ON t.pair_id = o.pair_id AND t.n = o.n
    ORDER BY t.pair_id, t.n
    """


_Q435_NOTES = (
    "ROUGE-1/2 (llm/texteval.rouge_n — Lin WAS 2004, the "
    "summarization recall metric; precision/F1 alongside per modern "
    "usage): same clipped_ngram_stats primitive as q434 (counts exact "
    "LONG, single IEEE divisions, F1 = 2*ov/(cg+rg)); sides with no "
    "grams degrade to NULL ratio, both-empty pairs F1 = 1 (vacuous); "
    "pair-keyed end-to-end"
)

register("q435_rouge_n", _q435_oracle(), _Q435_NOTES)(q435_rouge_n)


# --- q436: chrF --------------------------------------------------------------


def q436_chrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chrF (llm/texteval.chrf_score) over the derived eval pairs —
    character n-gram F2 over whitespace-stripped text, effective-order
    averaged."""
    from ..llm.texteval import chrf_score

    return chrf_score(_eval_pairs(spark, sf_dir)).orderBy("pair_id")


def _q436_oracle() -> str:
    def cgrams(src: str, n: int) -> str:
        return (
            f"CASE WHEN length({src}) >= {n} THEN "
            f"list_transform(generate_series(1, length({src}) - {n - 1}), "
            f"i -> substr({src}, i, {n})) ELSE CAST([] AS VARCHAR[]) END"
        )

    grams_side = " UNION ALL ".join(
        f"SELECT pair_id, {n} AS n, unnest({cgrams('{col}', n)}) AS gram "
        "FROM stripped"
        for n in (1, 2, 3, 4, 5, 6)
    )
    return f"""
    WITH stripped AS (
      SELECT pair_id,
             regexp_replace(lower(cand), '\\s+', '', 'g') AS cs,
             regexp_replace(lower(ref), '\\s+', '', 'g') AS rs
      FROM ({_PAIRS_SQL})),
    cg AS (SELECT pair_id, n, gram, COUNT(*) AS c
           FROM ({grams_side.format(col='cs')}) GROUP BY pair_id, n, gram),
    rg AS (SELECT pair_id, n, gram, COUNT(*) AS c
           FROM ({grams_side.format(col='rs')}) GROUP BY pair_id, n, gram),
    ov AS (SELECT cg.pair_id, cg.n, SUM(least(cg.c, rg.c)) AS ovl
           FROM cg JOIN rg ON cg.pair_id = rg.pair_id AND cg.n = rg.n
                          AND cg.gram = rg.gram
           GROUP BY cg.pair_id, cg.n),
    tot AS (SELECT pair_id, n.n,
                   greatest(length(cs) - n.n + 1, 0) AS cgr,
                   greatest(length(rs) - n.n + 1, 0) AS rgr
            FROM stripped
            CROSS JOIN (VALUES (1), (2), (3), (4), (5), (6)) n(n)),
    per_n AS (
      SELECT t.pair_id, t.n, COALESCE(o.ovl, 0) AS ovl, t.cgr, t.rgr
      FROM tot t LEFT JOIN ov o ON t.pair_id = o.pair_id AND t.n = o.n),
    per_pair AS (
      SELECT pair_id,
             SUM(CASE WHEN cgr > 0
                      THEN CAST(round(ovl / cgr, 9) AS DECIMAL(25,9)) END)
               AS psum,
             COUNT(CASE WHEN cgr > 0 THEN 1 END) AS pk,
             SUM(CASE WHEN rgr > 0
                      THEN CAST(round(ovl / rgr, 9) AS DECIMAL(25,9)) END)
               AS rsum,
             COUNT(CASE WHEN rgr > 0 THEN 1 END) AS rk,
             max(cgr) AS anyc, max(rgr) AS anyr
      FROM per_n GROUP BY pair_id)
    SELECT pair_id,
           round(CASE WHEN anyc = 0 AND anyr = 0 THEN 1.0
                      WHEN pk = 0 THEN 0.0
                      ELSE CAST(psum AS DOUBLE) / pk END, 6) AS chr_p,
           round(CASE WHEN anyc = 0 AND anyr = 0 THEN 1.0
                      WHEN rk = 0 THEN 0.0
                      ELSE CAST(rsum AS DOUBLE) / rk END, 6) AS chr_r,
           round(CASE WHEN anyc = 0 AND anyr = 0 THEN 1.0
                      WHEN anyc = 0 OR anyr = 0 OR pk = 0 OR rk = 0 THEN 0.0
                      WHEN CAST(psum AS DOUBLE) / pk = 0
                           OR CAST(rsum AS DOUBLE) / rk = 0 THEN 0.0
                      ELSE 5.0 * (CAST(psum AS DOUBLE) / pk)
                           * (CAST(rsum AS DOUBLE) / rk)
                           / (4.0 * (CAST(psum AS DOUBLE) / pk)
                              + (CAST(rsum AS DOUBLE) / rk)) END, 6) AS chrf
    FROM per_pair ORDER BY pair_id
    """


_Q436_NOTES = (
    "chrF (llm/texteval.chrf_score — Popovic WMT 2015, the "
    "tokenization-free character-n-gram F2 of WMT evals): n = 1..6 "
    "over whitespace-stripped lowercased text; per-order clipped "
    "ratios are single IEEE divisions at 9dp riding DECIMAL(25,9) "
    "sums, chrP/chrR averaged over the orders the side HAS grams for "
    "(sacrebleu effective-order handling), chrF = 5PR/(4P+R) fixed-"
    "form IEEE on identical doubles; pair-keyed char-gram explodes, "
    "nothing corpus-global"
)

register("q436_chrf", _q436_oracle(), _Q436_NOTES)(q436_chrf)


# --- q437: distinct-n diversity ----------------------------------------------


def q437_distinct_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n diversity per source (llm/texteval.distinct_n) —
    the mode-collapse audit: distinct/total n-grams, n = 1..3."""
    from ..llm.texteval import distinct_n

    docs = read_table(spark, sf_dir, "documents")
    return distinct_n(docs).orderBy("source", "n")


def _q437_oracle() -> str:
    grams = " UNION ALL ".join(
        f"SELECT source, {n} AS n, unnest({_wgrams_sql('t', n)}) AS gram "
        "FROM toks"
        for n in (1, 2, 3)
    )
    return f"""
    WITH toks AS (
      SELECT source, {_T.format(c='text')} AS t FROM documents),
    counted AS (
      SELECT source, n, gram, COUNT(*) AS c
      FROM ({grams}) GROUP BY source, n, gram)
    SELECT source, CAST(n AS INTEGER) AS n,
           CAST(SUM(c) AS BIGINT) AS total_grams,
           CAST(COUNT(*) AS BIGINT) AS distinct_grams,
           round(CAST(COUNT(*) AS BIGINT) / CAST(SUM(c) AS BIGINT), 6)
             AS distinct_ratio
    FROM counted GROUP BY source, n ORDER BY source, n
    """


_Q437_NOTES = (
    "DISTINCT-N DIVERSITY (llm/texteval.distinct_n — Li et al. NAACL "
    "2016, the dull-response/mode-collapse audit): distinct n-grams / "
    "total n-grams per group for n = 1..3; ONE (group, n, gram) count "
    "aggregate + (group, n) reduce, exact countDistinct documented "
    "for approx swap at 100 TB (the drop_boilerplate trade); ratio = "
    "ONE IEEE division of exact LONGs, 6dp"
)

register("q437_distinct_n", _q437_oracle(), _Q437_NOTES)(q437_distinct_n)


# --- q438: pooled self-BLEU --------------------------------------------------


def q438_self_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled leave-one-out self-similarity (llm/texteval.
    self_bleu_pool) — per (doc, n) the clipped precision of the doc's
    n-grams against the corpus pool minus itself."""
    from ..llm.texteval import self_bleu_pool

    docs = read_table(spark, sf_dir, "documents")
    return self_bleu_pool(docs).orderBy("doc_id", "n")


def _q438_oracle() -> str:
    grams = " UNION ALL ".join(
        f"SELECT doc_id, {n} AS n, unnest({_wgrams_sql('t', n)}) AS gram "
        "FROM toks"
        for n in (1, 2, 3)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, {_T.format(c='text')} AS t FROM documents),
    dc AS (
      SELECT doc_id, n, gram, COUNT(*) AS c
      FROM ({grams}) GROUP BY doc_id, n, gram),
    pool AS (SELECT n, gram, SUM(c) AS cp FROM dc GROUP BY n, gram)
    SELECT dc.doc_id, CAST(dc.n AS INTEGER) AS n,
           CAST(SUM(dc.c) AS BIGINT) AS doc_grams,
           CAST(SUM(least(dc.c, pool.cp - dc.c)) AS BIGINT) AS pool_overlap,
           round(CASE WHEN SUM(dc.c) > 0
                 THEN CAST(SUM(least(dc.c, pool.cp - dc.c)) AS BIGINT)
                      / CAST(SUM(dc.c) AS BIGINT) END, 6) AS self_p
    FROM dc JOIN pool ON dc.n = pool.n AND dc.gram = pool.gram
    GROUP BY dc.doc_id, dc.n ORDER BY dc.doc_id, dc.n
    """


_Q438_NOTES = (
    "POOLED SELF-BLEU (llm/texteval.self_bleu_pool — the bounded "
    "corpus-diversity companion to pairwise Self-BLEU, Zhu et al. "
    "SIGIR 2018 Texygen: each doc's grams clipped against the POOL "
    "MINUS ITSELF, min(c_d, C-c_d)/grams_d, instead of O(D^2) "
    "pairwise BLEU): ONE corpus (n, gram) aggregate + ONE gram-keyed "
    "shuffled equi-join (never broadcast — the gram table is "
    "vocab-sized, the scale path) + (doc, n) reduce; counts exact "
    "LONG, one IEEE division, 6dp"
)

register("q438_self_bleu", _q438_oracle(), _Q438_NOTES)(q438_self_bleu)


# --- q441: expected calibration error ----------------------------------------


def _scored_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic (label, probability) frame: label = lang='en',
    prob = 0.1 + 0.4u + 0.2y + 0.3v with u, v portable-hash uniforms —
    label-correlated but overlapping, so both binnings get mixed bins;
    replayed digit-for-digit by the oracle (the q380 md5 rule)."""
    from ..functions.portable_hash import u32_md5

    docs = read_table(spark, sf_dir, "documents")
    y = (F.col("lang") == "en").cast("int")
    u = (u32_md5(F.col("doc_id"), "eceU") % 1000) / F.lit(1000.0)
    v = (u32_md5(F.col("doc_id"), "eceV") % 1000) / F.lit(1000.0)
    return docs.select(
        y.alias("label"),
        F.round(
            F.lit(0.1) + F.lit(0.4) * u + F.lit(0.2) * y + F.lit(0.3) * v, 9
        ).alias("prob"),
    )


def q441_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ECE/MCE under equal-width AND equal-mass binning
    (operators/mlmetrics.ece_report) over the derived scored frame."""
    from ..operators.mlmetrics import ece_report

    return ece_report(
        _scored_docs(spark, sf_dir), "label", "prob", n_bins=10
    ).orderBy("scheme")


def _q441_oracle() -> str:
    from ..functions.portable_hash import u32_md5_sql

    u = u32_md5_sql("doc_id", "eceU")
    v = u32_md5_sql("doc_id", "eceV")
    prob = (
        f"round(0.1 + 0.4 * (({u}) % 1000) / 1000.0 "
        f"+ 0.2 * (CASE WHEN lang = 'en' THEN 1 ELSE 0 END) "
        f"+ 0.3 * (({v}) % 1000) / 1000.0, 9)"
    )

    def scheme(bin_expr: str, tag: str) -> str:
        return f"""
      SELECT '{tag}' AS scheme,
             CAST(COUNT(*) AS BIGINT) AS n_bins_used,
             CAST(SUM(n) AS BIGINT) AS n,
             round(CAST(SUM(CAST(round(abs(ny / n - CAST(ps AS DOUBLE) / n)
                                       * n, 9) AS DECIMAL(25,9)))
                        AS DOUBLE) / SUM(n), 6) AS ece,
             round(max(round(abs(ny / n - CAST(ps AS DOUBLE) / n), 9)), 6)
               AS mce
      FROM (SELECT {bin_expr} AS b, COUNT(*) AS n,
                   SUM(label) AS ny,
                   SUM(CAST(round(prob, 9) AS DECIMAL(25,9))) AS ps
            FROM scored GROUP BY 1)"""

    width = "least(9, CAST(floor(prob * 10) AS INTEGER))"
    mass = "(SELECT COUNT(*) FROM edges e WHERE e.e < scored.prob)"
    return f"""
    WITH scored AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
             {prob} AS prob
      FROM documents),
    cnt AS (SELECT COUNT(*) AS c FROM scored),
    ranked AS (
      SELECT prob, row_number() OVER (ORDER BY prob) AS rn FROM scored),
    edges AS (
      SELECT DISTINCT prob AS e FROM ranked
      WHERE EXISTS (SELECT 1 FROM generate_series(1, 9) g(i), cnt
                    WHERE ranked.rn = CAST(ceil(g.i * cnt.c / 10.0)
                                           AS BIGINT)))
    {scheme(width, 'width')}
    UNION ALL
    {scheme(mass, 'mass')}
    ORDER BY scheme
    """


_Q441_NOTES = (
    "EXPECTED/MAXIMUM CALIBRATION ERROR (operators/mlmetrics."
    "ece_report — Naeini et al. AAAI 2015; Guo et al. ICML 2017; "
    "adaptive equal-mass binning per Nixon et al. CVPR-W 2019): the "
    "scalar the calibration_report bins deliberately don't collapse "
    "to, under BOTH equal-width and exact-rank equal-mass bins; "
    "per-bin accuracy exact integer division, confidence a "
    "DECIMAL(25,9) sum of 9dp probs, |gap|*n riding decimal sums — "
    "one map-side bucket + one k-row agg + 1-row reduce per scheme; "
    "mass edges are the quantile_edges_exact fixture/oracle mode "
    "(driver-collected metadata, documented); probs derive from the "
    "portable-hash rule so the oracle replays digit-for-digit"
)

register("q441_ece", _q441_oracle(), _Q441_NOTES)(q441_ece)


# --- q444: 2x2 factorial interaction -----------------------------------------


def q444_factorial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2x2 factorial readout (operators/mlmetrics.factorial_interaction)
    over per-user event value sums, factors = portable-hash coin flips
    of the randomization unit (user_id) under two salts."""
    from ..functions.portable_hash import u32_md5
    from ..operators.mlmetrics import factorial_interaction

    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value"), 9).cast("decimal(25,9)"))
        .cast("double")
        .alias("metric")
    )
    fr = per_user.select(
        (u32_md5(F.col("user_id"), "fA") % 2).cast("int").alias("fa"),
        (u32_md5(F.col("user_id"), "fB") % 2).cast("int").alias("fb"),
        "metric",
    )
    return factorial_interaction(fr, "fa", "fb", "metric")


def _q444_oracle() -> str:
    from ..functions.portable_hash import u32_md5_sql
    from ..operators.mlmetrics import normal_p_two_sided_sql

    fa = f"({u32_md5_sql('user_id', 'fA')}) % 2"
    fb = f"({u32_md5_sql('user_id', 'fB')}) % 2"

    def m(t: str) -> str:
        return f"(CAST(s{t} AS DOUBLE) / n{t})"

    def v(t: str) -> str:
        return (
            f"(CASE WHEN n{t} >= 2 THEN (CAST(q{t} AS DOUBLE) "
            f"- CAST(s{t} AS DOUBLE) * CAST(s{t} AS DOUBLE) / n{t}) "
            f"/ (n{t} - 1) END)"
        )

    g = f"(({m('11')} - {m('10')}) - ({m('01')} - {m('00')}))"
    se2 = (
        f"(0 + {v('00')} / n00 + {v('01')} / n01 "
        f"+ {v('10')} / n10 + {v('11')} / n11)"
    )
    cells = ", ".join(
        f"SUM(CASE WHEN fa = {a} AND fb = {b} THEN 1 ELSE 0 END) AS n{a}{b}, "
        f"SUM(CASE WHEN fa = {a} AND fb = {b} "
        f"THEN CAST(v9 AS DECIMAL(25,9)) END) AS s{a}{b}, "
        f"SUM(CASE WHEN fa = {a} AND fb = {b} "
        f"THEN CAST(round(v9 * v9, 9) AS DECIMAL(38,18)) END) AS q{a}{b}"
        for a in (0, 1)
        for b in (0, 1)
    )
    return f"""
    WITH pu AS (
      SELECT user_id,
             CAST(SUM(CAST(round(value, 9) AS DECIMAL(25,9))) AS DOUBLE)
               AS metric
      FROM events GROUP BY user_id),
    fr AS (SELECT {fa} AS fa, {fb} AS fb, round(metric, 9) AS v9 FROM pu),
    w AS (SELECT {cells} FROM fr),
    z AS (SELECT *, {g} AS g, sqrt({se2}) AS se FROM w)
    SELECT CAST(n00 AS BIGINT) AS n_00, CAST(n01 AS BIGINT) AS n_01,
           CAST(n10 AS BIGINT) AS n_10, CAST(n11 AS BIGINT) AS n_11,
           round({m('00')}, 6) AS mean_00, round({m('01')}, 6) AS mean_01,
           round({m('10')}, 6) AS mean_10, round({m('11')}, 6) AS mean_11,
           round(({m('10')} + {m('11')}) / 2
                 - ({m('00')} + {m('01')}) / 2, 6) AS effect_a,
           round(({m('01')} + {m('11')}) / 2
                 - ({m('00')} + {m('10')}) / 2, 6) AS effect_b,
           round(g, 6) AS interaction,
           round(se, 6) AS se_interaction,
           round(g / se, 6) AS z_interaction,
           CASE WHEN se IS NOT NULL
                THEN {normal_p_two_sided_sql('(g / se)')} END
             AS p_interaction
    FROM z
    """


_Q444_NOTES = (
    "2x2 FACTORIAL INTERACTION (operators/mlmetrics."
    "factorial_interaction — Montgomery DoE ch. 5; Kohavi-Tang-Xu "
    "section 4: cell means, main effects, and the interaction "
    "contrast (m11-m10)-(m01-m00) with SE^2 = sum s_c^2/n_c — the "
    "does-A's-lift-depend-on-B question two separate A/B tests "
    "cannot answer): ONE conditional-cell aggregate over per-unit "
    "metrics (decimal-stabilized sums, DECIMAL(38,18) squares), "
    "scalar recombination in fixed-form IEEE; singleton/empty cells "
    "degrade SE/z/p to NULL (the q408 rule); z's p via the q407 "
    "Abramowitz-Stegun twin on the UNROUNDED z; factors are "
    "portable-hash coins so the oracle replays the assignment "
    "digit-for-digit"
)

register("q444_factorial", _q444_oracle(), _Q444_NOTES)(q444_factorial)


# --- q446: generation-eval corpus report (composition) -----------------------


def q446_eval_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level generation-eval report (composition, the q418
    class): exact-match rate and macro token-F1 (q433), macro ROUGE-1/2
    F1 (q435), and corpus BLEU (q434) over the shared eval pairs —
    ONE row, the scoreboard a model-eval pipeline publishes."""
    from ..llm.texteval import bleu_corpus, rouge_n, token_f1

    pairs = _eval_pairs(spark, sf_dir)
    dec = "decimal(25,9)"
    f1 = token_f1(pairs).agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.round(F.sum("exact_match") / F.count("*"), 6).alias("em_rate"),
        F.round(
            F.sum(F.col("f1").cast(dec)).cast("double") / F.count("*"), 6
        ).alias("mean_f1"),
    )
    r = rouge_n(pairs, ns=(1, 2)).agg(
        F.round(
            F.sum(F.when(F.col("n") == 1, F.col("f1").cast(dec))).cast(
                "double"
            )
            / F.count(F.when(F.col("n") == 1, 1)),
            6,
        ).alias("mean_rouge1_f1"),
        F.round(
            F.sum(F.when(F.col("n") == 2, F.col("f1").cast(dec))).cast(
                "double"
            )
            / F.count(F.when(F.col("n") == 2, 1)),
            6,
        ).alias("mean_rouge2_f1"),
    )
    b = bleu_corpus(pairs).agg(F.min("bleu").alias("bleu"))
    return f1.crossJoin(F.broadcast(r)).crossJoin(F.broadcast(b))


def _q446_oracle() -> str:
    return f"""
    WITH f1t AS ({_q433_oracle()}),
    rt AS ({_q435_oracle()}),
    bt AS ({_q434_oracle()})
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM f1t) AS n_pairs,
           (SELECT round(SUM(exact_match) / COUNT(*), 6) FROM f1t)
             AS em_rate,
           (SELECT round(CAST(SUM(CAST(f1 AS DECIMAL(25,9))) AS DOUBLE)
                         / COUNT(*), 6) FROM f1t) AS mean_f1,
           (SELECT round(CAST(SUM(CASE WHEN n = 1
                                  THEN CAST(f1 AS DECIMAL(25,9)) END)
                              AS DOUBLE)
                         / COUNT(CASE WHEN n = 1 THEN 1 END), 6)
            FROM rt) AS mean_rouge1_f1,
           (SELECT round(CAST(SUM(CASE WHEN n = 2
                                  THEN CAST(f1 AS DECIMAL(25,9)) END)
                              AS DOUBLE)
                         / COUNT(CASE WHEN n = 2 THEN 1 END), 6)
            FROM rt) AS mean_rouge2_f1,
           (SELECT min(bleu) FROM bt) AS bleu
    """


_Q446_NOTES = (
    "GENERATION-EVAL CORPUS REPORT (composition, the q418/q396 class "
    "— the one-row scoreboard an eval pipeline publishes): EM rate + "
    "macro token-F1 (q433) + macro ROUGE-1/2 F1 (q435) + corpus BLEU "
    "(q434) over the SHARED eval-pair derivation; the oracle NESTS "
    "the three component oracles verbatim as CTEs so metric semantics "
    "are byte-identical by construction — a report-level regression "
    "test over the whole texteval stack; macro means ride "
    "DECIMAL(25,9) sums of the 6dp per-pair values, scalar "
    "recombination via 1-row broadcasts"
)

register("q446_eval_report", _q446_oracle(), _Q446_NOTES)(q446_eval_report)


# --- q447/q448: paired system comparison -------------------------------------

# Two "systems" over the same items: candidate = the doc's first 1/2
# (system A) vs first 1/3 (system B) of tokens, both scored by token-F1
# against the full text — A should win on most items, with per-item
# magnitudes varying by length. Deterministic, replayed list-for-list.


def _paired_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.texteval import token_f1

    docs = read_table(spark, sf_dir, "documents")
    t = tokens("text")

    def sys_pairs(den: int) -> DataFrame:
        k = F.greatest(F.ceil(F.size(t) / float(den)).cast("int"), F.lit(1))
        return docs.select(
            F.col("doc_id").alias("pair_id"),
            F.array_join(F.slice(t, 1, k), " ").alias("cand"),
            F.col("text").alias("ref"),
        )

    fa = token_f1(sys_pairs(2)).select("pair_id", F.col("f1").alias("f1_a"))
    fb = token_f1(sys_pairs(3)).select("pair_id", F.col("f1").alias("f1_b"))
    return fa.join(fb, "pair_id")


_PAIRED_SQL = f"""
    toks AS (SELECT doc_id AS pair_id, {_T.format(c='text')} AS rt
             FROM documents),
    sl2 AS ({_sl_sql(2)}),
    sl3 AS ({_sl_sql(3)}),
    fa AS ({_f1_frac_sql(2, 'f1_a')}),
    fb AS ({_f1_frac_sql(3, 'f1_b')}),
    paired AS (
      SELECT fa.pair_id, round(fa.f1_a - fb.f1_b, 9) AS d
      FROM fa JOIN fb ON fa.pair_id = fb.pair_id)
"""


def q447_wilcoxon_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank (operators/mlmetrics.wilcoxon_signed_rank)
    over the paired per-doc token-F1 scores of the two truncation
    systems — 'is the 1/2-truncation better than the 1/3 on the same
    items?'."""
    from ..operators.mlmetrics import wilcoxon_signed_rank

    return wilcoxon_signed_rank(
        _paired_scores(spark, sf_dir), "f1_a", "f1_b"
    )


def _q447_oracle() -> str:
    from ..operators.mlmetrics import normal_p_two_sided_sql

    return f"""
    WITH {_PAIRED_SQL},
    zeros AS (SELECT CAST(COUNT(CASE WHEN d = 0 THEN 1 END) AS BIGINT)
                AS n_zero FROM paired),
    nz AS (SELECT d FROM paired WHERE d <> 0),
    perv AS (SELECT abs(d) AS av, COUNT(*) AS c,
                    SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS npos
             FROM nz GROUP BY abs(d)),
    ranked AS (SELECT c, npos,
                      SUM(c) OVER (ORDER BY av ROWS UNBOUNDED PRECEDING)
                        - c AS cb
               FROM perv),
    agg AS (SELECT CAST(SUM(c) AS BIGINT) AS n_pairs,
                   CAST(SUM(npos * (2 * cb + c + 1)) AS BIGINT) AS w2p,
                   CAST(SUM(c * c * c - c) AS BIGINT) AS tie
            FROM ranked),
    stat AS (
      SELECT n_pairs,
             w2p / 2.0 AS w_plus,
             CAST(n_pairs AS DOUBLE) * (CAST(n_pairs AS DOUBLE) + 1)
               / 2.0 - w2p / 2.0 AS w_minus,
             CASE WHEN n_pairs >= 1
                       AND (CAST(n_pairs AS DOUBLE)
                            * (CAST(n_pairs AS DOUBLE) + 1)
                            * (2 * CAST(n_pairs AS DOUBLE) + 1) / 24.0
                            - tie / 48.0) > 0
                  THEN (w2p / 2.0
                        - CAST(n_pairs AS DOUBLE)
                          * (CAST(n_pairs AS DOUBLE) + 1) / 4.0)
                       / sqrt(CAST(n_pairs AS DOUBLE)
                              * (CAST(n_pairs AS DOUBLE) + 1)
                              * (2 * CAST(n_pairs AS DOUBLE) + 1) / 24.0
                              - tie / 48.0)
             END AS z_raw
      FROM agg)
    SELECT stat.n_pairs, zeros.n_zero, stat.w_plus, stat.w_minus,
           round(stat.z_raw, 6) AS z,
           CASE WHEN stat.z_raw IS NOT NULL
                THEN {normal_p_two_sided_sql('stat.z_raw')} END
             AS p_two_sided
    FROM stat CROSS JOIN zeros
    """


_Q447_NOTES = (
    "WILCOXON SIGNED-RANK (operators/mlmetrics.wilcoxon_signed_rank — "
    "Wilcoxon 1945, the PAIRED companion to q326's rank-sum: same "
    "items scored under two systems, d = x-y, zeros dropped and "
    "counted, |d| average-ranked, W+ with the tie-corrected normal "
    "z and the q407 closed-form p): the mann_whitney integer-rank "
    "discipline — one hash agg by |d| VALUE, rank scan over DISTINCT "
    "values, 2*W+ = sum npos*(2*cum_before+c+1) an exact LONG; the "
    "paired frame is two token_f1 runs (1/2- vs 1/3-truncation "
    "systems) joined on the item key, replayed list-for-list"
)

register("q447_wilcoxon_paired", _q447_oracle(), _Q447_NOTES)(q447_wilcoxon_paired)


def q448_paired_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Koehn paired-bootstrap system comparison (operators/mlmetrics.
    paired_bootstrap_delta) over the same paired token-F1 scores —
    the delta CI and the fraction of resamples where A beats B."""
    from ..operators.mlmetrics import paired_bootstrap_delta

    return paired_bootstrap_delta(
        _paired_scores(spark, sf_dir), "f1_a", "f1_b", "pair_id",
        n_replicates=50, alpha=0.05,
    )


def _q448_oracle() -> str:
    from ..operators.mlmetrics import _poisson1_thresholds

    th = _poisson1_thresholds()
    hex6 = (
        "CAST(list_sum(list_transform(generate_series(1, 6), i -> "
        "CAST((strpos('0123456789abcdef', substr(md5(concat("
        "CAST(pair_id AS VARCHAR), ':', CAST(rep AS VARCHAR), ':pboot'"
        ")), i, 1)) - 1) AS BIGINT) "
        "* CAST(power(16, 6 - i) AS BIGINT))) AS BIGINT)"
    )
    ladder = f"CAST({len(th)} AS BIGINT)"
    for k in reversed(range(len(th))):
        ladder = f"CASE WHEN u < {th[k]!r} THEN {k} ELSE {ladder} END"
    return f"""
    WITH {_PAIRED_SQL},
    rep AS (
      SELECT p.pair_id, p.d, r.rep,
             ({hex6} + 0.5) / 16777216.0 AS u
      FROM paired p CROSS JOIN generate_series(1, 50) r(rep)),
    weighted AS (
      SELECT rep, CAST({ladder} AS BIGINT) AS w,
             CAST(d AS DECIMAL(25,9)) AS dv
      FROM rep),
    means AS (
      SELECT rep,
             CASE WHEN SUM(w) > 0
                  THEN CAST(SUM(dv * w) AS DOUBLE) / SUM(w) END AS m
      FROM weighted GROUP BY rep),
    mm AS (SELECT rep, m FROM means WHERE m IS NOT NULL),
    ranked AS (
      SELECT m, ROW_NUMBER() OVER (ORDER BY m, rep) AS rk FROM mm),
    ci AS (
      SELECT round(MAX(CASE WHEN rk = 2 THEN m END), 6) AS delta_ci_lo,
             round(MAX(CASE WHEN rk = 49 THEN m END), 6) AS delta_ci_hi,
             round(COUNT(CASE WHEN m > 0 THEN 1 END) / COUNT(*), 6)
               AS frac_a_wins
      FROM ranked),
    point AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             round(CAST(SUM(CAST(d AS DECIMAL(25,9))) AS DOUBLE)
                   / COUNT(*), 6) AS point_delta
      FROM paired)
    SELECT n, point_delta, delta_ci_lo, delta_ci_hi, frac_a_wins,
           CAST(50 AS BIGINT) AS n_replicates
    FROM point CROSS JOIN ci
    """


_Q448_NOTES = (
    "KOEHN PAIRED BOOTSTRAP (operators/mlmetrics."
    "paired_bootstrap_delta — Koehn EMNLP 2004, the MT significance "
    "test of record: resample the eval set, read how often system A "
    "beats B and the delta percentile CI; pairing cancels per-item "
    "difficulty): the q237 deterministic Poisson(1)-bootstrap "
    "machinery (inverse-CDF ladder over the portable md5 uniform, "
    "identical literals both engines) applied to per-item deltas at "
    "DECIMAL(25,9); x50 map-side explode of the projected delta, one "
    "50-group agg, 50-row rank select"
)

register("q448_paired_bootstrap", _q448_oracle(), _Q448_NOTES)(q448_paired_bootstrap)


# --- q451: contingency chi-squared + Cramér's V ------------------------------


def q451_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson independence test (operators/mlmetrics.contingency_chi2)
    over the documents lang x source contingency table."""
    from ..operators.mlmetrics import contingency_chi2

    docs = read_table(spark, sf_dir, "documents")
    return contingency_chi2(docs, "lang", "source")


def _q451_oracle() -> str:
    from ..operators.mlmetrics import normal_p_two_sided_sql

    z = (
        "(pow(CAST(chi2r AS DOUBLE) / k, 1.0 / 3.0)"
        " - (1.0 - 2.0 / (9.0 * k))) * sqrt(9.0 * k / 2.0)"
    )
    return f"""
    WITH cells AS (
      SELECT lang AS r, source AS c, CAST(COUNT(*) AS BIGINT) AS o
      FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
      GROUP BY lang, source),
    rm AS (SELECT r, CAST(SUM(o) AS BIGINT) AS rmv FROM cells GROUP BY r),
    cm AS (SELECT c, CAST(SUM(o) AS BIGINT) AS cmv FROM cells GROUP BY c),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
                   CAST(COUNT(DISTINCT r) AS BIGINT) AS n_rows,
                   CAST(COUNT(DISTINCT c) AS BIGINT) AS n_cols
            FROM cells),
    joined AS (
      SELECT cells.o, rm.rmv, cm.cmv, tot.n, tot.n_rows, tot.n_cols,
             rm.rmv * cm.cmv / tot.n AS e
      FROM cells JOIN rm ON cells.r = rm.r
                 JOIN cm ON cells.c = cm.c
                 CROSS JOIN tot),
    agg AS (
      SELECT MAX(n) AS n, MAX(n_rows) AS n_rows, MAX(n_cols) AS n_cols,
             SUM(CAST(round((o - e) * (o - e) / e, 9) AS DECIMAL(25,9)))
               AS chi2r,
             round(MIN(e), 6) AS min_expected
      FROM joined),
    terms AS (
      SELECT n, n_rows, n_cols, chi2r, min_expected,
             (n_rows - 1) * (n_cols - 1) AS dof,
             CAST((n_rows - 1) * (n_cols - 1) AS DOUBLE) AS k
      FROM agg),
    stat AS (
      SELECT *, CASE WHEN dof > 0 THEN {z} END AS z_raw,
             CASE WHEN dof > 0 THEN
               sqrt(CAST(chi2r AS DOUBLE)
                    / (n * least(n_rows - 1, n_cols - 1))) END AS v_raw
      FROM terms)
    SELECT CAST(n AS BIGINT) AS n, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_cols AS BIGINT) AS n_cols,
           CAST(dof AS BIGINT) AS dof,
           round(CASE WHEN dof > 0 THEN CAST(chi2r AS DOUBLE) END, 6)
             AS chi2,
           round(v_raw, 6) AS cramers_v,
           min_expected,
           round(z_raw, 6) AS z_wh,
           round(CASE WHEN z_raw IS NULL THEN NULL
                      WHEN z_raw >= 0
                      THEN {normal_p_two_sided_sql('z_raw')} / 2
                      ELSE 1 - {normal_p_two_sided_sql('z_raw')} / 2 END, 9)
             AS p_value
    FROM stat
    """


_Q451_NOTES = (
    "PEARSON CONTINGENCY CHI-SQUARED + CRAMER'S V (operators/"
    "mlmetrics.contingency_chi2 — Pearson 1900; Cramer 1946; the "
    "chi2-family completion next to mcnemar (paired binary) and "
    "srm_check (1-D goodness-of-fit): are two corpus labelings "
    "related at all?): ONE (row, col) count aggregate to a "
    "cells-sized frame + margins over cells broadcast back; (O-E)^2/E "
    "terms ride DECIMAL(25,9); the p-value is IN-ENGINE via the "
    "Wilson-Hilferty cube-root normal approximation (PNAS 1931, "
    "~1e-3 accuracy documented) through the q407 tail; min_expected "
    "emitted so the caller can check the classic E>=5 validity rule"
)

register("q451_contingency", _q451_oracle(), _Q451_NOTES)(q451_contingency)


# --- q455: DeLong correlated-AUC test ----------------------------------------


def q455_delong(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeLong correlated-AUC comparison (operators/mlmetrics.
    delong_auc_test): two deterministic scorers over the same docs —
    scorer A strongly label-correlated, scorer B weakly — tested for
    a real AUC difference on the SAME items."""
    from ..functions.portable_hash import u32_md5
    from ..operators.mlmetrics import delong_auc_test

    docs = read_table(spark, sf_dir, "documents")
    y = (F.col("lang") == "en").cast("int")
    ua = (u32_md5(F.col("doc_id"), "dlA") % 1000) / F.lit(1000.0)
    ub = (u32_md5(F.col("doc_id"), "dlB") % 1000) / F.lit(1000.0)
    scored = docs.select(
        y.alias("label"),
        F.round(ua + F.lit(0.3) * y, 9).alias("score_a"),
        F.round(ub + F.lit(0.15) * y, 9).alias("score_b"),
    )
    return delong_auc_test(scored, "label", "score_a", "score_b")


def _q455_oracle() -> str:
    from ..functions.portable_hash import u32_md5_sql
    from ..operators.mlmetrics import normal_p_two_sided_sql

    ua = u32_md5_sql("doc_id", "dlA")
    ub = u32_md5_sql("doc_id", "dlB")

    def side(col: str, tag: str) -> str:
        return f"""
    pv{tag} AS (
      SELECT {col} AS v, SUM(y) AS pv, SUM(1 - y) AS nv
      FROM scored GROUP BY {col}),
    cum{tag} AS (
      SELECT v, pv, nv,
             SUM(pv) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - pv
               AS pb,
             SUM(nv) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - nv
               AS nb
      FROM pv{tag}),
    pl{tag} AS (
      SELECT v AS {tag}_v,
             round((2 * nb + nv) / (2.0 * tot.nn), 9) AS {tag}_p10,
             round((2 * (tot.np - pb - pv) + pv) / (2.0 * tot.np), 9)
               AS {tag}_p01
      FROM cum{tag} CROSS JOIN tot)"""

    def cov(sx: str, sy: str, sxy: str, n: str) -> str:
        return (
            f"(CASE WHEN {n} >= 2 THEN (CAST({sxy} AS DOUBLE) "
            f"- CAST({sx} AS DOUBLE) * CAST({sy} AS DOUBLE) / {n}) "
            f"/ ({n} - 1) END)"
        )

    var = (
        f"(({cov('sap','sap','saap','np_')} + {cov('sbp','sbp','sbbp','np_')}"
        f" - 2 * {cov('sap','sbp','sabp','np_')}) / np_"
        f" + ({cov('san','san','saan','nn_')} + {cov('sbn','sbn','sbbn','nn_')}"
        f" - 2 * {cov('san','sbn','sabn','nn_')}) / nn_)"
    )
    return f"""
    WITH scored AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             round((({ua}) % 1000) / 1000.0
                   + 0.3 * (CASE WHEN lang = 'en' THEN 1 ELSE 0 END), 9)
               AS sa,
             round((({ub}) % 1000) / 1000.0
                   + 0.15 * (CASE WHEN lang = 'en' THEN 1 ELSE 0 END), 9)
               AS sb
      FROM documents),
    tot AS (SELECT CAST(SUM(y) AS BIGINT) AS np,
                   CAST(SUM(1 - y) AS BIGINT) AS nn FROM scored),
    {side('sa', 'a')},
    {side('sb', 'b')},
    items AS (
      SELECT s.y,
             CASE WHEN s.y = 1 THEN pa.a_p10 ELSE pa.a_p01 END AS qa,
             CASE WHEN s.y = 1 THEN pb.b_p10 ELSE pb.b_p01 END AS qb
      FROM scored s
      JOIN pla pa ON s.sa = pa.a_v
      JOIN plb pb ON s.sb = pb.b_v),
    m AS (
      SELECT CAST(COUNT(CASE WHEN y = 1 THEN 1 END) AS BIGINT) AS np_,
             SUM(CASE WHEN y = 1 THEN CAST(qa AS DECIMAL(25,9)) END)
               AS sap,
             SUM(CASE WHEN y = 1 THEN CAST(qb AS DECIMAL(25,9)) END)
               AS sbp,
             SUM(CASE WHEN y = 1
                 THEN CAST(round(qa * qa, 9) AS DECIMAL(38,18)) END)
               AS saap,
             SUM(CASE WHEN y = 1
                 THEN CAST(round(qb * qb, 9) AS DECIMAL(38,18)) END)
               AS sbbp,
             SUM(CASE WHEN y = 1
                 THEN CAST(round(qa * qb, 9) AS DECIMAL(38,18)) END)
               AS sabp,
             CAST(COUNT(CASE WHEN y = 0 THEN 1 END) AS BIGINT) AS nn_,
             SUM(CASE WHEN y = 0 THEN CAST(qa AS DECIMAL(25,9)) END)
               AS san,
             SUM(CASE WHEN y = 0 THEN CAST(qb AS DECIMAL(25,9)) END)
               AS sbn,
             SUM(CASE WHEN y = 0
                 THEN CAST(round(qa * qa, 9) AS DECIMAL(38,18)) END)
               AS saan,
             SUM(CASE WHEN y = 0
                 THEN CAST(round(qb * qb, 9) AS DECIMAL(38,18)) END)
               AS sbbn,
             SUM(CASE WHEN y = 0
                 THEN CAST(round(qa * qb, 9) AS DECIMAL(38,18)) END)
               AS sabn
      FROM items),
    stat AS (
      SELECT np_ AS n_pos, nn_ AS n_neg,
             CAST(sap AS DOUBLE) / np_ AS auc_a,
             CAST(sbp AS DOUBLE) / np_ AS auc_b,
             CASE WHEN {var} > 0 THEN sqrt({var}) END AS se_raw
      FROM m)
    SELECT n_pos, n_neg,
           round(auc_a, 6) AS auc_a,
           round(auc_b, 6) AS auc_b,
           round(auc_a - auc_b, 6) AS delta_auc,
           round(se_raw, 6) AS se,
           round((auc_a - auc_b) / se_raw, 6) AS z,
           CASE WHEN se_raw IS NOT NULL
                THEN {normal_p_two_sided_sql('((auc_a - auc_b) / se_raw)')}
           END AS p_two_sided
    FROM stat
    """


_Q455_NOTES = (
    "DELONG CORRELATED-AUC TEST (operators/mlmetrics.delong_auc_test "
    "— DeLong, DeLong & Clarke-Pearson Biometrics 1988: two scorers "
    "on the SAME items, is the AUC difference real? The paired test "
    "next to q326's single-sample Mann-Whitney — unpaired comparison "
    "overstates the variance): AUC via placement values V10/V01 from "
    "cumulative class counts over DISTINCT-value frames (the "
    "mann_whitney integer-rank discipline — placements are exact "
    "rationals, one IEEE division each at 9dp), value-keyed joins "
    "back to items, ONE 1-row paired-covariance reduce "
    "(DECIMAL(25,9)/(38,18) moments, sample n-1 denominators); "
    "deterministic portable-hash scorers replay digit-for-digit"
)

register("q455_delong", _q455_oracle(), _Q455_NOTES)(q455_delong)


# --- q456: two-proportion test with Newcombe interval ------------------------


def q456_two_proportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z + Newcombe hybrid-score CI (operators/
    mlmetrics.two_proportion_test) over per-user conversion by
    portable-hash arm."""
    from ..functions.portable_hash import u32_md5
    from ..operators.mlmetrics import two_proportion_test

    ev = read_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("converted")
    )
    arms = per_user.select(
        F.when(u32_md5(F.col("user_id"), "tp") % 2 == 0, "a")
        .otherwise("b")
        .alias("arm"),
        F.col("converted"),
    )
    return two_proportion_test(arms, "arm", "converted", "a", "b")


def _q456_oracle() -> str:
    from ..functions.portable_hash import u32_md5_sql
    from ..operators.mlmetrics import normal_p_two_sided_sql

    z = 1.959964
    z2 = z * z
    coin = f"CASE WHEN ({u32_md5_sql('user_id', 'tp')}) % 2 = 0 " \
           "THEN 'a' ELSE 'b' END"

    def wilson(x: str, n: str, p: str):
        nn = f"CAST({n} AS DOUBLE)"
        center = f"(({p} + {z2!r} / (2 * {nn})) / (1 + {z2!r} / {nn}))"
        half = (
            f"({z!r} * sqrt({p} * (1 - {p}) / {nn} "
            f"+ {z2!r} / (4 * {nn} * {nn})) / (1 + {z2!r} / {nn}))"
        )
        return f"({center} - {half})", f"({center} + {half})"

    la, ua = wilson("x_a", "n_a", "pa")
    lb, ub = wilson("x_b", "n_b", "pb")
    return f"""
    WITH pu AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY user_id),
    arms AS (SELECT {coin} AS arm, converted FROM pu),
    agg AS (
      SELECT CAST(COUNT(CASE WHEN arm = 'a' THEN 1 END) AS BIGINT)
               AS n_a,
             CAST(COALESCE(SUM(CASE WHEN arm = 'a' THEN converted END),
                           0) AS BIGINT) AS x_a,
             CAST(COUNT(CASE WHEN arm = 'b' THEN 1 END) AS BIGINT)
               AS n_b,
             CAST(COALESCE(SUM(CASE WHEN arm = 'b' THEN converted END),
                           0) AS BIGINT) AS x_b
      FROM arms),
    rates AS (
      SELECT *, x_a / CAST(n_a AS DOUBLE) AS pa,
             x_b / CAST(n_b AS DOUBLE) AS pb
      FROM agg),
    stat AS (
      SELECT *,
             pa - pb AS d,
             (x_a + x_b) / CAST(n_a + n_b AS DOUBLE) AS pp
      FROM rates),
    full_ AS (
      SELECT *,
             CASE WHEN sqrt(pp * (1 - pp) * (1 / CAST(n_a AS DOUBLE)
                  + 1 / CAST(n_b AS DOUBLE))) > 0
                  THEN d / sqrt(pp * (1 - pp)
                       * (1 / CAST(n_a AS DOUBLE)
                          + 1 / CAST(n_b AS DOUBLE)))
             END AS z_raw,
             d - sqrt((pa - {la}) * (pa - {la})
                      + ({ub} - pb) * ({ub} - pb)) AS lo_raw,
             d + sqrt(({ua} - pa) * ({ua} - pa)
                      + (pb - {lb}) * (pb - {lb})) AS hi_raw
      FROM stat)
    SELECT n_a, x_a, round(pa, 6) AS rate_a,
           n_b, x_b, round(pb, 6) AS rate_b,
           round(d, 6) AS diff,
           round(z_raw, 6) AS z_stat,
           CASE WHEN z_raw IS NOT NULL
                THEN {normal_p_two_sided_sql('z_raw')} END AS p_two_sided,
           round(lo_raw, 6) AS ci_lo,
           round(hi_raw, 6) AS ci_hi
    FROM full_
    """


_Q456_NOTES = (
    "TWO-PROPORTION Z + NEWCOMBE HYBRID-SCORE CI (operators/"
    "mlmetrics.two_proportion_test — Newcombe Statistics in Medicine "
    "1998 method 10: the difference-of-proportions interval built "
    "from the two Wilson intervals, never outside [-1,1], sane at "
    "p-hat in {0,1} where Wald collapses; the difference companion "
    "to q421's single-proportion Wilson form; pooled z with the q407 "
    "p): ONE conditional aggregate over per-unit conversions; z_crit "
    "and z_crit^2 ship as identical literals to both engines (q421 "
    "convention); all downstream fixed-form IEEE on identical "
    "doubles, sqrt at the 6dp emit"
)

register("q456_two_proportion", _q456_oracle(), _Q456_NOTES)(q456_two_proportion)


_LONG_SQL = " UNION ALL ".join(
    f"SELECT pair_id AS i, 'd{d}' AS t, f1_d{d} AS v FROM wide"
    for d in _DENS
)


def _wh_p_sql(chi2: str, dof: str) -> str:
    from ..operators.mlmetrics import normal_p_two_sided_sql

    k = f"CAST({dof} AS DOUBLE)"
    z = (
        f"((pow({chi2} / {k}, 1.0 / 3.0)"
        f" - (1.0 - 2.0 / (9.0 * {k}))) * sqrt(9.0 * {k} / 2.0))"
    )
    p2 = normal_p_two_sided_sql(z)
    return (
        f"round(CASE WHEN {z} >= 0 THEN {p2} / 2 "
        f"ELSE 1 - {p2} / 2 END, 9)"
    )


def _long_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared (pair, system, f1) long frame of the k-system
    family — the q457 union fan-out over the checkpointed wide
    derivation."""
    wide = _multi_sys_scores(spark, sf_dir)
    long_ = None
    for den in _DENS:
        part = wide.select(
            F.col("pair_id"),
            F.lit(f"d{den}").alias("sys"),
            F.col(f"f1_d{den}").alias("f1"),
        )
        long_ = part if long_ is None else long_.unionByName(part)
    return long_


def q457_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test (operators/mlmetrics.friedman_test) across
    the four truncation systems on the same items — the omnibus
    'does ANY system rank better?' before pairwise signed-ranks."""
    from ..operators.mlmetrics import friedman_test

    return friedman_test(_long_frame(spark, sf_dir), "pair_id", "sys", "f1")


def _q457_oracle() -> str:
    return f"""
    WITH {_multi_sql()},
    long_ AS ({_LONG_SQL}),
    ranked AS (
      SELECT i, t,
             (2 * rnk + cnt - 1) / 2.0 AS r
      FROM (SELECT i, t, v,
                   rank() OVER (PARTITION BY i ORDER BY v) AS rnk,
                   COUNT(*) OVER (PARTITION BY i, v) AS cnt
            FROM long_)),
    per_t AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS n_items,
             SUM(CAST(round(r, 9) AS DECIMAL(25,9))) AS rsum,
             SUM(CAST(round(r * r, 9) AS DECIMAL(25,9))) AS r2
      FROM ranked GROUP BY t),
    scal AS (
      SELECT CAST(MAX(n_items) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS kk,
             CAST(SUM(r2) AS DOUBLE) AS a1
      FROM per_t),
    ssq AS (
      SELECT CAST(SUM(CAST(round(
               (CAST(rsum AS DOUBLE) - n * (kk + 1) / 2.0)
               * (CAST(rsum AS DOUBLE) - n * (kk + 1) / 2.0), 9)
               AS DECIMAL(25,9))) AS DOUBLE) AS ss,
             MAX(n) AS n, MAX(kk) AS kk, MAX(a1) AS a1
      FROM per_t CROSS JOIN scal),
    stat AS (
      SELECT CASE WHEN kk >= 2 AND n >= 1
                       AND (a1 - CAST(n AS DOUBLE) * CAST(kk AS DOUBLE)
                            * (CAST(kk AS DOUBLE) + 1)
                            * (CAST(kk AS DOUBLE) + 1) / 4.0) > 0
                  THEN (CAST(kk AS DOUBLE) - 1) * ss
                       / (a1 - CAST(n AS DOUBLE) * CAST(kk AS DOUBLE)
                          * (CAST(kk AS DOUBLE) + 1)
                          * (CAST(kk AS DOUBLE) + 1) / 4.0)
             END AS chi2_raw, kk
      FROM ssq)
    SELECT per_t.t AS treatment, per_t.n_items,
           scal.kk AS k_treatments,
           round(CAST(per_t.rsum AS DOUBLE), 6) AS rank_sum,
           round(CAST(per_t.rsum AS DOUBLE) / per_t.n_items, 6)
             AS mean_rank,
           round(stat.chi2_raw, 6) AS chi2_f,
           CASE WHEN stat.chi2_raw IS NOT NULL
                THEN {_wh_p_sql('stat.chi2_raw', '(stat.kk - 1)')} END
             AS p_value,
           CAST(0 AS BIGINT) AS n_incomplete
    FROM per_t CROSS JOIN scal CROSS JOIN stat
    ORDER BY treatment
    """


_Q457_NOTES = (
    "FRIEDMAN RANK TEST (operators/mlmetrics.friedman_test — Friedman "
    "JASA 1937, ties per Conover 1999: the K-SYSTEM generalization of "
    "q447's signed-rank — k models on the SAME items, the omnibus "
    "gate before pairwise comparisons): within-item average ranks are "
    "exact half-integers ((2*rank_min + ties - 1)/2) riding "
    "DECIMAL(25,9); item-keyed rank windows over k-row partitions "
    "(tiny, uniform), one treatment reduce + 1-row recombination; "
    "tie-corrected T = (k-1)*SS/(A1-C1); upper-tail p via the q451 "
    "Wilson-Hilferty chi2 tail at k-1 dof; complete blocks only "
    "(listwise, counted)"
)

register("q457_friedman", _q457_oracle(), _Q457_NOTES)(q457_friedman)


def q458_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q (operators/mlmetrics.cochran_q_test) over the four
    systems' pass/fail verdicts (f1 >= 0.6) on the same items — do
    the gates' pass rates differ beyond per-item difficulty?"""
    from ..operators.mlmetrics import cochran_q_test

    passes = _long_frame(spark, sf_dir).select(
        "pair_id", "sys", (F.col("f1") >= 0.6).cast("int").alias("pass_flag")
    )
    return cochran_q_test(passes, "pair_id", "sys", "pass_flag")


def _q458_oracle() -> str:
    passes = " UNION ALL ".join(
        f"SELECT pair_id AS i, 'd{d}' AS t, "
        f"CASE WHEN f1_d{d} >= 0.6 THEN 1 ELSE 0 END AS x FROM wide"
        for d in _DENS
    )
    return f"""
    WITH {_multi_sql()},
    long_ AS ({passes}),
    li AS (SELECT i, CAST(SUM(x) AS BIGINT) AS l FROM long_ GROUP BY i),
    istats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(l) AS BIGINT) AS nn,
             CAST(SUM(l * l) AS BIGINT) AS l2
      FROM li),
    g AS (SELECT t, CAST(SUM(x) AS BIGINT) AS gj FROM long_ GROUP BY t),
    kf AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS k FROM long_),
    agg AS (
      SELECT CAST(SUM(CAST(round(
               (CAST(gj AS DOUBLE) - nn / CAST(k AS DOUBLE))
               * (CAST(gj AS DOUBLE) - nn / CAST(k AS DOUBLE)), 9)
               AS DECIMAL(25,9))) AS DOUBLE) AS ss,
             MAX(n) AS n, MAX(nn) AS nn, MAX(l2) AS l2, MAX(k) AS k
      FROM g CROSS JOIN istats CROSS JOIN kf),
    stat AS (
      SELECT *, CASE WHEN k >= 2
                          AND (CAST(k AS DOUBLE) * nn - l2) > 0
                     THEN CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) - 1)
                          * ss / (CAST(k AS DOUBLE) * nn - l2)
                END AS q_raw
      FROM agg)
    SELECT n AS n_items, k AS k_treatments, nn AS n_total,
           round(q_raw, 6) AS q_stat,
           CASE WHEN q_raw IS NOT NULL
                THEN {_wh_p_sql('q_raw', '(k - 1)')} END AS p_value,
           CAST(0 AS BIGINT) AS n_incomplete
    FROM stat
    """


_Q458_NOTES = (
    "COCHRAN'S Q (operators/mlmetrics.cochran_q_test — Cochran "
    "Biometrika 1950: the k-system generalization of q322-class "
    "McNemar — k gates pass/fail the SAME documents, do pass rates "
    "differ beyond per-item difficulty?): counts exact LONG "
    "end-to-end (column totals G_j, row totals L_i, one item reduce "
    "+ one treatment reduce + 1-row recombination); unanimous rows "
    "cancel algebraically; upper-tail p via the Wilson-Hilferty chi2 "
    "tail at k-1 dof; complete blocks only (listwise, counted)"
)

register("q458_cochran_q", _q458_oracle(), _Q458_NOTES)(q458_cochran_q)


# --- q466 Kendall's W --------------------------------------------------------


def q466_kendalls_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance
    (operators/mlmetrics.kendalls_w) with the eval PAIRS as judges and
    the four truncation systems as ranked objects — the effect-size
    companion to q457's Friedman omnibus on the same frame."""
    from ..operators.mlmetrics import kendalls_w

    long_ = _long_frame(spark, sf_dir)
    return kendalls_w(long_, "pair_id", "sys", "f1").orderBy("object")


def _q466_oracle() -> str:
    return f"""
    WITH {_multi_sql()},
    long_ AS ({_LONG_SQL}),
    ranked AS (
      SELECT i, t, (2 * rnk + cnt - 1) / 2.0 AS r, cnt AS tsz
      FROM (SELECT i, t, v,
                   rank() OVER (PARTITION BY i ORDER BY v) AS rnk,
                   COUNT(*) OVER (PARTITION BY i, v) AS cnt
            FROM long_)),
    ties AS (
      SELECT CAST(SUM(tsz * tsz - 1) AS BIGINT) AS tt,
             CAST(COUNT(DISTINCT i) AS BIGINT) AS k
      FROM ranked),
    per_o AS (
      SELECT t, SUM(CAST(round(r, 9) AS DECIMAL(25,9))) AS rsum
      FROM ranked GROUP BY t),
    scal AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM per_o),
    agg AS (
      SELECT CAST(SUM(CAST(round(
               (CAST(rsum AS DOUBLE) - k * (nn + 1) / 2.0)
               * (CAST(rsum AS DOUBLE) - k * (nn + 1) / 2.0), 9)
               AS DECIMAL(25,9))) AS DOUBLE) AS s,
             MAX(nn) AS nn, MAX(k) AS k, MAX(tt) AS tt
      FROM per_o CROSS JOIN scal CROSS JOIN ties),
    stat AS (
      SELECT k, nn,
             CASE WHEN k >= 1 AND nn >= 2
                       AND (CAST(k AS DOUBLE) * k
                            * (CAST(nn AS DOUBLE) * nn * nn - nn)
                            - k * tt) > 0
                  THEN 12.0 * s
                       / (CAST(k AS DOUBLE) * k
                          * (CAST(nn AS DOUBLE) * nn * nn - nn)
                          - k * tt) END AS w_raw
      FROM agg),
    stat2 AS (
      SELECT k, nn, w_raw,
             CAST(k AS DOUBLE) * (nn - 1) * w_raw AS chi2_raw
      FROM stat)
    SELECT per_o.t AS object,
           round(CAST(per_o.rsum AS DOUBLE), 6) AS rank_sum,
           round(CAST(per_o.rsum AS DOUBLE) / stat2.k, 6) AS mean_rank,
           stat2.k AS n_judges,
           stat2.nn AS n_objects,
           round(w_raw, 6) AS w,
           round(chi2_raw, 6) AS chi2,
           CASE WHEN chi2_raw IS NOT NULL
                THEN {_wh_p_sql('chi2_raw', '(stat2.nn - 1)')} END
             AS p_value,
           CAST(0 AS BIGINT) AS n_incomplete
    FROM per_o CROSS JOIN stat2
    ORDER BY object
    """


_Q466_NOTES = (
    "KENDALL'S W (operators/mlmetrics.kendalls_w — Kendall & "
    "Babington Smith 1939, tie correction per Siegel & Castellan "
    "1988: the concordance EFFECT SIZE next to q457's Friedman "
    "omnibus — k judges x n objects, W in [0,1]): judge-keyed rank "
    "windows over n-row partitions, half-integer average ranks on "
    "DECIMAL(25,9), tie term as an exact LONG row-sum (t^2-1 per "
    "row), one object reduce + 1-row recombination; chi2 = k(n-1)W "
    "at n-1 dof via the q451 Wilson-Hilferty tail; complete judges "
    "only (listwise, counted); NULL rows filtered before ranking "
    "(the ADVICE r14 friedman rule)"
)

register("q466_kendalls_w", _q466_oracle(), _Q466_NOTES)(q466_kendalls_w)


# --- q467 Page's trend test --------------------------------------------------

# increasing-trend order: larger truncation denominator = shorter
# candidate = lower f1, so the hypothesized ascending-f1 order is
# d6 < d4 < d3 < d2
_PAGE_ORDER = ["d6", "d4", "d3", "d2"]


def q467_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L test (operators/mlmetrics.page_trend_test) for the
    a-priori ordered alternative 'less truncation ranks higher' over
    the four-system frame — the trend-powered refinement of q457."""
    from ..operators.mlmetrics import page_trend_test

    long_ = _long_frame(spark, sf_dir)
    return page_trend_test(long_, "pair_id", "sys", "f1", _PAGE_ORDER)


def _q467_oracle() -> str:
    from ..operators.mlmetrics import normal_p_two_sided_sql

    k = len(_PAGE_ORDER)
    w_case = "CASE t " + " ".join(
        f"WHEN '{t}' THEN {j + 1}" for j, t in enumerate(_PAGE_ORDER)
    ) + " END"
    return f"""
    WITH {_multi_sql()},
    long0 AS ({_LONG_SQL}),
    long_ AS (SELECT i, t, v, {w_case} AS w FROM long0
              WHERE {w_case} IS NOT NULL),
    ranked AS (
      SELECT i, w, (2 * rnk + cnt - 1) / 2.0 AS r
      FROM (SELECT i, w, v,
                   rank() OVER (PARTITION BY i ORDER BY v) AS rnk,
                   COUNT(*) OVER (PARTITION BY i, v) AS cnt
            FROM long_)),
    agg AS (
      SELECT SUM(CAST(round(w * r, 9) AS DECIMAL(25,9))) AS l,
             CAST(COUNT(DISTINCT i) AS BIGINT) AS n
      FROM ranked),
    stat AS (
      SELECT n, CAST(l AS DOUBLE) AS l_raw,
             n * {k}.0 * {k + 1} * {k + 1} / 4.0 AS mean_raw,
             n * {k}.0 * {k} * {k + 1} * {k + 1} * {k - 1} / 144.0
               AS var_raw
      FROM agg),
    stat2 AS (
      SELECT n, l_raw, mean_raw,
             CASE WHEN n >= 1 AND var_raw > 0
                  THEN (l_raw - mean_raw) / sqrt(var_raw) END AS z_raw
      FROM stat)
    SELECT n AS n_items,
           CAST({k} AS BIGINT) AS k_treatments,
           round(l_raw, 6) AS l_stat,
           round(mean_raw, 6) AS mean_l,
           round(z_raw, 6) AS z,
           round(CASE WHEN z_raw >= 0
                      THEN {normal_p_two_sided_sql('z_raw')} / 2
                      ELSE 1 - {normal_p_two_sided_sql('z_raw')} / 2
                 END, 9) AS p_one_sided,
           CAST(0 AS BIGINT) AS n_incomplete
    FROM stat2
    """


_Q467_NOTES = (
    "PAGE'S L TREND TEST (operators/mlmetrics.page_trend_test — Page "
    "JASA 1963: the ordered-alternative refinement of Friedman — "
    "when systems carry an a-priori order (increasing truncation "
    "severity), L = sum j*R_j detects the monotone trend the omnibus "
    "wastes power on): the q457 rank discipline (half-integer "
    "average ranks on DECIMAL(25,9), item-keyed windows), position "
    "weights via a map-side array_position (no join), classic "
    "no-tie null moments (documented), one-sided upper p via the "
    "q407 closed-form tail; complete items only over the ordered "
    "treatment set"
)

register("q467_page_trend", _q467_oracle(), _Q467_NOTES)(q467_page_trend)


# --- q468 Jonckheere-Terpstra ------------------------------------------------

_JT_ORDER = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def q468_jonckheere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered-groups trend test
    (operators/mlmetrics.jonckheere_terpstra) of order totals across
    the five priority classes — the between-subjects counterpart of
    q467 (independent groups, no shared items)."""
    from ..operators.mlmetrics import jonckheere_terpstra

    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").cast("double").alias("val"),
    )
    return jonckheere_terpstra(orders, "grp", "val", _JT_ORDER)


def _q468_oracle() -> str:
    from ..operators.mlmetrics import normal_p_two_sided_sql

    og_case = "CASE o_orderpriority " + " ".join(
        f"WHEN '{g}' THEN {j + 1}" for j, g in enumerate(_JT_ORDER)
    ) + " END"
    return f"""
    WITH base AS (
      SELECT {og_case} AS og, CAST(o_totalprice AS DOUBLE) AS v
      FROM orders
      WHERE {og_case} IS NOT NULL AND o_totalprice IS NOT NULL),
    counts AS (
      SELECT og, v, CAST(COUNT(*) AS BIGINT) AS c
      FROM base GROUP BY og, v),
    vals AS (SELECT DISTINCT v FROM counts),
    grps AS (SELECT DISTINCT og FROM counts),
    grid AS (SELECT og, v FROM vals CROSS JOIN grps),
    filled AS (
      SELECT grid.og, grid.v, COALESCE(counts.c, 0) AS c
      FROM grid LEFT JOIN counts
        ON grid.og = counts.og AND grid.v = counts.v),
    cums AS (
      SELECT og, v,
             SUM(c) OVER (PARTITION BY og ORDER BY v
                          ROWS UNBOUNDED PRECEDING) - c AS below,
             c AS cs
      FROM filled),
    twoj AS (
      SELECT CAST(SUM(2 * t.c * s.below + s.cs * t.c) AS BIGINT) AS tj
      FROM cums s JOIN counts t ON s.v = t.v AND s.og < t.og),
    perg AS (SELECT og, CAST(COUNT(*) AS BIGINT) AS ng
             FROM base GROUP BY og),
    gstats AS (
      SELECT CAST(SUM(ng) AS BIGINT) AS N,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(ng * ng) AS BIGINT) AS n2,
             CAST(SUM(ng * (ng - 1) * (2 * ng + 5)) AS BIGINT) AS g25,
             CAST(SUM(ng * (ng - 1) * (ng - 2)) AS BIGINT) AS g3,
             CAST(SUM(ng * (ng - 1)) AS BIGINT) AS g2
      FROM perg),
    pv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS tv
           FROM base GROUP BY v),
    vstats AS (
      SELECT CAST(SUM(tv * (tv - 1) * (2 * tv + 5)) AS BIGINT) AS t25,
             CAST(SUM(tv * (tv - 1) * (tv - 2)) AS BIGINT) AS t3,
             CAST(SUM(tv * (tv - 1)) AS BIGINT) AS t2
      FROM pv),
    stat AS (
      SELECT N, k,
             CAST(tj AS DOUBLE) / 2.0 AS jt,
             (CAST(N AS DOUBLE) * N - n2) / 4.0 AS mean_raw,
             (CAST(N AS DOUBLE) * (N - 1) * (2 * N + 5) - g25 - t25)
               / 72.0
             + CAST(g3 AS DOUBLE) * t3
               / (36.0 * N * (CAST(N AS DOUBLE) - 1) * (N - 2))
             + CAST(g2 AS DOUBLE) * t2
               / (8.0 * N * (CAST(N AS DOUBLE) - 1)) AS var_raw
      FROM twoj CROSS JOIN gstats CROSS JOIN vstats),
    stat2 AS (
      SELECT N, k, jt, mean_raw, var_raw,
             CASE WHEN k >= 2 AND N >= 3 AND var_raw > 0
                  THEN (jt - mean_raw) / sqrt(var_raw) END AS z_raw
      FROM stat)
    SELECT N AS n_total, k AS k_groups,
           round(jt, 6) AS jt_stat,
           round(mean_raw, 6) AS mean_jt,
           round(var_raw, 6) AS var_jt,
           round(z_raw, 6) AS z,
           CASE WHEN z_raw IS NOT NULL
                THEN {normal_p_two_sided_sql('z_raw')} END
             AS p_two_sided
    FROM stat2
    """


_Q468_NOTES = (
    "JONCKHEERE-TERPSTRA (operators/mlmetrics.jonckheere_terpstra — "
    "Jonckheere Biometrika 1954 / Terpstra 1952, tie-corrected null "
    "variance per Hollander & Wolfe 1999 §6.2: ordered-trend test "
    "across INDEPENDENT groups, the between-subjects counterpart of "
    "Page's L): NO pairwise value join — per-(group,value) counts, "
    "group-partitioned cumulative windows over the merged value "
    "grid, and an EQUI-join on the value key with the group order as "
    "a post-join filter (never a theta key); 2J is an exact LONG; "
    "tie-corrected variance from three closed-form count aggregates"
)

register("q468_jonckheere", _q468_oracle(), _Q468_NOTES)(q468_jonckheere)


# --- q469 one-way ICC --------------------------------------------------------


def q469_icc_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way random-effects ICC (operators/mlmetrics.icc_oneway)
    treating the four systems' f1 scores as interchangeable ratings of
    each pair — the variance-decomposition reliability readout next to
    q459's Cronbach alpha on the same frame."""
    from ..operators.mlmetrics import icc_oneway

    long_ = _long_frame(spark, sf_dir)
    return icc_oneway(long_, "pair_id", "f1")


def _q469_oracle() -> str:
    return f"""
    WITH {_multi_sql()},
    long_ AS ({_LONG_SQL}),
    per_item AS (
      SELECT i, CAST(COUNT(*) AS BIGINT) AS ni,
             SUM(CAST(round(v, 9) AS DECIMAL(25,9))) AS si,
             SUM(CAST(round(v * v, 9) AS DECIMAL(25,9))) AS qi
      FROM long_ WHERE v IS NOT NULL GROUP BY i),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(ni) AS BIGINT) AS ntot,
             SUM(si) AS s,
             CAST(SUM(qi) AS DOUBLE) AS q,
             CAST(SUM(CAST(round(
               CAST(si AS DOUBLE) * CAST(si AS DOUBLE) / ni, 9)
               AS DECIMAL(25,9))) AS DOUBLE) AS sb,
             CAST(SUM(ni * ni) AS BIGINT) AS n2
      FROM per_item),
    stat AS (
      SELECT n, ntot,
             sb - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / ntot AS ssb,
             q - sb AS ssw,
             n >= 2 AND ntot > n AS ok,
             (CAST(ntot AS DOUBLE) - CAST(n2 AS DOUBLE) / ntot)
               / (n - 1) AS k0_raw
      FROM agg),
    ms AS (
      SELECT n, ntot,
             CASE WHEN ok THEN ssb / (n - 1) END AS msb,
             CASE WHEN ok THEN ssw / (ntot - n) END AS msw,
             CASE WHEN ok THEN k0_raw END AS k0
      FROM stat)
    SELECT n AS n_items, ntot AS n_total,
           round(k0, 6) AS k0,
           round(msb, 6) AS msb,
           round(msw, 6) AS msw,
           round(CASE WHEN msw > 0 THEN msb / msw END, 6) AS f_stat,
           round(CASE WHEN msw > 0 AND (msb + (k0 - 1) * msw) <> 0
                      THEN (msb - msw) / (msb + (k0 - 1) * msw) END, 6)
             AS icc1,
           round(CASE WHEN msb <> 0 AND msw > 0
                      THEN (msb - msw) / msb END, 6) AS icc1k
    FROM ms
    """


_Q469_NOTES = (
    "ONE-WAY RANDOM ICC (operators/mlmetrics.icc_oneway — Shrout & "
    "Fleiss 1979 Case 1 with the unbalanced-design k0 estimator: "
    "ICC(1) single-rating and ICC(1,k) mean-rating reliability, the "
    "variance-decomposition companion to Cronbach q459): ONE "
    "item-keyed aggregate (decimal moment sums, S_i^2/n_i terms as "
    "9dp IEEE divisions back onto decimal) + ONE 1-row reduce; F "
    "reported without a tail p (F distribution out of closed-form "
    "scope, documented)"
)

register("q469_icc_oneway", _q469_oracle(), _Q469_NOTES)(q469_icc_oneway)


# --- generation-eval closers: q461-q465 --------------------------------------


def q461_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level edit-distance battery
    (llm/texteval.edit_distance_pairs — codepoint Levenshtein, CER,
    normalized similarity) over the derived eval pairs; the whole
    operator is JVM codegen (Spark's built-in levenshtein), zero
    exchanges."""
    from ..llm.texteval import edit_distance_pairs

    return edit_distance_pairs(_eval_pairs(spark, sf_dir)).orderBy(
        "pair_id"
    )


def _q461_oracle() -> str:
    return f"""
    WITH normed AS (
      SELECT pair_id,
             trim(regexp_replace(lower(cand), '\\s+', ' ', 'g')) AS nc,
             trim(regexp_replace(lower(ref), '\\s+', ' ', 'g')) AS nr
      FROM ({_PAIRS_SQL})),
    d AS (
      SELECT pair_id,
             CAST(length(nc) AS BIGINT) AS len_cand,
             CAST(length(nr) AS BIGINT) AS len_ref,
             CAST(levenshtein(nc, nr) AS BIGINT) AS edit_dist
      FROM normed)
    SELECT pair_id, len_cand, len_ref, edit_dist,
           round(CASE WHEN len_cand = 0 AND len_ref = 0 THEN 0.0
                      WHEN len_ref = 0 THEN NULL
                      ELSE CAST(edit_dist AS DOUBLE) / len_ref END, 6)
             AS cer,
           round(CASE WHEN len_cand = 0 AND len_ref = 0 THEN 1.0
                      ELSE 1.0 - CAST(edit_dist AS DOUBLE)
                           / greatest(len_cand, len_ref) END, 6)
             AS norm_sim
    FROM d ORDER BY pair_id
    """


_Q461_NOTES = (
    "CHAR EDIT-DISTANCE BATTERY (llm/texteval.edit_distance_pairs — "
    "Levenshtein 1966; CER, the ASR/OCR error metric of record, and "
    "normalized similarity): lowercase + whitespace-collapse "
    "normalization (distance measures content, not spacing — "
    "documented), then Spark's BUILT-IN codepoint levenshtein — the "
    "whole operator is map-side JVM codegen, ZERO exchanges, zero "
    "Python; both engines' levenshtein verified codepoint-based (the "
    "chr(300) probe); ref-empty cer degrades to NULL (documented)"
)

register("q461_edit_distance", _q461_oracle(), _Q461_NOTES)(q461_edit_distance)


def q462_wer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-level edit distance / WER (llm/texteval.word_error_rate —
    shift-free TER, documented) over the derived eval pairs; the
    grouped-Arrow slow-path contract (bounded eval set, never
    corpus x corpus)."""
    from ..llm.texteval import word_error_rate

    return word_error_rate(_eval_pairs(spark, sf_dir)).orderBy("pair_id")


def _q462_oracle() -> str:
    # edit distance is invariant under any per-pair token bijection, so
    # the oracle relabels each distinct token to a unique SINGLE-BYTE
    # printable ASCII char (chr(32+pos), pos 1..94) and runs DuckDB's
    # native levenshtein on the encoded strings — DuckDB's levenshtein
    # counts BYTES, not codepoints (probed: a 2-byte-char prefix pair
    # read 2x its codepoint distance), so the relabel alphabet must
    # stay single-byte. Valid for per-pair vocab <= 94: the fixture
    # maxes at 31 at every scale; larger vocabs hit the NULL guard and
    # fail the compare LOUDLY instead of silently mismatching. The
    # operator itself (numpy DP) is vocab-unbounded —
    # list_distinct's element order doesn't matter, only injectivity.
    enc = (
        "COALESCE(list_aggregate(list_transform({side}, x -> "
        "chr(CASE WHEN len(vocab) <= 94 "
        "THEN 32 + list_position(vocab, x) END)), "
        "'string_agg', ''), '')"
    )
    return f"""
    WITH norm AS ({_NORM_SQL}),
    vocabed AS (
      SELECT pair_id, ct, rt,
             list_distinct(list_concat(ct, rt)) AS vocab
      FROM norm),
    encoded AS (
      SELECT pair_id,
             CAST(len(ct) AS BIGINT) AS n_cand,
             CAST(len(rt) AS BIGINT) AS n_ref,
             {enc.format(side='ct')} AS ec,
             {enc.format(side='rt')} AS er
      FROM vocabed),
    d AS (
      SELECT pair_id, n_cand, n_ref,
             CAST(levenshtein(ec, er) AS BIGINT) AS word_dist
      FROM encoded)
    SELECT pair_id, n_cand, n_ref, word_dist,
           round(CASE WHEN n_cand = 0 AND n_ref = 0 THEN 0.0
                      WHEN n_ref = 0 THEN NULL
                      ELSE CAST(word_dist AS DOUBLE) / n_ref END, 6)
             AS wer
    FROM d ORDER BY pair_id
    """


_Q462_NOTES = (
    "WORD ERROR RATE / SHIFT-FREE TER (llm/texteval.word_error_rate — "
    "the ASR metric of record; = TER without block shifts, Snover et "
    "al. AMTA 2006, deviation documented): O(|c|*|r|) DP per pair as "
    "an Arrow-batched mapInPandas with a row-vectorized numpy kernel "
    "(insertion recurrence collapsed to a running min via the "
    "(m-j)+j accumulate identity) — the grouped-Arrow bounded-eval "
    "contract; SQL oracle via bijection invariance: relabel tokens to "
    "codepoints, native levenshtein (surrogate block skipped); "
    "randomized cross-check vs a reference DP in tests/test_round15"
)

register("q462_wer", _q462_oracle(), _Q462_NOTES)(q462_wer)


def q463_chrf_pp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chrF++ (llm/texteval.chrf_pp — chrF with the word-order
    component, sacrebleu chrF2++ parameters) over the derived eval
    pairs."""
    from ..llm.texteval import chrf_pp

    return chrf_pp(_eval_pairs(spark, sf_dir)).orderBy("pair_id")


def _q463_oracle() -> str:
    def cgrams(src: str, n: int) -> str:
        return (
            f"CASE WHEN length({src}) >= {n} THEN "
            f"list_transform(generate_series(1, length({src}) - {n - 1}), "
            f"i -> substr({src}, i, {n})) ELSE CAST([] AS VARCHAR[]) END"
        )

    cgrams_side = " UNION ALL ".join(
        f"SELECT pair_id, {n} AS n, unnest({cgrams('{col}', n)}) AS gram "
        "FROM stripped"
        for n in (1, 2, 3, 4, 5, 6)
    )
    wgrams_side = " UNION ALL ".join(
        f"SELECT pair_id, {100 + n} AS n, "
        f"unnest({_wgrams_sql('{col}', n)}) AS gram FROM norm"
        for n in (1, 2)
    )
    return f"""
    WITH norm AS ({_NORM_SQL}),
    stripped AS (
      SELECT pair_id,
             regexp_replace(lower(cand), '\\s+', '', 'g') AS cs,
             regexp_replace(lower(ref), '\\s+', '', 'g') AS rs
      FROM ({_PAIRS_SQL})),
    cg AS (SELECT pair_id, n, gram, COUNT(*) AS c FROM (
             {cgrams_side.format(col='cs')}
             UNION ALL {wgrams_side.format(col='ct')})
           GROUP BY pair_id, n, gram),
    rg AS (SELECT pair_id, n, gram, COUNT(*) AS c FROM (
             {cgrams_side.format(col='rs')}
             UNION ALL {wgrams_side.format(col='rt')})
           GROUP BY pair_id, n, gram),
    ov AS (SELECT cg.pair_id, cg.n, SUM(least(cg.c, rg.c)) AS ovl
           FROM cg JOIN rg ON cg.pair_id = rg.pair_id AND cg.n = rg.n
                          AND cg.gram = rg.gram
           GROUP BY cg.pair_id, cg.n),
    tot AS (SELECT s.pair_id, n.n,
                   CASE WHEN n.n <= 6
                        THEN greatest(length(s.cs) - n.n + 1, 0)
                        ELSE greatest(len(w.ct) - (n.n - 100) + 1, 0)
                   END AS cgr,
                   CASE WHEN n.n <= 6
                        THEN greatest(length(s.rs) - n.n + 1, 0)
                        ELSE greatest(len(w.rt) - (n.n - 100) + 1, 0)
                   END AS rgr
            FROM stripped s JOIN norm w ON s.pair_id = w.pair_id
            CROSS JOIN (VALUES (1), (2), (3), (4), (5), (6),
                               (101), (102)) n(n)),
    per_n AS (
      SELECT t.pair_id, t.n, COALESCE(o.ovl, 0) AS ovl, t.cgr, t.rgr
      FROM tot t LEFT JOIN ov o ON t.pair_id = o.pair_id AND t.n = o.n),
    per_pair AS (
      SELECT pair_id,
             SUM(CASE WHEN cgr > 0
                      THEN CAST(round(ovl / cgr, 9) AS DECIMAL(25,9)) END)
               AS psum,
             COUNT(CASE WHEN cgr > 0 THEN 1 END) AS pk,
             SUM(CASE WHEN rgr > 0
                      THEN CAST(round(ovl / rgr, 9) AS DECIMAL(25,9)) END)
               AS rsum,
             COUNT(CASE WHEN rgr > 0 THEN 1 END) AS rk,
             max(cgr) AS anyc, max(rgr) AS anyr
      FROM per_n GROUP BY pair_id)
    SELECT pair_id,
           CAST(round(CAST(round(
             CASE WHEN anyc = 0 AND anyr = 0 THEN 1.0
                  WHEN pk = 0 THEN 0.0
                  ELSE CAST(psum AS DOUBLE) / pk END, 9)
             AS DECIMAL(25,9)), 6) AS DOUBLE) AS chr_p,
           CAST(round(CAST(round(
             CASE WHEN anyc = 0 AND anyr = 0 THEN 1.0
                  WHEN rk = 0 THEN 0.0
                  ELSE CAST(rsum AS DOUBLE) / rk END, 9)
             AS DECIMAL(25,9)), 6) AS DOUBLE) AS chr_r,
           CAST(round(CAST(round(
             CASE WHEN anyc = 0 AND anyr = 0 THEN 1.0
                  WHEN anyc = 0 OR anyr = 0 OR pk = 0 OR rk = 0 THEN 0.0
                  WHEN CAST(psum AS DOUBLE) / pk = 0
                       OR CAST(rsum AS DOUBLE) / rk = 0 THEN 0.0
                  ELSE 5.0 * (CAST(psum AS DOUBLE) / pk)
                       * (CAST(rsum AS DOUBLE) / rk)
                       / (4.0 * (CAST(psum AS DOUBLE) / pk)
                          + (CAST(rsum AS DOUBLE) / rk)) END, 9)
             AS DECIMAL(25,9)), 6) AS DOUBLE) AS chrf_pp
    FROM per_pair ORDER BY pair_id
    """


_Q463_NOTES = (
    "chrF++ (llm/texteval.chrf_pp — Popovic WMT 2017: chrF plus word "
    "1-2-gram precision/recall, sacrebleu chrF2++ parameters): the "
    "q436 char-order frame UNIONed with the clipped_ngram_stats word "
    "frame (orders offset by 100), one pair-keyed reduce — exactly "
    "chrf's shape plus one union arm; engine tokenizer stands in for "
    "the paper's punctuation tokenizer (documented); per-order "
    "ratios 9dp on DECIMAL(25,9), effective-order means, fixed-form "
    "F-beta"
)

register("q463_chrf_pp", _q463_oracle(), _Q463_NOTES)(q463_chrf_pp)


def q464_detok_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detokenized corpus BLEU (llm/texteval.bleu_corpus with
    tokenizer='ws' — case and punctuation preserved, the sacrebleu
    no-pretokenization convention pinned as the q434 variant the
    tokenizer-swap note in llm/texteval promises)."""
    from ..llm.texteval import bleu_corpus

    return bleu_corpus(
        _eval_pairs(spark, sf_dir), max_n=4, tokenizer="ws"
    ).orderBy("n")


_T_WS = "list_filter(string_split_regex({c}, '\\s+'), x -> x <> '')"


def _q464_oracle() -> str:
    grams_side = " UNION ALL ".join(
        f"SELECT pair_id, {n} AS n, unnest({_wgrams_sql('{col}', n)}) AS gram "
        "FROM norm"
        for n in (1, 2, 3, 4)
    )
    norm_ws = f"""
      SELECT pair_id, {_T_WS.format(c='cand')} AS ct,
             {_T_WS.format(c='rf')} AS rt
      FROM (SELECT pair_id, cand, ref AS rf FROM ({_PAIRS_SQL}))
    """
    return f"""
    WITH norm AS ({norm_ws}),
    cg AS (SELECT pair_id, n, gram, COUNT(*) AS c
           FROM ({grams_side.format(col='ct')}) GROUP BY pair_id, n, gram),
    rg AS (SELECT pair_id, n, gram, COUNT(*) AS c
           FROM ({grams_side.format(col='rt')}) GROUP BY pair_id, n, gram),
    ov AS (SELECT cg.n, SUM(least(cg.c, rg.c)) AS clipped
           FROM cg JOIN rg ON cg.pair_id = rg.pair_id AND cg.n = rg.n
                          AND cg.gram = rg.gram
           GROUP BY cg.n),
    tot AS (SELECT n.n,
                   SUM(greatest(len(ct) - n.n + 1, 0)) AS total
            FROM norm CROSS JOIN (VALUES (1), (2), (3), (4)) n(n)
            GROUP BY n.n),
    lens AS (SELECT SUM(len(ct)) AS c_len, SUM(len(rt)) AS r_len FROM norm),
    per_n AS (
      SELECT t.n, COALESCE(o.clipped, 0) AS clipped, t.total,
             CASE WHEN t.total > 0
                  THEN round(COALESCE(o.clipped, 0) / t.total, 9) END AS p_n
      FROM tot t LEFT JOIN ov o ON t.n = o.n),
    geo AS (
      SELECT min(p_n) AS pmin,
             SUM(CASE WHEN p_n > 0
                      THEN CAST(round(ln(p_n), 9) AS DECIMAL(25,9)) END)
               AS lnsum,
             COUNT(p_n) AS k
      FROM per_n)
    SELECT CAST(per_n.n AS INTEGER) AS n,
           CAST(per_n.clipped AS BIGINT) AS clipped,
           CAST(per_n.total AS BIGINT) AS total,
           round(p_n, 6) AS p_n,
           CAST(lens.c_len AS BIGINT) AS c_len,
           CAST(lens.r_len AS BIGINT) AS r_len,
           round(least(1.0, exp(1.0 - lens.r_len / lens.c_len)), 6) AS bp,
           round(CASE WHEN geo.pmin <= 0 THEN 0.0
                      ELSE least(1.0, exp(1.0 - lens.r_len / lens.c_len))
                           * exp(CAST(geo.lnsum AS DOUBLE) / geo.k) END, 6)
             AS bleu
    FROM per_n CROSS JOIN lens CROSS JOIN geo
    ORDER BY per_n.n
    """


_Q464_NOTES = (
    "DETOKENIZED CORPUS BLEU (llm/texteval.bleu_corpus "
    "tokenizer='ws' — the sacrebleu convention: score the raw "
    "detokenized text, whitespace split, case and punctuation "
    "PRESERVED; the q434 pipeline with the tokenizer swapped, "
    "pinning the swap the _tok docstring documents): "
    "identical exactness contract (exact LONG counts, 9dp p_n, "
    "decimal ln-sum, unsmoothed zero-pinning); the ws/norm DELTA on "
    "the same pairs is the tokenization-sensitivity readout"
)

register("q464_detok_bleu", _q464_oracle(), _Q464_NOTES)(q464_detok_bleu)


def q470_rouge_l(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-L (llm/texteval.rouge_l — LCS-based order-sensitive
    overlap) over the derived eval pairs. Rows-only by design: LCS
    has no SQL-expressible form (the q462 bijection trick needs
    substitutions allowed; d_indel must forbid them) — semantics are
    pinned by the randomized reference-DP cross-check and the
    overlap-bound law in tests/test_round15.py."""
    from ..llm.texteval import rouge_l

    return rouge_l(_eval_pairs(spark, sf_dir)).orderBy("pair_id")


_Q470_NOTES = (
    "ROUGE-L (llm/texteval.rouge_l — Lin 2004 §3.1: LCS-based "
    "order-sensitive overlap, the gap between ROUGE-1 bags and "
    "ROUGE-2 strict bigrams; LCS = (|c|+|r|-d_indel)/2 via the "
    "insertion/deletion-only DP): the q462 Arrow mapInPandas kernel "
    "class (bounded eval pairs, row-vectorized numpy DP); ROWS-ONLY "
    "by design — no SQL-expressible LCS (levenshtein's substitutions "
    "break the bijection-relabel trick) — pinned by randomized "
    "reference-DP cross-checks, identity/disjoint/subsequence laws, "
    "and the LCS <= unigram-overlap bound vs token_f1 "
    "(tests/test_round15.py)"
)

register("q470_rouge_l", None, _Q470_NOTES)(q470_rouge_l)


# --- distribution-comparison battery: q471-q475 ------------------------------


def q471_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test
    (operators/mlmetrics.ks_two_sample) of order totals: URGENT vs
    LOW priority — the distribution-drift gate every feature
    pipeline runs between a reference window and live data."""
    from ..operators.mlmetrics import ks_two_sample

    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").cast("double").alias("val"),
    )
    return ks_two_sample(orders, "grp", "val", "1-URGENT", "5-LOW")


def _ecdf_sql(ga: str, gb: str) -> str:
    return f"""
    base AS (
      SELECT o_orderpriority AS g, CAST(o_totalprice AS DOUBLE) AS v
      FROM orders
      WHERE o_totalprice IS NOT NULL
        AND o_orderpriority IN ('{ga}', '{gb}')),
    per_v AS (
      SELECT v,
             CAST(COUNT(CASE WHEN g = '{ga}' THEN 1 END) AS BIGINT) AS ca,
             CAST(COUNT(CASE WHEN g = '{gb}' THEN 1 END) AS BIGINT) AS cb
      FROM base GROUP BY v),
    cums AS (
      SELECT v, ca, cb,
             SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cuma,
             SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cumb
      FROM per_v),
    ns AS (
      SELECT CAST(COUNT(CASE WHEN g = '{ga}' THEN 1 END) AS BIGINT) AS na,
             CAST(COUNT(CASE WHEN g = '{gb}' THEN 1 END) AS BIGINT) AS nb
      FROM base)
    """


def _q471_oracle() -> str:
    from ..operators.mlmetrics import kolmogorov_sf_sql

    return f"""
    WITH {_ecdf_sql('1-URGENT', '5-LOW')},
    agg AS (
      SELECT MAX(round(abs(CAST(cuma AS DOUBLE) / na
                           - CAST(cumb AS DOUBLE) / nb), 9)) AS d,
             MAX(na) AS na, MAX(nb) AS nb
      FROM cums CROSS JOIN ns),
    lamf AS (
      SELECT na, nb, d,
             (sqrt(CAST(na AS DOUBLE) * nb / (na + nb)) + 0.12
              + 0.11 / sqrt(CAST(na AS DOUBLE) * nb / (na + nb))) * d
               AS lam
      FROM agg)
    SELECT na AS n_a, nb AS n_b,
           round(CASE WHEN na > 0 AND nb > 0 THEN d END, 6) AS d_stat,
           round(CASE WHEN na > 0 AND nb > 0 THEN lam END, 6)
             AS ks_lambda,
           CASE WHEN na > 0 AND nb > 0
                THEN round({kolmogorov_sf_sql('lam')}, 9) END AS p_value
    FROM lamf
    """


_Q471_NOTES = (
    "TWO-SAMPLE KOLMOGOROV-SMIRNOV (operators/mlmetrics.ks_two_sample "
    "— Smirnov 1939: D = sup |ECDF_a - ECDF_b|, the drift gate "
    "sensitive to ANY location/scale/shape change): exact D on the "
    "pooled distinct-value grid (ECDFs only step at sample points; "
    "cum counts exact LONGs, one ordered scan over the compressed "
    "distinct-value frame — the q455 class; q280 prefix-sum swap "
    "documented for 100 TB); asymptotic p via the Numerical Recipes "
    "lambda correction and the 10-term Kolmogorov series on 9dp "
    "decimal terms, pinned to 1 below lambda 0.3 (documented)"
)

register("q471_ks_two_sample", _q471_oracle(), _Q471_NOTES)(q471_ks_two_sample)


def q472_cvm_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér-von Mises two-sample criterion
    (operators/mlmetrics.cvm_two_sample) of order totals: HIGH vs
    NOT-SPECIFIED priority — integrates the squared ECDF gap KS only
    reads at its maximum."""
    from ..operators.mlmetrics import cvm_two_sample

    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").cast("double").alias("val"),
    )
    return cvm_two_sample(
        orders, "grp", "val", "2-HIGH", "4-NOT SPECIFIED"
    )


def _q472_oracle() -> str:
    return f"""
    WITH {_ecdf_sql('2-HIGH', '4-NOT SPECIFIED')},
    agg AS (
      SELECT CAST(SUM(CAST(round(
               (ca + cb)
               * (CAST(cuma AS DOUBLE) / na - CAST(cumb AS DOUBLE) / nb)
               * (CAST(cuma AS DOUBLE) / na - CAST(cumb AS DOUBLE) / nb),
               9) AS DECIMAL(25,9))) AS DOUBLE) AS s,
             MAX(na) AS na, MAX(nb) AS nb
      FROM cums CROSS JOIN ns)
    SELECT na AS n_a, nb AS n_b,
           round(CASE WHEN na > 0 AND nb > 0
                 THEN CAST(na AS DOUBLE) * nb
                      / ((CAST(na AS DOUBLE) + nb)
                         * (CAST(na AS DOUBLE) + nb)) * s END, 6)
             AS t_stat
    FROM agg
    """


_Q472_NOTES = (
    "CRAMER-VON MISES TWO-SAMPLE (operators/mlmetrics.cvm_two_sample "
    "— Anderson 1962 tie-adjusted: T integrates the SQUARED ECDF gap "
    "over the pooled sample, catching distributed small differences "
    "KS's single max misses): same distinct-value grid as q471, "
    "squared-gap terms on 9dp DECIMAL; reported stat-only (the CvM "
    "limiting distribution has no engine closed form — documented; "
    "q471 carries the p story)"
)

register("q472_cvm_two_sample", _q472_oracle(), _Q472_NOTES)(q472_cvm_two_sample)


def q473_levene_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe (median-centered Levene) variance-homogeneity
    test (operators/mlmetrics.levene_test) of order totals across
    the five priority classes — the spread-comparability gate before
    q475's ANOVA."""
    from ..operators.mlmetrics import levene_test

    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").cast("double").alias("val"),
    )
    return levene_test(orders, "grp", "val")


def _q473_oracle() -> str:
    return """
    WITH base AS (
      SELECT o_orderpriority AS g, CAST(o_totalprice AS DOUBLE) AS v
      FROM orders WHERE o_totalprice IS NOT NULL),
    cen AS (SELECT g, median(v) AS c FROM base GROUP BY g),
    z AS (SELECT base.g, abs(base.v - cen.c) AS z
          FROM base JOIN cen ON base.g = cen.g),
    per_g AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
             SUM(CAST(round(z, 9) AS DECIMAL(25,9))) AS sz,
             SUM(CAST(round(z * z, 9) AS DECIMAL(25,9))) AS qz
      FROM z GROUP BY g),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(ng) AS BIGINT) AS n,
             SUM(sz) AS s,
             CAST(SUM(qz) AS DOUBLE) AS q,
             CAST(SUM(CAST(round(
               CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) / ng, 9)
               AS DECIMAL(25,9))) AS DOUBLE) AS sb
      FROM per_g),
    stat AS (
      SELECT k, n,
             sb - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n AS ssb,
             q - sb AS ssw
      FROM agg)
    SELECT k AS k_groups, n AS n_total,
           round(CASE WHEN k >= 2 AND n > k AND ssw > 0
                      THEN (CAST(n AS DOUBLE) - k) / (k - 1) * ssb / ssw
                 END, 6) AS w_stat,
           k - 1 AS dof1, n - k AS dof2
    FROM stat
    """


_Q473_NOTES = (
    "BROWN-FORSYTHE / LEVENE (operators/mlmetrics.levene_test — "
    "Levene 1960, Brown & Forsythe 1974 median centering, the scipy "
    "default: variance-homogeneity gate before pooled-variance "
    "tests): exact interpolated group medians (both engines' "
    "continuous 0.5-quantile), |x-median| moments on 9dp DECIMAL, "
    "one-way F on the z frame; stat-only (F tail out of closed-form "
    "scope — the q469 convention); one group quantile agg + "
    "broadcast-back + one moment agg + 1-row reduce"
)

register("q473_levene_bf", _q473_oracle(), _Q473_NOTES)(q473_levene_bf)


def q474_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's variance-homogeneity test
    (operators/mlmetrics.bartlett_test) of extended price across
    lineitem line numbers — the normal-theory companion to q473 with
    a closed-form chi-squared p."""
    from ..operators.mlmetrics import bartlett_test

    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_linenumber").alias("grp"),
        F.col("l_extendedprice").cast("double").alias("val"),
    )
    return bartlett_test(li, "grp", "val")


def _q474_oracle() -> str:
    return f"""
    WITH base AS (
      SELECT l_linenumber AS g, CAST(l_extendedprice AS DOUBLE) AS v
      FROM lineitem WHERE l_extendedprice IS NOT NULL),
    per_g AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
             SUM(CAST(round(v, 9) AS DECIMAL(25,9))) AS sv,
             SUM(CAST(round(v * v, 9) AS DECIMAL(25,9))) AS qv
      FROM base GROUP BY g),
    s2s AS (
      SELECT ng,
             round((CAST(qv AS DOUBLE)
                    - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / ng)
                   / (ng - 1), 9) AS s2
      FROM per_g),
    good AS (SELECT * FROM s2s WHERE ng >= 2 AND s2 > 0),
    bad AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_excluded
            FROM s2s WHERE ng < 2 OR s2 <= 0),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(ng) AS BIGINT) AS n,
             CAST(SUM(CAST(round((ng - 1) * s2, 9) AS DECIMAL(25,9)))
                  AS DOUBLE) AS pool,
             CAST(SUM(CAST(round((ng - 1) * ln(s2), 9)
                           AS DECIMAL(25,9))) AS DOUBLE) AS lnsum,
             CAST(SUM(CAST(round(1.0 / (ng - 1), 9) AS DECIMAL(25,9)))
                  AS DOUBLE) AS inv
      FROM good),
    stat AS (
      SELECT k, n,
             CASE WHEN k >= 2 AND n > k THEN
               ((CAST(n AS DOUBLE) - k) * ln(pool / (CAST(n AS DOUBLE) - k))
                - lnsum)
               / (1.0 + (inv - 1.0 / (CAST(n AS DOUBLE) - k))
                        / (3.0 * (k - 1)))
             END AS t_raw
      FROM agg)
    SELECT k AS k_groups, n AS n_total,
           round(t_raw, 6) AS t_stat,
           CASE WHEN t_raw IS NOT NULL
                THEN {_wh_p_sql('greatest(t_raw, 0.0)', '(k - 1)')} END
             AS p_value,
           bad.n_excluded
    FROM stat CROSS JOIN bad
    """


_Q474_NOTES = (
    "BARTLETT'S TEST (operators/mlmetrics.bartlett_test — Bartlett "
    "1937: normal-theory variance homogeneity, more powerful than "
    "Levene under normality and the one with a CLOSED-FORM chi2 p at "
    "k-1 dof via the q451 Wilson-Hilferty tail): group variances "
    "from 9dp decimal moments (sample n-1), ln terms 9dp on DECIMAL "
    "(q384 libm rule), degenerate groups (n<2 or zero variance) "
    "excluded and counted; ONE group agg + ONE 1-row reduce"
)

register("q474_bartlett", _q474_oracle(), _Q474_NOTES)(q474_bartlett)


def q475_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA (operators/mlmetrics.anova_oneway) of order
    totals across the five priority classes — F plus eta²/omega²
    effect sizes; the parametric twin of the registered
    Kruskal-Wallis."""
    from ..operators.mlmetrics import anova_oneway

    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").cast("double").alias("val"),
    )
    return anova_oneway(orders, "grp", "val")


def _q475_oracle() -> str:
    return """
    WITH base AS (
      SELECT o_orderpriority AS g, CAST(o_totalprice AS DOUBLE) AS v
      FROM orders WHERE o_totalprice IS NOT NULL),
    per_g AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
             SUM(CAST(round(v, 9) AS DECIMAL(25,9))) AS sv,
             SUM(CAST(round(v * v, 9) AS DECIMAL(25,9))) AS qv
      FROM base GROUP BY g),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(ng) AS BIGINT) AS n,
             SUM(sv) AS s,
             CAST(SUM(qv) AS DOUBLE) AS q,
             CAST(SUM(CAST(round(
               CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / ng, 9)
               AS DECIMAL(25,9))) AS DOUBLE) AS sb
      FROM per_g),
    stat AS (
      SELECT k, n,
             sb - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n AS ssb,
             q - sb AS ssw,
             k >= 2 AND n > k AS ok
      FROM agg),
    ms AS (
      SELECT k, n, ssb, ssw, ok,
             CASE WHEN ok THEN ssb / (k - 1) END AS msb,
             CASE WHEN ok THEN ssw / (CAST(n AS DOUBLE) - k) END AS msw
      FROM stat)
    SELECT k AS k_groups, n AS n_total,
           round(CASE WHEN msw > 0 THEN msb / msw END, 6) AS f_stat,
           round(CASE WHEN ok AND (ssb + ssw) > 0
                      THEN ssb / (ssb + ssw) END, 6) AS eta_sq,
           round(CASE WHEN msw > 0 AND (ssb + ssw + msw) > 0
                      THEN (ssb - (k - 1) * msw) / (ssb + ssw + msw)
                 END, 6) AS omega_sq
    FROM ms
    """


_Q475_NOTES = (
    "ONE-WAY ANOVA (operators/mlmetrics.anova_oneway — Fisher 1925: "
    "the k-group mean comparison; Kruskal-Wallis is its registered "
    "rank twin, q473 runs it on spreads, q469 reads the same "
    "decomposition as reliability): q469's decimal moment discipline "
    "(9dp values/squares, S^2/n as 9dp IEEE divisions onto decimal), "
    "F + eta-squared + omega-squared effect sizes, stat-only "
    "(documented F-tail convention; the rank twin carries the p)"
)

register("q475_anova_oneway", _q475_oracle(), _Q475_NOTES)(q475_anova_oneway)
