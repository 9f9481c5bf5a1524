"""Catalog queries q316–q341, each registered where it is defined.

Fixture-noise rule for this module: deterministic INTEGER hashing
``(key * 2654435761) % m`` (Knuth multiplicative, BIGINT-safe in both
engines) instead of the md5-hex rule — same replayability, no string
machinery in the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import register
from ..sources import read_table


_MULT = 2654435761  # Knuth multiplicative constant (shared with llm/audio)


def _hash_mod(col, salt: int, m: int):
    """Portable deterministic noise: ((key + salt) * MULT) % m, all
    BIGINT — identical in Spark and DuckDB."""
    return ((col + F.lit(salt)) * F.lit(_MULT)) % F.lit(m)


def _hash_mod_sql(expr: str, salt: int, m: int) -> str:
    return f"(({expr} + {salt}) * {_MULT}) % {m}"


# --- q316: Cohen's kappa ----------------------------------------------------


def q316_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two synthetic raters over orders: rater r1 reads the true
    priority class; rater r2 agrees unless its hash draw (~30%) flips
    the label to a rotated class. cohen_kappa chance-corrects the
    agreement (operators/agreement.py)."""
    from ..operators.agreement import cohen_kappa

    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("item"),
        F.substring("o_orderpriority", 1, 1).alias("cls"),
    )
    flip = _hash_mod(F.col("item"), 17, 10) < 3
    rot = F.concat(
        ((F.col("cls").cast("int") % 5) + 1).cast("string")
    )
    labels = o.select(
        "item", F.lit("r1").alias("rater"), F.col("cls").alias("label")
    ).unionByName(
        o.select(
            "item",
            F.lit("r2").alias("rater"),
            F.when(flip, rot).otherwise(F.col("cls")).alias("label"),
        )
    )
    return cohen_kappa(labels, "item", "rater", "label", "r1", "r2")


_Q316_ORACLE = f"""
    WITH o AS (
      SELECT o_orderkey AS item, substr(o_orderpriority, 1, 1) AS cls
      FROM orders
    ),
    pairs AS (
      SELECT item, cls AS la,
        CASE WHEN {_hash_mod_sql('item', 17, 10)} < 3
             THEN CAST((CAST(cls AS INTEGER) % 5) + 1 AS VARCHAR)
             ELSE cls END AS lb
      FROM o
    ),
    tot AS (
      SELECT COUNT(*) AS n_items,
             SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS agree
      FROM pairs
    ),
    ma AS (SELECT la, COUNT(*) AS na FROM pairs GROUP BY la),
    mb AS (SELECT lb, COUNT(*) AS nb FROM pairs GROUP BY lb),
    pe AS (
      SELECT SUM(ma.na * mb.nb) AS pe_num
      FROM ma JOIN mb ON ma.la = mb.lb
    )
    SELECT t.n_items,
           round(CAST(t.agree AS DOUBLE) / t.n_items, 9) AS po,
           round(CAST(p.pe_num AS DOUBLE)
                 / (CAST(t.n_items AS DOUBLE) * t.n_items), 9) AS pe,
           round(((CAST(t.agree AS DOUBLE) / t.n_items)
                  - (CAST(p.pe_num AS DOUBLE)
                     / (CAST(t.n_items AS DOUBLE) * t.n_items)))
                 / (1.0 - (CAST(p.pe_num AS DOUBLE)
                           / (CAST(t.n_items AS DOUBLE) * t.n_items))), 9)
             AS kappa
    FROM tot t, pe p
"""

_Q316_NOTES = (
    "COHEN'S KAPPA (operators/agreement.cohen_kappa — chance-corrected "
    "two-rater agreement, the gate every labeling pipeline runs before "
    "training on preference/moderation labels; asymmetric-marginals "
    "form per Cohen 1960): one item-equi join + ONE confusion-matrix "
    "hash agg; marginals and pe are metadata-sized scalar crossJoins "
    "that pass the structural NLJ gate. Exact integer counts, one IEEE "
    "division per term, 9dp"
)

register("q316_cohen_kappa", _Q316_ORACLE, _Q316_NOTES)(q316_cohen_kappa)


# --- q317: Fleiss' kappa ----------------------------------------------------


def q317_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3–5 synthetic raters per order (rater count varies by item so
    the unequal-n_i generalization is exercised), each rater flipping
    the true class on its own hash draw; fleiss_kappa aggregates
    per-item agreement vs chance."""
    from ..operators.agreement import fleiss_kappa

    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("item"),
        F.substring("o_orderpriority", 1, 1).alias("cls"),
    )
    n_raters = (_hash_mod(F.col("item"), 3, 3) + 3).cast("int")  # 3..5
    exploded = o.select(
        "item", "cls", F.explode(F.sequence(F.lit(1), n_raters)).alias("rater")
    )
    flip = _hash_mod(F.col("item") * 7 + F.col("rater"), 29, 10) < 2
    rot = ((F.col("cls").cast("int") % 5) + 1).cast("string")
    labels = exploded.select(
        "item",
        "rater",
        F.when(flip, rot).otherwise(F.col("cls")).alias("label"),
    )
    return fleiss_kappa(labels, "item", "label")


_Q317_ORACLE = f"""
    WITH o AS (
      SELECT o_orderkey AS item, substr(o_orderpriority, 1, 1) AS cls,
             CAST({_hash_mod_sql('o_orderkey', 3, 3)} + 3 AS INTEGER) AS nr
      FROM orders
    ),
    labels AS (
      SELECT item,
        CASE WHEN {_hash_mod_sql('(item * 7 + r.rater)', 29, 10)} < 2
             THEN CAST((CAST(cls AS INTEGER) % 5) + 1 AS VARCHAR)
             ELSE cls END AS label
      FROM o, UNNEST(generate_series(1, o.nr)) AS r(rater)
    ),
    cell AS (
      SELECT item, label, COUNT(*) AS nic FROM labels GROUP BY item, label
    ),
    item AS (
      SELECT item, SUM(nic) AS ni, SUM(nic * nic) AS sq
      FROM cell GROUP BY item HAVING SUM(nic) >= 2
    ),
    pbar AS (
      SELECT COUNT(*) AS n_items, CAST(SUM(ni) AS BIGINT) AS n_ratings,
             SUM(CAST(sq - ni AS DOUBLE) / (ni * (ni - 1))) AS p_sum
      FROM item
    ),
    marg AS (
      SELECT c.label, SUM(c.nic) AS nc
      FROM cell c JOIN item i USING (item) GROUP BY c.label
    ),
    pe AS (
      SELECT SUM((CAST(m.nc AS DOUBLE) / p.n_ratings)
                 * (CAST(m.nc AS DOUBLE) / p.n_ratings)) AS pe
      FROM marg m, pbar p
    )
    SELECT p.n_items, p.n_ratings,
           round(p.p_sum / p.n_items, 9) AS p_bar,
           round(e.pe, 9) AS p_e,
           round((p.p_sum / p.n_items - e.pe) / (1.0 - e.pe), 9) AS kappa
    FROM pbar p, pe e
"""

_Q317_NOTES = (
    "FLEISS' KAPPA (operators/agreement.fleiss_kappa — multi-rater "
    "chance-corrected agreement, generalized to unequal raters-per-item "
    "with per-item n_i; items under 2 ratings excluded): two hash aggs "
    "((item,label) then item) + metadata-sized marginals; the fixture "
    "varies rater count 3-5 per item so the generalization is pinned. "
    "Scalar crossJoins only — passes the structural NLJ gate"
)

register("q317_fleiss_kappa", _Q317_ORACLE, _Q317_NOTES)(q317_fleiss_kappa)


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


# --- q319: null-pattern audit -----------------------------------------------


def q319_null_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joint-missingness profile over events with two synthetic
    nullable columns correlated with the naturally-null value column —
    the pattern counts expose that correlation where per-column null
    rates cannot."""
    from ..operators.profile import null_pattern_audit

    ev = read_table(spark, sf_dir, "events").select(
        "value",
        F.when(_hash_mod(F.col("event_id"), 5, 7) != 0, F.col("user_id")).alias(
            "maybe_user"
        ),
        F.when(F.col("value").isNotNull() | (_hash_mod(F.col("event_id"), 11, 3) == 0),
               F.col("event_type")).alias("maybe_type"),
    )
    return null_pattern_audit(ev, ["value", "maybe_user", "maybe_type"], top_n=8)


_Q319_ORACLE = f"""
    WITH ev AS (
      SELECT value,
        CASE WHEN {_hash_mod_sql('event_id', 5, 7)} != 0
             THEN user_id END AS maybe_user,
        CASE WHEN value IS NOT NULL OR {_hash_mod_sql('event_id', 11, 3)} = 0
             THEN event_type END AS maybe_type
      FROM events
    ),
    pat AS (
      SELECT (CASE WHEN value IS NULL THEN '1' ELSE '0' END)
          || (CASE WHEN maybe_user IS NULL THEN '1' ELSE '0' END)
          || (CASE WHEN maybe_type IS NULL THEN '1' ELSE '0' END) AS pattern,
          COUNT(*) AS n_rows
      FROM ev GROUP BY 1
    ),
    tot AS (SELECT SUM(n_rows) AS total FROM pat)
    SELECT pattern, n_rows,
           round(CAST(n_rows AS DOUBLE) / t.total, 9) AS fraction
    FROM pat, tot t
    ORDER BY n_rows DESC, pattern
    LIMIT 8
"""

_Q319_NOTES = (
    "NULL-PATTERN AUDIT (operators/profile.null_pattern_audit — joint "
    "missingness: rows grouped by their NULL mask across chosen "
    "columns, top-n patterns with exact fractions; distinguishes "
    "independent 5%%-per-column nulls from 5%%-of-rows-all-null, which "
    "flips imputation/filter policy): ONE hash agg on a computed mask "
    "+ scalar total; deterministic (count desc, pattern) tiebreak"
)

register("q319_null_patterns", _Q319_ORACLE, _Q319_NOTES)(q319_null_patterns)


# --- q320: Theil–Sen robust trend -------------------------------------------


def q320_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user robust value trend over event sequences: median of
    pairwise slopes on the first ≤40 events per user (bounded-series
    contract), immune to the value outliers that wreck OLS."""
    from ..operators.timeseries import theil_sen_by_key

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value"
    )
    return theil_sen_by_key(
        ev, ["user_id"], "event_id", "value", max_points=40
    ).orderBy("user_id")


_Q320_ORACLE = """
    WITH capped AS (
      SELECT user_id, event_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL
    ),
    pts AS (SELECT user_id, event_id, value FROM capped WHERE rn <= 40),
    slopes AS (
      SELECT a.user_id,
             (CAST(b.value AS DOUBLE) - CAST(a.value AS DOUBLE))
             / (CAST(b.event_id AS DOUBLE) - CAST(a.event_id AS DOUBLE))
             AS slope
      FROM pts a JOIN pts b
        ON a.user_id = b.user_id AND a.event_id < b.event_id
    )
    SELECT user_id, COUNT(*) AS n_pairs,
           round(quantile_disc(slope, 0.5), 9) AS slope
    FROM slopes GROUP BY user_id ORDER BY user_id
"""

_Q320_NOTES = (
    "THEIL-SEN ROBUST TREND (operators/timeseries.theil_sen_by_key — "
    "median of pairwise slopes, ~29%% breakdown point vs OLS's zero): "
    "per-key series CAPPED at max_points (the q256/q273 bounded-series "
    "discipline, <=780 pairs/key), pair generation is a key-equi "
    "SELF-JOIN (one shuffle on key, never cross-key), median via "
    "percentile_disc so both engines pick an OBSERVED slope — exact "
    "IEEE parity, no interpolation ambiguity"
)

register("q320_theil_sen", _Q320_ORACLE, _Q320_NOTES)(q320_theil_sen)


# --- q321: PSL-keyed per-domain curation quota ------------------------------


def q321_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-site crawl quota enforcement keyed by the PSL registered
    domain (the q315 operator applied at pipeline level): synthesize
    multi-tenant URLs (github.io tenants, co.uk sites, wildcard-ck
    hosts), key by psl_registered_domain, keep the top-3 docs per
    domain by length (tiebreak doc_id) — the dedup-adjacent quota step
    every crawl pipeline runs. Heuristic keying would merge all
    github.io tenants into one quota bucket; PSL keying is the fix."""
    from pyspark.sql import Window

    from ..functions.psl import psl_registered_domain

    docs = read_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    host = (
        F.when(d % 4 == 0, F.concat(F.lit("t"), (d % 13).cast("string"), F.lit(".github.io")))
        .when(d % 4 == 1, F.concat(F.lit("site"), (d % 5).cast("string"), F.lit(".co.uk")))
        .when(d % 4 == 2, F.concat(F.lit("h"), (d % 3).cast("string"), F.lit(".foo.ck")))
        .otherwise(F.concat(F.lit("www.ex"), (d % 7).cast("string"), F.lit(".com")))
    )
    base = docs.select(
        "doc_id", F.concat(F.lit("https://"), host, F.lit("/")).alias("url"), "n_chars"
    )
    keyed = psl_registered_domain(base, "url", out_col="domain")
    w = Window.partitionBy("domain").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        keyed.filter(F.col("domain").isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("domain", "rank", "doc_id", "n_chars")
        .orderBy("domain", "rank")
    )


def _q321_oracle() -> str:
    from ..functions.psl import oracle_rules_values

    return f"""
    WITH raw_rules(rule) AS (VALUES {oracle_rules_values()}),
    r AS (
      SELECT CASE WHEN rule LIKE '!%' THEN substr(rule, 2) ELSE rule END AS key,
             len(string_split(CASE WHEN rule LIKE '!%' THEN substr(rule, 2)
                              ELSE rule END, '.')) AS k,
             rule LIKE '!%' AS exc, rule LIKE '*.%' AS wild
      FROM raw_rules
    ),
    synth AS (
      SELECT doc_id, n_chars,
        CASE doc_id % 4
          WHEN 0 THEN 't' || CAST(doc_id % 13 AS VARCHAR) || '.github.io'
          WHEN 1 THEN 'site' || CAST(doc_id % 5 AS VARCHAR) || '.co.uk'
          WHEN 2 THEN 'h' || CAST(doc_id % 3 AS VARCHAR) || '.foo.ck'
          ELSE 'www.ex' || CAST(doc_id % 7 AS VARCHAR) || '.com'
        END AS host
      FROM documents
    ),
    lab AS (
      SELECT doc_id, n_chars, host, string_split(host, '.') AS labels,
             len(string_split(host, '.')) AS n
      FROM synth
    ),
    cand AS (
      SELECT l.doc_id, d.k,
             array_to_string(l.labels[l.n - d.k + 1 : l.n], '.') AS exact_k,
             CASE WHEN d.k >= 2 THEN
               '*.' || array_to_string(l.labels[l.n - d.k + 2 : l.n], '.')
             END AS wild_k
      FROM lab l CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS k) d
      WHERE d.k <= l.n
    ),
    m AS (
      SELECT c.doc_id, r.k, r.exc
      FROM cand c JOIN r
        ON (NOT r.wild AND r.key = c.exact_k)
        OR (r.wild AND r.key = c.wild_k)
    ),
    agg AS (
      SELECT doc_id,
             MAX(CASE WHEN exc THEN k - 1 END) AS eps,
             MAX(CASE WHEN NOT exc THEN k END) AS nps
      FROM m GROUP BY doc_id
    ),
    dom AS (
      SELECT l.doc_id, l.n_chars,
        CASE WHEN l.n > COALESCE(a.eps, a.nps, 1)
             THEN array_to_string(
                    l.labels[l.n - COALESCE(a.eps, a.nps, 1) : l.n], '.')
        END AS domain
      FROM lab l LEFT JOIN agg a USING (doc_id)
    ),
    ranked AS (
      SELECT domain, doc_id, n_chars,
             row_number() OVER (PARTITION BY domain
                                ORDER BY n_chars DESC, doc_id) AS rank
      FROM dom WHERE domain IS NOT NULL
    )
    SELECT domain, rank, doc_id, n_chars
    FROM ranked WHERE rank <= 3 ORDER BY domain, rank
"""


_Q321_NOTES = (
    "PSL-KEYED DOMAIN QUOTA (functions/psl.psl_registered_domain "
    "composed into the curation pipeline: per-registered-domain top-k "
    "by quality with deterministic tiebreak — the crawl quota step "
    "that mis-buckets multi-tenant suffixes under the heuristic; "
    "github.io tenants and wildcard-ck hosts each get their OWN "
    "quota): broadcast PSL joins + one window over domain — one "
    "shuffle total. Oracle rebuilds the rules CTE from the same "
    "constants (q315 discipline)"
)

register("q321_domain_quota", _q321_oracle(), _Q321_NOTES)(q321_domain_quota)


# --- q322: real image resize ------------------------------------------------


def q322_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode → box-downsample(×2) → lossless PPM re-encode → decode
    AGAIN → channel means: the full resize pipeline end-to-end over
    real pixels (llm/multimodal.resize_image_payloads, retiring the
    byte-truncation stand-in). Odd source widths exercise the crop
    contract. The oracle regenerates the PPM pixel formula and replays
    the floored block means in SQL — any bug in either decode pass,
    the block sum, or the re-encode hash-fails."""
    import pandas as pd

    from pyspark.sql import types as T

    from ..llm.multimodal import (
        encode_ppm,
        image_pixel_stats,
        resize_image_payloads,
    )

    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    ).select("doc_id")

    def gen(batches):
        for pdf in batches:
            ids = [int(i) for i in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "payload": [
                        bytearray(
                            encode_ppm(
                                11 + (i % 3) * 2, 10 + (i % 2) * 2, seed=i
                            )
                        )
                        for i in ids
                    ],
                }
            )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    payloads = docs.mapInPandas(gen, schema)
    resized = resize_image_payloads(payloads, factor=2)
    stats = image_pixel_stats(resized.select("doc_id", "payload"))
    return stats.select(
        "doc_id", "width", "height", "mean_r", "mean_g", "mean_b"
    ).orderBy("doc_id")


_Q322_ORACLE = """
    WITH ids AS (
      SELECT doc_id,
             (11 + (doc_id % 3) * 2) // 2 AS ow,
             (10 + (doc_id % 2) * 2) // 2 AS oh
      FROM documents WHERE doc_id % 10 = 0
    ),
    opix AS (
      SELECT i.doc_id, i.ow, i.oh, ox.v AS ox, oy.v AS oy
      FROM ids i,
           UNNEST(generate_series(0, i.ow - 1)) AS ox(v),
           UNNEST(generate_series(0, i.oh - 1)) AS oy(v)
    ),
    blocks AS (
      SELECT p.doc_id, p.ow, p.oh, p.ox, p.oy,
        SUM((p.doc_id + 31 * (2 * p.ox + dx.v) + 17 * (2 * p.oy + dy.v))
            % 256) AS s0,
        SUM(((p.doc_id + 31 * (2 * p.ox + dx.v) + 17 * (2 * p.oy + dy.v))
             % 256 * 7) % 256) AS s1,
        SUM(((p.doc_id + 31 * (2 * p.ox + dx.v) + 17 * (2 * p.oy + dy.v))
             % 256 * 13) % 256) AS s2
      FROM opix p,
           UNNEST(generate_series(0, 1)) AS dx(v),
           UNNEST(generate_series(0, 1)) AS dy(v)
      GROUP BY p.doc_id, p.ow, p.oh, p.ox, p.oy
    ),
    resized AS (
      SELECT doc_id, ow, oh, s0 // 4 AS r, s1 // 4 AS g, s2 // 4 AS b
      FROM blocks
    )
    SELECT doc_id,
           CAST(ow AS INTEGER) AS width,
           CAST(oh AS INTEGER) AS height,
           CAST(SUM(r) AS DOUBLE) / (ow * oh) AS mean_r,
           CAST(SUM(g) AS DOUBLE) / (ow * oh) AS mean_g,
           CAST(SUM(b) AS DOUBLE) / (ow * oh) AS mean_b
    FROM resized
    GROUP BY doc_id, ow, oh
    ORDER BY doc_id
"""

_Q322_NOTES = (
    "REAL IMAGE RESIZE (llm/multimodal.resize_image + "
    "resize_image_payloads — integer-factor box downsample on REAL "
    "decoded pixels with floor-of-exact-block-sum arithmetic, lossless "
    "PPM re-encode; retires the _fake_resize byte-truncation stand-in "
    "now that all four containers decode): the anchor runs decode -> "
    "resize -> re-encode -> SECOND decode -> channel means, and the "
    "fixture-differential oracle replays the pixel formula + floored "
    "block means in SQL (q206 discipline). Odd widths pin the crop "
    "rule. Map-only Arrow pipeline, shuffle-free"
)

register("q322_image_resize", _Q322_ORACLE, _Q322_NOTES)(q322_image_resize)


# --- q323: audio resample ---------------------------------------------------


def q323_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode (any fmt arm) → ×4 block-mean decimate → PCM-16 re-encode
    → decode AGAIN → exact stats (llm/audio.resample_payloads): the
    audio twin of q322, with the three-arm fixture guaranteeing the
    PCM16/float32/float64 decode paths all feed the same resample."""
    from ..llm.audio import audio_stats, resample_payloads, with_wav_payload

    docs = read_table(spark, sf_dir, "documents")
    payloads = with_wav_payload(docs, "doc_id", every=10)
    resampled = resample_payloads(payloads, factor=4)
    return (
        audio_stats(resampled.select("doc_id", "payload"))
        .select(
            "doc_id", "sample_rate", "n_frames", "peak_abs",
            "mean_square", "zero_crossings",
        )
        .orderBy("doc_id")
    )


_Q323_ORACLE = """
    WITH ids AS (
      SELECT doc_id, 800 + (doc_id % 7) * 160 AS n
      FROM documents WHERE doc_id % 10 = 0
    ),
    samples AS (
      SELECT doc_id, n, i,
             (doc_id * 7349 + i * (i + 13) * 2654435761) % 65536 - 32768 AS s
      FROM ids, UNNEST(generate_series(0, n - 1)) AS t(i)
    ),
    blocks AS (
      SELECT doc_id, n, i // 4 AS bi,
             CAST(floor(CAST(SUM(s) AS DOUBLE) / 4) AS BIGINT) AS d
      FROM samples GROUP BY doc_id, n, i // 4
    ),
    flagged AS (
      SELECT doc_id, n, bi, d,
             CASE WHEN (d >= 0) <>
                  (lag(d) OVER (PARTITION BY doc_id ORDER BY bi) >= 0)
                  THEN 1 ELSE 0 END AS flip
      FROM blocks
    )
    SELECT doc_id,
           2000 AS sample_rate,
           CAST(MAX(n) / 4 AS BIGINT) AS n_frames,
           CAST(MAX(ABS(d)) AS BIGINT) AS peak_abs,
           CAST(SUM(d * d) AS DOUBLE) / (MAX(n) / 4) AS mean_square,
           CAST(SUM(flip) AS BIGINT) AS zero_crossings
    FROM flagged
    GROUP BY doc_id
    ORDER BY doc_id
"""

_Q323_NOTES = (
    "REAL AUDIO RESAMPLE (llm/audio.resample_wav + resample_payloads — "
    "integer-factor decimation with a box anti-alias filter: "
    "floor(block_sum/factor) on exact integer samples, PCM-16 "
    "re-encode at rate//factor): anchor = decode -> decimate -> "
    "re-encode -> second decode -> exact stats; the three-arm fixture "
    "(PCM16/float32/float64) proves every decode path feeds the same "
    "resample; the oracle regenerates the waveform and replays the "
    "block means + stats in SQL. Map-only Arrow, shuffle-free"
)

register("q323_audio_resample", _Q323_ORACLE, _Q323_NOTES)(q323_audio_resample)


# --- q324: distributed BPE encode -------------------------------------------


def q324_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a small merge table on the corpus (q271's distributed
    trainer), then ENCODE the whole corpus with it — per-doc token
    fertility stats (llm/bpe.bpe_encode). The throughput half of the
    tokenizer; training is once-per-vocab, encoding is every-run.
    ROWS-ONLY: the merge loop has no SQL twin; exact encode parity vs
    the pure-python segmenter is pytest-pinned (test_round9)."""
    from ..llm.bpe import bpe_encode, bpe_train

    docs = read_table(spark, sf_dir, "documents")
    merges, _state = bpe_train(docs.filter(F.col("doc_id") % 3 == 0), "text", n_merges=20)
    return (
        bpe_encode(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    )


_Q324_NOTES = (
    "DISTRIBUTED BPE ENCODE (llm/bpe.bpe_encode — the serving half of "
    "the q271 trainer: learned merge table ships in the Arrow closure, "
    "encoding is mapInPandas, map-only, shuffle-free, with a per-batch "
    "word memo that exploits Zipf's law to turn the merge loop into a "
    "dict hit for frequent words; same word-normalization rule as "
    "training so the token universes agree): per-doc n_words/n_tokens/"
    "unique/compression — the fertility stats packing and cost "
    "estimation consume. rows-only (merge recursion has no SQL twin); "
    "encode==bpe_segment parity pytest-pinned"
)

register("q324_bpe_encode", None, _Q324_NOTES)(q324_bpe_encode)


# --- q325: XML source round-trip ---------------------------------------------


def q325_xml_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML corpus ingestion end-to-end (sources.read_xml — Spark 4's
    built-in xml format, no external jar): write the documents table as
    XML (the writer escapes markup-significant text), read it back with
    an EXPLICIT schema per the §1.5 rule, and aggregate per (lang,
    source). The oracle runs the same aggregate on the parquet table
    directly — any loss/corruption in either XML pass (escaping,
    schema coercion, nulls) breaks the hash."""
    import os
    import tempfile

    from pyspark.sql import types as T

    from ..sources import read_xml

    docs = read_table(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="q325_xml_")
    path = os.path.join(d, "docs")
    docs.write.format("xml").option("rootTag", "corpus").option(
        "rowTag", "doc"
    ).save(path)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    back = read_xml(spark, path, row_tag="doc", schema=schema)
    return (
        back.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(F.length("text")).alias("total_text_len"),
        )
        .orderBy("lang", "source")
    )


_Q325_ORACLE = """
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(length(text)) AS BIGINT) AS total_text_len
    FROM documents
    GROUP BY lang, source
    ORDER BY lang, source
"""

_Q325_NOTES = (
    "XML SOURCE ROUND-TRIP (sources.read_xml — Spark 4 built-in xml "
    "format, rowTag rows, explicit schema per the never-inferSchema "
    "rule; the feed/dump formats — RSS, wiki exports, PubMed — text "
    "ingestion still meets): write-then-read the documents table "
    "through XML and aggregate; the oracle aggregates the parquet "
    "directly, so any escaping/coercion loss in either XML pass "
    "hash-fails. Avro probed NOT bundled (external module) — "
    "documented boundary, not a stub"
)

register("q325_xml_source", _Q325_ORACLE, _Q325_NOTES)(q325_xml_source)


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


# --- q327: Markov transition matrix -----------------------------------------


def q327_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix over per-user timelines with
    Laplace smoothing 0.5 — (ts, event_id) total order per the unique-
    tiebreaker rule."""
    from ..operators.sequence import markov_transitions

    ev = read_table(spark, sf_dir, "events")
    return markov_transitions(
        ev, "user_id", ["ts", "event_id"], "event_type", alpha=0.5
    ).orderBy("state", "next_state")


_Q327_ORACLE = """
    WITH seq AS (
      SELECT event_type AS state,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_state
      FROM events
    ),
    counts AS (
      SELECT state, next_state, COUNT(*) AS n
      FROM seq WHERE next_state IS NOT NULL GROUP BY 1, 2
    ),
    k AS (SELECT COUNT(DISTINCT event_type) AS _k FROM events)
    SELECT state, next_state, n,
           (CAST(n AS DOUBLE) + 0.5)
           / (CAST(SUM(n) OVER (PARTITION BY state) AS DOUBLE)
              + 0.5 * CAST(_k AS DOUBLE)) AS p
    FROM counts, k
    ORDER BY state, next_state
"""

_Q327_NOTES = (
    "FIRST-ORDER MARKOV TRANSITION MATRIX (operators/sequence."
    "markov_transitions — P(next|cur) over per-key timelines with "
    "Laplace smoothing, the behavioral model next to the funnels): one "
    "exchange on the key for the lead() window, then a map-side-"
    "combined agg on (state, next) — output O(K^2) metadata, smoothed "
    "mass implied not materialized (matrix stays sparse). K from one "
    "tiny broadcast agg, no collect"
)

register("q327_markov_transitions", _Q327_ORACLE, _Q327_NOTES)(q327_markov_transitions)


# --- q328: CDC log apply ----------------------------------------------------


def q328_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned CDC log onto the customer snapshot: superseded insert
    (v1) → update (v2) on the %7 keys, delete (v3) on the %11 keys
    (so %77 keys churn update-then-delete and vanish), fresh inserts on
    shifted %13 keys. The oracle derives the expected table from the
    SEMANTICS (CASE/UNION), not by mirroring the row_number plan — an
    independent derivation, the strongest oracle form."""
    from ..operators.cdc import cdc_apply

    base = read_table(spark, sf_dir, "customer")
    data = base.columns

    upd_keys = base.filter(F.col("c_custkey") % 7 == 0)
    superseded = upd_keys.select(
        *[
            F.lit(-1.0).alias("c_acctbal") if c == "c_acctbal" else F.col(c)
            for c in data
        ]
    ).select(
        *data, F.lit("I").alias("op"), F.lit(1).cast("long").alias("version")
    )
    updates = upd_keys.select(
        *[
            (F.col("c_acctbal") + 100.0).alias("c_acctbal")
            if c == "c_acctbal"
            else F.col(c)
            for c in data
        ]
    ).select(
        *data, F.lit("U").alias("op"), F.lit(2).cast("long").alias("version")
    )
    deletes = base.filter(F.col("c_custkey") % 11 == 0).select(
        *data, F.lit("D").alias("op"), F.lit(3).cast("long").alias("version")
    )
    inserts = base.filter(F.col("c_custkey") % 13 == 0).select(
        (F.col("c_custkey") + 100000).alias("c_custkey"),
        F.concat(F.lit("new_"), F.col("c_custkey").cast("string")).alias(
            "c_name"
        ),
        (F.col("c_custkey") % 25).cast("int").alias("c_nationkey"),
        (F.col("c_custkey").cast("double") / 2).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
        F.lit("I").alias("op"),
        F.lit(1).cast("long").alias("version"),
    )
    log = superseded.unionByName(updates).unionByName(deletes).unionByName(
        inserts
    )
    return cdc_apply(base, log, ["c_custkey"]).orderBy("c_custkey")


_Q328_ORACLE = """
    SELECT c_custkey, c_name, c_nationkey,
           CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 100.0
                ELSE c_acctbal END AS c_acctbal,
           c_mktsegment
    FROM customer WHERE c_custkey % 11 <> 0
    UNION ALL
    SELECT c_custkey + 100000,
           'new_' || CAST(c_custkey AS VARCHAR),
           CAST(c_custkey % 25 AS INTEGER),
           CAST(c_custkey AS DOUBLE) / 2,
           'NEW'
    FROM customer WHERE c_custkey % 13 = 0
    ORDER BY c_custkey
"""

_Q328_NOTES = (
    "CDC LOG APPLY / MERGE INTO (operators/cdc.cdc_apply — versioned "
    "I/U/D change log applied latest-wins per key onto a base "
    "snapshot; completes the mutation story next to merge_upsert q74 "
    "and SCD2 q221): the row_number window and latest-wins filter "
    "exchange ONLY the delta log, the 100 TB base is touched by one "
    "AQE-broadcastable left-anti join on the key — the plan MERGE INTO "
    "compiles to. Fixture exercises superseded ops, update+delete "
    "churn, and fresh inserts; the oracle derives the expected table "
    "from semantics (CASE/UNION), independent of the plan"
)

register("q328_cdc_apply", _Q328_ORACLE, _Q328_NOTES)(q328_cdc_apply)


# --- q329: unigram-LM tokenizer training ------------------------------------


def q329_unigram_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed SentencePiece-style unigram-LM vocabulary learned
    from the documents corpus (Viterbi-EM, 3 prune rounds). Rows-only:
    the EM loop is not SQL-expressible; exact merge parity vs the
    pure-python reference is pytest-pinned (the q271/BPE discipline)."""
    from ..llm.unigram import unigram_train

    docs = read_table(spark, sf_dir, "documents").select("text")
    vocab = unigram_train(
        docs,
        "text",
        target_vocab=80,
        seed_size=400,
        max_piece_len=6,
        n_rounds=3,
    )
    return spark.createDataFrame(
        [(p, c, round(lp, 6)) for p, c, lp in vocab],
        "piece string, count long, logp double",
    ).orderBy(F.col("count").desc(), "piece")


_Q329_NOTES = (
    "UNIGRAM-LM TOKENIZER TRAINING (llm/unigram.unigram_train — "
    "SentencePiece-style seed-and-prune Viterbi-EM, the T5/ALBERT "
    "vocabulary algorithm, completing the tokenizer family next to "
    "distributed BPE q271): distinct-word table stays a DataFrame, "
    "seed counting and every E-step are map-only Arrow passes + ONE "
    "hash agg, the driver collects only the O(vocab) model table per "
    "round. Deterministic tie rules (shortest-last-piece Viterbi, "
    "count-desc/piece-asc pruning, char segmentability floor); "
    "rows-only by design (EM loop not SQL-expressible), exact parity "
    "vs the single-threaded reference pytest-pinned"
)

register("q329_unigram_tokenizer", None, _Q329_NOTES)(q329_unigram_tokenizer)


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


# --- q331: graph modularity -------------------------------------------------


def q331_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the node%7 partition over the q284 event
    graph (user_id%97 — event_id%89 canonical edges) — per-community
    decomposition (which communities are cohesive)."""
    from ..operators.graph import canonical_edges, modularity

    ev = read_table(spark, sf_dir, "events")
    pairs = ev.select(
        (F.col("user_id") % 97).alias("src"),
        (F.col("event_id") % 89).alias("dst"),
    )
    edges = canonical_edges(pairs, "src", "dst")
    nodes = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .distinct()
    )
    comms = nodes.select("node", (F.col("node") % 7).alias("community"))
    return modularity(edges, comms, "node", "community").orderBy("community")


_Q331_ORACLE = """
    WITH base AS (
      SELECT DISTINCT LEAST(user_id % 97, event_id % 89) AS a,
                      GREATEST(user_id % 97, event_id % 89) AS b
      FROM events
      WHERE user_id % 97 <> event_id % 89
    ),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT a AS node FROM base UNION ALL SELECT b AS node FROM base
      )
    ),
    cmap AS (SELECT node, node % 7 AS community FROM nodes),
    m AS (SELECT COUNT(*) AS m FROM base),
    tagged AS (
      SELECT e.a, e.b, ca.community AS ca, cb.community AS cb
      FROM base e
      JOIN cmap ca ON ca.node = e.a
      JOIN cmap cb ON cb.node = e.b
    ),
    deg AS (
      SELECT community, COUNT(*) AS degree_sum FROM (
        SELECT ca AS community FROM tagged
        UNION ALL SELECT cb AS community FROM tagged
      ) GROUP BY 1
    ),
    intra AS (
      SELECT ca AS community, COUNT(*) AS intra_edges
      FROM tagged WHERE ca = cb GROUP BY 1
    ),
    per AS (
      SELECT c.community,
             COUNT(*) AS n_nodes,
             COALESCE(MAX(i.intra_edges), 0) AS intra_edges,
             COALESCE(MAX(d.degree_sum), 0) AS degree_sum
      FROM cmap c
      LEFT JOIN deg d ON d.community = c.community
      LEFT JOIN intra i ON i.community = c.community
      GROUP BY 1
    )
    SELECT community, n_nodes, intra_edges, degree_sum,
           CAST(intra_edges AS DOUBLE) / m.m
           - (CAST(degree_sum AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
             * (CAST(degree_sum AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
             AS q_contrib
    FROM per, m ORDER BY community
"""

_Q331_NOTES = (
    "NEWMAN MODULARITY of a given partition (operators/graph."
    "modularity — the quality score for any community assignment, "
    "decomposed per community: Q = sum(q_contrib)): two AQE-"
    "broadcastable node-map joins tag edge endpoints, then two "
    "map-side-combined aggs (degrees derived from edges directly); no "
    "window, no collect, output communities-sized"
)

register("q331_graph_modularity", _Q331_ORACLE, _Q331_NOTES)(q331_graph_modularity)


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


# --- q333: Neyman-allocation stratified sample ------------------------------


def q333_neyman_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-proportional sampling budget over document sources:
    exactly 100 docs, quota_h ∝ N_h·σ(n_chars) with floor +
    largest-remainder integerization and md5-rank picks — the DuckDB
    oracle replays moments, allocation, and every pick bit-for-bit."""
    from ..llm.sampling import neyman_sample

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return neyman_sample(
        docs, "doc_id", "source", "n_chars", total_n=100
    ).orderBy("doc_id")


_Q333_ORACLE = """
    WITH stats AS (
      SELECT source AS s, COUNT(*) AS n,
             SUM(CAST(round(CAST(n_chars AS DOUBLE), 9)
                 AS DECIMAL(38,9))) AS sx,
             SUM(CAST(round(round(CAST(n_chars AS DOUBLE), 9)
                            * round(CAST(n_chars AS DOUBLE), 9), 9)
                 AS DECIMAL(38,9))) AS sxx
      FROM documents GROUP BY 1
    ),
    weighted AS (
      SELECT s, n,
             CAST(round(
               n * (CASE WHEN n > 1 THEN
                      sqrt((CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
                           / (n - 1))
                    ELSE CAST(0 AS DOUBLE) END), 9)
                  AS DECIMAL(38,9)) AS w
      FROM stats
    ),
    tot AS (SELECT SUM(w) AS sw FROM weighted),
    based AS (
      SELECT s, n,
             CAST(floor((100 * CAST(w AS DOUBLE)) / CAST(sw AS DOUBLE))
                  AS BIGINT) AS base,
             (100 * CAST(w AS DOUBLE)) / CAST(sw AS DOUBLE)
               - floor((100 * CAST(w AS DOUBLE)) / CAST(sw AS DOUBLE))
               AS rem
      FROM weighted, tot
    ),
    lo AS (SELECT 100 - SUM(base) AS leftover FROM based),
    alloc AS (
      SELECT s,
             base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, s)
                              <= leftover
                         THEN 1 ELSE 0 END AS quota
      FROM based, lo
    ),
    ranked AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':neyman'), doc_id
             ) AS rn
      FROM documents
    )
    SELECT r.doc_id, r.source, r.n_chars
    FROM ranked r JOIN alloc a ON a.s = r.source
    WHERE r.rn <= a.quota
    ORDER BY r.doc_id
"""

_Q333_NOTES = (
    "NEYMAN-ALLOCATION STRATIFIED SAMPLE (llm/sampling.neyman_sample "
    "— exactly-n sampling with per-stratum quotas proportional to "
    "N_h*sigma_h, the survey-statistics optimum; the principled "
    "upgrade over fixed fractions when strata differ in spread): "
    "decimal-moment agg -> STRATA-sized allocation table (floor + "
    "largest remainder, sum exactly n; the allocation window sorts "
    "strata, not rows) -> salted-md5 rank picks, everything replayed "
    "bit-for-bit by the oracle. Two row-sized exchanges total, both "
    "on the stratum key"
)

register("q333_neyman_sample", _Q333_ORACLE, _Q333_NOTES)(q333_neyman_sample)


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


# --- q337: degree assortativity ---------------------------------------------


def q337_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assortativity + degree summary of the q331 event graph
    (user_id%97 — event_id%89 canonical edges): all-integer Pearson
    numerator/denominator so r is one IEEE division."""
    from ..operators.graph import canonical_edges, degree_assortativity

    ev = read_table(spark, sf_dir, "events")
    pairs = ev.select(
        (F.col("user_id") % 97).alias("src"),
        (F.col("event_id") % 89).alias("dst"),
    )
    return degree_assortativity(canonical_edges(pairs, "src", "dst"))


_Q337_ORACLE = """
    WITH base AS (
      SELECT DISTINCT LEAST(user_id % 97, event_id % 89) AS a,
                      GREATEST(user_id % 97, event_id % 89) AS b
      FROM events
      WHERE user_id % 97 <> event_id % 89
    ),
    deg AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT a AS node FROM base UNION ALL SELECT b AS node FROM base
      ) GROUP BY 1
    ),
    tagged AS (
      SELECT da.deg AS da, db.deg AS db
      FROM base e
      JOIN deg da ON da.node = e.a
      JOIN deg db ON db.node = e.b
    ),
    agg AS (
      SELECT COUNT(*) AS n_edges,
             SUM(da + db) AS s1,
             SUM(da * db) AS sxy,
             SUM(da * da + db * db) AS sxx
      FROM tagged
    ),
    nstats AS (
      SELECT COUNT(*) AS n_nodes, MAX(deg) AS max_degree FROM deg
    )
    SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges,
           CAST(max_degree AS BIGINT) AS max_degree,
           CASE WHEN (2 * n_edges * sxx - s1 * s1) <> 0 THEN
             CAST(4 * n_edges * sxy - s1 * s1 AS DOUBLE)
             / CAST(2 * n_edges * sxx - s1 * s1 AS DOUBLE)
           ELSE 0.0 END AS assortativity
    FROM nstats, agg
"""

_Q337_NOTES = (
    "DEGREE ASSORTATIVITY (operators/graph.degree_assortativity — "
    "Pearson correlation of endpoint degrees over the 2m edge stubs, "
    "Newman 2002: do hubs link to hubs? link-farm detection runs this "
    "next to the q269/q271 triangle/k-core kernels): stub symmetry "
    "reduces r to (4m*Sxy - S1^2)/(2m*Sxx - S1^2) with ALL-INTEGER "
    "sums over edges, so r is ONE IEEE division of exact longs, "
    "bit-portable unrounded. One degree agg + two node-keyed "
    "AQE-broadcastable joins + one global agg; the scalar two-row "
    "crossJoin is metadata-sized (q316 discipline)"
)

register("q337_degree_assortativity", _Q337_ORACLE, _Q337_NOTES)(
    q337_degree_assortativity
)


# --- q338: format inference profiler ----------------------------------------


def q338_format_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema sniffing over a deterministically mixed-format column
    (doc_id%10 rotates through int/decimal/date/uuid/email/url/json/
    bool/empty/free-text) PLUS the real lang column — per-(column,
    format) counts and coverage from ONE stacked scan."""
    from ..operators.profile import infer_formats

    d = F.col("doc_id").cast("string")
    h = F.md5(d)
    uuid = F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )
    m = F.col("doc_id") % 10
    v = (
        F.when(m == 0, d)
        .when(m == 1, F.concat(d, F.lit(".5")))
        .when(
            m == 2,
            F.concat(
                F.lit("2024-01-"),
                F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0"),
            ),
        )
        .when(m == 3, uuid)
        .when(m == 4, F.concat(F.lit("user"), d, F.lit("@example.com")))
        .when(m == 5, F.concat(F.lit("https://example.com/"), d))
        .when(m == 6, F.concat(F.lit('{"k": '), d, F.lit("}")))
        .when(
            m == 7,
            F.when(F.col("doc_id") % 2 == 0, "true").otherwise("false"),
        )
        .when(m == 8, F.lit(""))
        .otherwise(F.concat(F.lit("free text "), d))
    )
    docs = read_table(spark, sf_dir, "documents").select(
        v.alias("v"), "lang"
    )
    return infer_formats(docs, ["v", "lang"]).orderBy("col_name", "fmt")


_Q338_ORACLE = """
    WITH src AS (
      SELECT doc_id, lang,
        CASE doc_id % 10
          WHEN 0 THEN CAST(doc_id AS VARCHAR)
          WHEN 1 THEN CAST(doc_id AS VARCHAR) || '.5'
          WHEN 2 THEN '2024-01-'
                      || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
          WHEN 3 THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) || '-'
                      || substr(md5(CAST(doc_id AS VARCHAR)), 9, 4) || '-'
                      || substr(md5(CAST(doc_id AS VARCHAR)), 13, 4) || '-'
                      || substr(md5(CAST(doc_id AS VARCHAR)), 17, 4) || '-'
                      || substr(md5(CAST(doc_id AS VARCHAR)), 21, 12)
          WHEN 4 THEN 'user' || CAST(doc_id AS VARCHAR) || '@example.com'
          WHEN 5 THEN 'https://example.com/' || CAST(doc_id AS VARCHAR)
          WHEN 6 THEN '{"k": ' || CAST(doc_id AS VARCHAR) || '}'
          WHEN 7 THEN CASE WHEN doc_id % 2 = 0 THEN 'true' ELSE 'false' END
          WHEN 8 THEN ''
          ELSE 'free text ' || CAST(doc_id AS VARCHAR)
        END AS v
      FROM documents
    ),
    stacked AS (
      SELECT 'v' AS col_name, v AS value FROM src
      UNION ALL
      SELECT 'lang' AS col_name, lang AS value FROM src
    ),
    classed AS (
      SELECT col_name,
        CASE
          WHEN value IS NULL THEN 'null'
          WHEN trim(value) = '' THEN 'empty'
          WHEN regexp_matches(value, '^(true|false|TRUE|FALSE|True|False)$')
            THEN 'bool'
          WHEN regexp_matches(value, '^[+-]?[0-9]+$') THEN 'integer'
          WHEN regexp_matches(value, '^[+-]?[0-9]+[.][0-9]+$')
            THEN 'decimal'
          WHEN regexp_matches(value, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$')
            THEN 'date_iso'
          WHEN regexp_matches(value,
            '^[0-9]{4}-[0-9]{2}-[0-9]{2}[T ][0-9]{2}:[0-9]{2}:[0-9]{2}')
            THEN 'timestamp_iso'
          WHEN regexp_matches(value,
            '^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$')
            THEN 'uuid'
          WHEN regexp_matches(value,
            '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}$')
            THEN 'email'
          WHEN regexp_matches(value, '^https?://') THEN 'url'
          WHEN regexp_matches(value, '^[{].*[}]$') THEN 'json_object'
          ELSE 'other'
        END AS fmt
      FROM stacked
    ),
    counted AS (
      SELECT col_name, fmt, COUNT(*) AS n FROM classed GROUP BY 1, 2
    )
    SELECT col_name, fmt, n,
           CAST(n AS DOUBLE)
           / CAST(SUM(n) OVER (PARTITION BY col_name) AS DOUBLE) AS frac
    FROM counted
    ORDER BY col_name, fmt
"""

_Q338_NOTES = (
    "FORMAT-INFERENCE PROFILER (operators/profile.infer_formats — "
    "classify every value of the named string columns into bool/int/"
    "decimal/date/timestamp/uuid/email/url/json/null/empty/other and "
    "report per-(column,format) coverage; the ingest gate that decides "
    "whether a landed VARCHAR is really a typed column): ONE scan (the "
    "columns unpivot through stack, never n jobs), the classifier is a "
    "JVM-side first-match regex chain (codegen, no UDF, patterns in "
    "the Java-regex/RE2 common subset so both engines match "
    "literally), one hash agg. frac = n/total exact-int IEEE division"
)

register("q338_format_inference", _Q338_ORACLE, _Q338_NOTES)(q338_format_inference)


# --- q339: CIDR enrichment join ---------------------------------------------


def q339_cidr_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo/ASN-style IP enrichment: a 37-block CIDR table derived from
    nation (mixed /12../22 prefixes PLUS more-specific overlapping
    blocks on even keys, so longest-prefix selection is exercised, not
    just matching) left-enriches hash-derived event IPs; aggregated to
    per-(owner, plen) counts so the anchor stays verdict-sized."""
    from ..functions.net import cidr_enrich

    nat = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    blocks = nat.select(
        F.col("n_name").alias("owner"),
        (F.col("n_nationkey") * 4194304).alias("net"),
        (12 + (F.col("n_nationkey") % 6) * 2).alias("plen"),
    ).unionByName(
        nat.filter(F.col("n_nationkey") % 2 == 0).select(
            F.concat(F.col("n_name"), F.lit("-spec")).alias("owner"),
            (F.col("n_nationkey") * 4194304).alias("net"),
            (16 + (F.col("n_nationkey") % 6) * 2).alias("plen"),
        )
    )
    ips = read_table(spark, sf_dir, "events").select(
        "event_id", _hash_mod(F.col("event_id"), 11, 104857600).alias("ip")
    )
    enriched = cidr_enrich(ips, "ip", "event_id", blocks, "net", "plen")
    return (
        enriched.groupBy("owner", "matched_plen")
        .agg(
            F.count("*").cast("long").alias("n_ips"),
            F.min("ip").alias("min_ip"),
            F.max("ip").alias("max_ip"),
        )
        .orderBy("owner", "matched_plen")
    )


_Q339_ORACLE = f"""
    WITH blocks AS (
      SELECT n_name AS owner, n_nationkey * 4194304 AS net,
             12 + (n_nationkey % 6) * 2 AS plen
      FROM nation
      UNION ALL
      SELECT n_name || '-spec', n_nationkey * 4194304,
             16 + (n_nationkey % 6) * 2
      FROM nation WHERE n_nationkey % 2 = 0
    ),
    norm AS (
      SELECT owner, plen,
             net - net % CAST(power(2, 32 - plen) AS BIGINT) AS base,
             CAST(power(2, 32 - plen) AS BIGINT) AS size
      FROM blocks
    ),
    ips AS (
      SELECT event_id, {_hash_mod_sql('event_id', 11, 104857600)} AS ip
      FROM events
    ),
    cand AS (
      SELECT i.event_id, i.ip, b.owner, b.plen,
             ROW_NUMBER() OVER (PARTITION BY i.event_id
                                ORDER BY b.plen DESC, b.base) AS rn
      FROM ips i
      JOIN norm b ON i.ip >= b.base AND i.ip < b.base + b.size
    ),
    best AS (SELECT event_id, owner, plen FROM cand WHERE rn = 1),
    enr AS (
      SELECT i.event_id, i.ip, m.owner, m.plen AS matched_plen
      FROM ips i LEFT JOIN best m ON m.event_id = i.event_id
    )
    SELECT owner, matched_plen, COUNT(*) AS n_ips,
           MIN(ip) AS min_ip, MAX(ip) AS max_ip
    FROM enr GROUP BY 1, 2
    ORDER BY owner, matched_plen
"""

_Q339_NOTES = (
    "CIDR LONGEST-PREFIX ENRICHMENT (functions/net.cidr_enrich + "
    "ipv4_to_long — geo/ASN/bot-block IP enrichment, the join every "
    "web-corpus quota and abuse filter needs): the scale answer to the "
    "BETWEEN theta-join is prefix-bucket expansion — every block "
    "expands to its covering fixed-width buckets (width AUTO-SIZED to "
    "the block table's max plen, expansion-capped at 2^12, via one "
    "1-row advisor probe: wide buckets would multiply PROBE "
    "candidates, narrow ones only bounded DIM rows), the join is an "
    "EQUI-join on the bucket (routing-table-sized dim -> AQE "
    "broadcast, never NLJ) with an integer range verify, longest "
    "prefix picked by ONE probe-key window. Left semantics without a "
    "second join. A/B receipt SCALE.md: 28.9x vs the naive NLJ at 50k "
    "blocks, flat in block count. All-integer, bit-portable"
)

register("q339_cidr_enrich", _Q339_ORACLE, _Q339_NOTES)(q339_cidr_enrich)


# --- q340: audio VAD segmentation -------------------------------------------


def q340_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-threshold VAD over the three-arm WAV fixture (PCM16 /
    float32 / float64 all decode to the same waveform): per-doc frame
    mask reduced to segment stats, every column integer-exact until the
    one ratio, replayed bit-for-bit by the SQL oracle."""
    from ..llm.audio import vad_segments, with_wav_payload

    docs = read_table(spark, sf_dir, "documents")
    payloads = with_wav_payload(docs, "doc_id", every=10)
    return (
        vad_segments(payloads, frame=160, threshold=358_000_000)
        .select(
            "doc_id", "n_frames", "n_active", "n_segments",
            "longest_run", "first_active", "active_ratio",
        )
        .orderBy("doc_id")
    )


_Q340_ORACLE = """
    WITH ids AS (
      SELECT doc_id, 800 + (doc_id % 7) * 160 AS n
      FROM documents WHERE doc_id % 10 = 0
    ),
    samples AS (
      SELECT doc_id, n, i,
             (doc_id * 7349 + i * (i + 13) * 2654435761) % 65536 - 32768 AS s
      FROM ids, UNNEST(generate_series(0, n - 1)) AS t(i)
    ),
    frames AS (
      SELECT doc_id, i // 160 AS f, SUM(s * s) AS e
      FROM samples GROUP BY 1, 2
    ),
    act AS (
      SELECT doc_id, f,
             CASE WHEN e >= 160 * CAST(358000000 AS BIGINT)
                  THEN 1 ELSE 0 END AS a
      FROM frames
    ),
    isl AS (
      SELECT doc_id, f, a,
             CASE WHEN a = 1 AND COALESCE(
                    lag(a) OVER (PARTITION BY doc_id ORDER BY f), 0) = 0
                  THEN 1 ELSE 0 END AS st
      FROM act
    ),
    grp AS (
      SELECT doc_id, f, a,
             SUM(st) OVER (PARTITION BY doc_id ORDER BY f
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
      FROM isl
    ),
    seg AS (
      SELECT doc_id, g, COUNT(*) AS len FROM grp WHERE a = 1 GROUP BY 1, 2
    ),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_frames, SUM(a) AS n_active,
             MIN(CASE WHEN a = 1 THEN f END) AS first_active
      FROM act GROUP BY 1
    ),
    seg_doc AS (
      SELECT doc_id, COUNT(*) AS n_segments, MAX(len) AS longest_run
      FROM seg GROUP BY 1
    )
    SELECT p.doc_id,
           CAST(p.n_frames AS BIGINT) AS n_frames,
           CAST(p.n_active AS BIGINT) AS n_active,
           CAST(COALESCE(s.n_segments, 0) AS BIGINT) AS n_segments,
           CAST(COALESCE(s.longest_run, 0) AS BIGINT) AS longest_run,
           CAST(p.first_active AS BIGINT) AS first_active,
           CAST(p.n_active AS DOUBLE) / p.n_frames AS active_ratio
    FROM per_doc p LEFT JOIN seg_doc s ON s.doc_id = p.doc_id
    ORDER BY p.doc_id
"""

_Q340_NOTES = (
    "AUDIO VAD / SILENCE SEGMENTATION (llm/audio.vad_segments — "
    "energy-threshold voice-activity frames reduced to segment stats, "
    "the speech/silence gate an ASR-corpus pipeline runs before "
    "paying for transcription): REAL decode (all three WAV fmt arms) "
    "-> exact integer frame energies (sum-of-squares vs "
    "threshold*frame, no floats) -> gaps-and-islands reduction inside "
    "the same Arrow batch; the oracle regenerates the waveform and "
    "replays frames, mask, islands, and the one ratio division. "
    "Map-only, shuffle-free, per-row cost linear in duration"
)

register("q340_audio_vad", _Q340_ORACLE, _Q340_NOTES)(q340_audio_vad)


# --- q341: image gray histogram + entropy -----------------------------------


def q341_image_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exposure/contrast gate over REAL decoded pixels: grayscale
    16-bin histogram per image (exact integers from the UDF), then
    range + Shannon entropy computed ENGINE-SIDE from the histogram
    array — so the float arithmetic is SQL-replayable, not buried in
    the decoder."""
    import pandas as pd

    from pyspark.sql import types as T

    from ..llm.multimodal import encode_ppm, image_gray_histogram

    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    ).select("doc_id")

    def gen(batches):
        for pdf in batches:
            ids = [int(i) for i in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "payload": [
                        bytearray(
                            encode_ppm(
                                11 + (i % 3) * 2, 10 + (i % 2) * 2, seed=i
                            )
                        )
                        for i in ids
                    ],
                }
            )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    payloads = docs.mapInPandas(gen, schema)
    hist = image_gray_histogram(payloads, n_bins=16)
    ex = hist.select(
        "doc_id", "n_px", "min_gray", "max_gray", "n_bins_used",
        F.explode("hist").alias("c"),
    ).filter(F.col("c") > 0)
    return (
        ex.groupBy("doc_id", "n_px", "min_gray", "max_gray", "n_bins_used")
        .agg(F.sum(F.col("c") * F.log2("c")).alias("_clg"))
        .select(
            "doc_id", "n_px", "min_gray", "max_gray", "n_bins_used",
            (F.col("max_gray") - F.col("min_gray")).alias("gray_range"),
            F.round(
                F.log2("n_px") - F.col("_clg") / F.col("n_px").cast("double"),
                6,
            ).alias("entropy_bits"),
        )
        .orderBy("doc_id")
    )


_Q341_ORACLE = """
    WITH ids AS (
      SELECT doc_id, 11 + (doc_id % 3) * 2 AS w, 10 + (doc_id % 2) * 2 AS h
      FROM documents WHERE doc_id % 10 = 0
    ),
    pix AS (
      SELECT i.doc_id,
             ((i.doc_id + 31 * x.v + 17 * y.v) % 256
              + ((i.doc_id + 31 * x.v + 17 * y.v) % 256 * 7) % 256
              + ((i.doc_id + 31 * x.v + 17 * y.v) % 256 * 13) % 256) // 3
               AS gray
      FROM ids i,
           UNNEST(generate_series(0, i.w - 1)) AS x(v),
           UNNEST(generate_series(0, i.h - 1)) AS y(v)
    ),
    bins AS (
      SELECT doc_id, gray // 16 AS b, COUNT(*) AS c
      FROM pix GROUP BY 1, 2
    ),
    docstats AS (
      SELECT doc_id, COUNT(*) AS n_px,
             MIN(gray) AS min_gray, MAX(gray) AS max_gray
      FROM pix GROUP BY 1
    ),
    ent AS (
      SELECT doc_id, COUNT(*) AS n_bins_used,
             SUM(c * log2(c)) AS clg
      FROM bins GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(d.n_px AS BIGINT) AS n_px,
           CAST(d.min_gray AS BIGINT) AS min_gray,
           CAST(d.max_gray AS BIGINT) AS max_gray,
           CAST(e.n_bins_used AS BIGINT) AS n_bins_used,
           CAST(d.max_gray - d.min_gray AS BIGINT) AS gray_range,
           round(log2(d.n_px) - e.clg / d.n_px, 6) AS entropy_bits
    FROM docstats d JOIN ent e ON e.doc_id = d.doc_id
    ORDER BY d.doc_id
"""

_Q341_NOTES = (
    "IMAGE GRAY HISTOGRAM + ENTROPY (llm/multimodal."
    "image_gray_histogram — the exposure/contrast quality gate of an "
    "image corpus: blank, clipped, or low-dynamic-range images surface "
    "as 1-2 occupied bins / near-zero entropy before any model sees "
    "them): REAL decode -> integer (r+g+b)//3 luminance -> exact 16-bin "
    "counts shipped as an ARRAY so range and Shannon entropy are "
    "computed engine-side (explode + one agg) and the oracle replays "
    "pixels, bins, and the log2 arithmetic. The only floats are "
    "c*log2(c) terms of exact ints, 6dp-rounded for the k<=16-term "
    "sum order. Map-only Arrow decode, one tiny agg exchange"
)

register("q341_image_histogram", _Q341_ORACLE, _Q341_NOTES)(q341_image_histogram)
