"""Catalog queries q401–q432, each registered where it is defined.

q401–q404 are the VERDICT r12 item-4 candidates (fastText-style hashed
linear quality classifier, contamination-aware eval-split carving,
incremental SemDeDup, per-domain token-budget allocator); q405–q414
complete the curation/experimentation surface around them (Gopher
repetition battery, PII scrub batch AND streaming, Benjamini-Hochberg
FDR over a metric battery, delta-method ratio metrics, cluster design
effect, vocab coverage, prototypicality outliers, post-stratified
lift, mixture health); q419–q431 (late-round-13 extensions) add the
preference-data battery (Bradley-Terry MM leaderboard, transitivity
cycle census, Wilson pairwise win rates, length-controlled win rates,
order-bias audit — the RLHF/arena readouts), model-propensity IPW
lift + its propensity-overlap positivity diagnostic, the BigCode
code-quality gate, Krippendorff's alpha, the delete-one-bucket
jackknife, the Good-Turing unseen-mass audit, IPF raking weights,
and unbiased pass@k. Same
template as the r9–r12 additions: operator + randomized/hand-case
pytest (tests/test_round13.py) + oracle pre-verified at sf0.001 and
sf0.01 (tests/test_oracle.py), and
the driver-canon contract of SURVEY.md §5.3 (scalar outputs only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import register
from ..sources import read_table


# DuckDB twin of the portable 24-bit md5 bucket rule (the q380 digit
# replay) — parameterized on the hashed expression and the modulus.
def _bucket_sql(expr: str, m: int) -> str:
    return (
        "CAST(list_sum(list_transform(generate_series(1, 6), "
        f"i -> CAST((strpos('0123456789abcdef', substr(md5({expr}), i, 1)) - 1)"
        f" AS BIGINT) * CAST(pow(16, 6 - i) AS BIGINT))) AS BIGINT) % {m}"
    )


# word uni+bigram feature list from a token array column t (the
# _hashed_features twin: bigrams join with '_')
_FEATS_SQL = (
    "list_concat(t, CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[]) "
    "ELSE list_transform(generate_series(1, len(t) - 1), "
    "i -> t[i] || '_' || t[i + 1]) END)"
)


# --- q401: hashed-NB linear quality classifier (train + score) ---------------------


def q401_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-architecture quality classifier (llm/quality.
    hashed_nb_train + hashed_nb_score): closed-form NB log-count-ratio
    weights over hashed word uni+bigram buckets, trained on the
    lang=='en' label and scoring the whole corpus — the model-based
    quality gate next to q379's LM perplexity gate."""
    from ..llm.quality import hashed_nb_score, hashed_nb_train

    docs = read_table(spark, sf_dir, "documents")
    labeled = docs.withColumn("_pos", F.col("lang") == "en")
    weights, prior = hashed_nb_train(labeled, "_pos", m=64, k=0.5)
    return hashed_nb_score(docs, weights, prior, m=64).orderBy("doc_id")


def _q401_oracle() -> str:
    from .llm import _TOKS_SQL

    return f"""
    WITH toks AS ({_TOKS_SQL}),
    fb AS (
      SELECT doc_id, lang = 'en' AS pos, {_bucket_sql("f", 64)} AS bucket
      FROM (SELECT doc_id, lang, unnest({_FEATS_SQL}) AS f FROM toks)
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
        (SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) + 0.5)
        / (SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) + 0.5)), 9) AS bias
      FROM documents
    ),
    scored AS (
      SELECT b.doc_id, COUNT(*) AS n_features,
             SUM(CAST(w.w AS DECIMAL(38,12))) AS swd
      FROM fb b JOIN weights w USING (bucket) GROUP BY b.doc_id
    ),
    -- logit = bias + sum(w): both exact 9dp decimals, so the sum stays
    -- in DECIMAL and ships unrounded (a 6dp round can hit a TRUE
    -- decimal tie and split on engine rounding modes)
    lg AS (
      SELECT s.doc_id, s.n_features,
             CAST(CAST(p.bias AS DECIMAL(38,12)) + s.swd AS DOUBLE)
               AS logit
      FROM scored s CROSS JOIN prior p
    )
    SELECT doc_id, n_features, logit,
           round(1.0 / (1.0 + exp(-logit)), 6) AS p,
           logit > 0 AS predicted
    FROM lg ORDER BY doc_id
    """


_Q401_NOTES = (
    "HASHED LINEAR QUALITY CLASSIFIER (llm/quality.hashed_nb_train/"
    "hashed_nb_score — VERDICT r12 candidate (a); Joulin et al. 2017 "
    "fastText architecture: hashed word uni+bigram buckets + linear "
    "layer; Wang-Manning 2012 NB log-count-ratio weights as the "
    "closed-form trainer, no SGD): training = two map-combined "
    "aggregates -> m-sized weight table + 1-row prior (persist per "
    "model snapshot, the q379 LM convention); scoring = pure map-side "
    "explode + broadcast equi-join + doc-keyed agg at any corpus size. "
    "Portable 24-bit md5 buckets (q380 rule, digit-replayed by the "
    "oracle), exact LONG counts, ln 9dp, decimal per-doc sums"
)

register("q401_quality_classifier", _q401_oracle(), _Q401_NOTES)(
    q401_quality_classifier
)


# --- q402: contamination-aware eval-split carving -----------------------------------


def q402_eval_holdout_carve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certified-clean holdout (llm/sampling.eval_holdout_carve): a 20%
    hash-nominated candidate slice, ejecting candidates near-dup-linked
    (exact 3-gram Jaccard >= 0.5, the q42 relation) to the frozen train
    side, quota-capped at 3 per source."""
    from ..llm.dedup import ngram_jaccard_pairs
    from ..llm.sampling import eval_holdout_carve

    docs = read_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    return eval_holdout_carve(
        docs, pairs, "source", eval_frac=0.2, quota=3, salt="holdout"
    ).orderBy("doc_id")


def _q402_oracle() -> str:
    from .llm import _JACCARD_SQL, _SHINGLES_SQL

    bucket = _bucket_sql("CAST(doc_id AS VARCHAR) || ':holdout'", 10_000)
    return f"""
    WITH sh AS ({_SHINGLES_SQL}),
    shx AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    cand_pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM shx a JOIN shx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT c.doc_a, c.doc_b
      FROM cand_pairs c JOIN sh sa ON sa.doc_id = c.doc_a
                        JOIN sh sb ON sb.doc_id = c.doc_b
      WHERE {_JACCARD_SQL} >= 0.5
    ),
    split AS (
      SELECT doc_id, source, ({bucket}) < 2000 AS is_cand FROM documents
    ),
    cands AS (SELECT doc_id, source FROM split WHERE is_cand),
    train AS (SELECT doc_id FROM split WHERE NOT is_cand),
    dirty AS (
      SELECT DISTINCT d FROM (
        SELECT p.doc_a AS d FROM pairs p JOIN train t ON p.doc_b = t.doc_id
        UNION ALL
        SELECT p.doc_b AS d FROM pairs p JOIN train t ON p.doc_a = t.doc_id
      )
    ),
    flagged AS (
      SELECT c.doc_id, c.source, (d.d IS NOT NULL) AS contaminated
      FROM cands c LEFT JOIN dirty d ON c.doc_id = d.d
    ),
    ranked AS (
      SELECT *,
             CASE WHEN NOT contaminated THEN
               row_number() OVER (
                 PARTITION BY source, contaminated
                 ORDER BY md5(CAST(doc_id AS VARCHAR) || ':holdout:rank') ASC,
                          doc_id ASC)
             END AS pick_rank
      FROM flagged
    )
    SELECT doc_id, source, contaminated,
           CAST(pick_rank AS BIGINT) AS pick_rank,
           (NOT contaminated AND pick_rank <= 3) AS selected
    FROM ranked ORDER BY doc_id
    """


_Q402_NOTES = (
    "CONTAMINATION-AWARE EVAL-SPLIT CARVING (llm/sampling."
    "eval_holdout_carve — VERDICT r12 candidate (b); Lee et al. 2022 "
    "cross-split overlap): the FROZEN-train workflow leakage_safe_split "
    "cannot express — candidates = portable hash slice, contamination "
    "= two pair-table equi-joins vs the train side reduced to a "
    "distinct ejected set, quota = the q174 per-group hash-rank cap "
    "partitioned (group, contaminated) so clean ranks stay dense. Pair "
    "relation pluggable (anchor uses the q42 exact-Jaccard generator "
    "whose SQL replay the oracle shares). No corpus window, no collect"
)

register("q402_eval_holdout_carve", _q402_oracle(), _Q402_NOTES)(
    q402_eval_holdout_carve
)


# --- q403: incremental SemDeDup ------------------------------------------------------


def q403_semdedup_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup (llm/cluster.semdedup_delta): even vec_ids
    are the frozen archive (its survivors + centroids persisted), odd
    vec_ids are the new ingest batch — one row per NEW vector."""
    from ..llm.cluster import label_centroids, semdedup, semdedup_delta

    emb = read_table(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    cents = label_centroids(old)
    old_kept = (
        semdedup(old, threshold=0.45)
        .filter(F.col("kept"))
        .join(old.select("vec_id", "embedding"), "vec_id")
        .select("vec_id", "embedding", "label")
    )
    return semdedup_delta(new, old_kept, cents, threshold=0.45).orderBy(
        "vec_id"
    )


def _q403_oracle() -> str:
    return """
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    old AS (SELECT * FROM e WHERE vec_id % 2 = 0),
    nw AS (SELECT * FROM e WHERE vec_id % 2 = 1),
    exploded AS (
      SELECT label, e2.dim, e2.x
      FROM (
        SELECT label,
               unnest(list_transform(embedding, (v, i) ->
                 struct_pack(dim := i - 1, x := CAST(v AS DOUBLE)))) AS e2
        FROM embeddings WHERE vec_id % 2 = 0
      )
    ),
    per_dim AS (
      SELECT label, dim,
             CAST(SUM(CAST(round(x, 9) AS DECIMAL(38,12))) AS DOUBLE)
               / COUNT(*) AS c
      FROM exploded GROUP BY label, dim
    ),
    cents AS (
      SELECT label, list(c ORDER BY dim) AS centroid
      FROM per_dim GROUP BY label
    ),
    wd_old AS (
      SELECT o.vec_id, o.label, o.v,
             round(sqrt(CAST(list_sum(list_transform(
               generate_series(1, len(c.centroid)),
               i -> CAST(round((o.v[i] - c.centroid[i])
                               * (o.v[i] - c.centroid[i]), 9)
                         AS DECIMAL(38,12))))
             AS DOUBLE)), 6) AS cdist
      FROM old o JOIN cents c USING (label)
    ),
    dom_old AS (
      SELECT DISTINCT b.vec_id
      FROM wd_old a JOIN wd_old b
        ON a.label = b.label AND a.vec_id <> b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.45
        AND (a.cdist > b.cdist
             OR (a.cdist = b.cdist AND a.vec_id < b.vec_id))
    ),
    old_kept AS (
      SELECT w.* FROM wd_old w
      LEFT JOIN dom_old d ON w.vec_id = d.vec_id
      WHERE d.vec_id IS NULL
    ),
    wd_new AS (
      SELECT n.vec_id, n.label, n.v,
             round(sqrt(CAST(list_sum(list_transform(
               generate_series(1, len(c.centroid)),
               i -> CAST(round((n.v[i] - c.centroid[i])
                               * (n.v[i] - c.centroid[i]), 9)
                         AS DECIMAL(38,12))))
             AS DOUBLE)), 6) AS cdist
      FROM nw n JOIN cents c USING (label)
    ),
    dom_new AS (
      SELECT DISTINCT b.vec_id
      FROM wd_new a JOIN wd_new b
        ON a.label = b.label AND a.vec_id <> b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.45
        AND (a.cdist > b.cdist
             OR (a.cdist = b.cdist AND a.vec_id < b.vec_id))
    ),
    dom_frozen AS (
      SELECT DISTINCT b.vec_id
      FROM old_kept o JOIN wd_new b ON o.label = b.label
      WHERE round(list_cosine_similarity(o.v, b.v), 6) >= 0.45
    )
    SELECT w.vec_id, w.label, w.cdist,
           (d1.vec_id IS NULL AND d2.vec_id IS NULL) AS kept
    FROM wd_new w
    LEFT JOIN dom_new d1 ON w.vec_id = d1.vec_id
    LEFT JOIN dom_frozen d2 ON w.vec_id = d2.vec_id
    ORDER BY w.vec_id
    """


_Q403_NOTES = (
    "INCREMENTAL SEMDEDUP (llm/cluster.semdedup_delta — VERDICT r12 "
    "candidate (c); the q365 delta-CC maintenance pattern applied to "
    "q375): new batch dedupes against FROZEN prior state (persisted "
    "survivors + centroids) without re-touching the archive — old "
    "survivors immutable, batch distances measured on frozen centroids "
    "(drift documented; periodic full re-base resets it). Two "
    "within-cluster equi-joins (new x old_kept, new x new), both "
    "bounded by the SemDeDup cluster-size contract; empty-old reduces "
    "exactly to semdedup(new) (pytest law). Work scales with the batch"
)

register("q403_semdedup_delta", _q403_oracle(), _Q403_NOTES)(q403_semdedup_delta)


# --- q404: per-domain token-budget water-filling -------------------------------------

_Q404_WEIGHTS = {
    "src0": 2.0,
    "src1": 1.0,
    "src2": 1.0,
    "src3": 1.0,
    "srcmissing": 0.5,
}
_Q404_BUDGET = 50_000.0
_Q404_EPOCHS = 2.0


def q404_token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling allocator (llm/sampling.token_budget_waterfill)
    over the documents token mass: a 5-domain mixture (one absent from
    the corpus), 50k-token budget, 2-epoch repeat cap. The FIXED budget
    deliberately crosses the corpus size across fixture scales: all
    domains cap at sf0.001 (leftover > 0), mixed at sf0.01,
    pure-proportional at sf0.1 — one anchor exercises every regime."""
    from ..functions.text import token_count
    from ..llm.sampling import token_budget_waterfill

    docs = read_table(spark, sf_dir, "documents").withColumn(
        "_ntok", token_count("text")
    )
    return token_budget_waterfill(
        docs, "source", "_ntok", _Q404_WEIGHTS,
        budget=_Q404_BUDGET, max_epochs=_Q404_EPOCHS,
    ).orderBy("domain")


def _q404_oracle() -> str:
    from .llm import _TOKS_SQL

    wtot = sum(_Q404_WEIGHTS.values())
    rows = ", ".join(
        f"('{d}', CAST({round(w / wtot, 12)!r} AS DOUBLE))"
        for d, w in sorted(_Q404_WEIGHTS.items())
    )
    b = _Q404_BUDGET
    return f"""
    WITH toks AS ({_TOKS_SQL}),
    avail AS (
      SELECT source AS domain, CAST(SUM(len(t)) AS BIGINT) AS avail
      FROM toks GROUP BY source
    ),
    w(domain, share) AS (VALUES {rows}),
    base AS (
      SELECT w.domain, COALESCE(a.avail, 0) AS avail, w.share,
             CAST(COALESCE(a.avail, 0) AS DOUBLE) * {_Q404_EPOCHS} AS cap
      FROM w LEFT JOIN avail a USING (domain)
    ),
    r AS (SELECT *, round(cap / share, 9) AS rr FROM base),
    stepped AS (
      SELECT *,
        CAST(COALESCE(SUM(CAST(cap AS DECIMAL(38,6))) OVER (
          ORDER BY rr ASC NULLS FIRST, domain ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE)
          AS cum_cap,
        CAST(SUM(CAST(share AS DECIMAL(38,12))) OVER ()
          - COALESCE(SUM(CAST(share AS DECIMAL(38,12))) OVER (
              ORDER BY rr ASC NULLS FIRST, domain ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS DOUBLE) AS rem_share
      FROM r
    ),
    okd AS (
      SELECT *,
        CASE WHEN rr IS NULL
             OR rr <= round(({b} - cum_cap) / rem_share, 9)
             THEN 1 ELSE 0 END AS ok
      FROM stepped
    ),
    cap_flagged AS (
      SELECT *,
        MIN(ok) OVER (ORDER BY rr ASC NULLS FIRST, domain ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1 AS capped
      FROM okd
    ),
    level AS (
      SELECT
        round(({b} - CAST(SUM(CASE WHEN capped
            THEN CAST(cap AS DECIMAL(38,6))
            ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE))
          / nullif(CAST(SUM(CAST(share AS DECIMAL(38,12)))
            - SUM(CASE WHEN capped THEN CAST(share AS DECIMAL(38,12))
                  ELSE CAST(0 AS DECIMAL(38,12)) END) AS DOUBLE), 0), 9)
          AS lam,
        round(greatest({b}
          - CAST(SUM(CAST(cap AS DECIMAL(38,6))) AS DOUBLE), 0.0), 6)
          AS leftover
      FROM cap_flagged
    )
    SELECT c.domain, c.avail AS avail_tokens,
           round(c.cap, 6) AS cap_tokens,
           round(c.share, 6) AS target_share,
           round(l.lam, 6) AS water_level,
           round(CASE WHEN c.capped THEN c.cap
                 ELSE c.share * l.lam END, 6) AS allocated_tokens,
           round((CASE WHEN c.capped THEN c.cap ELSE c.share * l.lam END)
                 / nullif(CAST(c.avail AS DOUBLE), 0), 6) AS epochs,
           c.capped,
           l.leftover AS leftover_budget
    FROM cap_flagged c CROSS JOIN level l ORDER BY c.domain
    """


_Q404_NOTES = (
    "TOKEN-BUDGET WATER-FILLING (llm/sampling.token_budget_waterfill — "
    "VERDICT r12 candidate (d), closing the loop between q381's epoch "
    "plan and q396's retention accounting: capped domains' surplus "
    "REDISTRIBUTES to uncapped ones; classic water-filling under "
    "Muennighoff et al. 2023 repeat caps): one map-combined domain agg "
    "reduces the corpus to a domains-sized frame; sort + running sums "
    "are metadata-sized windows (the prefix.py offsets class); water "
    "level = one 1-row conditional agg broadcast back. Remaining-share "
    "arithmetic rides DECIMAL against the in-query total so all-capped "
    "resolves to an exactly-NULL level (not a float-residual blowup). "
    "Sum(allocated) = min(budget, sum caps) — pytest conservation law"
)

register("q404_token_budget_waterfill", _q404_oracle(), _Q404_NOTES)(
    q404_token_budget_waterfill
)


# --- q405: Gopher repetition battery -------------------------------------------------


def q405_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-weighted Gopher repetition rules (llm/quality.
    gopher_repetition_filters) over the documents table."""
    from ..llm.quality import gopher_repetition_filters

    docs = read_table(spark, sf_dir, "documents")
    return gopher_repetition_filters(docs).orderBy("doc_id")


def _q405_oracle() -> str:
    from .llm import _TOKS_SQL

    def grams(n: int) -> str:
        return (
            f"SELECT doc_id, {n} AS n, unnest(CASE WHEN len(t) >= {n} THEN "
            f"list_transform(generate_series(1, len(t) - {n - 1}), "
            f"i -> concat_ws(' ', {', '.join(f't[i+{j}]' for j in range(n))}))"
            " ELSE CAST([] AS VARCHAR[]) END) AS gram FROM base"
        )

    return f"""
    WITH toks AS ({_TOKS_SQL}),
    base AS (
      SELECT doc_id, len(t) AS n_tokens,
             COALESCE(list_sum(list_transform(t, x -> length(x))), 0)
               AS chars,
             t
      FROM toks
    ),
    grams AS ({grams(2)} UNION ALL {grams(3)} UNION ALL {grams(5)}),
    counts AS (
      SELECT doc_id, n, gram, COUNT(*) AS cnt
      FROM grams GROUP BY doc_id, n, gram
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id, n
                                   ORDER BY cnt DESC, gram ASC) AS rn
      FROM counts
    ),
    per AS (
      SELECT doc_id,
        MAX(CASE WHEN n = 2 AND rn = 1
            THEN cnt * (length(gram) - 1) END) AS top2,
        MAX(CASE WHEN n = 3 AND rn = 1
            THEN cnt * (length(gram) - 2) END) AS top3,
        SUM(CASE WHEN n = 5 AND cnt >= 2
            THEN cnt * (length(gram) - 4) ELSE 0 END) AS dup5
      FROM ranked GROUP BY doc_id
    ),
    fr AS (
      SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
        least(COALESCE(CAST(p.top2 AS DOUBLE)
              / nullif(CAST(b.chars AS DOUBLE), 0), 0.0), 1.0) AS t2,
        least(COALESCE(CAST(p.top3 AS DOUBLE)
              / nullif(CAST(b.chars AS DOUBLE), 0), 0.0), 1.0) AS t3,
        least(COALESCE(CAST(p.dup5 AS DOUBLE)
              / nullif(CAST(b.chars AS DOUBLE), 0), 0.0), 1.0) AS d5
      FROM base b LEFT JOIN per p USING (doc_id)
    )
    SELECT doc_id, n_tokens,
           round(t2, 6) AS top2_char_frac,
           round(t3, 6) AS top3_char_frac,
           round(d5, 6) AS dup5_char_frac,
           t2 <= 0.20 AS rule_top2,
           t3 <= 0.18 AS rule_top3,
           d5 <= 0.15 AS rule_dup5,
           (t2 <= 0.20 AND t3 <= 0.18 AND d5 <= 0.15) AS passes
    FROM fr ORDER BY doc_id
    """


_Q405_NOTES = (
    "GOPHER REPETITION BATTERY (llm/quality.gopher_repetition_filters "
    "— Rae et al. 2021 A1.1 character-weighted rules: top-2-gram char "
    "frac > 0.20, top-3-gram > 0.18, duplicated-5-gram > 0.15 reject; "
    "the companion to q383's document-level rules; char weighting "
    "catches long-unit loops the q209-style count fractions "
    "under-weigh): grams map-side; ONE (doc,n,gram) count agg; top "
    "gram = row_number on the SAME key (tie: count DESC, gram ASC); "
    "doc-keyed reduce + broadcast-back join — all exchanges doc-keyed. "
    "Token-space char accounting + clamp-at-1 dup overlap documented "
    "as the SQL-replayable deviation from the paper's interval union"
)

register("q405_repetition_filters", _q405_oracle(), _Q405_NOTES)(
    q405_repetition_filters
)


# --- q406: PII scrub -----------------------------------------------------------------


def q406_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (llm/pii.pii_scrub) over the documents
    table — per doc the three class counts, the redacted text, and the
    char delta."""
    from ..llm.pii import pii_scrub

    docs = read_table(spark, sf_dir, "documents")
    return pii_scrub(docs).orderBy("doc_id")


def _q406_oracle() -> str:
    from ..llm.pii import PII_PATTERNS

    e, i, p = (
        PII_PATTERNS["email"],
        PII_PATTERNS["ipv4"],
        PII_PATTERNS["phone"],
    )
    red = (
        f"regexp_replace(regexp_replace(regexp_replace(text, "
        f"'{e}', '<EMAIL>', 'g'), '{i}', '<IPV4>', 'g'), "
        f"'{p}', '<PHONE>', 'g')"
    )
    return f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{e}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(text, '{i}')) AS BIGINT) AS n_ipv4,
           CAST(len(regexp_extract_all(text, '{e}'))
                + len(regexp_extract_all(text, '{p}'))
                + len(regexp_extract_all(text, '{i}')) AS BIGINT)
             AS pii_total,
           {red} AS redacted_text,
           CAST(length(text) - length({red}) AS BIGINT) AS redacted_chars
    FROM documents ORDER BY doc_id
    """


_Q406_NOTES = (
    "PII SCRUB (llm/pii.pii_scrub — the regex scrub step of C4-class "
    "pipelines: emails, phones, IPv4; counts on the original text, "
    "redaction in a fixed email->ipv4->phone order so redacted-tag "
    "digits cannot re-match): pure MAP-ONLY whole-stage-codegen string "
    "expressions, no shuffle/UDF, lifts to readStream unchanged (q414 "
    "is the streaming twin). Patterns are written in the Java-regex / "
    "RE2 common subset (no backrefs/lookaround/word-boundaries) and "
    "the oracle replays count+redaction digit-for-digit; version-"
    "string dotted quads are a documented false-positive class"
)

register("q406_pii_scrub", _q406_oracle(), _Q406_NOTES)(q406_pii_scrub)


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


# --- q410: vocabulary coverage / OOV -------------------------------------------------


def q410_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-32 vocabulary + per-source OOV rates (llm/lm.vocab_coverage)
    — V deliberately below the synthetic corpus's distinct-token count
    so the OOV path is exercised at every fixture scale."""
    from ..llm.lm import vocab_coverage

    docs = read_table(spark, sf_dir, "documents")
    return vocab_coverage(docs, "source", vocab_size=32).orderBy("domain")


def _q410_oracle() -> str:
    from .llm import _TOKS_SQL

    return f"""
    WITH toks AS ({_TOKS_SQL}),
    tx AS (SELECT source AS domain, unnest(t) AS tok FROM toks),
    gc AS (SELECT tok, COUNT(*) AS c FROM tx GROUP BY tok),
    vocab AS (SELECT tok FROM gc ORDER BY c DESC, tok ASC LIMIT 32),
    per AS (SELECT domain, tok, COUNT(*) AS n FROM tx GROUP BY domain, tok)
    SELECT p.domain,
           CAST(SUM(p.n) AS BIGINT) AS total_tokens,
           CAST(COUNT(*) AS BIGINT) AS distinct_tokens,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN p.n ELSE 0 END) AS BIGINT)
             AS oov_tokens,
           round(SUM(CASE WHEN v.tok IS NULL THEN p.n ELSE 0 END)
                 / CAST(SUM(p.n) AS DOUBLE), 6) AS oov_rate,
           CAST(32 AS BIGINT) AS vocab_size
    FROM per p LEFT JOIN vocab v ON p.tok = v.tok
    GROUP BY p.domain ORDER BY p.domain
    """


_Q410_NOTES = (
    "VOCAB COVERAGE / OOV AUDIT (llm/lm.vocab_coverage — the coverage "
    "number WordPiece/SentencePiece pipelines freeze a vocabulary on; "
    "high per-domain OOV = UNK fragmentation): one token count agg; "
    "top-V cut = LIMIT over (count DESC, token ASC) — "
    "TakeOrderedAndProject, no global sort; V-sized vocab broadcast-"
    "LEFT-joins per-(domain,token) counts; one domain reduce. V is a "
    "model-sized constant (10^4-10^5 in production) — always "
    "broadcastable"
)

register("q410_vocab_coverage", _q410_oracle(), _Q410_NOTES)(q410_vocab_coverage)


# --- q411: prototypicality outliers --------------------------------------------------


def q411_prototypicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster centroid-distance z-scores (llm/cluster.
    prototypicality) over the embeddings table, |z| > 2 flagged."""
    from ..llm.cluster import prototypicality

    emb = read_table(spark, sf_dir, "embeddings")
    return prototypicality(emb, z_threshold=2.0).orderBy("vec_id")


def _q411_oracle() -> str:
    return f"""
    WITH e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    exploded AS (
      SELECT label, e2.dim, e2.x
      FROM (
        SELECT label,
               unnest(list_transform(embedding, (v, i) ->
                 struct_pack(dim := i - 1, x := CAST(v AS DOUBLE)))) AS e2
        FROM embeddings
      )
    ),
    per_dim AS (
      SELECT label, dim,
             CAST(SUM(CAST(round(x, 9) AS DECIMAL(38,12))) AS DOUBLE)
               / COUNT(*) AS c
      FROM exploded GROUP BY label, dim
    ),
    cents AS (
      SELECT label, list(c ORDER BY dim) AS centroid
      FROM per_dim GROUP BY label
    ),
    wd AS (
      SELECT e.vec_id, e.label,
             round(sqrt(CAST(list_sum(list_transform(
               generate_series(1, len(c.centroid)),
               i -> CAST(round((e.v[i] - c.centroid[i])
                               * (e.v[i] - c.centroid[i]), 9)
                         AS DECIMAL(38,12))))
             AS DOUBLE)), 6) AS cdist
      FROM e JOIN cents c USING (label)
    ),
    stats AS (
      SELECT label, COUNT(*) AS n,
             CAST(SUM(CAST(cdist AS DECIMAL(18,6))) AS DOUBLE) AS s,
             CAST(SUM(CAST(CAST(cdist AS DECIMAL(18,6))
                  * CAST(cdist AS DECIMAL(18,6)) AS DECIMAL(38,12)))
                  AS DOUBLE) AS ss
      FROM wd GROUP BY label
    ),
    zs AS (
      SELECT w.vec_id, w.label, w.cdist,
        round((w.cdist - t.s / CAST(t.n AS DOUBLE))
          / (CASE WHEN sqrt(greatest(COALESCE(
               (t.ss - t.s * t.s / CAST(t.n AS DOUBLE))
               / nullif(CAST(t.n AS DOUBLE) - 1, 0), 0.0), 0.0)) > 0
             THEN sqrt(greatest(COALESCE(
               (t.ss - t.s * t.s / CAST(t.n AS DOUBLE))
               / nullif(CAST(t.n AS DOUBLE) - 1, 0), 0.0), 0.0)) END), 6)
          AS z
      FROM wd w JOIN stats t USING (label)
    )
    SELECT vec_id, label, cdist, z,
           COALESCE(abs(z) > 2.0, FALSE) AS is_outlier
    FROM zs ORDER BY vec_id
    """


_Q411_NOTES = (
    "PROTOTYPICALITY / EMBEDDING OUTLIERS (llm/cluster.prototypicality "
    "— Sorscher et al. 2022 'Beyond neural scaling laws': centroid "
    "distance is the self-supervised pruning metric; z-scored WITHIN "
    "the cluster so 'atypical' is relative to the cluster's own "
    "spread — flags the noisy fringe semdedup's core-removal never "
    "touches): labels-sized centroid broadcast + ONE map-combined "
    "label agg broadcast back — no self-join, no window; strictly "
    "cheaper than q375 on the same input. Shared 6dp distance helper "
    "with q375/q403 (one arithmetic, three consumers); singleton/"
    "zero-variance clusters report NULL z"
)

register("q411_prototypicality", _q411_oracle(), _Q411_NOTES)(q411_prototypicality)


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


# --- q413: mixture health ------------------------------------------------------------


def q413_mixture_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-share mixture health (llm/sampling.mixture_health) per
    source — entropy, effective domains, HHI, max share."""
    from ..functions.text import token_count
    from ..llm.sampling import mixture_health

    docs = read_table(spark, sf_dir, "documents").withColumn(
        "_ntok", token_count("text")
    )
    return mixture_health(docs, "source", "_ntok").orderBy("domain")


def _q413_oracle() -> str:
    from .llm import _TOKS_SQL

    return f"""
    WITH toks AS ({_TOKS_SQL}),
    per AS (
      SELECT source AS domain, COUNT(*) AS n_docs,
             CAST(SUM(len(t)) AS BIGINT) AS n_tokens
      FROM toks GROUP BY source
    ),
    tot AS (SELECT SUM(n_tokens) AS t FROM per),
    sh AS (
      SELECT domain, n_docs, n_tokens,
             CAST(n_tokens AS DOUBLE) / t.t AS p
      FROM per CROSS JOIN tot t
    ),
    sc AS (
      SELECT
        CAST(SUM(CAST(CASE WHEN p > 0 THEN round(-p * ln(p), 9)
             ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE) AS h,
        CAST(SUM(CAST(round(p * p, 9) AS DECIMAL(38,12))) AS DOUBLE)
          AS hhi,
        MAX(p) AS mx
      FROM sh
    )
    SELECT domain, n_docs, n_tokens,
           round(p, 6) AS token_share,
           round(h, 6) AS entropy,
           round(exp(h), 6) AS effective_domains,
           round(hhi, 6) AS hhi,
           round(mx, 6) AS max_share
    FROM sh CROSS JOIN sc ORDER BY domain
    """


_Q413_NOTES = (
    "MIXTURE HEALTH (llm/sampling.mixture_health — the concentration "
    "readout every mixture table reports: token-share entropy, "
    "effective domain count exp(H), Herfindahl index, max share): one "
    "map-combined domain agg -> domains-sized frame; global scalars "
    "are a second agg OF THAT FRAME broadcast back (q400 scalar "
    "pattern) — no window, no second corpus pass; p*ln p terms 9dp on "
    "a decimal fold"
)

register("q413_mixture_health", _q413_oracle(), _Q413_NOTES)(q413_mixture_health)


# --- q414: streaming PII gate --------------------------------------------------------


def q414_stream_pii_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub AT INGEST (streaming form of q406): the documents
    table streams through pii_scrub — pure map-only, so it composes
    into the readStream path unchanged (append mode, no state) and the
    availableNow replay equals the batch run row-for-row (the q398
    convention; shares q406's oracle verbatim)."""
    from ..llm.pii import pii_scrub
    from ..schema import TABLE_SCHEMAS
    from ..streaming.runner import run_available_now

    stream = (
        spark.readStream.schema(TABLE_SCHEMAS["documents"])
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    gated = pii_scrub(stream)
    return run_available_now(gated, output_mode="append").orderBy("doc_id")


_Q414_NOTES = (
    "STREAMING PII GATE (q406's scrub composed into the readStream "
    "path — scrub documents AT INGEST, before they land in the "
    "corpus): pii_scrub is a pure map-only projection, streaming-safe "
    "by construction (append mode, no state, no watermark); "
    "availableNow replay equals the batch run row-for-row — q414 "
    "shares q406's oracle verbatim (the q398/q37 streaming-parity "
    "convention). With q398 this pins the rule that ALL map-only "
    "curation operators lift to Structured Streaming unchanged"
)

register("q414_stream_pii_gate", _q406_oracle(), _Q414_NOTES)(q414_stream_pii_gate)


# --- q415: JL projection + recall eval -----------------------------------------------


def q415_jl_projection_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Johnson-Lindenstrauss projection to 16 dims
    (llm/similarity.jl_project) + top-1 recall vs the full-dim exact
    answer (projection_recall) on the bounded q274-convention probe set
    (vec_id < 400) — the eval run before shipping a JL-compressed
    index."""
    from ..llm.similarity import jl_project, projection_recall

    emb = read_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 400
    )
    proj = jl_project(emb, out_dim=16, salt="jl")
    return projection_recall(emb, proj)


def _q415_oracle() -> str:
    from ..functions.portable_hash import u32_md5_sql

    sign = u32_md5_sql(
        "CAST(d.range AS VARCHAR) || ',' || CAST(o.range AS VARCHAR)", "jl"
    )
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id < 400
    ),
    signs AS (
      SELECT d.range AS dim, o.range AS outd,
             CASE WHEN ({sign}) % 2 = 0 THEN 1.0 ELSE -1.0 END AS s
      FROM range(64) d CROSS JOIN range(16) o
    ),
    ex AS (
      SELECT vec_id, u.i - 1 AS dim, v[u.i] AS x
      FROM e, (SELECT unnest(generate_series(1, 64)) AS i) u
    ),
    summed AS (
      SELECT ex.vec_id, s.outd,
             CAST(SUM(CAST(s.s * ex.x AS DECIMAL(38,12))) AS DOUBLE)
               * (1.0 / sqrt(16.0)) AS y
      FROM ex JOIN signs s ON ex.dim = s.dim
      GROUP BY ex.vec_id, s.outd
    ),
    proj AS (
      SELECT vec_id, list(y ORDER BY outd) AS pv FROM summed
      GROUP BY vec_id
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             round(list_cosine_similarity(q.v, c.v), 6) AS cos_full,
             round(list_cosine_similarity(qp.pv, cp.pv), 6) AS cos_proj
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
      JOIN proj qp ON qp.vec_id = q.vec_id
      JOIN proj cp ON cp.vec_id = c.vec_id
    ),
    tops AS (
      SELECT query_id, cand_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cos_full DESC, cand_id ASC) AS rf,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cos_proj DESC, cand_id ASC) AS rp
      FROM scored
    ),
    matched AS (
      SELECT COUNT(*) AS n_queries,
             CAST(SUM(CASE WHEN f.cand_id = p.cand_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_matched
      FROM (SELECT query_id, cand_id FROM tops WHERE rf = 1) f
      JOIN (SELECT query_id, cand_id FROM tops WHERE rp = 1) p
        USING (query_id)
    ),
    dist AS (
      SELECT round(CAST(SUM(CAST(round(abs(cos_full - cos_proj), 9)
               AS DECIMAL(38,12))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS mean_cos_distortion
      FROM scored
    )
    SELECT m.n_queries, m.n_matched,
           CAST(m.n_matched AS DOUBLE) / m.n_queries AS recall,
           d.mean_cos_distortion
    FROM matched m CROSS JOIN dist d
    """


_Q415_NOTES = (
    "JL RANDOM PROJECTION + RECALL EVAL (llm/similarity.jl_project / "
    "projection_recall — Achlioptas 2003 database-friendly ±1/sqrt(k) "
    "Rademacher projections satisfy the JL lemma; the dim-reduction "
    "path when q274 shows prefix truncation collapses): the sign "
    "matrix derives IN-ENGINE from the portable md5 rule (no driver "
    "RNG, digit-replayed by the oracle); projection = posexplode + ONE "
    "broadcast equi-join on dim + (id,out) decimal agg — sign*x is an "
    "exact negation so projected vectors are bit-identical across "
    "engines. The recall eval is the require_small-guarded q43/q274 "
    "exact-baseline class (probe-subset contract at scale; "
    "queue-gate intentional entry with the same justification q274 "
    "carried). Also reports mean |cosine distortion| — the quantity "
    "the JL lemma bounds"
)

register("q415_jl_projection_recall", _q415_oracle(), _Q415_NOTES)(
    q415_jl_projection_recall
)


# --- q416: character-class / script mix ----------------------------------------------


def q416_char_class_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Script-mix QC (llm/quality.char_class_mix) over the documents
    table — per doc the five character-class fractions and the
    latin-dominant flag."""
    from ..llm.quality import char_class_mix

    docs = read_table(spark, sf_dir, "documents")
    return char_class_mix(docs).orderBy("doc_id")


def _q416_oracle() -> str:
    def cnt(pattern: str) -> str:
        return (
            f"length(text) - length(regexp_replace(text, '{pattern}', "
            "'', 'g'))"
        )

    latin = cnt("[A-Za-z]")
    digit = cnt("[0-9]")
    space = cnt("[ \\t\\n\\r]")
    punct = cnt("[!-/:-@\\[-`{-~]")
    return f"""
    WITH c AS (
      SELECT doc_id, length(text) AS n,
             {latin} AS latin, {digit} AS digit,
             {space} AS space, {punct} AS punct
      FROM documents
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
           round(CAST(latin AS DOUBLE) / nullif(n, 0), 6) AS latin_frac,
           round(CAST(digit AS DOUBLE) / nullif(n, 0), 6) AS digit_frac,
           round(CAST(space AS DOUBLE) / nullif(n, 0), 6) AS space_frac,
           round(CAST(punct AS DOUBLE) / nullif(n, 0), 6) AS punct_frac,
           round(CAST(n - latin - digit - space - punct AS DOUBLE)
                 / nullif(n, 0), 6) AS other_frac,
           COALESCE(CAST(latin AS DOUBLE) / nullif(n, 0) >= 0.5, FALSE)
             AS latin_dominant
    FROM c ORDER BY doc_id
    """


_Q416_NOTES = (
    "CHARACTER-CLASS / SCRIPT MIX (llm/quality.char_class_mix — the "
    "script-level QC next to q47's token-level lang-ID: high 'other' "
    "mass under an 'en' tag = mis-tag, mixed script, or mojibake that "
    "[a-z0-9] tokenizers are structurally blind to): length-difference "
    "arithmetic over regexp_replace char classes in the Java-regex/RE2 "
    "common subset (q406 convention) — pure map-only codegen, zero "
    "shuffle, streams like q398/q414; empty docs report NULL fractions "
    "and fail the flag"
)

register("q416_char_class_mix", _q416_oracle(), _Q416_NOTES)(q416_char_class_mix)


# --- q417: interpolated trigram LM gate ----------------------------------------------


def q417_trigram_lm_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer interpolated trigram perplexity gate (llm/lm.
    trigram_lm_train/score): model trained on the lang='en' slice,
    whole corpus scored — the production-shape upgrade of q379's
    add-k bigram gate."""
    from ..llm.lm import trigram_lm_score, trigram_lm_train

    docs = read_table(spark, sf_dir, "documents")
    tri, ctx2, big, uni = trigram_lm_train(docs.filter(F.col("lang") == "en"))
    return trigram_lm_score(docs, tri, ctx2, big, uni).orderBy("doc_id")


def _q417_oracle() -> str:
    from .llm import _TOKS_SQL

    grams = (
        "list_transform(generate_series(1, len(t) - 2), i -> "
        "struct_pack(w1 := t[i], w2 := t[i+1], w3 := t[i+2]))"
    )
    return f"""
    WITH toks AS ({_TOKS_SQL}),
    ref AS (SELECT t FROM toks WHERE lang = 'en'),
    tri AS (
      SELECT g.w1, g.w2, g.w3, COUNT(*) AS c_tri
      FROM (SELECT unnest({grams}) AS g FROM ref WHERE len(t) >= 3)
      GROUP BY g.w1, g.w2, g.w3
    ),
    ctx2 AS (
      SELECT w1, w2, SUM(c_tri) AS c_ctx2 FROM tri GROUP BY w1, w2
    ),
    big AS (
      SELECT w2 AS b1, w3 AS b2, SUM(c_tri) AS c_big
      FROM tri GROUP BY w2, w3
    ),
    ctx1 AS (SELECT b1, SUM(c_big) AS c_ctx1 FROM big GROUP BY b1),
    uni AS (
      SELECT u AS w, COUNT(*) AS c_uni
      FROM (SELECT unnest(t) AS u FROM ref) GROUP BY u
    ),
    tot AS (SELECT SUM(c_uni) AS t_uni, COUNT(*) AS v FROM uni),
    dg AS (
      SELECT doc_id, g.w1, g.w2, g.w3
      FROM (SELECT doc_id, unnest({grams}) AS g FROM toks
            WHERE len(t) >= 3)
    ),
    scored AS (
      SELECT d.doc_id,
        round(-ln(
          0.5 * COALESCE(CAST(tr.c_tri AS DOUBLE) / c2.c_ctx2, 0.0)
          + 0.3 * COALESCE(CAST(b.c_big AS DOUBLE) / c1.c_ctx1, 0.0)
          + 0.2 * ((COALESCE(u.c_uni, 0) + 0.5)
                   / (CAST(tt.t_uni AS DOUBLE)
                      + 0.5 * CAST(tt.v AS DOUBLE)))), 9) AS nl
      FROM dg d
      LEFT JOIN tri tr ON d.w1 = tr.w1 AND d.w2 = tr.w2 AND d.w3 = tr.w3
      LEFT JOIN ctx2 c2 ON d.w1 = c2.w1 AND d.w2 = c2.w2
      LEFT JOIN big b ON d.w2 = b.b1 AND d.w3 = b.b2
      LEFT JOIN ctx1 c1 ON d.w2 = c1.b1
      LEFT JOIN uni u ON d.w3 = u.w
      CROSS JOIN tot tt
    )
    SELECT doc_id, COUNT(*) AS n_trigrams,
           round(CAST(SUM(CAST(nl AS DECIMAL(38,12))) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS avg_neg_logp
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """


_Q417_NOTES = (
    "INTERPOLATED TRIGRAM LM GATE (llm/lm.trigram_lm_train/score — "
    "Jelinek-Mercer 1980 linear interpolation over trigram/bigram/"
    "add-k-unigram, the SQL-replayable stand-in for CCNet's KenLM "
    "smoothing; Kneser-Ney's continuation discounting is a documented "
    "fidelity bound, NOT approximated): four mergeable count tables "
    "from ONE reference pass (exact-LONG monoids — the q397 merge "
    "story applies verbatim; bigram/context tables derive FROM the "
    "trigram table so denominators are exactly consistent); scoring = "
    "map-side trigram explode + broadcast LEFT joins (hash joins at "
    "KenLM-class model sizes) + one doc-keyed decimal agg; higher "
    "orders back off to the unigram floor so unseen histories never "
    "zero out. ln 9dp, per-doc decimal sums, 6dp out"
)

register("q417_trigram_lm_gate", _q417_oracle(), _Q417_NOTES)(q417_trigram_lm_gate)


# --- q418: end-to-end curation funnel -------------------------------------------------


def q418_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed FILTER FUNNEL a real curation pipeline runs — the
    ordered gate chain with per-stage survival accounting (every
    published pipeline reports exactly this table: FineWeb/RefinedWeb
    ablations are funnels of Gopher-style gates): stage 1 Gopher
    document-quality rules (q383), stage 2 Gopher repetition rules
    (q405), stage 3 PII-free (q406: pii_total == 0 — the strict-drop
    policy; redaction is the alternative), stage 4 Latin-dominant
    script (q416). Each stage evaluates only the previous stage's
    survivors, so the report reads as a funnel, not four marginals.

    Composition class (q396/q398 convention): no new operator — four
    existing map-only/doc-keyed verdict frames join on doc_id, ONE
    no-grouping conditional aggregate computes the four cumulative
    survivor counts, and a 4-element literal explode emits the stage
    rows. The oracle nests the four queries' own oracle SQL verbatim
    as subqueries — byte-identical gate semantics by construction."""
    from ..llm.pii import pii_scrub
    from ..llm.quality import (
        char_class_mix,
        gopher_quality_filters,
        gopher_repetition_filters,
    )

    docs = read_table(spark, sf_dir, "documents")
    # Fixture-informed stage-1 thresholds (min_words 20, >=1 stopword):
    # the synthetic word-salad corpus has 30-60-token docs with at most
    # one Gopher stopword, so the paper defaults reject 100% at stage 1
    # and stages 2-4 would never see a row. Operator defaults stay the
    # paper values; the oracle nests the same adjusted thresholds.
    g = gopher_quality_filters(docs, min_words=20, min_stop_hits=1).select(
        "doc_id", F.col("passes").alias("_g")
    )
    r = gopher_repetition_filters(docs).select(
        "doc_id", F.col("passes").alias("_r")
    )
    p = pii_scrub(docs).select(
        "doc_id", (F.col("pii_total") == 0).alias("_p")
    )
    c = char_class_mix(docs).select(
        "doc_id", F.col("latin_dominant").alias("_c")
    )
    verdicts = g.join(r, "doc_id").join(p, "doc_id").join(c, "doc_id")
    agg = verdicts.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.when(F.col("_g"), 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("_g") & F.col("_r"), 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum(
            F.when(F.col("_g") & F.col("_r") & F.col("_p"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n3"),
        F.sum(
            F.when(
                F.col("_g") & F.col("_r") & F.col("_p") & F.col("_c"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n4"),
    )
    stages = F.array(
        F.struct(
            F.lit(1).alias("i"), F.lit("gopher_quality").alias("s"),
            F.col("n0").alias("nin"), F.col("n1").alias("npass"),
        ),
        F.struct(
            F.lit(2).alias("i"), F.lit("repetition").alias("s"),
            F.col("n1").alias("nin"), F.col("n2").alias("npass"),
        ),
        F.struct(
            F.lit(3).alias("i"), F.lit("pii_free").alias("s"),
            F.col("n2").alias("nin"), F.col("n3").alias("npass"),
        ),
        F.struct(
            F.lit(4).alias("i"), F.lit("latin_script").alias("s"),
            F.col("n3").alias("nin"), F.col("n4").alias("npass"),
        ),
    )
    return (
        agg.select(F.explode(stages).alias("t"))
        .select(
            F.col("t.i").cast("long").alias("stage_idx"),
            F.col("t.s").alias("stage"),
            F.col("t.nin").cast("long").alias("n_in"),
            F.col("t.npass").cast("long").alias("n_pass"),
            F.round(
                F.try_divide(
                    F.col("t.npass").cast("double"),
                    F.col("t.nin").cast("double"),
                ),
                6,
            ).alias("pass_rate"),
        )
        .orderBy("stage_idx")
    )


def _q418_oracle() -> str:
    from .roadmap12 import _q383_oracle

    return f"""
    WITH g AS ({_q383_oracle(min_words=20, min_stop_hits=1)
                .replace("ORDER BY doc_id", "")}),
    r AS (SELECT * FROM ({_q405_oracle().replace("ORDER BY doc_id", "")})),
    p AS (SELECT * FROM ({_q406_oracle().replace("ORDER BY doc_id", "")})),
    c AS (SELECT * FROM ({_q416_oracle().replace("ORDER BY doc_id", "")})),
    v AS (
      SELECT g.doc_id, g.passes AS vg, r.passes AS vr,
             p.pii_total = 0 AS vp, c.latin_dominant AS vc
      FROM g JOIN r USING (doc_id) JOIN p USING (doc_id)
             JOIN c USING (doc_id)
    ),
    agg AS (
      SELECT COUNT(*) AS n0,
             SUM(CASE WHEN vg THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN vg AND vr THEN 1 ELSE 0 END) AS n2,
             SUM(CASE WHEN vg AND vr AND vp THEN 1 ELSE 0 END) AS n3,
             SUM(CASE WHEN vg AND vr AND vp AND vc THEN 1 ELSE 0 END)
               AS n4
      FROM v
    )
    SELECT CAST(t.i AS BIGINT) AS stage_idx, t.s AS stage,
           CAST(t.nin AS BIGINT) AS n_in,
           CAST(t.npass AS BIGINT) AS n_pass,
           round(CAST(t.npass AS DOUBLE) / nullif(CAST(t.nin AS DOUBLE), 0),
                 6) AS pass_rate
    FROM agg, LATERAL (
      SELECT unnest([
        struct_pack(i := 1, s := 'gopher_quality', nin := n0, npass := n1),
        struct_pack(i := 2, s := 'repetition',     nin := n1, npass := n2),
        struct_pack(i := 3, s := 'pii_free',       nin := n2, npass := n3),
        struct_pack(i := 4, s := 'latin_script',   nin := n3, npass := n4)
      ], recursive := true)) t(i, s, nin, npass)
    ORDER BY stage_idx
    """


_Q418_NOTES = (
    "CURATION FUNNEL (composition, q396/q398 class — the per-stage "
    "survival table every published pipeline reports, FineWeb/"
    "RefinedWeb-style: Gopher quality -> repetition -> PII-free -> "
    "Latin script, each stage evaluating only the previous stage's "
    "survivors): four existing verdict frames join on doc_id, ONE "
    "no-grouping conditional aggregate computes the cumulative "
    "survivor counts, a 4-element literal explode emits stage rows. "
    "The oracle NESTS the four gates' own oracle SQL verbatim as "
    "subqueries, so gate semantics are byte-identical by construction "
    "— a funnel-level regression test over the whole map-only gate "
    "stack"
)

register("q418_curation_funnel", _q418_oracle(), _Q418_NOTES)(q418_curation_funnel)


# --- q419-q421: preference-data trio (RLHF / arena readouts) ------------------------

# Deterministic preference matches from the events fixture: consecutive
# events per user ((ts, event_id) total order — the unique-tiebreaker
# rule) are a "match" between their event types; the one with the
# larger value wins. Ties and self-pairs carry no preference and are
# excluded. Shared by q419/q420/q421.
_PREF_MATCHES_SQL = """
  SELECT CASE WHEN va > vb THEN a ELSE b END AS winner,
         CASE WHEN va > vb THEN b ELSE a END AS loser
  FROM (
    SELECT event_type AS a, value AS va,
           LEAD(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS b,
           LEAD(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS vb
    FROM events
  )
  WHERE b IS NOT NULL AND a <> b AND va <> vb
"""


def _pref_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.col("value").alias("va"),
        F.lead("event_type").over(w).alias("b"),
        F.lead("value").over(w).alias("vb"),
    )
    return seq.filter(
        F.col("b").isNotNull()
        & (F.col("a") != F.col("b"))
        & (F.col("va") != F.col("vb"))
    ).select(
        F.when(F.col("va") > F.col("vb"), F.col("a"))
        .otherwise(F.col("b"))
        .alias("winner"),
        F.when(F.col("va") > F.col("vb"), F.col("b"))
        .otherwise(F.col("a"))
        .alias("loser"),
    )


def q419_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry leaderboard over the synthetic preference matches
    (operators/preference.bradley_terry): 5 fixed MM steps from the
    uniform start, mean-normalized — the arena-leaderboard estimator."""
    from ..operators.preference import bradley_terry

    return bradley_terry(
        _pref_matches(spark, sf_dir), "winner", "loser", iters=5
    ).orderBy("item")


def _q419_oracle(iters: int = 5) -> str:
    from ..operators.aggregate import stable_sum_sql

    # Every CTE is MATERIALIZED: DuckDB re-inlines plain CTEs per
    # reference, and the MM recursion references each s{{t-1}} twice —
    # the same 4^iters blowup the Spark side solves with
    # localCheckpoint (an unmaterialized draft of this oracle ran for
    # minutes on 1,000 events).
    parts = [
        f"""m AS MATERIALIZED ({_PREF_MATCHES_SQL}),
    d AS MATERIALIZED (
      SELECT winner AS i, loser AS j, CAST(COUNT(*) AS BIGINT) AS w
      FROM m GROUP BY 1, 2
    ),
    sym AS MATERIALIZED (
      SELECT i, j, CAST(SUM(w) AS BIGINT) AS wij FROM (
        SELECT i, j, w FROM d
        UNION ALL
        SELECT j AS i, i AS j, CAST(0 AS BIGINT) AS w FROM d
      ) GROUP BY i, j
    ),
    pn AS MATERIALIZED (
      SELECT a.i AS i, a.j AS j, a.wij + b.wij AS n
      FROM sym a JOIN sym b ON a.i = b.j AND a.j = b.i
    ),
    totals AS MATERIALIZED (SELECT i, CAST(SUM(wij) AS BIGINT) AS wins
                            FROM sym GROUP BY i),
    games AS MATERIALIZED (SELECT i, CAST(SUM(n) AS BIGINT) AS games
                           FROM pn GROUP BY i),
    s0 AS MATERIALIZED (SELECT i, CAST(1.0 AS DOUBLE) AS s FROM totals)"""
    ]
    term = "round(CAST(pn.n AS DOUBLE) / (si.s + sj.s), 9)"
    for t in range(1, iters + 1):
        parts.append(
            f"""dn{t} AS MATERIALIZED (
      SELECT pn.i, {stable_sum_sql(term, 9)} AS denom
      FROM pn JOIN s{t - 1} si ON pn.i = si.i
              JOIN s{t - 1} sj ON pn.j = sj.i
      GROUP BY pn.i
    ),
    r{t} AS MATERIALIZED (
      SELECT tt.i, round(CAST(tt.wins AS DOUBLE) / dd.denom, 9) AS raw
      FROM totals tt JOIN dn{t} dd ON tt.i = dd.i
    ),
    mn{t} AS MATERIALIZED (SELECT {stable_sum_sql('raw', 9)} / COUNT(*) AS mean
                           FROM r{t}),
    s{t} AS MATERIALIZED (SELECT i, round(raw / mean, 9) AS s
                          FROM r{t} CROSS JOIN mn{t})"""
        )
    body = ",\n    ".join(parts)
    return f"""
    WITH {body}
    SELECT tt.i AS item, g.games, tt.wins AS wins,
           round(s.s, 6) AS strength,
           CAST(ROW_NUMBER() OVER (ORDER BY s.s DESC, tt.i ASC) AS BIGINT)
             AS rank
    FROM totals tt
    JOIN games g ON tt.i = g.i
    JOIN s{iters} s ON tt.i = s.i
    ORDER BY item
    """


_Q419_NOTES = (
    "BRADLEY-TERRY LEADERBOARD (operators/preference.bradley_terry — "
    "Bradley & Terry 1952; Hunter 2004 MM iteration, the Chatbot-Arena-"
    "class estimator for pairwise preference data): the ONLY corpus-"
    "sized step is the match-table groupBy (map-side combined); the MM "
    "loop runs a FIXED 5 steps on items-sized broadcast frames (items = "
    "models/policies — small by construction), each step one items2-"
    "sized equi-join + items-sized agg. Fixed iteration count keeps the "
    "result a pure function of the match table — the oracle unrolls the "
    "same 5 steps as generated CTEs. Per-term divisions round at 9dp "
    "and ride DECIMAL(25,9) sums; never-lose items grow monotonically "
    "instead of diverging (documented). Rank carries the item-name "
    "tiebreaker (SURVEY 5.3 rule 5)"
)

register("q419_bradley_terry", _q419_oracle(), _Q419_NOTES)(q419_bradley_terry)


def q420_preference_cycles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitivity audit of the preference matches
    (operators/preference.preference_cycles): cyclic vs decided triads
    in the majority tournament."""
    from ..operators.preference import preference_cycles

    return preference_cycles(_pref_matches(spark, sf_dir), "winner", "loser")


_Q420_ORACLE = f"""
    WITH m AS ({_PREF_MATCHES_SQL}),
    d AS (
      SELECT winner AS i, loser AS j, CAST(COUNT(*) AS BIGINT) AS w
      FROM m GROUP BY 1, 2
    ),
    duel AS (
      SELECT a.i AS u, a.j AS v, a.w AS wu, COALESCE(b.w, 0) AS wv
      FROM d a LEFT JOIN d b ON a.i = b.j AND a.j = b.i
    ),
    edges AS (SELECT u, v FROM duel WHERE wu > wv),
    items AS (
      SELECT DISTINCT x FROM (
        SELECT i AS x FROM d UNION ALL SELECT j AS x FROM d)
    ),
    pairs AS (SELECT DISTINCT least(i, j) AS a, greatest(i, j) AS b FROM d),
    und AS (SELECT least(u, v) AS a, greatest(u, v) AS b FROM edges),
    tri AS (
      SELECT p1.a AS x, p1.b AS y, p2.b AS z
      FROM und p1
      JOIN und p2 ON p1.a = p2.a AND p1.b < p2.b
      JOIN und p3 ON p1.b = p3.a AND p2.b = p3.b
    ),
    cyc AS (
      SELECT e1.u FROM edges e1
      JOIN edges e2 ON e1.v = e2.u
      JOIN edges e3 ON e2.v = e3.u AND e3.v = e1.u
      WHERE e1.u < e2.u AND e1.u < e3.u
    )
    SELECT CAST((SELECT COUNT(*) FROM items) AS BIGINT) AS n_items,
           CAST((SELECT COUNT(*) FROM pairs) AS BIGINT) AS n_active_pairs,
           CAST((SELECT COUNT(*) FROM und) AS BIGINT) AS n_decided_pairs,
           CAST((SELECT COUNT(*) FROM tri) AS BIGINT) AS n_decided_triads,
           CAST((SELECT COUNT(*) FROM cyc) AS BIGINT) AS n_cyclic_triads,
           CASE WHEN (SELECT COUNT(*) FROM tri) = 0 THEN NULL
                ELSE round(CAST((SELECT COUNT(*) FROM cyc) AS DOUBLE)
                           / CAST((SELECT COUNT(*) FROM tri) AS DOUBLE), 6)
           END AS cycle_rate
"""

_Q420_NOTES = (
    "PREFERENCE TRANSITIVITY AUDIT (operators/preference."
    "preference_cycles — tournament triad census, Kendall 1938 / Moon "
    "1968: the fraction of fully-decided item triples whose majority "
    "edges form a 3-cycle; a high rate means judge noise or genuine "
    "non-transitivity, and a scalar BT strength under-fits either "
    "way): ONE corpus-sized match groupBy, then items2-bounded "
    "broadcast equi-joins; directed 3-cycles counted once via the "
    "minimum-vertex rotation anchor. All counts exact LONGs; the rate "
    "is one division"
)

register("q420_preference_cycles", _Q420_ORACLE, _Q420_NOTES)(q420_preference_cycles)


def q421_pairwise_winrates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pair win rates with Wilson 95% score intervals
    (operators/preference.pairwise_winrates)."""
    from ..operators.preference import pairwise_winrates

    return pairwise_winrates(
        _pref_matches(spark, sf_dir), "winner", "loser"
    ).orderBy("item_a", "item_b")


def _q421_oracle() -> str:
    from ..operators.preference import _Z95

    z = repr(_Z95)
    z2 = repr(_Z95 * _Z95)
    return f"""
    WITH m AS ({_PREF_MATCHES_SQL}),
    d AS (
      SELECT winner AS i, loser AS j, CAST(COUNT(*) AS BIGINT) AS w
      FROM m GROUP BY 1, 2
    ),
    pp AS (
      SELECT least(i, j) AS item_a, greatest(i, j) AS item_b,
             CAST(SUM(w) AS BIGINT) AS n_matches,
             CAST(SUM(CASE WHEN i < j THEN w ELSE 0 END) AS BIGINT) AS wins_a
      FROM d GROUP BY 1, 2
    ),
    ext AS (
      SELECT item_a, item_b, n_matches, wins_a,
             CAST(n_matches AS DOUBLE) AS n,
             CAST(wins_a AS DOUBLE) / CAST(n_matches AS DOUBLE) AS p
      FROM pp
    ),
    wil AS (
      SELECT item_a, item_b, n_matches, wins_a, p,
             (p + {z2} / (2.0 * n)) / (1.0 + {z2} / n) AS center,
             {z} * sqrt(p * (1.0 - p) / n + {z2} / (4.0 * n * n))
               / (1.0 + {z2} / n) AS half
      FROM ext
    )
    SELECT item_a, item_b, n_matches, wins_a,
           round(p, 6) AS winrate_a,
           round(center - half, 6) AS wilson_lo,
           round(center + half, 6) AS wilson_hi
    FROM wil ORDER BY item_a, item_b
    """


_Q421_NOTES = (
    "PAIRWISE WIN RATES + WILSON INTERVALS (operators/preference."
    "pairwise_winrates — Wilson 1927 score interval, the interval of "
    "record for small-n pairwise preference tables: never exits [0,1], "
    "sane at p-hat 0 or 1 where Wald collapses): one corpus-sized "
    "groupBy to a pairs-sized frame; the Wilson chain is single-row "
    "IEEE arithmetic on identical operands (z pinned as a literal, z*z "
    "pre-computed in the driver and shipped to BOTH engines), sqrt is "
    "libm so bounds round at 6dp"
)

register("q421_pairwise_winrates", _q421_oracle(), _Q421_NOTES)(q421_pairwise_winrates)


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


# --- q423: code-corpus quality filters -------------------------------------------------


def q423_code_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BigCode/StarCoder-style code-corpus gate
    (llm/quality.code_quality_filters): line-length stats, alnum
    fraction, hex/base64 data mass, and the pass verdict."""
    from ..llm.quality import code_quality_filters

    docs = read_table(spark, sf_dir, "documents")
    return code_quality_filters(docs).orderBy("doc_id")


_Q423_ORACLE = r"""
    WITH split AS (
      SELECT doc_id, text, string_split(text, chr(10)) AS lines,
             length(text) AS n
      FROM documents
    ),
    feat AS (
      SELECT doc_id, n,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(list_max(list_transform(lines, s -> length(s)))
               AS BIGINT) AS max_ll,
             CAST(n - (len(lines) - 1) AS DOUBLE)
               / CAST(len(lines) AS DOUBLE) AS avg_ll,
             CASE WHEN n = 0 THEN NULL ELSE
               CAST(n - length(regexp_replace(text, '[A-Za-z0-9]', '', 'g'))
                 AS DOUBLE) / CAST(n AS DOUBLE) END AS alnum_f,
             CASE WHEN n = 0 THEN NULL ELSE
               CAST(COALESCE(list_sum(list_transform(list_filter(
                 list_filter(string_split_regex(text, '[ \t\n\r]+'),
                             s -> s <> ''),
                 s -> regexp_matches(s, '^[0-9a-fA-F]{16,}$')
                      OR regexp_matches(s, '^[A-Za-z0-9+/=]{40,}$')),
                 s -> length(s))), 0) AS DOUBLE) / CAST(n AS DOUBLE)
             END AS data_f
      FROM split
    )
    SELECT doc_id, n_lines,
           max_ll AS max_line_len,
           round(avg_ll, 6) AS avg_line_len,
           round(alnum_f, 6) AS alnum_frac,
           round(data_f, 6) AS data_mass,
           COALESCE(max_ll <= 1000 AND avg_ll <= 100.0
                    AND alnum_f >= 0.25 AND data_f <= 0.5, FALSE)
             AS passes
    FROM feat ORDER BY doc_id
"""

_Q423_NOTES = (
    "CODE-CORPUS QUALITY GATE (llm/quality.code_quality_filters — "
    "Allal et al. 2023 SantaCoder app. A / Li et al. 2023 StarCoder "
    "section 3 preprocessing rules: any line > 1000 chars, avg line > "
    "100, alnum fraction < 0.25, or > 0.5 of mass in hex(16+)/"
    "base64(40+) tokens rejects — the minified-JS / embedded-blob "
    "failure modes that survive prose-oriented Gopher rules): pure "
    "map-only codegen (lifts to readStream unchanged, the q398/q414 "
    "rule); total line chars = length - newline count so avg needs no "
    "per-line agg; passes evaluates UNROUNDED in-engine values "
    "(SURVEY 5.3 rule 4), rounded copies are display-only; regexes in "
    "the Java-regex/RE2 common subset (q406 rule)"
)

register("q423_code_quality", _Q423_ORACLE, _Q423_NOTES)(q423_code_quality)


# --- q424: Krippendorff's alpha --------------------------------------------------------


def q424_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three synthetic raters with MISSING assignments over orders
    (the q316 construction + per-rater hash missingness — the input
    shape Cohen/Fleiss cannot take), scored by nominal Krippendorff
    alpha (operators/agreement.krippendorff_alpha)."""
    from .roadmap9 import _hash_mod
    from ..operators.agreement import krippendorff_alpha

    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("item"),
        F.substring("o_orderpriority", 1, 1).alias("cls"),
    )
    rot = ((F.col("cls").cast("int") % 5) + 1).cast("string")
    lab = None
    for rid, fsalt, msalt in (("r1", 17, 5), ("r2", 23, 7), ("r3", 31, 11)):
        r = o.filter(_hash_mod(F.col("item"), msalt, 5) != 0).select(
            "item",
            F.lit(rid).alias("rater"),
            F.when(_hash_mod(F.col("item"), fsalt, 10) < 3, rot)
            .otherwise(F.col("cls"))
            .alias("label"),
        )
        lab = r if lab is None else lab.unionByName(r)
    return krippendorff_alpha(lab, "item", "rater", "label")


def _q424_oracle() -> str:
    from ..operators.aggregate import stable_sum_sql
    from .roadmap9 import _hash_mod_sql

    rater = """
      SELECT item, '{rid}' AS rater,
             CASE WHEN {flip} < 3
                  THEN CAST((CAST(cls AS INT) % 5) + 1 AS VARCHAR)
                  ELSE cls END AS label
      FROM o WHERE {miss} <> 0"""
    arms = " UNION ALL ".join(
        rater.format(
            rid=rid,
            flip=_hash_mod_sql("item", fsalt, 10),
            miss=_hash_mod_sql("item", msalt, 5),
        )
        for rid, fsalt, msalt in (
            ("r1", 17, 5), ("r2", 23, 7), ("r3", 31, 11))
    )
    term = "CAST(m * m - s2 AS DOUBLE) / CAST(m - 1 AS DOUBLE)"
    return f"""
    WITH o AS (
      SELECT o_orderkey AS item, substr(o_orderpriority, 1, 1) AS cls
      FROM orders
    ),
    base AS ({arms}),
    vals AS (SELECT item, rater, MIN(label) AS c FROM base
             GROUP BY item, rater),
    nuc AS (SELECT item, c, CAST(COUNT(*) AS BIGINT) AS nuc
            FROM vals GROUP BY item, c),
    pu AS (
      SELECT item, CAST(SUM(nuc) AS BIGINT) AS m,
             CAST(SUM(nuc * nuc) AS BIGINT) AS s2
      FROM nuc GROUP BY item HAVING SUM(nuc) >= 2
    ),
    don AS (
      SELECT {stable_sum_sql(f"round({term}, 9)", 9)} AS sum_t,
             CAST(SUM(m) AS BIGINT) AS n_values,
             CAST(COUNT(*) AS BIGINT) AS n_units
      FROM pu
    ),
    marg AS (
      SELECT n.c, CAST(SUM(n.nuc) AS BIGINT) AS nc
      FROM nuc n JOIN pu ON n.item = pu.item GROUP BY n.c
    ),
    de AS (
      SELECT CAST(SUM(nc * nc) AS BIGINT) AS snc2,
             CAST(COUNT(*) AS BIGINT) AS n_categories
      FROM marg
    ),
    fin AS (
      SELECT n_units, n_values, n_categories,
             sum_t / CAST(n_values AS DOUBLE) AS d_o,
             (CAST(n_values AS DOUBLE) * CAST(n_values AS DOUBLE)
              - CAST(snc2 AS DOUBLE))
             / (CAST(n_values AS DOUBLE)
                * (CAST(n_values AS DOUBLE) - 1.0)) AS d_e
      FROM don CROSS JOIN de
    )
    SELECT n_units, n_values, n_categories,
           round(d_o, 6) AS d_o, round(d_e, 6) AS d_e,
           round(1.0 - d_o / d_e, 6) AS alpha
    FROM fin
    """


_Q424_NOTES = (
    "KRIPPENDORFF'S ALPHA, NOMINAL (operators/agreement."
    "krippendorff_alpha — Krippendorff 1970/2004, the agreement "
    "statistic that HANDLES MISSING LABELS, which real annotation "
    "tables always have; Cohen q316 needs two complete raters, Fleiss "
    "q317 a constant rater count): the nominal coincidence sum "
    "collapses to per-unit and global label marginals — no category-"
    "pair matrix; units with < 2 pairable values excluded everywhere. "
    "One (unit,label) count agg + one unit reduce + one marginal agg, "
    "all map-combined; per-unit terms 9dp on DECIMAL(25,9) sums, D_e "
    "exact-integer-derived, 6dp out"
)

register("q424_krippendorff_alpha", _q424_oracle(), _Q424_NOTES)(
    q424_krippendorff_alpha
)


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


# --- q426: Good-Turing unseen-mass audit -----------------------------------------------


def q426_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing count-of-counts audit with the Turing adjusted
    counts and the unseen-mass headline (llm/lm.good_turing_mass)."""
    from ..llm.lm import good_turing_mass

    docs = read_table(spark, sf_dir, "documents")
    return good_turing_mass(docs, max_r=5)


def _q426_oracle() -> str:
    from .llm import _TOKS_SQL

    return f"""
    WITH toks AS ({_TOKS_SQL}),
    tok AS (SELECT unnest(t) AS w FROM toks),
    counts AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY w),
    coc AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS nr FROM counts GROUP BY c),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens FROM counts),
    grid AS (
      SELECT r.range AS r, COALESCE(coc.nr, 0) AS nr
      FROM range(0, 7) r LEFT JOIN coc ON r.range = coc.c
    ),
    nxt AS (SELECT r - 1 AS r, nr AS nr_next FROM grid),
    rws AS (
      SELECT g.r, g.nr, x.nr_next, t.n_tokens
      FROM grid g JOIN nxt x ON g.r = x.r CROSS JOIN tot t
      WHERE g.r <= 5
    )
    SELECT CAST(r AS BIGINT) AS r,
           CASE WHEN r >= 1 THEN CAST(nr AS BIGINT) END AS n_types,
           CASE WHEN n_tokens = 0 THEN NULL
                WHEN r = 0 THEN
                  round(CAST(nr_next AS DOUBLE)
                        / CAST(n_tokens AS DOUBLE), 6)
                ELSE round(CAST(r AS DOUBLE) * CAST(nr AS DOUBLE)
                           / CAST(n_tokens AS DOUBLE), 6)
           END AS mass_frac,
           CASE WHEN r >= 1 AND nr > 0 THEN
             round((CAST(r AS DOUBLE) + 1.0) * CAST(nr_next AS DOUBLE)
                   / CAST(nr AS DOUBLE), 6)
           END AS r_star
    FROM rws ORDER BY r
    """


_Q426_NOTES = (
    "GOOD-TURING UNSEEN-MASS AUDIT (llm/lm.good_turing_mass — Good "
    "1953; the raw Turing estimate per Gale & Sampson 1995 section 2, "
    "the SGT log-linear fit documented as out of scope): count-of-"
    "counts N_r, observed mass r*N_r/N, Turing adjusted counts "
    "(r+1)*N_{r+1}/N_r for r<=5, and p_0 = N_1/N — how much of the "
    "NEXT sample is unseen types, the vocabulary-saturation readout "
    "behind the q381 planner's scale-data-not-epochs premise. One "
    "corpus-sized token count (map-combined), one vocab-sized count-"
    "of-counts agg, one 7-row literal grid join; every ratio is ONE "
    "IEEE division of exact integers, 6dp out"
)

register("q426_good_turing", _q426_oracle(), _Q426_NOTES)(q426_good_turing)


# --- q427/q428: preference bias audits ---------------------------------------------------

# Canonicalized match rows with response-length and order metadata:
# item_a < item_b by name, win_a = a won, len_* = length(props) of each
# side (the "response length" stand-in), first_wins = the temporally
# earlier event won. Extends _PREF_MATCHES_SQL's construction.
_PREF_MATCHES_EXT_SQL = """
  SELECT CASE WHEN a < b THEN a ELSE b END AS item_a,
         CASE WHEN a < b THEN b ELSE a END AS item_b,
         CASE WHEN a < b THEN (va > vb) ELSE (vb > va) END AS win_a,
         CASE WHEN a < b THEN la ELSE lb END AS len_a,
         CASE WHEN a < b THEN lb ELSE la END AS len_b,
         va > vb AS first_wins
  FROM (
    SELECT event_type AS a, value AS va, length(props) AS la,
           LEAD(event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS b,
           LEAD(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS vb,
           LEAD(length(props)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id) AS lb
    FROM events
  )
  WHERE b IS NOT NULL AND a <> b AND va <> vb
"""


def _pref_matches_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("a"),
        F.col("value").alias("va"),
        F.length("props").alias("la"),
        F.lead("event_type").over(w).alias("b"),
        F.lead("value").over(w).alias("vb"),
        F.lead(F.length("props")).over(w).alias("lb"),
    ).filter(
        F.col("b").isNotNull()
        & (F.col("a") != F.col("b"))
        & (F.col("va") != F.col("vb"))
    )
    swap = F.col("a") < F.col("b")
    return seq.select(
        F.when(swap, F.col("a")).otherwise(F.col("b")).alias("item_a"),
        F.when(swap, F.col("b")).otherwise(F.col("a")).alias("item_b"),
        F.when(swap, F.col("va") > F.col("vb"))
        .otherwise(F.col("vb") > F.col("va"))
        .alias("win_a"),
        F.when(swap, F.col("la")).otherwise(F.col("lb")).alias("len_a"),
        F.when(swap, F.col("lb")).otherwise(F.col("la")).alias("len_b"),
        (F.col("va") > F.col("vb")).alias("first_wins"),
    )


def q427_length_controlled_winrate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-pair length-controlled win rates over the preference matches
    (operators/preference.length_controlled_winrates): OLS de-verbosity
    correction, intercept = the equal-length win rate."""
    from ..operators.preference import length_controlled_winrates

    return length_controlled_winrates(
        _pref_matches_ext(spark, sf_dir),
        "item_a", "item_b", "win_a", "len_a", "len_b",
    ).orderBy("item_a", "item_b")


def _q427_oracle() -> str:
    from ..operators.aggregate import stable_sum_sql

    return f"""
    WITH m AS ({_PREF_MATCHES_EXT_SQL}),
    base AS (
      SELECT item_a, item_b,
             CAST(len_a - len_b AS DOUBLE) AS x,
             CAST(CAST(win_a AS INT) AS DOUBLE) AS y
      FROM m
      WHERE len_a IS NOT NULL AND len_b IS NOT NULL
    ),
    agg AS (
      SELECT item_a, item_b,
             CAST(COUNT(*) AS BIGINT) AS n_matches,
             {stable_sum_sql('x', 0)} AS sx,
             {stable_sum_sql('y', 0)} AS sy,
             {stable_sum_sql('x * x', 0)} AS sxx,
             {stable_sum_sql('x * y', 0)} AS sxy
      FROM base GROUP BY item_a, item_b
    ),
    fit AS (
      SELECT item_a, item_b, n_matches,
             CAST(n_matches AS DOUBLE) AS n, sx, sy, sxx, sxy,
             CASE WHEN CAST(n_matches AS DOUBLE) * sxx - sx * sx = 0
                  THEN NULL
                  ELSE (CAST(n_matches AS DOUBLE) * sxy - sx * sy)
                       / (CAST(n_matches AS DOUBLE) * sxx - sx * sx)
             END AS beta
      FROM agg
    )
    SELECT item_a, item_b, n_matches,
           round(sy / n, 6) AS winrate_a,
           round(sx / n, 6) AS mean_len_diff,
           round(beta, 6) AS length_bias_slope,
           round(COALESCE(sy / n - beta * (sx / n), sy / n), 6)
             AS lc_winrate_a
    FROM fit ORDER BY item_a, item_b
    """


_Q427_NOTES = (
    "LENGTH-CONTROLLED WIN RATES (operators/preference."
    "length_controlled_winrates — Dubois et al. 2024 Length-Controlled "
    "AlpacaEval: judges prefer longer responses, so raw win rates "
    "confound quality with verbosity; closed-form OLS linear-"
    "probability fit per pair, intercept = the equal-length win rate — "
    "the exactly-SQL-replayable stand-in for the paper's logistic "
    "fit, documented): ONE corpus groupBy; x/y/x2/xy are exact "
    "integers so sums are exact DECIMAL(25,0) — zero mid-pipeline "
    "rounding, the only FP is the final identical-operand division "
    "chain; zero-length-variation pairs report NULL slope and fall "
    "back to the raw rate (no variation = no estimable bias)"
)

register("q427_length_controlled_winrate", _q427_oracle(), _Q427_NOTES)(
    q427_length_controlled_winrate
)


def q428_order_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-bias audit over the preference matches
    (operators/preference.order_bias_audit): exact binomial z of
    P(earlier event wins) against 1/2, p-value via the in-engine
    Abramowitz-Stegun tail."""
    from ..operators.preference import order_bias_audit

    return order_bias_audit(_pref_matches_ext(spark, sf_dir), "first_wins")


def _q428_oracle() -> str:
    from ..operators.mlmetrics import normal_p_two_sided_sql

    z = ("((CAST(n_first_wins AS DOUBLE) / CAST(n_matches AS DOUBLE)"
         " - 0.5) / sqrt(0.25 / CAST(n_matches AS DOUBLE)))")
    return f"""
    WITH m AS ({_PREF_MATCHES_EXT_SQL}),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_matches,
             CAST(SUM(CASE WHEN first_wins THEN 1 ELSE 0 END) AS BIGINT)
               AS n_first_wins
      FROM m
    )
    SELECT n_matches, n_first_wins,
           round(CAST(n_first_wins AS DOUBLE)
                 / CAST(n_matches AS DOUBLE), 6) AS first_win_rate,
           round({z}, 6) AS z,
           {normal_p_two_sided_sql(z)} AS p_value,
           COALESCE({normal_p_two_sided_sql(z)} < 0.05, FALSE) AS biased
    FROM agg
    """


_Q428_NOTES = (
    "ORDER-BIAS AUDIT (operators/preference.order_bias_audit — Zheng "
    "et al. 2023 Judging-LLM-as-a-Judge section 3.2 position bias; "
    "arena UIs randomize positions because judges favor the first-"
    "listed response, and an ingest pipeline must VERIFY that "
    "randomization held): one conditional aggregate -> exact binomial "
    "z against 1/2 -> two-sided p via the q407 Abramowitz-Stegun "
    "closed form (normal_p_two_sided + its digit-matched _sql twin) — "
    "the verdict is computed IN the engine, no client-side CDF lookup"
)

register("q428_order_bias", _q428_oracle(), _Q428_NOTES)(q428_order_bias)


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


# --- q430: IPF raking weights ----------------------------------------------------------


def q430_raking_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rake the documents corpus to uniform language targets AND even
    source-family targets simultaneously (llm/sampling.rake_weights,
    Deming-Stephan IPF): the corpus-rebalancing move per-margin
    reweighting cannot do."""
    from ..llm.sampling import rake_weights

    docs = read_table(spark, sf_dir, "documents").select(
        "lang",
        F.concat(
            F.lit("g"),
            (F.expr("substring(source, 4)").cast("int") % 2).cast("string"),
        ).alias("src_group"),
    )
    return rake_weights(
        docs,
        "lang",
        "src_group",
        {"de": 0.2, "en": 0.2, "es": 0.2, "fr": 0.2, "zh": 0.2},
        {"g0": 0.5, "g1": 0.5},
        iters=5,
    ).orderBy("lang", "src_group")


def _q430_oracle(iters: int = 5) -> str:
    exact = ("CAST(SUM(CAST(n AS DECIMAL(12,0)) * CAST({f} AS DECIMAL(18,9)))"
             " AS DOUBLE)")
    parts = [
        """cells AS MATERIALIZED (
      SELECT lang AS r,
             'g' || CAST(CAST(substr(source, 4) AS INT) % 2 AS VARCHAR) AS c,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY 1, 2
    ),
    nt AS MATERIALIZED (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cells),
    rt AS MATERIALIZED (
      SELECT r, share * CAST(nn AS DOUBLE) AS tr
      FROM (VALUES ('de', 0.2), ('en', 0.2), ('es', 0.2), ('fr', 0.2),
                   ('zh', 0.2)) t(r, share) CROSS JOIN nt
    ),
    ct AS MATERIALIZED (
      SELECT c, share * CAST(nn AS DOUBLE) AS tc
      FROM (VALUES ('g0', 0.5), ('g1', 0.5)) t(c, share) CROSS JOIN nt
    ),
    b0 AS MATERIALIZED (SELECT c, CAST(1.0 AS DOUBLE) AS b FROM ct)"""
    ]
    for t in range(1, iters + 1):
        parts.append(f"""ar{t} AS MATERIALIZED (
      SELECT rt.r, round(rt.tr / d.dr, 9) AS a
      FROM (SELECT cells.r, {exact.format(f='b')} AS dr
            FROM cells JOIN b{t - 1} ON cells.c = b{t - 1}.c
            GROUP BY cells.r) d
      JOIN rt ON d.r = rt.r
    ),
    b{t} AS MATERIALIZED (
      SELECT ct.c, round(ct.tc / d.dc, 9) AS b
      FROM (SELECT cells.c, {exact.format(f='a')} AS dc
            FROM cells JOIN ar{t} ON cells.r = ar{t}.r
            GROUP BY cells.c) d
      JOIN ct ON d.c = ct.c
    )""")
    body = ",\n    ".join(parts)
    return f"""
    WITH {body}
    SELECT cells.r AS lang, cells.c AS src_group, n,
           round(a * b, 6) AS weight,
           round(CAST(n AS DOUBLE) * (a * b) / CAST(nn AS DOUBLE), 6)
             AS raked_share
    FROM cells
    JOIN ar{iters} ON cells.r = ar{iters}.r
    JOIN b{iters} ON cells.c = b{iters}.c
    CROSS JOIN nt
    ORDER BY lang, src_group
    """


_Q430_NOTES = (
    "IPF RAKING WEIGHTS (llm/sampling.rake_weights — Deming & Stephan "
    "1940 iterative proportional fitting, Deville-Sarndal 1992 "
    "calibration framing: reweight a corpus so BOTH margins — language "
    "shares AND source-family shares — match declared targets "
    "simultaneously, which per-margin reweighting cannot do): factored "
    "w = a_r*b_c form, FIXED 5 alternations from b=1 (geometric "
    "convergence, standard survey practice; pure function of inputs); "
    "ONE corpus (row,col) count, then cells-sized broadcast joins + "
    "margins-sized aggregates; n*b / n*a moments ride EXACT "
    "DECIMAL(12,0)x(18,9) — a (20,0) cast would push Spark past "
    "precision 38 and silently rescale to 8dp (found in design, "
    "banked); factor updates are single 9dp divisions; the final "
    "weight is an exact (18,9)x(18,9) product emitted UNROUNDED "
    "(q401 rule); oracle unrolls the alternations as MATERIALIZED "
    "CTEs (the q419 lesson)"
)

register("q430_raking_weights", _q430_oracle(), _Q430_NOTES)(q430_raking_weights)


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
