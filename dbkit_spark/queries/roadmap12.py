"""Catalog queries q375–q400, each registered where it is defined.

q375–q378 are the VERDICT r11 item-3 candidates (SemDeDup, n-gram
novelty, tokenizer-fertility drift, per-domain score-calibration
drift); q379–q382 complete the CCNet/DSIR data-curation layer the
corpus stack was missing (perplexity gate, importance weighting,
epoch planner, head/middle/tail buckets). Same template as the
r9/r10/r11 additions: operator +
randomized/hand-case pytest (tests/test_round12.py) + oracle
pre-verified at sf0.001 and sf0.01
(tests/test_oracle.py), and the
driver-canon contract of SURVEY.md §5.3 (scalar outputs only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import register
from ..sources import read_table


# --- q375: SemDeDup within-cluster semantic dedup --------------------------------


def q375_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (llm/cluster.semdedup) over the embeddings table using
    its shipped k-means labels — the semantic twin of q374's lexical
    paragraph dedup: within each cluster, remove every vector dominated
    by a higher-priority tau-neighbor (priority = centroid distance
    DESC, SemDeDup keeps the atypical exemplar)."""
    from ..llm.cluster import semdedup

    emb = read_table(spark, sf_dir, "embeddings")
    return semdedup(emb, threshold=0.45).orderBy("vec_id")


def _q375_oracle() -> str:
    return """
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
      SELECT e.vec_id, e.label, e.v,
             round(sqrt(CAST(list_sum(list_transform(
               generate_series(1, len(c.centroid)),
               i -> CAST(round((e.v[i] - c.centroid[i])
                               * (e.v[i] - c.centroid[i]), 9)
                         AS DECIMAL(38,12))))
             AS DOUBLE)), 6) AS cdist
      FROM e JOIN cents c USING (label)
    ),
    dom AS (
      SELECT DISTINCT b.vec_id
      FROM wd a JOIN wd b ON a.label = b.label AND a.vec_id <> b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.45
        AND (a.cdist > b.cdist
             OR (a.cdist = b.cdist AND a.vec_id < b.vec_id))
    )
    SELECT w.vec_id, w.label, w.cdist,
           (d.vec_id IS NULL) AS kept
    FROM wd w LEFT JOIN dom d ON w.vec_id = d.vec_id
    ORDER BY w.vec_id
    """


_Q375_NOTES = (
    "SEMDEDUP WITHIN-CLUSTER SEMANTIC DEDUP (llm/cluster.semdedup — "
    "VERDICT r11 candidate 1; Abbas-Tirumala-Simig-Ganguli-Morcos 2023: "
    "paraphrase/template duplicates share no shingles so MinHash never "
    "sees them, but they share a k-means cluster with high cosine): "
    "deterministic non-iterative rule — priority = centroid distance "
    "DESC (keep the atypical exemplar) tie-broken id ASC; removed iff "
    "dominated by a same-cluster tau-neighbor of higher priority. "
    "Labels-sized decimal-summed centroid broadcast (q309 convention, "
    "9dp terms), the ONLY data exchange is the within-cluster "
    "self-equi-join on label (clusters audit-sized by the SemDeDup "
    "contract — k grows with n); cdist 6dp BEFORE the priority compare, "
    "cosine 6dp (q43 rule). Never all-pairs, no corpus window"
)

register("q375_semdedup", _q375_oracle(), _Q375_NOTES)(q375_semdedup)


# --- q376: n-gram novelty vs frozen reference corpus ------------------------------


def q376_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty (llm/dedup.ngram_novelty): odd-doc_id documents
    are the candidate batch, even-doc_id documents the frozen reference
    corpus; novelty = 1 - fraction of the candidate's distinct word
    trigrams already present anywhere in the reference."""
    from ..llm.dedup import ngram_novelty

    docs = read_table(spark, sf_dir, "documents")
    cand = docs.filter(F.col("doc_id") % 2 == 1)
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    return ngram_novelty(cand, ref, n=3).orderBy("doc_id")


def _q376_oracle() -> str:
    from .llm import _TOKS_SQL

    gram = (
        "list_transform(generate_series(1, len(t)-2), "
        "i -> concat_ws(' ', t[i], t[i+1], t[i+2]))"
    )
    return f"""
    WITH toks AS ({_TOKS_SQL}),
    cg AS (
      SELECT doc_id, unnest(list_distinct({gram})) AS gram
      FROM toks WHERE doc_id % 2 = 1 AND len(t) >= 3
    ),
    rg AS (
      SELECT DISTINCT unnest({gram}) AS gram
      FROM toks WHERE doc_id % 2 = 0 AND len(t) >= 3
    )
    SELECT c.doc_id,
           COUNT(*) AS n_grams,
           COUNT(r.gram) AS n_seen,
           round(1.0 - CAST(COUNT(r.gram) AS DOUBLE) / COUNT(*), 6)
             AS novelty
    FROM cg c LEFT JOIN rg r USING (gram)
    GROUP BY c.doc_id ORDER BY c.doc_id
    """


_Q376_NOTES = (
    "N-GRAM NOVELTY / MEMORIZATION SCORING (llm/dedup.ngram_novelty — "
    "VERDICT r11 candidate 2; the fuzzy-overlap extension of the "
    "q89/q141 exact-match decontamination family, measurement side of "
    "Lee et al. 2022 dedup + Carlini et al. 2022 memorization audits): "
    "reference reduces ONCE to its distinct trigram set (persist per "
    "snapshot — the candidate batch iterates, not the reference); "
    "candidates explode to per-doc DISTINCT grams (repeats inside one "
    "doc count once); membership = one LEFT equi-join on the gram key "
    "+ one doc-keyed agg. 100 TB: join a 64-bit xxhash64 gram key to "
    "cut shuffle width (anchor joins the string so the oracle is "
    "byte-exact). Docs with < n tokens excluded (novelty undefined)"
)

register("q376_ngram_novelty", _q376_oracle(), _Q376_NOTES)(q376_ngram_novelty)


# --- q377: tokenizer-fertility drift per domain over crawl batches ---------------


def q377_fertility_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility drift (operators/drift.fertility_drift):
    per-source fertility (BPE-ish tokens per word) across three crawl
    batches (doc_id % 3), each batch's drift ratio vs batch 0."""
    from ..functions.text import bpe_token_count, token_count
    from ..operators.drift import fertility_drift

    docs = read_table(spark, sf_dir, "documents")
    stats = docs.select(
        "source",
        (F.col("doc_id") % 3).alias("batch"),
        token_count("text").cast("long").alias("n_words"),
        bpe_token_count("text").cast("long").alias("n_tokens"),
    )
    return fertility_drift(
        stats, "source", "batch", "n_words", "n_tokens", baseline_batch=0
    ).orderBy("source", "batch")


def _q377_oracle() -> str:
    return r"""
    WITH s AS (
      SELECT source, doc_id % 3 AS batch,
             len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                 t -> t <> '')) AS n_words,
             len(regexp_extract_all(lower(text),
                 '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_tokens
      FROM documents
    ),
    cells AS (
      SELECT source, batch, COUNT(*) AS n_docs,
             CAST(SUM(n_words) AS BIGINT) AS w,
             CAST(SUM(n_tokens) AS BIGINT) AS t
      FROM s GROUP BY source, batch
    ),
    f AS (
      SELECT *, CASE WHEN w > 0 THEN CAST(t AS DOUBLE) / w END AS fert
      FROM cells
    ),
    base AS (SELECT source, fert AS bfert FROM f WHERE batch = 0)
    SELECT c.source, c.batch, c.n_docs,
           round(c.fert, 6) AS fertility,
           round(b.bfert, 6) AS baseline_fertility,
           round(c.fert / b.bfert, 6) AS drift_ratio
    FROM f c LEFT JOIN base b USING (source)
    ORDER BY c.source, c.batch
    """


_Q377_NOTES = (
    "TOKENIZER-FERTILITY DRIFT MONITOR (operators/drift.fertility_drift "
    "— VERDICT r11 candidate 3; Rust et al. 2021 measure fertility = "
    "tokens per word exactly this way): rising per-domain fertility "
    "means the tokenizer's vocabulary is aging against that domain "
    "(new jargon/scripts/markup), FLOPs per byte silently rise and "
    "effective context shrinks. Corpus-level fertility (sum tokens / "
    "sum words per cell, exact LONG sums — order-free), NOT a mean of "
    "per-doc ratios (short-doc bias). ONE map-side-combined two-sum "
    "agg + a groups-sized broadcast baseline re-join; no second data "
    "pass, no window. Groups missing the baseline batch report NULL "
    "drift, zero-word cells NULL fertility. Tokenizer-agnostic input "
    "contract (feed bpe_encode output for the learned-BPE reading)"
)

register("q377_fertility_drift", _q377_oracle(), _Q377_NOTES)(q377_fertility_drift)


# --- q378: per-domain score-calibration drift (grouped PSI) -----------------------


def q378_score_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source calibration drift (operators/drift.score_psi_grouped)
    of the stopword-ratio quality signal: PSI of its fixed-width decile
    histogram between the even-doc_id baseline segment and the
    odd-doc_id current segment, every source in one plan."""
    from ..functions.text import stopword_ratio, tokens
    from ..operators.drift import score_psi_grouped

    docs = read_table(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        (F.col("doc_id") % 2 == 0).alias("is_baseline"),
        stopword_ratio("text", tokens("text")).alias("score"),
    )
    return score_psi_grouped(
        scored, "source", "is_baseline", "score", n_bins=10
    ).orderBy("source", "bin")


def _q378_oracle() -> str:
    from .llm import _STOP_SQL, _TOKS_SQL

    return f"""
    WITH s AS (
      SELECT source, doc_id % 2 = 0 AS is_baseline,
             CASE WHEN len(t) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(t,
                       x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
                       / len(t)
             END AS score
      FROM ({_TOKS_SQL})
    ),
    counted AS (
      SELECT source,
             least(9, CAST(floor(score * 10) AS INTEGER)) AS bin,
             CAST(SUM(CASE WHEN is_baseline THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ref,
             CAST(SUM(CASE WHEN is_baseline THEN 0 ELSE 1 END) AS BIGINT)
               AS n_cur
      FROM s WHERE score IS NOT NULL
      GROUP BY source, bin
    ),
    tot AS (
      SELECT source, SUM(n_ref) AS tr, SUM(n_cur) AS tc
      FROM counted GROUP BY source
    ),
    per_bin AS (
      SELECT c.source, c.bin, c.n_ref, c.n_cur,
             round(greatest(CAST(c.n_ref AS DOUBLE) / nullif(t.tr, 0),
                            1e-6), 6) AS p_ref,
             round(greatest(CAST(c.n_cur AS DOUBLE) / nullif(t.tc, 0),
                            1e-6), 6) AS p_cur,
             round((greatest(CAST(c.n_ref AS DOUBLE) / nullif(t.tr, 0), 1e-6)
                    - greatest(CAST(c.n_cur AS DOUBLE) / nullif(t.tc, 0),
                               1e-6))
                   * ln(greatest(CAST(c.n_ref AS DOUBLE) / nullif(t.tr, 0),
                                 1e-6)
                        / greatest(CAST(c.n_cur AS DOUBLE) / nullif(t.tc, 0),
                                   1e-6)),
                   6) AS contrib
      FROM counted c JOIN tot t USING (source)
    ),
    totals AS (
      SELECT source, round(SUM(contrib), 6) AS psi
      FROM per_bin GROUP BY source
    )
    SELECT p.source, p.bin, p.n_ref, p.n_cur, p.p_ref, p.p_cur,
           p.contrib, t.psi
    FROM per_bin p JOIN totals t USING (source)
    ORDER BY p.source, p.bin
    """


_Q378_NOTES = (
    "PER-DOMAIN SCORE-CALIBRATION DRIFT (operators/drift."
    "score_psi_grouped — VERDICT r11 candidate 4; the q227 "
    "reliability-bin grid crossed with the q223 PSI reduction): a "
    "quality score whose per-domain distribution shifts between crawls "
    "no longer means the same thing and every downstream threshold "
    "silently re-tunes. FIXED-WIDTH decile bins (floor(score*10), "
    "top-capped — exact and engine-portable, no quantile estimation); "
    "one map-side bucket expression + ONE (group,bin,segment) count "
    "agg + groups-sized broadcast totals re-join — the fact table is "
    "read once, adding a group multiplies nothing. Empty cells floored "
    "at 1e-6 so ln stays finite; psi repeated per row (q223 convention)"
)

register("q378_score_psi", _q378_oracle(), _Q378_NOTES)(q378_score_psi)


# --- q379: CCNet-style bigram-LM perplexity gate ----------------------------------


def q379_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity gate (llm/lm.bigram_lm_train/score): an add-0.5
    bigram LM trained on the even-doc_id reference half scores the
    odd-doc_id candidate half by average -ln P(w2|w1); lower = more
    reference-like."""
    from ..llm.lm import bigram_lm_score, bigram_lm_train

    docs = read_table(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    cand = docs.filter(F.col("doc_id") % 2 == 1)
    bigrams, contexts, vocab = bigram_lm_train(ref)
    return bigram_lm_score(cand, bigrams, contexts, vocab, k=0.5).orderBy(
        "doc_id"
    )


def _q379_oracle() -> str:
    from .llm import _TOKS_SQL

    return f"""
    WITH toks AS ({_TOKS_SQL}),
    bi AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM (
        SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i
        FROM toks WHERE len(t) >= 2
      )
    ),
    bigrams AS (
      SELECT w1, w2, COUNT(*) AS c_big
      FROM bi WHERE doc_id % 2 = 0 GROUP BY w1, w2
    ),
    contexts AS (
      SELECT w1, COUNT(*) AS c_ctx
      FROM bi WHERE doc_id % 2 = 0 GROUP BY w1
    ),
    vocab AS (
      SELECT COUNT(DISTINCT tok) AS v
      FROM (SELECT unnest(t) AS tok FROM toks WHERE doc_id % 2 = 0)
    ),
    scored AS (
      SELECT b.doc_id,
             round(-ln((COALESCE(g.c_big, 0) + 0.5)
                       / (COALESCE(x.c_ctx, 0) + 0.5 * (v.v + 1))), 9)
               AS nlp
      FROM bi b
      LEFT JOIN bigrams g USING (w1, w2)
      LEFT JOIN contexts x USING (w1)
      CROSS JOIN vocab v
      WHERE b.doc_id % 2 = 1
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           round(CAST(SUM(CAST(nlp AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_neg_logprob
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """


_Q379_NOTES = (
    "CCNET BIGRAM-LM PERPLEXITY GATE (llm/lm.bigram_lm_train/score — "
    "Wenzek et al. 2020 rank crawl docs by reference-corpus n-gram-LM "
    "perplexity; RefinedWeb/FineWeb ablate against it): the model IS a "
    "pair of vocab-sized DataFrames ((w1,w2,c_big) + (w1,c_ctx) + 1-row "
    "V) — persist per snapshot; scoring = candidate bigrams (map-side "
    "zip_with explode) LEFT-join the model tables + 1-row vocab "
    "broadcast. Add-k smoothing P=(c_big+k)/(c_ctx+k(V+1)) is ONE IEEE "
    "division of exact-integer-derived half-integer operands (bit-equal "
    "cross-engine); -ln rounds 9dp (libm rule), per-doc mean "
    "decimal-sums the terms (order-free), 6dp out. Docs with < 2 "
    "tokens excluded (score undefined)"
)

register("q379_bigram_perplexity", _q379_oracle(), _Q379_NOTES)(q379_bigram_perplexity)


# --- q380: DSIR hashed-feature importance weighting -------------------------------


def q380_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (llm/sampling.dsir_log_importance): the whole documents pool
    scored by hashed-token importance toward the English-language
    slice as the trusted target — positive log weight = looks more like
    the target than the pool average."""
    from ..llm.sampling import dsir_log_importance

    docs = read_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    return dsir_log_importance(docs, target, m=64, k=0.5).orderBy("doc_id")


def _q380_oracle() -> str:
    from .llm import _TOKS_SQL

    bucket = (
        "CAST(list_sum(list_transform(generate_series(1, 6), "
        "i -> CAST((strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1)"
        " AS BIGINT) * CAST(pow(16, 6 - i) AS BIGINT))) AS BIGINT) % 64"
    )
    return f"""
    WITH toks AS ({_TOKS_SQL}),
    tb AS (
      SELECT doc_id, lang, {bucket} AS bucket
      FROM (SELECT doc_id, lang, unnest(t) AS tok FROM toks)
    ),
    cr AS (SELECT bucket, COUNT(*) AS c_r FROM tb GROUP BY bucket),
    ct AS (SELECT bucket, COUNT(*) AS c_t FROM tb WHERE lang = 'en'
           GROUP BY bucket),
    tr AS (SELECT SUM(c_r) AS t_r FROM cr),
    tt AS (SELECT SUM(c_t) AS t_t FROM ct),
    ratio AS (
      SELECT cr.bucket,
             round(ln(((COALESCE(ct.c_t, 0) + 0.5)
                       / (tt.t_t + CAST(32.0 AS DOUBLE)))
                      / ((cr.c_r + 0.5)
                         / (tr.t_r + CAST(32.0 AS DOUBLE)))), 9) AS lr
      FROM cr LEFT JOIN ct USING (bucket) CROSS JOIN tt CROSS JOIN tr
    )
    SELECT b.doc_id, COUNT(*) AS n_tokens,
           round(CAST(SUM(CAST(r.lr AS DECIMAL(38,12))) AS DOUBLE), 6)
             AS log_importance
    FROM tb b JOIN ratio r USING (bucket)
    GROUP BY b.doc_id ORDER BY b.doc_id
    """


_Q380_NOTES = (
    "DSIR IMPORTANCE WEIGHTING (llm/sampling.dsir_log_importance — "
    "Xie-Santurkar-Ma-Liang NeurIPS 2023: resample a raw pool toward a "
    "trusted target distribution via hashed-feature likelihood ratios, "
    "no classifier training): features are 24-bit-md5 token buckets "
    "mod m (the engine-wide portable hash rule — DuckDB rebuilds the "
    "bucket digit-by-digit), bucket distributions add-k smoothed. Both "
    "bucket tables are m-sized broadcasts (m~10^4 in production); the "
    "pool streams map-side through one explode + broadcast equi-join + "
    "doc-keyed agg — ratio join lossless because every scored bucket "
    "exists in the raw counts by construction. Exact LONG counts, "
    "half-integer IEEE divisions, ln 9dp (libm rule), decimal-summed "
    "per-doc; composes with weighted_sample_topk for the actual "
    "resampling step"
)

register("q380_dsir_importance", _q380_oracle(), _Q380_NOTES)(q380_dsir_importance)


# --- q381: data-constrained mixture epoch planner ---------------------------------


def q381_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture epoch planner (llm/sampling.mixture_epoch_plan): a
    4-domain target mixture (one deliberately absent from the corpus)
    against a fixed token budget with the 4-epoch repeat cap."""
    from ..functions.text import bpe_token_count
    from ..llm.sampling import mixture_epoch_plan

    docs = read_table(spark, sf_dir, "documents")
    stats = docs.select(
        "source", bpe_token_count("text").cast("long").alias("n_tokens")
    )
    return mixture_epoch_plan(
        stats,
        "source",
        "n_tokens",
        {"src1": 0.4, "src7": 0.3, "src18": 0.2, "src_missing": 0.1},
        budget=20_000,
        max_epochs=4.0,
    ).orderBy("source")


def _q381_oracle() -> str:
    # shares normalized in the driver exactly as the operator does:
    # wtot = 1.0 -> literal shares 0.4/0.3/0.2/0.1
    return r"""
    WITH w(source, share) AS (VALUES
      ('src1', CAST(0.4 AS DOUBLE)), ('src7', CAST(0.3 AS DOUBLE)),
      ('src18', CAST(0.2 AS DOUBLE)), ('src_missing', CAST(0.1 AS DOUBLE))),
    s AS (
      SELECT source,
             len(regexp_extract_all(lower(text),
                 '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_tokens
      FROM documents
    ),
    avail AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS avail_tokens
      FROM s GROUP BY source
    ),
    plan AS (
      SELECT w.source,
             COALESCE(a.n_docs, 0) AS n_docs,
             COALESCE(a.avail_tokens, 0) AS avail_tokens,
             w.share,
             w.share * CAST(20000.0 AS DOUBLE) AS desired,
             w.share * CAST(20000.0 AS DOUBLE)
               / nullif(COALESCE(a.avail_tokens, 0), 0) AS needed
      FROM w LEFT JOIN avail a USING (source)
    ),
    capped AS (
      SELECT *,
             CASE WHEN avail_tokens > 0
                  THEN least(needed, CAST(4.0 AS DOUBLE)) END AS planned,
             CASE WHEN avail_tokens > 0
                  THEN least(needed, CAST(4.0 AS DOUBLE)) * avail_tokens
                  ELSE 0.0 END AS tokens_planned
      FROM plan
    )
    SELECT source, n_docs, avail_tokens,
           round(share, 6) AS target_share,
           round(desired, 6) AS desired_tokens,
           round(needed, 6) AS epochs_needed,
           round(planned, 6) AS epochs_planned,
           round(tokens_planned, 6) AS tokens_planned,
           round(greatest(desired - tokens_planned, 0.0), 6) AS shortfall
    FROM capped ORDER BY source
    """


_Q381_NOTES = (
    "DATA-CONSTRAINED MIXTURE EPOCH PLANNER (llm/sampling."
    "mixture_epoch_plan — Muennighoff et al. 2023: repeating data past "
    "~4 epochs yields rapidly diminishing returns, so a mixture is "
    "only trainable if desired mass fits under the repeat cap): per "
    "domain — available token mass, implied epochs, the capped plan, "
    "and the shortfall the cap forbids (re-weight or source more "
    "data). Shares normalized IN THE DRIVER (identical literals ship "
    "to any engine); ONE two-sum map-combined agg + plan-sized literal "
    "broadcast join — no window, no second pass. Anchor declares a "
    "domain absent from the corpus (0 available, NULL epochs, full "
    "shortfall) and domains that cap at every fixture scale"
)

register("q381_epoch_plan", _q381_oracle(), _Q381_NOTES)(q381_epoch_plan)


# --- q382: CCNet head/middle/tail perplexity buckets -------------------------------


def q382_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet quality buckets (llm/lm.perplexity_buckets over q379's
    scores): per-language perplexity terciles of the odd-doc_id
    candidates under the even-doc_id reference bigram LM."""
    from ..llm.lm import bigram_lm_score, bigram_lm_train, perplexity_buckets

    docs = read_table(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    cand = docs.filter(F.col("doc_id") % 2 == 1)
    bigrams, contexts, vocab = bigram_lm_train(ref)
    scored = bigram_lm_score(cand, bigrams, contexts, vocab, k=0.5).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return perplexity_buckets(scored, "lang", "avg_neg_logprob").orderBy(
        "doc_id"
    )


def _q382_oracle() -> str:
    from .llm import _TOKS_SQL

    return f"""
    WITH toks AS ({_TOKS_SQL}),
    bi AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM (
        SELECT doc_id, t, unnest(generate_series(1, len(t)-1)) AS i
        FROM toks WHERE len(t) >= 2
      )
    ),
    bigrams AS (
      SELECT w1, w2, COUNT(*) AS c_big
      FROM bi WHERE doc_id % 2 = 0 GROUP BY w1, w2
    ),
    contexts AS (
      SELECT w1, COUNT(*) AS c_ctx
      FROM bi WHERE doc_id % 2 = 0 GROUP BY w1
    ),
    vocab AS (
      SELECT COUNT(DISTINCT tok) AS v
      FROM (SELECT unnest(t) AS tok FROM toks WHERE doc_id % 2 = 0)
    ),
    nlps AS (
      SELECT b.doc_id,
             round(-ln((COALESCE(g.c_big, 0) + 0.5)
                       / (COALESCE(x.c_ctx, 0) + 0.5 * (v.v + 1))), 9)
               AS nlp
      FROM bi b
      LEFT JOIN bigrams g USING (w1, w2)
      LEFT JOIN contexts x USING (w1)
      CROSS JOIN vocab v
      WHERE b.doc_id % 2 = 1
    ),
    scores AS (
      SELECT n.doc_id, d.lang,
             round(CAST(SUM(CAST(n.nlp AS DECIMAL(38,12))) AS DOUBLE)
                   / COUNT(*), 6) AS s
      FROM nlps n JOIN documents d USING (doc_id)
      GROUP BY n.doc_id, d.lang
    ),
    tot AS (SELECT lang, COUNT(*) AS n FROM scores GROUP BY lang),
    ranked AS (
      SELECT lang, s, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY s)
               AS rk
      FROM scores
    ),
    b1 AS (
      SELECT r.lang, r.s AS v1
      FROM ranked r JOIN tot t USING (lang)
      WHERE r.rk = CAST(ceil(t.n * (1.0 / 3.0)) AS BIGINT)
    ),
    b2 AS (
      SELECT r.lang, r.s AS v2
      FROM ranked r JOIN tot t USING (lang)
      WHERE r.rk = CAST(ceil(t.n * (2.0 / 3.0)) AS BIGINT)
    )
    SELECT sc.doc_id, sc.lang, sc.s AS avg_neg_logprob,
           CASE WHEN sc.s <= b1.v1 THEN 'head'
                WHEN sc.s <= b2.v2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scores sc JOIN b1 USING (lang) JOIN b2 USING (lang)
    ORDER BY sc.doc_id
    """


_Q382_NOTES = (
    "CCNET HEAD/MIDDLE/TAIL PERPLEXITY BUCKETS (llm/lm."
    "perplexity_buckets over q379's bigram-LM scores — Wenzek et al. "
    "2020 §4.4 split the corpus into per-language perplexity terciles; "
    "'head' trains first): boundary selection is ONE GK summary pass "
    "per group (percentile_approx, no global sort or corpus window) "
    "broadcast back groups-sized; at audit scale the GK pass runs "
    "effectively exact and returns the ceil(p*n)-rank elements (the "
    "q204/q212 rule, re-probed for p=1/3, 2/3 at "
    "n=3/4/5/6/7/9/10/100/101/102), which the oracle replays with "
    "ROW_NUMBER rank arithmetic; finite accuracy is the documented "
    "100 TB path (same plan, bounded memory). Boundary ties bucket "
    "DOWN (<=), deterministic under any row order"
)

register("q382_perplexity_buckets", _q382_oracle(), _Q382_NOTES)(
    q382_perplexity_buckets
)


# --- q383: Gopher document-level quality rules -------------------------------------


def q383_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher doc-level quality rules (llm/quality.
    gopher_quality_filters) over the documents table — per doc the five
    stats, five rule verdicts, and the AND."""
    from ..llm.quality import gopher_quality_filters

    docs = read_table(spark, sf_dir, "documents")
    return gopher_quality_filters(docs).orderBy("doc_id")


def _q383_oracle(min_words: int = 50, min_stop_hits: int = 2) -> str:
    # parameterized so q418's funnel oracle can nest it with the
    # fixture-informed thresholds; q383/q398 use the paper defaults
    from .llm import _TOKS_SQL

    stop = "['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']"
    return f"""
    WITH s AS (
      SELECT doc_id, text, t, len(t) AS nw,
             CASE WHEN len(t) > 0 THEN
               CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
                 / len(t) END AS mwl,
             (length(text) - length(replace(text, '#', ''))) AS nhash,
             ((length(text) - length(replace(text, '...', ''))) / 3
              + (length(text) - length(replace(text, '…', ''))))
               AS nell,
             len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
               AS nalpha,
             len(list_intersect(list_distinct(t), {stop})) AS stop_hits
      FROM ({_TOKS_SQL})
    ),
    r AS (
      SELECT doc_id, nw, mwl,
             CASE WHEN nw > 0 THEN
               greatest(CAST(nhash AS DOUBLE) / nw,
                        CAST(nell AS DOUBLE) / nw) END AS sym,
             CASE WHEN nw > 0 THEN CAST(nalpha AS DOUBLE) / nw END
               AS alpha,
             stop_hits,
             nw BETWEEN {min_words} AND 100000 AS rule_word_count,
             COALESCE(mwl BETWEEN 3.0 AND 10.0, FALSE)
               AS rule_mean_word_len,
             COALESCE(greatest(CAST(nhash AS DOUBLE) / nullif(nw, 0),
                               CAST(nell AS DOUBLE) / nullif(nw, 0))
                      <= 0.1, FALSE)
               AS rule_symbol_ratio,
             COALESCE(CAST(nalpha AS DOUBLE) / nullif(nw, 0) >= 0.8, FALSE)
               AS rule_alpha_words,
             stop_hits >= {min_stop_hits} AS rule_stopwords
      FROM s
    )
    SELECT doc_id, nw AS n_words,
           round(mwl, 6) AS mean_word_len,
           round(sym, 6) AS symbol_ratio,
           round(alpha, 6) AS alpha_word_frac,
           stop_hits,
           rule_word_count, rule_mean_word_len, rule_symbol_ratio,
           rule_alpha_words, rule_stopwords,
           (rule_word_count AND rule_mean_word_len AND rule_symbol_ratio
            AND rule_alpha_words AND rule_stopwords) AS passes
    FROM r ORDER BY doc_id
    """


_Q383_NOTES = (
    "GOPHER DOC-LEVEL QUALITY RULES (llm/quality.gopher_quality_filters "
    "— Rae et al. 2021 Appendix A1.1, the MassiveText rule set reused "
    "by most open pipelines: word-count bounds, mean-word-length "
    "bounds, per-symbol #/ellipsis symbol-to-word ratios, >=80% "
    "alphabetic words, "
    ">=2-of-8 stop words): MAP-ONLY — every stat is array/regex math "
    "inside whole-stage codegen, one text pass, no shuffle/UDF; ratios "
    "are single IEEE divisions of exact integer counts; zero-word docs "
    "fail word-count and report NULL ratios (try_divide). The paper's "
    "LINE-level rules need line-preserving text and are intentionally "
    "not approximated (documented honest boundary). Completes the "
    "quality stack next to q45 repetition and q47 composite score"
)

register("q383_gopher_filters", _q383_oracle(), _Q383_NOTES)(q383_gopher_filters)


# --- q384: Zipf-law fit per language -----------------------------------------------


def q384_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf fit (llm/quality.zipf_fit): OLS of ln(freq) on ln(rank)
    over each language's top-1000 vocabulary."""
    from ..llm.quality import zipf_fit

    docs = read_table(spark, sf_dir, "documents")
    return zipf_fit(docs, "lang", top_r=1000).orderBy("lang")


def _q384_oracle() -> str:
    from .llm import _TOKS_SQL

    return f"""
    WITH tok AS (
      SELECT lang, unnest(t) AS tok FROM ({_TOKS_SQL})
    ),
    freq AS (SELECT lang, tok, COUNT(*) AS c FROM tok GROUP BY lang, tok),
    ranked AS (
      SELECT lang,
             round(ln(CAST(ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY c DESC, tok ASC)
               AS DOUBLE)), 9) AS x,
             round(ln(CAST(c AS DOUBLE)), 9) AS y,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, tok ASC)
               AS rk
      FROM freq
    ),
    sums AS (
      SELECT lang, COUNT(*) AS n_terms,
             CAST(SUM(CAST(round(x, 9) AS DECIMAL(38,12))) AS DOUBLE)
               AS sx,
             CAST(SUM(CAST(round(y, 9) AS DECIMAL(38,12))) AS DOUBLE)
               AS sy,
             CAST(SUM(CAST(round(x * y, 9) AS DECIMAL(38,12))) AS DOUBLE)
               AS sxy,
             CAST(SUM(CAST(round(x * x, 9) AS DECIMAL(38,12))) AS DOUBLE)
               AS sxx
      FROM ranked WHERE rk <= 1000 GROUP BY lang
    )
    SELECT lang, n_terms,
           round((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
                 / nullif(CAST(n_terms AS DOUBLE) * sxx - sx * sx, 0), 6)
             AS zipf_slope,
           round((sy - ((CAST(n_terms AS DOUBLE) * sxy - sx * sy)
                        / nullif(CAST(n_terms AS DOUBLE) * sxx - sx * sx,
                                 0)) * sx)
                 / CAST(n_terms AS DOUBLE), 6) AS intercept
    FROM sums ORDER BY lang
    """


_Q384_NOTES = (
    "ZIPF-LAW FIT PER LANGUAGE (llm/quality.zipf_fit — the corpus-"
    "health diagnostic: healthy natural language has ln(freq) ~ "
    "intercept - s*ln(rank), s ~ 1 [Zipf 1949, Piantadosi 2014 "
    "review]; template-heavy or synthetic corpora bend the curve): the "
    "ONLY window runs over the VOCAB-sized frequency table partitioned "
    "by group — never the corpus; the fit is one closed-form five-sum "
    "aggregate. top_r=1000 caps the fitted head deterministically "
    "(rank ties broken token ASC) since the hapax tail is censored. "
    "ln terms 9dp (libm rule), products re-rounded 9dp before the "
    "DECIMAL fold, slope/intercept a fixed IEEE expression of the "
    "folded sums"
)

register("q384_zipf_fit", _q384_oracle(), _Q384_NOTES)(q384_zipf_fit)


# --- q385: per-domain unigram JS divergence ----------------------------------------


def q385_unigram_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram JS divergence from the whole corpus
    (llm/quality.unigram_js_divergence) — the domain-drift score."""
    from ..llm.quality import unigram_js_divergence

    docs = read_table(spark, sf_dir, "documents")
    return unigram_js_divergence(docs, "source").orderBy("source")


def _q385_oracle() -> str:
    from .llm import _TOKS_SQL

    ln2 = "CAST('0.6931471805599453' AS DOUBLE)"
    return f"""
    WITH tok AS (
      SELECT source AS grp, unnest(t) AS tok FROM ({_TOKS_SQL})
    ),
    cw AS (SELECT tok, COUNT(*) AS c_all FROM tok GROUP BY tok),
    tot AS (SELECT SUM(c_all) AS t_all FROM cw),
    cg AS (SELECT grp, tok, COUNT(*) AS c_g FROM tok GROUP BY grp, tok),
    tg AS (SELECT grp, SUM(c_g) AS t_g FROM cg GROUP BY grp),
    terms AS (
      SELECT cg.grp, cw.c_all,
             round((CAST(cg.c_g AS DOUBLE) / tg.t_g)
                   * ln((CAST(cg.c_g AS DOUBLE) / tg.t_g)
                        / ((CAST(cg.c_g AS DOUBLE) / tg.t_g
                            + CAST(cw.c_all AS DOUBLE) / tot.t_all)
                           / 2.0)), 9) AS kd,
             round((CAST(cw.c_all AS DOUBLE) / tot.t_all)
                   * ln((CAST(cw.c_all AS DOUBLE) / tot.t_all)
                        / ((CAST(cg.c_g AS DOUBLE) / tg.t_g
                            + CAST(cw.c_all AS DOUBLE) / tot.t_all)
                           / 2.0)), 9) AS kp
      FROM cg JOIN cw USING (tok) JOIN tg USING (grp) CROSS JOIN tot
    ),
    agg AS (
      SELECT grp,
             CAST(SUM(CAST(kd AS DECIMAL(38,12))) AS DOUBLE) AS skd,
             CAST(SUM(CAST(kp AS DECIMAL(38,12))) AS DOUBLE) AS skp,
             CAST(SUM(c_all) AS BIGINT) AS cin,
             COUNT(*) AS n_terms
      FROM terms GROUP BY grp
    )
    SELECT a.grp AS source,
           CAST(tg.t_g AS BIGINT) AS n_tokens,
           a.n_terms,
           round(0.5 * a.skd
                 + 0.5 * (a.skp
                          + {ln2} * (1.0 - CAST(a.cin AS DOUBLE)
                                           / tot.t_all)), 6) AS js
    FROM agg a JOIN tg ON a.grp = tg.grp CROSS JOIN tot
    ORDER BY source
    """


_Q385_NOTES = (
    "PER-DOMAIN UNIGRAM JS DIVERGENCE (llm/quality."
    "unigram_js_divergence — the domain-drift score a mixture pipeline "
    "watches; JS is symmetric and bounded by ln 2, unlike KL): the "
    "identity that keeps it DOMAIN-VOCAB sized instead of |domains| x "
    "|vocab| — every out-of-domain term of KL(P_corpus || M) collapses "
    "to ln2 * P_out because M = P/2 exactly there, and P_out = 1 - "
    "sum_in P comes from EXACT integer sums. Two count aggregates + "
    "one token-keyed equi-join + one group-keyed decimal fold; ln "
    "terms 9dp, products re-rounded 9dp before the fold; the ln2 "
    "constant ships as a repr literal so both engines parse the same "
    "double"
)

register("q385_unigram_js", _q385_oracle(), _Q385_NOTES)(q385_unigram_js)


# --- q386: cross-source near-dup leakage matrix ------------------------------------


def q386_leakage_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-group near-dup leakage (llm/dedup.near_dup_leakage) over
    the exact prefix-filtered Jaccard pairs at tau=0.5, grouped by
    source — which domain pairs bleed near-duplicate content into each
    other."""
    from ..llm.dedup import jaccard_prefix_filter_pairs, near_dup_leakage

    docs = read_table(spark, sf_dir, "documents")
    pairs = jaccard_prefix_filter_pairs(docs, threshold=0.5)
    return near_dup_leakage(pairs, docs, "source").orderBy(
        "group_a", "group_b"
    )


def _q386_oracle() -> str:
    from .llm import _JACCARD_SQL, _SHINGLES_SQL

    return f"""
    WITH sh AS ({_SHINGLES_SQL}),
    shx AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM shx a JOIN shx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
                  JOIN sh sb ON sb.doc_id = c.doc_b
      WHERE {_JACCARD_SQL} >= 0.5
    ),
    g AS (
      SELECT least(da.source, db.source) AS group_a,
             greatest(da.source, db.source) AS group_b
      FROM pairs p JOIN documents da ON da.doc_id = p.doc_a
                   JOIN documents db ON db.doc_id = p.doc_b
    )
    SELECT group_a, group_b, COUNT(*) AS n_pairs,
           group_a <> group_b AS is_cross
    FROM g GROUP BY group_a, group_b
    ORDER BY group_a, group_b
    """


_Q386_NOTES = (
    "CROSS-SOURCE NEAR-DUP LEAKAGE MATRIX (llm/dedup.near_dup_leakage "
    "— the train/eval-contamination and licensing-bleed report of Lee "
    "et al. 2022: near-dups cross split/source boundaries where exact "
    "hashes do not): consumes ANY pair generator (anchor: the q112 "
    "prefix-filtered EXACT Jaccard path, so the oracle replays "
    "byte-identical pairs via the shared-shingle candidate join); two "
    "id-keyed equi-joins of pairs against the (id, group) projection + "
    "ONE count agg on the canonicalized (least, greatest) group pair — "
    "pair-table sized, never corpus-sized, no window/collect"
)

register("q386_leakage_matrix", _q386_oracle(), _Q386_NOTES)(q386_leakage_matrix)


# --- q387: fixed-context padding/truncation waste ----------------------------------


def q387_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batching-efficiency readout (llm/sampling.padding_waste): per
    source, the pad and truncation waste of naive truncate-or-pad
    loading at seq_len=64 BPE-ish tokens."""
    from ..functions.text import bpe_token_count
    from ..llm.sampling import padding_waste

    docs = read_table(spark, sf_dir, "documents")
    stats = docs.select(
        "source", bpe_token_count("text").cast("long").alias("n_tokens")
    )
    return padding_waste(stats, "source", "n_tokens", seq_len=64).orderBy(
        "source"
    )


def _q387_oracle() -> str:
    return r"""
    WITH s AS (
      SELECT source,
             len(regexp_extract_all(lower(text),
                 '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n
      FROM documents
    ),
    agg AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN n > 64 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_truncated,
             CAST(SUM(n) AS BIGINT) AS tokens_total,
             CAST(SUM(least(n, 64)) AS BIGINT) AS tokens_kept
      FROM s GROUP BY source
    )
    SELECT source, n_docs, n_truncated, tokens_total, tokens_kept,
           round(1.0 - CAST(tokens_kept AS DOUBLE)
                       / CAST(n_docs * 64 AS DOUBLE), 6) AS pad_frac,
           round(CAST(tokens_total - tokens_kept AS DOUBLE)
                 / nullif(tokens_total, 0), 6) AS trunc_frac
    FROM agg ORDER BY source
    """


_Q387_NOTES = (
    "FIXED-CONTEXT PADDING/TRUNCATION WASTE (llm/sampling."
    "padding_waste — the batching-efficiency audit that motivates "
    "concat-and-chunk packing: naive truncate-or-pad loading burns "
    "pad_frac of every compute window and drops trunc_frac of the "
    "tokens): ONE map-side-combined aggregate of exact integer sums "
    "per group — map-only arithmetic, no window, no second pass; "
    "ratios are single IEEE divisions of exact LONGs. Pairs with q77 "
    "pack_by_token_budget (the fix) and q381 epoch planning (the "
    "budget)"
)

register("q387_padding_waste", _q387_oracle(), _Q387_NOTES)(q387_padding_waste)


# --- q388: dedup threshold sensitivity curve ---------------------------------------


def q388_dedup_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sensitivity curve (llm/dedup.dedup_sensitivity) over
    the exact pair-Jaccard distribution of the documents shingle graph
    (the q363 audit baseline): pairs and distinct docs touched at each
    candidate tau."""
    from ..llm.dedup import dedup_sensitivity, ngram_jaccard_pairs

    docs = read_table(spark, sf_dir, "documents")
    sims = ngram_jaccard_pairs(docs, threshold=0.0)
    return dedup_sensitivity(
        sims, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]
    ).orderBy("threshold")


def _q388_oracle() -> str:
    from .llm import _JACCARD_SQL, _SHINGLES_SQL

    taus = ", ".join(
        f"(CAST({t} AS DOUBLE))"
        for t in (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)
    )
    return f"""
    WITH sh AS ({_SHINGLES_SQL}),
    shx AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM shx a JOIN shx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    sims AS (
      SELECT c.doc_a, c.doc_b, CAST({_JACCARD_SQL} AS DOUBLE) AS s
      FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
                  JOIN sh sb ON sb.doc_id = c.doc_b
    ),
    taus(threshold) AS (VALUES {taus}),
    qual AS (
      SELECT t.threshold, s.doc_a, s.doc_b
      FROM sims s JOIN taus t ON s.s >= t.threshold
    ),
    np AS (SELECT threshold, COUNT(*) AS n_pairs FROM qual
           GROUP BY threshold),
    nd AS (
      SELECT threshold, COUNT(DISTINCT doc) AS n_docs_affected
      FROM (
        SELECT threshold, doc_a AS doc FROM qual
        UNION ALL SELECT threshold, doc_b FROM qual
      ) GROUP BY threshold
    )
    SELECT t.threshold,
           COALESCE(np.n_pairs, 0) AS n_pairs,
           COALESCE(nd.n_docs_affected, 0) AS n_docs_affected
    FROM taus t LEFT JOIN np USING (threshold)
                LEFT JOIN nd USING (threshold)
    ORDER BY t.threshold
    """


_Q388_NOTES = (
    "DEDUP THRESHOLD-SENSITIVITY CURVE (llm/dedup.dedup_sensitivity — "
    "the knob-setting readout next to q363's banding tuner: a cliff "
    "between two taus means a near-dup band sits there; pick tau on "
    "the flat side): ONE pass over the pair table — literal threshold "
    "explode (config-sized, never a join) + one count and one "
    "distinct-count agg per tau (endpoints exploded pair-table-sized); "
    "exact count_distinct at audit scale with approx_count_distinct "
    "documented as the 100 TB swap. Consumes the same exact-Jaccard "
    "audit baseline as q363 (require_small-guarded; production feeds "
    "the minhash/prefix-filter pair tables)"
)

register("q388_dedup_sensitivity", _q388_oracle(), _Q388_NOTES)(q388_dedup_sensitivity)


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


# --- q390: quality-aware dedup survivor selection ----------------------------------


def q390_survivor_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection (llm/dedup.survivor_by_score):
    fingerprint clusters (q48's order-invariant token-set key) keep
    their highest-quality member (q47's composite score), id ASC
    tiebreak."""
    from ..functions.text import fingerprint, quality_score, tokens
    from ..llm.dedup import survivor_by_score

    docs = read_table(spark, sf_dir, "documents")
    labeled = docs.select(
        "doc_id",
        fingerprint("text").alias("cluster"),
        quality_score("text", tokens("text")).alias("quality"),
    )
    return survivor_by_score(labeled, "cluster", "quality").orderBy("doc_id")


def _q390_oracle() -> str:
    from .llm import _STOP_SQL, _TOKS_SQL

    return f"""
    WITH s AS (
      SELECT doc_id, text, t,
             md5(array_to_string(list_sort(list_distinct(t)), ' '))
               AS cluster,
             CASE WHEN len(t) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(t,
                       x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
                       / len(t) END AS stop_ratio,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(regexp_replace(text,
                       '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
                       / length(text) END AS punct_ratio,
             CASE WHEN len(t) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(t, x -> length(x)))
                       AS DOUBLE) / len(t) END AS avg_wlen
      FROM ({_TOKS_SQL})
    ),
    q AS (
      SELECT doc_id, cluster,
             CAST(CASE WHEN length(text) BETWEEN 100 AND 20000
                       THEN 0.25 ELSE 0.0 END
              + CASE WHEN punct_ratio <= 0.1 THEN 0.25 ELSE 0.0 END
              + CASE WHEN stop_ratio BETWEEN 0.02 AND 0.6
                     THEN 0.25 ELSE 0.0 END
              + CASE WHEN avg_wlen BETWEEN 2.0 AND 12.0
                     THEN 0.25 ELSE 0.0 END AS DOUBLE) AS quality
      FROM s
    )
    SELECT doc_id, cluster, quality,
           ROW_NUMBER() OVER (PARTITION BY cluster
                              ORDER BY quality DESC, doc_id ASC) = 1
             AS kept
    FROM q ORDER BY doc_id
    """


_Q390_NOTES = (
    "QUALITY-AWARE DEDUP SURVIVOR SELECTION (llm/dedup."
    "survivor_by_score — the production upgrade of q39's min-id "
    "convention: among near-identical members keep the cleanest "
    "rendering, score DESC with id-ASC tiebreak so re-runs and engines "
    "agree even on all-tied clusters): ONE window over CLUSTER-sized "
    "partitions (a single label-keyed shuffle — no corpus ordering, no "
    "collect); every row carries its kept verdict so the filtered "
    "corpus AND the removal audit fall out of one pass. Anchor "
    "composes q48's fingerprint clusters with q47's quality score"
)

register("q390_survivor_by_quality", _q390_oracle(), _Q390_NOTES)(
    q390_survivor_by_quality
)


# --- q391: chunk-granularity redundancy audit --------------------------------------


def q391_chunk_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level redundancy (llm/chunking.chunk_dedup_rate): 32-token
    windows at stride 24, per source plus the rollup corpus line."""
    from ..llm.chunking import chunk_dedup_rate

    docs = read_table(spark, sf_dir, "documents")
    return chunk_dedup_rate(docs, "source", window=32, stride=24).orderBy(
        "source"
    )


def _q391_oracle() -> str:
    from .llm import _TOKS_SQL

    return f"""
    WITH toks AS ({_TOKS_SQL}),
    base AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
    chunks AS (
      SELECT b.doc_id,
             array_to_string(b.t[u.k*24+1 : u.k*24+32], ' ') AS chunk_text
      FROM base b,
           UNNEST(generate_series(0,
             CAST(ceil(greatest(b.n - 32, 0) / 24.0) AS BIGINT))) AS u(k)
    ),
    keyed AS (
      SELECT d.source, sha256(c.chunk_text) AS key
      FROM chunks c JOIN documents d USING (doc_id)
    )
    SELECT source, COUNT(*) AS n_chunks,
           COUNT(DISTINCT key) AS n_distinct,
           round(CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT key), 6)
             AS dup_factor
    FROM keyed GROUP BY ROLLUP(source)
    ORDER BY source
    """


_Q391_NOTES = (
    "CHUNK-GRANULARITY REDUNDANCY AUDIT (llm/chunking.chunk_dedup_rate "
    "— RAG and packing pipelines dedupe at CHUNK level, where "
    "boilerplate shared across distinct docs hides from doc-level "
    "dedup): q205's overlapping-window chunker + q39's sha256 identity "
    "+ ONE ROLLUP aggregate with a distinct-count (the total row also "
    "exposes cross-group sharing: corpus distinct < sum of group "
    "distincts); approx_count_distinct is the documented 100 TB swap. "
    "Map-only explode, one aggregate, no window"
)

register("q391_chunk_dedup_rate", _q391_oracle(), _Q391_NOTES)(q391_chunk_dedup_rate)


# --- q392: hard-negative mining for contrastive training ---------------------------


def q392_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (llm/similarity.hard_negatives): per
    anchor, the top-5 same-LSH-bucket neighbors with cosine in
    [0.1, 0.6) — similar but not duplicate."""
    from ..llm.similarity import hard_negatives

    emb = read_table(spark, sf_dir, "embeddings")
    return hard_negatives(emb, sim_lo=0.1, sim_hi=0.6, k=5).orderBy(
        "anchor_id", "rank"
    )


def _q392_oracle() -> str:
    from .llm import _plane_dot_sql
    from ..llm.similarity import ANN_BITS

    bucket = ", ".join(
        f"CASE WHEN {_plane_dot_sql(p)} >= 0 THEN '1' ELSE '0' END"
        for p in range(ANN_BITS)
    )
    return f"""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    bucketed AS (
      SELECT vec_id, v, concat({bucket}) AS bucket FROM e
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_cosine_similarity(a.v, b.v), 6) AS cs
      FROM bucketed a JOIN bucketed b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.1
        AND round(list_cosine_similarity(a.v, b.v), 6) < 0.6
    ),
    sym AS (
      SELECT id_a AS anchor_id, id_b AS neg_id, cs FROM pairs
      UNION ALL
      SELECT id_b, id_a, cs FROM pairs
    ),
    ranked AS (
      SELECT anchor_id, neg_id, cs,
             ROW_NUMBER() OVER (PARTITION BY anchor_id
                                ORDER BY cs DESC, neg_id ASC) AS rk
      FROM sym
    )
    SELECT anchor_id, neg_id, cs AS cos_sim, CAST(rk AS INTEGER) AS rank
    FROM ranked WHERE rk <= 5
    ORDER BY anchor_id, rank
    """


_Q392_NOTES = (
    "HARD-NEGATIVE MINING (llm/similarity.hard_negatives — the "
    "dual-encoder training staple, DPR/Karpukhin et al. 2020: "
    "negatives that are similar-but-not-duplicate teach the decision "
    "boundary; random negatives are too easy, near-dups are false "
    "negatives): candidates from the hyperplane-LSH bucket equi-join "
    "(q127 index contract — never all-pairs; recall is the measured "
    "LSH trade), band filter [sim_lo, sim_hi) on 6dp cosine (q43 "
    "rule), ranking window per ANCHOR over its bucket-bounded "
    "candidate set. One bucket exchange + one anchor-keyed window"
)

register("q392_hard_negatives", _q392_oracle(), _Q392_NOTES)(q392_hard_negatives)


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


# --- q394: clustering agreement (ARI) between k-means labels and LSH buckets -------


def q394_clustering_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted Rand Index (llm/cluster.adjusted_rand_index) between
    the embeddings table's k-means labels and the hyperplane-LSH
    bucketing — how much cluster structure the cheap path preserves."""
    from ..llm.cluster import adjusted_rand_index
    from ..llm.similarity import ANN_BITS, hyperplane_bucket

    emb = read_table(spark, sf_dir, "embeddings")
    lsh = hyperplane_bucket(emb, "embedding", ANN_BITS, 64).select(
        "vec_id", F.col("bucket").alias("label")
    )
    return adjusted_rand_index(emb, lsh)


def _q394_oracle() -> str:
    from ..llm.similarity import ANN_BITS
    from .llm import _plane_dot_sql

    bucket = ", ".join(
        f"CASE WHEN {_plane_dot_sql(p)} >= 0 THEN '1' ELSE '0' END"
        for p in range(ANN_BITS)
    )
    return f"""
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    bucketed AS (SELECT vec_id, label, concat({bucket}) AS lb FROM e),
    cont AS (
      SELECT label AS la, lb, COUNT(*) AS nij
      FROM bucketed GROUP BY la, lb
    ),
    sij AS (
      SELECT CAST(SUM(nij * (nij - 1) // 2) AS DOUBLE) AS sij,
             CAST(SUM(nij) AS BIGINT) AS n,
             COUNT(DISTINCT la) AS ka, COUNT(DISTINCT lb) AS kb
      FROM cont
    ),
    sa AS (
      SELECT CAST(SUM(ai * (ai - 1) // 2) AS DOUBLE) AS sa
      FROM (SELECT SUM(nij) AS ai FROM cont GROUP BY la)
    ),
    sb AS (
      SELECT CAST(SUM(bj * (bj - 1) // 2) AS DOUBLE) AS sb
      FROM (SELECT SUM(nij) AS bj FROM cont GROUP BY lb)
    )
    SELECT s.n, s.ka AS n_clusters_a, s.kb AS n_clusters_b,
           round((s.sij - a.sa * b.sb
                          / CAST(s.n * (s.n - 1) // 2 AS DOUBLE))
                 / nullif((a.sa + b.sb) / 2.0
                          - a.sa * b.sb
                            / CAST(s.n * (s.n - 1) // 2 AS DOUBLE), 0),
                 6) AS ari
    FROM sij s CROSS JOIN sa a CROSS JOIN sb b
    """


_Q394_NOTES = (
    "CLUSTERING AGREEMENT via ADJUSTED RAND INDEX (llm/cluster."
    "adjusted_rand_index — Hubert-Arabie 1985; the score a dedup "
    "pipeline uses to compare labelings across thresholds, algorithm "
    "versions, or cheap-vs-expensive paths; anchor measures how much "
    "k-means structure hyperplane-LSH bucketing preserves): everything "
    "reduces to the contingency table — ONE id-keyed equi-join + one "
    "(a,b) count agg + marginal re-aggregates of THAT table, never a "
    "second data pass; pair counts C(x,2) carried exactly (DECIMAL "
    "headroom past the LONG overflow at n~4e9), ARI is a fixed IEEE "
    "expression of four exact operands; trivial-partition denominator "
    "0 -> NULL by documented convention"
)

register("q394_clustering_agreement", _q394_oracle(), _Q394_NOTES)(
    q394_clustering_agreement
)


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


# --- q396: per-domain dedup retention accounting -----------------------------------


def q396_dedup_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup impact accounting: after fingerprint-cluster dedup with
    quality-aware survivors (q390's rule), what fraction of each
    source's documents and tokens survives — the per-domain line item
    of every curation report."""
    from ..functions.text import bpe_token_count, fingerprint, quality_score, tokens
    from ..llm.dedup import survivor_by_score

    docs = read_table(spark, sf_dir, "documents")
    labeled = docs.select(
        "doc_id",
        "source",
        fingerprint("text").alias("cluster"),
        quality_score("text", tokens("text")).alias("quality"),
        bpe_token_count("text").cast("long").alias("n_tokens"),
    )
    verdicts = survivor_by_score(labeled, "cluster", "quality")
    joined = labeled.select("doc_id", "source", "n_tokens").join(
        verdicts.select("doc_id", "kept"), "doc_id"
    )
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum("n_tokens").cast("long").alias("tokens_total"),
            F.sum(F.when(F.col("kept"), F.col("n_tokens")).otherwise(0))
            .cast("long")
            .alias("tokens_kept"),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            "tokens_total",
            "tokens_kept",
            F.round(F.col("n_kept") / F.col("n_docs").cast("double"), 6).alias(
                "doc_retention"
            ),
            F.round(
                F.try_divide(
                    F.col("tokens_kept").cast("double"), F.col("tokens_total")
                ),
                6,
            ).alias("token_retention"),
        )
        .orderBy("source")
    )


def _q396_oracle() -> str:
    from .llm import _STOP_SQL, _TOKS_SQL

    return f"""
    WITH s AS (
      SELECT doc_id, source, text, t,
             md5(array_to_string(list_sort(list_distinct(t)), ' '))
               AS cluster,
             len(regexp_extract_all(lower(text),
                 '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_tokens,
             CASE WHEN len(t) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(t,
                       x -> list_contains({_STOP_SQL}, x))) AS DOUBLE)
                       / len(t) END AS stop_ratio,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(regexp_replace(text,
                       '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE)
                       / length(text) END AS punct_ratio,
             CASE WHEN len(t) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(t, x -> length(x)))
                       AS DOUBLE) / len(t) END AS avg_wlen
      FROM ({_TOKS_SQL})
    ),
    q AS (
      SELECT doc_id, source, cluster, n_tokens,
             CAST(CASE WHEN length(text) BETWEEN 100 AND 20000
                       THEN 0.25 ELSE 0.0 END
              + CASE WHEN punct_ratio <= 0.1 THEN 0.25 ELSE 0.0 END
              + CASE WHEN stop_ratio BETWEEN 0.02 AND 0.6
                     THEN 0.25 ELSE 0.0 END
              + CASE WHEN avg_wlen BETWEEN 2.0 AND 12.0
                     THEN 0.25 ELSE 0.0 END AS DOUBLE) AS quality
      FROM s
    ),
    v AS (
      SELECT doc_id, source, n_tokens,
             ROW_NUMBER() OVER (PARTITION BY cluster
                                ORDER BY quality DESC, doc_id ASC) = 1
               AS kept
      FROM q
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
           CAST(SUM(CASE WHEN kept THEN n_tokens ELSE 0 END) AS BIGINT)
             AS tokens_kept,
           round(CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS doc_retention,
           round(CAST(SUM(CASE WHEN kept THEN n_tokens ELSE 0 END)
                      AS DOUBLE) / nullif(SUM(n_tokens), 0), 6)
             AS token_retention
    FROM v GROUP BY source ORDER BY source
    """


_Q396_NOTES = (
    "PER-DOMAIN DEDUP RETENTION ACCOUNTING (composition: q48 "
    "fingerprint clusters + q47 quality + q390 survivor_by_score + "
    "ONE source-keyed aggregate — the line item every curation report "
    "carries: docs and tokens surviving dedup per domain, the number "
    "that feeds q381's epoch planner as post-dedup available mass): "
    "one cluster-partitioned window (q390's single shuffle) + one "
    "id-keyed join + one map-combined integer-sum agg; retention "
    "ratios are single IEEE divisions of exact LONGs"
)

register("q396_dedup_retention", _q396_oracle(), _Q396_NOTES)(q396_dedup_retention)


# --- q397: merge-only incremental bigram-LM maintenance ----------------------------


def q397_bigram_lm_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LM maintenance (llm/lm.bigram_lm_merge): the
    even-doc_id reference trains as TWO separate shards (doc_id % 4)
    whose model tables merge WITHOUT re-reading documents; the merged
    model scores the odd half. Monoid exactness makes the oracle
    identical to q379's monolithic train."""
    from ..llm.lm import (
        bigram_lm_merge,
        bigram_lm_score,
        bigram_lm_train,
        bigram_lm_vocab_table,
    )

    docs = read_table(spark, sf_dir, "documents")
    shard_a = docs.filter(F.col("doc_id") % 4 == 0)
    shard_b = docs.filter(F.col("doc_id") % 4 == 2)
    cand = docs.filter(F.col("doc_id") % 2 == 1)
    models = []
    for shard in (shard_a, shard_b):
        bi, ctx, _ = bigram_lm_train(shard)
        models.append((bi, ctx, bigram_lm_vocab_table(shard)))
    bigrams, contexts, vocab = bigram_lm_merge(models)
    return bigram_lm_score(cand, bigrams, contexts, vocab, k=0.5).orderBy(
        "doc_id"
    )


_Q397_NOTES = (
    "MERGE-ONLY INCREMENTAL BIGRAM-LM MAINTENANCE (llm/lm."
    "bigram_lm_merge — the t-digest/delta-CC incremental pattern "
    "applied to the CCNet gate: per-crawl shards train once into "
    "(bigrams, contexts, vocab_table); a snapshot's model is the "
    "union-and-re-sum of the persisted shard tables, NEVER re-reading "
    "documents; counts are a monoid and vocab is a set union, so "
    "merged == monolithic EXACTLY — which is why this query shares "
    "q379's oracle verbatim): all merges are vocab-sized unions + one "
    "map-combined re-aggregate; the mergeable vocab form is the "
    "distinct-token table (a distinct COUNT cannot merge; the set "
    "can). Work scales with model tables, never corpora"
)

register("q397_bigram_lm_merged", _q379_oracle(), _Q397_NOTES)(q397_bigram_lm_merged)


# --- q398: streaming ingest quality gate -------------------------------------------


def q398_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher rule set AT INGEST (streaming form of q383): the
    documents table streams through gopher_quality_filters — a pure
    map-only projection, so it composes into the readStream path
    unchanged (append mode, no state) — and the availableNow replay
    must equal the batch run row-for-row."""
    from ..llm.quality import gopher_quality_filters
    from ..schema import TABLE_SCHEMAS
    from ..streaming.runner import run_available_now

    stream = (
        spark.readStream.schema(TABLE_SCHEMAS["documents"])
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    gated = gopher_quality_filters(stream)
    return run_available_now(gated, output_mode="append").orderBy("doc_id")


_Q398_NOTES = (
    "STREAMING INGEST QUALITY GATE (q383's Gopher rule set composed "
    "into the readStream path — the shape a live crawl pipeline runs: "
    "gate documents AT INGEST, before they ever land in the corpus): "
    "gopher_quality_filters is a pure map-only projection, so it is "
    "streaming-safe by construction (append mode, no state, no "
    "watermark) and the availableNow replay equals the batch run "
    "row-for-row — q398 shares q383's oracle verbatim (the q37/q34 "
    "streaming-parity convention). Proves the curation layer's "
    "map-only operators all lift to Structured Streaming unchanged"
)

register("q398_stream_quality_gate", _q383_oracle(), _Q398_NOTES)(
    q398_stream_quality_gate
)


# --- q399: Brier decomposition of the lang-ID signal -------------------------------


def q399_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition (operators/mlmetrics.brier_decomposition)
    of stop_ratio as a probability that a document is English — the
    calibration audit of the q47 lang-ID signal."""
    from ..functions.text import stopword_ratio, tokens
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
