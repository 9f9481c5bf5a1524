"""N-gram language-model scoring (CCNet-style corpus quality filtering).

CCNet (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data") ranks crawl documents by the perplexity
of a KenLM n-gram model trained on a trusted reference corpus — cheap,
deterministic, and still the first quality gate in most open-data
pipelines (RefinedWeb, FineWeb ablate against it). This module is the
distributed form of that gate with an add-k-smoothed BIGRAM model:

- ``bigram_lm_train``: one pass over the reference corpus → (w1, w2, c)
  bigram counts + (w1, c) context counts + vocab size. The model IS a
  pair of DataFrames — persist them per corpus snapshot; at 100 TB the
  model tables are vocab-sized (millions of rows, not corpus-sized) and
  every downstream use is an equi-join against them.
- ``bigram_lm_score``: per candidate document, the average negative log
  probability per bigram under the trained model — the perplexity
  log. Unknown words hit the UNSEEN context path; unseen bigrams get
  add-k mass. Lower = more reference-like.

Cross-engine determinism: counts are exact LONGs, the smoothed
probability is ONE IEEE division of integer-derived operands (bit-equal
across engines), ln() is libm so each term rounds at 9dp (the engine
libm rule) and per-doc sums ride DECIMAL before the final 6dp round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens


def _doc_bigrams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, w1, w2) rows — consecutive token pairs per document. One
    map-side explode over the zipped token array; docs with < 2 tokens
    emit nothing."""
    toks = df.select(
        F.col(id_col), F.explode(F.array(tokens(text_col))).alias("_t")
    )
    pairs = F.zip_with(
        F.slice(F.col("_t"), 1, F.greatest(F.size("_t") - 1, F.lit(0))),
        F.slice(
            F.col("_t"),
            2,
            F.greatest(F.size("_t") - 1, F.lit(0)),
        ),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return (
        toks.filter(F.size("_t") >= 2)
        .select(id_col, F.explode(pairs).alias("_p"))
        .select(id_col, F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
    )


def bigram_lm_train(
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train the bigram model on the reference corpus. Returns
    ``(bigrams, contexts, vocab_size)`` — (w1, w2, c_big) pair counts,
    (w1, c_ctx) context counts, and a 1-row (v,) vocab-size frame
    (distinct unigrams). Two map-side-combined count aggregates + one
    distinct count; nothing returns to the driver."""
    bi = _doc_bigrams(reference, id_col, text_col)
    bigrams = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_big"))
    contexts = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("c_ctx"))
    vocab = (
        reference.select(F.explode(tokens(text_col)).alias("w"))
        .agg(F.countDistinct("w").cast("long").alias("v"))
    )
    return bigrams, contexts, vocab


def _bigram_term_scores(
    candidates: DataFrame,
    bigrams: DataFrame,
    contexts: DataFrame,
    vocab: DataFrame,
    text_col: str,
    id_col: str,
    k: float,
) -> DataFrame:
    """(id, _nlp) per candidate bigram — the shared scoring step of
    :func:`bigram_lm_score` (doc means) and :func:`min_k_membership`
    (bottom-k% tails): add-k smoothed −ln P(w2|w1), 9dp. Extracted
    verbatim (the _centroid_distances precedent — q379 re-verified
    bit-exact at all three scales post-refactor)."""
    cand = _doc_bigrams(candidates, id_col, text_col)
    return (
        cand.join(bigrams, ["w1", "w2"], "left")
        .join(contexts, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            id_col,
            F.round(
                -F.log(
                    (F.coalesce("c_big", F.lit(0)) + F.lit(k))
                    / (
                        F.coalesce("c_ctx", F.lit(0))
                        + F.lit(k) * (F.col("v") + F.lit(1))
                    )
                ),
                9,
            ).alias("_nlp"),
        )
    )


def bigram_lm_score(
    candidates: DataFrame,
    bigrams: DataFrame,
    contexts: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.5,
) -> DataFrame:
    """Score candidates under the trained model: per document the
    average ``-ln P(w2|w1)`` over its bigrams with add-k smoothing
    ``P = (c_big + k) / (c_ctx + k*(V+1))`` (the +1 is the OOV bucket;
    an unknown context has c_ctx = 0 and every unseen pair c_big = 0 —
    the uniform-over-smoothed-vocab fallback).

    Plan: candidate bigrams (map-side explode) LEFT-join the two
    vocab-sized model tables on their natural keys + the 1-row vocab
    broadcast; per-term -ln rounds at 9dp (libm rule), the per-doc mean
    decimal-sums those terms. Docs with < 2 tokens are excluded
    (score undefined). Output: (id, n_bigrams, avg_neg_logprob 6dp).
    """
    if k <= 0:
        raise ValueError("k must be positive")
    scored = _bigram_term_scores(
        candidates, bigrams, contexts, vocab, text_col, id_col, k
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum(F.col("_nlp").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_neg_logprob"),
        )
    )


def perplexity_buckets(
    scored: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str = "doc_id",
    accuracy: int | None = None,
) -> DataFrame:
    """CCNet head/middle/tail quality buckets (Wenzek et al. 2020 §4.4:
    the corpus splits into perplexity TERCILES per language; "head" is
    the most reference-like third and what most pipelines train on
    first): per group, tercile boundaries of ``score_col`` and each
    row's bucket assignment.

    Boundary selection rides ONE GK summary pass per group
    (percentile_approx) — boundaries broadcast back as a groups-sized
    table; no global sort, no corpus window. With ``accuracy=None`` the
    GK pass runs effectively exact (accuracy >> n) and returns the
    ceil(p*n)-rank elements — the q204/q212 rule, empirically pinned
    for p = 1/3, 2/3 — which a SQL oracle replays with ROW_NUMBER rank
    arithmetic. Pass a finite ``accuracy`` (e.g. 10_000) for the 100 TB
    approximate path: same plan, bounded memory, boundaries within
    n/accuracy ranks.

    Output: (id, group, score, bucket) with bucket in head|middle|tail
    (head = lowest scores: for -ln P scores, lower = more
    reference-like). Ties at a boundary bucket DOWN (<= boundary), so
    assignment is deterministic regardless of row order.
    """
    acc = int(accuracy) if accuracy is not None else 10_000_000
    bounds = scored.groupBy(group_col).agg(
        F.percentile_approx(
            score_col,
            F.array(F.lit(1.0 / 3.0), F.lit(2.0 / 3.0)),
            F.lit(acc),
        ).alias("_b")
    )
    return (
        scored.join(F.broadcast(bounds), group_col)
        .select(
            id_col,
            group_col,
            score_col,
            F.when(F.col(score_col) <= F.col("_b")[0], F.lit("head"))
            .when(F.col(score_col) <= F.col("_b")[1], F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )


def bigram_lm_vocab_table(reference: DataFrame, text_col: str = "text") -> DataFrame:
    """The persistable DISTINCT-token table of a corpus shard — the
    mergeable form of the vocab statistic (a distinct COUNT cannot be
    merged across shards; the distinct SET can). One map-side explode +
    one distinct; vocab-sized."""
    return reference.select(F.explode(tokens(text_col)).alias("w")).distinct()


def bigram_lm_merge(
    shards: list[tuple[DataFrame, DataFrame, DataFrame]],
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """MERGE-ONLY maintenance of the bigram LM — the per-crawl
    incremental story (the t-digest/delta-CC pattern applied to the
    CCNet gate): each corpus shard trains once into (bigrams, contexts,
    vocab_table); a new snapshot's model is the union-and-re-sum of the
    shard tables, WITHOUT re-touching any shard's documents. Exact, not
    approximate: counts form a monoid under addition and the vocab
    union is a set union, so merged == monolithic bit-for-bit.

    Input: [(bigrams, contexts, vocab_table), ...] per shard (vocab as
    the mergeable distinct-token table from ``bigram_lm_vocab_table``).
    Returns (bigrams, contexts, vocab) in exactly the
    ``bigram_lm_score`` input shape (vocab reduced to the 1-row count).
    All three merges are vocab-sized unions + one map-side-combined
    re-aggregate each — work scales with the model tables, never the
    corpora.
    """
    if not shards:
        raise ValueError("shards must be non-empty")
    bi = shards[0][0]
    ctx = shards[0][1]
    vt = shards[0][2]
    for b, c, v in shards[1:]:
        bi = bi.unionByName(b)
        ctx = ctx.unionByName(c)
        vt = vt.unionByName(v)
    bigrams = bi.groupBy("w1", "w2").agg(
        F.sum("c_big").cast("long").alias("c_big")
    )
    contexts = ctx.groupBy("w1").agg(F.sum("c_ctx").cast("long").alias("c_ctx"))
    vocab = vt.distinct().agg(F.count(F.lit(1)).cast("long").alias("v"))
    return bigrams, contexts, vocab


def vocab_coverage(
    docs: DataFrame,
    group_col: str,
    vocab_size: int,
    text_col: str = "text",
) -> DataFrame:
    """Top-V vocabulary construction + per-domain out-of-vocabulary
    rates — the coverage audit run before freezing any frequency-built
    vocabulary (WordPiece/SentencePiece pipelines report exactly this
    "character/word coverage" number; a domain with a high OOV rate
    will fragment into UNK/byte fallbacks and train poorly).

    Vocabulary = the ``vocab_size`` most frequent tokens corpus-wide,
    deterministic tiebreak (count DESC, token ASC). Per domain: total
    token occurrences, distinct tokens, occurrences outside the vocab,
    and the OOV rate.

    Plan: one (token) count aggregate; the top-V cut is a LIMIT over
    (count, token) order — TakeOrderedAndProject, no global sort
    materialization; the V-sized vocab then broadcast-LEFT-joins the
    per-(domain, token) counts (second map-combined aggregate) and one
    (domain) reduce finishes. V is a model-sized constant (10^4-10^5),
    always broadcastable.

    Output per domain: (domain, total_tokens, distinct_tokens,
    oov_tokens, oov_rate 6dp, vocab_size).
    """
    if vocab_size <= 0:
        raise ValueError("vocab_size must be positive")
    toks = docs.select(
        F.col(group_col).alias("domain"),
        F.explode(tokens(text_col)).alias("tok"),
    )
    global_counts = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("_c")
    )
    vocab = (
        global_counts.orderBy(F.col("_c").desc(), F.col("tok").asc())
        .limit(int(vocab_size))
        .select("tok", F.lit(True).alias("_in_vocab"))
    )
    per = toks.groupBy("domain", "tok").agg(
        F.count(F.lit(1)).alias("_n")
    )
    joined = per.join(F.broadcast(vocab), "tok", "left")
    return (
        joined.groupBy("domain")
        .agg(
            F.sum("_n").cast("long").alias("total_tokens"),
            F.count(F.lit(1)).alias("distinct_tokens"),
            F.sum(
                F.when(F.col("_in_vocab").isNull(), F.col("_n")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("oov_tokens"),
        )
        .select(
            "domain",
            "total_tokens",
            "distinct_tokens",
            "oov_tokens",
            F.round(
                F.col("oov_tokens") / F.col("total_tokens").cast("double"), 6
            ).alias("oov_rate"),
            F.lit(int(vocab_size)).cast("long").alias("vocab_size"),
        )
    )


def trigram_lm_train(
    ref: DataFrame,
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Train the model tables for the INTERPOLATED trigram gate — the
    production shape of the q379 bigram gate (CCNet runs a KenLM
    5-gram; Jelinek-Mercer interpolation [Jelinek & Mercer 1980] is
    the SQL-replayable stand-in for its smoothing — Kneser-Ney's
    continuation-count discounting is intentionally NOT approximated,
    a documented fidelity bound, not a stub).

    One tokenize pass over the reference corpus → four mergeable count
    tables: (w1,w2,w3) trigram counts, (w1,w2) bigram-context counts,
    (w2,w3) bigram counts, (w) unigram counts (+ the 1-row total/vocab
    frame). All counts are exact LONGs and form merge monoids (the
    q397 maintenance story applies verbatim). At 100 TB the tables are
    model-sized (KenLM-class, GBs): joins stay key-partitioned hash
    joins; broadcast them only when they fit.
    """
    toks = ref.select(tokens(text_col).alias("t")).filter(F.size("t") >= 3)
    tri = (
        toks.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - 3),
                    lambda i: F.struct(
                        F.element_at("t", i + 1).alias("w1"),
                        F.element_at("t", i + 2).alias("w2"),
                        F.element_at("t", i + 3).alias("w3"),
                    ),
                )
            ).alias("g")
        )
        .select("g.w1", "g.w2", "g.w3")
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c_tri"))
    )
    big = tri.groupBy(
        F.col("w2").alias("w1"), F.col("w3").alias("w2")
    ).agg(F.sum("c_tri").cast("long").alias("c_big"))
    ctx2 = tri.groupBy("w1", "w2").agg(
        F.sum("c_tri").cast("long").alias("c_ctx2")
    )
    # unigrams over FULL token stream (incl. docs' first two tokens) so
    # the unigram floor sees every word the scorer can meet
    uni = (
        ref.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_uni"))
    )
    tot = uni.agg(
        F.sum("c_uni").cast("long").alias("t_uni"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    return tri, ctx2, big, uni.crossJoin(F.broadcast(tot))


def trigram_lm_score(
    docs: DataFrame,
    tri: DataFrame,
    ctx2: DataFrame,
    big: DataFrame,
    uni: DataFrame,
    lambdas: tuple[float, float, float] = (0.5, 0.3, 0.2),
    k: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document average negative log probability under the
    Jelinek-Mercer interpolated trigram model:
    p(w3|w1,w2) = λ3·c(w1w2w3)/c(w1w2) + λ2·c(w2w3)/c(w2·) +
    λ1·(c(w3)+k)/(T+kV) — the higher-order orders back off gracefully
    to the add-k unigram floor, so unseen histories never zero out.
    Lower score = more reference-like (the CCNet gate reading).

    Plan: explode document trigrams map-side, then three LEFT
    equi-joins against the model tables (+ the 1-row totals
    broadcast); one doc-keyed decimal aggregate. ln at 9dp (libm
    rule), per-doc sums on DECIMAL, final 6dp. Docs with < 3 tokens
    are excluded (no trigrams, no evidence — the q379 convention).

    Output: (id, n_trigrams, avg_neg_logp 6dp).
    """
    l3, l2, l1 = (float(x) for x in lambdas)
    if abs(l3 + l2 + l1 - 1.0) > 1e-9 or min(l3, l2, l1) <= 0:
        raise ValueError("lambdas must be positive and sum to 1")
    if k <= 0:
        raise ValueError("k must be positive")

    toks = docs.select(
        F.col(id_col).alias("_id"), tokens(text_col).alias("t")
    ).filter(F.size("t") >= 3)
    grams = toks.select(
        "_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - 3),
                lambda i: F.struct(
                    F.element_at("t", i + 1).alias("w1"),
                    F.element_at("t", i + 2).alias("w2"),
                    F.element_at("t", i + 3).alias("w3"),
                ),
            )
        ).alias("g"),
    ).select("_id", "g.w1", "g.w2", "g.w3")
    # the bigram context total c(w2*) is ctx2 keyed on (w2, w3-history):
    # c(w2 *) as a CONTEXT means sum over following words = the unigram
    # count of w2 over positions that HAVE a successor; use the bigram
    # table's own context sums for an exactly-consistent denominator
    ctx1 = big.groupBy(F.col("w1").alias("_cw")).agg(
        F.sum("c_big").cast("long").alias("c_ctx1")
    )
    joined = (
        grams.join(F.broadcast(tri), ["w1", "w2", "w3"], "left")
        .join(F.broadcast(ctx2), ["w1", "w2"], "left")
        .join(
            F.broadcast(
                big.select(
                    F.col("w1").alias("w2"),
                    F.col("w2").alias("w3"),
                    "c_big",
                )
            ),
            ["w2", "w3"],
            "left",
        )
        .join(
            F.broadcast(ctx1.select(F.col("_cw").alias("w2"), "c_ctx1")),
            ["w2"],
            "left",
        )
        .join(F.broadcast(uni.select(F.col("w").alias("w3"), "c_uni", "t_uni", "v")), ["w3"], "left")
    )
    p3 = F.coalesce(
        F.col("c_tri").cast("double") / F.col("c_ctx2"), F.lit(0.0)
    )
    p2 = F.coalesce(
        F.col("c_big").cast("double") / F.col("c_ctx1"), F.lit(0.0)
    )
    # t_uni/v ride the uni join; a w3 absent from the reference has
    # NULL c_uni but the totals must still apply — re-broadcast totals
    tots = uni.select("t_uni", "v").limit(1)
    joined = joined.drop("t_uni", "v").crossJoin(F.broadcast(tots))
    p1 = (F.coalesce(F.col("c_uni"), F.lit(0)).cast("double") + F.lit(k)) / (
        F.col("t_uni").cast("double") + F.lit(k) * F.col("v").cast("double")
    )
    neg_logp = F.round(
        -F.log(F.lit(l3) * p3 + F.lit(l2) * p2 + F.lit(l1) * p1), 9
    )
    return (
        joined.select("_id", neg_logp.alias("_nl"))
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.round(
                F.sum(F.col("_nl").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("avg_neg_logp"),
        )
        .select(
            F.col("_id").alias(id_col), "n_trigrams", "avg_neg_logp"
        )
    )


def good_turing_mass(
    docs: DataFrame,
    text_col: str = "text",
    max_r: int = 5,
) -> DataFrame:
    """Good-Turing frequency mass audit (Good 1953; the Turing estimate
    per Gale & Sampson 1995 §2 — the smoothing-free core, not the SGT
    log-linear fit): from corpus token counts, the count-of-counts
    table N_r and the Turing adjusted count r* = (r+1)·N_{r+1}/N_r for
    small r, plus the headline number every corpus report needs — the
    UNSEEN PROBABILITY MASS p_0 = N_1/N, i.e. how much of the next
    sample will be word types this corpus has never seen. A corpus
    whose p_0 is still high is nowhere near vocabulary saturation;
    scaling data beats scaling epochs (the q381 planner's empirical
    premise).

    Plans: one token-count aggregate (the corpus-sized step, map-side
    combined), one count-of-counts aggregate over the vocab-sized
    frame, then a (max_r+1)-row literal grid LEFT-joined against it —
    metadata-sized. Determinism: all counts exact LONGs; each emitted
    ratio is ONE IEEE division of integer operands, 6dp out.

    Output, one row per r in 0..max_r:
    (r, n_types, mass_frac, r_star) where for r >= 1 ``n_types`` = N_r,
    ``mass_frac`` = r·N_r/N (observed mass at count r) and ``r_star`` =
    (r+1)·N_{r+1}/N_r (NULL when N_r = 0); the r = 0 row carries
    ``n_types`` NULL (unseen types are uncountable by construction) and
    ``mass_frac`` = p_0 = N_1/N.
    """
    if max_r < 1:
        raise ValueError(f"max_r must be >= 1, got {max_r}")

    tok = docs.select(
        F.explode(tokens(text_col)).alias("_t")
    )
    counts = tok.groupBy("_t").agg(F.count(F.lit(1)).alias("c"))
    coc = counts.groupBy("c").agg(F.count(F.lit(1)).alias("nr"))
    tot = counts.agg(
        F.sum("c").cast("long").alias("n_tokens"),
    )
    grid = (
        docs.sparkSession.range(0, max_r + 2)
        .select(F.col("id").alias("r"))
        .join(F.broadcast(coc), F.col("r") == F.col("c"), "left")
        .select("r", F.coalesce(F.col("nr"), F.lit(0)).alias("nr"))
    )
    nxt = grid.select(
        (F.col("r") - F.lit(1)).alias("r"), F.col("nr").alias("nr_next")
    )
    rows = (
        grid.join(nxt, "r")
        .filter(F.col("r") <= max_r)
        .crossJoin(F.broadcast(tot))
    )
    n = F.col("n_tokens").cast("double")
    r = F.col("r").cast("double")
    mass = F.when(
        F.col("r") == 0,
        F.try_divide(F.col("nr_next").cast("double"), n),
    ).otherwise(F.try_divide(r * F.col("nr").cast("double"), n))
    r_star = F.when(
        (F.col("r") >= 1) & (F.col("nr") > 0),
        (r + F.lit(1.0))
        * F.col("nr_next").cast("double")
        / F.col("nr").cast("double"),
    )
    return rows.select(
        F.col("r").cast("long").alias("r"),
        F.when(F.col("r") >= 1, F.col("nr")).cast("long").alias("n_types"),
        F.round(mass, 6).alias("mass_frac"),
        F.round(r_star, 6).alias("r_star"),
    ).orderBy("r")


def min_k_membership(
    candidates: DataFrame,
    bigrams: DataFrame,
    contexts: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.5,
    k_pct: float = 0.2,
) -> DataFrame:
    """Min-K% prob membership score (Shi, Ajith, Xia, Huang, Liu,
    Blevins, Chen & Zettlemoyer, ICLR 2024 "Detecting Pretraining Data
    from Large Language Models") — the reference-free membership /
    contamination probe: a text the model has SEEN contains few
    low-probability outlier tokens, so the mean log-prob of its k%
    LEAST-probable tokens is high; an unseen text of the same average
    perplexity still carries surprise spikes. The paper reads token
    probs off the LLM under test; this engine form reads them off the
    trained n-gram reference LM (the q379 model tables), giving the
    same bottom-tail statistic for corpus-vs-corpus contamination
    screening next to the 13-gram ``decontaminate`` overlap (which
    needs EXACT matches; Min-K%% catches paraphrased leakage the
    n-gram matcher misses).

    Selection exactness: per doc, the m = max(1, ceil(k_pct·n))
    HIGHEST −ln P terms are selected by a doc-keyed rank window;
    ties at the cut are arbitrary BUT value-identical (top-m of a
    multiset is a unique multiset), so the decimal-summed mean is
    deterministic cross-engine without a tiebreaker.

    Plan: the shared term-score step (map-side explode + vocab-sized
    broadcast LEFT joins), ONE doc-keyed rank window, one doc reduce.
    Output per doc: (id, n_bigrams, m_lowest, min_k_avg_logprob 6dp)
    — avg LOG-PROB of the selected tail (negative; higher = more
    member-like), docs with < 2 tokens excluded.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    if not 0.0 < k_pct <= 1.0:
        raise ValueError("k_pct must be in (0, 1]")
    from pyspark.sql import Window

    scored = _bigram_term_scores(
        candidates, bigrams, contexts, vocab, text_col, id_col, k
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_nlp").desc())
    ranked = scored.select(
        id_col,
        "_nlp",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy(id_col)).alias("_n"),
    )
    m = F.greatest(F.ceil(F.col("_n") * F.lit(float(k_pct))), F.lit(1))
    return (
        ranked.withColumn("_m", m)
        .filter(F.col("_rn") <= F.col("_m"))
        .groupBy(id_col)
        .agg(
            F.max("_n").cast("long").alias("n_bigrams"),
            F.count(F.lit(1)).cast("long").alias("m_lowest"),
            F.round(
                -(
                    F.sum(F.col("_nlp").cast("decimal(38,12)")).cast("double")
                    / F.count(F.lit(1))
                ),
                6,
            ).alias("min_k_avg_logprob"),
        )
    )
