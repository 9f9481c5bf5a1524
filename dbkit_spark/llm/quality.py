"""Intra-document repetition scoring — the quality-filter family used by
published pre-training pipelines (duplicate-n-gram and top-token-share
rules à la C4/Gopher): heavily repetitive documents are low-quality and
get filtered before training.

Scale shape: the duplicate-token and duplicate-n-gram fractions are
**map-only** (array ops inside whole-stage codegen — no shuffle, no
Python). Only the top-token share needs an aggregation (mode of the
token multiset), done as (doc, token) count → per-doc max — two
doc-keyed shuffles of count rows, then an AQE-broadcast join back onto
the map-only metrics. Nothing touches the driver.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import shingles_from_tokens, token_hash24, tokens


def repetition_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
) -> DataFrame:
    """(doc_id, n_tokens, dup_token_frac, dup_ngram_frac,
    top_token_share) per document with >= ``ngram`` tokens.

    - dup_token_frac: 1 - distinct/total tokens (word-level repetition)
    - dup_ngram_frac: 1 - distinct/total word n-grams (phrase repetition)
    - top_token_share: occurrences of the most frequent token / total
    """
    # explode(array(...)) Generate barrier: tokenize once per row even
    # though __t is referenced by several downstream expressions
    # (CollapseProject folds plain projections, not Generates)
    toked = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array(tokens(text_col))).alias("__t"),
    ).filter(F.size("__t") >= ngram)

    grams = shingles_from_tokens("__t", ngram)
    per_row = toked.select(
        "doc_id",
        F.size("__t").cast("long").alias("n_tokens"),
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct("__t")).cast("double") / F.size("__t"),
            6,
        ).alias("dup_token_frac"),
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(grams)).cast("double") / F.size(grams),
            6,
        ).alias("dup_ngram_frac"),
    )

    tok_counts = (
        toked.select("doc_id", F.explode("__t").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    top = tok_counts.groupBy("doc_id").agg(
        F.round(F.max("c").cast("double") / F.sum("c"), 6).alias(
            "top_token_share"
        )
    )
    return per_row.join(top, "doc_id")


def compression_quality(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    low: float = 0.35,
    high: float = 1.05,
) -> DataFrame:
    """zlib compression-ratio quality signal — the cheap catch-all the
    n-gram repetition scores above miss: boilerplate, template spam,
    and character-level junk all compress far below natural prose
    (ratio = deflate_len / utf8_len; Gopher-style corpus rules flag
    both tails — too compressible = repetitive, incompressible =
    already-compressed binary/base64 noise).

    Arrow-batched mapInPandas (stdlib zlib, level 6 pinned for
    determinism), map-only, shuffle-free; partition parallelism is the
    scale lever. No SQL engine exposes deflate, so catalog use is
    rows-only; the monotone laws are pytest-pinned. Output:
    (id, text_len, compressed_len, ratio, flag) with flag in
    {'repetitive', 'ok', 'incompressible'} ('empty' for zero-length).
    """
    import zlib
    from typing import Iterator

    import pandas as pd

    out_schema = (
        f"{id_col} {dict(df.dtypes)[id_col]}, text_len long, "
        "compressed_len long, ratio double, flag string"
    )
    lo, hi = float(low), float(high)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            tl, cl, ratio, flag = [], [], [], []
            for t in pdf[text_col]:
                raw = (t or "").encode("utf-8")
                n = len(raw)
                c = len(zlib.compress(raw, 6)) if n else 0
                tl.append(n)
                cl.append(c)
                if n == 0:
                    ratio.append(None)
                    flag.append("empty")
                    continue
                r = c / n
                ratio.append(round(r, 6))
                flag.append(
                    "repetitive" if r < lo
                    else ("incompressible" if r > hi else "ok")
                )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "text_len": tl,
                    "compressed_len": cl,
                    "ratio": ratio,
                    "flag": flag,
                }
            )

    return df.select(id_col, text_col).mapInPandas(run, out_schema)


# Gopher's "stop words" rule list (Rae et al. 2021, Appendix A1.1):
# a document must contain at least 2 of these 8 to pass.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_filters(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """The DOCUMENT-LEVEL Gopher quality rules (Rae et al. 2021,
    "Scaling Language Models: ... Gopher", Appendix A1.1 — the rule set
    MassiveText filtered with, reused by most open pipelines since):
    word-count bounds, mean-word-length bounds, symbol-to-word ratio
    (# and ellipsis), alphabetic-word fraction, and the >=2-of-8
    stop-word presence rule. Per the paper, the symbol rule is checked
    PER SYMBOL — the hash ratio and the ellipsis ratio must each stay
    <= ``max_symbol_ratio`` (a doc at 0.06 hash + 0.06 ellipsis
    passes); ellipses count both ASCII ``...`` and Unicode U+2026. The
    reported ``symbol_ratio`` is the binding one (the max of the two),
    so ``symbol_ratio <= max_symbol_ratio`` iff the rule passes. The
    paper's LINE-level rules (bullet-start / ellipsis-end line ratios)
    need line-preserving text and are intentionally NOT approximated
    here — run them upstream where newlines still exist.

    Map-only: every stat is array/regex math inside whole-stage codegen
    over one pass of the text — no shuffle, no UDF, embarrassingly
    parallel at any corpus size. Ratios are single IEEE divisions of
    exact integer counts (engine-portable); zero-word documents fail
    the word-count rule and report NULL ratios (try_divide).

    Output per doc: the five stats, one boolean per rule, and
    ``passes`` (AND of all rules).
    """
    t = F.col(text_col)
    toks = tokens(text_col)
    n_words = F.size(toks)
    total_len = F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x))
    mean_wlen = F.try_divide(total_len.cast("double"), n_words)
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / F.lit(3) + (
        F.length(t) - F.length(F.replace(t, F.lit("…"), F.lit("")))
    )
    hash_ratio = F.try_divide(n_hash.cast("double"), n_words)
    ellipsis_ratio = F.try_divide(n_ellipsis.cast("double"), n_words)
    symbol_ratio = F.greatest(hash_ratio, ellipsis_ratio)
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-z]")))
    alpha_frac = F.try_divide(n_alpha.cast("double"), n_words)
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    )
    r_wc = n_words.between(min_words, max_words)
    r_mwl = F.coalesce(
        mean_wlen.between(min_mean_word_len, max_mean_word_len), F.lit(False)
    )
    r_sym = F.coalesce(symbol_ratio <= max_symbol_ratio, F.lit(False))
    r_alpha = F.coalesce(alpha_frac >= min_alpha_word_frac, F.lit(False))
    r_stop = stop_hits >= min_stop_hits
    return docs.select(
        id_col,
        n_words.cast("long").alias("n_words"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        stop_hits.cast("long").alias("stop_hits"),
        r_wc.alias("rule_word_count"),
        r_mwl.alias("rule_mean_word_len"),
        r_sym.alias("rule_symbol_ratio"),
        r_alpha.alias("rule_alpha_words"),
        r_stop.alias("rule_stopwords"),
        (r_wc & r_mwl & r_sym & r_alpha & r_stop).alias("passes"),
    )


def zipf_fit(
    docs: DataFrame,
    group_col: str,
    text_col: str = "text",
    top_r: int = 1000,
) -> DataFrame:
    """Zipf-law fit per group — the corpus-health diagnostic (a healthy
    natural-language corpus has ln(freq) ~ intercept - s·ln(rank) with
    s ≈ 1; template/boilerplate-heavy or synthetic corpora bend the
    curve): OLS of ln(freq) on ln(rank) over the top ``top_r`` vocab
    terms of each group.

    Scale shape: the ONLY window runs over the vocab-sized frequency
    table partitioned by group (never the corpus); the fit is a
    closed-form five-sum aggregate. ``top_r`` caps the fitted head
    deterministically (rank ties broken by token ASC) — the standard
    practice, since the hapax tail is censored and bends any fit.

    Cross-engine determinism: counts exact LONGs; ln(rank)/ln(freq)
    round at 9dp (libm rule); their products re-round at 9dp before
    the DECIMAL fold; the final slope/intercept arithmetic is a fixed
    IEEE expression of the folded sums. Groups with < 2 distinct terms
    report NULL slope (fit undefined).

    Output per group: (group, n_terms, zipf_slope 6dp, intercept 6dp).
    """
    from pyspark.sql import Window

    if top_r < 2:
        raise ValueError("top_r must be >= 2")
    freq = (
        docs.select(F.col(group_col).alias("grp"), F.explode(tokens(text_col)).alias("tok"))
        .groupBy("grp", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("grp").orderBy(F.col("c").desc(), F.col("tok").asc())
    ranked = (
        freq.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_r)
        .select(
            "grp",
            F.round(F.log(F.col("rk").cast("double")), 9).alias("x"),
            F.round(F.log(F.col("c").cast("double")), 9).alias("y"),
        )
    )
    dec = lambda c: F.sum(F.round(c, 9).cast("decimal(38,12)")).cast("double")  # noqa: E731
    sums = ranked.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_terms"),
        dec(F.col("x")).alias("_sx"),
        dec(F.col("y")).alias("_sy"),
        dec(F.col("x") * F.col("y")).alias("_sxy"),
        dec(F.col("x") * F.col("x")).alias("_sxx"),
    )
    n = F.col("n_terms").cast("double")
    slope = F.try_divide(
        n * F.col("_sxy") - F.col("_sx") * F.col("_sy"),
        n * F.col("_sxx") - F.col("_sx") * F.col("_sx"),
    )
    return sums.select(
        F.col("grp").alias(group_col),
        "n_terms",
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("_sy") - slope * F.col("_sx")) / n, 6).alias(
            "intercept"
        ),
    )


def unigram_js_divergence(
    docs: DataFrame,
    group_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Jensen-Shannon divergence of each group's unigram distribution
    from the WHOLE corpus's — the domain-drift score a mixture pipeline
    watches (a domain whose token distribution diverges is mis-tagged,
    contaminated, or genuinely novel; JS is symmetric and bounded by
    ln 2, unlike KL).

    The trick that keeps this domain-vocab sized (never |domains| ×
    |vocab|): every out-of-domain term of KL(P_corpus ‖ M) collapses to
    ln 2 · P_out, because there M = P/2 exactly; P_out = 1 − Σ_in P is
    computed from EXACT integer sums, so no corpus-vocab scan per group
    is ever needed. The remaining sums run over (group, token) pairs
    PRESENT in the group.

    Plan: two count aggregates (corpus vocab + per-group vocab), one
    broadcast-friendly equi-join on the token key, one group-keyed
    decimal fold. ln terms 9dp (libm rule), products re-rounded 9dp
    before the fold. Output: (group, n_tokens, n_terms, js 6dp).
    """
    import math

    tok = docs.select(
        F.col(group_col).alias("grp"), F.explode(tokens(text_col)).alias("tok")
    )
    cw = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c_all"))
    tot = cw.agg(F.sum("c_all").alias("t_all"))
    cg = tok.groupBy("grp", "tok").agg(F.count(F.lit(1)).alias("c_g"))
    tg = cg.groupBy("grp").agg(F.sum("c_g").alias("t_g"))
    joined = (
        cg.join(cw, "tok")
        .join(F.broadcast(tg), "grp")
        .crossJoin(F.broadcast(tot))
    )
    pd_ = F.col("c_g") / F.col("t_g")
    p = F.col("c_all") / F.col("t_all")
    m = (pd_ + p) / F.lit(2.0)
    terms = joined.select(
        "grp",
        "c_all",
        F.round(pd_ * F.log(pd_ / m), 9).alias("_kd"),
        F.round(p * F.log(p / m), 9).alias("_kp"),
    )
    dec = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")  # noqa: E731
    agg = (
        terms.groupBy("grp")
        .agg(
            dec(F.col("_kd")).alias("_skd"),
            dec(F.col("_kp")).alias("_skp"),
            F.sum("c_all").alias("_cin"),
            F.count(F.lit(1)).alias("n_terms"),
        )
        .join(F.broadcast(tg), "grp")
        .crossJoin(F.broadcast(tot))
    )
    p_out = F.lit(1.0) - F.col("_cin") / F.col("t_all")
    js = F.lit(0.5) * F.col("_skd") + F.lit(0.5) * (
        F.col("_skp") + F.lit(math.log(2.0)) * p_out
    )
    return agg.select(
        F.col("grp").alias(group_col),
        F.col("t_g").cast("long").alias("n_tokens"),
        "n_terms",
        F.round(js, 6).alias("js"),
    )


def hashed_nb_train(
    docs: DataFrame,
    label_col: str,
    text_col: str = "text",
    m: int = 256,
    k: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """Train the closed-form half of a fastText-style quality
    classifier (Joulin et al. 2017 architecture: hashed word uni+bigram
    features into m buckets + a linear layer; Wang & Manning 2012
    supply the training rule — Naive-Bayes log-count-ratio weights are
    the closed-form linear classifier those features admit without SGD):
    per bucket, weight = ln of the add-k-smoothed positive/negative
    count ratio; the prior bias = ln of the smoothed class-count ratio.

    Features are the engine-portable 24-bit-md5 buckets mod m (the
    q380 DSIR rule) over word unigrams AND bigrams — the bigrams are
    what let a linear model see negations and collocations (fastText's
    own ablation). The weight table enumerates ALL m buckets (left join
    against ``spark.range(m)``), so scoring joins are lossless even for
    buckets one class never produced.

    Scale: counts are two map-combined aggregates; both outputs are
    m-sized / 1-row — broadcast artifacts, persist them per model
    snapshot like the q379 LM tables. Exact LONG counts; ln at 9dp.

    Returns ``(weights, prior)``: weights (bucket, weight) m rows;
    prior 1 row (n_pos, n_neg, bias).
    """
    if m < 2:
        raise ValueError("m must be >= 2")
    if k <= 0:
        raise ValueError("k must be positive")
    feats = _hashed_features(docs, [label_col], text_col, m)
    counts = feats.groupBy("bucket").agg(
        F.sum(F.when(F.col(label_col), 1).otherwise(0))
        .cast("long")
        .alias("_cp"),
        F.sum(F.when(~F.col(label_col), 1).otherwise(0))
        .cast("long")
        .alias("_cn"),
    )
    tots = counts.agg(
        F.sum("_cp").alias("_tp"), F.sum("_cn").alias("_tn")
    )
    spark = docs.sparkSession
    km = float(k) * m
    weights = (
        spark.range(m)
        .select(F.col("id").alias("bucket"))
        .join(counts, "bucket", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "bucket",
            F.round(
                F.log(
                    (
                        (F.coalesce("_cp", F.lit(0)) + F.lit(k))
                        / (F.coalesce("_tp", F.lit(0)) + F.lit(km))
                    )
                    / (
                        (F.coalesce("_cn", F.lit(0)) + F.lit(k))
                        / (F.coalesce("_tn", F.lit(0)) + F.lit(km))
                    )
                ),
                9,
            ).alias("weight"),
        )
    )
    prior = docs.agg(
        F.sum(F.when(F.col(label_col), 1).otherwise(0))
        .cast("long")
        .alias("n_pos"),
        F.sum(F.when(~F.col(label_col), 1).otherwise(0))
        .cast("long")
        .alias("n_neg"),
    ).select(
        "n_pos",
        "n_neg",
        F.round(
            F.log(
                (F.col("n_pos") + F.lit(k)) / (F.col("n_neg") + F.lit(k))
            ),
            9,
        ).alias("bias"),
    )
    return weights, prior


def hashed_nb_score(
    docs: DataFrame,
    weights: DataFrame,
    prior: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m: int = 256,
) -> DataFrame:
    """Score documents with a trained hashed-linear model
    (``hashed_nb_train``): logit = bias + Σ weight[bucket(feature)],
    p = sigmoid(logit) — a pure MAP-SIDE pass at any corpus size (one
    explode + one broadcast equi-join on the m-sized weight table + one
    doc-keyed agg; the model ships as a broadcast, the corpus streams).

    Per-doc weight sums ride DECIMAL (order-free). The logit — bias +
    Σw, both 9dp decimals — is itself an EXACT 9dp decimal, so it is
    computed entirely in decimal and emitted UNROUNDED: rounding it at
    6dp can land exactly on the grid (a true decimal tie, unlike
    transcendental outputs) and split on engine rounding modes — the
    q401 sf0.1 pre-verification caught exactly that. The sigmoid is
    one IEEE expression rounded at 6dp (the generic libm rule). Docs
    with zero features (no tokens) are excluded — no features, no
    evidence (the q380 rule).

    Output: (id, n_features, logit exact, p 6dp, predicted).
    """
    feats = _hashed_features(docs, [id_col], text_col, m)
    scored = (
        feats.join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            F.sum(F.col("weight").cast("decimal(38,12)")).alias("_swd"),
        )
        .crossJoin(F.broadcast(prior.select("bias")))
    )
    logit_dec = F.col("bias").cast("decimal(38,12)") + F.col("_swd")
    logit = logit_dec.cast("double")
    return scored.select(
        id_col,
        "n_features",
        logit.alias("logit"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6).alias("p"),
        (logit > 0).alias("predicted"),
    )


def _hashed_features(
    docs: DataFrame, keep_cols: list, text_col: str, m: int
) -> DataFrame:
    """(keep_cols..., bucket) — one exploded row per word unigram AND
    bigram, bucketed by the portable 24-bit md5 rule mod m. Bigrams
    join their tokens with '_' BEFORE hashing (a separator distinct
    from the tokenizer's output alphabet, so 'a_b' the bigram can never
    collide with a literal token by construction of [a-z0-9] tokens)."""
    toks = tokens(text_col)
    grams = F.concat(
        toks,
        F.when(F.size(toks) < 2, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - 2),
                lambda i: F.array_join(F.slice(toks, i + 1, 2), "_"),
            )
        ),
    )
    return docs.select(*keep_cols, F.explode(grams).alias("_f")).select(
        *keep_cols,
        (token_hash24(F.col("_f")) % m).alias("bucket"),
    )


def gopher_repetition_filters(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_top2_char_frac: float = 0.20,
    max_top3_char_frac: float = 0.18,
    max_dup5_char_frac: float = 0.15,
) -> DataFrame:
    """The CHARACTER-WEIGHTED Gopher repetition rules (Rae et al. 2021
    Appendix A1.1 — the companion battery to ``gopher_quality_filters``'
    document-level rules): fraction of characters contained in the most
    frequent word 2-gram (> 0.20 rejects) and 3-gram (> 0.18), and
    fraction of characters contained in DUPLICATED word 5-grams
    (> 0.15). These catch looping generators and boilerplate mosaics
    that per-token stats (``repetition_scores``, which reports COUNT
    fractions, not char fractions) under-weight when the repeated units
    are long.

    Accounting (documented deviations, both conservative and
    SQL-replayable): character mass of an n-gram occurrence counts its
    tokens' characters only (no separators — token-space chars, the
    denominator is the doc's summed token length); the dup-5-gram
    numerator sums cnt·chars over every duplicated gram without
    interval-union de-overlap (the paper unions character intervals;
    overlap can push the raw ratio past 1, so it is clamped at 1).

    Plan: grams are map-side array ops; ONE (doc, n, gram) count
    aggregate; the top gram per (doc, n) is a row_number window on the
    SAME key (deterministic tie: count DESC, gram ASC); one doc-keyed
    reduce + one broadcast-back join onto per-doc char totals. All
    exchanges are doc-keyed — nothing corpus-global.

    Docs with fewer than n tokens have no n-grams: their fraction is
    0.0 (no repetition evidence) and the rule passes — the word-count
    rule in ``gopher_quality_filters`` is the one that rejects
    too-short docs.

    Output per doc: (id, n_tokens, top2_char_frac, top3_char_frac,
    dup5_char_frac, rule_top2, rule_top3, rule_dup5, passes).
    """
    from pyspark.sql import Window

    toks = tokens(text_col)
    base = docs.select(
        F.col(id_col).alias("_id"),
        toks.alias("_t"),
    ).select(
        "_id",
        F.size("_t").alias("n_tokens"),
        F.aggregate(
            "_t", F.lit(0), lambda a, x: a + F.length(x)
        ).alias("_chars"),
        "_t",
    )
    gram_rows = None
    for n in (2, 3, 5):
        g = base.select(
            "_id",
            F.lit(n).alias("_n"),
            F.explode(shingles_from_tokens(F.col("_t"), n)).alias("_g"),
        )
        gram_rows = g if gram_rows is None else gram_rows.unionAll(g)
    counts = gram_rows.groupBy("_id", "_n", "_g").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    w = Window.partitionBy("_id", "_n").orderBy(
        F.col("_cnt").desc(), F.col("_g").asc()
    )
    ranked = counts.withColumn("_rn", F.row_number().over(w))
    # token-space char mass of one occurrence: length minus the n-1
    # single-space joins shingles_from_tokens inserts
    occ_chars = (F.length("_g") - (F.col("_n") - 1)).cast("long")
    per_doc = ranked.groupBy("_id").agg(
        F.max(
            F.when(
                (F.col("_n") == 2) & (F.col("_rn") == 1),
                F.col("_cnt") * occ_chars,
            )
        ).alias("_top2"),
        F.max(
            F.when(
                (F.col("_n") == 3) & (F.col("_rn") == 1),
                F.col("_cnt") * occ_chars,
            )
        ).alias("_top3"),
        F.sum(
            F.when(
                (F.col("_n") == 5) & (F.col("_cnt") >= 2),
                F.col("_cnt") * occ_chars,
            ).otherwise(F.lit(0))
        ).alias("_dup5"),
    )
    joined = base.select("_id", "n_tokens", "_chars").join(
        per_doc, "_id", "left"
    )

    def frac(col: str) -> Column:
        return F.least(
            F.coalesce(
                F.try_divide(
                    F.col(col).cast("double"), F.col("_chars").cast("double")
                ),
                F.lit(0.0),
            ),
            F.lit(1.0),
        )

    t2, t3, d5 = frac("_top2"), frac("_top3"), frac("_dup5")
    r2 = t2 <= max_top2_char_frac
    r3 = t3 <= max_top3_char_frac
    r5 = d5 <= max_dup5_char_frac
    return joined.select(
        F.col("_id").alias(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(t2, 6).alias("top2_char_frac"),
        F.round(t3, 6).alias("top3_char_frac"),
        F.round(d5, 6).alias("dup5_char_frac"),
        r2.alias("rule_top2"),
        r3.alias("rule_top3"),
        r5.alias("rule_dup5"),
        (r2 & r3 & r5).alias("passes"),
    )


def char_class_mix(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_latin_frac: float = 0.5,
) -> DataFrame:
    """Character-class composition per document — the script-mix QC
    next to the token-level lang-ID signal (q47): fraction of
    characters that are Latin letters, digits, whitespace, ASCII
    punctuation/symbols, and OTHER (everything else — non-Latin
    scripts, control chars, emoji). A document whose 'other' mass is
    high while its lang tag says 'en' is mis-tagged or mixed-script
    (the CJK-inside-English and mojibake failure modes lang-ID n-grams
    miss because they only see [a-z0-9] tokens).

    Counting is length-difference arithmetic over regexp_replace with
    character classes written in the Java-regex/RE2 common subset (the
    q406 PII convention) — pure MAP-ONLY codegen, no shuffle, no UDF,
    and the oracle replays it with the 'g' flag digit-for-digit.
    Empty documents report NULL fractions and fail the flag.

    Output: (id, n_chars, latin_frac, digit_frac, space_frac,
    punct_frac, other_frac, latin_dominant).
    """
    t = F.col(text_col)
    n = F.length(t)

    def cnt(pattern: str) -> Column:
        return n - F.length(F.regexp_replace(t, pattern, ""))

    latin = cnt("[A-Za-z]")
    digit = cnt("[0-9]")
    space = cnt("[ \\t\\n\\r]")
    punct = cnt("[!-/:-@\\[-`{-~]")
    other = n - latin - digit - space - punct

    def frac(c: Column) -> Column:
        return F.round(F.try_divide(c.cast("double"), n), 6)

    latin_f = F.try_divide(latin.cast("double"), n)
    return docs.select(
        id_col,
        n.cast("long").alias("n_chars"),
        frac(latin).alias("latin_frac"),
        frac(digit).alias("digit_frac"),
        frac(space).alias("space_frac"),
        frac(punct).alias("punct_frac"),
        frac(other).alias("other_frac"),
        F.coalesce(latin_f >= min_latin_frac, F.lit(False)).alias(
            "latin_dominant"
        ),
    )


def code_quality_filters(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_line_len: int = 1000,
    max_avg_line_len: int = 100,
    min_alnum_frac: float = 0.25,
    max_data_mass: float = 0.5,
) -> DataFrame:
    """Code-corpus quality gate (the BigCode/StarCoder preprocessing
    rules — Allal et al. 2023 SantaCoder app. A, Li et al. 2023
    StarCoder §3: reject files with any line over ~1000 chars, average
    line length over ~100, alphanumeric fraction under 0.25, or a
    large mass of hex/base64 "data" tokens — the minified-JS /
    embedded-blob / autogenerated-dump failure modes that survive
    prose-oriented Gopher rules because they are not REPETITIVE, just
    not code a model should learn from).

    Per document, map-only (whole-stage codegen, lifts to readStream
    unchanged — the q398/q414 rule):

    - ``n_lines``, ``max_line_len``: split on newline; total line chars
      = length(text) - (n_lines - 1) exactly, so ``avg_line_len`` is
      one integer division — no per-line aggregation.
    - ``alnum_frac``: length-difference arithmetic (char_class_mix
      convention), [A-Za-z0-9] mass over total chars.
    - ``data_mass``: characters inside whitespace-delimited tokens that
      are pure hex runs (>= 16 chars) or base64-ish runs (>= 40 chars of
      [A-Za-z0-9+/=]), over total chars. Patterns stay in the
      Java-regex/RE2 common subset (q406 rule).

    ``passes`` evaluates the thresholds on the UNROUNDED in-engine
    values (single IEEE divisions — deterministic cross-engine; rounded
    copies are emitted for display only, §5.3 rule 4).

    Output: (id, n_lines, max_line_len, avg_line_len, alnum_frac,
    data_mass, passes). Empty documents report NULL fractions and fail.
    """
    t = F.col(text_col)
    n = F.length(t)
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    max_ll = F.array_max(F.transform(lines, lambda s: F.length(s)))
    total_line_chars = n - (n_lines - F.lit(1))
    avg_ll = F.try_divide(
        total_line_chars.cast("double"), n_lines.cast("double")
    )
    alnum = n - F.length(F.regexp_replace(t, "[A-Za-z0-9]", ""))
    alnum_f = F.try_divide(alnum.cast("double"), n)
    ws_tokens = F.filter(F.split(t, "[ \\t\\n\\r]+"), lambda s: s != "")
    data_chars = F.aggregate(
        F.transform(
            F.filter(
                ws_tokens,
                lambda s: s.rlike("^[0-9a-fA-F]{16,}$")
                | s.rlike("^[A-Za-z0-9+/=]{40,}$"),
            ),
            lambda s: F.length(s).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    data_f = F.try_divide(data_chars.cast("double"), n)
    passes = (
        (max_ll <= F.lit(max_line_len))
        & (avg_ll <= F.lit(float(max_avg_line_len)))
        & (alnum_f >= F.lit(min_alnum_frac))
        & (data_f <= F.lit(max_data_mass))
    )
    return docs.select(
        id_col,
        n_lines.cast("long").alias("n_lines"),
        max_ll.cast("long").alias("max_line_len"),
        F.round(avg_ll, 6).alias("avg_line_len"),
        F.round(alnum_f, 6).alias("alnum_frac"),
        F.round(data_f, 6).alias("data_mass"),
        F.coalesce(passes, F.lit(False)).alias("passes"),
    )


def c4_line_filters(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
    min_line_words: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """The C4 line-level cleaning battery (Raffel et al., JMLR 2020
    §2.2 — the rules that turned Common Crawl into C4, the most-reused
    public pre-training corpus): a LINE survives iff it ends in a
    terminal punctuation mark (. ! ? or closing quote), has >=
    ``min_line_words`` words, and does not contain the word
    "javascript" (case-insensitive); the PAGE survives iff it keeps >=
    ``min_kept_lines`` lines, contains no curly brace, and no "lorem
    ipsum" (the paper's code-and-placeholder page rejects).

    Documented deviations, all conservative and SQL-replayable: the
    paper's "3 sentences" page floor is applied to KEPT LINES (its own
    released implementation does the same); its bad-word list is out
    of scope (``functions/text.blocklist_hits`` exists separately).

    Plan: ONE posexplode on the line separator, per-line rules as
    map-side codegen string predicates, one doc-keyed reassembly
    aggregate (sort_array over (pos, line) structs, the
    drop_boilerplate shape) + one doc-keyed count reduce. No
    corpus-global anything; the rules lift to readStream unchanged
    (the q398/q414 map-only contract — reassembly is per-doc).

    Output per doc: (id, n_lines, n_kept, kept_chars, clean_text,
    has_brace, has_lorem, page_pass) — counts LONG, flags boolean.
    """
    if min_line_words < 1 or min_kept_lines < 1:
        raise ValueError("min_line_words and min_kept_lines must be >= 1")
    lines = docs.select(
        F.col(id_col),
        # literal-separator semantics: F.split takes a Java regex, so a
        # caller-supplied separator ('.', '||') must be escaped or it
        # silently splits on the PATTERN, diverging from the documented
        # literal string_split behavior and the DuckDB oracle (ADVICE
        # r14). The '\n' default is escape-invariant.
        F.posexplode(
            F.split(F.col(text_col), re.escape(line_sep))
        ).alias("pos", "line"),
    )
    trimmed = F.trim(F.col("line"))
    n_words = F.size(
        F.filter(F.split(trimmed, r"\s+"), lambda s: s != "")
    )
    keep = (
        trimmed.rlike(r"""[.!?]["']?$""")
        & (n_words >= F.lit(min_line_words))
        & ~F.lower(trimmed).rlike("javascript")
    )
    flagged = lines.select(
        id_col, "pos", "line", keep.alias("_keep")
    )
    per_doc = flagged.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.col("_keep").cast("long")).cast("long").alias("n_kept"),
        F.coalesce(
            F.sum(F.when(F.col("_keep"), F.length(F.col("line")).cast("long"))),
            F.lit(0),
        ).cast("long").alias("kept_chars"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_keep"), F.struct(F.col("pos"), F.col("line"))
                        )
                    )
                ),
                lambda s: s["line"],
            ),
            line_sep,
        ).alias("clean_text"),
    )
    flags = docs.select(
        F.col(id_col),
        (
            F.col(text_col).contains("{") | F.col(text_col).contains("}")
        ).alias("has_brace"),
        F.lower(F.col(text_col)).contains("lorem ipsum").alias("has_lorem"),
    )
    return (
        per_doc.join(flags, id_col)
        .select(
            id_col,
            "n_lines",
            "n_kept",
            "kept_chars",
            "clean_text",
            "has_brace",
            "has_lorem",
            (
                (F.col("n_kept") >= F.lit(min_kept_lines))
                & ~F.col("has_brace")
                & ~F.col("has_lorem")
            ).alias("page_pass"),
        )
    )


def dup_segment_fractions(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_sep: str = "\n",
    para_sep: str = "\n\n",
    max_dup_line_frac: float = 0.30,
    max_dup_para_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_dup_para_char_frac: float = 0.20,
) -> DataFrame:
    """The Gopher duplicate LINE / PARAGRAPH rules (Rae et al. 2021
    Appendix A1.1, first block — the four rules
    ``gopher_repetition_filters`` does not cover: fraction of lines
    that are duplicates > 0.30 rejects, duplicate paragraphs > 0.30,
    fraction of CHARACTERS inside duplicated lines > 0.20, inside
    duplicated paragraphs > 0.20; these catch listing/boilerplate
    pages whose repeats are whole segments, which the n-gram char
    rules under-weight).

    Accounting: a segment is "duplicated" when its exact text appears
    >= 2 times WITHIN the document (the paper's reading); every
    occurrence counts in the numerator (a line appearing 3x puts all
    3 lines / all 3*len chars in); char mass is the segment's own
    length (separators excluded). Empty/whitespace-only segments are
    excluded from both numerator and denominator (split artifacts,
    not content). Docs with zero non-empty segments pass vacuously
    with 0.0 fractions.

    Plan: per separator, ONE explode → (doc, segment) count aggregate
    → doc-keyed reduce; the two separators' results join on the doc
    key. Everything doc-keyed, no corpus-global state.

    Output per doc: (id, n_lines, dup_line_frac, dup_line_char_frac,
    n_paras, dup_para_frac, dup_para_char_frac, rule_dup_line,
    rule_dup_para, rule_dup_line_char, rule_dup_para_char, passes).
    """

    def side(sep: str, tag: str) -> DataFrame:
        segs = docs.select(
            F.col(id_col),
            # re.escape: literal separator semantics (see
            # c4_line_filters — same ADVICE r14 item).
            F.explode(
                F.split(F.col(text_col), re.escape(sep))
            ).alias("seg"),
        ).filter(F.trim(F.col("seg")) != "")
        counted = segs.groupBy(id_col, "seg").agg(
            F.count("*").cast("long").alias("_c"),
            F.length(F.first("seg")).cast("long").alias("_len"),
        )
        dup = F.col("_c") >= 2
        return counted.groupBy(id_col).agg(
            F.sum("_c").cast("long").alias(f"n_{tag}"),
            F.coalesce(F.sum(F.when(dup, F.col("_c"))), F.lit(0))
            .cast("long")
            .alias(f"_dup_{tag}"),
            F.sum(F.col("_c") * F.col("_len")).cast("long").alias(f"_ch_{tag}"),
            F.coalesce(
                F.sum(F.when(dup, F.col("_c") * F.col("_len"))), F.lit(0)
            )
            .cast("long")
            .alias(f"_dupch_{tag}"),
        )

    lines = side(line_sep, "lines")
    paras = side(para_sep, "paras")
    base = docs.select(F.col(id_col))
    joined = base.join(lines, id_col, "left").join(paras, id_col, "left")

    def frac(num: str, den: str) -> F.Column:
        return F.round(
            F.when(
                F.coalesce(F.col(den), F.lit(0)) > 0,
                F.coalesce(F.col(num), F.lit(0)) / F.col(den),
            ).otherwise(0.0),
            6,
        )

    out = joined.select(
        id_col,
        F.coalesce("n_lines", F.lit(0)).cast("long").alias("n_lines"),
        frac("_dup_lines", "n_lines").alias("dup_line_frac"),
        frac("_dupch_lines", "_ch_lines").alias("dup_line_char_frac"),
        F.coalesce("n_paras", F.lit(0)).cast("long").alias("n_paras"),
        frac("_dup_paras", "n_paras").alias("dup_para_frac"),
        frac("_dupch_paras", "_ch_paras").alias("dup_para_char_frac"),
    )
    r1 = F.col("dup_line_frac") <= F.lit(max_dup_line_frac)
    r2 = F.col("dup_para_frac") <= F.lit(max_dup_para_frac)
    r3 = F.col("dup_line_char_frac") <= F.lit(max_dup_line_char_frac)
    r4 = F.col("dup_para_char_frac") <= F.lit(max_dup_para_char_frac)
    return out.select(
        "*",
        r1.alias("rule_dup_line"),
        r2.alias("rule_dup_para"),
        r3.alias("rule_dup_line_char"),
        r4.alias("rule_dup_para_char"),
        (r1 & r2 & r3 & r4).alias("passes"),
    )


def heaps_law_fit(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoints: int = 10,
) -> DataFrame:
    """Heaps'-law vocabulary-growth fit V(n) = K·n^β (Heaps 1978;
    Herdan 1960 — the vocabulary-saturation readout: β near 1 means
    the corpus still yields new types linearly, β small means
    more data adds few new words; the empirical companion to the
    Good-Turing unseen-mass audit, which reads the SAME saturation
    from count-of-counts instead of growth).

    Corpus order = ascending ``id_col`` (deterministic, matches the
    oracle). The growth curve is evaluated at ``checkpoints`` exact
    document-count quantile boundaries; each token type is attributed
    to the checkpoint bucket of its FIRST document, so cumulative
    vocabulary is a running sum over a checkpoints-sized frame — the
    corpus-global scan problem (cumulative distinct per doc would be
    a SinglePartition window over the whole corpus) collapses to one
    token-keyed MIN aggregate + one doc-keyed SUM + K-row windows.
    The log-log OLS closed form is the q384 Zipf machinery: β = slope,
    ln K = intercept over the K (ln n, ln V) points.

    Exactness: token/doc counts exact LONG; ln at 9dp; OLS moments
    ride DECIMAL(25,9) sums over <= K rows; fitted values 6dp. The
    checkpoint edges are exact rank-selected doc_ids collected to the
    driver (metadata-sized, the quantile_edges_exact contract).

    Output: one row per checkpoint (ckpt, max_doc_id, n_tokens_cum,
    vocab_cum) with (beta, ln_k, r2) repeated — the fit over all
    checkpoints, via a 1-row broadcast.
    """
    if checkpoints < 2:
        raise ValueError("checkpoints must be >= 2")
    from ..operators.drift import bucket_by_edges, quantile_edges_exact

    # K-1 interior edges + the max doc id close the last bucket
    ids = docs.select(F.col(id_col).cast("double").alias("_d"))
    edges = quantile_edges_exact(ids, "_d", checkpoints, "_d")
    max_id = docs.agg(F.max(F.col(id_col)).cast("double")).collect()[0][0]
    bounds = sorted(set(edges + [float(max_id)]))

    toked = docs.select(
        F.col(id_col).alias("_doc"), tokens(text_col).alias("_t")
    )
    exploded = toked.select("_doc", F.explode("_t").alias("_tok"))
    first_doc = exploded.groupBy("_tok").agg(F.min("_doc").alias("_fd"))
    doc_tokens = toked.select("_doc", F.size("_t").cast("long").alias("_n"))

    def ckpt_of(col: F.Column) -> F.Column:
        # index of the smallest bound >= value: bucket_by_edges counts
        # bounds strictly below, which is exactly that index because
        # every doc id is <= the last bound
        return bucket_by_edges(col.cast("double"), bounds[:-1])

    per_ckpt_tokens = doc_tokens.select(
        ckpt_of(F.col("_doc")).alias("ckpt"), F.col("_n")
    ).groupBy("ckpt").agg(F.sum("_n").cast("long").alias("_tk"))
    per_ckpt_types = first_doc.select(
        ckpt_of(F.col("_fd")).alias("ckpt")
    ).groupBy("ckpt").agg(F.count("*").cast("long").alias("_ty"))

    grid = docs.sparkSession.createDataFrame(
        [(i, float(b)) for i, b in enumerate(bounds)], ["ckpt", "max_doc_id"]
    )
    from pyspark.sql import Window

    w = Window.orderBy("ckpt").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        grid.join(per_ckpt_tokens, "ckpt", "left")
        .join(per_ckpt_types, "ckpt", "left")
        .select(
            "ckpt",
            "max_doc_id",
            F.sum(F.coalesce("_tk", F.lit(0))).over(w).alias("n_tokens_cum"),
            F.sum(F.coalesce("_ty", F.lit(0))).over(w).alias("vocab_cum"),
        )
    )
    pts = curve.filter(
        (F.col("n_tokens_cum") > 0) & (F.col("vocab_cum") > 0)
    ).select(
        F.round(F.log("n_tokens_cum"), 9).alias("_x"),
        F.round(F.log("vocab_cum"), 9).alias("_y"),
    )
    dec = "decimal(25,9)"
    m = pts.agg(
        F.count("*").alias("_k"),
        F.sum(F.col("_x").cast(dec)).alias("_sx"),
        F.sum(F.col("_y").cast(dec)).alias("_sy"),
        F.sum(F.round(F.col("_x") * F.col("_x"), 9).cast(dec)).alias("_sxx"),
        F.sum(F.round(F.col("_x") * F.col("_y"), 9).cast(dec)).alias("_sxy"),
        F.sum(F.round(F.col("_y") * F.col("_y"), 9).cast(dec)).alias("_syy"),
    )
    k = F.col("_k").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    sxx = F.col("_sxx").cast("double")
    sxy = F.col("_sxy").cast("double")
    syy = F.col("_syy").cast("double")
    num = k * sxy - sx * sy
    den_b = k * sxx - sx * sx
    den_y = k * syy - sy * sy
    # degenerate curves (constant n or constant V — a saturated
    # vocabulary) have zero denominators: report NULL, not inf/NaN;
    # "+ 0.0" normalizes IEEE signed zeros (DuckDB's round preserves
    # -0.0, Spark's does not — found at pre-verification)
    beta = F.when(den_b != 0, num / den_b)
    lnk = F.when(den_b != 0, (sy - (num / den_b) * sx) / k)
    r2 = F.when(
        (den_b != 0) & (den_y != 0), num * num / (den_b * den_y)
    )
    fit = m.select(
        (F.round(beta, 6) + F.lit(0.0)).alias("beta"),
        (F.round(lnk, 6) + F.lit(0.0)).alias("ln_k"),
        (F.round(r2, 6) + F.lit(0.0)).alias("r2"),
    )
    return (
        curve.crossJoin(F.broadcast(fit))
        .select(
            "ckpt",
            "max_doc_id",
            F.col("n_tokens_cum").cast("long").alias("n_tokens_cum"),
            F.col("vocab_cum").cast("long").alias("vocab_cum"),
            "beta",
            "ln_k",
            "r2",
        )
        .orderBy("ckpt")
    )


def readability_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flesch reading ease + Flesch-Kincaid grade level (Flesch 1948;
    Kincaid, Fishburne, Rogers & Chissom 1975 — the readability
    signals several published quality classifiers feed next to the
    Gopher stats; extreme values flag word-salad and legalese alike):
    FRE = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words),
    FK grade = 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59.

    Syllables are the standard programmatic approximation: vowel-GROUP
    runs ([aeiouy]+) per word, floored at 1 — the Talburt/readability-
    package heuristic, documented (true hyphenation needs a dictionary;
    the approximation is monotone-consistent for ranking). Sentences =
    terminal-punctuation runs ([.!?]+), floored at 1 for non-empty
    docs so punctuation-free text degrades to one run-on sentence
    rather than a division by zero.

    MAP-ONLY: token array ops + two regexp counts inside whole-stage
    codegen — no shuffle, no UDF; lifts to readStream unchanged (the
    q398/q414/q449 map-only gate family). Ratios are single IEEE
    divisions of exact integer counts; scores 6dp.

    Output per doc: (id, n_sentences, n_words, n_syllables,
    flesch_reading_ease, fk_grade) — empty docs emit NULL scores.
    """
    t = F.col(text_col)
    toks = tokens(text_col)
    n_words = F.size(toks)
    syl = F.aggregate(
        toks,
        F.lit(0),
        lambda acc, w: acc
        + F.greatest(
            F.size(F.filter(F.split(w, "[^aeiouy]+"), lambda x: x != "")),
            F.lit(1),
        ),
    )
    n_sent_raw = F.size(
        F.filter(F.split(t, r"[^.!?]+"), lambda x: x != "")
    )
    n_sent = F.when(n_words > 0, F.greatest(n_sent_raw, F.lit(1)))
    wps = n_words / n_sent
    spw = syl / n_words
    return docs.select(
        F.col(id_col),
        n_sent.cast("long").alias("n_sentences"),
        n_words.cast("long").alias("n_words"),
        F.when(n_words > 0, syl).cast("long").alias("n_syllables"),
        F.round(
            F.when(
                n_words > 0,
                F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw,
            ),
            6,
        ).alias("flesch_reading_ease"),
        F.round(
            F.when(
                n_words > 0,
                F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59),
            ),
            6,
        ).alias("fk_grade"),
    )
