"""Generation-evaluation metrics: token-F1/EM, BLEU, ROUGE-N, chrF,
distinct-n, and pooled self-BLEU — the model-OUTPUT evaluation layer
next to the retrieval metrics in ``llm/retrieval.py`` (recall@k/MRR/
nDCG judge a ranker; these judge generated TEXT against references).

Capability-gap surface (Tier C): the reference declares "relational
algebra / calculus operators" as its purpose (`/root/reference/
README.md:9-15`) and implements none of this; the north star
(BASELINE.json "LLM-data-pipeline operators ... text analysis") is
what these rows complete. Public sources per operator: Papineni et al.
2002 (BLEU), Lin 2004 (ROUGE), Popović 2015 (chrF), Rajpurkar et al.
2016 (SQuAD token-F1/EM), Li et al. 2016 (distinct-n), Zhu et al.
2018 (Self-BLEU).

Engine rules used throughout (SURVEY §5.3): every n-gram/token count
is an exact LONG; every emitted ratio is a SINGLE IEEE division of
exact integer operands (multiset F1 = 2·overlap/(|cand|+|ref|), so
even F1 needs no compounding); per-n precision means ride
DECIMAL(25,9) sums; ln/exp appear only in BLEU's brevity penalty and
geometric mean, rounded 6dp at the emit boundary (the q384/q379 libm
precedent). All exchanges are pair-keyed or gram-keyed — nothing
corpus-global, no windows over the corpus.
"""

from __future__ import annotations

import re
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import TOKEN_SPLIT_RE, shingles_from_tokens, tokens

__all__ = [
    "token_f1",
    "clipped_ngram_stats",
    "bleu_corpus",
    "rouge_n",
    "chrf_score",
    "chrf_pp",
    "distinct_n",
    "self_bleu_pool",
    "edit_distance_pairs",
    "word_error_rate",
    "rouge_l",
]


def _ws_tokens(col: str) -> Column:
    """Whitespace-only tokenizer: case and punctuation PRESERVED —
    the 'detokenized' eval convention (sacrebleu's refusal to
    pre-tokenize; the engine's international-tokenizer stand-in).
    SQL twin: list_filter(string_split_regex(x, '\\s+'), t -> t <> '')."""
    return F.filter(F.split(F.col(col), r"\s+"), lambda t: t != "")


def _tok(col: str, tokenizer: str) -> Column:
    """Tokenizer dispatch for the tokenizer-parameterized metrics:
    'norm' = the engine tokenizer (functions/text.tokens: lowercase,
    [^a-z0-9]+ split, empties dropped — also SQuAD's normalization
    stand-in, lower + punctuation strip), 'ws' = whitespace split
    preserving case/punctuation (detokenized eval)."""
    if tokenizer == "norm":
        return tokens(col)
    if tokenizer == "ws":
        return _ws_tokens(col)
    raise ValueError(f"unknown tokenizer {tokenizer!r} (use 'norm'|'ws')")


def _chars(col: str) -> Column:
    """chrF's unit: the lowercased text with all whitespace stripped."""
    return F.regexp_replace(F.lower(F.col(col)), r"\s+", "")


def _word_grams(toks: Column, n: int) -> Column:
    """Order-n word grams of a token array (n = 1: the tokens)."""
    return toks if n == 1 else shingles_from_tokens(toks, n)


def _char_grams(s: Column, n: int) -> Column:
    """Order-n char grams of a string: its length-n substrings."""
    return F.when(F.length(s) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(s) - (n - 1)),
            lambda i: s.substr(i, F.lit(n)),
        )
    )


_GramCutter = Callable[[Column, int], Column]


def _gram_counts(
    units: DataFrame, key: str, ns: tuple[int, ...], grams: _GramCutter, out: str
) -> DataFrame:
    """(key, n, _g, out): how often each order-n gram of the unit column
    ``_u`` occurs per key, for every n in ``ns`` — the per-order
    explodes are unioned into ONE (key, n, gram) count aggregate.
    ``grams(unit, n)`` cuts a unit into its order-n grams
    (:func:`_word_grams` for token arrays, :func:`_char_grams` for
    strings). Counts are LONG."""
    if not ns or any(n < 1 for n in ns):
        raise ValueError("ns must be non-empty positive n-gram orders")
    per_n = None
    for n in ns:
        g = units.select(
            key, F.lit(n).alias("n"), F.explode(grams(F.col("_u"), n)).alias("_g")
        )
        per_n = g if per_n is None else per_n.unionByName(g)
    count = F.count("*").cast("long").alias(out)
    if len(ns) == 1:
        # one order: n is a literal, and a literal grouping key hides the
        # (key, gram) uniqueness the planner's join size estimates use —
        # the clipped-overlap join then reads as a cross join and loses
        # its broadcast
        return per_n.groupBy(key, "_g").agg(count).withColumn("n", F.lit(ns[0]))
    return per_n.groupBy(key, "n", "_g").agg(count)


def _clipped_overlap(
    pairs: DataFrame,
    id_col: str,
    cand: Column,
    ref: Column,
    ns: tuple[int, ...],
    grams: _GramCutter,
) -> DataFrame:
    """(id, n, overlap): the CLIPPED gram overlap
    Σ_gram min(count_cand, count_ref) per (pair, order) — one count
    aggregate per side, an inner equi-join on (id, n, gram) and one
    (id, n)-keyed reduce. Orders with no shared gram have no row."""

    def side(unit: Column, out: str) -> DataFrame:
        units = pairs.select(F.col(id_col), unit.alias("_u"))
        return _gram_counts(units, id_col, ns, grams, out)

    return (
        side(cand, "_cc")
        .join(side(ref, "_rc"), [id_col, "n", "_g"])
        .groupBy(id_col, "n")
        .agg(F.sum(F.least("_cc", "_rc")).cast("long").alias("overlap"))
    )


def _clipped_stats(
    pairs: DataFrame,
    id_col: str,
    cand: Column,
    ref: Column,
    ns: tuple[int, ...],
    grams: _GramCutter,
    length: Callable[[Column], Column],
) -> DataFrame:
    """(id, n, overlap, cand_grams, ref_grams), all LONG: the
    :func:`_clipped_overlap` of every order next to both sides' gram
    totals greatest(length(unit) − n + 1, 0) — map-side arithmetic over
    an ns-sized literal explode, left-joined so that orders without a
    shared gram carry overlap 0. ``length`` measures a unit (F.size
    for token arrays, F.length for strings)."""
    n_lit = F.explode(F.array(*[F.lit(n) for n in ns])).alias("n")
    totals = pairs.select(
        F.col(id_col),
        length(cand).cast("long").alias("_nc"),
        length(ref).cast("long").alias("_nr"),
    ).select(id_col, n_lit, "_nc", "_nr").select(
        id_col,
        "n",
        F.greatest(F.col("_nc") - F.col("n") + 1, F.lit(0))
        .cast("long")
        .alias("cand_grams"),
        F.greatest(F.col("_nr") - F.col("n") + 1, F.lit(0))
        .cast("long")
        .alias("ref_grams"),
    )
    ov = _clipped_overlap(pairs, id_col, cand, ref, ns, grams)
    return totals.join(ov, [id_col, "n"], "left").select(
        id_col,
        "n",
        F.coalesce("overlap", F.lit(0)).cast("long").alias("overlap"),
        "cand_grams",
        "ref_grams",
    )


def _chrf_reduce(
    per_n: DataFrame, id_col: str, beta: float
) -> tuple[DataFrame, Column, Column, Column]:
    """The per-pair reduce of chrF and chrF++ over (id, n, overlap,
    cand_grams, ref_grams) rows: chrP/chrR = DECIMAL(25,9) sums of the
    9dp per-order ratios over the orders where that side has grams,
    divided once by that order count; chrF = (1+β²)·chrP·chrR /
    (β²·chrP + chrR). Returns the per-pair frame and the unrounded
    (chr_p, chr_r, chrf) columns with the empty-side conventions
    applied (both sides empty → 1, one side empty → 0): each caller
    rounds them with its own emit."""
    if beta <= 0:
        raise ValueError("beta must be > 0")
    dec = "decimal(25,9)"
    ov, cg, rg = F.col("overlap"), F.col("cand_grams"), F.col("ref_grams")
    per_pair = per_n.groupBy(id_col).agg(
        F.sum(F.when(cg > 0, F.round(ov / cg, 9).cast(dec))).alias("_psum"),
        F.count(F.when(cg > 0, 1)).alias("_pk"),
        F.sum(F.when(rg > 0, F.round(ov / rg, 9).cast(dec))).alias("_rsum"),
        F.count(F.when(rg > 0, 1)).alias("_rk"),
        F.max(cg).alias("_anyc"),
        F.max(rg).alias("_anyr"),
    )
    chrp = F.col("_psum").cast("double") / F.col("_pk")
    chrr = F.col("_rsum").cast("double") / F.col("_rk")
    b2 = float(beta) * float(beta)
    chrf = F.lit(1.0 + b2) * chrp * chrr / (F.lit(b2) * chrp + chrr)
    both_empty = (F.col("_anyc") == 0) & (F.col("_anyr") == 0)
    one_empty = (F.col("_anyc") == 0) | (F.col("_anyr") == 0)
    zero_denom = (F.col("_pk") == 0) | (F.col("_rk") == 0)
    return (
        per_pair,
        F.when(both_empty, 1.0).when(F.col("_pk") == 0, 0.0).otherwise(chrp),
        F.when(both_empty, 1.0).when(F.col("_rk") == 0, 0.0).otherwise(chrr),
        F.when(both_empty, 1.0)
        .when(one_empty | zero_denom, 0.0)
        .when((chrp == 0) | (chrr == 0), 0.0)
        .otherwise(chrf),
    )


_TOKEN_SPLIT = re.compile(TOKEN_SPLIT_RE)


def _py_tokens(s: str | None) -> list[str]:
    """Python twin of functions/text.tokens for the per-row DP metrics."""
    if s is None:
        return []
    return [t for t in _TOKEN_SPLIT.split(s.lower()) if t]


def _align_dist(a: list[str], b: list[str], substitute: bool) -> int:
    """Word-alignment edit distance between token lists: Levenshtein
    when ``substitute`` (a substitution costs 1), else the
    insertion/deletion-only distance (a mismatched diagonal costs more
    than any alignment, so it is never taken). Two-row numpy DP,
    vectorized per row of ``a``; the insertion recurrence collapses to
    a running min via the (m−j)+j accumulate identity."""
    import numpy as np

    n, m = len(a), len(b)
    if n == 0:
        return m
    if m == 0:
        return n
    # integer-code b once; per row of a, vectorized DP update
    code = {}
    bb = np.fromiter((code.setdefault(t, len(code)) for t in b),
                     dtype=np.int64, count=m)
    miss = 1 if substitute else n + m + 1
    idx = np.arange(1, m + 1, dtype=np.int64)
    prev = np.arange(m + 1, dtype=np.int64)
    for i, t in enumerate(a, 1):
        diag = prev[:-1] + miss * (bb != code.get(t, -1))
        m_arr = np.minimum(diag, prev[1:] + 1)
        # insertion smoothing: cur[j] = min_k<=j (m[k] + (j-k))
        cur = np.empty(m + 1, dtype=np.int64)
        cur[0] = i
        cur[1:] = np.minimum.accumulate(
            np.minimum(m_arr, np.concatenate(([i], m_arr[:-1])) + 1) - idx
        ) + idx
        prev = cur
    return int(prev[-1])


def _score_pair_rows(
    pairs: DataFrame,
    cand_col: str,
    ref_col: str,
    id_col: str,
    schema: str,
    score: Callable[[list[str], list[str]], tuple],
) -> DataFrame:
    """Per-pair Python scoring as an Arrow-batched mapInPandas: each
    row's cand/ref are tokenized with :func:`_py_tokens` and
    ``score(cand_tokens, ref_tokens)`` returns the row's values after
    the id, in the order of ``schema`` (the output columns after the
    LONG id)."""
    cols = [id_col] + [f.split()[0] for f in schema.split(",")]

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            rows = [
                (pid, *score(_py_tokens(c), _py_tokens(r)))
                for pid, c, r in zip(pdf[id_col], pdf[cand_col], pdf[ref_col])
            ]
            yield pd.DataFrame(rows, columns=cols)

    return pairs.select(id_col, cand_col, ref_col).mapInPandas(
        kernel, f"{id_col} long, {schema}"
    )


def token_f1(
    pairs: DataFrame,
    cand_col: str = "cand",
    ref_col: str = "ref",
    id_col: str = "pair_id",
) -> DataFrame:
    """SQuAD-style token-level F1 + exact match per (candidate,
    reference) pair (Rajpurkar, Zhang, Lopyrev & Liang, EMNLP 2016 —
    the reading-comprehension answer metric, the default doc-level
    text-overlap score for extractive eval sets).

    Multiset semantics: overlap = Σ_tok min(count_cand, count_ref);
    precision = overlap/|cand|, recall = overlap/|ref|, and the F1
    identity 2PR/(P+R) = 2·overlap/(|cand|+|ref|) — each a SINGLE
    IEEE division of exact LONG operands (no compounding, the q421
    discipline). Exact match compares the normalized token sequences
    (space-rejoined). Empty sides (after normalization): both empty →
    P/R/F1 = 1 and EM on the empty strings (the SQuAD no-answer
    convention); one empty → 0.

    Plan: the clipped overlap of :func:`clipped_ngram_stats` at n = 1
    (token explode on each side → one (id, tok) count aggregate per
    side → inner equi-join on (id, tok) → one id-keyed reduce); the
    per-pair totals are map-side expressions joined back on id. Every
    exchange is pair- or (pair,token)-keyed — scales per pair, never
    corpus-global.

    Output per pair: (id, n_cand, n_ref, overlap, precision, recall,
    f1, exact_match) — counts LONG, ratios 6dp, exact_match 0/1.
    """
    ct, rt = tokens(cand_col), tokens(ref_col)
    base = pairs.select(
        F.col(id_col), ct.alias("_ct"), rt.alias("_rt")
    ).select(
        id_col,
        F.size("_ct").cast("long").alias("n_cand"),
        F.size("_rt").cast("long").alias("n_ref"),
        (
            F.array_join("_ct", " ") == F.array_join("_rt", " ")
        ).cast("int").alias("exact_match"),
    )

    ov = _clipped_overlap(pairs, id_col, ct, rt, (1,), _word_grams).drop("n")
    nc, nr, o = F.col("n_cand"), F.col("n_ref"), F.col("overlap")
    return (
        base.join(ov, id_col, "left")
        .withColumn("overlap", F.coalesce("overlap", F.lit(0)).cast("long"))
        .select(
            id_col,
            "n_cand",
            "n_ref",
            "overlap",
            F.round(
                F.when((nc == 0) & (nr == 0), 1.0).when(
                    nc == 0, 0.0
                ).otherwise(o / nc),
                6,
            ).alias("precision"),
            F.round(
                F.when((nc == 0) & (nr == 0), 1.0).when(
                    nr == 0, 0.0
                ).otherwise(o / nr),
                6,
            ).alias("recall"),
            F.round(
                F.when((nc == 0) & (nr == 0), 1.0).otherwise(
                    F.lit(2.0) * o / (nc + nr)
                ),
                6,
            ).alias("f1"),
            "exact_match",
        )
    )


def clipped_ngram_stats(
    pairs: DataFrame,
    cand_col: str = "cand",
    ref_col: str = "ref",
    id_col: str = "pair_id",
    ns: tuple[int, ...] = (1, 2, 3, 4),
    tokenizer: str = "norm",
) -> DataFrame:
    """Per (pair, n): CLIPPED word n-gram overlap and both sides' gram
    totals — the shared primitive under BLEU's modified precision
    (Papineni et al. 2002 §2.1) and ROUGE-N (Lin 2004 §2): clipping
    credits each candidate gram at most min(count_cand, count_ref)
    times, so "the the the the" cannot inflate precision.

    Plan: one token-array projection per side, per-n gram explodes
    unioned into ONE (id, n, gram) count aggregate per side, inner
    equi-join on (id, n, gram), one (id, n)-keyed reduce; totals
    |side| − n + 1 (floored at 0) are map-side arithmetic on the token
    counts, ns-sized literal explode. Pairs with < n tokens on a side
    carry total 0 for that n and overlap 0.

    Output: (id, n, overlap, cand_grams, ref_grams) — all LONG.
    """
    return _clipped_stats(
        pairs,
        id_col,
        _tok(cand_col, tokenizer),
        _tok(ref_col, tokenizer),
        ns,
        _word_grams,
        F.size,
    )


def bleu_corpus(
    pairs: DataFrame,
    cand_col: str = "cand",
    ref_col: str = "ref",
    id_col: str = "pair_id",
    max_n: int = 4,
    tokenizer: str = "norm",
) -> DataFrame:
    """Corpus-level BLEU (Papineni, Roukos, Ward & Zhu, ACL 2002 — THE
    machine-generation benchmark metric): per-order modified precision
    p_n = Σ_pairs clipped_n / Σ_pairs cand_grams_n pooled over the
    corpus (corpus pooling, NOT a mean of sentence scores — short
    outputs can't dominate), brevity penalty
    BP = min(1, e^(1 − r/c)) with c = Σ|cand|, r = Σ|ref| (single
    reference, so r is the reference length sum), and
    BLEU = BP · exp(Σ_n ln p_n / N).

    Exactness contract: clipped/total/c/r are exact LONG sums; each
    p_n is ONE IEEE division rounded 9dp (identical in both engines);
    BP and the geometric mean pass through exp/ln once and emit at 6dp
    (the q379/q384 libm precedent — ln/exp of identical doubles agree
    to far beyond 6dp). Any p_n = 0 pins bleu = 0 exactly (the
    standard unsmoothed convention; smoothing variants are a
    documented non-goal — corpus pooling makes zero orders rare).

    Plan: :func:`clipped_ngram_stats` (pair-keyed) → ONE max_n-row
    aggregate → scalar recombination via a 1-row broadcast (the
    audited final-reduce shape). Output max_n rows:
    (n, clipped, total, p_n, c_len, r_len, bp, bleu) — bp/bleu
    repeated per row.
    """
    if max_n < 1:
        raise ValueError("max_n must be >= 1")
    ns = tuple(range(1, max_n + 1))
    stats = clipped_ngram_stats(pairs, cand_col, ref_col, id_col, ns, tokenizer)
    per_n = stats.groupBy("n").agg(
        F.sum("overlap").cast("long").alias("clipped"),
        F.sum("cand_grams").cast("long").alias("total"),
    )
    # c/r ride the n=1 row: cand_grams at n=1 IS the token count
    lens = (
        stats.filter(F.col("n") == 1)
        .agg(
            F.sum("cand_grams").cast("long").alias("c_len"),
            F.sum("ref_grams").cast("long").alias("r_len"),
        )
    )
    p_n = F.when(
        F.col("total") > 0, F.round(F.col("clipped") / F.col("total"), 9)
    ).otherwise(F.lit(None))
    scored = per_n.select("n", "clipped", "total", p_n.alias("p_n"))
    # ln terms ride DECIMAL(25,9) so the 4-term sum is order-independent
    # (raw double sums over an unordered agg can differ at the last ulp)
    geo = scored.agg(
        F.min(F.when(F.col("p_n").isNotNull(), F.col("p_n"))).alias("_pmin"),
        F.sum(
            F.round(F.log(F.when(F.col("p_n") > 0, F.col("p_n"))), 9).cast(
                "decimal(25,9)"
            )
        ).alias("_lnsum"),
        F.count(F.when(F.col("p_n").isNotNull(), 1)).alias("_k"),
    )
    bp = F.round(
        F.least(
            F.lit(1.0),
            F.exp(F.lit(1.0) - F.col("r_len") / F.col("c_len")),
        ),
        6,
    )
    bleu = F.round(
        F.when(F.col("_pmin") <= 0, 0.0).otherwise(
            F.least(
                F.lit(1.0),
                F.exp(F.lit(1.0) - F.col("r_len") / F.col("c_len")),
            )
            * F.exp(F.col("_lnsum").cast("double") / F.col("_k"))
        ),
        6,
    )
    return (
        scored.crossJoin(F.broadcast(lens))
        .crossJoin(F.broadcast(geo))
        .select(
            "n",
            "clipped",
            "total",
            F.round("p_n", 6).alias("p_n"),
            "c_len",
            "r_len",
            bp.alias("bp"),
            bleu.alias("bleu"),
        )
        .orderBy("n")
    )


def rouge_n(
    pairs: DataFrame,
    cand_col: str = "cand",
    ref_col: str = "ref",
    id_col: str = "pair_id",
    ns: tuple[int, ...] = (1, 2),
) -> DataFrame:
    """ROUGE-N per pair (Lin, WAS 2004 — the summarization recall
    metric): clipped n-gram overlap over REFERENCE grams is the
    classic ROUGE-N recall; precision and F1 reported alongside
    (modern usage — rouge-score's default — reads the F measure).

    Same single-division exactness as :func:`token_f1`: recall =
    overlap/ref_grams, precision = overlap/cand_grams, F1 =
    2·overlap/(cand_grams + ref_grams); each one IEEE division of
    exact LONGs, 6dp. A side with < n tokens has 0 grams: its ratio
    degrades to NULL (no grams to judge), and F1 is 0 unless BOTH
    sides are empty (vacuous match → 1, the token_f1 convention).

    Plan: :func:`clipped_ngram_stats` — pair-keyed throughout.
    Output: (id, n, overlap, cand_grams, ref_grams, precision,
    recall, f1).
    """
    stats = clipped_ngram_stats(pairs, cand_col, ref_col, id_col, ns)
    o, cg, rg = F.col("overlap"), F.col("cand_grams"), F.col("ref_grams")
    return stats.select(
        id_col,
        "n",
        "overlap",
        "cand_grams",
        "ref_grams",
        F.round(
            F.when(cg > 0, o / cg).otherwise(F.lit(None)), 6
        ).alias("precision"),
        F.round(
            F.when(rg > 0, o / rg).otherwise(F.lit(None)), 6
        ).alias("recall"),
        F.round(
            F.when((cg == 0) & (rg == 0), 1.0).otherwise(
                F.lit(2.0) * o / (cg + rg)
            ),
            6,
        ).alias("f1"),
    )


def chrf_score(
    pairs: DataFrame,
    cand_col: str = "cand",
    ref_col: str = "ref",
    id_col: str = "pair_id",
    max_n: int = 6,
    beta: float = 2.0,
) -> DataFrame:
    """chrF per pair (Popović, WMT 2015 — the character-n-gram F-score;
    tokenization-free, so robust to morphology and the default
    second metric of WMT evals): for n = 1..max_n over
    whitespace-stripped lowercased text, per-order clipped precision
    and recall; chrP/chrR = arithmetic means over the orders where the
    respective side HAS grams (sacrebleu's effective-order handling);
    chrF = (1+β²)·chrP·chrR / (β²·chrP + chrR), β = 2 (recall-weighted,
    the paper's best setting).

    Exactness: per-order ratios are single IEEE divisions of exact
    LONGs rounded 9dp onto DECIMAL(25,9); chrP/chrR are decimal sums
    divided once by the order count; chrF is fixed-form IEEE
    arithmetic on those two doubles — identical cross-engine, 6dp out.

    Plan: char-gram explode per (side, n) unioned → ONE (id, n, gram)
    count agg per side → (id, n, gram) equi-join → (id, n) reduce →
    (id) reduce. Pair-keyed end-to-end.

    Output per pair: (id, chr_p, chr_r, chrf) — 6dp; pairs empty on
    both sides after stripping → chrf = 1 (vacuous), one side empty
    → 0.
    """
    if max_n < 1:
        raise ValueError("max_n must be >= 1")
    ns = tuple(range(1, max_n + 1))
    per_n = _clipped_stats(
        pairs, id_col, _chars(cand_col), _chars(ref_col), ns, _char_grams, F.length
    )
    per_pair, chr_p, chr_r, chrf = _chrf_reduce(per_n, id_col, beta)
    return per_pair.select(
        id_col,
        F.round(chr_p, 6).alias("chr_p"),
        F.round(chr_r, 6).alias("chr_r"),
        F.round(chrf, 6).alias("chrf"),
    )


def distinct_n(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    ns: tuple[int, ...] = (1, 2, 3),
) -> DataFrame:
    """Distinct-n diversity per group (Li, Galley, Brockett, Gao &
    Dolan, NAACL 2016 — the mode-collapse/dull-response audit for
    generation sets: distinct n-grams / total n-grams; low values
    mean the generator repeats itself across outputs).

    Plan: per-n gram explode unioned → ONE (group, n, gram) count
    aggregate → (group, n) reduce with an exact countDistinct (at
    100 TB swap for approx_count_distinct — the drop_boilerplate
    documented trade; totals stay exact either way). Ratio = ONE IEEE
    division, 6dp.

    Output: (group, n, total_grams, distinct_grams, distinct_ratio).
    """
    units = docs.select(
        F.col(group_col).alias("grp"), tokens(text_col).alias("_u")
    )
    counted = _gram_counts(units, "grp", ns, _word_grams, "_c")
    return (
        counted.groupBy("grp", "n")
        .agg(
            F.sum("_c").cast("long").alias("total_grams"),
            F.count("*").cast("long").alias("distinct_grams"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n",
            "total_grams",
            "distinct_grams",
            F.round(F.col("distinct_grams") / F.col("total_grams"), 6).alias(
                "distinct_ratio"
            ),
        )
    )


def self_bleu_pool(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ns: tuple[int, ...] = (1, 2, 3),
) -> DataFrame:
    """Pooled leave-one-out self-similarity per document — the bounded
    corpus-diversity companion to pairwise Self-BLEU (Zhu et al.,
    SIGIR 2018 "Texygen", which scores each doc's BLEU against ALL
    others: O(D²) and unrunnable at corpus scale). Here each doc's
    n-grams are clipped against the POOL MINUS ITSELF:
    p_n(d) = Σ_g min(c_d(g), C(g) − c_d(g)) / grams(d) — a doc whose
    phrasing exists nowhere else scores 0; boilerplate scores → 1.
    Same clipping arithmetic as BLEU, same diversity reading as
    Self-BLEU, but ONE corpus gram-count aggregate + ONE gram-keyed
    equi-join instead of D² comparisons — the LSH-not-all-pairs
    discipline applied to diversity measurement.

    Exactness: counts exact LONG; p_n one IEEE division, 6dp. Docs
    with < n tokens carry no grams → ratio NULL for that order.

    Plan: (id, n, gram) count agg (doc-keyed) → (n, gram) corpus agg
    (gram-keyed, map-side combined) → equi-join back on (n, gram) →
    (id, n) reduce. No broadcast of the corpus table — the join is a
    plain shuffled hash join on the gram key, the scale path.

    Output: (id, n, doc_grams, pool_overlap, self_p) per (doc, n).
    """
    units = docs.select(F.col(id_col), tokens(text_col).alias("_u"))
    doc_counts = _gram_counts(units, id_col, ns, _word_grams, "_c")
    pool = doc_counts.groupBy("n", "_g").agg(
        F.sum("_c").cast("long").alias("_cp")
    )
    joined = doc_counts.join(pool, ["n", "_g"]).groupBy(id_col, "n").agg(
        F.sum("_c").cast("long").alias("doc_grams"),
        F.sum(F.least(F.col("_c"), F.col("_cp") - F.col("_c")))
        .cast("long")
        .alias("pool_overlap"),
    )
    return joined.select(
        id_col,
        "n",
        "doc_grams",
        "pool_overlap",
        F.round(
            F.when(
                F.col("doc_grams") > 0,
                F.col("pool_overlap") / F.col("doc_grams"),
            ),
            6,
        ).alias("self_p"),
    )


def token_f1_inline(cand_toks: Column, ref_toks: Column) -> Column:
    """MAP-ONLY token-F1 of two token-array columns — the
    whole-stage-codegen twin of :func:`token_f1` for per-row scoring
    where a shuffle is unaffordable or impossible (Structured
    Streaming gates): overlap = Σ over DISTINCT candidate tokens of
    min(count in cand, count in ref) via array HOFs; F1 by the same
    multiset identity 2·overlap/(|cand|+|ref|).

    Cost: O(u·(|cand|+|ref|)) per row with u = distinct cand tokens —
    fine for bounded documents, wrong for the batch path (use
    :func:`token_f1`'s explode/join there). Returns the 6dp F1 with
    the same empty-side conventions (both empty → 1, one empty → 0).
    """
    ov = F.aggregate(
        F.array_distinct(cand_toks),
        F.lit(0),
        lambda acc, tok: acc
        + F.least(
            F.size(F.filter(cand_toks, lambda x: x == tok)),
            F.size(F.filter(ref_toks, lambda x: x == tok)),
        ),
    )
    nc, nr = F.size(cand_toks), F.size(ref_toks)
    return F.round(
        F.when((nc == 0) & (nr == 0), 1.0).otherwise(
            F.lit(2.0) * ov / (nc + nr)
        ),
        6,
    )


def truncation_eval_gate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    tau: float = 0.6,
) -> DataFrame:
    """Per-document eval GATE: score a deterministic candidate rewrite
    (a doc-varying truncation with the lead tokens duplicated — the
    duplication makes the multiset CLIPPING real, a pure subset would
    collapse min(c_cand, c_ref) to |cand|) against the original via
    :func:`token_f1_inline`, and pass docs scoring ≥ ``tau``.

    The point of the operator is the SHAPE: token-F1 as a map-only
    projection (no explode, no join, no state) — so the gate composes
    into the readStream ingest path unchanged, extending the
    q398/q414 "map-only curation lifts to streaming" rule to the
    EVALUATION family. availableNow replay == batch run row-for-row.

    Output per doc: (id, n_tokens, k_kept, f1, passes).
    """
    t = tokens(text_col)
    base = docs.select(F.col(id_col), t.alias("_t"))
    n = F.size("_t")
    k = F.greatest(
        F.ceil(n * ((F.col(id_col) % 5) + 1) / F.lit(6.0)).cast("int"),
        F.lit(1),
    )
    cand = F.concat(
        F.slice("_t", 1, k), F.slice("_t", 1, F.least(F.lit(3), n))
    )
    f1 = token_f1_inline(cand, F.col("_t"))
    return base.select(
        id_col,
        n.cast("long").alias("n_tokens"),
        k.cast("long").alias("k_kept"),
        f1.alias("f1"),
        (f1 >= F.lit(tau)).alias("passes"),
    )


def edit_distance_pairs(
    pairs: DataFrame,
    cand_col: str = "cand",
    ref_col: str = "ref",
    id_col: str = "pair_id",
) -> DataFrame:
    """Character-level edit-distance battery per pair (Levenshtein
    1966; CER is the ASR/OCR error metric of record — the
    alignment-free companion to the n-gram overlap metrics: token-F1
    can score 1.0 for scrambled words, edit distance cannot):
    normalized text = lowercased, runs of whitespace collapsed to one
    space, trimmed (distance measures CONTENT, not spacing —
    documented); dist = codepoint Levenshtein (Spark's built-in JVM
    implementation — no Python in the hot path), cer = dist/len(ref),
    norm_sim = 1 − dist/max(len_c, len_r).

    Conventions: both sides empty after normalization → dist 0,
    cer 0, sim 1 (vacuous); ref empty with cand non-empty → cer NULL
    (undefined denominator — documented), sim still defined.

    Plan: map-side codegen end-to-end — zero exchanges, zero joins;
    lifts to readStream unchanged.

    Output per pair: (id, len_cand, len_ref, edit_dist, cer,
    norm_sim) — lengths/dist LONG, ratios 6dp.
    """

    def norm(col: str) -> Column:
        return F.trim(
            F.regexp_replace(F.lower(F.col(col)), r"\s+", " ")
        )

    nc, nr = norm(cand_col), norm(ref_col)
    base = pairs.select(
        F.col(id_col),
        F.length(nc).cast("long").alias("len_cand"),
        F.length(nr).cast("long").alias("len_ref"),
        F.levenshtein(nc, nr).cast("long").alias("edit_dist"),
    )
    lc, lr, d = F.col("len_cand"), F.col("len_ref"), F.col("edit_dist")
    return base.select(
        id_col,
        "len_cand",
        "len_ref",
        "edit_dist",
        F.round(
            F.when((lc == 0) & (lr == 0), 0.0)
            .when(lr == 0, F.lit(None))
            .otherwise(d / lr),
            6,
        ).alias("cer"),
        F.round(
            F.when((lc == 0) & (lr == 0), 1.0).otherwise(
                F.lit(1.0) - d / F.greatest(lc, lr)
            ),
            6,
        ).alias("norm_sim"),
    )


def word_error_rate(
    pairs: DataFrame,
    cand_col: str = "cand",
    ref_col: str = "ref",
    id_col: str = "pair_id",
) -> DataFrame:
    """Word-level edit distance / WER per pair (the ASR metric of
    record; equivalently TER WITHOUT the shift operation — Snover et
    al., AMTA 2006: full TER adds block shifts at cost 1, out of
    scope and documented; shift-free TER degenerates to exactly this
    word-level Levenshtein over the engine tokenizer).

    The slow-path contract (the mmr_diversify / grouped-Arrow class):
    the DP is O(|cand|·|ref|) per pair and inherently iterative, so
    it runs as an Arrow-batched mapInPandas with a row-vectorized
    numpy kernel (two-row DP; the insertion recurrence collapses to a
    running min via the (m−j)+j accumulate identity) — bounded-pair
    EVAL sets only, never corpus×corpus. Cross-engine exactness: the
    distance is invariant under any per-pair token bijection, which
    is what lets a SQL oracle replay it with a chr()-relabeling +
    native levenshtein (see the q462 oracle).

    Conventions: wer = dist/|ref| (may exceed 1); both sides empty →
    dist 0, wer 0; ref empty with cand non-empty → wer NULL
    (undefined — documented).

    Output per pair: (id, n_cand, n_ref, word_dist, wer) — counts and
    dist LONG, wer 6dp.
    """

    def score(a: list[str], b: list[str]) -> tuple:
        d = _align_dist(a, b, substitute=True)
        if not a and not b:
            wer = 0.0
        elif not b:
            wer = None
        else:
            wer = round(d / len(b), 6)
        return len(a), len(b), d, wer

    return _score_pair_rows(
        pairs, cand_col, ref_col, id_col,
        "n_cand long, n_ref long, word_dist long, wer double", score,
    )


def chrf_pp(
    pairs: DataFrame,
    cand_col: str = "cand",
    ref_col: str = "ref",
    id_col: str = "pair_id",
    max_n: int = 6,
    word_order: int = 2,
    beta: float = 2.0,
) -> DataFrame:
    """chrF++ per pair (Popović, WMT 2017 — chrF with a word-order
    component: the character F-score's morphology-robustness plus
    word 1..word_order-gram precision/recall to restore word-order
    sensitivity; sacrebleu's chrF2++ = max_n 6, word_order 2, β 2):
    chrP/chrR = arithmetic means over the char orders AND word orders
    where the respective side HAS grams (the engine chrf_score
    effective-order convention, extended to the pooled order set);
    chrF++ = (1+β²)·chrP·chrR / (β²·chrP + chrR).

    Word grams use the engine tokenizer (functions/text.tokens, the
    documented stand-in for the paper's punctuation tokenizer).

    Plan: chrf_score's char-order frame unioned with
    :func:`clipped_ngram_stats`' word-order frame — both are the same
    (id, n, overlap, cand_grams, ref_grams) shape, the word orders
    offset by 100 to keep the keys distinct — → chrf_score's ONE
    pair-keyed reduce. Pair-keyed end-to-end, exactly chrf_score's
    shape plus one union arm; only the emit differs (below).

    Output per pair: (id, chr_p, chr_r, chrf_pp) — 6dp; empty-side
    conventions exactly as chrf_score (both empty → 1, one side empty
    → 0), judged over the pooled char+word surface.
    """
    if max_n < 1 or word_order < 1:
        raise ValueError("max_n and word_order must be >= 1")
    ns = tuple(range(1, max_n + 1))
    wns = tuple(range(1, word_order + 1))
    chars_part = _clipped_stats(
        pairs, id_col, _chars(cand_col), _chars(ref_col), ns, _char_grams, F.length
    )
    words_part = clipped_ngram_stats(
        pairs, cand_col, ref_col, id_col, wns
    ).withColumn("n", F.col("n") + 100)
    per_pair, chr_p, chr_r, chrf = _chrf_reduce(
        chars_part.unionByName(words_part), id_col, beta
    )

    # emit through a 9dp decimal: the order means are decimal-sum/k
    # doubles that can land EXACTLY on a 6dp half boundary (a 7-digit
    # rational like 4.110148/8 = 0.5137685 did at sf0.1), where the
    # engines' double-rounding conventions split; decimal rounding is
    # HALF_UP in both (the q421 emit discipline)
    def emit(c: Column) -> Column:
        return F.round(
            F.round(c, 9).cast("decimal(25,9)"), 6
        ).cast("double")

    return per_pair.select(
        id_col,
        emit(chr_p).alias("chr_p"),
        emit(chr_r).alias("chr_r"),
        emit(chrf).alias("chrf_pp"),
    )


def rouge_l(
    pairs: DataFrame,
    cand_col: str = "cand",
    ref_col: str = "ref",
    id_col: str = "pair_id",
) -> DataFrame:
    """ROUGE-L per pair (Lin, ACL-WS 2004 §3.1 — LCS-based: credits
    in-ORDER subsequence overlap without requiring contiguity, the
    gap between ROUGE-1's bag-of-words and ROUGE-2's strict bigrams):
    LCS computed as (|c|+|r| − d_indel)/2 where d_indel is the
    insertion/deletion-only edit distance (no substitutions) — the
    same Arrow DP kernel class as word_error_rate; P = LCS/|c|,
    R = LCS/|r|, F = 2PR/(P+R) (the β=1 F-measure of the rouge-score
    reference implementation; the paper's recall-weighted β is a
    parameter non-goal, documented).

    Rows-only by design: LCS has no SQL-expressible form (the
    bijection-invariance trick that oracles word_error_rate does not
    apply — levenshtein allows substitutions, d_indel must not), so
    correctness is pinned by law/hand-case pytests: identity → LCS =
    len, disjoint → 0, subsequence → |shorter|, and the multiset
    bound LCS ≤ token_f1 overlap on every fixture row.

    Output per pair: (id, n_cand, n_ref, lcs, rouge_l_p, rouge_l_r,
    rouge_l_f) — counts LONG, ratios 6dp; both sides empty → F 1
    (vacuous), one empty → 0.
    """

    def score(a: list[str], b: list[str]) -> tuple:
        n, m = len(a), len(b)
        lcs = (n + m - _align_dist(a, b, substitute=False)) // 2
        if n == 0 and m == 0:
            p = r = f = 1.0
        elif n == 0 or m == 0:
            p = r = f = 0.0
        else:
            p = round(lcs / n, 6)
            r = round(lcs / m, 6)
            f = round(2 * lcs / (n + m), 6)
        return n, m, lcs, p, r, f

    return _score_pair_rows(
        pairs, cand_col, ref_col, id_col,
        "n_cand long, n_ref long, lcs long, "
        "rouge_l_p double, rouge_l_r double, rouge_l_f double",
        score,
    )
