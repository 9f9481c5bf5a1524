"""Windowed (skip-gram) PMI collocation mining over a document corpus.

The corpus-analysis primitive behind phrase detection, tokenizer-merge
seeding, and vocabulary curation: which word pairs co-occur far more
than chance? Pointwise mutual information over a bounded co-occurrence
window, PMI(a,b) = log( P(a,b) / (P(a)·P(b)) ) with probabilities taken
over the pair universe (the word2vec-style window counting).

Relationship to the registered q240 (queries/relational.py
q240_pmi_collocations): q240 is the ADJACENT-BIGRAM special case —
ordered pairs at distance exactly 1, the phrase-detection form. This
operator generalizes to a ±``window`` neighborhood with UNORDERED
accumulation, which is the association statistic embedding training and
topic drift analysis use (non-adjacent co-occurrence like "sort …
merge" is invisible to a bigram counter).

Scale design — the load-bearing choice is WINDOW-based co-occurrence:
counting pairs "anywhere in the same document" is Θ(len²) per document
(the accidental-quadratic class this repo bans); a ±w window emits at
most w pairs per token POSITION, so pair generation is linear in corpus
size for fixed w, and it happens entirely MAP-SIDE (a codegen'd
transform over the token array — no self-join, no shuffle before the
count aggregation). Pairs are unordered (least/greatest) so "new york"
and "york new" accumulate together; marginals count pair SLOTS (each
pair contributes one occurrence to each side), keeping P(a,b), P(a),
P(b) on one consistent sample space.

Portability: counts are exact integers; PMI's single log is the only
libm op, 6dp-rounded (SURVEY §5.3). A DuckDB oracle replays tokens,
windows, pairs, marginals, and the log digit-for-digit.

Reference trace: none — corpus statistics are north-star roadmap
surface (reference stops at scan/project).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens


def pmi_collocations(
    docs: DataFrame,
    text_col: str = "text",
    window: int = 2,
    min_count: int = 5,
) -> DataFrame:
    """(tok_a, tok_b, n_pair, n_a, n_b, pmi) for unordered token pairs
    co-occurring within ``window`` positions at least ``min_count``
    times, tok_a < tok_b. ``pmi`` is 6dp-rounded
    log(n_pair·N / (n_a·n_b)) over the pair universe of size N."""
    if window < 1:
        raise ValueError("window must be >= 1")
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    toks = docs.select(tokens(text_col).alias("_t")).filter(F.size("_t") >= 2)
    # map-side pair emission: for each position i (1-based), pair with
    # positions i+1 .. i+window — flatten(transform(...)) stays inside
    # whole-stage codegen, no join, no python
    pair_arr = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size("_t") - 1),
            lambda i: F.transform(
                F.sequence(
                    i + 1, F.least(i + F.lit(window), F.size("_t"))
                ),
                lambda j: F.struct(
                    F.least(
                        F.element_at(F.col("_t"), i.cast("int")),
                        F.element_at(F.col("_t"), j.cast("int")),
                    ).alias("a"),
                    F.greatest(
                        F.element_at(F.col("_t"), i.cast("int")),
                        F.element_at(F.col("_t"), j.cast("int")),
                    ).alias("b"),
                ),
            ),
        )
    )
    pairs = toks.select(F.explode(pair_arr).alias("p")).select(
        F.col("p.a").alias("tok_a"), F.col("p.b").alias("tok_b")
    )
    pair_counts = pairs.groupBy("tok_a", "tok_b").agg(
        F.count("*").cast("long").alias("n_pair")
    )
    # marginals over pair SLOTS: each pair occurrence contributes one
    # slot to each side (self-pairs contribute two to the same token)
    slots = pairs.select(F.col("tok_a").alias("tok")).unionAll(
        pairs.select(F.col("tok_b").alias("tok"))
    )
    marg = slots.groupBy("tok").agg(F.count("*").cast("long").alias("n_tok"))
    total = pairs.groupBy().agg(F.count("*").cast("long").alias("_n2"))
    out = (
        pair_counts.filter(F.col("n_pair") >= min_count)
        .join(marg.withColumnRenamed("tok", "tok_a").withColumnRenamed("n_tok", "n_a"), "tok_a")
        .join(marg.withColumnRenamed("tok", "tok_b").withColumnRenamed("n_tok", "n_b"), "tok_b")
        .crossJoin(F.broadcast(total))
    )
    # PMI over the slot space: P(a,b) = n_pair/N, P(a) = n_a/(2N) — the
    # 2N slot normalization cancels to a constant log(4) offset under
    # ANY consistent convention; we use the pair-universe form
    # log(n_pair * N / (n_a * n_b)) and document it (what matters for
    # ranking and thresholding is consistency, and the oracle replays
    # this exact formula)
    pmi = F.round(
        F.log(
            F.col("n_pair").cast("double")
            * F.col("_n2").cast("double")
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
        ),
        6,
    )
    return out.select(
        "tok_a", "tok_b", "n_pair", "n_a", "n_b", pmi.alias("pmi")
    )


def fighting_words(
    docs: DataFrame,
    group_col: str,
    group_a,
    text_col: str = "text",
    alpha0: float = 500.0,
    min_total: int = 10,
) -> DataFrame:
    """Per-TERM corpus comparison: the log-odds ratio with an
    informative Dirichlet prior (Monroe, Colaresi & Quinn 2008,
    "Fightin' Words") — which words are overrepresented in corpus A vs
    B, with a z-score that doesn't explode on rare terms the way raw
    log-odds or PMI does. The distribution-level KL divergence (q276)
    says THE corpora differ; this says WHICH terms carry the
    difference — the readout behind domain-shift triage and
    style/source attribution.

    δ_w = ln((y_aw + α_w)/(n_a + α0 − y_aw − α_w))
        − ln((y_bw + α_w)/(n_b + α0 − y_bw − α_w)),
    σ²_w ≈ 1/(y_aw + α_w) + 1/(y_bw + α_w), z = δ/σ — with the prior
    α_w = α0 · (y_aw + y_bw)/N taken from the COMBINED corpus (the
    informative choice that shrinks rare-term estimates toward the
    pooled distribution).

    Output per term with combined count ≥ ``min_total``:
    (token, n_a, n_b, delta, z), delta/z at 6dp (two ln and a sqrt are
    the only libm ops, on engine-identical exact-count operands).

    Scale: one tokenize+explode scan → ONE (token) hash agg with
    conditional sums for the two sides (map-side combinable) → a
    1-row totals broadcast → map-side arithmetic. No joins beyond the
    scalar recombination, no windows.
    """
    side_a = F.col(group_col) == F.lit(group_a)
    tok = docs.select(
        side_a.alias("_a"), F.explode(tokens(text_col)).alias("tok")
    )
    counts = tok.groupBy("tok").agg(
        F.sum(F.when(F.col("_a"), 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(~F.col("_a"), 1).otherwise(0)).cast("long").alias("n_b"),
    )
    tot = counts.groupBy().agg(
        F.sum("n_a").alias("_ta"), F.sum("n_b").alias("_tb")
    )
    c = counts.filter(F.col("n_a") + F.col("n_b") >= min_total).crossJoin(
        F.broadcast(tot)
    )
    big_n = (F.col("_ta") + F.col("_tb")).cast("double")
    alpha_w = F.lit(float(alpha0)) * (
        (F.col("n_a") + F.col("n_b")).cast("double") / big_n
    )
    ya = F.col("n_a").cast("double") + alpha_w
    yb = F.col("n_b").cast("double") + alpha_w
    ra = ya / (F.col("_ta").cast("double") + F.lit(float(alpha0)) - ya)
    rb = yb / (F.col("_tb").cast("double") + F.lit(float(alpha0)) - yb)
    delta = F.log(ra) - F.log(rb)
    z = delta / F.sqrt(1.0 / ya + 1.0 / yb)
    return c.select(
        "tok",
        "n_a",
        "n_b",
        F.round(delta, 6).alias("delta"),
        F.round(z, 6).alias("z"),
    )
