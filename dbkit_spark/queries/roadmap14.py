"""Catalog queries q433–q460, each registered where it is defined.

Theme: the GENERATION-EVALUATION layer (token-F1/EM, corpus BLEU,
ROUGE-N, chrF, distinct-n diversity, pooled self-BLEU — the
model-output metrics a training-data engine needs the moment its
corpora start producing models) plus the remaining curation canon
(C4 line battery, Gopher duplicate line/paragraph rules, Heaps'-law
vocabulary growth) and eval/experimentation completions (ECE/MCE under
both binnings, MAUVE-style divergence frontier, 2x2 factorial
interaction, Kendall tau-b leaderboard stability). Same template as
the r9-r13 additions: operator + law/hand-case pytests
(tests/test_round14.py) + oracle pre-verified at sf0.001 and sf0.01
(tests/test_oracle.py) at the
driver-canon contract of SURVEY.md Section 5.3 (scalar outputs only,
identical aliases both engines, unique tiebreakers).

Eval-pair derivation (shared by q433-q436/q446): the fixture has no
(candidate, reference) table, so pairs derive deterministically from
``documents`` IN BOTH ENGINES — ref = the doc's text; cand = the next
doc's text within the language (doc_id order) for doc_id % 3 = 0 (a
"wrong but related" candidate), else the doc's own first-half tokens
(a "truncated but faithful" candidate). Every derivation step is
engine-portable integer/list arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import register
from ..functions.text import tokens
from ..sources import read_table


# DuckDB twin of functions/text.tokens
_T = "list_filter(string_split_regex(lower({c}), '[^a-z0-9]+'), x -> x <> '')"

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


# --- q439: C4 line-filter battery --------------------------------------------


def _lined_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic line structure over the (newline-free) fixture
    text: lines of 8 tokens, '.'-terminated except every 4th line
    (doc-offset so the pattern varies across docs) — replayed
    list-arithmetic-for-list-arithmetic by the oracle."""
    docs = read_table(spark, sf_dir, "documents")
    t = tokens("text")
    nl = F.ceil(F.size(t) / F.lit(8)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), nl - 1),
        lambda j: F.concat(
            F.array_join(F.slice(t, j * 8 + 1, 8), " "),
            F.when((F.col("doc_id") + j) % 4 == 0, F.lit("")).otherwise(
                F.lit(".")
            ),
        ),
    )
    text2 = F.when(F.size(t) == 0, F.lit("")).otherwise(
        F.array_join(lines, "\n")
    )
    return docs.select("doc_id", text2.alias("text"))


_LINED_SQL = f"""
  SELECT doc_id,
         CASE WHEN len(t) = 0 THEN '' ELSE
           array_to_string(
             list_transform(
               generate_series(0, CAST(ceil(len(t) / 8.0) AS INTEGER) - 1),
               j -> array_to_string(list_slice(t, j * 8 + 1, j * 8 + 8), ' ')
                    || CASE WHEN (doc_id + j) % 4 = 0 THEN '' ELSE '.' END),
             chr(10))
         END AS text
  FROM (SELECT doc_id, {_T.format(c='text')} AS t FROM documents)
"""


def q439_c4_line_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (llm/quality.c4_line_filters) over
    deterministically line-structured fixture text — per doc the
    kept/dropped line accounting, reassembled clean text, and the
    page verdict."""
    from ..llm.quality import c4_line_filters

    return c4_line_filters(_lined_docs(spark, sf_dir)).orderBy("doc_id")


def _q439_oracle() -> str:
    keep = (
        "regexp_matches(trim(l), '[.!?][\"'']?$') "
        "AND len(list_filter(string_split_regex(trim(l), '\\s+'), "
        "x -> x <> '')) >= 5 "
        "AND NOT regexp_matches(lower(trim(l)), 'javascript')"
    )
    return f"""
    WITH lined AS ({_LINED_SQL}),
    split_docs AS (
      SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM lined),
    judged AS (
      SELECT doc_id, text, ls,
             list_filter(ls, l -> {keep}) AS kept
      FROM split_docs)
    SELECT doc_id,
           CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept,
           CAST(COALESCE(list_sum(list_transform(kept, l -> length(l))), 0)
                AS BIGINT) AS kept_chars,
           COALESCE(array_to_string(kept, chr(10)), '') AS clean_text,
           (strpos(text, '{{') > 0 OR strpos(text, '}}') > 0) AS has_brace,
           strpos(lower(text), 'lorem ipsum') > 0 AS has_lorem,
           (len(kept) >= 3
            AND NOT (strpos(text, '{{') > 0 OR strpos(text, '}}') > 0)
            AND NOT strpos(lower(text), 'lorem ipsum') > 0) AS page_pass
    FROM judged ORDER BY doc_id
    """


_Q439_NOTES = (
    "C4 LINE-FILTER BATTERY (llm/quality.c4_line_filters — Raffel et "
    "al. JMLR 2020 section 2.2, the rules that made C4 from Common "
    "Crawl: line ends in terminal punctuation, >= 5 words, no "
    "'javascript'; page keeps >= 3 lines, no curly brace, no 'lorem "
    "ipsum'): ONE posexplode + map-side codegen predicates + doc-keyed "
    "reassembly (sort_array over (pos, line) structs) — doc-keyed "
    "end-to-end, rules lift to readStream; fixture text is "
    "newline-free so the query derives deterministic 8-token lines "
    "with a (doc_id+j)%4 punctuation pattern, replayed by the oracle "
    "list-for-list"
)

register("q439_c4_line_filters", _q439_oracle(), _Q439_NOTES)(q439_c4_line_filters)


# --- q440: Gopher duplicate line/paragraph fractions -------------------------


def _para_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line/paragraph structure for the dup-fraction rules: 3-token
    lines (short enough that the fixture's small vocabulary produces
    real within-doc duplicates), 4 lines per paragraph."""
    docs = read_table(spark, sf_dir, "documents")
    t = tokens("text")
    nl = F.ceil(F.size(t) / F.lit(3)).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), nl - 1),
        lambda j: F.array_join(F.slice(t, j * 3 + 1, 3), " "),
    )
    np_ = F.ceil(nl / F.lit(4)).cast("int")
    paras = F.transform(
        F.sequence(F.lit(0), np_ - 1),
        lambda k: F.array_join(F.slice(lines, k * 4 + 1, 4), "\n"),
    )
    text2 = F.when(F.size(t) == 0, F.lit("")).otherwise(
        F.array_join(paras, "\n\n")
    )
    return docs.select("doc_id", text2.alias("text"))


_PARA_SQL = f"""
  SELECT doc_id,
         CASE WHEN len(t) = 0 THEN '' ELSE
           array_to_string(
             list_transform(
               generate_series(0, CAST(ceil(CAST(ceil(len(t) / 3.0) AS INTEGER)
                                            / 4.0) AS INTEGER) - 1),
               k -> array_to_string(
                      list_slice(
                        list_transform(
                          generate_series(0,
                            CAST(ceil(len(t) / 3.0) AS INTEGER) - 1),
                          j -> array_to_string(
                                 list_slice(t, j * 3 + 1, j * 3 + 3), ' ')),
                        k * 4 + 1, k * 4 + 4),
                      chr(10))),
             chr(10) || chr(10))
         END AS text
  FROM (SELECT doc_id, {_T.format(c='text')} AS t FROM documents)
"""


def q440_dup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher duplicate line/paragraph fractions (llm/quality.
    dup_segment_fractions) over derived line/paragraph structure —
    the four A1.1 rules gopher_repetition_filters does not cover."""
    from ..llm.quality import dup_segment_fractions

    return dup_segment_fractions(_para_docs(spark, sf_dir)).orderBy("doc_id")


def _q440_oracle() -> str:
    def side(sep: str, tag: str) -> str:
        return f"""
    {tag}seg AS (
      SELECT doc_id, seg FROM (
        SELECT doc_id, unnest(string_split(text, {sep})) AS seg
        FROM lined)
      WHERE trim(seg) <> ''),
    {tag}cnt AS (
      SELECT doc_id, seg, COUNT(*) AS c, length(seg) AS sl
      FROM {tag}seg GROUP BY doc_id, seg),
    {tag}st AS (
      SELECT doc_id, SUM(c) AS n_{tag},
             COALESCE(SUM(CASE WHEN c >= 2 THEN c END), 0) AS dup_{tag},
             SUM(c * sl) AS ch_{tag},
             COALESCE(SUM(CASE WHEN c >= 2 THEN c * sl END), 0)
               AS dupch_{tag}
      FROM {tag}cnt GROUP BY doc_id)"""

    def frac(num: str, den: str) -> str:
        return (
            f"round(CASE WHEN COALESCE({den}, 0) > 0 "
            f"THEN COALESCE({num}, 0) / {den} ELSE 0.0 END, 6)"
        )

    lf = frac("dup_l", "n_l")
    lcf = frac("dupch_l", "ch_l")
    pf = frac("dup_p", "n_p")
    pcf = frac("dupch_p", "ch_p")
    return f"""
    WITH lined AS ({_PARA_SQL}),{side("chr(10)", "l")},{side(
        "chr(10) || chr(10)", "p"
    )},
    joined AS (
      SELECT d.doc_id,
             lst.n_l, lst.dup_l, lst.ch_l, lst.dupch_l,
             pst.n_p, pst.dup_p, pst.ch_p, pst.dupch_p
      FROM (SELECT doc_id FROM documents) d
      LEFT JOIN lst ON d.doc_id = lst.doc_id
      LEFT JOIN pst ON d.doc_id = pst.doc_id),
    fr AS (
      SELECT doc_id,
             CAST(COALESCE(n_l, 0) AS BIGINT) AS n_lines,
             {lf} AS dup_line_frac,
             {lcf} AS dup_line_char_frac,
             CAST(COALESCE(n_p, 0) AS BIGINT) AS n_paras,
             {pf} AS dup_para_frac,
             {pcf} AS dup_para_char_frac
      FROM joined)
    SELECT doc_id, n_lines, dup_line_frac, dup_line_char_frac,
           n_paras, dup_para_frac, dup_para_char_frac,
           dup_line_frac <= 0.30 AS rule_dup_line,
           dup_para_frac <= 0.30 AS rule_dup_para,
           dup_line_char_frac <= 0.20 AS rule_dup_line_char,
           dup_para_char_frac <= 0.20 AS rule_dup_para_char,
           (dup_line_frac <= 0.30 AND dup_para_frac <= 0.30
            AND dup_line_char_frac <= 0.20 AND dup_para_char_frac <= 0.20)
             AS passes
    FROM fr ORDER BY doc_id
    """


_Q440_NOTES = (
    "GOPHER DUPLICATE LINE/PARAGRAPH RULES (llm/quality."
    "dup_segment_fractions — Rae et al. 2021 Appendix A1.1 first "
    "block: duplicate-line fraction > 0.30, duplicate-paragraph > "
    "0.30, duplicated-line CHAR fraction > 0.20, duplicated-paragraph "
    "char > 0.20 — the whole-segment repeats the n-gram char rules "
    "of q405 under-weight): per separator ONE explode + (doc, "
    "segment) count agg + doc-keyed reduce, joined on the doc key; "
    "every occurrence of a duplicated segment counts, char mass "
    "separator-free, empty segments excluded both sides; fixture "
    "gets derived 3-token lines / 4-line paragraphs (small vocab -> "
    "real duplicates), oracle replays the nested list construction"
)

register("q440_dup_segments", _q440_oracle(), _Q440_NOTES)(q440_dup_segments)


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


# --- q442: MAUVE-style divergence frontier -----------------------------------


def q442_mauve_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Divergence frontier between the even- and odd-vec_id halves of
    the embeddings corpus over their cluster labels
    (operators/drift.mauve_frontier)."""
    from ..operators.drift import mauve_frontier

    emb = read_table(spark, sf_dir, "embeddings")
    p_df = emb.filter(F.col("vec_id") % 2 == 0)
    q_df = emb.filter(F.col("vec_id") % 2 == 1)
    return mauve_frontier(p_df, q_df, "label").orderBy("lam")


def _q442_oracle() -> str:
    return """
    WITH hp AS (SELECT label AS cell, COUNT(*) AS cp FROM embeddings
                WHERE vec_id % 2 = 0 GROUP BY label),
    hq AS (SELECT label AS cell, COUNT(*) AS cq FROM embeddings
           WHERE vec_id % 2 = 1 GROUP BY label),
    cells AS (
      SELECT COALESCE(hp.cell, hq.cell) AS cell,
             COALESCE(cp, 0) AS cp, COALESCE(cq, 0) AS cq
      FROM hp FULL OUTER JOIN hq ON hp.cell = hq.cell),
    tot AS (SELECT CAST(SUM(cp) AS BIGINT) AS n_p,
                   CAST(SUM(cq) AS BIGINT) AS n_q,
                   CAST(COUNT(*) AS BIGINT) AS n_cells FROM cells),
    lams AS (SELECT round(i / 20.0, 9) AS lam
             FROM generate_series(1, 19) t(i)),
    terms AS (
      SELECT lam, cp, cq, n_p, n_q, n_cells,
             cp / n_p AS p, cq / n_q AS q
      FROM cells CROSS JOIN tot CROSS JOIN lams),
    per_lam AS (
      SELECT lam,
             COALESCE(SUM(CASE WHEN cq > 0 THEN
               CAST(round(q * ln(q / (lam * p + (1 - lam) * q)), 9)
                    AS DECIMAL(25,9)) END), 0) AS klq,
             COALESCE(SUM(CASE WHEN cp > 0 THEN
               CAST(round(p * ln(p / (lam * p + (1 - lam) * q)), 9)
                    AS DECIMAL(25,9)) END), 0) AS klp,
             min(n_p) AS n_p, min(n_q) AS n_q, min(n_cells) AS n_cells
      FROM terms GROUP BY lam),
    pts AS (
      SELECT lam, n_p, n_q, n_cells,
             CAST(klq AS DOUBLE) AS kq, CAST(klp AS DOUBLE) AS kp,
             round(exp(-CAST(klq AS DOUBLE)), 9) AS x,
             round(exp(-CAST(klp AS DOUBLE)), 9) AS y
      FROM per_lam),
    lagged AS (
      SELECT *, lag(x) OVER (ORDER BY x, lam) AS xp,
             lag(y) OVER (ORDER BY x, lam) AS yp
      FROM pts),
    auc AS (
      SELECT round(CAST(COALESCE(SUM(CASE WHEN xp IS NOT NULL THEN
               CAST(round((x - xp) * (y + yp) / 2, 9) AS DECIMAL(25,9))
             END), 0) AS DOUBLE), 6) AS frontier_auc
      FROM lagged)
    SELECT lam, round(kq, 6) AS kl_q_mix, round(kp, 6) AS kl_p_mix,
           round(x, 6) AS x, round(y, 6) AS y,
           frontier_auc, n_p, n_q, n_cells
    FROM pts CROSS JOIN auc ORDER BY lam
    """


_Q442_NOTES = (
    "MAUVE-STYLE DIVERGENCE FRONTIER (operators/drift.mauve_frontier "
    "— Pillutla et al. NeurIPS 2021 outstanding paper, the open-ended "
    "generation metric: two corpora quantized into shared cells, then "
    "KL(Q||R_lam)/KL(P||R_lam) traced over the mixture grid, area "
    "under (e^-c, e^-d)): quantization labels supplied by the caller "
    "(the engine's kmeans/IVF cells) so the ONLY corpus-sized work is "
    "ONE label-keyed count per side; the lam grid is OPEN (0,1) so KL "
    "is finite without smoothing (R_lam >= lam*P on P's support); KL "
    "terms ln at 9dp ride DECIMAL(25,9) sums over the labels-sized "
    "frame, trapezoid fold over the 19-point literal grid; scaling "
    "constant fixed at 1 (documented simplification of the paper's c)"
)

register("q442_mauve_frontier", _q442_oracle(), _Q442_NOTES)(q442_mauve_frontier)


# --- q443: Heaps'-law vocabulary growth --------------------------------------


def q443_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law V = K n^beta fit over the documents corpus in doc_id
    order (llm/quality.heaps_law_fit), 10 exact checkpoint deciles."""
    from ..llm.quality import heaps_law_fit

    docs = read_table(spark, sf_dir, "documents")
    return heaps_law_fit(docs, checkpoints=10)


def _q443_oracle() -> str:
    return f"""
    WITH toks AS (SELECT doc_id, {_T.format(c='text')} AS t FROM documents),
    cnt AS (SELECT COUNT(*) AS c FROM documents),
    ranked AS (SELECT CAST(doc_id AS DOUBLE) AS dv,
                      row_number() OVER (ORDER BY CAST(doc_id AS DOUBLE))
                        AS rn
               FROM documents),
    edges AS (SELECT DISTINCT dv AS e FROM ranked
              WHERE EXISTS (SELECT 1 FROM generate_series(1, 9) g(i), cnt
                            WHERE ranked.rn = CAST(ceil(g.i * cnt.c / 10.0)
                                                   AS BIGINT))),
    bounds AS (SELECT DISTINCT e FROM (
                 SELECT e FROM edges
                 UNION
                 SELECT CAST(max(doc_id) AS DOUBLE) FROM documents)),
    bidx AS (SELECT e, row_number() OVER (ORDER BY e) - 1 AS idx
             FROM bounds),
    interior AS (SELECT e FROM bidx
                 WHERE idx < (SELECT max(idx) FROM bidx)),
    doc_ck AS (SELECT t.doc_id, len(t.t) AS ntok,
                      (SELECT COUNT(*) FROM interior i
                       WHERE i.e < CAST(t.doc_id AS DOUBLE)) AS ckpt
               FROM toks t),
    tok_ck AS (SELECT ckpt, SUM(ntok) AS tk FROM doc_ck GROUP BY ckpt),
    first_doc AS (SELECT tok, min(doc_id) AS fd
                  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
                  GROUP BY tok),
    type_ck AS (SELECT (SELECT COUNT(*) FROM interior i
                        WHERE i.e < CAST(fd AS DOUBLE)) AS ckpt,
                       COUNT(*) AS ty
                FROM first_doc GROUP BY 1),
    curve AS (
      SELECT b.idx AS ckpt, b.e AS max_doc_id,
             SUM(COALESCE(tk.tk, 0)) OVER (ORDER BY b.idx
               ROWS UNBOUNDED PRECEDING) AS n_tokens_cum,
             SUM(COALESCE(ty.ty, 0)) OVER (ORDER BY b.idx
               ROWS UNBOUNDED PRECEDING) AS vocab_cum
      FROM bidx b
      LEFT JOIN tok_ck tk ON b.idx = tk.ckpt
      LEFT JOIN type_ck ty ON b.idx = ty.ckpt),
    pts AS (SELECT round(ln(n_tokens_cum), 9) AS x,
                   round(ln(vocab_cum), 9) AS y
            FROM curve WHERE n_tokens_cum > 0 AND vocab_cum > 0),
    m AS (SELECT COUNT(*) AS k,
                 SUM(CAST(x AS DECIMAL(25,9))) AS sx,
                 SUM(CAST(y AS DECIMAL(25,9))) AS sy,
                 SUM(CAST(round(x * x, 9) AS DECIMAL(25,9))) AS sxx,
                 SUM(CAST(round(x * y, 9) AS DECIMAL(25,9))) AS sxy,
                 SUM(CAST(round(y * y, 9) AS DECIMAL(25,9))) AS syy
          FROM pts),
    terms AS (
      SELECT k,
             CAST(sx AS DOUBLE) AS dx, CAST(sy AS DOUBLE) AS dy,
             k * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
             k * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den_b,
             k * CAST(syy AS DOUBLE)
               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS den_y
      FROM m),
    fit AS (
      SELECT round(CASE WHEN den_b <> 0 THEN num / den_b END, 6) + 0.0
               AS beta,
             round(CASE WHEN den_b <> 0
                        THEN (dy - (num / den_b) * dx) / k END, 6) + 0.0
               AS ln_k,
             round(CASE WHEN den_b <> 0 AND den_y <> 0
                        THEN num * num / (den_b * den_y) END, 6) + 0.0
               AS r2
      FROM terms)
    SELECT CAST(curve.ckpt AS BIGINT) AS ckpt, curve.max_doc_id,
           CAST(curve.n_tokens_cum AS BIGINT) AS n_tokens_cum,
           CAST(curve.vocab_cum AS BIGINT) AS vocab_cum,
           fit.beta, fit.ln_k, fit.r2
    FROM curve CROSS JOIN fit ORDER BY curve.ckpt
    """


_Q443_NOTES = (
    "HEAPS'-LAW VOCABULARY GROWTH FIT (llm/quality.heaps_law_fit — "
    "Heaps 1978 / Herdan 1960, V = K*n^beta; the growth-curve "
    "companion to q426's Good-Turing saturation readout): each token "
    "type attributed to the checkpoint bucket of its FIRST document "
    "(one token-keyed MIN agg), token mass one doc-keyed SUM — the "
    "naive cumulative-distinct-per-doc SinglePartition corpus window "
    "collapses to K-row cumulative sums; checkpoint edges are exact "
    "rank-selected doc_ids (quantile_edges_exact fixture/oracle mode, "
    "metadata collect); log-log OLS closed form on DECIMAL(25,9) "
    "moments (the q384 Zipf machinery)"
)

register("q443_heaps_fit", _q443_oracle(), _Q443_NOTES)(q443_heaps_fit)


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


# --- q445: Kendall tau-b leaderboard stability -------------------------------


def q445_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b (operators/preference.kendall_tau_b) between two
    scorings of the event-type 'leaderboard': mean event value vs
    event frequency — do the two orderings agree?"""
    from ..operators.preference import kendall_tau_b

    ev = read_table(spark, sf_dir, "events")
    items = ev.groupBy("event_type").agg(
        (
            F.sum(F.round(F.col("value"), 9).cast("decimal(25,9)")).cast(
                "double"
            )
            / F.count("*")
        ).alias("mean_value"),
        F.count("*").cast("double").alias("freq"),
    )
    return kendall_tau_b(items, "mean_value", "freq", id_col="event_type")


def _q445_oracle() -> str:
    return """
    WITH items AS (
      SELECT event_type AS item,
             CAST(SUM(CAST(round(value, 9) AS DECIMAL(25,9))) AS DOUBLE)
               / COUNT(*) AS x,
             CAST(COUNT(*) AS DOUBLE) AS y
      FROM events GROUP BY event_type),
    pairs AS (
      SELECT sign(b.x - a.x) AS sx, sign(b.y - a.y) AS sy
      FROM items a JOIN items b ON a.item < b.item),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CASE WHEN sx * sy > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS concordant,
             CAST(SUM(CASE WHEN sx * sy < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS discordant,
             CAST(SUM(CASE WHEN sx = 0 AND sy <> 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS ties_x,
             CAST(SUM(CASE WHEN sx <> 0 AND sy = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS ties_y,
             CAST(SUM(CASE WHEN sx = 0 AND sy = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS ties_both
      FROM pairs),
    ni AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items FROM items)
    SELECT ni.n_items, agg.n_pairs, agg.concordant, agg.discordant,
           agg.ties_x, agg.ties_y, agg.ties_both,
           CASE WHEN (agg.n_pairs - (agg.ties_x + agg.ties_both))
                     * (agg.n_pairs - (agg.ties_y + agg.ties_both)) > 0
                THEN round((agg.concordant - agg.discordant)
                     / sqrt(CAST((agg.n_pairs
                                  - (agg.ties_x + agg.ties_both))
                                 * (agg.n_pairs
                                    - (agg.ties_y + agg.ties_both))
                                 AS DOUBLE)), 6)
           END AS tau_b
    FROM agg CROSS JOIN ni
    """


_Q445_NOTES = (
    "KENDALL TAU-B (operators/preference.kendall_tau_b — Kendall "
    "1938, tie correction 1945; the leaderboard-stability readout "
    "next to q419's Bradley-Terry and mlmetrics' Spearman — "
    "pair-concordance with the tie story): input is an ITEMS-SIZED "
    "frame (the q419/q420 bounded class), the i<j self-equi-join is "
    "items^2-bounded by construction, NEVER corpus-sized; C/D/ties "
    "are exact LONG sign comparisons on raw scores (no rank pass "
    "needed), tau-b one sqrt at 6dp (q421 contract), zero-denominator "
    "(all-tied scoring) degrades to NULL"
)

register("q445_kendall_tau", _q445_oracle(), _Q445_NOTES)(q445_kendall_tau)


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


def _f1_frac_sql(den: int, out: str) -> str:
    """Per-pair token-F1 of the first-1/den truncation vs the full
    doc, as a standalone SELECT (expects a ``toks`` CTE in scope)."""
    return f"""
    SELECT b.pair_id,
           round(CASE WHEN b.nc = 0 AND b.nr = 0 THEN 1.0
                      ELSE 2.0 * COALESCE(o.ov, 0) / (b.nc + b.nr) END, 6)
             AS {out}
    FROM (SELECT pair_id, len(ct) AS nc, len(rt) AS nr FROM sl{den}) b
    LEFT JOIN (
      SELECT cc.pair_id, SUM(least(cc.c, rc.c)) AS ov
      FROM (SELECT pair_id, tok, COUNT(*) AS c
            FROM (SELECT pair_id, unnest(ct) AS tok FROM sl{den})
            GROUP BY pair_id, tok) cc
      JOIN (SELECT pair_id, tok, COUNT(*) AS c
            FROM (SELECT pair_id, unnest(rt) AS tok FROM sl{den})
            GROUP BY pair_id, tok) rc
        ON cc.pair_id = rc.pair_id AND cc.tok = rc.tok
      GROUP BY cc.pair_id) o ON b.pair_id = o.pair_id
    """


def _sl_sql(den: int) -> str:
    return (
        f"SELECT pair_id, rt, list_slice(rt, 1, "
        f"greatest(CAST(ceil(len(rt) / {den}.0) AS INTEGER), 1)) AS ct "
        "FROM toks"
    )


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


# --- q449: streaming eval gate -----------------------------------------------


def q449_stream_eval_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-F1 eval gate AT INGEST (llm/texteval.truncation_eval_gate
    composed into the readStream path): the map-only HOF form of
    token-F1 scores each doc's deterministic candidate rewrite as it
    streams in; availableNow replay == batch run row-for-row (the
    q398/q414 convention) — extending the map-only-lifts-to-streaming
    rule to the EVALUATION family."""
    from ..llm.texteval import truncation_eval_gate
    from ..schema import TABLE_SCHEMAS
    from ..streaming.runner import run_available_now

    stream = (
        spark.readStream.schema(TABLE_SCHEMAS["documents"])
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    gated = truncation_eval_gate(stream)
    return run_available_now(gated, output_mode="append").orderBy("doc_id")


def _q449_oracle() -> str:
    cand = (
        "list_concat(list_slice(t, 1, k), "
        "list_slice(t, 1, least(3, len(t))))"
    )
    ov = (
        "COALESCE(list_sum(list_transform(list_distinct(cand), tok -> "
        "least(len(list_filter(cand, x -> x = tok)), "
        "len(list_filter(t, x -> x = tok))))), 0)"
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, {_T.format(c='text')} AS t FROM documents),
    kd AS (
      SELECT doc_id, t,
             greatest(CAST(ceil(len(t) * ((doc_id % 5) + 1) / 6.0)
                           AS INTEGER), 1) AS k
      FROM toks),
    cd AS (SELECT doc_id, t, k, {cand} AS cand FROM kd),
    scored AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(k AS BIGINT) AS k_kept,
             round(CASE WHEN len(cand) = 0 AND len(t) = 0 THEN 1.0
                        ELSE 2.0 * ({ov}) / (len(cand) + len(t)) END, 6)
               AS f1
      FROM cd)
    SELECT doc_id, n_tokens, k_kept, f1, f1 >= 0.6 AS passes
    FROM scored ORDER BY doc_id
    """


_Q449_NOTES = (
    "STREAMING EVAL GATE (llm/texteval.truncation_eval_gate over "
    "token_f1_inline — token-F1 as a PURE MAP-ONLY projection via "
    "array HOFs, O(u*n) per row, documented as the streaming/per-row "
    "form while the batch path keeps the explode/join token_f1): "
    "composes into readStream unchanged (append mode, no state); "
    "availableNow replay equals the batch run row-for-row — with "
    "q398 (quality) and q414 (PII) this extends the map-only-lifts "
    "rule to the evaluation family; candidate = doc-varying "
    "truncation + duplicated lead tokens so multiset clipping is "
    "exercised (a pure subset would collapse min to |cand|)"
)

register("q449_stream_eval_gate", _q449_oracle(), _Q449_NOTES)(q449_stream_eval_gate)


# --- q450: two-sample log-rank test ------------------------------------------


def q450_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample log-rank test (operators/survival.logrank_test) over
    the q238 retention subjects, arms = portable-hash coin of the
    user — 'do the two cohorts' conversion curves differ?'."""
    from ..functions.portable_hash import u32_md5
    from ..operators.survival import logrank_test

    ev = read_table(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_purchase"),
    )
    subj = spans.select(
        F.floor(
            (
                F.unix_timestamp(F.coalesce("first_purchase", "last_ts"))
                - F.unix_timestamp("first_ts")
            )
            / F.lit(3600)
        ).alias("duration_h"),
        F.col("first_purchase").isNotNull().cast("int").alias("converted"),
        F.when(u32_md5(F.col("user_id"), "lr") % 2 == 0, "a")
        .otherwise("b")
        .alias("arm"),
    )
    return logrank_test(subj, "duration_h", "converted", "arm", "a", "b")


def _q450_oracle() -> str:
    from ..functions.portable_hash import u32_md5_sql
    from ..operators.mlmetrics import normal_p_two_sided_sql

    coin = f"CASE WHEN ({u32_md5_sql('user_id', 'lr')}) % 2 = 0 " \
           "THEN 'a' ELSE 'b' END"
    return f"""
    WITH spans AS (
      SELECT user_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END)
               AS first_purchase
      FROM events GROUP BY user_id),
    subj AS (
      SELECT CAST(floor((floor(epoch(COALESCE(first_purchase, last_ts)))
                         - floor(epoch(first_ts))) / 3600) AS BIGINT) AS t,
             CASE WHEN first_purchase IS NOT NULL THEN 1 ELSE 0 END AS e,
             CASE WHEN {coin} = 'a' THEN 1 ELSE 0 END AS a
      FROM spans),
    per_t AS (
      SELECT t, CAST(SUM(e) AS BIGINT) AS d,
             CAST(SUM(e * a) AS BIGINT) AS da,
             CAST(COUNT(*) AS BIGINT) AS lv,
             CAST(SUM(a) AS BIGINT) AS lva
      FROM subj GROUP BY t),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
                   CAST(SUM(a) AS BIGINT) AS n_a_all,
                   CAST(SUM(e * a) AS BIGINT) AS events_a,
                   CAST(SUM(e * (1 - a)) AS BIGINT) AS events_b
            FROM subj),
    risk AS (
      SELECT per_t.*, tot.n_all, tot.n_a_all, tot.events_a, tot.events_b,
             n_all - COALESCE(SUM(lv) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS nt,
             n_a_all - COALESCE(SUM(lva) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS nat
      FROM per_t CROSS JOIN tot),
    ev AS (SELECT * FROM risk WHERE d > 0),
    agg AS (
      SELECT CAST(SUM(da) AS BIGINT) AS observed_a,
             SUM(CAST(round(d * (nat / nt), 9) AS DECIMAL(25,9))) AS ea,
             SUM(CAST(round(da - d * (nat / nt), 9) AS DECIMAL(25,9)))
               AS oe,
             COALESCE(SUM(CASE WHEN nt > 1 THEN
               CAST(round(d * (nat / nt) * (1 - nat / nt)
                          * (nt - d) / (nt - 1), 9) AS DECIMAL(25,9))
             END), 0) AS v,
             MAX(n_a_all) AS n_a, MAX(n_all - n_a_all) AS n_b,
             MAX(events_a) AS events_a, MAX(events_b) AS events_b
      FROM ev),
    stat AS (
      SELECT *, CASE WHEN CAST(v AS DOUBLE) > 0
                     THEN CAST(oe AS DOUBLE) / sqrt(CAST(v AS DOUBLE))
                END AS z_raw
      FROM agg)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(events_a AS BIGINT) AS events_a,
           CAST(events_b AS BIGINT) AS events_b,
           observed_a,
           round(CAST(ea AS DOUBLE), 6) AS expected_a,
           round(z_raw, 6) AS z,
           CASE WHEN z_raw IS NOT NULL
                THEN {normal_p_two_sided_sql('z_raw')} END AS p_two_sided
    FROM stat
    """


_Q450_NOTES = (
    "TWO-SAMPLE LOG-RANK TEST (operators/survival.logrank_test — "
    "Mantel 1966; Peto & Peto 1972: the KM companion that answers "
    "'do these two retention curves differ?' across the WHOLE curve "
    "with exact right-censoring handling; O-E vs the pooled-hazard "
    "expectation with the hypergeometric variance, z + the q407 "
    "closed-form p): the kaplan_meier shape per arm — one grouped "
    "count per distinct duration, cumulative windows over the "
    "metadata-sized risk table, ONE 1-row reduce; O/E/V terms ride "
    "DECIMAL(25,9); n<=1 times contribute zero variance (documented); "
    "arms are portable-hash coins so the oracle replays the "
    "assignment digit-for-digit"
)

register("q450_logrank", _q450_oracle(), _Q450_NOTES)(q450_logrank)


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


# --- q452: readability battery -----------------------------------------------


def q452_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch/Flesch-Kincaid readability (llm/quality.
    readability_scores) over the q439 line-structured text (the
    derivation that gives the fixture terminal punctuation, so
    sentence counts vary)."""
    from ..llm.quality import readability_scores

    return readability_scores(_lined_docs(spark, sf_dir)).orderBy("doc_id")


def _q452_oracle() -> str:
    syl = (
        "list_sum(list_transform(t, w -> greatest(len(list_filter("
        "string_split_regex(w, '[^aeiouy]+'), x -> x <> '')), 1)))"
    )
    return f"""
    WITH lined AS ({_LINED_SQL}),
    toks AS (
      SELECT doc_id, text, {_T.format(c='text')} AS t FROM lined),
    scored AS (
      SELECT doc_id,
             len(t) AS n_words,
             {syl} AS syl,
             len(list_filter(string_split_regex(text, '[^.!?]+'),
                 x -> x <> '')) AS sent_raw
      FROM toks)
    SELECT doc_id,
           CAST(CASE WHEN n_words > 0 THEN greatest(sent_raw, 1) END
                AS BIGINT) AS n_sentences,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(CASE WHEN n_words > 0 THEN syl END AS BIGINT)
             AS n_syllables,
           round(CASE WHEN n_words > 0 THEN
             206.835 - 1.015 * (n_words / greatest(sent_raw, 1))
             - 84.6 * (syl / n_words) END, 6) AS flesch_reading_ease,
           round(CASE WHEN n_words > 0 THEN
             0.39 * (n_words / greatest(sent_raw, 1))
             + 11.8 * (syl / n_words) - 15.59 END, 6) AS fk_grade
    FROM scored ORDER BY doc_id
    """


_Q452_NOTES = (
    "FLESCH READING EASE + FLESCH-KINCAID GRADE (llm/quality."
    "readability_scores — Flesch 1948; Kincaid et al. 1975: the "
    "readability signals published quality classifiers feed next to "
    "the Gopher stats; word-salad and legalese both flag as "
    "extremes): MAP-ONLY — token array ops + two regexp counts in "
    "whole-stage codegen, syllables = vowel-group runs floored at 1 "
    "(the standard programmatic approximation, documented), "
    "sentences = terminal-punctuation runs floored at 1; lifts to "
    "readStream (q398/q414/q449 family); single IEEE divisions of "
    "exact integer counts, 6dp; runs over the q439 line-structured "
    "derivation so the fixture has real sentence boundaries"
)

register("q452_readability", _q452_oracle(), _Q452_NOTES)(q452_readability)


# --- q453: Min-K% membership / contamination probe ---------------------------


def q453_min_k_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-K% prob membership score (llm/lm.min_k_membership): the
    q379 bigram reference LM scores the odd-doc_id half; per doc the
    mean log-prob of its 20% least-probable bigrams — the
    reference-free contamination probe."""
    from ..llm.lm import bigram_lm_train, min_k_membership

    docs = read_table(spark, sf_dir, "documents")
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    cand = docs.filter(F.col("doc_id") % 2 == 1)
    bigrams, contexts, vocab = bigram_lm_train(ref)
    return min_k_membership(
        cand, bigrams, contexts, vocab, k=0.5, k_pct=0.2
    ).orderBy("doc_id")


def _q453_oracle() -> str:
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
    ),
    ranked AS (
      SELECT doc_id, nlp,
             row_number() OVER (PARTITION BY doc_id ORDER BY nlp DESC)
               AS rn,
             COUNT(*) OVER (PARTITION BY doc_id) AS n
      FROM scored),
    sel AS (
      SELECT * FROM ranked
      WHERE rn <= greatest(CAST(ceil(n * 0.2) AS BIGINT), 1))
    SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_bigrams,
           CAST(COUNT(*) AS BIGINT) AS m_lowest,
           round(-(CAST(SUM(CAST(nlp AS DECIMAL(38,12))) AS DOUBLE)
                   / COUNT(*)), 6) AS min_k_avg_logprob
    FROM sel GROUP BY doc_id ORDER BY doc_id
    """


_Q453_NOTES = (
    "MIN-K% PROB MEMBERSHIP SCORE (llm/lm.min_k_membership — Shi et "
    "al. ICLR 2024 'Detecting Pretraining Data from LLMs': member "
    "texts lack low-probability outlier tokens, so the mean log-prob "
    "of the k% LEAST-probable tokens separates seen from unseen; "
    "the paraphrase-robust contamination probe next to the exact "
    "13-gram decontaminate matcher): per-term scores from the shared "
    "q379 bigram-LM step (vocab-sized broadcast LEFT joins), ONE "
    "doc-keyed rank window, one doc reduce; top-m-of-a-multiset "
    "selection is value-deterministic without a tiebreaker (ties at "
    "the cut are value-identical, so the decimal mean is invariant); "
    "bigram_lm_score re-verified bit-exact at all three scales after "
    "the _bigram_term_scores extraction (the _centroid_distances "
    "refactor precedent)"
)

register("q453_min_k_membership", _q453_oracle(), _Q453_NOTES)(q453_min_k_membership)


# --- q454: cluster validity indices ------------------------------------------


def q454_cluster_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calinski-Harabasz + Davies-Bouldin (llm/cluster.
    cluster_validity) over the embeddings table's labels."""
    from ..llm.cluster import cluster_validity

    emb = read_table(spark, sf_dir, "embeddings")
    return cluster_validity(emb)


def _q454_oracle() -> str:
    return """
    WITH exploded AS (
      SELECT label, e.dim, e.x
      FROM (
        SELECT label,
               unnest(list_transform(embedding, (v, i) ->
                 struct_pack(dim := i - 1, x := CAST(v AS DOUBLE)))) AS e
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
      SELECT label AS clabel, list(c ORDER BY dim) AS centroid
      FROM per_dim GROUP BY label
    ),
    cdist AS (
      SELECT v.label,
             round(sqrt(list_sum(list_transform(
               generate_series(1, len(c.centroid)),
               i -> round((CAST(v.embedding[i] AS DOUBLE) - c.centroid[i])
                          * (CAST(v.embedding[i] AS DOUBLE) - c.centroid[i]),
                          9)))), 6) AS cd
      FROM embeddings v JOIN cents c ON v.label = c.clabel
    ),
    per_label AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_c,
             CAST(SUM(CAST(cd AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*)
               AS s_i,
             SUM(CAST(round(cd * cd, 9) AS DECIMAL(38,12))) AS w_c
      FROM cdist GROUP BY label
    ),
    gdim AS (
      SELECT dim,
             CAST(SUM(CAST(round(x, 9) AS DECIMAL(38,12))) AS DOUBLE)
               / COUNT(*) AS g
      FROM exploded GROUP BY dim
    ),
    b_label AS (
      SELECT p.label,
             SUM(CAST(round((p.c - g.g) * (p.c - g.g), 9)
                      AS DECIMAL(38,12))) AS b_c
      FROM per_dim p JOIN gdim g ON p.dim = g.dim
      GROUP BY p.label
    ),
    stats AS (
      SELECT pl.label, pl.n_c, pl.s_i, pl.w_c, bl.b_c
      FROM per_label pl JOIN b_label bl ON pl.label = bl.label
    ),
    tot AS (
      SELECT CAST(SUM(n_c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_clusters,
             CAST(SUM(w_c) AS DOUBLE) AS w,
             CAST(SUM(CAST(round(n_c * CAST(b_c AS DOUBLE), 9)
                           AS DECIMAL(38,12))) AS DOUBLE) AS b
      FROM stats
    ),
    dij AS (
      SELECT i.label AS li, j.label AS lj,
             round(sqrt(SUM(CAST(round((i.c - j.c) * (i.c - j.c), 9)
                                 AS DECIMAL(38,12)))::DOUBLE), 6) AS d
      FROM per_dim i JOIN per_dim j
        ON i.dim = j.dim AND i.label <> j.label
      GROUP BY i.label, j.label
    ),
    ratios AS (
      SELECT d.li,
             MAX(CASE WHEN d.d > 0
                      THEN (si.s_i + sj.s_i) / d.d END) AS r
      FROM dij d
      JOIN stats si ON d.li = si.label
      JOIN stats sj ON d.lj = sj.label
      GROUP BY d.li
    ),
    db AS (
      SELECT CAST(SUM(CAST(round(r, 9) AS DECIMAL(38,12))) AS DOUBLE)
               / COUNT(*) AS dbv
      FROM ratios
    )
    SELECT tot.n, tot.n_clusters,
           round(CASE WHEN tot.n_clusters > 1 AND tot.n > tot.n_clusters
                 THEN (tot.b / (tot.n_clusters - 1))
                      / (tot.w / (tot.n - tot.n_clusters)) END, 6)
             AS calinski_harabasz,
           round(CASE WHEN tot.n_clusters > 1 THEN db.dbv END, 6)
             AS davies_bouldin
    FROM tot CROSS JOIN db
    """


_Q454_NOTES = (
    "CLUSTER VALIDITY INDICES (llm/cluster.cluster_validity — "
    "Calinski-Harabasz 1974 variance-ratio criterion (B/(k-1))/"
    "(W/(n-k)) and Davies-Bouldin TPAMI 1979 worst-neighbor "
    "(s_i+s_j)/d_ij — the k-selection readouts next to q309's "
    "silhouette and q394's ARI): ONE decimal-summed centroid build + "
    "ONE labels-sized broadcast join scoring vectors against their "
    "OWN centroid only (strictly cheaper than silhouette); the "
    "global centroid, B, and the labels^2 pairwise d_ij live on "
    "labels-sized frames — nothing all-pairs over vectors; the q309 "
    "9dp-term/6dp-distance fold conventions throughout; k=1 "
    "degrades both indices to NULL"
)

register("q454_cluster_validity", _q454_oracle(), _Q454_NOTES)(q454_cluster_validity)


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


# --- q457-q460: k-system comparison family -----------------------------------

# k "systems" = truncation scorers at denominators (2, 3, 4, 6), each
# scored by token-F1 against the full doc on the SAME items — the
# k-way extension of the q447/q448 paired derivation.
_DENS = (2, 3, 4, 6)


def _multi_sys_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.texteval import token_f1

    docs = read_table(spark, sf_dir, "documents")
    t = tokens("text")
    out = None
    for den in _DENS:
        k = F.greatest(F.ceil(F.size(t) / float(den)).cast("int"), F.lit(1))
        pairs = docs.select(
            F.col("doc_id").alias("pair_id"),
            F.array_join(F.slice(t, 1, k), " ").alias("cand"),
            F.col("text").alias("ref"),
        )
        f = token_f1(pairs).select(
            "pair_id", F.col("f1").alias(f"f1_d{den}")
        )
        out = f if out is None else out.join(f, "pair_id")
    # Lineage barrier (lazy): every consumer fans this frame out —
    # q457/q458 union it k ways and the k-system operators reference
    # the long frame 3x more, so without a barrier the 4-way token_f1
    # derivation re-renders ~12x per plan (244 BHJ nodes in q457's
    # executedPlan text, zero ReusedExchange). The frame is EVAL-SIZED
    # (one row per doc pair — the bounded-eval contract), so
    # checkpoint blocks are small at any corpus scale; lazy keeps the
    # structural plan gates planning-only.
    return out.localCheckpoint(eager=False)


def _multi_sql() -> str:
    sls = ",\n".join(f"sl{d} AS ({_sl_sql(d)})" for d in _DENS)
    fs = ",\n".join(
        f"ff{d} AS ({_f1_frac_sql(d, f'f1_d{d}')})" for d in _DENS
    )
    first = _DENS[0]
    joins = " ".join(
        f"JOIN ff{d} ON ff{first}.pair_id = ff{d}.pair_id"
        for d in _DENS[1:]
    )
    cols = ", ".join(f"ff{d}.f1_d{d}" for d in _DENS)
    return f"""
    toks AS (SELECT doc_id AS pair_id, {_T.format(c='text')} AS rt
             FROM documents),
    {sls},
    {fs},
    wide AS (SELECT ff{first}.pair_id, {cols} FROM ff{first} {joins})
"""


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


def q457_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test (operators/mlmetrics.friedman_test) across
    the four truncation systems on the same items — the omnibus
    'does ANY system rank better?' before pairwise signed-ranks."""
    from ..operators.mlmetrics import friedman_test

    wide = _multi_sys_scores(spark, sf_dir)
    long_ = None
    for den in _DENS:
        part = wide.select(
            F.col("pair_id"),
            F.lit(f"d{den}").alias("sys"),
            F.col(f"f1_d{den}").alias("f1"),
        )
        long_ = part if long_ is None else long_.unionByName(part)
    return friedman_test(long_, "pair_id", "sys", "f1")


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

    wide = _multi_sys_scores(spark, sf_dir)
    long_ = None
    for den in _DENS:
        part = wide.select(
            F.col("pair_id"),
            F.lit(f"d{den}").alias("sys"),
            (F.col(f"f1_d{den}") >= 0.6).cast("int").alias("pass_flag"),
        )
        long_ = part if long_ is None else long_.unionByName(part)
    return cochran_q_test(long_, "pair_id", "sys", "pass_flag")


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


def q459_cronbach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha (operators/agreement.cronbach_alpha) over the
    four systems' f1 scores — do the k scorings measure one
    underlying 'document quality' construct?"""
    from ..operators.agreement import cronbach_alpha

    wide = _multi_sys_scores(spark, sf_dir)
    return cronbach_alpha(wide, [f"f1_d{d}" for d in _DENS])


def _q459_oracle() -> str:
    k = len(_DENS)
    ratio = repr(k / (k - 1.0))
    v9 = [f"round(CAST(f1_d{d} AS DOUBLE), 9)" for d in _DENS]
    total = f"round({' + '.join(v9)}, 9)"
    s_cols = ", ".join(
        f"SUM(CAST({v} AS DECIMAL(25,9))) AS s{i}, "
        f"SUM(CAST(round({v} * {v}, 9) AS DECIMAL(38,18))) AS q{i}"
        for i, v in enumerate(v9)
    )
    var = (
        lambda s, q: f"(CASE WHEN n >= 2 THEN (CAST({q} AS DOUBLE) "
        f"- CAST({s} AS DOUBLE) * CAST({s} AS DOUBLE) / n) / (n - 1) END)"
    )
    sum_iv = "(0 + " + " + ".join(
        var(f"s{i}", f"q{i}") for i in range(k)
    ) + ")"
    tot_v = var("st", "qt")
    return f"""
    WITH {_multi_sql()},
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, {s_cols},
             SUM(CAST({total} AS DECIMAL(25,9))) AS st,
             SUM(CAST(round({total} * {total}, 9) AS DECIMAL(38,18)))
               AS qt
      FROM wide
      WHERE {' AND '.join(f'f1_d{d} IS NOT NULL' for d in _DENS)})
    SELECT n, CAST({k} AS BIGINT) AS k_items,
           round({sum_iv}, 6) AS sum_item_var,
           round({tot_v}, 6) AS total_var,
           round(CASE WHEN {tot_v} > 0
                 THEN {ratio} * (1 - {sum_iv} / {tot_v}) END, 6)
             AS alpha
    FROM m
    """


_Q459_NOTES = (
    "CRONBACH'S ALPHA (operators/agreement.cronbach_alpha — Cronbach "
    "Psychometrika 1951: internal consistency of a k-metric battery — "
    "do k quality signals measure ONE construct, or k different "
    "opinions? The reliability audit next to the rater-agreement "
    "family q316/q317/q424): ONE no-grouping aggregate (per-item "
    "decimal sums + 9dp squares + the exact-decimal row-sum moments), "
    "fixed-form IEEE recombination with sample n-1 variances, "
    "listwise NULL handling (documented)"
)

register("q459_cronbach", _q459_oracle(), _Q459_NOTES)(q459_cronbach)


def q460_bland_altman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bland-Altman agreement (operators/agreement.bland_altman)
    between the 1/2- and 1/3-truncation scorers — bias and 95% limits
    of agreement on the same items."""
    from ..operators.agreement import bland_altman

    wide = _multi_sys_scores(spark, sf_dir)
    return bland_altman(wide, "f1_d2", "f1_d3")


def _q460_oracle() -> str:
    z = repr(1.959964)
    d = "round(CAST(f1_d2 AS DOUBLE) - CAST(f1_d3 AS DOUBLE), 9)"
    return f"""
    WITH {_multi_sql()},
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST({d} AS DECIMAL(25,9))) AS s,
             SUM(CAST(round({d} * {d}, 9) AS DECIMAL(38,18))) AS q
      FROM wide WHERE {d} IS NOT NULL),
    stat AS (
      SELECT n,
             CAST(s AS DOUBLE) / n AS bias,
             CASE WHEN n >= 2 THEN
               sqrt((CAST(q AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                    / (n - 1)) END AS sd
      FROM m)
    SELECT n, round(bias, 6) AS bias, round(sd, 6) AS sd_diff,
           round(bias - {z} * sd, 6) AS loa_lo,
           round(bias + {z} * sd, 6) AS loa_hi
    FROM stat
    """


_Q460_NOTES = (
    "BLAND-ALTMAN AGREEMENT (operators/agreement.bland_altman — "
    "Bland & Altman Lancet 1986: the method-comparison readout for "
    "two CONTINUOUS scorings of the same quantity — correlation says "
    "they move together, Bland-Altman says whether one can REPLACE "
    "the other: bias = mean difference, 95% limits of agreement "
    "bias +/- 1.959964*sd): ONE no-grouping aggregate of 9dp decimal "
    "diffs + squares, sample n-1 sd, the q421 z literal convention"
)

register("q460_bland_altman", _q460_oracle(), _Q460_NOTES)(q460_bland_altman)
