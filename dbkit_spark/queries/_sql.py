"""Helpers shared by queries in more than one domain module: DuckDB
oracle-SQL fragments (md5 shard/bucket rules, token lists, feature and
eval-pair CTEs), the oracles that two queries in different modules
check against, and the eval frames they derive. A helper used by one
domain module lives in that module instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..sources import read_table


_TOKS4_SQL = """
  SELECT doc_id, text, lang,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
"""


# md5-rule shard expression shared by the oracles below (the engine-wide
# portable hash construction: first 6 hex digits of md5(key || salt)).
def _shard_sql(key_sql: str, salt: str, n: int) -> str:
    return (
        f"CAST(list_sum(list_transform(generate_series(1, 6), i -> "
        f"CAST((strpos('0123456789abcdef', substr(md5(concat({key_sql}, "
        f"'{salt}')), i, 1)) - 1) AS BIGINT) "
        f"* CAST(power(16, 6 - i) AS BIGINT))) AS BIGINT) % {n}"
    )


_Q256_ORACLE = """
    WITH RECURSIVE capped AS (
      SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id)
               AS rn
      FROM events WHERE value IS NOT NULL
      QUALIFY rn <= 60
    ),
    stats AS (
      SELECT user_id, COUNT(*) AS n,
             SUM(CAST(round(value, 9) AS DECIMAL(38,9))) AS sx,
             SUM(CAST(round(round(value, 9) * round(value, 9), 9)
                 AS DECIMAL(38,9))) AS sxx
      FROM capped GROUP BY 1
    ),
    mus AS (
      SELECT user_id, CAST(sx AS DOUBLE) / n AS mu,
             sqrt((CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / n)
               AS sigma
      FROM stats
    ),
    zs AS (
      SELECT c.user_id, c.event_id, c.rn, (c.value - m.mu) / m.sigma AS z
      FROM capped c JOIN mus m USING (user_id)
    ),
    rec AS (
      SELECT user_id, event_id, rn, z,
             GREATEST(0, z - 0.25) AS sp,
             GREATEST(0, -z - 0.25) AS sn
      FROM zs WHERE rn = 1
      UNION ALL
      SELECT s.user_id, s.event_id, s.rn, s.z,
             GREATEST(0, r.sp + s.z - 0.25),
             GREATEST(0, r.sn - s.z - 0.25)
      FROM zs s JOIN rec r ON s.user_id = r.user_id AND s.rn = r.rn + 1
    )
    SELECT user_id, event_id, z, sp AS s_pos, sn AS s_neg,
           (sp > 2.0 OR sn > 2.0) AS alarm
    FROM rec ORDER BY user_id, event_id
"""


_MULT = 2654435761  # Knuth multiplicative constant (shared with llm/audio)


def _hash_mod(col, salt: int, m: int):
    """Portable deterministic noise: ((key + salt) * MULT) % m, all
    BIGINT — identical in Spark and DuckDB."""
    return ((col + F.lit(salt)) * F.lit(_MULT)) % F.lit(m)


def _hash_mod_sql(expr: str, salt: int, m: int) -> str:
    return f"(({expr} + {salt}) * {_MULT}) % {m}"


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


# DuckDB twin of functions/text.tokens
_T = "list_filter(string_split_regex(lower({c}), '[^a-z0-9]+'), x -> x <> '')"


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
