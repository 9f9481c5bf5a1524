"""LLM-data-pipeline queries (SURVEY.md §2.11, BASELINE.md B6/B7):
dedup family, embedding similarity, text analysis, multimodal plumbing,
tokenization and packing, sampling and mixing, quality filters and
curation funnels.

Every pipeline here is mirrored in generated ANSI SQL with the SAME
md5-based hash constructions and constants, so the DuckDB oracle
reproduces signatures, buckets, candidates, and scores bit-for-bit.

Placement rule row 4: a query lands here when it references an ``llm.*``
module not claimed by evaluation or similarity, or ``functions.text``,
``functions.vectors``, ``functions.psl`` or ``functions.net``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import register
from ..functions.text import (
    STOPWORDS,
    avg_word_len,
    fingerprint,
    lang_id,
    normalized_hash,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
    tokens,
)
from ..functions.text import STOPWORDS as _CUR_STOPWORDS
from ..llm.dedup import (
    BAND_ROWS,
    MINHASH_A,
    MINHASH_B,
    MINHASH_K,
    MINHASH_PRIME,
    NUM_BANDS,
    SIMHASH_BITS,
    exact_dedup,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_candidate_pairs,
    simhash_signatures,
)
from ..llm.multimodal import decode_features, with_binary_payload
from ..llm.similarity import ANN_BITS, ann_bucketed, cosine_topk, embedding_near_dup
from ..sources import read_table
from ._sql import (
    _FEATS_SQL,
    _T,
    _TOKS4_SQL,
    _bucket_sql,
    _hash_mod,
    _hash_mod_sql,
    _q383_oracle,
    _q406_oracle,
    _shard_sql,
)


# Shared SQL fragments (constants interpolated so Spark and SQL can never
# drift apart).
_TOKS_SQL = """
  SELECT doc_id, text, lang, source, n_chars,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
"""

_SHINGLES_SQL = f"""
  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(t)-2),
         i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingles
  FROM ({_TOKS_SQL}) WHERE len(t) >= 3
"""

_JACCARD_SQL = (
    "CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) / "
    "(len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles)))"
)


# --- B6: exact dedup -------------------------------------------------------
@register(
    "q39_dedup_exact",
    oracle="""
    SELECT doc_id, dedup_key FROM (
      SELECT doc_id,
             sha256(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS dedup_key,
             row_number() OVER (PARTITION BY sha256(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
                                ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
    notes="exact dedup: sha256(normalized text), deterministic min-id survivor",
)
def q39_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return exact_dedup(docs).select(
        "doc_id", normalized_hash("text").alias("dedup_key")
    )


# MinHash-LSH pipeline as a reusable CTE chain ending in `mh_pairs`
# (doc_a < doc_b, jaccard >= 0.5) — shared by q40, q87, q88 so the
# clustering oracles are built on the bit-identical pair set.
_MINHASH_CTES = f"""
    sh AS ({_SHINGLES_SQL}),
    shx AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    hx AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(generate_series(1, 12),
                  i -> CAST((strpos('0123456789abcdef', substr(md5(shingle), i, 1)) - 1) AS BIGINT)
                       * CAST(pow(16, 12 - i) AS BIGINT))) AS BIGINT) AS x
      FROM shx
    ),
    sig AS (
      SELECT doc_id, list_value({", ".join(f"min(({MINHASH_A[i]}*x + {MINHASH_B[i]}) % {MINHASH_PRIME})" for i in range(MINHASH_K))}) AS sig
      FROM hx GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, unnest(list_transform(generate_series(0, {NUM_BANDS - 1}),
             b -> md5(concat_ws('#', CAST(b AS VARCHAR),
                      {", ".join(f"CAST(sig[{BAND_ROWS}*b+{i + 1}] AS VARCHAR)" for i in range(BAND_ROWS))}))))
             AS band_key
      FROM sig
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    mh_pairs AS (
      SELECT c.doc_a, c.doc_b, {_JACCARD_SQL} AS jaccard
      FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b
      WHERE {_JACCARD_SQL} >= 0.5
    )
"""


# --- B6: MinHash-LSH near-dup ----------------------------------------------
@register(
    "q40_dedup_minhash",
    oracle=f"""
    WITH {_MINHASH_CTES}
    SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM mh_pairs
    """,
    notes="MinHash(K=16) + LSH(8 bands x 2 rows) candidates + exact Jaccard "
    "verify at 0.5; md5-portable so the oracle reproduces the bucketing",
)
def q40_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # split=True: tokenize+shingle+minhash all run map-side before the
    # first exchange — the adaptive scan split parallelizes that CPU
    # (A/B at sf0.1: 1.53 s -> 0.71 s).
    # persist_shingles=True (OPTIMIZATION_r15 re-measurement): the
    # round-8 recompute preference was measured when the cache
    # materialized on the raw scan's ONE task; with the split the cache
    # fills in parallel and saves the verify pass's two extra
    # scan+tokenize executions (in-process A/B x3 blocks at sf0.1:
    # persist 1.06/1.09/1.06 s vs recompute 1.52/1.24/1.15 — persist
    # won every block). Same trade at scale: one shingle-table
    # write+read beats two more full-corpus scans plus 2x tokenize CPU.
    docs = read_table(spark, sf_dir, "documents", split=True)
    out = minhash_near_dup_pairs(docs, threshold=0.5, persist_shingles=True)
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


# --- B6: SimHash signatures ------------------------------------------------
# (doc_id, simhash) as a reusable fragment: q41 emits it, q83 pairs on it.
_SIMHASH_SIG_SQL = f"""
    SELECT doc_id,
           string_agg(CASE WHEN s >= 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash
    FROM (
      SELECT doc_id, j,
             SUM(2 * ((CAST(strpos('0123456789abcdef',
                       substr(md5(token), CAST(floor(j / 4) AS INT) + 1, 1)) AS INT) - 1)
                      >> (3 - (j % 4)) & 1) - 1) AS s
      FROM (SELECT DISTINCT doc_id, unnest(t) AS token FROM ({_TOKS_SQL})) tok,
           range({SIMHASH_BITS}) r(j)
      GROUP BY doc_id, j
    ) votes
    GROUP BY doc_id
"""


@register(
    "q41_simhash",
    oracle=_SIMHASH_SIG_SQL,
    notes="60-bit portable SimHash from per-token md5 bit votes",
)
def q41_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return simhash_signatures(docs)


_SIMHASH_D = 3  # max Hamming distance for q83
_SIMHASH_BAND_W = SIMHASH_BITS // (_SIMHASH_D + 1)


@register(
    "q83_simhash_pairs",
    oracle=f"""
    WITH sig AS ({_SIMHASH_SIG_SQL}),
    bands AS (
      SELECT doc_id, simhash, b,
             substr(simhash, 1 + b * {_SIMHASH_BAND_W}, {_SIMHASH_BAND_W}) AS v
      FROM sig, range({_SIMHASH_D + 1}) r(b)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sig_a,
                      b.doc_id AS doc_b, b.simhash AS sig_b
      FROM bands a JOIN bands b ON a.b = b.b AND a.v = b.v
                                AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM (
      SELECT doc_a, doc_b,
             CAST(bit_count(xor(CAST(sig_a AS BIT), CAST(sig_b AS BIT)))
                  AS BIGINT) AS hamming
      FROM cand
    ) t WHERE hamming <= {_SIMHASH_D}
    """,
    notes="SimHash near-dup pairing: pigeonhole banding (d+1 blocks; a pair "
    "within Hamming d agrees exactly on >= 1 block) replaces n² compare with "
    "a band-key equi-join; popcount verify on bucket collisions only — the "
    "oracle uses DuckDB BITSTRING xor+bit_count, Spark uses 30-bit chunk "
    "conv+bitwiseXOR+bit_count",
)
def q83_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    sigs = simhash_signatures(docs)
    return simhash_candidate_pairs(sigs, max_distance=_SIMHASH_D)


# --- B6: exact n-gram Jaccard pairs ----------------------------------------
@register(
    "q42_ngram_jaccard",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    shx AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM shx a JOIN shx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b, round({_JACCARD_SQL}, 6) AS jaccard
    FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b
    WHERE {_JACCARD_SQL} >= 0.5
    """,
    notes="exact near-dup baseline: shingle inverted-index candidates",
)
def q42_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    out = ngram_jaccard_pairs(docs, threshold=0.5)
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


# --- B7: cosine top-k ------------------------------------------------------
@register(
    "q43_cosine_topk",
    oracle="""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings)
    SELECT query_id, cand_id, cos_sim, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             round(list_cosine_similarity(q.v, c.v), 6) AS cos_sim,
             row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC,
                                         c.vec_id) AS rank
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 5
    ) WHERE rank <= 5
    """,
    notes="brute-force exact top-5 neighbors for 5 query vectors; "
    "broadcast queries, corpus never shuffles",
)
def q43_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # split=True: the dot products against the broadcast probe set are
    # map-side CPU before the top-k exchange (A/B: 0.61 s -> 0.34 s)
    emb = read_table(spark, sf_dir, "embeddings", split=True)
    return cosine_topk(emb.filter(F.col("vec_id") < 5), emb, k=5)


# --- B7: embedding near-dup pairs ------------------------------------------
@register(
    "q44_embedding_near_dup",
    oracle="""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.45
    """,
    notes="exact all-pairs cosine threshold (verify baseline)",
)
def q44_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return embedding_near_dup(emb, threshold=0.45)


# --- B7: LSH-bucketed ANN (the scale path) ---------------------------------
def _plane_dot_sql(p: int, dim: int = 64) -> str:
    return (
        f"list_sum(list_transform(generate_series(0, {dim - 1}), d -> "
        f"CAST(v[d + 1] AS DOUBLE) * "
        f"CASE WHEN (strpos('0123456789abcdef', substr(md5(concat('{p}', ':', CAST(d AS VARCHAR))), 1, 1)) - 1) % 2 = 1 "
        f"THEN 1.0 ELSE -1.0 END))"
    )


@register(
    "q45_ann_lsh_bucketed",
    oracle=f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    bucketed AS (
      SELECT vec_id, v,
             concat({", ".join(f"CASE WHEN {_plane_dot_sql(p)} >= 0 THEN '1' ELSE '0' END" for p in range(ANN_BITS))})
               AS bucket
      FROM e
    )
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
    FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3
    """,
    notes="random-hyperplane LSH (8 md5-derived sign bits) -> bucket "
    "equi-join -> cosine verify; semantics are bucket-restricted by design",
)
def q45_ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    return ann_bucketed(emb, threshold=0.3)


# --- text analysis ---------------------------------------------------------
_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in STOPWORDS) + "]"


@register(
    "q46_text_stats",
    oracle=f"""
    SELECT doc_id,
           len(t) AS n_tokens,
           CASE WHEN len(t) = 0 THEN 0.0
                ELSE CAST(len(list_filter(t, x -> list_contains({_STOP_SQL}, x))) AS DOUBLE) / len(t)
           END AS stop_ratio,
           CASE WHEN length(text) = 0 THEN 0.0
                ELSE CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)
           END AS punct_ratio,
           CASE WHEN len(t) = 0 THEN 0.0
                ELSE CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t)
           END AS avg_wlen
    FROM ({_TOKS_SQL})
    """,
    notes="token counting + stopword/punct ratios + avg word length",
)
def q46_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    from ..functions.text import tokens

    with_toks = docs.select("doc_id", "text", tokens("text").alias("__toks"))
    tk = F.col("__toks")
    return with_toks.select(
        "doc_id",
        F.size(tk).cast("long").alias("n_tokens"),
        stopword_ratio("text", tk).alias("stop_ratio"),
        punct_ratio("text").alias("punct_ratio"),
        avg_word_len("text", tk).alias("avg_wlen"),
    )


@register(
    "q47_lang_quality",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, text, lang,
             CASE WHEN len(t) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(t, x -> list_contains({_STOP_SQL}, x))) AS DOUBLE) / len(t)
             END AS stop_ratio,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)
             END AS punct_ratio,
             CASE WHEN len(t) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t)
             END AS avg_wlen
      FROM ({_TOKS_SQL})
    )
    SELECT doc_id, lang,
           CASE WHEN stop_ratio >= 0.05 THEN 'en' ELSE 'unk' END AS pred_lang,
           CAST(CASE WHEN length(text) BETWEEN 100 AND 20000 THEN 0.25 ELSE 0.0 END
            + CASE WHEN punct_ratio <= 0.1 THEN 0.25 ELSE 0.0 END
            + CASE WHEN stop_ratio BETWEEN 0.02 AND 0.6 THEN 0.25 ELSE 0.0 END
            + CASE WHEN avg_wlen BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END AS DOUBLE) AS quality
    FROM s
    """,
    notes="stopword-heuristic language ID + composite quality score",
)
def q47_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    from ..functions.text import tokens

    with_toks = docs.select("doc_id", "lang", "text", tokens("text").alias("__toks"))
    tk = F.col("__toks")
    return with_toks.select(
        "doc_id",
        "lang",
        lang_id("text", tk).alias("pred_lang"),
        quality_score("text", tk).alias("quality"),
    )


@register(
    "q48_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS fp
    FROM ({_TOKS_SQL})
    """,
    notes="order/repetition-invariant document fingerprint (sorted token set)",
)
def q48_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint("text").alias("fp"))


# --- multimodal plumbing ---------------------------------------------------
@register(
    "q49_multimodal_features",
    oracle="""
    SELECT doc_id, 'text/plain' AS media_type,
           octet_length(encode(text)) AS payload_len,
           round(CASE WHEN length(text) = 0 THEN 0.0
                 ELSE CAST(list_sum(list_transform(range(1, length(text) + 1),
                      i -> ascii(substr(text, CAST(i AS INT), 1)))) AS DOUBLE) / length(text)
                 END, 6) AS feat_mean,
           CAST(octet_length(encode(text)) AS INT) AS feat_dim
    FROM documents
    """,
    notes="binary payload + mapInPandas feature extraction (decode stubbed "
    "deterministically; oracle uses codepoints == bytes for ASCII corpus)",
)
def q49_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    feats = decode_features(with_binary_payload(docs))
    return feats.select(
        "doc_id",
        "media_type",
        "payload_len",
        F.round("feat_mean", 6).alias("feat_mean"),
        "feat_dim",
    )


@register(
    "q85_image_decode",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS img_format,
           CAST(4 + doc_id % 13 AS INT) AS width,
           CAST(3 + doc_id % 7 AS INT) AS height,
           CAST(24 AS INT) AS bpp,
           round(CAST(4 + doc_id % 13 AS DOUBLE) / (3 + doc_id % 7), 6)
             AS aspect,
           CAST(CASE WHEN doc_id % 2 = 0
             THEN 54 + (3 * (4 + doc_id % 13)
                        + (4 - (3 * (4 + doc_id % 13)) % 4) % 4)
                       * (3 + doc_id % 7)
             ELSE length('P6' || chr(10) || CAST(4 + doc_id % 13 AS VARCHAR)
                         || ' ' || CAST(3 + doc_id % 7 AS VARCHAR)
                         || chr(10) || '255' || chr(10))
                  + 3 * (4 + doc_id % 13) * (3 + doc_id % 7)
           END AS BIGINT) AS payload_len
    FROM documents
    """,
    notes="REAL image decode (llm/multimodal.parse_image_meta): BMP/PPM "
    "payloads are synthesized per row (dims derived from doc_id), then "
    "width/height/bpp are parsed back from the actual bytes in mapInPandas "
    "— the oracle derives the expected metadata independently from the "
    "same id formula, so a writer OR parser bug mismatches; the stub "
    "remains only for codec formats needing external libs",
)
def q85_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.multimodal import decode_image_meta, with_image_payload

    docs = read_table(spark, sf_dir, "documents")
    meta = decode_image_meta(with_image_payload(docs))
    return meta.select(
        "doc_id",
        "img_format",
        "width",
        "height",
        "bpp",
        # JVM-side rounding of the parsed dims (engine-parity with the
        # oracle's round); the operator's python-side aspect is equivalent
        F.round(F.col("width") / F.col("height"), 6).alias("aspect"),
        "payload_len",
    )


# --- B6: dedup clustering (pairs → connected components → survivors) -------
# The oracle closes the same pair graph with a recursive CTE: reach(id, r)
# holds "r reaches id"; min(r) per id is the component min-id label —
# independent of Spark's iteration order, so a propagation bug mismatches.
_REACH_CTES = f"""
    {_MINHASH_CTES},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
      UNION
      SELECT doc_b, doc_a FROM mh_pairs
    ),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
    )
"""


@register(
    "q87_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_REACH_CTES}
    SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
    """,
    notes="near-dup transitive closure (llm/cluster.connected_components): "
    "min-label propagation over the q40 pair graph, one join + one min-agg "
    "shuffle per round, rounds = graph diameter (2-4 for near-dup cliques), "
    "decimal-summed convergence action; singletons keep their own id. The "
    "oracle computes the same labels order-independently via recursive-CTE "
    "reachability",
)
def q87_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.cluster import assign_clusters

    # split=True: same map-side tokenize/shingle front end as q40
    docs = read_table(spark, sf_dir, "documents", split=True)
    # persist_shingles: the component pipeline materializes the pair
    # set once into its own edge persist — the shingle cache pays here
    # (see minhash_near_dup_pairs docstring), unlike the one-shot q40
    pairs = minhash_near_dup_pairs(docs, threshold=0.5, persist_shingles=True)
    # LSH pairs are distinct (doc_a < doc_b) by construction: skip the
    # edge-dedup shuffle (OPTIMIZATION_r15; fixpoint identical)
    return assign_clusters(docs, pairs, dedupe_edges=False).select(
        "doc_id", "cluster_id"
    )


@register(
    "q88_dedup_survivors",
    oracle=f"""
    WITH RECURSIVE {_REACH_CTES}
    SELECT doc_id, lang, source, n_chars FROM documents
    WHERE doc_id IN (SELECT id FROM reach GROUP BY id HAVING min(r) = id)
    """,
    notes="deduplicated corpus (llm/cluster.dedup_survivors): deterministic "
    "min-id survivor per duplicate cluster, singletons kept — the step that "
    "actually shrinks a training corpus; shares one component computation "
    "with the cluster assignment",
)
def q88_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.cluster import dedup_survivors

    # split=True: same map-side tokenize/shingle front end as q40
    docs = read_table(spark, sf_dir, "documents", split=True)
    pairs = minhash_near_dup_pairs(docs, threshold=0.5, persist_shingles=True)
    return dedup_survivors(docs, pairs, dedupe_edges=False).select(
        "doc_id", "lang", "source", "n_chars"
    )


# --- benchmark decontamination ---------------------------------------------
def _shingles_sql_n(n: int) -> str:
    """n-word shingle SQL, the parametric version of ``_SHINGLES_SQL``."""
    terms = ", ".join(f"t[i+{j}]" for j in range(n))
    return f"""
  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(t)-{n - 1}),
         i -> concat_ws(' ', {terms}))) AS shingles
  FROM ({_TOKS_SQL}) WHERE len(t) >= {n}
"""


@register(
    "q89_decontaminate",
    oracle=f"""
    WITH sh8 AS ({_shingles_sql_n(8)}),
    bg AS (SELECT DISTINCT unnest(shingles) AS shingle FROM sh8
           WHERE doc_id % 20 = 0),
    cg AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh8
           WHERE doc_id % 20 <> 0),
    hits AS (SELECT cg.doc_id, COUNT(DISTINCT cg.shingle) AS n_hit_ngrams
             FROM cg JOIN bg USING (shingle) GROUP BY cg.doc_id)
    SELECT d.doc_id,
           COALESCE(h.n_hit_ngrams, 0) AS n_hit_ngrams,
           COALESCE(h.n_hit_ngrams, 0) >= 1 AS contaminated
    FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
    WHERE d.doc_id % 20 <> 0
    """,
    notes="benchmark decontamination (llm/decontaminate): corpus docs "
    "sharing >= 1 word-8-gram with the eval set (doc_id % 20 = 0 stands in "
    "for a benchmark) are flagged; benchmark n-gram set broadcasts — the "
    "corpus never shuffles for the probe, one agg shuffle total at any "
    "corpus size",
)
def q89_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.decontaminate import decontaminate

    docs = read_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    benchmark = docs.filter(F.col("doc_id") % 20 == 0)
    return decontaminate(corpus, benchmark, n=8).select(
        "doc_id", "n_hit_ngrams", "contaminated"
    )


# --- intra-doc repetition quality ------------------------------------------
@register(
    "q90_repetition_scores",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    perrow AS (
      SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
             round(1 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6)
               AS dup_token_frac,
             round(1 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g), 6)
               AS dup_ngram_frac
      FROM (SELECT doc_id, t,
                   list_transform(generate_series(1, len(t)-2),
                                  i -> concat_ws(' ', t[i], t[i+1], t[i+2])) AS g
            FROM toks WHERE len(t) >= 3)
    )
    SELECT p.doc_id, p.n_tokens, p.dup_token_frac, p.dup_ngram_frac,
           t2.top_token_share
    FROM perrow p
    JOIN (SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 6)
                   AS top_token_share
          FROM (SELECT doc_id, tok, count(*) AS c
                FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
                GROUP BY doc_id, tok)
          GROUP BY doc_id) t2 ON t2.doc_id = p.doc_id
    """,
    notes="repetition quality filters (llm/quality.repetition_scores), the "
    "C4/Gopher-style dup-ngram and top-token-share rules: dup fractions are "
    "map-only array ops (no shuffle, whole-stage codegen); top-token share "
    "is (doc,token)-count -> per-doc max, doc-keyed shuffles only",
)
def q90_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.quality import repetition_scores

    docs = read_table(spark, sf_dir, "documents")
    return repetition_scores(docs, ngram=3)


# --- embedding int8 quantization -------------------------------------------
@register(
    "q92_quantize_embeddings",
    oracle="""
    SELECT vec_id,
           round(m / 127.0, 6) AS scale,
           CASE WHEN m = 0
                THEN array_to_string(list_transform(embedding, x -> 0), ',')
                ELSE array_to_string(list_transform(embedding,
                     x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / m + 0.5) AS INT)), ',')
           END AS qvec_csv,
           CAST(CASE WHEN m = 0 THEN 0
                ELSE list_sum(list_transform(embedding,
                     x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / m + 0.5) AS BIGINT)
                          * CAST(floor(CAST(x AS DOUBLE) * 127.0 / m + 0.5) AS BIGINT)))
           END AS BIGINT) AS qnorm2
    FROM (SELECT vec_id, embedding,
                 list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS m
          FROM embeddings)
    """,
    notes="symmetric int8 scalar quantization "
    "(llm/similarity.quantize_embeddings): 4x-smaller vectors, all "
    "map-side codegen'd array ops; rounding written as floor(x+0.5) so "
    "both engines reproduce codes bit-for-bit (engine round() half-cases "
    "differ); arrays projected as csv + squared-norm scalars because the "
    "driver's pandas canonicalizer cannot sort list cells (q57 lesson)",
)
def q92_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.similarity import quantize_embeddings

    emb = read_table(spark, sf_dir, "embeddings")
    quant = quantize_embeddings(emb)
    return quant.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.concat_ws(",", F.transform("qvec", lambda v: v.cast("string"))).alias(
            "qvec_csv"
        ),
        F.aggregate(
            "qvec",
            F.lit(0).cast("long"),
            lambda a, v: a + v.cast("long") * v.cast("long"),
        ).alias("qnorm2"),
    )


# --- corpus heavy hitters ---------------------------------------------------
@register(
    "q96_heavy_hitters",
    oracle=f"""
    SELECT token, df, total_tf
    FROM (
      SELECT tok AS token, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS total_tf
      FROM (SELECT doc_id, unnest(t) AS tok FROM ({_TOKS_SQL}))
      GROUP BY tok
    )
    ORDER BY df DESC, token ASC
    LIMIT 20
    """,
    notes="exact corpus heavy hitters: top-20 tokens by document frequency "
    "with deterministic (df DESC, token) tiebreak — vocabulary/stopword "
    "discovery over a corpus; one (token)-keyed agg then TakeOrderedAndProject "
    "(top-k never materializes a global sort)",
)
def q96_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens("text")).alias("token")
    )
    counts = toks.groupBy("token").agg(
        F.count_distinct("doc_id").alias("df"),
        F.count("*").alias("total_tf"),
    )
    return counts.orderBy(F.col("df").desc(), F.col("token").asc()).limit(20)


# --- PII redaction ----------------------------------------------------------
@register(
    "q98_redact_pii",
    oracle="""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(synth,
                 '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
               '\\+[0-9]{1,2} [0-9]{3}-[0-9]{4}', '[PHONE]', 'g'),
             '([0-9]{1,3}\\.){3}[0-9]{1,3}', '[IP]', 'g') AS redacted
    FROM (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.1 tel +1 555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS synth
      FROM documents
    )
    """,
    notes="PII redaction (functions/text.redact_pii): email/phone/IPv4 "
    "scrubbing as chained regexp_replace — map-only, whole-stage codegen, "
    "patterns restricted to the Java-regex/RE2 common subset; deterministic "
    "PII is synthesized per doc_id so both engines redact identical text",
)
def q98_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import redact_pii

    docs = read_table(spark, sf_dir, "documents")
    synth = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example ip 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".1 tel +1 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    return docs.select("doc_id", redact_pii(synth).alias("redacted"))


# --- prefix-filtered exact Jaccard (scale path for q42) ---------------------
@register(
    "q112_jaccard_prefix_filter",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    shx AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM shx a JOIN shx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b, round({_JACCARD_SQL}, 6) AS jaccard
    FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b
    WHERE {_JACCARD_SQL} >= 0.5
    """,
    notes="prefix-filtered exact Jaccard (llm/dedup."
    "jaccard_prefix_filter_pairs, AllPairs/ppjoin family): only each "
    "doc's |x|-ceil(t|x|)+1 rarest shingles (global df order) enter the "
    "inverted index, so candidate generation joins on selective "
    "shingles instead of stop-shingle buckets; the oracle is q42's "
    "BRUTE-FORCE exact join — a hash match proves the filter dropped "
    "no true pair (completeness), not just that survivors verify",
)
def q112_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.dedup import jaccard_prefix_filter_pairs

    # split=True: re-measured AFTER the hashed-intersect verify landed —
    # with the verify stage no longer dominant, parallelizing the
    # tokenize/shingle front end pays here too (in-process A/B at
    # sf0.1, 2 clean blocks: split 1.94/1.65 s vs raw 2.87/1.91)
    docs = read_table(spark, sf_dir, "documents", split=True)
    out = jaccard_prefix_filter_pairs(docs, threshold=0.5)
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


# --- B7: persisted ANN index round-trip ------------------------------------
@register(
    "q127_ann_index_query",
    oracle=f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    bucketed AS (
      SELECT vec_id, v,
             concat({", ".join(f"CASE WHEN {_plane_dot_sql(p)} >= 0 THEN '1' ELSE '0' END" for p in range(ANN_BITS))})
               AS bucket
      FROM e
    )
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           round(list_cosine_similarity(q.v, c.v), 6) AS cos_sim
    FROM bucketed c JOIN bucketed q ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
    WHERE q.vec_id < 50
      AND round(list_cosine_similarity(q.v, c.v), 6) >= 0.1
    """,
    notes="index PERSISTENCE round-trip (llm/similarity.save_hyperplane_"
    "index -> load_hyperplane_index -> ann_query_index): the corpus is "
    "hashed once and written to parquet partitioned by integer bucket "
    "id; the query batch alone is hashed at query time and broadcast "
    "against the loaded index. The oracle recomputes buckets from "
    "scratch, so a hash match proves the save/load round-trip preserves "
    "bucket assignments and vectors exactly. Fit-once/no-rehash is "
    "plan-asserted in tests/test_llm.py",
)
def q127_ann_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..llm.similarity import (
        ann_query_index,
        load_hyperplane_index,
        save_hyperplane_index,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"dbkit_ann_index_{sf_tag}")
    save_hyperplane_index(emb, path)
    index = load_hyperplane_index(spark, path)
    return ann_query_index(emb.filter(F.col("vec_id") < 50), index, threshold=0.1)


# --- multimodal: four-format header decode ---------------------------------
@register(
    "q130_image_formats",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 4 WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm'
                           WHEN 2 THEN 'png' ELSE 'jpeg' END AS img_format,
           CAST(4 + doc_id % 13 AS INT) AS width,
           CAST(3 + doc_id % 7 AS INT) AS height,
           CAST(24 AS INT) AS bpp,
           round(CAST(4 + doc_id % 13 AS DOUBLE) / (3 + doc_id % 7), 6)
             AS aspect
    FROM documents
    """,
    notes="four-container image header decode (llm/multimodal."
    "parse_image_meta over mapInPandas): BMP + PPM (full real codecs), "
    "PNG (real spec-conforming file: IHDR/zlib-IDAT/IEND with CRCs, "
    "stdlib-only), JPEG (structurally valid JFIF/SOF0 marker stream — "
    "real dimension scan path, entropy data stubbed since true JPEG "
    "encoding needs DCT+Huffman). Dims derive from doc_id so the oracle "
    "checks writer AND parser independently; all four report 24 bpp "
    "(8-bit RGB / 3 components)",
)
def q130_image_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.multimodal import decode_image_meta, with_multiformat_image_payload

    docs = read_table(spark, sf_dir, "documents")
    meta = decode_image_meta(with_multiformat_image_payload(docs))
    return meta.select(
        "doc_id",
        "img_format",
        "width",
        "height",
        "bpp",
        F.round(F.col("width") / F.col("height"), 6).alias("aspect"),
    )


@register(
    "q198_dedup_survivors_best",
    oracle=f"""
    WITH RECURSIVE {_REACH_CTES},
    clusters AS (
      SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
    ),
    ranked AS (
      SELECT d.doc_id, d.n_chars, c.cluster_id,
             ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                ORDER BY d.n_chars DESC, d.doc_id ASC) AS rk
      FROM documents d JOIN clusters c ON d.doc_id = c.doc_id
    )
    SELECT doc_id, cluster_id, n_chars
    FROM ranked WHERE rk = 1
    ORDER BY cluster_id
    """,
    notes="KEEP-BEST dedup survivors (llm/cluster.dedup_survivors_best "
    "— the policy production dedup actually wants: per duplicate "
    "cluster keep the LONGEST member, by (n_chars DESC, id ASC), "
    "because the min-id row of a near-dup cluster is often the "
    "truncated or boilerplate-wrapped copy; q88's min-id policy is "
    "the deterministic baseline): same connected-component labels as "
    "q87/q88, plus ONE cluster-keyed window rank — the policy swap "
    "costs a single extra shuffle over the already-clustered frame",
)
def q198_dedup_survivors_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.cluster import dedup_survivors_best

    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(docs, threshold=0.5)
    return dedup_survivors_best(docs, pairs, "n_chars").select(
        "doc_id", "cluster_id", "n_chars"
    ).orderBy("cluster_id")


_DOC_TOKS_SQL = """
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
"""

# 24-bit md5 token value, digit-by-digit (DuckDB has no conv())
_TOKHASH_SQL = (
    "CAST(list_sum(list_transform(generate_series(1, 6), "
    "i -> CAST((strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1) AS BIGINT) "
    "* CAST(pow(16, 6 - i) AS BIGINT))) AS BIGINT)"
)


@register(
    "q67_rolling_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
                          list_transform(t, tok -> {_TOKHASH_SQL})),
             (acc, x) -> (acc * 257 + x) % 2147483647) AS fp
    FROM ({_DOC_TOKS_SQL})
    """,
    notes="order-sensitive Rabin-Karp rolling hash over token sequence "
    "(functions/text.rolling_fingerprint); complements q48's order-invariant "
    "set fingerprint; md5-portable fold, JVM-side",
)
def q67_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import rolling_fingerprint, tokens

    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", "text").select(
        "doc_id", rolling_fingerprint(tokens("text")).alias("fp")
    )


@register(
    "q68_bpe_token_count",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe,
           len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS n_ws,
           CASE WHEN length(text) = 0 THEN 0.0
                ELSE round(CAST(length(text) AS DOUBLE)
                     / greatest(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')), 1), 6)
           END AS chars_per_tok
    FROM documents
    """,
    notes="token-counting estimators: BPE-ish regex (alpha runs / digit runs "
    "/ punct marks) vs whitespace tokens; chars-per-token ratio",
)
def q68_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import bpe_token_count, token_count

    docs = read_table(spark, sf_dir, "documents")
    n_bpe = bpe_token_count("text")
    return docs.select(
        "doc_id",
        n_bpe.alias("n_bpe"),
        token_count("text").cast("long").alias("n_ws"),
        F.when(F.length("text") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.length("text").cast("double") / F.greatest(n_bpe, F.lit(1)), 6
            )
        )
        .alias("chars_per_tok"),
    )


@register(
    "q72_frame_sample",
    # Oracle (r10, VERDICT item 6 — formerly rows-only): the query's
    # output is (doc_id, frame_idx, frame_len) — no bytes cross the
    # compare boundary, and the payload LENGTH is a closed-form function
    # of doc_id (BMP: 54-byte headers + 4-padded rows; PPM: "P6\n{w}
    # {h}\n255\n" header + 3wh pixels), so DuckDB derives every frame
    # length independently: step = L // 4, and since 4*step <= L every
    # one of the 4 contiguous slices has exactly step bytes. Byte-exact
    # frame CONTENT stays pytest-asserted in test_llm.py (DuckDB 1.0
    # lacks BLOB substring).
    oracle="""
    WITH dims AS (
      SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
      FROM documents
    ),
    lens AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0
               THEN 54 + (3 * w + (4 - (3 * w) % 4) % 4) * h
               ELSE 9 + length(CAST(w AS VARCHAR))
                      + length(CAST(h AS VARCHAR)) + 3 * w * h
             END AS L
      FROM dims
    )
    SELECT doc_id, CAST(t.i AS INTEGER) AS frame_idx,
           CAST(L // 4 AS BIGINT) AS frame_len
    FROM lens, UNNEST(generate_series(0, 3)) AS t(i)
    """,
    notes="multimodal frame sampling (llm/multimodal.sample_frames): one "
    "binary payload row (REAL BMP/PPM bytes, see q85) fans out to 4 frame "
    "rows via mapInPandas, no shuffle; frame slicing is content-agnostic, "
    "plumbing real. Oracle replays the closed-form payload-length rule "
    "(BMP row padding / PPM header arithmetic) and the step slicing; "
    "byte-exact frame content is pytest-asserted in test_llm.py",
)
def q72_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.multimodal import sample_frames, with_image_payload

    docs = read_table(spark, sf_dir, "documents")
    return sample_frames(with_image_payload(docs), n_frames=4).select(
        "doc_id", "frame_idx", "frame_len"
    )


# md5-derived split bucket in [0, 10000): same formula as
# llm/sampling._hash_bucket, rebuilt digit-by-digit for DuckDB
def _salted_bucket_sql(salt: str) -> str:
    """Salted md5 bucket in [0, 10000): mirrors llm/sampling._hash_bucket
    (the salt decorrelates the sample bucket from the split bucket)."""
    keyed = f"concat(CAST(doc_id AS VARCHAR), ':{salt}')"
    return (
        "(CAST(list_sum(list_transform(generate_series(1, 6), "
        f"i -> CAST((strpos('0123456789abcdef', substr(md5({keyed}), i, 1)) - 1) AS BIGINT) "
        "* CAST(pow(16, 6 - i) AS BIGINT))) AS BIGINT) % 10000)"
    )


@register(
    "q76_split_and_sample",
    oracle=f"""
    WITH b AS (SELECT doc_id, lang,
                      {_salted_bucket_sql("sample")} AS sample_bucket,
                      {_salted_bucket_sql("split")} AS split_bucket
               FROM documents)
    SELECT doc_id, lang,
           CASE WHEN split_bucket < 8000 THEN 'train'
                WHEN split_bucket < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    WHERE (lang = 'en' AND sample_bucket < 5000)
       OR (lang = 'de' AND sample_bucket < 10000)
    """,
    notes="deterministic train/val/test split + stratified sampling "
    "(llm/sampling): md5-bucket assignment is stable under reruns, "
    "repartitioning, and appends — unlike randomSplit/sampleBy, whose "
    "seeded sampling shifts with input partitioning",
)
def q76_split_and_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.sampling import split_assign, stratified_sample

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    sampled = stratified_sample(
        docs, "doc_id", "lang", {"en": 0.5, "de": 1.0}
    )
    return split_assign(
        sampled, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )


@register(
    "q91_domain_mix",
    oracle=f"""
    WITH w(lang, wt) AS (VALUES ('en', 2), ('de', 1), ('es', 1),
                                ('fr', 1), ('zh', 1)),
    counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
    cw AS (SELECT c.lang, c.n, w.wt FROM counts c JOIN w USING (lang)),
    thresh AS (SELECT a.lang, min((10000 * a.wt * b.n) // (b.wt * a.n)) AS th
               FROM cw a CROSS JOIN cw b GROUP BY a.lang)
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN thresh t ON t.lang = d.lang
    WHERE {_salted_bucket_sql("mix")} < t.th
    """,
    notes="target domain-mix rebalancing (llm/sampling.weighted_domain_mix): "
    "keeps the scarcest-relative-to-weight domain at 100% and "
    "hash-down-samples the rest to a 2:1:1:1:1 lang mix; thresholds are "
    "exact integer arithmetic (min_e (B*w_d*n_e) // (w_e*n_d)) so both "
    "engines reproduce the row set bit-for-bit; map-only filter after a "
    "metadata-sized count agg (the tiny cross join is domains x domains)",
)
def q91_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.sampling import weighted_domain_mix

    docs = read_table(spark, sf_dir, "documents")
    mixed = weighted_domain_mix(
        docs, "doc_id", "lang", {"en": 2, "de": 1, "es": 1, "fr": 1, "zh": 1}
    )
    return mixed.select("doc_id", "lang", "source")


@register(
    "q77_token_packing",
    oracle="""
    SELECT doc_id, n_chars,
           CAST(floor((SUM(n_chars) OVER (ORDER BY doc_id) - n_chars)
                      / 50000.0) AS BIGINT) AS batch_id
    FROM documents
    """,
    notes="sequence packing (llm/sampling.pack_by_token_budget): "
    "concat-then-chunk by running-total start offset — each doc joins the "
    "50k-char batch where its stream offset falls; window cumsum, "
    "deterministic. This is the EXACTNESS BASELINE (explicit "
    "shard_by=None, single total order); the operator DEFAULT is the "
    "auto hash shard — q84's distributed plan — so the 100 TB form is "
    "what callers get by accident",
)
def q77_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.sampling import pack_by_token_budget

    docs = read_table(spark, sf_dir, "documents")
    return pack_by_token_budget(
        docs, "doc_id", "n_chars", budget=50000, shard_by=None
    )


@register(
    "q84_token_packing_sharded",
    oracle="""
    SELECT lang, doc_id, n_chars,
           CAST(floor((SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id)
                       - n_chars) / 20000.0) AS BIGINT) AS batch_id
    FROM documents
    """,
    notes="sharded sequence packing (llm/sampling.pack_by_token_budget "
    "shard_by): the cumsum window partitions on the shard key, so packing "
    "distributes across reducers — no single-partition Exchange (plan-"
    "asserted in tests/test_plans.py); the 100 TB form of q77",
)
def q84_token_packing_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.sampling import pack_by_token_budget

    docs = read_table(spark, sf_dir, "documents")
    return pack_by_token_budget(
        docs, "doc_id", "n_chars", budget=20000, shard_by="lang"
    )


# --- deterministic weighted sampling (A-ES) ----------------------------------
@register(
    "q110_weighted_sample",
    oracle="""
    WITH u AS (
      SELECT doc_id, lang, n_chars,
             (CAST(list_sum(list_transform(generate_series(1, 6),
                i -> CAST((strpos('0123456789abcdef',
                           substr(md5(concat(CAST(doc_id AS VARCHAR), ':wsample')),
                                  i, 1)) - 1) AS BIGINT)
                     * CAST(pow(16, 6 - i) AS BIGINT))) AS BIGINT) + 0.5)
             / 16777216.0 AS u
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, lang, n_chars,
           ROUND(-ln(u) / CAST(n_chars AS DOUBLE), 9) AS wkey
    FROM u
    ORDER BY wkey, doc_id
    LIMIT 100
    """,
    notes="deterministic weighted sample without replacement "
    "(llm/sampling.weighted_sample_topk, Efraimidis-Spirakis A-ES "
    "exponential-key form): md5-uniform u, wkey=-ln(u)/weight, k "
    "smallest win via TakeOrderedAndProject — inclusion mass "
    "proportional to n_chars; 9dp rounding + doc_id tiebreak makes the "
    "selected SET engine-exact, and membership is stable under "
    "repartitioning and appends (unlike seeded sample())",
)
def q110_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.sampling import weighted_sample_topk

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    return weighted_sample_topk(docs, "doc_id", "n_chars", k=100)


_SHINGLE10_SQL = (
    "list_distinct(list_transform(generate_series(1, len(t)-9), i -> "
    "concat_ws(' ', t[i+0], t[i+1], t[i+2], t[i+3], t[i+4], t[i+5], "
    "t[i+6], t[i+7], t[i+8], t[i+9])))"
)


# --- cross-document exact 10-gram contamination ----------------------------
@register(
    "q141_cross_doc_ngram10",
    oracle=f"""
    WITH sh AS (SELECT doc_id, {_SHINGLE10_SQL} AS shingles
                FROM ({_TOKS4_SQL}) WHERE len(t) >= 10),
    shx AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM shx a JOIN shx b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
    )
    SELECT doc_a AS doc_id, COUNT(*) AS n_partners
    FROM pairs GROUP BY doc_a
    """,
    notes="cross-document EXACT 10-token-run detection (the substring-"
    "level contamination check training pipelines run between corpus "
    "shards, complementing q89's benchmark decontamination): docs "
    "sharing a verbatim 10-gram are flagged with their partner count. "
    "10-grams are far more selective than q42's 3-gram shingles, so the "
    "inverted-index join's bucket fanout is tiny; same equi-join shape, "
    "no quadratic risk at this n",
)
def q141_cross_doc_ngram10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import shingles_from_tokens, tokens

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.array(tokens("text"))).alias("__toks")
    )
    sh = toks.select(
        "doc_id",
        F.array_distinct(shingles_from_tokens("__toks", 10)).alias("shingles"),
    ).filter(F.size("__toks") >= 10)
    shx = sh.select("doc_id", F.explode("shingles").alias("shingle"))
    a = shx.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = shx.select(F.col("doc_id").alias("doc_b"), "shingle")
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return pairs.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.count("*").alias("n_partners")
    )


# --- vector math surface ---------------------------------------------------
@register(
    "q143_vector_norms",
    oracle="""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings)
    SELECT vec_id,
           round(sqrt(list_sum(list_transform(v, x -> x * x))), 6) AS l2,
           round(list_sum(v) / len(v), 6) AS mean_comp,
           CAST(len(list_filter(v, x -> x > 0)) AS BIGINT) AS n_pos,
           round(list_sum(v), 6) AS dot_ones
    FROM e
    """,
    notes="vector math surface (functions/vectors over array<float>): "
    "L2 norm, component mean, positive-component count, dot with the "
    "all-ones vector — every fold is a JVM higher-order aggregate "
    "(zero Python crossings, zero shuffles; the whole query is one "
    "map-only projection)",
)
def q143_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import dot, norm

    emb = read_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.round(norm(v), 6).alias("l2"),
        F.round(
            F.aggregate(v, F.lit(0.0), lambda a, x: a + x) / F.size("embedding"), 6
        ).alias("mean_comp"),
        F.size(F.filter(v, lambda x: x > 0)).cast("long").alias("n_pos"),
        F.round(F.aggregate(v, F.lit(0.0), lambda a, x: a + x), 6).alias("dot_ones"),
    )


# --- explode variants: posexplode / explode_outer ---------------------------
@register(
    "q151_explode_variants",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                       t -> t <> '')) >= 5
                  THEN list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                   t -> t <> '')[1:3]
                  ELSE [] END AS toks
      FROM documents
    )
    SELECT doc_id, CAST(pos - 1 AS INT) AS pos, tok FROM (
      SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos
      FROM d WHERE len(toks) > 0
    )
    UNION ALL
    SELECT doc_id, NULL AS pos, NULL AS tok FROM d WHERE len(toks) = 0
    """,
    notes="explode variants (§2.8 lateral surface): posexplode (0-based "
    "ordinal) and explode_outer's keep-empty semantics — rows whose "
    "array is empty survive with NULL pos/token instead of vanishing "
    "(the lateral twin of a left join; plain explode drops them). The "
    "oracle emulates explode_outer with unnest + generate_subscripts "
    "UNION the empty-array rows; both sides are per-row lateral "
    "expansion, no shuffle",
)
def q151_explode_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens

    docs = read_table(spark, sf_dir, "documents")
    toks = tokens("text")
    d = docs.select(
        "doc_id",
        F.when(F.size(toks) >= 5, F.slice(toks, 1, 3))
        .otherwise(F.array().cast("array<string>"))
        .alias("toks"),
    )
    return d.select(
        "doc_id", F.posexplode_outer("toks").alias("pos", "tok")
    )


# --- document chunking -------------------------------------------------------
@register(
    "q172_document_chunking",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS t
      FROM documents
    ),
    base AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0)
    SELECT b.doc_id,
           u.k AS chunk_id,
           len(b.t[u.k*24+1 : u.k*24+32]) AS n_tok,
           array_to_string(b.t[u.k*24+1 : u.k*24+32], ' ') AS chunk_text
    FROM base b,
         UNNEST(generate_series(0,
           CAST(ceil(greatest(b.n - 32, 0) / 24.0) AS BIGINT))) AS u(k)
    ORDER BY doc_id, chunk_id
    """,
    notes="document CHUNKING into overlapping token windows (llm/"
    "chunking.chunk_documents — the pre-tokenization step before "
    "packing, so no training sequence exceeds the context): window 32, "
    "stride 24, so consecutive chunks share 8 tokens and the last chunk "
    "alone may run short. Map-only tokenize→sequence→explode→slice — "
    "no shuffle anywhere, a pure scan-side transform that scales with "
    "input bytes; the oracle reproduces the chunk rule with "
    "generate_series + 1-based list slicing",
)
def q172_document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.chunking import chunk_documents

    docs = read_table(spark, sf_dir, "documents")
    return chunk_documents(docs, window=32, stride=24).orderBy(
        "doc_id", "chunk_id"
    )


# --- domain quota sampling ---------------------------------------------------
@register(
    "q174_domain_quota_sample",
    oracle="""
    SELECT source, doc_id FROM (
      SELECT source, doc_id, ROW_NUMBER() OVER (
        PARTITION BY source
        ORDER BY md5(concat(CAST(doc_id AS VARCHAR), ':quota')) ASC,
                 doc_id ASC) AS rk
      FROM documents
    ) WHERE rk <= 10
    ORDER BY source, doc_id
    """,
    notes="per-domain QUOTA sampling (llm/sampling.quota_sample — the "
    "domain-cap step of corpus curation: at most N docs per source so "
    "no crawl host dominates the training mix): deterministic md5 hash "
    "rank per source with doc_id tiebreak, so the kept set is a "
    "uniform per-group sample reproducible across engines, reruns, and "
    "repartitioning — seeded sample() can't promise that (selection "
    "depends on partition layout). One window shuffle on source; at "
    "100 TB no global sort and no collect",
)
def q174_domain_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.sampling import quota_sample

    docs = read_table(spark, sf_dir, "documents").select("source", "doc_id")
    return quota_sample(docs, "source", "doc_id", quota=10).orderBy(
        "source", "doc_id"
    )


def q203_token_packing_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.sampling import pack_by_token_budget

    docs = read_table(spark, sf_dir, "documents")
    return pack_by_token_budget(docs, "doc_id", "n_chars", budget=20000)


_Q203_ORACLE = f"""
    WITH sharded AS (
      SELECT {_shard_sql("CAST(doc_id AS VARCHAR)", ":pack", 64)} AS shard,
             doc_id, n_chars
      FROM documents
    )
    SELECT shard, doc_id, n_chars,
           CAST(floor((SUM(n_chars) OVER (PARTITION BY shard ORDER BY doc_id)
                       - n_chars) / 20000.0) AS BIGINT) AS batch_id
    FROM sharded
"""

_Q203_NOTES = (
    "token packing under the OPERATOR DEFAULT (auto md5 hash shard — "
    "the round-6 scale-default fix: the accidental call form used to "
    "be a corpus-wide single-reducer cumsum): the cumsum window "
    "partitions on the deterministic shard, no SinglePartition "
    "anywhere (plan-gated in tests/test_llm.py); q77 remains the "
    "explicit shard_by=None exactness baseline and q84 the "
    "semantic-shard form. The oracle reproduces the shard digit-for-"
    "digit from the md5 rule"
)


def q205_chunk_custom_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.chunking import chunk_documents

    docs = read_table(spark, sf_dir, "documents")

    def blocks4(s):
        return [s[i : i + 4] for i in range(0, len(s), 4)]

    return chunk_documents(
        docs, window=6, stride=4, tokenizer=blocks4
    ).orderBy("doc_id", "chunk_id")


_Q205_ORACLE = """
    WITH toks AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(text), 4),
                            i -> substr(text, i, 4)) AS t
      FROM documents
    ),
    base AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0)
    SELECT b.doc_id,
           u.k AS chunk_id,
           len(b.t[u.k*4+1 : u.k*4+6]) AS n_tok,
           array_to_string(b.t[u.k*4+1 : u.k*4+6], ' ') AS chunk_text
    FROM base b,
         UNNEST(generate_series(0,
           CAST(ceil(greatest(b.n - 6, 0) / 4.0) AS BIGINT))) AS u(k)
    ORDER BY doc_id, chunk_id
"""

_Q205_NOTES = (
    "chunking through the PLUGGABLE TOKENIZER boundary (functions/"
    "text.make_tokenizer_udfs routing a custom str->list callable "
    "through an Arrow-batched pandas UDF — the same boundary a real "
    "tiktoken/sentencepiece tokenizer rides): the fixture tokenizer "
    "(4-char blocks) is deliberately SQL-expressible so the DuckDB "
    "oracle validates the UDF crossing itself byte-for-byte, q172's "
    "chunk rule unchanged. The dependency-gated model_tokenizer path "
    "is pytest-covered; regex-default chunking stays all-JVM (q172)"
)


def q206_image_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.multimodal import image_pixel_stats, with_multiformat_image_payload

    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return image_pixel_stats(with_multiformat_image_payload(docs)).orderBy(
        "doc_id"
    )


_Q206_ORACLE = """
    WITH ids AS (
      SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h,
             doc_id % 251 AS seed, doc_id % 4 AS fmt
      FROM documents WHERE doc_id < 200
    ),
    px AS (
      SELECT i.doc_id, i.w, i.h,
             ((i.seed + 31 * x.x + 17 * y.y) % 256) AS v
      FROM ids i,
           UNNEST(generate_series(0, i.w - 1)) AS x(x),
           UNNEST(generate_series(0, i.h - 1)) AS y(y)
    ),
    means AS (
      SELECT doc_id,
             CAST(SUM(v) AS DOUBLE) / (w * h) AS m_v,
             CAST(SUM((v * 7) % 256) AS DOUBLE) / (w * h) AS m_7v,
             CAST(SUM((v * 13) % 256) AS DOUBLE) / (w * h) AS m_13v
      FROM px GROUP BY doc_id, w, h
    )
    SELECT i.doc_id,
           CASE i.fmt WHEN 0 THEN 'bmp' WHEN 1 THEN 'ppm'
                      WHEN 2 THEN 'png' ELSE 'jpeg' END AS img_format,
           CAST(i.w AS INTEGER) AS width,
           CAST(i.h AS INTEGER) AS height,
           CAST(CASE WHEN i.fmt = 3 THEN NULL ELSE 3 END AS INTEGER)
             AS channels,
           CASE i.fmt WHEN 0 THEN m.m_13v WHEN 3 THEN NULL ELSE m.m_v END
             AS mean_r,
           CASE WHEN i.fmt = 3 THEN NULL ELSE m.m_7v END AS mean_g,
           CASE i.fmt WHEN 0 THEN m.m_v WHEN 3 THEN NULL ELSE m.m_13v END
             AS mean_b,
           i.fmt <> 3 AS decoded
    FROM ids i JOIN means m ON i.doc_id = m.doc_id
    ORDER BY i.doc_id
"""

_Q206_NOTES = (
    "FULL-PIXEL image decode through the multimodal boundary (llm/"
    "multimodal.image_pixel_stats over mapInPandas): BMP/PPM/PNG "
    "payloads decode to real pixels with pure stdlib (PNG = zlib "
    "inflate + all-five-filter unfilter, CRC-verified; BMP = bottom-up "
    "BGR→RGB; PPM = P6) and emit exact per-channel means; the JPEG "
    "rows here are HEADER-ONLY payloads, so they exercise the "
    "decoded=false degradation path (real baseline-JPEG decode is "
    "q228's job via llm/jpeg.py). The oracle NEVER touches the bytes: "
    "it recomputes the means analytically from the deterministic pixel "
    "formula (integer sums divided once, so the IEEE result matches "
    "bit-for-bit), independently validating encoder AND decoder; "
    "BMP's channel swap shows up as swapped mean_r/mean_b"
)


def q208_chunk_then_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.chunking import chunk_documents
    from ..llm.sampling import pack_by_token_budget

    docs = read_table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, window=32, stride=24).select(
        (F.col("doc_id") * 1000 + F.col("chunk_id")).alias("chunk_key"),
        "n_tok",
    )
    return pack_by_token_budget(
        chunks, "chunk_key", "n_tok", budget=512, n_shards=16
    )


_Q208_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS t
      FROM documents
    ),
    base AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
    chunks AS (
      SELECT b.doc_id * 1000 + u.k AS chunk_key,
             len(b.t[u.k*24+1 : u.k*24+32]) AS n_tok
      FROM base b,
           UNNEST(generate_series(0,
             CAST(ceil(greatest(b.n - 32, 0) / 24.0) AS BIGINT))) AS u(k)
    ),
    sharded AS (
      SELECT {_shard_sql("CAST(chunk_key AS VARCHAR)", ":pack", 16)} AS shard,
             chunk_key, n_tok
      FROM chunks
    )
    SELECT shard, chunk_key, n_tok,
           CAST(floor((SUM(n_tok) OVER (PARTITION BY shard ORDER BY chunk_key)
                       - n_tok) / 512.0) AS BIGINT) AS batch_id
    FROM sharded
"""

_Q208_NOTES = (
    "the COMPOSED pre-training pipeline: chunk long docs into "
    "32-token/24-stride windows (q172's map-only rule), then pack the "
    "chunks into 512-token training batches under the auto-shard "
    "default (q203's distributed cumsum) — the chunk→pack composition "
    "every sequence-packing pipeline runs, here as two operators whose "
    "fusion stays one scan + one keyed window (no intermediate "
    "materialization). The oracle composes the two SQL rules verbatim; "
    "chunk_key = doc_id*1000 + chunk_id keeps the packing order "
    "deterministic and portable"
)


register("q203_token_packing_auto", _Q203_ORACLE, _Q203_NOTES)(q203_token_packing_auto)


register("q205_chunk_custom_tokenizer", _Q205_ORACLE, _Q205_NOTES)(
    q205_chunk_custom_tokenizer
)
register("q206_image_pixel_stats", _Q206_ORACLE, _Q206_NOTES)(q206_image_pixel_stats)


register("q208_chunk_then_pack", _Q208_ORACLE, _Q208_NOTES)(q208_chunk_then_pack)


def q221_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.sampling import temperature_sample

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        temperature_sample(docs, "source", "doc_id", alpha=0.5, total_frac=0.5)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


_Q221_ORACLE = """
    WITH counts AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    w AS (
      SELECT source, n,
             CAST(round(sqrt(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS w
      FROM counts
    ),
    tot AS (
      SELECT CAST(SUM(w) AS BIGINT) AS big_w,
             CAST(floor(SUM(n) * 0.5) AS BIGINT) AS t_total
      FROM w
    ),
    takes AS (
      SELECT source, (tot.t_total * w.w) // tot.big_w AS take
      FROM w CROSS JOIN tot
    ),
    ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(concat(CAST(doc_id AS VARCHAR), ':temp')), doc_id
             ) AS rn
      FROM documents
    )
    SELECT r.doc_id, r.source
    FROM ranked r JOIN takes t ON r.source = t.source
    WHERE r.rn <= t.take
    ORDER BY r.doc_id
"""

_Q221_NOTES = (
    "TEMPERATURE-scaled domain mixing (llm/sampling.temperature_sample "
    "— the n^alpha multilingual/multi-source LM mixing recipe, "
    "alpha=0.5: rare domains upweighted relative to corpus share, one "
    "dial instead of q91's explicit target shares): take counts are "
    "pure INTEGER arithmetic — w_d = round(sqrt(n_d)*1e6) BIGINT "
    "(sqrt is IEEE-correctly-rounded, hence engine-identical; pow is "
    "not, so cross-engine exactness is pinned to alpha=0.5), "
    "t_d = (T*w_d) DIV sum(w) — and winners are md5-rank selected per "
    "domain (the q174 quota rule). One metadata-sized count agg + "
    "broadcast takes + one window shuffle; membership is engine-exact, "
    "reproducible under repartitioning and appends"
)


register("q221_temperature_mix", _Q221_ORACLE, _Q221_NOTES)(q221_temperature_mix)


def q228_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.multimodal import image_pixel_stats, with_real_jpeg_payload

    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    stats = image_pixel_stats(with_real_jpeg_payload(docs))
    return stats.select(
        "doc_id", "img_format", "width", "height", "channels", "decoded"
    ).orderBy("doc_id")


_Q228_ORACLE = """
    SELECT doc_id,
           'jpeg' AS img_format,
           CAST(16 + doc_id % 17 AS INTEGER) AS width,
           CAST(16 + doc_id % 13 AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           TRUE AS decoded
    FROM documents WHERE doc_id < 150
    ORDER BY doc_id
"""

_Q228_NOTES = (
    "REAL baseline-JPEG pixel decode through the multimodal boundary "
    "(llm/jpeg.py — pure numpy Huffman + dequant + IDCT + YCbCr, "
    "Annex-K tables, restart-marker aware; no codec library), closing "
    "the last honest codec stub: with_real_jpeg_payload synthesizes "
    "deterministic multi-MCU gradient JPEGs and image_pixel_stats "
    "Huffman-decodes every one (decoded=true with true dims/channels, "
    "which is what the oracle pins — JPEG is lossy, so channel MEANS "
    "have no exact SQL twin; pixel fidelity is pinned by the "
    "round-trip tolerance pytests in tests/test_round7.py, and "
    "unsupported variants/header-only streams still degrade to "
    "decoded=false, preserved by q206). Arrow-batched map-only plan; "
    "partition parallelism is the decode scale lever"
)


register("q228_jpeg_decode", _Q228_ORACLE, _Q228_NOTES)(q228_jpeg_decode)


def q232_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.entity import blocked_link

    sup = read_table(spark, sf_dir, "supplier")
    # deterministic noise: most rows get ONE substituted digit (dist 1,
    # linkable); every 5th row loses three characters (dist 3, must be
    # rejected at max_dist=2)
    light = F.concat(
        F.expr("substring(s_name, 1, CAST(9 + s_suppkey % 3 AS INT))"),
        F.lit("X"),
        F.expr("substring(s_name, CAST(11 + s_suppkey % 3 AS INT))"),
    )
    heavy = F.concat(
        F.expr("substring(s_name, 1, 9)"), F.expr("substring(s_name, 13)")
    )
    dirty = sup.select(
        F.col("s_suppkey").alias("dirty_id"),
        F.when(F.col("s_suppkey") % 5 == 0, heavy).otherwise(light).alias(
            "dirty_name"
        ),
    )
    blocks = [
        (F.substring(F.col("s_name"), -4, 4), F.substring(F.col("dirty_name"), -4, 4)),
        (F.substring(F.col("s_name"), 10, 3), F.substring(F.col("dirty_name"), 10, 3)),
    ]
    return blocked_link(
        sup, dirty, "s_suppkey", "dirty_id", "s_name", "dirty_name",
        blocks, max_dist=2,
    ).orderBy("s_suppkey", "dirty_id")


_Q232_ORACLE = """
    WITH dirty AS (
      SELECT s_suppkey AS dirty_id,
             CASE WHEN s_suppkey % 5 = 0
                  THEN substr(s_name, 1, 9) || substr(s_name, 13)
                  ELSE substr(s_name, 1, CAST(9 + s_suppkey % 3 AS INTEGER))
                       || 'X'
                       || substr(s_name, CAST(11 + s_suppkey % 3 AS INTEGER))
             END AS dirty_name
      FROM supplier
    ),
    cands AS (
      SELECT l.s_suppkey, r.dirty_id, l.s_name, r.dirty_name
      FROM supplier l
      JOIN dirty r ON right(l.s_name, 4) = right(r.dirty_name, 4)
      UNION
      SELECT l.s_suppkey, r.dirty_id, l.s_name, r.dirty_name
      FROM supplier l
      JOIN dirty r ON substr(l.s_name, 10, 3) = substr(r.dirty_name, 10, 3)
    )
    SELECT s_suppkey, dirty_id,
           CAST(levenshtein(s_name, dirty_name) AS INTEGER) AS dist
    FROM cands
    WHERE levenshtein(s_name, dirty_name) <= 2
    ORDER BY s_suppkey, dirty_id
"""

_Q232_NOTES = (
    "CROSS-TABLE ENTITY RESOLUTION (llm/entity.blocked_link — record "
    "linkage: the dedup family finds near-dups WITHIN a corpus; this "
    "links noisy records ACROSS two tables): BLOCK-then-VERIFY with "
    "MULTI-PASS blocking — a pair is a candidate if ANY blocking key "
    "agrees (the multi-table-LSH recall dial), candidates dedup before "
    "the O(len^2) Levenshtein verify so the expensive step runs once "
    "per pair, and every pass is a plain equi-join (never L x R). The "
    "fixture injects deterministic noise: one substituted digit links "
    "at dist 1; every 5th record loses three characters and is "
    "correctly rejected at max_dist=2 — precision AND recall are both "
    "visible in the differential"
)


register("q232_entity_resolution", _Q232_ORACLE, _Q232_NOTES)(q232_entity_resolution)


def q243_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.pca import embedding_covariance

    emb = read_table(spark, sf_dir, "embeddings")
    return embedding_covariance(emb, "embedding", d=64).orderBy("i", "j")


_Q243_ORACLE = """
    WITH e AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) v
               FROM embeddings),
    prods AS (
      SELECT i, j, CAST(round(v[i+1]*v[j+1], 9) AS DECIMAL(38,9)) xy
      FROM e, generate_series(0,63) g1(i), generate_series(0,63) g2(j)
      WHERE i <= j
    ),
    sxy AS (SELECT i, j, CAST(COUNT(*) AS BIGINT) n, SUM(xy) sxy
            FROM prods GROUP BY i, j),
    sx AS (
      SELECT k, SUM(CAST(round(v[k+1],9) AS DECIMAL(38,9))) sx
      FROM e, generate_series(0,63) g(k) GROUP BY k
    )
    SELECT s.i, s.j, s.n,
      round((CAST(s.sxy AS DOUBLE)
             - CAST(a.sx AS DOUBLE)*CAST(b.sx AS DOUBLE)/s.n)/s.n, 6) + 0.0 AS cov
    FROM sxy s JOIN sx a ON s.i = a.k JOIN sx b ON s.j = b.k
    ORDER BY s.i, s.j
"""

_Q243_NOTES = (
    "EMBEDDING COVARIANCE (llm/pca.embedding_covariance — the d x d "
    "second-moment matrix behind PCA, whitening, and collapsed-dimension "
    "audits): each row expands its 64-vector into the 2,080 "
    "upper-triangle products MAP-SIDE via one nested codegen transform "
    "(no joins, no Python, no d^2 shuffle blowup — the exchange carries "
    "O(d^2) partials per task, not per row), and products ride 9dp "
    "decimals so the single hash agg is order-independent and the "
    "DuckDB oracle replays it digit-for-digit. The O(N*d^2) multiply "
    "work is covariance's irreducible cost and stays data-parallel; "
    "the result is metadata-sized at ANY corpus scale"
)


def q244_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.pca import pca_project

    emb = read_table(spark, sf_dir, "embeddings")
    return pca_project(emb, "embedding", "vec_id", k=4, d=64).orderBy("vec_id")


_Q244_NOTES = (
    "PCA PROJECTION (llm/pca.pca_project — top-4 principal components "
    "per vector): covariance in one corpus pass (q243), "
    "eigendecomposition DRIVER-SIDE on the collected d x d matrix (the "
    "bounded-scalar collect class — 2,080 doubles, never rows), then a "
    "map-only JVM aggregate fold of every vector against the broadcast "
    "eigenvector literals; the corpus is never shuffled. Eigenvector "
    "signs canonicalized (largest-|coord| positive) so results are "
    "deterministic across LAPACK builds. rows-only BY DESIGN: no SQL "
    "engine eigendecomposes — the projection laws (component variance "
    "== eigenvalue, cross-component covariance == 0, corpus mean maps "
    "to origin) are pytest-pinned in tests/test_round7.py"
)


def q246_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.sampling import negative_sample

    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    part = read_table(spark, sf_dir, "part")
    pos = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("o_custkey") % 100 == 7)
        .select(F.col("o_custkey").alias("user_id"), F.col("l_partkey").alias("item"))
    )
    n_items = part.count()  # metadata-sized scalar (contiguous 0..P-1 keys)
    out = negative_sample(pos, "user_id", "item", n_items, k=2, salt="neg")
    return out.select(
        F.col("user").alias("user_id"), "neg_item", "draw"
    ).orderBy("user_id", "draw", "neg_item")


_Q246_ORACLE = f"""
    WITH pos AS (
      SELECT o.o_custkey AS user_id, l.l_partkey AS item
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_custkey % 100 = 7
    ),
    draws AS (
      SELECT user_id, draw,
        {_shard_sql("concat(user_id, '_', item, '_', draw)", ":neg",
                    "(SELECT COUNT(*) FROM part)")} AS neg_item
      FROM pos, (VALUES (1), (2)) d(draw)
    )
    SELECT user_id, neg_item, CAST(draw AS INTEGER) AS draw
    FROM draws
    WHERE NOT EXISTS (SELECT 1 FROM pos p
                      WHERE p.user_id = draws.user_id
                        AND p.item = draws.neg_item)
    ORDER BY user_id, draw, neg_item
"""

_Q246_NOTES = (
    "DETERMINISTIC NEGATIVE SAMPLING (llm/sampling.negative_sample — "
    "the contrastive/recommender training-pair generator): k=2 "
    "candidate items per positive drawn by the engine-wide portable "
    "md5 rule (any engine reproduces the exact sample — the oracle "
    "does), then a left-anti join drops accidental positives. "
    "Collision policy is DROP, not re-draw: re-drawing makes the "
    "round count data-dependent; dropping keeps the whole operator "
    "one-pass — draws are a map-side k-element explode and the ONLY "
    "shuffle is the anti-join on (user, item). Expected loss is "
    "density*k — negligible in the sparse recommender regime. "
    "Duplicate (user,item) positives yield duplicate draws by design "
    "(with-replacement semantics, draw index disambiguates)"
)


register("q243_embedding_covariance", _Q243_ORACLE, _Q243_NOTES)(
    q243_embedding_covariance
)
register("q244_pca_projection", None, _Q244_NOTES)(q244_pca_projection)


register("q246_negative_sampling", _Q246_ORACLE, _Q246_NOTES)(q246_negative_sampling)


def q254_mixed_codec_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.multimodal import image_pixel_stats, with_mixed_codec_payload

    docs = read_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    stats = image_pixel_stats(with_mixed_codec_payload(docs))
    return stats.select(
        "doc_id", "img_format", "width", "height", "channels", "decoded"
    ).orderBy("doc_id")


_Q254_ORACLE = """
    SELECT doc_id,
           CASE WHEN doc_id % 5 IN (2, 3) THEN 'png' ELSE 'jpeg' END
             AS img_format,
           CAST(16 + doc_id % 17 AS INTEGER) AS width,
           CAST(16 + doc_id % 13 AS INTEGER) AS height,
           CAST(CASE WHEN doc_id % 5 = 3 THEN 4 ELSE 3 END AS INTEGER)
             AS channels,
           TRUE AS decoded
    FROM documents WHERE doc_id < 200
    ORDER BY doc_id
"""

_Q254_NOTES = (
    "MIXED-CODEC REAL DECODE (round 8 — the shapes the r7 verdict "
    "ranked top of Missing): 4:2:0 / 4:2:2 chroma-subsampled baseline "
    "JPEG (llm/jpeg.py: general HixVi MCU layout + replication "
    "upsample, T.81 A.2.3), PROGRESSIVE SOF2 JPEG (Annex G multi-scan "
    "decode: DC first/refine, AC spectral-selection with EOB runs, AC "
    "successive-approximation refinement — bit-identical to the "
    "sequential decode by construction, pinned in tests), and palette "
    "PNG (llm/multimodal.py: PLTE expansion at bit depth 1/2/4/8, "
    "tRNS alpha -> RGBA, sub-byte MSB-first index unpack, fbpp=1 "
    "filters). Every payload is a real spec-conforming stream from "
    "the in-repo encoders; the oracle pins decoded=true with true "
    "dims/channels per the doc_id % 5 rotation (channel means are "
    "pinned by round-trip tolerance pytests in tests/test_round8.py — "
    "lossy JPEG has no exact SQL twin). Arrow-batched map-only plan, "
    "no shuffle; partition parallelism is the decode scale lever"
)


register("q254_mixed_codec_decode", _Q254_ORACLE, _Q254_NOTES)(q254_mixed_codec_decode)


def q263_temporal_embargo_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.sampling import temporal_split_embargo

    ev = read_table(spark, sf_dir, "events")
    return temporal_split_embargo(
        ev, "user_id", "ts", 0.8, 3600
    ).select("event_id", "user_id", "split").orderBy("event_id")


_Q263_ORACLE = """
    WITH cuts AS (
      SELECT user_id,
             quantile_disc(CAST(epoch_us(ts) AS DOUBLE), 0.8) AS cut_us
      FROM events GROUP BY 1
    )
    SELECT e.event_id, e.user_id,
           CASE WHEN c.cut_us - epoch_us(e.ts) > 3600000000 THEN 'train'
                WHEN epoch_us(e.ts) > c.cut_us THEN 'test'
                ELSE 'embargo' END AS split
    FROM events e JOIN cuts c USING (user_id)
    ORDER BY e.event_id
"""

_Q263_NOTES = (
    "TEMPORAL TRAIN/TEST SPLIT WITH EMBARGO (llm/sampling."
    "temporal_split_embargo — the time-series sibling of the "
    "cluster-embargo leakage_safe_split: per-key cutoff at the "
    "DISCRETE 0.8 quantile of the key's own timestamps — an actual "
    "observed value, no interpolation ambiguity — and rows within the "
    "embargo interval before the cutoff are dropped so train features "
    "cannot see test-adjacent time): one per-key exact-quantile agg "
    "broadcast back, assignment map-side. Spark percentile_disc and "
    "DuckDB quantile_disc agree on the smallest-cume_dist>=p element "
    "(verified empirically)"
)


register("q263_temporal_embargo_split", _Q263_ORACLE, _Q263_NOTES)(
    q263_temporal_embargo_split
)


def q270_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import rake_keywords

    docs = read_table(spark, sf_dir, "documents")
    return rake_keywords(docs, "doc_id", "text").orderBy("word")


def _q270_oracle() -> str:
    from ..functions.text import STOPWORDS

    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
    WITH toks AS MATERIALIZED (
      SELECT _doc, u['i'] - 1 AS _pos,
             regexp_replace(u['t'], '[^a-z0-9]', '', 'g') AS _tok
      FROM (
        SELECT doc_id AS _doc,
               unnest(list_transform(
                 string_split_regex(lower(trim(text)), '\\s+'),
                 (x, i) -> {{'t': x, 'i': i}})) AS u
        FROM documents
      )
    ),
    flagged AS MATERIALIZED (
      SELECT _doc, _pos, _tok,
             (_tok IN ({stop_list}) OR _tok = '') AS _stop,
             SUM(CASE WHEN (_tok IN ({stop_list}) OR _tok = '')
                 THEN 1 ELSE 0 END)
               OVER (PARTITION BY _doc ORDER BY _pos) AS _isl
      FROM toks
    ),
    islands AS MATERIALIZED (
      SELECT _doc, _pos, _tok, _isl FROM flagged WHERE NOT _stop
    ),
    phrases AS MATERIALIZED (
      SELECT _doc, _isl, COUNT(*) AS _plen FROM islands GROUP BY 1, 2
    )
    SELECT i._tok AS word, COUNT(*) AS freq,
           CAST(SUM(p._plen) AS BIGINT) AS degree,
           CAST(SUM(p._plen) AS DOUBLE) / COUNT(*) AS score
    FROM islands i JOIN phrases p USING (_doc, _isl)
    GROUP BY 1 ORDER BY word
    """


_Q270_NOTES = (
    "RAKE KEYWORD EXTRACTION (functions/text.rake_keywords, Rose et "
    "al. 2010 — corpus keyword scores degree/freq where degree sums "
    "the lengths of the stopword-delimited phrases a word appears in): "
    "phrase segmentation is GAPS-AND-ISLANDS (posexplode + stopword "
    "flag + running-sum island id per doc — one per-doc window, no "
    "regex-dialect surgery), then two corpus-keyed aggs. Score is a "
    "small-int division — raw-double bit-portable. DuckDB twin "
    "replays the identical island construction (regexp_replace with "
    "the 'g' flag — DuckDB replaces first-only by default, the one "
    "dialect trap here)"
)


register("q270_rake_keywords", _q270_oracle(), _Q270_NOTES)(q270_rake_keywords)


def q271_bpe_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.bpe import bpe_train

    docs = read_table(spark, sf_dir, "documents")
    merges, _state = bpe_train(docs, "text", n_merges=12)
    return spark.createDataFrame(
        [
            (rank, left, right, merged, cnt)
            for rank, (left, right, merged, cnt) in enumerate(merges, 1)
        ],
        "rank int, left string, right string, merged string, pair_count long",
    ).orderBy("rank")


_Q271_NOTES = (
    "DISTRIBUTED BPE TOKENIZER TRAINING (llm/bpe.bpe_train, Sennrich "
    "et al. 2016 — learns the merge table behind GPT-2-style "
    "vocabularies; completes the round-6 pluggable-tokenizer boundary "
    "with an in-engine trainer): ONE corpus scan builds the "
    "distinct-word frequency table, which stays a DataFrame (at 100 "
    "TB the type table itself exceeds driver memory); each merge "
    "round is a map-side adjacent-pair explode + one hash agg + an "
    "O(1) argmax collect (count desc, pair asc tie rule) + a map-side "
    "Arrow rewrite, lineage truncated per round. Inherently iterative "
    "(PageRank class): rows-only entry; EXACT merge-sequence parity "
    "with a pure-python reference BPE is pytest-pinned"
)


register("q271_bpe_vocabulary", None, _Q271_NOTES)(q271_bpe_vocabulary)


def q275_compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.quality import compression_quality

    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 500
    )
    return compression_quality(docs).orderBy("doc_id")


_Q275_NOTES = (
    "COMPRESSION-RATIO QUALITY SIGNAL (llm/quality.compression_quality "
    "— the Gopher-rule catch-all next to the n-gram repetition scores: "
    "deflate_len/utf8_len flags both tails, over-compressible "
    "boilerplate and incompressible binary/base64 noise): stdlib zlib "
    "at pinned level 6 inside Arrow-batched mapInPandas — map-only, "
    "shuffle-free, partition parallelism is the scale lever. No SQL "
    "engine exposes deflate: rows-only entry; the monotone laws "
    "(repetitive text compresses far below prose; random noise above) "
    "are pytest-pinned"
)


register("q275_compression_quality", None, _Q275_NOTES)(q275_compression_quality)


def q285_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import strip_html

    docs = read_table(spark, sf_dir, "documents")
    synth = F.concat(
        F.lit("<html><head><style>body{color:red}</style><script>var a="),
        F.col("doc_id").cast("string"),
        F.lit(";</script></head><body><h1>"),
        F.col("source"),
        F.lit("</h1><p>"),
        F.substring(F.col("text"), 1, 200),
        F.lit(" &amp; more</p><!-- id "),
        F.col("doc_id").cast("string"),
        F.lit(" --><div>tail&nbsp;"),
        F.col("lang"),
        F.lit("&#39;s &lt;end&gt;</div></body></html>"),
    )
    return docs.select(
        "doc_id", strip_html(synth).alias("clean")
    ).orderBy("doc_id")


_Q285_ORACLE = """
    SELECT doc_id,
      trim(regexp_replace(
        replace(replace(replace(replace(replace(replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(synth, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
              '(?s)<!--.*?-->', ' ', 'g'),
            '<[^>]+>', ' ', 'g'),
          '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
          '&nbsp;', ' '), '&amp;', '&'),
        '\\s+', ' ', 'g')) AS clean
    FROM (
      SELECT doc_id,
             '<html><head><style>body{color:red}</style><script>var a='
             || CAST(doc_id AS VARCHAR)
             || ';</script></head><body><h1>' || source || '</h1><p>'
             || substr(text, 1, 200) || ' &amp; more</p><!-- id '
             || CAST(doc_id AS VARCHAR) || ' --><div>tail&nbsp;' || lang
             || '&#39;s &lt;end&gt;</div></body></html>' AS synth
      FROM documents
    )
    ORDER BY doc_id
"""

_Q285_NOTES = (
    "HTML BOILERPLATE STRIP (functions/text.strip_html — the lexical "
    "web-corpus cleaning pass: script/style/comment blocks dropped WITH "
    "contents, tags to spaces so adjacent blocks never fuse, the six "
    "dominant entities decoded with &amp; LAST so &amp;lt; stays "
    "literal, whitespace collapsed): chained regexp_replace/replace in "
    "the Java-regex/RE2 common subset — map-only, whole-stage codegen, "
    "zero parser dependency; deterministic HTML synthesized per doc so "
    "both engines strip identical markup"
)


def q286_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import url_host, url_normalize, url_registered_domain

    docs = read_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    synth = (
        F.when(
            d % 4 == 0,
            F.concat(
                F.lit("HTTP://WWW.Example"), (d % 7).cast("string"),
                F.lit(".COM:80/p/"), d.cast("string"),
                F.lit("?utm_source=a&x="), d.cast("string"), F.lit("#frag"),
            ),
        )
        .when(
            d % 4 == 1,
            F.concat(
                F.lit("https://news.site"), (d % 5).cast("string"),
                F.lit(".co.uk:443/a/"), d.cast("string"), F.lit("?fbclid=zz"),
            ),
        )
        .when(
            d % 4 == 2,
            F.concat(
                F.lit("https://cdn.host"), (d % 3).cast("string"),
                F.lit(".org/img.png?gclid=1&v=2&utm_medium=m"),
            ),
        )
        .otherwise(
            F.concat(F.lit("http://plain.example.net/page"), d.cast("string"))
        )
    )
    return docs.select(
        "doc_id",
        url_normalize(synth).alias("canonical"),
        url_host(synth).alias("host"),
        url_registered_domain(synth).alias("domain"),
    ).orderBy("doc_id")


_Q286_ORACLE = """
    WITH synth AS (
      SELECT doc_id,
        CASE
          WHEN doc_id % 4 = 0 THEN
            'HTTP://WWW.Example' || CAST(doc_id % 7 AS VARCHAR)
            || '.COM:80/p/' || CAST(doc_id AS VARCHAR)
            || '?utm_source=a&x=' || CAST(doc_id AS VARCHAR) || '#frag'
          WHEN doc_id % 4 = 1 THEN
            'https://news.site' || CAST(doc_id % 5 AS VARCHAR)
            || '.co.uk:443/a/' || CAST(doc_id AS VARCHAR) || '?fbclid=zz'
          WHEN doc_id % 4 = 2 THEN
            'https://cdn.host' || CAST(doc_id % 3 AS VARCHAR)
            || '.org/img.png?gclid=1&v=2&utm_medium=m'
          ELSE 'http://plain.example.net/page' || CAST(doc_id AS VARCHAR)
        END AS url
      FROM documents
    ),
    parts AS (
      SELECT doc_id, url,
        lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
        lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS auth_raw,
        regexp_replace(regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', ''),
                       '#.*$', '') AS rest0
      FROM synth
    ),
    cleaned AS (
      SELECT doc_id, url, scheme,
        CASE WHEN scheme = 'http' THEN regexp_replace(auth_raw, ':80$', '')
             WHEN scheme = 'https' THEN regexp_replace(auth_raw, ':443$', '')
             ELSE auth_raw END AS auth,
        lower(regexp_replace(regexp_replace(
          regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1),
          '^[^@]*@', ''), ':[0-9]+$', '')) AS host,
        regexp_replace(
          regexp_replace(
            regexp_replace(rest0,
              '&(utm_[a-zA-Z]+|fbclid|gclid|msclkid)=[^&#]*', '', 'g'),
            '\\?(utm_[a-zA-Z]+|fbclid|gclid|msclkid)=[^&#]*&', '?', 'g'),
          '\\?(utm_[a-zA-Z]+|fbclid|gclid|msclkid)=[^&#]*$', '', 'g') AS rest
      FROM parts
    )
    SELECT doc_id,
           scheme || '://' || auth || rest AS canonical,
           host,
           CASE WHEN regexp_matches(host,
                  '[^.]+\\.(co|com|net|org|gov|ac|edu)\\.[a-z]{2}$')
                THEN regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$', 1)
                ELSE regexp_extract(host, '([^.]+\\.[^.]+)$', 1) END AS domain
    FROM cleaned
    ORDER BY doc_id
"""

_Q286_NOTES = (
    "URL CANONICALIZATION (functions/text.url_normalize / url_host / "
    "url_registered_domain — the crawl-dedup and per-site-quota key): "
    "lowercase scheme+authority, fragment dropped, default ports "
    "stripped per scheme, tracking params (utm_*, fbclid, gclid, "
    "msclkid) removed with separator repair, registered domain by the "
    "ccTLD-second-level heuristic (PSL table can broadcast-join behind "
    "the same contract). Pure regexp chains in the Java/RE2 common "
    "subset, NO replacement backrefs (the one divergent dialect "
    "feature); map-only whole-stage codegen"
)


register("q285_html_strip", _Q285_ORACLE, _Q285_NOTES)(q285_html_strip)
register("q286_url_canonical", _Q286_ORACLE, _Q286_NOTES)(q286_url_canonical)


def q287_jw_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.entity import blocked_link_jw

    sup = read_table(spark, sf_dir, "supplier")
    # q232's deterministic noise fixture: one substituted digit (high
    # JW, linkable) vs every 5th row losing three characters (lower JW,
    # rejected at the 0.93 threshold)
    light = F.concat(
        F.expr("substring(s_name, 1, CAST(9 + s_suppkey % 3 AS INT))"),
        F.lit("X"),
        F.expr("substring(s_name, CAST(11 + s_suppkey % 3 AS INT))"),
    )
    heavy = F.concat(
        F.expr("substring(s_name, 1, 9)"), F.expr("substring(s_name, 13)")
    )
    dirty = sup.select(
        F.col("s_suppkey").alias("dirty_id"),
        F.when(F.col("s_suppkey") % 5 == 0, heavy).otherwise(light).alias(
            "dirty_name"
        ),
    )
    blocks = [
        (F.substring(F.col("s_name"), -4, 4), F.substring(F.col("dirty_name"), -4, 4)),
        (F.substring(F.col("s_name"), 10, 3), F.substring(F.col("dirty_name"), 10, 3)),
    ]
    return (
        blocked_link_jw(
            sup, dirty, "s_suppkey", "dirty_id", "s_name", "dirty_name",
            blocks, threshold=0.93,
        )
        .select(
            "s_suppkey", "dirty_id", F.round(F.col("jw"), 6).alias("jw")
        )
        .orderBy("s_suppkey", "dirty_id")
    )


_Q287_ORACLE = """
    WITH dirty AS (
      SELECT s_suppkey AS dirty_id,
             CASE WHEN s_suppkey % 5 = 0
                  THEN substr(s_name, 1, 9) || substr(s_name, 13)
                  ELSE substr(s_name, 1, CAST(9 + s_suppkey % 3 AS INTEGER))
                       || 'X'
                       || substr(s_name, CAST(11 + s_suppkey % 3 AS INTEGER))
             END AS dirty_name
      FROM supplier
    ),
    cands AS (
      SELECT l.s_suppkey, r.dirty_id, l.s_name, r.dirty_name
      FROM supplier l
      JOIN dirty r ON right(l.s_name, 4) = right(r.dirty_name, 4)
      UNION
      SELECT l.s_suppkey, r.dirty_id, l.s_name, r.dirty_name
      FROM supplier l
      JOIN dirty r ON substr(l.s_name, 10, 3) = substr(r.dirty_name, 10, 3)
    )
    SELECT s_suppkey, dirty_id,
           round(jaro_winkler_similarity(s_name, dirty_name), 6) AS jw
    FROM cands
    WHERE jaro_winkler_similarity(s_name, dirty_name) >= 0.93
    ORDER BY s_suppkey, dirty_id
"""

_Q287_NOTES = (
    "JARO-WINKLER ENTITY RESOLUTION (llm/entity.blocked_link_jw — the "
    "record-linkage scorer for NAME fields: prefix-weighted, length-"
    "normalized, transposition-tolerant where raw edit distance over-"
    "penalizes short strings): same multi-pass block-then-verify shape "
    "as q232, verify scorer an Arrow-batched pandas UDF pinned to "
    "DuckDB's jaro_winkler_similarity semantics (empty->0, boost only "
    "above 0.7, prefix<=4, scale 0.1 — integer-ratio IEEE arithmetic, "
    "validated bit-identical on 600+ randomized pairs, no rounding "
    "slack needed; output rounded 6dp for wire stability only). The "
    "threshold separates the one-substitution noise class from the "
    "three-deletion class, so precision and recall are both visible"
)


register("q287_jw_entity_resolution", _Q287_ORACLE, _Q287_NOTES)(
    q287_jw_entity_resolution
)


def q290_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.audio import audio_stats, with_wav_payload

    docs = read_table(spark, sf_dir, "documents")
    payloads = with_wav_payload(docs, "doc_id", every=5)
    return (
        audio_stats(payloads)
        .select(
            "doc_id", "sample_rate", "channels", "bits", "n_frames",
            "duration_s", "peak_abs", "mean_square", "zero_crossings",
        )
        .orderBy("doc_id")
    )


_Q290_ORACLE = """
    WITH ids AS (
      SELECT doc_id, 800 + (doc_id % 7) * 160 AS n
      FROM documents WHERE doc_id % 5 = 0
    ),
    samples AS (
      SELECT doc_id, n, i,
             (doc_id * 7349 + i * (i + 13) * 2654435761) % 65536 - 32768 AS s
      FROM ids, UNNEST(generate_series(0, n - 1)) AS t(i)
    ),
    flagged AS (
      SELECT doc_id, n, i, s,
             CASE WHEN (s >= 0) <>
                  (lag(s) OVER (PARTITION BY doc_id ORDER BY i) >= 0)
                  THEN 1 ELSE 0 END AS flip
      FROM samples
    )
    SELECT doc_id,
           8000 AS sample_rate,
           1 AS channels,
           CAST(CASE doc_id % 3 WHEN 0 THEN 16 WHEN 1 THEN 32 ELSE 64 END
                AS INTEGER) AS bits,
           CAST(MAX(n) AS BIGINT) AS n_frames,
           CAST(MAX(n) AS DOUBLE) / 8000 AS duration_s,
           CAST(MAX(ABS(s)) AS BIGINT) AS peak_abs,
           CAST(SUM(s * s) AS DOUBLE) / MAX(n) AS mean_square,
           CAST(SUM(flip) AS BIGINT) AS zero_crossings
    FROM flagged
    GROUP BY doc_id
    ORDER BY doc_id
"""

_Q290_NOTES = (
    "REAL AUDIO DECODE + FEATURES (llm/audio — from-spec RIFF/WAVE "
    "parser: integer PCM at 8/16/24/32 bits AND IEEE-float format 3 at "
    "32/64 bits (r8 verdict item 7; floats scale to the 16-bit integer "
    "domain via round(x*2^15), bit-exact on the dyadic fixture), "
    "chunk-walk tolerant; the fixture cycles all three fmt arms over "
    "the SAME waveform so the float decode path is oracle-pinned, not "
    "just pytest-pinned; audio_stats over "
    "Arrow mapInPandas: duration, peak, mean-square energy, zero "
    "crossings — map-only, shuffle-free, the image_pixel_stats "
    "contract extended to audio with decoded=false degradation for "
    "non-PCM codecs): the FIXTURE-DIFFERENTIAL oracle never parses a "
    "WAV byte — it regenerates the deterministic BIGINT waveform with "
    "generate_series and reproduces every stat (exact-integer peak/zc/"
    "sum-of-squares, one IEEE division) bit-for-bit, so a decoder bug "
    "anywhere in the chunk walk or PCM unpack hash-fails"
)


register("q290_audio_features", _Q290_ORACLE, _Q290_NOTES)(q290_audio_features)


def q297_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.audio import audio_spectral, with_wav_payload

    docs = read_table(spark, sf_dir, "documents")
    payloads = with_wav_payload(docs, "doc_id", every=10)
    return (
        audio_spectral(payloads, n_fft=256)
        .filter(F.col("decoded"))
        .select("doc_id", "centroid_hz", "bandwidth_hz", "rolloff_hz", "flatness")
        .orderBy("doc_id")
    )


_Q297_NOTES = (
    "AUDIO SPECTRAL FEATURES (llm/audio.audio_spectral — centroid/"
    "bandwidth/85%-rolloff/flatness from non-overlapping rectangular-"
    "window rfft frames averaged Welch-style, DC excluded from "
    "flatness): the speech/music/noise triage signals amplitude stats "
    "can't see. ROWS-ONLY by design — no SQL FFT exists; correctness "
    "pinned by construction laws in pytest (a pure tone's centroid IS "
    "its frequency, noise is flatter and wider — the isotonic-PAV "
    "precedent). Arrow mapInPandas, map-only, shuffle-free"
)


register("q297_audio_spectral", None, _Q297_NOTES)(q297_audio_spectral)


def q298_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-curation funnel in ONE scan: every stage of the
    standard pipeline (lang-ID -> quality gate -> exact near-dup
    canonicalization -> hash-rank sampling) computed as FLAGS over the
    same pass, one fingerprint-keyed window for first-wins dedup, one
    aggregate of cumulative-conjunction conditional sums — the report a
    curation run ships with (how much survived each gate, in docs and
    chars), never five scans."""
    from pyspark.sql import Window

    from ..functions.text import fingerprint, lang_id, quality_score, tokens

    docs = read_table(spark, sf_dir, "documents")
    tk = tokens("text")
    base = docs.select(
        "doc_id",
        "n_chars",
        (lang_id("text", tk) == "en").alias("s_lang"),
        (quality_score("text", tk) >= 0.75).alias("s_qual"),
        fingerprint("text").alias("fp"),
    ).withColumn("s_filt", F.col("s_lang") & F.col("s_qual"))
    w = Window.partitionBy("fp", "s_filt").orderBy("doc_id")
    flagged = base.withColumn(
        "s_canon", F.col("s_filt") & (F.row_number().over(w) == 1)
    ).withColumn(
        "s_samp",
        F.col("s_canon")
        & (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":cur"))),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("long")
            % 100
            < 50
        ),
    )

    def stage(flag, name):
        return F.struct(
            F.lit(name).alias("stage"),
            F.sum(F.when(flag, 1).otherwise(0)).cast("long").alias("n_docs"),
            F.sum(F.when(flag, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("n_chars_total"),
        )

    wide = flagged.agg(
        stage(F.lit(True), "1_raw").alias("a"),
        stage(F.col("s_lang"), "2_lang").alias("b"),
        stage(F.col("s_filt"), "3_quality").alias("c"),
        stage(F.col("s_canon"), "4_dedup").alias("d"),
        stage(F.col("s_samp"), "5_sample").alias("e"),
    )
    return (
        wide.select(
            F.explode(
                F.array(F.col("a"), F.col("b"), F.col("c"), F.col("d"), F.col("e"))
            ).alias("r")
        )
        .select("r.stage", "r.n_docs", "r.n_chars_total")
        .orderBy("stage")
    )


_CUR_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in _CUR_STOPWORDS) + "]"

_Q298_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, text, n_chars,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS t
      FROM documents
    ),
    feats AS (
      SELECT doc_id, n_chars,
             CASE WHEN len(t) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(t, x -> list_contains(
                    {_CUR_STOP_SQL}, x))) AS DOUBLE)
                    / len(t) END AS stop_ratio,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '',
                    'g')) AS DOUBLE) / length(text) END AS punct_ratio,
             CASE WHEN len(t) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(t, x -> length(x)))
                    AS DOUBLE) / len(t) END AS avg_wlen,
             length(text) AS n_len,
             md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS fp
      FROM toks
    ),
    flags AS (
      SELECT doc_id, n_chars, fp,
             stop_ratio >= 0.05 AS s_lang,
             (stop_ratio >= 0.05) AND
             ((CASE WHEN n_len BETWEEN 100 AND 20000 THEN 0.25 ELSE 0.0 END
               + CASE WHEN punct_ratio <= 0.1 THEN 0.25 ELSE 0.0 END
               + CASE WHEN stop_ratio BETWEEN 0.02 AND 0.6 THEN 0.25 ELSE 0.0 END
               + CASE WHEN avg_wlen BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END)
              >= 0.75) AS s_filt
      FROM feats
    ),
    canon AS (
      SELECT doc_id, n_chars, s_lang, s_filt,
             s_filt AND (row_number() OVER (
               PARTITION BY fp, s_filt ORDER BY doc_id) = 1) AS s_canon
      FROM flags
    ),
    samp AS (
      SELECT *, s_canon AND (
        CAST(list_sum(list_transform(generate_series(1, 6), i ->
          CAST((strpos('0123456789abcdef',
                substr(md5(CAST(doc_id AS VARCHAR) || ':cur'), i, 1)) - 1)
            AS BIGINT) * CAST(power(16, 6 - i) AS BIGINT))) AS BIGINT)
        % 100 < 50) AS s_samp
      FROM canon
    )
    SELECT '1_raw' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars_total FROM samp
    UNION ALL
    SELECT '2_lang', CAST(SUM(CASE WHEN s_lang THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN s_lang THEN n_chars ELSE 0 END) AS BIGINT) FROM samp
    UNION ALL
    SELECT '3_quality', CAST(SUM(CASE WHEN s_filt THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN s_filt THEN n_chars ELSE 0 END) AS BIGINT) FROM samp
    UNION ALL
    SELECT '4_dedup', CAST(SUM(CASE WHEN s_canon THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN s_canon THEN n_chars ELSE 0 END) AS BIGINT) FROM samp
    UNION ALL
    SELECT '5_sample', CAST(SUM(CASE WHEN s_samp THEN 1 ELSE 0 END) AS BIGINT),
           CAST(SUM(CASE WHEN s_samp THEN n_chars ELSE 0 END) AS BIGINT) FROM samp
    ORDER BY stage
"""

_Q298_NOTES = (
    "END-TO-END CURATION FUNNEL (the pipeline showcase: lang-ID -> "
    "quality gate -> exact near-dup canonicalization -> hash-rank "
    "sample, composed from the engine's own primitives lang_id/"
    "quality_score/fingerprint/md5-rule): ONE scan computing every "
    "stage as cumulative-conjunction FLAGS, one fingerprint-keyed "
    "window for first-wins dedup AMONG survivors (partition by "
    "(fp, s_filt) so filtered-out rows can't steal canonical slots), "
    "one aggregate of conditional sums — the survival report in docs "
    "and chars, never five scans. Quality threshold 0.75, sample 50%"
)


register("q298_curation_funnel", _Q298_ORACLE, _Q298_NOTES)(q298_curation_funnel)


def q304_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.video import video_frame_stats, with_mjpeg_payload

    docs = read_table(spark, sf_dir, "documents")
    payloads = with_mjpeg_payload(docs, "doc_id", every=25)
    return (
        video_frame_stats(payloads, every=2)
        .filter(F.col("decoded"))
        .select(
            "doc_id", "fps", "width", "height", "n_frames", "duration_s",
            "frames_sampled", "motion",
        )
        .orderBy("doc_id")
    )


_Q304_NOTES = (
    "REAL VIDEO DECODE + FEATURES (llm/video — Motion-JPEG AVI: the "
    "RIFF chunk walker from the audio work demuxes the container, the "
    "in-repo pure-numpy JPEG codec decodes every sampled frame; "
    "per-video means + a MOTION score (mean inter-frame pixel delta) "
    "over every-k-th-frame sampling so per-row cost is independent of "
    "clip length; inter-frame codecs degrade to decoded=false — the "
    "image/audio contract; retires the LAST _fake_decode stub class). "
    "ROWS-ONLY: the JPEG DCT round-trip has no SQL twin; container "
    "fields and motion laws pinned in pytest (still clip == 0, "
    "shifting gradient > 0, frame decode within quantization error)"
)


register("q304_video_features", None, _Q304_NOTES)(q304_video_features)


def q314_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-codec image near-dup: every sampled doc plants the SAME
    striped picture twice — once as PNG (id*2), once as JPEG (id*2+1).
    The dhash banding pairs each planted cross-codec twin; the stripe
    parameters cycle with period 50 sampled docs, so at larger SFs
    fixture-period REPEATS also (correctly) pair — every emitted pair
    is a genuine same-picture match by construction."""
    import numpy as np

    from pyspark.sql import types as T

    from ..llm.multimodal import image_dhash, image_near_dup_pairs

    docs = read_table(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        import pandas as pd

        from ..llm.jpeg import encode_jpeg_pixels
        from ..llm.multimodal import encode_png  # noqa: F401  (fixture twin)

        for pdf in batches:
            out_ids, out_pay = [], []
            for i in (int(x) for x in pdf["doc_id"] if int(x) % 25 == 0):
                ys, xs = np.mgrid[0:24, 0:32]
                # STRUCTURALLY distinct per doc (dhash is shift-
                # invariant, so constant offsets all collide — vary the
                # stripe frequency and orientation instead)
                fx, fy = 3 + (i // 25) % 11, 2 + (i // 25) % 7
                base = (xs * fx + ys * fy) if (i // 25) % 2 == 0 else (
                    xs * fy - ys * fx
                )
                pic = np.stack(
                    [
                        (base * 7) % 256,
                        (base * 3 + xs) % 256,
                        (base * 5 + ys) % 256,
                    ],
                    axis=-1,
                ).astype(np.uint8)
                import binascii
                import struct
                import zlib

                def chunk(typ, data):
                    body = typ + data
                    return (
                        struct.pack(">I", len(data)) + body
                        + struct.pack(">I", binascii.crc32(body) & 0xFFFFFFFF)
                    )

                raw = b"".join(b"\x00" + pic[y].tobytes() for y in range(24))
                png = (
                    b"\x89PNG\r\n\x1a\n"
                    + chunk(b"IHDR", struct.pack(">IIBBBBB", 32, 24, 8, 2, 0, 0, 0))
                    + chunk(b"IDAT", zlib.compress(raw))
                    + chunk(b"IEND", b"")
                )
                out_ids += [i * 2, i * 2 + 1]
                out_pay += [bytearray(png), bytearray(encode_jpeg_pixels(pic))]
            yield pd.DataFrame({"doc_id": out_ids, "payload": out_pay})

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    payloads = docs.mapInPandas(gen, schema)
    hashes = image_dhash(payloads)
    # hamming 10: JPEG quantization on high-frequency stripes can flip
    # more bits than photographic content would (measured at sf0.1:
    # 199/200 twins within 10; the one outlier is the honest recall
    # limit of dhash under extreme-frequency quantization noise)
    return image_near_dup_pairs(hashes, max_hamming=10).orderBy(
        "doc_a", "doc_b"
    )


_Q314_NOTES = (
    "CROSS-CODEC IMAGE NEAR-DUP (llm/multimodal.image_dhash + "
    "image_near_dup_pairs — the multimodal member of the dedup family: "
    "perceptual difference-hash over REAL decoded pixels survives "
    "re-encoding where byte md5 sees unrelated blobs; 64 bits packed "
    "32-per-BIGINT, LSH-style 16-bit banding -> equi-join candidates "
    "-> exact XOR+bit_count verify, never all-pairs): the fixture "
    "plants each picture as PNG AND JPEG, so every emitted pair is a "
    "planted cross-codec twin. ROWS-ONLY (pixel decode has no SQL "
    "twin); cross-codec-stability and banding laws pinned in pytest"
)


register("q314_image_near_dup", None, _Q314_NOTES)(q314_image_near_dup)


def q315_psl_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Public-Suffix-List registered domains over synthesized crawl URLs
    (functions/psl.psl_registered_domain): the PSL algorithm — longest
    match, wildcard rules, exception overrides, private-section
    multi-tenant suffixes — as D broadcast left joins on computed
    suffix keys. Shuffle-free map-side plan; the heuristic
    url_registered_domain column stays alongside to expose exactly
    where the PSL correction bites (agree=false rows)."""
    from ..functions.psl import psl_registered_domain
    from ..functions.text import url_registered_domain

    docs = read_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    host = (
        F.when(d % 8 == 0, F.concat(F.lit("a"), (d % 5).cast("string"), F.lit(".b.ac.uk")))
        .when(d % 8 == 1, F.concat(F.lit("shop"), (d % 7).cast("string"), F.lit(".com.au")))
        .when(d % 8 == 2, F.concat(F.lit("tienda"), (d % 3).cast("string"), F.lit(".gob.mx")))
        .when(d % 8 == 3, F.concat(F.lit("u"), (d % 11).cast("string"), F.lit(".github.io")))
        .when(d % 8 == 4, F.concat(F.lit("x"), (d % 4).cast("string"), F.lit(".foo.ck")))
        .when(d % 8 == 5, F.lit("sub.www.ck"))
        .when(d % 8 == 6, F.concat(F.lit("w"), (d % 6).cast("string"), F.lit(".city.kawasaki.jp")))
        .otherwise(F.concat(F.lit("www.example"), (d % 9).cast("string"), F.lit(".com")))
    )
    url = F.concat(F.lit("https://"), host, F.lit("/p/"), d.cast("string"))
    base = docs.select("doc_id", url.alias("url"))
    out = psl_registered_domain(base, "url", out_col="psl_domain")
    return (
        out.withColumn("heuristic_domain", url_registered_domain("url"))
        .withColumn(
            "agree",
            F.coalesce(F.col("psl_domain") == F.col("heuristic_domain"), F.lit(False)),
        )
        .select("doc_id", "psl_domain", "heuristic_domain", "agree")
        .orderBy("doc_id")
    )


def _q315_oracle() -> str:
    """DuckDB replay of the SAME snapshot + algorithm: rules CTE from
    functions.psl constants (cannot drift), candidate suffixes by depth,
    exception-beats-longest prevailing, implicit-* default."""
    from ..functions.psl import oracle_rules_values

    return f"""
    WITH raw_rules(rule) AS (VALUES {oracle_rules_values()}),
    r AS (
      SELECT CASE WHEN rule LIKE '!%' THEN substr(rule, 2) ELSE rule END AS key,
             len(string_split(CASE WHEN rule LIKE '!%' THEN substr(rule, 2)
                              ELSE rule END, '.')) AS k,
             rule LIKE '!%' AS exc,
             rule LIKE '*.%' AS wild
      FROM raw_rules
    ),
    synth AS (
      SELECT doc_id,
        CASE doc_id % 8
          WHEN 0 THEN 'a' || CAST(doc_id % 5 AS VARCHAR) || '.b.ac.uk'
          WHEN 1 THEN 'shop' || CAST(doc_id % 7 AS VARCHAR) || '.com.au'
          WHEN 2 THEN 'tienda' || CAST(doc_id % 3 AS VARCHAR) || '.gob.mx'
          WHEN 3 THEN 'u' || CAST(doc_id % 11 AS VARCHAR) || '.github.io'
          WHEN 4 THEN 'x' || CAST(doc_id % 4 AS VARCHAR) || '.foo.ck'
          WHEN 5 THEN 'sub.www.ck'
          WHEN 6 THEN 'w' || CAST(doc_id % 6 AS VARCHAR) || '.city.kawasaki.jp'
          ELSE 'www.example' || CAST(doc_id % 9 AS VARCHAR) || '.com'
        END AS host
      FROM documents
    ),
    lab AS (
      SELECT doc_id, host, string_split(host, '.') AS labels,
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
    fin AS (
      SELECT l.doc_id, l.host, l.labels, l.n,
             COALESCE(a.eps, a.nps, 1) AS ps
      FROM lab l LEFT JOIN agg a USING (doc_id)
    ),
    dom AS (
      SELECT doc_id, host,
        CASE WHEN n > ps
             THEN array_to_string(labels[n - ps : n], '.') END AS psl_domain,
        CASE WHEN regexp_matches(host,
               '[^.]+\\.(co|com|net|org|gov|ac|edu)\\.[a-z]{{2}}$')
             THEN regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$', 1)
             ELSE regexp_extract(host, '([^.]+\\.[^.]+)$', 1)
        END AS heuristic_domain
      FROM fin
    )
    SELECT doc_id, psl_domain, heuristic_domain,
           COALESCE(psl_domain = heuristic_domain, FALSE) AS agree
    FROM dom ORDER BY doc_id
"""


_Q315_NOTES = (
    "PSL REGISTERED DOMAIN (functions/psl.psl_registered_domain — the "
    "real Public-Suffix-List algorithm replacing the ccTLD heuristic, "
    "VERDICT r8 item 6: longest-match, wildcard *.ck, exception "
    "!www.ck / !city.kawasaki.jp, private-section github.io; vendored "
    "snapshot, full PSL drops into the same rules contract): D exact + "
    "D-1 wildcard BROADCAST left joins on computed suffix keys — zero "
    "shuffles, zero UDFs. Fixture covers every rule class; the oracle "
    "rebuilds its rules CTE from the SAME Python constants and replays "
    "prevailing-rule selection in SQL; agree=false rows pin exactly "
    "where the heuristic mis-keys (x.gob.mx, u.github.io, *.ck)"
)


register("q315_psl_domain", _q315_oracle(), _Q315_NOTES)(q315_psl_domain)


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


# --- q346: weighted reservoir sample -------------------------------------------


def q346_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-proportional document sample (llm/sampling.weighted_sample
    — A-ES weighted reservoir, P(selection) ∝ n_chars): top-10 per lang
    by the deterministic md5 key. The token-budget estimation draw every
    corpus-costing job runs."""
    from ..llm.sampling import weighted_sample

    docs = read_table(spark, sf_dir, "documents")
    return (
        weighted_sample(docs, "doc_id", "n_chars", k=10, group_cols=["lang"])
        .select("lang", "doc_id", "n_chars")
        .orderBy("lang", "doc_id")
    )


_Q346_ORACLE = """
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             round(
               ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                        || ':wres'), 1, 8)) AS BIGINT) + 1)
                  / 4294967296.0)
               / CAST(n_chars AS DOUBLE), 9) AS k
      FROM documents
      WHERE n_chars IS NOT NULL AND n_chars > 0
    ),
    ranked AS (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (PARTITION BY lang
                                ORDER BY k DESC, doc_id) AS rn
      FROM keyed
    )
    SELECT lang, doc_id, n_chars FROM ranked
    WHERE rn <= 10 ORDER BY lang, doc_id
"""

_Q346_NOTES = (
    "WEIGHTED RESERVOIR SAMPLE (llm/sampling.weighted_sample — "
    "Efraimidis-Spirakis A-ES: key = ln(u)/w, top-k per group, "
    "P(selection) proportional to weight WITHOUT replacement; the "
    "length-proportional document draw token-budget estimation runs, "
    "and the probability-weighted sibling of the quota samplers "
    "q174/q221/q333): u = (u32(md5(id:salt))+1)/2^32 is a pure "
    "function of the data, so the sample is identical under any "
    "partitioning and the oracle replays every draw; keys 9dp-rounded "
    "with id tiebreak (the SURVEY 5.3 libm rule — absorbs ln ulp "
    "drift). One map-side key + one per-group top-k window, the "
    "stratified_sample exchange shape"
)

register("q346_weighted_sample", _Q346_ORACLE, _Q346_NOTES)(q346_weighted_sample)


# --- q347: audio content dedup across container re-encodings -------------------


def q347_audio_content_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio content dedup (llm/audio.audio_fingerprint — the audio
    member of the modality dedup matrix next to text shingles and image
    dhash): the duplicate-bearing fixture carries the same waveform
    re-encoded across PCM16/float32/float64 containers; the energy-
    contour fingerprint groups them while any byte hash would not."""
    from pyspark.sql import Window

    from ..llm.audio import audio_fingerprint, with_wav_payload_grouped

    docs = read_table(spark, sf_dir, "documents")
    pay = with_wav_payload_grouped(docs, group_mod=25, every=3)
    fp = audio_fingerprint(pay, frame=200, shift=20)
    w = Window.partitionBy("fp")
    return (
        fp.select(
            "doc_id",
            F.min("doc_id").over(w).alias("dup_of"),
            F.count("*").over(w).alias("group_size"),
        )
        .orderBy("doc_id")
    )


_Q347_ORACLE = """
    WITH ids AS (
      SELECT doc_id, doc_id % 25 AS seed,
             800 + ((doc_id % 25) % 7) * 160 AS n
      FROM documents WHERE doc_id % 3 = 0
    ),
    s AS (
      SELECT doc_id, t.i,
             (seed * 7349 + t.i * (t.i + 13) * 2654435761) % 65536 - 32768
               AS v
      FROM ids, UNNEST(generate_series(0, n - 1)) AS t(i)
      WHERE t.i < (n // 200) * 200
    ),
    fr AS (
      SELECT doc_id, i // 200 AS f, SUM(v * v) // 1048576 AS lev
      FROM s GROUP BY 1, 2
    ),
    contour AS (
      SELECT doc_id,
             string_agg(CAST(lev AS VARCHAR), ',' ORDER BY f) AS c
      FROM fr GROUP BY doc_id
    )
    SELECT doc_id,
           MIN(doc_id) OVER (PARTITION BY c) AS dup_of,
           COUNT(*) OVER (PARTITION BY c) AS group_size
    FROM contour ORDER BY doc_id
"""

_Q347_NOTES = (
    "AUDIO CONTENT DEDUP (llm/audio.audio_fingerprint — completes the "
    "modality dedup matrix: text shingles q40 / image dhash / AUDIO "
    "energy-contour): REAL decode normalized to one sample domain, "
    "exact integer frame energies coarsely quantized (>> 20 — small "
    "amplitude noise moves a level one step), contour md5 = the "
    "fingerprint; a PCM16 file and its float64 re-encode fingerprint "
    "identically, the duplicate class byte-hashing structurally "
    "misses (fixture encodes the same waveform across all three fmt "
    "arms). Map-only Arrow decode; dedup is ONE groupBy on fp (the "
    "exact-dedup shape, never pairwise). Oracle regenerates waveform, "
    "energies, levels, groups digit-for-digit"
)

register("q347_audio_content_dedup", _Q347_ORACLE, _Q347_NOTES)(
    q347_audio_content_dedup
)


# --- q356: PMI collocations ----------------------------------------------------


def q356_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-2 skip-gram PMI over documents
    (llm/collocations.pmi_collocations — the windowed, unordered
    generalization of q240's adjacent-bigram PMI): token pairs
    co-occurring within 2 positions >= 5 times, scored by pointwise
    mutual information over the pair universe."""
    from ..llm.collocations import pmi_collocations

    docs = read_table(spark, sf_dir, "documents")
    return pmi_collocations(docs, window=2, min_count=5).orderBy(
        "tok_a", "tok_b"
    )


_Q356_ORACLE = """
    WITH toks AS (
      SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS t
      FROM documents
    ),
    ok AS (SELECT t FROM toks WHERE len(t) >= 2),
    pairs AS (
      SELECT LEAST(t[g1.i], t[g2.j]) AS tok_a,
             GREATEST(t[g1.i], t[g2.j]) AS tok_b
      FROM ok,
           UNNEST(generate_series(1, len(t) - 1)) AS g1(i),
           UNNEST(generate_series(g1.i + 1,
                                  LEAST(g1.i + 2, len(t)))) AS g2(j)
    ),
    pc AS (
      SELECT tok_a, tok_b, COUNT(*) AS n_pair
      FROM pairs GROUP BY 1, 2
    ),
    slots AS (
      SELECT tok_a AS tok FROM pairs
      UNION ALL
      SELECT tok_b FROM pairs
    ),
    marg AS (SELECT tok, COUNT(*) AS n_tok FROM slots GROUP BY 1),
    total AS (SELECT COUNT(*) AS n2 FROM pairs)
    SELECT pc.tok_a, pc.tok_b, pc.n_pair,
           ma.n_tok AS n_a, mb.n_tok AS n_b,
           round(ln(CAST(pc.n_pair AS DOUBLE) * total.n2
                    / (CAST(ma.n_tok AS DOUBLE) * mb.n_tok)), 6) AS pmi
    FROM pc
    JOIN marg ma ON ma.tok = pc.tok_a
    JOIN marg mb ON mb.tok = pc.tok_b, total
    WHERE pc.n_pair >= 5
    ORDER BY tok_a, tok_b
"""

_Q356_NOTES = (
    "WINDOWED (SKIP-GRAM) PMI (llm/collocations.pmi_collocations — the "
    "window-w generalization of q240's ADJACENT-bigram PMI: q240 sees "
    "only immediate neighbors; a +-w window catches the non-adjacent "
    "associations word2vec-style co-occurrence is built on, with "
    "unordered least/greatest accumulation where q240 keeps bigram "
    "order): WINDOW-based co-occurrence "
    "is the load-bearing scale choice — same-document pair counting is "
    "len^2 per doc (the banned accidental-quadratic class), a +-w "
    "window emits <= w pairs per position, LINEAR in corpus size, and "
    "generation is pure map-side codegen (flatten/transform over the "
    "token array — no self-join). Unordered pairs via least/greatest; "
    "marginals count pair slots so all probabilities share one sample "
    "space; exact integer counts, one 6dp-rounded log. Oracle replays "
    "windows, pairs, marginals, and the log via lateral generate_series"
)

register("q356_pmi_collocations", _Q356_ORACLE, _Q356_NOTES)(q356_pmi_collocations)


# --- q358: blocklist content filter ----------------------------------------------


def q358_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist gate over documents (functions/text.blocklist_hits):
    whole-token terms + one substring phrase, per-doc hit count/list/
    flag — the content-policy pre-filter that runs before quality
    scoring in every corpus pipeline."""
    from ..functions.text import blocklist_hits

    docs = read_table(spark, sf_dir, "documents")
    n, hits, flagged = blocklist_hits(
        "text", terms=["dup", "slow", "leak"], phrases=["batch batch"]
    )
    return docs.select(
        "doc_id",
        n.alias("n_hits"),
        hits.alias("hit_terms"),
        flagged.alias("flagged"),
    ).orderBy("doc_id")


_Q358_ORACLE = """
    WITH t AS (
      SELECT doc_id,
             list_sort(list_intersect(
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> ''),
               ['dup', 'slow', 'leak'])) AS word_hits,
             CASE WHEN contains(lower(text), 'batch batch')
                  THEN ['batch batch'] ELSE [] END AS phrase_hits
      FROM documents
    )
    SELECT doc_id,
           CAST(len(word_hits) + len(phrase_hits) AS BIGINT) AS n_hits,
           COALESCE(array_to_string(
               list_sort(list_concat(word_hits, phrase_hits)), ','), '')
             AS hit_terms,
           len(word_hits) + len(phrase_hits) > 0 AS flagged
    FROM t ORDER BY doc_id
"""

_Q358_NOTES = (
    "BLOCKLIST CONTENT FILTER (functions/text.blocklist_hits — the "
    "policy/spam/boilerplate gate that runs before quality scoring in "
    "every corpus pipeline, next to redact_pii q98 and the quality "
    "scores q45/q90): single-word terms match WHOLE TOKENS via "
    "array_intersect against plan literals (no regex — immune to the "
    "Java-vs-RE2 divergence class and substring false positives), "
    "multi-word phrases via a bounded codegen'd contains chain; "
    "hit_terms is the sorted comma-join (scalar contract). Map-only, "
    "zero shuffles; blocklists beyond a few thousand entries join on "
    "the token instead (documented)"
)

register("q358_blocklist_filter", _Q358_ORACLE, _Q358_NOTES)(q358_blocklist_filter)


# --- q361: fighting-words log-odds term comparison ---------------------------------


def q361_fighting_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which terms separate English documents from the rest of the
    corpus (llm/collocations.fighting_words — Monroe et al. informative-
    Dirichlet log-odds z-scores; q276's KL says the corpora differ,
    this says WHICH words carry it)."""
    from ..llm.collocations import fighting_words

    docs = read_table(spark, sf_dir, "documents")
    return fighting_words(
        docs, "lang", "en", alpha0=500.0, min_total=10
    ).orderBy("tok")


_Q361_ORACLE = """
    WITH tok AS (
      SELECT lang = 'en' AS a, t.tok
      FROM documents,
           UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> x <> '')) AS t(tok)
    ),
    counts AS (
      SELECT tok,
             SUM(CASE WHEN a THEN 1 ELSE 0 END) AS n_a,
             SUM(CASE WHEN a THEN 0 ELSE 1 END) AS n_b
      FROM tok GROUP BY 1
    ),
    tot AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM counts),
    calc AS (
      SELECT c.tok, c.n_a, c.n_b,
             500.0 * (CAST(c.n_a + c.n_b AS DOUBLE)
                      / CAST(t.ta + t.tb AS DOUBLE)) AS aw,
             CAST(t.ta AS DOUBLE) AS ta, CAST(t.tb AS DOUBLE) AS tb
      FROM counts c, tot t
      WHERE c.n_a + c.n_b >= 10
    )
    SELECT tok, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           round(ln((n_a + aw) / (ta + 500.0 - (n_a + aw)))
                 - ln((n_b + aw) / (tb + 500.0 - (n_b + aw))), 6) AS delta,
           round((ln((n_a + aw) / (ta + 500.0 - (n_a + aw)))
                  - ln((n_b + aw) / (tb + 500.0 - (n_b + aw))))
                 / sqrt(1.0 / (n_a + aw) + 1.0 / (n_b + aw)), 6) AS z
    FROM calc ORDER BY tok
"""

_Q361_NOTES = (
    "FIGHTING-WORDS TERM COMPARISON (llm/collocations.fighting_words — "
    "Monroe-Colaresi-Quinn 2008 log-odds with an informative Dirichlet "
    "prior from the pooled corpus: q276's corpus KL says the "
    "distributions differ, THIS ranks the terms that carry the "
    "difference, with z-scores that shrink rare-term noise instead of "
    "exploding on it like raw log-odds/PMI): one tokenize scan -> ONE "
    "token hash agg with conditional side sums -> 1-row totals "
    "broadcast -> map-side arithmetic; no joins beyond the scalar "
    "recombination, no windows. Exact integer counts; two ln and a "
    "sqrt on engine-identical operands, 6dp outputs"
)

register("q361_fighting_words", _Q361_ORACLE, _Q361_NOTES)(q361_fighting_words)


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


def q465_curation_dag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end CURATION DAG in ONE composed plan — filter (C4 line
    battery, q439) → exact dedup keep-first (q06 discipline) → mix
    (per-source quota, q174) → pack (sharded token packing, q84) →
    eval (per-lang pack-utilization summary). Every stage is an
    existing operator; what this query pins is the COMPOSED plan:
    five doc-keyed stages = five hash exchanges (doc reassembly, text
    dedup window, source quota window, lang pack window, lang
    reduce), no SinglePartition anywhere, no join beyond the one
    broadcast back to doc metadata (plan-gated in
    tests/test_round15.py like q84)."""
    from ..llm.quality import c4_line_filters
    from ..llm.sampling import pack_by_token_budget, quota_sample

    meta = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang"
    )
    c4 = c4_line_filters(_lined_docs(spark, sf_dir))
    kept = c4.filter(F.col("page_pass")).select("doc_id", "clean_text")
    w_dedup = Window.partitionBy("clean_text").orderBy("doc_id")
    deduped = (
        kept.withColumn("_rn", F.row_number().over(w_dedup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    enriched = deduped.join(F.broadcast(meta), "doc_id")
    mixed = quota_sample(enriched, "source", "doc_id", quota=40)
    with_toks = mixed.withColumn(
        "n_toks", F.size(tokens("clean_text")).cast("long")
    )
    packed = pack_by_token_budget(
        with_toks, "doc_id", "n_toks", budget=400, shard_by="lang"
    )
    return (
        packed.groupBy("lang")
        .agg(
            F.countDistinct("batch_id").cast("long").alias("n_packs"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("sum_tokens"),
        )
        .select(
            "lang",
            "n_packs",
            "n_docs",
            "sum_tokens",
            F.round(
                F.col("sum_tokens") / (F.col("n_packs") * F.lit(400.0)), 6
            ).alias("fill_ratio"),
        )
        .orderBy("lang")
    )


def _q465_oracle() -> str:
    keep = (
        "regexp_matches(trim(l), '[.!?][\"'']?$') "
        "AND len(list_filter(string_split_regex(trim(l), '\\s+'), "
        "x -> x <> '')) >= 5 "
        "AND NOT regexp_matches(lower(trim(l)), 'javascript')"
    )
    return f"""
    WITH lined AS ({_LINED_SQL}),
    judged AS (
      SELECT doc_id, text,
             string_split(text, chr(10)) AS ls,
             list_filter(string_split(text, chr(10)), l -> {keep}) AS kept
      FROM lined),
    c4kept AS (
      SELECT doc_id,
             COALESCE(array_to_string(kept, chr(10)), '') AS clean_text
      FROM judged
      WHERE len(kept) >= 3
        AND NOT (strpos(text, '{{') > 0 OR strpos(text, '}}') > 0)
        AND NOT strpos(lower(text), 'lorem ipsum') > 0),
    deduped AS (
      SELECT doc_id, clean_text FROM (
        SELECT doc_id, clean_text,
               ROW_NUMBER() OVER (PARTITION BY clean_text
                                  ORDER BY doc_id) AS rn
        FROM c4kept) WHERE rn = 1),
    enriched AS (
      SELECT d.doc_id, d.clean_text, m.source, m.lang
      FROM deduped d JOIN documents m ON d.doc_id = m.doc_id),
    mixed AS (
      SELECT doc_id, clean_text, source, lang FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY source
          ORDER BY md5(concat(CAST(doc_id AS VARCHAR), ':quota')) ASC,
                   doc_id ASC) AS rk
        FROM enriched) WHERE rk <= 40),
    toked AS (
      SELECT doc_id, source, lang,
             CAST(len({_T.format(c='clean_text')}) AS BIGINT) AS n_toks
      FROM mixed),
    packed AS (
      SELECT lang, doc_id, n_toks,
             CAST(floor((SUM(n_toks) OVER (PARTITION BY lang
                                           ORDER BY doc_id
                                           ROWS UNBOUNDED PRECEDING)
                         - n_toks) / 400.0) AS BIGINT) AS batch_id
      FROM toked)
    SELECT lang,
           CAST(COUNT(DISTINCT batch_id) AS BIGINT) AS n_packs,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS sum_tokens,
           round(CAST(SUM(n_toks) AS DOUBLE)
                 / (COUNT(DISTINCT batch_id) * 400.0), 6) AS fill_ratio
    FROM packed GROUP BY lang ORDER BY lang
    """


_Q465_NOTES = (
    "CURATION DAG REGRESSION (composition class, q396/q418 "
    "convention — no new operator): the end-to-end filter(C4 q439) "
    "-> exact-dedup-keep-first(q06) -> source-quota mix(q174) -> "
    "sharded token pack(q84) -> per-lang utilization eval chain in "
    "ONE composed plan; pins the composed EXCHANGE COUNT (five "
    "doc/text/source/lang-keyed hash exchanges, zero SinglePartition "
    "— plan-gated like q84 in tests/test_round15.py) and replays "
    "every stage's own oracle semantics nested verbatim in one SQL"
)

register("q465_curation_dag", _q465_oracle(), _Q465_NOTES)(q465_curation_dag)
