"""Similarity queries: near-duplicate detection and incremental dedup,
clustering and connected components, ANN indexes and quantized vectors,
lexical/dense retrieval and decontamination.

Placement rule row 3: a query lands here when it references
``llm.dedup``, ``llm.cluster``, ``llm.similarity``, ``llm.retrieval`` or
``llm.decontaminate`` and no streaming or evaluation module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import CATALOG, register
from ..operators.aggregate import stable_avg_sql
from ..sources import read_table
from ._sql import _TOKS4_SQL, _bucket_sql


@register(
    "q65_ann_ivf",
    oracle=None,
    notes="IVF ANN (llm/similarity.ivf_index/ivf_topk): KMeans coarse "
    "quantizer fit on a bounded sample (the 100 TB path — the iterative "
    "fit scales with the sample; assignment is map-only over the corpus), "
    "nprobe-cluster search. Approximate + iterative (KMeans) -> "
    "rows-only for the driver; recall vs exact cosine_topk is "
    "pytest-asserted in tests/test_scale.py",
)
def q65_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.similarity import ivf_index, ivf_topk

    emb = read_table(spark, sf_dir, "embeddings")
    # min_fit_rows floor makes this fit on everything at tiny SF (results
    # unchanged) while capping the KMeans input at scale
    assigned, centroids = ivf_index(
        emb, n_clusters=16, fit_sample_fraction=0.25
    )
    queries = emb.filter(F.col("vec_id") < 5)
    return ivf_topk(queries, assigned, centroids, k=5, nprobe=3)


@register(
    "q78_dedup_incremental",
    oracle="""
    WITH sh AS (
  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(t)-2),
         i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingles
  FROM (
  SELECT doc_id, text, lang, source, n_chars,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS t
  FROM documents
) WHERE len(t) >= 3
),
    shx AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    hx AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(generate_series(1, 12),
                  i -> CAST((strpos('0123456789abcdef', substr(md5(shingle), i, 1)) - 1) AS BIGINT)
                       * CAST(pow(16, 12 - i) AS BIGINT))) AS BIGINT) AS x
      FROM shx
    ),
    sig AS (
      SELECT doc_id, list_value(min((3*x + 12345) % 281474976710597), min((5*x + 1012348) % 281474976710597), min((7*x + 2012351) % 281474976710597), min((11*x + 3012354) % 281474976710597), min((13*x + 4012357) % 281474976710597), min((17*x + 5012360) % 281474976710597), min((19*x + 6012363) % 281474976710597), min((23*x + 7012366) % 281474976710597), min((29*x + 8012369) % 281474976710597), min((31*x + 9012372) % 281474976710597), min((37*x + 10012375) % 281474976710597), min((41*x + 11012378) % 281474976710597), min((43*x + 12012381) % 281474976710597), min((47*x + 13012384) % 281474976710597), min((53*x + 14012387) % 281474976710597), min((59*x + 15012390) % 281474976710597)) AS sig
      FROM hx GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, unnest(list_transform(generate_series(0, 7),
             b -> md5(concat_ws('#', CAST(b AS VARCHAR), CAST(sig[2*b+1] AS VARCHAR), CAST(sig[2*b+2] AS VARCHAR)))))
             AS band_key
      FROM sig
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band_key = b.band_key
      WHERE a.doc_id % 5 = 0
        AND (b.doc_id % 5 <> 0 OR (b.doc_id % 5 = 0 AND a.doc_id < b.doc_id))
        AND a.doc_id <> b.doc_id
    )
    SELECT c.doc_a, c.doc_b, round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) / (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles))), 6) AS jaccard
    FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a JOIN sh sb ON sb.doc_id = c.doc_b
    WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) / (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles))) >= 0.5
    """,
    notes="incremental append-batch dedup (llm/dedup.minhash_incremental_"
    "pairs): new docs (doc_id % 5 == 0) band-join against the corpus index "
    "+ in-batch pairs; corpus x corpus never computed — work scales with "
    "the batch, not the 100 TB corpus",
)
def q78_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.dedup import minhash_incremental_pairs

    docs = read_table(spark, sf_dir, "documents")
    new_docs = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    out = minhash_incremental_pairs(corpus, new_docs, threshold=0.5)
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


# --- BM25 lexical retrieval ---------------------------------------------------
@register(
    "q109_bm25_topk",
    oracle="""
    WITH toks AS (
      SELECT doc_id, t.tok
      FROM documents, UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS t(tok)
      WHERE t.tok <> ''
    ), dl AS (
      SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1
    ), corpus AS (
      SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
    ), tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM toks
      WHERE tok IN ('spark', 'join', 'window') GROUP BY 1, 2
    ), df AS (
      SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1
    )
    SELECT tf.doc_id,
           ROUND(SUM(
             ln((c.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
             * tf.tf * (1.2 + 1)
             / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / c.avgdl))
           ), 6) AS score
    FROM tf JOIN df USING (tok) JOIN dl USING (doc_id), corpus c
    GROUP BY tf.doc_id
    ORDER BY score DESC, tf.doc_id
    LIMIT 10
    """,
    notes="BM25 top-k lexical retrieval (llm/retrieval.bm25_topk): "
    "query-term filter lands before the tf shuffle so scoring touches "
    "only matching docs; df and corpus stats broadcast (|Q|-row and "
    "1-row); TakeOrderedAndProject final ranking; scores rounded 6dp "
    "(sum over <=|Q| doubles is order-sensitive) with doc_id tiebreak",
)
def q109_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.retrieval import bm25_topk

    docs = read_table(spark, sf_dir, "documents")
    return bm25_topk(docs, "text", "doc_id", ["spark", "join", "window"], k=10)


# --- end-to-end corpus curation --------------------------------------------
@register(
    "q142_corpus_curation",
    oracle=f"""
    WITH survivors AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               row_number() OVER (
                 PARTITION BY sha256(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
                 ORDER BY doc_id) AS rn
        FROM documents
      ) WHERE rn = 1
    ),
    stats AS (
      SELECT doc_id, len(t) AS n_tokens,
             CASE WHEN len(t) = 0 THEN 0.0
                  ELSE CAST(len(list_filter(t, x -> list_contains({['a', 'an', 'and', 'are', 'as', 'at', 'be', 'by', 'for', 'from', 'in', 'is', 'it', 'of', 'on', 'or', 'that', 'the', 'to', 'with']}, x))) AS DOUBLE) / len(t)
             END AS stop_ratio,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)
             END AS punct_ratio,
             CASE WHEN len(t) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t)
             END AS avg_wlen,
             length(text) AS n_chars
      FROM ({_TOKS4_SQL})
    )
    SELECT s.doc_id, s.n_tokens,
           CAST(CASE WHEN s.n_chars BETWEEN 100 AND 20000 THEN 0.25 ELSE 0.0 END
            + CASE WHEN s.punct_ratio <= 0.1 THEN 0.25 ELSE 0.0 END
            + CASE WHEN s.stop_ratio BETWEEN 0.02 AND 0.6 THEN 0.25 ELSE 0.0 END
            + CASE WHEN s.avg_wlen BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END
             AS DOUBLE) AS quality
    FROM stats s JOIN survivors USING (doc_id)
    WHERE (CASE WHEN s.stop_ratio >= 0.05 THEN 'en' ELSE 'unk' END) = 'en'
      AND CASE WHEN s.n_chars BETWEEN 100 AND 20000 THEN 0.25 ELSE 0.0 END
        + CASE WHEN s.punct_ratio <= 0.1 THEN 0.25 ELSE 0.0 END
        + CASE WHEN s.stop_ratio BETWEEN 0.02 AND 0.6 THEN 0.25 ELSE 0.0 END
        + CASE WHEN s.avg_wlen BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0.0 END >= 0.75
    """,
    notes="END-TO-END corpus curation (the composed shape every training "
    "pipeline ships): exact-dedup survivors ∧ heuristic lang-ID = 'en' "
    "∧ composite quality >= 0.75, emitting the curated doc set with "
    "token counts. Composes exact_dedup + lang_id + quality_score in "
    "ONE plan: dedup window and stats projection share the documents "
    "scan, the survivor semi-join is the only extra shuffle; at 100 TB "
    "each stage is the already-verified scalable operator",
)
def q142_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import lang_id, quality_score, token_count, tokens
    from ..llm.dedup import exact_dedup

    docs = read_table(spark, sf_dir, "documents")
    survivors = exact_dedup(docs).select("doc_id")
    with_toks = docs.select("doc_id", "text", tokens("text").alias("__toks"))
    tk = F.col("__toks")
    stats = with_toks.select(
        "doc_id",
        F.size(tk).cast("long").alias("n_tokens"),
        lang_id("text", tk).alias("__lang"),
        quality_score("text", tk).alias("quality"),
    )
    return (
        stats.join(survivors, "doc_id", "left_semi")
        .filter((F.col("__lang") == "en") & (F.col("quality") >= 0.75))
        .select("doc_id", "n_tokens", "quality")
    )


# --- composed pipeline: curated AND decontaminated corpus -------------------
def _q156_oracle() -> str:
    from .llm import _shingles_sql_n

    q142 = CATALOG["q142_corpus_curation"].oracle
    return f"""
    WITH curated AS ({q142}),
    sh8 AS ({_shingles_sql_n(8)}),
    bg AS (SELECT DISTINCT unnest(shingles) AS shingle FROM sh8
           WHERE doc_id % 20 = 0),
    cg AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh8
           WHERE doc_id % 20 <> 0),
    hits AS (SELECT cg.doc_id, COUNT(DISTINCT cg.shingle) AS n_hit_ngrams
             FROM cg JOIN bg USING (shingle) GROUP BY cg.doc_id)
    SELECT c.doc_id, c.n_tokens, c.quality
    FROM curated c
    WHERE c.doc_id % 20 <> 0
      AND c.doc_id NOT IN (SELECT doc_id FROM hits WHERE n_hit_ngrams >= 1)
    """


@register(
    "q156_curated_decontaminated",
    oracle=_q156_oracle(),
    notes="FINAL-CORPUS composition (the last mile of every training "
    "pipeline, composing q142 + q89): exact-dedup survivors ∧ lang 'en' "
    "∧ quality >= 0.75 ∧ NOT sharing any 8-gram with the benchmark "
    "split — expressed as the curated frame anti-joined against the "
    "contaminated id set. Each stage is the already-verified scalable "
    "operator; the anti-join adds one id-keyed shuffle over the "
    "(tiny) contaminated set",
)
def q156_curated_decontaminated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.decontaminate import decontaminate

    docs = read_table(spark, sf_dir, "documents")
    curated = CATALOG["q142_corpus_curation"].fn(spark, sf_dir).filter(
        F.col("doc_id") % 20 != 0
    )
    contaminated = (
        decontaminate(
            docs.filter(F.col("doc_id") % 20 != 0),
            docs.filter(F.col("doc_id") % 20 == 0),
            n=8,
        )
        .filter(F.col("contaminated"))
        .select("doc_id")
    )
    return curated.join(contaminated, "doc_id", "left_anti")


# --- multi-table LSH ANN ----------------------------------------------------
def _plane_dot_sql_t(p: int, table: int, dim: int = 64) -> str:
    """DuckDB expression for sign-plane p of hash table ``table`` — the
    exact md5 rule of llm/similarity._hyperplane_signs (table 0: key
    "p:d"; table t>0: key "t{t}:p:d")."""
    prefix = "" if table == 0 else f"t{table}:"
    return (
        f"list_sum(list_transform(generate_series(0, {dim - 1}), d -> "
        f"CAST(v[d + 1] AS DOUBLE) * "
        f"CASE WHEN (strpos('0123456789abcdef', substr(md5(concat('{prefix}{p}', "
        f"':', CAST(d AS VARCHAR))), 1, 1)) - 1) % 2 = 1 "
        f"THEN 1.0 ELSE -1.0 END))"
    )


def _bucket_sql_t(table: int, bits: int = 8) -> str:
    return "concat(" + ", ".join(
        f"CASE WHEN {_plane_dot_sql_t(p, table)} >= 0 THEN '1' ELSE '0' END"
        for p in range(bits)
    ) + ")"


@register(
    "q159_ann_multi_table_lsh",
    oracle=f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    bucketed AS (
      SELECT vec_id, v, {_bucket_sql_t(0)} AS b0, {_bucket_sql_t(1)} AS b1
      FROM e
    )
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
    FROM bucketed a JOIN bucketed b
      ON a.vec_id < b.vec_id AND (a.b0 = b.b0 OR a.b1 = b.b1)
    WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.25
    """,
    notes="MULTI-TABLE LSH ANN (llm/similarity.ann_bucketed_multi, "
    "closing the single-table recall cap): two independent md5-derived "
    "hyperplane tables computed in one corpus pass; a pair is a "
    "candidate if it collides in ANY table (union + DISTINCT before "
    "the cosine verify), so miss probability decays geometrically with "
    "table count while per-table bucket cost stays fixed — the "
    "standard recall dial alongside bits. Recall lift vs single-table "
    "at equal candidate budget is measured in tests/test_llm.py",
)
def q159_ann_multi_table_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.similarity import ann_bucketed_multi

    emb = read_table(spark, sf_dir, "embeddings")
    return ann_bucketed_multi(emb, threshold=0.25, n_tables=2)


@register(
    "q161_ann_multi_index_query",
    oracle=f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    bucketed AS (
      SELECT vec_id, v, {_bucket_sql_t(0)} AS b0, {_bucket_sql_t(1)} AS b1
      FROM e
    )
    SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id,
           round(list_cosine_similarity(q.v, c.v), 6) AS cos_sim
    FROM bucketed c JOIN bucketed q
      ON (c.b0 = q.b0 OR c.b1 = q.b1) AND c.vec_id <> q.vec_id
    WHERE q.vec_id < 50
      AND round(list_cosine_similarity(q.v, c.v), 6) >= 0.1
    """,
    notes="multi-table index PERSISTENCE round-trip (q127's shape for "
    "the multi-table recall path): the corpus is hashed once into two "
    "per-table parquet indexes (each partition-pruned by its own "
    "bucket id); only the query batch is hashed at query time, once "
    "per table, and broadcast; per-table candidates union + DISTINCT "
    "before the cosine verify. The oracle recomputes both tables from "
    "the md5 rule, so a hash match proves the save/load round-trip "
    "preserves every table's bucket assignments and the vectors "
    "exactly",
)
def q161_ann_multi_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..llm.similarity import (
        ann_query_index_multi,
        load_hyperplane_index_multi,
        save_hyperplane_index_multi,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"dbkit_ann_multi_{sf_tag}")
    save_hyperplane_index_multi(emb, path, n_tables=2)
    tables = load_hyperplane_index_multi(spark, path, n_tables=2)
    return ann_query_index_multi(
        emb.filter(F.col("vec_id") < 50), tables, threshold=0.1
    )


# --- embedding near-dup dedup (end-to-end composition) ----------------------
@register(
    "q162_embedding_dedup_survivors",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    bucketed AS (
      SELECT vec_id, v, {_bucket_sql_t(0)} AS bucket FROM e
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bucketed a JOIN bucketed b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(id, r) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT e2.dst, reach.r FROM reach JOIN edges e2 ON e2.src = reach.id
    )
    SELECT vec_id, label FROM embeddings
    WHERE vec_id IN (SELECT id FROM reach GROUP BY id HAVING min(r) = id)
    """,
    notes="EMBEDDING near-dup dedup end-to-end (the semantic twin of the "
    "q40/q87/q88 lexical pipeline): LSH-bucketed cosine pairs "
    "(llm/similarity.ann_bucketed, the q45 scale path) feed the "
    "connected-components survivor selection (llm/cluster."
    "dedup_survivors on operators/iterate) — one deterministic min-id "
    "survivor per cosine-similarity cluster, singletons kept. The "
    "oracle rebuilds the same pair graph from the md5 bucket rule and "
    "labels components via recursive-CTE reachability; every stage "
    "(bucketing, verify, closure) is bucketed/iterative, never "
    "all-pairs",
)
def q162_embedding_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.cluster import dedup_survivors
    from ..llm.similarity import ann_bucketed

    emb = read_table(spark, sf_dir, "embeddings")
    pairs = ann_bucketed(emb, threshold=0.3).select("id_a", "id_b")
    return dedup_survivors(
        emb, pairs, id_col="vec_id", a_col="id_a", b_col="id_b"
    ).select("vec_id", "label")


# --- TF-IDF characteristic terms ---------------------------------------------
@register(
    "q173_tfidf_topk_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                    t -> t <> '')) AS tok
      FROM documents
    ),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
    dfx AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok AS token, tf.tf, dfx.df,
             ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfx.df), 6) AS score
      FROM tf JOIN dfx ON tf.tok = dfx.tok CROSS JOIN n
    )
    SELECT doc_id, token, tf, df, score FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rk
      FROM scored
    ) WHERE rk <= 5
    ORDER BY doc_id, score DESC, token
    """,
    notes="TF-IDF top-5 characteristic terms per document (llm/"
    "retrieval.tfidf_topk_terms, the per-document twin of q109's "
    "corpus-level BM25): score = tf x ln(N/df), natural log so the "
    "oracle is exact. One (id, tok) explode feeds BOTH aggregations "
    "(per-doc tf and vocabulary-sized corpus df); df joins back by "
    "token, the 1-row corpus size broadcasts (intentional scalar "
    "crossJoin, q109's documented pattern), final per-doc top-5 is a "
    "window row_number — keyed shuffles only, nothing all-pairs, no "
    "global sort at any stage",
)
def q173_tfidf_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.retrieval import tfidf_topk_terms

    docs = read_table(spark, sf_dir, "documents")
    return tfidf_topk_terms(docs, "text", "doc_id", k=5).orderBy(
        "doc_id", F.col("score").desc(), "token"
    )


# --- directed containment dedup ----------------------------------------------
@register(
    "q186_containment_pairs",
    oracle="""
    WITH toksq AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS t
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(t)-2),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingles
      FROM toksq WHERE len(t) >= 3
    ),
    inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    capped AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle,
               COUNT(*) OVER (PARTITION BY shingle) AS df
        FROM inv
      ) WHERE df <= 50
    ),
    ov AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ov
      FROM capped a JOIN capped b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    ),
    sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
    both_dirs AS (
      SELECT o.doc_a AS contained, o.doc_b AS container,
             CAST(o.ov AS DOUBLE) / sa.n AS containment
      FROM ov o JOIN sz sa ON sa.doc_id = o.doc_a
      UNION ALL
      SELECT o.doc_b AS contained, o.doc_a AS container,
             CAST(o.ov AS DOUBLE) / sb.n AS containment
      FROM ov o JOIN sz sb ON sb.doc_id = o.doc_b
    )
    SELECT contained, container, ROUND(containment, 6) AS containment
    FROM both_dirs WHERE containment >= 0.6
    ORDER BY contained, container
    """,
    notes="DIRECTED containment dedup (llm/dedup.containment_pairs — "
    "the doc-in-doc detector symmetric Jaccard structurally misses: a "
    "short doc fully quoted inside a long one has tiny Jaccard because "
    "the union is container-dominated, but containment |A∩B|/|A| is "
    "~1.0 regardless of size ratio — the boilerplate/quotation leak in "
    "training corpora). One inverted-index self-join with a df<=50 "
    "stop-shingle cap (bounds per-shingle pair fanout to df², the q112 "
    "one-exchange COUNT window); overlap is conservative under the cap "
    "while the denominator stays the full shingle-set size; both "
    "directions of each undirected overlap evaluated independently",
)
def q186_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.dedup import containment_pairs

    docs = read_table(spark, sf_dir, "documents")
    out = containment_pairs(docs, threshold=0.6, max_df=50)
    return out.select(
        "contained", "container", F.round("containment", 6).alias("containment")
    ).orderBy("contained", "container")


# --- domain vocabulary overlap -----------------------------------------------
@register(
    "q196_domain_vocab_overlap",
    oracle="""
    WITH vocab AS (
      SELECT DISTINCT source, tok FROM (
        SELECT source,
               unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                      t -> t <> '')) AS tok
        FROM documents
      )
    ),
    sizes AS (SELECT source, COUNT(*) AS n FROM vocab GROUP BY source),
    ov AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter
      FROM vocab a JOIN vocab b
        ON a.tok = b.tok AND a.source < b.source
      GROUP BY src_a, src_b
    )
    SELECT o.src_a, o.src_b,
           ROUND(CAST(o.inter AS DOUBLE)
                 / (sa.n + sb.n - o.inter), 6) AS vocab_jaccard
    FROM ov o
    JOIN sizes sa ON sa.source = o.src_a
    JOIN sizes sb ON sb.source = o.src_b
    WHERE CAST(o.inter AS DOUBLE) / (sa.n + sb.n - o.inter) >= 0.3
    ORDER BY src_a, src_b
    """,
    notes="DOMAIN-level vocabulary overlap (which crawl sources speak "
    "the same language — mirror detection and dedup PRIORITIZATION one "
    "level above documents: near-identical vocab Jaccard between two "
    "sources says to run the expensive doc-level dedup across that "
    "pair first): per-source distinct-token vocabularies via one "
    "explode+distinct, pairwise intersection through the token-keyed "
    "inverted self-join (pairs bounded by sources-per-token², with "
    "source count orders of magnitude below doc count — the group-"
    "level problem is structurally smaller than q42's doc-level one), "
    "Jaccard from the size table joined back twice",
)
def q196_domain_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    from ..llm.retrieval import tokenize

    vocab = (
        tokenize(docs.select("source", "text"), "text", "source")
        .select(F.col("source"), F.col("tok"))
        .distinct()
    )
    sizes = vocab.groupBy("source").agg(F.count("*").alias("n"))
    a = vocab.select(F.col("source").alias("src_a"), "tok")
    b = vocab.select(F.col("source").alias("src_b"), "tok")
    ov = (
        a.join(b, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("inter"))
    )
    sized = (
        ov.join(
            F.broadcast(
                sizes.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
            ),
            "src_a",
        )
        .join(
            F.broadcast(
                sizes.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
            ),
            "src_b",
        )
    )
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    )
    return (
        sized.filter(jac >= 0.3)
        .select(
            "src_a", "src_b", F.round(jac, 6).alias("vocab_jaccard")
        )
        .orderBy("src_a", "src_b")
    )


def q201_ann_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import tempfile

    from ..llm.similarity import (
        ann_incremental_pairs,
        load_hyperplane_index_multi,
        save_hyperplane_index_multi,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 100)
    batch = emb.filter(F.col("vec_id") < 100)
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(tempfile.gettempdir(), f"dbkit_ann_inc_{sf_tag}")
    # write-once, mtime-stamped (the q144 fixture discipline): the index
    # content is a deterministic function of the corpus, so a fresh
    # marker makes the rewrite a no-op; fixture_once's O_EXCL lock
    # serializes the two-parallel-sessions rewrite race (ADVICE r10)
    from ._fixtures import fixture_once, source_stamp

    fixture_once(
        path,
        source_stamp(sf_dir, "embeddings"),
        lambda: save_hyperplane_index_multi(corpus, path, n_tables=2),
    )
    tables = load_hyperplane_index_multi(spark, path, n_tables=2)
    return ann_incremental_pairs(batch, tables, threshold=0.2)


_Q201_ORACLE = f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    bucketed AS (
      SELECT vec_id, v, {_bucket_sql_t(0)} AS b0, {_bucket_sql_t(1)} AS b1
      FROM e
    ),
    cross_pairs AS (
      SELECT q.vec_id AS id_a, c.vec_id AS id_b,
             round(list_cosine_similarity(q.v, c.v), 6) AS cos_sim
      FROM bucketed q JOIN bucketed c
        ON (q.b0 = c.b0 OR q.b1 = c.b1)
      WHERE q.vec_id < 100 AND c.vec_id >= 100
    ),
    in_batch AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
      FROM bucketed a JOIN bucketed b
        ON (a.b0 = b.b0 OR a.b1 = b.b1) AND a.vec_id < b.vec_id
      WHERE a.vec_id < 100 AND b.vec_id < 100
    )
    SELECT DISTINCT id_a, id_b, cos_sim
    FROM (SELECT * FROM cross_pairs UNION ALL SELECT * FROM in_batch)
    WHERE cos_sim >= 0.2
"""

_Q201_NOTES = (
    "INCREMENTAL embedding dedup (llm/similarity.ann_incremental_pairs "
    "— the embedding twin of q78's append-batch lexical dedup): the new "
    "batch is hashed once for all tables and probed against the "
    "PERSISTED multi-table LSH index (q161's save/load round-trip); the "
    "corpus side is pure parquet scans of the precomputed bucket column "
    "— never re-hashed, never corpus x corpus (no-re-hash plan gate in "
    "tests/test_llm.py), so daily-ingest work scales with the batch. "
    "The oracle rebuilds both tables from the md5 rule and unions "
    "batch-vs-corpus with in-batch candidates before the cosine verify"
)


_SPANS_CTES = """
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS t
      FROM documents
    ),
    base AS (SELECT doc_id, t, len(t) AS m FROM toks WHERE len(t) >= 10),
    grams AS (
      SELECT b.doc_id, u.k AS start,
             array_to_string(b.t[u.k+1 : u.k+10], ' ') AS gram
      FROM base b, UNNEST(generate_series(0, b.m - 10)) AS u(k)
    ),
    dup AS (
      SELECT doc_id, start, start + 10 AS e
      FROM (SELECT doc_id, start,
                   COUNT(*) OVER (PARTITION BY gram) AS cnt FROM grams)
      WHERE cnt >= 2
    ),
    flagged AS (
      SELECT doc_id, start, e,
             CASE WHEN start > COALESCE(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY start
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS ni
      FROM dup
    ),
    islands AS (
      SELECT doc_id, start, e,
             SUM(ni) OVER (PARTITION BY doc_id ORDER BY start) AS island
      FROM flagged
    ),
    spans AS (
      SELECT doc_id, CAST(MIN(start) AS BIGINT) AS span_start,
             CAST(MAX(e) AS BIGINT) AS span_end
      FROM islands GROUP BY doc_id, island
    )
"""


def q209_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.dedup import duplicated_spans

    # split=True: tokenize + positioned-gram hashing are map-side CPU
    # before the gram-count exchange (A/B at sf0.1: ~1.5 s -> ~1.1 s)
    docs = read_table(spark, sf_dir, "documents", split=True)
    return duplicated_spans(docs, n=10).select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
    ).orderBy("doc_id", "span_start")


_Q209_ORACLE = f"""
    WITH {_SPANS_CTES}
    SELECT doc_id, span_start, span_end FROM spans
    ORDER BY doc_id, span_start
"""

_Q209_NOTES = (
    "DUPLICATED-SPAN detection (llm/dedup.duplicated_spans — the "
    "distributed re-expression of suffix-array training-data dedup, "
    "Lee et al.: maximal token spans whose every 10-gram window occurs "
    ">= 2 times corpus-wide, same-doc repeats included): positioned "
    "n-gram windows are a map-side transform+explode, the corpus-wide "
    "count is ONE exchange on the gram (q112's COUNT-window "
    "discipline), and overlapping hits merge to maximal spans via the "
    "q195 running-max island rule — nothing quadratic, nothing "
    "single-partition. Fixpoint + exact-offset semantics pinned in "
    "tests/test_llm.py"
)


def q210_span_scrubbed_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.dedup import remove_duplicated_spans

    # split=True: same gram front end as q209
    docs = read_table(spark, sf_dir, "documents", split=True)
    return remove_duplicated_spans(docs, n=10).orderBy("doc_id")


_Q210_ORACLE = f"""
    WITH {_SPANS_CTES},
    per_doc AS (
      SELECT doc_id,
             array_agg(struct_pack(span_start := span_start,
                                   span_end := span_end)) AS sp
      FROM spans GROUP BY doc_id
    ),
    alltoks AS (SELECT doc_id, t, len(t) AS m FROM toks)
    SELECT a.doc_id,
           COALESCE(array_to_string(
             list_transform(
               list_filter(
                 CASE WHEN a.m = 0 THEN [] ELSE generate_series(0, a.m - 1) END,
                 i -> len(list_filter(COALESCE(p.sp, []),
                          s -> s.span_start <= i AND i < s.span_end)) = 0),
               i -> a.t[i + 1]),
             ' '), '') AS clean_text,
           CAST(a.m AS BIGINT) AS n_tokens,
           CAST(a.m - len(list_filter(
                 CASE WHEN a.m = 0 THEN [] ELSE generate_series(0, a.m - 1) END,
                 i -> len(list_filter(COALESCE(p.sp, []),
                          s -> s.span_start <= i AND i < s.span_end)) = 0))
                AS BIGINT) AS n_removed
    FROM alltoks a LEFT JOIN per_doc p USING (doc_id)
    ORDER BY a.doc_id
"""

_Q210_NOTES = (
    "span-SCRUBBED corpus (llm/dedup.remove_duplicated_spans): every "
    "duplicated span cut from every occurrence — the deterministic "
    "boilerplate-scrub mode (keep-one-copy is whole-doc cluster "
    "logic, dedup_survivors' job). The cut is a JVM higher-order "
    "index-filter over the token array against the doc's few merged "
    "spans (doc-keyed join-back, no Python, no extra shuffle); "
    "re-running on the output finds zero spans (fixpoint pytest)"
)


def q211_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.dedup import minhash_near_dup_pairs
    from ..llm.sampling import leakage_safe_split

    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(docs, threshold=0.5)
    return leakage_safe_split(
        docs, pairs, {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "cluster_id", "split").orderBy("doc_id")


def _q211_oracle() -> str:
    from .llm import _REACH_CTES

    return f"""
    WITH RECURSIVE {_REACH_CTES},
    clusters AS (
      SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
    ),
    bucketed AS (
      SELECT doc_id, cluster_id,
             CAST(list_sum(list_transform(generate_series(1, 6), i ->
               CAST((strpos('0123456789abcdef', substr(md5(concat(
                 CAST(cluster_id AS VARCHAR), ':split')), i, 1)) - 1)
                 AS BIGINT)
               * CAST(power(16, 6 - i) AS BIGINT))) AS BIGINT) % 10000 AS b
      FROM clusters
    )
    SELECT doc_id, cluster_id,
           CASE WHEN b < 8000 THEN 'train'
                WHEN b < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM bucketed
    ORDER BY doc_id
"""


_Q211_NOTES = (
    "LEAKAGE-SAFE train/val/test split (llm/sampling.leakage_safe_split "
    "— the eval-contamination control every training pipeline needs): "
    "the md5 hash split keys on the doc's DEDUP CLUSTER id (same "
    "connected components as q87), so near-duplicate docs can never "
    "straddle the train/test fence — structurally, not statistically. "
    "A pytest demonstrates the naive doc_id split leaking clusters on "
    "the same fixture. Cost over split_assign: the CC fixpoint, "
    "O(edges)/round"
)


def q217_containment_relative_cap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..llm.dedup import containment_pairs

    docs = read_table(spark, sf_dir, "documents")
    pairs = containment_pairs(
        docs, threshold=0.5, max_df=10, max_df_frac=0.05
    )
    return pairs.select(
        "contained",
        "container",
        F.round("containment", 6).alias("containment"),
    ).orderBy("contained", "container")


_Q217_ORACLE = """
    WITH toksq AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         t -> t <> '') AS t
      FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(t)-2),
               i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS shingles
      FROM toksq WHERE len(t) >= 3
    ),
    cap AS (
      SELECT GREATEST(10, CAST(ceil(0.05 * COUNT(*)) AS BIGINT)) AS c
      FROM sh
    ),
    inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    capped AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle,
               COUNT(*) OVER (PARTITION BY shingle) AS df
        FROM inv
      ) WHERE df <= (SELECT c FROM cap)
    ),
    ov AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ov
      FROM capped a JOIN capped b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    ),
    sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
    both_dirs AS (
      SELECT o.doc_a AS contained, o.doc_b AS container,
             CAST(o.ov AS DOUBLE) / sa.n AS containment
      FROM ov o JOIN sz sa ON sa.doc_id = o.doc_a
      UNION ALL
      SELECT o.doc_b AS contained, o.doc_a AS container,
             CAST(o.ov AS DOUBLE) / sb.n AS containment
      FROM ov o JOIN sz sb ON sb.doc_id = o.doc_b
    )
    SELECT contained, container, ROUND(containment, 6) AS containment
    FROM both_dirs WHERE containment >= 0.5
    ORDER BY contained, container
"""

_Q217_NOTES = (
    "containment dedup under the CORPUS-RELATIVE df cap (llm/dedup."
    "containment_pairs max_df_frac, the round-6 fix for the verdict's "
    "observation that a fixed absolute stop-shingle cap tuned at "
    "fixture scale is too aggressive at 10^10 docs): effective cap = "
    "max(absolute, ceil(frac x n_docs)) for one metadata-sized count, "
    "so the stop-shingle semantics stay proportional as the corpus "
    "grows — the oracle computes the identical cap from its own "
    "COUNT(*) scalar subquery, making the query scale-covariant "
    "(different caps at sf0.01 vs sf0.1, same rule)"
)


register("q201_ann_incremental_dedup", _Q201_ORACLE, _Q201_NOTES)(
    q201_ann_incremental_dedup
)


register("q209_duplicated_spans", _Q209_ORACLE, _Q209_NOTES)(q209_duplicated_spans)
register("q210_span_scrubbed_corpus", _Q210_ORACLE, _Q210_NOTES)(
    q210_span_scrubbed_corpus
)
register("q211_leakage_safe_split", _q211_oracle(), _Q211_NOTES)(
    q211_leakage_safe_split
)


register("q217_containment_relative_cap", _Q217_ORACLE, _Q217_NOTES)(
    q217_containment_relative_cap
)


def q252_hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.vectors import cosine
    from ..llm.retrieval import bm25_topk, rrf_fuse

    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, "text", "doc_id", ["spark", "join", "window"], k=20)
    # Global-agg form: min over the single vec_id=0 row is that row, and it
    # makes the broadcast side a no-grouping-key aggregate — provably one
    # row, so the structural NLJ gate accepts it without an allowlist.
    qvec = emb.filter(F.col("vec_id") == 0).agg(F.min("embedding").alias("qv"))
    sem = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qvec))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(cosine("embedding", "qv"), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(20)
    )
    return rrf_fuse([lex, sem], "doc_id", "score", rrf_k=60, topk=10)


_Q252_ORACLE = """
    WITH toks AS (
      SELECT doc_id, t.tok
      FROM documents, UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS t(tok)
      WHERE t.tok <> ''
    ), dl AS (
      SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1
    ), corpus AS (
      SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
    ), tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM toks
      WHERE tok IN ('spark', 'join', 'window') GROUP BY 1, 2
    ), df AS (
      SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1
    ), lex AS (
      SELECT tf.doc_id,
             ROUND(SUM(
               ln((c.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
               * tf.tf * (1.2 + 1)
               / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / c.avgdl))
             ), 6) AS score
      FROM tf JOIN df USING (tok) JOIN dl USING (doc_id), corpus c
      GROUP BY tf.doc_id
      ORDER BY score DESC, tf.doc_id
      LIMIT 20
    ), lex_ranked AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY round(score, 6) DESC, doc_id) AS r0
      FROM lex
    ), e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), sem AS (
      SELECT c.vec_id AS doc_id,
             round(list_cosine_similarity(c.v, q.v), 6) AS score
      FROM e c, (SELECT v FROM e WHERE vec_id = 0) q
      WHERE c.vec_id <> 0
      ORDER BY score DESC, doc_id
      LIMIT 20
    ), sem_ranked AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY round(score, 6) DESC, doc_id) AS r1
      FROM sem
    ), fused AS (
      SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
             l.r0, s.r1,
             round(
               (CASE WHEN l.r0 IS NOT NULL
                     THEN 1.0 / (60 + l.r0) ELSE 0.0 END)
               + (CASE WHEN s.r1 IS NOT NULL
                       THEN 1.0 / (60 + s.r1) ELSE 0.0 END), 9) AS rrf_score
      FROM lex_ranked l FULL OUTER JOIN sem_ranked s ON l.doc_id = s.doc_id
    )
    SELECT doc_id, CAST(r0 AS INTEGER) AS rank_1, CAST(r1 AS INTEGER) AS rank_2,
           rrf_score
    FROM fused
    ORDER BY rrf_score DESC, doc_id
    LIMIT 10
"""

_Q252_NOTES = (
    "HYBRID RETRIEVAL via RECIPROCAL-RANK FUSION (llm/retrieval."
    "rrf_fuse — the standard BM25+ANN combiner that needs no score "
    "normalization): fused(d) = sum 1/(60+rank_d) over both lists, "
    "absent-from-a-list contributes 0. The CORPUS-scale work stays in "
    "the retrievers (term-filtered BM25 q109, broadcast-query cosine "
    "q43 — both keep their scale paths); the fusion itself runs over "
    "the already-top-k METADATA-SIZED lists (20+20 rows), so its "
    "global rank windows and full-outer join are the q238 risk-table "
    "discipline, never a corpus operation. Ranks order by "
    "(round(score,6) DESC, id) so last-ulp float noise cannot flip a "
    "rank cross-engine"
)


register("q252_hybrid_retrieval_rrf", _Q252_ORACLE, _Q252_NOTES)(
    q252_hybrid_retrieval_rrf
)


def q274_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.similarity import truncation_recall

    emb = read_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 400
    )
    return truncation_recall(emb, dims=(4, 8, 16))


_Q274_ORACLE = """
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id < 400
    ),
    pairs AS MATERIALIZED (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id, u.dim,
             round(list_cosine_similarity(q.v[1:u.dim], c.v[1:u.dim]), 6)
               AS cos
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
      CROSS JOIN (SELECT unnest([4, 8, 16, 64]) AS dim) u
    ),
    top1 AS (
      SELECT query_id, dim, cand_id FROM (
        SELECT query_id, dim, cand_id,
               row_number() OVER (PARTITION BY query_id, dim
                                  ORDER BY cos DESC, cand_id) AS rk
        FROM pairs
      ) WHERE rk = 1
    ),
    full_top AS (
      SELECT query_id, cand_id AS full_cand FROM top1 WHERE dim = 64
    )
    SELECT t.dim, COUNT(*) AS n_queries,
           CAST(SUM(CASE WHEN t.cand_id = f.full_cand THEN 1 ELSE 0 END)
                AS BIGINT) AS n_matched,
           CAST(SUM(CASE WHEN t.cand_id = f.full_cand THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS recall
    FROM top1 t JOIN full_top f USING (query_id)
    GROUP BY t.dim ORDER BY t.dim
"""

_Q274_NOTES = (
    "MATRYOSHKA TRUNCATION RECALL (llm/similarity.truncation_recall — "
    "the go/no-go measurement before storing truncated embeddings: "
    "fraction of vectors keeping their FULL-dim exact top-1 neighbor "
    "when cosine runs on only the first d components; MRL-trained "
    "models hold recall at small d, ordinary embeddings collapse): "
    "ONE require_small-guarded pairwise scoring with ALL dims' "
    "cosines per pair map-side (struct explode — one crossJoin, not "
    "|dims|+1), one (query, dim) rank window, a broadcast self-join "
    "vs the full-dim top-1. At corpus scale the contract is a "
    "hash-sampled probe subset (the q43 exact-baseline class). "
    "Full-dim recall == 1.0 is a structural invariant the hash "
    "compare pins"
)


register("q274_truncation_recall", _Q274_ORACLE, _Q274_NOTES)(q274_truncation_recall)


def q289_postings_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.retrieval import build_postings

    docs = read_table(spark, sf_dir, "documents")
    # Driver-canon contract (catalog.py:5-9): scalar output columns only.
    # The operator's API keeps real arrays; THIS catalog anchor serializes
    # them with to_json (bracketed, no whitespace — bit-identical to
    # DuckDB's to_json VARCHAR cast) so the driver's pandas sort/hash
    # canonicalizer never sees an unhashable list (the r09 failure).
    return (
        build_postings(docs, "doc_id", "text", block_size=64)
        .filter(F.col("df") >= 5)
        .select(
            "token",
            "block",
            F.to_json("doc_gaps").alias("doc_gaps"),
            F.to_json("positions").alias("positions"),
            "df",
        )
        .orderBy("token", "block")
    )


_Q289_ORACLE = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS ts
      FROM documents
    ),
    flat AS (
      SELECT doc_id, e.tok AS token, e.pos AS pos
      FROM (
        SELECT doc_id,
               unnest(list_transform(ts,
                 (x, i) -> struct_pack(tok := x, pos := i - 1))) AS e
        FROM toks
      )
    ),
    perdoc AS (
      SELECT token, doc_id, list_sort(list(pos)) AS poss
      FROM flat GROUP BY token, doc_id
    ),
    blocked AS (
      SELECT token, doc_id, poss,
             CAST((row_number() OVER (PARTITION BY token ORDER BY doc_id)
                   - 1) // 64 AS BIGINT) AS block,
             COUNT(*) OVER (PARTITION BY token) AS df
      FROM perdoc
    ),
    entries AS (
      SELECT token, block, MAX(df) AS df,
             list(doc_id ORDER BY doc_id) AS ids,
             list(poss ORDER BY doc_id) AS positions
      FROM blocked GROUP BY token, block
    )
    SELECT token, block,
           CAST(to_json(list_transform(ids,
             (x, i) -> x - CASE WHEN i = 1 THEN 0 ELSE ids[i - 1] END))
             AS VARCHAR) AS doc_gaps,
           CAST(to_json(positions) AS VARCHAR) AS positions, df
    FROM entries
    WHERE df >= 5
    ORDER BY token, block
"""

_Q289_NOTES = (
    "POSITIONAL INVERTED-INDEX CONSTRUCTION (llm/retrieval."
    "build_postings — the search-infra ARTIFACT bm25_topk queries "
    "against, materialized: per (token, block) delta-encoded doc ids + "
    "per-doc sorted position lists + cross-block df): posting lists "
    "SHARDED into 64-doc blocks so a stop token becomes many bounded "
    "rows, never one giant array (the segment-block layout); one "
    "posexplode + (token,doc) agg + token-keyed window pair — the "
    "index IS a DataFrame, never collected. Delta chain replayed "
    "token-identically by DuckDB's indexed list_transform"
)


register("q289_postings_index", _Q289_ORACLE, _Q289_NOTES)(q289_postings_index)


def q303_ranking_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG/MRR/P@10 over a deterministic ranking fixture: 5 queries,
    per-query ranking by the md5 rule (so both engines produce the
    identical 'retrieval run'), graded qrels from a doc_id residue —
    the metric operator is what's under test, with hits, misses,
    graded gains and no-relevant queries all present."""
    from pyspark.sql import Window

    from ..llm.retrieval import ranking_metrics

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    base = docs.withColumn("query_id", (F.col("doc_id") % 5).cast("long"))
    w = Window.partitionBy("query_id").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":rank"))),
        F.col("doc_id"),
    )
    results = (
        base.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "doc_id", "rank")
    )
    qrels = docs.select(
        (F.col("doc_id") % 5).cast("long").alias("query_id"),
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, 2)
        .when(F.col("doc_id") % 7 == 1, 1)
        .otherwise(0)
        .alias("rel"),
    ).filter(F.col("rel") > 0)
    return ranking_metrics(results, qrels, k=10).orderBy("query_id")


_Q303_ORACLE = """
    WITH base AS (
      SELECT doc_id, CAST(doc_id % 5 AS BIGINT) AS query_id FROM documents
    ),
    results AS (
      SELECT query_id, doc_id,
             row_number() OVER (
               PARTITION BY query_id
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':rank'), doc_id
             ) AS rank
      FROM base
      QUALIFY rank <= 10
    ),
    qrels AS (
      SELECT CAST(doc_id % 5 AS BIGINT) AS query_id, doc_id,
             CASE WHEN doc_id % 7 = 0 THEN 2
                  WHEN doc_id % 7 = 1 THEN 1 ELSE 0 END AS rel
      FROM documents
      WHERE doc_id % 7 IN (0, 1)
    ),
    hits AS (
      SELECT r.query_id, r.rank,
             CAST(COALESCE(q.rel, 0) AS DOUBLE) AS rel
      FROM results r
      LEFT JOIN qrels q ON q.query_id = r.query_id AND q.doc_id = r.doc_id
    ),
    per_query AS (
      SELECT query_id,
             round(SUM(rel / log2(CAST(rank AS DOUBLE) + 1.0)), 9) AS dcg,
             MAX(CASE WHEN rel > 0 THEN 1.0 / rank END) AS rr,
             SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) / 10.0 AS prec
      FROM hits GROUP BY query_id
    ),
    ideal AS (
      SELECT query_id,
             round(SUM(CAST(rel AS DOUBLE)
                       / log2(CAST(irank AS DOUBLE) + 1.0)), 9) AS idcg
      FROM (
        SELECT query_id, rel,
               row_number() OVER (
                 PARTITION BY query_id ORDER BY rel DESC, doc_id ASC
               ) AS irank
        FROM qrels
      )
      WHERE irank <= 10
      GROUP BY query_id
    )
    SELECT p.query_id,
           round(p.dcg / i.idcg, 6) AS ndcg,
           round(COALESCE(p.rr, 0.0), 6) AS mrr,
           round(p.prec, 6) AS precision
    FROM per_query p JOIN ideal i USING (query_id)
    ORDER BY p.query_id
"""

_Q303_NOTES = (
    "RANKING-QUALITY METRICS (llm/retrieval.ranking_metrics — NDCG@k / "
    "MRR@k / Precision@k per query, the feedback loop that makes the "
    "bm25/tfidf/rrf family TUNABLE): graded DCG rel/log2(rank+1), "
    "deterministic IDCG tie order (rel DESC, doc ASC), trec_eval's "
    "drop-no-relevant-queries convention; one (query,doc) left join + "
    "one query-keyed ideal window + one agg. log2 raw IEEE in "
    "identical order, 6dp per the libm rule; fixture ranking by the "
    "md5 rule so both engines score the identical run"
)


register("q303_ranking_metrics", _Q303_ORACLE, _Q303_NOTES)(q303_ranking_metrics)


def q305_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.similarity import int8_quantize_stats

    emb = read_table(spark, sf_dir, "embeddings")
    return int8_quantize_stats(emb).orderBy("vec_id")


_Q305_ORACLE = """
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    st AS (
      SELECT vec_id, v, list_min(v) AS mn,
             (list_max(v) - list_min(v)) / 255.0 AS scale
      FROM e
    )
    SELECT vec_id,
           round(scale, 9) AS scale,
           round(mn, 6) AS zero_point,
           CASE WHEN scale = 0 THEN 0.0 ELSE
             round(list_sum(list_transform(v, x ->
               round(abs(x - (mn + floor((x - mn) / scale + 0.5) * scale)),
                     9))) / len(v), 9)
           END AS mae
    FROM st
    ORDER BY vec_id
"""

_Q305_NOTES = (
    "INT8 EMBEDDING QUANTIZATION ACCOUNTING (llm/similarity."
    "int8_quantize_stats — per-vector affine scale/zero-point plus the "
    "reconstruction MAE actually incurred, the question before "
    "shipping an index at 1/4 the bytes): explicit floor(x+0.5) "
    "rounding (never round(): HALF_UP vs banker's differs across "
    "engines), map-only HOF arithmetic, per-element error terms 9dp "
    "before the fold (the q43 convention)"
)


def q306_hamming_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.similarity import hamming_rerank

    emb = read_table(spark, sf_dir, "embeddings")
    return hamming_rerank(
        emb.filter(F.col("vec_id") < 5), emb, k=5, shortlist=20
    ).orderBy("query_id", "rank")


_Q306_ORACLE = """
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    packed AS (
      SELECT vec_id, v,
        CAST(list_sum(list_transform(generate_series(1, 32), i ->
          CASE WHEN v[i] > 0 THEN CAST(1 AS BIGINT) << (i - 1)
               ELSE 0 END)) AS BIGINT) AS lo,
        CAST(list_sum(list_transform(generate_series(33, 64), i ->
          CASE WHEN v[i] > 0 THEN CAST(1 AS BIGINT) << (i - 33)
               ELSE 0 END)) AS BIGINT) AS hi
      FROM e
    ),
    cand AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id, q.v AS qv, c.v AS cv,
             CAST(bit_count(xor(q.lo, c.lo))
                  + bit_count(xor(q.hi, c.hi)) AS INTEGER) AS hamming
      FROM packed q JOIN packed c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 5
    ),
    short AS (
      SELECT query_id, cand_id, hamming, qv, cv,
             row_number() OVER (
               PARTITION BY query_id ORDER BY hamming, cand_id) AS hrank
      FROM cand
      QUALIFY hrank <= 20
    ),
    scored AS (
      SELECT query_id, cand_id, hamming,
             round(list_cosine_similarity(qv, cv), 6) AS cos_sim
      FROM short
    )
    SELECT query_id, cand_id, hamming, cos_sim, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    ORDER BY query_id, rank
"""

_Q306_NOTES = (
    "BINARY HAMMING TWO-STAGE RETRIEVAL (llm/similarity.hamming_rerank "
    "— sign-bit embeddings at 16 bytes/vector shortlist by XOR + "
    "bit_count, exact cosine reranks only the shortlist: the classic "
    "serving memory/accuracy trade): bits packed 32-per-BIGINT (never "
    "bit 63 — engines disagree on signed shift overflow), queries "
    "broadcast against the packed corpus (the q43 discipline, corpus "
    "never shuffles), integer hamming with deterministic id ties. "
    "Oracle replays the packing digit-for-digit and reranks with "
    "list_cosine_similarity"
)


register("q305_int8_quantization", _Q305_ORACLE, _Q305_NOTES)(q305_int8_quantization)
register("q306_hamming_rerank", _Q306_ORACLE, _Q306_NOTES)(q306_hamming_rerank)


def q309_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.cluster import silhouette_simplified

    emb = read_table(spark, sf_dir, "embeddings")
    return silhouette_simplified(emb).orderBy("label")


_Q309_ORACLE = """
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
    scored AS (
      SELECT v.vec_id, v.label, c.clabel,
             sqrt(list_sum(list_transform(generate_series(1, len(c.centroid)),
               i -> round((CAST(v.embedding[i] AS DOUBLE) - c.centroid[i])
                          * (CAST(v.embedding[i] AS DOUBLE) - c.centroid[i]),
                          9)))) AS dist
      FROM embeddings v CROSS JOIN cents c
    ),
    per_vec AS (
      SELECT vec_id, label,
             MAX(CASE WHEN label = clabel THEN dist END) AS a,
             MIN(CASE WHEN label <> clabel THEN dist END) AS b
      FROM scored GROUP BY vec_id, label
    ),
    svals AS (
      SELECT label,
             CASE WHEN greatest(a, b) = 0 THEN 0.0
                  ELSE round((b - a) / greatest(a, b), 6) END AS s
      FROM per_vec WHERE b IS NOT NULL
    )
    SELECT label, COUNT(*) AS n,
           round(CAST(SUM(CAST(s AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_silhouette
    FROM svals GROUP BY label
    ORDER BY label
"""

_Q309_NOTES = (
    "SIMPLIFIED SILHOUETTE (llm/cluster.silhouette_simplified — the "
    "clustering-quality readout at corpus scale: exact silhouette is "
    "all-pairs O(n^2); the simplified form scores vectors against "
    "CENTROIDS only, one decimal-summed centroid build + one labels-"
    "sized broadcast per vector): per-element distance terms 9dp "
    "before the fold (q43 convention), per-vector s 6dp, per-label "
    "mean decimal-summed so the reduction is order-free; "
    "zero-denominator vectors score 0 by convention"
)


register("q309_silhouette", _Q309_ORACLE, _Q309_NOTES)(q309_silhouette)


def q310_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR over a deterministic candidate set: 5 queries x 40 hash-
    scored candidates from the embeddings table."""
    from ..llm.retrieval import mmr_diversify

    emb = read_table(spark, sf_dir, "embeddings")
    cands = (
        emb.select(
            (F.col("vec_id") % 5).alias("query_id"),
            F.col("vec_id").alias("doc_id"),
            "embedding",
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(":rel"))),
                        1, 6,
                    ), 16, 10,
                ).cast("double")
                / F.lit(float(1 << 24))
            ).alias("rel"),
        )
        .filter(F.col("doc_id") < 200)
    )
    return mmr_diversify(cands, k=5, lam=0.7).orderBy("query_id", "mmr_rank")


_Q310_ORACLE = """
    WITH RECURSIVE cand AS (
      SELECT vec_id % 5 AS query_id,
             vec_id AS doc_id,
             CAST(('0x' || substring(md5(CAST(vec_id AS VARCHAR) || ':rel'), 1, 6))
                  AS BIGINT) / 16777216.0 AS rel,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
      WHERE vec_id < 200
    ),
    sel AS (
      SELECT query_id,
             pick['doc_id'] AS doc_id,
             1 AS mmr_rank,
             pick['s'] AS raw_score,
             [pick['doc_id']] AS picked,
             [pick['v']] AS picked_vs
      FROM (
        SELECT query_id,
               max(struct_pack(s := 0.7 * rel, d := -doc_id,
                               doc_id := doc_id, v := v)) AS pick
        FROM cand GROUP BY query_id
      )
      UNION ALL
      SELECT query_id,
             pick['doc_id'],
             mmr_rank + 1,
             pick['s'],
             list_append(picked, pick['doc_id']),
             list_append(picked_vs, pick['v'])
      FROM (
        SELECT s.query_id,
               any_value(s.mmr_rank) AS mmr_rank,
               any_value(s.picked) AS picked,
               any_value(s.picked_vs) AS picked_vs,
               max(struct_pack(
                 s := 0.7 * c.rel - (1 - 0.7) * greatest(0, list_max(list_transform(
                        s.picked_vs, pv -> list_cosine_similarity(c.v, pv)))),
                 d := -c.doc_id, doc_id := c.doc_id, v := c.v)) AS pick
        FROM sel s
        JOIN cand c
          ON c.query_id = s.query_id AND NOT list_contains(s.picked, c.doc_id)
        WHERE s.mmr_rank < 5
        GROUP BY s.query_id
      )
    )
    SELECT query_id, doc_id, CAST(mmr_rank AS INTEGER) AS mmr_rank,
           round(raw_score, 6) AS mmr_score
    FROM sel
    ORDER BY query_id, mmr_rank
"""

_Q310_NOTES = (
    "MMR DIVERSIFICATION (llm/retrieval.mmr_diversify — maximal "
    "marginal relevance between retrieval and the context window: "
    "greedy argmax of lam*rel - (1-lam)*max(0, max-sim-to-selected) so "
    "near-duplicate passages stop crowding the second topic; the "
    "penalty clamps at 0 — a negative cosine is 'maximally diverse', "
    "never a bonus): per-query grouped Arrow batch over ALREADY-TOP-N "
    "candidates (the rrf_fuse contract), keys parallelize. Converted "
    "from rows-only in round 11 (VERDICT r10 item 4): the greedy chain "
    "is deterministic given the md5 rel scores, so a recursive CTE "
    "replays the argmax exactly — max(struct(score, -doc_id, ...)) is "
    "the tie-broken argmax, the picked-vector list rides in the "
    "recursion state, verified rank-for-rank at all three fixture "
    "scales; lam=1-reduction and near-dup-demotion laws stay pinned in "
    "pytest"
)


register("q310_mmr_diversify", _Q310_ORACLE, _Q310_NOTES)(q310_mmr_diversify)


# --- q343: density clustering on the LSH graph --------------------------------


def q343_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN-style density clustering over the q40 minhash pair graph
    (llm/cluster.density_clusters): cores need >= 2 near-dup neighbors,
    clusters are core-core components, single-edge borders attach to
    their smallest core cluster, bridge-only nodes are noise."""
    from ..llm.cluster import density_clusters
    from ..llm.dedup import minhash_near_dup_pairs

    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(docs, threshold=0.5)
    return (
        density_clusters(pairs, min_pts=2)
        .select(F.col("id").alias("doc_id"), "cluster_id", "role")
        .orderBy("doc_id")
    )


def _q343_oracle() -> str:
    from .llm import _MINHASH_CTES

    return f"""
    WITH RECURSIVE {_MINHASH_CTES},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
      UNION
      SELECT doc_b, doc_a FROM mh_pairs
    ),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY 1),
    cores AS (SELECT src AS c FROM deg WHERE d >= 2),
    ce AS (
      SELECT e.src, e.dst FROM edges e
      JOIN cores c1 ON e.src = c1.c
      JOIN cores c2 ON e.dst = c2.c
    ),
    reach(id, r) AS (
      SELECT c, c FROM cores
      UNION
      SELECT ce.dst, reach.r FROM reach JOIN ce ON ce.src = reach.id
    ),
    core_labels AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
    border AS (
      SELECT e.src AS id, MIN(cl.cluster_id) AS cluster_id
      FROM edges e JOIN core_labels cl ON e.dst = cl.id
      WHERE e.src NOT IN (SELECT c FROM cores)
      GROUP BY e.src
    )
    SELECT id AS doc_id, cluster_id, 'core' AS role FROM core_labels
    UNION ALL
    SELECT id AS doc_id, cluster_id, 'border' AS role FROM border
    ORDER BY doc_id
    """


_Q343_NOTES = (
    "DENSITY-REACHABILITY CLUSTERING on the LSH pair graph "
    "(llm/cluster.density_clusters — the DBSCAN upgrade of q87's plain "
    "transitive closure: plain closure welds unrelated near-dup cliques "
    "through accidental single-edge bridges; requiring >= min_pts "
    "neighbors for core status breaks exactly those bridges): degree "
    "agg -> core filter -> min-label components on the CORE subgraph "
    "only -> one join+min-agg border attachment; noise absent. The "
    "oracle replays pairs, degrees, the core-core recursive closure, "
    "and border min-labels order-independently"
)

register("q343_density_clusters", _q343_oracle(), _Q343_NOTES)(q343_density_clusters)


# --- q354: product-quantization encode -------------------------------------------


def q354_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codebook train + encode over the embeddings table
    (llm/similarity.pq_train/pq_encode — the memory half of
    billion-vector ANN serving: 64 floats -> 4 one-byte codes). Rows-only
    by design (spark.ml KMeans centroids are float-sum order dependent,
    the q65 IVF precedent); pytest pins reconstruction-error dominance
    over the global-mean quantizer, code-range bounds, and encode
    determinism given codebooks."""
    from ..llm.similarity import pq_encode, pq_train

    emb = read_table(spark, sf_dir, "embeddings")
    books = pq_train(emb, m=4, k=16, seed=42)
    return (
        pq_encode(emb, books)
        .select("vec_id", "code", F.round("recon_err", 4).alias("recon_err"))
        .orderBy("vec_id")
    )


_Q354_NOTES = (
    "PRODUCT QUANTIZATION train+encode (llm/similarity.pq_train / "
    "pq_encode — Jegou-Douze-Schmid 2011, the memory side of ANN "
    "serving next to q65 IVF routing and the int8/Hamming servers: "
    "d-dim vectors become m subspace codes, 256 bytes -> 4, distances "
    "reconstruct per subspace): per-subspace KMeans fits on the "
    "bounded deterministic sample (the ivf fit discipline — multi-pass "
    "fits scale with the sample), encode is vectorized-numpy argmin in "
    "map-only Arrow batches with codebooks in the closure. Rows-only: "
    "KMeans centroids are float-sum order dependent (q65 precedent); "
    "pytest pins reconstruction dominance + determinism given books"
)

register("q354_pq_encode", None, _Q354_NOTES)(q354_pq_encode)


# --- q359: high-diameter components via star contraction --------------------------


def q359_components_contracting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-contraction components on a deliberately HIGH-DIAMETER link
    graph (llm/cluster.connected_components_contracting — Kiveris
    two-phase large-star/small-star): the user-id chain u—(u+1) with a
    break before every multiple of 37 has diameter ~= segment length,
    the shape where plain min-label propagation needs diameter-many
    rounds and the contraction loop needs O(log n)."""
    from pyspark.sql import Window

    from ..llm.cluster import connected_components_contracting

    ids = (
        read_table(spark, sf_dir, "events")
        .select(F.col("user_id").alias("u"))
        .distinct()
    )
    w = Window.orderBy("u")
    edges = (
        ids.withColumn("_next", F.lead("u").over(w))
        .filter(
            F.col("_next").isNotNull()
            & (F.col("_next") == F.col("u") + 1)
            & (F.col("_next") % 37 != 0)
        )
        .select(F.col("u").alias("doc_a"), F.col("_next").alias("doc_b"))
    )
    comp = connected_components_contracting(edges, max_iter=12)
    return (
        ids.join(comp, ids["u"] == comp["id"], "left")
        .select(
            F.col("u").alias("user_id"),
            F.coalesce("cluster_id", F.col("u")).alias("component"),
        )
        .orderBy("user_id")
    )


_Q359_ORACLE = """
    WITH ids AS (SELECT DISTINCT user_id AS u FROM events),
    marked AS (
      SELECT u,
             CASE WHEN u % 37 = 0
                    OR lag(u) OVER (ORDER BY u) IS NULL
                    OR lag(u) OVER (ORDER BY u) <> u - 1
                  THEN u END AS seg_start
      FROM ids
    )
    SELECT u AS user_id,
           MAX(seg_start) OVER (ORDER BY u
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS component
    FROM marked ORDER BY u
"""

_Q359_NOTES = (
    "HIGH-DIAMETER CONNECTED COMPONENTS via alternating star "
    "contraction (llm/cluster.connected_components_contracting — "
    "Kiveris et al. SoCC 2014 large-star/small-star; closes the gap "
    "the plain min-label loop documents: propagation needs "
    "diameter-many rounds, contraction halves diameter per pass, "
    "O(log n) on any shape): each phase is one min-agg + one edge "
    "equi-join, edge set only shrinks toward the star forest of "
    "component minima; exact multiset fixpoint probe. Anchor graph is "
    "a user-id chain with breaks (diameter ~= segment length — plain "
    "CC at the same round budget RuntimeErrors, pytest-pinned); the "
    "oracle derives components as running-max segment starts. The "
    "window in the anchor's edge SYNTHESIS is fixture-sized; the "
    "operator itself never sorts globally"
)

register("q359_components_contracting", _Q359_ORACLE, _Q359_NOTES)(
    q359_components_contracting
)


# --- q362: ranking-stability RBO of int8 quantization -------------------------------


def q362_rbo_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much does int8 quantization perturb retrieval rankings?
    (llm/retrieval.rbo_overlap over the exact cosine top-10 vs the
    dequantized-int8 cosine top-10, probe queries = vec_id % 100 == 0 —
    the q43 bounded probe-subset contract.) The serving A/B question
    NDCG can't answer without labels."""
    from ..llm.retrieval import rbo_overlap
    from ..llm.similarity import (
        cosine_topk,
        dequantize_embeddings,
        quantize_embeddings,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = cosine_topk(queries, emb, k=10)
    deq = dequantize_embeddings(quantize_embeddings(emb))
    quant = cosine_topk(
        deq.filter(F.col("vec_id") % 100 == 0), deq, k=10
    )
    return rbo_overlap(exact, quant, k=10, p=0.9).orderBy("query_id")


def _q362_oracle() -> str:
    k, p = 10, 0.9
    consts = ", ".join(
        f"({m}, CAST({round(sum(p ** (d - 1) / d for d in range(m, k + 1)), 9)} AS DECIMAL(20,9)))"
        for m in range(1, k + 1)
    )
    rank_cte = """
      SELECT a.vec_id AS query_id, c.vec_id AS cand_id,
             row_number() OVER (
               PARTITION BY a.vec_id
               ORDER BY round(list_cosine_similarity(a.v, c.v), 6) DESC,
                        c.vec_id) AS rnk
      FROM {src} a JOIN {src} c ON c.vec_id <> a.vec_id
      WHERE a.vec_id % 100 = 0
    """
    return f"""
    WITH q AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    am AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS m
      FROM q
    ),
    dq AS (
      SELECT vec_id,
             CASE WHEN m = 0 THEN list_transform(v, x -> 0.0)
                  ELSE list_transform(v,
                         x -> floor(x * 127.0 / m + 0.5) * (m / 127.0))
             END AS v
      FROM am
    ),
    re AS ({rank_cte.format(src="q")}),
    rq AS ({rank_cte.format(src="dq")}),
    consts(m, c) AS (VALUES {consts}),
    joined AS (
      SELECT e.query_id, GREATEST(e.rnk, u.rnk) AS mx
      FROM (SELECT * FROM re WHERE rnk <= 10) e
      JOIN (SELECT * FROM rq WHERE rnk <= 10) u
        ON u.query_id = e.query_id AND u.cand_id = e.cand_id
    )
    SELECT j.query_id,
           COUNT(*) AS overlap_k,
           round({1.0 - p!r} * CAST(SUM(k.c) AS DOUBLE), 6) AS rbo
    FROM joined j JOIN consts k ON k.m = j.mx
    GROUP BY 1 ORDER BY 1
    """


_Q362_NOTES = (
    "RANK-BIASED OVERLAP of int8-quantized vs exact retrieval "
    "(llm/retrieval.rbo_overlap — Webber-Moffat-Zobel 2010, the "
    "ranking-similarity member of the eval family: NDCG/MRR judge one "
    "ranking against labels, RBO compares two rankings against each "
    "other — the quantization/index/rerank A-B question): the "
    "per-depth intersection telescopes into ONE constant per item, "
    "C[max(r_a,r_b)] = sum_{d>=m} p^(d-1)/d, precomputed in Python "
    "and embedded as identical 9dp decimal literals in BOTH engines "
    "(including the 1-p factor as its exact double repr — 1-0.9 is "
    "not 0.1 in binary); one (query,item) equi-join + one decimal "
    "agg, no per-depth expansion. Probe queries bounded by the q43 "
    "contract; the quantized side replays the exact floor(x*127/"
    "absmax+0.5) int8 rule"
)

register("q362_rbo_quantization", _q362_oracle(), _Q362_NOTES)(q362_rbo_quantization)


# --- q363: MinHash band/row auto-tuner -----------------------------------------


def q363_minhash_autotune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band/row auto-tuner (llm/dedup.minhash_tune) over the exact
    pair-Jaccard distribution of the documents shingle graph — the
    harness that turns q357's pair-quality audit from a report into a
    knob: for each factorization of the 16-hash budget, the predicted
    recall/waste at threshold 0.5."""
    from ..llm.dedup import minhash_tune, ngram_jaccard_pairs

    docs = read_table(spark, sf_dir, "documents")
    sims = ngram_jaccard_pairs(docs, threshold=0.0)
    return minhash_tune(sims, "jaccard", n_hashes=16, target=0.5).orderBy(
        "pick_rank"
    )


def _q363_oracle() -> str:
    from .llm import _JACCARD_SQL, _SHINGLES_SQL

    avg_pos = stable_avg_sql("CASE WHEN s >= 0.5 THEN p END", scale=9)
    avg_neg = stable_avg_sql("CASE WHEN s < 0.5 THEN p END", scale=9)
    return f"""
    WITH sh AS ({_SHINGLES_SQL}),
    shx AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM shx a JOIN shx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    sims AS (
      SELECT CAST({_JACCARD_SQL} AS DOUBLE) AS s
      FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
                  JOIN sh sb ON sb.doc_id = c.doc_b
    ),
    cfg AS (SELECT * FROM (VALUES (1, 16), (2, 8), (4, 4), (8, 2), (16, 1))
            t(b, r)),
    scored AS (
      SELECT b, r, s,
             round(1.0 - pow(1.0 - pow(s, r), b), 9) AS p
      FROM sims CROSS JOIN cfg
    ),
    agg AS (
      SELECT b, r,
             round({avg_pos}, 6) AS exp_recall,
             round({avg_neg}, 6) AS exp_waste,
             COUNT(CASE WHEN s >= 0.5 THEN 1 END) AS n_pos,
             COUNT(CASE WHEN s < 0.5 THEN 1 END) AS n_neg
      FROM scored GROUP BY b, r
    )
    SELECT CAST(b AS INTEGER) AS b, CAST(r AS INTEGER) AS r,
           round(pow(1.0 / b, 1.0 / r), 6) AS s_star,
           exp_recall, exp_waste, n_pos, n_neg,
           CAST(row_number() OVER (
             ORDER BY abs(round(pow(1.0 / b, 1.0 / r), 9) - 0.5) ASC,
                      b DESC) AS INTEGER) AS pick_rank
    FROM agg ORDER BY pick_rank
    """


_Q363_NOTES = (
    "MINHASH BAND/ROW AUTO-TUNER (llm/dedup.minhash_tune — VERDICT r10 "
    "candidate 1, pairs with q357's pair_quality: the audit measures "
    "banding recall empirically, the tuner predicts it analytically "
    "from the S-curve P(cand|s)=1-(1-s^r)^b [Leskovec-Rajaraman-Ullman "
    "MMDS ch.3] and inverts it for a target threshold via "
    "s*=(1/b)^(1/r)): evaluated against the OBSERVED exact-Jaccard "
    "pair distribution (audit-scale by contract — the tuner itself "
    "consumes one similarity column via a literal config explode + one "
    "map-combined groupBy, never a join, never documents; its ranking "
    "window runs over the <= d(16)=5 config rows). Probabilities "
    "9dp-rounded before the decimal-stabilized mean (the libm pow "
    "rule); pick_rank 1 lands on (b=8, r=2) = the shipped "
    "NUM_BANDS/BAND_ROWS defaults, which is the point"
)

register("q363_minhash_autotune", _q363_oracle(), _Q363_NOTES)(q363_minhash_autotune)


# --- q365: delta-mode connected components --------------------------------------


def q365_components_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CC (llm/cluster.connected_components_delta — VERDICT
    r10 candidate 3): q359's chain graph split into a frozen prior
    labeling (edges except the u %% 11 == 3 holdouts) and a delta batch
    (the holdouts, each re-welding two prior components); the merged
    labeling must equal q359's full recompute — same closed-form
    oracle."""
    from pyspark.sql import Window

    from ..llm.cluster import (
        connected_components_contracting,
        connected_components_delta,
    )

    ids = (
        read_table(spark, sf_dir, "events")
        .select(F.col("user_id").alias("u"))
        .distinct()
    )
    w = Window.orderBy("u")
    edges = (
        ids.withColumn("_next", F.lead("u").over(w))
        .filter(
            F.col("_next").isNotNull()
            & (F.col("_next") == F.col("u") + 1)
            & (F.col("_next") % 37 != 0)
        )
        .select(F.col("u").alias("doc_a"), F.col("_next").alias("doc_b"))
    )
    delta = edges.filter(F.col("doc_a") % 11 == 3)
    base = edges.filter(F.col("doc_a") % 11 != 3)
    prior_cc = connected_components_contracting(base, max_iter=12)
    prior = ids.join(prior_cc, ids["u"] == prior_cc["id"], "left").select(
        F.col("u").alias("id"),
        F.coalesce("cluster_id", F.col("u")).alias("cluster_id"),
    )
    merged = connected_components_delta(prior, delta, max_iter=12)
    return merged.select(
        F.col("id").alias("user_id"), F.col("cluster_id").alias("component")
    ).orderBy("user_id")


_Q365_ORACLE = """
    WITH ids AS (SELECT DISTINCT user_id AS u FROM events),
    marked AS (
      SELECT u,
             CASE WHEN u % 37 = 0
                    OR lag(u) OVER (ORDER BY u) IS NULL
                    OR lag(u) OVER (ORDER BY u) <> u - 1
                  THEN u END AS seg_start
      FROM ids
    )
    SELECT u AS user_id,
           MAX(seg_start) OVER (ORDER BY u
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS component
    FROM marked ORDER BY u
"""

_Q365_NOTES = (
    "DELTA-MODE CONNECTED COMPONENTS (llm/cluster."
    "connected_components_delta — VERDICT r10 candidate 3, the "
    "incremental twin of q359 for daily corpus appends: new edges "
    "merge into a FROZEN min-id labeling without re-clustering the "
    "corpus): endpoints project to prior labels (one left equi-join "
    "per side), star contraction runs on the DELTA-SIZED label graph, "
    "one map-back join relabels — work scales with the append, never "
    "the corpus. Exactness: with min-id labels, label-level merging "
    "is lossless, so the result EQUALS the full recompute — the "
    "anchor replays q359's chain graph with the u%11==3 edges held "
    "out as the delta batch (each holdout re-welds two prior "
    "components) and shares q359's closed-form segment oracle; a "
    "randomized pytest pins delta == full on arbitrary graph splits "
    "incl. never-seen nodes"
)

register("q365_components_delta", _Q365_ORACLE, _Q365_NOTES)(q365_components_delta)


# --- q366: PQ recall@k eval ------------------------------------------------------


def q366_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ serving-quality eval (llm/similarity.pq_recall_at_k — VERDICT
    r10 candidate 4): recall@10 of ADC retrieval over q354's m=4/k=16
    codebooks against exact squared-L2 top-10, for the 5 probe
    queries of the q43 contract."""
    from ..llm.similarity import pq_recall_at_k, pq_train

    emb = read_table(spark, sf_dir, "embeddings")
    books = pq_train(emb, m=4, k=16)
    return pq_recall_at_k(
        emb.filter(F.col("vec_id") < 5), emb, books, k=10
    ).orderBy("query_id")


_Q366_NOTES = (
    "PQ RECALL@K EVAL (llm/similarity.pq_adc_topk + pq_recall_at_k — "
    "VERDICT r10 candidate 4, closes the PQ loop the way q362's RBO "
    "closed int8's: q354 proved the codes reconstruct, this measures "
    "what the m-byte index RETRIEVES): per query an m x kc ADC lookup "
    "table (Jegou-Douze-Schmid 2011 SIV) ships in the closure with "
    "the codebooks; the codes table streams through ONE map-only "
    "Arrow pass — the float corpus is never joined on the ADC arm; "
    "the exact arm is the q43 bounded-probe broadcast contract on the "
    "SAME metric (squared L2, what ADC approximates — not cosine); "
    "recall = one (query,cand) equi-join + count. ROWS-ONLY (KMeans "
    "codebooks have no SQL twin); pytests pin the identity ceiling "
    "(ADC over exact-reconstruction codebooks = recall 1), "
    "determinism under repartitioning, and the [0,1] range with "
    "n_hit <= k"
)

register("q366_pq_recall", None, _Q366_NOTES)(q366_pq_recall)


# --- q374: corpus-level boilerplate removal -----------------------------------------


def q374_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate removal (llm/dedup.drop_boilerplate_segments)
    over deterministically constructed pipe-separated boilerplate:
    universal footer + 50%-coverage banner + 1/25-coverage promo on top
    of the unique per-doc body."""
    from ..llm.dedup import drop_boilerplate_segments

    docs = read_table(spark, sf_dir, "documents")
    built = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" | all rights reserved footer"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit(" | subscribe to our newsletter"),
            ).otherwise(F.lit("")),
            F.lit(" | promo block "),
            (F.col("doc_id") % 25).cast("string"),
        ).alias("text"),
    )
    return drop_boilerplate_segments(built, min_docs=10).orderBy("doc_id")


_Q374_ORACLE = """
    WITH built AS (
      SELECT doc_id,
             text || ' | all rights reserved footer'
                  || CASE WHEN doc_id % 2 = 0
                          THEN ' | subscribe to our newsletter' ELSE '' END
                  || ' | promo block ' || CAST(doc_id % 25 AS VARCHAR) AS t
      FROM documents
    ),
    segs AS (
      SELECT doc_id, u.i AS pos, l[u.i] AS seg,
             md5(trim(lower(l[u.i]))) AS h
      FROM (SELECT doc_id, string_split(t, ' | ') AS l FROM built),
           UNNEST(generate_series(1, len(l))) AS u(i)
    ),
    boiler AS (
      SELECT h FROM segs GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 10
    ),
    kept AS (
      SELECT s.* FROM segs s WHERE s.h NOT IN (SELECT h FROM boiler)
    ),
    reassembled AS (
      SELECT doc_id,
             string_agg(seg, ' | ' ORDER BY pos) AS clean_text,
             COUNT(*) AS n_kept
      FROM kept GROUP BY doc_id
    ),
    removed AS (
      SELECT doc_id, COUNT(*) AS n_removed
      FROM segs WHERE h IN (SELECT h FROM boiler)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(r.clean_text, '') AS clean_text,
           COALESCE(r.n_kept, 0) AS n_kept,
           COALESCE(x.n_removed, 0) AS n_removed
    FROM documents d
    LEFT JOIN reassembled r ON r.doc_id = d.doc_id
    LEFT JOIN removed x ON x.doc_id = d.doc_id
    ORDER BY d.doc_id
"""

_Q374_NOTES = (
    "CORPUS-LEVEL BOILERPLATE REMOVAL (llm/dedup."
    "drop_boilerplate_segments — the CCNet/RefinedWeb paragraph-dedup "
    "cleaning step: nav bars, cookie banners and copyright footers "
    "repeat VERBATIM ACROSS a site's pages, a cross-document frequency "
    "signal no within-document filter sees; the missing third member "
    "of the cleaning stack next to q209's within-doc span dedup and "
    "q275's compression rule): posexplode segments, ONE map-combined "
    "distinct-doc-count per normalized segment hash, the boilerplate "
    "set (tiny by construction: entry requires min_docs distinct docs) "
    "broadcasts back as a LEFT ANTI join, reassembly is one doc-keyed "
    "sort_array agg — at 100 TB swap exact countDistinct for "
    "approx_count_distinct and persist the set per crawl snapshot. "
    "Anchor constructs pipe-separated boilerplate deterministically "
    "(universal footer, 50%-coverage banner, 1/25-coverage promo that "
    "crosses the min_docs=10 threshold between sf0.001 and sf0.01 — "
    "the threshold is exercised in BOTH directions across driver "
    "scales); fixture-construction discipline of the audio/image "
    "anchors. Threshold/order/empty-doc laws pytest-pinned"
)

register("q374_boilerplate_removal", _Q374_ORACLE, _Q374_NOTES)(
    q374_boilerplate_removal
)


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
