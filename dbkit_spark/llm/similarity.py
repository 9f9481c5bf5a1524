"""Embedding similarity search (SURVEY.md §2.11).

- ``cosine_topk``: brute-force top-k — the exact baseline. Plan shape:
  broadcast the (small) query set against the corpus, cosine via JVM
  higher-order functions, per-query top-k via window. Corpus side never
  shuffles except for the final per-query top-k (tiny).
- ``ann_bucketed``: the scale path — random-hyperplane LSH. Each vector
  gets a B-bit sign bucket per hash table; candidates are same-bucket
  pairs, then exact cosine verifies. Hyperplane signs are md5-derived
  (portable to the SQL oracle). At 100 TB: bucket count 2^B shards the
  n² problem; increase B with corpus size, and ``n_tables`` for recall.
  ``save_hyperplane_index`` / ``load_hyperplane_index`` /
  ``ann_query_index`` / ``ann_incremental_pairs`` serve query batches
  from a persisted index of the same tables.
- ``embedding_near_dup``: all-pairs cosine >= threshold (exact verify
  baseline over a self-join; use only post-bucketing at scale).
"""

from __future__ import annotations

import hashlib
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine
from ..operators.iterate import checkpoint_and_release, held
from ..operators.window import per_group_topk
from ._guards import DEFAULT_MAX_ROWS, require_small

ANN_BITS = 8


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for each query vector (excluding self).
    Queries are broadcast — corpus scans once, no corpus shuffle."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(cosine("qv", "cv"), 6).alias("cos_sim"),
        )
    )
    return per_group_topk(
        scored,
        partition_by=["query_id"],
        order_by=[F.col("cos_sim").desc(), F.col("cand_id").asc()],
        k=k,
        rank_col="rank",
    )


def _hyperplane_signs(bits: int, dim: int, table: int = 0) -> list[list[float]]:
    """The bits x dim ±1 hyperplane matrix: component h_p[d] = +1 if the
    first hex digit of md5(p ":" d) is odd else -1 (table 0); extra hash
    tables (``table`` >= 1) prefix the key with "t{table}:" so each table
    draws independent hyperplanes from the same portable md5 rule.

    Computed ONCE in Python and embedded as literals — the signs depend
    only on (table, p, d), never on row data, so evaluating md5 per row
    inside the bucket expression (the pre-round-5 shape) burned bits*dim
    hash calls per corpus row for a constant. The md5 derivation is
    unchanged, so a SQL oracle reproduces identical buckets from the
    hash rule alone, with no stored hyperplane table.
    """
    prefix = "" if table == 0 else f"t{table}:"
    return [
        [
            1.0
            if int(hashlib.md5(f"{prefix}{p}:{d}".encode()).hexdigest()[0], 16) % 2
            == 1
            else -1.0
            for d in range(dim)
        ]
        for p in range(bits)
    ]


def hyperplane_bucket(
    df: DataFrame,
    vec_col: str = "embedding",
    bits: int = ANN_BITS,
    dim: int = 64,
    table: int = 0,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Append an LSH ``bucket`` string column: bit p = sign(v . h_p),
    with the ±1 hyperplane matrix precomputed by ``_hyperplane_signs``
    (md5-portable, no stored table). The per-plane dot product is a pure
    zip_with multiply + aggregate fold over literal sign arrays — fully
    codegen'd, zero hash calls on the corpus-scan hot path."""
    signs = _hyperplane_signs(bits, dim, table)
    v = F.slice(F.col(vec_col).cast("array<double>"), 1, dim)

    def plane_dot(p: int):
        sign_arr = F.array(*[F.lit(s) for s in signs[p]])
        return F.aggregate(
            F.zip_with(v, sign_arr, lambda x, s: x * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    bucket = F.concat(
        *[F.when(plane_dot(p) >= 0, "1").otherwise("0") for p in range(bits)]
    )
    return df.withColumn(bucket_col, bucket)


def hyperplane_bucket_multi(
    df: DataFrame,
    vec_col: str = "embedding",
    bits: int = ANN_BITS,
    dim: int = 64,
    n_tables: int = 2,
) -> DataFrame:
    """Append ``n_tables`` independent LSH bucket columns ``bucket_0`` …
    ``bucket_{H-1}`` in ONE corpus pass (each table draws its own md5
    hyperplanes via the ``table`` key prefix). Multi-table LSH is the
    standard recall remedy: at fixed ``bits`` a single table caps recall
    (near neighbors split by any one hyperplane never meet); H tables
    re-draw the planes H times and a pair is a candidate if it collides
    in ANY table, so miss probability decays geometrically with H while
    bucket size (cost per table) stays fixed."""
    out = df
    for t in range(n_tables):
        out = hyperplane_bucket(
            out, vec_col, bits, dim, table=t, bucket_col=f"bucket_{t}"
        )
    return out


def _self_pairs(
    bucketed: DataFrame, bucket_col: str, threshold: float, id_col: str, vec_col: str
) -> DataFrame:
    """Same-bucket self-join of one table: (id_a < id_b, cos_sim) for
    rows sharing ``bucket_col``, exact cosine (6dp) >= threshold."""
    a = bucketed.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.col(bucket_col).alias("bk"),
    )
    b = bucketed.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.col(bucket_col).alias("bk"),
    )
    return (
        a.join(b, "bk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cosine("va", "vb"), 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def _probe_pairs(
    probe: DataFrame,
    bucket_col: str,
    index: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    names: tuple[str, str] = ("query_id", "cand_id"),
) -> DataFrame:
    """Broadcast probe of one loaded index table: ``probe`` rows meet the
    index rows whose precomputed ``bucket`` equals their ``bucket_col``;
    self-matches excluded, exact cosine (6dp) >= threshold. Emits
    (probe id, index id, cos_sim) under ``names``. The probe side is
    broadcast, so the index never shuffles."""
    probe_id, index_id = names
    qb = probe.select(
        F.col(id_col).alias(probe_id),
        F.col(vec_col).alias("qv"),
        F.col(bucket_col).alias("bucket"),
    )
    c = index.select(
        F.col(id_col).alias(index_id), F.col(vec_col).alias("cv"), "bucket"
    )
    return (
        c.join(F.broadcast(qb), "bucket")
        .filter(F.col(index_id) != F.col(probe_id))
        .select(
            probe_id, index_id, F.round(cosine("qv", "cv"), 6).alias("cos_sim")
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def ann_bucketed(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = ANN_BITS,
    dim: int = 64,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate near-neighbor pairs: same LSH bucket in ANY of
    ``n_tables`` hash tables AND cosine >= threshold. The bucket
    equi-join replaces the n² cross product. One corpus scan computes
    all H bucket columns; each table contributes one bucket
    equi-self-join (shuffled on its own bucket key); DISTINCT dedups
    pairs found by several tables before emission. At 100 TB: H× the
    join work of one table for geometrically better recall — the
    standard LSH cost/recall dial alongside ``bits``."""
    bucketed = hyperplane_bucket_multi(df, vec_col, bits, dim, n_tables)
    pairs = [
        _self_pairs(bucketed, f"bucket_{t}", threshold, id_col, vec_col)
        for t in range(n_tables)
    ]
    return reduce(DataFrame.unionByName, pairs).distinct()


def ivf_index(
    corpus: DataFrame,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    fit_sample_fraction: float | None = 0.05,
    min_fit_rows: int = 10_000,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: KMeans (spark.ml, fixed seed), fit on a
    bounded sample, assignment map-side over the full corpus.

    Returns ``(assigned, centroids)`` — the corpus with a ``cluster``
    column, and the tiny (n_clusters × dim) centroid table. The iterative
    KMeans job only ever sees ``fit_sample_fraction`` of the corpus
    (deterministic Bernoulli sample, seeded); ``model.transform`` is a
    broadcast-centroids map-only pass over everything, so at 100 TB the
    expensive multi-pass fit scales with the sample, not the data. The
    sample floor (``min_fit_rows``) keeps tiny-SF fits from starving:
    if the fraction would undershoot it, the fraction is raised to target
    the floor (capped at 1.0) — so at test SFs the fit still sees the
    whole corpus and centroids are unchanged, while a 100 TB corpus fits
    on ~5%. Sampled fit is the DEFAULT because a full-corpus multi-pass
    KMeans is a scale-killer: the fit re-scans the corpus per iteration,
    whereas centroid quality converges on a bounded sample (IVF only
    needs a coarse Voronoi partition). Pass ``fit_sample_fraction=None``
    to force an exact full-corpus fit.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = corpus.select(
        id_col,
        vec_col,
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("_features"),
    )
    fit_input = feat
    if fit_sample_fraction is not None:
        if not 0.0 < fit_sample_fraction <= 1.0:
            raise ValueError("fit_sample_fraction must be in (0, 1]")
        frac = fit_sample_fraction
        n = corpus.count()
        if n * frac < min_fit_rows:
            frac = min(1.0, min_fit_rows / max(n, 1))
        if frac < 1.0:
            fit_input = feat.sample(fraction=frac, seed=seed)
    model = KMeans(
        k=n_clusters, seed=seed, featuresCol="_features", predictionCol="cluster"
    ).fit(fit_input)
    assigned = model.transform(feat).select(id_col, vec_col, "cluster")
    spark = corpus.sparkSession
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cluster int, centroid array<double>",
    )
    return assigned, centroids


def ivf_topk(
    queries: DataFrame,
    assigned: DataFrame,
    centroids: DataFrame,
    k: int,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: route each query to its ``nprobe`` nearest centroids
    (broadcast — centroid table is tiny), then exact cosine only within the
    probed clusters (equi-join on ``cluster`` replaces the full cross
    product), per-query top-k. Approximate: recall < 1 when a true
    neighbor lives in an unprobed cluster; raise nprobe to trade cost for
    recall (tests measure recall vs the exact ``cosine_topk``)."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    probed = (
        q.crossJoin(F.broadcast(centroids))
        .select("query_id", "qv", "cluster", cosine("qv", "centroid").alias("cdist"))
    )
    probed = per_group_topk(
        probed,
        partition_by=["query_id"],
        order_by=[F.col("cdist").desc(), F.col("cluster").asc()],
        k=nprobe,
        rank_col="_probe_rank",
    ).select("query_id", "qv", "cluster")
    c = assigned.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"), "cluster"
    )
    scored = (
        c.join(F.broadcast(probed), "cluster")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", F.round(cosine("qv", "cv"), 6).alias("cos_sim"))
    )
    return per_group_topk(
        scored,
        partition_by=["query_id"],
        order_by=[F.col("cos_sim").desc(), F.col("cand_id").asc()],
        k=k,
        rank_col="rank",
    )


def save_hyperplane_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = ANN_BITS,
    dim: int = 64,
    n_tables: int = 1,
) -> None:
    """Materialize ``n_tables`` LSH tables to parquet, each under
    ``path/table_{t}`` and partitioned by an integer bucket id so later
    reads prune to probed buckets.

    A 100 TB corpus hashes ONCE and serves every subsequent query batch
    from this index (``ann_query_index``) — re-deriving buckets per query
    batch re-scans the corpus. All H bucket columns are computed in one
    corpus pass; with several tables the hashed corpus is held
    across the per-table writes, so it is scanned and hashed once.
    Storage is H× one table: the multi-table recall trade, paid in cheap
    parquet. The partition key is the bucket's integer value
    (``conv(bucket, 2, 10)``), not the raw bit-string: Spark's
    partition-column type inference parses an all-digit string like
    '00010110' back as the integer 10110, silently corrupting bit-string
    partition values on load. The exact bit-string rides along as a data
    column. ``bits`` is capped at 63: the decimal bucket id is cast to
    LongType, and a wider bucket would silently overflow to null and
    corrupt the partition column."""
    from ..sources.writers import write_parquet

    if bits > 63:
        raise ValueError(
            f"save_hyperplane_index supports at most 63 bits (got {bits}): "
            "bucket_id is conv(bucket, 2, 10) cast to long"
        )
    bucketed = hyperplane_bucket_multi(df, vec_col, bits, dim, n_tables)
    # one table reads the hashed corpus once: nothing to hold
    with held(*([bucketed] if n_tables > 1 else [])):
        for t in range(n_tables):
            one = bucketed.select(
                id_col,
                vec_col,
                F.col(f"bucket_{t}").alias("bucket"),
                F.conv(f"bucket_{t}", 2, 10).cast("long").alias("bucket_id"),
            )
            write_parquet(one, f"{path}/table_{t}", partition_by=["bucket_id"])


def load_hyperplane_index(spark, path: str, n_tables: int = 1) -> list[DataFrame]:
    """Load a ``save_hyperplane_index`` output as one (id, vec, bucket,
    bucket_id) DataFrame per table. No hashing happens — each plan is a
    pure parquet scan."""
    return [spark.read.parquet(f"{path}/table_{t}") for t in range(n_tables)]


def ann_query_index(
    queries: DataFrame,
    tables: list[DataFrame],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = ANN_BITS,
    dim: int = 64,
) -> DataFrame:
    """Query a loaded LSH index: only the query batch is hashed, once per
    table (tiny, map-side, broadcast); the corpus side reads each table's
    precomputed ``bucket`` column, never shuffles and prunes to the
    probed bucket partitions. Emits (query_id, cand_id, cos_sim >=
    threshold) for same-bucket candidates, self-matches excluded. One
    table emits each pair once; with several, the per-table candidates
    union + DISTINCT to dedup pairs found in more than one table."""
    if not tables:
        raise ValueError("tables must be a non-empty list of loaded LSH tables")
    pairs = reduce(
        DataFrame.unionByName,
        [
            _probe_pairs(
                hyperplane_bucket(queries, vec_col, bits, dim, table=t),
                "bucket",
                index,
                threshold,
                id_col,
                vec_col,
            )
            for t, index in enumerate(tables)
        ],
    )
    return pairs.distinct() if len(tables) > 1 else pairs


def save_ivf_index(
    assigned: DataFrame, centroids: DataFrame, path: str
) -> None:
    """Persist a fitted IVF index (``ivf_index`` output): the tiny
    centroid table plus cluster assignments partitioned by ``cluster``
    for probe-time partition pruning. Fit once, serve every query batch —
    the KMeans job never re-runs on load (plan-asserted in tests)."""
    from ..sources.writers import write_parquet

    write_parquet(centroids.coalesce(1), f"{path}/centroids")
    write_parquet(assigned, f"{path}/assigned", partition_by=["cluster"])


def load_ivf_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """Load a ``save_ivf_index`` output as ``(assigned, centroids)``,
    directly consumable by ``ivf_topk``. Pure parquet scans — no KMeans."""
    assigned = spark.read.parquet(f"{path}/assigned")
    centroids = spark.read.parquet(f"{path}/centroids")
    return assigned, centroids


def embedding_near_dup(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int | None = DEFAULT_MAX_ROWS,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold — the O(n²) crossJoin verify
    baseline. Guarded: refuses inputs over ``max_rows`` rows, because
    nothing about a crossJoin survives a large corpus; the scale path
    for near-dup pairs is ``ann_bucketed`` (bucket equi-join) and for
    top-k ``ivf_topk``. Pass ``max_rows=None`` to force the quadratic
    plan on a larger input."""
    require_small(df, max_rows, "embedding_near_dup", "ann_bucketed")
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cosine("va", "vb"), 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def quantize_embeddings(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 scalar quantization: (id, scale, qvec) with
    ``qvec[i] = floor(x[i] * 127 / max|x| + 0.5)`` in [-127, 127] and
    ``scale = max|x| / 127`` (dequantize: ``qvec[i] * scale``).

    4x (fp32) / 8x (fp64) smaller vectors — the storage/shuffle format a
    100 TB embedding corpus actually ships — computed entirely map-side
    in codegen'd array expressions (no shuffle, no Python). Rounding is
    written as ``floor(x + 0.5)`` explicitly so any engine reproduces the
    codes bit-for-bit (engine ``round()`` half-cases differ); zero
    vectors get scale 0 and all-zero codes.
    """
    absmax = F.array_max(
        F.transform(vec_col, lambda x: F.abs(x.cast("double")))
    )
    q = F.when(absmax == 0.0, F.transform(vec_col, lambda x: F.lit(0))).otherwise(
        F.transform(
            vec_col,
            lambda x: F.floor(x.cast("double") * F.lit(127.0) / absmax + F.lit(0.5))
            .cast("int"),
        )
    )
    return emb.select(
        F.col(id_col),
        (absmax / F.lit(127.0)).alias("scale"),
        q.alias("qvec"),
    )


def dequantize_embeddings(
    quantized: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, embedding array<double>): inverse of ``quantize_embeddings``
    up to quantization error <= scale/2 per component."""
    return quantized.select(
        F.col(id_col),
        F.transform("qvec", lambda v: v.cast("double") * F.col("scale")).alias(
            "embedding"
        ),
    )

def _incremental_plan(
    new_batch: DataFrame,
    tables: list[DataFrame],
    threshold: float,
    id_col: str,
    vec_col: str,
    bits: int,
    dim: int,
) -> tuple[DataFrame, DataFrame]:
    """The lazy plan of ``ann_incremental_pairs``: (the hashed batch,
    the distinct candidate pairs over it). Read the pairs' plan inside
    ``held(hashed)`` to see it as ``ann_incremental_pairs`` runs it."""
    if not tables:
        raise ValueError("tables must be a non-empty list of loaded LSH tables")
    hashed = hyperplane_bucket_multi(
        new_batch, vec_col, bits, dim, n_tables=len(tables)
    )
    pairs = []
    for t, index in enumerate(tables):
        bucket_col = f"bucket_{t}"
        cross = _probe_pairs(
            hashed, bucket_col, index, threshold, id_col, vec_col, ("id_a", "id_b")
        )
        in_batch = _self_pairs(hashed, bucket_col, threshold, id_col, vec_col)
        pairs += [cross, in_batch]
    return hashed, reduce(DataFrame.unionByName, pairs).distinct()


def ann_incremental_pairs(
    new_batch: DataFrame,
    tables: list[DataFrame],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = ANN_BITS,
    dim: int = 64,
) -> DataFrame:
    """Append-batch EMBEDDING dedup: near-dup pairs of new vectors vs a
    PERSISTED LSH index (``save_hyperplane_index`` output loaded by
    ``load_hyperplane_index``), plus pairs within the new batch — never
    corpus × corpus, and the corpus is never re-hashed (its side of
    every join is a pure parquet scan of the precomputed ``bucket``
    column).

    The embedding twin of ``dedup.minhash_incremental_pairs`` (the
    daily-ingest shape): a 100 TB corpus hashes once at index-build
    time; each day's batch is hashed once per table (tiny, map-side,
    broadcast), probes each table's same-bucket partitions, and adds
    its own in-batch candidates. Work scales with the batch, not the
    corpus.

    Emits (id_a=new id, id_b=corpus id) for cross pairs — a re-ingested
    id present in both sides never pairs with itself — and
    (id_a < id_b, both new) for in-batch pairs; union + DISTINCT dedups
    candidates found by several tables. Exact cosine verifies every
    candidate, so precision is exact; recall follows the multi-table
    dial (geometric in ``len(tables)``).

    The batch is hashed ONCE for all tables (``hyperplane_bucket_multi``)
    and held — it feeds len(tables) cross joins plus the in-batch
    self-joins; without the barrier each join re-runs the hash pass.
    ``checkpoint_and_release`` frees it before return.
    """
    hashed, pairs = _incremental_plan(
        new_batch, tables, threshold, id_col, vec_col, bits, dim
    )
    return checkpoint_and_release(pairs, hashed)


def truncation_recall(
    emb: DataFrame,
    dims: tuple[int, ...] = (4, 8, 16),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int | None = 5000,
) -> DataFrame:
    """Matryoshka-style truncation evaluation: for each prefix
    dimensionality d, what fraction of vectors keep their FULL-dim
    exact top-1 neighbor when cosine runs on only the first d
    components? The go/no-go measurement before storing truncated
    embeddings (MRL-trained models hold recall at small d; ordinary
    embeddings collapse — this quantifies which you have).

    One guarded pairwise scoring (the q43/q44 exact-baseline class —
    ``require_small``; at corpus scale run this on a sampled probe
    set), with ALL dims' cosines computed per pair map-side (struct
    explode — one crossJoin, not |dims|+1), one (query, dim) rank
    window, then a self-join of truncated top-1s against the full-dim
    top-1. Output: (dim, n_queries, n_matched, recall) — recall is a
    small-int division, raw-double portable."""
    require_small(
        emb,
        max_rows,
        "truncation_recall",
        "evaluate on a hash-sampled probe subset at corpus scale",
    )

    full_d = len(emb.select(vec_col).first()[0])
    all_dims = sorted(set(list(dims) + [full_d]))
    e = emb.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    q = e.select(F.col(id_col).alias("query_id"), F.col("v").alias("qv"))
    c = e.select(F.col(id_col).alias("cand_id"), F.col("v").alias("cv"))
    per_dim = F.array(
        *[
            F.struct(
                F.lit(d).alias("dim"),
                F.round(
                    cosine(F.slice("qv", 1, d), F.slice("cv", 1, d)), 6
                ).alias("cos"),
            )
            for d in all_dims
        ]
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", F.explode(per_dim).alias("t"))
        .select("query_id", "cand_id", "t.dim", "t.cos")
    )
    w = Window.partitionBy("query_id", "dim").orderBy(
        F.col("cos").desc(), F.col("cand_id").asc()
    )
    top1 = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("query_id", "dim", "cand_id")
    )
    full_top = top1.filter(F.col("dim") == full_d).select(
        "query_id", F.col("cand_id").alias("full_cand")
    )
    return (
        top1.join(F.broadcast(full_top), "query_id")
        .groupBy("dim")
        .agg(
            F.count("*").alias("n_queries"),
            F.sum(
                F.when(F.col("cand_id") == F.col("full_cand"), 1).otherwise(0)
            ).alias("n_matched"),
        )
        .select(
            "dim",
            "n_queries",
            "n_matched",
            (
                F.col("n_matched").cast("double") / F.col("n_queries")
            ).alias("recall"),
        )
        .orderBy("dim")
    )


def int8_quantize_stats(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector int8 (0..255 affine) quantization accounting — the
    serving-infra question before shipping an embedding index at 1/4
    the bytes: scale/zero-point per vector plus the reconstruction
    error actually incurred.

    q_i = floor((x_i − min)/scale + 0.5) (explicit floor(+0.5), never
    round(): HALF_UP vs banker's differs across engines), dequant
    x̂_i = min + q_i·scale, and MAE = mean |x − x̂|. Constant vectors
    (scale 0) quantize losslessly to zero error. Map-only HOF
    arithmetic — every step is IEEE-identical cross-engine; per-element
    error terms round at 9dp before the fold (the q43 convention),
    outputs at 6dp.

    Output: (id, scale, zero_point, mae)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    mn, mx = F.array_min(v), F.array_max(v)
    scale = (mx - mn) / F.lit(255.0)
    deq_err = F.transform(
        v,
        lambda x: F.round(
            F.abs(
                x
                - (
                    mn
                    + F.floor((x - mn) / scale + F.lit(0.5)) * scale
                )
            ),
            9,
        ),
    )
    d = F.size(v)
    mae = F.when(scale == 0, F.lit(0.0)).otherwise(
        F.aggregate(deq_err, F.lit(0.0), lambda a, x: a + x) / d
    )
    return emb.select(
        F.col(id_col),
        F.round(scale, 9).alias("scale"),
        F.round(mn, 6).alias("zero_point"),
        F.round(mae, 9).alias("mae"),
    )


def pack_sign_bits(vec_col) -> tuple:
    """Sign-bit packing for binary embeddings: 64 dims → two BIGINTs of
    32 bits each (never bit 63 — engines disagree on signed shift
    overflow). Returns (lo, hi) Columns; bit j of lo = dim j+1 > 0."""
    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    pow2 = F.array(*[F.lit(1 << j).cast("long") for j in range(32)])

    def half(start: int) -> F.Column:
        return F.aggregate(
            F.zip_with(
                F.slice(v, start + 1, 32),
                pow2,
                lambda x, p: F.when(
                    x.cast("double") > 0, p
                ).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        )

    return half(0), half(32)


def hamming_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    shortlist: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage binary retrieval — the classic memory/accuracy trade
    at serving scale: stage 1 shortlists by HAMMING distance on
    sign-bit-packed embeddings (16 bytes/vector instead of 256; XOR +
    bit_count, pure integer), stage 2 reranks the shortlist by exact
    cosine. 64-dim contract (the fixture dim); wider vectors pack more
    longs behind the same API.

    Scale shape: queries broadcast against the packed corpus (the q43
    discipline — the corpus never shuffles), ONE per-query window ranks
    hamming (integer, deterministic ties by id), cosine runs only on
    queries × shortlist. Output: (query_id, cand_id, hamming, cos_sim
    6dp, rank 1..k by cosine desc)."""
    if k <= 0 or shortlist < k:
        raise ValueError("need shortlist >= k > 0")
    qlo, qhi = pack_sign_bits(vec_col)
    clo, chi = pack_sign_bits(vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        qlo.alias("_qlo"),
        qhi.alias("_qhi"),
    )
    c = corpus.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("_cv"),
        clo.alias("_clo"),
        chi.alias("_chi"),
    )
    ham = (
        F.bit_count(F.col("_qlo").bitwiseXOR(F.col("_clo")))
        + F.bit_count(F.col("_qhi").bitwiseXOR(F.col("_chi")))
    ).cast("int")
    cand = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("cand_id"))
        .withColumn("hamming", ham)
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("cand_id").asc()
    )
    short = cand.withColumn("_hrank", F.row_number().over(w1)).filter(
        F.col("_hrank") <= shortlist
    )
    qv = F.transform(F.col("_qv"), lambda x: x.cast("double"))
    cv = F.transform(F.col("_cv"), lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(qv, cv, lambda a, b: a * b),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    norm = lambda col: F.sqrt(
        F.aggregate(
            F.transform(col, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    scored = short.withColumn(
        "cos_sim", F.round(dot / (norm(qv) * norm(cv)), 6)
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "hamming", "cos_sim", "rank")
    )


def pq_train(
    corpus: DataFrame,
    m: int = 4,
    k: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    fit_sample_fraction: float | None = 0.05,
    min_fit_rows: int = 10_000,
) -> list:
    """PRODUCT-QUANTIZATION codebooks (Jégou, Douze & Schmid 2011 — the
    memory side of ANN serving next to ``ivf_index``'s routing side and
    the int8 scalar quantizer: split each d-dim vector into ``m``
    subvectors and learn an independent ``k``-centroid codebook per
    subspace; a vector then stores as m small codes — d·4 bytes →
    m bytes at k ≤ 256 — while distances reconstruct per-subspace,
    which is how billion-vector indexes fit in RAM).

    Returns a driver-side list of m (k × d/m) codebooks — metadata
    (m·k·d/m floats). Each subspace fit is a spark.ml KMeans on the
    SAME bounded deterministic sample (the ivf_index fit discipline:
    multi-pass fits scale with the sample, never the corpus;
    min_fit_rows keeps tiny-SF fits exact)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim = len(corpus.select(vec_col).first()[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    fit_input = corpus.select(F.col(vec_col).cast("array<double>").alias("_v"))
    if fit_sample_fraction is not None:
        if not 0.0 < fit_sample_fraction <= 1.0:
            raise ValueError("fit_sample_fraction must be in (0, 1]")
        frac = fit_sample_fraction
        n = corpus.count()
        if n * frac < min_fit_rows:
            frac = min(1.0, min_fit_rows / max(n, 1))
        if frac < 1.0:
            fit_input = fit_input.sample(fraction=frac, seed=seed)
    books = []
    with held(fit_input):
        for j in range(m):
            feat = fit_input.select(
                array_to_vector(
                    F.slice(F.col("_v"), j * sub + 1, sub)
                ).alias("_features")
            )
            model = KMeans(
                k=k, seed=seed + j, featuresCol="_features",
                predictionCol="_c",
            ).fit(feat)
            books.append([[float(x) for x in c] for c in model.clusterCenters()])
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors against :func:`pq_train` codebooks:
    (id, code, recon_err) where ``code`` is the dash-joined nearest-
    centroid index per subspace (a scalar string — the SURVEY §5.3
    contract; parse with split('-')) and ``recon_err`` the squared
    reconstruction error. Vectorized numpy argmin inside Arrow-batched
    mapInPandas — the codebooks ship in the closure (m·k·d/m floats),
    the pass is map-only and shuffle-free; ties take the smallest
    centroid index (numpy argmin), deterministic given codebooks."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    sub = books[0].shape[1]
    m = len(books)

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("code", T.StringType()),
            T.StructField("recon_err", T.DoubleType()),
        ]
    )

    def do(batches):
        for pdf in batches:
            vecs = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            codes = np.empty((len(vecs), m), dtype=np.int64)
            err = np.zeros(len(vecs))
            for j, book in enumerate(books):
                sv = vecs[:, j * sub : (j + 1) * sub]
                # (n, k) squared distances via the expansion trick
                d2 = (
                    (sv * sv).sum(axis=1, keepdims=True)
                    - 2.0 * sv @ book.T
                    + (book * book).sum(axis=1)
                )
                codes[:, j] = d2.argmin(axis=1)
                err += ((sv - book[codes[:, j]]) ** 2).sum(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].astype("int64"),
                    "code": ["-".join(str(c) for c in row) for row in codes],
                    "recon_err": err,
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(do, schema)


def pq_adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ASYMMETRIC DISTANCE COMPUTATION top-k over PQ codes (Jégou,
    Douze & Schmid 2011 §IV): per query, precompute the m × kc lookup
    table of squared distances from each query subvector to each
    codebook centroid; a candidate's approximate distance is then the
    SUM of m table entries addressed by its code — the corpus side
    never touches float vectors, which is the whole point of PQ
    serving (codes are m bytes; the float corpus stays on disk).

    Scale shape: queries are the bounded probe set (the q43 contract —
    the LUTs, n_queries · m · kc doubles, ship in the closure like the
    IVF/hyperplane constants); the codes table streams through ONE
    map-only Arrow pass emitting (query_id, cand_id, adc_dist), and
    per-query top-k is the standard window. No join touches the float
    corpus. Ties break on cand_id ascending; distances 6dp-rounded.

    Contract (ADVICE r11): ``id_col``/``vec_col`` name the QUERY-side
    columns only; ``codes`` must be a :func:`pq_encode` output with the
    fixed ``(vec_id, code)`` schema — checked eagerly here so a
    renamed codes table fails with a clear message instead of an
    AnalysisException deep in the Arrow pass.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    missing = {"vec_id", "code"} - set(codes.columns)
    if missing:
        raise ValueError(
            f"codes must be a pq_encode output with columns (vec_id, code); "
            f"missing {sorted(missing)} — rename before calling"
        )
    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    sub = books[0].shape[1]
    m = len(books)
    q_rows = queries.select(id_col, vec_col).collect()  # bounded probe set
    luts = []
    for r in q_rows:
        qv = np.asarray(r[vec_col], dtype=np.float64)
        lut = np.stack(
            [
                ((books[j] - qv[j * sub : (j + 1) * sub]) ** 2).sum(axis=1)
                for j in range(m)
            ]
        )  # (m, kc)
        luts.append((int(r[id_col]), lut))

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("cand_id", T.LongType()),
            T.StructField("adc_dist", T.DoubleType()),
        ]
    )

    def do(batches):
        for pdf in batches:
            if not len(pdf):  # an empty Arrow batch would expand to (0, 0)
                continue
            cand = pdf["vec_id"].astype("int64").to_numpy()
            code_mat = (
                pdf["code"].str.split("-", expand=True).to_numpy(dtype=np.int64)
            )  # (n, m)
            for qid, lut in luts:
                dist = np.zeros(len(cand))
                for j in range(m):
                    dist += lut[j][code_mat[:, j]]
                keep = cand != qid
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "cand_id": cand[keep],
                        "adc_dist": np.round(dist[keep], 6),
                    }
                )

    scored = codes.select("vec_id", "code").mapInPandas(do, schema)
    return per_group_topk(
        scored,
        partition_by=["query_id"],
        order_by=[F.col("adc_dist").asc(), F.col("cand_id").asc()],
        k=k,
        rank_col="rank",
    )


def pq_recall_at_k(
    queries: DataFrame,
    corpus: DataFrame,
    codebooks: list,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: DataFrame | None = None,
) -> DataFrame:
    """RECALL@k of PQ-ADC retrieval against exact same-metric (squared
    L2) top-k — the eval that closes the PQ loop the way q362's RBO
    closed int8's: how much of the true neighborhood does the
    m-byte-per-vector index actually return? Output per query:
    (query_id, n_hit, recall) with recall = |exact∩adc| / k.

    Both arms share the bounded-probe contract: the exact arm is the
    cosine_topk plan shape (broadcast queries × one corpus scan, the
    documented BNLJ exception) on l2_sq; the ADC arm is
    :func:`pq_adc_topk` (map-only over codes). The comparison is one
    (query, cand) equi-join + one count agg per query. Pass ``codes``
    to reuse a persisted :func:`pq_encode` table; otherwise codes are
    derived here."""
    from ..functions.vectors import l2_sq

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv"))
    exact_scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(l2_sq("qv", "cv"), 6).alias("l2"),
        )
    )
    exact = per_group_topk(
        exact_scored,
        partition_by=["query_id"],
        order_by=[F.col("l2").asc(), F.col("cand_id").asc()],
        k=k,
        rank_col="rank",
    ).select("query_id", "cand_id")
    if codes is None:
        codes = pq_encode(corpus, codebooks, id_col=id_col, vec_col=vec_col)
    adc = pq_adc_topk(
        queries, codes, codebooks, k=k, id_col=id_col, vec_col=vec_col
    ).select("query_id", "cand_id")
    hits = exact.join(adc, ["query_id", "cand_id"]).groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_hit")
    )
    # the query list comes from `queries`, NOT from `exact` — reusing
    # the exact frame here would splice its broadcast crossJoin subtree
    # into the plan a second time
    return (
        q.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            F.round(F.coalesce("n_hit", F.lit(0)) / F.lit(float(k)), 6).alias(
                "recall"
            ),
        )
    )


def hard_negatives(
    emb: DataFrame,
    sim_lo: float,
    sim_hi: float,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = ANN_BITS,
    dim: int = 64,
) -> DataFrame:
    """HARD-NEGATIVE MINING for contrastive/retrieval training
    (the in-batch-negatives upgrade every dual-encoder recipe uses —
    e.g. DPR, Karpukhin et al. 2020: negatives that are SIMILAR but not
    duplicates teach the boundary; random negatives are too easy,
    near-dups are false negatives): per anchor, the top-k most similar
    same-bucket neighbors whose cosine lies in [sim_lo, sim_hi) — above
    the band is a duplicate (exclude), below is an easy negative
    (uninteresting).

    Scale shape: candidates come from the hyperplane-LSH bucket
    equi-join (never all-pairs — the q127 index contract; recall is the
    LSH trade, measured by q357-style audits); the ranking window runs
    per ANCHOR over its bucket-bounded candidate set. One bucket
    exchange + one anchor-keyed window, no collect.

    Output: (anchor_id, neg_id, cos_sim 6dp, rank 1..k), hardest
    (highest-cosine) first, ties broken by neg_id ASC.
    """
    if not (sim_lo < sim_hi):
        raise ValueError("need sim_lo < sim_hi")
    if k < 1:
        raise ValueError("k must be >= 1")

    pairs = ann_bucketed(
        emb, threshold=sim_lo, id_col=id_col, vec_col=vec_col, bits=bits, dim=dim
    ).filter(F.col("cos_sim") < sim_hi)
    sym = pairs.select(
        F.col("id_a").alias("anchor_id"),
        F.col("id_b").alias("neg_id"),
        "cos_sim",
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("anchor_id"),
            F.col("id_a").alias("neg_id"),
            "cos_sim",
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos_sim").desc(), F.col("neg_id").asc()
    )
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "anchor_id",
            "neg_id",
            "cos_sim",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def jl_sign_matrix(
    spark,
    in_dim: int,
    out_dim: int,
    salt: str = "jl",
) -> DataFrame:
    """The deterministic ±1 projection matrix for :func:`jl_project`,
    derived IN-ENGINE from the portable md5 rule (sign(i,j) = +1 iff
    u32_md5(\"i,j\", salt) is even) — a (in_dim × out_dim) frame, always
    metadata-sized, broadcastable, and digit-replayable by any SQL
    engine (no driver-side RNG, no shipped matrix artifact)."""
    from ..functions.portable_hash import u32_md5

    d = spark.range(in_dim).select(F.col("id").alias("dim"))
    k = spark.range(out_dim).select(F.col("id").alias("out"))
    key = F.concat(
        F.col("dim").cast("string"), F.lit(","), F.col("out").cast("string")
    )
    return d.crossJoin(k).select(
        "dim",
        "out",
        F.when(u32_md5(key, salt) % 2 == 0, F.lit(1.0))
        .otherwise(F.lit(-1.0))
        .alias("sign"),
    )


def jl_project(
    emb: DataFrame,
    out_dim: int,
    salt: str = "jl",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection with a DETERMINISTIC
    ±1/√k matrix (Achlioptas 2003, "Database-friendly random
    projections": Rademacher signs satisfy the JL lemma like Gaussians
    do) — the dimensionality-reduction step before shipping an
    embedding index at k/d of the bytes when the model was NOT
    Matryoshka-trained (q274 measures that case; JL is what you do
    when prefix truncation collapses).

    y_j = (1/√k)·Σ_i sign(i,j)·x_i. Signs come from the engine-wide
    portable hash (``jl_sign_matrix``), so the same vector projects to
    the same output on every engine, run, and partitioning — and the
    oracle replays the matrix digit-for-digit.

    Plan: posexplode the vector (d rows per vector, map-side) →
    ONE broadcast equi-join on the dim key against the (d × k) sign
    frame → one (id, out) decimal-summed aggregate → dim-sorted
    reassembly. Work is d·k rows per vector of narrow integers/doubles
    — embarrassingly parallel, no corpus-wide anything; at 100 TB the
    sign frame is still < 1 MB.

    Exactness: sign·x is a NEGATION (exact); terms ride
    DECIMAL(38,12); the final /√k is one literal IEEE division — both
    engines produce bit-identical projected vectors.

    Output: (id, projected array<double> of length out_dim).
    """
    if out_dim < 1:
        raise ValueError("out_dim must be >= 1")
    spark = emb.sparkSession
    in_dim = len(emb.select(vec_col).first()[0])
    if out_dim > in_dim:
        raise ValueError("out_dim must be <= input dimensionality")
    signs = jl_sign_matrix(spark, in_dim, out_dim, salt)
    inv = 1.0 / float(out_dim) ** 0.5
    exploded = emb.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("dim", "x"),
    )
    summed = (
        exploded.join(F.broadcast(signs), "dim")
        .groupBy("_id", "out")
        .agg(
            (
                F.sum(
                    (F.col("sign") * F.col("x")).cast("decimal(38,12)")
                ).cast("double")
                * F.lit(inv)
            ).alias("y")
        )
    )
    return (
        summed.groupBy("_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("out"), F.col("y")))
            ).alias("_pairs")
        )
        .select(
            F.col("_id").alias(id_col),
            F.transform(F.col("_pairs"), lambda s: s["y"]).alias(
                "projected"
            ),
        )
    )


def projection_recall(
    emb: DataFrame,
    projected: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    proj_col: str = "projected",
    max_rows: int | None = 5000,
) -> DataFrame:
    """Top-1 neighbor recall of a projected space against the full-dim
    exact answer — the go/no-go eval for ANY re-embedding (JL, PCA,
    learned distillation), same harness contract as
    ``truncation_recall`` (q274): one ``require_small``-guarded exact
    pairwise scoring — at corpus scale run it on a hash-sampled probe
    subset — one (query, space) rank window, a broadcast self-join of
    the two top-1s. Also reports the mean |cosine distortion| over
    scored pairs (the quantity the JL lemma actually bounds).

    Output: one row — (n_queries, n_matched, recall,
    mean_cos_distortion 6dp).
    """
    require_small(
        emb,
        max_rows,
        "projection_recall",
        "evaluate on a hash-sampled probe subset at corpus scale",
    )
    both = emb.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("fv"),
    ).join(
        projected.select(
            F.col(id_col).alias("_id"), F.col(proj_col).alias("pv")
        ),
        "_id",
    )
    q = both.select(
        F.col("_id").alias("query_id"),
        F.col("fv").alias("qf"),
        F.col("pv").alias("qp"),
    )
    c = both.select(
        F.col("_id").alias("cand_id"),
        F.col("fv").alias("cf"),
        F.col("pv").alias("cp"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(cosine("qf", "cf"), 6).alias("cos_full"),
            F.round(cosine("qp", "cp"), 6).alias("cos_proj"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cos_full").desc(), F.col("cand_id").asc()
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("cos_proj").desc(), F.col("cand_id").asc()
    )
    tops = scored.select(
        "query_id",
        "cand_id",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wp).alias("rp"),
    )
    full_top = tops.filter(F.col("rf") == 1).select(
        "query_id", F.col("cand_id").alias("full_cand")
    )
    proj_top = tops.filter(F.col("rp") == 1).select(
        "query_id", F.col("cand_id").alias("proj_cand")
    )
    matched = full_top.join(proj_top, "query_id").agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum(
            F.when(F.col("full_cand") == F.col("proj_cand"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_matched"),
    )
    distortion = scored.agg(
        F.round(
            F.sum(
                F.round(F.abs(F.col("cos_full") - F.col("cos_proj")), 9).cast(
                    "decimal(38,12)"
                )
            ).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_cos_distortion")
    )
    return matched.crossJoin(F.broadcast(distortion)).select(
        "n_queries",
        "n_matched",
        (F.col("n_matched").cast("double") / F.col("n_queries")).alias(
            "recall"
        ),
        "mean_cos_distortion",
    )
