"""Dataset splitting / sampling / packing for training pipelines.

All deterministic: splits and samples key off md5 of a stable id — the
same row lands in the same split on every run, on any engine, at any
parallelism (randomSplit/sample are seed+partitioning dependent and
reshuffle rows between splits when the input partitioning changes; that
silently leaks val into train across pipeline versions).

Packing assigns documents to fixed token-budget batches with a window
cumulative sum — the deterministic, shuffle-once version of greedy
sequence packing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.portable_hash import md5_rank, salted, u32_md5
from ..functions.text import _hash24_u01, token_hash24
from ..operators.iterate import held, iterate_fixed

SPLIT_BUCKETS = 10_000


def _hash_bucket(id_col: Column, salt: str) -> Column:
    """md5-derived bucket in [0, SPLIT_BUCKETS): first 6 hex digits mod N
    (portable — any engine reproduces the assignment).

    ``salt`` is REQUIRED and must differ per purpose: sampling and
    splitting off the same unsalted hash are fully correlated (e.g. every
    row kept by a 50% sample would land in an 80% train split), which
    silently destroys stratification when the two compose."""
    return token_hash24(salted(id_col, salt)) % SPLIT_BUCKETS


def split_assign(
    df: DataFrame,
    id_col: str,
    fractions: dict[str, float],
) -> DataFrame:
    """Append a ``split`` column ('train'/'val'/...) by hash bucket.

    Fractions must sum to 1. Contiguous bucket ranges per split; a row's
    split depends only on its id — stable under reruns, repartitioning,
    and incremental appends (new rows never move old rows between splits).
    """
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1, got {total}")
    bucket = _hash_bucket(F.col(id_col), "split")
    expr = None
    lo = 0
    for name, frac in fractions.items():
        hi = lo + int(round(frac * SPLIT_BUCKETS))
        cond = (bucket >= lo) & (bucket < hi)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo = hi
    # rounding remainder (at most a few buckets) goes to the last split
    last = list(fractions)[-1]
    return df.withColumn("split", expr.otherwise(last))


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fraction_by_stratum: dict[str, float],
) -> DataFrame:
    """Deterministic per-stratum subsample: keep a row iff its hash bucket
    falls under the stratum's fraction. Unlisted strata are dropped
    (explicit is safer than a silent 100% default at 100 TB). Uses a
    'sample'-salted bucket, independent of split_assign's 'split' bucket,
    so sample-then-split composes without correlation."""
    if not fraction_by_stratum:
        raise ValueError("fraction_by_stratum must name at least one stratum")
    thresholds = {
        s: int(round(frac * SPLIT_BUCKETS))
        for s, frac in fraction_by_stratum.items()
    }
    return _keep_under(
        df, strata_col, thresholds, _hash_bucket(F.col(id_col), "sample")
    )


def _keep_under(
    df: DataFrame, strata_col: str, thresholds: dict[str, int], bucket: Column
) -> DataFrame:
    """Keep a row iff its stratum is listed and ``bucket`` falls under
    that stratum's threshold: the OR of ``stratum = s AND bucket < t``.
    Unlisted strata (NULL included) are dropped. Map-only."""
    keep = None
    for stratum, th in thresholds.items():
        cond = (F.col(strata_col) == stratum) & (bucket < th)
        keep = cond if keep is None else keep | cond
    return df.filter(keep)


def weighted_domain_mix(
    df: DataFrame,
    id_col: str,
    domain_col: str,
    weights: dict[str, int],
    salt: str = "mix",
) -> DataFrame:
    """Deterministic down-sampling to a target domain mix.

    ``weights`` are integer target proportions (e.g. ``{"en": 2, "de": 1}``
    = 2:1). The operator keeps the maximum possible data subject to the
    mix: the scarcest domain relative to its weight is kept at 100% and
    every other domain is hash-down-sampled to match. Unlisted domains are
    dropped (explicit, like ``stratified_sample``).

    Keep-thresholds use exact integer arithmetic —
    ``min_e (B * w_d * n_e) // (w_e * n_d)`` buckets for domain d (B =
    SPLIT_BUCKETS) — so any engine reproduces the row set bit-for-bit
    (a float fraction could round a bucket boundary differently).

    Scale shape: one count aggregation PRE-FILTERED to the weighted
    domains (the collected map is bounded by ``len(weights)``, never by
    the column's cardinality — a caller pointing this at a
    high-cardinality column collects len(weights) rows, not the whole
    domain spectrum; VERDICT r10), then a map-only salted-bucket filter
    — rows never shuffle. Deterministic
    under reruns, repartitioning, and appends within a fixed count
    snapshot; at 100 TB, pin the count snapshot per ingest version so
    appends don't move thresholds mid-pipeline.
    """
    if not weights:
        raise ValueError("weights must name at least one domain")
    for d, w in weights.items():
        if not isinstance(w, int) or w <= 0:
            raise ValueError(f"weight for {d!r} must be a positive int, got {w!r}")
    counts = {
        r[0]: r[1]
        for r in df.filter(F.col(domain_col).isin(list(weights)))
        .groupBy(domain_col)
        .count()
        .collect()
    }
    present = [d for d in weights if counts.get(d)]
    if not present:
        return df.filter(F.lit(False))
    thresholds = {
        d: min(
            (SPLIT_BUCKETS * weights[d] * counts[e]) // (weights[e] * counts[d])
            for e in present
        )
        for d in present
    }
    return _keep_under(
        df, domain_col, thresholds, _hash_bucket(F.col(id_col), salt)
    )


def pack_by_token_budget(
    df: DataFrame,
    id_col: str,
    token_col: str,
    budget: int,
    shard_by: str | list[str] | None = "auto",
    n_shards: int = 64,
) -> DataFrame:
    """Assign docs to chunk-offset batches: running token total in id
    order; batch_id = how many full budgets precede this doc's start offset.

    ``shard_by`` (column name(s)) packs independently *within each shard* —
    the window partitions on the shard key, so the cumsum distributes
    across reducers instead of collapsing to one. This is the 100 TB path:
    shard by split/date/source exactly as real pipelines do, and batch
    ids are (shard, batch_id) pairs.

    The DEFAULT is ``shard_by="auto"``: a deterministic hash shard
    (md5 rule, portable — ``conv(substr(md5(id || ':pack'), 1, 6), 16,
    10) % n_shards``, emitted as a ``shard`` output column, reproducible
    digit-for-digit by any SQL engine like every other hash
    construction here) so the scalable plan is what users get by
    accident — the
    accidental form of this operator used to be a corpus-wide
    single-reducer cumsum, the classic 100 TB scale-killer. Packing
    quality is unaffected: batches only ever group docs within one
    budget window, and which window a doc shares is already arbitrary
    (id-order is not semantic adjacency). Pass ``shard_by=None``
    EXPLICITLY for the single-total-order exactness baseline — correct,
    deterministic, but single-reducer; only for small/medium inputs
    (q77's oracle form).

    Concat-then-chunk semantics: a doc belongs to the batch where its
    stream offset starts, so an oversized doc shares its batch with the
    docs before it in the same chunk window and spills past the boundary
    (it is never dropped); callers that must isolate or reject oversized
    docs should filter on ``token_col > budget`` first.
    """
    if shard_by == "auto":
        df = df.withColumn(
            "shard", token_hash24(salted(F.col(id_col), "pack")) % n_shards
        )
        shard_by = "shard"
    if shard_by is None:
        w = Window.orderBy(F.col(id_col))
        extra: list[str] = []
    else:
        shards = [shard_by] if isinstance(shard_by, str) else list(shard_by)
        w = Window.partitionBy(*shards).orderBy(F.col(id_col))
        extra = shards
    cum = F.sum(F.col(token_col)).over(w)
    return df.select(
        *extra,
        id_col,
        token_col,
        ((cum - F.col(token_col)) / F.lit(budget)).cast("long").alias("batch_id"),
    )


def weighted_sample_topk(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weighted sample without replacement (Efraimidis–
    Spirakis A-ES, exponential-key form): each row draws
    ``wkey = −ln(u)/w`` with a hash-derived uniform u, and the k SMALLEST
    keys win — inclusion probability proportional to weight, one
    TakeOrderedAndProject pass, no sequential reservoir.

    Deterministic under reruns, repartitioning, and appends (a new row
    can displace old ones only by its own key, never perturb theirs) —
    the same property split_assign has, which seeded sample() lacks.

    ``wkey`` is rounded to 9dp (ln differs in the last bit across
    libm implementations — q27 rule) and ties break on row id, so the
    selected SET is engine-exact, not just statistically equal.

    Non-positive weights are excluded (they have zero inclusion mass;
    −ln(u)/w would flip sign and always win).
    """
    if k <= 0:
        raise ValueError("k must be positive")
    w = F.col(weight_col).cast("double")
    u = _hash24_u01(salted(F.col(id_col), salt))
    wkey = F.round(-F.log(u) / w, 9)
    return (
        df.filter(w > 0)
        .withColumn("wkey", wkey)
        .orderBy(F.col("wkey").asc(), F.col(id_col).asc())
        .limit(k)
    )


def quota_sample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    quota: int,
    salt: str = "quota",
) -> DataFrame:
    """Deterministic per-group quota cap: keep at most ``quota`` rows per
    group, chosen by hash rank (md5 of the row id) with id tiebreak.

    The domain-cap step of corpus curation (e.g. "at most N documents
    per source/domain so no crawl host dominates the training mix").
    Hash ranking makes the selection a uniform random sample per group
    that is reproducible across engines, reruns, and repartitioning —
    unlike ``sample()`` whose selection depends on partition layout.

    One window shuffle on ``group_col``; groups under quota pass through
    intact. At 100 TB the shuffle carries only (group, rank-key) order
    state per partition — no global sort, no collect.
    """
    if quota <= 0:
        raise ValueError("quota must be positive")
    return (
        df.withColumn("_qrank", md5_rank(id_col, salt, group_col))
        .filter(F.col("_qrank") <= quota)
        .drop("_qrank")
    )


def _take_per_stratum(
    df: DataFrame, strata_col: str, id_col: str, salt: str, takes: DataFrame
) -> DataFrame:
    """Keep the first ``_take`` rows of each stratum in md5-rank order.

    ``takes`` is a strata-sized ``(_s, _take)`` table, broadcast and
    joined NULL-safely on the stratum: a NULL stratum is its own
    stratum, as in the count aggregates that size the takes. A stratum
    missing from ``takes`` keeps no rows; a take above the stratum's
    size keeps all of them. One window shuffle on the stratum."""
    return (
        df.join(F.broadcast(takes), F.col(strata_col).eqNullSafe(F.col("_s")))
        .withColumn("_rank", md5_rank(id_col, salt, strata_col))
        .filter(F.col("_rank") <= F.col("_take"))
        .drop("_s", "_take", "_rank")
    )


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Train/val/test assignment with NEAR-DUP LEAKAGE CONTROL: the hash
    split keys on the document's dedup CLUSTER id, not its own id, so
    every member of a near-duplicate cluster lands in the SAME split.

    The eval-contamination failure mode this closes: a plain
    ``split_assign`` on doc_id puts two near-identical docs (a crawl
    dup, a boilerplate-wrapped copy) on opposite sides of the
    train/test fence, and the model is scored on data it effectively
    saw. Splitting by cluster id makes that structurally impossible —
    whatever pair generator produced ``pairs`` (MinHash LSH, embedding
    ANN, containment) defines the leakage relation.

    Output: ``docs`` + ``cluster_id`` + ``split``. Same determinism
    contract as ``split_assign`` (stable under reruns, repartitioning,
    and appends — as long as the cluster assignment itself is stable;
    appending a doc that BRIDGES two clusters re-labels one side, which
    is inherent to the relation, not this operator). Cost on top of the
    split: one connected-components fixpoint over the pair graph
    (O(edges) per round, label shuffles only — `assign_clusters`).
    """
    from .cluster import assign_clusters

    clustered = assign_clusters(docs, pairs, id_col, a_col, b_col, max_iter)
    return split_assign(clustered, "cluster_id", fractions)


def temperature_sample(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    alpha: float = 0.5,
    total_frac: float = 0.5,
    salt: str = "temp",
) -> DataFrame:
    """Temperature-scaled domain mixing: sample so domain d's share of
    the output follows n_d^alpha (normalized) — the standard
    multilingual/multi-source LM recipe (alpha<1 flattens the mix,
    upweighting rare domains relative to their corpus share; alpha=1 is
    proportional; alpha=0 is uniform-over-domains).

    Differs from ``weighted_domain_mix`` (explicit target shares): here
    the targets are DERIVED from the observed counts, so one dial
    re-mixes as the corpus evolves.

    Take counts are computed in pure INTEGER arithmetic so the selection
    is engine-exact: w_d = round(n_d^alpha · 10^6) as BIGINT, then
    t_d = (T · w_d) div (Σ w) with T = floor(total_frac · N). For
    alpha=0.5 the power is ``sqrt`` — IEEE-correctly-rounded and thus
    identical across engines; other alphas go through ``pow``, which
    libms round differently in the last ulp, so cross-engine exactness
    is only guaranteed at 0.5 (documented, asserted nowhere — the
    engine-side result is deterministic for any alpha).

    Within a domain the t_d winners are chosen by md5 rank with id
    tiebreak (the ``quota_sample`` rule — reproducible across engines,
    reruns, repartitioning, appends only displace by their own key).
    A NULL domain is one more domain: it is counted, weighted and
    sampled like any other.

    Plan: one metadata-sized count agg (~domains rows) → broadcast join
    of take counts → one window shuffle on domain for the rank. No
    collect, no global sort.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError("alpha must be in [0, 1]")
    if not 0.0 < total_frac <= 1.0:
        raise ValueError("total_frac must be in (0, 1]")

    n = F.col("_n").cast("double")
    w_num = F.sqrt(n) if alpha == 0.5 else F.pow(n, F.lit(alpha))
    counts = df.groupBy(domain_col).agg(F.count("*").alias("_n"))
    weighted = counts.withColumn(
        "_w", F.round(w_num * F.lit(1_000_000.0)).cast("long")
    )
    # note: Spark SQL identifiers are case-insensitive, so the scalar
    # aliases must not collide with "_w"/"_n" by case alone
    tot = weighted.agg(
        F.sum("_w").alias("_wsum"),
        F.floor(F.sum("_n") * F.lit(total_frac)).cast("long").alias("_ttake"),
    )
    takes = weighted.crossJoin(F.broadcast(tot)).select(
        F.col(domain_col).alias("_s"),
        F.expr("CAST((_ttake * _w) DIV _wsum AS BIGINT)").alias("_take"),
    )
    return _take_per_stratum(df, domain_col, id_col, salt, takes)


def negative_sample(
    positives: DataFrame,
    user_col: str,
    item_col: str,
    n_items: int,
    k: int = 2,
    salt: str = "neg",
) -> DataFrame:
    """Deterministic negative sampling for contrastive / recommender
    training: for each positive (user, item) pair, draw ``k`` candidate
    items by portable hash and drop any candidate that is itself a
    positive for that user. Returns ``(user, neg_item, draw)``.

    Draw j for a positive is ``md5(user || '_' || item || '_' || j ||
    ':salt')`` first-6-hex-digits mod ``n_items`` — the engine-wide
    portable hash rule, so any engine (and the DuckDB oracle)
    reproduces the exact sample. Items are assumed keyed 0..n_items-1
    (the fixture's contiguous surrogate keys); for sparse key spaces
    join the draw against an indexed item dimension first.

    Collision policy is DROP, not re-draw: re-drawing until miss makes
    the draw count data-dependent (unbounded rounds, and the retry loop
    is a driver-side iteration at scale). Dropping keeps everything
    one-pass — draws are MAP-SIDE (a k-element inline array explode),
    and the single shuffle is the left-anti join against the positives
    on (user, item), exactly the join any correctness-checking trainer
    needs anyway. Expected loss is density·k draws — negligible when
    positives are sparse in user x item (the recommender regime).

    At 100 TB: k-fold map-side expansion, one hash anti-join — no
    window, no per-user collect, no cross join. Duplicate draws within
    a user are KEPT (with-replacement semantics, ``draw`` disambiguates)
    so the output size is exactly predictable: k·|positives| minus
    collisions.
    """
    user_item_draw = F.concat(
        F.col("user").cast("string"),
        F.lit("_"),
        F.col("item").cast("string"),
        F.lit("_"),
        F.col("draw").cast("string"),
    )
    draws = positives.select(
        F.col(user_col).alias("user"),
        F.col(item_col).alias("item"),
        F.explode(F.array(*[F.lit(j) for j in range(1, k + 1)])).alias("draw"),
    ).select(
        "user",
        "draw",
        (token_hash24(salted(user_item_draw, salt)) % F.lit(n_items)).alias(
            "neg_item"
        ),
    )
    pos_keys = positives.select(
        F.col(user_col).alias("user"), F.col(item_col).alias("neg_item")
    ).distinct()
    return draws.join(pos_keys, ["user", "neg_item"], "left_anti").select(
        "user", "neg_item", "draw"
    )


def temporal_split_embargo(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    train_frac: float = 0.8,
    embargo_seconds: int = 3600,
) -> DataFrame:
    """Leakage-safe TEMPORAL train/test split per key: the per-key
    cutoff is the discrete ``train_frac`` quantile of the key's own
    timestamps; rows inside the ``embargo`` interval before the cutoff
    are DROPPED (labeled 'embargo') so features computed on train
    cannot see information adjacent in time to the test boundary — the
    time-series sibling of ``leakage_safe_split``'s cluster embargo.

    One per-key exact-quantile agg (percentile over the ts micros —
    discrete, so both engines pick an actual observed timestamp, no
    interpolation ambiguity) broadcast back; assignment is a map-side
    CASE. Output: input rows + ``split`` in {'train','embargo','test'}.
    """
    micros = F.unix_micros(F.col(ts_col).cast("timestamp"))
    cuts = (
        df.select(F.col(key_col), micros.alias("_us"))
        .groupBy(key_col)
        .agg(
            F.expr(
                f"percentile_disc({float(train_frac)}) "
                "WITHIN GROUP (ORDER BY _us)"
            ).alias("_cut_us")
        )
    )
    emb_us = F.lit(int(embargo_seconds) * 1_000_000)
    return (
        df.join(F.broadcast(cuts), key_col)
        .withColumn(
            "split",
            F.when(F.col("_cut_us") - micros > emb_us, "train")
            .when(micros > F.col("_cut_us"), "test")
            .otherwise("embargo"),
        )
        .drop("_cut_us")
    )


def neyman_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    value_col: str,
    total_n: int,
) -> DataFrame:
    """Neyman-allocation stratified sample: exactly ``total_n`` rows,
    with stratum h's quota ∝ N_h·σ_h — variance-proportional
    allocation, the survey-statistics optimum for estimating the
    population mean of ``value_col``. The principled upgrade over the
    fixed-fraction :func:`stratified_sample` when strata differ wildly
    in spread (domains with volatile vs flat quality scores get the
    sampling budget where it buys variance reduction).

    Deterministic end-to-end (the engine's replayability contract):

    - σ_h from 9dp-decimal moments (order-independent), sd via the
      exact IEEE chain sqrt((sxx - sx²/N)/(N-1));
    - quotas integerized by FLOOR + LARGEST REMAINDER (sum is exactly
      total_n; remainder ties break on stratum name ascending) — the
      weight w_h = N_h·σ_h rides a 9dp decimal sum so the shared
      denominator is order-independent too;
    - within a stratum, rows are picked by 'neyman'-salted md5 rank
      with ``id_col`` tiebreak (independent of the 'sample'/'split'
      salts so the ops compose without correlation);
    - a NULL stratum is one more stratum: it gets moments, a quota and
      its picks like any other.

    Single-value strata (σ=0, e.g. one-row strata) get weight 0 and
    only ever receive remainder seats — degenerate strata cannot eat
    the budget. When EVERY stratum is degenerate (all σ=0, weight
    total 0) the allocation falls back to proportional (w_h = N_h) —
    the textbook limit of Neyman allocation as variances equalize —
    instead of silently returning 0 rows (ADVICE r9). Oversubscribed
    quotas (n_h > N_h) are clipped by the rank filter naturally.

    Scale: one decimal-moment agg (map-side combined) → a STRATA-sized
    allocation table (metadata: the largest-remainder window sorts
    strata, not rows) broadcast back onto the data → one per-stratum
    rank window. Two row-sized exchanges total (agg + rank), both on
    the stratum key.
    """
    dec = "decimal(38,9)"
    xd = F.round(F.col(value_col).cast("double"), 9)
    stats = (
        df.select(
            F.col(strata_col).alias("_s"),
            xd.cast(dec).alias("_x"),
            F.round(xd * xd, 9).cast(dec).alias("_xx"),
        )
        .groupBy("_s")
        .agg(
            F.count("*").alias("_n"),
            F.sum("_x").alias("_sx"),
            F.sum("_xx").alias("_sxx"),
        )
    )
    sd = F.when(
        F.col("_n") > 1,
        F.sqrt(
            (
                F.col("_sxx").cast("double")
                - F.col("_sx").cast("double")
                * F.col("_sx").cast("double")
                / F.col("_n")
            )
            / (F.col("_n") - 1)
        ),
    ).otherwise(F.lit(0.0))
    weighted = stats.select(
        "_s",
        "_n",
        F.round(F.col("_n") * sd, 9).cast(dec).alias("_w"),
    )
    tot = weighted.agg(F.sum("_w").alias("_sw"), F.sum("_n").alias("_tn"))
    # Degenerate-variance guard (ADVICE r9): when every stratum is
    # constant (all sigma=0) the Neyman weight total _sw is 0 and the
    # quota division would NULL out every stratum, silently returning 0
    # rows. Fall back to proportional allocation (w_h = N_h) — the
    # textbook limit of Neyman allocation as variances equalize.
    w_eff = F.when(
        F.col("_sw") > 0,
        F.col("_w").cast("double") / F.col("_sw").cast("double"),
    ).otherwise(F.col("_n").cast("double") / F.col("_tn").cast("double"))
    exact = F.lit(int(total_n)) * w_eff
    base = weighted.crossJoin(F.broadcast(tot)).select(
        "_s",
        "_n",
        F.floor(exact).cast("long").alias("_base"),
        (exact - F.floor(exact)).alias("_rem"),
    )
    leftover = base.agg(
        (F.lit(int(total_n)) - F.sum("_base")).cast("long").alias("_left")
    )
    wrem = Window.orderBy(F.col("_rem").desc(), F.col("_s"))
    alloc = base.crossJoin(F.broadcast(leftover)).select(
        "_s",
        (
            F.col("_base")
            + F.when(F.row_number().over(wrem) <= F.col("_left"), 1).otherwise(0)
        ).alias("_take"),
    )
    return _take_per_stratum(df, strata_col, id_col, "neyman", alloc)


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    group_cols: "list[str] | None" = None,
    salt: str = "wres",
) -> DataFrame:
    """PER-GROUP weighted sampling WITHOUT replacement, P(selection) ∝
    weight — the grouped generalization of :func:`weighted_sample_topk`
    (same Efraimidis & Spirakis 2006 A-ES rule: each row draws
    u ∈ (0,1] and gets key u^(1/w); the k best keys per group win —
    here in the equivalent largest-ln(u)/w form). Classic LLM-pipeline
    use: length-proportional document sampling per language/source for
    token-budget estimation, importance-weighted eval subsets.

    Deterministic (the engine replayability contract): u derives from
    md5(id ':' salt) — u = (u32 + 1)/2^32, never 0 — so the sample is a
    pure function of (data, salt), stable under repartitioning, and a
    SQL oracle replays every draw. The key is 9dp-rounded before
    ranking with an id tiebreak (the SURVEY §5.3 libm rule: ln may
    differ by 1 ulp across engines; the rounding grain absorbs it).

    Scale: one map-side key computation, then ONE per-group top-k
    window (the stratified_sample exchange shape). With no
    ``group_cols`` the plan is TakeOrderedAndProject — per-partition
    partial top-k merged on the driver side — NEVER an unpartitioned
    window (the single-reducer sort this repo bans; same shape
    weighted_sample_topk uses). Rows with NULL or non-positive weight
    are excluded (zero selection probability in the A-ES model).
    """
    if k <= 0:
        raise ValueError("k must be positive")
    u = (u32_md5(F.col(id_col), salt) + F.lit(1)).cast("double") / F.lit(
        float(1 << 32)
    )
    key = F.round(F.log(u) / F.col(weight_col).cast("double"), 9)
    clean = df.filter(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn("__wkey", key)
    gcols = list(group_cols or [])
    if not gcols:
        return (
            clean.orderBy(F.col("__wkey").desc(), F.col(id_col).asc())
            .limit(int(k))
            .drop("__wkey")
        )
    w = Window.partitionBy(*gcols).orderBy(
        F.col("__wkey").desc(), F.col(id_col).asc()
    )
    return (
        clean.withColumn("__wrn", F.row_number().over(w))
        .filter(F.col("__wrn") <= k)
        .drop("__wkey", "__wrn")
    )


def dsir_log_importance(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m: int = 256,
    k: float = 0.5,
) -> DataFrame:
    """DSIR importance weighting (Xie, Santurkar, Ma & Liang 2023,
    "Data Selection for Language Models via Importance Resampling"):
    score every document in the RAW pool by how much more likely its
    hashed-token features are under the TARGET (trusted) corpus than
    under the raw pool itself — log w(doc) = sum over its tokens of
    ln(p_target(bucket)/p_raw(bucket)). Resampling the pool by these
    weights (compose with ``weighted_sample_topk``) shifts the mixture
    toward the target distribution without training a classifier.

    Features are HASHED token buckets (the paper's hashed n-grams): the
    24-bit md5 value mod ``m`` — the engine-wide portable hash rule, so
    any SQL engine reproduces bucketing digit-for-digit. Bucket
    distributions are add-k smoothed: p = (c + k)/(T + k*m).

    Scale shape: both bucket tables are m-sized (m ~ 10^4 in production
    — always broadcastable); the scored pool streams map-side through
    one explode + one broadcast equi-join on the bucket key + one
    doc-keyed agg. The ratio table inner-joins losslessly because every
    scored token's bucket exists in the raw counts by construction
    (the scored set IS the raw pool — the DSIR contract; score a
    different candidate set by passing it as ``raw``).

    Cross-engine determinism: counts are exact LONGs; both smoothed
    probabilities are single IEEE divisions of half-integer operands;
    ln rounds at 9dp (the libm rule) and per-doc sums ride DECIMAL.
    Output: (id, n_tokens, log_importance 6dp) — higher = more
    target-like; docs with zero tokens are excluded (no features).
    """
    from ..functions.text import tokens

    if m < 2:
        raise ValueError("m must be >= 2")
    if k <= 0:
        raise ValueError("k must be positive")

    def bucketed(df: DataFrame, cols: list[str]) -> DataFrame:
        toks = df.select(*cols, F.explode(tokens(text_col)).alias("_tok"))
        return toks.select(
            *cols,
            (token_hash24(F.col("_tok")) % m).alias("bucket"),
        )

    raw_b = bucketed(raw, [id_col])
    tgt_b = bucketed(target, [])
    cr = raw_b.groupBy("bucket").agg(F.count(F.lit(1)).alias("c_r"))
    ct = tgt_b.groupBy("bucket").agg(F.count(F.lit(1)).alias("c_t"))
    tr = cr.agg(F.sum("c_r").alias("t_r"))
    tt = ct.agg(F.sum("c_t").alias("t_t"))
    km = float(k) * m
    ratio = (
        cr.join(ct, "bucket", "left")
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(tr))
        .select(
            "bucket",
            F.round(
                F.log(
                    (
                        (F.coalesce("c_t", F.lit(0)) + F.lit(k))
                        / (F.col("t_t") + F.lit(km))
                    )
                    / (
                        (F.col("c_r") + F.lit(k))
                        / (F.col("t_r") + F.lit(km))
                    )
                ),
                9,
            ).alias("_lr"),
        )
    )
    return (
        raw_b.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum(F.col("_lr").cast("decimal(38,12)")).cast("double"), 6
            ).alias("log_importance"),
        )
    )


def mixture_epoch_plan(
    df: DataFrame,
    domain_col: str,
    tokens_col: str,
    weights: dict[str, float],
    budget: int,
    max_epochs: float = 4.0,
) -> DataFrame:
    """Data-constrained mixture planner (Muennighoff et al. 2023,
    "Scaling Data-Constrained Language Models": repeating data beyond
    ~4 epochs yields rapidly diminishing returns): given the available
    token mass per domain, a target mixture, and a total token budget,
    how many epochs of each domain does the plan imply — and where does
    the budget physically not fit under the repeat cap?

    Shares are normalized from ``weights`` IN THE DRIVER (exact same
    literals ship to any replaying engine); weight keys are STRING
    domain names and the join casts accordingly — keep ``domain_col``
    string-typed (cast upstream for integer domain ids). Per domain: desired =
    share * budget; epochs_needed = desired / available;
    epochs_planned caps at ``max_epochs``; tokens_planned =
    epochs_planned * available; shortfall = desired - tokens_planned
    (the mass the mixture wants but the cap forbids — re-weight or
    source more data). Domains named in the plan but absent from the
    corpus report 0 available, NULL epochs, full shortfall.

    Plan shape: ONE map-side-combined two-sum aggregate over the stats
    table + a plan-sized literal-frame broadcast join — no window, no
    second data pass, identical at any corpus size.
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    if max_epochs <= 0:
        raise ValueError("max_epochs must be positive")
    if not weights:
        raise ValueError("weights must be non-empty")
    if any(w <= 0 for w in weights.values()):
        raise ValueError("weights must be positive")
    wtot = float(sum(weights.values()))
    rows = [(d, float(w) / wtot) for d, w in sorted(weights.items())]
    wdf = df.sparkSession.createDataFrame(
        rows, f"{domain_col} string, _share double"
    )
    avail = df.groupBy(domain_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col(tokens_col).cast("long")).alias("_avail"),
    )
    desired = F.col("_share") * F.lit(float(budget))
    epochs_needed = F.try_divide(desired, F.col("_avail"))
    epochs_planned = F.when(
        F.col("_avail") > 0, F.least(epochs_needed, F.lit(float(max_epochs)))
    )
    tokens_planned = F.when(
        F.col("_avail") > 0, epochs_planned * F.col("_avail")
    ).otherwise(F.lit(0.0))
    return (
        wdf.join(avail, domain_col, "left")
        .select(
            domain_col,
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce("_avail", F.lit(0)).cast("long").alias("avail_tokens"),
            F.round("_share", 6).alias("target_share"),
            F.round(desired, 6).alias("desired_tokens"),
            F.round(epochs_needed, 6).alias("epochs_needed"),
            F.round(epochs_planned, 6).alias("epochs_planned"),
            F.round(tokens_planned, 6).alias("tokens_planned"),
            F.round(F.greatest(desired - tokens_planned, F.lit(0.0)), 6).alias(
                "shortfall"
            ),
        )
    )


def padding_waste(
    df: DataFrame,
    group_col: str,
    tokens_col: str,
    seq_len: int,
) -> DataFrame:
    """Fixed-context batching efficiency readout: if every document is
    truncated-or-padded to ``seq_len`` (the simple non-packing loader),
    how much of the compute window is padding and how many tokens fall
    off the end, per group — the report that motivates switching a
    domain to concat-and-chunk packing (``pack_by_token_budget``) or
    re-bucketing by length.

    ONE map-side-combined aggregate of exact integer sums — map-only
    arithmetic before it, no window, no second pass. Per group:
    n_docs, n_truncated, tokens_total, tokens_kept (= Σ min(len, L)),
    pad_frac 6dp (= 1 - kept/(n_docs·L)), trunc_frac 6dp (= cut/total).
    """
    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    ln = F.col(tokens_col).cast("long")
    kept = F.least(ln, F.lit(seq_len))
    agg = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(ln > seq_len, 1).otherwise(0)).cast("long").alias(
            "n_truncated"
        ),
        F.sum(ln).alias("_total"),
        F.sum(kept).alias("_kept"),
    )
    slots = F.col("n_docs") * F.lit(seq_len)
    return agg.select(
        F.col("grp").alias(group_col),
        "n_docs",
        "n_truncated",
        F.col("_total").cast("long").alias("tokens_total"),
        F.col("_kept").cast("long").alias("tokens_kept"),
        F.round(
            F.lit(1.0) - F.col("_kept") / slots.cast("double"), 6
        ).alias("pad_frac"),
        F.round(
            F.try_divide(
                (F.col("_total") - F.col("_kept")).cast("double"),
                F.col("_total"),
            ),
            6,
        ).alias("trunc_frac"),
    )


def mixture_health(
    df: DataFrame,
    domain_col: str,
    tokens_col: str,
) -> DataFrame:
    """Corpus mixture-health readout: per-domain token shares plus the
    concentration scalars every mixture review starts from — Shannon
    entropy H = -Σ p ln p of the token share distribution, effective
    domain count exp(H) (the "perplexity of the mixture"; uniform over
    k domains → k), Herfindahl index Σ p² and the max share. A mixture
    whose effective domain count is far below its nominal domain count
    is dominated by a few sources (the Gopher/Pile mixture tables
    report exactly these shares).

    Plan: ONE map-side-combined (domain) aggregate → domains-sized
    frame; the global scalars are a second aggregate OF THAT FRAME
    (domains-sized input) broadcast-recombined as one row — the
    q400/q381 scalar pattern, no window, no second corpus pass.

    Cross-engine determinism: token sums are exact LONGs; shares are
    single IEEE divisions; p·ln p terms round at 9dp and ride a DECIMAL
    fold; outputs round at 6dp.

    Output per domain: (domain, n_docs, n_tokens, token_share, entropy,
    effective_domains, hhi, max_share) — the four scalars repeat on
    every row (driver-canon scalar columns, the percent-of-total
    convention).
    """
    per = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col(tokens_col).cast("long")).alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_tokens").alias("_t"))
    shared = per.crossJoin(F.broadcast(tot)).select(
        "domain",
        "n_docs",
        "n_tokens",
        F.try_divide(F.col("n_tokens").cast("double"), F.col("_t")).alias(
            "_p"
        ),
    )
    term = F.when(
        F.col("_p") > 0, F.round(-F.col("_p") * F.log("_p"), 9)
    ).otherwise(F.lit(0.0))
    scalars = shared.agg(
        F.sum(term.cast("decimal(38,12)")).cast("double").alias("_h"),
        F.sum(
            F.round(F.col("_p") * F.col("_p"), 9).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("_hhi"),
        F.max("_p").alias("_mx"),
    )
    return shared.crossJoin(F.broadcast(scalars)).select(
        "domain",
        "n_docs",
        "n_tokens",
        F.round("_p", 6).alias("token_share"),
        F.round("_h", 6).alias("entropy"),
        F.round(F.exp("_h"), 6).alias("effective_domains"),
        F.round("_hhi", 6).alias("hhi"),
        F.round("_mx", 6).alias("max_share"),
    )


def token_budget_waterfill(
    df: DataFrame,
    domain_col: str,
    tokens_col: str,
    weights: dict[str, float],
    budget: float,
    max_epochs: float = 4.0,
) -> DataFrame:
    """EXACT per-domain token-budget allocation under repeat caps — the
    closed-loop successor of ``mixture_epoch_plan`` (which reports each
    domain's shortfall in isolation): water-filling REDISTRIBUTES the
    capped domains' surplus to the uncapped ones in proportion to their
    mixture weights, so the full budget is spent whenever it physically
    fits (classic water-filling / bounded-capacity proportional
    allocation; the repeat cap is Muennighoff et al. 2023's ~4-epoch
    rule).

    Semantics: cap_d = max_epochs · avail_d; allocation_d =
    min(cap_d, share_d · λ) with the water level λ chosen so
    Σ allocation = min(budget, Σ cap). Closed form: sort domains by
    r_d = cap_d/share_d ascending — the capped set is a PREFIX of that
    order; a domain is capped iff every domain at-or-before it passes
    r_i <= λ_i where λ_i is the water level with the first i-1 domains
    capped (λ is non-decreasing along the prefix, so the first failure
    ends it).

    Plan shape: one map-side-combined (domain) aggregate reduces the
    corpus to a DOMAINS-SIZED frame; the sort + running sums are
    windows over that metadata-sized frame (the prefix.py offsets
    class — a bounded single reducer over k rows, never data-sized);
    the final water level is one conditional 1-row aggregate broadcast
    back. Shares ship as driver literals (mixture_epoch_plan
    convention; weight keys are STRING domain names).

    Cross-engine determinism: avail/cap/share are exact or literal;
    running sums ride DECIMAL in the deterministic (r, domain) order;
    r and λ round at 9dp before the prefix comparison.

    Output per domain: (domain, avail_tokens, cap_tokens, target_share,
    water_level, allocated_tokens, epochs, capped, leftover_budget) —
    Σ allocated = min(budget, Σ cap) (6dp), leftover = budget − Σ
    allocated (> 0 only when every domain capped).
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    if max_epochs <= 0:
        raise ValueError("max_epochs must be positive")
    if not weights:
        raise ValueError("weights must be non-empty")
    if any(w <= 0 for w in weights.values()):
        raise ValueError("weights must be positive")
    wtot = float(sum(weights.values()))
    rows = [(d, round(float(w) / wtot, 12)) for d, w in sorted(weights.items())]
    wdf = df.sparkSession.createDataFrame(
        rows, "domain string, _share double"
    )
    avail = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.sum(F.col(tokens_col).cast("long")).alias("_avail")
    )
    base = (
        wdf.join(avail, "domain", "left")
        .select(
            "domain",
            F.coalesce("_avail", F.lit(0)).cast("long").alias("_avail"),
            "_share",
            (F.coalesce("_avail", F.lit(0)).cast("double") * max_epochs).alias(
                "_cap"
            ),
        )
        .withColumn(
            "_r", F.round(F.try_divide(F.col("_cap"), F.col("_share")), 9)
        )
    )
    w = Window.orderBy(F.col("_r").asc_nulls_first(), F.col("domain").asc())
    prev = Window.orderBy(
        F.col("_r").asc_nulls_first(), F.col("domain").asc()
    ).rowsBetween(Window.unboundedPreceding, -1)
    whole = Window.orderBy(
        F.col("_r").asc_nulls_first(), F.col("domain").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    stepped = base.select(
        "*",
        F.coalesce(
            F.sum(F.col("_cap").cast("decimal(38,6)")).over(prev),
            F.lit(0).cast("decimal(38,6)"),
        )
        .cast("double")
        .alias("_cum_cap"),
        # remaining share computed DECIMALLY against the in-query total
        # (the 12dp-rounded share literals do not sum to exactly 1.0 in
        # binary; a float "1.0 - cum" residual fabricates a huge water
        # level when every domain is capped)
        (
            F.sum(F.col("_share").cast("decimal(38,12)")).over(whole)
            - F.coalesce(
                F.sum(F.col("_share").cast("decimal(38,12)")).over(prev),
                F.lit(0).cast("decimal(38,12)"),
            )
        )
        .cast("double")
        .alias("_rem_share"),
    ).withColumn(
        "_lam_pre",
        F.round(
            F.try_divide(
                F.lit(float(budget)) - F.col("_cum_cap"),
                F.col("_rem_share"),
            ),
            9,
        ),
    ).withColumn(
        "_ok",
        F.when(
            F.col("_r").isNull() | (F.col("_r") <= F.col("_lam_pre")), 1
        ).otherwise(0),
    ).withColumn(
        "capped", F.min("_ok").over(w.rowsBetween(Window.unboundedPreceding, 0)) == 1
    )
    level = stepped.agg(
        F.round(
            F.try_divide(
                F.lit(float(budget))
                - F.sum(
                    F.when(F.col("capped"), F.col("_cap"))
                    .otherwise(F.lit(0.0))
                    .cast("decimal(38,6)")
                ).cast("double"),
                (
                    F.sum(F.col("_share").cast("decimal(38,12)"))
                    - F.sum(
                        F.when(F.col("capped"), F.col("_share"))
                        .otherwise(F.lit(0.0))
                        .cast("decimal(38,12)")
                    )
                ).cast("double"),
            ),
            9,
        ).alias("_lam"),
        # When the budget fits (some domain uncapped) the water level
        # spends it exactly, so leftover = max(0, B - total capacity).
        F.round(
            F.greatest(
                F.lit(float(budget))
                - F.sum(F.col("_cap").cast("decimal(38,6)")).cast("double"),
                F.lit(0.0),
            ),
            6,
        ).alias("_leftover"),
    )
    alloc = F.when(F.col("capped"), F.col("_cap")).otherwise(
        F.col("_share") * F.col("_lam")
    )
    return stepped.crossJoin(F.broadcast(level)).select(
        "domain",
        F.col("_avail").alias("avail_tokens"),
        F.round("_cap", 6).alias("cap_tokens"),
        F.round("_share", 6).alias("target_share"),
        F.round("_lam", 6).alias("water_level"),
        F.round(alloc, 6).alias("allocated_tokens"),
        F.round(F.try_divide(alloc, F.col("_avail").cast("double")), 6).alias(
            "epochs"
        ),
        "capped",
        F.col("_leftover").alias("leftover_budget"),
    )


def eval_holdout_carve(
    docs: DataFrame,
    pairs: DataFrame,
    group_col: str,
    eval_frac: float = 0.1,
    quota: int = 100,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    salt: str = "holdout",
) -> DataFrame:
    """Contamination-aware eval-split carving: carve a CERTIFIED-CLEAN
    holdout out of a corpus whose train side is FROZEN (the real
    benchmark-building workflow — existing training data cannot move,
    unlike ``leakage_safe_split`` which assigns all docs jointly).

    Three deterministic steps: (1) the hash split nominates an
    ``eval_frac`` candidate slice (portable md5 rule — stable under
    reruns/appends); (2) any candidate with a near-dup edge to a
    TRAIN-side doc (either endpoint orientation, whatever pair
    generator defined the relation — Lee et al. 2022 found substantial
    cross-split overlap exactly here) is EJECTED as contaminated;
    (3) the clean remainder is quota-capped per group by hash rank
    (``quota_sample`` rule), so no domain dominates the benchmark.

    Plan: split is a map-side expression; contamination is two
    pair-table equi-joins reduced to a distinct ejected-id set
    (pair-table sized) anti-joined back; the quota is one window
    shuffle on ``group_col``. No window over the corpus, no collect.

    Output per CANDIDATE doc: (id, group, contaminated, selected,
    pick_rank — NULL for contaminated docs; selected = clean AND
    rank <= quota). Train-side docs are not emitted (they are frozen;
    emitting the certification for the candidate slice only keeps the
    output holdout-sized).
    """
    if not 0 < eval_frac < 1:
        raise ValueError("eval_frac must be in (0, 1)")
    if quota <= 0:
        raise ValueError("quota must be positive")
    cut = int(eval_frac * SPLIT_BUCKETS)
    bucket = _hash_bucket(F.col(id_col), salt)
    tagged = docs.select(
        F.col(id_col), F.col(group_col), (bucket < cut).alias("_is_cand")
    )
    cand = tagged.filter(F.col("_is_cand")).drop("_is_cand")
    train_ids = tagged.filter(~F.col("_is_cand")).select(
        F.col(id_col).alias("_tid")
    )
    # candidate ids with an edge to a train doc, in either orientation
    dirty_a = (
        pairs.join(train_ids, pairs[b_col] == train_ids["_tid"])
        .select(F.col(a_col).alias("_did"))
    )
    dirty_b = (
        pairs.join(train_ids, pairs[a_col] == train_ids["_tid"])
        .select(F.col(b_col).alias("_did"))
    )
    dirty = dirty_a.union(dirty_b).distinct()
    flagged = cand.join(
        dirty.withColumn("_dirty", F.lit(True)),
        cand[id_col] == dirty["_did"],
        "left",
    ).select(
        id_col,
        group_col,
        F.coalesce("_dirty", F.lit(False)).alias("contaminated"),
    )
    # Partition by (group, contaminated) so clean rows rank densely
    # 1..n_clean — ranking the mixed set would skip numbers wherever a
    # contaminated row sorts in between and under-fill the quota.
    rank = md5_rank(id_col, salt + ":rank", group_col, "contaminated")
    ranked = flagged.withColumn(
        "pick_rank", F.when(~F.col("contaminated"), rank)
    )
    return ranked.select(
        id_col,
        group_col,
        "contaminated",
        F.col("pick_rank").cast("long").alias("pick_rank"),
        (
            ~F.col("contaminated") & (F.col("pick_rank") <= quota)
        ).alias("selected"),
    )


def rake_weights(
    df: DataFrame,
    row_col: str,
    col_col: str,
    row_targets: dict[str, float],
    col_targets: dict[str, float],
    iters: int = 5,
) -> DataFrame:
    """Iterative-proportional-fitting (raking) cell weights (Deming &
    Stephan 1940; the survey-calibration workhorse, Deville & Sarndal
    1992) — reweight a corpus so BOTH marginal distributions match
    declared targets simultaneously (e.g. rebalance a crawl to target
    language shares AND source-family shares at once; per-margin
    reweighting alone breaks whichever margin it didn't look at).

    IPF in its canonical factored form: w_rc = a_r * b_c with

        a_r <- T_r / sum_c n_rc * b_c      (row-margin step)
        b_c <- T_c / sum_r n_rc * a_r      (col-margin step)

    for a FIXED ``iters`` alternations from b = 1 (pure function of the
    inputs — any engine replays it; IPF converges geometrically, 5
    alternations is standard survey practice). Targets are SHARES
    (each dict sums to 1); T = share * N over the observed total.
    Cells whose label is missing from a target dict are dropped from
    the output (no target, no weight — documented, validated by law
    test, not silently weighted 1).

    Scale + determinism: ONE corpus-sized (row,col) count (map-side
    combined, held for the fit); every IPF step is a cells-sized
    broadcast join + margins-sized aggregate, and each alternation ends
    at an ``iterate_fixed`` lineage barrier. The n·b / n·a products
    ride EXACT DECIMAL(20,0)x(18,9) — no mid-pipeline rounding of
    products (the q411 rule); each factor update is ONE division
    rounded at 9dp; the final weight a_r·b_c is an IEEE double product
    of identical 9dp operands (bit-equal cross-engine), 6dp out.

    Output: (row_col, col_col, n, weight, raked_share).
    """
    for name, targets in (("row_targets", row_targets),
                          ("col_targets", col_targets)):
        if not targets:
            raise ValueError(f"{name} must be non-empty")
        if any(v <= 0 for v in targets.values()):
            raise ValueError(f"{name} shares must be positive")
        total = sum(targets.values())
        if abs(total - 1.0) > 1e-9:
            raise ValueError(f"{name} shares must sum to 1, got {total}")
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    spark = df.sparkSession
    cells = (
        df.filter(F.col(row_col).isNotNull() & F.col(col_col).isNotNull())
        .groupBy(F.col(row_col).alias("_r"), F.col(col_col).alias("_c"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    # DECIMAL(12,0) x (18,9) = (31,9): exact in BOTH engines. A (20,0)
    # cast would push Spark's multiply to precision 39 > 38, which
    # silently RESCALES to (38,8) — an 8dp round DuckDB doesn't take.
    # Bound: per-cell counts < 10^12 (document-count cells, not rows
    # of a fact table — generous at any corpus size).
    exact_nb = F.col("_n").cast("decimal(12,0)")

    def fit(factor: DataFrame, f: str, key: str, other: str,
            targets: DataFrame, target: str, out: str) -> DataFrame:
        # one margin step: out_key = T_key / sum over `other` of n * f
        return (
            cells.join(F.broadcast(factor), other)
            .select(key, (exact_nb * F.col(f).cast("decimal(18,9)")).alias("_t"))
            .groupBy(key)
            .agg(F.sum("_t").cast("double").alias("_d"))
            .join(F.broadcast(targets), key)
            .select(
                key,
                F.round(F.try_divide(F.col(target), F.col("_d")), 9).alias(out),
            )
        )

    with held(cells):
        n_total = cells.agg(F.sum("_n").cast("long").alias("_ntot"))
        # both target tables are read by every alternation: materialized
        # once, not re-derived from the cell counts per step
        row_t = spark.createDataFrame(
            sorted(row_targets.items()), ["_r", "_share_r"]
        ).crossJoin(F.broadcast(n_total)).select(
            "_r", (F.col("_share_r") * F.col("_ntot").cast("double")).alias("_tr")
        ).localCheckpoint(eager=True)
        col_t = spark.createDataFrame(
            sorted(col_targets.items()), ["_c", "_share_c"]
        ).crossJoin(F.broadcast(n_total)).select(
            "_c", (F.col("_share_c") * F.col("_ntot").cast("double")).alias("_tc")
        ).localCheckpoint(eager=True)

        def a_step(b: DataFrame) -> DataFrame:
            return fit(b, "_b", key="_r", other="_c", targets=row_t, target="_tr", out="_a")

        def b_step(a: DataFrame) -> DataFrame:
            return fit(a, "_a", key="_c", other="_r", targets=col_t, target="_tc", out="_b")

        # one alternation (b -> a -> b) per round from b = 1, lineage cut
        # at each round's a by the iterate barrier
        a = iterate_fixed(
            a_step(col_t.select("_c", F.lit(1.0).alias("_b"))),
            lambda a: a_step(b_step(a)),
            iters - 1,
        )
        b = b_step(a)
        # weight = a*b as an IEEE DOUBLE product of identical 9dp operands
        # (bit-equal cross-engine), rounded at 6dp. NOT an exact-decimal
        # product cast to double: DuckDB's wide-DECIMAL(37,18)->DOUBLE cast
        # is not correctly rounded and diverged from Spark's by one ulp at
        # pre-verification (banked lesson: never ship a wide-decimal->double
        # CAST to the compare boundary; the q401 unrounded rule is for
        # decimals that STAY decimal-summed, not for decimal casts).
        wd = F.col("_a") * F.col("_b")
        out = (
            cells.join(F.broadcast(a), "_r")
            .join(F.broadcast(b), "_c")
            .crossJoin(F.broadcast(n_total))
            .select(
                F.col("_r").alias(row_col),
                F.col("_c").alias(col_col),
                F.col("_n").cast("long").alias("n"),
                F.round(wd, 6).alias("weight"),
                F.round(
                    F.col("_n").cast("double")
                    * wd
                    / F.col("_ntot").cast("double"),
                    6,
                ).alias("raked_share"),
            )
        )
        return out.localCheckpoint(eager=True)
