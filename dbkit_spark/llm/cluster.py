"""Dedup clustering: near-dup pairs → connected components → survivors.

Pair emission (``llm/dedup.py``) is only half a dedup pipeline: to
actually drop documents you need the transitive closure of the pair
graph (A~B, B~C ⇒ {A,B,C} is one duplicate cluster) and a deterministic
survivor per cluster. The reference has no dedup surface at all
(SURVEY.md §2.11); this is the standard production shape.

Scale design
------------
``connected_components`` is iterative min-label propagation:
``label(v) ← min(label(v), min label of neighbors)`` until fixpoint.
Each round is one equi-join (messages along edges) + one groupBy (min
per vertex) — two key-partitioned shuffles, no driver-side graph state,
no collect. Rounds needed = graph diameter, and near-dup graphs are
piles of tiny dense cliques (diameter 2–4), so the loop converges in a
handful of rounds; ``max_iter`` guards against pathological chains, and
convergence is detected with a decimal-summed label aggregate (labels
only ever decrease; an unchanged sum ⇒ fixpoint) — an O(1)-result
action per round, overflow-safe at any corpus size. For high-diameter
graphs, ``connected_components_contracting`` below runs the
literature's large-star/small-star contraction, which halves diameter
per round. Use ``connected_components`` for near-dup pair graphs
(fewer rounds, each a plain AQE-optimized join, an O(1) convergence
probe) and the contracting form for chain- or mesh-shaped link graphs
whose diameter is unbounded (identity handoff chains, citation or
session paths).

Intermediate labels are eagerly localCheckpoint-ed per round — this
both bounds storage (one label table) and, critically, TRUNCATES
LINEAGE: without it the per-round logical plan doubles (round N embeds
round N-1 twice via the join and the union) and the driver OOMs
building plan trees on higher-diameter graphs. A 100 TB job swaps in
``.checkpoint()`` against durable storage for fault tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.graph import _degree_table, _relabel, _stubs
from ..operators.iterate import held, iterate_until_fixpoint

# assign_clusters broadcast cap for the component table (rows; two int64
# columns ≈ 16 B/row, but the BUILT HashedRelation is several times that
# and is collected through the driver). 2M rows keeps the built
# relation in the low-hundreds-of-MB band even on stock 1g
# driver/executor configs (ADVICE r15: the earlier 8M cap assumed this
# repo's 8g driver session).
_BROADCAST_COMP_MAX_ROWS = 2_000_000


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
    dedupe_edges: bool = True,
) -> DataFrame:
    """(id, cluster_id) for every id appearing in ``pairs``; cluster_id =
    min id reachable through the pair graph. Raises ``RuntimeError`` if
    ``max_iter`` rounds don't reach the fixpoint (diameter > max_iter).

    ``checkpoint_dir`` selects the durable per-round barrier: when set
    (an HDFS/S3/local path), rounds cut lineage with ``checkpoint()``
    into that directory — replayable after executor loss, the right mode
    for a long-running cluster job. When None (default), rounds use
    ``localCheckpoint()`` — executor-memory/disk only, fastest for
    interactive/local runs, lost on executor failure.

    ``dedupe_edges=False`` skips the edge ``distinct()`` shuffle for
    callers whose pair list is already duplicate-free (the minhash/LSH
    pipelines emit distinct ``doc_a < doc_b`` pairs by construction).
    Duplicate edges never change the min-label fixpoint — they only
    inflate per-round message volume — so the flag is purely a
    performance contract (guide §2.4: a ``distinct`` on already-unique
    data is an accidental shuffle)."""
    # Persist the edge list ALREADY HASH-PARTITIONED on src, the key
    # every round joins on: the cached partitioning satisfies the join's
    # required distribution, so the per-round plans re-exchange only the
    # (smaller) label table instead of both sides (guide §2.4 "two
    # operations keyed the same way can share one exchange" — here one
    # exchange paid once replaces one per round). Cached plans keep
    # their partitioning (canChangeCachedPlanOutputPartitioning defaults
    # false), so this holds for every round. The optional edge dedup
    # rides the SAME exchange: hashpartitioning(src) satisfies the
    # distinct's ClusteredDistribution(src, dst) — partitioning on a
    # subset of the grouping keys co-locates every copy of an edge — so
    # the aggregate plans with no exchange of its own.
    try:
        n_part = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        # managed AQE setups may report a non-numeric value (e.g. "auto")
        n_part = pairs.sparkSession.sparkContext.defaultParallelism
    edges = _stubs(pairs, a_col, b_col).repartition(n_part, "src")
    if dedupe_edges:
        edges = edges.distinct()

    # Seed = propagation round 1 WITHOUT the identity join: the first
    # round of the loop would join edges against identity labels
    # (label(src) = src), so its messages are just edges re-labeled —
    # labels_1(v) = min(v, min over incoming src). One union + one
    # min-agg replaces a full join+agg+barrier+measure round
    # (OPTIMIZATION_r15; fixpoint unchanged, oracle-pinned). Self-rows
    # (v, v) come from each edge's own src — duplicates collapse in the
    # min-agg, and since edges carry both directions every vertex
    # appears as a src.
    initial = (
        edges.select(F.col("src").alias("id"), F.col("src").alias("cluster_id"))
        .unionByName(
            edges.select(F.col("dst").alias("id"), F.col("src").alias("cluster_id"))
        )
        .groupBy("id")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )

    def step(labels: DataFrame) -> DataFrame:
        msgs = edges.join(
            labels, edges["src"] == labels["id"], "inner"
        ).select(F.col("dst").alias("id"), "cluster_id")
        return (
            labels.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("cluster_id").alias("cluster_id"))
        )

    # decimal(38,0) label sum: monotone non-increasing (labels only ever
    # shrink toward the component min), so scalar equality across rounds
    # ⇒ fixpoint — the O(1)-result convergence action, overflow-safe at
    # any corpus size. Loop discipline (eager checkpoint barriers per
    # round, durable-vs-local mode, max_iter guard) lives in the generic
    # operators.iterate.iterate_until_fixpoint.
    def label_sum(labels: DataFrame):
        return labels.agg(
            F.sum(F.col("cluster_id").cast("decimal(38,0)"))
        ).collect()[0][0]

    try:
        with held(edges):
            return iterate_until_fixpoint(
                initial,
                step,
                measure=label_sum,
                max_iter=max_iter,
                checkpoint_dir=checkpoint_dir,
            )
    except RuntimeError as exc:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(pair-graph diameter exceeds max_iter)"
        ) from exc


def assign_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
    dedupe_edges: bool = True,
) -> DataFrame:
    """``docs`` + a ``cluster_id`` column: component min-id for docs in
    the pair graph, own id for singletons (left join + coalesce).

    The component table holds only ids that appear in a duplicate pair
    — tiny next to the corpus — but it reaches the join as a
    checkpointed ``LogicalRDD`` whose size Spark cannot estimate, so
    the planner falls back to a sort-merge join that SHUFFLES THE
    CORPUS by id (the before-plan receipt in plans/r15). Since the
    fixpoint loop has already materialized the table, an exact
    ``count()`` costs one metadata-cheap job over the checkpointed
    partitions; below ``_BROADCAST_COMP_MAX_ROWS`` we hint the
    broadcast the planner cannot infer (guide §3.1: explicit hint when
    estimates are blind; guide §8.4: broadcast the small decision table
    so the payload side is never shuffled). Above the cap — a corpus
    whose duplicate set alone breaks the broadcast budget — the
    sort-merge shape is kept, so nothing here assumes local scale."""
    comp = connected_components(
        pairs, a_col, b_col, max_iter, dedupe_edges=dedupe_edges
    )
    if comp.count() <= _BROADCAST_COMP_MAX_ROWS:
        comp = F.broadcast(comp)
    return _relabel(docs, comp, id_col)


def dedup_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
    dedupe_edges: bool = True,
) -> DataFrame:
    """The deduplicated corpus: one deterministic survivor (min id) per
    duplicate cluster, singletons kept. Equivalent to an anti-join of
    ``docs`` against non-survivor ids — expressed as a filter on the
    cluster assignment so both steps share one component computation.

    Output schema = ``docs`` + ``cluster_id`` — the same shape as
    ``dedup_survivors_best``, so the two survivor policies are drop-in
    swappable (under min-id policy ``cluster_id`` == ``id_col`` on every
    surviving row, by construction)."""
    return assign_clusters(
        docs, pairs, id_col, a_col, b_col, max_iter, dedupe_edges=dedupe_edges
    ).filter(F.col(id_col) == F.col("cluster_id"))


def dedup_survivors_best(
    docs: DataFrame,
    pairs: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Keep-BEST survivor policy: one doc per duplicate cluster chosen by
    (quality DESC, id ASC) instead of min-id.

    Production dedup rarely wants the arbitrary min-id row — it wants
    the longest / highest-quality / most-recent member of each cluster
    (the others are truncations, boilerplate-wrapped copies, or earlier
    crawls of the same page). Same component computation as
    ``dedup_survivors``; the policy is one extra cluster-keyed window
    rank (deterministic tiebreak on id), so the added cost at 100 TB is
    a single shuffle on cluster_id over the already-clustered frame.

    Output schema = ``docs`` + ``cluster_id``, identical to
    ``dedup_survivors`` — the policies are drop-in swappable.
    """
    from pyspark.sql import Window

    clustered = assign_clusters(docs, pairs, id_col, a_col, b_col, max_iter)
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    return (
        clustered.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )


def label_centroids(
    emb: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label centroid vectors: posexplode to (label, dim, value),
    DECIMAL-summed means per (label, dim) (the engine-wide order-free
    reduction rule — double avg would drift across partitionings), then
    dim-sorted reassembly into one array row per label. The centroid
    table is (labels × d) exploded rows reduced to labels rows —
    metadata-sized, broadcastable."""
    exploded = emb.select(
        F.col(label_col).alias("label"),
        F.posexplode(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("dim", "x"),
    )
    per_dim = exploded.groupBy("label", "dim").agg(
        (
            F.sum(F.round(F.col("x"), 9).cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("c")
    )
    return per_dim.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))),
            lambda s: s["c"],
        ).alias("centroid")
    )


def silhouette_simplified(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """SIMPLIFIED silhouette (Hruschka et al.) — the clustering-quality
    readout at corpus scale: the classic silhouette needs all-pairs
    distances (O(n²), impossible); the simplified form scores each
    vector against CENTROIDS only — a = distance to its own label's
    centroid, b = min distance to any other label's, s = (b−a)/max(a,b)
    — and correlates strongly with the exact form while costing one
    centroid build + one labels-sized broadcast per vector.

    Per-element distance terms round at 9dp before the fold (the q43
    convention); per-vector s rounds at 6dp; the per-label mean
    decimal-sums the rounded s values so the reduction is order-free.

    Output: (label, n, mean_silhouette). Single-label inputs yield no
    rows (b is undefined), matching the metric's domain.
    """
    cents = label_centroids(emb, vec_col, label_col)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scored = (
        emb.select(
            F.col(id_col).alias("_id"),
            F.col(label_col).alias("label"),
            v.alias("_v"),
        )
        .join(F.broadcast(cents.select(F.col("label").alias("_clabel"), "centroid")))
        .withColumn(
            "_dist",
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        F.col("_v"),
                        F.col("centroid"),
                        lambda x, c: F.round((x - c) * (x - c), 9),
                    ),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
            ),
        )
    )
    per_vec = scored.groupBy("_id", "label").agg(
        F.max(
            F.when(F.col("label") == F.col("_clabel"), F.col("_dist"))
        ).alias("a"),
        F.min(
            F.when(F.col("label") != F.col("_clabel"), F.col("_dist"))
        ).alias("b"),
    )
    denom = F.greatest(F.col("a"), F.col("b"))
    s = F.when(denom == 0, F.lit(0.0)).otherwise(
        F.round((F.col("b") - F.col("a")) / denom, 6)
    )
    return (
        per_vec.filter(F.col("b").isNotNull())
        .withColumn("_s", s)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("_s").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_silhouette"),
        )
    )


def density_clusters(
    pairs: DataFrame,
    min_pts: int = 2,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """DBSCAN-style density clustering over a similarity PAIR GRAPH
    (VERDICT r9 next-round candidate — the density-reachability upgrade
    of plain transitive closure): an LSH/minhash edge means "within eps";
    a node is CORE when it has ≥ ``min_pts`` neighbors; clusters are the
    connected components of the core-core subgraph; a non-core node
    adjacent to ≥ 1 core is a BORDER member of its smallest-labeled core
    neighbor's cluster; nodes that are neither are noise and absent from
    the output. Returns (id, cluster_id, role ∈ {'core','border'}).

    Why this beats ``connected_components`` for corpus curation: plain
    closure chains A~B~C~… through accidental single-edge bridges
    (template boilerplate, short docs), welding unrelated near-dup
    cliques into one mega-cluster; requiring density (min_pts) breaks
    those bridges exactly the way DBSCAN separates touching blobs.

    Scale: degree count = one map-side-combined agg on the edge list;
    the core filter and both semi/anti joins are key equi-joins; the
    component loop runs on the CORE subgraph only (smaller than the
    pair graph); border attachment is one join + min-agg. Deterministic:
    labels are min-ids, border ties take the smallest cluster label.
    """
    edges = _stubs(pairs, a_col, b_col).distinct()
    with held(edges):
        cores = (
            _degree_table(edges)
            .filter(F.col("degree") >= min_pts)
            .select(F.col("node").alias("_c"))
        )
        core_edges = (
            edges.join(cores, edges["src"] == cores["_c"], "left_semi")
            .join(
                cores.withColumnRenamed("_c", "_c2"),
                edges["dst"] == F.col("_c2"),
                "left_semi",
            )
        )
        linked = connected_components(
            core_edges.select(
                F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
            ),
            max_iter=max_iter,
        )
        # cores with no core neighbor form singleton clusters of their own id
        core_labels = _relabel(cores, linked, "_c").select(
            F.col("_c").alias("id"), "cluster_id"
        )
        border = (
            edges.join(cores, edges["src"] == cores["_c"], "left_anti")
            .join(
                core_labels.withColumnRenamed("id", "_dst"),
                F.col("dst") == F.col("_dst"),
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("cluster_id").alias("cluster_id"))
        )
        out = core_labels.withColumn("role", F.lit("core")).unionByName(
            border.withColumn("role", F.lit("border"))
        )
        # the inner component loop runs jobs before this checkpoint, so
        # the edge set is held for the whole body, not just the checkpoint
        return out.localCheckpoint(eager=True)


def connected_components_contracting(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 30,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id, cluster_id) by ALTERNATING STAR CONTRACTION (the two-phase
    large-star/small-star algorithm of Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014) — the HIGH-DIAMETER
    path the plain :func:`connected_components` docstring defers to:
    min-label propagation needs rounds = graph diameter (a 10^6-node
    chain means 10^6 joins), while each large-star+small-star pass
    roughly halves component diameter, converging in O(log n) rounds on
    ANY shape.

    - large-star(u): every neighbor v > u re-attaches to
      m = min(Γ(u) ∪ {u});
    - small-star(u): every neighbor v ≤ u (and u itself) attaches to m.

    Both phases are one groupBy(u) min-aggregate + one join of the edge
    list against that min table (map-side-combinable agg, key equi-join
    — no windows, no collect); the edge set only ever shrinks toward
    the star forest whose centers are the component minima, read out as
    the final (node → min) edge list plus the centers mapping to
    themselves. Fixpoint = consecutive edge sets equal as multisets
    (the exact two-sided exceptAll probe — star contraction is not
    monotone in a scalar measure, so the O(1)-measure shortcut of the
    label-propagation loop does not apply).

    Use :func:`connected_components` for near-dup clique piles
    (diameter 2-4: fewer rounds, cheaper probe); use THIS for chain- or
    mesh-shaped link graphs — identity stitching across long handoff
    chains, citation/session paths — where diameter is unbounded. Same
    output contract, INCLUDING self-pairs (ADVICE r10): an input edge
    (a, a) contributes a singleton component (a, a) exactly as the
    plain algorithm returns it — self-pairs are stripped before the
    star phases (both filter src != dst, which silently dropped such
    nodes) and their ids unioned back as singletons after readout. A
    pytest pins equality of both algorithms on random graphs (now
    seeded with self-pairs) and convergence here on a path graph whose
    diameter exceeds the plain loop's max_iter.
    """
    def sym(e: DataFrame) -> DataFrame:
        return _stubs(e, "src", "dst").distinct()

    def star(e: DataFrame, large: bool) -> DataFrame:
        """One star phase over the symmetric edge list: attach the
        selected neighbors of every u to min(Γ(u) ∪ {u})."""
        m = (
            e.groupBy("src")
            .agg(F.min("dst").alias("_m"))
            .select("src", F.least("src", "_m").alias("_m"))
        )
        keep = F.col("dst") > F.col("src") if large else F.col("dst") <= F.col("src")
        attached = (
            e.filter(keep)
            .join(m, "src")
            .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
        )
        self_edge = m.select("src", F.col("_m").alias("dst"))
        return (
            attached.unionByName(self_edge)
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    loops = F.col(a_col) == F.col(b_col)
    initial = _stubs(pairs.filter(~loops), a_col, b_col).distinct()

    def step(e: DataFrame) -> DataFrame:
        return sym(star(sym(star(e, large=True)), large=False))

    final = iterate_until_fixpoint(
        initial, step, measure=None, max_iter=max_iter,
        checkpoint_dir=checkpoint_dir,
    )
    # fixpoint is a symmetric star forest: every non-center node has
    # exactly one smaller neighbor (its center); centers map to selves
    stars = final.filter(F.col("dst") < F.col("src")).select(
        F.col("src").alias("id"), F.col("dst").alias("cluster_id")
    )
    centers = (
        final.select(F.col("dst").alias("id"))
        .subtract(stars.select("id"))
        .select("id", F.col("id").alias("cluster_id"))
    )
    linked = stars.unionByName(centers)
    # nodes whose ONLY edges were self-pairs vanished with the filter
    # above; re-emit them as singleton components (plain-CC contract)
    selfies = (
        pairs.filter(loops)
        .select(F.col(a_col).alias("id"))
        .distinct()
        .join(linked.select("id"), "id", "left_anti")
        .select("id", F.col("id").alias("cluster_id"))
    )
    return linked.unionByName(selfies)


def connected_components_delta(
    prior: DataFrame,
    new_pairs: DataFrame,
    id_col: str = "id",
    cluster_col: str = "cluster_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 30,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """INCREMENTAL connected components: merge a batch of NEW edges
    into a FROZEN prior labeling without re-clustering the corpus —
    the daily-append twin of :func:`connected_components_contracting`
    the way ``minhash_incremental_pairs`` is the append twin of the
    full LSH sweep. Work scales with the delta (new edges + the labels
    they touch), never the corpus.

    Contract: ``prior`` is any labeling where ``cluster_col`` is the
    MINIMUM member id of each component (the output contract of both
    CC operators here). Then merging at the LABEL level is exact:
    project each new edge endpoint to its prior label (endpoints never
    seen before label as themselves), contract the delta-sized label
    graph, and re-map. The result equals a full recompute over (prior
    component edges ∪ new edges) — pinned by a randomized pytest and
    the q365 oracle.

    Plan shape: one left equi-join per edge side against the prior
    labeling (broadcast the DELTA side in production — the prior table
    is the big one), star contraction on the label graph (delta-sized),
    one label→new-label map-back join. The prior table itself is
    touched only by hash joins on its two columns; no window, no
    global sort, nothing proportional to corpus size beyond the joins.

    Output: (id, cluster_id) for every id in ``prior`` plus every
    endpoint of ``new_pairs`` — same contract as the full algorithms,
    self-pairs included as singletons."""
    prior_lab = prior.select(
        F.col(id_col).alias("id"), F.col(cluster_col).alias("cluster_id")
    )
    edges = new_pairs.select(F.col(a_col).alias("_a"), F.col(b_col).alias("_b"))
    lab_a = _relabel(edges, prior_lab, "_a").select(
        F.col("cluster_id").alias("_a"), "_b"
    )
    lab_edges = (
        _relabel(lab_a, prior_lab, "_b")
        .select(F.col("_a").alias("doc_a"), F.col("cluster_id").alias("doc_b"))
        .distinct()
    )
    # contraction over the LABEL graph — delta-sized by construction
    merged = connected_components_contracting(
        lab_edges, max_iter=max_iter, checkpoint_dir=checkpoint_dir
    )
    out = F.col("cluster_id").alias(cluster_col)
    relabeled = _relabel(
        prior_lab.withColumnRenamed("cluster_id", "_lab"), merged, "_lab"
    ).select(F.col("id").alias(id_col), out)
    # endpoints never seen in prior: their label was their own id
    fresh = (
        _stubs(edges, "_a", "_b")
        .select(F.col("src").alias("_nid"))
        .distinct()
        .join(prior_lab.select(F.col("id").alias("_nid")), "_nid", "left_anti")
    )
    fresh = _relabel(fresh, merged, "_nid").select(F.col("_nid").alias(id_col), out)
    return relabeled.unionByName(fresh)


def _centroid_distances(
    emb: DataFrame,
    cents: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
) -> DataFrame:
    """(_id, label, _v, cdist): per-vector Euclidean distance to its
    label's centroid — the shared inner step of semdedup,
    semdedup_delta, prototypicality and cluster_validity. Centroid
    table broadcasts (labels-sized); squared terms round at 9dp and
    ride a DECIMAL fold (order-free), the distance rounds at 6dp
    (engine exactness rule)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return (
        emb.select(
            F.col(id_col).alias("_id"),
            F.col(label_col).alias("label"),
            v.alias("_v"),
        )
        .join(F.broadcast(cents), "label")
        .select(
            "_id",
            "label",
            "_v",
            F.round(
                F.sqrt(
                    F.aggregate(
                        F.zip_with(
                            F.col("_v"),
                            F.col("centroid"),
                            lambda x, c: F.round((x - c) * (x - c), 9).cast(
                                "decimal(38,12)"
                            ),
                        ),
                        F.lit(0).cast("decimal(38,12)"),
                        lambda a, x: (a + x).cast("decimal(38,12)"),
                        lambda a: a.cast("double"),
                    )
                ),
                6,
            ).alias("cdist"),
        )
    )


def _join_side(with_dist: DataFrame, s: str) -> DataFrame:
    """(_id{s}, label, _v{s}, _d{s}): one side of a within-cluster
    join over :func:`_centroid_distances` rows."""
    return with_dist.select(
        F.col("_id").alias(f"_id{s}"),
        "label",
        F.col("_v").alias(f"_v{s}"),
        F.col("cdist").alias(f"_d{s}"),
    )


def _dominated_within(with_dist: DataFrame, threshold: float) -> DataFrame:
    """(_id) of every vector dominated inside its own cluster: some
    same-label vector with higher priority (cdist DESC, id ASC) has
    6dp cosine >= threshold to it — the within-cluster self-equi-join
    on the label key shared by semdedup and semdedup_delta. Ids repeat
    once per dominator; callers dedupe."""
    from ..functions.vectors import cosine

    return (
        _join_side(with_dist, "a")
        .join(_join_side(with_dist, "b"), "label")
        .filter(F.col("_ida") != F.col("_idb"))
        .filter(F.round(cosine("_va", "_vb"), 6) >= F.lit(threshold))
        .filter(
            (F.col("_da") > F.col("_db"))
            | ((F.col("_da") == F.col("_db")) & (F.col("_ida") < F.col("_idb")))
        )
        .select(F.col("_idb").alias("_id"))
    )


def _semdedup_kept(
    with_dist: DataFrame, dominated: DataFrame, id_col: str, label_col: str
) -> DataFrame:
    """(id, label, cdist, kept): kept = the vector's id is not in the
    distinct ``dominated`` id set."""
    return with_dist.join(
        dominated.withColumn("_dom", F.lit(True)), "_id", "left"
    ).select(
        F.col("_id").alias(id_col),
        F.col("label").alias(label_col),
        "cdist",
        F.coalesce(~F.col("_dom"), F.lit(True)).alias("kept"),
    )


def semdedup(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """SEMANTIC deduplication within embedding clusters (Abbas, Tirumala,
    Simig, Ganguli & Morcos, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", 2023) — the embedding-space
    twin of lexical paragraph dedup: semantic duplicates (paraphrases,
    templated rewrites, near-identical translations) share no shingles,
    so MinHash never sees them, but they land in the same k-means cluster
    with high pairwise cosine.

    Semantics (deterministic, non-iterative): within each cluster, a
    vector's PRIORITY is its distance to the cluster centroid DESC
    (SemDeDup keeps the LOW-centroid-similarity exemplar — the most
    atypical member carries the most marginal information), tie-broken
    by id ASC. A vector is REMOVED iff some same-cluster vector with
    higher priority has cosine >= threshold to it ("dominated by a
    kept-or-better tau-neighbor"). Chains (a~b, b~c, a!~c) remove both b
    and c — the paper's epsilon-ball greedy has the same ambiguity; this
    rule is order-free and exactly replayable in SQL.

    Scale shape: the centroid table is labels-sized (decimal-summed
    means, broadcast back); the only data-sized exchange is the
    within-cluster self-equi-join on the label key — bounded per cluster
    by the SemDeDup contract itself (k-means k grows with n precisely so
    clusters stay audit-sized); dominance is a pair-local expression +
    one groupBy(id) max. No all-pairs anywhere, no window over the
    corpus, no collect.

    Cross-engine determinism: centroid-distance terms round at 9dp and
    ride a DECIMAL fold (order-free), the distance rounds at 6dp BEFORE
    the priority comparison (a bit-exact compare on raw libm sqrt
    output would be fragile), and cosine rounds at 6dp (the q43 rule).

    Output: one row per vector — (id, label, cdist 6dp, kept boolean).
    """
    cents = label_centroids(emb, vec_col, label_col)
    with_dist = _centroid_distances(emb, cents, id_col, vec_col, label_col)
    dominated = _dominated_within(with_dist, threshold).distinct()
    return _semdedup_kept(with_dist, dominated, id_col, label_col)


def adjusted_rand_index(
    labels_a: DataFrame,
    labels_b: DataFrame,
    id_col: str = "vec_id",
    a_col: str = "label",
    b_col: str = "label",
) -> DataFrame:
    """Adjusted Rand Index between two labelings of the same items
    (Hubert & Arabie 1985) — the clustering-agreement score a dedup
    pipeline uses to compare labelings across thresholds, algorithm
    versions, or the cheap-vs-expensive path (e.g. LSH buckets vs
    k-means structure): 1 = identical partitions, ~0 = chance
    agreement, negative = worse than chance.

    Everything reduces to the contingency table: ONE id-keyed inner
    equi-join (items missing from either labeling drop — they have no
    pair to agree on) + one (a, b) count aggregate (contingency-sized)
    + marginal re-aggregates of THAT table, never a second data pass.
    All pair counts C(x,2) = x(x-1)/2 are carried as DECIMAL(38,0) —
    exact far past the LONG overflow at n ~ 4·10^9 items — and the
    final ARI is a fixed IEEE expression of four exact operands.

    Output one row: (n, n_clusters_a, n_clusters_b, ari 6dp). Both
    partitions trivial (all-one-cluster or all-singletons on both
    sides) makes the adjustment denominator 0 → NULL ari (documented;
    the score is undefined there, not 1).
    """
    c2 = lambda x: (  # noqa: E731
        x.cast("decimal(38,0)") * (x - 1).cast("decimal(38,0)") / 2
    ).cast("decimal(38,0)")
    a = labels_a.select(F.col(id_col).alias("_id"), F.col(a_col).alias("_la"))
    b = labels_b.select(F.col(id_col).alias("_id"), F.col(b_col).alias("_lb"))
    cont = a.join(b, "_id").groupBy("_la", "_lb").agg(
        F.count(F.lit(1)).alias("_nij")
    )
    sij = cont.agg(
        F.sum(c2(F.col("_nij"))).alias("_sij"),
        F.sum("_nij").alias("_n"),
        F.countDistinct("_la").alias("n_clusters_a"),
        F.countDistinct("_lb").alias("n_clusters_b"),
    )
    sa = (
        cont.groupBy("_la")
        .agg(F.sum("_nij").alias("_ai"))
        .agg(F.sum(c2(F.col("_ai"))).alias("_sa"))
    )
    sb = (
        cont.groupBy("_lb")
        .agg(F.sum("_nij").alias("_bj"))
        .agg(F.sum(c2(F.col("_bj"))).alias("_sb"))
    )
    joined = sij.crossJoin(F.broadcast(sa)).crossJoin(F.broadcast(sb))
    cn2 = c2(F.col("_n"))
    expected = (
        F.col("_sa").cast("double")
        * F.col("_sb").cast("double")
        / cn2.cast("double")
    )
    ari = F.try_divide(
        F.col("_sij").cast("double") - expected,
        (F.col("_sa").cast("double") + F.col("_sb").cast("double"))
        / F.lit(2.0)
        - expected,
    )
    return joined.select(
        F.col("_n").cast("long").alias("n"),
        "n_clusters_a",
        "n_clusters_b",
        F.round(ari, 6).alias("ari"),
    )


def prototypicality(
    emb: DataFrame,
    z_threshold: float = 2.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-cluster prototypicality / outlier scoring in embedding space
    (Sorscher et al. 2022, "Beyond neural scaling laws": distance to
    the k-means centroid is the self-supervised prototypicality metric
    their pruning ranks by): each vector's centroid distance is
    z-scored WITHIN its cluster, so 'atypical' is relative to the
    cluster's own spread — the companion readout to ``semdedup``
    (which removes the redundant core; this flags the noisy fringe —
    OCR garbage, mislabeled modality, off-distribution scrapes).

    Plan: centroid table is labels-sized (broadcast); per-label
    mean/std are ONE map-combined aggregate of the distances frame
    (labels-sized output, broadcast back). No self-join, no window —
    strictly cheaper than semdedup on the same input.

    Cross-engine exactness: distances 6dp (shared helper); moment sums
    ride DECIMAL with 9dp-rounded squares; z rounds at 6dp. Singleton
    clusters (or zero-variance clusters) have no spread to score
    against: z is NULL and ``is_outlier`` false.

    Output: (id, label, cdist, z, is_outlier).
    """
    cents = label_centroids(emb, vec_col, label_col)
    d = _centroid_distances(emb, cents, id_col, vec_col, label_col)
    # cdist is 6dp, so decimal(18,6) is EXACT and its square is an exact
    # decimal(37,12) — no 9dp round of the product, whose 12-digit true
    # value can tie at the 10th digit and split on engine rounding modes
    # (caught by the q411 pre-verification at sf0.001).
    c6 = F.col("cdist").cast("decimal(18,6)")
    stats = d.groupBy("label").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(c6).cast("double").alias("_s"),
        F.sum((c6 * c6).cast("decimal(38,12)")).cast("double").alias("_ss"),
    )
    joined = d.join(F.broadcast(stats), "label")
    nn = F.col("_n").cast("double")
    mean = F.col("_s") / nn
    var = F.try_divide(
        F.col("_ss") - F.col("_s") * F.col("_s") / nn, nn - 1
    )
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    z = F.round(
        F.try_divide(F.col("cdist") - mean, F.when(sd > 0, sd)), 6
    )
    return joined.select(
        F.col("_id").alias(id_col),
        F.col("label").alias(label_col),
        "cdist",
        z.alias("z"),
        F.coalesce(F.abs(z) > F.lit(float(z_threshold)), F.lit(False)).alias(
            "is_outlier"
        ),
    )


def semdedup_delta(
    new: DataFrame,
    old_kept: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """INCREMENTAL SemDeDup — the q365 delta-CC pattern applied to
    q375's semantic dedup: a new ingest batch is deduplicated against a
    FROZEN prior state (the previously KEPT vectors + the persisted
    per-label centroid table) without re-touching the old corpus. Work
    scales with the batch and the clusters it lands in, never the
    archive.

    Frozen-state contract (what makes it incremental AND deterministic):
    old survivors are IMMUTABLE — a new vector can never evict one —
    and centroid distances for the batch are measured against the
    FROZEN centroids (re-centering would change old priorities and
    force a full re-run; the drift is the price of incrementality, and
    a periodic full ``semdedup`` re-base resets it — exactly the
    t-digest/delta-CC maintenance story).

    Removal rule for a new vector v (same dominance semantics as
    ``semdedup``, with the frozen tier always senior): v is removed iff
    some same-cluster OLD KEPT vector has cosine >= threshold to it, OR
    some same-cluster NEW vector with higher priority (frozen-centroid
    distance DESC, id ASC) has cosine >= threshold. With an EMPTY old
    state and centroids built from the batch itself this reduces
    exactly to ``semdedup(new)`` (pytest-pinned law).

    Plan: two within-cluster equi-joins on the label key (new x old_kept
    and new x new — both bounded by the SemDeDup cluster-size contract),
    centroids broadcast. No corpus-wide anything.

    Output: one row per NEW vector — (id, label, cdist, kept).
    """
    from ..functions.vectors import cosine

    nd = _centroid_distances(new, centroids, id_col, vec_col, label_col)
    o = old_kept.select(
        F.col(label_col).alias("label"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_vo"),
    )
    dom_old = (
        o.join(_join_side(nd, "b"), "label")
        .filter(F.round(cosine("_vo", "_vb"), 6) >= F.lit(threshold))
        .select(F.col("_idb").alias("_id"))
    )
    dominated = _dominated_within(nd, threshold).union(dom_old).distinct()
    return _semdedup_kept(nd, dominated, id_col, label_col)


def cluster_validity(
    emb: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Internal cluster-validity indices over a labeled embedding set —
    the two classical k-selection/partition-quality readouts next to
    :func:`silhouette_simplified` (per-cluster cohesion) and
    :func:`adjusted_rand_index` (external agreement):

    - **Calinski–Harabasz** (Calinski & Harabasz 1974, the "variance
      ratio criterion"): CH = (B/(k−1)) / (W/(n−k)) with B the
      between-cluster scatter Σ n_c·‖μ_c − μ‖² and W the
      within-cluster scatter Σ‖x − μ_{c(x)}‖² — higher = tighter,
      better-separated clusters; the standard elbow statistic.
    - **Davies–Bouldin** (Davies & Bouldin, TPAMI 1979):
      DB = (1/k)·Σ_i max_{j≠i} (s_i + s_j)/d_ij with s_i the mean
      distance to the i-th centroid and d_ij the centroid separation
      — lower = better; penalizes the WORST neighbor per cluster.

    Scale shape: ONE decimal-summed centroid build (labels×d exploded
    rows), ONE labels-sized broadcast join scoring each vector against
    its OWN centroid only (the :func:`_centroid_distances` step —
    strictly cheaper than silhouette's all-centroids scoring), one
    label reduce to (s_i, n_c, W_c); the global centroid, B, and the
    labels² pairwise d_ij all live on labels-sized frames. Nothing
    all-pairs over vectors.

    Exactness: per-element squared terms 9dp on DECIMAL(38,12) folds
    (the q309/q43 convention); cdist 6dp from the shared helper; W
    sums round(cdist², 9); every emitted index is fixed-form IEEE on
    identical doubles, 6dp. k = 1 degrades both indices to NULL
    (undefined); n = k degrades CH to NULL.

    Output: ONE row — (n, n_clusters, calinski_harabasz,
    davies_bouldin).
    """
    cents = label_centroids(emb, vec_col, label_col)
    # _centroid_distances wants an id column; only (label, cdist) is
    # consumed here, so a constant satisfies the contract
    dists = _centroid_distances(
        emb.withColumn("__cv_id", F.lit(0)), cents, "__cv_id", vec_col,
        label_col,
    )
    dec = "decimal(38,12)"
    per_label = dists.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_c"),
        (
            F.sum(F.col("cdist").cast(dec)).cast("double")
            / F.count(F.lit(1))
        ).alias("s_i"),
        F.sum(F.round(F.col("cdist") * F.col("cdist"), 9).cast(dec)).alias(
            "_w_c"
        ),
    )
    # global centroid per dim over ALL vectors (decimal means)
    exploded = emb.select(
        F.posexplode(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("dim", "x")
    )
    gcent = exploded.groupBy("dim").agg(
        (
            F.sum(F.round(F.col("x"), 9).cast(dec)).cast("double")
            / F.count(F.lit(1))
        ).alias("g")
    )
    cent_dims = cents.select(
        "label", F.posexplode("centroid").alias("dim", "c")
    )
    b_per_label = (
        cent_dims.join(F.broadcast(gcent), "dim")
        .groupBy("label")
        .agg(
            F.sum(
                F.round((F.col("c") - F.col("g")) * (F.col("c") - F.col("g")), 9)
                .cast(dec)
            ).alias("_b_c")
        )
    )
    stats = per_label.join(b_per_label, "label")
    tot = stats.agg(
        F.sum("n_c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum(F.col("_w_c")).cast("double").alias("_w"),
        F.sum(
            F.round(F.col("n_c") * F.col("_b_c").cast("double"), 9).cast(dec)
        )
        .cast("double")
        .alias("_b"),
    )
    # pairwise centroid distances over the labels-sized frame
    ci = cent_dims.select(
        F.col("label").alias("_li"), F.col("dim"), F.col("c").alias("_ci")
    )
    cj = cent_dims.select(
        F.col("label").alias("_lj"), F.col("dim"), F.col("c").alias("_cj")
    )
    d_ij = (
        ci.join(cj, "dim")
        .filter(F.col("_li") != F.col("_lj"))
        .groupBy("_li", "_lj")
        .agg(
            F.round(
                F.sqrt(
                    F.sum(
                        F.round(
                            (F.col("_ci") - F.col("_cj"))
                            * (F.col("_ci") - F.col("_cj")),
                            9,
                        ).cast(dec)
                    ).cast("double")
                ),
                6,
            ).alias("_d")
        )
    )
    si = stats.select(F.col("label").alias("_li"), F.col("s_i").alias("_si"))
    sj = stats.select(F.col("label").alias("_lj"), F.col("s_i").alias("_sj"))
    ratios = (
        d_ij.join(si, "_li")
        .join(sj, "_lj")
        .groupBy("_li")
        .agg(
            F.max(
                F.when(
                    F.col("_d") > 0,
                    (F.col("_si") + F.col("_sj")) / F.col("_d"),
                )
            ).alias("_r")
        )
    )
    db = ratios.agg(
        (
            F.sum(F.round(F.col("_r"), 9).cast(dec)).cast("double")
            / F.count(F.lit(1))
        ).alias("_db"),
        F.count(F.lit(1)).alias("_kr"),
    )
    k = F.col("n_clusters")
    n = F.col("n")
    ch = F.when(
        (k > 1) & (n > k),
        (F.col("_b") / (k - 1)) / (F.col("_w") / (n - k)),
    )
    return tot.crossJoin(F.broadcast(db)).select(
        "n",
        "n_clusters",
        F.round(ch, 6).alias("calinski_harabasz"),
        F.round(F.when(k > 1, F.col("_db")), 6).alias("davies_bouldin"),
    )
