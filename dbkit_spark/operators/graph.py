"""Distributed graph analytics over undirected edge lists.

The module holds eight public operators: the one-shot join-shaped
kernels ``triangle_stats``, ``link_prediction_features``,
``modularity`` and ``degree_assortativity``, the iterative
``label_propagation``, ``k_core`` and ``bfs_hops``, and the
``canonical_edges`` input normalizer they share. Connected components
live in ``llm/cluster.py`` (the dedup pipeline's transitive closure);
PageRank is catalog query q177 on ``operators.iterate.iterate_fixed``.
North-star surface: the reference implements no graph operators (its
`operation/mod.rs` roadmap stops at relational ops).

Every operator here and in ``llm/cluster.py`` and
``operators/identity.py`` shares one edge model, written once each:
``_stubs`` turns undirected pairs into the directed stub list (each
pair in both directions), ``_degree_table`` counts a node's stubs, and
``_relabel`` maps ids through an (id, cluster_id) table with every
missing id its own singleton cluster.

Triangles are counted on a DEGREE-ORIENTED graph — every
undirected edge points from its lower-(degree, id) endpoint to the
higher one. The orientation is acyclic, so each triangle is counted
exactly once (at its unique two-out-edge apex), and the per-node
out-degree is bounded by O(√m) on any graph, which bounds the wedge
join to O(m^{3/2}) — the classic node-iterator++ bound — instead of
Σ deg² blowup on hub nodes. All joins are equi-joins (no NLJ); the
wedge→edge verification is a join on the (lo, hi) edge key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .iterate import checkpoint_and_release, held, iterate_fixed, iterate_until_fixpoint


def canonical_edges(
    df: DataFrame, src_col: str, dst_col: str
) -> DataFrame:
    """Distinct undirected edge set as (a, b) with a < b; self-loops
    dropped. One distinct-shuffle on the canonical pair."""
    a = F.least(F.col(src_col), F.col(dst_col))
    b = F.greatest(F.col(src_col), F.col(dst_col))
    return (
        df.filter(F.col(src_col) != F.col(dst_col))
        .select(a.alias("a"), b.alias("b"))
        .distinct()
    )


def _stubs(pairs: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """(src, dst) stub list of the undirected pairs (a, b): every pair
    once in each direction, so a node's neighbors are the ``dst`` of its
    ``src`` rows."""
    return pairs.select(F.col(a).alias("src"), F.col(b).alias("dst")).unionByName(
        pairs.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    )


def _degree_table(stubs: DataFrame) -> DataFrame:
    """(node, degree) over a stub list: a node's degree is its stub
    count. Column pruning reads only ``src``, so the plan is the
    ``a ∪ b`` endpoint union."""
    return stubs.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("degree")
    )


def _relabel(df: DataFrame, labels: DataFrame, key: str) -> DataFrame:
    """``df`` + ``cluster_id``: the label of ``key`` in the (id,
    cluster_id) table ``labels`` (left join); a key the table lacks is
    its own singleton cluster (coalesce to the key)."""
    lab = labels.withColumnRenamed("id", "__cc_id")
    return (
        df.join(lab, df[key] == lab["__cc_id"], "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col(key)))
        .drop("__cc_id")
    )


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Global triangle census of an undirected simple graph.

    Input: canonical edges (a, b), a < b, distinct (see
    ``canonical_edges``). Output: one row —
    (n_nodes, n_edges, n_wedges, n_triangles, clustering) where
    clustering = 3·triangles / wedges (the global/transitivity
    coefficient, rounded to 6dp — the one division of exact integers).

    Plan: degree agg (one exchange) → broadcast-or-shuffle join of
    degrees onto edges → wedge self-join on the oriented source →
    closing-edge equi-join on the canonical pair → count. Wedges
    (open+closed triads) come from the degree table alone:
    Σ deg·(deg−1)/2, exact BIGINT.
    """
    deg = _degree_table(_stubs(edges))
    # orient: lower (deg, node) -> higher (deg, node); total order, so
    # the oriented graph is acyclic and out-degree is O(sqrt(m))
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("_dega"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("_degb"))
    keyed = edges.join(da, "a").join(db, "b")
    a_first = (F.col("_dega") < F.col("_degb")) | (
        (F.col("_dega") == F.col("_degb")) & (F.col("a") < F.col("b"))
    )
    oriented = keyed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
    )
    # wedges at the apex: pairs of out-neighbors; closing edge looked up
    # by canonical (lo, hi) key in the undirected set
    e1 = oriented.select(F.col("src"), F.col("dst").alias("v"))
    e2 = oriented.select(F.col("src"), F.col("dst").alias("w"))
    apex_pairs = e1.join(e2, "src").filter(F.col("v") < F.col("w"))
    closing = edges.select(F.col("a").alias("v"), F.col("b").alias("w"))
    tri_cnt = (
        apex_pairs.join(closing, ["v", "w"])
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    edge_cnt = edges.agg(F.count("*").cast("long").alias("n_edges"))
    # per-node wedge count is computed with integer DIV so the sum stays
    # exact BIGINT at any scale (a double sum loses exactness past 2^53)
    stats = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum(F.expr("CAST(degree * (degree - 1) DIV 2 AS BIGINT)"))
        .cast("long")
        .alias("n_wedges"),
    )
    # single job: the three 1-row aggregates meet in broadcast cross
    # joins (the q168 scalar-subquery pattern — no driver collect)
    out = (
        stats.crossJoin(F.broadcast(edge_cnt))
        .crossJoin(F.broadcast(tri_cnt))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 6
            ).alias("clustering"),
        )
    )
    return checkpoint_and_release(out, edges, deg, oriented)


def label_propagation(
    edges: DataFrame,
    n_rounds: int = 5,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Synchronous label-propagation community detection (LPA) with a
    DETERMINISTIC tie-break: each round every node adopts the most
    frequent label among its neighbors, ties resolved to the smallest
    label. Raw LPA is order-dependent and can oscillate; fixing the
    tie-break and the round count (the ``iterate_fixed`` PageRank
    discipline — bounded iterations ARE the spec) makes the result a
    pure function of the graph, reproducible across engines, which is
    what lets an unrolled-CTE oracle pin it bit-for-bit.

    Input: canonical undirected edges (a, b) from ``canonical_edges``.
    Output: (node, label) — nodes sharing a label form a community.

    Per round: one labels⋈edges shuffle + one (node, label) count agg +
    one node-keyed window rank — O(edges) work, lineage truncated per
    round. Initial labels are the node ids themselves.
    """
    und = _stubs(edges)
    labels0 = und.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )

    def step(labels: DataFrame) -> DataFrame:
        nbr = und.join(labels, und["dst"] == labels["node"]).select(
            und["src"].alias("node"), labels["label"]
        )
        cnt = nbr.groupBy("node", "label").agg(F.count("*").alias("_c"))
        w = Window.partitionBy("node").orderBy(
            F.col("_c").desc(), F.col("label").asc()
        )
        return (
            cnt.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select("node", "label")
        )

    with held(und):
        return iterate_fixed(labels0, step, n_rounds, checkpoint_dir)


def k_core(
    edges: DataFrame,
    k: int,
    max_rounds: int = 50,
) -> DataFrame:
    """The k-CORE of an undirected graph: the maximal subgraph where
    every node has degree ≥ k — the standard "dense backbone" filter
    before community/triangle analysis (peeling spam tendrils off a
    link graph, inactive users off an interaction graph).

    Algorithm: iterative peeling. Each round drops nodes whose degree
    in the CURRENT subgraph is < k, then drops edges touching them;
    fixpoint when no node is dropped. Each round is one degree
    aggregation + one semi-join on each edge endpoint — two keyed
    shuffles, no NLJ — and the edge set only shrinks, so the edge
    count is a monotone convergence measure. The loop is
    :func:`~dbkit_spark.operators.iterate.iterate_until_fixpoint`
    (per-round lineage truncation, one count per round); it raises
    ``RuntimeError`` when ``max_rounds`` peels do not reach the
    fixpoint (real graphs peel in a handful of rounds — the fixture
    converges in ≤ 5; a path of n nodes needs about n/2).

    Input: canonical (a, b) edges (see :func:`canonical_edges`).
    Output: the surviving node set with its core degree
    (node, degree) — degree ≥ k by construction.
    """
    def peel(cur: DataFrame) -> DataFrame:
        keep = _degree_table(_stubs(cur)).filter(F.col("degree") >= k).select("node")
        return (
            cur.join(
                keep.withColumnRenamed("node", "a"), "a", "left_semi"
            ).join(keep.withColumnRenamed("node", "b"), "b", "left_semi")
        ).select("a", "b")

    core = iterate_until_fixpoint(
        edges, peel, measure=DataFrame.count, max_iter=max_rounds
    )
    return _degree_table(_stubs(core))


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
) -> DataFrame:
    """Multi-source BFS: minimum hop distance from any seed node —
    level-synchronous frontier expansion, the building block behind
    "within-N-hops-of-a-bad-actor" fraud sweeps and link-graph crawl
    frontiers.

    Input: canonical undirected (a, b) edges (``canonical_edges``) and
    a ``sources`` frame with a ``node`` column (distance 0 seeds).
    Output: (node, hops) for every node within ``max_hops`` of a seed —
    unreachable nodes are absent, matching the recursive-SQL shape.

    Per round: the FRONTIER (nodes first reached last round — not the
    whole visited set) joins the edge list once, minus already-visited
    via left_anti — two keyed shuffles on frontier-sized inputs. Work
    per round is O(edges incident to the frontier), total O(E) across
    the sweep, never O(E × rounds): the classic frontier optimization
    that makes level-synchronous BFS viable at graph scale. Lineage is
    truncated per round (eager localCheckpoint, the iterate-family
    rule); an O(1) empty-frontier probe stops early.
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    und = _stubs(edges)
    with held(und):
        visited = (
            sources.select("node").distinct().withColumn("hops", F.lit(0))
        ).localCheckpoint(eager=True)
        frontier = visited.select("node")
        for depth in range(1, max_hops + 1):
            nxt = (
                und.join(frontier, und["src"] == frontier["node"])
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(visited.select("node"), "node", "left_anti")
                .withColumn("hops", F.lit(depth))
            ).localCheckpoint(eager=True)
            if nxt.isEmpty():
                break
            visited = visited.unionByName(nxt).localCheckpoint(eager=True)
            frontier = nxt.select("node")
        return visited


def link_prediction_features(
    edges: DataFrame,
    max_degree: int | None = 1000,
) -> DataFrame:
    """Neighborhood-overlap features for NON-edges — the classic link
    prediction / recommendation candidate scorer: for every pair (a, b)
    sharing at least one neighbor and not already connected, emit
    common-neighbor count, Jaccard overlap of neighborhoods, and
    Adamic–Adar (Σ 1/ln(deg(w)) over common neighbors w — rare shared
    neighbors count more; w touches both endpoints so deg(w) ≥ 2 and
    ln never hits zero).

    Scale shape: candidate pairs come from ONE wedge self-join on the
    shared endpoint (the triangle-census join pattern), degrees from
    one aggregation broadcast-sized per distinct node, existing edges
    removed with a left_anti. Wedge volume is Σ deg(w)² — hub nodes
    explode it, so ``max_degree`` drops hubs from the WEDGE CENTER role
    first (the standard link-prediction mitigation; a celebrity
    connecting two users is weak evidence anyway, which is exactly what
    Adamic–Adar's 1/ln(deg) encodes). Adamic–Adar rounds at 6dp: ln()
    is not correctly-rounded across libm implementations (q262 rule);
    the terms are decimal-summed so the reduction is order-free.

    Input: canonical (a, b) edges. Output: (a, b, common_neighbors,
    jaccard, adamic_adar) for candidate pairs with a < b.
    """
    und = _stubs(edges)
    deg = _degree_table(und)
    centers = deg if max_degree is None else deg.filter(
        F.col("degree") <= max_degree
    )
    # wedges through each (degree-capped) center w: (u, w, v), u < v
    e1 = und.select(F.col("dst").alias("w"), F.col("src").alias("u"))
    e2 = und.select(F.col("dst").alias("w2"), F.col("src").alias("v"))
    wedges = (
        e1.join(centers.select(F.col("node").alias("w"), "degree"), "w")
        .join(e2, F.col("w") == F.col("w2"))
        .filter(F.col("u") < F.col("v"))
        .select("u", "v", "w", F.col("degree").alias("deg_w"))
    )
    term = F.round(
        F.lit(1.0) / F.log(F.col("deg_w").cast("double")), 9
    ).cast("decimal(25,9)")
    scored = wedges.groupBy("u", "v").agg(
        F.count(F.lit(1)).alias("common_neighbors"),
        F.sum(term).alias("_aa"),
    )
    cand = scored.join(
        edges.select(F.col("a").alias("u"), F.col("b").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("deg_v"))
    return (
        cand.join(du, "u")
        .join(dv, "v")
        .select(
            F.col("u").alias("a"),
            F.col("v").alias("b"),
            "common_neighbors",
            F.round(
                F.col("common_neighbors").cast("double")
                / (
                    F.col("deg_u") + F.col("deg_v") - F.col("common_neighbors")
                ).cast("double"),
                9,
            ).alias("jaccard"),
            F.round(F.col("_aa").cast("double"), 6).alias("adamic_adar"),
        )
    )


def modularity(
    edges: DataFrame, communities: DataFrame, node_col: str, comm_col: str
) -> DataFrame:
    """Newman modularity Q of a GIVEN partition over an undirected
    graph — the quality score for any community assignment (label
    propagation output, registered-domain grouping, tenant sharding):
    Q = Σ_c [ m_c/m − (d_c/(2m))² ] where m = |edges|, m_c =
    intra-community edges of c, d_c = Σ degrees of c's nodes. Output:
    one row per community (community, n_nodes, intra_edges, degree_sum,
    q_contrib) — Q itself is ``sum(q_contrib)``, left per-community so
    the score decomposes (which communities are cohesive, which are
    noise).

    Input: canonical edges (a, b) from :func:`canonical_edges`;
    ``communities`` maps every node to exactly one community. Nodes
    absent from the map contribute nothing (documented: filter-join
    semantics, inner).

    Scale: two broadcast-able joins tagging each edge endpoint with its
    community (the community map is nodes-sized — small next to edges;
    AQE broadcasts it), then two map-side-combined aggs (per-community
    degree sums from edges directly — no separate degree table, each
    canonical edge contributes 1 to both endpoints). No window, no
    collect; output is communities-sized metadata.
    """
    # both the community map and the tagged edge set feed 2-3 downstream
    # branches — held so the corpus is scanned once per input, not
    # once per branch
    cmap = communities.select(
        F.col(node_col).alias("_node"), F.col(comm_col).alias("_comm")
    )
    tagged = (
        edges.join(
            cmap.withColumnRenamed("_comm", "_ca"),
            edges["a"] == F.col("_node"),
        )
        .drop("_node")
        .join(
            cmap.withColumnRenamed("_comm", "_cb"),
            edges["b"] == F.col("_node"),
        )
        .drop("_node")
    )
    m = tagged.agg(F.count("*").cast("long").alias("_m"))
    # per-community degree sum: each edge adds 1 to each endpoint's side
    deg = (
        tagged.select(F.col("_ca").alias("community"))
        .unionAll(tagged.select(F.col("_cb").alias("community")))
        .groupBy("community")
        .agg(F.count("*").cast("long").alias("degree_sum"))
    )
    intra = (
        tagged.filter(F.col("_ca") == F.col("_cb"))
        .groupBy(F.col("_ca").alias("community"))
        .agg(F.count("*").cast("long").alias("intra_edges"))
    )
    nodes = (
        cmap.groupBy(F.col("_comm").alias("community"))
        .agg(F.count("*").cast("long").alias("n_nodes"))
    )
    out = (
        nodes.join(deg, "community", "left")
        .join(intra, "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            "n_nodes",
            F.coalesce("intra_edges", F.lit(0)).alias("intra_edges"),
            F.coalesce("degree_sum", F.lit(0)).alias("degree_sum"),
            F.col("_m").alias("_m"),
        )
    )
    two_m = 2.0 * F.col("_m").cast("double")
    out = out.select(
        "community",
        "n_nodes",
        "intra_edges",
        "degree_sum",
        (
            F.col("intra_edges").cast("double") / F.col("_m")
            - (F.col("degree_sum").cast("double") / two_m)
            * (F.col("degree_sum").cast("double") / two_m)
        ).alias("q_contrib"),
    )
    return checkpoint_and_release(out, cmap, tagged)


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity + degree summary of an undirected simple
    graph — the one-number answer to "do hubs link to hubs?" (positive:
    social graphs; negative: web/biology). Assortativity is the Pearson
    correlation of endpoint degrees over all 2m DIRECTED edge stubs;
    spam/bot link farms show up as strongly negative r before any
    content signal does, which is why crawl-frontier scoring runs this
    next to `triangle_stats`.

    Input: canonical edges (a, b), a < b, distinct (see
    ``canonical_edges``). Output: ONE row — (n_nodes, n_edges,
    max_degree, assortativity).

    Portability: by stub symmetry r = (4m·Sxy − S1²)/(2m·Sxx − S1²)
    with S1 = Σ(dega+degb), Sxy = Σ dega·degb, Sxx = Σ(dega²+degb²)
    over edges — ALL-INTEGER numerator and denominator, so r is ONE
    IEEE division of exact longs, bit-portable unrounded (degree sums
    fit a long through ~10^9-stub graphs; beyond that promote the two
    products to DECIMAL(38,0)).

    Plan: one degree agg (node-keyed exchange), two node-keyed joins to
    tag endpoint degrees (the degree table is nodes-sized — AQE
    broadcasts it for dim-sized graphs, shuffles on the node key
    otherwise), one global agg. No windows, no collect. Both the edge
    set and the degree table feed multiple branches — held so the
    edge corpus is scanned once, not once per branch.
    """
    deg = _degree_table(_stubs(edges))
    tagged = edges.join(
        deg.select(F.col("node").alias("a"), F.col("degree").alias("da")), "a"
    ).join(deg.select(F.col("node").alias("b"), F.col("degree").alias("db")), "b")
    agg = tagged.agg(
        F.count("*").cast("long").alias("n_edges"),
        F.sum(F.col("da") + F.col("db")).alias("s1"),
        F.sum(F.col("da") * F.col("db")).alias("sxy"),
        F.sum(
            F.col("da") * F.col("da") + F.col("db") * F.col("db")
        ).alias("sxx"),
    )
    nstats = deg.agg(
        F.count("*").alias("n_nodes"), F.max("degree").alias("max_degree")
    )
    m = F.col("n_edges")
    num = (4 * m * F.col("sxy") - F.col("s1") * F.col("s1")).cast("double")
    den = (2 * m * F.col("sxx") - F.col("s1") * F.col("s1")).cast("double")
    out = nstats.crossJoin(agg).select(
        "n_nodes",
        "n_edges",
        "max_degree",
        F.when(den != 0, num / den).otherwise(F.lit(0.0)).alias(
            "assortativity"
        ),
    )
    return checkpoint_and_release(out, edges, deg)
