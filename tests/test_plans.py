"""Plan-quality tests (the 100 TB contract, SURVEY.md §4/§7.4):
pushdown reaches the scan, projections prune the read schema, small dims
broadcast, rewrites of non-native joins avoid nested-loop plans."""

from __future__ import annotations

from pyspark.sql import functions as F

from dbkit_spark.catalog import load_all
from dbkit_spark.plans import (
    assert_broadcast_join,
    assert_no_nested_loop_join,
    pushed_filters,
    read_schema_columns,
)
from dbkit_spark.plans.explain_utils import join_strategies
from dbkit_spark.sources import read_table

CATALOG = load_all()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = CATALOG["q03_filter_predicates"].fn(spark, sf_dir)
    pushed = pushed_filters(df)
    assert any("l_shipdate" in p for p in pushed), pushed
    assert any("l_returnflag" in p for p in pushed), pushed


def test_column_pruning(spark, sf_dir):
    df = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    cols = read_schema_columns(df)
    assert set(cols) == {"l_orderkey", "l_quantity"}, cols


def test_small_dim_join_broadcasts(spark, sf_dir):
    df = CATALOG["q07_join_3way_revenue"].fn(spark, sf_dir)
    assert_broadcast_join(df)


def test_fact_dim_broadcast(spark, sf_dir):
    df = CATALOG["q10_join_broadcast_brand"].fn(spark, sf_dir)
    assert_broadcast_join(df)


def test_asof_join_no_nlj(spark, sf_dir):
    df = CATALOG["q12_asof_click_view"].fn(spark, sf_dir)
    assert_no_nested_loop_join(df)


def test_range_join_no_nlj(spark, sf_dir):
    """The bin-bucket rewrite must plan as an equi-join on the bin, not a
    BroadcastNestedLoopJoin over the raw range predicate."""
    df = CATALOG["q13_range_join_tiers"].fn(spark, sf_dir)
    strategies = join_strategies(df)
    assert "BroadcastNestedLoopJoin" not in strategies, strategies
    assert "CartesianProduct" not in strategies, strategies


def test_topk_plans_take_ordered(spark, sf_dir):
    orders = read_table(spark, sf_dir, "orders")
    df = orders.orderBy(F.col("o_totalprice").desc()).limit(5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_sharded_packing_no_single_partition_exchange(spark, sf_dir):
    """q84: the shard_by window must distribute — no Exchange
    SinglePartition anywhere in the final plan (q77's unsharded form has
    exactly that, by design and documented)."""
    df = CATALOG["q84_token_packing_sharded"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "SinglePartition" not in final, final
    assert "hashpartitioning(lang" in final, final


# Streaming-replay queries execute on construction (availableNow run);
# building their DataFrame is not a pure plan inspection — exclude them.
_STREAMING = {"q37_stream_tumbling_replay", "q38_stateful_user_stats",
              "q63_stream_static_join", "q66_stream_stream_join",
              "q107_stream_incremental_upsert", "q115_stream_session_replay",
              "q207_heavy_hitters_stream_replay", "q215_streaming_dedup_ingest"}
# Queries whose nested-loop/cross joins are INTENTIONAL and bounded by
# construction (a broadcast side that is tiny by design, or an exact
# all-pairs baseline documented as verify-only):
#   q11 — cartesian of two tiny tables (5 x 25), the cross-join demo
#   q43 — corpus x broadcast(5 query vectors): the designed brute-force plan
#   q44 — exact all-pairs cosine baseline (scale path is q45/q65)
#   q65 — queries x broadcast(16 centroids) probe routing
#   q105 — customer x broadcast(1-row scalar-subquery threshold)
#   q109 — scored docs x broadcast(1-row corpus stats N/avgdl)
#   q167 — per-part values x broadcast(1-row total for fraction threshold)
#   q173 — tf rows x broadcast(1-row corpus size), q109's documented shape
#   q192 — class-ranked rows x broadcast(1-row minority-class floor)
#   (q168's scalar max crossJoin is NOT listed: its equality filter is
#   rewritten by Catalyst into a BroadcastHashJoin, so the gate holds.)
_INTENTIONAL_CROSS = {
    "q11_join_cross",
    "q43_cosine_topk",
    "q44_embedding_near_dup",
    "q65_ann_ivf",
    "q105_tpch_q22_dormant",
    "q109_bm25_topk",
    "q167_tpch_q11_important_stock",
    "q173_tfidf_topk_terms",
    "q192_balanced_downsample",
    #   q274 — truncation recall's require_small-guarded exact
    #          all-pairs baseline (probe-subset contract; full-dim
    #          recall==1.0 invariant needs the exact pairs)
    "q274_truncation_recall",
    #   q306 — hamming rerank broadcasts the QUERY SET (bounded by
    #          contract, the q43 discipline) against the packed corpus;
    #          the shortlist needs every query x corpus hamming
    #   q309 — silhouette scores every vector against every LABEL
    #          centroid (labels-count-sized broadcast; the metric's
    #          definition requires all centroids per vector)
    "q306_hamming_rerank",
    "q309_silhouette",
    #   q362 — RBO of int8-vs-exact retrieval runs BOTH rankings
    #          through cosine_topk's broadcast probe-subset crossJoin
    #          (vec_id % 100 queries — the q43 bounded-contract class)
    "q362_rbo_quantization",
    #   q366 — PQ recall@k's EXACT arm is the q43 bounded-probe
    #          broadcast crossJoin (5 query vectors vs corpus, the
    #          designed same-metric baseline); the ADC arm under test
    #          is map-only over codes and joins nothing
    "q366_pq_recall",
    #   q415 — projection_recall's require_small-guarded exact
    #          pairwise baseline (probe-subset contract at scale), the
    #          same justification as q274
    "q415_jl_projection_recall",
    #   q445 — kendall_tau_b's i<j pair enumeration is a THETA join,
    #          so Spark plans a BNLJ — over an ITEMS-SIZED frame by
    #          input contract (the q419/q420 bounded leaderboard
    #          class); items^2 is the tau-b definition, never corpus
    #          data
    "q445_kendall_tau",
}


def test_catalog_wide_no_accidental_nlj(spark):
    """Every batch catalog query's physical plan must be free of
    BroadcastNestedLoopJoin/CartesianProduct — the §7.4 failure mode where
    a non-equi join silently degrades to O(n*m). One regression gate for
    the whole catalog, STRUCTURAL: a BNLJ passes iff
    its broadcast side is provably one row (no-grouping-key aggregate /
    one-row relation). ``_INTENTIONAL_CROSS`` remains only for the legacy
    shapes whose tiny side is a FILTER or literal small table rather than
    a scalar aggregate (q11 5x25 demo, q43/q65 broadcast query/centroid
    sets, q44 guarded all-pairs baseline) — newly landed scalar-broadcast
    queries (q214, q217, q219-q241...) pass structurally, unlisted."""
    from dbkit_spark.catalog import load_all
    from dbkit_spark.plans.explain_utils import nlj_offenders

    sf = "/root/testdata/sf0.001"
    offenders = {}
    for name, spec in load_all().items():
        if name in _STREAMING or name in _INTENTIONAL_CROSS:
            continue
        bad = nlj_offenders(spec.fn(spark, sf))
        if bad:
            offenders[name] = bad
    assert not offenders, f"accidental NLJ/cartesian in: {offenders}"


def test_round2_ops_shuffle_discipline(spark, sf_dir):
    """Scale-shape gates for the round-2 operators: map-only ops plan
    zero exchanges, single-agg ops plan the minimum, top-k never
    materializes a global sort."""
    import re

    def exchanges(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return len(re.findall(r"Exchange", plan.split("== Initial Plan ==")[0]))

    # quantization is pure map-side array codegen: zero shuffles
    assert exchanges(CATALOG["q92_quantize_embeddings"].fn(spark, sf_dir)) == 0
    # PII redaction is a map-only regexp chain
    assert exchanges(CATALOG["q98_redact_pii"].fn(spark, sf_dir)) == 0
    # trailing time-range window: exactly one (user_id) exchange
    assert exchanges(CATALOG["q97_trailing_window_1h"].fn(spark, sf_dir)) == 1
    # heavy hitters: TakeOrderedAndProject, no global Sort node
    plan = (
        CATALOG["q96_heavy_hitters"].fn(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    final = plan.split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in final
    # domain mix applies as a map-only filter (the count agg is collected
    # up front; the returned frame itself must not shuffle)
    assert exchanges(CATALOG["q91_domain_mix"].fn(spark, sf_dir)) == 0


def test_extension3_shuffle_discipline(spark, sf_dir):
    """Scale-shape gates for the extension-III operators."""
    import re

    def exchanges(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return len(re.findall(r"Exchange", plan.split("== Initial Plan ==")[0]))

    # scd2: change-detect window + interval windows share ONE (user_id)
    # shuffle — Catalyst must not re-exchange between the two
    assert exchanges(CATALOG["q102_scd2_user_state"].fn(spark, sf_dir)) == 1
    # regexp surface is a pure map-only projection
    assert exchanges(CATALOG["q106_regexp_funcs"].fn(spark, sf_dir)) == 0
    # gapfill: bucket agg + bounds agg + spine join + LOCF window, no
    # nested-loop anywhere (the spine is a per-key sequence explode, not
    # a calendar cross join) and no single-partition bottleneck
    df = CATALOG["q101_gapfill_locf"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoopJoin" not in final
    assert "CartesianProduct" not in final
    assert "SinglePartition" not in final
    # bm25: final ranking is top-k, never a global sort
    plan = (
        CATALOG["q109_bm25_topk"].fn(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan.split("== Initial Plan ==")[0]
    # HOF array surface is a pure map-only projection
    assert exchanges(CATALOG["q114_hof_array_surface"].fn(spark, sf_dir)) == 0


def test_lsh_candidates_broadcast_verify_and_grouped_equivalence(spark, sf_dir):
    """q40's verify joins must broadcast the candidate side (AQE
    runtime conversion or static estimate — never a shuffle of the
    shingle arrays), with no nested loop anywhere; and the cacheless
    grouped candidate variant must produce the identical pair set.

    The plan is asserted on the pipeline built with
    ``persist_shingles=False``: the catalog q40 flips it True
    (OPTIMIZATION_r15 #6), whose eager localCheckpoint truncates the
    returned frame's executed plan to a bare ``Scan ExistingRDD`` — the
    verify-join shape would be invisible there, not absent (ADVICE r15).
    The verify joins themselves are identical in both modes."""
    import re

    from dbkit_spark.llm.dedup import minhash_near_dup_pairs
    from dbkit_spark.sources import read_table as _rt

    docs_split = _rt(spark, sf_dir, "documents", split=True)
    df = minhash_near_dup_pairs(docs_split, threshold=0.5, persist_shingles=False)
    df.write.format("noop").mode("overwrite").save()
    post = df._jdf.queryExecution().executedPlan().toString()
    final = post.split("== Initial Plan ==")[0]
    assert len(re.findall(r"BroadcastHashJoin", final)) >= 2
    assert "BroadcastNestedLoopJoin" not in final
    assert "CartesianProduct" not in final

    from dbkit_spark.llm.dedup import (
        lsh_band_keys,
        lsh_candidate_pairs,
        lsh_candidate_pairs_grouped,
        minhash_signatures,
        shingle_docs,
    )
    from dbkit_spark.sources import read_table

    docs = read_table(spark, sf_dir, "documents")
    bands = lsh_band_keys(minhash_signatures(shingle_docs(docs)))
    joined = {tuple(r) for r in lsh_candidate_pairs(bands).collect()}
    grouped = {tuple(r) for r in lsh_candidate_pairs_grouped(bands).collect()}
    assert joined == grouped and len(joined) > 0


def test_bucketed_join_plans_zero_exchanges(spark, sf_dir):
    """q144's join from bucketed tables must plan ZERO exchanges — both
    sides arrive pre-partitioned on the bucket key (the co-located join
    the bucketed write exists for)."""
    import re

    # disable broadcast: at test SFs AQE would broadcast one side and the
    # co-location claim would go untested — at 100 TB neither fact side
    # broadcasts, so the shuffle-based join path is the one that matters
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = CATALOG["q144_bucketed_colocated_join"].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    final = plan.split("== Initial Plan ==")[0]
    # ZERO exchanges below the join: both sides arrive bucketed on the
    # join key. Everything printed after the join node is its subtree
    # (the scans); the only exchanges allowed in the whole plan are the
    # post-join agg/sort ones, none hash-partitioned on the join key.
    assert len(re.findall(r"Exchange hashpartitioning\(\w*_orderkey", final)) == 0
    join_pos = final.find("SortMergeJoin")
    if join_pos == -1:
        join_pos = final.find("ShuffledHashJoin")
    assert join_pos != -1, final
    below_join = final[join_pos:]
    assert "Exchange" not in below_join, below_join


def test_dynamic_partition_pruning_in_scan(spark, sf_dir):
    """q145's partitioned-fact scan must carry a runtime dynamicpruning
    partition filter injected from the broadcast dim side."""
    df = CATALOG["q145_dynamic_partition_pruning"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


def test_hyperplane_bucket_no_per_row_hashing(spark, sf_dir):
    """The LSH bucket expression must contain NO hash calls: the ±1
    hyperplane matrix depends only on (plane, dim) literals and is
    precomputed in Python (_hyperplane_signs), so the corpus-scan pass
    pays a multiply-add fold per plane — not bits*dim md5 evaluations
    per row (the pre-round-5 shape, measured 7x slower at 256k rows)."""
    from dbkit_spark.llm.similarity import hyperplane_bucket
    from dbkit_spark.sources import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    plan = hyperplane_bucket(emb)._jdf.queryExecution().executedPlan().toString()
    assert "md5" not in plan.lower(), plan


def test_bloom_filter_join_runtime_pruning(spark, sf_dir):
    """q163's fact scan must carry the injected runtime bloom filter
    (might_contain over a bloom_filter_agg subquery built from the
    selective dim side) — the shuffle-join sibling of the q145 DPP gate.
    Also pinned: building the plan restores the session confs."""
    prev = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    df = CATALOG["q163_bloom_filter_join"].fn(spark, sf_dir)
    after = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    assert after == prev, "q163 leaked session conf changes"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" in plan, plan[:2000]
    assert "bloom_filter_agg" in plan, plan[:2000]


def test_reconcile_summary_is_partial_aggregated(spark):
    """reconcile's bucket summary must plan as partial (map-side) + final
    HashAggregate — the property that makes the checksum reduce to
    n_buckets rows BEFORE the exchange, so a 100 TB side ships only its
    summary. Also: exactly one exchange below the summary agg."""
    from dbkit_spark.operators.reconcile import bucket_summary, row_fingerprint
    from dbkit_spark.sources import read_table

    ev = read_table(spark, "/root/testdata/sf0.001", "events")
    fp = row_fingerprint([F.col("event_id"), F.col("event_type")])
    summary = bucket_summary(ev, F.col("event_id"), fp, 64)
    plan = summary._jdf.queryExecution().executedPlan().toString()
    # partial (map-side) + final HashAggregate pair proves the combine
    assert plan.count("HashAggregate") >= 2, plan
    assert "partial_sum" in plan and "partial_count" in plan, plan


def test_extension6_shuffle_discipline(spark, sf_dir):
    """Scale-shape gates for the round-5 window-family operators: each
    plans exactly its one key shuffle plus the presentation sort — no
    extra exchange, no single-partition funnel anywhere. (q181's session
    merge, q183's TWAP, q189's attribution carry, q194's weighted
    median, q195's interval union, q200's volatility all share the
    sort-once-aggregate-once shape.)"""
    import re

    def audit(name):
        df = CATALOG[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        return len(re.findall(r"Exchange", final)), "SinglePartition" in final

    for name in [
        "q181_dynamic_session_gap",
        "q183_time_weighted_avg",
        "q189_last_touch_attribution",
        "q194_weighted_median",
        "q195_interval_union",
        "q200_value_volatility",
    ]:
        n_ex, single = audit(name)
        assert n_ex == 2, (name, n_ex)
        assert not single, name
    # chunking stays map-only apart from the presentation sort
    n_ex, single = audit("q172_document_chunking")
    assert n_ex <= 1 and not single


def test_chunk_then_pack_composes_to_one_exchange(spark, sf_dir):
    """The chunk→pack pipeline (roadmap q208) must FUSE: one pruned scan
    (doc_id, text only), exactly one Exchange (the shard-keyed packing
    window), no SinglePartition — composition adds no materialization
    barrier between the two operators."""
    import re

    df = CATALOG["q208_chunk_then_pack"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert len(re.findall(r"Exchange", final)) == 1, final
    assert "SinglePartition" not in final
    assert final.count("FileScan parquet") == 1
    m = re.search(r"ReadSchema: struct<([^>]*)>", final)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "doc_id", "text"
    }, m.group(1) if m else final


def test_duplicated_spans_plan_shape(spark, sf_dir):
    """Span dedup plan rails: detection = one corpus scan + exactly two
    exchanges (gram-keyed COUNT window, doc-keyed island merge — the
    groupBy(doc, island) reuses the doc partitioning); scrub adds one
    doc-keyed join-back (3 exchanges, 2 scans). Never a SinglePartition,
    never a quadratic join."""
    import re

    from dbkit_spark.llm.dedup import duplicated_spans, remove_duplicated_spans
    from dbkit_spark.sources import read_table

    docs = read_table(spark, sf_dir, "documents")
    spans = duplicated_spans(docs, n=10)
    p1 = spans._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert len(re.findall(r"Exchange", p1)) == 2, p1
    assert "SinglePartition" not in p1 and p1.count("FileScan parquet") == 1

    scrub = remove_duplicated_spans(docs, n=10)
    p2 = scrub._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert len(re.findall(r"Exchange", p2)) == 3, p2
    assert "SinglePartition" not in p2
    for p in (p1, p2):
        assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_headline_plans_no_cartesian_no_single_partition(spark):
    """VERDICT r9 item 5: the judge's per-round explain-plan sweep over
    the full headline bench set, promoted into CI — zero
    CartesianProduct and zero Exchange SinglePartition in any final
    (post-AQE-initial) plan. The one BroadcastNestedLoopJoin the sweep
    tolerates is q43's designed 5-vector probe-subset broadcast, already
    structurally gated elsewhere in this file."""
    import bench

    sf = "/root/testdata/sf0.001"
    for name in bench.HEADLINE:
        df = CATALOG[name].fn(spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        assert "CartesianProduct" not in final, name
        assert "SinglePartition" not in final, name
