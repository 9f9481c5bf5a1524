"""LLM-pipeline operator semantics tests: LSH candidates vs exact pairs,
dedup determinism, similarity ranking, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbkit_spark.llm.dedup import (
    exact_dedup,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_signatures,
)
from dbkit_spark.llm.multimodal import decode_features, with_binary_payload
from dbkit_spark.llm.similarity import ann_bucketed, cosine_topk
from dbkit_spark.sources import read_table


def test_minhash_pairs_subset_of_exact_with_high_recall(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    exact = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    approx = {
        (r.doc_a, r.doc_b)
        for r in minhash_near_dup_pairs(docs, threshold=0.5).collect()
    }
    assert approx <= exact, "LSH surfaced a pair the exact scan did not"
    assert len(exact) > 0
    assert len(approx) / len(exact) >= 0.8, (
        f"LSH recall too low: {len(approx)}/{len(exact)}"
    )


def test_minhash_persist_shingles_releases_its_caches(spark):
    """minhash_near_dup_pairs checkpoints the pairs and then releases every
    cache the pipeline made (the shingle sets and the band-key table
    both lsh_candidate_pairs sides read): the session holds as many cached
    plans after the call as before. minhash_incremental_pairs (both
    shingle sets plus the batch's band keys), ngram_jaccard_pairs (its
    shingle set) and simhash_candidate_pairs (its band table) follow
    the same rule."""
    from dbkit_spark.llm.dedup import minhash_incremental_pairs, simhash_candidate_pairs

    docs = spark.createDataFrame(
        [
            (1, "cache release probe alpha beta gamma delta epsilon zeta"),
            (2, "cache release probe alpha beta gamma delta epsilon theta"),
            (3, "an unrelated sentence about rivers mountains and weather"),
        ],
        "doc_id long, text string",
    )
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    before = cache_manager.cachedData().size()
    pairs = minhash_near_dup_pairs(docs, threshold=0.5)
    assert {(r.doc_a, r.doc_b) for r in pairs.collect()} == {(1, 2)}
    assert cache_manager.cachedData().size() == before
    incremental = minhash_incremental_pairs(
        docs.filter(F.col("doc_id") != 2), docs.filter(F.col("doc_id") == 2)
    )
    assert {(r.doc_a, r.doc_b) for r in incremental.collect()} == {(2, 1)}
    assert cache_manager.cachedData().size() == before
    exact = ngram_jaccard_pairs(docs, threshold=0.5)
    assert {(r.doc_a, r.doc_b) for r in exact.collect()} == {(1, 2)}
    assert cache_manager.cachedData().size() == before
    near = simhash_candidate_pairs(simhash_signatures(docs), max_distance=20)
    assert {(r.doc_a, r.doc_b) for r in near.collect()} == {(1, 2)}
    assert cache_manager.cachedData().size() == before


def test_leakage_split_query_releases_its_caches(spark, sf_dir):
    """q211 materializes its near-dup pairs once, in the component
    pipeline, so it checkpoints them and releases the shingle and
    band-key caches: the session holds as many cached plans after one
    execution as before. The session starts empty: a plan another test
    left cached over the same table would be shared, not added, by the
    query's persist."""
    from dbkit_spark.catalog import load_all

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    rows = load_all()["q211_leakage_safe_split"].fn(spark, sf_dir).collect()
    assert rows
    assert cache_manager.cachedData().size() == 0


def test_exact_dedup_idempotent_and_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "different")],
        "doc_id long, text string",
    )
    out = exact_dedup(df)
    assert {r.doc_id for r in out.collect()} == {1, 3}  # min-id survivor


def test_simhash_similar_docs_close(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river"),
            (2, "the quick brown fox jumps over the lazy dog near the ocean"),
            (3, "completely unrelated words about spark columnar execution engines"),
        ],
        "doc_id long, text string",
    )
    sigs = {r.doc_id: r.simhash for r in simhash_signatures(df).collect()}
    ham12 = sum(a != b for a, b in zip(sigs[1], sigs[2]))
    ham13 = sum(a != b for a, b in zip(sigs[1], sigs[3]))
    assert len(sigs[1]) == 60
    assert ham12 < ham13, f"near-dup hamming {ham12} !< unrelated {ham13}"


def test_simhash_pairs_complete_vs_bruteforce(spark, sf_dir):
    """Pigeonhole banding must find EVERY pair within max Hamming distance
    (it's exact, not approximate): compare against the n² brute force on a
    small corpus slice."""
    from dbkit_spark.llm.dedup import simhash_candidate_pairs, simhash_signatures

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    sigs = simhash_signatures(docs)
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_candidate_pairs(sigs, max_distance=8).collect()
    }
    local = {r.doc_id: r.simhash for r in sigs.collect()}
    ids = sorted(local)
    expect = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = sum(x != y for x, y in zip(local[a], local[b]))
            if h <= 8:
                expect.add((a, b, h))
    assert got == expect


def test_cosine_topk_self_excluded_ranked(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    out = cosine_topk(emb.filter(F.col("vec_id") < 3), emb, k=4).collect()
    by_q = {}
    for r in out:
        assert r.cand_id != r.query_id
        by_q.setdefault(r.query_id, []).append((r.rank, r.cos_sim))
    for qid, rows in by_q.items():
        rows.sort()
        sims = [s for _, s in rows]
        assert sims == sorted(sims, reverse=True), f"ranking broken for {qid}"
        assert len(rows) == 4


def test_ann_bucket_pairs_are_exact_cosine(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    pairs = ann_bucketed(emb, threshold=0.0).limit(5).collect()
    # every emitted pair must carry a real cosine in [-1, 1]
    for r in pairs:
        assert -1.0 <= r.cos_sim <= 1.0


def test_bmp_ppm_encode_parse_byte_exact():
    """Pure-Python codec round-trip: parse must recover exactly what the
    writer encoded, and the writer's bytes must match the BMP/PPM specs on
    a hand-checked golden example."""
    from dbkit_spark.llm.multimodal import encode_bmp, encode_ppm, parse_image_meta

    for w, h, seed in [(1, 1, 0), (2, 3, 7), (13, 5, 250), (16, 9, 42)]:
        assert parse_image_meta(encode_bmp(w, h, seed)) == ("bmp", w, h, 24)
        assert parse_image_meta(encode_ppm(w, h, seed)) == ("ppm", w, h, 24)

    # golden 2x2 BMP: 54-byte header + 2 rows of (2*3 bytes + 2 pad)
    b = encode_bmp(2, 2, seed=0)
    assert len(b) == 54 + 2 * (6 + 2)
    assert b[:2] == b"BM"
    assert int.from_bytes(b[2:6], "little") == len(b)
    assert int.from_bytes(b[10:14], "little") == 54  # pixel data offset
    assert int.from_bytes(b[14:18], "little") == 40  # BITMAPINFOHEADER
    assert int.from_bytes(b[18:22], "little") == 2
    assert int.from_bytes(b[22:26], "little") == 2
    assert int.from_bytes(b[28:30], "little") == 24
    # bottom row first: pixel (0,0) = seed 0 -> B,G,R = 0,0,0; (1,0) -> 31,217,147
    assert b[54:60] == bytes((0, 0, 0, 31, (31 * 7) % 256, (31 * 13) % 256))
    assert b[60:62] == b"\x00\x00"  # row padding

    # golden PPM header + first pixel
    p = encode_ppm(2, 2, seed=0)
    assert p[: len(b"P6\n2 2\n255\n")] == b"P6\n2 2\n255\n"
    assert len(p) == len(b"P6\n2 2\n255\n") + 12

    # top-down BMP (negative height) and PPM comments parse correctly
    neg = bytearray(encode_bmp(3, 2, 1))
    neg[22:26] = (-2).to_bytes(4, "little", signed=True)
    assert parse_image_meta(bytes(neg)) == ("bmp", 3, 2, 24)
    commented = b"P6\n# a comment\n4 5\n255\n" + b"\x00" * 60
    assert parse_image_meta(commented) == ("ppm", 4, 5, 24)
    assert parse_image_meta(b"\x89PNG\r\n")[0] == "unknown"
    # a non-numeric width, height or maxval token is not a PPM header
    for bad in (b"P6 garbage", b"P6 4 x 255\n", b"P3 4 5 2.5\n"):
        assert parse_image_meta(bad) == ("unknown", None, None, None)


def test_image_pixel_stats_reports_bad_ppm_header_unknown(spark):
    """A payload whose PPM header holds a non-numeric token degrades to
    an 'unknown' decoded=false row instead of failing the batch."""
    from dbkit_spark.llm.multimodal import image_pixel_stats

    one = spark.createDataFrame(
        [(1, bytearray(b"P6 garbage"))], "doc_id long, payload binary"
    )
    r = image_pixel_stats(one).collect()[0]
    assert (r.doc_id, r.img_format, r.width, r.decoded) == (1, "unknown", None, False)


def test_multimodal_plumbing_roundtrip(spark):
    df = spark.createDataFrame([(1, "abc"), (2, "")], "doc_id long, text string")
    feats = {r.doc_id: r for r in decode_features(with_binary_payload(df)).collect()}
    assert feats[1].payload_len == 3
    assert feats[1].feat_mean == pytest.approx((97 + 98 + 99) / 3)
    assert feats[2].feat_dim == 0 and feats[2].feat_mean == 0.0
    assert feats[1].media_type == "text/plain"


def test_multimodal_resize_and_frames(spark, sf_dir):
    from dbkit_spark.llm.multimodal import resize_payloads, sample_frames
    from dbkit_spark.sources import read_table

    # filter, not limit: limit inserts a single-partition Exchange that
    # would pollute the no-shuffle assertion below; split=False keeps
    # the reader's adaptive scan-split exchange out of it too
    docs = read_table(spark, sf_dir, "documents", split=False).filter(
        F.col("doc_id") < 50
    )
    payloads = with_binary_payload(docs)

    resized = resize_payloads(payloads, target_bytes=64)
    rows = resized.collect()
    assert len(rows) == 50
    assert all(r.payload_len == 64 and len(r.payload) == 64 for r in rows)

    frames = sample_frames(payloads, n_frames=4)
    assert frames.count() == 200  # 4 frames per doc, no drops
    per_doc = frames.groupBy("doc_id").count().collect()
    assert all(r["count"] == 4 for r in per_doc)
    # frames partition-align with input: fan-out adds no shuffle
    plan = frames._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan.split("== Initial Plan ==")[0]


_PAYLOAD_DECODERS = [
    ("multimodal", "image_pixel_stats"),
    ("multimodal", "image_dhash"),
    ("multimodal", "resize_image_payloads"),
    ("multimodal", "image_gray_histogram"),
    ("audio", "audio_stats"),
    ("audio", "audio_spectral"),
    ("audio", "resample_payloads"),
    ("audio", "vad_segments"),
    ("audio", "audio_fingerprint"),
    ("video", "video_frame_stats"),
]


@pytest.mark.parametrize(
    "module,decoder", _PAYLOAD_DECODERS, ids=[d for _, d in _PAYLOAD_DECODERS]
)
def test_decoders_degrade_null_and_garbage_payloads(spark, module, decoder):
    """Every payload decoder degrades a NULL payload and an undecodable
    one to decoded=false rows with NULL values, next to a valid payload
    of its medium, without failing the batch."""
    import importlib

    from dbkit_spark.llm.audio import encode_wav
    from dbkit_spark.llm.multimodal import encode_bmp
    from dbkit_spark.llm.video import with_mjpeg_payload

    if module == "multimodal":
        valid = encode_bmp(16, 16, seed=3)
    elif module == "audio":
        valid = encode_wav(800, seed=3)
    else:
        ids = spark.createDataFrame([(3,)], "doc_id long")
        valid = with_mjpeg_payload(ids).collect()[0].payload
    payloads = spark.createDataFrame(
        [(1, bytearray(valid)), (2, None), (3, bytearray(b"garbage!"))],
        "doc_id long, payload binary",
    )
    fn = getattr(importlib.import_module(f"dbkit_spark.llm.{module}"), decoder)
    rows = sorted(fn(payloads).collect(), key=lambda r: r.doc_id)
    assert [r.decoded for r in rows] == [True, False, False]
    null_row = {
        k: v for k, v in rows[1].asDict().items() if k not in ("doc_id", "decoded")
    }
    assert null_row == dict.fromkeys(null_row)


def test_map_in_arrow_parity_with_pandas(spark, sf_dir):
    from dbkit_spark.llm.multimodal import decode_features_arrow
    from dbkit_spark.sources import read_table

    docs = read_table(spark, sf_dir, "documents").limit(100)
    payloads = with_binary_payload(docs)
    via_pandas = {tuple(r) for r in decode_features(payloads).collect()}
    via_arrow = {tuple(r) for r in decode_features_arrow(payloads).collect()}
    assert via_pandas == via_arrow and len(via_arrow) == 100


def test_split_assign_stable_and_proportional(spark):
    from dbkit_spark.llm.sampling import split_assign
    from dbkit_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "lang"
    )
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = split_assign(docs, "doc_id", fr)
    counts = {r.split: r["count"] for r in a.groupBy("split").count().collect()}
    n = sum(counts.values())
    assert n == docs.count()
    assert 0.7 < counts["train"] / n < 0.9  # md5 buckets ~ uniform
    # stability: identical assignment under a different partitioning
    b = split_assign(docs.repartition(13), "doc_id", fr)
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}


def test_pack_by_token_budget_properties(spark):
    from dbkit_spark.llm.sampling import pack_by_token_budget
    from dbkit_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.01", "documents")
    packed = pack_by_token_budget(
        docs, "doc_id", "n_chars", budget=50000, shard_by=None
    )
    rows = sorted(packed.collect(), key=lambda r: r.doc_id)
    # batch ids are monotone non-decreasing in stream order, start at 0
    ids = [r.batch_id for r in rows]
    assert ids[0] == 0 and all(x <= y for x, y in zip(ids, ids[1:]))
    # each batch's docs start within one budget-width window of the stream
    cum = 0
    for r in rows:
        assert r.batch_id == cum // 50000
        cum += r.n_chars


def test_pack_by_token_budget_auto_shard_default(spark):
    """The DEFAULT call form auto hash-shards: the packing law holds
    independently within every shard, every row keeps its shard
    deterministically, and the plan has no single-partition Exchange
    (the unsharded form is opt-in via explicit shard_by=None)."""
    from collections import defaultdict

    from dbkit_spark.llm.sampling import pack_by_token_budget
    from dbkit_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.01", "documents")
    packed = pack_by_token_budget(docs, "doc_id", "n_chars", budget=50000)
    plan = packed._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "SinglePartition" not in final, final
    assert packed.columns == ["shard", "doc_id", "n_chars", "batch_id"]
    by_shard = defaultdict(list)
    for r in packed.collect():
        by_shard[r.shard].append(r)
    assert len(by_shard) > 1  # actually distributed
    for rows in by_shard.values():
        cum = 0
        for r in sorted(rows, key=lambda r: r.doc_id):
            assert r.batch_id == cum // 50000
            cum += r.n_chars
    # determinism: a different input partitioning yields identical output
    again = pack_by_token_budget(
        docs.repartition(13), "doc_id", "n_chars", budget=50000
    )
    assert {tuple(r) for r in again.collect()} == {
        tuple(r)
        for rows in by_shard.values()
        for r in rows
    }


def test_sample_then_split_decorrelated(spark):
    """Regression: sampling and splitting must use INDEPENDENT hash
    buckets — with a shared bucket, every row kept by a 50% sample lands
    in an 80% train split and val/test are empty."""
    from dbkit_spark.llm.sampling import split_assign, stratified_sample
    from dbkit_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "lang"
    )
    sampled = stratified_sample(docs, "doc_id", "lang", {"en": 0.5})
    out = split_assign(sampled, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    splits = {r.split for r in out.select("split").distinct().collect()}
    assert splits == {"train", "val", "test"}, splits


def test_incremental_dedup_no_self_pairs_on_reingest(spark):
    """Regression: re-ingesting a doc already in the corpus (same id, same
    text) must not emit a (X, X) self-pair that would delete the doc as
    its own duplicate."""
    from dbkit_spark.llm.dedup import minhash_incremental_pairs

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog by the river"),
         (2, "completely different content about columnar engines")],
        "doc_id long, text string",
    )
    new_batch = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog by the river")],
        "doc_id long, text string",
    )
    out = minhash_incremental_pairs(corpus, new_batch, threshold=0.5).collect()
    assert all(r.doc_a != r.doc_b for r in out), out


def test_incremental_dedup_reingest_single_shingle_row(spark):
    """Regression: a doc_id present in BOTH corpus and new batch (text
    changed) must contribute exactly one shingle row to verification —
    new batch wins — so each candidate pair appears once, with jaccard
    computed against the new text."""
    from dbkit_spark.llm.dedup import minhash_incremental_pairs

    base = "the quick brown fox jumps over the lazy dog by the river bank"
    corpus = spark.createDataFrame(
        [(1, base), (2, base + " today")], "doc_id long, text string"
    )
    # doc 1 re-ingested with slightly changed text
    new_batch = spark.createDataFrame(
        [(1, base + " again")], "doc_id long, text string"
    )
    rows = minhash_incremental_pairs(corpus, new_batch, threshold=0.3).collect()
    pairs = [(r.doc_a, r.doc_b) for r in rows]
    assert len(pairs) == len(set(pairs)), f"duplicate pair rows: {rows}"
    assert all(a != b for a, b in pairs)


def test_connected_components_propagation_and_guards(spark):
    from dbkit_spark.llm.cluster import (
        assign_clusters,
        connected_components,
        dedup_survivors,
    )

    # two components: a 4-chain (diameter 3) and a pair; min-id labels
    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13), (20, 21)], "doc_a long, doc_b long"
    )
    cc = {r.id: r.cluster_id for r in connected_components(pairs).collect()}
    assert cc == {10: 10, 11: 10, 12: 10, 13: 10, 20: 20, 21: 20}

    # diameter exceeding max_iter must raise, not return partial labels
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "doc_a long, doc_b long"
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="converge"):
        connected_components(chain, max_iter=1)

    # singletons keep their own id; survivors = one min-id per cluster
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in [10, 11, 12, 13, 20, 21, 99]],
        "doc_id long, text string",
    )
    assigned = {
        r.doc_id: r.cluster_id for r in assign_clusters(docs, pairs).collect()
    }
    assert assigned[99] == 99 and assigned[13] == 10
    survivors = sorted(r.doc_id for r in dedup_survivors(docs, pairs).collect())
    assert survivors == [10, 20, 99]

    # empty pair set: everything is a singleton survivor
    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert dedup_survivors(docs, empty).count() == docs.count()


def test_decontaminate_flags_and_broadcast_plan(spark):
    from dbkit_spark.llm.decontaminate import decontaminate
    from dbkit_spark.plans.explain_utils import assert_broadcast_join

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # contains the full benchmark 8-gram
            (1, "x alpha beta gamma delta epsilon zeta eta theta y"),
            # 7-gram overlap only -> clean at n=8
            (2, "alpha beta gamma delta epsilon zeta eta DIFFERENT"),
            (3, "totally unrelated words here nothing shared at all"),
            (4, "shorty"),  # < 8 tokens: no n-grams
        ],
        "doc_id long, text string",
    )
    out = decontaminate(corpus, bench, n=8)
    got = {r.doc_id: (r.n_hit_ngrams, r.contaminated) for r in out.collect()}
    assert got == {1: (1, True), 2: (0, False), 3: (0, False), 4: (0, False)}
    # the benchmark n-gram set must broadcast (corpus never shuffles to probe)
    assert_broadcast_join(out)
    # min_hits raises the bar
    strict = decontaminate(corpus, bench, n=8, min_hits=2)
    assert {r.doc_id: r.contaminated for r in strict.collect()}[1] is False


def test_repetition_scores_hand_computed(spark):
    from dbkit_spark.llm.quality import repetition_scores

    docs = spark.createDataFrame(
        [
            (1, "a a a b"),          # dup tokens, unique 3-grams
            (2, "x y z x y z x y"),  # repeated phrase
            (3, "p q"),              # < 3 tokens: excluded
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_scores(docs, ngram=3).collect()}
    assert set(got) == {1, 2}
    r1 = got[1]
    assert (r1.n_tokens, r1.dup_token_frac, r1.dup_ngram_frac) == (4, 0.5, 0.0)
    assert r1.top_token_share == 0.75
    r2 = got[2]  # 8 tokens, 3 distinct; 6 3-grams, 3 distinct
    assert (r2.n_tokens, r2.dup_token_frac, r2.dup_ngram_frac) == (8, 0.625, 0.5)
    assert r2.top_token_share == 0.375


def test_weighted_domain_mix_properties(spark):
    import pytest as _pytest

    from dbkit_spark.llm.sampling import weighted_domain_mix

    rows = [(i, "big") for i in range(400)] + [(1000 + i, "small") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, domain string")
    out = weighted_domain_mix(df, "doc_id", "domain", {"big": 1, "small": 1})
    got = {r[0]: r[1] for r in out.groupBy("domain").count().collect()}
    # binding domain kept in full; other downsampled to ~1:1
    assert got["small"] == 50
    # md5 buckets are uniform-ish, not exact: 400 draws at keep=0.125 has
    # ~6.6 stddev; allow 3 sigma around the 50-row target
    assert abs(got["big"] - 50) <= 20

    # unlisted domains are dropped
    only_big = weighted_domain_mix(df, "doc_id", "domain", {"big": 1})
    assert only_big.filter("domain = 'small'").count() == 0

    # deterministic under repartitioning
    a = {r.doc_id for r in out.collect()}
    b = {
        r.doc_id
        for r in weighted_domain_mix(
            df.repartition(17), "doc_id", "domain", {"big": 1, "small": 1}
        ).collect()
    }
    assert a == b

    with _pytest.raises(ValueError, match="positive int"):
        weighted_domain_mix(df, "doc_id", "domain", {"big": 0.5})
    # absent weighted domains -> empty, not error
    assert weighted_domain_mix(df, "doc_id", "domain", {"nope": 1}).count() == 0

    # VERDICT r10: the driver-side count map is weights-keyed, not
    # domain-cardinality-sized — pointing the operator at a
    # high-cardinality column (every row its own domain) must stay
    # correct AND the collected aggregation must be pre-filtered to the
    # weighted keys (the isin filter reaches the scan, so the count agg
    # never materializes the full domain spectrum)
    wide = spark.createDataFrame(
        [(i, f"d{i}") for i in range(5000)], "doc_id long, domain string"
    )
    picked = weighted_domain_mix(wide, "doc_id", "domain", {"d7": 1, "d42": 1})
    assert {r.domain for r in picked.collect()} == {"d7", "d42"}


def test_quantize_dequantize_error_bound(spark, sf_dir):
    from dbkit_spark.llm.similarity import (
        dequantize_embeddings,
        quantize_embeddings,
    )
    from dbkit_spark.sources import read_table

    emb = read_table(spark, sf_dir, "embeddings").limit(50)
    quant = quantize_embeddings(emb)
    for r in quant.collect():
        assert all(-127 <= v <= 127 for v in r.qvec)
    back = {r.vec_id: r.embedding for r in dequantize_embeddings(quant).collect()}
    orig = {r.vec_id: r.embedding for r in emb.collect()}
    scales = {r.vec_id: r.scale for r in quant.collect()}
    for vid, vec in orig.items():
        err = max(abs(a - b) for a, b in zip(vec, back[vid]))
        assert err <= scales[vid] / 2 + 1e-12, (vid, err, scales[vid])

    # zero vector: scale 0, all-zero codes, no div-by-zero
    z = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    rz = quantize_embeddings(z).collect()[0]
    assert rz.scale == 0.0 and list(rz.qvec) == [0, 0, 0]


def test_redact_pii_patterns(spark):
    from dbkit_spark.functions.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@x-y.co.uk now"),
            (2, "call +1 555-0199 or +44 555-0100"),
            (3, "host 192.168.1.254 up"),
            (4, "clean text with no pii 1234"),
        ],
        "id long, t string",
    )
    got = {r.id: r.red for r in df.select("id", redact_pii("t").alias("red")).collect()}
    assert got[1] == "mail [EMAIL] now"
    assert got[2] == "call [PHONE] or [PHONE]"
    assert got[3] == "host [IP] up"
    assert got[4] == "clean text with no pii 1234"


def test_weighted_sample_properties(spark):
    """A-ES weighted sampling: membership is repartition-stable, appends
    never displace by perturbation, non-positive weights are excluded,
    and heavy strata dominate the sample roughly in proportion."""
    import pytest as _pytest

    from dbkit_spark.llm.sampling import weighted_sample, weighted_sample_topk

    rows = [(i, 100.0 if i < 500 else 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "id long, w double")

    picked = weighted_sample_topk(df, "id", "w", k=200)
    ids = sorted(r.id for r in picked.collect())
    assert len(ids) == 200

    # repartition invariance: identical SET
    ids_rp = sorted(
        r.id for r in weighted_sample_topk(df.repartition(13), "id", "w", k=200).collect()
    )
    assert ids_rp == ids

    # heavy-weight rows (100x mass) must dominate
    n_heavy = sum(1 for i in ids if i < 500)
    assert n_heavy > 170

    # appending rows never perturbs existing keys: old sample ⊇ survivors
    extra = spark.createDataFrame([(2000 + i, 100.0) for i in range(50)], "id long, w double")
    ids_app = sorted(
        r.id for r in weighted_sample_topk(df.unionByName(extra), "id", "w", k=200).collect()
    )
    assert set(ids_app) - set(ids) <= {2000 + i for i in range(50)}

    # zero/negative weights excluded even at tiny k
    bad = spark.createDataFrame([(1, 0.0), (2, -5.0), (3, 1.0)], "id long, w double")
    assert [r.id for r in weighted_sample_topk(bad, "id", "w", k=3).collect()] == [3]

    with _pytest.raises(ValueError):
        weighted_sample_topk(df, "id", "w", k=0)
    with _pytest.raises(ValueError, match="k must be positive"):
        weighted_sample(df, "id", "w", k=0)


def test_jaccard_prefix_filter_equal_results_fewer_candidates(spark, sf_dir):
    """Prefix filtering must be LOSSLESS (same pairs as the full
    inverted index) while indexing strictly fewer (doc, shingle) rows —
    the whole point of the optimization."""
    from pyspark.sql import Window as W

    from dbkit_spark.llm.dedup import (
        jaccard_prefix_filter_pairs,
        ngram_jaccard_pairs,
        shingle_docs,
    )
    from dbkit_spark.sources import read_table

    docs = read_table(spark, sf_dir, "documents")
    full = {
        (r.doc_a, r.doc_b, round(r.jaccard, 6))
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    filtered = {
        (r.doc_a, r.doc_b, round(r.jaccard, 6))
        for r in jaccard_prefix_filter_pairs(docs, threshold=0.5).collect()
    }
    assert filtered == full and full  # lossless, and non-trivially so

    # index-size reduction: prefix rows < all (doc, shingle) rows
    shingled = shingle_docs(docs)
    inv = shingled.select(
        "doc_id", F.size("shingles").alias("sz"), F.explode("shingles").alias("s")
    )
    n_all = inv.count()
    dfreq = inv.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    w = W.partitionBy("doc_id").orderBy("df", "s")
    n_prefix = (
        inv.join(dfreq, "s")
        .withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= F.col("sz") - F.ceil(F.lit(0.5) * F.col("sz")) + 1)
        .count()
    )
    assert n_prefix < 0.6 * n_all, (n_prefix, n_all)


def test_jaccard_prefix_filter_borderline_size_ratio(spark):
    """A 7-shingle doc fully inside a 100-shingle doc has J = 7/100,
    exactly the threshold 0.07 — but 0.07 * 100 is 7.000000000000001 in
    binary FP, so an unrounded size-ratio filter drops the pair."""
    from dbkit_spark.llm.dedup import jaccard_prefix_filter_pairs, ngram_jaccard_pairs

    words = [f"w{i}" for i in range(102)]  # 3-word shingles: 100 distinct
    docs = spark.createDataFrame(
        [(1, " ".join(words[:9])), (2, " ".join(words))], "doc_id long, text string"
    )

    def pairs(df):
        return {(r.doc_a, r.doc_b, r.jaccard) for r in df.collect()}

    full = pairs(ngram_jaccard_pairs(docs, threshold=0.07))
    assert full == {(1, 2, 0.07)}
    assert pairs(jaccard_prefix_filter_pairs(docs, threshold=0.07)) == full


def test_quadratic_baselines_guarded(spark):
    """The declared O(n²) verify-baselines must refuse over-limit inputs
    (pointing at their scalable twins) rather than silently launching a
    job that can never finish at corpus scale."""
    import pytest as _pytest

    from dbkit_spark.llm.dedup import ngram_jaccard_pairs as _ngram
    from dbkit_spark.llm.similarity import embedding_near_dup as _near

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(8)],
        "doc_id long, text string",
    )
    with _pytest.raises(ValueError, match="jaccard_prefix_filter_pairs"):
        _ngram(docs, max_rows=5).collect()
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="ann_bucketed"):
        _near(emb, threshold=0.5, max_rows=5).collect()
    # explicit opt-out still runs
    assert _near(emb, threshold=0.99, max_rows=None).count() >= 0
    assert _ngram(docs, threshold=0.9, max_rows=None).count() >= 0


def test_prefix_filter_fp_safe_thresholds(spark, sf_dir):
    """threshold * size computed in binary FP can over-round upward
    (0.07*100 = 7.000000000000001 -> ceil 8, not 7), silently SHORTENING
    the prefix below what the prefix-filter lemma requires. Pin the
    rounded-ceil expression to the exact integer, and assert losslessness
    at non-FP-exact thresholds (0.1, 0.3), not only the FP-exact 0.5."""
    from dbkit_spark.llm.dedup import jaccard_prefix_filter_pairs, ngram_jaccard_pairs
    from dbkit_spark.sources import read_table

    # the raw product over-rounds; the guarded expression does not
    row = spark.range(1).select(
        F.ceil(F.lit(0.07) * F.lit(100)).alias("naive"),
        F.ceil(F.round(F.lit(0.07) * F.lit(100), 9)).alias("guarded"),
        F.ceil(F.round(F.lit(0.14) * F.lit(50), 9)).alias("guarded2"),
    ).first()
    assert row.naive == 8  # the latent bug this guards against
    assert row.guarded == 7 and row.guarded2 == 7

    docs = read_table(spark, sf_dir, "documents")
    for t in (0.1, 0.3):
        full = {
            (r.doc_a, r.doc_b, round(r.jaccard, 6))
            for r in ngram_jaccard_pairs(docs, threshold=t, max_rows=None).collect()
        }
        filtered = {
            (r.doc_a, r.doc_b, round(r.jaccard, 6))
            for r in jaccard_prefix_filter_pairs(docs, threshold=t).collect()
        }
        assert filtered == full and full, f"prefix filter lossy at t={t}"


def test_ivf_index_save_load_roundtrip_no_refit(spark, sf_dir, tmp_path):
    """Persisted IVF index: fit once, save, load, query — loaded results
    equal fresh-index results, and the loaded query plan is pure parquet
    scans (no re-fit, no in-memory LocalTableScan of centroids)."""
    from dbkit_spark.llm.similarity import (
        ivf_index,
        ivf_topk,
        load_ivf_index,
        save_ivf_index,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    assigned, centroids = ivf_index(emb, n_clusters=4)
    fresh = ivf_topk(queries, assigned, centroids, k=3, nprobe=2)

    path = str(tmp_path / "ivf")
    save_ivf_index(assigned, centroids, path)
    l_assigned, l_centroids = load_ivf_index(spark, path)
    loaded = ivf_topk(queries, l_assigned, l_centroids, k=3, nprobe=2)

    assert sorted(map(tuple, fresh.collect())) == sorted(map(tuple, loaded.collect()))
    # fit-once proof: the loaded-side plan reads parquet; the fresh-side
    # centroid table is a driver-local relation
    plan = loaded._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") >= 2  # assigned + centroids
    assert "LocalTableScan" not in plan


def test_hyperplane_index_partition_pruning(spark, sf_dir, tmp_path):
    """The persisted LSH index prunes to the probed bucket partition:
    a single-bucket filter plans PartitionFilters on bucket_id, reading
    a fraction of the files."""
    from dbkit_spark.llm.similarity import (
        load_hyperplane_index,
        save_hyperplane_index,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "lsh")
    save_hyperplane_index(emb, path)
    (index,) = load_hyperplane_index(spark, path)
    one = index.filter(F.col("bucket_id") == 3)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket_id" in plan.split("PartitionFilters")[1][:120]
    # round-trip preserves the exact bit-string for every row
    from dbkit_spark.llm.similarity import hyperplane_bucket
    orig = {r["vec_id"]: r["bucket"] for r in hyperplane_bucket(emb).select("vec_id", "bucket").collect()}
    back = {r["vec_id"]: r["bucket"] for r in index.select("vec_id", "bucket").collect()}
    assert orig == back


def test_connected_components_durable_checkpoint(spark, tmp_path):
    """checkpoint_dir selects durable checkpoint() over localCheckpoint:
    same labels, and the checkpoint directory actually receives RDD
    state (proof the durable path ran)."""
    import os

    from dbkit_spark.llm.cluster import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    d = str(tmp_path / "cc_ckpt")
    cc = {
        r.id: r.cluster_id
        for r in connected_components(pairs, checkpoint_dir=d).collect()
    }
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    assert os.path.isdir(d) and any(os.scandir(d))


def test_png_jpeg_header_parse_edges():
    """PNG/JPEG parsers handle the shapes real corpora contain: grayscale
    and RGBA PNG color types, progressive (SOF2) JPEG, APPn segments
    before the frame header, truncated streams."""
    import struct
    import zlib
    import binascii

    from dbkit_spark.llm.multimodal import parse_image_meta

    def png(width, height, bit_depth, color_type):
        def chunk(typ, data):
            return (struct.pack(">I", len(data)) + typ + data
                    + struct.pack(">I", binascii.crc32(typ + data) & 0xFFFFFFFF))
        ihdr = struct.pack(">IIBBBBB", width, height, bit_depth, color_type, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(b"\x00")) + chunk(b"IEND", b""))

    assert parse_image_meta(png(640, 480, 8, 0)) == ("png", 640, 480, 8)    # gray
    assert parse_image_meta(png(31, 17, 8, 6)) == ("png", 31, 17, 32)       # RGBA
    assert parse_image_meta(png(9, 9, 16, 2)) == ("png", 9, 9, 48)          # 16-bit RGB

    def jpeg(sof_marker, width, height, extra_app=b""):
        app0 = (b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
                + struct.pack(">HH", 1, 1) + b"\x00\x00")
        sof = (bytes([0xFF, sof_marker]) + struct.pack(">H", 8 + 9) + b"\x08"
               + struct.pack(">HH", height, width) + b"\x03"
               + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01")
        return b"\xff\xd8" + app0 + extra_app + sof + b"\xff\xd9"

    exif = b"\xff\xe1" + struct.pack(">H", 10) + b"Exif\x00\x00\x00\x00"
    assert parse_image_meta(jpeg(0xC0, 1920, 1080)) == ("jpeg", 1920, 1080, 24)
    assert parse_image_meta(jpeg(0xC2, 64, 64)) == ("jpeg", 64, 64, 24)           # progressive
    assert parse_image_meta(jpeg(0xC0, 33, 21, extra_app=exif)) == ("jpeg", 33, 21, 24)
    # truncated / garbage streams degrade, never raise
    assert parse_image_meta(b"\xff\xd8\xff\xe0")[1] is None
    assert parse_image_meta(b"\x89PNG\r\n\x1a\nXX")[1] is None
    assert parse_image_meta(b"GIF89a")[0] == "unknown"


def test_multi_table_lsh_recall_lift(spark, sf_dir):
    """Multi-table LSH must lift recall over a single table at a
    comparable candidate budget. Theory: a pair with hyperplane
    collision probability p (> 0.5 for positively-similar vectors)
    collides in one B-bit table w.p. p^B; in either of two independent
    (B+1)-bit tables w.p. 1-(1-p^(B+1))^2 ~= 2p^(B+1) — and 2p > 1, so
    the two-table design wins recall while its expected candidate count
    (2 tables with half-size buckets) stays comparable. Also pinned:
    same-bits multi-table candidates are a strict superset of the
    single table's (table 0 is shared), so recall can only rise."""
    from collections import defaultdict

    from dbkit_spark.llm.similarity import (
        embedding_near_dup,
        hyperplane_bucket_multi,
    )
    from dbkit_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.01", "embeddings")
    exact = {(r.id_a, r.id_b) for r in embedding_near_dup(emb, 0.25).collect()}

    def candidates(bits, n_tables):
        rows = hyperplane_bucket_multi(emb, bits=bits, n_tables=n_tables).collect()
        pairs = set()
        for t in range(n_tables):
            buckets = defaultdict(list)
            for r in rows:
                buckets[r[f"bucket_{t}"]].append(r["vec_id"])
            for ids in buckets.values():
                ids.sort()
                pairs.update(
                    (ids[i], ids[j])
                    for i in range(len(ids))
                    for j in range(i + 1, len(ids))
                )
        return pairs

    single = candidates(8, 1)
    multi_eq_budget = candidates(9, 2)   # ~same total candidates, re-drawn
    multi_same_bits = candidates(8, 2)   # superset of `single` (table 0 shared)

    def recall(c):
        return len(c & exact) / len(exact)

    # equal-budget comparison: within 1.5x the candidates, strictly
    # better recall
    assert len(multi_eq_budget) <= 1.5 * len(single), (
        len(multi_eq_budget), len(single))
    assert recall(multi_eq_budget) > recall(single), (
        recall(multi_eq_budget), recall(single))
    # same-bits: structural superset, recall monotone
    assert single <= multi_same_bits
    assert recall(multi_same_bits) >= recall(single)


def test_multi_table_index_roundtrip(spark, sf_dir, tmp_path):
    """save/load/query of the multi-table LSH index must equal the
    directly-computed multi-table candidates for the same query set,
    and each table's loaded plan must prune by bucket_id partitions."""
    from dbkit_spark.llm.similarity import (
        ann_query_index,
        hyperplane_bucket,
        load_hyperplane_index,
        save_hyperplane_index,
    )
    from dbkit_spark.sources import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "lsh_multi")
    save_hyperplane_index(emb, path, n_tables=2)
    tables = load_hyperplane_index(spark, path, n_tables=2)

    queries = emb.filter(F.col("vec_id") < 20)
    got = {
        (r.query_id, r.cand_id, r.cos_sim)
        for r in ann_query_index(queries, tables, threshold=0.1).collect()
    }

    # reference: recompute both tables from scratch and union
    want = set()
    for t in range(2):
        qb = hyperplane_bucket(queries, table=t).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"),
            "bucket")
        cb = hyperplane_bucket(emb, table=t).select(
            F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cv"),
            "bucket")
        from dbkit_spark.functions.vectors import cosine
        one = (
            cb.join(qb, "bucket")
            .filter(F.col("cand_id") != F.col("query_id"))
            .select("query_id", "cand_id",
                    F.round(cosine("qv", "cv"), 6).alias("cos_sim"))
            .filter(F.col("cos_sim") >= 0.1)
        )
        want |= {(r.query_id, r.cand_id, r.cos_sim) for r in one.collect()}
    assert got == want and len(got) > 0

    # loaded tables are pure scans: no md5/hash in their plans
    for df in tables:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "md5" not in plan.lower()


def test_hll_rollup_error_bound(spark):
    """q176's merged HLL estimate must be within 5% of exact
    count_distinct (lgk=12 gives ~1.6% expected relative error), and the
    union-of-daily-sketches path must agree with a direct single-pass
    sketch over the same rows — the mergeability contract."""
    from dbkit_spark.sources import read_table

    sf = "/root/testdata/sf0.001"
    ev = read_table(spark, sf, "events")
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    daily = ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")
    )
    merged = {
        r.event_type: r.est
        for r in daily.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .collect()
    }
    direct = {
        r.event_type: r.est
        for r in ev.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(12))
            ).alias("est")
        )
        .collect()
    }
    assert set(merged) == set(exact) and len(exact) > 0
    for et, n in exact.items():
        assert abs(merged[et] - n) / n < 0.05, (et, merged[et], n)
        # union of partial sketches == one-pass sketch (mergeable agg)
        assert merged[et] == direct[et], (et, merged[et], direct[et])


def test_chunk_documents_properties(spark):
    """Chunk rule invariants: full coverage (concatenating stride-sized
    prefixes of each chunk plus the last chunk's tail reconstructs the
    token stream), overlap = window - stride, only the last chunk short."""
    from dbkit_spark.functions.text import tokens
    from dbkit_spark.llm.chunking import chunk_documents
    from dbkit_spark.sources import read_table

    sf = "/root/testdata/sf0.001"
    docs = read_table(spark, sf, "documents").limit(50)
    W, S = 32, 24
    chunks = chunk_documents(docs, window=W, stride=S).collect()
    toks = {
        r.doc_id: r.t
        for r in docs.select("doc_id", tokens("text").alias("t")).collect()
    }
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {d for d, t in toks.items() if t}
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_id)
        t = toks[doc_id]
        n = len(t)
        import math

        expect_chunks = math.ceil(max(n - W, 0) / S) + 1
        assert len(rows) == expect_chunks, (doc_id, len(rows), expect_chunks)
        for r in rows[:-1]:
            assert r.n_tok == W  # only the last chunk may run short
        for r in rows:
            start = r.chunk_id * S
            assert r.chunk_text.split(" ") == t[start : start + W]
        # coverage: last chunk ends at the document tail
        last = rows[-1]
        assert last.chunk_id * S + last.n_tok == n or n <= W


def test_quota_sample_properties(spark):
    """<= quota rows per group, groups under quota intact, selection
    deterministic across invocations."""
    from dbkit_spark.llm.sampling import quota_sample
    from dbkit_spark.sources import read_table

    sf = "/root/testdata/sf0.001"
    docs = read_table(spark, sf, "documents").select("source", "doc_id")
    sizes = {r.source: r.n for r in docs.groupBy("source").count()
             .withColumnRenamed("count", "n").collect()}
    out = quota_sample(docs, "source", "doc_id", quota=3)
    got = out.collect()
    per = {}
    for r in got:
        per[r.source] = per.get(r.source, 0) + 1
    for src, n in per.items():
        assert n == min(3, sizes[src]), (src, n, sizes[src])
    again = {(r.source, r.doc_id) for r in
             quota_sample(docs, "source", "doc_id", quota=3).collect()}
    assert again == {(r.source, r.doc_id) for r in got}


def test_null_stratum_keeps_its_seats(spark):
    """A NULL stratum is one more stratum in the quota samplers: it is
    counted, gets a take, and keeps its picks, so neyman_sample returns
    exactly ``total_n`` rows and temperature_sample exactly
    T = floor(total_frac * N) when no take is clipped."""
    from dbkit_spark.llm.sampling import neyman_sample, temperature_sample

    rows = [
        (i, None if i < 20 else ("a" if i < 40 else "b"), float(i % 7))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "id long, s string, v double")
    ney = neyman_sample(df, "id", "s", "v", total_n=30).collect()
    assert len(ney) == 30
    assert any(r.s is None for r in ney)
    temp = temperature_sample(df, "s", "id", total_frac=0.5).collect()
    assert len(temp) == 30
    assert sum(r.s is None for r in temp) == 10


def test_reconcile_identical_tables_clean(spark):
    """Identical inputs reconcile to zero mismatched buckets; a single
    perturbed row surfaces exactly its own bucket."""
    from dbkit_spark.operators.reconcile import (
        bucket_summary,
        reconcile_buckets,
        row_fingerprint,
    )
    from dbkit_spark.sources import read_table

    sf = "/root/testdata/sf0.001"
    ev = read_table(spark, sf, "events")
    fp = row_fingerprint(
        [F.col("event_id"), F.col("event_type"), F.col("user_id")]
    )
    left = bucket_summary(ev, F.col("event_id"), fp, 64)
    right = bucket_summary(ev, F.col("event_id"), fp, 64)
    assert reconcile_buckets(left, right).count() == 0

    one_id = ev.select("event_id").orderBy("event_id").limit(1).collect()[0][0]
    tampered = ev.withColumn(
        "event_type",
        F.when(F.col("event_id") == one_id, F.lit("TAMPERED")).otherwise(
            F.col("event_type")
        ),
    )
    fp2 = row_fingerprint(
        [F.col("event_id"), F.col("event_type"), F.col("user_id")]
    )
    bad = reconcile_buckets(
        left, bucket_summary(tampered, F.col("event_id"), fp2, 64)
    ).collect()
    assert len(bad) == 1 and bad[0].bucket == one_id % 64
    assert bad[0].counts_match and not bad[0].sums_match


def test_containment_finds_doc_in_doc(spark):
    """Semantic claim of containment_pairs: a short doc fully embedded in
    a long one scores containment ~1.0 in the contained→container
    direction even though symmetric Jaccard is far below any dedup
    threshold — the boilerplate/quotation case."""
    from dbkit_spark.llm.dedup import containment_pairs, ngram_jaccard_pairs

    short = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"word{i} token{i} item{i}" for i in range(40))
    long_doc = filler + " " + short + " " + " ".join(
        f"tail{i} extra{i}" for i in range(40)
    )
    docs = spark.createDataFrame(
        [(1, short), (2, long_doc), (3, "completely unrelated text here")],
        "doc_id long, text string",
    )
    got = {
        (r.contained, r.container): r.containment
        for r in containment_pairs(docs, threshold=0.9, max_df=100).collect()
    }
    assert (1, 2) in got and got[(1, 2)] >= 0.99, got
    assert (2, 1) not in got  # the long doc is NOT contained in the short
    # and symmetric Jaccard misses the pair entirely at the same bar
    jac = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert (1, 2) not in jac and (2, 1) not in jac


def test_containment_corpus_relative_df_cap(spark):
    """max_df_frac raises the effective cap with corpus size: with an
    absolute cap of 1 every shared shingle is a stop-shingle and the
    doc-in-doc pair vanishes; the relative form (frac=1.0 → cap >= n_docs)
    restores it. Default (frac=None) stays bit-identical to fixed-cap."""
    from dbkit_spark.llm.dedup import containment_pairs

    short = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"word{i} token{i} item{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, short), (2, filler + " " + short)],
        "doc_id long, text string",
    )
    # absolute cap 1: every shingle shared by the pair exceeds df=1
    assert containment_pairs(docs, threshold=0.9, max_df=1).count() == 0
    # relative: max(1, ceil(1.0 * 2 docs)) = 2 → shared shingles survive
    rel = containment_pairs(
        docs, threshold=0.9, max_df=1, max_df_frac=1.0
    ).collect()
    assert {(r.contained, r.container) for r in rel} == {(1, 2)}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_df_frac"):
        containment_pairs(docs, max_df_frac=1.5)


def test_row_fingerprint_null_sentinel(spark):
    """NULL handling is enforced INSIDE row_fingerprint: NULL-position
    shifts and NULL-vs-empty-string must produce distinct fingerprints
    (bare concat_ws would silently skip NULLs and collide both)."""
    from dbkit_spark.operators.reconcile import row_fingerprint

    df = spark.createDataFrame(
        [("a", None, "b"), ("a", "b", None), ("a", "", "b")],
        "x string, y string, z string",
    )
    fps = [
        r.fp
        for r in df.select(
            row_fingerprint([F.col("x"), F.col("y"), F.col("z")]).alias("fp")
        ).collect()
    ]
    assert len(set(fps)) == 3, fps


def test_survivor_policies_share_schema(spark):
    """dedup_survivors and dedup_survivors_best are drop-in swappable:
    identical output schema (docs + cluster_id), and under min-id policy
    every survivor's cluster_id equals its own id."""
    from dbkit_spark.llm.cluster import dedup_survivors, dedup_survivors_best

    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50), (9, 7)], "doc_id long, n_chars long"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    min_id = dedup_survivors(docs, pairs)
    best = dedup_survivors_best(docs, pairs, "n_chars")
    assert min_id.columns == best.columns == ["doc_id", "n_chars", "cluster_id"]
    assert all(r.doc_id == r.cluster_id for r in min_id.collect())
    # keep-best picks the longest member (doc 2, n_chars=99) of cluster {1,2,3}
    assert {(r.doc_id, r.cluster_id) for r in best.collect()} == {
        (2, 1), (9, 9)
    }


def test_ann_incremental_pairs_batch_vs_index(spark, tmp_path):
    """Incremental embedding dedup (the embedding twin of
    minhash_incremental_pairs): a new batch probed against the PERSISTED
    multi-table LSH index must equal the from-scratch reference (cross
    pairs vs corpus in every table + in-batch pairs), the corpus side of
    the plan must be pure parquet scans of the precomputed bucket column
    (no re-hash), and a re-ingested id never pairs with itself."""
    from dbkit_spark.functions.vectors import cosine
    from dbkit_spark.llm.similarity import (
        _incremental_plan,
        ann_incremental_pairs,
        hyperplane_bucket,
        load_hyperplane_index,
        save_hyperplane_index,
    )
    from dbkit_spark.operators.iterate import held
    from dbkit_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 50)
    # batch: 10 genuinely-new vectors + 1 re-ingest of a corpus id
    batch = emb.filter(F.col("vec_id") < 10).unionByName(
        emb.filter(F.col("vec_id") == 60)
    )
    path = str(tmp_path / "inc_idx")
    save_hyperplane_index(corpus, path, n_tables=2)
    tables = load_hyperplane_index(spark, path, n_tables=2)

    got = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in ann_incremental_pairs(batch, tables, threshold=0.2).collect()
    }

    # from-scratch reference
    want = set()
    for t in range(2):
        qb = hyperplane_bucket(batch, table=t).select(
            F.col("vec_id").alias("id_a"),
            F.col("embedding").alias("va"),
            "bucket",
        )
        cb = hyperplane_bucket(corpus, table=t).select(
            F.col("vec_id").alias("id_b"),
            F.col("embedding").alias("vb"),
            "bucket",
        )
        cross = (
            cb.join(qb, "bucket")
            .filter(F.col("id_a") != F.col("id_b"))
            .select("id_a", "id_b",
                    F.round(cosine("va", "vb"), 6).alias("cos_sim"))
            .filter(F.col("cos_sim") >= 0.2)
        )
        bb = qb.select(
            F.col("id_a").alias("id_b"),
            F.col("va").alias("vb"),
            "bucket",
        )
        in_batch = (
            qb.join(bb, "bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    F.round(cosine("va", "vb"), 6).alias("cos_sim"))
            .filter(F.col("cos_sim") >= 0.2)
        )
        want |= {tuple(r) for r in cross.collect()}
        want |= {tuple(r) for r in in_batch.collect()}
    assert got == want and got  # non-trivial
    assert all(a != b for a, b, _ in got)  # re-ingested 60 never self-pairs

    # no-re-hash plan gate (q127 style): the corpus side is exactly two
    # parquet scans whose ReadSchema carries the PRECOMPUTED bucket column
    hashed, pairs = _incremental_plan(
        batch, tables, 0.2, "vec_id", "embedding", 8, 64
    )
    with held(hashed):
        plan = pairs._jdf.queryExecution().executedPlan().toString()
    # index scans are the ones whose ReadSchema carries the PRECOMPUTED
    # bucket_id partition column (the batch side has no such column)
    idx_scans = [
        s for s in plan.split("FileScan parquet")[1:] if "bucket_id" in s[:200]
    ]
    assert len(idx_scans) == 2, len(idx_scans)  # one per table, no more
    # the batch is hashed once and served from cache to all six join sides
    assert "InMemoryTableScan" in plan


def test_pluggable_tokenizer_udfs(spark):
    """make_tokenizer_udfs routes a user tokenizer through Arrow-batched
    pandas UDFs: counts equal the driver-side truth, chunking under the
    custom tokenizer obeys the same coverage law as the regex default,
    and the dependency-gated model_tokenizer fails with guidance when
    tiktoken is absent (skips if present)."""
    from dbkit_spark.functions.text import make_tokenizer_udfs
    from dbkit_spark.llm.chunking import chunk_documents
    from dbkit_spark.sources import read_table

    def _fake_bpe(s):
        # deterministic stand-in for a model tokenizer: integer "ids" —
        # exercises the ids-not-strings path; a closure (not module-level)
        # so cloudpickle ships it by value to executors
        return [ord(s[i]) * 7 + i % 5 for i in range(0, len(s), 3)]

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").limit(30)
    tokenize_udf, count_udf = make_tokenizer_udfs(_fake_bpe)
    got = {
        r.doc_id: (r.n, r.toks)
        for r in docs.select(
            "doc_id",
            count_udf(F.col("text")).alias("n"),
            tokenize_udf(F.col("text")).alias("toks"),
        ).collect()
    }
    truth = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    for doc_id, text in truth.items():
        want = [str(x) for x in _fake_bpe(text)] if text else []
        assert got[doc_id] == (len(want), want), doc_id

    # chunk law under the custom tokenizer: stride prefixes + last tail
    # reconstruct the model-token stream
    W, S = 16, 12
    chunks = chunk_documents(docs, window=W, stride=S, tokenizer=_fake_bpe)
    by_doc: dict[int, list] = {}
    for r in chunks.collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_id)
        stream: list[str] = []
        for r in rows[:-1]:
            assert r.n_tok == W
            stream.extend(r.chunk_text.split(" ")[:S])
        stream.extend(rows[-1].chunk_text.split(" "))
        assert stream == [str(x) for x in _fake_bpe(truth[doc_id])], doc_id

    # dependency gate
    try:
        import tiktoken  # noqa: F401

        pytest.skip("tiktoken installed; gate n/a in this environment")
    except ImportError:
        pass
    from dbkit_spark.functions.text import model_tokenizer

    with pytest.raises(ImportError, match="tiktoken"):
        model_tokenizer()


def test_png_decode_all_filter_types():
    """The stdlib PNG decoder must invert every scanline filter
    (None/Sub/Up/Average/Paeth): forward-filter known pixels per the
    spec in the test, decode, and require exact recovery."""
    import binascii
    import struct
    import zlib

    from dbkit_spark.llm.multimodal import decode_png_pixels

    w, h, ch = 5, 5, 3
    raw = bytes(
        (13 * x + 7 * y + c * 3) % 256
        for y in range(h)
        for x in range(w)
        for c in range(ch)
    )
    stride = w * ch

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    filtered = bytearray()
    for y in range(h):
        ftype = y % 5  # one row per filter type
        filtered.append(ftype)
        for i in range(stride):
            cur = raw[y * stride + i]
            left = raw[y * stride + i - ch] if i >= ch else 0
            up = raw[(y - 1) * stride + i] if y else 0
            ul = raw[(y - 1) * stride + i - ch] if (y and i >= ch) else 0
            if ftype == 0:
                out = cur
            elif ftype == 1:
                out = cur - left
            elif ftype == 2:
                out = cur - up
            elif ftype == 3:
                out = cur - (left + up) // 2
            else:
                out = cur - paeth(left, up, ul)
            filtered.append(out & 0xFF)

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", binascii.crc32(typ + data) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(filtered)))
        + chunk(b"IEND", b"")
    )
    W, H, C, px = decode_png_pixels(png)
    assert (W, H, C) == (w, h, ch) and px == raw

    # corrupted CRC must be rejected, not silently decoded
    bad = bytearray(png)
    bad[-5] ^= 0xFF  # IEND CRC byte
    import pytest as _pytest

    with _pytest.raises(ValueError, match="CRC"):
        decode_png_pixels(bytes(bad))


def test_pixel_decode_roundtrip_and_edges():
    """Every container's encoder→decoder round-trip recovers the exact
    deterministic pixels (incl. BMP bottom-up row flip + BGR→RGB and
    padded widths); top-down BMP and commented PPM parse; JPEG decodes
    for real via the baseline codec, and header-only JPEG is rejected
    as malformed."""
    import pytest as _pytest

    from dbkit_spark.llm.multimodal import (
        decode_image_pixels,
        encode_bmp,
        encode_jpeg_header,
        encode_png,
        encode_ppm,
    )

    for w, h, seed in [(4, 3, 0), (13, 5, 7), (1, 1, 250), (16, 9, 42)]:
        rgb = bytes(
            b
            for y in range(h)
            for x in range(w)
            for v in [(seed + 31 * x + 17 * y) % 256]
            for b in (v, (v * 7) % 256, (v * 13) % 256)
        )
        assert decode_image_pixels(encode_png(w, h, seed)) == ("png", w, h, 3, rgb)
        assert decode_image_pixels(encode_ppm(w, h, seed)) == ("ppm", w, h, 3, rgb)
        # BMP: stored bottom-up in BGR; decoded top-down RGB = row-reversed,
        # channel-swapped deterministic pixels
        bmp_rgb = bytes(
            b
            for y in reversed(range(h))
            for x in range(w)
            for v in [(seed + 31 * x + 17 * y) % 256]
            for b in ((v * 13) % 256, (v * 7) % 256, v)
        )
        assert decode_image_pixels(encode_bmp(w, h, seed)) == ("bmp", w, h, 3, bmp_rgb)

    # top-down BMP (negative height): no row flip
    neg = bytearray(encode_bmp(3, 2, 1))
    neg[22:26] = (-2).to_bytes(4, "little", signed=True)
    f, W, H, C, px = decode_image_pixels(bytes(neg))
    assert (f, W, H, C) == ("bmp", 3, 2, 3)
    v00 = 1  # seed=1, x=0, row 0 as stored
    assert px[:3] == bytes(((v00 * 13) % 256, (v00 * 7) % 256, v00))

    # commented PPM header parses like any netpbm reader
    from dbkit_spark.llm.multimodal import decode_ppm_pixels

    body = bytes(range(2 * 2 * 3))
    commented = b"P6\n# comment line\n2 2\n255\n" + body
    assert decode_ppm_pixels(commented) == (2, 2, 3, body)

    # header-only JPEG (no tables, no scan) is malformed data, not an
    # unsupported variant — the real baseline decoder (llm/jpeg.py)
    # rejects it as ValueError; real payloads round-trip in
    # tests/test_round7.py's jpeg section
    with _pytest.raises(ValueError):
        decode_image_pixels(encode_jpeg_header(4, 3, 0))
    from dbkit_spark.llm.jpeg import synth_jpeg

    f, W, H, C, px = decode_image_pixels(synth_jpeg(20, 18, seed=5))
    assert (f, W, H, C) == ("jpeg", 20, 18, 3) and len(px) == 20 * 18 * 3


def test_image_pixel_stats_operator(spark):
    """image_pixel_stats decodes real pixels through mapInPandas: BMP/PPM/
    PNG rows carry exact per-channel means (verified against a direct
    driver-side decode), JPEG rows emit decoded=false with header dims
    instead of failing the batch, and the fan-out adds no shuffle."""
    from dbkit_spark.llm.multimodal import (
        decode_image_pixels,
        image_pixel_stats,
        with_multiformat_image_payload,
    )
    from dbkit_spark.sources import read_table

    # split=False: the no-shuffle assertion is about the mapInPandas
    # fan-out, not the reader's adaptive scan-split exchange
    docs = read_table(
        spark, "/root/testdata/sf0.001", "documents", split=False
    ).filter(F.col("doc_id") < 40)
    payloads = with_multiformat_image_payload(docs)
    stats = image_pixel_stats(payloads)
    plan = stats._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan.split("== Initial Plan ==")[0]
    rows = {r.doc_id: r for r in stats.collect()}
    assert len(rows) == 40
    local = {r["doc_id"]: bytes(r["payload"]) for r in payloads.collect()}
    for did, r in rows.items():
        w, h = 4 + did % 13, 3 + did % 7
        assert (r.width, r.height) == (w, h), did
        if did % 4 == 3:  # JPEG
            assert not r.decoded and r.mean_r is None
            continue
        fmt, W, H, C, px = decode_image_pixels(local[did])
        assert r.decoded and r.img_format == fmt and C == r.channels
        n = W * H
        want = [sum(px[i + c] for i in range(0, len(px), 3)) / n for c in range(3)]
        assert (r.mean_r, r.mean_g, r.mean_b) == tuple(want), did


def test_ann_incremental_precision_and_recall_monotone(spark, tmp_path):
    """Incremental embedding dedup quality pins: (a) PRECISION 1.0 —
    every emitted pair really clears the cosine threshold (exact verify,
    checked against brute force over pairs involving the batch);
    (b) recall is MONOTONE in table count — the 2-table probe's pairs
    are a superset of the 1-table probe's (table 0 is shared, unions
    only add candidates). Absolute recall is the LSH design's dial and
    is characterized separately (test_multi_table_lsh_recall_lift);
    exact equality with the from-scratch reference is pinned in
    test_ann_incremental_pairs_batch_vs_index."""
    from dbkit_spark.functions.vectors import cosine
    from dbkit_spark.llm.similarity import (
        ann_incremental_pairs,
        load_hyperplane_index,
        save_hyperplane_index,
    )
    from dbkit_spark.sources import read_table

    emb = read_table(spark, "/root/testdata/sf0.01", "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 300)
    batch = emb.filter(F.col("vec_id") < 300)
    path = str(tmp_path / "rec_idx")
    save_hyperplane_index(corpus, path, n_tables=2)
    tables = load_hyperplane_index(spark, path, n_tables=2)
    got2 = {
        (r.id_a, r.id_b)
        for r in ann_incremental_pairs(batch, tables, threshold=0.25).collect()
    }
    got1 = {
        (r.id_a, r.id_b)
        for r in ann_incremental_pairs(
            batch, tables[:1], threshold=0.25
        ).collect()
    }

    # exact ground truth restricted to pairs involving the batch
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    exact = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.lit(True))
        .filter(
            (F.col("id_a") < 300)
            & (F.col("id_a") != F.col("id_b"))
            & (
                (F.col("id_b") >= 300) | (F.col("id_a") < F.col("id_b"))
            )
        )
        .filter(F.round(cosine("va", "vb"), 6) >= 0.25)
        .select("id_a", "id_b")
        .collect()
    }
    assert got2 <= exact, got2 - exact  # precision 1.0: no false positives
    assert got1 <= got2  # recall monotone in table count
    assert len(got2) > len(got1) > 0  # and strictly lifted here


def test_duplicated_spans_detection_and_removal(spark):
    """Suffix-array-style span dedup semantics on a hand fixture: a
    12-token passage shared by two docs merges its 10-gram window hits
    into ONE maximal span per doc at the exact token offsets; removal
    cuts exactly those tokens from all occurrences; re-running on the
    cleaned corpus finds nothing (fixpoint); same-doc internal
    repetition also counts toward min_count."""
    import pytest as _pytest

    from dbkit_spark.llm.dedup import duplicated_spans, remove_duplicated_spans

    shared = "one two three four five six seven eight nine ten eleven twelve"
    docs = spark.createDataFrame(
        [
            (1, "intro alpha beta " + shared + " outro gamma"),
            (2, "different lead " + shared + " different tail words here"),
            (3, "totally unrelated filler text with plenty of tokens here ok"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    spans = {
        (r.doc_id): (r.span_start, r.span_end)
        for r in duplicated_spans(docs, n=10).collect()
    }
    # doc 1: 3 lead tokens, doc 2: 2 lead tokens; span covers the 12 shared
    assert spans == {1: (3, 15), 2: (2, 14)}

    cleaned = remove_duplicated_spans(docs, n=10)
    got = {r.doc_id: r for r in cleaned.collect()}
    assert got[1].clean_text == "intro alpha beta outro gamma"
    assert got[2].clean_text == "different lead different tail words here"
    assert got[1].n_removed == got[2].n_removed == 12
    assert got[3].n_removed == 0 and got[4].clean_text == ""
    # fixpoint: the cleaned corpus has no duplicated spans left
    re_docs = cleaned.select("doc_id", F.col("clean_text").alias("text"))
    assert duplicated_spans(re_docs, n=10).count() == 0

    # same-doc repetition: one doc repeating the passage twice -> two
    # merged spans (non-adjacent), both from min_count=2 within ONE doc
    solo = spark.createDataFrame(
        [(7, shared + " mid break tokens " + shared)],
        "doc_id long, text string",
    )
    twice = sorted(
        (r.span_start, r.span_end)
        for r in duplicated_spans(solo, n=10).collect()
    )
    assert twice == [(0, 12), (15, 27)], twice  # 12 + 3 filler tokens

    with _pytest.raises(ValueError, match="min_count"):
        duplicated_spans(docs, n=10, min_count=1)
    with _pytest.raises(ValueError, match="n > 0"):
        duplicated_spans(docs, n=0)


def test_leakage_safe_split_keeps_clusters_together(spark):
    """Every near-dup cluster must land wholly in ONE split (the
    eval-contamination guarantee), while singleton docs still spread
    across splits; plain split_assign on doc_id demonstrably violates
    the cluster guarantee on the same fixture."""
    from dbkit_spark.llm.sampling import leakage_safe_split, split_assign

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(200)], "doc_id long, text string"
    )
    # 50 clusters of 4 consecutive ids each
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 200, 4) for i in (i, i + 1, i + 2)],
        "doc_a long, doc_b long",
    )
    fr = {"train": 0.7, "val": 0.15, "test": 0.15}
    out = leakage_safe_split(docs, pairs, fr).collect()
    by_cluster: dict[int, set] = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_cluster.values())
    assert len({r.split for r in out}) == 3  # all splits populated
    # determinism under repartitioning
    again = leakage_safe_split(docs.repartition(13), pairs, fr).collect()
    assert {(r.doc_id, r.split) for r in again} == {
        (r.doc_id, r.split) for r in out
    }
    # the naive split leaks on this fixture
    naive = split_assign(docs, "doc_id", fr).collect()
    naive_split = {r.doc_id: r.split for r in naive}
    cluster_of = {r.doc_id: r.cluster_id for r in out}
    leaked = {}
    for did, sp in naive_split.items():
        leaked.setdefault(cluster_of[did], set()).add(sp)
    assert any(len(s) > 1 for s in leaked.values())


def test_reconcile_rows_localizes_damage(spark):
    """Stage-2 row-level reconciliation: given stage 1's damaged-bucket
    report, the row diff finds exactly the perturbed/dropped/added keys
    with the right statuses, touches only damaged buckets (semi-join
    plan), and finds nothing on clean tables."""
    from dbkit_spark.operators.reconcile import (
        bucket_summary,
        reconcile_buckets,
        reconcile_rows,
        row_fingerprint,
    )
    from dbkit_spark.sources import read_table

    ev = read_table(spark, "/root/testdata/sf0.001", "events")
    fp = row_fingerprint([F.col("event_id"), F.col("event_type"),
                          F.col("user_id")])
    replica = (
        ev.filter(F.col("event_id") % 101 != 0)  # dropped rows
        .withColumn(
            "event_type",
            F.when(F.col("event_id") % 97 == 0, F.lit("TAMPERED")).otherwise(
                F.col("event_type")
            ),
        )
    )
    left = bucket_summary(ev, F.col("event_id"), fp, 64)
    fp2 = row_fingerprint([F.col("event_id"), F.col("event_type"),
                           F.col("user_id")])
    right = bucket_summary(replica, F.col("event_id"), fp2, 64)
    damaged = reconcile_buckets(left, right)

    diff = reconcile_rows(ev, replica, F.col("event_id"), fp, damaged, 64)
    got = {(r.key, r.status) for r in diff.collect()}
    ids = [r.event_id for r in ev.select("event_id").collect()]
    want = {(i, "missing_right") for i in ids if i % 101 == 0} | {
        (i, "changed") for i in ids if i % 97 == 0 and i % 101 != 0
    }
    assert got == want and got
    # reversed direction reports the drops as missing_left
    rev = reconcile_rows(replica, ev, F.col("event_id"), fp2, damaged, 64)
    assert {(r.key, r.status) for r in rev.collect()} == {
        (k, {"missing_right": "missing_left", "changed": "changed"}[s])
        for k, s in want
    }
    # clean tables: stage 1 reports nothing, stage 2 diffs nothing
    clean = reconcile_buckets(left, bucket_summary(ev, F.col("event_id"), fp, 64))
    assert reconcile_rows(ev, ev, F.col("event_id"), fp, clean, 64).count() == 0


def test_chrf_emits_its_6dp_round_on_a_half_boundary(spark):
    """chrf_score rounds its chrP/chrR/chrF doubles straight to 6dp;
    chrf_pp emits through a 9dp decimal. The two rules split on this
    pair (pair 83 of the sf0.001 eval pairs): the raw chrR is
    0.50069749966…, which rounds to 0.500697 directly but reads
    0.500697500 at 9dp and then HALF_UP-rounds to 0.500698. q436's
    oracle pins the direct rule, so the chrF emit must stay its own."""
    from dbkit_spark.llm.texteval import chrf_score

    cand = (
        "filter agg row join join column column row vector window big "
        "column scan slow hash group order scan row a part merge line "
        "vector sort order agg order part window column part row small "
        "query agg join key row big customer"
    )
    ref = cand + (
        " fast stream customer a small agg table order fast hash slow agg "
        "hash scan spark value part part agg part stream batch big big key "
        "agg agg merge stream stream stream part scan slow vector fast "
        "spark batch slow a batch"
    )
    pairs = spark.createDataFrame(
        [(83, cand, ref)], "pair_id long, cand string, ref string"
    )
    (row,) = chrf_score(pairs).collect()
    assert (row.chr_p, row.chr_r, row.chrf) == (1.0, 0.500697, 0.556244)
