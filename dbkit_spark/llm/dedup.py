"""Deduplication operators over document corpora (SURVEY.md §2.11).

Seven families, all pure DataFrame ops (JVM-side, shuffle-aware):

- **exact**: sha256 of normalized text → groupBy → deterministic survivor.
  One shuffle on the hash; at 100 TB this is the cheapest pass and runs
  first to shrink the corpus.
- **MinHash + LSH banding**: word-shingles → K portable min-hashes →
  B bands of R rows → band-bucket equi-join for candidates → exact
  Jaccard verify. Cost: candidates shuffle on band keys (tiny vs n²);
  the verify join touches only candidate pairs. K/B/R tune the S-curve
  (``minhash_tune``); ``minhash_incremental_pairs`` joins a new batch
  against the corpus bands.
- **SimHash**: per-token md5-derived ±1 votes over SIMHASH_BITS bit
  positions → signature string; pigeonhole bands find every pair within
  a small Hamming distance.
- **n-gram Jaccard (exact)**: all-pairs via shingle-inverted-index join —
  the O(candidate²) verify baseline; use only post-LSH or on small sets.
- **prefix filter (exact)**: the same pairs as n-gram Jaccard from a
  rarest-first prefix index (AllPairs/ppjoin).
- **containment**: directed doc-in-doc scores over a df-capped index.
- **spans**: duplicated token spans corpus-wide, and their removal.

Shared kernels, written once: ``_key_pairs`` (the ``doc_a < doc_b``
self-join of a keyed table, also used by the image near-dup operator in
``multimodal``), ``_pair_sides`` (per-doc columns joined onto both ends
of a pair), ``_shingle_images`` (the 64-bit shingle image every index
and verify works on), and ``operators.iterate.checkpoint_and_release``
for the operators that hold intermediates in the session cache.

Hashes are md5-based (not Spark's xxhash) so every step is bit-for-bit
reproducible in ANSI SQL — the DuckDB oracles mirror these pipelines
exactly. md5 costs more than xxhash64 but stays JVM-side and vectorized;
swap `_portable_hash` for `F.xxhash64` when cross-engine replay is not
required.
"""
from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import normalized_hash, shingles_from_tokens, tokens
from ..operators.iterate import checkpoint_and_release, held
from ._guards import DEFAULT_MAX_ROWS, require_small

# LSH parameters: K = NUM_BANDS * BAND_ROWS minhashes.
# P(candidate | jaccard=j) = 1 - (1 - j^BAND_ROWS)^NUM_BANDS:
# j=0.5 -> 0.90, j=0.8 -> ~1.0, j=0.2 -> 0.27 (tuned for threshold 0.5).
MINHASH_K = 16
BAND_ROWS = 2
NUM_BANDS = 8
SHINGLE_WORDS = 3
SIMHASH_BITS = 60

# Integer minhash: x = first 48 bits of md5(shingle); h_i = (A[i]*x + B[i])
# mod MINHASH_PRIME. One md5 per shingle, K cheap codegen'd int ops — no
# K-way row explosion, and the (doc, shingle) -> K mins aggregation
# map-side-combines before the single shuffle. A[i] < 2^13 keeps
# A[i]*x + B[i] < 2^62 (no int64 overflow); all arithmetic is exact and
# reproducible in ANSI SQL.
MINHASH_PRIME = 281474976710597  # largest prime < 2^48
MINHASH_A = [3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59]
MINHASH_B = [1000003 * i + 12345 for i in range(16)]


def _shingle_images(shingles: Column | str) -> Column:
    """The distinct 64-bit ``xxhash64`` images of a shingle array: the
    one domain every index, candidate join and verify intersection in
    this module works on, so a prefix filter stays complete for exactly
    the pairs the verify can pass."""
    return F.array_distinct(F.transform(shingles, lambda s: F.xxhash64(s)))


def _sides(
    df: DataFrame, side: str, renamed: Sequence[str], kept: Sequence[str] = ()
) -> DataFrame:
    """``df``'s ``doc_id`` as ``doc_<side>``, ``kept`` as they are, and
    each of ``renamed`` as ``<c>_<side>``."""
    return df.select(
        F.col("doc_id").alias(f"doc_{side}"),
        *kept,
        *[F.col(c).alias(f"{c}_{side}") for c in renamed],
    )


def _key_pairs(index: DataFrame, key: str, carry: Sequence[str] = ()) -> DataFrame:
    """The ``doc_a < doc_b`` rows of a ``(doc_id, key, carry…)`` table
    whose two docs share ``key``: one equi-join of the table with itself,
    so candidates shuffle on the key and never form the n² cross
    product. Each carried column ``c`` comes out as ``c_a``/``c_b``."""
    a = _sides(index, "a", carry, [key])
    b = _sides(index, "b", carry, [key])
    return a.join(b, key).filter(F.col("doc_a") < F.col("doc_b"))


def _pair_sides(pairs: DataFrame, per_doc: DataFrame) -> DataFrame:
    """``pairs`` with each non-id column ``c`` of ``per_doc`` (keyed by
    ``doc_id``) joined on as ``c_a`` by doc_a, then ``c_b`` by doc_b. The
    pairs stay the left side of both joins, which lets AQE broadcast
    them when they are the small side."""
    cols = [c for c in per_doc.columns if c != "doc_id"]
    return pairs.join(_sides(per_doc, "a", cols), "doc_a").join(
        _sides(per_doc, "b", cols), "doc_b"
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: sha256(normalized text); survivor = min id per hash
    (deterministic, unlike dropDuplicates)."""
    w = Window.partitionBy("__h").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__h", normalized_hash(text_col))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__h", "__rn")
    )


def shingle_docs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = SHINGLE_WORDS
) -> DataFrame:
    """(id, shingles) with the distinct word-n-gram set per document.

    The token projection is routed through ``explode(array(...))``:
    without an optimizer barrier, Catalyst's CollapseProject inlines
    ``tokens(text)`` into the shingle lambda and the regex split re-runs
    once per shingle position (~50x per doc — measured 10x slowdown).
    The single-element Generate is a barrier CollapseProject cannot fold
    through, evaluates the tokenizer exactly once per row, and — unlike
    the persist() it replaces — costs no cache materialization, no
    executor storage memory, and no cleanup at 100 TB (measured: same
    warm runtime, 3.6x faster cold at sf0.1). Shingling stays
    shuffle-free (per-row).
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array(tokens(text_col))).alias("__toks"),
    )
    return toks.select(
        "doc_id",
        F.array_distinct(shingles_from_tokens("__toks", n)).alias("shingles"),
    ).filter(F.size("shingles") > 0)


def minhash_signatures(shingled: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """(doc_id, sig): K-element integer minhash signature.

    x(s) = int(md5(s)[0:12], 16) — 48 bits, exact in any engine; the
    signature component i is min over shingles of (A[i]*x + B[i]) mod P.
    Scale shape: one row per (doc, shingle) with K min-aggregates —
    partial (map-side) min combine, single shuffle on doc_id, no row
    explosion. All K hashes are codegen'd integer expressions.
    """
    exploded = shingled.select("doc_id", F.explode("shingles").alias("shingle"))
    x = F.conv(F.substring(F.md5("shingle"), 1, 12), 16, 10).cast("long")
    hashed = exploded.select(
        "doc_id",
        *[
            ((F.lit(MINHASH_A[i]) * x + F.lit(MINHASH_B[i])) % F.lit(MINHASH_PRIME)).alias(
                f"h{i}"
            )
            for i in range(k)
        ],
    )
    mins = hashed.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(k)]
    )
    return mins.select(
        "doc_id", F.array(*[F.col(f"m{i}") for i in range(k)]).alias("sig")
    )


def lsh_band_keys(
    signatures: DataFrame, band_rows: int = BAND_ROWS, num_bands: int = NUM_BANDS
) -> DataFrame:
    """(doc_id, band_key): one 64-bit key per band of the signature.

    band_key = ``xxhash64(band_index, sig[r·b+1..r·b+r])`` — a long, not
    the md5 hex string of earlier rounds (OPTIMIZATION_r16 / VERDICT r15
    item 7, guide §2.3 "shuffle keys and metadata instead of payloads"):
    the band table is held and BOTH candidate self-join sides
    shuffle and hash it, so narrowing the key from a 32-char string
    (~48 B on the wire) to 8 B shrinks the LSH exchange ~3x and makes
    the join's hash/equality fixed-width — and the md5 + concat_ws
    string build per (doc, band) disappears entirely. Two docs agreeing
    on a band's signature slice STILL collide (the function is
    deterministic on (band, slice)), so no true candidate is ever lost;
    a cross-slice xxhash64 collision can only merge two buckets and ADD
    candidate pairs, each of which must still pass the exact Jaccard
    verify (P ≈ pairs/2⁶⁴ — the same one-sided argument as the r15
    hash-keyed verify). All downstream oracles re-verified bit-identical
    at sf0.001/0.01/0.1 (q40/q42/q78/q87/q88/q112 + streaming ingest).
    The md5 band construction remains the ORACLE's (portable) form; the
    band key never appears in any declared output."""
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda b: F.xxhash64(
            b,
            *[
                F.element_at(F.col("sig"), (b * band_rows + i + 1).cast("int"))
                for i in range(band_rows)
            ],
        ),
    )
    return signatures.select("doc_id", F.explode(bands).alias("band_key"))


def lsh_candidate_pairs(band_keys: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing at least one band bucket.
    The equi-join on band_key is the whole point of LSH: candidates
    shuffle on bucket keys instead of forming the n² cross product.

    Callers hold ``band_keys`` (``operators.iterate.held``) while the
    pairs run: both self-join sides consume it and Catalyst does not
    ReusedExchange across the differing aliases, so without a barrier
    the signature pipeline upstream runs twice. Size is bounded at
    NUM_BANDS short rows per doc — the in-memory analogue of the
    bucketed band table a 100 TB pipeline materializes anyway.
    The downstream verify joins are left to AQE, which broadcast-
    converts the candidate side from runtime stats (asserted in
    tests/test_plans.py) — an unconditional broadcast hint would be
    unsafe for corpora whose candidate set exceeds driver memory.

    Measured A/B vs a cacheless single pass (collect_set per bucket,
    then in-bucket pair expansion) at sf0.1, cache dropped between
    reps: join+persist 2.94 s vs 3.86 s median — the codegen'd hash
    join over cached fixed-width rows beats the object-hash
    aggregation + nested-lambda pair expansion."""
    pairs = _key_pairs(band_keys, "band_key")
    return pairs.select("doc_a", "doc_b").distinct()


def jaccard_verify(
    candidates: DataFrame, shingled: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard on candidate pairs; emits (doc_a, doc_b, jaccard).

    The per-pair set intersection runs over the 64-bit shingle images
    (``_shingle_images``), not the shingle strings (OPTIMIZATION_r15,
    guide §4.2 spirit at the JVM level: the intersect's hash-set
    build/probe dominated the verify stage — hashing/equality on
    fixed-width longs instead of ~10-word strings cut the verify stage's
    CPU ~3x at sf0.1, and the joined row narrows by the same factor).
    Set SIZES are taken from the original string arrays before hashing,
    so the union term is exact even if two shingles of one doc collided;
    a collision can perturb the distinct-hash intersection in either
    direction (an inter-doc collision adds one; an intra-doc collision
    whose shared image also appears in the other doc collapses two
    shared shingles into one), with probability ~(shingles/doc)²/2⁶⁴
    per pair either way. Results on the deterministic fixtures are
    bit-identical (q40/q87/q88/q112/q42 oracles re-verified at all
    three SFs)."""
    per_doc = shingled.select(
        "doc_id",
        F.size("shingles").alias("sz"),
        _shingle_images("shingles").alias("hs"),
    )
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.col("sz_a") + F.col("sz_b") - inter
    return (
        _pair_sides(candidates, per_doc)
        .select(
            "doc_a",
            "doc_b",
            (inter.cast("double") / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _near_dup_plan(
    docs: DataFrame, text_col: str, id_col: str, threshold: float
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The lazy plan of ``minhash_near_dup_pairs``: (shingle sets, band
    keys, verified pairs). Read the pairs' plan inside ``held(shingles,
    bands)`` to see it as ``minhash_near_dup_pairs`` runs it."""
    shingled = shingle_docs(docs, text_col, id_col)
    bands = lsh_band_keys(minhash_signatures(shingled))
    pairs = jaccard_verify(lsh_candidate_pairs(bands), shingled, threshold)
    return shingled, bands, pairs


def minhash_near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: (doc_a, doc_b, jaccard).

    Two tables are held for the one job that checkpoints the pairs
    (``checkpoint_and_release``), then released:

    - the shingle sets, which feed three consumers (signatures and both
      sides of the verify join): one in-memory write and read instead
      of two more corpus scans and tokenize passes (in-process A/B x3
      blocks at sf0.1 with the split scan: 1.06/1.09/1.06 s held vs
      1.52/1.24/1.15 s recomputed; over an unsplit scan the cache once
      measured slower, 2.28 s vs 1.60 s median);
    - the narrow (doc_id, band_key) table, which both
      ``lsh_candidate_pairs`` self-join sides consume; without it the
      whole minhash aggregate re-runs per side (A/B receipt in
      BASELINE.md round-8 notes).

    The result is a checkpointed frame that reads neither cache, so a
    caller may fold it into any larger plan. ``_near_dup_plan`` gives
    the lazy pipeline for plan inspection (tests/test_plans.py).
    """
    shingled, bands, pairs = _near_dup_plan(docs, text_col, id_col, threshold)
    return checkpoint_and_release(pairs, shingled, bands)


def simhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = SIMHASH_BITS
) -> DataFrame:
    """(doc_id, simhash): portable bit-string SimHash over distinct tokens.

    Bit j of token t comes from hex digit j//4 of md5(t): value v =
    position in '0123456789abcdef' minus 1; bit = (v >> (3 - j%4)) % 2.
    Per-position vote sum >= 0 -> '1'. All integer arithmetic — identical
    in any engine.

    Plan shape (the oracle mirrors the MATH, not this plan): md5 is
    hashed once per (doc, token) — inside the exploded projection it
    would cost `bits`x the calls (measured 2.6x) — and the explode is
    per hex DIGIT, not per bit: each digit row carries 4 packed vote
    sums, quartering the rows through the (doc, digit) aggregation
    (measured a further 2.4x at sf0.1). Two shuffles, both doc-keyed,
    both map-side combined.
    """
    ndig = (bits + 3) // 4
    tok = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("token")
    ).distinct()
    hashed_tok = tok.select("doc_id", F.md5("token").alias("h"))
    expl = hashed_tok.select(
        "doc_id",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(ndig - 1))).alias("d"),
    )
    val = F.instr(F.lit("0123456789abcdef"), F.expr("substring(h, d + 1, 1)")) - 1
    votes = (
        expl.withColumn("val", val)
        .groupBy("doc_id", "d")
        .agg(
            *[
                F.sum(F.expr(f"2 * (shiftright(val, {3 - k}) % 2) - 1")).alias(
                    f"s{k}"
                )
                for k in range(4)
            ]
        )
    )
    packed = votes.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("d", "s0", "s1", "s2", "s3"))
                ),
                lambda x: F.concat(
                    *[
                        F.when(x[f"s{k}"] >= 0, "1").otherwise("0")
                        for k in range(4)
                    ]
                ),
            ),
            "",
        ).alias("simhash")
    )
    # trim the 4*ndig chars down when bits isn't a multiple of 4
    return packed.select(
        "doc_id", F.substring("simhash", 1, bits).alias("simhash")
    )


def simhash_candidate_pairs(
    sigs: DataFrame,
    max_distance: int = 3,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """(doc_a, doc_b, hamming): SimHash near-dup pairs within
    ``max_distance`` differing bits, from ``simhash_signatures`` output.

    Pigeonhole banding: the signature is split into ``max_distance + 1``
    contiguous blocks; any pair with <= d differing bits agrees *exactly*
    on at least one block, so an equi-join on (block_idx, block_value)
    finds every qualifying pair while never comparing all n² — same scale
    shape as MinHash LSH banding (one shuffle on the band key, bucket
    sizes bounded by block-collision rates). Popcount verification runs
    only on bucket collisions, via 30-bit chunk XOR (integer ops, exact
    in any engine — the DuckDB oracle uses BITSTRING xor + bit_count).

    Completes the SimHash family: ``simhash_signatures`` emits signatures
    (reference has no near-dup operator at all; dedup family per
    SURVEY.md §2.11).
    """
    if not 0 <= max_distance < bits:
        raise ValueError("max_distance must be in [0, bits)")
    nb = max_distance + 1
    width = bits // nb
    bands = []
    for b in range(nb):
        start = b * width + 1
        w = width if b < nb - 1 else bits - width * (nb - 1)
        bands.append(
            F.struct(
                F.lit(b).alias("b"),
                F.substring("simhash", start, w).alias("v"),
            )
        )
    # held: both self-join sides consume band_rows, and without a
    # barrier each side re-runs the full signature pipeline upstream
    # (Catalyst does not ReusedExchange across the differing aliases) —
    # measured 2x the signature cost at sf0.1. Size is bounded:
    # (d+1) short rows per doc. The 100 TB analogue is writing the
    # signature table once, bucketed by band key.
    band_rows = sigs.select(
        "doc_id", "simhash", F.explode(F.array(*bands)).alias("bk")
    )
    cands = (
        _key_pairs(band_rows, "bk", ["simhash"])
        .select("doc_a", "simhash_a", "doc_b", "simhash_b")
        .distinct()
    )
    # exact Hamming distance: XOR 30-bit integer chunks and popcount
    # (conv(bitstr, 2, 10) of <= 30 chars fits a long with headroom)
    chunk_w = 30
    hamming = F.lit(0)
    for start in range(1, bits + 1, chunk_w):
        w = min(chunk_w, bits - start + 1)
        ca = F.conv(F.substring("simhash_a", start, w), 2, 10).cast("long")
        cb = F.conv(F.substring("simhash_b", start, w), 2, 10).cast("long")
        hamming = hamming + F.bit_count(ca.bitwiseXOR(cb))
    pairs = (
        cands.withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_distance)
        .select("doc_a", "doc_b", "hamming")
    )
    return checkpoint_and_release(pairs, band_rows)


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_rows: int | None = DEFAULT_MAX_ROWS,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard via FULL shingle inverted index:
    pairs must share >= 1 shingle to be compared.

    This is the brute-force verify baseline: candidate fanout on hot
    (stop-word) shingles is quadratic in bucket size, so the default
    ``max_rows`` guard refuses large corpora — the production default
    for exact set-similarity is ``jaccard_prefix_filter_pairs`` (same
    results, prefix-filtered candidates, measured 1.6x faster already
    at sf0.1), and the approximate scale path is ``minhash_near_dup_
    pairs``. Pass ``max_rows=None`` to force the quadratic plan.

    The shingle set feeds the inverted index and both verify-join sides,
    so it is held and released through ``checkpoint_and_release``."""
    require_small(docs, max_rows, "ngram_jaccard_pairs", "jaccard_prefix_filter_pairs")
    shingled = shingle_docs(docs, text_col, id_col)
    # inverted index on the verify's shingle images, not shingle strings
    # — the same §2.3 narrowing as jaccard_prefix_filter_pairs
    inv = shingled.select(
        "doc_id", F.explode(_shingle_images("shingles")).alias("shingle")
    )
    cands = _key_pairs(inv, "shingle").select("doc_a", "doc_b").distinct()
    return checkpoint_and_release(
        jaccard_verify(cands, shingled, threshold), shingled
    )


def minhash_incremental_pairs(
    corpus: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Append-batch dedup: near-dup pairs of new docs vs the existing
    corpus, plus within the new batch — NEVER corpus × corpus.

    The daily-ingest shape at 100 TB: the corpus band index is precomputed
    once (in production: persisted to a bucketed table keyed by band_key)
    and each day's batch only joins its own bands against it. Work scales
    with the batch, not the corpus. Emits (doc_a=new id, doc_b=corpus id)
    for cross pairs and (doc_a < doc_b, both new) for in-batch pairs.

    Cache lifecycle: both shingle sets (each feeds its signatures and
    the verify) and the batch's band keys (both ``lsh_candidate_pairs``
    self-join sides) are held for the checkpoint of the pairs, then
    released (``checkpoint_and_release``).
    A long-running ingest driver should still materialize the corpus
    bands/shingles to storage once (write_bucketed on band_key) rather
    than re-shingle the corpus per batch.
    """
    sh_corpus = shingle_docs(corpus, text_col, id_col)
    sh_new = shingle_docs(new_docs, text_col, id_col)
    bands_c = lsh_band_keys(minhash_signatures(sh_corpus))
    bands_n = lsh_band_keys(minhash_signatures(sh_new))
    cross, all_shingles = _batch_vs_corpus(bands_n, bands_c, sh_new, sh_corpus)
    cands = cross.unionByName(lsh_candidate_pairs(bands_n)).distinct()
    return checkpoint_and_release(
        jaccard_verify(cands, all_shingles, threshold), sh_corpus, sh_new, bands_n
    )


def _batch_vs_corpus(
    bands_new: DataFrame,
    bands_corpus: DataFrame,
    sh_new: DataFrame,
    sh_corpus: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """The re-ingest rule of a new batch against an existing corpus, shared
    by ``minhash_incremental_pairs`` and the streaming ingest
    (``streaming/ingest_dedup.ingest_batch``). Returns
    ``(cross candidates, verify shingles)``:

    - distinct (doc_a=new id, doc_b=corpus id) pairs sharing a band key,
      with doc_a != doc_b: a re-ingested doc whose id already exists in
      the corpus must not pair with itself (it would "verify" at jaccard
      1.0 and get itself deleted as its own duplicate);
    - the batch's shingle sets plus the corpus's, the batch winning on
      id collision: a re-ingested doc_id present in both sides would
      otherwise contribute two shingle rows, and jaccard_verify's joins
      would emit duplicate (doc_a, doc_b) pairs — with conflicting
      jaccard values if the text changed.
    """
    a = bands_new.select(F.col("doc_id").alias("doc_a"), "band_key")
    b = bands_corpus.select(F.col("doc_id").alias("doc_b"), "band_key")
    cross = (
        a.join(b, "band_key")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    shingles = sh_new.unionByName(
        sh_corpus.join(sh_new.select("doc_id"), "doc_id", "left_anti")
    )
    return cross, shingles


def jaccard_prefix_filter_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard pairs via PREFIX FILTERING (AllPairs/ppjoin family):
    same results as ``ngram_jaccard_pairs``, far fewer candidates.

    Prefix-filter lemma: J(x,y) >= t implies |x∩y| >= ceil(t·|x|), so a
    matching pair must share a shingle within each side's first
    |x| − ceil(t·|x|) + 1 shingles under any shared global total order.
    Ordering by ascending document frequency (rarest first) puts the
    most selective shingles in the prefix, so the inverted index shrinks
    from every (doc, shingle) row to only prefix rows — and candidate
    generation, the quadratic-risk stage, joins on the rarest shingles
    instead of the stop-shingle buckets that dominate a full inverted
    index at 100 TB. Completeness is oracle-checked (q112 shares q42's
    brute-force oracle) and equality with the unfiltered operator is
    pytest-asserted.

    The shingle sets (index and verify) and the prefix index (both
    candidate self-join sides) are held for the checkpoint of the
    pairs, then released.
    """
    shingled = shingle_docs(docs, text_col, id_col)
    # The ENTIRE index/candidate pipeline runs on 64-bit xxhash64 IMAGES
    # of the shingles, never the ~10-word strings (OPTIMIZATION_r16,
    # guide §2.3 — the q209 precedent applied to this operator: warm
    # decomposition at sf0.1 showed the index build's two window
    # exchanges and the candidate self-join carrying shingle STRINGS
    # were 16.6 + 8.3 executor-CPU s, vs 5.5 s for the already-hashed
    # verify). The prefix-filter lemma only needs A SHARED GLOBAL TOTAL
    # ORDER, and (document frequency, hash image) is one; completeness
    # transfers because the verify's own intersection (r15) is computed
    # on the SAME images (both take ``_shingle_images``): a pair the
    # verify can pass has image-Jaccard >= t (image-set sizes never
    # exceed string-set sizes), and the image-set prefix filter is
    # complete for exactly those pairs.
    # ``__sz`` below is therefore the IMAGE-set size, keeping the lemma
    # arithmetic on one domain; a hash collision (P ~ (shingles/doc)²/
    # 2⁶⁴) perturbs candidates/scores exactly as documented on
    # jaccard_verify. All consumers re-oracled at sf0.001/0.01/0.1.
    him = _shingle_images("shingles")
    inv = shingled.select(
        "doc_id",
        F.size(him).alias("__sz"),
        F.explode(him).alias("shingle"),
    )
    # document frequency as a COUNT window over the shingle partition —
    # one exchange of inv, where the previous groupBy+join shape
    # exchanged inv twice (once into the agg, once to join back);
    # measured 2.3x end-to-end at sf0.1
    wdf = Window.partitionBy("shingle")
    w = Window.partitionBy("doc_id").orderBy("__df", "shingle")
    prefix = (
        inv.withColumn("__df", F.count(F.lit(1)).over(wdf))
        .withColumn("__pos", F.row_number().over(w))
        # ceil over a 9dp-rounded product: binary FP can over-round the
        # exact product upward (0.07*100 = 7.000000000000001 -> ceil 8),
        # which would SHORTEN the prefix below what the lemma requires
        # and silently drop true pairs. 9dp absorbs that last-ulp noise
        # for any realistic threshold while never reaching the next
        # integer for non-borderline products.
        .filter(
            F.col("__pos")
            <= F.col("__sz")
            - F.ceil(F.round(F.lit(threshold) * F.col("__sz"), 9))
            + 1
        )
        .select("doc_id", "shingle", "__sz")
        # both candidate self-join sides consume the prefix index;
        # holding it (tiny: prefix rows only) stops the whole df+ranking
        # chain from executing twice — the storage analogue of writing
        # the prefix index before the join at 100 TB
    )
    cands = (
        _key_pairs(prefix, "shingle", ["__sz"])
        # size-ratio filter (AllPairs length filter, exact): J >= t
        # forces min(|x|,|y|) >= t·max(|x|,|y|) — a necessary condition,
        # so dropping violators can never lose a qualifying pair. Cuts
        # the verify-join candidate volume 24% at sf0.1 (409k -> 310k
        # pairs) for one codegen comparison per candidate row. The
        # product is 9dp-rounded like the prefix bound above: unrounded,
        # 0.07*100 = 7.000000000000001 rejects |x|=7 inside |y|=100,
        # a pair with J = 0.07 exactly.
        .filter(
            F.least("__sz_a", "__sz_b")
            >= F.round(F.lit(threshold) * F.greatest("__sz_a", "__sz_b"), 9)
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    return checkpoint_and_release(
        jaccard_verify(cands, shingled, threshold), shingled, prefix
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float = 0.6,
    max_df: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df_frac: float | None = None,
) -> DataFrame:
    """Directed near-dup detection by shingle CONTAINMENT:
    c(A→B) = |shingles(A) ∩ shingles(B)| / |shingles(A)|.

    Jaccard is symmetric, so a short doc fully quoted inside a long one
    scores low (union is dominated by the container) and survives
    symmetric dedup — the classic "boilerplate/quotation" leak in
    training corpora. Containment normalizes by the CONTAINED side
    alone, so doc-in-doc shows up near 1.0 regardless of size ratio.

    Output: (contained, container, containment) — both directions of a
    pair are evaluated independently against ``threshold``.

    Scale shape: one inverted-index self-join on shingle with a
    document-frequency cap (``max_df``, the q112 one-exchange COUNT
    window) — dropping ultra-common shingles bounds per-shingle pair
    fanout to max_df² and is the standard stop-shingle practice; the
    overlap count is therefore conservative (never inflated), while the
    denominator stays the FULL shingle-set size. Overlap counting is a
    map-side-combinable pair agg; sizes join back by id (O(docs) rows).

    ``max_df_frac``: optional CORPUS-RELATIVE cap — the effective cap
    becomes ``max(max_df, ceil(max_df_frac * n_docs))``. A fixed
    absolute cap tuned on a small corpus is too aggressive at 100 TB
    (a shingle shared by 51 of 10^10 docs is not boilerplate); the
    relative form keeps the stop-shingle semantics proportional while
    the absolute floor still bounds fanout on tiny corpora. Costs one
    metadata-sized count when set; default ``None`` preserves the
    fixed-cap behavior exactly.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    if max_df_frac is not None and not 0.0 < max_df_frac <= 1.0:
        raise ValueError("max_df_frac must be in (0, 1]")

    # held ONCE: sizes and the inverted index both derive from the
    # shingling pass (tokenize + n-gram + distinct), so without this
    # barrier that pass executes twice
    sh = shingle_docs(docs, text_col, id_col)
    with held(sh):
        if max_df_frac is not None:
            import math

            max_df = max(max_df, math.ceil(max_df_frac * sh.count()))
        sizes = sh.select("doc_id", F.size("shingles").alias("n"))
        inv = sh.select("doc_id", F.explode("shingles").alias("shingle"))
        # hold the capped index: it feeds BOTH sides of the self-join, and
        # without the barrier each side re-runs shingling + the df window —
        # 13 exchanges / 4 corpus scans collapse to one materialized index
        # (the q112 held-prefix-index discipline; at 100 TB this is the
        # difference between one corpus pass and four)
        capped = (
            inv.withColumn(
                "df", F.count("*").over(Window.partitionBy("shingle"))
            )
            .filter(F.col("df") <= max_df)
            .drop("df")
        )
        ov = (
            _key_pairs(capped, "shingle")
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("ov"))
        )
        sized = _pair_sides(ov, sizes)
        # both directions from ONE pass over the overlap pipeline: a union of
        # two selects would re-execute the join+agg per branch; the 2-element
        # array explode is per-row, so the pipeline runs once
        both = sized.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("contained"),
                        F.col("doc_b").alias("container"),
                        (F.col("ov").cast("double") / F.col("n_a")).alias(
                            "containment"
                        ),
                    ),
                    F.struct(
                        F.col("doc_b").alias("contained"),
                        F.col("doc_a").alias("container"),
                        (F.col("ov").cast("double") / F.col("n_b")).alias(
                            "containment"
                        ),
                    ),
                )
            ).alias("d")
        ).select("d.contained", "d.container", "d.containment")
        return checkpoint_and_release(
            both.filter(F.col("containment") >= threshold), capped
        )


def duplicated_spans(
    docs: DataFrame,
    n: int = 10,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicated-substring detection, the distributed re-expression
    of suffix-array training-data dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): every maximal token
    span whose every length-``n`` window occurs >= ``min_count`` times
    CORPUS-WIDE (same-doc repeats count).

    Output: (id_col, span_start, span_end) in token offsets, end
    exclusive — overlapping/adjacent duplicated windows are merged into
    maximal spans, so a 50-token passage shared by two docs emits ONE
    span of ~50+ tokens per doc, not 40 window hits.

    Plan shape at 100 TB: positioned n-gram windows are a map-side
    array transform + explode (rows ∝ corpus tokens, the same class as
    the q112/q186 inverted indexes); the corpus-wide window count is
    ONE exchange on the n-gram (the q112 COUNT-window discipline, no
    self-join); span merge is one doc-keyed window (running-max
    islands, the q195 interval-union rule). Nothing is quadratic and
    nothing funnels through one partition.
    """
    if n <= 0 or min_count < 2:
        raise ValueError("need n > 0 and min_count >= 2")
    toks = docs.select(
        F.col(id_col), tokens(text_col).alias("_t")
    ).filter(F.size("_t") >= n)
    # The window key is a 64-bit xxhash64 of the n-token SLICE, not the
    # concatenated gram string (OPTIMIZATION_r15, guide §2.3 "shuffle
    # keys and metadata instead of payloads"): the count exchange is the
    # plan's one full-data shuffle and the gram text was its payload —
    # hashing the slice directly narrows the shuffled row from
    # ~(8+4+10·w) bytes to 20 and skips building one ~10-word string
    # per token position entirely (measured at sf0.1: stage shuffle
    # write 9.58 → 3.0 MB, the gram stage's CPU −30%). xxhash64 over
    # the array hashes each element with length framing, so token
    # boundaries stay significant exactly as they did under the
    # space-joined string (tokens are \\W-free by construction). A
    # 64-bit collision can only MERGE two gram counts — i.e. at corpus
    # scale it can, with probability ~D²/2⁶⁴, flag one extra window as
    # duplicated; it can never lose a true duplicate. Span output on
    # the deterministic fixtures is bit-identical (q209/q210 DuckDB
    # oracles re-verified at sf0.001/0.01/0.1).
    grams = toks.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("_t") - n),
                lambda i: F.struct(
                    i.alias("start"),
                    F.xxhash64(F.slice("_t", i + 1, n)).alias("gram"),
                ),
            )
        ).alias("g"),
    ).select(id_col, "g.start", "g.gram")
    dup = (
        grams.withColumn(
            "cnt", F.count("*").over(Window.partitionBy("gram"))
        )
        .filter(F.col("cnt") >= min_count)
        .select(id_col, "start", (F.col("start") + n).alias("end"))
    )
    w = Window.partitionBy(id_col).orderBy("start")
    run = Window.partitionBy(id_col).orderBy("start").rowsBetween(
        Window.unboundedPreceding, -1
    )
    flagged = dup.withColumn(
        "new_island",
        F.when(
            F.col("start") > F.coalesce(F.max("end").over(run), F.lit(-1)),
            1,
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "island", F.sum("new_island").over(w)
    )
    return (
        islands.groupBy(id_col, "island")
        .agg(
            F.min("start").alias("span_start"),
            F.max("end").alias("span_end"),
        )
        .select(id_col, "span_start", "span_end")
    )


def remove_duplicated_spans(
    docs: DataFrame,
    n: int = 10,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cut every duplicated span (``duplicated_spans``) out of every doc:
    (id_col, clean_text, n_tokens, n_removed). ALL occurrences are
    removed — the deterministic boilerplate-scrub mode; a keep-one-copy
    policy is whole-doc cluster logic (``dedup_survivors``), not a span
    operation. Docs with no duplicated spans pass through unchanged.

    The cut is a per-doc higher-order filter over the token array
    against the doc's (few, merged) spans — the span list joins back
    doc-keyed and the token filter is JVM codegen'd; no Python, no
    extra shuffle beyond the doc-keyed join.
    """
    spans = duplicated_spans(docs, n, min_count, text_col, id_col)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    toks = docs.select(F.col(id_col), tokens(text_col).alias("_t"))
    joined = toks.join(per_doc, id_col, "left")
    no_spans = F.array().cast("array<struct<span_start:int,span_end:int>>")
    kept = F.filter(
        "_t",
        lambda tok, i: ~F.exists(
            F.coalesce("_spans", no_spans),
            lambda s: (s.span_start <= i) & (i < s.span_end),
        ),
    )
    return joined.select(
        id_col,
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size("_t").cast("long").alias("n_tokens"),
        (F.size("_t") - F.size(kept)).cast("long").alias("n_removed"),
    )


def minhash_tune(
    sims: DataFrame,
    sim_col: str = "jaccard",
    n_hashes: int = MINHASH_K,
    target: float = 0.5,
) -> DataFrame:
    """MinHash-LSH band/row AUTO-TUNER: for every factorization
    ``n_hashes = b·r``, evaluate the banding S-curve
    ``P(candidate | s) = 1 − (1 − s^r)^b`` (Leskovec–Rajaraman–Ullman,
    Mining of Massive Datasets ch. 3) against an OBSERVED pair-
    similarity distribution and rank configs by how close the curve's
    analytic threshold ``s* = (1/b)^(1/r)`` lands to ``target``.

    Output, one row per (b, r): ``b, r, s_star`` (6dp), ``exp_recall``
    (mean P over pairs with s ≥ target — the banding miss rate
    pair_quality measures empirically, predicted analytically),
    ``exp_waste`` (mean P over pairs below target — candidate-
    verification work wasted on non-duplicates), ``n_pos, n_neg``, and
    ``pick_rank`` (1 = recommended: smallest |s* − target|, ties to
    larger b = recall-leaning).

    Input contract: ``sims`` is an AUDIT-SCALE pair table — the exact
    baseline a ``pair_quality`` run already materializes (its truth
    side is require_small-guarded by design), or any sampled/blocked
    pair set; the tuner consumes one similarity column and never
    touches documents. Plan shape at any input size: one map-side
    explode of the ≤ d(n_hashes) config literals (never a join) + one
    map-side-combined groupBy over ≤ d(n_hashes) keys. Probabilities
    are 9dp-rounded before the decimal-stabilized mean (the SURVEY
    §5.3 libm rule — pow() may drift an ulp across engines)."""
    from ..operators.aggregate import stable_avg

    if n_hashes < 2:
        raise ValueError("n_hashes must be >= 2")
    if not 0.0 < target < 1.0:
        raise ValueError("target must be in (0, 1)")
    configs = [
        (b, n_hashes // b)
        for b in range(1, n_hashes + 1)
        if n_hashes % b == 0
    ]
    s = F.col(sim_col).cast("double")
    cfg = F.explode(
        F.array(
            *[
                F.struct(F.lit(b).alias("b"), F.lit(r).alias("r"))
                for b, r in configs
            ]
        )
    ).alias("_cfg")
    scored = sims.select(s.alias("_s"), cfg).select(
        "_s", F.col("_cfg.b").alias("b"), F.col("_cfg.r").alias("r")
    )
    p = F.round(
        F.lit(1.0)
        - F.pow(F.lit(1.0) - F.pow(F.col("_s"), F.col("r")), F.col("b")),
        9,
    )
    pos = F.when(F.col("_s") >= F.lit(target), p)
    neg = F.when(F.col("_s") < F.lit(target), p)
    agg = (
        scored.groupBy("b", "r")
        .agg(
            F.round(stable_avg(pos, scale=9), 6).alias("exp_recall"),
            F.round(stable_avg(neg, scale=9), 6).alias("exp_waste"),
            F.count(pos).cast("long").alias("n_pos"),
            F.count(neg).cast("long").alias("n_neg"),
        )
    )
    s_star = F.pow(F.lit(1.0) / F.col("b"), F.lit(1.0) / F.col("r"))
    # ranking window runs over <= d(n_hashes) config rows (metadata-
    # sized by construction), never data — the global-window caveat of
    # SURVEY §5.3 does not bite here
    w = Window.orderBy(
        F.abs(F.round(s_star, 9) - F.lit(target)).asc(), F.col("b").desc()
    )
    return agg.select(
        "b",
        "r",
        F.round(s_star, 6).alias("s_star"),
        "exp_recall",
        "exp_waste",
        "n_pos",
        "n_neg",
        F.row_number().over(w).cast("int").alias("pick_rank"),
    )


def drop_boilerplate_segments(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = r"\s\|\s",
    join_sep: str = " | ",
    min_docs: int = 10,
) -> DataFrame:
    """CORPUS-LEVEL BOILERPLATE REMOVAL (the CCNet/RefinedWeb paragraph-
    dedup cleaning step: navigation bars, cookie banners, copyright
    footers repeat verbatim across a site's pages — frequency across
    DOCUMENTS is the signal, which no within-document filter can see):
    split each document into segments on ``sep``, drop every segment
    whose normalized form appears in ≥ ``min_docs`` distinct documents,
    reassemble the survivors in original order.

    Output: (id, clean_text, n_kept, n_removed).

    Scale shape: one posexplode (map-side), ONE map-side-combined
    distinct-count aggregate per normalized segment hash, and the
    boilerplate set — tiny by construction, a segment must repeat
    across ``min_docs`` documents to enter it — broadcasts back as a
    LEFT ANTI hash join; reassembly is one doc-keyed aggregate
    (sort_array over (pos, seg) structs, codegen). At 100 TB swap the
    exact countDistinct for approx_count_distinct and persist the
    boilerplate table per crawl snapshot — the candidate set, not the
    corpus, is what iterates. Normalization = trim + lower, hashed with
    the engine's portable md5 rule so a SQL oracle replays membership
    exactly."""
    if min_docs < 2:
        raise ValueError("min_docs must be >= 2")
    seg = F.posexplode(F.split(F.col(text_col), sep))
    segs = docs.select(F.col(id_col), seg.alias("pos", "seg")).withColumn(
        "_h", F.md5(F.trim(F.lower(F.col("seg"))))
    )
    boiler = (
        segs.groupBy("_h")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_h")
    )
    kept = segs.join(F.broadcast(boiler), "_h", "left_anti")
    removed_counts = (
        segs.join(F.broadcast(boiler), "_h", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("_n_removed"))
    )
    reassembled = (
        kept.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("seg")))
            ).alias("_ordered")
        )
        .select(
            id_col,
            F.array_join(F.transform("_ordered", lambda s: s["seg"]), join_sep)
            .alias("clean_text"),
            F.size("_ordered").cast("long").alias("n_kept"),
        )
    )
    return (
        docs.select(id_col)
        .join(reassembled, id_col, "left")
        .join(removed_counts, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("_n_removed", F.lit(0)).cast("long").alias("n_removed"),
        )
    )


def ngram_novelty(
    candidates: DataFrame,
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """N-GRAM NOVELTY / MEMORIZATION scoring of a candidate set against a
    FROZEN reference corpus — the fuzzy-overlap extension of exact-match
    decontamination (q89/q141 family; the measurement side of Lee et
    al. 2022 "Deduplicating Training Data Makes Language Models Better"
    and the memorization audits of Carlini et al. 2022): for each
    candidate document, what fraction of its distinct word n-grams
    already appears ANYWHERE in the reference? High overlap = the
    candidate is memorized/derivative mass (or eval contamination);
    novelty = 1 - overlap is the marginal-information score a data-
    mixing pipeline ranks candidates by.

    Scale shape: the reference reduces ONCE to its distinct gram set
    (map-side-combined distinct — persist it per corpus snapshot; the
    candidate batch, not the reference, is what iterates); candidates
    posexplode to per-doc DISTINCT grams (array_distinct before the
    explode, so a gram repeated inside one doc counts once); membership
    is one LEFT equi-join on the gram key + one doc-keyed count agg. At
    100 TB join on a 64-bit gram hash (xxhash64) instead of the raw
    string to cut shuffle width — the anchor joins the string so the
    SQL oracle is byte-exact.

    Docs with fewer than ``n`` tokens have no grams and are EXCLUDED
    (novelty is undefined on an empty gram set). Output: (id, n_grams,
    n_seen, novelty 6dp).
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    toks = candidates.select(
        F.col(id_col), F.explode(F.array(tokens(text_col))).alias("_toks")
    )
    cand = (
        toks.select(
            id_col,
            F.explode(
                F.array_distinct(shingles_from_tokens("_toks", n))
            ).alias("gram"),
        )
    )
    ref_toks = reference.select(
        F.explode(F.array(tokens(text_col))).alias("_toks")
    )
    ref_grams = (
        ref_toks.select(F.explode(shingles_from_tokens("_toks", n)).alias("gram"))
        .distinct()
        .withColumn("_seen", F.lit(1))
    )
    return (
        cand.join(ref_grams, "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce("_seen", F.lit(0))).cast("long").alias("n_seen"),
        )
        .select(
            id_col,
            "n_grams",
            "n_seen",
            F.round(
                F.lit(1.0) - F.col("n_seen") / F.col("n_grams"), 6
            ).alias("novelty"),
        )
    )


def near_dup_leakage(
    pairs: DataFrame,
    docs: DataFrame,
    group_col: str,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """CROSS-GROUP near-duplicate leakage matrix — the report that
    catches train/eval contamination and licensing bleed through
    near-dups rather than exact copies (Lee et al. 2022 found
    substantial cross-split overlap this way): given a near-dup pair
    table (any generator — minhash, prefix-filter, semdedup) and a
    doc→group mapping (split, source, license), how many near-dup
    pairs STAY inside a group vs cross between each group pair.

    Plan: two equi-joins of the pairs table against the (id, group)
    projection (AQE broadcasts it when small; at 100 TB both are hash
    joins on the id key), then ONE map-side-combined count aggregate on
    the canonicalized (least, greatest) group pair — pair-table sized,
    never corpus-sized. No window, no collect.

    Output per unordered group pair: (group_a <= group_b, n_pairs,
    is_cross). Pairs whose ids are missing from ``docs`` are dropped by
    the inner joins (they have no group to attribute). ``a_col``/
    ``b_col`` name the pair table's endpoint columns (doc_a/doc_b for
    the Jaccard family; pass id_a/id_b for ann_bucketed output).
    """
    m = docs.select(
        F.col(id_col).alias("_mid"), F.col(group_col).alias("_mg")
    )
    joined = (
        pairs.join(m.withColumnRenamed("_mid", a_col), a_col)
        .withColumnRenamed("_mg", "_ga")
        .join(m.withColumnRenamed("_mid", b_col), b_col)
        .withColumnRenamed("_mg", "_gb")
    )
    ga = F.least("_ga", "_gb")
    gb = F.greatest("_ga", "_gb")
    return (
        joined.groupBy(ga.alias("group_a"), gb.alias("group_b"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "group_a",
            "group_b",
            "n_pairs",
            (F.col("group_a") != F.col("group_b")).alias("is_cross"),
        )
    )


def dedup_sensitivity(
    sims: DataFrame,
    thresholds: list[float],
    sim_col: str = "jaccard",
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """Threshold-sensitivity curve for a dedup pass — the knob-setting
    readout next to q363's banding tuner: for each candidate threshold,
    how many pairs qualify and how many distinct documents are touched.
    A cliff between two thresholds means the corpus has a near-dup band
    there; pick τ on the flat side of it.

    ONE pass over the pair table: a literal threshold explode (×|τ|,
    config-sized, never a join) followed by one count + one
    distinct-count aggregate per threshold. The doc count explodes each
    qualifying pair into its two endpoints first — still pair-table
    sized. At 100 TB swap count_distinct for approx_count_distinct
    (documented trade; the anchor keeps the exact form for the oracle).
    """
    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    if any(b <= a for a, b in zip(thresholds, thresholds[1:])):
        # Strictly ascending: a duplicated tau would duplicate its rows
        # in the exploded base frame and every downstream join row.
        raise ValueError("thresholds must be strictly ascending")
    tau = F.explode(
        F.array(*[F.lit(float(t)) for t in thresholds])
    ).alias("threshold")
    qual = sims.select(F.col(sim_col).alias("_s"), id_a, id_b).select(
        tau, "_s", id_a, id_b
    ).filter(F.col("_s") >= F.col("threshold"))
    ends = qual.select(
        "threshold",
        F.explode(F.array(F.col(id_a), F.col(id_b))).alias("_doc"),
    )
    n_pairs = qual.groupBy("threshold").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    n_docs = ends.groupBy("threshold").agg(
        F.countDistinct("_doc").alias("n_docs_affected")
    )
    base = sims.sparkSession.createDataFrame(
        [(float(t),) for t in thresholds], "threshold double"
    )
    return (
        base.join(n_pairs, "threshold", "left")
        .join(n_docs, "threshold", "left")
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs_affected", F.lit(0))
            .cast("long")
            .alias("n_docs_affected"),
        )
    )


def survivor_by_score(
    df: DataFrame,
    label_col: str,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware dedup survivor selection — the upgrade of the
    min-id convention (q39): within each duplicate cluster keep the
    HIGHEST-quality member instead of the arbitrary lowest id (what
    production pipelines actually do: among near-identical crawls of a
    page, keep the cleanest rendering). Deterministic: score DESC,
    id ASC tiebreak — re-runs and engines agree even on all-tied
    clusters.

    One window over cluster-sized partitions (the label key) — a
    single shuffle on the label, no corpus-wide ordering, no collect.
    Output: every input row with its cluster's ``kept`` verdict, so
    both the filtered corpus (kept) and the removal audit (NOT kept)
    fall out of one pass.
    """
    w = Window.partitionBy(label_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        df.select(id_col, label_col, score_col)
        .withColumn("_rn", F.row_number().over(w))
        .select(
            id_col,
            label_col,
            score_col,
            (F.col("_rn") == 1).alias("kept"),
        )
    )
