"""Streaming DEDUP INGEST: the production corpus-building loop
(SURVEY §2.9 × §2.11) — a document stream lands in a persistent corpus,
and each micro-batch admits only documents that are near-duplicates of
NOTHING already admitted.

Semantics (deterministic, the real ingest contract):

- FIRST ARRIVAL WINS across micro-batches: a doc is rejected iff it
  near-dups an already-admitted doc. (Batch boundaries therefore choose
  survivors by arrival order — that is streaming ingest's nature, and
  exactly how a daily-crawl pipeline behaves.)
- MIN-ID WINS within a batch: in-batch near-dup clusters keep their
  min-id member (``dedup_survivors``), so a batch's admissions are
  independent of partitioning.
- Re-ingesting an admitted doc (same id) is a no-op, never a
  self-rejection (the q78 rule).

State = three append-only parquet tables under ``state_dir``:
``docs`` (admitted corpus), ``shingles`` (per-doc shingle sets — the
verify store), ``bands`` (per-doc LSH band keys — the candidate index).
Work per batch ∝ batch: the batch is shingled/hashed once; corpus-side
candidates come from the BAND index equi-join (never corpus×corpus,
never a corpus re-hash); the Jaccard verify probes the shingle store
keyed by candidate doc ids. At 100 TB the two stores are bucketed by
doc_id/band_key so the probes prune; appends are new files, never
rewrites (object-store safe).

Reference: dbkit has no streaming surface (roadmap README.md:32-37);
this composes the engine's incremental-dedup primitives into the ingest
loop they exist for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..llm.cluster import dedup_survivors
from ..llm.dedup import (
    jaccard_verify,
    lsh_band_keys,
    lsh_candidate_pairs,
    minhash_signatures,
    shingle_docs,
)


def _paths(state_dir: str) -> dict[str, str]:
    return {t: f"{state_dir}/{t}" for t in ("docs", "shingles", "bands")}


def ingest_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    threshold: float = 0.5,
    first_batch: bool | None = None,
) -> int:
    """Admit one batch of (doc_id, text) into the corpus state; returns
    the number of admitted docs. Driver-sequential (call from
    foreachBatch or a backfill loop).

    ``first_batch`` defaults to state-existence detection — IMPORTANT
    for restart safety: foreachBatch is at-least-once, and a replayed
    batch 0 that skipped the corpus checks would double-append its
    docs. With detection, a replayed batch re-checks against the
    already-written state and its ids anti-join away (the id no-op
    rule), so replays append nothing. Exactly-once across a crash
    INSIDE the three appends still needs a transactional table format
    (same caveat as every plain-parquet foreachBatch sink here)."""
    import os

    p = _paths(state_dir)
    if first_batch is None:
        first_batch = not os.path.isdir(p["bands"])
    if not first_batch:
        # a state written with another band-key type would fail the join
        # mid-job (ANSI) or silently match nothing (non-ANSI)
        bands_c = spark.read.parquet(p["bands"])
        found = bands_c.schema["band_key"].dataType
        if found != T.LongType():
            raise ValueError(
                f"incompatible ingest state {state_dir!r}: bands.band_key "
                f"found {found.simpleString()}, expected "
                f"{T.LongType().simpleString()}"
            )

    sh_new = shingle_docs(batch, "text", "doc_id").persist()
    bands_new = lsh_band_keys(minhash_signatures(sh_new)).persist()
    if first_batch:
        survivors = _in_batch_survivors(batch, sh_new, bands_new, threshold)
    else:
        sh_c = spark.read.parquet(p["shingles"])
        a = bands_new.select(F.col("doc_id").alias("doc_a"), "band_key")
        b = bands_c.select(F.col("doc_id").alias("doc_b"), "band_key")
        # re-ingest rule: same id never pairs with itself
        cands = (
            a.join(b, "band_key")
            .filter(F.col("doc_a") != F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
        # verify against batch ∪ corpus shingles (batch wins id collisions)
        all_sh = sh_new.unionByName(
            sh_c.join(sh_new.select("doc_id"), "doc_id", "left_anti")
        )
        rejected = (
            jaccard_verify(cands, all_sh, threshold)
            .select(F.col("doc_a").alias("doc_id"))
            .distinct()
        )
        # also reject exact id re-ingests (already admitted)
        already = spark.read.parquet(p["docs"]).select("doc_id")
        fresh = (
            batch.join(rejected, "doc_id", "left_anti")
            .join(already, "doc_id", "left_anti")
        )
        fresh_sh = sh_new.join(fresh.select("doc_id"), "doc_id", "left_semi")
        fresh_bands = bands_new.join(
            fresh.select("doc_id"), "doc_id", "left_semi"
        )
        survivors = _in_batch_survivors(fresh, fresh_sh, fresh_bands, threshold)

    # localCheckpoint (NOT persist): the admitted set's lineage reads the
    # very state tables the appends below mutate. A cache can evict and
    # re-evaluate — after the docs append, a re-evaluated `already`
    # anti-join silently empties `ids`, and later appends write nothing
    # (observed: the band index lost every batch-2 doc). The eager
    # checkpoint severs lineage so the admitted set is immutable across
    # the three appends regardless of caching.
    admitted = survivors.localCheckpoint(eager=True)
    n = admitted.count()
    if n:
        ids = admitted.select("doc_id")
        admitted.write.mode("append").parquet(p["docs"])
        sh_new.join(ids, "doc_id", "left_semi").write.mode("append").parquet(
            p["shingles"]
        )
        bands_new.join(ids, "doc_id", "left_semi").write.mode(
            "append"
        ).parquet(p["bands"])
    sh_new.unpersist()
    bands_new.unpersist()
    return n


def _in_batch_survivors(batch, sh, bands, threshold):
    pairs = jaccard_verify(lsh_candidate_pairs(bands), sh, threshold).select(
        "doc_a", "doc_b"
    )
    return dedup_survivors(batch, pairs).drop("cluster_id")


def run_dedup_ingest(
    stream_df: DataFrame,
    state_dir: str,
    threshold: float = 0.5,
    timeout_sec: int = 300,
) -> DataFrame:
    """Drive a (doc_id, text) stream to completion (availableNow),
    admitting each micro-batch through ``ingest_batch``; returns the
    final admitted corpus. foreachBatch runs driver-sequential, so the
    first-arrival-wins order is the micro-batch order."""

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        # first_batch by state detection, NOT batch_id == 0: a replayed
        # batch 0 after a checkpoint restart must re-check the corpus
        ingest_batch(batch_df.sparkSession, batch_df, state_dir, threshold)

    q = (
        stream_df.writeStream.foreachBatch(_ingest)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{state_dir}/_checkpoint")
        .start()
    )
    try:
        finished = q.awaitTermination(timeout_sec)
        if not finished:
            raise TimeoutError(
                f"dedup ingest did not finish within {timeout_sec}s"
            )
    finally:
        if q.isActive:
            q.stop()
    return stream_df.sparkSession.read.parquet(_paths(state_dir)["docs"])
