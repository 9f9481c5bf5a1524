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

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm.cluster import dedup_survivors
from ..llm.dedup import (
    _batch_vs_corpus,
    jaccard_verify,
    lsh_band_keys,
    lsh_candidate_pairs,
    minhash_signatures,
    shingle_docs,
)
from ..operators.iterate import held
from .runner import _drive


def _paths(state_dir: str) -> dict[str, str]:
    return {t: f"{state_dir}/{t}" for t in ("docs", "shingles", "bands")}


def ingest_batch(
    spark: SparkSession,
    batch: DataFrame,
    state_dir: str,
    threshold: float = 0.5,
) -> int:
    """Admit one batch of (doc_id, text) into the corpus state; returns
    the number of admitted docs. Driver-sequential (call from
    foreachBatch or a backfill loop).

    The first batch is detected from the state directory — IMPORTANT
    for restart safety: foreachBatch is at-least-once, and a replayed
    batch 0 that skipped the corpus checks would double-append its
    docs. With detection, a replayed batch re-checks against the
    already-written state and its ids anti-join away (the id no-op
    rule), so replays append nothing. Exactly-once across a crash
    INSIDE the three appends still needs a transactional table format
    (same caveat as every plain-parquet foreachBatch sink here)."""
    p = _paths(state_dir)
    first_batch = not os.path.isdir(p["bands"])
    sh_new = shingle_docs(batch, "text", "doc_id")
    bands_new = lsh_band_keys(minhash_signatures(sh_new))
    if not first_batch:
        state = {t: spark.read.parquet(path) for t, path in p.items()}
        # a state written with other column types would fail a join
        # mid-job (ANSI), silently match nothing (non-ANSI) or append
        # files the next read cannot merge
        _check_state(
            state_dir, state, {"docs": batch, "shingles": sh_new, "bands": bands_new}
        )

    with held(sh_new, bands_new):
        if first_batch:
            fresh, fresh_sh, fresh_bands = batch, sh_new, bands_new
        else:
            cands, all_sh = _batch_vs_corpus(
                bands_new, state["bands"], sh_new, state["shingles"]
            )
            rejected = (
                jaccard_verify(cands, all_sh, threshold)
                .select(F.col("doc_a").alias("doc_id"))
                .distinct()
            )
            # also reject exact id re-ingests (already admitted)
            already = state["docs"].select("doc_id")
            fresh = (
                batch.join(rejected, "doc_id", "left_anti")
                .join(already, "doc_id", "left_anti")
            )
            fresh_sh = sh_new.join(fresh.select("doc_id"), "doc_id", "left_semi")
            fresh_bands = bands_new.join(
                fresh.select("doc_id"), "doc_id", "left_semi"
            )

        # localCheckpoint (NOT a cache): the admitted set's lineage reads
        # the very state tables the appends below mutate. A cache can
        # evict and re-evaluate — after the docs append, a re-evaluated
        # `already` anti-join silently empties `ids`, and later appends
        # write nothing (observed: the band index lost every batch-2
        # doc). The eager checkpoint severs lineage so the admitted set
        # is immutable across the three appends regardless of caching.
        # Both in-batch candidate self-join sides read the band table, so
        # it is held while the component loop and the checkpoint run (in
        # a first batch it is bands_new, already held).
        with held(fresh_bands):
            admitted = _in_batch_survivors(
                fresh, fresh_sh, fresh_bands, threshold
            ).localCheckpoint(eager=True)
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
        return n


def _check_state(
    state_dir: str, state: dict[str, DataFrame], appends: dict[str, DataFrame]
) -> None:
    """Raise ValueError unless each state table has exactly the column
    names and types (nullability aside) that this batch appends to it."""
    for table, df in state.items():
        found = {f.name: f.dataType.simpleString() for f in df.schema}
        want = {f.name: f.dataType.simpleString() for f in appends[table].schema}
        for col in sorted(found.keys() | want.keys()):
            if found.get(col) != want.get(col):
                raise ValueError(
                    f"incompatible ingest state {state_dir!r}: {table}.{col} "
                    f"found {found.get(col, 'no column')}, expected "
                    f"{want.get(col, 'no column')}"
                )


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
    final admitted corpus (empty, with the stream's columns, when nothing
    was ever admitted under ``state_dir``). foreachBatch runs
    driver-sequential, so the first-arrival-wins order is the micro-batch
    order."""

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        # first_batch by state detection, NOT batch_id == 0: a replayed
        # batch 0 after a checkpoint restart must re-check the corpus
        ingest_batch(batch_df.sparkSession, batch_df, state_dir, threshold)

    writer = stream_df.writeStream.foreachBatch(_ingest).option(
        "checkpointLocation", f"{state_dir}/_checkpoint"
    )
    _drive(writer, "dedup ingest", timeout_sec)
    docs = _paths(state_dir)["docs"]
    spark = stream_df.sparkSession
    if not os.path.isdir(docs):  # nothing was ever admitted
        return spark.createDataFrame([], stream_df.schema)
    return spark.read.parquet(docs)
