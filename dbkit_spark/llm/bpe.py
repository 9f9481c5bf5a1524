"""Distributed byte-pair-encoding (BPE) tokenizer TRAINING.

`functions/text.py` provides the pluggable tokenizer *boundary*
(round 6) and a BPE-ish regex *counter*; this module learns an actual
merge table from the corpus — the missing piece for a self-contained
tokenization pipeline (Sennrich et al. 2016, the algorithm behind
GPT-2/RoBERTa vocabularies).

Scale design (why this is not the single-machine textbook loop):

- Training state is the DISTINCT-WORD frequency table — corpus scans
  happen ONCE to build it; at 100 TB the distinct-word table is orders
  of magnitude smaller than the corpus but can still be far beyond
  driver memory (web-scale corpora: 10^8+ types), so it stays a
  DataFrame throughout.
- Each merge round is: (1) a map-side adjacent-pair explode weighted
  by word count + one hash agg, (2) an O(1) argmax collect of the best
  pair (count desc, pair asc — the deterministic tie rule), (3) a
  map-side Arrow batch that rewrites symbol arrays containing the pair.
  Nothing quadratic; the only shuffle per round is the pair-count agg.
- Lineage is truncated per round (eager localCheckpoint — the iterate
  family rule), so round N does not replay rounds 1..N-1.

The merge loop is inherently sequential (each round's counts depend on
the previous merge) — the classic iterative-algorithm class next to
PageRank/label-propagation, driver-coordinated with O(1) collects.
No SQL engine expresses it: rows-only catalog entry; exact-equivalence
to a pure-python reference implementation is pytest-pinned.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalized_words

_END = "▁"  # end-of-word sentinel (SentencePiece-style marker)


def word_frequencies(df: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt) distinct-word table — the one corpus scan. Words
    follow :func:`~dbkit_spark.functions.text.normalized_words`."""
    return (
        df.select(F.explode(normalized_words(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )


def _merge_batch(pa_iter, left: str, right: str, merged: str):
    for pdf in pa_iter:
        out = []
        for syms in pdf["syms"]:
            syms = list(syms)
            i = 0
            res = []
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    res.append(merged)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            out.append(res)
        pdf = pdf.copy()
        pdf["syms"] = out
        yield pdf


def bpe_train(
    df: DataFrame,
    text_col: str,
    n_merges: int = 50,
) -> tuple[list[tuple[str, str, str, int]], DataFrame]:
    """Learn ``n_merges`` BPE merges from the corpus. Returns
    (merge_table, final_word_symbols) where merge_table rows are
    (left, right, merged, pair_count) in learned order and
    final_word_symbols is the (word, cnt, syms) DataFrame after all
    merges (useful for vocabulary statistics)."""
    words = word_frequencies(df, text_col)
    state = words.select(
        "w",
        "cnt",
        # char symbols + end-of-word marker on the last char
        F.concat(
            F.split(F.col("w"), "(?!$)"),
            F.array(F.lit(_END)),
        ).alias("syms"),
    ).localCheckpoint(eager=True)

    merges: list[tuple[str, str, str, int]] = []
    for _ in range(n_merges):
        pairs = state.select(
            "cnt",
            F.explode(
                F.zip_with(
                    F.slice(
                        F.col("syms"), 1, F.size("syms") - 1
                    ),
                    F.slice(F.col("syms"), 2, F.size("syms") - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.col("c").desc(), F.col("l"), F.col("r"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["c"] < 2:
            break
        left, right, cnt = top[0]["l"], top[0]["r"], int(top[0]["c"])
        merged = left + right
        merges.append((left, right, merged, cnt))
        state = state.mapInPandas(
            lambda it, L=left, R=right, M=merged: _merge_batch(it, L, R, M),
            "w string, cnt long, syms array<string>",
        ).localCheckpoint(eager=True)
    return merges, state


def bpe_segment(word: str, merges: list[tuple[str, str, str, int]]) -> list[str]:
    """Apply a learned merge table to one word (driver-side utility
    mirroring the distributed merge rule — used by tests and by
    callers that need a plain-python tokenizer closure)."""
    syms = list(word) + [_END]
    for left, right, merged, _ in merges:
        i = 0
        res: list[str] = []
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                res.append(merged)
                i += 2
            else:
                res.append(syms[i])
                i += 1
        syms = res
    return syms


def bpe_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str, str, int]],
) -> DataFrame:
    """Distributed BPE ENCODE — apply a learned merge table to the whole
    corpus (the throughput half of the tokenizer: training happens once,
    encoding happens on every pipeline run). Output per document:
    ``n_words``, ``n_tokens`` (BPE symbols incl. end-of-word markers),
    ``n_unique_tokens``, and ``compression`` = chars/tokens — the
    fertility statistics packing and cost estimation run on.

    Scale shape: the merge table is O(vocab) and ships inside the Arrow
    closure (broadcast-by-capture); encoding is mapInPandas, map-only,
    shuffle-free, with a per-batch WORD MEMO — Zipf's law means a batch
    re-encodes the same frequent words constantly, so the memo turns the
    per-word merge loop into a dict hit for the heavy head. Same
    word-normalization rule as :func:`word_frequencies`, so
    training and encoding agree on the token universe."""
    import re

    mlist = [(l, r, m) for (l, r, m, _) in merges]

    def do(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, list[str]] = {}

        def seg(word: str) -> list[str]:
            hit = memo.get(word)
            if hit is None:
                syms = list(word) + [_END]
                for left, right, merged in mlist:
                    i, res = 0, []
                    while i < len(syms):
                        if (
                            i + 1 < len(syms)
                            and syms[i] == left
                            and syms[i + 1] == right
                        ):
                            res.append(merged)
                            i += 2
                        else:
                            res.append(syms[i])
                            i += 1
                    syms = res
                hit = memo[word] = syms
            return hit

        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "n_words": [], "n_tokens": [],
                "n_unique_tokens": [], "compression": [],
            }
            for did, text in zip(pdf["doc_id"], pdf[text_col]):
                words = [
                    re.sub(r"[^a-z0-9]", "", w)
                    for w in re.split(r"\s+", str(text or "").lower().strip())
                ]
                words = [w for w in words if w]
                toks: list[str] = []
                for w in words:
                    toks.extend(seg(w))
                n_chars = sum(len(w) for w in words)
                rows["doc_id"].append(did)
                rows["n_words"].append(len(words))
                rows["n_tokens"].append(len(toks))
                rows["n_unique_tokens"].append(len(set(toks)))
                rows["compression"].append(
                    n_chars / len(toks) if toks else 0.0
                )
            yield pd.DataFrame(rows)

    return df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias(text_col)
    ).mapInPandas(
        lambda it: do(it),
        "doc_id long, n_words long, n_tokens long, "
        "n_unique_tokens long, compression double",
    )
