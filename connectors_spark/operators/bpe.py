"""BPE merge learning (Sennrich et al. 2016) — the tokenizer-training loop.

Classic byte-pair-encoding vocabulary learning over a word-frequency
table: start from characters (+ an end-of-word marker), repeatedly
(1) count adjacent symbol pairs weighted by word frequency,
(2) take the most frequent pair (ties: lexicographically smallest),
(3) greedily merge that pair left-to-right in every word.

Spark-first decomposition for 100 TB corpora:
- the CORPUS pass (heavy, linear) happens once: tokenize -> (word,
  freq) — the same map-side-combined agg as the index build's tf
  stage. Everything after runs on the VOCAB table (|distinct words|,
  ~10^7-10^8 at web scale — still a DataFrame, never driver-resident).
- each merge round is ONE pair-keyed agg (map-side combinable; explode
  happens inside the row's symbol array) + a TakeOrdered(1) argmax +
  one Arrow-batched greedy re-merge (`mapInPandas`; the merge is
  inherently sequential WITHIN a word, trivially parallel across
  words).
- the loop state is a single-reference DataFrame chain; each round is
  `localCheckpoint`ed so the logical plan stays flat across K rounds
  (lineage growth, not data growth, is the hazard — see pagerank).

The merge ORDER is the artifact (tokenizer merges.txt); correctness is
pinned rank-by-rank against the published algorithm's pure-Python
reference in tests/test_bpe.py. No SQL twin exists for an iterative
argmax-dependent recurrence — the gate is declared rows-only.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["word_symbol_frame", "learn_bpe", "bpe_reference"]

_MARKER = "▁"  # sentencepiece-style word boundary, single char


def word_symbol_frame(df: DataFrame, text_col: str = "text",
                      marker: str = _MARKER) -> DataFrame:
    """(word, freq, syms): corpus word frequencies with each word
    exploded into its initial character symbols + end marker."""
    from connectors_spark.functions.analysis import tokens_col

    wf = (df.select(F.explode(tokens_col(F.col(text_col))).alias("word"))
          .groupBy("word").agg(F.count(F.lit(1)).alias("freq")))
    syms = F.concat(F.split(F.col("word"), ""), F.array(F.lit(marker)))
    return wf.select("word", "freq", syms.alias("syms"))


def _adjacent_pairs(syms_col):
    left = F.slice(syms_col, 1, F.greatest(F.size(syms_col) - 1, F.lit(0)))
    right = F.slice(syms_col, 2, F.greatest(F.size(syms_col) - 1, F.lit(0)))
    return F.zip_with(left, right,
                      lambda a, b: F.struct(a.alias("l"), b.alias("r")))


def _merge_udf(a: str, b: str):
    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            merged = []
            for syms in pdf["syms"]:
                out, i, n = [], 0, len(syms)
                while i < n:
                    if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                merged.append(out)
            pdf = pdf.copy()
            pdf["syms"] = merged
            yield pdf
    return fn


def learn_bpe(vocab: DataFrame, n_merges: int) -> list[tuple[str, str, int]]:
    """Run `n_merges` BPE rounds over a (word, freq, syms) frame.
    Returns the ordered merge list [(left, right, pair_freq), ...].
    Stops early when no adjacent pair remains.

    Executor loss needs a job-level retry: the vocab frame is
    `localCheckpoint`ed, kept only in executor storage with no lineage."""
    merges: list[tuple[str, str, int]] = []
    cur = vocab.localCheckpoint(eager=True)
    for _ in range(n_merges):
        pairs = (cur.select(F.col("freq"),
                            F.explode(_adjacent_pairs(F.col("syms")))
                            .alias("p"))
                 .groupBy("p.l", "p.r").agg(F.sum("freq").alias("cnt")))
        best = pairs.orderBy(F.desc("cnt"), F.asc("l"), F.asc("r")) \
                    .limit(1).collect()
        if not best:
            break
        a, b, cnt = best[0].l, best[0].r, int(best[0].cnt)
        merges.append((a, b, cnt))
        cur = cur.mapInPandas(_merge_udf(a, b), cur.schema) \
                 .localCheckpoint(eager=True)
    return merges


def bpe_reference(word_freqs: dict[str, int], n_merges: int,
                  marker: str = _MARKER) -> list[tuple[str, str, int]]:
    """Pure-Python reference (the published algorithm, dict-based) for
    rank-identity pinning in tests."""
    vocab = {tuple(list(w) + [marker]): f for w, f in word_freqs.items()}
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                counts[syms[i], syms[i + 1]] = \
                    counts.get((syms[i], syms[i + 1]), 0) + f
        if not counts:
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, cnt))
        new = {}
        for syms, f in vocab.items():
            out, i, n = [], 0, len(syms)
            while i < n:
                if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new[tuple(out)] = new.get(tuple(out), 0) + f
        vocab = new
    return merges


def _encode_syms(syms: list[str], ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy lowest-rank-first merge application (the published encode
    loop: repeatedly merge the adjacent pair with the smallest learned
    rank until none applies)."""
    syms = list(syms)
    while len(syms) > 1:
        best_i, best_rank = -1, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_i, best_rank = i, r
        if best_rank is None:
            break
        syms[best_i:best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def encode_words(words: DataFrame, merges: list[tuple[str, str, int]],
                 word_col: str = "word", marker: str = _MARKER) -> DataFrame:
    """(word, n_bpe) — token count per DISTINCT word under the learned
    merges. Encode runs over the vocabulary, never the corpus: at
    100 TB you encode |distinct words| rows once and JOIN the counts
    back to the word stream (tokenizer_fertility pattern). Arrow-
    batched; the merge table is a broadcast-sized Python dict."""
    ranks = {(a, b): i for i, (a, b, _c) in enumerate(merges)}

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ns = []
            for w in pdf[word_col]:
                ns.append(len(_encode_syms(list(w) + [marker], ranks)))
            yield pd.DataFrame({word_col: pdf[word_col], "n_bpe": ns})
    return words.select(word_col).distinct().mapInPandas(
        fn, f"{word_col} string, n_bpe int")


def encode_reference(word: str, merges: list[tuple[str, str, int]],
                     marker: str = _MARKER) -> list[str]:
    """Pure-Python encode for pinning (same loop, dict-free surface)."""
    ranks = {(a, b): i for i, (a, b, _c) in enumerate(merges)}
    return _encode_syms(list(word) + [marker], ranks)
