"""Pretraining-corpus filter pipeline: the composed keep/drop verdict a
large-scale LLM training-data pipeline computes per document before
tokenization (Gopher/C4-style rule stack, public: Rae et al. 2021 §A1,
Raffel et al. 2020 §2.2) — language gate, length gate, repetition gate,
exact-dedup gate, one boolean column per rule plus the final AND.

This is deliberately a COMPOSITION of the engine's own primitives
(functions/text.py metrics + hash dedup), not new math: the value at
100 TB is that all gates are computed in ONE pass-shaped DAG — the
repetition metrics' two doc-keyed shuffles, the md5 window for
first-occurrence dedup, and the scalar gates fuse into a single plan
with no driver loop and no re-scan per rule.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from connectors_spark.functions.text import repetition_metrics


def pretrain_filter(
    df: DataFrame,
    lang_allow: tuple[str, ...] = ("en",),
    min_tokens: int = 20,
    max_top_word_frac: float = 0.15,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """-> (id, n_tokens, keep_lang, keep_len, keep_rep, keep_dedup,
    keep). keep_dedup keeps only the FIRST occurrence (lowest id) of
    each exact text duplicate (md5 group — same identity rule as
    operators/dedup.exact_dup_groups)."""
    rep = repetition_metrics(df, text_col=text_col, id_col=id_col)
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    first = df.select(
        F.col(id_col), F.col(lang_col),
        F.row_number().over(w).alias("_rn"),
    )
    out = first.join(rep, id_col)
    keep_lang = F.col(lang_col).isin(*lang_allow)
    keep_len = F.col("n_tokens") >= min_tokens
    keep_rep = F.col("top_word_frac") <= max_top_word_frac
    keep_dedup = F.col("_rn") == 1
    return out.select(
        F.col(id_col), "n_tokens",
        keep_lang.alias("keep_lang"),
        keep_len.alias("keep_len"),
        keep_rep.alias("keep_rep"),
        keep_dedup.alias("keep_dedup"),
        (keep_lang & keep_len & keep_rep & keep_dedup).alias("keep"),
    )


U32 = 1 << 32


def md5_uniform(col: F.Column, salt: str = "") -> F.Column:
    """Deterministic uniform in [0, 1) from md5 of the (salted) key —
    the repo-wide sampling convention (weighted_sample_wor,
    assign_split).  Replaces the earlier Knuth multiplicative hash
    `(id * 2654435761) % 2^32`, which overflows int64 for ids beyond
    ~3.47e9: Spark's non-ANSI `%` then yields a NEGATIVE residue, so
    `u < rate` is unconditionally true and those docs are always
    sampled — a bias appearing exactly at the 10^9+ doc scale this
    engine targets (ADVICE r4).  md5 has no overflow regime and is
    engine-portable (DuckDB twin: entry_queries._hex2int_sql)."""
    key = F.concat_ws("|", F.lit(salt), col.cast("string")) if salt \
        else col.cast("string")
    h = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")
    return h / F.lit(float(U32))


def temperature_mix(
    df: DataFrame,
    alpha: float = 0.7,
    budget: int = 200,
    id_col: str = "doc_id",
    stratum_col: str = "lang",
) -> DataFrame:
    """Temperature-scaled mixture sampling — derive per-stratum sampling
    rates FROM corpus statistics instead of taking them as input (the
    multilingual-mix standard, p_s ~ n_s^alpha: alpha=1 is proportional,
    alpha->0 uniform over strata; Conneau & Lample 2019 §3.1, used for
    the mBERT/XLM-R language mixes): stratum weight n_s^alpha is
    normalized to a target doc count budget * p_s, clamped at the
    stratum size, and applied as a deterministic md5-uniform sample
    (`md5_uniform` — overflow-free at any doc_id magnitude).

    -> (doc_id, stratum, rate) for the sampled docs; `rate` is rounded
    to 6 dp BEFORE the keep comparison so the float power is never
    compared at full precision (cross-engine pow() can differ in the
    last ulp — rounding makes the decision identical everywhere).

    Plan shape: one map-side-combined groupBy for stratum counts (tiny:
    one row per stratum), broadcast back, sampling itself is a pushed-
    down filter — no shuffle of the corpus at any scale."""
    from pyspark.sql.functions import broadcast

    stats = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_s")
    )
    z = stats.agg(F.sum(F.pow("n_s", F.lit(alpha))).alias("z"))
    rates = stats.crossJoin(broadcast(z)).select(
        "stratum",
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(float(budget)) * F.pow("n_s", F.lit(alpha))
                / F.col("z") / F.col("n_s"),
            ), 6,
        ).alias("rate"),
    )
    u = md5_uniform(F.col(id_col))
    return (
        df.select(F.col(id_col).alias("doc_id"),
                  F.col(stratum_col).alias("stratum"), u.alias("_u"))
        .join(broadcast(rates), "stratum")
        .filter(F.col("_u") < F.col("rate"))
        .select("doc_id", "stratum", "rate")
    )


def chunk_documents(df: DataFrame, chunk_tokens: int = 32, stride: int = 24,
                    text_col: str = "text", id_col: str = "doc_id"):
    """(doc_id, chunk_id, start_tok, n_toks, chunk_md5): overlapping
    token-window chunking — the retrieval-pipeline prep step (ES
    semantic_text chunking / the standard RAG splitter): chunk i covers
    tokens [i*stride, i*stride + chunk_tokens); stride < chunk_tokens
    gives the overlap that keeps sentence context at chunk borders.
    Docs shorter than one chunk emit a single chunk; empty docs none.

    JVM sequence/slice/md5 per row — no shuffle, no UDF: chunking at
    100 TB is embarrassingly parallel and stays inside the parquet
    scan stage."""
    from connectors_spark.functions.analysis import tokens_col

    W, S = int(chunk_tokens), int(stride)
    toks = tokens_col(F.col(text_col))
    n = F.size(toks)
    n_chunks = F.when(n <= 0, 0).when(n <= W, 1).otherwise(
        (F.ceil((n - W) / F.lit(float(S)))).cast("int") + 1)
    chunks = F.when(n_chunks > 0, F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_id"),
            (i * S).cast("int").alias("start_tok"),
            F.least(F.lit(W), n - i * S).cast("int").alias("n_toks"),
            F.md5(F.array_join(F.slice(toks, i * S + 1, W), " "))
            .alias("chunk_md5"),
        ),
    )).otherwise(F.array().cast(
        "array<struct<chunk_id:int,start_tok:int,n_toks:int,"
        "chunk_md5:string>>"))
    return (
        df.select(F.col(id_col).alias("doc_id"), chunks.alias("_c"))
        .select("doc_id", F.explode("_c").alias("c"))
        .select("doc_id", "c.chunk_id", "c.start_tok", "c.n_toks",
                "c.chunk_md5")
    )


# --------------------------------------------------------------------
# Tokens -> training rows: vocab ids + fixed-length sequence packing
# --------------------------------------------------------------------

def vocab_table(tokens: DataFrame, vocab_size: int = 1 << 15,
                term_col: str = "term") -> DataFrame:
    """(term, token_id) — frequency-ranked vocabulary: id 1..V assigned
    by (count DESC, term ASC); id 0 is reserved for OOV/<unk>. The
    corpus-wide term count is a map-side-combined groupBy (output is
    lexicon-sized, not corpus-sized), and the ranking window runs over
    an ALREADY LIMITed V-row frame (TakeOrderedAndProject first), never
    over the full lexicon in one task."""
    cnt = tokens.groupBy(F.col(term_col).alias("term")).agg(
        F.count(F.lit(1)).alias("c"))
    order = [F.col("c").desc(), F.col("term").asc()]
    top = cnt.orderBy(*order).limit(int(vocab_size))
    w = Window.orderBy(*order)
    return top.select(
        "term", F.row_number().over(w).cast("int").alias("token_id"))


def tokens_to_ids(tokens: DataFrame, vocab: DataFrame,
                  term_col: str = "term") -> DataFrame:
    """Map a token stream to vocabulary ids; unknown terms -> 0 (<unk>).
    The vocab is bounded (V rows) so the join is an explicit broadcast —
    the corpus side never shuffles."""
    return (
        tokens.join(F.broadcast(vocab),
                    tokens[term_col] == vocab["term"], "left")
        .select(*[tokens[c] for c in tokens.columns if c != term_col],
                F.coalesce(vocab["token_id"], F.lit(0)).alias("token_id"))
    )


def doc_offsets(counts: DataFrame, id_col: str = "doc_id",
                n_col: str = "n_tokens", num_parts: int = 32) -> DataFrame:
    """(id, n, start): exclusive running sum of `n_col` in `id_col`
    order — the distributed prefix-sum that replaces the single-task
    `sum().over(Window.orderBy(id))` global window. Two passes:
    range-partition + sort by id, aggregate ONE total per partition
    (num_parts rows to the driver), prefix-sum those on the driver,
    broadcast, then a mapInPandas cumsum per partition adds its
    partition's offset. Scales to any corpus: driver traffic is
    O(partitions), each task touches only its own range."""
    spark = counts.sparkSession
    parts = (
        counts.repartitionByRange(int(num_parts), id_col)
        .sortWithinPartitions(id_col)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    totals = {
        r["_pid"]: r["t"]
        for r in parts.groupBy("_pid").agg(F.sum(n_col).alias("t")).collect()
    }
    acc, offs = 0, {}
    for pid in sorted(totals):
        offs[pid] = acc
        acc += int(totals[pid])
    b = spark.sparkContext.broadcast(offs)

    out_fields = ", ".join(
        f"{name} {dtype}" for name, dtype in parts.drop("_pid").dtypes
    ) + ", start bigint"

    def gen(batches):
        run = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if run is None:
                run = int(b.value.get(int(pdf["_pid"].iloc[0]), 0))
            csum = pdf[n_col].cumsum()
            out = pdf.drop(columns=["_pid"]).assign(
                start=run + csum - pdf[n_col])
            run += int(pdf[n_col].sum())
            yield out

    res = parts.mapInPandas(gen, out_fields)
    parts.unpersist()
    return res


def pack_sequences(tokens: DataFrame, seq_len: int = 128,
                   id_col: str = "doc_id", pos_col: str = "pos",
                   num_parts: int = 32) -> DataFrame:
    """Fixed-length sequence packing — the data-loader shape of LLM
    pretraining: concatenate the per-doc token streams in stable
    (doc_id, pos) order and cut the global stream into rows of exactly
    `seq_len` tokens (last row ragged). Emits one row per token:
    (seq_id, pos_in_seq, <original columns>). Documents cross sequence
    boundaries, matching the GPT-style packed-window regime.

    Plan: per-doc counts (map-side combine), distributed prefix-sum for
    doc start offsets (`doc_offsets` — no global window), then one
    equi-join back to the token stream; seq ids are pure integer
    arithmetic on (start + pos). No stage touches more than its
    partition; the only corpus-wide shuffle is the counts join."""
    counts = tokens.groupBy(F.col(id_col)).agg(
        F.count(F.lit(1)).alias("_n"))
    offs = doc_offsets(counts, id_col=id_col, n_col="_n",
                       num_parts=num_parts).select(id_col, "start")
    g = tokens.join(offs, id_col)
    gpos = F.col("start") + F.col(pos_col)
    return (
        g.withColumn("_gpos", gpos.cast("bigint"))
        .select(
            F.expr(f"_gpos DIV {int(seq_len)}").cast("bigint")
            .alias("seq_id"),
            (F.col("_gpos") % int(seq_len)).cast("int")
            .alias("pos_in_seq"),
            *[c for c in tokens.columns],
        )
    )


# --------------------------------------------------------------------
# BPE tokenizer training (Sennrich et al. 2016, public algorithm)
# --------------------------------------------------------------------

_EOW = "</w>"


def _word_symbols(df: DataFrame, text_col: str) -> DataFrame:
    """(w, freq, syms): distinct corpus words with frequencies, each as
    its initial BPE symbol sequence (characters + end-of-word marker).
    This is the ONE corpus-scale pass — everything after runs on the
    lexicon-sized word table."""
    from connectors_spark.functions.analysis import tokens_col

    words = (
        df.select(F.explode(tokens_col(F.col(text_col))).alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    )
    return words.select(
        "w", "freq",
        F.concat(F.split(F.col("w"), ""),
                 F.array(F.lit(_EOW))).alias("syms"),
    )


def _merge_pair_udf(a: str, b: str):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def merge(col: pd.Series) -> pd.Series:
        out = []
        for seq in col:
            r, i, n = [], 0, len(seq)
            while i < n:
                if i + 1 < n and seq[i] == a and seq[i + 1] == b:
                    r.append(a + b)
                    i += 2
                else:
                    r.append(seq[i])
                    i += 1
            out.append(r)
        return pd.Series(out)

    return merge


def bpe_pair_counts(syms: DataFrame) -> DataFrame:
    """(a, b, c): adjacent-symbol pair counts over the word table,
    frequency-weighted — the statistic each BPE iteration maximizes.
    Guards 1-symbol words against the F.sequence(1,0) descending
    pitfall; one lexicon-sized shuffle."""
    return (
        syms.filter(F.size("syms") >= 2)
        .select("freq", F.explode(F.expr(
            "transform(sequence(1, size(syms)-1), "
            "i -> struct(syms[i-1] AS a, syms[i] AS b))")).alias("p"))
        .groupBy("p.a", "p.b").agg(F.sum("freq").alias("c"))
    )


def learn_bpe_merges(df: DataFrame, n_merges: int = 10,
                     text_col: str = "text",
                     sample_top_n_words: int | None = None):
    """Train a byte-pair-encoding tokenizer on a corpus: returns
    (merges, word_syms) where merges is the ordered list of learned
    (left, right) symbol pairs and word_syms the final (w, freq, syms)
    frame. Public algorithm (Sennrich, Haddow & Birch 2016 §3.2).

    Scale shape: the corpus collapses to the DISTINCT-word table in one
    map-side-combined groupBy; every merge iteration then runs on that
    lexicon-sized frame only — one pair-count shuffle (guarded against
    the F.sequence(1,0) descending pitfall on 1-symbol words) plus one
    Arrow-batched merge map. The driver receives exactly ONE row per
    iteration (the argmax pair, ties broken (count DESC, a, b) so the
    learned merges are engine- and partition-deterministic). Iteration
    count bounds the loop, as in the IVF k-means refiner.

    `sample_top_n_words` (VERDICT r4 #4): exact BPE is inherently
    sequential — n_merges Spark rounds — so a 32k-merge vocab over the
    full web-scale lexicon is days of sequential jobs. Real tokenizer
    pipelines learn merges on the word-FREQUENCY HEAD (the pair-count
    argmax is dominated by frequent words; the Zipf tail contributes
    O(1) counts each) and encode everywhere. Passing e.g.
    sample_top_n_words=1_000_000 learns on the top-n words by
    (freq DESC, word ASC) — deterministic, one TakeOrdered — shrinking
    every round's shuffle from |lexicon| to n while `bpe_encode_udf`
    still encodes the untouched corpus with the learned merges.
    tests/test_pretrain.py pins head-learned merges == full-corpus
    merges on the gate corpus at sufficient n.

    Executor loss needs a job-level retry: the frequency-head word table is
    `localCheckpoint`ed, kept only in executor storage with no lineage."""
    syms = _word_symbols(df, text_col)
    if sample_top_n_words is not None:
        # frequency head, deterministically ordered + localCheckpointed
        # via persist: the learning table for every round
        syms = (syms.orderBy(F.desc("freq"), F.asc("w"))
                .limit(int(sample_top_n_words)))
    syms = syms.persist()
    syms.count()
    merges: list[tuple[str, str]] = []
    for _ in range(int(n_merges)):
        pairs = bpe_pair_counts(syms)
        best = pairs.orderBy(F.desc("c"), "a", "b").limit(1).collect()
        if not best:
            break
        a, b = best[0]["a"], best[0]["b"]
        merges.append((a, b))
        nxt = syms.select(
            "w", "freq", _merge_pair_udf(a, b)("syms").alias("syms")
        ).persist()
        nxt.count()
        syms.unpersist()
        syms = nxt
    return merges, syms


def bpe_encode_word(word: str, ranks: dict) -> list:
    """Encode one word with learned merges in rank order (pure
    function — the algorithm the pandas_udf vectorizes; property-
    tested directly)."""
    seq = list(word) + [_EOW]
    while len(seq) >= 2:
        cand = [(ranks[(seq[i], seq[i + 1])], i)
                for i in range(len(seq) - 1)
                if (seq[i], seq[i + 1]) in ranks]
        if not cand:
            break
        r, i = min(cand)
        # merge EVERY occurrence of that pair, left to right
        a, b = seq[i], seq[i + 1]
        out, j, n = [], 0, len(seq)
        while j < n:
            if j + 1 < n and seq[j] == a and seq[j + 1] == b:
                out.append(a + b)
                j += 2
            else:
                out.append(seq[j])
                j += 1
        seq = out
    return seq


def bpe_encode_udf(merges: list):
    """pandas_udf: encode a word (string) into its BPE symbols by
    applying the learned merges in rank order — the inference twin of
    learn_bpe_merges, usable in any projection."""
    from pyspark.sql.functions import pandas_udf

    ranks = {tuple(m): i for i, m in enumerate(merges)}

    @pandas_udf("array<string>")
    def encode(col: pd.Series) -> pd.Series:
        return col.map(lambda w: bpe_encode_word(w, ranks))

    return encode


def stratified_offsets(counts: DataFrame, stratum_col: str = "lang",
                       id_col: str = "doc_id", n_col: str = "n",
                       num_parts: int = 32) -> DataFrame:
    """(stratum, id, n, start): exclusive running sum of `n_col` in
    `id_col` order WITHIN each stratum — the scale path that
    `corpus_shard_pack`'s single-window version documents: a
    per-stratum window puts each whole stratum through ONE task, so at
    100 TB the per-language token streams bottleneck on the largest
    language. Here: range-partition by (stratum, id) so every task
    holds a contiguous slice of at most a few strata, collect ONE
    (partition, stratum) subtotal row per pair to the driver (O(parts
    x strata-per-part), not corpus), prefix-sum per stratum across
    partitions in range order, broadcast, and add the offsets in a
    per-partition cumsum. Any single stratum spreads over MANY tasks."""
    spark = counts.sparkSession
    parts = (
        counts.repartitionByRange(int(num_parts), stratum_col, id_col)
        .sortWithinPartitions(stratum_col, id_col)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    totals = parts.groupBy("_pid", stratum_col).agg(
        F.sum(n_col).alias("t")).collect()
    acc: dict = {}
    offs: dict = {}
    for r in sorted(totals, key=lambda r: (r[stratum_col], r["_pid"])):
        s = r[stratum_col]
        offs[(r["_pid"], s)] = acc.get(s, 0)
        acc[s] = acc.get(s, 0) + int(r["t"])
    b = spark.sparkContext.broadcast(offs)

    out_fields = ", ".join(
        f"{name} {dtype}" for name, dtype in parts.drop("_pid").dtypes
    ) + ", start bigint"

    def gen(batches):
        run: dict = {}
        pid = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pid is None:
                pid = int(pdf["_pid"].iloc[0])
            starts = []
            for s, n in zip(pdf[stratum_col], pdf[n_col]):
                if s not in run:
                    run[s] = int(b.value.get((pid, s), 0))
                starts.append(run[s])
                run[s] += int(n)
            yield pdf.drop(columns=["_pid"]).assign(start=starts)

    res = parts.mapInPandas(gen, out_fields)
    parts.unpersist()
    return res


def pack_shards_scalable(df: DataFrame, budget: int,
                         stratum_col: str = "lang",
                         id_col: str = "doc_id",
                         size_col: str = "n_chars",
                         num_parts: int = 32) -> DataFrame:
    """(id, stratum, shard): the two-pass, any-scale twin of the
    window-based `corpus_shard_pack` gate — shard = floor(exclusive
    per-stratum running size / budget), computed via
    `stratified_offsets` instead of a one-task-per-stratum window.
    Equality with the window version is pinned in pytest."""
    counts = df.select(
        F.col(stratum_col), F.col(id_col), F.col(size_col).alias("_n"))
    offs = stratified_offsets(
        counts, stratum_col=stratum_col, id_col=id_col, n_col="_n",
        num_parts=num_parts)
    return offs.select(
        F.col(id_col), F.col(stratum_col),
        F.floor(F.col("start") / int(budget)).alias("shard"))


# ---------------------------------------------------------------------
# SFT rendering + dataset-split assignment + curriculum staging
# ---------------------------------------------------------------------

def render_chat_template(turns: DataFrame,
                         conv_col: str = "conv_id",
                         order_col: str = "turn_idx",
                         role_col: str = "role",
                         text_col: str = "text",
                         start_tag: str = "<|im_start|>",
                         end_tag: str = "<|im_end|>") -> DataFrame:
    """Render multi-turn transcripts into one training string per
    conversation (ChatML-shaped: `<|im_start|>role\\ntext<|im_end|>\\n`
    per turn, concatenated in turn order) — the serialization step
    between a cleaned transcript corpus and SFT tokenization.

    Scale shape: ONE conversation-keyed aggregation. Turn structs are
    collected per conversation (collect_list partials merge map-side),
    sorted in-array by the order column (array_sort on struct sorts by
    the first field — no window, no second shuffle), then rendered with
    a JVM transform + array_join. Cost at 100 TB: one shuffle on the
    conversation key; conversations are bounded (MAX_CONV_LEN-ish), so
    no group blows memory."""
    turn = F.struct(
        F.col(order_col).alias("i"),
        F.col(role_col).alias("r"),
        F.col(text_col).alias("t"),
    )
    rendered = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(turn)),
            lambda s: F.concat(
                F.lit(start_tag), s["r"], F.lit("\n"),
                s["t"], F.lit(end_tag), F.lit("\n")),
        ),
        "",
    )
    return turns.groupBy(F.col(conv_col)).agg(
        F.count(F.lit(1)).alias("n_turns"),
        rendered.alias("rendered"),
    )


def assign_split(df: DataFrame, key_col: str, salt: str = "split-v1",
                 val_pct: int = 5, test_pct: int = 5) -> DataFrame:
    """Deterministic train/val/test assignment by hashed key: bucket =
    md5(salt|key) mod 100; test gets the first `test_pct` buckets, val
    the next `val_pct`, train the rest. Pure projection (md5 + conv are
    JVM codegen'd): shuffle-free, reproducible across runs/engines, and
    stable under corpus growth — a doc's split never changes when other
    docs are added, the property that keeps eval sets uncontaminated
    across dataset versions. Keyed on a SEMANTIC id (doc id / url /
    conversation id), never on position."""
    bucket = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.lit(salt),
                                      F.col(key_col).cast("string"))), 1, 8),
        16, 10).cast("long") % 100
    split = (
        F.when(bucket < test_pct, F.lit("test"))
        .when(bucket < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn("bucket", bucket.cast("int")) \
             .withColumn("split", split)


def curriculum_stages(df: DataFrame, score_col: str,
                      quantiles: tuple = (0.25, 0.5, 0.75),
                      round_cuts: int = 6) -> DataFrame:
    """Curriculum staging: assign each doc a training stage (1..n+1) by
    which exact score quantile it exceeds (stage 1 = easiest quartile).
    NOT a global ntile window (single-task at scale): the cut points
    are ONE tiny exact-percentile aggregate (partial-aggregable,
    O(1) rows to the driver), broadcast back, and the assignment is a
    pure map — shuffle-free on the data path. Cuts are rounded before
    comparison so engine float interpolation cannot flip a boundary
    doc."""
    qs = list(quantiles)
    cuts = df.agg(F.percentile(F.col(score_col), F.lit(qs)).alias("c"))
    cuts = cuts.select(*[
        F.round(F.element_at("c", i + 1), round_cuts).alias(f"c{i}")
        for i in range(len(qs))
    ])
    out = df.join(F.broadcast(cuts))
    stage = F.lit(1)
    for i in range(len(qs)):
        stage = stage + (F.col(score_col) > F.col(f"c{i}")).cast("int")
    return out.withColumn("stage", stage).drop(
        *[f"c{i}" for i in range(len(qs))])


def filter_blocked_domains(df: DataFrame, url_col: str,
                           blocklist: DataFrame) -> DataFrame:
    """URL/domain blocklist filtering (the UT1/adult-list style gate every
    web-scale pretraining pipeline runs): extract the host from the URL,
    reduce it to the registered domain (last two labels — the public-
    suffix approximation that needs no external list), and drop docs
    whose registered domain appears in the blocklist. The blocklist is
    broadcast (bounded — real lists are ~1M rows, far under broadcast
    limits) and the join is LEFT ANTI, so the corpus side streams with
    no shuffle."""
    host = F.regexp_extract(F.col(url_col), r"https?://([^/]+)", 1)
    out = df.withColumn(
        "domain", F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1))
    return out.join(F.broadcast(blocklist), "domain", "left_anti")


def mine_hard_negatives(index, qdf: DataFrame, k: int,
                        round_scores: int | None = None) -> DataFrame:
    """Hard-negative mining for retrieval/embedding training data: per
    query, the top-k BM25 hits that are NOT exact positives (docs
    matching EVERY query term — the conjunctive set). Both sides reuse
    the engine's one-plan query-set scorer (or-mode for candidates,
    and-mode for positives: same aggregation, no extra shuffle class),
    the anti-join removes positives, and the final rank window is
    PARTITIONED by query. This is the standard DPR-style mining loop
    expressed as three DataFrame ops over the shared index."""
    from connectors_spark.operators.query import score_topk_dataframe

    scored = score_topk_dataframe(index, qdf, round_scores=round_scores)
    pos = score_topk_dataframe(index, qdf, mode="and").select(
        "query_id", "doc_id")
    negs = scored.select("query_id", "doc_id", "score").join(
        pos, ["query_id", "doc_id"], "left_anti")
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc())
    return (
        negs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"),
                "doc_id", "score")
    )


def dsir_importance(
    df: DataFrame,
    target_pred,
    n_buckets: int = 4096,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing: float = 1.0,
) -> DataFrame:
    """DSIR (Data Selection via Importance Resampling, Xie et al. 2023,
    arXiv:2302.03169): score every document by how target-like its
    hashed-n-gram feature distribution is. Features are unigrams +
    bigrams hashed into `n_buckets`; the target (rows matching
    `target_pred`, e.g. a high-quality subset) and source (ALL rows)
    bucket distributions are Laplace-smoothed, and each doc's log
    importance weight is sum over its grams of log p_target(bucket) -
    log p_source(bucket). Selecting the top weights (or Gumbel-top-k
    over them) is the paper's resampling step: `orderBy(logw.desc)
    .limit(n)` — a distributed TakeOrderedAndProject.

    -> (id_col, logw) with logw rounded to 6 (rank-stable across
    engines; the DuckDB twin replays the identical arithmetic — md5
    bucketing, same smoothing — so gates hash-match).

    Scale shape: the bucket table is bounded (n_buckets rows) ->
    broadcast; per-doc work is one (doc, bucket) count and one doc-keyed
    sum — two map-side-combined shuffles on doc id, independent of
    corpus size per row. The target distribution needs no separate
    scan: it aggregates the same gram stream under a predicate flag."""
    from connectors_spark.functions.analysis import tokens_col

    # the target flag rides THROUGH the gram explosion (no doc-keyed
    # join back onto the gram stream — at corpus scale that join would
    # shuffle O(total grams) rows a second time for one boolean)
    base = df.select(
        F.col(id_col),
        target_pred.cast("boolean").alias("_is_target"),
        tokens_col(F.col(text_col)).alias("_toks"))

    def explode_grams(n: int):
        arr = F.when(
            F.size("_toks") >= n,
            F.transform(
                F.sequence(F.lit(1), F.size("_toks") - (n - 1)),
                lambda i: F.concat_ws(
                    " ", *[F.element_at("_toks", i + j)
                           for j in range(n)]))
        ).otherwise(F.array().cast("array<string>"))
        return base.select(
            id_col, "_is_target", F.explode(arr).alias("gram"))

    grams = explode_grams(1).unionByName(explode_grams(2))
    feats = (
        grams.withColumn(
            "bucket",
            F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10)
            .cast("long") % F.lit(n_buckets))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("c"),
             F.first("_is_target").alias("_is_target"))
    )
    buckets = feats.groupBy("bucket").agg(
        F.sum(F.when(F.col("_is_target"), F.col("c")).otherwise(0))
        .alias("ct"),
        F.sum("c").alias("cs"),
    )
    totals = buckets.agg(
        F.sum("ct").alias("tot_t"), F.sum("cs").alias("tot_s"))
    lam = float(smoothing)
    ratio = (
        buckets.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (F.log((F.col("ct") + F.lit(lam))
                   / (F.col("tot_t") + F.lit(lam * n_buckets)))
             - F.log((F.col("cs") + F.lit(lam))
                     / (F.col("tot_s") + F.lit(lam * n_buckets))))
            .alias("lr"))
    )
    return (
        feats.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(F.round(F.sum(F.col("c") * F.col("lr")), 6).alias("logw"))
    )


def weighted_sample_wor(df: DataFrame, weight_col: str, k: int,
                        id_col: str = "doc_id",
                        salt: str = "wsamp",
                        round_key: int = 6) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis-
    Spirakis exponential race (published algorithm; here with
    DETERMINISTIC uniforms): each row draws u = md5(salt|id) mapped to
    (0,1], races with key = -ln(u)/w, and the k smallest keys win —
    inclusion probability proportional to weight, no replacement, no
    rand() (idempotent, oracle-replayable, partitioning-invariant).
    Selection is one TakeOrderedAndProject over the keyed scan — never
    a global window. Rows with weight <= 0 are excluded (can't race).

    Returns (id, weight, race_key, rank) for the k winners."""
    h = F.conv(F.substring(
        F.md5(F.concat_ws("|", F.lit(salt),
                          F.col(id_col).cast("string"))), 1, 8),
        16, 10).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(4294967296.0)
    w = F.col(weight_col).cast("double")
    key = F.round(-F.log(u) / w, round_key)
    raced = (df.filter(w > 0)
             .select(F.col(id_col), w.alias("weight"),
                     key.alias("race_key")))
    top = raced.orderBy(F.asc("race_key"), F.asc(id_col)).limit(int(k))
    win = Window.orderBy(F.asc("race_key"), F.asc(id_col))
    return (top.withColumn("rank", F.row_number().over(win).cast("int"))
            .select(id_col, "weight", "race_key", "rank"))


def _bfd_assign(pdf, L: int):
    """Run best-fit-decreasing over ONE scope's (doc_id, n_tokens)
    frame: sort by (n_tokens desc, doc_id asc), place each doc into
    the fullest bin that still fits (smallest remaining >= n; ties on
    remaining go to the lowest bin id — bisect over the sorted
    [remaining, bin] list gives both), else open a new bin. Oversize
    docs get a solo bin, flagged truncated. Returns the sorted frame
    with local bin_id / bin_fill / truncated columns appended."""
    from bisect import bisect_left, insort

    pdf = pdf.sort_values(["n_tokens", "doc_id"], ascending=[False, True])
    rem = []           # sorted list of [remaining, bin_local]
    out_bin, out_tr = [], []
    next_bin = 0
    fills: dict = {}
    for n in pdf["n_tokens"].tolist():
        n_fit = min(n, L)
        tr = 1 if n > L else 0
        if tr:
            b = next_bin; next_bin += 1  # solo bin, never reused
        else:
            # best fit: smallest remaining >= n
            i = bisect_left(rem, [n_fit, -1])
            if i < len(rem):
                r, b = rem.pop(i)
                if r - n_fit > 0:
                    insort(rem, [r - n_fit, b])
            else:
                b = next_bin; next_bin += 1
                if L - n_fit > 0:
                    insort(rem, [L - n_fit, b])
        fills[b] = fills.get(b, 0) + n_fit
        out_bin.append(b)
        out_tr.append(tr)
    return pdf.assign(
        bin_local=out_bin,
        bin_fill=[fills[b] for b in out_bin],
        truncated=out_tr,
    )


def bestfit_pack(counts: DataFrame, seq_len: int = 128,
                 id_col: str = "doc_id", len_col: str = "n_tokens",
                 num_parts: int | None = None,
                 group_col: str | None = None) -> DataFrame:
    """Best-fit-decreasing document packing (Ding et al. 2024, "Fewer
    Truncations Improve Language Modeling"): pack WHOLE documents into
    fixed-capacity training bins instead of concatenate-and-split
    (`pack_sequences`), so documents never cross sequence boundaries
    and nothing is truncated except documents longer than a bin, which
    get a solo bin with `truncated = 1`.

    Within each scope, docs are sorted by length descending and each
    is placed into the fullest bin that still fits (best fit, bisect
    on the sorted remaining-capacity list), else a new bin opens.
    Global BFD is inherently sequential, so the distributed recipe is
    the paper's: scope-local BFD — with thousands of docs per scope
    the packing-efficiency loss vs global BFD is negligible. Two
    scoping modes:

    - default (``num_parts``): scope = the physical Spark partition
      after ``repartition(num_parts, doc_id)``; bin ids are
      (partition << 33) | local (the doc-index convention,
      operators/build.py). Output depends on Spark's hash
      partitioning of doc_id — stable for a fixed num_parts, but a
      different num_parts regroups docs.
    - ``group_col``: scope = an EXPLICIT non-negative integer group
      key column (e.g. ``pmod(doc_id, G)``), packed via
      applyInPandas; bin ids are (group << 33) | local. The packing
      is then a pure function of the (group, doc_id, n_tokens) rows —
      byte-identical under any cluster layout, shuffle-partition
      count or Spark version, which is what a reproducible
      training-data pipeline wants to pin.

    Returns (doc_id, n_tokens, bin_id, bin_fill, truncated):
    `bin_fill` is the bin's total PACKED tokens (capped at seq_len
    for solo-truncated docs), identical for every doc in the bin.

    Scale shape: ONE shuffle (the repartition / group-by), then a
    per-scope Arrow pass; output is one row per doc. No global state,
    no driver loop."""
    import pandas as pd  # noqa: F401  (module-level import contract)

    L = int(seq_len)
    out_schema = ("doc_id long, n_tokens long, bin_id long, "
                  "bin_fill long, truncated int")
    out_cols = ["doc_id", "n_tokens", "bin_id", "bin_fill", "truncated"]

    if group_col is not None:
        src = counts.select(
            F.col(group_col).cast("long").alias("__pack_group"),
            F.col(id_col).alias("doc_id"),
            F.col(len_col).cast("long").alias("n_tokens"))

        def pack_group(key, pdf):
            gid = int(key[0])
            pdf = _bfd_assign(pdf[["doc_id", "n_tokens"]], L)
            pdf = pdf.assign(bin_id=[(gid << 33) | b
                                     for b in pdf["bin_local"]])
            return pdf[out_cols]

        return src.groupBy("__pack_group").applyInPandas(
            pack_group, out_schema)

    src = counts.select(F.col(id_col).alias("doc_id"),
                        F.col(len_col).cast("long").alias("n_tokens"))
    if num_parts:
        src = src.repartition(num_parts, "doc_id")

    def pack(pdfs):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        # Arrow may hand one partition as several chunks; BFD state is
        # partition-scoped, so concat ONCE (the frame is one row per
        # doc — bounded by docs-per-partition, not tokens)
        chunks = list(pdfs)
        if chunks:
            pdf = _bfd_assign(pd.concat(chunks, ignore_index=True), L)
            pdf = pdf.assign(bin_id=[(pid << 33) | b
                                     for b in pdf["bin_local"]])
            yield pdf[out_cols]

    return src.mapInPandas(pack, out_schema)


def best_of_n(cands: DataFrame, group_col: str = "prompt_id",
              reward_col: str = "reward",
              id_col: str = "doc_id") -> DataFrame:
    """Best-of-n response selection — the rejection-sampling step of an
    RLHF / RFT data pipeline: per prompt, keep the candidate response
    with the highest reward-model score (deterministic min-id
    tie-break) and report the margin over the runner-up (a standard
    confidence filter: small-margin winners are near-ties the curation
    step often drops).

    One window partitioned by the prompt key — a single shuffle on
    prompt_id at any corpus size, group width bounded by n (the
    samples-per-prompt budget), never by the corpus.
    """
    w = Window.partitionBy(group_col).orderBy(
        F.col(reward_col).desc(), F.col(id_col))
    ranked = cands.select(
        group_col, id_col, reward_col,
        F.row_number().over(w).alias("rn"),
        F.lead(F.col(reward_col)).over(w).alias("runner_up"),
        F.count(F.lit(1)).over(Window.partitionBy(group_col)).alias("n_cands"),
    )
    return ranked.where(F.col("rn") == 1).select(
        F.col(group_col),
        F.col(id_col).alias("chosen_id"),
        F.col(reward_col).alias("reward"),
        (F.col(reward_col) - F.coalesce(F.col("runner_up"),
                                        F.col(reward_col))).alias("margin"),
        F.col("n_cands").cast("long").alias("n_cands"),
    )


def doremi_domain_weights(df: DataFrame, domain_col: str = "domain",
                          excess_col: str = "excess_loss",
                          eta: float = 1.0,
                          smoothing: float = 0.2) -> DataFrame:
    """One DoReMi domain-reweighting step (Xie et al. 2023, "DoReMi:
    Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
    given per-document excess loss (proxy-model loss minus reference
    loss, clipped at 0 upstream), compute per-domain mean excess and
    the exponentiated-gradient update from a uniform prior —
    w_k ∝ exp(eta * mean_excess_k) — then mix with the uniform
    distribution (smoothing c) exactly as the paper's Algorithm 1.

    Scale shape: the corpus pass is ONE map-side-combined groupBy on
    the domain key; everything after runs on the k-row domain frame
    (k = number of domains, tens — the unpartitioned normalization
    window is bounded by k, never by the corpus, the same
    driver-state argument as Bradley-Terry's k x k solve).
    """
    d = df.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col(excess_col)).alias("_mean_excess"),
    )
    e = d.withColumn("w_raw", F.exp(F.lit(float(eta)) * F.col("_mean_excess")))
    w_all = Window.partitionBy()
    norm = F.col("w_raw") / F.sum("w_raw").over(w_all)
    k = F.count(F.lit(1)).over(w_all)
    return e.select(
        "domain", "n_docs",
        F.round("_mean_excess", 6).alias("mean_excess"),
        F.round(norm, 6).alias("weight"),
        F.round(F.lit(1.0 - float(smoothing)) * norm
                + F.lit(float(smoothing)) / k, 6).alias("weight_smoothed"),
    )


def corpus_drift_kl(tokens: DataFrame, snap_col: str = "snap",
                    term_col: str = "term",
                    count_col: str = "tf") -> DataFrame:
    """Corpus drift monitor between two corpus snapshots (the
    crawl-over-crawl QA check a continuously refreshed pretraining
    corpus runs): per-term unigram distributions of snapshot 0 and
    snapshot 1 over their SHARED vocabulary, with each term's
    contribution to KL(A||B) and KL(B||A) — the top drifted terms are
    the audit trail when a new crawl shifts topic/boilerplate mix.

    Input: (snap in {0,1}, term, tf) rows. Two map-side-combined
    groupBys (term-keyed counts, snapshot totals) + one term-keyed
    self-join — the totals frame is 2 rows and broadcasts; nothing in
    the plan is corpus-wide beyond the token count pass. The join is
    inner on term: out-of-vocabulary terms (infinite KL) are excluded
    by construction, the standard smoothing-free drift setup.
    """
    cnt = tokens.groupBy(F.col(snap_col).alias("snap"),
                         F.col(term_col).alias("term")).agg(
        F.sum(F.col(count_col)).alias("c"))
    tot = cnt.groupBy("snap").agg(F.sum("c").alias("t"))
    p = cnt.join(F.broadcast(tot), "snap").select(
        "snap", "term", (F.col("c") * 1.0 / F.col("t")).alias("p"))
    a = p.where(F.col("snap") == 0).select("term", F.col("p").alias("p_a"))
    b = p.where(F.col("snap") == 1).select("term", F.col("p").alias("p_b"))
    j = a.join(b, "term")
    return j.select(
        "term",
        F.round("p_a", 6).alias("p_a"),
        F.round("p_b", 6).alias("p_b"),
        F.round(F.col("p_a") * F.log(F.col("p_a") / F.col("p_b")), 6)
        .alias("kl_ab_term"),
        F.round(F.col("p_b") * F.log(F.col("p_b") / F.col("p_a")), 6)
        .alias("kl_ba_term"),
    )


def leakage_safe_split(df: DataFrame, components: DataFrame,
                       id_col: str = "doc_id", salt: str = "split-v1",
                       val_pct: int = 5, test_pct: int = 5) -> DataFrame:
    """Near-dup-aware train/val/test split: assign_split keyed on the
    doc's DUPLICATE COMPONENT instead of the doc id, so an entire
    near-dup cluster always lands in the same split — the standard fix
    for eval leakage through near-duplicates (a test doc whose
    near-copy sits in train is a leaked label; Lee et al. 2022 §6
    measure exactly this inflation). Per-doc hashing (assign_split) is
    stable under corpus growth but splits dup clusters ~proportionally
    to their size — this variant closes that hole while keeping the
    same determinism: bucket = md5(salt|component) mod 100.

    `components` is a (doc_id, component) frame (dedup_clusters'
    output; only dup-edge members appear). Docs without a component
    row are singletons — their component is their own id, so their
    assignment equals plain assign_split and adding new dups never
    moves an existing singleton's split unless it genuinely joined a
    cluster.

    Scale shape: one equi-join of the corpus against the (small)
    dup-member frame + the shuffle-free assign_split projection; the
    heavy lifting (LSH + connected components) happens upstream in
    dedup_clusters and is shared with the dedup pass a pipeline runs
    anyway."""
    comp = components.select(F.col("doc_id"), F.col("component"))
    out = (df.select(F.col(id_col).alias("doc_id"))
           .join(comp, "doc_id", "left")
           .withColumn("component",
                       F.coalesce("component", F.col("doc_id"))))
    return assign_split(out, "component", salt=salt, val_pct=val_pct,
                        test_pct=test_pct).select(
        "doc_id", "component", "bucket", "split")


def chunk_token_windows(df: DataFrame, window: int = 64, stride: int = 48,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Overlapping token-window chunking — the RAG / long-context prep
    step that turns documents into fixed-budget passages with stride
    overlap (the retrieval-index and context-extension convention;
    stride < window keeps boundary sentences in two chunks so no span
    is only ever cut).

    Chunk count is the closed form 1 if n <= window else
    ceil((n - window) / stride) + 1 (exact integer arithmetic, engine-
    portable); chunk k covers tokens [k*stride, k*stride + window).
    Empty docs produce no chunks.

    -> (doc_id, chunk_idx, start_tok, n_tok, chunk_text). Plan: one
    narrow projection + a per-doc explode bounded by n/stride — no
    shuffle, no UDF; chunking 100 TB is a map-only pass."""
    from connectors_spark.functions.analysis import tokens_col

    if not 0 < stride <= window:
        raise ValueError("need 0 < stride <= window")
    toks = tokens_col(F.col(text_col))
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("toks"),
                     F.size(toks).alias("n"))
    n = F.col("n")
    n_chunks = F.when(n <= window, F.lit(1)).otherwise(
        F.floor((n - F.lit(window) + F.lit(stride - 1)) / F.lit(stride))
        + F.lit(1)).cast("int")
    chunks = (base.filter(n > 0)
              .withColumn("chunk_idx",
                          F.explode(F.sequence(F.lit(0), n_chunks - 1)))
              .withColumn("start_tok",
                          (F.col("chunk_idx") * stride).cast("int"))
              .withColumn("chunk",
                          F.slice(F.col("toks"), F.col("start_tok") + 1,
                                  window)))
    return chunks.select(
        "doc_id", F.col("chunk_idx").cast("int").alias("chunk_idx"),
        "start_tok", F.size("chunk").cast("int").alias("n_tok"),
        F.array_join("chunk", " ").alias("chunk_text"))


def grpo_advantage(cands: DataFrame, group_col: str = "prompt_id",
                   reward_col: str = "reward",
                   id_col: str = "doc_id") -> DataFrame:
    """GRPO group-relative advantage (Shao et al. 2024, "DeepSeekMath",
    §4.1 — the PPO-critic-free RL objective): per prompt group of n
    sampled responses, advantage_i = (r_i - mean(r)) / std_pop(r); a
    zero-variance group (all rewards equal) gets advantage 0 exactly
    as the degenerate-group convention.

    Exact-integer determinism: rewards are snapped to a micro-unit
    grid (round(r * 1e6) as int64) and the advantage is computed from
    integer group sums only —
        adv = (n*x - s1) / sqrt(n*s2 - s1^2),   s1 = sum x, s2 = sum x^2
    — algebraically identical to (x - mean)/std_pop but with ONE float
    division and ONE sqrt, so Spark and any SQL twin produce
    bit-identical values regardless of float summation order. Bound:
    n*s2 <= n^2 * 1e12 stays inside int64 for group sizes n < ~3,000;
    GRPO groups are the per-prompt sampling budget (8-64 in the paper),
    never the corpus, so the bound holds by construction (documented,
    not checked per-row).

    Plan: ONE window partitioned by the prompt key (single shuffle on
    group_col at any corpus size; group width = sampling budget n).
    Reference context: this is the curation-side twin of best_of_n —
    best_of_n keeps the argmax, GRPO keeps every candidate with its
    group-standardized training weight."""
    micro = F.round(F.col(reward_col) * F.lit(1e6)).cast("long")
    w = Window.partitionBy(group_col)
    d = cands.select(group_col, id_col, F.col(reward_col), micro.alias("_r"))
    s1 = F.sum("_r").over(w)
    s2 = F.sum(F.col("_r") * F.col("_r")).over(w)
    n = F.count(F.lit(1)).over(w)
    num = (n * F.col("_r") - s1).cast("double")
    var_n2 = (n * s2 - s1 * s1).cast("double")   # n^2 * var, micro^2
    adv = F.when(var_n2 > 0, num / F.sqrt(var_n2)).otherwise(F.lit(0.0))
    return d.select(
        group_col, id_col, reward_col,
        F.round(adv, 6).alias("advantage"),
        n.cast("long").alias("n_group"),
    )


def pass_at_k(samples: DataFrame, problem_col: str = "problem_id",
              correct_col: str = "correct",
              ks: tuple = (1, 5, 10)) -> DataFrame:
    """Unbiased pass@k estimator (Chen et al. 2021, "Evaluating Large
    Language Models Trained on Code", eq. 1): per problem with n
    samples of which c pass, pass@k = 1 - C(n-c,k)/C(n,k), computed
    with the numerically stable telescoping product
    prod_{i=0..k-1} (n-c-i)/(n-i) (the paper's reference impl) —
    NEVER via factorials. n < k yields NULL (estimator undefined);
    n - c < k yields exactly 1.0 (every size-k draw hits a pass).

    The product is unrolled at plan-build time (k is a constant), so
    both Spark and a SQL twin evaluate the IDENTICAL left-associated
    float expression — deterministic across engines without rounding
    tricks; the final estimate is still rounded to 6 dp by the repo
    convention.

    Plan: ONE map-side-combined groupBy on the problem key (two long
    sums); the estimator is per-row arithmetic on the tiny
    problems-frame — evaluating 10^9 sampled completions is one
    combine-friendly shuffle."""
    g = samples.groupBy(F.col(problem_col).alias("problem_id")).agg(
        F.count(F.lit(1)).alias("n_samples"),
        F.sum(F.col(correct_col).cast("long")).alias("n_correct"),
    )
    n, c = F.col("n_samples"), F.col("n_correct")
    cols = [F.col("problem_id"), n, c]
    for k in ks:
        prod = F.lit(1.0)
        for i in range(int(k)):
            prod = prod * ((n - c - F.lit(i)).cast("double")
                           / (n - F.lit(i)).cast("double"))
        est = (F.when(n < k, F.lit(None).cast("double"))
               .when(n - c < k, F.lit(1.0))
               .otherwise(F.round(F.lit(1.0) - prod, 6)))
        cols.append(est.alias(f"pass_at_{int(k)}"))
    return g.select(*cols)


def self_consistency_vote(samples: DataFrame,
                          problem_col: str = "problem_id",
                          answer_col: str = "answer") -> DataFrame:
    """Self-consistency majority vote (Wang et al. 2022,
    "Self-Consistency Improves Chain of Thought Reasoning"): per
    problem, the final answer is the mode of the sampled answers
    (ties broken by the SMALLEST answer — deterministic, documented);
    vote_share is the winner's fraction of all samples (the standard
    confidence proxy a curation step thresholds on).

    answer_col must be an integer-extracted answer (the repo models
    answer extraction separately); tie-break uses max_by over
    struct(n_votes, -answer), so answers keep full int64 range.

    Plan: TWO map-side-combined groupBys — (problem, answer) vote
    counts, then a problem-keyed max_by/sum/count — no window, no
    per-problem candidate list ever materializes; the second agg's
    input is already collapsed to distinct answers per problem."""
    votes = samples.groupBy(
        F.col(problem_col).alias("problem_id"),
        F.col(answer_col).alias("answer"),
    ).agg(F.count(F.lit(1)).alias("n_votes"))
    return votes.groupBy("problem_id").agg(
        F.max_by("answer", F.struct(F.col("n_votes"),
                                    -F.col("answer"))).alias("voted_answer"),
        F.max("n_votes").alias("n_votes_win"),
        F.sum("n_votes").cast("long").alias("n_total"),
        F.count(F.lit(1)).alias("n_distinct_answers"),
    ).select(
        "problem_id", "voted_answer", "n_votes_win", "n_total",
        "n_distinct_answers",
        F.round(F.col("n_votes_win") / F.col("n_total"), 6)
        .alias("vote_share"),
    )
