"""Inverted-index build: tokenize -> postings -> doc stats -> lexicon.

Replaces the reference's per-record Extractor->MemQueue->Sink pipeline
(reference: app/connectors_service/connectors/es/sink.py:6-19,577-719)
with declarative Spark stages. There is ONE tokenize -> postings step,
`_token_entries`: each doc's sorted token array gives its distinct
terms, their tf, dl and (optionally) positions array-side, so no stage
shuffles the token stream. `build_index` explodes those entries and
keeps them (`IndexFrames.entries`); `index.posting_rows`, the write
core of every index writer, attaches doc_idx to them. Everything is
JVM expression code except the `english`/`kstem` stemmers (one Arrow
UDF, functions/analysis.py).

Scale notes (10^12-turn design):
- per-doc entries are row-local: tf, dl and positions need no shuffle,
  and a Zipf-hot term costs one array element per doc, not a hot key;
- groupBy(term) for df uses partial aggregation; the Zipf head collapses
  map-side, so the shuffle carries ~P rows per hot term, not the postings.
- doc-index assignment is ONE sample-balanced range shuffle (no global
  single-point sort, no count pass) — see `assign_doc_indices`.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from connectors_spark.functions.analysis import analyzed_tokens


def with_doc_id(transcripts: DataFrame) -> DataFrame:
    """doc_id = conv_id || ':' || turn_idx (string identity, mirrors the
    reference's composite `_id`, reference: app/connectors_service/
    connectors/sources/slack/datasource.py:205-207). Ids beyond 512 UTF-8
    bytes fall back to their md5 hex — the reference's long-id contract
    (app/connectors_service/connectors/sync_job_runner.py:416-446,
    libs/connectors_sdk/connectors_sdk/utils.py:58-62)."""
    from connectors_spark.functions.scalars import hash_id

    return transcripts.withColumn(
        "doc_id", hash_id(F.concat_ws(":", F.col("conv_id"), F.col("turn_idx")))
    )


@dataclass
class IndexFrames:
    """Logical index. docs and postings read one persisted entries frame
    (`_token_entries`), carried as `entries` by `build_index`; lexicon is
    persisted. The entries are what the index writers encode. Frames
    derived from another index leave `entries` None: the cache belongs
    to the index that built it, and such a frame cannot be written."""

    postings: DataFrame   # (term, doc_id, tf, positions)
    docs: DataFrame       # (doc_id, dl)
    lexicon: DataFrame    # (term, df)
    n_docs: int
    avgdl: float
    entries: DataFrame | None = None  # (doc_id [, ts], dl, _entries)

    def unpersist(self) -> None:
        """Release every cached frame of the index, entries included."""
        for f in (self.postings, self.docs, self.lexicon, self.entries):
            if f is not None:
                f.unpersist()

    def require_entries(self) -> DataFrame:
        """The entries the index writers encode. A derived frame has
        none (its source's would undo the derivation), so it fails."""
        if self.entries is None:
            raise ValueError(
                "IndexFrames has no token entries to write: frames derived "
                "from another index (static_prune_postings, "
                "with_lossy_norms) carry none; write a build_index result")
        return self.entries


def entries_have_positions(entries: DataFrame) -> bool:
    """Whether `_token_entries` rows carry positions (type only, no job)."""
    return "positions" in entries.schema["_entries"].dataType.elementType.names


def _token_entries(base: DataFrame, id_cols: list[str],
                   stop_words: list[str] | None = None,
                   stemmer: str = "none",
                   with_positions: bool = False) -> DataFrame:
    """(*id_cols, dl, _entries) — per-doc distinct (term, tf[, positions])
    entries and token count of `base`'s `text`, computed ARRAY-SIDE in
    one tokenize pass through the analyzer chain (`analyzed_tokens`).

    The sorted token array's run boundaries give the distinct terms and
    their counts: starts[i] marks where s[i] differs from s[i-1]; the
    run length (= tf) is the distance to the next start. Replaces
    explode + groupBy(term, doc) — i.e. removes a full token-stream
    shuffle — with per-row array expressions. With positions the array
    sorted is struct(term, pos), pos being the token's index in the
    analyzed stream (as `tokenize`'s posexplode numbers it): runs are
    still the terms, and each run's pos values come out ascending — the
    entry's third field.

    Every intermediate (sorted array `_s`, its size `_n`, run starts
    `_starts`) is materialized as a BOUND column via a dedicated
    .select() stage. That staging is load-bearing: if the array-sort
    subtree were inlined into the filter/transform lambdas, Catalyst
    would re-evaluate it per array element (measured O(n^2)-per-doc
    blowup). CollapseProject keeps the stages because each intermediate
    is referenced more than once by non-cheap expressions. Callers that
    explode `_entries` must do so across a materialization barrier
    (persist/exchange), otherwise the generator's implicit
    size(..)>0 filter is pushed below the projections with the whole
    subtree inlined (same blowup).
    """
    toks = analyzed_tokens(F.col("text"), stop_words, stemmer)
    tok_type, entry_type = "array<string>", "term:string,tf:int"
    if with_positions:
        toks = F.transform(
            toks, lambda t, i: F.struct(t.alias("term"), i.alias("pos")))
        tok_type = "array<struct<term:string,pos:int>>"
        entry_type += ",positions:array<int>"
    # NULL text tokenizes to NULL: coalesce to [] so it is a zero-token
    # doc (dl = 0, no entries) like "" and punctuation-only text
    st0 = base.select(
        *id_cols,
        F.coalesce(F.array_sort(toks), F.array().cast(tok_type)).alias("_s"),
    )
    s = F.col("_s")

    def term_at(i):
        t = F.element_at(s, i)
        return t["term"] if with_positions else t

    st1 = st0.select(*id_cols, "_s", F.size("_s").alias("_n"))
    n = F.col("_n")
    # n = 0 guard: sequence(0, -1) is the DESCENDING [0, -1], and
    # element_at(s, 0) raises INVALID_INDEX_OF_ZERO
    starts = F.when(n > 0, F.filter(
        F.sequence(F.lit(0), n - 1),
        lambda i: (i == 0) | (term_at(i + 1) != term_at(i)),
    )).otherwise(F.array().cast("array<int>"))
    st2 = st1.select(*id_cols, "_s", "_n", starts.alias("_starts"))
    stc = F.col("_starts")
    ends = F.concat(
        F.slice(stc, 2, F.greatest(F.size(stc) - 1, F.lit(0))), F.array(n)
    )
    fields = [
        F.transform(stc, lambda i: term_at(i + 1)).alias("term"),
        F.zip_with(stc, ends, lambda a, b: b - a).alias("tf"),
    ]
    if with_positions:
        fields.append(F.zip_with(
            stc, ends, lambda a, b: F.transform(
                F.slice(s, a + 1, b - a), lambda e: e["pos"]),
        ).alias("positions"))
    entries = F.when(n > 0, F.arrays_zip(*fields)).otherwise(
        F.array().cast(f"array<struct<{entry_type}>>"))
    return st2.select(
        *id_cols, n.cast("long").alias("dl"), entries.alias("_entries")
    )


def build_index(docs_base: DataFrame, stop_words: list[str] | None = None,
                with_positions: bool = True, text_col: str = "text",
                doc_id_col: str = "doc_id", stemmer: str = "none",
                denormalize_dl: bool = False) -> IndexFrames:
    """Build over any table with (doc_id, text) — e.g. the documents
    testdata table or doc-id'd transcripts (see build_index_transcripts).

    One tokenize pass (`_token_entries`), persisted: docs is its
    (doc_id [, ts], dl) projection, postings its explode, the lexicon a
    df count over the postings. Every doc counts toward N and avgdl,
    zero-token docs included; `positions` is NULL when with_positions is
    False.

    denormalize_dl=True stores dl ON the posting rows (a projection of
    the entries): the DataFrame scorers then skip the per-query dl join
    entirely — the scale path once n_docs exceeds the scorer's broadcast
    threshold (the impact-ordered-index denormalization trick; encoded
    shards already store dls)."""
    if doc_id_col != "doc_id":
        docs_base = docs_base.withColumn("doc_id", F.col(doc_id_col))
    # ts (when present) rides along into the docmap -> it IS the index
    # manifest used for incremental diffing (J1-J3)
    id_cols = ["doc_id"] + (["ts"] if "ts" in docs_base.columns else [])
    # the persist is the materialization barrier an explode of the
    # entries needs (see _token_entries); docs, postings and lexicon all
    # read it, so the tokenize pass runs once
    ent = _token_entries(
        docs_base.select(*id_cols, F.col(text_col).alias("text")), id_cols,
        stop_words, stemmer, with_positions,
    ).persist()
    docs = ent.select(*id_cols, "dl")

    e = F.col("_e")
    positions = (e["positions"] if with_positions
                 else F.lit(None).cast("array<int>"))
    postings = (
        ent.select("doc_id", "dl", F.explode("_entries").alias("_e"))
        .select("doc_id", e["term"].alias("term"),
                e["tf"].cast("long").alias("tf"),
                positions.alias("positions"), "dl")
    )
    if not denormalize_dl:
        postings = postings.select("term", "doc_id", "tf", "positions")

    # lexicon is PART of the logical index (one row per distinct term) —
    # mark it persisted so repeated scoring jobs don't re-aggregate df
    # from the full postings every time (measured: the un-cached lexicon
    # branch cost the 200-query bench ~12s per run at sf0.1)
    lexicon = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df")).persist()

    n_docs, sum_dl = docs.agg(
        F.count(F.lit(1)), F.sum("dl")
    ).first()
    avgdl = float(sum_dl) / float(n_docs) if n_docs else 0.0
    return IndexFrames(postings=postings, docs=docs, lexicon=lexicon,
                       n_docs=int(n_docs), avgdl=avgdl, entries=ent)


def build_index_transcripts(transcripts: DataFrame, **kw) -> IndexFrames:
    return build_index(with_doc_id(transcripts), **kw)


def assign_doc_indices(docs: DataFrame, num_ranges: int | None = None,
                       start_idx: int = 0) -> DataFrame:
    """(doc_idx, doc_id, dl): int64 ids ORDERED like doc_id, one shuffle.

    doc_idx = monotonically_increasing_id() over range-partitioned,
    in-partition-sorted rows (+ start_idx). Range boundaries are ordered
    and mono ids are partition-major, so the ids are globally ordered by
    doc_id — but NOT dense: id = shuffle_pid * 2^33 + local_row. Dense is
    not a requirement anywhere downstream; what is required:
    (a) order-compatibility with doc_id for tie-breaking — holds;
    (b) int64 for the delta-gap varint codec — holds (gaps jump at
        partition boundaries, a few extra varint bytes per partition);
    (c) balanced residues mod every power-of-two shard count (the
        doc-space sharding/grouping in operators/index.py) — holds:
        local rows are dense and 2^33 ≡ 0 (mod 2^j) for every real shard
        count, so doc_idx % 2^j == local_row % 2^j.

    LIMIT: monotonically_increasing_id packs the local row number into the
    lower 33 bits, so any single range partition holding >= 2^33 (~8.6B)
    rows would silently bleed into the next partition's id space and break
    invariants (a)-(c). Guarded two ways: (1) size num_ranges so that even
    a pessimistic rows/partition stays far below 2^33 (caller can raise
    num_ranges; at 10^12 docs, num_ranges >= 1024 keeps the mean ~10^9);
    (2) a per-row Catalyst check — embedded in the doc_idx expression so
    column pruning cannot drop it — raises the moment local_row overflows
    (id >> 33 no longer equals spark_partition_id). Zero extra jobs.

    vs the round-1 two-pass version: no second traversal, no per-
    partition count collect, no window shuffle, no broadcast join-back —
    at 10^12 docs this stage is one range shuffle, full stop. (The range
    partitioner still samples the input once to pick boundaries.)
    """
    spark = docs.sparkSession
    if num_ranges is None:
        num_ranges = max(spark.sparkContext.defaultParallelism, 8)
    ranged = docs.repartitionByRange(num_ranges, "doc_id").sortWithinPartitions("doc_id")
    keep = list(docs.columns)
    # materialize the nondeterministic id ONCE in an inner projection
    # (CollapseProject will not inline a multi-referenced nondeterministic
    # alias, so both uses below read the same value)
    with_mono = ranged.select(
        F.monotonically_increasing_id().alias("_mono"),
        F.spark_partition_id().cast("long").alias("_pid"),
        *keep,
    )
    # overflow guard: mono id = (pid << 33) | local_row; if local_row ever
    # reaches 2^33 the shifted prefix exceeds the real partition id.
    doc_idx = F.when(
        F.shiftright(F.col("_mono"), 33) == F.col("_pid"),
        F.col("_mono") + F.lit(start_idx),
    ).otherwise(
        F.raise_error(F.lit(
            "assign_doc_indices: >2^33 rows in one range partition — "
            "raise num_ranges (rows/partition must stay below 2^33)"
        )).cast("long")
    )
    return with_mono.select(doc_idx.alias("doc_idx"), *keep)


def static_prune_postings(index: IndexFrames, keep_n: int,
                          k1: float | None = None,
                          b: float | None = None,
                          salt_buckets: int = 32) -> IndexFrames:
    """Impact-ordered static index pruning (Carmel et al., SIGIR 2001;
    Anh & Moffat impact ordering): keep only the top `keep_n` postings
    per term by BM25 impact, dropping the long low-impact tail of hot
    terms. Within a term the idf factor is constant, so impact order is
    the tf-normalization order w = tf(k1+1) / (tf + k1(1-b+b·dl/avgdl))
    — high-tf postings in short docs survive. Global statistics (df,
    dl, avgdl, n_docs) are kept from the UNPRUNED corpus, the standard
    static-pruning setup: pruning changes candidate recall, never the
    weight a surviving posting scores with.

    Skew shape: a naive per-term window sends a stop-word's entire
    posting list (O(n_docs) rows at web scale) through one task. This
    runs the selection in TWO stages — partial top-keep_n within
    (term, doc-hash salt bucket), then final top-keep_n over the
    <= salt_buckets * keep_n survivors — so no task ever sees more
    than max(partition_slice, salt_buckets * keep_n) rows of one term.
    Both stages rank by the same deterministic total order
    (impact DESC, doc_id ASC), so the result is identical to the
    single-window form the DuckDB twin uses.
    """
    from connectors_spark import BM25_B, BM25_K1
    from pyspark.sql import Window

    k1 = BM25_K1 if k1 is None else k1
    b = BM25_B if b is None else b
    p = index.postings.join(index.docs, "doc_id")
    impact = (
        F.col("tf") * F.lit(k1 + 1.0)
        / (F.col("tf") + F.lit(k1) * (F.lit(1.0 - b)
                                      + F.lit(b) * F.col("dl")
                                      / F.lit(float(index.avgdl))))
    )
    p = p.withColumn("_impact", impact)
    w1 = Window.partitionBy(
        "term", F.pmod(F.xxhash64("doc_id"), F.lit(salt_buckets))
    ).orderBy(F.desc("_impact"), F.asc("doc_id"))
    partial = p.withColumn("_r", F.row_number().over(w1)).where(
        F.col("_r") <= keep_n)
    w2 = Window.partitionBy("term").orderBy(
        F.desc("_impact"), F.asc("doc_id"))
    keep_cols = index.postings.columns
    pruned = (partial.withColumn("_r2", F.row_number().over(w2))
              .where(F.col("_r2") <= keep_n)
              .select(*keep_cols))
    return IndexFrames(postings=pruned, docs=index.docs,
                       lexicon=index.lexicon, n_docs=index.n_docs,
                       avgdl=index.avgdl)
