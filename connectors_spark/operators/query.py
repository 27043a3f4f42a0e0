"""Query side: BM25 top-k over the postings index.

Two paths, rank-identical by construction (shared score.py formulas):

1. `score_topk_dataframe` — declarative DataFrame plan: broadcast the
   (tiny) query-term table against postings, join doc lengths, hash-agg
   per (query, doc), window top-k. Catalyst handles partial aggregation,
   broadcast selection and AQE. This is the bulk-scoring path (the whole
   query set in ONE Spark job — not a job per query).

2. block-max WAND over the compressed index (operators/wand.py) — the
   low-latency path that skips blocks via block-max upper bounds.

Every DataFrame scorer here and in query_string.py is built from three
shared parts; only the per-posting weight differs per similarity:

- the matched slice: postings joined to the broadcast distinct query
  terms, with per-doc dl attached by `_with_dl` (the one dl broadcast
  gate, decided by BROADCAST_DOCS_MAX); `_distinct_term_weights` adds
  the BM25 weight from lexicon df, `_matched_term_stats` adds the per-term
  (df, ttf) the other similarities read;
- the per-posting weight expression, expanded to (query, doc) rows by a
  broadcast join against the query-term table;
- `_topk_tail`: ONE `query_id`-keyed exchange shared by the (query, doc)
  aggregation and the (score DESC, doc_id ASC) rank window, then
  `rank <= k`.

The reference never implements scoring (Elasticsearch does, after the bulk
call — reference: app/connectors_service/connectors/es/sink.py:212-248);
this module is the from-scratch replacement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from connectors_spark import BM25_B, BM25_K1, BROADCAST_DOCS_MAX
from connectors_spark.functions.analysis import tokens_col
from connectors_spark.operators.build import IndexFrames
from connectors_spark.operators.score import idf_col, tf_norm_col
from connectors_spark.schema import arrow_frame


def queries_df(spark: SparkSession, queries: list[dict]) -> DataFrame:
    """queries: [{query_id, query_text, k}] -> DataFrame (an Arrow-built
    local relation, `schema.arrow_frame`)."""
    return arrow_frame(
        spark,
        [(q["query_id"], q["query_text"], q.get("k", 10)) for q in queries],
        "query_id string, query_text string, k int",
    )


def query_terms(qdf: DataFrame) -> DataFrame:
    """(query_id, k, term) — duplicate terms within a query are scored once
    (engine semantic; documented in FIXTURES.md §2)."""
    return qdf.select(
        "query_id", "k", F.explode(F.array_distinct(tokens_col(F.col("query_text")))).alias("term")
    )


def boosted_query_terms(qdf: DataFrame) -> DataFrame:
    """(query_id, k, term, boost): ES query-string boost syntax — a
    trailing '^<number>' on a whitespace-delimited part binds a per-term
    multiplicative weight ('spark^2 slow'); default 1.0. The base part
    analyzes through the standard chain (a part tokenizing to several
    terms spreads its boost over them); duplicate terms keep the MAX
    boost, mirroring Lucene's dedup of weighted clauses."""
    parts = qdf.select(
        "query_id", "k",
        F.explode(
            F.filter(F.split(F.col("query_text"), r"\s+"), lambda p: p != "")
        ).alias("part"),
    )
    base = F.substring_index(F.col("part"), "^", 1)
    boost = F.when(
        F.col("part").contains("^"),
        F.coalesce(
            F.substring_index(F.col("part"), "^", -1).cast("double"), F.lit(1.0)
        ),
    ).otherwise(F.lit(1.0))
    exploded = parts.select(
        "query_id", "k", boost.alias("boost"),
        F.explode(tokens_col(base)).alias("term"),
    )
    return exploded.groupBy("query_id", "k", "term").agg(
        F.max("boost").alias("boost")
    )


def _with_dl(index: IndexFrames, frame: DataFrame) -> DataFrame:
    """`frame` (keyed by doc_id) with the per-doc `dl` column attached:
    as is when it already carries dl (build_index denormalize_dl=True),
    else joined to the doc map — broadcast when n_docs <=
    BROADCAST_DOCS_MAX (exact decision — the index knows n_docs), a
    shuffle join beyond it."""
    if "dl" in frame.columns:
        return frame
    docs_dl = index.docs.select("doc_id", "dl")
    if index.n_docs <= BROADCAST_DOCS_MAX:
        docs_dl = F.broadcast(docs_dl)
    return frame.join(docs_dl, "doc_id")


def _distinct_term_weights(index: IndexFrames, dterms: DataFrame,
                           k1: float, b: float) -> DataFrame:
    """(term, doc_id, w): the shared distinct-term BM25 weight pipeline —
    w = idf * tf_norm computed ONCE per matched (term, doc) pair, idf
    from the lexicon df. Broadcasts dterms and the matched lexicon slice;
    dl comes through the `_with_dl` gate. Used by every BM25 scorer so
    the weight formula and the broadcast gate cannot drift between
    them."""
    lex = index.lexicon.join(F.broadcast(dterms), "term")
    matched = _with_dl(index, index.postings.join(F.broadcast(dterms), "term")
                       .join(F.broadcast(lex), "term"))
    return matched.select(
        "term", "doc_id",
        (
            idf_col(index.n_docs, F.col("df"))
            * tf_norm_col(F.col("tf"), F.col("dl"), index.avgdl, k1, b)
        ).alias("w"),
    )


def _by_query(rows: DataFrame) -> DataFrame:
    """`rows` hash-partitioned on query_id alone, oversplit to 4x the
    default parallelism. query_id is a FEW-distinct-values key (hot
    queries can carry ~n_docs candidate rows each), so 4x spreads two
    hot queries onto different partitions most of the time while staying
    O(cores) tasks; scale-adaptive, not a local constant. Measured at
    sf0.1/200 queries: 8.3s -> 5.0s best-of-3 vs the two-exchange form;
    16 partitions (= default) loses the win to hot-query collisions."""
    n_part = 4 * rows.sparkSession.sparkContext.defaultParallelism
    return rows.repartition(n_part, F.col("query_id"))


def _topk_tail(rows: DataFrame, score=None, aggs: tuple = (), having=None,
               round_scores: int | None = None) -> DataFrame:
    """(query_id, rank, doc_id, score): the one scoring tail every
    DataFrame scorer ends in.

    `rows` carry (query_id, k, doc_id) plus whatever `score` (an
    aggregate Column, default sum(w)) and the extra `aggs` read; both
    aggregate per (query, doc). `having(scored)` filters or extends the
    aggregated rows before ranking (AND mode, bool clause counts, phrase
    gates). With `round_scores=n`, ranking and output use round(score,
    n) — makes ranks engine-independent (the DuckDB-gated queries, where
    float sum order differs). Ties break (score DESC, doc_id ASC); rows
    with rank <= k survive.

    ONE exchange for the whole tail: partitioning by query_id alone
    (`_by_query`) satisfies both the (query, doc) aggregation's
    clustering (subset partitioning colocates every (query, doc) pair)
    AND the rank window's — the window's own full-size Exchange of the
    scored rows disappears. Rows already partitioned by `_by_query`
    (a caller's pre-aggregation, a nested scorer's output) keep that
    partitioning: Spark drops the second, identical repartition."""
    scored = _by_query(rows).groupBy("query_id", "k", "doc_id").agg(
        (F.sum("w") if score is None else score).alias("score"), *aggs)
    if having is not None:
        scored = having(scored)
    if round_scores is not None:
        scored = scored.withColumn("score", F.round(F.col("score"), round_scores))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", "doc_id", "score")
    )


def score_topk_dataframe(
    index: IndexFrames,
    qdf: DataFrame,
    k1: float = BM25_K1,
    b: float = BM25_B,
    round_scores: int | None = None,
    mode: str = "or",
    qterms_override: DataFrame | None = None,
) -> DataFrame:
    """(query_id, rank, doc_id, score) for the whole query set in one plan.

    Ties break (score DESC, doc_id ASC). With `round_scores=n`, ranking and
    output use round(score, n) — makes ranks engine-independent (used by
    the DuckDB-gated queries, where float sum order differs).
    mode='and' keeps only docs matching EVERY query term — posting-list
    intersection, Lucene's conjunction iterator (SURVEY §2.3); expressed
    as count(matched terms) == |query terms| on the same aggregation, so
    AND costs no extra shuffle.

    Plan shape at scale (round-3 rework; measured 23.2s -> ~9s on the
    sf0.1 200-query bench):
    - DISTINCT-TERM scoring: the per-(term, doc) weight w = idf * tf_norm
      is query-independent, so it is computed ONCE per matched (term, doc)
      pair and only then expanded to (query, doc) contributions by a
      broadcast join against the query-term table. Queries share Zipf-head
      terms heavily (6.5x duplication on the bench query set), so this
      cuts the join/BM25-math row count by that factor; the expansion
      happens immediately before the aggregation.
    - broadcast dterms (distinct query terms), broadcast lexicon-of-
      matched-terms, broadcast qterms at expansion.
    - dl join: broadcast when n_docs <= BROADCAST_DOCS_MAX (exact — the
      operator knows n_docs); beyond that it is a shuffle join, or
      denormalize dl into the postings at build time to avoid it.
    - the only shuffle is `_topk_tail`'s query_id exchange, shared by the
      (query, doc) partial+final agg and the rank window.
    """
    qterms = qterms_override if qterms_override is not None else query_terms(qdf)
    dterms = qterms.select("term").distinct()
    tw = _distinct_term_weights(index, dterms, k1, b)
    contrib = tw.join(F.broadcast(qterms), "term")
    w_expr = (
        F.col("w") * F.col("boost") if "boost" in qterms.columns else F.col("w")
    )
    contrib = contrib.select("query_id", "k", "doc_id", w_expr.alias("w"))
    if mode != "and":
        return _topk_tail(contrib, round_scores=round_scores)
    # terms absent from the corpus can never be matched => queries
    # containing one return empty under AND (Lucene conjunction)
    n_terms = qterms.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("_n_terms")
    )
    return _topk_tail(
        contrib,
        # matched-term count only needed for the conjunction filter
        aggs=(F.count(F.lit(1)).alias("_n_matched"),),
        having=lambda scored: scored.join(F.broadcast(n_terms), "query_id")
        .filter(F.col("_n_matched") == F.col("_n_terms")),
        round_scores=round_scores,
    )


def expand_terms_fuzzy(lexicon: DataFrame, qdf: DataFrame,
                       max_dist: int = 1, prefix_len: int = 1) -> DataFrame:
    """(query_id, query_text, k) with each query term replaced by every
    lexicon term within levenshtein distance <= max_dist — the ES `fuzzy`
    query analog (prefix_len mirrors ES's prefix_length: expansion
    candidates must share the first `prefix_len` chars, which prunes the
    lexicon scan the way Lucene's prefix-constrained automaton does; a
    term's exact self always qualifies at distance 0). The expansion is a
    broadcast of the (tiny) query-term table against the lexicon — one
    narrow scan, no shuffle of postings. Expanded queries feed the normal
    scorers unchanged: each matched variant scores with its own df."""
    qterms = qdf.select(
        "query_id", "k",
        F.explode(F.array_distinct(tokens_col(F.col("query_text")))).alias("qt"),
    )
    cand = lexicon.select("term").distinct().join(
        F.broadcast(qterms),
        (F.substring("term", 1, prefix_len) == F.substring("qt", 1, prefix_len))
        & (F.levenshtein(F.col("term"), F.col("qt")) <= max_dist),
    )
    return (
        cand.groupBy("query_id", "k")
        .agg(F.array_join(F.array_sort(F.collect_set("term")), " ").alias("query_text"))
        .select("query_id", "query_text", "k")
    )


def expand_terms_prefix(lexicon: DataFrame, qdf: DataFrame,
                        min_prefix: int = 2) -> DataFrame:
    """(query_id, query_text, k) with each query term treated as a PREFIX
    (ES `prefix`/`wildcard term*` analog): expansion = every lexicon term
    starting with it. Prefixes shorter than min_prefix are ignored (the
    ES guardrail against full-lexicon expansion)."""
    qterms = qdf.select(
        "query_id", "k",
        F.explode(F.array_distinct(tokens_col(F.col("query_text")))).alias("qt"),
    ).filter(F.length("qt") >= min_prefix)
    cand = lexicon.select("term").distinct().join(
        F.broadcast(qterms), F.col("term").startswith(F.col("qt"))
    )
    return (
        cand.groupBy("query_id", "k")
        .agg(F.array_join(F.array_sort(F.collect_set("term")), " ").alias("query_text"))
        .select("query_id", "query_text", "k")
    )


BOOL_ROLES = ("must", "should", "must_not", "filter")


def bool_clause_rows(queries: list[dict]) -> list[tuple]:
    """Shared spec -> (query_id, k, msm, term, role) rows, used verbatim
    by the Spark side AND the DuckDB oracle so clause analysis and the
    ES default-msm rule (1 when should-only, else 0) cannot drift."""
    from connectors_spark.functions.analysis import tokenize_py

    rows = []
    for q in queries:
        k = int(q.get("k", 10))
        has_must = bool(q.get("must")) or bool(q.get("filter"))
        msm = int(q.get(
            "minimum_should_match",
            1 if q.get("should") and not has_must else 0,
        ))
        for role in BOOL_ROLES:
            text = q.get(role)
            if not text:
                continue
            for term in sorted(set(tokenize_py(text))):
                rows.append((q["query_id"], k, msm, term, role))
    return rows


def bool_clauses_df(spark: SparkSession, queries: list[dict]) -> DataFrame:
    """(query_id, k, msm, term, role) from bool-query specs:
    [{query_id, k, must: "text", should: "...", must_not: "...",
      filter: "...", minimum_should_match: int}]."""
    return arrow_frame(
        spark, bool_clause_rows(queries),
        "query_id string, k int, msm int, term string, role string",
    )


def score_bool_topk(index: IndexFrames, clauses: DataFrame,
                    k1: float = BM25_K1, b: float = BM25_B,
                    round_scores: int | None = None) -> DataFrame:
    """(query_id, rank, doc_id, score): the Elasticsearch `bool` query —
    the reference's content indices answer exactly this compound shape
    after sync (scoring delegated to ES, reference: app/
    connectors_service/connectors/es/sink.py:212-248; Lucene
    BooleanQuery semantics are public):

    - `must` terms: required (conjunction) AND contribute BM25 score;
    - `should` terms: optional, contribute score; a query's `msm`
      (minimum_should_match) requires that many distinct should terms;
    - `must_not` terms: any match excludes the doc (no score impact);
    - `filter` terms: required but NON-scoring (ES filter context).
    A term appearing in several clauses contributes once per clause
    (Lucene sums clause scores independently).

    Same scale shape as score_topk_dataframe: distinct-term BM25 weights
    computed once, broadcast clause expansion, the shared one-exchange
    tail; requirements (n distinct must/filter terms, msm) ride a
    broadcast.
    """
    dterms = clauses.select("term").distinct()
    tw = _distinct_term_weights(index, dterms, k1, b)
    contrib = tw.join(F.broadcast(clauses), "term")
    scoring = F.col("role").isin("must", "should")

    # clause rows are unique per (query, role, term) (bool_clause_rows
    # dedups), so a plain count is the distinct-term count — and keeps the
    # agg on the tail's exchange (several count_distincts plan an Expand
    # that shuffles again)
    def n_role(role):
        return F.count(F.when(F.col("role") == role, F.col("term")))

    req = clauses.groupBy("query_id").agg(
        n_role("must").alias("_req_must"), n_role("filter").alias("_req_filter"),
        F.max("msm").alias("msm"))
    return _topk_tail(
        contrib,
        F.sum(F.when(scoring, F.col("w")).otherwise(F.lit(0.0))),
        aggs=(n_role("must").alias("_n_must"),
              n_role("should").alias("_n_should"),
              n_role("must_not").alias("_n_not"),
              n_role("filter").alias("_n_filter")),
        having=lambda scored: scored.join(F.broadcast(req), "query_id").filter(
            (F.col("_n_must") == F.col("_req_must"))
            & (F.col("_n_filter") == F.col("_req_filter"))
            & (F.col("_n_not") == 0)
            & (F.col("_n_should") >= F.col("msm"))),
        round_scores=round_scores,
    )


def _query_parts(qdf: DataFrame, allowed_re: str) -> DataFrame:
    """(query_id, k, pat): whitespace-split, lowercased query parts kept
    only when they match `allowed_re` (pattern syntax guard)."""
    return qdf.select(
        "query_id", "k",
        F.explode(
            F.filter(F.split(F.lower(F.col("query_text")), r"\s+"),
                     lambda p: p != "")
        ).alias("pat"),
    ).filter(F.col("pat").rlike(allowed_re))


def _expanded_query_text(top: DataFrame) -> DataFrame:
    """Collapse (query_id, k, term) expansions back into a query row."""
    return (
        top.groupBy("query_id", "k")
        .agg(F.array_join(F.array_sort(F.collect_set("term")), " ")
             .alias("query_text"))
        .select("query_id", "query_text", "k")
    )


def expand_terms_wildcard(lexicon: DataFrame, qdf: DataFrame,
                          allow_leading: bool = False,
                          max_expansions: int = 50) -> DataFrame:
    """(query_id, query_text, k): ES `wildcard` query analog — each query
    part is a pattern where '*' matches any run and '?' one character;
    expansion = every lexicon term matching it. Guardrails, both ES's:
    leading-wildcard patterns are dropped unless allow_leading (the
    allow_leading_wildcard switch — a leading '*' scans the WHOLE lexicon
    at 10^9 terms), and each pattern keeps only its `max_expansions`
    highest-df terms (ES top-terms rewrite; df DESC, term ASC
    deterministic tie-break). The expansion is a broadcast of the tiny
    pattern table against the lexicon — one narrow scan, no postings
    shuffle; expanded queries feed the normal scorers with per-variant
    df."""
    parts = _query_parts(qdf, "^[a-z0-9*?]+$")
    if not allow_leading:
        parts = parts.filter(~F.col("pat").rlike("^[*?]"))
    cand = lexicon.select("term", "df").join(
        F.broadcast(parts),
        F.expr("term LIKE translate(pat, '*?', '%_')"),
    )
    w = Window.partitionBy("query_id", "pat").orderBy(
        F.desc("df"), F.asc("term")
    )
    top = cand.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= max_expansions
    )
    return _expanded_query_text(top)


def expand_terms_regexp(lexicon: DataFrame, qdf: DataFrame,
                        max_expansions: int = 50) -> DataFrame:
    """(query_id, query_text, k): ES `regexp` query analog — each query
    part is a regular expression matched against the FULL term (ES
    anchors regexp queries); expansion = every matching lexicon term,
    capped at the `max_expansions` highest-df terms per pattern (the ES
    top-terms rewrite analog of max_determinized_states: a bound on how
    much one pattern may fan out). Same broadcast-against-lexicon shape
    as the wildcard/prefix/fuzzy expanders."""
    parts = _query_parts(qdf, r"^[a-z0-9().|\[\]*+?{}^$-]+$")
    cand = lexicon.select("term", "df").join(
        F.broadcast(parts),
        F.expr("term RLIKE concat('^(', pat, ')$')"),
    )
    w = Window.partitionBy("query_id", "pat").orderBy(
        F.desc("df"), F.asc("term")
    )
    top = cand.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= max_expansions
    )
    return _expanded_query_text(top)


def score_multi_match(indexes: list[tuple[IndexFrames, float]],
                      qdf: DataFrame,
                      k1: float = BM25_K1, b: float = BM25_B,
                      round_scores: int | None = None,
                      match_type: str = "most_fields",
                      tie_breaker: float = 0.0) -> DataFrame:
    """(query_id, rank, doc_id, score): ES `multi_match` — the SAME
    analyzed query runs against every field's index; each field keeps
    its own statistics (df, dl, avgdl, N), exactly Lucene's per-field
    term statistics. `indexes`: [(IndexFrames_for_field, boost)] — all
    built over the same doc set.

    match_type='most_fields': per (query, doc) the per-field scores SUM.
    match_type='best_fields': Lucene DisjunctionMaxQuery — the BEST
    field's score wins, plus tie_breaker * (sum of the other fields'
    scores); tie_breaker=0 is pure dis_max, 1.0 degenerates to
    most_fields. Plan: the distinct-term weight pipeline per field,
    contributions unioned with a field tag, the shared one-exchange tail
    (best_fields aggregates one per-field sum per field in the same
    (query, doc) aggregation; fields with no match stay NULL and drop
    out of the max and the sum)."""
    if match_type not in ("most_fields", "best_fields"):
        raise ValueError(f"unknown multi_match type {match_type!r}")
    qterms = query_terms(qdf)
    dterms = qterms.select("term").distinct()
    contribs = None
    for fi, (index, boost) in enumerate(indexes):
        tw = _distinct_term_weights(index, dterms, k1, b)
        tw = tw.withColumn("w", F.col("w") * F.lit(float(boost)))
        c = tw.join(F.broadcast(qterms), "term").select(
            "query_id", "k", "doc_id", "w", F.lit(fi).alias("_field"))
        contribs = c if contribs is None else contribs.unionByName(c)
    score = None
    if match_type == "best_fields":
        fs = [F.sum(F.when(F.col("_field") == fi, F.col("w")))
              for fi in range(len(indexes))]
        best = F.array_max(F.array(*fs))
        total = fs[0]
        for f in fs[1:]:
            total = F.coalesce(total, F.lit(0.0)) + F.coalesce(f, F.lit(0.0))
        score = best + F.lit(float(tie_breaker)) * (total - best)
    return _topk_tail(contribs, score, round_scores=round_scores)


def search_indexes(named_indexes: list[tuple[str, IndexFrames]],
                   qdf: DataFrame, k1: float = BM25_K1, b: float = BM25_B,
                   round_scores: int | None = None) -> DataFrame:
    """(query_id, rank, _index, doc_id, score): ES multi-index search
    (comma/pattern index targets): every index scores with its OWN
    corpus statistics (ES's default query_then_fetch — no global df),
    the per-index top-k results merge per query (score DESC, index ASC,
    doc ASC). Fetching k per index before the merge is exactly the ES
    shard-merge contract and keeps the merge input at |indexes| * k
    rows per query."""
    per = None
    for name, idx in named_indexes:
        s = score_topk_dataframe(idx, qdf, k1=k1, b=b,
                                 round_scores=round_scores)
        s = s.drop("rank").withColumn("_index", F.lit(name))
        per = s if per is None else per.unionByName(s)
    kmap = qdf.select("query_id", "k").distinct()
    # struct order is field order: ranking the (_index, doc_id) struct
    # ASC is the (index ASC, doc ASC) tie-break of the merge
    rows = per.join(F.broadcast(kmap), "query_id").select(
        "query_id", "k", F.struct("_index", "doc_id").alias("doc_id"),
        F.col("score").alias("w"))
    return _topk_tail(rows).select(
        "query_id", "rank", "doc_id._index", "doc_id.doc_id", "score")


def percolate(docs: DataFrame, stored: DataFrame, mode: str = "and",
              text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, query_id): the ES percolator — REVERSE search, matching
    incoming documents against a registry of STORED queries (ES
    percolate: alerting / saved-search routing; the reference's
    first-match sync rules are the ingest-side cousin). mode='and': a
    stored query matches when ALL its analyzed terms occur in the doc
    (match query, operator=and); mode='or': any term.

    Plan: tokenize the incoming docs ONCE, distinct (doc, term), join
    the broadcast stored-query term table, count distinct matched terms
    per (doc, query) vs the query's term count — one agg shuffle keyed
    on (doc, query), no per-query scans, scales with |docs| not
    |docs| x |queries|."""
    if mode not in ("and", "or"):
        raise ValueError(f"percolate mode must be 'and' or 'or', got {mode!r}")
    qterms = stored.select(
        "query_id",
        F.explode(F.array_distinct(tokens_col(F.col("query_text")))).alias("term"),
    )
    nterms = qterms.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("_n_terms"))
    doc_terms = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens_col(F.col(text_col)))).alias("term"),
    )
    matched = doc_terms.join(F.broadcast(qterms), "term").groupBy(
        "doc_id", "query_id"
    ).agg(F.count(F.lit(1)).alias("_n_matched"))
    if mode == "and":
        matched = matched.join(F.broadcast(nterms), "query_id").filter(
            F.col("_n_matched") == F.col("_n_terms"))
    return matched.select("doc_id", "query_id")


def explain_score(index: IndexFrames, qdf: DataFrame,
                  k1: float = BM25_K1, b: float = BM25_B,
                  round_to: int = 6) -> DataFrame:
    """(query_id, doc_id, term, tf, df, dl, weight): the ES `_explain`
    API analog — the per-term BM25 contribution breakdown for every
    (query, matched doc) pair, with the statistics (tf, df, dl) that
    produced each weight. sum(weight) over a (query, doc) group equals
    the scorer's score by construction (same idf/tf_norm formulas,
    operators/score.py). Same broadcast plan as the scorer minus the
    aggregation — use on a narrowed query/doc set, like ES does."""
    qterms = query_terms(qdf)
    dterms = qterms.select("term").distinct()
    lex = index.lexicon.join(F.broadcast(dterms), "term")
    matched = _with_dl(index, index.postings.join(F.broadcast(dterms), "term")
                       .join(F.broadcast(lex), "term")).join(
        F.broadcast(qterms.select("query_id", "term")), "term")
    w = (
        idf_col(index.n_docs, F.col("df"))
        * tf_norm_col(F.col("tf"), F.col("dl"), index.avgdl, k1, b)
    )
    return matched.select(
        "query_id", "doc_id", "term", "tf", "df", "dl",
        F.round(w, round_to).alias("weight"),
    )


def suggest_terms(lexicon: DataFrame, inputs: DataFrame,
                  max_dist: int = 2, prefix_len: int = 1,
                  top_n: int = 3) -> DataFrame:
    """(input, suggestion, dist, df): the ES term suggester
    ("did you mean") — per input term, the lexicon terms within
    levenshtein distance <= max_dist sharing the first `prefix_len`
    chars, ranked (distance ASC, df DESC, term ASC), top_n kept.
    `inputs`: one column `input`. Same broadcast-against-lexicon shape
    as the fuzzy expander: one narrow lexicon scan, no postings touched;
    exact self-matches (distance 0) rank first, matching ES's
    suggest_mode=always behavior."""
    cand = lexicon.select("term", "df").join(
        F.broadcast(inputs.select("input").distinct()),
        (F.substring("term", 1, prefix_len)
         == F.substring("input", 1, prefix_len))
        & (F.levenshtein(F.col("term"), F.col("input")) <= max_dist),
    ).select(
        "input", F.col("term").alias("suggestion"),
        F.levenshtein(F.col("term"), F.col("input")).alias("dist"), "df",
    )
    w = Window.partitionBy("input").orderBy(
        F.asc("dist"), F.desc("df"), F.asc("suggestion")
    )
    return (
        cand.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= top_n)
        .select("input", "suggestion", "dist", "df")
    )


def _deletion_keys(col):
    """array: the string itself + every single-char deletion (the
    SymSpell distance-1 key neighborhood). Pure JVM higher-order
    transform; O(len) keys per string."""
    ln = F.length(col)
    dels = F.transform(
        F.sequence(F.lit(1), ln),
        lambda i: F.concat(col.substr(F.lit(1), i - F.lit(1)),
                           col.substr(i + F.lit(1), ln)))
    return F.array_distinct(F.concat(F.array(col), dels))


def symspell_correct(lexicon: DataFrame, inputs: DataFrame,
                     top_n: int = 1) -> DataFrame:
    """(input, suggestion, dist, df) — BATCH spell correction at edit
    distance <= 1 via the SymSpell deletion neighborhood (Garbe 2012,
    public symspell algorithm): a dictionary term d and an input s are
    within levenshtein 1 only if their {self + single-char-deletion}
    key sets intersect — s in dels(d) covers deletion, d in dels(s)
    covers insertion, a shared deletion covers substitution. Both
    sides explode O(len) keys, meet on key EQUALITY, collapse to
    candidate pairs, verify with ONE true levenshtein, rank
    (dist ASC, df DESC, term ASC), keep top_n.

    Scale story vs suggest_terms (the ES term-suggester shape, which
    broadcasts inputs against a full lexicon scan with a levenshtein
    predicate): here there is NO lexicon x inputs scan — the join is
    a plain hash equi-join whose shuffle width is total characters
    per side, so a 10^8-row misspelled query log corrects against a
    10^7-term lexicon with one bounded shuffle and no broadcast.
    Key-collision false candidates (e.g. transposed pairs, which are
    plain-levenshtein distance 2) are removed by the verify filter.
    The '' key produced by length-1 strings is how single-char
    substitutions meet; its fan-out is bounded by the alphabet.

    Reference context: Lucene/ES DirectSpellChecker builds suggestion
    candidates from an automaton walk over the term dictionary
    (suggest_mode/"did you mean", exposed by the reference's ES
    backend); SymSpell is the shuffle-friendly batch equivalent."""
    lex = lexicon.select("term", "df").filter(F.length("term") > 0)
    inp = inputs.select("input").filter(F.length("input") > 0).distinct()
    lkeys = lex.select(
        "term", "df",
        F.explode(_deletion_keys(F.col("term"))).alias("key"))
    ikeys = inp.select(
        "input",
        F.explode(_deletion_keys(F.col("input"))).alias("key"))
    # a pair can meet on several shared keys -> collapse BEFORE the
    # verify; df is functionally determined by term, max() keeps the
    # aggregation deterministic without a second join back to lex
    pairs = (lkeys.join(ikeys, "key")
             .groupBy("input", "term").agg(F.max("df").alias("df")))
    cand = (pairs
            .withColumn("dist", F.levenshtein(F.col("term"),
                                              F.col("input")).cast("long"))
            .filter(F.col("dist") <= 1))
    w = Window.partitionBy("input").orderBy(
        F.asc("dist"), F.desc("df"), F.asc("term"))
    return (cand.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= top_n)
            .select("input", F.col("term").alias("suggestion"),
                    "dist", "df"))


def intervals_match(toks: DataFrame, terms: list[str],
                    max_gaps: int = 0,
                    ordered: bool = True) -> DataFrame:
    """(doc_id, n_chains, min_width) — the ES `intervals` query's
    `match` source (public intervals-query semantics; Lucene's
    IntervalsSource): a document matches when all `terms` occur
    within a span whose total gap count (width - n_terms) is
    <= max_gaps; `ordered` additionally requires the terms to appear
    in query order. n_chains counts qualifying position tuples,
    min_width is the tightest qualifying span — the sloppy-phrase
    evidence ES scores with.

    `toks`: (term, doc_id, pos) position postings. The plan touches
    ONLY the query terms' postings (filter pushes to the scan), joins
    are doc_id EQUI-joins with position predicates as residuals —
    per-doc work is bounded by the product of the QUERY terms'
    within-doc tf (tiny), never by document length; the same pruned
    position-join shape as the phrase_match / span_near gates, and at
    full scale the same per-(doc-group) compressed kernel applies.
    Duplicate query terms are not supported in unordered mode (Lucene
    requires non-overlap there; distinct terms can never collide
    because a position holds one token)."""
    if not ordered and len(set(terms)) != len(terms):
        raise ValueError("unordered intervals require distinct terms")
    n = len(terms)
    cur = toks.filter(F.col("term") == terms[0]).select(
        "doc_id", F.col("pos").alias("p0"))
    for i, t in enumerate(terms[1:], start=1):
        ti = toks.filter(F.col("term") == t).select(
            F.col("doc_id").alias("_d"), F.col("pos").alias(f"p{i}"))
        cond = cur["doc_id"] == ti["_d"]
        if ordered:
            cond = cond & (F.col(f"p{i}") > F.col(f"p{i-1}"))
        cur = cur.join(ti, cond).drop("_d")
    ps = [F.col(f"p{i}") for i in range(n)]
    width = ((ps[0] if n == 1 else F.greatest(*ps))
             - (ps[0] if n == 1 else F.least(*ps))
             + F.lit(1)).cast("long")
    return (cur.withColumn("_w", width)
            .filter(F.col("_w") - n <= max_gaps)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_chains"),
                 F.min("_w").alias("min_width")))


def with_recency_decay(scored: DataFrame, ts_df: DataFrame, origin: str,
                       half_life_days: float, k: int | None = None,
                       ts_col: str = "ts",
                       rescore_window: int | None = None) -> DataFrame:
    """ES function_score exp-decay analog: score *= 0.5^(age/half_life),
    age in days back from `origin` (negative ages clamp to 0), then
    re-rank (score DESC, doc_id ASC). `scored`: (query_id, rank, doc_id,
    score); `ts_df`: (doc_id, ts). Rounding to 6 decimals before ranking
    keeps ranks engine-independent, like every other gated scorer.

    rescore_window=W enables Elasticsearch `rescore` semantics (the
    window_size contract): the decay re-ranks ONLY the top-W rows of the
    base ranking per query; rows below the window keep their base score
    and stay ordered after it — so the decay join touches W*|queries|
    rows instead of the full match set (ES rescores a window for exactly
    this reason at scale). W >= per-query match count makes the result
    identical to the exact path (pytest-pinned). As in ES, scores across
    the window boundary are not comparable (window scores are decayed,
    tail scores are not); rank is the total order."""
    age = F.greatest(
        F.lit(0),
        F.datediff(F.lit(origin).cast("date"), F.col(ts_col).cast("date")),
    )
    mult = F.pow(F.lit(0.5), age / F.lit(float(half_life_days)))

    # int max as the cut when k is None: decay_rerank keeps every row
    cut = F.lit(k if k is not None else 2**31 - 1)

    def decay_rerank(df: DataFrame) -> DataFrame:
        return _topk_tail(
            df.join(ts_df.select("doc_id", ts_col), "doc_id").select(
                "query_id", cut.alias("k"), "doc_id",
                (F.col("score") * mult).alias("w")),
            round_scores=6)

    if rescore_window is None:
        out = decay_rerank(scored)
    else:
        win = decay_rerank(scored.filter(F.col("rank") <= rescore_window))
        # tail keeps base score; its base ranks are already > W >= any
        # rescored rank, so the union is a consistent total order
        rest = scored.filter(F.col("rank") > rescore_window).select(
            "query_id", F.col("rank").cast("int").alias("rank"),
            "doc_id", "score",
        )
        out = win.unionByName(rest)
    if k is not None:
        out = out.filter(F.col("rank") <= k)
    return out.select("query_id", "rank", "doc_id", "score")


def more_like_this_queries(index: IndexFrames, seed_ids: DataFrame,
                           max_terms: int = 10,
                           k: int = 10) -> DataFrame:
    """(query_id, query_text, k): the ES more_like_this query builder —
    per seed doc, its `max_terms` highest tf*idf terms (rounded weight
    DESC, term ASC tie-break) joined into a disjunctive query. Feed to
    score_topk_dataframe and drop the seed from its own results."""
    seeds = seed_ids.select(F.col("doc_id").alias("_seed"))
    cand = (
        index.postings.join(
            F.broadcast(seeds), index.postings["doc_id"] == seeds["_seed"]
        )
        .join(F.broadcast(index.lexicon), "term")
        .select(
            F.col("_seed").alias("query_id"), "term",
            F.round(
                F.col("tf") * idf_col(index.n_docs, F.col("df")), 6
            ).alias("_w"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_w"), F.asc("term"))
    top = cand.withColumn("_r", F.row_number().over(w)).filter(
        F.col("_r") <= max_terms
    )
    return (
        top.groupBy("query_id")
        .agg(F.array_join(F.array_sort(F.collect_set("term")), " ")
             .alias("query_text"))
        .withColumn("k", F.lit(k))
        .select(F.col("query_id").cast("string").alias("query_id"),
                "query_text", "k")
    )


def paginate_after(scored: DataFrame, after: DataFrame,
                   page_size: int = 10) -> DataFrame:
    """ES search_after keyset pagination: for each query, the rows
    strictly AFTER the (after_score, after_doc) cursor in the canonical
    (score DESC, doc_id ASC) order, re-ranked 1..page_size. Keyset beats
    from/size offset pagination at depth: the cursor filter prunes
    instead of recount-and-discard. `after`: (query_id, after_score,
    after_doc) — the last row of the previous page."""
    out = scored.join(F.broadcast(after), "query_id").filter(
        (F.col("score") < F.col("after_score"))
        | ((F.col("score") == F.col("after_score"))
           & (F.col("doc_id") > F.col("after_doc")))
    )
    return _topk_tail(out.select("query_id", F.lit(page_size).alias("k"),
                                 "doc_id", F.col("score").alias("w")))


def facet_counts(df: DataFrame, fields: list[str], top_n: int = 10) -> DataFrame:
    """(field, value, n): ES terms-aggregation analog — top_n values per
    field by doc count (n DESC, value ASC tie-break). One groupBy per
    field, unioned; each aggregation combines map-side."""
    parts = []
    for f_ in fields:
        parts.append(
            df.groupBy(F.col(f_).cast("string").alias("value"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(f_).alias("field"), "value", "n")
        )
    allf = parts[0]
    for p in parts[1:]:
        allf = allf.unionByName(p)
    w = Window.partitionBy("field").orderBy(F.desc("n"), F.asc("value"))
    return (
        allf.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= top_n)
        .select("field", "value", "n")
    )


def expand_terms_synonyms(qdf: DataFrame, synonyms: DataFrame) -> DataFrame:
    """(query_id, query_text, k): ES query-time synonym expansion
    (synonym_graph token filter in the search analyzer): each query term
    joins the synonym table (term, variant — equivalence classes listed
    both directions, the `a, b` Solr-format expansion) and contributes
    every variant; terms with no synonym row pass through. Each variant
    then scores with its OWN df, which is exactly Lucene's expand=true
    behavior (a SynonymQuery over equal-weight term clauses).

    The synonym table is a configured artifact (tiny) — broadcast; the
    lexicon is never scanned, so expansion cost is O(|query terms|)."""
    parts = _query_parts(qdf, "^[a-z0-9]+$")
    joined = parts.join(
        F.broadcast(synonyms.select(F.col("term").alias("pat"),
                                    F.col("variant"))),
        "pat", "left",
    ).select(
        "query_id", "k",
        F.coalesce("variant", F.col("pat")).alias("term"),
    )
    # keep the original term alongside its variants (synonym rows list
    # the identity pair too in Solr format, but don't rely on it)
    orig = parts.select("query_id", "k", F.col("pat").alias("term"))
    return _expanded_query_text(joined.unionByName(orig))


def suggest_phrases(lexicon: DataFrame, bigrams: DataFrame,
                    inputs: DataFrame, max_dist: int = 1,
                    max_candidates: int = 5, top_n: int = 3) -> DataFrame:
    """ES phrase suggester analog (did-you-mean over WHOLE phrases): for
    each two-word input, per-word candidates within levenshtein
    `max_dist` of a lexicon term (exact match included) are re-ranked by
    the corpus bigram count of the corrected pair — the real-word
    bigram-LM evidence the ES phrase suggester uses (its laplace-
    smoothed LM scorer), restricted to observed bigrams.

    -> (input_id, rank, suggestion, bigram_count). Scale shape: the
    input table is tiny and broadcasts against the lexicon for candidate
    generation (same shape as expand_terms_fuzzy); candidate pairs then
    broadcast-join the corpus `bigrams` frame (gram, n) — the only big
    frame, probed by key, never crossed."""
    w12 = inputs.select(
        "input_id",
        F.split(F.lower(F.col("text")), r"\s+").alias("_p"),
    ).select(
        "input_id",
        F.col("_p").getItem(0).alias("w1"),
        F.col("_p").getItem(1).alias("w2"),
    )

    def cands(wcol: str) -> DataFrame:
        c = lexicon.select("term", "df").join(
            F.broadcast(w12.select("input_id", wcol)),
            F.levenshtein(F.col("term"), F.col(wcol)) <= max_dist,
        )
        win = Window.partitionBy("input_id", wcol).orderBy(
            F.desc("df"), F.asc("term")
        )
        return (
            c.withColumn("_rn", F.row_number().over(win))
            .filter(F.col("_rn") <= max_candidates)
            .select("input_id", F.col("term").alias(f"c_{wcol}"))
        )

    pairs = cands("w1").join(cands("w2"), "input_id").select(
        "input_id", "c_w1", "c_w2",
        F.concat_ws(" ", "c_w1", "c_w2").alias("suggestion"),
    )
    scored = pairs.join(
        bigrams.select(F.col("gram").alias("suggestion"),
                       F.col("n").alias("bigram_count")),
        "suggestion",
    )
    win = Window.partitionBy("input_id").orderBy(
        F.desc("bigram_count"), F.asc("suggestion")
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= top_n)
        .select("input_id", "rank", "suggestion", "bigram_count")
    )


def with_runtime_fields(df: DataFrame, fields: dict[str, str]) -> DataFrame:
    """ES runtime fields analog (runtime mappings: fields computed at
    SEARCH time from stored fields, queryable/aggregatable without
    reindexing): each entry is name -> SQL expression over the existing
    columns, appended as a computed column. Catalyst folds these into
    the scan projection — zero storage, and filters on runtime fields
    still push down when the expression allows (the ES runtime-field
    promise, which Spark gets for free from the optimizer). Expressions
    may reference fields defined earlier in the dict (ES allows
    runtime-field chaining)."""
    out = df
    for name, expr in fields.items():
        out = out.withColumn(name, F.expr(expr))
    return out


def nested_query(df: DataFrame, array_col: str, pred,
                 score_expr=None, score_mode: str = "none") -> DataFrame:
    """ES `nested` query analog over an array-of-struct column.

    A parent row matches when at least ONE element of `array_col`
    satisfies `pred` — every condition inside `pred` evaluates against
    the SAME element. That same-element scoping is the entire point of
    ES nested mappings: a flat (object) mapping cross-matches condition
    A on one sub-object with condition B on another (the classic false
    positive; reference docs carry nested dicts, sdk/source.py:677-679).

    `pred`: element -> boolean Column. `score_expr`: element -> numeric
    Column, combined across MATCHING elements per `score_mode` in
    ('none', 'sum', 'max', 'min', 'avg', 'count') — ES's nested query
    score_mode contract. Output adds `_nested_hits` (the matching
    elements), `n_matching`, and `nested_score` (omitted for 'none').

    Scale shape: pure higher-order JVM expressions (F.filter/aggregate)
    inside whole-stage codegen — no explode, no shuffle, no UDF; the
    parent frame's partitioning is untouched."""
    if score_mode not in ("none", "sum", "max", "min", "avg", "count"):
        raise ValueError(f"unknown nested score_mode {score_mode!r}")
    hits = F.filter(F.col(array_col), pred)
    out = (
        df.withColumn("_nested_hits", hits)
        .filter(F.size("_nested_hits") > 0)
        .withColumn("n_matching", F.size("_nested_hits").cast("long"))
    )
    if score_mode == "none":
        return out
    if score_mode == "count":
        return out.withColumn("nested_score",
                              F.col("n_matching").cast("double"))
    total = F.aggregate(
        F.col("_nested_hits"), F.lit(0.0),
        lambda acc, e: acc + score_expr(e).cast("double"),
    )
    if score_mode == "sum":
        score = total
    elif score_mode == "avg":
        score = total / F.col("n_matching")
    else:  # max / min over matching elements
        arr = F.transform(F.col("_nested_hits"),
                          lambda e: score_expr(e).cast("double"))
        score = F.array_max(arr) if score_mode == "max" else F.array_min(arr)
    return out.withColumn("nested_score", score)


AUTO_DH_LADDER = (1, 5, 10, 30, 60, 300, 600, 1800,
                  3600, 10800, 43200, 86400, 604800)


def auto_date_histogram(df: DataFrame, ts_col: str,
                        target_buckets: int = 20) -> DataFrame:
    """ES auto_date_histogram analog: the bucket INTERVAL is chosen from
    the data — smallest rung of a fixed ladder (1s..7d) such that
    span <= target_buckets * interval, falling back to whole days of
    ceil(span / target) beyond the ladder. Calendar (month/year)
    rounding is the documented delta vs ES's ladder tail.

    Two passes: an O(1) min/max agg to the driver (the interval pick is
    the ES coordinator's rounding decision — scale-free), then ONE
    map-side-combined bucket aggregation. Output: (bucket_start, n,
    interval_sec); buckets anchor at the Unix epoch."""
    import math

    row = df.agg(F.min(F.unix_timestamp(F.col(ts_col))).alias("mn"),
                 F.max(F.unix_timestamp(F.col(ts_col))).alias("mx")
                 ).collect()[0]
    if row.mn is None:
        return df.sparkSession.createDataFrame(
            [], "bucket_start timestamp, n bigint, interval_sec bigint")
    span = int(row.mx) - int(row.mn)
    iv = next((i for i in AUTO_DH_LADDER if span <= target_buckets * i),
              None)
    if iv is None:
        iv = 86400 * math.ceil(span / (target_buckets * 86400.0))
    bucket = F.timestamp_seconds(
        F.floor(F.unix_timestamp(F.col(ts_col)) / iv).cast("long") * iv)
    return (
        df.groupBy(bucket.alias("bucket_start"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("interval_sec", F.lit(iv).cast("long"))
    )


def sampler_sample(scored: DataFrame, sample_size: int,
                   diversify_field: str | None = None,
                   max_per_value: int | None = None) -> DataFrame:
    """ES sampler / diversified_sampler: restrict sub-aggregations to
    the best-scoring `sample_size` docs (deterministic: score DESC,
    doc_id ASC). `diversify_field` + `max_per_value` adds the
    diversified_sampler constraint — at most max_per_value docs per
    field value survive BEFORE the global cut, so one dominant source
    cannot flood the sample. Plan: per-value window (keyed shuffle on
    the diversify field), then orderBy().limit() =
    TakeOrderedAndProject for the global cut — never a single-task
    full-frame window."""
    order = [F.desc("score"), F.asc("doc_id")]
    out = scored
    if diversify_field is not None:
        if max_per_value is None:
            raise ValueError("diversify_field requires max_per_value")
        w = Window.partitionBy(diversify_field).orderBy(*order)
        out = (out.withColumn("_dv_rn", F.row_number().over(w))
               .filter(F.col("_dv_rn") <= max_per_value).drop("_dv_rn"))
    return out.orderBy(*order).limit(sample_size)


def ip_to_long(ip: str) -> int:
    a, b, c, d = (int(x) for x in ip.split("."))
    return (a << 24) | (b << 16) | (c << 8) | d


def ip_range_agg(df: DataFrame, ip_col: str,
                 ranges: list[tuple[str, str | None, str | None]]
                 ) -> DataFrame:
    """(range_key, n): the ES ip_range aggregation — each range is an
    INDEPENDENT bucket (overlaps allowed), `from` inclusive, `to`
    exclusive, either end open. One scan: the matching range keys are
    built as an array expression per row and exploded (ranges are few),
    so the count is a single map-side-combined agg, never one pass per
    range. Empty ranges yield no row (matches the SQL-oracle shape)."""
    parts = F.split(F.col(ip_col), r"\.")
    ipl = (parts[0].cast("long") * 16777216 + parts[1].cast("long") * 65536
           + parts[2].cast("long") * 256 + parts[3].cast("long"))
    keys = []
    for key, lo, hi in ranges:
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (ipl >= F.lit(ip_to_long(lo)))
        if hi is not None:
            cond = cond & (ipl < F.lit(ip_to_long(hi)))
        keys.append(F.when(cond, F.lit(key)))
    matched = F.filter(F.array(*keys), lambda x: x.isNotNull())
    return (
        df.select(F.explode(matched).alias("range_key"))
        .groupBy("range_key").agg(F.count(F.lit(1)).alias("n"))
    )


_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_sql(lat_expr: str, lon_expr: str, precision: int) -> str:
    """ANSI-SQL geohash encoder (public Niemeyer geohash: alternating
    lon/lat binary subdivision, base32 chars of 5 bits) — runs
    identically in Spark SQL and DuckDB, so the engine column IS the
    oracle's expression (parity by construction). Bit extraction uses
    floor-division/modulo only (no dialect bit operators)."""
    tot = 5 * precision
    lonbits = (tot + 1) // 2
    latbits = tot // 2
    lon_q = (f"least(CAST(floor((({lon_expr}) + 180.0) / 360.0 "
             f"* {1 << lonbits}) AS BIGINT), {(1 << lonbits) - 1})")
    lat_q = (f"least(CAST(floor((({lat_expr}) + 90.0) / 180.0 "
             f"* {1 << latbits}) AS BIGINT), {(1 << latbits) - 1})")
    chars = []
    li, ai = 0, 0  # consumed lon / lat bits (MSB first)
    for c in range(precision):
        val_terms = []
        for j in range(5):
            i = c * 5 + j  # global bit index; even -> lon, odd -> lat
            if i % 2 == 0:
                src, consumed, nbits = "lonq", li, lonbits
                li += 1
            else:
                src, consumed, nbits = "latq", ai, latbits
                ai += 1
            shift = nbits - 1 - consumed
            bit = f"(CAST(floor({src} / {1 << shift}) AS BIGINT) % 2)"
            val_terms.append(f"{bit} * {1 << (4 - j)}")
        idx = " + ".join(val_terms)
        chars.append(f"substr('{_GEOHASH32}', CAST(({idx}) AS INT) + 1, 1)")
    concat = " || ".join(chars)
    return (f"(SELECT {concat} FROM (SELECT {lon_q} AS lonq, "
            f"{lat_q} AS latq) _gh)")


def geohash_col(lat, lon, precision: int):
    """Column twin of geohash_sql (same formula rendered with the
    functions API; scalar-subquery syntax is not valid in a Column, so
    the quantizations inline)."""
    tot = 5 * precision
    lonbits = (tot + 1) // 2
    latbits = tot // 2
    lon_q = F.least(
        F.floor((lon + 180.0) / 360.0 * (1 << lonbits)).cast("long"),
        F.lit((1 << lonbits) - 1))
    lat_q = F.least(
        F.floor((lat + 90.0) / 180.0 * (1 << latbits)).cast("long"),
        F.lit((1 << latbits) - 1))
    alphabet = F.array(*[F.lit(ch) for ch in _GEOHASH32])
    chars = []
    li, ai = 0, 0
    for c in range(precision):
        idx = F.lit(0)
        for j in range(5):
            i = c * 5 + j
            if i % 2 == 0:
                q, consumed, nbits = lon_q, li, lonbits
                li += 1
            else:
                q, consumed, nbits = lat_q, ai, latbits
                ai += 1
            shift = nbits - 1 - consumed
            bit = F.floor(q / (1 << shift)).cast("long") % 2
            idx = idx + bit * (1 << (4 - j))
        chars.append(F.element_at(alphabet, (idx + 1).cast("int")))
    return F.concat(*chars)


def rrf_fuse(rankings: list[DataFrame], rank_k: int = 60,
             top_n: int = 20, round_to: int | None = 6) -> DataFrame:
    """(rank, doc_id, score): ES reciprocal-rank-fusion (hybrid search:
    lexical BM25 + vector ranking fused without score calibration).
    Each input frame carries (doc_id, rank); a doc scores
    sum over lists of 1 / (rank_k + rank) for the lists that retrieved
    it (absent lists contribute 0 — the ES contract). Plan: union of
    the k-row ranked lists (tiny), ONE (doc_id) agg, TakeOrdered cut —
    the fusion cost is O(lists * k), independent of corpus size."""
    u = None
    for r in rankings:
        c = r.select("doc_id",
                     (1.0 / (F.lit(float(rank_k)) + F.col("rank")))
                     .alias("_c"))
        u = c if u is None else u.unionByName(c)
    scored = u.groupBy("doc_id").agg(F.sum("_c").alias("score"))
    if round_to is not None:
        scored = scored.withColumn("score", F.round("score", round_to))
    top = scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(top_n)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)) \
        .select("rank", "doc_id", "score")


def collapse_field(scored: DataFrame, field: str,
                   top_n: int = 10) -> DataFrame:
    """(field, doc_id, score, group_size): ES field collapsing — search
    results collapse to the BEST hit per field value (score DESC,
    doc_id ASC), each carrying its group's hit count (the inner_hits
    total). One window keyed on the collapse field + a count over the
    same key, then a TakeOrdered cut of the collapsed frame."""
    order = [F.desc("score"), F.asc("doc_id")]
    w = Window.partitionBy(field).orderBy(*order)
    best = (
        scored.withColumn("_rn", F.row_number().over(w))
        .withColumn("group_size",
                    F.count(F.lit(1)).over(Window.partitionBy(field)))
        .filter(F.col("_rn") == 1).drop("_rn")
    )
    return (
        best.orderBy(*order).limit(top_n)
        .select(field, "doc_id", "score", "group_size")
    )


def score_combined_fields(
    docs: DataFrame,
    fields: list[tuple[str, float]],
    qdf: DataFrame,
    k1: float = BM25_K1,
    b: float = BM25_B,
    round_scores: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """ES `combined_fields` query — principled BM25F (Robertson et al.,
    "Simple BM25 extension to multiple weighted fields", CIKM'04; the
    documented ES semantics): the listed fields score as ONE combined
    field. Per doc: combined tf(t) = sum_f weight_f * tf_f(t), combined
    length dl = sum_f weight_f * dl_f; df(t) counts docs where t
    appears in ANY field; one idf/tf_norm over the combined stats —
    unlike multi_match most_fields (per-field statistics, summed), a
    term's idf here cannot be inflated by being rare in just one field.

    `qdf`: (query_id, query_text, k) with query_text pre-analyzed;
    distinct query terms score once each.

    Plan: fields union BEFORE any shuffle (one exploded frame), ONE
    (doc, term) agg with map-side combine builds the combined postings,
    corpus stats ride a 1-row broadcast crossJoin, query terms
    broadcast, then the shared one-exchange (query, doc) tail — the
    combined-postings agg plus the tail at any corpus size."""
    ft = None
    for col, wgt in fields:
        part = docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens_col(F.col(col))).alias("term"),
            F.lit(float(wgt)).alias("_w"),
        )
        ft = part if ft is None else ft.unionByName(part)
    tfc = ft.groupBy("doc_id", "term").agg(F.sum("_w").alias("tf"))
    dlc = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(ft.groupBy("doc_id").agg(F.sum("_w").alias("dl")),
              "doc_id", "left")
        .select("doc_id", F.coalesce("dl", F.lit(0.0)).alias("dl"))
    )
    stats = dlc.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
    )
    dfreq = tfc.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    qterms = (
        qdf.select(
            "query_id", "k",
            F.explode(tokens_col(F.col("query_text"))).alias("term"),
        ).distinct()
    )
    contrib = (
        tfc.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfreq.join(
            F.broadcast(qterms.select("term").distinct()), "term")), "term")
        .join(dlc, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id", "k", "doc_id",
            (idf_col(F.col("n"), F.col("df"))
             * tf_norm_col(F.col("tf"), F.col("dl"), F.col("avgdl"), k1, b)
             ).alias("w"),
        )
    )
    return _topk_tail(contrib, round_scores=round_scores)


def rank_eval(ranked: DataFrame, judgments: DataFrame, k: int,
              round_to: int = 6) -> DataFrame:
    """ES `_rank_eval` API analog: ranking-quality metrics for a ranked
    result set against relevance judgments.

    `ranked`: (query_id, rank, doc_id, ...) — any scorer's output.
    `judgments`: (query_id, doc_id, rel) with rel > 0 marking relevant.
    -> per query: precision@k, recall@k (denominator = judged relevant
    per query, ES's recall definition), MRR (reciprocal rank of the
    first relevant hit, 0 if none) and NDCG@k (binary-gain DCG over
    log2(rank+1), ideal DCG from min(k, n_relevant)).

    One broadcast judgment join + one (query) agg: metric math is JVM
    expressions (idcg via a higher-order aggregate over sequence), so
    evaluation scales with the result set, not the corpus."""
    j = judgments.filter(F.col("rel") > 0).select(
        "query_id", "doc_id", F.lit(1.0).alias("rel"))
    nrel = j.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_rel"))
    hits = ranked.join(F.broadcast(j), ["query_id", "doc_id"], "left") \
        .withColumn("rel", F.coalesce("rel", F.lit(0.0)))
    perq = hits.groupBy("query_id").agg(
        F.sum("rel").alias("_nh"),
        F.min(F.when(F.col("rel") > 0, F.col("rank"))).alias("_fr"),
        F.sum(F.when(F.col("rel") > 0,
                     1.0 / F.log2(F.col("rank") + 1)).otherwise(0.0))
        .alias("_dcg"),
    )
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.least(F.lit(k), F.col("n_rel"))),
        F.lit(0.0),
        lambda acc, i: acc + 1.0 / F.log2(i.cast("double") + 1.0),
    )
    return (
        perq.join(F.broadcast(nrel), "query_id", "left")
        .select(
            "query_id",
            F.round(F.col("_nh") / k, round_to).alias("precision_k"),
            F.round(F.coalesce(F.col("_nh") / F.col("n_rel"), F.lit(0.0)),
                    round_to).alias("recall_k"),
            F.round(F.coalesce(1.0 / F.col("_fr"), F.lit(0.0)),
                    round_to).alias("mrr"),
            F.round(
                F.coalesce(F.col("_dcg") / F.nullif(idcg, F.lit(0.0)),
                           F.lit(0.0)), round_to).alias("ndcg_k"),
        )
    )


def parse_wrapper_query(b64_payload: str) -> list[dict]:
    """ES `wrapper` query: a base64-encoded JSON query executed as if it
    had been sent inline (the SDK/client escape hatch). We decode on the
    driver — exactly where ES's coordinating node parses it — validate,
    and hand the inner `bool` spec(s) to score_bool_topk. Only the bool
    shape is accepted here; anything else raises (strict like ES's
    parser, which rejects unknown query names).

    Accepts either one object or a list; each object:
    {"query_id", "bool": {"must"/"should"/"must_not"/"filter": "terms...",
     "minimum_should_match": int}, "k": int}.
    """
    import base64
    import json

    decoded = json.loads(base64.b64decode(b64_payload).decode("utf-8"))
    if isinstance(decoded, dict):
        decoded = [decoded]
    out = []
    for q in decoded:
        if not isinstance(q, dict) or "bool" not in q:
            raise ValueError(f"wrapper payload is not a bool query: {q!r}")
        spec = q["bool"]
        unknown = set(spec) - {"must", "should", "must_not", "filter",
                               "minimum_should_match"}
        if unknown:
            raise ValueError(f"unknown bool clauses: {sorted(unknown)}")
        row = {"query_id": str(q.get("query_id", f"w{len(out)}")),
               "k": int(q.get("k", 10))}
        for role in ("must", "should", "must_not", "filter"):
            if role in spec:
                row[role] = str(spec[role])
        if "minimum_should_match" in spec:
            row["minimum_should_match"] = int(spec["minimum_should_match"])
        out.append(row)
    return out


def rescore_window(index: IndexFrames, qdf: DataFrame,
                   rescore_qdf: DataFrame,
                   window_size: int = 30,
                   query_weight: float = 1.0,
                   rescore_query_weight: float = 1.0,
                   k1: float = BM25_K1, b: float = BM25_B,
                   round_scores: int | None = None) -> DataFrame:
    """(query_id, rank, doc_id, score): ES `rescore` (score_mode=total).

    Two-pass ranking, the classic cheap-retrieval / expensive-rerank
    split: pass 1 ranks the full corpus with BM25 and keeps the top
    `window_size` candidates per query; pass 2 evaluates the (more
    expensive) rescore query ONLY on those candidates and combines
      final = query_weight * first + rescore_query_weight * second
    (missing second-pass match contributes 0, like ES). Docs outside
    the window are never rescored, so top-k must satisfy k <= window.

    Scale shape: the candidate set is |Q| * window rows — broadcast it
    and join it into the second-pass contribution stream BEFORE the
    (query, doc) aggregation, so pass 2's shuffle carries only
    candidate rows no matter the corpus size. Pass 1 is the standard
    distinct-term-weight pipeline; the combined ranking reuses its
    query_id partitioning in the shared tail.
    Reference analog: ES search `rescore` block
    (svc searches delegate the DSL unchanged, svc/es/sink.py).
    """
    first = score_topk_dataframe(
        index, qdf.withColumn("k", F.lit(int(window_size))),
        k1=k1, b=b, round_scores=round_scores,
    ).select("query_id", "doc_id", F.col("score").alias("_s1"))

    qterms2 = query_terms(rescore_qdf)
    dterms2 = qterms2.select("term").distinct()
    tw2 = _distinct_term_weights(index, dterms2, k1, b)
    contrib2 = (
        tw2.join(F.broadcast(qterms2), "term")
        .select("query_id", "doc_id", "w")
        # candidate restriction BEFORE the agg: pass-2 shuffle is
        # bounded by |Q| * window even at full-corpus postings
        .join(F.broadcast(first.select("query_id", "doc_id")),
              ["query_id", "doc_id"])
    )
    second = contrib2.groupBy("query_id", "doc_id").agg(
        F.sum("w").alias("_s2"))
    if round_scores is not None:
        second = second.withColumn("_s2", F.round("_s2", round_scores))
    kmap = qdf.select("query_id", "k").distinct()
    combined = (
        # second is candidate-restricted => <= |Q| * window rows; the
        # combine join broadcasts it regardless of corpus size
        first.join(F.broadcast(second), ["query_id", "doc_id"], "left")
        .join(F.broadcast(kmap), "query_id")
        .select(
            "query_id", "k", "doc_id",
            (F.lit(float(query_weight)) * F.col("_s1")
             + F.lit(float(rescore_query_weight))
             * F.coalesce(F.col("_s2"), F.lit(0.0))).alias("w"))
    )
    # first is already partitioned by query_id: the tail adds no exchange
    return _topk_tail(combined, round_scores=round_scores)


def score_cross_fields(indexes: list[tuple[IndexFrames, float]],
                       qdf: DataFrame,
                       k1: float = BM25_K1, b: float = BM25_B,
                       tie_breaker: float = 0.0,
                       round_scores: int | None = None) -> DataFrame:
    """(query_id, rank, doc_id, score): ES multi_match
    type=cross_fields — TERM-centric blending, the mode for entities
    split across fields (first/last name, title/body): every query term
    must be found in SOME field, and per term the fields compete.

    Semantics (Lucene BlendedTermQuery, simplified and documented):
    - blended document frequency per term: max(df_field) across fields
      (one shared idf per term — the fields act as one virtual field,
      so a term common in ANY field is discounted everywhere);
    - per (term, doc): tf-normalization computed per field with that
      field's dl/avgdl, boost applied, then dis_max across fields
      (tie_breaker * losers added; default 0 = pure max);
    - per (query, doc): blended-idf-weighted term scores SUM.

    Plan: per-field postings joined to the broadcast distinct-term set,
    dl through the shared `_with_dl` gate, unioned with a field tag, ONE
    (term, doc) dis_max agg, broadcast blended-df join, broadcast
    query-term expansion, then the shared one-exchange (query, doc)
    tail — both shuffles on pruned rows."""
    qterms = query_terms(qdf)
    dterms = qterms.select("term").distinct()
    n_docs = indexes[0][0].n_docs
    dfs = None
    for idx, _ in indexes:
        s = idx.lexicon.join(F.broadcast(dterms), "term").select("term", "df")
        dfs = s if dfs is None else dfs.unionByName(s)
    df_blend = dfs.groupBy("term").agg(F.max("df").alias("df_blend"))
    per_field = None
    for idx, boost in indexes:
        matched = _with_dl(idx, idx.postings.join(F.broadcast(dterms), "term"))
        c = matched.select(
            "term", "doc_id",
            (tf_norm_col(F.col("tf"), F.col("dl"), idx.avgdl, k1, b)
             * F.lit(float(boost))).alias("tfn"),
        )
        per_field = c if per_field is None else per_field.unionByName(c)
    td = per_field.groupBy("term", "doc_id").agg(
        (F.max("tfn")
         + F.lit(float(tie_breaker)) * (F.sum("tfn") - F.max("tfn"))
         ).alias("tfn")
    )
    td = td.join(F.broadcast(df_blend), "term").select(
        "term", "doc_id",
        (idf_col(n_docs, F.col("df_blend")) * F.col("tfn")).alias("w"),
    )
    contrib = td.join(F.broadcast(qterms), "term").select(
        "query_id", "k", "doc_id", "w")
    return _topk_tail(contrib, round_scores=round_scores)


def collapse_inner_hits(scored: DataFrame, field: str,
                        inner_n: int = 3, top_groups: int = 5) -> DataFrame:
    """ES field collapsing WITH inner_hits: instead of only the best hit
    per group (collapse_field), return the top `inner_n` hits inside
    each of the best `top_groups` groups, each row carrying its group's
    total hit count and the group's rank. Groups rank by their best
    hit (score DESC, doc_id ASC) — the ES collapse sort.

    Scale shape: the inner window is PARTITIONED by the collapse field;
    the group ranking runs on the one-row-per-group best frame via
    orderBy().limit() (TakeOrderedAndProject) and joins back broadcast —
    no unpartitioned window anywhere."""
    order = [F.desc("score"), F.asc("doc_id")]
    w = Window.partitionBy(field).orderBy(*order)
    per = (
        scored.withColumn("inner_rank", F.row_number().over(w))
        .filter(F.col("inner_rank") <= inner_n)
    )
    sizes = scored.groupBy(field).agg(
        F.count(F.lit(1)).alias("group_size"))
    best = (
        per.filter(F.col("inner_rank") == 1)
        .select(field, F.col("score").alias("_bs"),
                F.col("doc_id").alias("_bd"))
        .orderBy(F.desc("_bs"), F.asc("_bd")).limit(top_groups)
    )
    gw = Window.orderBy(F.desc("_bs"), F.asc("_bd"))
    gr = best.withColumn("group_rank", F.row_number().over(gw))
    return (
        per.join(F.broadcast(gr.select(field, "group_rank")), field)
        .join(F.broadcast(sizes), field)
        .select(field, "group_rank", "inner_rank", "doc_id", "score",
                "group_size")
    )


def expand_query_graph(
    queries: list[tuple[str, str]],
    rules: list[tuple[str, str]],
) -> list[tuple[str, int, str]]:
    """Multi-word synonym_graph expansion (Lucene's graph token filter
    at query time): each rule maps a source PHRASE to a replacement
    phrase; a rule whose tokens appear consecutively in the query
    yields one alternative PATH with the phrase replaced. Returns
    (query_id, path_idx, path_text) with path 0 = the original query —
    one rule application per path (the common single-rewrite case;
    Lucene's full graph would take the cartesian product over
    non-overlapping matches).

    Driver-side on purpose: the query set and rule set are bounded
    configured artifacts (same boundedness as the synonym table the
    single-token expander broadcasts); nothing here touches the corpus.
    """
    out = []
    for qid, text in queries:
        toks = [t for t in text.lower().split() if t]
        out.append((qid, 0, " ".join(toks)))
        p = 1
        for src, dst in rules:
            s = [t for t in src.lower().split() if t]
            for i in range(len(toks) - len(s) + 1):
                if toks[i:i + len(s)] == s:
                    variant = toks[:i] + dst.lower().split() \
                        + toks[i + len(s):]
                    out.append((qid, p, " ".join(variant)))
                    p += 1
    return out


def score_topk_graph(
    index: "IndexFrames",
    spark: SparkSession,
    queries: list[tuple[str, str]],
    rules: list[tuple[str, str]],
    k: int,
    round_scores: int = 6,
) -> DataFrame:
    """BM25 over a synonym_graph-expanded query: every path scores
    independently (each path is one SHOULD clause of the rewritten
    BooleanQuery, Lucene's graph-query decomposition), per-doc scores
    SUM over matching paths, final top-k ranks the combined score.
    Per-path scoring reuses the distinct-term pipeline; the path
    count is bounded by the rule set, so the extra cost is one more
    shared (query, doc) tail over the path rows — no new scan."""
    paths = expand_query_graph(queries, rules)
    pqdf = queries_df(spark, [
        {"query_id": f"{qid}\x1f{p}", "query_text": text,
         "k": 1_000_000_000}
        for qid, p, text in paths
    ])
    per_path = score_topk_dataframe(
        index, pqdf, round_scores=round_scores)
    rows = per_path.select(
        F.split(F.col("query_id"), "\x1f").getItem(0).alias("query_id"),
        F.lit(k).alias("k"), "doc_id", F.col("score").alias("w"))
    return _topk_tail(rows, round_scores=round_scores)


def ipv4_to_long_col(col: Column) -> Column:
    """Dotted-quad string -> uint32-as-long (JVM split + arithmetic)."""
    parts = F.split(col, r"\.")
    return (parts[0].cast("long") * 16777216
            + parts[1].cast("long") * 65536
            + parts[2].cast("long") * 256 + parts[3].cast("long"))


def parse_cidr(cidr: str) -> tuple[int, int]:
    """(masked_base, mask) for an IPv4 CIDR literal — computed driver-
    side once (the CIDR is a query constant), validated via stdlib."""
    import ipaddress

    net = ipaddress.ip_network(cidr, strict=False)
    if net.version != 4:
        raise ValueError(f"only IPv4 CIDRs supported, got {cidr!r}")
    mask = int(net.netmask)
    return int(net.network_address) & mask, mask


def cidr_match(col: Column, cidr: str) -> Column:
    """ES term-query-on-ip-field semantics: does the dotted-quad string
    in `col` fall inside `cidr`? Pure JVM bit math — (ip & mask) ==
    masked_base — usable as a pushable filter or a SELECT flag."""
    base, mask = parse_cidr(cidr)
    return ipv4_to_long_col(col).bitwiseAND(F.lit(mask)) == F.lit(base)


def cidr_match_sql(expr: str, cidr: str) -> str:
    """DuckDB twin generated from the SAME parse (oracle-parity
    convention): expr is a dotted-quad VARCHAR expression."""
    base, mask = parse_cidr(cidr)
    ipl = (f"(CAST(split_part({expr}, '.', 1) AS BIGINT) * 16777216 "
           f"+ CAST(split_part({expr}, '.', 2) AS BIGINT) * 65536 "
           f"+ CAST(split_part({expr}, '.', 3) AS BIGINT) * 256 "
           f"+ CAST(split_part({expr}, '.', 4) AS BIGINT))")
    return f"(({ipl} & {mask}) = {base})"


def rank_biased_overlap(run_a: DataFrame, run_b: DataFrame, k: int = 10,
                        p: float = 0.9,
                        query_col: str = "query_id",
                        rank_col: str = "rank",
                        id_col: str = "vec_id") -> DataFrame:
    """Truncated Rank-Biased Overlap (Webber, Moffat & Zobel, TOIS 2010)
    between two top-k runs of the same query set — the top-weighted
    rank-similarity audit behind this repo's rank-identity claims:
    quantifies how much a cheaper ranking (pruned index, truncated
    embedding, quantized scorer) disagrees with the exact one, weighting
    the head of the list most.

        RBO@k = (1-p)/(1-p^k) * sum_{d=1..k} p^(d-1) * |A_d n B_d| / d

    Determinism: a doc matched at ranks (ra, rb) contributes to every
    depth d >= max(ra, rb), so its total weight is the suffix sum
    S_m = sum_{d>=m} w_d with w_d = round(p^(d-1)*1e6) * (2520 // d) —
    2520 = lcm(1..10) clears the /d, making every per-match contribution
    an exact INTEGER. Per query the integer sum is scaled once by the
    same shared double constant, so both engines produce bit-identical
    rbo values (same convention as mmr_rerank's micro-unit greedy).

    Returns (query_id, overlap_at_k, rbo) — one row per query present
    in run_a (queries with zero agreement get rbo 0.0).

    Scale shape: one (query, doc) equi-join between two k-row-per-query
    frames, a broadcast-free bounded groupBy, and a k-entry literal
    lookup array — nothing grows with corpus size, only with |queries|*k.
    """
    suffix1, scale = rbo_suffix_weights(k, p)
    a = run_a.select(F.col(query_col).alias("query_id"),
                     F.col(id_col).alias("doc"),
                     F.col(rank_col).alias("ra")).filter(F.col("ra") <= k)
    b = run_b.select(F.col(query_col).alias("query_id"),
                     F.col(id_col).alias("doc"),
                     F.col(rank_col).alias("rb")).filter(F.col("rb") <= k)
    s_arr = F.array(*[F.lit(s) for s in suffix1])
    matches = (a.join(b, ["query_id", "doc"])
               .select("query_id",
                       F.element_at(
                           s_arr,
                           F.greatest("ra", "rb").cast("int"))
                       .alias("s")))
    agg = matches.groupBy("query_id").agg(
        F.sum("s").alias("n_u"),
        F.count(F.lit(1)).alias("overlap_at_k"))
    universe = run_a.select(F.col(query_col).alias("query_id")).distinct()
    out = (universe.join(agg, "query_id", "left")
           .fillna(0, ["n_u", "overlap_at_k"]))
    return out.select(
        "query_id",
        F.col("overlap_at_k").cast("int").alias("overlap_at_k"),
        F.round(F.col("n_u").cast("double") * F.lit(scale), 6).alias("rbo"))


def rbo_suffix_weights(k: int, p: float) -> tuple[list[int], float]:
    """The (suffix-sum integer weights, shared double scale) pair used by
    rank_biased_overlap — exposed so the DuckDB twin embeds the IDENTICAL
    literals (python computes once, both engines consume)."""
    import math as _math

    if k > 10:
        lcm = 1
        for d in range(1, k + 1):
            lcm = lcm * d // _math.gcd(lcm, d)
    else:
        lcm = 2520
    w = [int(round(p ** (d - 1) * 1e6)) * (lcm // d)
         for d in range(1, k + 1)]
    suffix = [0] * (k + 2)
    for d in range(k, 0, -1):
        suffix[d] = suffix[d + 1] + w[d - 1]
    scale = (1.0 - p) / (1.0 - p ** k) / (1e6 * lcm)
    return suffix[1:k + 1], scale


def ltr_feature_log(index: IndexFrames, qdf: DataFrame,
                    k1: float = None, b: float = None,
                    round_to: int = 6) -> DataFrame:
    """Learning-to-rank feature logging — ES's LTR integration logs a
    feature vector for every (query, candidate-doc) pair of a judgment
    list so an external ranker can be trained (Elasticsearch "Learning
    To Rank" docs, public): the candidate set here is the BM25 top-k
    (the standard first-stage sampler; per-query k rides qdf's k
    column, the scorer convention).

    Per (query_id, doc_id): rank and BM25 score (the first-stage
    ranker), n_matched (distinct query terms present), tf_sum (total
    matched-term frequency), dl (doc length), idf_sum (sum of matched
    terms' idf). idf_sum follows the integer micro-unit convention
    (each term's idf rounds to 6 then lifts to an exact int before the
    sum) so per-doc sums cannot drift with aggregation order.

    Scale shape: rides the scorer's plan (one postings scan, query
    terms broadcast), one extra map-side-combinable (query, doc) agg,
    and dl through the shared `_with_dl` gate. The feature frame is
    |queries| * k rows.
    """
    k1 = BM25_K1 if k1 is None else k1
    b = BM25_B if b is None else b
    topk = score_topk_dataframe(index, qdf, k1=k1, b=b,
                                round_scores=round_to)
    qt = query_terms(qdf).select("query_id", "term")
    idf_u = F.round(
        F.round(idf_col(index.n_docs, F.col("df")), round_to) * 1e6
    ).cast("long")
    lex = index.lexicon.join(F.broadcast(qt.select("term").distinct()),
                             "term").select("term", idf_u.alias("idf_u"))
    matched = (index.postings.join(F.broadcast(qt), "term")
               .join(F.broadcast(lex), "term"))
    feats = matched.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).alias("n_matched"),
        F.sum("tf").alias("tf_sum"),
        F.sum("idf_u").alias("idf_u_sum"))
    return (_with_dl(index, topk.join(feats, ["query_id", "doc_id"]))
            .select("query_id", "rank", "doc_id", "score",
                    F.col("n_matched").cast("int").alias("n_matched"),
                    F.col("tf_sum").cast("long").alias("tf_sum"),
                    F.col("dl").cast("long").alias("dl"),
                    F.round(F.col("idf_u_sum").cast("double") / 1e6,
                            round_to).alias("idf_sum")))


def query_performance_predict(index: IndexFrames, qdf: DataFrame,
                              round_to: int = 6) -> DataFrame:
    """Pre-retrieval query-performance prediction (He & Ounis, SPIRE
    2004; Cronen-Townsend's clarity family — public IR literature): the
    difficulty signals a query router/planner reads BEFORE retrieval to
    pick k, timeout, or an expansion strategy. Per query:

        n_terms    distinct analyzed terms
        n_indexed  of those, how many exist in the lexicon
        max_idf, avg_idf, sum_idf  (specificity — low = stop-word-ish)
        scope      |docs matching ANY term| / N  (He-Ounis query scope,
                   the classic predictor: broad queries are hard)

    idf values round to 6 then lift to micro-unit integers before
    aggregation (order-proof sums); scope is one integer division.

    Scale shape: query terms broadcast against the lexicon (O(|q|)
    rows back), and scope counts distinct doc_ids over ONLY the
    matched postings slice — one combine-friendly agg keyed by query,
    never a corpus scan beyond the posting rows the terms touch.
    """
    qt = query_terms(qdf).select("query_id", "term")
    n_terms = qt.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_terms"))
    idf_u = F.round(
        F.round(idf_col(index.n_docs, F.col("df")), round_to) * 1e6
    ).cast("long")
    lex = index.lexicon.select("term", idf_u.alias("idf_u"))
    matched_lex = qt.join(F.broadcast(lex), "term")
    idf_stats = matched_lex.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_indexed"),
        F.max("idf_u").alias("max_u"),
        F.sum("idf_u").alias("sum_u"))
    matched_docs = (index.postings.join(F.broadcast(qt), "term")
                    .groupBy("query_id")
                    .agg(F.count_distinct("doc_id").alias("n_match")))
    out = (n_terms.join(idf_stats, "query_id", "left")
           .join(matched_docs, "query_id", "left")
           .fillna(0, ["n_indexed", "max_u", "sum_u", "n_match"]))
    return out.select(
        "query_id",
        F.col("n_terms").cast("int").alias("n_terms"),
        F.col("n_indexed").cast("int").alias("n_indexed"),
        F.round(F.col("max_u").cast("double") / 1e6,
                round_to).alias("max_idf"),
        F.round(F.when(F.col("n_indexed") > 0,
                       F.col("sum_u").cast("double")
                       / (F.col("n_indexed") * 1e6))
                .otherwise(F.lit(0.0)), round_to).alias("avg_idf"),
        F.round(F.col("sum_u").cast("double") / 1e6,
                round_to).alias("sum_idf"),
        F.round(F.col("n_match").cast("double") / F.lit(index.n_docs),
                round_to).alias("scope"))


def prf_expansion_terms(index: IndexFrames, qdf: DataFrame,
                        fb_docs: int = 10, fb_terms: int = 10,
                        round_to: int = 6) -> DataFrame:
    """RM3-style pseudo-relevance-feedback expansion terms (Lavrenko &
    Croft, SIGIR 2001 relevance models; Abdul-Jaleel et al., TREC 2004
    "UMass at TREC 2004" RM3 — public IR literature). The expansion
    stage a retrieval stack runs when `query_difficulty_predict` says a
    query is broad: retrieve the top `fb_docs` feedback documents with
    the first-stage BM25 ranker, estimate the relevance model

        P(w | R)  ∝  Σ_{d ∈ topD(q)}  P(q | d) · P(w | d)

    with P(q|d) taken as the doc's (rounded) BM25 score and
    P(w|d) = tf(w,d) / dl(d), and report the top `fb_terms` candidate
    expansion terms per query. Original query terms are excluded from
    the report — RM3's interpolation with the original query happens at
    requery time (feed these terms back through
    `score_topk_dataframe(qterms_override=...)` with boosts).

    Determinism: both factors lift to micro-unit INTEGERS before the
    sum — s_u = round(score,6)·1e6 (already integral after the scorer's
    rounding) and p_u = round(round(tf/dl, 6)·1e6) (the idf_u house
    pattern) — so per-term weights are exact int64 sums (≤ ~2e13 per
    contribution) and cannot drift with aggregation order; ranking ties
    break (weight DESC, term ASC). Reported weight = w_u / 1e12.

    Scale shape: rides the bulk scorer's one-exchange plan (one postings
    scan, query terms broadcast) for the feedback stage; the feedback set
    (|queries|·fb_docs rows, with dl attached by broadcasting it into a
    column-pruned docs scan) is BROADCAST into a second postings join,
    so candidate generation touches only the feedback docs' posting
    rows; one combine-friendly (query, term) agg + a query-partitioned
    top-N window whose group width is bounded by fb_docs·max(dl), never
    corpus-sized.
    """
    fbq = qdf.select("query_id", "query_text").withColumn(
        "k", F.lit(int(fb_docs)))
    top = score_topk_dataframe(index, fbq, round_scores=round_to)
    s_u = F.round(F.col("score") * 1e6).cast("long")
    top_u = top.select("query_id", "doc_id", s_u.alias("s_u"))
    fb = (index.docs.select("doc_id", "dl")
          .join(F.broadcast(top_u), "doc_id"))
    p_u = F.round(
        F.round(F.col("tf").cast("double") / F.col("dl"), round_to) * 1e6
    ).cast("long")
    cand = (index.postings.join(F.broadcast(fb), "doc_id")
            .select("query_id", "term",
                    (F.col("s_u") * p_u).alias("c_u")))
    weights = cand.groupBy("query_id", "term").agg(
        F.sum("c_u").alias("w_u"))
    qt = query_terms(qdf).select("query_id", "term")
    weights = weights.join(F.broadcast(qt), ["query_id", "term"],
                           "left_anti")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("w_u"), F.asc("term"))
    return (weights.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= int(fb_terms))
            .select("query_id",
                    F.col("rank").cast("int").alias("rank"), "term",
                    F.round(F.col("w_u").cast("double") / 1e12,
                            round_to).alias("weight")))


def prf_requery_topk(index: IndexFrames, qdf: DataFrame,
                     fb_docs: int = 10, fb_terms: int = 10,
                     orig_weight: float = 0.5, round_to: int = 6) -> DataFrame:
    """(query_id, rank, doc_id, score): the RM3 second pass — rerun
    retrieval with the relevance-model expansion terms interpolated
    into the query (Abdul-Jaleel et al. 2004; the requery Anserini's
    RM3 runs after `prf_expansion_terms`' estimation stage). Term
    boosts:

        original term t:   orig_weight / n_q          (uniform MLE)
        expansion term t:  (1-orig_weight) · w_t / Σw  (RM mass over
                           the top fb_terms NOVEL terms — original
                           terms keep only their query-side mass,
                           matching prf_expansion_terms' report)

    then one boosted pass through `score_topk_dataframe`
    (qterms_override), k from qdf as usual.

    Determinism: both boost families are a SINGLE division of exact
    integers rounded once to `round_to` — n_q is a count, and the RM
    mass divides the micro-unit integer weights w_u by their integer
    sum (weights from prf_expansion_terms are exact multiples of 1e-6,
    so w_u = round(weight·1e6) recovers the int64 exactly). Final
    scores round to `round_to` before ranking (ties: score DESC,
    doc_id ASC), the house convention every BM25 gate relies on.

    Scale shape: the estimation stage rides prf_expansion_terms' plan;
    the requery is the bulk scorer's one-exchange plan with a
    ≤ |q|·(n_q+fb_terms)-row broadcast qterms table — nothing new
    shuffles.
    """
    exp = prf_expansion_terms(index, qdf, fb_docs=fb_docs,
                              fb_terms=fb_terms, round_to=round_to)
    w_u = F.round(F.col("weight") * 1e6).cast("long")
    exp_u = exp.select("query_id", "term", w_u.alias("w_u"))
    tot = exp_u.groupBy("query_id").agg(F.sum("w_u").alias("tot_u"))
    exp_boost = (exp_u.join(F.broadcast(tot), "query_id")
                 .select("query_id", "term",
                         F.round(F.lit(1.0 - orig_weight)
                                 * F.col("w_u") / F.col("tot_u"),
                                 round_to).alias("boost")))
    qt = query_terms(qdf)
    n_q = qt.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_q"))
    orig_boost = (qt.select("query_id", "term")
                  .join(F.broadcast(n_q), "query_id")
                  .select("query_id", "term",
                          F.round(F.lit(orig_weight) / F.col("n_q"),
                                  round_to).alias("boost")))
    ks = qdf.select("query_id", "k")
    override = (orig_boost.unionByName(exp_boost)
                .join(F.broadcast(ks), "query_id")
                .select("query_id", "k", "term", "boost"))
    return score_topk_dataframe(index, qdf, round_scores=round_to,
                                qterms_override=override)


def score_topk_lm(index: IndexFrames, qdf: DataFrame,
                  similarity: str = "dirichlet", mu: float = 2000.0,
                  lam: float = 0.1, round_to: int = 6) -> DataFrame:
    """(query_id, rank, doc_id, score): top-k under ES's pluggable
    language-model similarities (the `"similarity": {"type":
    "LMDirichlet"|"LMJelinekMercer"}` index setting; Lucene
    LMDirichletSimilarity / LMJelinekMercerSimilarity, Zhai & Lafferty
    2001). Per matched (term, doc) posting, with p(w|C) =
    ctf(w)/|C| (collection term frequency over total token count):

        dirichlet: log(1 + tf·|C|/(μ·ctf)) + log(μ/(dl+μ)),
                   clamped at 0 (Lucene's `score > 0 ? score : 0`)
        jm:        log(1 + (1-λ)·tf·|C| / (λ·dl·ctf))

    Like Lucene, only MATCHED postings score — the missing-term
    collection prior is not added (rank-equivalent per Zhai's
    decomposition; absolute scores match Lucene, not raw LM).

    Determinism: each contribution rounds to `round_to` and lifts to
    micro-unit int64 before the (query, doc) sum — aggregation-order
    proof; ties (score DESC, doc_id ASC).

    Scale shape: the shared similarity plan — `_matched_term_stats`
    (query terms broadcast, ctf = its per-term ttf from one
    map-side-combinable agg over the MATCHED postings slice, dl through
    the `_with_dl` gate), then `_micro_topk`'s one-exchange tail. |C| is
    one scalar action over the doc map (`_total_tokens`).
    """
    if similarity not in ("dirichlet", "jm"):
        raise ValueError(f"unknown LM similarity: {similarity!r}")
    total = _total_tokens(index)
    matched, qterms = _matched_term_stats(index, qdf)
    tf, dl, c = F.col("tf"), F.col("dl"), F.col("ttf")
    if similarity == "dirichlet":
        s = (F.log(F.lit(1.0) + tf * F.lit(total)
                   / (F.lit(float(mu)) * c))
             + F.log(F.lit(float(mu)) / (dl + F.lit(float(mu)))))
        s = F.greatest(s, F.lit(0.0))
    else:
        s = F.log(F.lit(1.0) + (F.lit(1.0 - lam) * tf * F.lit(total))
                  / (F.lit(float(lam)) * dl * c))
    return _micro_topk(matched, s, qterms, round_to)


def score_topk_dfi(index: IndexFrames, qdf: DataFrame,
                   measure: str = "standardized",
                   round_to: int = 6) -> DataFrame:
    """(query_id, rank, doc_id, score): ES `"similarity": {"type":
    "DFI"}` top-k (Lucene DFISimilarity; Kocabas, Dincer & Karaoglan
    2014 divergence-from-independence). Per matched posting, with
    expected tf under independence e = ctf(w)·dl/|C|:

        tf <= e      -> 0      (Lucene's early return)
        standardized -> log2(1 + (tf-e)/sqrt(e))
        saturated    -> log2(1 + (tf-e)/e)
        chisquared   -> log2(1 + (tf-e)²/e)

    (the three `independence_measure` options ES exposes). Per-posting
    contributions round to `round_to` and lift to micro-unit int64
    before the (query, doc) sum — aggregation-order-proof; ties
    (score DESC, doc_id ASC).

    Scale shape: identical to score_topk_lm — `_matched_term_stats`
    (ctf is its ttf), then `_micro_topk`'s one-exchange tail.
    """
    if measure not in ("standardized", "saturated", "chisquared"):
        raise ValueError(f"unknown DFI independence measure: {measure!r}")
    total = _total_tokens(index)
    matched, qterms = _matched_term_stats(index, qdf)
    tf = F.col("tf").cast("double")
    # ctf lifts to double BEFORE the dl product: long*long would
    # overflow for a stop-word-class term at 10^9+ docs
    e = F.col("ttf").cast("double") * F.col("dl") / F.lit(total)
    if measure == "standardized":
        ind = (tf - e) / F.sqrt(e)
    elif measure == "saturated":
        ind = (tf - e) / e
    else:
        ind = (tf - e) * (tf - e) / e
    s = F.when(tf > e, F.log2(F.lit(1.0) + ind)).otherwise(F.lit(0.0))
    return _micro_topk(matched, s, qterms, round_to)


def _micro_topk(matched: DataFrame, s, qterms: DataFrame,
                round_to: int) -> DataFrame:
    """Shared tail of every pluggable-similarity scorer: round the
    per-posting contribution `s` to `round_to`, lift to micro-unit
    int64 (aggregation-order-proof sums), then `_topk_tail` over the
    integer sums. The score round(sum_u / 1e6, round_to) is strictly
    increasing in sum_u, so ranking by it is ranking by the exact
    integer sum, ties (score DESC, doc_id ASC)."""
    s_u = F.round(F.round(s, round_to) * 1e6).cast("long")
    tw = matched.select("term", "doc_id", s_u.alias("s_u"))
    contrib = tw.join(F.broadcast(qterms), "term").select(
        "query_id", "k", "doc_id", "s_u")
    return _topk_tail(
        contrib, F.round(F.sum("s_u").cast("double") / 1e6, round_to))


def _total_tokens(index: IndexFrames) -> float:
    """|C|, the collection's total token count: Σ dl over the doc map,
    0 on an empty index. Taken from `docs`, not n_docs * avgdl:
    with_lossy_norms quantizes dl but keeps the exact avgdl."""
    return float(index.docs.agg(F.sum("dl")).collect()[0][0] or 0)


def _matched_term_stats(index: IndexFrames, qdf: DataFrame):
    """(matched, qterms): postings sliced to the distinct query terms,
    annotated with per-term df_t + ttf (one map-side-combinable agg over
    the matched slice — global per term since postings hold every doc
    of a term) and per-doc dl (`_with_dl`). The scorer broadcast plan
    shared by the LM / DFI / DFR / IB / scripted similarity family."""
    qterms = query_terms(qdf)
    dterms = qterms.select("term").distinct()
    matched = index.postings.join(F.broadcast(dterms), "term")
    stats = matched.groupBy("term").agg(
        F.count(F.lit(1)).alias("df_t"), F.sum("tf").alias("ttf"))
    return _with_dl(index, matched.join(F.broadcast(stats), "term")), qterms


def _tfn_normalize(normalization: str, avgdl: float, c: float):
    """DFR/IB term-frequency normalization tf -> tfn (Amati's H
    family; Lucene NormalizationH1/H2, c=1 default)."""
    tf = F.col("tf").cast("double")
    if normalization == "no":
        return tf
    if normalization == "h1":
        return tf * F.lit(float(avgdl)) / F.col("dl")
    if normalization == "h2":
        return tf * F.log2(F.lit(1.0) + F.lit(float(c * avgdl))
                           / F.col("dl"))
    raise ValueError(f"unknown tfn normalization: {normalization!r}")


def score_topk_dfr(index: IndexFrames, qdf: DataFrame,
                   basic_model: str = "g", after_effect: str = "l",
                   normalization: str = "h2", c: float = 1.0,
                   round_to: int = 6) -> DataFrame:
    """(query_id, rank, doc_id, score): ES `"similarity": {"type":
    "DFR"}` top-k (Lucene DFRSimilarity; Amati & van Rijsbergen 2002
    divergence-from-randomness framework, TOIS 20(4)). Composition is
    Lucene's `basic_model x after_effect` over a normalized term
    frequency tfn (normalization `no` | `h1` tf·avgdl/dl | `h2`
    tf·log2(1 + c·avgdl/dl)), with N = n_docs, df = docs containing
    the term, ttf = collection term frequency:

        basic_model (Inf1):
          in : tfn·log2((N+1)/(df+0.5))
          if : tfn·log2(1 + (N+1)/(ttf+0.5))
          ine: as `in` with df replaced by ne = N·(1-((N-1)/N)^ttf)
          g  : log2(1+λ) + tfn·log2((1+λ)/λ),  λ = ttf/N
        after_effect (Inf2, the first-normalization gain):
          l  : 1/(tfn+1)
          b  : (ttf+1)/(df·(tfn+1))

    score = max(0, Inf1·Inf2) summed over matched query terms
    (Lucene 8 requires non-negative similarity scores). The four
    basic models are the ones ES still exposes (`g|if|in|ine`); the
    defaults g/l/h2 mirror the ES docs' example. Contributions round
    to `round_to`, lift to micro-unit int64 — aggregation-order-proof;
    ties (score DESC, doc_id ASC).

    Scale shape: scorer broadcast plan — one map-side (df, ttf) agg
    over the matched postings slice, dl through the `_with_dl` gate,
    the shared one-exchange (query, doc) tail. Reference
    context: the ES index `similarity` setting the connectors sink
    defers to server-side (svc/es/sink.py bulk path scores nothing) —
    re-expressed here as an in-engine scorer.
    """
    if basic_model not in ("g", "if", "in", "ine"):
        raise ValueError(f"unknown DFR basic_model: {basic_model!r}")
    if after_effect not in ("l", "b"):
        raise ValueError(f"unknown DFR after_effect: {after_effect!r}")
    matched, qterms = _matched_term_stats(index, qdf)
    tfn = _tfn_normalize(normalization, index.avgdl, c)
    n = float(index.n_docs)
    df_t, ttf = F.col("df_t").cast("double"), F.col("ttf").cast("double")
    if basic_model == "in":
        inf1 = tfn * F.log2(F.lit(n + 1.0) / (df_t + F.lit(0.5)))
    elif basic_model == "if":
        inf1 = tfn * F.log2(F.lit(1.0) + F.lit(n + 1.0)
                            / (ttf + F.lit(0.5)))
    elif basic_model == "ine":
        ne = F.lit(n) * (F.lit(1.0)
                         - F.pow(F.lit((n - 1.0) / n), ttf))
        inf1 = tfn * F.log2(F.lit(n + 1.0) / (ne + F.lit(0.5)))
    else:  # g — geometric (Amati's BasicModelG)
        lam = ttf / F.lit(n)
        inf1 = (F.log2(F.lit(1.0) + lam)
                + tfn * F.log2((F.lit(1.0) + lam) / lam))
    if after_effect == "l":
        inf2 = F.lit(1.0) / (tfn + F.lit(1.0))
    else:  # b — Bernoulli ratio
        inf2 = (ttf + F.lit(1.0)) / (df_t * (tfn + F.lit(1.0)))
    s = F.greatest(inf1 * inf2, F.lit(0.0))
    return _micro_topk(matched, s, qterms, round_to)


def score_topk_ib(index: IndexFrames, qdf: DataFrame,
                  distribution: str = "ll", lam: str = "df",
                  normalization: str = "h2", c: float = 1.0,
                  round_to: int = 6) -> DataFrame:
    """(query_id, rank, doc_id, score): ES `"similarity": {"type":
    "IB"}` top-k (Lucene IBSimilarity; Clinchant & Gaussier 2010
    information-based IR models, SIGIR). Over the same normalized tfn
    as DFR (`no`/`h1`/`h2`), with λ the term's corpus rate
    (`lambda` option `df`: (df+1)/(N+1); `ttf`: (ttf+1)/(N+1)):

        ll  (log-logistic)       : log2((tfn+λ)/λ)
        spl (smoothed power-law) : -log2((λ^(tfn/(tfn+1)) − λ)/(1−λ))

    summed over matched query terms, clamped at 0. Contributions
    round to `round_to`, lift to micro-unit int64; ties (score DESC,
    doc_id ASC). Same broadcast plan as score_topk_dfr.
    """
    if distribution not in ("ll", "spl"):
        raise ValueError(f"unknown IB distribution: {distribution!r}")
    if lam not in ("df", "ttf"):
        raise ValueError(f"unknown IB lambda: {lam!r}")
    matched, qterms = _matched_term_stats(index, qdf)
    tfn = _tfn_normalize(normalization, index.avgdl, c)
    n = float(index.n_docs)
    rate_num = (F.col("df_t") if lam == "df" else F.col("ttf"))
    lam_c = (rate_num.cast("double") + F.lit(1.0)) / F.lit(n + 1.0)
    if distribution == "ll":
        s = F.log2((tfn + lam_c) / lam_c)
    else:
        frac = tfn / (tfn + F.lit(1.0))
        # λ = 1 (term in EVERY doc under lambda=df) makes the SPL
        # ratio 0/0; such a term carries zero information — score 0
        # instead of propagating NaN through the micro-unit sum
        s = F.when(
            lam_c < F.lit(1.0),
            -F.log2((F.pow(lam_c, frac) - lam_c)
                    / (F.lit(1.0) - lam_c))).otherwise(F.lit(0.0))
    s = F.greatest(s, F.lit(0.0))
    return _micro_topk(matched, s, qterms, round_to)


def score_topk_boolean(index: IndexFrames, qdf: DataFrame,
                       boost: float = 1.0, round_to: int = 6) -> DataFrame:
    """(query_id, rank, doc_id, score): ES `"similarity": {"type":
    "boolean"}` top-k (Lucene BooleanSimilarity): every matched query
    term contributes exactly the query boost — no tf, no idf, no
    length norm — so a doc's score is boost x (number of distinct
    query terms it contains). Ties break (score DESC, doc_id ASC),
    making the gate deterministic. Same broadcast plan, no dl join
    needed at all.
    """
    qterms = query_terms(qdf)
    dterms = qterms.select("term").distinct()
    matched = index.postings.join(F.broadcast(dterms), "term")
    return _micro_topk(matched, F.lit(float(boost)), qterms, round_to)


#: Columns a scripted similarity may reference (ES scripted_similarity
#: script fields doc.freq/doc.length/term.docFreq/term.totalTermFreq +
#: the index-level stats the script context exposes).
SCRIPT_SIM_COLS = ("tf", "dl", "df_t", "ttf")


def score_topk_scripted(index: IndexFrames, qdf: DataFrame,
                        script, round_to: int = 6) -> DataFrame:
    """(query_id, rank, doc_id, score): ES `"similarity": {"type":
    "scripted"}` top-k. The Spark-native analog of ES's Painless
    `scripted_similarity`: `script` is a Python callable
    `script(ctx) -> Column` building a per-posting contribution from
    `ctx`, a dict with Columns `tf` (doc.freq), `dl` (doc.length),
    `df_t` (term.docFreq), `ttf` (term.totalTermFreq) and floats
    `n_docs`, `avgdl`, `total` (field.docCount / avg length / sumTotalTermFreq).
    The callable composes pyspark.sql.functions expressions, so the
    "script" stays JVM-side whole-stage-codegen — no Python UDF in the
    hot path. Clamped at 0 (Lucene's non-negative score contract).
    """
    matched, qterms = _matched_term_stats(index, qdf)
    ctx = {k: F.col(k).cast("double") for k in SCRIPT_SIM_COLS}
    ctx.update(n_docs=float(index.n_docs), avgdl=float(index.avgdl),
               total=float(index.n_docs) * float(index.avgdl))
    s = F.greatest(script(ctx), F.lit(0.0))
    return _micro_topk(matched, s, qterms, round_to)


def lucene_quantized_dl(dl):
    """Column: `dl` quantized through Lucene's 1-byte norm round-trip
    (SmallFloat.intToByte4 / byte4ToInt — public Lucene 7+ norm
    encoding: 3 stored mantissa bits + implicit leading 1 + 5-bit
    shift). Values 0-7 are exact ("subnormal"); above that only the
    top FOUR significant bits survive, i.e.
    dlq = (dl >> shift) << shift with shift = floor(log2(dl)) - 3.
    Pure integer/log math, JVM-side."""
    dl = dl.cast("long")
    shift = F.greatest(
        F.floor(F.log2(dl.cast("double"))).cast("int") - F.lit(3),
        F.lit(0))
    # (dl >> shift) << shift as integer-exact arithmetic: pyspark's
    # shiftleft/shiftright only take literal shift amounts, so clear
    # the low bits with a modulo instead (dl >= 0 always here).
    pow2 = F.pow(F.lit(2.0), shift.cast("double")).cast("long")
    return F.when(dl < 8, dl).otherwise(dl - dl % pow2)


def with_lossy_norms(index: IndexFrames) -> IndexFrames:
    """IndexFrames with doc lengths degraded exactly the way a real
    Lucene/ES index degrades them: ES's BM25 does NOT score with the
    true document length — at index time Lucene compresses dl into a
    single norm byte (SmallFloat.intToByte4) and the scorer decodes it
    back (BM25Similarity builds its per-norm cache from byte4ToInt),
    so any two lengths sharing the top-4 significant bits score
    identically. avgdl stays EXACT (Lucene computes it from
    sumTotalTermFreq/docCount, not from norms). Composing this with
    score_topk_dataframe reproduces that rank behavior; the exact-dl
    scorers everywhere else in this repo are strictly more precise.

    Reference context: the connectors sink never scores — ranking
    happens inside ES with these lossy norms (svc/es/sink.py bulk
    path); this operator makes that server-side quantization
    reproducible in-engine.
    """
    docs_q = index.docs.withColumn("dl", lucene_quantized_dl(F.col("dl")))
    postings = index.postings
    if "dl" in postings.columns:
        postings = postings.withColumn(
            "dl", lucene_quantized_dl(F.col("dl")))
    return IndexFrames(postings=postings, docs=docs_q,
                       lexicon=index.lexicon, n_docs=index.n_docs,
                       avgdl=index.avgdl)


def term_pattern_query(index: IndexFrames, pattern: str,
                       mode: str = "regexp") -> DataFrame:
    """ES `regexp` / `prefix` query analog over an analyzed field's
    terms (reference context: the connectors service ships documents
    into ES where these run as Lucene multi-term queries): the lexicon
    is pruned FIRST — Lucene's multi-term rewrite walks the term
    dictionary, never the postings — then the surviving terms' postings
    union to the doc set. Like ES's default constant_score rewrite the
    result is unscored: (doc_id, n_terms_matched, score=1.0), with
    n_terms_matched exposed because the blended variants boost on it.

    `regexp` is full-match like Lucene (the pattern is anchored
    ^(...)$); stick to the Java/RE2-common syntax subset — Lucene's
    operator extensions (~ &) are not supported. `prefix` is a literal
    startswith.

    Scale shape: the lexicon frame is O(vocabulary) — the regex scan
    over it is the cheap side and broadcasts into the postings join, so
    the posting scan is pruned to matched terms only; one
    combine-friendly per-doc agg."""
    lex = index.lexicon.select("term")
    if mode == "prefix":
        cand = lex.filter(F.col("term").startswith(pattern))
    elif mode == "regexp":
        cand = lex.filter(F.col("term").rlike("^(" + pattern + ")$"))
    else:
        raise ValueError(f"unknown term-pattern mode {mode!r}")
    matched = index.postings.join(F.broadcast(cand), "term")
    return (matched.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_terms_matched"))
            .select("doc_id", "n_terms_matched",
                    F.lit(1.0).alias("score")))


def err_at_k(ranked: DataFrame, judgments: DataFrame, k: int = 10,
             round_to: int = 6) -> DataFrame:
    """Expected Reciprocal Rank at k (Chapelle et al., CIKM 2009) with
    binary judgments — the cascade-model metric ES's _rank_eval ships
    alongside precision/MRR/NDCG (rank_eval covers those; ERR's
    sequential stop-probability product needs its own kernel):

        ERR = sum_r (1/r) * R_r * prod_{i<r} (1 - R_i),  R_i = rel_i/2

    With binary judgments every factor is DYADIC: the prefix product is
    (1/2)^(#relevant above r), so each term is 1 / (r * 2^(c+1)) — an
    exact integer denominator. Terms are rounded at 1e-12 and lifted to
    pico-unit int64, so the per-query sum is aggregation-order-proof
    (the repo's micro-unit convention, two decades finer because ERR
    terms shrink geometrically).

    ranked: (query_id, rank, doc_id, ...); judgments: (query_id,
    doc_id, rel in {0,1}), broadcast. Returns (query_id, n_rel_in_k,
    err). The prefix window is partitioned per query and bounded by k
    rows — never a global window."""
    from pyspark.sql import Window

    j = (ranked.filter(F.col("rank") <= k)
         .join(F.broadcast(judgments.select(
             "query_id", "doc_id",
             F.col("rel").cast("long").alias("rel"))),
             ["query_id", "doc_id"], "left")
         .fillna(0, ["rel"]))
    w = (Window.partitionBy("query_id").orderBy("rank")
         .rowsBetween(Window.unboundedPreceding, -1))
    c_before = F.coalesce(F.sum("rel").over(w), F.lit(0))
    # exact dyadic denominator r * 2^(c+1); pow(2.0, int)->long is the
    # same exact-small-power pattern lucene_quantized_dl gate-verified
    denom = (F.col("rank").cast("long")
             * F.pow(F.lit(2.0), (c_before + 1).cast("double"))
               .cast("long"))
    term_u = (F.round(F.lit(1e12) / denom.cast("double")).cast("long")
              * F.col("rel"))
    per_q = (j.select("query_id", "rel", term_u.alias("term_u"))
             .groupBy("query_id")
             .agg(F.sum("rel").alias("n_rel_in_k"),
                  F.sum("term_u").alias("_u")))
    return per_q.select(
        "query_id", "n_rel_in_k",
        F.round(F.col("_u").cast("double") / 1e12, round_to).alias("err"))


def rank_correlation(run_a: DataFrame, run_b: DataFrame, k: int = 10,
                     query_col: str = "query_id",
                     rank_col: str = "rank",
                     id_col: str = "doc_id",
                     round_to: int = 6) -> DataFrame:
    """Kendall tau-a and Spearman rho between two top-k runs of the
    same query set — the classical rank-correlation companions to
    rank_biased_overlap for the repo's rank-identity audits: RBO
    weights the head, tau/rho treat all swaps equally, and together
    they answer "is the cheap ranker a reordering or a replacement?".

    Both metrics are computed over the INTERSECTION of the two top-k
    lists (the standard treatment for truncated runs: items seen by
    only one ranker have no defined rank on the other side), densely
    re-ranked 1..m within the intersection by each side's original
    order. Ranks are then permutations of 1..m with no ties, so

        tau  = (C - D) / (m(m-1)/2)          (tau-a == tau-b, tie-free)
        rho  = 1 - 6 * sum d_i^2 / (m(m^2-1))  (classic Spearman)

    are each a SINGLE DIVISION OF EXACT INTEGERS (concordant /
    discordant pair counts; squared rank displacements) — both engines
    hash identically, the agreement-module convention.

    Returns one row per query present in run_a:
    (query_id, overlap_m, n_concordant, n_discordant, tau, rho);
    queries whose intersection has fewer than 2 items emit NULL
    tau/rho (the statistics are undefined there, matching scipy).

    Scale shape: a (query, doc) equi-join of two k-row-per-query
    frames, two k-bounded partitioned windows, and an m^2-bounded
    per-query pair self-join (m <= k, so <= k^2 rows per query) —
    nothing grows with corpus size, only with |queries| * k^2."""
    from pyspark.sql import Window

    a = run_a.select(F.col(query_col).alias("query_id"),
                     F.col(id_col).alias("doc"),
                     F.col(rank_col).alias("ra_full")).filter(
        F.col("ra_full") <= k)
    b = run_b.select(F.col(query_col).alias("query_id"),
                     F.col(id_col).alias("doc"),
                     F.col(rank_col).alias("rb_full")).filter(
        F.col("rb_full") <= k)
    inter = a.join(b, ["query_id", "doc"])
    wa = Window.partitionBy("query_id").orderBy("ra_full")
    wb = Window.partitionBy("query_id").orderBy("rb_full")
    ranked = inter.select(
        "query_id", "doc",
        F.row_number().over(wa).cast("long").alias("ra"),
        F.row_number().over(wb).cast("long").alias("rb"))
    # pair self-join i<j by ra: bounded by m^2 per query
    lhs = ranked.select("query_id", F.col("ra").alias("ra_i"),
                        F.col("rb").alias("rb_i"))
    rhs = ranked.select("query_id", F.col("ra").alias("ra_j"),
                        F.col("rb").alias("rb_j"))
    pairs = lhs.join(rhs, "query_id").filter(F.col("ra_i") < F.col("ra_j"))
    conc = F.sum(F.when(F.col("rb_i") < F.col("rb_j"), 1).otherwise(0))
    disc = F.sum(F.when(F.col("rb_i") > F.col("rb_j"), 1).otherwise(0))
    pair_agg = pairs.groupBy("query_id").agg(
        conc.alias("n_concordant"), disc.alias("n_discordant"))
    d2 = ranked.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum((F.col("ra") - F.col("rb"))
              * (F.col("ra") - F.col("rb"))).alias("sum_d2"))
    universe = run_a.select(F.col(query_col).alias("query_id")).distinct()
    j = (universe.join(d2, "query_id", "left")
         .join(pair_agg, "query_id", "left")
         .fillna(0, ["m", "sum_d2", "n_concordant", "n_discordant"]))
    m = F.col("m")
    tau = F.when(m >= 2, F.round(
        (F.col("n_concordant") - F.col("n_discordant")).cast("double")
        * 2.0 / (m * (m - 1)).cast("double"), round_to))
    rho = F.when(m >= 2, F.round(
        (m * (m * m - 1) - 6 * F.col("sum_d2")).cast("double")
        / (m * (m * m - 1)).cast("double"), round_to))
    return j.select(
        "query_id", m.cast("int").alias("overlap_m"),
        F.col("n_concordant").cast("long").alias("n_concordant"),
        F.col("n_discordant").cast("long").alias("n_discordant"),
        tau.alias("tau"), rho.alias("rho"))
