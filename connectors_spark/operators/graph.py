"""Iterative graph propagation: fixed-iteration PageRank over an edge
DataFrame, plus a kNN-graph builder over embeddings.

Use case (LLM-data pipeline): centrality over a document/embedding
similarity graph — rank "hub" documents inside near-duplicate
neighborhoods for canonical election, or weight quality propagation
across a similarity graph (harmonic/TrustRank-style seeds are a
one-line variant: swap the uniform teleport vector).

Scale shape: the edge-transition frame is computed ONCE (one groupBy
for out-degree + one join) and persisted; each iteration is exactly
one join (ranks ⋈ transitions on src) + one groupBy(dst) — two
shuffles per iteration, both on the edge key, no driver-side data
loop (the Python ``for`` loops over ITERATIONS, building the plan).
At cluster scale you'd localCheckpoint every ~5 iterations to cut
lineage; with the small fixed iteration counts used here the lineage
is bounded and checkpointing is skipped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from connectors_spark.operators.similarity import brute_force_cosine_topk


def knn_edges(vectors: DataFrame, k: int = 3,
              vec_col: str = "embedding",
              id_col: str = "vec_id") -> DataFrame:
    """Directed kNN graph: src → its k nearest neighbors by cosine
    (self excluded, ties broken by rounded-cosine then id — the same
    deterministic ranking the ann gates pin). Exact all-pairs baseline;
    at corpus scale swap in the IVF/LSH candidate generators from
    operators/similarity.py — the PageRank side is edge-source-agnostic.
    """
    knn = brute_force_cosine_topk(vectors, vectors, k=k,
                                  vec_col=vec_col, id_col=id_col)
    return knn.select(F.col("query_id").alias("src"),
                      F.col("vec_id").alias("dst"))


def pagerank(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    damping: float = 0.85,
    iters: int = 5,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    teleport: DataFrame | None = None,
) -> DataFrame:
    """(node, rank) after ``iters`` synchronous power iterations of
    PageRank with uniform teleport:

        rank'(v) = (1-d)/N + d * Σ_{u→v} rank(u) · w(u,v)/outw(u)

    ``nodes`` defaults to the distinct edge endpoints; pass it
    explicitly to include isolated nodes (they hold the teleport
    floor). Dangling nodes (no out-edges) leak their damped mass —
    the usual redistribute-to-all correction is a broadcast scalar
    add; omitted here because every intended edge source (kNN graphs)
    has out-degree k. ``weight``: optional edge-weight column,
    normalized per source; None = uniform 1/out-degree.

    ``teleport``: optional (node, weight) frame for PERSONALIZED
    PageRank / TrustRank — the teleport term becomes (1-d)·t(v) with
    t normalized to sum 1 (nodes absent from the frame get 0), so
    authority flows out from the seed set instead of uniformly. The
    LLM-data use: seed trusted/curated sources and propagate quality
    through the document-similarity graph. Initial rank = t(v)."""
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"),
                     w.alias("w"))
    if nodes is None:
        nodes = (e.select(F.col("src").alias("node"))
                 .union(e.select(F.col("dst").alias("node")))
                 .distinct())
    else:
        cols = nodes.columns
        nodes = nodes.select(F.col(cols[0]).alias("node"))
    nodes = nodes.persist()
    n = nodes.count()
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("rank"))

    outw = e.groupBy("src").agg(F.sum("w").alias("ow"))
    trans = (e.join(outw, "src")
             .select("src", "dst", (F.col("w") / F.col("ow")).alias("p"))
             .persist())
    trans.count()  # materialize once; reused every iteration

    if teleport is None:
        base_col = F.lit((1.0 - damping) / n)
        ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
        with_base = nodes.select("node", base_col.alias("_base"))
    else:
        tc = teleport.columns
        t = teleport.select(F.col(tc[0]).alias("node"),
                            F.col(tc[1]).cast("double").alias("_tw"))
        tot = t.agg(F.sum("_tw")).collect()[0][0]
        if not tot or tot <= 0:
            raise ValueError("teleport weights must sum > 0")
        norm = (
            nodes.join(t, "node", "left")
            .select("node",
                    (F.coalesce("_tw", F.lit(0.0)) / F.lit(float(tot)))
                    .alias("_t"))
            .persist()
        )
        ranks = norm.select("node", F.col("_t").alias("rank"))
        with_base = norm.select(
            "node", (F.lit(1.0 - damping) * F.col("_t")).alias("_base"))
    with_base = with_base.persist()
    for _ in range(int(iters)):
        inflow = (
            trans.join(ranks, trans["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("p") * F.col("rank")).alias("inflow"))
        )
        ranks = (
            with_base.join(inflow, with_base["node"] == inflow["dst"],
                           "left")
            .select(
                "node",
                (F.col("_base")
                 + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))
                 ).alias("rank"),
            )
        )
    return ranks


def graph_explore(docs: DataFrame, seed_term: str, per_hop: int = 5,
                  text_col: str = "text", doc_id_col: str = "doc_id",
                  round_to: int = 6) -> DataFrame:
    """ES ``_graph/explore`` analog (public Graph API semantics): spider
    out from a seed term to its most SIGNIFICANT co-occurring terms,
    two hops, returning ``(hop, source, term, overlap_df, score)``
    vertex/edge rows.

    Hop 1: docs containing the seed are the foreground; candidate
    terms in those docs are JLH-scored vs the whole corpus
    ((fg%-bg%)*(fg%/bg%), the significant_terms heuristic ES Graph
    uses to avoid spidering to stopword-ish hubs); top ``per_hop``
    (score DESC, term ASC) become vertices with edge (seed -> term,
    overlap_df = co-doc count).

    Hop 2: the frontier's docs (any hop-1 vertex) are the new
    foreground; terms already seen (seed + hop-1) are excluded; each
    new vertex's edge connects to the hop-1 vertex it co-occurs with
    most (ties: source ASC).

    Plan shape: ONE tokenize pass reduced to distinct (term, doc)
    pairs and persisted for the hop joins; foregrounds are semi-joins
    on doc_id; every top-k is orderBy().limit() (TakeOrderedAndProject
    — per-partition heaps, never a single-task global window); the
    tiny vertex frontiers broadcast. No driver-side iteration — both
    hops are one Catalyst plan, the oracle is the same recurrence in
    CTE form.
    """
    from connectors_spark.functions.analysis import tokenize

    td = (tokenize(docs, text_col, doc_id_col)
          .select("term", "doc_id").distinct()
          .persist())
    n_docs = docs.count() * 1.0
    bg = td.groupBy("term").agg(F.count(F.lit(1)).alias("bg_df"))

    def _hop(fg_docs: DataFrame, exclude: DataFrame) -> DataFrame:
        """Top per_hop JLH terms among fg_docs (term, fg_df, score)."""
        fg_n = fg_docs.count() * 1.0
        fgt = (td.join(F.broadcast(fg_docs), "doc_id")
               .groupBy("term").agg(F.count(F.lit(1)).alias("fg_df"))
               .join(F.broadcast(exclude), "term", "left_anti")
               .join(bg, "term"))
        fg_pct = F.col("fg_df") / F.lit(fg_n)
        bg_pct = F.col("bg_df") / F.lit(n_docs)
        return (fgt.select(
                    "term", "fg_df",
                    F.round((fg_pct - bg_pct) * (fg_pct / bg_pct),
                            round_to).alias("score"))
                .orderBy(F.desc("score"), F.asc("term")).limit(per_hop))

    seed = F.lit(seed_term)
    seed_docs = td.filter(F.col("term") == seed).select("doc_id")
    v1 = _hop(seed_docs, td.sparkSession.createDataFrame(
        [(seed_term,)], "term string")).persist()

    # hop-1 edges: overlap with the seed's docs IS fg_df
    e1 = v1.select(F.lit(1).alias("hop"), seed.alias("source"), "term",
                   F.col("fg_df").alias("overlap_df"), "score")

    # hop-2 foreground: docs containing any hop-1 vertex
    frontier_docs = (td.join(F.broadcast(v1.select("term")), "term")
                     .select("doc_id").distinct())
    seen = v1.select("term").union(
        td.sparkSession.createDataFrame([(seed_term,)], "term string"))
    v2 = _hop(frontier_docs, seen)

    # hop-2 edge source: the hop-1 vertex with max co-doc count
    co = (td.join(F.broadcast(v2.select("term")), "term")
          .join(td.select(F.col("term").alias("source"),
                          "doc_id")
                .join(F.broadcast(v1.select(F.col("term").alias("source"))),
                      "source"),
                "doc_id")
          .groupBy("term", "source")
          .agg(F.count(F.lit(1)).alias("overlap_df")))
    rk = F.row_number().over(
        Window.partitionBy("term").orderBy(F.desc("overlap_df"),
                                           F.asc("source")))
    best = (co.withColumn("_rk", rk).filter(F.col("_rk") == 1)
            .select("term", "source", "overlap_df"))
    e2 = (v2.join(best, "term")
          .select(F.lit(2).alias("hop"), "source", "term",
                  "overlap_df", "score"))
    out = e1.unionByName(e2)
    return out.select("hop", "source", "term",
                      F.col("overlap_df").cast("long").alias("overlap_df"),
                      "score")


def bradley_terry_strengths(comparisons: DataFrame, n_iter: int = 10,
                            winner_col: str = "winner",
                            loser_col: str = "loser") -> DataFrame:
    """Bradley-Terry preference-strength fitting via Hunter 2004's MM
    algorithm — the standard model behind RLHF reward-model data
    analysis and chatbot-arena-style leaderboards: given a stream of
    pairwise outcomes (winner, loser), fit strengths s_i with
    P(i beats j) = s_i / (s_i + s_j).

    MM update (Hunter 2004, eq. 1.5, guaranteed monotone convergence):
        s_i <- W_i / sum_{j != i} n_ij / (s_i + s_j)
    normalized to sum 1 each round.

    Scale shape: the 100 TB part is the REDUCTION — one groupBy
    (winner, loser) with map-side combine collapses billions of raw
    comparisons to a k x k count matrix (k = number of compared
    models/policies, small by construction). The MM iteration then
    runs driver-side in NumPy on that tiny matrix — the same
    collect-the-sufficient-statistics shape as distributed PCA
    (similarity.py): never an iterative DataFrame loop whose update
    references the previous frame twice (exponential plan growth, see
    classifier.py's parameter-server note).

    Returns (item, wins, strength) with strength summing to 1.
    Items with ZERO wins get strength 0 under the MM update (the MLE
    degenerates at the boundary — standard BT behavior; regularize by
    adding pseudo-comparisons upstream if every item must stay
    positive).
    """
    import numpy as np

    counts = (comparisons
              .groupBy(F.col(winner_col).alias("w"),
                       F.col(loser_col).alias("l"))
              .agg(F.count(F.lit(1)).alias("n"))
              .collect())
    items = sorted({r.w for r in counts} | {r.l for r in counts})
    pos = {it: i for i, it in enumerate(items)}
    k = len(items)
    n = np.zeros((k, k))            # total comparisons between i and j
    wins = np.zeros(k)
    for r in counts:
        i, j = pos[r.w], pos[r.l]
        n[i, j] += r.n
        n[j, i] += r.n
        wins[i] += r.n
    s = np.full(k, 1.0 / k)
    for _ in range(int(n_iter)):
        # diagonal terms are exactly 0 (n[i,i] == 0, s > 0)
        denom = (n / (s[:, None] + s[None, :])).sum(axis=1)
        s = wins / denom
        s = s / s.sum()
    spark = comparisons.sparkSession
    return spark.createDataFrame(
        [(it, int(wins[pos[it]]), float(s[pos[it]])) for it in items],
        "item int, wins long, strength double",
    )


def wilson_lower_bound(comparisons: DataFrame, z: float = 1.96,
                       winner_col: str = "winner",
                       loser_col: str = "loser") -> DataFrame:
    """Wilson-score lower-confidence-bound leaderboard over pairwise
    outcomes — the robust companion to bradley_terry_strengths: rank
    each item by the LOWER bound of the Wilson (1927) score interval on
    its win rate, so low-sample items can't outrank well-measured ones
    (the standard "how not to sort by average rating" correction, used
    for preference-data selection and reward-model eval triage).

        lb = (p + z^2/2n - z*sqrt(p(1-p)/n + z^2/4n^2)) / (1 + z^2/n)

    with p = wins/n, n = total comparisons the item appeared in.

    Scale shape: one union + one groupBy(item) with map-side combine
    collapses billions of comparisons to k rows; the bound itself is a
    closed-form JVM expression over exact integer counts — no
    iteration, no driver state (unlike BT's k x k MM solve). Items are
    never collected.

    Returns (item, wins, n, wilson_lb) — wilson_lb rounded to 6 so the
    DuckDB oracle replaying the same closed form hashes identically
    (counts are integer-exact; the formula is a single float expression
    evaluated in the same order on both engines).
    """
    outcomes = (
        comparisons.select(F.col(winner_col).alias("item"),
                           F.lit(1).alias("win"))
        .unionByName(comparisons.select(F.col(loser_col).alias("item"),
                                        F.lit(0).alias("win")))
    )
    agg = outcomes.groupBy("item").agg(
        F.sum("win").alias("wins"), F.count(F.lit(1)).alias("n"))
    p = F.col("wins").cast("double") / F.col("n")
    nn = F.col("n").cast("double")
    z2 = float(z) * float(z)
    lb = ((p + z2 / (2.0 * nn)
           - float(z) * F.sqrt(p * (1.0 - p) / nn + z2 / (4.0 * nn * nn)))
          / (1.0 + z2 / nn))
    return agg.select("item", "wins", "n",
                      F.round(lb, 6).alias("wilson_lb"))


def tree_paths(nodes: DataFrame, max_depth: int = 4096,
               with_path: bool = True) -> DataFrame:
    """(node_id, root_id, depth, path) — resolve every node of a
    parent-pointer forest to its root via POINTER DOUBLING: after
    round r each node knows its 2^r-th ancestor (or its root, frozen
    earlier), so ceil(log2(max_depth)) keyed self-joins resolve a
    depth-d forest — never d sequential rounds. This is the
    message-tree / conversation-fork materialization (ShareGPT-style
    parent_id trees, agent-trajectory branch reconstruction) and the
    same doubling trick Spark-scale path queries use for deep
    hierarchies.

    `nodes`: (node_id, parent_id) with parent_id NULL for roots.
    `path` is the '/'-joined id chain root->node (omit via
    with_path=False to keep state O(1) per node when only depth/root
    are needed). Nodes whose chain does not reach a root within
    max_depth (deeper forest, or a CYCLE in corrupt input) are
    returned with root_id NULL and depth NULL rather than looping
    forever — the documented corrupt-input contract.

    Scale shape: each round is ONE equi-join of the state frame with
    itself on the ancestor key plus a map-side union of frozen rows;
    state is (node, anc, dist[, seg]) — O(N) rows always, O(log
    max_depth) shuffles total. With paths the final frame carries
    O(sum of depths) ids, the output's own size — nothing
    intermediate is bigger. DuckDB twin: WITH RECURSIVE parent walk
    (per-row sequential, the single-node semantics oracle).

    Executor loss needs a job-level retry: the state frame is
    `localCheckpoint`ed, kept only in executor storage with no lineage."""
    import math

    # +1: the resolved flag is copied FROM the ancestor's state, so it
    # lands one round after the distance itself is covered
    rounds = max(2, math.ceil(math.log2(max(2, max_depth))) + 1)
    is_root = F.col("parent_id").isNull()
    st = nodes.select(
        F.col("node_id").alias("node"),
        F.when(is_root, F.col("node_id"))
         .otherwise(F.col("parent_id")).alias("anc"),
        F.when(is_root, F.lit(0)).otherwise(F.lit(1))
         .cast("long").alias("dist"),
        # seg: ids strictly below `anc`, node-first (node..anc)
        F.when(is_root, F.array().cast("array<long>"))
         .otherwise(F.array(F.col("node_id").cast("long"))).alias("seg"),
        is_root.alias("at_root"),
    )
    if not with_path:
        st = st.drop("seg")
    for i in range(rounds):
        anc_side = st.select(
            F.col("node").alias("a_node"), F.col("anc").alias("a_anc"),
            F.col("dist").alias("a_dist"),
            *([F.col("seg").alias("a_seg")] if with_path else []),
            F.col("at_root").alias("a_at_root"))
        frozen = st.filter(F.col("at_root"))
        live = (st.filter(~F.col("at_root"))
                .join(anc_side, F.col("anc") == F.col("a_node"), "left"))
        cols = [
            F.col("node"),
            F.coalesce(F.col("a_anc"), F.col("anc")).alias("anc"),
            (F.col("dist") + F.coalesce(F.col("a_dist"), F.lit(0)))
            .alias("dist"),
        ]
        if with_path:
            cols.append(F.concat(
                F.col("seg"),
                F.coalesce(F.col("a_seg"),
                           F.array().cast("array<long>"))).alias("seg"))
        cols.append(F.coalesce(F.col("a_at_root"), F.lit(False))
                    .alias("at_root"))
        st = live.select(*cols).unionByName(frozen)
        # each round references st THREE times (join side, frozen,
        # live), so the logical plan grows 3^rounds without a lineage
        # cut — truncate every 3 rounds (same reason pagerank persists
        # its transitions; localCheckpoint is the iterative-algorithm
        # contract at cluster scale)
        if (i + 1) % 3 == 0 and i + 1 < rounds:
            st = st.localCheckpoint(eager=True)
    # the doubling rounds can reach past max_depth (up to the next
    # power of two) — enforce the documented contract exactly
    resolved = F.col("at_root") & (F.col("dist") <= max_depth)
    path = (F.array_join(
        F.transform(
            F.concat(F.array(F.col("anc").cast("long")),
                     F.reverse(F.col("seg"))),
            lambda x: x.cast("string")), "/")
        if with_path else F.lit(None).cast("string"))
    return st.select(
        F.col("node").alias("node_id"),
        F.when(resolved, F.col("anc")).alias("root_id"),
        F.when(resolved, F.col("dist")).alias("depth"),
        *( [F.when(resolved, path).alias("path")] if with_path else []),
    )


def triangle_counts(edges: DataFrame, round_to: int = 6) -> DataFrame:
    """(node, degree, n_triangles, clustering) — EXACT triangle
    counting by degree orientation (the MapReduce node-iterator++
    shape; Suri & Vassilvitskii 2011, "Counting triangles and the
    curse of the last reducer"): symmetrize + dedup to undirected
    {a,b} pairs, orient every edge from the endpoint with the lower
    (degree, id) to the higher, enumerate wedges ONLY at each edge's
    lower endpoint (out-degree under this orientation is O(sqrt(m))
    for every node, so wedge volume is O(m^1.5) total — a raw hub
    node's d^2 wedge explosion, the 'last reducer', cannot happen),
    and close each wedge with one equi-join back to the oriented
    edge set. Every triangle is found exactly once (its vertices are
    met in orientation-rank order), then exploded to its 3 corners
    for per-node counts. clustering = 2T / (d(d-1)) for d >= 2, NULL
    below — the local clustering coefficient, the embedding-space
    cluster-quality audit when edges come from knn_edges."""
    # und feeds deg (twice, via the union) and e1; o feeds ov and the
    # wedge-closing join — persist both so the upstream edge
    # computation (e.g. brute-force kNN) runs once, not per reference
    # (the DuckDB twin needs AS MATERIALIZED for the same reason)
    und = (edges.select(F.least("src", "dst").alias("a"),
                        F.greatest("src", "dst").alias("b"))
           .filter(F.col("a") != F.col("b")).distinct().persist())
    deg = (und.select(F.col("a").alias("node"))
           .unionAll(und.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).cast("long")
                                .alias("d")))
    e1 = (und.join(deg.select(F.col("node").alias("a"),
                              F.col("d").alias("da")), "a")
          .join(deg.select(F.col("node").alias("b"),
                           F.col("d").alias("db")), "b"))
    a_first = ((F.col("da") < F.col("db"))
               | ((F.col("da") == F.col("db"))
                  & (F.col("a") < F.col("b"))))
    o = e1.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v")) \
        .persist()
    ov = o.join(deg.select(F.col("node").alias("v"),
                           F.col("d").alias("dv")), "v")
    lft = ov.select(F.col("u"), F.col("v").alias("y"),
                    F.col("dv").alias("dy"))
    rgt = ov.select(F.col("u").alias("_u"), F.col("v").alias("z"),
                    F.col("dv").alias("dz"))
    wed = lft.join(
        rgt, (lft["u"] == rgt["_u"])
        & ((lft["dy"] < rgt["dz"])
           | ((lft["dy"] == rgt["dz"]) & (lft["y"] < rgt["z"]))))
    tri = wed.join(o.select(F.col("u").alias("y"),
                            F.col("v").alias("z")), ["y", "z"]) \
        .select("u", "y", "z")
    pern = (tri.select(F.explode(F.array("u", "y", "z")).alias("node"))
            .groupBy("node").agg(F.count(F.lit(1)).cast("long")
                                 .alias("t")))
    d = F.col("d")
    return (deg.join(pern, "node", "left")
            .select("node", d.alias("degree"),
                    F.coalesce(F.col("t"), F.lit(0)).cast("long")
                    .alias("n_triangles"),
                    F.when(d >= 2,
                           F.round(2.0 * F.coalesce(F.col("t"), F.lit(0))
                                   / (d * (d - 1)), round_to))
                    .alias("clustering")))


def textrank_sentences(sents: DataFrame, damping: float = 0.85,
                       iters: int = 5, top_n: int = 2,
                       round_to: int = 6) -> DataFrame:
    """(doc_id, pos, sent_idx, score) — per-document extractive
    TextRank (Mihalcea & Tarau 2004): sentences are nodes, edge
    weight = count of shared distinct tokens, and `iters` damped
    power iterations of the per-doc PageRank recurrence

        r'(s) = (1-d)/N_doc + d * sum_in w/outw * r

    rank the top_n most central sentences per doc — the extractive
    pre-summarization / centroid-sentence selection step of a
    long-document pipeline.

    `sents`: (doc_id, sent_idx, tokens array<string>). Every frame is
    keyed by (doc_id, sent) so ONE partitioning carries all docs'
    graphs through every iteration — per-doc graphs never
    materialize separately and a corpus of 10^9 docs runs the same
    five shuffles as one doc. Sentence pairs meet through the
    (doc_id, term) key (per-key width = sentences containing that
    term within one doc — bounded by sentences/doc, never corpus
    n^2). Isolated sentences keep the teleport floor. Final ordering
    uses the ROUNDED score (then sent_idx) so rank positions cannot
    depend on sub-round_to float noise — the cross-engine contract.
    """
    s = sents.select("doc_id", "sent_idx",
                     F.array_distinct("tokens").alias("toks"))
    toks = s.select("doc_id", "sent_idx",
                    F.explode("toks").alias("term"))
    t2 = toks.select(F.col("doc_id").alias("_d"),
                     F.col("sent_idx").alias("dst"),
                     F.col("term").alias("_t"))
    pairs = (toks.join(t2, (toks["doc_id"] == t2["_d"])
                       & (toks["term"] == t2["_t"])
                       & (toks["sent_idx"] != t2["dst"]))
             .groupBy("doc_id", F.col("sent_idx").alias("src"), "dst")
             .agg(F.count(F.lit(1)).alias("w")))
    outw = pairs.groupBy("doc_id", "src").agg(F.sum("w").alias("ow"))
    trans = (pairs.join(outw, ["doc_id", "src"])
             .select("doc_id", "src", "dst",
                     (F.col("w").cast("double") / F.col("ow"))
                     .alias("p"))
             .persist())
    nd = s.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    nodes = (s.join(nd, "doc_id")
             .select("doc_id", "sent_idx",
                     (F.lit(1.0) / F.col("n")).alias("r0"),
                     ((1.0 - damping) / F.col("n")).alias("base"))
             .persist())
    ranks = nodes.select("doc_id", "sent_idx",
                         F.col("r0").alias("rank"))
    for _ in range(int(iters)):
        rsrc = ranks.select(F.col("doc_id").alias("_rd"),
                            F.col("sent_idx").alias("_rs"), "rank")
        inflow = (trans.join(
            rsrc, (trans["doc_id"] == rsrc["_rd"])
            & (trans["src"] == rsrc["_rs"]))
            .groupBy(F.col("doc_id").alias("_id"), F.col("dst"))
            .agg(F.sum(F.col("p") * F.col("rank")).alias("inf")))
        ranks = (nodes.join(
            inflow, (nodes["doc_id"] == inflow["_id"])
            & (nodes["sent_idx"] == inflow["dst"]), "left")
            .select(nodes["doc_id"], "sent_idx",
                    (F.col("base") + damping
                     * F.coalesce("inf", F.lit(0.0))).alias("rank")))
    scored = ranks.select("doc_id", "sent_idx",
                          F.round("rank", round_to).alias("score"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"),
                                             F.asc("sent_idx"))
    return (scored.withColumn("pos", F.row_number().over(w))
            .filter(F.col("pos") <= top_n)
            .select("doc_id", "pos", "sent_idx", "score"))
