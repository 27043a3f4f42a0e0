"""Similarity search over embedding columns (array<float>).

- brute_force_cosine_topk: exact baseline. Query set broadcast against the
  corpus; dot/norm via JVM higher-order functions (zip_with + aggregate,
  computed in float64, sequential element order) — no Python in the loop.
- ivf_cosine_topk: the scale path. Deterministic inverted-file variant:
  centroid set = every `centroid_mod`-th vector (seeded/static so the
  DuckDB oracle can mirror it; swap in k-means rounds later without
  changing the query plan). Each vector is assigned to its nearest
  centroid (one broadcast join + window argmin); a query probes the
  `nprobe` nearest cells and scores only those candidates. At 100 TB the
  corpus-side assignment is a narrow broadcast pass and queries touch
  ~nprobe/n_centroids of the data.

Ranking uses round(cos, 6) with vec_id tie-break so ranks are stable
across engines regardless of float summation order.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

ROUND_COS = 6


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    v = _as_double(F.col(vec_col))
    return df.withColumn("_vnorm", F.sqrt(_dot(v, v)))


def brute_force_cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(query_id, rank, vec_id, cos) — exact top-k by cosine; self excluded."""
    corpus = with_norm(
        vectors.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
        , "v"
    )
    qs = with_norm(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q")),
        "q",
    ).withColumnRenamed("_vnorm", "_qnorm")
    joined = corpus.crossJoin(F.broadcast(qs)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    cos = F.round(
        _dot(_as_double(F.col("q")), _as_double(F.col("v")))
        / (F.col("_qnorm") * F.col("_vnorm")),
        ROUND_COS,
    )
    scored = joined.select("query_id", "vec_id", cos.alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cos")
    )


def semantic_chunk_topk(
    vectors: DataFrame,
    queries: DataFrame,
    chunks_per_doc: int,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ES `semantic_text` field analog (the reference creates indices whose
    text fields ES chunks + embeds server-side; mapping palette at
    reference app/connectors_service/connectors/agent/mappings/
    google_drive.json includes `semantic_text`): each document is stored
    as several chunk vectors, a knn query scores every chunk, and the
    DOCUMENT's score is the max over its chunks (ES nested-knn
    `score_mode: max` rollup). Returns (query_id, rank, doc_id, score).

    Chunk->doc identity is positional: doc_id = vec_id DIV chunks_per_doc.
    The query's own document is excluded (self-hit suppression, matching
    brute_force_cosine_topk's self-exclusion convention).

    Scale shape: queries broadcast (a query set is small by construction);
    one corpus scan computes all chunk cosines JVM-side (zip_with/
    aggregate, no Python); the chunk->doc max is a map-side-combinable
    agg keyed (query_id, doc_id); final top-k is a per-query window over
    at most |docs| rows. No all-pairs, no driver collect — the same plan
    survives 10^9 chunks.
    """
    corpus = with_norm(
        vectors.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")),
        "v",
    ).withColumn("doc_id", (F.col("vec_id") / chunks_per_doc).cast("long"))
    qs = (
        with_norm(
            queries.select(
                F.col(id_col).alias("query_id"), F.col(vec_col).alias("q")
            ),
            "q",
        )
        .withColumnRenamed("_vnorm", "_qnorm")
        .withColumn("q_doc", (F.col("query_id") / chunks_per_doc).cast("long"))
    )
    joined = corpus.crossJoin(F.broadcast(qs)).filter(
        F.col("doc_id") != F.col("q_doc")
    )
    cos = F.round(
        _dot(_as_double(F.col("q")), _as_double(F.col("v")))
        / (F.col("_qnorm") * F.col("_vnorm")),
        ROUND_COS,
    )
    chunk_scores = joined.select("query_id", "doc_id", cos.alias("cos"))
    doc_scores = chunk_scores.groupBy("query_id", "doc_id").agg(
        F.max("cos").alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        doc_scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


DEFAULT_N_CENTROIDS = 256


def init_centroids_fixed(vectors: DataFrame, n_centroids: int,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id") -> DataFrame:
    """(cell, cv): exactly min(n_centroids, |corpus|) seed centroids,
    deterministically sampled by hash-rank over the id — the centroid
    count (and hence the per-executor broadcast) is FIXED by the caller
    (~sqrt(n) is the usual IVF choice), independent of corpus size.
    This is the scale-correct seeding: the legacy every-mod-th sampler
    (`init_centroids`) yields n/mod centroids, an O(n) broadcast at
    10^9 vectors. orderBy(hash).limit(n) compiles to a distributed
    TakeOrderedAndProject (per-partition partial top-n), never a full
    sort. Refinable with kmeans_refine like any centroid set."""
    h = F.xxhash64(F.col(id_col).cast("string"))
    return (
        vectors.select(F.col(id_col).alias("cell"),
                       F.col(vec_col).alias("cv"), h.alias("_h"))
        .orderBy("_h", "cell").limit(int(n_centroids)).drop("_h")
    )


def init_centroids(vectors: DataFrame, centroid_mod: int,
                   vec_col: str = "embedding",
                   id_col: str = "vec_id") -> DataFrame:
    """(cell, cv): deterministic seed centroids — every `centroid_mod`-th
    vector (static so the DuckDB oracle can mirror the rounds=0 path)."""
    return vectors.filter(F.col(id_col) % centroid_mod == 0).select(
        F.col(id_col).alias("cell"), F.col(vec_col).alias("cv")
    )


def kmeans_refine(vectors: DataFrame, centroids: DataFrame, rounds: int = 2,
                  vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Lloyd iterations over the IVF centroid set, all DataFrame ops:
    assign each vector to its nearest centroid (broadcast crossJoin +
    window argmin), then recompute each cell's mean element-wise
    (posexplode -> groupBy(cell, pos) avg -> collect back in pos order).
    Components round to 6 decimals so results are reproducible across
    partitionings (float avg is otherwise order-sensitive). Cells that
    lose every member drop out — standard Lloyd behavior. The refined
    centroids feed assign_cells/assign_probes unchanged; recall improves
    with rounds on clustered corpora (tests/test_similarity.py)."""
    base = vectors.select(F.col(id_col).alias("vec_id"),
                          F.col(vec_col).alias("v"))
    cents = centroids
    for _ in range(int(rounds)):
        assigned = _nearest_cell(base, cents)
        exploded = (
            base.join(assigned, "vec_id")
            .select("cell", F.posexplode(_as_double(F.col("v"))))
        )
        means = exploded.groupBy("cell", "pos").agg(F.round(F.avg("col"), 6).alias("m"))
        cents = means.groupBy("cell").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("cv")
        )
    return cents


def _nearest_cell(base: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, cell): argmin-by-cosine assignment against a broadcast
    centroid set (round+id tie-break)."""
    corpus = with_norm(base, "v")
    cents = with_norm(centroids, "cv").withColumnRenamed("_vnorm", "_cnorm")
    cos = F.round(
        _dot(_as_double(F.col("v")), _as_double(F.col("cv")))
        / (F.col("_vnorm") * F.col("_cnorm")),
        ROUND_COS,
    )
    scored = corpus.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cell", cos.alias("ccos")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cell"))
    return (
        scored.withColumn("r", F.row_number().over(w))
        .filter("r = 1")
        .select("vec_id", "cell")
    )


def assign_cells(vectors: DataFrame, centroid_mod: int,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 centroids: DataFrame | None = None) -> DataFrame:
    """(vec_id, cell): nearest centroid by cosine (round+id tie-break)."""
    base = vectors.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    if centroids is not None:
        return _nearest_cell(base, centroids)
    cents = base.filter(F.col("vec_id") % centroid_mod == 0).select(
        F.col("vec_id").alias("cell"), F.col("v").alias("cv")
    )
    corpus = with_norm(base, "v")
    cents = with_norm(cents, "cv").withColumnRenamed("_vnorm", "_cnorm")
    cos = F.round(
        _dot(_as_double(F.col("v")), _as_double(F.col("cv")))
        / (F.col("_vnorm") * F.col("_cnorm")),
        ROUND_COS,
    )
    scored = corpus.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cell", cos.alias("ccos")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cell"))
    return (
        scored.withColumn("r", F.row_number().over(w))
        .filter("r = 1")
        .select("vec_id", "cell")
    )


def ivf_cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    centroid_mod: int | None = None,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    kmeans_rounds: int = 0,
    n_centroids: int | None = None,
) -> DataFrame:
    """(query_id, rank, vec_id, cos) — IVF-pruned approximate top-k.

    Centroid seeding: `n_centroids` (DEFAULT — fixed-size hash-rank
    sample, broadcast size independent of corpus size; the 100 TB
    shape) or `centroid_mod` (every mod-th vector — n/mod centroids,
    kept because the DuckDB gate oracle can mirror it exactly; NOT a
    scale default since its broadcast grows O(n)). kmeans_rounds > 0
    refines either seed with Lloyd iterations (better recall on
    clustered corpora; the rounds=0 mod path stays the
    DuckDB-mirrorable gate)."""
    if centroid_mod is not None and n_centroids is not None:
        raise ValueError("pass centroid_mod OR n_centroids, not both")
    cents = None
    if centroid_mod is None:
        cents = init_centroids_fixed(
            vectors, n_centroids or DEFAULT_N_CENTROIDS, vec_col, id_col)
    if kmeans_rounds > 0:
        seed = cents if cents is not None else init_centroids(
            vectors, centroid_mod, vec_col, id_col)
        cents = kmeans_refine(
            vectors, seed,
            rounds=kmeans_rounds, vec_col=vec_col, id_col=id_col,
        ).persist()
    cells = assign_cells(vectors, centroid_mod, vec_col, id_col, centroids=cents)
    base = vectors.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    corpus = with_norm(base, "v").join(cells, "vec_id")

    # query -> nprobe nearest cells (probe list)
    qcells = assign_probes(vectors, queries, centroid_mod, nprobe, vec_col,
                           id_col, centroids=cents)

    qs = with_norm(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q")),
        "q",
    ).withColumnRenamed("_vnorm", "_qnorm")
    cand = corpus.join(F.broadcast(qcells), "cell").join(
        F.broadcast(qs), "query_id"
    ).filter(F.col("vec_id") != F.col("query_id"))
    cos = F.round(
        _dot(_as_double(F.col("q")), _as_double(F.col("v")))
        / (F.col("_qnorm") * F.col("_vnorm")),
        ROUND_COS,
    )
    scored = cand.select("query_id", "vec_id", cos.alias("cos"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "cos")
    )


def assign_probes(vectors: DataFrame, queries: DataFrame, centroid_mod: int,
                  nprobe: int, vec_col: str = "embedding",
                  id_col: str = "vec_id",
                  centroids: DataFrame | None = None) -> DataFrame:
    """(query_id, cell) — each query's nprobe nearest centroids."""
    cents = centroids if centroids is not None else (
        vectors.filter(F.col(id_col) % centroid_mod == 0).select(
            F.col(id_col).alias("cell"), F.col(vec_col).alias("cv")
        )
    )
    cents = with_norm(cents, "cv").withColumnRenamed("_vnorm", "_cnorm")
    qs = with_norm(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q")),
        "q",
    ).withColumnRenamed("_vnorm", "_qnorm")
    cos = F.round(
        _dot(_as_double(F.col("q")), _as_double(F.col("cv")))
        / (F.col("_qnorm") * F.col("_cnorm")),
        ROUND_COS,
    )
    scored = qs.crossJoin(F.broadcast(cents)).select(
        "query_id", "cell", cos.alias("pcos")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("pcos"), F.asc("cell"))
    return (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= nprobe)
        .select("query_id", "cell")
    )


# --------------------------------------------------------------------
# Embedding-cosine near-duplicate detection (SRP-LSH + exact verify)
# --------------------------------------------------------------------

def srp_planes(dim: int, n_planes: int = 16) -> list[list[float]]:
    """Deterministic ±1 random-hyperplane matrix from md5(i,j) — the
    engine and the DuckDB oracle share the exact same planes (same trick
    as the minhash 'permutations', operators/dedup.py)."""
    import hashlib

    return [
        [
            1.0 if int(hashlib.md5(f"{i},{j}".encode()).hexdigest(), 16) % 2 == 0
            else -1.0
            for j in range(dim)
        ]
        for i in range(n_planes)
    ]


def embedding_near_dups(
    vectors: DataFrame,
    threshold: float = 0.9,
    dim: int | None = None,
    n_planes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bucket_cap: int = 1024,
) -> DataFrame:
    """(doc_a, doc_b, cos) near-duplicate pairs by embedding cosine.

    Signed-random-projection LSH (Charikar '02): signature bit i =
    sign(v · h_i) for deterministic ±1 hyperplanes; banded like minhash
    (P[band collision] = (1 - θ/π)^rows), candidate pairs verified with
    the exact float64 cosine and filtered at `threshold`. Candidate
    generation reuses lsh_candidate_pairs — including its oversize-bucket
    star-edge bound — so a corpus with millions of identical embeddings
    stays O(n). All JVM expressions; the plane dots are literal-array
    zip_with/aggregate, no Python in the loop."""
    from connectors_spark.operators.dedup import lsh_candidate_pairs

    if dim is None:
        head = vectors.select(vec_col).head(1)  # one-row driver peek
        if not head:
            return vectors.sparkSession.createDataFrame(
                [], "doc_a long, doc_b long, cos double"
            )
        dim = len(head[0][0])
    planes = srp_planes(dim, n_planes)
    v = _as_double(F.col(vec_col))
    sig_cols = [
        F.when(
            _dot(v, F.array(*[F.lit(x) for x in p])) >= 0, F.lit("1")
        ).otherwise(F.lit("0")).alias(f"s{i}")
        for i, p in enumerate(planes)
    ]
    sigs = vectors.select(F.col(id_col).alias("doc_id"), *sig_cols)
    pairs = lsh_candidate_pairs(sigs, bands, rows_per_band, bucket_cap)

    norms = with_norm(
        vectors.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")),
        "v",
    )
    a = norms.select(F.col("vec_id").alias("doc_a"), F.col("v").alias("va"),
                     F.col("_vnorm").alias("na"))
    b = norms.select(F.col("vec_id").alias("doc_b"), F.col("v").alias("vb"),
                     F.col("_vnorm").alias("nb"))
    return (
        pairs.join(a, "doc_a").join(b, "doc_b")
        .withColumn(
            "cos",
            F.round(
                _dot(_as_double(F.col("va")), _as_double(F.col("vb")))
                / (F.col("na") * F.col("nb")),
                ROUND_COS,
            ),
        )
        .filter(F.col("cos") >= threshold)
        .select("doc_a", "doc_b", "cos")
    )


def quantize_int8(df: DataFrame, vec_col: str = "embedding",
                  id_col: str = "vec_id", round_to: int = 6) -> DataFrame:
    """Per-vector scalar int8 quantization — the ES dense_vector
    `int8_*` index option (and the standard 4x memory lever for
    billion-vector ANN): code_i = floor((x_i - min) / scale + 0.5) with
    scale = (max - min) / 255, dequantized x'_i = min + code_i * scale.

    -> (vec_id, n_dims, qmin, qscale, codes_md5, cos_orig_deq): the
    quantization parameters, an md5 over the code sequence (so the gate
    pins every code without shipping arrays), and the cosine between
    the original and dequantized vector — the per-vector recall-
    preservation bound an ANN reader relies on.

    All math is JVM higher-order expressions over the array column (no
    UDF, no shuffle at all — embarrassingly parallel per row). floor(z
    + 0.5) instead of round(): round() half-up/half-even conventions
    differ across engines; floor is identical everywhere. Flat vectors
    (max == min) quantize to all-zero codes."""
    v = _as_double(F.col(vec_col))
    mn, mx = F.array_min(v), F.array_max(v)
    scale = (mx - mn) / F.lit(255.0)
    code = F.transform(
        v, lambda x: F.floor(
            F.coalesce((x - mn) / F.nullif(scale, F.lit(0.0)), F.lit(0.0))
            + F.lit(0.5)).cast("int"))
    deq = F.transform(code, lambda c: mn + c.cast("double") * scale)
    cos = _dot(v, deq) / F.nullif(
        F.sqrt(_dot(v, v)) * F.sqrt(_dot(deq, deq)), F.lit(0.0))
    return df.select(
        F.col(id_col).alias("vec_id"),
        F.size(v).alias("n_dims"),
        F.round(mn, round_to).alias("qmin"),
        F.round(scale, round_to).alias("qscale"),
        F.md5(F.array_join(
            F.transform(code, lambda c: c.cast("string")), ",")
        ).alias("codes_md5"),
        F.round(F.coalesce(cos, F.lit(1.0)), round_to).alias("cos_orig_deq"),
    )


def bbq_rescore_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    oversample: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ES quantized-kNN-with-rescore (the `dense_vector` int8/BBQ search
    path: quantized index scores cheaply, then `rescore_vector`
    re-scores an oversampled candidate set against the ORIGINAL float
    vectors): coarse pass = cosine of the query against the
    int8-dequantized corpus vector (quantize_int8's floor(z+0.5)
    engine-portable codes), keep k*oversample candidates per query,
    exact pass = full-precision cosine over candidates only, final
    top-k. -> (query_id, rank, vec_id, coarse, score).

    Scale shape: quantization is per-row JVM math (no shuffle); the
    coarse pass is the one corpus scan (queries broadcast); the exact
    pass touches exactly k*oversample rows per query. At a billion
    vectors the coarse representation is what an index stores — 4x
    smaller, and the expensive f64 math runs on 40 rows per query
    instead of 10^9. Both ranking cuts round scores first and break
    ties by vec_id, so candidate sets are engine-stable."""
    v = _as_double(F.col(vec_col))
    mn, mx = F.array_min(v), F.array_max(v)
    scale = (mx - mn) / F.lit(255.0)
    code = F.transform(
        v, lambda x: F.floor(
            F.coalesce((x - mn) / F.nullif(scale, F.lit(0.0)), F.lit(0.0))
            + F.lit(0.5)).cast("int"))
    deq = F.transform(code, lambda c: mn + c.cast("double") * scale)
    corpus = vectors.select(
        F.col(id_col).alias("vec_id"), v.alias("v"), deq.alias("deq"),
        F.sqrt(_dot(v, v)).alias("vn"),
        F.sqrt(_dot(deq, deq)).alias("dn"),
    )
    qs = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("q"),
    ).withColumn("qn", F.sqrt(_dot(F.col("q"), F.col("q"))))
    joined = corpus.crossJoin(F.broadcast(qs)).filter(
        F.col("vec_id") != F.col("query_id"))
    coarse = F.round(
        _dot(F.col("q"), F.col("deq")) / (F.col("qn") * F.col("dn")),
        ROUND_COS)
    wc = Window.partitionBy("query_id").orderBy(
        F.desc("coarse"), F.asc("vec_id"))
    cand = (
        joined.withColumn("coarse", coarse)
        .withColumn("_crk", F.row_number().over(wc))
        .filter(F.col("_crk") <= k * oversample)
    )
    exact = F.round(
        _dot(F.col("q"), F.col("v")) / (F.col("qn") * F.col("vn")),
        ROUND_COS)
    wr = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("vec_id"))
    return (
        cand.withColumn("score", exact)
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "vec_id", "coarse", "score")
    )


def semdedup(
    vectors: DataFrame,
    tau: float,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication scoped by embedding clusters. Assign every vector to
    its nearest centroid (broadcast argmin, same convention as
    _nearest_cell: cosine rounded to ROUND_COS, cell-id tie-break);
    within each cluster, any pair with cosine >= tau is a semantic
    duplicate, and the member KEPT is the one with the LOWEST
    similarity to its centroid (the paper's keep-peripheral rule —
    retains the least redundant exemplar), ties to the lower id.
    -> (vec_id, cell, ccos, keep).

    The drop rule is pairwise (x drops if SOME in-cluster duplicate y
    is more peripheral), so it needs no sequential greedy pass — one
    self-join per cluster, deterministic, and expressible verbatim in
    the oracle SQL.

    Scale shape: centroids are caller-fixed (init_centroids_fixed ->
    O(k) broadcast; kmeans_refine optional); the pairwise stage is
    cluster-scoped — its cost is sum of cell^2, controlled by k exactly
    as the paper runs it (they use k-means precisely to avoid corpus-
    level all-pairs). For uncapped corpora the SRP-LSH path
    (embedding_near_dups) is the bucketed alternative; semdedup is the
    cluster-scoped published method."""
    base = with_norm(
        vectors.select(F.col(id_col).alias("vec_id"),
                       F.col(vec_col).alias("v")), "v")
    cents = with_norm(centroids, "cv").withColumnRenamed(
        "_vnorm", "_cnorm")
    ccos = F.round(
        _dot(_as_double(F.col("v")), _as_double(F.col("cv")))
        / (F.col("_vnorm") * F.col("_cnorm")), ROUND_COS)
    scored = base.crossJoin(F.broadcast(cents)).select(
        "vec_id", "v", "_vnorm", "cell", ccos.alias("ccos"))
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("ccos"), F.asc("cell"))
    asg = (scored.withColumn("_r", F.row_number().over(w))
           .filter("_r = 1").drop("_r"))

    a = asg.select(F.col("vec_id").alias("xa"), F.col("cell"),
                   F.col("v").alias("va"), F.col("_vnorm").alias("na"),
                   F.col("ccos").alias("ca"))
    b = asg.select(F.col("vec_id").alias("xb"), F.col("cell"),
                   F.col("v").alias("vb"), F.col("_vnorm").alias("nb"),
                   F.col("ccos").alias("cb"))
    pair_cos = F.round(
        _dot(_as_double(F.col("va")), _as_double(F.col("vb")))
        / (F.col("na") * F.col("nb")), ROUND_COS)
    dropped = (
        a.join(b, "cell")
        .filter(F.col("xa") != F.col("xb"))
        .filter(pair_cos >= F.lit(tau))
        .filter((F.col("cb") < F.col("ca"))
                | ((F.col("cb") == F.col("ca"))
                   & (F.col("xb") < F.col("xa"))))
        .select(F.col("xa").alias("vec_id")).distinct()
    )
    return (
        asg.join(dropped.withColumn("_drop", F.lit(True)),
                 "vec_id", "left")
        .select("vec_id", "cell", "ccos",
                F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep"))
    )


def standardize_embeddings(df: DataFrame, vec_col: str = "embedding",
                           id_col: str = "vec_id",
                           eps: float = 1e-12) -> DataFrame:
    """Per-dimension standardization (x - mean) / std over an
    array<float> column — the feature-normalization step before
    cosine/kmeans/PCA when dimensions carry different scales.
    Population std (1/N), zero-variance dims map to 0 (eps floor).

    One pass computes every dim's mean and mean-of-squares via
    `posexplode` + groupBy(dim) (map-side combinable, never a per-dim
    scan); the stats table is `dim` rows — broadcast back and the
    transform is a JVM `transform(...)` over the array, no UDF."""
    ex = df.select(F.col(id_col),
                   F.posexplode(F.col(vec_col)).alias("i", "v"))
    stats = (ex.groupBy("i")
             .agg(F.avg(F.col("v").cast("double")).alias("mu"),
                  F.avg(F.col("v").cast("double")
                        * F.col("v").cast("double")).alias("m2"))
             .select("i", "mu",
                     F.sqrt(F.greatest(
                         F.col("m2") - F.col("mu") * F.col("mu"),
                         F.lit(0.0))).alias("sd"))
             .orderBy("i"))
    row = stats.agg(
        F.collect_list(F.struct("i", "mu", "sd")).alias("s")).collect()[0]
    mus = [x["mu"] for x in sorted(row["s"], key=lambda x: x["i"])]
    sds = [x["sd"] for x in sorted(row["s"], key=lambda x: x["i"])]
    mu_arr = F.array(*[F.lit(float(m)) for m in mus])
    sd_arr = F.array(*[F.lit(float(s)) for s in sds])
    dim = len(mus)
    out = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.when(
            F.element_at(sd_arr, i + 1) > eps,
            (F.element_at(F.col(vec_col), i + 1).cast("double")
             - F.element_at(mu_arr, i + 1))
            / F.element_at(sd_arr, i + 1),
        ).otherwise(F.lit(0.0)),
    )
    return df.select(F.col(id_col), out.alias("std_embedding"))


def pca_fit(df: DataFrame, k: int, vec_col: str = "embedding",
            id_col: str = "vec_id") -> tuple:
    """(components, mean, explained_ratio): top-k principal components
    of the embedding column.

    Scale shape: each partition accumulates its OWN d×d Gram matrix
    and d-vector sum in NumPy (mapInPandas — one output row per
    partition, carrying d*d+d+1 doubles), the driver sums O(partitions)
    partials and eigendecomposes the d×d covariance locally (d is the
    embedding width, 64 here — model-sized, not data-sized). The data
    never moves; driver traffic is partitions × d². Deterministic:
    sign convention fixes each component's largest-|coord| to +."""
    d = len(df.select(vec_col).first()[0])

    def gram(batches):
        g = np.zeros((d, d)); s = np.zeros(d); n = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            g += m.T @ m
            s += m.sum(axis=0)
            n += len(m)
        yield pd.DataFrame({"g": [g.ravel().tolist()],
                            "s": [s.tolist()], "n": [n]})

    parts = df.select(vec_col).mapInPandas(
        gram, schema="g array<double>, s array<double>, n long").collect()
    G = sum(np.array(p["g"]).reshape(d, d) for p in parts)
    S = sum(np.array(p["s"]) for p in parts)
    N = sum(p["n"] for p in parts)
    mean = S / N
    cov = G / N - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T  # (k, d)
    for i in range(comps.shape[0]):  # deterministic sign
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    total = float(np.clip(vals, 0, None).sum())
    ratio = float(np.clip(vals[order], 0, None).sum() / total) \
        if total > 0 else 0.0
    return comps, mean, ratio


def pca_project(df: DataFrame, components, mean,
                vec_col: str = "embedding",
                id_col: str = "vec_id",
                out_col: str = "pc") -> DataFrame:
    """(id, pc array<double>): project each vector onto the fitted
    components — the transform is a broadcast-literal JVM expression
    (k dot products per row, aggregate over zip_with), no UDF."""
    k, d = len(components), len(mean)
    mean_arr = F.array(*[F.lit(float(m)) for m in mean])
    outs = []
    for i in range(k):
        comp = F.array(*[F.lit(float(c)) for c in components[i]])
        centered = F.zip_with(F.col(vec_col).cast("array<double>"),
                              mean_arr, lambda a, b: a - b)
        outs.append(F.aggregate(
            F.zip_with(centered, comp, lambda a, b: a * b),
            F.lit(0.0), lambda acc, x: acc + x))
    return df.select(F.col(id_col), F.array(*outs).alias(out_col))


def _score_pairs(pairs: DataFrame, corpus: DataFrame) -> DataFrame:
    """(a, b, cos): exact rounded cosine for an (a, b) candidate-pair
    frame against a normed corpus ((vec_id, v, _vnorm))."""
    ea = corpus.select(F.col("vec_id").alias("a"), F.col("v").alias("_va"),
                       F.col("_vnorm").alias("_na"))
    eb = corpus.select(F.col("vec_id").alias("b"), F.col("v").alias("_vb"),
                       F.col("_vnorm").alias("_nb"))
    cos = F.round(
        _dot(_as_double(F.col("_va")), _as_double(F.col("_vb")))
        / (F.col("_na") * F.col("_nb")), ROUND_COS)
    return (pairs.join(ea, "a").join(eb, "b")
            .select("a", "b", cos.alias("cos")))


def _topk_edges(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("a").orderBy(F.desc("cos"), F.asc("b"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def nndescent_knn_graph(vectors: DataFrame, k: int = 10, iters: int = 2,
                        centroid_mod: int | None = None,
                        n_centroids: int | None = None,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """(vec_id, rank, nbr, cos): an approximate kNN GRAPH built by
    NN-Descent (Dong, Moses & Li, WWW 2011) — the batch answer to the
    graph-index (HNSW-class) family: HNSW's insert-one-at-a-time build
    is inherently sequential, NN-descent reaches a comparable graph by
    iterating "my neighbors' neighbors are probably my neighbors" as
    set-at-a-time joins, which is exactly Spark's shape.

    Deterministic by construction (no random sampling): the seed graph
    is top-k among IVF cell-mates (the same centroid seeding as
    ivf_cosine_topk — `centroid_mod` for the DuckDB-mirrorable gate,
    fixed `n_centroids` for the 100 TB default), then each iteration
    scores the undirected 1-hop ∪ 2-hop candidate set and keeps top-k
    per node (cos DESC, id ASC). Cost per iteration is bounded by
    O(n·k²) candidate pairs — never all-pairs; vectors move only
    through two repartition-by-id joins per iteration. The SEED join is
    the one skew hazard: it is sum over cells of |cell|², so a hot
    cell (one dense cluster) quadratically dominates — size the
    centroid set so expected |cell| stays small (n_centroids ~ n/256),
    exactly the IVF cell-balance knob. Isolated nodes (singleton
    cells) stay isolated in the seed and join the graph only as 2-hop
    candidates of others — document, don't hide.

    The RETURNED frame is persisted (it is re-scanned by every
    consumer join); the caller owns its release via ``.unpersist()``.
    All intermediates (normed corpus, per-iteration graphs) are
    unpersisted before return — nothing else stays pinned in executor
    storage across calls.

    Executor loss needs a job-level retry: the per-iteration graphs are
    `localCheckpoint`ed, kept only in executor storage with no lineage."""
    cents = None
    if centroid_mod is None:
        cents = init_centroids_fixed(
            vectors, n_centroids or DEFAULT_N_CENTROIDS, vec_col, id_col)
    cells = assign_cells(vectors, centroid_mod, vec_col, id_col,
                         centroids=cents)
    corpus = with_norm(
        vectors.select(F.col(id_col).alias("vec_id"),
                       F.col(vec_col).alias("v")), "v").persist()

    ca = cells.select(F.col("vec_id").alias("a"), "cell")
    cb = cells.select(F.col("vec_id").alias("b"), "cell")
    pairs0 = (ca.join(cb, "cell").filter(F.col("a") != F.col("b"))
              .select("a", "b"))
    g = _topk_edges(_score_pairs(pairs0, corpus), k).persist()
    g.count()
    for _ in range(int(iters)):
        # the undirected edge frame is referenced three times below
        # (both sides of the 2-hop self-join + the candidate union);
        # without a materialization barrier each reference re-executes
        # the distinct AND duplicates the subtree in the plan, which
        # compounds per iteration — localCheckpoint truncates the
        # lineage (tiny frame: n*k*2 edges; guide §5 trade)
        e = (g.select("a", "b")
             .unionByName(g.select(F.col("b").alias("a"),
                                   F.col("a").alias("b")))
             .distinct().localCheckpoint())
        two_hop = (e.alias("x").join(
            e.alias("y"), F.col("x.b") == F.col("y.a"))
            .select(F.col("x.a").alias("a"), F.col("y.b").alias("b"))
            .filter(F.col("a") != F.col("b")))
        cand = e.unionByName(two_hop).distinct()
        nxt = _topk_edges(_score_pairs(cand, corpus), k).persist()
        nxt.count()
        g.unpersist()
        g = nxt
    out = g.select(F.col("a").alias("vec_id"), "rank",
                   F.col("b").alias("nbr"), "cos").persist()
    out.count()  # materialize from g's cache, then release everything
    g.unpersist()
    corpus.unpersist()
    return out


def graph_beam_topk(vectors: DataFrame, queries: DataFrame,
                    graph: DataFrame, k: int = 10, beam: int = 4,
                    hops: int = 2,
                    centroid_mod: int | None = None,
                    n_centroids: int | None = None,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """(query_id, rank, vec_id, cos): query the NN-descent graph —
    the batch analog of HNSW search. Entry points are the `beam`
    nearest CENTROID vectors per query (the same deterministic seed
    set the graph was built around), then `hops` rounds of frontier
    expansion over the undirected edge set; the accumulated candidate
    set is scored exactly once against the query and top-k kept.
    Fixed-hop expansion keeps the whole search a static join DAG (no
    data-dependent iteration), so it is SQL-twinnable and its cost is
    bounded by O(beam·(2k)^hops) candidates per query.

    Executor loss needs a job-level retry: the frontier and candidate sets are
    `localCheckpoint`ed, kept only in executor storage with no lineage."""
    if centroid_mod is not None:
        cents = init_centroids(vectors, centroid_mod, vec_col, id_col)
    else:
        cents = init_centroids_fixed(
            vectors, n_centroids or DEFAULT_N_CENTROIDS, vec_col, id_col)
    qs = with_norm(
        queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("q")), "q"
    ).withColumnRenamed("_vnorm", "_qnorm")
    cn = with_norm(cents.select(F.col("cell").alias("vec_id"),
                                F.col("cv").alias("v")), "v")
    ccos = F.round(
        _dot(_as_double(F.col("q")), _as_double(F.col("v")))
        / (F.col("_qnorm") * F.col("_vnorm")), ROUND_COS)
    escored = qs.crossJoin(F.broadcast(cn)).select(
        "query_id", "vec_id", ccos.alias("ecos"))
    ew = Window.partitionBy("query_id").orderBy(F.desc("ecos"),
                                                F.asc("vec_id"))
    # the frontier, the undirected edge frame and each hop's candidate
    # set are all referenced twice-or-more downstream (cand feeds both
    # the next hop's join AND its union); left lazy, every reference
    # duplicates the whole upstream subtree, so the final plan grows
    # ~2^hops copies of the frontier/edge DAG and each copy re-executes
    # — measured 35 s PER SEARCH on a 500-vector corpus. These frames
    # are tiny (O(queries*beam*(2k)^hops) rows), so localCheckpoint
    # after each step truncates the lineage (guide §5) and the search
    # collapses to `hops` small join jobs.
    frontier = (escored.withColumn("_r", F.row_number().over(ew))
                .filter(F.col("_r") <= beam).select("query_id", "vec_id")
                .localCheckpoint())

    e = (graph.select(F.col("vec_id").alias("a"), F.col("nbr").alias("b"))
         .unionByName(graph.select(F.col("nbr").alias("a"),
                                   F.col("vec_id").alias("b")))
         .distinct().localCheckpoint())
    cand = frontier
    for _ in range(int(hops)):
        nxt = (cand.join(e, cand["vec_id"] == e["a"])
               .select("query_id", F.col("b").alias("vec_id")))
        cand = cand.unionByName(nxt).distinct().localCheckpoint()

    corpus = with_norm(
        vectors.select(F.col(id_col).alias("vec_id"),
                       F.col(vec_col).alias("v")), "v")
    scored = (cand.filter(F.col("vec_id") != F.col("query_id"))
              .join(corpus, "vec_id").join(F.broadcast(qs), "query_id")
              .select("query_id", "vec_id", F.round(
                  _dot(_as_double(F.col("q")), _as_double(F.col("v")))
                  / (F.col("_qnorm") * F.col("_vnorm")),
                  ROUND_COS).alias("cos")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"),
                                               F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "vec_id", "cos"))


def knn_distance_outliers(vectors: DataFrame, k: int = 5, top_n: int = 20,
                          vec_col: str = "embedding",
                          id_col: str = "vec_id") -> DataFrame:
    """ES ML outlier-detection analog (the `outlier_detection` data-frame
    analytics job; public distance-based scoring): each vector's outlier
    score is its cosine DISTANCE to its k-th nearest neighbor — points
    in dense neighborhoods score ~0, isolated points score high.
    Returns the ``top_n`` outliers ``(vec_id, kth_cos, score)``.

    This composes the exact brute-force kNN kernel, so it is the
    all-pairs baseline: run it on a bounded sample/partition (as the
    gate does). The scale path reuses the SRP-LSH bucketing of
    ``embedding_cosine_dups`` — per-bucket kNN gives each point a
    distance UNDER-estimate-free neighbor set without the n^2 sweep.
    Top-n via orderBy().limit() (TakeOrderedAndProject)."""
    nn = brute_force_cosine_topk(vectors, vectors, k=k,
                                 vec_col=vec_col, id_col=id_col)
    kth = nn.filter(F.col("rank") == k).select(
        F.col("query_id").alias(id_col),
        F.col("cos").alias("kth_cos"))
    return (kth.withColumn("score", F.round(1.0 - F.col("kth_cos"), ROUND_COS))
            .orderBy(F.desc("score"), F.asc(id_col))
            .limit(top_n))


def matryoshka_truncate(df: DataFrame, dim: int, vec_col: str = "embedding",
                        renorm: bool = True) -> DataFrame:
    """Matryoshka representation truncation (Kusupati et al. 2022, MRL):
    keep the first `dim` coordinates of an MRL-trained embedding and
    (optionally) L2-renormalize — the public recipe for trading recall
    for a `d/dim`-fold cut in vector storage, transfer, and dot-product
    cost. Renormalization does not change cosine RANKINGS (it cancels
    in the cosine ratio) but restores unit norm for downstream
    dot-product-as-cosine consumers. Pure JVM: one slice + one
    aggregate per row, no shuffle."""
    sliced = F.transform(F.slice(F.col(vec_col), 1, dim),
                         lambda x: x.cast("double"))
    if not renorm:
        # same array<double> schema on both paths — downstream code
        # must not change dtype based on a flag
        return df.withColumn(vec_col, sliced)
    nrm = F.sqrt(F.aggregate(
        sliced, F.lit(0.0), lambda acc, x: acc + x * x))
    # zero-prefix vectors stay zero instead of becoming all-NULL via
    # non-ANSI x/0; they rank last by cosine as callers expect
    out = F.when(nrm > 0, F.transform(sliced, lambda x: x / nrm)) \
        .otherwise(sliced)
    return df.withColumn(vec_col, out)


def embedding_contamination(train: DataFrame, eval_df: DataFrame,
                            threshold: float = 0.3,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id") -> DataFrame:
    """Embedding-space train/eval contamination audit — the semantic
    sibling of the n-gram `contamination_overlap` check: for every
    TRAIN vector, the max cosine against the eval/benchmark set and a
    contaminated flag at `threshold` (near-duplicate paraphrases that
    n-gram overlap misses). Returns (vec_id, eval_id, max_cos,
    contaminated).

    Scale shape: the EVAL side is broadcast — benchmark sets are small
    by construction (10^3-10^5 vectors), the train side streams once;
    one partitioned top-1 window per train vector, no shuffle of the
    corpus. For eval sets too big to broadcast, pre-bucket both sides
    with the SRP-LSH signatures (embedding_near_dups) and verify only
    bucket collisions — the documented degradation path of
    contamination_overlap applies unchanged."""
    ev = with_norm(
        eval_df.select(F.col(id_col).alias("eval_id"),
                       F.col(vec_col).alias("q")), "q"
    ).withColumnRenamed("_vnorm", "_qnorm")
    tr = with_norm(
        train.select(F.col(id_col).alias("vec_id"),
                     F.col(vec_col).alias("v")), "v")
    cos = F.round(
        _dot(_as_double(F.col("q")), _as_double(F.col("v")))
        / (F.col("_qnorm") * F.col("_vnorm")), ROUND_COS)
    scored = (tr.crossJoin(F.broadcast(ev))
              .select("vec_id", "eval_id", cos.alias("cos")))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"),
                                             F.asc("eval_id"))
    return (scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                "vec_id", "eval_id", F.col("cos").alias("max_cos"),
                (F.col("cos") >= threshold).cast("int")
                .alias("contaminated"),
            ))


# ---------------------------------------------------------------- PQ
# Product Quantization (Jegou et al. 2011) with asymmetric distance
# computation — the FAISS-shape memory/compute trade: d-dim vectors
# become M uint8 codes (M*log2(K) bits), queries stay full-precision
# and score against per-subspace lookup tables.

def pq_codebooks_sampled(vectors: DataFrame, m_subs: int = 8,
                         k_codes: int = 16,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id") -> DataFrame:
    """(m, code, cw): deterministic sampled codebooks — codeword c of
    subspace m is the m-th subvector of the vector with id c*floor(n/K)
    (the IVF centroid_mod convention, so the DuckDB oracle reproduces
    it). Production training refines each subspace codebook with
    kmeans_refine (cosine Lloyd; for L2-faithful PQ swap the assignment
    metric — encode/ADC are metric-agnostic over any (m, code, cw)
    frame, pytest-pinned). Selection is a pushed-down id filter — no
    window, no sort, O(M*K) rows out."""
    n = vectors.count()
    step = max(1, n // k_codes)
    picked = (vectors.select(F.col(id_col).alias("vec_id"),
                             F.col(vec_col).alias("v"))
              .filter((F.col("vec_id") % step == 0)
                      & (F.col("vec_id") < k_codes * step)))
    subs = picked.select(
        F.expr(f"vec_id div {step}").cast("int").alias("code"),
        F.posexplode(F.expr(
            f"transform(sequence(0, {m_subs - 1}), "
            f"m -> slice(v, m * (size(v) div {m_subs}) + 1, "
            f"size(v) div {m_subs}))")).alias("m", "cw"),
    )
    return subs.select("m", "code", "cw")


def pq_encode(vectors: DataFrame, codebooks: DataFrame,
              m_subs: int = 8, vec_col: str = "embedding",
              id_col: str = "vec_id") -> DataFrame:
    """(vec_id, m, code): nearest codeword per subspace (L2, distances
    rounded to 6 so the argmin is engine-reproducible, ties to the
    lowest code). Codebooks broadcast (O(M*K)); the argmin is
    min(struct(dist, code)) — one groupBy per (vec, m), map-side
    combinable, no window."""
    sub = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(F.expr(
            f"transform(sequence(0, {m_subs - 1}), "
            f"m -> slice({vec_col}, "
            f"m * (size({vec_col}) div {m_subs}) + 1, "
            f"size({vec_col}) div {m_subs}))")).alias("m", "sv"),
    )
    j = sub.join(F.broadcast(codebooks), "m")
    dist = F.round(F.aggregate(
        F.zip_with(F.col("sv"), F.col("cw"),
                   lambda a, b: (a.cast("double") - b.cast("double"))
                   * (a.cast("double") - b.cast("double"))),
        F.lit(0.0), lambda acc, x: acc + x), ROUND_COS)
    scored = j.select("vec_id", "m",
                      F.struct(dist.alias("d"),
                               F.col("code").alias("code")).alias("s"))
    return (scored.groupBy("vec_id", "m")
            .agg(F.min("s").alias("s"))
            .select("vec_id", "m", F.col("s.code").alias("code")))


def _adc_rank(scored_pairs: DataFrame, k: int) -> DataFrame:
    """Shared ADC scoring tail: sum the per-subspace LUT partials per
    (query, vec), round to ROUND_COS, rank desc with vec_id tie-break —
    ONE definition so plain-PQ and IVF-PQ can never rank differently
    for identical codes."""
    scored = (scored_pairs.groupBy("query_id", "vec_id")
              .agg(F.round(F.sum("p"), ROUND_COS).alias("approx_dot")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_dot"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "vec_id", "approx_dot"))


def pq_adc_topk(codes: DataFrame, codebooks: DataFrame,
                queries: DataFrame, k: int = 10, m_subs: int = 8,
                vec_col: str = "embedding",
                id_col: str = "vec_id") -> DataFrame:
    """(query_id, rank, vec_id, approx_dot): asymmetric distance
    computation — per query, dot each subquery against every codeword
    ONCE (the M x K lookup table, rounded to 6), then every encoded
    vector scores as the sum of M table lookups. LUT broadcast-joins
    the code stream on (m, code); one (query, vec) agg; top-k via
    per-query window over the scored frame. The corpus is touched as
    codes only — the full vectors never move."""
    lut = _pq_lut(queries, codebooks, m_subs, vec_col, id_col)
    pairs = (codes.join(F.broadcast(lut), ["m", "code"])
             .filter(F.col("vec_id") != F.col("query_id")))
    # docs missing any subspace row cannot occur: pq_encode emits
    # exactly m_subs rows per vec
    return _adc_rank(pairs, k)


def _pq_lut(queries: DataFrame, codebooks: DataFrame, m_subs: int,
            vec_col: str, id_col: str) -> DataFrame:
    """(query_id, m, code, p): per-query dot of each subquery against
    every codeword, rounded to 6 — the ADC lookup table (O(Q*M*K))."""
    qsub = queries.select(
        F.col(id_col).alias("query_id"),
        F.posexplode(F.expr(
            f"transform(sequence(0, {m_subs - 1}), "
            f"m -> slice({vec_col}, "
            f"m * (size({vec_col}) div {m_subs}) + 1, "
            f"size({vec_col}) div {m_subs}))")).alias("m", "qv"),
    )
    return qsub.join(F.broadcast(codebooks), "m").select(
        "query_id", "m", "code",
        F.round(F.aggregate(
            F.zip_with(F.col("qv"), F.col("cw"),
                       lambda a, b: a.cast("double") * b.cast("double")),
            F.lit(0.0), lambda acc, x: acc + x), ROUND_COS).alias("p"),
    )


def ivf_pq_topk(vectors: DataFrame, queries: DataFrame, k: int = 10,
                centroid_mod: int | None = None, nprobe: int = 4,
                m_subs: int = 8, k_codes: int = 16,
                vec_col: str = "embedding", id_col: str = "vec_id",
                centroids: DataFrame | None = None,
                codebooks: DataFrame | None = None) -> DataFrame:
    """IVF-PQ — the full FAISS index shape: coarse quantizer routes
    each query to its nprobe nearest cells, fine Product-Quantization
    codes score ONLY the probed cells' members via ADC lookup tables.
    The corpus moves as (cell, M codes) per vector — neither the
    vectors nor the un-probed cells are touched at query time; the
    centroid set and codebooks broadcast (O(cells + M*K)). Same
    deterministic seeding conventions as ivf_cosine_topk /
    pq_codebooks_sampled so the DuckDB oracle replays the identical
    index; production swaps in kmeans-refined centroids/codebooks
    through the `centroids`/`codebooks` hooks."""
    cells = assign_cells(vectors, centroid_mod, vec_col, id_col,
                         centroids=centroids)
    qcells = assign_probes(vectors, queries, centroid_mod, nprobe,
                           vec_col, id_col, centroids=centroids)
    cb = codebooks if codebooks is not None else pq_codebooks_sampled(
        vectors, m_subs, k_codes, vec_col, id_col)
    codes = pq_encode(vectors, cb, m_subs, vec_col, id_col)
    lut = _pq_lut(queries, cb, m_subs, vec_col, id_col)
    cand = (codes.join(cells, "vec_id")
            .join(F.broadcast(qcells), "cell")
            .filter(F.col("vec_id") != F.col("query_id")))
    pairs = cand.join(F.broadcast(lut), ["query_id", "m", "code"])
    return _adc_rank(pairs, k)


BIT_WORD = 32  # pack sign bits into 32-bit words: exact in int64 AND in
# DuckDB's BIGINT pow() replay, so the oracle can rebuild identical codes


def sign_bit_codes(df: DataFrame, dim: int, word_bits: int = BIT_WORD,
                   vec_col: str = "embedding",
                   id_col: str = "vec_id") -> DataFrame:
    """Binary-quantize an embedding column to sign-bit codes — the ES
    `dense_vector` `element_type: bit` storage shape (one bit per
    dimension, 32x smaller than float32; ES docs "Bit vectors").

    bit j = 1 iff v[j] >= 0; bits pack little-endian into
    ceil(dim/word_bits) integer words. Pure JVM expression (aggregate
    over a literal index sequence per word — no Python, no shuffle):
    the corpus pass is a narrow map, so at 10^9+ vectors codes are
    written once and every downstream distance touches dim/8 bytes per
    vector instead of 4*dim.
    """
    v = _as_double(F.col(vec_col))
    n_words = (dim + word_bits - 1) // word_bits
    words = [
        F.aggregate(
            F.sequence(F.lit(w * word_bits),
                       F.lit(min((w + 1) * word_bits, dim) - 1)),
            F.lit(0).cast("long"),
            lambda acc, j: acc + F.when(
                F.element_at(v, (j + 1).cast("int")) >= 0,
                F.pow(F.lit(2.0), (j % word_bits).cast("double"))
                .cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )
        for w in range(n_words)
    ]
    return df.select(F.col(id_col).alias("vec_id"),
                     F.array(*words).alias("code"))


def binary_hamming_topk(vectors: DataFrame, queries: DataFrame,
                        k: int = 10, dim: int = 64,
                        rescore_mult: int = 0,
                        word_bits: int = BIT_WORD,
                        vec_col: str = "embedding",
                        id_col: str = "vec_id") -> DataFrame:
    """Bit-vector kNN — ES `element_type: bit` search semantics: distance
    between two bit vectors is the Hamming distance over their packed
    words (ES scores bit vectors with `hamming` regardless of the
    declared similarity). Returns (query_id, rank, vec_id, hamming),
    rank by hamming ASC with vec_id tie-break, self excluded.

    With rescore_mult > 0, replays ES's quantized-knn oversample+rescore
    pattern (same shape as bbq_rescore_topk): take k*rescore_mult
    candidates by hamming, re-rank just those with exact float cosine,
    and return (query_id, rank, vec_id, cos).

    Scale shape: codes built in one narrow corpus pass (sign_bit_codes);
    queries broadcast; hamming = sum(bit_count(xor)) over dim/32 words —
    whole-stage-codegen JVM, 32x less data moved than the float scan;
    per-query top-k is a bounded window. Integer-exact scores mean the
    gate needs no float rounding to agree with the oracle.

    Reference context: the service stores ML-inference vectors through
    its pipeline mapping (svc/es/settings.py ingest pipeline palette) and
    delegates kNN to ES — this operator is that search path, Spark-native
    at the bit-quantized tier.
    """
    corpus = sign_bit_codes(vectors, dim, word_bits, vec_col, id_col)
    qs = (sign_bit_codes(queries, dim, word_bits, vec_col, id_col)
          .select(F.col("vec_id").alias("query_id"),
                  F.col("code").alias("qcode")))
    joined = corpus.crossJoin(F.broadcast(qs)).filter(
        F.col("vec_id") != F.col("query_id"))
    ham = F.aggregate(
        F.zip_with(F.col("qcode"), F.col("code"),
                   lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0).cast("long"), lambda acc, x: acc + x,
    ).cast("int")
    scored = joined.select("query_id", "vec_id", ham.alias("hamming"))
    w = Window.partitionBy("query_id").orderBy(
        F.asc("hamming"), F.asc("vec_id"))
    ranked = (scored.withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= (k * rescore_mult if rescore_mult
                                        else k)))
    if not rescore_mult:
        return ranked.select("query_id", "rank", "vec_id", "hamming")
    cand = ranked.select("query_id", "vec_id")
    corpus_f = with_norm(
        vectors.select(F.col(id_col).alias("vec_id"),
                       F.col(vec_col).alias("v")), "v")
    qs_f = (with_norm(
        queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("q")), "q")
        .withColumnRenamed("_vnorm", "_qnorm"))
    exact = (cand.join(corpus_f, "vec_id").join(F.broadcast(qs_f),
                                                "query_id"))
    cos = F.round(_dot(_as_double(F.col("q")), _as_double(F.col("v")))
                  / (F.col("_qnorm") * F.col("_vnorm")), ROUND_COS)
    rescored = exact.select("query_id", "vec_id", cos.alias("cos"))
    w2 = Window.partitionBy("query_id").orderBy(F.desc("cos"),
                                                F.asc("vec_id"))
    return (rescored.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "vec_id", "cos"))


def mmr_rerank(vectors: DataFrame, queries: DataFrame, k: int = 3,
               fetch_k: int = 8, lam: float = 0.7,
               vec_col: str = "embedding",
               id_col: str = "vec_id") -> DataFrame:
    """Maximal Marginal Relevance diversified reranking (Carbonell &
    Goldstein, SIGIR 1998) — the standard RAG retrieve-then-diversify
    step: fetch `fetch_k` candidates by cosine, then greedily select k
    of them, each step taking the candidate maximizing

        mmr = lam * rel(q, c) - (1 - lam) * max_{s in selected} sim(c, s)

    so near-duplicate passages can't crowd the context window.

    Returns (query_id, step, vec_id, mmr_score); step is the 1-based
    selection order, the first step's penalty term is 0 by convention.

    Determinism: rel and sim are cosines rounded to 6, then lifted to
    exact micro-unit INTEGERS, and lam is quantized to permille, so the
    greedy combination is integer arithmetic — no double-rounding
    boundary can flip an argmax between engines or partitionings (a
    float mmr hit exactly that: 0.7*rel - 0.30000000000000004*pen
    landed on a .5 ulp at 6 decimals). mmr_score = mmr_units / 1e9,
    the same integer divided by the same constant on both sides.
    vec_id breaks every tie.

    Scale shape: the greedy recurrence is sequential in k but k is the
    context-window budget (tiny, fixed); each round is one broadcast
    join + bounded window over fetch_k rows PER QUERY — a static
    k-round join DAG like graph_beam_topk, never a per-row loop.
    Candidate pair similarities are fetch_k^2 per query, computed once.
    """
    lam_pm = int(round(float(lam) * 1000))
    cand = brute_force_cosine_topk(
        vectors, queries, k=fetch_k, vec_col=vec_col, id_col=id_col
    ).select("query_id", "vec_id",
             F.round(F.col("cos") * 1e6).cast("long").alias("rel_u"))
    corpus = with_norm(
        vectors.select(F.col(id_col).alias("vec_id"),
                       F.col(vec_col).alias("v")), "v")
    a = (cand.select("query_id", F.col("vec_id").alias("a"))
         .join(corpus.select(F.col("vec_id").alias("a"),
                             F.col("v").alias("va"),
                             F.col("_vnorm").alias("na")), "a"))
    b = (cand.select("query_id", F.col("vec_id").alias("b"))
         .join(corpus.select(F.col("vec_id").alias("b"),
                             F.col("v").alias("vb"),
                             F.col("_vnorm").alias("nb")), "b"))
    sim_u = F.round(F.round(_dot(_as_double(F.col("va")),
                                 _as_double(F.col("vb")))
                            / (F.col("na") * F.col("nb")),
                            ROUND_COS) * 1e6).cast("long")
    sims = (a.join(b, "query_id")
            .filter(F.col("a") != F.col("b"))
            .select("query_id", "a", "b", sim_u.alias("sim_u"))).cache()
    score = (F.col("mmr_u").cast("double") / F.lit(1e9))
    selected = None  # (query_id, step, vec_id, mmr_score)
    remaining = cand
    for step in range(1, k + 1):
        if selected is None:
            penalty = remaining.select(
                "query_id", "vec_id", F.lit(0).cast("long").alias("pen_u"))
        else:
            sel_ids = selected.select("query_id",
                                      F.col("vec_id").alias("b"))
            penalty = (remaining.select("query_id",
                                        F.col("vec_id").alias("a"))
                       .join(sel_ids, "query_id")
                       .join(sims, ["query_id", "a", "b"])
                       .groupBy("query_id", F.col("a").alias("vec_id"))
                       .agg(F.max("sim_u").alias("pen_u")))
        scored = (remaining.join(penalty, ["query_id", "vec_id"])
                  .select("query_id", "vec_id",
                          (F.lit(lam_pm) * F.col("rel_u")
                           - F.lit(1000 - lam_pm) * F.col("pen_u"))
                          .alias("mmr_u")))
        w = Window.partitionBy("query_id").orderBy(
            F.desc("mmr_u"), F.asc("vec_id"))
        pick = (scored.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .select("query_id", F.lit(step).alias("step"),
                        "vec_id", score.alias("mmr_score")))
        selected = pick if selected is None else selected.unionByName(pick)
        remaining = remaining.join(
            pick.select("query_id", "vec_id"),
            ["query_id", "vec_id"], "left_anti")
    return selected


def label_centroid_similarity(emb: DataFrame, label_col: str = "label",
                              vec_col: str = "embedding",
                              round_to: int = 6) -> DataFrame:
    """Pairwise cosine between group centroids — the data-mix
    redundancy diagnostic (two sources/classes whose centroids sit at
    cosine ~1 contribute near-duplicate distributional mass; mixture
    weights should see them as one pool). Doc-level near-dup is
    SemDeDup's job; this is the GROUP-level summary curators read.

    Shape: element-wise centroid means via posexplode + (label, dim)
    groupBy (the embedding_mean_pool shape — shuffle key space is
    labels x dims, never rows x dims in one task), components ROUNDED
    after full aggregation (summation order can't flip the hash), then
    a labels^2 x dims pairwise join on the dim key — bounded by the
    label catalog squared, never the corpus.

    -> (label_a, label_b, cos) for label_a < label_b."""
    ex = emb.select(F.col(label_col).alias("lab"),
                    F.posexplode(vec_col).alias("i", "v"))
    cent = (ex.groupBy("lab", "i").agg(F.avg("v").alias("m"))
            .select("lab", "i", F.round("m", round_to).alias("m")))
    a = cent.select(F.col("lab").alias("label_a"), "i",
                    F.col("m").alias("ma"))
    b = cent.select(F.col("lab").alias("label_b"), "i",
                    F.col("m").alias("mb"))
    pair = a.join(b, "i").filter(F.col("label_a") < F.col("label_b"))
    acc = pair.groupBy("label_a", "label_b").agg(
        F.sum(F.col("ma") * F.col("mb")).alias("dot"),
        F.sum(F.col("ma") * F.col("ma")).alias("na2"),
        F.sum(F.col("mb") * F.col("mb")).alias("nb2"))
    return acc.select(
        "label_a", "label_b",
        F.round(F.col("dot") / F.sqrt(F.col("na2") * F.col("nb2")),
                round_to).alias("cos"))
