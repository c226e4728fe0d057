"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — the dot product stays JVM-side
via F.zip_with + F.aggregate (no Python per row). Scale path: random-
hyperplane LSH bucketing, with the within-bucket scoring done in a
single Arrow-batched pandas stage (numpy matmul per bucket).

At 100 TB the brute-force path is a full scan per query — fine for a
broadcast query batch (one pass scores ALL queries: cross join with
the tiny query side broadcast). The LSH path cuts the scan to matching
buckets and is the default for self-join (all-pairs) workloads.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from elasticsearch_spark.spread import spread_input


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return df.withColumn("_vec", v).withColumn(
        "_norm", F.sqrt(_dot(F.col("_vec"), F.col("_vec")))
    )


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k for ONE query vector: the exact baseline.
    Returns (id, cosine) ordered desc, id asc."""
    q = [float(x) for x in query_vec]
    qn = float(np.sqrt(np.dot(q, q)))
    # corpus side re-spread: the interpreted zip_with/aggregate fold is
    # the per-row cost center and a 1-row-group parquet scan would run
    # it on one core (guide §2.5; no-op on well-split inputs)
    d = with_norm(spread_input(df), vec_col)
    qcol = F.array(*[F.lit(x) for x in q])
    cos = _dot(F.col("_vec"), qcol) / (F.col("_norm") * F.lit(qn))
    return (
        d.select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def cosine_topk_batch(
    df: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Top-k per query for a (small, broadcastable) query batch: one
    scan of the corpus, crossJoin(broadcast(queries)), window top-k."""
    d = with_norm(spread_input(df), vec_col)
    q = with_norm(queries, q_vec_col).select(
        F.col(q_id_col),
        F.col("_vec").alias("_qvec"),
        F.col("_norm").alias("_qnorm"),
    )
    cos = _dot(F.col("_vec"), F.col("_qvec")) / (F.col("_norm") * F.col("_qnorm"))
    scored = d.crossJoin(F.broadcast(q)).select(
        F.col(q_id_col), F.col(id_col), cos.alias("cosine")
    )
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(q_id_col, id_col, "cosine", F.col("_rn").alias("rank"))
    )


def hyperplane_signatures(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    n_tables: int = 1,
) -> DataFrame:
    """Random-hyperplane LSH bucket ids: sign pattern of n_planes dot
    products, for ``n_tables`` independent plane sets (multi-table LSH:
    a pair is a candidate if it collides in ANY table — the recall
    knob). One Arrow-batched numpy pass emits (id, table, bucket)."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables, dim, n_planes))

    def sign_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            m = np.vstack(pdf[vec_col].to_numpy())  # (n, dim)
            ids = pdf[id_col].to_numpy()
            outs = []
            for t in range(n_tables):
                bits = (m @ planes[t]) > 0  # (n, n_planes)
                bucket = np.zeros(len(pdf), dtype=np.int64)
                for j in range(n_planes):
                    bucket |= bits[:, j].astype(np.int64) << j
                outs.append(
                    pd.DataFrame({id_col: ids, "table": t, "bucket": bucket})
                )
            yield pd.concat(outs, ignore_index=True)

    return df.select(id_col, vec_col).mapInPandas(
        sign_batch, schema=f"{id_col} long, table int, bucket long"
    )


def vector_score_topk(
    df: DataFrame,
    query_vec: list[float],
    fn: str = "cosine",
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """script_score vector functions (reference: x-pack/plugin/vectors/
    .../query/ScoreScriptUtils.java — cosineSimilarity, dotProduct,
    l1norm, l2norm over a dense_vector field). All four stay JVM-side
    (zip_with/aggregate fold). Distance functions rank ASCENDING
    (nearest first), similarities DESCENDING — the score the reference
    derives in the script (e.g. 1/(1+l2norm)) is monotone in this
    ordering."""
    q = [float(x) for x in query_vec]
    d = with_norm(spread_input(df), vec_col)
    qcol = F.array(*[F.lit(x) for x in q])
    if fn == "cosine":
        qn = float(np.sqrt(np.dot(q, q)))
        col = _dot(F.col("_vec"), qcol) / (F.col("_norm") * F.lit(qn))
        asc = False
    elif fn == "dot_product":
        col = _dot(F.col("_vec"), qcol)
        asc = False
    elif fn == "l1norm":
        col = F.aggregate(
            F.zip_with(F.col("_vec"), qcol, lambda x, y: F.abs(x - y)),
            F.lit(0.0), lambda acc, x: acc + x)
        asc = True
    elif fn == "l2norm":
        col = F.sqrt(F.aggregate(
            F.zip_with(F.col("_vec"), qcol, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, x: acc + x))
        asc = True
    else:
        raise ValueError(f"unknown vector score fn {fn!r}")
    out = d.select(F.col(id_col), col.alias("score"))
    order = [F.asc("score") if asc else F.desc("score"), F.asc(id_col)]
    return out.orderBy(*order).limit(k)


def ivf_build(
    df: DataFrame,
    n_clusters: int = 64,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, np.ndarray]:
    """IVF coarse quantizer: deterministic k-means over the corpus.

    Init is the ``n_clusters`` vectors with the smallest xxhash64(id)
    (a seeded uniform sample, reproducible across runs); each Lloyd
    iteration is (a) one Arrow-batched assignment pass against the
    broadcast centroid matrix and (b) one posexplode + groupBy(cluster,
    dim) mean — the standard distributed k-means shuffle of
    O(rows x dim) scalars with map-side partial aggregation. Centroids
    (n_clusters x dim doubles) always fit the driver.

    Returns (assignments ``(id, cluster)``, centroid matrix). At 100 TB
    you persist the assignment partitioned BY cluster, so a query's
    nprobe clusters prune to nprobe partitions at scan time."""
    init_rows = (
        df.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col).cast("string")).asc(), F.col(id_col).asc())
        .limit(n_clusters)
        .collect()
    )
    centroids = np.array([[float(x) for x in r[vec_col]] for r in init_rows])

    for _ in range(iters):
        assigned = ivf_assign(df, centroids, vec_col, id_col)
        sums = (
            assigned.join(df.select(id_col, vec_col), id_col)
            .select("cluster", F.posexplode(F.col(vec_col)).alias("dim", "val"))
            .groupBy("cluster", "dim")
            .agg(F.avg(F.col("val").cast("double")).alias("mean"))
            .collect()
        )
        new = centroids.copy()
        for r in sums:
            new[r["cluster"], r["dim"]] = r["mean"]
        centroids = new
    return ivf_assign(df, centroids, vec_col, id_col), centroids


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-centroid assignment (cosine): one mapInPandas matmul per
    Arrow batch against the broadcast centroid matrix."""
    cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(cn)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        for pdf in batches:
            m = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            yield pd.DataFrame({
                "__id": pdf[id_col],
                "cluster": (m @ c.T).argmax(axis=1).astype("int32"),
            })

    out = df.select(id_col, vec_col).mapInPandas(
        assign, schema=f"__id long, cluster int"
    )
    return out.withColumnRenamed("__id", id_col)


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    assignments: DataFrame | None = None,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` centroids nearest
    the query, exact cosine only within those inverted lists. With
    nprobe == n_clusters this is EXACTLY brute force (the oracle-
    checkable configuration); recall at nprobe < n_clusters is gated
    in tests. Pass a prebuilt (assignments, centroids) to amortize the
    build across queries — the production shape."""
    if assignments is None or centroids is None:
        assignments, centroids = ivf_build(
            df, n_clusters, iters, vec_col, id_col)
    q = np.asarray([float(x) for x in query_vec])
    cn = centroids / np.maximum(
        np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
    )
    sims = cn @ (q / max(np.linalg.norm(q), 1e-12))
    probes = [int(c) for c in np.argsort(-sims)[:nprobe]]
    subset = df.join(
        assignments.where(F.col("cluster").isin(probes)).select(id_col),
        id_col, "left_semi",
    )
    return cosine_topk(subset, list(query_vec), k, vec_col, id_col)


def ann_self_join(
    df: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 12,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    n_tables: int = 8,
    max_bucket: int = 2000,
    chunk_rows: int = 1024,
) -> DataFrame:
    """Approximate all-pairs top-k neighbours: bucket by multi-table
    hyperplane LSH, exact cosine within each (table, bucket) via numpy
    matmul (applyInPandas), global per-id top-k merge. Recall grows
    with n_tables / fewer planes; this is the scale path for 10^9+
    vectors (brute force is O(n^2)).

    Skew guards (real embedding corpora CLUSTER, so hyperplane buckets
    can go degenerate):
      - ``max_bucket``: a bucket larger than this is deterministically
        truncated to its ``max_bucket`` smallest ids (same policy as
        dedup.minhash_lsh_pairs) — its pairs usually collide again in
        another table, so recall degrades gracefully instead of one
        task going O(|bucket|^2).
      - ``chunk_rows``: the similarity matrix is computed in row chunks,
        bounding memory at O(chunk_rows * |bucket|) instead of
        O(|bucket|^2)."""
    sig = hyperplane_signatures(
        df, dim, n_planes, vec_col, id_col, seed, n_tables=n_tables
    )
    joined = df.select(id_col, vec_col).join(sig, id_col)

    def bucket_knn(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
            {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
        )
        if len(pdf) < 2:
            return empty
        if len(pdf) > max_bucket:
            pdf = pdf.nsmallest(max_bucket, id_col)
        ids = pdf[id_col].to_numpy()
        m = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(m, axis=1)
        n = len(pdf)
        kk = min(k, n - 1)
        parts = []
        for lo in range(0, n, chunk_rows):
            hi = min(lo + chunk_rows, n)
            sims = (m[lo:hi] @ m.T) / np.outer(norms[lo:hi], norms)
            sims[np.arange(lo, hi) - lo, np.arange(lo, hi)] = -np.inf
            nbr = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            parts.append(pd.DataFrame({
                "id_a": np.repeat(ids[lo:hi], kk),
                "id_b": ids[nbr.ravel()],
                "cosine": np.take_along_axis(sims, nbr, axis=1).ravel(),
            }))
        return pd.concat(parts, ignore_index=True) if parts else empty

    cand = joined.groupBy("table", "bucket").applyInPandas(
        bucket_knn, schema="id_a long, id_b long, cosine double"
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("cosine"), F.asc("id_b"))
    return (
        cand.dropDuplicates(["id_a", "id_b"])
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("id_a", "id_b", "cosine", F.col("_rn").alias("rank"))
    )


def knn_search(
    df: DataFrame,
    query_vector: list[float] | None,
    k: int = 10,
    num_candidates: int = 100,
    similarity: str = "cosine",
    filter_cond=None,
    boost: float = 1.0,
    strategy: str = "exact",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    iters: int = 1,
    min_similarity: float | None = None,
    query_vector_builder: dict | None = None,
) -> DataFrame:
    """The top-level `knn` search section (reference:
    server/.../search/vectors/KnnSearchBuilder.java wrapping Lucene's
    KnnFloatVectorQuery): gather candidates per shard, merge to a
    global top-k, with the pre-filter applied DURING candidate
    collection rather than to the finished hit list.

    Spark shape: scoring is one Catalyst fold over the (filtered)
    vector scan and TakeOrderedAndProject IS the reference's
    per-shard-gather + coordinator-merge — each partition emits its
    local top-k, the driver merges; the filter sits below the sort so
    it prunes candidates exactly like the reference's filtered knn.
    `strategy="ivf"` routes through ivf_topk (nprobe =
    ceil(num_candidates / (n/n_clusters)) inverted lists probed) — the
    ANN path where num_candidates is a real recall knob; on the exact
    path the gather is already exact so num_candidates is a no-op.

    Scores use the dense_vector similarity→score transforms
    (DenseVectorFieldMapper.VectorSimilarityType): cosine →
    (1 + cos) / 2, l2_norm → 1 / (1 + d²), dot_product →
    (1 + dot) / 2, max_inner_product → piecewise 1/(1-mip) | mip+1.

    ``min_similarity`` is the knn section's ``similarity`` cutoff
    (KnnSearchBuilder: "minimum similarity for a vector to be
    considered a match"), expressed in METRIC space like the
    reference: cosine/dot/mip require metric >= cutoff, l2_norm
    requires DISTANCE <= cutoff. The predicate sits below the top-k
    sort, so it prunes candidates, not finished hits.
    """
    if query_vector is not None and query_vector_builder is not None:
        # KnnSearchBuilder rejects specifying both; silently ignoring
        # the builder would mask a caller bug
        raise ValueError(
            "knn takes query_vector OR query_vector_builder, not both")
    if query_vector is None:
        if query_vector_builder is None:
            raise ValueError(
                "knn needs query_vector or query_vector_builder")
        query_vector = resolve_query_vector_builder(query_vector_builder)
    q = [float(x) for x in query_vector]
    if strategy == "ivf":
        if similarity != "cosine":
            raise ValueError("ivf strategy supports cosine only")
        if min_similarity is not None:
            raise ValueError(
                "min_similarity is an exact-path cutoff; ivf candidates "
                "are approximate — filter the ivf_topk result instead")
        base = df if filter_cond is None else df.filter(filter_cond)
        per_list = max(1, base.count() // max(n_clusters, 1))
        nprobe = min(n_clusters,
                     max(1, -(-num_candidates // per_list)))
        hits = ivf_topk(base, q, k=k, n_clusters=n_clusters,
                        nprobe=nprobe, iters=iters, vec_col=vec_col,
                        id_col=id_col)
        score = (F.lit(1.0) + F.col("cosine")) / 2
        return (hits.select(F.col(id_col),
                            (score * F.lit(float(boost))).alias("score"))
                .orderBy(F.desc("score"), F.asc(id_col)))
    d = with_norm(spread_input(df), vec_col)
    if filter_cond is not None:
        d = d.filter(filter_cond)
    qcol = F.array(*[F.lit(x) for x in q])
    dot = _dot(F.col("_vec"), qcol)
    metric = None
    if similarity == "cosine":
        qn = float(np.sqrt(np.dot(q, q)))
        metric = dot / (F.col("_norm") * F.lit(qn))
        score = (F.lit(1.0) + metric) / 2
    elif similarity == "dot_product":
        metric = dot
        score = (F.lit(1.0) + dot) / 2
    elif similarity == "l2_norm":
        d2 = F.aggregate(
            F.zip_with(F.col("_vec"), qcol, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, x: acc + x)
        metric = -F.sqrt(d2)  # cutoff below compares distance <= t
        score = F.lit(1.0) / (F.lit(1.0) + d2)
    elif similarity == "max_inner_product":
        metric = dot
        score = F.when(dot < 0, F.lit(1.0) / (F.lit(1.0) - dot)) \
            .otherwise(dot + F.lit(1.0))
    else:
        raise ValueError(f"unknown knn similarity {similarity!r}")
    if min_similarity is not None:
        cutoff = (-float(min_similarity) if similarity == "l2_norm"
                  else float(min_similarity))
        d = d.filter(metric >= F.lit(cutoff))
    return (
        d.select(F.col(id_col), (score * F.lit(float(boost))).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def combine_knn_query(
    query_hits: DataFrame,
    knn_hits: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """knn + query in one _search (reference: SearchSourceBuilder knn
    section compiled alongside the query, DfsQueryPhase merging both
    top-docs sets): the union of the two hit sets ranks by the SUM of
    scores, a hit missing from one side contributing 0 from it. Both
    inputs are already top-k (≤ k rows each), so the full-outer join is
    a driver-trivial merge wherever it lands."""
    a = query_hits.select(F.col(id_col), F.col("score").alias("_qs"))
    b = knn_hits.select(F.col(id_col), F.col("score").alias("_ks"))
    return (
        a.join(b, id_col, "full_outer")
        .select(
            F.col(id_col),
            (F.coalesce(F.col("_qs"), F.lit(0.0))
             + F.coalesce(F.col("_ks"), F.lit(0.0))).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def sparse_score_topk(
    df: DataFrame,
    query_vec: dict[int, float],
    fn: str = "cosine",
    k: int = 10,
    vec_col: str = "sparse",
    id_col: str = "vec_id",
) -> DataFrame:
    """script_score functions over a sparse_vector field (reference:
    x-pack/plugin/vectors/.../query/ScoreScriptUtils.java —
    cosineSimilaritySparse, dotProductSparse, l1normSparse,
    l2normSparse over SparseVectorFieldMapper's dim->value map). The
    Spark-native encoding is a map<int,double> column; the query vector
    is a tiny literal map, so every function is one JVM-side
    map_zip_with (keys UNION — absent dims read as 0.0, exactly the
    reference's sorted-dimension two-pointer walk) folded with
    aggregate. No shuffle before the global top-k
    (TakeOrderedAndProject); distance fns rank ascending."""
    items = sorted((int(d), float(v)) for d, v in query_vec.items())
    if not items:
        raise ValueError("empty sparse query vector")
    qmap = F.map_from_arrays(
        F.array(*[F.lit(d) for d, _ in items]),
        F.array(*[F.lit(v) for _, v in items]),
    )
    vec = F.col(vec_col)
    zipped = lambda combine: F.aggregate(  # noqa: E731
        F.map_values(F.map_zip_with(vec, qmap, combine)),
        F.lit(0.0), lambda acc, x: acc + x)
    z = lambda c: F.coalesce(c.cast("double"), F.lit(0.0))  # noqa: E731
    if fn == "dot_product":
        col = zipped(lambda _, x, y: z(x) * z(y))
        asc = False
    elif fn == "cosine":
        qn = float(np.sqrt(sum(v * v for _, v in items)))
        dnorm = F.sqrt(F.aggregate(
            F.map_values(vec), F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double")))
        col = zipped(lambda _, x, y: z(x) * z(y)) / (dnorm * F.lit(qn))
        asc = False
    elif fn == "l1norm":
        col = zipped(lambda _, x, y: F.abs(z(x) - z(y)))
        asc = True
    elif fn == "l2norm":
        col = F.sqrt(zipped(lambda _, x, y: (z(x) - z(y)) * (z(x) - z(y))))
        asc = True
    else:
        raise ValueError(f"unknown sparse vector score fn {fn!r}")
    out = df.select(F.col(id_col), col.alias("score"))
    order = [F.asc("score") if asc else F.desc("score"), F.asc(id_col)]
    return out.orderBy(*order).limit(k)


# ---------------------------------------------------------------------
# int8 scalar quantization (Lucene ScalarQuantizer two-phase search;
# the reference's vectors plugin stores dense_vector float32 —
# x-pack/plugin/vectors/.../mapper/DenseVectorFieldMapper.java — and
# modern Lucene adds the int8 quantized index this mirrors)
# ---------------------------------------------------------------------
# Codes are derived IN-PLAN from one global min/max stats pass:
# code = floor((v - vmin) / ((vmax - vmin)/255) + 0.5), an exact-integer
# dot product ranks candidates (4x fewer bytes than float32 at scale —
# the quantized scan is the 100-TB win), then the k*oversample
# candidates rescore with the exact float cosine. floor(x + 0.5), not
# round(): HALF_UP vs banker's rounding would diverge across engines.


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", normalize: bool = True,
) -> DataFrame:
    """Attach int8 codes (array<long> in [0,255]) as ``_codes`` using
    global-min/max scalar quantization. ``normalize`` (default, the
    cosine path) unit-normalizes each vector FIRST — Lucene's cosine
    similarity quantizes normalized vectors so the integer dot tracks
    cosine, not raw magnitude. One stats pass + one projection; codes
    are deterministic pure functions of the data."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    if normalize:
        nrm = F.sqrt(_dot(v, v))
        v = F.transform(v, lambda x: x / nrm)
    d = df.withColumn("_nvec", v)
    stats = d.agg(
        F.min(F.array_min("_nvec")).alias("_vmin"),
        F.max(F.array_max("_nvec")).alias("_vmax"))
    d = d.crossJoin(F.broadcast(stats))
    scale = (F.col("_vmax") - F.col("_vmin")) / F.lit(255.0)
    return d.withColumn(
        "_codes",
        F.transform(
            F.col("_nvec"),
            lambda x: F.floor((x - F.col("_vmin")) / scale + F.lit(0.5)),
        ),
    ).drop("_nvec")


def quantized_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    oversample: int = 3,
) -> DataFrame:
    """Two-phase int8 knn: integer-dot candidate scan over quantized
    codes -> exact float cosine rescore of the top k*oversample.
    Returns (id, cosine) ordered desc, id asc — identical schema to
    :func:`cosine_topk`, so callers can swap paths."""
    q = [float(x) for x in query_vec]
    d = quantize_int8(spread_input(df), vec_col)
    scale = (F.col("_vmax") - F.col("_vmin")) / F.lit(255.0)
    qarr = F.array(*[F.lit(x) for x in q])
    qnrm = F.sqrt(_dot(qarr, qarr))  # in-plan: same fold as doc norms
    qcodes = F.transform(
        qarr,
        lambda x: F.greatest(
            F.lit(0).cast("long"),
            F.least(F.lit(255).cast("long"),
                    F.floor((x / qnrm - F.col("_vmin")) / scale
                            + F.lit(0.5)))))
    qdot = F.aggregate(
        F.zip_with(F.col("_codes"), qcodes, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # Lucene ScalarQuantizer corrective term: with code=(v-vmin)/scale,
    # dot(v_d,v_q) ≈ const + scale²·dot(c_d,c_q) + vmin·scale·Σc_d, so
    # the per-doc rank key is dot(c_d,c_q) + (vmin/scale)·Σc_d — plain
    # code-dot is NOT rank-equivalent to cosine (the offset cross-term
    # varies per doc).
    csum = F.aggregate(F.col("_codes"), F.lit(0).cast("long"),
                       lambda acc, x: acc + x)
    rank = (qdot.cast("double")
            + (F.col("_vmin") / scale) * csum.cast("double"))
    cand = (
        d.select(F.col(id_col), F.col(vec_col), rank.alias("_qdot"))
        .orderBy(F.desc("_qdot"), F.asc(id_col))
        .limit(int(k) * int(oversample))
    )
    qn = float(np.sqrt(np.dot(q, q)))
    r = with_norm(cand, vec_col)
    qcol = F.array(*[F.lit(x) for x in q])
    cos = _dot(F.col("_vec"), qcol) / (F.col("_norm") * F.lit(qn))
    return (
        r.select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(int(k))
    )


# ---------------------------------------------------------------------
# text_embedding inference model + knn query_vector_builder
# (reference: server/.../search/vectors/KnnSearchBuilder.java
# queryVectorBuilder + x-pack/plugin/ml TextEmbeddingQueryVectorBuilder:
# the query text runs through a deployed text-embedding model at search
# time; documents were embedded by the same model at ingest).
#
# The model here is a REAL hashing-trick embedding (fastText-style
# hashed bag of tokens): component j = sum over tokens of a +/-1 sign
# drawn from md5(token ':' j). md5 is identical in Spark SQL, DuckDB
# and hashlib, and the components are small integers, so doc-side
# (codegen), oracle-side (SQL twin) and query-side (driver) embeddings
# agree bit-for-bit. Vectors are unnormalized (cosine is
# normalization-invariant; integer components keep cross-engine float
# math exact).

_TEXT_EMBED_MODELS: dict[str, dict] = {}

_TOKEN_PATTERN = "[a-z0-9_]+"
_POS_HEX = ("0", "1", "2", "3", "4", "5", "6", "7")


def register_text_embedding_model(model_id: str, *, dims: int = 8,
                                  max_tokens: int = 64) -> None:
    """PUT _ml/trained_models analogue for a text_embedding task-type
    model (deterministic hashed-sign embedding)."""
    if not 1 <= dims <= 128:
        raise ValueError(f"dims must be in [1, 128], got {dims}")
    _TEXT_EMBED_MODELS[model_id] = {"dims": int(dims),
                                    "max_tokens": int(max_tokens)}


def text_embedding_expr(text_col, dims: int = 8,
                        max_tokens: int = 64):
    """array<double> embedding of a text Column, pure codegen."""
    c = text_col if not isinstance(text_col, str) else F.col(text_col)
    toks = F.slice(
        F.regexp_extract_all(F.lower(c), F.lit(_TOKEN_PATTERN), 0),
        1, max_tokens)
    def comp(j: int):
        suffix = F.lit(f":{j}")
        return F.aggregate(
            toks, F.lit(0.0),
            lambda acc, t: acc + F.when(
                F.substring(F.md5(F.concat(t, suffix)), 1, 1)
                .isin(*_POS_HEX), F.lit(1.0)).otherwise(F.lit(-1.0)))

    return F.array(*[comp(j) for j in range(dims)])


def embed_texts(df: DataFrame, text_col: str,
                out_col: str = "embedding", *,
                model_id: str | None = None,
                dims: int = 8, max_tokens: int = 64) -> DataFrame:
    """Ingest-side text_embedding inference: adds the embedding column
    (the InferenceProcessor shape for a text_embedding model)."""
    if model_id is not None:
        m = _TEXT_EMBED_MODELS[model_id]
        dims, max_tokens = m["dims"], m["max_tokens"]
    # record the producing model in column metadata so semantic_query
    # can validate the query-side model matches the index-side one
    expr = text_embedding_expr(text_col, dims, max_tokens)
    meta = {"model_id": model_id} if model_id is not None else None
    # the embedding expression is an interpreted md5-per-(token, dim)
    # fold — re-spread few-split inputs so inference parallelizes
    # (guide §2.5; measured knn_text_embedding 27 s -> ~2 s at sf1.0)
    return spread_input(df).withColumn(
        out_col, expr.alias(out_col, metadata=meta) if meta else expr)


def text_embedding_vector(text: str, *, model_id: str | None = None,
                          dims: int = 8,
                          max_tokens: int = 64) -> list[float]:
    """Driver-side twin of :func:`text_embedding_expr` (hashlib.md5 ==
    SQL md5), used to build the QUERY vector once per request."""
    import hashlib
    import re as _re

    if model_id is not None:
        m = _TEXT_EMBED_MODELS[model_id]
        dims, max_tokens = m["dims"], m["max_tokens"]
    toks = _re.findall(_TOKEN_PATTERN, text.lower())[:max_tokens]
    out = []
    for j in range(dims):
        s = 0.0
        for t in toks:
            h = hashlib.md5(f"{t}:{j}".encode()).hexdigest()[0]
            s += 1.0 if h in _POS_HEX else -1.0
        out.append(s)
    return out


def resolve_query_vector_builder(builder: dict) -> list[float]:
    """knn section query_vector_builder -> concrete query vector.
    Shape: {"text_embedding": {"model_id": ..., "model_text": ...}}."""
    (kind, body), = builder.items()
    if kind != "text_embedding":
        raise ValueError(
            f"unsupported query_vector_builder {kind!r}")
    return text_embedding_vector(body["model_text"],
                                 model_id=body.get("model_id"))


def map_semantic_text(df: DataFrame, field: str, *,
                      model_id: str) -> DataFrame:
    """semantic_text field mapping (reference: x-pack inference plugin
    SemanticTextFieldMapper): mapping a field as semantic_text runs the
    referenced text_embedding model at INDEX time and stores the
    inference result alongside the source text. Here the embedding is
    a sibling column ``<field>__inference`` (one codegen expression,
    no inference round-trip)."""
    return embed_texts(df, field, f"{field}__inference",
                       model_id=model_id)


def semantic_query(df: DataFrame, field: str, query: str, *,
                   model_id: str, k: int = 10,
                   id_col: str = "doc_id",
                   filter_cond=None) -> DataFrame:
    """The `semantic` query (reference: SemanticQueryBuilder): the
    query text runs through the SAME model the semantic_text field was
    mapped with, then scores as knn over the stored inference column."""
    vec_col = f"{field}__inference"
    if vec_col not in df.columns:
        raise ValueError(
            f"{field!r} is not mapped as semantic_text "
            f"(missing {vec_col!r}; call map_semantic_text at index time)")
    # SemanticQueryBuilder requires the query-side model to be the one
    # the field was embedded with; a mismatch would silently score
    # against incompatible vectors (ADVICE r5)
    mapped = df.schema[vec_col].metadata.get("model_id")
    if mapped is not None and mapped != model_id:
        raise ValueError(
            f"semantic query model {model_id!r} does not match the "
            f"model {mapped!r} that mapped {field!r}")
    from elasticsearch_spark.spread import materialize_fence

    # fence: when the inference column is still an expression (mapped
    # in-plan), the zero-norm filter would be pushed beneath it and
    # re-evaluate the embedding folds per row. The caller's filter runs
    # first and the fence carries only the two columns knn reads: a
    # mapInArrow boundary blocks column pruning, so fencing the whole
    # frame would ship every column through Arrow
    if filter_cond is not None:
        df = df.filter(filter_cond)
    emb = materialize_fence(df.select(id_col, vec_col)).filter(F.aggregate(
        vec_col, F.lit(0.0), lambda a, x: a + x * x) > 0)
    return knn_search(
        emb, None, k=k, id_col=id_col, vec_col=vec_col,
        query_vector_builder={"text_embedding": {
            "model_id": model_id, "model_text": query}})
