"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: JVM-side zip_with/aggregate dot products against
  a broadcast query vector, TakeOrderedAndProject top-k — the exactness
  baseline and the within-bucket scorer.
- IVF (inverted-file) top-k: the scale path. K centroid vectors partition the
  corpus by nearest-centroid (numpy-vectorized pandas UDF); a query probes
  only the ``n_probe`` nearest centroids' partitions, turning an O(N) scan
  into an O(N * n_probe / K) scan. Centroids here are deterministic samples
  (lowest vec_ids); a production deployment plugs k-means centroids into the
  same operator unchanged.
- k-means centroids: Lloyd steps of one Spark job each — every partition
  returns its K x dim partial sum vectors and K counts, and the driver adds
  them up.
- embedding near-dup pairs: all-pairs cosine above a threshold, blocked by
  centroid assignment at scale (cross-partition near-dups bounded by probe
  width, same IVF tradeoff). A pair that shares several probed buckets is
  scored only in the smallest of them, so no dedup stage follows the bucket
  join; at full probe width no centroids are computed at all.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, IntegerType


def _dot(x, y):
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
    )


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    e = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    cs = (
        _dot(F.col("_v"), q)
        / (F.sqrt(_dot(F.col("_v"), F.col("_v"))) * F.sqrt(_dot(q, q)))
    ).alias("cos_sim")
    return (
        e.select(id_col, cs)
        .orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _unit_rows(m: np.ndarray) -> np.ndarray:
    """Rows of ``m`` scaled to unit length (zero rows stay zero)."""
    return m / (np.linalg.norm(m, axis=1, keepdims=True) + 1e-12)


def make_centroid_assign_udf(centroids: np.ndarray):
    """pandas UDF: embedding -> index of nearest centroid (cosine).

    ``centroids`` (K x dim, rows unit-normalized) broadcasts with the UDF
    closure; assignment is one numpy matmul per Arrow batch.
    """
    c = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    @pandas_udf(IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        m = _unit_rows(np.array(vecs.tolist(), dtype=np.float64))
        return pd.Series(np.argmax(m @ c.T, axis=1).astype("int32"))

    return assign


def deterministic_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Centroids = the n_centroids lowest-id vectors (deterministic cheap
    init; kmeans_centroids below refines these with Lloyd iterations)."""
    rows = (
        embeddings.orderBy(F.col(id_col).asc())
        .limit(n_centroids)
        .select(vec_col)
        .collect()
    )
    return np.array([list(r[vec_col]) for r in rows], dtype=np.float64)


def _lloyd_partials(centroids: np.ndarray):
    """mapInPandas body for one Lloyd step: a partition's vectors grouped by
    nearest centroid (cosine, as make_centroid_assign_udf) become ONE row —
    the K x dim per-cluster sums, flattened, and the K counts."""
    c = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    k, dim = centroids.shape

    def partials(batches):
        acc = np.zeros((k, dim))
        cnt = np.zeros(k, dtype=np.int64)
        for pdf in batches:
            m = np.array(pdf["_v"].tolist(), dtype=np.float64).reshape(-1, dim)
            a = np.argmax(_unit_rows(m) @ c.T, axis=1)
            np.add.at(acc, a, m)
            cnt += np.bincount(a, minlength=k)
        yield pd.DataFrame({"_s": [acc.ravel()], "_n": [cnt]})

    return partials


def kmeans_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> np.ndarray:
    """Distributed spherical k-means (Lloyd): deterministic hash-ordered
    init, then ``iters`` Lloyd steps of ONE Spark job each. Every partition
    assigns its vectors with one numpy matmul per Arrow batch and returns a
    single row of K x dim partial sums and K counts (``mapInPandas``); the
    driver adds the partials and divides.

    No vector rows are shuffled; only the partials (a few KB per partition)
    and the K x dim centroid matrix ever reach the driver. Empty clusters
    keep their previous centroid. Deterministic: init order is
    xxhash64(id, seed) and the means come from exact per-dimension sums.
    """
    init_rows = (
        embeddings.orderBy(F.xxhash64(F.col(id_col), F.lit(seed)).asc())
        .limit(n_centroids)
        .select(vec_col)
        .collect()
    )
    centroids = np.array([list(r[vec_col]) for r in init_rows], dtype=np.float64)
    vecs = embeddings.select(F.col(vec_col).cast("array<double>").alias("_v"))

    for _ in range(iters):
        parts = vecs.mapInPandas(
            _lloyd_partials(centroids), "_s array<double>, _n array<long>"
        ).collect()
        acc = np.zeros_like(centroids)
        cnt = np.zeros(len(centroids), dtype=np.int64)
        for r in parts:
            acc += np.reshape(r["_s"], centroids.shape)
            cnt += np.asarray(r["_n"], dtype=np.int64)
        new = centroids.copy()
        nonempty = cnt > 0
        new[nonempty] = acc[nonempty] / cnt[nonempty, None]
        centroids = new
    return centroids


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF-bucketed approximate top-k: scan only the n_probe partitions
    nearest the query. With n_probe == n_centroids this is exactly
    cosine_topk (tested)."""
    if centroids is None:
        centroids = deterministic_centroids(embeddings, n_centroids, id_col, vec_col)
    assign = make_centroid_assign_udf(centroids)

    q = np.asarray(query_vec, dtype=np.float64)
    cn = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    qn = q / (np.linalg.norm(q) + 1e-12)
    probe = np.argsort(-(cn @ qn))[:n_probe].tolist()

    bucketed = embeddings.withColumn("_c", assign(F.col(vec_col).cast("array<double>")))
    candidates = bucketed.filter(F.col("_c").isin(probe)).drop("_c")
    return cosine_topk(candidates, query_vec, k, id_col, vec_col)


def make_multiprobe_assign_udf(centroids: np.ndarray, n_probe: int):
    """pandas UDF: embedding -> array of its ``n_probe`` nearest centroid
    indices (cosine). One numpy matmul + argpartition per Arrow batch."""
    c = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    p = min(n_probe, len(centroids))

    @pandas_udf(ArrayType(IntegerType()))
    def assign(vecs: pd.Series) -> pd.Series:
        m = _unit_rows(np.array(vecs.tolist(), dtype=np.float64))
        sims = m @ c.T
        top = np.argpartition(-sims, p - 1, axis=1)[:, :p].astype("int32")
        return pd.Series(list(top))

    return assign


def ann_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_centroids: int = 16,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Near-dup pairs via IVF bucketing — the scale path.

    Every vector carries its probe set ``_bs``: its ``n_probe`` nearest
    centroids (multi-probe covers boundary pairs whose nearest centroids
    differ). Candidate pairs are generated ONLY within shared buckets, and a
    pair is scored only in the SMALLEST bucket both vectors probe
    (``_b == array_min(array_intersect(_bsa, _bsb))``), so each pair is
    emitted once without a dedup stage above the bucket join. Per-vector
    norms are computed before the join; a pair costs one dot product.
    Complexity is sum over buckets of |bucket|^2 ~= n^2 * n_probe^2 / K
    instead of the brute-force n^2 — with K scaled ~sqrt(n) buckets stay
    bounded and the self-join shuffles on the bucket key instead of
    broadcasting a cartesian.

    With ``n_probe >= K`` every vector probes every bucket whatever the
    centroids are, so no centroids are computed (no k-means, no UDF):
    ``_bs`` is the constant 0..K-1 and the result is EXACTLY the
    brute-force result (tested). Recall at smaller n_probe: a true pair is
    found iff the two vectors share >= 1 of their n_probe buckets; it is
    asserted against the brute oracle in tests/test_similarity_search.py.
    """
    v = F.col(vec_col).cast("array<double>")
    k = n_centroids if centroids is None else len(centroids)
    if n_probe >= k:
        probes = F.sequence(F.lit(0), F.lit(k - 1))
    else:
        if centroids is None:
            centroids = kmeans_centroids(
                embeddings, n_centroids, id_col=id_col, vec_col=vec_col
            )
        # nondeterministic: keeps the optimizer from inlining the UDF into
        # the join key's inferred isnotnull filter (a second evaluation)
        assign = make_multiprobe_assign_udf(centroids, n_probe)
        probes = assign.asNondeterministic()(v)
    e = embeddings.select(
        F.col(id_col).alias("_id"), v.alias("_v"), probes.alias("_bs")
    ).select(
        "_id",
        "_v",
        F.sqrt(_dot(F.col("_v"), F.col("_v"))).alias("_n"),
        "_bs",
        F.explode("_bs").alias("_b"),
    )

    def side(s: str) -> DataFrame:
        return e.select(
            "_b",
            F.col("_id").alias(f"id_{s}"),
            F.col("_v").alias(f"_v{s}"),
            F.col("_n").alias(f"_n{s}"),
            F.col("_bs").alias(f"_bs{s}"),
        )

    pairs = side("a").join(side("b"), on="_b").filter(
        (F.col("id_a") < F.col("id_b"))
        & (F.col("_b") == F.array_min(F.array_intersect("_bsa", "_bsb")))
    )
    cs = _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    return pairs.select(
        "id_a", "id_b", F.round(cs, 4).alias("cos_sim")
    ).filter(F.col("cos_sim") >= threshold)


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine >= threshold (exact; brute-force pairwise).

    This is the TEST ORACLE for embedding-space dedup — O(n^2), correct by
    construction, usable to a few thousand vectors. The production path is
    ann_near_dup_pairs (IVF-bucketed, multi-probe), which this function
    exists to validate."""
    e = embeddings.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v")
    )
    a = e.select(F.col(id_col).alias("id_a"), F.col("_v").alias("_va"))
    b = e.select(F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cs = _dot(F.col("_va"), F.col("_vb")) / (
        F.sqrt(_dot(F.col("_va"), F.col("_va")))
        * F.sqrt(_dot(F.col("_vb"), F.col("_vb")))
    )
    return pairs.select(
        "id_a", "id_b", F.round(cs, 4).alias("cos_sim")
    ).filter(F.col("cos_sim") >= threshold)
