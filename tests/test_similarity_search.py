"""ANN operators: brute-force correctness, IVF==bruteforce at full probe
width, near-dup pairs vs a numpy oracle."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ufo_dedup_spark.operators.similarity_search import (
    ann_near_dup_pairs,
    cosine_topk,
    deterministic_centroids,
    embedding_near_dup_pairs,
    ivf_topk,
    kmeans_centroids,
)


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(0)
    base = rng.standard_normal((40, 16)).astype(np.float32)
    # plant two near-duplicates of vector 7
    base[20] = base[7] + 0.01 * rng.standard_normal(16).astype(np.float32)
    base[21] = base[7] + 0.02 * rng.standard_normal(16).astype(np.float32)
    rows = [(i, base[i].tolist()) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df.persist(), base.astype(np.float64)


def _np_topk(base, q, k, exclude=None):
    qn = q / np.linalg.norm(q)
    norms = np.linalg.norm(base, axis=1)
    cs = (base @ qn) / norms
    order = sorted(range(len(base)), key=lambda i: (-cs[i], i))
    if exclude is not None:
        order = [i for i in order if i not in exclude]
    return [(i, cs[i]) for i in order[:k]]


def test_bruteforce_matches_numpy(spark, emb):
    df, base = emb
    q = base[7].tolist()
    got = [(r["vec_id"], r["cos_sim"]) for r in cosine_topk(df, q, 5).collect()]
    expected = _np_topk(base, np.array(q), 5)
    assert [g[0] for g in got] == [e[0] for e in expected]
    for g, e in zip(got, expected):
        assert g[1] == pytest.approx(e[1], abs=1e-6)
    # the planted near-dups must rank right behind the query vector itself
    assert set(g[0] for g in got[:3]) == {7, 20, 21}


def test_ivf_full_probe_equals_bruteforce(spark, emb):
    df, base = emb
    q = base[3].tolist()
    brute = [r["vec_id"] for r in cosine_topk(df, q, 8).collect()]
    approx = [
        r["vec_id"]
        for r in ivf_topk(df, q, 8, n_centroids=8, n_probe=8).collect()
    ]
    assert approx == brute


def test_ivf_narrow_probe_contains_query_bucket(spark, emb):
    df, base = emb
    q = base[7].tolist()
    got = [
        r["vec_id"] for r in ivf_topk(df, q, 3, n_centroids=8, n_probe=2).collect()
    ]
    assert 7 in got  # the identical vector is always found


def test_near_dup_pairs(spark, emb):
    df, base = emb
    got = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in embedding_near_dup_pairs(df, threshold=0.95).collect()
    }
    assert (7, 20) in got and (7, 21) in got and (20, 21) in got
    for v in got.values():
        assert v >= 0.95


def test_ann_near_dup_full_probe_equals_bruteforce(spark, emb):
    """With n_probe == n_centroids every pair shares a bucket, so the IVF
    path must reproduce the brute-force result EXACTLY — row for row, so a
    pair emitted twice fails too."""
    df, base = emb
    brute = sorted(
        tuple(r) for r in embedding_near_dup_pairs(df, threshold=0.3).collect()
    )
    approx = sorted(
        tuple(r)
        for r in ann_near_dup_pairs(
            df, threshold=0.3, n_centroids=8, n_probe=8
        ).collect()
    )
    assert approx == brute


def test_ann_near_dup_partial_probe_recall(spark, emb):
    """At n_probe=2 the planted tight cluster (7, 20, 21) must be fully
    recovered — near-identical vectors share their nearest centroid. A pair
    sharing both probed buckets is scored only in the smaller one, so no
    (id_a, id_b) repeats, and every row is an exact brute-force row."""
    df, base = emb
    rows = [
        tuple(r)
        for r in ann_near_dup_pairs(
            df, threshold=0.3, n_centroids=8, n_probe=2
        ).collect()
    ]
    ids = [(a, b) for a, b, _ in rows]
    assert len(ids) == len(set(ids))
    brute = {
        tuple(r) for r in embedding_near_dup_pairs(df, threshold=0.3).collect()
    }
    assert set(rows) <= brute
    got = {p for p, (_, _, cs) in zip(ids, rows) if cs >= 0.95}
    assert {(7, 20), (7, 21), (20, 21)} <= got


def _split_at_join(plan: str) -> tuple[list[str], list[str], list[str]]:
    """Split a physical-plan tree string at its first join into the lines
    above the join and the lines of its left and right subtrees."""
    lines = plan.splitlines()
    j = next(i for i, ln in enumerate(lines) if "Join " in ln)
    col = len(lines[j]) - len(lines[j].lstrip(" :+-"))
    below = lines[j + 1:]
    left = [ln for ln in below if ln[col:col + 1] == ":"]
    right = [ln for ln in below if ln[col:col + 1] != ":"]
    return lines[:j], left, right


def test_ann_plan_has_no_cartesian(spark, emb):
    """Scale contract: the IVF pair generator must join on the bucket key —
    no broadcast nested loop / cartesian product in the plan. Nothing is
    shuffled or aggregated above the bucket join (no dedup stage), and the
    probe UDF runs once per join side. At full probe there are no centroids:
    no UDF in the plan and no Spark job to build the DataFrame."""
    df, base = emb
    plan = (
        ann_near_dup_pairs(df, threshold=0.9, n_centroids=8, n_probe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    above, left, right = _split_at_join(plan)
    assert not any("Exchange" in ln or "Aggregate" in ln for ln in above)
    assert sum("ArrowEvalPython" in ln for ln in left) == 1
    assert sum("ArrowEvalPython" in ln for ln in right) == 1

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "ann_full_probe_build"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        before = len(tracker.getJobIdsForGroup(group))
        full = ann_near_dup_pairs(df, threshold=0.9, n_centroids=8, n_probe=8)
        after = len(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert after == before
    plan = full._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" not in plan


def _np_lloyd(base, init_ids, iters):
    """Reference spherical Lloyd: cosine assignment, raw-vector means,
    empty clusters keep their centroid."""
    cent = base[init_ids].copy()
    m = base / (np.linalg.norm(base, axis=1, keepdims=True) + 1e-12)
    for _ in range(iters):
        cn = cent / np.linalg.norm(cent, axis=1, keepdims=True)
        a = np.argmax(m @ cn.T, axis=1)
        for j in range(len(cent)):
            if (a == j).any():
                cent[j] = base[a == j].mean(axis=0)
    return cent


def test_kmeans_centroids_deterministic_and_clustered(spark, emb):
    df, base = emb
    c1 = kmeans_centroids(df, n_centroids=4, iters=3)
    c2 = kmeans_centroids(df, n_centroids=4, iters=3)
    assert np.allclose(c1, c2)
    assert c1.shape == (4, 16)
    # Lloyd iterations must reduce (or hold) spherical quantization error
    # vs the raw init
    init = kmeans_centroids(df, n_centroids=4, iters=0)

    def err(cent):
        cn = cent / np.linalg.norm(cent, axis=1, keepdims=True)
        m = base / np.linalg.norm(base, axis=1, keepdims=True)
        return float((1 - (m @ cn.T).max(axis=1)).sum())

    assert err(c1) <= err(init) + 1e-9

    # the means themselves: a numpy Lloyd from the same xxhash-ordered init
    order = df.select(
        "vec_id", F.xxhash64("vec_id", F.lit(42)).alias("h")
    ).collect()
    init_ids = [r["vec_id"] for r in sorted(order, key=lambda r: r["h"])][:4]
    assert np.allclose(init, _np_lloyd(base, init_ids, 0))
    assert np.allclose(c1, _np_lloyd(base, init_ids, 3))
