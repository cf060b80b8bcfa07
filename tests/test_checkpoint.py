"""Checkpoint/resume: manifests, bucket-level resume after a kill,
fingerprint invalidation, and checkpointed == non-checkpointed results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ufo_dedup_spark.checkpoint import CheckpointManager, config_fingerprint
from ufo_dedup_spark.pipeline import (
    PipelineConfig,
    run_pipeline,
    run_pipeline_checkpointed,
)
from ufo_dedup_spark.synth import SynthConfig, corpus_dataframes


def test_stage_computes_once(spark, tmp_path):
    calls = []

    def builder():
        calls.append(1)
        return spark.range(10).withColumnRenamed("id", "x")

    mgr = CheckpointManager(spark, str(tmp_path / "ck"), "fp1")
    df1 = mgr.stage("s1", builder)
    df2 = mgr.stage("s1", builder)
    assert len(calls) == 1
    assert df1.count() == df2.count() == 10
    assert mgr.read_manifest("s1")["rows"] == 10


def test_fingerprint_invalidation(spark, tmp_path):
    calls = []

    def builder():
        calls.append(1)
        return spark.range(5)

    base = str(tmp_path / "ck2")
    CheckpointManager(spark, base, "fpA").stage("s", builder)
    CheckpointManager(spark, base, "fpB").stage("s", builder)
    assert len(calls) == 2


def test_partitioned_stage_resumes_after_kill(spark, tmp_path):
    src = spark.range(100).withColumnRenamed("id", "k")
    seen: list[int] = []
    fail_at = {"n": 3}

    def builder(part):
        seen.append(1)
        if len(seen) == fail_at["n"]:
            raise RuntimeError("simulated kill")
        return part.withColumn("v", F.col("k") * 2)

    base = str(tmp_path / "ck3")
    mgr = CheckpointManager(spark, base, "fp")
    with pytest.raises(RuntimeError):
        mgr.partitioned_stage("score", src, F.xxhash64("k"), 4, builder)
    completed_first = len(seen) - 1  # buckets committed before the kill

    # resume: only the remaining buckets run
    seen.clear()
    fail_at["n"] = 10**9
    out = mgr.partitioned_stage("score", src, F.xxhash64("k"), 4, builder)
    assert len(seen) == 4 - completed_first
    assert out.count() == 100
    assert {r["v"] for r in out.collect()} == {2 * k for k in range(100)}

    manifest = mgr.read_manifest("score")
    assert set(manifest["buckets"]) == {"0", "1", "2", "3"}
    assert all("rows_out" in b for b in manifest["buckets"].values())


def test_partitioned_stage_n_buckets_change_recomputes(spark, tmp_path):
    """Changing n_buckets invalidates the stage: no duplicate rows from old
    bucketings, no stale bucket=* subdirs unioned back in."""
    src = spark.range(100).withColumnRenamed("id", "k")

    def builder(part):
        return part.withColumn("v", F.col("k") * 2)

    base = str(tmp_path / "ck4")
    mgr = CheckpointManager(spark, base, "fp")
    out4 = mgr.partitioned_stage("score", src, F.xxhash64("k"), 4, builder)
    assert out4.count() == 100

    # grow the bucket count: old bucket=0..3 dirs must not survive
    out8 = mgr.partitioned_stage("score", src, F.xxhash64("k"), 8, builder)
    assert out8.count() == 100  # would be 200 if stale buckets leaked
    assert set(mgr.read_manifest("score")["buckets"]) == {str(i) for i in range(8)}

    # shrink it again: ditto (stale bucket=4..7 dirs must be wiped)
    out2 = mgr.partitioned_stage("score", src, F.xxhash64("k"), 2, builder)
    assert out2.count() == 100
    assert {r["v"] for r in out2.collect()} == {2 * k for k in range(100)}


@pytest.mark.slow
def test_checkpointed_pipeline_matches_plain(spark, tmp_path):
    pages, _, _ = corpus_dataframes(spark, SynthConfig(n_docs=400, seed=42))
    pages = pages.persist()
    cfg = PipelineConfig()

    plain = run_pipeline(spark, pages, cfg)
    ck = run_pipeline_checkpointed(
        spark, pages, str(tmp_path / "wd"), cfg, n_score_buckets=4
    )

    def pair_rows(res):
        return {
            (r["id_a"], r["id_b"], r["method"], round(r["score"], 9))
            for r in res["pairs"].collect()
        }

    assert pair_rows(plain) == pair_rows(ck)

    plain_cl = {(r["url"], r["cluster_id"]) for r in plain["clusters"].collect()}
    ck_cl = {(r["url"], r["cluster_id"]) for r in ck["clusters"].collect()}
    assert plain_cl == ck_cl

    # lineage manifests present for every stage
    assert {"docs", "doc_tokens", "candidates", "verified",
            "cheap_clusters", "substring_pairs", "pairs", "clusters"} <= set(
        ck["lineage"]
    )

    # second run is a pure read (no recompute, even with the branches
    # running concurrently): every manifest is unchanged
    ck2 = run_pipeline_checkpointed(
        spark, pages, str(tmp_path / "wd"), cfg, n_score_buckets=4
    )
    assert ck2["lineage"] == ck["lineage"]
    assert pair_rows(ck2) == pair_rows(ck)