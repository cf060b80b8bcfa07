"""End-to-end web dedup pipeline on the synthetic corpus: extraction
byte-identity, pair recall per planted kind, cluster integrity."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from ufo_dedup_spark.pipeline import PipelineConfig, prepare_documents, run_pipeline
from ufo_dedup_spark.synth import SynthConfig, corpus_dataframes

N_DOCS = 600


@pytest.fixture(scope="module")
def corpus(spark):
    pages, truth_pairs, truth_clusters = corpus_dataframes(
        spark, SynthConfig(n_docs=N_DOCS, seed=42)
    )
    return pages.persist(), truth_pairs.persist(), truth_clusters.persist()


@pytest.fixture(scope="module")
def result(spark, corpus):
    pages, _, _ = corpus
    return run_pipeline(spark, pages, PipelineConfig())


def test_extraction_byte_identical(spark, corpus):
    """North-rule invariant: extracted text == ground-truth text, per url."""
    pages, _, _ = corpus
    docs = prepare_documents(pages, use_extractor=True)
    joined = docs.join(pages.select("url", F.col("text").alias("t0")), "url")
    mismatches = joined.filter(
        ~F.col("text").eqNullSafe(F.col("t0"))
    ).count()
    assert mismatches == 0


def _pair_urls(result, spark, corpus):
    pages, truth_pairs, _ = corpus
    ids = prepare_documents(pages, use_extractor=False).select("id", "url")
    p = (
        result["pairs"]
        .join(ids.select(F.col("id").alias("id_a"), F.col("url").alias("url_a")), "id_a")
        .join(ids.select(F.col("id").alias("id_b"), F.col("url").alias("url_b")), "id_b")
    )
    return {
        tuple(sorted((r["url_a"], r["url_b"]))) for r in p.collect()
    }


def test_pair_recall_by_kind(spark, corpus, result):
    pages, truth_pairs, _ = corpus
    predicted = _pair_urls(result, spark, corpus)
    truth = [(r["url_a"], r["url_b"], r["kind"]) for r in truth_pairs.collect()]

    by_kind: dict[str, list[bool]] = {}
    for a, b, kind in truth:
        hit = tuple(sorted((a, b))) in predicted
        by_kind.setdefault(kind, []).append(hit)

    recalls = {k: sum(v) / len(v) for k, v in by_kind.items()}
    # direct pair recall for small planted clusters
    for kind in ("exact", "near", "prefix", "span"):
        assert recalls.get(kind, 0.0) >= 0.99, recalls
    # skew pairs may be represented by chains — covered by the cluster test


def test_cluster_integrity(spark, corpus, result):
    """Every truth cluster must land in ONE predicted cluster (recall), and
    docs outside any truth cluster must stay singletons (precision)."""
    pages, _, truth_clusters = corpus
    ids = prepare_documents(pages, use_extractor=False).select("id", "url")
    pred = result["clusters"].select("url", F.col("cluster_id").alias("pred_c"))

    tc = truth_clusters.join(pred, "url")
    # recall: one predicted cluster per truth cluster
    split_clusters = (
        tc.groupBy("cluster_id")
        .agg(F.countDistinct("pred_c").alias("n_pred"))
        .filter(F.col("n_pred") > 1)
        .count()
    )
    n_truth_clusters = truth_clusters.select("cluster_id").distinct().count()
    assert split_clusters / n_truth_clusters <= 0.01, (
        f"{split_clusters}/{n_truth_clusters} truth clusters split"
    )

    # precision: non-planted docs remain singletons
    planted_urls = truth_clusters.select("url")
    loners = pred.join(planted_urls, "url", "left_anti")
    cluster_sizes = result["clusters"].groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    merged_loners = (
        loners.join(
            cluster_sizes, loners.pred_c == cluster_sizes.cluster_id
        )
        .filter(F.col("n") > 1)
        .count()
    )
    n_loners = loners.count()
    assert merged_loners / max(n_loners, 1) <= 0.01, (
        f"{merged_loners}/{n_loners} unplanted docs merged into clusters"
    )


def test_pair_precision(spark, corpus, result):
    """Predicted pairs above the cluster threshold should overwhelmingly be
    planted relations (same truth cluster)."""
    pages, _, truth_clusters = corpus
    pred = result["pairs"].filter(F.col("score") >= 0.7)
    ids = prepare_documents(pages, use_extractor=False).select("id", "url")
    p = (
        pred
        .join(ids.select(F.col("id").alias("id_a"), F.col("url").alias("url_a")), "id_a")
        .join(ids.select(F.col("id").alias("id_b"), F.col("url").alias("url_b")), "id_b")
    )
    tc = {r["url"]: r["cluster_id"] for r in truth_clusters.collect()}
    rows = p.select("url_a", "url_b").collect()
    if not rows:
        pytest.fail("no predicted pairs at all")
    good = sum(
        1
        for r in rows
        if tc.get(r["url_a"]) is not None
        and tc.get(r["url_a"]) == tc.get(r["url_b"])
    )
    assert good / len(rows) >= 0.95, f"precision {good}/{len(rows)}"


def test_short_prefix_pair_caught(spark):
    """A 20-63-char doc that is a true prefix of a longer doc must pair:
    regression for the prefix bucket keying on more chars than the band's
    20-char minimum (short doc hashed a shorter string, never collided)."""
    short = "alpha beta gamma delta epsilon"  # 30 chars, >= 20
    long = short + " zeta eta theta iota kappa lambda mu nu xi omicron pi rho"
    filler = [
        f"completely unrelated filler document number {i} with its own words"
        for i in range(6)
    ]
    rows = [("u_short", short), ("u_long", long)] + [
        (f"u_f{i}", t) for i, t in enumerate(filler)
    ]
    pages = spark.createDataFrame(rows, "url string, text string").select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        F.lit("en").alias("lang"),
    )
    result = run_pipeline(spark, pages, PipelineConfig(), use_extractor=False)
    ids = prepare_documents(pages, use_extractor=False).select("id", "url")
    p = (
        result["pairs"]
        .join(ids.select(F.col("id").alias("id_a"), F.col("url").alias("url_a")), "id_a")
        .join(ids.select(F.col("id").alias("id_b"), F.col("url").alias("url_b")), "id_b")
    )
    got = {tuple(sorted((r["url_a"], r["url_b"]))) for r in p.collect()}
    assert ("u_long", "u_short") in got


def test_candidate_cap_keeps_every_doc_connected(spark):
    """With a tiny per-doc cap, a doc that is the smaller id in all its pairs
    must still retain an edge (two-sided cap regression)."""
    from ufo_dedup_spark.pipeline import candidate_pairs

    base = "the quick brown fox jumps over the lazy dog " * 10
    # 12 near-identical docs -> one clique; every doc must survive the cap
    rows = [(f"u{i}", base + f"tail{i}") for i in range(12)]
    pages = spark.createDataFrame(rows, "url string, text string").select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        F.lit("en").alias("lang"),
    )
    cfg = PipelineConfig(max_candidates_per_doc=2, substring_enabled=False)
    docs = prepare_documents(pages, use_extractor=False)
    cands = candidate_pairs(docs, cfg)
    touched = {
        r["id"]
        for r in cands.select(
            F.explode(F.array("id_a", "id_b")).alias("id")
        ).distinct().collect()
    }
    all_ids = {r["id"] for r in docs.select("id").collect()}
    assert touched == all_ids, "cap disconnected some docs entirely"


def test_startswith_boost_applies_to_any_method(spark):
    """The 0.95 starts-with rule must fire for a prefix pair surfaced by ANY
    band (reference dedup.py:110-116 applies it inside compute_similarity
    for every pair in every tier) — regression for the round-4 shape that
    boosted only pairs flagged by the prefix band, which could miss a pair
    dropped from the prefix bucket by the star-chain cap but surfaced by
    LSH."""
    from ufo_dedup_spark.pipeline import verify_candidate_pairs

    short = "alpha beta gamma delta epsilon zeta"
    long = short + " " + "unrelated continuation words follow here now " * 4
    docs = spark.createDataFrame(
        [(1, "u1", short, "en"), (2, "u2", long, "en")],
        "id long, url string, text string, lang string",
    )
    # labeled minhash_lsh, NOT prefix: raw Jaccard is ~0.25 (short's tokens
    # are a small subset), far below verify_threshold — only the
    # starts-with rule can save it
    cands = spark.createDataFrame(
        [(1, 2, "minhash_lsh")], "id_a long, id_b long, method string"
    )
    out = verify_candidate_pairs(cands, docs, PipelineConfig()).collect()
    assert len(out) == 1
    assert out[0]["score"] >= 0.95


def test_verify_text_join_structurally_narrow(spark):
    """The starts-with text join must be bounded by a semi-join on the
    eligible family (not by AQE happening to broadcast the pair side): the
    optimized plan contains a LeftSemi, and the pipeline output is
    identical with AQE disabled."""
    from ufo_dedup_spark.pipeline import (
        prepare_documents,
        verify_candidate_pairs,
    )

    rows = [(f"u{i}", f"document number {i} with distinct words {i}")
            for i in range(8)]
    pages = spark.createDataFrame(rows, "url string, text string").select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        F.lit("en").alias("lang"),
    )
    docs = prepare_documents(pages, use_extractor=False)
    ids = [r["id"] for r in docs.select("id").limit(2).collect()]
    cands = spark.createDataFrame(
        [(ids[0], ids[1], "minhash_lsh")],
        "id_a long, id_b long, method string",
    )
    plan = (
        verify_candidate_pairs(cands, docs, PipelineConfig())
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "LeftSemi" in plan


def test_pipeline_aqe_off_same_output(spark, corpus, result):
    """Supported env toggle SPARK_GRAFT_AQE=false must not change results —
    and in particular the structurally-narrow text join must not depend on
    adaptive planning."""
    pages, _, _ = corpus
    want = {
        (r["id_a"], r["id_b"], r["method"], round(r["score"], 9))
        for r in result["pairs"].collect()
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        r2 = run_pipeline(spark, pages, PipelineConfig())
        got = {
            (r["id_a"], r["id_b"], r["method"], round(r["score"], 9))
            for r in r2["pairs"].collect()
        }
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert got == want


def test_disk_barriers_same_output(spark, corpus, result):
    """barrier_storage='disk' (the auto choice above the 1.5M-doc
    threshold) must be a pure storage decision: identical pairs to the
    default in-memory barriers."""
    pages, _, _ = corpus
    want = {
        (r["id_a"], r["id_b"], r["method"], round(r["score"], 9))
        for r in result["pairs"].collect()
    }
    r2 = run_pipeline(spark, pages, PipelineConfig(barrier_storage="disk"))
    got = {
        (r["id_a"], r["id_b"], r["method"], round(r["score"], 9))
        for r in r2["pairs"].collect()
    }
    assert got == want


def test_barrier_storage_validated():
    with pytest.raises(ValueError, match="barrier_storage"):
        PipelineConfig(barrier_storage="ssd")


def test_methods_present(result):
    methods = {
        r["method"] for r in result["pairs"].select("method").distinct().collect()
    }
    assert {"exact", "minhash_lsh"} <= methods
    assert "substring" in methods or "prefix" in methods


def test_barrier_format_validated():
    with pytest.raises(ValueError, match="barrier_format"):
        PipelineConfig(barrier_format="csv")


def test_parquet_barriers_same_output(spark, corpus, result):
    """barrier_format='parquet' (the auto choice for disk / multi-executor
    runs) must be a pure serving decision: identical pairs to the default
    localCheckpoint barriers. (test_disk_barriers_same_output covers the
    auto disk->parquet path; this pins the explicit override at in-memory
    scale.)"""
    pages, _, _ = corpus
    want = {
        (r["id_a"], r["id_b"], r["method"], round(r["score"], 9))
        for r in result["pairs"].collect()
    }
    r2 = run_pipeline(spark, pages, PipelineConfig(barrier_format="parquet"))
    got = {
        (r["id_a"], r["id_b"], r["method"], round(r["score"], 9))
        for r in r2["pairs"].collect()
    }
    assert got == want


def test_startswith_pair_scores_exactly_095(spark):
    """Reference parity (dedup.py:108-117): a starts-with hit EARLY-RETURNS
    0.95 before Jaccard, so even byte-identical >=20-char texts must score
    exactly 0.95 — not their Jaccard of 1.0."""
    from ufo_dedup_spark.pipeline import verify_candidate_pairs

    text = "identical twenty-plus character document body here"
    docs = spark.createDataFrame(
        [(1, "u1", text, "en"), (2, "u2", text, "en")],
        "id long, url string, text string, lang string",
    )
    cands = spark.createDataFrame(
        [(1, 2, "minhash_lsh")], "id_a long, id_b long, method string"
    )
    out = verify_candidate_pairs(cands, docs, PipelineConfig()).collect()
    assert len(out) == 1
    assert out[0]["score"] == pytest.approx(0.95)


def test_cheap_cc_cap_never_loses_pairs(spark, corpus, result):
    """cheap_cc_max_iter caps only the PRUNING clustering: a capped run may
    verify (and emit) extra substring pairs between already-connected docs,
    but must never lose a pair, and the final clusters — computed by the
    always-exact final CC — must be identical."""
    pages, _, _ = corpus
    want_pairs = {
        (r["id_a"], r["id_b"]) for r in result["pairs"].collect()
    }
    want_clusters = {
        (r["id"], r["cluster_id"]) for r in result["clusters"].collect()
    }
    r2 = run_pipeline(spark, pages, PipelineConfig(cheap_cc_max_iter=1))
    got_pairs = {
        (r["id_a"], r["id_b"], r["method"]) for r in r2["pairs"].collect()
    }
    got_keys = {(a, b) for a, b, _m in got_pairs}
    assert want_pairs <= got_keys
    extra = got_keys - want_pairs
    # anything extra can only come from less substring pruning
    assert all(
        m == "substring" for a, b, m in got_pairs if (a, b) in extra
    )
    got_clusters = {
        (r["id"], r["cluster_id"]) for r in r2["clusters"].collect()
    }
    assert got_clusters == want_clusters


def test_connected_components_capped_labels_sound(spark):
    """At any max_iter the output labels must be a SOUND partition: two
    nodes sharing a label are genuinely connected (finer than full closure
    is fine, coarser is corruption). Two interleaved 12-node chains — the
    worst diameter for star rounds — must never cross-label."""
    from ufo_dedup_spark.operators.connected_components import (
        connected_components,
    )

    evens = [(2 * i, 2 * i + 2) for i in range(11)]
    odds = [(2 * i + 1, 2 * i + 3) for i in range(11)]
    edges = spark.createDataFrame(
        evens + odds, "id_a long, id_b long"
    )
    for cap in (1, 2):
        stats: dict = {}
        out = connected_components(edges, max_iter=cap, stats=stats).collect()
        label = {r["id"]: r["cluster_id"] for r in out}
        by_label: dict = {}
        for node, lab in label.items():
            by_label.setdefault(lab, set()).add(node)
        for lab, members in by_label.items():
            parities = {n % 2 for n in members}
            assert len(parities) == 1, (
                f"max_iter={cap} mixed disconnected chains: {members}"
            )
        assert stats["rounds"] <= cap
    # and uncapped converges to exactly two components
    full = connected_components(edges).collect()
    assert len({r["cluster_id"] for r in full}) == 2


def test_lcs_udf_evaluated_once(spark):
    """The LCS pandas UDF output is filtered on (lcs_len >= min_span);
    predicate pushdown must NOT duplicate the UDF evaluation — exactly one
    ArrowEvalPython node in the physical plan (the UDF is marked
    non-deterministic to pin this; a regression doubles the most expensive
    per-row kernel in the pipeline)."""
    from ufo_dedup_spark.operators.substring import verify_substring_pairs

    docs = spark.createDataFrame(
        [(i, "word %d " % i * 60) for i in range(6)], "id long, text string"
    )
    cands = spark.createDataFrame([(0, 1), (2, 3)], "id_a long, id_b long")
    plan = (
        verify_substring_pairs(cands, docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("ArrowEvalPython") == 1


def test_verify_prune_sides_same_output(spark, corpus, result):
    """verify_prune_sides=True (the sparse-corpus exchange bound) must not
    change the pair table: pruning the token sides to candidate-touched
    ids is a no-op under inner-join semantics."""
    pages, _, _ = corpus
    want = {
        (r["id_a"], r["id_b"], r["method"], round(r["score"], 9))
        for r in result["pairs"].collect()
    }
    res = run_pipeline(
        spark, pages, PipelineConfig(verify_prune_sides=True)
    )
    got = {
        (r["id_a"], r["id_b"], r["method"], round(r["score"], 9))
        for r in res["pairs"].collect()
    }
    assert got == want


def test_run_pipeline_rejects_conf_without_equals():
    """`--conf foo` is a usage error (exit 2) raised before any Spark
    session starts."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "run_pipeline.py"),
         "--conf", "foo"],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 2
    assert "usage:" in proc.stderr
    assert "--conf expects KEY=VALUE" in proc.stderr
    assert "SparkContext" not in proc.stderr
