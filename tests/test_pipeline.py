"""End-to-end web dedup pipeline on the synthetic corpus: extraction
byte-identity, pair recall per planted kind, cluster integrity."""

from __future__ import annotations

import os
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from ufo_dedup_spark.pipeline import (
    DISK_BARRIER_ROWS,
    PipelineConfig,
    _auto_policy,
    _Blocks,
    _Parquet,
    _run_stages,
    prepare_documents,
    run_pipeline,
)
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


@pytest.mark.parametrize(
    "make_policy", [lambda: _Blocks(large=True), _Parquet],
    ids=["blocks_disk", "parquet"],
)
def test_barrier_policies_same_output(spark, corpus, result, make_policy):
    """DISK_ONLY blocks (the auto choice at >= DISK_BARRIER_ROWS docs) and
    parquet splits (the auto choice for executors in separate JVMs) are
    pure serving decisions: the one stage list yields the same pairs and
    clusters as the default in-memory blocks."""
    pages, _, _ = corpus
    want_pairs = {
        (r["id_a"], r["id_b"], r["method"], round(r["score"], 9))
        for r in result["pairs"].collect()
    }
    want_clusters = {tuple(r) for r in result["clusters"].collect()}
    r2 = _run_stages(pages, PipelineConfig(), True, make_policy())
    got_pairs = {
        (r["id_a"], r["id_b"], r["method"], round(r["score"], 9))
        for r in r2["pairs"].collect()
    }
    assert got_pairs == want_pairs
    assert {tuple(r) for r in r2["clusters"].collect()} == want_clusters


def test_parquet_bucketed_barrier_outlives_its_catalog_table(spark):
    """The parquet policy's bucketed doc_tokens barrier drops its catalog
    table as soon as the frame resolves, so runs leave no catalog entry;
    the frame still reads its files, and still joins on id with no hash
    exchange (the bucket spec was captured)."""
    df = spark.range(50).select(
        "id", (F.col("id") * 7).alias("x")
    )
    out = _Parquet().barrier(df, "doc_tokens")
    assert not [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("ufo_dedup_barrier_")
    ]
    assert out.count() == 50
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = out.alias("a").join(out.alias("b"), "id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert joined.count() == 50
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan, plan


@pytest.mark.parametrize(
    "master, n_docs, kind, large",
    [
        ("local[4]", None, _Blocks, None),
        ("local", 10, _Blocks, False),
        ("local-cluster[2,1,1024]", None, _Parquet, None),
        ("spark://host:7077", 10, _Parquet, False),
        ("local[4]", DISK_BARRIER_ROWS - 1, _Blocks, False),
        ("local[4]", DISK_BARRIER_ROWS, _Blocks, True),
    ],
)
def test_auto_policy(master, n_docs, kind, large):
    """run_pipeline's policy is a pure function of the master string and
    the doc count: parquet only for executors in separate JVMs, DISK_ONLY
    blocks from 1,500,000 docs, undecided without a count."""
    assert DISK_BARRIER_ROWS == 1_500_000
    policy = _auto_policy(master, n_docs)
    assert type(policy) is kind
    assert policy.large is large


def _shuffle_written(jsc) -> int:
    """Shuffle bytes the executors report having written so far."""
    jsc.listenerBus().waitUntilEmpty()
    execs = jsc.statusStore().executorList(True)
    return sum(execs.apply(i).totalShuffleWrite() for i in range(execs.size()))


def test_stage_ledger_reconciles(spark, corpus):
    """The stage ledger accounts for a whole run under a caller's job
    group: one row per stage that ran jobs, plus ``untagged`` (here the
    caller's two forcing actions), whose jobs and shuffle write sum to the
    scheduler's and the executors' own totals; every job keeps the
    caller's group; a window the status store no longer holds raises."""
    from ufo_dedup_spark.ledger import stage_ledger

    pages, _, _ = corpus
    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    written0 = _shuffle_written(jsc)
    first = jsc.dagScheduler().nextJobId()
    sc.setJobGroup("outer", "ledger test")
    try:
        out = run_pipeline(spark, pages, PipelineConfig())
        out["pairs"].count()
        out["clusters"].count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    end = jsc.dagScheduler().nextJobId()
    ledger = stage_ledger(sc, first)

    for name in ("docs", "candidates", "doc_tokens", "winnow", "verified",
                 "cheap_clusters", "clusters", "untagged"):
        assert ledger[name]["jobs"] >= 1, (name, ledger)
    assert sum(r["jobs"] for r in ledger.values()) == end - first
    written = sum(r["shuffle_write_mb"] for r in ledger.values()) * 2**20
    assert written == pytest.approx(_shuffle_written(jsc) - written0, abs=1)
    store = jsc.statusStore()
    groups = {str(store.job(j).jobGroup()) for j in range(first, end)}
    assert groups == {"Some(outer)"}
    with pytest.raises(RuntimeError, match="spark.ui.retainedJobs"):
        stage_ledger(sc, -1)


def test_stage_ledger_counts_a_shared_stage_once(spark, tmp_path):
    """A job submitted while another job's shuffle stage is running waits
    on that same stage, so both list its id; the ledger counts the stage's
    metrics once. (The pipeline's own shared stages are skipped ones with
    no metrics, so this builds one that did work.)"""
    from ufo_dedup_spark.ledger import stage_ledger

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    marker = str(tmp_path / "release")

    def held(rows):
        while not os.path.exists(marker):
            time.sleep(0.05)
        return rows

    def wait_for_active_jobs(n):
        deadline = time.time() + 60
        while len(sc.statusTracker().getActiveJobsIds()) < n:
            assert time.time() < deadline, "jobs never started"
            time.sleep(0.05)

    shuffled = (
        sc.parallelize(range(100), 2).mapPartitions(held)
        .map(lambda x: (x % 5, 1)).reduceByKey(lambda a, b: a + b)
    )
    written0 = _shuffle_written(jsc)
    first = jsc.dagScheduler().nextJobId()
    with ThreadPoolExecutor(max_workers=2) as ex:
        try:
            a = ex.submit(shuffled.count)
            wait_for_active_jobs(1)
            b = ex.submit(shuffled.count)
            wait_for_active_jobs(2)
        finally:
            open(marker, "w").close()  # never leave a job held
        assert a.result(timeout=120) == b.result(timeout=120) == 5
    ledger = stage_ledger(sc, first)

    store = jsc.statusStore()
    stages = [
        set(store.job(j).stageIds().mkString(",").split(","))
        for j in (first, first + 1)
    ]
    assert stages[0] & stages[1], "the two jobs share no stage"
    assert ledger["untagged"]["jobs"] == 2
    written = _shuffle_written(jsc) - written0
    assert written > 0
    assert ledger["untagged"]["shuffle_write_mb"] * 2**20 == pytest.approx(
        written, abs=1
    )


def test_methods_present(result):
    methods = {
        r["method"] for r in result["pairs"].select("method").distinct().collect()
    }
    assert {"exact", "minhash_lsh"} <= methods
    assert "substring" in methods or "prefix" in methods


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


def test_keyed_barrier_evaluates_signature_udf_once(spark):
    """candidate_pairs materializes ONE barrier, the keyed table (no
    separate signatures barrier), and its plan evaluates the fused
    signature UDF once: a single ArrowEvalPython node. A Filter on the UDF
    column would be pushed below the projection and evaluate it twice."""
    from ufo_dedup_spark.pipeline import candidate_pairs

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta"),
         (2, "alpha beta gamma delta epsilon zeta eta theta iota"),
         (3, None), (4, ""), (5, "short")],
        "id long, text string",
    )
    plans = {}

    def barrier(df, name):
        plans[name] = df._jdf.queryExecution().executedPlan().toString()
        return df.localCheckpoint(eager=True)

    cands = candidate_pairs(docs, PipelineConfig(), barrier=barrier)
    assert sorted(plans) == ["keyed"]
    assert plans["keyed"].count("ArrowEvalPython") == 1, plans["keyed"]
    assert [(r["id_a"], r["id_b"]) for r in cands.collect()] == [(1, 2)]


def test_config_rejects_more_band_rows_than_permutations():
    """bands * rows_per_band > num_perm is a ValueError naming the
    values (an assert would vanish under python -O)."""
    with pytest.raises(ValueError, match=r"43 \* 3 = 129.*num_perm \(128\)"):
        PipelineConfig(bands=43)
    PipelineConfig(bands=32, rows_per_band=4)  # exactly num_perm is fine


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


def test_fast_lcs_len_matches_suffix_array_oracle():
    """fast_lcs_len (the LCS UDF's kernel) must return the suffix-array
    LCS length in UTF-8 bytes — the unit ``substring_min_span`` is measured
    in — on ASCII and multi-byte text, for identical and empty inputs
    too."""
    import random

    from ufo_dedup_spark.operators.substring import (
        fast_lcs_len,
        longest_common_substring_len,
    )

    rng = random.Random(11)
    alphabets = ["ab c", "abcdefgh ", "aé日本 語ü", "日本語のテキスト"]
    cjk = "日本語のテキスト" * 10
    cases = [("", ""), ("", "abc"), ("abc", ""), ("x", "x"), (cjk, cjk)]
    for _ in range(300):
        alpha = rng.choice(alphabets)

        def draw(n):
            return "".join(rng.choice(alpha) for _ in range(n))

        a, b = draw(rng.randrange(1, 120)), draw(rng.randrange(1, 120))
        if rng.random() < 0.3:  # plant a shared span
            span = draw(rng.randrange(1, 60))
            a, b = a + span + draw(5), draw(5) + span + b
        cases.append((a, b))
        if rng.random() < 0.1:
            cases.append((a, a))
    for a, b in cases:
        assert fast_lcs_len(a, b) == longest_common_substring_len(a, b), (a, b)


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
