"""Run the web dedup pipeline on the synthetic corpus and report metrics.

Usage: python scripts/run_pipeline.py [--rows N] [--seed S] [--master M]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from ufo_dedup_spark.pipeline import PipelineConfig, run_pipeline  # noqa: E402
from ufo_dedup_spark.session import build_session  # noqa: E402
from ufo_dedup_spark.synth import SynthConfig, corpus_dataframes  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=2000)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--master", default=None)
    ap.add_argument("--json", action="store_true",
                    help="print one JSON line (skip recall computation)")
    ap.add_argument("--barrier-format", default=None,
                    choices=["auto", "blocks", "parquet"],
                    help="override PipelineConfig.barrier_format for "
                         "barrier-implementation A/Bs (default: config "
                         "default, i.e. 'auto')")
    ap.add_argument("--tokens-bucketed", default=None, choices=["on", "off"],
                    help="override PipelineConfig.tokens_barrier_bucketed "
                         "(parquet-barrier runs only) for the bucketed "
                         "doc_tokens A/B")
    ap.add_argument("--conf", action="append", default=[],
                    metavar="KEY=VALUE",
                    help="extra Spark conf for this run (repeatable), e.g. "
                         "--conf spark.io.compression.codec=zstd for "
                         "disk-tight endurance legs")
    args = ap.parse_args()
    bad = [kv for kv in args.conf if kv.find("=") < 1]  # no '=' or no key
    if bad:
        ap.error(f"--conf expects KEY=VALUE, got {bad[0]!r}")

    extra_conf = dict(kv.split("=", 1) for kv in args.conf)
    spark = build_session(
        app_name="run-pipeline", master=args.master,
        extra_conf=extra_conf or None,
    )
    pages, truth_pairs, truth_clusters = corpus_dataframes(
        spark, SynthConfig(n_docs=args.rows, seed=args.seed)
    )
    # pages carries html (the largest column); above the pipeline's disk
    # threshold, deserialized residency of the corpus alone would crowd the
    # stage barriers out of the heap (the 2M roll-off) — and in
    # multi-executor (local-cluster) runs RDD disk blocks are resident on
    # the one executor that computed them, so every other executor
    # re-reads the corpus through loopback block fetches (the r5 4-JVM
    # docs_extract collapse, 33 -> 468 s). Parquet splits compress ~3-4x
    # and read per-executor with OS page-cache help.
    cfg_kwargs = {}
    if args.barrier_format:
        cfg_kwargs["barrier_format"] = args.barrier_format
    if args.tokens_bucketed:
        cfg_kwargs["tokens_barrier_bucketed"] = args.tokens_bucketed == "on"
    cfg = PipelineConfig(**cfg_kwargs)
    lc = (args.master or "").startswith("local-cluster")
    if args.rows >= cfg.barrier_disk_threshold_rows or lc:
        import atexit
        import shutil
        import tempfile

        d = tempfile.mkdtemp(prefix="ufo_synth_pages_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        pages.write.parquet(os.path.join(d, "pages"))
        pages = spark.read.parquet(os.path.join(d, "pages"))
    else:
        pages = pages.persist()
    n_pages = pages.count()

    def _next_job_id() -> int:
        return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    j0 = _next_job_id()
    t0 = time.time()
    phases: dict = {}
    result = run_pipeline(spark, pages, cfg, timings=phases, n_docs_hint=n_pages)
    # the stages after cheap_cc are lazy: the pairs count materializes
    # substring-LCS + first-wins dedup, the clusters count the final CC —
    # timing the two actions completes the per-phase table
    # pairs + CC rounds already materialized inside run_pipeline (the
    # substring_pairs_and_cc_rounds phase); these two actions are warm
    # except the final clusters join/aggregate
    t = time.time()
    n_pairs = result["pairs"].count()
    phases["pairs_count"] = round(time.time() - t, 2)
    t = time.time()
    n_clusters = (
        result["clusters"]
        .groupBy("cluster_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    phases["clusters_finish"] = round(time.time() - t, 2)
    elapsed = time.time() - t0
    n_jobs = _next_job_id() - j0

    if args.json:
        import json

        print(json.dumps({
            "rows": n_pages,
            "master": args.master,
            "elapsed_sec": round(elapsed, 2),
            "docs_per_sec": round(n_pages / elapsed, 1),
            "pairs": n_pairs,
            "multi_clusters": n_clusters,
            "n_jobs": n_jobs,
            "phases": phases,
        }))
        spark.stop()
        return

    # recall vs planted truth (pair-level, via urls)
    ids = result["docs"].select("id", "url")
    pred = (
        result["pairs"]
        .join(ids.select(F.col("id").alias("id_a"), F.col("url").alias("url_a")), "id_a")
        .join(ids.select(F.col("id").alias("id_b"), F.col("url").alias("url_b")), "id_b")
        .select(
            F.least("url_a", "url_b").alias("url_a"),
            F.greatest("url_a", "url_b").alias("url_b"),
        )
    )
    tp = truth_pairs.select(
        F.least("url_a", "url_b").alias("url_a"),
        F.greatest("url_a", "url_b").alias("url_b"),
        "kind",
    )
    hits = tp.join(pred, ["url_a", "url_b"], "left_semi")
    recall_by_kind = {
        r["kind"]: (r["hits"], r["total"])
        for r in tp.groupBy("kind")
        .agg(F.count(F.lit(1)).alias("total"))
        .join(
            hits.groupBy("kind").agg(F.count(F.lit(1)).alias("hits")),
            "kind",
            "left",
        )
        .fillna(0)
        .collect()
    }

    print(f"pages={n_pages} pairs={n_pairs} multi_clusters={n_clusters}")
    for kind, (h, t) in sorted(recall_by_kind.items()):
        print(f"  recall[{kind}] = {h}/{t} = {h / t:.4f}")
    print(f"elapsed={elapsed:.1f}s throughput={n_pages / elapsed:.1f} docs/s")
    spark.stop()


if __name__ == "__main__":
    main()
