"""Run the web dedup pipeline on the synthetic corpus and report metrics.

Usage: python scripts/run_pipeline.py [--rows N] [--seed S] [--master M] [--json]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from ufo_dedup_spark.ledger import stage_ledger, stage_tag  # noqa: E402
from ufo_dedup_spark.pipeline import (  # noqa: E402
    DISK_BARRIER_ROWS,
    PipelineConfig,
    run_pipeline,
)
from ufo_dedup_spark.session import build_session  # noqa: E402
from ufo_dedup_spark.synth import SynthConfig, corpus_dataframes  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=2000)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--master", default=None)
    ap.add_argument("--json", action="store_true",
                    help="print one JSON line (skip recall computation)")
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
    cfg = PipelineConfig()
    lc = (args.master or "").startswith("local-cluster")
    if args.rows >= DISK_BARRIER_ROWS or lc:
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

    sc = spark.sparkContext
    first_job = sc._jsc.sc().dagScheduler().nextJobId()
    t0 = time.time()
    result = run_pipeline(spark, pages, cfg, n_docs_hint=n_pages)
    with stage_tag(sc, "pairs_count"):
        n_pairs = result["pairs"].count()
    with stage_tag(sc, "clusters_finish"):
        n_clusters = (
            result["clusters"]
            .groupBy("cluster_id")
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
    elapsed = time.time() - t0

    if args.json:
        import json

        ledger = stage_ledger(sc, first_job)
        print(json.dumps({
            "rows": n_pages,
            "master": args.master,
            "elapsed_sec": round(elapsed, 2),
            "docs_per_sec": round(n_pages / elapsed, 1),
            "pairs": n_pairs,
            "multi_clusters": n_clusters,
            "n_jobs": sum(row["jobs"] for row in ledger.values()),
            "counters": result["counters"],
            "ledger": ledger,
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
