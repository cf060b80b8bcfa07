"""Per-query benchmark for optimization work (bench.py stays FROZEN; the
pipeline's phases are measured by ``scripts/run_pipeline.py --json`` and
``perfbench --trace 1``).

  python bench_extra.py queries [sf_dir] [names,comma,separated] [reps]
      Per-query wall with the SAME checksum aggregation bench.py uses
      (count + xxhash64-sum over every column, so Catalyst cannot prune
      computed columns), min-of-N with raw reps and the result hash
      printed — the hash makes before/after runs comparable as a
      result-equality check, not just a timing.

Env: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from ufo_dedup_spark import queries as Q  # noqa: E402
from ufo_dedup_spark.session import build_session  # noqa: E402

HEADLINE = [
    "pricing_summary", "top_customer_revenue", "customer_top_orders",
    "events_hourly", "doc_stats", "doc_blocking_pairs",
    "doc_pair_score_buckets", "top_similar_embeddings",
]


def _checksum(df):
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")
        ).alias("h"),
    ).collect()[0]


def mode_queries(argv):
    sf_dir = argv[0] if argv else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0"
    )
    names = argv[1].split(",") if len(argv) > 1 and argv[1] else HEADLINE
    reps = int(argv[2]) if len(argv) > 2 else 3
    spark = build_session(app_name="bench-extra-queries")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).select(F.sum("id")).collect()
    qs = Q.queries()
    out = {}
    for name in names:
        rep_times = []
        for _ in range(reps):
            if name == "doc_blocking_pairs":
                Q.reset_doc_pairs_cache()
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            t0 = time.time()
            row = _checksum(qs[name](spark, sf_dir))
            rep_times.append(round(time.time() - t0, 3))
        out[name] = {
            "min": min(rep_times), "reps": rep_times,
            "rows": row["n"], "hash": str(row["h"]),
        }
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"metric": "bench_extra_queries", "sf_dir": sf_dir,
                      "queries": out}))
    spark.stop()


if __name__ == "__main__":
    if sys.argv[1:2] not in ([], ["queries"]):
        sys.exit(f"unknown mode {sys.argv[1]!r}: only 'queries' remains")
    mode_queries(sys.argv[2:])
