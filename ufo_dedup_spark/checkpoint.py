"""Checkpointed, resumable batch stages with lineage manifests + counters.

North-rule requirement: a killed job resumes without recomputing completed
work. Two granularities:

- ``stage``: whole-stage checkpoint. Output parquet is written once;
  a manifest JSON (stage name, config fingerprint, row count, counters,
  upstream lineage) marks completion. Re-running with the same fingerprint
  reads the parquet back instead of recomputing; a changed fingerprint
  (different shingle config, new extractor version) invalidates the
  checkpoint automatically.

- ``partitioned_stage``: the expensive stages (pair scoring) are split into
  K deterministic buckets (pmod(xxhash64(key), K)); each bucket commits
  independently (parquet subdir + manifest entry with its own counters).
  A kill mid-stage loses only the in-flight bucket; resume recomputes just
  the missing buckets. Bucket ids are derived from data keys, never from
  row order, so resume is stable across partitioning changes.

Manifests are tiny JSON files written AFTER the parquet commit (Spark's
_SUCCESS) — a crash between the two re-runs the stage, which is idempotent
because output goes to a temp dir first at the stage level and to a bucket
subdir at the bucket level.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ufo_dedup_spark.ledger import with_caller_properties


def config_fingerprint(*parts) -> str:
    """Stable fingerprint of configuration objects (dataclasses, strings)."""
    import hashlib

    chunks = []
    for p in parts:
        if hasattr(p, "__dataclass_fields__"):
            chunks.append(repr(sorted(p.__dict__.items())))
        else:
            chunks.append(repr(p))
    return hashlib.md5("||".join(chunks).encode()).hexdigest()


class CheckpointManager:
    def __init__(self, spark: SparkSession, base_dir: str, fingerprint: str):
        self.spark = spark
        self.base_dir = base_dir
        self.fingerprint = fingerprint
        os.makedirs(base_dir, exist_ok=True)

    # ---------------- whole-stage ----------------

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.base_dir, f"{name}.manifest.json")

    def _data_path(self, name: str) -> str:
        return os.path.join(self.base_dir, name)

    def read_manifest(self, name: str) -> dict | None:
        p = self._manifest_path(name)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            m = json.load(f)
        return m if m.get("fingerprint") == self.fingerprint else None

    def _write_manifest(self, name: str, payload: dict) -> None:
        p = self._manifest_path(name)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(payload, f, indent=2)
        os.replace(tmp, p)

    def stage(
        self,
        name: str,
        builder: Callable[[], DataFrame],
        counters: dict | None = None,
    ) -> DataFrame:
        """Compute-or-read a whole stage. Returns the checkpointed DataFrame."""
        m = self.read_manifest(name)
        if m is not None:
            return self.spark.read.parquet(self._data_path(name))

        df = builder()
        path = self._data_path(name)
        df.write.mode("overwrite").parquet(path)
        out = self.spark.read.parquet(path)
        self._write_manifest(
            name,
            {
                "stage": name,
                "fingerprint": self.fingerprint,
                "rows": out.count(),
                "counters": counters or {},
                "completed_at": time.time(),
            },
        )
        return out

    # ---------------- bucket-resumable stage ----------------

    def partitioned_stage(
        self,
        name: str,
        source: DataFrame,
        bucket_expr,
        n_buckets: int,
        builder: Callable[[DataFrame], DataFrame],
        concurrency: int = 3,
    ) -> DataFrame:
        """Resumable stage over deterministic data buckets.

        ``bucket_expr``: Column assigning each source row a bucket in
        [0, n_buckets); ``builder`` maps one bucket's rows to output rows.
        Completed buckets are recorded (with per-bucket counters) in the
        manifest; on resume only missing buckets run.

        ``concurrency`` buckets run as concurrent Spark jobs (one driver
        thread each, FAIR-scheduled when the session enables it): a
        straggler bucket no longer idles the cluster between bucket
        boundaries. Each bucket still commits independently (own parquet
        subdir + manifest entry under a lock), so a kill loses at most the
        in-flight ``concurrency`` buckets instead of serial resume
        granularity — the resume contract is unchanged.
        """
        manifest_path = self._manifest_path(name)
        # n_buckets is part of the resume contract: bucket membership is
        # pmod(key, n_buckets), so output written under a different bucket
        # count covers a different (overlapping) slice of the keyspace.
        # Resuming across an n_buckets change would re-emit rows already
        # covered by old buckets (or union stale subdirs back in), so the
        # manifest records it and any mismatch wipes the stage data dir.
        state: dict = {
            "fingerprint": self.fingerprint,
            "n_buckets": n_buckets,
            "buckets": {},
        }
        if os.path.exists(manifest_path):
            with open(manifest_path) as f:
                prev = json.load(f)
            if (
                prev.get("fingerprint") == self.fingerprint
                and prev.get("n_buckets") == n_buckets
            ):
                state = prev
        if not state["buckets"]:
            # fresh start (no manifest, config change, or bucket-count
            # change): clear stale bucket=* subdirs so the final
            # read.parquet() cannot union back rows from a dead config
            import shutil

            shutil.rmtree(self._data_path(name), ignore_errors=True)

        # pmod, not %: hash expressions go negative and `%` preserves sign
        src = source.withColumn("_bucket", F.pmod(bucket_expr, F.lit(n_buckets)))
        pending = [b for b in range(n_buckets) if str(b) not in state["buckets"]]
        manifest_lock = threading.Lock()

        def run_bucket(b: int) -> None:
            # per-thread scheduler pool: PySpark pins python threads to JVM
            # threads, so local properties (and thus FAIR pools) are
            # per-bucket; under the default FIFO scheduler concurrent jobs
            # still backfill idle slots. Reset in finally: the serial
            # fallback runs on the caller's thread, and a leaked pool
            # property would route every later job in the session to the
            # last bucket's pool.
            self.spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", f"{name}-bucket-{b}"
            )
            try:
                part = src.filter(F.col("_bucket") == b).drop("_bucket")
                out = builder(part)
                bucket_path = os.path.join(self._data_path(name), f"bucket={b}")
                out.write.mode("overwrite").parquet(bucket_path)
                n = self.spark.read.parquet(bucket_path).count()
                with manifest_lock:
                    state["buckets"][str(b)] = {
                        "rows_out": n,
                        "completed_at": time.time(),
                    }
                    self._write_manifest(name, state)
            finally:
                self.spark.sparkContext.setLocalProperty(
                    "spark.scheduler.pool", None
                )

        if concurrency <= 1 or len(pending) <= 1:
            for b in pending:
                run_bucket(b)
        else:
            # the caller's job group and stage tag ride along to each bucket
            run = with_caller_properties(self.spark.sparkContext, run_bucket)
            with ThreadPoolExecutor(max_workers=concurrency) as pool:
                futures = [pool.submit(run, b) for b in pending]
                try:
                    for fu in futures:
                        fu.result()  # surface the first failure; completed
                        # buckets keep their manifest entries for resume
                except BaseException:
                    # fail fast: don't let queued buckets run their full
                    # Spark jobs after a systemic failure — in-flight
                    # buckets finish (their manifests stay valid for
                    # resume), queued ones are cancelled
                    pool.shutdown(wait=False, cancel_futures=True)
                    raise
        # drop the hive-style partition column the bucket subdirs introduce
        return self.spark.read.parquet(self._data_path(name)).drop("bucket")

    def counters(self) -> dict:
        """All recorded manifests: {stage: manifest} for reporting."""
        out = {}
        for f in os.listdir(self.base_dir):
            if f.endswith(".manifest.json"):
                with open(os.path.join(self.base_dir, f)) as fh:
                    out[f[: -len(".manifest.json")]] = json.load(fh)
        return out
