"""ufo_dedup_spark — a PySpark-native near-duplicate detection & clustering engine.

A from-scratch re-implementation of the capabilities of UFOSINT/ufo-dedup
(reference at /root/reference, read-only), re-expressed as idiomatic Spark:

- DataFrame/SQL logical plans, Catalyst-optimized (no hand scheduling)
- blocking-key candidate generation as shuffle equi-joins
- cheap->expensive similarity cascade (native Column gates, then Arrow-batched
  pandas UDFs for the exact kernel)
- MinHash + SimHash + LSH banding + exact verification for web-scale near-dup
- suffix-array exact-substring stage, distributed union-find clustering
- per-partition checkpoint manifests for resumable batch jobs

The package is organized as:
  kernel.py     pure-Python reference-parity similarity kernel (no Spark deps)
  functions/    Column expressions + pandas UDFs
  operators/    composable DataFrame operators (blocking, tiers, lsh, cc, ...)
  sources/      table IO (Iceberg identifier or parquet path)
  pipeline.py   end-to-end web-page dedup pipeline
  synth.py      deterministic synthetic web corpus with planted ground truth
"""

__version__ = "0.1.0"
