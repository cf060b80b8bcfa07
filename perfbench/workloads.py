"""The benchmark's workloads: inputs, the timed unit, output checks and the
traced decomposition of each.

Every workload drives ``ufo_dedup_spark`` through its public functions only,
from one client thread (a closed loop: the next unit starts after the
previous one returned). A unit is one complete user-visible result:

- dedup_dense: the pipeline call with its pairs and clusters collected;
- query_battery: 22 of the registered queries, each collected in full.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from perfbench import tables

# (workload, seed, n_docs) -> pair count pinned in ROADMAP.md
PINNED_PAIRS = {
    ("dedup_dense", 42, 2000): 3982,
    ("dedup_dense", 42, 20000): 44727,
}

QUERY_FAMILIES = {
    "ann": {
        "top_similar_embeddings", "embedding_near_dup_pairs",
        "ann_near_dup_pairs", "ann_probed_containment",
        "ann_near_dup_pairs_probed", "ann_probed_recall",
        "ivf_topk_embeddings",
    },
    "ufo_etl": {
        "source_dates_parsed", "ufocat_dates_parsed",
        "geldreich_dates_parsed", "sighting_fix_battery", "coord_repair",
        "enrich_fill_nulls", "geocode_cascade", "historic_category_summary",
    },
    "doc_dedup": {
        "exact_dup_groups", "doc_fingerprints", "doc_stats",
        "doc_blocking_pairs", "doc_pair_score_buckets",
        "doc_pair_participants", "doc_pair_lang_stats", "doc_dedup_report",
        "lang_block_admission", "lang_id_confusion", "ngram_jaccard_pairs",
        "doc_clusters", "token_count_by_source", "bpe_token_stats",
        "minhash_lsh_candidates", "simhash_fingerprints",
        "simhash_null_contract", "minhash_sig_contract",
    },
}


# The battery is bench.py's headline queries plus every ann and ufo_etl
# query: 22 of the 42 reach all four query families, and all 42 do not fit
# the evaluation's time budget (README, "Sizes and what was left out").
HEADLINE = (
    "pricing_summary", "top_customer_revenue", "customer_top_orders",
    "events_hourly", "doc_stats", "doc_blocking_pairs",
    "doc_pair_score_buckets", "top_similar_embeddings",
)
BATTERY_FAMILIES = ("ann", "ufo_etl")


def query_family(name: str) -> str:
    for fam, names in QUERY_FAMILIES.items():
        if name in names:
            return fam
    return "relational"


def in_battery(name: str) -> bool:
    return name in HEADLINE or query_family(name) in BATTERY_FAMILIES


@dataclass
class Unit:
    """One timed unit: its wall time, the ops it made, and their outputs."""

    wall_s: float
    ops: list[tuple[str, float]] = field(default_factory=list)
    outputs: dict = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)


# ---------------------------------------------------------------------------
# dedup workload
# ---------------------------------------------------------------------------


def _pair_rows(df):
    return [
        (r.id_a, r.id_b, r.method, round(r.score, 6))
        for r in df.select("id_a", "id_b", "method", "score").collect()
    ]


def _cluster_rows(df):
    return [(r.id, r.url, r.cluster_id) for r in df.collect()]


def planted_recall(cfg, pair_rows, cluster_rows) -> tuple[float, float]:
    """(pair_recall, cluster_recall) against the corpus's planted truth.

    Pair truth excludes ``skew_near``: its truth is cluster-level (the
    fan-out cap keeps only star edges on the skew host). Cluster truth
    includes the skew host: a planted cluster is recalled when all its
    members share one ``cluster_id``.
    """
    from ufo_dedup_spark.synth import ground_truth

    truth_pairs, truth_clusters = ground_truth(cfg)
    url_id = {url: i for i, url, _ in cluster_rows}
    label = {url: c for _, url, c in cluster_rows}
    found = {(a, b) for a, b, _, _ in pair_rows}
    planted = [
        tuple(sorted((url_id[a], url_id[b])))
        for a, b, kind in truth_pairs
        if kind != "skew_near"
    ]
    pair_recall = sum(p in found for p in planted) / len(planted)
    groups = defaultdict(set)
    for url, planted_id in truth_clusters:
        groups[planted_id].add(label[url])
    cluster_recall = sum(len(g) == 1 for g in groups.values()) / len(groups)
    return pair_recall, cluster_recall


def multi_clusters(cluster_rows) -> int:
    sizes = defaultdict(int)
    for _, _, c in cluster_rows:
        sizes[c] += 1
    return sum(n > 1 for n in sizes.values())


class Dedup:
    """run_pipeline on the default synthetic corpus (about 40% planted
    duplicates, 15% of docs on one boilerplate host); a unit is the call
    with its pairs and clusters collected.

    The traced run also measures the checkpointed path on the same corpus:
    ``run_pipeline_checkpointed`` into a fresh workdir, then a resume, both
    checked against the pipeline's tables. It stays out of the timed unit
    because its write run alone costs as much as ``run_pipeline``.
    """

    name = "dedup_dense"
    item = "docs"
    sizes = {"full": 2000, "smoke": 400}

    def __init__(self, seed: int, smoke: bool, work_dir: str):
        from ufo_dedup_spark.synth import SynthConfig

        self.seed = seed
        self.checkpoints = os.path.join(work_dir, "checkpoints")
        self.cfg = SynthConfig(
            n_docs=self.sizes["smoke" if smoke else "full"], seed=seed
        )
        self.items = self.cfg.n_docs
        self.pages = None

    def describe(self) -> dict:
        return {"n_docs": self.cfg.n_docs, "seed": self.seed}

    def prepare(self, spark) -> None:
        from ufo_dedup_spark.synth import corpus_dataframes

        if self.pages is not None:
            self.pages.unpersist(blocking=True)
        pages, _, _ = corpus_dataframes(spark, self.cfg)
        self.pages = pages.persist()
        self.pages.count()

    def _checkpointed(self, spark):
        from ufo_dedup_spark.pipeline import run_pipeline_checkpointed

        res = run_pipeline_checkpointed(spark, self.pages, self.checkpoints)
        return _pair_rows(res["pairs"]), _cluster_rows(res["clusters"])

    def run(self, spark) -> Unit:
        from ufo_dedup_spark.pipeline import run_pipeline

        t0 = time.perf_counter()
        res = run_pipeline(spark, self.pages)
        pairs = _pair_rows(res["pairs"])
        clusters = _cluster_rows(res["clusters"])
        wall = time.perf_counter() - t0
        res["pairs"].unpersist()
        return Unit(wall, [("run_pipeline", wall)],
                    {"pairs": pairs, "clusters": clusters})

    def check(self, spark, unit: Unit) -> tuple[list[str], dict]:
        pairs, clusters = unit.outputs["pairs"], unit.outputs["clusters"]
        report = self._report(pairs, clusters)
        return self._check_tables(report, pairs, clusters), report

    def _check_tables(self, report, pairs, clusters, *same_tables) -> list[str]:
        """Recall 1.0, one cluster row per doc, the pinned pair count where
        there is one, and every (pairs, clusters) in ``same_tables`` equal
        to these."""
        failures = []
        pinned = PINNED_PAIRS.get((self.name, self.seed, self.cfg.n_docs))
        if pinned is not None and len(pairs) != pinned:
            failures.append(f"pairs {len(pairs)} != pinned {pinned}")
        for k in ("pair_recall", "cluster_recall"):
            if report[k] != 1.0:
                failures.append(f"{k} {report[k]:.4f} != 1")
        if len(clusters) != self.cfg.n_docs:
            failures.append(f"{len(clusters)} cluster rows for {self.cfg.n_docs} docs")
        want = (sorted(pairs), sorted(clusters))
        for name, tables_ in same_tables:
            if tuple(map(sorted, tables_)) != want:
                failures.append(f"{name} tables differ")
        return failures

    def _report(self, pairs, clusters) -> dict:
        pr, cr = planted_recall(self.cfg, pairs, clusters)
        return {
            "pairs": len(pairs),
            "multi_clusters": multi_clusters(clusters),
            "pair_recall": pr,
            "cluster_recall": cr,
        }

    def trace(self, spark, tracer) -> dict:
        """run_pipeline's stages called serially, one span per layer, each
        materialized so its jobs land inside its span; then the
        checkpointed write run, its resume and run_pipeline itself, whose
        tables must all equal the layers' tables."""
        from ufo_dedup_spark.operators.connected_components import (
            connected_components,
        )
        from ufo_dedup_spark.operators.pairs import first_wins_by_priority
        from ufo_dedup_spark.operators.substring import substring_candidate_pairs
        from ufo_dedup_spark.pipeline import (
            METHOD_PRIORITY,
            PipelineConfig,
            candidate_pairs,
            prepare_documents,
            prepare_tokens,
            substring_pairs,
            verify_candidate_pairs,
        )

        cfg = PipelineConfig()
        rows, shape = {}, {}
        with tracer.span("extract"):
            docs = prepare_documents(self.pages).localCheckpoint(eager=True)
        rows["extract"] = docs.count()
        with tracer.span("signatures"):
            cands = candidate_pairs(docs, cfg)
        with tracer.span("candidates"):
            cands = cands.localCheckpoint(eager=True)
        rows["candidates"] = n_cands = cands.count()
        by_method = dict(cands.groupBy("method").count().collect())
        for m in ("exact", "minhash_lsh", "simhash", "prefix"):
            shape[f"candidates.by_method.{m}"] = by_method.get(m, 0)
        with tracer.span("tokens"):
            prepped = prepare_tokens(docs).localCheckpoint(eager=True)
        rows["tokens"] = prepped.count()
        with tracer.span("winnow"):
            sub_cands = substring_candidate_pairs(
                docs, "id", "text", cfg.substring_gram, cfg.substring_window,
                cfg.all_pairs_cap,
            ).localCheckpoint(eager=True)
        rows["winnow"] = n_winnow = sub_cands.count()
        with tracer.span("verify"):
            verified = verify_candidate_pairs(
                cands, docs, cfg, prepped=prepped, filtered=False
            ).localCheckpoint(eager=True).filter(
                F.col("score") >= cfg.verify_threshold
            )
        rows["verify"] = n_verified = verified.count()
        shape["verify.yield"] = n_verified / n_cands if n_cands else 0.0
        cheap_stats: dict = {}
        with tracer.span("cheap_cc"):
            cheap = connected_components(
                verified.filter(F.col("score") >= cfg.cluster_threshold).select(
                    "id_a", "id_b"
                ),
                max_iter=cfg.cheap_cc_max_iter,
                stats=cheap_stats,
                edges_distinct=True,
            ).localCheckpoint(eager=True)
        rows["cheap_cc"] = cheap.count()
        with tracer.span("substring"):
            sub = substring_pairs(
                docs, cfg, exclude=verified, exclude_clusters=cheap,
                cands=sub_cands,
            ).localCheckpoint(eager=True)
        rows["substring"] = n_sub = sub.count()
        shape["substring.yield"] = n_sub / n_winnow if n_winnow else 0.0
        prio = F.when(F.lit(False), F.lit(0))
        for m, p in METHOD_PRIORITY.items():
            prio = prio.when(F.col("method") == m, F.lit(p))
        with tracer.span("pairs"):
            pairs = first_wins_by_priority(
                verified.unionByName(sub).withColumn(
                    "priority", prio.otherwise(F.lit(99))
                ),
                METHOD_PRIORITY,
            ).localCheckpoint(eager=True)
        pair_rows = _pair_rows(pairs)
        rows["pairs"] = len(pair_rows)
        final_stats: dict = {}
        with tracer.span("final_cc"):
            edges = pairs.filter(
                (F.col("score") >= cfg.cluster_threshold)
                | (F.col("method") == "substring")
            )
            cc = connected_components(
                edges.select("id_a", "id_b"), stats=final_stats,
                edges_distinct=True,
            )
            cluster_rows = _cluster_rows(
                docs.select("id", "url").join(cc, "id", "left").select(
                    "id", "url",
                    F.coalesce(F.col("cluster_id"), F.col("id")).alias("cluster_id"),
                )
            )
        rows["final_cc"] = len(cluster_rows)
        unit_wall_s = time.time() - tracer.spans[0]["start"]
        for layer, st in (("cheap_cc", cheap_stats), ("final_cc", final_stats)):
            shape[f"{layer}.rounds"] = st.get("rounds", 0)
            shape[f"{layer}.entry_edges"] = st.get("entry_edges", 0)

        shutil.rmtree(self.checkpoints, ignore_errors=True)
        with tracer.span("checkpoint"):
            checkpoint = self._checkpointed(spark)
        rows["checkpoint"] = len(checkpoint[0])
        shape["checkpoint.bytes_written_mb"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(self.checkpoints) for f in fs
        ) / 2**20
        with tracer.span("checkpoint_resume"):
            resume = self._checkpointed(spark)
        shape["checkpoint.resume_s"] = tracer.duration("checkpoint_resume")
        # the untraced unit once more, warm, for its tables; its span keeps
        # its jobs out of the layers and out of unattributed
        with tracer.span("reference"):
            ref = self.run(spark).outputs
        report = self._report(pair_rows, cluster_rows)
        return {
            "unit_wall_s": unit_wall_s,
            "rows": rows,
            "shape": shape,
            "failures": self._check_tables(
                report, pair_rows, cluster_rows,
                ("checkpointed", checkpoint), ("resumed", resume),
                ("run_pipeline", (ref["pairs"], ref["clusters"])),
            ),
            "report": report,
        }


# ---------------------------------------------------------------------------
# query battery
# ---------------------------------------------------------------------------


class QueryBattery:
    """The headline queries and every ann and ufo_etl query (22 of the 42
    registered), in registry order, on seeded tables at sf 0.001 scale."""

    name = "query_battery"
    item = "queries"
    sizes = {
        "full": tables.TableSizes(sf=0.001, documents=500, embeddings=200),
        "smoke": tables.TableSizes(sf=0.0002, documents=150, embeddings=60),
    }

    def __init__(self, seed: int, smoke: bool, work_dir: str):
        from ufo_dedup_spark import queries as Q

        self.seed = seed
        self.size = self.sizes["smoke" if smoke else "full"]
        self.sf_dir = os.path.join(work_dir, "tables")
        self.queries = {n: fn for n, fn in Q.queries().items() if in_battery(n)}
        self.items = len(self.queries)
        self.row_counts: dict[str, int] = {}

    def describe(self) -> dict:
        return {"seed": self.seed, "tables": self.row_counts}

    def prepare(self, spark) -> None:
        self.row_counts = tables.write(self.sf_dir, self.seed, self.size)

    def _battery(self, spark, around=None) -> Unit:
        from ufo_dedup_spark import queries as Q

        Q.reset_doc_pairs_cache()
        unit = Unit(0.0)
        t_all = time.perf_counter()
        for name, fn in self.queries.items():
            t0 = time.perf_counter()
            try:
                if around is None:
                    df = fn(spark, self.sf_dir)
                    rows = [tuple(r) for r in df.collect()]
                else:
                    with around(name):
                        df = fn(spark, self.sf_dir)
                        rows = [tuple(r) for r in df.collect()]
                unit.outputs[name] = (df.columns, rows)
            except Exception as exc:  # noqa: BLE001 - one query's failure is a result
                unit.errors.append(f"{name}: {type(exc).__name__}: {exc}")
            unit.ops.append((name, time.perf_counter() - t0))
        unit.wall_s = time.perf_counter() - t_all
        return unit

    def run(self, spark) -> Unit:
        return self._battery(spark)

    def check(self, spark, unit: Unit) -> tuple[list[str], dict]:
        import duckdb
        from scripts.check_correctness import canon

        from ufo_dedup_spark import queries as Q

        failures = list(unit.errors)
        oracles = Q.oracle_sql()
        con = duckdb.connect()
        try:
            for t in self.row_counts:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            oracle_ok = oracle_total = 0
            for name, (cols, rows) in unit.outputs.items():
                if name not in oracles:
                    if not rows:
                        failures.append(f"{name}: no rows")
                    continue
                oracle_total += 1
                res = con.execute(oracles[name])
                o_cols = [d[0] for d in res.description]
                if sorted(cols) != sorted(o_cols):
                    failures.append(f"{name}: columns {sorted(cols)} != {sorted(o_cols)}")
                elif canon(rows, cols) != canon(res.fetchall(), o_cols):
                    failures.append(f"{name}: rows differ from the DuckDB oracle")
                else:
                    oracle_ok += 1
        finally:
            con.close()
        lat = sorted(dt for _, dt in unit.ops)
        # the highest nearest-rank percentile with 10 samples above it
        tail = max(1, len(lat) - 10)
        report = {
            "oracle_ok": oracle_ok,
            "oracle_total": oracle_total,
            "queries": len(lat),
            "query_p50_s": statistics.median(lat),
            f"query_p{round(100 * tail / len(lat))}_s": lat[tail - 1],
            "rows": {n: len(r) for n, (_, r) in unit.outputs.items()},
        }
        return failures, report

    def trace(self, spark, tracer) -> dict:
        unit = self._battery(
            spark,
            around=lambda name: tracer.span(
                f"queries.{query_family(name)}.{name}",
                group=f"queries.{query_family(name)}",
            ),
        )
        failures, report = self.check(spark, unit)
        return {"unit_wall_s": unit.wall_s, "rows": {}, "shape": {},
                "failures": failures, "report": report}


WORKLOADS = {w.name: w for w in (Dedup, QueryBattery)}
