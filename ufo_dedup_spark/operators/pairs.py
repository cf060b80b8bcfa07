"""Pair-table management: canonicalization, first-wins dedup, reports.

Re-expresses the reference's SQLite mechanics declaratively:
- ``a < b`` invariant + self-pair drop (reference insert_candidates,
  dedup.py:237-258) -> least/greatest + filter
- UNIQUE(a,b) + INSERT OR IGNORE with tiers running in sequence ("first tier
  to claim a pair wins its method label") -> ONE hash aggregation over the
  union of all tiers' candidates ranked by tier priority
  (``first_wins_by_priority``), instead of N sequential anti-joins. Same
  final table, one shuffle.
- verification aggregations (dedup.py:598-687) as groupBy jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def canonicalize_pairs(
    df: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Enforce id_a < id_b and drop self-pairs (dedup.py:247-251)."""
    lo = F.least(F.col(id_a), F.col(id_b))
    hi = F.greatest(F.col(id_a), F.col(id_b))
    return (
        df.filter(F.col(id_a) != F.col(id_b))
        .withColumns({id_a: lo, id_b: hi})
    )


def first_wins_by_priority(
    pairs: DataFrame,
    method_by_priority: dict[str, int],
    status: str = "pending",
    priority_col: str = "priority",
) -> DataFrame:
    """Keep one row per (id_a, id_b): the lowest priority value wins.

    Declarative equivalent of running tiers sequentially with
    INSERT OR IGNORE (dedup.py:254-258): priority encodes tier order;
    among rows of the winning priority the highest score wins.

    Preconditions (the pipeline and tiers.run_all_tiers satisfy both by
    construction):
    - ``method`` <-> ``priority`` is a bijection given by
      ``method_by_priority`` (every input row's method is in the dict;
      a pair won by a priority outside it raises at collection), so
      the general tie-break ``(priority, method, -score)`` reduces to
      ``(priority, -score)`` and the winning method can be DECODED from the
      winning priority after the aggregation;
    - ``status`` is the same constant on every row.

    Why: min_by over a string-bearing struct is not hash-aggregable — and
    neither is min over a struct (aggregation buffers must be mutable
    primitive types) — so the planner falls back to SortAggregate, fully
    sorting the pair union before the partial agg and again after the
    exchange. This formulation uses only SCALAR aggregates (min(int) plus
    one conditional max(double) per priority level — the bijection is a
    small frozen dict, so the fan-out is constant): the dedup stays a
    HashAggregate with map-side partial aggregation (guide §2.3), no
    sorts, and the winning score is the per-level max itself — no float
    encode/decode round trip. A pair whose winning-priority rows all have
    NULL score keeps a NULL score (max ignores NULLs), matching the
    general tie-break where NULL sorts last.
    """
    prios = sorted(set(method_by_priority.values()))
    aggs = [F.min(F.col(priority_col)).alias("_p")] + [
        F.max(
            F.when(F.col(priority_col) == p, F.col("score"))
        ).alias(f"_s{p}")
        for p in prios
    ]
    won = pairs.groupBy("id_a", "id_b").agg(*aggs)
    decode = F.when(F.lit(False), F.lit(""))
    score = F.when(F.lit(False), F.lit(0.0))
    for m, p in method_by_priority.items():
        decode = decode.when(F.col("_p") == p, F.lit(m))
    # a winning priority outside the dict (a method missing from it) fails
    # the query instead of emitting a NULL method and a NULL score
    decode = decode.otherwise(
        F.raise_error(
            F.format_string(
                "first_wins_by_priority: priority %s has no method in "
                "method_by_priority", F.col("_p"),
            )
        )
    )
    for p in prios:
        score = score.when(F.col("_p") == p, F.col(f"_s{p}"))
    return won.select(
        "id_a",
        "id_b",
        score.alias("score"),
        decode.alias("method"),
        F.lit(status).alias("status"),
    )


def anti_join_existing(candidates: DataFrame, existing: DataFrame) -> DataFrame:
    """Drop candidate pairs already present in the pair table (dedup.py:520-524,
    558-560). Both inputs must already be canonicalized."""
    return candidates.join(
        existing.select("id_a", "id_b"), on=["id_a", "id_b"], how="left_anti"
    )


def method_stats(pairs: DataFrame) -> DataFrame:
    """Per-method count/avg/min/max score report (dedup.py:613-621)."""
    return (
        pairs.groupBy("method")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("score"), 3).alias("avg_score"),
            F.round(F.min("score"), 3).alias("min_score"),
            F.round(F.max("score"), 3).alias("max_score"),
        )
        .orderBy(F.col("n_pairs").desc(), F.col("method"))
    )


def score_buckets(pairs: DataFrame) -> DataFrame:
    """Score histogram over the reference's five buckets (dedup.py:629-644)
    in ONE pass instead of five range-count queries."""
    bucket = (
        F.when(F.col("score") >= 0.9, "0.9-1.0")
        .when(F.col("score") >= 0.7, "0.7-0.9")
        .when(F.col("score") >= 0.5, "0.5-0.7")
        .when(F.col("score") >= 0.3, "0.3-0.5")
        .otherwise("0.0-0.3")
    )
    return (
        pairs.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.col("bucket").desc())
    )


def distinct_participants(pairs: DataFrame) -> DataFrame:
    """Ids involved in >=1 pair (dedup.py:675-682): explode both sides,
    distinct. At 10^12 scale swap distinct().count() for
    approx_count_distinct."""
    return (
        pairs.select(
            F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("id")
        ).distinct()
    )


def verification_report(pairs: DataFrame) -> DataFrame:
    """The reference's end-of-run verification report (dedup.py:598-687) as
    ONE long-format DataFrame: per-method stats, score-bucket histogram,
    and the distinct-participant count, unioned with a section tag.

    Columns: (section, key, n, avg_score, min_score, max_score). The
    reference prints these from five separate SQLite queries; here the
    three sections are three independent aggregations over one (cached)
    pair table, unioned for a single sink/collect.
    """
    d = F.lit(None).cast("double")
    methods = method_stats(pairs).select(
        F.lit("method").alias("section"),
        F.col("method").alias("key"),
        F.col("n_pairs").alias("n"),
        "avg_score",
        "min_score",
        "max_score",
    )
    buckets = score_buckets(pairs).select(
        F.lit("bucket").alias("section"),
        F.col("bucket").alias("key"),
        F.col("n_pairs").alias("n"),
        d.alias("avg_score"),
        d.alias("min_score"),
        d.alias("max_score"),
    )
    participants = distinct_participants(pairs).agg(
        F.count(F.lit(1)).alias("n")
    ).select(
        F.lit("participants").alias("section"),
        F.lit("all").alias("key"),
        "n",
        d.alias("avg_score"),
        d.alias("min_score"),
        d.alias("max_score"),
    )
    return methods.unionByName(buckets).unionByName(participants)

