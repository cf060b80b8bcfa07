"""Enrichment fill-NULL join (J6): transfer sidecar metadata onto canonical
records without overwriting existing values.

Reference semantics (reference enrich.py:104-162): sidecar records group by
a blocking key (date10, city_n, state_n); for each key the FIRST sidecar
record that has any metadata to offer is chosen; each matching target record
fills ONLY its NULL metadata columns from that record (102,554 Hynek /
83,710 Vallee / 1,697 shape transfers in the reference run).

Spark-first shape: 'first record with metadata' is a row_number window over
a pinned order (the reference relies on file order; a distributed engine
must pin it explicitly), the transfer is one left equi-join + per-column
coalesce. The best-per-key frame is one row per key — tiny next to the
target — so Catalyst/AQE broadcasts it; the target never shuffles.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def best_sidecar_records(
    sidecar: DataFrame,
    keys: list[str],
    fill_cols: list[str],
    order_col: str | Column,
) -> DataFrame:
    """One row per key: the first (by ``order_col``) sidecar record that has
    at least one non-NULL fill column (enrich.py:118-131)."""
    has_meta = reduce(
        lambda a, b: a | b, [F.col(c).isNotNull() for c in fill_cols]
    )
    w = Window.partitionBy(*keys).orderBy(order_col)
    return (
        sidecar.filter(has_meta)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*keys, *fill_cols)
    )


def enrich_fill_nulls(
    target: DataFrame,
    sidecar: DataFrame,
    keys: list[str],
    fill_cols: list[str],
    order_col: str | Column,
) -> DataFrame:
    """Left-match ``target`` to the best sidecar record per key and fill
    ONLY NULL ``fill_cols`` (a target's own values always win —
    enrich.py:133-137). Non-matching targets pass through unchanged.
    """
    best = best_sidecar_records(sidecar, keys, fill_cols, order_col)
    renamed = best.select(
        *keys, *[F.col(c).alias(f"_enrich_{c}") for c in fill_cols]
    )
    out = target.join(F.broadcast(renamed), on=keys, how="left")
    filled = {
        c: F.coalesce(F.col(c), F.col(f"_enrich_{c}")) for c in fill_cols
    }
    return out.withColumns(filled).drop(*[f"_enrich_{c}" for c in fill_cols])
