"""Blocking admission: which blocking keys may enter a self-join.

The quadratic hazard of blocking-based dedup: an equi-join on a blocking key
produces |block|^2 pairs per key, and AQE's skew-join splitting only splits
*partitions*, not the quadratic blow-up itself. So block control happens
BEFORE the join (SURVEY.md §4 "Skew guard"): ``admitted_blocks`` is one
partial+final aggregation of rows (and distinct sources) per key, and the
caller semi-joins its rows to the admitted keys — the reference's tier-3
"<= 20 rows, >= 2 sources per date" rule (dedup.py:505-515), generalized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def admitted_blocks(
    df: DataFrame,
    key_cols: list[str],
    max_rows: int | None = None,
    min_distinct: tuple[str, int] | None = None,
) -> DataFrame:
    """Blocking keys passing admission rules (reference tier-3 A1 agg,
    dedup.py:505-515): at most ``max_rows`` rows, and at least ``n`` distinct
    values of a column given as ``min_distinct=(col, n)``."""
    aggs = [F.count(F.lit(1)).alias("block_n")]
    if min_distinct is not None:
        aggs.append(F.countDistinct(min_distinct[0]).alias("distinct_n"))
    out = df.groupBy(*key_cols).agg(*aggs)
    if max_rows is not None:
        out = out.filter(F.col("block_n") <= max_rows)
    if min_distinct is not None:
        out = out.filter(F.col("distinct_n") >= min_distinct[1])
    return out.select(*key_cols)
