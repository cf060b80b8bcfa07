"""MinHash-LSH candidate generation: banding, bucketing, bounded pair fan-out.

Plan shape (all JVM-side except the signature UDF):
  docs --minhash_udf--> sig: array<long>
       --transform/xxhash64--> band hashes (derived in codegen, no 2nd UDF)
       --posexplode--> (id, band_idx, band_hash)
       --self-join on bucket--> candidate pairs --distinct--> verify stage

Skew control (SURVEY.md §4): bucket membership is aggregated BEFORE pair
generation. Buckets <= ``all_pairs_cap`` emit all pairs (quadratic, bounded);
larger buckets emit a star onto the bucket minimum — linear in the bucket
size, and connected components later recovers the full cluster. That keeps
giant boilerplate buckets (the skewed-host case) from exploding the shuffle
while losing no cluster-level recall.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def band_hash(sig, i: int, rows_per_band: int):
    """Hash of band ``i`` (rows ``i*rows_per_band ..``) of signature column
    ``sig``; the band index is hashed in, so equal slices in different
    bands never share a bucket."""
    return F.xxhash64(
        F.slice(sig, i * rows_per_band + 1, rows_per_band), F.lit(i)
    )


def band_hashes_col(sig_col: str, bands: int, rows_per_band: int):
    """array<long> of per-band hashes derived from the signature column.

    Statically unrolled (band count is config, not data) so the whole
    expression stays inside codegen.
    """
    return F.array(
        *[band_hash(F.col(sig_col), i, rows_per_band) for i in range(bands)]
    )


def pairs_within_groups(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    all_pairs_cap: int = 64,
    extra_cols: list[str] | None = None,
    keep_group_cols: bool = False,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) within each group, with bounded fan-out.

    Groups of size in [2, all_pairs_cap]: full within-group join.
    Larger groups: a star — every member paired with the group's minimum id.
    Both are linear in group size and cluster-preserving (connected
    components recovers the full cluster), but the star additionally (a)
    collapses to identical pairs across overlapping groups (e.g. the same
    giant bucket surfacing in many LSH bands), so the downstream distinct
    actually dedupes, and (b) keeps component diameter at 2, so union-find
    converges in O(1) rounds instead of O(log chain-length).
    Shared by exact dedup, LSH buckets, prefix blocks and winnow buckets.

    ``keep_group_cols=True`` additionally returns the group-key columns on
    every pair row — used by callers that fuse several bucket families
    into one call (disjoint key spaces tagged by a family column) and need
    the family back for per-family post-filters.
    """
    extra_cols = extra_cols or []
    gc = [F.col(c) for c in group_cols]

    # ONE cheap codegen'd hash agg sizes every bucket AND captures the
    # bucket minimum (id + its extra cols, via min/min_by — fixed-width
    # buffers, so this stays a HashAggregate): the overwhelming majority
    # of buckets are singletons, and feeding them to the object-based
    # collect_list agg is what dominates (measured ~6x in r5). The
    # multi-member bucket list is tiny relative to the input, so AQE
    # turns the joins below into broadcasts.
    sizes = (
        df.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min(F.col(id_col)).alias("_min_i"),
            *[
                F.min_by(F.col(c), F.col(id_col)).alias(f"_min_{c}")
                for c in extra_cols
            ],
        )
        .filter(F.col("_n") >= 2)
    )

    # SMALL buckets (2..cap members): collect each bucket's members into
    # a sorted array and generate all pairs with array expressions —
    # replaces the r1 groupBy+join+window formulation that sorted the
    # exploded table three times (measured 3x faster on the LSH band
    # table). Arrays here are cap-bounded, so aggregation buffers and the
    # exploded pair arrays stay small by construction.
    small_keys = sizes.filter(F.col("_n") <= all_pairs_cap).select(*group_cols)
    members = df.join(small_keys, on=group_cols, how="left_semi")
    member = F.struct(F.col(id_col).alias("i"), *[F.col(c) for c in extra_cols])
    groups = (
        members.groupBy(*group_cols)
        .agg(F.sort_array(F.collect_list(member)).alias("xs"))
        .filter(F.size("xs") >= 2)
    )
    all_pairs = F.flatten(
        F.transform(
            F.col("xs"),
            lambda x, i: F.transform(
                F.slice(F.col("xs"), i + F.lit(2), F.size("xs")),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    small = groups.select(
        *(gc if keep_group_cols else []),
        F.explode(all_pairs).alias("p"),
    ).select(
        *(gc if keep_group_cols else []),
        F.col("p.a.i").alias("id_a"),
        F.col("p.b.i").alias("id_b"),
        *[F.col(f"p.a.{c}").alias(f"{c}_a") for c in extra_cols],
        *[F.col(f"p.b.{c}").alias(f"{c}_b") for c in extra_cols],
    )

    # BIG buckets (> cap): a star onto the bucket minimum — generated as
    # a LINEAR scan joined with the one-row-per-bucket min table, never
    # collecting members. The previous formulation collected the full
    # membership array and materialized an (n-1)-element pair array per
    # bucket before exploding; at a 1.2M-member boilerplate bucket that
    # is a 30+ MB aggregation row plus a ~50 MB contiguous UnsafeRow
    # array buffer PER BAND, which OOMed the 8M single-box run. This
    # path emits the identical pair set (min sorts first, so pairs are
    # (xs[0], y) exactly) with O(1) per-row memory, and spreads the hot
    # bucket's pair generation across every partition of the scan
    # instead of concentrating it in one aggregation task.
    big = sizes.filter(F.col("_n") > all_pairs_cap).drop("_n")
    big_pairs = (
        df.join(big, on=group_cols)
        .filter(F.col(id_col) != F.col("_min_i"))
        .select(
            *(gc if keep_group_cols else []),
            F.col("_min_i").alias("id_a"),
            F.col(id_col).alias("id_b"),
            *[F.col(f"_min_{c}").alias(f"{c}_a") for c in extra_cols],
            *[F.col(c).alias(f"{c}_b") for c in extra_cols],
        )
    )
    return small.unionByName(big_pairs)


def lsh_candidate_pairs(
    docs: DataFrame,
    id_col: str = "id",
    sig_col: str = "minhash",
    bands: int = 32,
    rows_per_band: int = 4,
    all_pairs_cap: int = 64,
) -> DataFrame:
    """Distinct candidate pairs from MinHash LSH banding.

    NULL signatures (empty docs) are dropped before banding — they carry no
    content to match and would otherwise co-bucket in every band.
    """
    docs = docs.filter(F.col(sig_col).isNotNull())
    # NOT materialized here: pairs_within_groups reads the band table
    # three times (bucket sizes, small-bucket semi-join, big-bucket star
    # join), so each read re-runs the explode. Acceptable for this
    # query-side helper over a caller's signature frame; the pipeline
    # instead materializes its keyed table once (candidate_pairs), which
    # measured 38% faster candidate generation at 2k and 20k docs.
    buckets = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(band_hashes_col(sig_col, bands, rows_per_band)).alias(
            "band_idx", "band_hash"
        ),
    )
    pairs = pairs_within_groups(
        buckets, ["band_idx", "band_hash"], "_id", all_pairs_cap
    )
    # a pair can surface in several bands — dedupe before expensive verify
    return pairs.select("id_a", "id_b").distinct()

