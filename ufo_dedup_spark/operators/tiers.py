"""The reference's three-tier dedup pipeline as declarative DataFrame jobs.

Reference dataflow (dedup.py:283-595) re-expressed Spark-first:

- dict-of-lists blocking + key-set intersection + per-key nested loops
  -> ONE hash-shuffle equi-join per tier on the blocking-key columns
  (a blocking equi-join *is* the within-block cartesian product)
- per-source loader SQL (load_source_sightings, dedup.py:155-234)
  -> ``keyed_sightings``: projection + Column-expression normalization,
  all inside whole-stage codegen; location dim joined via broadcast
- compute_similarity per pair -> Arrow-batched pandas UDF on join output
- INSERT OR IGNORE first-tier-wins -> one hash aggregation over the union
  of all tiers, ranked by TIER_METHOD_PRIORITY
  (pairs.first_wins_by_priority)
- tier-3 date-block admission (<=20 rows, >=2 sources, dedup.py:505-515)
  -> pre-aggregation + semi-join BEFORE the self-join, capping the quadratic
  fan-out at the source (AQE can't do this — it splits partitions, not
  pair blow-ups)

Scale notes: blocking keys are the shuffle keys; the fact->dim join
broadcasts; scoring happens only on join survivors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ufo_dedup_spark.functions import normalize as N
from ufo_dedup_spark.functions.similarity import similarity_udf, tier3_score_udf
from ufo_dedup_spark.kernel import (
    SRC_MUFON,
    SRC_NUFORC,
    SRC_UFOCAT,
    SRC_UFOSEARCH,
    SRC_UPDB,
    TIER3_MIN_SCORE,
)
from ufo_dedup_spark.operators.blocking import admitted_blocks
from ufo_dedup_spark.operators.pairs import (
    anti_join_existing,
    canonicalize_pairs,
    first_wins_by_priority,
)

TIER3_MAX_BLOCK = 20

# Marked non-deterministic (it IS deterministic — this only restricts the
# optimizer, as substring.lcs_len_udf does): tier_3 filters on the score
# column, and predicate pushdown otherwise evaluates the UDF twice — once
# in a filter pushed below the LeftAnti join on existing pairs (scoring
# pairs tiers 1/2 already own) and again in the projection above it
# (plan-asserted by test_tier3_udf_evaluated_once).
_tier3_score = tier3_score_udf.asNondeterministic()

# Every tier method label, ranked in the order the reference runs its tiers
# (1a, 2a, 2b, 2c, 2d, 3): the lowest priority to claim a pair wins it.
TIER_METHOD_PRIORITY = {
    "tier1a_mufon_nuforc": 1,
    "tier2a_mufon_ufocat": 2,
    "tier2b_nuforc_ufocat": 3,
    "tier2c_updb_mufon": 4,
    "tier2c_updb_nuforc": 5,
    "tier2c_updb_ufocat": 6,
    "tier2d_ufosearch_mufon": 7,
    "tier2d_ufosearch_nuforc": 8,
    "tier2d_ufosearch_ufocat": 9,
    "tier3_desc_fuzzy": 10,
}


def keyed_sightings(
    sighting: DataFrame,
    location: DataFrame,
    source_db_id: int,
    use_raw_text_as_city: bool = False,
    country_filter: str | None = None,
    city_only: bool = False,
    parse_raw_text: bool = False,
) -> DataFrame:
    """Per-source keyed projection (reference load_source_sightings,
    dedup.py:155-234, and the tier-2d inline loader, dedup.py:449-464).

    Returns (id, d, city_n, state_n, description). ``state_n`` is '' in
    city-only mode so all tiers share one schema.
    """
    loc_cols = ["id", "raw_text", "city", "state"]
    if country_filter is not None:
        loc_cols.append("country")
    dim = F.broadcast(location.select(*[F.col(c).alias(f"l_{c}") for c in loc_cols]))

    df = (
        sighting.filter(
            (F.col("source_db_id") == source_db_id)
            & F.col("date_event").isNotNull()
        )
        .select("id", "date_event", "description", "location_id")
        .join(dim, F.col("location_id") == F.col("l_id"), "inner")
    )
    if country_filter is not None:
        df = df.filter(F.col("l_country") == country_filter)

    if parse_raw_text:
        # tier-2d: city/state regex-parsed from free text (dedup.py:459-462)
        city_n = N.parse_ufosearch_city_col(F.col("l_raw_text"))
        state_n = F.coalesce(
            N.parse_ufosearch_state_col(F.col("l_raw_text")), F.lit("")
        )
    else:
        city_src = F.col("l_raw_text") if use_raw_text_as_city else F.col("l_city")
        if city_only:
            # reference city-only loader requires a non-blank city column
            # pre-normalization (dedup.py:219)
            df = df.filter(
                F.col("l_city").isNotNull() & (F.trim(F.col("l_city")) != "")
            )
        city_n = N.normalize_city_col(city_src)
        state_n = (
            F.lit("") if city_only else N.normalize_state_col(F.col("l_state"))
        )

    out = df.select(
        "id",
        N.date10_col(F.col("date_event")).alias("d"),
        city_n.alias("city_n"),
        state_n.alias("state_n"),
        "description",
    )
    return out.filter(
        F.col("d").isNotNull()
        & (F.col("d") != "")
        & F.col("city_n").isNotNull()
        & (F.col("city_n") != "")
    )


def block_pair_candidates(
    a: DataFrame,
    b: DataFrame,
    key_cols: list[str],
    method: str,
    src_a: int,
    src_b: int,
) -> DataFrame:
    """Blocking equi-join + pandas-UDF scoring -> canonical pair rows.

    The score is computed in the tier's (a, b) orientation BEFORE id
    canonicalization — SequenceMatcher is only approximately symmetric, and
    the reference scores in tier orientation (dedup.py:306-310).
    """
    left = a.select(
        *key_cols, F.col("id").alias("id_a"), F.col("description").alias("desc_a")
    )
    right = b.select(
        *key_cols, F.col("id").alias("id_b"), F.col("description").alias("desc_b")
    )
    joined = left.join(right, on=key_cols, how="inner")
    scored = joined.select(
        "id_a",
        "id_b",
        similarity_udf(
            F.col("desc_a"), F.col("desc_b"), F.lit(src_a), F.lit(src_b)
        ).alias("score"),
        F.lit(method).alias("method"),
        F.lit("pending").alias("status"),
    )
    return canonicalize_pairs(scored)


def tier_1a(sighting: DataFrame, location: DataFrame) -> DataFrame:
    """MUFON <-> NUFORC on (date10, city, state) (dedup.py:283-325)."""
    mufon = keyed_sightings(sighting, location, SRC_MUFON)
    nuforc = keyed_sightings(sighting, location, SRC_NUFORC)
    return block_pair_candidates(
        mufon, nuforc, ["d", "city_n", "state_n"],
        "tier1a_mufon_nuforc", SRC_MUFON, SRC_NUFORC,
    )


def tier_2(sighting: DataFrame, location: DataFrame) -> DataFrame:
    """Sub-tiers 2a-2d unioned, each with its method label (dedup.py:328-487)."""
    key3 = ["d", "city_n", "state_n"]
    key2 = ["d", "city_n"]

    mufon = keyed_sightings(sighting, location, SRC_MUFON)
    nuforc = keyed_sightings(sighting, location, SRC_NUFORC)
    ufocat = keyed_sightings(
        sighting, location, SRC_UFOCAT, use_raw_text_as_city=True
    )
    parts = [
        block_pair_candidates(
            mufon, ufocat, key3, "tier2a_mufon_ufocat", SRC_MUFON, SRC_UFOCAT
        ),
        block_pair_candidates(
            nuforc, ufocat, key3, "tier2b_nuforc_ufocat", SRC_NUFORC, SRC_UFOCAT
        ),
    ]

    # 2c: UPDB (US only) vs others on (date, city) — state dropped
    # (dedup.py:390-443)
    updb = keyed_sightings(
        sighting, location, SRC_UPDB, country_filter="US", city_only=True
    )
    for other, name, src_other in [
        (mufon, "mufon", SRC_MUFON),
        (nuforc, "nuforc", SRC_NUFORC),
        (ufocat, "ufocat", SRC_UFOCAT),
    ]:
        parts.append(
            block_pair_candidates(
                updb, other, key2, f"tier2c_updb_{name}", SRC_UPDB, src_other
            )
        )

    # 2d: UFO-search with regex-parsed locations vs others (dedup.py:445-483)
    ufosearch = keyed_sightings(
        sighting, location, SRC_UFOSEARCH, parse_raw_text=True
    )
    for other, name, src_other in [
        (mufon, "mufon", SRC_MUFON),
        (nuforc, "nuforc", SRC_NUFORC),
        (ufocat, "ufocat", SRC_UFOCAT),
    ]:
        parts.append(
            block_pair_candidates(
                ufosearch, other, key3,
                f"tier2d_ufosearch_{name}", SRC_UFOSEARCH, src_other,
            )
        )

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def tier_3(
    sighting: DataFrame, existing_pairs: DataFrame | None = None
) -> DataFrame:
    """Date-only fuzzy matching across sources (dedup.py:490-595).

    Admission before the self-join: only day-precision dates with <= 20 rows
    and >= 2 distinct sources enter, so the quadratic fan-out is bounded at
    the source. Cross-source constraint src_a < src_b matches the reference's
    ordered source iteration; the prefilter (Jaccard >= 0.25 on
    double-stripped text) and the >= 0.5 keep-gate live in tier3_score_udf.
    """
    base = sighting.filter(
        F.col("date_event").isNotNull() & (F.length("date_event") >= 10)
    ).select(
        "id",
        F.col("source_db_id").alias("src"),
        N.date10_col(F.col("date_event")).alias("d"),
        "description",
    )

    admitted = admitted_blocks(
        base, ["d"], max_rows=TIER3_MAX_BLOCK, min_distinct=("src", 2)
    )
    base = base.join(admitted, on="d", how="left_semi")

    left = base.select(
        "d", F.col("id").alias("id_a"), F.col("src").alias("src_a"),
        F.col("description").alias("desc_a"),
    )
    right = base.select(
        "d", F.col("id").alias("id_b"), F.col("src").alias("src_b"),
        F.col("description").alias("desc_b"),
    )
    cand = left.join(right, on="d", how="inner").filter(
        F.col("src_a") < F.col("src_b")
    )

    cand = cand.withColumns(
        {
            "id_a": F.least("id_a", "id_b"),
            "id_b": F.greatest("id_a", "id_b"),
        }
    )
    if existing_pairs is not None:
        cand = anti_join_existing(cand, existing_pairs)

    scored = cand.select(
        "id_a",
        "id_b",
        _tier3_score(
            F.col("desc_a"), F.col("desc_b"), F.col("src_a"), F.col("src_b")
        ).alias("score"),
        F.lit("tier3_desc_fuzzy").alias("method"),
        F.lit("pending").alias("status"),
    )
    return scored.filter(
        F.col("score").isNotNull() & (F.col("score") >= TIER3_MIN_SCORE)
    )


def run_all_tiers(sighting: DataFrame, location: DataFrame) -> DataFrame:
    """Full pipeline: tiers 1-3 with first-tier-wins pair semantics.

    Tiers 1/2 pair disjoint source combinations, so only tier 3 can collide
    with them; the anti-join reproduces the reference's skip-existing-pairs
    optimization and first_wins_by_priority pins determinism.
    """
    t12 = tier_1a(sighting, location).unionByName(tier_2(sighting, location))
    t3 = tier_3(sighting, existing_pairs=t12)
    prio = F.when(F.lit(False), F.lit(0))
    for m, p in TIER_METHOD_PRIORITY.items():
        prio = prio.when(F.col("method") == m, F.lit(p))
    all_pairs = t12.unionByName(t3).withColumn("priority", prio)
    return first_wins_by_priority(all_pairs, TIER_METHOD_PRIORITY)
