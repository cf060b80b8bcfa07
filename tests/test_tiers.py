"""End-to-end tests for the tier pipeline on DataFrame fixtures.

Scenarios mirror the reference's integration tests (its tests/test_dedup.py
groups J/K/L), plus a randomized full-pipeline equivalence check against the
spec-derived single-process oracle (oracle_tiers.py).
"""

from __future__ import annotations

import os
import random

import pytest

from oracle_tiers import oracle_all_tiers
from test_entry import SF_DIR
from ufo_dedup_spark import queries as Q
from ufo_dedup_spark.kernel import (
    SRC_MUFON,
    SRC_NUFORC,
    SRC_UFOCAT,
    SRC_UFOSEARCH,
    SRC_UPDB,
)
from ufo_dedup_spark.operators import tiers

DESC_A = (
    "A bright orange orb hovered over the treeline for several minutes "
    "before shooting straight up into the clouds."
)
DESC_B = (
    "Three lights in triangle formation drifted slowly over the highway, "
    "completely silent the entire time."
)


def make_row(id, src, date, city=None, state=None, country="US", desc=None, raw=None):
    return {
        "id": id, "src": src, "date": date, "city": city, "state": state,
        "country": country, "desc": desc, "raw_text": raw,
    }


def to_dfs(spark, rows):
    """rows -> (sighting, location) DataFrames, one location per sighting."""
    sight = spark.createDataFrame(
        [(r["id"], r["src"], r["date"], r["desc"], r["id"] + 100000) for r in rows],
        "id long, source_db_id int, date_event string, description string, "
        "location_id long",
    )
    loc = spark.createDataFrame(
        [
            (r["id"] + 100000, r["raw_text"], r["city"], r["state"], r["country"])
            for r in rows
        ],
        "id long, raw_text string, city string, state string, country string",
    )
    return sight, loc


def collected(pairs_df):
    return {
        (r["id_a"], r["id_b"]): (r["score"], r["method"])
        for r in pairs_df.collect()
    }


class TestTier1a:
    def test_matching_pair(self, spark):
        rows = [
            make_row(1, SRC_MUFON, "2005-06-15", city="Phoenix", state="AZ", desc=DESC_A),
            make_row(2, SRC_NUFORC, "2005-06-15T23:00", city="PHOENIX", state="az", desc=DESC_A),
        ]
        got = collected(tiers.tier_1a(*to_dfs(spark, rows)))
        assert set(got) == {(1, 2)}
        score, method = got[(1, 2)]
        assert method == "tier1a_mufon_nuforc"
        assert score == 0.95  # identical long text -> starts-with shortcut

    def test_different_city_no_pair(self, spark):
        rows = [
            make_row(1, SRC_MUFON, "2005-06-15", city="Phoenix", state="AZ", desc=DESC_A),
            make_row(2, SRC_NUFORC, "2005-06-15", city="Tucson", state="AZ", desc=DESC_A),
        ]
        assert collected(tiers.tier_1a(*to_dfs(spark, rows))) == {}

    def test_cartesian_within_block(self, spark):
        rows = [
            make_row(i, SRC_MUFON, "2005-06-15", city="Phoenix", state="AZ", desc=DESC_A)
            for i in (1, 2)
        ] + [
            make_row(i, SRC_NUFORC, "2005-06-15", city="Phoenix", state="AZ", desc=DESC_B)
            for i in (10, 11, 12)
        ]
        got = collected(tiers.tier_1a(*to_dfs(spark, rows)))
        assert set(got) == {(a, b) for a in (1, 2) for b in (10, 11, 12)}

    def test_null_date_excluded(self, spark):
        rows = [
            make_row(1, SRC_MUFON, None, city="Phoenix", state="AZ", desc=DESC_A),
            make_row(2, SRC_NUFORC, "2005-06-15", city="Phoenix", state="AZ", desc=DESC_A),
        ]
        assert collected(tiers.tier_1a(*to_dfs(spark, rows))) == {}


class TestTier2:
    def test_2a_ufocat_raw_text_city(self, spark):
        rows = [
            make_row(1, SRC_MUFON, "1999-03-03", city="Houston", state="TX", desc=DESC_A),
            make_row(2, SRC_UFOCAT, "1999-03-03", city=None, state="TX", raw="HOUSTON", desc=DESC_A),
        ]
        got = collected(tiers.tier_2(*to_dfs(spark, rows)))
        assert set(got) == {(1, 2)}
        assert got[(1, 2)][1] == "tier2a_mufon_ufocat"

    def test_2c_state_dropped_us_only(self, spark):
        rows = [
            make_row(1, SRC_UPDB, "1999-03-03", city="Houston", state=None, country="US", desc=DESC_A),
            # different state spelling — still matches because 2c drops state
            make_row(2, SRC_NUFORC, "1999-03-03", city="Houston", state="TX", desc=DESC_A),
            # non-US UPDB row must not participate
            make_row(3, SRC_UPDB, "1999-03-03", city="Houston", state=None, country="CA", desc=DESC_A),
        ]
        got = collected(tiers.tier_2(*to_dfs(spark, rows)))
        assert set(got) == {(1, 2)}
        assert got[(1, 2)][1] == "tier2c_updb_nuforc"

    def test_2d_parsed_raw_text(self, spark):
        rows = [
            make_row(1, SRC_UFOSEARCH, "1988-08-08", raw="Phoenix, AZ?", desc=DESC_A),
            make_row(2, SRC_MUFON, "1988-08-08", city="Phoenix", state="AZ", desc=DESC_A),
            make_row(3, SRC_UFOSEARCH, "1988-08-08", raw="Unknown location somewhere", desc=DESC_A),
        ]
        got = collected(tiers.tier_2(*to_dfs(spark, rows)))
        assert set(got) == {(1, 2)}
        assert got[(1, 2)][1] == "tier2d_ufosearch_mufon"


class TestTier3:
    def _base_rows(self):
        return [
            make_row(1, SRC_MUFON, "2010-10-10", city="Mesa", state="AZ", desc=DESC_A),
            make_row(2, SRC_NUFORC, "2010-10-10", city="Tempe", state="AZ", desc=DESC_A),
        ]

    def test_same_date_fuzzy_match(self, spark):
        sight, _loc = to_dfs(spark, self._base_rows())
        got = collected(tiers.tier_3(sight))
        assert set(got) == {(1, 2)}
        score, method = got[(1, 2)]
        assert method == "tier3_desc_fuzzy" and score >= 0.5

    def test_block_cap_skips_busy_dates(self, spark):
        rows = self._base_rows() + [
            make_row(100 + i, SRC_UFOCAT, "2010-10-10", city=f"c{i}", desc="filler text")
            for i in range(25)
        ]
        sight, _ = to_dfs(spark, rows)
        assert collected(tiers.tier_3(sight)) == {}

    def test_single_source_date_no_pairs(self, spark):
        rows = [
            make_row(1, SRC_MUFON, "2010-10-10", desc=DESC_A),
            make_row(2, SRC_MUFON, "2010-10-10", desc=DESC_A),
        ]
        sight, _ = to_dfs(spark, rows)
        assert collected(tiers.tier_3(sight)) == {}

    def test_low_jaccard_filtered(self, spark):
        rows = [
            make_row(1, SRC_MUFON, "2010-10-10", desc=DESC_A),
            make_row(2, SRC_NUFORC, "2010-10-10", desc="totally different words entirely"),
        ]
        sight, _ = to_dfs(spark, rows)
        assert collected(tiers.tier_3(sight)) == {}

    def test_partial_dates_excluded(self, spark):
        rows = [
            make_row(1, SRC_MUFON, "2010-10", desc=DESC_A),
            make_row(2, SRC_NUFORC, "2010-10", desc=DESC_A),
        ]
        sight, _ = to_dfs(spark, rows)
        assert collected(tiers.tier_3(sight)) == {}

    def test_existing_pairs_skipped(self, spark):
        sight, _ = to_dfs(spark, self._base_rows())
        existing = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        assert collected(tiers.tier_3(sight, existing_pairs=existing)) == {}


class TestRunAllTiers:
    def test_first_tier_wins(self, spark):
        # tier1a catches (1,2); tier3 would too, but must not relabel it
        rows = [
            make_row(1, SRC_MUFON, "2005-06-15", city="Phoenix", state="AZ", desc=DESC_A),
            make_row(2, SRC_NUFORC, "2005-06-15", city="Phoenix", state="AZ", desc=DESC_A),
        ]
        got = collected(tiers.run_all_tiers(*to_dfs(spark, rows)))
        assert set(got) == {(1, 2)}
        assert got[(1, 2)][1] == "tier1a_mufon_nuforc"

    def test_unique_pairs(self, spark):
        rows = [
            make_row(1, SRC_MUFON, "2005-06-15", city="Phoenix", state="AZ", desc=DESC_A),
            make_row(2, SRC_NUFORC, "2005-06-15", city="Phoenix", state="AZ", desc=DESC_A),
            make_row(3, SRC_UFOCAT, "2005-06-15", raw="PHOENIX", state="AZ", desc=DESC_A),
        ]
        df = tiers.run_all_tiers(*to_dfs(spark, rows))
        n = df.count()
        assert df.select("id_a", "id_b").distinct().count() == n


# ---------------------------------------------------------------------------
# Randomized equivalence vs the spec oracle
# ---------------------------------------------------------------------------

CITIES = ["Phoenix", "Phoenix?", "Springfield (North)", "San  Francisco",
          "Mesa", "HOUSTON", None, ""]
STATES = ["AZ", "az", "TX", "", None, "CA"]
DATES = ["2005-06-15", "2005-06-15T23:00", "2005-06-16", "1985-07", "1957",
         None, "1999-12-31"]
DESCS = [
    DESC_A, DESC_B,
    "NUFORC UFO Sighting 4242 " + DESC_A,
    "Submitted by razor via e-mail c1. Investigator Notes: " + DESC_B,
    "Short one.", None, "",
    DESC_A + " Additional trailing details were reported by the witness.",
    "lights in the sky moving fast",
]
RAWS = ["Phoenix, AZ", "PHOENIX", "Mesa, AZ?", "HOUSTON", "nowhere special",
        None, "St. Louis, MO"]


def random_rows(seed: int, n: int):
    rng = random.Random(seed)
    rows = []
    for i in range(1, n + 1):
        rows.append(
            make_row(
                i,
                rng.choice([SRC_MUFON, SRC_NUFORC, SRC_UFOCAT, SRC_UPDB, SRC_UFOSEARCH]),
                rng.choice(DATES),
                city=rng.choice(CITIES),
                state=rng.choice(STATES),
                country=rng.choice(["US", "CA", "USA"]),
                desc=rng.choice(DESCS),
                raw=rng.choice(RAWS),
            )
        )
    return rows


@pytest.mark.parametrize("seed", [7, 42])
def test_pipeline_matches_oracle(spark, seed):
    rows = random_rows(seed, 120)
    got = collected(tiers.run_all_tiers(*to_dfs(spark, rows)))
    expected = oracle_all_tiers(rows)
    assert set(got) == set(expected)
    for k, (score, method) in expected.items():
        g_score, g_method = got[k]
        assert g_method == method, (k, g_method, method)
        assert g_score == pytest.approx(score), (k, g_score, score)


def _executed_plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_run_all_tiers_plan_hash_aggregates_uncached(spark):
    """First-tier-wins is one hash aggregation with scalar buffers (no
    SortAggregate over a struct) and nothing is cached (no persist whose
    unpersist nobody owns)."""
    plan = _executed_plan(tiers.run_all_tiers(*to_dfs(spark, random_rows(7, 40))))
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan
    assert "InMemoryRelation" not in plan


def test_tier3_udf_evaluated_once(spark):
    """Tier 3 filters on its score: predicate pushdown must not evaluate
    the UDF a second time below the anti-join on tier-1/2 pairs. Exactly
    one ArrowEvalPython for tier3_score_udf, and the LeftAnti join under
    it (pairs tiers 1/2 own are never scored)."""
    lines = _executed_plan(
        tiers.run_all_tiers(*to_dfs(spark, random_rows(7, 40)))
    ).splitlines()
    udf = [i for i, ln in enumerate(lines)
           if "ArrowEvalPython" in ln and "tier3_score_udf" in ln]
    anti = [i for i, ln in enumerate(lines) if "LeftAnti" in ln]
    assert len(udf) == 1 and len(anti) == 1, (udf, anti)

    def depth(i):
        return len(lines[i]) - len(lines[i].lstrip(" :|+-"))

    assert udf[0] < anti[0] and depth(udf[0]) < depth(anti[0])


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="driver testdata absent")
def test_sighting_tier_pairs_query_matches_oracle(spark):
    """The registered query equals the spec oracle run on the same
    documents-derived rows, and the derivation reaches tiers 1a, 2 and 3."""
    sight, loc = Q._tier_frames(spark, SF_DIR)
    joined = sight.join(
        loc.withColumnRenamed("id", "location_id"), "location_id"
    ).collect()
    rows = [
        make_row(
            r["id"], r["source_db_id"], r["date_event"], city=r["city"],
            state=r["state"], country=r["country"], desc=r["description"],
            raw=r["raw_text"],
        )
        for r in joined
    ]
    expected = oracle_all_tiers(rows)
    got = collected(Q.queries()["sighting_tier_pairs"](spark, SF_DIR))
    assert set(got) == set(expected)
    for k, (score, method) in expected.items():
        assert got[k][1] == method, (k, got[k][1], method)
        assert got[k][0] == pytest.approx(score), (k, got[k][0], score)
    methods = {m for _, m in got.values()}
    assert "tier1a_mufon_nuforc" in methods
    assert any(m.startswith("tier2") for m in methods)
    assert "tier3_desc_fuzzy" in methods
