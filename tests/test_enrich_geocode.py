"""Enrichment fill-NULL join (J6) and gazetteer geocode cascade (J7):
pinned semantics vs reference enrich.py:104-162 and geocode.py:121-254."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ufo_dedup_spark.operators.enrich import enrich_fill_nulls
from ufo_dedup_spark.operators.geocode import (
    geocode_cascade,
    normalize_country_col,
    normalize_state_col,
)


# --------------------------- enrichment -----------------------------------


def _enrich_frames(spark):
    target = spark.createDataFrame(
        [
            # (id, date10, city, state, hynek, vallee, shape)
            (1, "1990-01-01", "PHOENIX", "AZ", None, None, None),
            (2, "1990-01-01", "PHOENIX", "AZ", "CE1", None, "Disk"),
            (3, "1990-01-02", "MESA", "AZ", None, None, None),  # no sidecar
            (4, "1990-01-03", "TEMPE", "AZ", None, "MA1", None),
        ],
        "id int, date10 string, city string, state string, "
        "hynek string, vallee string, shape string",
    )
    sidecar = spark.createDataFrame(
        [
            # first record for (1990-01-01, PHOENIX, AZ) has NO metadata ->
            # must be skipped; second is 'best'
            (100, "1990-01-01", "PHOENIX", "AZ", None, None, None),
            (101, "1990-01-01", "PHOENIX", "AZ", "DD", "FB1", None),
            (102, "1990-01-01", "PHOENIX", "AZ", "NL", "AN1", "Orb"),
            (103, "1990-01-03", "TEMPE", "AZ", None, None, "Light"),
        ],
        "sid int, date10 string, city string, state string, "
        "hynek string, vallee string, shape string",
    )
    return target, sidecar


def test_enrich_fills_only_nulls(spark):
    target, sidecar = _enrich_frames(spark)
    out = enrich_fill_nulls(
        target, sidecar,
        keys=["date10", "city", "state"],
        fill_cols=["hynek", "vallee", "shape"],
        order_col="sid",
    )
    rows = {r["id"]: r for r in out.collect()}
    # id=1: all NULL -> takes best (sid=101, the first WITH metadata)
    assert (rows[1]["hynek"], rows[1]["vallee"], rows[1]["shape"]) == (
        "DD", "FB1", None,  # best record's shape is NULL -> stays NULL
    )
    # id=2: own hynek/shape win, vallee fills from best
    assert (rows[2]["hynek"], rows[2]["vallee"], rows[2]["shape"]) == (
        "CE1", "FB1", "Disk",
    )
    # id=3: no sidecar match -> untouched
    assert (rows[3]["hynek"], rows[3]["vallee"], rows[3]["shape"]) == (
        None, None, None,
    )
    # id=4: shape fills, own vallee wins
    assert (rows[4]["hynek"], rows[4]["vallee"], rows[4]["shape"]) == (
        None, "MA1", "Light",
    )


def test_enrich_no_shuffle_on_target(spark):
    """Scale contract: the best-per-key frame broadcasts; the target side
    must not shuffle (no Exchange above its scan)."""
    target, sidecar = _enrich_frames(spark)
    out = enrich_fill_nulls(
        target, sidecar, ["date10", "city", "state"],
        ["hynek", "vallee", "shape"], "sid",
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# ----------------------------- geocode ------------------------------------


GAZ_SCHEMA = "city string, admin1 string, country string, lat double, lng double, pop long"

GAZ_ROWS = [
    ("PHOENIX", "AZ", "US", 33.45, -112.07, 1_600_000),
    ("PHOENIX", "NY", "US", 43.23, -76.30, 2_400),
    ("SPRINGFIELD", "IL", "US", 39.80, -89.64, 114_000),
    ("SPRINGFIELD", "MO", "US", 37.22, -93.29, 169_000),
    ("ROME", None, "IT", 41.89, 12.51, 2_800_000),
    ("ROME", "GA", "US", 34.26, -85.16, 36_000),
    ("TORONTO", "08", "CA", 43.70, -79.42, 2_600_000),
]


def _gaz(spark):
    return spark.createDataFrame(GAZ_ROWS, GAZ_SCHEMA)


def _geo(spark, rows):
    loc = spark.createDataFrame(
        rows, "id int, city string, state string, country string"
    )
    out = geocode_cascade(loc, _gaz(spark))
    return {r["id"]: r for r in out.collect()}


def test_geocode_exact_match(spark):
    rows = _geo(spark, [(1, "Phoenix", "AZ", "USA")])
    assert rows[1]["geocode_method"] == "exact"
    assert rows[1]["lat"] == pytest.approx(33.45)


def test_geocode_city_country_picks_max_pop(spark):
    # no state -> strategy 2; Springfield MO outranks IL by population
    rows = _geo(spark, [(1, "Springfield", None, "US")])
    assert rows[1]["geocode_method"] == "city_country"
    assert rows[1]["lat"] == pytest.approx(37.22)


def test_geocode_city_only_max_pop_global(spark):
    rows = _geo(spark, [(1, "Rome", None, None)])
    assert rows[1]["geocode_method"] == "city_only"
    assert rows[1]["lat"] == pytest.approx(41.89)  # IT Rome, 2.8M > 36K


def test_geocode_wrong_state_falls_to_city_country(spark):
    rows = _geo(spark, [(1, "Phoenix", "TX", "US")])
    assert rows[1]["geocode_method"] == "city_country"
    assert rows[1]["lat"] == pytest.approx(33.45)  # max-pop Phoenix


def test_geocode_canadian_province_mapping(spark):
    # ON -> GeoNames admin1 '08' only when country normalizes to CA
    rows = _geo(spark, [(1, "Toronto", "ON", "Canada")])
    assert rows[1]["geocode_method"] == "exact"
    assert rows[1]["lat"] == pytest.approx(43.70)


def test_geocode_placeholder_city_unresolved(spark):
    rows = _geo(spark, [(1, "UNKNOWN", None, None), (2, None, "AZ", "US")])
    assert rows[1]["geocode_method"] is None and rows[1]["lat"] is None
    assert rows[2]["geocode_method"] is None and rows[2]["lat"] is None


def test_geocode_all_joins_broadcast(spark):
    loc = spark.createDataFrame(
        [(1, "Phoenix", "AZ", "US")], "id int, city string, state string, country string"
    )
    plan = (
        geocode_cascade(loc, _gaz(spark))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_normalize_country_pinned(spark):
    cases = [
        ("USA", "US"), ("United Kingdom", "GB"), ("england", "GB"),
        ("US", "US"), ("fr", "FR"), ("Narnia", "NARNIA"), (None, None),
        ("", None),
    ]
    df = spark.createDataFrame([(c,) for c, _ in cases], "c string")
    got = [
        r["n"]
        for r in df.select(normalize_country_col(F.col("c")).alias("n")).collect()
    ]
    assert got == [e for _, e in cases]


def test_normalize_state_pinned(spark):
    df = spark.createDataFrame(
        [("ON", "CA"), ("ON", "US"), ("tx", "US"), (None, "US")],
        "s string, cc string",
    )
    got = [
        r["n"]
        for r in df.select(
            normalize_state_col(F.col("s"), F.col("cc")).alias("n")
        ).collect()
    ]
    assert got == ["08", "ON", "TX", None]
