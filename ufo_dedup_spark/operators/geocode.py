"""Gazetteer geocoding cascade (J7): three successive broadcast left joins
with decreasing key specificity, max-population tie-break.

Reference semantics (reference geocode.py:121-131, 159-200):
  1. exact        (city, admin1/state, country) -> highest-pop entry
  2. city_country (city, country)               -> highest-pop entry
  3. city_only    (city)                        -> highest-pop entry,
     skipping placeholder city names ('UNKNOWN', 'N/A', ...)
plus the country/state normalization maps (geocode.py:28-56).

Spark-first shape: each strategy is a pre-aggregated one-row-per-key
dimension (max-pop pick via row_number, deterministically tie-broken) that
broadcasts; the big locations table streams through three broadcast hash
joins with no shuffle. Coalesce picks the most specific hit and labels the
method, mirroring the reference's first-match-wins cascade.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# geocode.py:28-47 — country name -> ISO-2 normalization
COUNTRY_NORMALIZE = {
    "USA": "US", "UNITED STATES": "US", "AMERICA": "US",
    "UK": "GB", "UNITED KINGDOM": "GB", "ENGLAND": "GB", "SCOTLAND": "GB",
    "WALES": "GB",
    "CANADA": "CA", "AUSTRALIA": "AU",
    "GERMANY": "DE", "FRANCE": "FR", "SPAIN": "ES", "ITALY": "IT",
    "BRAZIL": "BR", "MEXICO": "MX", "JAPAN": "JP", "CHINA": "CN",
    "INDIA": "IN", "RUSSIA": "RU", "SOUTH AFRICA": "ZA",
    "NETHERLANDS": "NL", "BELGIUM": "BE", "SWEDEN": "SE", "NORWAY": "NO",
    "DENMARK": "DK", "FINLAND": "FI", "POLAND": "PL", "IRELAND": "IE",
    "NEW ZEALAND": "NZ", "ARGENTINA": "AR", "CHILE": "CL",
    "PORTUGAL": "PT", "GREECE": "GR", "TURKEY": "TR", "ISRAEL": "IL",
    "PHILIPPINES": "PH", "INDONESIA": "ID", "MALAYSIA": "MY",
    "SOUTH KOREA": "KR", "COLOMBIA": "CO", "PERU": "PE",
    "PUERTO RICO": "PR", "AUSTRIA": "AT", "SWITZERLAND": "CH",
    "CZECH REPUBLIC": "CZ", "ROMANIA": "RO", "HUNGARY": "HU",
    "UKRAINE": "UA", "THAILAND": "TH", "VIETNAM": "VN",
    "SINGAPORE": "SG", "EGYPT": "EG", "PAKISTAN": "PK",
    "NIGERIA": "NG", "KENYA": "KE", "COSTA RICA": "CR",
    "PANAMA": "PA", "CUBA": "CU", "JAMAICA": "JM",
}

# geocode.py:50-56 — Canadian province abbreviation -> GeoNames admin1 code
CA_PROVINCE_MAP = {
    "AB": "01", "BC": "02", "MB": "03", "NB": "04", "NL": "05",
    "NS": "07", "NT": "13", "NU": "14", "ON": "08", "PE": "09",
    "QC": "10", "SK": "11", "YT": "12",
}

# geocode.py:185 — placeholder city names that never geocode city-only
CITY_PLACEHOLDERS = ("UNKNOWN", "UNKNOWN CITY", "N/A", "")


def _map_when(c: Column, mapping: dict[str, str], default: Column) -> Column:
    expr = F.when(F.lit(False), default)
    for old, new in mapping.items():
        expr = expr.when(c == old, F.lit(new))
    return expr.otherwise(default)


def normalize_country_col(country: Column) -> Column:
    """geocode.py:139-146: upper/trim; 2-letter codes pass through; known
    names map to ISO-2; unknown values pass through upper-cased."""
    raw = F.upper(F.trim(country))
    raw = F.when(raw != "", raw)
    return F.when(F.length(raw) == 2, raw).otherwise(
        _map_when(raw, COUNTRY_NORMALIZE, raw)
    )


def normalize_state_col(state: Column, country_code: Column) -> Column:
    """geocode.py:149-156: upper/trim; Canadian province abbreviations map
    to GeoNames admin1 codes when country is CA."""
    s = F.upper(F.trim(state))
    s = F.when(s != "", s)
    ca_mapped = _map_when(s, CA_PROVINCE_MAP, s)
    return F.when(country_code == "CA", ca_mapped).otherwise(s)


def _best_per_key(gaz: DataFrame, keys: list[str]) -> DataFrame:
    """Highest-population gazetteer entry per key (geocode.py:121-131),
    deterministically tie-broken by (lat, lng) so distributed runs are
    stable where the reference relied on dict insertion order."""
    w = Window.partitionBy(*keys).orderBy(
        F.col("pop").desc(), F.col("lat").asc(), F.col("lng").asc()
    )
    return (
        gaz.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*keys, "lat", "lng")
    )


def geocode_cascade(
    locations: DataFrame,
    gazetteer: DataFrame,
    city_col: str = "city",
    state_col: str = "state",
    country_col: str = "country",
) -> DataFrame:
    """Append (lat, lng, geocode_method) to ``locations`` via the 3-level
    cascade. ``gazetteer`` columns: city, admin1, country, lat, lng, pop
    (city/admin1/country already upper-cased, GeoNames-style).

    Rows that resolve at a more specific level never fall through to a
    less specific one (first-match-wins, geocode.py:159-200); unresolved
    rows get NULL lat/lng/method.
    """
    city_u = F.upper(F.trim(F.col(city_col)))
    city_u = F.when(city_u != "", city_u)
    cc = normalize_country_col(F.col(country_col))
    sc = normalize_state_col(F.col(state_col), cc)
    loc = locations.select(
        "*", city_u.alias("_city"), sc.alias("_state"), cc.alias("_cc")
    )

    exact = _best_per_key(gazetteer, ["city", "admin1", "country"]).select(
        F.col("city").alias("_city"),
        F.col("admin1").alias("_state"),
        F.col("country").alias("_cc"),
        F.col("lat").alias("_lat1"),
        F.col("lng").alias("_lng1"),
    )
    nostate = _best_per_key(gazetteer, ["city", "country"]).select(
        F.col("city").alias("_city"),
        F.col("country").alias("_cc"),
        F.col("lat").alias("_lat2"),
        F.col("lng").alias("_lng2"),
    )
    cityonly = _best_per_key(gazetteer, ["city"]).select(
        F.col("city").alias("_city"),
        F.col("lat").alias("_lat3"),
        F.col("lng").alias("_lng3"),
    )

    out = (
        loc.join(F.broadcast(exact), ["_city", "_state", "_cc"], "left")
        .join(F.broadcast(nostate), ["_city", "_cc"], "left")
        .join(F.broadcast(cityonly), ["_city"], "left")
    )
    # strategy 3 is gated on non-placeholder city names
    c3_ok = ~F.coalesce(F.col("_city").isin(*CITY_PLACEHOLDERS), F.lit(True))
    lat3 = F.when(c3_ok, F.col("_lat3"))
    lng3 = F.when(c3_ok, F.col("_lng3"))

    method = (
        F.when(F.col("_lat1").isNotNull(), F.lit("exact"))
        .when(F.col("_lat2").isNotNull(), F.lit("city_country"))
        .when(lat3.isNotNull(), F.lit("city_only"))
    )
    return out.select(
        *locations.columns,
        F.coalesce(F.col("_lat1"), F.col("_lat2"), lat3).alias("lat"),
        F.coalesce(F.col("_lng1"), F.col("_lng2"), lng3).alias("lng"),
        method.alias("geocode_method"),
    )
