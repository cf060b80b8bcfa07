"""Normalization as pure Column expressions — the JVM-side fast path.

Each function mirrors a pure-Python kernel function (kernel.py) as a Catalyst
Column expression, so blocking keys are computed inside whole-stage codegen
with zero Python involvement. The description strips (dedup.py:53-69) stay
in the pandas-UDF scoring kernel, so any (theoretical) unicode-whitespace
divergence between Java and Python regex classes can only affect blocking
keys, never scores.

Reference semantics: dedup.py:127-148 (city/state) — see kernel.py for the
pinned behavior table.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ufo_dedup_spark.kernel import US_STATES


def normalize_city_col(city: Column) -> Column:
    """upper -> drop trailing (…) -> drop trailing [?.!]+ -> collapse ws -> trim.

    Returns '' for NULL so the result is directly usable as a join key.
    """
    c = F.upper(F.trim(city))
    c = F.regexp_replace(c, r"\s*\(.*\)\s*$", "")
    c = F.regexp_replace(c, r"[\?\.\!]+$", "")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return F.coalesce(c, F.lit(""))


def normalize_state_col(state: Column) -> Column:
    """Upper-cased trimmed state code; '' for NULL (dedup.py:191)."""
    return F.upper(F.trim(F.coalesce(state, F.lit(""))))


def parse_ufosearch_city_col(raw_text: Column) -> Column:
    """CITY part of 'City, ST[?]' free text, or NULL (dedup.py:141-148)."""
    t = F.trim(raw_text)
    city = F.regexp_extract(t, r"(?i)^(.+?),\s*([A-Za-z]{2})\s*\??$", 1)
    state = F.upper(F.regexp_extract(t, r"(?i)^(.+?),\s*([A-Za-z]{2})\s*\??$", 2))
    ok = (city != F.lit("")) & state.isin(*US_STATES)
    return F.when(ok, F.upper(F.trim(city)))


def parse_ufosearch_state_col(raw_text: Column) -> Column:
    """ST part of 'City, ST[?]' free text, or NULL (dedup.py:141-148)."""
    t = F.trim(raw_text)
    city = F.regexp_extract(t, r"(?i)^(.+?),\s*([A-Za-z]{2})\s*\??$", 1)
    state = F.upper(F.regexp_extract(t, r"(?i)^(.+?),\s*([A-Za-z]{2})\s*\??$", 2))
    ok = (city != F.lit("")) & state.isin(*US_STATES)
    return F.when(ok, state)


def date10_col(date_event: Column) -> Column:
    """Day-precision blocking key: first 10 chars of the ISO prefix string
    (dedup.py:177 SUBSTR(date_event,1,10))."""
    return F.substring(date_event, 1, 10)
