"""Pinned source-date-parser cases, ported from the reference ETL test
battery (reference tests/test_etl.py:154-515) and run through the Column
expressions in functions/dates.py on a real Spark plan.

Each table below is (input, expected_iso); a parser is correct only if it
reproduces the reference parser's output on every pinned case.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ufo_dedup_spark.functions.dates import (
    geldreich_date_iso_col,
    mufon_date_iso_col,
    nuforc_date_iso_col,
    ufocat_date_col,
    updb_date_iso_col,
)

NUFORC_CASES = [
    (" 1995-02-02 23:00 Local", "1995-02-02T23:00"),
    ("2010-07-04", "2010-07-04"),
    ("2005-03-15 20:30 Pacific", "2005-03-15T20:30"),
    ("", None),
    (None, None),
    ("   ", None),
    ("sometime in March", None),
]

MUFON_CASES = [
    ("1992-08-19\n5:45AM", "1992-08-19T05:45"),
    ("1992-08-19\n5:45PM", "1992-08-19T17:45"),
    ("2005-06-15\n12:00PM", "2005-06-15T12:00"),  # noon stays 12
    ("2005-06-15\n12:00AM", "2005-06-15T00:00"),  # midnight -> 00
    ("2005-06-15", "2005-06-15"),
    ("2005-06-15\n22:30", "2005-06-15T22:30"),  # 24h, no AM/PM
    ("", None),
    (None, None),
    ("sometime", None),
]

# (year, mo, day, time, expected)
UFOCAT_CASES = [
    ("1992", "8", "19", "05:45", "1992-08-19T05:45"),
    ("1992", "8", "19", None, "1992-08-19"),
    ("1992", "8", None, None, "1992-08-01"),
    ("1992", None, None, None, "1992-01-01"),
    ("0", "1", "1", None, None),  # zero year
    (None, "1", "1", None, None),
    ("", "1", "1", None, None),
    ("1992", "13", "15", None, "1992-01-01"),  # month out of range -> 01-01
    ("1992", "8", "32", None, "1992-08-01"),  # day out of range -> 01
    ("1992", "8", "19", "1430", "1992-08-19T14:30"),  # 4-digit time
    ("1992", "8", "19", "830", "1992-08-19T08:30"),  # 3-digit time
    ("1992", "8", "19", "14.30", "1992-08-19T14:30"),  # dot separator
    ("1992", "8", "19", "14;30", "1992-08-19T14:30"),  # semicolon separator
    ("abc", "1", "1", None, None),  # non-numeric poisons the parse
    ("1992", "x", "1", None, None),
]

UPDB_CASES = [
    ("1993-05-20 00:00:00", "1993-05-20"),  # midnight = unknown time
    ("1993-05-20 14:30:00", "1993-05-20T14:30:00"),
    ("1993-05-20", "1993-05-20"),
    ("", None),
    (None, None),
    ("sometime in 1993", None),
]

GELDREICH_CASES = [
    ("1947-06-24", "1947-06-24"),
    ("6/24/1947", "1947-06-24"),
    ("5/21/70", "1970-05-21"),  # 2-digit year > 25 -> 1900s
    ("3/15/10", "2010-03-15"),  # 2-digit year <= 25 -> 2000s
    ("4/34", "1934-04-01"),  # M/YY April 1934
    ("1947", "1947-01-01"),
    ("Summer 1947", "1947-01-01"),
    ("Fall 1952", "1952-01-01"),
    ("Early 1960", "1960-01-01"),
    ("50's", "0050-01-01"),  # decade notation parses as year 50
    ("", None),
    (None, None),
    ("?", None),
]


def _run_single(spark, cases, col_fn):
    df = spark.createDataFrame(
        [(i, c) for i, (c, _) in enumerate(cases)], "i int, raw string"
    )
    got = {
        r["i"]: r["out"]
        for r in df.select("i", col_fn(F.col("raw")).alias("out")).collect()
    }
    for i, (inp, expected) in enumerate(cases):
        assert got[i] == expected, f"input {inp!r}: {got[i]!r} != {expected!r}"


def test_nuforc_pinned(spark):
    _run_single(spark, NUFORC_CASES, nuforc_date_iso_col)


def test_mufon_pinned(spark):
    _run_single(spark, MUFON_CASES, mufon_date_iso_col)


def test_ufocat_pinned(spark):
    df = spark.createDataFrame(
        [(i, y, m, d, t) for i, (y, m, d, t, _) in enumerate(UFOCAT_CASES)],
        "i int, y string, m string, d string, t string",
    )
    got = {
        r["i"]: r["out"]
        for r in df.select(
            "i",
            ufocat_date_col(
                F.col("y"), F.col("m"), F.col("d"), F.col("t")
            ).alias("out"),
        ).collect()
    }
    for i, (y, m, d, t, expected) in enumerate(UFOCAT_CASES):
        assert got[i] == expected, f"{(y, m, d, t)}: {got[i]!r} != {expected!r}"


def test_updb_pinned(spark):
    _run_single(spark, UPDB_CASES, updb_date_iso_col)


def test_geldreich_pinned(spark):
    _run_single(spark, GELDREICH_CASES, geldreich_date_iso_col)
