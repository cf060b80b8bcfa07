"""Source-specific date parsers (F6) as pure Column expressions.

Each of the reference's five importers carries its own date dialect; the
parsers below reproduce them bit-for-bit as Catalyst expressions (zero
Python in the hot path — whole-stage codegen end to end). Pinned behavior
is ported from the reference test battery (reference tests/test_etl.py:
154-515) into tests/test_dates.py.

Reference parity:
- NUFORC   ' 1995-02-02 23:00 Local'   import_nuforc.py:26-46
- MUFON    '1992-08-19\\n5:45AM'        import_mufon.py:17-42 (12h -> 24h)
- UFOCAT   split Y/M/D + time field     import_ufocat.py:27-61 (zero-pad,
           out-of-range month/day -> 01, '1430' -> '14:30')
- UPDB     '1993-05-20 00:00:00'        import_updb.py:21-36 (drop midnight)
- UFO-search/geldreich free text        import_geldreich.py:18-74
           (seasons, M/D/YY pivot-year 25, decade notation)

All parsers return NULL for unparseable/empty input and never raise — the
web-scale ingestion contract (a bad row must not kill a 10^12-row job).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Timezone hint tokens NUFORC appends (import_nuforc.py:33-37). Order
# matters only cosmetically (tokens never overlap).
NUFORC_TZ_TOKENS = ("Local", "Pacific", "Eastern", "Central", "Mountain",
                    "UTC", "GMT")


# ---------------------------------------------------------------------------
# NUFORC
# ---------------------------------------------------------------------------


def nuforc_date_iso_col(raw: Column) -> Column:
    """ISO date[Thh:mm] from a NUFORC date string, else NULL.

    Mirrors import_nuforc.py:26-46: strip tz token anywhere, trim, then
    anchored match ``(\\d{4}-\\d{2}-\\d{2})\\s*(\\d{2}:\\d{2})?``.
    """
    c = F.trim(raw)
    for tz in NUFORC_TZ_TOKENS:
        c = F.replace(c, F.lit(tz), F.lit(""))
    c = F.trim(c)
    pat = r"^(\d{4}-\d{2}-\d{2})\s*(\d{2}:\d{2})?"
    date = F.regexp_extract(c, pat, 1)
    time = F.regexp_extract(c, pat, 2)
    return F.when(
        date != F.lit(""),
        F.concat(
            date,
            F.when(time != F.lit(""), F.concat(F.lit("T"), time)).otherwise(
                F.lit("")
            ),
        ),
    )


# ---------------------------------------------------------------------------
# MUFON
# ---------------------------------------------------------------------------


def mufon_date_iso_col(raw: Column) -> Column:
    """ISO date[Thh:mm] from MUFON's 'YYYY-MM-DD\\nh:mmAM' format, else NULL.

    import_mufon.py:17-42: newline-separated date + 12-hour time;
    PM adds 12 (except 12PM), 12AM becomes 00. A time that doesn't match
    ``h{1,2}:mm[AM|PM]`` is silently dropped (date-only result).
    """
    date_part = F.trim(F.split_part(raw, F.lit("\n"), F.lit(1)))
    time_part = F.upper(F.trim(F.split_part(raw, F.lit("\n"), F.lit(2))))

    tpat = r"^(\d{1,2}):(\d{2})\s*(AM|PM)?"
    h = F.regexp_extract(time_part, tpat, 1)
    mi = F.regexp_extract(time_part, tpat, 2)
    ampm = F.regexp_extract(time_part, tpat, 3)
    h24 = (
        F.when((ampm == "PM") & (h.cast("int") != 12), h.cast("int") + 12)
        .when((ampm == "AM") & (h.cast("int") == 12), F.lit(0))
        .otherwise(h.cast("int"))
    )
    time_iso = F.when(
        h != F.lit(""),
        F.concat(F.lit("T"), F.lpad(h24.cast("string"), 2, "0"), F.lit(":"), mi),
    ).otherwise(F.lit(""))

    return F.when(
        date_part.rlike(r"^\d{4}-\d{2}-\d{2}"), F.concat(date_part, time_iso)
    )


# ---------------------------------------------------------------------------
# UFOCAT
# ---------------------------------------------------------------------------


def ufocat_date_col(
    year: Column, mo: Column, day: Column, time_str: Column
) -> Column:
    """ISO date[Thh:mm] assembled from UFOCAT's split Y/M/D/time fields.

    import_ufocat.py:27-61. Any non-empty, non-integer Y/M/D field poisons
    the whole parse (the reference's int() raises inside one try block);
    year 0/empty -> NULL; month outside 1-12 forces -01-01; day outside
    1-31 forces -01. Time: '.'/';' -> ':', 3-4 digit forms get a colon
    inserted, anything then matching ``h{1,2}:mm`` is appended verbatim.
    """
    def _int_or_poison(c: Column) -> tuple[Column, Column]:
        t = F.trim(c)
        empty = c.isNull() | (t == F.lit(""))
        ok = empty | t.rlike(r"^-?\d+$")
        val = F.when(~empty, t.cast("int"))
        return val, ok

    y, y_ok = _int_or_poison(year)
    m, m_ok = _int_or_poison(mo)
    d, d_ok = _int_or_poison(day)
    parseable = y_ok & m_ok & d_ok & y.isNotNull() & (y != 0)

    yyyy = F.lpad(y.cast("string"), 4, "0")
    m_valid = m.isNotNull() & (m >= 1) & (m <= 12)
    d_valid = d.isNotNull() & (d >= 1) & (d <= 31)
    mm = F.when(m_valid, F.lpad(m.cast("string"), 2, "0")).otherwise(F.lit("01"))
    dd = F.when(m_valid & d_valid, F.lpad(d.cast("string"), 2, "0")).otherwise(
        F.lit("01")
    )
    date = F.concat_ws("-", yyyy, mm, dd)

    t = F.trim(time_str)
    t = F.replace(F.replace(t, F.lit("."), F.lit(":")), F.lit(";"), F.lit(":"))
    t = F.when(
        t.rlike(r"^\d{3,4}$"),
        F.concat(
            F.substring(F.lpad(t, 4, "0"), 1, 2),
            F.lit(":"),
            F.substring(F.lpad(t, 4, "0"), 3, 2),
        ),
    ).otherwise(t)
    with_time = F.when(
        time_str.isNotNull()
        & (F.trim(time_str) != F.lit(""))
        & t.rlike(r"^\d{1,2}:\d{2}"),
        F.concat(date, F.lit("T"), t),
    ).otherwise(date)

    return F.when(parseable, with_time)


# ---------------------------------------------------------------------------
# UPDB
# ---------------------------------------------------------------------------


def updb_date_iso_col(raw: Column) -> Column:
    """ISO date[Thh:mm:ss] from UPDB's 'YYYY-MM-DD hh:mm:ss'; a 00:00:00
    time means 'unknown' and is dropped (import_updb.py:21-36)."""
    d = F.trim(raw)
    date = F.regexp_extract(d, r"^(\d{4}-\d{2}-\d{2})", 1)
    time = F.regexp_extract(d, r"(\d{2}:\d{2}:\d{2})", 1)
    return F.when(
        date != F.lit(""),
        F.concat(
            date,
            F.when(
                (time != F.lit("")) & (time != F.lit("00:00:00")),
                F.concat(F.lit("T"), time),
            ).otherwise(F.lit("")),
        ),
    )


# ---------------------------------------------------------------------------
# UFO-search / geldreich
# ---------------------------------------------------------------------------


def geldreich_date_iso_col(raw: Column) -> Column:
    """ISO date from geldreich's free-text formats, else NULL.

    import_geldreich.py:18-74, cascade order preserved:
      1. season/qualifier + year ('Summer 1947')        -> YYYY-01-01
      2. bare year w/ optional 's ('1947', "50's")      -> YYYY-01-01 (0 -> NULL)
      3. M/D/Y ('6/24/1947', '5/21/70'; 2-digit year:
         >25 -> 19xx else 20xx — the pivot-year-25 rule) -> YYYY-MM-DD
      4. M/Y ('4/34', April 1934; month must be 1-12)    -> YYYY-MM-01
      5. ISO prefix ('1947-06-24...')                    -> first 10 chars
    """
    d = F.trim(raw)

    season_pat = (
        r"^(?i)(Spring|Summer|Fall|Winter|Early|Late|Mid|End of|Beginning of)"
        r"\s+(\d{4})"
    )
    season_year = F.regexp_extract(d, season_pat, 2)

    year_pat = r"^(\d{1,4})'?s?$"
    bare_year = F.regexp_extract(d, year_pat, 1)

    mdy_pat = r"^(\d{1,2})/(\d{1,2})/(\d{1,4})$"
    mdy_m = F.regexp_extract(d, mdy_pat, 1).cast("int")
    mdy_d = F.regexp_extract(d, mdy_pat, 2).cast("int")
    mdy_y = F.regexp_extract(d, mdy_pat, 3).cast("int")
    mdy_y = F.when(
        mdy_y < 100, F.when(mdy_y > 25, mdy_y + 1900).otherwise(mdy_y + 2000)
    ).otherwise(mdy_y)

    my_pat = r"^(\d{1,2})/(\d{1,4})$"
    my_m = F.regexp_extract(d, my_pat, 1).cast("int")
    my_y = F.regexp_extract(d, my_pat, 2).cast("int")
    my_y = F.when(
        my_y < 100, F.when(my_y > 25, my_y + 1900).otherwise(my_y + 2000)
    ).otherwise(my_y)

    def _p4(c: Column) -> Column:
        return F.lpad(c.cast("string"), 4, "0")

    def _p2(c: Column) -> Column:
        return F.lpad(c.cast("string"), 2, "0")

    return (
        F.when(season_year != F.lit(""), F.concat(season_year, F.lit("-01-01")))
        .when(
            d.rlike(year_pat),
            F.when(
                bare_year.cast("int") > 0,
                F.concat(_p4(bare_year.cast("int")), F.lit("-01-01")),
            ),
        )
        .when(
            d.rlike(mdy_pat),
            F.concat_ws("-", _p4(mdy_y), _p2(mdy_m), _p2(mdy_d)),
        )
        .when(
            d.rlike(my_pat) & (my_m >= 1) & (my_m <= 12),
            F.concat(_p4(my_y), F.lit("-"), _p2(my_m), F.lit("-01")),
        )
        .when(d.rlike(r"^(\d{4})-(\d{2})-(\d{2})"), F.substring(d, 1, 10))
    )
