"""Driver-contract query battery: Spark implementations + DuckDB oracle SQL.

Each query exists twice: as a DataFrame program (Spark-first, exercising the
engine's operators) and as ANSI SQL the driver runs through DuckDB on the
same parquet tables. Column names and rounding are part of the contract —
both sides alias identically and round floating aggregates so IEEE
summation-order differences between engines can't flip the value hash.

Query -> SURVEY.md §2 operator coverage is noted per entry.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ufo_dedup_spark.functions import text as TX
from ufo_dedup_spark.operators.pairs import score_buckets

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# Relational core (scans S*, projections P*, joins J*, aggs A*, windows W*)
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(AVG(l_quantity), 6) AS avg_qty,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6-style multi-aggregate scan; predicate pushed to the parquet scan."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "top_customer_revenue",
    """
    SELECT c.c_custkey, c.c_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 10
    """,
)
def top_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 multi-way join + W1 top-k (TakeOrderedAndProject, no full sort).

    Aggregates by o_custkey BEFORE joining customer (c_custkey is unique,
    so the (c_custkey, c_name) grouping partitions lineitem rows exactly
    like o_custkey does): the lineitem-sized stream no longer probes the
    customer hash relation row-by-row, and the aggregation exchange stops
    carrying c_name on every partial-aggregate row (guide §2.3 "project
    before the exchange" / "aggregate before you shuffle"). The customer
    broadcast join then touches only the ~|customers| aggregated rows.
    """
    c = F.broadcast(_read(spark, sf_dir, "customer"))
    o = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    return (
        rev.join(c, rev.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "revenue")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


@register(
    "region_nation_acctbal",
    """
    SELECT r.r_name, n.n_name,
           COUNT(*) AS n_customers,
           ROUND(SUM(c.c_acctbal), 2) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def region_nation_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: fact joined to broadcast dimension chain (star-schema pattern)."""
    c = _read(spark, sf_dir, "customer")
    n = F.broadcast(_read(spark, sf_dir, "nation"))
    r = F.broadcast(_read(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


@register(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/J8: left_anti join (the skip-existing-pairs primitive)."""
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "customers_with_open_orders",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'
    )
    """,
)
def customers_with_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10: left_semi join guard (IN-subquery semantics)."""
    c = _read(spark, sf_dir, "customer")
    o = _read(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "customer_top_orders",
    """
    SELECT c_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC
               ) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)
def customer_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/A8: deterministic pick-top-per-group via row_number window."""
    o = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "events_hourly",
    """
    SELECT date_trunc('hour', ts) AS hour, event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value,
           ROUND(AVG(value), 6) AS avg_value
    FROM events GROUP BY 1, 2
    """,
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window event counts per event type."""
    e = _read(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )


@register(
    "orders_by_year",
    """
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders GROUP BY 1
    """,
)
def orders_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: histogram over a derived time key (the decade-histogram pattern)."""
    o = _read(spark, sf_dir, "orders")
    return o.groupBy(F.year("o_orderdate").alias("order_year")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


# ---------------------------------------------------------------------------
# Dedup family over `documents`
# ---------------------------------------------------------------------------

# Shared tokenizer SQL fragments (must mirror functions/text.py exactly).
_TOKS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"
_DTOKS = (
    "list_filter(list_distinct(string_split_regex(lower(text), '[^a-z0-9]+')),"
    " t -> t <> '')"
)


@register(
    "exact_dup_groups",
    """
    SELECT md5(text) AS text_hash,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS representative
    FROM documents GROUP BY 1 HAVING COUNT(*) >= 2
    """,
)
def exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on raw text (A7 pattern)."""
    d = _read(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("representative"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "doc_fingerprints",
    f"""
    SELECT doc_id,
           md5(array_to_string({_TOKS}, ' ')) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-text fingerprint (cosmetic variants collide)."""
    d = _read(spark, sf_dir, "documents")
    return d.select(
        "doc_id", TX.fingerprint_col(F.col("text")).alias("fingerprint")
    )


@register(
    "doc_stats",
    f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
           CAST(len({_DTOKS}) AS INTEGER) AS n_distinct_tokens,
           ROUND(
             CASE WHEN len({_TOKS}) > 0
                  THEN CAST(len(list_filter({_TOKS},
                       t -> list_contains(['the','a','an','and','or','of','to',
                       'in','on','is','it','for','with','as','at','by','from',
                       'that','this','was'], t))) AS DOUBLE) / len({_TOKS})
                  ELSE 0.0 END, 6) AS stopword_ratio,
           ROUND(
             CASE WHEN len({_TOKS}) > 0
                  THEN CAST(list_sum(list_transform({_TOKS},
                       t -> length(t))) AS DOUBLE) / len({_TOKS})
                  ELSE 0.0 END, 6) AS avg_token_len,
           ROUND(least(1.0, len({_TOKS}) / 100.0) *
             CASE WHEN len({_TOKS}) > 0
                  THEN CAST(len({_DTOKS}) AS DOUBLE) / len({_TOKS})
                  ELSE 0.0 END, 6) AS quality_score
    FROM documents
    """,
)
def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics — all JVM-side Column expressions.

    Tokenizes ONCE: the naive one-projection form repeats the
    split/array_remove tokenizer inside every metric (~10 evaluations per
    row — higher-order lambdas keep this Project out of whole-stage
    codegen, so no compile-time subexpression elimination rescues it).
    Materializing the token array in a lower projection makes every metric
    an array op over the same column; Catalyst keeps the projections
    separate (CollapseProject refuses to duplicate non-cheap expressions).
    Metric identities vs the oracle: distinct(remove(x)) == remove(
    distinct(x)) element-wise for the '' removal, so counts are equal.
    """
    d = _read(spark, sf_dir, "documents")
    toks = d.select("doc_id", TX.tokens_col(F.col("text")).alias("_tk"))
    tk = F.col("_tk")
    n = F.size(tk)
    n_distinct = F.size(F.array_distinct(tk))
    n_stop = F.size(F.filter(tk, lambda t: t.isin(TX.STOPWORDS)))
    total_len = F.aggregate(tk, F.lit(0), lambda acc, t: acc + F.length(t))
    nd = n.cast("double")
    return toks.select(
        "doc_id",
        n.alias("n_tokens"),
        n_distinct.alias("n_distinct_tokens"),
        F.round(
            F.when(n > 0, n_stop.cast("double") / nd).otherwise(F.lit(0.0)), 6
        ).alias("stopword_ratio"),
        F.round(
            F.when(n > 0, total_len.cast("double") / nd).otherwise(F.lit(0.0)),
            6,
        ).alias("avg_token_len"),
        F.round(
            F.least(F.lit(1.0), nd / F.lit(100.0))
            * F.when(n > 0, n_distinct.cast("double") / nd).otherwise(
                F.lit(0.0)
            ),
            6,
        ).alias("quality_score"),
    )


# Block admission bounds for _doc_pairs (reference tier-3 shape,
# dedup.py:505-515: blocks <= N rows AND >= 2 distinct sources). A block
# over the cap contributes |block|^2 pairs — at 100x corpus growth the
# (lang, len_bucket) key is a skew trap (4 langs x dozens of buckets), so
# oversized blocks are EXCLUDED by design here, exactly like the
# reference's tier-3 ">20 rows per date" rule; their content is covered by
# the LSH pipeline (the scale path), not the blocking demo.
_BLOCK_MAX_ROWS = 200
_BLOCK_MIN_SOURCES = 2


def _doc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking candidate pairs over documents: key (lang, n_chars//100)
    with tier-3-style block admission (<= _BLOCK_MAX_ROWS rows, >=
    _BLOCK_MIN_SOURCES sources), cross-source only, canonical
    doc_id_a < doc_id_b, exact token Jaccard.

    The documents-table analog of the reference's (date, city, state)
    blocking join (J2) + admission (A1) + K1 scoring, all JVM-side. The
    admission routes through operators/blocking.admitted_blocks — the same
    machinery the dedup pipeline uses — so the flagship demo is also the
    plan that survives 100x data growth.
    """
    from ufo_dedup_spark.operators.blocking import admitted_blocks
    # tokens hashed to longs: array_intersect on longs is ~20x cheaper than
    # on strings, and Jaccard values are identical modulo 64-bit collisions
    # (probability ~1e-16 per pair), so the DuckDB string-list oracle still
    # matches bit-for-bit after rounding.
    d = _read(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "lang",
        F.floor(F.col("n_chars") / F.lit(100.0)).cast("int").alias("len_bucket"),
        F.array_sort(
            F.array_distinct(
                F.transform(
                    TX.tokens_col(F.col("text")), lambda t: F.xxhash64(t)
                )
            )
        ).alias("toks"),
    )
    adm = admitted_blocks(
        d,
        ["lang", "len_bucket"],
        max_rows=_BLOCK_MAX_ROWS,
        min_distinct=("source", _BLOCK_MIN_SOURCES),
    )
    d = d.join(F.broadcast(adm), on=["lang", "len_bucket"], how="left_semi")
    a = d.select(
        F.col("doc_id").alias("id_a"),
        F.col("source").alias("source_a"),
        "lang",
        "len_bucket",
        F.col("toks").alias("toks_a"),
    )
    b = d.select(
        F.col("doc_id").alias("id_b"),
        F.col("source").alias("source_b"),
        "lang",
        "len_bucket",
        F.col("toks").alias("toks_b"),
    )
    inter = F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b")))
    union = F.size("toks_a") + F.size("toks_b") - inter
    return (
        a.join(b, on=["lang", "len_bucket"], how="inner")
        .filter((F.col("id_a") < F.col("id_b")) & (F.col("source_a") != F.col("source_b")))
        .select(
            "id_a",
            "id_b",
            "lang",
            F.round(
                F.when(union > 0, inter.cast("double") / union.cast("double"))
                .otherwise(F.lit(0.0)),
                6,
            ).alias("jaccard"),
        )
    )


# session-scoped memo: five queries consume the same pair table; inside one
# session (bench.py, check_correctness, notebook use) the join+score runs
# once and consumers read the materialized localCheckpoint — the same
# pattern doc_dedup_report used internally, hoisted so the whole family
# shares it. Keyed by (applicationId, sf_dir): a new session recomputes.
# The driver's per-query processes each see a cold cache, which is correct
# (each CORRECTNESS row measures an independent program).
_DOC_PAIRS_CACHE: dict[tuple[str, str], DataFrame] = {}


def _doc_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    df = _DOC_PAIRS_CACHE.get(key)
    if df is None:
        df = _doc_pairs(spark, sf_dir).localCheckpoint(eager=True)
        _DOC_PAIRS_CACHE[key] = df
    return df


def reset_doc_pairs_cache() -> None:
    """Drop the session memo. bench.py calls this before each repetition of
    the memo-building query so min-of-N still measures the cold compute,
    not a cache read; downstream memo consumers stay warm by design."""
    _DOC_PAIRS_CACHE.clear()


_DOC_PAIRS_SQL = f"""
    WITH toks AS (
        SELECT doc_id, source, lang,
               CAST(floor(n_chars / 100.0) AS INTEGER) AS len_bucket,
               {_DTOKS} AS tk
        FROM documents
    ),
    admitted AS (
        SELECT lang, CAST(floor(n_chars / 100.0) AS INTEGER) AS len_bucket
        FROM documents
        GROUP BY 1, 2
        HAVING COUNT(*) <= 200 AND COUNT(DISTINCT source) >= 2
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.lang AS lang,
           ROUND(
             CASE WHEN (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))) > 0
                  THEN CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
                       / (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk)))
                  ELSE 0.0 END, 6) AS jaccard
    FROM toks a
    JOIN toks b
      ON a.lang = b.lang AND a.len_bucket = b.len_bucket
     AND a.doc_id < b.doc_id AND a.source <> b.source
    JOIN admitted ad
      ON a.lang = ad.lang AND a.len_bucket = ad.len_bucket
"""


@register("doc_blocking_pairs", _DOC_PAIRS_SQL)
def doc_blocking_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _doc_pairs_cached(spark, sf_dir)


@register(
    "doc_pair_score_buckets",
    f"""
    SELECT CASE WHEN jaccard >= 0.9 THEN '0.9-1.0'
                WHEN jaccard >= 0.7 THEN '0.7-0.9'
                WHEN jaccard >= 0.5 THEN '0.5-0.7'
                WHEN jaccard >= 0.3 THEN '0.3-0.5'
                ELSE '0.0-0.3' END AS bucket,
           COUNT(*) AS n_pairs
    FROM ({_DOC_PAIRS_SQL}) GROUP BY 1
    """,
)
def doc_pair_score_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: one-pass score histogram via the engine's score_buckets operator."""
    pairs = _doc_pairs_cached(spark, sf_dir).withColumnRenamed(
        "jaccard", "score"
    )
    return score_buckets(pairs)


@register(
    "doc_pair_participants",
    f"""
    SELECT DISTINCT id FROM (
        SELECT id_a AS id FROM ({_DOC_PAIRS_SQL})
        UNION ALL
        SELECT id_b AS id FROM ({_DOC_PAIRS_SQL})
    )
    """,
)
def doc_pair_participants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/U1: distinct participants via explode + distinct."""
    pairs = _doc_pairs_cached(spark, sf_dir)
    return pairs.select(
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("id")
    ).distinct()


@register(
    "doc_pair_lang_stats",
    f"""
    SELECT lang, COUNT(*) AS n_pairs,
           ROUND(AVG(jaccard), 6) AS avg_jaccard,
           ROUND(MIN(jaccard), 6) AS min_jaccard,
           ROUND(MAX(jaccard), 6) AS max_jaccard
    FROM ({_DOC_PAIRS_SQL}) GROUP BY lang
    """,
)
def doc_pair_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: per-group pair statistics (method_stats pattern keyed by lang)."""
    return (
        _doc_pairs_cached(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
            F.round(F.min("jaccard"), 6).alias("min_jaccard"),
            F.round(F.max("jaccard"), 6).alias("max_jaccard"),
        )
    )


@register(
    "doc_dedup_report",
    f"""
    WITH p AS (
        SELECT id_a, id_b, 'cross_block' AS method, jaccard AS score
        FROM ({_DOC_PAIRS_SQL})
    ),
    methods AS (
        SELECT 'method' AS section, method AS key, COUNT(*) AS n,
               ROUND(AVG(score), 3) AS avg_score,
               ROUND(MIN(score), 3) AS min_score,
               ROUND(MAX(score), 3) AS max_score
        FROM p GROUP BY method
    ),
    buckets AS (
        SELECT 'bucket' AS section,
               CASE WHEN score >= 0.9 THEN '0.9-1.0'
                    WHEN score >= 0.7 THEN '0.7-0.9'
                    WHEN score >= 0.5 THEN '0.5-0.7'
                    WHEN score >= 0.3 THEN '0.3-0.5'
                    ELSE '0.0-0.3' END AS key,
               COUNT(*) AS n,
               NULL AS avg_score, NULL AS min_score, NULL AS max_score
        FROM p GROUP BY 2
    ),
    participants AS (
        SELECT 'participants' AS section, 'all' AS key,
               COUNT(DISTINCT id) AS n,
               NULL AS avg_score, NULL AS min_score, NULL AS max_score
        FROM (SELECT id_a AS id FROM p UNION ALL SELECT id_b FROM p)
    )
    SELECT section, key, n,
           CAST(avg_score AS DOUBLE) AS avg_score,
           CAST(min_score AS DOUBLE) AS min_score,
           CAST(max_score AS DOUBLE) AS max_score
    FROM (SELECT * FROM methods UNION ALL SELECT * FROM buckets
          UNION ALL SELECT * FROM participants)
    """,
)
def doc_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's verification report (dedup.py:598-687) as one
    long-format frame over the blocking-pair table: method stats + score
    buckets + participant count."""
    from ufo_dedup_spark.operators.pairs import verification_report

    # parent is already a materialized localCheckpoint; the three report
    # sections recompute only this cheap projection over it
    pairs = _doc_pairs_cached(spark, sf_dir).select(
        "id_a",
        "id_b",
        F.lit("cross_block").alias("method"),
        F.col("jaccard").alias("score"),
    )
    return verification_report(pairs)


@register(
    "lang_block_admission",
    """
    SELECT lang FROM documents
    GROUP BY lang
    HAVING COUNT(DISTINCT source) >= 2 AND COUNT(*) <= 250
    """,
)
def lang_block_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: the tier-3 admission aggregation shape on the documents table."""
    d = _read(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("block_n"),
            F.countDistinct("source").alias("distinct_n"),
        )
        .filter((F.col("distinct_n") >= 2) & (F.col("block_n") <= 250))
        .select("lang")
    )


_LANG_MARKER_SQL = {
    "de": "['der','die','das','und','ist','nicht','ein','mit','von','zu']",
    "en": "['the','and','of','to','is','that','it','was','for','with']",
    "es": "['el','los','las','una','como','pero','por','ser','dos','muy']",
    "fr": "['le','les','est','dans','que','pour','une','des','sur','pas']",
}


@register(
    "lang_id_confusion",
    f"""
    WITH c AS (
        SELECT lang,
               coalesce(len(list_filter({_TOKS},
                   t -> list_contains({_LANG_MARKER_SQL['de']}, t))), 0) AS c_de,
               coalesce(len(list_filter({_TOKS},
                   t -> list_contains({_LANG_MARKER_SQL['en']}, t))), 0) AS c_en,
               coalesce(len(list_filter({_TOKS},
                   t -> list_contains({_LANG_MARKER_SQL['es']}, t))), 0) AS c_es,
               coalesce(len(list_filter({_TOKS},
                   t -> list_contains({_LANG_MARKER_SQL['fr']}, t))), 0) AS c_fr,
               coalesce(len(regexp_extract_all(
                   text, '[\\x{{4e00}}-\\x{{9fff}}]')), 0) AS c_zh
        FROM documents
    )
    SELECT lang AS labeled_lang,
           CASE
               WHEN c_zh = 0 AND c_de = 0 AND c_en = 0 AND c_es = 0
                    AND c_fr = 0 THEN 'und'
               WHEN c_zh > c_de AND c_zh > c_en AND c_zh > c_es
                    AND c_zh > c_fr THEN 'zh'
               WHEN c_de >= c_en AND c_de >= c_es AND c_de >= c_fr THEN 'de'
               WHEN c_en >= c_es AND c_en >= c_fr THEN 'en'
               WHEN c_es >= c_fr THEN 'es'
               ELSE 'fr'
           END AS predicted_lang,
           COUNT(*) AS n_docs
    FROM c GROUP BY 1, 2
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID by marker-token heuristic (n-gram LID reduced to its
    token-unigram core), reported as a labeled-vs-predicted confusion
    matrix. Pure codegen — F.filter/isin counts and a CASE chain, no
    Python in the hot path; scales as two projections + one small groupBy.

    Tokenizes/counts in LOWER projections: the one-shot lang_id_col form
    re-tokenizes per language profile and re-counts per CASE branch (the
    higher-order lambdas keep the Project interpreted, so ~15 tokenizer
    evaluations per row); materializing the token array and then the five
    marker counts makes the CASE a constant-time column read.
    """
    d = _read(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        TX.tokens_col(F.col("text")).alias("_tk"),
        TX.cjk_char_count_col(F.col("text")).alias("_zh"),
    )
    counts = toks.select(
        "lang",
        "_zh",
        *[
            TX.lang_marker_count_from_tokens(F.col("_tk"), lang).alias(
                f"_c_{lang}"
            )
            for lang in TX.LANG_MARKERS
        ],
    )
    c = {lang: F.col(f"_c_{lang}") for lang in TX.LANG_MARKERS}
    return (
        counts.select(
            F.col("lang").alias("labeled_lang"),
            TX.lang_id_from_counts(c, F.col("_zh")).alias("predicted_lang"),
        )
        .groupBy("labeled_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "ngram_jaccard_pairs",
    f"""
    WITH toks AS (
        SELECT doc_id, source, lang,
               CAST(floor(n_chars / 100.0) AS INTEGER) AS len_bucket,
               {_TOKS} AS tk
        FROM documents
    ),
    sh AS (
        SELECT doc_id, source, lang, len_bucket,
               list_distinct(list_transform(
                   range(1, len(tk) - 1),
                   i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]
               )) AS sh
        FROM toks
    ),
    admitted AS (
        SELECT lang, CAST(floor(n_chars / 100.0) AS INTEGER) AS len_bucket
        FROM documents
        GROUP BY 1, 2
        HAVING COUNT(*) <= 200 AND COUNT(DISTINCT source) >= 2
    ),
    scored AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.lang AS lang,
               ROUND(
                 CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                 6) AS trigram_jaccard
        FROM sh a
        JOIN sh b
          ON a.lang = b.lang AND a.len_bucket = b.len_bucket
         AND a.doc_id < b.doc_id AND a.source <> b.source
        JOIN admitted ad
          ON a.lang = ad.lang AND a.len_bucket = ad.len_bucket
        WHERE (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) > 0
    )
    SELECT * FROM scored WHERE trigram_jaccard >= 0.2
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (trigram-shingle) Jaccard near-dup pairs — the exact
    member of the dedup family next to MinHash-LSH (its approximation),
    SimHash, exact-hash, and embedding-cosine. Same blocking + admission
    machinery as doc_blocking_pairs (operators/blocking.admitted_blocks:
    the plan that survives 100x growth), score = Jaccard over DISTINCT
    word trigrams hashed to longs (string-shingle oracle matches modulo
    ~1e-16 collisions). Threshold compares the ROUNDED score on both
    sides so boundary values cannot diverge.
    """
    from ufo_dedup_spark.operators.blocking import admitted_blocks

    # admission BEFORE the shingle projection: rejected (skewed/singleton)
    # blocks never pay the per-doc shingle compute — Catalyst does not
    # reorder compute-bearing projections around joins on its own.
    d0 = _read(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "lang",
        F.floor(F.col("n_chars") / F.lit(100.0)).cast("int").alias("len_bucket"),
        "text",
    )
    adm = admitted_blocks(
        d0,
        ["lang", "len_bucket"],
        max_rows=_BLOCK_MAX_ROWS,
        min_distinct=("source", _BLOCK_MIN_SOURCES),
    )
    # tokenize in its own projection: shingles_col references the token
    # array from inside a per-shingle lambda, so without materialization
    # the tokenizer re-runs O(n_tokens) times per doc
    d = (
        d0.join(F.broadcast(adm), on=["lang", "len_bucket"], how="left_semi")
        .select(
            "doc_id",
            "source",
            "lang",
            "len_bucket",
            TX.tokens_col(F.col("text")).alias("_tk"),
        )
        .select(
            "doc_id",
            "source",
            "lang",
            "len_bucket",
            TX.shingles_from_tokens_col(F.col("_tk")).alias("sh"),
        )
    )
    a = d.select(
        F.col("doc_id").alias("id_a"),
        F.col("source").alias("source_a"),
        "lang",
        "len_bucket",
        F.col("sh").alias("sh_a"),
    )
    b = d.select(
        F.col("doc_id").alias("id_b"),
        F.col("source").alias("source_b"),
        "lang",
        "len_bucket",
        F.col("sh").alias("sh_b"),
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    score = F.when(
        union > 0, inter.cast("double") / union.cast("double")
    ).otherwise(F.lit(0.0))
    return (
        a.join(b, on=["lang", "len_bucket"], how="inner")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("source_a") != F.col("source_b"))
        )
        .select(
            "id_a",
            "id_b",
            "lang",
            F.round(score, 6).alias("trigram_jaccard"),
        )
        .filter(F.col("trigram_jaccard") >= 0.2)
    )


# ---------------------------------------------------------------------------
# Similarity search over `embeddings`
# ---------------------------------------------------------------------------


@register(
    "top_similar_embeddings",
    """
    WITH q AS (
        SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0
    ),
    scored AS (
        SELECT e.vec_id,
               list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qe)
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(q.qe, q.qe))) AS cs
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> 0
    )
    SELECT vec_id, ROUND(cs, 4) AS cos_sim
    FROM scored ORDER BY cs DESC, vec_id ASC LIMIT 10
    """,
)
def top_similar_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: JVM-side zip_with/aggregate dot products
    against a broadcast query vector; TakeOrderedAndProject top-k."""
    e = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    q = F.broadcast(
        e.filter(F.col("vec_id") == 0).select(F.col("emb").alias("qe"))
    )

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            "vec_id",
            (
                dot(F.col("emb"), F.col("qe"))
                / (
                    F.sqrt(dot(F.col("emb"), F.col("emb")))
                    * F.sqrt(dot(F.col("qe"), F.col("qe")))
                )
            ).alias("cs"),
        )
    )
    return (
        scored.orderBy(F.col("cs").desc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", F.round("cs", 4).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# Clustering, sessionization, embeddings, signatures
# ---------------------------------------------------------------------------


@register(
    "doc_clusters",
    f"""
    WITH RECURSIVE p AS (
        SELECT id_a, id_b FROM ({_DOC_PAIRS_SQL}) WHERE jaccard >= 0.5
    ),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM p
        UNION SELECT id_b, id_a FROM p
    ),
    nodes AS (SELECT DISTINCT u AS id FROM edges),
    reach(id, comp) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT e.u, r.comp FROM edges e JOIN reach r ON r.id = e.v
    )
    SELECT id, MIN(comp) AS cluster_id FROM reach GROUP BY id
    """,
)
def doc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed union-find (large-star/small-star) over near-dup edges;
    oracle = transitive closure via a recursive CTE. cluster_id = component
    min id on both sides."""
    from ufo_dedup_spark.operators.connected_components import (
        connected_components,
    )

    edges = _doc_pairs_cached(spark, sf_dir).filter(
        F.col("jaccard") >= 0.5
    ).select(
        "id_a", "id_b"
    )
    # blocking pairs are structurally one row per pair -> the entry
    # distinct exchange is skipped (output unaffected either way)
    return connected_components(edges, edges_distinct=True)


@register(
    "events_sessionize",
    """
    WITH x AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    y AS (
        SELECT user_id,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM x
    )
    SELECT user_id, CAST(MAX(sid) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM y GROUP BY user_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via lag + running sum —
    the classic stateful-stream op expressed as batch windows."""
    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    x = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.col("ts") > F.lag("ts").over(w) + F.expr("INTERVAL 30 MINUTES")),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    y = x.select(
        "user_id",
        F.sum("new_s")
        .over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("sid"),
    )
    return y.groupBy("user_id").agg(
        F.max("sid").cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "embedding_near_dup_pairs",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(
             list_dot_product(CAST(a.embedding AS DOUBLE[]),
                              CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                      CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])))), 4
           ) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ROUND(
             list_dot_product(CAST(a.embedding AS DOUBLE[]),
                              CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                      CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])))), 4
           ) >= 0.3
    """,
)
def embedding_near_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact pairwise baseline)."""
    from ufo_dedup_spark.operators.similarity_search import (
        embedding_near_dup_pairs,
    )

    return embedding_near_dup_pairs(
        _read(spark, sf_dir, "embeddings"), threshold=0.3
    )


@register(
    "token_count_by_source",
    f"""
    SELECT source,
           CAST(SUM(len({_TOKS})) AS BIGINT) AS total_tokens,
           CAST(SUM(len({_DTOKS})) AS BIGINT) AS total_distinct_tokens,
           COUNT(*) AS n_docs
    FROM documents GROUP BY source
    """,
)
def token_count_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting per source (training-data pipeline staple).

    Tokenizes once per row in a lower projection (the one-shot form split
    the text twice — once per count; distinct(remove('')) ==
    remove(distinct(''))-count, same identity as doc_stats)."""
    d = _read(spark, sf_dir, "documents")
    toks = d.select("source", TX.tokens_col(F.col("text")).alias("_tk"))
    return toks.groupBy("source").agg(
        F.sum(F.size("_tk")).cast("long").alias("total_tokens"),
        F.sum(F.size(F.array_distinct("_tk")))
        .cast("long")
        .alias("total_distinct_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )


# single source of truth for the BPE-ish pre-tokenizer pattern: the oracle
# SQL embeds the SAME regex the engine compiles (SQL-quoted), so Java-regex
# (Spark) vs RE2 (DuckDB) agreement is checked on the full corpus per round.
_BPE_SQL_RE = TX.BPE_TOKEN_RE.replace("'", "''")


@register(
    "bpe_token_stats",
    f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(coalesce(
               len(regexp_extract_all(lower(text), '{_BPE_SQL_RE}')), 0
           )) AS BIGINT) AS total_bpe_tokens,
           ROUND(AVG(coalesce(
               len(regexp_extract_all(lower(text), '{_BPE_SQL_RE}')), 0
           )), 6) AS avg_bpe_tokens
    FROM documents GROUP BY source
    """,
)
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting under a BPE-ish pre-tokenizer regex (GPT-2-style
    segmentation reduced to its ASCII core: contraction suffixes, letter
    runs, digit runs, punctuation runs) — the second half of the
    whitespace + BPE-ish token-accounting pair. Pure codegen
    (regexp_extract_all); the oracle embeds the identical pattern.
    """
    d = _read(spark, sf_dir, "documents")
    n = TX.bpe_token_count_col(F.col("text"))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n).cast("long").alias("total_bpe_tokens"),
        F.round(F.avg(n), 6).alias("avg_bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# ETL surface: source date parsers (F6), data-fix battery (F5), cleanup (F9)
# ---------------------------------------------------------------------------
# Raw inputs are constructed deterministically from testdata columns
# (event_id/orderkey arms pick the dialect variant), parsed with the
# engine's Column-expression parsers; each oracle computes the EXPECTED
# output independently from the underlying timestamp/date semantics — it
# does not re-implement the parser, so a parser bug cannot self-confirm.


@register(
    "source_dates_parsed",
    """
    SELECT event_id,
           CASE WHEN event_id % 5 IN (0, 2)
                    THEN strftime(ts, '%Y-%m-%d') || 'T' || strftime(ts, '%H:%M')
                WHEN event_id % 5 = 1 THEN strftime(ts, '%Y-%m-%d')
                ELSE NULL END AS nuforc_iso,
           CASE WHEN event_id % 4 IN (0, 2)
                    THEN strftime(ts, '%Y-%m-%d') || 'T' || strftime(ts, '%H:%M')
                WHEN event_id % 4 = 1 THEN strftime(ts, '%Y-%m-%d')
                ELSE NULL END AS mufon_iso,
           CASE WHEN event_id % 3 = 0 THEN strftime(ts, '%Y-%m-%d')
                WHEN strftime(ts, '%H:%M:%S') = '00:00:00'
                    THEN strftime(ts, '%Y-%m-%d')
                ELSE strftime(ts, '%Y-%m-%d') || 'T' || strftime(ts, '%H:%M:%S')
                END AS updb_iso
    FROM events
    """,
)
def source_dates_parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: NUFORC/MUFON/UPDB date dialects constructed from events.ts and
    parsed back — the oracle derives expectations from ts directly, so the
    MUFON arm round-trips 12h -> 24h conversion against the true hour."""
    from ufo_dedup_spark.functions.dates import (
        mufon_date_iso_col,
        nuforc_date_iso_col,
        updb_date_iso_col,
    )

    e = _read(spark, sf_dir, "events")
    d = F.date_format("ts", "yyyy-MM-dd")
    hm = F.date_format("ts", "HH:mm")
    hms = F.date_format("ts", "HH:mm:ss")
    hh = F.hour("ts")
    mi = F.date_format("ts", "mm")
    h12 = F.when(hh % 12 == 0, F.lit(12)).otherwise(hh % 12).cast("string")
    ampm = F.when(hh < 12, F.lit("AM")).otherwise(F.lit("PM"))
    a5 = F.pmod("event_id", F.lit(5))
    a4 = F.pmod("event_id", F.lit(4))
    a3 = F.pmod("event_id", F.lit(3))

    nuforc_raw = (
        F.when(a5 == 0, F.concat(F.lit(" "), d, F.lit(" "), hm, F.lit(" Local")))
        .when(a5 == 1, d)
        .when(a5 == 2, F.concat(d, F.lit(" "), hm, F.lit(" Pacific")))
        .when(a5 == 3, F.lit("sometime in March"))
        .otherwise(F.lit(""))
    )
    mufon_raw = (
        F.when(a4 == 0, F.concat(d, F.lit("\n"), h12, F.lit(":"), mi, ampm))
        .when(a4 == 1, d)
        .when(a4 == 2, F.concat(d, F.lit("\n"), hm))
        .otherwise(F.lit("sometime"))
    )
    updb_raw = F.when(a3 == 0, F.concat(d, F.lit(" 00:00:00"))).otherwise(
        F.concat(d, F.lit(" "), hms)
    )
    return e.select(
        "event_id",
        nuforc_date_iso_col(nuforc_raw).alias("nuforc_iso"),
        mufon_date_iso_col(mufon_raw).alias("mufon_iso"),
        updb_date_iso_col(updb_raw).alias("updb_iso"),
    )


@register(
    "ufocat_dates_parsed",
    """
    WITH c AS (
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS VARCHAR) AS yr,
               strftime(o_orderdate, '%m') AS mm,
               strftime(o_orderdate, '%d') AS dd,
               lpad(CAST(o_orderkey % 24 AS VARCHAR), 2, '0') AS hh2,
               lpad(CAST(o_orderkey % 60 AS VARCHAR), 2, '0') AS mi2
        FROM orders
    )
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 11 = 0 THEN NULL
                ELSE (CASE WHEN o_orderkey % 7 = 0 THEN yr || '-01-01'
                           ELSE yr || '-' || mm || '-' || dd END)
                     || (CASE WHEN o_orderkey % 5 IN (1, 2, 3)
                              THEN 'T' || hh2 || ':' || mi2 ELSE '' END)
                END AS ufocat_iso
    FROM c
    """,
)
def ufocat_dates_parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: UFOCAT split-field parser over constructed Y/M/D/time fields:
    arms exercise junk year (poison), out-of-range month (-> -01-01), and
    the ':' / 4-digit / '.' time dialects."""
    from ufo_dedup_spark.functions.dates import ufocat_date_col

    o = _read(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    yr = F.year("o_orderdate").cast("string")
    mo = F.month("o_orderdate").cast("string")
    dy = F.dayofmonth("o_orderdate").cast("string")
    hh2 = F.lpad(F.pmod(k, F.lit(24)).cast("string"), 2, "0")
    mi2 = F.lpad(F.pmod(k, F.lit(60)).cast("string"), 2, "0")
    a5 = F.pmod(k, F.lit(5))

    y_field = F.when(F.pmod(k, F.lit(11)) == 0, F.lit("abc")).otherwise(yr)
    m_field = F.when(F.pmod(k, F.lit(7)) == 0, F.lit("13")).otherwise(mo)
    t_field = (
        F.when(a5 == 0, F.lit(None).cast("string"))
        .when(a5 == 1, F.concat(hh2, F.lit(":"), mi2))
        .when(a5 == 2, F.concat(hh2, mi2))
        .when(a5 == 3, F.concat(hh2, F.lit("."), mi2))
        .otherwise(F.lit("x"))
    )
    return o.select(
        "o_orderkey",
        ufocat_date_col(y_field, m_field, dy, t_field).alias("ufocat_iso"),
    )


@register(
    "geldreich_dates_parsed",
    """
    SELECT o_orderkey,
           CASE o_orderkey % 6
                WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
                WHEN 1 THEN strftime(o_orderdate, '%Y-%m-%d')
                WHEN 2 THEN strftime(o_orderdate, '%Y-%m') || '-01'
                WHEN 3 THEN strftime(o_orderdate, '%Y') || '-01-01'
                WHEN 4 THEN strftime(o_orderdate, '%Y') || '-01-01'
                ELSE NULL END AS geldreich_iso
    FROM orders
    """,
)
def geldreich_dates_parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: geldreich free-text dialects built from o_orderdate: M/D/YYYY,
    M/D/YY (pivot-year round trip: TPC-H years 1992-98 -> 19xx), M/YYYY,
    'Summer YYYY', bare year, unparseable."""
    from ufo_dedup_spark.functions.dates import geldreich_date_iso_col

    o = _read(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    yr = F.year("o_orderdate").cast("string")
    yy = F.lpad(F.pmod(F.year("o_orderdate"), F.lit(100)).cast("string"), 2, "0")
    mo = F.month("o_orderdate").cast("string")
    dy = F.dayofmonth("o_orderdate").cast("string")
    a6 = F.pmod(k, F.lit(6))
    raw = (
        F.when(a6 == 0, F.concat_ws("/", mo, dy, yr))
        .when(a6 == 1, F.concat_ws("/", mo, dy, yy))
        .when(a6 == 2, F.concat_ws("/", mo, yr))
        .when(a6 == 3, F.concat(F.lit("Summer "), yr))
        .when(a6 == 4, yr)
        .otherwise(F.lit("?"))
    )
    return o.select(
        "o_orderkey", geldreich_date_iso_col(raw).alias("geldreich_iso")
    )


@register(
    "sighting_fix_battery",
    """
    WITH c AS (
        SELECT event_id, ts, event_type,
               strftime(ts, '%Y-%m-%d') AS d,
               strftime(ts, '%Y') AS yr,
               strftime(ts, '%m') AS mm,
               CAST(strftime(ts, '%H') AS INTEGER) AS hh,
               strftime(ts, '%M') AS mi
        FROM events
    )
    SELECT event_id,
           CASE event_id % 6
                WHEN 0 THEN NULL
                WHEN 1 THEN d
                WHEN 2 THEN yr
                WHEN 3 THEN yr || '-' || mm
                WHEN 4 THEN '2001-02'
                ELSE d END AS date_event,
           CASE WHEN event_id % 6 = 5
                THEN CAST(CASE WHEN hh % 12 = 0 THEN 12 ELSE hh % 12 END
                          AS VARCHAR)
                     || ':' || mi || (CASE WHEN hh < 12 THEN 'AM' ELSE 'PM' END)
                ELSE NULL END AS time_raw,
           CASE event_type
                WHEN 'click' THEN 'Fireball'
                WHEN 'view' THEN 'V-Shape'
                WHEN 'purchase' THEN 'Ps'
                WHEN 'signup' THEN NULL
                ELSE 'Cigar' END AS shape,
           CASE WHEN event_id % 2 = 0 THEN NULL ELSE event_type END
               AS description
    FROM c
    """,
)
def sighting_fix_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: the ordered fix battery applied to dirty sighting rows built from
    events — year-0000 nulling, month-00/day-00/impossible truncation, the
    newline date split, shape titlecase+typo+junk, placeholder and razor
    boilerplate stripping. Oracle derives each expected output from the
    clean timestamp, independent of the battery's implementation."""
    from ufo_dedup_spark.functions.fixes import apply_data_fixes

    e = _read(spark, sf_dir, "events")
    d = F.date_format("ts", "yyyy-MM-dd")
    yr = F.date_format("ts", "yyyy")
    mm = F.date_format("ts", "MM")
    hh = F.hour("ts")
    mi = F.date_format("ts", "mm")
    h12 = F.when(hh % 12 == 0, F.lit(12)).otherwise(hh % 12).cast("string")
    ampm = F.when(hh < 12, F.lit("AM")).otherwise(F.lit("PM"))
    a6 = F.pmod("event_id", F.lit(6))

    date_event = (
        F.when(a6 == 0, F.concat(F.lit("0000-"), mm, F.lit("-15")))
        .when(a6 == 1, d)
        .when(a6 == 2, F.concat(yr, F.lit("-00-00")))
        .when(a6 == 3, F.concat(yr, F.lit("-"), mm, F.lit("-00")))
        .when(a6 == 4, F.lit("2001-02-30"))
        .otherwise(F.concat(d, F.lit("\n"), h12, F.lit(":"), mi, ampm))
    )
    shape = (
        F.when(F.col("event_type") == "click", F.lit("frieball"))
        .when(F.col("event_type") == "view", F.lit("v-shape"))
        .when(F.col("event_type") == "purchase", F.lit("ps"))
        .when(F.col("event_type") == "signup", F.lit("1"))
        .otherwise(F.lit("CIGAR"))
    )
    description = F.when(
        F.pmod("event_id", F.lit(2)) == 0, F.lit("[MISSING DATA]")
    ).otherwise(
        F.concat(
            F.lit("Submitted by razor via e-mail template text "),
            F.lit("Investigator Notes: "),
            F.col("event_type"),
        )
    )
    dirty = e.select(
        "event_id",
        F.lit("MUFON").alias("source"),
        date_event.alias("date_event"),
        F.lit(None).cast("string").alias("time_raw"),
        shape.alias("shape"),
        description.alias("description"),
    )
    return apply_data_fixes(dirty).select(
        "event_id", "date_event", "time_raw", "shape", "description"
    )


@register(
    "coord_repair",
    """
    WITH c AS (
        SELECT event_id,
               CASE event_id % 4
                    WHEN 0 THEN value
                    WHEN 1 THEN value * 100
                    WHEN 2 THEN -value * 3000
                    ELSE NULL END AS v
        FROM events
    )
    SELECT event_id,
           CASE WHEN v IS NULL THEN NULL
                WHEN v BETWEEN -180 AND 180 THEN v
                WHEN v / 10 BETWEEN -180 AND 180 THEN ROUND(v / 10, 6)
                WHEN v / 100 BETWEEN -180 AND 180 THEN ROUND(v / 100, 6)
                WHEN v / 1000 BETWEEN -180 AND 180 THEN ROUND(v / 1000, 6)
                WHEN v / 10000 BETWEEN -180 AND 180 THEN ROUND(v / 10000, 6)
                ELSE NULL END AS lon_fixed
    FROM c
    """,
)
def coord_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9/P6: the /10^k coordinate repair cascade over synthetic
    out-of-range longitudes (fix_coords.py:59-95 semantics)."""
    from ufo_dedup_spark.functions.fixes import repair_coordinate_col

    e = _read(spark, sf_dir, "events")
    a4 = F.pmod("event_id", F.lit(4))
    v = (
        F.when(a4 == 0, F.col("value"))
        .when(a4 == 1, F.col("value") * 100)
        .when(a4 == 2, -F.col("value") * 3000)
        .otherwise(F.lit(None).cast("double"))
    )
    return e.select(
        "event_id", repair_coordinate_col(v, 180.0).alias("lon_fixed")
    )


@register(
    "enrich_fill_nulls",
    """
    WITH t AS (
        SELECT doc_id, lang, CAST(floor(n_chars / 50.0) AS INTEGER) AS bkt,
               CASE WHEN doc_id % 3 = 0 THEN NULL
                    ELSE 'H' || CAST(doc_id % 7 AS VARCHAR) END AS hynek,
               CASE WHEN doc_id % 4 = 0 THEN NULL
                    ELSE 'S' || CAST(doc_id % 5 AS VARCHAR) END AS shape
        FROM documents WHERE doc_id % 2 = 0
    ),
    s AS (
        SELECT doc_id, lang, CAST(floor(n_chars / 50.0) AS INTEGER) AS bkt,
               CASE WHEN doc_id % 5 = 0 THEN NULL
                    ELSE 'h' || CAST(doc_id % 11 AS VARCHAR) END AS hynek,
               CASE WHEN doc_id % 3 = 0 THEN NULL
                    ELSE 's' || CAST(doc_id % 7 AS VARCHAR) END AS shape
        FROM documents WHERE doc_id % 2 = 1
    ),
    best AS (
        SELECT lang, bkt, hynek, shape FROM (
            SELECT lang, bkt, hynek, shape,
                   row_number() OVER (PARTITION BY lang, bkt
                                      ORDER BY doc_id) AS rn
            FROM s WHERE hynek IS NOT NULL OR shape IS NOT NULL
        ) WHERE rn = 1
    )
    SELECT t.doc_id,
           COALESCE(t.hynek, b.hynek) AS hynek,
           COALESCE(t.shape, b.shape) AS shape
    FROM t LEFT JOIN best b ON t.lang = b.lang AND t.bkt = b.bkt
    """,
)
def enrich_fill_nulls_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: sidecar -> canonical metadata transfer on a blocking key,
    first-record-with-metadata pick, fill-NULL-only (enrich.py:104-162
    semantics over documents-derived frames)."""
    from ufo_dedup_spark.operators.enrich import enrich_fill_nulls

    d = _read(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.floor(F.col("n_chars") / 50.0).cast("int").alias("bkt"),
    )
    k = F.col("doc_id")
    target = d.filter(k % 2 == 0).select(
        "doc_id",
        "lang",
        "bkt",
        F.when(k % 3 != 0, F.concat(F.lit("H"), (k % 7).cast("string"))).alias(
            "hynek"
        ),
        F.when(k % 4 != 0, F.concat(F.lit("S"), (k % 5).cast("string"))).alias(
            "shape"
        ),
    )
    sidecar = d.filter(k % 2 == 1).select(
        "doc_id",
        "lang",
        "bkt",
        F.when(k % 5 != 0, F.concat(F.lit("h"), (k % 11).cast("string"))).alias(
            "hynek"
        ),
        F.when(k % 3 != 0, F.concat(F.lit("s"), (k % 7).cast("string"))).alias(
            "shape"
        ),
    )
    out = enrich_fill_nulls(
        target, sidecar, keys=["lang", "bkt"], fill_cols=["hynek", "shape"],
        order_col="doc_id",
    )
    return out.select("doc_id", "hynek", "shape")


_GEO_GAZ_SQL = """
        SELECT UPPER(p_brand) AS city,
               'S' || CAST(p_size % 3 AS VARCHAR) AS admin1,
               split_part(p_type, ' ', 1) AS country,
               p_retailprice % 90 AS lat,
               p_retailprice % 180 - 90 AS lng,
               p_partkey AS pop
        FROM part
"""


@register(
    "geocode_cascade",
    f"""
    WITH gaz AS ({_GEO_GAZ_SQL}),
    ex AS (
        SELECT city, admin1, country, lat, lng FROM (
            SELECT *, row_number() OVER (PARTITION BY city, admin1, country
                                         ORDER BY pop DESC, lat, lng) AS rn
            FROM gaz) WHERE rn = 1
    ),
    ns AS (
        SELECT city, country, lat, lng FROM (
            SELECT *, row_number() OVER (PARTITION BY city, country
                                         ORDER BY pop DESC, lat, lng) AS rn
            FROM gaz) WHERE rn = 1
    ),
    co AS (
        SELECT city, lat, lng FROM (
            SELECT *, row_number() OVER (PARTITION BY city
                                         ORDER BY pop DESC, lat, lng) AS rn
            FROM gaz) WHERE rn = 1
    ),
    loc AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 13 = 0 THEN 'NOWHERE'
                    ELSE 'BRAND#' || CAST(1 + c_custkey % 25 AS VARCHAR)
                    END AS city_u,
               CASE c_custkey % 4
                    WHEN 1 THEN NULL
                    WHEN 2 THEN 'S9'
                    ELSE 'S' || CAST(c_custkey % 3 AS VARCHAR) END AS state_n,
               CASE c_custkey % 5
                    WHEN 0 THEN 'STANDARD'
                    WHEN 1 THEN 'SMALL'
                    WHEN 2 THEN 'MEDIUM'
                    WHEN 3 THEN NULL
                    ELSE 'XX' END AS cc
        FROM customer
    )
    SELECT l.c_custkey,
           COALESCE(e.lat, n.lat, c3.lat) AS lat,
           COALESCE(e.lng, n.lng, c3.lng) AS lng,
           CASE WHEN e.lat IS NOT NULL THEN 'exact'
                WHEN n.lat IS NOT NULL THEN 'city_country'
                WHEN c3.lat IS NOT NULL THEN 'city_only'
                ELSE NULL END AS geocode_method
    FROM loc l
    LEFT JOIN ex e ON l.city_u = e.city AND l.state_n = e.admin1
                   AND l.cc = e.country
    LEFT JOIN ns n ON l.city_u = n.city AND l.cc = n.country
    LEFT JOIN co c3 ON l.city_u = c3.city
    """,
)
def geocode_cascade_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: the 3-level gazetteer fallback with max-pop pick over a part-
    derived gazetteer and customer-derived dirty locations (missing states,
    wrong states, missing/unknown countries, unknown cities)."""
    from ufo_dedup_spark.operators.geocode import geocode_cascade

    p = _read(spark, sf_dir, "part")
    gaz = p.select(
        F.upper("p_brand").alias("city"),
        F.concat(F.lit("S"), (F.col("p_size") % 3).cast("string")).alias(
            "admin1"
        ),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("country"),
        (F.col("p_retailprice") % 90).alias("lat"),
        (F.col("p_retailprice") % 180 - 90).alias("lng"),
        F.col("p_partkey").alias("pop"),
    )
    k = F.col("c_custkey")
    loc = _read(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(k % 13 == 0, F.lit("Nowhere"))
        .otherwise(F.concat(F.lit("Brand#"), (1 + k % 25).cast("string")))
        .alias("city"),
        F.when(k % 4 == 1, F.lit(None).cast("string"))
        .when(k % 4 == 2, F.lit("S9"))
        .when(k % 4 == 3, F.concat(F.lit("s"), (k % 3).cast("string")))
        .otherwise(F.concat(F.lit("S"), (k % 3).cast("string")))
        .alias("state"),
        # mixed case exercises normalize_country_col's upper-passthrough
        F.when(k % 5 == 0, F.lit("Standard"))
        .when(k % 5 == 1, F.lit("Small"))
        .when(k % 5 == 2, F.lit("medium"))
        .when(k % 5 == 3, F.lit(None).cast("string"))
        .otherwise(F.lit("XX"))
        .alias("country"),
    )
    out = geocode_cascade(loc, gaz)
    return out.select("c_custkey", "lat", "lng", "geocode_method")


@register(
    "historic_category_summary",
    """
    WITH sighting AS (
      SELECT o_orderkey AS id,
             CAST(o_orderkey % 3 AS INTEGER) AS source_db_id,
             lpad(CAST(year(o_orderdate) - (o_orderkey % 23) * 60 AS VARCHAR),
                  4, '0') || strftime(o_orderdate, '-%m-%d') AS date_event,
             CASE o_orderkey % 5
               WHEN 0 THEN '19/' || strftime(o_orderdate, '%m')
               WHEN 1 THEN substr(
                 lpad(CAST(year(o_orderdate) - (o_orderkey % 23) * 60
                           AS VARCHAR), 4, '0'), 1, 3)
                 || '/' || strftime(o_orderdate, '%m')
               WHEN 2 THEN lpad(CAST(year(o_orderdate) - (o_orderkey % 23) * 60
                                     AS VARCHAR), 4, '0')
                 || '/' || strftime(o_orderdate, '%m')
               WHEN 3 THEN '18/' || strftime(o_orderdate, '%m')
               ELSE NULL
             END AS date_event_raw
      FROM orders
    ),
    src AS (
      SELECT * FROM (VALUES (0, 'UFOCAT'), (1, 'NUFORC'), (2, 'UPDB'))
        AS t(id, name)
    ),
    extracted AS (
      SELECT * FROM sighting
      WHERE date_event IS NOT NULL AND length(date_event) >= 4
        AND CAST(substr(date_event, 1, 4) AS INTEGER) BETWEEN 1 AND 1900
    ),
    da AS (
      SELECT src.name AS source_name,
             CASE WHEN s.date_event_raw IS NOT NULL
                       AND instr(s.date_event_raw, '/') > 0
                  THEN substr(s.date_event_raw, 1,
                              instr(s.date_event_raw, '/') - 1)
             END AS raw_year_str,
             CAST(substr(s.date_event, 1, 4) AS INTEGER) AS parsed_year
      FROM extracted s JOIN src ON s.source_db_id = src.id
    ),
    cls AS (
      SELECT source_name, parsed_year,
        CASE
          WHEN source_name = 'UFOCAT' AND length(raw_year_str) = 2
               AND raw_year_str = '19' THEN 'ufocat_century_only'
          WHEN source_name = 'UFOCAT' AND length(raw_year_str) = 3
               THEN 'ufocat_3digit_review'
          WHEN source_name = 'UFOCAT' AND length(raw_year_str) = 4
               AND parsed_year < 1901 THEN 'ufocat_ancient'
          WHEN source_name = 'UFOCAT' AND length(raw_year_str) = 2
               AND raw_year_str != '19' THEN 'ufocat_2digit_ancient'
          WHEN source_name != 'UFOCAT' THEN 'other_source_review'
          ELSE 'unclassified'
        END AS category
      FROM da
    )
    SELECT category, source_name, COUNT(*) AS cnt,
           MIN(parsed_year) AS min_year, MAX(parsed_year) AS max_year
    FROM cls GROUP BY category, source_name
    """,
)
def historic_category_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11: the extract_historic analog — pre-cutoff filter + derived
    date_analysis classification + the v_category_summary view, over a
    sighting-shaped frame synthesized deterministically from orders
    (variable-precision raw dates per o_orderkey residue; the oracle SQL
    mirrors the synthesis and the reference's five ordered classification
    rules, reference extract_historic.py:99-260)."""
    from ufo_dedup_spark.operators.extract_historic import (
        date_analysis,
        pre_cutoff_sightings,
        register_analysis_views,
    )

    o = _read(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    adj_year = F.year("o_orderdate") - (k % 23) * 60
    year_str = F.lpad(adj_year.cast("string"), 4, "0")
    month = F.date_format("o_orderdate", "MM")
    sighting = o.select(
        k.alias("id"),
        (k % 3).cast("int").alias("source_db_id"),
        F.concat(year_str, F.date_format("o_orderdate", "-MM-dd")).alias(
            "date_event"
        ),
        F.when(k % 5 == 0, F.concat(F.lit("19/"), month))
        .when(k % 5 == 1, F.concat(F.substring(year_str, 1, 3), F.lit("/"), month))
        .when(k % 5 == 2, F.concat(year_str, F.lit("/"), month))
        .when(k % 5 == 3, F.concat(F.lit("18/"), month))
        .alias("date_event_raw"),
        F.lit(None).cast("long").alias("location_id"),
        F.lit(None).cast("string").alias("description"),
    )
    src_dim = spark.createDataFrame(
        [(0, "UFOCAT"), (1, "NUFORC"), (2, "UPDB")], "id int, name string"
    )
    loc = spark.createDataFrame(
        [], "id long, city string, state string, country string"
    )
    da = date_analysis(pre_cutoff_sightings(sighting), src_dim, loc)
    register_analysis_views(spark, da)
    return spark.sql(
        """
        SELECT category, source_name, cnt, min_year, max_year
        FROM v_category_summary
        """
    )


# ---- non-SQL-expressible ops: rows-only driver check, pinned by pytest ----


# lang -> (city, state, country) of the sightings _tier_frames derives
_TIER_PLACES = {
    "de": ("Fredericksburg", "TX", "US"),
    "en": ("Phoenix", "AZ", "US"),
    "es": ("El Paso", "TX", "US"),
    "fr": ("Montreal", "QC", "CA"),
    "zh": ("San Francisco", "CA", "US"),
}


def _tier_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(sighting, location) frames for the tier dedup, one sighting per
    document: source doc_id % 5 + 1 (all five SRC_* ids), description the
    doc text, and a day n_chars // 10 days after 2001-01-01 — so the
    planted near-dup documents (lengths a few chars apart) share date
    blocks — with a time on every third. lang picks the place; doc_id
    residues add the noise the key normalizers remove (a '?' suffix, a
    lower-case state). raw_text is the bare upper-case city (the UFOCAT
    form tiers 2a-2c read) for doc_id % 4 < 2, else 'City, ST' (the
    UFO-search form tier 2d parses)."""
    places = spark.createDataFrame(
        [(lang, *p) for lang, p in _TIER_PLACES.items()],
        "lang string, city string, state string, country string",
    )
    d = _read(spark, sf_dir, "documents").join(F.broadcast(places), "lang")
    k = F.col("doc_id")
    city = F.when(k % 7 == 0, F.concat("city", F.lit("?"))).otherwise(
        F.col("city")
    )
    state = F.when(k % 4 == 0, F.lower("state")).otherwise(F.col("state"))
    day = F.date_add(
        F.lit("2001-01-01").cast("date"),
        F.floor(F.col("n_chars") / 10).cast("int"),
    )
    sighting = d.select(
        k.alias("id"),
        (k % 5 + 1).cast("int").alias("source_db_id"),
        F.concat(
            day.cast("string"),
            F.when(k % 3 == 0, F.lit("T21:30")).otherwise(F.lit("")),
        ).alias("date_event"),
        F.col("text").alias("description"),
        k.alias("location_id"),
    )
    location = d.select(
        k.alias("id"),
        F.when(k % 4 < 2, F.upper(city))
        .otherwise(F.concat(city, F.lit(", "), state))
        .alias("raw_text"),
        city.alias("city"),
        state.alias("state"),
        "country",
    )
    return sighting, location


@register("sighting_tier_pairs")  # no oracle: difflib scores are not
# SQL-expressible; tests/test_tiers.py pins the rows to oracle_tiers.py
def sighting_tier_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's three-tier sighting dedup (dedup.py:283-595):
    blocking equi-joins per tier, difflib scoring, first tier wins — as the
    declared pair table."""
    from ufo_dedup_spark.operators.tiers import run_all_tiers
    from ufo_dedup_spark.schema import PAIRS_SCHEMA

    out = run_all_tiers(*_tier_frames(spark, sf_dir))
    return out.select(*PAIRS_SCHEMA.fieldNames())


@register("minhash_lsh_candidates")  # no oracle: hash permutations
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature -> LSH banding -> candidate pairs over documents
    (correctness pinned by tests/test_hashing.py + pipeline recall tests)."""
    from ufo_dedup_spark.functions.hashing import make_minhash_udf
    from ufo_dedup_spark.operators.minhash_lsh import lsh_candidate_pairs

    d = _read(spark, sf_dir, "documents")
    minhash = make_minhash_udf(num_perm=128, shingle_k=3, seed=42)
    signed = d.select(
        F.col("doc_id").alias("id"), minhash(F.col("text")).alias("minhash")
    )
    return lsh_candidate_pairs(signed, "id", "minhash", 42, 3, 64)


@register("simhash_fingerprints")  # no oracle: splitmix64 bit votes are not
# SQL-expressible; exact values pinned by tests/test_hashing.py, and the
# SQL-expressible part of the contract is oracled by simhash_null_contract
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document."""
    from ufo_dedup_spark.functions.hashing import make_simhash_udf

    d = _read(spark, sf_dir, "documents")
    simhash = make_simhash_udf(shingle_k=2, seed=42)
    return d.select("doc_id", simhash(F.col("text")).alias("simhash"))


@register(
    "simhash_null_contract",
    # the SQL-expressible invariant of the SimHash surface: a fingerprint
    # is NULL exactly for documents with no whitespace-delimited tokens
    # (NULL / empty / whitespace-only text) and non-NULL otherwise. The
    # bit-vote VALUES are pinned by tests/test_hashing.py; this row makes
    # the null-contract half driver-visible against a DuckDB oracle.
    r"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN text IS NULL
                          OR regexp_replace(text, '\s+', '', 'g') = ''
                     THEN 1 ELSE 0 END) AS BIGINT) AS null_fp,
           CAST(SUM(CASE WHEN text IS NOT NULL
                          AND regexp_replace(text, '\s+', '', 'g') <> ''
                     THEN 1 ELSE 0 END) AS BIGINT) AS nonnull_fp
    FROM documents
    """,
)
def simhash_null_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: doc count, NULL-fingerprint count, non-NULL count —
    computed from the ACTUAL SimHash output, so a kernel change that
    breaks the tokenless->NULL rule fails this row against the oracle."""
    from ufo_dedup_spark.functions.hashing import make_simhash_udf

    d = _read(spark, sf_dir, "documents")
    simhash = make_simhash_udf(shingle_k=2, seed=42)
    fp = d.select(simhash(F.col("text")).alias("fp"))
    return fp.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("fp").isNull(), 1).otherwise(0)).cast("long").alias(
            "null_fp"
        ),
        F.sum(F.when(F.col("fp").isNotNull(), 1).otherwise(0)).cast("long").alias(
            "nonnull_fp"
        ),
    )


@register(
    "minhash_sig_contract",
    # ASCII-DATA ASSUMPTION (shared with simhash_null_contract): the
    # oracle's tokenless test uses RE2 \s (ASCII whitespace), while the
    # kernel's NULL-signature condition comes from Python str.split()
    # (Unicode whitespace). A document consisting solely of non-ASCII
    # whitespace (NBSP U+00A0, ideographic space U+3000, ...) would get a
    # NULL signature from the engine but count as non-tokenless in the
    # oracle. The driver testdata synthesizes pure-ASCII whitespace, so
    # the contracts agree; if testdata ever grows Unicode-whitespace-only
    # docs, widen the oracle's class (e.g. regexp_replace(text,
    # '[\s\u00a0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000\u0085]+',
    # '', 'g')). NOTE the oracle TEXT itself is fingerprint-frozen across
    # optimization rounds — this caveat intentionally lives outside it.
    # The SQL-expressible contract of the MinHash surface (the permutation
    # VALUES are M61 modular arithmetic no SQL engine reproduces; those are
    # pinned exact-value by tests/test_hashing.py). Four invariants a SQL
    # oracle CAN state: (1) a signature is NULL exactly for tokenless docs,
    # (2) every non-NULL signature has num_perm=128 elements, (3) every
    # element lies in [0, 2^61-1), and (4) the signature is a pure function
    # of the whitespace-token sequence — docs equal after collapsing
    # whitespace runs MUST share one signature, so the violation count is
    # identically zero. (ASCII-whitespace collapse is a refinement of the
    # kernel's Unicode str.split(): key-equal docs are byte-equal after the
    # collapse, hence token-equal — a finer grouping can only under-merge,
    # never produce a false violation.)
    r"""
    WITH d AS (
        SELECT CASE WHEN text IS NULL
                         OR regexp_replace(text, '\s+', '', 'g') = ''
                    THEN 1 ELSE 0 END AS tokenless
        FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tokenless) AS BIGINT) AS null_sig,
           CAST(SUM(1 - tokenless) AS BIGINT) AS len_128,
           CAST(SUM(1 - tokenless) AS BIGINT) AS in_range,
           CAST(0 AS BIGINT) AS inconsistent_groups
    FROM d
    """,
)
def minhash_sig_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row computed from the ACTUAL MinHash output: doc/NULL counts,
    how many signatures have exactly 128 in-range elements, and how many
    normalized-text groups violate signature determinism (must be 0).
    Diagnostic contract row at sample scale — the signature UDF runs twice
    (two grouping shapes over one projection), fine for a counter query."""
    from ufo_dedup_spark.functions.hashing import make_minhash_udf

    m61 = F.lit(2305843009213693951)  # 2^61 - 1
    mh = make_minhash_udf(num_perm=128, shingle_k=5, seed=42)
    base = _read(spark, sf_dir, "documents").select(
        F.regexp_replace(F.trim(F.col("text")), r"\s+", " ").alias("norm"),
        mh(F.col("text")).alias("sig"),
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.when(F.col("sig").isNull(), 1).otherwise(0)
        ).cast("long").alias("null_sig"),
        F.sum(
            F.when(
                F.col("sig").isNotNull() & (F.size("sig") == 128), 1
            ).otherwise(0)
        ).cast("long").alias("len_128"),
        F.sum(
            F.when(
                F.col("sig").isNotNull()
                & F.forall("sig", lambda v: (v >= 0) & (v < m61)),
                1,
            ).otherwise(0)
        ).cast("long").alias("in_range"),
    )
    inconsistent = (
        base.where(F.col("sig").isNotNull())
        .groupBy("norm")
        .agg(F.count_distinct(F.xxhash64("sig")).alias("n_sigs"))
        .agg(
            F.sum(F.when(F.col("n_sigs") > 1, 1).otherwise(0))
            .cast("long")
            .alias("inconsistent_groups")
        )
    )
    return stats.crossJoin(inconsistent)


@register(
    "ann_near_dup_pairs",
    # Full-probe IVF (n_probe == n_centroids) is provably equal to the
    # brute-force all-pairs join — every vector lands in every bucket, so
    # no centroids are computed, all pairs co-occur, and each is scored
    # exactly once (in the smallest bucket both vectors probe) — which
    # makes the exact pairwise SQL a valid oracle for the ANN code path.
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(
             list_dot_product(CAST(a.embedding AS DOUBLE[]),
                              CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                      CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])))), 4
           ) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ROUND(
             list_dot_product(CAST(a.embedding AS DOUBLE[]),
                              CAST(b.embedding AS DOUBLE[]))
             / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                      CAST(a.embedding AS DOUBLE[])))
                * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])))), 4
           ) >= 0.3
    """,
)
def ann_near_dup_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed near-dup pairs, run at FULL probe width so the result is
    mathematically identical to brute force and the exact pairwise SQL
    oracle applies. The production (partial-probe) configuration is
    registered separately as ann_near_dup_pairs_probed."""
    from ufo_dedup_spark.operators.similarity_search import ann_near_dup_pairs

    return ann_near_dup_pairs(
        _read(spark, sf_dir, "embeddings"),
        threshold=0.3,
        n_centroids=16,
        n_probe=16,
    )


@register(
    "ann_probed_containment",
    # Precision containment as a hard oracle gate: every pair the
    # production (partial-probe) ANN path emits must also be a true pair —
    # probed pairs anti-joined against the full-probe (== brute-force)
    # result must be EMPTY. The recall half (how many true pairs the probe
    # width finds) is impl-defined and stays pinned in pytest
    # (test_similarity_search.py); this row pins the precision half in the
    # driver's hash-checked gate.
    """
    SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b
    WHERE 1 = 0
    """,
)
def ann_probed_containment_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-probe ANN pairs that are NOT in the exact result — expected
    empty: within-bucket scoring uses the exact cosine, so reducing probe
    width can only drop pairs, never invent them."""
    from ufo_dedup_spark.operators.similarity_search import ann_near_dup_pairs

    e = _read(spark, sf_dir, "embeddings")
    probed = ann_near_dup_pairs(e, threshold=0.3, n_centroids=16, n_probe=4)
    full = ann_near_dup_pairs(e, threshold=0.3, n_centroids=16, n_probe=16)
    return probed.select("id_a", "id_b").join(
        full.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"
    )


@register("ann_near_dup_pairs_probed")  # no oracle: partial-probe candidate
# set is impl-defined; pytest asserts recall vs the brute oracle
def ann_near_dup_pairs_probed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed near-dup pairs at production probe width — the scale
    path replacing the O(n^2) brute-force join: k-means centroids,
    multi-probe bucket assignment, pairs generated only within shared
    buckets (shuffle on bucket key, no cartesian)."""
    from ufo_dedup_spark.operators.similarity_search import ann_near_dup_pairs

    return ann_near_dup_pairs(
        _read(spark, sf_dir, "embeddings"),
        threshold=0.3,
        n_centroids=16,
        n_probe=4,
    )


@register("ann_probed_recall")  # no oracle: the probed count is
# impl-defined (probe-width dependent); the full-probe count is oracled
# transitively via the green ann_near_dup_pairs row. This one-row counter
# makes probe-width recall DRIFT visible per round in the driver record —
# a kernel/centroid regression that silently narrows effective probe
# coverage shows up here as a falling probed_pairs/recall without waiting
# for the pytest battery.
def ann_probed_recall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: production-probe pair count vs full-probe (== brute force)
    pair count and their ratio (recall; precision is exactly 1.0 by the
    ann_probed_containment gate)."""
    from ufo_dedup_spark.operators.similarity_search import ann_near_dup_pairs

    e = _read(spark, sf_dir, "embeddings")
    probed = ann_near_dup_pairs(e, threshold=0.3, n_centroids=16, n_probe=4)
    full = ann_near_dup_pairs(e, threshold=0.3, n_centroids=16, n_probe=16)
    return (
        probed.agg(F.count(F.lit(1)).alias("probed_pairs"))
        .crossJoin(full.agg(F.count(F.lit(1)).alias("full_pairs")))
        .select(
            "probed_pairs",
            "full_pairs",
            # zero guard: under ANSI mode an empty/tiny embeddings table
            # (zero full-probe pairs) must degrade to a NULL recall, not
            # raise DIVIDE_BY_ZERO
            F.round(
                F.when(
                    F.col("full_pairs") > 0,
                    F.col("probed_pairs") / F.col("full_pairs"),
                ),
                4,
            ).alias("recall"),
        )
    )


@register("ivf_topk_embeddings")  # no oracle: probe set is impl-defined
def ivf_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate nearest neighbors (pytest asserts equality
    with the brute-force result at full probe width)."""
    from ufo_dedup_spark.operators.similarity_search import (
        deterministic_centroids,
        ivf_topk,
    )

    e = _read(spark, sf_dir, "embeddings")
    qrow = e.filter(F.col("vec_id") == 0).select("embedding").collect()[0]
    q = [float(v) for v in qrow["embedding"]]
    out = ivf_topk(
        e.filter(F.col("vec_id") != 0), q, k=10, n_centroids=16, n_probe=8
    )
    return out.select("vec_id", F.round("cos_sim", 4).alias("cos_sim"))
