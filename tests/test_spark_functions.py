"""Column-expression and pandas-UDF implementations must agree with the
pure-Python kernel on a battery of adversarial inputs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ufo_dedup_spark import kernel
from ufo_dedup_spark.functions import normalize as N
from ufo_dedup_spark.functions.similarity import (
    similarity_udf,
    tier3_score_udf,
)

CITY_CASES = [
    "phoenix", "PHOENIX", "Springfield (North)", "Phoenix?", "Phoenix.",
    "Phoenix!", "San  Francisco", "  Phoenix  ", "", None,
    "Springfield (IL)?", "São Paulo", "   ", "(North) Springfield",
    "A (B) (C)", "city...", "x?!.", "no parens (here) trailing",
]

RAW_TEXT_CASES = [
    "Phoenix, AZ", "Phoenix, AZ?", "San Francisco, CA", "Toronto, ON",
    "London, XX", "Phoenix AZ", "Phoenix, AZZ", "", None, "phoenix, az",
    "  Phoenix ,  AZ  ", "St. Louis, MO", ", AZ", "Unknown location somewhere",
]

def _one_col_results(spark, cases, col_expr):
    df = spark.createDataFrame([(c,) for c in cases], "v string")
    return [r["out"] for r in df.select(col_expr(F.col("v")).alias("out")).collect()]


def test_normalize_city_col_matches_kernel(spark):
    got = _one_col_results(spark, CITY_CASES, N.normalize_city_col)
    expected = [kernel.normalize_city(c) for c in CITY_CASES]
    assert got == expected


def test_parse_ufosearch_cols_match_kernel(spark):
    df = spark.createDataFrame([(c,) for c in RAW_TEXT_CASES], "v string")
    got = df.select(
        N.parse_ufosearch_city_col(F.col("v")).alias("city"),
        N.parse_ufosearch_state_col(F.col("v")).alias("state"),
    ).collect()
    expected = [kernel.parse_ufosearch_city_state(c) for c in RAW_TEXT_CASES]
    assert [(r["city"], r["state"]) for r in got] == expected


def test_date10_col(spark):
    cases = ["2005-06-15T23:00", "1985-07", "1957", None]
    got = _one_col_results(spark, cases, N.date10_col)
    assert got == ["2005-06-15", "1985-07", "1957", None]


def test_lang_id_col(spark):
    from ufo_dedup_spark.functions import text as TX

    cases = [
        # clear single-language hits
        "the cat and the dog went to the park, it was sunny",   # en
        "der Hund und die Katze, das ist nicht ein Problem",    # de
        "el perro y los gatos, pero una cosa es muy rara",      # es
        "le chat est dans les arbres pour une heure sur place", # fr
        # no marker of any language -> 'und'
        "zzz qqq xxx 12345",
        "",
        None,
        # tie between en and fr ('est' fr x1 vs 'the' en x1) -> en wins
        # (CASE chain order: de >= all, then en >= es/fr, duplicates kept)
        "the est",
        # de/en tie -> de (alphabetically-first branch checked first)
        "der the",
        # CJK ideographs act as zh markers (ASCII tokens see nothing)
        "今天天气很好",
        # CJK must OUTNUMBER latin markers: 1 CJK char vs 2 'the' -> en
        "the 今 the",
    ]
    got = _one_col_results(spark, cases, TX.lang_id_col)
    assert got == [
        "en", "de", "es", "fr", "und", "und", "und", "en", "de", "zh", "en",
    ]
    # marker counting keeps duplicates: 'the' x3 beats 'le'+'les' = 2 fr
    dup = _one_col_results(
        spark, ["the the the le les"], TX.lang_id_col
    )
    assert dup == ["en"]


def test_bpe_token_count_col(spark):
    import re as _re

    from ufo_dedup_spark.functions import text as TX

    cases = [
        "it's the 1980's!! don't stop...",
        "hello world",
        "a1b2c3",
        "  leading spaces   and   runs  ",
        "!!!???...",
        "we'll we've we're i'm he'd can't",
        "mixed CASE and Punct-uation; 42,000 items",
        "",
        None,
    ]
    got = _one_col_results(spark, cases, TX.bpe_token_count_col)
    # third-engine pin: Python re (leftmost-first, like Java and RE2)
    pat = _re.compile(TX.BPE_TOKEN_RE)
    expected = [
        len(pat.findall(c.lower())) if c is not None else 0 for c in cases
    ]
    assert got == expected
    assert expected[0] == 10  # it|'s| the| 1980|'s|!!| don|'t| stop|...


def test_ngram_pairs_plan_is_blocked_join(spark):
    """Scale contract: the n-gram pair generator must join on the blocking
    key — no cartesian / nested-loop — and apply admission as a broadcast
    semi-join before the shingle projection."""
    import os

    from ufo_dedup_spark.queries import ngram_jaccard_pairs

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        import pytest as _pytest

        _pytest.skip("driver testdata absent")
    plan = (
        ngram_jaccard_pairs(spark, sf)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan


def test_shingles_col(spark):
    from ufo_dedup_spark.functions import text as TX

    cases = [
        "a b c d",            # 2 trigrams: "a b c", "b c d"
        "a b c a b c a b c",  # duplicates collapse: {"a b c","b c a","c a b"}
        "a b",                # < k tokens -> empty (NOT a descending sequence)
        "",                   # empty -> empty
        None,                 # NULL -> empty
        "Hello, WORLD foo",   # tokenizer is lowercase-ASCII: 1 trigram
    ]
    got = _one_col_results(spark, cases, TX.shingles_col)
    sizes = [len(s) if s is not None else None for s in got]
    assert sizes == [2, 3, 0, 0, 0, 1]
    # hashed-shingle sets must be order/dup-insensitive: same distinct
    # trigram set -> identical sorted hash arrays
    same = _one_col_results(
        spark, ["x y z x y z", "x y z"], TX.shingles_col
    )
    assert set(same[1]) <= set(same[0]) and len(same[0]) == 3
    assert same[0] == sorted(same[0])


PAIR_CASES = [
    # (desc_a, desc_b, src_a, src_b)
    ("bright light in the sky", "bright light over the ground", 1, 2),
    ("A" * 50, "A" * 50, None, None),
    ("A" * 19, "A" * 19, None, None),
    (None, "text", 1, 2),
    ("", "", 3, 4),
    ("NUFORC UFO Sighting 12345", "Some text", 2, None),
    (
        "NUFORC UFO Sighting 4242 A bright orange orb hovered over the treeline",
        "A bright orange orb hovered over the treeline",
        2,
        3,
    ),
    (
        "Submitted by razor via e-mail x. Investigator Notes: Three lights moved.",
        "Three lights moved.",
        1,
        2,
    ),
    (
        " ".join(f"alpha{i}" for i in range(40)) + " shared",
        " ".join(f"bravo{i}" for i in range(40)) + " shared",
        None,
        None,
    ),
    (
        "Saw a bright light over the lake moving north very fast then it stopped",
        "Bright light observed over the lake headed north at high speed before stopping",
        1,
        2,
    ),
]


def _pairs_df(spark):
    return spark.createDataFrame(
        PAIR_CASES, "a string, b string, sa int, sb int"
    )


def test_similarity_udf_matches_kernel(spark):
    got = [
        r["s"]
        for r in _pairs_df(spark)
        .select(similarity_udf("a", "b", "sa", "sb").alias("s"))
        .collect()
    ]
    expected = [kernel.compute_similarity(a, b, sa, sb) for a, b, sa, sb in PAIR_CASES]
    assert got == pytest.approx(expected)


def test_tier3_score_udf_semantics(spark):
    got = [
        r["s"]
        for r in _pairs_df(spark)
        .select(tier3_score_udf("a", "b", "sa", "sb").alias("s"))
        .collect()
    ]
    for (a, b, sa, sb), s in zip(PAIR_CASES, got):
        a_clean = kernel.strip_nuforc_prefix(kernel.strip_mufon_boilerplate(a or ""))
        b_clean = kernel.strip_nuforc_prefix(kernel.strip_mufon_boilerplate(b or ""))
        if kernel.token_jaccard(a_clean, b_clean) < kernel.TIER3_JACCARD_PREFILTER:
            assert s is None
        else:
            assert s == pytest.approx(kernel.compute_similarity(a, b, sa, sb))


def first_wins(pairs, priority_col="priority"):
    """The general first-wins resolver, kept as the reference the
    hash-aggregable ``first_wins_by_priority`` is checked against: one row
    per (id_a, id_b), ordered by (priority, method, -score) with NULL
    scores last, every other column carried through."""
    order_key = F.struct(
        F.col(priority_col),
        F.col("method"),
        (-F.coalesce(F.col("score"), F.lit(float("-inf")))).alias("_ns"),
    )
    payload_cols = [
        c for c in pairs.columns if c not in ("id_a", "id_b", priority_col)
    ]
    won = pairs.groupBy("id_a", "id_b").agg(
        F.min_by(F.struct(*payload_cols), order_key).alias("_w")
    )
    return won.select("id_a", "id_b", "_w.*")


def test_first_wins_by_priority_matches_generic(spark):
    """The hash-aggregable pipeline specialization must produce EXACTLY the
    generic first_wins output whenever its preconditions hold (method <->
    priority bijection, constant status) — including NULL scores, ties on
    (priority, score), and multi-method duplicates of one pair."""
    from ufo_dedup_spark.operators.pairs import first_wins_by_priority
    from ufo_dedup_spark.pipeline import METHOD_PRIORITY

    rows = [
        # pair seen by three methods: best priority wins
        (1, 2, 0.8, "minhash_lsh", "pending"),
        (1, 2, 0.8, "exact", "pending"),
        (1, 2, 0.95, "prefix", "pending"),
        # same priority twice (duplicate emission): score tie
        (3, 4, 0.71, "simhash", "pending"),
        (3, 4, 0.71, "simhash", "pending"),
        # same priority, different scores: higher score wins
        (5, 6, 0.70, "substring", "pending"),
        (5, 6, 0.93, "substring", "pending"),
        # NULL score loses to a scored row of equal priority
        (7, 8, None, "minhash_lsh", "pending"),
        (7, 8, 0.70, "minhash_lsh", "pending"),
        # lone NULL-score pair survives with NULL score
        (9, 10, None, "exact", "pending"),
    ]
    df = spark.createDataFrame(
        rows, "id_a long, id_b long, score double, method string, status string"
    )
    prio = F.when(F.lit(False), F.lit(0))
    for m, p in METHOD_PRIORITY.items():
        prio = prio.when(F.col("method") == m, F.lit(p))
    with_prio = df.withColumn("priority", prio.otherwise(F.lit(99)))

    generic = {tuple(r) for r in first_wins(with_prio).collect()}
    fast = {
        tuple(r)
        for r in first_wins_by_priority(with_prio, METHOD_PRIORITY).collect()
    }
    assert fast == generic
    # and the specialization's plan must be hash-aggregated (no sort-based
    # fallback — the whole point of the rewrite)
    plan = (
        first_wins_by_priority(with_prio, METHOD_PRIORITY)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortAggregate" not in plan

    # a method outside METHOD_PRIORITY (priority 99) fails the query,
    # naming the priority, instead of yielding a NULL method and score
    unknown = spark.createDataFrame(
        [(11, 12, 0.9, "ann", "pending")], df.schema
    ).withColumn("priority", prio.otherwise(F.lit(99)))
    with pytest.raises(Exception, match="priority 99"):
        first_wins_by_priority(
            with_prio.unionByName(unknown), METHOD_PRIORITY
        ).collect()
