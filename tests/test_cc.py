"""Connected-components operator correctness on known graphs."""

from __future__ import annotations

import random

from ufo_dedup_spark.operators import connected_components as cc_mod
from ufo_dedup_spark.operators.connected_components import connected_components


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return {
        r["id"]: r["cluster_id"]
        for r in connected_components(df).collect()
    }


def test_single_edge(spark):
    assert _cc(spark, [(1, 2)]) == {1: 1, 2: 1}


def test_chain(spark):
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {i: 1 for i in range(1, 6)}


def test_two_components(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11), (12, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_star_and_duplicate_edges(spark):
    got = _cc(spark, [(5, 1), (5, 2), (5, 3), (1, 5), (2, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 5: 1}


def test_random_graph_matches_union_find(spark):
    rng = random.Random(3)
    nodes = list(range(100))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(80)
    ]
    edges = [(a, b) for a, b in edges if a != b]

    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    expected = {}
    for a, b in edges:
        for n in (a, b):
            expected[n] = find(n)

    got = _cc(spark, edges)
    assert got == expected


def test_skew_path_equals_fast_path(spark, monkeypatch):
    """A planted giant component (hub + chain segments) with the skew
    cutoff forced low must produce exactly the fast path's clusters: the
    two-phase-min star ops are a physical-plan change only."""
    rng = random.Random(7)
    edges = []
    # giant component: hub star (hot neighborhood) + random chords
    for i in range(1, 3000):
        edges.append((0, i))
    for _ in range(2000):
        a, b = rng.randrange(3000), rng.randrange(3000)
        if a != b:
            edges.append((a, b))
    # plus scattered small components
    for base in range(10_000, 10_100, 4):
        edges.append((base, base + 1))
        edges.append((base + 1, base + 2))

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    skew_rounds = []
    large_star_skew = cc_mod._large_star_skew
    monkeypatch.setattr(
        cc_mod,
        "_large_star_skew",
        lambda nbr: skew_rounds.append(1) or large_star_skew(nbr),
    )

    def run(cutoff):
        monkeypatch.setattr(cc_mod, "SKEW_DEGREE_CUTOFF", cutoff)
        return sorted(
            (r["id"], r["cluster_id"])
            for r in connected_components(df).collect()
        )

    fast = run(10**9)
    assert not skew_rounds
    skew = run(10)
    assert skew_rounds
    assert fast == skew
    labels = dict(skew)
    assert labels[2999] == 0 and labels[10_001] == 10_000


def test_shuffle_partitions_restored(spark):
    """The per-round shuffle-partition override must not leak past the
    call, including through the early-exit and exception paths."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    df = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    connected_components(df).collect()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
