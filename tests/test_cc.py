"""Connected-components operator correctness on known graphs."""

from __future__ import annotations

import random

import pytest

from ufo_dedup_spark.operators import connected_components as cc_mod
from ufo_dedup_spark.operators.connected_components import connected_components


def _cc(spark, edges, stats=None, edges_distinct=False):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return {
        r["id"]: r["cluster_id"]
        for r in connected_components(
            df, stats=stats, edges_distinct=edges_distinct
        ).collect()
    }


def test_single_edge(spark):
    assert _cc(spark, [(1, 2)]) == {1: 1, 2: 1}


def test_chain(spark):
    stats: dict = {}
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)], stats)
    assert got == {i: 1 for i in range(1, 6)}
    # the round that forms the star forest is the last (waiting for a
    # round that changes nothing took 3)
    assert stats["rounds"] == 2 and stats["converged"]


def test_two_components(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11), (12, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_star_and_duplicate_edges(spark):
    got = _cc(spark, [(5, 1), (5, 2), (5, 3), (1, 5), (2, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 5: 1}


def _random_edges(seed, n_nodes, n_edges):
    rng = random.Random(seed)
    edges = [
        (rng.randrange(n_nodes), rng.randrange(n_nodes))
        for _ in range(n_edges)
    ]
    return [(a, b) for a, b in edges if a != b]


def _union_find(edges):
    """{node: min node id of its component} for every node of ``edges``."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in list(parent)}


def test_random_graph_matches_union_find(spark):
    edges = _random_edges(3, 100, 80)
    stats: dict = {}
    assert _cc(spark, edges, stats) == _union_find(edges)
    # one round fewer than waiting for a round that changes nothing (5)
    assert stats["rounds"] == 4 and stats["converged"]


def test_star_forest_input_takes_no_round(spark):
    """Stars centred on their minimum id are already the fixed point: the
    entry check stops before any star round."""
    edges = [(1, 5), (7, 1), (2, 3), (10, 11), (10, 12), (13, 10)]
    stats: dict = {}
    got = _cc(spark, edges, stats)
    assert got == _union_find(edges)
    assert stats["rounds"] == 0 and stats["converged"]
    assert stats["entry_edges"] == stats["final_edges"] == 12


@pytest.mark.parametrize(
    "edges, rounds",
    [
        ([(i, i + 1) for i in range(15)], 4),
        ([(i + 1, i) for i in range(15)], 4),
        (_random_edges(11, 200, 190), 5),
    ],
    ids=["chain16", "chain16_reversed", "random200"],
)
def test_stops_on_the_round_that_forms_the_star_forest(spark, edges, rounds):
    """Labels equal union-find's, and the loop stops on the round that
    forms the star forest: one round fewer than waiting for a round that
    changes nothing (5, 5 and 6 rounds on these graphs)."""
    stats: dict = {}
    assert _cc(spark, edges, stats) == _union_find(edges)
    assert stats["rounds"] == rounds and stats["converged"]


@pytest.mark.parametrize(
    "edges",
    [
        [(1, 2), (1, 2), (1, 3)],  # a star, but 2 has degree 2
        [(1, 2), (2, 1), (2, 3), (3, 2), (3, 4), (1, 2)],  # a chain
    ],
    ids=["star", "chain"],
)
def test_duplicate_edges_under_distinct_promise(spark, edges):
    """A broken edges_distinct promise costs work, never labels: a
    duplicated edge makes its leaf look like degree 2, so the entry
    check does not stop on it."""
    stats: dict = {}
    got = _cc(spark, edges, stats, edges_distinct=True)
    assert got == _union_find(edges)
    assert stats["converged"]


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
