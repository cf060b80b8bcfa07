"""Distributed connected components: alternating large-star / small-star.

The clustering stage the reference explicitly lacks (its README stops short
of transitive closure). Implements the two-phase star algorithm (Kiveris et
al., "Connected Components in MapReduce and Beyond") as a driver loop of
DataFrame jobs: converges in O(log n) rounds; ``localCheckpoint`` after
every round truncates lineage so plans stay flat.

Plan shape (the 100 TB discipline): each star op is ONE window shuffle
(per-neighborhood min) plus ONE distinct — not a groupBy + re-join, which
costs an extra exchange of the full edge set per op. Re-symmetrization
between ops is a plain union of both edge orientations with NO distinct:
star outputs are already distinct and u != v, so the two orientations
cannot collide — only the INPUT edge list (caller-supplied, possibly
duplicated) pays a distinct. Net: 4 exchanges per round vs 9 in the naive
formulation — measured 2.3x faster end-to-end on the dedup pipeline's CC
stages, with the same output.

Stopping rule: the loop stops on the round that forms the STAR FOREST,
not one round later. A node is settled if it is a root (every neighbor is
larger: min(N(u)) > u) or a leaf (exactly one neighbor, and it is smaller).
If every node is settled, every edge (u < v) joins a root u to a leaf v
(v has a smaller neighbor so it is no root, hence a leaf whose only
neighbor is u; u has a larger neighbor so it is no leaf, hence a root):
each component is a star centred on its minimum id. On such a graph both
star ops reproduce their input — large-star maps every leaf to its centre
and emits nothing for the centre; small-star links each leaf to its only
(smaller) neighbor — so the next round is a no-op, and the labels
(min(N(u) ∪ {u})) are already final. Conversely, a round that changes
nothing leaves a star forest, so stopping here saves exactly the round
that would only confirm convergence. One job per check computes it: per
u, count(v) and min(v) (map-side combined), then one global row of
(edges, max degree, unsettled nodes). The same check runs at entry, so
an input that already is a star forest takes 0 rounds.

Skew note: a giant component concentrates its min-node's neighborhood into
one window partition (linear in component size, never quadratic). Mitigated
per round: the check job also measures the max neighborhood size, and any
round whose hottest neighborhood exceeds
``SKEW_DEGREE_CUTOFF`` switches its star ops to the two-phase-min
formulation (groupBy min — map-side partial aggregation splits the hot key
across input partitions, the physical partition acting as the salt — then a
join AQE can skew-split or broadcast). Small graphs keep the cheaper
one-window fast path.

Partition sizing: each round's shuffles run at a partition count matched to
the measured live edge count (``TARGET_ROWS_PER_PARTITION``), not the
session's ``spark.sql.shuffle.partitions`` — late rounds shrink toward a
handful of edges, and scheduling 64 near-empty tasks per exchange, x4
exchanges, x~10 rounds was pure driver overhead that DOUBLED final-CC time
going 8 -> 32 cores (AQE's parallelismFirst keeps >= defaultParallelism
partitions, so more cores meant more empty tasks).

Output: (id, cluster_id) where cluster_id = min node id of the component.
Every node appearing in the edge list gets a row (isolated nodes of the
corpus simply never appear — callers union them back with cluster_id = id
if desired).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Memory-bound, not wall-time-bound: a window partition buffers the hot
# neighborhood (~16B/row -> 5M rows ~ 80MB, safe inside an executor);
# beyond it the hot task OOMs/straggles on a real cluster. Locally the
# two-phase path measures ~2x slower at 500k members (one shared memory
# space has no straggler penalty, so its extra exchanges are pure cost —
# BENCH.md:356), which is why the cutoff stays high rather than 0.
SKEW_DEGREE_CUTOFF = 5_000_000
TARGET_ROWS_PER_PARTITION = 250_000


def _both_dirs(uv: DataFrame) -> DataFrame:
    """Both orientations of a distinct (u, v) edge list with u != v: a plain
    union — (u,v) and (v,u) cannot collide, so no distinct is needed."""
    return uv.unionByName(
        uv.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def _large_star(nbr: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u}).

    One window shuffle computes the per-neighborhood min alongside the
    rows that need it (no groupBy + join round trip)."""
    w = Window.partitionBy("u")
    m = F.least(F.min("v").over(w), F.col("u"))
    return (
        nbr.withColumn("m", m)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(nbr: DataFrame) -> DataFrame:
    """Connect every neighbor <= u (and u itself) to the minimum of that
    set. Same single-window shape as _large_star; the duplicate (u, m)
    self-links (one per input row) are collapsed by the output distinct."""
    le = nbr.filter(F.col("v") <= F.col("u"))
    w = Window.partitionBy("u")
    le = le.withColumn("m", F.min("v").over(w))  # v <= u, so m <= u already
    linked = le.select(F.col("v").alias("u"), F.col("m").alias("v"))
    self_links = le.select("u", F.col("m").alias("v"))
    return (
        linked.unionByName(self_links)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star_skew(nbr: DataFrame) -> DataFrame:
    """_large_star for rounds with a giant neighborhood: two-phase min.

    groupBy min is map-side partial-aggregated (each input partition emits
    one (u, partial_min) row — the physical partition is the salt), so the
    hot key never concentrates raw rows; the join back is one row per u on
    the build side, so AQE either broadcasts it or skew-splits the probe
    side. Same output as _large_star."""
    mins = nbr.groupBy("u").agg(F.min("v").alias("_mv"))
    joined = nbr.filter(F.col("v") > F.col("u")).join(mins, "u")
    return (
        joined.select(
            F.col("v").alias("u"),
            F.least(F.col("_mv"), F.col("u")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star_skew(nbr: DataFrame) -> DataFrame:
    """_small_star via two-phase min; self-links come one-per-u from the
    min table (not one-per-row as the window formulation needs), so the
    pre-distinct output is already near-minimal. Same output as
    _small_star."""
    le = nbr.filter(F.col("v") <= F.col("u"))
    mins = le.groupBy("u").agg(F.min("v").alias("_m"))
    linked = le.join(mins, "u").select(
        F.col("v").alias("u"), F.col("_m").alias("v")
    )
    self_links = mins.select("u", F.col("_m").alias("v"))
    return (
        linked.unionByName(self_links)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    stats: dict | None = None,
    edges_distinct: bool = False,
) -> DataFrame:
    """(id_a, id_b) edge list -> (id, cluster_id = component min id).

    ``max_iter`` caps the driver rounds. At the cap the output is still a
    SOUND partial clustering: every label is the min over a node's current
    neighborhood, and star rounds only ever connect nodes within one true
    component, so two nodes sharing a label are genuinely connected — the
    partition is just finer than full transitive closure (some components
    carry several labels). Callers that use the labels as a conservative
    "already connected" prune (the pipeline's cheap_cc) can therefore run
    capped: a finer partition only prunes LESS. Callers needing exact
    components must leave the cap at its generous default.

    ``stats`` (optional dict) is populated with {'rounds': driver rounds
    run, 'converged': bool, 'entry_edges': symmetrized edge count at entry,
    'final_edges': edge count at exit} — the per-round cost diagnostic for
    large runs.

    ``edges_distinct=True`` promises the caller's (id_a, id_b) list is
    already one row per undirected pair (the pipeline's pair tables are,
    by construction) and skips the entry distinct — one exchange of the
    full edge list saved. Correctness does not depend on the promise
    (every star round distincts its output, and a duplicated leaf edge
    counts as degree 2, so it is never taken as settled); a duplicated
    input would only inflate round-1 work and the entry_edges stat.

    Round materialization rides the star-forest check (module docstring):
    each round ends in a LAZY localCheckpoint — the logical plan truncates
    immediately (a star op references its input plan twice, so without
    truncation the plan tree grows exponentially with rounds), and the
    check aggregation is the first consumer, so ONE job both materializes
    the round and decides convergence. The same job measures edge count
    (-> next round's shuffle-partition count) and max neighborhood size
    (-> next round's star implementation, window fast path vs two-phase-
    min skew path above ``SKEW_DEGREE_CUTOFF``).

    ``spark.sql.shuffle.partitions`` is temporarily overridden per round
    and restored on exit; CC is a serial stage in the pipeline, so no
    concurrently-planned job observes the override.

    One star round per materialization + check: fusing two rounds per
    check measured 4.5x slower on the pipeline's CC stages (the
    un-truncated second round recomputes the first round's stars at every
    self-reference).
    """
    spark = edges.sparkSession
    uv = edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))

    def _check(nbr: DataFrame) -> tuple[int, int, int]:
        """ONE job over the symmetrized edge set: (edges, max degree,
        unsettled nodes). Zero unsettled nodes means a star forest."""
        c, m = F.col("_c"), F.col("_m")
        settled = (m > F.col("u")) | ((c == 1) & (m < F.col("u")))
        row = (
            nbr.groupBy("u")
            .agg(F.count(F.lit(1)).alias("_c"), F.min("v").alias("_m"))
            .agg(
                F.sum(c).alias("n"),
                F.max(c).alias("d"),
                F.count(F.when(~settled, 1)).alias("open"),
            )
            .collect()[0]
        )
        return row["n"] or 0, row["d"] or 0, row["open"]

    def _round_partitions(n_edges: int) -> int:
        cores = spark.sparkContext.defaultParallelism
        need = -(-max(1, n_edges) // TARGET_ROWS_PER_PARTITION)  # ceil
        return max(min(8, cores), min(need, saved_parts))

    saved_conf = spark.conf.get("spark.sql.shuffle.partitions")
    saved_parts = int(saved_conf)
    try:
        # caller input may contain duplicates -> one distinct at entry
        # (skipped under the edges_distinct promise); every later
        # symmetrization is a free union of a distinct star output
        uv = uv.filter(F.col("u") != F.col("v"))
        if not edges_distinct:
            uv = uv.distinct()
        nbr = _both_dirs(uv).localCheckpoint(eager=False)
        n_edges, max_deg, unsettled = _check(nbr)  # materializes nbr
        if stats is not None:
            stats["entry_edges"] = n_edges
            stats["final_edges"] = n_edges
            stats["rounds"] = 0
            stats["converged"] = unsettled == 0
        for _ in range(max_iter if unsettled else 0):
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(_round_partitions(n_edges))
            )
            large = _large_star_skew if max_deg > SKEW_DEGREE_CUTOFF else _large_star
            small = _small_star_skew if max_deg > SKEW_DEGREE_CUTOFF else _small_star
            nbr = _both_dirs(small(_both_dirs(large(nbr))))
            nbr = nbr.localCheckpoint(eager=False)
            n_edges, max_deg, unsettled = _check(nbr)  # materializes the round
            if stats is not None:
                stats["rounds"] += 1
                stats["final_edges"] = n_edges
                stats["converged"] = unsettled == 0
            if not unsettled:
                break
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved_conf)

    # at convergence every edge points node -> component min. nbr is
    # SYMMETRIZED (_both_dirs after every round, and at entry), so every
    # node of the edge set — including every component root — appears as u
    # and gets exactly one comp row from the groupBy; and cluster_id =
    # least(u, min(v)) <= u means a root's own row is already (root, root).
    # The previous roots-distinct + union + re-groupBy therefore added no
    # rows and changed no labels — two exchanges of pure redundancy,
    # removed (guide §2.4); output is identical (oracled by doc_clusters
    # and pinned by tests/test_cc.py in both converged and capped modes).
    return nbr.groupBy("u").agg(F.min("v").alias("cluster_id")).select(
        F.col("u").alias("id"),
        F.least(F.col("u"), F.col("cluster_id")).alias("cluster_id"),
    )
