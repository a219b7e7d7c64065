"""Graph reachability via iterative joins (BFS over an edge DataFrame).

The reference delegates graph search (e.g. ``is(graph_root) -[2:]->``)
to the resotocore server (reference remote_graph.py:30-32, 62-63); we
implement the traversal natively as iterative equi-joins over the edge
table — the link tables produced by our ETL are exactly this shape
(``link_<a>_<b>(from_id, to_id)``, reference sql.py:190-201).

Scale notes: each hop is one join keyed on the node id.  Hops run in
lazy chunks of ``CHUNK_HOPS``: inside a chunk the plan only grows (no
Spark job), so a range of up to ``CHUNK_HOPS`` hops is ONE plan that
runs with the caller's action.  Only at a chunk boundary with hops
still after it are the nodes found so far reduced to their least
depth and localCheckpointed (lineage stays flat on deep ranges); the
next frontier is the boundary level's new nodes (the BFS prune, so
cycles terminate), and an emptiness probe on it ends the search early.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Hops per lazy chunk.  At small sizes a traversal's cost is its fixed
# per-job overhead, not its data: every checkpoint and emptiness probe
# is a Spark job, and each hop's shuffle stages are more.  Three keeps
# the search DSL's depth-2 ranges and graph_shortest_paths' depth 3
# fully lazy, while a deep or open-ended range (``-[a:]->`` runs to
# ``a+8``) still prunes and exits early every three hops.
CHUNK_HOPS = 3


def reachable(
    edges: DataFrame,
    start_nodes: DataFrame,
    max_depth: int,
    min_depth: int = 1,
) -> DataFrame:
    """Min-depth BFS over ``edges`` (``src``, ``dst``) from
    ``start_nodes`` (``node_id``): (node_id, depth) for nodes first
    reached within min_depth..max_depth hops (start nodes excluded).
    ``min_depth=2`` reproduces the reference's default search
    ``is(graph_root) -[2:]->`` (remote_graph.py:30-32): nodes whose
    SHORTEST distance from the roots is at least 2.

    Hop ``d`` keeps the distinct ends of all ``d``-edge walks; a node's
    least walk length is its shortest distance, so ``min(depth)`` over
    the levels is the BFS level.  Within a chunk of ``CHUNK_HOPS`` hops
    nothing runs.  At a boundary before ``max_depth`` one checkpoint
    holds every node found so far at its least depth; its nodes at the
    boundary depth are the next frontier, and when there are none the
    search ends on that checkpoint.  ``node_id`` keeps its input type;
    ``depth`` is int."""
    starts = start_nodes.select("node_id").distinct()
    if max_depth < 1:
        return starts.withColumn("depth", F.lit(0).cast("int")).limit(0)

    def least_depth(levels: list[DataFrame]) -> DataFrame:
        return (
            reduce(DataFrame.unionByName, levels)
            .groupBy("node_id")
            .agg(F.min("depth").alias("depth"))
            .join(starts, "node_id", "left_anti")
        )

    walk = starts
    levels: list[DataFrame] = []
    for depth in range(1, max_depth + 1):
        walk = (
            edges.join(walk.withColumnRenamed("node_id", "src"), "src")
            .select(F.col("dst").alias("node_id"))
            .distinct()
        )
        levels.append(walk.withColumn("depth", F.lit(depth).cast("int")))
        if depth % CHUNK_HOPS == 0 and depth < max_depth:
            found = least_depth(levels).localCheckpoint(eager=True)
            walk = found.filter(F.col("depth") == depth).select("node_id")
            if walk.isEmpty():
                return found.filter(F.col("depth") >= min_depth)
            levels = [found]
    return least_depth(levels).filter(F.col("depth") >= min_depth)


def pagerank(
    edges: DataFrame,
    iterations: int,
    damping: float = 0.85,
    quantize: float | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over an edge DataFrame (``src``,
    ``dst``): (node_id, rank) after ``iterations`` synchronous updates
    from a uniform start, ``rank = (1-d)/n + d * sum(rank_in/outdeg_in)``.

    Scale shape: ONE equi-join + one aggregation per iteration, both
    keyed on the node id; the out-degree table is computed once; each
    iteration localCheckpoints so the logical plan stays flat (the
    same lineage rule as connected_components).  Dangling nodes
    (no out-links) keep contributing nothing — the slug's graphs have
    none; a redistribution term would be one extra scalar per round.
    n is one O(1) driver scalar (bounded-collect pattern).

    ``quantize`` (e.g. 1e12) floors each iteration's ranks onto a
    fixed-point grid: contribution sums are order-dependent at the
    ulp level, and over multiple iterations that noise can cross an
    egress rounding boundary — quantizing per round pins every
    intermediate to a value ANY engine reproduces exactly (the DuckDB
    oracle applies the same floor), while perturbing ranks by at most
    1/quantize per round."""
    nodes = (
        edges.select(F.col("src").alias("node_id"))
        .unionByName(edges.select(F.col("dst").alias("node_id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    e = edges.join(outdeg, "src").select(
        F.col("src").alias("e_src"), F.col("dst").alias("e_dst"), "outdeg"
    ).localCheckpoint(eager=True)
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for _ in range(iterations):
        contrib = (
            e.join(ranks.withColumnRenamed("node_id", "e_src"), "e_src")
            .groupBy("e_dst")
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("c"))
        )
        new_rank = F.lit(base) + F.lit(damping) * F.coalesce(
            F.col("c"), F.lit(0.0)
        )
        if quantize is not None:
            new_rank = F.floor(new_rank * F.lit(quantize)) / F.lit(quantize)
        ranks = (
            nodes.join(contrib.withColumnRenamed("e_dst", "node_id"), "node_id", "left")
            .select("node_id", new_rank.alias("rank"))
            .localCheckpoint(eager=True)
        )
    return ranks
