"""operators/traversal: reachable against a Python BFS and its Spark
job counts; pagerank vs a dense numpy power iteration, and
quantized-run stability."""

from __future__ import annotations

import random
from collections import deque

import pandas as pd
import pytest

from resotodatalink_spark.operators.search import execute_search
from resotodatalink_spark.operators.traversal import pagerank, reachable
from resotodatalink_spark.sources.graph import GraphSource
from tests.fixtures import example_docs, example_model

def test_pagerank_matches_numpy_power_iteration(spark):
    """3 fixed iterations on a small digraph vs the dense numpy
    computation of the same update rule."""
    import numpy as np

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c")]
    df = spark.createDataFrame(edges, "src: string, dst: string")
    got = {
        r.node_id: r.rank for r in pagerank(df, iterations=3, damping=0.85).collect()
    }

    nodes = sorted({x for e in edges for x in e})
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    for s, _ in edges:
        out[idx[s]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(3):
        nxt = np.full(n, 0.15 / n)
        for s, d in edges:
            nxt[idx[d]] += 0.85 * r[idx[s]] / out[idx[s]]
        r = nxt
    for v in nodes:
        assert abs(got[v] - r[idx[v]]) < 1e-9, (v, got[v], r[idx[v]])


def test_pagerank_quantize_is_stable(spark):
    """quantize floors every intermediate onto a fixed grid: two runs
    produce bit-identical ranks."""
    edges = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")]
    df = spark.createDataFrame(edges, "src: string, dst: string")
    r1 = {r.node_id: r.rank for r in pagerank(df, 3, quantize=1e12).collect()}
    r2 = {r.node_id: r.rank for r in pagerank(df, 3, quantize=1e12).collect()}
    assert r1 == r2
    assert abs(sum(r1.values()) - 1.0) < 1e-6  # ranks stay a distribution


# --- reachable: min-depth BFS -------------------------------------------

# Spark jobs one depth-2 search (``is(some_instance) -[1:2]->`` over
# the example graph) runs, collect included: the shuffle and broadcast
# stages of one lazy plan.  The per-hop BFS, with an eager edge
# checkpoint and a checkpoint plus an emptiness probe after each hop,
# ran 13.
JOBS_PER_DEPTH2_SEARCH = 8


def _bfs(edges, starts, min_depth, max_depth):
    """(node, shortest distance) for nodes within min..max hops of the
    starts, the starts themselves excluded."""
    succ = {}
    for s, d in edges:
        succ.setdefault(s, []).append(d)
    dist = {s: 0 for s in starts}
    queue = deque(starts)
    while queue:
        n = queue.popleft()
        if dist[n] == max_depth:
            continue
        for m in succ.get(n, []):
            if m not in dist:
                dist[m] = dist[n] + 1
                queue.append(m)
    return {(n, d) for n, d in dist.items() if min_depth <= d}


def _frames(spark, edges, starts):
    """Edge and start frames over local rows (no Python worker per
    scan, so the many small traversals below stay quick)."""
    e = spark.createDataFrame(
        pd.DataFrame(edges, columns=["src", "dst"]), "src: string, dst: string"
    )
    s = spark.createDataFrame(
        pd.DataFrame({"node_id": starts}, dtype=object), "node_id: string"
    )
    return e, s


def _reach(spark, edges, starts, min_depth, max_depth):
    e, s = _frames(spark, edges, starts)
    out = reachable(e, s, max_depth=max_depth, min_depth=min_depth)
    assert out.dtypes == [("node_id", "string"), ("depth", "int")]
    return {(r.node_id, r.depth) for r in out.collect()}


# one graph, one feature per component: a 4-cycle with a tail, a
# self-loop, a diamond with duplicate edges, a start another start
# reaches, and an 8-hop chain that crosses both chunk boundaries
_GRAPH = (
    [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("c", "t")]
    + [("s", "s"), ("s", "u")]
    + [("p", "q"), ("p", "r"), ("q", "x"), ("r", "x"), ("q", "x"), ("x", "y")]
    + [("m", "n"), ("n", "o"), ("n", "m")]
    + [(f"k{i}", f"k{i + 1}") for i in range(8)]
)
_STARTS = ["a", "s", "p", "p", "m", "n", "k0", "zz"]
# nothing is 3 hops out: the search ends at the first chunk boundary
_SHALLOW_STARTS = ["s", "m", "m"]


@pytest.mark.parametrize("max_depth", range(8))
def test_reachable_matches_python_bfs(spark, max_depth):
    """Exact (node_id, depth) rows against a Python BFS for every
    min_depth 1-3 and max_depth 0-7 (the chunk boundaries sit at 3 and
    6); duplicate start rows and a start with no edges are allowed."""
    for starts in (_STARTS, _SHALLOW_STARTS):
        for min_depth in (1, 2, 3):
            want = _bfs(_GRAPH, starts, min_depth, max_depth)
            assert _reach(spark, _GRAPH, starts, min_depth, max_depth) == want


def test_reachable_random_graphs_match_python_bfs(spark):
    """Seeded random digraphs, dense enough for cycles, self-loops and
    duplicate edges, against the Python BFS."""
    for seed in range(3):
        rng = random.Random(seed)
        nodes = [f"v{i}" for i in range(12)]
        edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(16)]
        starts = rng.sample(nodes, 2)
        for min_depth, max_depth in [(1, 2), (2, 4), (1, 7)]:
            want = _bfs(edges, starts, min_depth, max_depth)
            assert _reach(spark, edges, starts, min_depth, max_depth) == want, seed


def test_reachable_empty_starts_and_types(spark):
    """No starts, no rows, across a chunk boundary too; node_id keeps
    its input type and depth is int."""
    for max_depth in (0, 2, 7):
        assert _reach(spark, _GRAPH, [], 1, max_depth) == set()
    e = spark.createDataFrame([(1, 2), (2, 3)], "src: bigint, dst: bigint")
    s = spark.createDataFrame([(1,)], "node_id: bigint")
    for max_depth in (0, 2):
        out = reachable(e, s, max_depth=max_depth)
        assert out.dtypes == [("node_id", "bigint"), ("depth", "int")]


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setJobGroup("tests", "tests")
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_bounded_range_runs_no_job_before_the_action(spark):
    """A range of up to three hops is one lazy plan: building it starts
    no Spark job; the caller's action runs it."""
    e, s = _frames(spark, _GRAPH, _STARTS)
    for max_depth in (1, 2, 3):
        out, jobs = _jobs(
            spark, f"reachable-plan-{max_depth}",
            lambda: reachable(e, s, max_depth=max_depth),
        )
        assert jobs == 0, (max_depth, jobs)
        assert out.count() == len(_bfs(_GRAPH, _STARTS, 1, max_depth))


def test_depth2_search_job_count(spark):
    """A depth-2 search runs a pinned number of Spark jobs, collect
    included."""
    src, model = GraphSource.from_docs(spark, example_docs()), example_model()
    rows, jobs = _jobs(
        spark, "depth2-search",
        lambda: execute_search(src, model, "is(some_instance) -[1:2]->").collect(),
    )
    assert {r["id"] for r in rows} == {"v-123"}
    assert jobs <= JOBS_PER_DEPTH2_SEARCH, f"{jobs} Spark jobs for one search"
