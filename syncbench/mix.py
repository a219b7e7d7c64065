"""The query_mix workload's queries and their oracles.

SQL runs on Spark through ``operators.sql.execute_sql`` with named bind
variables and is checked against DuckDB running the same statement over
the same parquet files.  Searches run through
``operators.search.execute_search`` and are checked against a Python
evaluation (filters and a breadth-first search) over the generator's
graph.
"""

from __future__ import annotations

import random
import re
from collections.abc import Callable
from dataclasses import dataclass

import gen

INSTANCE_VOLUME = gen.link_table_name("bench_instance", "bench_volume")
VOLUME_SNAPSHOT = gen.link_table_name("bench_volume", "bench_snapshot")
SPOT_VOLUME = gen.link_table_name("bench_spot_instance", "bench_volume")

# name -> (statement with :bind variables, bind generator)
SQL_TEMPLATES: dict[str, tuple[str, Callable[[gen.GraphState, random.Random], dict]]] = {
    "point_instance": (
        "SELECT _id, name, cores, memory, instance_status, region, zone FROM bench_instance WHERE _id = :id",
        lambda s, r: {"id": r.choice(s.of_kind("bench_instance"))},
    ),
    "point_volume": (
        "SELECT _id, size_gb, volume_type, encrypted, zone FROM bench_volume WHERE _id = :id",
        lambda s, r: {"id": r.choice(s.of_kind("bench_volume"))},
    ),
    "region_volumes": (
        "SELECT region, count(*) AS n, sum(size_gb) AS gb FROM bench_volume WHERE volume_type = :vt GROUP BY region",
        lambda s, r: {"vt": r.choice(["gp2", "gp3", "io1", "st1"])},
    ),
    "instance_volumes": (
        f"SELECT i._id, count(*) AS vols, sum(v.size_gb) AS gb FROM bench_instance i "
        f"JOIN {INSTANCE_VOLUME} l ON l.from_id = i._id JOIN bench_volume v ON v._id = l.to_id "
        f"WHERE i.cores >= :cores GROUP BY i._id",
        lambda s, r: {"cores": 16},
    ),
    "top_snapshots": (
        "SELECT _id, size_gb FROM bench_snapshot WHERE region = :region ORDER BY size_gb DESC, _id LIMIT 10",
        lambda s, r: {"region": r.choice(s.scopes["region"])["region"]},
    ),
    "snapshots_by_status": (
        f"SELECT i.region, count(DISTINCT sn._id) AS snaps FROM bench_instance i "
        f"JOIN {INSTANCE_VOLUME} l1 ON l1.from_id = i._id JOIN {VOLUME_SNAPSHOT} l2 ON l2.from_id = l1.to_id "
        f"JOIN bench_snapshot sn ON sn._id = l2.to_id WHERE i.instance_status = :status GROUP BY i.region",
        lambda s, r: {"status": r.choice(gen.STATUSES)},
    ),
    "spot_volumes": (
        f"SELECT p.instance_status, count(*) AS vols, sum(v.size_gb) AS gb FROM bench_spot_instance p "
        f"JOIN {SPOT_VOLUME} l ON l.from_id = p._id JOIN bench_volume v ON v._id = l.to_id "
        f"WHERE v.encrypted = :enc GROUP BY p.instance_status",
        lambda s, r: {"enc": r.random() < 0.5},
    ),
}
# instances of each template in one pass of the mix
SQL_MIX = {
    "point_instance": 2,
    "point_volume": 2,
    "region_volumes": 2,
    "instance_volumes": 2,
    "top_snapshots": 2,
    "snapshots_by_status": 2,
    "spot_volumes": 1,
}


def duckdb_sql(sql: str) -> str:
    """Spark's ``:name`` bind markers in DuckDB's ``$name`` form."""
    return re.sub(r":(\w+)", r"$\1", sql)


def _matching_kinds(base: str) -> set[str]:
    bases = gen.kind_bases()

    def derives(k: str) -> bool:
        return k == base or any(derives(b) for b in bases.get(k, []))

    return {k for k in bases if derives(k)}


def _reach(state: gen.GraphState, starts: set[str], lo: int, hi: int, inbound: bool) -> set[str]:
    """Nodes whose shortest distance from ``starts`` is within lo..hi;
    the starts themselves are never part of the answer."""
    adj = state.inc if inbound else state.out
    seen = set(starts)
    frontier = set(starts)
    found: set[str] = set()
    for depth in range(1, hi + 1):
        nxt = {b for a in frontier for b in adj[a] if b not in seen}
        seen |= nxt
        if depth >= lo:
            found |= nxt
        frontier = nxt
    return found


@dataclass
class Search:
    name: str
    text: str
    oracle: Callable[[gen.GraphState], list[tuple]]
    ids_only: bool = True  # compare the id column of node results


def _nodes(state: gen.GraphState, base: str, pred: Callable[[dict], bool]) -> set[str]:
    kinds = _matching_kinds(base)
    return {n for n, d in state.nodes.items() if d["reported"]["kind"] in kinds and pred(d["reported"])}


def searches() -> list[Search]:
    """Fixed thresholds: how much a search reads and returns must not
    depend on the seed."""
    cores, memory, size = 16, 131072, 500

    def agg(s: gen.GraphState) -> list[tuple]:
        groups: dict[str, list] = {}
        for n in _nodes(s, "bench_volume", lambda r: True):
            rep = s.nodes[n]["reported"]
            g = groups.setdefault(rep["volume_type"], [0, 0.0])
            g[0] += 1
            g[1] += float(rep["size_gb"])
        return [(k, n, gb) for k, (n, gb) in groups.items()]

    return [
        Search(
            "compute_filter",
            f"is(bench_compute) and cores >= {cores}",
            lambda s: [(n,) for n in _nodes(s, "bench_compute", lambda r: r.get("cores", 0) >= cores)],
        ),
        Search(
            "compute_reach",
            f"is(bench_compute) and memory >= {memory} -[1:2]->",
            lambda s: [(n,) for n in _reach(s, _nodes(s, "bench_compute", lambda r: r["memory"] >= memory), 1, 2, False)],
        ),
        Search(
            "snapshot_origins",
            f"is(bench_snapshot) and size_gb >= {size} <-[1:2]-",
            lambda s: [(n,) for n in _reach(s, _nodes(s, "bench_snapshot", lambda r: r["size_gb"] >= size), 1, 2, True)],
        ),
        Search(
            "instances_with_big_volume",
            f"is(bench_instance) with(any, --> is(bench_volume) and size_gb >= {size})",
            lambda s: [
                (n,)
                for n in _nodes(s, "bench_instance", lambda r: True)
                if any(s.kind(b) == "bench_volume" and s.nodes[b]["reported"]["size_gb"] >= size for b in s.out[n])
            ],
        ),
        Search(
            "volume_types",
            "aggregate(volume_type: count as n, sum(size_gb) as gb): is(bench_volume)",
            agg,
            ids_only=False,
        ),
    ]


@dataclass
class Query:
    name: str
    kind: str  # "sql" | "search"
    sql: str = ""
    binds: dict | None = None
    search: Search | None = None


def build_mix(state: gen.GraphState, seed: int) -> list[Query]:
    """One pass of the mix: every query of the fixed mix once, binds and
    order drawn from the seed."""
    rng = random.Random(seed * 7919 + 17)
    qs: list[Query] = []
    for name, count in SQL_MIX.items():
        sql, binds = SQL_TEMPLATES[name]
        for _ in range(count):
            qs.append(Query(name, "sql", sql=sql, binds=binds(state, rng)))
    qs += [Query(s.name, "search", search=s) for s in searches()]
    rng.shuffle(qs)
    return qs
