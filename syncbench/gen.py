"""Seeded generator of cloud-shaped resource graphs and their delta stream.

The kind model is fixed; the seed drives everything below it: which
nodes exist, their property values, the edges between them and every
delta generation.  The same seed and size give byte-identical NDJSON.

Shape (what the sync path's cost depends on):

* a carz hierarchy cloud -> account -> region -> zone: every resource
  carries its cloud/account/region/zone ancestors, and only zonal kinds
  have a zone, so some carz columns are NULL;
* resource kinds with multi-level ``bases`` (``bench_instance`` ->
  ``bench_compute`` -> ``resource``), where ``bench_compute`` is a
  non-table base kind, and ``dictionary``/array/``datetime``/enum
  (``runtime_kind``) properties, plus a synthetic property and a
  ``kind`` property that the sync must drop;
* Zipf-sized kinds: the rank-r kind holds about 1/r of the largest;
* edges only along each kind's ``successor_kinds``, so there is one link
  table per successor pair, not one per pair of kinds.

The model is small on purpose: the sync path runs a fixed number of
Spark jobs per table, so the table count more than the row count sets
how long one sync takes.

A delta (``GraphState.make_delta``) changes about 0.5% of the nodes,
concentrated in a few hot kinds, and ships each changed node with its
full outbound edge set.  It also carries tombstones, new nodes and kind
changes; the predecessors of a node whose kind changed or that is new
are re-shipped too, because a predecessor owns the link rows that
point at it (the contract of ``operators/incremental.py``).
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import random
from collections.abc import Iterable, Iterator

CARZ = ("cloud", "account", "region", "zone")
EPOCH = 1_700_000_000  # fixed, so ctime values never depend on the clock
NODE_INDEX = "_node_index"

# (fqn, bases, own properties, scope) in Zipf rank order; scope is the
# deepest carz level a node of the kind hangs under.
LEAF_KINDS: list[tuple[str, list[str], list[tuple[str, str]], str]] = [
    ("bench_volume", ["resource"], [("size_gb", "int32"), ("volume_type", "string"), ("encrypted", "boolean")], "zone"),
    ("bench_instance", ["bench_compute"], [("instance_status", "bench_instance_status"), ("ips", "string[]")], "zone"),
    ("bench_snapshot", ["resource"], [("size_gb", "int32"), ("progress", "double")], "region"),
    ("bench_spot_instance", ["bench_compute"], [("instance_status", "bench_instance_status"), ("ips", "string[]")], "zone"),
]
SCOPE = {k[0]: k[3] for k in LEAF_KINDS}

# Edges (from kind, to kind, probability that a to-node gets one
# predecessor of the from kind in its region).  They define the model's
# successor_kinds.
EDGE_KINDS: list[tuple[str, str, float]] = [
    ("bench_instance", "bench_volume", 0.6),
    ("bench_spot_instance", "bench_volume", 0.3),
    ("bench_volume", "bench_snapshot", 0.8),
]

# Kinds a node may switch between in a delta.  Both have the same
# predecessor and successor kinds, so every edge stays on a model pair.
KIND_SWAP = {"bench_instance": "bench_spot_instance", "bench_spot_instance": "bench_instance"}
STATUSES = ["running", "stopped", "terminated", "pending"]


def successors() -> dict[str, list[str]]:
    succ: dict[str, list[str]] = {}
    for a, b, _ in EDGE_KINDS:
        succ.setdefault(a, []).append(b)
    return succ


def model_json() -> list[dict]:
    """The kind model in the exported-model JSON shape ``Model.from_json``
    reads."""
    kinds: list[dict] = [
        {"fqn": s} for s in ("string", "int32", "int64", "double", "boolean", "datetime")
    ]
    kinds.append({"fqn": "bench_instance_status", "runtime_kind": "string"})
    kinds.append(
        {
            "fqn": "resource",
            "aggregate_root": True,
            "bases": [],
            "properties": [
                {"name": "id", "kind": "string"},
                {"name": "name", "kind": "string"},
                {"name": "tags", "kind": "dictionary[string, string]"},
                {"name": "ctime", "kind": "datetime"},
                {"name": "age", "kind": "int64", "synthetic": {"path": ["ctime"]}},
                {"name": "kind", "kind": "string"},
            ],
        }
    )
    kinds.append(
        {
            "fqn": "bench_compute",
            "aggregate_root": False,
            "bases": ["resource"],
            "properties": [{"name": "cores", "kind": "int32"}, {"name": "memory", "kind": "int64"}],
        }
    )
    succ = successors()
    for fqn, bases, props, _ in LEAF_KINDS:
        entry: dict = {
            "fqn": fqn,
            "aggregate_root": True,
            "bases": bases,
            "properties": [{"name": n, "kind": k} for n, k in props],
        }
        if fqn in succ:
            entry["successor_kinds"] = {"default": succ[fqn]}
        kinds.append(entry)
    return kinds


def table_kinds() -> list[str]:
    return sorted(k[0] for k in LEAF_KINDS)


def kind_bases() -> dict[str, list[str]]:
    return {k["fqn"]: list(k.get("bases") or []) for k in model_json()}


def link_table_name(from_kind: str, to_kind: str) -> str:
    """Same naming as ``model.kinds.get_link_table_name``; kept here so
    the generator and the checks need no Spark."""
    return f"link_{from_kind[:25]}_{to_kind[:25]}"


def _iso(ts: int) -> str:
    return dt.datetime.fromtimestamp(ts, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def _ip(r: random.Random) -> str:
    return f"10.{r.randrange(256)}.{r.randrange(256)}.{r.randrange(1, 255)}"


class GraphState:
    """The generator's graph: node docs by id plus outbound and inbound
    adjacency.  It is both the source of the NDJSON inputs and the
    oracle the correctness checks compare against."""

    def __init__(self, seed: int, n_resources: int):
        self.rng = random.Random(seed)
        self.nodes: dict[str, dict] = {}
        self.out: dict[str, list[str]] = {}
        self.inc: dict[str, list[str]] = {}
        self.carz: dict[str, dict[str, str]] = {}
        self.by_kind_region: dict[tuple[str, str], list[str]] = {}
        self._seq = 0
        self.generation = 0
        self._build(n_resources)

    # -- construction ------------------------------------------------------

    def _props(self, kind: str) -> dict:
        r = self.rng
        p: dict = {
            "name": f"{kind[6:]}-{r.randrange(10**6):06d}",
            "tags": {f"t{j}": f"v{r.randrange(50)}" for j in range(r.randrange(3))},
            "ctime": _iso(EPOCH - r.randrange(400 * 86400)),
        }
        if kind in KIND_SWAP:
            p["cores"] = r.choice([1, 2, 4, 8, 16, 32])
            p["memory"] = p["cores"] * r.choice([2, 4, 8]) * 1024
            p["instance_status"] = r.choice(STATUSES)
            p["ips"] = [_ip(r) for _ in range(r.randrange(1, 3))]
        elif kind in ("bench_volume", "bench_snapshot"):
            p["size_gb"] = r.choice([8, 20, 50, 100, 500, 1000])
            if kind == "bench_volume":
                p["volume_type"] = r.choice(["gp2", "gp3", "io1", "st1"])
                p["encrypted"] = r.random() < 0.5
            else:
                p["progress"] = round(r.random(), 3)
        return p

    def _add_node(self, kind: str) -> str:
        self._seq += 1
        nid = f"{kind[6:]}-{self._seq:06d}"
        carz = dict(self.rng.choice(self.scopes[SCOPE[kind]]))
        reported = {"kind": kind, "id": nid, **self._props(kind)}
        ancestors = {c: {"reported": {"id": carz[c]}} for c in CARZ if c in carz}
        self.nodes[nid] = {"type": "node", "id": nid, "reported": reported, "ancestors": ancestors}
        self.carz[nid] = carz
        self.by_kind_region.setdefault((kind, carz["region"]), []).append(nid)
        self.out[nid] = []
        self.inc[nid] = []
        return nid

    def _add_edge(self, a: str, b: str) -> None:
        if b not in self.out[a]:
            self.out[a].append(b)
            self.inc[b].append(a)

    def _remove_edge(self, a: str, b: str) -> None:
        self.out[a].remove(b)
        self.inc[b].remove(a)

    def _link_predecessors(self, nid: str) -> None:
        """Give ``nid`` its predecessors along the model's edge kinds."""
        kind = self.kind(nid)
        for a, b, p in EDGE_KINDS:
            if b == kind and self.rng.random() < p:
                cands = self.in_region(a, self.carz[nid]["region"])
                if cands:
                    self._add_edge(self.rng.choice(cands), nid)

    def _build(self, n_resources: int) -> None:
        r = self.rng
        self.scopes: dict[str, list[dict[str, str]]] = {"region": [], "zone": []}
        cloud = "cloud-1"
        for a in range(2):
            acc = f"account-{a + 1}"
            for g in range(3):
                reg = f"region-{a + 1}{g + 1}"
                carz = {"cloud": cloud, "account": acc, "region": reg}
                self.scopes["region"].append(carz)
                for z in range(r.randrange(2, 4)):
                    self.scopes["zone"].append({**carz, "zone": f"{reg}{'abc'[z]}"})
        weights = [1.0 / rank for rank in range(1, len(LEAF_KINDS) + 1)]
        total = sum(weights)
        for (fqn, _, _, _), w in zip(LEAF_KINDS, weights):
            for _ in range(max(2, round(n_resources * w / total))):
                self._add_node(fqn)
        for nid in list(self.nodes):
            self._link_predecessors(nid)

    # -- queries over the state -------------------------------------------

    def kind(self, nid: str) -> str:
        return self.nodes[nid]["reported"]["kind"]

    def of_kind(self, kind: str) -> list[str]:
        return [n for n, d in self.nodes.items() if d["reported"]["kind"] == kind]

    def in_region(self, kind: str, region: str) -> list[str]:
        return self.by_kind_region.get((kind, region), [])

    def docs(self) -> Iterator[dict]:
        yield from self.nodes.values()
        for a, targets in self.out.items():
            for b in targets:
                yield {"type": "edge", "from": a, "to": b, "edge_type": "default"}

    def table_counts(self) -> dict[str, int]:
        """Expected row count of every table a full sync publishes for
        this state: every table kind (empty or not), every link pair that
        has edges, and the node index."""
        counts = {k: 0 for k in table_kinds()}
        for d in self.nodes.values():
            counts[d["reported"]["kind"]] += 1
        for a, targets in self.out.items():
            for b in targets:
                name = link_table_name(self.kind(a), self.kind(b))
                counts[name] = counts.get(name, 0) + 1
        counts[NODE_INDEX] = len(self.nodes)
        return counts

    # -- deltas ------------------------------------------------------------

    def make_delta(self, change_share: float = 0.005) -> tuple[list[dict], int]:
        """Advance the state by one generation.  Returns the delta docs
        (tombstones first, then each changed node followed by its full
        outbound edge set) and the number of changed plus deleted nodes."""
        r = self.rng
        # The hot pair rotates with the generation, not the seed, so the
        # set of tables a generation touches (its cost) is the same for
        # every seed; the seed picks the nodes.
        pairs = list(itertools.combinations([k[0] for k in LEAF_KINDS], 2))
        hot = list(pairs[self.generation % len(pairs)])
        self.generation += 1
        target = max(4, round(len(self.nodes) * change_share))
        changed: set[str] = set()
        pool = [n for k in hot for n in self.of_kind(k)]
        r.shuffle(pool)
        # tombstones: the node goes with every edge touching it
        deleted = pool[: max(1, target // 10)]
        for nid in deleted:
            for b in list(self.out[nid]):
                self._remove_edge(nid, b)
            for a in list(self.inc[nid]):
                self._remove_edge(a, nid)
            self.by_kind_region[(self.kind(nid), self.carz[nid]["region"])].remove(nid)
            del self.nodes[nid], self.out[nid], self.inc[nid], self.carz[nid]
        # kind changes re-ship the node and all its predecessors
        swappable = [n for n, d in self.nodes.items() if d["reported"]["kind"] in KIND_SWAP]
        for nid in r.sample(swappable, 2):
            rep = self.nodes[nid]["reported"]
            region = self.carz[nid]["region"]
            self.by_kind_region[(rep["kind"], region)].remove(nid)
            rep["kind"] = KIND_SWAP[rep["kind"]]
            self.by_kind_region.setdefault((rep["kind"], region), []).append(nid)
            changed.add(nid)
            changed.update(self.inc[nid])
        # one new node per hot kind, its predecessors re-shipped
        for kind in hot:
            nid = self._add_node(kind)
            self._link_predecessors(nid)
            changed.add(nid)
            changed.update(self.inc[nid])
        # property updates, some of which re-wire an outbound edge
        succ = successors()
        for nid in pool[len(deleted):][: max(1, target - len(changed))]:
            rep = self.nodes[nid]["reported"]
            rep["name"] = f"{rep['kind'][6:]}-{r.randrange(10**6):06d}"
            rep["tags"] = {**rep["tags"], "gen": str(r.randrange(10**6))}
            changed.add(nid)
            if self.out[nid] and r.random() < 0.3:
                self._remove_edge(nid, r.choice(self.out[nid]))
            elif rep["kind"] in succ and r.random() < 0.3:
                cands = self.in_region(r.choice(succ[rep["kind"]]), self.carz[nid]["region"])
                if cands:
                    self._add_edge(nid, r.choice(cands))
        docs: list[dict] = [{"type": "deleted", "id": d} for d in deleted]
        for nid in sorted(changed):
            docs.append(self.nodes[nid])
            docs.extend({"type": "edge", "from": nid, "to": b, "edge_type": "default"} for b in self.out[nid])
        return docs, len(changed) + len(deleted)


def dumps(doc: dict) -> str:
    return json.dumps(doc, separators=(",", ":"))


def write_ndjson(path: str, docs: Iterable[dict]) -> int:
    """Write docs one per line; returns the file size in bytes."""
    size = 0
    with open(path, "w", encoding="utf-8") as f:
        for d in docs:
            line = dumps(d) + "\n"
            f.write(line)
            size += len(line.encode())
    return size
