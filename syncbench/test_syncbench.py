"""Tests of the benchmark's own code: generator, checks, span maths and
the metric names it prints.  They need no Spark; tables are published
with pyarrow in the layout the checks read.

    python3 -m pytest syncbench -q -p no:cacheprovider
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks
import child
import gen
import mix
import run
import spans

HERE = os.path.dirname(os.path.abspath(__file__))
N = 300


def _write(dest: str, table: str, rows: list[dict]) -> None:
    """One parquet file per table, typed like the sync's output."""
    cols = {k for r in rows for k in r}
    data = {}
    for c in sorted(cols):
        values = [r.get(c) for r in rows]
        if c == "tags":
            data[c] = pa.array([list(v.items()) for v in values], pa.map_(pa.string(), pa.string()))
        elif c == "ctime":
            data[c] = pa.array([dt.datetime.fromtimestamp(v, dt.timezone.utc).replace(tzinfo=None) for v in values], pa.timestamp("us"))
        else:
            data[c] = pa.array(values)
    os.makedirs(os.path.join(dest, table), exist_ok=True)
    pq.write_table(pa.table(data), os.path.join(dest, table, "part-00000.parquet"))


def publish(state: gen.GraphState, dest: str, extra: dict[str, list[dict]] | None = None, drop: str | None = None) -> None:
    """What a correct full sync publishes for ``state``, optionally with
    planted extra rows or one row dropped."""
    tables: dict[str, list[dict]] = {k: [] for k in gen.table_kinds()}
    for nid, doc in state.nodes.items():
        if nid != drop:
            tables[doc["reported"]["kind"]].append(checks.expected_row(doc))
    for a, targets in state.out.items():
        for b in targets:
            tables.setdefault(gen.link_table_name(state.kind(a), state.kind(b)), []).append({"from_id": a, "to_id": b})
    tables[gen.NODE_INDEX] = [{"id": n, "kind": state.kind(n)} for n in state.nodes]
    for name, rows in (extra or {}).items():
        tables[name] = tables[name] + rows
    for name, rows in tables.items():
        _write(dest, name, rows or [{"_id": None}])


def _ndjson(tmp_path, seed: int, name: str) -> bytes:
    """Base graph plus three deltas, as NDJSON bytes."""
    state = gen.GraphState(seed, N)
    path = str(tmp_path / f"{name}.ndjson")
    gen.write_ndjson(path, state.docs())
    for _ in range(3):
        docs, _ = state.make_delta()
        with open(path, "a") as f:
            f.writelines(gen.dumps(d) + "\n" for d in docs)
    with open(path, "rb") as f:
        return f.read()


def test_same_seed_gives_identical_inputs(tmp_path):
    a = _ndjson(tmp_path, 5, "a")
    assert a == _ndjson(tmp_path, 5, "b") and len(a) > 10_000
    assert _ndjson(tmp_path, 6, "c") != a


def test_generator_keeps_edges_on_successor_kinds():
    state = gen.GraphState(3, N)
    for _ in range(5):
        state.make_delta()
    pairs = {(a, b) for a, b, _ in gen.EDGE_KINDS}
    for a, targets in state.out.items():
        for b in targets:
            assert (state.kind(a), state.kind(b)) in pairs
            assert a in state.inc[b]


def test_full_sync_check_passes_and_catches_dropped_row(tmp_path):
    state = gen.GraphState(1, N)
    publish(state, str(tmp_path / "ok"))
    assert checks.check_full_sync(str(tmp_path / "ok"), state, random.Random(0)) == []
    victim = state.of_kind("bench_volume")[0]
    publish(state, str(tmp_path / "bad"), drop=victim)
    problems = checks.check_full_sync(str(tmp_path / "bad"), state, random.Random(0))
    assert any("bench_volume" in p for p in problems)


def test_row_sample_catches_wrong_value(tmp_path):
    state = gen.GraphState(1, N)
    dest = str(tmp_path / "t")
    publish(state, dest)
    rows = [checks.expected_row(state.nodes[n]) for n in state.of_kind("bench_snapshot")]
    rows[0]["name"] = "renamed"
    _write(dest, "bench_snapshot", rows)
    problems = checks.sample_rows(dest, state, random.Random(0), per_kind=len(rows))
    assert problems and "name" in problems[0]


def test_delta_checks_catch_stale_row(tmp_path):
    state = gen.GraphState(2, N)
    deleted = None
    while deleted is None:
        docs, _ = state.make_delta()
        deleted = next((d["id"] for d in docs if d["type"] == "deleted"), None)
    stale_kind = next(d["reported"]["kind"] for d in docs if d["type"] == "node")
    stale = {"_id": deleted, "name": "stale", "ctime": gen.EPOCH, "tags": {}}
    full, incremental = str(tmp_path / "full"), str(tmp_path / "inc")
    publish(state, full)
    publish(state, incremental, extra={stale_kind: [stale]})
    assert checks.compare_checksums(checks.table_checksums(full), checks.table_checksums(full)) == []
    problems = checks.compare_checksums(checks.table_checksums(incremental), checks.table_checksums(full))
    assert len(problems) == 1 and problems[0].startswith(stale_kind)
    assert checks.compare_counts(checks.row_counts(incremental), state.table_counts())


def test_sql_check_catches_wrong_answer(tmp_path):
    state = gen.GraphState(4, N)
    dest = str(tmp_path / "t")
    publish(state, dest)
    con = checks.connect()
    for t in checks.published_tables(dest):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {checks.scan(os.path.join(dest, t))}")
    sql, binds = mix.SQL_TEMPLATES["instance_volumes"]
    want = con.execute(mix.duckdb_sql(sql), binds(state, random.Random(1))).fetchall()
    assert want
    assert checks.compare_answer("q", list(reversed(want)), want) == []
    wrong = [(want[0][0], want[0][1] + 1, want[0][2])] + want[1:]
    assert checks.compare_answer("q", wrong, want)
    assert checks.compare_answer("q", want[1:], want)


def test_search_oracle_on_a_hand_built_graph():
    state = gen.GraphState(0, 20)
    state.nodes, state.out, state.inc = {}, {}, {}

    def node(nid, kind, **props):
        state.nodes[nid] = {"type": "node", "id": nid, "reported": {"kind": kind, "id": nid, **props}, "ancestors": {}}
        state.out[nid], state.inc[nid] = [], []

    node("i1", "bench_instance", cores=32, memory=262144)
    node("p1", "bench_spot_instance", cores=2, memory=4096)
    node("v1", "bench_volume", size_gb=1000, volume_type="gp3")
    node("v2", "bench_volume", size_gb=8, volume_type="gp3")
    node("n1", "bench_snapshot", size_gb=1000)
    for a, b in [("i1", "v1"), ("p1", "v2"), ("v1", "n1"), ("i1", "v2")]:
        state._add_edge(a, b)
    found = {s.name: sorted(s.oracle(state)) for s in mix.searches()}
    assert found["compute_filter"] == [("i1",)]
    assert found["compute_reach"] == [("n1",), ("v1",), ("v2",)]
    assert found["snapshot_origins"] == [("i1",), ("v1",)]
    assert found["instances_with_big_volume"] == [("i1",)]
    assert found["volume_types"] == [("gp3", 2, 1008.0)]
    assert checks.compare_answer("search", [("i1",), ("v1",), ("p1",)], found["snapshot_origins"])


def test_interquartile_mean_drops_the_outer_quarters():
    assert child.interquartile_mean([5.0, 1.0]) == 3.0
    assert child.interquartile_mean([100.0, 2.0, 1.0, 3.0]) == 2.5
    assert child.interquartile_mean([9.0, 1.0, 2.0, 2.0, 4.0, 3.0, 0.0, 50.0]) == 2.75


def test_self_time_subtracts_covered_child_time():
    s = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "start": 2.0, "end": 5.0},
        {"id": 3, "parent": 1, "start": 1.5, "end": 2.0},
    ]
    assert spans._self_times(s) == pytest.approx({0: 6.0, 1: 1.5, 2: 3.0, 3: 0.5})


def test_printed_metric_names_match_benchmark_json():
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_METRICS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER_METRICS
    assert [w["name"] for w in bench["workloads"]] == ["delta_sync", "query_mix"]
    child = {
        "setup_s": 1.0, "op_ms": 1.5, "stored_bytes_ratio": 0.1, "peak_rss_mb": 9.0,
        "metrics": {"delta_gen_s": 1.0, "failed_ratio": 0.0}, "layers": {"spark.jobs_per_op": 3.0},
        "traced_op_ms": 2.0,
    }
    e2e = json.loads(run.final_line(run.e2e_metrics(child), run.E2E_METRICS, 2, 0))
    layers = json.loads(run.final_line(run.layer_result(child), run.PER_LAYER_METRICS, 4, 0))
    assert set(e2e) == {"correct", "attempted", "failed", "metrics"}
    assert e2e["metrics"].keys() == run.E2E_METRICS.keys()
    assert layers["metrics"].keys() == run.PER_LAYER_METRICS.keys()
