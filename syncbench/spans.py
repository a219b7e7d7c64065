"""Spans around calls into the program's layers, with Spark work
attributed to them.

A span records name, start, end, parent span and operation id, and is
kept in memory until the run ends.  On entry the tracer sets a Spark job
group named after the span, so every job the layer submits carries it;
the stage metrics of those jobs come from the status REST API once the
run is over (the UI is enabled in the traced run only).

The workloads call the public functions of most layers directly and
open a span around each call.  The layers they reach only through
another layer's function (``collect_to_files`` calling ``sync_views``
and ``write_table``, ``execute_search`` calling ``reachable``, ...) get
their spans from ``instrument``, which wraps those names in the calling
module for the traced run only.
"""

from __future__ import annotations

import functools
import json
import math
import os
import statistics
import time
import urllib.request
from contextlib import contextmanager
from time import perf_counter

UI_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.port": "0",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100",
}
LAYERS = ("bench", "sources", "model", "flatten", "sync", "sinks", "incremental", "streaming", "sql", "search", "traversal")


class Tracer:
    """Records spans while it holds a SparkContext; a no-op without one."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if self.sc is None:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "op": self.op, "start": perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"span-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = perf_counter()
            self._stack.pop()
            outer = self._stack[-1] if self._stack else None
            self.sc.setJobGroup(f"span-{outer}" if outer is not None else "bench", "bench")


def instrument(tracer: Tracer) -> None:
    """Wrap the layer functions that other layers call, in the modules
    that call them, so those calls open spans too."""
    from resotodatalink_spark.operators import flatten, incremental, search, sync
    from resotodatalink_spark.streaming import delta_sync

    def wrap(module, attr: str, name: str, on_result=None) -> None:
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                if on_result is not None and rec is not None:
                    on_result(rec, out)
                return out

        setattr(module, attr, traced)

    def written(rec: dict, path: str) -> None:
        files = [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
        rec["files"] = len(files)
        rec["bytes"] = sum(os.path.getsize(f) for f in files)

    def views(rec: dict, out: dict) -> None:
        rec["tables"] = len(out)

    for module in (sync, incremental):
        wrap(module, "sync_views", "flatten.sync_views", views)
        wrap(module, "write_table", "sinks.write_table", written)
        wrap(module, "swap_staging", "sinks.swap_staging")
    wrap(flatten, "link_tables", "flatten.link_tables")
    wrap(delta_sync, "sync_delta", "incremental.sync_delta")
    wrap(search, "parse_search", "search.parse_search")
    wrap(search, "reachable", "traversal.reachable")


def scrape(sc) -> tuple[list[dict], list[dict]]:
    """All jobs and stages the status store holds, once the listener has
    caught up with the last job."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path: str) -> list[dict]:
        with urllib.request.urlopen(base + path, timeout=30) as resp:
            return json.loads(resp.read())

    seen = -1
    for _ in range(50):
        jobs = get("/jobs")
        if len(jobs) == seen and all(j["status"] != "RUNNING" for j in jobs):
            break
        seen = len(jobs)
        time.sleep(0.2)
    return jobs, get("/stages")


def _self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cursor = 0.0, s["start"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile; 0 for no values."""
    if not values:
        return 0.0
    v = sorted(values)
    return v[max(0, math.ceil(q * len(v)) - 1)]


def layer_metrics(spans: list[dict], jobs: list[dict], stages: list[dict], cores: int, op_inputs: dict[int, int]) -> dict[str, float]:
    """Per-layer numbers, averaged over the measured operations.

    ``op_inputs`` maps an operation id to the bytes of the files it
    reads, the base of ``sources.scans_per_op``."""
    spans = [s for s in spans if s["end"] is not None]
    by_id = {s["id"]: s for s in spans}
    ops = sorted({s["op"] for s in spans if s["op"] is not None})
    n_ops = max(1, len(ops))
    measured = [s for s in spans if s["op"] is not None]
    self_t = _self_times(spans)

    def dur(s: dict) -> float:
        return s["end"] - s["start"]

    def named(name: str) -> list[dict]:
        return [s for s in measured if s["name"] == name]

    def every(name: str) -> list[dict]:
        """Set-up and end-of-run calls too: for the layers no measured
        operation calls."""
        return [s for s in spans if s["name"] == name]

    def mean_ms(sel: list[dict], t=None) -> float:
        return statistics.mean((t or dur)(s) * 1000 for s in sel) if sel else 0.0

    def per_op(total: float) -> float:
        return total / n_ops

    # Spark work per span, through the job group set when it started
    stage_by_id = {}
    for st in stages:
        if st.get("status") == "COMPLETE":
            stage_by_id.setdefault(st["stageId"], st)
    span_stats: dict[int, dict[str, float]] = {}
    for job in jobs:
        group = job.get("jobGroup") or ""
        if not group.startswith("span-"):
            continue
        sid = int(group[5:])
        acc = span_stats.setdefault(sid, {"jobs": 0, "tasks": 0, "run_s": 0.0, "input": 0, "shuffle": 0, "spill": 0, "gc_s": 0.0})
        acc["jobs"] += 1
        for stage_id in job.get("stageIds", []):
            st = stage_by_id.pop(stage_id, None)  # a stage counts once
            if st is None:
                continue
            acc["tasks"] += st.get("numCompleteTasks", 0)
            acc["run_s"] += st.get("executorRunTime", 0) / 1000
            acc["input"] += st.get("inputBytes", 0)
            acc["shuffle"] += st.get("shuffleReadBytes", 0) + st.get("shuffleWriteBytes", 0)
            acc["spill"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
            acc["gc_s"] += st.get("jvmGcTime", 0) / 1000

    def spark_sum(key: str, sel=lambda s: True) -> float:
        return sum(span_stats.get(s["id"], {}).get(key, 0) for s in measured if sel(s))

    def under(s: dict, name: str) -> bool:
        while s is not None:
            if s["name"] == name:
                return True
            s = by_id.get(s["parent"]) if s["parent"] is not None else None
        return False

    op_spans = [s for s in measured if s["name"].startswith("op.")]
    op_wall = sum(dur(s) for s in op_spans)
    writes = named("sinks.write_table")
    write_ms = [dur(s) * 1000 for s in writes]
    sqls = named("op.sql")
    searches = named("op.search")
    deltas = named("incremental.sync_delta")

    def stat_sum(name: str, key: str) -> float:
        return sum(s.get(key, 0) for s in named(name))

    input_by_op: dict[int, float] = {}
    for s in measured:
        input_by_op[s["op"]] = input_by_op.get(s["op"], 0) + span_stats.get(s["id"], {}).get("input", 0)
    scans = [input_by_op.get(op, 0) / size for op, size in op_inputs.items() if size]

    out: dict[str, float] = {f"self_s.{layer}": 0.0 for layer in LAYERS}
    for s in measured:
        layer = s["name"].split(".")[0]
        layer = "bench" if layer == "op" else layer
        out[f"self_s.{layer}"] += self_t[s["id"]] / n_ops
    out.update(
        {
            "sources.parse_s": mean_ms(every("sources.from_json_lines")) / 1000,
            "sources.scans_per_op": statistics.mean(scans) if scans else 0.0,
            "model.compile_ms": mean_ms(every("model.compile")),
            "flatten.sync_views_s": per_op(sum(dur(s) for s in named("flatten.sync_views"))),
            "flatten.tables": per_op(stat_sum("flatten.sync_views", "tables")),
            "sync.collect_to_files_self_s": mean_ms(every("sync.collect_to_files"), lambda s: self_t[s["id"]]) / 1000,
            "sinks.write_table_s": per_op(sum(write_ms) / 1000),
            "sinks.write_table_ms.p50": percentile(write_ms, 0.5),
            "sinks.write_table_ms.max": max(write_ms, default=0.0),
            "sinks.swap_s": per_op(sum(dur(s) for s in named("sinks.swap_staging"))),
            "sinks.tables_written": per_op(len(writes)),
            "sinks.files_written": per_op(stat_sum("sinks.write_table", "files")),
            "sinks.bytes_written": per_op(stat_sum("sinks.write_table", "bytes")),
            "sinks.read_table_ms": mean_ms(every("sinks.read_table")),
            "incremental.sync_delta_s": per_op(sum(dur(s) for s in deltas)),
            "sql.plan_ms": statistics.mean(dur(s) * 1000 for s in named("sql.execute_sql")) if sqls else 0.0,
            "sql.exec_ms": statistics.mean(dur(s) * 1000 for s in named("sql.collect")) if sqls else 0.0,
            "sql.bytes_scanned": spark_sum("input", lambda s: under(s, "op.sql")) / len(sqls) if sqls else 0.0,
            "search.parse_ms": statistics.mean(dur(s) * 1000 for s in named("search.parse_search")) if searches else 0.0,
            "search.exec_ms": statistics.mean(dur(s) * 1000 for s in searches) if searches else 0.0,
            "traversal.jobs_per_search": spark_sum("jobs", lambda s: under(s, "traversal.reachable")) / len(searches)
            if searches
            else 0.0,
            "spark.jobs_per_op": per_op(spark_sum("jobs")),
            "spark.tasks_per_op": per_op(spark_sum("tasks")),
            "spark.busy_ratio": spark_sum("run_s") / (op_wall * cores) if op_wall else 0.0,
            "spark.shuffle_bytes_per_op": per_op(spark_sum("shuffle")),
            "spark.spill_bytes": per_op(spark_sum("spill")),
            "spark.gc_s": per_op(spark_sum("gc_s")),
        }
    )
    return out
