"""Benchmark of the graph -> table sync path and of queries on its output.

Run from the root of a checkout:

    python3 syncbench/run.py --workload delta_sync --seed 1 --seconds 14 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

* ``delta_sync`` -- one generated delta per operation through
  ``streaming.delta_sync.apply_delta_batch``; one operation is one
  generation.  It measures whole rounds of two generations, at least
  one round, so about 28 s on a 4-vCPU VM even when ``--seconds`` is
  shorter.
* ``query_mix``  -- a fixed seeded mix of ``execute_sql`` and
  ``execute_search`` queries over the published tables, run one query
  at a time; one operation is one pass of the mix (every query once).

``op_ms`` is the latency of one operation: the sum, over the parts of
one operation (the generation, or each query of the mix), of the mean of
the middle half of that part's latencies in the run.  On a shared host
whose speed drifts by a third over tens of seconds, a trimmed mean over
the whole run moves less than a median of few samples does.

Both set up by publishing a generated graph with a full
``collect_to_files`` (checked like any operation, but not timed), so the
full-sync path is part of ``setup_s``.

Each run starts the workload in a fresh JVM (``child.py``) inside a work
directory under the checkout, which it deletes at the end.  With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` the child measures twice, untraced and then traced, with
the Spark UI on for both, and the last line carries the per-layer
metrics, the workload-level numbers of the untraced phase and the
tracing overhead.  The lines before it are a readable report.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

from spans import LAYERS

HERE = os.path.dirname(os.path.abspath(__file__))
WORK_DIR = ".syncbench_work"
DEADLINE_S = 170
DRIVER_MEM = "2g"  # JVM heap, well under the RAM of a small shared machine

E2E_METRICS = {
    "setup_s": "s",
    "op_ms": "ms",
    "stored_bytes_ratio": "ratio",
}
# Workload-level numbers; each workload measures its own and reports 0
# for the others.  Peak RSS varies by more than a tenth from run to run
# (JVM heap growth), so it is reported here, not as an end-to-end metric.
WORKLOAD_METRICS = {
    "peak_rss_mb": "MB",
    "delta_gen_s": "s",
    "delta_rows_written_per_changed_node": "count",
    "sql_ms.p50": "ms",
    "sql_ms.p90": "ms",
    "search_ms.p50": "ms",
    "failed_ratio": "ratio",
}
LAYER_METRICS = {
    **{f"self_s.{layer}": "s" for layer in LAYERS},
    "sources.parse_s": "s",
    "sources.scans_per_op": "ratio",
    "sources.docs": "count",
    "model.compile_ms": "ms",
    "flatten.sync_views_s": "s",
    "flatten.tables": "count",
    "sync.collect_to_files_self_s": "s",
    "sinks.write_table_s": "s",
    "sinks.write_table_ms.p50": "ms",
    "sinks.write_table_ms.max": "ms",
    "sinks.swap_s": "s",
    "sinks.tables_written": "count",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.read_table_ms": "ms",
    "incremental.sync_delta_s": "s",
    "incremental.tables_rewritten": "count",
    "incremental.tables_skipped": "count",
    "incremental.rows_rewritten": "count",
    "incremental.useful_ratio": "ratio",
    "sql.plan_ms": "ms",
    "sql.exec_ms": "ms",
    "sql.bytes_scanned": "bytes",
    "search.parse_ms": "ms",
    "search.exec_ms": "ms",
    "traversal.jobs_per_search": "count",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.busy_ratio": "ratio",
    "spark.shuffle_bytes_per_op": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "trace.overhead_ms": "ms",
    "trace.overhead_ratio": "ratio",
}
PER_LAYER_METRICS = {**WORKLOAD_METRICS, **LAYER_METRICS}

# Per-layer numbers that the benchmark cannot measure from outside the
# program, and why; printed with every traced report.
UNMEASURABLE = {
    "sources.parse_s": "Spark fuses the JSON parse into the stages that consume it, so only plan "
    "construction is timed here (per from_json_lines call, set-up included); the parse cost sits "
    "inside sinks.write_table_s and incremental.sync_delta_s",
    "trace.overhead_ms": "the traced phase runs after the untraced one in the same, warmer JVM, so "
    "a negative value means the overhead is smaller than what the extra JIT warm-up saves",
    "sync.collect_to_files_self_s": "no measured operation is a full sync, so it is the mean over the run's "
    "full syncs: the set-up's base publish and delta_sync's end-of-run verification sync",
}


def _proc_tree(root: int) -> list[int]:
    """``root`` and every live descendant, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _stop_group(pgid: int) -> None:
    """Terminate what is left of a child's process group and wait for it."""
    for sig, wait in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + wait
        while time.monotonic() < end:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def run_child(root: str, work: str, workload: str, seed: int, seconds: float, trace: int, deadline: float) -> dict:
    """Run one workload in a fresh Python + JVM pair; returns its result
    with ``peak_rss_mb``, the sum of the per-process peak RSS."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    result_path = os.path.join(work, "result.json")
    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join([root, HERE]),
        PYSPARK_PYTHON=sys.executable,
        PYTHONDONTWRITEBYTECODE="1",
        SPARK_GRAFT_CPUS=cpus,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        # keep the JVM's temp files and perf data inside the work dir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "child.py"),
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--result", result_path,
    ]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    peak: dict[int, int] = {}
    try:
        while proc.poll() is None:
            if time.monotonic() > deadline:
                raise TimeoutError(f"{workload} did not finish within {DEADLINE_S}s")
            for pid in _proc_tree(proc.pid):
                peak[pid] = max(peak.get(pid, 0), _hwm_kb(pid))
            time.sleep(0.2)
    finally:
        _stop_group(proc.pid)
        proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} child exited with {proc.returncode}")
    with open(result_path) as f:
        result = json.load(f)
    os.remove(result_path)
    result["peak_rss_mb"] = sum(peak.values()) / 1024
    return result


def e2e_metrics(res: dict) -> dict[str, float]:
    return {
        "setup_s": res["setup_s"],
        "op_ms": res["op_ms"],
        "stored_bytes_ratio": res["stored_bytes_ratio"],
    }


def layer_result(res: dict) -> dict[str, float]:
    out = {name: 0.0 for name in PER_LAYER_METRICS}
    out.update(res["metrics"])
    out["peak_rss_mb"] = res["peak_rss_mb"]
    out.update(res["layers"])
    out["trace.overhead_ms"] = res["traced_op_ms"] - res["op_ms"]
    out["trace.overhead_ratio"] = out["trace.overhead_ms"] / res["op_ms"]
    return out


def final_line(metrics: dict[str, float], units: dict[str, str], attempted: int, failed: int) -> str:
    return json.dumps(
        {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {name: {"value": metrics[name], "unit": units[name]} for name in units},
        }
    )


def report(res: dict) -> None:
    print(f"# {res['attempted']} operations, {res['failed']} failed")
    print(
        f"#   setup {res['setup_s']:.3f} s = session {res['session_s']:.3f} s + inputs and base publish "
        f"{res['publish_s']:.3f} s + warm-up {res['warmup_s']:.3f} s"
    )
    print(f"#   op_ms {res['op_ms']:.1f}" + (f", traced {res['traced_op_ms']:.1f}" if "traced_op_ms" in res else ""))
    for part, ms in res["samples"].items():
        print(f"#     {part}: " + " ".join(f"{v:.0f}" for v in ms) + " ms")
    print(f"#   peak_rss_mb {res['peak_rss_mb']:.1f} MB")
    for name, value in res["metrics"].items():
        unit = PER_LAYER_METRICS.get(name, "")
        print(f"#   {name} {value:.6g} {unit}")
    for p in res["problems"]:
        print(f"#   FAILED CHECK: {p}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("delta_sync", "query_mix"), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "resotodatalink_spark", "session.py")):
        print("syncbench: run it from the root of a checkout holding resotodatalink_spark/", file=sys.stderr)
        return 2
    work = os.path.join(root, WORK_DIR)
    shutil.rmtree(work, ignore_errors=True)
    deadline = time.monotonic() + DEADLINE_S
    try:
        res = run_child(root, work, args.workload, args.seed, args.seconds, args.trace, deadline)
    except (RuntimeError, TimeoutError, OSError) as exc:
        print(f"syncbench: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"# syncbench {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace}")
    report(res)
    if args.trace:
        metrics, units = layer_result(res), PER_LAYER_METRICS
        for name, why in UNMEASURABLE.items():
            print(f"# not measurable from outside: {name}: {why}")
    else:
        metrics, units = e2e_metrics(res), E2E_METRICS
    for name, unit in units.items():
        print(f"# {name} {metrics[name]:.6g} {unit}")
    print(final_line(metrics, units, res["attempted"], res["failed"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
