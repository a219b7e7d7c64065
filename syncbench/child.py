"""One workload run in a fresh JVM: set up, measure, check, report.

``run.py`` starts this script in a work directory inside the checkout
and reads the JSON it writes to ``--result``.  It drives the program
only through its public functions, on a session from
``session.get_spark``, over inputs the seeded generator wrote.

Each workload is a closed loop with one client: the next operation
starts when the previous one has returned and its result has been
collected.  Checks run after each operation, outside its timing.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import traceback
from time import perf_counter

import checks
import gen
import mix
from spans import UI_CONF, Tracer, instrument, layer_metrics, percentile, scrape

N_RESOURCES = 3000


def interquartile_mean(values: list[float]) -> float:
    """Mean of the middle half of the values (of all of them below four).
    On a shared host that slows down for part of a run it moves less
    than the median, and one stalled sample does not move it."""
    v = sorted(values)
    k = len(v) // 4
    return statistics.mean(v[k : len(v) - k])


class Workload:
    name = ""

    def __init__(self, spark, tracer: Tracer, work: str, seed: int):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.dest = os.path.join(work, "published")
        self.rng = random.Random(seed)
        self.samples: dict[str, list[float]] = {}  # operation -> latencies, ms
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.stored: list[float] = []
        self.op_inputs: dict[int, int] = {}  # op id -> bytes of its input files
        self.docs: list[int] = []

    # -- program calls, each inside a span ----------------------------------

    def compile_model(self):
        from resotodatalink_spark.model.compiler import table_schema
        from resotodatalink_spark.model.kinds import Model

        with self.tracer.span("model.compile"):
            model = Model.from_json(gen.model_json())
            for kind in model.table_kinds():
                table_schema(model, kind)
        return model

    def full_sync(self, ndjson: str, dest: str) -> None:
        from resotodatalink_spark.operators.sync import collect_to_files
        from resotodatalink_spark.sources.graph import GraphSource

        model = self.compile_model()
        with self.tracer.span("sources.from_json_lines"):
            source = GraphSource.from_json_lines(self.spark, ndjson)
        with self.tracer.span("sync.collect_to_files"):
            collect_to_files(self.spark, source, model, dest, fmt="parquet", swap=True, node_index=True)

    def publish_base(self) -> None:
        """Generate the graph and publish it as the previous generation."""
        self.state = gen.GraphState(self.seed, N_RESOURCES)
        self.ndjson = os.path.join(self.work, "graph.ndjson")
        self.ndjson_bytes = gen.write_ndjson(self.ndjson, self.state.docs())
        self.full_sync(self.ndjson, self.dest)

    # -- the run ------------------------------------------------------------

    def setup(self) -> None:
        self.publish_base()

    def warm_up(self) -> None:
        """Work that fills caches before timing, so the first measured
        operation is not slowed by JIT compilation."""

    def rounds(self):
        """Yields one round of operations (callables) at a time."""
        raise NotImplementedError

    def finish(self) -> None:
        """End-of-run check, after the measured loop."""

    def prepare_checks(self) -> None:
        """The benchmark's own work after set-up, outside its timing: the
        base publish is a full sync of the generated graph and is checked
        as one (untimed) operation."""
        self.attempted += 1
        self.record(checks.check_full_sync(self.dest, self.state, self.rng))

    def record(self, problems: list[str]) -> None:
        if problems:
            self.failed += 1
            self.problems.extend(problems[:5])

    def measure(self, seconds: float) -> None:
        """Run whole rounds for about ``seconds``: another round starts
        only if one as long as the last would end nearer to ``seconds``
        than stopping now does: the number of rounds is ``seconds`` over
        the round time, rounded (at least one)."""
        start = end = perf_counter()
        round_s = 0.0
        while end == start or end - start + round_s / 2 <= seconds:
            t = perf_counter()
            for op in self.rounds():
                self.tracer.op = self.attempted
                self.attempted += 1
                try:
                    part, ms, problems = op()
                    self.samples.setdefault(part, []).append(ms)
                except Exception as exc:  # a failed operation is counted; the run goes on
                    traceback.print_exc()
                    problems = [f"operation raised {exc!r}"]
                self.tracer.op = None
                self.record(problems)
            end = perf_counter()
            round_s = end - t

    def reset_samples(self) -> None:
        """Forget the latencies measured so far."""
        self.samples = {}

    def op_ms(self) -> float:
        """The end-to-end latency of one operation: the sum over its
        parts (the generation, or each query of the mix) of each part's
        interquartile mean.  A single query's latency depends on which
        query it is, a pass's does not."""
        return sum(interquartile_mean(v) for v in self.samples.values())

    def metrics(self) -> dict[str, float]:
        """The workload-level numbers (``run.WORKLOAD_METRICS``) this
        workload measures."""
        return {}


class DeltaSync(Workload):
    """One generated delta per operation through
    streaming.delta_sync.apply_delta_batch."""

    name = "delta_sync"

    def setup(self) -> None:
        self.publish_base()
        self.changed = 0
        self.rows_written = 0
        self.useful = 0
        self.rewritten: list[int] = []
        self.skipped: list[int] = []

    def rounds(self):
        """Two generations a round: one generation is too short to even
        out a shared host's drift in speed, and a round of two keeps the
        number measured from flipping between one and two as speed
        varies."""
        yield self.op
        yield self.op

    def apply_delta(self) -> tuple[float, dict, int]:
        """Generate the next delta and apply it as one generation."""
        from pyspark.sql import functions as F

        from resotodatalink_spark.streaming.delta_sync import apply_delta_batch

        docs, n_changed = self.state.make_delta()
        path = os.path.join(self.work, f"delta-{self.state.generation:04d}.ndjson")
        size = gen.write_ndjson(path, docs)
        if self.tracer.op is not None:
            self.op_inputs[self.tracer.op] = size + checks.published_bytes(self.dest)
            self.docs.append(len(docs))
        with self.tracer.span("op.delta_sync"):
            t = perf_counter()
            model = self.compile_model()
            with self.tracer.span("streaming.apply_delta_batch"):
                raw = self.spark.read.text(path).select(F.col("value").alias("doc"))
                stats = apply_delta_batch(self.spark, raw, model, self.dest)
            ms = (perf_counter() - t) * 1000
        return ms, stats, n_changed

    def warm_up(self) -> None:
        """The first generation compiles the merge path; later ones are
        steadier.  The end-of-run checksum covers its output too."""
        self.apply_delta()

    def op(self) -> tuple[str, float, list[str]]:
        ms, stats, n_changed = self.apply_delta()
        counts = checks.row_counts(self.dest)
        problems = checks.compare_counts(counts, self.state.table_counts())
        rewritten = [t for t, s in stats.items() if s["upserted"] or s["removed"]] + [gen.NODE_INDEX]
        self.changed += n_changed
        self.rows_written += sum(counts.get(t, 0) for t in rewritten)
        self.useful += sum(s["upserted"] + s["removed"] for s in stats.values())
        self.rewritten.append(len(rewritten))
        self.skipped.append(len(stats) - len(rewritten) + 1)
        return "generation", ms, problems

    def finish(self) -> None:
        """Every published table must equal a full sync of the final graph."""
        final = os.path.join(self.work, "final.ndjson")
        final_bytes = gen.write_ndjson(final, self.state.docs())
        verify = os.path.join(self.work, "verify")
        self.full_sync(final, verify)
        self.attempted += 1
        self.record(checks.compare_checksums(checks.table_checksums(self.dest), checks.table_checksums(verify)))
        self.stored.append(checks.published_bytes(self.dest) / final_bytes)

    def metrics(self) -> dict[str, float]:
        gens = max(1, len(self.rewritten))
        return {
            "delta_gen_s": statistics.median(self.samples["generation"]) / 1000,
            "delta_rows_written_per_changed_node": self.rows_written / max(1, self.changed),
            "incremental.tables_rewritten": sum(self.rewritten) / gens,
            "incremental.tables_skipped": sum(self.skipped) / gens,
            "incremental.rows_rewritten": self.rows_written / gens,
            "incremental.useful_ratio": self.useful / max(1, self.rows_written),
        }


class QueryMix(Workload):
    """A fixed seeded mix of SQL and search queries over the published
    tables and a parquet nodes/edges spool; it never writes."""

    name = "query_mix"

    def setup(self) -> None:
        from resotodatalink_spark.sinks.files import read_table
        from resotodatalink_spark.sources.graph import GraphSource

        self.publish_base()
        spool = os.path.join(self.work, "spool")
        with self.tracer.span("sources.from_json_lines"):
            parsed = GraphSource.from_json_lines(self.spark, self.ndjson)
        parsed.nodes.write.mode("overwrite").parquet(os.path.join(spool, "nodes"))
        parsed.edges.write.mode("overwrite").parquet(os.path.join(spool, "edges"))
        self.source = GraphSource(
            self.spark.read.parquet(os.path.join(spool, "nodes")),
            self.spark.read.parquet(os.path.join(spool, "edges")),
        )
        for table in checks.published_tables(self.dest):
            with self.tracer.span("sinks.read_table"):
                read_table(self.spark, self.dest, table).createOrReplaceTempView(table)
        self.model = self.compile_model()
        self.mix = mix.build_mix(self.state, self.seed)
        self.stored = [checks.published_bytes(self.dest) / self.ndjson_bytes]

    def prepare_checks(self) -> None:
        """Also the expected answers: DuckDB over the same parquet for
        SQL, a Python evaluation over the generator's graph for searches."""
        super().prepare_checks()
        con = checks.connect()
        for table in checks.published_tables(self.dest):
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM {checks.scan(os.path.join(self.dest, table))}")
        self.expected = [
            con.execute(mix.duckdb_sql(q.sql), q.binds).fetchall() if q.kind == "sql" else q.search.oracle(self.state)
            for q in self.mix
        ]
        self.reset_samples()

    def warm_up(self) -> None:
        """Four passes of the mix: JIT compilation goes on for several
        passes, the traversals' latency falling by a third, and how far it
        has got when timing starts would otherwise set the result."""
        for _ in range(4):
            for i in range(len(self.mix)):
                self.query(i)

    def rounds(self):
        for i in range(len(self.mix)):
            yield lambda i=i: self.timed(i)

    def query(self, i: int) -> list:
        from resotodatalink_spark.operators.search import execute_search
        from resotodatalink_spark.operators.sql import execute_sql

        q = self.mix[i]
        if q.kind == "sql":
            with self.tracer.span("op.sql"):
                with self.tracer.span("sql.execute_sql"):
                    df = execute_sql(self.spark, q.sql, q.binds)
                with self.tracer.span("sql.collect"):
                    return [tuple(r) for r in df.collect()]
        with self.tracer.span("op.search"):
            with self.tracer.span("search.execute_search"):
                df = execute_search(self.source, self.model, q.search.text)
            with self.tracer.span("search.collect"):
                rows = df.collect()
        return [(r["id"],) for r in rows] if q.search.ids_only else [tuple(r) for r in rows]

    def timed(self, i: int) -> tuple[str, float, list[str]]:
        t = perf_counter()
        rows = self.query(i)
        ms = (perf_counter() - t) * 1000
        q = self.mix[i]
        (self.sql_ms if q.kind == "sql" else self.search_ms).append(ms)
        return f"{q.kind} {q.name} #{i}", ms, checks.compare_answer(f"{q.kind} {q.name}", rows, self.expected[i])

    def reset_samples(self) -> None:
        super().reset_samples()
        self.sql_ms, self.search_ms = [], []

    def metrics(self) -> dict[str, float]:
        return {
            "sql_ms.p50": percentile(self.sql_ms, 0.5),
            "sql_ms.p90": percentile(self.sql_ms, 0.9),
            "search_ms.p50": percentile(self.search_ms, 0.5),
        }


WORKLOADS = {w.name: w for w in (DeltaSync, QueryMix)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    from resotodatalink_spark.session import get_spark

    t0 = perf_counter()
    spark = get_spark("syncbench", extra_conf=UI_CONF if args.trace else None)
    session_s = perf_counter() - t0
    sc = spark.sparkContext
    # A traced run records spans during set-up and during a second,
    # traced measuring phase; the first phase runs untraced so the two
    # phases give the tracing overhead.
    tracer = Tracer(sc if args.trace else None)
    if args.trace:
        instrument(tracer)
    w = WORKLOADS[args.workload](spark, tracer, os.getcwd(), args.seed)
    t = perf_counter()
    w.setup()
    publish_s = perf_counter() - t
    w.prepare_checks()
    t = perf_counter()
    w.warm_up()
    warm_s = perf_counter() - t
    tracer.sc = None
    w.measure(args.seconds)
    result = {
        "workload": w.name,
        "session_s": session_s,
        "publish_s": publish_s,
        "warmup_s": warm_s,
        "setup_s": session_s + publish_s + warm_s,
        "op_ms": w.op_ms(),
        "samples": w.samples,
        "metrics": {**w.metrics(), "failed_ratio": w.failed / max(1, w.attempted)},
    }
    if args.trace:
        w.reset_samples()
        tracer.sc = sc
        w.measure(args.seconds)
        result["traced_op_ms"] = w.op_ms()
    w.finish()
    result.update(
        attempted=w.attempted,
        failed=w.failed,
        problems=w.problems[:20],
        stored_bytes_ratio=statistics.median(w.stored),
    )
    if args.trace:
        jobs, stages = scrape(sc)
        layers = layer_metrics(tracer.spans, jobs, stages, sc.defaultParallelism, w.op_inputs)
        layers["sources.docs"] = statistics.mean(w.docs) if w.docs else 0.0
        result["layers"] = layers
    spark.stop()
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
