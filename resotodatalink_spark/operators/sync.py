"""Top-level pipeline entry points — the analogs of the reference's
``collect_sql`` / ``collect_to_file`` / ``execute_sql`` API
(collect_plugins.py:103-152, 30-68, 220-228).

The reference's lifecycle is collect -> model -> batch-stream ->
DDL -> chunked inserts -> swap, all on a dedicated IO thread.  On
Spark the same lifecycle is: graph DataFrames -> model-compiled
flatten -> distributed write to staging -> staged swap; Catalyst and
the cluster scheduler replace the hand-rolled batching, and the tables'
staged writes overlap on a bounded driver pool instead of queueing on
one IO thread.

Progress is one callable, ``progress(step, current, total)``: the
signature of the reference's ``CoreFeedback.progress_done``
(collect_plugins.py:34, 95-96, 196-212), so a caller holding such an
object passes its bound ``progress_done``.  Granularity is per table,
since tasks inside a write are the cluster's business, not the driver
loop's.
"""

from __future__ import annotations

import functools
from collections.abc import Iterable
from typing import Callable, Protocol

from pyspark.sql import SparkSession

from resotodatalink_spark.model.kinds import Model
from resotodatalink_spark.operators.flatten import sync_views
from resotodatalink_spark.sinks.files import NODE_INDEX, stage_tables, swap_staging, write_table
from resotodatalink_spark.sources.graph import GraphSource

Progress = Callable[[str, int, int], None]


def no_progress(step: str, current: int, total: int) -> None:
    """The default hook: nothing leaves the process (the reference's
    analytics NoEventSender stance, analytics.py:13-62)."""


def collect_to_files(
    spark: SparkSession,
    source: GraphSource,
    model: Model,
    dest_dir: str,
    fmt: str = "parquet",
    swap: bool = True,
    progress: Progress = no_progress,
    node_index: bool = True,
) -> list[str]:
    """Graph -> staged table files -> one publish pass (collect_to_file
    + swap_temp_tables semantics).  The tables stage concurrently, their
    writes overlapping on up to ``defaultParallelism`` driver threads
    (``stage_tables``); a failed write publishes nothing.  Every table
    is staged before any is published, and ``swap_staging`` then renames
    one table at a time:
    a crash leaves each table old or new, never missing, but the pass
    is not gap-free, and a reader listing tables during it can see some
    tables of the old generation and some of the new.

    Every generation carries the narrow ``_node_index`` (id, kind)
    table, against which ``sync_delta`` plans each delta.  It is staged
    with the tables, as parquet whatever ``fmt`` is (only ``sync_delta``
    reads it), and published last in the same pass, so a crash during
    the publish never leaves it newer than a table.  The return value
    and the progress calls count only the kind and link tables, the
    SQL surface.  ``swap`` and ``node_index`` select nothing: they accept
    ``True`` only, so callers that pass it keep working."""
    if not (swap and node_index):
        raise ValueError("collect_to_files always publishes its tables and _node_index")
    views = sync_views(spark, source, model)
    tables = sorted(views)
    index = source.nodes.select("id", "kind")
    stage_tables(
        spark,
        [
            functools.partial(write_table, views[name], dest_dir, name, fmt=fmt)
            for name in tables
        ]
        + [functools.partial(write_table, index, dest_dir, NODE_INDEX)],
    )
    for i in range(1, len(tables) + 1):
        progress("write_tables", i, len(tables))
    swap_staging(spark, dest_dir, tables=[*tables, NODE_INDEX])
    progress("swap", len(tables), len(tables))
    return tables


def collect_sql(
    spark: SparkSession,
    source: GraphSource,
    model: Model,
    url: str,
    progress: Progress = no_progress,
    batch_size: int = 5000,
    run_swap: bool = False,
    drop_existing_tables: bool = False,
) -> list[str]:
    """Graph -> JDBC database with tmp-table swap DDL (collect_sql
    analog).  Executed for real in CI against embedded Derby
    (``jdbc:derby:memory:``, tests/test_jdbc_derby.py).  The swap
    statements come from the URL's dialect — plain drop+rename by
    default, Snowflake's atomic SWAP WITH, Derby's RENAME TABLE — and
    with ``run_swap`` every table's statements run as one transaction
    over a live JDBC connection (the reference's engine-side publish,
    sql.py:129-159): all-or-nothing across the generation where DDL is
    transactional (Derby, Postgres), per table on MySQL and Snowflake,
    whose DDL commits implicitly.  Otherwise they are returned for the
    caller to run.  ``drop_existing_tables`` (requires ``run_swap``)
    then drops every production table this sync did NOT update — the
    reference's stale-table cleanup (sql.py:147-151, update_sql's flag,
    collect_plugins.py:176-178)."""
    from resotodatalink_spark.model.kinds import TEMP_PREFIX, get_table_name
    from resotodatalink_spark.sinks.dialects import dialect_for, jdbc_column_types
    from resotodatalink_spark.sinks.jdbc import (
        execute_statements,
        list_jdbc_tables,
        write_jdbc,
    )

    views = sync_views(spark, source, model)
    names = sorted(views)
    dialect = dialect_for(url)
    # P9 on the production path: Spark's JDBC writer generates the
    # DDL, so the dialect's widths reach it via the
    # createTableColumnTypes option (kind tables from the model's
    # metadata; link tables are two id columns).
    col_types = {
        get_table_name(k.fqn): jdbc_column_types(dialect, model, k.fqn)
        for k in model.table_kinds()
    }
    id_type = dialect.string_type(None)
    link_types = id_type and f"`from_id` {id_type}, `to_id` {id_type}"
    for i, name in enumerate(names, 1):
        # sync_views names kind tables exactly as col_types keys them;
        # every other name is a link table
        write_jdbc(
            views[name],
            url,
            TEMP_PREFIX + name,
            batch_size=batch_size,
            column_types=col_types.get(name, link_types),
        )
        progress("write_jdbc", i, len(names))
    stmts = [s for name in names for s in dialect.swap_sql(TEMP_PREFIX + name, name)]
    if run_swap:
        executed = execute_statements(spark, url, stmts)
        if drop_existing_tables:
            # Reference semantics (sql.py:147-151): every table in the
            # sync's schema that this sync did not update is stale and
            # dropped — that is what cleans up tables of kinds REMOVED
            # from the model.  The enumeration is scoped to the
            # connection's current schema (list_jdbc_tables), matching
            # the reference's default-schema reflection; like the
            # reference, the flag assumes that schema is dedicated to
            # this sync.
            stale = [
                t
                for t in list_jdbc_tables(spark, url)
                if t not in views and not t.startswith(TEMP_PREFIX)
            ]
            executed += execute_statements(
                spark, url, [f"DROP TABLE {t}" for t in stale]
            )
        progress("swap", len(executed), len(executed))
    return stmts


class CollectorGraph(Protocol):
    """What a plugin's ``.graph`` must expose: the exported kind model
    (collect_plugins.py:38-39 ``graph.export_model``) and the graph
    rendered as node/edge JSON docs — the exact stream shape the
    reference's BatchStream feeds its writers (sql_test.py:71-107;
    schema_utils.py:66-85), and the shape ``GraphSource.from_docs``
    ingests."""

    def export_model(self) -> list[dict]: ...

    def export_docs(self) -> Iterable[dict]: ...


class CollectorPlugin(Protocol):
    """The BaseCollectorPlugin-shaped protocol (reference
    collect_plugins.py:30-33, 103-110): a cloud name, a ``collect()``
    that populates ``self.graph``, and the graph itself.  resotolib is
    not a dependency here — any object with these three members can be
    handed to ``collect_plugin``; a real BaseCollectorPlugin bridges by
    exporting its graph to docs (the reference streams the same JSON
    docs out of the graph)."""

    cloud: str
    graph: CollectorGraph

    def collect(self) -> None: ...


def collect_plugin(
    spark: SparkSession,
    collector: CollectorPlugin,
    dest_dir: str,
    fmt: str = "parquet",
    progress: Progress = no_progress,
) -> tuple[str, int, int]:
    """Invoke a collector plugin end-to-end — the U4 driver loop, the
    Spark analog of reference ``collect_to_file``/``collect_sql``
    (collect_plugins.py:30-68, 103-152) with the reference's stage
    names: ``progress(cloud, 0, 1)`` before ``collect()``, the table
    writes and swap of ``collect_to_files`` reported as ``"sync_db"``
    (collect_plugins.py:40, 95-96), ``progress(cloud, 1, 1)`` at the
    end, returning ``(cloud, n_nodes, n_edges)``.

    The kind model comes from ``collector.graph.export_model()``
    (collect_plugins.py:116-117) and the data path is the standard
    docs -> GraphSource -> model-compiled flatten -> staged write ->
    swap pipeline.  ``from_docs`` holds the in-memory doc list on the
    driver; a collector too large for that should spill NDJSON and use
    ``GraphSource.from_json_lines`` instead (same downstream path)."""
    progress(collector.cloud, 0, 1)
    collector.collect()
    model = Model.from_json(collector.graph.export_model())
    docs = list(collector.graph.export_docs())
    n_nodes = sum(1 for d in docs if d.get("type") == "node")
    n_edges = sum(1 for d in docs if d.get("type") == "edge")
    collect_to_files(
        spark,
        GraphSource.from_docs(spark, docs),
        model,
        dest_dir,
        fmt=fmt,
        progress=lambda _, current, total: progress("sync_db", current, total),
    )
    progress(collector.cloud, 1, 1)
    return collector.cloud, n_nodes, n_edges
