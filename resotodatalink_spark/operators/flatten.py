"""Node flattening and link tables: the graph->relational operators.

* ``flatten_nodes`` — the reference's ``node_to_json`` projection
  (sql.py:227-243, duplicated for Arrow in writer.py:279-294): pull
  ``reported.*`` to the top level with a fixed, model-derived column
  set (missing props materialize as typed NULLs), inject ``_id`` from
  the node id, drop ``kind``, and denormalize the four ancestor
  columns from ``sources.graph.ancestors`` (sql.py:231-234).
* ``link_tables`` — the edge-endpoint resolution the reference does
  with a driver-side ``node_by_chksum`` dict (collect_plugins.py:50-62,
  126-138), re-expressed as TWO broadcast hash joins of edges against
  the (id, kind) projection of nodes: fully distributed, no driver
  state, which is what survives a 100 TB graph.
* ``sync_views`` — registers per-kind and per-edge-pair temp views
  under the reference's table names so the promised SQL surface
  (execute_sql, collect_plugins.py:220-228) works verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from resotodatalink_spark.model.compiler import reported_schema
from resotodatalink_spark.model.kinds import (
    CARZ,
    Kind,
    Model,
    get_link_table_name,
    get_table_name,
)
from resotodatalink_spark.sources.graph import GraphSource, ancestors


def flatten_nodes(nodes: DataFrame, model: Model, kind: Kind) -> DataFrame:
    """Per-kind flattened table from the generic nodes DataFrame."""
    parsed = nodes.filter(F.col("kind") == kind.fqn).select(
        F.col("id").alias("_id"),
        F.from_json("reported", reported_schema(model, kind)).alias("r"),
        ancestors().alias("a"),
    )
    return parsed.select("_id", "r.*", *[F.col(f"a.{c}.reported.id").alias(c) for c in CARZ])


def edge_kinds(source: GraphSource) -> DataFrame:
    """Edges tagged with endpoint kinds: edges ⋈ nodes(id,kind) twice —
    the distributed node_by_chksum lookup.

    No broadcast hint: the (id, kind) projection is small on collector
    graphs but unbounded in general, and a forced hint overrides
    autoBroadcastJoinThreshold so Spark could not fall back on a
    billion-node graph.  AQE picks broadcast at runtime when the
    projection fits (localShuffleReader converts to broadcast-hash);
    otherwise it sort-merge-joins — the only strategy that survives."""
    node_kind = source.nodes.select("id", "kind")
    e = source.default_edges()
    from_k = node_kind.withColumnRenamed("id", "from_id").withColumnRenamed(
        "kind", "from_kind"
    )
    to_k = node_kind.withColumnRenamed("id", "to_id").withColumnRenamed(
        "kind", "to_kind"
    )
    return e.join(from_k, "from_id").join(to_k, "to_id")


def link_tables(source: GraphSource) -> dict[tuple[str, str], DataFrame]:
    """One (from_id, to_id) DataFrame per endpoint-kind pair
    (reference sql.py:190-201).  The set of pairs is a distinct
    aggregation (collect_plugins.py:120-123) — small, so collecting it
    to drive view creation is driver-safe even on huge graphs."""
    tagged = edge_kinds(source)
    pairs = [
        (r["from_kind"], r["to_kind"])
        for r in tagged.select("from_kind", "to_kind").distinct().collect()
    ]
    return {
        (fk, tk): tagged.filter(
            (F.col("from_kind") == fk) & (F.col("to_kind") == tk)
        ).select("from_id", "to_id")
        for fk, tk in pairs
    }


def sync_views(
    spark: SparkSession,
    source: GraphSource,
    model: Model,
) -> dict[str, DataFrame]:
    """Register every kind table and link table as temp views; returns
    name -> DataFrame.  View names follow reference schema_utils.py:28-36.
    Link names truncate each kind to 25 characters, so two kind pairs
    can share one name; that table holds the union of their edges, as
    a delta's link rows do (``operators.incremental._plan``)."""
    out = {
        get_table_name(kind.fqn): flatten_nodes(source.nodes, model, kind)
        for kind in model.table_kinds()
    }
    for (fk, tk), df in link_tables(source).items():
        name = get_link_table_name(fk, tk)
        out[name] = out[name].unionByName(df) if name in out else df
    for name, df in out.items():
        df.createOrReplaceTempView(name)
    return out
