"""Remote graph source: NDJSON node/edge stream -> GraphSource (S2).

The reference's RemoteGraphCollector (reference remote_graph.py:59-91)
pulls a node/edge JSON iterator from a resotocore server and rebuilds
the graph driver-side: a ``lookup`` dict resolves edge endpoints, and
``set_carz`` (remote_graph.py:71-78) synthesizes ancestor resources
(cloud/account/region/zone with both id and name) so later references
resolve.  That design holds the whole graph in one process.

Spark-first restatement — the stream lands distributed and nothing
graph-sized ever sits on the driver:

* transport: Structured Streaming.  ``stream_graph_dir`` treats a
  directory of chunked NDJSON files as the stream (the resilient shape
  for server hand-off: the server spools chunks, Spark drains with
  ``Trigger.AvailableNow`` and stops at end-of-stream — the T3 drain
  semantic).  ``stream_graph_socket`` is the live-wire variant
  (``format("socket")``) for an actual server connection; sockets have
  no EOS marker, so the caller drains with ``processAllAvailable``.
* per-batch, docs are split into node/edge parquet appends (same
  ``GraphSource._split`` projection as the batch path) — executors do
  the JSON work, the driver only schedules.
* ``stitch`` replaces the lookup dict with joins: ancestor synthesis is
  a distinct-aggregate over the ancestors (``sources.graph.ancestors``,
  one parse per node) anti-joined against existing node ids, and edge
  resolution is two semi-joins against the (stitched) node ids — the
  reference's ``lookup.get(js["from"])`` guard (remote_graph.py:85-87),
  expressed as a shuffle instead of a driver dict.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from resotodatalink_spark.sources.graph import GraphSource, ancestors

# Reference remote_graph.py:34: carz = {cloud: Cloud, account:
# UnknownAccount, region: UnknownRegion, zone: UnknownZone} — the
# synthetic kind per ancestor key.
ANCESTOR_KINDS = {
    "cloud": "cloud",
    "account": "unknown_account",
    "region": "unknown_region",
    "zone": "unknown_zone",
}


def _sink(dest_dir: str):
    """foreachBatch handler: split each micro-batch of raw NDJSON docs
    and append to the nodes/edges parquet spool."""

    def handle(batch_df: DataFrame, _batch_id: int) -> None:
        src = GraphSource._split(batch_df.select(F.col("value").alias("doc")))
        src.nodes.write.mode("append").parquet(os.path.join(dest_dir, "nodes"))
        src.edges.write.mode("append").parquet(os.path.join(dest_dir, "edges"))

    return handle


def stream_graph_dir(
    spark: SparkSession, src_dir: str, checkpoint_dir: str, dest_dir: str
) -> GraphSource:
    """Drain a directory of chunked NDJSON files (the spooled remote
    stream) with AvailableNow and return the landed GraphSource."""
    raw = spark.readStream.text(src_dir)
    (
        raw.writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_sink(dest_dir))
        .start()
        .awaitTermination()
    )
    return read_spooled_graph(spark, dest_dir)


def stream_graph_socket(
    spark: SparkSession, host: str, port: int, checkpoint_dir: str, dest_dir: str
) -> StreamingQuery:
    """Live socket variant: returns the running query.  Sockets carry no
    end-of-stream marker, so the caller decides when the server is done
    (``q.processAllAvailable(); q.stop()``), then reads the spool with
    ``read_spooled_graph``."""
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", str(port))
        .load()
    )
    return (
        raw.writeStream.option("checkpointLocation", checkpoint_dir)
        .foreachBatch(_sink(dest_dir))
        .start()
    )


def read_spooled_graph(spark: SparkSession, dest_dir: str) -> GraphSource:
    """GraphSource over a spool produced by either stream adapter."""
    return GraphSource(
        spark.read.parquet(os.path.join(dest_dir, "nodes")),
        spark.read.parquet(os.path.join(dest_dir, "edges")),
    )


def stitch(source: GraphSource) -> GraphSource:
    """Ancestor stitching + edge resolution (reference
    remote_graph.py:71-91), distributed.

    1. For each ancestor key with BOTH id and name in a node's
       ancestors JSON (the reference's guard), synthesize a node of the
       mapped kind — distinct per id, and only when no real node with
       that id arrived (anti join == the lookup dict's insert-if-absent).
    2. Keep only edges whose endpoints resolve against the stitched
       node set (two semi-joins == the reference's lookup.get guards).
    """
    a = F.col("a")
    carz = [
        F.struct(a[k]["reported"]["id"], a[k]["reported"]["name"], F.lit(kind).alias("kind"))
        for k, kind in ANCESTOR_KINDS.items()
    ]
    anc = (
        source.nodes.select(ancestors().alias("a"))
        .select(F.inline(F.array(*carz)))
        .filter(F.col("id").isNotNull() & F.col("name").isNotNull())
    )
    synthetic = (
        anc.groupBy("id")
        .agg(F.min("kind").alias("kind"), F.min("name").alias("name"))
        .join(source.nodes.select("id"), "id", "left_anti")
        .select(
            "id",
            "kind",
            F.to_json(
                F.struct(F.col("id"), F.col("name"), F.col("kind"))
            ).alias("reported"),
            F.lit(None).cast("string").alias("ancestors"),
        )
    )
    nodes = source.nodes.unionByName(synthetic)
    ids = nodes.select("id")
    edges = (
        source.edges.join(
            ids.withColumnRenamed("id", "from_id"), "from_id", "left_semi"
        ).join(ids.withColumnRenamed("id", "to_id"), "to_id", "left_semi")
    )
    return GraphSource(nodes, edges)
