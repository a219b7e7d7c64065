"""Graph source: node/edge JSON documents -> two DataFrames.

The reference ingests a stream of prepared JSON docs — nodes
``{type:"node", id, reported:{kind,...}, ancestors:{...}}`` and edges
``{type:"edge", from, to, edge_type}`` (schema_utils.py:66-85,
sql_test.py:71-107) — from either an in-process collector plugin
(collect_plugins.py:30-68) or a resotocore server stream
(remote_graph.py:59-91).

Spark-first shape: ONE nodes DataFrame for all kinds, keeping
``reported`` as raw JSON text plus the extracted ``kind`` — per-kind
projection parses it with the model-derived schema lazily
(operators/flatten.py).  This is the scale answer to "thousands of
kinds": no per-kind driver loop at ingest, kind is just a partition
column.  ``get_json_object`` is used for envelope fields so object
values survive as JSON text regardless of their schema.
"""

from __future__ import annotations

import json
from collections.abc import Iterable
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

NODE_COLS = ("id", "kind", "reported", "ancestors")
EDGE_COLS = ("from_id", "to_id", "edge_type")


def local_frame(spark: SparkSession, **columns: list) -> DataFrame:
    """Driver-side string columns as one DataFrame, built in one JVM
    call from an Arrow table (a parallelized list would run Python
    tasks on every read).  The one way the sync path turns driver rows
    into a frame."""
    return spark.createDataFrame(
        pa.table({c: pa.array(v, pa.string()) for c, v in columns.items()})
    )


class GraphSource:
    """nodes_df: (id, kind, reported<json str>, ancestors<json str>)
    edges_df: (from_id, to_id, edge_type)"""

    def __init__(self, nodes: DataFrame, edges: DataFrame):
        self.nodes = nodes
        self.edges = edges

    @staticmethod
    def from_json_lines(spark: SparkSession, path: str) -> "GraphSource":
        """NDJSON file(s) of mixed node/edge docs — the remote-graph
        stream shape (remote_graph.py:59-91), distributed read."""
        raw = spark.read.text(path).select(F.col("value").alias("doc"))
        return GraphSource._split(raw)

    @staticmethod
    def from_docs(
        spark: SparkSession, docs: Iterable[dict[str, Any]]
    ) -> "GraphSource":
        """In-memory docs (collector-plugin path, collect_plugins.py:30-68)
        as one ``doc`` string column built by ``local_frame``.  For
        small graphs; big graphs come via files (``from_json_lines``)."""
        return GraphSource._split(local_frame(spark, doc=[json.dumps(d) for d in docs]))

    @staticmethod
    def parse_docs(raw: DataFrame) -> DataFrame:
        """Every envelope field of every doc in one projection:
        (type, id, kind, reported, ancestors, from_id, to_id, edge_type).
        A doc leaves the fields of the other doc types NULL; ``id`` is
        also the id of a ``deleted`` tombstone."""
        field = lambda path: F.get_json_object("doc", path)  # noqa: E731
        return raw.select(
            field("$.type").alias("type"),
            field("$.id").alias("id"),
            field("$.reported.kind").alias("kind"),
            field("$.reported").alias("reported"),
            field("$.ancestors").alias("ancestors"),
            field("$.from").alias("from_id"),
            field("$.to").alias("to_id"),
            field("$.edge_type").alias("edge_type"),
        )

    @staticmethod
    def from_parsed(parsed: DataFrame) -> "GraphSource":
        """Nodes and edges of a ``parse_docs`` frame."""
        return GraphSource(
            parsed.filter(F.col("type") == "node").select(*NODE_COLS),
            parsed.filter(F.col("type") == "edge").select(*EDGE_COLS),
        )

    @staticmethod
    def _split(raw: DataFrame) -> "GraphSource":
        return GraphSource.from_parsed(GraphSource.parse_docs(raw))

    def default_edges(self) -> DataFrame:
        """Keep only EdgeType.default edges (collect_plugins.py:45-47)."""
        return self.edges.filter(F.col("edge_type") == "default")
