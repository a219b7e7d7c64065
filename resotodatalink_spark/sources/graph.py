"""Graph source: node/edge JSON documents -> DataFrames.

The reference ingests a stream of prepared JSON docs — nodes
``{type:"node", id, reported:{kind,...}, ancestors:{...}}`` and edges
``{type:"edge", from, to, edge_type}`` (schema_utils.py:66-85,
sql_test.py:71-107) — from either an in-process collector plugin
(collect_plugins.py:30-68) or a resotocore server stream
(remote_graph.py:59-91); a delta adds tombstones ``{type:"deleted", id}``.

Spark-first shape: ONE nodes DataFrame for all kinds, keeping
``reported`` as raw JSON text plus the extracted ``kind`` — per-kind
projection parses it with the model-derived schema lazily
(operators/flatten.py).  This is the scale answer to "thousands of
kinds": no per-kind driver loop at ingest, kind is just a partition
column.  This module alone decodes the doc protocol: ``parse_docs``
parses each doc once with ``json_tuple`` (object values stay JSON
text; a duplicate key takes its last value, as ``json.loads`` does),
and ``ancestors`` parses the ancestors layout once.
"""

from __future__ import annotations

import json
from collections.abc import Iterable
from typing import Any

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from resotodatalink_spark.model.kinds import CARZ

NODE_COLS = ("id", "kind", "reported", "ancestors")
EDGE_COLS = ("from_id", "to_id", "edge_type")
DELETED_TYPE = "deleted"
# the ancestors layout (reference sql.py:231-234, remote_graph.py:71-78)
ANCESTORS = ", ".join(f"{k} struct<reported: struct<id: string, name: string>>" for k in CARZ)


def ancestors() -> Column:
    """Nodes' ``ancestors`` parsed once: ``[key]["reported"]["id"]`` and
    ``["name"]`` per ``CARZ`` key (JSON text for a number or object)."""
    return F.from_json("ancestors", ANCESTORS)


def local_frame(spark: SparkSession, **columns: list) -> DataFrame:
    """Driver-side string columns as one DataFrame, built in one JVM
    call from an Arrow table (a parallelized list would run Python
    tasks on every read).  The one way the sync path turns driver rows
    into a frame."""
    return spark.createDataFrame(
        pa.table({c: pa.array(v, pa.string()) for c, v in columns.items()})
    )


class GraphSource:
    """nodes: (id, kind, reported<json str>, ancestors<json str>)
    edges: (from_id, to_id, edge_type)
    deleted: (id) of the tombstones, by default none"""

    def __init__(self, nodes: DataFrame, edges: DataFrame, deleted: DataFrame | None = None):
        self.nodes = nodes
        self.edges = edges
        self.deleted = nodes.select("id").limit(0) if deleted is None else deleted

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
        """Every envelope field of every doc, each doc parsed once:
        (type, id, kind, reported, ancestors, from_id, to_id, edge_type).
        A doc leaves the fields of the other doc types NULL; ``id`` is
        also the id of a ``deleted`` tombstone."""
        envelope = raw.select(
            F.json_tuple("doc", "type", "id", "reported", "ancestors", "from", "to", "edge_type")
            .alias("type", "id", "reported", "ancestors", *EDGE_COLS)
        )
        kind = F.get_json_object("reported", "$.kind").alias("kind")
        return envelope.select("type", "id", kind, "reported", "ancestors", *EDGE_COLS)

    @staticmethod
    def from_parsed(parsed: DataFrame) -> "GraphSource":
        """Nodes, edges and tombstone ids of a ``parse_docs`` frame."""
        of = lambda t: parsed.filter(F.col("type") == t)  # noqa: E731
        return GraphSource(
            of("node").select(*NODE_COLS),
            of("edge").select(*EDGE_COLS),
            of(DELETED_TYPE).select("id"),
        )

    @staticmethod
    def _split(raw: DataFrame) -> "GraphSource":
        return GraphSource.from_parsed(GraphSource.parse_docs(raw))

    def default_edges(self) -> DataFrame:
        """Keep only EdgeType.default edges (collect_plugins.py:45-47)."""
        return self.edges.filter(F.col("edge_type") == "default")
