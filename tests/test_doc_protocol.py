"""The doc protocol is decoded in one place, ``sources/graph.py``: each
doc's envelope with one ``json_tuple`` (``GraphSource.parse_docs``) and
each node's ancestors with one ``from_json`` (``ancestors``).  Both are
compared here with the per-field ``get_json_object`` projections they
replaced, which the tests keep as their oracles, on edge-case docs."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from resotodatalink_spark.model.kinds import CARZ
from resotodatalink_spark.sources.graph import GraphSource, ancestors, local_frame

EDGE_CASE_DOCS = [
    json.dumps(
        {"type": "node", "id": "ü-1", "reported": {"kind": "k", "name": "naïve ☃"},
         "ancestors": {"cloud": {"reported": {"id": "c", "name": "C"}}}},
        ensure_ascii=False,
    ),
    json.dumps(
        {"type": "node", "id": 'q"1', "reported": {"kind": "k", "name": 'say "hi"'},
         "ancestors": None}
    ),
    '{"type": "node", "id": "big", "reported": {"kind": "k", "n": 12345678901234567890}}',
    '{"type": "node", "id": "arr", "reported": {"kind": "k", "tags": [[1, 2], [3, [4]]]},'
    ' "ancestors": [1, 2]}',
    '  {  "type" : "edge" ,  "from" : "a" , "to" : "b" , "edge_type" : "default" }  ',
    '{"type": "node", "id": ',
    '{"type": "deleted", "id": "gone-1"}',
    '{"type": "node", "id": 7, "reported": "not an object"}',
    "[1, 2]",
]

# the same node id twice in one doc
DUPLICATE_KEY_DOC = '{"type": "node", "id": "first", "id": "last", "reported": {"kind": "k"}}'

EDGE_CASE_ANCESTORS = [
    '{"cloud": {"reported": {"id": "c", "name": "C"}}, "zone": {"reported": {"id": "z"}}}',
    '{"cloud": {"reported": {"id": 123, "name": 4.5}}}',
    '{"cloud": {"reported": {"id": {"x": [1, 2]}, "name": [1, "a"]}}}',
    '{"cloud": {"reported": {"id": null, "name": "n"}}}',
    "null",
    None,
    "garbage",
    '[{"cloud": {"reported": {"id": "c"}}}]',
    '{"cloud": null}',
    '{"cloud": {"reported": "x"}}',
    ' { "region" : { "reported" : { "id" : "r ü" , "name" : true } } } ',
    '{"account": {"reported": {"id": 1e400}}}',
]


def _oracle(raw):
    """The envelope projection ``parse_docs`` replaced: one
    ``get_json_object`` per field, each parsing the whole doc."""
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


def test_envelope_parse_equals_the_per_field_projection(spark):
    raw = local_frame(spark, doc=EDGE_CASE_DOCS)
    parsed = GraphSource.parse_docs(raw)
    oracle = _oracle(raw)
    assert parsed.schema == oracle.schema
    assert sorted(map(tuple, parsed.collect()), key=repr) == sorted(
        map(tuple, oracle.collect()), key=repr
    )


def test_duplicate_key_takes_its_last_value(spark):
    """``json_tuple`` keeps a duplicate key's last value, as the
    reference's collector does when ``json.loads`` reads the doc;
    ``get_json_object`` kept the first."""
    raw = local_frame(spark, doc=[DUPLICATE_KEY_DOC])
    assert GraphSource.parse_docs(raw).first()["id"] == json.loads(DUPLICATE_KEY_DOC)["id"]
    assert _oracle(raw).first()["id"] == "first"


def test_ancestors_parse_equals_the_per_field_projection(spark):
    nodes = local_frame(spark, ancestors=EDGE_CASE_ANCESTORS)
    fields = [(k, f) for k in CARZ for f in ("id", "name")]
    parsed = nodes.select(*[ancestors()[k]["reported"][f] for k, f in fields])
    oracle = nodes.select(
        *[F.get_json_object("ancestors", f"$.{k}.reported.{f}") for k, f in fields]
    )
    assert list(map(tuple, parsed.collect())) == list(map(tuple, oracle.collect()))
    # a duplicate key takes its last value here too
    dup = local_frame(spark, ancestors=['{"cloud": {"reported": {"id": "a", "id": "b"}}}'])
    assert dup.select(ancestors()["cloud"]["reported"]["id"]).first()[0] == "b"


def test_tombstones_are_docs(spark):
    """``from_docs`` returns the tombstone ids as ``deleted``; a source
    built from frames has an empty ``deleted`` of its own."""
    raw = local_frame(spark, doc=EDGE_CASE_DOCS)
    source = GraphSource.from_parsed(GraphSource.parse_docs(raw))
    assert [r.id for r in source.deleted.collect()] == ["gone-1"]
    assert GraphSource(source.nodes, source.edges).deleted.collect() == []
