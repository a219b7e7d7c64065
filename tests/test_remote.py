"""Remote graph source round-trip (S2) — mirrors reference
tests/remote_graph_test.py:11-25: serialize the example graph as a
node/edge NDJSON stream, rebuild through the streaming adapter, and
assert node/edge counts survive."""

from __future__ import annotations

import json
import socket
import threading

from resotodatalink_spark.operators.flatten import sync_views
from resotodatalink_spark.sources.remote import (
    read_spooled_graph,
    stitch,
    stream_graph_dir,
    stream_graph_socket,
)
from tests.conftest import drain_all_available
from tests.fixtures import example_docs, example_model


def _ndjson(docs) -> str:
    return "\n".join(json.dumps(d) for d in docs) + "\n"


def test_remote_roundtrip_dir_stream(spark, tmp_path):
    docs = example_docs()
    src = tmp_path / "stream"
    src.mkdir()
    # chunked arrival: two NDJSON chunk files, as a spooling server writes
    (src / "chunk-000.ndjson").write_text(_ndjson(docs[:2]))
    (src / "chunk-001.ndjson").write_text(_ndjson(docs[2:]))
    g = stream_graph_dir(
        spark, str(src), str(tmp_path / "ckpt"), str(tmp_path / "spool")
    )
    g = stitch(g)
    assert g.nodes.count() == 2
    assert g.edges.count() == 1
    # the rebuilt source feeds the existing sync path unchanged
    views = sync_views(spark, g, example_model())
    assert views["some_instance"].count() == 1
    assert views["some_volume"].count() == 1


def test_remote_roundtrip_socket_stream(spark, tmp_path):
    docs = example_docs()
    payload = _ndjson(docs).encode()

    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    server.listen(1)
    port = server.getsockname()[1]
    done = threading.Event()

    def serve():
        conn, _ = server.accept()
        conn.sendall(payload)
        done.wait(timeout=60)  # hold the connection until the query drained
        conn.close()
        server.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    q = stream_graph_socket(
        spark, "127.0.0.1", port, str(tmp_path / "ckpt"), str(tmp_path / "spool")
    )
    try:
        drain_all_available(q)
    finally:
        done.set()
        q.stop()
        t.join(timeout=10)
    g = stitch(read_spooled_graph(spark, str(tmp_path / "spool")))
    assert g.nodes.count() == 2
    assert g.edges.count() == 1


def test_stitch_synthesizes_named_ancestors_and_drops_dangling(spark, tmp_path):
    """Ancestors with BOTH id and name become synthetic nodes (reference
    set_carz guard); edges to unknown ids are dropped (lookup.get)."""
    docs = [
        {
            "type": "node",
            "id": "i-1",
            "reported": {"kind": "some_instance", "id": "i-1", "name": "n1"},
            "ancestors": {
                "cloud": {"reported": {"id": "aws", "name": "AWS"}},
                "region": {"reported": {"id": "us-east-1"}},  # no name: skipped
            },
        },
        {"type": "edge", "from": "i-1", "to": "aws", "edge_type": "default"},
        {"type": "edge", "from": "i-1", "to": "ghost", "edge_type": "default"},
    ]
    src = tmp_path / "stream"
    src.mkdir()
    (src / "chunk-000.ndjson").write_text(_ndjson(docs))
    g = stitch(
        stream_graph_dir(
            spark, str(src), str(tmp_path / "ckpt"), str(tmp_path / "spool")
        )
    )
    nodes = {r["id"]: r["kind"] for r in g.nodes.collect()}
    assert nodes == {"i-1": "some_instance", "aws": "cloud"}
    edges = {(r["from_id"], r["to_id"]) for r in g.edges.collect()}
    assert edges == {("i-1", "aws")}
