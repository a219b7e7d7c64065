"""Incremental-sync E2E: two generations with exact goldens.

Generation 1 is a full sync (collect_to_files).  Generation 2 ships a
changed-nodes DELTA — one modified node, one new node with its edge,
one deleted node — through sync_delta's MERGE path, and the published
tables must land on exact row goldens (the reference's full-resync
result for the same final graph, per sql_test.py:70-128 semantics,
reached here without rebuilding unchanged tables)."""

from __future__ import annotations

import pytest

import os

from resotodatalink_spark.operators.incremental import sync_delta
from resotodatalink_spark.operators.sync import collect_to_files
from resotodatalink_spark.sinks.files import read_table
from resotodatalink_spark.sources.graph import GraphSource
from tests.fixtures import carz_ancestors, example_docs, example_model

CARZ = ("some_cloud", "some_account", "some_region", "some_zone")


def _gen1(spark, tmp_path) -> str:
    dest = str(tmp_path)
    published = collect_to_files(
        spark, GraphSource.from_docs(spark, example_docs()),
        example_model(), dest,
    )
    assert sorted(published) == [
        "link_some_instance_some_volume", "some_instance", "some_volume",
    ]
    return dest


def _rows(spark, dest, name):
    return sorted(tuple(r) for r in read_table(spark, dest, name).collect())


def test_two_generation_delta_sync_goldens(spark, tmp_path):
    dest = _gen1(spark, tmp_path)
    # generation-1 goldens (reference sql_test.py:119-128)
    assert _rows(spark, dest, "some_instance") == [
        ("i-123", 4, 8, "i-123", "in1", "t1", "h1", *CARZ)
    ]
    assert _rows(spark, dest, "some_volume") == [
        ("v-123", 12, "v-123", "vol1", "t1", "h1", *CARZ)
    ]
    assert _rows(spark, dest, "link_some_instance_some_volume") == [
        ("i-123", "v-123")
    ]

    # generation 2 delta: i-123 modified (cores 4->8, now pointing at a
    # NEW volume v-456 instead of v-123); v-123 deleted.
    delta_docs = [
        {
            "type": "node",
            "id": "i-123",
            "reported": {
                "kind": "some_instance", "id": "i-123", "name": "in1",
                "alias": "t1", "description": "h1", "cores": 8, "memory": 8,
            },
            "ancestors": carz_ancestors(),
        },
        {
            "type": "node",
            "id": "v-456",
            "reported": {
                "kind": "some_volume", "id": "v-456", "name": "vol2",
                "alias": "t2", "description": "h2", "capacity": 20,
            },
            "ancestors": carz_ancestors(),
        },
        {"type": "edge", "from": "i-123", "to": "v-456",
         "edge_type": "default"},
    ]
    delta_docs.append({"type": "deleted", "id": "v-123"})
    stats = sync_delta(
        spark, GraphSource.from_docs(spark, delta_docs), example_model(), dest,
    )

    # exact generation-2 goldens: same rows a full resync of the final
    # graph would produce
    assert _rows(spark, dest, "some_instance") == [
        ("i-123", 8, 8, "i-123", "in1", "t1", "h1", *CARZ)
    ]
    assert _rows(spark, dest, "some_volume") == [
        ("v-456", 20, "v-456", "vol2", "t2", "h2", *CARZ)
    ]
    assert _rows(spark, dest, "link_some_instance_some_volume") == [
        ("i-123", "v-456")
    ]
    assert stats["some_instance"] == {"upserted": 1, "removed": 1}
    # v-456 upserted; v-123 deleted
    assert stats["some_volume"] == {"upserted": 1, "removed": 1}
    # i-123 owns its outbound edges: old (i-123, v-123) replaced
    assert stats["link_some_instance_some_volume"] == {
        "upserted": 1, "removed": 1,
    }


def test_untouched_tables_are_not_rewritten(spark, tmp_path):
    """A delta touching only volumes must not rewrite the instance
    table (the 100 TB win: IO proportional to change, not corpus)."""
    dest = _gen1(spark, tmp_path)
    inst_dir = os.path.join(dest, "some_instance")
    before = {
        f: os.path.getmtime(os.path.join(inst_dir, f))
        for f in os.listdir(inst_dir)
    }
    delta_docs = [
        {
            "type": "node",
            "id": "v-123",
            "reported": {
                "kind": "some_volume", "id": "v-123", "name": "vol1",
                "alias": "t1", "description": "h1", "capacity": 99,
            },
            "ancestors": carz_ancestors(),
        },
    ]
    stats = sync_delta(
        spark, GraphSource.from_docs(spark, delta_docs), example_model(), dest
    )
    assert stats["some_instance"] == {"upserted": 0, "removed": 0}
    assert stats["link_some_instance_some_volume"] == {
        "upserted": 0, "removed": 0,
    }
    after = {
        f: os.path.getmtime(os.path.join(inst_dir, f))
        for f in os.listdir(inst_dir)
    }
    assert before == after, "untouched table was rewritten"
    # the volume update itself landed
    vols = _rows(spark, dest, "some_volume")
    assert len(vols) == 1 and vols[0][1] == 99


def test_new_kind_appears_mid_history(spark, tmp_path):
    """A collector upgrade adds a kind between generations: the delta
    carries the first node of a kind whose table does not exist yet —
    sync_delta must create and publish it without touching the rest."""
    from resotodatalink_spark.model.kinds import Kind, Model, Property

    dest = _gen1(spark, tmp_path)
    base = example_model()
    extended = Model(
        dict(
            base.kinds,
            some_snapshot=Kind(
                "some_snapshot",
                properties=[Property("age_days", "int32")],
                bases=["resource"],
                aggregate_root=True,
            ),
        )
    )
    delta_docs = [{
        "type": "node", "id": "s-1",
        "reported": {"kind": "some_snapshot", "id": "s-1", "name": "snap",
                     "alias": "a", "description": "d", "age_days": 7},
        "ancestors": carz_ancestors(),
    }]
    stats = sync_delta(
        spark, GraphSource.from_docs(spark, delta_docs), extended, dest
    )
    assert stats["some_snapshot"] == {"upserted": 1, "removed": 0}
    snap = _rows(spark, dest, "some_snapshot")
    assert len(snap) == 1 and snap[0][0] == "s-1" and snap[0][1] == 7
    # prior tables untouched
    assert stats["some_instance"] == {"upserted": 0, "removed": 0}
    assert _rows(spark, dest, "some_volume")[0][0] == "v-123"


@pytest.mark.slow  # r13 verdict item 2: long sweep, full tier only
def test_random_delta_sequences_equal_full_resync(spark, tmp_path):
    """Equivalence property: applying k random deltas sequentially must
    land on exactly the tables a FULL resync of the final graph
    produces — the incremental path may never drift from the
    reference's rebuild semantics.  Seeded so failures replay."""
    import random

    rng = random.Random(20260813)

    def vol(vid: str, cap: int) -> dict:
        return {
            "type": "node", "id": vid,
            "reported": {"kind": "some_volume", "id": vid, "name": f"n{vid}",
                         "alias": "a", "description": "d", "capacity": cap},
            "ancestors": carz_ancestors(),
        }

    def inst(iid: str, cores: int) -> dict:
        return {
            "type": "node", "id": iid,
            "reported": {"kind": "some_instance", "id": iid, "name": f"n{iid}",
                         "alias": "a", "description": "d", "cores": cores,
                         "memory": 1},
            "ancestors": carz_ancestors(),
        }

    # live state the generator evolves: instance -> (cores, [volume ids])
    state: dict[str, tuple[int, list[str]]] = {
        f"i-{k}": (1, [f"v-{k}"]) for k in range(4)
    }
    vols: dict[str, int] = {f"v-{k}": 10 for k in range(4)}

    def full_docs() -> list[dict]:
        docs = []
        for iid, (cores, vids) in state.items():
            docs.append(inst(iid, cores))
            for vid in vids:
                docs.append(
                    {"type": "edge", "from": iid, "to": vid,
                     "edge_type": "default"})
        docs += [vol(vid, cap) for vid, cap in vols.items()]
        return docs

    dest = str(tmp_path / "inc")
    os.makedirs(dest)
    collect_to_files(
        spark, GraphSource.from_docs(spark, full_docs()),
        example_model(), dest,
    )

    for step in range(8):
        delta_docs: list[dict] = []
        deleted: list[str] = []
        iid = rng.choice(sorted(state))
        cores, vids = state[iid]
        mutation = rng.choice(["rewire_new", "rewire_existing", "drop_edges"])
        if mutation == "rewire_new":
            # bump cores, rewire to a brand-new volume shipped in the delta
            new_vid = f"v-new-{step}"
            vols[new_vid] = 50 + step
            state[iid] = (cores + 1, [new_vid])
            delta_docs.append(inst(iid, cores + 1))
            delta_docs.append(vol(new_vid, 50 + step))
            delta_docs.append({"type": "edge", "from": iid, "to": new_vid,
                               "edge_type": "default"})
        elif mutation == "rewire_existing":
            # rewire to a volume that is NOT in the delta: the edge's
            # target kind must resolve against the published tables
            # (round-5 advisor case a)
            target = rng.choice(sorted(set(vols) - set(vids)) or sorted(vols))
            state[iid] = (cores + 1, [target])
            delta_docs.append(inst(iid, cores + 1))
            delta_docs.append({"type": "edge", "from": iid, "to": target,
                               "edge_type": "default"})
        else:
            # ALL outbound edges of the changed node vanish: the delta
            # ships the node with zero edge docs, and its stale link
            # rows must still be retracted (round-5 advisor case b)
            state[iid] = (cores + 1, [])
            delta_docs.append(inst(iid, cores + 1))
        # sometimes delete one of the now-orphaned volumes
        still_used = {v for _, vs in state.values() for v in vs}
        orphans = [v for v in vids if v in vols and v not in still_used]
        if orphans and rng.random() < 0.7:
            gone = rng.choice(orphans)
            del vols[gone]
            deleted.append(gone)
        tombstones = [{"type": "deleted", "id": d} for d in deleted]
        sync_delta(
            spark, GraphSource.from_docs(spark, delta_docs + tombstones),
            example_model(), dest,
        )

        # oracle: full resync of the current state into a fresh dir
        ref = str(tmp_path / f"ref-{step}")
        collect_to_files(
            spark, GraphSource.from_docs(spark, full_docs()),
            example_model(), ref,
        )
        for t in ("some_instance", "some_volume",
                  "link_some_instance_some_volume"):
            assert _rows(spark, dest, t) == _rows(spark, ref, t), (
                f"step {step}, table {t} diverged from full resync"
            )


def test_deleting_a_node_drops_inbound_links(spark, tmp_path):
    """Deleting a node with no delta rows still removes its table row
    AND any link rows pointing at it (no dangling edges)."""
    dest = _gen1(spark, tmp_path)
    stats = sync_delta(
        spark, GraphSource.from_docs(spark, [{"type": "deleted", "id": "v-123"}]),
        example_model(), dest,
    )
    assert _rows(spark, dest, "some_volume") == []
    assert _rows(spark, dest, "link_some_instance_some_volume") == []
    assert stats["some_volume"] == {"upserted": 0, "removed": 1}
    assert stats["link_some_instance_some_volume"] == {
        "upserted": 0, "removed": 1,
    }
    # instance untouched
    assert stats["some_instance"] == {"upserted": 0, "removed": 0}


def test_changed_node_with_all_edges_vanished_retracts_links(spark, tmp_path):
    """A changed node whose outbound edges ALL disappeared ships with
    zero edge docs; its stale link rows must still be retracted (the
    round-5 advisor's high finding, case b)."""
    dest = _gen1(spark, tmp_path)
    delta_docs = [{
        "type": "node", "id": "i-123",
        "reported": {"kind": "some_instance", "id": "i-123", "name": "in1",
                     "alias": "t1", "description": "h1", "cores": 9,
                     "memory": 8},
        "ancestors": carz_ancestors(),
    }]
    stats = sync_delta(
        spark, GraphSource.from_docs(spark, delta_docs), example_model(), dest
    )
    assert _rows(spark, dest, "link_some_instance_some_volume") == []
    assert stats["link_some_instance_some_volume"] == {
        "upserted": 0, "removed": 1,
    }
    # the volume itself survives (only the edge vanished)
    assert len(_rows(spark, dest, "some_volume")) == 1


def test_delta_edge_to_unchanged_node_resolves(spark, tmp_path):
    """A delta edge whose TARGET is an unchanged node (absent from the
    delta) must still land in the link table: endpoint kinds resolve
    against the published tables (round-5 advisor case a)."""
    dest = _gen1(spark, tmp_path)
    delta_docs = [
        {
            "type": "node", "id": "i-999",
            "reported": {"kind": "some_instance", "id": "i-999",
                         "name": "in9", "alias": "t9", "description": "h9",
                         "cores": 2, "memory": 4},
            "ancestors": carz_ancestors(),
        },
        # target v-123 is NOT in the delta — it is unchanged
        {"type": "edge", "from": "i-999", "to": "v-123",
         "edge_type": "default"},
    ]
    sync_delta(
        spark, GraphSource.from_docs(spark, delta_docs), example_model(), dest
    )
    assert _rows(spark, dest, "link_some_instance_some_volume") == [
        ("i-123", "v-123"), ("i-999", "v-123"),
    ]


def test_kind_change_sweeps_old_table(spark, tmp_path):
    """A node whose kind changes between generations must leave no
    stale row in the old kind's table (round-5 advisor low finding):
    the sweep keys on the delta's full changed-id set, not the per-view
    key set."""
    dest = _gen1(spark, tmp_path)
    # v-123 is reborn as an instance under the same id
    delta_docs = [{
        "type": "node", "id": "v-123",
        "reported": {"kind": "some_instance", "id": "v-123", "name": "nx",
                     "alias": "a", "description": "d", "cores": 1,
                     "memory": 1},
        "ancestors": carz_ancestors(),
    }]
    stats = sync_delta(
        spark, GraphSource.from_docs(spark, delta_docs), example_model(), dest
    )
    assert _rows(spark, dest, "some_volume") == []  # no stale old-kind row
    ids = [r[0] for r in _rows(spark, dest, "some_instance")]
    assert sorted(ids) == ["i-123", "v-123"]
    assert stats["some_volume"] == {"upserted": 0, "removed": 1}


def test_node_index_resolution_and_maintenance(spark, tmp_path):
    """collect_to_files publishes _node_index; a delta
    then resolves edge endpoints against that ONE table (no per-kind
    scans) and advances it in the same publish pass — after arbitrary
    deltas the index must equal the live node set exactly."""
    from resotodatalink_spark.operators.sync import collect_to_files
    from resotodatalink_spark.sinks.files import NODE_INDEX

    dest = str(tmp_path)
    published = collect_to_files(
        spark, GraphSource.from_docs(spark, example_docs()),
        example_model(), dest, node_index=True,
    )
    assert NODE_INDEX not in published  # the SQL surface only
    assert os.path.isdir(os.path.join(dest, NODE_INDEX))
    idx0 = {(r.id, r.kind) for r in read_table(spark, dest, NODE_INDEX).collect()}
    assert idx0 == {("i-123", "some_instance"), ("v-123", "some_volume")}

    # delta: new instance pointing at the UNCHANGED v-123 (endpoint
    # must resolve via the index), v-123's kind unchanged; delete i-123
    delta_docs = [
        {
            "type": "node", "id": "i-999",
            "reported": {"kind": "some_instance", "id": "i-999",
                         "name": "in9", "alias": "t9", "description": "h9",
                         "cores": 2, "memory": 4},
            "ancestors": carz_ancestors(),
        },
        {"type": "edge", "from": "i-999", "to": "v-123",
         "edge_type": "default"},
    ]
    delta_docs.append({"type": "deleted", "id": "i-123"})
    sync_delta(
        spark, GraphSource.from_docs(spark, delta_docs), example_model(), dest,
    )
    assert _rows(spark, dest, "link_some_instance_some_volume") == [
        ("i-999", "v-123")
    ]
    idx1 = {(r.id, r.kind) for r in read_table(spark, dest, NODE_INDEX).collect()}
    assert idx1 == {("i-999", "some_instance"), ("v-123", "some_volume")}

    # kind change with the index live: index follows the new kind
    delta2 = [{
        "type": "node", "id": "v-123",
        "reported": {"kind": "some_instance", "id": "v-123", "name": "nx",
                     "alias": "a", "description": "d", "cores": 1,
                     "memory": 1},
        "ancestors": carz_ancestors(),
    }]
    sync_delta(
        spark, GraphSource.from_docs(spark, delta2), example_model(), dest
    )
    idx2 = {(r.id, r.kind) for r in read_table(spark, dest, NODE_INDEX).collect()}
    assert idx2 == {("i-999", "some_instance"), ("v-123", "some_instance")}
    assert _rows(spark, dest, "some_volume") == []
