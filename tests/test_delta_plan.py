"""The planned delta merge: Spark jobs per generation, untouched tables
left unread, equivalence with a full resync over several generations,
file counts held, a model that gained a property or a kind, nodes only
the node index knows, a destination without an index, link pairs that
share one truncated name, a destination published in another format,
a full resync between deltas, a delta replayed after a crash during its
publish, one publish call per generation with the node index last, a
`file:` URI destination, a batch of docs that runs no job of its own,
and the concurrently staged writes: the caller's job group on every
job, and a failed write that publishes nothing."""

from __future__ import annotations

import json
import os
import shutil
import warnings

import pytest

from resotodatalink_spark.model.kinds import Kind, Model, Property
from resotodatalink_spark.operators import incremental, sync
from resotodatalink_spark.operators.incremental import sync_delta
from resotodatalink_spark.operators.sync import collect_to_files
from resotodatalink_spark.sinks.files import NODE_INDEX, read_table, swap_staging
from resotodatalink_spark.sources.graph import GraphSource, local_frame
from resotodatalink_spark.streaming.delta_sync import apply_delta_batch
from tests.fixtures import carz_ancestors, example_docs, example_model

# Spark jobs one volume-only generation runs on the fixture graph: the
# planning collect and the broadcast of its ids, then a broadcast of the
# swept ids and a write each for the volume table and the node index.
JOBS_PER_VOLUME_DELTA = 6


def _rows(spark, dest, name):
    if not os.path.isdir(os.path.join(dest, name)):
        return []  # a table a full sync would not publish holds no rows
    return sorted(tuple(r) for r in read_table(spark, dest, name).collect())


def _tables(dest):
    return {e for e in os.listdir(dest) if not e.endswith(("__staging", "__old"))}


def _data_files(dest, name):
    return [f for f in os.listdir(os.path.join(dest, name)) if f.endswith(".parquet")]


def _mtimes(dest, name):
    d = os.path.join(dest, name)
    return {f: os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d)}


def _inst(iid, cores):
    return {
        "type": "node", "id": iid,
        "reported": {"kind": "some_instance", "id": iid, "name": f"n{iid}",
                     "alias": "a", "description": "d", "cores": cores,
                     "memory": 1},
        "ancestors": carz_ancestors(),
    }


def _vol(vid, cap):
    return {
        "type": "node", "id": vid,
        "reported": {"kind": "some_volume", "id": vid, "name": f"n{vid}",
                     "alias": "a", "description": "d", "capacity": cap},
        "ancestors": carz_ancestors(),
    }


def _node(nid, kind):
    return {
        "type": "node", "id": nid,
        "reported": {"kind": kind, "id": nid, "name": f"n{nid}"},
        "ancestors": carz_ancestors(),
    }


def _edge(a, b):
    return {"type": "edge", "from": a, "to": b, "edge_type": "default"}


def _gone(nid):
    return {"type": "deleted", "id": nid}


def _assert_full_sync_of(spark, dest, docs, ref):
    """Every table under ``dest``, the node index included, equals a
    fresh full sync of ``docs`` written to ``ref``."""
    collect_to_files(
        spark, GraphSource.from_docs(spark, docs), example_model(), ref
    )
    for t in sorted(_tables(dest) | _tables(ref)):
        assert _rows(spark, dest, t) == _rows(spark, ref, t), t


def test_volume_delta_job_count_and_untouched_tables(spark, tmp_path):
    """One generation that changes a volume runs a pinned number of
    Spark jobs, and the instance table, outside the affected set, is
    neither read nor rewritten."""
    dest = str(tmp_path)
    collect_to_files(
        spark, GraphSource.from_docs(spark, example_docs()), example_model(),
        dest,
    )
    before = _mtimes(dest, "some_instance")
    sc = spark.sparkContext
    group = f"delta-{tmp_path.name}"
    sc.setJobGroup(group, "one volume-only delta generation")
    try:
        stats = sync_delta(
            spark, GraphSource.from_docs(spark, [_vol("v-123", 99)]),
            example_model(), dest,
        )
    finally:
        sc.setJobGroup("tests", "tests")
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= JOBS_PER_VOLUME_DELTA, f"{jobs} Spark jobs for one generation"
    assert stats == {
        "some_instance": {"upserted": 0, "removed": 0},
        "some_volume": {"upserted": 1, "removed": 1},
        "link_some_instance_some_volume": {"upserted": 0, "removed": 0},
    }
    assert _mtimes(dest, "some_instance") == before
    assert _rows(spark, dest, "some_volume")[0][1] == 99


@pytest.mark.parametrize("kind", ["plain", "uri"])
def test_affected_table_that_merges_to_no_change_is_discarded(spark, tmp_path, kind):
    """A changed instance without edges makes its link table affected;
    the merge removes and adds nothing, so its staged copy is deleted
    unpublished and the published table is left as it was."""
    dest = str(tmp_path)
    base = [_inst("i-1", 1), _inst("i-2", 2), _vol("v-1", 10), _edge("i-1", "v-1")]
    collect_to_files(spark, GraphSource.from_docs(spark, base), example_model(), dest)
    link = "link_some_instance_some_volume"
    before = _mtimes(dest, link)
    stats = sync_delta(
        spark, GraphSource.from_docs(spark, [_inst("i-2", 5)]), example_model(),
        dest if kind == "plain" else "file:" + dest,
    )
    assert stats[link] == {"upserted": 0, "removed": 0}
    assert not [e for e in os.listdir(dest) if e.endswith("__staging")]
    assert _mtimes(dest, link) == before


def test_three_generations_equal_full_resync(spark, tmp_path):
    """Three generations on an indexed destination: kind changes, a
    tombstone with inbound links, an edge to an unchanged node, and a
    changed node whose edges all vanish.  After each one every table
    equals a fresh full sync of the graph, and no table holds more data
    files than the base publish wrote."""
    nodes = {
        **{f"i-{k}": _inst(f"i-{k}", 1) for k in (1, 2, 3)},
        **{f"v-{k}": _vol(f"v-{k}", 10) for k in (1, 2, 3)},
    }
    edges = {("i-1", "v-1"), ("i-1", "v-2"), ("i-2", "v-2"), ("i-3", "v-3")}

    def graph():
        return list(nodes.values()) + [_edge(a, b) for a, b in sorted(edges)]

    def shipped(*ids):
        return [nodes[i] for i in ids] + [
            _edge(a, b) for a, b in sorted(edges) if a in ids
        ]

    def gen1():
        # v-3 becomes an instance; its predecessor i-3 is re-shipped, as
        # it owns the link that now points at an instance.  i-2 links to
        # v-1, which the delta does not carry.
        nodes["v-3"] = _inst("v-3", 5)
        nodes["i-2"] = _inst("i-2", 2)
        edges.add(("i-2", "v-1"))
        return shipped("v-3", "i-3", "i-2"), []

    def gen2():
        # v-2 dies with two inbound links; i-3 loses its only edge
        del nodes["v-2"]
        edges.difference_update({("i-1", "v-2"), ("i-2", "v-2"), ("i-3", "v-3")})
        nodes["i-3"] = _inst("i-3", 3)
        return shipped("i-3"), ["v-2"]

    def gen3():
        # i-2 becomes a volume that keeps its edge; a new instance
        # links to v-1; i-1 dies
        nodes["i-2"] = _vol("i-2", 20)
        nodes["i-4"] = _inst("i-4", 4)
        edges.add(("i-4", "v-1"))
        del nodes["i-1"]
        edges.discard(("i-1", "v-1"))
        return shipped("i-2", "i-4"), ["i-1"]

    dest = str(tmp_path / "inc")
    collect_to_files(
        spark, GraphSource.from_docs(spark, graph()), example_model(), dest,
    )
    base_files = {t: len(_data_files(dest, t)) for t in _tables(dest)}
    for step, make in enumerate((gen1, gen2, gen3), 1):
        delta, deleted = make()
        sync_delta(
            spark, GraphSource.from_docs(spark, delta + [_gone(d) for d in deleted]),
            example_model(), dest,
        )
        ref = str(tmp_path / f"ref-{step}")
        collect_to_files(
            spark, GraphSource.from_docs(spark, graph()), example_model(), ref,
        )
        for t in sorted(_tables(dest) | _tables(ref)):
            assert _rows(spark, dest, t) == _rows(spark, ref, t), (step, t)
        for t, n in base_files.items():
            assert len(_data_files(dest, t)) <= n, (step, t)


def test_model_gains_a_property_between_generations(spark, tmp_path):
    """A delta published under a model whose kind gained a property
    adds the column, in the new model's column order, NULL in the rows
    the delta did not touch — what a full sync under that model gives."""
    dest = str(tmp_path / "inc")
    collect_to_files(
        spark, GraphSource.from_docs(spark, example_docs()), example_model(),
        dest,
    )
    base = example_model()
    vol = base.kinds["some_volume"]
    grown = Model(dict(base.kinds, some_volume=Kind(
        "some_volume",
        properties=[*vol.properties, Property("iops", "int32")],
        bases=vol.bases, aggregate_root=True,
    )))
    new_vol = _vol("v-456", 20)
    new_vol["reported"]["iops"] = 3000
    stats = sync_delta(
        spark, GraphSource.from_docs(spark, [new_vol]), grown, dest
    )
    assert stats["some_volume"] == {"upserted": 1, "removed": 0}

    ref = str(tmp_path / "ref")
    collect_to_files(
        spark, GraphSource.from_docs(spark, example_docs() + [new_vol]),
        grown, ref,
    )
    got = read_table(spark, dest, "some_volume")
    assert got.columns == read_table(spark, ref, "some_volume").columns
    assert "iops" in got.columns
    assert _rows(spark, dest, "some_volume") == _rows(spark, ref, "some_volume")


def test_model_gains_a_kind_between_generations(spark, tmp_path):
    """A delta published under a model that gained a table kind
    publishes that kind's table, empty because the delta has no rows
    for it, as a full sync of the final graph under that model does:
    the same table set, and in every table the same columns, types and
    rows."""
    dest, ref = str(tmp_path / "inc"), str(tmp_path / "ref")
    collect_to_files(
        spark, GraphSource.from_docs(spark, example_docs()), example_model(), dest
    )
    grown = Model({
        **example_model().kinds,
        "some_bucket": Kind("some_bucket", bases=["resource"], aggregate_root=True),
    })
    delta = [_vol("v-123", 99)]
    sync_delta(spark, GraphSource.from_docs(spark, delta), grown, dest)
    final = [d for d in example_docs() if d.get("id") != "v-123"] + delta
    collect_to_files(spark, GraphSource.from_docs(spark, final), grown, ref)
    assert "some_bucket" in _tables(ref)
    assert _tables(dest) == _tables(ref)
    for t in sorted(_tables(ref)):
        assert read_table(spark, dest, t).dtypes == read_table(spark, ref, t).dtypes, t
        assert _rows(spark, dest, t) == _rows(spark, ref, t), t


def test_default_publish_resolves_nodes_known_only_to_the_index(spark, tmp_path):
    """A destination published with no keywords carries its node index.
    A new instance links to a region (a kind without a table) that has
    no link row, so only the index knows it; another region changes
    kind and keeps its edge, so its old link row goes.  Every table,
    the index included, equals a fresh full sync."""
    dest = str(tmp_path / "inc")
    base = example_docs() + [
        _node("r-1", "region"), _node("r-2", "region"), _edge("r-1", "i-123"),
    ]
    collect_to_files(
        spark, GraphSource.from_docs(spark, base), example_model(), dest
    )
    delta = [
        _inst("i-9", 2), _edge("i-9", "r-2"),
        _node("r-1", "zone"), _edge("r-1", "i-123"),
    ]
    sync_delta(
        spark, GraphSource.from_docs(spark, delta), example_model(), dest
    )
    assert _rows(spark, dest, "link_some_instance_region") == [("i-9", "r-2")]
    final = [d for d in base if "r-1" not in (d.get("id"), d.get("from"))] + delta
    _assert_full_sync_of(spark, dest, final, str(tmp_path / "ref"))


@pytest.mark.parametrize("published", [True, False], ids=["tables", "empty"])
def test_delta_needs_a_node_index_beside_published_tables(spark, tmp_path, published):
    """A delta into a destination that holds tables but no node index
    is rejected before anything is staged, and every table keeps its
    files; a delta into an empty directory publishes its tables and an
    index, as a full sync of the delta would."""
    dest = str(tmp_path / "inc")
    os.makedirs(dest)
    docs = [_inst("i-9", 2), _vol("v-9", 5), _edge("i-9", "v-9")]
    if not published:
        sync_delta(spark, GraphSource.from_docs(spark, docs), example_model(), dest)
        _assert_full_sync_of(spark, dest, docs, str(tmp_path / "ref"))
        return
    collect_to_files(
        spark, GraphSource.from_docs(spark, example_docs()), example_model(), dest
    )
    shutil.rmtree(os.path.join(dest, NODE_INDEX))
    before = {t: _mtimes(dest, t) for t in os.listdir(dest)}
    with pytest.raises(ValueError, match="collect_to_files"):
        sync_delta(spark, GraphSource.from_docs(spark, docs), example_model(), dest)
    assert {t: _mtimes(dest, t) for t in os.listdir(dest)} == before


GATEWAY = "azure_network_application_gateway"
GROUP = "azure_network_application_security_group"
COLLIDED = "link_vm_azure_network_application"


def _colliding_model() -> Model:
    """``vm`` links to two kinds that agree in their first 25
    characters, so both pairs map to one link table, ``COLLIDED``."""
    kinds = [
        *example_model().kinds.values(),
        Kind("vm", bases=["resource"], aggregate_root=True,
             successor_kinds={"default": [GATEWAY, GROUP]}),
        Kind(GATEWAY, bases=["resource"], aggregate_root=True),
        Kind(GROUP, bases=["resource"], aggregate_root=True),
    ]
    return Model({k.fqn: k for k in kinds})


def test_link_pairs_with_one_truncated_name_share_the_table(spark, tmp_path):
    """A full sync publishes the edges of both kind pairs that map to
    one link name, and a delta that renames their source node equals a
    fresh full sync of the final graph."""
    dest, ref = str(tmp_path / "inc"), str(tmp_path / "ref")
    model = _colliding_model()
    docs = [_node("v1", "vm"), _node("g1", GATEWAY), _node("s1", GROUP),
            _edge("v1", "g1"), _edge("v1", "s1")]
    collect_to_files(spark, GraphSource.from_docs(spark, docs), model, dest)
    assert _rows(spark, dest, COLLIDED) == [("v1", "g1"), ("v1", "s1")]
    renamed = {**docs[0], "reported": {**docs[0]["reported"], "name": "renamed"}}
    delta = [renamed, _edge("v1", "g1"), _edge("v1", "s1")]
    sync_delta(spark, GraphSource.from_docs(spark, delta), model, dest)
    final = [renamed, *docs[1:]]
    collect_to_files(spark, GraphSource.from_docs(spark, final), model, ref)
    for t in sorted(_tables(dest) | _tables(ref)):
        assert _rows(spark, dest, t) == _rows(spark, ref, t), t


def test_delta_into_a_destination_of_another_format_stages_nothing(spark, tmp_path):
    """A delta into a destination published as CSV raises
    ``ValueError`` naming the table before anything is staged: the
    listing and every table's rows are unchanged."""
    dest = str(tmp_path)
    collect_to_files(
        spark, GraphSource.from_docs(spark, example_docs()), example_model(), dest,
        fmt="csv",
    )

    def state():
        rows = {
            t: sorted(map(tuple, read_table(spark, dest, t, fmt=fmt).collect()))
            for t, fmt in [(NODE_INDEX, "parquet")]
            + [(t, "csv") for t in os.listdir(dest) if t != NODE_INDEX]
        }
        return sorted(os.listdir(dest)), rows

    before = state()
    with pytest.raises(ValueError, match="some_volume"):
        sync_delta(
            spark, GraphSource.from_docs(spark, [_vol("v-123", 99)]), example_model(), dest
        )
    assert state() == before


@pytest.mark.parametrize("keyword", ["swap", "node_index"])
def test_collect_to_files_publishes_tables_and_index_only(spark, tmp_path, keyword):
    """``swap`` and ``node_index`` select nothing: ``False`` is refused
    before any table is written."""
    with pytest.raises(ValueError):
        collect_to_files(
            spark, GraphSource.from_docs(spark, example_docs()), example_model(),
            str(tmp_path), **{keyword: False},
        )
    assert os.listdir(tmp_path) == []


def test_full_resync_without_index_between_deltas(spark, tmp_path):
    """A destination takes a delta, then a full resync called without
    the ``node_index`` keyword, then a delta with a kind change and a
    tombstone of nodes the resync changed.  The resync still publishes
    an index of its own nodes, so the second delta plans against the
    resync, not against the first delta."""
    dest = str(tmp_path / "inc")

    def sync(docs):
        collect_to_files(
            spark, GraphSource.from_docs(spark, docs), example_model(), dest
        )

    def delta(docs, deleted=()):
        sync_delta(
            spark, GraphSource.from_docs(spark, docs + [_gone(d) for d in deleted]),
            example_model(), dest,
        )

    sync([_inst("i-1", 1), _vol("v-1", 10), _edge("i-1", "v-1")])
    delta([_inst("i-1", 1), _vol("v-2", 20), _edge("i-1", "v-2")])
    # v-1 is now an instance and i-5 is new: the old index knows neither
    sync([
        _inst("i-1", 1), _inst("v-1", 2), _vol("v-2", 20), _inst("i-5", 5),
        _edge("i-1", "v-2"), _edge("i-5", "v-2"),
    ])
    idx = {(r.id, r.kind) for r in read_table(spark, dest, NODE_INDEX).collect()}
    assert idx == {
        ("i-1", "some_instance"), ("v-1", "some_instance"),
        ("v-2", "some_volume"), ("i-5", "some_instance"),
    }
    # nothing else in this delta touches the instance table
    delta([_vol("v-1", 11)], deleted=["i-5"])
    final = [_inst("i-1", 1), _vol("v-1", 11), _vol("v-2", 20), _edge("i-1", "v-2")]
    _assert_full_sync_of(spark, dest, final, str(tmp_path / "ref"))


@pytest.mark.parametrize("published", [1, -1], ids=["one-table", "all-tables"])
def test_delta_replayed_after_crash_during_publish(
    spark, tmp_path, monkeypatch, published
):
    """A crash during the publish leaves some tables at the new
    generation and the node index at the old one; replaying the same
    delta, as the stream does, completes the generation."""
    dest = str(tmp_path / "inc")
    base = [
        _inst("i-1", 1), _inst("i-2", 2), _vol("v-1", 10), _vol("v-2", 20),
        _edge("i-1", "v-1"), _edge("i-1", "v-2"), _edge("i-2", "v-2"),
    ]
    collect_to_files(
        spark, GraphSource.from_docs(spark, base), example_model(), dest,
    )
    # v-1 becomes an instance; v-2 dies with two inbound links
    docs = [_inst("v-1", 3), _inst("i-1", 1), _edge("i-1", "v-1")]

    def crash(spark, dest_dir, tables):
        # the publish renames in the order given, the index last: -1
        # stops after every table but the index
        swap_staging(spark, dest_dir, tables=tables[:published])
        raise RuntimeError("crash during publish")

    monkeypatch.setattr(incremental, "swap_staging", crash)
    index_n = _rows(spark, dest, NODE_INDEX)
    with pytest.raises(RuntimeError):
        sync_delta(
            spark, GraphSource.from_docs(spark, docs + [_gone("v-2")]),
            example_model(), dest,
        )
    assert _rows(spark, dest, NODE_INDEX) == index_n
    monkeypatch.undo()
    sync_delta(
        spark, GraphSource.from_docs(spark, docs + [_gone("v-2")]),
        example_model(), dest,
    )
    final = [_inst("i-1", 1), _inst("i-2", 2), _inst("v-1", 3), _edge("i-1", "v-1")]
    _assert_full_sync_of(spark, dest, final, str(tmp_path / "ref"))


def test_each_generation_publishes_in_one_call_with_the_index_last(
    spark, tmp_path, monkeypatch
):
    """``collect_to_files`` and ``sync_delta`` each publish a generation
    with one ``swap_staging`` call, the node index its last name, so a
    crash during the tables' renames leaves the index at the old
    generation.  The recorder rebinds the name in each entry point's
    module, as a tracer does."""
    calls = []
    for module in (sync, incremental):

        def recording(spark, dest_dir, tables, _real=module.swap_staging,
                      _entry=module.__name__.rsplit(".", 1)[-1]):
            calls.append((_entry, list(tables)))
            return _real(spark, dest_dir, tables)

        monkeypatch.setattr(module, "swap_staging", recording)
    dest = str(tmp_path)
    collect_to_files(
        spark, GraphSource.from_docs(spark, example_docs()), example_model(),
        dest,
    )
    sync_delta(
        spark, GraphSource.from_docs(spark, [_vol("v-123", 99)]),
        example_model(), dest,
    )
    assert calls == [
        ("sync", ["link_some_instance_some_volume", "some_instance",
                  "some_volume", NODE_INDEX]),
        ("incremental", ["some_volume", NODE_INDEX]),
    ]


def test_uri_destination_generations_equal_full_resync(spark, tmp_path):
    """A destination addressed as a `file:` URI lists, reads and sweeps
    its published tables and node index through the Hadoop FileSystem:
    after a new node, a kind change and a tombstone, every table still
    equals a fresh full sync, not the delta rows alone."""
    dest = str(tmp_path / "inc")
    uri = "file://" + dest
    nodes = {d["id"]: d for d in example_docs() if d["type"] == "node"}
    edges = {("i-123", "v-123")}

    def graph():
        return list(nodes.values()) + [_edge(a, b) for a, b in sorted(edges)]

    collect_to_files(
        spark, GraphSource.from_docs(spark, graph()), example_model(), uri,
    )

    def gen1():
        nodes["v-new"] = _vol("v-new", 5)
        return [nodes["v-new"]], []

    def gen2():
        # v-new becomes an instance that links to v-123
        nodes["v-new"] = _inst("v-new", 2)
        edges.add(("v-new", "v-123"))
        return [nodes["v-new"], _edge("v-new", "v-123")], []

    def gen3():
        # i-123 dies with its outbound link
        del nodes["i-123"]
        edges.discard(("i-123", "v-123"))
        return [], ["i-123"]

    for step, make in enumerate((gen1, gen2, gen3), 1):
        docs, deleted = make()
        sync_delta(
            spark, GraphSource.from_docs(spark, docs + [_gone(d) for d in deleted]),
            example_model(), uri,
        )
        _assert_full_sync_of(spark, dest, graph(), str(tmp_path / f"ref-{step}"))


def test_apply_delta_batch_runs_no_job_of_its_own(spark, tmp_path):
    """One generation with a tombstone, run through ``apply_delta_batch``
    and through ``sync_delta`` of the same docs on a copy of the same
    destination, gives equal stats in an equal number of Spark jobs:
    the batch path collects its tombstones in the planning collect, not
    in a job of its own."""
    base = str(tmp_path / "base")
    collect_to_files(
        spark, GraphSource.from_docs(spark, example_docs()), example_model(), base
    )
    docs = [_inst("i-123", 5), _vol("v-9", 1), _edge("i-123", "v-9"), _gone("v-123")]
    sc = spark.sparkContext
    runs = {}
    for how in ("batch", "docs"):
        dest = str(tmp_path / how)
        shutil.copytree(base, dest)
        group = f"{how}-{tmp_path.name}"
        sc.setJobGroup(group, "one generation with a tombstone")
        try:
            if how == "batch":
                raw = local_frame(spark, doc=[json.dumps(d) for d in docs])
                stats = apply_delta_batch(spark, raw, example_model(), dest)
            else:
                stats = sync_delta(
                    spark, GraphSource.from_docs(spark, docs), example_model(), dest
                )
        finally:
            sc.setJobGroup("tests", "tests")
        runs[how] = stats, len(_job_ids(sc, group))
    assert runs["batch"][0]["some_volume"] == {"upserted": 1, "removed": 1}
    assert runs["batch"] == runs["docs"]


def _job_ids(sc, group):
    return set(sc.statusTracker().getJobIdsForGroup(group))


def _marker_job(spark, group):
    """The id of one job run in ``group``: job ids are sequential, so
    two markers bracket every job submitted between them."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "marker")
    spark.range(1).collect()
    return max(_job_ids(sc, group))


def test_staged_jobs_keep_the_callers_job_group(spark, tmp_path):
    """Every Spark job that ``collect_to_files`` and ``sync_delta``
    submit from their staging threads carries the caller's job group,
    and no warning about uninherited tags is raised."""
    sc = spark.sparkContext
    dest = str(tmp_path)
    group = f"caller-{tmp_path.name}"
    calls = [
        lambda: collect_to_files(
            spark, GraphSource.from_docs(spark, example_docs()),
            example_model(), dest,
        ),
        lambda: sync_delta(
            spark,
            GraphSource.from_docs(
                spark,
                [_inst("i-123", 5), _vol("v-9", 1), _edge("i-123", "v-9"), _gone("v-123")],
            ),
            example_model(), dest,
        ),
    ]
    try:
        for n, call in enumerate(calls):
            lo = _marker_job(spark, f"{group}-before-{n}")
            known = _job_ids(sc, group)
            sc.setJobGroup(group, "the caller's group")
            with warnings.catch_warnings(record=True) as caught:
                warnings.simplefilter("always")
                call()
            hi = _marker_job(spark, f"{group}-after-{n}")
            assert not [w for w in caught if "will not be inherited" in str(w.message)]
            submitted = set(range(lo + 1, hi))
            assert submitted, n
            assert _job_ids(sc, group) - known == submitted, n
    finally:
        sc.setJobGroup("tests", "tests")


@pytest.mark.parametrize("call", ["collect_to_files", "sync_delta"])
def test_failed_staged_write_publishes_nothing(spark, tmp_path, monkeypatch, call):
    """One table's staged write fails while the others are in flight:
    the call re-raises that error once every other write has finished,
    and every published table and the node index keep their files."""
    dest = str(tmp_path)
    collect_to_files(
        spark, GraphSource.from_docs(spark, example_docs()), example_model(),
        dest,
    )
    before = {t: _mtimes(dest, t) for t in _tables(dest)}
    assert NODE_INDEX in before
    module = sync if call == "collect_to_files" else incremental
    real = module.write_table

    def failing(df, dest_dir, name, **kw):
        if name == "link_some_instance_some_volume":
            raise OSError("disk full")
        return real(df, dest_dir, name, **kw)

    monkeypatch.setattr(module, "write_table", failing)
    docs = [_inst("i-123", 5), _vol("v-123", 99), _inst("i-9", 1),
            _edge("i-123", "v-123"), _edge("i-9", "v-123")]
    with pytest.raises(OSError, match="disk full"):
        if call == "collect_to_files":
            collect_to_files(
                spark, GraphSource.from_docs(spark, docs), example_model(),
                dest,
            )
        else:
            sync_delta(
                spark, GraphSource.from_docs(spark, docs), example_model(), dest
            )
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    assert {t: _mtimes(dest, t) for t in _tables(dest)} == before
