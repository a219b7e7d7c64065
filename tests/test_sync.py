"""Pipeline entry points: collect_to_files / sync_delta with a
progress callable + execute_sql bind vars (reference
collect_plugins.py:103-152, 220-228)."""

from __future__ import annotations

import threading

from resotodatalink_spark.operators.flatten import sync_views
from resotodatalink_spark.operators.incremental import sync_delta
from resotodatalink_spark.operators.sql import execute_sql, stream_rows
from resotodatalink_spark.operators.sync import collect_to_files
from resotodatalink_spark.sinks.files import read_table
from resotodatalink_spark.sources.graph import GraphSource
from tests.fixtures import example_docs, example_model


def test_collect_to_files_swaps_atomically(spark, tmp_path):
    """Progress arrives on the caller's thread, one call per table in
    table order, although the tables stage concurrently; the same holds
    for a delta generation."""
    dest = str(tmp_path)
    events = []

    def record(step, current, total):
        events.append((step, current, total, threading.get_ident()))

    published = collect_to_files(
        spark,
        GraphSource.from_docs(spark, example_docs()),
        example_model(),
        dest,
        progress=record,
    )
    assert sorted(published) == [
        "link_some_instance_some_volume",
        "some_instance",
        "some_volume",
    ]
    me = threading.get_ident()
    assert events == [("write_tables", i, 3, me) for i in (1, 2, 3)] + [
        ("swap", 3, 3, me)
    ]
    assert read_table(spark, dest, "some_volume").count() == 1

    events.clear()
    delta = [d for d in example_docs() if d.get("id") != "v-123"]
    sync_delta(
        spark, GraphSource.from_docs(spark, delta), example_model(), dest,
        progress=record,
    )
    assert events == [("sync_delta", i, 3, me) for i in (1, 2, 3)]


def test_execute_sql_bind_vars_and_row_stream(spark):
    sync_views(
        spark, GraphSource.from_docs(spark, example_docs()), example_model()
    )
    df = execute_sql(
        spark,
        "select id, cores from some_instance where cores >= :min_cores",
        {"min_cores": 4},
    )
    rows = list(stream_rows(df))
    assert rows == [{"id": "i-123", "cores": 4}]


def test_reference_shaped_config_api(spark, tmp_path):
    """EngineConfig/OutputConfig + collect_to_file mirror the reference's
    call shape (collect_plugins_test.py:49-79 flavor)."""
    from resotodatalink_spark.config import OutputConfig, collect_to_file

    published = collect_to_file(
        spark,
        GraphSource.from_docs(spark, example_docs()),
        example_model(),
        OutputConfig(destination=str(tmp_path), format="csv"),
    )
    assert "some_instance" in published
    back = spark.read.option("header", True).csv(str(tmp_path / "some_instance"))
    assert back.count() == 1


def test_example_collector_e2e_counts(spark, tmp_path):
    """Full example-collector E2E golden: 14 tables (7 kind + 7 link)
    with the exact per-table counts of reference
    collect_plugins_test.py:27-46, through collect -> files -> swap."""
    from resotodatalink_spark.operators.sync import collect_to_files
    from resotodatalink_spark.sinks.files import read_table
    from resotodatalink_spark.sources.graph import GraphSource
    from tests.fixtures import example_collector_docs, example_collector_model

    dest = str(tmp_path)
    src = GraphSource.from_docs(spark, example_collector_docs())
    published = collect_to_files(spark, src, example_collector_model(), dest)
    expected_counts = {
        "example_account": 1,
        "example_custom_resource": 1,
        "example_instance": 2,
        "example_network": 2,
        "example_region": 2,
        "example_volume": 2,
        "link_example_account_example_region": 2,
        "link_example_instance_example_volume": 2,
        "link_example_network_example_instance": 2,
        "link_example_region_example_custom_resource": 1,
        "link_example_region_example_instance": 2,
        "link_example_region_example_network": 2,
        "link_example_region_example_volume": 2,
        "resource_short_property_access": 0,
    }
    assert sorted(published) == sorted(expected_counts)
    counts = {t: read_table(spark, dest, t).count() for t in published}
    assert counts == expected_counts


def test_collect_plugin_protocol_golden_counts(spark, tmp_path):
    """U4: a fake BaseCollectorPlugin-shaped object driven through
    ``collect_plugin`` reproduces the example-collector E2E goldens of
    test_example_collector_e2e_counts, with the reference's stage
    names in order (cloud 0/1 BEFORE collect(), sync_db progress,
    cloud 1/1 last — collect_plugins.py:34, 40, 66) and the
    reference's (cloud, n_nodes, n_edges) return."""
    from resotodatalink_spark.model.kinds import Model
    from resotodatalink_spark.operators.sync import collect_plugin
    from resotodatalink_spark.sinks.files import read_table
    from tests.fixtures import example_collector_docs, example_collector_model

    def _kind_json(model: Model) -> list[dict]:
        return [
            {
                "fqn": k.fqn,
                "runtime_kind": k.runtime_kind,
                "properties": [
                    {
                        "name": p.name,
                        "kind": p.kind,
                        "required": p.required,
                        "metadata": p.metadata,
                    }
                    for p in (k.properties or [])
                ],
                "bases": k.bases,
                "aggregate_root": k.aggregate_root,
                "successor_kinds": k.successor_kinds,
            }
            for k in model.kinds.values()
        ]

    class FakeGraph:
        def __init__(self):
            self.docs = None  # populated by collect()

        def export_model(self):
            return _kind_json(example_collector_model())

        def export_docs(self):
            assert self.docs is not None, "collect() must run first"
            return self.docs

    class FakePlugin:
        cloud = "example"

        def __init__(self):
            self.graph = FakeGraph()
            self.collected = False

        def collect(self):
            self.collected = True
            self.graph.docs = example_collector_docs()

    steps: list[tuple[str, int, int]] = []
    plugin = FakePlugin()
    cloud, n_nodes, n_edges = collect_plugin(
        spark,
        plugin,
        str(tmp_path),
        progress=lambda s, c, t: steps.append((s, c, t)),
    )
    assert plugin.collected
    assert (cloud, n_nodes, n_edges) == ("example", 10, 13)
    # stage names and order match the reference driver loop
    assert steps[0] == ("example", 0, 1)
    assert steps[-1] == ("example", 1, 1)
    assert all(s == "sync_db" for s, _, _ in steps[1:-1]) and len(steps) > 3

    expected_counts = {
        "example_account": 1,
        "example_custom_resource": 1,
        "example_instance": 2,
        "example_network": 2,
        "example_region": 2,
        "example_volume": 2,
        "link_example_account_example_region": 2,
        "link_example_instance_example_volume": 2,
        "link_example_network_example_instance": 2,
        "link_example_region_example_custom_resource": 1,
        "link_example_region_example_instance": 2,
        "link_example_region_example_network": 2,
        "link_example_region_example_volume": 2,
        "resource_short_property_access": 0,
    }
    counts = {
        t: read_table(spark, str(tmp_path), t).count() for t in expected_counts
    }
    assert counts == expected_counts
