"""Execute the REAL Spark JDBC write path against embedded Derby.

Apache Derby ships on Spark's own classpath (it backs the Hive
metastore), so ``jdbc:derby:memory:`` gives CI a live JDBC engine
with zero extra dependencies.  These tests run the production SQL
path, ``collect_sql``:

* ``write_jdbc`` (``df.write.jdbc`` → distributed INSERTs) against a
  real database, read back through ``spark.read.jdbc``;
* the dialect swap DDL executed over a live ``java.sql.Connection``
  (``execute_statements``) as one transaction, asserting the
  reference's replacement-not-merge publish semantics (reference
  sql.py:129-159, sql_test.py:54-128) and that a failed publish leaves
  every table at the previous generation.

Every test uses a fresh in-memory database name: Derby memory DBs live
for the JVM's lifetime, and the Spark JVM is session-scoped.
"""

from __future__ import annotations

import threading
import uuid

import pytest

from resotodatalink_spark.operators.sync import collect_sql
from resotodatalink_spark.sinks.dialects import dialect_for
from resotodatalink_spark.sinks.jdbc import (
    execute_statements,
    list_jdbc_tables,
    write_jdbc,
)
from resotodatalink_spark.sources.graph import GraphSource
from tests.fixtures import example_docs, example_model

GOLDEN_INSTANCE = (
    "i-123", 4, 8, "i-123", "in1", "t1", "h1",
    "some_cloud", "some_account", "some_region", "some_zone",
)
GOLDEN_VOLUME = (
    "v-123", 12, "v-123", "vol1", "t1", "h1",
    "some_cloud", "some_account", "some_region", "some_zone",
)


def _derby_url() -> str:
    return f"jdbc:derby:memory:{uuid.uuid4().hex};create=true"


def _rows(spark, url: str, table: str) -> list[tuple]:
    return sorted(tuple(r) for r in spark.read.jdbc(url, table).collect())


def test_collect_sql_live_roundtrip_golden(spark):
    """Full pipeline against a live engine: graph docs -> sync_views ->
    df.write.jdbc (tmp tables) -> executed swap -> reference golden
    rows back through spark.read.jdbc (reference sql_test.py:70-128)."""
    url = _derby_url()
    src = GraphSource.from_docs(spark, example_docs())
    stmts = collect_sql(spark, src, example_model(), url, run_swap=True)
    # Derby dialect resolved from the subprotocol-only URL
    assert any(s.startswith("RENAME TABLE") for s in stmts)

    assert list_jdbc_tables(spark, url) == [
        "link_some_instance_some_volume",
        "some_instance",
        "some_volume",
    ]
    assert _rows(spark, url, "some_instance") == [GOLDEN_INSTANCE]
    assert _rows(spark, url, "some_volume") == [GOLDEN_VOLUME]
    assert _rows(spark, url, "link_some_instance_some_volume") == [
        ("i-123", "v-123")
    ]


def test_collect_sql_reports_progress_on_the_callers_thread(spark):
    """``progress`` gets one ``write_jdbc`` call per table in order,
    then one ``swap`` call counting the statements executed: on a fresh
    database only the RENAMEs (each DROP of a missing production table
    is skipped), on the second sync every statement returned."""
    url = _derby_url()
    events = []

    def record(step, current, total):
        events.append((step, current, total, threading.get_ident()))

    me = threading.get_ident()
    writes = [("write_jdbc", i, 3, me) for i in (1, 2, 3)]
    src = GraphSource.from_docs(spark, example_docs())
    collect_sql(spark, src, example_model(), url, run_swap=True, progress=record)
    assert events == writes + [("swap", 3, 3, me)]

    events.clear()
    stmts = collect_sql(spark, src, example_model(), url, run_swap=True, progress=record)
    assert len(stmts) == 6
    assert events == writes + [("swap", 6, 6, me)]


def test_second_sync_replaces_not_merges(spark):
    """Re-running the sync must REPLACE prod contents atomically, not
    append (reference sql_test.py:54-67 swap semantics) — and updated
    values become visible."""
    url = _derby_url()
    model = example_model()
    docs = example_docs()
    collect_sql(spark, GraphSource.from_docs(spark, docs), model, url,
                run_swap=True)

    docs2 = example_docs()
    docs2[1]["reported"]["capacity"] = 99  # volume grew between syncs
    collect_sql(spark, GraphSource.from_docs(spark, docs2), model, url,
                run_swap=True)

    vols = _rows(spark, url, "some_volume")
    assert len(vols) == 1, "swap merged instead of replaced"
    assert vols[0][1] == 99  # capacity column reflects the new sync
    assert _rows(spark, url, "some_instance") == [GOLDEN_INSTANCE]


def test_first_publish_tolerates_missing_prod(spark):
    """First sync: DROP TABLE on a prod table that doesn't exist yet
    fails with Derby SQLState 42Y55 and is skipped; the RENAME still
    lands.  Anything else re-raises."""
    url = _derby_url()
    df = spark.createDataFrame([(1, "a")], "id: int, s: string")
    df.write.jdbc(url=url, table="tmp_t", mode="overwrite")
    d = dialect_for(url)
    assert d.name == "derby"
    executed = execute_statements(spark, url, d.swap_sql("tmp_t", "t"))
    assert executed == ["RENAME TABLE tmp_t TO t"]  # DROP was tolerated
    assert _rows(spark, url, "t") == [(1, "a")]
    with pytest.raises(Exception):
        execute_statements(spark, url, ["SELECT FROM syntax error ("])


def test_drop_existing_tables_removes_stale_prod(spark):
    """Reference sql.py:147-151: a sync with drop_existing_tables
    removes every production table it did not update — live on Derby.
    A second sync carrying only the volume kind drops the instance
    and link tables; the updated volume survives with the new data."""
    from resotodatalink_spark.model.kinds import Kind, Model, Property

    url = _derby_url()
    model = example_model()
    docs = example_docs()
    collect_sql(spark, GraphSource.from_docs(spark, docs), model, url,
                run_swap=True)
    assert len(list_jdbc_tables(spark, url)) == 3

    volume_only = Model(
        {
            k.fqn: k
            for k in [
                Kind("string", runtime_kind=None),
                Kind("int32", runtime_kind=None),
                Kind("int64", runtime_kind=None),
                Kind(
                    "resource",
                    properties=[
                        Property("id", "string"),
                        Property("name", "string"),
                        Property("alias", "string"),
                        Property("description", "string"),
                    ],
                    bases=[],
                    aggregate_root=True,
                ),
                Kind(
                    "some_volume",
                    properties=[Property("capacity", "int32")],
                    bases=["resource"],
                    aggregate_root=True,
                ),
            ]
        }
    )
    vol2 = dict(docs[1])
    vol2["reported"] = dict(docs[1]["reported"], capacity=77)
    collect_sql(
        spark, GraphSource.from_docs(spark, [vol2]), volume_only, url,
        run_swap=True, drop_existing_tables=True,
    )
    assert list_jdbc_tables(spark, url) == ["some_volume"]
    assert [r[1] for r in _rows(spark, url, "some_volume")] == [77]


def test_reference_shaped_config_entry_point(spark):
    """The config-level collect_sql (reference collect_plugins.py:
    103-108 signature: engine config + swap_temp_tables +
    drop_existing_tables) drives the live publish end-to-end."""
    from resotodatalink_spark.config import EngineConfig
    from resotodatalink_spark.config import collect_sql as cfg_collect_sql

    url = _derby_url()
    src = GraphSource.from_docs(spark, example_docs())
    cfg_collect_sql(
        spark, src, example_model(), EngineConfig(url, batch_size=1000),
        swap_temp_tables=True,
    )
    assert list_jdbc_tables(spark, url) == [
        "link_some_instance_some_volume", "some_instance", "some_volume",
    ]
    assert _rows(spark, url, "some_instance") == [GOLDEN_INSTANCE]


def test_example_collector_14_tables_to_derby(spark):
    """The reference's own integration fixture (7 kind + 7 link tables,
    collect_plugins_test.py:27-46) synced end-to-end into a LIVE
    database: collect_sql -> df.write.jdbc per tmp table -> executed
    swap -> the reference's exact per-table counts back over JDBC.
    Includes a zero-row kind table, which must still publish."""
    from tests.fixtures import example_collector_docs, example_collector_model

    url = _derby_url()
    src = GraphSource.from_docs(spark, example_collector_docs())
    collect_sql(spark, src, example_collector_model(), url, run_swap=True)
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
    assert list_jdbc_tables(spark, url) == sorted(expected_counts)
    counts = {
        t: spark.read.jdbc(url, t).count() for t in expected_counts
    }
    assert counts == expected_counts


def test_failed_publish_leaves_every_table_at_generation_n(spark):
    """``execute_statements`` runs a publish script as ONE transaction:
    when its last statement fails, the swaps before it roll back, so
    every production table still holds generation N (Derby DDL is
    transactional).  The staged tmp tables survive, and re-running the
    script publishes generation N+1 whole."""
    url = _derby_url()
    model = example_model()
    collect_sql(spark, GraphSource.from_docs(spark, example_docs()), model, url,
                run_swap=True)

    docs2 = example_docs()
    docs2[0]["reported"]["cores"] = 16
    docs2[1]["reported"]["capacity"] = 99
    stmts = collect_sql(spark, GraphSource.from_docs(spark, docs2), model, url)
    with pytest.raises(Exception):
        execute_statements(spark, url, [*stmts, "RENAME TABLE tmp_gone TO gone"])
    assert _rows(spark, url, "some_instance") == [GOLDEN_INSTANCE]
    assert _rows(spark, url, "some_volume") == [GOLDEN_VOLUME]
    assert _rows(spark, url, "link_some_instance_some_volume") == [
        ("i-123", "v-123")
    ]

    execute_statements(spark, url, stmts)
    assert [r[1] for r in _rows(spark, url, "some_instance")] == [16]
    assert [r[1] for r in _rows(spark, url, "some_volume")] == [99]
    assert list_jdbc_tables(spark, url) == [
        "link_some_instance_some_volume", "some_instance", "some_volume",
    ]


def test_write_jdbc_ships_nested_values_as_json_text(spark):
    """``write_jdbc`` ships array/map values as JSON text (the
    reference's JSON column type, sql.py:75-80): identical strings come
    back over JDBC, and NULLs stay NULL."""
    url = _derby_url()
    df = spark.sql(
        "SELECT 't-1' AS id, map('env', 'prod') AS tags, array('a', 'b') AS aliases"
        " UNION ALL SELECT 't-2', CAST(NULL AS map<string, string>),"
        " CAST(NULL AS array<string>)"
    )
    write_jdbc(df, url, "thing")
    assert _rows(spark, url, "thing") == [
        ("t-1", '{"env":"prod"}', '["a","b"]'),
        ("t-2", None, None),
    ]
