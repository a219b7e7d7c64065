"""Execute the default dialect's publish statements against stdlib sqlite3.

Spark has no sqlite JDBC driver on its classpath, so ``write_jdbc``
runs live only against Derby (tests/test_jdbc_derby.py); but the
default dialect's tmp->prod swap — the one every URL without a dialect
of its own (sqlite, Postgres, ...) gets — can be executed for real in
``sqlite3``.  The tmp tables are created and filled here with plain
untyped sqlite DDL, the part Spark's JDBC writer does in production.
These goldens reproduce the reference's SQLite-backed tests: create
tmp schema -> insert node/edge docs -> swap -> exact rows back
(reference sql_test.py:70-128).
"""

from __future__ import annotations

import sqlite3

import pytest

from resotodatalink_spark.model.kinds import (
    CARZ,
    TEMP_PREFIX,
    Model,
    get_link_table_name,
    get_table_name,
)
from resotodatalink_spark.sinks.dialects import dialect_for
from tests.fixtures import example_docs, example_model

LINK_COLUMNS = ["from_id", "to_id"]


def _columns(model: Model, kind: str) -> list[str]:
    props, _ = model.kind_properties(model.kinds[kind], with_id=True)
    return [p.name for p in props]


def _flatten(doc: dict, columns: list[str]) -> list:
    """Node doc -> row values in table-column order (the reference's
    node_to_json projection, sql.py:227-243): _id from the envelope,
    reported.* by name, carz from ancestors."""
    out = []
    for name in columns:
        if name == "_id":
            out.append(doc["id"])
        elif name in CARZ:
            out.append(doc["ancestors"][name]["reported"]["id"])
        else:
            out.append(doc["reported"].get(name))
    return out


@pytest.fixture()
def con():
    with sqlite3.connect(":memory:") as c:
        yield c


def _tables(con) -> list[str]:
    return [
        r[0]
        for r in con.execute(
            "SELECT name FROM sqlite_master WHERE type='table'"
        ).fetchall()
    ]


def _create(con, table: str, columns: list[str]) -> None:
    con.execute(f"CREATE TABLE {table} ({', '.join(columns)})")


def _insert(con, table: str, values: list) -> None:
    con.execute(f"INSERT INTO {table} VALUES ({', '.join('?' for _ in values)})", values)


def _create_tmp_schema(con, model: Model) -> None:
    for kind in ("some_instance", "some_volume"):
        _create(con, get_table_name(kind, with_tmp_prefix=True), _columns(model, kind))
    _create(
        con,
        get_link_table_name("some_instance", "some_volume", with_tmp_prefix=True),
        LINK_COLUMNS,
    )


def _swap(con) -> None:
    """Publish every tmp table with the default dialect's statements,
    the way ``collect_sql`` builds its script."""
    d = dialect_for("jdbc:sqlite://mem")
    for tmp in sorted(_tables(con)):
        if tmp.startswith(TEMP_PREFIX):
            for stmt in d.swap_sql(tmp, tmp[len(TEMP_PREFIX):]):
                con.execute(stmt)


def test_insert_swap_roundtrip_golden(con):
    """The reference's test_update flow (sql_test.py:70-128) published
    by the default dialect's swap: tmp schema, inserts, swap, then the
    exact golden tuples back from the PROD tables."""
    model = example_model()
    _create_tmp_schema(con, model)
    docs = example_docs()

    for doc in (docs[0], docs[1]):
        kind = doc["reported"]["kind"]
        _insert(con, get_table_name(kind, with_tmp_prefix=True), _flatten(doc, _columns(model, kind)))
    edge = docs[2]
    _insert(
        con,
        get_link_table_name("some_instance", "some_volume", with_tmp_prefix=True),
        [edge["from"], edge["to"]],
    )

    _swap(con)
    assert sorted(_tables(con)) == [
        "link_some_instance_some_volume",
        "some_instance",
        "some_volume",
    ]

    # reference golden rows (sql_test.py:119-128), same column order
    assert con.execute("SELECT * FROM some_instance").fetchall() == [
        ("i-123", 4, 8, "i-123", "in1", "t1", "h1",
         "some_cloud", "some_account", "some_region", "some_zone")
    ]
    assert con.execute("SELECT * FROM some_volume").fetchall() == [
        ("v-123", 12, "v-123", "vol1", "t1", "h1",
         "some_cloud", "some_account", "some_region", "some_zone")
    ]
    assert con.execute(
        "SELECT * FROM link_some_instance_some_volume"
    ).fetchall() == [("i-123", "v-123")]


def test_swap_is_replacement_not_merge(con):
    """A second sync's swap must REPLACE prod contents, not append."""
    model = example_model()
    columns = _columns(model, "some_volume")
    docs = example_docs()

    for round_no in (1, 2):
        _create_tmp_schema(con, model)
        _insert(con, get_table_name("some_volume", with_tmp_prefix=True), _flatten(docs[1], columns))
        _swap(con)
        n, = con.execute("SELECT count(*) FROM some_volume").fetchone()
        assert n == 1, f"round {round_no}: swap merged instead of replaced"
