"""File sink + atomic swap semantics (reference sql_test.py:54-67 swap
goldens; collect_plugins_test.py:49-79 file round-trip)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from resotodatalink_spark.operators.flatten import sync_views
from resotodatalink_spark.operators.sync import collect_to_files
from resotodatalink_spark.sinks.files import (
    NODE_INDEX,
    published_tables,
    read_table,
    swap_staging,
    write_table,
)
from resotodatalink_spark.sources.graph import GraphSource
from tests.fixtures import example_docs, example_model


def test_parquet_staging_swap_roundtrip(spark, tmp_path):
    dest = str(tmp_path)
    model = example_model()
    src = GraphSource.from_docs(spark, example_docs())
    views = sync_views(spark, src, model)
    for name, df in views.items():
        write_table(df, dest, name)
    # nothing published yet
    assert all(e.endswith("__staging") for e in os.listdir(dest))
    published = swap_staging(spark, dest, tables=sorted(views))
    assert sorted(published) == [
        "link_some_instance_some_volume",
        "some_instance",
        "some_volume",
    ]
    back = read_table(spark, dest, "some_instance")
    assert back.count() == 1
    assert back.filter(F.col("_id") == "i-123").select("cores").collect()[0][0] == 4


def test_swap_replaces_existing(spark, tmp_path):
    dest = str(tmp_path)
    df1 = spark.range(3).withColumnRenamed("id", "v")
    write_table(df1, dest, "t")
    swap_staging(spark, dest, tables=["t"])
    assert read_table(spark, dest, "t").count() == 3
    df2 = spark.range(5).withColumnRenamed("id", "v")
    write_table(df2, dest, "t")  # staged
    assert read_table(spark, dest, "t").count() == 3  # still old data
    swap_staging(spark, dest, tables=["t"])
    assert read_table(spark, dest, "t").count() == 5


def test_csv_stringifies_nested(spark, tmp_path):
    dest = str(tmp_path)
    df = spark.sql(
        "select 1 as a, array('x','y') as arr, named_struct('k', 2) as st"
    )
    write_table(df, dest, "t", fmt="csv")
    swap_staging(spark, dest, tables=["t"])
    back = spark.read.option("header", True).csv(os.path.join(dest, "t"))
    row = back.collect()[0]
    assert row["arr"] == '["x","y"]' and row["st"] == '{"k":2}'


def test_dialect_registry_url_dispatch():
    from resotodatalink_spark.sinks.dialects import (
        DIALECTS,
        SqlDialect,
        dialect_for,
        register_dialect,
    )

    assert dialect_for("jdbc:snowflake://acct.snowflakecomputing.com/").name == "snowflake"
    assert dialect_for("snowflake").name == "snowflake"
    # Postgres needs no dialect of its own: the default drop+rename
    # runs in execute_statements' one transaction
    assert dialect_for("jdbc:postgresql://localhost/db").name == "default"
    assert dialect_for("jdbc:mysql://localhost/db").name == "mysql"
    assert dialect_for("jdbc:derby:memory:x;create=true").name == "derby"
    assert dialect_for("jdbc:unknowndb://localhost/db").name == "default"

    @register_dialect
    class MyDb(SqlDialect):
        name = "mydb"

    assert dialect_for("jdbc:mydb://h/x").name == "mydb"
    DIALECTS.pop("mydb")


def test_dialect_unknown_kind_raises_no_substring_match():
    """The reference accepts any substring of 'float'/'double' as a
    kind (snowflake.py:33-35 `kind_name in "float"`); not here.  On the
    SQL path Spark's JDBC writer types each column from the compiled
    schema, whose compiler raises on an unknown kind, and on every
    dialect the P9 width rule sizes only kinds EQUAL to string or
    duration."""
    from resotodatalink_spark.model.compiler import kind_to_spark_type
    from resotodatalink_spark.model.kinds import Kind, Model, Property
    from resotodatalink_spark.sinks.dialects import dialect_for, jdbc_column_types

    model = Model(
        kinds={
            "thing": Kind(
                fqn="thing",
                aggregate_root=True,
                properties=[Property("a", "trin"), Property("b", "t"), Property("c", "loa")],
            )
        }
    )
    for name in ("loa", "t", "trin"):
        with pytest.raises(ValueError):
            kind_to_spark_type(model, name)
    for dialect in ("default", "derby", "mysql"):
        frag = jdbc_column_types(dialect_for(dialect), model, "thing")
        assert "`zone` VARCHAR(255)" in frag
        assert not any(f"`{c}`" in frag for c in "abc")


def test_dialect_swap_statements():
    """Default dialect swaps via drop+rename (executed for real against
    sqlite3 in test_jdbc_sqlite.py); Snowflake swaps atomically with
    SWAP WITH — no drop window between old and new prod."""
    from resotodatalink_spark.sinks.dialects import dialect_for

    assert dialect_for("default").swap_sql("tmp_t", "t") == [
        "DROP TABLE IF EXISTS t",
        "ALTER TABLE tmp_t RENAME TO t",
    ]
    sf = dialect_for("snowflake").swap_sql("tmp_t", "t")
    assert sf == [
        "CREATE TABLE IF NOT EXISTS t LIKE tmp_t",
        "ALTER TABLE tmp_t SWAP WITH t",
        "DROP TABLE tmp_t",
    ]
    # Postgres: the default drop+rename; execute_statements runs the
    # whole publish as one transaction (DDL is transactional there, so
    # every table flips for readers at once)
    assert dialect_for("jdbc:postgresql://h/db").swap_sql("tmp_t", "t") == [
        "DROP TABLE IF EXISTS t",
        "ALTER TABLE tmp_t RENAME TO t",
    ]
    # MySQL: both renames in ONE atomic RENAME TABLE statement — the
    # table is never observed missing
    assert dialect_for("mysql").swap_sql("tmp_t", "t") == [
        "DROP TABLE IF EXISTS t__old",
        "CREATE TABLE IF NOT EXISTS t LIKE tmp_t",
        "RENAME TABLE t TO t__old, tmp_t TO t",
        "DROP TABLE t__old",
    ]
    # Derby: no IF EXISTS guards; RENAME TABLE form (executed live in
    # test_jdbc_derby.py, missing-prod DROP tolerated via SQLState)
    assert dialect_for("derby").swap_sql("tmp_t", "t") == [
        "DROP TABLE t",
        "RENAME TABLE tmp_t TO t",
    ]


def test_cloud_uri_staged_publish_roundtrip(spark, tmp_path):
    """K8 cloud-path routing (reference writer.py:187-219): a URI
    destination drives write_table AND swap_staging through the Hadoop
    FileSystem API — ``file:`` resolves via the same scheme-dispatch an
    ``s3a://`` bucket would, so this proves the staged-publish sequence
    composes with non-local URIs end-to-end."""
    from resotodatalink_spark.sinks.files import read_table

    uri = "file:" + str(tmp_path / "bucket")
    df = spark.range(5).select(F.col("id"), (F.col("id") * 2).alias("v"))
    write_table(df, uri, "t")
    # staged, not yet live
    assert os.path.isdir(tmp_path / "bucket" / "t__staging")
    assert not os.path.exists(tmp_path / "bucket" / "t")
    assert swap_staging(spark, uri, tables=["t"]) == ["t"]
    assert not os.path.exists(tmp_path / "bucket" / "t__staging")
    got = read_table(spark, uri, "t")
    assert sorted(r["v"] for r in got.collect()) == [0, 2, 4, 6, 8]

    # generation 2 replaces, old dir cleaned up
    df2 = spark.range(3).select(F.col("id"), (F.col("id") + 10).alias("v"))
    write_table(df2, uri, "t")
    assert swap_staging(spark, uri, tables=["t"]) == ["t"]
    assert sorted(
        r["v"] for r in read_table(spark, uri, "t").collect()
    ) == [10, 11, 12]
    assert not os.path.exists(tmp_path / "bucket" / "t__old")


def test_p9_varchar_width_heuristic():
    """P9 (reference sql.py:92-100, mirroring sql_test.py:34-38) on the
    production path's ``createTableColumnTypes`` fragment: string and
    duration columns size power-of-2 from ``metadata["len"]`` — 34 ->
    VARCHAR(64), no metadata -> VARCHAR(255), tiny -> the VARCHAR(32)
    floor, 1024 -> VARCHAR(1024), >1024 -> no override (the engine's
    unbounded default), a malformed len -> VARCHAR(255).  Derby and
    MySQL size the same way; Snowflake ignores widths (plain STRING,
    reference snowflake.py:37-38)."""
    from resotodatalink_spark.model.kinds import Kind, Model, Property
    from resotodatalink_spark.sinks.dialects import dialect_for, jdbc_column_types

    model = Model(
        kinds={
            "thing": Kind(
                fqn="thing",
                aggregate_root=True,
                properties=[
                    Property("name", "string", metadata={"len": 34}),
                    Property("note", "string"),
                    Property("code", "string", metadata={"len": 3}),
                    Property("edge", "string", metadata={"len": 1024}),
                    Property("blob", "string", metadata={"len": 1500}),
                    Property("wait", "duration", metadata={"len": 34}),
                    Property("bad", "string", metadata={"len": "34"}),
                    Property("cores", "int32", metadata={"len": 34}),
                ],
            )
        }
    )
    frag = jdbc_column_types(dialect_for("default"), model, "thing")
    assert frag == (
        "`_id` VARCHAR(255), `name` VARCHAR(64), `note` VARCHAR(255),"
        " `code` VARCHAR(32), `edge` VARCHAR(1024), `wait` VARCHAR(64),"
        " `bad` VARCHAR(255), `cloud` VARCHAR(255), `account` VARCHAR(255),"
        " `region` VARCHAR(255), `zone` VARCHAR(255)"
    )
    for url in ("jdbc:derby:memory:x", "jdbc:mysql://h/db", "jdbc:postgresql://h/db"):
        assert jdbc_column_types(dialect_for(url), model, "thing") == frag
    assert jdbc_column_types(dialect_for("snowflake://h/db"), model, "thing") is None


def test_snowflake_url_gets_no_varchar_override(spark, monkeypatch):
    """``collect_sql`` sizes columns with the dialect of its URL: a
    Snowflake sync writes every table, links included, with no
    ``createTableColumnTypes`` override, so its strings stay unbounded
    as in the reference (snowflake.py:37-38)."""
    from resotodatalink_spark.operators.sync import collect_sql
    from resotodatalink_spark.sinks import jdbc

    written = {}

    def fake_write(df, url, table, batch_size, column_types):
        written[table] = column_types

    monkeypatch.setattr(jdbc, "write_jdbc", fake_write)
    stmts = collect_sql(
        spark,
        GraphSource.from_docs(spark, example_docs()),
        example_model(),
        "jdbc:snowflake://acct.snowflakecomputing.com/",
    )
    assert written == {
        "tmp_link_some_instance_some_volume": None,
        "tmp_some_instance": None,
        "tmp_some_volume": None,
    }
    assert "ALTER TABLE tmp_some_volume SWAP WITH some_volume" in stmts


def test_p9_jdbc_column_types_fragment():
    """The production JDBC path gets the P9 widths via Spark's
    createTableColumnTypes option: VARCHAR widths for sized/default
    strings, >1024 lengths omitted (Spark's DDL parser rejects
    TEXT/CLOB, and the dialect default IS the unbounded type), and
    None when nothing needs an override."""
    from resotodatalink_spark.model.kinds import Kind, Model, Property
    from resotodatalink_spark.sinks.dialects import dialect_for, jdbc_column_types

    model = Model(
        kinds={
            "thing": Kind(
                fqn="thing",
                aggregate_root=True,
                properties=[
                    Property("name", "string", metadata={"len": 34}),
                    Property("blob", "string", metadata={"len": 1500}),
                    Property("cores", "int32"),
                ],
            ),
            "bare": Kind(
                fqn="bare",
                aggregate_root=True,
                properties=[Property("cores", "int32")],
            ),
        }
    )
    frag = jdbc_column_types(dialect_for("default"), model, "thing")
    assert "`name` VARCHAR(64)" in frag
    assert "`_id` VARCHAR(255)" in frag
    assert "blob" not in frag  # >1024: dialect default (unbounded) applies
    assert "cores" not in frag
    # every kind table carries _id, and every aggregate kind the carz
    # string columns, so the fragment always includes their
    # VARCHAR(255) defaults
    frag_bare = jdbc_column_types(dialect_for("default"), model, "bare")
    assert frag_bare == (
        "`_id` VARCHAR(255), `cloud` VARCHAR(255), `account` VARCHAR(255),"
        " `region` VARCHAR(255), `zone` VARCHAR(255)"
    )


def test_string_type_malformed_metadata_degrades(spark):
    """r12 ADVICE: a non-integer metadata['len'] (a string '34', a
    float, a bool) must degrade to the VARCHAR(255) default like the
    reference (sql.py:92-100 isinstance guard), not crash DDL
    generation with an int-vs-str comparison."""
    from resotodatalink_spark.sinks.dialects import dialect_for

    d = dialect_for("default")
    assert d.string_type("34") == "VARCHAR(255)"
    assert d.string_type(34.0) == "VARCHAR(255)"
    assert d.string_type(True) == "VARCHAR(255)"
    assert d.string_type(None) == "VARCHAR(255)"
    assert d.string_type(34) == "VARCHAR(64)"  # well-formed unchanged


def test_published_text_tables_cross_read_by_duckdb(spark, tmp_path):
    """An external reader of a published CSV table dir consumes the
    table: the conventional per-extension glob skips ``_SUCCESS``, so
    nothing but data rows leaks in."""
    import duckdb

    df = spark.sql(
        "SELECT 1 AS id, TIMESTAMP '2024-02-29 12:34:56' AS ts, 'a' AS s"
        " UNION ALL SELECT 2, TIMESTAMP '2024-03-01 00:00:00', 'b'"
    )
    dest = str(tmp_path)
    write_table(df, dest, "tc", fmt="csv")
    assert swap_staging(spark, dest, tables=["tc"]) == ["tc"]
    con = duckdb.connect()
    # external readers apply their OWN inference (Spark's ISO-Z
    # timestamp strings read back as text); the claim under test is
    # row fidelity, so normalize ts with a cast
    got_c = con.execute(
        "SELECT id, CAST(ts AS TIMESTAMP) AS ts, s"
        f" FROM read_csv('{dest}/tc/*.csv', header=true) ORDER BY id"
    ).fetchall()
    con.close()
    want = [(r.id, r.ts, r.s) for r in df.orderBy("id").collect()]
    assert got_c == want


def test_collect_sql_sizes_kind_tables_and_link_tables(spark, monkeypatch):
    """r12 ADVICE, checked on a real ``collect_sql`` call: on a
    default-dialect URL each kind table is written with its own P9
    fragment, written to its ``tmp_`` table, and the link table with
    sized ``from_id``/``to_id`` columns."""
    from resotodatalink_spark.operators.sync import collect_sql
    from resotodatalink_spark.sinks import jdbc
    from resotodatalink_spark.sinks.dialects import dialect_for, jdbc_column_types

    written = {}

    def fake_write(df, url, table, batch_size, column_types):
        written[table] = column_types

    monkeypatch.setattr(jdbc, "write_jdbc", fake_write)
    model = example_model()
    url = "jdbc:postgresql://h/db"
    collect_sql(spark, GraphSource.from_docs(spark, example_docs()), model, url)
    kind_types = {
        f"tmp_{k}": jdbc_column_types(dialect_for(url), model, k)
        for k in ("some_instance", "some_volume")
    }
    assert all(t.startswith("`_id` VARCHAR(255), ") for t in kind_types.values())
    assert written == {
        **kind_types,
        "tmp_link_some_instance_some_volume": "`from_id` VARCHAR(255), `to_id` VARCHAR(255)",
    }


def _dest(tmp_path, kind):
    """``tmp_path`` as a plain path or as a ``file:`` URI.  Both go
    through the one Hadoop FileSystem an ``s3a://`` destination would;
    they differ in how the path is qualified: the plain one resolves
    against ``fs.defaultFS``, the URI names its scheme."""
    return str(tmp_path) if kind == "plain" else "file:" + str(tmp_path)


def test_read_table_applies_schema_to_parquet(spark, tmp_path):
    """An explicit ``schema`` shapes a parquet read too: its columns in
    its order, and a column the files lack reads as NULL."""
    dest = str(tmp_path)
    write_table(spark.range(2).select("id", F.lit("a").alias("s")), dest, "t")
    swap_staging(spark, dest, tables=["t"])
    schema = T.StructType(
        [T.StructField("s", T.StringType()), T.StructField("id", T.LongType()),
         T.StructField("gained", T.IntegerType())]
    )
    back = read_table(spark, dest, "t", schema=schema)
    assert back.columns == ["s", "id", "gained"]
    assert sorted(tuple(r) for r in back.collect()) == [("a", 0, None), ("a", 1, None)]


@pytest.mark.parametrize("kind", ["plain", "uri"])
def test_read_table_reads_the_node_index_by_its_data_files(spark, tmp_path, kind):
    """``_node_index`` is a hidden name to Spark's ``DataSource``; the
    sink reads it by its data files, on a plain path and on a URI."""
    dest = _dest(tmp_path, kind)
    index = spark.createDataFrame([("a", "k1"), ("b", "k2")], "id string, kind string")
    write_table(index, dest, NODE_INDEX)
    swap_staging(spark, dest, tables=[NODE_INDEX])
    back = read_table(spark, dest, NODE_INDEX)
    assert sorted(tuple(r) for r in back.collect()) == [("a", "k1"), ("b", "k2")]
    files = back.inputFiles()
    assert files and all(f.endswith(".parquet") for f in files)


def test_read_table_rejects_another_format_and_reads_an_empty_table(spark, tmp_path):
    """A table published as CSV raises ``ValueError`` when read as
    parquet, before any Spark job, instead of reading as empty; a table
    dir with no data file reads as an empty frame of ``schema``."""
    dest = str(tmp_path)
    write_table(spark.range(2), dest, "t", fmt="csv")
    swap_staging(spark, dest, tables=["t"])
    with pytest.raises(ValueError, match="not parquet"):
        read_table(spark, dest, "t")
    assert spark.read.option("header", True).csv(os.path.join(dest, "t")).count() == 2
    os.makedirs(os.path.join(dest, "none"))
    empty = read_table(spark, dest, "none", schema="id string, kind string")
    assert empty.columns == ["id", "kind"] and empty.count() == 0


@pytest.mark.parametrize("kind", ["plain", "uri"])
def test_published_tables_lists_tables_and_the_node_index(spark, tmp_path, kind):
    for name in ("t", "t__staging", "u__old", NODE_INDEX, "_junk"):
        os.makedirs(tmp_path / name)
    (tmp_path / "loose_file").write_text("")
    dest = _dest(tmp_path, kind)
    assert published_tables(spark, dest) == {"t", NODE_INDEX}
    assert published_tables(spark, _dest(tmp_path / "missing", kind)) == set()


@pytest.mark.parametrize("fmt", ["orc", "json"])
def test_write_table_writes_parquet_or_csv_only(spark, tmp_path, fmt):
    """The sink writes the reference's two formats: any other ``fmt``
    raises, and a sync asked for one publishes nothing."""
    dest = str(tmp_path)
    with pytest.raises(ValueError, match=f"unsupported format: {fmt}"):
        write_table(spark.range(2), dest, "t", fmt=fmt)
    with pytest.raises(ValueError, match=f"unsupported format: {fmt}"):
        collect_to_files(
            spark, GraphSource.from_docs(spark, example_docs()), example_model(), dest,
            fmt=fmt,
        )
    assert published_tables(spark, dest) == set()


def test_csv_sync_publishes_data_files_only(spark, tmp_path):
    """A CSV sync's table dirs hold the CSV data files and Spark's own
    ``_SUCCESS``/``.crc`` files, nothing else, and read back in an
    external reader with every row."""
    import duckdb

    dest = str(tmp_path)
    collect_to_files(
        spark, GraphSource.from_docs(spark, example_docs()), example_model(), dest,
        fmt="csv",
    )
    tables = published_tables(spark, dest) - {NODE_INDEX}
    assert tables == {"some_instance", "some_volume", "link_some_instance_some_volume"}
    con = duckdb.connect()
    for t in sorted(tables):
        entries = os.listdir(os.path.join(dest, t))
        assert all(e.endswith((".csv", ".crc")) or e == "_SUCCESS" for e in entries), entries
        got = con.execute(f"SELECT count(*) FROM read_csv('{dest}/{t}/*.csv', header=true)")
        assert got.fetchone() == (1,), t
    con.close()
