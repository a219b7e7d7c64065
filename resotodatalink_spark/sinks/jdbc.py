"""JDBC sink — the reference's SQL-database path (sql.py:245-261).

The reference chunks INSERT statements at ``insert_batch_size`` (5000,
sql.py:173); Spark's JDBC writer does the same via ``batchsize`` with
one connection per partition, so ingest parallelism scales with the
DataFrame's partitioning instead of a single connection.  Spark's
writer also generates the CREATE TABLE; nested values ship as JSON
text (``sinks.files.stringify_nested``).

``operators/sync.collect_sql`` is the one caller: it writes each tmp
table with ``write_jdbc``, then runs the publish statements of the
URL's dialect (``sinks.dialects``, the reference's DialectUpdater,
sql.py:264-272) through ``execute_statements`` over a live
``java.sql.Connection`` from the driver JVM — the analog of the
reference's engine-side swap (sql.py:129-159).  Both run in CI against
Apache Derby, the embedded engine already on Spark's classpath for the
Hive metastore, via ``jdbc:derby:memory:`` URLs
(tests/test_jdbc_derby.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from resotodatalink_spark.sinks.files import stringify_nested


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    batch_size: int = 5000,
    column_types: str | None = None,
) -> None:
    """Overwrite ``table`` with ``df`` through ``df.write.jdbc``, nested
    columns as JSON text.  ``column_types`` is a Spark
    ``createTableColumnTypes`` fragment (see
    ``dialects.jdbc_column_types``) that makes the P9 VARCHAR widths
    govern the DDL Spark generates — without it every string column
    gets the engine's unbounded default."""
    w = stringify_nested(df).write
    if column_types:
        w = w.option("createTableColumnTypes", column_types)
    w.jdbc(url=url, table=table, mode="overwrite", properties={"batchsize": str(batch_size)})


# Derby's "object does not exist": a guardless DROP of a missing table
MISSING_OBJECT_SQLSTATE = "42Y55"


def execute_statements(spark: SparkSession, url: str, statements: list[str]) -> list[str]:
    """Execute DDL/DML statements as ONE JDBC transaction over a live
    connection from the driver JVM's ``DriverManager`` (how the
    reference's engine connection runs the swap, sql.py:129-159).
    Driver-side on purpose: the swap is a handful of metadata
    statements, not data movement — the data went through
    ``write_jdbc``'s distributed path.

    Autocommit is off and the transaction commits after the last
    statement; any failure raised rolls it back before the connection
    closes.  On an engine with transactional DDL (Derby, Postgres) a
    publish is therefore all-or-nothing across every table of the
    generation.  MySQL and Snowflake commit each DDL statement
    implicitly, so there the publish stays atomic per table only.

    ``MISSING_OBJECT_SQLSTATE`` is skipped where the dialect has no
    ``IF EXISTS`` guard (Derby) — but ONLY on ``DROP`` statements,
    which are the guardless case, and without ending the transaction.
    A RENAME that hits the same state (e.g. the tmp table is missing
    after a partial prior run) is a failed publish, not a benign
    first-run drop, and must raise rather than let the old generation
    silently stay live.  Anything else re-raises.  Returns
    the statements that actually executed."""
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    executed: list[str] = []
    try:
        conn.setAutoCommit(False)
        st = conn.createStatement()
        for s in statements:
            try:
                st.execute(s)
                executed.append(s)
            except Exception as e:  # Py4JJavaError wrapping SQLException
                je = getattr(e, "java_exception", None)
                state = (
                    je.getSQLState()
                    if je is not None and hasattr(je, "getSQLState")
                    else None
                )
                is_drop = s.lstrip().upper().startswith("DROP ")
                if not is_drop or state != MISSING_OBJECT_SQLSTATE:
                    raise
        conn.commit()
    except BaseException:
        conn.rollback()
        raise
    finally:
        conn.close()
    return executed


def list_jdbc_tables(spark: SparkSession, url: str) -> list[str]:
    """Table names visible through JDBC metadata, lowercased (Derby
    reports unquoted identifiers uppercase), mirroring the reference's
    pre-swap metadata reflection (sql.py:129-143).

    Enumeration is scoped to the connection's CURRENT schema (the
    reference reflects only the default schema, sql.py:129-134): an
    unscoped ``getTables(None, None, ...)`` walks every catalog and
    schema, and a stale-table sweep fed by that list would drop other
    applications' tables on a shared database."""
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        try:
            schema = conn.getSchema()  # JDBC 4.1; None on old drivers
        except Exception:
            schema = None
        rs = conn.getMetaData().getTables(None, schema, "%", None)
        out = []
        while rs.next():
            if rs.getString("TABLE_TYPE") == "TABLE":
                out.append(rs.getString("TABLE_NAME").lower())
        return sorted(out)
    finally:
        conn.close()
