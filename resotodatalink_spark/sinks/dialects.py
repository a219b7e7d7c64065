"""Sink dialect registry: the publish statements and string widths of
each JDBC engine (K4/U2).

The reference dispatches database-specific behavior through a
``DialectUpdater`` registry keyed by SQLAlchemy dialect name (reference
sql.py:264-272) with Snowflake as the one shipped specialization
(reference snowflake.py:49-92).  This module is the Spark-side
equivalent: a registry keyed by dialect name, resolved from a JDBC URL
scheme, where each dialect contributes exactly what
``operators/sync.collect_sql`` runs:

* ``swap_sql``, the tmp -> prod publish statements of one table, which
  ``sinks.jdbc.execute_statements`` runs as one JDBC transaction, and
* ``string_type``, the P9 VARCHAR width of a string column, which
  ``jdbc_column_types`` hands to Spark's JDBC writer as
  ``createTableColumnTypes``.

Spark's JDBC writer generates every CREATE TABLE and INSERT itself
(the reference hands both to SQLAlchemy, sql.py:182-188, 245-261), and
nested values ship as JSON text (``sinks.files.stringify_nested``), on
Snowflake too.

Custom dialects register with ``@register_dialect`` (the reference's
``DialectUpdater["name"] = cls`` extension point, U2).
"""

from __future__ import annotations

import re

from resotodatalink_spark.model.kinds import Model

# P9 (reference sql.py:92-100, pinned by sql_test.py:34-38): these
# kinds size their column from the property's ``metadata["len"]``.
_SIZED_KINDS = ("string", "duration")


class SqlDialect:
    """Default ANSI dialect: drop+rename publish, P9 VARCHAR widths."""

    name = "default"

    def string_type(self, length: int | None) -> str | None:
        """P9 width: <=32 -> VARCHAR(32), 32..1024 -> the next power of
        two, no length metadata -> VARCHAR(255), >1024 -> None (no
        override: the engine's unbounded default applies, since Spark's
        DDL parser accepts VARCHAR(n) but not TEXT or CLOB)."""
        # isinstance guard mirrors the reference (sql.py:92-100):
        # malformed model metadata (e.g. a string '34') degrades to
        # the default width instead of crashing DDL generation.
        # bool is excluded explicitly — True would otherwise size as 1.
        if not isinstance(length, int) or isinstance(length, bool):
            return "VARCHAR(255)"
        if length > 1024:
            return None
        width = 32
        while width < length:
            width *= 2
        return f"VARCHAR({width})"

    def swap_sql(self, tmp_table: str, prod_table: str) -> list[str]:
        """tmp -> prod publish statements (reference sql.py:129-159
        drop+rename)."""
        return [
            f"DROP TABLE IF EXISTS {prod_table}",
            f"ALTER TABLE {tmp_table} RENAME TO {prod_table}",
        ]


class SnowflakeDialect(SqlDialect):
    """Snowflake: unbounded strings and an atomic SWAP WITH publish
    (reference snowflake.py:20-92).  Snowflake DDL commits implicitly,
    so its publish stays atomic per table, not per generation."""

    name = "snowflake"

    def string_type(self, length: int | None) -> str | None:
        # the reference's snowflake mapper has no width heuristic
        # (snowflake.py:37-38 vs sql.py:92-100): plain STRING
        return None

    def swap_sql(self, tmp_table: str, prod_table: str) -> list[str]:
        """SWAP WITH exchanges both tables' identities in one statement
        (no drop window); the first sync creates an empty prod table to
        swap with."""
        return [
            f"CREATE TABLE IF NOT EXISTS {prod_table} LIKE {tmp_table}",
            f"ALTER TABLE {tmp_table} SWAP WITH {prod_table}",
            f"DROP TABLE {tmp_table}",
        ]


class MySQLDialect(SqlDialect):
    """MySQL/MariaDB (reference engine via SQLAlchemy): the publish uses
    MySQL's atomic multi-table ``RENAME TABLE old-out, new-in``, so
    readers never observe the table missing.  MySQL DDL commits
    implicitly, so the publish stays atomic per table, not per
    generation."""

    name = "mysql"

    def swap_sql(self, tmp_table: str, prod_table: str) -> list[str]:
        trash = f"{prod_table}__old"
        return [
            f"DROP TABLE IF EXISTS {trash}",
            f"CREATE TABLE IF NOT EXISTS {prod_table} LIKE {tmp_table}",
            f"RENAME TABLE {prod_table} TO {trash}, {tmp_table} TO {prod_table}",
            f"DROP TABLE {trash}",
        ]


class DerbyDialect(SqlDialect):
    """Apache Derby (the engine embedded in Spark's own classpath for
    the Hive metastore) — used as a LIVE engine in CI: Derby has no
    ``IF [NOT] EXISTS`` guards and renames with ``RENAME TABLE`` instead
    of ``ALTER TABLE`` (the ANSI drift the reference's DialectUpdater
    registry exists for, sql.py:264-272).  Executed for real in
    tests/test_jdbc_derby.py via ``jdbc:derby:memory:``."""

    name = "derby"

    def swap_sql(self, tmp_table: str, prod_table: str) -> list[str]:
        """No DROP IF EXISTS in Derby: the first publish's DROP fails
        with SQLState 42Y55 (object does not exist), which
        ``execute_statements`` tolerates on a DROP."""
        return [
            f"DROP TABLE {prod_table}",
            f"RENAME TABLE {tmp_table} TO {prod_table}",
        ]


def _resolve_scalar(model: Model, kind_name: str) -> str:
    """Follow runtime_kind refinements down to the base scalar name."""
    kind = model.kinds.get(kind_name)
    if kind is not None and kind.runtime_kind is not None:
        return _resolve_scalar(model, kind.runtime_kind)
    return kind_name


def jdbc_column_types(dialect: SqlDialect, model: Model, kind_name: str) -> str | None:
    """Spark JDBC ``createTableColumnTypes`` fragment that applies the
    dialect's P9 widths (``string_type``) to the string columns of
    ``kind_name``'s table, from the model's property metadata (reference
    sql.py:182-188 + 92-100).  Without it Spark's writer gives every
    string column the engine's unbounded default.  Returns None when no
    column needs an override (always, on Snowflake)."""
    props, _ = model.kind_properties(model.kinds[kind_name], with_id=True)
    parts = []
    for p in props:
        if _resolve_scalar(model, p.kind) not in _SIZED_KINDS:
            continue
        t = dialect.string_type((p.metadata or {}).get("len"))
        if t is not None:
            parts.append(f"`{p.name}` {t}")
    return ", ".join(parts) if parts else None


DIALECTS: dict[str, SqlDialect] = {}


def register_dialect(dialect: type[SqlDialect]) -> type[SqlDialect]:
    """Class decorator / direct call: the U2 extension point
    (reference sql.py:264-266 ``DialectUpdater`` dict)."""
    DIALECTS[dialect.name] = dialect()
    return dialect


register_dialect(SqlDialect)
register_dialect(SnowflakeDialect)
register_dialect(MySQLDialect)
register_dialect(DerbyDialect)


def dialect_for(url_or_name: str) -> SqlDialect:
    """Resolve a dialect from a name or JDBC URL.  ``jdbc:mysql://``
    -> "mysql"; subprotocol-only URLs like ``jdbc:derby:memory:x``
    (no ``//``) resolve on the token after ``jdbc:``; unknown dialects
    (Postgres and sqlite among them) get the default (reference
    sql.py:268-271 ``DialectUpdater.get(..., SqlDefaultUpdater)``)."""
    name = url_or_name
    if "://" in name or name.startswith("jdbc:"):
        m = re.match(r"^(?:jdbc:)?([a-zA-Z0-9_+-]+)://", name) or re.match(
            r"^jdbc:([a-zA-Z0-9_+-]+):", name
        )
        name = m.group(1) if m else name
    return DIALECTS.get(name, DIALECTS["default"])
