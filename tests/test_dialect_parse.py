"""Grammar validation for the publish statements of engines with no
live server in CI.

MySQL/Snowflake (and Postgres, which takes the default dialect) have no
live engine here, so every statement a dialect's ``swap_sql`` renders
(the only SQL ``collect_sql`` hands to ``execute_statements``) is
pushed through a real parser instead of string goldens:

* DuckDB's parser is PostgreSQL-derived — ``extract_statements`` is a
  parse-only gate (no bind/execute), so the ANSI-shaped statements of
  every dialect must parse verbatim.
* Engine-specific statements DuckDB's grammar lacks (``RENAME TABLE``,
  ``SWAP WITH``, ``CREATE TABLE .. LIKE``) are validated by an anchored
  regex pinned to the target engine's documented grammar.
"""

from __future__ import annotations

import re

import duckdb
import pytest

from resotodatalink_spark.sinks.dialects import DIALECTS

_IDENT = r'(?:"[A-Za-z_]\w*"|[A-Za-z_]\w*)'
# Engine-specific grammars DuckDB cannot parse, anchored end-to-end.
_ENGINE_SPECIFIC = {
    "snowflake": [
        rf"^ALTER TABLE {_IDENT} SWAP WITH {_IDENT}$",
        rf"^CREATE TABLE IF NOT EXISTS {_IDENT} LIKE {_IDENT}$",
    ],
    "mysql": [
        rf"^RENAME TABLE {_IDENT} TO {_IDENT}(?:, {_IDENT} TO {_IDENT})*$",
        rf"^CREATE TABLE IF NOT EXISTS {_IDENT} LIKE {_IDENT}$",
    ],
    "derby": [
        rf"^RENAME TABLE {_IDENT} TO {_IDENT}$",
    ],
}


def _duckdb_parses(sql: str) -> None:
    stmts = duckdb.connect().extract_statements(sql)  # raises on bad syntax
    assert len(stmts) == 1, f"expected one statement, got {len(stmts)}: {sql}"


@pytest.mark.parametrize("name", sorted(DIALECTS))
def test_every_rendered_statement_parses(name):
    specific = [re.compile(p) for p in _ENGINE_SPECIFIC.get(name, [])]
    for sql in DIALECTS[name].swap_sql("tmp_t", "t"):
        if not any(p.match(sql) for p in specific):
            _duckdb_parses(sql)
