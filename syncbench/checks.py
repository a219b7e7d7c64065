"""Correctness checks on published tables, computed without Spark.

Every check reads the parquet files a sync published with DuckDB and
compares them with what the generator (``gen.GraphState``) says the
tables must hold.  A check returns a list of problems; an empty list
means the output is correct.
"""

from __future__ import annotations

import glob
import math
import os
import random

import duckdb

import gen

# reported properties that land in kind tables as plain scalar columns
_SCALARS = (str, int, float, bool)


def connect() -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB on one thread, so checks do not compete with
    Spark for cores."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=1")
    return con


def _files(table_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(table_dir, "*.parquet")))


def published_tables(dest: str) -> list[str]:
    """Published table names under ``dest``: no staging/old/hidden dirs."""
    if not os.path.isdir(dest):
        return []
    return sorted(
        e
        for e in os.listdir(dest)
        if os.path.isdir(os.path.join(dest, e))
        and not e.endswith(("__staging", "__old"))
        and (not e.startswith("_") or e == gen.NODE_INDEX)
    )


def published_bytes(dest: str) -> int:
    return sum(os.path.getsize(f) for t in published_tables(dest) for f in _files(os.path.join(dest, t)))


def scan(table_dir: str) -> str:
    """SQL that reads every parquet file of one published table."""
    files = _files(table_dir)
    if not files:
        raise ValueError(f"no parquet files in {table_dir}")
    return "read_parquet([" + ",".join(f"'{f}'" for f in files) + "])"


def row_counts(dest: str) -> dict[str, int]:
    con = connect()
    return {t: con.execute(f"SELECT count(*) FROM {scan(os.path.join(dest, t))}").fetchone()[0] for t in published_tables(dest)}


def expected_row(doc: dict) -> dict:
    """The columns of a node's kind-table row that the checks compare:
    id, every scalar or list property, ctime as epoch seconds, tags and
    the carz columns."""
    rep = doc["reported"]
    row: dict = {"_id": doc["id"]}
    for k, v in rep.items():
        if k in ("kind", "tags", "ctime"):
            continue
        if isinstance(v, _SCALARS) or isinstance(v, list):
            row[k] = v
    row["ctime"] = int(gen.dt.datetime.strptime(rep["ctime"], "%Y-%m-%dT%H:%M:%SZ").replace(tzinfo=gen.dt.timezone.utc).timestamp())
    row["tags"] = dict(rep["tags"])
    for c in gen.CARZ:
        anc = doc["ancestors"].get(c)
        row[c] = anc["reported"]["id"] if anc else None
    return row


def _select(column: str) -> str:
    if column == "ctime":
        return "epoch(ctime)::BIGINT AS ctime"
    if column == "tags":
        return "map_keys(tags) AS tag_keys, map_values(tags) AS tag_values"
    return f'"{column}"'


def sample_rows(dest: str, state: gen.GraphState, rng: random.Random, per_kind: int = 3) -> list[str]:
    """Compare a seeded sample of rows of every kind table with the
    generator's nodes."""
    problems: list[str] = []
    con = connect()
    for kind in gen.table_kinds():
        ids = state.of_kind(kind)
        for nid in rng.sample(ids, min(per_kind, len(ids))):
            want = expected_row(state.nodes[nid])
            cols = list(want)
            sql = f"SELECT {', '.join(_select(c) for c in cols)} FROM {scan(os.path.join(dest, kind))} WHERE _id = ?"
            cur = con.execute(sql, [nid])
            got_rows = cur.fetchall()
            if len(got_rows) != 1:
                problems.append(f"{kind}: {len(got_rows)} rows for _id {nid}")
                continue
            got = dict(zip([d[0] for d in cur.description], got_rows[0]))
            got["tags"] = dict(zip(got.pop("tag_keys") or [], got.pop("tag_values") or []))
            for c in cols:
                g, w = got[c], want[c]
                if isinstance(w, float) and g is not None and math.isclose(g, w, rel_tol=1e-9):
                    continue
                if g != w:
                    problems.append(f"{kind}/{nid}.{c}: published {g!r}, generated {w!r}")
    return problems


def compare_counts(got: dict[str, int], want: dict[str, int]) -> list[str]:
    """Per-table row counts; a table missing on one side counts as empty
    there (an incremental sync keeps a link table whose rows all went)."""
    return [
        f"{t}: {got.get(t, 0)} rows published, {want.get(t, 0)} generated"
        for t in sorted(set(got) | set(want))
        if got.get(t, 0) != want.get(t, 0)
    ]


def check_full_sync(dest: str, state: gen.GraphState, rng: random.Random) -> list[str]:
    """Table set, per-table row counts and a seeded row sample."""
    want = state.table_counts()
    tables = published_tables(dest)
    problems = []
    if sorted(want) != tables:
        problems.append(f"table set differs: missing {sorted(set(want) - set(tables))}, extra {sorted(set(tables) - set(want))}")
    problems += compare_counts(row_counts(dest), want)
    return problems + sample_rows(dest, state, rng)


def table_checksums(dest: str) -> dict[str, tuple[int, int]]:
    """Order-insensitive (row count, sum of row hashes) per table."""
    con = connect()
    out = {}
    for t in published_tables(dest):
        n, h = con.execute(f"SELECT count(*), coalesce(sum(hash(t)::HUGEINT), 0) FROM {scan(os.path.join(dest, t))} t").fetchone()
        out[t] = (int(n), int(h))
    return out


def compare_checksums(got: dict[str, tuple[int, int]], want: dict[str, tuple[int, int]]) -> list[str]:
    """Every table's checksum must match; a table missing on one side
    must be empty on the other."""
    empty = (0, 0)
    return [
        f"{t}: checksum {got.get(t, empty)} after deltas, {want.get(t, empty)} from a full sync"
        for t in sorted(set(got) | set(want))
        if got.get(t, empty) != want.get(t, empty)
    ]


def normalize(rows: list) -> list[tuple]:
    """Order-insensitive, float-tolerant canonical form of result rows."""

    def cell(v):
        if isinstance(v, float):
            return round(v, 6)
        if isinstance(v, list):
            return tuple(cell(x) for x in v)
        return v

    return sorted((tuple(cell(v) for v in r) for r in rows), key=repr)


def compare_answer(label: str, got: list, want: list) -> list[str]:
    g, w = normalize(got), normalize(want)
    if g == w:
        return []
    missing = [r for r in w if r not in g][:3]
    extra = [r for r in g if r not in w][:3]
    return [f"{label}: {len(g)} rows, oracle {len(w)}; missing {missing}, extra {extra}"]
