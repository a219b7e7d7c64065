"""Incremental sync: generation N+1 from a CHANGED-NODES delta.

The reference rebuilds every table on every sync (drop_all +
create_all + full re-insert, sql.py:193-198; its "delta" is only
visual, the progress tree).  At 100 TB a full rewrite per sync is the
single biggest cost in the pipeline, so this module is the documented
beyond-reference extension: the collector ships only the nodes that
changed since the last generation (plus a tombstone doc per vanished
node), and each table advances by MERGE algebra instead of a rebuild:

* kind tables   — updated rows replace same-``_id`` rows (anti join on
  the delta's key set + union), deleted ids drop out;
* link tables   — a changed node OWNS its outbound edges: existing
  rows whose ``from_id`` is a changed/deleted node are replaced by the
  delta's edge set (so removed edges disappear), and rows pointing AT
  a deleted node are dropped (no dangling links).  Inbound edges of
  unchanged nodes are untouched.
* untouched tables — not read and not rewritten at all (the
  incremental win: a generation that changes 0.1% of nodes rewrites
  only the tables those nodes live in or own links in).

Tables publish through ``swap_staging`` only after every write has
finished, so a crash before the publish leaves generation N.  The pass
renames one table at a time: it is crash-safe, not gap-free, and a
reader that lists tables during it can see some tables of N and some
of N+1.  ``_node_index`` is published last in the same pass, so a
crash during the tables' renames leaves the index at N.
Replaying the same delta (as the stream does after a failed batch)
then plans against generation N again and completes the generation:
a table already at N+1 merges to the same rows.

Scale shape — one planning action, then one write per affected table,
the writes overlapping on up to ``defaultParallelism`` driver threads:

* plan: one collect returns the delta's (id, kind) rows, edges and
  tombstone ids and, for every id the delta mentions, its published
  kind: the ids are broadcast against the narrow ``_node_index`` (one
  scan of it, no shuffle).  All of it is change-sized by contract, and
  the broadcast brings the ids to the driver in any case.  The driver
  tags the delta edges with endpoint kinds and derives every table's
  ``upserted`` count and the affected set: the old and new kind table of each changed id, the kind table
  of each deleted id, link tables whose from-kind is the kind of a
  changed or deleted id, link tables whose to-kind is the kind of a
  deleted id, the link pairs in the delta, and every kind table of the
  model not yet published (empty if the delta has no rows for it, as
  in a full sync);
* skip: every other table is reported ``{"upserted": 0, "removed": 0}``
  without being read;
* merge: an affected table is swept by a broadcast anti join against
  the changed and deleted ids (no shuffle of the table), unioned with
  its delta rows and written once; ``removed`` is observed during that
  write, not counted by extra jobs.  The write is coalesced to the
  table's current file count, so a generation never adds files;
* stage concurrently: two calls of ``sinks.files.stage_tables``.  The
  first builds every affected table's frames (lazy, so only the listing
  of its data files runs, and a published table that is not parquet
  raises before any write); in the second, each table's merge and
  write, and the index's, is one stage function.  The publish waits
  for all of them, so a failed write publishes nothing.

The published layout belongs to ``sinks/files.py``: the planner lists
tables with ``published_tables`` and reads them, the index included,
with ``read_table``; a staged table the plan could not rule out that
turned out unchanged is removed with ``discard_staged``.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from resotodatalink_spark.model.compiler import link_table_schema
from resotodatalink_spark.model.kinds import Model, get_link_table_name, get_table_name
# sync_views is not called here; syncbench/spans.py wraps it in this module
from resotodatalink_spark.operators.flatten import flatten_nodes, sync_views  # noqa: F401
from resotodatalink_spark.operators.sync import Progress, no_progress
from resotodatalink_spark.sinks.files import (
    NODE_INDEX,
    discard_staged,
    published_tables,
    read_table,
    stage_tables,
    swap_staging,
    write_table,
)
from resotodatalink_spark.sources.graph import GraphSource, local_frame


def _node_index(spark: SparkSession, dest_dir: str, listed: set[str]) -> DataFrame:
    """The published (id, kind) index, which lists every node of the
    generation ``collect_to_files`` or the last delta published.
    ``listed`` is ``published_tables`` of ``dest_dir``.  A destination
    with no tables starts from an empty index (generation 0); one with
    tables but no index cannot be planned and is rejected before
    anything is staged."""
    if NODE_INDEX in listed:
        return read_table(spark, dest_dir, NODE_INDEX, schema="id string, kind string")
    if listed:
        raise ValueError(
            f"{dest_dir} holds tables but no {NODE_INDEX}: republish it with collect_to_files"
        )
    return local_frame(spark, id=[], kind=[])


def _merge(
    existing: DataFrame,
    sweeps: list[tuple[str, DataFrame]],
    delta_rows: DataFrame | None,
) -> tuple[DataFrame, Observation, Observation]:
    """``existing`` minus the rows whose key column is in a sweep's id
    set, plus ``delta_rows``, held at ``existing``'s file count.  The two
    observations count the rows before and after the sweeps while the
    result is written."""
    before, after = Observation(), Observation()
    kept = existing.observe(before, F.count(F.lit(1)).alias("n"))
    for key, ids in sweeps:
        kept = kept.join(F.broadcast(ids), kept[key] == ids["id"], "left_anti")
    kept = kept.observe(after, F.count(F.lit(1)).alias("n"))
    merged = kept if delta_rows is None else delta_rows.unionByName(kept)
    return merged.coalesce(max(1, len(existing.inputFiles()))), before, after


def _tag(df: DataFrame, what: str, a: str, b: str) -> DataFrame:
    return df.select(F.lit(what).alias("what"), F.col(a).alias("a"), F.col(b).alias("b"))


def _plan(
    rows: list,
    deleted: list[str],
    kind_tables: set[str],
    on_disk: set[str],
) -> tuple[dict[str, int], dict[str, list[tuple[str, str]]], set[str], list[str]]:
    """From the planning rows — ``("node", id, kind)`` per delta node,
    ``("edge", from_id, to_id)`` per delta edge, ``("old", id, kind)``
    per published index row of an id the delta mentions — derive the
    per-table upserted counts, the delta's link rows by table, the set
    of tables the generation may change, and the changed ids.  A
    changed id the index does not list is a new node, with no rows to
    sweep."""
    new_kind: dict[str, str] = {}
    old_kind: dict[str, str] = {}
    edges: list[tuple[str, str]] = []
    upserted: dict[str, int] = {}
    for what, a, b in rows:
        if what == "edge":
            edges.append((a, b))
        elif what == "old":
            old_kind[a] = b
        elif what == "node":
            if b is not None and (name := get_table_name(b)) in kind_tables:
                upserted[name] = upserted.get(name, 0) + 1
            if a is not None:
                new_kind[a] = b
    # endpoint kinds: the delta's nodes win (a changed node's NEW kind),
    # the index fills in the unchanged endpoints; an edge with an
    # unresolved endpoint lands in no table, as in a full sync
    kind_of = {**old_kind, **new_kind}
    links: dict[str, list[tuple[str, str]]] = {}
    for f, t in edges:
        if kind_of.get(f) is not None and kind_of.get(t) is not None:
            links.setdefault(get_link_table_name(kind_of[f], kind_of[t]), []).append((f, t))
    upserted.update((name, len(r)) for name, r in links.items())

    # kinds whose tables may hold rows a changed (owners) or deleted
    # (gone) id owns; a node without a kind has no rows
    owners = {old_kind.get(i) for i in new_kind} - {None}
    gone = {old_kind.get(i) for i in deleted} - {None}

    def link_tables(kinds: set[str], end: str) -> set[str]:
        # link names truncate kind names, so a prefix may match a few
        # extra tables; those merge to no change and are not published
        stems = {get_table_name(k)[0:25] for k in kinds}
        return {
            t
            for t in on_disk
            if t.startswith("link_")
            and any(
                t.startswith(f"link_{s}_") if end == "from" else t.endswith(f"_{s}")
                for s in stems
            )
        }

    affected = set(upserted) | {get_table_name(k) for k in owners | gone}
    affected |= link_tables(owners | gone, "from") | link_tables(gone, "to")
    affected |= kind_tables - on_disk
    return upserted, links, affected, list(new_kind)


def sync_delta(
    spark: SparkSession,
    delta: GraphSource,
    model: Model,
    dest_dir: str,
    progress: Progress = no_progress,
) -> dict[str, dict[str, int]]:
    """Advance the published tables under ``dest_dir`` by one
    generation.  ``delta`` holds ONLY changed/new nodes, the complete
    current outbound edge set of those nodes, and as ``deleted`` the
    ids of its tombstone docs (``{"type": "deleted", "id": ...}``) for
    nodes that vanished.  Returns per-table
    ``{"upserted": n, "removed": m}`` (removed = replaced + deleted
    rows) for every kind table of the model, link pair of the delta and
    table on disk; tables with both zero are not rewritten, except a
    kind table not published yet, which is published empty.

    The generation is planned against the published ``_node_index``,
    which ``collect_to_files`` and every delta publish with their
    tables.  An empty destination starts from an empty index; one that
    holds tables but no index raises ``ValueError`` before anything is
    staged (republish it with ``collect_to_files``).

    Affected tables stage concurrently; ``progress`` reports every
    table in order, on the caller's thread, once all of them are staged.
    ``delta`` is read by the planning collect and once per affected
    kind table, change-sized each time.  A cached one costs more than
    it saves: adaptive execution fills an empty cache once per scan of
    the planning collect, each in a job of its own.

    Size bound: the planning collect brings to the driver one row per
    delta node, per delta edge and per index row of an id the delta
    mentions, and each link table's delta rows go back as a local
    relation.  The driver holds the delta's ids and edges at once, so
    a delta must be change-sized; publish a whole graph, or a catch-up
    of many generations, with ``collect_to_files`` instead."""
    listed = published_tables(spark, dest_dir)
    on_disk = listed - {NODE_INDEX}
    index = _node_index(spark, dest_dir, listed)
    kind_tables = {get_table_name(k.fqn): k for k in model.table_kinds()}

    # The one planning action: the delta's node kinds, edges and
    # tombstones, and the published kind of every id the delta mentions
    # (one scan of the narrow index against the broadcast ids, no
    # shuffle of it).  All of it is change-sized by contract; the
    # broadcast brings the ids to the driver anyway.
    nodes = delta.nodes.select("id", "kind")
    edges = delta.default_edges().select("from_id", "to_id")
    mentioned = (
        nodes.select("id")
        .unionByName(delta.deleted.select("id"))
        .unionByName(edges.select(F.col("from_id").alias("id")))
        .unionByName(edges.select(F.col("to_id").alias("id")))
    )
    old = index.join(F.broadcast(mentioned), "id", "left_semi")
    rows = (
        _tag(nodes, "node", "id", "kind")
        .unionByName(_tag(edges, "edge", "from_id", "to_id"))
        .unionByName(_tag(delta.deleted, "gone", "id", "id"))
        .unionByName(_tag(old, "old", "id", "kind"))
        .collect()
    )
    # a tombstone is a ("gone", id, id) row; one without an id deletes nothing
    deleted = sorted({a for what, a, _ in rows if what == "gone"} - {None})
    gone = local_frame(spark, id=deleted)
    upserted, links, affected, changed = _plan(rows, deleted, set(kind_tables), on_disk)
    # The sweep key set: EVERY changed node id, not just the ids a
    # table's delta rows contain.  A changed node whose outbound edges
    # all vanished ships no link row, and a node whose kind changed has
    # no row in its old kind's delta; both still own stale rows.
    swept = local_frame(spark, id=changed + deleted)

    def frames(name: str) -> tuple[DataFrame | None, DataFrame | None]:
        """One affected table's delta rows, and its published rows unless
        it is new.  A known schema saves the job that infers one from a
        file footer; a kind table reads in the current model's columns,
        so a property the model gained is NULL in old rows."""
        dv = None
        if name in kind_tables:
            dv = flatten_nodes(delta.nodes, model, kind_tables[name])
        elif name in links:
            f, t = zip(*links[name])
            dv = local_frame(spark, from_id=list(f), to_id=list(t))
        if name not in on_disk:
            return dv, None
        if name.startswith("link_"):
            schema = link_table_schema()
        else:
            schema = dv.schema if dv is not None else None
        return dv, read_table(spark, dest_dir, name, schema=schema)

    def stage(name: str, dv: DataFrame | None, old: DataFrame | None) -> int:
        """Stage one affected table's merge; returns its removed rows."""
        if old is None:
            # not published yet (a kind of the model, a new link pair): one file
            write_table(dv.coalesce(1), dest_dir, name)
            return 0
        if name.startswith("link_"):
            sweeps = [("from_id", swept)] + ([("to_id", gone)] if deleted else [])
        else:
            sweeps = [("_id", swept)]
        merged, before, after = _merge(old, sweeps, dv)
        write_table(merged, dest_dir, name)
        removed = before.get["n"] - after.get["n"]
        if not (upserted.get(name) or removed):
            discard_staged(spark, dest_dir, name)  # the plan could not rule it out; nothing changed
        return removed

    def stage_index() -> None:
        # _node_index advances by the same merge algebra as the kind tables
        merged, _, _ = _merge(index, [("id", swept)], nodes)
        write_table(merged, dest_dir, NODE_INDEX)

    names = sorted(set(kind_tables) | set(links) | on_disk)
    work = [n for n in names if n in affected]
    # every table's frames are built before anything is staged: they
    # are lazy, but a published table that is not parquet raises here.
    # Building them is driver-side plan analysis (a flatten per kind
    # table), so it overlaps on the stage pool too.
    built = stage_tables(spark, [functools.partial(frames, n) for n in work])
    *counts, _ = stage_tables(
        spark, [functools.partial(stage, n, *b) for n, b in zip(work, built)] + [stage_index]
    )
    removed = dict(zip(work, counts))
    staged = [n for n in work if n not in on_disk or upserted.get(n) or removed[n]]

    stats: dict[str, dict[str, int]] = {}
    for i, name in enumerate(names, 1):
        stats[name] = {"upserted": upserted.get(name, 0), "removed": removed.get(name, 0)}
        progress("sync_delta", i, len(names))

    # publish once every table is staged, the index last: a crash during
    # the tables' renames leaves it at N, and a replay plans against N again
    swap_staging(spark, dest_dir, tables=[*staged, NODE_INDEX])
    return stats
