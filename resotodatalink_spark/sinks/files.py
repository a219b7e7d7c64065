"""File sinks with staged write + atomic publish.

The reference appends batches via per-table Parquet/CSV writers
(writer.py:171-184, 222-253) and publishes SQL tables by writing
``tmp_*`` tables then renaming (sql.py:129-159).  Spark's file commit
protocol already makes each ``df.write`` atomic per table; the
cross-table all-or-nothing publish the reference gets from its single
transaction (collect_plugins.py:193-194) is emulated with staging
directories renamed in one final pass.

This module alone owns the published layout: which directories under
a destination are tables (``published_tables``), which files of a
table hold its data (``read_table``), and how a generation is staged
and published (``write_table``, ``stage_tables``, ``swap_staging``).
Every other module lists and reads through these.

CSV cannot hold nested types; nested columns are JSON-stringified the
way the reference's CSV type map does (type_converter.py:35-55,
writer.py:130-146).

Cloud paths (s3a://, gs://) work through the Hadoop filesystem — the
reference's spool-and-upload dance (writer.py:187-219) disappears:
``df.write`` resolves the scheme itself, and ``published_tables``,
``read_table`` and ``swap_staging`` route their list/exists/rename/
delete through the Hadoop FileSystem API whenever the destination is a
URI (exercised in CI over ``file:`` URIs, which take
the exact same FS-API path as ``s3a://`` minus the S3 connector —
tests/test_sinks.py).  NOTE on object stores: S3 "rename" is
copy+delete (not atomic, O(data)); for heavy S3 publishing prefer a
table format with a metastore pointer flip.  The FS-API path is still
correct there — just not instantaneous.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, NamedTuple, TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

STAGING_SUFFIX = "__staging"

# (id, kind) index table published with every generation (leading
# underscore keeps it out of the kind/link namespace), always as
# parquet.  Every delta generation is planned against it — see
# operators/incremental.py, which rejects a destination that holds
# tables but no index.  It is always the last name of its generation's
# one ``swap_staging`` call, so it is never newer than a table.
NODE_INDEX = "_node_index"


def _is_uri(path: str) -> bool:
    return "://" in path or path.startswith("file:")


class _HadoopFs:
    """Minimal list/isdir/exists/rename/rmtree over the JVM Hadoop
    FileSystem — the routing layer that makes the staged-publish
    sequence work on any scheme Spark can write to (K8, reference
    writer.py:187-219)."""

    def __init__(self, spark: SparkSession, base: str):
        jvm = spark._jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        hconf = spark._jsc.hadoopConfiguration()
        self._fs = self._Path(base).getFileSystem(hconf)

    def listdir(self, d: str) -> list[str]:
        return [s.getPath().getName() for s in self._fs.listStatus(self._Path(d))]

    def isdir(self, p: str) -> bool:
        path = self._Path(p)
        return bool(self._fs.exists(path) and self._fs.getFileStatus(path).isDirectory())

    def exists(self, p: str) -> bool:
        return bool(self._fs.exists(self._Path(p)))

    def rename(self, src: str, dst: str) -> None:
        if not self._fs.rename(self._Path(src), self._Path(dst)):
            raise OSError(f"rename failed: {src} -> {dst}")

    def rmtree(self, p: str) -> None:
        self._fs.delete(self._Path(p), True)


def stringify_nested(df: DataFrame) -> DataFrame:
    """JSON-encode array/map/struct columns for flat formats."""
    cols = []
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
            cols.append(F.to_json(F.col(f.name)).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)


def write_table(
    df: DataFrame,
    dest_dir: str,
    table_name: str,
    fmt: str = "parquet",
) -> str:
    """Stage one table under ``dest_dir``: the data lands in
    ``<table>__staging`` until ``swap_staging`` publishes it.  Returns
    the staged path."""
    path = os.path.join(dest_dir, table_name + STAGING_SUFFIX)
    if fmt == "csv":
        flat = stringify_nested(df)
        flat.write.mode("overwrite").option("header", True).csv(path)
        _write_schema_marker(flat, path)
    elif fmt == "parquet":
        df.write.mode("overwrite").parquet(path)
    elif fmt == "orc":
        df.write.mode("overwrite").orc(path)
    elif fmt == "json":
        # JSON-lines keeps nested types natively; no stringification.
        # Type fidelity on re-read comes from the schema marker: JSON
        # text cannot distinguish timestamp/date/decimal from string,
        # so inference alone would round-trip them as strings.
        df.write.mode("overwrite").json(path)
        _write_schema_marker(df, path)
    else:
        raise ValueError(f"unsupported format: {fmt}")
    return path


SCHEMA_MARKER = "_schema.parquet"


def _write_schema_marker(df: DataFrame, table_path: str) -> None:
    """Zero-row parquet carrying the exact write-side schema for text
    formats, written INSIDE the table directory (the sink-side twin of
    ``sources.tables._read_any``'s schema-sibling convention, round-11
    advice) so a JSON/CSV round-trip keeps timestamp/date/decimal
    columns typed instead of falling back to string inference.

    Living inside the data dir (underscore-prefixed, so every Spark
    reader's hidden-file filter skips it) means it rides the SAME
    staging rename as its data — no publish-order crash window where a
    new schema could silently misparse old data, no extra entry in the
    swap, and ``df.write`` resolves cloud URIs the exact same way the
    data write did."""
    df.limit(0).write.mode("overwrite").parquet(
        table_path.rstrip("/") + "/" + SCHEMA_MARKER
    )


OLD_SUFFIX = "__old"


class _Fs(NamedTuple):
    listdir: Callable[[str], list[str]]
    isdir: Callable[[str], bool]
    exists: Callable[[str], bool]
    rename: Callable[[str, str], None]
    rmtree: Callable[[str], None]
    join: Callable[..., str]


def _fs(dest_dir: str, spark: SparkSession | None) -> _Fs:
    """The file primitives for ``dest_dir``: ``os`` for a plain local
    path, the Hadoop FileSystem of the active session for a URI."""
    if _is_uri(dest_dir):
        spark = spark or SparkSession.getActiveSession()
        if spark is None:
            raise ValueError("URI destination needs an active SparkSession")
        fs = _HadoopFs(spark, dest_dir)
        join = lambda *parts: "/".join(p.rstrip("/") for p in parts)  # noqa: E731
        return _Fs(fs.listdir, fs.isdir, fs.exists, fs.rename, fs.rmtree, join)
    return _Fs(
        os.listdir, os.path.isdir, os.path.exists, os.rename, shutil.rmtree, os.path.join
    )


def swap_staging(
    dest_dir: str,
    tables: list[str],
    spark: SparkSession | None = None,
) -> list[str]:
    """Publish the ``<t>__staging`` dir of each name in ``tables``, in
    the order given, and return the names (reference swap_temp_tables,
    sql.py:129-159).  A name with no staged dir fails in its rename, and
    no unnamed staging dir is ever published.  A plain local path uses
    ``os`` primitives; a URI destination (``file:``, ``hdfs://``,
    ``s3a://``, ``gs://``) routes every rename/delete through the Hadoop
    FileSystem API of the active Spark session — the same resolver
    ``df.write`` used, so any scheme the write reached can also be
    published (K8, reference writer.py:187-219).

    Per table the order is: rename the live dir aside to ``<t>__old``,
    rename staging into place, delete the old dir LAST.  This is
    crash-recoverable (a crash leaves either the old or the new dir on
    disk, never neither) but NOT gap-free: between the two renames
    there is a brief instant where the live path does not exist and a
    concurrent reader fails.  If true no-gap reads are required,
    publish through a symlink flipped atomically (or a metastore
    pointer) instead."""
    fs = _fs(dest_dir, spark)
    for final in tables:
        final_path = fs.join(dest_dir, final)
        old_path = final_path + OLD_SUFFIX
        if fs.exists(old_path):  # leftover from a prior crash
            fs.rmtree(old_path)
        had_old = fs.exists(final_path)
        if had_old:
            fs.rename(final_path, old_path)
        fs.rename(final_path + STAGING_SUFFIX, final_path)
        if had_old:
            fs.rmtree(old_path)
    return list(tables)


R = TypeVar("R")


def stage_tables(spark: SparkSession, stages: list[Callable[[], R]]) -> list[R]:
    """Run one stage function per table (its staged write, and whatever
    that write needs) on ``min(len(stages), defaultParallelism)`` driver
    threads, and return their results in ``stages`` order.  A
    generation's tables do not depend on each other, so their small
    Spark jobs overlap instead of queueing behind one another.

    Each function runs with the caller's job group, local properties
    and tags, captured separately per function so no two threads share
    them.  If any function fails, every submitted one still finishes
    before the first failure in ``stages`` order is raised, so no job
    of the call is left running and a caller that publishes only after
    this returns publishes nothing."""
    if not stages:
        return []

    def inheriting(fn: Callable[[], R]) -> Callable[[], R]:
        carry = inheritable_thread_target(spark)  # captures them now
        # with pinned-thread mode off there is no per-thread state to carry
        return carry(fn) if callable(carry) else fn

    width = min(len(stages), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=width, thread_name_prefix="stage") as pool:
        futures = [pool.submit(inheriting(fn)) for fn in stages]
    return [f.result() for f in futures]


def published_tables(dest_dir: str, spark: SparkSession | None = None) -> set[str]:
    """The tables published under ``dest_dir``: every directory except
    the ``<t>__staging`` and ``<t>__old`` dirs of a publish (in flight,
    or left by a crash) and ``_``-prefixed names other than
    ``NODE_INDEX``.  A URI destination lists through the Hadoop
    FileSystem of ``spark`` (else the active session)."""
    fs = _fs(dest_dir, spark)
    if not fs.isdir(dest_dir):
        return set()
    return {
        e
        for e in fs.listdir(dest_dir)
        if fs.isdir(fs.join(dest_dir, e))
        and not e.endswith((STAGING_SUFFIX, OLD_SUFFIX))
        and (e == NODE_INDEX or not e.startswith("_"))
    }


def read_table(
    spark: SparkSession,
    dest_dir: str,
    table_name: str,
    fmt: str = "parquet",
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """Read a published table back by its data files: the entries of its
    directory, listed through ``_fs`` (a plain path or a URI), whose
    names do not start with ``_`` or ``.``.  Spark's ``DataSource``
    treats a path named ``_…`` as hidden, so reading files rather than
    the directory lets ``_node_index`` and the schema marker read like
    any table.

    The schema is the explicit ``schema`` when given, for every format
    (a column the files lack reads as NULL); else, for text formats
    (csv/json), the zero-row ``_schema.parquet`` marker
    (``SCHEMA_MARKER``) ``write_table`` publishes inside the table
    directory; else inference — the ladder that keeps
    timestamp/date/decimal columns typed across a JSON/CSV round-trip.
    A data file whose name does not carry ``fmt`` (``….snappy.parquet``,
    ``….csv``) raises ``ValueError`` before any Spark job: files are
    never filtered by extension, so a table published in another format
    cannot read as empty.  A table with no data file reads as an empty
    frame of ``schema``."""
    fs = _fs(dest_dir, spark)
    path = fs.join(dest_dir, table_name)
    entries = sorted(fs.listdir(path))
    files = [fs.join(path, e) for e in entries if not e.startswith(("_", "."))]
    if wrong := [f for f in files if fmt not in f.rsplit("/", 1)[-1].split(".")[1:]]:
        raise ValueError(f"{table_name} under {dest_dir} holds {wrong[0]}, which is not {fmt}")
    if fmt in ("csv", "json") and schema is None and SCHEMA_MARKER in entries:
        schema = read_table(spark, path, SCHEMA_MARKER).schema
    if not files:
        return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema or T.StructType())
    reader = spark.read.format(fmt)
    if fmt == "csv":
        reader = reader.option("header", True).option("inferSchema", schema is None)
    if schema is not None:
        reader = reader.schema(schema)
    # format().load(), not orc(*files): orc's second positional is mergeSchema
    return reader.load(files)
