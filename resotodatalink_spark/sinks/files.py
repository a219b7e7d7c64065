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
and published (``write_table``, ``stage_tables``, ``discard_staged``,
``swap_staging``).
Every other module lists and reads through these.

A table is written as parquet or CSV, the reference's two formats, and
read back as parquet only: like the reference, nothing in the package
reads a CSV table back.  CSV cannot hold nested types; nested columns
are JSON-stringified the way the reference's CSV type map does
(type_converter.py:35-55, writer.py:130-146).

Every destination, a plain path or a URI (``file:``, ``hdfs://``,
``s3a://``, ``gs://``), is listed, renamed and deleted through one
Hadoop FileSystem: the one ``df.write`` resolves it to, a plain path
against ``fs.defaultFS`` exactly as the write did.  The reference's
spool-and-upload dance (writer.py:187-219) disappears, and the sink
never looks at the driver's local disk on its own (exercised in CI on
plain paths and ``file:`` URIs, which take the same FS-API path as
``s3a://`` minus the S3 connector — tests/test_sinks.py).  NOTE on
object stores: S3 "rename" is copy+delete (not atomic, O(data)); for
heavy S3 publishing prefer a table format with a metastore pointer
flip.  The FS-API path is still correct there — just not
instantaneous.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, TypeVar

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


class _HadoopFs:
    """List/isdir/exists/rename/rmtree over the Hadoop FileSystem that
    ``df.write`` resolves ``dest_dir`` to — the one file system of every
    destination, whatever its scheme (K8, reference
    writer.py:187-219)."""

    def __init__(self, spark: SparkSession, dest_dir: str):
        self._Path = spark._jvm.org.apache.hadoop.fs.Path
        hconf = spark._jsc.hadoopConfiguration()
        self._fs = self._Path(dest_dir).getFileSystem(hconf)

    def listdir(self, d: str) -> dict[str, bool]:
        """Each entry's name, and whether it is a directory."""
        return {
            s.getPath().getName(): s.isDirectory()
            for s in self._fs.listStatus(self._Path(d))
        }

    def isdir(self, p: str) -> bool:
        return bool(self._fs.isDirectory(self._Path(p)))

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
    """Stage one table under ``dest_dir`` as parquet or CSV, the
    reference's two formats (writer.py:171-184, 222-253): the data lands
    in ``<table>__staging`` until ``swap_staging`` publishes it.
    Returns the staged path."""
    path = os.path.join(dest_dir, table_name + STAGING_SUFFIX)
    if fmt == "csv":
        stringify_nested(df).write.mode("overwrite").option("header", True).csv(path)
    elif fmt == "parquet":
        df.write.mode("overwrite").parquet(path)
    else:
        raise ValueError(f"unsupported format: {fmt}")
    return path


OLD_SUFFIX = "__old"


def swap_staging(spark: SparkSession, dest_dir: str, tables: list[str]) -> list[str]:
    """Publish the ``<t>__staging`` dir of each name in ``tables``, in
    the order given, and return the names (reference swap_temp_tables,
    sql.py:129-159).  A name with no staged dir fails in its rename, and
    no unnamed staging dir is ever published.  Every rename and delete
    goes through the Hadoop FileSystem of ``spark`` that ``df.write``
    staged the tables through, so any destination the write reached,
    plain path or URI, is published where the write put it (K8,
    reference writer.py:187-219).

    Per table the order is: rename the live dir aside to ``<t>__old``,
    rename staging into place, delete the old dir LAST.  This is
    crash-recoverable (a crash leaves either the old or the new dir on
    disk, never neither) but NOT gap-free: between the two renames
    there is a brief instant where the live path does not exist and a
    concurrent reader fails.  If true no-gap reads are required,
    publish through a symlink flipped atomically (or a metastore
    pointer) instead."""
    fs = _HadoopFs(spark, dest_dir)
    for final in tables:
        final_path = os.path.join(dest_dir, final)
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


def published_tables(spark: SparkSession, dest_dir: str) -> set[str]:
    """The tables published under ``dest_dir``: every directory except
    the ``<t>__staging`` and ``<t>__old`` dirs of a publish (in flight,
    or left by a crash) and ``_``-prefixed names other than
    ``NODE_INDEX``, read from one listing."""
    fs = _HadoopFs(spark, dest_dir)
    if not fs.isdir(dest_dir):
        return set()
    return {
        e
        for e, is_dir in fs.listdir(dest_dir).items()
        if is_dir
        and not e.endswith((STAGING_SUFFIX, OLD_SUFFIX))
        and (e == NODE_INDEX or not e.startswith("_"))
    }


def discard_staged(spark: SparkSession, dest_dir: str, table_name: str) -> None:
    """Delete ``table_name``'s staged dir unpublished: a staged write
    that turned out to change nothing."""
    _HadoopFs(spark, dest_dir).rmtree(os.path.join(dest_dir, table_name + STAGING_SUFFIX))


def read_table(
    spark: SparkSession,
    dest_dir: str,
    table_name: str,
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """Read a published parquet table back by its data files: the
    entries of its directory, listed through the destination's Hadoop
    FileSystem, whose names do not start with ``_`` or ``.``.  Spark's
    ``DataSource`` treats a path named ``_…`` as hidden, so reading
    files rather than the directory lets ``_node_index`` read like any
    table.

    The schema is the explicit ``schema`` when given (a column the
    files lack reads as NULL), else the files' own.  A data file whose
    name does not carry ``parquet`` (a CSV table's ``….csv``) raises
    ``ValueError`` before any Spark job: files are never filtered by
    extension, so a table published in another format cannot read as
    empty.  A table with no data file reads as an empty frame of
    ``schema``."""
    path = os.path.join(dest_dir, table_name)
    entries = sorted(_HadoopFs(spark, dest_dir).listdir(path))
    files = [os.path.join(path, e) for e in entries if not e.startswith(("_", "."))]
    if wrong := [f for f in files if "parquet" not in f.rsplit("/", 1)[-1].split(".")[1:]]:
        raise ValueError(f"{table_name} under {dest_dir} holds {wrong[0]}, which is not parquet")
    if not files:
        return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema or T.StructType())
    reader = spark.read.format("parquet")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(files)
