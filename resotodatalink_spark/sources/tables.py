"""Parquet table source for the driver's synthetic star schema.

Counterpart of the reference's "SQL result scan" input surface
(reference collect_plugins.py:220-228): the reference syncs kind tables
into a database and queries there; we read the parquet tables directly
and register temp views so the identical SQL works via ``spark.sql``.

Scans stay declarative (``spark.read.parquet``) so Catalyst pushes
filters into the parquet reader and prunes columns — check any plan for
``PushedFilters`` / ``ReadSchema``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table — parquet by default, with ORC/JSON/CSV
    fallbacks resolved by extension (see ``_read_any``).

    ``events.ts`` adapts to the file's footer type: a timestamp[us]
    footer (current testdata) reads natively as TIMESTAMP_NTZ, while a
    TIMESTAMP(NANOS) footer — which Spark's reader rejects — falls back
    to nanos-as-long (``spark.sql.legacy.parquet.nanosAsLong``) and is
    floor-truncated to microsecond NTZ, byte-for-byte what DuckDB's µs
    TIMESTAMP sees when it reads the same file.  The streaming reader
    (streaming/batch_stream.py) mirrors this branch.
    """
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # session may forbid runtime changes; builder sets it too
    df = _read_any(spark, sf_dir, name)
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.typeName() == "long":
            # convert_timezone pins the wall-clock to UTC as
            # TIMESTAMP_NTZ — the other tables' timestamps are read as
            # NTZ already, and NTZ keeps results independent of the
            # caller session's time zone (the DuckDB oracle is naive)
            df = df.withColumn(
                "ts",
                F.expr("convert_timezone('UTC', timestamp_micros(ts div 1000))"),
            )
    return df


def _read_any(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Resolve ``name`` to whichever supported container exists:
    parquet first (the driver's format — columnar, statistics,
    pushdown), then ORC (same columnar guarantees via Spark's native
    reader), then JSON-lines and CSV with a SCHEMA DERIVED FROM A
    SIBLING parquet/ORC table of the same name when one exists
    (``<name>.schema.parquet``) or sampling inference as the last
    resort.  Text formats still get predicate pushdown for row-group
    skipping they can't do, but column pruning works (Spark reads
    only referenced JSON/CSV fields), so the declarative plan shape
    is identical across containers — only scan efficiency differs,
    which is the honest trade a user accepts when pointing the engine
    at raw exports instead of converting to parquet."""
    base = os.path.join(sf_dir, name)
    if "://" in sf_dir or sf_dir.startswith("file:"):
        # Hadoop-compatible URI (s3a://, hdfs://, file:): the local
        # os.path probes below can't see it — keep the original
        # behavior and let Spark resolve the parquet path remotely.
        return spark.read.parquet(f"{base}.parquet")
    if os.path.exists(f"{base}.parquet"):
        return spark.read.parquet(f"{base}.parquet")
    if os.path.exists(f"{base}.orc"):
        return spark.read.orc(f"{base}.orc")
    schema = None
    if os.path.exists(f"{base}.schema.parquet"):
        schema = spark.read.parquet(f"{base}.schema.parquet").schema
    if os.path.exists(f"{base}.json"):
        r = spark.read
        if schema is not None:
            r = r.schema(schema)
        return r.json(f"{base}.json")
    if os.path.exists(f"{base}.csv"):
        r = spark.read.option("header", "true")
        if schema is not None:
            r = r.schema(schema)
        else:
            r = r.option("inferSchema", "true")
        return r.csv(f"{base}.csv")
    raise FileNotFoundError(
        f"no {name}.(parquet|orc|json|csv) under {sf_dir}"
    )


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    register: bool = True,
    names: tuple[str, ...] | None = None,
) -> dict[str, DataFrame]:
    """Read tables (all by default); optionally register them as temp
    views (the SQL surface the reference promises via execute_sql).
    Pass ``names`` to skip footer reads for tables a query never touches
    — each spark.read.parquet costs a driver round-trip for the schema."""
    dfs = {name: table(spark, sf_dir, name) for name in (names or TABLES)}
    if register:
        for name, df in dfs.items():
            df.createOrReplaceTempView(name)
    return dfs
