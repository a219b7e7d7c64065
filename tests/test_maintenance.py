"""Compaction, schema evolution, and dynamic partition pruning."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from resotodatalink_spark.sinks.maintenance import compact_table, read_evolved
from resotodatalink_spark.sources.tables import table
from tests.conftest import SF_DIR


def test_compact_table(spark, tmp_path):
    dest = str(tmp_path)
    li = table(spark, SF_DIR, "lineitem")
    li.repartition(24).write.parquet(os.path.join(dest, "t"))
    before = compact_table(spark, dest, "t", target_files=4)
    assert before == 24
    after_files = [
        f for f in os.listdir(os.path.join(dest, "t")) if f.endswith(".parquet")
    ]
    assert len(after_files) <= 4
    assert spark.read.parquet(os.path.join(dest, "t")).count() == li.count()


def test_read_evolved_schema(spark, tmp_path):
    """Old files lack the new column -> NULL-filled, like the kind
    model's absent-prop semantics across versions."""
    path = str(tmp_path / "evo")
    v1 = spark.range(3).select(F.col("id").alias("k"), F.lit("a").alias("x"))
    v1.write.parquet(path)
    v2 = spark.range(3, 5).select(
        F.col("id").alias("k"), F.lit("b").alias("x"), F.lit(1.5).alias("y")
    )
    v2.write.mode("append").parquet(path)
    back = read_evolved(spark, path)
    assert set(back.columns) == {"k", "x", "y"}
    assert back.count() == 5
    assert back.filter(F.col("y").isNull()).count() == 3


def test_dynamic_partition_pruning_plan(spark, tmp_path):
    """Joining a kind-partitioned fact with a filtered dim must prune
    partitions at runtime (DPP) — the plan carries dynamicpruning."""
    path = str(tmp_path / "ev_part")
    ev = table(spark, SF_DIR, "events")
    ev.write.partitionBy("event_type").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("click", 1), ("error", 2)], "event_type: string, grp: int"
    ).filter(F.col("grp") == 1)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        joined = fact.join(dim, "event_type")
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        physical = joined._jdf.queryExecution().executedPlan().toString()
        assert (
            "dynamicpruning" in plan.lower()
            or "dynamicpruning" in physical.lower()
            or "PartitionFilters: [isnotnull(event_type" in physical
        ), physical[:2000]
        assert joined.count() == ev.filter(F.col("event_type") == "click").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
