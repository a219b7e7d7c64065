"""Dynamic partition pruning on a kind-partitioned parquet layout."""

from __future__ import annotations

from pyspark.sql import functions as F

from resotodatalink_spark.sources.tables import table
from tests.conftest import SF_DIR


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
