"""Scale-infrastructure operators: salted aggregation and salted joins
equal their plain counterparts."""

from __future__ import annotations

from pyspark.sql import functions as F

from resotodatalink_spark.operators.skew import salted_agg
from resotodatalink_spark.sources.tables import table
from tests.conftest import SF_DIR


def test_salted_agg_matches_plain_groupby(spark):
    li = table(spark, SF_DIR, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    salted = salted_agg(
        li,
        ["l_returnflag"],
        {
            "n": (F.count("*"), F.sum("n")),
            "total_cents": (F.sum(cents), F.sum("total_cents")),
            "max_qty": (F.max("l_quantity"), F.max("max_qty")),
        },
        n_salts=8,
        salt_source=F.col("l_orderkey"),
    )
    plain = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(cents).alias("total_cents"),
        F.max("l_quantity").alias("max_qty"),
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_agg_random_salt_still_exact(spark):
    li = table(spark, SF_DIR, "lineitem")
    salted = salted_agg(
        li, ["l_linestatus"], {"n": (F.count("*"), F.sum("n"))}, n_salts=4
    )
    plain = li.groupBy("l_linestatus").count().withColumnRenamed("count", "n")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_join_matches_plain_join(spark):
    from resotodatalink_spark.operators.skew import salted_join

    li = table(spark, SF_DIR, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_linenumber", "l_quantity"
    )
    o = table(spark, SF_DIR, "orders").select("o_orderkey", "o_orderpriority")
    salted = salted_join(
        li, o, on=["o_orderkey"],
        n_salts=8,
        salt_source=F.struct("o_orderkey", "l_linenumber"),
    )
    plain = li.join(o, "o_orderkey")
    assert salted.count() == plain.count()
    s = salted.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"), F.sum("l_quantity").alias("q")
    )
    p = plain.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"), F.sum("l_quantity").alias("q")
    )
    assert sorted(map(tuple, s.collect())) == sorted(map(tuple, p.collect()))


def test_salted_join_random_salt_still_exact(spark):
    from resotodatalink_spark.operators.skew import salted_join

    li = table(spark, SF_DIR, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    o = table(spark, SF_DIR, "orders").select("o_orderkey", "o_orderpriority")
    salted = salted_join(li, o, on=["o_orderkey"], n_salts=4)
    assert salted.count() == li.join(o, "o_orderkey").count()
