"""Bucketed co-located join: matching bucket layouts must join with NO
Exchange on either side (the 100-TB shuffle-elimination lever,
sources/bucketed.py)."""

import pyspark.sql.functions as F
import pytest

from datafusion_geo_spark.sources.bucketed import bucketed_join, write_bucketed


@pytest.fixture()
def no_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_no_exchange(spark, no_broadcast):
    a = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
    write_bucketed(a, "bj_a", "k", 4)
    write_bucketed(b, "bj_b", "k", 4)
    j = bucketed_join(spark, "bj_a", "bj_b", "k")
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Bucketed: true" in plan
    assert j.count() == 1000
    # (a per-task Sort may remain even for sortBy buckets — Spark only
    # elides it when each bucket is a single file; the shuffle is the
    # cost that matters and it is gone)


def test_bucketed_agg_no_exchange(spark):
    df = spark.range(0, 1000).select(
        (F.col("id") % 50).alias("k"), F.col("id").alias("v"))
    write_bucketed(df, "bj_agg", "k", 4)
    agg = spark.table("bj_agg").groupBy("k").agg(F.sum("v").alias("s"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert agg.count() == 50


def test_unbucketed_join_has_exchange_for_contrast(spark, no_broadcast):
    """Sanity: the same join WITHOUT bucketing does shuffle — proves the
    bucketed plans above aren't trivially exchange-free."""
    a = spark.range(0, 1000).select(F.col("id").alias("k"))
    b = spark.range(0, 1000).select(F.col("id").alias("k"))
    plan = (a.join(b, "k")._jdf.queryExecution()
            .executedPlan().toString())
    assert "Exchange" in plan
