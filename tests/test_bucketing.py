"""Bucketed co-located joins (plans/bucketing.py): the pre-paid
shuffle must actually be elided from later plans."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from adguard2clickhouse_spark.plans import bucketed_join_ready, write_bucketed


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    suffix = uuid.uuid4().hex[:8]
    ta, tb = f"facts_a_{suffix}", f"facts_b_{suffix}"
    a = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va")
    )
    b = spark.range(0, 10_000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
    )
    write_bucketed(a, ta, "k", 8)
    write_bucketed(b, tb, "k", 8)
    yield ta, tb
    spark.sql(f"DROP TABLE IF EXISTS {ta}")
    spark.sql(f"DROP TABLE IF EXISTS {tb}")


def _no_broadcast(spark):
    """Force the shuffled-join path so the bucketing elision is what's
    under test (not AQE choosing a broadcast)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    return old


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    ta, tb = bucketed_tables
    assert bucketed_join_ready(spark, ta, tb)
    old = _no_broadcast(spark)
    try:
        joined = spark.table(ta).join(spark.table(tb), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert joined.count() == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucket_sorted_scan_elides_sort(spark, bucketed_tables):
    """With the scan-ordering conf on (off by default since Spark 3.0),
    the one-file-per-bucket + sortBy layout written by write_bucketed
    removes even the per-task Sort below the SortMergeJoin."""
    ta, tb = bucketed_tables
    old_bc = _no_broadcast(spark)
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try:
        joined = spark.table(ta).join(spark.table(tb), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Sort " not in plan.replace("SortMergeJoin", ""), plan
    finally:
        spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)


def test_bucketed_aggregation_has_no_exchange(spark, bucketed_tables):
    ta, _ = bucketed_tables
    agg = spark.table(ta).groupBy("k").agg(F.sum("va").alias("s"))
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_unbucketed_join_does_exchange(spark):
    """Control: the same join without bucketing shuffles both sides —
    proving the elision above comes from the layout, not the planner
    being lucky."""
    a = spark.range(0, 10_000).select(F.col("id").alias("k"))
    b = spark.range(0, 10_000).select(F.col("id").alias("k"))
    old = _no_broadcast(spark)
    try:
        plan = (
            a.join(b, "k")._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Exchange" in plan

