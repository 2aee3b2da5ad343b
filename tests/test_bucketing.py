"""Bucketed co-located join: pre-bucketing both fact tables on the join
key removes the per-query shuffle entirely — the physical plan joins
bucket-to-bucket with no Exchange on either side (SCALE.md's
"co-locate joins via bucketing" claim, verified on the actual plan)."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def warehouse(spark, sf_dir):
    # bucketed tables need the session catalog (warehouse dir is a
    # static conf — the default ./spark-warehouse is gitignored)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    (
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("li_bucketed")
    )
    (
        orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("orders_bucketed")
    )
    yield
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS orders_bucketed")


def test_bucketed_join_has_no_exchange(spark, warehouse, sf_dir):
    li = spark.table("li_bucketed")
    orders = spark.table("orders_bucketed")
    # merge hint: at test SF the tables fit the broadcast threshold,
    # which would sidestep the property under test
    joined = li.hint("merge").join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
        "o_orderpriority"
    ).agg(F.count(F.lit(1)).alias("n"))
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # the join itself must not shuffle either side: no Exchange before
    # the SortMergeJoin (the aggregate after it may still exchange)
    assert "SortMergeJoin" in plan, plan[:500]
    join_part = plan[plan.find("SortMergeJoin"):]
    assert "Exchange" not in join_part, join_part

    # and it computes the right thing
    want = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .join(
            spark.read.parquet(f"{sf_dir}/orders.parquet"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, want.collect()))


def test_partitioned_dataset_prunes(spark, sf_dir, tmp_path):
    """write_partitioned_dataset: hive layout readback recovers the
    partition column, and a filter on it becomes a PartitionFilter
    (directory pruning), not a data-scan predicate."""
    from parquet_converters_spark.sinks.parquet_sink import (
        write_partitioned_dataset,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = str(tmp_path / "events_by_type")
    write_partitioned_dataset(
        ev, out, partition_cols=["event_type"], sort_within=["user_id"]
    )
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    q = back.filter(F.col("event_type") == "view")
    want = ev.filter(F.col("event_type") == "view").count()
    assert q.count() == want and want > 0
    plan = q._jdf.queryExecution().executedPlan().toString()
    pf = plan[plan.find("PartitionFilters"):][:120]
    assert "event_type" in pf, pf


def test_write_bucketed_helper_roundtrip_no_exchange(spark, sf_dir):
    from parquet_converters_spark.sinks.bucketed import (
        read_bucketed,
        write_bucketed,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    write_bucketed(li, "li_b2", "l_orderkey", buckets=8)
    write_bucketed(orders, "orders_b2", "o_orderkey", buckets=8)
    try:
        a, b = read_bucketed(spark, "li_b2"), read_bucketed(spark, "orders_b2")
        j = a.hint("merge").join(b, a.l_orderkey == b.o_orderkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan.split("SortMergeJoin")[1], (
            "bucketed join must not shuffle either input"
        )
        assert j.count() == li.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS li_b2")
        spark.sql("DROP TABLE IF EXISTS orders_b2")
