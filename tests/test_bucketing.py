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
