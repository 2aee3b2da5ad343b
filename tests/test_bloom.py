"""Bloom-filter join pruning: exactness, pruning power, plan shape."""

from pyspark.sql import functions as F

from parquet_converters_spark.operators.bloom import (
    bloom_build,
    bloom_prune,
    bloom_pruned_join,
)


def test_no_false_negatives(spark):
    """Every true key must survive the prune (Bloom guarantees no
    false negatives)."""
    dim = spark.range(0, 200).selectExpr("id * 13 as key")
    fact = spark.range(0, 5000).selectExpr("id as fkey")
    bitmap = bloom_build(dim, "key", n_bits=1 << 14)
    surviving = {
        r.fkey for r in bloom_prune(fact, "fkey", bitmap).collect()
    }
    true_keys = {r.key for r in dim.collect() if r.key < 5000}
    assert true_keys <= surviving


def test_pruning_power(spark):
    """With a well-sized bitmap the false-positive rate stays low:
    100 keys in 2^16 bits / k=3 -> FPR well under 1%."""
    dim = spark.range(0, 100).selectExpr("id * 7 as key")
    fact = spark.range(0, 50000).selectExpr("id as fkey")
    bitmap = bloom_build(dim, "key", n_bits=1 << 16)
    n_surviving = bloom_prune(fact, "fkey", bitmap).count()
    n_true = fact.join(dim, fact.fkey == dim.key, "leftsemi").count()
    false_pos = n_surviving - n_true
    assert false_pos / 50000 < 0.01, f"{false_pos} false positives"


def test_pruned_join_is_exact(spark):
    """The exact join removes Bloom false positives: pruned join ==
    plain join, bit for bit."""
    dim = spark.range(0, 300).selectExpr("id * 3 as key", "id as dval")
    fact = spark.range(0, 10000).selectExpr("id % 2000 as fkey", "id as fval")
    got = (
        bloom_pruned_join(fact, dim, "fkey", "key", n_bits=1 << 12)
        .select("fkey", "fval", "dval")
        .collect()
    )
    want = (
        fact.join(dim, fact.fkey == dim.key)
        .select("fkey", "fval", "dval")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_large_bitmap_uses_broadcast_not_literal(spark):
    """Past the literal threshold the bitmap must enter the plan as a
    broadcast relation, not an O(n_bits) literal array."""
    dim = spark.range(0, 50).selectExpr("id as key")
    fact = spark.range(0, 1000).selectExpr("id as fkey")
    bitmap = bloom_build(dim, "key", n_bits=1 << 20)  # 16384 words
    pruned = bloom_prune(fact, "fkey", bitmap)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    # the literal path would splat 16k longs into the plan string
    assert len(plan) < 200_000


def test_registry_query_matches_plain_join(spark, sf_dir):
    from parquet_converters_spark.queries import bloom_pruned_revenue

    got = {r.o_year: (r.n_items, r.revenue) for r in bloom_pruned_revenue(spark, sf_dir).collect()}
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    want_n = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    assert sum(v[0] for v in got.values()) == want_n
