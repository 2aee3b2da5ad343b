"""The adjacency index as a DataFrame-only oracle: gaps-and-islands runs
(``run_length_ranges``), a global rank over ``(node_id, range_start)``
(``_global_rank``) and a dense left join over ``[0, node_count)``.  The
engine's ``build_adjacency_index`` (the scan path) must equal it."""

from pyspark.sql import DataFrame, functions as F

from parquet_converters_spark.operators.indexing import (
    _global_rank,
    infer_node_count,
    run_length_ranges,
)


def window_adjacency_index(
    df: DataFrame, key: str, node_count: int | None = None, row_col: str = "row_index"
) -> tuple[DataFrame, DataFrame]:
    if node_count is None:
        node_count = infer_node_count(df, key)
    numbered = _global_rank(
        run_length_ranges(df, key, row_col), ["node_id", "range_start"], "range_id"
    )
    range_to_edge_id = numbered.select(
        "range_id",
        F.col("range_start").alias("edge_start"),
        F.col("range_end").alias("edge_end"),
    )
    per_node = numbered.groupBy("node_id").agg(
        F.min("range_id").alias("range_lo"),
        (F.max("range_id") + F.lit(1)).alias("range_hi"),
    )
    node_id_to_ranges = (
        df.sparkSession.range(node_count)
        .withColumnRenamed("id", "node_id")
        .join(per_node, "node_id", "left")
        .na.fill({"range_lo": 0, "range_hi": 0})
        .select("node_id", "range_lo", "range_hi")
    )
    return node_id_to_ranges, range_to_edge_id
