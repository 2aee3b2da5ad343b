"""The ordered parquet scan: footer-planned slices of consecutive row
groups, one per partition, with the global ``row_index``."""

import filecmp
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _write(d, sizes, row_group_size, seed=0):
    """Files ``e.<i>.parquet`` of ``sizes`` rows, cut from one table
    whose ``v`` column is the global position."""
    rng = np.random.default_rng(seed)
    n = sum(sizes)
    t = pa.table({
        "v": pa.array(np.arange(n), pa.int64()),
        "source_node_id": pa.array(np.arange(n) // 3, pa.int64()),
        "target_node_id": pa.array(rng.integers(0, 40, n), pa.int64()),
        "w": pa.array(rng.random(n).astype("float32")),
    })
    os.makedirs(d, exist_ok=True)
    pos = 0
    for i, size in enumerate(sizes):
        pq.write_table(t.slice(pos, size), os.path.join(d, f"e.{i}.parquet"),
                       row_group_size=row_group_size)
        pos += size
    return t


def test_plan_slices_cut_between_row_groups():
    from parquet_converters_spark.sources.ordering import _plan_slices

    groups = [("a", [100, 100, 50]), ("b", []), ("c", [100, 150])]
    assert _plan_slices(groups, 3) == [
        (0, [("a", [0, 1])]),
        (200, [("a", [2]), ("c", [0])]),
        (350, [("c", [1])]),
    ]
    assert _plan_slices(groups, 1) == [(0, [("a", [0, 1, 2]), ("c", [0, 1])])]
    assert _plan_slices([("a", [])], 4) == [(0, [])]


def test_partition_i_holds_slice_i(spark, tmp_path):
    """Multi-row-group files with rows_per_file cutting inside a file:
    partition i holds slice i in order, with row_index = first + position."""
    from pyspark.sql import functions as F

    from parquet_converters_spark.sources.ordering import (
        _plan_slices,
        read_parquet_ordered,
    )

    d = str(tmp_path / "in")
    _write(d, [450, 130, 620], row_group_size=100)
    df = read_parquet_ordered(spark, d, rows_per_file=300)
    files = sorted(os.path.join(d, f) for f in os.listdir(d))
    plan = _plan_slices(
        [(f, [pq.read_metadata(f).row_group(i).num_rows
              for i in range(pq.read_metadata(f).num_row_groups)])
         for f in files],
        4,
    )
    assert df.rdd.getNumPartitions() == len(plan) == 4
    rows = df.select("row_index", "v", F.spark_partition_id().alias("pid")).collect()
    by_pid = {}
    for r in rows:
        assert r["row_index"] == r["v"]
        by_pid.setdefault(r["pid"], []).append(r["row_index"])
    bounds = [first for first, _ in plan] + [1200]
    for i, idx in sorted(by_pid.items()):
        assert idx == list(range(bounds[i], bounds[i + 1])), i
    # a slice can start inside a file: the second one starts in e.0
    assert plan[1][1][0][0] == files[0]


def test_merge_schema_unions_with_nulls(spark, tmp_path):
    from parquet_converters_spark.sources.ordering import read_parquet_ordered

    d = tmp_path / "m"
    d.mkdir()
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}),
                   d / "p0.parquet")
    pq.write_table(pa.table({"a": pa.array([3], pa.int64()),
                             "b": pa.array(["x"])}), d / "p1.parquet")
    rows = read_parquet_ordered(spark, str(d), mergeSchema=True).collect()
    assert [tuple(r) for r in sorted(rows, key=lambda r: r["row_index"])] == [
        (1, None, 0), (2, None, 1), (3, "x", 2),
    ]


def test_path_with_space_and_percent(spark, tmp_path):
    """Regression: a directory named ``a b%20c`` gets its row_index (the
    file-path lookup of the old scan missed on percent-encoded paths
    and left every row_index NULL), and parquet_to_sonata there writes
    an .h5 identical to the same input under a plain path."""
    from parquet_converters_spark.pipelines import parquet_to_sonata
    from parquet_converters_spark.sources.ordering import read_parquet_ordered

    odd, plain = str(tmp_path / "a b%20c"), str(tmp_path / "plain")
    for d in (odd, plain):
        _write(d, [300, 200], row_group_size=128, seed=9)
    got = read_parquet_ordered(spark, odd).select("row_index", "v").collect()
    assert sorted(r["row_index"] for r in got) == list(range(500))
    assert all(r["row_index"] == r["v"] for r in got)

    h5 = {}
    for d in (odd, plain):
        h5[d] = d + ".h5"
        parquet_to_sonata(spark, d, d + "_bundle", population="p", h5_path=h5[d])
    assert filecmp.cmp(h5[odd], h5[plain], shallow=False)
