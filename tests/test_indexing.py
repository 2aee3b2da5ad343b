"""Layer-1 tests (SURVEY §5): analytic golden values for the adjacency
index builder, ported from the reference's tests/test_indexing.cpp
(10x10 dense bipartite graph, source ids offset by 90)."""

import os

import pytest
from pyspark.sql import functions as F

NNODES = 10
SOURCE_OFFSET = 90


@pytest.fixture(scope="module")
def edges(spark):
    rows = [
        (SOURCE_OFFSET + i, j, i * NNODES + j)
        for i in range(NNODES)
        for j in range(NNODES)
    ]
    return spark.createDataFrame(
        rows, "source_node_id: long, target_node_id: long, row_index: long"
    )


def test_source_index(spark, edges):
    from parquet_converters_spark.operators.indexing import (
        build_adjacency_index,
    )

    node_ranges, range_edges = build_adjacency_index(
        edges, "source_node_id", node_count=SOURCE_OFFSET + NNODES
    )
    nr = {r["node_id"]: (r["range_lo"], r["range_hi"]) for r in node_ranges.collect()}
    assert len(nr) == SOURCE_OFFSET + NNODES
    for i in range(SOURCE_OFFSET):
        assert nr[i] == (0, 0)  # absent sources padded (index.cpp:282-299)
    for i in range(NNODES):
        assert nr[SOURCE_OFFSET + i] == (i, i + 1)

    re_ = {r["range_id"]: (r["edge_start"], r["edge_end"]) for r in range_edges.collect()}
    assert len(re_) == NNODES
    for i in range(NNODES):
        assert re_[i] == (NNODES * i, NNODES * (i + 1))


def test_target_index(spark, edges):
    from parquet_converters_spark.operators.indexing import (
        build_adjacency_index,
    )

    node_ranges, range_edges = build_adjacency_index(
        edges, "target_node_id", node_count=NNODES
    )
    nr = {r["node_id"]: (r["range_lo"], r["range_hi"]) for r in node_ranges.collect()}
    assert len(nr) == NNODES
    for i in range(NNODES):
        assert nr[i] == (NNODES * i, NNODES * (i + 1))

    re_ = {r["range_id"]: (r["edge_start"], r["edge_end"]) for r in range_edges.collect()}
    assert len(re_) == NNODES * NNODES
    # target i connects to every source: fragmented single-edge ranges
    for i in range(NNODES):
        for j in range(NNODES):
            assert re_[NNODES * i + j] == (NNODES * j + i, NNODES * j + i + 1)


def test_node_count_inferred(spark, edges):
    """A2: node_count = max(node_id)+1 when metadata absent
    (index.cpp:208-213)."""
    from parquet_converters_spark.operators.indexing import (
        build_adjacency_index,
    )

    node_ranges, _ = build_adjacency_index(edges, "target_node_id")
    assert node_ranges.count() == NNODES


def test_run_merging(spark):
    """G4: runs split across partition boundaries merge into maximal
    ranges."""
    from parquet_converters_spark.operators.indexing import (
        build_adjacency_index,
    )

    rows = [(0, 7, i) for i in range(50)]  # one node, one contiguous run
    df = spark.createDataFrame(
        rows, "a: long, target_node_id: long, row_index: long"
    ).repartition(8)
    node_ranges, range_edges = build_adjacency_index(
        df, "target_node_id", node_count=8
    )
    assert range_edges.count() == 1
    r = range_edges.first()
    assert (r["edge_start"], r["edge_end"]) == (0, 50)
    nr = {x["node_id"]: (x["range_lo"], x["range_hi"]) for x in node_ranges.collect()}
    assert nr[7] == (0, 1)
    assert nr[0] == (0, 0)


def test_fragmented_and_gapped(spark):
    """Interleaved keys -> multiple ranges per node, correct global
    node-major numbering."""
    from parquet_converters_spark.operators.indexing import (
        build_adjacency_index,
    )

    # rows: key pattern 1,2,1,1,2 at positions 0..4
    rows = [(1, 0), (2, 1), (1, 2), (1, 3), (2, 4)]
    df = spark.createDataFrame(rows, "target_node_id: long, row_index: long")
    node_ranges, range_edges = build_adjacency_index(df, "target_node_id", node_count=3)
    re_ = {r["range_id"]: (r["edge_start"], r["edge_end"]) for r in range_edges.collect()}
    # node-major, start-ascending: node1 -> [0,1),[2,4); node2 -> [1,2),[4,5)
    assert re_ == {0: (0, 1), 1: (2, 4), 2: (1, 2), 3: (4, 5)}
    nr = {r["node_id"]: (r["range_lo"], r["range_hi"]) for r in node_ranges.collect()}
    assert nr == {0: (0, 0), 1: (0, 2), 2: (2, 4)}


@pytest.mark.parametrize("direction", ["source_node_id", "target_node_id"])
def test_scan_method_matches_window(spark, edges, direction):
    """The shuffle-free scan-order RLE must produce exactly the window
    oracle's index on the reference's analytic case."""
    from tests.index_oracle import window_adjacency_index

    from parquet_converters_spark.operators.indexing import (
        build_adjacency_index,
    )

    nr_w, re_w = window_adjacency_index(edges, direction)
    nr_s, re_s = build_adjacency_index(edges, direction)
    assert sorted(map(tuple, nr_w.collect())) == sorted(map(tuple, nr_s.collect()))
    assert sorted(map(tuple, re_w.collect())) == sorted(map(tuple, re_s.collect()))


def test_scan_rle_boundary_runs(spark):
    """Runs that span many partitions chain-merge correctly, including
    position gaps and string keys."""
    from parquet_converters_spark.operators.indexing import (
        run_length_ranges,
        run_length_ranges_scan,
    )

    rows = (
        [("a", i) for i in range(0, 500)]          # one long run spanning partitions
        + [("b", i) for i in range(500, 700)]
        + [("a", i) for i in range(800, 900)]      # gap: new run for a
        + [("c", 900)]                             # singleton
    )
    df = spark.createDataFrame(rows, "k: string, pos: long").repartition(16)
    got = sorted(map(tuple, run_length_ranges_scan(df, "k", "pos").collect()))
    want = sorted(map(tuple, run_length_ranges(df, "k", "pos").collect()))
    assert got == want
    assert ("a", 0, 500) in got and ("a", 800, 900) in got
    assert ("b", 500, 700) in got and ("c", 900, 901) in got


def test_rle_property_random(spark):
    """Property check over randomized inputs: both RLE methods agree,
    ranges are disjoint per key, and coverage equals the row count."""
    from hypothesis import given, settings, strategies as st

    from parquet_converters_spark.operators.indexing import (
        run_length_ranges,
        run_length_ranges_scan,
    )

    @settings(max_examples=8, deadline=None)
    @given(
        keys=st.lists(st.integers(min_value=0, max_value=4), min_size=1, max_size=60),
        gaps=st.sets(st.integers(min_value=1, max_value=59)),
    )
    def check(keys, gaps):
        # positions: mostly consecutive, with gaps injected
        rows, pos = [], 0
        for i, k in enumerate(keys):
            if i in gaps:
                pos += 3
            rows.append((int(k), pos))
            pos += 1
        df = spark.createDataFrame(rows, "k: long, p: long").repartition(5)
        got = sorted(map(tuple, run_length_ranges_scan(df, "k", "p").collect()))
        want = sorted(map(tuple, run_length_ranges(df, "k", "p").collect()))
        assert got == want
        assert sum(e - s for _, s, e in got) == len(rows)
        by_key = {}
        for k, s, e in got:
            by_key.setdefault(k, []).append((s, e))
        for spans in by_key.values():
            spans.sort()
            for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
                assert e1 <= s2  # disjoint (equality would mean an unmerged run... )
                # runs of the same key must not be adjacent-and-contiguous
                assert not (e1 == s2)

    check()


def test_global_row_index_ordered_mode_is_hierarchical(spark):
    """Ordered mode must equal sorted enumeration (unique keys) and use
    the range-partition + offset pattern, not a global window."""
    from parquet_converters_spark.sources.ordering import with_global_row_index

    rows = [((i * 131) % 997, i) for i in range(997)]  # unique, scrambled
    df = spark.createDataFrame(rows, "k long, payload long").repartition(13)
    out = with_global_row_index(df, "idx", order_cols=["k"]).collect()
    got = sorted((r["k"], r["idx"]) for r in out)
    assert got == [(k, i) for i, k in enumerate(sorted(k for k, _ in rows))]


def test_one_slice_and_three_slices_write_equal_index_tables(spark, tmp_path):
    """The numbering in one slice and in three writes the same index
    tables: a direction without edges, node ids absent below the first
    and above the last node with edges, and a node whose runs straddle
    the table-pass partitions (one run cut three ways, and its later
    runs in other partitions)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_converters_spark.operators.indexing import (
        INDEX_COLUMNS,
        SONATA_KEYS,
        _partition_runs,
        build_sonata_indices,
    )
    from parquet_converters_spark.sinks.sonata import (
        _write_index_tables,
        _write_runs,
    )

    rng = np.random.default_rng(17)
    # source ids over nodes 2..40 in row order, node 20 also one long run
    # across the first two partition cuts; no target edges at all
    nodes = np.repeat(rng.integers(2, 41, 3_000), rng.integers(1, 4, 3_000))
    nodes[900:2_300] = 20
    cuts = [0, 1_000, 2_000, 4_500, len(nodes)]
    rows, files = [], []
    for pid, (a, b) in enumerate(zip(cuts, cuts[1:])):
        t = pa.table({"row_index": np.arange(a, b),
                      "source_node_id": nodes[a:b]})
        interior, edges = _partition_runs(t, 1, pid)
        files.append(str(tmp_path / f"runs-{pid}.arrow"))
        _write_runs(files[-1], interior)
        rows += edges.to_pylist()
    brk = np.flatnonzero(nodes[1:] != nodes[:-1]) + 1
    n_ranges = len(brk) + 1

    node_counts = {"source_to_target": 45, "target_to_source": 7}
    sc = spark.sparkContext
    tables = {}
    for k in (1, 3):
        plan = build_sonata_indices(rows, node_counts, lambda n: k)
        assert len(plan.parts) == k
        # node 20 lies in one slice only
        assert sum(lo <= 20 < hi for part in plan.parts
                   for d, lo, hi, _ in part if d == 0) == 1
        pop = str(tmp_path / f"k{k}")
        group = f"numbering-{k}"
        sc.setJobGroup(group, "numbering")
        try:
            _write_index_tables(spark, plan, files, pop, "job")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
        tables[k] = {
            (d, name): pq.read_table(
                f"{pop}/indices/{d}/{name}.parquet"
            ).sort_by(cols[0]).to_pylist()
            for d in SONATA_KEYS
            for name, cols in INDEX_COLUMNS.items()
        }
        files_per_table = len(os.listdir(
            f"{pop}/indices/source_to_target/range_to_edge_id.parquet"
        ))
        assert files_per_table == k
    assert tables[1] == tables[3]

    nr = tables[1][("source_to_target", "node_id_to_ranges")]
    assert [r["node_id"] for r in nr] == list(range(45))
    for r in nr[:2] + nr[41:]:
        assert (r["range_lo"], r["range_hi"]) == (0, 0)
    re_ = tables[1][("source_to_target", "range_to_edge_id")]
    assert len(re_) == n_ranges
    assert sorted((r["edge_start"], r["edge_end"]) for r in re_) == list(
        zip(np.concatenate(([0], brk)).tolist(),
            np.concatenate((brk, [len(nodes)])).tolist())
    )
    lo, hi = nr[20]["range_lo"], nr[20]["range_hi"]
    runs20 = [(r["edge_start"], r["edge_end"]) for r in re_[lo:hi]]
    assert runs20 == sorted(runs20)
    assert any(a <= 900 and 2_300 <= b for a, b in runs20)
    assert all(nodes[a] == 20 for a, _ in runs20)
    assert tables[1][("target_to_source", "node_id_to_ranges")] == [
        {"node_id": i, "range_lo": 0, "range_hi": 0} for i in range(7)
    ]
    assert tables[1][("target_to_source", "range_to_edge_id")] == []
