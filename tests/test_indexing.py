"""Layer-1 tests (SURVEY §5): analytic golden values for the adjacency
index builder, ported from the reference's tests/test_indexing.cpp
(10x10 dense bipartite graph, source ids offset by 90)."""

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


def test_one_partition_numbering_matches_exchange(spark, tmp_path):
    """The numbering of one partition (plan from the per-direction range
    counts, no summaries, nothing persisted, no job before the table
    write) writes the same index tables as the sampled range exchange
    into 3 partitions: a direction without edges, and node ids absent
    below the first and above the last node with edges."""
    import numpy as np
    import pyarrow.parquet as pq

    from parquet_converters_spark.operators.indexing import (
        INDEX_COLUMNS,
        SONATA_KEYS,
        build_sonata_indices,
    )
    from parquet_converters_spark.sinks.sonata import _write_index_tables

    rng = np.random.default_rng(17)
    # source runs over nodes 2..40 in row order; no target runs at all
    nodes = np.repeat(rng.integers(2, 41, 3_000), rng.integers(1, 4, 3_000))
    brk = np.flatnonzero(nodes[1:] != nodes[:-1]) + 1
    starts = np.concatenate(([0], brk))
    ends = np.concatenate((brk, [len(nodes)]))
    rows = [
        (0, int(nodes[s]), int(s), int(e)) for s, e in zip(starts, ends)
    ]
    ranges = spark.createDataFrame(
        rows, "_dir int, node_id long, range_start long, range_end long"
    ).repartition(4)
    node_counts = {"source_to_target": 45, "target_to_source": 7}
    sc = spark.sparkContext
    tables = {}
    for k in (1, 3):
        group = f"numbering-{k}"
        sc.setJobGroup(group, "numbering")
        try:
            with build_sonata_indices(
                ranges, {0: len(rows)}, node_counts, lambda n: k
            ) as (numbered, plans):
                n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
                assert {p for _, p in plans} == set(range(k))
                pop = str(tmp_path / f"k{k}")
                _write_index_tables(
                    numbered, plans, pop, "job", list(node_counts.values())
                )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        if k == 1:
            assert n_jobs == 0
        tables[k] = {
            (d, name): pq.read_table(
                f"{pop}/indices/{d}/{name}.parquet"
            ).sort_by(cols[0]).to_pylist()
            for d in SONATA_KEYS
            for name, cols in INDEX_COLUMNS.items()
        }
    assert tables[1] == tables[3]

    nr = tables[1][("source_to_target", "node_id_to_ranges")]
    assert [r["node_id"] for r in nr] == list(range(45))
    for r in nr[:2] + nr[41:]:
        assert (r["range_lo"], r["range_hi"]) == (0, 0)
    re_ = tables[1][("source_to_target", "range_to_edge_id")]
    assert len(re_) == len(rows)
    assert tables[1][("target_to_source", "node_id_to_ranges")] == [
        {"node_id": i, "range_lo": 0, "range_hi": 0} for i in range(7)
    ]
    assert tables[1][("target_to_source", "range_to_edge_id")] == []
