"""SONATA adjacency index builder (reference operators G1-G6, A2-A3).

The reference builds, for each direction (keyed by ``source_node_id`` then
``target_node_id``, ``src/index/index.cpp:309-324``), a two-level index
over the edge table's *global row order*:

- ``range_to_edge_id[r] = (edge_start, edge_end)`` — maximal runs of
  consecutive rows sharing the key (run-length grouping,
  ``index.cpp:114-137``), globally numbered node-major then start-ascending
  (sort ``:205-206``, all-to-all shuffle ``:215-249``, per-node re-merge
  ``:142-153``, prefix-sum placement ``:272-280``);
- ``node_id_to_ranges[node] = (range_lo, range_hi)`` — dense over
  ``[0, node_count)``, absent nodes get ``(0, 0)``
  (``index.cpp:282-299``).

The scan path does each of the reference's steps once, over partitions
that each hold one contiguous, sorted slice of the row order (the ordered
scan's slices):

1. **Local RLE** — :func:`_rle_batches` run-length encodes every index
   key of one partition at once.  The SONATA bundle writer runs it inside
   its table pass, ``run_length_ranges_scan`` and
   ``build_adjacency_index`` in a ``mapInArrow`` of their own.  Only a
   partition's first and last run of each key can continue into a
   neighbouring partition; those runs, tagged with the partition's run
   count, are collected and chain-merged on the driver
   (:func:`_runs_to_ranges`, the boundary fix-up).
2. **Numbering** — :func:`build_sonata_indices`: the runs sorted on
   ``(direction, node_id, range_start)``.  When they fit one partition
   (``num_partitions`` gives 1, as at the default size), that partition
   numbers every direction from 0 and owns all its node ids, so the plan
   is known from the per-direction range counts the boundary fix-up
   already has: no summaries, nothing persisted, and the runs are
   merged into one partition and sorted inside the job that writes the
   tables.  Otherwise one range exchange of the runs, persisted, and one
   collect of per-partition summaries gives the driver prefix sum (the
   Allgather).
3. **Tables in build order** — :func:`_index_batches`, one Arrow kernel
   per numbered partition: ``range_to_edge_id`` numbers the partition's
   ranges from its offset, and ``node_id_to_ranges`` emits the dense node
   ids the partition owns, absent ones as ``(0, 0)``.  Both come out
   already in key order, so the bundle writer writes all four tables in
   one job without a join or another sort.

``run_length_ranges`` numbered by ``_global_rank`` is the DataFrame-only
oracle the tests compare against: a gaps-and-islands window partitioned
by node and a global rank.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    DataType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window


def _local_runs_schema(node_type: DataType) -> StructType:
    """The schema of local runs, with ``node_id`` of ``node_type``.
    ``_edge``: bit 1 = the partition's first run of that key, bit 2 = its
    last (the bundle writer's table pass adds 4 for its partition
    summaries); ``_n``: the partition's run count of that key, on its
    first run only."""
    return StructType([
        StructField("_dir", IntegerType()),
        StructField("node_id", node_type),
        StructField("range_start", LongType()),
        StructField("range_end", LongType()),
        StructField("_edge", IntegerType()),
        StructField("_n", LongType()),
    ])


_SUMMARY = StructType(
    [StructField(c, IntegerType()) for c in ("_pid", "_dir")]
    + [StructField(c, LongType()) for c in ("n", "first", "last", "lead")]
)
_EMIT_CHUNK = 1 << 20


def _global_rank(df: DataFrame, sort_cols: list[str], out_col: str,
                 num_partitions: int | None = None) -> DataFrame:
    """Dense global 0-based rank over ``sort_cols`` without a
    single-partition window: repartitionByRange + per-partition
    row_number + driver-side prefix sum over per-partition counts."""
    spark = df.sparkSession
    parts = num_partitions or spark.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(parts, *sort_cols)
    # persist: the count pass and the final plan must see the *same*
    # range-partitioning (its boundaries come from sampling)
    with_pid = ranged.withColumn("_pid", F.spark_partition_id()).persist()
    counts = {
        r["_pid"]: r["count"]
        for r in with_pid.groupBy("_pid").count().collect()
    }
    offsets, base = {}, 0
    for pid in sorted(counts):
        offsets[pid] = base
        base += counts[pid]
    offset_expr = F.create_map(
        *[F.lit(x) for pid, off in sorted(offsets.items()) for x in (pid, off)]
    )
    w = Window.partitionBy("_pid").orderBy(*sort_cols)
    return (
        with_pid.withColumn(
            out_col,
            (offset_expr[F.col("_pid")] + F.row_number().over(w) - 1).cast("long"),
        )
        .drop("_pid")
    )


def run_length_ranges(df: DataFrame, key: str, row_col: str) -> DataFrame:
    """G1+G4: maximal runs of consecutive ``row_col`` values sharing
    ``key`` -> (node_id, range_start, range_end) with end exclusive."""
    w = Window.partitionBy("node_id").orderBy("_pos")
    return (
        df.select(F.col(key).alias("node_id"), F.col(row_col).alias("_pos"))
        .withColumn("_island", F.col("_pos") - F.row_number().over(w))
        .groupBy("node_id", "_island")
        .agg(
            F.min("_pos").alias("range_start"),
            (F.max("_pos") + F.lit(1)).alias("range_end"),
        )
        .drop("_island")
    )


def _rle_batches(t, n_keys: int):
    """G1 for one partition: ``t``'s first column is the row position
    (sorted), the next ``n_keys`` the index keys.  Yields the maximal
    runs of each key as batches of :func:`_local_runs_schema`: ``_dir``
    indexes the keys, a run breaks where the key changes or the position
    jumps."""
    import numpy as np
    import pyarrow as pa

    if not t.num_rows:
        return
    pos = t.column(0).to_numpy()
    pos_gap = pos[1:] != pos[:-1] + 1
    for d in range(n_keys):
        nodes = t.column(d + 1).chunk(0)
        codes = (
            nodes.dictionary_encode().indices
            if pa.types.is_string(nodes.type)
            or pa.types.is_large_string(nodes.type)
            else nodes
        ).to_numpy(zero_copy_only=False)
        # run starts: node changes or position gaps
        brk = np.flatnonzero((codes[1:] != codes[:-1]) | pos_gap) + 1
        starts = np.concatenate(([0], brk))
        ends = np.concatenate((brk, [len(pos)]))
        n = len(starts)
        edge = np.zeros(n, dtype="int32")
        edge[0] |= 1
        edge[-1] |= 2
        count = np.zeros(n, dtype="int64")
        count[0] = n
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.full(n, d, dtype="int32")),
                nodes.take(pa.array(starts)),
                pa.array(pos[starts], type=pa.int64()),
                pa.array(pos[ends - 1] + 1, type=pa.int64()),
                pa.array(edge),
                pa.array(count),
            ],
            names=["_dir", "node_id", "range_start", "range_end",
                   "_edge", "_n"],
        )


def _runs_to_ranges(runs: DataFrame, edge_rows):
    """The boundary half of G4: chain-merge the collected first/last runs
    of every partition (``edge_rows``, rows of ``runs`` with ``_edge`` in
    1..3) on the driver and union them with ``runs``' interior runs.
    Returns ``(ranges, n_ranges)``: the maximal runs ``(_dir, node_id,
    range_start, range_end)`` and their count per direction,
    ``{_dir: n}`` (directions without runs absent)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    n_ranges: dict[int, int] = {}
    merged: list[tuple] = []
    for r in sorted(edge_rows, key=lambda r: (r["_dir"], r["range_start"])):
        d = r["_dir"]
        n_ranges[d] = n_ranges.get(d, 0) + r["_n"]
        prev = merged[-1] if merged else None
        if (
            prev is not None
            and prev[0] == d
            and prev[1] == r["node_id"]
            and prev[3] == r["range_start"]
        ):
            merged[-1] = prev[:3] + (r["range_end"],)
            n_ranges[d] -= 1
        else:
            merged.append(
                (r["_dir"], r["node_id"], r["range_start"], r["range_end"])
            )
    cols = ["_dir", "node_id", "range_start", "range_end"]
    interior = runs.filter(F.col("_edge") == 0).select(*cols)
    # an Arrow table becomes a local relation: no Python worker reads it
    boundary = pa.Table.from_pylist(
        [dict(zip(cols, m)) for m in merged],
        schema=to_arrow_schema(interior.schema),
    )
    return (
        interior.unionByName(runs.sparkSession.createDataFrame(boundary)),
        n_ranges,
    )


def _local_runs(ordered: DataFrame, keys: list[str], row_col: str):
    """G1 + G4 for every key in one pass over ``ordered``, which must
    hold contiguous, sorted ``row_col`` slices per partition, and the
    same ones each time it runs (persisted, or a plain scan): the
    boundary runs collected here and the interior runs the returned
    frame recomputes must come from one partitioning.  Returns
    ``(ranges, n_ranges)`` as :func:`_runs_to_ranges`.  One Spark job:
    the collect of the boundary runs."""
    import pyarrow as pa

    node_t = ordered.schema[keys[0]].dataType

    def rle(batches):
        batches = [b for b in batches if b.num_rows]
        if batches:
            t = pa.Table.from_batches(batches).combine_chunks()
            yield from _rle_batches(t, len(keys))

    runs = ordered.select(row_col, *keys).mapInArrow(
        rle, schema=_local_runs_schema(node_t)
    )
    return _runs_to_ranges(runs, runs.filter(F.col("_edge") > 0).collect())


def run_length_ranges_scan(
    df: DataFrame,
    key: str,
    row_col: str,
    assume_scan_order: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """G1+G4 the reference's way: *local* run-length encoding per
    partition followed by a boundary fix-up — no full-data shuffle.

    The window form (:func:`run_length_ranges`) shuffles every row by
    ``key``; the reference instead RLE-compresses each rank's contiguous
    slice locally and exchanges only the ranges (``index.cpp:114-137``
    local pass, ``:142-153`` post-shuffle re-merge).  Partitions must
    hold contiguous ``row_col`` slices: free when the input comes
    straight off an ordered scan (``assume_scan_order=True``), else one
    ``repartitionByRange``, whose output is persisted (its bounds come
    from sampling) and backs the returned frame."""
    src = df.select(F.col(row_col), F.col(key))
    if not assume_scan_order:
        parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
        src = src.repartitionByRange(parts, row_col)
    src = src.sortWithinPartitions(row_col)
    if not assume_scan_order:
        src = src.persist()
    ranges, _ = _local_runs(src, [key], row_col)
    return ranges.drop("_dir")


def _partition_plans(summaries, node_counts):
    """Driver prefix sum over the numbering exchange's partitions.

    For each direction ``d`` and partition ``pid`` holding its ranges:
    ``(offset, emit_lo, emit_hi, tail_hi)`` — the global id of the
    partition's first range, the node ids ``[emit_lo, emit_hi)`` whose
    ``node_id_to_ranges`` rows the partition writes (a node whose ranges
    straddle partitions belongs to the first), and the ``range_hi`` of
    its last node, which later partitions may continue."""
    plans: dict[tuple[int, int], tuple[int, int, int, int]] = {}
    for d, node_count in enumerate(node_counts):
        parts = sorted(
            (s for s in summaries if s["_dir"] == d), key=lambda s: s["_pid"]
        )
        offsets, off = [], 0
        for s in parts:
            offsets.append(off)
            off += s["n"]
        # hi of partition i's last node: the id of the first range of a
        # later node, found in the first later partition not made only of
        # that node (scanned backwards, so each step is O(1))
        tail_hi = [off] * len(parts)
        for i in range(len(parts) - 2, -1, -1):
            last, nxt = parts[i]["last"], parts[i + 1]
            if nxt["last"] == last:
                tail_hi[i] = tail_hi[i + 1]
            else:
                tail_hi[i] = offsets[i + 1] + (
                    nxt["lead"] if nxt["first"] == last else 0
                )
        for i, s in enumerate(parts):
            lo = 0 if i == 0 else parts[i - 1]["last"] + 1
            hi = node_count if i == len(parts) - 1 else s["last"] + 1
            plans[(d, s["_pid"])] = (
                offsets[i], max(lo, 0), min(hi, node_count), tail_hi[i]
            )
    return plans


def _summarize(batches):
    """Per exchanged partition and direction: range count, first and
    last node, and how many leading ranges belong to the first node."""
    import numpy as np
    import pyarrow as pa

    batches = [b for b in batches if b.num_rows]
    if not batches:
        return
    t = pa.Table.from_batches(batches).combine_chunks()
    pid = t.column("_pid")[0].as_py()
    dirs = t.column("_dir").to_numpy()
    nodes = t.column("node_id").to_numpy()
    rows = []
    for d in np.unique(dirs):
        nd = nodes[dirs == d]
        rows.append((pid, int(d), len(nd), int(nd[0]), int(nd[-1]),
                     int(np.count_nonzero(nd == nd[0]))))
    yield pa.RecordBatch.from_pylist(
        [dict(zip(("_pid", "_dir", "n", "first", "last", "lead"), r))
         for r in rows],
        schema=pa.schema([("_pid", pa.int32()), ("_dir", pa.int32()),
                          ("n", pa.int64()), ("first", pa.int64()),
                          ("last", pa.int64()), ("lead", pa.int64())]),
    )


#: the columns of the two index tables, key first; all non-null longs
INDEX_COLUMNS = {
    "node_id_to_ranges": ("node_id", "range_lo", "range_hi"),
    "range_to_edge_id": ("range_id", "edge_start", "edge_end"),
}


def index_schema(name: str):
    """The Arrow schema of index table ``name``."""
    import pyarrow as pa

    return pa.schema(
        [pa.field(c, pa.int64(), nullable=False) for c in INDEX_COLUMNS[name]]
    )


def _index_batches(t, plans):
    """Both index tables of one numbered partition ``t`` (``_pid``,
    ``_dir``, ``node_id``, ``range_start``, ``range_end``, sorted on
    ``(_dir, node_id, range_start)``): yields ``(d, table name,
    RecordBatch)``.  ``range_to_edge_id`` numbers the partition's ranges
    of direction ``d`` from the prefix-sum offset in ``plans``;
    ``node_id_to_ranges`` covers the dense node ids the partition owns,
    ``(0, 0)`` for nodes without ranges."""
    import numpy as np
    import pyarrow as pa

    if not t.num_rows:
        return
    pid = t.column("_pid")[0].as_py()
    dirs = t.column("_dir").to_numpy()
    for d in np.unique(dirs):
        lo_row, hi_row = np.searchsorted(dirs, [d, d + 1])
        seg = t.slice(lo_row, hi_row - lo_row)
        off, lo, hi, tail_hi = plans[(int(d), pid)]
        yield int(d), "range_to_edge_id", pa.RecordBatch.from_arrays(
            [
                pa.array(np.arange(off, off + seg.num_rows, dtype="int64")),
                seg.column("range_start").combine_chunks(),
                seg.column("range_end").combine_chunks(),
            ],
            schema=index_schema("range_to_edge_id"),
        )
        nodes = seg.column("node_id").to_numpy()
        # nodes are sorted: first index and run length of each
        uniq, first, count = np.unique(
            nodes, return_index=True, return_counts=True
        )
        range_lo = off + first
        range_hi = range_lo + count
        range_hi[-1] = tail_hi
        for a in range(lo, hi, _EMIT_CHUNK):
            ids = np.arange(a, min(a + _EMIT_CHUNK, hi), dtype="int64")
            at = np.minimum(np.searchsorted(uniq, ids), len(uniq) - 1)
            has = uniq[at] == ids
            yield int(d), "node_id_to_ranges", pa.RecordBatch.from_arrays(
                [
                    pa.array(ids),
                    pa.array(np.where(has, range_lo[at], 0)),
                    pa.array(np.where(has, range_hi[at], 0)),
                ],
                schema=index_schema("node_id_to_ranges"),
            )


def _index_frame(numbered: DataFrame, plans, d: int, name: str) -> DataFrame:
    """One index table of direction ``d`` as a frame over the numbered
    exchange, built by :func:`_index_batches`."""
    import pyarrow as pa

    def emit(batches):
        batches = [b for b in batches if b.num_rows]
        if batches:
            t = pa.Table.from_batches(batches).combine_chunks()
            for dd, nn, batch in _index_batches(t, plans):
                if (dd, nn) == (d, name):
                    yield batch

    return numbered.mapInArrow(
        emit,
        StructType(
            [StructField(c, LongType(), False) for c in INDEX_COLUMNS[name]]
        ),
    )


def empty_node_batches(node_count: int):
    """``node_id_to_ranges`` batches of a direction without edges: every
    node in ``[0, node_count)`` as ``(0, 0)``."""
    import numpy as np
    import pyarrow as pa

    for a in range(0, node_count, _EMIT_CHUNK):
        ids = np.arange(a, min(a + _EMIT_CHUNK, node_count), dtype="int64")
        zeros = pa.array(np.zeros(len(ids), dtype="int64"))
        yield pa.RecordBatch.from_arrays(
            [pa.array(ids), zeros, zeros],
            schema=index_schema("node_id_to_ranges"),
        )


def infer_node_count(df: DataFrame, key: str) -> int:
    """A2: ``max(node_id) + 1`` (0 when empty) when no population size
    metadata exists (``index.cpp:208-213``) — one Spark job:
    per-partition maxima, reduced on the driver."""

    def partial(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        top = None
        for b in batches:
            m = pc.max(b.column(0)).as_py()
            if m is not None:
                top = m if top is None else max(top, m)
        yield pa.RecordBatch.from_pylist(
            [{"m": top}], schema=pa.schema([("m", pa.int64())])
        )

    rows = df.select(key).mapInArrow(
        partial, StructType([StructField("m", LongType())])
    ).collect()
    return max((r["m"] + 1 for r in rows if r["m"] is not None), default=0)


def build_adjacency_index(
    df: DataFrame,
    key: str,
    node_count: int | None = None,
    row_col: str = "row_index",
) -> tuple[DataFrame, DataFrame]:
    """Build one direction of the adjacency index.

    Returns ``(node_id_to_ranges, range_to_edge_id)``:

    - ``node_id_to_ranges``: node_id, range_lo, range_hi — dense over
      [0, node_count), (0,0) when the node has no edges;
    - ``range_to_edge_id``: range_id, edge_start, edge_end — ordered
      node-major, start-ascending.

    Runs the module's scan path over ``df`` range-partitioned on
    ``row_col``.  The frames read two persisted intermediates, the
    row-ordered input and the numbering exchange, which stay pinned while
    the frames are in use.  The gaps-and-islands form (``run_length_ranges`` numbered by
    ``_global_rank``) is the tests' oracle for it.
    """
    spark = df.sparkSession
    if node_count is None:
        node_count = infer_node_count(df, key)
    par = spark.sparkContext.defaultParallelism
    ordered = (
        df.select(row_col, F.col(key).cast("long").alias(key))
        .repartitionByRange(par, row_col)
        .sortWithinPartitions(row_col)
        .persist()
    )
    ranges, n_ranges = _local_runs(ordered, [key], row_col)
    numbered, plans = _number_ranges(ranges, n_ranges, [node_count],
                                     lambda n: par)
    if not plans:
        node_ranges = spark.range(node_count).select(
            F.col("id").alias("node_id"),
            F.lit(0).cast("long").alias("range_lo"),
            F.lit(0).cast("long").alias("range_hi"),
        )
    else:
        node_ranges = _index_frame(numbered, plans, 0, "node_id_to_ranges")
    return node_ranges, _index_frame(numbered, plans, 0, "range_to_edge_id")


SONATA_KEYS = {
    "source_to_target": "source_node_id",
    "target_to_source": "target_node_id",
}


def _number_ranges(ranges: DataFrame, n_ranges: dict[int, int],
                   node_counts, num_partitions):
    """G2-G3 numbering of ``ranges`` (``_dir`` indexing ``node_counts``,
    ``n_ranges`` their count per direction) into
    ``num_partitions(total)`` partitions sorted on ``(_dir, node_id,
    range_start)``.  One partition numbers each direction from 0 and
    emits all its node ids, so its plan needs no summary and nothing
    runs here: the ranges are merged into one partition and sorted by
    the job that reads them.  More partitions take one range exchange,
    persisted (its bounds come from sampling, and the summaries and the
    tables must see the same exchange), and the driver prefix sum over
    its partition summaries.  Returns ``(numbered, plans)``; the caller
    unpersists ``numbered``."""
    sort = ["_dir", "node_id", "range_start"]
    k = num_partitions(sum(n_ranges.values()))
    if k == 1:
        numbered = (
            ranges.coalesce(1)
            .sortWithinPartitions(*sort)
            .withColumn("_pid", F.lit(0))
        )
        return numbered, {
            (d, 0): (0, 0, node_counts[d], n) for d, n in n_ranges.items()
        }
    numbered = (
        ranges.repartitionByRange(k, *sort)
        .sortWithinPartitions(*sort)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    try:
        plans = _partition_plans(
            numbered.mapInArrow(_summarize, _SUMMARY).collect(), node_counts
        )
    except BaseException:
        numbered.unpersist()
        raise
    return numbered, plans


@contextmanager
def build_sonata_indices(
    ranges: DataFrame,
    n_ranges: dict[int, int],
    node_counts: dict[str, int],
    num_partitions,
):
    """G6: the numbering of both index directions, as written under
    ``indices/{source_to_target,target_to_source}``
    (``index.cpp:24-31,309-324``).  ``ranges`` are the maximal runs of
    both SONATA keys (``_dir`` 0 and 1, in ``SONATA_KEYS`` order) and
    ``n_ranges`` their counts per direction, as :func:`_runs_to_ranges`
    returns them; ``num_partitions(total ranges)`` sizes the numbering.

    Yields ``(numbered, plans)``: the numbered ranges and their
    partition plans, from which :func:`_index_batches` builds every
    partition's tables; a persisted exchange is released on exit."""
    numbered, plans = _number_ranges(
        ranges, n_ranges, [node_counts[d] for d in SONATA_KEYS],
        num_partitions,
    )
    try:
        yield numbered, plans
    finally:
        numbered.unpersist()
