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

1. **Local RLE** — :func:`_partition_runs` run-length encodes every index
   key of one partition at once.  Its *interior* runs are final; only a
   partition's first and last run of each key can continue into a
   neighbouring partition.  Those boundary runs and, per key, a summary
   row with an exact histogram of the interior runs over node-id buckets
   are the partition's *edge rows*, the only rows collected.  The SONATA
   bundle writer runs it inside its table pass and writes each task's
   interior runs to one Arrow file; ``build_adjacency_index`` and
   ``run_length_ranges_scan`` run it in a ``mapInArrow`` of their own,
   once for the collect and once more to emit the interior runs.
2. **Numbering** — :func:`_slice_plan`: the driver chain-merges the
   boundary runs (:func:`_merge_boundary`, the boundary fix-up), adds
   them to the summed histograms and cuts the ``(direction, node_id)``
   key space at bucket boundaries into k slices of about equal range
   counts.  A node never straddles two slices, so each slice's plan is
   its key interval and, per direction, the global id of its first range:
   like the reference's static node partition and its counts sent ahead
   of the payload (``index.cpp:99-109,229-234,272-280``), every offset is
   known before any range moves, and the plan depends only on the data
   and k.  No sample, no summary job, nothing persisted.
3. **Tables in build order** — :func:`_index_batches`, one Arrow kernel
   per slice, over the slice's ranges sorted on ``(_dir, node_id,
   range_start)``: ``range_to_edge_id`` numbers them from the slice's
   offset, and ``node_id_to_ranges`` emits the dense node ids the slice
   owns, absent ones as ``(0, 0)``.  The bundle writer's one index job
   (``spark.range(k).mapInArrow``) reads each slice's row span of every
   runs file (:func:`_slice_runs`); the frame path moves the runs by a
   hash exchange on the slice id.

``run_length_ranges`` numbered by ``_global_rank`` is the DataFrame-only
oracle the tests compare against: a gaps-and-islands window partitioned
by node and a global rank.
"""

from __future__ import annotations

from bisect import bisect_right
from typing import NamedTuple

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    DataType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

#: ``_edge`` of a summary row; boundary runs carry bit 1 (a partition's
#: first run of its key) and bit 2 (its last)
_SUMMARY_EDGE = 4
_EMIT_CHUNK = 1 << 20
#: at most ``2**_BUCKET_BITS`` node-id buckets per direction
_BUCKET_BITS = 12
#: the open ends of a node-id interval
_LO, _HI = -(1 << 63), (1 << 63) - 1
_RUN_COLUMNS = ("_dir", "node_id", "range_start", "range_end")


def _edge_schema(node_type: DataType) -> StructType:
    """The edge rows of :func:`_partition_runs`, ``node_id`` of
    ``node_type``."""
    return StructType([
        StructField("_dir", IntegerType()),
        StructField("node_id", node_type),
        StructField("range_start", LongType()),
        StructField("range_end", LongType()),
        StructField("_edge", IntegerType()),
        StructField("_n", LongType()),
        StructField("_pid", IntegerType()),
        StructField("_hist", BinaryType()),
    ])


def runs_schema():
    """The Arrow schema of interior runs, as the bundle writer's runs
    files hold them."""
    import pyarrow as pa

    return pa.schema([
        ("_dir", pa.int32()), ("node_id", pa.int64()),
        ("range_start", pa.int64()), ("range_end", pa.int64()),
    ])


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


def _shift(top: int) -> int:
    """log2 of the bucket width for node ids up to ``top``: the narrowest
    power of two that needs at most ``2**_BUCKET_BITS`` buckets over
    ``[0, top]``.  Monotone in ``top``, so the widest any partition uses
    is the one of the global maximum."""
    return max(0, max(int(top), 0).bit_length() - _BUCKET_BITS)


def _partition_runs(t, n_keys: int, pid: int):
    """G1 for one partition: ``t`` (one chunk, at least one row) holds the
    row position first, sorted, then the ``n_keys`` index keys.  A run
    breaks where the key changes or the position jumps.

    Returns ``(interior, edges)``.  ``interior`` is the table of the runs
    that are neither the first nor the last of their key in the
    partition (``_dir`` indexes the keys), in row order per key: they
    are final.  ``edges`` is a batch of :func:`_edge_schema`: the first
    and last run of each key (``_edge`` bit 1 and 2), which may continue
    into a neighbouring partition, and per key a summary row (``_edge``
    ``_SUMMARY_EDGE``): ``range_start`` and ``range_end`` the partition's
    first and last+1 position, ``_n`` its row count, ``_pid`` the
    partition, and for integer keys ``node_id`` the key's maximum and
    ``_hist`` the interior runs' counts over node-id buckets of width
    ``2**_shift(node_id)`` (bucket ``max(node, 0) >> shift``, int64
    little-endian).  Without keys, one summary row with ``_dir`` -1."""
    import numpy as np
    import pyarrow as pa

    pos = t.column(0).to_numpy()
    pos_gap = pos[1:] != pos[:-1] + 1
    interior, edges = [], []

    def edge_rows(d, node, start, end, edge, n=None, hist=None):
        k = len(start)
        return {
            "_dir": [d] * k, "node_id": node, "range_start": start,
            "range_end": end, "_edge": edge, "_n": [n] * k,
            "_pid": [pid] * k, "_hist": [hist] * k,
        }

    span = [int(pos[0])], [int(pos[-1]) + 1]
    for d in range(n_keys):
        nodes = t.column(d + 1).chunk(0)
        integer = pa.types.is_integer(nodes.type)
        codes = (
            nodes if integer else nodes.dictionary_encode().indices
        ).to_numpy(zero_copy_only=False)
        # run starts: node changes or position gaps
        brk = np.flatnonzero((codes[1:] != codes[:-1]) | pos_gap) + 1
        starts = np.concatenate(([0], brk))
        ends = np.concatenate((brk, [len(pos)]))
        n = len(starts)
        outer = [0] if n == 1 else [0, n - 1]
        edges.append(edge_rows(
            d, nodes.take(pa.array(starts[outer])).to_pylist(),
            pos[starts[outer]].tolist(), (pos[ends[outer] - 1] + 1).tolist(),
            [3] if n == 1 else [1, 2],
        ))
        inner = starts[1:-1]
        inner_nodes = nodes.take(pa.array(inner))
        interior.append(pa.table(
            [
                pa.array(np.full(len(inner), d, dtype="int32")),
                inner_nodes,
                pa.array(pos[inner], type=pa.int64()),
                pa.array(pos[ends[1:-1] - 1] + 1, type=pa.int64()),
            ],
            names=list(_RUN_COLUMNS),
        ))
        top = hist = None
        if integer:
            top = int(codes.max())
            s = _shift(top)
            hist = np.bincount(
                np.maximum(inner_nodes.to_numpy(), 0) >> s,
                minlength=(max(top, 0) >> s) + 1,
            ).astype("<i8").tobytes()
        edges.append(edge_rows(d, [top], *span, [_SUMMARY_EDGE], len(pos),
                               hist))
    if not n_keys:
        edges.append(edge_rows(-1, [None], *span, [_SUMMARY_EDGE], len(pos)))
    schema = pa.schema([
        ("_dir", pa.int32()),
        ("node_id", t.schema.field(1).type if n_keys else pa.int64()),
        ("range_start", pa.int64()), ("range_end", pa.int64()),
        ("_edge", pa.int32()), ("_n", pa.int64()), ("_pid", pa.int32()),
        ("_hist", pa.binary()),
    ])
    return (
        pa.concat_tables(interior) if interior else None,
        pa.RecordBatch.from_pydict(
            {c: [v for e in edges for v in e[c]] for c in schema.names},
            schema=schema,
        ),
    )


def _merge_boundary(edge_rows) -> list[tuple]:
    """The boundary half of G4: chain-merge the partitions' first and
    last runs (the edge rows with ``_edge`` 1..3) on the driver.  Returns
    the maximal runs ``(_dir, node_id, range_start, range_end, _pid)``
    sorted on ``(_dir, range_start)``, ``_pid`` the partition of their
    first piece."""
    merged: list[tuple] = []
    runs = (r for r in edge_rows if r["_edge"] != _SUMMARY_EDGE)
    for r in sorted(runs, key=lambda r: (r["_dir"], r["range_start"])):
        prev = merged[-1] if merged else None
        if (
            prev is not None
            and prev[:2] == (r["_dir"], r["node_id"])
            and prev[3] == r["range_start"]
        ):
            merged[-1] = prev[:3] + (r["range_end"], prev[4])
        else:
            merged.append((r["_dir"], r["node_id"], r["range_start"],
                           r["range_end"], r["_pid"]))
    return merged


class SlicePlan(NamedTuple):
    """The numbering of the ranges of ``len(node_counts)`` directions in
    ``len(parts)`` slices of the ``(_dir, node_id)`` key space.

    - ``points``: the k + 1 cut points; slice *s* holds the keys in
      ``[points[s], points[s + 1])``.
    - ``parts``: per slice, ``(d, lo, hi, offset)`` for each direction it
      covers: its node ids ``[lo, hi)`` and the global id of its first
      range of direction ``d``.
    - ``boundary``: per slice, its merged boundary runs ``(_dir,
      node_id, range_start, range_end)``.
    - ``node_counts``: the dense node-table size per direction.
    """

    points: list
    parts: list
    boundary: list
    node_counts: list


def _slice_plan(edge_rows, node_counts, num_partitions) -> SlicePlan:
    """G2-G3 on the driver, from the collected edge rows of
    :func:`_partition_runs` (integer keys): the exact range count of
    every node-id bucket (the summed histograms, coarsened to the widest
    bucket, plus the merged boundary runs), then
    ``k = num_partitions(total ranges)`` slices cut at the first bucket
    boundaries where the running count reaches ``total * s / k``.
    Driver memory is O(buckets + partitions)."""
    import numpy as np

    n_dirs = len(node_counts)
    merged = _merge_boundary(edge_rows)
    summaries = [r for r in edge_rows
                 if r["_edge"] == _SUMMARY_EDGE and r["_dir"] >= 0]
    shifts, hists = [], []
    for d in range(n_dirs):
        mine = [r for r in summaries if r["_dir"] == d]
        top = max((r["node_id"] for r in mine), default=0)
        s = _shift(top)
        hist = np.zeros((max(top, 0) >> s) + 1 if mine else 0, "int64")
        for r in mine:
            part = np.frombuffer(r["_hist"], "<i8")
            np.add.at(hist, np.arange(len(part)) >> (s - _shift(r["node_id"])),
                      part)
        shifts.append(s)
        hists.append(hist)
    for d, node, *_ in merged:
        hists[d][max(node, 0) >> shifts[d]] += 1

    counts = np.concatenate(hists)
    running = np.cumsum(counts)
    total = int(running[-1]) if len(running) else 0
    k = max(1, num_partitions(total))
    first = np.cumsum([0] + [len(h) for h in hists])

    def point(c):
        """Bucket ``c`` of the concatenated directions as a key."""
        if c >= len(counts):
            return (n_dirs, _LO)
        d = int(np.searchsorted(first, c, "right")) - 1
        b = int(c - first[d])
        return (d, _LO if b == 0 else b << shifts[d])

    points = [(0, _LO)] + [
        point(int(np.searchsorted(running, -(-total * s // k))) + 1)
        for s in range(1, k)
    ] + [(n_dirs, _LO)]
    before = [np.concatenate(([0], np.cumsum(h))) for h in hists]
    parts = []
    for (da, na), (db, nb) in zip(points, points[1:]):
        mine = []
        for d in range(da, min(db, n_dirs - 1) + 1):
            lo = na if d == da else _LO
            hi = nb if d == db else _HI
            if lo < hi:
                b = 0 if lo == _LO else lo >> shifts[d]
                mine.append((d, lo, hi, int(before[d][b])))
        parts.append(mine)
    boundary = [[] for _ in range(k)]
    for d, node, start, end, _ in merged:
        boundary[bisect_right(points, (d, node)) - 1].append(
            (d, node, start, end)
        )
    return SlicePlan(points, parts, boundary, list(node_counts))


def _key_pos(dirs, nodes, key) -> int:
    """The first row of runs sorted on ``(_dir, node_id)`` (``dirs`` and
    ``nodes``) at or past ``key``."""
    import numpy as np

    d, node = key
    i, j = np.searchsorted(dirs, [d, d + 1])
    return int(i + np.searchsorted(nodes[i:j], node))


def _sorted_runs(pieces):
    """``pieces`` (tables of :func:`runs_schema`) as one table sorted on
    ``(_dir, node_id, range_start)``, in one chunk."""
    import pyarrow as pa

    return pa.concat_tables(pieces).sort_by(
        [(c, "ascending") for c in _RUN_COLUMNS[:3]]
    ).combine_chunks()


def _slice_runs(files: list[str], plan: SlicePlan, s: int):
    """The ranges of slice ``s``, sorted on ``(_dir, node_id,
    range_start)``: its merged boundary runs and its row span of every
    runs file (one record batch sorted on ``(_dir, node_id,
    range_start)``), found by binary search on the memory-mapped key
    columns, so a task reads only its own rows."""
    import pyarrow as pa

    pieces = [pa.Table.from_pylist(
        [dict(zip(_RUN_COLUMNS, r)) for r in plan.boundary[s]],
        schema=runs_schema(),
    )]
    for f in files:
        t = pa.ipc.open_file(pa.memory_map(f)).read_all()
        dirs = t.column("_dir").to_numpy()
        nodes = t.column("node_id").to_numpy()
        a, b = (_key_pos(dirs, nodes, plan.points[i]) for i in (s, s + 1))
        pieces.append(t.slice(a, b - a))
    return _sorted_runs(pieces)


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


def _index_batches(t, parts, node_counts):
    """Both index tables of one slice: ``t`` holds its ranges
    (``_dir``, ``node_id``, ``range_start``, ``range_end``, one chunk)
    sorted on ``(_dir, node_id, range_start)``, ``parts`` its plan
    (``SlicePlan.parts``).  Yields ``(d, table name, RecordBatch)``:
    ``range_to_edge_id`` numbers the slice's ranges of direction ``d``
    from its offset; ``node_id_to_ranges`` covers the slice's node ids
    in ``[0, node_counts[d])``, ``(0, 0)`` for nodes without ranges."""
    import numpy as np
    import pyarrow as pa

    dirs = t.column("_dir").to_numpy()
    for d, lo, hi, off in parts:
        lo_row, hi_row = np.searchsorted(dirs, [d, d + 1])
        seg = t.slice(lo_row, hi_row - lo_row)
        if seg.num_rows:
            yield d, "range_to_edge_id", pa.RecordBatch.from_arrays(
                [
                    pa.array(np.arange(off, off + seg.num_rows, dtype="int64")),
                    seg.column("range_start").combine_chunks(),
                    seg.column("range_end").combine_chunks(),
                ],
                schema=index_schema("range_to_edge_id"),
            )
        # nodes are sorted: first index and run length of each
        uniq, first, count = np.unique(
            seg.column("node_id").to_numpy(), return_index=True,
            return_counts=True,
        )
        range_lo = off + first
        range_hi = range_lo + count
        top = min(hi, node_counts[d])
        for a in range(max(lo, 0), top, _EMIT_CHUNK):
            ids = np.arange(a, min(a + _EMIT_CHUNK, top), dtype="int64")
            if len(uniq):
                at = np.minimum(np.searchsorted(uniq, ids), len(uniq) - 1)
                has = uniq[at] == ids
                lo_col = np.where(has, range_lo[at], 0)
                hi_col = np.where(has, range_hi[at], 0)
            else:
                lo_col = hi_col = np.zeros(len(ids), dtype="int64")
            yield d, "node_id_to_ranges", pa.RecordBatch.from_arrays(
                [pa.array(ids), pa.array(lo_col), pa.array(hi_col)],
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


def _scan_runs(ordered: DataFrame, key: str, row_col: str, extra):
    """G1 + G4 for ``key`` over ``ordered``, which must hold contiguous,
    sorted ``row_col`` slices per partition, and the same ones each time
    it runs (persisted, or a plain scan).  One Spark job collects the
    edge rows; ``extra(edge_rows)`` returns ``(schema, tag, rows)``, and
    the returned frame, a second run of the kernel, holds every
    partition's interior runs mapped by ``tag(pid, interior)`` (an Arrow
    table of ``schema``) and, from partition 0, ``rows`` (a table of
    ``schema``).  Returns ``(edge rows, frame)``."""
    import pyarrow as pa

    def runs(batches):
        from pyspark import TaskContext

        batches = [b for b in batches if b.num_rows]
        if batches:
            t = pa.Table.from_batches(batches).combine_chunks()
            yield t, TaskContext.get().partitionId()

    def edges(batches):
        for t, pid in runs(batches):
            yield _partition_runs(t, 1, pid)[1]

    src = ordered.select(row_col, key)
    rows = src.mapInArrow(
        edges, _edge_schema(ordered.schema[key].dataType)
    ).collect()
    schema, tag, injected = extra(rows)

    def emit(batches):
        from pyspark import TaskContext

        if TaskContext.get().partitionId() == 0 and injected.num_rows:
            yield from injected.to_batches()
        for t, pid in runs(batches):
            yield from tag(pid, _partition_runs(t, 1, pid)[0]).to_batches()

    return rows, src.mapInArrow(emit, schema)


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
    from sampling) and backs the returned frame.  One job collects the
    boundary runs; the frame emits every partition's interior runs and,
    from partition 0, the merged boundary runs."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    src = df.select(F.col(row_col), F.col(key))
    if not assume_scan_order:
        parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
        src = src.repartitionByRange(parts, row_col)
    src = src.sortWithinPartitions(row_col)
    if not assume_scan_order:
        src = src.persist()
    node_t = src.schema[key].dataType
    schema = StructType([
        StructField("node_id", node_t),
        StructField("range_start", LongType()),
        StructField("range_end", LongType()),
    ])
    arrow = pa.schema([("node_id", to_arrow_type(node_t)),
                       ("range_start", pa.int64()), ("range_end", pa.int64())])

    def extra(rows):
        merged = _merge_boundary(rows)
        return schema, lambda pid, t: t.drop_columns(["_dir"]), pa.table(
            [[m[i] for m in merged] for i in (1, 2, 3)], schema=arrow
        )

    return _scan_runs(src, key, row_col, extra)[1]


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
    ``row_col``: one job collects the edge rows, from which the driver
    plans ``defaultParallelism`` slices (:func:`_slice_plan`).  Each
    frame runs the kernel again, tags every interior run with its slice
    (partition 0 adds the merged boundary runs and one marker row per
    slice, so a slice without ranges still emits its node ids), moves the
    runs by a hash exchange on the slice id, several slices per
    partition, and builds each slice's tables with
    :func:`_index_batches`.  The row-ordered input is persisted and stays
    pinned while the frames are in use.  The gaps-and-islands form
    (``run_length_ranges`` numbered by ``_global_rank``) is the tests'
    oracle for it.
    """
    import numpy as np
    import pyarrow as pa

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
    tagged = StructType(
        [StructField("_slice", IntegerType())]
        + [StructField(c, IntegerType() if c == "_dir" else LongType())
           for c in _RUN_COLUMNS]
    )
    plan = None

    def extra(rows):
        nonlocal plan
        plan = _slice_plan(rows, [node_count], lambda n: par)
        k = len(plan.parts)
        cuts = np.array([p[1] for p in plan.points[1:-1] if p[0] == 0],
                        dtype="int64")

        def tag(pid, t):
            slices = np.searchsorted(cuts, t.column("node_id").to_numpy(),
                                     "right").astype("int32")
            return t.add_column(0, "_slice", pa.array(slices))

        # marker rows (_dir -1) make every slice reach the index kernel
        markers = [(s, -1, 0, 0, 0) for s in range(k)]
        runs = [(s, *r) for s in range(k) for r in plan.boundary[s]]
        return tagged, tag, pa.Table.from_pylist(
            [dict(zip(tagged.names, r)) for r in markers + runs],
            schema=pa.schema([("_slice", pa.int32()), *runs_schema()]),
        )

    _, frame = _scan_runs(ordered, key, row_col, extra)
    exchanged = frame.repartition(len(plan.parts), "_slice")

    def table(name):
        def emit(batches):
            batches = [b for b in batches if b.num_rows]
            if not batches:
                return
            t = pa.Table.from_batches(batches).sort_by(
                [(c, "ascending") for c in ("_slice", *_RUN_COLUMNS[:3])]
            ).combine_chunks()
            slices = t.column("_slice").to_numpy()
            for s in np.unique(slices):
                a, b = np.searchsorted(slices, [s, s + 1])
                # the slice's marker row sorts first
                seg = t.slice(a + 1, b - a - 1).drop_columns(["_slice"])
                for _, nn, batch in _index_batches(
                    seg, plan.parts[s], plan.node_counts
                ):
                    if nn == name:
                        yield batch

        return exchanged.mapInArrow(
            emit,
            StructType(
                [StructField(c, LongType(), False) for c in INDEX_COLUMNS[name]]
            ),
        )

    return table("node_id_to_ranges"), table("range_to_edge_id")


SONATA_KEYS = {
    "source_to_target": "source_node_id",
    "target_to_source": "target_node_id",
}


def build_sonata_indices(edge_rows, node_counts: dict[str, int],
                         num_partitions) -> SlicePlan:
    """G6: the numbering of both index directions, as written under
    ``indices/{source_to_target,target_to_source}``
    (``index.cpp:24-31,309-324``).  ``edge_rows`` are the collected edge
    rows of :func:`_partition_runs` over both SONATA keys (``_dir`` 0 and
    1, in ``SONATA_KEYS`` order), ``node_counts`` the node-table size per
    direction and ``num_partitions(total ranges)`` the slice count.
    Returns the :class:`SlicePlan`, from which :func:`_slice_runs` and
    :func:`_index_batches` build every slice's tables."""
    return _slice_plan(
        edge_rows, [node_counts[d] for d in SONATA_KEYS], num_partitions
    )
