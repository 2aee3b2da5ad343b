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

The scan path (:func:`build_sonata_indices`, ``method="scan"``) does each
of the reference's steps once, over partitions that each hold one
contiguous, sorted slice of the row order (the bundle's table write
already has them):

1. **Local RLE** — one ``mapInArrow`` pass run-length encodes every
   index key at once.  Only a partition's first and last run of each key
   can continue into a neighbouring partition; those runs, tagged with
   the partition's run count, are the job's single collect and are
   chain-merged on the driver (the boundary fix-up).
2. **Numbering** — one range exchange of the runs on
   ``(direction, node_id, range_start)``; one collect of per-partition
   summaries gives the driver prefix sum (the Allgather).
3. **Tables in build order** — ``range_to_edge_id`` numbers each
   exchanged partition from its offset, and ``node_id_to_ranges`` emits
   the dense node ids each partition owns, absent ones as ``(0, 0)``.
   Both come out already in key order, so they are written without a
   join or another sort.

``method="window"`` is the DataFrame-only oracle the tests compare
against: a gaps-and-islands window partitioned by node, a global rank,
and a dense left join.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

_RUNS = "_dir int, node_id {node_t}, range_start long, range_end long"
# _edge: bit 1 = the partition's first run of that key, bit 2 = its last;
# _n: the partition's run count of that key, on its first run only
_LOCAL_RUNS = _RUNS + ", _edge int, _n long"
_SUMMARY = "_pid int, _dir int, n long, first long, last long, lead long"
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


def _local_runs(ordered: DataFrame, keys: list[str], row_col: str):
    """G1 + the boundary half of G4, for every key in one pass.

    ``ordered`` must hold contiguous, sorted ``row_col`` slices per
    partition, and the same ones each time it runs (persisted, or a
    plain scan): the boundary runs collected here and the interior runs
    the returned frame recomputes must come from one partitioning.
    Returns ``(ranges, n_ranges)``: the maximal runs ``(_dir, node_id,
    range_start, range_end)`` — ``_dir`` indexes ``keys`` — and their
    count.  One Spark job: the collect of the boundary runs."""
    spark = ordered.sparkSession
    node_t = dict(ordered.dtypes)[keys[0]]

    def rle(batches):
        import numpy as np
        import pyarrow as pa

        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        t = pa.Table.from_batches(batches).combine_chunks()
        pos = t.column(0).to_numpy()
        pos_gap = pos[1:] != pos[:-1] + 1
        for d in range(len(keys)):
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

    runs = ordered.select(row_col, *keys).mapInArrow(
        rle, schema=_LOCAL_RUNS.format(node_t=node_t)
    )
    edge_rows = sorted(
        runs.filter(F.col("_edge") > 0).collect(),
        key=lambda r: (r["_dir"], r["range_start"]),
    )
    n_ranges = 0
    merged: list[tuple] = []
    for r in edge_rows:
        n_ranges += r["_n"]
        prev = merged[-1] if merged else None
        if (
            prev is not None
            and prev[0] == r["_dir"]
            and prev[1] == r["node_id"]
            and prev[3] == r["range_start"]
        ):
            merged[-1] = prev[:3] + (r["range_end"],)
            n_ranges -= 1
        else:
            merged.append(
                (r["_dir"], r["node_id"], r["range_start"], r["range_end"])
            )
    cols = ["_dir", "node_id", "range_start", "range_end"]
    ranges = (
        runs.filter(F.col("_edge") == 0)
        .select(*cols)
        .unionByName(
            spark.createDataFrame(merged, schema=_RUNS.format(node_t=node_t))
        )
    )
    return ranges, n_ranges


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


def _range_table(numbered: DataFrame, d: int, plans) -> DataFrame:
    """``range_to_edge_id`` of direction ``d``: each partition's ranges
    numbered from its prefix-sum offset, in the exchange's order.  The
    row position within the partition is the low 33 bits of
    ``monotonically_increasing_id`` (evaluated after the filter), so
    numbering stays in the JVM and keeps the order."""
    pairs = [
        F.lit(x)
        for (dd, pid), plan in sorted(plans.items())
        if dd == d
        for x in (pid, plan[0])
    ]
    # no pairs: the direction has no ranges, so the frame has no rows
    offset = F.create_map(*pairs)[F.col("_pid")] if pairs else F.lit(0)
    row = F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1)
    return numbered.filter(F.col("_dir") == d).select(
        (offset + row).alias("range_id"),
        F.col("range_start").alias("edge_start"),
        F.col("range_end").alias("edge_end"),
    )


def _node_table(numbered: DataFrame, d: int, plans) -> DataFrame:
    """``node_id_to_ranges`` of direction ``d``: each partition writes
    the dense node ids it owns, ``(0, 0)`` for nodes without ranges."""

    def emit(batches):
        import numpy as np
        import pyarrow as pa

        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        t = pa.Table.from_batches(batches).combine_chunks()
        off, lo, hi, tail_hi = plans[(d, t.column("_pid")[0].as_py())]
        nodes = t.column("node_id").to_numpy()
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
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids),
                    pa.array(np.where(has, range_lo[at], 0)),
                    pa.array(np.where(has, range_hi[at], 0)),
                ],
                names=["node_id", "range_lo", "range_hi"],
            )

    return (
        numbered.filter(F.col("_dir") == d)
        .select("_pid", "node_id")
        .mapInArrow(
            emit,
            "node_id long not null, range_lo long not null, "
            "range_hi long not null",
        )
    )


def _empty_node_table(spark, node_count: int) -> DataFrame:
    return spark.range(node_count).select(
        F.col("id").alias("node_id"),
        F.lit(0).cast("long").alias("range_lo"),
        F.lit(0).cast("long").alias("range_hi"),
    )


def _scan_indices(ordered: DataFrame, keys, node_counts, row_col,
                  num_partitions):
    """Both tables for every key of ``ordered`` (contiguous sorted
    ``row_col`` slices per partition, stable as :func:`_local_runs`
    requires).  Returns ``(tables, numbered)``: ``tables[d] =
    (node_id_to_ranges, range_to_edge_id)`` and the persisted
    numbering exchange those frames read.  Three Spark jobs: the
    boundary collect, and the exchange with its summary collect."""
    spark = ordered.sparkSession
    ranges, n_ranges = _local_runs(
        ordered.select(
            row_col, *[F.col(k).cast("long").alias(k) for k in keys]
        ),
        list(keys),
        row_col,
    )
    sort = ["_dir", "node_id", "range_start"]
    # persist: the summaries and the tables must see the same exchange
    # (its bounds come from sampling)
    numbered = (
        ranges.repartitionByRange(num_partitions(n_ranges), *sort)
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
    tables = [
        (
            _node_table(numbered, d, plans)
            if any(dd == d for dd, _ in plans)
            else _empty_node_table(spark, node_counts[d]),
            _range_table(numbered, d, plans),
        )
        for d in range(len(keys))
    ]
    return tables, numbered


def infer_node_count(df: DataFrame, key: str) -> int:
    """A2: ``max(node_id) + 1`` when no population size metadata exists
    (``index.cpp:208-213``)."""
    return count_rows_and_nodes(df, [key])[1][0]


def count_rows_and_nodes(df: DataFrame, keys: list[str]) -> tuple[int, list[int]]:
    """The row count and, per key, ``max + 1`` (0 when empty): A2's node
    count inference folded with the table count into one Spark job —
    per-partition partials, summed on the driver."""

    def partial(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        n, tops = 0, [None] * len(keys)
        for b in batches:
            n += b.num_rows
            for i, k in enumerate(keys):
                m = pc.max(b.column(k)).as_py()
                if m is not None:
                    tops[i] = m if tops[i] is None else max(tops[i], m)
        yield pa.RecordBatch.from_pylist(
            [{"n": n, **{f"m{i}": m for i, m in enumerate(tops)}}],
            schema=pa.schema(
                [("n", pa.int64())]
                + [(f"m{i}", pa.int64()) for i in range(len(keys))]
            ),
        )

    schema = "n long" + "".join(f", m{i} long" for i in range(len(keys)))
    cols = keys or [F.lit(0).alias("_")]
    rows = df.select(*cols).mapInArrow(partial, schema).collect()
    tops = [
        max((r[f"m{i}"] for r in rows if r[f"m{i}"] is not None), default=None)
        for i in range(len(keys))
    ]
    return (
        sum(r["n"] for r in rows),
        [int(m) + 1 if m is not None else 0 for m in tops],
    )


def build_adjacency_index(
    df: DataFrame,
    key: str,
    node_count: int | None = None,
    row_col: str = "row_index",
    method: str = "window",
) -> tuple[DataFrame, DataFrame]:
    """Build one direction of the adjacency index.

    Returns ``(node_id_to_ranges, range_to_edge_id)``:

    - ``node_id_to_ranges``: node_id, range_lo, range_hi — dense over
      [0, node_count), (0,0) when the node has no edges;
    - ``range_to_edge_id``: range_id, edge_start, edge_end — ordered
      node-major, start-ascending.

    ``method``: ``"window"`` (gaps-and-islands, shuffles rows by node
    twice — the oracle) or ``"scan"`` (the module's scan path after a
    ``repartitionByRange`` on ``row_col``).  The scan frames read two
    persisted intermediates, the row-ordered input and the numbering
    exchange, which stay pinned while the frames are in use.
    """
    spark = df.sparkSession
    if node_count is None:
        node_count = infer_node_count(df, key)

    if method == "scan":
        par = spark.sparkContext.defaultParallelism
        ordered = (
            df.select(key, row_col)
            .repartitionByRange(par, row_col)
            .sortWithinPartitions(row_col)
            .persist()
        )
        tables, _ = _scan_indices(
            ordered, [key], [node_count], row_col, lambda n: par
        )
        return tables[0]

    numbered = _global_rank(
        run_length_ranges(df, key, row_col), ["node_id", "range_start"],
        "range_id",
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
        spark.range(node_count)
        .withColumnRenamed("id", "node_id")
        .join(per_node, "node_id", "left")
        .na.fill({"range_lo": 0, "range_hi": 0})
        .select("node_id", "range_lo", "range_hi")
    )
    return node_id_to_ranges, range_to_edge_id


SONATA_KEYS = {
    "source_to_target": "source_node_id",
    "target_to_source": "target_node_id",
}


@contextmanager
def build_sonata_indices(
    ordered: DataFrame,
    node_counts: dict[str, int],
    num_partitions,
    row_col: str = "row_index",
):
    """G6: both index directions, as written under
    ``indices/{source_to_target,target_to_source}``
    (``index.cpp:24-31,309-324``), by the scan path in one pass over
    ``ordered`` — partitions holding contiguous, sorted ``row_col``
    slices, such as the bundle's range-partitioned table.

    Yields ``{direction: (node_id_to_ranges, range_to_edge_id)}``; each
    frame is in key order with one contiguous key run per partition,
    ready to write as is.  ``num_partitions(n_ranges)`` sizes the
    numbering exchange from the total range count.  The exchange is
    persisted for the frames and released on exit; ``ordered`` must
    stay persisted (or otherwise stable) until then."""
    tables, numbered = _scan_indices(
        ordered,
        list(SONATA_KEYS.values()),
        [node_counts[d] for d in SONATA_KEYS],
        row_col,
        num_partitions,
    )
    try:
        yield dict(zip(SONATA_KEYS, tables))
    finally:
        numbered.unpersist()
