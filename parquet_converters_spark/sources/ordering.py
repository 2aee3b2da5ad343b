"""Ordered multi-file parquet scan (reference operator S5).

The reference concatenates a directory of parquet files in *sorted
file-name order*, and gives each rank a static range of row groups whose
global offsets come from the footers (``src/parquet2hdf5.cpp:97-110,236``,
``src/circuit/parquet_reader.cpp:83-160``).  :func:`read_parquet_ordered`
does the same in Spark, with no exchange and no file-scan planning job:

- the driver reads each footer once and plans *slices*: runs of
  consecutive row groups in file order, each with the global index of its
  first row;
- ``spark.range(k, numPartitions=k).mapInArrow`` decodes slice *i* in
  partition *i* with pyarrow and appends ``row_index = first + position``.

So partition *i* holds one contiguous, sorted ``row_index`` slice, which
is what the SONATA bundle writer requires of its input (frames that are
not ordered go through :func:`order_rows` first).

:func:`plan_parquet_ordered` is the driver half alone: the schema, the
slice count and the slice reader, for a consumer that reads each slice
inside a task of its own (the SONATA bundle writer's table pass).
"""

from __future__ import annotations

import glob as _glob
import json
import logging
import os
from typing import Callable, Iterator, NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

_log = logging.getLogger(__name__)

_SPARK_ROW_METADATA = "org.apache.spark.sql.parquet.row.metadata"

# bundle file sizing: ~4M edge rows is ~100-200 MB of parquet at typical
# edge-row widths (the healthy HDFS/S3 object size), and no file should
# drop below ~64Ki rows just to keep every core busy
_TARGET_ROWS_PER_FILE = 4_000_000
_MIN_ROWS_PER_FILE = 1 << 16


def _range_partitions(
    n_rows: int,
    parallelism: int,
    rows_per_file: int = _TARGET_ROWS_PER_FILE,
) -> int:
    """Partition (and so file) count for ``n_rows`` rows — derived from
    the DATA, not the cluster: a bare ``defaultParallelism`` writes
    single-row files at toy scale and multi-GB partitions at 100 TB on a
    modest cluster.  Files of ``rows_per_file`` rows by default; when the
    data is moderate, up to ``parallelism`` files so every core still
    writes, but never below ``_MIN_ROWS_PER_FILE`` rows per file."""
    n_rows = max(int(n_rows), 1)
    by_size = -(-n_rows // max(rows_per_file, 1))
    # floor division: ceil here would allow files BELOW the 64Ki floor
    # (65537 rows would become 2 x ~32Ki files)
    by_cores = min(max(parallelism, 1), max(1, n_rows // _MIN_ROWS_PER_FILE))
    return max(1, by_size, by_cores)


def _sorted_files(path: str) -> list[str]:
    if os.path.isdir(path):
        files = _glob.glob(os.path.join(path, "*.parquet"))
    elif any(ch in path for ch in "*?["):
        files = _glob.glob(path)
    else:
        files = [path]
    if not files:
        raise FileNotFoundError(f"no parquet files under {path!r}")
    return sorted(files)


def sorted_parquet_files(path: str) -> list[str]:
    """Public listing used by the CLI verbs: the ``.parquet`` files
    under ``path`` (a directory, a glob, or one file) in lexicographic
    order — the concat order contract of the ordered multi-file scan.
    Raises ``FileNotFoundError`` when nothing matches."""
    return _sorted_files(path)


def file_row_counts(files: list[str]) -> list[int]:
    """Row counts from parquet footers (driver-side metadata-only read)."""
    import pyarrow.parquet as pq

    return [pq.ParquetFile(f).metadata.num_rows for f in files]


def _sidecar_schema(path: str):
    """Schema from a ``_metadata`` sidecar if the input is a directory
    that has one — the reference prefers the sidecar as the
    authoritative directory schema (``src/parquet2hdf5.cpp:205-218``,
    ``src/circuit/parquet_reader.cpp:93-97``) and warns when it is
    absent.  Returns None when there is no sidecar."""
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return None
    sidecar = os.path.join(path, "_metadata")
    if not os.path.isfile(sidecar):
        _log.warning(
            "no _metadata sidecar under %s; falling back to per-file "
            "footers for the schema (reference parquet2hdf5.cpp:205-218 "
            "prefers the sidecar)",
            path,
        )
        return None
    return pq.ParquetFile(sidecar).schema_arrow


def check_schema_agreement(schemas: dict, expected=None) -> None:
    """Hard-error when the files of an ordered scan disagree on schema,
    naming the first mismatching file — reference parity with
    ``src/parquet2hdf5.cpp:67-73`` (mismatched schemas are a hard error
    there too).  ``schemas`` maps each file, in scan order, to its
    footer's Arrow schema; ``expected`` (e.g. the ``_metadata`` sidecar
    schema) overrides the first file as the reference schema."""
    ref_schema, ref_file = expected, "_metadata sidecar"
    for f, s in schemas.items():
        if ref_schema is None:
            ref_schema, ref_file = s, f
        elif not s.equals(ref_schema):
            raise ValueError(
                f"parquet schema mismatch in ordered scan: {f!r} does not "
                f"match {ref_file!r}\n  expected: {ref_schema}\n"
                f"  got:      {s}\n(the reference hard-errors on "
                "cross-file schema disagreement, parquet2hdf5.cpp:67-73; "
                "pass mergeSchema=True to merge instead)"
            )


def _spark_schema(arrow_schema):
    """The Spark schema of one footer: the row metadata Spark's writer
    stores (it keeps field metadata such as ``enumeration_values``), else
    the conversion of the Arrow schema, unsigned integers widened the way
    Spark's parquet reader widens them.  Every field is nullable, as in
    a Spark file scan."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import StructField

    md = (arrow_schema.metadata or {}).get(_SPARK_ROW_METADATA.encode())
    if md is not None:
        schema = StructType.fromJson(json.loads(md))
    else:
        widen = {pa.uint8(): pa.int16(), pa.uint16(): pa.int32(),
                 pa.uint32(): pa.int64()}
        schema = from_arrow_schema(pa.schema(
            [f.with_type(widen.get(f.type, f.type)) for f in arrow_schema]
        ))
    return StructType(
        [StructField(f.name, f.dataType, True, f.metadata) for f in schema]
    )


def _merge_schemas(schemas):
    """Union of Spark schemas by field name, in first-seen order; a name
    with two different types is an error."""
    fields: dict = {}
    for schema in schemas:
        for f in schema:
            seen = fields.setdefault(f.name, f)
            if seen.dataType != f.dataType:
                raise ValueError(
                    f"mergeSchema: column {f.name!r} is {seen.dataType} in "
                    f"one file and {f.dataType} in another"
                )
    return StructType(list(fields.values()))


def _plan_slices(row_groups: list[tuple[str, list[int]]], k: int):
    """At most ``k`` slices over ``row_groups`` (each file with its row
    groups' row counts, in scan order): ``[(first_row, [(file, [row
    group, ...]), ...]), ...]``.  A row group starting at global row
    ``s`` of ``n`` joins slice ``s * k // n``, so each slice is a run of
    consecutive row groups that starts at the first row group boundary at
    or past its even share.  Always at least one (possibly empty)
    slice."""
    n = sum(c for _, counts in row_groups for c in counts)
    slices: list = []
    pos = 0
    for f, counts in row_groups:
        for rg, c in enumerate(counts):
            sid = min(k - 1, pos * k // n) if n else 0
            if not slices or slices[-1][0] != sid:
                slices.append((sid, pos, []))
            parts = slices[-1][2]
            if parts and parts[-1][0] == f:
                parts[-1][1].append(rg)
            else:
                parts.append((f, [rg]))
            pos += c
    return [(first, parts) for _, first, parts in slices] or [(0, [])]


class OrderedScan(NamedTuple):
    """The footer plan of an ordered scan: ``schema`` is the Spark
    schema of its rows (``row_index`` last), ``n_slices`` the slice
    count, and ``read_slice`` maps an iterator of Arrow batches of slice
    ids (a ``spark.range`` partition) to the Arrow batches of those
    slices."""

    sparkSession: SparkSession
    schema: StructType
    n_slices: int
    read_slice: Callable[[Iterator], Iterator]

    def mapInArrow(self, fn, schema) -> DataFrame:
        """``fn`` over each slice's Arrow batches, slice *i* read and
        mapped in partition *i* of one ``spark.range(n_slices)`` frame:
        the shape of ``DataFrame.mapInArrow`` on
        :func:`read_parquet_ordered`'s frame, without the JVM between the
        read and ``fn``."""
        read_slice = self.read_slice

        def read_and_map(ids):
            return fn(read_slice(ids))

        return self.sparkSession.range(
            self.n_slices, numPartitions=self.n_slices
        ).mapInArrow(read_and_map, schema)


def plan_parquet_ordered(
    spark,
    path: str,
    row_index_col: str = "row_index",
    mergeSchema: bool = False,
    rows_per_file: int | None = None,
) -> OrderedScan:
    """The driver half of :func:`read_parquet_ordered`: read every
    footer once, check (or merge) the schemas and plan the slices.  Runs
    no Spark job.  A consumer maps the slices with
    :meth:`OrderedScan.mapInArrow`, so slice *i* is read in the task
    that also does whatever the consumer does with it."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import LongType, StructField

    files = _sorted_files(path)
    footers = {f: pq.read_metadata(f) for f in files}
    arrow = {f: md.schema.to_arrow_schema() for f, md in footers.items()}
    if mergeSchema:
        schema = _merge_schemas(_spark_schema(s) for s in arrow.values())
    else:
        check_schema_agreement(arrow, expected=_sidecar_schema(path))
        schema = _spark_schema(arrow[files[0]])
    # an input column of that name is replaced, as withColumn would
    schema = StructType(
        [f for f in schema if f.name != row_index_col]
        + [StructField(row_index_col, LongType(), True)]
    )
    row_groups = [
        (f, [md.row_group(i).num_rows for i in range(md.num_row_groups)])
        for f, md in footers.items()
    ]
    n = sum(md.num_rows for md in footers.values())
    k = _range_partitions(
        n, spark.sparkContext.defaultParallelism,
        rows_per_file or _TARGET_ROWS_PER_FILE,
    )
    slices = _plan_slices(row_groups, k)
    target = to_arrow_schema(schema)
    fields = list(target)[:-1]

    def read_slice(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        for b in batches:
            for i in b.column(0).to_pylist():
                pos, parts = slices[i]
                for f, rgs in parts:
                    for batch in pq.ParquetFile(f).iter_batches(
                        batch_size=1 << 16, row_groups=rgs
                    ):
                        names = set(batch.schema.names)
                        cols = [
                            batch.column(t.name).cast(t.type)
                            if t.name in names
                            else pa.nulls(batch.num_rows, t.type)
                            for t in fields
                        ]
                        cols.append(pa.array(
                            np.arange(pos, pos + batch.num_rows, dtype="int64")
                        ))
                        pos += batch.num_rows
                        yield pa.RecordBatch.from_arrays(cols, schema=target)

    return OrderedScan(spark, schema, len(slices), read_slice)


def read_parquet_ordered(
    spark,
    path: str,
    row_index_col: str = "row_index",
    mergeSchema: bool = False,
    rows_per_file: int | None = None,
) -> DataFrame:
    """Read a parquet file/dir with a deterministic global ``row_index``
    column (sorted-file-name x in-file order, matching the reference's
    global order), as contiguous slices: partition *i* holds slice *i*,
    sorted on ``row_index``, and the slices follow each other.  This is
    :func:`plan_parquet_ordered`'s plan as a frame of its own;
    ``parquet_to_sonata`` instead hands the plan to the bundle writer,
    whose table pass reads each slice in the task that writes it.

    ``rows_per_file`` bounds the slice size as in
    :func:`_range_partitions` (the default plans as many slices as that
    function gives for the table and ``defaultParallelism``); slices cut
    only between row groups.

    Schema-merge is off by default: like the reference, all files must
    agree on the schema (``parquet2hdf5.cpp:67-73`` — mismatched schemas
    are a hard error there too), checked driver-side against the
    ``_metadata`` sidecar when the directory has one, else against the
    first file's footer.  ``mergeSchema=True`` opts out of the strict
    check and unions the footer schemas, with nulls for the columns a
    file lacks.
    """
    scan = plan_parquet_ordered(
        spark, path, row_index_col, mergeSchema, rows_per_file
    )
    return scan.mapInArrow(lambda batches: batches, scan.schema)


def order_rows(
    df: DataFrame,
    rows_per_file: int = _TARGET_ROWS_PER_FILE,
    row_col: str = "row_index",
) -> DataFrame:
    """Reorder a frame for the SONATA bundle writer: ``row_col`` range
    partitions (sized by :func:`_range_partitions` from the row count,
    one counting job), each sorted on ``row_col``.  Frames that come
    straight off :func:`read_parquet_ordered` already have this shape."""
    n = df.count()
    return df.repartitionByRange(
        _range_partitions(
            n, df.sparkSession.sparkContext.defaultParallelism, rows_per_file
        ),
        row_col,
    ).sortWithinPartitions(row_col)


def with_global_row_index(df: DataFrame, row_index_col: str = "row_index",
                          order_cols: list[str] | None = None) -> DataFrame:
    """Global contiguous row index for an arbitrary DataFrame.

    Two modes, both the two-pass partition-offset pattern (count per
    partition on a narrow pass, driver prefix-sum, then a narrow
    mapPartitions add) — the Spark equivalent of the reference's
    Gather/prefix-sum/Scatter offset dance (``parquet2hdf5.cpp:97-110``):

    - ``order_cols`` given: delegates to the ``_global_rank`` pattern —
      ``repartitionByRange`` + per-partition ``row_number`` + a
      broadcast prefix-sum offset map.  Never a single global
      ``Window.orderBy`` — that would serialize the corpus through one
      task.  Ties on ``order_cols`` get arbitrary (but stable within a
      run) relative indices, exactly as a window form would.
    - no ``order_cols``: preserves the current partition order with
      ZERO shuffle and zero Python in the row path:
      ``monotonically_increasing_id`` encodes (partition id << 33) |
      row-in-partition (documented Spark layout), so the per-partition
      row position and partition id are bit-field extractions; only the
      O(partitions) count aggregate is collected.  The input is
      persisted so the count pass and the output plan see the same
      partitioning.

    Everything stays JVM-side — the previous implementation round-
    tripped every row through ``df.rdd`` -> Python -> ``createDataFrame``.
    """
    if order_cols:
        from parquet_converters_spark.operators.indexing import _global_rank

        return _global_rank(df, list(order_cols), row_index_col)

    with_mid = df.withColumn(
        "_mid", F.monotonically_increasing_id()
    ).persist()
    pid = F.shiftright("_mid", 33)
    counts = {
        r["_pid"]: r["count"]
        for r in with_mid.groupBy(pid.alias("_pid")).count().collect()
    }
    offsets, base = {}, 0
    for i in sorted(counts):
        offsets[i] = base
        base += counts[i]
    offset_expr = F.create_map(
        *[F.lit(x) for i, off in sorted(offsets.items()) for x in (i, off)]
    )
    row_in_part = F.col("_mid").bitwiseAND((1 << 33) - 1)
    return with_mid.withColumn(
        row_index_col,
        (offset_expr[pid] + row_in_part).cast("long"),
    ).drop("_mid")
