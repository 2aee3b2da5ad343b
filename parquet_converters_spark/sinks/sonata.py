"""SONATA sink (reference operators W2 + W3 + P5).

The reference writes a single SONATA HDF5 edge file via parallel MPI-IO
hyperslab writes at precomputed global offsets
(``src/circuit/sonata_writer.cpp``, ``src/circuit/sonata_file.cpp``).
There is no Spark-native parallel-HDF5 sink, so the engine's native
representation is a **SONATA bundle**:
the same logical tree laid out as parquet datasets + a JSON attribute
file.  Every piece of information the HDF5 file carries is present:

```
<out>/edges/<population>/
    table.parquet/            # row_index + all edge columns, global order
    attributes.json           # group/dataset attributes, placement, counts
    library/<column>.parquet  # @library string enumerations (index, value)
    indices/{source_to_target,target_to_source}/
        node_id_to_ranges.parquet
        range_to_edge_id.parquet
```

Semantics mirrored from the reference:

- ``synapse_id`` and pandas' ``__index_level_0__`` are dropped
  (``sonata_writer.cpp:29,75-77`` — P5);
- ``source_node_id``/``target_node_id``/``edge_type_id`` are top-level
  SONATA datasets, everything else lives under ``0/``
  (``sonata_file.cpp:49-64``);
- KV metadata passthrough filters ``ARROW:schema`` and ``org.apache.*``,
  maps ``source/target_population_name`` to ``node_population`` dataset
  attributes, uses ``source/target_population_size`` as index node
  counts, expands Spark field metadata ``enumeration_values`` into
  ``@library`` tables, and stamps ``parquet2hdf5_version``
  (``sonata_writer.cpp:89-121`` — W3);
- the adjacency index is numbered by
  :func:`parquet_converters_spark.operators.indexing.build_sonata_indices`.

:class:`SonataBundleWriter` takes its input as the ordered scan delivers
it — each partition sorted on ``row_index``, no two partitions' ranges
overlapping (frames that are not go through
:func:`~parquet_converters_spark.sources.ordering.order_rows`) — and runs
no exchange of the edge table; given the ordered scan's plan instead of
a frame, each table-pass task reads its own slice.  Like the reference's
ranks (``index.cpp:114-137``), each task of one table pass writes its
partition's table file with ``pq.ParquetWriter``, run-length encodes
both index keys and writes its interior runs to a runs file in the
staging directory; the pass's collect of boundary runs, partition
summaries and run histograms is its only job.  The driver plans the
node-id slices and their range offsets from them, and one job
(``spark.range(k).mapInArrow``, a task per slice reading its rows of
every runs file) writes all four index tables: no exchange, nothing
persisted, and the same files at every run.  Files are snappy,
dictionary-encoded only where parquet-mr would keep the dictionary.  Everything is staged
in a sibling ``.<population>.staging-<uuid>`` directory and renamed
into place after ``attributes.json``.

``export_hdf5_parallel`` converts a bundle to a real SONATA HDF5 file:
the driver writes the metadata skeleton, then one Spark job
(``spark.range(k).mapInArrow``, like every other pass, in one wave of
at most ``defaultParallelism`` tasks) seek+writes each bundle file's
sorted key run at the dataset's precomputed offset — the analogue of the reference's
per-rank MPI-IO independent hyperslab writes
(``src/circuit/sonata_file.cpp:98-143``).  Both go to a sibling
temporary file that replaces the target only when complete.
With ``compression="gzip"`` it also writes the chunked+shuffle+deflate
layout (which the reference cannot write in parallel at all): a
compress pass resolves the data-dependent chunk sizes, the driver lays
out the B-trees from sizes alone, and the fill job pwrites each blob at
its published address.  Both modes are byte-identical to the
driver-side single writer of ``tests/hdf5_oracle.py``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from parquet_converters_spark import __version__
from parquet_converters_spark.operators.indexing import (
    _SUMMARY_EDGE,
    INDEX_COLUMNS,
    SONATA_KEYS,
    _edge_schema,
    _index_batches,
    _partition_runs,
    _slice_runs,
    _sorted_runs,
    build_sonata_indices,
    index_schema,
    runs_schema,
)
from parquet_converters_spark.sinks.parquet_sink import kv_arrow_schema, publish
from parquet_converters_spark.sources.ordering import (
    _TARGET_ROWS_PER_FILE,
    OrderedScan,
    _range_partitions,
)

COLUMNS_TO_SKIP = {"synapse_id", "__index_level_0__"}
TOP_LEVEL_DATASETS = ("source_node_id", "target_node_id", "edge_type_id")


def _encode_str_values(values, column: str) -> list:
    """UTF-8 encode one string column for a fixed-width ``S`` dataset.

    HDF5 fixed-width strings have no NULL representation, and a silent
    ``str(None)`` would write (a truncation of) ``b'None'`` — and the
    octet-length width aggregate ignores NULLs, so the garbage could
    even be cut to ``b'N'``.  Raise instead; callers that want a
    convention must fill NULLs upstream."""
    out = []
    for v in values:
        if v is None or (isinstance(v, float) and v != v):
            raise ValueError(
                f"column {column!r}: NULL string value cannot be "
                "represented in a fixed-width HDF5 string dataset — "
                "fill or drop NULLs before export"
            )
        if not isinstance(v, (str, bytes)):
            # match MiniH5Writer's object-dtype check exactly: a silent
            # str() of e.g. an int in an object column would let the
            # parallel export accept input the single writer rejects,
            # breaking the documented byte-identical guarantee
            raise TypeError(
                f"column {column!r}: non-string value of type "
                f"{type(v).__name__} cannot be written to a fixed-width "
                "HDF5 string dataset — cast to string upstream"
            )
        out.append(v if isinstance(v, bytes) else v.encode())
    return out

_ROW_GROUP_ROWS = 1 << 20
_ORDER_ERROR = "bundle table partitions are not ordered on"


def _dictionary_columns(table) -> list[str]:
    """The columns parquet-mr's writer would keep dictionary-encoded: a
    column whose dictionary plus bit-packed indices is smaller than its
    plain values, ``distinct*width + rows*ceil(log2 distinct)/8 <
    rows*width`` (width = mean bytes per value).  pyarrow's default, a
    dictionary on every column, grows distinct-valued float columns."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out = []
    for name, col in zip(table.column_names, table.columns):
        rows = len(col) - col.null_count
        if not rows or pa.types.is_boolean(col.type):
            continue
        if pa.types.is_integer(col.type) or pa.types.is_floating(col.type):
            width = col.type.bit_width / 8
            distinct = _distinct_bits(col)
        else:
            width = col.nbytes / rows
            distinct = pc.count_distinct(col).as_py()
        bits = (distinct - 1).bit_length()
        if distinct * width + rows * bits / 8 < rows * width:
            out.append(name)
    return out


def _distinct_bits(col) -> int:
    """The number of distinct bit patterns among the non-null values of
    the numeric (chunked) array ``col``: what ``pc.count_distinct``
    counts (``0.0`` and ``-0.0`` are two values, and so are NaNs with
    different payloads), from one ``np.unique`` over the values viewed
    as unsigned integers of their width."""
    import numpy as np
    import pyarrow.compute as pc

    values = pc.drop_null(col).to_numpy()
    return len(np.unique(values.view(f"u{values.dtype.itemsize}")))


def _part_name(job: str, pid: int) -> str:
    return f"part-{pid:05d}-{job}-c000.snappy.parquet"


class _PartWriter:
    """One bundle part file ``dir/name``, written with ``pq.ParquetWriter``
    (snappy, dictionary per :func:`_dictionary_columns` of the first
    table written) under a temporary name and renamed into place on
    close."""

    def __init__(self, dir: str, name: str, schema):
        import uuid

        self.path = os.path.join(dir, name)
        self.tmp = os.path.join(dir, f".{name}.{uuid.uuid4().hex}.tmp")
        self.schema, self.writer = schema, None

    def write(self, table) -> None:
        import pyarrow.parquet as pq

        if self.writer is None:
            self.writer = pq.ParquetWriter(
                self.tmp, self.schema, compression="snappy",
                use_dictionary=_dictionary_columns(table), store_schema=False,
            )
        self.writer.write_table(table, row_group_size=_ROW_GROUP_ROWS)

    def close(self) -> str:
        self.writer.close()
        os.replace(self.tmp, self.path)
        return os.path.basename(self.path)


def _table_schema(schema: StructType) -> StructType:
    """The bundle table's Spark schema from its input's: the
    ``COLUMNS_TO_SKIP`` dropped, and ``edge_type_id`` appended as a
    non-null int (as Spark types a literal 0) when the input has none."""
    fields = [f for f in schema if f.name not in COLUMNS_TO_SKIP]
    if "edge_type_id" not in schema.names:
        fields.append(StructField("edge_type_id", IntegerType(), False))
    return StructType(fields)


def _arrow_schema(spark, schema: StructType):
    """``schema``'s Arrow schema with the two footer keys Spark's writer
    stores, so a Spark read gets the exact schema back; the row metadata
    is the JVM's JSON of ``schema``, as a frame of that schema gives it."""
    return kv_arrow_schema(
        schema, spark.version, {},
        spark._jsparkSession.parseDataType(schema.json()).json(),
    )


def _runs_file(runs_dir: str, pid: int) -> str:
    return os.path.join(runs_dir, f"part-{pid:05d}.arrow")


def _write_runs(path: str, interior) -> None:
    """Write the interior runs ``interior`` to the runs file ``path``:
    one Arrow IPC record batch sorted on ``(_dir, node_id,
    range_start)``, under a temporary name renamed into place when
    complete."""
    import uuid

    import pyarrow as pa

    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    with pa.ipc.new_file(tmp, runs_schema()) as w:
        w.write_table(_sorted_runs([interior]))
    os.replace(tmp, path)


def _table_pass(source, schema, path: str, keys: list[str], row_col: str,
                job: str, runs_dir: str) -> DataFrame:
    """The bundle's one pass over its input ``source`` (a frame, or an
    :class:`~parquet_converters_spark.sources.ordering.OrderedScan` whose
    slices each task reads itself): each task projects its batches onto
    the table's Arrow ``schema`` (skipped columns dropped,
    ``edge_type_id`` 0 when absent), writes them to ``path`` as one part
    file of exact ``_ROW_GROUP_ROWS`` row groups (the rest in the last)
    and run-length encodes ``keys`` with
    :func:`~parquet_converters_spark.operators.indexing._partition_runs`.
    It writes the interior runs, sorted on ``(_dir, node_id,
    range_start)``, to its runs file in ``runs_dir`` (one Arrow IPC
    record batch, renamed into place when complete) and yields only the
    edge rows: the boundary runs and, per key (or once without keys), a
    summary row with the partition's row span, row count, key maximum
    and run histogram.  A partition that is not strictly increasing on
    ``row_col`` raises."""
    import numpy as np
    import pyarrow as pa

    key_cols = [row_col, *keys]

    def project(batch):
        have = set(batch.schema.names)
        return pa.RecordBatch.from_arrays(
            [
                batch.column(f.name) if f.name in have
                else pa.array(np.zeros(batch.num_rows, "int32"))
                for f in schema
            ],
            schema=schema,
        )

    def write(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        part = _PartWriter(path, _part_name(job, pid), schema)
        pending, rows, kept = [], 0, []

        def flush(n):
            # one row group of the first n rows, whatever the batch
            # sizes: a contiguous table pages the same for any batching
            nonlocal pending, rows
            table = pa.Table.from_batches(pending, schema).combine_chunks()
            part.write(table.slice(0, n))
            pending, rows = table.slice(n).to_batches(), rows - n

        for batch in batches:
            if not batch.num_rows:
                continue
            batch = project(batch)
            pending.append(batch)
            rows += batch.num_rows
            kept.append(pa.RecordBatch.from_arrays(
                [batch.column(c).cast(pa.int64()) for c in key_cols],
                names=key_cols,
            ))
            while rows >= _ROW_GROUP_ROWS:
                flush(_ROW_GROUP_ROWS)
        if rows or (part.writer is None and pid == 0):
            # Spark's rule: partition 0 always writes a file, for the schema
            flush(rows)
        if part.writer is None:
            return
        part.close()
        if not kept:
            return
        t = pa.Table.from_batches(kept).combine_chunks()
        pos = t.column(0)
        if pos.null_count or not np.all(np.diff(pos.to_numpy()) > 0):
            raise ValueError(f"{_ORDER_ERROR} {row_col}")
        interior, edges = _partition_runs(t, len(keys), pid)
        if keys:
            _write_runs(_runs_file(runs_dir, pid), interior)
        yield edges

    return source.mapInArrow(write, _edge_schema(LongType()))


def _run_table_pass(runs: DataFrame, n_keys: int, row_col: str):
    """Run the table pass: its collect of the edge rows is its only job.
    Checks the writer's input contract (a task raises on an unsorted
    partition; here, no two partitions' ``row_col`` ranges may overlap)
    and returns ``(edge rows, row count per partition, max + 1 per
    key)``."""
    from pyspark.errors import PythonException

    try:
        rows = runs.collect()
    except PythonException as e:
        if _ORDER_ERROR not in str(e):
            raise
        raise _order_error(row_col) from None
    summary = [r for r in rows if r["_edge"] == _SUMMARY_EDGE]
    # one summary row per partition and key; without keys, _dir is -1
    parts = [r for r in summary if r["_dir"] <= 0]
    spans = sorted((r["range_start"], r["range_end"]) for r in parts)
    for (_, end), (start, _) in zip(spans, spans[1:]):
        if start < end:
            raise _order_error(row_col)
    tops = [
        max((r["node_id"] for r in summary if r["_dir"] == d), default=-1) + 1
        for d in range(n_keys)
    ]
    return rows, [r["_n"] for r in parts], tops


def _order_error(row_col: str) -> ValueError:
    return ValueError(
        "SonataBundleWriter.write needs each partition sorted on "
        f"{row_col!r} and no two partitions' {row_col} ranges "
        "overlapping (the shape read_parquet_ordered returns); reorder "
        "the frame with sources.ordering.order_rows(df, rows_per_file) "
        "first"
    )


def _index_rows_per_file(sizes: list[int], parallelism: int) -> int:
    """The ``rows_per_file`` bound to size the index tables with, read
    off the table's partition sizes: the default when the table has no
    more partitions than the default plan gives, else (the caller asked
    for smaller files) its largest partition."""
    if len(sizes) <= _range_partitions(sum(sizes), parallelism):
        return _TARGET_ROWS_PER_FILE
    return max(sizes)


def _write_index_tables(spark, plan, files: list[str], pop_dir: str,
                        job: str) -> None:
    """All four index tables in one job, ``spark.range(k).mapInArrow``
    with task *s* for slice *s* of ``plan``: it reads the slice's ranges
    from the runs ``files`` and its boundary runs
    (:func:`~parquet_converters_spark.operators.indexing._slice_runs`),
    builds its tables with :func:`_index_batches` and writes one part
    file per table it holds rows of.  A table no slice wrote (a direction
    without edges has no range table) gets one empty file from the
    driver."""
    import pyarrow as pa

    dirs = list(SONATA_KEYS)

    def path(d, table):
        return os.path.join(pop_dir, "indices", dirs[d], f"{table}.parquet")

    for d in range(len(dirs)):
        for table in INDEX_COLUMNS:
            os.makedirs(path(d, table))

    def write(ids):
        for b in ids:
            for s in b.column(0).to_pylist():
                parts = {}
                for d, table, batch in _index_batches(
                    _slice_runs(files, plan, s), plan.parts[s],
                    plan.node_counts,
                ):
                    if (d, table) not in parts:
                        parts[(d, table)] = _PartWriter(
                            path(d, table), _part_name(job, s),
                            index_schema(table),
                        )
                    parts[(d, table)].write(pa.Table.from_batches([batch]))
                yield pa.RecordBatch.from_pydict(
                    {"file": [p.close() for p in parts.values()]},
                    schema=pa.schema([("file", pa.string())]),
                )

    k = len(plan.parts)
    spark.range(k, numPartitions=k).mapInArrow(
        write, StructType([StructField("file", StringType())])
    ).collect()
    for d in range(len(dirs)):
        for table in INDEX_COLUMNS:
            if not os.listdir(path(d, table)):
                w = _PartWriter(path(d, table), _part_name(job, 0),
                                index_schema(table))
                w.write(index_schema(table).empty_table())
                w.close()


def collect_kv_metadata(path: str) -> dict[str, str]:
    """Parquet footer KV metadata of the (sorted-first) input file —
    driver-side, the reference reads it from the ``_metadata`` sidecar or
    first file the same way (``parquet2hdf5.cpp:205-218``)."""
    import glob as _glob

    import pyarrow.parquet as pq

    files = sorted(_glob.glob(os.path.join(path, "*.parquet"))) if os.path.isdir(path) else [path]
    if not files:
        return {}
    md = pq.ParquetFile(files[0]).schema_arrow.metadata or {}
    out = {}
    for k, v in md.items():
        try:
            out[k.decode()] = v.decode()
        except UnicodeDecodeError:
            continue
    return out


def _enumerations_from_metadata(kv: dict[str, str], schema: StructType) -> dict[str, list[str]]:
    """``enumeration_values`` from Spark row metadata (KV JSON) and from
    the field metadata of the input's Spark ``schema``."""
    enums: dict[str, list[str]] = {}
    spark_md = kv.get("org.apache.spark.sql.parquet.row.metadata")
    if spark_md:
        try:
            for field in json.loads(spark_md).get("fields", []):
                md = field.get("metadata") or {}
                if "enumeration_values" in md:
                    enums[field["name"]] = list(md["enumeration_values"])
        except (ValueError, KeyError, TypeError):
            pass
    for field in schema.fields:
        md = field.metadata or {}
        if "enumeration_values" in md:
            enums[field.name] = list(md["enumeration_values"])
    return enums


class SonataBundleWriter:
    def __init__(self, out_dir: str, population: str = "default"):
        self.out_dir = out_dir
        self.population = population
        self.pop_dir = os.path.join(out_dir, "edges", population)

    def write(
        self,
        df: DataFrame | OrderedScan,
        kv_metadata: dict[str, str] | None = None,
        with_index: bool = True,
        row_col: str = "row_index",
    ) -> None:
        """Write ``df`` as the population's bundle.

        ``df`` must have each partition sorted on ``row_col`` and no two
        partitions' ``row_col`` ranges overlapping, as
        :func:`~parquet_converters_spark.sources.ordering.read_parquet_ordered`
        returns it; otherwise this raises a ``ValueError`` naming
        :func:`~parquet_converters_spark.sources.ordering.order_rows`.
        Each partition becomes one table file.  ``df`` may also be the
        plan of that scan
        (:func:`~parquet_converters_spark.sources.ordering.plan_parquet_ordered`,
        as ``parquet_to_sonata`` passes it): then each task of the table
        pass reads its slice itself, and the rows never pass through
        the JVM.  Both go through the same table-pass kernel and write
        the same bytes.

        One table pass projects the rows (``synapse_id`` dropped,
        ``edge_type_id`` 0 when absent), writes the table, run-length
        encodes both index keys and writes each task's interior runs to
        a runs file under the staging directory; its collect of the
        boundary runs, partition summaries and run histograms is its
        only job.  From them the driver plans the node-id slices and
        their range offsets
        (:func:`~parquet_converters_spark.operators.indexing.build_sonata_indices`),
        and one job, a task per slice, writes all four index tables.
        So the call runs 2 jobs at every size, the runs never pass
        through the JVM, nothing is persisted, and the bundle's bytes
        depend only on the input and the slice count.
        Everything goes to a sibling staging directory that is renamed
        over the population directory after ``attributes.json``, once
        the runs files are deleted; a failure removes it."""
        import shutil
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        spark = df.sparkSession
        kv = dict(kv_metadata or {})
        table = _table_schema(df.schema)

        attrs: dict[str, object] = {}
        dataset_attrs: dict[str, dict[str, str]] = {}
        source_size = target_size = None
        for k, v in kv.items():
            if k == "ARROW:schema":
                continue
            elif k == "source_population_name":
                dataset_attrs.setdefault("source_node_id", {})["node_population"] = v
            elif k == "target_population_name":
                dataset_attrs.setdefault("target_node_id", {})["node_population"] = v
            elif k == "source_population_size":
                source_size = int(v)
            elif k == "target_population_size":
                target_size = int(v)
            elif k.startswith("org.apache"):
                continue
            elif k == "parquet2hdf5_version":
                continue  # restamped below, like the reference
            else:
                attrs[k] = v
        attrs["parquet2hdf5_version"] = __version__

        enums = _enumerations_from_metadata(kv, df.schema)

        par = max(1, spark.sparkContext.defaultParallelism)
        keys = list(SONATA_KEYS.values()) if with_index else []
        job = uuid.uuid4().hex
        edges_dir = os.path.dirname(self.pop_dir)
        staging = os.path.join(
            edges_dir, f".{self.population}.staging-{job}"
        )
        runs_dir = os.path.join(staging, "_runs")
        os.makedirs(os.path.join(staging, "table.parquet"))
        os.makedirs(runs_dir)
        try:
            rows, sizes, tops = _run_table_pass(
                _table_pass(
                    df, _arrow_schema(spark, table),
                    os.path.join(staging, "table.parquet"), keys, row_col,
                    job, runs_dir,
                ),
                len(keys), row_col,
            )
            if with_index:
                bound = _index_rows_per_file(sizes, par)
                plan = build_sonata_indices(
                    rows,
                    dict(zip(SONATA_KEYS, [source_size or tops[0],
                                           target_size or tops[1]])),
                    lambda n: _range_partitions(n, par, bound),
                )
                files = [
                    _runs_file(runs_dir, pid)
                    for pid in sorted({r["_pid"] for r in rows
                                       if r["_edge"] == _SUMMARY_EDGE})
                ]
                _write_index_tables(spark, plan, files, staging, job)
            shutil.rmtree(runs_dir)

            for name, values in enums.items():
                lib = os.path.join(staging, "library", f"{name}.parquet")
                os.makedirs(lib)
                pq.write_table(
                    pa.table({
                        "index": pa.array(range(len(values)), pa.int64()),
                        "value": pa.array(values, pa.string()),
                    }),
                    os.path.join(lib, _part_name(job, 0)),
                )

            manifest = {
                "population": self.population,
                "n_records": sum(sizes),
                "attributes": attrs,
                "dataset_attributes": dataset_attrs,
                "top_level_datasets": [
                    c for c in TOP_LEVEL_DATASETS if c in table.names
                ],
                "property_datasets": [
                    c
                    for c in table.names
                    if c not in TOP_LEVEL_DATASETS and c != row_col
                ],
                "libraries": sorted(enums),
                "row_index_column": row_col,
            }
            with open(os.path.join(staging, "attributes.json"), "w") as f:
                json.dump(manifest, f, indent=2, sort_keys=True)
            publish(staging, self.pop_dir)
        finally:
            shutil.rmtree(staging, ignore_errors=True)


def write_sonata_bundle(
    df: DataFrame | OrderedScan,
    out_dir: str,
    population: str = "default",
    kv_metadata: dict[str, str] | None = None,
    with_index: bool = True,
    row_col: str = "row_index",
) -> None:
    SonataBundleWriter(out_dir, population).write(
        df, kv_metadata=kv_metadata, with_index=with_index, row_col=row_col
    )


_INDEX_COLS = {
    name: (cols[0], cols[1:]) for name, cols in INDEX_COLUMNS.items()
}


def _gather_small_datasets(
    pop_dir: str, base: str, manifest: dict
) -> tuple[dict, dict]:
    """The driver-side (metadata-scale) parts of a SONATA ``.h5``: the
    ``@library`` enumerations and all group/dataset attributes — in the
    reference these are likewise written by rank 0
    (``src/circuit/sonata_file.cpp:45-97``)."""
    import numpy as np
    import pyarrow.parquet as pq

    datasets: dict[str, "np.ndarray"] = {}
    attrs: dict[str, dict] = {base: dict(manifest["attributes"])}
    for name, a in manifest["dataset_attributes"].items():
        attrs[f"{base}/{name}"] = dict(a)
    for name in manifest["libraries"]:
        t = pq.read_table(
            os.path.join(pop_dir, "library", f"{name}.parquet")
        )
        values = t.sort_by("index").column("value").to_pylist()
        datasets[f"{base}/0/@library/{name}"] = np.asarray(values, dtype="S")
    return datasets, attrs


_CHUNK_ROWS_BASE = 1 << 16
_MAX_CHUNKS_PER_DATASET = 1 << 20


def _auto_chunk_rows(n_rows: int) -> int:
    """Default HDF5 chunk length scaled from the DATA (VERDICT r05
    item 2): a fixed 64Ki-row chunk is right up to tens of billions of
    rows (512 KiB chunks for an int64 column), but at 1e12 rows it
    would hand the compressed export's driver ~15M (dataset, chunk,
    size) entries per column.  Cap chunks-per-dataset at ~1M by growing
    the chunk length in powers of two past ``64Ki * 1M`` rows; the
    driver's layout lists and the fill pass's address broadcast then
    stay O(1M) regardless of table size.  Both the single writer and
    the parallel export in gzip mode derive the SAME value from the same
    row count, preserving their byte-identity under default arguments.
    """
    rows = _CHUNK_ROWS_BASE
    while rows * _MAX_CHUNKS_PER_DATASET < n_rows:
        rows <<= 1
    return rows


def _dataset_path(base: str, name: str, manifest: dict) -> str:
    if name in manifest["top_level_datasets"]:
        return f"{base}/{name}"
    return f"{base}/0/{name}"


def _run_tasks(spark, tasks: list, fn, schema: StructType) -> list:
    """``fn(task)`` for every task in one ``spark.range(n).mapInArrow``
    job: the Python worker pool every Arrow pass of the chain uses, so no
    RDD job starts a second one (on a 4-core VM a session's first 4-task
    RDD job, which starts it, took 1.3 s against 0.10 s warm).  At most
    ``defaultParallelism`` Spark tasks, each running a contiguous run of
    the tasks, so the job runs in one wave.  ``fn`` returns one row, a tuple of ``schema``'s columns;
    the rows come back in task order."""
    names = schema.names

    def run_tasks(batches):
        import pyarrow as pa

        for batch in batches:
            rows = [fn(tasks[i]) for i in batch.column(0).to_pylist()]
            if rows:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(c) for c in zip(*rows)], names=names
                )

    k = min(len(tasks), spark.sparkContext.defaultParallelism)
    return (
        spark.range(len(tasks), numPartitions=max(k, 1))
        .mapInArrow(run_tasks, schema)
        .collect()
    )


def _edge_column_dtypes(spark, table_path: str, schema, manifest) -> list:
    """(name, numpy dtype) for every edge column, in SONATA dataset
    order.  Strings have a data-dependent fixed width in HDF5: ONE Spark
    job (:func:`_run_tasks`, one task per table file) takes every string
    column's max UTF-8 byte length (matching the single-writer's
    astype("S") widths), so the columns can then go through the same
    distributed fill as the numeric ones.  It encodes exactly as the
    fill does, so a NULL or non-string value fails here, before the
    skeleton is written."""
    import numpy as np

    from parquet_converters_spark.sources.ordering import _sorted_files

    edge_cols = manifest["top_level_datasets"] + [
        p
        for p in manifest["property_datasets"]
        if p not in manifest["top_level_datasets"]
    ]
    big, str_cols = [], []
    for name in edge_cols:
        np_dtype = np.dtype(schema.field(name).type.to_pandas_dtype())
        if np_dtype.kind in "if":
            big.append((name, np_dtype))
        else:
            str_cols.append(name)
    if str_cols:

        def widths(path):
            import pyarrow.parquet as pq

            t = pq.read_table(path, columns=str_cols)
            return [
                max(map(len, _encode_str_values(t.column(c).to_pylist(), c)),
                    default=0)
                for c in str_cols
            ]

        files = _sorted_files(table_path)
        per_file = [
            r.widths
            for r in _run_tasks(
                spark, files, lambda p: (widths(p),),
                StructType([StructField("widths", ArrayType(LongType()))]),
            )
        ]
        big += [
            (c, np.dtype(f"S{max([w[i] for w in per_file] + [1])}"))
            for i, c in enumerate(str_cols)
        ]
    return big


def _fill_file(target: str, task) -> tuple[int, int]:
    """Write one bundle file's rows into their datasets of the ``.h5``
    at ``target``: ``task`` is (source index, parquet file, key column,
    [(value columns, dataset offset, dtype str)], dataset rows).
    Returns (source index, rows written)."""
    import numpy as np
    import pyarrow.parquet as pq

    source, path, key_col, specs, n_expected = task
    need = list(
        dict.fromkeys([key_col] + [c for cols, _, _ in specs for c in cols])
    )
    written = 0
    with open(target, "r+b") as fh:
        for batch in pq.ParquetFile(path).iter_batches(
            batch_size=1 << 16, columns=need
        ):
            idx = batch.column(key_col).to_numpy(zero_copy_only=False)
            idx = idx.astype(np.int64, copy=False)
            # a bundle file holds one sorted run, so this is a no-op
            # permutation; a foreign file in any order still fills
            # correctly, with one seek per run
            order = np.argsort(idx, kind="stable")
            idx = idx[order]
            # bounds gate BEFORE any seek: an out-of-range key in a
            # malformed bundle would otherwise write past the dataset
            # extent into a neighboring dataset — silent corruption the
            # rows-written total cannot catch
            if len(idx) and (idx[0] < 0 or idx[-1] >= n_expected):
                raise ValueError(
                    f"{path}: {key_col} out of range "
                    f"[{int(idx[0])}, {int(idx[-1])}] for a "
                    f"{n_expected}-row dataset"
                )
            # consecutive key runs -> one seek+write per run
            breaks = np.nonzero(np.diff(idx) != 1)[0] + 1
            starts = np.concatenate(([0], breaks)).astype(np.int64)
            ends = np.concatenate((breaks, [len(idx)])).astype(np.int64)
            for cols, offset, dt_str in specs:
                dt = np.dtype(dt_str)
                mats = [
                    (
                        # per-value UTF-8 encode, exactly like the
                        # single-writer path (np.asarray would ASCII-
                        # encode and raise on non-ASCII)
                        np.array(
                            _encode_str_values(batch.column(c).to_pylist(), c),
                            dtype=dt,
                        )
                        if dt.kind == "S"
                        else batch.column(c)
                        .to_numpy(zero_copy_only=False)
                        .astype(dt, copy=False)
                    )[order]
                    for c in cols
                ]
                mat = (
                    mats[0]
                    if len(mats) == 1
                    else np.ascontiguousarray(np.stack(mats, axis=1))
                )
                width = len(cols) * dt.itemsize
                for s, e in zip(starts, ends):
                    fh.seek(offset + int(idx[s]) * width)
                    fh.write(mat[s:e].tobytes())
            written += len(idx)
        fh.flush()
        os.fsync(fh.fileno())
    return source, written




def _fill_chunks(target: str, task, addrs: dict) -> tuple[int, int]:
    """Write one spill file's compressed chunks into the ``.h5`` at
    ``target``, each at the chunk address the skeleton published in
    ``addrs[dataset][chunk index]``: ``task`` is (source index, spill
    file).  Returns (source index, chunks written)."""
    import pyarrow.parquet as pq

    source, path = task
    written = 0
    with open(target, "r+b") as fh:
        for batch in pq.ParquetFile(path).iter_batches(
            batch_size=64, columns=["ds", "chunk_idx", "blob"]
        ):
            for ds, ci, blob in zip(
                *(batch.column(c).to_pylist() for c in batch.schema.names)
            ):
                fh.seek(addrs[ds][ci])
                fh.write(blob)
                written += 1
        fh.flush()
        os.fsync(fh.fileno())
    return source, written


def _compress_source(
    spark, path: str, key_col: str, specs, n_rows: int, c: int, out: str
) -> None:
    """Compress pass for one source table: one shuffle on ``key DIV c``
    groups its rows into ``c``-row chunks, and one output row per
    (dataset, chunk) goes to the parquet spill at ``out``."""
    import numpy as np

    specs_ser = [(ds, list(cols), dt.str) for cols, ds, dt in specs]

    def compress(pdf):
        import zlib

        import pandas as pd

        chunk_id = int(pdf["_chunk"].iloc[0])
        lo, hi = chunk_id * c, min(chunk_id * c + c, n_rows)
        idx = pdf[key_col].to_numpy(np.int64)
        if idx.min() < lo or idx.max() >= hi:
            raise ValueError(
                f"{path}: {key_col} outside chunk [{lo}, {hi}) or "
                "dataset extent"
            )
        # bounds + count alone can't catch a duplicate paired with an
        # interior hole (e.g. [0,1,1,3]): the dup position would be
        # written twice and the hole silently stay zero
        if not np.array_equal(np.sort(idx), np.arange(lo, hi)):
            raise ValueError(
                f"{path}: chunk {chunk_id} keys are not dense/unique "
                f"over [{lo}, {hi})"
            )
        pos = idx - lo
        rows = []
        for ds, cols, dt_str in specs_ser:
            dt = np.dtype(dt_str)
            full = np.zeros((c,) if len(cols) == 1 else (c, len(cols)), dt)
            for j, col in enumerate(cols):
                vals = (
                    np.array(_encode_str_values(pdf[col], col), dtype=dt)
                    if dt.kind == "S"
                    else pdf[col].to_numpy(dt)
                )
                full.reshape(c, -1)[pos, j] = vals
            # shuffle then deflate: the exact filter order and
            # parameters of hdf5_minimal's _Dataset.chunk_blobs
            blob = (
                np.frombuffer(full.tobytes(), np.uint8)
                .reshape(-1, dt.itemsize)
                .T.tobytes()
            )
            blob = zlib.compress(blob, 6)
            # the explicit size column is what keeps the driver's layout
            # read metadata-cheap: parquet cannot serve value lengths
            # without decoding the values
            rows.append((ds, chunk_id, len(blob), blob))
        return pd.DataFrame(rows, columns=["ds", "chunk_idx", "size", "blob"])

    need = sorted({key_col} | {col for cols, _, _ in specs for col in cols})
    (
        spark.read.parquet(path)
        .select(*need)
        .withColumn("_chunk", F.expr(f"CAST(`{key_col}` DIV {c} AS LONG)"))
        .groupBy("_chunk")
        .applyInPandas(
            compress, "ds string, chunk_idx long, size long, blob binary"
        )
        .write.mode("overwrite")
        .parquet(out)
    )


def export_hdf5_parallel(
    spark,
    bundle_dir: str,
    population: str,
    h5_path: str,
    compression: str | None = None,
    chunk_rows: int | None = None,
    spill_dir: str | None = None,
) -> int:
    """Parallel SONATA ``.h5`` export: the driver writes ONLY the file
    skeleton (superblock, group structures, dataset object headers,
    ``@library`` enumerations — the rank-0 metadata of the reference,
    ``src/circuit/sonata_file.cpp:45-97``), then ONE Spark job
    (:func:`_run_tasks`: ``spark.range(n).mapInArrow`` on the Python
    worker pool the chain's Arrow passes use, no RDD job, one wave of at
    most ``defaultParallelism`` tasks, each filling a run of bundle
    files) writes every distributed dataset: each file's fill
    reads it with pyarrow and seek+writes its rows at
    ``dataset_offset + key * row_width`` — the analogue of the
    reference's per-rank MPI-IO independent hyperslab writes
    (``src/circuit/sonata_file.cpp:98-101,123-143``), with the bundle's
    global keys (``row_index`` for the edge table, ``node_id`` /
    ``range_id`` for the adjacency indices) standing in for the rank
    offsets.

    No exchange and no sort: the bundle writer leaves every file of the
    table and of the four index tables holding one contiguous, sorted
    key run, so a task's write is one run per batch.  Each batch is
    still argsorted on its key, so a bundle whose files are in any
    order fills the same bytes, only with more seeks.

    Driver memory is O(libraries + attributes + files): the edge table
    and both adjacency indices (O(nodes), tens of GB at the 100 TB edge
    scale) only ever pass through the executors.

    The contiguous classic-format layout (``hdf5_minimal``) makes every
    row's file position computable up front, which is what makes
    lock-free parallel writes safe — each row lands in a disjoint byte
    range, exactly like an MPI-IO independent write.  Every key is
    bounds-checked before any seek, every task fsyncs, and the rows
    written per source must add up to its dataset length.

    ``compression="gzip"`` writes every dataset longer than
    ``chunk_rows`` chunked with shuffle+deflate — a layout the reference
    cannot write in parallel at all, since compression makes the
    per-rank offsets data-dependent.  Shorter datasets stay contiguous
    and go through the same fill.  The chunk sizes are resolved in two
    passes: a compress pass groups each long source's rows into
    ``chunk_rows``-row chunks (one shuffle on ``key DIV chunk_rows``;
    chunks straddle bundle files), zero-pads edge chunks, applies
    shuffle+deflate and spills ``(dataset, chunk_idx, size, blob)`` to
    parquet; the driver reads only the size column, lays out the
    B-trees from the sizes alone, and the fill job's tasks then pwrite
    each spilled blob at its published chunk address.  Each chunk's
    keys must be dense and unique.  ``chunk_rows`` defaults to
    :func:`_auto_chunk_rows`, which caps the driver's O(chunks) lists at
    ~1M entries per dataset.  ``spill_dir`` must be on storage all
    executors share (default: next to the output); the spill is a fresh
    subdirectory of it, removed on success and kept on failure for
    debugging.

    Requires all executors to share the target filesystem with the
    driver (local mode, or a cluster on GPFS/Lustre/NFS) — the same
    deployment requirement as the reference's MPI-IO writer.  String
    property columns (fixed width in HDF5) get their width from one
    more :func:`_run_tasks` job over the table files; a NULL or
    non-string value raises.

    The skeleton and the fill go to a sibling temporary file that
    ``os.replace`` moves onto ``h5_path`` once every row is written; a
    failure removes it and leaves ``h5_path`` as it was.

    Returns the number of edge rows written.  The result is
    byte-identical to the driver-side single writer of
    ``tests/hdf5_oracle.py`` with the same ``compression`` and
    ``chunk_rows`` (``tests/test_hdf5_export.py``).
    """
    import logging
    import shutil
    import uuid

    import numpy as np
    import pyarrow.parquet as pq

    from parquet_converters_spark.sinks.hdf5_minimal import MiniH5Writer
    from parquet_converters_spark.sources.ordering import (
        _sorted_files,
        file_row_counts,
    )

    if compression not in (None, "gzip"):
        raise ValueError(f"unsupported compression {compression!r}")
    pop_dir = os.path.join(bundle_dir, "edges", population)
    with open(os.path.join(pop_dir, "attributes.json")) as f:
        manifest = json.load(f)
    base = f"/edges/{population}"

    # sources: (parquet dir, files, key col, [(value cols, dataset path,
    # numpy dtype)]).  Edge columns are 1-wide; the adjacency indices are
    # (n, 2) with the dense key AS the row number.
    table_path = os.path.join(pop_dir, "table.parquet")
    table_files = _sorted_files(table_path)
    schema = pq.ParquetFile(table_files[0]).schema_arrow
    sources = [
        (
            table_path,
            table_files,
            manifest["row_index_column"],
            [
                ((name,), _dataset_path(base, name, manifest), np_dtype)
                for name, np_dtype in _edge_column_dtypes(
                    spark, table_path, schema, manifest
                )
            ],
        )
    ]
    for direction in ("source_to_target", "target_to_source"):
        d = os.path.join(pop_dir, "indices", direction)
        if not os.path.isdir(d):
            continue
        for fname, (key, cols) in _INDEX_COLS.items():
            path = os.path.join(d, f"{fname}.parquet")
            files = _sorted_files(path)
            dt = np.dtype(
                pq.ParquetFile(files[0])
                .schema_arrow.field(cols[0])
                .type.to_pandas_dtype()
            )
            ds = f"{base}/indices/{direction}/{fname}"
            sources.append((path, files, key, [(cols, ds, dt)]))
    rows = [sum(file_row_counts(files)) for _, files, _, _ in sources]

    # gzip: the sources longer than one chunk go through the compress
    # pass (the single writer's chunking rule); everything else is a
    # contiguous dataset filled straight from the bundle files
    c = None
    if compression is not None:
        c = int(chunk_rows or _auto_chunk_rows(rows[0]))
    chunked = {i for i, n in enumerate(rows) if c is not None and n > c}
    # a fresh unique subdirectory: never clobber (or later delete)
    # anything the caller owns, and never collide with a concurrent
    # export to a sibling file
    spill = os.path.join(
        spill_dir or (h5_path + ".spill"), f"run-{uuid.uuid4().hex}"
    )
    # the skeleton and the fill go to a sibling temporary file that
    # replaces h5_path only once complete: a failed export leaves
    # h5_path as it was
    target = os.path.join(
        os.path.dirname(os.path.abspath(h5_path)),
        f".{os.path.basename(h5_path)}.tmp-{uuid.uuid4().hex}",
    )
    try:
        sizes: dict[str, dict[int, int]] = {}
        for i in sorted(chunked):
            path, _, key_col, specs = sources[i]
            out = os.path.join(spill, str(i))
            _compress_source(spark, path, key_col, specs, rows[i], c, out)
            # driver: sizes only (never the blobs)
            t = pq.read_table(out, columns=["ds", "chunk_idx", "size"])
            for ds, ci, size in zip(*t.to_pydict().values()):
                sizes.setdefault(ds, {})[ci] = size

        datasets, attrs = _gather_small_datasets(pop_dir, base, manifest)
        w = MiniH5Writer()
        w.create_group(base)
        for path, arr in datasets.items():
            # the single writer's chunking rule applies to the gathered
            # datasets too (an @library beyond one chunk)
            if c is not None and arr.size > 0 and len(arr) > c:
                w.create_dataset(
                    path, arr, chunks=(c,) + arr.shape[1:],
                    compression=compression, shuffle=True,
                )
            else:
                w.create_dataset(path, arr)
        for i, (_, _, _, specs) in enumerate(sources):
            for cols, ds, dt in specs:
                shape = (rows[i],) if len(cols) == 1 else (rows[i], len(cols))
                if i not in chunked:
                    w.create_placeholder(ds, shape, dt)
                    continue
                n_chunks = -(-rows[i] // c)
                got = sizes.get(ds, {})
                if sorted(got) != list(range(n_chunks)):
                    raise RuntimeError(
                        f"compress pass produced {len(got)} chunks for "
                        f"{ds}, expected {n_chunks} dense chunk ids"
                    )
                w.create_chunked_placeholder(
                    ds, shape, dt, (c,) + shape[1:],
                    [got[k] for k in range(n_chunks)],
                    compression=compression, shuffle=True,
                )
        for path, a in attrs.items():
            for k, v in a.items():
                w.set_attr(path, k, v)
        w.write(target)

        # one fill job: a task per bundle file of the contiguous sources
        # and per spill file of the chunked ones
        tasks, offsets = [], w.data_offsets
        for i, (_, files, key_col, specs) in enumerate(sources):
            if i in chunked:
                spilled = _sorted_files(os.path.join(spill, str(i)))
                tasks += [(True, (i, f)) for f in spilled]
                continue
            layout = [
                (cols, offsets[ds]["offset"], offsets[ds]["dtype"])
                for cols, ds, _ in specs
            ]
            tasks += [(False, (i, f, key_col, layout, rows[i])) for f in files]
        addrs = None
        if chunked:
            addrs = spark.sparkContext.broadcast(
                {
                    ds: offsets[ds]["chunk_addrs"]
                    for i in chunked
                    for _, ds, _ in sources[i][3]
                }
            )
        got = [0] * len(sources)
        for i, n in _run_tasks(
            spark,
            tasks,
            lambda task: _fill_chunks(target, task[1], addrs.value)
            if task[0]
            else _fill_file(target, task[1]),
            StructType([StructField("source", LongType()),
                        StructField("n", LongType())]),
        ):
            got[i] += n
        for i, (path, _, _, specs) in enumerate(sources):
            want, unit = rows[i], "rows"
            if i in chunked:
                want, unit = len(specs) * -(-rows[i] // c), "chunks"
            if got[i] != want:
                raise RuntimeError(
                    f"parallel HDF5 export wrote {got[i]} {unit} of {path}, "
                    f"expected {want}"
                )
        os.replace(target, h5_path)
    except BaseException:
        if os.path.exists(target):
            os.remove(target)
        if chunked:
            logging.getLogger(__name__).warning(
                "parallel HDF5 export failed; partial spill kept at %s",
                spill,
            )
        raise
    if chunked:
        shutil.rmtree(spill, ignore_errors=True)
        parent = h5_path + ".spill"
        if spill_dir is None and not os.listdir(parent):
            os.rmdir(parent)
    return rows[0]
