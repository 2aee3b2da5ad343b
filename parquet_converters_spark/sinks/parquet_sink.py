"""Canonical parquet sink (reference operator W1).

Matches the reference writer's physical layout
(``src/touches/parquet_writer.cpp:105-132``, ``parquet_writer.h:56-59``):
SNAPPY compression, dictionary encoding disabled, ~20 MB row groups
(512 Ki rows x ~40 B/row) with ~1 MB pages, optional KV footer metadata
(``touchdetector_version`` / ``touch2parquet_version``,
``parquet_writer.cpp:115-120``).

One output file per task, the Spark analogue of the reference's
one-file-per-MPI-rank naming (``touch2parquet.cpp:84``).  With footer KV
each task writes its file once with ``pq.ParquetWriter`` inside a single
``mapInArrow`` job, staged and renamed into place (:func:`write_kv_parts`,
whose writer loop takes any batch iterator: a frame's partitions, or
``touch2parquet``'s decoded and converted record ranges); without it,
``df.write.parquet`` with writer options (which also carries Bloom
filters).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

ROW_GROUP_BYTES = 20 * 1024 * 1024
ROW_GROUP_ROWS = 512 * 1024
PAGE_BYTES = 1024 * 1024
PYARROW_OPTIONS = dict(compression="snappy", use_dictionary=False, data_page_size=PAGE_BYTES)


def write_canonical_parquet(
    df: DataFrame,
    path: str,
    kv_metadata: dict[str, str] | None = None,
    mode: str = "overwrite",
    partitions: int | None = None,
    metadata_sidecar: bool = True,
    bloom_filter_columns: list[str] | None = None,
) -> None:
    """Write ``df`` with the reference's parquet physical options.

    ``kv_metadata`` (footer KV, which Spark's writer cannot attach) goes
    through :func:`write_kv_parts`, one part file per partition: pyarrow
    writes no Bloom filters, so ``bloom_filter_columns`` with it is a
    ``ValueError``, and a ``mode`` other than ``"overwrite"`` fails on
    an existing ``path``.

    ``metadata_sidecar`` additionally writes the ``_metadata`` summary
    file (all row-group footers + file paths) that the reference's
    ``parquet2hdf5`` prefers over per-file footers
    (``parquet2hdf5.cpp:205-218``) and that our own ordered reader
    consults first (``sources/ordering.py``).
    ``bloom_filter_columns`` writes a split-block Bloom filter per row
    group for each named column (``parquet.bloom.filter.enabled#col``,
    the parquet-mr writer property Spark passes through).  At 100 TB
    this is the point-lookup analogue of min/max zone maps: an
    equality probe on a high-cardinality key (synapse_id, doc_id,
    url_hash) skips every row group whose filter rejects the value
    without decoding a page — dictionary encoding is OFF in this
    canonical layout (reference parity), so Bloom filters are the only
    sub-row-group pruning equality predicates get.
    """
    if kv_metadata and bloom_filter_columns:
        raise ValueError(
            f"bloom_filter_columns={bloom_filter_columns!r} cannot be combined "
            "with kv_metadata: the footer-KV writer (pyarrow) writes no Bloom "
            "filters"
        )
    if partitions:
        df = df.repartition(partitions)
    if kv_metadata:
        schema = kv_arrow_schema(
            df.schema, df.sparkSession.version, kv_metadata,
            df._jdf.schema().json(),
        )
        write_kv_parts(
            path, schema, lambda write: df.mapInArrow(write, FOOTER_SCHEMA),
            mode, metadata_sidecar,
        )
        return
    writer = (
        df.write.mode(mode)
        .option("compression", "snappy")
        .option("parquet.enable.dictionary", "false")
        .option("parquet.block.size", str(ROW_GROUP_BYTES))
        .option("parquet.page.size", str(PAGE_BYTES))
    )
    for col in bloom_filter_columns or []:
        writer = writer.option(f"parquet.bloom.filter.enabled#{col}", "true")
    writer.parquet(path)
    if metadata_sidecar:
        _write_metadata_sidecar(path)


FOOTER_SCHEMA = StructType(
    [StructField("file", StringType()), StructField("footer", BinaryType())]
)


def kv_arrow_schema(schema, spark_version: str, kv: dict[str, str],
                    schema_json: str | None = None):
    """The Arrow schema a footer-KV file is written with: ``schema`` (a
    Spark ``StructType``) with Spark's two schema-metadata keys, then
    ``kv``.  ``schema_json`` is Spark's JSON of ``schema``; without it,
    it is built here with the JVM's key order (``StructType.json()``
    sorts the keys, so it differs as a string)."""
    import json

    from pyspark.sql.pandas.types import to_arrow_schema

    if schema_json is None:
        schema_json = json.dumps(schema.jsonValue(), separators=(",", ":"))
    return to_arrow_schema(schema).with_metadata({
        "org.apache.spark.version": spark_version,
        "org.apache.spark.sql.parquet.row.metadata": schema_json,
        **{k: str(v) for k, v in kv.items()},
    })


def write_kv_parts(path: str, schema, frame, mode: str = "overwrite",
                   metadata_sidecar: bool = True) -> int:
    """Write a footer-KV parquet dataset in one Spark job and return its
    row count.

    ``frame(write)`` builds the job's frame: each of its tasks passes an
    iterator of Arrow batches of ``schema`` to ``write``, which writes
    ``part-{i:05d}-<job>-c000.snappy.parquet`` for partition *i* once
    with ``pq.ParquetWriter`` (snappy, no dictionary, 1 MiB pages,
    512 Ki-row row groups) into a sibling staging directory and yields
    its footer as a :data:`FOOTER_SCHEMA` row.  The driver collects the
    footers, builds ``_metadata`` from them, adds ``_SUCCESS`` and
    renames the staging directory over ``path``; a failure removes it
    instead."""
    import shutil
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.abspath(path)
    if mode != "overwrite" and os.path.exists(path):
        raise FileExistsError(f"{path} exists and mode is {mode!r}")
    job = str(uuid.uuid4())
    staging = os.path.join(
        os.path.dirname(path), f".{os.path.basename(path)}.staging-{job}"
    )

    def write(batches):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        name = f"part-{ctx.partitionId():05d}-{job}-c000.snappy.parquet"
        tmp = os.path.join(staging, f".{name}.{ctx.attemptNumber()}.tmp")
        writer, pending, rows = None, [], 0

        def flush(n):
            # whole row groups from buffered batches: each write_table
            # call cuts a row group; a contiguous table pages like write_table
            nonlocal writer, pending, rows
            writer = writer or pq.ParquetWriter(tmp, schema, **PYARROW_OPTIONS)
            if n:
                table = pa.Table.from_batches(pending, schema).combine_chunks()
                writer.write_table(table.slice(0, n), row_group_size=ROW_GROUP_ROWS)
                pending, rows = table.slice(n).to_batches(), rows - n

        try:
            for batch in batches:
                pending.append(batch)
                rows += batch.num_rows
                if rows >= ROW_GROUP_ROWS:
                    flush(rows - rows % ROW_GROUP_ROWS)
            if rows or ctx.partitionId() == 0:  # Spark's rule: part 0 always
                flush(rows)
        finally:
            if writer is not None:
                writer.close()
        if writer is None:
            return
        os.replace(tmp, os.path.join(staging, name))
        footer = pa.BufferOutputStream()
        writer.writer.metadata.write_metadata_file(footer)
        yield pa.RecordBatch.from_pydict(
            {"file": [name], "footer": [footer.getvalue().to_pybytes()]}
        )

    os.makedirs(staging)
    try:
        footers = {
            r.file: pq.read_metadata(pa.BufferReader(bytes(r.footer)))
            for r in frame(write).collect()
        }
        if not footers:  # no partition at all: one empty file, as Spark writes
            name = f"part-00000-{job}-c000.snappy.parquet"
            pq.ParquetWriter(os.path.join(staging, name), schema, **PYARROW_OPTIONS).close()
            footers[name] = pq.read_metadata(os.path.join(staging, name))
        if metadata_sidecar:
            _write_metadata_sidecar(staging, footers)
        open(os.path.join(staging, "_SUCCESS"), "wb").close()
        publish(staging, path)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return sum(md.num_rows for md in footers.values())


def publish(staging: str, path: str) -> None:
    """Rename the finished directory ``staging`` over ``path`` (a sibling
    on the same filesystem).  A previous ``path`` is moved aside first
    and deleted after; if the rename fails, it is moved back."""
    import shutil

    old = staging + "-old"
    if os.path.exists(path):
        os.rename(path, old)
    try:
        os.rename(staging, path)
    except OSError:
        if os.path.exists(old):
            os.rename(old, path)
        raise
    shutil.rmtree(old, ignore_errors=True)


def _write_metadata_sidecar(path: str, footers: dict | None = None) -> None:
    """Aggregate every file's footer into a ``_metadata`` summary file
    (relative file paths, all row groups) — readable by pyarrow and by
    the reference's sidecar-first schema logic.  Spark and pyarrow both
    skip ``_``-prefixed files during data discovery, so the sidecar
    never shadows the data.  ``footers`` (file name -> ``FileMetaData``)
    are the footers of files just written; without them each file's
    footer is read back."""
    import pyarrow.parquet as pq

    if footers is None:
        footers = {
            os.path.basename(f): pq.read_metadata(f)
            for f in glob.glob(os.path.join(path, "*.parquet"))
        }
    collector = []
    schema = None
    first_file = None
    for name in sorted(footers):
        md = footers[name]
        md.set_file_path(name)
        collector.append(md)
        file_schema = md.schema.to_arrow_schema()
        if schema is None:
            schema, first_file = file_schema, name
        elif not file_schema.equals(schema):
            # a sidecar recorded from the first file would misdescribe
            # the rest (e.g. append-mode runs with drifted schemas)
            raise ValueError(
                f"_metadata sidecar: schema of {name} differs from "
                f"{first_file} — unify schemas (or skip the sidecar) "
                "before writing a directory-level footer"
            )
    if schema is None:
        return
    pq.write_metadata(
        schema, os.path.join(path, "_metadata"), metadata_collector=collector
    )
