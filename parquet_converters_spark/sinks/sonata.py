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
- the adjacency index is built with
  :func:`parquet_converters_spark.operators.indexing.build_sonata_indices`.

``export_hdf5_parallel`` converts a bundle to a real SONATA HDF5 file:
the driver writes the metadata skeleton, then one Spark job with one
task per bundle file seek+writes each file's sorted key run at the
dataset's precomputed offset — the analogue of the reference's
per-rank MPI-IO independent hyperslab writes
(``src/circuit/sonata_file.cpp:98-143``).
With ``compression="gzip"`` it also writes the chunked+shuffle+deflate
layout (which the reference cannot write in parallel at all): a
compress pass resolves the data-dependent chunk sizes, the driver lays
out the B-trees from sizes alone, and the fill job pwrites each blob at
its published address.  ``export_hdf5`` is the driver-side single
writer both modes are byte-identical to; it is kept as the tests'
reference.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, functions as F

from parquet_converters_spark import __version__
from parquet_converters_spark.operators.indexing import (
    SONATA_KEYS,
    build_sonata_indices,
    count_rows_and_nodes,
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

# bundle range-partition sizing: ~4M edge rows is ~100-200 MB of parquet
# at typical edge-row widths (the healthy HDFS/S3 object size), and no
# file should drop below ~64Ki rows just to keep every core busy
_TARGET_ROWS_PER_FILE = 4_000_000
_MIN_ROWS_PER_FILE = 1 << 16


def _range_partitions(
    n_rows: int,
    parallelism: int,
    rows_per_file: int = _TARGET_ROWS_PER_FILE,
) -> int:
    """Partition count for the bundle's range-partitioned writes —
    derived from the DATA, not the cluster (VERDICT r04 item 3): a bare
    ``defaultParallelism`` writes single-row files at toy scale and
    multi-GB partitions at 100 TB on a modest cluster.  Files of
    ``rows_per_file`` rows by default; when the data is moderate, up to
    ``parallelism`` files so every core still writes, but never below
    ``_MIN_ROWS_PER_FILE`` rows per file."""
    n_rows = max(int(n_rows), 1)
    by_size = -(-n_rows // max(rows_per_file, 1))
    # floor division: ceil here would allow files BELOW the 64Ki floor
    # (65537 rows would become 2 x ~32Ki files)
    by_cores = min(max(parallelism, 1), max(1, n_rows // _MIN_ROWS_PER_FILE))
    return max(1, by_size, by_cores)


def _drop_empty_files(path: str) -> None:
    """Remove the zero-row file Spark writes for partition 0 when that
    partition holds none of a direction's rows (both directions share
    one numbering exchange, so the second starts past partition 0).
    Keeps one file when all are empty, for the schema."""
    import glob as _glob

    import pyarrow.parquet as pq

    files = sorted(_glob.glob(os.path.join(path, "*.parquet")))
    empty = [f for f in files if pq.ParquetFile(f).metadata.num_rows == 0]
    for f in empty[: len(files) - 1]:
        os.remove(f)
        crc = os.path.join(path, f".{os.path.basename(f)}.crc")
        if os.path.exists(crc):
            os.remove(crc)


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


def _enumerations_from_metadata(kv: dict[str, str], df: DataFrame) -> dict[str, list[str]]:
    """``enumeration_values`` from Spark row metadata (KV JSON) and from
    live Spark field metadata."""
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
    for field in df.schema.fields:
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
        df: DataFrame,
        kv_metadata: dict[str, str] | None = None,
        with_index: bool = True,
        row_col: str = "row_index",
        rows_per_file: int = _TARGET_ROWS_PER_FILE,
    ) -> None:
        spark = df.sparkSession
        kv = dict(kv_metadata or {})
        os.makedirs(self.pop_dir, exist_ok=True)

        table = df.drop(*[c for c in COLUMNS_TO_SKIP if c in df.columns])
        if "edge_type_id" not in table.columns:
            table = table.withColumn("edge_type_id", F.lit(0))

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

        enums = _enumerations_from_metadata(kv, df)

        par = max(1, spark.sparkContext.defaultParallelism)
        keys = list(SONATA_KEYS.values()) if with_index else []
        n_records, max_plus_one = count_rows_and_nodes(table, keys)

        for name, values in enums.items():
            spark.createDataFrame(
                [(i, v) for i, v in enumerate(values)], "index: long, value: string"
            ).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(self.pop_dir, "library", f"{name}.parquet")
            )

        # every file holds one contiguous, sorted row_index slice; the
        # index build RLEs these same partitions, so they are persisted
        # for it (released in the finally below)
        ordered = table.repartitionByRange(
            _range_partitions(n_records, par, rows_per_file), row_col
        ).sortWithinPartitions(row_col)
        if with_index:
            ordered = ordered.persist()
        try:
            ordered.write.mode("overwrite").parquet(
                os.path.join(self.pop_dir, "table.parquet")
            )

            if with_index:
                node_counts = {
                    "source_to_target": source_size or max_plus_one[0],
                    "target_to_source": target_size or max_plus_one[1],
                }
                with build_sonata_indices(
                    ordered,
                    node_counts,
                    lambda n: _range_partitions(n, par, rows_per_file),
                    row_col=row_col,
                ) as indices:
                    for direction, (node_ranges, range_edges) in (
                        indices.items()
                    ):
                        # already in key order, one contiguous run per
                        # partition: written as built
                        d = os.path.join(self.pop_dir, "indices", direction)
                        for name, frame in (
                            ("node_id_to_ranges", node_ranges),
                            ("range_to_edge_id", range_edges),
                        ):
                            path = os.path.join(d, f"{name}.parquet")
                            frame.write.mode("overwrite").parquet(path)
                            _drop_empty_files(path)
        finally:
            ordered.unpersist()

        manifest = {
            "population": self.population,
            "n_records": n_records,
            "attributes": attrs,
            "dataset_attributes": dataset_attrs,
            "top_level_datasets": [
                c for c in TOP_LEVEL_DATASETS if c in table.columns
            ],
            "property_datasets": [
                c
                for c in table.columns
                if c not in TOP_LEVEL_DATASETS and c != row_col
            ],
            "libraries": sorted(enums),
            "row_index_column": row_col,
        }
        with open(os.path.join(self.pop_dir, "attributes.json"), "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True)


def write_sonata_bundle(
    df: DataFrame,
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
    "node_id_to_ranges": ("node_id", ("range_lo", "range_hi")),
    "range_to_edge_id": ("range_id", ("edge_start", "edge_end")),
}


def _gather_small_datasets(
    pop_dir: str, base: str, manifest: dict, include_indices: bool = True
) -> tuple[dict, dict]:
    """The driver-side (metadata-scale) parts of a SONATA ``.h5``:
    ``@library`` enumerations (and, for the single-writer, the
    adjacency indices), plus all group/dataset attributes.  Shared by
    the single-writer and the parallel export — in the reference these
    are likewise written by rank 0
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
    if not include_indices:
        return datasets, attrs
    for direction in ("source_to_target", "target_to_source"):
        d = os.path.join(pop_dir, "indices", direction)
        if not os.path.isdir(d):
            continue
        nr = pq.read_table(
            os.path.join(d, "node_id_to_ranges.parquet")
        ).sort_by("node_id")
        datasets[f"{base}/indices/{direction}/node_id_to_ranges"] = np.stack(
            [
                nr.column("range_lo").to_numpy(),
                nr.column("range_hi").to_numpy(),
            ],
            axis=1,
        )
        re_ = pq.read_table(
            os.path.join(d, "range_to_edge_id.parquet")
        ).sort_by("range_id")
        datasets[f"{base}/indices/{direction}/range_to_edge_id"] = np.stack(
            [
                re_.column("edge_start").to_numpy(),
                re_.column("edge_end").to_numpy(),
            ],
            axis=1,
        )
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


def export_hdf5(
    bundle_dir: str,
    population: str,
    h5_path: str,
    compression: str | None = None,
    chunk_rows: int | None = None,
) -> None:
    """Convert a SONATA bundle to a real SONATA HDF5 file — the
    correctness path of SURVEY §7 step 5, mirroring the reference's
    layout (``src/circuit/sonata_file.cpp:45-143``): top-level
    ``source_node_id``/``target_node_id``/``edge_type_id`` datasets,
    per-edge properties under ``0/``, enumerations under
    ``0/@library/``, adjacency under ``indices/``.

    Single-writer (driver-side) export, always encoded with the
    built-in classic-format writer
    (:mod:`parquet_converters_spark.sinks.hdf5_minimal`).  The engine's
    production writer is :func:`export_hdf5_parallel`; this one holds
    the whole table in driver memory and stays as the reference its
    byte-identity tests compare against.

    ``compression="gzip"`` writes every dataset longer than
    ``chunk_rows`` rows chunked with shuffle+deflate — the layout
    libhdf5 pipelines produce.  The default stays contiguous because
    that is what makes the parallel export's offset-computed writes
    possible.
    """
    import numpy as np
    import pyarrow.parquet as pq

    from parquet_converters_spark.sinks.hdf5_minimal import MiniH5Writer

    pop_dir = os.path.join(bundle_dir, "edges", population)
    with open(os.path.join(pop_dir, "attributes.json")) as f:
        manifest = json.load(f)
    base = f"/edges/{population}"

    table = pq.read_table(os.path.join(pop_dir, "table.parquet"))
    if chunk_rows is None:
        chunk_rows = _auto_chunk_rows(table.num_rows)
    perm = np.argsort(
        table.column(manifest["row_index_column"]).to_numpy()
    )
    datasets, attrs = _gather_small_datasets(pop_dir, base, manifest)
    for name in manifest["top_level_datasets"]:
        datasets[f"{base}/{name}"] = table.column(name).to_numpy()[perm]
    for name in manifest["property_datasets"]:
        if name in manifest["top_level_datasets"]:
            continue
        datasets[f"{base}/0/{name}"] = table.column(name).to_numpy()[perm]

    w = MiniH5Writer()
    w.create_group(base)
    for path, arr in datasets.items():
        if compression is None or arr.size == 0 or len(arr) <= chunk_rows:
            w.create_dataset(path, arr)
        else:
            w.create_dataset(
                path, arr, chunks=(chunk_rows,) + arr.shape[1:],
                compression=compression, shuffle=True,
            )
    for path, a in attrs.items():
        for k, v in a.items():
            w.set_attr(path, k, v)
    w.write(h5_path)


def _edge_column_dtypes(spark, table_path: str, schema, manifest) -> list:
    """(name, numpy dtype) for every edge column, in SONATA dataset
    order.  Strings have a data-dependent fixed width in HDF5: ONE Spark
    job, one task per table file, takes every string column's max UTF-8
    byte length (matching the single-writer's astype("S") widths), so
    the columns can then go through the same distributed fill as the
    numeric ones.  It encodes exactly as the fill does, so a NULL or
    non-string value fails here, before the skeleton is written."""
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
        per_file = (
            spark.sparkContext.parallelize(files, len(files))
            .map(widths)
            .collect()
        )
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
    ``src/circuit/sonata_file.cpp:45-97``), then ONE Spark job with one
    task per bundle file writes every distributed dataset: each task
    reads its parquet file with pyarrow and seek+writes its rows at
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
    more job over the table files; a NULL or non-string value raises.

    Returns the number of edge rows written.  The result is
    byte-identical to :func:`export_hdf5` with the same ``compression``
    and ``chunk_rows`` (``tests/test_hdf5_export.py``).
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

        datasets, attrs = _gather_small_datasets(
            pop_dir, base, manifest, include_indices=False
        )
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
        w.write(h5_path)

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
        target = os.path.abspath(h5_path)
        got = [0] * len(sources)
        for i, n in (
            spark.sparkContext.parallelize(tasks, len(tasks))
            .map(
                lambda task: _fill_chunks(target, task[1], addrs.value)
                if task[0]
                else _fill_file(target, task[1])
            )
            .collect()
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
    except BaseException:
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
