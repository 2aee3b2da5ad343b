"""SONATA HDF5 source: read a `.h5` edge file back into a DataFrame.

Spark has no native HDF5 reader, so this is the inverse of
``sinks.sonata.export_hdf5_parallel`` and, like the reference's
rank-parallel re-read (``src/parquet2hdf5.cpp:44-55``,
``index.cpp:158-179``), it splits the file by rows: the driver parses
only the metadata (dataset layouts, via the built-in classic-format
reader ``sinks/hdf5_minimal.MiniH5Reader``) and every Spark task opens
the file itself and reads just its row slice — one seek+read per
contiguous column, only the overlapping chunks of a chunked one
(deflate/shuffle reversed executor-side).  Nothing edge-scale
materializes on the driver, so a big `.h5` converts straight to the
scale representation:

    df = read_sonata_edges(spark, "edges.h5", "default")
    df.write.parquet("edges_parquet/")

Executors must share the driver's filesystem (local mode / GPFS /
Lustre / NFS), as for the touch source and the `.h5` writer.  Files the
built-in reader cannot parse (newer superblocks, v1/v2 layout messages,
filters beyond deflate/shuffle) are decoded on the driver through h5py
where installed; without h5py they raise ``NotImplementedError`` naming
the dataset and the h5py remedy.
"""

from __future__ import annotations

import os
from struct import error as struct_error

from pyspark.sql import DataFrame, SparkSession


def _edge_dataset_names(r, base: str) -> dict[str, str]:
    """Edge-column dataset paths by name: top-level node ids/edge_type
    first, then ``0/`` properties (a population without properties has
    no ``0`` group), both in link order."""
    top = r.list_links(base)
    names = {n: f"{base}/{n}" for n in top if n not in ("0", "indices")}
    for n in r.list_links(f"{base}/0") if "0" in top else ():
        if n != "@library":
            names[n] = f"{base}/0/{n}"
    return names


_SUPPORTED_FILTERS = {1, 2}  # deflate, shuffle — what decode_chunk handles


def _check_decodable(name: str, lay: dict) -> None:
    """Raise ``NotImplementedError`` on the DRIVER for any layout the
    executor-side decode cannot handle — unsupported filter ids
    (fletcher32/szip/LZF...) and chunk grids that split non-row
    dimensions (``_slice_rows`` walks only the row axis; a (c, 1) chunk
    on an (n, 2) dataset would silently broadcast one column across
    both).  Raising here keeps the failure out of Spark tasks and lets
    the h5py fallback take over where it applies."""
    bad = [fid for fid, _ in lay.get("filters", ()) if fid not in _SUPPORTED_FILTERS]
    if bad:
        raise NotImplementedError(
            f"dataset {name!r} uses unsupported HDF5 filter id(s) {bad} "
            "(deflate=1 and shuffle=2 are decodable) — install h5py"
        )
    if lay["layout"] == "chunked" and tuple(lay["chunk_shape"][1:]) != tuple(
        lay["shape"][1:]
    ):
        raise NotImplementedError(
            f"dataset {name!r} chunk shape {tuple(lay['chunk_shape'])} "
            f"splits non-row dimensions of {tuple(lay['shape'])}; the "
            "row-slice reader slices the row axis only — install h5py"
        )


def _prune(names, columns: list[str] | None, population: str) -> list[str]:
    if columns is None:
        return list(names)
    missing = sorted(set(columns) - set(names))
    if missing:
        raise KeyError(
            f"columns {missing} not in edge population "
            f"{population!r} (has {sorted(names)})"
        )
    return [n for n in names if n in set(columns)]


def _open(h5_path: str):
    try:
        import h5py

        f = h5py.File(h5_path, "r")

        class _H5:  # uniform facade over the two backends
            def list_links(self, path):
                return sorted(f[path].keys())

            def read_dataset(self, path):
                return f[path][()]

            def read_attrs(self, path):
                return dict(f[path].attrs)

        return _H5()
    except ImportError:
        from parquet_converters_spark.sinks.hdf5_minimal import MiniH5Reader

        return MiniH5Reader(h5_path)


def _read_on_driver(
    spark: SparkSession,
    h5_path: str,
    population: str,
    columns: list[str] | None,
) -> DataFrame:
    """Fallback of :func:`read_sonata_edges` for files the row-slice
    path cannot parse: decode on the driver (h5py where installed) and
    hand Spark one Arrow table with the same contract — ``row_index``
    first, then the requested columns in link order.

    Columns go to Spark through a pyarrow table built straight from the
    numpy arrays — NOT through pandas, whose Arrow conversion treats
    float NaN as the null sentinel and would silently turn stored NaN
    values into NULLs (HDF5 has no null; a NaN in the file is a value
    and must read back as one)."""
    import numpy as np
    import pyarrow as pa

    r = _open(h5_path)
    paths = _edge_dataset_names(r, f"/edges/{population}")
    arrays = {}
    n = 0
    for name in _prune(paths, columns, population):
        values = r.read_dataset(paths[name])
        n = len(values)
        kind = getattr(getattr(values, "dtype", None), "kind", None)
        if kind in ("S", "O"):
            # fixed-width S from the minimal reader, or object arrays of
            # bytes from h5py's variable-length strings
            arrays[name] = pa.array(
                [
                    v.decode() if isinstance(v, (bytes, bytearray)) else str(v)
                    for v in values
                ],
                type=pa.string(),
            )
        else:
            arrays[name] = pa.array(np.asarray(values))
    row_index = pa.array(np.arange(n, dtype=np.int64))
    return spark.createDataFrame(pa.table({"row_index": row_index, **arrays}))


_NP_TO_SPARK = {
    "i1": "tinyint", "i2": "smallint", "i4": "int", "i8": "bigint",
    "f4": "float", "f8": "double",
}


def _slice_rows(fh, lay, chunks, dt, start, end, name):
    """Rows ``[start, end)`` of a row-major 1-D or 2-D dataset, given its
    :meth:`MiniH5Reader.dataset_layout` and (for chunked layouts) its
    chunk map.  Runs executor-side against a plain file handle: one
    seek+read for a contiguous extent, per-overlapping-chunk decode
    otherwise.  Chunks absent from the B-tree read back as zeros —
    libhdf5 legally omits never-written chunks (fill-value semantics),
    matching :meth:`MiniH5Reader.read_dataset`."""
    import numpy as np

    from parquet_converters_spark.sinks.hdf5_minimal import decode_chunk

    shape = lay["shape"]
    ncols = shape[1] if len(shape) == 2 else None
    row_w = dt.itemsize * (ncols or 1)
    if lay["layout"] == "contig":
        from parquet_converters_spark.sinks.hdf5_minimal import UNDEF

        if lay["addr"] == UNDEF or lay.get("nbytes") == 0:
            # deferred-allocation dataset: fill value (zeros), like
            # MiniH5Reader.read_dataset
            return np.zeros(
                (end - start, ncols) if ncols else (end - start,), dtype=dt
            )
        fh.seek(lay["addr"] + start * row_w)
        buf = fh.read((end - start) * row_w)
        if len(buf) != (end - start) * row_w:
            raise ValueError(
                f"{name}: truncated file — expected "
                f"{(end - start) * row_w} bytes at offset "
                f"{lay['addr'] + start * row_w}, got {len(buf)}"
            )
        arr = np.frombuffer(buf, dtype=dt)
        return arr.reshape(end - start, ncols) if ncols else arr
    c = lay["chunk_shape"][0]
    out = np.zeros(
        (end - start, ncols) if ncols else (end - start,), dtype=dt
    )
    for offs, addr, size, mask in chunks:
        o = offs[0]
        if o >= end or o + c <= start:
            continue
        fh.seek(addr)
        chunk = decode_chunk(
            fh.read(size), lay["filters"], mask, dt, lay["chunk_shape"],
            name=name,
        )
        lo, hi = max(o, start), min(o + c, end, shape[0])
        piece = chunk[lo - o:hi - o]
        if ncols is not None:
            piece = piece[:, :ncols]
        out[lo - start:hi - start] = piece
    return out


def _auto_rows_per_partition(n_rows: int, parallelism: int) -> int:
    """Default slice size of the row-slice readers: ~3 waves of
    tasks per core (measured at 20M rows on local[32]: 256Ki-row slices
    read in 1.3-1.6 s where the old fixed 1M default took 2.1-2.2 s and
    4M took up to 6.4 s gzip — small slices win until task overhead
    bites), floored at 64Ki rows so toy files stay one task and capped
    at 4M rows (~32 MB/column) so a 1e12-row file still yields
    bounded-size read units rather than multi-GB ones."""
    want = -(-max(n_rows, 1) // max(3 * parallelism, 1))
    return max(1 << 16, min(want, 1 << 22))


def _read_row_slices(
    spark: SparkSession,
    h5_path: str,
    key: str,
    datasets: list[tuple[str, dict, tuple[str, ...]]],
    rows_per_partition: int | None,
) -> DataFrame:
    """One Spark task per row slice of ``datasets`` — ``(path, layout,
    column names)`` triples of equal row count, whose layouts the driver
    has already checked with :func:`_check_decodable`.  The result is
    ``key`` (the row number, bigint) followed by each dataset's columns:
    a 1-D dataset yields one, an (n, 2) dataset two.

    Each task opens the file itself and walks a chunked dataset's
    B-tree once (over mmap, metadata-only reads): the chunk maps are
    dropped from the layouts here so a multi-TB file's millions of chunk
    entries never ride along in the task closure."""
    import numpy as np

    n_rows = None
    fields = [f"`{key}` bigint"]
    out_names = [key]
    for path, lay, names in datasets:
        lay.pop("chunks", None)
        if n_rows is None:
            n_rows = lay["shape"][0]
        elif lay["shape"][0] != n_rows:
            raise ValueError(
                f"dataset {path!r} has {lay['shape'][0]} rows, "
                f"expected {n_rows}"
            )
        dt = np.dtype(lay["dtype"])
        spark_t = "string" if dt.kind == "S" else _NP_TO_SPARK[dt.str[1:]]
        fields += [f"`{n}` {spark_t}" for n in names]
        out_names += names
    n_rows = int(n_rows or 0)
    if rows_per_partition is None:
        rows_per_partition = _auto_rows_per_partition(
            n_rows, spark.sparkContext.defaultParallelism
        )
    ranges = [
        (s, min(s + rows_per_partition, n_rows))
        for s in range(0, max(n_rows, 1), rows_per_partition)
    ]
    target = os.path.abspath(h5_path)

    def read_slice(batches):
        # Arrow batches end-to-end: building the result through pandas
        # would conflate float NaN with null on the way back to Spark
        # (pandas' NaN-as-null sentinel); HDF5 NaNs are VALUES and must
        # survive the read (tests/test_hdf5_export.py NaN round-trip)
        import pyarrow as pa

        from parquet_converters_spark.sinks.hdf5_minimal import MiniH5Reader

        rdr = None  # one mmap per task, opened lazily
        chunk_maps: dict[str, list] = {}  # per-task B-tree walk cache
        for spec in batches:
            for start, end in zip(
                spec.column(0).to_pylist(), spec.column(1).to_pylist()
            ):
                arrays = [pa.array(np.arange(start, end, dtype=np.int64))]
                with open(target, "rb") as fh:
                    for path, lay, names in datasets:
                        dt = np.dtype(lay["dtype"])
                        chunks = ()
                        if lay["layout"] != "contig":
                            if path not in chunk_maps:
                                if rdr is None:
                                    rdr = MiniH5Reader(target)
                                chunk_maps[path] = rdr.dataset_layout(
                                    path
                                )["chunks"]
                            chunks = chunk_maps[path]
                        arr = _slice_rows(fh, lay, chunks, dt, start, end, path)
                        cols = [arr] if arr.ndim == 1 else arr.T
                        for col in cols:
                            arrays.append(
                                pa.array([v.decode() for v in col],
                                         type=pa.string())
                                if dt.kind == "S"
                                else pa.array(np.ascontiguousarray(col))
                            )
                yield pa.RecordBatch.from_arrays(arrays, names=out_names)

    spec = spark.createDataFrame(ranges, "start long, end long").repartition(
        max(len(ranges), 1), "start"
    )
    return spec.mapInArrow(read_slice, ", ".join(fields))


def read_sonata_edges(
    spark: SparkSession,
    h5_path: str,
    population: str,
    columns: list[str] | None = None,
    rows_per_partition: int | None = None,
) -> DataFrame:
    """Load ``/edges/<population>`` — top-level node ids + ``0/``
    properties (``@library`` codes stay integer codes) — as
    ``row_index`` (the global position, so the ordered round-trip
    ``export_hdf5_parallel -> read_sonata_edges`` is loss-free) followed by the
    edge columns, one Spark task per ``rows_per_partition`` row slice
    (default :func:`_auto_rows_per_partition`).

    ``columns`` restricts the read to the named datasets — the
    column-pruning analogue of a parquet scan's ReadSchema: unrequested
    datasets cost zero I/O (each column is a separate contiguous extent
    / chunk set in the file); an unknown name raises ``KeyError``.

    A file the built-in reader cannot parse, or whose layout the
    executors cannot decode, is read on the driver instead (h5py where
    installed) with the same columns in the same order.
    """
    from parquet_converters_spark.sinks.hdf5_minimal import MiniH5Reader

    # the built-in reader parses the metadata whether or not h5py is
    # installed, so schema, order, pruning and partitioning never depend
    # on what happens to be installed
    base = f"/edges/{population}"
    try:
        r = MiniH5Reader(h5_path)
        paths = _edge_dataset_names(r, base)
        names = _prune(paths, columns, population)
        layouts = {n: r.dataset_layout(paths[n]) for n in names}
        for n, lay in layouts.items():
            # anything the executor-side decode cannot handle is
            # detected HERE, on the driver, so the fallback takes over
            # instead of a Spark task failing mid-read
            _check_decodable(n, lay)
            if len(lay["shape"]) != 1:
                raise NotImplementedError(
                    f"dataset {n!r} is {len(lay['shape'])}-D; edge "
                    "columns are 1-D — for the (n, 2) adjacency index "
                    "datasets use read_sonata_index"
                )
    except (ValueError, NotImplementedError, AssertionError, struct_error):
        return _read_on_driver(spark, h5_path, population, columns)
    return _read_row_slices(
        spark, h5_path, "row_index",
        [(paths[n], layouts[n], (n,)) for n in names],
        rows_per_partition,
    )


# (key column, value columns) per adjacency index dataset — the same
# names the bundle parquet uses (sinks.sonata._INDEX_COLS), so the
# readback compares 1:1 against the bundle
_INDEX_SCHEMAS = {
    "node_id_to_ranges": ("node_id", ("range_lo", "range_hi")),
    "range_to_edge_id": ("range_id", ("edge_start", "edge_end")),
}


def read_sonata_index(
    spark: SparkSession,
    h5_path: str,
    population: str,
    direction: str,
    dataset: str,
    rows_per_partition: int | None = None,
) -> DataFrame:
    """Row-slice read of one adjacency index dataset —
    ``/edges/<population>/indices/<direction>/<dataset>`` — the (n, 2)
    arrays the reference writes (``src/circuit/index.cpp:27-31,184-191``)
    and re-reads rank-parallel (``index.cpp:158-179``), sliced exactly
    like :func:`read_sonata_edges`.

    Returns ``(node_id, range_lo, range_hi)`` or
    ``(range_id, edge_start, edge_end)`` — the row number is the key,
    exactly like the bundle's parquet form, so ``read_sonata_index(...)``
    equals the bundle's ``indices/<direction>/<dataset>.parquet`` row
    for row."""
    from parquet_converters_spark.sinks.hdf5_minimal import MiniH5Reader

    if dataset not in _INDEX_SCHEMAS:
        raise KeyError(
            f"unknown index dataset {dataset!r} "
            f"(expected one of {sorted(_INDEX_SCHEMAS)})"
        )
    key_col, val_cols = _INDEX_SCHEMAS[dataset]
    path = f"/edges/{population}/indices/{direction}/{dataset}"
    lay = MiniH5Reader(h5_path).dataset_layout(path)
    shape = lay["shape"]
    if len(shape) != 2 or shape[1] != 2:
        raise ValueError(f"{path} has shape {shape}, expected (n, 2)")
    _check_decodable(dataset, lay)
    return _read_row_slices(
        spark, h5_path, key_col, [(path, lay, val_cols)], rows_per_partition
    )
