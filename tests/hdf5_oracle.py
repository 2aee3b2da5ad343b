"""The driver-side single ``.h5`` writer: the oracle the parallel export
(``sinks.sonata.export_hdf5_parallel``) must equal byte for byte.

It reads the whole bundle into driver memory, orders every table column
by ``row_index`` and hands all datasets to ``MiniH5Writer`` at once,
mirroring the reference's layout (``src/circuit/sonata_file.cpp:45-143``):
top-level ``source_node_id``/``target_node_id``/``edge_type_id``
datasets, per-edge properties under ``0/``, enumerations under
``0/@library/``, adjacency under ``indices/``.

``compression="gzip"`` writes every dataset longer than ``chunk_rows``
rows chunked with shuffle+deflate; the default stays contiguous."""

import json
import os

import numpy as np
import pyarrow.parquet as pq

from parquet_converters_spark.sinks.hdf5_minimal import MiniH5Writer
from parquet_converters_spark.sinks.sonata import (
    _auto_chunk_rows,
    _gather_small_datasets,
)


def _index_datasets(pop_dir: str, base: str) -> dict:
    """Both directions' ``node_id_to_ranges`` and ``range_to_edge_id``
    as (n, 2) arrays in key order."""
    datasets = {}
    for direction in ("source_to_target", "target_to_source"):
        d = os.path.join(pop_dir, "indices", direction)
        if not os.path.isdir(d):
            continue
        nr = pq.read_table(
            os.path.join(d, "node_id_to_ranges.parquet")
        ).sort_by("node_id")
        datasets[f"{base}/indices/{direction}/node_id_to_ranges"] = np.stack(
            [nr.column("range_lo").to_numpy(), nr.column("range_hi").to_numpy()],
            axis=1,
        )
        re_ = pq.read_table(
            os.path.join(d, "range_to_edge_id.parquet")
        ).sort_by("range_id")
        datasets[f"{base}/indices/{direction}/range_to_edge_id"] = np.stack(
            [re_.column("edge_start").to_numpy(), re_.column("edge_end").to_numpy()],
            axis=1,
        )
    return datasets


def export_hdf5(
    bundle_dir: str,
    population: str,
    h5_path: str,
    compression: str | None = None,
    chunk_rows: int | None = None,
) -> None:
    pop_dir = os.path.join(bundle_dir, "edges", population)
    with open(os.path.join(pop_dir, "attributes.json")) as f:
        manifest = json.load(f)
    base = f"/edges/{population}"

    table = pq.read_table(os.path.join(pop_dir, "table.parquet"))
    if chunk_rows is None:
        chunk_rows = _auto_chunk_rows(table.num_rows)
    perm = np.argsort(table.column(manifest["row_index_column"]).to_numpy())
    datasets, attrs = _gather_small_datasets(pop_dir, base, manifest)
    datasets.update(_index_datasets(pop_dir, base))
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
