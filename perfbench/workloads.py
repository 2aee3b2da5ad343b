"""The benchmark workloads.

Each workload builds its seeded inputs in ``prepare``, outside timing; ``run`` is the timed call into the engine's public pipeline
functions and consumes every result before returning; ``check`` verifies
the outputs of one run, outside timing, and raises ``CheckFailed``.
"""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

import gen

POPULATION = "default"


class CheckFailed(Exception):
    pass


def _require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def tree_bytes(path: str) -> int:
    """On-disk bytes of a file, or of every file below a directory."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _part_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "part-*.parquet")))


def _reset(*paths: str) -> None:
    for p in paths:
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.exists(p):
            os.remove(p)


def _expected_synapse_ids(touch_dir: str, files: int) -> np.ndarray:
    """``(gid << 24) + (pos - shift[gid])`` for every record, in file
    order, computed straight from the generated binaries."""
    out = []
    dt = gen._v3_dtype()
    info_dt = np.dtype([("id", "<i4"), ("count", "<u4"), ("offset", "<i8")])
    for k in range(files):
        rec = np.fromfile(os.path.join(touch_dir, f"touchesData.{k}"), dtype=dt)
        info = np.fromfile(
            os.path.join(touch_dir, f"touches.{k}"), dtype=info_dt, offset=32
        )
        gid = rec["pre_neuron_id"].astype(np.int64)
        order = np.argsort(info["id"])
        ids = info["id"][order].astype(np.int64)
        shifts = info["offset"][order] // gen.V3_RECORD_SIZE
        shift = shifts[np.searchsorted(ids, gid)]
        out.append((gid << 24) + (np.arange(len(gid)) - shift))
    return np.concatenate(out)


def check_canonical_edges(out_dir: str, touch_dir: str, corpus: dict, sample: int = 4096) -> None:
    files = _part_files(out_dir)
    _require(bool(files), f"no parquet files in {out_dir}")
    metas = [pq.read_metadata(f) for f in files]
    n = sum(m.num_rows for m in metas)
    _require(n == corpus["records"], f"footer rows {n} != records {corpus['records']}")
    for f in files:
        kv = pq.read_schema(f).metadata or {}
        _require(b"touchdetector_version" in kv, f"{f}: no touchdetector_version footer key")
    got = np.concatenate(
        [pq.read_table(f, columns=["synapse_id"]).column(0).to_numpy() for f in files]
    )
    want = _expected_synapse_ids(touch_dir, corpus["files"])
    idx = np.random.default_rng(0).choice(n, min(sample, n), replace=False)
    bad = int((got[idx] != want[idx]).sum())
    _require(bad == 0, f"{bad} of {len(idx)} sampled synapse_id values differ")


class Workload:
    name = ""
    rows = 0
    #: make one untimed call before the timed ones
    warm_up = False

    def __init__(self, spark, work: str, seed: int, size: dict):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = size

    def prepare(self) -> None:
        raise NotImplementedError

    def reset(self) -> None:
        """Remove the previous run's outputs (untimed)."""

    def run(self):
        raise NotImplementedError

    def check(self, result) -> None:
        raise NotImplementedError

    def trace_counts(self, calls: list) -> dict:
        """Per-layer counts of one traced call, computed after it returned;
        ``calls`` holds the ``(name, arguments, result)`` of the entry
        points the traced phase captures (``tracing.CAPTURE``)."""
        return {}

    def in_bytes(self) -> int:
        raise NotImplementedError

    def out_bytes(self) -> int:
        raise NotImplementedError


def check_bundle(bundle: str, corpus: dict) -> dict:
    """Both node_id_to_ranges tables are dense over node_count; the
    range_to_edge_id ranges of each direction tile [0, n_edges) exactly
    once.  Returns the range count per direction."""
    n_edges = corpus["records"]
    counts = {
        "source_to_target": corpus["source_node_count"],
        "target_to_source": corpus["target_node_count"],
    }
    ranges = {}
    idx = os.path.join(bundle, "edges", POPULATION, "indices")
    for direction, node_count in counts.items():
        nodes = pq.ParquetDataset(os.path.join(idx, direction, "node_id_to_ranges.parquet")).read()
        _require(
            nodes.num_rows == node_count,
            f"{direction}: node_id_to_ranges has {nodes.num_rows} rows, node_count {node_count}",
        )
        r = pq.ParquetDataset(os.path.join(idx, direction, "range_to_edge_id.parquet")).read(
            columns=["edge_start", "edge_end"]
        )
        start = r.column("edge_start").to_numpy()
        end = r.column("edge_end").to_numpy()
        order = np.argsort(start, kind="stable")
        start, end = start[order], end[order]
        _require(len(start) > 0, f"{direction}: no ranges")
        _require(
            start[0] == 0 and end[-1] == n_edges
            and bool(np.all(start[1:] == end[:-1])) and bool(np.all(start < end)),
            f"{direction}: range_to_edge_id does not tile [0, {n_edges}) exactly once",
        )
        ranges[direction] = len(start)
    return ranges


def check_h5_edges(bundle: str, h5: str) -> None:
    """Every edge dataset of the .h5 equals the bundle's edge table in
    row_index order, read back with the engine's own HDF5 reader."""
    import json

    from parquet_converters_spark.sinks.hdf5_minimal import MiniH5Reader

    pop_dir = os.path.join(bundle, "edges", POPULATION)
    with open(os.path.join(pop_dir, "attributes.json")) as f:
        manifest = json.load(f)
    table = pq.read_table(os.path.join(pop_dir, "table.parquet"))
    order = np.argsort(table.column(manifest["row_index_column"]).to_numpy())
    reader = MiniH5Reader(h5)
    top = set(manifest["top_level_datasets"])
    names = list(manifest["top_level_datasets"]) + [
        n for n in manifest["property_datasets"] if n not in top
    ]
    _require(bool(names), "bundle manifest lists no edge datasets")
    for name in names:
        path = f"/edges/{POPULATION}/{name}" if name in top else f"/edges/{POPULATION}/0/{name}"
        want = table.column(name).to_numpy()[order]
        got = reader.read_dataset(path)
        floats = want.dtype.kind == "f"
        _require(
            got.shape == want.shape and bool(np.array_equal(got, want, equal_nan=floats)),
            f"{path} differs from the bundle's {name} column",
        )


class ConverterChain(Workload):
    """The paper's converter path on a seeded V3 touch corpus, in one call
    chain: ``touch2parquet`` (binary source, validation, transform,
    canonical sink), then ``parquet_to_sonata`` with the index and the
    parallel .h5 export (ordered scan, indexing, bundle and .h5 writers).
    Bypasses the dedup layers."""

    name = "converter_chain"

    def prepare(self):
        self.src = os.path.join(self.work, "touches")
        self.edges = os.path.join(self.work, "edges")
        self.bundle = os.path.join(self.work, "bundle")
        self.h5 = os.path.join(self.work, "edges.h5")
        self.corpus = gen.make_touch_corpus(self.src, self.seed, **self.size)
        self.rows = self.corpus["records"]

    def reset(self):
        _reset(self.edges, self.bundle, self.h5)

    def run(self):
        from parquet_converters_spark.pipelines import parquet_to_sonata, touch2parquet

        touch2parquet(self.spark, self.src, self.edges)
        parquet_to_sonata(
            self.spark, self.edges, self.bundle, population=POPULATION,
            with_index=True, h5_path=self.h5,
        )

    def check(self, result):
        check_canonical_edges(self.edges, self.src, self.corpus)
        self.ranges = check_bundle(self.bundle, self.corpus)
        check_h5_edges(self.bundle, self.h5)

    def trace_counts(self, calls) -> dict:
        return {
            "operators.indexing.ranges_s2t": self.ranges["source_to_target"],
            "operators.indexing.ranges_t2s": self.ranges["target_to_source"],
        }

    def in_bytes(self):
        return tree_bytes(self.src)

    def out_bytes(self):
        return tree_bytes(self.edges) + tree_bytes(self.bundle) + tree_bytes(self.h5)


class CorpusDedup(Workload):
    """prepare_corpus (quality gate, exact dedup, MinHash-LSH near dedup,
    connected components) with the survivors written to Parquet."""

    name = "corpus_dedup"
    warm_up = True

    def prepare(self):
        self.src = os.path.join(self.work, "corpus")
        self.planted = gen.make_doc_corpus(self.src, self.seed, **self.size)
        self.rows = self.planted["docs"]
        self.docs_path = os.path.join(self.src, "docs.parquet")
        self.out = os.path.join(self.work, "clean")
        self.first_funnel = None

    def reset(self):
        _reset(self.out)

    def run(self):
        from parquet_converters_spark.pipelines import prepare_corpus

        docs = self.spark.read.parquet(self.docs_path)
        clean, report = prepare_corpus(docs)
        # stored like the corpus (no compression, no dictionary), so the
        # output / input bytes measure what the funnel kept, not how well
        # a given seed's survivors happen to compress
        (
            clean.write.mode("overwrite")
            .option("compression", "none")
            .option("parquet.enable.dictionary", "false")
            .parquet(self.out)
        )
        return clean, {r["stage"]: r["n_docs"] for r in report.collect()}

    def check(self, result):
        _, funnel = result
        if self.first_funnel is None:
            self.first_funnel = funnel
        _require(funnel == self.first_funnel, f"funnel {funnel} != first run {self.first_funnel}")
        for stage, planted in (("raw", "docs"), ("quality", "quality"), ("exact_unique", "exact_unique")):
            _require(
                funnel.get(stage) == self.planted[planted],
                f"{stage}: {funnel.get(stage)} != planted {self.planted[planted]}",
            )
        written = sum(pq.read_metadata(f).num_rows for f in _part_files(self.out))
        _require(written == funnel["near_unique"], f"wrote {written} survivors, funnel says {funnel['near_unique']}")

    def trace_counts(self, calls) -> dict:
        """The LSH candidate pairs prepare_corpus generated (rows of the
        pairs frame its near_dedup_pipeline call returned: one per matching
        band), and the share of them that is useful work: the distinct
        pairs among those candidates whose shingle-set Jaccard is at least
        0.5, found by repeating that call with verification on."""
        from parquet_converters_spark.functions.dedup import near_dedup_pipeline

        ((_, args, (_, pairs)),) = calls
        candidates = pairs.count()
        confirmed = near_dedup_pipeline(**{**args, "jaccard_threshold": 0.5})[1].count()
        return {
            "functions.dedup.candidate_pairs": candidates,
            "functions.dedup.pair_yield": confirmed / candidates if candidates else 0.0,
        }

    def in_bytes(self):
        return tree_bytes(self.docs_path)

    def out_bytes(self):
        return tree_bytes(self.out)


WORKLOADS = {w.name: w for w in (CorpusDedup, ConverterChain)}
