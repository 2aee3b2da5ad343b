"""Seeded input generators for the converter-pipeline benchmark.

Each generator takes the seed and a workload's size from ``SIZES`` and
writes plain files; the engine only ever sees those files.

- ``touch``: a V3 touch corpus (``touchesData.N`` + sidecar ``touches.N``)
  with per-gid contiguous runs.  Header magic 1.001, version ``6.0.0``,
  one ``NeuronInfo {int id; uint32 count; int64 offset}`` entry per gid
  whose byte offset is the start of that gid's run.  Sources are
  gid-ordered, targets uniform at random, so a converted edge table has
  long ``source_to_target`` runs and a fragmented ``target_to_source``
  side (about one range per edge).
- ``docs``: a document corpus (``doc_id``, ``text``) with planted
  low-quality, exact-duplicate and near-duplicate documents; the planted
  counts are returned and written next to the corpus as ``planted.json``.

Usage (the input a workload's run builds, at its ``full`` or ``smoke`` size)::

    python3 perfbench/gen.py converter_chain OUT_DIR --seed 1
    python3 perfbench/gen.py corpus_dedup OUT_DIR --seed 1 --profile smoke
"""

from __future__ import annotations

import argparse
import json
import os
import struct

import numpy as np

V3_RECORD_SIZE = 104
ARCHITECTURE_IDENTIFIER = 1.001
VERSION = b"6.0.0"

#: mean touches per source gid: long source_to_target runs
MEAN_RUN = 64
#: planted shares of the document corpus
JUNK_SHARE = 0.05
EXACT_SHARE = 0.1
NEAR_SHARE = 0.1

#: input sizes per workload; "smoke" (tiny) serves the self-test
SIZES = {
    "full": {
        "converter_chain": {"files": 4, "records": 12_500},
        "corpus_dedup": {"docs": 1500},
    },
    "smoke": {
        "converter_chain": {"files": 2, "records": 2000},
        "corpus_dedup": {"docs": 300},
    },
}


def _v3_dtype() -> np.dtype:
    # packed V3 record: 10 x 4-byte fields, the V2 block (uchar branch_type
    # + 3 pad bytes -> 80-byte stride) and two trailing float[3]
    return np.dtype(
        [
            ("pre_neuron_id", "<i4"), ("pre_section", "<i4"),
            ("pre_segment", "<i4"), ("post_neuron_id", "<i4"),
            ("post_section", "<i4"), ("post_segment", "<i4"),
            ("branch", "<i4"), ("distance_soma", "<f4"),
            ("pre_offset", "<f4"), ("post_offset", "<f4"),
            ("pre_section_fraction", "<f4"), ("post_section_fraction", "<f4"),
            ("pre_position", "<f4", (3,)), ("post_position", "<f4", (3,)),
            ("spine_length", "<f4"), ("branch_type", "u1"), ("_pad", "V3"),
            ("pre_position_center", "<f4", (3,)),
            ("post_position_surface", "<f4", (3,)),
        ]
    )


def make_touch_corpus(out_dir: str, seed: int, files: int, records: int) -> dict:
    """Write ``files`` V3 touch files of ``records`` records each.

    Every file owns a disjoint block of source gids; each gid's touches
    form one contiguous run.  Returns the corpus description the output
    checks need: record counts, and the node counts the converted edge
    table implies (``max(gid) + 1`` per side)."""
    dt = _v3_dtype()
    assert dt.itemsize == V3_RECORD_SIZE
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    gids_per_file = max(1, records // MEAN_RUN)
    n_targets = files * gids_per_file
    next_gid = 1
    max_target = 0
    for k in range(files):
        # run lengths: a random split of `records` into gids_per_file
        # non-empty runs
        cuts = np.sort(rng.choice(np.arange(1, records), gids_per_file - 1, replace=False))
        bounds = np.concatenate(([0], cuts, [records]))
        counts = np.diff(bounds)
        gids = np.arange(next_gid, next_gid + gids_per_file, dtype=np.int32)
        next_gid += gids_per_file

        rec = np.zeros(records, dtype=dt)
        rec["pre_neuron_id"] = np.repeat(gids, counts)
        rec["post_neuron_id"] = rng.integers(0, n_targets, records, dtype=np.int32)
        max_target = max(max_target, int(rec["post_neuron_id"].max()))
        for name, hi in (("pre_section", 3000), ("post_section", 3000),
                         ("pre_segment", 200), ("post_segment", 200),
                         ("branch", 40)):
            rec[name] = rng.integers(0, hi, records, dtype=np.int32)
        for name in ("distance_soma", "pre_offset", "post_offset",
                     "pre_section_fraction", "post_section_fraction",
                     "spine_length"):
            rec[name] = rng.random(records, dtype=np.float32)
        for name in ("pre_position", "post_position", "pre_position_center",
                     "post_position_surface"):
            rec[name] = rng.random((records, 3), dtype=np.float32) * 1000
        rec["branch_type"] = rng.integers(0, 256, records, dtype=np.uint8)
        rec.tofile(os.path.join(out_dir, f"touchesData.{k}"))

        header = struct.pack("<dq16s", ARCHITECTURE_IDENTIFIER, len(gids), VERSION)
        info = np.zeros(len(gids), dtype=[("id", "<i4"), ("count", "<u4"), ("offset", "<i8")])
        info["id"] = gids
        info["count"] = counts
        info["offset"] = bounds[:-1].astype(np.int64) * V3_RECORD_SIZE
        with open(os.path.join(out_dir, f"touches.{k}"), "wb") as f:
            f.write(header)
            f.write(info.tobytes())
    return {
        "files": files,
        "records_per_file": records,
        "records": files * records,
        "source_node_count": next_gid,
        "target_node_count": max_target + 1,
    }


_STOP = ["the", "and", "of", "to", "in", "is", "that", "for", "with", "on"]


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(4, 9))
        words.add("".join(rng.choice(letters, k)))
    return np.array(sorted(words))


def make_doc_corpus(out_dir: str, seed: int, docs: int) -> dict:
    """Write ``docs`` documents to ``out_dir/docs.parquet``.

    Planted shares of the corpus: ``JUNK_SHARE`` documents that fail the
    quality gate (too short), ``EXACT_SHARE`` verbatim copies of another
    document, ``NEAR_SHARE`` copies with one word replaced.  Returns the
    planted counts, including ``exact_unique`` — the number of distinct
    texts among the documents that pass the quality gate."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 3000)
    n_junk = int(docs * JUNK_SHARE)
    n_exact = int(docs * EXACT_SHARE)
    n_near = int(docs * NEAR_SHARE)
    n_base = docs - n_junk - n_exact - n_near

    def base_doc() -> list[str]:
        n = int(rng.integers(60, 120))
        words = rng.choice(vocab, n).tolist()
        # six distinct stopwords: every base document and every one-word
        # variant of it passes the quality gate's two-stopword rule
        for j, pos in enumerate(rng.choice(n, 6, replace=False)):
            words[pos] = _STOP[j]
        return words

    base = [base_doc() for _ in range(n_base)]
    texts = [" ".join(w) for w in base]
    for _ in range(n_exact):
        texts.append(texts[int(rng.integers(n_base))])
    for _ in range(n_near):
        words = list(base[int(rng.integers(n_base))])
        words[int(rng.integers(len(words)))] = str(vocab[int(rng.integers(len(vocab)))])
        texts.append(" ".join(words))
    good = len(texts)
    for _ in range(n_junk):
        texts.append(" ".join(rng.choice(vocab, 3).tolist()))
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    ids = np.arange(len(texts), dtype=np.int64) * 7 + 11
    os.makedirs(out_dir, exist_ok=True)
    # uncompressed and without a dictionary: how well a compressor or a
    # dictionary does here depends on how close the planted copies land to
    # their originals, so a compressed input's size would vary with the seed
    pq.write_table(
        pa.table({"doc_id": ids, "text": pa.array(texts, pa.string())}),
        os.path.join(out_dir, "docs.parquet"),
        use_dictionary=False,
        compression="none",
    )
    planted = {
        "docs": len(texts),
        "junk": n_junk,
        "exact_copies": n_exact,
        "near_copies": n_near,
        "quality": good,
        "exact_unique": len({texts[i] for i in range(len(texts)) if order[i] < good}),
    }
    with open(os.path.join(out_dir, "planted.json"), "w") as f:
        json.dump(planted, f, indent=1)
    return planted


GENERATORS = {"converter_chain": make_touch_corpus, "corpus_dedup": make_doc_corpus}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("workload", choices=list(GENERATORS))
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--profile", choices=list(SIZES), default="full")
    a = ap.parse_args()
    info = GENERATORS[a.workload](a.out_dir, a.seed, **SIZES[a.profile][a.workload])
    print(json.dumps(info))


if __name__ == "__main__":
    main()
