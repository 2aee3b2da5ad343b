"""Fixed-width touch binary source (reference operators S1-S3).

The reference reads row-oriented packed ``v1/v2/v3::Touch`` structs with a
sidecar header/index file (``src/touches/touch_reader.cpp:46-145``):

- header ``{double architectureIdentifier; int64 numberOfNeurons;
  char version[16]}`` (32 bytes) — the magic double 1.001 doubles as an
  endianness probe (``touch_reader.cpp:14,89``);
- semver parse of ``version`` selects the record layout: >=6.0 or >=5.4
  -> V3, >=5.0 or >=4.99 -> V2, unparseable git hashes -> V1
  (``touch_reader.cpp:95-117``);
- ``NeuronInfoSerialized {int id; uint32 count; int64 offset}`` records
  become the per-gid ``shifts`` table (``touch_reader.cpp:119-144``);
- at scan time each record gains ``synapse_id = (pre_gid << 24) +
  (file_pos - shifts[pre_gid])`` with a hard error when a gid exceeds
  2^24 touches (``touch_reader.cpp:275-287``).

Spark-first design: a ``mapInArrow`` over ``spark.range``, planned by the
JVM (no Python DataSource).  Partition planning is driver-side and
*byte-range based* — each input partition owns a disjoint record range of
one file (the same static range split the reference does across MPI
ranks, ``src/touch2parquet.cpp:110-115``), so a 100 TB touch corpus scans
with full parallelism and no shuffle.  Record decode is vectorized:
``np.frombuffer`` with a structured dtype (endian handled by dtype byte
order, cf. the reference's flat-uint32 byteswap at
``touch_reader.cpp:261-273``), emitted as Arrow RecordBatches:
:func:`read_touches` hands them to Spark, and ``touch2parquet`` converts
and writes them in the same Python task (:func:`decode_ranges`).
"""

from __future__ import annotations

import glob as _glob
import os
import struct
from dataclasses import dataclass

from parquet_converters_spark.schemas import (
    RECORD_SIZE,
    V1,
    V2,
    V3,
    touch_dtype,
    touch_schema,
)

ARCHITECTURE_IDENTIFIER = 1.001
HEADER_SIZE = 32
NEURON_INFO_SIZE = 16
SYNAPSE_INDEX_BITS = 24

#: default records per input partition, sized to ~128 MB of v2 records
DEFAULT_RECORDS_PER_PARTITION = 1_600_000
#: records per decoded Arrow batch
BATCH_ROWS = 512 * 1024


@dataclass
class TouchHeader:
    version: int            # V1 | V2 | V3
    version_string: str
    endian_swap: bool
    record_size: int
    record_count: int
    shift_ids: tuple        # sorted gid array
    shift_values: tuple     # per-gid record shift (offset / record_size)


def _index_path(data_path: str) -> str:
    """touchesData.0 -> touches.0 (reference touch_reader.cpp:81-85)."""
    base = os.path.basename(data_path)
    idx = base.rfind("Data")
    if idx < 0:
        raise ValueError(f"Cannot determine index for file {data_path}")
    return os.path.join(os.path.dirname(data_path), base[:idx] + base[idx + 4:])


def _parse_version(version_string: str) -> int:
    """Version rules of touch_reader.cpp:95-117 (git-hash strings -> V1)."""
    try:
        parts = [int(p) for p in version_string.split(".")]
    except ValueError:
        return V1
    if not parts:
        return V1
    if parts[0] >= 6 or (len(parts) >= 2 and parts[0] >= 5 and parts[1] >= 4):
        return V3
    if parts[0] >= 5 or (len(parts) >= 2 and parts[0] >= 4 and parts[1] >= 99):
        return V2
    return V1


def read_touch_header(data_path: str) -> TouchHeader:
    """Parse the sidecar header/index file for one touch data file.

    Driver-side (the sidecar is tiny); the shifts table ships to executors
    inside each partition's range.
    """
    with open(_index_path(data_path), "rb") as f:
        raw = f.read()
    if len(raw) < HEADER_SIZE:
        raise ValueError(f"truncated touch index {_index_path(data_path)}")

    arch_le, = struct.unpack("<d", raw[:8])
    endian_swap = arch_le != ARCHITECTURE_IDENTIFIER
    order = ">" if endian_swap else "<"
    arch, n_neurons = struct.unpack(order + "dq", raw[:16])
    if endian_swap and arch != ARCHITECTURE_IDENTIFIER:
        raise ValueError(
            f"bad architecture identifier {arch_le!r}/{arch!r} in "
            f"{_index_path(data_path)}"
        )
    version_string = raw[16:32].split(b"\x00")[0].decode("ascii", "replace")
    version = _parse_version(version_string)
    record_size = RECORD_SIZE[version]

    # NeuronInfo records. The header may claim more entries than the file
    # holds (the v1 fixture says 1000 neurons over a 16-byte tail); the
    # reference zero-fills the missing tail, which contributes only
    # (id=0, count=0, offset=0) entries — equivalent to parsing what is
    # present and defaulting absent gids to shift 0, which is what we do.
    body = raw[HEADER_SIZE:]
    n_avail = len(body) // NEURON_INFO_SIZE
    n = min(int(n_neurons), n_avail) if n_neurons >= 0 else n_avail
    shifts: dict[int, int] = {}
    for i in range(n):
        nid, count, offset = struct.unpack_from(order + "iIq", body, i * NEURON_INFO_SIZE)
        if nid in shifts and offset == 0 and count == 0:
            continue  # reference skips duplicate empty entries (:138-140)
        shifts[nid] = offset // record_size

    size = os.path.getsize(data_path)
    if size % record_size:
        raise ValueError(
            f"{data_path}: size {size} not a multiple of record size {record_size}"
        )
    ids = sorted(shifts)
    return TouchHeader(
        version=version,
        version_string=version_string,
        endian_swap=endian_swap,
        record_size=record_size,
        record_count=size // record_size,
        shift_ids=tuple(ids),
        shift_values=tuple(shifts[i] for i in ids),
    )


def _expand_paths(path_option: str) -> list[str]:
    """Sorted data-file list from a path, glob, or directory (the reference
    sorts file names to fix global order, parquet2hdf5.cpp:236)."""
    paths: list[str] = []
    for p in path_option.split(","):
        p = p.strip()
        if not p:
            continue
        if os.path.isdir(p):
            paths.extend(_glob.glob(os.path.join(p, "touchesData.*")))
        elif any(ch in p for ch in "*?["):
            paths.extend(_glob.glob(p))
        else:
            paths.append(p)
    if not paths:
        raise FileNotFoundError(f"no touch data files match {path_option!r}")
    return sorted(paths)


def _decode_batch(buf: bytes, header_tuple, start: int, n: int):
    """Vectorized decode of ``n`` packed records starting at file record
    index ``start`` -> pyarrow RecordBatch (arrays built zero-copy where
    possible)."""
    import numpy as np
    import pyarrow as pa

    (version, endian_swap, record_size, shift_ids, shift_values) = header_tuple
    dt = touch_dtype(version)
    if endian_swap:
        dt = dt.newbyteorder(">")
    rec = np.frombuffer(buf, dtype=dt, count=n)
    if endian_swap:
        # native-order copy once, instead of the reference's per-record
        # 32-bit swap loop (touch_reader.cpp:261-273)
        rec = rec.astype(dt.newbyteorder("<"))

    pre_gid = rec["pre_neuron_id"].astype(np.int64)
    file_pos = np.arange(start, start + n, dtype=np.int64)

    # per-gid shift lookup via sorted-array searchsorted; absent gids -> 0
    ids = np.asarray(shift_ids, dtype=np.int64)
    vals = np.asarray(shift_values, dtype=np.int64)
    if len(ids):
        pos = np.searchsorted(ids, pre_gid)
        pos_c = np.clip(pos, 0, len(ids) - 1)
        hit = ids[pos_c] == pre_gid
        shift = np.where(hit, vals[pos_c], 0)
    else:
        shift = np.zeros_like(pre_gid)

    index = file_pos - shift
    if (index >= (1 << SYNAPSE_INDEX_BITS)).any():
        bad = int(pre_gid[index >= (1 << SYNAPSE_INDEX_BITS)][0])
        raise RuntimeError(
            f"gid {bad} has more than 2^24 touches, can't assign unique "
            "synapse indices"  # touch_reader.cpp:278-283
        )
    synapse_id = (pre_gid << SYNAPSE_INDEX_BITS) + index

    def f32(name):
        return pa.array(np.ascontiguousarray(rec[name]), type=pa.float32())

    def i32(name):
        return pa.array(np.ascontiguousarray(rec[name]), type=pa.int32())

    def vec3(name):
        flat = np.ascontiguousarray(rec[name]).reshape(-1)
        offsets = pa.array(np.arange(0, 3 * (n + 1), 3, dtype=np.int32))
        return pa.ListArray.from_arrays(offsets, pa.array(flat, type=pa.float32()))

    cols = {
        "pre_neuron_id": i32("pre_neuron_id"),
        "pre_section": i32("pre_section"),
        "pre_segment": i32("pre_segment"),
        "post_neuron_id": i32("post_neuron_id"),
        "post_section": i32("post_section"),
        "post_segment": i32("post_segment"),
        "branch": i32("branch"),
        "distance_soma": f32("distance_soma"),
        "pre_offset": f32("pre_offset"),
        "post_offset": f32("post_offset"),
    }
    if version >= V2:
        cols.update(
            pre_section_fraction=f32("pre_section_fraction"),
            post_section_fraction=f32("post_section_fraction"),
            pre_position=vec3("pre_position"),
            post_position=vec3("post_position"),
            spine_length=f32("spine_length"),
            branch_type=pa.array(
                rec["branch_type"].astype(np.int16), type=pa.int16()
            ),
        )
    if version >= V3:
        cols.update(
            pre_position_center=vec3("pre_position_center"),
            post_position_surface=vec3("post_position_surface"),
        )
    cols["file_pos"] = pa.array(file_pos, type=pa.int64())
    cols["synapse_id"] = pa.array(synapse_id, type=pa.int64())
    return pa.RecordBatch.from_arrays(list(cols.values()), names=list(cols.keys()))


def plan_touch_ranges(
    path: str,
    records_per_partition: int | None = None,
    limit: int | None = None,
) -> tuple[TouchHeader, list]:
    """The first file's header and the ``(path, start, n, header_tuple)``
    record ranges of every file, in global order (the reference's
    per-rank static split, ``src/touch2parquet.cpp:110-115``).
    ``limit`` keeps only the first ``limit`` records (touch2parquet
    ``-n``, ``touch2parquet.cpp:47``)."""
    paths = _expand_paths(path)
    step = records_per_partition or DEFAULT_RECORDS_PER_PARTITION
    left = limit if limit is not None else float("inf")
    first, parts = None, []
    for p in paths:
        h = read_touch_header(p)
        first = first or h
        ht = (h.version, h.endian_swap, h.record_size, h.shift_ids, h.shift_values)
        for s in range(0, h.record_count, step):
            n = int(min(step, h.record_count - s, left))
            if n <= 0:
                return first, parts
            parts.append((p, s, n, ht))
            left -= n
    return first, parts


def decode_ranges(id_batches, parts):
    """Decoded Arrow batches of the ranges ``parts[i]`` for every index
    *i* in ``id_batches`` (a ``spark.range`` partition's batches)."""
    for batch in id_batches:
        for i in batch.column(0).to_pylist():
            part_path, start, n, ht = parts[i]
            with open(part_path, "rb") as f:
                f.seek(start * ht[2])
                for done in range(0, n, BATCH_ROWS):
                    k = min(BATCH_ROWS, n - done)
                    yield _decode_batch(f.read(k * ht[2]), ht, start + done, k)


def read_touches(spark, path: str, records_per_partition: int | None = None):
    """Read touch binary file(s) into a DataFrame (raw pre-rename schema +
    file_pos + synapse_id).

    Partition *i* of a ``spark.range`` decodes range *i* of
    :func:`plan_touch_ranges`, so partition order is global row order
    and the sorted part-file names of a write keep it."""
    header, parts = plan_touch_ranges(path, records_per_partition)

    def decode_touch_binary(batches):
        return decode_ranges(batches, parts)

    return spark.range(len(parts), numPartitions=max(len(parts), 1)).mapInArrow(
        decode_touch_binary, touch_schema(header.version)
    )
