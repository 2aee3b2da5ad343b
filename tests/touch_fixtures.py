"""Seeded touch-binary fixtures: ``touchesData.N`` plus its sidecar
``touches.N`` (header magic 1.001, version string, one ``NeuronInfo``
entry per gid run), little- or big-endian.

Records are packed with the same struct formats the independent decoder
``tests/reference_decode.py`` reads, so a test checks the engine's scan
against that decoder on files no engine code wrote.  Float fields hold
small integers (exact in float32) and section/segment ids stay within
int16, so a generated file converts under the strict section check.
"""

import os
import random
import struct

from tests.reference_decode import RECORD_FORMATS

VERSION_STRINGS = {1: b"4.0.0", 2: b"4.99.0", 3: b"6.0.0"}
RECORD_SIZE = {1: 40, 2: 80, 3: 104}
#: byte offset of ``pre_section`` inside every record layout
PRE_SECTION_OFFSET = 4


def seeded_runs(seed: int, records: int, mean_run: int = 16) -> list[tuple[int, int]]:
    """``(gid, count)`` runs summing to ``records``, distinct gids in
    random order."""
    rng = random.Random(seed)
    counts = []
    while sum(counts) < records:
        counts.append(min(rng.randint(1, 2 * mean_run), records - sum(counts)))
    gids = rng.sample(range(1, 50 * len(counts)), len(counts))
    return list(zip(gids, counts))


def seeded_payload(seed: int, version: int, runs, order: str = "<") -> bytes:
    """Packed records for ``runs``, field values drawn from ``seed``."""
    rng = random.Random(seed)
    fmt = order + RECORD_FORMATS[version][1:]
    out = []
    for gid, count in runs:
        for _ in range(count):
            ints = [
                gid, rng.randrange(0x8000), rng.randrange(0x8000),
                rng.randrange(1 << 20), rng.randrange(0x8000),
                rng.randrange(0x8000), rng.randrange(128),
            ]
            n_floats = {1: 3, 2: 12, 3: 18}[version]
            floats = [float(rng.randint(-10**6, 10**6)) for _ in range(n_floats)]
            if version == 1:
                out.append(struct.pack(fmt, *ints, *floats))
            else:
                out.append(struct.pack(
                    fmt, *ints, *floats[:12], rng.randrange(256), *floats[12:]
                ))
    return b"".join(out)


def write_touch_pair(tmpdir, version, runs, payload, index: int = 0, order: str = "<"):
    """Write ``touchesData.<index>`` and its sidecar; returns the data path."""
    rs = RECORD_SIZE[version]
    header = struct.pack(order + "dq", 1.001, len(runs))
    header += VERSION_STRINGS[version].ljust(16, b"\x00")
    pos = 0
    for g, count in runs:
        header += struct.pack(order + "iIq", g, count, pos * rs)
        pos += count
    data_path = os.path.join(tmpdir, f"touchesData.{index}")
    with open(os.path.join(tmpdir, f"touches.{index}"), "wb") as f:
        f.write(header)
    with open(data_path, "wb") as f:
        f.write(payload)
    return data_path


def write_seeded_corpus(tmpdir, seed: int, version: int, files: int, records: int):
    """``files`` seeded touch files of ``records`` records each; returns
    the data paths."""
    paths = []
    for i in range(files):
        runs = seeded_runs(seed + i, records)
        payload = seeded_payload(seed + i, version, runs)
        paths.append(write_touch_pair(tmpdir, version, runs, payload, index=i))
    return paths


def plant_pre_section(data_path: str, version: int, record: int, value: int,
                      offset: int = PRE_SECTION_OFFSET) -> None:
    """Overwrite one record's ``pre_section``, or the int32 field at byte
    ``offset`` of the record (little-endian file)."""
    with open(data_path, "r+b") as f:
        f.seek(record * RECORD_SIZE[version] + offset)
        f.write(struct.pack("<i", value))
