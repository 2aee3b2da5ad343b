"""Canonical schemas of the engine.

Two families (reference SURVEY §1):

1. *Touch* record stream — fixed-width packed C structs, versioned
   V1 ⊂ V2 ⊂ V3 by struct inheritance (reference
   ``src/touches/touch_defs.h:16-63``).  Represented here both as numpy
   structured dtypes (for the vectorized binary scan) and as Spark
   ``StructType``s (the post-scan logical schema).

2. *Canonical edge table* — the flat, non-nullable SONATA-named parquet
   schema produced by the reference's ``setupSchema``
   (``src/touches/parquet_writer.cpp:21-102``): pre/post renamed to
   efferent/afferent, float[3] positions flattened to _x/_y/_z.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql.types import (
    ArrayType,
    ByteType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StructField,
    StructType,
)

V1, V2, V3 = 1, 2, 3

#: packed record byte sizes incl. struct padding (touch_defs.h:20-62;
#: verified against fixture file sizes 3280/82=40, 88320/1104=80, 6448/62=104)
RECORD_SIZE = {V1: 40, V2: 80, V3: 104}

# ---------------------------------------------------------------------------
# numpy structured dtypes for the binary scan (little-endian native layout).
# v2 carries 3 bytes of tail padding after the uchar branch_type (offset 76,
# stride 80); v3 appends two float[3] after the padded v2 block.
# ---------------------------------------------------------------------------

_V1_FIELDS = [
    ("pre_neuron_id", "<i4"), ("pre_section", "<i4"), ("pre_segment", "<i4"),
    ("post_neuron_id", "<i4"), ("post_section", "<i4"), ("post_segment", "<i4"),
    ("branch", "<i4"),
    ("distance_soma", "<f4"),
    ("pre_offset", "<f4"), ("post_offset", "<f4"),
]

_V2_EXTRA = [
    ("pre_section_fraction", "<f4"), ("post_section_fraction", "<f4"),
    ("pre_position", "<f4", (3,)), ("post_position", "<f4", (3,)),
    ("spine_length", "<f4"),
    ("branch_type", "u1"),
    ("_pad", "V3"),  # 3 bytes tail padding -> 80-byte stride
]

_V3_EXTRA = [
    ("pre_position_center", "<f4", (3,)),
    ("post_position_surface", "<f4", (3,)),
]


def touch_dtype(version: int) -> np.dtype:
    """Numpy dtype matching the packed on-disk record of ``version``."""
    if version == V1:
        fields = _V1_FIELDS
    elif version == V2:
        fields = _V1_FIELDS + _V2_EXTRA
    elif version == V3:
        fields = _V1_FIELDS + _V2_EXTRA + _V3_EXTRA
    else:
        raise ValueError(f"unknown touch version {version}")
    dt = np.dtype(fields)
    assert dt.itemsize == RECORD_SIZE[version], (dt.itemsize, version)
    return dt


def _f(name: str, dtype, nullable: bool = False, metadata: dict | None = None) -> StructField:
    return StructField(name, dtype, nullable, metadata or {})


def touch_schema(version: int, with_file_pos: bool = True) -> StructType:
    """Logical Spark schema of the raw (pre-rename) touch scan.

    ``file_pos`` is the global record index within the source file — the
    ``i + offset_`` of the reference's synapse-id derivation
    (``touch_reader.cpp:277``).
    """
    fields = [
        _f("pre_neuron_id", IntegerType()), _f("pre_section", IntegerType()),
        _f("pre_segment", IntegerType()),
        _f("post_neuron_id", IntegerType()), _f("post_section", IntegerType()),
        _f("post_segment", IntegerType()),
        _f("branch", IntegerType()),
        _f("distance_soma", FloatType()),
        _f("pre_offset", FloatType()), _f("post_offset", FloatType()),
    ]
    if version >= V2:
        fields += [
            _f("pre_section_fraction", FloatType()),
            _f("post_section_fraction", FloatType()),
            _f("pre_position", ArrayType(FloatType(), False)),
            _f("post_position", ArrayType(FloatType(), False)),
            _f("spine_length", FloatType()),
            _f("branch_type", ShortType()),  # uchar 0..255 needs unsigned range
        ]
    if version >= V3:
        fields += [
            _f("pre_position_center", ArrayType(FloatType(), False)),
            _f("post_position_surface", ArrayType(FloatType(), False)),
        ]
    if with_file_pos:
        fields += [_f("file_pos", LongType()), _f("synapse_id", LongType())]
    return StructType(fields)


# ---------------------------------------------------------------------------
# Canonical edge table (reference parquet_writer.cpp:21-102; SURVEY §1.3).
# Column order matches the reference writer's schema exactly.
# ---------------------------------------------------------------------------

_EDGE_COLUMNS: list[tuple[str, object, int]] = [
    ("synapse_id", LongType(), V1),
    ("source_node_id", IntegerType(), V1),
    ("target_node_id", IntegerType(), V1),
    ("efferent_section_id", ShortType(), V1),
    ("efferent_segment_id", ShortType(), V1),
    ("afferent_section_id", ShortType(), V1),
    ("afferent_segment_id", ShortType(), V1),
    ("efferent_segment_offset", FloatType(), V1),
    ("afferent_segment_offset", FloatType(), V1),
    ("distance_soma", FloatType(), V1),
    ("branch_order", ByteType(), V1),
    ("efferent_section_pos", FloatType(), V2),
    ("afferent_section_pos", FloatType(), V2),
    ("efferent_surface_x", FloatType(), V2),
    ("efferent_surface_y", FloatType(), V2),
    ("efferent_surface_z", FloatType(), V2),
    ("afferent_center_x", FloatType(), V2),
    ("afferent_center_y", FloatType(), V2),
    ("afferent_center_z", FloatType(), V2),
    ("spine_length", FloatType(), V2),
    ("efferent_section_type", ByteType(), V2),
    ("afferent_section_type", ByteType(), V2),
    ("efferent_center_x", FloatType(), V3),
    ("efferent_center_y", FloatType(), V3),
    ("efferent_center_z", FloatType(), V3),
    ("afferent_surface_x", FloatType(), V3),
    ("afferent_surface_y", FloatType(), V3),
    ("afferent_surface_z", FloatType(), V3),
]


def edge_schema(version: int = V3) -> StructType:
    """Canonical (SONATA-named) edge schema for ``version``; all columns
    non-nullable (reference: every field ``Repetition::REQUIRED``)."""
    return StructType(
        [_f(name, dtype) for name, dtype, v in _EDGE_COLUMNS if v <= version]
    )


def edge_columns(version: int = V3) -> list[str]:
    return [name for name, _, v in _EDGE_COLUMNS if v <= version]
