"""Touch -> canonical edge transform (reference operators P1-P6, L1).

The reference does this in a hand-written row->column transpose
(``src/touches/parquet_writer.cpp:189-296``).  ``touch2parquet`` runs it
as :func:`canonical_batch`, an Arrow kernel (numpy column operations,
no per-row Python) inside the same Python task that decodes the record
range and writes its part file, so a range crosses into the JVM and
back once, not three times.  Its schema is :func:`canonical_schema`,
built from ``schemas.py`` without planning a Spark projection.

The Column forms, :func:`validate_sections` (a lazy ``raise_error``
filter on :func:`invalid_sections`) and :func:`to_canonical_edges` (one
narrow ``select``), stay as the kernel's test reference: the tests
check the kernel row for row against
``to_canonical_edges(validate_sections(read_touches(...)))``.

Column mapping (parquet_writer.cpp:194-243):

- ``pre_*``/``post_*`` -> ``efferent_*``/``afferent_*``
- v2 ``pre_position`` -> ``efferent_surface_{x,y,z}``,
  ``post_position`` -> ``afferent_center_{x,y,z}``
- v3 ``pre_position_center`` -> ``efferent_center_{x,y,z}``,
  ``post_position_surface`` -> ``afferent_surface_{x,y,z}``
- ``branch_type`` (bit-packed uchar, hi nibble = pre) unpacks to
  ``{efferent,afferent}_section_type`` with the MorphIO +1 offset
  (``parquet_writer.h:63-69``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import StructField, StructType

from parquet_converters_spark.schemas import V2, V3, edge_schema

BRANCH_MASK = 0xF
BRANCH_SHIFT = 4
BRANCH_OFFSET = 1
SECTION_LIMIT = 0x7FFF
SECTION_ERROR = "Invalid pre_section/segment value > 0x7fff. Please check endianess."
SECTION_COLUMNS = ("pre_section", "pre_segment", "post_section", "post_segment")

#: canonical column -> raw touch column it copies (P1 renames)
_RAW_COLUMN = {
    "synapse_id": "synapse_id",
    "distance_soma": "distance_soma",
    "spine_length": "spine_length",
    "source_node_id": "pre_neuron_id",
    "target_node_id": "post_neuron_id",
    "efferent_section_id": "pre_section",
    "efferent_segment_id": "pre_segment",
    "afferent_section_id": "post_section",
    "afferent_segment_id": "post_segment",
    "efferent_segment_offset": "pre_offset",
    "afferent_segment_offset": "post_offset",
    "branch_order": "branch",
    "efferent_section_pos": "pre_section_fraction",
    "afferent_section_pos": "post_section_fraction",
}
#: canonical ``<prefix>_{x,y,z}`` -> raw float[3] touch column (P2)
_FLATTENED = {
    "efferent_surface": "pre_position",
    "afferent_center": "post_position",
    "efferent_center": "pre_position_center",
    "afferent_surface": "post_position_surface",
}


def unpack_branch_type(branch_type: Column | str) -> tuple[Column, Column]:
    """Bit-field unpack (P3): hi nibble -> efferent/pre section type, lo
    nibble -> afferent/post, both shifted by the MorphIO convention offset
    (``parquet_writer.h:63-69``, ``parquet_writer.cpp:232-233``)."""
    c = F.col(branch_type) if isinstance(branch_type, str) else branch_type
    eff = (F.shiftright(c, BRANCH_SHIFT).bitwiseAND(BRANCH_MASK) + BRANCH_OFFSET)
    aff = (c.bitwiseAND(BRANCH_MASK) + BRANCH_OFFSET)
    return eff.cast("byte"), aff.cast("byte")


def invalid_sections() -> Column:
    """The validation predicate (P6): true on a row with a section or
    segment id above 0x7FFF, the int16 maximum
    (``parquet_writer.cpp:207-219``)."""
    return (
        (F.col("pre_section") > SECTION_LIMIT)
        | (F.col("pre_segment") > SECTION_LIMIT)
        | (F.col("post_section") > SECTION_LIMIT)
        | (F.col("post_segment") > SECTION_LIMIT)
    )


def validate_sections(df: DataFrame, strict: bool = True) -> DataFrame:
    """Apply :func:`invalid_sections` — the reference hard-errors on
    ``pre_section`` and warns on the rest; we treat all four uniformly as
    errors when ``strict`` — lazily: the job consuming ``df`` fails with a
    ``SparkRuntimeException`` carrying :data:`SECTION_ERROR` and the four
    ids of a bad row — and drop the offending rows otherwise."""
    cond = invalid_sections()
    if strict:
        msg = F.format_string(
            SECTION_ERROR + " Bad row: "
            + ", ".join(f"{c}=%d" for c in SECTION_COLUMNS),
            *SECTION_COLUMNS,
        )
        return df.filter(F.when(cond, F.raise_error(msg)).otherwise(F.lit(True)))
    return df.filter(~cond)


def to_canonical_edges(df: DataFrame, version: int, limit: int | None = None) -> DataFrame:
    """Project the raw touch scan to the canonical SONATA-named edge table
    (P1 rename + P2 array flatten + P3 bit unpack), preserving the
    reference's column order.  ``limit`` mirrors touch2parquet ``-n`` (L1,
    ``touch2parquet.cpp:47``)."""
    cols = [
        F.col("synapse_id"),
        F.col("pre_neuron_id").alias("source_node_id"),
        F.col("post_neuron_id").alias("target_node_id"),
        F.col("pre_section").cast("short").alias("efferent_section_id"),
        F.col("pre_segment").cast("short").alias("efferent_segment_id"),
        F.col("post_section").cast("short").alias("afferent_section_id"),
        F.col("post_segment").cast("short").alias("afferent_segment_id"),
        F.col("pre_offset").alias("efferent_segment_offset"),
        F.col("post_offset").alias("afferent_segment_offset"),
        F.col("distance_soma"),
        F.col("branch").cast("byte").alias("branch_order"),
    ]
    if version >= V2:
        eff_type, aff_type = unpack_branch_type("branch_type")
        cols += [
            F.col("pre_section_fraction").alias("efferent_section_pos"),
            F.col("post_section_fraction").alias("afferent_section_pos"),
        ]
        cols += [
            F.col("pre_position")[i].alias(f"efferent_surface_{ax}")
            for i, ax in enumerate("xyz")
        ]
        cols += [
            F.col("post_position")[i].alias(f"afferent_center_{ax}")
            for i, ax in enumerate("xyz")
        ]
        cols += [
            F.col("spine_length"),
            eff_type.alias("efferent_section_type"),
            aff_type.alias("afferent_section_type"),
        ]
    if version >= V3:
        cols += [
            F.col("pre_position_center")[i].alias(f"efferent_center_{ax}")
            for i, ax in enumerate("xyz")
        ]
        cols += [
            F.col("post_position_surface")[i].alias(f"afferent_surface_{ax}")
            for i, ax in enumerate("xyz")
        ]
    out = df.select(*cols)
    if limit is not None:
        out = out.limit(limit)
    return out


def canonical_schema(version: int) -> StructType:
    """The Spark schema of :func:`to_canonical_edges` for ``version``,
    without planning it: :func:`~parquet_converters_spark.schemas.edge_schema`
    with the flattened position columns nullable, as Spark types an
    array element access."""
    return StructType([
        StructField(f.name, f.dataType, f.name[:-2] in _FLATTENED)
        for f in edge_schema(version)
    ])


def canonical_batch(batch, version: int, strict: bool = True):
    """:func:`validate_sections` then :func:`to_canonical_edges` on one
    decoded touch batch (``sources.touch_binary._decode_batch``), as an
    Arrow kernel: returns a ``pyarrow.RecordBatch`` of
    :func:`canonical_schema`.

    A row failing :func:`invalid_sections` raises ``ValueError`` with
    :data:`SECTION_ERROR` and its four ids when ``strict``, and is
    dropped otherwise.  A value that does not fit its narrower canonical
    type (``short`` ids, ``byte`` branch order) raises ``ValueError``,
    as Spark's ANSI cast does."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    def raw(name):
        return batch.column(name).to_numpy()

    bad = np.zeros(batch.num_rows, dtype=bool)
    for c in SECTION_COLUMNS:
        bad |= raw(c) > SECTION_LIMIT
    keep = None
    if bad.any():
        if strict:
            i = int(np.argmax(bad))
            raise ValueError(
                SECTION_ERROR + " Bad row: "
                + ", ".join(f"{c}={raw(c)[i]}" for c in SECTION_COLUMNS)
            )
        keep = ~bad

    schema = to_arrow_schema(canonical_schema(version))
    arrays = []
    for field in schema:
        name = field.name
        if name in _RAW_COLUMN:
            values = raw(_RAW_COLUMN[name])
        elif name[:-2] in _FLATTENED:
            flat = batch.column(_FLATTENED[name[:-2]]).flatten().to_numpy()
            values = flat.reshape(-1, 3)[:, "xyz".index(name[-1])]
        else:  # {efferent,afferent}_section_type (P3)
            bits = raw("branch_type")
            if name.startswith("efferent"):
                bits = bits >> BRANCH_SHIFT
            values = (bits & BRANCH_MASK) + BRANCH_OFFSET
        if keep is not None:
            values = values[keep]
        out = values.astype(field.type.to_pandas_dtype(), copy=False)
        if out.dtype.itemsize < values.dtype.itemsize and (out != values).any():
            v = int(values[np.argmax(out != values)])
            raise ValueError(f"{name} value {v} out of range for {field.type}")
        arrays.append(pa.array(out, type=field.type))
    return pa.RecordBatch.from_arrays(arrays, schema=schema)
