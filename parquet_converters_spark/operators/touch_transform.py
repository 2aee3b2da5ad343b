"""Touch -> canonical edge transform (reference operators P1-P6, L1).

The reference does this in a hand-written row->column transpose
(``src/touches/parquet_writer.cpp:189-296``); in Spark it is a single
narrow ``select`` — column-at-a-time already, entirely inside whole-stage
codegen, no shuffle, no Python in the hot path.

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

from parquet_converters_spark.schemas import V1, V2, V3

BRANCH_MASK = 0xF
BRANCH_SHIFT = 4
BRANCH_OFFSET = 1
SECTION_LIMIT = 0x7FFF
SECTION_ERROR = "Invalid pre_section/segment value > 0x7fff. Please check endianess."


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
        ids = ("pre_section", "pre_segment", "post_section", "post_segment")
        msg = F.format_string(
            SECTION_ERROR + " Bad row: " + ", ".join(f"{c}=%d" for c in ids),
            *ids,
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
