"""touch2parquet's fused job (decode, section check, canonical projection
and write in one Arrow task per record range) against the Column
reference ``to_canonical_edges(validate_sections(read_touches(...)))``,
compared row for row and bit for bit on what the job wrote."""

import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.touch_fixtures import (
    plant_pre_section,
    seeded_payload,
    seeded_runs,
    write_seeded_corpus,
    write_touch_pair,
)

#: byte offsets of the four section/segment ids in every record layout
PRE_SECTION, PRE_SEGMENT, POST_SECTION, POST_SEGMENT = 4, 8, 16, 20


def _written(out):
    """The part files of ``out`` in name order (global row order)."""
    files = sorted(glob.glob(os.path.join(out, "part-*.parquet")))
    return pa.concat_tables([pq.read_table(f) for f in files])


def _reference(spark, path, version, strict=True):
    from parquet_converters_spark.operators.touch_transform import (
        to_canonical_edges,
        validate_sections,
    )
    from parquet_converters_spark.sources.touch_binary import read_touches

    raw = read_touches(spark, path)
    return to_canonical_edges(validate_sections(raw, strict), version)


@pytest.fixture
def ranges_of_100(monkeypatch):
    """Plan 100-record ranges, so a few hundred records span several
    tasks and part files."""
    from parquet_converters_spark.sources import touch_binary

    monkeypatch.setattr(touch_binary, "DEFAULT_RECORDS_PER_PARTITION", 100)


def _assert_same_rows(got: pa.Table, want: pa.Table):
    """Equal column names, types and values bit for bit (NaN-safe)."""
    assert got.schema.names == want.schema.names
    assert got.num_rows == want.num_rows
    for name in want.schema.names:
        a = got.column(name).combine_chunks()
        b = want.column(name).combine_chunks()
        assert a.type == b.type, name
        assert a.null_count == b.null_count == 0, name
        ints = np.dtype(f"i{a.type.bit_width // 8}")
        assert np.array_equal(
            a.to_numpy().view(ints), b.to_numpy().view(ints)
        ), name


def _convert_and_compare(spark, tmp_path, path, version, **kw):
    from parquet_converters_spark.pipelines import touch2parquet

    out = str(tmp_path / f"out-{os.urandom(4).hex()}")
    n = touch2parquet(spark, path, out, **kw)
    want = _reference(spark, path, version, kw.get("strict", True)).toArrow()
    got = _written(out)
    assert n == got.num_rows
    _assert_same_rows(got, want)
    return out


@pytest.mark.parametrize("version", [1, 2, 3])
def test_kernel_matches_reference_projection(spark, tmp_path, version):
    write_seeded_corpus(str(tmp_path), 70 + version, version, 2, 300)
    _convert_and_compare(spark, tmp_path, str(tmp_path), version)


def test_kernel_endian_swapped(spark, tmp_path):
    runs = seeded_runs(5, 200)
    path = write_touch_pair(
        str(tmp_path), 3, runs, seeded_payload(5, 3, runs, order=">"), order=">"
    )
    _convert_and_compare(spark, tmp_path, path, 3)


def test_kernel_multi_range(spark, tmp_path, ranges_of_100):
    """100-record ranges over 2 x 350 records: 8 ranges, one task and
    one part file each, in global order."""
    write_seeded_corpus(str(tmp_path), 81, 2, 2, 350)
    out = _convert_and_compare(spark, tmp_path, str(tmp_path), 2)
    assert len(glob.glob(os.path.join(out, "part-*.parquet"))) == 8


def test_kernel_non_strict_drops_what_the_reference_drops(
    spark, tmp_path, ranges_of_100
):
    """strict=False: 0x8000 in any of the four ids drops the row; 0x7FFF
    and negative ids that fit a short are kept, as in the reference."""
    (path,) = write_seeded_corpus(str(tmp_path), 82, 3, 1, 400)
    planted = [
        (3, PRE_SECTION, 0x7FFF), (10, PRE_SECTION, 0x8000),
        (17, PRE_SEGMENT, 0x8000), (150, POST_SECTION, 0x8000),
        (151, POST_SEGMENT, 0x8000), (152, POST_SEGMENT, 0x7FFF),
        (200, PRE_SECTION, -1), (201, POST_SEGMENT, -0x8000),
        (399, PRE_SEGMENT, 0x10000),
    ]
    for record, offset, value in planted:
        plant_pre_section(path, 3, record, value, offset=offset)
    out = _convert_and_compare(spark, tmp_path, path, 3, strict=False)
    assert pq.read_metadata(os.path.join(out, "_metadata")).num_rows == 400 - 5


def test_kernel_rejects_ids_a_short_cannot_hold(spark, tmp_path):
    """A negative id below -0x8000 passes the section check but fits no
    short: the reference's ANSI cast fails its job, and so does the
    kernel, naming the column."""
    from parquet_converters_spark.pipelines import touch2parquet

    (path,) = write_seeded_corpus(str(tmp_path), 86, 1, 1, 50)
    plant_pre_section(path, 1, 7, -40000)
    with pytest.raises(Exception, match="CAST_OVERFLOW"):
        _reference(spark, path, 1).collect()
    with pytest.raises(Exception, match="efferent_section_id value -40000"):
        touch2parquet(spark, path, str(tmp_path / "out"))
    assert not os.path.exists(tmp_path / "out")


def test_kernel_strict_names_the_bad_row(spark, tmp_path):
    from parquet_converters_spark.pipelines import touch2parquet

    (path,) = write_seeded_corpus(str(tmp_path), 83, 2, 1, 100)
    plant_pre_section(path, 2, 40, 0x8001, offset=POST_SECTION)
    with pytest.raises(ValueError, match="endianess") as e:
        touch2parquet(spark, path, str(tmp_path / "out"))
    assert "post_section=32769" in str(e.value)
    assert "Traceback" not in str(e.value)


def test_kernel_limit_converts_and_checks_the_first_records(
    spark, tmp_path, ranges_of_100
):
    """limit=n converts exactly the first n records in global order
    (across ranges and files) and checks only those: a bad record just
    past the limit does not fail the call, one inside it does."""
    from parquet_converters_spark.pipelines import touch2parquet

    src = tmp_path / "in"
    src.mkdir()
    paths = write_seeded_corpus(str(src), 84, 3, 2, 150)
    full = _reference(spark, str(src), 3).toArrow()
    plant_pre_section(paths[1], 3, 30, 0x8000)  # global record 180
    for n in (0, 1, 99, 180):
        out = str(tmp_path / f"lim{n}")
        assert touch2parquet(spark, str(src), out, limit=n) == n
        _assert_same_rows(_written(out), full.slice(0, n))
    with pytest.raises(ValueError, match="endianess"):
        touch2parquet(spark, str(src), str(tmp_path / "bad"), limit=181)


def test_static_schema_equals_reference_projection(spark, tmp_path):
    """The Arrow schema and the row metadata the job writes are built
    without Spark, and equal what Spark gives for the Column projection."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from parquet_converters_spark.operators.touch_transform import (
        canonical_schema,
    )
    from parquet_converters_spark.sinks.parquet_sink import kv_arrow_schema

    for version in (1, 2, 3):
        d = tmp_path / f"v{version}"
        d.mkdir()
        (path,) = write_seeded_corpus(str(d), 85, version, 1, 10)
        ref = _reference(spark, path, version)
        assert canonical_schema(version) == ref.schema
        schema = kv_arrow_schema(canonical_schema(version), spark.version, {})
        assert schema.remove_metadata() == to_arrow_schema(ref.schema)
        row_metadata = schema.metadata[b"org.apache.spark.sql.parquet.row.metadata"]
        assert row_metadata.decode() == ref._jdf.schema().json()
