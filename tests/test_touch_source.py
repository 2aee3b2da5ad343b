"""Layer-2 tests (SURVEY §5): fixture round-trips of the touch binary
source against an independent pure-python decoder."""

import math
import os

import pytest

from tests.conftest import REFERENCE_TESTS
from tests.reference_decode import decode_file
from tests.touch_fixtures import seeded_payload, seeded_runs, write_touch_pair

FIXTURES = [
    ("touches_v1", 1, 82),
    ("touches_v2", 2, 1104),
    ("touches_v3", 3, 62),
]


@pytest.mark.parametrize("name,version,count", FIXTURES)
def test_fixture_roundtrip(spark, name, version, count):
    from parquet_converters_spark.sources.touch_binary import read_touches

    path = os.path.join(REFERENCE_TESTS, name, "touchesData.0")
    df = read_touches(spark, path)
    rows = {r["file_pos"]: r.asDict() for r in df.collect()}
    assert len(rows) == count

    def close(a, b):
        if math.isnan(b):
            return math.isnan(a)
        return math.isclose(a, b, rel_tol=1e-6)

    n_checked = 0
    for expect in decode_file(path):
        got = rows[expect["file_pos"]]
        for k, v in expect.items():
            g = got[k]
            if isinstance(v, float):
                assert close(g, v), (k, g, v)
            elif isinstance(v, list):
                assert all(close(a, b) for a, b in zip(g, v)), (k, g, v)
            else:
                assert g == v, (k, g, v)
        n_checked += 1
    assert n_checked == count


@pytest.fixture(scope="module")
def v2_generated(tmp_path_factory):
    """A seeded V2 file of 1104 records (the reference v2 fixture's size)."""
    runs = seeded_runs(7, 1104)
    return write_touch_pair(
        str(tmp_path_factory.mktemp("v2gen")), 2, runs, seeded_payload(7, 2, runs)
    )


def test_partitioned_scan_matches_single_partition(spark, v2_generated):
    """Static range-split (S6): many small partitions must yield the same
    rows as one, partition *i* holding range *i* (global row order)."""
    from parquet_converters_spark.sources.touch_binary import read_touches

    whole = read_touches(spark, v2_generated).collect()
    split = read_touches(spark, v2_generated, records_per_partition=100)
    assert split.rdd.getNumPartitions() == 12
    rows = split.collect()
    assert [r["file_pos"] for r in rows] == list(range(1104))
    expect = [r["synapse_id"] for r in decode_file(v2_generated)]
    assert [r["synapse_id"] for r in rows] == expect
    assert [r["synapse_id"] for r in whole] == expect


def test_synapse_id_packing(spark, tmp_path):
    """synapse_id = (gid << 24) + (file_pos - shift[gid])
    (touch_reader.cpp:275-287)."""
    from parquet_converters_spark.sources.touch_binary import read_touches

    runs = seeded_runs(11, 300)
    path = write_touch_pair(str(tmp_path), 1, runs, seeded_payload(11, 1, runs))
    got = read_touches(spark, path).collect()
    assert len(got) == 300
    for r in got:
        assert r["synapse_id"] >> 24 == r["pre_neuron_id"]
    assert [r["synapse_id"] for r in got] == [
        r["synapse_id"] for r in decode_file(path)
    ]


def test_endian_swapped_input(spark, tmp_path):
    """S3: a big-endian file (header, NeuronInfo and records) decodes to
    the same rows as its little-endian twin."""
    from parquet_converters_spark.sources.touch_binary import read_touches

    runs = seeded_runs(5, 200)
    le, be = tmp_path / "le", tmp_path / "be"
    le.mkdir()
    be.mkdir()
    le_path = write_touch_pair(str(le), 1, runs, seeded_payload(5, 1, runs))
    be_path = write_touch_pair(
        str(be), 1, runs, seeded_payload(5, 1, runs, order=">"), order=">"
    )
    assert open(le_path, "rb").read() != open(be_path, "rb").read()

    expect = [tuple(r.values()) for r in decode_file(le_path)]
    got = read_touches(spark, be_path).collect()
    assert [tuple(r) for r in got] == expect
    assert got == read_touches(spark, le_path).collect()


def test_observe_conversion_counters(spark, tmp_path, v2_generated):
    """M1 progress/verification counters ride the conversion job itself
    (observe() metrics — no second pass), matching an explicit recount."""
    from parquet_converters_spark.observability import observe_conversion
    from parquet_converters_spark.sources.touch_binary import read_touches

    df = read_touches(spark, v2_generated)
    obs, observed = observe_conversion(df)
    out = str(tmp_path / "observed_out")
    observed.write.parquet(out)  # the one and only action
    m = obs.get
    recount = list(decode_file(v2_generated))
    assert m["n_records"] == len(recount) == 1104
    assert m["n_bad_sections"] == 0
    assert m["max_pre_gid"] == max(r["pre_neuron_id"] for r in recount)
