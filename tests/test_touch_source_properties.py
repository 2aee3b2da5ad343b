"""Property-based fuzz of the touch binary source (the engine's core
reference surface): random synthetic touch files — any version, random
per-gid run structure, random field values — must decode IDENTICALLY
through the Spark vectorized scan and through the independent
stdlib-struct reference decoder (tests/reference_decode.py), including
the synapse_id packing.  This is the generative extension of the
fixture round-trip tests: the fixtures pin three known files, this
pins the format contract itself.
"""

import os
import struct

import pytest

try:
    from hypothesis import given, settings, strategies as st

    HAVE_HYPOTHESIS = True
except Exception:  # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)

from tests.reference_decode import decode_file
from tests.touch_fixtures import write_touch_pair

_I32 = st.integers(-(2**31), 2**31 - 1)
_SMALL = st.integers(0, 1 << 20)
# floats built from integers: exactly representable in float32, so both
# decoders and the row comparison see identical values (no NaN/rounding
# asymmetry — NaN payloads are a separate concern from run structure)
_F32 = st.integers(-(10**6), 10**6).map(float)


@st.composite
def _touch_file(draw):
    version = draw(st.sampled_from([1, 2, 3]))
    n_runs = draw(st.integers(1, 5))
    gids = draw(
        st.lists(
            st.integers(0, 1000), min_size=n_runs, max_size=n_runs, unique=True
        )
    )
    runs = [(g, draw(st.integers(1, 6))) for g in gids]
    records = []
    for g, count in runs:
        for _ in range(count):
            ints = [g] + [draw(_I32) for _ in range(5)] + [draw(_I32)]
            floats = [draw(_F32) for _ in range(3)]
            rec = struct.pack("<7i3f", *ints, *floats)
            if version >= 2:
                rec += struct.pack(
                    "<2f3f3ffB3x",
                    *[draw(_F32) for _ in range(9)],
                    draw(st.integers(0, 3)),
                )
            if version >= 3:
                rec += struct.pack("<6f", *[draw(_F32) for _ in range(6)])
            records.append(rec)
    return version, runs, b"".join(records)


@settings(max_examples=8, deadline=None)
@given(_touch_file())
def test_spark_scan_matches_reference_decoder(spark, tmp_path_factory, tf):
    from parquet_converters_spark.sources.touch_binary import read_touches

    version, runs, payload = tf
    tmpdir = str(tmp_path_factory.mktemp("fuzz_touch"))
    data_path = write_touch_pair(tmpdir, version, runs, payload)

    expected = sorted(decode_file(data_path), key=lambda r: r["synapse_id"])
    got = sorted(
        (r.asDict() for r in read_touches(spark, data_path).collect()),
        key=lambda r: r["synapse_id"],
    )
    assert len(got) == len(expected) == sum(c for _, c in runs)
    for g_row, e_row in zip(got, expected):
        for k, v in e_row.items():
            if k == "file_pos":
                continue  # scan-internal; not part of the row contract
            gv = g_row[k]
            if isinstance(v, list):
                assert [round(x, 4) for x in gv] == [round(x, 4) for x in v]
            elif isinstance(v, float):
                assert gv == pytest.approx(v, rel=1e-6)
            else:
                assert gv == v, (k, gv, v)
