"""Conversion round-trip tests (SURVEY §5 layer 2): touch binary ->
canonical parquet, checked against the reference's checked-in golden
output ``tests/testCircuit.parquet`` and its physical writer options."""

import os

import pyarrow.parquet as pq
import pytest

from tests.conftest import REFERENCE_TESTS


@pytest.fixture(scope="module")
def v1_out(spark, tmp_path_factory):
    from parquet_converters_spark.pipelines import touch2parquet

    out = str(tmp_path_factory.mktemp("t2p") / "v1_edges.parquet")
    touch2parquet(
        spark, os.path.join(REFERENCE_TESTS, "touches_v1", "touchesData.0"), out
    )
    return out


def test_v1_matches_reference_golden(spark, v1_out):
    """Row-for-row parity with the reference's own converted fixture
    (compared as multisets — the reference CI compares after sorting,
    .ci/test_circuit1k_touches.sh)."""
    golden = pq.read_table(
        os.path.join(REFERENCE_TESTS, "testCircuit.parquet")
    ).to_pylist()
    ours = pq.read_table(v1_out).to_pylist()
    assert len(ours) == len(golden) == 82

    cols = list(golden[0].keys())

    def key(row):
        return tuple(
            round(row[c], 4) if isinstance(row[c], float) else row[c] for c in cols
        )

    assert sorted(key(r) for r in ours) == sorted(key(r) for r in golden)


@pytest.fixture(scope="module")
def v1_gen_out(spark, tmp_path_factory):
    """``v1_out``'s generated twin: an 82-record seeded V1 file."""
    from parquet_converters_spark.pipelines import touch2parquet
    from tests.touch_fixtures import write_seeded_corpus

    tmp = tmp_path_factory.mktemp("t2p_gen")
    (path,) = write_seeded_corpus(str(tmp), 61, 1, 1, 82)
    out = str(tmp / "v1_edges.parquet")
    touch2parquet(spark, path, out)
    return out


def test_v1_synapse_ids_unique_and_packed(v1_gen_out):
    t = pq.read_table(v1_gen_out)
    sid = t.column("synapse_id").to_pylist()
    gid = t.column("source_node_id").to_pylist()
    assert len(set(sid)) == len(sid)
    assert all(s >> 24 == g for s, g in zip(sid, gid))


def _assert_physical_layout(out):
    """W1 writer parity: snappy, dictionary off, small-int logical types
    (parquet_writer.cpp:122-124, :34-41,52-53), KV footer
    (parquet_writer.cpp:115-120); returns the footer KV."""
    import glob

    import pyarrow as pa

    f = pq.ParquetFile(glob.glob(os.path.join(out, "*.parquet"))[0])
    arrow = f.schema_arrow
    assert arrow.field("efferent_section_id").type == pa.int16()
    assert arrow.field("branch_order").type == pa.int8()
    assert arrow.field("synapse_id").type == pa.int64()
    schema = f.schema  # parquet schema: INT32 physical + INT_16 converted
    by_name = {schema.column(i).name: schema.column(i) for i in range(len(schema))}
    assert by_name["efferent_section_id"].physical_type == "INT32"
    assert "Int(bitWidth=16" in str(by_name["efferent_section_id"].logical_type)
    assert "Int(bitWidth=8" in str(by_name["branch_order"].logical_type)
    for rg in range(f.metadata.num_row_groups):
        for c in range(f.metadata.num_columns):
            col = f.metadata.row_group(rg).column(c)
            assert col.compression == "SNAPPY"
            assert "PLAIN_DICTIONARY" not in col.encodings
            assert "RLE_DICTIONARY" not in col.encodings
    kv = f.schema_arrow.metadata or {}
    assert b"touch2parquet_version" in kv
    assert b"touchdetector_version" in kv
    return kv


def test_physical_layout(v1_out):
    _assert_physical_layout(v1_out)


def test_v2_branch_type_unpack(spark, tmp_path):
    """P3: hi nibble -> efferent, lo nibble -> afferent, +1 MorphIO offset
    (parquet_writer.h:63-69)."""
    from parquet_converters_spark.operators.touch_transform import (
        to_canonical_edges,
    )
    from parquet_converters_spark.sources.touch_binary import read_touches
    from tests.touch_fixtures import write_seeded_corpus

    (path,) = write_seeded_corpus(str(tmp_path), 62, 2, 1, 1104)
    raw = read_touches(spark, path)
    edges = to_canonical_edges(raw, 2)
    joined = (
        raw.select("synapse_id", "branch_type")
        .join(edges.select("synapse_id", "efferent_section_type", "afferent_section_type"), "synapse_id")
        .collect()
    )
    assert len(joined) == 1104
    for r in joined:
        assert r["efferent_section_type"] == ((r["branch_type"] >> 4) & 0xF) + 1
        assert r["afferent_section_type"] == (r["branch_type"] & 0xF) + 1


def test_v3_full_columns(spark, tmp_path):
    from parquet_converters_spark.pipelines import touch2parquet
    from parquet_converters_spark.schemas import edge_columns
    from tests.touch_fixtures import write_seeded_corpus

    (path,) = write_seeded_corpus(str(tmp_path), 63, 3, 1, 62)
    out = str(tmp_path / "v3.parquet")
    touch2parquet(spark, path, out)
    t = pq.read_table(out)
    assert t.column_names == edge_columns(3)
    assert t.num_rows == 62


def test_limit(spark, tmp_path):
    """L1: -n record cap (touch2parquet.cpp:47)."""
    from parquet_converters_spark.operators.touch_transform import (
        to_canonical_edges,
    )
    from parquet_converters_spark.sources.touch_binary import read_touches
    from tests.touch_fixtures import write_seeded_corpus

    (path,) = write_seeded_corpus(str(tmp_path), 64, 2, 1, 1104)
    raw = read_touches(spark, path)
    assert to_canonical_edges(raw, 2, limit=10).count() == 10


def test_validation_raises(spark):
    """P6: section/segment ids beyond 0x7fff abort the conversion
    (parquet_writer.cpp:207-219)."""
    from pyspark.errors import SparkRuntimeException

    from parquet_converters_spark.operators.touch_transform import (
        validate_sections,
    )

    df = spark.createDataFrame(
        [(1, 0x8000, 1, 1)],
        "pre_section: int, pre_segment: int, post_section: int, post_segment: int",
    )
    checked = validate_sections(
        df.withColumn("pre_section", df.pre_segment * 0 + 0x8000)
    )  # lazy: the check rides the job that consumes the frame
    with pytest.raises(SparkRuntimeException, match="endianess"):
        checked.collect()


def test_bad_section_counter_matches_validation(spark):
    """observe_conversion's n_bad_sections counts exactly the rows
    validate_sections(strict=False) drops — one predicate for both — on
    a planted violation in each of the four id columns plus a negative
    id, which neither treats as a violation; strict=True raises."""
    from pyspark.errors import SparkRuntimeException

    from parquet_converters_spark.observability import observe_conversion
    from parquet_converters_spark.operators.touch_transform import (
        validate_sections,
    )

    big = 0x8000
    df = spark.createDataFrame(
        [
            (0, 1, 1, 1, 1),
            (1, big, 1, 1, 1),
            (2, 1, big, 1, 1),
            (3, 1, 1, big, 1),
            (4, 1, 1, 1, big),
            (5, -1, 1, 1, 1),
            (6, 2, 2, 2, 2),
        ],
        "pre_neuron_id int, pre_section int, pre_segment int, "
        "post_section int, post_segment int",
    )
    obs, observed = observe_conversion(df)
    assert observed.count() == 7  # the action that fills the observation
    dropped = 7 - validate_sections(df, strict=False).count()
    assert dropped == 4
    assert obs.get["n_bad_sections"] == dropped
    with pytest.raises(SparkRuntimeException, match="endianess"):
        validate_sections(df, strict=True).collect()


def test_cli_end_to_end(spark, tmp_path):
    """The module CLI mirrors the reference binaries: touch2parquet then
    parquet2sonata, driven through main() with argv.  The V2 input has
    one source gid, so the source side is one range."""
    from parquet_converters_spark.cli import main
    from tests.touch_fixtures import seeded_payload, write_touch_pair

    runs = [(28, 1104)]
    touches = tmp_path / "touches"
    touches.mkdir()
    data = write_touch_pair(str(touches), 2, runs, seeded_payload(65, 2, runs))
    out_pq = str(tmp_path / "cli_edges")
    rc = main(["touch2parquet", data, "-o", out_pq])
    assert rc == 0
    assert spark.read.parquet(out_pq).count() == 1104

    out_bundle = str(tmp_path / "cli_bundle")
    rc = main(["parquet2sonata", out_pq, out_bundle, "pop"])
    assert rc == 0
    import pyarrow.parquet as pq

    t = pq.read_table(f"{out_bundle}/edges/pop/table.parquet")
    assert t.num_rows == 1104
    r2e = pq.read_table(
        f"{out_bundle}/edges/pop/indices/source_to_target/range_to_edge_id.parquet"
    )
    assert r2e.num_rows == 1

    # -n limit mirrors the reference's export cap
    out_lim = str(tmp_path / "cli_limited")
    main(["touch2parquet", data, "-o", out_lim, "-n", "100"])
    assert spark.read.parquet(out_lim).count() == 100

    # --hdf5 writes the real .h5 via per-file offset writes
    out_b2 = str(tmp_path / "cli_bundle_h5")
    h5 = str(tmp_path / "cli.h5")
    rc = main(["parquet2sonata", out_pq, out_b2, "pop", "--hdf5", h5])
    assert rc == 0
    from parquet_converters_spark.sinks.hdf5_minimal import MiniH5Reader

    assert len(MiniH5Reader(h5).read_dataset("/edges/pop/source_node_id")) == 1104


def test_cli_touch2parquet_runs_one_job(spark, tmp_path, capsys):
    """The CLI prints the row count summed from the write job's footers:
    the whole verb is that one job, with no counting job after it."""
    from parquet_converters_spark.cli import main
    from tests.test_sonata import _job_count
    from tests.touch_fixtures import write_seeded_corpus

    (path,) = write_seeded_corpus(str(tmp_path), 67, 3, 1, 300)
    out = str(tmp_path / "edges")
    rc = []
    assert _job_count(
        spark, lambda: rc.append(main(["touch2parquet", path, "-o", out]))
    ) == 1
    assert rc == [0]
    assert f"wrote 300 records to {out}" in capsys.readouterr().out


def test_cli_dedup(spark, tmp_path, sf_dir, capsys):
    """The dedup subcommand runs the near-dedup funnel end-to-end, writes
    exactly the survivor set and reports its size from the footers."""
    from parquet_converters_spark.cli import main
    from parquet_converters_spark.functions.dedup import near_dedup_survivors

    out = str(tmp_path / "survivors")
    rc = main(["dedup", f"{sf_dir}/documents.parquet", out])
    assert rc == 0
    got = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    want = {r.doc_id for r in near_dedup_survivors(docs).select("doc_id").collect()}
    assert got == want and 0 < len(got) < docs.count()
    assert f"dedup: kept {len(got)} of {docs.count()} rows" in capsys.readouterr().out


def test_cli_prepare_corpus(spark, tmp_path, sf_dir):
    from parquet_converters_spark.cli import main

    out = str(tmp_path / "clean")
    rc = main(["prepare-corpus", f"{sf_dir}/documents.parquet", out])
    assert rc == 0
    clean = spark.read.parquet(out)
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert 0 < clean.count() <= raw.count()
    assert set(clean.columns) == set(raw.columns)


def test_cli_version_flag(capsys):
    """Reference parity: parquet2hdf5's -v/--version flag."""
    import pytest as _pytest

    from parquet_converters_spark import __version__
    from parquet_converters_spark.cli import main

    with _pytest.raises(SystemExit) as e:
        main(["--version"])
    assert e.value.code == 0
    assert __version__ in capsys.readouterr().out


def test_touch2parquet_writes_metadata_sidecar(spark, tmp_path):
    """The canonical sink writes the `_metadata` summary the reference's
    parquet2hdf5 prefers (parquet2hdf5.cpp:205-218); our ordered reader
    consults it first, so the conversion chain no longer warns about a
    missing sidecar, and the sidecar's schema + row totals agree with
    the data files."""
    import pyarrow.parquet as pq

    from parquet_converters_spark.pipelines import touch2parquet
    from parquet_converters_spark.sources.ordering import _sidecar_schema
    from tests.touch_fixtures import write_seeded_corpus

    (path,) = write_seeded_corpus(str(tmp_path), 66, 1, 1, 82)
    out = str(tmp_path / "v1.parquet")
    touch2parquet(spark, path, out)
    sidecar = os.path.join(out, "_metadata")
    assert os.path.isfile(sidecar)
    md = pq.ParquetFile(sidecar).metadata
    data_rows = pq.read_table(out).num_rows
    assert md.num_rows == data_rows == 82
    schema = _sidecar_schema(out)
    assert schema is not None
    assert set(pq.read_table(out).column_names) == set(schema.names)
    # spark still reads the directory cleanly with the sidecar present
    assert spark.read.parquet(out).count() == 82


def test_kv_stamping_distributed_multi_file(spark, tmp_path):
    """The footer-KV writer over several partitions: every file gets the
    merged footer, the sidecar reflects the written footers, and Spark
    reads the directory back cleanly."""
    import glob as _glob

    import pyarrow.parquet as pq

    from parquet_converters_spark.sinks.parquet_sink import (
        write_canonical_parquet,
    )

    df = spark.range(1000).selectExpr("id", "id * 2 as v")
    out = str(tmp_path / "multi.parquet")
    write_canonical_parquet(
        df, out, kv_metadata={"touch2parquet_version": "x", "k": "v"},
        partitions=4,
    )
    files = sorted(_glob.glob(os.path.join(out, "*.parquet")))
    assert len(files) == 4  # the distributed branch actually ran
    for f in files:
        md = pq.ParquetFile(f).schema_arrow.metadata
        assert md[b"touch2parquet_version"] == b"x"
        assert md[b"k"] == b"v"
    assert os.path.isfile(os.path.join(out, "_metadata"))
    assert spark.read.parquet(out).count() == 1000
    # no stray tmp files left behind by the task-side rename
    assert not _glob.glob(os.path.join(out, "*.tmp"))


def _tree_bytes(root):
    """``{relative path: bytes}`` of every file below ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = open(p, "rb").read()
    return out


def test_strict_failure_leaves_no_torn_output(spark, tmp_path):
    """A planted pre_section of 0x8000 fails the one write job: the call
    raises ValueError, a fresh destination stays absent, a previous good
    output stays byte-equal, and no staging directory is left behind."""
    from parquet_converters_spark.pipelines import touch2parquet
    from tests.test_sonata import _job_count
    from tests.touch_fixtures import plant_pre_section, write_seeded_corpus

    good, bad = tmp_path / "good", tmp_path / "bad"
    good.mkdir()
    bad.mkdir()
    write_seeded_corpus(str(good), 31, 3, 2, 400)
    paths = write_seeded_corpus(str(bad), 31, 3, 2, 400)
    plant_pre_section(paths[1], 3, 123, 0x8000)

    def fails(out):
        with pytest.raises(ValueError, match="endianess"):
            touch2parquet(spark, str(bad), out)

    fresh = str(tmp_path / "fresh")
    assert _job_count(spark, lambda: fails(fresh)) == 1
    assert not os.path.exists(fresh)

    kept = str(tmp_path / "kept")
    touch2parquet(spark, str(good), kept)
    before = _tree_bytes(kept)
    assert any(name.endswith(".parquet") for name in before)
    assert _job_count(spark, lambda: fails(kept)) == 1
    assert _tree_bytes(kept) == before
    assert not [n for n in os.listdir(tmp_path) if "staging" in n]


def test_touch2parquet_job_budget(spark, tmp_path):
    """touch2parquet is ONE Spark job (scan, check, projection, write),
    pins nothing, and its _metadata equals the sidecar rebuilt from the
    written files' footers."""
    from parquet_converters_spark.pipelines import touch2parquet
    from parquet_converters_spark.sinks.parquet_sink import (
        _write_metadata_sidecar,
    )
    from tests.reference_decode import decode_file
    from tests.test_sonata import _job_count
    from tests.touch_fixtures import write_seeded_corpus

    paths = write_seeded_corpus(str(tmp_path), 41, 3, 2, 500)
    out = str(tmp_path / "edges")
    jsc = spark.sparkContext._jsc
    pinned = set(jsc.getPersistentRDDs().keySet().toArray())
    assert _job_count(spark, lambda: touch2parquet(spark, str(tmp_path), out)) == 1
    assert set(jsc.getPersistentRDDs().keySet().toArray()) == pinned

    files = sorted(f for f in os.listdir(out) if f.endswith(".parquet"))
    assert len(files) == 2
    got = [
        s for f in files
        for s in pq.read_table(os.path.join(out, f)).column("synapse_id").to_pylist()
    ]
    assert got == [r["synapse_id"] for p in paths for r in decode_file(p)]

    sidecar = os.path.join(out, "_metadata")
    written = pq.read_metadata(sidecar)
    written_bytes = open(sidecar, "rb").read()
    _write_metadata_sidecar(out)
    rebuilt = pq.read_metadata(sidecar)
    assert written.schema.equals(rebuilt.schema)
    assert written.metadata == rebuilt.metadata
    assert written.num_row_groups == rebuilt.num_row_groups == 2
    for i in range(written.num_row_groups):
        assert written.row_group(i).to_dict() == rebuilt.row_group(i).to_dict()
    assert written.row_group(1).column(0).file_path == files[1]
    assert open(sidecar, "rb").read() == written_bytes


def test_kv_writer_buffers_row_groups(spark, tmp_path):
    """The footer-KV writer cuts 512 Ki-row row groups from many small
    Arrow batches, paged exactly as pq.write_table pages the same table."""
    import glob as _glob

    from parquet_converters_spark.sinks.parquet_sink import (
        PAGE_BYTES,
        write_canonical_parquet,
    )

    df = spark.range(600_000, numPartitions=1).selectExpr(
        "id", "cast(id % 977 as int) as v", "cast(id / 3 as float) as f"
    )
    out = str(tmp_path / "rg")
    write_canonical_parquet(df, out, kv_metadata={"k": "v"})
    (f,) = _glob.glob(os.path.join(out, "part-*.parquet"))
    md = pq.read_metadata(f)
    assert [md.row_group(i).num_rows for i in range(md.num_row_groups)] == [
        524_288, 75_712,
    ]
    ref = str(tmp_path / "ref.parquet")
    pq.write_table(
        pq.read_table(f).combine_chunks(), ref, compression="snappy",
        use_dictionary=False, data_page_size=PAGE_BYTES,
        row_group_size=512 * 1024,
    )
    ref_md = pq.read_metadata(ref)
    assert ref_md.num_row_groups == md.num_row_groups
    ours, theirs = open(f, "rb").read(), open(ref, "rb").read()
    for rg in range(md.num_row_groups):
        for c in range(md.num_columns):
            a, b = md.row_group(rg).column(c), ref_md.row_group(rg).column(c)
            assert a.total_compressed_size == b.total_compressed_size
            assert (
                ours[a.data_page_offset:a.data_page_offset + a.total_compressed_size]
                == theirs[b.data_page_offset:b.data_page_offset + b.total_compressed_size]
            )


def test_physical_layout_generated(spark, tmp_path):
    """test_physical_layout on a generated V1 file."""
    from parquet_converters_spark.pipelines import touch2parquet
    from tests.touch_fixtures import write_seeded_corpus

    (path,) = write_seeded_corpus(str(tmp_path), 51, 1, 1, 300)
    out = str(tmp_path / "v1gen")
    touch2parquet(spark, path, out)
    kv = _assert_physical_layout(out)
    assert kv[b"touch2parquet_version"] == b"parquet_converters_spark"
    assert kv[b"touchdetector_version"] == b"4.0.0"


def test_kv_metadata_with_bloom_filters_raises(spark, tmp_path):
    """The footer-KV writer cannot write Bloom filters, so asking for both
    is an error before any job runs, not a silent drop."""
    from parquet_converters_spark.sinks.parquet_sink import (
        write_canonical_parquet,
    )
    from tests.test_sonata import _job_count

    out = str(tmp_path / "bloom_kv")

    def run():
        with pytest.raises(ValueError, match="Bloom"):
            write_canonical_parquet(
                spark.range(100), out, kv_metadata={"k": "v"},
                bloom_filter_columns=["id"],
            )

    assert _job_count(spark, run) == 0
    assert not os.path.exists(out)


def test_kv_writer_zero_partition_frame(spark, tmp_path):
    """A frame with no partitions still leaves one empty file carrying the
    schema and footer KV, as Spark's writer does, so it reads back."""
    import glob as _glob

    from parquet_converters_spark.sinks.parquet_sink import (
        write_canonical_parquet,
    )

    df = spark.range(0)
    assert df.rdd.getNumPartitions() == 0
    out = str(tmp_path / "empty")
    write_canonical_parquet(df, out, kv_metadata={"k": "v"})
    (f,) = _glob.glob(os.path.join(out, "part-*.parquet"))
    assert pq.read_schema(f).metadata[b"k"] == b"v"
    assert pq.read_metadata(os.path.join(out, "_metadata")).num_rows == 0
    assert spark.read.parquet(out).count() == 0
