"""The engine's Python worker daemon (``worker_daemon.py``): zip archives on
the import path are re-read only when they change, in the test process and
in the session's own Spark workers."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from parquet_converters_spark import worker_daemon


def _write_archive(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def lazy_zip(monkeypatch, tmp_path):
    """A zip archive on ``sys.path`` under the lazy invalidation, and the
    list of archives ``zipimport._read_directory`` has read since."""
    archive = str(tmp_path / "lazy_mods.zip")
    _write_archive(archive, {"lazy_mod_a": 1})
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon._invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    yield archive, reads
    for name in ("lazy_mod_a", "lazy_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(lazy_zip):
    archive, reads = lazy_zip
    assert importlib.import_module("lazy_mod_a").VALUE == 1
    importlib.invalidate_caches()  # first invalidation in this process reads
    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads


def test_rewritten_archive_is_reread(lazy_zip):
    archive, reads = lazy_zip
    importlib.import_module("lazy_mod_a")
    importlib.invalidate_caches()
    _write_archive(archive, {"lazy_mod_a": 1, "lazy_mod_b": 2})
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("lazy_mod_b").VALUE == 2


def test_removed_archive_empties_files(lazy_zip):
    archive, _ = lazy_zip
    importlib.import_module("lazy_mod_a")
    importer = sys.path_importer_cache[archive]
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache


def test_session_workers_do_not_reread_zips(spark):
    # defined here, not at module level, so that they pickle by value: the
    # workers cannot import this test module
    def second_invalidation_reads():
        """(zip archives read by a second ``invalidate_caches``,
        zipimporters on the import path) in the calling process."""
        import importlib
        import sys
        import zipimport

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            del reads[:]
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        importers = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        return len(reads), importers

    def arrow_probe(batches):
        import pyarrow as pa

        for _ in batches:
            pass
        reads, importers = second_invalidation_reads()
        yield pa.RecordBatch.from_pydict({"reads": [reads], "importers": [importers]})

    row = spark.range(1, numPartitions=1).mapInArrow(
        arrow_probe, "reads long, importers long"
    ).collect()[0]
    assert row["importers"] > 0
    assert row["reads"] == 0
    reads, importers = (
        spark.sparkContext.parallelize([0], 1)
        .map(lambda _: second_invalidation_reads())
        .collect()[0]
    )
    assert importers > 0
    assert reads == 0


def test_daemon_import_is_stdlib_only():
    heavy = ("pyspark", "pandas", "pyarrow", "numpy")
    code = (
        "import sys\n"
        "import parquet_converters_spark.worker_daemon\n"
        f"print(sorted(m for m in sys.modules if m.split('.')[0] in {heavy!r}))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "[]"
