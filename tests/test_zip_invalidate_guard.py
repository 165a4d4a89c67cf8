"""The zip-directory guard (`vldt_spark/zip_invalidate_guard.py`):
`importlib.invalidate_caches()` re-reads a zip archive's directory only
when the archive changed, re-reads and clears exactly as CPython does
when it changed or is gone, and is in force in the Python workers that
run the library's UDFs."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from vldt_spark import zip_invalidate_guard as guard
from vldt_spark.functions.lm import ppl_band_filter, unigram_logprob
from vldt_spark.functions.tokens import _arrow_flat_tokens, sequence_stats
from vldt_spark.sources.token_table import VOCAB, token_sequences

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip holding one module, on ``sys.path`` with a cached zipimporter,
    and the guard installed from the stock method; returns the path, the
    importer and a per-archive count of ``_read_directory`` calls."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zipguard_a": 1})
    monkeypatch.syspath_prepend(path)
    importer = zipimport.zipimporter(path)
    monkeypatch.setitem(sys.path_importer_cache, path, importer)
    current = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", getattr(current, "stock", current))
    monkeypatch.setattr(guard, "_read_stats", {})
    guard.install()
    reads = []
    stock_read = zipimport._read_directory

    def counted(archive_path):
        reads.append(archive_path)
        return stock_read(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    for name in ("zipguard_a", "zipguard_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    return path, importer, reads


def test_unchanged_archive_is_not_reread(archive):
    path, importer, reads = archive
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(path) == 0
    assert importlib.import_module("zipguard_a").VALUE == 1


@pytest.mark.parametrize("replace", [False, True], ids=["rewritten", "replaced"])
def test_changed_archive_is_reread_and_its_new_module_found(archive, tmp_path, replace):
    path, importer, reads = archive
    # a second importer over the same archive (as pyspark.zip has 12)
    sub = zipimport.zipimporter(os.path.join(path, "pkg"))
    target = str(tmp_path / "new.zip") if replace else path
    _write_zip(target, {"zipguard_a": 1, "zipguard_b": 2})
    if replace:
        os.replace(target, path)
    importlib.invalidate_caches()
    sub.invalidate_caches()
    assert reads.count(path) == 1
    assert "zipguard_b.py" in importer._files and sub._files is importer._files
    assert importlib.import_module("zipguard_b").VALUE == 2
    importlib.invalidate_caches()
    assert reads.count(path) == 1


def test_deleted_archive_is_cleared_as_stock_cpython(archive):
    path, importer, reads = archive
    os.remove(path)
    importlib.invalidate_caches()
    assert importer._files == {}
    assert path not in zipimport._zip_directory_cache
    assert path not in guard._read_stats
    _write_zip(path, {"zipguard_a": 4})
    importlib.invalidate_caches()
    assert "zipguard_a.py" in importer._files
    assert importlib.import_module("zipguard_a").VALUE == 4


def test_second_install_changes_nothing(archive):
    path, importer, reads = archive
    method = zipimport.zipimporter.invalidate_caches
    stats = dict(guard._read_stats)
    guard.install()
    assert zipimport.zipimporter.invalidate_caches is method
    assert guard._read_stats == stats
    importlib.invalidate_caches()
    assert reads.count(path) == 0


def test_install_is_skipped_without_the_method(monkeypatch):
    monkeypatch.delattr(zipimport.zipimporter, "invalidate_caches")
    guard.install()
    assert not hasattr(zipimport.zipimporter, "invalidate_caches")


def test_workers_skip_the_reread(spark):
    """Every task of a Python stage: its closure names a `vldt_spark`
    helper, so the workers import the package; a second
    `importlib.invalidate_caches()` then reads no zip directory."""

    def probe(batches):
        _ = _arrow_flat_tokens
        for _ in batches:
            pass
        reads = []
        stock_read = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or stock_read(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock_read
        zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        yield pa.RecordBatch.from_pydict({"reads": [len(reads)], "zips": [zips]})

    rows = (
        spark.range(4, numPartitions=4)
        .mapInArrow(probe, "reads long, zips long")
        .collect()
    )
    assert len(rows) == 4
    assert all(r["zips"] > 0 for r in rows)
    assert [r["reads"] for r in rows] == [0, 0, 0, 0]


def test_audit_udfs_import_the_package_where_unpickled(spark, monkeypatch):
    """The UDFs of the token audit's Python operators each name a
    `vldt_spark` global, so unpickling one in a fresh interpreter imports
    the package and installs the guard."""
    from pyspark.core import rdd
    from pyspark.serializers import CloudPickleSerializer

    commands = []
    stock = rdd._prepare_for_python_RDD

    def captured(sc, command):
        commands.append(CloudPickleSerializer().dumps(command))
        return stock(sc, command)

    monkeypatch.setattr(rdd, "_prepare_for_python_RDD", captured)
    df = token_sequences(spark, 200)
    calls = {
        "sequence_stats": lambda: sequence_stats(df),
        "unigram_logprob": lambda: unigram_logprob(df, VOCAB),
        "ppl_band_filter": lambda: ppl_band_filter(df, VOCAB, exact=False),
    }
    check = (
        "import pickle, sys\n"
        "pickle.loads(sys.stdin.buffer.read())\n"
        "print('vldt_spark.zip_invalidate_guard' in sys.modules)\n"
    )
    env = {**os.environ, "PYTHONPATH": REPO}
    for name, call in calls.items():
        del commands[:]
        call()
        assert commands, name
        for blob in commands:
            out = subprocess.run(
                [sys.executable, "-c", check], input=blob, env=env, capture_output=True, check=True
            )
            assert out.stdout.split() == [b"True"], name
