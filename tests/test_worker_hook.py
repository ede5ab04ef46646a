"""The Python-worker hook in ``mistral_ocr_spark._worker``: a reused worker
re-reads a zip archive on its path only when the archive changed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from pyspark.core.files import SparkFiles

from mistral_ocr_spark import _worker

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="Python 3.13 zipimporters re-read their directory lazily; the hook is off",
)


@pytest.fixture
def hook_env(monkeypatch):
    """A worker-flagged process whose ``invalidate_caches`` is restored
    afterwards, and a list of the archives ``_read_directory`` reads."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    reads: list[str] = []
    read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def _write_zip(path, value: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("hook_probe_mod.py", f"VALUE = {value!r}\n")


def test_unchanged_archive_is_not_reread_and_changed_one_reloads(hook_env, tmp_path):
    reads = hook_env
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, "one")
    sys.path.insert(0, archive)
    try:
        mod = importlib.import_module("hook_probe_mod")
        assert mod.VALUE == "one"
        assert _worker.install()

        reads.clear()
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, "two, a longer body")
        importlib.invalidate_caches()
        assert reads == [archive]
        del sys.modules["hook_probe_mod"]
        assert importlib.import_module("hook_probe_mod").VALUE == "two, a longer body"

        reads.clear()
        importlib.invalidate_caches()
        assert reads == []
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        sys.modules.pop("hook_probe_mod", None)


def test_inert_outside_a_worker(hook_env, monkeypatch):
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)
    before = zipimport.zipimporter.invalidate_caches
    # this process imported the package as a driver: left unpatched
    assert not getattr(before, "_reloads_changed_only", False)
    assert not _worker.install()
    assert zipimport.zipimporter.invalidate_caches is before


def test_installs_once(hook_env):
    original = zipimport.zipimporter.invalidate_caches
    assert _worker.install()
    wrapped = zipimport.zipimporter.invalidate_caches
    assert wrapped is not original
    assert not _worker.install()
    assert zipimport.zipimporter.invalidate_caches is wrapped


def test_reused_worker_does_not_reread_pyspark_zip(spark):
    """A job through the extract kernel warms the workers, then a
    single-partition job runs on one of them: there ``invalidate_caches()``
    reads no archive directory (without the hook it reads every
    zipimporter's, 16 on PySpark 4.1). The warm-up job has more tasks than
    the pool has idle workers (local[4], at most two Python operators a
    task), and the pool hands them out in turn, so every worker the second
    job can get has imported the package."""

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pyarrow as pa

        warm = "mistral_ocr_spark" in sys.modules
        reads = []
        read = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        pyspark_zips = sum(
            1
            for imp in list(sys.path_importer_cache.values())
            if isinstance(imp, zipimport.zipimporter)
            and os.path.basename(imp.archive) == "pyspark.zip"
        )
        from mistral_ocr_spark.operators.extract import extract_batches

        docs = sum(b.num_rows for b in extract_batches(batches))
        yield pa.RecordBatch.from_pydict(
            {
                "warm": [warm],
                "reads": [len(reads)],
                "pyspark_zips": [pyspark_zips],
                "docs": [docs],
            }
        )

    def pages(n):
        rows = [(f"http://a.example/{i}", None, b"<p>hello world</p>", None, "en")
                for i in range(n)]
        schema = "url string, warc_ts timestamp, html binary, text string, lang string"
        return spark.createDataFrame(rows, schema).repartition(n)

    schema = "warm boolean, reads long, pyspark_zips long, docs long"
    warmup = pages(16).mapInArrow(probe, schema).collect()
    (task,) = pages(1).mapInArrow(probe, schema).collect()
    assert sum(r.docs for r in warmup) == 16 and task.docs == 1
    assert task.warm, "the task did not run on a worker that imported the package"
    assert task.pyspark_zips >= 1
    assert task.reads == 0
