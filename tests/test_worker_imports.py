"""The worker guard against re-reading unchanged zip archives.

PySpark calls ``importlib.invalidate_caches()`` before every task, and
on CPython < 3.13 that makes each zipimporter on the worker's path
re-read its whole archive directory. ``_worker.install_zip_reload_guard``
skips the re-read while an archive is unchanged. These tests count
``zipimport._read_directory`` calls rather than time anything:

* without Spark, on a zip built here: an unchanged archive is not
  re-read, and a rewritten one is, so a module added to it imports;
* in Spark workers that already ran a package job: the guard is
  installed, and one ``invalidate_caches()`` re-reads no archive, while
  the driver's interpreter stays unguarded.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from pdf_extractors_spark import _worker


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def guarded(monkeypatch):
    """Install the guard in this process for one test; undo it after."""
    cls = zipimport.zipimporter
    monkeypatch.setattr(cls, "invalidate_caches", cls.invalidate_caches)
    monkeypatch.setattr(cls, _worker._MARKER, False, raising=False)
    installed = _worker.install_zip_reload_guard()
    assert installed == (sys.version_info < (3, 13))
    # idempotent: a second install keeps the first wrapper
    wrapper = cls.invalidate_caches
    assert _worker.install_zip_reload_guard() == installed
    assert cls.invalidate_caches is wrapper
    return installed


def test_unchanged_archive_is_not_reread_and_changed_one_is(
    guarded, monkeypatch, tmp_path
):
    if not guarded:  # CPython >= 3.13 re-reads lazily; nothing to guard
        assert not _worker.guard_installed()
        return
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"zguard_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(str(archive))
    for name in ("zguard_a", "zguard_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zguard_a").VALUE == "a"

    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    # the first call after install reads once and records the archive's
    # (inode, size, mtime); the importer cannot know what it read before
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 0, reads

    # rewritten in place (same inode): re-read once, and the new
    # module is importable
    _write_zip(archive, {"zguard_a": "VALUE = 'a'\n", "zguard_b": "VALUE = 'b'\n"})
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1, reads
    assert importlib.import_module("zguard_b").VALUE == "b"


def test_workers_skip_rereads_after_a_package_job(spark, small_transcripts):
    from pdf_extractors_spark import pipeline

    pipeline.extract_transcripts(small_transcripts).count()

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        from pdf_extractors_spark import _worker

        installed = _worker.guard_installed()
        # a worker this job started fresh installed the guard only on
        # the import above, after its set-up had re-read every archive;
        # one call lets it record their stamps
        importlib.invalidate_caches()
        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"installed": [installed], "reads": [len(reads)], "zips": [zips]}
        )

    rows = (
        spark.range(4, numPartitions=4)
        .mapInArrow(probe, "installed boolean, reads long, zips long")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert r["installed"] == (sys.version_info < (3, 13)), r
        assert r["zips"] > 0, r  # the py4j zip at least: the count means something
        if r["installed"]:
            assert r["reads"] == 0, r
    # the driver runs no task, so its interpreter is left unguarded
    assert not _worker.in_spark_task()
    assert not _worker.guard_installed()
