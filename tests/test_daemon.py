"""The local-session Python daemon entry (``_daemon``).

``session.get_spark`` starts local sessions' Python daemons as
``python -m pdf_extractors_spark._daemon``, which drops pyspark.zip from
the path when the installed PySpark is the same copy. These tests check:

* without Spark, on a zip and a directory tree built here: identical
  copies drop the zip; a differing protocol module, a missing file or
  no installed copy leave the path as it is;
* in Spark workers forked for a new environment: PySpark comes from
  outside any zip whenever the same check on the driver finds the copies
  identical, no package module is imported before the task imports it,
  and that import installs ``_worker``'s guard.
"""

from __future__ import annotations

import os
import sys
import uuid
import zipfile

import pytest

from pdf_extractors_spark import _daemon

FILES = {name: f"# {name}\n" for name in _daemon.PROTOCOL_FILES}


@pytest.fixture
def copies(tmp_path):
    """A pyspark.zip and a site dir holding the same PySpark files, with
    the path a worker would see: cwd, the zip, py4j, then site-packages."""
    archive = tmp_path / "lib" / "pyspark.zip"
    archive.parent.mkdir()
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        for name, src in FILES.items():
            zf.writestr(f"pyspark/{name}", src)
    site = tmp_path / "site"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    for name, src in FILES.items():
        (site / "pyspark" / name).write_text(src)
    path = [str(tmp_path), str(archive), str(tmp_path / "lib" / "py4j.zip"), str(site)]
    return path, site


def test_identical_copies_drop_the_zip(copies):
    path, _site = copies
    assert _daemon.same_pyspark(path[1], path[3])
    assert _daemon.pick_pyspark(path) == [path[0], path[2], path[3]]


@pytest.mark.parametrize("name", _daemon.PROTOCOL_FILES)
def test_a_differing_protocol_module_keeps_the_zip(copies, name):
    path, site = copies
    (site / "pyspark" / name).write_text(FILES[name] + "# patched\n")
    assert _daemon.pick_pyspark(path) == path


def test_a_missing_file_keeps_the_zip(copies):
    path, site = copies
    (site / "pyspark" / "worker_util.py").unlink()
    assert _daemon.pick_pyspark(path) == path


def test_no_installed_copy_keeps_the_zip(copies):
    path, _site = copies
    assert _daemon.pick_pyspark(path[:3]) == path[:3]
    assert _daemon.pick_pyspark(path[2:]) == path[2:]  # and no zip at all


def test_fresh_workers_import_installed_pyspark_and_package_in_task(
    spark, monkeypatch
):
    import pyspark

    from pdf_extractors_spark import _worker

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "pdf_extractors_spark._daemon"
    # a new variable in the functions' environment gives this job a new
    # Python daemon, so its tasks run on workers freshly forked from it
    monkeypatch.setitem(
        spark.sparkContext.environment, "PDF_EXTRACTORS_PROBE", uuid.uuid4().hex
    )

    def probe(batches):
        import os
        import sys

        import pyarrow as pa

        before = sorted(
            m for m in sys.modules if m.split(".")[0] == "pdf_extractors_spark"
        )
        import pyspark

        from pdf_extractors_spark import _worker

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {
                "before": [",".join(before)],
                "pyspark": [pyspark.__file__],
                "pythonpath": [os.environ.get("PYTHONPATH", "")],
                "installed": [_worker.guard_installed()],
            }
        )

    rows = (
        spark.range(2, numPartitions=2)
        .mapInArrow(
            probe, "before string, pyspark string, pythonpath string, installed boolean"
        )
        .collect()
    )
    assert len(rows) == 2
    site_dir = os.path.dirname(os.path.dirname(pyspark.__file__))
    for r in rows:
        assert r["before"] == "", r
        assert r["installed"] == (sys.version_info < (3, 13)), r
        zips = [
            p for p in r["pythonpath"].split(os.pathsep)
            if os.path.basename(p) == "pyspark.zip"
        ]
        assert zips, r  # the daemon had a zip to choose against
        identical = _daemon.same_pyspark(zips[0], site_dir)
        assert os.path.isfile(r["pyspark"]) == identical, r
    assert not _worker.guard_installed()
