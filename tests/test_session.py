"""``session.prepare`` is the one way a SparkSession becomes able to run
this package: it ships the package zip and warms ICU once per
SparkContext, ships nothing when the package was imported from an
archive, and no other module does either job."""

from __future__ import annotations

import ast
import glob
import os
import tempfile

import pytest

from pdf_extractors_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_prepare_is_idempotent(spark):
    """The fixture's session is already prepared by ``get_spark``: two more
    calls start no Spark job and ship the package zip no second time."""
    sc = spark.sparkContext
    name = os.path.basename(session._package_zip())
    sc.setJobGroup("prepare-twice", "prepare-twice")
    try:
        assert session.prepare(session.prepare(spark)) is spark
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc._python_includes.count(name) == 1
    assert sc.statusTracker().getJobIdsForGroup("prepare-twice") == []


def test_zip_imported_package_is_not_zipped_again(spark, tmp_path, monkeypatch):
    """Under ``spark-submit --py-files engine.zip`` the package's files lie
    inside the archive: there is no directory to zip, so ``_package_zip``
    raises instead of writing an empty zip, and ``prepare`` ships nothing
    (the launcher shipped the archive) but still warms ICU."""
    engine = tmp_path / "engine.zip"
    engine.write_bytes(b"")
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    monkeypatch.setattr(
        session, "__file__", str(engine / "pdf_extractors_spark" / "session.py")
    )
    monkeypatch.setattr(tempfile, "tempdir", str(tmpdir))
    with pytest.raises(NotADirectoryError):
        session._package_zip()

    sc = spark.sparkContext
    shipped: list[str] = []
    monkeypatch.setattr(sc, "addPyFile", shipped.append)
    monkeypatch.delattr(sc, "_pdf_extractors_prepared")
    sc.setJobGroup("prepare-zip", "prepare-zip")
    try:
        assert session.prepare(spark) is spark
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert shipped == []
    assert os.listdir(tmpdir) == []
    assert len(sc.statusTracker().getJobIdsForGroup("prepare-zip")) == 1


def _enclosing_functions(path: str, needle: str):
    """(repo-relative path, innermost enclosing function) per line of
    ``path`` that contains ``needle``."""
    with open(path, encoding="utf-8") as f:
        text = f.read()
    funcs = [
        n for n in ast.walk(ast.parse(text))
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    for i, line in enumerate(text.splitlines(), 1):
        if needle in line:
            inner = [f for f in funcs if f.lineno <= i <= f.end_lineno]
            yield (
                os.path.relpath(path, REPO),
                max(inner, key=lambda f: f.lineno).name if inner else None,
            )


@pytest.mark.parametrize("needle", ["addPyFile(", "ICU-WARMUP"])
def test_ship_and_warmup_live_only_in_prepare(needle):
    sources = [
        os.path.join(REPO, "__spark_entry__.py"),
        *glob.glob(os.path.join(REPO, "jobs", "*.py")),
        *glob.glob(
            os.path.join(REPO, "pdf_extractors_spark", "**", "*.py"), recursive=True
        ),
    ]
    hits = [h for p in sorted(sources) for h in _enclosing_functions(p, needle)]
    assert hits == [(os.path.join("pdf_extractors_spark", "session.py"), "prepare")]
