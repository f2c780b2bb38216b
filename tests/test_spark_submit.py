"""End-to-end spark-submit packaging test (the north rule's submission
shape): launch ``jobs/extract.py`` through the REAL ``spark-submit``
binary with ``--py-files engine.zip``, in a scratch cwd so nothing
imports from the checkout by accident, then re-submit the same output
and prove the checkpoint layer resumes (all buckets skipped). The job
imports the package from the shipped archive, so it writes and ships no
second package zip."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def _run(args: list[str], cwd: str, tmpdir: str) -> str:
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # --py-files must carry the package
    env["TMPDIR"] = tmpdir
    env["PYSPARK_PYTHON"] = sys.executable
    out = subprocess.run(
        [_spark_submit(), "--master", "local[2]", *args],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return out.stdout


def test_spark_submit_pyfiles_roundtrip_and_resume(tmp_path):
    sys.path.insert(0, REPO)
    from pdf_extractors_spark.session import _package_zip

    zip_path = _package_zip()
    job = os.path.join(REPO, "jobs", "extract.py")
    inp = str(tmp_path / "transcripts")
    outp = str(tmp_path / "extracted")
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()

    stdout = _run(
        [
            "--py-files", zip_path, job,
            "--input", inp, "--output", outp,
            "--n-buckets", "4", "--gen-convs", "20",
            "--snapshot-id", "snap-1",
        ],
        cwd=str(tmp_path),
        tmpdir=str(tmpdir),
    )
    m = json.loads(stdout.strip().splitlines()[-1])
    assert m["processed_buckets"] == [0, 1, 2, 3]
    assert m["skipped_buckets"] == []
    assert m["rows"] > 0 and m["parse_errors"] == 0
    assert os.path.isdir(os.path.join(outp, "_manifests"))

    # resume: same output, nothing left to do — every bucket skipped
    stdout2 = _run(
        [
            "--py-files", zip_path, job,
            "--input", inp, "--output", outp,
            "--n-buckets", "4", "--snapshot-id", "snap-1",
        ],
        cwd=str(tmp_path),
        tmpdir=str(tmpdir),
    )
    m2 = json.loads(stdout2.strip().splitlines()[-1])
    assert m2["processed_buckets"] == []
    assert m2["skipped_buckets"] == [0, 1, 2, 3]
    assert m2["rows"] == m["rows"]
    assert glob.glob(os.path.join(tmpdir, "pdf_extractors_spark_*.zip")) == []
