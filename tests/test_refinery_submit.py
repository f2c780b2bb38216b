"""End-to-end refinery job test through the REAL ``spark-submit`` binary
with ``--py-files engine.zip`` (the north rule's submission shape): the
composed extract → assemble → repair → dedup → quality → pack pipeline commits
each stage atomically, a re-submit skips everything, and deleting one
stage re-runs exactly that stage."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def _run(args: list[str], cwd: str) -> dict:
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # --py-files must carry the package
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
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_refinery_submit_stages_and_resume(tmp_path):
    sys.path.insert(0, REPO)
    from pdf_extractors_spark.session import _package_zip

    zip_path = _package_zip()
    job = os.path.join(REPO, "jobs", "refinery.py")
    inp = str(tmp_path / "transcripts")
    outp = str(tmp_path / "refined")
    base = [
        "--py-files", zip_path, job,
        "--input", inp, "--output", outp,
        "--n-buckets", "4", "--min-tokens", "3", "--budget", "512",
        "--snapshot-id", "snap-1",
    ]

    r1 = _run([*base, "--gen-convs", "20"], cwd=str(tmp_path))
    st = r1["stages"]
    assert st["extracted"]["processed_buckets"] == 4
    assert st["extracted"]["parse_errors"] == 0
    assert st["docs"]["rows"] == 20  # one document per conversation
    assert st["repaired"]["rows"] == st["docs"]["rows"]  # repair never drops
    assert st["dedup"]["rows"] <= st["repaired"]["rows"]
    assert st["kept"]["rows"] <= st["dedup"]["rows"]
    assert st["packed"]["rows"] == st["kept"]["rows"]
    for name in ("docs", "repaired", "dedup", "kept", "packed"):
        assert os.path.exists(os.path.join(outp, name, "_stage.json"))

    # full resume: every stage (and every extraction bucket) skipped
    r2 = _run(base, cwd=str(tmp_path))
    st2 = r2["stages"]
    assert st2["extracted"]["processed_buckets"] == 0
    assert st2["extracted"]["skipped_buckets"] == 4
    for name in ("docs", "repaired", "dedup", "kept", "packed"):
        assert st2[name].get("skipped") is True
        assert st2[name]["rows"] == st[name]["rows"]

    # stage-granular recovery: lose ONE stage, only it re-runs
    shutil.rmtree(os.path.join(outp, "kept"))
    r3 = _run(base, cwd=str(tmp_path))
    st3 = r3["stages"]
    assert st3["kept"].get("skipped") is None
    assert st3["kept"]["rows"] == st["kept"]["rows"]
    for name in ("docs", "repaired", "dedup", "packed"):
        assert st3[name].get("skipped") is True


def test_refinery_stage_reads_start_no_job(spark, tmp_path, monkeypatch, capsys):
    """Every stage reads the previous stage's committed output with the
    schema its manifest recorded, so no read starts a schema-inference
    job: a fresh run is its commits plus the input read, and a resume with
    every stage committed is the input read alone."""
    import importlib.util

    from pyspark.sql import SparkSession

    from pdf_extractors_spark.fixtures import gen

    spec = importlib.util.spec_from_file_location(
        "refinery", os.path.join(REPO, "jobs", "refinery.py")
    )
    refinery = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(refinery)
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)

    inp, outp = str(tmp_path / "transcripts"), str(tmp_path / "refined")
    gen.materialize(spark, inp, n_convs=12, max_turns=20)
    args = [
        "--input", inp, "--output", outp, "--n-buckets", "4",
        "--min-tokens", "3", "--budget", "512", "--snapshot-id", "snap-1",
    ]
    sc = spark.sparkContext

    def jobs_of(group: str) -> int:
        sc.setJobGroup(group, group)
        try:
            assert refinery.main(args) == 0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLogLevel("ERROR")
        return len(sc.statusTracker().getJobIdsForGroup(group))

    fresh = jobs_of("refinery-fresh")
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert fresh == 11
    assert report["stages"]["packed"]["rows"] == report["stages"]["kept"]["rows"] > 0
    assert "schema" not in report["stages"]["docs"]
    assert jobs_of("refinery-resume") == 1
