"""Resume-from-checkpoint equivalence (SURVEY.md §5.3 property tests):
kill after K buckets → resume → identical output, committed buckets not
reprocessed."""

import json

import pytest

from pyspark.sql import functions as F

from pdf_extractors_spark import checkpoint, pipeline


def _rows(df):
    return sorted(
        (r["conv_id"], r["turn_idx"], r["extracted_text"], r["records"])
        for r in df.collect()
    )


def test_resume_skips_committed_and_matches_oneshot(spark, small_transcripts, tmp_path):
    out_resume = str(tmp_path / "resume")
    out_oneshot = str(tmp_path / "oneshot")

    # one-shot reference run
    checkpoint.run_with_checkpoint(spark, small_transcripts, out_oneshot, n_buckets=6)

    # killed run: fails after 2 bucket commits
    with pytest.raises(RuntimeError, match="injected failure"):
        checkpoint.run_with_checkpoint(
            spark, small_transcripts, out_resume, n_buckets=6, fail_after=2
        )
    assert len(checkpoint.committed_buckets(out_resume)) == 2

    # resume: must not reprocess the 2 committed buckets
    result = checkpoint.run_with_checkpoint(
        spark, small_transcripts, out_resume, n_buckets=6
    )
    assert len(result["skipped"]) == 2
    assert len(result["processed"]) == 4
    assert set(result["skipped"]).isdisjoint(result["processed"])

    # identical extracted content
    assert _rows(checkpoint.read_extracted(spark, out_resume)) == _rows(
        checkpoint.read_extracted(spark, out_oneshot)
    )


def _with_truncated_form_pages(spark, transcripts, n=6):
    """``transcripts`` plus ``n`` one-turn conversations whose form page
    is cut to a fifth, each of which extracts with parse_errors=1."""
    from pdf_extractors_spark.fixtures import payloads

    rows = []
    for i in range(n):
        tool, text = payloads.payload_for(f"trunc-{i}", 0, "form_page")
        rows.append((f"trunc-{i}", 0, "tool", text[: len(text) // 5], tool))
    extra = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.lit(None).cast("timestamp"))
    return transcripts.unionByName(extra)


def test_manifest_lineage_metrics(spark, small_transcripts, tmp_path):
    """Manifest rows and parse_errors per bucket (counted by the write
    job itself) equal a groupBy(bucket) read of the written output."""
    out = str(tmp_path / "m")
    src = _with_truncated_form_pages(spark, small_transcripts)
    checkpoint.run_with_checkpoint(
        spark, src, out, n_buckets=4, input_snapshot_id="snap-1"
    )
    ms = checkpoint.committed_buckets(out)
    assert set(ms) == {0, 1, 2, 3}
    for m in ms.values():
        assert m["status"] == "committed"
        assert m["bytes"] > 0
        assert m["input_snapshot_id"] == "snap-1"
        assert m["committed_at"] >= m["started_at"]
    written = {
        r["bucket"]: (r["rows"], r["errs"])
        for r in spark.read.parquet(out)
        .groupBy("bucket")
        .agg(F.count("*").alias("rows"), F.sum("parse_errors").alias("errs"))
        .collect()
    }
    assert {k: (m["rows"], m["parse_errors"]) for k, m in ms.items()} == written
    agg = checkpoint.metrics(out)
    assert agg["rows"] == src.count()
    assert agg["parse_errors"] == 6


def test_interrupted_bucket_leaves_no_manifest(spark, small_transcripts, tmp_path):
    # write-then-manifest: a manifest implies its data is complete
    out = str(tmp_path / "wtm")
    with pytest.raises(RuntimeError):
        checkpoint.run_with_checkpoint(
            spark, small_transcripts, out, n_buckets=6, fail_after=1
        )
    ms = checkpoint.committed_buckets(out)
    assert len(ms) == 1
    k, m = next(iter(ms.items()))
    got = spark.read.parquet(str(tmp_path / "wtm" / f"bucket={k}")).count()
    assert got == m["rows"]


def test_resume_rejects_bucket_count_change(spark, small_transcripts, tmp_path):
    """Resuming with a different n_buckets would re-map the hash space and
    silently duplicate rows across old and new buckets — must raise."""
    out = str(tmp_path / "nb")
    with pytest.raises(RuntimeError):
        checkpoint.run_with_checkpoint(
            spark, small_transcripts, out, n_buckets=6, fail_after=2
        )
    with pytest.raises(ValueError, match="n_buckets"):
        checkpoint.run_with_checkpoint(spark, small_transcripts, out, n_buckets=12)


def test_resume_rejects_snapshot_change(spark, small_transcripts, tmp_path):
    """Resuming over a different input snapshot would mix datasets in one
    output — must raise when both snapshot ids are known."""
    out = str(tmp_path / "snap")
    with pytest.raises(RuntimeError):
        checkpoint.run_with_checkpoint(
            spark, small_transcripts, out, n_buckets=6, fail_after=2,
            input_snapshot_id="snapA",
        )
    with pytest.raises(ValueError, match="snapshot"):
        checkpoint.run_with_checkpoint(
            spark, small_transcripts, out, n_buckets=6, input_snapshot_id="snapB"
        )
    # same snapshot resumes fine
    res = checkpoint.run_with_checkpoint(
        spark, small_transcripts, out, n_buckets=6, input_snapshot_id="snapA"
    )
    assert len(res["skipped"]) == 2


def test_read_extracted_hides_uncommitted_buckets(spark, small_transcripts, tmp_path):
    """Data written by a crashed run that never reached its manifest must
    be invisible to readers (write-then-manifest protocol)."""
    import os
    import shutil

    out = str(tmp_path / "uncommitted")
    checkpoint.run_with_checkpoint(spark, small_transcripts, out, n_buckets=4)
    committed_rows = checkpoint.read_extracted(spark, out).count()
    assert committed_rows == small_transcripts.count()
    # simulate a crash: bucket data present, manifest missing
    os.remove(os.path.join(out, checkpoint.MANIFEST_DIR, "2.json"))
    visible = checkpoint.read_extracted(spark, out).count()
    bucket2 = spark.read.parquet(os.path.join(out, "bucket=2")).count()
    assert visible == committed_rows - bucket2
    assert checkpoint.metrics(out)["buckets"] == 3
    # and a remote URI is refused rather than silently not checkpointing
    with pytest.raises(NotImplementedError, match="Iceberg"):
        checkpoint.run_with_checkpoint(
            spark, small_transcripts, "s3://bucket/out", n_buckets=4
        )
    shutil.rmtree(out)


def test_resume_refuses_rewritten_input_by_default(spark, small_transcripts, tmp_path):
    """With no explicit snapshot id the identity is derived from the input
    files, sizes and mtimes: a re-read of the same files resumes, a
    rewritten input file is refused instead of mixed into the output."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    inp = tmp_path / "input"
    inp.mkdir()
    pdf = small_transcripts.toPandas()
    for i in range(3):
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[i::3], preserve_index=False),
            inp / f"part-{i}.parquet",
            coerce_timestamps="us",
        )
    out = str(tmp_path / "out")
    for _ in range(2):  # the second run resumes over a fresh read
        with pytest.raises(RuntimeError, match="injected failure"):
            checkpoint.run_with_checkpoint(
                spark, spark.read.parquet(str(inp)), out, n_buckets=4, fail_after=1
            )
    ids = {m["input_snapshot_id"] for m in checkpoint.committed_buckets(out).values()}
    assert len(checkpoint.committed_buckets(out)) == 2
    assert len(ids) == 1 and ids != {"unknown"}

    rewritten = inp / "part-1.parquet"
    pq.write_table(pq.read_table(rewritten).slice(1), rewritten)
    with pytest.raises(ValueError, match="snapshot"):
        checkpoint.run_with_checkpoint(
            spark, spark.read.parquet(str(inp)), out, n_buckets=4
        )


def test_commit_stage_is_one_job_with_observed_rows(spark, small_transcripts, tmp_path):
    """A stage commit is the write job alone: its manifest's rows come from
    an Observation on that job and equal a re-read of the parquet."""
    import os

    stage_dir = str(tmp_path / "docs")
    df = small_transcripts.filter(F.col("role") == "user").select("conv_id", "text")
    sc = spark.sparkContext
    sc.setJobGroup("commit-stage-test", "one stage commit")
    try:
        m = checkpoint.commit_stage(df, stage_dir, budget=512)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("commit-stage-test")) == 1
    assert m["stage"] == "docs" and m["budget"] == 512 and m["secs"] >= 0
    assert 0 < m["rows"] == spark.read.parquet(stage_dir).count()
    assert checkpoint.committed_stage(stage_dir) == m
    assert not os.path.exists(stage_dir + ".tmp")


def test_commit_stage_killed_mid_manifest_stays_uncommitted(
    spark, small_transcripts, tmp_path, monkeypatch
):
    """A manifest write that dies halfway leaves no _stage.json (the
    manifest lands by rename), so the stage reads as uncommitted and its
    re-run commits it."""
    import os

    stage_dir = str(tmp_path / "kept")
    df = small_transcripts.select("conv_id", "turn_idx")

    def dump_half(obj, f):
        f.write(json.dumps(obj)[:10])
        raise OSError("killed mid-manifest")

    monkeypatch.setattr(json, "dump", dump_half)
    with pytest.raises(OSError, match="mid-manifest"):
        checkpoint.commit_stage(df, stage_dir)
    monkeypatch.undo()
    assert not os.path.exists(os.path.join(stage_dir, checkpoint.STAGE_MANIFEST))
    assert checkpoint.committed_stage(stage_dir) is None

    m = checkpoint.commit_stage(df, stage_dir)
    assert checkpoint.committed_stage(stage_dir) == m
    assert m["rows"] == small_transcripts.count()


def _bucket_files(out):
    import glob
    import os

    return {
        int(os.path.basename(d).split("=", 1)[1]): sorted(os.listdir(d))
        for d in glob.glob(os.path.join(out, "bucket=*"))
    }


def _digest(df):
    import hashlib

    rows = sorted(
        repr((r["conv_id"], r["turn_idx"], r["kind"], r["extracted_text"],
              r["spans"], r["records"], r["parse_errors"]))
        for r in df.collect()
    )
    return hashlib.sha1("\n".join(rows).encode()).hexdigest()


def test_committed_bucket_files_are_sorted(spark, small_transcripts, tmp_path):
    """Every committed bucket file is in (conv_id, turn_idx) order, also
    when the tasks see their keys shuffled."""
    import os

    import pyarrow.parquet as pq

    out = str(tmp_path / "sorted")
    checkpoint.run_with_checkpoint(
        spark, small_transcripts.orderBy(F.rand(7)), out, n_buckets=4,
        input_snapshot_id="snap-sorted",
    )
    checked = 0
    for k, names in _bucket_files(out).items():
        for name in names:
            if not name.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(out, f"bucket={k}", name),
                              columns=["conv_id", "turn_idx"])
            keys = list(zip(t.column("conv_id").to_pylist(),
                            t.column("turn_idx").to_pylist()))
            assert keys == sorted(keys), f"bucket={k}/{name} is out of order"
            checked += len(keys)
    assert checked == small_transcripts.count()


def test_task_failure_inside_write_commits_nothing(spark, small_transcripts, tmp_path):
    """A task that raises inside the write job, after other tasks wrote
    their files, fails the run without committing anything; a clean resume
    then equals a one-shot run and leaves only committed files behind."""
    import glob
    import os
    import time

    import pyarrow.parquet as pq

    out = str(tmp_path / "taskfail")
    with pytest.raises(RuntimeError, match="injected failure"):
        checkpoint.run_with_checkpoint(
            spark, small_transcripts, out, n_buckets=6, fail_after=2,
            input_snapshot_id="snap-tf",
        )
    before = checkpoint.committed_buckets(out)
    rows_before = _digest(checkpoint.read_extracted(spark, out))
    metrics_before = checkpoint.metrics(out)

    # a conversation in a bucket the next run redoes
    victim = (
        small_transcripts.withColumn("bucket", checkpoint.bucket_of(F.col("conv_id"), 6))
        .filter(~F.col("bucket").isin(list(before)))
        .select("conv_id").first()["conv_id"]
    )
    staged = os.path.join(out, checkpoint.STAGING_PREFIX + "*", "bucket=*", "*.parquet")

    @F.udf("string")
    def fail_on_victim(conv_id, text):
        if conv_id == victim:
            deadline = time.time() + 60
            while not glob.glob(staged) and time.time() < deadline:
                time.sleep(0.05)  # let the other tasks write their files
            raise ValueError("injected task failure")
        return text

    poisoned = small_transcripts.withColumn(
        "text", fail_on_victim(F.col("conv_id"), F.col("text"))
    )
    with pytest.raises(Exception, match="injected task failure"):
        checkpoint.run_with_checkpoint(
            spark, poisoned, out, n_buckets=6, input_snapshot_id="snap-tf"
        )
    assert glob.glob(staged), "no task wrote a file before the failure"
    assert checkpoint.committed_buckets(out) == before
    assert _digest(checkpoint.read_extracted(spark, out)) == rows_before
    assert checkpoint.metrics(out) == metrics_before

    res = checkpoint.run_with_checkpoint(
        spark, small_transcripts, out, n_buckets=6, input_snapshot_id="snap-tf"
    )
    assert res["skipped"] == sorted(before) and len(res["processed"]) == 4
    oneshot = str(tmp_path / "taskfail-oneshot")
    checkpoint.run_with_checkpoint(spark, small_transcripts, oneshot, n_buckets=6)
    assert _digest(checkpoint.read_extracted(spark, out)) == _digest(
        checkpoint.read_extracted(spark, oneshot)
    )
    assert not glob.glob(os.path.join(out, checkpoint.STAGING_PREFIX + "*"))
    committed = checkpoint.committed_buckets(out)
    for k, names in _bucket_files(out).items():
        paths = [os.path.join(out, f"bucket={k}", n) for n in names]
        assert all(n.endswith(".parquet") for n in names), names
        assert sum(pq.ParquetFile(p).metadata.num_rows for p in paths) == committed[k]["rows"]
        assert sum(os.path.getsize(p) for p in paths) == committed[k]["bytes"]


def test_checkpoint_run_is_one_job(spark, small_transcripts, tmp_path):
    """With an explicit snapshot id a checkpoint run starts exactly one
    Spark job: the extraction stage writes the files, the driver commits
    the list."""
    sc = spark.sparkContext
    sc.setJobGroup("checkpoint-one-job", "one checkpoint run")
    try:
        checkpoint.run_with_checkpoint(
            spark, small_transcripts, str(tmp_path / "one"), n_buckets=4,
            input_snapshot_id="snap-one",
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("checkpoint-one-job")) == 1


def test_file_uri_output_lands_at_its_path(
    spark, small_transcripts, tmp_path, monkeypatch
):
    """A ``file://`` output is the local path it names: manifests, bucket
    files and stage commits land there, nothing lands under the working
    directory, and the readers read the run back."""
    import os

    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    out = tmp_path / "out"
    uri = f"file://{out}"
    assert checkpoint.run_with_checkpoint(spark, small_transcripts, uri, n_buckets=4) == {
        "processed": [0, 1, 2, 3],
        "skipped": [],
    }
    assert sorted(os.listdir(out / checkpoint.MANIFEST_DIR)) == [
        f"{k}.json" for k in range(4)
    ]
    assert sorted(p.name for p in out.glob("bucket=*/*.parquet") if p.stat().st_size)
    assert checkpoint.committed_buckets(uri) == checkpoint.committed_buckets(str(out))
    assert checkpoint.read_extracted(spark, uri).count() == small_transcripts.count()
    assert checkpoint.metrics(uri)["rows"] == small_transcripts.count()
    assert checkpoint.run_with_checkpoint(spark, small_transcripts, uri, n_buckets=4) == {
        "processed": [],
        "skipped": [0, 1, 2, 3],
    }

    stage_uri = f"file://{tmp_path / 'stage'}"
    m = checkpoint.commit_stage(small_transcripts.select("conv_id"), stage_uri)
    assert (tmp_path / "stage" / checkpoint.STAGE_MANIFEST).is_file()
    assert checkpoint.committed_stage(stage_uri) == m
    assert checkpoint.read_stage(spark, stage_uri).count() == m["rows"]
    assert os.listdir(cwd) == []
