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
