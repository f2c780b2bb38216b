"""Per-partition checkpoint manifests: resumable batch extraction.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics ... a killed job resumes without reprocessing committed
partitions". The reference has nothing like this (its only error handling
is a fail-stop try/except, persons.py:806-808).

Design (FIXTURES.md §4):

* the input keyspace is split into ``n_buckets`` stable hash buckets of
  ``conv_id`` (``pmod(xxhash64(conv_id), n)``) — the unit of commit.
  On Iceberg this unit would be the table partition + snapshot id; the
  bucket scheme is the same idea expressed over plain parquet.
* one pass per RUN: the input is scanned once, filtered to the buckets
  not yet committed, and written ``partitionBy(bucket)`` with dynamic
  partition overwrite — so a partially-written bucket from a killed run
  is replaced wholesale on resume, never appended to.
* manifests are written per bucket only AFTER the data write succeeds
  (write-then-manifest): a crash mid-run leaves data without manifests;
  readers (``read_extracted``/``metrics``) see only committed buckets,
  and the next run redoes exactly the uncommitted ones.
* a resume run validates that the manifest's ``n_buckets`` and
  ``input_snapshot_id`` match — resuming with a different bucket count
  would silently duplicate/misplace rows, and resuming over a different
  input snapshot would silently mix datasets; both raise instead. With
  no explicit id the snapshot is derived from the input's files, their
  sizes and mtimes (``input_identity``).
* manifests carry lineage + metrics: rows, bytes, parse_errors,
  input fingerprint, timestamps. Rows and parse_errors per bucket are
  observed by the write job itself, so a run is one Spark job.
* whole-stage commits (``commit_stage``/``committed_stage``, used by
  ``jobs/refinery.py``) follow the same protocol: data into a tmp dir
  renamed into place, rows observed by the write job, and a
  ``_stage.json`` manifest written last. This module is the only writer
  of manifests, and every manifest lands by tmp file + ``os.replace``, so
  a kill mid-write leaves no manifest rather than a truncated one.

Scale notes: the resume filter is a predicate on ``pmod(xxhash64(...))``,
which plain parquet cannot prune with row-group stats — a resume run
re-SCANS the input once (it re-EXTRACTS only uncommitted buckets, which
is where the cost is). On Iceberg with a ``bucket(N, conv_id)`` partition
transform the same predicate becomes partition pruning and the scan
itself shrinks. Checkpoint metadata uses local-filesystem atomic renames;
a production deployment over object storage replaces this file's
manifest I/O with Iceberg snapshot commits / conditional PUTs
(docs/SCALE.md §7) — passing a non-local URI raises rather than
pretending to checkpoint.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import uuid
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import pipeline

MANIFEST_DIR = "_manifests"
STAGE_MANIFEST = "_stage.json"


def bucket_of(conv_id_col, n_buckets: int):
    return F.pmod(F.xxhash64(conv_id_col), F.lit(n_buckets)).cast("int")


def _require_local(path: str) -> None:
    if "://" in path and not path.startswith("file://"):
        raise NotImplementedError(
            f"checkpoint manifests use local-filesystem atomic renames; "
            f"got {path!r}. On object storage / HDFS use Iceberg snapshot "
            f"commits instead (docs/SCALE.md §7)."
        )


def _write_manifest(path: str, manifest: dict) -> None:
    """Write ``manifest`` to ``path`` as a tmp file renamed into place: on
    a local FS the rename is atomic, so a reader sees the whole manifest
    or none."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, path)


def commit_stage(df: DataFrame, stage_dir: str, **extra) -> dict:
    """Write ``df`` as parquet to ``stage_dir`` and commit it: the data
    lands in ``<stage_dir>.tmp``, which is renamed into place, and the
    ``_stage.json`` manifest is written last. A kill before the manifest
    leaves the stage uncommitted, so it re-runs. ``rows`` is counted by
    the write job itself: one commit is one Spark job. Returns the
    manifest: ``stage`` (the dir's name), ``rows``, ``secs`` and
    ``extra``."""
    _require_local(stage_dir)
    tmp = stage_dir + ".tmp"
    for d in (tmp, stage_dir):
        shutil.rmtree(d, ignore_errors=True)
    t0 = time.time()
    observed = Observation()
    df.observe(observed, F.count(F.lit(1)).alias("rows")).write.parquet(tmp)
    os.rename(tmp, stage_dir)
    manifest = {
        "stage": os.path.basename(os.path.normpath(stage_dir)),
        "rows": observed.get["rows"],
        "secs": round(time.time() - t0, 3),
        **extra,
    }
    _write_manifest(os.path.join(stage_dir, STAGE_MANIFEST), manifest)
    return manifest


def committed_stage(stage_dir: str) -> dict | None:
    """The manifest of a committed stage, or None when it must (re)run."""
    _require_local(stage_dir)
    path = os.path.join(stage_dir, STAGE_MANIFEST)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def input_identity(df: DataFrame) -> str:
    """The default input snapshot id: a digest of the files ``df`` reads
    and each local one's size and mtime (remote files count by name).
    "unknown", which turns the check off, when ``df`` reads no files."""
    files = sorted(df.inputFiles())
    if not files:
        return "unknown"
    h = hashlib.sha1()
    for uri in files:
        u = urlparse(uri)
        st = os.stat(unquote(u.path)) if u.scheme in ("", "file") else None
        stamp = (st.st_size, st.st_mtime_ns) if st else None
        h.update(f"{uri}\0{stamp}\n".encode())
    return f"files-{h.hexdigest()[:16]}"


def committed_buckets(out_path: str) -> dict[int, dict]:
    mdir = os.path.join(out_path, MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return {}
    out: dict[int, dict] = {}
    for name in sorted(os.listdir(mdir)):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(mdir, name)) as f:
            m = json.load(f)
        if m.get("status") == "committed":
            out[int(m["partition_id"])] = m
    return out


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def _validate_resume(
    done: dict[int, dict], n_buckets: int, snapshot: str
) -> None:
    for k, m in done.items():
        nb = m.get("n_buckets")
        if nb is not None and nb != n_buckets:
            raise ValueError(
                f"resume with n_buckets={n_buckets} but bucket {k} was "
                f"committed under n_buckets={nb} — this would duplicate "
                f"and misplace rows; rerun with --buckets {nb} or a fresh "
                f"output path"
            )
        snap = m.get("input_snapshot_id", "unknown")
        if snap != snapshot and "unknown" not in (snap, snapshot):
            raise ValueError(
                f"resume over input snapshot {snapshot!r} but bucket {k} "
                f"was committed from {snap!r} — output would silently mix "
                f"datasets; use a fresh output path"
            )


def run_with_checkpoint(
    spark: SparkSession,
    transcripts: DataFrame,
    out_path: str,
    n_buckets: int = 8,
    fail_after: int | None = None,
    input_snapshot_id: str | None = None,
) -> dict:
    """Extract ``transcripts`` into ``out_path``, committing per bucket
    and skipping buckets already committed by a previous run. ONE input
    scan + one partitioned write per run — never a scan per bucket.

    ``fail_after``: test hook — process only the first K uncommitted
    buckets this run, then raise (simulates a killed job).
    ``input_snapshot_id``: the input's identity, recorded in each
    manifest and checked on resume; None derives it with
    ``input_identity``.
    Returns {"processed": [...], "skipped": [...]}.
    """
    _require_local(out_path)
    os.makedirs(os.path.join(out_path, MANIFEST_DIR), exist_ok=True)
    done = committed_buckets(out_path)
    snapshot = input_snapshot_id or input_identity(transcripts)
    _validate_resume(done, n_buckets, snapshot)

    remaining = [k for k in range(n_buckets) if k not in done]
    skipped = sorted(done)
    if fail_after is not None:
        remaining = remaining[:fail_after]
    if not remaining:
        return {"processed": [], "skipped": skipped}

    run_id = uuid.uuid4().hex[:12]
    started = time.time()
    src = transcripts.withColumn("bucket", bucket_of(F.col("conv_id"), n_buckets))
    if skipped or fail_after is not None:
        src = src.filter(F.col("bucket").isin(remaining))
    extracted = pipeline.extract_transcripts(src).withColumn(
        "bucket", bucket_of(F.col("conv_id"), n_buckets)
    )
    # rows and parse_errors per bucket are counted by the write job
    # itself, so a run is one Spark job, not a write plus a re-read
    observed = Observation(f"checkpoint-{run_id}")
    bucket = F.col("bucket")
    extracted = extracted.observe(
        observed,
        *[
            F.sum(F.when(bucket == k, 1).otherwise(0)).alias(f"rows_{k}")
            for k in remaining
        ],
        *[
            F.sum(F.when(bucket == k, F.col("parse_errors")).otherwise(0)).alias(
                f"errs_{k}"
            )
            for k in remaining
        ],
    )
    # dynamic overwrite replaces exactly the bucket dirs this run touches
    # — a half-written dir from a killed run is replaced, not appended to
    (
        extracted.sortWithinPartitions("conv_id", "turn_idx")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(out_path)
    )
    counts = observed.get

    processed: list[int] = []
    for k in remaining:
        n_rows, n_errs = counts[f"rows_{k}"] or 0, counts[f"errs_{k}"] or 0
        bucket_dir = os.path.join(out_path, f"bucket={k}")
        manifest = {
            "partition_id": k,
            "status": "committed",
            "n_buckets": n_buckets,
            "rows": n_rows,
            "bytes": _dir_bytes(bucket_dir) if os.path.isdir(bucket_dir) else 0,
            "parse_errors": n_errs,
            "input_snapshot_id": snapshot,
            "run_id": run_id,
            "started_at": started,
            "committed_at": time.time(),
        }
        # write-then-manifest
        _write_manifest(os.path.join(out_path, MANIFEST_DIR, f"{k}.json"), manifest)
        processed.append(k)

    if fail_after is not None:
        raise RuntimeError(f"injected failure after {fail_after} buckets")
    return {"processed": processed, "skipped": skipped}


def read_extracted(spark: SparkSession, out_path: str) -> DataFrame:
    """Read COMMITTED buckets only — data written by a crashed run that
    never reached its manifest is invisible, mirroring the resume path
    (uncommitted dirs would otherwise leak rows that disagree with
    ``metrics()``)."""
    done = committed_buckets(out_path)
    dirs = [
        os.path.join(out_path, f"bucket={k}")
        for k in sorted(done)
        if os.path.isdir(os.path.join(out_path, f"bucket={k}"))
    ]
    if not dirs:
        return spark.createDataFrame([], pipeline.EXTRACTED_SCHEMA)
    return spark.read.parquet(*dirs)


def metrics(out_path: str) -> dict:
    """Aggregate lineage metrics across committed manifests."""
    ms = committed_buckets(out_path)
    return {
        "buckets": len(ms),
        "rows": sum(m["rows"] for m in ms.values()),
        "bytes": sum(m["bytes"] for m in ms.values()),
        "parse_errors": sum(m["parse_errors"] for m in ms.values()),
    }
