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
* one pass and one Spark job per RUN: the input is scanned once,
  filtered to the buckets not yet committed, and the extraction stage
  itself writes the files (``_bucket_writer``, one ``mapInArrow``): each
  task runs the kernel, splits its output by bucket and writes one
  parquet file per bucket it saw, sorted by (conv_id, turn_idx), into
  ``_staging-<run_id>/``. The job returns the list of files written by
  successful task attempts; the driver commits it, bucket by bucket, by
  replacing ``bucket=<k>/`` with that bucket's listed files (renamed in)
  and then writing the manifest. A partially-written bucket from a
  killed run is replaced wholesale on resume, never appended to, and
  staging dirs a killed run left are removed when the next run starts
  (a checkpoint has one writer).
* manifests are written per bucket only AFTER its data is in place
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
  input fingerprint, timestamps. Rows, parse_errors and bytes per bucket
  come with the file list from the write job, so a run is one Spark job.
* whole-stage commits (``commit_stage``/``committed_stage``, used by
  ``jobs/refinery.py``) follow the same protocol: data into a tmp dir
  renamed into place, rows observed by the write job, and a
  ``_stage.json`` manifest, which records the written schema so that
  ``read_stage`` reads without a schema-inference job, written last.
  This module is the only writer of manifests, and every manifest lands
  by tmp file + ``os.replace``, so a kill mid-write leaves no manifest
  rather than a truncated one.

Scale notes: the resume filter is a predicate on ``pmod(xxhash64(...))``,
which plain parquet cannot prune with row-group stats — a resume run
re-SCANS the input once (it re-EXTRACTS only uncommitted buckets, which
is where the cost is). On Iceberg with a ``bucket(N, conv_id)`` partition
transform the same predicate becomes partition pruning and the scan
itself shrinks. A task buffers its output per bucket to sort it: at
most one ``maxPartitionBytes`` input split's worth of extracted rows.
The staging files are written by the tasks and renamed by the driver,
so both must see the same filesystem. Checkpoint metadata uses
local-filesystem atomic renames;
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
from pyspark.sql.types import StructType

from . import pipeline

MANIFEST_DIR = "_manifests"
STAGING_PREFIX = "_staging-"
STAGE_MANIFEST = "_stage.json"


def bucket_of(conv_id_col, n_buckets: int):
    return F.pmod(F.xxhash64(conv_id_col), F.lit(n_buckets)).cast("int")


def _require_local(path: str) -> str:
    """The local-filesystem path of ``path``: a plain path as it is, a
    ``file:`` URI without its scheme. Any other URI raises."""
    if path.startswith("file:"):
        return unquote(urlparse(path).path)
    if "://" in path:
        raise NotImplementedError(
            f"checkpoint manifests use local-filesystem atomic renames; "
            f"got {path!r}. On object storage / HDFS use Iceberg snapshot "
            f"commits instead (docs/SCALE.md §7)."
        )
    return path


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
    manifest: ``stage`` (the dir's name), ``rows``, ``secs``, ``schema``
    (the written schema, which ``read_stage`` reads with) and
    ``extra``."""
    stage_dir = _require_local(stage_dir)
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
        "schema": df.schema.jsonValue(),
        **extra,
    }
    _write_manifest(os.path.join(stage_dir, STAGE_MANIFEST), manifest)
    return manifest


def committed_stage(stage_dir: str) -> dict | None:
    """The manifest of a committed stage, or None when it must (re)run."""
    stage_dir = _require_local(stage_dir)
    path = os.path.join(stage_dir, STAGE_MANIFEST)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def read_stage(spark: SparkSession, stage_dir: str) -> DataFrame:
    """Read a committed stage with the schema its manifest recorded, so
    the read starts no schema-inference job (a manifest without one falls
    back to inference)."""
    schema = (committed_stage(stage_dir) or {}).get("schema")
    reader = spark.read.schema(StructType.fromJson(schema)) if schema else spark.read
    return reader.parquet(stage_dir)


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
    out_path = _require_local(out_path)
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


def _bucket_writer(staging: str):
    """The write side of a checkpoint run, run inside the extraction stage
    (``mapInArrow``): runs the kernel on each of the task's batches
    (conv_id, turn_idx, tool, text, bucket), splits its output by the input's
    ``bucket`` column and, at the end of the task, writes one parquet file
    per bucket seen, sorted by (conv_id, turn_idx), under
    ``<staging>/bucket=<k>/``. Names carry the partition and the task
    attempt, so two attempts never write the same file. Yields one row per
    file: (bucket, path, rows, parse_errors, bytes); only files named by a
    successful attempt reach the driver's commit."""

    def write(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        parts: dict[int, list] = {}
        for batch in batches:
            out = pipeline._extract_batch(batch)
            bucket = batch.column("bucket")
            for k in pc.unique(bucket).to_pylist():
                parts.setdefault(k, []).append(out.filter(pc.equal(bucket, k)))

        ctx = TaskContext.get()
        name = f"part-{ctx.partitionId():05d}-{ctx.taskAttemptId()}.parquet"
        written = []
        for k, outs in sorted(parts.items()):
            table = (
                pa.Table.from_batches(outs)
                .sort_by(
                    [("conv_id", "ascending"), ("turn_idx", "ascending")],
                    null_placement="at_start",
                )
            )
            bucket_dir = os.path.join(staging, f"bucket={k}")
            os.makedirs(bucket_dir, exist_ok=True)
            path = os.path.join(bucket_dir, name)
            pq.write_table(table, path)
            errs = pc.sum(table.column("parse_errors")).as_py() or 0
            written.append((k, path, table.num_rows, errs, os.path.getsize(path)))
        if written:
            k, path, rows, errs, size = zip(*written)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(k, pa.int32()),
                    pa.array(path, pa.string()),
                    pa.array(rows, pa.int64()),
                    pa.array(errs, pa.int64()),
                    pa.array(size, pa.int64()),
                ],
                names=["bucket", "path", "rows", "parse_errors", "bytes"],
            )

    return write


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
    scan and one Spark job per run: the extraction stage writes the bucket
    files (``_bucket_writer``), and the driver commits the list it gets.

    ``fail_after``: test hook — process only the first K uncommitted
    buckets this run, then raise (simulates a killed job).
    ``input_snapshot_id``: the input's identity, recorded in each
    manifest and checked on resume; None derives it with
    ``input_identity``.
    Returns {"processed": [...], "skipped": [...]}.
    """
    out_path = _require_local(out_path)
    os.makedirs(os.path.join(out_path, MANIFEST_DIR), exist_ok=True)
    # a checkpoint has one writer: staging dirs left here are a killed
    # run's, and no manifest names their files
    for name in os.listdir(out_path):
        if name.startswith(STAGING_PREFIX):
            shutil.rmtree(os.path.join(out_path, name))
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
    staging = os.path.join(out_path, f"{STAGING_PREFIX}{run_id}")
    src = transcripts.withColumn("bucket", bucket_of(F.col("conv_id"), n_buckets))
    if skipped or fail_after is not None:
        src = src.filter(F.col("bucket").isin(remaining))
    files: dict[int, list] = {}
    for r in (
        src.select("conv_id", "turn_idx", "tool", "text", "bucket")
        .mapInArrow(
            _bucket_writer(os.path.abspath(staging)),
            "bucket int, path string, rows long, parse_errors long, bytes long",
        )
        .collect()
    ):
        files.setdefault(r["bucket"], []).append(r)

    processed: list[int] = []
    for k in remaining:
        # a bucket dir without a manifest is a killed run's: replace it
        bucket_dir = os.path.join(out_path, f"bucket={k}")
        shutil.rmtree(bucket_dir, ignore_errors=True)
        listed = files.get(k, [])
        if listed:
            os.makedirs(bucket_dir)
        for f in listed:
            os.rename(f["path"], os.path.join(bucket_dir, os.path.basename(f["path"])))
        manifest = {
            "partition_id": k,
            "status": "committed",
            "n_buckets": n_buckets,
            "rows": sum(f["rows"] for f in listed),
            "bytes": sum(f["bytes"] for f in listed),
            "parse_errors": sum(f["parse_errors"] for f in listed),
            "input_snapshot_id": snapshot,
            "run_id": run_id,
            "started_at": started,
            "committed_at": time.time(),
        }
        # write-then-manifest
        _write_manifest(os.path.join(out_path, MANIFEST_DIR, f"{k}.json"), manifest)
        processed.append(k)
    shutil.rmtree(staging, ignore_errors=True)

    if fail_after is not None:
        raise RuntimeError(f"injected failure after {fail_after} buckets")
    return {"processed": processed, "skipped": skipped}


def read_extracted(spark: SparkSession, out_path: str) -> DataFrame:
    """Read COMMITTED buckets only — data written by a crashed run that
    never reached its manifest is invisible, mirroring the resume path
    (uncommitted dirs would otherwise leak rows that disagree with
    ``metrics()``)."""
    out_path = _require_local(out_path)
    done = committed_buckets(out_path)
    dirs = [
        os.path.join(out_path, f"bucket={k}")
        for k in sorted(done)
        if os.path.isdir(os.path.join(out_path, f"bucket={k}"))
    ]
    if not dirs:
        return spark.createDataFrame([], pipeline.EXTRACTED_SCHEMA)
    return spark.read.schema(pipeline.EXTRACTED_SCHEMA).parquet(*dirs)


def metrics(out_path: str) -> dict:
    """Aggregate lineage metrics across committed manifests."""
    ms = committed_buckets(out_path)
    return {
        "buckets": len(ms),
        "rows": sum(m["rows"] for m in ms.values()),
        "bytes": sum(m["bytes"] for m in ms.values()),
        "parse_errors": sum(m["parse_errors"] for m in ms.values()),
    }
