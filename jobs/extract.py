#!/usr/bin/env python3
"""spark-submit entrypoint for the transcript-extraction pipeline.

    spark-submit --py-files engine.zip jobs/extract.py \
        --input  /data/transcripts_parquet \
        --output /data/extracted \
        --n-buckets 64

Reads the transcripts table (parquet directory here; `spark.read.table`
on a cluster with an Iceberg catalog — see docs/SCALE.md §7 for the
sandbox↔production mapping), runs the Arrow-batched extraction stage
through the per-bucket checkpoint layer, and prints ONE JSON line of
run metrics. A killed job re-submitted with the same ``--output``
resumes: committed buckets are skipped, half-written ones are
replaced by the bucket's newly committed files (checkpoint.py).

The driver config (master, executor counts, memory) belongs to
spark-submit flags, not this script — it calls ``getOrCreate()`` and
takes whatever cluster the launcher built. ``--gen-convs N`` generates
a deterministic synthetic input first (self-contained smoke run).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _ensure_importable() -> None:
    """Running from a repo checkout without --py-files: put the repo root
    on sys.path. Under spark-submit --py-files the import just works (the
    zip is already on the path) and this is a no-op."""
    try:
        import pdf_extractors_spark  # noqa: F401
    except ImportError:
        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", help="transcripts parquet path")
    ap.add_argument("--output", required=True, help="extraction output path")
    ap.add_argument("--n-buckets", type=int, default=8)
    ap.add_argument(
        "--snapshot-id",
        default=None,
        help="input snapshot identity recorded in manifests (resume "
        "validation refuses to mix snapshots in one output); default: "
        "derived from the input files, their sizes and mtimes",
    )
    ap.add_argument(
        "--gen-convs",
        type=int,
        default=None,
        help="generate a synthetic input of N conversations at --input "
        "first (smoke/demo runs)",
    )
    args = ap.parse_args(argv)
    if not args.input:
        ap.error("--input is required")

    _ensure_importable()
    from pyspark.sql import SparkSession

    from pdf_extractors_spark import checkpoint
    from pdf_extractors_spark.session import prepare

    spark = prepare(SparkSession.builder.appName("transcript-extract").getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    if args.gen_convs:
        from pdf_extractors_spark.fixtures import gen

        gen.materialize(spark, args.input, n_convs=args.gen_convs, max_turns=100)

    t0 = time.time()
    transcripts = spark.read.parquet(args.input)
    result = checkpoint.run_with_checkpoint(
        spark,
        transcripts,
        args.output,
        n_buckets=args.n_buckets,
        input_snapshot_id=args.snapshot_id,
    )
    m = checkpoint.metrics(args.output)
    print(
        json.dumps(
            {
                "processed_buckets": result["processed"],
                "skipped_buckets": result["skipped"],
                "rows": m["rows"],
                "bytes": m["bytes"],
                "parse_errors": m["parse_errors"],
                "wall_s": round(time.time() - t0, 3),
                "output": args.output,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
