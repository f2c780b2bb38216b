#!/usr/bin/env python3
"""spark-submit entrypoint for the full training-data refinery: the
composed pipeline a training team actually runs over the transcripts
table, as ONE resumable job.

    spark-submit --py-files engine.zip jobs/refinery.py \
        --input  /data/transcripts_parquet \
        --output /data/refined \
        --n-buckets 64 --budget 2048 --min-tokens 5

Stages (each writes ``<output>/<stage>/`` and commits it through
``checkpoint.commit_stage`` — parquet lands in a tmp dir that is renamed
into place, its rows are counted by the write job, and a ``_stage.json``
lineage manifest with row count and wall time is written atomically,
last; a re-submitted job skips every committed stage, and the
extraction stage additionally resumes at BUCKET granularity through
``checkpoint.run_with_checkpoint`` even when it was killed mid-stage):

  extracted/  Arrow-batched per-turn extraction (per-bucket manifests)
  docs/       conversation assembly: applyInArrow stitch of extracted
              turn text into one document per conversation
  repaired/   text repair BEFORE any hashing: mojibake round-trip fix +
              Unicode NFC — composed vs decomposed (or encoding-damaged)
              bytes silently defeat every hash-keyed stage downstream
  dedup/      exact dedup of repaired documents (min-conv_id keeper)
  kept/       quality gate: whitespace token count >= --min-tokens
  packed/     budget-aligned training units (pack_units sharding)

Prints ONE JSON line: per-stage row counts in/out + skipped flags +
extraction parse errors. The driver config (master, executors, memory)
belongs to spark-submit flags; ``--gen-convs N`` generates a
deterministic synthetic input first for self-contained smoke runs."""

from __future__ import annotations

import argparse
import json
import os
import sys


def _ensure_importable() -> None:
    try:
        import pdf_extractors_spark  # noqa: F401
    except ImportError:
        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", help="transcripts parquet path")
    ap.add_argument("--output", required=True, help="refinery output root")
    ap.add_argument("--n-buckets", type=int, default=8)
    ap.add_argument("--budget", type=int, default=2048)
    ap.add_argument("--min-tokens", type=int, default=5)
    ap.add_argument("--snapshot-id", default=None)
    ap.add_argument(
        "--gen-convs", type=int, default=None,
        help="generate a synthetic input of N conversations at --input first",
    )
    args = ap.parse_args(argv)
    if not args.input:
        ap.error("--input is required")

    _ensure_importable()
    from pyspark.sql import SparkSession, functions as F

    from pdf_extractors_spark import checkpoint, pipeline
    from pdf_extractors_spark.operators import dedup, sampling, text_stats
    from pdf_extractors_spark.session import prepare

    spark = prepare(SparkSession.builder.appName("transcript-refinery").getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    if args.gen_convs:
        from pdf_extractors_spark.fixtures import gen

        gen.materialize(spark, args.input, n_convs=args.gen_convs, max_turns=100)

    os.makedirs(args.output, exist_ok=True)
    report: dict = {"stages": {}}

    def _maybe_kill(stage: str) -> None:
        """Fault-injection hook for the kill-resume equivalence check
        (scripts/refinery_resume_check.py): when the env var names this
        stage, die HARD right after its commit — no spark.stop(), no
        atexit, exit 137 like an OOM-killed or preempted driver. The
        resumed submission must then skip every committed stage and
        produce byte-identical downstream output."""
        if os.environ.get("SPARK_GRAFT_KILL_AFTER_STAGE") == stage:
            print(json.dumps({"killed_after": stage}), flush=True)
            os._exit(137)

    # -- extraction (bucket-resumable inside the stage) ------------------
    ext_dir = os.path.join(args.output, "extracted")
    transcripts = spark.read.parquet(args.input)
    res = checkpoint.run_with_checkpoint(
        spark, transcripts, ext_dir,
        n_buckets=args.n_buckets, input_snapshot_id=args.snapshot_id,
    )
    ext_metrics = checkpoint.metrics(ext_dir)
    report["stages"]["extracted"] = {
        "rows": ext_metrics["rows"],
        "parse_errors": ext_metrics["parse_errors"],
        "processed_buckets": len(res["processed"]),
        "skipped_buckets": len(res["skipped"]),
    }
    _maybe_kill("extracted")

    def assemble(extracted):
        return pipeline.conv_stitch_arrow(
            extracted.select(
                "conv_id", "turn_idx", F.col("extracted_text").alias("text"),
            )
        )

    def repair(docs):
        # mojibake round-trip fix, then Unicode NFC: encoding-damaged or
        # decomposed bytes are different md5 keys for the same text, so
        # un-repaired input silently defeats the dedup stage that follows
        fixed = text_stats.mojibake_repair(
            docs, text_col="stitched_text", id_col="conv_id",
            keep_cols=("n_turns",),
        ).select(
            "conv_id", "n_turns",
            F.col("text_fixed").alias("stitched_text"),
            F.col("changed").alias("moji_changed"),
        )
        return text_stats.unicode_normalize(
            fixed, text_col="stitched_text", id_col="conv_id",
            keep_cols=("n_turns", "moji_changed"),
        ).select(
            "conv_id", "n_turns",
            F.col("text_nfc").alias("stitched_text"),
            "moji_changed",
            F.col("changed").alias("nfc_changed"),
        )

    def exact_dedup(repaired):
        return dedup.dedup_documents(
            repaired, text_col="stitched_text", id_col="conv_id"
        )

    def quality_gate(deduped):
        toks = F.size(F.split(F.trim(F.lower(F.col("stitched_text"))), r"\s+"))
        return deduped.withColumn("n_tokens", toks.cast("long")).filter(
            F.col("n_tokens") >= args.min_tokens
        )

    def pack(kept):
        return sampling.pack_units(
            kept, token_col="n_tokens", id_col="conv_id",
            budget=args.budget, n_buckets=args.n_buckets,
        )

    stages = [
        ("docs", assemble),
        ("repaired", repair),
        ("dedup", exact_dedup),
        ("kept", quality_gate),
        ("packed", pack),
    ]
    extra = {"packed": {"budget": args.budget}}

    def read_committed(d: str):
        # read with the schema the commit recorded: no read starts a
        # schema-inference job, and extracted/ shows committed buckets only
        if d == ext_dir:
            return checkpoint.read_extracted(spark, d)
        return checkpoint.read_stage(spark, d)

    # each stage reads what the previous one committed
    prev_dir = ext_dir
    for name, build in stages:
        stage_dir = os.path.join(args.output, name)
        if (m := checkpoint.committed_stage(stage_dir)) is None:
            m = checkpoint.commit_stage(
                build(read_committed(prev_dir)), stage_dir,
                **extra.get(name, {}),
            )
        else:
            m = {**m, "skipped": True}
        m.pop("schema", None)
        report["stages"][name] = m
        _maybe_kill(name)
        prev_dir = stage_dir

    print(json.dumps(report))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
