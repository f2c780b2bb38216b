"""The timed job and the oracle checks of each workload.

Every call into the program goes through a span named after the layer
it enters (``pipeline.``, ``checkpoint.``, ``operators.salting.``, ...).
Spark plans lazily, so a layer's work runs in the action that consumes
its DataFrame; that action's span carries the layer's name plus
``:collect``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_extractors_spark import checkpoint, pipeline
from pdf_extractors_spark.extractors import dispatch
from pdf_extractors_spark.operators import salting

from inputs import CHECKPOINT_BUCKETS, Transcripts, key_hash, write_parquet, xxhash64
from probe import Tracer

EXTRACTED_COLS = [f.name for f in pipeline.EXTRACTED_SCHEMA.fields]
CONV_COLS = ["conv_id", "turns", "extracted_chars", "parse_errors", "n_spans"]


@dataclass
class Context:
    """Inputs of one run and what the oracle pass learned about them."""

    workload: str
    transcripts: Transcripts
    input_path: str
    input_bytes: int
    snapshot: str  # input digest, handed to the checkpoint as its snapshot id
    work: str
    extracted_path: str | None = None  # conv_assemble's materialised input
    extracted_checksum: tuple | None = None
    err_rows: int = 0
    reference: tuple | None = None  # checksum of the verified job output
    problems: list[str] = field(default_factory=list)

    @property
    def turns(self) -> int:
        return len(self.transcripts)


@dataclass
class JobOut:
    rows: int  # output rows, or turns covered for conversation-level output
    checksum: tuple


def _digest(cols) -> F.Column:
    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))


def checksum_extracted(df: DataFrame) -> tuple:
    """Order-independent ``(rows, rows with parse errors, digest)``."""
    r = df.agg(
        F.count("*"),
        F.sum((F.col("parse_errors") > 0).cast("long")),
        _digest(EXTRACTED_COLS),
    ).collect()[0]
    return (int(r[0]), int(r[1] or 0), str(r[2]))


def _read(spark: SparkSession, path: str, tracer: Tracer) -> DataFrame:
    with tracer.span("bench.read_parquet"):
        return spark.read.parquet(path)


# ------------------------------------------------------------ timed jobs


def extract_job(spark: SparkSession, ctx: Context, tracer: Tracer) -> JobOut:
    tdf = _read(spark, ctx.input_path, tracer)
    with tracer.span("pipeline.extract_transcripts"):
        ext = pipeline.extract_transcripts(tdf)
    with tracer.span("pipeline.extract_transcripts:collect"):
        rows, err_rows, digest = checksum_extracted(ext)
    return JobOut(rows, (rows, err_rows, digest))


def stitch_checksum(stitched: DataFrame) -> tuple:
    r = stitched.agg(
        F.count("*"), F.sum("n_turns"), _digest(["conv_id", "n_turns", "stitched_text"])
    ).collect()[0]
    return (int(r[0]), int(r[1] or 0), str(r[2]))


def stats_checksum(stats: DataFrame) -> tuple:
    r = stats.agg(F.count("*"), F.sum("turns"), _digest(CONV_COLS)).collect()[0]
    return (int(r[0]), int(r[1] or 0), str(r[2]))


def _stitch(ext: DataFrame) -> DataFrame:
    return pipeline.conv_stitch_arrow(ext.withColumnRenamed("extracted_text", "text"))


def conv_job(spark: SparkSession, ctx: Context, tracer: Tracer) -> JobOut:
    ext = _read(spark, ctx.extracted_path, tracer)
    with tracer.span("pipeline.conv_stitch_arrow"):
        stitched = _stitch(ext)
    with tracer.span("pipeline.conv_stitch_arrow:collect"):
        s = stitch_checksum(stitched)
    with tracer.span("operators.salting.salted_conv_stats"):
        stats = salting.salted_conv_stats(ext)
    with tracer.span("operators.salting.salted_conv_stats:collect"):
        t = stats_checksum(stats)
    return JobOut(s[1], s + t)


def materialise_extracted(ctx: Context, tracer: Tracer) -> None:
    """Write the extracted table of the run's transcripts once (untimed),
    in the benchmark's own process with the sequential ``dispatch.to_row``
    and in (conv_id, turn_idx) order, as ``pipeline.write_extracted``
    leaves it. Every Spark extraction checked against this table is thus
    checked turn by turn against the sequential kernel."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    tr = ctx.transcripts
    with tracer.span("extractors.dispatch.to_row"):
        rows = [dispatch.to_row(*r) for r in zip(tr.conv_id, tr.turn_idx, tr.tool, tr.text)]
    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(pipeline.EXTRACTED_SCHEMA))
    ctx.extracted_path = os.path.join(ctx.work, "extracted")
    write_parquet(table, ctx.extracted_path)
    ctx.err_rows = sum(r["parse_errors"] > 0 for r in rows)


# ---------------------------------------------------------------- oracles


SAMPLE_PER_256 = 3  # share of turns (of conversations, x8) the oracle compares


def _sampled(key: F.Column, per_256: int) -> F.Column:
    return F.pmod(key, F.lit(256)) < per_256


def oracle_extract(spark: SparkSession, ctx: Context, tracer: Tracer) -> tuple:
    """One pass over the extraction: output rows equal the input turns,
    the sum of the output keys' hashes equals that of the input keys (so
    no key is missing or duplicated), and a fixed hashed sample of turns
    equals the sequential ``dispatch.to_row``. Returns the checksum every
    timed job must reproduce."""
    tr = ctx.transcripts
    ext = pipeline.extract_transcripts(spark.read.parquet(ctx.input_path))
    key = F.xxhash64("conv_id", "turn_idx")
    with tracer.span("pipeline.extract_transcripts:oracle"):
        r = ext.agg(
            F.count("*"),
            F.sum((F.col("parse_errors") > 0).cast("long")),
            _digest(EXTRACTED_COLS),
            F.sum(key.cast("decimal(38,0)")),
            F.collect_list(F.when(_sampled(key, SAMPLE_PER_256), F.struct(*EXTRACTED_COLS))),
        ).collect()[0]
    hashes = [key_hash(c, t) for c, t in zip(tr.conv_id, tr.turn_idx)]
    if r[0] != ctx.turns or int(r[3] or 0) != sum(hashes):
        ctx.problems.append(f"extract: {r[0]} rows for {ctx.turns} turns, or keys missing/duplicated")
    got = {(x["conv_id"], x["turn_idx"]): x.asDict(recursive=True) for x in r[4]}
    picks = [i for i, h in enumerate(hashes) if h % 256 < SAMPLE_PER_256]
    bad = sum(
        got.get((tr.conv_id[i], tr.turn_idx[i]))
        != dispatch.to_row(tr.conv_id[i], tr.turn_idx[i], tr.tool[i], tr.text[i])
        for i in picks
    )
    if bad or not picks or len(got) != len(picks):
        ctx.problems.append(f"extract: {bad} of {len(picks)} sampled turns differ from to_row")
    return (int(r[0]), int(r[1] or 0), str(r[2]))


def oracle_conv(spark: SparkSession, ctx: Context, tracer: Tracer) -> tuple:
    """Salted stats equal ``pipeline.conv_stats``; every conversation of
    1000+ turns and a hashed sample of the others is stitched exactly as
    its extracted texts joined in turn order. Returns the checksum every
    timed job must reproduce."""
    import pyarrow.parquet as pq

    table = pq.read_table(ctx.extracted_path, columns=["conv_id", "turn_idx", "extracted_text"])
    turns: dict[str, list[tuple[int, str]]] = {}
    for c, t, x in zip(*(table.column(n).to_pylist() for n in table.column_names)):
        turns.setdefault(c, []).append((t, x or ""))

    ext = spark.read.parquet(ctx.extracted_path)
    with tracer.span("bench.checksum_extracted"):
        ctx.extracted_checksum = checksum_extracted(ext)
    picked =_sampled(F.xxhash64("conv_id"), 8 * SAMPLE_PER_256) | (F.col("n_turns") >= 1000)
    with tracer.span("pipeline.conv_stitch_arrow:oracle"):
        r = _stitch(ext).agg(
            F.count("*"),
            F.sum("n_turns"),
            _digest(["conv_id", "n_turns", "stitched_text"]),
            F.collect_list(F.when(picked, F.struct("conv_id", "n_turns", "stitched_text"))),
        ).collect()[0]
    with tracer.span("operators.salting.salted_conv_stats:oracle"):
        salted = stats_checksum(salting.salted_conv_stats(ext))
    with tracer.span("pipeline.conv_stats:oracle"):
        plain = stats_checksum(pipeline.conv_stats(ext))
    s = (int(r[0]), int(r[1] or 0), str(r[2]))
    if salted != plain:
        ctx.problems.append(f"conv: salted_conv_stats {salted} != conv_stats {plain}")
    if s[:2] != (len(turns), ctx.turns) or plain[:2] != (len(turns), ctx.turns):
        ctx.problems.append(f"conv: stitch {s[:2]}, stats {plain[:2]}, want {(len(turns), ctx.turns)}")
    picks = [c for c, ts in turns.items() if len(ts) >= 1000 or xxhash64(c.encode()) % 256 < 8 * SAMPLE_PER_256]
    got = {x[0]: (x[1], x[2]) for x in r[3]}
    bad = sum(
        got.get(c) != (len(turns[c]), "\n\n".join(x for _, x in sorted(turns[c])))
        for c in picks
    )
    if bad or not picks or len(got) != len(picks):
        ctx.problems.append(f"conv: {bad} of {len(picks)} sampled conversations stitched wrong")
    return s + salted


# ------------------------------------------------------------- checkpoint


def killed_run(spark: SparkSession, ctx: Context, out_path: str, tracer: Tracer) -> None:
    """A checkpointed run stopped by ``fail_after`` after half the buckets."""
    tdf = _read(spark, ctx.input_path, tracer)
    try:
        with tracer.span("checkpoint.run_with_checkpoint:killed"):
            checkpoint.run_with_checkpoint(
                spark,
                tdf,
                out_path,
                n_buckets=CHECKPOINT_BUCKETS,
                fail_after=CHECKPOINT_BUCKETS // 2,
                input_snapshot_id=ctx.snapshot,
            )
    except RuntimeError as e:
        if "injected failure" not in str(e):
            raise
    else:
        raise RuntimeError("fail_after did not stop the checkpointed run")


def checkpoint_run(spark: SparkSession, ctx: Context, out_path: str, tracer: Tracer) -> dict:
    """A checkpointed run to completion (cold on an empty ``out_path``,
    a resume on a killed one)."""
    tdf = _read(spark, ctx.input_path, tracer)
    with tracer.span("checkpoint.run_with_checkpoint"):
        return checkpoint.run_with_checkpoint(
            spark, tdf, out_path, n_buckets=CHECKPOINT_BUCKETS, input_snapshot_id=ctx.snapshot
        )


def resume_ok(result: dict, out_path: str) -> bool:
    half = CHECKPOINT_BUCKETS // 2
    return (
        result["skipped"] == list(range(half))
        and result["processed"] == list(range(half, CHECKPOINT_BUCKETS))
        and checkpoint.metrics(out_path)["buckets"] == CHECKPOINT_BUCKETS
    )


def oracle_checkpoint(spark: SparkSession, ctx: Context, out_path: str, tracer: Tracer) -> None:
    """The resumed output equals a one-shot extract (order-independent
    digest), and the manifests count every input turn."""
    want = ctx.extracted_checksum
    with tracer.span("checkpoint.read_extracted"):
        got = checksum_extracted(checkpoint.read_extracted(spark, out_path).select(EXTRACTED_COLS))
    if got != want:
        ctx.problems.append(f"checkpoint: resumed output {got} != one-shot extract {want}")
    rows = checkpoint.metrics(out_path)["rows"]
    if rows != ctx.turns:
        ctx.problems.append(f"checkpoint: manifests count {rows} rows, input has {ctx.turns}")


WORKLOADS = {
    "extract_mixed": (extract_job, oracle_extract),
    "conv_assemble": (conv_job, oracle_conv),
}
