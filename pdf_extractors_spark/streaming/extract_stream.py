"""Structured Streaming front-end for the extraction stage.

The reference is batch-only and the north rule is resumable batch, so
streaming is not a required operator (SURVEY.md §2.8) — but the extraction
stage is stateless per turn, which makes it trivially streamable: the same
``mapInArrow`` kernel runs unchanged on a streaming DataFrame. This module
wires that up for incremental ingestion (new transcript files appearing in
a directory → extracted parquet, exactly-once via checkpointLocation).

Late data: extraction itself needs no watermark (no cross-row state). The
conv-level rollup example below shows the watermarked windowed-aggregation
shape for the one stage that does aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .. import pipeline

TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)


def read_transcript_stream(spark: SparkSession, input_dir: str, max_files_per_trigger: int = 16) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def extract_stream(transcripts: DataFrame) -> DataFrame:
    """The batch extraction stage, applied to a streaming DataFrame —
    the select + mapInArrow plan is stateless, so it is stream-safe
    unchanged. Reusing pipeline.extract_transcripts keeps the two paths
    from drifting (and gets its manual column pruning for free: Catalyst
    cannot prune into the opaque Arrow stage on streams either)."""
    return pipeline.extract_transcripts(transcripts)


def start_extraction(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Incremental extraction job: processes whatever files exist
    (availableNow) or runs continuously. Exactly-once through the stream
    checkpoint — the streaming analogue of checkpoint.py's manifests."""
    stream = extract_stream(read_transcript_stream(spark, input_dir))
    writer = (
        stream.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


CONV_SNAPSHOT_SCHEMA = "conv_id string, turns bigint, chars bigint, closed boolean"
_CONV_STATE_SCHEMA = "turns bigint, chars bigint"


def conversation_state_stream(
    transcripts: DataFrame, idle_timeout_ms: int = 60_000
) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    accumulate per-conversation turn/char counts across micro-batches,
    emitting a running snapshot per batch and a final ``closed=True`` row
    when a conversation goes idle past ``idle_timeout_ms`` (processing-
    time timeout; the state is then dropped). This is the shape any
    cross-batch assembly (conversation stitching, incremental dedup
    state, streaming entity resolution) plugs into."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        conv_id = key[0]
        if state.hasTimedOut:
            turns, chars = state.get
            state.remove()
            yield pd.DataFrame(
                {"conv_id": [conv_id], "turns": [turns], "chars": [chars],
                 "closed": [True]}
            )
            return
        turns, chars = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            turns += len(pdf)
            chars += int(pdf["text"].fillna("").str.len().sum())
        state.update((turns, chars))
        state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            {"conv_id": [conv_id], "turns": [turns], "chars": [chars],
             "closed": [False]}
        )

    return transcripts.groupBy("conv_id").applyInPandasWithState(
        update,
        CONV_SNAPSHOT_SCHEMA,
        _CONV_STATE_SCHEMA,
        "update",
        GroupStateTimeout.ProcessingTimeTimeout,
    )


def windowed_conv_stats(transcripts: DataFrame, window: str = "10 minutes", watermark: str = "30 minutes") -> DataFrame:
    """Watermarked windowed rollup (the streaming form of conv_stats):
    late turns beyond the watermark are dropped deterministically."""
    return (
        transcripts.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("conv_id"))
        .agg(
            F.count("*").alias("turns"),
            F.sum(F.length("text")).alias("chars"),
        )
    )


def dedup_stream(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    watermark_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup across micro-batches: the built-in stateful
    ``dropDuplicates`` keyed on the portable normalized-text hash — a row
    whose text was seen in ANY earlier micro-batch is dropped. State is
    one entry per distinct hash; pass ``watermark_col`` to use
    ``dropDuplicatesWithinWatermark`` so state expires instead of growing
    unboundedly (the 100-TB configuration — infinite retention is only
    for bounded replays)."""
    from ..operators.dedup import normalize_text

    # full 128-bit md5, not the portable 32-bit bigint: dedup keyed on a
    # 32-bit hash silently drops distinct documents on collision (~50%
    # chance of one by 77k docs). The 32-bit form exists only so DuckDB
    # oracles can replay values; streaming state has no such constraint.
    # null text coalesces to '' BEFORE hashing: md5(NULL) is NULL, and
    # dropDuplicates treats null keys as equal — without the coalesce
    # every distinct null-text row after the first would be dropped.
    # Empty and null text are one explicit class (both hash md5('')).
    hashed = docs.withColumn(
        "text_hash",
        F.md5(F.coalesce(normalize_text(F.col(text_col)), F.lit(""))),
    )
    if watermark_col is not None:
        return hashed.withWatermark(
            watermark_col, watermark
        ).dropDuplicatesWithinWatermark(["text_hash"])
    return hashed.dropDuplicates(["text_hash"])


def neardup_stream(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    watermark_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming NEAR-dup suppression: stateful dropDuplicates keyed on
    the 16-bit SimHash fingerprint instead of the exact text hash — the
    live-ingest sibling of simhash_dup_groups, catching re-crawls whose
    tracking parameters or timestamps perturbed a few tokens. The
    fingerprint is pure column math (operators/dedup.simhash), so the
    expression is stream-safe unchanged; state is one entry per distinct
    fingerprint (≤ 2^16 for 16 bits — bounded by construction, though
    ``watermark_col`` still bounds RETENTION for wider configurations).

    Deliberately aggressive: 16-bit collisions conflate genuinely
    different documents at corpus scale; this operator is for
    per-stream-partition hygiene (a crawl frontier's own output), not
    corpus-wide dedup — the docstring contract mirrors the batch
    operator's bucket semantics. The surviving KEY SET equals the batch
    ``select distinct simhash`` (which row survives is first-seen and
    scheduler-dependent; the set is not)."""
    from ..operators.dedup import simhash as _batch_simhash

    # reuse the batch fingerprint expression by applying the operator to
    # the stream frame: a select() of pure column math is stream-safe
    # (never a stream-stream join — the fingerprint rides the same row)
    cols = docs.withColumn(
        text_col, F.coalesce(F.col(text_col), F.lit(""))
    )
    fp = _batch_simhash(
        cols,
        text_col,
        id_col,
        keep_cols=[watermark_col] if watermark_col is not None else None,
    )
    if watermark_col is not None:
        return fp.withWatermark(
            watermark_col, watermark
        ).dropDuplicatesWithinWatermark(["simhash"])
    return fp.dropDuplicates(["simhash"])


def response_join_stream(
    transcripts: DataFrame,
    watermark: str = "2 minutes",
    max_latency_s: int = 60,
) -> DataFrame:
    """Watermarked STREAM-STREAM inner join — the user-turn stream
    joined to the assistant-turn stream of the same conversation, each
    pair constrained to the adjacent turn AND an event-time range, so
    Spark can bound both join-state buffers by the watermark (without
    the time-range predicate the state would grow forever; this is the
    canonical Structured Streaming stream-stream join contract).

    Emits ``(conv_id, user_idx, asst_idx, latency_secs)`` per answered
    user turn — the live agent-responsiveness feed whose batch form is
    ``pipeline.turn_latency_stats``. Works unchanged on a batch
    DataFrame (withWatermark is a no-op in batch), which is what the
    value oracle replays."""
    is_stream = transcripts.isStreaming
    users = transcripts.filter(F.col("role") == "user").select(
        "conv_id",
        F.col("turn_idx").alias("user_idx"),
        F.col("ts").alias("u_ts"),
    )
    assts = transcripts.filter(F.col("role") == "assistant").select(
        F.col("conv_id").alias("a_conv_id"),
        F.col("turn_idx").alias("asst_idx"),
        F.col("ts").alias("a_ts"),
    )
    if is_stream:
        users = users.withWatermark("u_ts", watermark)
        assts = assts.withWatermark("a_ts", watermark)
    joined = users.join(
        assts,
        (F.col("conv_id") == F.col("a_conv_id"))
        & (F.col("asst_idx") == F.col("user_idx") + 1)
        & (F.col("a_ts") >= F.col("u_ts"))
        & (
            F.col("a_ts")
            <= F.col("u_ts") + F.expr(f"interval {int(max_latency_s)} seconds")
        ),
        "inner",
    )
    return joined.select(
        "conv_id",
        F.col("user_idx").cast("long").alias("user_idx"),
        F.col("asst_idx").cast("long").alias("asst_idx"),
        (F.col("a_ts").cast("long") - F.col("u_ts").cast("long"))
        .cast("long")
        .alias("latency_secs"),
    )


def enrich_stream(
    transcripts: DataFrame, dim: DataFrame, on: str = "conv_id"
) -> DataFrame:
    """STREAM-STATIC join: the transcript stream enriched by a static
    dimension table (routing metadata, tenant config, experiment arm).
    The static side is explicitly broadcast — each micro-batch hash-joins
    against the in-memory dim with no shuffle and no join state at all
    (stream-static inner joins are stateless by definition: only the
    stream side flows). Completes the join matrix next to
    response_join_stream (stream-stream, watermark-bounded state)."""
    return transcripts.join(F.broadcast(dim), on, "inner")
