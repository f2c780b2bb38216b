"""The Spark extraction pipeline: transcripts → extracted.

Shape (SURVEY.md §3 "general pattern", re-expressed Spark-first)::

    scan (parquet/Iceberg, pruned) →
    mapInArrow(_extract_batches_arrow) →  one narrow Arrow-batched stage
    sortWithinPartitions(conv_id, turn_idx) → write

Zero per-row Python at the Spark level: the Python worker receives Arrow
record batches of whole documents and runs the per-document state
machines (M1-M10) over each batch. There is no wide dependency anywhere
in the extraction itself — per-turn payloads are self-contained — so
throughput scales linearly with cores/executors (the north rule's
N→4N ≥ 0.8 efficiency criterion).

Cross-turn operators (conv-level forward-fill M8, conv-level stats, the
``conv_stitch_arrow`` assembly) are separate window/aggregate stages
below, grouped by conv_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .extractors import dispatch

SPAN_TYPE = ArrayType(
    StructType(
        [
            StructField("label", StringType()),
            StructField("start", IntegerType()),
            StructField("end", IntegerType()),
            StructField("value", StringType()),
        ]
    )
)

EXTRACTED_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("kind", StringType()),
        StructField("extracted_text", StringType()),
        StructField("spans", SPAN_TYPE),
        StructField("records", StringType()),
        StructField("parse_errors", IntegerType()),
    ]
)


def _extract_batch(batch):
    """The extraction kernel for one Arrow record batch (≤
    spark.sql.execution.arrow.maxRecordsPerBatch rows), with no pandas
    materialization on either side. The pass-through columns (conv_id,
    turn_idx, tool) are reused zero-copy; only the four computed columns
    are built, in C, via ``pa.array``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from .extractors.dispatch import dumps_records as _dumps

    schema = to_arrow_schema(EXTRACTED_SCHEMA)
    texts: list[str] = []
    spans: list[list] = []
    records: list[str] = []
    errors: list[int] = []
    for kind, payload in zip(
        batch.column("tool").to_pylist(), batch.column("text").to_pylist()
    ):
        out = dispatch.extract_one(kind, payload)
        texts.append(out["extracted_text"])
        spans.append(out["spans"])
        records.append(_dumps(out["records"]))
        errors.append(out["parse_errors"])
    return pa.RecordBatch.from_arrays(
        [
            batch.column("conv_id"),
            batch.column("turn_idx"),
            batch.column("tool"),
            pa.array(texts, pa.string()),
            pa.array(spans, schema.field("spans").type),
            pa.array(records, pa.string()),
            pa.array(errors, pa.int32()),
        ],
        schema=schema,
    )


def _extract_batches_arrow(batches):
    """The extraction stage's ``mapInArrow`` function: ``_extract_batch``
    over each batch."""
    return map(_extract_batch, batches)


def extract_transcripts(
    transcripts: DataFrame,
    repartition_to: int | None = None,
) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) → extracted.

    One narrow ``mapInArrow`` stage running ``_extract_batches_arrow``;
    its rows equal the sequential ``dispatch.to_row`` oracle (pinned by
    tests/test_pipeline.py).

    ``repartition_to``: explicit parallelism for the extraction stage.
    Default: no shuffle at all — parquet/Iceberg split planning already
    yields balanced input splits, and since extraction is per-turn there
    is no key skew to correct (a long conversation is just more rows,
    spread across splits).
    """
    # Manual column pruning: Catalyst cannot prune INTO an opaque
    # mapInArrow stage, so without this projection every input column
    # (role, ts, ...) is Arrow-serialized into the Python worker and
    # straight back out unused. Only the four columns the kernel reads
    # cross the IPC boundary.
    df = transcripts.select("conv_id", "turn_idx", "tool", "text")
    if repartition_to:
        # round-robin, not hash: the stage is stateless per turn, so we
        # only want even card counts, never key co-location.
        df = df.repartition(repartition_to)
    return df.mapInArrow(_extract_batches_arrow, schema=EXTRACTED_SCHEMA)


def quarantine_split(extracted: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Per-row quarantine (the opposite of the reference's fail-stop
    try/except at persons.py:806-808): rows whose extraction raised or
    partially failed (parse_errors > 0) split into a quarantine
    DataFrame carrying the full row for replay/debugging, while clean
    rows flow on. Both sides are narrow filters over the SAME lazy
    input: a caller consuming both (e.g. writing good + quarantine)
    should ``extracted.persist()`` first, or the extraction stage runs
    once per side."""
    good = extracted.filter(F.col("parse_errors") == 0)
    quarantined = extracted.filter(F.col("parse_errors") > 0)
    return good, quarantined


def write_extracted(extracted: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Ordered write: stable (conv_id, turn_idx) order *within* partitions
    (A6) — the per-turn equality criterion is keyed, so a global sort is
    unnecessary at 10^12 rows (SURVEY.md §7 hard parts)."""
    (
        extracted.sortWithinPartitions("conv_id", "turn_idx")
        .write.mode(mode)
        .parquet(path)
    )


# ------------------------------------------------------------ conv-level ops

def conv_forward_fill(extracted: DataFrame, field: str = "delivery_date") -> DataFrame:
    """Cross-turn forward-fill (M8 at conversation granularity,
    nordic-invoice.py:94-100 generalized): the last non-null regex-extracted
    field value from any earlier turn of the same conversation fills later
    turns. Pure window fill-down — `last(ignorenulls)` over
    (conv_id ordered by turn_idx), no UDF."""
    pattern = {
        "delivery_date": r"Delivery date\s*(\d{2}\.\d{2}\.\d{4})",
        "invoice": r"Invoice\s(\d+)",
    }[field]
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    value = F.nullif(F.regexp_extract("extracted_text", pattern, 1), F.lit(""))
    return extracted.withColumn(
        f"{field}_filled", F.last(value, ignorenulls=True).over(w)
    )


def conv_stats(extracted: DataFrame) -> DataFrame:
    """Per-conversation rollup (A3/X18 analogues) — partial aggregation
    (map-side combine) comes free from groupBy on typed columns."""
    return extracted.groupBy("conv_id").agg(
        F.count("*").alias("turns"),
        F.sum(F.length("extracted_text")).alias("extracted_chars"),
        F.sum("parse_errors").alias("parse_errors"),
        F.sum(F.size("spans")).alias("n_spans"),
    )


def session_assign(events: DataFrame, key_col: str, ts_col: str, marker_col: str) -> DataFrame:
    """The pure-Spark form of the M1 record segmenter (SURVEY.md §2.4 M1
    'fill-down then sessionize'): a running count of marker rows assigns
    each row to the record opened by the latest marker."""
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return events.withColumn(
        "record_id", F.sum(F.col(marker_col).cast("long")).over(w)
    )


def time_sessionize(
    events: DataFrame,
    key_col: str = "conv_id",
    order_col: str = "turn_idx",
    ts_col: str = "ts",
    gap_s: int = 1800,
) -> DataFrame:
    """Event-time session segmentation: within each key (ordered by
    ``order_col``), a new session starts wherever the gap to the previous
    event's ``ts_col`` exceeds ``gap_s`` seconds — the time-gap
    counterpart of the marker-count ``session_assign`` (M1), and the
    batch form of a streaming session window. Appends a 0-based
    ``session_idx``.

    Two stacked windows (lag, then running sum of session starts), both
    partitioned on ``key_col`` and ordered by ``order_col`` — Catalyst
    plans ONE exchange + one sort; no per-row Python. A null gap (the
    key's first event, or a null timestamp) starts a session, so rows
    with broken timestamps segment loudly instead of silently extending
    the previous session."""
    w = Window.partitionBy(key_col).orderBy(order_col)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    gap = F.col(ts_col).cast("long") - F.lag(F.col(ts_col).cast("long")).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_s), 1).otherwise(0)
    return events.withColumn(
        "session_idx", (F.sum(is_new).over(run) - F.lit(1)).cast("long")
    )


def tool_transitions(transcripts: DataFrame) -> DataFrame:
    """Tool→tool transition counts over agent-transcript tool turns: for
    consecutive ``role='tool'`` turns within a conversation (turn order),
    count each (tool, next_tool) edge corpus-wide — the Markov bigram
    table behind tool-loop detection ("which tool chains do agents
    actually run") and behind flagging degenerate retry loops before
    training. The last tool turn of a conversation emits no edge.

    One bounded window (lead over per-conversation partitions) + one
    map-side-combined groupBy on the (tool, next_tool) pair — the edge
    table is tiny (|tools|²) no matter the corpus size."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = transcripts.filter(F.col("role") == "tool").select(
        "conv_id", "turn_idx", "tool"
    )
    return (
        t.withColumn("next_tool", F.lead("tool").over(w))
        .filter(F.col("next_tool").isNotNull())
        .groupBy("tool", "next_tool")
        .agg(F.count("*").alias("n_transitions"))
    )


def conv_forks(transcripts: DataFrame, max_depth: int = 16) -> DataFrame:
    """Regeneration/fork detection over conversation heads: group
    conversations by identical ``(role, text)`` turn-prefixes and report,
    for every prefix shared by ≥2 conversations, how the group continues
    — the branch structure a chat UI's "regenerate" button leaves in a
    transcript corpus. Branched regenerations are near-duplicate
    training data that conversation-level MinHash misses when the
    shared head is long and the tails diverge; the fork table is the
    exact-prefix complement (and the attribution record: depth IS the
    regeneration point).

    Per ``(depth, prefix_hash)`` with ≥2 member conversations emits::

        n_convs     conversations whose first `depth` turns hash equal
        n_branches  distinct continuations at depth+1 among members
        n_terminal  members whose conversation ends exactly at depth
        is_fork     the group genuinely diverges: ≥2 outcomes among
                    {continuation hashes} ∪ {ended-here}

    ``is_fork`` false with n_convs≥2 means verbatim-duplicate heads that
    continue identically — the plain-duplicate path, left to dedup.

    Depth is capped at ``max_depth`` turns: forks live near the head
    (a regeneration shares everything before the retried turn), and the
    cap is what bounds the cumulative-prefix window at scale — per
    conversation the concat work is O(max_depth² · turn_bytes) CONSTANT,
    never a function of conversation length or corpus size. Turns past
    ``max_depth+1`` are never read (the +1 row only disambiguates
    continued-vs-ended at the cap boundary).

    Two exchanges total: one on conv_id for the cumulative windows, one
    for the (depth, prefix_hash) rollup. Null role/text coalesce to ''
    inside the turn signature (0x1e/0x1f separators keep field and turn
    boundaries unambiguous), so null-text turns compare like empty ones
    instead of vanishing."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sig = F.concat_ws(
        "\x1e",
        F.coalesce(F.col("role"), F.lit("")),
        F.coalesce(F.col("text"), F.lit("")),
    )
    t = (
        transcripts.select(
            "conv_id",
            "turn_idx",
            sig.alias("_sig"),
            F.row_number().over(w).alias("depth"),
        )
        .filter(F.col("depth") <= max_depth + 1)
        .select(
            "conv_id",
            "depth",
            F.md5(F.concat_ws("\x1f", F.collect_list("_sig").over(
                Window.partitionBy("conv_id").orderBy("depth").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ))).alias("prefix_hash"),
        )
    )
    nxt = t.select(
        "depth",
        "prefix_hash",
        F.lead("prefix_hash").over(
            Window.partitionBy("conv_id").orderBy("depth")
        ).alias("_next"),
    ).filter(F.col("depth") <= max_depth)
    # collect_set, not countDistinct: the distinct-aggregate rewrite
    # would spend a THIRD exchange re-keying on (depth, prefix_hash,
    # next); the set of continuations per group is bounded by the
    # group's member count, so the single-phase hash agg is safe
    grouped = nxt.groupBy("depth", "prefix_hash").agg(
        F.count("*").cast("long").alias("n_convs"),
        F.size(F.collect_set("_next")).cast("long").alias("n_branches"),
        F.sum(F.col("_next").isNull().cast("long"))
        .cast("long")
        .alias("n_terminal"),
    )
    return grouped.filter(F.col("n_convs") >= 2).select(
        F.col("depth").cast("long").alias("depth"),
        "prefix_hash",
        "n_convs",
        "n_branches",
        "n_terminal",
        (
            F.col("n_branches")
            + (F.col("n_terminal") > 0).cast("long")
            >= 2
        ).alias("is_fork"),
    )


def retry_similarity(
    transcripts: DataFrame, role: str | None = None
) -> DataFrame:
    """Edit-vs-rewrite classification for retry storms: for every pair
    of CONSECUTIVE same-role turns in a conversation (the shape a retry
    button or a flaky agent leaves), the distinct-token Jaccard between
    the two texts. ``collapse_repeats`` removes exact duplicates; this
    measures the near-miss ones — a 0.95-Jaccard retry is an edit
    (keep one), a 0.1-Jaccard one is a genuine follow-up (keep both),
    and the distribution is what sets that threshold per corpus.

    Per consecutive same-role pair emits ``(conv_id, turn_idx,
    prev_turn_idx, role, n_tokens, n_prev_tokens, n_common,
    jaccard_bp)`` — the later turn's identity plus exact distinct-token
    overlap; ``jaccard_bp = floor(10⁴·|∩|/|∪|)``, defined 10000 when
    both token sets are empty (identical emptiness) and 0 when exactly
    one is. Tokens are lowercased whitespace splits with empties
    dropped — deliberately the simplest tokenizer both engines
    reproduce byte-identically.

    ``role=None`` audits every role; pass ``'assistant'`` to scope to
    model-side retries. One conv_id window exchange, array math in
    codegen, no UDFs; per-row cost is bounded by the two adjacent
    turns, never the conversation."""
    # explicit whitespace class, never \s: Java's \s includes \x0B,
    # RE2's (the DuckDB oracle) does not — the classes must be identical
    toks = F.array_remove(
        F.array_distinct(
            F.split(
                F.lower(F.coalesce(F.col("text"), F.lit(""))),
                r"[ \t\n\r\f]+",
            )
        ),
        "",
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = transcripts.select(
        "conv_id", "turn_idx", "role", toks.alias("_toks")
    ).select(
        "conv_id",
        "turn_idx",
        "role",
        "_toks",
        F.lag("role").over(w).alias("_prev_role"),
        F.lag("turn_idx").over(w).alias("prev_turn_idx"),
        F.lag("_toks").over(w).alias("_prev_toks"),
    )
    pairs = t.filter(
        F.col("_prev_role").isNotNull() & (F.col("role") == F.col("_prev_role"))
    )
    if role is not None:
        pairs = pairs.filter(F.col("role") == role)
    n_a = F.size("_toks")
    n_b = F.size("_prev_toks")
    n_common = F.size(F.array_intersect("_toks", "_prev_toks"))
    n_union = F.size(F.array_union("_toks", "_prev_toks"))
    return pairs.select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.col("prev_turn_idx").cast("long").alias("prev_turn_idx"),
        "role",
        n_a.cast("long").alias("n_tokens"),
        n_b.cast("long").alias("n_prev_tokens"),
        n_common.cast("long").alias("n_common"),
        F.when((n_a == 0) & (n_b == 0), F.lit(10000).cast("long"))
        .when(n_union == 0, F.lit(0).cast("long"))
        .otherwise(
            F.floor(F.lit(10000) * n_common / n_union).cast("long")
        )
        .alias("jaccard_bp"),
    )


def pii_linkage(
    transcripts: DataFrame,
    user_role: str = "user",
    max_convs: int = 10_000,
) -> DataFrame:
    """Cross-conversation identity linkage: PII values typed by users in
    TWO OR MORE conversations — the record-linkage audit behind "can
    this corpus be re-identified across sessions" and the guard against
    one person's data spraying across many training examples. The
    within-conversation sibling is :func:`pii_echo`.

    Per ``(kind, value)`` seen in ≥2 conversations emits ``n_convs``,
    ``n_mentions`` (total user-turn matches), and the lexicographic
    first/last conv_id as exemplars — never the full conversation list
    (unbounded at scale). ``max_convs`` caps reported n_convs the same
    way a hot-key guard caps a join: a value linking more conversations
    than that (a support-desk phone number, a noreply@) is boilerplate,
    not identity, and is dropped with the cap documented rather than
    shuffled onward.

    Shape: extract → one groupBy on (kind, value, conv_id), one on
    (kind, value) — values only in the shuffle, map-side combined, no
    joins, no UDFs."""
    from pdf_extractors_spark.operators.text_stats import PII_PATTERNS

    def _kind_hits(kind: str, pat: str):
        return F.transform(
            F.regexp_extract_all(
                F.coalesce(F.col("text"), F.lit("")), F.lit(pat), F.lit(0)
            ),
            lambda v: F.struct(F.lit(kind).alias("kind"), v.alias("value")),
        )

    hits = F.flatten(
        F.array(*[_kind_hits(k, p) for k, p in PII_PATTERNS.items()])
    )
    per_conv = (
        transcripts.filter(F.col("role") == user_role)
        .select("conv_id", F.explode(hits).alias("h"))
        .select("conv_id", F.col("h.kind").alias("kind"), F.col("h.value").alias("value"))
        .groupBy("kind", "value", "conv_id")
        .agg(F.count("*").cast("long").alias("_mentions"))
    )
    return (
        per_conv.groupBy("kind", "value")
        .agg(
            F.count("*").cast("long").alias("n_convs"),
            F.sum("_mentions").cast("long").alias("n_mentions"),
            F.min("conv_id").alias("first_conv"),
            F.max("conv_id").alias("last_conv"),
        )
        .filter(
            (F.col("n_convs") >= 2) & (F.col("n_convs") <= max_convs)
        )
    )


INJECTION_PATTERNS = (
    r"ignore (?:all |any )?(?:previous|prior|above|earlier) "
    r"(?:instructions|directions|messages)",
    r"disregard (?:your|all|the|any) "
    r"(?:instructions|system prompt|guidelines)",
    r"new instructions:",
    r"do not tell the user",
    r"reveal (?:your|the) system prompt",
)


def injection_scan(
    transcripts: DataFrame,
    patterns: tuple[str, ...] = INJECTION_PATTERNS,
    source_role: str = "tool",
) -> DataFrame:
    """Prompt-injection audit for agent transcripts: tool outputs are
    ATTACKER-CONTROLLED text (fetched pages, file contents, API
    payloads), and a corpus that trains on conversations where the
    model followed injected instructions teaches exactly that failure.
    Matches each ``source_role`` turn's ``lower(text)`` against a fixed
    cue battery and, for every turn with at least one hit, checks
    whether the IMMEDIATELY FOLLOWING turn is an assistant turn that
    itself matches the battery — the assistant restating the injected
    instruction is the cheapest deterministic compliance proxy (a
    semantic judgment is a model call, not an engine operator).

    Per flagged source turn emits ``(conv_id, turn_idx, n_cues,
    next_is_assistant, assistant_echo)`` — ``n_cues`` counts every
    match across the battery, not just distinct patterns, so a page
    that repeats the injection ranks above one stray phrase.

    One conv_id window exchange (the lead), regexes in codegen on the
    scan; only flagged turns survive to the output."""
    rx = "|".join(f"(?:{p})" for p in patterns)
    low = F.lower(F.coalesce(F.col("text"), F.lit("")))
    n_cues = F.size(F.regexp_extract_all(low, F.lit(rx), 0))
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        n_cues.alias("_n_cues"),
        F.lead("role").over(w).alias("_next_role"),
        F.lead(
            F.size(F.regexp_extract_all(low, F.lit(rx), 0)) > 0
        ).over(w).alias("_next_hit"),
    )
    return t.filter(
        (F.col("role") == source_role) & (F.col("_n_cues") > 0)
    ).select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        F.col("_n_cues").cast("long").alias("n_cues"),
        F.coalesce(F.col("_next_role") == "assistant", F.lit(False)).alias(
            "next_is_assistant"
        ),
        F.coalesce(
            (F.col("_next_role") == "assistant") & F.col("_next_hit"),
            F.lit(False),
        ).alias("assistant_echo"),
    )


def ts_audit(transcripts: DataFrame) -> DataFrame:
    """Timestamp-integrity audit — the time-order sibling of
    :func:`conv_validate` (which checks turn_idx/role structure): a
    merged or clock-skewed ingest leaves conversations whose wall-clock
    runs backwards against turn order, and every latency/session
    operator downstream silently computes garbage on them. Run this
    first; route ``ts_ok = false`` conversations to quarantine.

    Per ``conv_id``: ``n_turns``, ``n_ts_null``, ``n_inversions``
    (adjacent pairs by turn_idx where both timestamps exist and the
    later turn's ts is STRICTLY earlier), ``n_dup_ts`` (non-null
    timestamps beyond the first per instant — batch writers stamping
    one time on a whole conversation), ``span_seconds`` (max minus min
    non-null epoch; -1 when fewer than two stamps exist — a sentinel,
    not null, keeping the column non-nullable int64 end to end), and
    ``ts_ok`` (no nulls, no inversions).

    Exact integer seconds (epoch difference) end to end. One hash
    partitioning on conv_id serves both the lag window and the final
    groupBy — a single exchange; output is one row per conversation,
    payload text never leaves the scan."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    e = F.col("ts").cast("long")
    per = transcripts.select(
        "conv_id",
        e.alias("_e"),
        F.lag(e).over(w).alias("_pe"),
    )
    agg = per.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_turns"),
        F.sum(F.col("_e").isNull().cast("long"))
        .cast("long")
        .alias("n_ts_null"),
        F.coalesce(
            F.sum(
                (
                    F.col("_e").isNotNull()
                    & F.col("_pe").isNotNull()
                    & (F.col("_e") < F.col("_pe"))
                ).cast("long")
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_inversions"),
        (F.count("_e") - F.countDistinct("_e"))
        .cast("long")
        .alias("n_dup_ts"),
        F.when(F.count("_e") >= 2, F.max("_e") - F.min("_e"))
        .otherwise(F.lit(-1))
        .alias("span_seconds"),
    )
    return agg.select(
        "conv_id",
        "n_turns",
        "n_ts_null",
        "n_inversions",
        "n_dup_ts",
        F.col("span_seconds").cast("long").alias("span_seconds"),
        ((F.col("n_ts_null") == 0) & (F.col("n_inversions") == 0)).alias(
            "ts_ok"
        ),
    )


def response_length_drift(
    transcripts: DataFrame,
    role: str = "assistant",
    bucket_size: int = 4,
    n_buckets: int = 8,
) -> DataFrame:
    """Laziness-drift audit: does response length decay as the
    conversation gets deeper? Assistant turns are bucketed by POSITION
    (``turn_idx div bucket_size``, capped at ``n_buckets-1`` so the
    long tail folds into one terminal bucket) and each bucket reports
    exact corpus-wide length stats. A healthy corpus is roughly flat;
    a steep decay means deep-context turns teach the model to trail
    off, and the fix (truncate or re-weight) needs exactly this table.

    Per bucket: ``(turn_bucket, n_turns, total_chars, max_chars,
    avg_chars_x100)`` — the average in integer centi-chars
    (``floor(100·total/n)``), null-text turns count with length 0 so
    empty responses DRAG the average (they are the symptom being
    audited).

    One map-side-combined groupBy on a ≤``n_buckets``-key space — the
    shuffle is ~n_buckets rows per map partition, nothing else
    moves."""
    n = F.length(F.coalesce(F.col("text"), F.lit("")))
    bucket = F.least(
        F.floor(F.col("turn_idx") / bucket_size).cast("long"),
        F.lit(n_buckets - 1).cast("long"),
    )
    per = (
        transcripts.filter(F.col("role") == role)
        .select(bucket.alias("turn_bucket"), n.alias("_n"))
        .groupBy("turn_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.sum("_n").cast("long").alias("total_chars"),
            F.max("_n").cast("long").alias("max_chars"),
        )
    )
    return per.select(
        "turn_bucket",
        "n_turns",
        "total_chars",
        "max_chars",
        F.floor(F.lit(100) * F.col("total_chars") / F.col("n_turns"))
        .cast("long")
        .alias("avg_chars_x100"),
    )


def tool_chain_topk(
    transcripts: DataFrame, k: int = 20, max_calls: int = 50
) -> DataFrame:
    """Tool-motif mining: the most common COMPLETE tool-call sequences
    across conversations — ``tool_bigrams`` sees transitions, this sees
    whole workflows ("search>fetch>search>fetch" vs "search>answer"),
    which is what an agent-data mix is actually made of. Conversations
    whose chain is a hot motif are templated agent runs; rare chains
    are the interesting organic ones.

    Per conversation the chain is the '>'-joined tool names of its
    tool-role turns in turn order, truncated to ``max_calls`` calls
    (the truncation is marked with a trailing '>…' so a capped chain
    can never collide with a genuinely-short one). Emits the top ``k``
    chains by conversation count, ties broken by chain string — a
    deterministic total order both engines replay.

    One groupBy(conv_id) (order restored by sorting the collected
    (turn_idx, tool) structs INSIDE the row — no window exchange), one
    small groupBy(chain), one top-k; chains are bounded by
    ``max_calls`` names, so the shuffled rows stay small no matter how
    long a runaway agent loop ran."""
    calls = transcripts.filter(F.col("role") == "tool").select(
        "conv_id",
        F.struct(
            F.col("turn_idx").cast("long").alias("turn_idx"),
            F.coalesce(F.col("tool"), F.lit("?")).alias("tool"),
        ).alias("_c"),
    )
    ordered = F.array_sort(F.collect_list("_c"))
    chain = F.concat(
        F.array_join(
            F.transform(
                F.slice(ordered, 1, max_calls), lambda s: s["tool"]
            ),
            ">",
        ),
        F.when(F.size(ordered) > max_calls, F.lit(">…")).otherwise(
            F.lit("")
        ),
    )
    per = (
        calls.groupBy("conv_id")
        .agg(chain.alias("chain"))
    )
    return (
        per.groupBy("chain")
        .agg(F.count(F.lit(1)).cast("long").alias("n_convs"))
        .orderBy(F.col("n_convs").desc(), F.col("chain").asc())
        .limit(k)
    )


IMPERATIVE_OPENERS = (
    "write", "create", "fix", "explain", "list", "give", "make",
    "show", "generate", "add", "remove", "update", "run", "find",
    "summarize", "translate", "describe", "implement", "convert",
    "compare",
)


def dialogue_acts(transcripts: DataFrame) -> DataFrame:
    """Dialogue-act histogram — the SFT mix audit that answers "what is
    this corpus teaching": a set dominated by bare questions trains
    short-form QA, one dominated by imperatives trains task execution,
    and a drift between snapshots is the first sign a source changed
    character. Each turn is tagged with exactly one act by a fixed
    cascade — ``code`` (contains a fenced block), else ``question``
    (trimmed text ends with '?'), else ``command`` (first word is an
    imperative opener from a fixed battery), else ``empty`` (no text),
    else ``statement`` — deliberately deterministic and cheap; a
    semantic classifier is a model call, not an engine operator.

    Emits one row per ``(conv_id, role, act)`` with ``n_turns`` and
    ``n_chars`` (total text length under that act) — per-conversation
    so downstream can filter conversations by composition, and the
    corpus histogram is one further groupBy away.

    One map-side-combined groupBy; the cascade evaluates in codegen on
    the scan, payloads never shuffle."""
    t = F.coalesce(F.col("text"), F.lit(""))
    trimmed = F.trim(t)
    first = F.regexp_extract(F.lower(trimmed), "^[a-z]+", 0)
    act = (
        F.when(t.contains("```"), F.lit("code"))
        .when(trimmed.endswith("?"), F.lit("question"))
        .when(first.isin(*IMPERATIVE_OPENERS), F.lit("command"))
        .when(F.length(trimmed) == 0, F.lit("empty"))
        .otherwise(F.lit("statement"))
    )
    return (
        transcripts.select(
            "conv_id", "role", act.alias("act"), F.length(t).alias("_n")
        )
        .groupBy("conv_id", "role", "act")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.sum("_n").cast("long").alias("n_chars"),
        )
    )


def truncation_scan(
    transcripts: DataFrame, role: str = "assistant"
) -> DataFrame:
    """Mid-generation cutoff audit: assistant turns that stopped on a
    token budget or stop-sequence accident leave structural artifacts —
    an unclosed code fence, no terminal punctuation, a trailing
    ellipsis, unbalanced brackets. Training on truncated completions
    teaches the model to stop mid-thought, so curation wants the rate
    and the offending turns.

    Per ``role`` turn emits ``(conv_id, turn_idx, n_chars, open_fence,
    no_terminal, ends_ellipsis, unbalanced_brackets, n_flags)`` — every
    turn keeps a row (preserve-with-zeros: null/empty text audits
    clean with n_chars 0), flags are independent so downstream can
    weigh them, ``n_flags`` is their sum for cheap thresholding.
    ``no_terminal`` accepts sentence punctuation plus closing
    quotes/brackets/backticks as clean endings of the TRIMMED text.

    Pure map — zero exchanges, zero UDFs; every expression is
    engine-portable length/replace/regex arithmetic."""
    txt = F.coalesce(F.col("text"), F.lit(""))
    trimmed = F.trim(txt)
    n_chars = F.length(txt)
    fence_n = (
        (F.length(txt) - F.length(F.replace(txt, F.lit("```"), F.lit(""))))
        / 3
    ).cast("long")
    open_fence = F.pmod(fence_n, F.lit(2)) == 1
    # \z (absolute end), never $: Java's $ also matches BEFORE a final
    # newline, RE2's does not — text ending "done.\n" would diverge
    ends_clean = trimmed.rlike(r"[.!?:\x60'\")\]}…]\z")
    no_terminal = (F.length(trimmed) > 0) & ~ends_clean
    ends_ellipsis = trimmed.rlike(r"(?:\.\.\.|…)\z")
    n_open = F.length(txt) - F.length(F.translate(txt, "([{", ""))
    n_close = F.length(txt) - F.length(F.translate(txt, ")]}", ""))
    unbalanced = n_open != n_close
    flags = [open_fence, no_terminal, ends_ellipsis, unbalanced]
    return transcripts.filter(F.col("role") == role).select(
        "conv_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        n_chars.cast("long").alias("n_chars"),
        open_fence.alias("open_fence"),
        no_terminal.alias("no_terminal"),
        ends_ellipsis.alias("ends_ellipsis"),
        unbalanced.alias("unbalanced_brackets"),
        sum(f.cast("long") for f in flags).cast("long").alias("n_flags"),
    )


def pii_echo(
    transcripts: DataFrame,
    user_role: str = "user",
    echo_role: str = "assistant",
) -> DataFrame:
    """PII leakage propagation audit: personal data a USER typed that a
    later ASSISTANT turn repeats verbatim — the privacy hazard class a
    per-document scrub underestimates (redacting the user turn is not
    enough once the model's reply carries the same email; and a reply
    that parrots PII is exactly what turn-level training filters must
    catch). One row per (conv_id, kind, value) seen in a user turn::

        first_user_turn  earliest user turn carrying the value
        n_echoes         echo-role turns AFTER that turn whose text
                         matches the same value (each regex match
                         counts — two repeats in one reply are two)
        first_echo_turn  earliest such turn (null when never echoed)

    Echo = the value re-matched by the SAME ``PII_PATTERNS`` regex in
    the echo role's text, joined by equality — never a
    substring-containment join, so the join key is the extracted value
    (bounded bytes) and the shuffle carries values, not transcripts.
    Scale shape: one explode+groupBy over user-turn matches, one
    equi-join on (conv_id, kind, value) against echo-turn matches (the
    post-join rollup reuses the join's partitioning), all regex work
    in codegen, no UDFs."""
    from pdf_extractors_spark.operators.text_stats import PII_PATTERNS

    def _kind_hits(kind: str, pat: str):
        # NOTE: a `lambda v, _k=kind:` closure is NOT safe here —
        # PySpark dispatches higher-order lambdas on arity, so the
        # defaulted second parameter would silently become the
        # (element, index) form and bind the match INDEX to _k
        return F.transform(
            F.regexp_extract_all(
                F.coalesce(F.col("text"), F.lit("")), F.lit(pat), F.lit(0)
            ),
            lambda v: F.struct(F.lit(kind).alias("kind"), v.alias("value")),
        )

    def _matches(role: str) -> DataFrame:
        hits = F.flatten(
            F.array(
                *[_kind_hits(kind, pat) for kind, pat in PII_PATTERNS.items()]
            )
        )
        return (
            transcripts.filter(F.col("role") == role)
            .select("conv_id", "turn_idx", F.explode(hits).alias("h"))
            .select("conv_id", "turn_idx", "h.kind", "h.value")
        )

    user_vals = (
        _matches(user_role)
        .groupBy("conv_id", "kind", "value")
        .agg(F.min("turn_idx").cast("long").alias("first_user_turn"))
    )
    echo_vals = _matches(echo_role)
    after = F.col("e.turn_idx") > F.col("first_user_turn")
    return (
        user_vals.join(
            echo_vals.alias("e"), ["conv_id", "kind", "value"], "left"
        )
        .groupBy("conv_id", "kind", "value", "first_user_turn")
        .agg(
            F.sum(F.when(after, 1).otherwise(0))
            .cast("long")
            .alias("n_echoes"),
            F.min(F.when(after, F.col("e.turn_idx")))
            .cast("long")
            .alias("first_echo_turn"),
        )
    )


def conv_pairs(
    transcripts: DataFrame,
    context_turns: int = 4,
    response_role: str = "assistant",
) -> DataFrame:
    """(context, response) supervised-pair assembly — the transform a
    fine-tuning data pipeline runs after extraction: for every turn
    whose role is ``response_role``, the context is the up-to-
    ``context_turns`` immediately preceding turns' text (in turn order,
    null text as ''), newline-joined; the response is that turn's text.

    One window keyed on conv_id with a BOUNDED frame (``context_turns``
    preceding rows) — per-conversation partitions, context bytes per row
    capped by the frame, no global sort (the A6 keyed-order contract).
    The role filter runs after the window so context still counts
    non-response turns."""
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(-context_turns, -1)
    )
    ctx = F.array_join(
        F.collect_list(F.coalesce(F.col("text"), F.lit(""))).over(w), "\n"
    )
    return (
        transcripts.withColumn("context", ctx)
        .filter(F.col("role") == response_role)
        .select(
            "conv_id",
            F.col("turn_idx").cast("long").alias("turn_idx"),
            "context",
            F.coalesce(F.col("text"), F.lit("")).alias("response"),
        )
    )


def sft_pack(
    transcripts: DataFrame,
    response_role: str = "assistant",
) -> DataFrame:
    """Pack each conversation into ONE supervised-fine-tuning example:
    all turns concatenated in turn order as ``role: text\\n`` pieces,
    plus the LOSS-MASK span list — the ``start:end`` (end-exclusive)
    character ranges of ``packed_text`` that hold ``response_role``
    turns' payload, i.e. the only characters a fine-tune computes loss
    on. Spans are emitted as the canonical ``"s:e;s:e"`` string so the
    result is engine-portable (and trivially value-hashable).

    Scale shape: ONE exchange on conv_id serves both the
    offset window (cumulative piece length over turn order) and the
    final per-conversation aggregation — Catalyst reuses the
    partitioning, so a conversation's bytes move once. Ordered
    reassembly is array_sort over collected (turn_idx, piece) structs
    (the A6 keyed-order contract: no global sort). Null text packs as
    '' — a masked empty span, not a dropped turn."""
    piece = F.concat(
        F.col("role"), F.lit(": "), F.coalesce(F.col("text"), F.lit("")), F.lit("\n")
    )
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum(F.length("_piece")).over(w), F.lit(0))
    text_start = F.col("_start") + F.length("role") + F.lit(2)
    text_end = text_start + F.length(F.coalesce(F.col("text"), F.lit("")))
    span = F.concat(
        text_start.cast("string"), F.lit(":"), text_end.cast("string")
    )
    staged = (
        transcripts.withColumn("_piece", piece)
        .withColumn("_start", start)
        .withColumn(
            "_span",
            F.when(F.col("role") == response_role, span),
        )
    )
    return staged.groupBy("conv_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("turn_idx", "_piece"))
                ),
                lambda x: x["_piece"],
            ),
            "",
        ).alias("packed_text"),
        F.count("*").cast("long").alias("n_turns"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_span").isNotNull(),
                            F.struct("turn_idx", "_span"),
                        )
                    )
                ),
                lambda x: x["_span"],
            ),
            ";",
        ).alias("mask_spans"),
    )


def tool_call_stats(
    transcripts: DataFrame, payload_col: str = "text"
) -> DataFrame:
    """Per-tool reliability rollup over agent-transcript tool turns: for
    every ``role='tool'`` turn, parse the result payload as the standard
    ``{"status": ..., "latency_ms": ..., ...}`` JSON envelope and emit
    one row per tool with call counts, ok/error splits, JSON-invalid
    counts, and exact latency aggregates. The first question asked of an
    agent-transcript corpus ("which tools fail, how often, how slowly")
    and the filter basis for dropping conversations with broken tool
    loops before training.

    ``from_json`` is permissive: a payload that is not a JSON object
    (truncated tool output, raw text, null) parses to a null struct and
    is counted in ``n_invalid`` rather than dropped or raised — at
    10^12 turns malformed tool output is data, not an error. A valid
    envelope missing ``status`` counts as invalid too (the envelope IS
    the contract). One filter + one map-side-combined groupBy on tool;
    JSON parsing is JVM-side codegen (Jackson), no Python anywhere."""
    j = F.from_json(
        F.col(payload_col), "status string, latency_ms bigint"
    )
    parsed = transcripts.filter(F.col("role") == "tool").select(
        "tool",
        j.alias("_j"),
    )
    valid = F.col("_j").isNotNull() & F.col("_j.status").isNotNull()
    lat = F.when(valid, F.col("_j.latency_ms"))
    return (
        parsed.groupBy("tool")
        .agg(
            F.count("*").alias("n_calls"),
            F.sum(
                (valid & (F.col("_j.status") == "ok")).cast("long")
            ).alias("n_ok"),
            F.sum(
                (valid & (F.col("_j.status") != "ok")).cast("long")
            ).alias("n_error"),
            F.sum((~valid).cast("long")).alias("n_invalid"),
            F.sum(lat).cast("long").alias("total_latency_ms"),
            F.max(lat).cast("long").alias("max_latency_ms"),
        )
    )



def conv_validate(transcripts: DataFrame) -> DataFrame:
    """Per-conversation structural validation — the integrity gate a
    transcript-ingest pipeline runs before extraction: malformed
    conversations (duplicated or missing turn indices, role-alternation
    breaks, empty assistant turns, tool results with no preceding
    assistant call) are flagged, not silently extracted.

    Per ``conv_id`` emits::

        n_turns          total rows
        n_dup_idx        rows beyond the first per turn_idx
        n_gap_idx        missing indices in [min_idx, max_idx]
        min_idx          first turn index (a valid conversation starts at 0)
        n_role_repeats   adjacent pairs (user/assistant only) with the
                         same role — a broken alternation
        n_empty_assistant  assistant turns whose text is null/blank
        n_orphan_tool    'tool' turns whose preceding turn is not an
                         assistant turn (incl. a 'tool' first turn)
        conv_ok          true iff all counters are 0 and min_idx = 0

    Adjacency is defined over the total order (turn_idx, role) so the
    result is deterministic even when turn_idx is duplicated (the very
    defect being detected). One hash partitioning on conv_id serves both
    the lag window and the final groupBy — a single exchange; at 10^12
    turns the output is one row per conversation, ~1000× smaller than
    the input, and no payload text survives past the per-row projection.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "role")
    prev_role = F.lag("role").over(w)
    blank = F.trim(F.coalesce(F.col("text"), F.lit(""))) == ""
    per_turn = transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        F.col("role").isin("user", "assistant").alias("is_ua"),
        # coalesce: the first turn's lag is NULL, and a sum over an
        # all-NULL group (single-turn conversation) would be NULL
        F.coalesce(
            prev_role.isin("user", "assistant") & (prev_role == F.col("role")),
            F.lit(False),
        ).alias("role_repeat"),
        ((F.col("role") == "assistant") & blank).alias("empty_assistant"),
        (
            (F.col("role") == "tool")
            & (~F.coalesce(prev_role == "assistant", F.lit(False)))
        ).alias("orphan_tool"),
    )
    agg = per_turn.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        (F.count("*") - F.countDistinct("turn_idx")).alias("n_dup_idx"),
        (
            F.max("turn_idx") - F.min("turn_idx") + 1 - F.countDistinct("turn_idx")
        ).alias("n_gap_idx"),
        F.min("turn_idx").cast("long").alias("min_idx"),
        F.sum(F.col("role_repeat").cast("long")).alias("n_role_repeats"),
        F.sum(F.col("empty_assistant").cast("long")).alias("n_empty_assistant"),
        F.sum(F.col("orphan_tool").cast("long")).alias("n_orphan_tool"),
    )
    ok = (
        (F.col("n_dup_idx") == 0)
        & (F.col("n_gap_idx") == 0)
        & (F.col("min_idx") == 0)
        & (F.col("n_role_repeats") == 0)
        & (F.col("n_empty_assistant") == 0)
        & (F.col("n_orphan_tool") == 0)
    )
    return agg.withColumn("conv_ok", ok)


def conv_repair(transcripts: DataFrame) -> DataFrame:
    """Per-conversation structural REPAIR — the normalization a
    fine-tuning pipeline runs on conversations ``conv_validate`` flags,
    instead of discarding them. Deterministic, order-of-operations
    fixed:

    1. **blank drop** — turns whose text is null/blank (after ``trim``)
       are removed, any role.
    2. **exact-duplicate collapse** — rows identical in (turn_idx,
       role, text) — the duplicated-index defect ``conv_validate``
       counts — keep one copy; the multiplicity feeds ``n_merged``.
       This also makes (turn_idx, role, text) a TOTAL order within the
       conversation, which the window stages below require: with
       surviving exact ties an engine may evaluate the lag window and
       the running-sum window under different arbitrary tie orders and
       split a same-role run nondeterministically (observed in the
       DuckDB oracle before this step existed).
    3. **orphan-tool drop** — a ``tool`` turn survives iff the nearest
       PRECEDING non-tool surviving turn is an ``assistant`` turn
       (chained tool results after one assistant call all survive).
    4. **same-role merge** — consecutive surviving turns with the same
       role collapse into one turn; distinct texts joined with a
       newline in (turn_idx, role, text) order.
    5. **re-index** — surviving merged turns are renumbered 0..k-1.

    Emits (conv_id, turn_idx, role, text, n_merged) where ``n_merged``
    is how many source turns fed the merged row (duplicates included).

    The upfront ``repartition("conv_id")`` pins ONE hash exchange for
    the whole repair: the dedup aggregate and every window cluster on
    supersets of conv_id, so nothing downstream re-shuffles payloads;
    at 10^12 turns the cost profile is ``conv_validate`` plus the
    in-partition sorts."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "role", "text")
    # 1+2. blank drop, then exact-duplicate collapse
    alive = (
        transcripts.select("conv_id", "turn_idx", "role", "text")
        .filter(F.trim(F.coalesce(F.col("text"), F.lit(""))) != "")
        .repartition("conv_id")
        .groupBy("conv_id", "turn_idx", "role", "text")
        .agg(F.count("*").alias("_m"))
    )
    # 3. orphan-tool drop: fill-down of the last non-tool role strictly
    # before the current row
    prev_nt = F.last(
        F.when(F.col("role") != "tool", F.col("role")), ignorenulls=True
    ).over(w.rowsBetween(Window.unboundedPreceding, -1))
    alive = alive.withColumn("_prev_nt", prev_nt).filter(
        (F.col("role") != "tool") | (F.col("_prev_nt") == "assistant")
    )
    # 4. islands of consecutive same-role turns (gaps-and-islands over
    # the post-drop frame)
    role_change = F.when(
        F.lag("role").over(w).isNull() | (F.lag("role").over(w) != F.col("role")),
        F.lit(1),
    ).otherwise(F.lit(0))
    alive = alive.withColumn("_rc", role_change).withColumn(
        "_island",
        F.sum("_rc").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    wi = Window.partitionBy("conv_id", "_island").orderBy(
        "turn_idx", "role", "text"
    )
    wif = wi.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    merged = (
        alive.withColumn(
            "text", F.concat_ws("\n", F.collect_list("text").over(wif))
        )
        .withColumn("n_merged", F.sum("_m").over(wif))
        .withColumn("_rn", F.row_number().over(wi))
        .filter(F.col("_rn") == 1)
    )
    # 5. re-index
    return merged.select(
        "conv_id",
        (
            F.row_number().over(Window.partitionBy("conv_id").orderBy("_island"))
            - 1
        ).cast("long").alias("turn_idx"),
        "role",
        "text",
        F.col("n_merged").cast("long").alias("n_merged"),
    )


def explode_turn_lines(transcripts: DataFrame) -> DataFrame:
    """S4/M9 as a pure-Spark op: payload → ordered lines via
    posexplode(split()), preserving reading order without any UDF."""
    return transcripts.select(
        "conv_id",
        "turn_idx",
        F.posexplode(F.split("text", "\n")).alias("line_no", "line"),
    )


def explode_multirow_cells(df: DataFrame, cols: list[str]) -> DataFrame:
    """M9 (playground/ocr_to_csv_sak.py:127-142): cells may contain
    embedded newlines; emit max_splits rows per input row, repeating a
    cell's FIRST part when it has fewer parts than the widest cell.
    Pure column math: split → greatest(size) → posexplode(sequence) →
    coalesce(element_at(i+1), element_at(1))."""
    parts = {c: F.split(F.col(c), "\n") for c in cols}
    # coalesce each size to 1: under ANSI, size(split(NULL)) is NULL and
    # a NULL max_splits would make explode(sequence(...)) silently DROP
    # the whole row — a null cell must yield one output row, not zero
    sizes = [F.coalesce(F.size(parts[c]), F.lit(1)) for c in cols]
    m = F.greatest(*sizes) if len(cols) > 1 else sizes[0]
    others = [c for c in df.columns if c not in cols]
    exploded = df.select(
        *others,
        *[parts[c].alias(f"_p_{c}") for c in cols],
        F.explode(F.sequence(F.lit(0), m - 1)).alias("_i"),
    )
    picked = [
        F.coalesce(
            F.try_element_at(F.col(f"_p_{c}"), F.col("_i") + 1),
            F.try_element_at(F.col(f"_p_{c}"), F.lit(1)),
        ).alias(c)
        for c in cols
    ]
    return exploded.select(*others, F.col("_i").alias("part_no"), *picked)


def boilerplate_filter(lines: DataFrame, line_col: str = "line") -> DataFrame:
    """F1 as a native predicate (household.py:95-96) — stays inside
    whole-stage codegen, pushes down to the scan when applied pre-explode."""
    return lines.filter(
        ~F.col(line_col).rlike(
            r"^(Cambridge Books|https://|Catalogue of census declarations)"
        )
        & (F.col(line_col) != "")
    )


def collapse_repeats(transcripts: DataFrame) -> DataFrame:
    """Consecutive-duplicate turn collapse: an agent stuck in a retry
    loop (or a client double-send) emits runs of turns whose (role,
    text) are identical; each run collapses to its FIRST turn plus an
    exact repeat count — the transcript-hygiene pass that runs before
    conv_pairs/sft_pack so fine-tuning examples never teach the loop.
    Only ADJACENT duplicates collapse: the same text reappearing later
    in the conversation is legitimate context and survives (that is
    what distinguishes this from a per-conversation dropDuplicates).

    Gaps-and-islands with null-safe equality (two null-text turns ARE
    the same turn repeated): run id = cumulative count of
    run-boundaries over (conv_id, turn_idx) order, then one group per
    run. Both the window and the groupBy cluster on conv_id — the
    window's hash partitioning satisfies the (conv_id, run) grouping,
    so the whole operator is ONE exchange. min() stands in for the
    run's constant role/text (every member is equal by construction),
    keeping the aggregate partial-combinable."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    same_as_prev = F.col("role").eqNullSafe(F.lag("role").over(w)) & F.col(
        "text"
    ).eqNullSafe(F.lag("text").over(w))
    runs = transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        F.sum(F.when(same_as_prev, 0).otherwise(1))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("_run"),
    )
    return (
        runs.groupBy("conv_id", "_run")
        .agg(
            F.min("turn_idx").alias("turn_idx"),
            F.min("role").alias("role"),
            F.min("text").alias("text"),
            F.count("*").cast("long").alias("n_repeats"),
        )
        .select("conv_id", "turn_idx", "role", "text", "n_repeats")
    )


def template_turns(transcripts: DataFrame, min_convs: int = 3) -> DataFrame:
    """Canned-response / template detection across conversations: turns
    whose normalized text recurs in at least ``min_convs`` DISTINCT
    conversations are templates (greeting macros, boilerplate refusals,
    tool-error strings) — the cross-conversation complement of
    collapse_repeats (which only sees adjacency within one
    conversation). Template text is exactly what an SFT pipeline must
    downweight: it dominates gradient counts while carrying no
    information.

    Emits one row per template: ``text_hash`` (md5 of the normalized
    form), ``n_convs`` (distinct conversations), ``n_turns`` (total
    occurrences) and ``sample_text`` (the lexicographically smallest
    raw text in the group — deterministic at any parallelism).
    Null/whitespace-only turns are excluded: emptiness is not a
    template.

    Scale: ONE map-side-combined aggregation keyed by the 16-byte hash;
    the count-distinct on conv_id partial-aggregates, and sample_text's
    min() carries at most one payload per group per map partition."""
    from pyspark.sql import functions as F

    norm = F.trim(
        F.regexp_replace(F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+", " ")
    )
    hashed = transcripts.select(
        F.md5(norm).alias("text_hash"),
        "conv_id",
        "text",
    ).filter(norm != "")
    return (
        hashed.groupBy("text_hash")
        .agg(
            F.countDistinct("conv_id").cast("long").alias("n_convs"),
            F.count("*").cast("long").alias("n_turns"),
            F.min("text").alias("sample_text"),
        )
        .filter(F.col("n_convs") >= min_convs)
    )


def turn_latency_stats(transcripts: DataFrame) -> DataFrame:
    """Per-conversation response-latency rollup: for every
    user → assistant adjacency (in turn order), the delta between the
    two turns' event timestamps — the agent-responsiveness signal
    behind SLA dashboards and stuck-loop triage (a conversation whose
    max latency is hours is a hung tool call). Deltas are exact integer
    seconds (epoch difference), so the aggregate replays bit-for-bit.

    Emits ``(conv_id, n_responses, total_secs, min_secs, max_secs,
    mean_secs_bp)`` — mean in half-up basis points of a second.
    Conversations with no user→assistant adjacency (tool-only, or
    single-turn) are preserved with zeros. Null timestamps contribute
    no delta (a null epoch difference is skipped, not zeroed).

    One exchange: the lag window and the per-conversation aggregate
    share hashpartitioning(conv_id)."""
    from pyspark.sql import Window, functions as F

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    lagged = transcripts.select(
        "conv_id",
        "role",
        F.col("ts").cast("long").alias("_epoch"),
        F.lag("role").over(w).alias("_prev_role"),
        F.lag(F.col("ts").cast("long")).over(w).alias("_prev_epoch"),
    )
    delta = F.when(
        (F.col("role") == "assistant")
        & (F.col("_prev_role") == "user")
        & F.col("_epoch").isNotNull()
        & F.col("_prev_epoch").isNotNull(),
        F.col("_epoch") - F.col("_prev_epoch"),
    )
    per = lagged.groupBy("conv_id").agg(
        F.count(delta).cast("long").alias("n_responses"),
        F.coalesce(F.sum(delta), F.lit(0)).cast("long").alias("total_secs"),
        F.coalesce(F.min(delta), F.lit(0)).cast("long").alias("min_secs"),
        F.coalesce(F.max(delta), F.lit(0)).cast("long").alias("max_secs"),
    )
    return per.withColumn(
        "mean_secs_bp",
        F.when(
            F.col("n_responses") > 0,
            F.expr(
                "(2 * 10000 * total_secs + n_responses)"
                " div (2 * n_responses)"
            ),
        ).otherwise(F.lit(0)).cast("long"),
    )


def conv_truncate(
    transcripts: DataFrame, budget_tokens: int = 512
) -> DataFrame:
    """Context-window truncation, most-recent-first: per conversation,
    keep the longest SUFFIX of whole turns whose whitespace-token total
    fits ``budget_tokens`` — the standard chat-history packing rule
    (never split a turn, never drop the final turn even if it alone
    exceeds the budget, because the final turn is the one being
    answered). The turn-boundary guarantee is what separates this from
    character slicing: a truncated transcript must still parse as a
    transcript.

    Emits EVERY turn with its ``n_tokens``, the running suffix total
    ``suffix_tokens`` (this turn + everything after it) and the
    ``kept`` verdict — callers filter ``kept`` for the packed history
    and audit the rest; returning the verdict column instead of
    pre-filtering keeps the operator's output a total function of its
    input (drop decisions stay reviewable).

    One exchange: the reverse cumulative window and everything after it
    cluster on conv_id. Null text counts 0 tokens and is kept by the
    same rule."""
    toks = F.when(
        F.col("text").isNotNull(),
        F.size(F.filter(
            F.split(F.trim(F.col("text")), r"\s+", -1),
            lambda t: t != F.lit(""),
        )),
    ).otherwise(F.lit(0))
    w = Window.partitionBy("conv_id").orderBy(F.col("turn_idx").desc())
    base = transcripts.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        toks.cast("long").alias("n_tokens"),
    )
    scored = base.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "n_tokens",
        F.sum("n_tokens")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("suffix_tokens"),
        F.row_number().over(w).alias("_pos_from_end"),
    )
    return scored.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "n_tokens",
        F.col("suffix_tokens").cast("long").alias("suffix_tokens"),
        (
            (F.col("suffix_tokens") <= budget_tokens)
            | (F.col("_pos_from_end") == 1)
        ).alias("kept"),
    )


def session_rollup(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
) -> DataFrame:
    """Per-key session rollup via the NATIVE ``session_window``: Spark's
    merging-window aggregation (each event opens ``[ts, ts+gap)``;
    overlapping windows merge), the same operator that powers streaming
    sessionization — so this rollup lifts to ``readStream`` + watermark
    unchanged, unlike the two-window gaps-and-islands of
    :func:`time_sessionize` which needs bounded input. One exchange on
    the grouping key; the merge happens inside the aggregation, no lag
    window, no second sort.

    Boundary contract (session_window semantics, replayed by the
    oracle and pinned by test): an event exactly ``gap`` after its
    predecessor MERGES into the session — only a strictly larger gap
    starts a new one, identical to :func:`time_sessionize`'s ``>``
    predicate. Emits (key, s_start, s_end,
    n_events) with ``s_end = last_ts + gap``. Null timestamps are
    dropped by the window expression — count them upstream if they must
    be audited (conv_validate does)."""
    return (
        events.groupBy(F.session_window(F.col(ts_col), gap), F.col(key_col))
        .agg(F.count("*").cast("long").alias("n_events"))
        .select(
            F.col(key_col),
            F.col("session_window.start").alias("s_start"),
            F.col("session_window.end").alias("s_end"),
            "n_events",
        )
    )


def conv_stitch_arrow(transcripts: DataFrame, sep: str = "\n\n") -> DataFrame:
    """Cross-turn assembly via grouped-map ``applyInArrow``: one row per
    conversation, ``(conv_id, n_turns, stitched_text)``, with the turns'
    text joined by ``sep`` in turn order and null text as ''. The group
    arrives as a ``pyarrow.Table`` and is assembled with pyarrow compute
    kernels, with no pandas materialization in the worker. One conv_id
    exchange. This is the slot where per-conversation Python (entity
    resolution across turns, summarization) plugs in."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def stitch(table: pa.Table) -> pa.Table:
        idx = pc.sort_indices(table["turn_idx"])
        texts = pc.fill_null(table.column("text").take(idx), "").combine_chunks()
        # one list<string> cell wrapping the whole group → binary_join
        # concatenates inside Arrow (no per-turn Python string hops)
        wrapped = pa.ListArray.from_arrays(
            pa.array([0, len(texts)], pa.int32()), texts
        )
        joined = pc.binary_join(wrapped, sep)
        return pa.table(
            {
                "conv_id": pa.array([table["conv_id"][0].as_py()], pa.string()),
                "n_turns": pa.array([table.num_rows], pa.int64()),
                "stitched_text": joined.cast(pa.string()),
            }
        )

    return (
        transcripts.select("conv_id", "turn_idx", "text")
        .groupBy("conv_id")
        .applyInArrow(
            stitch, schema="conv_id string, n_turns long, stitched_text string"
        )
    )


def watermark_lateness(
    events: DataFrame,
    delay_s: int = 60,
    key_col: str = "conv_id",
    order_col: str = "turn_idx",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermark-choice audit: replay the stream in arrival order
    (``order_col``) and count, per key, the rows a watermarked streaming
    aggregation with ``withWatermark(ts, delay_s)`` would DROP — rows
    whose event time trails the running max event time of earlier
    arrivals by more than ``delay_s`` seconds. The one number a team
    needs before picking a watermark delay for the streaming rollups
    (``streaming/extract_stream.py``): too tight drops data, too loose
    holds state.

    Per key emits::

        n_rows             arrival rows (null event times excluded)
        n_late             rows a delay_s watermark would drop
        max_disorder_secs  worst observed disorder (running-max − event
                           time, 0 when in order) — the MINIMUM delay
                           that would have dropped nothing
        n_null_ts          rows with no event time (audited, not dropped
                           silently)

    Exact integer seconds (epoch difference), so the audit replays
    bit-for-bit in the SQL oracle. One exchange: the running-max window
    and the per-key aggregate share hashpartitioning(key)."""
    ep = F.col(ts_col).cast("long")
    w = (
        Window.partitionBy(key_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # running max over STRICTLY EARLIER arrivals: a row is judged against
    # the watermark the engine held when it arrived, not one it advances
    run_max = F.max(ep).over(w)
    disorder = F.when(
        ep.isNotNull() & run_max.isNotNull(),
        F.greatest(run_max - ep, F.lit(0)),
    )
    rows = events.select(
        F.col(key_col),
        ep.alias("_ep"),
        disorder.alias("_disorder"),
    )
    return rows.groupBy(key_col).agg(
        F.count("_ep").cast("long").alias("n_rows"),
        F.coalesce(
            F.sum((F.col("_disorder") > delay_s).cast("long")), F.lit(0)
        ).cast("long").alias("n_late"),
        F.coalesce(F.max("_disorder"), F.lit(0))
        .cast("long")
        .alias("max_disorder_secs"),
        F.sum(F.col("_ep").isNull().cast("long"))
        .cast("long")
        .alias("n_null_ts"),
    )


def retry_runs(
    transcripts: DataFrame, min_run: int = 3
) -> DataFrame:
    """Degenerate-retry detection: per conversation, run lengths of
    CONSECUTIVE identical tool calls (``role='tool'`` turns in turn
    order, islands of equal ``tool``). An agent stuck in a loop retries
    the same tool back-to-back; the per-edge Markov table
    (``tool_transitions``) sees the self-edge but not the run length —
    this is the conversation-level signal a training-data filter
    actually thresholds on.

    Per conversation (conversations with no tool turns are preserved
    with zeros) emits::

        n_tool_calls   tool-role turns
        n_runs         islands of consecutive identical tool values
        max_run        longest island (0 when no tool turns)
        n_runs_ge_min  islands with length >= min_run — the loop count

    Null tool names form their own island value (null-safe equality),
    counted like any other. Gaps-and-islands with both windows on
    conv_id, then a per-conversation rollup: every cluster key is a
    superset of conv_id, one exchange total. Left-joined back onto the
    distinct conv_id set so tool-less conversations keep their zeros."""
    tools = transcripts.filter(F.col("role") == "tool").select(
        "conv_id", F.col("turn_idx").alias("_idx"), "tool"
    )
    w_all = Window.partitionBy("conv_id").orderBy("_idx")
    # island id = arrival seq minus per-tool seq (classic gaps-and-islands)
    seq = F.row_number().over(w_all)
    seq_tool = F.row_number().over(
        Window.partitionBy("conv_id", "tool").orderBy("_idx")
    )
    islands = tools.select(
        "conv_id",
        "tool",
        (seq - seq_tool).alias("_island"),
    )
    runs = islands.groupBy("conv_id", "tool", "_island").agg(
        F.count("*").cast("long").alias("_run_len")
    )
    per_conv = runs.groupBy("conv_id").agg(
        F.sum("_run_len").cast("long").alias("n_tool_calls"),
        F.count("*").cast("long").alias("n_runs"),
        F.max("_run_len").cast("long").alias("max_run"),
        F.sum((F.col("_run_len") >= min_run).cast("long"))
        .cast("long")
        .alias("n_runs_ge_min"),
    )
    all_convs = transcripts.select("conv_id").distinct()
    return all_convs.join(per_conv, "conv_id", "left").select(
        "conv_id",
        F.coalesce("n_tool_calls", F.lit(0)).cast("long").alias("n_tool_calls"),
        F.coalesce("n_runs", F.lit(0)).cast("long").alias("n_runs"),
        F.coalesce("max_run", F.lit(0)).cast("long").alias("max_run"),
        F.coalesce("n_runs_ge_min", F.lit(0))
        .cast("long")
        .alias("n_runs_ge_min"),
    )


def tool_args_keys(
    transcripts: DataFrame, payload_col: str = "text"
) -> DataFrame:
    """Tool-envelope schema audit: for every tool, which JSON keys its
    result payloads actually carry and how often — the drift report that
    catches a tool fleet changing its envelope mid-corpus (a key present
    in 40% of rows IS the migration boundary). Complements
    :func:`tool_call_stats`, which assumes the envelope; this measures
    it.

    ``role='tool'`` payloads parse permissively as a flat JSON object
    (``from_json`` to ``map<string,string>``); non-object payloads count
    toward the tool's ``n_json``-vs-``n_calls`` gap instead of erroring.
    Per ``(tool, key)`` emits::

        n_calls   tool-role turns for this tool (same on every key row)
        n_json    turns that parsed as a JSON object
        n_with_key  parsed turns carrying this key
        pct_bp      n_with_key / n_json in half-up basis points

    Two map-side-combined aggregates — key counts on (tool, key), totals
    on tool — joined on tool; the totals table is one row per tool, so
    AQE broadcasts it. JSON parsing is JVM-side codegen (Jackson), no
    Python anywhere; at 10^12 turns the shuffle carries (tool, key)
    pairs and counts, never payloads."""
    parsed = transcripts.filter(F.col("role") == "tool").select(
        "tool",
        F.from_json(F.col(payload_col), "map<string,string>").alias("_m"),
    )
    totals = parsed.groupBy("tool").agg(
        F.count("*").cast("long").alias("n_calls"),
        F.sum(F.col("_m").isNotNull().cast("long"))
        .cast("long")
        .alias("n_json"),
    )
    keys = (
        parsed.filter(F.col("_m").isNotNull())
        .select("tool", F.explode(F.map_keys("_m")).alias("key"))
        .groupBy("tool", "key")
        .agg(F.count("*").cast("long").alias("n_with_key"))
    )
    return keys.join(totals, "tool").select(
        "tool",
        "key",
        "n_calls",
        "n_json",
        "n_with_key",
        F.floor(
            (F.lit(2) * 10000 * F.col("n_with_key") + F.col("n_json"))
            / (F.lit(2) * F.col("n_json"))
        )
        .cast("long")
        .alias("pct_bp"),
    )


def parrot_rate(transcripts: DataFrame) -> DataFrame:
    """Per-conversation parroting signal: what share of the assistant's
    DISTINCT vocabulary already appears in the conversation's user
    turns. An assistant that mostly echoes the user back contributes
    low-value SFT targets; the rank-order of this score is the
    downweighting input. Distinct tokens (type overlap, not token
    counts) so a single echoed word cannot be laundered into a high
    score by repetition.

    Per conversation (conversations with no assistant tokens are
    preserved with zeros and ``parrot_bp = 0``) emits::

        n_asst_types   distinct whitespace tokens across assistant turns
        n_shared       of those, tokens also present in ANY user turn
        parrot_bp      n_shared / n_asst_types in half-up basis points

    Shape: ONE pass over the exploded tokens — a per-(conv_id, token)
    flag aggregation (seen-in-user / seen-in-assistant bools, map-side
    combined) replaces separate role token sets, so the overlap is
    column math on the flags instead of a self-join, and the exploded
    subtree is never duplicated in the plan. Two keyed exchanges total
    ((conv_id, token) → conv_id) plus the conv_id basis; payload text
    never shuffles, only (conv_id, token) pairs."""
    role = F.col("role")
    flags = (
        transcripts.filter(role.isin("user", "assistant"))
        .select(
            "conv_id",
            (role == F.lit("assistant")).alias("_is_a"),
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy("conv_id", "tok")
        .agg(
            F.max(F.col("_is_a").cast("int")).alias("_in_a"),
            F.max((~F.col("_is_a")).cast("int")).alias("_in_u"),
        )
    )
    per = flags.groupBy("conv_id").agg(
        F.sum("_in_a").cast("long").alias("n_asst_types"),
        F.sum(F.col("_in_a") * F.col("_in_u")).cast("long").alias("n_shared"),
    )
    base = transcripts.select("conv_id").distinct()
    joined = base.join(per, "conv_id", "left")
    a = F.coalesce("n_asst_types", F.lit(0))
    s = F.coalesce("n_shared", F.lit(0))
    return joined.select(
        "conv_id",
        a.cast("long").alias("n_asst_types"),
        s.cast("long").alias("n_shared"),
        F.when(
            a > 0,
            F.floor((F.lit(2) * 10000 * s + a) / (F.lit(2) * a)),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("parrot_bp"),
    )


def prompt_dedup(
    transcripts: DataFrame, min_convs: int = 2
) -> DataFrame:
    """Canned-prompt campaign detection: conversations grouped by the
    normalized text of their FIRST user turn. Scraped/synthetic corpora
    carry floods of conversations opened from one template; training on
    all of them overweights the template — this is the table a mixture
    builder caps against (template_turns' sibling, keyed on the opening
    prompt instead of any turn).

    Emits, per normalized first-prompt identity seen in ``min_convs``
    or more conversations::

        prompt_hash    md5 of the normalized prompt (empty/null first
                       prompts form their own explicit class)
        n_convs        conversations opening with it
        sample_conv    min conv_id (the auditable exemplar)
        sample_prompt  min raw prompt text of the group

    First turn = lowest ``turn_idx`` among the conversation's user
    turns, tie-broken by text so the choice is total. One conv_id
    window (first-turn pick) + one map-side-combined groupBy on the
    16-byte hash; prompts shuffle once, full transcripts never."""
    from .operators.dedup import normalize_text

    w = Window.partitionBy("conv_id").orderBy(
        "turn_idx", F.coalesce("text", F.lit(""))
    )
    firsts = (
        transcripts.filter(F.col("role") == "user")
        .select("conv_id", "turn_idx", "text")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
    )
    return (
        firsts.select(
            "conv_id",
            F.md5(
                F.coalesce(normalize_text(F.col("text")), F.lit(""))
            ).alias("prompt_hash"),
            F.coalesce("text", F.lit("")).alias("_raw"),
        )
        .groupBy("prompt_hash")
        .agg(
            F.count("*").cast("long").alias("n_convs"),
            F.min("conv_id").alias("sample_conv"),
            F.min("_raw").alias("sample_prompt"),
        )
        .filter(F.col("n_convs") >= min_convs)
    )


def render_chatml(transcripts: DataFrame) -> DataFrame:
    """Render each conversation into chat-template training text (the
    inverse of special_token_leaks' audit): turns in order, each wrapped
    as ``<|im_start|>role\\ntext<|im_end|>``, joined with newlines. The
    final SFT-prep serialization — downstream of dedup/quality/packing,
    immediately before tokenization.

    Emits ``(conv_id, n_turns, chatml_text)``. Null turn text renders as
    empty (the marker structure is preserved — a missing payload must
    not silently delete its turn). Ordering is total: (turn_idx, role,
    text), so duplicated turn indices render deterministically.

    One exchange on conv_id: collect_list + array_sort + transform +
    array_join all inside the aggregate — the whole render is a single
    map-side-combinable aggregation, no window, no grouped-map UDF."""
    turn = F.struct(
        F.col("turn_idx"),
        F.col("role"),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
    )
    rendered = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(turn)),
            lambda t: F.concat(
                F.lit("<|im_start|>"),
                t["role"],
                F.lit("\n"),
                t["text"],
                F.lit("<|im_end|>"),
            ),
        ),
        "\n",
    )
    return transcripts.groupBy("conv_id").agg(
        F.count("*").cast("long").alias("n_turns"),
        rendered.alias("chatml_text"),
    )


def tool_latency_percentiles(
    transcripts: DataFrame, payload_col: str = "text"
) -> DataFrame:
    """Per-tool latency distribution from the standard JSON result
    envelope — the p50/p90/p99 dashboard behind tool SLOs and the
    straggler-tool hunt (:func:`tool_call_stats` gives totals and error
    splits; tails live here, and a tool whose p99 is 100× its p50 is a
    retry storm or a hung dependency, not a slow tool).

    Per tool emits ``(tool, n_timed, p50_ms, p90_ms, p99_ms,
    max_ms)`` — exact interpolated percentiles (Spark ``percentile`` ≡
    DuckDB ``quantile_cont``, both linear), rounded to 2 decimals for
    engine-portable hashing; envelopes that do not parse or carry no
    latency are excluded from the timing basis (tool_call_stats counts
    them). One map-side-combined groupBy on tool; JSON parsing is JVM
    codegen."""
    j = F.from_json(F.col(payload_col), "status string, latency_ms bigint")
    timed = (
        transcripts.filter(F.col("role") == "tool")
        .select("tool", j["latency_ms"].alias("_lat"))
        .filter(F.col("_lat").isNotNull())
    )
    return timed.groupBy("tool").agg(
        F.count("*").cast("long").alias("n_timed"),
        F.round(F.expr("percentile(_lat, 0.5)"), 2).alias("p50_ms"),
        F.round(F.expr("percentile(_lat, 0.9)"), 2).alias("p90_ms"),
        F.round(F.expr("percentile(_lat, 0.99)"), 2).alias("p99_ms"),
        F.max("_lat").cast("long").alias("max_ms"),
    )


def role_token_share(transcripts: DataFrame) -> DataFrame:
    """Per-conversation role balance — the SFT mixture audit: a
    conversation that is 95% assistant tokens is a monologue, one that
    is 95% user tokens is a paste dump, and both get down-weighted
    before pair assembly. Whitespace token counts per role, plus the
    assistant share in half-up basis points of the user+assistant
    total (tool output is infrastructure, not dialogue — counted,
    excluded from the share).

    Emits ``(conv_id, user_tokens, assistant_tokens, tool_tokens,
    assistant_share_bp)``; share is 0 when the conversation has no
    dialogue tokens at all. One map-side-combined groupBy(conv_id) over
    per-turn token counts — conditional aggregation, no pivot shuffle,
    payloads never move."""
    n_toks = F.coalesce(
        F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+")), F.lit(0)
    )
    toks = F.when(F.trim(F.coalesce(F.col("text"), F.lit(""))) == "", 0).otherwise(n_toks)
    per = transcripts.groupBy("conv_id").agg(
        F.sum(F.when(F.col("role") == "user", toks).otherwise(0))
        .cast("long")
        .alias("user_tokens"),
        F.sum(F.when(F.col("role") == "assistant", toks).otherwise(0))
        .cast("long")
        .alias("assistant_tokens"),
        F.sum(F.when(F.col("role") == "tool", toks).otherwise(0))
        .cast("long")
        .alias("tool_tokens"),
    )
    dialogue = F.col("user_tokens") + F.col("assistant_tokens")
    return per.select(
        "conv_id",
        "user_tokens",
        "assistant_tokens",
        "tool_tokens",
        F.when(
            dialogue > 0,
            F.floor(
                (F.lit(2) * 10000 * F.col("assistant_tokens") + dialogue)
                / (F.lit(2) * dialogue)
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("assistant_share_bp"),
    )


def response_grounding(transcripts: DataFrame) -> DataFrame:
    """Per-assistant-turn grounding share — the extractiveness /
    hallucination-risk proxy for SFT data: what fraction of an
    assistant turn's tokens already appeared in the conversation's
    PRIOR non-assistant context (user prompts and tool results with a
    strictly smaller ``turn_idx``)? A response whose tokens are mostly
    grounded is extractive/faithful to its inputs; a near-zero share on
    a long answer flags free-generation against the provided context —
    both tails get inspected before pair assembly.

    Tokens are the same convention as :func:`role_token_share`
    (lowercased whitespace split of trimmed text); every occurrence
    counts, and a token is grounded when it occurs ANYWHERE in a prior
    non-assistant turn of the same conversation. Emits one row per
    assistant turn — ``(conv_id, turn_idx, n_tokens, grounded_tokens,
    grounding_bp)`` with the share in half-up basis points; blank/null
    assistant turns are preserved with zeros, never dropped.

    Scale: context tokens collapse to ``(conv_id, token, min turn_idx)``
    with one map-side-combined aggregation BEFORE the join, so the join
    input is the distinct per-conversation vocabulary, not every
    occurrence; both join sides key on ``(conv_id, xxhash64(token))`` —
    the shuffle carries 16 bytes per key, never token strings (the
    ``lm_score`` hashed-join convention). No window over the
    conversation, no per-row Python, no driver collect."""
    toks_arr = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    nonempty = F.trim(F.coalesce(F.col("text"), F.lit(""))) != ""
    base = transcripts.select("conv_id", "turn_idx", "role", "text")
    a_turns = base.filter(F.col("role") == "assistant")
    a_tok = (
        a_turns.filter(nonempty)
        .select("conv_id", "turn_idx", F.explode(toks_arr).alias("token"))
        .select("conv_id", "turn_idx", F.xxhash64("token").alias("tok_h"))
    )
    first_ctx = (
        base.filter((F.col("role") != "assistant") & nonempty)
        .select("conv_id", F.explode(toks_arr).alias("token"), "turn_idx")
        .select("conv_id", F.xxhash64("token").alias("tok_h"), "turn_idx")
        .groupBy("conv_id", "tok_h")
        .agg(F.min("turn_idx").alias("first_idx"))
    )
    per = (
        a_tok.join(first_ctx, ["conv_id", "tok_h"], "left")
        .groupBy("conv_id", "turn_idx")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("first_idx") < F.col("turn_idx"), 1).otherwise(0)
            ).alias("grounded_tokens"),
        )
    )
    n = F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long")
    g = F.coalesce(F.col("grounded_tokens"), F.lit(0)).cast("long")
    return (
        a_turns.select("conv_id", "turn_idx")
        .join(per, ["conv_id", "turn_idx"], "left")
        .select(
            "conv_id",
            "turn_idx",
            n.alias("n_tokens"),
            g.alias("grounded_tokens"),
            F.when(n > 0, F.floor((F.lit(2) * 10000 * g + n) / (F.lit(2) * n)))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("grounding_bp"),
        )
    )


# refusal cues matched against lower(trim(text)); kept to syntax both
# Java regex and RE2 execute identically (anchors, alternation, literals)
# so the DuckDB oracle replays the same battery verbatim
REFUSAL_PATTERNS = (
    "^i cannot",
    "^i can't",
    "^i'm sorry",
    "^i am sorry",
    "as an ai",
    "i am unable to",
    "i'm unable to",
)


def refusal_scan(
    transcripts: DataFrame, patterns: tuple[str, ...] = REFUSAL_PATTERNS
) -> DataFrame:
    """Per-conversation refusal audit — the SFT curation filter that
    separates 'the assistant declined' from 'the assistant answered':
    a corpus whose refusals are invisible trains a model that refuses
    at the wrong rate in both directions. Matches each assistant turn's
    ``lower(trim(text))`` against a fixed cue battery (anchored openers
    plus in-text disclaimers) and emits one row per conversation:
    ``(conv_id, n_assistant, n_refusals, first_refusal_idx,
    refusal_bp)`` — first_refusal_idx is -1 when nothing matched (a
    sentinel, not null: keeps the column non-nullable int64 end to
    end), the rate is half-up basis points of assistant turns, 0 when
    the conversation has no assistant turn at all.

    One filter + one map-side-combined groupBy(conv_id); the regex runs
    inside codegen on the scan, payloads never shuffle."""
    rx = "|".join(f"(?:{p})" for p in patterns)
    hit = F.lower(F.trim(F.coalesce(F.col("text"), F.lit("")))).rlike(rx)
    per = (
        transcripts.filter(F.col("role") == "assistant")
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assistant"),
            F.sum(hit.cast("long")).cast("long").alias("n_refusals"),
            F.coalesce(
                F.min(F.when(hit, F.col("turn_idx"))).cast("long"),
                F.lit(-1).cast("long"),
            ).alias("first_refusal_idx"),
        )
    )
    n = F.col("n_assistant")
    r = F.col("n_refusals")
    return per.select(
        "conv_id",
        "n_assistant",
        "n_refusals",
        "first_refusal_idx",
        F.when(n > 0, F.floor((F.lit(2) * 10000 * r + n) / (F.lit(2) * n)))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("refusal_bp"),
    )
