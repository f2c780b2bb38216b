"""End-to-end Spark pipeline tests: per-turn equality vs the pure-pandas
oracle under stable (conv_id, turn_idx) ordering (the north-rule
invariant), plus partition-count invariance."""

import json

import pandas as pd

from pdf_extractors_spark import pipeline
from pdf_extractors_spark.extractors import dispatch
from pdf_extractors_spark.fixtures import gen


def _oracle(transcripts_pdf: pd.DataFrame) -> list[tuple]:
    """Driver-side pandas run of the same extraction (SURVEY.md §5.2)."""
    rows = []
    for r in transcripts_pdf.itertuples(index=False):
        out = dispatch.to_row(r.conv_id, int(r.turn_idx), r.tool, r.text)
        rows.append(
            (
                out["conv_id"],
                out["turn_idx"],
                out["extracted_text"],
                json.dumps(out["spans"], sort_keys=True),
                out["records"],
                out["parse_errors"],
            )
        )
    return sorted(rows)


def _collect(extracted_df) -> list[tuple]:
    return sorted(
        (
            r["conv_id"],
            r["turn_idx"],
            r["extracted_text"],
            json.dumps(
                [s.asDict() for s in (r["spans"] or [])], sort_keys=True
            ),
            r["records"],
            r["parse_errors"],
        )
        for r in extracted_df.collect()
    )


def test_spark_matches_oracle(spark, small_transcripts):
    expected = _oracle(small_transcripts.toPandas())
    actual = _collect(pipeline.extract_transcripts(small_transcripts))
    assert actual == expected


def test_giant_payload_survives_arrow_batching(spark):
    """A multi-MB single turn must flow through the Arrow-batched stage
    without OOM or truncation — the maxRecordsPerBatch bound means
    payload size degrades to more batches, never failure."""
    big_html = (
        "<html><body><main><article>"
        + ("<p>" + ("Large block of body text. " * 200) + "</p>") * 400
        + "<p>Total amount without VAT 475,00 NOK</p></article></main>"
        + "<footer>" + ("<a href='#'>x</a>" * 500) + "</footer></body></html>"
    )
    assert len(big_html) > 2_000_000, f"payload only {len(big_html)} bytes"
    rows = [("big", 0, "user", big_html, "html_page", None)]
    probe = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    out = pipeline.extract_transcripts(probe).collect()
    assert len(out) == 1
    r = out[0]
    assert r["parse_errors"] == 0
    assert "Total amount without VAT" in r["extracted_text"]
    assert all(s["label"] for s in r["spans"])
    assert r.asDict(recursive=True) == dispatch.to_row("big", 0, "html_page", big_html)


def test_quarantine_split(spark):
    """Malformed payloads land in quarantine with their full row; clean
    rows flow on; nothing is lost."""
    probe = spark.createDataFrame(
        [
            ("c1", 0, "user", "<p>ok content here</p>", "html_page", None),
            ("c1", 1, "user", None, "invoice_ocr", None),  # None payload → error
            ("c2", 0, "user", "bad|line", "form_page", None),  # 2 parts → error
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    ext = pipeline.extract_transcripts(probe)
    good, quarantined = pipeline.quarantine_split(ext)
    g = {(r["conv_id"], r["turn_idx"]) for r in good.collect()}
    q = {(r["conv_id"], r["turn_idx"]) for r in quarantined.collect()}
    assert g == {("c1", 0)}
    assert q == {("c1", 1), ("c2", 0)}
    assert ext.count() == len(g) + len(q)


def test_kernel_rows_equal_to_row_oracle(spark, small_transcripts):
    """Every row of the mapInArrow kernel, keyed by (conv_id, turn_idx),
    equals ``dispatch.to_row`` on the same turn, field by field — the
    Arrow schema round-trip (int32 offsets, list<struct> spans, records
    JSON string) loses nothing."""
    got = {
        (r["conv_id"], r["turn_idx"]): r.asDict(recursive=True)
        for r in pipeline.extract_transcripts(small_transcripts).collect()
    }
    turns = small_transcripts.collect()
    assert len(got) == len(turns)
    for t in turns:
        want = dispatch.to_row(t["conv_id"], int(t["turn_idx"]), t["tool"], t["text"])
        assert got[(t["conv_id"], t["turn_idx"])] == want


def test_partition_invariance(spark, small_transcripts):
    one = _collect(pipeline.extract_transcripts(small_transcripts.repartition(1)))
    many = _collect(pipeline.extract_transcripts(small_transcripts.repartition(16)))
    assert one == many


def test_keys_preserved(spark, small_transcripts):
    ext = pipeline.extract_transcripts(small_transcripts)
    assert ext.count() == small_transcripts.count()
    dupes = ext.groupBy("conv_id", "turn_idx").count().filter("count > 1").count()
    assert dupes == 0


def test_conv_forward_fill(spark, small_transcripts):
    ext = pipeline.extract_transcripts(small_transcripts)
    filled = pipeline.conv_forward_fill(ext, "delivery_date")
    pdf = filled.orderBy("conv_id", "turn_idx").toPandas()
    # recompute expected fill in pandas
    import re

    pat = re.compile(r"Delivery date\s*(\d{2}\.\d{2}\.\d{4})")
    last: dict[str, str | None] = {}
    for row in pdf.itertuples(index=False):
        m = pat.search(row.extracted_text or "")
        if m:
            last[row.conv_id] = m.group(1)
        expected = last.get(row.conv_id)
        assert row.delivery_date_filled == expected or (
            expected is None and pd.isna(row.delivery_date_filled)
        )


def test_explode_and_boilerplate_filter(spark, small_transcripts):
    lines = pipeline.explode_turn_lines(small_transcripts)
    kept = pipeline.boilerplate_filter(lines)
    raw = lines.count()
    filtered = kept.count()
    assert filtered < raw
    assert kept.filter(kept.line.startswith("Cambridge Books")).count() == 0


def test_session_assign(spark):
    rows = [
        ("c1", 0, True), ("c1", 1, False), ("c1", 2, True), ("c1", 3, False),
        ("c2", 0, True),
    ]
    df = spark.createDataFrame(rows, "key string, ts int, marker boolean")
    out = pipeline.session_assign(df, "key", "ts", "marker")
    got = {(r["key"], r["ts"]): r["record_id"] for r in out.collect()}
    assert got == {
        ("c1", 0): 1, ("c1", 1): 1, ("c1", 2): 2, ("c1", 3): 2, ("c2", 0): 1,
    }


def test_gen_spark_matches_gen_pandas(spark):
    spark_pdf = (
        gen.gen_spark(spark, 5, max_turns=20)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pandas_pdf = (
        gen.gen_pandas(5, max_turns=20)
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    # compare without tz-awareness differences on ts
    for col in ["conv_id", "turn_idx", "role", "text", "tool"]:
        assert spark_pdf[col].tolist() == pandas_pdf[col].tolist()


def test_arrow_batch_size_invariance(spark, small_transcripts):
    """Extraction output must not depend on Arrow batch boundaries."""
    orig = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        small = _collect(pipeline.extract_transcripts(small_transcripts))
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        big = _collect(pipeline.extract_transcripts(small_transcripts))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", orig)
    assert small == big


def test_records_serialization_orjson_stdlib_parity():
    """dumps_records must produce identical bytes with and without
    orjson (the driver environment may lack it): sorted keys, compact
    separators, unescaped UTF-8, nested lists/dicts/None/ints."""
    from pdf_extractors_spark.extractors import dispatch

    records = [
        {"b": 1, "a": None, "z": ["x", {"k": "v", "a": 2}], "u": "héllo §"},
        {"nested": {"q": [1, 2, 3], "s": 'quote " and \\ backslash'}},
    ]
    with_orjson = dispatch.dumps_records(records)
    saved = dispatch._orjson
    try:
        dispatch._orjson = None
        stdlib = dispatch.dumps_records(records)
    finally:
        dispatch._orjson = saved
    assert with_orjson == stdlib
