"""Vertical-tab (\\x0B) tokenizer-divergence guard.

The oracle NOTE in ``__spark_entry__.py`` states the contract: Java
regex ``\\s`` (Spark) matches vertical tab; RE2 ``\\s`` (DuckDB) does
not — so every ``\\s``-tokenizing oracle is exact ONLY while the input
contains no ``\\x0B``.  A corpus that ever gained one would silently
tokenize differently on the two engines, which is exactly the class of
bug the value hashes exist to catch.  These tests make the contract
executable (round-3 verdict item 7):

* the divergence itself is demonstrated on a crafted row, so if either
  engine's regex semantics ever change, the NOTE is re-validated or
  loudly falsified;
* every text-bearing fixture surface the oracles tokenize — the
  driver-generated testdata parquet AND the synthetic transcript
  payload generator — is asserted ``\\x0B``-free.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

VT = "\x0b"


def test_divergence_is_real_spark_splits_duckdb_does_not(spark):
    # Spark (Java regex): \s matches \x0B → two tokens
    row = spark.createDataFrame([("a" + VT + "b",)], "text string").select(
        F.split("text", r"\s+").alias("toks")
    ).collect()[0]
    assert row["toks"] == ["a", "b"], row["toks"]
    # DuckDB (RE2): \s does NOT match \x0B → one token
    (toks,) = duckdb.sql(
        r"select string_split_regex('a' || chr(11) || 'b', '\s+')"
    ).fetchone()
    assert toks == ["a" + VT + "b"], toks
    # and the documented remediation pattern DOES split it
    (toks2,) = duckdb.sql(
        r"select string_split_regex('a' || chr(11) || 'b', '[\s\x0B]+')"
    ).fetchone()
    assert toks2 == ["a", "b"], toks2


# Every oracle-visible table at the driver-gate scale tiers. Round-4
# advisor item (test_vtab_guard.py:52): the guard previously hardcoded
# documents.text and events.props, so any OTHER string column a
# \s-tokenizing oracle reads was unguarded — iterate every string
# column of every testdata parquet instead.
_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
# Tables with no string column, so nothing a \\s-tokenizing oracle could
# read. The test asserts that they still have none, and that every other
# table has some: a table that gains or loses string columns fails loudly.
_NO_STRING_COLUMNS = {"embeddings"}


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
@pytest.mark.parametrize("table", _TABLES)
def test_testdata_string_columns_have_no_vertical_tab(sf, table):
    import pyarrow as pa

    path = f"/root/testdata/{sf}/{table}.parquet"
    # both tiers are part of the test data layout: a missing table is a
    # broken layout, not a reason to pass silently
    assert os.path.exists(path), f"{path} absent"
    pf = pq.ParquetFile(path)
    schema = pf.schema_arrow
    cols = [
        name
        for name, typ in zip(schema.names, schema.types)
        if pa.types.is_string(typ) or pa.types.is_large_string(typ)
    ]
    if table in _NO_STRING_COLUMNS:
        assert not cols, (table, cols)
    else:
        assert cols, f"{table} has no string columns"
    for batch in pf.iter_batches(columns=cols):
        for name, col in zip(batch.schema.names, batch.columns):
            for v in col.to_pylist():
                assert v is None or VT not in v, (table, name)


def test_transcript_generator_never_emits_vertical_tab():
    """The synthetic transcripts the extraction oracles tokenize are a
    pure function of (conv_id, turn_idx); scan a full oracle-tier
    generation (150 conversations — the exact fixture the driver gate
    reads) for \\x0B in every text and tool payload."""
    from pdf_extractors_spark.fixtures import gen

    path = gen.materialize_pandas(
        "/tmp/spark_graft_vtab_guard.parquet", n_convs=150, max_turns=200
    )
    pf = pq.ParquetFile(path)
    cols = [c for c in ("text", "tool", "role") if c in pf.schema_arrow.names]
    for batch in pf.iter_batches(columns=cols):
        for col in batch.columns:
            for v in col.to_pylist():
                assert v is None or VT not in v
