"""Skew handling (SURVEY.md §5.3): the per-conversation rollup absorbs a
hot key by map-side partial aggregation, with no salt; heavy-hitter
detection finds the skewed keys; the salted join equals the plain join."""

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from pdf_extractors_spark import pipeline
from pdf_extractors_spark.operators import salting


def test_conv_stats_skewed_input_and_partial_aggregate_plan(spark):
    """One 5,000-turn conversation among 50 light ones: ``conv_stats``
    equals counts computed in Python, and its plan is one Exchange fed
    by a partial HashAggregate — the map-side combine that ships at most
    one row per hot key per map task, which is why the rollup needs no
    salting."""
    # (conv_id, turn_idx, extracted_text, parse_errors, n_spans)
    rows = [("hot", i, None if i % 97 == 0 else "x" * (i % 13), int(i % 3 == 0), i % 4)
            for i in range(5000)]
    rows += [(f"c{k}", i, "y" * k, 0, k % 2) for k in range(50) for i in range(1 + k % 10)]
    span = ("l", 0, 1, "v")
    # four input partitions without an Exchange of their own
    ext = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(c, t, x, e, [span] * n) for c, t, x, e, n in rows], 4
        ),
        "conv_id string, turn_idx int, extracted_text string, parse_errors int, "
        "spans array<struct<label:string,start:int,end:int,value:string>>",
    )
    want: dict[str, list[int]] = {}
    for c, _, x, e, n in rows:
        w = want.setdefault(c, [0, 0, 0, 0])
        w[0] += 1
        w[1] += len(x) if x is not None else 0
        w[2] += e
        w[3] += n
    got = {
        r["conv_id"]: [r["turns"], r["extracted_chars"], r["parse_errors"], r["n_spans"]]
        for r in pipeline.conv_stats(ext).collect()
    }
    assert got == want and got["hot"][0] == 5000

    # a fresh, unexecuted DataFrame: AQE then prints only the initial plan
    buf = io.StringIO()
    with redirect_stdout(buf):
        pipeline.conv_stats(ext).explain()
    ops = [l.strip(" +-:") for l in buf.getvalue().splitlines()]
    exchanges = [i for i, op in enumerate(ops) if op.startswith("Exchange")]
    assert len(exchanges) == 1, buf.getvalue()
    below = ops[exchanges[0] + 1]
    assert below.startswith("HashAggregate") and "partial_count" in below, buf.getvalue()
    assert "hashpartitioning(conv_id" in ops[exchanges[0]], buf.getvalue()


def test_heavy_hitter_detection(spark):
    # one conv with 5000 rows, 50 with 10 rows
    heavy = spark.range(5000).select(
        F.lit("conv-heavy").alias("conv_id"), F.col("id").alias("turn_idx")
    )
    light = spark.range(500).select(
        F.concat(F.lit("conv-"), (F.col("id") % 50).cast("string")).alias("conv_id"),
        F.col("id").alias("turn_idx"),
    )
    found = salting.heavy_hitters(
        heavy.unionByName(light), threshold=1000, sample_fraction=0.05
    )
    assert "conv-heavy" in found
    assert len(found) < 10


def test_salt_column_spreads_only_heavy_keys(spark):
    df = spark.createDataFrame(
        [("a", i) for i in range(100)] + [("b", i) for i in range(100)],
        "conv_id string, turn_idx int",
    )
    salted = salting.with_salt(df, ["a"], n_salts=8)
    a_salts = {r["_salt"] for r in salted.filter("conv_id='a'").collect()}
    b_salts = {r["_salt"] for r in salted.filter("conv_id='b'").collect()}
    assert len(a_salts) > 1
    assert b_salts == {0}


def test_skew_join_equals_plain_join(spark):
    facts = spark.createDataFrame(
        [("hot", i, i * 2) for i in range(200)]
        + [(f"k{i % 7}", i, i) for i in range(70)],
        "key string, seq int, v int",
    )
    dims = spark.createDataFrame(
        [("hot", "H")] + [(f"k{i}", f"d{i}") for i in range(7)],
        "key string, label string",
    )
    plain = {
        tuple(r)
        for r in facts.join(dims, "key").select("key", "seq", "v", "label").collect()
    }
    salted = {
        tuple(r)
        for r in salting.skew_join(
            facts, dims, "key", ["hot"], order_col="seq", n_salts=8
        )
        .select("key", "seq", "v", "label")
        .collect()
    }
    assert salted == plain and len(plain) == 270


def test_skew_join_replicates_only_heavy_dim_rows(spark):
    facts = spark.createDataFrame(
        [("hot", 1, 0), ("cold", 1, 0)], "key string, seq int, v int"
    )
    dims = spark.createDataFrame(
        [("hot", "H"), ("cold", "C")], "key string, label string"
    )
    # heavy key spreads over up to n_salts reducers; a cold fact row
    # still finds its dim row (salt 0 on both sides)
    out = salting.skew_join(facts, dims, "key", ["hot"], "seq", n_salts=4)
    assert sorted(r["key"] for r in out.collect()) == ["cold", "hot"]
    # the replicated dim side is heavy-only: 1 + n_salts rows pre-join
    is_heavy = F.col("key").isin(["hot"])
    rep = dims.withColumn(
        "_salt",
        F.explode(
            F.when(is_heavy, F.sequence(F.lit(0), F.lit(3))).otherwise(
                F.array(F.lit(0))
            )
        ),
    )
    assert rep.count() == 5


def test_skew_join_no_heavy_keys_degenerates_to_plain(spark):
    facts = spark.createDataFrame([("a", 1, 5)], "key string, seq int, v int")
    dims = spark.createDataFrame([("a", "A")], "key string, label string")
    out = salting.skew_join(facts, dims, "key", [], "seq").collect()
    assert len(out) == 1 and out[0]["label"] == "A"
