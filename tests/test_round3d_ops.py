"""Round-3 batch-8 operator tests: Gini–Simpson token diversity,
corpus total-variation drift, corpus-bigram fluency coverage,
deterministic per-group sampling, and the stateful-streaming
conversation-state parity slice."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from pdf_extractors_spark.operators import sampling, text_stats


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# ----------------------------------------------------- token_diversity


def test_token_diversity_hand_computed(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a a"),          # one token: diversity 0
            (2, "a b c d"),          # all unique: 1 - 4/16 = 0.75
            (3, "a a b b"),          # 1 - 8/16 = 0.5
            (4, ""),                 # empty: explicit zero class
            (5, None),               # null: explicit zero class
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in text_stats.token_diversity(df).collect()}
    assert (got[1]["n_tokens"], got[1]["diversity_bp"]) == (4, 0)
    assert (got[2]["n_tokens"], got[2]["diversity_bp"]) == (4, 7500)
    assert (got[3]["n_tokens"], got[3]["diversity_bp"]) == (4, 5000)
    assert (got[4]["n_tokens"], got[4]["diversity_bp"]) == (0, 0)
    assert (got[5]["n_tokens"], got[5]["diversity_bp"]) == (0, 0)


def test_token_diversity_case_fold(spark):
    # tokenizer is lower(trim(·)): "The the THE" is ONE token repeated
    df = spark.createDataFrame([(1, "The the THE")], "doc_id long, text string")
    r = text_stats.token_diversity(df).collect()[0]
    assert (r["n_tokens"], r["diversity_bp"]) == (3, 0)


# ---------------------------------------------------------- corpus_tvd


def test_corpus_tvd_identical_and_disjoint(spark):
    df = spark.createDataFrame(
        [
            (1, "a b", "s1"),
            (2, "a b", "s2"),   # s1 vs s2: identical distribution → 0
            (3, "x y", "s3"),   # s3 shares nothing with s1/s2 → 10000
        ],
        "doc_id long, text string, source string",
    )
    got = {
        (r["source_a"], r["source_b"]): r
        for r in text_stats.corpus_tvd(df).collect()
    }
    assert len(got) == 3
    assert got[("s1", "s2")]["tvd_bp"] == 0
    assert got[("s1", "s3")]["tvd_bp"] == 10000
    assert got[("s2", "s3")]["tvd_bp"] == 10000
    assert got[("s1", "s3")]["n_tokens_a"] == 2


def test_corpus_tvd_partial_overlap_exact(spark):
    # s1: a,a,b (N=3); s2: a,c (N=2)
    # shared token a: |2·2 − 1·3| = 1; only-s1 b: 1·2 = 2; only-s2 c: 1·3 = 3
    # tvd = 10000·(1+2+3) // (2·3·2) = 60000 // 12 = 5000
    df = spark.createDataFrame(
        [(1, "a a b", "s1"), (2, "a c", "s2")],
        "doc_id long, text string, source string",
    )
    r = text_stats.corpus_tvd(df).collect()
    assert len(r) == 1
    assert r[0]["tvd_bp"] == 5000


def test_corpus_tvd_totals_broadcast(spark):
    docs = spark.createDataFrame(
        [(i, f"tok{i % 5} common", f"s{i % 3}") for i in range(30)],
        "doc_id long, text string, source string",
    )
    plan = _plan(text_stats.corpus_tvd(docs))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


# ----------------------------------------------------- bigram_coverage


def test_bigram_coverage_hand_computed(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick fox"),   # bigrams: "the quick", "quick fox"
            (2, "the quick dog"),   # shares "the quick" with doc 1
            (3, "one"),             # < 2 tokens: zero bigrams
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in text_stats.bigram_coverage(df).collect()}
    # "the quick" appears twice (common); "quick fox"/"quick dog" once
    assert (got[1]["n_bigrams"], got[1]["n_common"]) == (2, 1)
    assert got[1]["coverage_bp"] == 5000
    assert (got[2]["n_bigrams"], got[2]["n_common"]) == (2, 1)
    assert (got[3]["n_bigrams"], got[3]["coverage_bp"]) == (0, 0)
    assert (got[4]["n_bigrams"], got[4]["coverage_bp"]) == (0, 0)


def test_bigram_coverage_counts_occurrences_not_docs(spark):
    # the SAME doc repeating a bigram 2× makes it common (total_count,
    # not doc_freq — within-doc loops self-certify, by design: the
    # signal is "has the corpus produced this sequence twice")
    df = spark.createDataFrame(
        [(1, "go go go")], "doc_id long, text string"
    )
    r = text_stats.bigram_coverage(df).collect()[0]
    assert (r["n_bigrams"], r["n_common"], r["coverage_bp"]) == (2, 2, 10000)


# -------------------------------------------------------- group_sample


def test_group_sample_deterministic_and_bounded(spark):
    df = spark.createDataFrame(
        [(i, f"g{i % 3}") for i in range(200)], "doc_id long, lang string"
    )
    a = sorted(
        (r["lang"], r["doc_id"], r["sample_rank"])
        for r in sampling.group_sample(df, k=5).collect()
    )
    b = sorted(
        (r["lang"], r["doc_id"], r["sample_rank"])
        for r in sampling.group_sample(df, k=5).collect()
    )
    assert a == b
    per_group = {}
    for g, _, rank in a:
        per_group.setdefault(g, []).append(rank)
    assert set(per_group) == {"g0", "g1", "g2"}
    for ranks in per_group.values():
        assert sorted(ranks) == [1, 2, 3, 4, 5]


def test_group_sample_prune_matches_single_window(spark):
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(i, f"g{i % 2}") for i in range(300)], "doc_id long, lang string"
    )
    got = sorted(
        (r["lang"], r["doc_id"], r["sample_rank"])
        for r in sampling.group_sample(df, k=9, salt_buckets=4).collect()
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.concat(F.lit("gs:"), F.col("doc_id").cast("string"))), "doc_id"
    )
    ref = sorted(
        (r["lang"], r["doc_id"], r["rn"])
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 9)
        .collect()
    )
    assert got == ref


def test_group_sample_other_group_growth_is_isolated(spark):
    # adding rows to g1 must not change g0's picks (per-group hash order)
    base = [(i, "g0") for i in range(50)]
    df1 = spark.createDataFrame(base, "doc_id long, lang string")
    df2 = spark.createDataFrame(
        base + [(1000 + i, "g1") for i in range(80)], "doc_id long, lang string"
    )
    pick = lambda df: sorted(
        r["doc_id"]
        for r in sampling.group_sample(df, k=6).collect()
        if r["lang"] == "g0"
    )
    assert pick(df1) == pick(df2)


# ----------------------------------------------- simhash_hamming_pairs


def test_simhash_wide_bits_bound(spark):
    from pdf_extractors_spark.operators import dedup

    import pytest

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        dedup.simhash_wide(df, bits=64)


def test_simhash_hamming_pairs_finds_planted_twin(spark):
    from pdf_extractors_spark.operators import dedup

    base = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through the long meadow toward the river bank every morning "
    ) * 4
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base + " tiny suffix"),        # near-dup of 1
            (3, "completely different words about spark physics and "
                "astronomy nothing shared with the fox sentences at all"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_hamming_pairs(df).collect()
    }
    assert (1, 2) in got
    assert got[(1, 2)] <= 3
    assert all(p == (1, 2) for p in got)


def test_simhash_hamming_pairs_verify_is_exact(spark):
    """Chunk agreement alone is NOT membership: a pair agreeing on one
    chunk but differing by > max_hamming bits overall must be rejected
    by the popcount verify."""
    from pdf_extractors_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["simhash"] for r in dedup.simhash_wide(df).collect()}
    ham = bin(fps[1] ^ fps[2]).count("1")
    pairs = dedup.simhash_hamming_pairs(df).collect()
    if ham <= 3:
        assert len(pairs) == 1
    else:
        assert pairs == []


def test_simhash_hamming_pairs_identical_text_distance_zero(spark):
    from pdf_extractors_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "same words here"), (2, "same words here")],
        "doc_id long, text string",
    )
    r = dedup.simhash_hamming_pairs(df).collect()
    assert len(r) == 1 and r[0]["hamming"] == 0


def test_simhash_hamming_pairs_bucket_guard(spark):
    """A degenerate bucket larger than max_bucket is dropped whole."""
    from pdf_extractors_spark.operators import dedup

    df = spark.createDataFrame(
        [(i, "identical degenerate mass") for i in range(6)],
        "doc_id long, text string",
    )
    # every doc has the same fingerprint: all 4 chunk buckets have 6 > 5
    assert dedup.simhash_hamming_pairs(df, max_bucket=5).collect() == []
    # with the guard open, all 15 pairs at distance 0 surface
    assert len(dedup.simhash_hamming_pairs(df, max_bucket=100).collect()) == 15


# ---------------------------------------------------------- k_anonymity


def test_k_anonymity_reports_only_rare_strata(spark):
    from pdf_extractors_spark.operators import sampling

    rows = [(i, "en", "web") for i in range(10)] + [
        (100, "de", "web"),
        (101, "de", "web"),
        (102, "fr", None),  # null quasi-value is its own stratum
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, source string")
    got = {r["doc_id"]: r["stratum_n"] for r in sampling.k_anonymity(df, k=5).collect()}
    assert set(got) == {100, 101, 102}
    assert got[100] == 2 and got[102] == 1


def test_k_anonymity_threshold_boundary(spark):
    from pdf_extractors_spark.operators import sampling

    rows = [(i, "en", "web") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, source string")
    # exactly k rows: NOT a violation
    assert sampling.k_anonymity(df, k=5).collect() == []


# ------------------------------------------------------- session_rollup


def test_session_rollup_merging_and_boundary(spark):
    from datetime import datetime, timedelta

    from pdf_extractors_spark import pipeline

    t = lambda m: datetime(2026, 1, 1, 12, 0, 0) + timedelta(minutes=m)
    rows = [
        (1, t(0)), (1, t(10)),   # one session: 10 < 30 gap
        (1, t(40)),              # exactly 30 after t(10): MERGES (>, not >=)
        (1, t(40 + 31)),         # 31 > 30: new session
        (2, t(0)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = sorted(
        (r["user_id"], r["s_start"].minute, r["s_end"].minute % 60, r["n_events"])
        for r in pipeline.session_rollup(df).collect()
    )
    # u1 session A: [12:00, 13:10) 3 events; session B: [13:11, 13:41) 1
    assert got == [(1, 0, 10, 3), (1, 11, 41, 1), (2, 0, 30, 1)]


def test_session_rollup_matches_time_sessionize_boundaries(spark):
    """The native session_window and the gaps-and-islands window form
    segment identically (same gap, >= boundary) on gap-spaced data."""
    from datetime import datetime, timedelta

    from pdf_extractors_spark import pipeline
    from pyspark.sql import functions as F

    base = datetime(2026, 1, 1)
    rows = []
    for u in range(3):
        ts = base
        for i in range(12):
            ts += timedelta(minutes=(i * 7 + u * 3) % 45)
            rows.append((u, i, ts))
    df = spark.createDataFrame(rows, "user_id long, turn_idx int, ts timestamp")
    native = pipeline.session_rollup(df, key_col="user_id", gap="30 minutes")
    n_native = native.count()
    gi = pipeline.time_sessionize(
        df, key_col="user_id", order_col="ts", gap_s=1800
    )
    # both use the same strictly-greater-than-gap predicate, so the
    # segmentations are identical session for session
    n_gi = gi.groupBy("user_id", "session_idx").count().count()
    assert n_native == n_gi


# ---------------------------------------------------- conv_stitch_arrow


def test_conv_stitch_arrow_orders_turns_and_blanks_nulls(spark):
    from pdf_extractors_spark import pipeline

    rows = [
        ("A", 1, "middle"),
        ("A", 0, "first"),
        ("A", 2, None),       # null text → '' in the join
        ("B", 0, "only"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    got = {
        r["conv_id"]: (r["n_turns"], r["stitched_text"])
        for r in pipeline.conv_stitch_arrow(df).collect()
    }
    assert got == {"A": (3, "first\n\nmiddle\n\n"), "B": (1, "only")}
