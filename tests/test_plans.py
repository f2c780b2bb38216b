"""Physical-plan audits: the plans that matter at 100 TB, pinned as tests.

* predicate pushdown reaches the parquet scan (F3 page-range pruning),
* column pruning keeps the heavy payload column out of metadata queries,
* the small dimension side of a join broadcasts (no shuffle of the big side),
* the extraction stage itself contains no Exchange (no shuffle),
* scalar pipelines stay inside WholeStageCodegen.
"""

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from pdf_extractors_spark import pipeline


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_to_scan(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(1000).select(
        F.col("id").alias("turn_idx"), F.lit("x").alias("text")
    ).write.parquet(path)
    df = spark.read.parquet(path).filter("turn_idx between 6 and 272")
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(turn_idx,6)" in plan
    assert "LessThanOrEqual(turn_idx,272)" in plan


def test_column_pruning(spark, tmp_path):
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "payload " * 100, "en")], "doc_id long, text string, lang string"
    ).write.parquet(path)
    df = spark.read.parquet(path).select("doc_id", "lang")
    plan = _plan(df)
    assert "ReadSchema" in plan
    # the heavy text column must not be read
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read_schema


def test_broadcast_join_used(spark):
    big = spark.range(10000).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    small = spark.range(10).select(F.col("id").alias("k"), F.lit(2).alias("w"))
    joined = big.join(F.broadcast(small), "k")
    plan = _plan(joined)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def _parquet_transcripts(spark, small_transcripts, tmp_path):
    """Round-trip through parquet so the plan under audit starts from a
    clean file scan (the cached fixture's lineage contains the generator's
    own repartition Exchange)."""
    path = str(tmp_path / "transcripts")
    small_transcripts.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_extraction_stage_has_no_shuffle(spark, small_transcripts, tmp_path):
    src = _parquet_transcripts(spark, small_transcripts, tmp_path)
    ext = pipeline.extract_transcripts(src)
    plan = _plan(ext)
    assert "Exchange" not in plan  # narrow: scan → mapInArrow, nothing else


def test_scalar_ops_stay_in_codegen(spark, tmp_path):
    path = str(tmp_path / "docs2")
    spark.createDataFrame(
        [(1, "a b c")], "doc_id long, text string"
    ).write.parquet(path)
    df = spark.read.parquet(path).select(
        "doc_id", F.regexp_replace("text", "[\\r\\n\\t]", " ").alias("n")
    )
    # Spark 4 formatted plans mark whole-stage-codegen nodes with
    # "[codegen id : N]"
    assert "codegen id" in _plan(df)


def test_embedding_neardup_no_cartesian(spark):
    """The near-dup candidate stage must be an equi-join on the LSH bucket
    key, never a cross/nested-loop product — at 100 TB an all-pairs plan
    is the difference between feasible and impossible."""
    from pdf_extractors_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pairs = similarity.embedding_neardup_pairs(
        similarity.with_flipped_copies(emb), threshold=0.9
    )
    plan = _plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_is_a_window_not_a_join(spark):
    """The as-of join's union+fill-down formulation must plan as ONE
    hash-partitioned sort + window — no join operator at all. A theta-
    join formulation would degenerate to per-key cross products."""
    from pdf_extractors_spark.operators import joins

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    purchases = (
        ev.filter("event_type = 'purchase'")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pvalue"))
    )
    out = joins.asof_join(
        ev, purchases, key="user_id", left_ts="ts", right_ts="ts",
        value_cols=["pvalue"],
    )
    plan = _plan(out)
    assert "Window" in plan
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                "BroadcastNestedLoopJoin"):
        assert bad not in plan, f"asof plan contains {bad}"


def test_range_join_is_equi_keyed(spark):
    """Range join must plan as an equi-join on the key with the band
    condition as a post-join filter — never a nested-loop product."""
    from pdf_extractors_spark.operators import joins

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    intervals = ev.filter("event_type = 'purchase'").select(
        F.col("event_id").alias("interval_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("end_ts"),
    )
    out = joins.range_join(
        ev, intervals, key="user_id", point_col="ts",
        start_col="start_ts", end_col="end_ts",
    )
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_window_fill_down_single_shuffle(spark, small_transcripts, tmp_path):
    src = _parquet_transcripts(spark, small_transcripts, tmp_path)
    ext = pipeline.extract_transcripts(src)
    filled = pipeline.conv_forward_fill(ext)
    plan = _plan(filled)
    # exactly one Exchange node: hashpartitioning(conv_id) for the window
    import re

    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "Window" in plan


def test_stratified_sample_is_pure_pushdown_filter(spark, tmp_path):
    """The sample predicate is a pure filter — no Exchange anywhere, and
    the scan's ReadSchema stays pruned to the selected columns."""
    from pdf_extractors_spark.operators import sampling

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "t", "en"), (2, "u", "de")], "doc_id long, text string, lang string"
    ).write.parquet(path)
    df = sampling.stratified_sample(
        spark.read.parquet(path), {"en": 5000}, strata_col="lang"
    ).select("doc_id", "lang")
    plan = _plan(df)
    assert "Exchange" not in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read_schema


def test_pack_units_single_bucket_exchange(spark):
    """Packing shuffles once on the bucket key (the window partition) —
    a global window would show a single-partition Exchange instead."""
    from pdf_extractors_spark.operators import sampling

    df = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7 + 1).alias("n_tokens")
    )
    plan = _plan(sampling.pack_units(df, budget=10, n_buckets=8))
    assert plan.count("+- Exchange") == 1
    assert "hashpartitioning(bucket" in plan
    assert "SinglePartition" not in plan


def test_lm_score_no_cartesian_and_broadcast_scalars(spark):
    """The corpus totals ride as a broadcast nested loop over ONE row
    (the only acceptable 'cartesian' — its right side is a 1-row
    aggregate); the token⋈counts join is an equi-join, never a
    cross product of row-bearing sides."""
    from pdf_extractors_spark.operators import text_stats

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a d")], "doc_id long, text string"
    )
    plan = _plan(text_stats.unigram_lm_score(df))
    assert "CartesianProduct" not in plan
    # the scalars side joins via BroadcastNestedLoopJoin over 1 row
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_dedup_paragraphs_partitions_by_document(spark):
    """All wide operations key on the document id — repetition removal
    never shuffles across documents."""
    from pdf_extractors_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "a\nb\na"), (2, "x\ny")], "doc_id long, text string"
    )
    plan = _plan(dedup.dedup_paragraphs(df))
    assert "SinglePartition" not in plan  # a global window would funnel
    hash_lines = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert hash_lines  # the per-document shuffle must actually exist
    for line in hash_lines:
        assert "doc_id" in line, line


def test_bm25_topk_broadcasts_queries_and_stats(spark):
    """The corpus side never builds a hash table or re-shuffles for the
    query join: query terms and the 1-row (S,N) totals both arrive as
    broadcasts, and there is no CartesianProduct anywhere (the 1-row
    stats join plans as BroadcastNestedLoopJoin, which is O(rows))."""
    from pdf_extractors_spark.operators import retrieval

    ddf = spark.createDataFrame(
        [(1, "a b c"), (2, "b c d")], "doc_id long, text string"
    )
    qdf = spark.createDataFrame([("q", "b d")], "query_id string, qtext string")
    plan = _plan(retrieval.bm25_topk(ddf, qdf))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    # the big-side tf table is probe side of a broadcast hash join on term
    assert "BroadcastHashJoin" in plan


def test_top_ngram_char_frac_has_no_exchange(spark):
    """The top-gram scan is a single sorted-array aggregate per row —
    zero shuffles, like dup_ngram_char_frac."""
    from pdf_extractors_spark.operators import text_stats

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "x y z w")], "doc_id long, text string"
    )
    plan = _plan(text_stats.top_ngram_char_frac(df))
    assert "Exchange" not in plan, plan


def test_global_line_dedup_shuffles_on_hash_never_text(spark):
    """The cross-corpus dedup's wide ops key on md5(para) (32-byte key)
    or the doc id — three exchanges total, no SinglePartition funnel,
    and the min(struct) agg is map-side combined (partial_min before
    the key exchange)."""
    from pdf_extractors_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "a line\nb line"), (2, "a line\nc line")],
        "doc_id long, text string",
    )
    plan = _plan(dedup.global_line_dedup(df))
    assert "SinglePartition" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 3, plan
    assert "partial_min" in plan  # hot boilerplate keys crushed map-side


def test_dup_ngram_char_frac_has_no_exchange(spark):
    """The char-weighted repetition signal is pure per-row column math
    (sorted-adjacency inside the array) — zero shuffles, unlike the
    exploded-groupBy formulation it replaces."""
    from pdf_extractors_spark.operators import text_stats

    df = spark.createDataFrame(
        [(1, "a b c a b c"), (2, "x y z w")], "doc_id long, text string"
    )
    plan = _plan(text_stats.dup_ngram_char_frac(df))
    assert "Exchange" not in plan, plan


def test_segment_paragraphs_partitions_by_document(spark):
    """Offsets are a per-document running sum: exactly one exchange,
    keyed on the document id — never a global (SinglePartition) window."""
    from pdf_extractors_spark.operators import text_stats

    df = spark.createDataFrame(
        [(1, "a\nbb\nccc"), (2, "x")], "doc_id long, text string"
    )
    import re

    plan = _plan(text_stats.segment_paragraphs(df))
    assert "SinglePartition" not in plan
    # formatted plans list each node twice (tree + detail): count nodes
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    hash_lines = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert hash_lines and all("doc_id" in l for l in hash_lines)


def test_dedup_against_joins_are_keyed(spark):
    """Incremental dedup is an anti-join + semi-join on the text hash /
    id — no cartesian, no nested loop; corpus payload columns are pruned
    before any exchange (only the hash projection of the corpus moves)."""
    from pdf_extractors_spark.operators import dedup

    corpus = spark.createDataFrame(
        [(1, "seen")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(10, "seen"), (11, "new")], "doc_id long, text string"
    )
    plan = _plan(dedup.dedup_against(corpus, new))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_conv_pairs_partitions_by_conversation(spark):
    """Pair assembly is one bounded window keyed on conv_id — never a
    global sort/SinglePartition funnel."""
    from pdf_extractors_spark import pipeline

    df = spark.createDataFrame(
        [("c1", 0, "user", "u"), ("c1", 1, "assistant", "a")],
        "conv_id string, turn_idx int, role string, text string",
    )
    plan = _plan(pipeline.conv_pairs(df))
    assert "SinglePartition" not in plan
    hash_lines = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert hash_lines and all("conv_id" in l for l in hash_lines)


def test_temperature_sample_broadcasts_rates(spark):
    """The stratum-rate side joins as a broadcast (counts, never
    payloads); no cartesian of row-bearing sides."""
    from pdf_extractors_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, "en" if i % 4 else "fr") for i in range(100)],
        "doc_id long, lang string",
    )
    plan = _plan(sampling.temperature_sample(df))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_conv_validate_single_exchange(spark):
    """Validation reuses one hashpartitioning(conv_id) for both the lag
    window and the final aggregate — exactly one exchange, all of it
    keyed on conv_id (no SinglePartition funnel, no second shuffle for
    the countDistinct)."""
    from pdf_extractors_spark import pipeline

    df = spark.createDataFrame(
        [("c1", 0, "user", "u"), ("c1", 1, "assistant", "a")],
        "conv_id string, turn_idx int, role string, text string",
    )
    plan = _plan(pipeline.conv_validate(df))
    assert "SinglePartition" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    hash_lines = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert hash_lines and all("conv_id" in l for l in hash_lines)


def test_duplicate_spans_two_exchanges(spark):
    """ExactSubstr spans shuffle twice only: once on the gram hash
    (count window), once on the document id — the lag window, island
    aggregate and span numbering all reuse the same
    hashpartitioning(doc_id)."""
    from pdf_extractors_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f g")],
        "doc_id long, text string",
    )
    plan = _plan(dedup.duplicate_spans(df, n=5))
    assert "SinglePartition" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2


def test_conv_repair_single_conv_exchange(spark):
    """The whole repair (blank drop, orphan-tool fill-down window,
    island windows, re-index) rides hashpartitioning(conv_id) — the
    (conv_id, _island) windows are subset-compatible with it, so no
    second payload shuffle and no SinglePartition funnel."""
    from pdf_extractors_spark import pipeline

    df = spark.createDataFrame(
        [("c1", 0, "user", "u"), ("c1", 1, "assistant", "a")],
        "conv_id string, turn_idx int, role string, text string",
    )
    plan = _plan(pipeline.conv_repair(df))
    assert "SinglePartition" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_semdedup_broadcast_assign_no_cartesian(spark):
    """Centroid assignment broadcasts the tiny centroid set; the
    within-cell pairwise stage is an equi-join on centroid_id — no
    cartesian product anywhere in the plan."""
    from pdf_extractors_spark.operators import similarity

    df = spark.createDataFrame(
        [(i, [float(i), 1.0, -1.0, 0.5]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    cents = similarity.take_centroids(df, n=2)
    plan = _plan(similarity.semdedup(df, cents, cache=False))
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan  # centroid set rides a broadcast
    # the pairwise stage must be an equi-join KEYED on centroid_id —
    # formatted explain puts join keys on "Left keys" lines
    assert re.search(r"Left keys.*centroid_id", plan)
    # with cache=True the assignment materializes once for its three
    # consumers instead of re-running the broadcast-assign pass
    cached = _plan(similarity.semdedup(df, cents, cache=True))
    assert "InMemoryTableScan" in cached
    spark.catalog.clearCache()


def test_mix_epochs_no_shuffle(spark):
    """Mixture weighting is pure column math + a bounded explode — the
    weight table rides a create_map literal, so there is NO Exchange and
    no join in the plan."""
    from pdf_extractors_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, "src0") for i in range(50)], "doc_id long, source string"
    )
    plan = _plan(sampling.mix_epochs(df, {"src0": 23000}))
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_neardup_against_no_cartesian_no_self_pairs(spark):
    """The cross-corpus candidate join is keyed on (band, key) and the
    verify joins are keyed equi-joins — no cartesian product or
    unkeyed nested-loop join anywhere."""
    from pdf_extractors_spark.operators import dedup

    corpus = spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2} w{i+3}") for i in range(10)],
        "doc_id long, text string",
    )
    ref = corpus.select((F.col("doc_id") + 100).alias("doc_id"), "text")
    plan = _plan(dedup.neardup_against(corpus, ref))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_extract_links_no_shuffle(spark, tmp_path):
    """Link extraction is one projection over the page scan — regex
    extract + zip + posexplode, no Exchange, no join, no UDF."""
    from pdf_extractors_spark.operators import webgraph

    path = str(tmp_path / "pages")
    spark.createDataFrame(
        [("c0", 0, '<a href="/a">A</a>')],
        "conv_id string, turn_idx int, text string",
    ).write.parquet(path)
    plan = _plan(webgraph.extract_links(spark.read.parquet(path)))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Python" not in plan  # no UDF fallback


def test_anchor_index_two_bounded_exchanges(spark, tmp_path):
    """The anchor index collapses (href, anchor) pairs map-side first,
    then the window rank and the final groupBy share one href-keyed
    Exchange — two Exchanges total and no unbounded collect buffer."""
    from pdf_extractors_spark.operators import webgraph

    path = str(tmp_path / "links")
    spark.createDataFrame(
        [("/a", "x"), ("/a", "y"), ("/b", "z")], "href string, anchor string"
    ).write.parquet(path)
    plan = _plan(webgraph.anchor_index(spark.read.parquet(path)))
    # formatted plans print each node twice (tree + detail list): count
    # numbered tree nodes, never substring occurrences
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    assert "Join" not in plan
    assert "CollectSet" not in plan


def test_luhn_cards_no_shuffle_no_udf(spark, tmp_path):
    """The Luhn verdict is exact integer column math (sequence +
    aggregate over substr digits): no Exchange, no Python UDF."""
    from pdf_extractors_spark.operators import text_stats

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(0, "4532015112830366")], "doc_id long, text string"
    ).write.parquet(path)
    plan = _plan(text_stats.luhn_cards(spark.read.parquet(path)))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_cap_per_group_uses_window_group_limit(spark, tmp_path):
    """The per-source cap must run as a WindowGroupLimit (per-partition
    top-k heaps before the single exchange on the group key), not a full
    per-group sort + filter."""
    from pdf_extractors_spark.operators import sampling

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"s{i % 3}", i * 7 % 50) for i in range(30)],
        "doc_id long, source string, n_chars long",
    ).write.parquet(path)
    plan = _plan(sampling.cap_per_group(spark.read.parquet(path), "source", k=5))
    assert "WindowGroupLimit" in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan


def test_skew_report_takeordered_no_global_sort(spark, tmp_path):
    """Top-k over the aggregated counts must be a distributed
    TakeOrderedAndProject; the totals ride a BroadcastExchange, and
    nothing ever funnels the counts through a global Sort."""
    from pdf_extractors_spark.operators import salting

    path = str(tmp_path / "ev")
    spark.createDataFrame(
        [(i % 7,) for i in range(100)], "user_id long"
    ).write.parquet(path)
    plan = _plan(salting.skew_report(spark.read.parquet(path), "user_id"))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan
    # the only Sort allowed is the 20-row window's; no global sort of counts
    sort_lines = [l for l in plan.splitlines() if re.match(r"\(\d+\) Sort", l)]
    assert len(sort_lines) <= 1, plan


def test_bpe_pair_counts_partial_agg_takeordered(spark, tmp_path):
    """Pair counting is one map-side-combined groupBy (partial_count
    before the single exchange) + TakeOrdered — no UDF, no second
    shuffle for the top-k."""
    from pdf_extractors_spark.operators import text_stats

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(0, "abab cd"), (1, "cdcd ab")], "doc_id long, text string"
    ).write.parquet(path)
    plan = _plan(text_stats.bpe_pair_counts(spark.read.parquet(path)))
    assert "partial_count" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "Python" not in plan


def test_unicode_normalize_arrow_batched_no_shuffle(spark, tmp_path):
    """Normalization is a scalar Arrow-batched pandas_udf
    (ArrowEvalPython) over pruned columns — zero exchanges, never
    row-at-a-time BatchEvalPython."""
    from pdf_extractors_spark.operators import text_stats

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(0, "café"), (1, "x")], "doc_id long, text string"
    ).write.parquet(path)
    plan = _plan(text_stats.unicode_normalize(spark.read.parquet(path)))
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "Exchange" not in plan, plan


def test_tool_call_stats_single_exchange_jvm_json(spark, tmp_path):
    """The rollup is filter → from_json project → partial agg → one
    exchange on tool → final agg; the role filter is pushed to the scan
    and JSON parsing is JVM codegen (no Python nodes)."""
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [("c", 0, "tool", '{"status":"ok","latency_ms":1}', "x")],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).write.parquet(path)
    plan = _plan(pipeline.tool_call_stats(spark.read.parquet(path)))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "Python" not in plan, plan
    assert "PushedFilters: [IsNotNull(role), EqualTo(role,tool)]" in plan, plan


def test_tokenize_ids_broadcast_vocab_no_seq_window(spark, tmp_path):
    """Vocabulary assignment must be a BroadcastHashJoin (token text
    never shuffles for lookup) and sequence reassembly happens inside
    the per-doc aggregate — the only Window in the plan is the bounded
    vocab ranking (vocab_size rows), never a per-document sequence
    window."""
    from pdf_extractors_spark.operators import text_stats

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(0, "a b a"), (1, "b c")], "doc_id long, text string"
    ).write.parquet(path)
    plan = _plan(text_stats.tokenize_ids(spark.read.parquet(path), 5))
    assert "BroadcastHashJoin" in plan, plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan
    assert "CartesianProduct" not in plan


def test_random_projection_no_exchange_no_udf(spark, tmp_path):
    """The ±1 projection is a pure per-row higher-order-function matmul:
    zero Exchanges, zero Python — the narrowest possible plan, so at
    100 TB it fuses into whatever scan precedes it."""
    from pdf_extractors_spark.operators import similarity

    path = str(tmp_path / "vecs")
    spark.createDataFrame(
        [(0, [0.1, 0.2]), (1, [0.3, 0.4])], "vec_id long, embedding array<float>"
    ).write.parquet(path)
    plan = _plan(similarity.random_projection(spark.read.parquet(path), k=4))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan
    assert "Join" not in plan, plan


def test_merge_upsert_single_join_no_cartesian(spark, tmp_path):
    """MERGE INTO is ONE key-equi full-outer join — never a cartesian,
    never a second join, no Python. (Broadcast full-outer is not legal
    for the streamed side, so the general plan is SMJ on the key; a
    bucketed base makes its Exchange vanish — see operators/bucketing.)"""
    from pdf_extractors_spark.operators import joins

    base_p, upd_p = str(tmp_path / "base"), str(tmp_path / "upd")
    spark.createDataFrame(
        [(1, "a", "en")], "doc_id long, text string, lang string"
    ).write.parquet(base_p)
    spark.createDataFrame(
        [(1, "b", "en")], "doc_id long, text string, lang string"
    ).write.parquet(upd_p)
    plan = _plan(
        joins.merge_upsert(
            spark.read.parquet(base_p), spark.read.parquet(upd_p),
            "doc_id", ["text"],
        )
    )
    assert len(re.findall(r"\(\d+\) SortMergeJoin", plan)) == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan


def test_parity_report_single_join_no_cartesian(spark, tmp_path):
    """The equality audit is ONE key-equi full-outer join; only the
    compared column rides the shuffle (payload pruning shows in
    ReadSchema)."""
    from pdf_extractors_spark.operators import joins

    a_p, b_p = str(tmp_path / "a"), str(tmp_path / "b")
    for p in (a_p, b_p):
        spark.createDataFrame(
            [(1, 0, "x", "junk")],
            "conv_id long, turn_idx long, text string, extra string",
        ).write.parquet(p)
    plan = _plan(
        joins.parity_report(
            spark.read.parquet(a_p), spark.read.parquet(b_p),
            ["conv_id", "turn_idx"], "text",
        )
    )
    assert len(re.findall(r"\(\d+\) SortMergeJoin", plan)) == 1, plan
    assert "CartesianProduct" not in plan, plan
    # untouched payload columns never reach the join
    assert "extra" not in plan, plan


def test_skew_join_equi_on_key_and_salt_no_cartesian(spark, tmp_path):
    """The salted join must stay a (key, salt) equi-join — two-column
    hash exchange, never a cartesian or a theta join; the heavy-only
    dim replication is a generate over a literal array, not a join."""
    from pdf_extractors_spark.operators import salting

    f_p, d_p = str(tmp_path / "facts"), str(tmp_path / "dims")
    spark.createDataFrame(
        [("hot", 1, 2)], "key string, seq int, v int"
    ).write.parquet(f_p)
    spark.createDataFrame([("hot", "H")], "key string, label string").write.parquet(d_p)
    plan = _plan(
        salting.skew_join(
            spark.read.parquet(f_p), spark.read.parquet(d_p),
            "key", ["hot"], "seq", n_salts=8,
        )
    )
    assert len(re.findall(r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin)", plan)) == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan
    assert "_salt" in plan, plan


def test_cdc_chunks_no_exchange_no_udf(spark, tmp_path):
    """CDC boundaries are per-row higher-order-function math + one
    Generate: no Exchange, no Python anywhere in the plan."""
    from pdf_extractors_spark.operators import text_stats

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(0, "some text long enough to chunk " * 4)], "doc_id long, text string"
    ).write.parquet(path)
    plan = _plan(text_stats.cdc_chunks(spark.read.parquet(path)))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan
    assert "Generate" in plan, plan


def test_bigram_lift_no_cartesian_broadcast_total(spark, tmp_path):
    """The corpus total joins as a broadcast 1-row aggregate (BNLJ is
    the right plan for a 1-row cross), never a CartesianProduct; no
    Python in the token/count path."""
    from pdf_extractors_spark.operators import text_stats

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(0, "a b a b")], "doc_id long, text string"
    ).write.parquet(path)
    plan = _plan(text_stats.bigram_lift(spark.read.parquet(path), min_count=1))
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_winsorize_data_side_never_shuffles(spark, tmp_path):
    """The bracket table (one row per group) aggregates on its own and
    broadcasts back; the row side goes scan → BroadcastHashJoin → clip
    with no exchange of the data."""
    from pdf_extractors_spark.operators import sampling

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(0, "en", 10)], "doc_id long, lang string, n_chars long"
    ).write.parquet(path)
    plan = _plan(
        sampling.winsorize_per_group(spark.read.parquet(path), "lang", "n_chars")
    )
    assert "BroadcastHashJoin" in plan, plan
    # the only Exchange is the bracket aggregation's group-key shuffle
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "Python" not in plan, plan


def test_postings_two_partial_aggs_no_occurrence_df(spark, tmp_path):
    """df counts run over the already-collapsed (term, doc) rows: the
    plan has exactly one join (df back onto tf, on the term) and every
    HashAggregate pairs with a partial — no per-occurrence exchange
    for the df side."""
    from pdf_extractors_spark.operators import retrieval

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(0, "a b a")], "doc_id long, text string"
    ).write.parquet(path)
    plan = _plan(retrieval.postings(spark.read.parquet(path), min_df=1))
    assert len(re.findall(r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", plan)) == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan


def test_trailing_counts_single_exchange_no_self_join(spark, tmp_path):
    """The trailing window is ONE exchange on the key + a sort — no
    join anywhere (the naive self-join formulation is quadratic on hot
    keys)."""
    from datetime import datetime

    from pdf_extractors_spark.operators import joins

    path = str(tmp_path / "ev")
    spark.createDataFrame(
        [(0, "u", datetime(2026, 1, 1), 1.0)],
        "event_id long, user_id string, ts timestamp, value double",
    ).write.parquet(path)
    plan = _plan(joins.trailing_counts(spark.read.parquet(path), "user_id", "ts", "value"))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert "Python" not in plan, plan


def test_zorder_key_no_exchange_no_udf(spark, tmp_path):
    from pdf_extractors_spark.operators import bucketing

    path = str(tmp_path / "ev")
    spark.createDataFrame(
        [(0, 3, 7)], "id long, x long, y long"
    ).write.parquet(path)
    plan = _plan(bucketing.zorder_key(spark.read.parquet(path), "x", "y"))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_fk_violations_anti_join_ships_keys_only(spark, tmp_path):
    """Child collapses to (key, n) BEFORE the anti join (partial agg),
    and the parent side reads only its key column (pruned ReadSchema)."""
    from pdf_extractors_spark.operators import joins

    c_p, p_p = str(tmp_path / "child"), str(tmp_path / "parent")
    spark.createDataFrame(
        [(1, "payload")], "user_id long, v string"
    ).write.parquet(c_p)
    spark.createDataFrame(
        [(1, "junk")], "c_custkey long, extra string"
    ).write.parquet(p_p)
    plan = _plan(
        joins.fk_violations(
            spark.read.parquet(c_p), spark.read.parquet(p_p),
            "user_id", "c_custkey",
        )
    )
    assert "LeftAnti" in plan, plan
    assert "extra" not in plan, plan  # parent payload pruned
    assert "CartesianProduct" not in plan, plan


def test_chunk_overlap_hash_shuffle_no_payload_join(spark, tmp_path):
    """Chunk hashes are computed where the payload already is (no join
    back to text); the bucket-guard window shares the hash exchange the
    self-join reuses; no cartesian."""
    from pdf_extractors_spark.operators import text_stats

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(0, "some text long enough to form chunks " * 4)],
        "doc_id long, text string",
    ).write.parquet(path)
    plan = _plan(text_stats.chunk_overlap_pairs(spark.read.parquet(path)))
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan
    # one equi self-join on the hash (SMJ at scale, BHJ on tiny input)
    assert len(re.findall(
        r"\(\d+\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", plan
    )) == 1, plan


def test_compact_changelog_window_group_limit(spark, tmp_path):
    """Latest-row selection compiles to WindowGroupLimit: one row per
    (key, map partition) crosses the single exchange."""
    from pdf_extractors_spark.operators import joins

    path = str(tmp_path / "cl")
    spark.createDataFrame(
        [("u", 1, 100, "upsert")],
        "user_id string, event_id long, v100 long, op string",
    ).write.parquet(path)
    plan = _plan(
        joins.compact_changelog(spark.read.parquet(path), "user_id", ["event_id"])
    )
    assert "WindowGroupLimit" in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "Python" not in plan, plan


def test_scd2_intervals_single_exchange_no_join(spark, tmp_path):
    from datetime import datetime

    from pdf_extractors_spark.operators import joins

    path = str(tmp_path / "ch")
    spark.createDataFrame(
        [("u", datetime(2026, 1, 1), 0, 10)],
        "user_id string, ts timestamp, event_id long, v100 long",
    ).write.parquet(path)
    plan = _plan(
        joins.scd2_intervals(
            spark.read.parquet(path), "user_id", "ts", ["v100"], ["ts", "event_id"]
        )
    )
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "Join" not in plan, plan


def test_cluster_keep_best_agg_not_window(spark, tmp_path):
    """Representative selection is max(struct) partial aggregation —
    no Window sort of cluster members, payloads never join in."""
    from pdf_extractors_spark.operators import dedup

    c_p, q_p = str(tmp_path / "c"), str(tmp_path / "q")
    spark.createDataFrame(
        [(1, 10)], "doc_id long, cluster_id long"
    ).write.parquet(c_p)
    spark.createDataFrame(
        [(1, 5, "payload")], "doc_id long, quality long, text string"
    ).write.parquet(q_p)
    plan = _plan(
        dedup.cluster_keep_best(
            spark.read.parquet(c_p),
            spark.read.parquet(q_p).select("doc_id", "quality"),
        )
    )
    assert "Window" not in plan, plan
    assert "text" not in plan, plan  # payload pruned at the scan
    # struct max is a SortAggregate (structs aren't hash-aggregable) —
    # still partial/final, so one struct per cluster per map partition
    assert re.search(r"(?:Hash|Sort)Aggregate", plan), plan


def test_containment_pairs_no_cartesian_payload_pruned(spark, tmp_path):
    """The directed containment join is an equi-join on the shingle
    hash — no cartesian anywhere, and the union-both-directions trick
    must not double the intersection work (one groupBy on pairs)."""
    from pdf_extractors_spark.operators import dedup

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e f")],
        "doc_id long, text string",
    ).write.parquet(path)
    plan = _plan(dedup.containment_pairs(spark.read.parquet(path)))
    assert "Cartesian" not in plan, plan
    assert "Python" not in plan, plan
    # both directions come from ONE pair aggregation (explode), never a
    # union of two reads of the self-join subplan
    assert "Union" not in plan, plan


def test_boundary_stitch_joins_on_hash_not_payload(spark, tmp_path):
    """The stitch join key is the 16-byte edge md5; the full text
    column must be pruned before the exchange (only the k-char edges
    ride along for the exact re-check)."""
    from pdf_extractors_spark.operators import dedup

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "x" * 100)], "doc_id long, text string"
    ).write.parquet(path)
    plan = _plan(dedup.boundary_stitch(spark.read.parquet(path), k=64))
    assert "Cartesian" not in plan, plan
    assert "Python" not in plan, plan
    # join keyed on the edge hash (Catalyst folds the exact edge
    # equality in as a second equi-key — [_edge_l, _h])
    assert re.search(r"Left keys.*_h#", plan), plan


def test_global_index_broadcast_offsets_no_global_sort(spark, tmp_path):
    """The offsets table joins back via BroadcastHashJoin and the only
    wide sort is per-bucket (rank within hashpartitioning(_bucket)) —
    never a global range-partitioned sort of the data."""
    from pdf_extractors_spark.operators.bucketing import global_index

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "p")], "doc_id long, payload string"
    ).write.parquet(path)
    plan = _plan(global_index(spark.read.parquet(path), n_buckets=64))
    assert "BroadcastHashJoin" in plan, plan
    assert "Python" not in plan, plan
    # no rangepartitioning of the data side (that would be the global
    # sort this operator exists to avoid); the data exchange is hash on
    # the bucket column
    assert "hashpartitioning(_bucket" in plan, plan
    data_range_sorts = re.findall(r"rangepartitioning\((?!_bucket)", plan)
    assert not data_range_sorts, plan


def test_interpolate_gaps_single_exchange_no_join(spark, tmp_path):
    """All four ignorenulls window functions share one exchange on the
    key; no join, no UDF."""
    from pdf_extractors_spark.operators.joins import interpolate_gaps

    path = str(tmp_path / "ev")
    spark.createDataFrame(
        [("u", 0, 1.0)], "k string, o long, v double"
    ).write.parquet(path)
    plan = _plan(interpolate_gaps(spark.read.parquet(path), "k", "o", "v"))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert "Python" not in plan, plan


def test_sft_pack_single_exchange(spark, tmp_path):
    """The offset window and the per-conversation aggregation share one
    exchange on conv_id (Catalyst reuses the partitioning); no join."""
    from pdf_extractors_spark import pipeline

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [("c", 0, "user", "hi", None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    ).write.parquet(path)
    plan = _plan(pipeline.sft_pack(spark.read.parquet(path)))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "Join" not in plan, plan
    assert "Python" not in plan, plan


def test_split_leakage_no_cartesian_hash_keys(spark, tmp_path):
    """The leakage join is an equi-join on the 8-byte shingle hash; the
    split label is column math (no join against a split table)."""
    from pdf_extractors_spark.operators import dedup

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "a b c d e")], "doc_id long, text string"
    ).write.parquet(path)
    plan = _plan(dedup.split_leakage(spark.read.parquet(path)))
    assert "Cartesian" not in plan, plan
    assert "Python" not in plan, plan


def test_pii_spans_no_shuffle_no_udf(spark, tmp_path):
    """Span extraction is per-row column math — the whole operator is
    scans + unions, no Exchange, no Python."""
    from pdf_extractors_spark.operators import text_stats

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "mail a@b.co")], "doc_id long, text string"
    ).write.parquet(path)
    plan = _plan(text_stats.pii_spans(spark.read.parquet(path)))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_lsh_eval_no_cartesian(spark, tmp_path):
    """Both evidence sides are equi-joins (shingle hash / band key) and
    the comparison is a pair-keyed full-outer join — no cartesian."""
    from pdf_extractors_spark.operators import dedup

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "a b c d e")], "doc_id long, text string"
    ).write.parquet(path)
    plan = _plan(dedup.lsh_eval(spark.read.parquet(path)))
    assert "Cartesian" not in plan, plan
    assert "Python" not in plan, plan


def test_cms_heavy_hitters_bounded_exchanges_broadcast_counters(spark):
    """The token keyspace never shuffles: exactly three hash Exchanges
    — the depth×width counter build, the candidate dedup, and the exact
    verify (whose tok partitioning the final min-agg reuses) — and both
    joins broadcast (candidates into the verify, the counter table into
    the estimate). No SortMergeJoin, no cartesian."""
    from pdf_extractors_spark.operators import sketches

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "a c")], "doc_id long, text string"
    )
    plan = _plan(sketches.cms_heavy_hitters(df, "text", min_count=2))
    assert plan.count("Arguments: hashpartitioning") == 3
    assert plan.count(") BroadcastExchange") == 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_group_sample_sort_is_rank_limited(spark):
    """The two-level top-k prune must materialize as WindowGroupLimit
    (rank-limit pushdown): each sort keeps only the per-partition top-k
    instead of sorting whole groups — the property that makes the
    deterministic sample safe on 10⁹-row groups."""
    from pdf_extractors_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, f"g{i % 3}") for i in range(60)], "doc_id long, lang string"
    )
    plan = _plan(sampling.group_sample(df, k=5))
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan


def test_simhash_hamming_pairs_equijoin_only(spark, tmp_path):
    """Multi-probe candidate generation is an equi-join on the chunk
    key — never a cartesian / nested-loop pass, and no Python stage:
    the fingerprint, chunk explode, and popcount verify are all column
    math."""
    from pdf_extractors_spark.operators import dedup

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    ).write.parquet(path)
    plan = _plan(dedup.simhash_hamming_pairs(spark.read.parquet(path)))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Python" not in plan, plan


def test_corpus_tvd_no_fullouter_and_totals_broadcast(spark):
    """The one-sided correction is algebraic: the token join is INNER
    (shared vocabulary only) and the per-slice totals ride broadcast —
    a full-outer join over the union vocabulary never appears."""
    from pdf_extractors_spark.operators import text_stats

    df = spark.createDataFrame(
        [(1, "a b", "s1"), (2, "a c", "s2")],
        "doc_id long, text string, source string",
    )
    plan = _plan(text_stats.corpus_tvd(df))
    assert "FullOuter" not in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_watermark_lateness_single_exchange(spark):
    """Running-max window and per-key aggregate share one
    hashpartitioning(conv_id) — exactly one exchange, no funnel."""
    from pdf_extractors_spark import pipeline

    df = spark.createDataFrame(
        [("c", 0, None)], "conv_id string, turn_idx int, ts timestamp"
    )
    plan = _plan(pipeline.watermark_lateness(df))
    assert "SinglePartition" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    hash_lines = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert hash_lines and all("conv_id" in l for l in hash_lines)


def test_retry_runs_two_conv_exchanges(spark):
    """Both gaps-and-islands windows and both aggregates cluster on
    conv_id supersets; only the distinct conv-id basis adds a second
    exchange. Every hashpartitioning is on conv_id."""
    from pdf_extractors_spark import pipeline

    df = spark.createDataFrame(
        [("c", 0, "tool", "x")],
        "conv_id string, turn_idx int, role string, tool string",
    )
    plan = _plan(pipeline.retry_runs(df))
    assert "SinglePartition" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    hash_lines = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert hash_lines and all("conv_id" in l for l in hash_lines)


def test_tool_args_keys_bounded_exchanges_jvm_json(spark):
    """Key counts + per-tool totals + the tool join: three exchanges on
    (tool)/(tool, key) only — payloads never shuffle — and the JSON
    parse is JVM-side (no Python worker in the plan)."""
    from pdf_extractors_spark import pipeline

    df = spark.createDataFrame(
        [("c", 0, "tool", "t", "{}")],
        "conv_id string, turn_idx int, role string, tool string, text string",
    )
    plan = _plan(pipeline.tool_args_keys(df))
    assert "SinglePartition" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 3
    assert "from_json" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_rank_agreement_single_group_exchange(spark):
    """Both rank windows and the footrule aggregate share ONE
    hashpartitioning(lang) — the whole calibration is one exchange."""
    from pdf_extractors_spark.operators import text_stats

    df = spark.createDataFrame(
        [("en", 1, 2, 3)], "lang string, doc_id long, sa long, sb long"
    )
    plan = _plan(text_stats.rank_agreement(df, "sa", "sb", "lang"))
    assert "SinglePartition" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    hash_lines = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert hash_lines and all("lang" in l for l in hash_lines)


def test_cdc_savings_identity_exchange_only(spark):
    """One hashpartitioning exchange on the (chunk_hash, chunk_len)
    identity; the only SinglePartition is the final 1-row report over
    per-partition partials. Chunking itself stays exchange-free and
    UDF-free (cdc_chunks contract)."""
    from pdf_extractors_spark.operators import text_stats

    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    plan = _plan(text_stats.cdc_savings(df))
    hashes = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert hashes and all("chunk_hash" in h for h in hashes)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2  # identity + 1-row
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_lsh_degree_hist_no_duplicated_candidate_join(spark):
    """The endpoint explode keeps the candidate join a SINGLE subtree:
    exactly two (band, key) exchanges (one per join side). A unionAll
    of id_a/id_b projections would show four."""
    from pdf_extractors_spark.operators import dedup

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = _plan(dedup.lsh_degree_hist(dedup.minhash_signatures(docs)))
    assert "SinglePartition" not in plan
    band_hashes = [
        h for h in re.findall(r"hashpartitioning\(([^)]*)\)", plan)
        if "band" in h and "key" in h
    ]
    assert len(band_hashes) == 2


def test_parrot_rate_single_token_pass(spark):
    """The flag aggregation keeps the exploded token subtree a SINGLE
    plan branch: exactly one (conv_id, tok) exchange (separate role
    token sets + a semi-join showed three), plus the two conv_id
    exchanges for the rollup and the basis."""
    from pdf_extractors_spark import pipeline

    df = spark.createDataFrame(
        [("c", 0, "user", "x")],
        "conv_id string, turn_idx int, role string, text string",
    )
    plan = _plan(pipeline.parrot_rate(df))
    assert "SinglePartition" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 3
    tok_hashes = [
        h for h in re.findall(r"hashpartitioning\(([^)]*)\)", plan)
        if "tok" in h
    ]
    assert len(tok_hashes) == 1


def test_prompt_dedup_two_exchanges_prompts_only(spark):
    """First-turn pick + hash groupBy: one conv_id exchange, one
    prompt_hash exchange — the user-turn filter prunes before the
    window, full transcripts never shuffle."""
    from pdf_extractors_spark import pipeline

    df = spark.createDataFrame(
        [("c", 0, "user", "x")],
        "conv_id string, turn_idx int, role string, text string",
    )
    plan = _plan(pipeline.prompt_dedup(df))
    assert "SinglePartition" not in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2


def test_batch11_ops_zero_exchange_zero_python(spark):
    """code_detect / markdown_strip / special_token_leaks are pure
    scan-fused column math: no Exchange, no Python worker in any plan
    (the SCALE.md inventory rows, pinned)."""
    from pdf_extractors_spark.operators import text_stats

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    for op in (
        text_stats.code_detect,
        text_stats.markdown_strip,
        text_stats.special_token_leaks,
    ):
        plan = _plan(op(df))
        assert "Exchange" not in plan, op.__name__
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert marker not in plan, op.__name__


def test_batch12_13_plan_budgets(spark):
    """Batch-12/13 budgets, asserted through the public plans API
    (plans.assert_plan — the same linter a pipeline author calls):
    markdown_tables and render_chatml are single-exchange on the
    document/conversation key; domain_quality is bounded at 4 keyed
    exchanges (distinct, join sides, domain rollup) with no funnel."""
    from pdf_extractors_spark import pipeline, plans
    from pdf_extractors_spark.operators import text_stats, urls

    d = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    t = spark.createDataFrame(
        [("c", 0, "user", "x")],
        "conv_id string, turn_idx int, role string, text string",
    )
    plans.assert_plan(
        text_stats.markdown_tables(d),
        max_exchanges=1, no_single_partition=True, no_python=True,
        shuffle_keys={"doc_id"},
    )
    plans.assert_plan(
        pipeline.render_chatml(t),
        max_exchanges=1, no_single_partition=True, no_python=True,
        shuffle_keys={"conv_id"},
    )
    plans.assert_plan(
        urls.domain_quality(d),
        max_exchanges=4, no_single_partition=True, no_python=True,
        shuffle_keys={"doc_id", "domain"},
    )


def test_aqe_runtime_coalesces_shuffle_partitions(spark):
    """AQE is not just configured — it actually re-plans at runtime:
    a small aggregate shuffled across 32 (or session-default) partitions
    is read back through AQEShuffleRead with fewer, coalesced partitions
    in the FINAL (executed) adaptive plan."""
    df = (
        spark.range(0, 1000)
        .withColumn("k", F.col("id") % 5)
        .groupBy("k")
        .count()
    )
    df.collect()  # execute so the adaptive plan finalizes
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in executed
    assert "coalesced" in executed


def test_final_round3_plan_budgets(spark):
    """Plan budgets for the last round-3 operators, through the public
    plans API: windowed_dedup one keyed exchange; embedding_stats pure
    scan math; source_mirror_pairs bounded at 5 keyed exchanges
    (distinct, two join sides, pair count); filter_attrition's only
    funnel is the 6-row report aggregate (its correct plan)."""
    from pdf_extractors_spark import plans
    from pdf_extractors_spark.operators import dedup, similarity, text_stats

    d = spark.createDataFrame([(1, "x", "s")],
                              "doc_id long, text string, source string")
    e = spark.createDataFrame([(1, [1.0])],
                              "vec_id long, embedding array<float>")
    dts = spark.createDataFrame([(1, "x", None)],
                                "doc_id long, text string, ts timestamp")
    plans.assert_plan(dedup.windowed_dedup(dts), max_exchanges=1,
                      no_single_partition=True, no_python=True)
    plans.assert_plan(similarity.embedding_stats(e), max_exchanges=0,
                      no_single_partition=True, no_python=True)
    plans.assert_plan(dedup.source_mirror_pairs(d), max_exchanges=5,
                      no_single_partition=True, no_python=True)
    a = plans.assert_plan(text_stats.filter_attrition(d),
                          max_exchanges=1, no_python=True)
    assert a.has_single_partition  # the 6-row report funnel, by design


def test_response_grounding_plan_budget(spark):
    """response_grounding: four keyed exchanges (context vocab groupBy,
    token-hash join's two sides feed one of them, per-turn re-agg, and
    the preserve-join back onto the assistant turn list) — no
    SinglePartition funnel, no Python stage, and every shuffle keyed on
    the conversation/token-hash/turn columns only."""
    from pdf_extractors_spark import pipeline, plans

    t = spark.createDataFrame(
        [("a", 0, "user", "x"), ("a", 1, "assistant", "x")],
        "conv_id string, turn_idx int, role string, text string",
    )
    plans.assert_plan(
        pipeline.response_grounding(t),
        max_exchanges=5,
        no_single_partition=True,
        no_python=True,
        shuffle_keys={"conv_id", "tok_h", "turn_idx"},
    )


def test_refusal_scan_plan_budget(spark):
    """refusal_scan: the regex battery evaluates inside codegen on the
    scan side of ONE map-side-combined groupBy(conv_id) — no second
    exchange, no SinglePartition funnel, no Python stage."""
    from pdf_extractors_spark import pipeline, plans

    t = spark.createDataFrame(
        [("a", 0, "assistant", "x")],
        "conv_id string, turn_idx int, role string, text string",
    )
    plans.assert_plan(
        pipeline.refusal_scan(t),
        max_exchanges=1,
        no_single_partition=True,
        no_python=True,
        shuffle_keys={"conv_id"},
    )


def test_dates_extract_no_exchange(spark):
    """Date field extraction is regexp-fused scan + one posexplode +
    pure classify/split column math — zero shuffles."""
    from pdf_extractors_spark.operators import text_stats

    df = spark.createDataFrame(
        [(1, "due 25.03.2022"), (2, "on 2024-07-01")],
        "doc_id long, text string",
    )
    plan = _plan(text_stats.dates_extract(df))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan


def test_html_tables_no_exchange(spark):
    """The three chained regexp_extract_all + posexplode hops
    (document -> tables -> rows -> cells) are all narrow — zero
    shuffles, zero UDFs."""
    from pdf_extractors_spark.operators import text_stats

    df = spark.createDataFrame(
        [(1, "<table><tr><td>a</td></tr></table>")],
        "doc_id long, text string",
    )
    plan = _plan(text_stats.html_tables(df))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan


def test_char_entropy_bounded_exchanges_no_text_shuffle(spark):
    """The per-char explode collapses map-side: what shuffles is one
    row per (doc, distinct char) — partial_count before the exchange —
    plus the id-keyed window/rollup and the preserve-nulls re-join.
    No Python UDF anywhere."""
    from pdf_extractors_spark.operators import text_stats

    df = spark.createDataFrame(
        [(1, "aab"), (2, None)], "doc_id long, text string"
    )
    plan = _plan(text_stats.char_entropy(df))
    assert "partial_count" in plan, plan   # explode crushed map-side
    assert "BatchEvalPython" not in plan
    assert "SinglePartition" not in plan


def test_tokenizer_fertility_single_lang_exchange(spark):
    """Per-row token math fuses into the scan; ONE map-side-combined
    groupBy on lang is the only exchange."""
    from pdf_extractors_spark.operators import text_stats

    df = spark.createDataFrame(
        [(1, "en", "a b"), (2, "de", "x")],
        "doc_id long, lang string, text string",
    )
    plan = _plan(text_stats.tokenizer_fertility(df))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "BatchEvalPython" not in plan


def test_ndcg_single_query_exchange(spark):
    """Both the realized and the ideal rank are windows over the SAME
    query partitioning, and the final groupBy is on that key too — one
    Exchange total; no Python."""
    from pdf_extractors_spark.operators import retrieval

    df = spark.createDataFrame(
        [("q", "a", 3, 1), ("q", "b", 2, 0)],
        "q string, id string, s long, r long",
    )
    plan = _plan(retrieval.ndcg_at_k(df, "q", "id", "s", "r", k=5))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "BatchEvalPython" not in plan
    assert "SinglePartition" not in plan


def test_rouge_pairs_row_keyed_exchanges_only(spark):
    """One explode of tagged grams, then two groupBys keyed by
    supersets of the row id — per-pair work that never crosses rows;
    the gram merge collapses map-side (partial aggregation). No
    Python, no SinglePartition."""
    from pdf_extractors_spark.operators import text_stats

    df = spark.createDataFrame(
        [("c", 0, "a b c", "a b")],
        "conv_id string, turn_idx int, cand string, ref string",
    )
    plan = _plan(
        text_stats.rouge_n_pairs(df, "cand", "ref", ("conv_id", "turn_idx"))
    )
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan
    assert "partial_sum" in plan or "partial_count" in plan, plan
    assert "BatchEvalPython" not in plan
    assert "SinglePartition" not in plan


def test_warc_records_no_exchange(spark):
    """Container -> records is one posexplode + per-row string math —
    zero shuffles, zero Python; parallelism is upstream file splits."""
    from pdf_extractors_spark.operators import warc

    df = spark.createDataFrame(
        [(1, "WARC/1.0\r\nWARC-Type: t\r\nContent-Length: 1\r\n\r\nx\r\n\r\n")],
        "container_id long, container string",
    )
    plan = _plan(warc.warc_records(df))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan


def test_hard_negatives_two_phase_topk(spark):
    """Anti-join on (query, id) + per-partition WindowGroupLimit
    before the query exchange — one query's candidate flood ships k
    per map partition, never its whole list; no Python."""
    from pdf_extractors_spark.operators import retrieval

    scored = spark.createDataFrame(
        [("q", "a", 3), ("q", "b", 2)],
        "query_id string, doc_id string, score long",
    )
    pos = spark.createDataFrame(
        [("q", "a")], "query_id string, doc_id string"
    )
    plan = _plan(retrieval.hard_negatives(scored, pos, k=2))
    assert "WindowGroupLimit" in plan, plan
    assert "BatchEvalPython" not in plan
    assert "SinglePartition" not in plan


def test_context_cost_single_conv_exchange(spark):
    """Prefix-sum window and rollup share one conv-keyed exchange;
    token counts (longs) cross it, payloads are pruned first."""
    from pdf_extractors_spark.operators import chat

    df = spark.createDataFrame(
        [("c", 0, "a b"), ("c", 1, "x")],
        "conv_id string, turn_idx int, text string",
    )
    plan = _plan(chat.context_cost(df))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "BatchEvalPython" not in plan
    assert "SinglePartition" not in plan


def test_bpe_encode_no_exchange(spark):
    """Greedy BPE application is a single Arrow-batched mapInPandas over
    the scan — zero shuffles, no row-at-a-time Python (ArrowEvalPython /
    MapInPandas, never BatchEvalPython). Parallelism comes from input
    splits; the word memo keeps Python work ~ distinct words, so the
    stage scales like the extraction kernel it sits beside."""
    from pdf_extractors_spark.operators import text_stats

    df = spark.createDataFrame(
        [(1, "the thin band"), (2, "on and on")],
        "doc_id long, text string",
    )
    plan = _plan(text_stats.bpe_encode(df, [("t", "h"), ("a", "n")]))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan


def test_vocab_coverage_onerow_join_is_broadcast(spark):
    """Round-4 verdict item 6: the covered⋈total 1-row crossJoin carries
    an explicit F.broadcast hint, so the plan shape (broadcast nested
    loop, never CartesianProduct) holds with or without AQE."""
    from pdf_extractors_spark.operators import text_stats

    df = spark.createDataFrame(
        [(1, "a b c a"), (2, "a d e")], "doc_id long, text string"
    )
    plan = _plan(text_stats.vocab_coverage(df, k=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_triangle_stats_onerow_joins_are_broadcast(spark):
    """Same pin for the four-way 1-row aggregate join in the triangle
    census (nodes × edges × wedges × triangles)."""
    from pdf_extractors_spark.operators import webgraph

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
    )
    plan = _plan(webgraph.triangle_stats(edges))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
