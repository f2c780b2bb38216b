"""Salted skew handling for key-skewed joins, and skew diagnostics.

A 10^12-turn transcripts table has power-law conversation lengths
(FIXTURES.md §1), so a few keys hold most rows. Whether that hurts
depends on the operator:

* **Algebraic aggregates** (count, sum, min, max) need no salting. Spark
  plans ``groupBy(conv_id).agg(...)`` as a partial ``HashAggregate``
  below the exchange: each map task combines a hot conversation's rows
  into one partial row before the shuffle, so the reducer that owns a
  5000-turn conversation receives at most one row per map task.
  ``pipeline.conv_stats`` is that plan (its single exchange and the
  partial aggregate below it are pinned by tests/test_salting.py).
* **Joins** do ship every fact row of a hot key to one reducer. AQE
  splits skewed partitions of shuffle joins; ``skew_join`` is the
  explicit form for when the heavy keys are known: ``with_salt`` spreads
  the heavy fact keys over S salts and the dimension side replicates
  only those keys' rows.

``heavy_hitters`` finds the heavy keys by sampling; ``skew_report`` is
the exact top-k diagnostic to run before choosing salt factors.

The per-turn extraction stage itself never needs salting: it is stateless
per turn, so round-robin input splits already balance it (pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .. import pipeline


def heavy_hitters(
    df: DataFrame,
    key: str = "conv_id",
    threshold: int = 1000,
    sample_fraction: float = 0.01,
) -> list[str]:
    """Approximate heavy-key detection via uniform sampling: a key with
    ≥ threshold rows appears ≥ threshold*fraction times in the sample in
    expectation. Deterministic seed for reproducible plans.

    ``threshold * sample_fraction`` must be ≥ 4 — below that the cutoff
    sits at the sampling noise floor and single-sampled light keys would
    be flagged heavy (at web scale that floods the driver collect and
    blows up the isin() literal list). Raise the fraction or threshold."""
    expected = threshold * sample_fraction
    if expected < 4:
        raise ValueError(
            f"threshold*sample_fraction = {expected:.2f} < 4: sampled "
            f"counts at this level are noise, not evidence of a heavy key"
        )
    min_sampled = max(2, int(expected / 2))
    rows = (
        df.sample(fraction=sample_fraction, seed=42)
        .groupBy(key)
        .count()
        .filter(F.col("count") >= min_sampled)
        .select(key)
        .collect()
    )
    return [r[0] for r in rows]


def with_salt(
    df: DataFrame,
    heavy_keys: list[str],
    key: str = "conv_id",
    order_col: str = "turn_idx",
    n_salts: int = 16,
) -> DataFrame:
    """Add a ``_salt`` column: 0 for normal keys, hash-spread for heavy
    ones. Deterministic (derived from data, not partition order)."""
    is_heavy = F.col(key).isin(heavy_keys) if heavy_keys else F.lit(False)
    return df.withColumn(
        "_salt",
        F.when(is_heavy, F.pmod(F.xxhash64(key, order_col), F.lit(n_salts)))
        .otherwise(F.lit(0))
        .cast("int"),
    )


def salted_conv_stats(
    extracted: DataFrame,
    heavy_keys: list[str] | None = None,
    n_salts: int = 16,
) -> DataFrame:
    """Per-conversation stats: exactly ``pipeline.conv_stats``.

    ``heavy_keys`` and ``n_salts`` are accepted for callers written
    against the earlier salted two-level plan, and no longer affect the
    plan. Every aggregate here is algebraic (count/sum), so the map-side
    partial aggregate already reduces each hot conversation to one row
    per map task before the single conv_id exchange; salting added a
    second exchange and an eager heavy-hitter sampling job on top of
    that and bought nothing."""
    return pipeline.conv_stats(extracted)


def skew_report(
    df: DataFrame,
    key: str = "user_id",
    top_k: int = 20,
    scale: int = 10**6,
) -> DataFrame:
    """Exact key-skew diagnostic: the ``top_k`` heaviest keys with
    ``(rank, key, n_rows, share_ppm, cum_share_ppm, x_mean_ppm)`` — row
    share and cumulative share in parts-per-million, and the imbalance
    factor vs the MEAN per-key count (millionths). The report a pipeline
    runs before choosing salt factors / AQE thresholds: a top key at
    200x the mean needs salting; a flat report doesn't.

    All ratios are integer (``div`` against broadcast 1-row totals), so
    the output is engine-portable and value-hashable. Scale shape: one
    map-side-combined groupBy over the key, one tiny total/key-count
    aggregate that rides back as a broadcast, and ``orderBy().limit()``
    over the already-aggregated counts — Spark executes that as a
    distributed TakeOrdered (per-partition top-k heaps, then a k-row
    merge on the driver side of the exchange), NOT a global sort; the
    rank/cumulative window then runs over only ``top_k`` rows. The mean
    (not the median) is the reference level precisely because it needs
    no order statistic — an exact median of 10^8 per-host counts would
    force the global sort this plan avoids."""
    counts = df.groupBy(key).agg(F.count("*").alias("n_rows"))
    stats = counts.agg(
        F.sum("n_rows").alias("_total"),
        F.count("*").alias("_nkeys"),
    )
    top = counts.orderBy(F.col("n_rows").desc(), F.col(key).asc()).limit(top_k)
    w = Window.orderBy(F.col("n_rows").desc(), F.col(key).asc())
    return (
        top.crossJoin(F.broadcast(stats))
        .withColumn("rank", F.row_number().over(w))
        .withColumn("cum_rows", F.sum("n_rows").over(w))
        .select(
            "rank",
            key,
            "n_rows",
            F.expr(f"n_rows * {scale} div _total").alias("share_ppm"),
            F.expr(f"cum_rows * {scale} div _total").alias("cum_share_ppm"),
            F.expr(f"n_rows * {scale} div (_total div _nkeys)").alias(
                "x_mean_ppm"
            ),
        )
    )


def skew_join(
    facts: DataFrame,
    dims: DataFrame,
    key: str,
    heavy_keys: list[str],
    order_col: str,
    n_salts: int = 16,
) -> DataFrame:
    """Salted equi-join for a skewed fact side: the replicate-small-side
    pattern AQE applies to *shuffle* joins, available explicitly for when
    the dimension is too big to broadcast but the fact side's key
    distribution is power-law.

    Heavy fact keys get ``salt = pmod(hash(key, order_col), S)`` (derived
    from data, never partition order — deterministic under any input
    split); normal keys keep salt 0. The dim side replicates each heavy
    key's row S times via one ``explode(sequence(...))`` — tiny, because
    only the heavy keys (dozens, not millions) replicate — and the join
    runs on (key, salt), spreading each hot key over S reducers instead
    of melting one. Join results are value-identical to the plain
    equi-join (the salt is dropped).

    At 100 TB: heavy-key detection comes from `heavy_hitters` sampling;
    the replicated dim adds |heavy| × S rows to one side of the exchange,
    noise next to the fact table, while the hottest reducer shrinks S×.
    """
    salted_facts = with_salt(
        facts, heavy_keys, key=key, order_col=order_col, n_salts=n_salts
    )
    is_heavy = F.col(key).isin(heavy_keys) if heavy_keys else F.lit(False)
    salts = F.when(
        is_heavy, F.sequence(F.lit(0), F.lit(n_salts - 1))
    ).otherwise(F.array(F.lit(0)))
    salted_dims = dims.withColumn(
        "_salt", F.explode(F.transform(salts, lambda s: s.cast("int")))
    )
    out = salted_facts.join(salted_dims, [key, "_salt"])
    return out.drop("_salt")
