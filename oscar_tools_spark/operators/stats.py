"""Corpus statistics: per-partition profiling of a curated corpus.

The reference has no stats command; a 100 TB curation run needs one —
per-group length quantiles, score buckets and the rows-in/rows-out
funnel — to validate a run before committing it. The per-language
volume and tag profile is ``__spark_entry__.py::q_corpus_stats``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def length_profile(
    df: DataFrame,
    group_col: str,
    value_col: str,
    key_col: str,
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Per-group size profile with EXACT index-based quantiles: the
    q-quantile is the element at sorted index floor(q * (n - 1)) with
    the deterministic (value, key) tie order — pure integer selection,
    so Spark and the DuckDB oracle agree bit-for-bit where interpolated
    percentile definitions (and their float paths) would not.

    Output: (group, n, total, mean, p<q>...) — mean rounded per-row.
    Shape: ONE window pass per group (row_number + count over the
    group) then a tiny filter+pivot aggregation; no driver-side data,
    no approx sketches (swap in approx_percentile at 100 TB if an
    exact global sort per group is too hot — the column contract stays
    identical)."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(F.col(value_col), F.col(key_col))
    wn = Window.partitionBy(group_col)
    ranked = df.select(
        group_col,
        value_col,
        key_col,
    ).withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count("*").over(wn)
    )
    q_hits = [
        F.max(
            F.when(
                F.col("_rn") - 1
                == F.floor(F.lit(q) * (F.col("_n") - 1)),
                F.col(value_col),
            )
        ).alias(f"p{str(q)[2:]}")
        for q in quantiles
    ]
    return (
        ranked.groupBy(group_col)
        .agg(
            F.max("_n").alias("n"),
            F.sum(value_col).alias("total"),
            F.round(F.sum(value_col) / F.max("_n"), 4).alias("mean"),
            *q_hits,
        )
        .orderBy(group_col)
    )


def quantile_buckets(
    df: DataFrame,
    group_col: str,
    value_col: str,
    n_buckets: int = 3,
    order_cols: tuple[str, ...] = (),
    mode: str = "approx",
    accuracy: int = 10_000,
    bucket_col: str = "bucket",
) -> DataFrame:
    """CCNet-style per-group quantile bucketing: adds integer
    ``bucket_col`` in [1, n_buckets] splitting each group's
    ``value_col`` distribution into equal-count bands (CCNet's
    head/middle/tail = terciles of per-language LM perplexity; pass
    ``functions.perplexity.score`` output as the value column).

    ``mode="exact"``: ANSI ``ntile`` over a per-group window ordered by
    ``(value_col, *order_cols)`` — deterministic given a tie-breaking
    ``order_cols``, bit-replayable in the DuckDB oracle, but costs a
    full per-group SORT: the small-data / verification mode.

    ``mode="approx"`` (default): the 100 TB shape — per-group inner
    thresholds via ``percentile_approx`` (a map-side-combinable sketch:
    one aggregation, no sort), broadcast back, bucket = 1 + #thresholds
    strictly below the value. Group sizes may deviate by the sketch
    error (~1/accuracy); ranking is still exact w.r.t. the thresholds.
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    if mode == "exact":
        from pyspark.sql import Window

        w = Window.partitionBy(group_col).orderBy(value_col, *order_cols)
        return df.withColumn(bucket_col, F.ntile(n_buckets).over(w))
    if mode != "approx":
        raise ValueError(f"unknown mode: {mode!r}")
    fracs = [i / n_buckets for i in range(1, n_buckets)]
    # collision-guarded temp name for the threshold-side group key
    g = "_g"
    while g in df.columns:
        g += "_"
    thr = df.groupBy(group_col).agg(
        F.percentile_approx(value_col, fracs, accuracy).alias("_thr")
    ).withColumnRenamed(group_col, g)
    # null-SAFE join: a plain equi-join drops every row whose group key
    # is NULL (exact mode's window keeps them) — silent mode-dependent
    # data loss
    out = df.join(
        F.broadcast(thr), F.col(group_col).eqNullSafe(F.col(g))
    ).drop(g)
    # a group whose value_col is entirely null has null thresholds;
    # coalesce to the empty array so every row lands in bucket 1
    # (in-range) instead of a null bucket
    safe_thr = F.coalesce(F.col("_thr"), F.array().cast("array<double>"))
    bucket = F.lit(1) + F.size(
        F.filter(safe_thr, lambda t: F.col(value_col) > t)
    )
    return out.withColumn(bucket_col, bucket).drop("_thr")


def curation_funnel(
    raw: DataFrame,
    curated: DataFrame,
    group_cols: list[str],
    retention_col: str = "retention",
) -> DataFrame:
    """Per-group retention between a raw snapshot and its curated
    output: (group_cols..., rows_in, rows_out, retention) — the funnel
    a pipeline owner reads to spot a filter eating a language or a
    source going bad upstream. Groups absent from ``curated`` report
    rows_out = 0 (fully dropped), so silent group wipeouts are visible.

    Two map-side-combinable counts + one small join on the group key;
    output is |groups| rows regardless of corpus size.
    """
    a = raw.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("rows_in"))
    b = curated.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("rows_out"))
    return (
        a.join(b, group_cols, "left")
        .withColumn("rows_out", F.coalesce(F.col("rows_out"), F.lit(0)))
        .withColumn(
            retention_col,
            F.round(F.col("rows_out").cast("double") / F.col("rows_in"), 4),
        )
    )
