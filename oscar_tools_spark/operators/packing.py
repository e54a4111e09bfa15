"""Training-sequence packing and mixture rebalancing — the two
"assemble the training set" primitives downstream of filtering/dedup.

``pack_sequences`` solves the pretraining batching problem: greedy
first-fit-in-key-order packing of documents into fixed-token-budget
sequences. Packing is inherently sequential (each decision depends on
the running fill), so it cannot be a window expression; it IS
embarrassingly parallel across BUCKETS, which is exactly Spark's
``applyInPandas`` grouping model: one deterministic pass per bucket,
O(bucket) memory, no global state. At 100 TB, buckets are the
parallelism unit (thousands of hash buckets -> thousands of
independent packing tasks); sequence ids are globally unique as
(bucket, seq_in_bucket).

``rebalance_to_mixture`` downsamples groups to hit a target mixture
(e.g. lang weights for a pretraining mix) with maximum data retention:
the limiting group is kept whole and every other group is hash-rank
sampled down to its proportional quota. Deterministic (md5 rank, no
rand()); the per-group counts are one map-side-combinable aggregation
broadcast back onto the rows.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_sequences(
    df: DataFrame,
    key_cols: list[str],
    token_col: str,
    max_tokens: int,
    bucket_col: str | None = None,
    n_buckets: int | None = None,
    target_bucket_rows: int = 200_000,
) -> DataFrame:
    """Assign (pack_bucket, seq_id, seq_offset) to every row: documents
    are packed greedily in ``key_cols`` order into sequences of at most
    ``max_tokens`` tokens; a document that does not fit the current
    sequence starts a new one; an oversized document (> max_tokens)
    occupies a sequence alone (callers chunk or drop those upstream —
    they are flagged by seq_offset == 0 and token_col > max_tokens).

    ``bucket_col`` names an existing partition column (e.g. lang);
    otherwise rows are hashed into buckets by the first key col
    (``pmod(xxhash64(key), n)``, conversations/docs never straddle).
    Output schema: key_cols + token_col + pack_bucket, seq_id (within
    bucket, 0-based), seq_offset (tokens already in the sequence).

    MEMORY BOUND: each bucket becomes ONE pandas group and must fit in
    one executor's memory — the bucket count, not the executor count,
    is the real parallelism AND memory knob. ``n_buckets`` therefore
    auto-scales by default: ``ceil(count / target_bucket_rows)``
    (floored at 64 so small inputs still parallelize). The count is an
    EXTRA Spark action over the input lineage — metadata-cheap on a
    raw parquet scan, but a full recompute when the input is a derived
    pipeline (filter/scrub compositions): persist such inputs first or
    pass ``n_buckets`` explicitly to skip the count entirely. A
    10^12-row corpus at the default 200k rows/bucket gets
    ~5M buckets of a few hundred MB each instead of a fixed 64 buckets
    of ~1.5 TB (the old default — an executor OOM at scale). Pass
    ``n_buckets`` explicitly to pin the layout (e.g. for reproducible
    (bucket, seq_id) ids across reruns on growing data), or
    ``bucket_col`` to reuse an existing partition column — in that
    case YOU own the per-bucket size bound.
    """
    if max_tokens < 1:
        raise ValueError(f"max_tokens must be >= 1, got {max_tokens}")
    if bucket_col is None:
        if n_buckets is None:
            n_rows = df.count()
            n_buckets = max(64, -(-n_rows // max(1, target_bucket_rows)))
        bucketed = df.withColumn(
            "pack_bucket",
            F.pmod(F.xxhash64(F.col(key_cols[0])), F.lit(n_buckets)).cast("int"),
        )
    else:
        bucketed = df.withColumn("pack_bucket", F.col(bucket_col).cast("string"))
    slim = bucketed.select(*key_cols, token_col, "pack_bucket")
    out_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in slim.schema.fields
    )
    schema = f"{out_fields}, seq_id bigint, seq_offset bigint"

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(key_cols, kind="mergesort").reset_index(drop=True)
        toks = pdf[token_col].to_numpy()
        seq_ids = [0] * len(toks)
        offsets = [0] * len(toks)
        seq, fill = 0, 0
        for i, t in enumerate(toks):
            t = int(t)
            if fill > 0 and fill + t > max_tokens:
                seq, fill = seq + 1, 0
            seq_ids[i] = seq
            offsets[i] = fill
            fill += t
        pdf["seq_id"] = seq_ids
        pdf["seq_offset"] = offsets
        return pdf

    return slim.groupBy("pack_bucket").applyInPandas(pack, schema)


def rebalance_to_mixture(
    df: DataFrame,
    group_col: str,
    targets: dict[str, float],
    key_cols: list[str] | None = None,
    seed: int = 42,
    exact: bool = True,
) -> DataFrame:
    """Downsample groups so surviving counts follow ``targets`` (a
    {group: weight} map; only RATIOS matter — quotas are invariant
    under weight scaling, and skipping explicit normalization keeps the
    float path bit-identical to the DuckDB oracle) while keeping as
    much data as possible: with M = min_g(n_g / t_g), each group keeps
    its floor(t_g * M) lowest-md5-rank rows — the limiting group
    survives whole. Groups absent from ``targets`` are dropped
    (target 0).

    Deterministic: rank = row_number over the seeded md5 of the key
    within each group (``key_cols`` defaults to all non-group columns'
    — pass explicit keys for stable lineage). One aggregation for the
    counts (broadcast back — |groups| rows), one per-group window pass
    for the ranks; no rand().

    SKEW NOTE (``exact``): the exact rank window sorts each group in
    ONE partition — correct at any group size, but a group holding a
    large fraction of a 100 TB corpus strands an executor on that
    sort. ``exact=False`` is the skew-free scale path: keep each row
    iff its md5 draw falls below quota_g / n_g (same integer-exact
    comparison as ``sampling.sample_by_weight``) — a narrow,
    shuffle-free filter whose surviving count is Binomial around the
    quota (±~sqrt(quota)) instead of exactly the quota. At web scale
    that relative error is ~10^-4; for exact counts on modest data,
    keep the default.
    """
    norm = {g: float(w) for g, w in targets.items() if w > 0}
    if not norm:
        raise ValueError("targets must contain positive weights")
    keys = key_cols or [c for c in df.columns if c != group_col]

    counts = (
        df.groupBy(group_col).agg(F.count("*").alias("_n")).collect()
    )  # |groups| rows — driver-bounded by the group cardinality
    n_by_group = {r[group_col]: r["_n"] for r in counts}
    scales = [
        n_by_group[g] / w for g, w in norm.items() if g in n_by_group
    ]
    if not scales:
        return df.limit(0)
    m = min(scales)
    quotas = {g: int(w * m) for g, w in norm.items() if g in n_by_group}

    quota_col = F.coalesce(
        *[
            F.when(F.col(group_col) == g, F.lit(q))
            for g, q in sorted(quotas.items())
        ],
        F.lit(0),
    )
    if not exact:
        # skew-free Bernoulli path: p_g = quota_g / n_g via an integer
        # hash-threshold comparison (see sample_by_weight). The keep
        # test is h < ceil(quota_g * 2^32 / n_g) — algebraically
        # identical to `h * n < quota * 2^32` (the form the DuckDB
        # oracle replays at test scale), but the threshold is computed
        # DRIVER-SIDE in arbitrary-precision Python: the product form
        # overflows bigint for groups beyond ~2^31 rows, exactly the
        # web-scale regime this mode exists for. Thresholds are <=
        # 2^32, comfortably in-range; absent groups threshold 0.
        thr = {g: -((-q << 32) // n_by_group[g]) for g, q in quotas.items()}
        thr_col = F.coalesce(
            *[
                F.when(F.col(group_col) == g, F.lit(t))
                for g, t in sorted(thr.items())
            ],
            F.lit(0),
        )
        from .sampling import uniform_hash32

        return df.filter(uniform_hash32(keys, seed) < thr_col)
    rank_key = F.md5(
        F.concat_ws(
            ":", F.lit(str(seed)), *[F.col(c).cast("string") for c in keys]
        )
    )
    w_rank = Window.partitionBy(group_col).orderBy(rank_key)
    return (
        df.withColumn("_rk", F.row_number().over(w_rank))
        .filter(F.col("_rk") <= quota_col)
        .drop("_rk")
    )


def temperature_targets(
    df: DataFrame,
    group_col: str,
    alpha: float = 0.5,
    micro: int = 1_000_000,
) -> dict[str, int]:
    """Temperature-flattened mixture targets — the multilingual-LM
    standard (XLM-R / mT5 sampling: p_g ∝ share_g^alpha): returns
    integer micro-weights t_g = max(1, floor(micro * (n_g/N)^alpha +
    0.5)) ready to feed :func:`upsample_to_mixture` /
    :func:`rebalance_to_mixture` (only ratios matter there). alpha=1
    reproduces the natural distribution, alpha=0 is uniform; 0.3-0.7
    is the usual flattening band.

    Driver-side over the bounded per-group count table (|groups|
    rows). The single float op per group — pow on an exactly-rounded
    double share — is frozen at 1e6 precision, the same libm-parity
    pattern as DSIR's log-ratios, so the DuckDB twin reproduces every
    target; everything downstream is the mixture family's exact
    integer arithmetic."""
    import math

    # null groups are excluded from BOTH the targets and the share
    # denominator: downstream upsample/rebalance drops null-group rows
    # anyway (isin never matches NULL), and counting them here would
    # silently deflate every share vs the DuckDB twin
    rows = (
        df.filter(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .count()
        .collect()
    )
    if not rows:
        raise ValueError("no rows to derive temperature targets from")
    total = sum(int(r["count"]) for r in rows)
    return {
        r[group_col]: max(
            1, math.floor(micro * (int(r["count"]) / total) ** alpha + 0.5)
        )
        for r in rows
    }


def upsample_to_mixture(
    df: DataFrame,
    group_col: str,
    targets: dict[str, int],
    key_cols: list[str],
    seed: int = 42,
    copy_col: str = "copy_idx",
) -> DataFrame:
    """UPSAMPLING mixture assembly — the Pile/GPT-3-style fractional-
    epoch mix, the complement of :func:`rebalance_to_mixture` (which
    only downsamples): emit each row 1+ times so surviving group totals
    follow ``targets`` (INTEGER weights; only ratios matter) while the
    most-overrepresented group is kept exactly once (repeat factor 1 —
    nothing is ever dropped or downsampled; groups absent from
    ``targets`` are dropped).

    With anchor H = argmax_g(n_g / t_g) (tie: smallest group name),
    group g's exact repeat factor is f_g = (t_g * n_H) / (t_H * n_g)
    >= 1. Each row repeats floor(f_g) times, plus one extra copy when
    its uniform hash draw falls below the fractional remainder — the
    repo's standard deterministic integer-threshold Bernoulli (see
    sample_by_weight), so expected group totals hit the quota within
    O(sqrt(n_g)) with NO rand() and bit-identical results across runs,
    partitionings, and the DuckDB oracle. All division happens in
    arbitrary-precision driver-side Python ints (DuckDB replays it in
    hugeint) — no float in the count path.

    Scale shape: ONE map-side-combinable group count (|groups| rows to
    the driver), then a single narrow projection: literal CASE for
    (base, threshold), hash draw, explode(sequence(1, copies)). No
    shuffle beyond the count; copies >= 1 always, so the
    sequence(1, 0) -> [1, 0] inference trap can't fire.

    Output: key_cols + group_col + ``copy_col`` (1-based copy index;
    (keys, copy_idx) is unique). Training consumers shuffle the result
    by a hash of (keys, copy_idx) so repeats don't cluster.
    """
    if not targets:
        raise ValueError("targets must be non-empty")
    if any(t <= 0 or t != int(t) for t in targets.values()):
        raise ValueError(f"targets must be positive integers, got {targets}")
    present = (
        df.filter(F.col(group_col).isin(list(targets)))
        .groupBy(group_col)
        .count()
        .collect()
    )
    n_by_group = {r[group_col]: int(r["count"]) for r in present}
    if not n_by_group:
        raise ValueError("no rows in any target group")
    # anchor = max n/t by integer cross-multiplication (no floats);
    # scanning sorted names makes the tie-break the smallest name
    anchor = sorted(n_by_group)[0]
    for g in sorted(n_by_group):
        if n_by_group[g] * targets[anchor] > n_by_group[anchor] * targets[g]:
            anchor = g
    n_h, t_h = n_by_group[anchor], targets[anchor]
    base, thr = {}, {}
    for g, n_g in n_by_group.items():
        num, den = targets[g] * n_h, t_h * n_g
        base[g] = num // den
        thr[g] = ((num % den) << 32) // den  # in [0, 2^32)
    from .sampling import uniform_hash32

    base_col = F.coalesce(
        *[F.when(F.col(group_col) == g, F.lit(b)) for g, b in sorted(base.items())],
        F.lit(None),
    )
    thr_col = F.coalesce(
        *[F.when(F.col(group_col) == g, F.lit(t)) for g, t in sorted(thr.items())],
        F.lit(0),
    )
    draw = uniform_hash32([group_col, *key_cols], seed)
    copies = (
        base_col + F.when(draw < thr_col, F.lit(1)).otherwise(F.lit(0))
    ).cast("bigint")
    staged = df.select(*key_cols, group_col).withColumn("_copies", copies).filter(
        F.col("_copies").isNotNull()
    )
    return staged.select(
        *key_cols,
        group_col,
        F.explode(F.sequence(F.lit(1).cast("bigint"), F.col("_copies"))).alias(
            copy_col
        ),
    )
