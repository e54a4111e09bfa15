"""`v1 sample`: random sample under a byte-size budget.

Reference semantics (/root/reference/src/impls/oscar_txt/sampling/
sampling.rs:47-172): shuffle documents, walk the shuffled order, skip
any document larger than the whole budget (:117-118).

* WithoutReplacement (the CLI default at :41): add while
  cumulative + len < budget, STOP at the first non-fitting document
  (:120-123) — i.e. keep the prefix where the inclusive cumulative
  size is strictly < budget; output re-sorted to corpus order (:126).
* WithReplacement (:59-97): draw with replacement while
  size + doc_length <= max_size — the INCLUSIVE boundary differs from
  the without-replacement mode (a draw landing exactly on the budget
  is kept) — then sort+dedup so the output has no duplicates.

Budgets are BYTE budgets (the reference indexes documents by byte
offset/length — sampling.rs ``build_index``), so the default size
expression is ``octet_length(text)``, not character length; pass
``size_col`` to budget on any precomputed size.

Distributed formulation
-----------------------
Because the running total is monotone, "stop at first overflow" is a
prefix-sum filter over the md5 shuffle-key order. A single global-order
window would serialize on one task; instead the key space is split into
fixed equal-width ranges of the md5 hex prefix (the key is uniform by
construction, so ranges are balanced), the per-range totals are a tiny
driver-side array, and the cumulative sum is
(per-range window cumsum) + (prefix sum of range totals).

The range id is a pure function of the key — unlike
``repartitionByRange``, whose sampled boundaries depend on RDD ids —
so the totals job and the main job agree on the layout with no
``persist()`` (round 1 cached the ranged frame and leaked it; a pure
partitioner needs no materialization). The input subtree is evaluated
twice (once for totals, once for the window) — both are narrow scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_HEX_PREFIX = 8  # range on the first 8 hex chars of the md5 key
_HEX_SPACE = 16**_HEX_PREFIX


def _with_shuffle_key(df: DataFrame, key_cols: list[str], seed: int):
    key = F.md5(F.concat_ws(":", F.lit(str(seed)), *[F.col(c).cast("string") for c in key_cols]))
    return df.withColumn("_sk", key)


def uniform_hash32(key_cols: list[str], seed: int):
    """The repo's standard deterministic uniform-[0, 2^32) draw: first
    8 md5 hex digits of 'seed:key...' as a bigint. ONE definition —
    the seeded-md5 idiom was copy-pasted across samplers before, and
    every DuckDB oracle replays it, so a drift in any copy would be a
    silent cross-engine divergence.

    The draw width (8 hex digits <=> the 2^32 domain of every
    threshold) lives in ``hashing.md5_hash32_expr`` — the one spelling
    of the conv/substring/md5 chain; it is NOT ``_HEX_PREFIX`` (a
    range-partitioner tuning knob)."""
    from ..functions.hashing import md5_hash32_expr

    return md5_hash32_expr(
        F.concat_ws(
            ":",
            F.lit(str(seed)),
            *[F.col(c).cast("string") for c in key_cols],
        )
    )


def _range_pid(partitions: int):
    """Deterministic range-partition id from the md5 key prefix.

    floor(prefix * P / 16^8) with prefix < 16^8 is always in [0, P-1];
    integer arithmetic only, so Spark and any re-evaluation agree.
    """
    prefix = F.conv(F.substring(F.col("_sk"), 1, _HEX_PREFIX), 16, 10).cast("bigint")
    return F.floor(prefix * partitions / F.lit(_HEX_SPACE)).cast("int")


def _cumsum_over_key(
    df: DataFrame, partitions: int, tiebreak_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Attach ``_cum`` = inclusive cumulative sum of ``_sz`` in global
    ``_sk`` order, without a single-partition window.

    ``df`` must carry ``_sk`` (md5 hex) and ``_sz`` (bigint). Adds
    ``_pid``. The per-range totals collect is ≤ ``partitions`` rows.
    ``tiebreak_cols`` extend the window ordering past ``_sk`` so an
    md5 collision between two DISTINCT keys still orders
    deterministically (rows with fully identical key tuples have no
    identity to order by — callers must document that precondition).
    """
    parted = df.withColumn("_pid", _range_pid(partitions))
    totals = {
        r._pid: r.total
        for r in parted.groupBy("_pid").agg(F.sum("_sz").alias("total")).collect()
    }
    acc = 0
    offsets = {}
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    offset_col = (
        F.coalesce(
            *[F.when(F.col("_pid") == pid, F.lit(off)) for pid, off in offsets.items()],
            F.lit(0),
        )
        if offsets
        else F.lit(0)
    )
    w = Window.partitionBy("_pid").orderBy("_sk", *tiebreak_cols).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return parted.withColumn("_cum", F.sum("_sz").over(w) + offset_col)


def sample_by_budget(
    df: DataFrame,
    key_cols: list[str],
    budget_bytes: int,
    size_col: str | None = None,
    text_col: str = "text",
    seed: int = 42,
    partitions: int = 32,
) -> DataFrame:
    """Sample rows under a total size budget with reference
    WithoutReplacement semantics (strict ``<`` boundary).

    ``size_col`` defaults to ``octet_length(text_col)`` — a byte
    budget, matching the reference's byte-offset index. Returns the
    sampled rows of ``df`` (original columns), ordered by ``key_cols``.
    ``partitions=1`` degenerates to a single global window (useful as a
    test oracle for the distributed prefix sum).

    DETERMINISM PRECONDITION: ``df`` must evaluate identically across
    Spark jobs — the prefix sum reads it twice (per-range totals, then
    the window pass) with no materialization. A nondeterministic input
    (unseeded ``sample()``, ``rand()`` columns, a table mutating
    between jobs) silently over/undershoots the budget. Materialize
    such inputs first (``df.localCheckpoint()`` or write+re-read).
    """
    size = F.col(size_col) if size_col else F.octet_length(F.col(text_col))
    keyed = _with_shuffle_key(df, key_cols, seed).withColumn("_sz", size.cast("bigint"))
    eligible = keyed.filter(F.col("_sz") <= F.lit(budget_bytes))

    return (
        _cumsum_over_key(eligible, partitions)
        .filter(F.col("_cum") < F.lit(budget_bytes))
        .drop("_sk", "_sz", "_cum", "_pid")
        .orderBy(*key_cols)
    )


def sample_by_budget_with_replacement(
    df: DataFrame,
    key_cols: list[str],
    budget_bytes: int,
    size_col: str | None = None,
    text_col: str = "text",
    seed: int = 42,
    draw_factor: int = 3,
    partitions: int = 32,
) -> DataFrame:
    """Reference WithReplacement mode (sampling/sampling.rs:59-97): draw
    with replacement while size + doc_length <= budget (duplicates count
    toward the budget; note the INCLUSIVE boundary, unlike the
    without-replacement mode), then sort+dedup the chosen docs so the
    OUTPUT has no duplicates, preserving corpus order.

    Distributed formulation: materialize ``draw_factor`` independent
    seeded draws per row (a row can be chosen multiple times), order
    draws by their md5 draw-key, keep the prefix whose inclusive
    cumulative size <= budget via the same distributed prefix sum as
    ``sample_by_budget`` (no global single-partition window), then
    dedup + re-sort. ``draw_factor`` bounds the with-replacement
    universe (the reference draws until overflow; 3x the
    without-replacement depth is plenty for any budget < half the
    corpus).

    Same DETERMINISM PRECONDITION as ``sample_by_budget``: the input
    subtree is evaluated twice (totals + window); nondeterministic
    inputs must be materialized by the caller first.
    """
    size = F.col(size_col) if size_col else F.octet_length(F.col(text_col))
    keyed = df.withColumn("_sz", size.cast("bigint")).filter(
        F.col("_sz") <= F.lit(budget_bytes)
    )
    draws = keyed.select(
        *key_cols,
        "_sz",
        F.explode(F.array(*[F.lit(i) for i in range(draw_factor)])).alias("_draw"),
    ).withColumn(
        "_sk",
        F.md5(
            F.concat_ws(
                ":",
                F.lit(str(seed)),
                F.col("_draw").cast("string"),
                *[F.col(c).cast("string") for c in key_cols],
            )
        ),
    )
    chosen = (
        _cumsum_over_key(draws, partitions)
        .filter(F.col("_cum") <= F.lit(budget_bytes))
        .select(*key_cols)
        .distinct()
    )
    return df.join(chosen, key_cols, "left_semi").orderBy(*key_cols)


def cap_per_group(
    df: DataFrame,
    group_col,
    cap: int,
    key_cols: list[str],
    seed: int = 42,
) -> DataFrame:
    """Keep at most ``cap`` rows per group, chosen by the repo's
    deterministic seeded-md5 draw — the RefinedWeb-style per-domain
    cap (one domain must not dominate the corpus), usable for any
    group (host, source, dedup cluster...). ``group_col`` may be a
    column name or an expression; NULL groups form their own capped
    group.

    Scale shape (also diversity_sample's per-cluster cap): a salted
    two-phase exact cap — phase 1 ranks within (group, salt) so a
    10^7-page domain never lands on one task, phase 2 re-ranks
    the ≤ n_salts*cap survivors per group. Exact: each group's true
    top ``cap`` rows by draw order each sit inside their own salt's
    top ``cap``, so phase 1 never evicts a winner. The draw/tiebreak
    is a pure function of (seed, keys) — growth-stable, so adding new
    rows to a group only ever displaces, never reshuffles, survivors.
    """
    if cap <= 0:
        raise ValueError("cap must be positive")
    n_salts = 16
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    draw = uniform_hash32(key_cols, seed)
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in key_cols], F.lit(seed)), F.lit(n_salts)
    )
    w1 = Window.partitionBy(g, salt).orderBy(draw, *key_cols)
    w2 = Window.partitionBy(g).orderBy(draw, *key_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= F.lit(int(cap)))
        .withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= F.lit(int(cap)))
        .drop("_rn")
    )


def sample_by_budget_per_group(
    df: DataFrame,
    key_cols: list[str],
    group_col: str,
    budget_bytes: int | dict[str, int],
    size_col: str | None = None,
    text_col: str = "text",
    seed: int = 42,
) -> DataFrame:
    """Stratified budget sampling — the domain-mixing primitive: an
    independent byte budget PER ``group_col`` value (language, source,
    domain), each with the same deterministic md5-shuffle +
    strict-``<``-boundary semantics as ``sample_by_budget``.

    ``budget_bytes`` is one budget applied to every group, or a
    {group: budget} dict (groups absent from the dict are dropped —
    an explicit mixing recipe samples nothing it does not name).

    Scale shape: groups are natural window partitions, so the prefix
    sum is ONE ``Window.partitionBy(group).orderBy(md5)`` pass — no
    driver-side range offsets needed (that machinery exists to avoid a
    single-partition GLOBAL window; per-group windows are already
    distributed). Skewed groups shuffle as one partition each; for a
    group so large that one partition cannot hold it, sample that group
    alone with ``sample_by_budget`` (range-partitioned) instead.

    Same determinism precondition as ``sample_by_budget``: ``df`` must
    evaluate identically across jobs.
    """
    size = F.col(size_col) if size_col else F.octet_length(F.col(text_col))
    keyed = _with_shuffle_key(df, key_cols, seed).withColumn(
        "_sz", size.cast("bigint")
    )
    if isinstance(budget_bytes, dict):
        budget_col = F.coalesce(
            *[
                F.when(F.col(group_col) == g, F.lit(b))
                for g, b in sorted(budget_bytes.items())
            ],
            F.lit(None),
        ) if budget_bytes else F.lit(None)
    else:
        budget_col = F.lit(budget_bytes)
    w = Window.partitionBy(group_col).orderBy("_sk").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        keyed.withColumn("_budget", budget_col.cast("bigint"))
        .filter(F.col("_sz") <= F.col("_budget"))
        .withColumn("_cum", F.sum("_sz").over(w))
        .filter(F.col("_cum") < F.col("_budget"))
        .drop("_sk", "_sz", "_cum", "_budget")
        .orderBy(*key_cols)
    )


def sample_by_weight(
    df: DataFrame,
    key_cols: list[str],
    weight_col: str,
    seed: int = 42,
) -> DataFrame:
    """Deterministic weighted Bernoulli sampling: keep each row with
    probability = its ``weight_col`` value (clamped to [0, 1]) — the
    quality-/importance-weighted downsampling primitive (keep good
    documents with high probability, bad ones rarely), reproducible
    across runs, partitionings, and engines.

    keep iff  hash32(seed, key) * 10^6  <  round(weight * 10^6) * 2^32

    where hash32 is the first 8 md5 hex digits of the seeded key — the
    repo's standard uniform-[0, 2^32) draw (same construction as
    ``_with_shuffle_key``), and both sides are exact bigint products
    (no float division), so the DuckDB oracle replays it bit-for-bit.
    One narrow codegen'd filter; no shuffle, no RNG state, no
    ``rand()`` (which re-draws per task attempt and breaks retries).
    """
    w = F.least(F.greatest(F.col(weight_col).cast("double"), F.lit(0.0)), F.lit(1.0))
    wi = F.round(w * 1_000_000).cast("bigint")
    h = uniform_hash32(key_cols, seed)
    return df.filter(h * F.lit(1_000_000) < wi * F.lit(4_294_967_296))


def validate_splits(splits: tuple[tuple[str, int], ...]) -> None:
    """Shared split-spec validation for :func:`assign_split` and the
    curate-job CLI — the guards live at the operator altitude so
    library callers get them too, not just ``--assign-split``."""
    if len(splits) < 2:
        raise ValueError("need at least two splits")
    if any(w <= 0 for _, w in splits):
        raise ValueError("split weights must be positive integers")
    names = [n for n, _ in splits]
    if len(set(names)) != len(names):
        # ('train', 1), ('train', 1) would silently double train's share
        raise ValueError("split names must be unique")
    if sum(w for _, w in splits) > 1 << 20:
        # assign_split compares hash32 * total against 2^32 * cum in
        # int64; a huge weight total would overflow and silently wrap
        # under non-ANSI Spark (wrong assignments). 2^20 keeps the
        # products < 2^52 with margin — far beyond any real
        # train/val/test ratio.
        raise ValueError("split weight total must be <= 2^20")


def assign_split(
    df: DataFrame,
    key_cols: list[str],
    splits: tuple[tuple[str, int], ...] = (("train", 98), ("val", 1), ("test", 1)),
    seed: int = 42,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic corpus splitting: adds ``split_col`` naming the
    split each row belongs to, with probability proportional to the
    integer weights in ``splits``.

    Membership is a pure function of (seed, key): stable under
    repartitioning, reruns, engines, AND corpus growth — new rows
    never move existing rows between splits, the property that
    row_number()/ntile()-based splitting lacks and that keeps a
    held-out set honest while the corpus is re-crawled.

    assign split i (first match) iff
        hash32(seed, key) * total  <  2^32 * cumsum_i

    with the repo's md5 uniform-[0, 2^32) draw and exact bigint
    products on both sides, so the DuckDB oracle replays it
    bit-for-bit. One narrow codegen'd projection; no shuffle, no RNG.
    """
    validate_splits(splits)
    total = sum(w for _, w in splits)
    lhs = uniform_hash32(key_cols, seed) * F.lit(total)
    expr = None
    cum = 0
    for name, w in splits[:-1]:
        cum += w
        cond = lhs < F.lit(4_294_967_296 * cum)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    expr = expr.otherwise(F.lit(splits[-1][0]))
    return df.withColumn(split_col, expr)


def assign_split_safe(
    df: DataFrame,
    key_col: str,
    pairs: DataFrame,
    splits: tuple[tuple[str, int], ...] = (("train", 98), ("val", 1), ("test", 1)),
    seed: int = 42,
    split_col: str = "split",
    pair_a: str = "key_a",
    pair_b: str = "key_b",
) -> DataFrame:
    """Leakage-safe splitting: hash the near-duplicate COMPONENT
    representative instead of the document key, so every member of a
    duplicate cluster lands in the same split.

    Plain :func:`assign_split` hashes each key independently — two
    near-identical documents can straddle train/test, and the held-out
    metric silently measures memorization of the training copy. Here
    ``pairs`` (any near-dup pair frame: jaccard_pairs, winnow_overlap,
    minhash candidates) is closed into components
    (components.connected_components, O(log n) rounds) and the split
    draw keys on the component's min-key representative; documents in
    no pair keep their own key, so for them the assignment is
    IDENTICAL to assign_split (same draw, same seed) and adding new
    pairs never reshuffles untouched documents.

    Scale shape: the component frame only contains keys that appear in
    a pair (a tiny fraction of the corpus); the join back is an equi-
    join on the key, and the split rule stays one narrow projection.
    """
    from .components import connected_components

    comp = connected_components(pairs, pair_a, pair_b).withColumnRenamed(
        "node", key_col
    )
    rep = df.join(comp, key_col, "left").withColumn(
        "_rep", F.coalesce(F.col("component"), F.col(key_col))
    ).drop("component")
    return assign_split(rep, ["_rep"], splits, seed, split_col).drop("_rep")


def global_shuffle(
    df: DataFrame,
    key_cols: list[str],
    seed: int = 42,
    partitions: int = 32,
    position_col: str = "position",
) -> DataFrame:
    """Deterministic global corpus shuffle: adds ``position_col`` =
    the row's 0-based rank in md5('seed:key') order — the training-data
    shuffle (vary ``seed`` per epoch for a fresh permutation; identical
    inputs + seed give the identical permutation on any engine or
    cluster size, unlike ``orderBy(rand())``).

    Scale shape: the same fixed-range prefix partitioner as
    sample_by_budget — per-range counts are a ≤``partitions``-row
    driver collect, the rank is (range offset + within-range window
    rank), so no single-partition global sort ever happens. To
    materialize the shuffled layout for a trainer, write with
    ``.repartitionByRange(partitions, position_col)`` +
    ``.sortWithinPartitions(position_col)``.

    Same determinism precondition as sample_by_budget: ``df`` is read
    twice (totals, then the window) — materialize nondeterministic
    inputs first. ``key_cols`` tuples must additionally be UNIQUE and
    non-null: the rank order falls back to the raw keys on an md5
    collision, but two rows with the SAME key tuple have no identity
    to order by, so their relative positions are arbitrary per
    execution (dedup first; validate_transcripts flags dup keys).
    """
    keyed = _with_shuffle_key(df, key_cols, seed).withColumn("_sz", F.lit(1).cast("bigint"))
    return (
        _cumsum_over_key(keyed, partitions, tiebreak_cols=tuple(key_cols))
        .withColumn(position_col, (F.col("_cum") - 1).cast("bigint"))
        .drop("_sk", "_sz", "_cum", "_pid")
    )
