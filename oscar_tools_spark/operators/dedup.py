"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

The exact line dedup reproduces the reference's `v1 dedup` semantics
(/root/reference/src/impls/oscar_txt/dedup.rs:14-98): first occurrence
wins GLOBALLY across documents, order-preserving, and empty lines are
deduplicated like any other key (dedup.rs:36-37 is dead code — see
SURVEY.md §2.2). The reference does this with a single-node in-memory
digest set; here the same semantics become a map-side-combinable
``groupBy(key).agg(min_by(row, position))`` (:func:`_first_per_key`,
shared by every lowest-key-wins dedup) — the scale-out replacement for
the O(corpus) driver-side set.

Scale notes
-----------
* ``groupBy + min_by`` partially aggregates before the shuffle, so
  a line repeated 10^6 times ships one row per map partition, not 10^6
  rows — this also neutralizes key skew on ultra-common lines (empty
  string, boilerplate).
* MinHash/SimHash signatures are built from md5 (available in both
  Spark and DuckDB so oracles can replay them); at 100 TB swap in
  ``xxhash64`` for ~3× cheaper hashing — the structure is identical.
* ``dedup_minhash_lsh`` keys a min-window on (band, band key), not a
  band self-join, and AQE does not split window partitions: a hot band
  bucket (many near-identical documents) lands whole in one task.
  AQE's skew-join only covers the joins that remain, such as
  ``dedup_simhash_hamming``'s chunk self-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_hash32_expr

def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Lift a narrow input with fewer partitions than cores to
    ``defaultParallelism``, deciding from the plan without running it.

    Shingling/minhashing EXPLODES ~100 rows per document and pays heavy
    per-gram expression work; a small input file arrives as ONE split,
    which would serialize the whole stage on one task (measured: 26s
    single-task vs ~1s at 32 for the sf0.1 shingle explode). The
    repartition shuffle moves only the raw documents — trivial next to
    the exploded work it unlocks. At real scale inputs already carry
    thousands of splits and this is a no-op.

    Only an input whose physical plan has no ``Exchange`` (a narrow map
    over scans or checkpoints) is counted and lifted: its partition
    count is known without a job. Over an exchange the input is returned
    unchanged. Asking an adaptive plan for its partition count runs its
    query stages, which the real query then runs again, and AQE already
    sizes post-shuffle partitions: with ``parallelismFirst`` coalescing
    it keeps ``defaultParallelism`` of them unless they would fall below
    ``minPartitionSize``.
    """
    plan = df._jdf.queryExecution().executedPlan().toString()
    target = df.sparkSession.sparkContext.defaultParallelism
    if "Exchange" not in plan and df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# ----------------------------------------------------------------- exact


def _first_per_key(
    df: DataFrame, group_col: str, order_cols: list[str]
) -> DataFrame:
    """The dedup family's ONE lowest-key-wins rule: per ``group_col``
    value, the row with the smallest ``order_cols`` tuple survives,
    returned with the input schema.

    A single ``min_by`` aggregate carrying the whole row: the input is
    evaluated once and never joined back, and partial aggregation
    combines a hot key map-side instead of sending it whole to one
    task, which a window partition cannot do. Each order column
    sorts nulls LAST (SQL ``min`` semantics: a non-null key beats a null
    one); the order struct itself is never null, so a group whose keys
    are all null still keeps exactly one real row. Rows tied on the
    whole order tuple keep one of them."""
    order = F.struct(
        *[e for c in order_cols for e in (F.col(c).isNull(), F.col(c))]
    )
    return (
        df.groupBy(group_col)
        .agg(F.min_by(F.struct(*df.columns), order).alias("_first"))
        .select("_first.*")
    )


def dedup_lines(
    df: DataFrame,
    order_cols: list[str],
    text_col: str = "text",
    line_col: str = "line",
) -> DataFrame:
    """Reference `v1 dedup`: explode text into lines, keep the globally
    first occurrence of each distinct line, preserve stream order.

    Returns (order_cols..., line_idx, line) of surviving lines, ordered
    by (order_cols, line_idx). Empty lines are ordinary keys.
    """
    lines = df.select(
        *order_cols,
        F.posexplode(F.split(F.col(text_col), "\n")).alias("line_idx", line_col),
    )
    return _first_per_key(lines, line_col, [*order_cols, "line_idx"]).orderBy(
        *order_cols, "line_idx"
    )


def dedup_paragraphs(
    df: DataFrame,
    key_cols: list[str],
    text_col: str = "text",
    sep: str = "\n\n",
    out_col: str | None = None,
) -> DataFrame:
    """Paragraph-level exact dedup with excision (the Dolma/RefinedWeb
    granularity between :func:`dedup_docs_exact` and
    :func:`dedup_lines`): the globally FIRST occurrence of each
    distinct paragraph — in (key_cols, position) order — survives;
    every later copy is cut out and the document re-assembled from its
    surviving paragraphs in original order. Web boilerplate
    (nav blocks, cookie banners, licence footers) repeats at paragraph
    granularity far more than at whole-document granularity, so this
    removes duplication document dedup can't see without the
    gram-explosion cost of substring dedup.

    Empty paragraphs (from runs of blank lines) are ordinary keys,
    like empty lines in dedup_lines; null text reads as one empty
    paragraph. Documents whose every paragraph loses are DROPPED from
    the output (their text would be empty) — diff row counts for
    funnel accounting.

    Returns ``key_cols + [out_col (reassembled), n_paras,
    n_paras_kept]``.

    Scale shape: ONE posexplode -> one digest-keyed first-occurrence
    aggregate (:func:`_first_per_key`, map-side combinable, so a hot
    boilerplate paragraph ships one partial row per map partition) ->
    one doc-keyed reassembly agg. Two shuffles, one Generate, no
    driver collect; the reassembly HOF runs once per surviving doc
    row, not in the exploded hot path."""
    out_col = out_col or text_col
    split_arr = F.split(F.coalesce(F.col(text_col), F.lit("")), sep, -1)
    # n_paras rides the explode as a per-doc constant so no second
    # scan/join of df is needed for the accounting column
    staged = df.select(*key_cols, split_arr.alias("_parr")).select(
        *key_cols,
        F.size("_parr").alias("n_paras"),
        F.posexplode("_parr").alias("_pidx", "_para"),
    )
    paras = staged.withColumn("_pd", F.md5(F.col("_para")))
    kept = _first_per_key(paras, "_pd", [*key_cols, "_pidx"])
    return kept.groupBy(*key_cols).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pidx", "_para"))),
                lambda s: s.getField("_para"),
            ),
            sep,
        ).alias(out_col),
        F.max("n_paras").alias("n_paras"),
        F.count(F.lit(1)).alias("n_paras_kept"),
    ).select(*key_cols, out_col, "n_paras", "n_paras_kept")


def dedup_docs_exact(
    df: DataFrame, key_cols: list[str], text_col: str = "text"
) -> DataFrame:
    """Exact document dedup on :func:`text_digest_expr` (null text ≡
    empty doc); the doc with the smallest key survives
    (:func:`_first_per_key`: one scan, one aggregate, no join)."""
    keyed = df.withColumn("_digest", text_digest_expr(text_col))
    return _first_per_key(keyed, "_digest", key_cols).drop("_digest")


# --------------------------------------------------------------- shingles


def word_shingles_expr(text: Column, k: int = 3) -> Column:
    """Distinct word k-shingles of normalized text (array<string>).

    Grams are extracted with ONE ``\\b``-anchored lookahead regex pass
    over the whitespace-collapsed text instead of a ``transform`` lambda
    over a word array: higher-order functions are interpreted, and as
    the generator input of an ``explode`` the per-gram lambda measured
    **37s vs 0.6s** for the same output at sf0.1/32 tasks (allocation
    storm + no codegen). ``\\b`` is safe because the normalized text is
    pure ``[a-z0-9 ]``. Short-text fallback (fewer than k words -> the
    whole normalized text as one shingle) matches the DuckDB oracle's
    ``len(__w) > 0`` branch, including the empty-string shingle for
    empty/whitespace-only docs. Normalization itself goes through
    vocab.norm_text_expr (extract-words-then-join) — the
    regexp_replace char-class chain it replaces measured ~90x slower
    on transcripts-scale input.
    """
    from .vocab import norm_text_expr

    norm = norm_text_expr(text)
    pat = r"\b(?=(" + " ".join([r"[a-z0-9]+"] * k) + r"))"
    grams = F.regexp_extract_all(norm, F.lit(pat), 1)
    n = F.size(F.split(norm, " "))
    return F.when(n >= k, F.array_distinct(grams)).otherwise(
        F.when(n > 0, F.array(norm))
    )


# ---------------------------------------------------------------- MinHash


def minhash_signatures(
    df: DataFrame,
    key_cols: list[str],
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """(key_cols..., mh_0..mh_{n-1}): per hash function i, the min of
    ``(a_i * h + b_i) mod P`` over the doc's shingle base hashes
    ``h = first-32-bits-of-md5(shingle)`` — ONE md5 per shingle, not
    one per (shingle, hash-function) (round 1 paid 16 md5s per shingle;
    the 2-universal multiply-mod family is the standard fix and stays
    bit-identical in DuckDB — constants in functions/hashing.py).

    Shape: explode shingles -> one md5 per shingle -> groupBy with 16
    min aggregates. Doing the mins as array expressions instead would
    inline the shingle construction once PER hash function (higher-
    order functions are interpreted, no codegen CSE) — measured 16x
    slower. The groupBy is map-side combinable, so the shuffle carries
    one row per doc.
    """
    from ..functions.hashing import MINHASH_PRIME, mix_params

    sh = _ensure_parallelism(df).select(
        *key_cols,
        F.explode(word_shingles_expr(F.col(text_col), shingle_k)).alias("_s"),
    )
    hashed = sh.withColumn(
        "_h", md5_hash32_expr(F.col("_s"))
    )
    aggs = []
    for i in range(num_hashes):
        a, b = mix_params(i)
        aggs.append(
            F.min(
                F.pmod(F.lit(a) * F.col("_h") + F.lit(b), F.lit(MINHASH_PRIME))
            ).alias(f"mh_{i}")
        )
    return hashed.groupBy(*key_cols).agg(*aggs)


def minhash_bands(
    df: DataFrame,
    key_cols: list[str],
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """(key_cols..., band_idx, band_key) — one row per (doc, band)."""
    sig = minhash_signatures(df, key_cols, text_col, num_hashes, shingle_k)
    if num_hashes % band_size:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a multiple of band_size "
            f"({band_size}); trailing hashes would be silently ignored"
        )
    n_bands = num_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        "|", *[F.col(f"mh_{b * band_size + j}") for j in range(band_size)]
                    )
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select(*key_cols, F.explode(bands).alias("band")).select(
        *key_cols, "band.band_idx", "band.band_key"
    )


def dedup_minhash_lsh(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Drop every doc that shares any LSH band with a lower-keyed doc.

    Returns the surviving rows of ``df``. Greedy lowest-key-wins (the
    standard large-scale near-dup policy; a full connected-components
    pass is the exhaustive variant — see graph note in SURVEY.md §7).
    """
    bands = minhash_bands(df, [key_col], text_col, num_hashes, band_size, shingle_k)
    # r8: "shares any band with a lower-keyed doc" == "key > min(key)
    # of some band bucket", so ONE min-window over the band table
    # replaces the band self-join. The join formulation evaluated the
    # whole shingle-explode + md5 + signature-agg pipeline TWICE (the
    # two join inputs canonicalize differently, no ReusedExchange —
    # 2 Generate chains in the r7 plan) and emitted O(|bucket|²)
    # candidate rows per bucket before the distinct; the window
    # evaluates the pipeline once, shuffles the band table once, and
    # emits each dup key at most n_bands times. Same greedy
    # lowest-key-wins survivors (A/B at sf0.1/32: 1.44s -> 1.35s —
    # modest here because the band pipeline is cheap at 50k docs, but
    # the duplicated evaluation it removes grows with the corpus;
    # plan: 2 band-pipeline evaluations + join -> 1 evaluation + 1
    # window; guide §2.4/§3).
    w = Window.partitionBy("band_idx", "band_key")
    dup_keys = (
        bands.withColumn("_min_k", F.min(key_col).over(w))
        .filter(F.col(key_col) > F.col("_min_k"))
        .select(key_col)
        .distinct()
    )
    return df.join(dup_keys, key_col, "left_anti")


def remove_boilerplate_lines(
    df: DataFrame,
    key_cols: list[str],
    text_col: str = "text",
    max_doc_count: int = 2,
    min_line_chars: int = 1,
) -> DataFrame:
    """Corpus-frequency boilerplate removal (the RefinedWeb/Dolma-style
    pass): a LINE that appears verbatim in more than ``max_doc_count``
    distinct documents is boilerplate (navigation menus, cookie
    banners, footers) and is stripped from every document; documents
    are reassembled from their surviving lines in original order, with
    ``n_lines_removed`` lineage. Documents whose every line is
    boilerplate are dropped. Lines shorter than ``min_line_chars``
    (default: empty lines) are never treated as boilerplate, so
    paragraph structure survives.

    Differs from :func:`dedup_lines` (the reference's v1 semantic):
    that keeps the FIRST occurrence of every duplicated line; this
    removes high-document-frequency lines from ALL documents — the
    right semantic when the repeated line is site chrome, not content.

    PROJECTION CONTRACT: the regroup returns ONLY (key_cols...,
    text_col, n_lines_removed) — other input columns do not survive
    the aggregation; join the result back on ``key_cols`` if you need
    them (cheap: both sides are keyed identically).

    Scale shape: ONE explode over (keys, line) — the exploded frame
    feeds two shuffling consumers (the DF aggregation and the
    anti-join/regroup), which under column pruning defeats exchange
    reuse and re-runs the split+posexplode per consumer (verified: 2
    Generate nodes + 2 source scans in the un-materialized plan), so
    it is materialized once via ``plans.materialize`` like
    jaccard_pairs/dedup_exact_substring. Then a distinct +
    map-side-combinable DF count per line, an anti-join of the line
    stream against the (small) boilerplate line set, and one
    conversation-style regroup. No all-pairs, no window."""
    from ..plans.materialize import materialize

    # coalesce: split(NULL) is NULL and posexplode(NULL) emits zero
    # rows, which would silently erase null-text documents (no output
    # row, no lineage) — null ≡ empty doc, same policy as the exact/
    # incremental/simhash dedup family
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = materialize(
        df.select(
            *key_cols,
            F.size(F.split(text, "\n")).alias("_n0"),
            F.posexplode(F.split(text, "\n")).alias("_idx", "_line"),
        )
    )
    dfreq = (
        lines.select(*key_cols, "_line")
        .distinct()
        .groupBy("_line")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    boiler = dfreq.filter(
        (F.col("_d") > max_doc_count)
        & (F.length("_line") >= F.lit(min_line_chars))
    ).select("_line")
    kept = lines.join(boiler, "_line", "left_anti")
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct(F.col("_idx"), F.col("_line")))),
        lambda x: x["_line"],
    )
    return (
        kept.groupBy(*key_cols)
        .agg(
            F.array_join(ordered, "\n").alias(text_col),
            (F.max("_n0") - F.count(F.lit(1))).cast("bigint").alias(
                "n_lines_removed"
            ),
        )
    )


# ------------------------------------------------------- incremental dedup


def text_digest_expr(text_col: str = "text") -> Column:
    """The exact-dedup text digest, ``md5(coalesce(text, ''))``: null
    text digests like the empty doc, because ``md5(NULL)`` is NULL and a
    NULL digest matches nothing in an equi-join (the row could never be
    dropped as seen, nor grouped with its duplicates)."""
    return F.md5(F.coalesce(F.col(text_col), F.lit("")))


def corpus_digests(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Fingerprint table of a corpus for incremental exact dedup: one
    row per distinct :func:`text_digest_expr`. 100 TB of text compresses
    to ~32 bytes per distinct doc — the only state the next batch needs."""
    return df.select(text_digest_expr(text_col).alias("digest")).distinct()


def dedup_incremental(
    new_df: DataFrame,
    seen_digests: DataFrame,
    key_cols: list[str],
    text_col: str = "text",
    digest_col: str = "digest",
) -> DataFrame:
    """Exact incremental dedup of a NEW batch against an EXISTING corpus.

    Drops every new row whose text digest already appears in
    ``seen_digests`` (built once with :func:`corpus_digests` and
    appended to after each batch), then applies the within-batch
    first-occurrence policy of :func:`dedup_docs_exact` (smallest
    ``key_cols`` struct wins). Returns surviving rows with the input
    schema.

    Scale: at 100 TB you never re-dedup the whole corpus — the history
    participates ONLY through its digest table, so deduping a 1 TB
    batch against a 100 TB corpus reads ~tens of GB of digests and one
    scan of the batch. The anti-join shuffles on the digest (md5 →
    uniform, skew-free); AQE broadcasts the digest side automatically
    when it is small.
    """
    keyed = new_df.withColumn("_digest", text_digest_expr(text_col))
    seen = seen_digests.select(F.col(digest_col).alias("_digest")).distinct()
    fresh = keyed.join(seen, "_digest", "left_anti")
    return _first_per_key(fresh, "_digest", key_cols).drop("_digest")


# ------------------------------------------------ bloom-compressed state

# bump when the position formula changes: persisted bloom state built
# under another scheme would test the wrong bits and silently re-admit
# (or worse, pseudo-randomly drop) everything
BLOOM_STATE_VERSION = "digest-bloom-2univ-v1"
# 63 usable bits per state word: 1::bigint << 63 overflows signed-64
# (DuckDB raises; Spark ANSI raises), so 62 is the largest safe shift
BLOOM_WORD_BITS = 63


def _bloom_pos_expr(digest_col: Column, i: int, n_bits: int) -> Column:
    """Probe stream i's bit position for an md5-hex digest column —
    exact signed-64 arithmetic (see functions/hashing.bloom_params):
    two 32-bit digest halves through a 61-bit Mersenne 2-universal mix,
    nested pmod keeps every intermediate < 2^63, final pmod folds to
    the bit space (bias ~n_bits/2^61, immaterial)."""
    from ..functions.hashing import BLOOM_PRIME, bloom_params

    a1, a2, b = bloom_params(i)
    hi = F.conv(F.substring(digest_col, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(digest_col, 9, 8), 16, 10).cast("long")
    mixed = F.pmod(
        F.lit(a1) * hi
        + F.pmod(F.lit(a2) * lo + F.lit(b), F.lit(BLOOM_PRIME)),
        F.lit(BLOOM_PRIME),
    )
    return F.pmod(mixed, F.lit(int(n_bits)))


def digest_bloom_state(
    df: DataFrame,
    text_col: str = "text",
    n_bits: int | None = None,
    bits_per_item: int = 16,
    n_hashes: int = 4,
) -> DataFrame:
    """Bloom-compressed seen-state for exact incremental dedup: a
    SPARSE word table ``(word_idx, word)`` (63 bits per word) plus
    geometry/version columns, built with plain DataFrame ops — the
    probe positions are exact bigint expressions and the OR-reduce is
    a map-side-combinable ``bit_or`` groupBy. Nothing is collected to
    the driver and no giant bit array is broadcast: the state IS a
    DataFrame, so it shards, persists as parquet, and joins like any
    other table (contrast decontaminate.build_bloom, the
    driver-built broadcast variant sized for benchmark suites).

    Why at 100 TB: the digest table itself becomes the bottleneck of
    :func:`dedup_incremental` — 10^10 seen docs × ~40 B of digest+key
    is ~400 GB of state to store and anti-join per batch. At
    ``bits_per_item=16`` the bloom words total ~m/4 bytes fully
    saturated (~8x smaller), the membership join carries 8-byte word
    keys, and the price is a deterministic ~0.24% false-drop rate
    (k=4, m/n=16: (1-e^(-kn/m))^k) — the standard recall-safe trade
    for dedup, where a false positive only over-deletes.

    ``n_bits`` must be chosen for the EXPECTED TOTAL corpus and held
    FIXED across batches (a bloom cannot be resized; geometry rides
    the state and is validated on every use). Left ``None`` it is
    derived from ``df.count()`` — fine for a one-shot state, wrong for
    a growing corpus."""
    if n_hashes < 1:
        raise ValueError("n_hashes must be >= 1")
    if n_bits is None:
        n_bits = max(64, bits_per_item * max(df.count(), 1))
    n_bits = int(n_bits)
    if n_bits < 64:
        raise ValueError(f"n_bits must be >= 64, got {n_bits}")
    digs = df.select(text_digest_expr(text_col).alias("_digest")).distinct()
    pos = digs.select(
        F.explode(
            F.array(
                *[
                    _bloom_pos_expr(F.col("_digest"), i, n_bits)
                    for i in range(n_hashes)
                ]
            )
        ).alias("_pos")
    )
    return (
        pos.select(
            F.expr(f"_pos div {BLOOM_WORD_BITS}").alias("word_idx"),
            F.expr(
                f"shiftleft(1L, cast(pmod(_pos, {BLOOM_WORD_BITS}) as int))"
            ).alias("_bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("_bit").alias("word"))
        .withColumn("n_bits", F.lit(n_bits).cast("long"))
        .withColumn("n_hashes", F.lit(n_hashes))
        .withColumn("bloom_version", F.lit(BLOOM_STATE_VERSION))
    )


def merge_bloom_state(*states: DataFrame) -> DataFrame:
    """OR-merge bloom states from successive batches (geometry must
    match — validated cheaply on use by dedup_incremental_bloom, and
    structurally here: mismatched geometry rows would survive the
    groupBy as distinct keys and trip that validation)."""
    if not states:
        raise ValueError("need at least one state")
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    return out.groupBy(
        "word_idx", "n_bits", "n_hashes", "bloom_version"
    ).agg(F.bit_or("word").alias("word")).select(
        "word_idx", "word", "n_bits", "n_hashes", "bloom_version"
    )


def dedup_incremental_bloom(
    new_df: DataFrame,
    bloom_state: DataFrame,
    key_cols: list[str],
    text_col: str = "text",
) -> DataFrame:
    """Exact incremental dedup of a NEW batch against a
    :func:`digest_bloom_state` — the compact-state scale path of
    :func:`dedup_incremental`. CONSERVATIVE: every historically-seen
    text is dropped (blooms have no false negatives), plus a
    deterministic ~0.24%-at-defaults false-drop fraction of genuinely
    fresh rows; within-batch survivors follow the same
    first-occurrence rule as the digest-table path (shared winner
    helper), so the two paths compose.

    Plan shape: batch digests (distinct) -> k probe rows each ->
    equi-join on word_idx against the state words (AQE broadcasts the
    state side when it fits) -> a digest is SEEN iff all k probes land
    on set bits -> anti-join back, winner rule. No driver collect, no
    broadcast bit array, no Python."""
    # Full-state validation aggregate, NOT a limit() sample: a sample
    # can read only the first file of a parquet dir, so a state whose
    # later partitions carry a different geometry/version — or
    # duplicate word_idx rows from a plain union of two batch states
    # without merge_bloom_state — would pass and then silently corrupt
    # the k-probe count (a duplicated word row makes one set-bit probe
    # count twice toward _k == n_hashes). The aggregate is map-side
    # combinable, returns <= #distinct-geometries rows (1 for a valid
    # state), and the state is compact (n_bits/64 rows) and scanned
    # for the probe join anyway.
    meta = (
        bloom_state.groupBy("bloom_version", "n_bits", "n_hashes")
        .agg(
            F.count(F.lit(1)).alias("_rows"),
            F.count_distinct("word_idx").alias("_words"),
        )
        .collect()
    )
    if not meta:
        # empty state: nothing was ever seen — degenerate to the
        # within-batch rule (geometry is unknowable and irrelevant)
        return dedup_docs_exact(new_df, key_cols, text_col)
    stale = [r.bloom_version for r in meta if r.bloom_version != BLOOM_STATE_VERSION]
    if stale:
        raise ValueError(
            f"bloom state was produced under scheme {stale[0]!r} "
            f"(expected {BLOOM_STATE_VERSION!r}); rebuild it with "
            "digest_bloom_state (a silent scheme mismatch would test "
            "the wrong bits)"
        )
    geoms = {(int(r.n_bits), int(r.n_hashes)) for r in meta}
    if len(geoms) != 1:
        raise ValueError(
            f"bloom state mixes geometries {sorted(geoms)} — states "
            "with different n_bits/n_hashes cannot be merged or used"
        )
    dup = [r for r in meta if int(r._rows) != int(r._words)]
    if dup:
        raise ValueError(
            f"bloom state has {int(dup[0]._rows) - int(dup[0]._words)} "
            "duplicate word_idx rows — batch states were unioned "
            "without merge_bloom_state (duplicate words would make "
            "one set-bit probe count twice toward the k-hit test)"
        )
    (n_bits, n_hashes), = geoms
    keyed = new_df.withColumn("_digest", text_digest_expr(text_col))
    digs = keyed.select("_digest").distinct()
    probes = digs.select(
        "_digest",
        F.explode(
            F.array(
                *[
                    _bloom_pos_expr(F.col("_digest"), i, n_bits)
                    for i in range(n_hashes)
                ]
            )
        ).alias("_pos"),
    ).select(
        "_digest",
        F.expr(f"_pos div {BLOOM_WORD_BITS}").alias("word_idx"),
        F.expr(
            f"shiftleft(1L, cast(pmod(_pos, {BLOOM_WORD_BITS}) as int))"
        ).alias("_bit"),
    )
    hits = (
        probes.join(bloom_state.select("word_idx", "word"), "word_idx")
        .filter(F.col("word").bitwiseAND(F.col("_bit")) != 0)
        .groupBy("_digest")
        .agg(F.count(F.lit(1)).alias("_k"))
        .filter(F.col("_k") == n_hashes)
        .select("_digest")
    )
    fresh = keyed.join(hits, "_digest", "left_anti")
    return _first_per_key(fresh, "_digest", key_cols).drop("_digest")


# bump when the digest FORMULA changes: persisted --seen-digests state
# computed under another scheme matches nothing, so without a marker an
# upgrade silently re-admits every historically-seen conversation
DIGEST_VERSION = "conv-md5blocks-v2"


def conversation_digests(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_cols: tuple[str, ...] = ("turn_idx",),
    text_col: str = "text",
) -> DataFrame:
    """(conv_col, digest): md5 of the conversation's turn texts in
    stable ``order_cols`` order — the per-conversation fingerprint for
    :func:`dedup_conversations_incremental`. One groupBy; the
    sort/hash lambda runs over the small per-conversation array AFTER
    the shuffle, not per input row.

    The digest is md5 over the CONCATENATION OF PER-TURN md5s
    (fixed-width blocks), not over joined raw text: a separator join
    would make the two-turn conversation ["hello", "world"] collide
    with the one-turn ["hello\\nworld"] — multi-line turn text is the
    norm in agent transcripts. Null turn text digests as md5('')
    (kept positional; a skipped element would make ["a", null]
    collide with ["a"])."""
    per_turn = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(
                    *[F.col(c) for c in order_cols],
                    F.coalesce(F.col(text_col), F.lit("")).alias("_t"),
                )
            )
        ),
        lambda x: F.md5(x["_t"]),
    )
    return df.groupBy(conv_col).agg(
        F.md5(F.array_join(per_turn, "")).alias("digest")
    ).withColumn("digest_version", F.lit(DIGEST_VERSION))


def dedup_conversations_incremental(
    df: DataFrame,
    seen_digests: DataFrame,
    conv_col: str = "conv_id",
    order_cols: tuple[str, ...] = ("turn_idx",),
    text_col: str = "text",
    digest_col: str = "digest",
) -> DataFrame:
    """Incremental exact dedup at CONVERSATION granularity: drop whole
    conversations whose full-text digest already appears in
    ``seen_digests`` (from :func:`conversation_digests` over previous
    batches), keeping the smallest ``conv_col`` per digest within the
    batch. Turn rows are never dropped individually — conversations
    stay intact, the north-rule invariant.

    Scale: state is one ~32-byte digest per historical conversation;
    the digest agg shuffles one row per turn (unavoidable — the digest
    must see every turn), everything after operates on one row per
    conversation.

    ``seen_digests`` must carry the ``digest_version`` column emitted
    by :func:`conversation_digests`: state produced under another
    scheme (or legacy state from before versioning — including NULL
    versions from a merged-schema read) would match nothing in the
    anti-join and silently re-admit every seen conversation. The check
    samples a bounded number of rows (one tiny limit-pushdown job at
    plan-construction time — state tables are homogeneous per write,
    so a wrong scheme shows up in any sample; a full any-stale scan
    over tens of GB of state per batch is not worth the tail case).
    """
    if "digest_version" not in seen_digests.columns:
        raise ValueError(
            "seen_digests has no digest_version column — legacy or "
            "hand-built state cannot be validated against "
            f"{DIGEST_VERSION!r}; regenerate it with "
            "conversation_digests (a silent scheme mismatch would "
            "re-admit every historically-seen conversation)"
        )
    sample = seen_digests.select("digest_version").limit(100).collect()
    stale = [
        r.digest_version for r in sample if r.digest_version != DIGEST_VERSION
    ]
    if stale:
        raise ValueError(
            f"seen_digests was produced under digest scheme "
            f"{stale[0]!r} (expected {DIGEST_VERSION!r}); regenerate "
            "the state with conversation_digests before resuming "
            "incremental dedup"
        )
    digs = conversation_digests(df, conv_col, order_cols, text_col)
    fresh = digs.join(
        seen_digests.select(F.col(digest_col).alias("digest")).distinct(),
        "digest",
        "left_anti",
    )
    return _keep_digest_winners(df, fresh, conv_col)


def _keep_digest_winners(df: DataFrame, digs: DataFrame, conv_col: str) -> DataFrame:
    """The conversation-dedup winner rule (:func:`_first_per_key`:
    smallest ``conv_col`` per digest), semi-joined back to intact turn
    rows — shared by the full-corpus and incremental paths so their
    survivors compose."""
    winner = _first_per_key(digs.select("digest", conv_col), "digest", [conv_col])
    return df.join(winner.select(conv_col), conv_col, "left_semi")


def dedup_conversations(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_cols: tuple[str, ...] = ("turn_idx",),
    text_col: str = "text",
) -> DataFrame:
    """Full-corpus exact dedup at CONVERSATION granularity: keep the
    smallest ``conv_col`` per full-text digest, conversations intact
    (the no-history twin of :func:`dedup_conversations_incremental` —
    same digest scheme and winner rule, so its survivors compose with
    incremental state from :func:`conversation_digests`)."""
    digs = conversation_digests(df, conv_col, order_cols, text_col)
    return _keep_digest_winners(df, digs, conv_col)


def dedup_incremental_minhash(
    new_df: DataFrame,
    seen_bands: DataFrame,
    key_col: str,
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Near-dup incremental dedup: drop new docs sharing any MinHash-LSH
    band with the historical band table ``seen_bands`` (``(band_idx,
    band_key)`` rows produced by :func:`minhash_bands` over previous
    batches), then greedy lowest-key-wins LSH dedup within the
    remaining batch (the :func:`dedup_minhash_lsh` policy).
    Compositional: append the survivors' bands to ``seen_bands`` and
    the next batch sees this one as history.

    NOTE: like ``jaccard_pairs``, calling this EAGERLY RUNS a Spark job
    — the batch band frame feeds three shuffling consumers (history
    semi-join + both self-join sides) and column pruning breaks
    exchange-reuse canonicalization, so it is materialized once via
    ``plans.materialize``.

    Scale: history state is ~(num_hashes/band_size) rows × ~50 bytes
    per doc; both joins are banded equi-joins (no all-pairs), with the
    same band-collision skew bound as ``dedup_minhash_lsh``.
    """
    from ..plans.materialize import materialize

    bands = materialize(
        minhash_bands(new_df, [key_col], text_col, num_hashes, band_size, shingle_k)
    )
    # hist_keys feeds TWO consumers (the surv_bands anti-join and the
    # final anti-join); without materializing it, each consumer
    # re-evaluates the whole seen_bands side — measured 3 evaluations
    # of the history band pipeline in the un-materialized plan (6
    # Generate nodes). It is a tiny key list, so pinning it is free.
    hist_keys = materialize(
        bands.join(
            seen_bands.select("band_idx", "band_key"),
            ["band_idx", "band_key"],
            "left_semi",
        )
        .select(key_col)
        .distinct()
    )
    surv_bands = bands.join(hist_keys, key_col, "left_anti")
    # (r8 note: the dedup_minhash_lsh min-window rewrite was A/B'd
    # here too and measured slightly SLOWER — the band frame is
    # already materialized, so the self-join never re-ran the
    # pipeline, and the window's sort costs more than the hash join
    # at this shape; the join form stays.)
    a, b = surv_bands.alias("a"), surv_bands.alias("b")
    batch_keys = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{key_col}") > F.col(f"b.{key_col}")),
        )
        .select(F.col(f"a.{key_col}").alias(key_col))
        .distinct()
    )
    # two sequential anti-joins instead of union+distinct: saves the
    # union's extra shuffle, and both right sides are key-only frames
    return new_df.join(hist_keys, key_col, "left_anti").join(
        batch_keys, key_col, "left_anti"
    )


# ---------------------------------------------------------------- SimHash


def simhash_table(
    df: DataFrame, key_cols: list[str], text_col: str = "text", bits: int = 32
) -> DataFrame:
    """(key_cols..., simhash): per-bit majority vote of 32-bit md5 word
    hashes over distinct word tokens.

    Explode words -> one hash row per word -> 32 conditional sums in one
    map-side-combinable aggregation (same CSE rationale as
    minhash_signatures: per-bit array aggregates would re-inline the
    word hashing 32x, since higher-order functions are interpreted with
    no codegen CSE).
    """
    if not 1 <= bits <= 32:
        # the base word hash is the md5's first 8 hex chars = 32 bits;
        # bits > 32 would vote on always-zero positions and SILENTLY
        # emit dead signature bits (and >= 63 would overflow the signed
        # int64 packing). Widen the substring before widening bits.
        raise ValueError(f"bits must be in [1, 32], got {bits}")
    # coalesce: a null-text doc must still emit a signature row (a NULL
    # word list -> explode drops the doc -> the inner join in
    # dedup_simhash would erase it). Null hashes like the empty doc:
    # the no-words case keeps one '' token, preserving the old
    # split('') = [''] behavior. Word extraction replaces the
    # regexp_replace char-class chain (~90x slower at transcripts
    # scale — see vocab.norm_text_expr).
    extracted = F.regexp_extract_all(
        F.lower(F.coalesce(F.col(text_col), F.lit(""))),
        F.lit("[a-z0-9]+"),
        0,
    )
    words = F.when(
        F.size(extracted) == 0, F.array(F.lit(""))
    ).otherwise(F.array_distinct(extracted))
    exploded = _ensure_parallelism(df).select(*key_cols, F.explode(words).alias("_w"))
    hashed = exploded.withColumn(
        "_h", md5_hash32_expr(F.col("_w"))
    )
    votes = hashed.groupBy(*key_cols).agg(
        *[
            F.sum(
                F.when(F.col("_h").bitwiseAND(F.lit(1 << b)) > 0, 1).otherwise(-1)
            ).alias(f"v_{b}")
            for b in range(bits)
        ]
    )
    out = F.lit(0).cast("bigint")
    for b in range(bits):
        out = out + F.when(F.col(f"v_{b}") > 0, F.lit(1 << b)).otherwise(0).cast("bigint")
    return votes.select(*key_cols, out.alias("simhash"))


def dedup_simhash(df: DataFrame, key_col: str, text_col: str = "text") -> DataFrame:
    """Exact-simhash-collision dedup (hamming distance 0), lowest key wins.
    Banded hamming<=k matching is the scale-out extension (join on
    16-bit chunks); collision-only is the conservative default."""
    keyed = df.join(simhash_table(df, [key_col], text_col), key_col)
    return _first_per_key(keyed, "simhash", [key_col]).drop("simhash")


# ------------------------------------------------- long-gram substring dedup


def dedup_exact_substring(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    gram_k: int = 50,
) -> DataFrame:
    """Drop documents sharing ANY exact word ``gram_k``-gram with a
    lower-keyed document — the distributable approximation of
    suffix-array substring dedup (Lee et al., "Deduplicating Training
    Data Makes Language Models Better": a shared 50-token span marks a
    near-verbatim copy regardless of the rest of the document).

    Greedy lowest-key-wins, consistent with the other dedup families.
    Plan: explode grams (md5 to 64-bit so the shuffle carries 8-byte
    keys, not 300-byte strings) -> map-side-combinable min(key) per
    gram -> re-join to flag non-winners -> anti-join. Long grams are
    near-unique outside true copies, so per-gram groups are tiny and
    skew-free; documents shorter than ``gram_k`` words fall back to
    their whole normalized text (exact-duplicate semantics), matching
    the shared shingle definition and its DuckDB oracle.

    :func:`excise_exact_substring` is the Lee et al. span-REMOVAL
    variant: only the duplicated token span is cut out and every row
    survives with rewritten text — at 100 TB the difference between
    the two policies is real training tokens.

    NOTE: calling this function EAGERLY RUNS a Spark job (the gram
    frame is materialized via ``plans.materialize`` so its two
    consumers don't recompute the explode+md5) — plan construction is
    not lazy here.
    """
    from ..plans.materialize import materialize

    # materialize the (key, gram-hash) frame once: its two consumers
    # (winner agg, flag join) shuffle on the same key but column-pruned
    # canonicalization breaks exchange reuse — without this the shingle
    # explode + md5 ran twice (same defect class as jaccard_pairs,
    # plan-guarded below)
    grams = materialize(
        _ensure_parallelism(df)
        .select(
            F.col(key_col).alias("_k"),
            F.explode(word_shingles_expr(F.col(text_col), gram_k)).alias("_s"),
        )
        .select(
            "_k",
            F.conv(F.substring(F.md5(F.col("_s")), 1, 15), 16, 10)
            .cast("bigint")
            .alias("_g"),
        )
    )
    winners = grams.groupBy("_g").agg(F.min("_k").alias("_w"))
    dirty = (
        grams.join(winners, "_g")
        .filter(F.col("_k") != F.col("_w"))
        .select(F.col("_k").alias(key_col))
        .distinct()
    )
    return df.join(dirty, key_col, "left_anti")


def excise_exact_substring(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    gram_k: int = 50,
) -> DataFrame:
    """Span-excision substring dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better" — the paper's actual
    semantics: REMOVE the duplicated span, keep the rest): every word
    ``gram_k``-gram whose globally-lowest-keyed occurrence lives in a
    LOWER-keyed document is excised from this document, overlapping and
    adjacent duplicate spans merged into one cut. Returns ALL input
    rows; only documents that lost a span have ``text_col`` rewritten.

    Token model (documented, deterministic, oracle-mirrored):
    * tokens = whitespace split of the trimmed text; a gram is ``gram_k``
      consecutive tokens with NON-EMPTY normalization (lowercase, strip
      non-alphanumerics) — punctuation-only tokens don't break a gram,
      they ride along inside the span and are excised with it. This is
      the same gram universe as the drop mode's ``word_shingles_expr``.
    * excised documents are reconstructed as their surviving tokens
      joined by single spaces (token-level rewrite; original inter-token
      whitespace is not preserved IN REWRITTEN DOCS — untouched docs
      keep their exact original text).
    * documents with fewer than ``gram_k`` eligible tokens are never
      touched (no whole-text fallback here, unlike drop mode — there is
      no span to excise).
    * the lowest-keyed document holding a gram keeps all its text, even
      if the gram repeats within it (greedy lowest-key-wins, consistent
      with every dedup family in this module).

    Scale shape: posexplode to (key, pos, token) rows -> per-document
    window builds gram keys from ``gram_k-1`` leads (documents are
    natural window partitions — one shuffle on the doc key, linear
    scan within) -> map-side-combinable min(key) per 60-bit gram hash
    -> flagged spans merged into islands per doc (second windowed pass
    over FLAGGED rows only, so the covered-token explode is linear in
    excised tokens, not k x flagged grams) -> anti-join on covered
    positions -> per-doc ordered re-join of survivors. No all-pairs
    joins anywhere; per-gram groups are tiny (long grams are
    near-unique outside true copies).

    NOTE: like the drop mode, calling this EAGERLY RUNS Spark jobs
    (gram and island frames are materialized — multiple consumers).
    """
    from ..plans.materialize import materialize

    if gram_k < 2:
        raise ValueError(f"gram_k must be >= 2, got {gram_k}")
    # single-space-normalized text: split(" ") then aligns raw token
    # positions 1:1 with the per-token normalization below
    nws = F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")
    # r8 SHUFFLE-FREE gram stage (the winnow_fingerprints pattern,
    # guide §2.4): gram keys are a purely per-document computation, but
    # the previous posexplode + doc-keyed Window formulation paid a
    # full token exchange + sort + ``gram_k-1`` separate lead() frame
    # passes (the single most expensive stage of this operator:
    # 0.99s of the 3.3s total at sf0.1/32). Keeping the token arrays
    # in the row and building each gram with ``gram_k`` allocation-free
    # gets removes the exchange and the lead passes outright; only the
    # final (key, pos, hash, span-end) gram rows are exploded. Values
    # are identical: ``_words`` (non-empty normalized tokens, in
    # order) aligns 1:1 with ``_ps`` (their raw positions), so
    # gram j = words[j..j+k-1] joined by ' ' == the old
    # concat_ws(nt, lead(nt,1..k-1)) over the filtered token stream,
    # and span_end = ps[j+k-1] == lead(p, k-1).
    base = _ensure_parallelism(df).select(
        F.col(key_col).alias("_k"),
        F.transform(
            F.split(nws, " "),
            # per-token normalization; interpreted here (HOF), which
            # profiles fine at ~tokens-per-corpus regex calls — the
            # 10-20x char-class pitfall is about FUSED codegen stages
            lambda t: F.regexp_replace(F.lower(t), "[^a-z0-9]", ""),
        ).alias("_ntoks"),
    )
    ps = F.filter(
        F.transform("_ntoks", lambda x, i: F.when(x != "", i)),
        lambda v: v.isNotNull(),
    )
    words = F.filter("_ntoks", lambda x: x != "")
    staged = base.select("_k", ps.alias("_ps"), words.alias("_words"))
    m = F.size("_ps")
    starts = F.when(
        m >= gram_k, F.sequence(F.lit(0), m - gram_k)
    ).otherwise(F.array().cast("array<int>"))
    gram_txt = lambda j: F.concat_ws(  # noqa: E731
        " ", *[F.get("_words", j + i) for i in range(gram_k)]
    )
    entries = F.transform(
        starts,
        lambda j: F.struct(
            F.get("_ps", j).alias("_p"),
            F.conv(F.substring(F.md5(gram_txt(j)), 1, 15), 16, 10)
            .cast("bigint")
            .alias("_gh"),
            F.get("_ps", j + gram_k - 1).alias("_pe"),
        ),
    )
    grams = materialize(
        staged.select("_k", F.explode(entries).alias("_e")).select(
            "_k",
            F.col("_e._p").alias("_p"),
            F.col("_e._gh").alias("_gh"),
            F.col("_e._pe").alias("_pe"),
        )
    )
    w = Window.partitionBy("_k").orderBy("_p")
    winners = grams.groupBy("_gh").agg(F.min("_k").alias("_w"))
    flagged = (
        grams.join(winners, "_gh")
        .filter(F.col("_k") != F.col("_w"))
        .select("_k", "_p", "_pe")
    )
    # merge overlapping/adjacent spans into islands so the covered-token
    # explode is linear in excised tokens (a duplicated run would
    # otherwise emit gram_k rows per gram before dedup)
    prev_end = F.max("_pe").over(w.rowsBetween(Window.unboundedPreceding, -1))
    new_island = F.when(
        prev_end.isNull() | (F.col("_p") > prev_end + 1), 1
    ).otherwise(0)
    islands = materialize(
        flagged.withColumn(
            "_isl",
            F.sum(new_island).over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("_k", "_isl")
        .agg(F.min("_p").alias("_s"), F.max("_pe").alias("_e"))
    )
    covered = islands.select("_k", F.explode(F.sequence("_s", "_e")).alias("_p"))
    touched = islands.select("_k").distinct().withColumn("_exc", F.lit(True))
    # rebuild path: re-tokenize ONLY the touched documents (semi-join
    # BEFORE the explode — Spark cannot push the join below a
    # generator, and reusing `toks` here re-exploded the ENTIRE corpus
    # a second time; touched docs are typically a small fraction)
    touched_toks = (
        df.join(
            touched.select(F.col("_k").alias(key_col)), key_col, "left_semi"
        ).select(
            F.col(key_col).alias("_k"),
            F.posexplode(F.split(nws, " ")).alias("_p", "_t"),
        )
    )
    rebuilt = (
        touched_toks
        .join(covered, ["_k", "_p"], "left_anti")
        .groupBy("_k")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_p", "_t"))),
                    lambda x: x["_t"],
                ),
                " ",
            ).alias("_new_text")
        )
    )
    joined = (
        df.join(touched.withColumnRenamed("_k", key_col), key_col, "left")
        .join(rebuilt.withColumnRenamed("_k", key_col), key_col, "left")
    )
    return joined.withColumn(
        text_col,
        F.when(
            F.col("_exc").isNotNull(), F.coalesce("_new_text", F.lit(""))
        ).otherwise(F.col(text_col)),
    ).drop("_exc", "_new_text")


def dedup_within_docs(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    sep_regex: str = r"\n",
    joiner: str = "\n",
) -> DataFrame:
    """WITHIN-document repetition removal: split ``text_col`` on
    ``sep_regex``, keep only the FIRST occurrence of each segment
    inside its own document (later repeats removed), re-join with
    ``joiner``. The repetition FIXER complementing the Gopher
    repetition signals — with the default line separator it strips
    repeated lines (boilerplate, chat-loop echoes); with ``sep_regex=
    " "`` it strips exact repeated tokens.

    First-occurrence-wins matches the reference's global line-dedup
    policy (dedup.rs:27-47) scoped to one document, including its
    empty-segment behavior: consecutive separators yield empty
    segments, which dedup like any other key (SURVEY.md §2.2).

    Plan shape: staged narrow projections, no explode, no shuffle,
    streaming-compatible — O(L log L) per doc, NOT the naive O(L²)
    prefix-scan HOF (which stranded a task for ~1 minute on a single
    20k-line doc; this shape does the same doc in <1 s, measured 70x):

    1. sort ``struct(segment, index)`` — equal segments become
       adjacent with ascending original index;
    2. first occurrences = entries whose sorted predecessor holds a
       DIFFERENT segment (an O(1) ``get`` on the sorted array — the
       sorted array is produced in its OWN projection, so the lambda
       references a bound column, not a re-inlined ``array_sort``
       subtree; CollapseProject keeps the stage boundary because the
       alias is referenced twice and is non-cheap);
    3. re-sort the surviving original indices and gather the segments
       back in document order.

    Adds ``n_dup_segments_removed`` lineage.
    """
    segs = F.split(F.col(text_col), sep_regex)
    staged = df.withColumn("_segs", segs).withColumn(
        "_sorted",
        F.array_sort(
            F.transform("_segs", lambda x, i: F.struct(x.alias("s"), i.alias("i")))
        ),
    )
    keep_idx = F.array_sort(
        F.filter(
            F.transform(
                "_sorted",
                lambda x, i: F.when(
                    (i == F.lit(0)) | (F.get("_sorted", i - 1)["s"] != x["s"]),
                    x["i"],
                ),
            ),
            lambda v: v.isNotNull(),
        )
    )
    kept = F.transform("_keep", lambda j: F.element_at("_segs", j + 1))
    return (
        staged.withColumn("_keep", keep_idx)
        .withColumn("n_dup_segments_removed", F.size("_segs") - F.size("_keep"))
        .withColumn(text_col, F.array_join(kept, joiner))
        .drop("_segs", "_sorted", "_keep")
    )


# ------------------------------------------------------------ n-gram Jaccard


def jaccard_pairs(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Candidate pairs with n-gram Jaccard >= threshold — APPROXIMATE
    by default: the ``max_shingle_df`` cap (on unless ``None``) removes
    ultra-frequent shingles from both the pairing join AND the Jaccard
    denominator, so docs connected only through high-DF shingles are
    not paired and reported similarities use the capped shingle
    universe. Pass ``max_shingle_df=None`` for exact semantics.

    Pair generation joins docs sharing >= 1 shingle; ``max_shingle_df``
    drops ultra-frequent shingles before the join (at web scale the
    stopword-shingle blowup dominates — one shingle shared by d docs
    emits d² candidate rows; dropping high-DF shingles only removes
    pairs whose OTHER shingles still connect them in practice). The cap
    is ON by default — pass ``None`` for the exact uncapped semantics.
    Sizes (the Jaccard denominator) are computed AFTER the cap so both
    sides of the ratio see the same shingle universe (mirrored in the
    DuckDB oracle). Returns (key_a, key_b, jaccard) with key_a < key_b.

    NOTE: calling this function EAGERLY RUNS a Spark job (the shingle
    frame is materialized via ``plans.materialize`` so its three
    consumers don't recompute the explode) — plan construction is not
    lazy here. The same applies to ``dedup_jaccard`` and
    ``connected_components``, which build on it.
    """
    from ..plans.materialize import materialize

    # r8: no ``.distinct()`` — word_shingles_expr already emits
    # per-document-DISTINCT shingles (array_distinct / single-fallback),
    # and the key differs across documents, so (k, s) rows are globally
    # unique by construction; the old distinct was a full no-op
    # exchange + hash-agg of the 5M-row shingle table. The high-DF cap
    # likewise folds its groupBy + semi-join (two more shingle-table
    # shuffles) into ONE count-window on the same s-keyed exchange.
    # Same rows out (A/B exceptAll = 0; dedup_components bench 4.43s ->
    # 3.0s at sf0.1/32).
    sh = _ensure_parallelism(df).select(
        F.col(key_col).alias("k"),
        F.explode(word_shingles_expr(F.col(text_col), shingle_k)).alias("s"),
    )
    if max_shingle_df is not None:
        wdf = Window.partitionBy("s")
        sh = (
            sh.withColumn("_df", F.count(F.lit(1)).over(wdf))
            .filter(F.col("_df") <= max_shingle_df)
            .drop("_df")
        )
    # materialize the (k, s) frame once: its three consumers (sizes agg,
    # both self-join sides) shuffle on different keys, and column
    # pruning breaks exchange-reuse canonicalization — without this the
    # shingle explode + md5 ran twice (2 Generate nodes in the plan;
    # same defect class fixed for embedding signatures in e0d4ad2).
    # Plan-guarded by tests/test_plan_shapes.py.
    sh = materialize(sh)
    sizes = sh.groupBy("k").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.k") < F.col("b.k")))
        .groupBy(F.col("a.k").alias("key_a"), F.col("b.k").alias("key_b"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("k").alias("key_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("k").alias("key_b"), F.col("n").alias("nb"))
    return (
        common.join(sa, "key_a")
        .join(sb, "key_b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("na") + F.col("nb") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("key_a", "key_b", F.round("jaccard", 6).alias("jaccard"))
    )


def dedup_jaccard(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard dedup, lowest key wins. The small-scale
    helper: the DF cap defaults OFF here (the d² blowup it guards
    against needs web-scale shingle frequencies); pass ``max_shingle_df``
    explicitly to opt in to the approximate capped semantics."""
    pairs = jaccard_pairs(df, key_col, text_col, shingle_k, threshold, max_shingle_df)
    dup_keys = pairs.select(F.col("key_b").alias(key_col)).distinct()
    return df.join(dup_keys, key_col, "left_anti")


# ------------------------------------------------------- embedding near-dup


def dedup_embedding_cosine(
    df: DataFrame,
    key_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.995,
    n_buckets_probe: int | None = None,
) -> DataFrame:
    """Embedding near-dup: drop rows whose cosine similarity to a
    lower-keyed row exceeds ``threshold``.

    Brute-force O(n²) pair join — correct baseline; the LSH-bucketed
    variant in operators/similarity.py is the 100 TB path (bucket by
    random-hyperplane signs, join within buckets only).
    """
    dot = lambda x, y: F.aggregate(  # noqa: E731
        F.zip_with(x, y, lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm = lambda x: F.sqrt(dot(x, x))  # noqa: E731
    v = df.select(F.col(key_col).alias("k"), F.col(vec_col).alias("v"))
    a, b = v.alias("a"), v.alias("b")
    pairs = a.join(b, F.col("a.k") > F.col("b.k")).select(
        F.col("a.k").alias("key_a"),
        (
            dot(F.col("a.v"), F.col("b.v"))
            / (norm(F.col("a.v")) * norm(F.col("b.v")))
        ).alias("cos"),
    )
    dup = pairs.filter(F.col("cos") >= threshold).select(
        F.col("key_a").alias(key_col)
    ).distinct()
    return df.join(dup, key_col, "left_anti")


def dedup_embedding_lsh(
    df: DataFrame,
    key_col: str,
    dim: int,
    vec_col: str = "embedding",
    threshold: float = 0.995,
    n_planes: int = 384,
    band_size: int = 16,
    max_band_bucket: int | None = None,
) -> DataFrame:
    """Scale path for embedding near-dup: banded random-hyperplane LSH
    candidate generation + exact cosine verification, greedy
    lowest-key-wins — same policy as ``dedup_embedding_cosine`` but with
    bucketed equi-joins instead of the O(n²) all-pairs product.

    Band geometry (why 16-bit bands, not 4-bit + hamming probes): a
    plane agrees on a pair at angle θ with probability s = 1 - θ/π.
    Candidate volume is driven by UNRELATED pairs (s ≈ 0.5): a 16-bit
    band collides at s^16 ≈ 2^-16, so expected candidate fraction is
    ≤ n_bands · 2^-16 ≈ 4e-4 — vs the old 4-bit+hamming-1 scheme whose
    per-band collision was 5/16, i.e. 77% of ALL pairs became
    candidates (measured on the sf0.1 embeddings), brute force in
    disguise. Recall at the default 24 bands: a pair at cos 0.995
    (s = 0.968) hits a band with p = s^16 = 0.60, missing all 24 is
    (1-0.60)^24 ≈ 4e-10; at cos 0.98 (s = 0.936, band hit 0.35) the
    miss rate is (1-0.35)^24 ≈ 3e-5. Measured recall on planted dups
    is in BENCH/lsh_recall.md; survivor-set equality vs brute force is
    asserted at small n by tests/test_textstats_similarity.py.

    Plan shape (the 100 TB rationale):
    * band keys: ONE Arrow matmul per batch emits all n_bands keys
      (``band_signature_udf``), exploded to narrow (key, band_idx,
      band_key) rows — n_bands · ~20 bytes per vector of shuffle;
    * candidate join: band self-equi-join on (band_idx, band_key);
      both sides shuffle identically so the signature computation runs
      ONCE (ReusedExchange, plan-guarded) — no checkpoint needed,
      unlike the old probe-vs-exact join whose sides shuffled on
      different keys;
    * verification: vectors are joined back only for DISTINCT candidate
      pairs, so the wide rows move once per candidate, not per band;
    * no CartesianProduct / BroadcastNestedLoopJoin anywhere (asserted
      by a plan test);
    * skew: a corpus with many EXACT-duplicate vectors puts them all in
      the same bucket of every band (quadratic in that bucket) — run
      exact dedup (hash of the vector bytes) first, or set
      ``max_band_bucket`` to skip candidate generation inside buckets
      larger than the cap (recall loss confined to those buckets, same
      trade as ``max_shingle_df`` in jaccard_pairs).
    """
    from .similarity import band_signature_udf, cosine_expr, hyperplanes

    planes = hyperplanes(n_planes, dim)
    sig_udf = band_signature_udf(planes, band_size)
    bands = (
        _ensure_parallelism(df)
        .select(
            F.col(key_col).alias("k"),
            F.posexplode(sig_udf(F.col(vec_col))).alias("band_idx", "band_key"),
        )
    )
    if max_band_bucket is not None:
        small = (
            bands.groupBy("band_idx", "band_key")
            .count()
            .filter(F.col("count") <= max_band_bucket)
            .select("band_idx", "band_key")
        )
        bands = bands.join(small, ["band_idx", "band_key"])
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["band_idx", "band_key"])
        .filter(F.col("a.k") > F.col("b.k"))
        .select(F.col("a.k").alias("ka"), F.col("b.k").alias("kb"))
        .distinct()
    )
    v = df.select(F.col(key_col).alias("k"), F.col(vec_col).alias("v"))
    va = v.select(F.col("k").alias("ka"), F.col("v").alias("va"))
    vb = v.select(F.col("k").alias("kb"), F.col("v").alias("vb"))
    dup = (
        cand.join(va, "ka")
        .join(vb, "kb")
        .filter(cosine_expr(F.col("va"), F.col("vb")) >= threshold)
        .select(F.col("ka").alias(key_col))
        .distinct()
    )
    return df.join(dup, key_col, "left_anti")


def dedup_simhash_hamming(
    df: DataFrame,
    key_col: str,
    text_col: str = "text",
    bits: int = 32,
    chunks: int = 4,
    keep_signature: bool = False,
) -> DataFrame:
    """Near-dup dedup at hamming distance < ``chunks``: split the
    simhash into ``chunks`` bit-bands; by pigeonhole, two hashes within
    hamming distance chunks-1 collide on at least one band. Band
    equi-join generates candidates; exact hamming (bit_count of xor)
    verifies; lowest key wins.

    ``keep_signature=True`` returns the survivors WITH their
    ``simhash`` column (one driver query then value-checks both the
    signature table and the survivor set); the signature frame is
    materialized so the aggregation feeding two consumers (bands +
    output join) runs once.
    """
    if bits % chunks:
        raise ValueError(
            f"bits ({bits}) must be a multiple of chunks ({chunks}); "
            "trailing bits would be silently excluded from every band "
            "and the pigeonhole guarantee would not hold"
        )
    width = bits // chunks
    sh = simhash_table(df, [key_col], text_col, bits)
    if keep_signature:
        from ..plans.materialize import materialize

        sh = materialize(sh)
    bands = sh.select(
        key_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("band_idx"),
                        F.shiftright(F.col("simhash"), c * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("band_key"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("b"),
    ).select(key_col, "simhash", "b.band_idx", "b.band_key")
    a, b = bands.alias("a"), bands.alias("b")
    cand = a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col(f"a.{key_col}") > F.col(f"b.{key_col}")),
    ).select(
        F.col(f"a.{key_col}").alias("ka"),
        F.bit_count(
            F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
        ).alias("hamming"),
    )
    dup = cand.filter(F.col("hamming") < chunks).select(
        F.col("ka").alias(key_col)
    ).distinct()
    surv = df.join(dup, key_col, "left_anti")
    if keep_signature:
        return surv.join(sh.select(key_col, "simhash"), key_col, "left")
    return surv


# ------------------------------------------------------------- SemDeDup


def semdedup(
    df: DataFrame,
    key_col: str,
    vec_col: str = "embedding",
    dim: int = 64,
    n_clusters: int = 16,
    threshold: float = 0.95,
    sample_size: int = 10_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public method):
    SEMANTIC dedup via k-means clustering of the embedding space
    followed by within-cluster cosine near-dup removal. Two docs are
    semantic dups when they land in the same k-means cell AND their
    embeddings' cosine >= ``threshold``; the lowest key survives.

    Differs from :func:`dedup_embedding_lsh` (random hyperplane bands —
    data-oblivious): the cells FOLLOW the corpus density, so near-dups
    concentrate in the same cell at much coarser granularity, and the
    cluster structure is reusable (topic stats, stratified sampling).
    Approximation is the paper's own: a pair straddling a cell
    boundary is missed (raise ``n_clusters`` resolution or lower it to
    1 for exact brute force — cluster count, not threshold, controls
    recall).

    Scale shape: centroids fit on a bounded deterministic sample
    (driver-side, ``similarity.ivf_centroids``), ONE Arrow-batched
    assignment matmul per batch, then a within-cell equi-join — no
    cartesian, no all-pairs. THE KNOB THAT MATTERS AT 100 TB:
    ``n_clusters`` must scale with the corpus so cells stay bounded
    (the join does |cell|² work per cell — the paper uses 50k clusters
    for LAION; target ~10k-100k rows per cell, i.e. n_clusters ≈
    corpus_rows / 10^4..10^5). The assigned frame is materialized: it
    feeds both sides of the self-join, which would otherwise re-run
    the assignment UDF twice.
    """
    from ..plans.materialize import materialize
    from .similarity import cosine_pairs_udf, ivf_assign_udf, ivf_centroids

    cent = ivf_centroids(df, dim, vec_col, key_col, n_clusters, sample_size)
    assigned = materialize(
        df.select(
            F.col(key_col).alias("_k"),
            F.col(vec_col).alias("_v"),
            F.element_at(ivf_assign_udf(cent, 1)(F.col(vec_col)), 1).alias(
                "_cell"
            ),
        )
    )
    a = assigned.select(
        F.col("_cell"), F.col("_k").alias("_ka"), F.col("_v").alias("_va")
    )
    b = assigned.select(
        F.col("_cell"), F.col("_k").alias("_kb"), F.col("_v").alias("_vb")
    )
    # r8: pair verification through the Arrow-vectorized cosine —
    # within-cell candidate volume is |cell|² (124k pairs on the sf0.1
    # embeddings), and the interpreted zip_with/aggregate fold was 1.9s
    # of this operator's 2.2s; the batch UDF computes bit-identical
    # values (same sequential fold order) in ~0.1s.
    dup = (
        a.join(b, "_cell")
        .filter(F.col("_ka") > F.col("_kb"))
        .filter(cosine_pairs_udf()(F.col("_va"), F.col("_vb")) >= threshold)
        .select(F.col("_ka").alias(key_col))
        .distinct()
    )
    return df.join(dup, key_col, "left_anti")
