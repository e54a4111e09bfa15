"""Dedup family tests, incl. the reference's v1 dedup fixture."""

from __future__ import annotations

from pyspark.sql import functions as F

from oscar_tools_spark.operators.dedup import (
    dedup_docs_exact,
    dedup_jaccard,
    dedup_lines,
    dedup_minhash_lsh,
    dedup_simhash,
    jaccard_pairs,
    word_shingles_expr,
)


def test_reference_dedup_fixture(spark):
    """Port of /root/reference/src/impls/oscar_txt/dedup.rs:132-180:
    first occurrence wins globally across documents; the blank separator
    line is itself deduplicated (single blank survives); order preserved."""
    # two documents as a line stream, blank line separating them
    doc1 = ["foo", "bar", "baz", "foo"]
    doc2 = ["zoom", "foo", "baz", "quux"]
    stream = doc1 + [""] + doc2 + [""]
    df = spark.createDataFrame(
        [(0, i, line) for i, line in enumerate(stream)],
        "doc int, idx int, text string",
    ).groupBy("doc").agg(F.concat_ws("\n", F.collect_list("text")).alias("text"))
    out = dedup_lines(df, ["doc"]).collect()
    assert [r.line for r in out] == ["foo", "bar", "baz", "", "zoom", "quux"]


def test_dedup_lines_order_and_cross_doc(spark):
    df = spark.createDataFrame(
        [
            ("c1", 0, "alpha\nbeta"),
            ("c1", 1, "beta\ngamma"),
            ("c2", 0, "alpha\ndelta"),
        ],
        "conv_id string, turn_idx int, text string",
    )
    out = dedup_lines(
        df.select("conv_id", "turn_idx", F.col("text")), ["conv_id", "turn_idx"]
    ).collect()
    got = [(r.conv_id, r.turn_idx, r.line) for r in out]
    assert got == [
        ("c1", 0, "alpha"),
        ("c1", 0, "beta"),
        ("c1", 1, "gamma"),
        ("c2", 0, "delta"),
    ]


def test_dedup_docs_exact(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "different")],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in dedup_docs_exact(df, ["doc_id"]).collect())
    assert kept == [1, 3]


def test_dedup_docs_exact_null_text(spark):
    """Null-text rows DEDUPLICATE (null ≡ '' digest) instead of being
    silently erased: md5(NULL)=NULL and NULL=NULL never equi-joins, so
    without the coalesce even the group winner vanished (regression:
    [(1,'a'),(2,NULL),(3,NULL),(4,'a')] used to return just [1])."""
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None), (4, "a"), (5, "")],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in dedup_docs_exact(df, ["doc_id"]).collect())
    assert kept == [1, 2]  # 2 wins the null≡'' group (3, 5 are dups of it)


def test_dedup_exact_null_key_loses_to_real_key(spark):
    """A null key must not win its digest group: non-null keys beat null
    ones (SQL min), so the null-key row can no longer erase the whole
    group (regression: [(None,'a'),(2,'a'),(3,'a'),(4,'b')] returned
    just [4]). A group whose keys are all null keeps exactly one row,
    and that row is a real one, not an all-null row."""
    from oscar_tools_spark.operators.dedup import corpus_digests, dedup_incremental

    df = spark.createDataFrame(
        [(None, "a"), (2, "a"), (3, "a"), (4, "b"), (None, "c"), (None, "c")],
        "doc_id long, text string",
    )
    history = corpus_digests(
        spark.createDataFrame([(100, "seen")], "doc_id long, text string")
    )
    for out in (
        dedup_docs_exact(df, ["doc_id"]),
        dedup_incremental(df, history, ["doc_id"]),
    ):
        got = sorted((r.text, r.doc_id) for r in out.collect())
        assert got == [("a", 2), ("b", 4), ("c", None)], got


def test_dedup_incremental_null_text(spark):
    """Null-text batch rows survive/drop like empty docs: history ''
    digest drops new NULLs; with no '' in history the smallest-key NULL
    row survives the within-batch winner pass."""
    from oscar_tools_spark.operators.dedup import corpus_digests, dedup_incremental

    batch = spark.createDataFrame(
        [(1, "x"), (2, None), (3, None)], "doc_id long, text string"
    )
    no_empty_history = corpus_digests(
        spark.createDataFrame([(100, "seen")], "doc_id long, text string")
    )
    kept = sorted(
        r.doc_id
        for r in dedup_incremental(batch, no_empty_history, ["doc_id"]).collect()
    )
    assert kept == [1, 2]
    empty_history = corpus_digests(
        spark.createDataFrame([(100, "")], "doc_id long, text string")
    )
    kept = sorted(
        r.doc_id
        for r in dedup_incremental(batch, empty_history, ["doc_id"]).collect()
    )
    assert kept == [1]  # history '' digest now matches the null rows


def test_shingles(spark):
    df = spark.createDataFrame([("The quick brown fox jumps",)], "text string")
    row = df.select(word_shingles_expr(F.col("text")).alias("s")).first()
    assert sorted(row.s) == sorted(
        ["the quick brown", "quick brown fox", "brown fox jumps"]
    )
    short = spark.createDataFrame([("two words",)], "text string")
    assert short.select(word_shingles_expr(F.col("text")).alias("s")).first().s == [
        "two words"
    ]


NEAR_DUP_ROWS = [
    (1, "the quick brown fox jumps over the lazy dog near the old river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the old river bank tonight"),
    (3, "completely unrelated text about database query optimization and join ordering"),
    (4, "another fully distinct paragraph describing mountain hiking trails in autumn"),
]


def test_minhash_lsh_drops_near_dup(spark):
    df = spark.createDataFrame(NEAR_DUP_ROWS, "doc_id long, text string")
    kept = sorted(r.doc_id for r in dedup_minhash_lsh(df, "doc_id").collect())
    assert 2 not in kept  # near-dup of 1 with a lower key
    assert {1, 3, 4} <= set(kept)


def test_dedup_incremental_exact(spark):
    """New batch deduped against a history digest table: exact matches
    of history are dropped, within-batch dups keep the smallest key,
    genuinely new docs survive."""
    from oscar_tools_spark.operators.dedup import corpus_digests, dedup_incremental

    history = spark.createDataFrame(
        [(100, "seen before"), (101, "also seen")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (1, "seen before"),  # exact dup of history -> dropped
            (2, "brand new doc"),  # survives
            (3, "brand new doc"),  # within-batch dup of 2 -> dropped
            (4, "another new doc"),  # survives
        ],
        "doc_id long, text string",
    )
    seen = corpus_digests(history)
    kept = sorted(
        r.doc_id for r in dedup_incremental(batch, seen, ["doc_id"]).collect()
    )
    assert kept == [2, 4]
    # compositional: appending the survivors' digests makes a re-run of
    # the SAME batch against the grown history drop everything
    grown = seen.union(
        corpus_digests(batch.filter(F.col("doc_id").isin(2, 4)))
    )
    assert dedup_incremental(batch, grown, ["doc_id"]).count() == 0


def test_dedup_conversations_incremental(spark):
    """Whole-conversation incremental dedup: a conv whose ordered full
    text matches history is dropped in its entirety; surviving convs
    keep EVERY turn (intact); turn order — not row order — defines the
    digest; within-batch dup convs keep the smallest conv_id."""
    from oscar_tools_spark.operators.dedup import (
        conversation_digests,
        dedup_conversations_incremental,
    )

    history = spark.createDataFrame(
        [("h1", 0, "hello"), ("h1", 1, "world")],
        "conv_id string, turn_idx int, text string",
    )
    batch = spark.createDataFrame(
        [
            # dup of history, turns listed OUT of order -> still dropped
            ("a", 1, "world"),
            ("a", 0, "hello"),
            # new conversation -> survives with both turns
            ("b", 0, "hello"),
            ("b", 1, "there"),
            # within-batch dup of b -> dropped ("b" < "c")
            ("c", 0, "hello"),
            ("c", 1, "there"),
        ],
        "conv_id string, turn_idx int, text string",
    )
    seen = conversation_digests(history)
    out = dedup_conversations_incremental(batch, seen).collect()
    assert sorted((r.conv_id, r.turn_idx) for r in out) == [("b", 0), ("b", 1)]


def test_dedup_incremental_minhash(spark):
    """Near-dups of HISTORY are dropped even when they are the lowest
    key in the batch; near-dup pairs within the batch keep the lower
    key; unrelated docs survive."""
    from oscar_tools_spark.operators.dedup import (
        dedup_incremental_minhash,
        minhash_bands,
    )

    history = spark.createDataFrame(
        [(100, NEAR_DUP_ROWS[0][1])], "doc_id long, text string"
    )
    batch = spark.createDataFrame(NEAR_DUP_ROWS, "doc_id long, text string")
    seen = minhash_bands(history, ["doc_id"]).select("band_idx", "band_key")
    kept = sorted(
        r.doc_id for r in dedup_incremental_minhash(batch, seen, "doc_id").collect()
    )
    # 1 and 2 are near-dups of the history doc; 3 and 4 are unrelated
    assert kept == [3, 4]
    # empty history degrades to plain within-batch LSH dedup
    empty = seen.limit(0)
    kept2 = sorted(
        r.doc_id for r in dedup_incremental_minhash(batch, empty, "doc_id").collect()
    )
    assert kept2 == [1, 3, 4]


def test_jaccard_pairs_and_dedup(spark):
    df = spark.createDataFrame(NEAR_DUP_ROWS, "doc_id long, text string")
    pairs = jaccard_pairs(df, "doc_id", threshold=0.5).collect()
    assert [(p.key_a, p.key_b) for p in pairs] == [(1, 2)]
    assert 0.5 <= pairs[0].jaccard < 1.0
    kept = sorted(r.doc_id for r in dedup_jaccard(df, "doc_id", threshold=0.5).collect())
    assert kept == [1, 3, 4]


def test_simhash_exact_collision_dedup(spark):
    df = spark.createDataFrame(
        [(1, "identical words here"), (2, "identical words here"), (3, "something else")],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in dedup_simhash(df, "doc_id").collect())
    assert kept == [1, 3]


def test_remove_boilerplate_null_text_not_erased(spark):
    """Null-text docs survive boilerplate removal as empty docs (one
    exempt empty line) instead of vanishing with no lineage row —
    split(NULL) is NULL and posexplode(NULL) emits nothing."""
    from oscar_tools_spark.operators.dedup import remove_boilerplate_lines

    df = spark.createDataFrame(
        [(1, None), (2, "a\nb"), (3, "")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.text, r.n_lines_removed)
        for r in remove_boilerplate_lines(df, ["doc_id"]).collect()
    }
    assert got[1] == ("", 0)
    assert got[2] == ("a\nb", 0)
    assert got[3] == ("", 0)


def test_simhash_null_text_not_erased(spark):
    """Null-text docs get a signature row (null ≡ empty doc) instead of
    vanishing through the inner join: the smallest-key null/empty doc
    survives, later ones dedupe against it."""
    df = spark.createDataFrame(
        [(1, "real words"), (2, None), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in dedup_simhash(df, "doc_id").collect())
    assert kept == [1, 2]


def test_jaccard_shingle_df_cap_bounds_blowup(spark):
    """An ultra-common shingle shared by every doc must not generate
    O(n^2) candidate pairs once its document frequency exceeds the cap;
    docs still pair up via their OTHER (rare) shingles."""
    from oscar_tools_spark.operators.dedup import jaccard_pairs

    boiler = "all rights reserved by corp"  # one 3-shingle chain in every doc
    rows = [(i, f"{boiler} unique{i} words{i} here{i}") for i in range(20)]
    rows += [(100, f"{boiler} twin alpha beta"), (101, f"{boiler} twin alpha beta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = jaccard_pairs(df, "doc_id", threshold=0.3, max_shingle_df=5).collect()
    # the boilerplate shingles (df=22 > 5) are dropped: the only pair
    # left is the exact twin connected by its rare shingles
    assert [(r.key_a, r.key_b) for r in capped] == [(100, 101)]
    uncapped = jaccard_pairs(df, "doc_id", threshold=0.3, max_shingle_df=None).collect()
    assert len(uncapped) > 1  # boilerplate connects many docs without the cap


def test_decontaminate_drops_benchmark_overlap(spark):
    """A doc sharing one distinct 8-gram with the benchmark is dropped;
    clean docs and short benchmark rows (whole-text shingle fallback)
    behave per the shared shingle semantics."""
    from oscar_tools_spark.operators.decontaminate import (
        contamination_counts,
        decontaminate,
    )

    leak = "the quick brown fox jumps over the lazy dog tonight"
    bench = spark.createDataFrame(
        [(0, f"benchmark question: {leak} answer follows"), (1, "short row")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (10, f"training text that contains {leak} verbatim inside"),
            (11, "completely unrelated training document with many fresh words"),
            (12, "short row"),  # exact match of the short benchmark row
        ],
        "doc_id long, text string",
    )
    counts = {
        r.doc_id: r.hits
        for r in contamination_counts(corpus, bench, "doc_id").collect()
    }
    assert counts.get(10, 0) >= 1 and 11 not in counts
    kept = sorted(
        r.doc_id for r in decontaminate(corpus, bench, "doc_id").collect()
    )
    assert kept == [11]
    # min_hits above the overlap keeps everything
    kept_all = sorted(
        r.doc_id
        for r in decontaminate(corpus, bench, "doc_id", min_hits=100).collect()
    )
    assert kept_all == [10, 11, 12]
    # shuffle-join fallback (oversized benchmark suites) is result-equal
    kept_shuffle = sorted(
        r.doc_id
        for r in decontaminate(
            corpus, bench, "doc_id", broadcast_benchmark=False
        ).collect()
    )
    assert kept_shuffle == kept


def test_dup_ngram_frac_values(spark):
    """Exact fractions: repeats / total k-gram occurrences."""
    from oscar_tools_spark.functions.textstats import dup_ngram_frac_expr

    rows = [
        (0, "a b a b a b"),     # 3-grams: aba,bab,aba,bab -> 2 dup of 4
        (1, "one two three"),   # single 3-gram, no repeats
        (2, "tiny"),            # < k words -> 0.0
        (3, "x x x x x"),       # 3-grams all identical: 2 dup of 3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r.f
        for r in df.select(
            "doc_id", dup_ngram_frac_expr(F.col("text"), 3).alias("f")
        ).collect()
    }
    assert out[0] == 0.5
    assert out[1] == 0.0
    assert out[2] == 0.0
    assert abs(out[3] - 2 / 3) < 1e-12


def test_dedup_exact_substring_semantics(spark):
    """A shared k-gram span anywhere in two docs drops the higher key;
    short docs fall back to whole-text exact-dup semantics."""
    from oscar_tools_spark.operators.dedup import dedup_exact_substring

    span = " ".join(f"w{i}" for i in range(10))  # a 10-word span
    rows = [
        (1, f"prefix one {span} suffix alpha"),
        (2, f"totally different framing here {span} and more trailing words"),
        (3, "no overlap with anything else in this tiny corpus at all ok"),
        (4, "short doc"),
        (5, "short doc"),  # whole-text fallback: exact dup of 4
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(
        r.doc_id for r in dedup_exact_substring(df, "doc_id", gram_k=10).collect()
    )
    assert kept == [1, 3, 4]
    # gram_k larger than every doc -> whole-text fallback only
    kept_all = sorted(
        r.doc_id for r in dedup_exact_substring(df, "doc_id", gram_k=100).collect()
    )
    assert kept_all == [1, 2, 3, 4]


def test_excise_exact_substring_golden(spark):
    """Hand-computed excision fixtures (Lee et al. span-removal):
    shared k-grams are cut out of higher-keyed docs, overlapping and
    adjacent spans merge into one cut, punctuation-only tokens inside a
    span ride along, the winner doc and untouched docs keep their
    EXACT original text."""
    from oscar_tools_spark.operators.dedup import excise_exact_substring

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "a quick brown fox leaps high"),
        (3, "The QUICK,  brown fox!! runs"),  # norm-matches, double space
        (4, "quick - brown fox extra"),  # punct token inside the span
        (5, "quick brown fox"),  # fully covered -> empty text
        (6, "nothing shared here at all"),
        (7, "tiny doc"),  # fewer than k tokens -> untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.text
        for r in excise_exact_substring(df, "doc_id", gram_k=3).collect()
    }
    want = {
        1: "the quick brown fox jumps over the lazy dog",  # winner, intact
        # doc2 grams: "a quick brown", "quick brown fox"(p1-3, shared
        # with doc1), "brown fox leaps", "fox leaps high" -> cut 1..3
        2: "a leaps high",
        # doc3: "the quick brown"(p0-2) AND "quick brown fox"(p1-3)
        # both shared -> overlapping spans merge -> cut 0..3
        3: "runs",
        # doc4 tokens [quick, -, brown, fox, extra]; eligible grams skip
        # the punct token: "quick brown fox" spans raw 0..3 -> cut 0..3
        # (the "-" is excised with the span)
        4: "extra",
        5: "",
        6: "nothing shared here at all",
        7: "tiny doc",
    }
    assert got == want
    # row count preserved, no rows dropped
    assert len(got) == len(rows)


def test_excise_merges_adjacent_spans(spark):
    """Two DISJOINT shared grams separated by a gap keep the gap token;
    adjacent (back-to-back) shared spans merge without swallowing
    neighbors."""
    from oscar_tools_spark.operators.dedup import excise_exact_substring

    rows = [
        (1, "aa bb cc"),
        (2, "dd ee ff"),
        # two shared grams with one private token between -> two cuts,
        # "gap" survives; trailing private tokens survive
        (3, "aa bb cc gap dd ee ff tail one two"),
        # back-to-back shared spans (no gap) -> one merged cut
        (4, "aa bb cc dd ee ff solo extra pad"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.text
        for r in excise_exact_substring(df, "doc_id", gram_k=3).collect()
    }
    assert got[3] == "gap tail one two"
    assert got[4] == "solo extra pad"
    assert got[1] == "aa bb cc" and got[2] == "dd ee ff"


def test_bloom_probe_emits_no_overflow_warnings():
    """The splitmix64 mixer wraps uint64 on purpose; it must do so
    without numpy RuntimeWarning spam (observed per-batch in oracle
    runs before the errstate guard)."""
    import warnings

    import numpy as np

    from oscar_tools_spark.operators.decontaminate import (
        _probe_positions,
        build_bloom,
    )

    h = np.array([2**63 + 5, 2**64 - 1, 0, 12345], dtype=np.uint64)
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        for i in range(4):
            _probe_positions(h, 1 << 20, i)
        build_bloom(h.tolist(), 1 << 16)


def test_decontaminate_bloom_superset_and_fpr(spark):
    """Bloom decontamination must drop EVERY doc the exact variant
    drops (no false negatives), with a small, bounded false-positive
    over-drop on clean docs."""
    import numpy as np

    from oscar_tools_spark.operators.decontaminate import (
        build_bloom,
        bloom_contains_udf,
        decontaminate,
        decontaminate_bloom,
    )

    bench_span = " ".join(f"eval{i}" for i in range(8))
    rows = [(0, f"leading text {bench_span} trailing text")]  # contaminated
    rows += [
        (i, " ".join(f"tok{i}_{j}" for j in range(12))) for i in range(1, 401)
    ]  # clean
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(bench_span,)], "text string")

    exact_kept = {r.doc_id for r in decontaminate(df, bench, "doc_id").collect()}
    bloom_kept = {
        r.doc_id for r in decontaminate_bloom(df, bench, "doc_id").collect()
    }
    assert 0 not in exact_kept and 0 not in bloom_kept
    # bloom drops a superset: kept(bloom) subset of kept(exact)
    assert bloom_kept <= exact_kept
    # over-drop (FPR casualties) stays tiny at 16 bits/item
    assert len(exact_kept) - len(bloom_kept) <= 4

    # direct FPR measurement on the filter itself: 20k random probes
    member = np.arange(1, 5001, dtype=np.uint64) * np.uint64(2654435761)
    bits = build_bloom(member, 16 * len(member))
    probes = (np.arange(20_000, dtype=np.uint64) + np.uint64(7)) * np.uint64(
        0x9E3779B1
    )
    probe_df = spark.createDataFrame(
        [(int(np.int64(p)),) for p in probes], "h long"
    )
    from pyspark.sql import functions as F2

    got = probe_df.select(
        "h", bloom_contains_udf(bits, 16 * len(member))(F2.col("h")).alias("m")
    ).collect()
    member_set = {int(np.int64(m)) for m in member}
    fp = sum(1 for r in got if r.m and r.h not in member_set)
    n_clean = sum(1 for r in got if r.h not in member_set)
    assert fp / n_clean < 0.01, (fp, n_clean)  # ~0.24% expected at k=4
    # and every true member answers yes
    mem_df = spark.createDataFrame([(int(np.int64(m)),) for m in member], "h long")
    hits = mem_df.select(bloom_contains_udf(bits, 16 * len(member))(F2.col("h")).alias("m")).collect()
    assert all(r.m for r in hits)


def test_dedup_within_docs_lines_and_words(spark):
    from oscar_tools_spark.operators.dedup import dedup_within_docs

    rows = [
        (1, "alpha\nbeta\nalpha\ngamma\nbeta"),
        (2, "one\n\ntwo\n\nthree"),  # blank segments dedup like keys
        (3, "solo"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.text, r.n_dup_segments_removed)
           for r in dedup_within_docs(df, "doc_id").collect()}
    assert got[1] == ("alpha\nbeta\ngamma", 2)
    assert got[2] == ("one\n\ntwo\nthree", 1)  # second blank removed
    assert got[3] == ("solo", 0)
    # word mode
    wdf = spark.createDataFrame([(1, "a b a c b a")], "doc_id long, text string")
    w = dedup_within_docs(wdf, "doc_id", sep_regex=" ", joiner=" ").collect()[0]
    assert (w.text, w.n_dup_segments_removed) == ("a b c", 3)
    # shuffle-free plan
    plan = dedup_within_docs(df, "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # the sorted array must stay a bound COLUMN inside the keep lambda
    # (CollapseProject would re-inline the array_sort subtree per
    # element -> O(L^2 log L)); a second array_sort textually nested
    # inside transform(...) would betray the collapse
    assert "_sorted" in plan


def test_dedup_within_docs_pathological_doc_bounded(spark):
    """A 10^4-line doc with heavy repeats completes in bounded time:
    the sort-based keep test is O(L log L) per doc, not the O(L^2)
    prefix scan (which took ~1 min on a 20k-line doc)."""
    import time

    from oscar_tools_spark.operators.dedup import dedup_within_docs

    big = "\n".join(f"line {(i * 2654435761) % 3000}" for i in range(10_000))
    df = spark.createDataFrame([(1, big)], "doc_id long, text string")
    t0 = time.time()
    row = dedup_within_docs(df, "doc_id").collect()[0]
    assert time.time() - t0 < 30  # generous CI bound; measured <1 s
    assert row.n_dup_segments_removed == 10_000 - 3000
    # survivors are exactly the distinct lines, first occurrences, in order
    seen, firsts = set(), []
    for ln in big.split("\n"):
        if ln not in seen:
            seen.add(ln)
            firsts.append(ln)
    assert row.text == "\n".join(firsts)


def test_contamination_report_transpose(spark):
    """Per-item audit: counts distinct leaking docs and distinct leaked
    shingles per benchmark row; clean items are absent."""
    from oscar_tools_spark.operators.decontaminate import contamination_report

    bench = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unique benchmark question nothing shares this"),
        ],
        "bench_id long, text string",
    )
    corp = spark.createDataFrame(
        [
            (10, "intro text then the quick brown fox jumps over the lazy dog end"),
            (11, "the quick brown fox jumps over the lazy dog verbatim copy"),
            (12, "unrelated corpus document about completely different things"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.bench_id: (r.n_docs, r.n_shingles_leaked)
        for r in contamination_report(
            corp, bench, "bench_id", "doc_id", shingle_k=3
        ).collect()
    }
    assert set(got) == {1}  # item 2 is clean -> absent
    n_docs, n_leaked = got[1]
    assert n_docs == 2
    assert n_leaked >= 5  # the shared 9-word span yields many 3-grams


def test_remove_boilerplate_lines(spark):
    """High-DF lines vanish from every doc; unique lines survive in
    order; empty lines are exempt (structure preserved); all-boiler
    docs are dropped; n_lines_removed counts correctly."""
    from oscar_tools_spark.operators.dedup import remove_boilerplate_lines

    footer = "cookie banner accept all"
    rows = [
        (1, f"unique alpha\n{footer}\n\nunique beta"),
        (2, f"{footer}\nunique gamma"),
        (3, f"unique delta\n{footer}"),
        (4, footer),  # entirely boilerplate -> dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.text, r.n_lines_removed)
        for r in remove_boilerplate_lines(df, ["doc_id"], max_doc_count=2).collect()
    }
    assert got[1] == ("unique alpha\n\nunique beta", 1)  # empty line kept
    assert got[2] == ("unique gamma", 1)
    assert got[3] == ("unique delta", 1)
    assert 4 not in got
    # threshold respected: footer in <= max_doc_count docs is NOT boiler
    few = spark.createDataFrame(rows[:2], "doc_id long, text string")
    got2 = {
        r.doc_id: r.text
        for r in remove_boilerplate_lines(few, ["doc_id"], max_doc_count=2).collect()
    }
    assert footer in got2[1] and footer in got2[2]


def test_conversation_digest_turn_structure_injective(spark):
    """["hello", "world"] must NOT collide with ["hello\\nworld"] —
    the digest hashes fixed-width per-turn md5 blocks, not a
    separator join."""
    from oscar_tools_spark.operators.dedup import conversation_digests

    df = spark.createDataFrame(
        [("two", 0, "hello"), ("two", 1, "world"), ("one", 0, "hello\nworld")],
        "conv_id string, turn_idx int, text string",
    )
    d = {r.conv_id: r.digest for r in conversation_digests(df).collect()}
    assert d["one"] != d["two"]


def test_digest_version_guard(spark):
    """Scheme-mismatched or unversioned digest state must RAISE — a
    silent mismatch would re-admit every historically-seen
    conversation (digests from another scheme match nothing)."""
    import pytest as _pytest

    from oscar_tools_spark.operators.dedup import (
        dedup_conversations_incremental,
    )

    batch = spark.createDataFrame(
        [("a", 0, "x")], "conv_id string, turn_idx int, text string"
    )
    legacy = spark.createDataFrame(
        [("h", "0123")], "conv_id string, digest string"
    )
    with _pytest.raises(ValueError, match="digest_version"):
        dedup_conversations_incremental(batch, legacy)
    stale = legacy.withColumn(
        "digest_version", F.lit("conv-oldscheme-v1")
    )
    with _pytest.raises(ValueError, match="conv-oldscheme-v1"):
        dedup_conversations_incremental(batch, stale)


def test_dedup_conversations_full_corpus(spark):
    """Whole-conversation exact dedup: duplicate conversations collapse
    to the smallest conv_id, turn-structure distinctions survive
    (["a","b"] != ["a\\nb"]), and conversations stay intact."""
    from oscar_tools_spark.operators.dedup import (
        dedup_conversations,
        dedup_conversations_incremental,
    )

    rows = [
        (1, 0, "a"), (1, 1, "b"),
        (2, 0, "a"), (2, 1, "b"),      # dup of conv 1
        (3, 0, "a\nb"),                # NOT a dup (different structure)
        (4, 0, None), (4, 1, "x"),
        (5, 0, None), (5, 1, "x"),     # dup of conv 4 (null == null text)
    ]
    df = spark.createDataFrame(rows, "conv_id bigint, turn_idx int, text string")
    out = dedup_conversations(df)
    got = sorted({r.conv_id for r in out.collect()})
    assert got == [1, 3, 4]
    assert out.filter("conv_id = 1").count() == 2  # intact
    # composes with the incremental path: empty-history incremental
    # dedup gives the same survivors
    from oscar_tools_spark.operators.dedup import conversation_digests

    empty_state = conversation_digests(df.limit(0))
    inc = dedup_conversations_incremental(df, empty_state)
    assert sorted({r.conv_id for r in inc.collect()}) == got


def test_bloom_state_superset_and_fpr(spark):
    """dedup_incremental_bloom drops EVERY row the digest-table path
    drops (blooms have no false negatives), its survivors are a subset
    of the exact survivors, and the false-drop fraction stays within
    the analytic envelope at 16 bits/item."""
    from oscar_tools_spark.operators.dedup import (
        corpus_digests,
        dedup_incremental,
        dedup_incremental_bloom,
        digest_bloom_state,
    )

    rows = [(i, f"text body {i % 300}") for i in range(900)]  # heavy dups
    df = spark.createDataFrame(rows, "doc_id long, text string")
    seen_docs = df.filter(F.col("doc_id") % 4 == 0)
    batch = df.filter(F.col("doc_id") % 4 != 0)

    exact = {
        r.doc_id
        for r in dedup_incremental(
            batch, corpus_digests(seen_docs), ["doc_id"]
        ).collect()
    }
    state = digest_bloom_state(seen_docs)
    bloom = {
        r.doc_id
        for r in dedup_incremental_bloom(batch, state, ["doc_id"]).collect()
    }
    assert bloom <= exact  # conservative: never re-admits a seen text
    # every digest the history saw is gone (no false negatives):
    # exact-survivor texts absent from bloom survivors are the false
    # drops, and they must be rare
    assert len(exact) - len(bloom) <= max(3, len(exact) // 50)


def test_bloom_state_merge_and_determinism(spark):
    """OR-merging per-batch states equals the single-shot build over
    the union (same n_bits), and builds are bit-identical across
    runs."""
    from oscar_tools_spark.operators.dedup import (
        digest_bloom_state,
        merge_bloom_state,
    )

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(200)], "doc_id long, text string"
    )
    a, b = df.filter("doc_id < 120"), df.filter("doc_id >= 120")
    n_bits = 4096
    whole = digest_bloom_state(df, n_bits=n_bits)
    merged = merge_bloom_state(
        digest_bloom_state(a, n_bits=n_bits),
        digest_bloom_state(b, n_bits=n_bits),
    )
    as_set = lambda s: {  # noqa: E731
        (r.word_idx, r.word) for r in s.select("word_idx", "word").collect()
    }
    assert as_set(whole) == as_set(merged)
    assert as_set(whole) == as_set(digest_bloom_state(df, n_bits=n_bits))


def test_bloom_state_validation_and_empty(spark):
    """Version and geometry guards fail fast; an empty state degrades
    to the pure within-batch first-occurrence rule."""
    import pytest

    from oscar_tools_spark.operators.dedup import (
        dedup_incremental_bloom,
        digest_bloom_state,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "doc_id long, text string"
    )
    state = digest_bloom_state(df.filter("doc_id = 3"), n_bits=512)

    stale = state.withColumn("bloom_version", F.lit("digest-bloom-v0"))
    with pytest.raises(ValueError, match="scheme"):
        dedup_incremental_bloom(df, stale, ["doc_id"])

    mixed = state.unionByName(state.withColumn("n_bits", F.lit(1024).cast("long")))
    with pytest.raises(ValueError, match="geometries"):
        dedup_incremental_bloom(df, mixed, ["doc_id"])

    # a plain union of two same-geometry states (skipping
    # merge_bloom_state) leaves duplicate word_idx rows that would make
    # one set-bit probe count twice toward the k-hit test — rejected,
    # and the full-state aggregate sees it even when a limit()-style
    # sample of the first partitions would look homogeneous
    unioned = state.unionByName(state)
    with pytest.raises(ValueError, match="merge_bloom_state"):
        dedup_incremental_bloom(df, unioned, ["doc_id"])

    empty = state.filter("word_idx < 0")
    kept = {
        r.doc_id for r in dedup_incremental_bloom(df, empty, ["doc_id"]).collect()
    }
    assert kept == {1, 3}  # within-batch rule only: smallest key per text

    # with the real state, the seen text "b" is gone
    kept2 = {
        r.doc_id for r in dedup_incremental_bloom(df, state, ["doc_id"]).collect()
    }
    assert kept2 == {1}


def test_dedup_paragraphs_excise_and_accounting(spark):
    """Paragraph dedup: global first occurrence in (key, position)
    order survives; later copies (cross-doc AND within-doc) are
    excised; empty paragraphs are ordinary keys; null text reads as
    one empty paragraph; fully-excised docs drop out; reassembly
    preserves original order."""
    from oscar_tools_spark.operators.dedup import dedup_paragraphs

    rows = [
        (0, "alpha\n\nshared\n\n"),  # all three first occurrences
        (1, "beta\n\nshared"),  # loses 'shared'
        (2, "shared\n\ngamma\n\n"),  # loses 'shared' and ''
        (3, "shared"),  # every paragraph loses -> dropped
        (4, None),  # null -> one '' paragraph, lost to doc 0
        (5, "delta\n\ndelta"),  # within-doc dup excised
        (6, "omega\n\nalpha\n\nzeta"),  # middle paragraph excised
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.text, r.n_paras, r.n_paras_kept)
        for r in dedup_paragraphs(df, ["doc_id"]).collect()
    }
    assert got == {
        0: ("alpha\n\nshared\n\n", 3, 3),
        1: ("beta", 2, 1),
        2: ("gamma", 3, 1),
        5: ("delta", 2, 1),
        6: ("omega\n\nzeta", 3, 2),
    }
    # stable under repartitioning (the winner rule is order-free)
    got2 = {
        r.doc_id: (r.text, r.n_paras, r.n_paras_kept)
        for r in dedup_paragraphs(df.repartition(7), ["doc_id"]).collect()
    }
    assert got2 == got


def test_decontaminate_semantic(spark):
    """Broadcast-matmul semantic decontamination: rows within the
    cosine threshold of ANY eval vector drop; scores kept on demand;
    an oversized eval side raises instead of silently broadcasting."""
    import pytest as _pytest

    from oscar_tools_spark.operators.decontaminate import decontaminate_semantic

    def v(*xs):
        return [float(x) for x in xs]

    corpus = spark.createDataFrame(
        [
            (1, v(1, 0, 0, 0)),      # exact eval clone -> drop
            (2, v(0.99, 0.14, 0, 0)),  # ~0.990 cos to eval[0] -> drop
            (3, v(0, 1, 0, 0)),      # orthogonal -> keep
            (4, v(0.5, 0.5, -0.5, 0.5)),  # max cos 0.5 (to eval[0]) -> keep
            (5, v(0, 0, 0, 0)),      # zero vector: norm-guarded, keep
        ],
        "vec_id bigint, embedding array<float>",
    )
    ev = spark.createDataFrame(
        [(v(2, 0, 0, 0),), (v(0, 1, 1, 0),)], "embedding array<float>"
    )
    kept = sorted(
        r.vec_id
        for r in decontaminate_semantic(corpus, ev, threshold=0.95).collect()
    )
    assert kept == [3, 4, 5]

    scored = decontaminate_semantic(corpus, ev, threshold=0.95, keep_scores=True)
    got = {r.vec_id: r.max_eval_cos for r in scored.collect()}
    assert set(got) == {3, 4, 5}
    assert abs(got[4] - 0.5) < 1e-5 and got[5] == 0.0

    # empty eval side: everything survives
    empty = ev.filter("false")
    assert decontaminate_semantic(corpus, empty).count() == 5

    with _pytest.raises(ValueError):
        decontaminate_semantic(corpus, ev, max_eval=1)
