"""Text stats and similarity search tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from oscar_tools_spark.functions.textstats import (
    bpe_token_count,
    fingerprint_expr,
    quality_score_expr,
    ws_token_count,
)
from oscar_tools_spark.operators.lang_codes import update_lang_codes
from oscar_tools_spark.operators.similarity import (
    bucket_embeddings,
    topk_cosine,
    topk_cosine_lsh,
)


def test_token_counts(spark):
    df = spark.createDataFrame([("Hello, world! 123",)], "text string")
    row = df.select(
        ws_token_count(F.col("text")).alias("ws"),
        bpe_token_count(F.col("text")).alias("bpe"),
    ).first()
    assert row.ws == 3
    assert row.bpe == 5  # hello , world ! 123


def test_quality_score_ranks_prose_over_noise(spark):
    prose = (
        "This is a well formed paragraph of english text that contains the usual "
        "stopwords and flows in a natural way for the reader to enjoy with it."
    )
    noise = "#### 123 $$$ @@@@ ~~ zz 99 ## !!!! %%%% ^^^^ &&&& **** (((( ))))"
    df = spark.createDataFrame([(1, prose), (2, noise)], "id int, text string")
    rows = {r.id: r.q for r in df.select("id", quality_score_expr(F.col("text")).alias("q")).collect()}
    assert rows[1] > rows[2]
    assert 0 <= rows[2] <= 100 and 0 <= rows[1] <= 100


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello,   World!"), (2, "hello world"), (3, "different text")],
        "id int, text string",
    )
    rows = {r.id: r.fp for r in df.select("id", fingerprint_expr(F.col("text")).alias("fp")).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


def test_update_lang_codes(spark):
    df = spark.createDataFrame(
        [("als", 1), ("sh", 2), ("en", 3), ("eml", 4)], "lang string, n int"
    )
    fixed = {r.n: r.lang for r in update_lang_codes(df).collect()}
    assert fixed == {1: "gsw", 2: "sr", 3: "en", 4: "egl"}
    dry = sorted(r.n for r in update_lang_codes(df, dry=True).collect())
    assert dry == [1, 2, 4]


def test_topk_cosine_on_testdata(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 0).first().embedding
    out = topk_cosine(emb, list(q), k=5).collect()
    assert len(out) == 5
    assert out[0].vec_id == 0 and abs(out[0].cosine - 1.0) < 1e-6
    sims = [r.cosine for r in out]
    assert sims == sorted(sims, reverse=True)


def test_lsh_topk_agrees_reasonably_with_exact(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    q = list(emb.filter(F.col("vec_id") == 0).first().embedding)
    exact = [r.vec_id for r in topk_cosine(emb, q, k=5).collect()]
    approx = [r.vec_id for r in topk_cosine_lsh(emb, q, k=5).collect()]
    assert exact[0] == approx[0] == 0  # the query's own row always found
    assert len(set(exact) & set(approx)) >= 2  # decent recall at tiny scale
    b = bucket_embeddings(emb, dim=64, n_planes=6)
    n_buckets = b.select("bucket").distinct().count()
    assert n_buckets > 4  # planes actually split the space
    b2 = bucket_embeddings(emb, dim=64, n_planes=6, use_matmul=False)
    # matmul signature == expression signature (same planes, same signs)
    diff = (
        b.select("vec_id", "bucket")
        .join(b2.select("vec_id", F.col("bucket").alias("b2")), "vec_id")
        .filter(F.col("bucket") != F.col("b2"))
        .count()
    )
    assert diff == 0
    emb.unpersist()


def test_dedup_embedding_cosine_drops_near_identical(spark):
    from oscar_tools_spark.operators.dedup import dedup_embedding_cosine

    base = [1.0, 0.5, -0.3, 0.8]
    near = [1.0001, 0.5001, -0.3001, 0.8001]  # cosine ~ 1.0
    far = [-1.0, 0.4, 0.9, -0.2]
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "vec_id long, embedding array<float>"
    )
    kept = sorted(
        r.vec_id for r in dedup_embedding_cosine(df, "vec_id", threshold=0.999).collect()
    )
    assert kept == [1, 3]


def test_cosine_pairs_udf_null_and_ragged_match_expr(spark):
    """Null and ragged-length vector pairs come out of the Arrow UDF as
    NULL, like cosine_expr, so both fail a >= threshold filter the same
    way; valid pairs agree exactly."""
    from oscar_tools_spark.operators.similarity import cosine_expr, cosine_pairs_udf

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], [1.0, 0.0]),  # cosine 1
            (2, None, [1.0, 0.0]),  # null side
            (3, [1.0, 0.0], [1.0, 0.0, 0.0]),  # ragged
            (4, [1.0, 2.0], [2.0, 1.0]),  # cosine 0.8
        ],
        "id long, x array<double>, y array<double>",
    )
    vals = df.select(
        "id",
        cosine_expr(F.col("x"), F.col("y")).alias("e"),
        cosine_pairs_udf()(F.col("x"), F.col("y")).alias("u"),
    ).collect()
    got = {r.id: (r.e, r.u) for r in vals}
    assert got[2] == (None, None) and got[3] == (None, None)
    assert got[1][0] == got[1][1] and got[4][0] == got[4][1]
    for thr in (0.5, 0.9):
        by_expr = df.filter(cosine_expr(F.col("x"), F.col("y")) >= thr)
        by_udf = df.filter(cosine_pairs_udf()(F.col("x"), F.col("y")) >= thr)
        assert sorted(r.id for r in by_expr.collect()) == sorted(
            r.id for r in by_udf.collect()
        )


def _clustered_embeddings(spark, n_clusters=40, dup_every=3, dim=16):
    """Deterministic unit vectors with known near-dup clusters: every
    ``dup_every``-th base vector gets a tiny-perturbation twin."""
    import hashlib

    import numpy as np

    rows = []
    vid = 0
    for c in range(n_clusters):
        h = hashlib.md5(f"cluster:{c}".encode()).digest()
        rng = np.random.default_rng(int.from_bytes(h[:8], "big"))
        v = rng.standard_normal(dim)
        v /= np.linalg.norm(v)
        rows.append((vid, [float(x) for x in v]))
        vid += 1
        if c % dup_every == 0:
            w = v + 0.01 * rng.standard_normal(dim)
            w /= np.linalg.norm(w)
            rows.append((vid, [float(x) for x in w]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>"), dim


def test_dedup_embedding_lsh_matches_brute_force(spark):
    """The banded-LSH path must keep the same survivor set as the
    O(n²) brute-force baseline (VERDICT r1 item 1)."""
    from oscar_tools_spark.operators.dedup import (
        dedup_embedding_cosine,
        dedup_embedding_lsh,
    )

    df, dim = _clustered_embeddings(spark)
    brute = sorted(
        r.vec_id for r in dedup_embedding_cosine(df, "vec_id", threshold=0.98).collect()
    )
    lsh = sorted(
        r.vec_id
        for r in dedup_embedding_lsh(df, "vec_id", dim=dim, threshold=0.98).collect()
    )
    n_total = df.count()
    assert brute == lsh
    assert len(brute) < n_total  # the twins actually got dropped


def test_dedup_embedding_lsh_plan_has_no_cartesian(spark):
    from oscar_tools_spark.operators.dedup import dedup_embedding_lsh

    df, dim = _clustered_embeddings(spark, n_clusters=10)
    plan = (
        dedup_embedding_lsh(df, "vec_id", dim=dim, threshold=0.98)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semdedup_brute_force_equivalence_and_clusters(spark):
    """SemDeDup: with n_clusters=1 (one cell = all pairs compared) the
    survivor set must EQUAL the brute-force cosine baseline; at the
    intended multi-cluster setting the planted tiny-perturbation twins
    (cos ~0.9999, far inside any sane cell) must still be dropped and
    the plan must stay cartesian-free."""
    from oscar_tools_spark.operators.dedup import (
        dedup_embedding_cosine,
        semdedup,
    )

    df, dim = _clustered_embeddings(spark)
    brute = sorted(
        r.vec_id
        for r in dedup_embedding_cosine(df, "vec_id", threshold=0.98).collect()
    )
    one_cell = sorted(
        r.vec_id
        for r in semdedup(
            df, "vec_id", dim=dim, n_clusters=1, threshold=0.98
        ).collect()
    )
    assert one_cell == brute

    clustered = semdedup(df, "vec_id", dim=dim, n_clusters=8, threshold=0.98)
    surv = sorted(r.vec_id for r in clustered.collect())
    assert len(surv) < df.count()  # twins dropped
    assert set(surv) <= set(range(df.count()))
    # survivors of the clustered run are a superset of brute force:
    # cell boundaries can only MISS pairs, never invent them
    assert set(brute) <= set(surv)
    plan = clustered._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # determinism
    again = sorted(
        r.vec_id
        for r in semdedup(
            df, "vec_id", dim=dim, n_clusters=8, threshold=0.98
        ).collect()
    )
    assert again == surv


def test_ivf_topk_deterministic_and_overlaps_exact(spark, sf_dir):
    """IVF ANN: deterministic (bounded lowest-key sample + stride init,
    no RNG), finds the query's own row, and overlaps the exact top-k."""
    from oscar_tools_spark.operators.similarity import (
        ivf_centroids,
        topk_cosine,
        topk_cosine_ivf,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    q = list(emb.filter(F.col("vec_id") == 0).first().embedding)
    exact = [r.vec_id for r in topk_cosine(emb, q, k=5).collect()]
    a1 = [r.vec_id for r in topk_cosine_ivf(emb, q, k=5, n_centroids=16, n_probe=4).collect()]
    a2 = [r.vec_id for r in topk_cosine_ivf(emb, q, k=5, n_centroids=16, n_probe=4).collect()]
    assert a1 == a2  # deterministic end to end
    assert a1[0] == exact[0] == 0
    assert len(set(exact) & set(a1)) >= 2
    # probing ALL cells must recover the exact scan
    full = [r.vec_id for r in topk_cosine_ivf(emb, q, k=5, n_centroids=16, n_probe=16).collect()]
    assert full == exact
    # unit centroids
    import numpy as np

    cent = ivf_centroids(emb, 64, n_centroids=16)
    assert np.allclose(np.linalg.norm(cent, axis=1), 1.0)
    emb.unpersist()


def test_dedup_embedding_lsh_band_bucket_cap(spark):
    """Exact-duplicate-heavy input is the LSH skew case: identical
    vectors share EVERY band bucket, so one hot bucket goes quadratic.
    max_band_bucket skips candidate generation inside oversized buckets
    (bounded work, recall loss confined to the capped buckets) while
    distinct near-dup pairs elsewhere still dedup normally."""
    import numpy as np

    from oscar_tools_spark.operators.dedup import dedup_embedding_lsh

    rng = np.random.default_rng(99)
    dim = 16
    hot = rng.standard_normal(dim)
    hot /= np.linalg.norm(hot)
    rows = [(i, [float(x) for x in hot]) for i in range(50)]  # 50 exact dups
    v = rng.standard_normal(dim)
    v /= np.linalg.norm(v)
    w = v + 0.001 * rng.standard_normal(dim)
    w /= np.linalg.norm(w)
    rows += [(100, [float(x) for x in v]), (101, [float(x) for x in w])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    uncapped = {
        r.vec_id
        for r in dedup_embedding_lsh(df, "vec_id", dim=dim, threshold=0.99).collect()
    }
    assert uncapped == {0, 100}  # one survivor per duplicate set

    capped = {
        r.vec_id
        for r in dedup_embedding_lsh(
            df, "vec_id", dim=dim, threshold=0.99, max_band_bucket=10
        ).collect()
    }
    # hot-bucket members are exempted from pairing (kept), the pair in
    # normal-sized buckets still dedups
    assert set(range(50)) <= capped
    assert capped & {100, 101} == {100}


def test_translate_counts_match_regex_strips(spark):
    """alpha_count/punct_count switched from char-class regexp_replace
    to translate() for the 20x fused-stage regex deopt (see
    BENCH/BASELINE.md round-3 findings); values must stay bit-identical
    to the regex formulation, including unicode and null."""
    from oscar_tools_spark.functions.textstats import alpha_count, punct_count

    rows = [
        ("",), ("abc XYZ",), ("héllo wörld 123",), ("...!?[]()-;:'\"",),
        ("a\nb\tc  d",), ("日本語テキスト abc",), ("\x00weird\x01",), (None,),
    ]
    df = spark.createDataFrame(rows, "text string")
    t = F.col("text")
    alpha_re = F.length(F.regexp_replace(t, "[^A-Za-z]", ""))
    punct_re = F.length(t) - F.length(F.regexp_replace(t, r"[.,;:!?'\"()\[\]-]", ""))
    out = df.select(
        (alpha_count(t) == alpha_re).alias("a"),
        (punct_count(t) == punct_re).alias("p"),
        t.isNull().alias("n"),
        alpha_count(t).isNull().alias("an"),
    ).collect()
    for r in out:
        if r.n:
            assert r.an  # null text -> null count, same as regex path
        else:
            assert r.a and r.p
