"""Approximate-nearest-neighbor search over an embedding column.

Brute-force cosine top-k is the exact baseline (one broadcast of the
query vector, one narrow map, one top-k — ``TakeOrderedAndProject``,
no full sort). The scale path is random-hyperplane LSH bucketing:
probe only buckets matching the query signature, turning a full scan
into a fraction-of-data scan; recall is traded via ``n_planes`` and
multi-probe (hamming-1 neighbors of the query signature).

Hyperplanes are deterministic pseudo-random (md5 of (plane, dim)), so
signatures are stable across runs/partitions with no RNG state.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(x: Column, y: Column) -> Column:
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_expr(x: Column, y: Column) -> Column:
    """Cosine as a column expression (interpreted HOF fold). Unrolling
    the fold into a flat 3*dim-term codegen expression measured 2-4x
    SLOWER across every consumer (the giant expression tree blows past
    the codegen method-size limits and falls back to interpretation
    with no CSE across the repeated gets). For many-candidate
    verification use :func:`cosine_pairs_udf` instead — bit-identical
    values, vectorized across the batch."""
    return _dot(x, y) / (F.sqrt(_dot(x, x)) * F.sqrt(_dot(y, y)))


def cosine_pairs_udf():
    """Arrow-vectorized pairwise cosine over two vector columns —
    the verification-path twin of :func:`cosine_expr` for operators
    that score MANY candidate pairs (semdedup measured 1.9s of
    interpreted HOF folds for 124k 64-dim pairs; this UDF does the
    same batch in ~0.1s).

    BIT-IDENTICAL to cosine_expr on valid rows: the accumulation loops
    over dimensions in index order on float64 (acc = 0.0; acc +=
    x_i * y_i), exactly the zip_with/aggregate sequential fold with its
    per-element double casts, and the final expression keeps the same
    dot / (sqrt(xx) * sqrt(yy)) order. NULL/ragged-length inputs yield
    NULL, as in the expression form: the batch marks them NaN and the
    pandas -> Arrow conversion writes NaN as null, so they fail a
    ``>= threshold`` filter exactly like :func:`cosine_expr`."""

    @F.pandas_udf("double")
    def _cos(xs: pd.Series, ys: pd.Series) -> pd.Series:
        n = len(xs)
        out = np.full(n, np.nan)
        if n == 0:
            return pd.Series(out)
        lx = [np.asarray(v, dtype=np.float64) if v is not None else None for v in xs]
        ly = [np.asarray(v, dtype=np.float64) if v is not None else None for v in ys]
        dims = {
            (len(a), len(b))
            for a, b in zip(lx, ly)
            if a is not None and b is not None
        }
        for dx, dy in dims:
            if dx != dy:
                continue  # zip_with pads -> null; keep NaN
            idx = np.array(
                [
                    i
                    for i, (a, b) in enumerate(zip(lx, ly))
                    if a is not None and b is not None
                    and len(a) == dx and len(b) == dy
                ],
                dtype=np.int64,
            )
            X = np.stack([lx[i] for i in idx])
            Y = np.stack([ly[i] for i in idx])
            m = len(idx)
            dxy = np.zeros(m)
            dxx = np.zeros(m)
            dyy = np.zeros(m)
            for j in range(dx):
                xj, yj = X[:, j], Y[:, j]
                dxy += xj * yj
                dxx += xj * xj
                dyy += yj * yj
            out[idx] = dxy / (np.sqrt(dxx) * np.sqrt(dyy))
        return pd.Series(out)

    return _cos


def topk_cosine(
    df: DataFrame,
    query_vec: list[float],
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector.

    The query ships as a column literal (broadcast in the task binary);
    limit-after-sort compiles to TakeOrderedAndProject — per-partition
    top-k then a driver merge, not a global sort.
    """
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    return (
        df.select(
            F.col(key_col),
            F.round(cosine_expr(F.col(vec_col), q), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(key_col))
        .limit(k)
    )


def _plane_component(plane: int, dim: int) -> float:
    """Deterministic pseudo-random component in [-1, 1)."""
    import hashlib

    h = int.from_bytes(
        hashlib.md5(f"plane:{plane}:{dim}".encode()).digest()[:8], "big"
    )
    return (h / 2**63) - 1.0


def hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    # plane count is unbounded here; the SIGNED-int64 packing limit
    # (<= 63) is enforced where packing happens: signature_udf for the
    # single-long signature, band_signature_udf per band key
    if n_planes < 1:
        raise ValueError(f"n_planes must be >= 1, got {n_planes}")
    return [list(row) for row in _hyperplanes_cached(n_planes, dim)]


from functools import lru_cache  # noqa: E402


@lru_cache(maxsize=16)
def _hyperplanes_cached(n_planes: int, dim: int) -> tuple[tuple[float, ...], ...]:
    # md5-derived components are deterministic, so the (n_planes, dim)
    # table is pure — cached because the 384-plane default costs ~25k
    # md5 calls per operator construction (driver-side, but repeated in
    # every query build)
    return tuple(
        tuple(_plane_component(p, d) for d in range(dim)) for p in range(n_planes)
    )


def lsh_signature_expr(vec: Column, planes: list[list[float]]) -> Column:
    """Bit-signature: sign of the dot product with each hyperplane.

    Expression path — each plane is an interpreted ``aggregate`` lambda
    that re-walks the vector (no codegen/CSE for higher-order
    functions), so it is only the right choice for few planes or where
    SQL-expressibility matters; ``signature_udf`` below is the scale
    path (one BLAS matmul per Arrow batch)."""
    sig = F.lit(0)
    for i, plane in enumerate(planes):
        p = F.array(*[F.lit(c) for c in plane])
        sig = sig + F.when(_dot(vec, p) >= 0, F.lit(1 << i)).otherwise(0)
    return sig


def signature_udf(planes: list[list[float]]):
    """Arrow-vectorized signature: ONE (batch x dim) @ (dim x n_planes)
    matmul per batch, signs packed into a bigint. ~n_planes x cheaper
    than the per-plane ``aggregate`` lambdas of ``lsh_signature_expr``
    for wide embeddings. Created lazily (pandas_udf needs a session)."""
    if not 1 <= len(planes) <= 63:  # int64 sign-bit / overflow guard
        raise ValueError(f"signature_udf needs 1..63 planes, got {len(planes)}")
    plane_mat = np.asarray(planes, dtype=np.float64).T  # (dim, n_planes)
    weights = (1 << np.arange(len(planes))).astype(np.int64)

    @F.pandas_udf("long")
    def _udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        mat = np.vstack(vecs.to_numpy())  # (batch, dim)
        bits = mat.astype(np.float64) @ plane_mat >= 0.0
        return pd.Series(bits @ weights)

    return _udf


def band_signature_udf(planes: list[list[float]], band_size: int):
    """Arrow-vectorized BANDED signature: one (batch x dim) @ (dim x
    n_planes) matmul per batch, sign bits packed per band into an
    ``array<bigint>`` of n_planes/band_size keys.

    This is the selectivity knob the single-long ``signature_udf``
    cannot reach: packing every plane into one int64 caps the total at
    63 planes, which forces tiny bands (4-bit keys = 16 buckets/band —
    measured 77% of ALL pairs colliding on the sf0.1 embeddings, i.e.
    brute force with extra steps). Per-band packing caps only the BAND
    at 63 bits, so 16-bit bands (65k buckets) with as many bands as
    recall demands are cheap: an unrelated pair (s ≈ 0.5/bit) collides
    on a 16-bit band with p ≈ 2^-16, and candidate volume scales as
    sum-of-squared-bucket-sizes instead of n².
    """
    n_planes = len(planes)
    if not 1 <= band_size <= 63:  # int64 sign-bit / overflow guard
        raise ValueError(f"band_size must be in [1, 63], got {band_size}")
    if n_planes % band_size:
        raise ValueError(
            f"n_planes ({n_planes}) must be a multiple of band_size "
            f"({band_size}); trailing planes would be silently ignored"
        )
    n_bands = n_planes // band_size
    plane_mat = np.asarray(planes, dtype=np.float64).T  # (dim, n_planes)
    weights = (1 << np.arange(band_size)).astype(np.int64)

    @F.pandas_udf("array<long>")
    def _udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.vstack(vecs.to_numpy())  # (batch, dim)
        bits = mat.astype(np.float64) @ plane_mat >= 0.0
        keys = bits.reshape(len(mat), n_bands, band_size) @ weights
        return pd.Series(list(keys))

    return _udf


def bucket_embeddings(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    n_planes: int = 8,
    use_matmul: bool = True,
) -> DataFrame:
    """Attach an LSH bucket id; at scale, write bucketBy(bucket) so
    probes are partition-pruned scans.

    ``dim`` is required — callers always know it, and inferring it with
    a driver-side ``first()`` would trigger a Spark job at plan
    construction time (a scale anti-pattern)."""
    planes = hyperplanes(n_planes, dim)
    sig = (
        signature_udf(planes)(F.col(vec_col))
        if use_matmul
        else lsh_signature_expr(F.col(vec_col), planes)
    )
    return df.withColumn("bucket", sig)


def ivf_centroids(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    n_centroids: int = 64,
    sample_size: int = 10_000,
    iters: int = 10,
) -> "np.ndarray":
    """Train an IVF coarse quantizer: Lloyd k-means (spherical — unit
    centroids, cosine assignment) on a BOUNDED, deterministic sample.

    Driver-side work is capped at ``sample_size`` vectors (lowest keys
    — deterministic, no RNG over the data) x ``dim`` floats; at 100 TB
    the sample is still 10k rows. Everything data-sized (assignment,
    probing) stays distributed. Centroid init picks every
    (sample_size // n_centroids)-th sorted sample row — deterministic
    across runs and partitionings. Empty clusters keep their previous
    centroid (stable under Lloyd)."""
    rows = (
        df.select(F.col(key_col), F.col(vec_col))
        .orderBy(key_col)
        .limit(sample_size)
        .collect()
    )
    mat = np.vstack([r[1] for r in rows]).astype(np.float64)
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    if len(mat) < n_centroids:
        raise ValueError(
            f"sample ({len(mat)}) smaller than n_centroids ({n_centroids})"
        )
    cent = mat[:: max(len(mat) // n_centroids, 1)][:n_centroids].copy()
    for _ in range(iters):
        assign = (mat @ cent.T).argmax(axis=1)
        for c in range(n_centroids):
            members = mat[assign == c]
            if len(members):
                m = members.sum(axis=0)
                cent[c] = m / np.maximum(np.linalg.norm(m), 1e-12)
    return cent


def ivf_assign_udf(centroids: "np.ndarray", n_assign: int = 1):
    """Arrow-vectorized cell assignment: one (batch x dim) @
    (dim x n_centroids) matmul per batch, top-``n_assign`` cells per
    row (``array<int>``, nearest first).

    Multi-assignment (n_assign > 1) is the IVF recall lever that beats
    raw probe-count raises per unit of scan: a vector near a cell
    boundary is findable from BOTH neighboring cells, so boundary
    misses — the dominant IVF failure mode in high dimensions — shrink
    without probing more cells for every query (measured table in
    ``topk_cosine_ivf``)."""
    cent_t = np.asarray(centroids, dtype=np.float64).T  # (dim, n_centroids)
    n_cent = cent_t.shape[1]
    if not 1 <= n_assign <= n_cent:
        raise ValueError(f"n_assign must be in [1, {n_cent}], got {n_assign}")

    @F.pandas_udf("array<int>")
    def _udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.vstack(vecs.to_numpy()).astype(np.float64)
        norms = np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat / norms @ cent_t
        if n_assign == 1:
            top = sims.argmax(axis=1)[:, None].astype("int32")
        else:
            part = np.argpartition(-sims, n_assign - 1, axis=1)[:, :n_assign]
            order = np.take_along_axis(sims, part, axis=1).argsort(axis=1)[:, ::-1]
            top = np.take_along_axis(part, order, axis=1).astype("int32")
        return pd.Series(list(top))

    return _udf


def topk_cosine_ivf(
    df: DataFrame,
    query_vec: list[float],
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 256,
    n_probe: int = 24,
    n_assign: int = 4,
    sample_size: int = 10_000,
) -> DataFrame:
    """ANN top-k via IVF coarse quantization: assign every vector to
    its ``n_assign`` nearest spherical-k-means cells, scan only rows
    with any assigned cell among the ``n_probe`` cells nearest the
    query, exact cosine top-k on the survivors.

    The scan fraction is ~n_assign*n_probe/n_centroids on balanced
    cells — unlike hyperplane LSH it adapts to the DATA distribution
    (cells follow the density), which is why IVF is the production
    default for clustered embedding corpora. Plan: scan → one
    assignment matmul per Arrow batch → codegen arrays_overlap filter →
    TakeOrderedAndProject; no shuffle. For repeated-query serving,
    persist the assignment once (exploded) and ``bucketBy(cell)`` so
    probes become partition-pruned scans — same pattern as
    ``bucket_embeddings``.

    Recall/scan tradeoff, MEASURED in the hard regime (sf0.1 testdata:
    random 64-d vectors, true neighbors at cosine 0.3-0.45 — real
    corpora with actual near-neighbors score higher; planted cos>=0.9
    neighbors are found at recall 1.0 at every setting below):

    ======================= ========== =========
    setting                 recall@10  scan frac
    ======================= ========== =========
    c=64  a=1 probe=8 (old) 0.565      12.6%
    c=128 a=1 probe=16      0.665      12.6%
    c=128 a=2 probe=8       0.690      11.8%
    c=128 a=2 probe=16 (r4) 0.820      22.8%
    c=128 a=3 probe=16      0.890      31.8%
    c=256 a=4 probe=20      0.895      26.3%
    c=256 a=4 probe=24 (*)  0.910      30.9%
    c=256 a=4 probe=32      0.945      39.0%
    ======================= ========== =========

    (*) = shipped defaults (r7: finer cells + wider multi-assignment
    dominate the r4 point — +0.09 recall for +8pp scan; margin-based
    adaptive assignment was also measured and does NOT beat fixed-a
    at equal scan on this data). To trade: raise ``n_probe`` for
    recall (cost: linear scan growth), raise ``n_assign`` for recall
    at fixed probe count (cost: boundary rows counted in several
    cells), raise ``n_centroids`` for finer cells (needs
    sample_size >= n_centroids).
    """
    cent = ivf_centroids(
        df, len(query_vec), vec_col, key_col, n_centroids, sample_size
    )
    if n_probe > n_centroids:
        raise ValueError(f"n_probe ({n_probe}) > n_centroids ({n_centroids})")
    qv = np.asarray(query_vec, dtype=np.float64)
    qv /= np.maximum(np.linalg.norm(qv), 1e-12)
    probes = [int(c) for c in (cent @ qv).argsort()[::-1][:n_probe]]
    cell_col = "_ivf_cells"
    while cell_col in df.columns:  # collision guard
        cell_col += "_"
    staged = df.withColumn(
        cell_col, ivf_assign_udf(cent, n_assign)(F.col(vec_col))
    )
    candidates = staged.filter(
        F.arrays_overlap(
            F.col(cell_col), F.array(*[F.lit(p) for p in probes])
        )
    ).drop(cell_col)
    return topk_cosine(candidates, query_vec, key_col, vec_col, k)


def topk_cosine_lsh(
    df: DataFrame,
    query_vec: list[float],
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_planes: int = 96,
    band_size: int = 8,
    multiprobe: bool = True,
) -> DataFrame:
    """ANN top-k via banded hyperplane LSH (OR-construction): a row is
    a candidate if ANY of its n_planes/band_size band keys equals the
    query's key for that band (or a hamming-1 neighbor of it when
    ``multiprobe``); candidates get the exact cosine top-k.

    Banding replaced the old single-bucket scheme (one 8-bit key,
    hamming-1 probes): one bucket either over-probes or misses — a
    neighbor at cos 0.9 (s = 0.856/plane) landed in the probed set with
    p ≈ 0.67, while the banded default (12 bands × 8 bits, multiprobe)
    catches it with p ≈ 1 - (1-0.195)^12 ≈ 0.93+ and still scans a
    small fraction of unrelated rows (per-band collision for s = 0.5 is
    (band_size+1)/2^band_size ≈ 0.035).

    Plan shape: scan → ONE signature matmul per Arrow batch → codegen
    filter on GetArrayItem/isin literals (no explode, no join, no
    shuffle) → TakeOrderedAndProject. The signature is recomputed per
    query; for repeated-query serving, persist signatures once via
    ``bucket_embeddings`` + ``bucketBy`` writes instead.
    """
    if n_planes % band_size:
        # fail here with the same message as band_signature_udf — a
        # non-divisible pair would otherwise surface as an opaque numpy
        # reshape error on the query side before the udf guard is hit
        raise ValueError(
            f"n_planes ({n_planes}) must be a multiple of band_size "
            f"({band_size}); trailing planes would be silently ignored"
        )
    dim = len(query_vec)
    planes = hyperplanes(n_planes, dim)
    n_bands = n_planes // band_size
    qv = np.asarray(query_vec, dtype=np.float64)
    bits = np.asarray(planes, dtype=np.float64) @ qv >= 0.0
    weights = (1 << np.arange(band_size)).astype(np.int64)
    qkeys = bits.reshape(n_bands, band_size) @ weights
    probe_sets = []
    for key in (int(x) for x in qkeys):
        s = {key}
        if multiprobe:
            s |= {key ^ (1 << j) for j in range(band_size)}
        probe_sets.append(sorted(s))

    sig_col = "_lsh_bands"
    while sig_col in df.columns:  # collision guard
        sig_col += "_"
    staged = df.withColumn(
        sig_col, band_signature_udf(planes, band_size)(F.col(vec_col))
    )
    cond = F.lit(False)
    for b, keys in enumerate(probe_sets):
        cond = cond | F.col(sig_col)[b].isin(keys)
    candidates = staged.filter(cond).drop(sig_col)
    return topk_cosine(candidates, query_vec, key_col, vec_col, k)


def diversity_sample(
    df: DataFrame,
    per_cluster: int,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_clusters: int = 64,
    seed: int = 42,
    sample_size: int = 10_000,
) -> DataFrame:
    """Cluster-balanced subset selection: k-means-cluster the embedding
    space (the reusable IVF quantizer) and keep at most ``per_cluster``
    rows per cell, chosen by a deterministic seeded-md5 draw. Uniform
    sampling preserves the corpus's mode imbalance; capping per cell
    flattens it — the embedding-space analog of per-language mixture
    rebalancing, and the cheap version of prototypicality-ranked
    selection (swap the hash draw for a distance-to-centroid rank via
    the same assignment column if ranked selection is wanted).

    Adds ``cluster``. Scale shape: a BOUNDED driver-side centroid fit
    (ivf_centroids collects ``sample_size`` rows — fixed, not
    data-proportional — and runs one eager job at plan-construction
    time), ONE Arrow matmul pass for assignment, then
    ``sampling.cap_per_group``'s exact salted two-phase cap, so a dense
    cell never lands whole on one task.
    """
    from ..operators.sampling import cap_per_group

    # checked before the eager centroid fit, not after it
    if per_cluster <= 0:
        raise ValueError("per_cluster must be positive")
    cents = ivf_centroids(
        df, dim, vec_col, key_col, n_centroids=n_clusters, sample_size=sample_size
    )
    assign = ivf_assign_udf(cents, n_assign=1)
    out = df.withColumn("cluster", assign(F.col(vec_col)).getItem(0))
    return cap_per_group(out, "cluster", per_cluster, [key_col], seed)
