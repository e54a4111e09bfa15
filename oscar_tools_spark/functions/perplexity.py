"""KenLM-style n-gram perplexity scoring as a vectorized pandas UDF.

A character-bigram language model with Laplace smoothing, trained at
import time from the fixed seed corpus (pure function of in-repo
constants — bit-stable across runs/partitionings, SURVEY.md §7 risk 2).
Stands in for a real KenLM binary (not shippable here) behind the same
interface: swap ``_LOGPROB``/``_score`` for a kenlm.Model call and
nothing else changes.

The log-prob matrix is tiny (28×28 float64) and is captured in the UDF
closure — shipped once per executor via the Arrow UDF machinery, the
moral equivalent of a broadcast variable for model weights.

Per-row scores are order-independent (mean over the row's own bigrams),
so results don't depend on partitioning.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .langid import _SEED_CORPUS

MODEL_VERSION = "char-bigram-lm-v1"

# vocab: a-z, space, OOV bucket
_VOCAB = "abcdefghijklmnopqrstuvwxyz "
_OOV = len(_VOCAB)
_V = _OOV + 1


_LOOKUP = np.full(256, _OOV, dtype=np.int32)
for _i, _ch in enumerate(_VOCAB):
    _LOOKUP[ord(_ch)] = _i


def _char_ids(text: str) -> np.ndarray:
    """Vectorized char->id: latin-1 bytes through a 256-entry table
    (chars outside latin-1 encode to '?' -> OOV, same as before)."""
    b = np.frombuffer(text.lower().encode("latin-1", "replace"), dtype=np.uint8)
    return _LOOKUP[b]


def _train() -> np.ndarray:
    counts = np.ones((_V, _V), dtype=np.float64)  # Laplace
    for corpus in _SEED_CORPUS.values():
        ids = _char_ids(corpus)
        np.add.at(counts, (ids[:-1], ids[1:]), 1.0)
    return np.log(counts / counts.sum(axis=1, keepdims=True))


_LOGPROB = _train()


def score_text(text: str) -> float:
    """Perplexity of one string under the char-bigram LM (pure function)."""
    ids = _char_ids(text or "")
    if len(ids) < 2:
        return float(math.exp(-_LOGPROB.mean()))  # degenerate: worst-ish score
    lp = _LOGPROB[ids[:-1], ids[1:]]
    return float(np.exp(-lp.mean()))


_WORST = float(np.exp(-_LOGPROB.mean()))


def _score_batch(texts: pd.Series) -> np.ndarray:
    """Whole-batch scorer: one latin-1 encode + one table lookup + one
    matrix gather for the entire Arrow batch, per-doc means via two
    bincounts — no per-row numpy allocations (same pattern as
    langid._score_batch; ~1e-15 relative difference vs ``score_text``
    from summation order, far below the per-row rounding any consumer
    applies)."""
    return _score_batch_with(texts, _LOGPROB, _WORST)


def _packed_ids(texts) -> tuple[np.ndarray, np.ndarray]:
    """One latin-1 encode of the whole batch, NUL-separated: returns
    (char ids, NUL-separator mask). A literal NUL in the input maps to
    '?' (OOV), exactly what latin-1 'replace' does to unencodable
    chars, so separators are unambiguous."""
    joined = "\x00".join((t or "").lower().replace("\x00", "?") for t in texts)
    b = np.frombuffer(joined.encode("latin-1", "replace"), dtype=np.uint8)
    return _LOOKUP[b], b == 0


def _score_batch_with(texts, logprob: np.ndarray, worst: float) -> np.ndarray:
    n = len(texts)
    if n == 0:
        return np.empty(0, dtype=np.float64)
    ids, nul = _packed_ids(texts)
    doc_of = np.cumsum(nul, dtype=np.int32)
    valid = ~nul[:-1] & ~nul[1:]  # bigram windows inside one doc
    lp = logprob[ids[:-1][valid], ids[1:][valid]]
    di = doc_of[:-1][valid]
    sums = np.bincount(di, weights=lp, minlength=n)
    cnts = np.bincount(di, minlength=n)
    out = np.full(n, worst)
    nz = cnts > 0
    out[nz] = np.exp(-(sums[nz] / cnts[nz]))
    return out


def perplexity_udf(score_batch=None):
    """Arrow-vectorized UDF (created lazily: pandas_udf needs an active
    session to parse its DDL return type).

    THE MODEL-SWAP SEAM: pass ``score_batch`` — a callable
    ``(pd.Series of str) -> array-like of float`` — to replace the
    built-in char-bigram scorer with a real LM (e.g. a KenLM wrapper
    scoring the batch). Captured in the closure and shipped to workers
    by cloudpickle; no module patching (which would not survive to
    executor worker processes). Ship-by-value caveat: define the
    wrapper as a closure/local function, or make its module importable
    on the workers (--py-files) — cloudpickle serializes top-level
    functions of importable modules by reference. Exercised by
    tests/test_model_swap.py."""
    scorer = score_batch or _score_batch

    @F.pandas_udf("double")
    def _udf(texts: pd.Series) -> pd.Series:
        return pd.Series(scorer(texts))

    return _udf


def score(df: DataFrame, text_col: str = "text", out_col: str = "perplexity") -> DataFrame:
    return df.withColumn(out_col, perplexity_udf()(F.col(text_col)))


def fit_char_bigram_lm(df: DataFrame, text_col: str = "text") -> np.ndarray:
    """Fit the char-bigram LM ON A CORPUS, distributed — the in-domain
    upgrade of the import-time seed model (KenLM users train on their
    own corpus; this is that path for the drop-in scorer).

    Shape: mapInPandas emits ONE partial-counts row set per Arrow batch
    ((flat_idx, count) pairs from a single whole-batch bincount — at
    most V*V=784 rows per batch, independent of batch size), a groupBy
    sums them (map-side combinable, <=784 groups), and the driver
    collects <=784 rows to build the V x V matrix. The corpus is
    scanned once and only counts ever move; no sample cap, no skew
    sensitivity (counts are commutative).

    Returns the Laplace-smoothed log-prob matrix; feed it to
    ``make_batch_scorer`` and pass that through ``perplexity_udf``'s
    model-swap seam.
    """
    v = _V

    def partial_counts(batches):
        for pdf in batches:
            texts = list(pdf[text_col])
            if not texts:
                continue
            ids, nul = _packed_ids(texts)  # same packing as the scorer
            if len(ids) < 2:
                continue
            keep = ~(nul[:-1] | nul[1:])  # no cross-document bigrams
            flat = ids[:-1][keep].astype(np.int64) * v + ids[1:][keep]
            cnt = np.bincount(flat, minlength=v * v)
            nz = np.nonzero(cnt)[0]
            yield pd.DataFrame(
                {"idx": nz.astype("int64"), "cnt": cnt[nz].astype("int64")}
            )

    rows = (
        df.select(text_col)
        .mapInPandas(partial_counts, "idx long, cnt long")
        .groupBy("idx")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    )
    counts = np.ones((v, v), dtype=np.float64)  # Laplace, same as _train
    for r in rows:
        counts[r.idx // v, r.idx % v] += r.cnt
    return np.log(counts / counts.sum(axis=1, keepdims=True))


def make_batch_scorer(logprob: np.ndarray):
    """Whole-batch scorer over an arbitrary log-prob matrix (the
    corpus-fit twin of the built-in ``_score_batch``); pass the result
    to ``perplexity_udf(score_batch=...)``. Returned as a closure so
    cloudpickle ships it by value (ship-by-reference trap, see
    perplexity_udf docstring)."""
    worst = float(np.exp(-logprob.mean()))

    def scorer(texts: pd.Series) -> np.ndarray:
        return _score_batch_with(texts, logprob, worst)

    return scorer
