"""Trainable fastText-style language-ID classifier.

The north-star pipeline broadcasts a *trained* lid model (fastText
lid.176) into Arrow UDFs; `functions/langid.py` ships the heuristic and
fixed-profile stand-ins plus the model-swap seam. This module supplies
the missing third tier: a supervised multiclass classifier with the
fastText-supervised architecture — hashed byte n-gram bag features
into a linear softmax — implemented from scratch in numpy (public
method analogy only) and trained ON YOUR OWN labeled corpus, so it
covers languages the stopword heuristic cannot (e.g. zh in the
testdata, where Latin stopword scans return 'unknown').

Spark-first split, same as quality_classifier.py / perplexity.py:
* TRAINING is driver-side on a CAPPED deterministic per-class sample
  (md5-ranked rows per label via ONE window — the collect is bounded
  by classes x cap, never the corpus). Full-batch gradient descent —
  bit-reproducible, no shuffle-order dependence.
* INFERENCE is distributed: the weight matrix (K x 2^16 float32 —
  ~1.3 MB for 5 classes) rides the Arrow-UDF closure to executors
  once, and scoring is fully vectorized: the whole batch's n-gram
  buckets come from numpy window-packing over the NUL-joined UTF-8
  bytes (no per-gram Python), then K bincounts produce the logits.
* The scorer plugs into the EXISTING seam: `make_batch_scorer(model)`
  returns the `(pd.Series) -> (labels, probs)` callable that
  `langid.langid_model_udf` / `CurationConfig.langid_score_batch`
  accept, so the trained model drops into the curation pipeline with
  zero plan changes.

Features are byte n-grams (n = 2, 3, 4) over the whitespace-collapsed
lowercased UTF-8 text with a single leading/trailing space pad —
byte-level (not codepoint) windows keep featurization one numpy pass
and still separate scripts trivially (CJK bytes never collide with
Latin ones). Buckets come from a splitmix64-style finalizer on the
packed window, mod `dim`.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .lexicons import LANGID_UNKNOWN

MODEL_VERSION = "hashed-softmax-lid-v1"

NGRAM_SIZES = (2, 3, 4)
DEFAULT_DIM = 1 << 16

_WS = re.compile(r"\s+")

# splitmix64 finalizer constants (public domain mixing function)
_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)


def _mix64(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        x ^= x >> np.uint64(30)
        x *= _M1
        x ^= x >> np.uint64(27)
        x *= _M2
        x ^= x >> np.uint64(31)
    return x


def _norm(t: str | None) -> str:
    """Space-padded lowercased text — or '' for empty/whitespace-only
    input, so such docs yield NO n-grams at all. Padding unconditionally
    would hand every empty doc a '  ' bigram, making the scorer's
    documented (unknown, 0.0) branch unreachable and letting the pad
    weights assign empty turns an arbitrary confident class."""
    core = _WS.sub(" ", (t or "").lower().replace("\x00", " ")).strip()
    return f" {core} " if core else ""


def _window_pack(b: np.ndarray, n: int) -> np.ndarray:
    """uint64 ids of all n-byte windows of ``b`` (empty when too short),
    salted with n so a 2-gram never collides with a 3-gram prefix."""
    if len(b) < n:
        return np.empty(0, dtype=np.uint64)
    out = np.zeros(len(b) - n + 1, dtype=np.uint64)
    for i in range(n):
        out = (out << np.uint64(8)) | b[i : len(b) - n + 1 + i].astype(np.uint64)
    return out | (np.uint64(n) << np.uint64(56))


def _featurize_batch(texts, dim: int):
    """(buckets, doc_ix, n_grams_per_doc) for a whole batch: windows are
    packed over the NUL-joined normalized UTF-8 bytes in one pass per
    n-gram size; windows crossing a document boundary (containing the
    NUL separator) are masked out."""
    n_docs = len(texts)
    big = "\x00".join(_norm(t) for t in texts)
    b = np.frombuffer(big.encode("utf-8"), dtype=np.uint8)
    doc_of_pos = np.cumsum(b == 0, dtype=np.int64)
    bucket_parts, doc_parts = [], []
    for n in NGRAM_SIZES:
        if len(b) < n:
            continue
        m = len(b) - n + 1
        valid = np.ones(m, dtype=bool)
        for i in range(n):
            valid &= b[i : m + i] != 0
        ids = _window_pack(b, n)[valid]
        mixed = _mix64(ids)
        # power-of-two dims (the default 2^16) take the AND fast path:
        # x % 2^k == x & (2^k - 1) exactly for unsigned x, and uint64
        # division is the single most expensive op in featurization
        if dim & (dim - 1) == 0:
            mixed &= np.uint64(dim - 1)
        else:
            mixed %= np.uint64(dim)
        bucket_parts.append(mixed.astype(np.int64))
        doc_parts.append(doc_of_pos[:m][valid])
    if not bucket_parts:
        z = np.empty(0, dtype=np.int64)
        return z, z, np.zeros(n_docs, dtype=np.int64)
    buckets = np.concatenate(bucket_parts)
    doc_ix = np.concatenate(doc_parts)
    lens = np.bincount(doc_ix, minlength=n_docs)
    return buckets, doc_ix, lens


def fit_langid_classifier(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    dim: int = DEFAULT_DIM,
    per_class_cap: int = 2_000,
    epochs: int = 120,
    lr_w: float = 2000.0,
    lr_b: float = 1.0,
    seed: int = 42,
) -> dict:
    """Train on a deterministic capped per-class sample; returns
    ``{"W": float32[K, dim], "b": float32[K], "labels": [str], ...}``.

    The sample is md5-ranked PER LABEL with one window (distributed;
    the driver collects at most ``n_classes * per_class_cap`` rows).
    Rows with NULL label or NULL/empty text are excluded — they carry
    no supervision. Labels are sorted for a stable class order.

    Two learning rates: mean-L1 features put each doc's mass at
    ~1/n_grams per feature, so weight gradients are ~3 orders smaller
    than the bias gradient — a single rate either stalls the weights
    or oscillates the bias (measured: one lr plateaued at chance).
    Defaults reach 1.0 train/held-out accuracy on the
    ``datagen.synth_labeled_docs`` six-language corpus."""
    ranked = (
        df.select(
            F.col(label_col).alias("y"),
            F.col(text_col).alias("t"),
            F.md5(F.concat_ws(":", F.lit(seed), F.col(text_col))).alias("rk"),
        )
        .filter(
            F.col("y").isNotNull()
            & (F.length(F.trim(F.coalesce("t", F.lit("")))) > 0)
        )
        .withColumn(
            "rn", F.row_number().over(Window.partitionBy("y").orderBy("rk", "t"))
        )
        .filter(F.col("rn") <= per_class_cap)
    )
    rows = ranked.select("y", "rk", "t").orderBy("y", "rk", "t").collect()
    if not rows:
        raise ValueError("no labeled non-empty rows to train on")
    labels = sorted({r.y for r in rows})
    lab_ix = {l: i for i, l in enumerate(labels)}
    texts = [r.t for r in rows]
    y = np.array([lab_ix[r.y] for r in rows], dtype=np.int64)
    n, k = len(texts), len(labels)

    buckets, doc_ix, lens = _featurize_batch(texts, dim)
    vals = 1.0 / np.maximum(lens, 1)[doc_ix]  # L1-normalized counts
    Y = np.zeros((n, k))
    Y[np.arange(n), y] = 1.0

    W = np.zeros((k, dim), dtype=np.float64)
    b = np.zeros(k, dtype=np.float64)
    for _ in range(epochs):
        Z = b[None, :].repeat(n, axis=0)
        for c in range(k):
            Z[:, c] += np.bincount(doc_ix, weights=vals * W[c, buckets], minlength=n)
        Z -= Z.max(axis=1, keepdims=True)
        P = np.exp(Z)
        P /= P.sum(axis=1, keepdims=True)
        G = (P - Y) / n
        for c in range(k):
            W[c] -= lr_w * np.bincount(
                buckets, weights=vals * G[doc_ix, c], minlength=dim
            )
        b -= lr_b * G.sum(axis=0)
    return {
        "W": W.astype(np.float32),
        "b": b.astype(np.float32),
        "labels": labels,
        "dim": dim,
        "version": MODEL_VERSION,
    }


def save_lid_model(model: dict, path: str) -> None:
    np.savez(
        path if path.endswith(".npz") else path + ".npz",
        W=model["W"],
        b=model["b"],
        labels=np.array(model["labels"], dtype=np.bytes_),
        dim=np.int64(model["dim"]),
        version=np.bytes_(model["version"].encode()),
    )


def load_lid_model(path: str) -> dict:
    z = np.load(path if path.endswith(".npz") else path + ".npz")
    return {
        "W": z["W"],
        "b": z["b"],
        "labels": [s.decode() for s in z["labels"]],
        "dim": int(z["dim"]),
        "version": bytes(z["version"]).decode(),
    }


def score_lid_batch(texts, model: dict) -> tuple[list[str], list[float]]:
    """Vectorized batch scorer: K bincounts over the batch's feature
    triplet -> softmax -> (argmax label, its probability). Docs with no
    features (empty/whitespace text) return (unknown, 0.0)."""
    n = len(texts)
    if n == 0:
        return [], []
    W, b, labels = model["W"], model["b"], model["labels"]
    k = len(labels)
    buckets, doc_ix, lens = _featurize_batch(texts, model["dim"])
    vals = 1.0 / np.maximum(lens, 1)[doc_ix]
    W64 = W.astype(np.float64)  # one conversion, not one per class
    Z = b.astype(np.float64)[None, :].repeat(n, axis=0)
    for c in range(k):
        g = W64[c][buckets]
        g *= vals  # in-place: one 4-5M-element temporary per class, not two
        Z[:, c] += np.bincount(doc_ix, weights=g, minlength=n)
    Z -= Z.max(axis=1, keepdims=True)
    P = np.exp(Z)
    P /= P.sum(axis=1, keepdims=True)
    best = P.argmax(axis=1)
    lab_arr = np.array(labels, dtype=object)
    out_labels = np.where(lens > 0, lab_arr[best], LANGID_UNKNOWN)
    out_probs = np.where(lens > 0, P[np.arange(n), best], 0.0)
    # ndarrays, not .tolist() — see langid._score_batch (r8)
    return out_labels, out_probs


def make_batch_scorer(model: dict):
    """The `(pd.Series) -> (labels, probs)` callable for the existing
    seams (`langid.langid_model_udf(score_batch=...)`,
    `CurationConfig.langid_score_batch`).

    Shipping semantics, precisely: the closure captures the MODEL
    (weights/labels/dim) by value, but the scoring CODE
    (score_lid_batch and its helpers) is a module global that
    cloudpickle serializes by reference — workers must be able to
    import this module, which both deployment paths guarantee (the
    session factory addPyFile's the package zip; the jobs ship it via
    spark-submit --py-files). A scorer living OUTSIDE the shipped
    package must instead be a self-contained closure
    (tests/test_model_swap.py pins that contract)."""
    W = model["W"]
    b = model["b"]
    labels = list(model["labels"])
    dim = int(model["dim"])
    m = {"W": W, "b": b, "labels": labels, "dim": dim}

    def _scorer(texts: pd.Series):
        return score_lid_batch(list(texts), m)

    return _scorer
