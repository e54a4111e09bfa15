"""Deterministic byte-level BPE tokenizer (train + encode + decode).

The packing / mixture operators (`operators/packing.py`) and the
corpus token statistics (`functions/textstats.py`) approximate token
counts with a whitespace/regex heuristic. Real training-data
pipelines budget in TOKENIZER tokens — sequence packing to a 2048
context, mixture epochs, per-language token shares all change when
the tokenizer changes. This module provides the real thing with zero
new dependencies: byte-level BPE in the style of GPT-2 / Sennrich et
al. (public method; implemented from scratch — the reference repo has
no tokenizer, this is part of the training-data layer this engine
adds on top of `/root/reference` parity).

Architecture, Spark-first (same shape as the repo's other trained
models — `functions/quality_classifier.py`, `similarity.ivf_centroids`):

* TRAINING is driver-side on a CAPPED deterministic sample
  (md5-ranked, the repo's standard seeded draw): collect ->
  pre-tokenize -> word-frequency table -> classic greedy pair-merge
  loop. BPE training over a ~10^4-doc sample is how production vocabs
  are actually built (the merge table converges on a corpus sample;
  the corpus itself is never collected).
* ENCODING is distributed: the merge-rank table (a dict of
  (bytes, bytes) -> rank, ~vocab_size entries) rides the Arrow-UDF
  closure to executors once, and each batch encodes with a PER-BATCH
  WORD CACHE — web text is Zipfian, so the distinct-word rate per
  batch is low and the cache turns the per-word merge loop into a
  dict hit for the bulk of the stream (the same trick GPT-2's
  reference encoder uses). For a 100 TB run you would swap in a
  native tokenizer; the encode fn is injectable exactly like the
  langid/perplexity model seam (`tests/test_model_swap.py` pattern).

Byte-level base vocab (ids 0..255) makes encoding TOTAL and decoding
EXACT: any unicode string round-trips byte-perfectly, which is the
invariant the pytest gate checks on every fuzzed row —
``decode(encode(t)) == t`` is an end-to-end correctness oracle that
needs no second engine.

Determinism: merge selection breaks frequency ties on the
lexicographically smallest pair, sampling is md5-ranked, and no dict
iteration order leaks into the result (Counter ties resolved by
explicit sort) — retraining on the same input yields a bit-identical
merge table (pytest-gated).
"""

from __future__ import annotations

import json
import re
from collections import Counter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MODEL_VERSION = "byte-bpe-v1"

# GPT-2-style pre-tokenizer, simplified to what Python `re` supports
# without regex-module unicode categories: a word = optional leading
# space + a run of letters, digits, or other non-space symbols
# (underscore included EXPLICITLY — Python's \w covers it, so a bare
# [^\w\s] class would leave '_' unmatchable and break the round-trip
# totality the pytest fuzz gate asserts); runs of whitespace stay
# together. The four alternatives tile every character class, so
# findall() reconstructs the input exactly. BPE merges never cross
# these chunk boundaries, which is what keeps the merge table small
# and the per-word encode cacheable.
_PRETOKEN_RE = re.compile(r" ?[^\W\d_]+| ?\d+| ?(?:[^\w\s]|_)+|\s+")


def pretokenize(text: str) -> list[str]:
    return _PRETOKEN_RE.findall(text)


def _word_freqs(texts: list[str]) -> Counter:
    freqs: Counter = Counter()
    for t in texts:
        freqs.update(pretokenize(t))
    return freqs


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 512,
    sample_cap: int = 5_000,
    seed: int = 42,
) -> dict:
    """Train a byte-level BPE merge table on a capped deterministic
    sample of ``df``; returns
    ``{"merges": [(bytes, bytes), ...], "version": str, "vocab_size": int}``.

    ``vocab_size`` counts the 256 byte tokens, so the merge table has
    ``vocab_size - 256`` entries. Token ids are positional: id 0..255 =
    the raw byte, id 256+i = the i-th merge's output token.
    """
    if vocab_size < 256:
        raise ValueError("vocab_size must be >= 256 (byte-level base vocab)")
    ranked = (
        df.select(
            F.col(text_col).alias("t"),
            F.md5(F.concat_ws(":", F.lit(seed), F.col(text_col))).alias("rk"),
        )
        .filter(F.col("t").isNotNull())
        .orderBy("rk", "t")
        .limit(sample_cap)
    )
    texts = [r.t for r in ranked.collect()]
    return _train_from_texts(texts, vocab_size)


def train_bpe_local(
    texts: list,
    vocab_size: int = 512,
    sample_cap: int = 5_000,
    seed: int = 42,
) -> dict:
    """Pure-Python twin of :func:`train_bpe` — identical sample
    ranking (md5 of ``seed:text``, (rank, text) order, cap) and the
    same merge loop, no Spark. Used by the DuckDB VALUES oracle to
    prove the distributed train+encode equals a local replay; also the
    natural entry point for training from an in-memory corpus."""
    import hashlib

    ranked = sorted(
        (hashlib.md5(f"{seed}:{t}".encode()).hexdigest(), t)
        for t in texts
        if t is not None
    )
    return _train_from_texts([t for _, t in ranked[:sample_cap]], vocab_size)


def _train_from_texts(texts: list, vocab_size: int) -> dict:
    freqs = _word_freqs(texts)
    # word -> current token sequence (starts as raw bytes)
    words: list[tuple[tuple[bytes, ...], int]] = sorted(
        ((tuple(bytes([b]) for b in w.encode("utf-8")), n) for w, n in freqs.items()),
        key=lambda kv: (-kv[1], kv[0]),
    )
    merges: list[tuple[bytes, bytes]] = []
    for _ in range(vocab_size - 256):
        pair_counts: Counter = Counter()
        for seq, n in words:
            for a, b in zip(seq, seq[1:]):
                pair_counts[(a, b)] += n
        if not pair_counts:
            break
        # deterministic argmax: highest count, then lexicographically
        # smallest pair (explicit sort — Counter.most_common ties are
        # insertion-ordered, which would leak sample order)
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        new_words = []
        for seq, n in words:
            if best[0] in seq:  # cheap pre-filter
                out = []
                i = 0
                while i < len(seq):
                    if i + 1 < len(seq) and seq[i] == best[0] and seq[i + 1] == best[1]:
                        out.append(merged)
                        i += 2
                    else:
                        out.append(seq[i])
                        i += 1
                seq = tuple(out)
            new_words.append((seq, n))
        words = new_words
    return {"merges": merges, "version": MODEL_VERSION, "vocab_size": vocab_size}


# Word bank for the synthetic tokenizer-stress corpus: Zipfian-ish
# English plus the classes that break naive byte handling — multi-byte
# UTF-8 (accents, CJK, emoji), digits, underscores (the pre-tokenizer's
# documented edge), and intra-word punctuation.
_SYNTH_WORDS = (
    ["the", "of", "and", "to", "data", "model", "token", "train"] * 4
    + ["pipeline", "spark", "merge", "byte", "corpus", "sample", "vocab"]
    + ["café", "naïve", "Zürich", "résumé", "über", "mañana"]
    + ["東京", "データ", "学習", "模型", "токен", "мир"]
    + ["🙂", "🚀", "✨", "e=mc2", "a_b_c", "__init__", "3.14", "42"]
    + ["don't", "it's", "co-op", "semi_final", "x", "yz"]
)


def synth_bpe_corpus(n: int = 400, seed: int = 42) -> list:
    """Deterministic ``[(doc_id, text), ...]`` tokenizer-stress corpus
    — a pure function of ``(n, seed)`` (md5-driven choices, no RNG
    state), so the DuckDB VALUES oracle can rebuild it byte-for-byte
    in plain Python, the same contract as multimodal.synth_media_rows.
    Docs mix Zipfian word draws with whitespace runs (tab/newline/
    double space), and a few degenerate rows (empty, whitespace-only,
    punctuation-only, None) exercise the encode fallbacks."""
    import hashlib

    def pick(i: int, j: int) -> str:
        h = int(hashlib.md5(f"{seed}:{i}:{j}".encode()).hexdigest()[:8], 16)
        return _SYNTH_WORDS[h % len(_SYNTH_WORDS)]

    seps = [" ", " ", " ", "  ", "\t", "\n", " , ", ". "]
    rows: list = []
    for i in range(n):
        if i % 97 == 0:
            rows.append((i, None))
            continue
        if i % 89 == 0:
            rows.append((i, ""))
            continue
        if i % 83 == 0:
            rows.append((i, " \t\n "))
            continue
        if i % 79 == 0:
            rows.append((i, "!!! ??? ..."))
            continue
        ln = 3 + int(hashlib.md5(f"{seed}:len:{i}".encode()).hexdigest()[:4], 16) % 38
        parts = []
        for j in range(ln):
            parts.append(pick(i, j))
            if j + 1 < ln:
                h = int(
                    hashlib.md5(f"{seed}:sep:{i}:{j}".encode()).hexdigest()[:4], 16
                )
                parts.append(seps[h % len(seps)])
        rows.append((i, "".join(parts)))
    return rows


def vocab_of(model: dict) -> dict[int, bytes]:
    """id -> token bytes for the full vocab (256 bytes + merges)."""
    vocab = {i: bytes([i]) for i in range(256)}
    for i, (a, b) in enumerate(model["merges"]):
        vocab[256 + i] = a + b
    return vocab


def _rank_table(model: dict) -> dict[tuple[bytes, bytes], int]:
    return {pair: i for i, pair in enumerate(model["merges"])}


def _token_ids(model: dict) -> dict[bytes, int]:
    return {tok: i for i, tok in vocab_of(model).items()}


def encode_word(
    word: str,
    ranks: dict[tuple[bytes, bytes], int],
    ids: dict[bytes, int],
) -> list[int]:
    """Standard BPE encode of one pre-token: repeatedly merge the
    lowest-rank adjacent pair until none applies."""
    seq = [bytes([b]) for b in word.encode("utf-8")]
    while len(seq) > 1:
        best_rank = None
        best_i = -1
        for i, pair in enumerate(zip(seq, seq[1:])):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        seq[best_i : best_i + 2] = [seq[best_i] + seq[best_i + 1]]
    return [ids[t] for t in seq]


def encode(text: str, model: dict, _cache: dict | None = None) -> list[int]:
    """Token ids of ``text``; optional shared per-batch word cache."""
    ranks = _rank_table(model)
    ids = _token_ids(model)
    cache = _cache if _cache is not None else {}
    out: list[int] = []
    for w in pretokenize(text):
        hit = cache.get(w)
        if hit is None:
            hit = encode_word(w, ranks, ids)
            cache[w] = hit
        out.extend(hit)
    return out


def decode(ids: list[int], model: dict) -> str:
    vocab = vocab_of(model)
    return b"".join(vocab[i] for i in ids).decode("utf-8", errors="strict")


def save_bpe(model: dict, path: str) -> None:
    """Persist as JSON (merge pairs latin-1-escaped: bytes<->str is a
    bijection under latin-1, so arbitrary byte tokens survive)."""
    with open(path, "w", encoding="utf-8") as f:
        json.dump(
            {
                "version": model["version"],
                "vocab_size": model["vocab_size"],
                "merges": [
                    [a.decode("latin-1"), b.decode("latin-1")]
                    for a, b in model["merges"]
                ],
            },
            f,
        )


def load_bpe(path: str) -> dict:
    with open(path, encoding="utf-8") as f:
        raw = json.load(f)
    if raw.get("version") != MODEL_VERSION:
        raise ValueError(
            f"BPE model version mismatch: {raw.get('version')!r} != {MODEL_VERSION!r}"
        )
    return {
        "merges": [
            (a.encode("latin-1"), b.encode("latin-1")) for a, b in raw["merges"]
        ],
        "version": raw["version"],
        "vocab_size": raw["vocab_size"],
    }


def bpe_udf(model: dict, encode_batch=None):
    """Arrow-vectorized token-id UDF (lazy: pandas_udf needs an active
    session at decoration time). The merge table rides the closure;
    a per-BATCH word cache amortizes the merge loop over the Zipfian
    word distribution. ``encode_batch`` is the injectable model seam:
    pass a ``list[str] -> list[list[int]]`` fn to swap in a native
    tokenizer without touching the Spark plan."""
    if encode_batch is None:
        ranks = _rank_table(model)
        ids = _token_ids(model)
        # r8: the word cache lives in the CLOSURE, not per batch — the
        # UDF object persists across every Arrow batch of a task (and
        # across tasks under worker reuse), so each distinct word pays
        # the merge loop once per worker instead of once per batch
        # (values unchanged: encode_word is a pure function). Capped so
        # an adversarial vocabulary cannot grow it unboundedly.
        cache: dict = {}
        cache_cap = 1 << 20

        def encode_batch(texts: list[str]) -> list[list[int]]:
            if len(cache) > cache_cap:
                cache.clear()
            out = []
            for t in texts:
                row: list[int] = []
                for w in pretokenize(t):
                    hit = cache.get(w)
                    if hit is None:
                        hit = encode_word(w, ranks, ids)
                        cache[w] = hit
                    row.extend(hit)
                out.append(row)
            return out

    @F.pandas_udf("array<int>")
    def _udf(texts: pd.Series) -> pd.Series:
        filled = texts.fillna("")
        return pd.Series(
            encode_batch(filled.tolist()), index=texts.index, dtype=object
        )

    return _udf


def tokenize(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    out_col: str = "token_ids",
    count_col: str | None = "n_bpe_tokens",
    encode_batch=None,
) -> DataFrame:
    """Add BPE ``token_ids`` (array<int>) and optionally their count.
    One Arrow round-trip; the count is derived from the array column
    JVM-side (no second UDF pass)."""
    out = df.withColumn(out_col, bpe_udf(model, encode_batch)(F.col(text_col)))
    if count_col:
        out = out.withColumn(count_col, F.size(out_col).cast("long"))
    return out
