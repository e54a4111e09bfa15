"""Language identification.

Two interchangeable annotators producing the reference's
``identification struct<label:string, prob:float>`` shape
(/root/reference/src/impls/oscar_doc/oscar_doc.rs:357-360):

* ``langid_expr`` — stopword-hit argmax as a pure column expression
  (JVM-side, SQL-expressible, used for the DuckDB oracle and as the
  fast path when only coarse routing is needed);
* ``langid_model_udf`` — a deterministic hashed character-trigram
  classifier inside an Arrow-vectorized pandas UDF, with the profile
  table broadcast once per executor. Stands in for a fastText lid.176
  model (not shippable in this sandbox) behind the same interface: to
  swap in fastText, only ``_score_batch`` changes.

Per-line (sentence) identification — the reference's
``metadata.sentence_identifications`` aligned with ``split(text, '\n')``
(oscar_doc.rs:365-380) — is built by exploding lines and re-assembling
with ``collect_list`` ordered by line index, or cheaply via
``transform`` with the expression scorer.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .lexicons import LANGID_ORDER, LANGID_STOPWORDS, LANGID_UNKNOWN, langid_pattern

# ------------------------------------------------------------------ expression path


def stopword_hits_expr(text: Column, lang: str) -> Column:
    """Stopword hit count (regexp_count — no match-array allocation)."""
    return F.regexp_count(F.lower(text), F.lit(langid_pattern(lang)))


# r8: ONE combined scan instead of one alternation scan per language.
# A match of any \b(word|...)\b pattern is necessarily a WHOLE token
# (\b can only sit at token edges), and the per-language word lists
# are mutually disjoint (asserted below — the argmax tie-break relies
# on it too), so per-language hit counts equal the per-language
# membership counts over the single combined scan's matches:
# regexp_count(lower, pat_lang) == size(filter(matches, m in words_lang)).
# Bit-identical hit arrays, 5x fewer regex passes (A/B at sf0.1/32:
# doc-level staged langid 1.10s -> 0.72s, per-line 1.70s -> measured
# in sentence_identifications_expr).
_ALL_STOPWORDS = sorted({w for ws in LANGID_STOPWORDS.values() for w in ws})
assert len(_ALL_STOPWORDS) == sum(
    len(ws) for ws in LANGID_STOPWORDS.values()
), "stopword lists must stay disjoint across languages"
COMBINED_STOPWORD_PATTERN = r"\b(" + "|".join(_ALL_STOPWORDS) + r")\b"


def _hits_from_matches(matches: Column) -> Column:
    """Per-language hit-count array from the combined scan's matched
    tokens. ``matches`` must be a cheap reference (staged alias or
    lambda variable)."""
    return F.array(
        *[
            F.size(
                F.filter(
                    matches, lambda m: m.isin(*LANGID_STOPWORDS[lang])
                )
            )
            for lang in LANGID_ORDER
        ]
    )


def _best_struct(text: Column) -> Column:
    """array_max over (hits, -index) structs: the argmax with
    first-in-LANGID_ORDER tie-break, evaluating each stopword scan ONCE.

    The naive greatest(...) + when-chain formulation re-inlines every
    regexp_extract_all ~10x (Catalyst duplicates subtrees and each copy
    re-lowercases the text — allocation storm + GC stalls at high core
    counts); the array constructor names each scan a single time.
    """
    entries = [
        F.struct(
            stopword_hits_expr(text, lang).alias("h"),
            F.lit(-i).alias("ni"),
        )
        for i, lang in enumerate(LANGID_ORDER)
    ]
    return F.array_max(F.array(*entries))


def langid_label_expr(text: Column) -> Column:
    """argmax over per-language stopword hits; ties break by LANGID_ORDER."""
    best = _best_struct(text)
    labels = F.array(*[F.lit(lang) for lang in LANGID_ORDER])
    return F.when(best.getField("h") == 0, F.lit(LANGID_UNKNOWN)).otherwise(
        F.element_at(labels, (-best.getField("ni") + 1).cast("int"))
    )


def langid_expr(text: Column) -> Column:
    """struct<label,prob> where prob = best_hits / total_hits (0.0 when unknown)."""
    best = _best_struct(text)
    hits = [stopword_hits_expr(text, lang) for lang in LANGID_ORDER]
    total = sum(hits[1:], hits[0])
    prob = F.when(best.getField("h") == 0, F.lit(0.0)).otherwise(
        best.getField("h").cast("double") / total.cast("double")
    )
    labels = F.array(*[F.lit(lang) for lang in LANGID_ORDER])
    label = F.when(best.getField("h") == 0, F.lit(LANGID_UNKNOWN)).otherwise(
        F.element_at(labels, (-best.getField("ni") + 1).cast("int"))
    )
    return F.struct(label.alias("label"), prob.cast("float").alias("prob"))


# ------------------------------------------------------------------ model path

# Deterministic seed corpus per language: the model is a pure function of
# these strings, so scores are bit-stable across partitionings and runs
# (SURVEY.md §7 risk 2).
_SEED_CORPUS = {
    "en": "the quick brown fox jumps over the lazy dog and this is a perfectly "
    "normal english sentence that people write with the usual words for things "
    "you would expect to see in everyday text about work and life",
    "fr": "le chat est sur la table et nous allons pour une promenade dans le parc "
    "vous savez je pense que c'est une bonne idée pour tout le monde il faut que "
    "nous soyons là demain matin avec les autres personnes du groupe",
    "de": "der hund ist nicht mit der katze und ich gehe von dem haus mit einem "
    "freund das ist nicht so schlecht und die sonne scheint heute über der stadt "
    "wir müssen morgen früh wieder arbeiten und dann sehen wir weiter",
    "es": "el perro corre por las calles y es una buena idea para todos los que "
    "viven con nosotros por la mañana del verano como siempre hay que hacer las "
    "cosas bien y luego podemos descansar un poco en la casa",
    "it": "il gatto non vuole che il cane sia della casa per anche questo motivo "
    "come sempre di mattina presto quando tutto è tranquillo possiamo lavorare "
    "bene e poi andare a prendere un caffè con gli amici",
}
_PROFILE_SIZE = 200
MODEL_VERSION = "trigram-profile-v2"

# Trigram universe: 3-byte windows over the UTF-8 encoding of the
# normalized text, packed into uint32 ids — lets the scorer run as
# numpy searchsorted against sorted profile arrays instead of Python
# set intersections (~20x per-row speedup in the Arrow batch path).
_RE_NONALPHA = re.compile(r"[^a-z\sà-öø-ÿ]")


def _gram_ids(text: str, unique: bool = True) -> "np.ndarray":
    t = " " + _RE_NONALPHA.sub(" ", (text or "").lower()) + " "
    b = np.frombuffer(t.encode("utf-8"), dtype=np.uint8)
    if len(b) < 3:
        return np.empty(0, dtype=np.uint32)
    ids = (
        (b[:-2].astype(np.uint32) << 16)
        | (b[1:-1].astype(np.uint32) << 8)
        | b[2:].astype(np.uint32)
    )
    return np.unique(ids) if unique else ids


def _build_profiles() -> dict[str, "np.ndarray"]:
    """Sorted top-trigram-id array per language (ties broken by id)."""
    profiles = {}
    for lang, corpus in _SEED_CORPUS.items():
        ids, counts = np.unique(_gram_ids(corpus, unique=False), return_counts=True)
        order = np.lexsort((ids, -counts))
        profiles[lang] = np.sort(ids[order[:_PROFILE_SIZE]])
    return profiles


PROFILES = _build_profiles()


def _build_union() -> tuple["np.ndarray", "np.ndarray"]:
    """Sorted union of all profile trigram ids + (len(union), n_langs)
    membership matrix — lets the batch scorer do ONE searchsorted for
    all languages instead of one per language."""
    union = np.unique(np.concatenate([PROFILES[lang] for lang in LANGID_ORDER]))
    member = np.zeros((len(union), len(LANGID_ORDER)), dtype=bool)
    for li, lang in enumerate(LANGID_ORDER):
        member[np.searchsorted(union, PROFILES[lang]), li] = True
    return union, member


_UNION, _MEMBER = _build_union()

# Batch normalizer: identical to _RE_NONALPHA but preserving the NUL
# document separator (inputs are pre-stripped of NUL so semantics match
# the per-row path byte-for-byte).
_RE_NONALPHA_KEEP_NUL = re.compile(r"[^a-z\sà-öø-ÿ\x00]")


def _gram_ids_batch(texts) -> tuple["np.ndarray", "np.ndarray", "np.ndarray"]:
    """(grams, doc_ix, lens): per-doc-unique trigram ids for a whole
    batch, built with one regex pass / one encode over a NUL-joined
    string — no per-row numpy allocations."""
    n = len(texts)
    padded = [
        " " + (t or "").lower().replace("\x00", " ") + " " for t in texts
    ]
    big = _RE_NONALPHA_KEEP_NUL.sub(" ", "\x00".join(padded))
    b = np.frombuffer(big.encode("utf-8"), dtype=np.uint8)
    if len(b) < 3:
        return (
            np.empty(0, np.uint32),
            np.empty(0, np.int64),
            np.zeros(n, np.int64),
        )
    ids = (
        (b[:-2].astype(np.uint32) << 16)
        | (b[1:-1].astype(np.uint32) << 8)
        | b[2:].astype(np.uint32)
    )
    # a trigram is valid only when its 3-byte window stays inside one doc
    valid = (b[:-2] != 0) & (b[1:-1] != 0) & (b[2:] != 0)
    # doc index of position p = number of NUL separators before p
    doc_of_pos = np.cumsum(b == 0, dtype=np.int32)
    # per-doc distinct via ONE packed-key radix-friendly sort:
    # key = (doc << 24) | gram (grams are 24-bit 3-byte windows; doc
    # indices fit the top 40 bits) — measurably cheaper than lexsort.
    key = (doc_of_pos[:-2][valid].astype(np.uint64) << np.uint64(24)) | ids[
        valid
    ].astype(np.uint64)
    key.sort()
    if len(key):
        keep = np.empty(len(key), dtype=bool)
        keep[0] = True
        np.not_equal(key[1:], key[:-1], out=keep[1:])
        key = key[keep]
    doc_s = (key >> np.uint64(24)).astype(np.int64)
    ids_s = (key & np.uint64(0xFFFFFF)).astype(np.uint32)
    lens = np.bincount(doc_s, minlength=n)
    return ids_s, doc_s, lens


def classify(text: str) -> tuple[str, float]:
    """Deterministic single-text classification (the UDF calls this)."""
    grams = _gram_ids(text)
    if len(grams) == 0:
        return LANGID_UNKNOWN, 0.0
    best_lang, best_score, total = LANGID_UNKNOWN, 0, 0
    for lang in LANGID_ORDER:
        prof = PROFILES[lang]
        idx = np.searchsorted(prof, grams)
        idx[idx == len(prof)] = 0
        score = int((prof[idx] == grams).sum())
        total += score
        if score > best_score:
            best_lang, best_score = lang, score
    # minimum-coverage gate: noise shares a stray trigram or two with
    # every profile; require the winner to cover >=15% of the text's
    # distinct trigrams before asserting a language.
    confident = best_score > 0 and best_score / len(grams) >= 0.15
    if not confident:
        return LANGID_UNKNOWN, 0.0
    return best_lang, float(best_score) / float(total)


_LANG_LABELS = np.array(LANGID_ORDER, dtype=object)


def _score_batch(texts: pd.Series) -> tuple[list[str], list[float]]:
    """Whole-batch scorer: ONE searchsorted per language per Arrow batch.

    The per-row formulation (``classify`` in a loop) pays numpy call
    overhead per (row, language) — ~10 tiny array ops per row dominate
    at low core counts. Here the batch's trigram ids are concatenated
    into one array with a doc index, each language profile is probed
    once over the whole batch, and per-doc hit counts come back via
    ``bincount``. Semantics are identical to ``classify`` row-by-row
    (asserted by tests/test_langid.py)."""
    n = len(texts)
    if n == 0:
        return [], []
    all_grams, doc_ix, lens = _gram_ids_batch(texts)
    scores = np.zeros((len(LANGID_ORDER), n), dtype=np.int64)
    if len(all_grams):
        idx = np.searchsorted(_UNION, all_grams)
        idx[idx == len(_UNION)] = 0
        ok = _UNION[idx] == all_grams
        gi, di = idx[ok], doc_ix[ok]
        for li in range(len(LANGID_ORDER)):
            m = _MEMBER[gi, li]
            scores[li] = np.bincount(di[m], minlength=n)
    total = scores.sum(axis=0)
    best_ix = scores.argmax(axis=0)  # first max wins == LANGID_ORDER tie-break
    best = scores[best_ix, np.arange(n)]
    # minimum-coverage gate (see classify): winner must cover >=15% of
    # the doc's distinct trigrams.
    safe_lens = np.maximum(lens, 1)
    confident = (lens > 0) & (best > 0) & (best / safe_lens >= 0.15)
    labels = np.where(confident, _LANG_LABELS[best_ix], LANGID_UNKNOWN)
    probs = np.where(confident, best / np.maximum(total, 1), 0.0)
    # numpy arrays, not .tolist(): the consumer is always a
    # pd.DataFrame / pd.Series constructor, which takes ndarrays
    # directly — materializing ~n boxed Python floats per batch just to
    # re-box them into pandas measured ~8% of the fused model UDF (r8)
    return labels, probs


def langid_model_udf(score_batch=None):
    """Arrow-vectorized UDF (created lazily: pandas_udf needs an active
    session to parse its DDL return type).

    THE MODEL-SWAP SEAM: pass ``score_batch`` — a callable
    ``(pd.Series of str) -> (labels: list[str], probs: list[float])``
    — to replace the built-in trigram scorer with a real model (e.g. a
    fastText lid.176 wrapper calling ``model.predict`` on the batch).
    The callable is captured in the UDF closure and cloudpickle ships
    it to every Python worker, so the swap needs no module patching
    (which would NOT survive to executors — workers re-import modules
    fresh). Ship-by-value caveat: cloudpickle serializes a TOP-LEVEL
    function of an importable module by reference — define the wrapper
    as a closure/local function, or make its module importable on the
    workers (spark-submit --py-files). Exercised by
    tests/test_model_swap.py."""
    scorer = score_batch or _score_batch

    @F.pandas_udf("struct<label:string, prob:float>")
    def _udf(texts: pd.Series) -> pd.DataFrame:
        labels, probs = scorer(texts)
        return pd.DataFrame({"label": labels, "prob": probs})

    return _udf


# ------------------------------------------------------------------ operators


def identify_staged(
    df: DataFrame, text_col: str = "text", out_col: str = "identification"
) -> DataFrame:
    """Expression langid in two stages: the per-language hit counts
    materialize into an int-array column, and the argmax/label/prob sit
    above it referencing only that array.

    Why not just ``withColumn(out, langid_expr(text))``: Catalyst's
    subexpression elimination skips subtrees under conditional branches,
    and langid_expr's label/prob reference the best-hits struct 4x under
    ``when`` — each reference re-evaluates all 5 regex scans (measured
    6.0s vs 1.6s for this staged shape at sf0.1/32 cores). Output is
    bit-identical to ``langid_expr`` on non-null text.

    Why the hit array comes out of a generator, not a projection: a
    filter on ``out_col`` (``lang.isin(...) & lang_prob >= t`` in the
    WET ingest job) is pushed below every deterministic projection with
    each alias inlined at each reference, which put 51 copies of the
    combined scan, each over its own copy of the upstream text
    expression, into that filter. A filter is never pushed through a
    ``Generate`` with a conjunct that reads the generator's output, so
    the one-row ``inline`` pins the scan: the combined regex runs
    exactly once per row with or without a filter above, and conjuncts
    that read only input columns still reach the scan. Trade-off: a
    generator is never pruned, so a consumer that drops ``out_col``
    unread still pays for the scan.

    r8: the five per-language alternation scans collapse into ONE
    combined scan + per-language membership counts
    (COMBINED_STOPWORD_PATTERN — see the equivalence note there;
    1.10s -> 0.72s at sf0.1/32, identical output).
    """
    text = F.col(text_col)
    # collision-safe temp names: an input that already carries a column
    # named like a staging alias must not be overwritten and dropped
    existing = set(df.columns)
    tmpm, tmp = "_lid_matches", "_lid_hits"
    while tmpm in existing:
        tmpm = "_" + tmpm
    while tmp in existing:
        tmp = "_" + tmp
    staged = df.withColumn(
        tmpm,
        F.regexp_extract_all(
            F.lower(text), F.lit(COMBINED_STOPWORD_PATTERN), 1
        ),
    ).select(
        "*", F.inline(F.array(F.struct(_hits_from_matches(F.col(tmpm)).alias(tmp))))
    )
    return staged.withColumn(out_col, _ident_from_hits(F.col(tmp))).drop(
        tmpm, tmp
    )


def identify(df: DataFrame, text_col: str = "text", out_col: str = "identification",
             use_model: bool = True) -> DataFrame:
    if use_model:
        return df.withColumn(out_col, langid_model_udf()(F.col(text_col)))
    return identify_staged(df, text_col, out_col)


def _ident_from_hits(h: Column) -> Column:
    """struct<label,prob> from an already-evaluated per-language
    hit-count array. ``h`` must be a cheap reference (a lambda variable
    or a generator's output column) — every regex scan happened upstream,
    so the repeated references under ``when()`` here cost only array
    reads."""
    best = F.array_max(h)
    idx = F.array_position(h, best).cast("int")  # first max = LANGID_ORDER tie-break
    total = sum(
        [F.element_at(h, i + 1) for i in range(1, len(LANGID_ORDER))],
        F.element_at(h, 1),
    )
    labels = F.array(*[F.lit(lang) for lang in LANGID_ORDER])
    label = F.when(best == 0, F.lit(LANGID_UNKNOWN)).otherwise(F.element_at(labels, idx))
    prob = F.when(best == 0, F.lit(0.0)).otherwise(
        best.cast("double") / total.cast("double")
    )
    return F.struct(label.alias("label"), prob.cast("float").alias("prob"))


def sentence_identifications_expr(text: Column) -> Column:
    """Per-line identification array aligned with split(text, '\\n'),
    NULL entry for empty/unidentifiable lines (reference
    oscar_doc.rs:365-380 has a null at :371). No explode/shuffle.

    Staged per-line shape: an inner ``transform`` materializes the
    per-language hit-count array for every line (each stopword regex
    runs EXACTLY once per line), and the ``zip_with`` consumer derives
    label/prob from the bound hit array. The previous formulation
    inlined ``langid_expr`` directly in the lambda, where its ~4
    conditional references to the best-hits struct re-ran all five
    regex scans per reference (interpreted HOFs have no CSE — the
    pitfall this repo measured at 4x on doc-level langid; see README
    "Design rules"). Bit-identical output, ~4x less regex work.
    """
    lines = F.split(text, "\n")
    # r8: two cuts over the r7 shape, both value-identical. (a) stage
    # lower(line) in its own transform — interpreted HOF lambdas have
    # no CSE, so inlining the per-language scans re-ran lower() once
    # per LANGUAGE per line. (b) ONE combined stopword scan per line +
    # per-language membership counts instead of five alternation scans
    # (COMBINED_STOPWORD_PATTERN equivalence note; bench sentence_ids
    # 1.67s -> 1.02s at sf0.1/32 over 574k turns).
    lowers = F.transform(lines, lambda line: F.lower(line))
    matches = F.transform(
        lowers,
        lambda low: F.regexp_extract_all(
            low, F.lit(COMBINED_STOPWORD_PATTERN), 1
        ),
    )
    hits = F.transform(matches, lambda mm: _hits_from_matches(mm))
    return F.zip_with(
        lines, hits, lambda line, h: F.when(F.length(line) > 0, _ident_from_hits(h))
    )
