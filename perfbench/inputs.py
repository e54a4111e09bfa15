"""Seeded, cached inputs for the three workloads.

Every input is a pure function of ``(workload, seed)``. Generation runs
in the benchmark process before the Spark session starts, so its cost
never lands in a timed region, and the job under test only ever sees the
files written here. A finished input directory carries a ``_DONE``
marker, so a rerun with the same seed reuses it.

* transcripts: the table ``datagen.synth_transcripts(spark, n, seed)``
  builds, produced row by row from the same pure functions
  (``n_turns_for``, ``role_for``, ``gen_turn_text``) so no session is
  needed. Includes the 1/997 mega-conversations and the injected
  tag/PII mix.
* web: CommonCrawl-style WET shards written with ``sources.wet.synth_wet``:
  sentence-punctuated English paragraphs, a shared cookie-banner
  paragraph on most documents (a hot dedup key), planted exact and
  near-duplicate mirrors, ~10% non-English documents and a few hosts
  holding most documents.
* incremental: a history of conversations, reduced to its digest table,
  plus a new batch in which a fixed share of conversations repeat a
  history conversation verbatim under a new id.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import random
import shutil
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from oscar_tools_spark import datagen
from oscar_tools_spark.operators.dedup import DIGEST_VERSION
from oscar_tools_spark.sources.wet import synth_wet

INPUT_VERSION = 1
N_FILES = 4  # one input file per core, so the scan runs 4-wide

# input sizes, chosen so one job takes seconds on 4 cores; the warm-up
# slice is a tenth of each, always built from seed 0
SIZES = {
    "transcript_convs": 1000,  # 1 mega-conversation, ~12k turns
    "web_docs": 80,
    "history_convs": 800,
    "batch_fresh_convs": 600,
    "batch_repeat_convs": 150,  # 20% of the batch repeats the history
}
WARMUP_SEED = 0

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


def ensure(cache_root: str, workload: str, seed: int, warmup: bool = False) -> str:
    """Directory holding the inputs of ``(workload, seed)``, or of the
    fixed warm-up slice; built on first use."""
    if warmup:
        seed, tag = WARMUP_SEED, "warmup"
        sizes = {k: v // 10 for k, v in SIZES.items()}
    else:
        tag, sizes = f"s{seed}", SIZES
    key = hashlib.md5(json.dumps([INPUT_VERSION, sizes], sort_keys=True).encode()).hexdigest()[:8]
    path = os.path.join(cache_root, f"{workload}-{tag}-{key}")
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    BUILDERS[workload](path, seed, sizes)
    with open(os.path.join(path, "_DONE"), "w") as f:
        f.write("ok\n")
    return path


def load_meta(path: str) -> dict:
    with open(os.path.join(path, "meta.json")) as f:
        return json.load(f)


def _write_meta(path: str, meta: dict) -> None:
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(meta, f)


# ------------------------------------------------------------ transcripts


def conversation(conv_idx: int, seed: int) -> list[dict]:
    """One conversation's rows, exactly as ``synth_transcripts`` builds
    them for ``(conv_idx, seed)``."""
    conv_id = datagen.conv_id_for(conv_idx)
    rows = []
    for t in range(datagen.n_turns_for(conv_idx, seed)):
        role, tool = datagen.role_for(conv_idx, t, seed)
        rows.append(
            {
                "conv_id": conv_id,
                "turn_idx": t,
                "role": role,
                "text": datagen.gen_turn_text(conv_id, t, seed),
                "tool": tool,
                "ts": _EPOCH + timedelta(seconds=conv_idx * 3600 + t * 7),
            }
        )
    return rows


def _write_table(dir_path: str, convs: list[list[dict]]) -> int:
    """Write conversations as N_FILES parquet files (conversations never
    straddle files); returns the row count."""
    os.makedirs(dir_path, exist_ok=True)
    n_rows = 0
    for k in range(N_FILES):
        rows = [r for conv in convs[k::N_FILES] for r in conv]
        n_rows += len(rows)
        pq.write_table(
            pa.Table.from_pylist(rows, schema=TRANSCRIPT_SCHEMA),
            os.path.join(dir_path, f"part-{k:05d}.parquet"),
        )
    return n_rows


def _build_transcripts(path: str, seed: int, sizes: dict) -> None:
    convs = [conversation(i, seed) for i in range(sizes["transcript_convs"])]
    n_rows = _write_table(os.path.join(path, "transcripts"), convs)
    _write_meta(path, {"rows": n_rows, "conversations": len(convs)})


def conversation_digest(texts: list[str | None]) -> str:
    """``operators.dedup.conversation_digests`` for one conversation
    whose turn texts are given in turn order: md5 over the
    concatenated per-turn md5 hex digests."""
    blocks = "".join(hashlib.md5((t or "").encode()).hexdigest() for t in texts)
    return hashlib.md5(blocks.encode()).hexdigest()


def _build_incremental(path: str, seed: int, sizes: dict) -> None:
    rng = random.Random(f"incremental:{seed}")
    n_hist, n_fresh = sizes["history_convs"], sizes["batch_fresh_convs"]
    history = [conversation(i, seed) for i in range(n_hist)]
    fresh = [conversation(i, seed) for i in range(n_hist, n_hist + n_fresh)]
    repeats = []
    for j, src in enumerate(rng.sample(history, sizes["batch_repeat_convs"])):
        conv_id = datagen.conv_id_for(n_hist + n_fresh + j)
        repeats.append([{**r, "conv_id": conv_id} for r in src])
    batch = fresh + repeats
    rng.shuffle(batch)
    n_rows = _write_table(os.path.join(path, "batch"), batch)

    hist_digests = {conversation_digest([r["text"] for r in c]) for c in history}
    os.makedirs(os.path.join(path, "history_digests"))
    pq.write_table(
        pa.table(
            {
                "conv_id": [c[0]["conv_id"] for c in history],
                "digest": [conversation_digest([r["text"] for r in c]) for c in history],
                "digest_version": [DIGEST_VERSION] * len(history),
            }
        ),
        os.path.join(path, "history_digests", "part-00000.parquet"),
    )
    # expected survivors: not in the history, and the smallest conv_id
    # among batch conversations sharing a digest
    winners: dict[str, str] = {}
    for conv in batch:
        d = conversation_digest([r["text"] for r in conv])
        if d in hist_digests:
            continue
        cid = conv[0]["conv_id"]
        if d not in winners or cid < winners[d]:
            winners[d] = cid
    _write_meta(
        path,
        {
            "rows": n_rows,
            "conversations": len(batch),
            "repeat_ids": sorted(c[0]["conv_id"] for c in repeats),
            "expected_ids": sorted(winners.values()),
        },
    )


# -------------------------------------------------------------------- web

# English content words: none of them is a stopword of another
# language in functions.lexicons.LANGID_STOPWORDS
_EN_WORDS = (
    "data system network river market city garden window teacher student "
    "report company market station engine village weather history science "
    "family music project energy service travel coffee kitchen library "
    "mountain ocean camera program model reader writer museum bridge "
    "harbor forest summer winter morning evening region country policy "
    "product design software hardware question answer result method "
    "simple careful quick bright quiet modern local public private "
    "useful early later often always rarely clearly slowly carefully"
).split()
_EN_STOP = "the and of to in that is for with have be on it as was".split()
_BOILERPLATE = (
    "This website uses cookies to improve your experience and to analyse "
    "our traffic. By continuing to browse the site you agree to our use "
    "of cookies."
)
_NAV = "Home | News | About us | Contact | Login"
_BIG_HOSTS = [("news.example.com", 0.30), ("blog.example.org", 0.20), ("shop.example.net", 0.10)]
_N_SMALL_HOSTS = 60
_NON_EN_LANGS = ("fr", "de", "es")


def _sentence(rng: random.Random, words: list[str], stop: list[str]) -> str:
    n = rng.randrange(8, 16)
    toks = [rng.choice(stop) if rng.random() < 0.35 else rng.choice(words) for _ in range(n)]
    s = " ".join(toks)
    return s[0].upper() + s[1:] + "."


def _paragraph(rng: random.Random, words: list[str], stop: list[str]) -> str:
    return " ".join(_sentence(rng, words, stop) for _ in range(rng.randrange(3, 6)))


def _host(rng: random.Random) -> str:
    x = rng.random()
    for host, share in _BIG_HOSTS:
        if x < share:
            return host
        x -= share
    return f"site{rng.randrange(_N_SMALL_HOSTS)}.example.info"


def web_documents(seed: int, n_docs: int) -> tuple[list[tuple[str, str, str]], list[dict]]:
    """``(records, planted)``: WET records ``(url, date, text)`` and the
    planted duplicate groups ``{"kind", "urls"}``."""
    rng = random.Random(f"web:{seed}")
    docs: list[tuple[str, str]] = []  # (url, text)
    plain_en: list[tuple[str, list[str]]] = []  # English docs without boilerplate
    n_mirrors = n_docs // 40  # per mirror kind
    n_base = n_docs - 3 * n_mirrors
    for i in range(n_base):
        host = _host(rng)
        x = rng.random()
        if x < 0.10:
            lang = rng.choice(_NON_EN_LANGS)
            words = datagen.LID_WORDS[lang]
            paras = [_paragraph(rng, words, words) for _ in range(rng.randrange(3, 7))]
            url = f"https://{host}/{lang}/{i}"
        elif x < 0.18:
            paras = [_NAV, _sentence(rng, _EN_WORDS, _EN_STOP)]
            url = f"https://{host}/teaser/{i}"
        else:
            paras = [_paragraph(rng, _EN_WORDS, _EN_STOP) for _ in range(rng.randrange(4, 8))]
            if rng.random() < 0.5:
                paras.insert(0, _NAV)
            url = f"https://{host}/article/{i}"
            if rng.random() < 0.8:
                paras.append(_BOILERPLATE)
            else:
                plain_en.append((url, paras))
        docs.append((url, "\n\n".join(paras)))

    planted = []
    for k, (orig_url, paras) in enumerate(rng.sample(plain_en, 3 * n_mirrors)):
        kind = ("copy", "reflow", "near")[k // n_mirrors]
        if kind == "copy":  # byte-identical copy: paragraph dedup empties it
            text = "\n\n".join(paras)
        elif kind == "reflow":  # one line per paragraph: equal after C4 joins lines
            text = "\n".join(paras)
        else:  # punctuation differs, the words do not: minhash catches it
            text = "\n\n".join(p.replace(".", "!") for p in paras)
        url = f"https://{_host(rng)}/mirror-{kind}/{k}"
        docs.append((url, text))
        planted.append({"kind": kind, "urls": [orig_url, url]})

    order = list(range(len(docs)))
    rng.shuffle(order)
    base_date = datetime(2024, 3, 1, tzinfo=timezone.utc)
    records = [
        (docs[j][0], (base_date + timedelta(minutes=j)).strftime("%Y-%m-%dT%H:%M:%SZ"), docs[j][1])
        for j in order
    ]
    return records, planted


def _build_web(path: str, seed: int, sizes: dict) -> None:
    records, planted = web_documents(seed, sizes["web_docs"])
    wet_dir = os.path.join(path, "wet")
    os.makedirs(wet_dir)
    for k in range(N_FILES):
        with open(os.path.join(wet_dir, f"part-{k:05d}.warc.wet.gz"), "wb") as f:
            f.write(gzip.compress(synth_wet(records[k::N_FILES]), compresslevel=6))
    # the host cap binds on the two biggest hosts
    cap = len(records) // 8
    _write_meta(path, {"rows": len(records), "planted": planted, "cap_per_host": cap})


BUILDERS = {
    "curate_transcripts": _build_transcripts,
    "ingest_web": _build_web,
    "curate_incremental": _build_incremental,
}
