"""The three workloads.

Each one runs its job's module chain the way the job script does it
(same calls, same arguments, same order), with a span around every call
into a module; checks the committed output; and lists the chain's
prefixes for the traced run's marginal-time ladder.

* ``curate_transcripts`` — ``jobs/curate_job.py`` default path.
* ``ingest_web`` — ``jobs/ingest_wet_job.py`` with every stage on.
* ``curate_incremental`` — ``jobs/curate_job.py --seen-digests ...
  --emit-digests ... --no-model``.
"""

from __future__ import annotations

import importlib.util
import os
import random
from collections import Counter

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from oscar_tools_spark.functions.annotations import annotations_expr
from oscar_tools_spark.functions.gopher import gopher_keep_expr
from oscar_tools_spark.functions.langid import identify_staged
from oscar_tools_spark.operators.c4_clean import c4_clean
from oscar_tools_spark.operators.dedup import (
    conversation_digests,
    dedup_conversations_incremental,
    dedup_docs_exact,
    dedup_minhash_lsh,
    dedup_paragraphs,
)
from oscar_tools_spark.operators.normalize import normalize_text_expr
from oscar_tools_spark.operators.urlblock import cap_per_host
from oscar_tools_spark.plans.checkpoint import run_resumable
from oscar_tools_spark.plans.materialize import materialize
from oscar_tools_spark.plans.pipeline import (
    CurationConfig,
    annotate_stage,
    curate,
    filter_stage,
    model_versions_for,
    scrub_stage,
)
from oscar_tools_spark.sources.tables import TableIO
from oscar_tools_spark.sources.wet import read_wet

import inputs

N_BUCKETS = 64  # jobs/curate_job.py --buckets default
SAMPLE_CONVS = 60  # conversations checked against the reference model


def _reference_model(root: str):
    path = os.path.join(root, "tests", "reference_model.py")
    spec = importlib.util.spec_from_file_location("reference_model", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _job_metrics() -> dict:
    """The observe metrics ``jobs/curate_job.py`` hands to run_resumable."""
    return {
        "kept_turns": F.count(F.lit(1)),
        "scrubbed_turns": F.coalesce(
            F.sum((F.size(F.col("rule_hits")) > 0).cast("bigint")), F.lit(0)
        ),
    }


def _manifest_totals(manifest: dict) -> dict:
    """Rows in and observe metrics summed over passes (every record of
    one pass repeats the pass totals)."""
    passes = {}
    for rec in manifest.values():
        passes[rec["seconds"], rec["rows_in_pass"]] = rec
    totals = Counter()
    for rec in passes.values():
        totals["rows_in"] += rec["rows_in_pass"]
        totals.update(rec.get("metrics") or {})
    totals["rows"] = sum(rec["rows"] for rec in manifest.values())
    totals["buckets"] = len(manifest)
    return dict(totals)


class Workload:
    """One job over one generated input. Subclasses define the chain."""

    name = ""
    source_dir = ""  # input subdirectory the job reads

    def __init__(self, spark, spans, input_dir: str, root: str):
        self.spark = spark
        self.span = spans
        self.input_dir = input_dir
        self.meta = inputs.load_meta(input_dir)
        self.root = root

    @property
    def source(self) -> str:
        return os.path.join(self.input_dir, self.source_dir)

    @property
    def input_rows(self) -> int:
        return self.meta["rows"]

    def run(self, out_dir: str) -> dict:
        raise NotImplementedError

    def check(self, out_dir: str, facts: dict, corrupt: bool = False) -> list[str]:
        """Problems found in the committed output (empty when correct).
        ``corrupt=True`` damages the collected output first; the check
        must then report a problem."""
        raise NotImplementedError

    def ladder(self) -> list[tuple[str | None, object]]:
        """``(module, build)`` prefixes of the chain in order; a module's
        marginal time is its prefix's time minus the previous one's."""
        raise NotImplementedError

    def max_key_rows(self) -> int:
        return 0


# ------------------------------------------------------------------ curate


class CurateTranscripts(Workload):
    name = "curate_transcripts"
    source_dir = "transcripts"
    cfg = CurationConfig()  # the job's defaults: exclude adult, noisy; model on

    def _transform(self, part):
        with self.span("plans.pipeline"):
            return curate(part, self.cfg)

    def run(self, out_dir: str) -> dict:
        io = TableIO(self.spark)
        with self.span("sources"):
            df = io.read(self.source)
        with self.span("plans.checkpoint"):
            manifest = run_resumable(
                df,
                self._transform,
                out_dir,
                n_buckets=N_BUCKETS,
                observe_metrics=_job_metrics(),
                model_versions=model_versions_for(self.cfg),
            )
        return _manifest_totals(manifest)

    def _expected(self, conv_ids: list[str]) -> dict:
        ref = _reference_model(self.root)
        table = pq.read_table(self.source, filters=[("conv_id", "in", conv_ids)])
        expected = {}
        for r in table.select(["conv_id", "turn_idx", "text"]).to_pylist():
            keep = ref.ref_filter_keep(
                ref.ref_annotations(r["text"]),
                set(self.cfg.include),
                set(self.cfg.exclude),
                self.cfg.clean,
            )
            if keep:
                expected[r["conv_id"], r["turn_idx"]] = ref.ref_scrub(r["text"])
        return expected

    def check(self, out_dir, facts, corrupt=False):
        problems = []
        if facts["buckets"] != N_BUCKETS:
            problems.append(f"{facts['buckets']} buckets committed, want {N_BUCKETS}")
        if facts["rows_in"] != self.input_rows:
            problems.append(f"rows_in {facts['rows_in']} != input {self.input_rows}")
        n_convs = self.meta["conversations"]
        rng = random.Random(f"check:{self.name}:{n_convs}:{self.input_rows}")
        sample = sorted({f"conv_{rng.randrange(n_convs):08d}" for _ in range(SAMPLE_CONVS)})
        got = {
            (r.conv_id, r.turn_idx): (r.text, list(r.rule_hits))
            for r in self.spark.read.parquet(out_dir)
            .filter(F.col("conv_id").isin(sample))
            .select("conv_id", "turn_idx", "text", "rule_hits")
            .collect()
        }
        if corrupt and got:
            key = min(got)
            got[key] = (got[key][0] + " ", got[key][1])
        return problems + _compare_turns(self._expected(sample), got)

    def _prefixes(self, df):
        cfg = self.cfg
        return [
            ("sources", lambda: df),
            ("functions.annotations", lambda: df.withColumn("annotations", annotations_expr(F.col("text")))),
            ("functions.model_udf", lambda: annotate_stage(df, cfg)),
            ("operators.filter_tags", lambda: filter_stage(annotate_stage(df, cfg), cfg)),
            ("operators.scrub", lambda: scrub_stage(filter_stage(annotate_stage(df, cfg), cfg), cfg)),
            ("plans.pipeline", lambda: curate(df, cfg)),
        ]

    def ladder(self):
        return self._prefixes(self.spark.read.parquet(self.source))


def _compare_turns(expected: dict, got: dict) -> list[str]:
    problems = []
    for key in sorted(set(expected) | set(got)):
        if key not in got:
            problems.append(f"turn {key} should be kept")
        elif key not in expected:
            problems.append(f"turn {key} should be dropped")
        else:
            want_text, want_hits = expected[key]
            if got[key] != (want_text, want_hits):
                problems.append(f"turn {key} scrub differs from the reference")
    return problems[:5]


class CurateIncremental(CurateTranscripts):
    name = "curate_incremental"
    source_dir = "batch"
    cfg = CurationConfig(use_model_langid=False, with_perplexity=False)  # --no-model

    def _dedup(self, io, df):
        return dedup_conversations_incremental(df, io.read(os.path.join(self.input_dir, "history_digests")))

    def _read(self, io):
        # the job captures lineage at read time once the plan has a join
        return io.read(self.source).withColumn(
            "source_part", F.coalesce(F.input_file_name(), F.lit(""))
        )

    def run(self, out_dir: str) -> dict:
        io = TableIO(self.spark)
        with self.span("sources"):
            df = self._read(io)
        with self.span("operators.dedup"):
            df = self._dedup(io, df)
        with self.span("plans.materialize"):
            df = materialize(df)
        with self.span("sinks"):
            io.write(conversation_digests(df), out_dir + "_digests")
        with self.span("plans.checkpoint"):
            manifest = run_resumable(
                df,
                self._transform,
                out_dir,
                n_buckets=N_BUCKETS,
                observe_metrics=_job_metrics(),
                model_versions=model_versions_for(self.cfg),
            )
        return _manifest_totals(manifest)

    def check(self, out_dir, facts, corrupt=False):
        expected = set(self.meta["expected_ids"])
        emitted = {r.conv_id for r in self.spark.read.parquet(out_dir + "_digests").select("conv_id").collect()}
        kept = {r.conv_id for r in self.spark.read.parquet(out_dir).select("conv_id").distinct().collect()}
        if corrupt:
            emitted.add(self.meta["repeat_ids"][0])
        problems = []
        if emitted != expected:
            problems.append(
                f"surviving conversations differ: {len(emitted - expected)} extra, "
                f"{len(expected - emitted)} missing"
            )
        if not kept <= expected:
            problems.append(f"{len(kept - expected)} curated conversations were deduplicated away")
        if facts["buckets"] != N_BUCKETS:
            problems.append(f"{facts['buckets']} buckets committed, want {N_BUCKETS}")
        return problems

    def ladder(self):
        io = TableIO(self.spark)
        base = self._read(io)
        deduped = self._dedup(io, base)
        steps = [("sources", lambda: base), ("operators.dedup.incremental", lambda: deduped)]
        pinned = materialize(deduped)
        # the curate stages run over the pinned batch, as in the job; the
        # pinned scan itself is the baseline they are measured against
        steps.append((None, lambda: pinned))
        steps += self._prefixes(pinned)[1:]
        # expression langid sits where the model UDF sits in the default path
        return [("functions.langid" if m == "functions.model_udf" else m, b) for m, b in steps]

    def max_key_rows(self) -> int:
        # conversation_digests groups every turn of a conversation
        return self.spark.read.parquet(self.source).groupBy("conv_id").count().agg(F.max("count")).first()[0]


# --------------------------------------------------------------------- web


class IngestWeb(Workload):
    name = "ingest_web"
    source_dir = "wet"
    langs = ["en"]

    def _read(self):
        return read_wet(self.spark, self.source).select(
            F.concat_ws(":", "source_part", "record_idx").alias("doc_uid"),
            F.col("target_uri").alias("url"),
            "warc_date",
            "text",
        )

    def _stages(self):
        """``(module, stage)`` in the job's fixed order."""

        def langid(df):
            df = identify_staged(df)
            df = df.withColumns(
                {"lang": F.col("identification.label"), "lang_prob": F.col("identification.prob")}
            ).drop("identification")
            return df.filter(F.col("lang").isin(self.langs) & (F.col("lang_prob") >= 0.0))

        return [
            ("operators.urlblock", lambda df: cap_per_host(df, self.meta["cap_per_host"], ["doc_uid"])),
            ("operators.normalize", lambda df: df.withColumn("text", normalize_text_expr(F.col("text")))),
            ("functions.langid", langid),
            (
                "operators.dedup.paragraphs",
                lambda df: dedup_paragraphs(df, ["doc_uid"]).join(df.drop("text"), "doc_uid"),
            ),
            ("operators.c4_clean", c4_clean),
            ("functions.gopher", lambda df: df.filter(gopher_keep_expr(F.col("text")))),
            ("operators.dedup.exact", lambda df: dedup_docs_exact(df, ["doc_uid"])),
            ("operators.dedup.minhash", lambda df: dedup_minhash_lsh(df, "doc_uid")),
        ]

    def run(self, out_dir: str) -> dict:
        with self.span("sources"):
            df = self._read()
            rows_in = df.count()
        for module, stage in self._stages():
            with self.span(module):
                df = stage(df)
        with self.span("sinks"):
            with self.span("sinks.write"):
                df.write.mode("overwrite").parquet(out_dir)
            rows_out = self.spark.read.parquet(out_dir).count()
        return {"rows_in": rows_in, "rows": rows_out}

    def check(self, out_dir, facts, corrupt=False):
        rows = [r.asDict() for r in self.spark.read.parquet(out_dir).select("url", "lang", "text").collect()]
        if corrupt and rows:
            rows.append(dict(rows[0]))
        problems = []
        if not 0 < facts["rows"] <= facts["rows_in"]:
            problems.append(f"rows out {facts['rows']} vs rows in {facts['rows_in']}")
        if facts["rows_in"] != self.input_rows:
            problems.append(f"read {facts['rows_in']} documents, wrote {self.input_rows}")
        langs = Counter(r["lang"] for r in rows)
        if set(langs) - {"en"}:
            problems.append(f"non-English documents kept: {dict(langs)}")
        dup = sum(n - 1 for n in Counter(r["text"] for r in rows).values() if n > 1)
        if dup:
            problems.append(f"{dup} kept documents repeat another's text")
        urls = Counter(r["url"] for r in rows)
        both = [g for g in self.meta["planted"] if sum(urls[u] for u in g["urls"]) > 1]
        if both:
            problems.append(f"{len(both)} planted duplicate groups kept twice: {both[0]}")
        return problems

    def ladder(self):
        df = self._read()
        steps = [("sources", df)]
        for module, stage in self._stages():
            df = stage(df)
            steps.append((module, df))
        return [(m, (lambda d=d: d)) for m, d in steps]

    def max_key_rows(self) -> int:
        # the paragraph-digest window partition of dedup_paragraphs
        df = self._read()
        for module, stage in self._stages()[:3]:
            df = stage(df)
        paras = df.select(F.explode(F.split(F.coalesce(F.col("text"), F.lit("")), "\n\n")).alias("p"))
        return paras.groupBy(F.md5("p")).count().agg(F.max("count")).first()[0]


WORKLOADS = {w.name: w for w in (CurateTranscripts, IngestWeb, CurateIncremental)}
