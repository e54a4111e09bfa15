"""The north-rule curation pipeline: langid -> quality annotation ->
tag-filter -> PII/toxicity scrub, over transcripts(conv_id, turn_idx,
role, text, tool, ts).

Composition of the per-operator modules; each stage is a pure
``DataFrame -> DataFrame`` function, so the whole pipeline is ONE
Catalyst plan — langid UDF, annotation expressions, the filter
predicate, and the scrub chain all fuse into a single narrow
scan->project->filter stage with no shuffle. The only shuffles in a
full job are the ones the *writer* asks for (conversation-intact
repartition) — verified by tests asserting no Exchange in the plan.

Lineage columns (north rule): ``model_versions`` (langid + perplexity
model ids), ``rule_hits`` (scrub rules fired), ``source_part`` (input
split the row came from).
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import langid as langid_mod
from ..functions import perplexity as ppl_mod
from ..functions.annotations import annotate
from ..functions.lexicons import ALL_TAGS
from ..operators.filter_tags import keep_expr_from_text, validate_tag_sets
from ..operators.scrub import scrub


@dataclass
class CurationConfig:
    include: frozenset[str] = frozenset()
    exclude: frozenset[str] = frozenset({"adult", "noisy"})
    clean: bool = False
    use_model_langid: bool = True
    with_perplexity: bool = True
    keep_dropped: bool = False  # keep all rows, exposing the `keep` flag
    # model-swap seams (see langid_model_udf / perplexity_udf): batch
    # scorers captured by value into the UDF closures — how a real
    # fastText / KenLM model plugs into the pipeline. None = built-ins.
    langid_score_batch: object = None  # (pd.Series) -> (labels, probs)
    ppl_score_batch: object = None  # (pd.Series) -> array-like of float
    # version strings recorded in row lineage + resumable manifests.
    # REQUIRED (in spirit) when swapping in a custom scorer: left None
    # with a custom scorer, lineage records 'custom-unversioned'
    # rather than misattributing the data to the built-in models.
    langid_model_version: str | None = None
    ppl_model_version: str | None = None
    # optional pre-filter stages (both narrow projections/filters, so
    # the one-plan/no-shuffle property is preserved; off by default to
    # keep the reference F1 contract untouched):
    # C4 line cleaning BEFORE annotation (rewrites text), with
    # per-turn-appropriate defaults (min_kept_lines=1: turns are short)
    c4_line_clean: bool = False
    c4_min_words: int = 5
    c4_require_terminal_punct: bool = False
    # Gopher rule battery as an additional keep condition (thresholds
    # overridable via gopher_overrides, e.g. {"min_words": 10} for
    # turn-length text)
    gopher_filter: bool = False
    gopher_overrides: dict | None = None

    def __post_init__(self):
        # only the built-in tags have text conditions: fail here, not mid-job
        validate_tag_sets(self.include, self.exclude, ALL_TAGS)


MODEL_VERSIONS = f"langid={langid_mod.MODEL_VERSION};ppl={ppl_mod.MODEL_VERSION}"


def model_versions_for(cfg: "CurationConfig") -> str:
    """The lineage version string for a config — tracks swapped-in
    scorers instead of always stamping the built-ins."""
    lid = cfg.langid_model_version or (
        "custom-unversioned"
        if cfg.langid_score_batch is not None
        else langid_mod.MODEL_VERSION
    )
    ppl = cfg.ppl_model_version or (
        "custom-unversioned"
        if cfg.ppl_score_batch is not None
        else ppl_mod.MODEL_VERSION
    )
    return f"langid={lid};ppl={ppl}"


def fused_model_udf(langid_batch=None, ppl_batch=None):
    """langid + perplexity in ONE Arrow round-trip.

    Each pandas UDF ships the full text column JVM->Python and results
    back; two separate model UDFs pay that serialization twice. The
    fused UDF runs both batch scorers on the same arrived batch —
    measured as the dominant scaling cost of the model pipeline at low
    core counts (BENCH/BASELINE.md). Created lazily (pandas_udf needs
    an active session). ``langid_batch`` / ``ppl_batch`` are the
    model-swap seams (same contracts as langid_model_udf /
    perplexity_udf; captured by value, shipped to workers)."""
    lid = langid_batch or langid_mod._score_batch
    ppl_fn = ppl_batch or ppl_mod._score_batch

    @F.pandas_udf("struct<label:string, prob:float, ppl:double>")
    def _udf(texts: pd.Series) -> pd.DataFrame:
        labels, probs = lid(texts)
        ppl = ppl_fn(texts)
        return pd.DataFrame({"label": labels, "prob": probs, "ppl": ppl})

    return _udf


def annotate_stage(df: DataFrame, cfg: CurationConfig, text_col: str = "text") -> DataFrame:
    text = F.col(text_col)
    out = annotate(df, text_col)
    if cfg.use_model_langid and cfg.with_perplexity:
        # one Python round-trip for both models; ExtractPythonUDFs
        # evaluates the (canonically equal) UDF call once and the
        # downstream projection just picks struct fields
        m = fused_model_udf(cfg.langid_score_batch, cfg.ppl_score_batch)(text)
        out = (
            out.withColumn(
                "identification",
                F.struct(
                    m.getField("label").alias("label"),
                    m.getField("prob").alias("prob"),
                ),
            )
            .withColumn("perplexity", m.getField("ppl"))
        )
    elif cfg.use_model_langid:
        out = out.withColumn(
            "identification",
            langid_mod.langid_model_udf(cfg.langid_score_batch)(text),
        )
    else:
        # staged shape: the combined stopword scan runs once per row
        # instead of once per conditional reference, also under a
        # filter on the identification
        out = langid_mod.identify_staged(out, text_col)
        if cfg.with_perplexity:
            out = out.withColumn(
                "perplexity", ppl_mod.perplexity_udf(cfg.ppl_score_batch)(text)
            )
    return out


def filter_stage(df: DataFrame, cfg: CurationConfig, text_col: str = "text") -> DataFrame:
    """Filter with the truth table over the raw text conditions
    (keep_expr_from_text), not the annotations array: the predicate is
    independent of the annotation projection, so Catalyst pushes it to
    the scan and dropped rows never pay for annotations/langid/scrub.
    Agrees with keep_expr(annotations) on every <=1-tag config (tested)."""
    keep = keep_expr_from_text(F.col(text_col), cfg.include, cfg.exclude, cfg.clean)
    if cfg.keep_dropped:
        return df.withColumn("keep", keep)
    return df.filter(keep)


def scrub_stage(df: DataFrame, cfg: CurationConfig, text_col: str = "text") -> DataFrame:
    return scrub(df, text_col)


def lineage_stage(df: DataFrame, versions: str = MODEL_VERSIONS) -> DataFrame:
    """Adds model_versions + source_part lineage. ``input_file_name()``
    is legal only in a SINGLE-source plan — callers that join the input
    with side state (e.g. the incremental digest table) must capture
    ``source_part`` at read time; a pre-existing column is kept as-is."""
    out = df.withColumn("model_versions", F.lit(versions))
    if "source_part" not in df.columns:
        out = out.withColumn(
            "source_part", F.coalesce(F.input_file_name(), F.lit(""))
        )
    return out


def prefilter_stage(df: DataFrame, cfg: CurationConfig, text_col: str = "text") -> DataFrame:
    """The optional stages ahead of annotation (cfg.c4_line_clean,
    cfg.gopher_filter), both narrow projections/filters. A corpus-fit
    perplexity LM trains on this stage's output: the text it scores."""
    out = df
    if cfg.c4_line_clean:
        from ..operators.c4_clean import c4_annotate, c4_clean

        # audit mode contract: keep ALL rows — annotate the C4 verdict
        # + cleaned text instead of dropping docs
        stage = c4_annotate if cfg.keep_dropped else c4_clean
        out = stage(
            out,
            text_col=text_col,
            min_words=cfg.c4_min_words,
            require_terminal_punct=cfg.c4_require_terminal_punct,
            min_kept_lines=1,
        )
    if cfg.gopher_filter:
        from ..functions.gopher import gopher_keep_expr, gopher_reasons_expr

        text, overrides = F.col(text_col), cfg.gopher_overrides or {}
        gk = gopher_keep_expr(text, **overrides)
        if cfg.keep_dropped:
            out = out.withColumn("gopher_keep", gk).withColumn(
                "gopher_reasons", F.concat_ws("|", gopher_reasons_expr(text, **overrides))
            )
        else:
            out = out.filter(gk)
    return out


def curate(df: DataFrame, cfg: CurationConfig | None = None, text_col: str = "text") -> DataFrame:
    """The full pipeline as one narrow plan: every stage is a
    projection/filter, so it compiles to a single codegen pass."""
    cfg = cfg or CurationConfig()
    out = prefilter_stage(df, cfg, text_col)
    out = annotate_stage(out, cfg, text_col)
    out = filter_stage(out, cfg)
    out = scrub_stage(out, cfg, text_col)
    return lineage_stage(out, model_versions_for(cfg))


# ------------------------------------------------- conversation partitioning


def repartition_conversations(
    df: DataFrame,
    num_partitions: int,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    mega_threshold: int = 1000,
) -> DataFrame:
    """Salted repartition keeping conversations intact except for
    mega-conversations (north rule: explicit skew handling).

    Normal conversations hash-partition by conv_id alone (turns stay
    together). Conversations with > mega_threshold turns get a salt of
    ceil(n/mega_threshold) values so one 10^4-turn conversation spreads
    over several partitions instead of stranding one executor. The
    turn-count side is a broadcast join (tiny: one row per mega-conv).
    """
    counts = (
        df.groupBy(conv_col)
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > mega_threshold)
    )
    salted = df.join(F.broadcast(counts), conv_col, "left").withColumn(
        "_salt",
        F.when(
            F.col("_n").isNotNull(),
            F.pmod(F.col(turn_col), F.ceil(F.col("_n") / mega_threshold)),
        ).otherwise(F.lit(0)),
    )
    return salted.repartition(num_partitions, F.col(conv_col), F.col("_salt")).drop(
        "_n", "_salt"
    )
