"""Corpus snapshot diffing.

Web-scale corpora are re-crawled and re-curated continuously; the
operational question between two snapshots is "what changed?" —
which documents were added, removed, or rewritten — both for lineage
reporting and for incremental downstream passes (only ``added`` /
``changed`` docs need re-scoring, re-dedup, re-scrub).

``corpus_diff`` answers it with a digest full-outer join: each side is
reduced to (keys, md5(text)) before the join, so the shuffle moves
~48 bytes/doc regardless of document size — the same "state is a
digest table, never the corpus" design as the incremental dedup
family (dedup.corpus_digests). Text itself never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import text_digest_expr


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    text_col: str = "text",
    status_col: str = "status",
) -> DataFrame:
    """One row per document key present in either snapshot, labelled
    ``added`` (new only), ``removed`` (old only), ``changed`` (both,
    different text digest), or ``unchanged``.

    Join keys must be non-null (a full-outer join never matches NULL
    keys, so a null-keyed doc would show up once per side as a
    spurious added+removed pair) — run transcripts.validate_transcripts
    first; null TEXT is fine (coalesced into the digest, matching the
    dedup family's null handling). Duplicate key tuples WITHIN a
    snapshot are reduced to one row (the MIN digest per key) before the
    join — without that, an m-dup key in old joined to an n-dup key in
    new fans out m·n contradictory status rows. The min-digest
    canonicalization means "changed" is judged between each side's
    lexicographically-smallest text version; dedup first if another
    winner rule matters. The groupBy is shuffle-free extra cost: it
    lands on the same keys the full-outer join shuffles on anyway, and
    map-side partial aggregation shrinks what moves.
    """
    dig = lambda df, name: (  # noqa: E731
        df.groupBy(*key_cols).agg(F.min(text_digest_expr(text_col)).alias(name))
    )
    j = dig(old, "_old").join(dig(new, "_new"), on=key_cols, how="full_outer")
    status = (
        F.when(F.col("_old").isNull(), F.lit("added"))
        .when(F.col("_new").isNull(), F.lit("removed"))
        .when(F.col("_old") != F.col("_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(*key_cols, status.alias(status_col))


def diff_summary(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    text_col: str = "text",
) -> DataFrame:
    """Counts per diff status — the one-screen lineage report for a
    snapshot handover (4 rows; safe to collect)."""
    return (
        corpus_diff(old, new, key_cols, text_col)
        .groupBy("status")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
