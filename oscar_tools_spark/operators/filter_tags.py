"""The quality tag filter — the reference's `v2 extract-tags` operator.

Reproduces the keep/drop truth table of
/root/reference/src/impls/oscar_doc/filter_tags.rs:32-122 exactly,
including its two quirks:

* a tagged document with NO include and NO exclude constraints is
  DROPPED (filter_tags.rs:105-112, asserted by the reference's test
  case 4 at :239-248);
* the ``clean`` flag only applies to tag-less documents — once a
  document has annotations, ``clean`` is ignored (filter_tags.rs:51-53).

Decision per document:

1. annotations NULL/empty            -> keep iff (clean OR include == {})
2. tags ∩ exclude != {}              -> drop
3. include == {}                     -> keep iff exclude != {}
4. otherwise                         -> keep iff include ⊆ tags

``include ∩ exclude != {}`` (both non-empty) is a hard error, as in the
reference (filter_tags.rs:136-144).

The table is written once (``_keep``) over a per-tag test and a
never-null "tagged" flag, fed either from the ``array<string>``
annotations column or from the per-tag text conditions. Either way it
is one boolean column expression — no UDF, fully codegen'd.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from functools import reduce
from operator import and_, or_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def validate_tag_sets(
    include: Iterable[str], exclude: Iterable[str], known: list[str] | None = None
) -> tuple[list[str], list[str]]:
    """Dedupe and validate the constraint sets (reference filter_tags.rs:136-144);
    with ``known``, a tag outside that vocabulary is an error too."""
    inc = sorted(set(include))
    exc = sorted(set(exclude))
    overlap = set(inc) & set(exc)
    if overlap:
        raise ValueError(
            f"include and exclude tag sets must be disjoint; both contain {sorted(overlap)}"
        )
    unknown = sorted(set(inc + exc) - set(known)) if known is not None else []
    if unknown:
        raise ValueError(f"unknown tags {unknown}; known tags are {known}")
    return inc, exc


def _keep(
    has: Callable[[str], Column], tagged: Column, inc: list[str], exc: list[str], clean: bool
) -> Column:
    """The truth table over validated tag lists; ``has(t)`` must imply ``tagged``."""
    excluded = reduce(or_, map(has, exc)) if exc else F.lit(False)
    if not inc:
        # tag-less docs are kept (clean irrelevant); tagged docs only if
        # an exclude set exists and they avoid it (the drop-by-default
        # quirk). has(t) implies tagged, so both arms are one NOT.
        return ~excluded if exc else ~tagged
    return F.when(~tagged, F.lit(clean)).otherwise(
        ~excluded & reduce(and_, map(has, inc))
    )


def keep_expr(
    annotations: Column,
    include: Iterable[str] = (),
    exclude: Iterable[str] = (),
    clean: bool = False,
) -> Column:
    """Boolean keep/drop column over an annotations array. Any tag is
    accepted: the reference's extract-tags vocabulary is open."""
    inc, exc = validate_tag_sets(include, exclude)
    return _keep(
        lambda t: F.coalesce(F.array_contains(annotations, t), F.lit(False)),
        F.coalesce(F.size(annotations) > 0, F.lit(False)),
        inc,
        exc,
        clean,
    )


def keep_expr_from_text(
    text: Column,
    include: Iterable[str] = (),
    exclude: Iterable[str] = (),
    clean: bool = False,
) -> Column:
    """The same truth table over the per-tag text conditions instead of
    the materialized annotations array; only ``lexicons.ALL_TAGS`` have
    one. The predicate does not reference the annotations column, so
    Catalyst pushes it below the annotation projection: dropped rows
    never pay for annotation/scrub evaluation."""
    from ..functions.annotations import tag_conditions
    from ..functions.lexicons import ALL_TAGS

    inc, exc = validate_tag_sets(include, exclude, ALL_TAGS)
    conds = tag_conditions(text)
    return _keep(conds.__getitem__, reduce(or_, conds.values()), inc, exc, clean)


def filter_tags(
    df: DataFrame,
    include: Iterable[str] = (),
    exclude: Iterable[str] = (),
    clean: bool = False,
    annotations_col: str = "annotations",
) -> DataFrame:
    """Keep the rows the reference's extract-tags would keep."""
    return df.filter(keep_expr(F.col(annotations_col), include, exclude, clean))
