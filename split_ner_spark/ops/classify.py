"""UDF #3 — span classification (entity typing over detected spans).

Reference semantics: the span-classification forward pass
(/root/reference/splitner/model_span.py:36-71, argmax at :58) fed one
context per detected mention ("What is {mention} ?",
splitner/dataset_span.py:82-130). As with detection, the transformer is
replaced by a deterministic surrogate behind the same Arrow-batched UDF
boundary (SURVEY §7.4): a type-cue lexicon + word-shape rules — the same
class of signal the reference's pattern features encode
(splitner/dataset.py:192-335).

``classify_type_col`` is the Catalyst-expression twin used by the
oracle-checkable queries; tests pin UDF == expression on every surface.

Scale notes: classify runs once per *detected mention* (sparse), not per
(sentence × type) — this is the paper's core efficiency claim (Table 3,
~5x inference speedup vs Single(QA)) and it carries over: cardinality in
== number of mentions.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORP_SUFFIX = ["Corp", "Inc", "Ltd", "GmbH", "Corporation"]
LOC_SUFFIX = ["City", "Valley", "Island", "Harbor"]
LOC_GAZ = ["Paris", "Tokyo", "Zürich", "Oslo", "Cairo", "Mumbai", "Lima", "Quito"]
GROUP_SUFFIX = ["Team", "Collective", "Orchestra", "Band"]
PERSON_LAST = [
    "Smith", "Jones", "Müller", "Chen", "García", "Novak", "Okafor",
    "Petrov", "Tanaka", "Weber",
]
UNKNOWN = "unknown"

# hot-path constant forms (round 6): str.endswith takes a tuple natively
# and set membership is O(1) — same decisions as the list forms above,
# which stay the single source of truth for the SQL twins.
_CORP_SUFFIX_T = tuple(CORP_SUFFIX)
_LOC_SUFFIX_S = frozenset(LOC_SUFFIX)
_LOC_GAZ_S = frozenset(LOC_GAZ)
_GROUP_SUFFIX_S = frozenset(GROUP_SUFFIX)
_PERSON_LAST_S = frozenset(PERSON_LAST)


def classify_surface(surface: str) -> str:
    """Pure-Python spec of the typing rules (test oracle)."""
    toks = surface.split(" ")
    last, first = toks[-1], toks[0]
    if last.endswith(_CORP_SUFFIX_T):
        return "corporation"
    if last in _LOC_SUFFIX_S or surface in _LOC_GAZ_S:
        return "location"
    if any(map(str.isdigit, surface)):
        return "product"
    if last in _GROUP_SUFFIX_S:
        return "group"
    if first == "The":
        return "creative-work"
    if last in _PERSON_LAST_S:
        return "person"
    return UNKNOWN


def classify_type_col(surface_col: F.Column) -> F.Column:
    """Catalyst twin of :func:`classify_surface` — whole-stage-codegen'd."""
    toks = F.split(surface_col, " ")
    last = F.element_at(toks, -1)
    first = F.element_at(toks, 1)
    corp_re = "(" + "|".join(CORP_SUFFIX) + ")$"
    return (
        F.when(last.rlike(corp_re), F.lit("corporation"))
        .when(last.isin(LOC_SUFFIX) | surface_col.isin(LOC_GAZ), F.lit("location"))
        .when(surface_col.rlike("[0-9]"), F.lit("product"))
        .when(last.isin(GROUP_SUFFIX), F.lit("group"))
        .when(first == "The", F.lit("creative-work"))
        .when(last.isin(PERSON_LAST), F.lit("person"))
        .otherwise(F.lit(UNKNOWN))
    )


def classify_mentions(mentions: DataFrame, scorer=None) -> DataFrame:
    """mentions_untyped → + entity_type (typed mentions, FIXTURES.md F3).

    Without a ``scorer`` this is the pure-Catalyst twin
    (``classify_type_col``): the surrogate model is rule-expressible, so
    the shipped path stays inside WholeStageCodegen — no Arrow crossing,
    no per-row Python. Tests pin UDF == expression on every surface, so
    swapping is free.

    Passing a ``scorer`` runs the Arrow-batched UDF boundary instead — the
    slot where a real transformer checkpoint sits (e.g.
    :class:`split_ner_spark.hf_scorer.HFScorer`; the surrogate
    :class:`.detect.DeterministicScorer` maps :func:`classify_surface`);
    ``scorer`` must expose ``classify_surfaces(list[str]) -> list[str]``."""
    if scorer is None:
        return mentions.withColumn("entity_type", classify_type_col(F.col("surface")))

    @F.pandas_udf(T.StringType())
    def _classify(surfaces: pd.Series) -> pd.Series:
        return pd.Series(
            scorer.classify_surfaces(list(surfaces)), index=surfaces.index
        )

    return mentions.withColumn("entity_type", _classify(F.col("surface")))
