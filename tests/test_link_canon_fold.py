"""Fuzzy link_mentions (which folds self-canonicalization into its
surface dimension) must be row-identical to the round-5 composition
canonicalize_self_linked(link_mentions(...)), where the inner link is
fuzzy but runs no self-canonicalization.

The corpus slice is sized so the fuzzy/self paths are exercised: fuzzy
surfaces (concatenated corp variants) miss the dictionary, and FN-noise
lowercased mentions plus fake capitalized bigrams produce self-linked
surfaces. None of those pairs reaches the 0.7 canonicalization
threshold, so two near-duplicate unknown surfaces are planted to make
the merge fire.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from split_ner_spark import corpus
from split_ner_spark.ops.canon import self_surface_canon_map
from split_ner_spark.ops.classify import classify_mentions
from split_ner_spark.ops.detect import detect_spans
from split_ner_spark.ops import link
from split_ner_spark.ops.link import link_mentions
from split_ner_spark.ops.segment import segment_pages
from split_ner_spark.ops.assemble import assemble_untyped
from split_ner_spark.pipeline import alias_dim


def canonicalize_self_linked(linked: DataFrame) -> DataFrame:
    """Merge variant UNKNOWN surfaces: mentions the dictionary could not
    link (linked_via='self') whose normalized surfaces are near-duplicates
    (char-3-gram Jaccard ≥ ``SELF_JACCARD`` under LSH blocking) collapse
    into one component; canonical_id becomes
    ``surface:<component representative>``.

    This is the C1-upgrade canonicalization of SURVEY §2 applied inside
    the pipeline: dictionary-linked mentions are untouched; candidate new
    entities are deduplicated before triple emission. Cost scales with
    |distinct unknown surfaces|, not |mentions|.

    NOTE (round 6): re-derives the distinct self surfaces by scanning the
    mention-level input. When the linker's surface dimension is already
    materialized, prefer fuzzy ``link_mentions(...)``, which runs
    :func:`self_surface_canon_map` at dimension level and is pinned
    row-identical to this composition by tests/test_link_canon_fold.py."""
    merged = self_surface_canon_map([
        r[0] for r in linked.filter(F.col("linked_via") == "self")
        .select("surface_norm")
        .distinct()
        .collect()
    ])
    if not merged:
        return linked
    comp = linked.sparkSession.createDataFrame(
        sorted(merged.items()), "surface_norm string, _canon2 string"
    )
    out = (
        linked.join(comp, "surface_norm", "left")
        .withColumn(
            "canonical_id",
            F.when(
                (F.col("linked_via") == "self") & F.col("_canon2").isNotNull(),
                F.col("_canon2"),
            ).otherwise(F.col("canonical_id")),
        )
        .drop("_canon2")
    )
    return out


def test_canonicalize_fold_matches_composition(spark, monkeypatch):
    pages = corpus.pages(corpus.gen_pages_with_gold(spark, 800))
    mentions = classify_mentions(
        assemble_untyped(detect_spans(segment_pages(pages)))
    ).drop("tokens")
    planted = spark.createDataFrame(
        [("planted://0", 0, 0, 3, s, 1.0, "ORG")
         for s in ("Zorblax Quantum Industries", "Zorblax Quantum Industriez")],
        mentions.schema,
    )
    mentions = mentions.unionByName(planted)
    alias = alias_dim(spark)

    # the operator's own "no merge" branch: fuzzy-linked mentions without
    # self-canonicalization, which the reference then canonicalizes
    with monkeypatch.context() as m:
        m.setattr(link, "self_surface_canon_map", lambda surfaces: {})
        unfolded, _ = link_mentions(mentions, alias)
    old = canonicalize_self_linked(unfolded)
    new, _ = link_mentions(mentions, alias)

    assert old.columns == new.columns
    a = sorted(map(tuple, old.collect()))
    b = sorted(map(tuple, new.collect()))
    assert a == b
    # the slice must actually exercise the merge: some self ids exist and
    # at least one surface was remapped off its own-surface id
    via_idx = old.columns.index("linked_via")
    vias = {row[via_idx] for row in a}
    assert "self" in vias and "exact" in vias
    cid, norm = old.columns.index("canonical_id"), old.columns.index("surface_norm")
    merged = {
        row[norm] for row in a
        if row[via_idx] == "self" and row[cid] != "surface:" + row[norm]
    }
    assert merged, "no self surface was merged into another's component"
