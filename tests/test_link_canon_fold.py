"""link_mentions(canonicalize_self=True) must be row-identical to the
round-5 composition canonicalize_self_linked(link_mentions(...)).

The corpus slice is sized so the fuzzy/self paths are exercised: fuzzy
surfaces (concatenated corp variants) miss the dictionary, and FN-noise
lowercased mentions plus fake capitalized bigrams produce self-linked
surfaces. None of those pairs reaches the 0.7 canonicalization
threshold, so two near-duplicate unknown surfaces are planted to make
the merge fire.
"""

from __future__ import annotations

from split_ner_spark import corpus
from split_ner_spark.ops.canon import canonicalize_self_linked
from split_ner_spark.ops.classify import classify_mentions
from split_ner_spark.ops.detect import detect_spans
from split_ner_spark.ops.link import link_mentions
from split_ner_spark.ops.segment import segment_pages
from split_ner_spark.ops.assemble import assemble_untyped
from split_ner_spark.pipeline import alias_dim


def test_canonicalize_fold_matches_composition(spark):
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

    old = canonicalize_self_linked(link_mentions(mentions, alias))
    new = link_mentions(mentions, alias, canonicalize_self=True)

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
