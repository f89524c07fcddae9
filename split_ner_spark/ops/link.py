"""G2 — entity linking: mention surface → canonical entity id.

Path 1 (hot): broadcast equi-join of the normalized surface against the
alias dictionary — the dictionary is a small dimension (FIXTURES.md F6),
so this is a map-side join, zero shuffle of the mention fact table.

Path 2 (fuzzy): surfaces that miss the dictionary go through MinHash-LSH
blocking (ops/lsh.py) against the dictionary's normalized aliases; best
match per surface wins (max Jaccard, canonical_id as deterministic
tie-break).

Path 3 (miss): still-unmatched surfaces get a self canonical id
``surface:<norm>`` so downstream triples are still emitted (they become
candidate new entities); on the fuzzy path, near-duplicate self surfaces
then share one ``surface:<representative>`` id (ops/canon.py).

The expensive work runs on DISTINCT surfaces, not on mentions — the
reference memoizes tokenization the same way (splitner/dataset_qa.py:
152-155, a cache per distinct token). That surface→entity dimension is
small and does not grow with the corpus (148 distinct surfaces at both
5,000 and 200,000 synthetic pages), so it is kept in memory as a build
side: the dictionary and the resolved dimension are each collected to
the driver once, and the dimension goes back into the one fact join as
a broadcast local relation. Collecting it adds no size limit that
broadcasting it did not already impose — a broadcast collects its build
side too.

Normalization twin: reference_impl.normalize_surface (tests pin equality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..reference_impl import PUNCT_CHARS
from ..session import local_frame
from .canon import self_surface_canon_map
from .lsh import SURFACE_BANDS, SURFACE_HASHES, char_shingles_col, lsh_similarity_join

# char-3-gram Jaccard at which a dictionary miss links to an alias
FUZZY_JACCARD = 0.55


def norm_surface_col(col: F.Column) -> F.Column:
    s = F.lower(col)
    s = F.translate(s, PUNCT_CHARS, " " * len(PUNCT_CHARS))
    s = F.regexp_replace(s, r"\s+", " ")
    return F.trim(s)


def link_mentions(
    mentions: DataFrame,
    alias_df: DataFrame,
    *,
    fuzzy: bool = True,
) -> DataFrame:
    """mentions(..., surface, entity_type) × alias(alias, canonical_id,
    entity_type) → + surface_norm, canonical_id, linked_via, final
    entity_type (dictionary type wins over the classifier's rule type when
    linked).

    Aliases that normalize to the same string keep the FIRST row in
    ``alias_df``'s order: the dictionary is collected and deduplicated on
    the driver (no job when ``alias_df`` is a local relation).

    The surface dimension is ONE query over the distinct normalized
    surfaces, collected: exact hit (broadcast dictionary left join) →
    fuzzy best (see below) → self, resolved per surface in one
    projection. It caches nothing; the returned frame is the fact table
    joined to the dimension as a broadcast local relation, so a caller
    has nothing to release.

    ``fuzzy`` switches both MinHash-LSH passes together:

    - the dictionary-miss path: surfaces that miss the dictionary link to
      their best alias at char-3-gram Jaccard ≥ ``FUZZY_JACCARD``. The
      scored candidates are unioned with the exact-path rows and reduced
      by one ``groupBy(surface_norm)``, which needs no exchange: the
      distinct already hash-partitions on that key;
    - self-canonicalization: :func:`..canon.self_surface_canon_map` runs
      on the self-linked surfaces of the collected dimension, so
      near-duplicate ones collapse to one ``surface:<representative>`` id
      BEFORE the fact join. Row-identical to applying the same map to the
      linked mentions afterwards (the reference composition in
      tests/test_link_canon_fold.py), but the fact table is read once.
      With fewer than 2 self surfaces no self-join runs; up to
      ``canon.DRIVER_THRESHOLD`` possible pairs its edges come back in one
      plain collect.

    ``fuzzy=False`` runs neither (exact + self only) — used where
    deterministic cross-engine reproducibility matters: xxhash64 LSH has
    no DuckDB twin, so the oracle-checked queries link this way.
    """
    spark = mentions.sparkSession
    first: dict = {}
    for row in alias_df.select(
        norm_surface_col(F.col("alias")), "canonical_id", "entity_type"
    ).collect():
        first.setdefault(row[0], row)
    dim = local_frame(
        spark, list(first.values()),
        "alias_norm string, canonical_id string, dict_type string",
    )

    surfaces = mentions.select(
        norm_surface_col(F.col("surface")).alias("surface_norm")
    ).distinct()
    resolved = surfaces.join(
        F.broadcast(dim), surfaces.surface_norm == dim.alias_norm, "left"
    ).select("surface_norm", "canonical_id", "dict_type")
    f_cid = f_type = F.lit(None).cast("string")
    if fuzzy:
        # exact misses → lsh_similarity_join against the dictionary
        # (broadcast band join, Jaccard verified inline); the best match is
        # the min of struct(-jaccard, alias_norm, ...): max Jaccard, then
        # min alias_norm. The dictionary's canonical_id and type ride
        # along the band rows (alias_norm is unique in ``dim``).
        missed = resolved.filter(F.col("canonical_id").isNull()).select("surface_norm")
        scored = lsh_similarity_join(
            missed.withColumn("shingles", char_shingles_col(F.col("surface_norm"))),
            dim.withColumn("shingles", char_shingles_col(F.col("alias_norm"))),
            "surface_norm", "alias_norm", num_hashes=SURFACE_HASHES,
            bands=SURFACE_BANDS, threshold=FUZZY_JACCARD,
            keep_right=("canonical_id", "dict_type"),
        ).select(
            "surface_norm",
            F.struct(
                (-F.col("jaccard")).alias("_nj"),
                "alias_norm", "canonical_id", "dict_type",
            ).alias("_b"),
        )
        # one row per surface from the exact path plus its scored
        # candidates; each surface has one non-null exact-path value
        resolved = (
            resolved.unionByName(scored, allowMissingColumns=True)
            .groupBy("surface_norm")
            .agg(
                F.max("canonical_id").alias("canonical_id"),
                F.max("dict_type").alias("dict_type"),
                F.min("_b").alias("_b"),
            )
        )
        f_cid, f_type = F.col("_b.canonical_id"), F.col("_b.dict_type")
    rows = resolved.select(
        "surface_norm",
        F.coalesce(
            F.col("canonical_id"),
            f_cid,
            F.concat(F.lit("surface:"), F.col("surface_norm")),
        ),
        F.coalesce(F.col("dict_type"), f_type),
        F.when(F.col("canonical_id").isNotNull(), F.lit("exact"))
        .when(f_cid.isNotNull(), F.lit("lsh"))
        .otherwise(F.lit("self")),
    ).collect()

    if fuzzy:
        merged = self_surface_canon_map([r[0] for r in rows if r[3] == "self"])
        rows = [
            (s, merged.get(s, cid) if via == "self" else cid, t, via)
            for s, cid, t, via in rows
        ]
    join_dim = local_frame(
        spark, rows,
        "surface_norm string, canonical_id string, dict_type string, linked_via string",
    )

    return (
        mentions.withColumn("surface_norm", norm_surface_col(F.col("surface")))
        .join(F.broadcast(join_dim), "surface_norm")
        .withColumn("entity_type", F.coalesce(F.col("dict_type"), F.col("entity_type")))
        .drop("dict_type")
    )
