"""G2 — entity linking: mention surface → canonical entity id.

The work runs on DISTINCT surfaces, not on mentions — the reference
memoizes tokenization the same way (splitner/dataset_qa.py:152-155, a
cache per distinct token). That surface→entity dimension is small and
does not grow with the corpus (148 distinct surfaces at both 5,000 and
200,000 synthetic pages), so it is resolved on the driver, from one
collected per-surface mention count:

Path 1 (exact): a lookup in the alias dictionary, collected and
deduplicated on the driver (FIXTURES.md F6: a small dimension).

Path 2 (fuzzy): surfaces that miss the dictionary go through one
MinHash-LSH join (ops/lsh.py) against the dictionary's normalized
aliases, collected; the best match per surface wins (max Jaccard, then
min alias_norm as deterministic tie-break). Only this join broadcasts
the dictionary.

Path 3 (miss): still-unmatched surfaces get a self canonical id
``surface:<norm>`` so downstream triples are still emitted (they become
candidate new entities); on the fuzzy path, near-duplicate self surfaces
then share one ``surface:<representative>`` id (ops/canon.py).

The resolved dimension goes back into the one fact join as a broadcast
local relation, a map-side join with zero shuffle of the mention fact
table. Collecting it adds no size limit that broadcasting it did not
already impose — a broadcast collects its build side too. Its per-surface
mention counts go back to the caller, which takes the hot subjects of
the triple write from them (ops/triples.hot_subjects).

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
# (canonical_id, dict_type) of a surface the dictionary does not hold
_NO_HIT = (None, None)


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
) -> tuple[DataFrame, list[tuple]]:
    """mentions(..., surface, entity_type) × alias(alias, canonical_id,
    entity_type) → ``(linked, dimension)``.

    ``linked`` is the mentions + surface_norm, canonical_id, linked_via and
    the final entity_type (dictionary type wins over the classifier's rule
    type when linked). ``dimension`` is one driver row per distinct
    normalized surface, ``(surface_norm, canonical_id, dict_type,
    linked_via, n_mentions)``; its ``n_mentions`` sum to the mention count.

    Aliases that normalize to the same string keep the FIRST row in
    ``alias_df``'s order: the dictionary is collected and deduplicated on
    the driver (no job when ``alias_df`` is a local relation).

    The dimension is ONE collected ``groupBy(surface_norm).count()`` over
    the mentions, resolved per surface on the driver:

    - exact: a lookup in the deduplicated dictionary; only a row with a
      non-null canonical_id counts as a hit (its type is kept either way);
    - fuzzy (``fuzzy=True`` and at least one surface missed): one
      :func:`..lsh.lsh_similarity_join` of the missed surfaces, as a local
      relation, against the dictionary, collected. A surface links to its
      best alias at char-3-gram Jaccard ≥ ``FUZZY_JACCARD``: the minimum
      of ``(-jaccard, alias_norm)``;
    - self: any other surface gets ``surface:<norm>``. With ``fuzzy``,
      :func:`..canon.self_surface_canon_map` then collapses near-duplicate
      self surfaces to one ``surface:<representative>`` id BEFORE the fact
      join — row-identical to applying the same map to the linked
      mentions afterwards (the reference composition in
      tests/test_link_canon_fold.py), but the fact table is read once.

    It caches nothing; ``linked`` is the fact table joined to the
    dimension as a broadcast local relation, so a caller has nothing to
    release.

    ``fuzzy=False`` runs neither LSH pass (exact + self only) — used where
    deterministic cross-engine reproducibility matters: xxhash64 LSH has
    no DuckDB twin, so the oracle-checked queries link this way.
    """
    spark = mentions.sparkSession
    first: dict = {}
    for row in alias_df.select(
        norm_surface_col(F.col("alias")), "canonical_id", "entity_type"
    ).collect():
        # a null alias never equi-joins, so it links no surface
        if row[0] is not None:
            first.setdefault(row[0], (row[1], row[2]))
    counts = mentions.groupBy(
        norm_surface_col(F.col("surface")).alias("surface_norm")
    ).count().collect()
    missed = [s for s, _ in counts if first.get(s, _NO_HIT)[0] is None]

    best: dict = {}  # surface_norm → ((-jaccard, alias_norm), canonical_id, type)
    if fuzzy and missed:
        def shingled(rows: list, schema: str, col: str) -> DataFrame:
            return local_frame(spark, rows, schema).withColumn(
                "shingles", char_shingles_col(F.col(col))
            )

        for s, a, j, cid, t in lsh_similarity_join(
            shingled([(s,) for s in missed], "surface_norm string", "surface_norm"),
            shingled(
                [(a, *hit) for a, hit in first.items()],
                "alias_norm string, canonical_id string, dict_type string",
                "alias_norm",
            ),
            "surface_norm", "alias_norm", num_hashes=SURFACE_HASHES,
            bands=SURFACE_BANDS, threshold=FUZZY_JACCARD,
            keep_right=("canonical_id", "dict_type"),
        ).collect():
            if s not in best or (-j, a) < best[s][0]:
                best[s] = ((-j, a), cid, t)

    rows = []
    for s, n in counts:
        cid, t = first.get(s, _NO_HIT)
        via = "exact"
        if cid is None:
            _, cid, f_type = best.get(s, (None, *_NO_HIT))
            t, via = (f_type if t is None else t), "lsh"
        if cid is None:
            # a null surface keeps a null id: it joins no mention
            cid, via = None if s is None else "surface:" + s, "self"
        rows.append((s, cid, t, via, n))

    if fuzzy:
        merged = self_surface_canon_map([r[0] for r in rows if r[3] == "self"])
        rows = [
            (s, merged.get(s, cid) if via == "self" else cid, t, via, n)
            for s, cid, t, via, n in rows
        ]
    join_dim = local_frame(
        spark, [r[:4] for r in rows],
        "surface_norm string, canonical_id string, dict_type string, linked_via string",
    )

    linked = (
        mentions.withColumn("surface_norm", norm_surface_col(F.col("surface")))
        .join(F.broadcast(join_dim), "surface_norm")
        .withColumn("entity_type", F.coalesce(F.col("dict_type"), F.col("entity_type")))
        .drop("dict_type")
    )
    return linked, rows
