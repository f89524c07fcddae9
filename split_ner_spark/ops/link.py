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
reference memoizes tokenization the same way
(/root/reference/splitner/dataset_qa.py:152-155: cache per distinct
token); here `dropDuplicates` + join-back is the distributed analog.

Normalization twin: reference_impl.normalize_surface (tests pin equality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..reference_impl import PUNCT_CHARS
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
    cleanup: list,
    fuzzy: bool = True,
) -> DataFrame:
    """mentions(..., surface, entity_type) × alias(alias, canonical_id,
    entity_type) → + canonical_id, linked_via, final entity_type
    (dictionary type wins over the classifier's rule type when linked).

    ``fuzzy`` switches both MinHash-LSH passes together:

    - the dictionary-miss path: surfaces that miss the dictionary link to
      their best alias at char-3-gram Jaccard ≥ ``FUZZY_JACCARD``;
    - self-canonicalization: :func:`..canon.self_surface_canon_map` is
      folded into the surface dimension BEFORE the fact join, so
      near-duplicate self-linked surfaces collapse to one
      ``surface:<representative>`` id. Row-identical to applying the
      same map to the linked mentions afterwards (the reference
      composition in tests/test_link_canon_fold.py) but runs the LSH +
      connected-components work on the already-materialized |distinct
      surfaces| dimension instead of re-scanning the mention fact table
      twice — at 2M pages this removed two full fact-table passes from
      the pipeline's link phase.

    ``fuzzy=False`` runs neither (exact + self only) — used where
    deterministic cross-engine reproducibility matters: xxhash64 LSH has
    no DuckDB twin, so the oracle-checked queries link this way.

    The distinct-surface cache is unpersisted as soon as the final
    surface→entity dimension is materialized; that cached dimension is
    appended to ``cleanup``, for the caller to unpersist once it has
    consumed the result.
    """
    dim = (
        alias_df.select(
            norm_surface_col(F.col("alias")).alias("alias_norm"),
            F.col("canonical_id"),
            F.col("entity_type").alias("dict_type"),
        )
        .dropDuplicates(["alias_norm"])
    )

    # the distinct-surface dimension is consumed by THREE branches (exact,
    # fuzzy-miss, self); cache it so each branch does not re-scan +
    # re-shuffle the mention fact table. At web scale this table is
    # |distinct surfaces| ≪ |mentions| — the reference memoizes
    # per-distinct-token the same way (dataset_qa.py:152-155).
    surfaces = (
        mentions.select(norm_surface_col(F.col("surface")).alias("surface_norm"))
        .distinct()
        .cache()
    )

    # ONE left-join cascade builds the whole surface→entity dimension:
    # exact hit (broadcast dict left join) → fuzzy best (broadcast band
    # join + one groupBy over the exact misses) → self, resolved with
    # coalesce in a single projection. The round-2 shape (three branches
    # + two anti-joins + an intermediate cached union) spent ~25 small
    # job rounds building this dimension — pure fixed cost at pipeline
    # scale, since |distinct surfaces| ≪ |mentions|.
    s1 = surfaces.join(
        F.broadcast(dim), surfaces.surface_norm == dim.alias_norm, "left"
    ).select("surface_norm", "canonical_id", "dict_type")

    if fuzzy:
        # Fuzzy path, shuffle-free except one groupBy: exact misses →
        # lsh_similarity_join against the dictionary (broadcast band join,
        # Jaccard verified inline) → one groupBy(surface) keeping the best
        # match (max jaccard, then min alias_norm — min of
        # struct(-jaccard, alias_norm)). The dictionary's canonical_id and
        # type ride along the band rows (alias_norm is unique in ``dim``),
        # so no join back to the dictionary is needed.
        missed = s1.filter(F.col("canonical_id").isNull()).select("surface_norm")
        scored = lsh_similarity_join(
            missed.withColumn("shingles", char_shingles_col(F.col("surface_norm"))),
            dim.withColumn("shingles", char_shingles_col(F.col("alias_norm"))),
            "surface_norm", "alias_norm", num_hashes=SURFACE_HASHES,
            bands=SURFACE_BANDS, threshold=FUZZY_JACCARD,
            keep_right=("canonical_id", "dict_type"),
        )
        best = scored.groupBy("surface_norm").agg(
            F.min(
                F.struct(
                    (-F.col("jaccard")).alias("_nj"),
                    "alias_norm", "canonical_id", "dict_type",
                )
            ).alias("_b")
        )
        fuzzy_dim = best.select(
            "surface_norm",
            F.col("_b.canonical_id").alias("_f_cid"),
            F.col("_b.dict_type").alias("_f_type"),
        )
        resolved = s1.join(F.broadcast(fuzzy_dim), "surface_norm", "left")
    else:
        resolved = s1.withColumn(
            "_f_cid", F.lit(None).cast("string")
        ).withColumn("_f_type", F.lit(None).cast("string"))

    # eagerly materialize the final surface→entity dimension (it is as
    # small as |distinct surfaces|), THEN broadcast it into the fact join.
    # Order matters: broadcasting the unmaterialized subplan re-executes
    # it inside the broadcast build, and a cached-but-unmaterialized
    # dimension has unknown stats, which planned the 10^6+-row fact join
    # as sort-merge (measured 5x slower). At 10^12 docs with a dimension
    # past the broadcast budget, drop the hint and pre-partition both
    # sides on surface_norm instead.
    full_dim = resolved.select(
        "surface_norm",
        F.coalesce(
            F.col("canonical_id"),
            F.col("_f_cid"),
            F.concat(F.lit("surface:"), F.col("surface_norm")),
        ).alias("canonical_id"),
        F.coalesce(F.col("dict_type"), F.col("_f_type")).alias("dict_type"),
        F.when(F.col("canonical_id").isNotNull(), F.lit("exact"))
        .when(F.col("_f_cid").isNotNull(), F.lit("lsh"))
        .otherwise(F.lit("self"))
        .alias("linked_via"),
    ).cache()
    full_dim.count()
    # full_dim is materialized — its upstreams are no longer needed (an
    # LRU-evicted full_dim block would recompute from scratch, which is
    # correct, just slower)
    surfaces.unpersist()
    cleanup.append(full_dim)

    join_dim = full_dim
    if fuzzy:
        # dimension-level canonicalization: full_dim is unique per
        # surface_norm and already cached, so the LSH self-join (one
        # action) runs on |distinct self surfaces| rows, and ``comp`` maps
        # only the merged ones; the fact table is only touched by the
        # single broadcast join below.
        comp = self_surface_canon_map(
            full_dim.filter(F.col("linked_via") == "self").select("surface_norm")
        )
        if comp is not None:
            join_dim = full_dim.join(F.broadcast(comp), "surface_norm", "left").select(
                "surface_norm",
                F.when(
                    (F.col("linked_via") == "self") & F.col("_canon2").isNotNull(),
                    F.col("_canon2"),
                )
                .otherwise(F.col("canonical_id"))
                .alias("canonical_id"),
                "dict_type",
                "linked_via",
            )

    out = (
        mentions.withColumn("surface_norm", norm_surface_col(F.col("surface")))
        .join(F.broadcast(join_dim), "surface_norm")
        .withColumn("entity_type", F.coalesce(F.col("dict_type"), F.col("entity_type")))
        .drop("dict_type")
    )
    return out
