"""DataFrame-native MinHash-LSH for similarity joins and near-dup blocking.

Used by (a) fuzzy entity linking — mention surfaces that miss the alias
dictionary (SURVEY §2 G2) — and (b) document near-duplicate detection.
The reference's analog is the mention-clustering prototype
(/root/reference/splitner/utils/mention_clustering.py), which builds a
dense pairwise distance matrix; that is O(n²) and driver-bound, so the
rebuild replaces it with banded MinHash, the standard scalable design.

Everything is Catalyst expressions (no UDFs, no pyspark.ml dependency):

1. shingle: char 3-grams of '^'+s+'$' (array<string>, distinct);
2. signature: sig[i] = min over shingles of xxhash64(shingle, i) — the
   "k independent hash functions" are the seeded xxhash64 family; computed
   as an array fold per row, zero shuffle, built as one SQL string;
3. banding: split the signature into b bands of r = k/b rows, hash each
   band, explode → (id, band_idx, band_hash);
4. candidates: broadcast equi-join on (band_idx, band_hash), the right
   side's band rows broadcast, so neither side shuffles. Band rows carry
   their shingle arrays and whole band-hash arrays; a pair colliding in
   several bands is kept at its first colliding band, so no distinct;
5. verify: exact Jaccard on the carried shingle arrays, inline on the
   joined row, filter ≥ threshold.

ANSI-mode safe: no raw arithmetic that can overflow (xxhash64 seeds do the
mixing), no out-of-range element_at.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the operating point of the surface-linking call sites (link_mentions'
# fuzzy path and self_surface_canon_map): r = 2 rows per band
SURFACE_HASHES = 16
SURFACE_BANDS = 8


def char_shingles_col(col: F.Column) -> F.Column:
    """Distinct char 3-grams of '^'+s+'$' (boundary-marked, so 1-2 char
    strings still produce at least one shingle)."""
    s = F.concat(F.lit("^"), col, F.lit("$"))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(s) - 2, F.lit(1))),
            lambda i: F.substring(s, i, 3),
        )
    )


def _band_hashes_sql(shingles_col: str, num_hashes: int, bands: int) -> str:
    """The b band hashes of a row's MinHash signature as ONE SQL expression
    (one py4j call, where a Column-built tree costs one per node):
    sig[i] = min over shingles of xxhash64(shingle, i), i < k; band j
    hashes its r = k/b signature values, joined with ':', seeded with j."""
    r = num_hashes // bands
    sig = (
        f"transform(sequence(0, {num_hashes - 1}), i -> "
        f"array_min(transform(`{shingles_col}`, s -> xxhash64(s, i))))"
    )
    return (
        f"transform(sequence(0, {bands - 1}), j -> xxhash64(concat_ws(':', "
        f"transform(slice({sig}, j * {r} + 1, {r}), x -> cast(x as string))), j))"
    )


def _band_rows(
    df: DataFrame,
    id_col: str,
    shingles_col: str,
    num_hashes: int,
    bands: int,
    bands_col: str,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(id, shingles, *keep, bands_col, band_idx, band_hash) rows: one per
    band, each carrying the shingle array (for the inline verify) and the
    whole band-hash array (for the first-colliding-band dedupe)."""
    carried = [F.col(id_col), F.col(shingles_col), *[F.col(c) for c in keep]]
    banded = F.expr(_band_hashes_sql(shingles_col, num_hashes, bands))
    # posexplode_outer, not posexplode: the band array is never empty, so
    # the rows are the same, but the inner form lets the optimizer infer a
    # size(bands) > 0 filter and push it below the caller's filters and
    # joins — which then hashes every input row, not just the filtered ones
    return df.select(*carried, banded.alias(bands_col)).select(
        *carried,
        F.col(bands_col),
        F.posexplode_outer(bands_col).alias("band_idx", "band_hash"),
    )


def jaccard_col(a: F.Column, b: F.Column) -> F.Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return inter / union


def lsh_similarity_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    keep_right: tuple[str, ...] = (),
) -> DataFrame:
    """Approximate similarity join: pairs with Jaccard ≥ threshold whose
    signatures collide in ≥1 band. Returns (left_id, right_id, jaccard,
    *keep_right), one row per pair.

    left/right must carry a ``shingles`` column; ids must be distinct within
    each side, and ``right_id`` and ``keep_right`` must not reuse
    ``left_id``'s name. ``right`` is broadcast, so it must fit the
    broadcast budget (its band rows are ``bands`` × its row count).
    Threshold-vs-banding:
    with k=32, b=8 (r=4) the collision probability at j=0.5 is
    1-(1-0.5^4)^8 ≈ 0.4; at j=0.7 ≈ 0.9 — tune (num_hashes, bands) to the
    operating point, or raise bands for recall.
    """
    lb = _band_rows(
        left.select(left_id, F.col("shingles").alias("_sh_l")),
        left_id, "_sh_l", num_hashes, bands, "_bands_l",
    )
    rb = _band_rows(
        right.select(right_id, F.col("shingles").alias("_sh_r"), *keep_right),
        right_id, "_sh_r", num_hashes, bands, "_bands_r", keep=keep_right,
    )
    # a pair colliding in several bands is kept at its first colliding
    # band only, which replaces a distinct (and its shuffle)
    first_band = F.array_position(
        F.zip_with("_bands_l", "_bands_r", lambda x, y: x == y), True
    )
    return (
        lb.join(F.broadcast(rb), ["band_idx", "band_hash"])
        .filter(first_band == F.col("band_idx") + 1)
        .withColumn("jaccard", jaccard_col(F.col("_sh_l"), F.col("_sh_r")))
        .filter(F.col("jaccard") >= threshold)
        .select(left_id, right_id, "jaccard", *keep_right)
    )


def lsh_self_join(
    df: DataFrame,
    id_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs within one table (which carries ``shingles``):
    (a, b, jaccard), a < b."""
    a = df.select(F.col(id_col).alias("a"), "shingles")
    b = df.select(F.col(id_col).alias("b"), "shingles")
    return lsh_similarity_join(
        a, b, "a", "b", num_hashes, bands, threshold
    ).filter(F.col("a") < F.col("b"))
