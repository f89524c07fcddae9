"""Canonicalization: connected components over the surface-similarity graph.

Reference analog: the k-medoids mention-clustering prototype
(/root/reference/splitner/utils/mention_clustering.py:113-161), which
pairwise-compares every mention on the driver. The rebuild replaces it
with the scalable formulation (SURVEY §2 C1 upgrade): LSH-blocked
similarity edges → connected components → one canonical id per component.

Three tiers, chosen by graph size:
- ≤ ``driver_threshold`` edges: driver union-find (a tiny graph should
  not pay multiple distributed jobs per round);
- above it: **large-star/small-star** (Kiveris et al., "Connected
  Components in MapReduce and Beyond", SoCC'14) — O(log² n) rounds
  worst-case regardless of graph diameter, each round two
  groupBy-aggregates, with ``localCheckpoint`` per round to cut lineage
  and an exact convergence check (edge multiset stable). This is the
  only shape that survives adversarial diameters at 10^12 nodes.
- :func:`label_propagation_components` (min-label "hash-to-min") is kept
  for star-like graphs (alias/near-dup graphs have diameter ≤ 3-4, where
  it wins by a constant factor) — but it now RAISES on non-convergence
  instead of silently returning wrong components.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame


def _driver_union_find(rows: list, spark, schema) -> DataFrame:
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in rows:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    out = [(n, find(n)) for n in parent]
    return local_frame(spark, out, schema)


def _edge_checksum(e: DataFrame) -> tuple[int, int]:
    """(count, order-independent hash) of an edge frame — the convergence
    test for the star rounds (one aggregate job, two ints to the driver)."""
    # bit_xor: order-independent and overflow-free under ANSI mode
    row = e.agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star: every node connects its strictly-larger neighbors to the
    minimum of its neighborhood (including itself)."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.min("v").alias("_mv")).select(
        "u", F.least(F.col("_mv"), F.col("u")).alias("m")
    )
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star: orient edges high→low; every node connects its smaller
    neighbors (and itself) to the minimum of that set."""
    oriented = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    m = oriented.groupBy("u").agg(F.min("v").alias("m"))
    neigh = (
        oriented.join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    selfe = m.select("u", F.col("m").alias("v"))
    return (
        neigh.unionByName(selfe)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def star_contraction_components(
    edges_uv: DataFrame, max_iter: int = 50
) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al., SoCC'14) on a
    deduplicated (u, v) edge frame → (node, component).

    Converges in O(log² n) rounds on ANY graph shape (each round halves
    long chains), so unlike plain label propagation it cannot silently
    stop early on a high-diameter graph. Each round: two groupBy
    aggregates + ``localCheckpoint`` to cut lineage; convergence = edge
    multiset stable (count + order-independent hash). Raises RuntimeError
    if ``max_iter`` rounds pass without convergence — wrong components
    must never be returned silently."""
    nodes = (
        edges_uv.select(F.col("u").alias("node"))
        .unionByName(edges_uv.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    e = edges_uv.localCheckpoint()
    prev = _edge_checksum(e)
    for _ in range(max_iter):
        e = _small_star(_large_star(e)).localCheckpoint()
        cur = _edge_checksum(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"star-contraction did not converge in {max_iter} rounds; "
            "components would be wrong — raising instead of returning them"
        )
    # converged state is a disjoint union of stars rooted at each
    # component's minimum: edges are (child, root) with root < child.
    child_root = e.select(
        F.greatest("u", "v").alias("node"), F.least("u", "v").alias("component")
    )
    return (
        nodes.join(child_root, "node", "left")
        .select("node", F.coalesce("component", "node").alias("component"))
    )


def label_propagation_components(
    sym: DataFrame, max_iter: int = 25, strict: bool = True
) -> DataFrame:
    """Min-label propagation over a symmetric edge frame (u, v) →
    (node, component). O(diameter) rounds — the constant-factor winner on
    star-like alias/near-dup graphs (diameter ≤ 3-4), but NOT safe on
    arbitrary graphs: with ``strict`` (default) it raises if labels have
    not converged after ``max_iter`` rounds rather than returning wrong
    components."""
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    changed = 0
    for _ in range(max_iter):
        neigh_min = (
            sym.join(labels, sym.v == labels.node)
            .groupBy("u")
            .agg(F.min("component").alias("nmin"))
        )
        new_labels = (
            labels.join(neigh_min, labels.node == neigh_min.u, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
                ).alias("component"),
                (F.col("nmin") < F.col("component")).alias("_changed"),
            )
        )
        new_labels = new_labels.localCheckpoint()
        changed = new_labels.filter(F.col("_changed")).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            break
    if changed != 0:
        msg = (
            f"min-label propagation still changing after {max_iter} rounds "
            "(graph diameter exceeds the iteration budget); use "
            "star_contraction_components for high-diameter graphs"
        )
        if strict:
            raise RuntimeError(msg)
        warnings.warn(msg, stacklevel=2)
    return labels


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    src: str = "src",
    dst: str = "dst",
    driver_threshold: int = 100_000,
) -> DataFrame:
    """edges(src, dst) undirected → (node, component) where component is
    the min node id (by the column's ordering) in the component.

    Hybrid: when the (deduplicated) edge set is small enough to hold on
    the driver, run union-find locally — a tiny graph should not pay
    several distributed jobs per round. Past ``driver_threshold`` edges,
    large-star/small-star contraction takes over: guaranteed O(log² n)
    convergence on any diameter, which is the only safe choice at true
    web scale (a 10^12-node similarity graph's diameter is unknown)."""
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    head = e.limit(driver_threshold + 1).collect()
    if len(head) <= driver_threshold:
        schema = e.select(
            F.col("u").alias("node"), F.col("u").alias("component")
        ).schema
        return _driver_union_find([(r["u"], r["v"]) for r in head], e.sparkSession, schema)
    return star_contraction_components(e, max_iter=max_iter)


def canonical_components(
    nodes: DataFrame, edges: DataFrame, node_col: str = "node"
) -> DataFrame:
    """All nodes (including isolated ones) → (node, component); isolated
    nodes are their own component."""
    cc = connected_components(edges)
    return (
        nodes.select(F.col(node_col).alias("node"))
        .distinct()
        .join(cc, "node", "left")
        .select("node", F.coalesce("component", "node").alias("component"))
    )


def self_surface_canon_map(
    self_surf: DataFrame,
    jaccard_threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame | None:
    """DISTINCT self-linked surfaces → (surface_norm, _canon2) rows for the
    MERGED surfaces only, or ``None`` when no near-duplicate pair exists
    (callers then skip the merge entirely). ``_canon2`` is
    ``surface:<component representative>``; a surface with no row keeps
    its own ``surface:<norm>`` id (callers coalesce on a null
    ``_canon2``). :func:`link_mentions` runs this over the materialized
    surface DIMENSION instead of re-deriving distinct surfaces from the
    mention fact table.

    The similarity pairs come from one broadcast-shaped LSH self-join; up
    to ``driver_threshold`` pairs are merged by a driver union-find whose
    result is returned as a local relation (one Spark action in all).
    Larger graphs go through star contraction."""
    from .lsh import char_shingles_col, lsh_self_join  # local import: no cycle

    sh = self_surf.withColumn("shingles", char_shingles_col(F.col("surface_norm")))
    pairs = lsh_self_join(
        sh, "surface_norm", num_hashes=num_hashes, bands=bands,
        threshold=jaccard_threshold,
    )
    # ONE driver round answers emptiness, driver-path eligibility and —
    # when small — returns the edge list itself
    driver_threshold = 100_000
    head = pairs.limit(driver_threshold + 1).collect()
    if not head:
        return None  # no near-duplicate unknown surfaces — nothing to merge
    if len(head) <= driver_threshold:
        cc = _driver_union_find(
            [(r["a"], r["b"]) for r in head], self_surf.sparkSession,
            "node string, component string",
        )
    else:
        cc = star_contraction_components(
            pairs.select(F.col("a").alias("u"), F.col("b").alias("v"))
        )
    return cc.select(
        F.col("node").alias("surface_norm"),
        F.concat(F.lit("surface:"), F.col("component")).alias("_canon2"),
    )


def canonicalize_self_linked(
    linked: DataFrame,
    jaccard_threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """Merge variant UNKNOWN surfaces: mentions the dictionary could not
    link (linked_via='self') whose normalized surfaces are near-duplicates
    (char-3-gram Jaccard ≥ threshold under LSH blocking) collapse into one
    component; canonical_id becomes ``surface:<component representative>``.

    This is the C1-upgrade canonicalization of SURVEY §2 applied inside
    the pipeline: dictionary-linked mentions are untouched; candidate new
    entities are deduplicated before triple emission. Cost scales with
    |distinct unknown surfaces|, not |mentions|.

    NOTE (round 6): re-derives the distinct self surfaces by scanning the
    mention-level input. When the linker's surface dimension is already
    materialized, prefer ``link_mentions(..., canonicalize_self=True)``,
    which runs :func:`self_surface_canon_map` at dimension level and is
    pinned row-identical to this composition by
    tests/test_link_canon_fold.py."""
    comp = self_surface_canon_map(
        linked.filter(F.col("linked_via") == "self")
        .select("surface_norm")
        .distinct(),
        jaccard_threshold=jaccard_threshold,
        num_hashes=num_hashes,
        bands=bands,
    )
    if comp is None:
        return linked
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
