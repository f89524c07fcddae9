"""Canonicalization: connected components over the surface-similarity graph.

Reference analog: the k-medoids mention-clustering prototype
(/root/reference/splitner/utils/mention_clustering.py:113-161), which
pairwise-compares every mention on the driver. The rebuild replaces it
with the scalable formulation (SURVEY §2 C1 upgrade): LSH-blocked
similarity edges → connected components → one canonical id per component.

Two tiers, chosen by graph size (:func:`_components`):
- ≤ ``DRIVER_THRESHOLD`` edges: driver union-find (a tiny graph should
  not pay multiple distributed jobs per round);
- above it: **large-star/small-star** (Kiveris et al., "Connected
  Components in MapReduce and Beyond", SoCC'14) — O(log² n) rounds
  worst-case regardless of graph diameter, each round two
  groupBy-aggregates, with ``localCheckpoint`` per round to cut lineage
  and an exact convergence check (edge multiset stable). This is the
  only shape that survives adversarial diameters at 10^12 nodes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from .lsh import SURFACE_BANDS, SURFACE_HASHES, char_shingles_col, lsh_self_join

# edges up to which components are found by a driver union-find
DRIVER_THRESHOLD = 100_000
# star-contraction rounds before non-convergence raises
MAX_ITER = 50
# char-3-gram Jaccard at which two self-linked surfaces merge
SELF_JACCARD = 0.7


def _union_find(rows) -> dict:
    """Union-find over (u, v) pairs → {node: component}, the component
    being the minimum node of its set."""
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
    return {n: find(n) for n in parent}


def _driver_union_find(rows: list, e: DataFrame) -> DataFrame:
    """:func:`_union_find` over ``rows`` of (u, v) → (node, component) as a
    local relation, typed like ``e``'s ``u`` column."""
    schema = e.select(F.col("u").alias("node"), F.col("u").alias("component")).schema
    return local_frame(e.sparkSession, list(_union_find(rows).items()), schema)


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


def star_contraction_components(edges_uv: DataFrame) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al., SoCC'14) on a
    deduplicated (u, v) edge frame → (node, component).

    Converges in O(log² n) rounds on ANY graph shape (each round halves
    long chains), so unlike plain label propagation it cannot silently
    stop early on a high-diameter graph. Each round: two groupBy
    aggregates + ``localCheckpoint`` to cut lineage; convergence = edge
    multiset stable (count + order-independent hash). Raises RuntimeError
    if ``MAX_ITER`` rounds pass without convergence — wrong components
    must never be returned silently."""
    nodes = (
        edges_uv.select(F.col("u").alias("node"))
        .unionByName(edges_uv.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    e = edges_uv.localCheckpoint()
    prev = _edge_checksum(e)
    for _ in range(MAX_ITER):
        e = _small_star(_large_star(e)).localCheckpoint()
        cur = _edge_checksum(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"star-contraction did not converge in {MAX_ITER} rounds; "
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


def _components(
    e: DataFrame, driver_threshold: int = DRIVER_THRESHOLD
) -> DataFrame | None:
    """Deduplicated, loop-free (u, v) edges → (node, component), or
    ``None`` when there is no edge. ONE driver round answers emptiness,
    driver-path eligibility and — when small — returns the edge list
    itself; past ``driver_threshold`` edges star contraction takes over."""
    head = e.limit(driver_threshold + 1).collect()
    if not head:
        return None
    if len(head) <= driver_threshold:
        return _driver_union_find([(r["u"], r["v"]) for r in head], e)
    return star_contraction_components(e)


def connected_components(
    edges: DataFrame, driver_threshold: int = DRIVER_THRESHOLD
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
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    cc = _components(e, driver_threshold)
    return _driver_union_find([], e) if cc is None else cc


def self_surface_canon_map(surfaces: list) -> dict:
    """DISTINCT self-linked surfaces (a driver list) → ``{surface_norm:
    "surface:<component representative>"}`` for the MERGED surfaces only;
    empty when no near-duplicate pair exists. A surface with no entry
    keeps its own ``surface:<norm>`` id. :func:`..link.link_mentions`
    runs this over the self surfaces of its collected dimension.

    The similarity pairs (Jaccard ≥ ``SELF_JACCARD``) come from one
    broadcast-shaped LSH self-join over the surfaces as a local relation
    (already one row per pair, so no dedupe shuffle). The surface count
    ``n`` bounds the edge count by n·(n−1)/2, which picks the tier:

    - n < 2: no pair can exist, so no Spark job runs;
    - n·(n−1)/2 ≤ ``DRIVER_THRESHOLD``: one plain edge ``collect()`` and a
      driver union-find;
    - past that: :func:`_components` (``limit``-bounded collect, then
      star contraction when the edges outgrow the driver)."""
    n = len(surfaces)
    if n < 2:
        return {}
    sh = local_frame(
        SparkSession.active(), [(s,) for s in surfaces], "surface_norm string"
    ).withColumn("shingles", char_shingles_col(F.col("surface_norm")))
    e = lsh_self_join(
        sh, "surface_norm", num_hashes=SURFACE_HASHES, bands=SURFACE_BANDS,
        threshold=SELF_JACCARD,
    ).select(F.col("a").alias("u"), F.col("b").alias("v"))
    if n * (n - 1) // 2 <= DRIVER_THRESHOLD:
        comp = _union_find(e.collect())
    else:
        cc = _components(e, DRIVER_THRESHOLD)
        comp = {} if cc is None else dict(cc.collect())
    return {s: "surface:" + c for s, c in comp.items()}
