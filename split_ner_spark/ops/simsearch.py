"""Similarity search over an embedding column (``array<float>``).

Brute-force cosine top-k as the exactness baseline, a sign-LSH-bucketed
variant as the scale path, and cosine near-dup pairs for embedding-level
deduplication.

Reference analog: the reference's nearest-sentence retrieval (argmax over
batch-scored candidates, /root/reference/splitner/utils/next_sent_prediction.py:32-50)
and mention-embedding clustering (splitner/utils/mention_clustering.py:113-161);
here re-expressed as DataFrame joins + in-order dot-product folds so the
arithmetic is bit-identical to the DuckDB oracle (verified: Spark's
``aggregate``/``zip_with`` left fold and DuckDB's ``list_sum`` produce
bitwise-equal doubles on float32 inputs).

C2 semantics note (explicit, per the round-2 review): the reference
scores candidate previous sentences with a BertForNextSentencePrediction
forward and keeps the argmax; this module's cosine top-1 over embeddings
is a documented STAND-IN with the same dataflow shape (score candidates,
keep best), not the same scoring function. The real-model slot is
``HFScorer.nsp_scores`` (split_ner_spark/hf_scorer.py) — rank candidates
with it instead of ``cosine_sim`` to reproduce the reference scoring
exactly when torch + a checkpoint are available.

Scale design:
- **brute force**: broadcast the (small) query set against the corpus —
  one narrow pass over the big side, no shuffle of embeddings; the
  per-query top-k is a partial-aggregating window. Right for |Q| ≪ |C|.
- **sign-LSH**: bucket = sign bits of the first B components (a fixed
  orthogonal-projection LSH; a production variant would use seeded random
  hyperplanes — same plan, different bucket expression). Candidates are
  bucket-local, so the self-join shuffles each embedding once and never
  materializes the |C|² cross product.

All Catalyst-native; cosine math uses array higher-order functions, no
UDF, so the fold runs inside codegen.
"""

from __future__ import annotations

import hashlib
import itertools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

LSH_SIGN_BITS = 8
EMB_DIM = 64  # dimension of the test embeddings table
RP_BITS = 4  # sign bits per band (bucket width 2^4)
RP_BANDS = 8  # OR-ed bands: a pair is a candidate if ANY band matches
# multi-probe: the QUERY side also probes every bucket within Hamming
# distance RP_PROBES of its own band signature (corpus side untouched, so
# the big side still gets exactly `bands` shuffle keys per vector).
# probes=1 at 4 bits = 5 buckets/band/query — measured recall@5 on the
# sf0.01 corpus: 0.76 → 1.00 (see scripts/ann_recall_curve.py output in
# BASELINE.md; probes=2 adds cost with no recall left to gain there).
RP_PROBES = 1


# --- vector arithmetic -------------------------------------------------------
#
# Round-6 optimization (guide §4.1 "prefer built-ins"): the original
# implementation used higher-order functions (``aggregate``/``zip_with``)
# for dot products and norms. Higher-order functions are CodegenFallback
# in Spark — every candidate pair paid an *interpreted* 64-element fold,
# and because the cosine expression was inlined into join conditions, each
# side's norm was re-evaluated per PAIR (4x in the guard + division).
#
# The replacements below unroll the fold into an explicit left-associated
# arithmetic chain over ``element_at``/``get`` terms, which whole-stage
# codegen compiles to straight-line JVM arithmetic. The results are
# BITWISE-IDENTICAL to the folds for every vector of length ≤ ``dim``:
#  - the term order and associativity are exactly the fold's
#    (((0.0 + t1) + t2) + ...), and
#  - padding terms past the actual array length add literal 0.0, which is
#    an IEEE no-op here: the running sum can never be -0.0 (it starts at
#    +0.0, and (+0.0) + (-0.0) = +0.0), so x + 0.0 == x bitwise; a
#    length mismatch (zip_with null-padding) yields NULL through the same
#    null-propagating ``get``-based terms.
# Vectors LONGER than ``dim`` are outside the engine contract (EMB_DIM is
# already baked into the RP-LSH hyperplane weights); callers with wider
# embeddings must raise ``dim``.


def _dot(a: str, b: str, dim: int = EMB_DIM) -> Column:
    # The WHOLE expression is built as one SQL string → ONE py4j
    # round-trip instead of ~320 (round 6, second session: the per-Column
    # py4j chatter was 0.9-2.1s of pure DRIVER time per query build at
    # ANY scale — measured with cProfile, 20k socket round-trips for
    # ann_lsh_topk). The parsed tree is structurally identical to the
    # Column-combinator form it replaced (kept in
    # tests/test_simsearch_expr.py as the reference, pinned via Catalyst
    # sameResult + bitwise value equality), so plans, codegen, and results
    # are unchanged.
    #
    # Full-width vectors take an UNGUARDED unrolled chain (``get`` returns
    # NULL out-of-range, so a shorter second side still null-propagates
    # exactly like zip_with padding); vectors narrower than ``dim`` (tests
    # use 4-dim fixtures) fall back to the fold, which is the
    # bitwise-identical original. The two-branch form halves the
    # expression-tree size vs per-term guards — measured ~1s less
    # planning+codegen constant per query. NULL arrays: the size is NULL
    # → the WHEN is false → fold branch → NULL.
    chain = "0.0D" + "".join(
        f" + CAST(get({a}, {i}) AS DOUBLE) * CAST(get({b}, {i}) AS DOUBLE)"
        for i in range(dim)
    )
    fold = (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (acc, x) -> acc + x)"
    )
    return F.expr(
        f"CASE WHEN greatest(size({a}), size({b})) >= {dim} "
        f"THEN {chain} ELSE {fold} END"
    )


def _norm_sq(a: str, dim: int = EMB_DIM) -> Column:
    # one-round-trip SQL build — see _dot
    chain = "0.0D" + "".join(
        f" + CAST(get({a}, {i}) AS DOUBLE) * CAST(get({a}, {i}) AS DOUBLE)"
        for i in range(dim)
    )
    fold = (
        f"aggregate({a}, 0.0D, (acc, x) -> "
        "acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
    )
    return F.expr(f"CASE WHEN size({a}) >= {dim} THEN {chain} ELSE {fold} END")


def _norm(a: str, dim: int = EMB_DIM) -> Column:
    return F.sqrt(_norm_sq(a, dim))


def _cosine_from_norms(
    a: str, b: str, na: Column, nb: Column, dim: int = EMB_DIM
) -> Column:
    """Cosine with the per-side norms precomputed per ROW (before a pair
    join) instead of per pair. Zero-norm guard: a zero vector (failed
    encode, padding row) has no direction — its similarity is defined as
    0.0 instead of letting ANSI mode throw on 0/0 and kill the whole scan
    (fuzz_oracle class; the SQL twin mirrors the same CASE, keeping rank
    order engine-equal)."""
    denom = na * nb
    return F.when(denom > 0, _dot(a, b, dim) / denom).otherwise(F.lit(0.0))


_DOT_SQL = (
    "list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)
_NORM_SQL = "sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"


def _cosine_sql(a: str, b: str) -> str:
    dot = _DOT_SQL.format(a=a, b=b)
    na = _NORM_SQL.format(a=a)
    nb = _NORM_SQL.format(a=b)
    return (
        f"(CASE WHEN {na} * {nb} > 0 THEN {dot} / ({na} * {nb}) "
        f"ELSE 0.0 END)"
    )


def _rank_topk(pairs: DataFrame, k: int, dim: int = EMB_DIM) -> DataFrame:
    """Score → rank tail of the three top-k paths: ``pairs`` carries
    (query_id, q_emb, _qn, neighbor_id, c_emb, _cn); rank = dense
    position by (cosine desc, neighbor asc), kept at ``rank <= k``."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.select(
            "query_id", "neighbor_id",
            _cosine_from_norms(
                "q_emb", "c_emb", F.col("_qn"), F.col("_cn"), dim
            ).alias("cosine_sim"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
    )


def _rank_topk_sql(ctes: str, k: int) -> str:
    """DuckDB twin of :func:`_rank_topk`: ``ctes`` ends with ``scored``
    (query_id, neighbor_id, cosine_sim)."""
    return f"""
    WITH {ctes}
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC
      ) AS INT) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


def cosine_topk(
    embeddings: DataFrame, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``n_queries`` vectors.

    The query side is tiny → ``broadcast`` join (one scan of the corpus,
    zero shuffle of the big side); rank = dense position by (sim desc,
    neighbor asc).
    """
    q = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"),
        _norm("embedding").alias("_qn"),
    )
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"),
        _norm("embedding").alias("_cn"),
    )
    return _rank_topk(
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")), k
    )


def cosine_topk_sql(
    emb_table: str = "embeddings", n_queries: int = 10, k: int = 5
) -> str:
    cos = _cosine_sql("q.embedding", "c.embedding")
    return _rank_topk_sql(f"""
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {cos} AS cosine_sim
      FROM {emb_table} q JOIN {emb_table} c ON q.vec_id <> c.vec_id
      WHERE q.vec_id < {n_queries}
    )""", k)


def _sign_bucket(emb: str | Column, bits: int) -> Column:
    return F.concat(
        *[
            F.when(F.element_at(emb, i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(bits)
        ]
    )


def _sign_bucket_sql(emb: str, bits: int) -> str:
    return " || ".join(
        f"CASE WHEN {emb}[{i + 1}] >= 0 THEN '1' ELSE '0' END" for i in range(bits)
    )


def lsh_cosine_topk(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    bits: int = LSH_SIGN_BITS,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign bucket.

    The bucket join shuffles each corpus vector once by an 8-bit key; at
    10^9+ vectors this (or IVF) is the only viable plan — brute force is
    the oracle for recall measurement, not the production path.
    """
    withb = embeddings.withColumn("bucket", _sign_bucket("embedding", bits))
    q = withb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"),
        "bucket", _norm("embedding").alias("_qn"),
    )
    c = withb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"),
        "bucket", _norm("embedding").alias("_cn"),
    )
    return _rank_topk(
        c.join(F.broadcast(q), "bucket").filter(
            F.col("query_id") != F.col("neighbor_id")
        ),
        k,
    )


def lsh_cosine_topk_sql(
    emb_table: str = "embeddings",
    n_queries: int = 10,
    k: int = 5,
    bits: int = LSH_SIGN_BITS,
) -> str:
    cos = _cosine_sql("q.embedding", "c.embedding")
    bq = _sign_bucket_sql("q.embedding", bits)
    bc = _sign_bucket_sql("c.embedding", bits)
    return _rank_topk_sql(f"""
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {cos} AS cosine_sim
      FROM {emb_table} q JOIN {emb_table} c
        ON ({bq}) = ({bc}) AND q.vec_id <> c.vec_id
      WHERE q.vec_id < {n_queries}
    )""", k)


# --- seeded random-hyperplane LSH (the production ANN path) -----------------
#
# Hyperplane j is a Rademacher (±1) vector derived from md5("hp-j-i") per
# dimension i — seeded, engine-independent, and known at PLAN TIME, so the
# projections compile to literal-weight in-order folds that Spark and
# DuckDB evaluate bitwise-identically (same recipe as the cosine oracle).
# Sign-bit j = [dot(emb, w_j) >= 0]. Bands OR together: a candidate pair
# must agree on ALL bits of at least ONE band — bits narrows buckets,
# bands recovers recall (classic banded LSH trade-off).


def _rp_weight(j: int, i: int) -> float:
    h = hashlib.md5(f"hp-{j}-{i}".encode()).hexdigest()
    return 1.0 if h[0] in "89abcdef" else -1.0


def _rp_dot_expr(emb: str, j: int, dim: int = EMB_DIM) -> str:
    """Spark-SQL text of the RP projection fold — parsed in ONE py4j call
    (the Column form shipped 64 weight literals per dot = ~2.5s of driver
    socket round-trips per ann_lsh_topk BUILD; see _dot). The weights are
    exactly ±1.0, whose text round-trips bitwise."""
    w = ", ".join(f"{_rp_weight(j, i)!r}D" for i in range(dim))
    return (
        f"aggregate(zip_with({emb}, array({w}), "
        "(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, x) -> acc + x)"
    )


def _rp_band_bucket(
    emb: str, band: int, bits: int = RP_BITS, dim: int = EMB_DIM
) -> Column:
    # Each projection is deliberately kept as the interpreted zip_with
    # fold: this is per-ROW work (bands*bits = 32 folds per vector), and
    # unrolling all of them exceeds janino's 64 KB method limit, which
    # forces the WHOLE stage to the interpreted fallback (measured 5x
    # slower than the fold). The per-row cost is paid once per vector and
    # parallelizes with the round-6 scan fan-out; the per-PAIR scoring
    # path uses the unrolled ``_dot`` instead (one expression per
    # operator — compiles fine).
    cases = ", ".join(
        f"CASE WHEN {_rp_dot_expr(emb, band * bits + j, dim)} >= 0 "
        "THEN '1' ELSE '0' END"
        for j in range(bits)
    )
    return F.expr(f"concat({cases})")


def _rp_dot_sql(emb: str, j: int, dim: int = EMB_DIM) -> str:
    w = "[" + ", ".join(str(_rp_weight(j, i)) for i in range(dim)) + "]"
    return (
        f"list_sum(list_transform(range(1, {dim} + 1), "
        f"i -> CAST({emb}[i] AS DOUBLE) * ({w})[i]))"
    )


def _rp_band_bucket_sql(
    emb: str, band: int, bits: int = RP_BITS, dim: int = EMB_DIM
) -> str:
    return " || ".join(
        f"CASE WHEN {_rp_dot_sql(emb, band * bits + j, dim)} >= 0 "
        "THEN '1' ELSE '0' END"
        for j in range(bits)
    )


def _probe_flip_sets(bits: int, probes: int) -> list[tuple[int, ...]]:
    """Bit-position sets of size 0..probes — every bucket within Hamming
    distance ``probes`` of a signature is its signature with one of these
    sets flipped."""
    out: list[tuple[int, ...]] = [()]
    for r in range(1, probes + 1):
        out.extend(itertools.combinations(range(bits), r))
    return out


def _flip_bucket(bucket: Column, positions: tuple[int, ...], bits: int) -> Column:
    if not positions:
        return bucket
    parts = []
    for p in range(bits):
        ch = F.substring(bucket, p + 1, 1)
        if p in positions:
            ch = F.when(ch == "1", F.lit("0")).otherwise(F.lit("1"))
        parts.append(ch)
    return F.concat(*parts)


def _flip_bucket_sql(positions: tuple[int, ...], bits: int) -> str:
    if not positions:
        return "bucket"
    parts = []
    for p in range(bits):
        if p in positions:
            parts.append(
                f"(CASE substr(bucket, {p + 1}, 1) WHEN '1' THEN '0' ELSE '1' END)"
            )
        else:
            parts.append(f"substr(bucket, {p + 1}, 1)")
    return " || ".join(parts)


def rp_lsh_candidates(
    embeddings: DataFrame,
    n_queries: int = 10,
    bits: int = RP_BITS,
    bands: int = RP_BANDS,
    dim: int = EMB_DIM,
    probes: int = RP_PROBES,
) -> DataFrame:
    """Deduplicated (query_id, q_emb, neighbor_id, c_emb) candidate pairs
    of the banded multi-probe RP-LSH join — the verification workload
    whose size the recall-vs-cost curve reports."""
    banded = embeddings.select(
        F.col("vec_id"),
        F.col("embedding"),
        _norm("embedding", dim).alias("_nrm"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        _rp_band_bucket("embedding", b, bits, dim).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("vec_id", "embedding", "_nrm", "band.band_id", "band.bucket")
    flip_sets = _probe_flip_sets(bits, probes)
    q = banded.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("_nrm").alias("_qn"),
        "band_id",
        F.explode(
            F.array(*[_flip_bucket(F.col("bucket"), ps, bits) for ps in flip_sets])
        ).alias("bucket"),
    )
    c = banded.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("_nrm").alias("_cn"),
        "band_id",
        "bucket",
    )
    return (
        c.join(F.broadcast(q), ["band_id", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "q_emb", "neighbor_id", "c_emb", "_qn", "_cn")
        .dropDuplicates(["query_id", "neighbor_id"])
    )


def rp_lsh_topk(
    embeddings: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    bits: int = RP_BITS,
    bands: int = RP_BANDS,
    dim: int = EMB_DIM,
    probes: int = RP_PROBES,
) -> DataFrame:
    """Approximate top-k via banded random-hyperplane LSH with multi-probe.

    Candidates = pairs agreeing on all ``bits`` sign bits of ≥1 of
    ``bands`` bands, where the QUERY side also probes every bucket within
    Hamming distance ``probes`` of its band signature (Lv et al.,
    multi-probe LSH): near neighbors that fall one sign-flip outside the
    query's bucket — the dominant miss mode on weakly-clustered data —
    are recovered without touching the corpus side. Exact cosine re-ranks
    candidates; per-query top-k.

    Cost shape at scale: the corpus still gets exactly ``bands`` shuffle
    keys per vector (the only big-side work); probing multiplies only the
    tiny broadcast query side by ``sum(C(bits, r) for r ≤ probes)`` (5×
    at 4 bits / 1 probe) and the candidate verification volume by the
    buckets actually hit. Measured on the sf0.01 corpus (near-random
    embeddings, mean top-1 cosine ≈ 0.37 — the hard case for LSH):
    recall@5 = 0.76 (probes=0) → 1.00 (probes=1) at 2.3× candidates;
    full curve in BASELINE.md via scripts/ann_recall_curve.py. Random
    data has no locality, so high recall there necessarily verifies a
    large corpus fraction; on clustered embeddings (the production case,
    pinned by the planted-cluster unit test) buckets are dense in true
    neighbors and the candidate fraction stays small."""
    return _rank_topk(
        rp_lsh_candidates(embeddings, n_queries, bits, bands, dim, probes), k, dim
    )


def rp_lsh_topk_sql(
    emb_table: str = "embeddings",
    n_queries: int = 10,
    k: int = 5,
    bits: int = RP_BITS,
    bands: int = RP_BANDS,
    dim: int = EMB_DIM,
    probes: int = RP_PROBES,
) -> str:
    band_selects = "\n      UNION ALL\n".join(
        f"      SELECT vec_id, embedding, {b} AS band_id, "
        f"{_rp_band_bucket_sql('embedding', b, bits, dim)} AS bucket "
        f"FROM {emb_table}"
        for b in range(bands)
    )
    probe_selects = "\n      UNION ALL\n".join(
        f"      SELECT query_id, q_emb, band_id, "
        f"{_flip_bucket_sql(ps, bits)} AS bucket FROM qb"
        for ps in _probe_flip_sets(bits, probes)
    )
    cos = _cosine_sql("c.q_emb", "c.embedding")
    return _rank_topk_sql(f"""
    banded AS (
{band_selects}
    ),
    qb AS (
      SELECT vec_id AS query_id, embedding AS q_emb, band_id, bucket
      FROM banded WHERE vec_id < {n_queries}
    ),
    q AS (
{probe_selects}
    ),
    cand AS (
      SELECT DISTINCT q.query_id, q.q_emb, c.vec_id AS neighbor_id, c.embedding
      FROM banded c JOIN q USING (band_id, bucket)
      WHERE q.query_id <> c.vec_id
    ),
    scored AS (
      SELECT query_id, neighbor_id, {cos} AS cosine_sim FROM cand c
    )""", k)


def rp_lsh_recall(
    embeddings: DataFrame, n_queries: int = 10, k: int = 5
) -> DataFrame:
    """Recall@k of the banded RP-LSH path against the brute-force oracle,
    as a one-row DataFrame — the ANN quality gate, itself oracle-checked
    (both sides are SQL-expressible)."""
    exact = cosine_topk(embeddings, n_queries, k).select(
        "query_id", "neighbor_id"
    )
    approx = rp_lsh_topk(embeddings, n_queries, k).select(
        "query_id", "neighbor_id"
    )
    hit = exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
    return (
        exact.agg(F.count("*").alias("n_exact"))
        .crossJoin(hit.agg(F.count("*").alias("n_hit")))
        .select(
            F.lit(n_queries).cast("int").alias("n_queries"),
            F.lit(k).cast("int").alias("k"),
            F.col("n_exact").cast("long").alias("n_exact"),
            F.col("n_hit").cast("long").alias("n_hit"),
            (F.col("n_hit").cast("double") / F.col("n_exact").cast("double")).alias(
                "recall"
            ),
        )
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.9, bits: int = LSH_SIGN_BITS
) -> DataFrame:
    """Embedding-cosine near-dup pairs (bucket-pruned, then exact filter).

    Sign-LSH bucketing only *prunes* (near-identical vectors share all
    sign bits with overwhelming probability); the cosine filter is exact
    within buckets. Completes the dedup ladder at the semantic level.
    """
    withb = embeddings.select(
        "vec_id", "embedding", _sign_bucket("embedding", bits).alias("bucket"),
        _norm("embedding").alias("_nrm"),
    )
    a, b = withb.alias("a"), withb.alias("b")
    return (
        a.join(b, "bucket")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            # dotted names go through _dot/_norm's one-round-trip SQL
            # builder; `a.embedding` is a valid qualified reference there
            _cosine_from_norms(
                "a.embedding", "b.embedding",
                F.col("a._nrm"), F.col("b._nrm"),
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def embedding_near_dup_pairs_sql(
    emb_table: str = "embeddings", threshold: float = 0.9, bits: int = LSH_SIGN_BITS
) -> str:
    cos = _cosine_sql("a.embedding", "b.embedding")
    ba = _sign_bucket_sql("a.embedding", bits)
    bb = _sign_bucket_sql("b.embedding", bits)
    return f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {cos} AS cosine_sim
    FROM {emb_table} a JOIN {emb_table} b
      ON ({ba}) = ({bb}) AND a.vec_id < b.vec_id
    WHERE {cos} >= {threshold}
    """
