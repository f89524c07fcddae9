"""Deduplication operators for the training-data pipeline over ``documents``.

Exact (hash-groupBy), MinHash+LSH (shingle → minhash → band → bucket
join), SimHash (banded hamming join), and n-gram Jaccard — the standard
web-corpus dedup ladder.

Reference analog: the reference dedups sentences first-wins by text key
(/root/reference/splitner/main_qa.py:120-127, main_span.py:105-107) and
clusters mention surfaces (splitner/utils/mention_clustering.py); here the
same ideas are scaled to corpus-level near-dup detection, the shape every
100 TB pretraining pipeline needs.

Scale design notes:
- **exact**: one hash-groupBy on md5(text) — partial-agg combines map-side,
  the shuffle carries 16-byte keys, never the text.
- **MinHash/LSH**: signatures are a narrow scan-side projection; the only
  shuffle is the band-bucket self-join, whose keys are uniformly
  distributed md5 buckets (no skew by construction). Candidate
  verification (exact Jaccard) touches only bucket-collision pairs — the
  whole point of LSH at 10^12 docs.
- **SimHash**: hamming ≤ d over b bits via pigeonhole banding (d+1 bands ⇒
  any pair within d matches at least one band exactly) — an *exact*
  candidate generator, no cross join anywhere.
- every hash is md5 (bit-identical in Spark and DuckDB), so each operator
  has an exact SQL oracle twin.

All Catalyst-native: array/higher-order functions + joins; no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .textstats import TOKEN_WS_RE, ws_tokens

N_MINHASH = 12
N_BANDS = 4  # 3 rows per band
SIMHASH_BITS = 16
_HI = tuple("89abcdef")  # md5 hex chars whose high bit is 1


def exact_dedup(documents: DataFrame) -> DataFrame:
    """md5(text) grouping: keeper = lowest doc_id per hash, rest are dups."""
    w = Window.partitionBy("text_hash").orderBy("doc_id")
    return (
        documents.select("doc_id", F.md5("text").alias("text_hash"))
        .withColumn("keeper_id", F.min("doc_id").over(w))
        .select(
            "doc_id",
            "text_hash",
            "keeper_id",
            (F.col("doc_id") != F.col("keeper_id")).alias("is_dup"),
        )
    )


def exact_dedup_sql(doc_table: str = "documents") -> str:
    return f"""
    SELECT doc_id, text_hash, keeper_id, doc_id <> keeper_id AS is_dup
    FROM (
      SELECT doc_id, md5(text) AS text_hash,
             min(doc_id) OVER (PARTITION BY md5(text)) AS keeper_id
      FROM {doc_table}
    )
    """


def shingle_arrays(documents: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, sh:array<string>) — distinct md5'd k-token shingles per doc.

    This is the SHARED upstream of the whole MinHash family: signatures,
    band keys, shingle rows and set sizes all derive from it, so a
    composition like :func:`lsh_verified_jaccard` pays the tokenize+md5
    pass over raw text exactly once (cache/materialize this frame; at
    10^12 docs it is the staging table between the scan and every dedup
    consumer). The array is materialized through a Generate barrier
    (``explode(array(...))``) because higher-order functions are not
    codegen'd and projection collapse would otherwise re-evaluate the md5
    array once per consumer expression.

    Token-less documents (empty or whitespace-only text) contribute ZERO
    shingles and thus never enter the near-dup universe: the alternative
    — one md5('') shingle each — would make every empty doc pair with
    every other empty doc (jaccard 1.0), a quadratic blowup on one hot
    shingle at crawl scale where empty pages number in the millions.
    Exact-duplicate handling of empty docs belongs to exact_dedup.
    (Found by scripts/fuzz_oracle.py — the fixed test corpus has no
    empty docs.)

    Precondition: ``doc_id`` is unique in ``documents``. Rows are emitted
    per input row, so two documents sharing an id yield two arrays under
    one id, and every consumer keyed on ``doc_id`` (the grouped
    signatures, the size and verification joins) then mixes them."""
    toks = ws_tokens()
    n = F.size(toks)
    sh = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
            lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, k))),
        )
    )
    # token-less docs produce exactly the singleton [md5('')] array (a doc
    # WITH tokens always joins >=1 non-empty token, so md5('') can never
    # appear otherwise); filtering on that constant AFTER the Generate
    # barrier costs one array compare — a pre-UDF filter on
    # size(ws_tokens()) would re-run the tokenize regex per row
    md5_empty = "d41d8cd98f00b204e9800998ecf8427e"
    return documents.select(
        "doc_id", F.explode(F.array(sh)).alias("sh")
    ).filter(F.col("sh") != F.array(F.lit(md5_empty)))


def shingles(documents: DataFrame, k: int = 3) -> DataFrame:
    """Distinct k-token shingles per doc: (doc_id, shingle_hash)."""
    return shingle_rows(shingle_arrays(documents, k))


def shingle_rows(sh_arrays: DataFrame) -> DataFrame:
    """(doc_id, sh:array) → exploded (doc_id, shingle_hash) rows."""
    return sh_arrays.select("doc_id", F.explode("sh").alias("shingle_hash"))


def _shingle_arrays_sql(doc_table: str, k: int) -> str:
    """DuckDB twin of :func:`shingle_arrays`: (doc_id, sh list of distinct
    md5'd k-token shingles), token-less docs dropped."""
    toks = f"regexp_extract_all(text, '{TOKEN_WS_RE}')"
    n = f"len({toks})"
    sh = (
        f"list_distinct(list_transform(range(1, greatest({n} - {k - 1}, 1) + 1), "
        f"i -> md5(array_to_string({toks}[i:i+{k - 1}], ' '))))"
    )
    return f"SELECT doc_id, {sh} AS sh FROM {doc_table} WHERE {n} > 0"


def _shingles_sql(doc_table: str, k: int) -> str:
    return (
        f"SELECT doc_id, unnest(sh) AS shingle_hash "
        f"FROM ({_shingle_arrays_sql(doc_table, k)})"
    )


# affine-mix constants: one md5 per shingle reduced to 32 bits, then
# n_hashes cheap (a*h + b) % P mixes. base < 2^32 and a < 2^21 keep every
# product < 2^63, so Spark and DuckDB int64 arithmetic agree exactly
# (DuckDB *errors* on int64 overflow where Spark wraps — stay in range).
MINHASH_P = 1_000_000_007
_MIX_A = "(12289 * ({i} + 1) + 6151)"
_MIX_B = "(104729 * {i} + 9973)"


def minhash_signatures_from_arrays(
    sh_arrays: DataFrame, n_hashes: int = N_MINHASH
) -> DataFrame:
    """(doc_id, sh:array<md5 hex>) → (doc_id, signature:array<bigint>).

    One-hash-many-mixes: base = first 8 hex chars of the shingle's md5
    (already computed in :func:`shingle_arrays` — NO second text pass),
    sig[i] = min over bases of the i-th affine mix.

    Round 6 (second session): computed as explode → grouped min-aggregates
    instead of a per-row higher-order fold. HOFs are CodegenFallback, so
    the fold evaluated |shingles| × n_hashes interpreted mix expressions
    per document (~240M at the driver's sf1 — the dominant cost of the
    whole dedup family); the aggregate form runs the same mixes inside
    WholeStageCodegen. Exactly output-equivalent (pinned by
    tests/test_simsearch_expr.py): every doc emitted by shingle_arrays
    has ≥1 shingle (token-less docs are filtered there), min is
    order-independent, and the integer math is the same literal-constant
    affine mix below 2^63. The shuffle this adds carries one PARTIALLY
    AGGREGATED row per (doc, map partition) — each doc's shingle rows are
    generated inside one partition, so the exchange moves ~|docs| rows of
    32 longs, not |shingles| rows.

    Precondition: ``doc_id`` is unique in ``sh_arrays`` (as
    :func:`shingle_arrays` gives for unique input ids). The aggregate
    groups by ``doc_id``, so rows sharing an id get ONE signature over
    the union of their shingles, where the per-row fold gave one each;
    the equivalence test covers unique ids only."""
    bases = F.transform(
        F.col("sh"), lambda h: F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    )
    rows = sh_arrays.select("doc_id", F.explode(bases).alias("b"))
    aggs = [
        F.expr(
            f"min((b * {12289 * (i + 1) + 6151} + {104729 * i + 9973}) "
            f"% {MINHASH_P})"
        ).alias(f"s{i}")
        for i in range(n_hashes)
    ]
    sig_cols = ", ".join(f"s{i}" for i in range(n_hashes))
    return (
        rows.groupBy("doc_id")
        .agg(*aggs)
        .select("doc_id", F.expr(f"array({sig_cols})").alias("signature"))
    )


def _minhash_sig_sql(doc_table: str, k: int, n_hashes: int) -> str:
    bases = "list_transform(sh, h -> CAST(concat('0x', substr(h, 1, 8)) AS BIGINT))"
    a = _MIX_A.format(i="i")
    b = _MIX_B.format(i="i")
    sig = (
        f"list_transform(range(0, {n_hashes}), "
        f"i -> list_min(list_transform(bases, b -> (b * {a} + {b}) % {MINHASH_P})))"
    )
    return (
        f"SELECT doc_id, {sig} AS signature FROM "
        f"(SELECT doc_id, {bases} AS bases FROM ({_shingle_arrays_sql(doc_table, k)}))"
    )


def minhash_lsh_pairs(
    documents: DataFrame,
    k: int = 3,
    n_hashes: int = N_MINHASH,
    bands: int = N_BANDS,
    sh_arrays: DataFrame | None = None,
    *,
    cleanup: list,
) -> DataFrame:
    """LSH candidate pairs: docs sharing at least one signature band.

    Band key = md5(band_id || joined band rows); the self-equi-join on
    (band_id, band_key) is the only shuffle, and its keys are uniform.
    Pass ``sh_arrays`` (from :func:`shingle_arrays`, ideally persisted) to
    share the tokenize+md5 pass with other consumers.

    ``cleanup`` (round 6): the tiny banded frame (doc_id, band_id,
    band_key — a few dozen bytes per doc) is cached and appended to the
    list, so the self-join's broadcast-build side and its probe side read
    ONE materialization instead of each re-running the whole
    tokenize→md5→signature pipeline (the planner builds a broadcast
    from one side, which otherwise duplicates the full upstream compute;
    exchange reuse cannot help because the broadcast side's plan differs).
    Same deferred-unpersist contract as :func:`lsh_verified_jaccard`.
    """
    rows = n_hashes // bands
    if sh_arrays is None:
        sh_arrays = shingle_arrays(documents, k)
    sig = minhash_signatures_from_arrays(sh_arrays, n_hashes)
    banded = sig.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.transform(
                                F.slice("signature", b * rows + 1, rows),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("band_key"),
                ),
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_key").cache()
    cleanup.append(banded)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band_id", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def minhash_lsh_pairs_sql(
    doc_table: str = "documents", k: int = 3, n_hashes: int = N_MINHASH, bands: int = N_BANDS
) -> str:
    rows = n_hashes // bands
    sig = _minhash_sig_sql(doc_table, k, n_hashes)
    return f"""
    WITH sig AS ({sig}),
    banded AS (
      SELECT doc_id, b.band_id,
             md5(array_to_string(signature[b.band_id*{rows}+1 : b.band_id*{rows}+{rows}], '|')) AS band_key
      FROM sig, (SELECT unnest(range(0, {bands})) AS band_id) b
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a JOIN banded b USING (band_id, band_key)
    WHERE a.doc_id < b.doc_id
    """


def _jaccard_pairs(
    inter: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """Verification tail of both Jaccard operators: intersection counts
    (doc_a, doc_b, n_common) and set sizes (doc_id, n_sh) →
    jaccard = |A∩B| / (|A|+|B|-|A∩B|), pairs at ≥ ``threshold``."""
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _jaccard_pairs_sql(ctes: str, threshold: float) -> str:
    """DuckDB twin of :func:`_jaccard_pairs`: ``ctes`` defines ``sh``
    (doc_id, shingle_hash) and ``inter`` (doc_a, doc_b, n_common)."""
    jaccard = "CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE)"
    return f"""
    WITH {ctes},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
    SELECT doc_a, doc_b, {jaccard} AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE {jaccard} >= {threshold}
    """


def ngram_jaccard_pairs(
    documents: DataFrame, k: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Exact n-gram Jaccard over pairs sharing ≥1 shingle.

    jaccard = |A∩B| / (|A|+|B|-|A∩B|); the shingle self-join generates only
    pairs with nonzero intersection — at web scale this runs AFTER LSH
    pruning (verification step); here it is also exposed standalone so the
    oracle can check the arithmetic end-to-end.
    """
    sh = shingles(documents, k)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "shingle_hash")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    return _jaccard_pairs(inter, sizes, threshold)


def ngram_jaccard_pairs_sql(
    doc_table: str = "documents", k: int = 3, threshold: float = 0.5
) -> str:
    sh = _shingles_sql(doc_table, k)
    return _jaccard_pairs_sql(f"""
    sh AS ({sh}),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b USING (shingle_hash)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )""", threshold)


def lsh_verified_jaccard(
    documents: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    n_hashes: int = N_MINHASH,
    bands: int = N_BANDS,
    *,
    cleanup: list,
) -> DataFrame:
    """The production dedup composition: MinHash-LSH candidate generation,
    then exact n-gram-Jaccard verification restricted to candidates.

    The expensive shingle⋈shingle fan-out of :func:`ngram_jaccard_pairs`
    is replaced by candidates⋈shingles (cost ∝ |candidates|·|shingles per
    doc|) — this is the only Jaccard shape that survives 10^12 docs.

    The shingle subplan is computed ONCE and shared: ``shingle_arrays`` is
    persisted and feeds (a) the MinHash signatures behind candidate
    generation, (b) the shingle rows of the verification join and (c) the
    set sizes — one tokenize+md5 pass over raw text instead of three. On a
    real deployment the persisted frame is an Iceberg staging table; here
    ``cache()`` plays that role (materialized by the first stage that
    reads it, reused by the rest of the same job).

    The cached shingle frame (and the banded frame of
    :func:`minhash_lsh_pairs`) are appended to ``cleanup`` for the caller
    to ``unpersist()`` once the result is materialized."""
    sh_arr = shingle_arrays(documents, k).cache()
    cleanup.append(sh_arr)
    cand = minhash_lsh_pairs(
        documents, k, n_hashes, bands, sh_arrays=sh_arr, cleanup=cleanup
    )
    sh = shingle_rows(sh_arr)
    sizes = sh_arr.select("doc_id", F.size("sh").alias("n_sh"))
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), "shingle_hash")
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), "shingle_hash")
    inter = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle_hash"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    return _jaccard_pairs(inter, sizes, threshold)


def lsh_verified_jaccard_sql(
    doc_table: str = "documents",
    k: int = 3,
    threshold: float = 0.5,
    n_hashes: int = N_MINHASH,
    bands: int = N_BANDS,
) -> str:
    cand = minhash_lsh_pairs_sql(doc_table, k, n_hashes, bands)
    sh = _shingles_sql(doc_table, k)
    return _jaccard_pairs_sql(f"""
    cand AS ({cand}),
    sh AS ({sh}),
    inter AS (
      SELECT cand.doc_a, cand.doc_b, count(*) AS n_common
      FROM cand
      JOIN sh a ON a.doc_id = cand.doc_a
      JOIN sh b ON b.doc_id = cand.doc_b AND b.shingle_hash = a.shingle_hash
      GROUP BY cand.doc_a, cand.doc_b
    )""", threshold)


def simhash(documents: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash over whitespace tokens (term-frequency weighted), as a
    ``bits``-character '0'/'1' string: :func:`simhash_values` formatted
    bit 0 first (its most significant bit)."""
    return simhash_values(documents, bits).select(
        "doc_id",
        F.expr(f"lpad(bin(simhash_v), {bits}, '0')").alias("simhash_bits"),
    )


SIMHASH_PAIR_BITS = 32


def simhash_values(documents: DataFrame, bits: int = SIMHASH_PAIR_BITS) -> DataFrame:
    """Integer SimHash (bit j from md5 hex digit j of each token, tf
    weighted): one hash-aggregate, output (doc_id, simhash_v:bigint).

    The int form makes downstream hamming a single ``bit_count(xor)``
    instead of a character-array fold — the representation you actually
    ship at 10^12 docs (64-bit fingerprints in practice).

    Round-6 optimization (guide §2.3 "narrower types" / §1.2 per-task
    work): bit j of a token == high bit of md5 hex digit j. Instead of 32
    ``substring(h, j, 1) IN ('8'..'f')`` string probes per token (32
    string allocations + set membership each), the digits are parsed ONCE
    into four 32-bit integer chunks (``conv(substr, 16, 10)``) and each
    bit is a codegen'd shift-and-mask; ``sum(bit)`` relates to the old
    ``sum(±1)`` by s_j = 2*sum(bit_j) - n_tokens, so the sign test
    ``s_j > 0`` becomes ``2*sum(bit_j) > n`` — integer-exact, identical
    output."""
    tok = F.explode(ws_tokens()).alias("token")
    chunks = bits // 8
    # Expressions below are assembled as SQL strings — ONE py4j round-trip
    # per expression instead of per operator (round 6, second session:
    # the Column form was ~0.9s of driver build time per invocation at
    # any data size; parsed trees pinned Catalyst-sameResult-identical to
    # the Column form by tests/test_simsearch_expr.py).
    # md5 through its own Generate barrier (same pattern as
    # shingle_arrays): projection collapse would otherwise inline the md5
    # into all four chunk expressions and hash every token 4x
    exploded = (
        documents.select("doc_id", tok)
        .select("doc_id", F.explode(F.array(F.md5("token"))).alias("h"))
        .select(
            "doc_id",
            *[
                F.expr(
                    f"CAST(conv(substring(h, {8 * k + 1}, 8), 16, 10) AS BIGINT)"
                ).alias(f"c{k}")
                for k in range(chunks)
            ],
        )
    )
    aggs = [
        F.expr(f"sum(shiftright(c{j // 8}, {31 - 4 * (j % 8)}) & 1)").alias(f"b{j}")
        for j in range(bits)
    ] + [F.expr("count(1)").alias("_n")]
    v = " + ".join(
        f"CASE WHEN b{j} * 2 > _n THEN CAST({1 << (bits - 1 - j)} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END"
        for j in range(bits)
    )
    return exploded.groupBy("doc_id").agg(*aggs).select(
        "doc_id", F.expr(v).alias("simhash_v")
    )


def _simhash_values_sql(doc_table: str, bits: int) -> str:
    hi = ", ".join("'" + c + "'" for c in _HI)
    sums = ", ".join(
        f"sum(CASE WHEN substr(h, {j + 1}, 1) IN ({hi}) THEN 1 ELSE -1 END) AS s{j}"
        for j in range(bits)
    )
    v = " + ".join(
        f"CASE WHEN s{j} > 0 THEN CAST({1 << (bits - 1 - j)} AS BIGINT) ELSE 0 END"
        for j in range(bits)
    )
    return f"""
    SELECT doc_id, {v} AS simhash_v FROM (
      SELECT doc_id, {sums}
      FROM (SELECT doc_id, md5(unnest(regexp_extract_all(text, '{TOKEN_WS_RE}'))) AS h
            FROM {doc_table})
      GROUP BY doc_id
    )
    """


def simhash_pairs(
    documents: DataFrame,
    bits: int = SIMHASH_PAIR_BITS,
    max_hamming: int = 3,
    *,
    cleanup: list,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ d, via pigeonhole banding.

    Split the b bits into d+1 byte bands; any pair within hamming d agrees
    exactly on ≥1 band (pigeonhole), so the band equi-join is a lossless
    candidate generator and the exact ``bit_count(xor)`` filter verifies.
    No cross join anywhere — the plan that survives 10^12 docs.

    Round-6 rewrite, output-identical (the result is exactly
    {(a, b, hamming(v_a, v_b)) : a < b, hamming ≤ d} and hamming depends
    only on the fingerprints, so the banding is a pure candidate
    generator):

    1. The band self-join runs over DISTINCT fingerprints, not documents
       — on a near-dup-heavy corpus the doc-level join emitted
       O(sum n_bucket^2) = 1.5e9 candidate rows for ~50k docs, the
       value-level join 5.7x fewer. Each qualifying unordered VALUE pair
       (incl. v with itself) is emitted exactly once: lowest-matching-
       band rule (for bands b' < band_id the xor within b' must be
       nonzero; pigeonhole guarantees ≥1 match), which also removes the
       old quadratic-sized ``.distinct()`` shuffle entirely.
    2. Qualifying value pairs (a tiny frame bounded by the true near-dup
       structure) are then expanded to doc pairs with two joins against
       the (doc_id, simhash_v) frame: probe doc a picks up its partner
       values, then partner docs b with a < b — each output pair appears
       exactly once (see the per-case argument in OPTIMIZATION_r06.md),
       and the probe rows stay evenly spread, so a hot fingerprint's
       quadratic expansion is balanced across tasks instead of landing
       on one reducer.

    ``cleanup``: same deferred-unpersist contract as the other dedup
    operators — the small (doc_id, simhash_v) frame is cached and
    appended to it, so the three consumers (distinct values, expansion
    probe, expansion build) share one simhash aggregation."""
    n_bands = max_hamming + 1
    width = bits // n_bands
    mask = (1 << width) - 1
    sv = simhash_values(documents, bits).cache()
    cleanup.append(sv)
    # Explicit fan-out of the probe side: AQE rightly coalesces the tiny
    # post-distinct shuffle (28k fingerprints ≈ <1 MiB) down to 1-2
    # partitions — but this operator's OUTPUT is quadratic in bucket
    # sizes, so the coalesced probe ran its ~10^8-row expansion on 1-2
    # cores (measured 12.6s for the value join; the per-partition cost
    # here is proportional to join OUTPUT, which AQE cannot see).
    cores = documents.sparkSession.sparkContext.defaultParallelism
    vals = sv.select("simhash_v").distinct().repartition(cores)
    banded = vals.select(
        "simhash_v",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bb).alias("band_id"),
                        F.shiftright(F.col("simhash_v"), bb * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_key"),
                    )
                    for bb in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("simhash_v", "band.band_id", "band.band_key")
    u, w = banded.alias("u"), banded.alias("w")
    xor = F.col("u.simhash_v").bitwiseXOR(F.col("w.simhash_v"))
    hamming = F.bit_count(xor).cast("int")
    first_band = None
    for bb in range(n_bands - 1):
        prior_differs = (F.col("band_id") <= bb) | (
            F.shiftright(xor, bb * width).bitwiseAND(F.lit(mask)) != 0
        )
        first_band = (
            prior_differs if first_band is None else first_band & prior_differs
        )
    vp = (
        u.join(w, ["band_id", "band_key"])
        .filter(F.col("u.simhash_v") <= F.col("w.simhash_v"))
    )
    if first_band is not None:
        vp = vp.filter(first_band)
    vp = vp.select(
        F.col("u.simhash_v").alias("v1"),
        F.col("w.simhash_v").alias("v2"),
        hamming.alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)
    # symmetric partner table: probe doc a must see partners in both
    # directions; the (v, v) self-pair appears once
    vp_sym = vp.select(
        F.col("v1").alias("v_a"), F.col("v2").alias("v_b"), "hamming"
    ).unionByName(
        vp.filter(F.col("v1") != F.col("v2")).select(
            F.col("v2").alias("v_a"), F.col("v1").alias("v_b"), "hamming"
        )
    ).repartition(cores)  # same output-explosion argument as ``vals``
    # broadcast the doc→fingerprint frame (|docs| rows, two slim columns)
    # into both expansion joins — the value-pair frame is the probe side
    # (its row count scales with the near-dup structure and is NOT
    # broadcastable in general), so the quadratic expansion output stays
    # evenly spread over the probe partitions. The hint is CONDITIONAL on
    # the optimizer's size estimate of the broadcast frame itself — ``sv``,
    # whose not-yet-materialized cache reports its aggregate plan's
    # estimate (without the hint the local planner picked a sort-merge
    # join): past ~the broadcast budget the hint is dropped and the
    # planner's shuffle equi-join takes over — the expansion shape itself
    # is scale-valid either way.
    try:
        est_bytes = int(sv._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        est_bytes = 0
    def _maybe_broadcast(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if 0 < est_bytes < 512 * 1024 * 1024 else df
    sv_a = sv.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash_v").alias("v_a")
    )
    sv_b = sv.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash_v").alias("v_b")
    )
    step1 = vp_sym.join(_maybe_broadcast(sv_a), "v_a").select(
        "doc_a", "v_b", "hamming"
    )
    return (
        step1.join(_maybe_broadcast(sv_b), "v_b")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_pairs_sql(
    doc_table: str = "documents", bits: int = SIMHASH_PAIR_BITS, max_hamming: int = 3
) -> str:
    n_bands = max_hamming + 1
    width = bits // n_bands
    mask = (1 << width) - 1
    sh = _simhash_values_sql(doc_table, bits)
    return f"""
    WITH sh AS ({sh}),
    banded AS (
      SELECT doc_id, simhash_v, b.band_id,
             (simhash_v >> (b.band_id * {width})) & {mask} AS band_key
      FROM sh, (SELECT unnest(range(0, {n_bands})) AS band_id) b
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash_v, b.simhash_v)) AS INT) AS hamming
    FROM banded a JOIN banded b USING (band_id, band_key)
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.simhash_v, b.simhash_v)) <= {max_hamming}
    """
