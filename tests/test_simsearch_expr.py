"""The one-round-trip SQL-string builders (ops/simsearch vector math,
ops/dedup simhash_values) must be CATALYST-IDENTICAL to the
Column-combinator forms they replace (kept below as reference specs).

`sameResult` on the analyzed plans is Catalyst's own semantic-equality
check — if it holds, plans, codegen, and results cannot differ; value
equality over edge-case vectors (short/empty/NULL/zero/NaN arrays) is
asserted on top, bitwise via repr.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from split_ner_spark.ops import simsearch as S
from split_ner_spark.ops.dedup import (
    MINHASH_P,
    N_MINHASH,
    SIMHASH_PAIR_BITS,
    minhash_signatures_from_arrays,
    shingle_arrays,
    simhash_values,
    ws_tokens,
)

EDGE_ROWS = [
    ([0.5] * 64, [1.0] * 64),
    ([0.1, 0.2, 0.3, 0.4], [0.4, 0.3, 0.2, 0.1]),
    ([], []),
    (None, [1.0] * 64),
    ([1.0] * 64, None),
    ([0.0] * 64, [0.0] * 64),
    ([1.5] * 63, [2.5] * 64),
    ([float("nan")] * 64, [1.0] * 64),
    ([-0.25] * 65, [4.0] * 65),
]


def _same(df_a, df_b) -> bool:
    return (
        df_a._jdf.queryExecution()
        .analyzed()
        .sameResult(df_b._jdf.queryExecution().analyzed())
    )


# --- the Column-combinator forms of ops.simsearch, kept as the reference spec


def _dot_fold(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm_sq_fold(a: Column) -> Column:
    return F.aggregate(
        a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )


def _dot_column_form(a: Column, b: Column, dim: int = S.EMB_DIM) -> Column:
    n = F.greatest(F.size(a), F.size(b))
    acc: Column = F.lit(0.0)
    for i in range(dim):
        acc = acc + F.get(a, i).cast("double") * F.get(b, i).cast("double")
    return F.when(n >= dim, acc).otherwise(_dot_fold(a, b))


def _norm_sq_column_form(a: Column, dim: int = S.EMB_DIM) -> Column:
    acc: Column = F.lit(0.0)
    for i in range(dim):
        x = F.get(a, i).cast("double")
        acc = acc + x * x
    return F.when(F.size(a) >= dim, acc).otherwise(_norm_sq_fold(a))


def _rp_dot(emb: Column, j: int, dim: int = S.EMB_DIM) -> Column:
    w = F.array(*[F.lit(S._rp_weight(j, i)) for i in range(dim)])
    return F.aggregate(
        F.zip_with(emb, w, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _rp_band_bucket_column_form(
    emb: Column, band: int, bits: int = S.RP_BITS, dim: int = S.EMB_DIM
) -> Column:
    return F.concat(
        *[
            F.when(_rp_dot(emb, band * bits + j, dim) >= 0, F.lit("1")).otherwise(
                F.lit("0")
            )
            for j in range(bits)
        ]
    )


def test_dot_norm_expr_equals_column(spark):
    df = spark.createDataFrame(EDGE_ROWS, "a array<double>, b array<double>")
    d_expr = df.select(S._dot("a", "b").alias("v"), S._norm_sq("a").alias("n"))
    d_col = df.select(
        _dot_column_form(F.col("a"), F.col("b")).alias("v"),
        _norm_sq_column_form(F.col("a")).alias("n"),
    )
    assert _same(d_expr, d_col)
    assert [repr(r) for r in d_expr.collect()] == [
        repr(r) for r in d_col.collect()
    ]


def test_rp_band_bucket_expr_equals_column(spark):
    emb = spark.createDataFrame(
        [
            ([0.1 * i - 3.0 for i in range(64)],),
            ([0.5] * 64,),
            ([-1.0] * 64,),
            ([0.0] * 64,),
        ],
        "embedding array<double>",
    )
    b_expr = emb.select(
        *[S._rp_band_bucket("embedding", b).alias(f"b{b}") for b in range(8)]
    )
    b_col = emb.select(
        *[
            _rp_band_bucket_column_form(F.col("embedding"), b).alias(f"b{b}")
            for b in range(8)
        ]
    )
    assert _same(b_expr, b_col)
    assert b_expr.collect() == b_col.collect()


def _simhash_values_column_form(documents, bits=SIMHASH_PAIR_BITS):
    """The pre-round-6-continuation Column-combinator implementation of
    ops.dedup.simhash_values, kept verbatim as the reference spec."""
    tok = F.explode(ws_tokens()).alias("token")
    chunks = bits // 8
    exploded = (
        documents.select("doc_id", tok)
        .select("doc_id", F.explode(F.array(F.md5("token"))).alias("h"))
        .select(
            "doc_id",
            *[
                F.conv(F.substring("h", 8 * k + 1, 8), 16, 10)
                .cast("long")
                .alias(f"c{k}")
                for k in range(chunks)
            ],
        )
    )
    aggs = [
        F.sum(
            F.shiftright(F.col(f"c{j // 8}"), 31 - 4 * (j % 8)).bitwiseAND(F.lit(1))
        ).alias(f"b{j}")
        for j in range(bits)
    ] + [F.count(F.lit(1)).alias("_n")]
    v = None
    for j in range(bits):
        bit = F.when(
            F.col(f"b{j}") * 2 > F.col("_n"),
            F.lit(1 << (bits - 1 - j)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        v = bit if v is None else v + bit
    return exploded.groupBy("doc_id").agg(*aggs).select(
        "doc_id", v.alias("simhash_v")
    )


def _minhash_signatures_fold_form(sh_arrays, n_hashes=N_MINHASH):
    """The pre-round-6-continuation higher-order-fold implementation of
    ops.dedup.minhash_signatures_from_arrays, kept verbatim as the
    reference spec (the shipped form computes the same mixes as grouped
    min-aggregates inside WholeStageCodegen)."""
    bases = F.transform(
        F.col("sh"), lambda h: F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    )
    with_bases = sh_arrays.select(
        "doc_id", F.explode(F.array(bases)).alias("bases")
    )
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda i: F.array_min(
            F.transform(
                F.col("bases"),
                lambda b: (b * (12289 * (i + 1) + 6151) + (104729 * i + 9973))
                % MINHASH_P,
            )
        ),
    )
    return with_bases.select("doc_id", sig.alias("signature"))


def test_minhash_signatures_agg_equals_fold(spark):
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox leaps over the lazy dog"),
            (3, "completely different text with other words entirely"),
            (4, "short"),
            (5, "two words"),
            (6, ""),  # token-less: filtered by shingle_arrays in BOTH forms
            (7, "café über naïve 数据 表格 行"),
        ],
        "doc_id long, text string",
    )
    sh = shingle_arrays(docs)
    a = sorted((r[0], tuple(r[1])) for r in minhash_signatures_from_arrays(sh).collect())
    b = sorted((r[0], tuple(r[1])) for r in _minhash_signatures_fold_form(sh).collect())
    assert a == b
    assert len(a) == 7  # doc 6 excluded by the token-less filter


def test_simhash_values_expr_equals_column(spark):
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox"),
            (1, "the quick brown fox"),
            (2, "completely different words here altogether"),
            (3, ""),
            (4, "café über naïve 数据"),
            (5, "x"),
        ],
        "doc_id long, text string",
    )
    a = simhash_values(docs)
    b = _simhash_values_column_form(docs)
    assert _same(a, b)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
