"""Spark operators vs the pure-Python spec layer (parity tests)."""

import itertools
import random

from pyspark.sql import functions as F

from split_ner_spark import reference_impl as R
from split_ner_spark.ops.assemble import spans_bio_col, spans_bioes_col
from split_ner_spark.ops.classify import classify_surface, classify_type_col
from split_ner_spark.ops.detect import DeterministicScorer
from split_ner_spark.ops.link import norm_surface_col
from split_ner_spark.ops.segment import tokenize_col


def test_tokenize_col_parity(spark):
    random.seed(11)
    cases = [
        "Acme Corp, in Zürich!",
        "a-b_c@d",
        "",
        "   ",
        "... !!",
        "naïve café 東京 test",
        'quote"inside\'and(paren)[brack]{brace}',
        "tab\tsep\nnewline",
        "+|-=<>~`^&*#$%/:;",
    ]
    alpha = "aA1 ,.!?'\"-_()[]{}zZ9\tü東"
    cases += ["".join(random.choice(alpha) for _ in range(40)) for _ in range(60)]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], "id int, s string")
    got = {r["id"]: r["t"] for r in df.select("id", tokenize_col(F.col("s")).alias("t")).collect()}
    for i, c in enumerate(cases):
        assert got[i] == R.tokenize(c), (c, got[i], R.tokenize(c))


def test_spans_bioes_exhaustive(spark):
    cases = [list(p) for n in range(0, 5) for p in itertools.product("OBIES", repeat=n)]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "id int, labels array<string>"
    )
    got = {
        r["id"]: [(s["start"], s["end"]) for s in r["spans"]]
        for r in df.select("id", spans_bioes_col().alias("spans")).collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == R.get_spans_bioes(c), (c, got[i])


def test_spans_bio_exhaustive(spark):
    tags = ["O", "B-x", "I-x", "B-y", "I-y"]
    cases = [list(p) for n in range(0, 4) for p in itertools.product(tags, repeat=n)]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], "id int, tags array<string>"
    )
    got = {
        r["id"]: [(s["tag"], s["start"], s["end"]) for s in r["spans"]]
        for r in df.select("id", spans_bio_col().alias("spans")).collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == R.get_spans_bio(c), (c, got[i])


def test_detector_bioes_wellformed():
    s = DeterministicScorer()
    labs = s.detect_labels([["the", "Acme", "Corp", "x", "Lima", "."]])[0]
    assert labs == ["O", "B", "E", "O", "S", "O"]
    # runs at sentence edges
    assert s.detect_labels([["Acme", "Corp"]])[0] == ["B", "E"]
    assert s.detect_labels([[]])[0] == []


def test_classify_udf_expr_python_parity(spark):
    surfaces = [
        "Acme Corp", "AcmeCorp", "CyberdyneCorporation", "Iron Valley",
        "Lima", "Widget X200", "Crimson Team", "The Silent Saga",
        "Bob Müller", "Zorblax Quuxton", "Paris", "x", "The",
    ]
    df = spark.createDataFrame([(s,) for s in surfaces], "surface string")
    expr_got = {
        r["surface"]: r["t"]
        for r in df.select("surface", classify_type_col(F.col("surface")).alias("t")).collect()
    }
    for s in surfaces:
        assert expr_got[s] == classify_surface(s), s


def test_norm_surface_parity(spark):
    cases = ["Acme Corp.", "ACME-Corp", "  Müller  ", "a|b{c}", "The (Hidden) Mirror"]
    df = spark.createDataFrame([(s,) for s in cases], "s string")
    got = {r["s"]: r["n"] for r in df.select("s", norm_surface_col(F.col("s")).alias("n")).collect()}
    for s in cases:
        assert got[s] == R.normalize_surface(s), s
