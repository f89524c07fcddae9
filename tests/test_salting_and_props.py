"""G1 skew evidence + randomized W3 equivalence.

- the salted triple write must spread a Zipf-hot subject across
  partitions (max partition ≪ the hot subject's row count);
  the hot set comes from exact per-subject counts (``hot_subjects``);
- Spark's array-fold BIO/BIOES assemblers must equal the pure-python
  reference twins on randomized label sequences (hypothesis drives the
  python side; Spark is checked batch-wise on the same inputs).
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from split_ner_spark.ops.assemble import spans_bio_col, spans_bioes_col
from split_ner_spark.ops.triples import hot_subjects, salted_by_subject
from split_ner_spark.reference_impl import get_spans_bio, get_spans_bioes


def _exact_hot(tri):
    """hot_subjects over exact per-subject counts, as the pipeline passes
    them (there from the link dimension, here from the triples)."""
    return hot_subjects(dict(tri.groupBy("subj").count().collect()))


def test_hot_subjects_rule():
    """Keys past HOT_FRACTION of the total, most rows first; the None key
    (mentions of a null surface, which the fact join drops) counts toward
    neither the keys nor the total."""
    counts = {"hot": 5, "warm": 3, **{f"cold:{i}": 1 for i in range(200)}}
    assert hot_subjects(counts) == ["hot", "warm"]
    assert hot_subjects({**counts, None: 10**6}) == ["hot", "warm"]
    assert hot_subjects({}) == []


def test_salting_spreads_hot_subject(spark):
    rows = [("hot:entity", "mentioned_in", f"url{i}") for i in range(20000)]
    rows += [(f"cold:{i % 500}", "mentioned_in", f"url{i}") for i in range(5000)]
    tri = spark.createDataFrame(rows, "subj string, pred string, obj string")
    n_part = 16
    salted = salted_by_subject(
        tri, n_partitions=n_part, n_salts=16, hot_subjects=_exact_hot(tri)
    )
    sizes = (
        salted.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    max_part = max(r["count"] for r in sizes)
    # unsalted, the hot subject's 20k rows land in ONE partition; salted,
    # no partition should hold more than ~a quarter of them
    assert max_part < 8000, f"hot key not spread: max partition {max_part}"
    assert salted.count() == 25000  # nothing lost


def test_salting_small_input_exact_fallback(spark):
    """ADVICE r4: a micro-batch's hot key must still be salted. Exact
    counts find it at any input size, where a sample of a small input
    could miss it."""
    # 300 rows total; the hot key holds 33% of them (>> HOT_FRACTION=0.01)
    rows = [("hot:tiny", "mentioned_in", f"url{i}") for i in range(100)]
    rows += [(f"cold:{i}", "mentioned_in", f"url{i}") for i in range(200)]
    tri = spark.createDataFrame(rows, "subj string, pred string, obj string")
    hot = _exact_hot(tri)
    assert hot == ["hot:tiny"]
    salted = salted_by_subject(tri, n_partitions=8, n_salts=8, hot_subjects=hot)
    sizes = (
        salted.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    assert salted.count() == 300
    # exact detection must find hot:tiny and spread its 100 rows over the
    # 8 salt buckets: no partition may hold all of them
    max_part = max(r["count"] for r in sizes)
    assert max_part < 100, f"small-input hot key not spread: {max_part}"


def test_cooccurrence_cap_metric(spark):
    """The degenerate-sentence cap emits a counted metric (VERDICT r4 #3):
    sentences whose distinct-entity count exceeds max_entities are counted
    via Observation at zero extra job cost."""
    from pyspark.sql import Observation

    from split_ner_spark.ops.triples import cooccurrence_pairs

    rows = [("u1", 0, f"e{i:03d}") for i in range(10)]  # capped (10 > 4)
    rows += [("u2", 0, f"e{i:03d}") for i in range(3)]  # under cap
    linked = spark.createDataFrame(
        rows, "url string, sent_id int, canonical_id string"
    )
    obs = Observation("cap_test")
    pairs = cooccurrence_pairs(linked, max_entities=4, observation=obs)
    got = {(r["subj"], r["obj"]) for r in pairs.collect()}
    m = obs.get
    assert m["n_capped_sentences"] == 1
    assert m["n_sentences"] == 2
    # u1 contributes pairs only among its lexicographically-first 4 ids
    u1_expected = {
        (f"e{a:03d}", f"e{b:03d}") for a in range(4) for b in range(a + 1, 4)
    }
    u2_expected = {(f"e{a:03d}", f"e{b:03d}") for a in range(3) for b in range(a + 1, 3)}
    assert got == u1_expected | u2_expected


def _random_bio_tags(rng: random.Random, n: int) -> list[str]:
    tags = []
    for _ in range(n):
        r = rng.random()
        if r < 0.5:
            tags.append("O")
        elif r < 0.75:
            tags.append("B-" + rng.choice("XY"))
        else:
            tags.append("I-" + rng.choice("XY"))
    return tags


def test_spark_bio_assembler_equals_python_on_random_tags(spark):
    rng = random.Random(1234)
    cases = [_random_bio_tags(rng, rng.randint(0, 24)) for _ in range(400)]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], "i long, tags array<string>"
    )
    got = {
        r["i"]: [(s["tag"], s["start"], s["end"]) for s in r["spans"]]
        for r in df.select("i", spans_bio_col().alias("spans")).collect()
    }
    for i, tags in enumerate(cases):
        assert got[i] == get_spans_bio(tags), f"case {i}: {tags}"


def test_spark_bioes_assembler_equals_python_on_random_labels(spark):
    rng = random.Random(99)
    cases = [
        [rng.choice("OBIES") for _ in range(rng.randint(0, 24))]
        for _ in range(400)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], "i long, labels array<string>"
    )
    got = {
        r["i"]: [(s["start"], s["end"]) for s in r["spans"]]
        for r in df.select("i", spans_bioes_col().alias("spans")).collect()
    }
    for i, labels in enumerate(cases):
        assert got[i] == get_spans_bioes(labels), f"case {i}: {labels}"


def test_cooccurrence_degenerate_sentence_cap(spark):
    """A pathological sentence with more than max_entities distinct ids
    contributes pairs only among its lexicographically-first 1024 ids
    (PLANS.md round-4 measurement: uncapped, one such key turned a 2.7s
    stage into 101.8s — AQE cannot split a single aggregate key)."""
    from pyspark.sql import functions as F

    from split_ner_spark.ops.triples import cooccurrence_pairs

    hot = spark.range(1500).select(
        F.lit("HOTURL").alias("url"),
        F.lit(0).alias("sent_id"),
        F.format_string("hot%06d", F.col("id")).alias("canonical_id"),
        F.lit("t").alias("entity_type"),
    )
    n = cooccurrence_pairs(hot).count()
    assert n == 1024 * 1023 // 2
    # under the cap: exact all-pairs semantics
    small = spark.range(10).select(
        F.lit("u").alias("url"), F.lit(0).alias("sent_id"),
        F.format_string("e%02d", F.col("id")).alias("canonical_id"),
        F.lit("t").alias("entity_type"),
    )
    assert cooccurrence_pairs(small).count() == 45
