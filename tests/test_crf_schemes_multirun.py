"""Q5 scheme conversion: the Python spec and the Spark Column form agree."""

from __future__ import annotations

import random

import pytest

from split_ner_spark.ops.schemes import SCHEMES, convert_scheme, to_scheme_col


# --- Q5: scheme conversion -------------------------------------------------------


def test_convert_scheme_fixtures():
    bio = ["B-PER", "I-PER", "I-PER", "O", "B-LOC", "O", "B-ORG", "I-ORG"]
    assert convert_scheme(bio, "bio") == bio
    assert convert_scheme(bio, "bo") == [
        "B-PER", "B-PER", "B-PER", "O", "B-LOC", "O", "B-ORG", "B-ORG",
    ]
    assert convert_scheme(bio, "bioe") == [
        "B-PER", "I-PER", "E-PER", "O", "B-LOC", "O", "B-ORG", "E-ORG",
    ]
    assert convert_scheme(bio, "bioes") == [
        "B-PER", "I-PER", "E-PER", "O", "S-LOC", "O", "B-ORG", "E-ORG",
    ]


def test_scheme_col_matches_python_randomized(spark):
    rng = random.Random(5)
    rows = []
    for i in range(60):
        tags, inside = [], False
        for _ in range(rng.randint(1, 10)):
            r = rng.random()
            if inside and r < 0.4:
                tags.append("I-X" if rng.random() < 0.5 else "I-Y")
                # keep type consistent with opener? not required by the
                # converter (it is positional, not type-aware)
            elif r < 0.3:
                tags.append(rng.choice(["B-X", "B-Y"]))
                inside = True
            else:
                tags.append("O")
                inside = False
        rows.append((i, tags))
    df = spark.createDataFrame(rows, "id int, tags array<string>")
    for scheme in SCHEMES:
        got = {
            r["id"]: r["conv"]
            for r in df.select("id", to_scheme_col("tags", scheme).alias("conv")).collect()
        }
        for i, tags in rows:
            assert got[i] == convert_scheme(tags, scheme), (scheme, tags)


def test_scheme_rejects_unknown():
    with pytest.raises(ValueError):
        convert_scheme(["O"], "iob2")
    with pytest.raises(ValueError):
        to_scheme_col("tags", "iob2")
