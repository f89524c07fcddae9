"""MinHash-LSH similarity join + connected components."""

from pyspark.sql import functions as F

from split_ner_spark.ops.canon import connected_components
from split_ner_spark.ops.lsh import (
    char_shingles_col,
    jaccard_col,
    lsh_self_join,
    lsh_similarity_join,
)


def test_shingles(spark):
    df = spark.createDataFrame([("ab",), ("acme corp",)], "s string")
    rows = df.select("s", char_shingles_col(F.col("s")).alias("sh")).collect()
    got = {r["s"]: r["sh"] for r in rows}
    assert got["ab"] == ["^ab", "ab$"]
    assert "^ac" in got["acme corp"] and "rp$" in got["acme corp"]


def test_lsh_finds_near_duplicates(spark):
    names = [
        (0, "acme corporation"),
        (1, "acme corporatoin"),  # typo near-dup of 0
        (2, "globex gmbh"),
        (3, "globexgmbh"),  # concat near-dup of 2
        (4, "completely different string"),
    ]
    df = spark.createDataFrame(names, "id int, s string").withColumn(
        "shingles", char_shingles_col(F.col("s"))
    )
    pairs = {
        (r["a"], r["b"])
        for r in lsh_self_join(df, "id", threshold=0.4, num_hashes=32, bands=16).collect()
    }
    assert (0, 1) in pairs
    assert (2, 3) in pairs
    assert all(4 not in p for p in pairs)


def test_lsh_join_matches_exact_jaccard(spark):
    # LSH candidates that pass banding must report the TRUE jaccard
    left = spark.createDataFrame([(0, "acme corp")], "lid int, s string").withColumn(
        "shingles", char_shingles_col(F.col("s"))
    )
    right = spark.createDataFrame([(10, "acme corp")], "rid int, s string").withColumn(
        "shingles", char_shingles_col(F.col("s"))
    )
    rows = lsh_similarity_join(left, right, "lid", "rid", threshold=0.9).collect()
    assert len(rows) == 1 and rows[0]["jaccard"] == 1.0


def test_band_hashes_pinned(spark):
    """The one-SQL-string MinHash banding (k=16, b=8) reproduces the
    stored band hashes of the Column-built form it replaced."""
    from split_ner_spark.ops.lsh import _band_hashes_sql

    df = spark.createDataFrame([("acme corporation",), ("ab",)], "s string")
    got = {
        r["s"]: r["b"]
        for r in df.select(
            "s", char_shingles_col(F.col("s")).alias("sh")
        ).select("s", F.expr(_band_hashes_sql("sh", 16, 8)).alias("b")).collect()
    }
    assert got == {
        "acme corporation": [
            -2190412328545476046, 8862688615103858089, 7379875032200641033,
            8859455907312546256, -9142037784732140103, -143434028550340231,
            5542099428835883251, -8808693807823624904,
        ],
        "ab": [
            -4894188127712670344, 7523765442041807591, 8496948679586738092,
            -2479011599402845791, 3365064503724624980, 6420205446875316776,
            -4243958048046599638, -2851975939422156872,
        ],
    }


def test_connected_components(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f")],
        "src string, dst string",
    )
    cc = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert cc["a"] == cc["b"] == cc["c"] == "a"
    assert cc["d"] == cc["e"] == "d"
    # self-loop-only node filtered (no non-self edges) → absent from edge CC
    assert "f" not in cc


def test_connected_components_path_graph(spark):
    # worst case for min-propagation: a path; must still converge
    n = 12
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i+1:02d}") for i in range(n)], "src string, dst string"
    )
    cc = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert set(cc.values()) == {"n00"}


def test_jaccard_col(spark):
    df = spark.createDataFrame([(["a", "b"], ["b", "c"])], "x array<string>, y array<string>")
    v = df.select(jaccard_col(F.col("x"), F.col("y")).alias("j")).collect()[0]["j"]
    assert abs(v - 1 / 3) < 1e-12


def test_driver_and_distributed_components_agree(spark):
    import random

    rng = random.Random(7)
    edges = [(rng.randint(0, 60), rng.randint(0, 60)) for _ in range(80)]
    df = spark.createDataFrame(edges, "src long, dst long")
    from split_ner_spark.ops.canon import connected_components

    fast = {(r["node"], r["component"])
            for r in connected_components(df).collect()}
    loop = {(r["node"], r["component"])
            for r in connected_components(df, driver_threshold=0).collect()}
    assert fast == loop and len(fast) > 0


def test_star_contraction_long_path(spark):
    # diameter ≫ any label-propagation budget: star contraction must still
    # produce exact components (O(log^2 n) rounds)
    n = 60
    edges = spark.createDataFrame(
        [(f"p{i:03d}", f"p{i+1:03d}") for i in range(n)], "src string, dst string"
    )
    cc = {
        r["node"]: r["component"]
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert len(cc) == n + 1
    assert set(cc.values()) == {"p000"}
