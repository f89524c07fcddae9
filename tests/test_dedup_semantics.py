"""Semantic checks for the dedup ladder on planted duplicates (the oracle
parity test checks Spark==DuckDB; these check both are *right*)."""

from __future__ import annotations

from pyspark.sql import functions as F

from split_ner_spark.ops import dedup, simsearch


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank " * 4
    rows = [
        (0, base.strip(), "en"),
        (1, base.strip(), "en"),  # exact dup of 0
        (2, base.replace("lazy", "sleepy").strip(), "en"),  # near dup of 0
        (3, "completely different text about spark query engines and shuffles "
            "partitions joins aggregates windows and codegen stages", "en"),
        (4, "another unrelated document with its own vocabulary entirely "
            "celestial navigation harbors tides and lighthouse keepers", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup_flags_identical_text(spark):
    out = {r["doc_id"]: r for r in dedup.exact_dedup(_docs(spark)).collect()}
    assert out[0]["is_dup"] is False
    assert out[1]["is_dup"] is True and out[1]["keeper_id"] == 0
    assert not out[2]["is_dup"] and not out[3]["is_dup"]


def test_minhash_lsh_finds_near_dups_not_distinct_docs(spark):
    cleanup: list = []
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(_docs(spark), cleanup=cleanup).collect()
    }
    for df in cleanup:
        df.unpersist()
    assert (0, 1) in pairs  # identical
    assert (0, 2) in pairs and (1, 2) in pairs  # near dup
    assert (0, 3) not in pairs and (3, 4) not in pairs


def test_ngram_jaccard_values(spark):
    rows = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(_docs(spark), threshold=0.0).collect()
    }
    assert rows[(0, 1)] == 1.0
    assert 0.5 < rows[(0, 2)] < 1.0
    assert (0, 3) not in rows  # no shared shingles at all


def test_simhash_hamming_orders_similarity(spark):
    cleanup: list = []
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_pairs(
            _docs(spark), max_hamming=15, cleanup=cleanup
        ).collect()
    }
    for df in cleanup:
        df.unpersist()
    assert pairs[(0, 1)] == 0  # identical text → identical fingerprint
    assert pairs[(0, 2)] <= 10  # one-word swap → few bits flip


def test_embedding_near_dup_and_topk(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),   # near dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),    # orthogonal
        (3, [-1.0, 0.0, 0.0, 0.0]),   # opposite
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    dups = {
        (r["vec_a"], r["vec_b"])
        for r in simsearch.embedding_near_dup_pairs(emb, threshold=0.9, bits=2).collect()
    }
    assert (0, 1) in dups and (0, 2) not in dups
    topk = simsearch.cosine_topk(emb, n_queries=1, k=3).collect()
    ranked = [r["neighbor_id"] for r in sorted(topk, key=lambda r: r["rank"])]
    assert ranked == [1, 2, 3]  # near-dup first, opposite last


def test_quality_and_langid_sanity(spark):
    from split_ner_spark.ops import textstats

    docs = spark.createDataFrame(
        [(0, "the cat is on the mat and it is flat", "en"),
         (1, "der hund und die katze sind zu haus mit der maus", "de"),
         (2, "zzz qqq", "und")],
        "doc_id long, text string, lang string",
    )
    lid = {r["doc_id"]: r["lang_pred"] for r in textstats.lang_id(docs).collect()}
    assert lid[0] == "en" and lid[1] == "de" and lid[2] == "und"
    q = {r["doc_id"]: r["quality"] for r in textstats.quality_scores(docs).collect()}
    assert q[0] > q[2]  # stopword-rich beats gibberish


def test_lsh_verified_jaccard_cleanup_releases_cache(spark):
    """The cleanup-list contract: after the caller unpersists the
    handed-back frames, no cached RDD from this query remains in executor
    storage."""
    spark.catalog.clearCache()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cleanup: list = []
    from split_ner_spark.ops.dedup import lsh_verified_jaccard

    def storage_ids() -> set:
        return {
            i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }

    before = storage_ids()  # other fixtures may hold RDD-level caches
    out = lsh_verified_jaccard(docs, cleanup=cleanup)
    n = out.count()  # materialize (shingle frame now cached + used)
    # round 6: the operator registers TWO frames — the shared shingle
    # arrays and the minhash banded frame (minhash_lsh_pairs cleanup)
    assert n > 0 and len(cleanup) == 2
    for df in cleanup:
        df.unpersist(blocking=True)
    leaked = storage_ids() - before
    assert not leaked, f"cached RDDs left behind: {leaked}"
