"""Session-wide storage-leak gate (round-4 verdict item 1).

Runs EVERY ``queries()`` registry entry at sf0.001, materializes it, then
drains the deferred-unpersist registry and asserts the Spark SQL cache
manager is empty — i.e. no query leaves a cached frame behind once its
result is consumed and ``drain_cache()`` runs. This is the executable
witness that the harness is leak-free: the two round-3 leak sites
(q_dedup_lsh_jaccard's shingle cache, salted_by_subject's count cache —
now gone with its detection pass, which ``run_pipeline`` pins) and any
future ``.cache()`` added to an operator are caught here.

``localCheckpoint`` blocks (ops/canon.py) are NOT tracked by the SQL
cache manager; they are released by the ContextCleaner when the frame is
garbage-collected and are bounded per invocation — the SQL cache is the
leak class that compounds in long-lived sessions (notebook servers,
repeated pipeline runs), so that is what this test pins.
"""

from __future__ import annotations

import pytest

from split_ner_spark import queries as Q
from split_ner_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.slow
def test_every_query_leaves_cache_empty(spark):
    spark.catalog.clearCache()
    assert _cache_empty(spark), "pre-existing cached frames before the sweep"
    leaked = []
    for name in sorted(QUERIES):
        df = QUERIES[name](spark, SF_DIR)
        df.count()  # materialize like the driver/bench does
        Q.drain_cache()
        if not _cache_empty(spark):
            leaked.append(name)
            spark.catalog.clearCache()  # isolate: report every leaky query
    assert not leaked, f"queries leaving residual cached frames: {leaked}"


def test_run_pipeline_persists_nothing(spark, tmp_path):
    """The round-3 leak site, salted_by_subject's count cache, is gone
    with its detection pass, and the link → triples path caches nothing
    else: a rebuilding run leaves no persisted RDD and no cached frame."""
    from split_ner_spark.pipeline import run_pipeline

    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    s = run_pipeline(spark, str(tmp_path), n_pages=100, resume=False, evaluate=False)
    assert s["triples"] > 0
    # no RDD is added; RDDs of earlier tests may be released meanwhile
    # (the ContextCleaner frees unreferenced localCheckpoint blocks)
    assert set(jsc.getPersistentRDDs().keys()) <= before
    assert _cache_empty(spark)


def test_salted_by_subject_values_unchanged_and_hot_spread(spark):
    """Salting changes partitioning only: the triple multiset is identical,
    and a detected hot subject spreads across >1 partition."""
    from pyspark.sql import functions as F

    from split_ner_spark.ops.triples import hot_subjects, salted_by_subject

    tri = spark.createDataFrame(
        [("hot", "p", f"o{i}") for i in range(400)]
        + [(f"cold{i}", "p", "o") for i in range(50)],
        "subj string, pred string, obj string",
    )
    hot = hot_subjects(dict(tri.groupBy("subj").count().collect()))
    assert hot == ["hot"]
    out = salted_by_subject(tri, n_partitions=8, n_salts=8, hot_subjects=hot)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, tri.collect()))
    # the planted hot subject (89% of rows) must be detected and spread
    hot_parts = (
        out.filter(F.col("subj") == "hot")
        .select(F.spark_partition_id().alias("p"))
        .distinct()
        .count()
    )
    assert hot_parts > 1, "hot subject not spread across salt buckets"
