"""Physical-plan contracts (round 4): the plan properties PLANS.md claims
are now pinned executable, so a refactor that silently de-optimizes a
plan (drops a pushdown, turns a broadcast into a sort-merge join, adds a
shuffle, introduces a row-at-a-time Python UDF or a non-broadcast
cartesian) fails CI instead of surfacing as a 100 TB regression.

All assertions inspect the executed-plan STRING (planning only — none of
the single-purpose tests execute the query; the registry sweep builds
every query's plan, which for a few eager operators runs their small
driver-side jobs at sf0.001).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from split_ner_spark import queries as Q

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_segment_scan_pushdown_and_pruning(spark, tmp_path):
    """The lang filter reaches the parquet scan and the html column is
    never read (PLANS.md P1: at 100 TB this skips ~8% of pages and the
    whole binary column)."""
    from split_ner_spark import corpus
    from split_ner_spark.ops.segment import segment_pages

    pg = corpus.gen_pages_with_gold(spark, 30)
    path = str(tmp_path / "pages")
    corpus.pages(pg).write.mode("overwrite").parquet(path)
    p = plan_of(segment_pages(spark.read.parquet(path)))
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", p)
    assert pushed and "EqualTo(lang,en)" in pushed.group(1), p[:2000]
    schema = re.search(r"ReadSchema: ([^\n]*)", p)
    assert schema and "html" not in schema.group(1), schema.group(1)


def test_link_joins_are_broadcast(spark):
    """Every join in the link cascade broadcasts the dimension side —
    no SortMergeJoin may appear (the fact table must not shuffle)."""
    from split_ner_spark.ops.link import link_mentions

    mentions = spark.createDataFrame(
        [("u", 0, "Spark", "t")] * 5,
        "url string, sent_id int, surface string, entity_type string",
    )
    alias = spark.createDataFrame(
        [("spark", "eng:spark", "engine")],
        "alias string, canonical_id string, entity_type string",
    )
    p = plan_of(link_mentions(mentions, alias, fuzzy=False)[0])
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p


def test_cooccurrence_single_shuffle(spark):
    """The co-occurrence set-build is ONE shuffle (the collect_set
    groupBy); the in-row pair expansion must not add Exchanges."""
    from split_ner_spark.ops.triples import cooccurrence_pairs

    linked = spark.createDataFrame(
        [("u", 0, "a", "t")] * 5,
        "url string, sent_id int, canonical_id string, entity_type string",
    )
    assert plan_of(cooccurrence_pairs(linked)).count("Exchange") == 1


def test_x6_single_shuffle(spark):
    """X6 pattern mining: zero shuffle before the single final hash
    aggregate — the whole window grid is array transforms in one
    projection (PLANS.md). The round-6 scan fan-out (queries.load: an
    explicit round-robin repartition when the input is an unsplittable
    small file) is the one additional allowed Exchange; the contract here
    is about HASH exchanges introduced by the operator itself."""
    p = plan_of(Q.q_kg_mention_contexts(spark, SF_DIR))
    assert p.count("Exchange hashpartitioning") == 1, p[:2000]
    assert p.count("Exchange") <= 2, p[:2000]


def test_scan_layout_walk_stops_past_fan_out_max(tmp_path, monkeypatch):
    """The fan-out decision's size walk stops statting files once the
    total reaches ``_FAN_OUT_MAX_BYTES`` and reads no footer: a 1 TiB
    directory costs a few stats, not one per file. The files are sparse,
    so they take no disk space."""
    import os

    half = Q._FAN_OUT_MAX_BYTES // 2
    for i in range(10):
        with open(tmp_path / f"part-{i:05d}.parquet", "wb") as fh:
            os.truncate(fh.fileno(), half)
    calls = []
    real_getsize = os.path.getsize

    def getsize(path):
        calls.append(path)
        return real_getsize(path)

    monkeypatch.setattr(os.path, "getsize", getsize)
    assert Q._scan_layout(str(tmp_path)) == (2 * half, 1 << 30)
    assert len(calls) == 2


def test_salted_write_no_join(spark):
    """Round 4: hot-subject salting is an isin literal — no broadcast
    join, exactly the one repartition Exchange."""
    from split_ner_spark.ops.triples import hot_subjects, salted_by_subject

    tri = spark.createDataFrame(
        [("s", "p", "o")] * 5, "subj string, pred string, obj string"
    )
    # "s" holds every row, so it is hot and the isin literal is in the plan
    p = plan_of(salted_by_subject(tri, 4, hot_subjects=hot_subjects({"s": 5})))
    assert p.count("Exchange") == 1
    assert "Join" not in p


def test_alias_dim_is_local_relation(spark):
    """The alias dictionary is a local relation: link_mentions collects
    it, and a LogicalRDD over a pickled Python RDD would run a
    Python-worker job for that collect."""
    from split_ner_spark.pipeline import alias_dim

    p = alias_dim(spark)._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in p and "LogicalRDD" not in p, p
    # the vocabulary dim of X3 and the tag-name dim of Q2 likewise
    for q in (Q.q_kg_oov_tokens, Q.q_kg_qa_contexts):
        p = q(spark, SF_DIR)._jdf.queryExecution().optimizedPlan().toString()
        assert "LocalRelation" in p and "LogicalRDD" not in p, (q.__name__, p)


def test_salted_by_subject_runs_no_job(spark):
    """salted_by_subject runs no Spark job: the hot set comes in as a
    driver list (the pipeline sums it from the link dimension), so there
    is no detection pass, sample, total or re-count."""
    from pyspark.sql import functions as F

    from split_ner_spark.ops.triples import salted_by_subject

    sc = spark.sparkContext
    tri = spark.range(3000).select(
        F.concat(F.lit("s"), (F.col("id") % 7).cast("string")).alias("subj"),
        F.lit("p").alias("pred"),
        F.col("id").cast("string").alias("obj"),
    )
    sc.setJobGroup("salt_no_job", "salt_no_job")
    try:
        salted_by_subject(tri, 4, hot_subjects=["s0", "s1"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup("salt_no_job") == []


def test_lsh_similarity_join_shuffle_free(spark):
    """The LSH join broadcasts the right side's band rows and dedupes
    pairs at their first colliding band: no Exchange, no sort-merge. No
    size(bands) > 0 filter is inferred from the band explode, so the band
    hashes are computed only on rows that pass the caller's filter."""
    from split_ner_spark.ops.lsh import char_shingles_col, lsh_similarity_join

    left = spark.range(2).select(F.lit("acme corp").alias("l"), "id")
    right = spark.createDataFrame([("acme corp",)], "r string")
    p = plan_of(lsh_similarity_join(
        left.filter(F.col("id") == 1)
        .withColumn("shingles", char_shingles_col(F.col("l"))),
        right.withColumn("shingles", char_shingles_col(F.col("r"))),
        "l", "r",
    ))
    assert "BroadcastHashJoin" in p
    assert "Exchange hashpartitioning" not in p and "SortMergeJoin" not in p
    assert "size(transform" not in p, p


def test_no_cartesian_in_lsh_candidates(spark):
    """MinHash-LSH candidate generation is an equi-join on band keys —
    never a cartesian or nested-loop join."""
    from split_ner_spark.ops import dedup

    cleanup: list = []
    p = plan_of(
        dedup.minhash_lsh_pairs(Q.load(spark, SF_DIR, "documents"), cleanup=cleanup)
    )
    for df in cleanup:
        df.unpersist()
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


@pytest.mark.slow
def test_registry_sweep_no_row_udf_no_cartesian(spark):
    """Across EVERY queries() entry: no row-at-a-time Python UDF
    (BatchEvalPython) and no non-broadcast cartesian product anywhere.
    Arrow-batched UDFs (ArrowEvalPython / MapInPandas) and broadcast
    nested-loop joins (tiny side by construction: the brute-force ANN
    oracle's query rows, Q2's tag dim, count scalars) are the allowed
    plan shapes."""
    offenders = {}
    for name in sorted(Q.QUERIES):
        p = plan_of(Q.QUERIES[name](spark, SF_DIR))
        bad = []
        if "BatchEvalPython" in p:
            bad.append("row-python-udf")
        if "CartesianProduct" in p:
            bad.append("cartesian")
        if bad:
            offenders[name] = bad
    Q.drain_cache()
    spark.catalog.clearCache()
    assert not offenders, offenders
