"""link_mentions builds its surface→entity dimension on the driver: the
dictionary and the per-surface mention counts are each collected once,
the fuzzy path runs one collected LSH join, nothing is cached, and the
job count stays small and fixed.

The job counts come from ``sc.statusTracker()`` under a job group, over a
200-page ``mentions`` stage committed the way ``run_pipeline`` commits
it."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from split_ner_spark.ops import canon, link
from split_ner_spark.ops.fused import fused_mentions
from split_ner_spark.ops.link import link_mentions
from split_ner_spark.pipeline import StageCommitter, alias_dim
from split_ner_spark.session import local_frame

# the fact join's dimension is built with at most this many Spark jobs
LINK_JOB_BUDGET = 6
# job-group suffixes: the status tracker remembers every group a session used
_GROUP_IDS = itertools.count()


@pytest.fixture(scope="module")
def mentions(spark, tmp_path_factory):
    wd = str(tmp_path_factory.mktemp("link_dim"))
    return StageCommitter(wd).stage("mentions", lambda: fused_mentions(spark, 200))


def _jobs_in(spark, group: str, fn):
    """(fn(), number of Spark jobs fn ran) — jobs counted by job group."""
    sc = spark.sparkContext
    group = f"{group}_{next(_GROUP_IDS)}"
    outer = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", outer)
    # job-start events reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _self_join_probe(spark, monkeypatch) -> list:
    """Wrap ``self_surface_canon_map`` so each call records (number of
    surfaces, jobs it ran)."""
    calls = []
    real = link.self_surface_canon_map

    def probe(surfaces):
        out, jobs = _jobs_in(spark, "self_join", lambda: real(surfaces))
        calls.append((len(surfaces), jobs))
        return out

    monkeypatch.setattr(link, "self_surface_canon_map", probe)
    return calls


def test_link_job_budget_and_no_cache(spark, mentions, monkeypatch):
    """Fuzzy linking builds its dimension in ≤ ``LINK_JOB_BUDGET`` jobs,
    self-join included; exact-only linking in fewer. Neither leaves a
    persisted RDD behind, before or after its result is collected."""
    sc = spark.sparkContext
    calls = _self_join_probe(spark, monkeypatch)
    before = set(sc._jsc.getPersistentRDDs().keys())
    counts = {}
    for fuzzy in (True, False):
        (out, _), counts[fuzzy] = _jobs_in(
            spark, f"link_fuzzy_{fuzzy}",
            lambda: link_mentions(mentions, alias_dim(spark), fuzzy=fuzzy),
        )
        assert set(sc._jsc.getPersistentRDDs().keys()) == before
        assert out.count() == mentions.count()
        assert set(sc._jsc.getPersistentRDDs().keys()) == before
    # the self-join ran (in its own job group) on the fuzzy call only
    [(n_self, self_jobs)] = calls
    assert n_self >= 2 and self_jobs >= 1
    assert counts[True] + self_jobs <= LINK_JOB_BUDGET, (counts, self_jobs)
    assert counts[False] < counts[True] + self_jobs, (counts, self_jobs)


def test_no_self_join_below_two_self_surfaces(spark, mentions, monkeypatch):
    """A dictionary that knows every surface but one leaves fewer than 2
    self-linked surfaces, and then no self-join job runs."""
    surfaces = sorted(
        r[0] for r in mentions.select("surface").distinct().collect()
    )
    alias = local_frame(
        spark, [(s, f"test:{i}", "ORG") for i, s in enumerate(surfaces[1:])],
        "alias string, canonical_id string, entity_type string",
    )
    calls = _self_join_probe(spark, monkeypatch)
    out, _ = link_mentions(mentions, alias)
    [(n_self, self_jobs)] = calls
    assert n_self < 2 and self_jobs == 0, calls
    self_linked = out.filter(F.col("linked_via") == "self").select("surface_norm")
    assert self_linked.distinct().count() == n_self


@pytest.mark.parametrize("fuzzy", [True, False])
def test_dictionary_dedupe_keeps_first_row(spark, fuzzy):
    """Two aliases that normalize to one key link to the first row's id,
    whichever that is."""
    mentions = spark.createDataFrame(
        [("u", 0, "ACME Inc.", "ORG")],
        "url string, sent_id int, surface string, entity_type string",
    )
    rows = [("Acme, Inc", "org:acme_a", "ORG"), ("acme inc", "org:acme_b", "ORG")]
    for ordered in (rows, rows[::-1]):
        alias = local_frame(
            spark, ordered, "alias string, canonical_id string, entity_type string"
        )
        [hit] = link_mentions(mentions, alias, fuzzy=fuzzy)[0].collect()
        assert (hit["canonical_id"], hit["linked_via"]) == (ordered[0][1], "exact")


@pytest.mark.parametrize("fuzzy", [True, False])
def test_dimension_counts_match_linked(spark, mentions, fuzzy):
    """The dimension rows' mention counts add up to the mentions, and per
    canonical_id to the linked rows: the counts the pipeline takes its hot
    subjects from are the fact join's own."""
    linked, dimension = link_mentions(mentions, alias_dim(spark), fuzzy=fuzzy)
    assert sum(r[4] for r in dimension) == mentions.count()
    assert len({r[0] for r in dimension}) == len(dimension)
    per_id: dict = {}
    for _, cid, _, _, n in dimension:
        per_id[cid] = per_id.get(cid, 0) + n
    assert per_id == dict(linked.groupBy("canonical_id").count().collect())


def test_self_canon_tiers_agree(spark, monkeypatch):
    """The one-collect driver tier and the star-contraction tier (forced
    by a zero edge threshold) give the same merge map."""
    surfaces = [
        "zorblax quantum industries", "zorblax quantum industriez",
        "zorblax quantum industrie", "acme", "unrelated words",
    ]
    want = canon.self_surface_canon_map(surfaces)
    assert set(want.values()) == {"surface:zorblax quantum industrie"}, want
    monkeypatch.setattr(canon, "DRIVER_THRESHOLD", 0)
    assert canon.self_surface_canon_map(surfaces) == want
