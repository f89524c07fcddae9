"""G1 — triple materialization with hot-subject salting.

From linked typed mentions, emit the (subj, pred, obj) relation:
- ``typed_as(entity, type)``
- ``mentioned_in(entity, url)``
- ``co_mentioned_with(a, b)`` for distinct entity pairs in one sentence
  (a < b, deduplicated)

Skew: the corpus plants Zipf-skewed entities (the hottest subject is in
~10% of pages — corpus.py), so a naive ``repartition(subj)`` would put a
tenth of the output through one task. The writer therefore spreads ONLY
the heavy hitters across ``n_salts`` salt buckets (salt = deterministic
hash of the full triple): cold keys keep locality, hot keys parallelize.
AQE handles join-side skew; this handles write/partition-side skew, which
AQE does not (SURVEY §4). The heavy hitters come from build-side
statistics, not from a pass over the triples: :func:`hot_subjects` reads
the exact per-subject mention counts that the linker's surface dimension
already holds (ops/link.link_mentions), so the salted write runs no
detection job.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# Degenerate-sentence cap for co-occurrence pair expansion. Shared single
# source of truth: the SQL oracle twins in queries.py interpolate THIS
# constant into their `rk <= N` window filters, so a cap change cannot
# silently break Spark/DuckDB equivalence (ADVICE r4).
MAX_COOCCUR_ENTITIES = 1024
# a key holding more than this share of the counted rows is hot
HOT_FRACTION = 0.01


def cooccurrence_pairs(
    linked: DataFrame,
    max_entities: int = MAX_COOCCUR_ENTITIES,
    observation: Observation | None = None,
) -> DataFrame:
    """Distinct canonical-id pairs co-mentioned in one sentence (a < b).

    ONE ``collect_set`` groupBy per sentence, pairs expanded inside the
    row with array functions — no self-join. The old formulation
    (distinct ⋈ distinct on (url, sent_id)) shuffled the mention frame
    three times (two distincts + the join); this shuffles it once, and
    the per-row pair expansion is bounded by sentence entity counts
    (≤ tens), so the plan is strictly better at any scale. Semantics
    identical: sets are deduplicated per sentence, pairs ordered a < b
    via the sorted array (earlier index < later index).

    ``max_entities`` bounds the degenerate case AQE cannot: skew-split
    applies to joins, not to a single aggregate KEY, so one pathological
    "sentence" (a period-less link farm / table dump page) with k
    distinct entities builds a k²/2-element array in ONE task — measured
    on this VM: k=5000 turns a 2.7s pass into 101.8s (PLANS.md round 4).
    Sentences beyond the cap contribute pairs only among their
    lexicographically-first ``max_entities`` canonical ids
    (deterministic; ≈ 524k pairs — the k≤1024 shape measures in normal
    task time). Real sentences have tens of entities; the cap exists
    only to keep a degenerate page from stalling a 100 TB job. The SQL
    oracle twins mirror the same cap (via ``MAX_COOCCUR_ENTITIES``).

    ``observation``: optionally pass a :class:`pyspark.sql.Observation`;
    it records ``n_capped_sentences`` (sentences whose distinct-entity
    count exceeded the cap — the silent coverage bound, now counted) and
    ``n_sentences`` alongside the first action, at zero extra job cost
    (CollectMetrics rides the existing aggregate; no second pass)."""
    sets = linked.groupBy("url", "sent_id").agg(
        F.array_sort(F.collect_set("canonical_id")).alias("_all")
    )
    sets = sets.select(
        "url",
        "sent_id",
        F.slice("_all", 1, max_entities).alias("_cs"),
        (F.size("_all") > max_entities).alias("_capped"),
    )
    if observation is not None:
        sets = sets.observe(
            observation,
            F.sum(F.col("_capped").cast("long")).alias("n_capped_sentences"),
            F.count(F.lit(1)).alias("n_sentences"),
        )
    sets = sets.filter(F.size("_cs") >= 2)
    pairs = F.flatten(
        F.transform(
            F.col("_cs"),
            lambda x, i: F.transform(
                F.slice(F.col("_cs"), i + 2, F.size("_cs")),
                lambda y: F.struct(x.alias("subj"), y.alias("obj")),
            ),
        )
    )
    return sets.select(F.explode(pairs).alias("p")).select(
        F.col("p.subj").alias("subj"),
        F.lit("co_mentioned_with").alias("pred"),
        F.col("p.obj").alias("obj"),
    )  # global dedup happens in make_triples' single union-level distinct


def make_triples(
    linked: DataFrame, observation: Observation | None = None
) -> DataFrame:
    """linked mentions(url, sent_id, ..., entity_type, canonical_id) →
    triples(subj, pred, obj). ``observation`` is threaded to
    :func:`cooccurrence_pairs` to count cap-exceeding sentences."""
    # The three predicates ride through the union-level distinct as a
    # 1-byte code instead of their string names (round 6, guide §2.3
    # "narrower types"): the distinct shuffles |mentions|*2 + |pairs|
    # rows, and the constant 8-17 char pred string was ~15% of every
    # shuffled row; the code is bijective with the name, so the distinct
    # set is unchanged, and the name is re-attached AFTER the aggregate
    # (measured ~30% off the make_triples wall at 8.3M mentions).
    typed = linked.filter(F.col("entity_type").isNotNull()).select(
        F.col("canonical_id").alias("subj"),
        F.lit(0).cast("tinyint").alias("_p"),
        F.col("entity_type").alias("obj"),
    )
    mentioned = linked.select(
        F.col("canonical_id").alias("subj"),
        F.lit(1).cast("tinyint").alias("_p"),
        F.col("url").alias("obj"),
    )
    cooccur = cooccurrence_pairs(linked, observation=observation).select(
        "subj", F.lit(2).cast("tinyint").alias("_p"), "obj"
    )
    # one distinct over the union instead of one per branch: the branches
    # are disjoint by pred, so semantics are identical, but it is a single
    # shuffle instead of three (the co-occurrence branch keeps its inner
    # per-sentence dedup to bound the self-join fan-out).
    pred_names = F.array(
        F.lit("typed_as"), F.lit("mentioned_in"), F.lit("co_mentioned_with")
    )
    return (
        typed.unionByName(mentioned)
        .unionByName(cooccur)
        .distinct()
        .select(
            "subj",
            F.element_at(pred_names, F.col("_p") + 1).alias("pred"),
            "obj",
        )
    )


def hot_subjects(counts: Mapping) -> list:
    """Exact per-key counts (``{key: rows}``) → the keys holding more than
    ``HOT_FRACTION`` of all rows, most rows first (ties by key). So at
    most 1/HOT_FRACTION keys qualify.

    A ``None`` key — the mentions of a null surface, which the linker's
    inner fact join drops — counts toward neither the keys nor the total.

    The pipeline passes the mentions per ``canonical_id``, summed from the
    linker's dimension rows: a faithful proxy for per-subject triple
    counts (mentioned_in ∝ mentions, co-occurrence subjects are canonical
    ids). Salting is a partitioning heuristic, so a proxy changes no
    output values."""
    counts = {k: n for k, n in counts.items() if k is not None}
    total = sum(counts.values())
    return sorted(
        (k for k, n in counts.items() if n > HOT_FRACTION * total),
        key=lambda k: (-counts[k], k),
    )


def salted_by_subject(
    triples: DataFrame,
    n_partitions: int = 64,
    n_salts: int = 16,
    *,
    hot_subjects: list,
) -> DataFrame:
    """Repartition triples by (subj, salt) where salt spreads the
    ``hot_subjects`` (see :func:`hot_subjects`) across ``n_salts``
    buckets; cold subjects keep one bucket.

    Runs no Spark job: the hot set is given, and it becomes a
    broadcast-free ``isin`` literal — no join, no cached frame.

    Output VALUES are unchanged (salt is dropped); only the physical
    partitioning differs. Salt is a deterministic hash of the full
    triple, not a random()."""
    if hot_subjects:
        salted = triples.withColumn(
            "salt",
            F.when(
                F.col("subj").isin(hot_subjects),
                F.pmod(F.xxhash64("subj", "pred", "obj"), F.lit(n_salts)),
            ).otherwise(F.lit(0)),
        )
    else:
        salted = triples.withColumn("salt", F.lit(0))
    return salted.repartition(n_partitions, "subj", "salt").drop("salt")
