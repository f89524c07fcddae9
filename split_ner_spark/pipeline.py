"""End-to-end KG-construction pipeline with resumable stage commits.

The reference glues its two model stages through files the operator
renames by hand (/root/reference/README.md:130-148: copy test.tsv →
infer_inp.tsv); checkpoints are kept per epoch (trainer.py:9-38). The
rebuild replaces both with committed stage tables: every stage writes an
atomic parquet directory (write to ``_tmp.<stage>`` then a single
``os.rename``) plus a ``_COMMIT.<stage>.json`` manifest (rows, files and
the table schema, so reopening a committed table runs no schema-inference
job); re-running the pipeline skips every stage whose commit marker exists
— kill-and-rerun resumes from the last committed stage (BASELINE.md
"Resumability"). Per-partition lineage (stage, partition file, rows,
wall_ms) lands in ``<workdir>/_lineage.jsonl`` — the target-only
requirement of SURVEY §4.

On a real deployment the committer is one `writeTo(...).append()` against
Iceberg with snapshot ids in place of commit markers; the stage graph and
resume logic are identical (atomic dir rename ≈ snapshot commit).

Stage graph (the triples stage reads the COMMITTED mentions table, so
resume is real, not lineage replay):

    mentions (generate→segment→detect→assemble→classify, one fused
    Python stage) → triples (link→canonicalize→triples→salted write)
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import types as T

from . import corpus
from .ops.fused import fused_mentions
from .ops.link import link_mentions
from .ops.metrics import triple_pr
from .ops.triples import hot_subjects, make_triples, salted_by_subject
from .session import local_frame


def _write_json(path: str, obj) -> None:
    """Atomically: a reader sees the old file or the whole new one."""
    with open(path + ".tmp", "w") as fh:
        json.dump(obj, fh)
    os.replace(path + ".tmp", path)


class StageCommitter:
    """Atomic parquet stage tables + commit manifests + lineage records."""

    def __init__(self, base_dir: str):
        self.base = base_dir
        os.makedirs(base_dir, exist_ok=True)
        self.lineage_path = os.path.join(base_dir, "_lineage.jsonl")

    def path(self, stage: str) -> str:
        return os.path.join(self.base, stage)

    def _marker(self, stage: str) -> str:
        return os.path.join(self.base, f"_COMMIT.{stage}.json")

    def is_committed(self, stage: str) -> bool:
        return os.path.exists(self._marker(stage))

    def _load_marker(self, stage: str) -> dict:
        with open(self._marker(stage)) as fh:
            return json.load(fh)

    def uncommit_all(self) -> None:
        """Remove every commit marker: no stage of an earlier run resumes."""
        for f in os.listdir(self.base):
            if f.startswith("_COMMIT."):
                os.remove(os.path.join(self.base, f))

    def rows(self, stage: str) -> int:
        return self._load_marker(stage)["rows"]

    @staticmethod
    def _footer_counts(table_dir: str) -> list[tuple[str, int]]:
        import pyarrow.parquet as pq

        return [
            (f, pq.ParquetFile(os.path.join(table_dir, f)).metadata.num_rows)
            for f in sorted(os.listdir(table_dir))
            if f.endswith(".parquet")
        ]

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        """The committed table, opened with the schema its marker records:
        parquet schema inference costs one Spark job per open."""
        schema = T.StructType.fromJson(self._load_marker(stage)["schema"])
        return spark.read.schema(schema).parquet(self.path(stage))

    def write(self, df: DataFrame, stage: str) -> DataFrame:
        """Write df as the stage table; atomic rename; record lineage.
        Returns the re-read (committed) DataFrame."""
        spark = df.sparkSession
        tmp = os.path.join(self.base, f"_tmp.{stage}")
        final = self.path(stage)
        t0 = time.time()
        df.write.mode("overwrite").parquet(tmp)
        wall_ms = int((time.time() - t0) * 1000)
        # the old marker goes first: a run killed from here until the new
        # marker is in place leaves the stage uncommitted (rebuilt on
        # resume), never a marker over a deleted or half-swapped table
        marker = self._marker(stage)
        if os.path.exists(marker):
            os.remove(marker)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)
        # the written schema, so neither this re-read nor a resumed run's
        # read infers it; the reader opens every column nullable, as
        # inference does, and the marker records that schema
        committed = spark.read.schema(df.schema).parquet(final)
        # per-partition lineage from parquet footers (driver-side metadata
        # read, zero Spark jobs — an extra count job per stage measurably
        # hurt small-stage wall time and contributes nothing at scale; a
        # real deployment reads the same counts from the Iceberg snapshot
        # manifest).
        per_file = self._footer_counts(final)
        rows = sum(n for _, n in per_file)
        with open(self.lineage_path, "a") as fh:
            for fname, n in per_file:
                fh.write(
                    json.dumps(
                        {
                            "stage": stage,
                            "partition_file": fname,
                            "rows": n,
                            "wall_ms": wall_ms,
                        }
                    )
                    + "\n"
                )
        _write_json(
            marker,
            {"stage": stage, "rows": rows, "wall_ms": wall_ms,
             "n_files": len(per_file), "committed_at": time.time(),
             "schema": committed.schema.jsonValue()},
        )
        return committed

    def _check_footers(self, stage: str) -> None:
        """Raise unless the committed table's data files still hold the
        rows and files its marker records (driver-side footer reads, no
        Spark job): a data file lost or rewritten after the commit must
        not reopen as a whole table."""
        marker = self._load_marker(stage)
        table = self.path(stage)
        per_file = self._footer_counts(table) if os.path.isdir(table) else []
        rows = sum(n for _, n in per_file)
        if (rows, len(per_file)) != (marker["rows"], marker["n_files"]):
            raise ValueError(
                f"committed stage {stage!r} holds {rows} rows in "
                f"{len(per_file)} files, but its marker records "
                f"{marker['rows']} rows in {marker['n_files']} files; "
                "pass resume=False to rebuild it"
            )

    def stage(self, stage: str, build, resume: bool = True) -> DataFrame:
        """Memoized stage: reuse the committed table, once its footers
        match the marker, or build+commit it."""
        spark = SparkSession.getActiveSession()
        if resume and self.is_committed(stage):
            self._check_footers(stage)
            return self.read(spark, stage)
        return self.write(build(), stage)


def alias_dim(spark: SparkSession, seed: int = corpus.SEED) -> DataFrame:
    """The alias dictionary as a local relation: ``link_mentions``
    collects it, which a local relation answers without a Spark job."""
    rows = corpus.alias_rows(corpus.build_registry(seed))
    return local_frame(
        spark, rows, "alias string, canonical_id string, entity_type string"
    )


def run_pipeline(
    spark: SparkSession,
    workdir: str,
    n_pages: int = 2000,
    seed: int = corpus.SEED,
    resume: bool = True,
    evaluate: bool = True,
    triple_partitions: int = 64,
    granularity: str = "fast",
) -> dict:
    """Full pipeline over the deterministic synthetic corpus: one lazy DAG
    with two commit points, ``mentions`` and ``triples``.

    The chain generate→segment→detect→assemble→classify is narrow (no
    shuffle), so it runs as one fused Python stage with no materialization
    barrier, where the reference glues its two model stages through
    files. The triples stage caches nothing: the linked mentions are
    recomputed inside the one write job, and their hot subjects come from
    the link dimension's mention counts. A rerun over a committed workdir
    skips the link phase.

    ``granularity`` accepts only ``"fast"``; any other value raises
    ``ValueError``.

    ``<workdir>/_run.json`` records ``n_pages`` and ``seed``: resuming a
    workdir built with other values raises ``ValueError``, and
    ``resume=False`` uncommits every stage before it rewrites the record.

    Returns a summary dict (rows per stage, triple P/R when evaluate=True,
    wall seconds, triples/sec, and — when the triples stage built — the
    co-occurrence cap count, the link-path mix as distinct surfaces and
    mentions per ``linked_via``, and the salted hot subjects)."""
    if granularity != "fast":
        raise ValueError(f"granularity must be 'fast', not {granularity!r}")
    sc = StageCommitter(workdir)
    t_start = time.time()
    run_key = {"n_pages": n_pages, "seed": seed}
    key_path = os.path.join(workdir, "_run.json")
    if not resume:
        # even a rebuild killed before its last stage must not leave an
        # earlier run's later stages committed
        sc.uncommit_all()
    elif os.path.exists(key_path):
        with open(key_path) as fh:
            recorded = json.load(fh)
        if recorded != run_key:
            raise ValueError(
                f"{workdir} holds the run {recorded}, not {run_key}; "
                "pass resume=False to rebuild it"
            )
    _write_json(key_path, run_key)

    mentions = sc.stage(
        "mentions", lambda: fused_mentions(spark, n_pages, seed), resume
    )

    cooccur_obs = None  # set only when the triples stage builds
    link_report: dict = {"link_mix": None, "hot_subjects": None}

    def build_triples() -> DataFrame:
        nonlocal cooccur_obs
        # fuzzy linking (the default) also self-canonicalizes, on the
        # surface dimension rather than with extra fact-table scans
        linked, dimension = link_mentions(mentions, alias_dim(spark, seed))
        # the dimension's mention counts, summed per canonical_id, are
        # exact per-subject counts: the hot subjects cost no Spark job,
        # and make_triples executes exactly once, inside the write job
        per_subject: dict = {}
        mix = {via: {"surfaces": 0, "mentions": 0} for via in ("exact", "lsh", "self")}
        for _, cid, _, via, n in dimension:
            per_subject[cid] = per_subject.get(cid, 0) + n
            mix[via]["surfaces"] += 1
            mix[via]["mentions"] += n
        hot = hot_subjects(per_subject)
        link_report.update(link_mix=mix, hot_subjects=hot)
        cooccur_obs = Observation("cooccur_cap")
        return salted_by_subject(
            make_triples(linked, observation=cooccur_obs), triple_partitions,
            hot_subjects=hot,
        )

    triples = sc.stage("triples", build_triples, resume)

    wall_s = time.time() - t_start
    # Co-occurrence cap observability (VERDICT r4 #3): how many sentences
    # exceeded MAX_COOCCUR_ENTITIES and had their pair expansion truncated.
    # Observation metrics ride the triples write action (zero extra jobs);
    # on a resumed run the stage never executed, so the metric is absent.
    cooccur_metrics = None
    if cooccur_obs is not None:
        got = cooccur_obs.get  # populated: the triples commit already ran
        cooccur_metrics = {
            "n_capped_sentences": got["n_capped_sentences"] or 0,
            "n_sentences": got["n_sentences"] or 0,
        }
        with open(sc.lineage_path, "a") as fh:
            fh.write(
                json.dumps({"stage": "triples", "metric": "cooccur_cap",
                            **cooccur_metrics}) + "\n"
            )
    rows = {s: sc.rows(s) for s in ("mentions", "triples")}
    summary = {
        "n_pages": n_pages,
        "rows": rows,
        "wall_s": round(wall_s, 3),
        "triples": rows["triples"],
        "triples_per_sec": round(rows["triples"] / wall_s, 2) if wall_s > 0 else None,
        "cooccur_cap": cooccur_metrics,
        # what linking resolved and which subjects the write salted;
        # absent (None) on a resumed run, like cooccur_cap
        **link_report,
    }
    if evaluate:
        # golden_triples reads the gold in several branches and triple_pr
        # runs two actions over them; cached, the generator runs once
        gold = corpus.gold_mentions(
            corpus.gen_pages_with_gold(spark, n_pages, seed)
        ).cache()
        try:
            summary["triple_match"] = triple_pr(triples, corpus.golden_triples(gold))
        finally:
            gold.unpersist()
    _write_json(os.path.join(workdir, "_report.json"), summary)
    return summary
