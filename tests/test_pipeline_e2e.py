"""End-to-end pipeline: byte identity, triple P/R gate, resume, lineage."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from split_ner_spark import corpus, pipeline
from split_ner_spark import reference_impl as R
from split_ner_spark.ops.metrics import f1_report
from split_ner_spark.ops.segment import extracted_text
from split_ner_spark.pipeline import StageCommitter, run_pipeline


@pytest.fixture(scope="module")
def workdir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("kgwork"))


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.fixture(scope="module")
def summary(spark, workdir):
    before = _persisted(spark)
    s = run_pipeline(spark, workdir, n_pages=400)
    # the run, its evaluation's gold cache included, persists nothing
    assert _persisted(spark) <= before
    return s


def test_triple_pr_gate(summary):
    m = summary["triple_match"]
    assert m["precision"] >= 0.95, m
    assert m["recall"] >= 0.95, m
    # and not trivially perfect — noise must be present and detected
    assert m["precision"] < 1.0 or m["recall"] < 1.0


def test_stage_rows_sane(summary):
    rows = summary["rows"]
    assert rows.keys() == {"mentions", "triples"}
    assert rows["mentions"] > 0
    assert rows["triples"] > 0


def test_resume_skips_committed_stages(spark, workdir, summary, monkeypatch):
    # all stages committed → rerun must not rebuild anything, nor run the
    # link phase, and must produce the identical report
    def boom(*_args, **_kwargs):
        raise AssertionError("link phase ran on a committed workdir")

    monkeypatch.setattr(pipeline, "link_mentions", boom)
    monkeypatch.setattr(pipeline, "salted_by_subject", boom)
    before = _persisted(spark)
    s2 = run_pipeline(spark, workdir, n_pages=400)
    assert _persisted(spark) <= before
    assert s2["rows"] == summary["rows"]
    assert s2["triple_match"] == summary["triple_match"]
    # the link report belongs to the build that ran, like cooccur_cap
    assert s2["link_mix"] is s2["hot_subjects"] is s2["cooccur_cap"] is None
    # without evaluation a committed rerun runs no Spark job at all: the
    # two committed tables reopen with the schemas their markers record
    sc = spark.sparkContext
    sc.setJobGroup("committed_resume", "committed_resume")
    try:
        s3 = run_pipeline(spark, workdir, n_pages=400, evaluate=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("committed_resume")) == 0
    assert s3["rows"] == summary["rows"]


def test_report_link_mix_and_hot_subjects(spark, workdir, summary):
    """The link-path mix adds up to the distinct surfaces and to the
    committed mentions, and the salted hot subjects are triple subjects."""
    from split_ner_spark.ops.link import norm_surface_col

    mix = summary["link_mix"]
    assert mix.keys() == {"exact", "lsh", "self"}
    mentions = StageCommitter(workdir).read(spark, "mentions")
    n_surfaces = mentions.select(norm_surface_col(F.col("surface"))).distinct().count()
    assert sum(v["surfaces"] for v in mix.values()) == n_surfaces
    assert sum(v["mentions"] for v in mix.values()) == summary["rows"]["mentions"]
    assert mix["exact"]["mentions"] > 0 and mix["self"]["mentions"] > 0
    hot = summary["hot_subjects"]
    assert hot
    triples = StageCommitter(workdir).read(spark, "triples")
    subjects = {r[0] for r in triples.select("subj").distinct().collect()}
    assert set(hot) <= subjects
    with open(os.path.join(workdir, "_report.json")) as fh:
        assert {"link_mix", "hot_subjects"} <= json.load(fh).keys()


def test_kill_and_rerun_from_partial(spark, workdir, summary):
    os.remove(os.path.join(workdir, "_COMMIT.triples.json"))
    s3 = run_pipeline(spark, workdir, n_pages=400)
    assert s3["rows"] == summary["rows"]
    assert s3["triple_match"] == summary["triple_match"]


def test_lineage_records(workdir, summary):
    lines = [json.loads(l) for l in open(os.path.join(workdir, "_lineage.jsonl"))]
    stages = {l["stage"] for l in lines}
    assert stages == {"mentions", "triples"}
    part_lines = [l for l in lines if "metric" not in l]
    assert all(
        l["rows"] >= 0 and l["wall_ms"] >= 0 and l["partition_file"]
        for l in part_lines
    )
    # the co-occurrence cap metric (VERDICT r4 #3) rides the triples stage:
    # a 100 TB operator can see how often the degenerate-sentence truncation
    # fired without re-running anything
    caps = [l for l in lines if l.get("metric") == "cooccur_cap"]
    assert caps, "cooccur_cap metric row missing from lineage"
    assert caps[-1]["n_sentences"] > 0
    assert 0 <= caps[-1]["n_capped_sentences"] <= caps[-1]["n_sentences"]
    # normal corpus sentences have tens of entities — nothing should cap
    assert caps[-1]["n_capped_sentences"] == 0
    assert summary["cooccur_cap"] == {
        "n_capped_sentences": caps[-1]["n_capped_sentences"],
        "n_sentences": caps[-1]["n_sentences"],
    }


def test_byte_identity_extraction(spark):
    """sha256(extract(text)) must equal sha256 of the generator's text —
    and the html-only path must reproduce it from the html column."""
    pg = corpus.gen_pages_with_gold(spark, 60).cache()
    pages = corpus.pages(pg)
    ext = extracted_text(pages)
    rows = ext.join(pages.select("url", "text"), "url").collect()
    assert len(rows) == 60
    for r in rows:
        assert r["text_extracted"] == r["text"]
        assert r["text_sha256"] == R.text_sha256(r["text"])
    # html-only: drop text, extract from html binary
    ext2 = extracted_text(pages.withColumn("text", F.lit(None).cast("string")), use_html=True)
    rows2 = {r["url"]: r["text_extracted"] for r in ext2.collect()}
    for r in rows:
        assert rows2[r["url"]] == r["text_extracted"]


def test_generator_is_partitioning_invariant(spark):
    a = corpus.gen_pages_with_gold(spark, 50, partitions=1).select("url", "text", "lang")
    b = corpus.gen_pages_with_gold(spark, 50, partitions=7).select("url", "text", "lang")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_stage_f1_report(spark, workdir, summary):
    """Per-stage F1 (detect & classify) via the E1/E2 operator."""
    pg = corpus.gen_pages_with_gold(spark, 400).cache()
    gold = corpus.gold_mentions(pg)
    mentions = spark.read.parquet(os.path.join(workdir, "mentions"))
    keys = ["url", "sent_id", "start", "end"]
    # detect-stage (untyped): tag column constant
    det = f1_report(
        mentions.withColumn("entity_type", F.lit("ENTITY")),
        gold.withColumn("entity_type", F.lit("ENTITY")),
        keys,
    )
    rep = {r["tag"]: r for r in det.collect()}
    assert rep["__micro__"]["f1"] > 0.95
    # classify-stage (typed key)
    rep2 = {r["tag"]: r for r in f1_report(mentions, gold, keys).collect()}
    assert rep2["__micro__"]["f1"] > 0.93
    assert rep2["__macro__"]["f1"] > 0.9
    # epsilon math parity with the pure-Python spec (micro over ALL tags,
    # macro over gold tags only — analysis.py:60-62)
    per_tag = {
        t: (r["tp"], r["fp"], r["fn"])
        for t, r in rep2.items()
        if t not in ("__micro__", "__macro__")
    }
    (mp, mr, mf1), _ = R.micro_macro(per_tag)
    gold_tags = {t: v for t, v in per_tag.items() if v[0] + v[2] > 0}
    _, macro = R.micro_macro(gold_tags)
    assert abs(rep2["__micro__"]["f1"] - mf1) < 1e-12
    assert abs(rep2["__macro__"]["f1"] - macro) < 1e-12


class Killed(Exception):
    """The run was killed at a step of ``StageCommitter.write``."""


def _fault(point: str, wd: str, stage: str):
    """``(target, name, replacement)``: kill the ``stage`` commit in ``wd``
    at ``point`` of ``StageCommitter.write``; every other call goes
    through."""
    final = os.path.join(wd, stage)
    marker = os.path.join(wd, f"_COMMIT.{stage}.json")
    if point == "tmp_written":
        real_parquet = DataFrameWriter.parquet

        def parquet(self, path, *a, **k):
            real_parquet(self, path, *a, **k)
            if path == os.path.join(wd, f"_tmp.{stage}"):
                raise Killed(path)

        return DataFrameWriter, "parquet", parquet
    if point == "rmtree":
        real_rmtree = shutil.rmtree

        def rmtree(path, *a, **k):
            if path == final:
                # killed part-way: one data file of the old table is gone
                first = min(f for f in os.listdir(path) if f.endswith(".parquet"))
                os.remove(os.path.join(path, first))
                raise Killed(path)
            return real_rmtree(path, *a, **k)

        return pipeline.shutil, "rmtree", rmtree
    if point == "rename":
        real_rename = os.rename

        def rename(src, dst, *a, **k):
            if dst == final:
                raise Killed(dst)
            return real_rename(src, dst, *a, **k)

        return pipeline.os, "rename", rename
    if point == "footer":
        real_footer = StageCommitter._footer_counts

        def footer_counts(table_dir):
            if table_dir == final:
                raise Killed(table_dir)
            return real_footer(table_dir)

        return StageCommitter, "_footer_counts", staticmethod(footer_counts)
    assert point == "marker"
    real_write_json = pipeline._write_json

    def write_json(path, obj):
        if path == marker:
            # killed mid-write: a torn tmp file, never the marker itself
            with open(path + ".tmp", "w") as fh:
                fh.write('{"stage": ')
            raise Killed(path)
        return real_write_json(path, obj)

    return pipeline, "_write_json", write_json


def test_write_over_committed_stage_uncommits_first(spark, tmp_path, monkeypatch):
    """Rewriting a committed stage removes its marker before the old
    table goes: a kill mid-swap leaves the stage uncommitted, and the
    next resume rebuilds and re-commits it."""
    sc = StageCommitter(str(tmp_path / "wd"))
    sc.write(spark.range(10), "r")
    assert sc.is_committed("r")

    def rmtree(path, *a, **k):
        raise Killed(path)

    with monkeypatch.context() as m:
        m.setattr(pipeline.shutil, "rmtree", rmtree)
        with pytest.raises(Killed):
            sc.write(spark.range(20), "r")
    assert not sc.is_committed("r")
    rebuilt = sc.stage("r", lambda: spark.range(20), resume=True)
    assert sc.is_committed("r") and sc.rows("r") == 20
    assert sorted(r.id for r in rebuilt.collect()) == list(range(20))


def _sorted_triples(spark, wd: str) -> list[tuple]:
    return sorted(map(tuple, StageCommitter(wd).read(spark, "triples").collect()))


@pytest.fixture(scope="module")
def committed_100(spark, tmp_path_factory):
    """A committed 100-page workdir, its summary and its sorted triples."""
    wd = str(tmp_path_factory.mktemp("committed_100") / "wd")
    first = run_pipeline(spark, wd, n_pages=100, resume=False, evaluate=False)
    return wd, first, _sorted_triples(spark, wd)


@pytest.mark.parametrize(
    "point", ["tmp_written", "rmtree", "rename", "footer", "marker"]
)
@pytest.mark.parametrize("stage", ["mentions", "triples"])
def test_fault_in_stage_commit_resumes(
    spark, tmp_path, monkeypatch, committed_100, stage, point
):
    """A rebuild of a committed workdir killed at any step of a stage's
    commit leaves no cached frame behind and leaves that stage
    uncommitted: the next resume=True run rebuilds it instead of
    reopening a missing or torn table, and returns the committed run's
    rows and exactly its triples."""
    base, first, triples = committed_100
    wd = str(tmp_path / "wd")
    shutil.copytree(base, wd)
    before = _persisted(spark)
    with monkeypatch.context() as m:
        m.setattr(*_fault(point, wd, stage))
        with pytest.raises(Killed):
            run_pipeline(spark, wd, n_pages=100, resume=False, evaluate=False)
    # no RDD of the killed run stays persisted; RDDs of earlier tests may
    # be released meanwhile (the ContextCleaner frees unreferenced
    # localCheckpoint blocks whenever the JVM collects them)
    assert _persisted(spark) <= before
    again = run_pipeline(spark, wd, n_pages=100, evaluate=False)
    assert again["rows"] == first["rows"]
    assert _sorted_triples(spark, wd) == triples


def test_resume_rejects_table_short_of_its_marker(spark, tmp_path, committed_100):
    """A committed mentions table that lost a data file after its commit
    is not reopened as whole: resume raises, naming the stage and both
    counts, and resume=False rebuilds the committed run's triples."""
    base, first, triples = committed_100
    wd = str(tmp_path / "wd")
    shutil.copytree(base, wd)
    table = os.path.join(wd, "mentions")
    lost = min(f for f in os.listdir(table) if f.endswith(".parquet"))
    os.remove(os.path.join(table, lost))
    want = first["rows"]["mentions"]
    with pytest.raises(ValueError, match=rf"'mentions'.*rows.*{want} rows.*resume=False"):
        run_pipeline(spark, wd, n_pages=100, evaluate=False)
    again = run_pipeline(spark, wd, n_pages=100, resume=False, evaluate=False)
    assert again["rows"] == first["rows"]
    assert _sorted_triples(spark, wd) == triples


def test_resume_rejects_other_run_parameters(spark, tmp_path):
    """Resuming a workdir built with other n_pages raises instead of
    returning the old tables; resume=False rebuilds and re-records."""
    wd = str(tmp_path / "wd")
    kw = dict(evaluate=False)
    first = run_pipeline(spark, wd, n_pages=100, resume=False, **kw)
    with pytest.raises(ValueError, match="'n_pages': 100.*'n_pages': 150"):
        run_pipeline(spark, wd, n_pages=150, **kw)
    other = run_pipeline(spark, wd, n_pages=150, resume=False, **kw)
    assert other["rows"]["mentions"] > first["rows"]["mentions"]
    with open(os.path.join(wd, "_run.json")) as fh:
        assert json.load(fh) == {"n_pages": 150, "seed": corpus.SEED}
    again = run_pipeline(spark, wd, n_pages=150, **kw)
    assert again["rows"] == other["rows"]
