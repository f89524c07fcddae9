"""Fused single-UDF path must be row-identical to the staged operators."""

from __future__ import annotations

import os

from split_ner_spark import corpus
from split_ner_spark.ops.assemble import assemble_untyped
from split_ner_spark.ops.classify import classify_mentions
from split_ner_spark.ops.detect import detect_spans
from split_ner_spark.ops.fused import fused_mentions
from split_ner_spark.ops.segment import segment_pages


def test_fused_equals_staged(spark):
    n = 300
    staged = (
        classify_mentions(
            assemble_untyped(
                detect_spans(
                    segment_pages(corpus.pages(corpus.gen_pages_with_gold(spark, n)))
                )
            )
        )
        .drop("tokens")
        .select("url", "sent_id", "start", "end", "surface", "detect_score", "entity_type")
    )
    fused = fused_mentions(spark, n)
    a = sorted(map(tuple, staged.collect()))
    b = sorted(map(tuple, fused.collect()))
    assert a == b
    assert len(a) > 100


def test_generator_partitions_rule():
    """Whole waves of ``cores`` tasks, sized by pages per task, 1-4 deep:
    one wave where the per-task fixed cost would dominate, four where the
    work does."""
    rule = corpus.generator_partitions
    assert rule(5_000, 4) == 4
    assert rule(20_000_000, 32) == 128
    wave = 4 * corpus.PAGES_PER_TASK
    assert [rule(n, 4) for n in (wave, wave + 1, 2 * wave + 1)] == [4, 8, 12]
    for cores in (1, 4, 8, 32):
        for n in (0, 1, 5_000, 200_000, 2_000_000, 20_000_000, 10**9):
            p = rule(n, cores)
            assert cores <= p <= 4 * cores and p % cores == 0, (n, cores, p)


def test_generator_stages_use_the_rule(spark):
    """Both page-id generator stages take their task count from
    ``corpus.generator_partitions``, one wave and several; an explicit
    ``partitions=`` still wins. Planning only: no Spark job runs."""
    cores = spark.sparkContext.defaultParallelism
    sc = spark.sparkContext
    sc.setJobGroup("generator_partitions", "generator_partitions")
    try:
        for n in (300, 2 * cores * corpus.PAGES_PER_TASK + 1):
            want = corpus.generator_partitions(n, cores)
            for df in (fused_mentions(spark, n), corpus.gen_pages_with_gold(spark, n)):
                assert df.rdd.getNumPartitions() == want, n
        explicit = corpus.gen_pages_with_gold(spark, 300, partitions=7)
        assert explicit.rdd.getNumPartitions() == 7
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("generator_partitions")) == 0


def test_fast_resume_skips_link_phase(spark, tmp_path, monkeypatch):
    """A fully committed workdir resumes without running the link phase,
    or any Spark job: the committed tables reopen with the schema their
    markers record. With the triples marker gone, the rerun rebuilds the
    same triples."""
    from split_ner_spark import pipeline

    wd = str(tmp_path / "fast")
    first = pipeline.run_pipeline(spark, wd, n_pages=300, resume=False, evaluate=False)

    def boom(*_args, **_kwargs):
        raise AssertionError("link phase ran on a committed workdir")

    with monkeypatch.context() as m:
        m.setattr(pipeline, "link_mentions", boom)
        m.setattr(pipeline, "salted_by_subject", boom)
        sc = spark.sparkContext
        sc.setJobGroup("fast_resume", "fast_resume")
        try:
            again = pipeline.run_pipeline(spark, wd, n_pages=300, evaluate=False)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("fast_resume")) == 0
    assert again["rows"] == first["rows"]
    assert again["triples"] == first["triples"]

    os.remove(os.path.join(wd, "_COMMIT.triples.json"))
    rebuilt = pipeline.run_pipeline(spark, wd, n_pages=300, evaluate=False)
    assert rebuilt["rows"] == first["rows"]
    assert rebuilt["triples"] == first["triples"]


def test_workers_import_package_outside_checkout(tmp_path):
    """A driver started in another directory, with the checkout on its
    own ``sys.path`` only (no ``PYTHONPATH``), still runs the
    ``mapInPandas`` stage: the Python workers find the package too."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys\n"
        f"sys.path.insert(0, {root!r})\n"
        "from split_ner_spark.ops.fused import fused_mentions\n"
        "from split_ner_spark.session import get_spark\n"
        "spark = get_spark(cpus=2, driver_mem='1g')\n"
        "print('ROWS', fused_mentions(spark, 20).count())\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rows = [ln for ln in proc.stdout.splitlines() if ln.startswith("ROWS ")]
    assert rows and int(rows[-1].split()[1]) > 0
