"""Benchmark: the fast-granularity KG pipeline and the headline query suite.

Run from the repository root:

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --workload query_suite --seed 1 --seconds 16 --trace 1

Each run is one fresh process at ``local[<cores>]``: it sets up (session
start, the output check, and a warm-up that runs until the iteration wall
levels off or reaches its cap), then times whole iterations for about
``--seconds`` and prints, as its last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
Spark event log, wraps the layers in spans and reports the per-layer
metrics instead. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

T_PROCESS = time.perf_counter()  # setup_s counts from here

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")
TMP_PARENT = os.path.join(ROOT, ".perfbench_tmp")

N_PAGES = 5_000  # kg_batch corpus size
DRIVER_MEM = "3g"
MIN_TRIPLE_PR = 0.95
LEVEL = 0.10  # warm-up ends once an iteration is within 10% of the previous one
MAX_WARMUP = {"kg_batch": 2, "query_suite": 2}
# timed iterations every run makes at least; a lone kg_batch iteration is
# its slowest (still warming), so letting the count drop to one whenever
# an iteration ran long made the run's median bimodal
MIN_TIMED = {"kg_batch": 2, "query_suite": 1}

PIPELINE_SPANS = ("mentions", "link_build", "linked_materialize", "triples_write")
SPAN_COUNTERS = (
    "wall_s", "jobs", "tasks", "failed_tasks", "executor_cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
)
QUERY_COUNTERS = ("wall_s", "jobs", "executor_cpu_s", "shuffle_write_bytes")


def suite() -> list[str]:
    """The query_suite pass, in order: bench.HEADLINE plus the n-gram
    Jaccard self-join that HEADLINE lacks."""
    from bench import HEADLINE

    return [*HEADLINE, "dedup_ngram_jaccard"]


def per_layer_names() -> list[str]:
    names = [f"{s}.{c}" for s in PIPELINE_SPANS for c in SPAN_COUNTERS]
    names += [
        "mentions.python_bytes", "triples_write.shuffle_records",
        "triples_write.output_rows", "commit_footer.wall_s",
        "unattributed.wall_s", "unattributed.jobs", "iteration.wall_s",
        "peak_jvm_heap_bytes", "peak_python_rss_bytes",
    ]
    names += [f"query.{q}.{c}" for q in suite() for c in QUERY_COUNTERS]
    return names


def leveled(walls: list[float]) -> bool:
    return len(walls) >= 2 and abs(walls[-1] - walls[-2]) <= LEVEL * walls[-2]


def measure(step, seconds: float, at_least: int) -> list[float]:
    """Run ``at_least`` whole timed iterations, then more while one more of
    the last one's length still fits in ``seconds``. ``step(i)`` returns
    the wall of iteration ``i``."""
    walls: list[float] = []
    t0 = time.perf_counter()
    while len(walls) < at_least or time.perf_counter() - t0 + walls[-1] <= seconds:
        walls.append(step(len(walls)))
    return walls


# ---------------------------------------------------------------- workloads


def kg_batch(spark, args, tracer, tmp: str) -> dict:
    """run_pipeline(resume=False) over the synthetic corpus, fast granularity."""
    from split_ner_spark import pipeline

    parts = 2 * spark.sparkContext.defaultParallelism

    def once(keep: bool = False) -> tuple[float, dict, str]:
        workdir = tempfile.mkdtemp(prefix="kg_", dir=tmp)
        t0 = time.perf_counter()
        summary = pipeline.run_pipeline(
            spark, workdir, n_pages=N_PAGES, seed=args.seed, resume=False,
            evaluate=False, triple_partitions=parts, granularity="fast",
        )
        wall = time.perf_counter() - t0
        if not keep:
            shutil.rmtree(workdir)
        return wall, summary, workdir

    # untimed output check on the first iteration: triple P/R against the
    # corpus gold (run_pipeline's evaluate=True metric, with the generated
    # gold cached once instead of regenerated per scan), and the triple
    # count every timed iteration must reproduce
    wall, summary, workdir = once(keep=True)
    pr = triple_check(spark, pipeline.StageCommitter(workdir).read(spark, "triples"), args.seed)
    shutil.rmtree(workdir)
    pr_ok = pr["precision"] >= MIN_TRIPLE_PR and pr["recall"] >= MIN_TRIPLE_PR
    expected = summary["triples"]
    log(f"check: {expected} triples, P={pr['precision']:.4f} R={pr['recall']:.4f}")
    warm = [wall]
    while len(warm) < MAX_WARMUP["kg_batch"] and not leveled(warm):
        warm.append(once()[0])
    log(f"warm-up walls: {fmt(warm)}")

    setup_s = time.perf_counter() - T_PROCESS
    counts: list[int] = []

    def step(i: int) -> float:
        with tracer.iteration(i):
            wall, summary, _ = once()
        counts.append(summary["triples"])
        return wall

    targets = [
        (pipeline.StageCommitter, "write",
         lambda self, df, stage, *a, **k: "triples_write" if stage == "triples" else stage),
        (pipeline.StageCommitter, "_footer_counts", "commit_footer"),
        # the alias dictionary is built in link_mentions' argument list
        (pipeline, "alias_dim", "link_build"),
        (pipeline, "link_mentions", "link_build"),
        (pipeline, "salted_by_subject", "linked_materialize"),
    ]
    with tracer.patched(targets):
        walls = measure(step, args.seconds, MIN_TIMED["kg_batch"])
    failed = sum(c != expected for c in counts) if pr_ok else len(counts)
    return {
        "correct": pr_ok and failed == 0,
        "attempted": len(walls),
        "failed": failed,
        "walls": walls,
        "setup_s": setup_s,
        "items_per_s": statistics.median(c / w for c, w in zip(counts, walls)),
    }


def triple_check(spark, triples, seed: int) -> dict:
    from split_ner_spark import corpus
    from split_ner_spark.ops.metrics import triple_pr

    pages_gold = corpus.gen_pages_with_gold(spark, N_PAGES, seed).cache()
    try:
        golden = corpus.golden_triples(corpus.gold_mentions(pages_gold))
        return triple_pr(triples, golden)
    finally:
        pages_gold.unpersist()


def query_suite(spark, args, tracer, tmp: str) -> dict:
    """One iteration is one pass over suite() against the noop sink."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    from oracle_check import frame_fingerprint

    from split_ner_spark.queries import QUERIES, drain_cache

    names = suite()
    with open(FINGERPRINTS) as fh:
        expected = json.load(fh)
    threads = spark.sparkContext.defaultParallelism

    def drain() -> None:
        drain_cache(spark)
        spark.catalog.clearCache()

    def fingerprint(name: str) -> dict:
        df = QUERIES[name](spark, DATA_DIR)
        rows, sha = frame_fingerprint(df.columns, [tuple(r) for r in df.collect()])
        return {"rows": rows, "sha": sha, "cols": sorted(df.columns)}

    def noop(name: str) -> None:
        QUERIES[name](spark, DATA_DIR).write.format("noop").mode("overwrite").save()

    def concurrent_pass(fn) -> tuple[float, dict]:
        # warm-up passes run the queries side by side: code generation and
        # JIT warm-up overlap, and the measured passes stay sequential
        t0 = time.perf_counter()
        with ThreadPoolExecutor(threads) as ex:
            futures = {n: ex.submit(fn, n) for n in names}
            done = {}
            for n, f in futures.items():
                try:
                    done[n] = f.result()
                except Exception:  # a failing query is a failed operation
                    log(f"{n} failed:\n{traceback.format_exc()}")
                    done[n] = None
        drain()
        return time.perf_counter() - t0, done

    # untimed output check against the DuckDB twins' fingerprints
    wall, got = concurrent_pass(fingerprint)
    bad = {n for n in names if got[n] != expected.get(n)}
    for n in sorted(bad):
        log(f"MISMATCH {n}: got {got[n]} expected {expected.get(n)}")
    warm = [wall]
    while len(warm) < MAX_WARMUP["query_suite"] and not leveled(warm):
        warm.append(concurrent_pass(noop)[0])
    log(f"warm-up pass walls: {fmt(warm)}")

    setup_s = time.perf_counter() - T_PROCESS
    failed = 0

    def step(i: int) -> float:
        nonlocal failed
        t0 = time.perf_counter()
        with tracer.iteration(i):
            for n in names:
                with tracer.span(f"query.{n}"):
                    try:
                        noop(n)
                    except Exception:
                        log(f"{n} failed:\n{traceback.format_exc()}")
                        bad.add(n)
                    drain()
                failed += n in bad
        return time.perf_counter() - t0

    walls = measure(step, args.seconds, MIN_TIMED["query_suite"])
    return {
        "correct": failed == 0,
        "attempted": len(names) * len(walls),
        "failed": failed,
        "walls": walls,
        "setup_s": setup_s,
        "items_per_s": len(names) / statistics.median(walls),
    }


WORKLOADS = {"kg_batch": kg_batch, "query_suite": query_suite}

# --------------------------------------------------------------- the run


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fmt(walls: list[float]) -> str:
    return ", ".join(f"{w:.2f}s" for w in walls)


def spark_conf(tmp: str, trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(tmp, 'java')}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(tmp, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.logStageExecutorMetrics": "true",
            "spark.executor.processTreeMetrics.enabled": "true",
        })
    return conf


def isolate(tmp: str) -> None:
    """Keep every file Spark and its Python workers write under ``tmp``,
    and let the workers import the package from the checkout."""
    for sub in ("local", "java", "py", "eventlog"):
        os.makedirs(os.path.join(tmp, sub))
    local = os.path.join(tmp, "local")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def read_event_log(directory: str):
    """The lines of the run's event log (one file: rolling is off)."""
    for name in sorted(os.listdir(directory)):
        path = os.path.join(directory, name)
        if os.path.isfile(path) and not name.startswith("."):
            with open(path) as fh:
                yield from fh


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # fail before any set-up when the program is not in the checkout
    sys.path.insert(0, ROOT)
    from split_ner_spark.session import get_spark

    from spans import NullTracer, Tracer, layer_metrics, reduce_event_log

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(TMP_PARENT, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=TMP_PARENT)
    spark = None
    try:
        isolate(tmp)
        cores = len(os.sched_getaffinity(0))
        spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cores,
                          extra_conf=spark_conf(tmp, bool(args.trace)))
        tracer = Tracer(spark.sparkContext) if args.trace else NullTracer()
        res = WORKLOADS[args.workload](spark, args, tracer, tmp)
        stop_spark(spark)
        spark = None
        walls = res["walls"]
        log(f"timed walls: {fmt(walls)}; setup {res['setup_s']:.2f}s")
        if args.trace:
            counters, peaks = reduce_event_log(read_event_log(os.path.join(tmp, "eventlog")))
            names = per_layer_names()
            values = {**layer_metrics(tracer.spans, counters, names), **peaks}
            metrics = {n: {"value": values[n], "unit": unit_of(n)} for n in names}
        else:
            metrics = {
                "wall_s": {"value": statistics.median(walls), "unit": "s"},
                "items_per_s": {"value": res["items_per_s"], "unit": "1/s"},
                "setup_s": {"value": res["setup_s"], "unit": "s"},
            }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(TMP_PARENT)  # only when no other run is using it
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"],
        "failed": res["failed"], "metrics": metrics,
    }))
    return 0


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
