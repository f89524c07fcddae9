"""Benchmark harness: headline queries + the full KG pipeline at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default 32).

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, "triples_per_sec": ...}

The pipeline stage (synthetic corpus scaled to the sf, one
``run_pipeline`` run: the fused generate→detect→classify mentions stage
and the link→triples stage, each committed as a table) is the
BASELINE.json headline — its triples/sec is reported alongside per-query
latencies. Scaling-efficiency evidence (same job at
local[8] vs local[32]) lives in scripts/scaling_bench.py / BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from split_ner_spark import corpus  # noqa: E402
from split_ner_spark.pipeline import run_pipeline  # noqa: E402
from split_ner_spark.queries import QUERIES, drain_cache  # noqa: E402
from split_ner_spark.session import get_spark  # noqa: E402

HEADLINE = [
    "kg_span_assembly",
    "kg_eval_f1",
    "kg_cooccurrence",
    "pricing_summary",
    "top_suppliers_per_nation",
    "events_sessionize",
    "text_quality",
    "text_lang_id",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "dedup_lsh_jaccard",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "emb_near_dup",
    "kg_linked_triples",
]


def sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def calibrate(spark, label: str) -> dict:
    """Fixed-work noise probe (VERDICT r4 #2): a constant-size pure-JVM
    shuffle plus a constant-work SINGLE-THREADED numpy sort. On a quiet
    machine both walls are constant run-to-run; hypervisor noise (which
    on this VM arrives in minutes-long windows and has swung the
    identical pipeline job 47.7→338.6s) inflates them proportionally.
    Probes run before and after each measured block and land IN the
    artifact, so a reader can classify each measured wall as clean/noisy
    without cross-referencing other artifacts. ~2-3s per probe.

    The python probe is deliberately single-threaded (numpy sort, no
    BLAS): the first artifact used a 32-thread BLAS matmul, whose wall
    swung 5x from thread-scheduling alone in a window the JVM probe
    measured flat (0.90-1.06s) — a multi-threaded micro-job measures
    scheduler placement luck, not hypervisor steal. The caller must also
    discard one warmup probe before the first measured one: the JVM leg
    pays one-time codegen/JIT (measured 6.1s warmup vs 1.0s steady on a
    quiet machine) which would otherwise read as a 6x noise factor."""
    import numpy as np

    t0 = time.time()
    (
        spark.range(0, 8_000_000, 1, 16)
        .selectExpr("cast(id % 500000 as string) as k")
        .repartition(16, "k")
        .selectExpr("count(distinct k)")
        .collect()
    )
    jvm = round(time.time() - t0, 3)
    # min-of-3: a single-threaded probe can land on one momentarily
    # stolen vCPU by scheduler placement luck; sustained steal (the
    # signal we want) slows all three reps, a one-core spike does not.
    # The clean-machine constant of min-of-3 equals that of one rep, so
    # the key's meaning (wall of one 8M-float sort) is unchanged.
    reps = []
    for _ in range(3):
        t0 = time.time()
        np.sort(np.random.default_rng(0).random(8_000_000))
        reps.append(round(time.time() - t0, 3))
    # python-worker probe: a fixed-work mapInPandas job over all local
    # threads — worker dispatch + Arrow transfer + pandas compute, the
    # path that dominates the measured pipeline. Added after a session
    # where pipeline walls ran 4-5x slow while the JVM and single-core
    # probes read 1.2-1.5x: whatever the hypervisor does to the python
    # worker pool is invisible to the other two probe components.
    from pyspark.sql import functions as F  # noqa: F401

    n_parts = spark.sparkContext.defaultParallelism

    def _spin(it):
        import pandas as pd

        for pdf in it:
            yield pd.DataFrame(
                {"s": [float(np.sort(pdf["v"].to_numpy(copy=True)).sum())]}
            )

    # min-of-2: the first dispatch after a heavy pipeline run pays a
    # one-off worker-pool penalty (observed 15.4s vs a 2.1s baseline
    # right after a wall the NEXT pipeline run showed was a quiet
    # window); the second rep runs against a re-warmed pool, so only
    # sustained degradation keeps both reps slow.
    py_reps = []
    for _ in range(2):
        t0 = time.time()
        (
            spark.range(0, 1_000_000 * n_parts, 1, n_parts)
            .selectExpr("cast(pmod(id * 2654435761, 1000003) as double) as v")
            .mapInPandas(_spin, "s double")
            .agg({"s": "sum"})
            .collect()
        )
        py_reps.append(round(time.time() - t0, 3))
    return {"at": label, "jvm_shuffle_s": jvm, "numpy_st_s": min(reps),
            "py_udf_s": min(py_reps)}


_CAL_REF_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_CALIBRATION_REF.json"
)

# fixed-work probe components; a probe point and a reference entry carry
# one wall per component, and the noise factor is the max over them
_CAL_COMPONENTS = ("jvm_shuffle_s", "numpy_st_s", "py_udf_s")


def load_cal_ref(cpus: int) -> dict | None:
    """Cross-session clean-machine estimate for the fixed-work probe,
    keyed by cpu count. Min-ever merging is correct HERE (unlike for
    measured walls, scripts/scaling_bench.py --merge-prior): the probe is
    constant work, so its minimum over all sessions converges to the
    quiet-machine constant, and a session whose EVERY probe is slow —
    which session-relative factors would self-normalize to 1.0 — still
    flags against it."""
    try:
        with open(_CAL_REF_PATH) as fh:
            ref = json.load(fh).get(str(cpus))
    except (OSError, ValueError):
        return None
    # reject entries from an older probe definition (e.g. the retired
    # BLAS matmul, or pre-py_udf probes): constants from different work
    # are not comparable
    if not ref or any(k not in ref for k in _CAL_COMPONENTS):
        return None
    return ref


def update_cal_ref(cpus: int, session_best: dict) -> None:
    try:
        with open(_CAL_REF_PATH) as fh:
            ref = json.load(fh)
    except (OSError, ValueError):
        ref = {}
    cur = ref.get(str(cpus), {})
    entry = {
        k: min(session_best[k], cur.get(k, session_best[k]))
        for k in _CAL_COMPONENTS
    }
    entry["n_sessions"] = cur.get("n_sessions", 0) + 1
    ref[str(cpus)] = entry
    with open(_CAL_REF_PATH, "w") as fh:
        json.dump(ref, fh, indent=1)


def annotate_noise(cal_points: list[dict], ref: dict | None) -> dict:
    """Add a per-probe noise factor = wall / baseline, per component;
    ``factor`` is the max over components. Baseline = min(session best,
    cross-session min from BENCH_CALIBRATION_REF.json), so factor ≈ 1.0
    means a genuinely quiet window, not merely this session's quietest.
    Returns the baseline used (for the artifact)."""
    base = {k: min(p[k] for p in cal_points) for k in _CAL_COMPONENTS}
    if ref:
        for k in _CAL_COMPONENTS:
            base[k] = min(base[k], ref[k])
    for p in cal_points:
        p["factor"] = round(max(p[k] / base[k] for k in _CAL_COMPONENTS), 2)
    return {**base, "cross_session": bool(ref)}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_from_dir(sf_dir)
    spark = get_spark(app_name="split-ner-spark-bench", cpus=cpus,
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    t_all = time.time()

    # warm the JVM/python workers once so per-query numbers are not
    # dominated by first-job startup.
    spark.range(1000).selectExpr("sum(id)").collect()
    calibrate(spark, "warmup_discarded")  # JVM codegen/JIT warmup, not noise
    cal_points: list[dict] = [calibrate(spark, "start")]

    # Protocol (round 3): the HEADLINE number for every query and for the
    # pipeline is the MEDIAN of the measured runs — the throughput you'd
    # actually sustain; the minimum is still reported separately as
    # "best observed" (capability under a clean hypervisor-noise window).
    timings_best: dict[str, float] = {}
    for name in HEADLINE:
        runs = []
        for _ in range(3):
            t0 = time.time()
            n = QUERIES[name](spark, sf_dir).count()
            runs.append(round(time.time() - t0, 3))
            assert n >= 0
            # queries may persist shared subplans (e.g. the dedup shingle
            # frame); drain the deferred-unpersist registry (also frees the
            # Python-side references) and drop any stragglers so per-query
            # numbers stay independent
            drain_cache()
            spark.catalog.clearCache()
        timings[name] = statistics.median(runs)
        timings_best[name] = min(runs)
    cal_points.append(calibrate(spark, "after_queries"))

    # full KG pipeline at a corpus size proportional to the sf: 2M pages
    # at sf=0.1 — the SAME size as BENCH_SCALING.json, so the headline
    # triples/sec and the scaling evidence are one consistent number.
    # (r01 measured 200k pages, where ~25-30s of fixed costs — the ~40
    # small link/canon/commit jobs — plus up-to-3x JVM stage variance
    # dominated the wall and made per-page throughput look 8x worse than
    # the 2M-page scaling run; measured breakdown in BASELINE.md.)
    n_pages = max(2_000, int(20_000_000 * sf))
    tmp_root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    # warmup at 1/10 size compiles the pipeline's codegen plans so the
    # measured number is steady-state (reference's timing loop does the
    # same, main_qa.py:80-98)
    warm = tempfile.mkdtemp(prefix="bench_warm_", dir=tmp_root)
    try:
        run_pipeline(spark, warm, n_pages=max(200, n_pages // 10),
                     resume=False, evaluate=False,
                     triple_partitions=max(cpus * 2, 32))
    finally:
        shutil.rmtree(warm, ignore_errors=True)
    # three measured runs, SAME steady-state protocol as
    # scripts/scaling_bench.py (warmup first, so JIT has settled).
    # Hypervisor noise on this VM arrives in minutes-long windows
    # (measured swings: the same 2M-page run 56s vs 102s an hour apart);
    # the MEDIAN wall is the headline, the min is "best observed", and
    # every raw wall is reported.
    walls = []
    summary = None
    for i in range(3):
        workdir = tempfile.mkdtemp(prefix="bench_pipeline_", dir=tmp_root)
        try:
            t0 = time.time()
            summary = run_pipeline(
                spark, workdir, n_pages=n_pages, resume=False, evaluate=False,
                triple_partitions=max(cpus * 2, 32),
            )
            walls.append(round(time.time() - t0, 3))
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
        cal_points.append(calibrate(spark, f"after_pipeline_{i}"))
    timings["kg_pipeline"] = statistics.median(walls)
    timings_best["kg_pipeline"] = min(walls)
    cal_baseline = annotate_noise(cal_points, load_cal_ref(cpus))
    update_cal_ref(
        cpus, {k: min(p[k] for p in cal_points) for k in _CAL_COMPONENTS}
    )
    # a pipeline wall is flagged noisy when either bracketing probe saw a
    # degraded machine (>1.3x the session-best probe wall)
    probe_by_label = {p["at"]: p["factor"] for p in cal_points}
    wall_flags = [
        max(
            probe_by_label["after_queries" if i == 0 else f"after_pipeline_{i - 1}"],
            probe_by_label[f"after_pipeline_{i}"],
        )
        > 1.3
        for i in range(3)
    ]

    total = round(time.time() - t_all, 3)
    out = {
        "metric": "headline_suite_wall",
        "value": total,
        "unit": "sec",
        "protocol": "headline = median of 3 measured runs (post-warmup); "
                    "queries_best_observed / *_best_observed = min of the "
                    "same runs; all pipeline walls in pipeline_walls",
        "queries": timings,
        "queries_best_observed": timings_best,
        "sf": sf,
        "cpus": cpus,
        "pipeline_pages": n_pages,
        "pipeline_triples": summary["triples"],
        "pipeline_walls": walls,
        "pipeline_walls_noisy": wall_flags,
        "calibration": {
            "probe": "fixed-work: 8M-row JVM shuffle (16 parts) + "
                     "single-threaded 8M-float numpy sort (min-of-3) + "
                     "mapInPandas python-worker spin, one discarded "
                     "JIT-warmup probe first; factor = max over components "
                     "of probe wall / baseline, where "
                     "baseline = min(session best, cross-session min for "
                     "this cpu count, BENCH_CALIBRATION_REF.json); a "
                     "measured wall bracketed by a probe with factor > 1.3 "
                     "is hypervisor-noise suspect",
            "baseline": cal_baseline,
            "points": cal_points,
        },
        "triples_per_sec": round(summary["triples"] / timings["kg_pipeline"], 2),
        "pages_per_sec": round(n_pages / timings["kg_pipeline"], 2),
        "triples_per_sec_best_observed": round(summary["triples"] / min(walls), 2),
        "pages_per_sec_best_observed": round(n_pages / min(walls), 2),
    }
    # attach the latest two-cluster-size evidence (scripts/scaling_bench.py)
    scaling_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "BENCH_SCALING.json")
    if os.path.exists(scaling_path):
        with open(scaling_path) as fh:
            s = json.load(fh)
        out["scaling"] = {
            "protocol": s.get("protocol"),
            "n_pages": s.get("n_pages"),
            "job_efficiency_N_to_4N": s.get("job_scaling_efficiency"),
            "udf_stage_efficiency_N_to_4N": s.get("udf_stage_scaling_efficiency"),
            "hardware_ceiling_efficiency": s.get("hardware_ceiling", {}).get(
                "ceiling_efficiency"
            ),
            "triples_per_sec_N": s.get("runs", {}).get("4", {}).get("triples_per_sec"),
            "triples_per_sec_4N": s.get("runs", {}).get("16", {}).get("triples_per_sec"),
        }
    # amortization evidence: the same protocol at 4x the input
    # (scripts/scaling_bench.py 8000000 --out BENCH_SCALING_8M.json)
    big_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "BENCH_SCALING_8M.json")
    if os.path.exists(big_path):
        with open(big_path) as fh:
            s = json.load(fh)
        out["scaling_8m"] = {
            "n_pages": s.get("n_pages"),
            "job_efficiency_N_to_4N": s.get("job_scaling_efficiency"),
            "job_efficiency_median": s.get("job_scaling_efficiency_median"),
            "triples_per_sec_4N": s.get("runs", {}).get("16", {}).get("triples_per_sec"),
        }
    spark.stop()
    line = json.dumps(out)
    # ALSO write the summary to a file: the round-3 driver's stdout tail
    # capture truncated the final JSON line mid-stream (BENCH_r03.json
    # `parsed: null`), so the artifact must never depend on stdout alone.
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_SUMMARY.json"), "w"
    ) as fh:
        fh.write(line + "\n")
    print(line)


if __name__ == "__main__":
    main()
