"""Interleaved A/B harness for the fast-mode pipeline (round 6 evidence).

This VM's hypervisor noise arrives in minutes-long windows that swing
identical runs 2-3x (BASELINE.md), so single-arm before/after walls are
not trustworthy. This harness alternates FULL pipeline runs between two
checkouts of the repo — each run in a FRESH JVM (subprocess) so no
session state leaks across arms — and prints one line per run. Pair the
arms per cycle when reading (the arm that runs first alternates from
pair to pair): noise windows then hit both arms roughly equally, and the
triple count printed per run doubles as an end-to-end
output-identity check between the two code versions.

Each arm's checkout root goes first on its subprocess ``PYTHONPATH``, so
the Python workers import that arm's package (UDF-side changes are A/B'd
too, and the script runs from any directory). Each run uses every core
the process may run on. A run that exits non-zero prints a ``FAILED``
line with the tail of its stderr.

Usage:
  git archive <baseline-commit> | tar -x -C /tmp/baseline
  python scripts/ab_pipeline.py /tmp/baseline /path/to/repo [n_pairs] [n_pages]

Both arms call ``run_pipeline`` with its defaults: a baseline from before
the per-stage commit graph was deleted runs that six-commit graph, not
the fused two-commit one. ``mentions=`` is the wall the ``mentions``
commit marker records: the fused Python stage and its parquet write.

Round-6 second-session result (baseline b0fe45d vs final, 6 pairs, 2M
pages): old best 34.0 / median 44.0 -> new best 21.0 / median 35.0,
triples == 7,472,901 in all 12 runs.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import textwrap

RUN_ONE = textwrap.dedent(
    """
    import json, os, shutil, sys, tempfile, time
    root = sys.argv[1]
    sys.path.insert(0, root)
    from split_ner_spark.session import get_spark
    from split_ner_spark.pipeline import run_pipeline
    spark = get_spark(cpus=len(os.sched_getaffinity(0)))
    warm = tempfile.mkdtemp(prefix="ab_warm_")
    run_pipeline(spark, warm, n_pages=max(200, int(sys.argv[2]) // 10),
                 resume=False, evaluate=False, triple_partitions=64)
    shutil.rmtree(warm)
    wd = tempfile.mkdtemp(prefix="ab_run_")
    t0 = time.time()
    s = run_pipeline(spark, wd, n_pages=int(sys.argv[2]), resume=False,
                     evaluate=False, triple_partitions=64)
    wall = time.time() - t0
    with open(os.path.join(wd, "_COMMIT.mentions.json")) as fh:
        mentions_s = json.load(fh)["wall_ms"] / 1000
    print(f"RESULT {root} wall={wall:.2f} mentions={mentions_s:.2f} "
          f"triples={s['triples']}", flush=True)
    shutil.rmtree(wd)
    spark.stop()
    """
)


def run_arm(script: str, root: str, n_pages: int) -> None:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (os.path.abspath(root), env.get("PYTHONPATH")) if p
    )
    out = subprocess.run(
        [sys.executable, script, root, str(n_pages)],
        capture_output=True, text=True, env=env,
    )
    results = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT")]
    for line in results:
        print(line, flush=True)
    if out.returncode != 0 or not results:
        tail = "\n    ".join(out.stderr.strip().splitlines()[-15:])
        print(f"FAILED {root} returncode={out.returncode}\n    {tail}", flush=True)


def main() -> None:
    a, b = sys.argv[1], sys.argv[2]
    n_pairs = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    n_pages = int(sys.argv[4]) if len(sys.argv) > 4 else 2_000_000
    with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as fh:
        fh.write(RUN_ONE)
        script = fh.name
    try:
        for i in range(n_pairs):
            for root in ((a, b) if i % 2 == 0 else (b, a)):
                run_arm(script, root, n_pages)
    finally:
        os.unlink(script)


if __name__ == "__main__":
    main()
