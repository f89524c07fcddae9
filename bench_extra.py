"""Round-6 optimization measurement harness (bench.py stays FROZEN).

Per-query isolation with the noop sink (guide §1.4): times the
computation of every headline query, not the count() short-circuit or the
sink, labels jobs (§1.5), and dumps `.explain("formatted")` per query so
plan claims in OPTIMIZATION_r06.md are checkable.

Usage:
  python bench_extra.py [--sf-dir DIR] [--reps N] [--plans-dir DIR]
                        [--plans-suffix S] [--queries a,b,c|docemb]

Prints one JSON line with per-query noop walls (min and median of reps).
Whole-pipeline walls come from bench.py, per-phase pipeline numbers from
``perfbench/run.py --trace 1``.
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE  # noqa: E402
from split_ner_spark.queries import QUERIES, drain_cache  # noqa: E402
from split_ner_spark.session import get_spark  # noqa: E402

# queries that only need documents/embeddings (runnable on the big replica)
DOC_EMB_QUERIES = [
    "kg_span_assembly",
    "kg_cooccurrence",
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


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--plans-suffix", default="before")
    ap.add_argument("--queries", default=None,
                    help="comma list; 'docemb' = doc/emb-only set")
    args = ap.parse_args()

    if args.queries == "docemb":
        names = DOC_EMB_QUERIES
    elif args.queries:
        names = args.queries.split(",")
    else:
        names = HEADLINE

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="bench-extra-r06", cpus=cpus,
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    # warmup
    spark.range(1000).selectExpr("sum(id)").collect()

    out: dict = {"sf_dir": args.sf_dir, "cpus": cpus, "queries": {},
                 "queries_min": {}}
    for name in names:
        df = QUERIES[name](spark, args.sf_dir)
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(
                    args.plans_dir, f"{name}_{args.plans_suffix}.txt"), "w") as fh:
                fh.write(plan)
        drain_cache()
        spark.catalog.clearCache()
        runs = []
        for i in range(args.reps):
            df = QUERIES[name](spark, args.sf_dir)
            spark.sparkContext.setJobDescription(f"{name} noop rep{i}")
            t0 = time.time()
            noop(df)
            runs.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            drain_cache()
            spark.catalog.clearCache()
        out["queries"][name] = round(statistics.median(runs), 3)
        out["queries_min"][name] = min(runs)
        print(f"# {name}: median={out['queries'][name]} runs={runs}",
              file=sys.stderr)

    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
