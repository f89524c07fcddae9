"""spark-submit entry point for the KG-construction pipeline.

Launch (BASELINE.json requirement — ``spark-submit --py-files``):

    cd <repo root>
    python scripts/make_pyfiles.py                      # builds dist/split_ner_spark.zip
    spark-submit --master 'local[32]' \\
        --py-files dist/split_ner_spark.zip \\
        scripts/run_pipeline.py \\
        --workdir /tmp/kg_run --pages 20000 [--no-resume] [--evaluate]

On a real cluster only ``--master`` (and executor memory/instances conf)
changes; the script body is identical. The job is resumable BY DEFAULT:
re-running with the same --workdir skips committed stages (pass
--no-resume/--force to rebuild everything from scratch).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--pages", type=int, default=20000)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--no-resume", "--force", dest="resume",
                    action="store_false", default=True,
                    help="rebuild every stage even if committed in --workdir "
                         "(default: resume from the last committed stage)")
    ap.add_argument("--evaluate", action="store_true",
                    help="compute triple P/R vs the analytic goldens")
    ap.add_argument("--triple-partitions", type=int, default=64)
    args = ap.parse_args()

    # import AFTER spark-submit has set up sys.path from --py-files
    from pyspark.sql import SparkSession

    from split_ner_spark.pipeline import run_pipeline

    spark = SparkSession.builder.appName("split-ner-spark-pipeline").getOrCreate()
    summary = run_pipeline(
        spark,
        args.workdir,
        n_pages=args.pages,
        seed=args.seed,
        resume=args.resume,
        evaluate=args.evaluate,
        triple_partitions=args.triple_partitions,
    )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
