"""Dev harness mimicking the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB over
the same sf dir, compare row count, column names, and an order-insensitive
value hash. Usage: python scripts/oracle_check.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from split_ner_spark.queries import ORACLES, QUERIES, TABLES  # noqa: E402


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # repr of the double — bitwise-equal doubles stringify identically
        return repr(v)
    return str(v)


def frame_fingerprint(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(lines), h


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:] or list(ORACLES)
    if not sys.argv[2:]:
        # Coverage gate (VERDICT r4 #1): every registered query MUST have
        # an oracle twin and be swept — a silent drop (round 4 lost
        # multimodal_features when the registry hit 51 entries) fails
        # loudly here instead of surfacing as a missing CORRECTNESS row.
        # raise, not assert: the gate must survive `python -O` (ADVICE r5)
        if set(ORACLES) != set(QUERIES):
            raise SystemExit(
                f"registry/oracle mismatch: only-in-QUERIES="
                f"{sorted(set(QUERIES) - set(ORACLES))} only-in-ORACLES="
                f"{sorted(set(ORACLES) - set(QUERIES))}"
            )
        if len(names) != len(QUERIES):
            raise SystemExit(
                f"sweep covers {len(names)} of {len(QUERIES)} registered queries"
            )
        print(f"sweeping ALL {len(names)} registered queries")

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .appName("oracle-check")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    n_fail = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = QUERIES[name](spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        try:
            res = con.execute(ORACLES[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        sn, sh = frame_fingerprint(scols, srows)
        on, oh = frame_fingerprint(ocols, orows)
        ok = (sorted(scols) == sorted(ocols)) and sn == on and sh == oh
        status = "ok  " if ok else "FAIL"
        if not ok:
            n_fail += 1
        print(
            f"{status} {name}: spark {sn} rows [{sh}] vs duckdb {on} rows [{oh}]"
            f" cols={'=' if sorted(scols) == sorted(ocols) else (scols, ocols)}"
            f" ({time.time() - t0:.1f}s)"
        )
        if not ok and sn and on:
            sset = set(
                "\x01".join(
                    norm_cell(r[i])
                    for i in sorted(range(len(scols)), key=lambda i: scols[i])
                )
                for r in srows
            )
            oset = set(
                "\x01".join(
                    norm_cell(r[i])
                    for i in sorted(range(len(ocols)), key=lambda i: ocols[i])
                )
                for r in orows
            )
            for x in list(sset - oset)[:3]:
                print(f"    spark-only: {x[:200]}")
            for x in list(oset - sset)[:3]:
                print(f"    duckdb-only: {x[:200]}")
    spark.stop()
    print(f"{'ALL OK' if n_fail == 0 else f'{n_fail} FAILURES'}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
