"""Regenerate perfbench/fingerprints.json from the DuckDB twins (ORACLES).

For every query of the query_suite pass this runs the query's DuckDB
twin over perfbench/data/sf0.01 and stores its row count, sorted column
names and order-insensitive fingerprint (the scheme of
scripts/oracle_check.py). The benchmark compares each Spark result with
these, so a run needs no DuckDB pass of its own.

    python3 perfbench/fingerprints.py
"""

from __future__ import annotations

import json
import os
import sys

from run import DATA_DIR, FINGERPRINTS, ROOT, suite


def main() -> int:
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]
    import duckdb
    from oracle_check import frame_fingerprint

    from split_ner_spark.queries import ORACLES, TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA_DIR}/{t}.parquet'")
    out = {}
    for name in suite():
        res = con.execute(ORACLES[name])
        cols = [d[0] for d in res.description]
        rows, sha = frame_fingerprint(cols, res.fetchall())
        out[name] = {"rows": rows, "sha": sha, "cols": sorted(cols)}
        print(f"{name}: {rows} rows [{sha}]")
    with open(FINGERPRINTS, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
