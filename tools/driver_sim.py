"""Replay the driver's correctness gate locally.

The driver imports ``__spark_entry__`` into its OWN plain SparkSession
(Spark 4 defaults, so ANSI mode is on), runs ``entry(spark)`` as a smoke
check, then runs each ``queries()[name]`` at sf=0.01 and compares
row-count + schema + order-insensitive values against
``oracle_sql()[name]`` via DuckDB. This tool does exactly that, with the
comparison of ``tests/parity.compare`` (stricter than the driver: values
must match bit-for-bit after canonicalization). Queries without an
oracle get the driver's rows-only check. Local tests run the same
comparison at sf0.001 on a tuned session (tests/test_oracle_parity.py);
this run surfaces sf-dependent and session-default divergence
(empty-at-small-sf results, overflow, ANSI errors) before the driver
does.

Usage:
    python tools/driver_sim.py [--sf-dir /root/testdata/sf0.01] [--window 50]
    python tools/driver_sim.py --names r5_gapfill_locf,r7_asof_against_scd2
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from tests.parity import compare  # noqa: E402

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--window", type=int, default=50,
                    help="check the first N registry entries (driver window)")
    ap.add_argument("--names", default=None,
                    help="comma-separated subset instead of the window")
    args = ap.parse_args()

    qs, osql = E.queries(), E.oracle_sql()
    if args.names:
        names = [n.strip() for n in args.names.split(",") if n.strip()]
    else:
        names = list(qs)[: args.window]

    con = duckdb.connect()
    for t in TABLES:
        path = f"{args.sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    spark = SparkSession.builder.master(f"local[{os.cpu_count()}]").getOrCreate()
    print("entry rows:", len(E.entry(spark).collect()), flush=True)
    n_fail = 0
    for name in names:
        t0 = time.time()
        try:
            # inside the try: a typo'd --names entry records an ERROR
            # row and the run continues — mirrors the driver
            df = qs[name](spark, args.sf_dir)
            if name in osql:
                compare(df, con, osql[name], name)
                status = "ok"
            else:
                status = "rows_only"
                assert df.count() >= 0
            detail = ""
        except Exception as exc:  # record, keep going — mirrors the driver
            status = "FAIL"
            detail = f"  {type(exc).__name__}: {exc}"[:300]
            n_fail += 1
        print(f"{status:>9}  {name}  ({time.time() - t0:.2f}s){detail}",
              flush=True)

    spark.stop()
    con.close()
    print(json.dumps({"checked": len(names), "failed": n_fail}))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
