"""Recompute ``expected.json``: the digest of each query whose DuckDB oracle
is too slow to run on every benchmark run, computed once from that oracle.

    python3 perfbench/make_expected.py

Run from the repository root after changing the files in ``data/``.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.getcwd()]

import checks  # noqa: E402
from etl_power_bi_dashboard_spark.plans import REGISTRY  # noqa: E402

DIGEST_QUERIES = ["d6_dup_clusters"]


def main() -> int:
    con = checks.oracle_connection(os.path.join(HERE, "data"))
    expected = {}
    for q in DIGEST_QUERIES:
        rows, sha = checks.digest(con.execute(REGISTRY[q].oracle).fetchdf())
        expected[q] = {"rows": rows, "sha256": sha}
        print(q, rows, sha)
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=2)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
