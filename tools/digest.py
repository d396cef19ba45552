"""Print each query's row count and order-insensitive checksum as one JSON
object, ``{query: {"rows": n, "checksum": c}}``.

The checksum is the benchmark's own action (``perfbench/workloads.py``'s
``checksum_frame``: xxhash64 over every output column, summed), so two
commits give the same output for a query exactly when their JSON lines
agree. Run it from each checkout and diff:

    python tools/digest.py --sf DIR --only q1,q2
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import etl_suite_spark  # noqa: E402,F401
from etl_suite_spark.registry import QUERIES  # noqa: E402
from etl_suite_spark.session import get_spark  # noqa: E402
from workloads import checksum_frame  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", required=True, help="fixture directory")
    ap.add_argument("--only", required=True, help="comma-separated query ids")
    args = ap.parse_args()

    spark = get_spark("digest")
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for name in (n.strip() for n in args.only.split(",")):
        r = checksum_frame(QUERIES[name](spark, args.sf)).collect()[0]
        out[name] = {"rows": r["rows"], "checksum": r["checksum"]}
    print(json.dumps(out, sort_keys=True))


if __name__ == "__main__":
    main()
