"""Same-session interleaved A/B of one registered query against a keyword
variant of itself.

Protocol (the r14/r15 discipline): ONE Spark session; both sides are
warmed once (codegen and persisted-artifact builds land there, shared by
both sides, not counted); then k passes, each re-measuring the scheduler
calibration (``bench.measure_sched``) and running the old side, then the
new side, timed over bench.py's column-consuming checksum action
(``bench._checksum``). A host-noise burst lands on at most one pass of
either side; compare medians.

The OLD side calls the query with the ``--variant`` keyword arguments —
the knob that reproduces the previous plan, e.g.
``closing_shuffle_hash=False`` for graph_triangle_count's sort-merge
closing join — and the NEW side with the query's defaults. Values parse
as Python literals (``False``, ``3``, ``0.5``); anything else is a string.

Usage:
  python tools/ab.py --query graph_triangle_count \\
      --variant closing_shuffle_hash=False [--passes 5] [--sf DIR]

Prints one JSON line: {"query":..., "variant": {...}, "sf":...,
 "passes": k, "sched": [...], "runs": {"old": [...], "new": [...]},
 "median": {"old": s, "new": s}, "speedup_old_over_new": old/new}
"""

from __future__ import annotations

import argparse
import ast
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from etl_suite_spark.registry import QUERIES  # noqa: E402
from etl_suite_spark.session import get_spark  # noqa: E402


def _kwarg(text: str) -> tuple[str, object]:
    key, sep, raw = text.partition("=")
    if not sep or not key:
        raise argparse.ArgumentTypeError(f"expected key=value, got {text!r}")
    try:
        return key, ast.literal_eval(raw)
    except (ValueError, SyntaxError):
        return key, raw


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--query", required=True)
    ap.add_argument("--variant", type=_kwarg, nargs="+", required=True)
    ap.add_argument("--passes", type=int, default=5)
    ap.add_argument(
        "--sf",
        default=os.environ.get("SPARK_GRAFT_SF_DIR"),
        help="scale-factor directory (default: $SPARK_GRAFT_SF_DIR)",
    )
    args = ap.parse_args()
    if args.query not in QUERIES:
        ap.error(f"unknown query {args.query!r}")
    if not args.sf:
        ap.error("give --sf or set SPARK_GRAFT_SF_DIR")
    fn = QUERIES[args.query]
    variant = dict(args.variant)

    spark = get_spark("ab-" + args.query)
    spark.sparkContext.setLogLevel("ERROR")
    sides = {
        "old": lambda: fn(spark, args.sf, **variant),
        "new": lambda: fn(spark, args.sf),
    }
    for build in sides.values():
        bench._checksum(build())

    runs: dict[str, list[float]] = {k: [] for k in sides}
    sched = []
    for _ in range(args.passes):
        s, _ = bench.measure_sched(spark)
        sched.append(s)
        for name, build in sides.items():
            spark.sparkContext.setJobDescription(f"ab:{args.query}:{name}")
            t0 = time.perf_counter()
            bench._checksum(build())
            runs[name].append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    med = {k: round(statistics.median(v), 3) for k, v in runs.items()}
    print(
        json.dumps(
            {
                "query": args.query,
                "variant": variant,
                "sf": args.sf,
                "passes": args.passes,
                "sched": sched,
                "runs": runs,
                "median": med,
                "speedup_old_over_new": (
                    round(med["old"] / med["new"], 3) if med["new"] else None
                ),
            }
        )
    )


if __name__ == "__main__":
    main()
