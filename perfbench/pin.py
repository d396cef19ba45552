"""Pin each operation's result on the generated inputs.

    python3 perfbench/pin.py [--out perfbench/pins.json]

Builds the base tables (gen.py), runs every operation of the ``queries`` mix
once, and records its row count and checksum (the benchmark's checksum
action).  Each result is first compared, row by row after canonicalization,
with the operation's DuckDB oracle SQL over the same inputs; a mismatch
aborts without writing.
Run it at two core counts (``SPARK_GRAFT_CPUS``) and compare the outputs to
show the pins do not depend on parallelism.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", default=os.path.join(HERE, "pins.json"))
    args = ap.parse_args()
    sys.path[:0] = [HERE, ROOT]
    # pandas-UDF workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    import duckdb

    import gen
    import workloads
    from etl_suite_spark.io import TABLES
    from etl_suite_spark.registry import ORACLES, QUERIES
    from etl_suite_spark.session import get_spark
    from tools.verify_local import canon_duck, canon_spark

    sf_dir = tempfile.mkdtemp(prefix="perfbench_pin_")
    gen.write_base(sf_dir, workloads.SF)
    spark = get_spark("perfbench-pin")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    pins, bad = {}, []
    for name in workloads.QUERY_MIX:
        df = QUERIES[name](spark, sf_dir)
        row = workloads.checksum_frame(df).collect()[0]
        pins[name] = {"rows": row["rows"], "checksum": row["checksum"]}
        if name not in ORACLES:
            verdict = "pinned (rows-only, no oracle)"
        elif canon_spark(df) != canon_duck(con, ORACLES[name]):
            verdict = "ORACLE MISMATCH"
            bad.append(name)
        else:
            verdict = "pinned, oracle match"
        print(f"{name}: {pins[name]} {verdict}", flush=True)
    spark.stop()
    shutil.rmtree(sf_dir)
    if bad:
        print(f"not written: oracle mismatch on {bad}", file=sys.stderr)
        return 1
    with open(args.out, "w") as f:
        json.dump({"sf": workloads.SF, "ops": pins}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
