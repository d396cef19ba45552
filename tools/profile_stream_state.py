"""Profile stream_stateful_custom's micro-batch cost structure.

VERDICT r14 item 6: the streaming family's "state-store commit floor"
claim has been adjudicated from r11 wall-clock only — this tool records
WHERE the time actually goes, from Structured Streaming's own progress
telemetry (durationMs buckets + stateOperators commit/update times),
and sweeps the two cheap knobs inside the op's own session scope:

- state partition count (``spark.sql.shuffle.partitions`` at stream
  start fixes the state-store shard count for the checkpoint's life);
- state-store provider (HDFS-backed default vs RocksDB).

Prints one JSON line per configuration:
  {"conf": ..., "wall_sec": ..., "batches": [{"batchId", "numInputRows",
   "durationMs", "stateOperators": [...]}, ...]}

Usage: python tools/profile_stream_state.py [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_suite_spark.core import scratch  # noqa: E402
from etl_suite_spark.io import load_table  # noqa: E402
from etl_suite_spark.session import get_spark  # noqa: E402
from etl_suite_spark.streaming.ops import (  # noqa: E402
    _land,
    _read_stream,
    _run,
    _running_counters_stream,
    _slices,
)
from pyspark.sql import functions as F  # noqa: E402


def run_once(spark, sf_dir: str, partitions: int, provider: str | None) -> dict:
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    old_prov = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
        if provider:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", provider
            )
        ev = load_table(spark, sf_dir, "events")
        name = "p" + uuid.uuid4().hex[:12]
        # stream_stateful_custom's run, spelled out to keep the query's
        # progress records (the op itself returns only the sink's rows)
        with scratch("etl_profile_") as root:
            drop = os.path.join(root, "drop")
            _land(drop, _slices(ev))
            sdf = _running_counters_stream(lambda: _read_stream(spark, drop, ev.schema))
            t0 = time.perf_counter()
            writer = sdf.writeStream.format("memory").queryName(name).outputMode("update")
            q = _run(writer, os.path.join(root, "ckpt"))
            # drive the same downstream agg the registered query runs
            spark.table(name).groupBy("user_id").agg(
                F.max("n_events").alias("n_events"),
                F.max_by("sum_value", "n_events").alias("sum_value"),
            ).orderBy("user_id").collect()
            wall = round(time.perf_counter() - t0, 3)
        spark.catalog.dropTempView(name)
        batches = []
        for p in q.recentProgress:
            batches.append(
                {
                    "batchId": p.get("batchId"),
                    "numInputRows": p.get("numInputRows"),
                    "durationMs": p.get("durationMs"),
                    "stateOperators": [
                        {
                            k: so.get(k)
                            for k in (
                                "numRowsTotal",
                                "numRowsUpdated",
                                "allUpdatesTimeMs",
                                "commitTimeMs",
                                "numShufflePartitions",
                                "numStateStoreInstances",
                            )
                        }
                        for so in (p.get("stateOperators") or [])
                    ],
                }
            )
        return {
            "conf": {"partitions": partitions, "provider": provider or "hdfs-default"},
            "wall_sec": wall,
            "batches": batches,
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        if provider:
            if old_prov:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", old_prov
                )
            else:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--repeats", type=int, default=2)
    args = ap.parse_args()

    spark = get_spark("profile-stream-state")
    spark.sparkContext.setLogLevel("ERROR")

    rocksdb = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    configs = [
        (int(spark.conf.get("spark.sql.shuffle.partitions")), None),
        (8, None),
        (4, None),
        (int(spark.conf.get("spark.sql.shuffle.partitions")), rocksdb),
    ]
    for _ in range(args.repeats):
        for parts, prov in configs:
            rec = run_once(spark, args.sf, parts, prov)
            print(json.dumps(rec))
            sys.stdout.flush()


if __name__ == "__main__":
    main()
