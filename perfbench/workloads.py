"""The workloads: the query mix, ETL ticks, schedules and per-operation checks.

Every workload is a single client in a closed loop on ``local[nproc]``: the
next operation starts when the previous one has returned and been checked.
A run does a fixed amount of work, set by the workload and ``--seconds``
through nominal per-operation costs, never by the clock.  The run seed only
orders the operations (and, for ``etl_ticks``, makes the landed batches);
the set of operations is the same for every seed.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import os
import random

import duckdb
import numpy as np

import gen

SF = 0.01

# Short queries in which reads, construction and planning are a large share.
# Each one needs several calls before its CPU cost settles (JIT tiers,
# codegen caches), so the mix is kept small enough to warm every query up.
QUERY_MIX = [
    "agg_group_basic",
    "join_multiway",
    "tpch_q6",
    "win_topk_per_group",
    "llm_decontaminate",
    "inc_cdc_apply",
]
WARM_PASSES = 4
# Nominal seconds one pass over the mix (or one tick) costs on a 4-core
# host; they turn --seconds into a fixed number of operations.
PASS_S = {"queries": 5.0, "etl_ticks": 1.1}
WORKLOADS = ("queries", "etl_ticks")

TICK_ROWS = 5_000
WARM_TICKS = 12
REDELIVERED = 0.05
TICK_SPAN_S = 3 * 3600
TICK_GAP_S = 120  # > the largest re-delivery delay, so no row lands behind the watermark
TICKS_START = dt.datetime(2024, 2, 1)


def n_units(workload: str, seconds: float, trace: bool) -> int:
    """Passes (or ticks) a run makes; a traced run needs two at least, one
    untraced and one traced."""
    n = max(1, round(seconds / PASS_S[workload]))
    return max(2, n) if trace else n


def schedule(seed: int, passes: int) -> list[list[str]]:
    """One seeded shuffle of the query mix per pass."""
    rng = random.Random(f"queries:{seed}")
    out = []
    for _ in range(passes):
        p = list(QUERY_MIX)
        rng.shuffle(p)
        out.append(p)
    return out


def checksum_frame(df):
    """The bench action — xxhash64 over every output column, summed — plus
    the row count, in one aggregate.  Map columns are decomposed first."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    cols = [
        F.map_entries(f.name) if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in df.schema.fields
    ]
    return df.select(F.xxhash64(*cols).alias("h")).agg(
        F.count(F.lit(1)).alias("rows"), F.sum("h").alias("checksum")
    )


def load_pins() -> dict:
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")) as f:
        pins = json.load(f)
    if pins["sf"] != SF:
        raise ValueError(f"pins.json is for sf {pins['sf']}, the benchmark runs sf {SF}")
    return pins["ops"]


# ---------------------------------------------------------------- etl_ticks

TICK_SPEC_TRANSFORMS = [
    {"op": "dedup_latest", "key": ["event_id"], "order_by": "ts"},
    {"op": "derive", "cols": {"day": "to_date(ts)"}},
    {
        "op": "groupby",
        "keys": ["day", "event_type"],
        "aggs": {
            "n": "count(*)",
            "value_sum": "cast(sum(cast(value as decimal(18,2))) as double)",
        },
    },
]


def tick_spec(sink_dir: str, state_path: str) -> dict:
    return {
        "source": {"table": "events"},
        "incremental": {"watermark_col": "ts", "state_path": state_path},
        "transforms": TICK_SPEC_TRANSFORMS,
        "sink": {"format": "parquet", "path": sink_dir, "partition_by": ["day"],
                 "mode": "append"},
    }


def batch(seed: int, tick: int, first_id: int, n_users: int):
    """The events landed before tick ``tick``: ``TICK_ROWS`` new events in
    the tick's time slice, plus ~5% re-deliveries of ids in the same batch
    that arrive up to a minute later."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, tick])
    start = TICKS_START + dt.timedelta(seconds=tick * TICK_SPAN_S)
    t = gen.events_table(rng, first_id, TICK_ROWS, start, TICK_SPAN_S - TICK_GAP_S, n_users)
    again = np.sort(rng.choice(TICK_ROWS, int(TICK_ROWS * REDELIVERED), replace=False))
    dup = t.take(pa.array(again))
    delay = rng.integers(1_000_000, 60_000_000, len(again)).astype("timedelta64[us]")
    ts = dup.column("ts").to_numpy() + delay
    dup = dup.set_column(dup.schema.get_field_index("ts"), "ts", pa.array(ts))
    return pa.concat_tables([t, dup])


class TickOracle:
    """Independent DuckDB computation of what the tick sink must hold: per
    (day, event_type) counts and value sums over the landed batches, each
    de-duplicated on event_id (latest ts wins), and the final watermark."""

    def __init__(self, sink_dir: str, state_path: str) -> None:
        self.sink_dir, self.state_path = sink_dir, state_path
        self.expected: dict[tuple[str, str], list] = {}
        self.watermark: str | None = None
        self.con = duckdb.connect()

    def land(self, path: str) -> None:
        rows = self.con.execute(f"""
            SELECT CAST(CAST(ts AS DATE) AS VARCHAR), event_type, COUNT(*),
                   SUM(CAST(value AS DECIMAL(18,2)))
            FROM (SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY ts DESC) AS rn
                  FROM read_parquet('{path}'))
            WHERE rn = 1 GROUP BY 1, 2""").fetchall()
        for day, et, n, v in rows:
            e = self.expected.setdefault((day, et), [0, decimal.Decimal(0)])
            e[0] += n
            e[1] += v
        hi = self.con.execute(f"SELECT max(ts) FROM read_parquet('{path}')").fetchone()[0]
        self.watermark = hi.strftime("%Y-%m-%d %H:%M:%S.%f")

    def check(self) -> str | None:
        """None when the sink and watermark match, else what differs."""
        got = {
            (day, et): [n, v]
            for day, et, n, v in self.con.execute(f"""
                SELECT CAST(day AS VARCHAR), event_type, SUM(n),
                       SUM(CAST(value_sum AS DECIMAL(18,2)))
                FROM read_parquet('{self.sink_dir}/**/*.parquet', hive_partitioning = true)
                GROUP BY 1, 2""").fetchall()
        }
        if got != self.expected:
            bad = sorted(k for k in set(got) | set(self.expected) if got.get(k) != self.expected.get(k))
            return f"sink differs on {len(bad)} (day, event_type) groups, e.g. {bad[:2]}"
        with open(self.state_path) as f:
            wm = json.load(f)["watermark"]
        if wm != self.watermark:
            return f"watermark {wm} != expected {self.watermark}"
        return None


def files_and_bytes(root: str) -> tuple[int, int]:
    n = size = 0
    for d, _, names in os.walk(root):
        for name in names:
            if name.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, name))
    return n, size


def host_probe() -> float:
    """A fixed single-thread CPU calibration (diagnostic only)."""
    import time

    t0 = time.perf_counter()
    h = b"perfbench"
    for _ in range(20_000):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t0
