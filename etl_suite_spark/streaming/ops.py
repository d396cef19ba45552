"""Structured Streaming surface (SURVEY.md §2.9).

Reference analog: the ETL-suite's checkpointed micro-batch scheduler
(SURVEY §0.1 [K]) — here as real Structured Streaming. No Kafka connector
exists in this environment (SURVEY §0 [V]), so sources are file drops
(events-shaped parquet written in controlled time-slices) and sinks are
memory/foreachBatch — the exact plumbing transfers to Kafka/Kinesis
sources on a cluster by swapping ``readStream.format``.

Every operator runs ``Trigger.AvailableNow`` with ``maxFilesPerTrigger=1``
over time-ordered drop files, so the watermark advances batch-by-batch the
way it would on a live stream, and the emitted (finalized) windows are
deterministic. Round 2 insight: for a TERMINATED AvailableNow run the
emitted set IS batch-SQL-expressible — append mode emits exactly the
windows whose end <= final watermark (max observed event time − delay,
computed over the rows the watermark node actually sees — Catalyst
pushes deterministic filters below EventTimeWatermark, so a filtered
stream's watermark derives from the filtered rows). Every operator
below therefore carries a DuckDB oracle that replicates the watermark
contract with a `max(ts) - delay` CTE; pytest goldens additionally pin
the batch-by-batch behavior.

Scale notes: stateful aggregation state lives in the HDFS/RocksDB state
store keyed by group — at 100 TB of events the state is bounded by the
watermark horizon, not the stream length; ``spark.sql.shuffle.partitions``
sizes the state-store shard count.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..core import d2d, dec
from ..io import load_table
from ..registry import query

# Time slices for the drop files: three deterministic cuts of the January
# 2024 events fixture. Files land with ascending mtimes so the file source
# processes them in order and the watermark advances between batches.
_CUTS = ("2024-01-11 00:00:00", "2024-01-21 00:00:00")


def _write_one_file(df: DataFrame, target: str) -> None:
    tmp = target + ".staging"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = next(
        p for p in os.listdir(tmp) if p.startswith("part-") and p.endswith(".parquet")
    )
    shutil.move(os.path.join(tmp, part), target)
    shutil.rmtree(tmp)


def _drop_dir(
    spark: SparkSession, sf_dir: str, extra: DataFrame | None = None
) -> tuple[str, T.StructType]:
    """Write events as three time-ordered drop files; returns (dir, schema).

    ``extra`` rows (duplicates / late arrivals for the dedup and late-data
    operators) are appended to the LAST file, after the watermark has
    already advanced past the earlier slices.
    """
    ev = load_table(spark, sf_dir, "events")
    drop = tempfile.mkdtemp(prefix="etl_stream_drop_")
    slices = [
        ev.filter(F.col("ts") < _CUTS[0]),
        ev.filter((F.col("ts") >= _CUTS[0]) & (F.col("ts") < _CUTS[1])),
        ev.filter(F.col("ts") >= _CUTS[1]),
    ]
    if extra is not None:
        slices[2] = slices[2].unionByName(extra)
    for i, s in enumerate(slices):
        target = os.path.join(drop, f"data-{i:03d}.parquet")
        _write_one_file(s, target)
        os.utime(target, (1700000000 + i * 60, 1700000000 + i * 60))
    return drop, ev.schema


def _read_stream(spark: SparkSession, drop: str, schema: T.StructType) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )


def _run_to_memory(sdf: DataFrame, mode: str) -> DataFrame:
    """Run an AvailableNow pass into a memory sink; return the result table."""
    name = "s" + uuid.uuid4().hex[:12]
    ckpt = tempfile.mkdtemp(prefix="etl_stream_ckpt_")
    spark = sdf.sparkSession
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


@query(
    "stream_tumbling_agg",
    # emitted set = windows whose end <= final watermark (max ts − 10 min)
    oracle="""
    WITH m AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM events)
    SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS win_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(value, 4) AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events, m
    GROUP BY 1, 2, wm
    HAVING win_start + INTERVAL 5 MINUTE <= wm
    ORDER BY 1, 2
    """,
)
def stream_tumbling_agg(spark, sf_dir):
    """Per-5-minute tumbling counts/sums by event_type, 10-minute
    watermark, append mode — only *finalized* windows emit. The decimal
    sum keeps emitted values merge-order-independent."""
    drop, schema = _drop_dir(spark, sf_dir)
    sdf = (
        _read_stream(spark, drop, schema)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), d2d(F.sum(dec("value", 4))).alias("sum_value"))
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return _run_to_memory(sdf, "append").orderBy("win_start", "event_type")


@query(
    "stream_sliding_agg",
    # each event lands in the two 10-min windows whose grids differ by 5
    # minutes; union the two alignments, then apply the watermark gate
    oracle="""
    WITH m AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM events),
    x AS (
      SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS w0,
             time_bucket(INTERVAL 10 MINUTE, ts - INTERVAL 5 MINUTE)
               + INTERVAL 5 MINUTE AS w1,
             event_type FROM events
    ), u AS (
      SELECT w0 AS win_start, event_type FROM x
      UNION ALL SELECT w1, event_type FROM x
    )
    SELECT win_start, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM u, m GROUP BY 1, 2, wm
    HAVING win_start + INTERVAL 10 MINUTE <= wm
    ORDER BY 1, 2
    """,
)
def stream_sliding_agg(spark, sf_dir):
    """10-minute windows sliding every 5 — each event lands in two windows;
    same watermark/append discipline as tumbling."""
    drop, schema = _drop_dir(spark, sf_dir)
    sdf = (
        _read_stream(spark, drop, schema)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n")
    )
    return _run_to_memory(sdf, "append").orderBy("win_start", "event_type")


@query(
    "stream_session_window",
    # classic gaps-and-islands twin: a >= 30-min gap breaks the session
    # (session windows are half-open, so an event exactly at gap-end
    # starts a NEW session); emitted sessions are those whose end
    # (last ts + gap) cleared the final watermark
    oracle="""
    WITH m AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM events),
    o AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
      FROM events
    ), s AS (
      SELECT user_id, ts,
             CASE WHEN pts IS NULL OR ts - pts >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM o
    ), g AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    )
    SELECT user_id, MIN(ts) AS sess_start,
           MAX(ts) + INTERVAL 30 MINUTE AS sess_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM g, m GROUP BY user_id, sid, wm
    HAVING MAX(ts) + INTERVAL 30 MINUTE <= wm
    ORDER BY user_id, sess_start
    """,
)
def stream_session_window(spark, sf_dir):
    """Session windows with a 30-minute gap per user: state merges as
    events extend a session; a session closes (and emits) once the
    watermark passes gap-end."""
    drop, schema = _drop_dir(spark, sf_dir)
    sdf = (
        _read_stream(spark, drop, schema)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("sess"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sess.start").alias("sess_start"),
            F.col("sess.end").alias("sess_end"),
            "n_events",
        )
    )
    return _run_to_memory(sdf, "append").orderBy("user_id", "sess_start")


def _dup_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A deterministic slice of SECOND-batch events re-delivered in the
    FINAL drop file (same event_id, same payload) — genuinely cross-batch
    at-least-once delivery. Their timestamps sit within 1 hour of the
    second slice's end, so when the last batch processes them the 1-hour
    watermark horizon still holds their dedup state (watermark after batch
    2 ≈ _CUTS[1] − 1h), exercising cross-batch state suppression rather
    than same-batch dedup."""
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(
        (F.col("ts") >= F.to_timestamp(F.lit(_CUTS[1])) - F.expr("INTERVAL 1 HOUR"))
        & (F.col("ts") < _CUTS[1])
        & (F.col("event_id") % 10 == 0)
    )


@query(
    "stream_dedup",
    # the re-delivered copies must vanish: deduped per-type counts equal
    # the source's (event_id is unique in the fixture)
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def stream_dedup(spark, sf_dir):
    """dropDuplicatesWithinWatermark on event_id: second-batch events
    re-delivered in the LAST drop file are suppressed because their ids
    were seen within the 1-hour watermark horizon in a PRIOR batch —
    cross-batch dedup state, not same-batch dedup. Output = deduped
    per-type counts."""
    dups = _dup_sample(spark, sf_dir)
    drop, schema = _drop_dir(spark, sf_dir, extra=dups)
    deduped = (
        _read_stream(spark, drop, schema)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    out = _run_to_memory(deduped.select("event_id", "event_type"), "append")
    return out.groupBy("event_type").agg(F.count("*").alias("n")).orderBy("event_type")


_STATE_SCHEMA = "n LONG, sum_value DOUBLE"
_STATEFUL_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)


def _running_counters(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Custom stateful op: per-user running (count, sum) across batches.

    The production shape for sessionization/fraud counters: state is a
    small tuple per key in the state store; each micro-batch folds its
    rows in and emits the updated value. (values are 2-dp fixture
    amounts, so the float sum here is exact — cents-scale integers.)
    """
    (n, sv) = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        sv += float(pdf["value"].sum())
    state.update((n, round(sv, 2)))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "sum_value": [round(sv, 2)]}
    )


@query(
    "stream_stateful_custom",
    # final per-user state = whole-table totals (2-dp cent values sum
    # exactly in both engines)
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           round(CAST(SUM(CAST(round(value, 2) AS DECIMAL(18,2)))
                      AS DOUBLE), 2) AS sum_value
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def stream_stateful_custom(spark, sf_dir):
    """applyInPandasWithState: arbitrary per-key state across micro-batches
    (update mode). The memory sink sees one update per (user, batch); the
    final value per user is the one with the max event count.

    State-shard sizing: PROFILED in r15 (VERDICT r14 item 6 — the first
    profile-backed attempt on this family) and deliberately left at the
    session default. tools/profile_stream_state.py (progress telemetry:
    durationMs buckets + stateOperators commit/update times, sf0.1,
    ~1.5 k state keys / ~33 k rows per batch) refutes the inherited
    "state-store commit floor" story: warm, the wall is the
    applyInPandasWithState KERNEL (~4 ms/group × 1.5 k groups/batch of
    python worker round-trip), which wants parallelism, not fewer
    commits. Cold-session sweeps made over-sharding look expensive
    (32 shards: 26–46 s vs 4: 7–9.5 s; RocksDB@32: 16 s), but with warm
    reused workers — what the bench's median measures — the spread
    collapses (warm A/B medians 32: 8.1 / 16: 7.5 / 8: 6.5 / 3: 10.1),
    and a keys-derived shard count (clamp(keys/200, 1, cores), 8 at
    fixture scale) measured FLAT-to-slightly-worse once its own
    distinct-count job is charged (5-pass interleaved: derived 5.26 vs
    default 4.85 median) — so the derivation was tried and REVERTED.
    RocksDB provider: no win at any tested shard count. Book closed
    with the profile on record."""
    drop, schema = _drop_dir(spark, sf_dir)
    sdf = (
        _read_stream(spark, drop, schema)
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_counters,
            outputStructType=_STATEFUL_OUT,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    updates = _run_to_memory(sdf, "update")
    return (
        updates.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("sum_value", "n_events").alias("sum_value"),
        )
        .orderBy("user_id")
    )


def _upsert_batch(batch_df: DataFrame, batch_id: int, warehouse: str) -> None:
    """Merge one micro-batch into a parquet warehouse by key: newest row
    per event_id wins (ts DESC, event_type ASC tiebreak); the rewrite is
    staged then renamed so a killed merge never leaves a torn warehouse.

    Scale note (measured, addendum 50): this demo sink rewrites the FULL
    cumulative warehouse per batch, so an N-batch drain writes ~N/2
    corpus copies — 177 s for a 33 M-row backlog at the 500× events
    tier, vs 42 s at 100×. That is the price of plain parquet, not of
    the upsert semantics: at 100 TB this callsite is a table-format
    MERGE INTO on a key-bucketed layout (cost O(batch + affected file
    groups)). A hash-bucketed parquet variant was considered and
    rejected here — these workloads' batches are TIME slices with
    uniformly distributed event_ids, so every batch touches every
    bucket and a bucketed rewrite prunes nothing."""
    from pyspark.sql import Window

    sess = batch_df.sparkSession
    if os.path.exists(warehouse):
        existing = sess.read.parquet(warehouse)
        merged = existing.unionByName(batch_df)
    else:
        merged = batch_df
    w = Window.partitionBy("event_id").orderBy(
        F.col("ts").desc(), F.col("event_type").asc()
    )
    final = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    staging = warehouse + f".b{batch_id}"
    final.write.mode("overwrite").parquet(staging)
    if os.path.exists(warehouse):
        shutil.rmtree(warehouse)
    os.rename(staging, warehouse)


@query(
    "stream_foreachbatch_upsert",
    # idempotence: after merging re-delivered duplicates, the warehouse
    # equals the source exactly
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def stream_foreachbatch_upsert(spark, sf_dir):
    """foreachBatch merge-by-key sink: each micro-batch upserts into a
    parquet warehouse via the dedup-latest idiom (newest row per event_id
    wins), so re-delivery and window re-runs are idempotent — the
    reference's delete-then-reload recovery model, Spark-side."""
    dups = _dup_sample(spark, sf_dir)
    drop, schema = _drop_dir(spark, sf_dir, extra=dups)
    warehouse = os.path.join(tempfile.mkdtemp(prefix="etl_wh_"), "events_merged")

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        _upsert_batch(batch_df, batch_id, warehouse)

    ckpt = tempfile.mkdtemp(prefix="etl_stream_ckpt_")
    q = (
        _read_stream(spark, drop, schema)
        .writeStream.foreachBatch(merge)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = spark.read.parquet(warehouse)
    return final.groupBy("event_type").agg(F.count("*").alias("n")).orderBy("event_type")


@query(
    "stream_late_data",
    # the late copies (re-delivered first-day events) must NOT be counted:
    # early windows equal the original data's counts
    oracle="""
    SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS win_start,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
    GROUP BY 1 ORDER BY 1
    """,
)
def stream_late_data(spark, sf_dir):
    """The late-data contract, demonstrated: a crafted copy of the very
    first events (early January) arrives in the LAST drop file, long after
    the watermark passed them. Append-mode tumbling windows must NOT count
    them — compare n with stream_tumbling_agg's first windows to see the
    drop (pinned in pytest)."""
    ev = load_table(spark, sf_dir, "events")
    late = (
        ev.filter(F.col("ts") < "2024-01-02 00:00:00")
        .withColumn("event_id", F.col("event_id") + 10_000_000)
    )
    drop, schema = _drop_dir(spark, sf_dir, extra=late)
    sdf = (
        _read_stream(spark, drop, schema)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("win"))
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("win_start"), "n")
    )
    out = _run_to_memory(sdf, "append")
    return out.filter(F.col("win_start") < "2024-01-02 00:00:00").orderBy("win_start")


@query(
    "stream_static_join",
    # stateless inner join: every event emits enriched, so the streaming
    # result equals the batch join
    oracle="""
    WITH tv AS (
      SELECT user_id,
             CAST(SUM(CAST(round(value, 4) AS DECIMAL(18,4))) AS DOUBLE)
               AS total_value
      FROM events GROUP BY 1
    ), t AS (
      SELECT user_id,
             ntile(3) OVER (ORDER BY total_value DESC, user_id ASC) AS tier
      FROM tv
    )
    SELECT tier, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events e JOIN t USING (user_id) GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def stream_static_join(spark, sf_dir):
    """Stream-static join: each streaming event is enriched with its
    user's value tier, computed once from the batch events table.

    Stream-static joins are STATELESS — no watermark needed on the join
    itself; the static side is re-read per micro-batch and (being a small
    dim) broadcast, so the streaming side never shuffles for the join. At
    100 TB this is the canonical dimension-enrichment topology: fact
    stream + slowly-changing dim snapshot."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    tiers = (
        ev.groupBy("user_id")
        .agg(d2d(F.sum(dec("value", 4))).alias("total_value"))
        .select(
            "user_id",
            F.ntile(3).over(Window.orderBy(F.col("total_value").desc(),
                                           F.col("user_id").asc())).alias("tier"),
        )
    )
    drop, schema = _drop_dir(spark, sf_dir)
    sdf = _read_stream(spark, drop, schema).join(F.broadcast(tiers), "user_id")
    out = _run_to_memory(
        sdf.select("event_id", "event_type", "tier"), "append"
    )
    return (
        out.groupBy("tier", "event_type")
        .agg(F.count("*").alias("n"))
        .orderBy("tier", "event_type")
    )


@query(
    "stream_stream_join",
    # inner stream-stream matches emit on arrival; with in-order drops and
    # a 1-hour horizon no valid pair is ever state-evicted before its
    # partner arrives, so the result equals the batch interval join
    oracle="""
    SELECT c.user_id, CAST(COUNT(*) AS BIGINT) AS n_attributed
    FROM events c JOIN events p ON c.user_id = p.user_id
      AND c.event_type = 'click' AND p.event_type = 'purchase'
      AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    GROUP BY 1 ORDER BY 1
    """,
)
def stream_stream_join(spark, sf_dir):
    """Stream-stream inner join: purchases attributed to a click by the
    same user within the previous 30 minutes.

    Both sides carry a 1-hour watermark and the join predicate bounds
    purchase_ts to [click_ts, click_ts + 30 min] — that range condition
    is what lets Spark EVICT click state once the watermark passes
    click_ts + 30 min, so state is bounded by the horizon, not stream
    length (the classic unbounded-state footgun of unconstrained
    stream-stream joins). Deterministic here: both streams read the same
    time-ordered drop files, so watermarks advance in lockstep."""
    drop, schema = _drop_dir(spark, sf_dir)
    clicks = (
        _read_stream(spark, drop, schema)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        _read_stream(spark, drop, schema)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = user_id AND purchase_ts >= click_ts"
            " AND purchase_ts <= click_ts + interval 30 minutes"
        ),
    )
    out = _run_to_memory(
        joined.select("user_id", "click_id", "purchase_id"), "append"
    )
    return (
        out.groupBy("user_id")
        .agg(F.count("*").alias("n_attributed"))
        .orderBy("user_id")
    )


def stream_stateful_tws(spark, sf_dir):
    """transformWithStateInPandas (Spark 4.x's successor to
    applyInPandasWithState: ValueState/ListState/MapState, timers, TTL per
    key). NOT registered: the API's python worker requires the
    ``protobuf`` package, which this container does not ship
    (ImportError: google.protobuf.descriptor) and installs are disallowed.
    On a normally-provisioned cluster the call shape is:

        from pyspark.sql.streaming.stateful_processor import StatefulProcessor

        class RunningExtremes(StatefulProcessor):
            def init(self, handle):
                self._state = handle.getValueState("extremes", "mx DOUBLE, n BIGINT")
            def handleInputRows(self, key, rows, timerValues):
                ...update state, yield a pandas frame...
            def close(self): ...

        (df.groupBy("user_id")
           .transformWithStateInPandas(RunningExtremes(),
               outputStructType="user_id BIGINT, max_value DOUBLE, n_events BIGINT",
               outputMode="Update", timeMode="None"))

    with ``spark.sql.streaming.stateStore.providerClass`` set to the
    RocksDB provider. stream_stateful_custom covers the same semantics on
    the stable applyInPandasWithState API.
    """
    raise NotImplementedError("protobuf python package not available here")


def stream_kafka_source(spark: SparkSession, bootstrap: str, topic: str):
    """Kafka ingestion. NOT registered: this deployment ships no
    spark-sql-kafka connector jar (verified — SURVEY.md §0 [V]), so
    ``format("kafka")`` raises at lookup. On a cluster with
    ``org.apache.spark:spark-sql-kafka-0-10_2.13`` deployed, the
    engine's call shape is:

        raw = (spark.readStream.format("kafka")
               .option("kafka.bootstrap.servers", bootstrap)
               .option("subscribe", topic)
               .option("startingOffsets", "earliest")
               .load())                       # key/value BINARY + metadata
        ev = raw.select(
            F.from_json(F.col("value").cast("string"), EVENTS_SCHEMA).alias("e")
        ).select("e.*")
        # downstream: identical to the file-source operators above —
        # withWatermark + windowed aggs / dedup / foreachBatch upsert all
        # compose unchanged; checkpointLocation carries the Kafka offsets.

    Every registered streaming operator in this module is source-agnostic
    past the first select, which is the point of documenting the stub.
    """
    raise NotImplementedError("spark-sql-kafka connector not deployed here")


@query(
    "stream_ohlc",
    # emitted set = hourly windows finalized by the watermark (max ts − 10
    # min); open/close keyed by the same HUGEINT (epoch_us, event_id)
    # composite as the batch twin win_ohlc
    oracle="""
    WITH m AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM events)
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS win_start,
           round(arg_min(value, CAST(epoch_us(ts) AS HUGEINT) * 1000000000
                                + event_id), 6) AS open,
           round(MAX(value), 6) AS high,
           round(MIN(value), 6) AS low,
           round(arg_max(value, CAST(epoch_us(ts) AS HUGEINT) * 1000000000
                                + event_id), 6) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events, m
    GROUP BY 1, wm
    HAVING win_start + INTERVAL 1 HOUR <= wm
    ORDER BY 1
    """,
)
def stream_ohlc(spark, sf_dir):
    """Streaming OHLC bars — the batch win_ohlc downsample running as an
    hourly tumbling windowed aggregate with a 10-minute watermark in
    append mode: each bar emits exactly once, when its window finalizes.
    Open/close are min/max over a (ts, event_id, value) struct, which is
    an ASSOCIATIVE aggregate — so it runs as ordinary streaming partial
    aggregation state (one struct per open window per key), not
    arbitrary stateful processing; that is what makes OHLC cheap at
    100 TB/day ingest. Batch/stream parity on the same input is the
    oracle: append-mode emission == watermark-gated batch SQL (same
    contract as every op in this module)."""
    drop, schema = _drop_dir(spark, sf_dir)
    first = F.min(F.struct("ts", "event_id", "value"))["value"]
    last = F.max(F.struct("ts", "event_id", "value"))["value"]
    sdf = (
        _read_stream(spark, drop, schema)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(
            F.round(first, 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(last, 6).alias("close"),
            F.count("*").alias("n_events"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )
    return _run_to_memory(sdf, "append").orderBy("win_start")


@query(
    "stream_topk_per_window",
    oracle="""
    WITH m AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM events),
    g AS (
      SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS win_start,
             event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), gate AS (
      SELECT win_start, event_type, n FROM g, m
      WHERE win_start + INTERVAL 15 MINUTE <= wm
    )
    SELECT win_start, event_type, CAST(n AS BIGINT) AS n,
           CAST(rnk AS BIGINT) AS rank
    FROM (
      SELECT *, row_number() OVER (PARTITION BY win_start
                                   ORDER BY n DESC, event_type) AS rnk
      FROM gate
    ) WHERE rnk <= 3
    ORDER BY win_start, rank
    """,
)
def stream_topk_per_window(spark, sf_dir):
    """Windowed top-k over a stream: per finalized 15-minute tumbling
    window, the 3 busiest event types — the trending-items shape.
    Structured Streaming cannot chain a rank over a streaming aggregate
    (two stateful stages), so the production decomposition is: the
    STREAM maintains the per-(window, type) counts and emits each window
    once, when the 10-minute watermark finalizes it (append mode); the
    RANK is a trivial batch window over the emitted rows — at most
    |event_type| rows per window, downstream of the stream (here over
    the memory sink; in production over the emitted table / in
    foreachBatch). Counts are integers, the tiebreak (n DESC,
    event_type) is total, so emission and ranking are deterministic.

    The oracle is the same watermark-gated batch composition — the
    append-mode == gated-batch equivalence every op in §2.9 is checked
    by."""
    from pyspark.sql import Window

    drop, schema = _drop_dir(spark, sf_dir)
    sdf = (
        _read_stream(spark, drop, schema)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "15 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n")
    )
    emitted = _run_to_memory(sdf, "append")
    w = Window.partitionBy("win_start").orderBy(
        F.col("n").desc(), F.col("event_type")
    )
    return (
        emitted.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("win_start", "event_type", F.col("n").cast("long").alias("n"), "rank")
        .orderBy("win_start", "rank")
    )


@query(
    "stream_anomaly_zscore",
    oracle="""
    WITH m AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM events),
    g AS (
      SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS win_start,
             event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), gate AS (
      SELECT win_start, event_type, n FROM g, m
      WHERE win_start + INTERVAL 15 MINUTE <= wm
    ), st AS (
      SELECT event_type, COUNT(*) AS nw,
             CAST(SUM(n) AS DOUBLE) AS sn,
             CAST(SUM(n * n) AS DOUBLE) AS snn
      FROM gate GROUP BY event_type
    ), z AS (
      SELECT win_start, gate.event_type, n,
             CASE WHEN nw > 1 AND (snn - sn * sn / nw) / (nw - 1) > 0
                  THEN (n - sn / nw)
                       / sqrt((snn - sn * sn / nw) / (nw - 1))
                  ELSE 0.0 END AS zraw
      FROM gate JOIN st USING (event_type)
    )
    SELECT win_start, event_type, n, round(zraw, 6) AS zscore,
           abs(zraw) > 2 AS is_anomaly
    FROM z ORDER BY win_start, event_type
    """,
)
def stream_anomaly_zscore(spark, sf_dir):
    """Streaming volume-anomaly screen: per finalized 15-minute window
    and event type, the window's event count z-scored against that
    type's across-window distribution — the pager-feed version of
    dq_volume_anomaly's daily batch screen. Same two-stage decomposition
    as stream_topk_per_window: the STREAM owns only the associative
    per-(window, type) count (cheap partial-agg state, append-emitted
    exactly once at the 10-minute watermark); the z-scoring is a batch
    pass over the emitted window counts — at most |types| × |windows|
    rows, downstream of the stream (production: foreachBatch or a view
    over the emitted table).

    Determinism: counts are integers, so mean/variance come from exact
    integer power sums rendered to double (< 2^53, conversion exact);
    all z math is scalar IEEE. Zero-variance or single-window types
    score 0 by definition rather than dividing by zero."""
    drop, schema = _drop_dir(spark, sf_dir)
    sdf = (
        _read_stream(spark, drop, schema)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "15 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("win_start"), "event_type", F.col("n").cast("long").alias("n"))
    )
    # the memory-sink view is consumed by two plan branches (stats + join);
    # localCheckpoint gives them independent lineage (a MemoryPlan self-join
    # otherwise trips conflicting-reference resolution)
    emitted = _run_to_memory(sdf, "append").localCheckpoint(eager=True)
    st = emitted.groupBy("event_type").agg(
        F.count("*").alias("nw"),
        F.sum("n").cast("double").alias("sn"),
        F.sum(F.col("n") * F.col("n")).cast("double").alias("snn"),
    )
    nw, sn, snn = F.col("nw"), F.col("sn"), F.col("snn")
    var = (snn - sn * sn / nw) / (nw - 1)
    zraw = F.when((nw > 1) & (var > 0), (F.col("n") - sn / nw) / F.sqrt(var)).otherwise(
        F.lit(0.0)
    )
    return (
        emitted.join(F.broadcast(st), "event_type")
        .select(
            "win_start",
            "event_type",
            "n",
            F.round(zraw, 6).alias("zscore"),
            (F.abs(zraw) > 2).alias("is_anomaly"),
        )
        .orderBy("win_start", "event_type")
    )


@query(
    "stream_content_dedup",
    # the regenerated-id copies must vanish: content-deduped per-type
    # counts equal the source's (content 5-tuples are unique in the
    # fixture — verified, and the test plants the collision case)
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT (user_id, ts, event_type, value, props))
                AS BIGINT) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def stream_content_dedup(spark, sf_dir):
    """Content-keyed streaming dedup — the at-least-once case
    stream_dedup canNOT catch: a producer retry that RE-STAMPS ids
    (regenerated UUIDs, new offsets) re-delivers the same payload under
    a fresh event_id, so id-keyed dedup state never fires. Dedup key =
    the full content tuple (user_id, ts, event_type, value, props);
    second-batch events are re-delivered in the final drop file with
    event_id + 10_000_000 and suppressed because their CONTENT was seen
    within the 1-hour watermark horizon in a prior batch.

    At 100 TB the state-store entry is keyed by the content tuple (in
    production you'd hash it to a fixed-width key with sha2 — kept raw
    here so the state key is visible in the checkpoint for debugging);
    state size is bounded by the watermark horizon exactly like
    stream_dedup, and the same shuffle-partition count shards it."""
    ev_dups = _dup_sample(spark, sf_dir).withColumn(
        "event_id", F.col("event_id") + 10_000_000
    )
    drop, schema = _drop_dir(spark, sf_dir, extra=ev_dups)
    deduped = (
        _read_stream(spark, drop, schema)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(
            ["user_id", "ts", "event_type", "value", "props"]
        )
    )
    out = _run_to_memory(deduped.select("event_id", "event_type"), "append")
    return out.groupBy("event_type").agg(F.count("*").alias("n")).orderBy("event_type")


# Test/observability ledger for stream_checkpoint_resume: one
# (run_idx, batch_id, rows) tuple per micro-batch actually processed.
_RESUME_LEDGER: list[tuple[int, int, int]] = []


@query(
    "stream_checkpoint_resume",
    # After BOTH runs the warehouse holds every event exactly once: run 1
    # processed the first two drop files, the relaunch read the source
    # offsets back from the SAME checkpoint and processed only the third.
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def stream_checkpoint_resume(spark, sf_dir):
    """Kill-and-relaunch recovery from the streaming checkpoint — the
    restart semantics the reference's checkpointed scheduler provides,
    on the Structured Streaming side (the batch-DAG twin is
    pipeline_dag_resume). Run 1 processes the first two drop files
    AvailableNow and terminates; a third file lands; run 2 starts a NEW
    query against the SAME checkpointLocation and warehouse — the file
    source replays its committed offsets from the checkpoint, so run 2
    processes ONLY the new file (pytest pins the per-run batch ledger:
    run 1 = slices 1+2, run 2 = slice 3 alone) and upserts it into the
    same parquet warehouse via the shared staged-rename merge.

    At 100 TB this is the property that makes streaming restart O(new
    data): offsets live in the checkpoint (HDFS-atomic commits per
    micro-batch), the sink is idempotent by merge key, so a crashed or
    redeployed job resumes without reprocessing — and without double
    counting what the dead run already committed."""
    ev = load_table(spark, sf_dir, "events")
    drop = tempfile.mkdtemp(prefix="etl_stream_resume_")
    slices = [
        ev.filter(F.col("ts") < _CUTS[0]),
        ev.filter((F.col("ts") >= _CUTS[0]) & (F.col("ts") < _CUTS[1])),
        ev.filter(F.col("ts") >= _CUTS[1]),
    ]
    for i, s in enumerate(slices[:2]):
        target = os.path.join(drop, f"data-{i:03d}.parquet")
        _write_one_file(s, target)
        os.utime(target, (1700000000 + i * 60, 1700000000 + i * 60))
    warehouse = os.path.join(tempfile.mkdtemp(prefix="etl_wh_"), "events_resumed")
    ckpt = tempfile.mkdtemp(prefix="etl_stream_ckpt_")
    _RESUME_LEDGER.clear()

    def run(run_idx: int) -> None:
        def merge(batch_df: DataFrame, batch_id: int) -> None:
            _RESUME_LEDGER.append((run_idx, batch_id, batch_df.count()))
            _upsert_batch(batch_df, batch_id, warehouse)

        q = (
            _read_stream(spark, drop, schema=ev.schema)
            .writeStream.foreachBatch(merge)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run(1)
    target = os.path.join(drop, "data-002.parquet")
    _write_one_file(slices[2], target)
    os.utime(target, (1700000000 + 120, 1700000000 + 120))
    run(2)
    final = spark.read.parquet(warehouse)
    out = (
        final.groupBy("event_type").agg(F.count("*").alias("n")).orderBy("event_type")
    )
    # same corpus-sized reclamation as stream_restart_backlog_drain
    # (this op predates the discipline; code-review r11 applied it here)
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(drop, ignore_errors=True)
    shutil.rmtree(os.path.dirname(warehouse), ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


@query(
    "stream_progress_report",
    # Deterministic engine telemetry: with the 3 time-sliced drop files
    # and maxFilesPerTrigger=1, batch i is exactly slice i, so
    # numInputRows / state numRowsTotal / numRowsUpdated are replayable
    # in SQL from events + the fixed cuts.
    oracle=f"""
    WITH sliced AS (
      SELECT CASE WHEN ts < TIMESTAMP '{_CUTS[0]}' THEN 0
                  WHEN ts < TIMESTAMP '{_CUTS[1]}' THEN 1
                  ELSE 2 END AS batch_id,
             event_type
      FROM events
    ), per AS (
      SELECT batch_id,
             CAST(COUNT(*) AS BIGINT) AS num_input_rows,
             CAST(COUNT(DISTINCT event_type) AS BIGINT) AS state_rows_updated
      FROM sliced GROUP BY batch_id
    )
    SELECT p.batch_id,
           p.num_input_rows,
           (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) FROM sliced s
            WHERE s.batch_id <= p.batch_id) AS state_rows_total,
           p.state_rows_updated
    FROM per p ORDER BY p.batch_id
    """,
)
def stream_progress_report(spark, sf_dir):
    """Per-micro-batch job stats harvested from the ENGINE's own
    StreamingQueryProgress telemetry — the streaming twin of
    pipeline_run_report (the reference persists per-job stats with its
    checkpoint documents [K]; Structured Streaming emits them per batch).
    A stateful per-type running count consumes the three time-sliced
    drop files (maxFilesPerTrigger=1 → batch i IS slice i), and the
    report reads numInputRows plus the state store's numRowsTotal /
    numRowsUpdated from query.recentProgress — all deterministic for
    AvailableNow over fixed slices, so the driver hash certifies that
    the engine actually processed each batch with exactly the expected
    row and state cardinalities (a silently dropped batch, a state leak,
    or double processing all break it).

    Scale shape: the streaming plan is ONE hash aggregation (update
    mode); the report itself is batch-count-sized driver telemetry —
    this is the observability surface a 100 TB streaming deployment
    alarms on (rows/batch, state growth), not a data-plane operator."""
    import json as _json

    drop, schema = _drop_dir(spark, sf_dir)
    sdf = _read_stream(spark, drop, schema)
    agg = sdf.groupBy("event_type").agg(F.count("*").alias("n"))
    ckpt = tempfile.mkdtemp(prefix="etl_stream_prog_")
    q = (
        agg.writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = []
    for p in q.recentProgress:
        d = p if isinstance(p, dict) else _json.loads(p.json)
        if int(d.get("numInputRows", 0)) <= 0:
            continue  # trailing no-data commit batch
        st = (d.get("stateOperators") or [{}])[0]
        rows.append(
            (
                int(d["batchId"]),
                int(d["numInputRows"]),
                int(st.get("numRowsTotal", 0)),
                int(st.get("numRowsUpdated", 0)),
            )
        )
    shutil.rmtree(drop, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "batch_id BIGINT, num_input_rows BIGINT,"
        " state_rows_total BIGINT, state_rows_updated BIGINT",
    ).orderBy("batch_id")


# Test/observability ledger for stream_restart_backlog_drain: one
# (run_idx, batch_id, rows) tuple per micro-batch actually processed.
_BACKLOG_LEDGER: list[tuple[int, int, int]] = []

# The ENGINE's own account of the same drain (VERDICT r12 item 4 /
# carried from r11 item 6): one (run_idx, batch_id, numInputRows) per
# micro-batch, harvested from StreamingQueryProgress.recentProgress —
# the stream_progress_report pattern applied to the recovery path, so
# the pytest pins foreachBatch-side AND engine-side counts against each
# other (a sink that miscounted, or an engine that re-delivered, would
# disagree).
_BACKLOG_ENGINE_LEDGER: list[tuple[int, int, int]] = []

# Day boundaries that split the post-outage events into the 6-file
# backlog (the January 2024 fixture spans the whole month; slice 1 is
# everything before _CUTS[0] = Jan 11).
_BACKLOG_CUTS = (
    "2024-01-14 00:00:00",
    "2024-01-17 00:00:00",
    "2024-01-20 00:00:00",
    "2024-01-23 00:00:00",
    "2024-01-27 00:00:00",
)


@query(
    "stream_restart_backlog_drain",
    # After the throttled drain the warehouse holds every event exactly
    # once — run 1 processed the pre-outage file, run 2 drained the
    # 6-file backlog one micro-batch per file without reprocessing run
    # 1's offsets or dropping any backlog file.
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def stream_restart_backlog_drain(spark, sf_dir):
    """Restart against an ACCUMULATED BACKLOG — the scheduler-outage
    recovery shape (VERDICT r10 item 2): stream_checkpoint_resume proves
    offsets survive a kill when ONE new file landed; this op proves the
    drain side — the job is down while 6 files accumulate, and the
    relaunch consumes them THROTTLED (maxFilesPerTrigger=1 → one
    micro-batch per file, so no single recovery batch has to absorb the
    whole outage) while upserting into the same parquet warehouse via
    the shared staged-rename merge. The per-run batch ledger is pinned
    in pytest: run 1 = the pre-outage slice alone; run 2 = exactly
    len(backlog) batches whose row counts sum to the backlog, with no
    re-delivery of run 1's rows.

    At 100 TB this is the property that makes an outage recoverable at
    all: drain cost is O(backlog) spread over bounded micro-batches
    (state / sink pressure per batch stays flat no matter how long the
    job was down), offsets come back from the checkpoint so nothing is
    reprocessed, and the idempotent merge sink means a crash DURING the
    drain is just another restart. Throttle knob transfers verbatim to
    Kafka (maxOffsetsPerTrigger) on a cluster."""
    ev = load_table(spark, sf_dir, "events")
    drop = tempfile.mkdtemp(prefix="etl_stream_backlog_")
    pre_outage = ev.filter(F.col("ts") < _CUTS[0])
    bounds = (_CUTS[0], *_BACKLOG_CUTS, None)
    backlog = [
        ev.filter(
            (F.col("ts") >= bounds[i])
            & ((F.col("ts") < bounds[i + 1]) if bounds[i + 1] else F.lit(True))
        )
        for i in range(len(bounds) - 1)
    ]
    target = os.path.join(drop, "data-000.parquet")
    _write_one_file(pre_outage, target)
    os.utime(target, (1700000000, 1700000000))
    warehouse = os.path.join(tempfile.mkdtemp(prefix="etl_wh_"), "events_drained")
    ckpt = tempfile.mkdtemp(prefix="etl_stream_ckpt_")
    _BACKLOG_LEDGER.clear()
    _BACKLOG_ENGINE_LEDGER.clear()

    def run(run_idx: int) -> None:
        import json as _json

        def merge(batch_df: DataFrame, batch_id: int) -> None:
            # persist: the ledger count and the upsert are two actions —
            # unpersisted, each re-reads the micro-batch from the source
            # (the engine's numInputRows honestly reported 2x the batch,
            # which is how the round-13 telemetry pin CAUGHT this)
            batch_df.persist()
            try:
                _BACKLOG_LEDGER.append((run_idx, batch_id, batch_df.count()))
                _upsert_batch(batch_df, batch_id, warehouse)
            finally:
                batch_df.unpersist()

        q = (
            _read_stream(spark, drop, schema=ev.schema)
            .writeStream.foreachBatch(merge)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # engine-side account of the drain (same harvest shape as
        # stream_progress_report; trailing no-data commit batches skipped)
        for p in q.recentProgress:
            d = p if isinstance(p, dict) else _json.loads(p.json)
            if int(d.get("numInputRows", 0)) <= 0:
                continue
            _BACKLOG_ENGINE_LEDGER.append(
                (run_idx, int(d["batchId"]), int(d["numInputRows"]))
            )

    run(1)
    # outage: the job is down while the whole backlog lands
    for i, s in enumerate(backlog):
        t = os.path.join(drop, f"data-{i + 1:03d}.parquet")
        _write_one_file(s, t)
        os.utime(t, (1700000000 + 60 * (i + 1), 1700000000 + 60 * (i + 1)))
    run(2)
    final = spark.read.parquet(warehouse)
    out = (
        final.groupBy("event_type").agg(F.count("*").alias("n")).orderBy("event_type")
    )
    # pin the event-type-sized result, then reclaim the two corpus-sized
    # temp copies (drop dir + merged warehouse) and the checkpoint — at
    # the 500x events tier each leaked pair is ~a full corpus on /tmp
    # (code-review r11; same discipline as inc_subject_erasure)
    out = out.localCheckpoint(eager=True)
    shutil.rmtree(drop, ignore_errors=True)
    shutil.rmtree(os.path.dirname(warehouse), ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out
