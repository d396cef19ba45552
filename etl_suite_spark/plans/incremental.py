"""Batch-incremental processing with durable watermarks (SURVEY.md §2.9,
§3.2(3)).

Reference analog: the ETL-suite scheduler's checkpoint documents — each job
stores the last-processed timestamp, extracts only ``[watermark, now)`` on
the next tick, and reloads idempotently (SURVEY §0.1 [K]). Re-expressed
Spark-first:

- the state is a tiny JSON file next to the sink (on a cluster: object
  storage), read driver-side before planning and replaced whole with a
  write-then-rename: ``{"watermark": ..., "files": [[path, length, mtime],
  ...]}``. ``files`` is the listing of the source the last tick took, the
  way Spark's ``FileStreamSource`` logs the files it has consumed. A state
  without it (written before the record existed), or with the empty one
  ``advance_watermark`` writes, consumed nothing;
- a tick lists its source table once (``Tick``) and reads only the
  listed files not in the record, so its cost follows the new data, not
  the history. A file is known by (path, length, mtime), so one rewritten
  in place is read again. A source with subdirectories has no flat listing
  and is read whole;
- the extract puts ``ts > watermark`` directly above the scan, so Catalyst
  pushes it into the parquet reader and row-group min/max statistics skip
  what an unconsumed file holds at or below the watermark. The file skip
  is exact: after a tick every row of each recorded file is at or below
  the new watermark, so a skipped file holds no row the filter would keep.
  When the parquet footers of the unconsumed files prove that every row is
  past the watermark (``io.timestamp_floor``: INT64 TIMESTAMP statistics
  with no null, min above the watermark), the filter is left out. The plan
  then holds no per-tick literal, so a warm tick reuses the code Spark
  generated for the last one instead of compiling its scan stage anew;
- idempotency comes from delete-or-overwrite of the affected window plus
  the ``dedup_by_key_latest`` idiom, not from fragile exactly-once sinks.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime, timedelta

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..core import SUBJECT_RESIDUE, d2d, dsum, scratch, sql_dsum
from ..io import flat_files, load_files, load_table, table_path, timestamp_floor
from ..registry import query


# The watermark's one codec: a microsecond timestamp string in the SESSION
# zone, parsed and rendered inside Spark so it round-trips whatever zone the
# Python process runs in (a collected datetime would be in the process's).
DEFAULT_WATERMARK = "1970-01-01 00:00:00"
_WATERMARK_FORMAT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def read_state(state_path: str, default: str) -> tuple[str, set]:
    """The saved watermark (or ``default``) and the set of (path, length,
    mtime) files earlier ticks consumed; a state with no ``"files"`` key
    consumed none."""
    if not os.path.exists(state_path):
        return default, set()
    with open(state_path) as f:
        state = json.load(f)
    return state["watermark"], {tuple(entry) for entry in state.get("files", ())}


def write_state(state_path: str, watermark: str, files) -> None:
    """Persist the watermark and the consumed files atomically
    (write-then-rename)."""
    tmp = state_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"watermark": watermark, "files": list(files)}, f)
    os.replace(tmp, state_path)


def read_watermark(state_path: str, default: str) -> str:
    """Read the saved watermark (ISO timestamp string) or ``default``."""
    return read_state(state_path, default)[0]


def advance_watermark(state_path: str, new_watermark: str) -> None:
    """Set the watermark and clear the consumed-file record, so the next
    tick reads every file of its source past the new watermark."""
    write_state(state_path, new_watermark, ())


class Tick:
    """One tick of an incremental spec, shared by the steps that build, run
    and record it. ``listing`` is the one listing of its table source
    (``io.flat_files``), taken when the tick starts: its reads and its record
    both come from it. It is None for a stage source and for a layout
    Spark's file index must read (subdirectories, so ``k=v`` partition
    columns, and the schema memo's other fallbacks). Once :func:`extract`
    has built it, ``slice`` is the extracted frame and ``fresh`` the listed
    files no earlier tick consumed (None without a listing)."""

    def __init__(self, spark: SparkSession, sf_dir: str, spec: dict) -> None:
        source = spec["source"]
        self.listing = None
        if "table" in source:
            self.listing = flat_files(spark, table_path(sf_dir, source["table"]))
        self.fresh: list | None = None
        self.slice: DataFrame | None = None


def extract(spark: SparkSession, sf_dir: str, spec: dict, tick: Tick | None, resolve) -> DataFrame:
    """The one incremental extract: rows past the saved watermark from the
    files of ``tick``'s listing (a new :class:`Tick` when None) that no
    earlier tick consumed, read as one parquet read through the schema
    memo. A source with no listing is read whole by ``resolve(source)``.

    The filter ``watermark_col > watermark`` sits directly above the scan,
    so it reaches the parquet reader as a pushed predicate (verified in
    test_plans.py), unless the footers of the unconsumed files prove that
    every row is past the watermark (:func:`_proven_past`). Then the plan
    holds no watermark literal, so a warm tick's plan, and the code Spark
    generates for it, is the same from tick to tick."""
    inc = spec["incremental"]
    col = inc["watermark_col"]
    wm, consumed = read_state(inc["state_path"], inc.get("default", DEFAULT_WATERMARK))
    source = spec["source"]
    tick = tick or Tick(spark, sf_dir, spec)
    if tick.listing is None:
        df = resolve(source)
    else:
        tick.fresh = [entry for entry in tick.listing if entry not in consumed]
        df = load_files(spark, sf_dir, source["table"], tick.listing, tick.fresh)
    if not _proven_past(spark, df, col, wm, tick.fresh):
        df = df.filter(F.col(col) > F.to_timestamp(F.lit(wm)))
    tick.slice = df
    return df


_EPOCH = datetime(1970, 1, 1)


def _utc_micros(wm: str) -> int | None:
    """A watermark string as microseconds since the epoch, read as a UTC
    wall-clock time (never in the process zone), or None when it is not in
    one of the two forms the engine writes."""
    for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S"):
        try:
            return (datetime.strptime(wm, fmt) - _EPOCH) // timedelta(microseconds=1)
        except ValueError:
            continue
    return None


def _proven_past(spark: SparkSession, df: DataFrame, col: str, wm: str, files) -> bool:
    """Whether every row ``df`` reads from ``files`` is past ``wm`` in
    ``col``: trivially for no file, else from their footers
    (``io.timestamp_floor``), provided the session zone is UTC (``to_timestamp``
    reads ``wm`` in it), ``wm`` parses and ``df`` reads ``col`` as a
    timestamp. A source with no listing (``files`` None) proves nothing."""
    if files is None:
        return False
    if not files:
        return True
    wm_us = _utc_micros(wm)
    return (
        wm_us is not None
        and spark.conf.get("spark.sql.session.timeZone") == "UTC"
        and dict(df.dtypes).get(col, "").startswith("timestamp")
        and timestamp_floor(files, col, wm_us) is not None
    )


def record_tick(inc: dict, hi: str | None, listing) -> None:
    """Store a finished tick: the new watermark ``hi`` (the old one when the
    slice was empty) with every file of its listing. Each row of those files
    is now at or below the watermark, so the next tick skips them; a file
    that landed after the listing is not in it and is read next tick."""
    state_path = inc["state_path"]
    wm = hi if hi is not None else read_watermark(state_path, inc.get("default", DEFAULT_WATERMARK))
    write_state(state_path, wm, listing or ())


def encoded_max(watermark_col: str) -> Column:
    """``max(watermark_col)`` as the state-file string, aliased ``hi``; null
    on an empty slice. An aggregate, so it also serves inside ``observe``."""
    return F.date_format(F.max(watermark_col), _WATERMARK_FORMAT).alias("hi")


def slice_max(df: DataFrame, watermark_col: str) -> str | None:
    """The slice's new watermark from one aggregate job, or None if empty."""
    return df.agg(encoded_max(watermark_col)).collect()[0]["hi"]


def _table_spec(table: str, state_path: str, watermark_col: str, default: str) -> dict:
    return {
        "source": {"table": table},
        "incremental": {"watermark_col": watermark_col, "state_path": state_path, "default": default},
    }


def _whole(spark: SparkSession, sf_dir: str):
    """Read a table source whole (one with no flat listing)."""
    return lambda source: load_table(spark, sf_dir, source["table"])


def incremental_extract(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    state_path: str,
    watermark_col: str = "ts",
    default: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Extract only rows newer than the saved watermark, from the files no
    earlier tick consumed (:func:`extract`).

    The filter is attached directly above the scan, so an incremental tick
    over a 100 TB event log reads only the new row groups.
    """
    spec = _table_spec(table, state_path, watermark_col, default)
    return extract(spark, sf_dir, spec, None, _whole(spark, sf_dir))


def run_incremental_tick(
    spark: SparkSession,
    sf_dir: str,
    state_path: str,
    transform,
    watermark_col: str = "ts",
    default: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """One scheduler tick: extract past the watermark, advance, transform.

    Returns the transformed frame; the caller sinks it. The frame reads
    exactly the files this tick listed. The watermark and that file record
    advance to the slice's max BEFORE the caller sinks, so a crash in
    between leaves that window behind the watermark, never sunk; it is the
    only tick that does (``pipeline.run_pipeline`` records after its sink).
    A tick with no new data leaves the watermark unchanged.
    """
    spec = _table_spec("events", state_path, watermark_col, default)
    tick = Tick(spark, sf_dir, spec)
    inc = extract(spark, sf_dir, spec, tick, _whole(spark, sf_dir))
    hi = None if tick.fresh == [] else slice_max(inc, watermark_col)
    out = transform(inc)
    record_tick(spec["incremental"], hi, tick.listing)
    return out


# The declared incremental query runs one tick from a FIXED initial
# watermark so the DuckDB oracle can replay the identical extract window.
_FIXED_WM = "2024-01-15 00:00:00"


@query(
    "inc_batch_watermark",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value', 4)} AS sum_value
    FROM events
    WHERE ts > TIMESTAMP '{_FIXED_WM}'
    GROUP BY day, event_type
    """,
)
def inc_batch_watermark(spark, sf_dir):
    """One incremental tick over events: extract ``ts > watermark``, roll
    up per (day, event_type), advance the watermark. The state file cycle
    (read → filter → advance) is exercised for real in a temp dir; the
    fixed initial watermark keeps the oracle replayable."""

    def rollup(inc: DataFrame) -> DataFrame:
        return inc.groupBy(
            F.date_trunc("day", "ts").alias("day"), "event_type"
        ).agg(
            F.count("*").alias("n_events"),
            dsum("value", 4).alias("sum_value"),
        )

    # the returned frame carries the watermark as a literal and never reads
    # the state file again, so the state dir goes when the tick returns
    with scratch("etl_wm_") as root:
        state = os.path.join(root, "state.json")
        advance_watermark(state, _FIXED_WM)
        return run_incremental_tick(spark, sf_dir, state, rollup)


# --- CDC apply / SCD2 --------------------------------------------------------
# The reference's idempotent window-reload [K] is one recovery model; the
# other two canonical warehouse maintenance ops are applying a change log
# (CDC) and building type-2 slowly-changing dimensions. Both are pure
# window/aggregate plans — one shuffle on the business key.


@query(
    "inc_cdc_apply",
    oracle="""
    WITH snapshot AS (
      SELECT o_orderkey AS key, o_totalprice AS price, o_orderstatus AS status,
             0 AS seq, 'I' AS op
      FROM orders
    ),
    changes AS (
      SELECT o_orderkey AS key,
             CASE WHEN o_orderkey % 10 IN (0, 1, 2)
                  THEN o_totalprice + 100.0 ELSE o_totalprice END AS price,
             o_orderstatus AS status,
             1 AS seq,
             CASE WHEN o_orderkey % 10 IN (0, 1, 2) THEN 'U'
                  WHEN o_orderkey % 10 = 3 THEN 'D' END AS op
      FROM orders
      WHERE o_orderkey % 10 <= 3
      UNION ALL
      SELECT o_orderkey + 10000000 AS key, o_totalprice * 2 AS price,
             'O' AS status, 1 AS seq, 'I' AS op
      FROM orders
      WHERE o_orderkey % 10 IN (4, 5)
    ),
    merged AS (
      SELECT * FROM snapshot UNION ALL SELECT * FROM changes
    )
    SELECT key, price, status
    FROM merged
    QUALIFY row_number() OVER (PARTITION BY key ORDER BY seq DESC) = 1
      AND arg_max(op, seq) OVER (PARTITION BY key) <> 'D'
    """,
)
def inc_cdc_apply(spark, sf_dir):
    """Apply a CDC change log (insert/update/delete, sequence-ordered) onto
    a snapshot: latest change per key wins; deletes drop the key. The
    change set is synthesized deterministically from ``orders`` so both
    engines see identical input. Plan: union (no shuffle) + ONE window
    shuffle on the key — the same shape Delta/Hudi MERGE executes; at
    100 TB the snapshot side would be bucketed on the key so only the
    (small) change log moves.
    """
    o = load_table(spark, sf_dir, "orders")
    snapshot = o.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
        F.lit(0).alias("seq"),
        F.lit("I").alias("op"),
    )
    upd_del = o.filter(F.col("o_orderkey") % 10 <= 3).select(
        F.col("o_orderkey").alias("key"),
        F.when(
            (F.col("o_orderkey") % 10).isin(0, 1, 2),
            (F.col("o_totalprice") + 100.0),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
        F.col("o_orderstatus").alias("status"),
        F.lit(1).alias("seq"),
        F.when((F.col("o_orderkey") % 10).isin(0, 1, 2), "U")
        .when(F.col("o_orderkey") % 10 == 3, "D")
        .alias("op"),
    )
    ins = o.filter((F.col("o_orderkey") % 10).isin(4, 5)).select(
        (F.col("o_orderkey") + 10_000_000).alias("key"),
        (F.col("o_totalprice") * 2).alias("price"),
        F.lit("O").alias("status"),
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
    )
    merged = snapshot.unionByName(upd_del).unionByName(ins)
    w = Window.partitionBy("key").orderBy(F.col("seq").desc())
    return (
        merged.withColumn("rn", F.row_number().over(w))
        .withColumn("last_op", F.first("op").over(w))
        .filter((F.col("rn") == 1) & (F.col("last_op") != "D"))
        .select("key", "price", "status")
    )


@query(
    "dim_scd2_build",
    oracle="""
    WITH hist AS (
      SELECT user_id, ts, event_id, event_type AS attr,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_attr
      FROM events
    ),
    changes AS (
      SELECT user_id, ts, event_id, attr
      FROM hist
      WHERE prev_attr IS NULL OR attr <> prev_attr
    )
    SELECT user_id, attr,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             AS is_current
    FROM changes
    """,
)
def dim_scd2_build(spark, sf_dir):
    """Build a type-2 slowly-changing dimension from an attribute history:
    collapse consecutive identical values, then derive
    [valid_from, valid_to) intervals with lead(); the open interval is the
    current row. Two window passes over the SAME user partitioning — one
    exchange reused by both sorts. This is the standard warehouse
    dimension-maintenance op (ref analog: account state tracking [K]).
    """
    return scd2_intervals(load_table(spark, sf_dir, "events"))


def scd2_intervals(ev):
    """(user_id, ts, event_id, event_type) → SCD2 interval rows; the
    full-rebuild core shared by dim_scd2_build, dim_scd2_lookup's dimension,
    and the inc_scd2_apply equivalence oracle."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hist = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.col("event_type").alias("attr"),
        F.lag("event_type").over(w).alias("prev_attr"),
    )
    changes = hist.filter(
        F.col("prev_attr").isNull() | (F.col("attr") != F.col("prev_attr"))
    )
    return changes.select(
        "user_id",
        "attr",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


@query(
    "dim_scd2_lookup",
    oracle="""
    WITH hist AS (
      SELECT user_id, ts, event_id, event_type AS attr,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_attr
      FROM events
    ),
    changes AS (
      SELECT user_id, ts, event_id, attr
      FROM hist
      WHERE prev_attr IS NULL OR attr <> prev_attr
    ),
    scd2 AS (
      SELECT user_id, attr,
             ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
      FROM changes
    )
    SELECT e.event_id, e.user_id, e.ts,
           d.attr AS attr_at_ts,
           d.valid_to IS NULL AS from_current_version
    FROM events e
    JOIN scd2 d
      ON e.user_id = d.user_id
     AND e.ts >= d.valid_from
     AND (d.valid_to IS NULL OR e.ts < d.valid_to)
    WHERE e.event_type = 'purchase'
    """,
)
def dim_scd2_lookup(spark, sf_dir):
    """Point-in-time dimension lookup — join each fact row to the SCD2
    version that was valid AT ITS TIMESTAMP (here: each purchase event
    against the event-history dimension built exactly as dim_scd2_build).
    This is the other half of the SCD2 story: building intervals is
    useless unless facts can join them as-of their own time.

    Plan shape for 100 TB: the join is an EQUI-join on user_id with the
    interval bounds as a post-join filter — Catalyst plans a plain
    shuffled hash join keyed on the dimension's natural key, never a
    range BNLJ, because versions-per-key is small (the SCD2 invariant)
    and the interval predicate prunes to exactly one row per fact.
    Intervals are half-open [valid_from, valid_to), so a fact on a
    version boundary matches only the newer version, and a zero-width
    version (two changes at one timestamp) matches nothing — exactly-one
    match per fact is structural, not data-dependent."""
    ev = load_table(spark, sf_dir, "events")
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    # Catalyst prunes the unused is_current column
    d = scd2_intervals(ev).select(
        F.col("user_id").alias("d_user_id"), "attr", "valid_from", "valid_to"
    )
    return (
        facts.join(d, F.col("user_id") == F.col("d_user_id"))
        .filter(
            (F.col("ts") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to")))
        )
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("attr").alias("attr_at_ts"),
            F.col("valid_to").isNull().alias("from_current_version"),
        )
    )


@query(
    "inc_backfill_window",
    oracle=f"""
    WITH full_rollup AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             COUNT(*) AS n_orders,
             {sql_dsum("o_totalprice")} AS revenue
      FROM orders GROUP BY 1
    ),
    stale_rollup AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             COUNT(*) AS n_orders,
             {sql_dsum("o_totalprice")} AS revenue
      FROM orders
      WHERE NOT (o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-02-01'
                 AND o_orderkey % 5 = 0)
      GROUP BY 1
    )
    SELECT day, n_orders, revenue FROM stale_rollup
    WHERE day < DATE '1995-01-01' OR day >= DATE '1995-02-01'
    UNION ALL
    SELECT day, n_orders, revenue FROM full_rollup
    WHERE day >= DATE '1995-01-01' AND day < DATE '1995-02-01'
    """,
)
def inc_backfill_window(spark, sf_dir):
    """Idempotent delete-then-reload backfill of one affected window — the
    reference's own recovery model (re-run a window; delete the window's
    rows in the target; reload from source [K]). The 'stale' warehouse
    here deterministically misses late rows (orderkey%5=0 in Jan-1995);
    the backfill keeps every target row OUTSIDE the window untouched and
    splices in a full recompute INSIDE it. Window bounds align with the
    sink's day partitioning, so at 100 TB this is a partition-overwrite
    (`sink_overwrite_partition` machinery) — no full-table rewrite, and
    re-running the backfill is a no-op (idempotent)."""
    o = load_table(spark, sf_dir, "orders")
    lo, hi = "1995-01-01", "1995-02-01"

    def rollup(src: DataFrame) -> DataFrame:
        return (
            src.groupBy(F.date_trunc("day", "o_orderdate").cast("date").alias("day"))
            .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("revenue"))
        )

    late_missing = (
        (F.col("o_orderdate") >= lo)
        & (F.col("o_orderdate") < hi)
        & (F.col("o_orderkey") % 5 == 0)
    )
    stale = rollup(o.filter(~late_missing))
    full = rollup(o)
    kept = stale.filter((F.col("day") < lo) | (F.col("day") >= hi))
    recomputed = full.filter((F.col("day") >= lo) & (F.col("day") < hi))
    return kept.unionByName(recomputed)


@query(
    "inc_state_merge_stats",
    oracle="""
    WITH batches AS (
      SELECT CASE WHEN o_orderdate < DATE '1996-01-01' THEN 'b0' ELSE 'b1' END
               AS batch,
             o_orderstatus,
             COUNT(*) AS n,
             SUM(CAST(round(o_totalprice) AS BIGINT)) AS s1,
             SUM(CAST(round(o_totalprice) AS DECIMAL(15,0))
                 * CAST(round(o_totalprice) AS DECIMAL(15,0))) AS s2
      FROM orders GROUP BY 1, 2
    ),
    merged AS (
      SELECT o_orderstatus,
             CAST(SUM(n) AS BIGINT) AS n,
             CAST(CAST(SUM(s1) AS VARCHAR) AS DOUBLE) AS s1,
             CAST(CAST(SUM(s2) AS VARCHAR) AS DOUBLE) AS s2
      FROM batches GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, n,
           round(s1 / n, 6) AS mean_d,
           round(sqrt((s2 - s1 * s1 / n) / (n - 1)) , 6) AS stddev_d
    FROM merged
    """,
)
def inc_state_merge_stats(spark, sf_dir):
    """Incremental statistics via mergeable state: each batch contributes
    exact power-sum state (n, Σd, Σd²); merging batches is a group-sum;
    mean/stddev are computed only at read time from merged state. This is
    how running statistics stay cheap under the reference's periodic
    re-run model [K]: no batch ever rescans history, and any batch can be
    re-contributed idempotently (replace its state row, re-merge). Same
    mergeable-sketch discipline as `agg_sketch_rollup` (HLL) and
    `agg_quantile_sketch_rollup` (histogram), for moments."""
    o = load_table(spark, sf_dir, "orders")
    d = F.round("o_totalprice").cast("long")
    batches = (
        o.select(
            F.when(F.col("o_orderdate") < "1996-01-01", "b0").otherwise("b1").alias(
                "batch"
            ),
            "o_orderstatus",
            d.alias("d"),
        )
        .groupBy("batch", "o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum("d").alias("s1"),
            F.sum(F.col("d").cast("decimal(15,0)") * F.col("d").cast("decimal(15,0)")).alias(
                "s2"
            ),
        )
    )
    merged = batches.groupBy("o_orderstatus").agg(
        F.sum("n").cast("long").alias("n"),
        d2d(F.sum("s1").cast("decimal(38,0)")).alias("s1"),
        d2d(F.sum("s2")).alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    return merged.select(
        "o_orderstatus",
        "n",
        F.round(s1 / n, 6).alias("mean_d"),
        F.round(F.sqrt((s2 - s1 * s1 / n) / (n - 1)), 6).alias("stddev_d"),
    )


@query(
    "inc_dedup_ingest",
    oracle="""
    WITH hashed AS (
      SELECT doc_id, doc_id % 3 AS batch_id,
             sha256(regexp_replace(lower(trim(text)),
                                   '[ \\t\\r\\n\\f\\x0B]+', ' ', 'g')) AS h
      FROM documents
    ), firsts AS (
      SELECT batch_id,
             row_number() OVER (PARTITION BY h
                                ORDER BY batch_id, doc_id) = 1 AS is_new
      FROM hashed
    )
    SELECT batch_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
           CAST(SUM(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT) AS n_dup
    FROM firsts GROUP BY batch_id ORDER BY batch_id
    """,
)
def inc_dedup_ingest(spark, sf_dir):
    """Incremental hash-dedup ingest: each arriving batch is anti-joined
    against the accumulated content-hash state, new hashes fold into the
    state, and only never-seen documents pass through — the idempotent
    ingest front door of a 100 TB training-data pipeline (re-delivered or
    re-crawled documents drop out before any expensive downstream work).

    Plan shape per batch: one broadcast-able left join on the 64-hex
    content hash (uniform key, no skew) carrying a seen-flag — anti-join
    semantics, but n_docs/n_new then fall out of a single aggregation
    with no follow-up scalar join — plus a group on the batch's own
    hashes for the in-batch duplicate rule (first doc_id wins).  The state
    union grows monotonically but is only ever joined on its hash key —
    on a real cluster it lives as a bucketed table so every ingest
    anti-join is shuffle-free on the state side.  The 3-batch loop here is
    the unrolled equivalent of the foreachBatch upsert loop in
    ``stream_foreachbatch_upsert`` (streaming/ops.py), expressed as pure
    batch so DuckDB can replay it as a first-occurrence window.

    The oracle states the same semantics declaratively: a document is new
    iff its hash has no earlier (batch_id, doc_id) occurrence.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 3).alias("batch_id"),
        F.sha2(
            F.regexp_replace(
                F.lower(F.trim(F.col("text"))), "[ \t\r\n\f\x0b]+", " "
            ),
            256,
        ).alias("h"),
    )
    state = None  # accumulated hash set: (h, first boundary doc is irrelevant)
    per_batch = []
    for b in range(3):
        batch = docs.filter(F.col("batch_id") == b)
        # in-batch rule first: one winner per hash (min doc_id), the rest
        # are duplicates of their own batch
        in_batch_first = batch.groupBy("h").agg(
            F.min("doc_id").alias("doc_id"), F.count("*").alias("n_with_hash")
        )
        # Left-join a seen-flag from the state instead of anti-joining and
        # then re-joining two single-row aggregates: n_docs and n_new fall
        # out of ONE aggregation over the hash-level frame, so the plan has
        # no 1-row×1-row literal-keyed join (which Catalyst folds into a
        # nested-loop join and the plan audit rightly flags).
        if state is None:
            flagged = in_batch_first.withColumn("seen", F.lit(False))
        else:
            flagged = in_batch_first.join(
                state.withColumn("seen", F.lit(True)), "h", "left"
            ).withColumn("seen", F.coalesce(F.col("seen"), F.lit(False)))
        per_batch.append(
            flagged.agg(
                F.coalesce(F.sum("n_with_hash"), F.lit(0))
                .cast("long")
                .alias("n_docs"),
                F.coalesce(
                    F.sum(F.when(~F.col("seen"), 1).otherwise(0)), F.lit(0)
                )
                .cast("long")
                .alias("n_new"),
            )
            .withColumn("batch_id", F.lit(b))
            .select(
                "batch_id",
                "n_docs",
                "n_new",
                (F.col("n_docs") - F.col("n_new")).cast("long").alias("n_dup"),
            )
        )
        # no distinct: in-batch hashes are unique (grouped) and the seen
        # filter guarantees they're absent from the prior state, so the
        # union stays duplicate-free by construction
        seen = flagged.filter(~F.col("seen")).select("h")
        state = seen if state is None else state.unionByName(seen)
    out = per_batch[0]
    for df in per_batch[1:]:
        out = out.unionByName(df)
    return out.orderBy("batch_id")


@query(
    "inc_scd2_apply",
    # Oracle = the FULL REBUILD. The whole claim of incremental SCD2
    # maintenance is that close-and-append over a batch equals rebuilding
    # from all of history — so the rebuild SQL (same as dim_scd2_build's
    # oracle) IS the correctness statement, not a weaker shadow of it.
    oracle="""
    WITH hist AS (
      SELECT user_id, ts, event_id, event_type AS attr,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_attr
      FROM events
    ),
    changes AS (
      SELECT user_id, ts, event_id, attr
      FROM hist
      WHERE prev_attr IS NULL OR attr <> prev_attr
    )
    SELECT user_id, attr,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             AS is_current
    FROM changes
    """,
)
def inc_scd2_apply(spark, sf_dir):
    """Incremental SCD2 maintenance: apply one day's change batch to an
    existing dimension by CLOSE-AND-APPEND — never rebuilding history.
    The prior state is the SCD2 table over events before the cutoff; the
    batch is the tail. Per user: detect batch-internal change points with
    the boundary initialized from the PRIOR CURRENT attr (the subtle
    part — a batch whose first event repeats the current value is NOT a
    change), close the prior open interval at the first real change, and
    append the new intervals.

    The registered result is prior-closed ∪ adjusted-current ∪ appended,
    and the oracle is the FULL REBUILD over all events — their equality
    is the idempotence/equivalence guarantee that makes incremental
    dimension maintenance trustworthy at all (same contract shape as
    inc_backfill_window). Plan: the batch work is two window passes and
    a couple of keyed joins over ONE day of events plus the
    current-rows-only slice of the dimension — history is never
    touched, which is the 100 TB point."""
    cutoff = "2024-01-24"
    ev = load_table(spark, sf_dir, "events")
    old = ev.filter(F.col("ts") < cutoff)
    batch = ev.filter(F.col("ts") >= cutoff)

    prior = scd2_intervals(old)
    cur = prior.filter(F.col("is_current")).select(
        "user_id",
        F.col("attr").alias("cur_attr"),
        F.col("valid_from").alias("cur_from"),
    )
    closed = prior.filter(~F.col("is_current"))

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    b = (
        batch.select(
            "user_id", "ts", "event_id", F.col("event_type").alias("attr")
        )
        .withColumn("prev_in_batch", F.lag("attr").over(w))
        .join(cur.select("user_id", "cur_attr"), "user_id", "left")
        .withColumn(
            "prev_eff", F.coalesce("prev_in_batch", "cur_attr")
        )
    )
    changes = b.filter(
        F.col("prev_eff").isNull() | (F.col("attr") != F.col("prev_eff"))
    )
    appended = changes.select(
        "user_id",
        "attr",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )
    first_change = changes.groupBy("user_id").agg(
        F.min("ts").alias("first_ts")
    )
    cur_adjusted = (
        cur.join(first_change, "user_id", "left")
        .select(
            "user_id",
            F.col("cur_attr").alias("attr"),
            F.col("cur_from").alias("valid_from"),
            F.col("first_ts").alias("valid_to"),
            F.col("first_ts").isNull().alias("is_current"),
        )
    )
    return closed.unionByName(cur_adjusted).unionByName(appended)


@query(
    "inc_late_dim_resolve",
    # Derived two-phase scenario: dimension v1 = customers with c_custkey
    # % 7 != 0 (the rest "arrive late"); v2 = all customers. Facts =
    # orders. Phase 1 resolves against v1 with an UNKNOWN fallback;
    # phase 2 re-resolves ONLY the unknowns against the late arrivals.
    # The oracle is the direct one-shot join against v2 — the equivalence
    # IS the correctness statement (same contract as inc_scd2_apply).
    oracle="""
    SELECT o.o_orderkey AS order_key,
           o.o_custkey AS cust_key,
           c.c_mktsegment AS segment,
           (c.c_custkey % 7 = 0) AS resolved_late
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def inc_late_dim_resolve(spark, sf_dir):
    """Late-arriving dimension resolution — the warehouse pattern for
    facts that land before their dimension row exists: phase 1 joins
    facts against the available dimension and parks misses under an
    UNKNOWN member (never dropping or blocking the fact load); phase 2
    re-resolves ONLY the parked facts when the late dimension rows
    arrive. The registered result is phase-1 hits ∪ phase-2 fixes, and
    the oracle is the one-shot join against the complete dimension —
    equality proves the two-phase protocol loses and invents nothing.

    Scale shape: phase 2's input is the UNKNOWN slice only (an anti-join
    result, typically a tiny fraction of facts), so the catch-up join is
    proportional to what was actually late — history is never rejoined.
    Both joins broadcast the dimension when it fits; AQE picks."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("order_key"),
        F.col("o_custkey").alias("cust_key"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust_key"),
        F.col("c_mktsegment").alias("segment"),
    )
    dim_v1 = c.filter(F.col("cust_key") % 7 != 0)
    late = c.filter(F.col("cust_key") % 7 == 0)

    phase1 = o.join(dim_v1, "cust_key", "left").select(
        "order_key",
        "cust_key",
        F.coalesce("segment", F.lit("UNKNOWN")).alias("segment"),
    )
    resolved = phase1.filter(F.col("segment") != "UNKNOWN").withColumn(
        "resolved_late", F.lit(False)
    )
    parked = phase1.filter(F.col("segment") == "UNKNOWN").select(
        "order_key", "cust_key"
    )
    fixed = parked.join(late, "cust_key").select(
        "order_key", "cust_key", "segment", F.lit(True).alias("resolved_late")
    )
    return resolved.unionByName(fixed).select(
        "order_key", "cust_key", "segment", "resolved_late"
    )


# Portable per-row 60-bit content hash (fn_surrogate_key bridge): sha256 of
# a canonical field string; doubles enter as exact cents, dates as ISO text.
_ROWSIG = """CAST(('0x' || substring(sha256(
        CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)
        || '|' || o_orderstatus || '|'
        || CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR)
        || '|' || CAST(CAST(o_orderdate AS DATE) AS VARCHAR)
        || '|' || o_orderpriority), 1, 15)) AS BIGINT)"""

# Spark twin: same canonical string, hex->int via conv().
_ROWSIG_SPARK = """conv(substring(sha2(
        concat_ws('|', CAST(o_orderkey AS STRING), CAST(o_custkey AS STRING),
                  o_orderstatus,
                  CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS STRING),
                  CAST(CAST(o_orderdate AS DATE) AS STRING),
                  o_orderpriority), 256), 1, 15), 16, 10)"""


@query(
    "inc_partition_rebuild",
    oracle=f"""
    WITH mx AS (
      SELECT MAX(CAST(o_orderdate AS DATE)) AS maxd FROM orders
    ), src AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
             COUNT(*) AS n,
             SUM(CAST({_ROWSIG} AS DECIMAL(38,0))) AS sig
      FROM orders GROUP BY 1
    ), mat AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
             COUNT(*) AS n,
             SUM(CAST({_ROWSIG} AS DECIMAL(38,0))) AS sig
      FROM orders, mx
      WHERE CAST(o_orderdate AS DATE) < maxd - INTERVAL 20 DAY
      GROUP BY 1
    )
    SELECT s.month,
           CAST(s.n AS BIGINT) AS src_rows,
           CAST(COALESCE(m.n, 0) AS BIGINT) AS mat_rows,
           CASE WHEN m.month IS NULL THEN 'missing'
                WHEN m.n <> s.n OR m.sig <> s.sig THEN 'stale'
                ELSE 'ok' END AS status
    FROM src s LEFT JOIN mat m ON m.month = s.month
    ORDER BY s.month
    """,
)
def inc_partition_rebuild(spark, sf_dir):
    """Changed-partition detection — the planning step of every
    incremental rebuild: compare a per-partition content signature of
    the source against the materialized copy and emit exactly which
    monthly partitions need rewriting ('missing'/'stale') versus which
    can be skipped ('ok'). Rewriting only flagged partitions is what
    turns a 100 TB full refresh into a few-partition touch-up (pairs
    with sink_overwrite_partition for the actual rewrite).

    The signature is ORDER-INSENSITIVE and ADDITIVE: per-row
    sha256-prefix (portable 60-bit int — the fn_surrogate_key bridge)
    summed into an exact DECIMAL(38,0) per partition, the
    sink_compact_small_files discipline (sums shift on any lost,
    duplicated, or altered row; xor would cancel pairwise). Doubles
    enter the hash as exact cents (round(x*100) — the quantized-dot
    trick), never as engine-formatted strings. The 'materialized' side
    here is the source minus its trailing 20 days — a deterministic
    stale-copy simulation that exercises all three statuses on the
    fixture.

    Plan shape: two scans (source + materialized manifest), each a
    map-combined hash agg down to one row per partition; the compare
    joins partition-count-sized tables. At 100 TB the signatures are
    incrementally maintained alongside each partition write, so the
    plan drops to a metadata-sized join."""
    o = load_table(spark, sf_dir, "orders")
    rowsig = F.expr(_ROWSIG_SPARK).cast("decimal(38,0)")
    month = F.date_trunc("month", F.to_date("o_orderdate")).cast("date").alias("month")

    def part_sig(df):
        return df.groupBy(month).agg(
            F.count("*").alias("n"), F.sum(rowsig).alias("sig")
        )

    src = part_sig(o)
    mx = F.broadcast(o.agg(F.max(F.to_date("o_orderdate")).alias("maxd")))
    mat = part_sig(
        o.crossJoin(mx).filter(F.to_date("o_orderdate") < F.date_sub("maxd", 20))
    )
    m = mat.select(
        F.col("month").alias("m_month"),
        F.col("n").alias("m_n"),
        F.col("sig").alias("m_sig"),
    )
    return (
        src.join(m, src["month"] == m["m_month"], "left")
        .select(
            "month",
            F.col("n").cast("long").alias("src_rows"),
            F.coalesce("m_n", F.lit(0)).cast("long").alias("mat_rows"),
            F.when(F.col("m_month").isNull(), "missing")
            .when(
                (F.col("m_n") != F.col("n")) | (F.col("m_sig") != F.col("sig")),
                "stale",
            )
            .otherwise("ok")
            .alias("status"),
        )
        .orderBy("month")
    )


@query(
    "inc_snapshot_expire",
    oracle="""
    WITH hist AS (
      SELECT user_id, ts, event_id, event_type AS attr,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_attr
      FROM events
    ), changes AS (
      SELECT user_id, ts, event_id, attr FROM hist
      WHERE prev_attr IS NULL OR attr <> prev_attr
    ), versions AS (
      SELECT user_id, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to
      FROM changes
    ), cutoff AS (
      SELECT max(ts) - INTERVAL 7 DAY AS cut FROM events
    )
    SELECT CASE WHEN valid_to IS NULL THEN 'current'
                WHEN valid_to >= cut THEN 'kept'
                ELSE 'expired' END AS status,
           CAST(COUNT(*) AS BIGINT) AS n_versions,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           MIN(valid_from) AS min_valid_from,
           MAX(valid_from) AS max_valid_from
    FROM versions, cutoff
    GROUP BY 1 ORDER BY status
    """,
)
def inc_snapshot_expire(spark, sf_dir):
    """SCD2 retention vacuum — the maintenance pass every versioned
    dimension needs: classify versions as 'current' (open interval),
    'kept' (closed but inside the 7-day retention horizon, still
    needed for point-in-time queries), or 'expired' (safe to physically
    delete). Emits the audit summary a vacuum job logs BEFORE deleting;
    the delete itself is a partition-overwrite of the expired set
    (sink_overwrite_partition). Point-in-time lookups older than the
    horizon (dim_scd2_lookup) must route to cold storage after this
    runs — that contract is the reason the audit row exists.

    Plan shape: the shared SCD2 interval build (one window exchange on
    user_id), a one-row broadcast cutoff, and a 3-row classification
    agg with map-side combine."""
    versions = scd2_intervals(load_table(spark, sf_dir, "events"))
    cutoff = F.broadcast(
        load_table(spark, sf_dir, "events").agg(
            (F.max("ts") - F.expr("INTERVAL 7 DAYS")).alias("cut")
        )
    )
    return (
        versions.crossJoin(cutoff)
        .groupBy(
            F.when(F.col("valid_to").isNull(), "current")
            .when(F.col("valid_to") >= F.col("cut"), "kept")
            .otherwise("expired")
            .alias("status")
        )
        .agg(
            F.count("*").cast("long").alias("n_versions"),
            F.count_distinct("user_id").cast("long").alias("n_users"),
            F.min("valid_from").alias("min_valid_from"),
            F.max("valid_from").alias("max_valid_from"),
        )
        .orderBy("status")
    )


@query(
    "dim_calendar_build",
    oracle="""
    WITH d AS (
      SELECT CAST(unnest(generate_series(DATE '2024-01-01',
                                         DATE '2024-12-31',
                                         INTERVAL 1 DAY)) AS DATE) AS day
    )
    SELECT day,
           CAST(year(day) AS INTEGER) AS year,
           CAST(quarter(day) AS INTEGER) AS quarter,
           CAST(month(day) AS INTEGER) AS month,
           CAST(day(day) AS INTEGER) AS day_of_month,
           CAST(dayofweek(day) + 1 AS INTEGER) AS dow_sunday1,
           CAST(isodow(day) AS INTEGER) AS iso_dow,
           CAST(weekofyear(day) AS INTEGER) AS iso_week,
           CAST(dayofyear(day) AS INTEGER) AS day_of_year,
           isodow(day) >= 6 AS is_weekend,
           CAST(date_trunc('month', day) AS DATE) AS month_start,
           CAST(last_day(day) AS DATE) AS month_end
    FROM d ORDER BY day
    """,
)
def dim_calendar_build(spark, sf_dir):
    """Calendar-dimension generator for 2024 — the one warehouse table
    every deployment builds from NOTHING (a generator op, the only row
    source in the surface that reads no fixture): one row per day with
    the attribute set downstream rollups join on (ISO week/dow, quarter,
    weekend flag, month bounds). Joining facts to a materialized
    calendar beats re-deriving date parts in every query — the
    dimension is tiny, broadcastable, and the single place fiscal rules
    live.

    Dialect bridges (each verified value-identical): Spark has no isodow
    — derived as ((dayofweek+5) % 7)+1; Spark weekofyear IS ISO week
    (DuckDB's weekofyear likewise); Spark dayofweek is Sunday=1 while
    DuckDB's is Sunday=0, bridged with +1 in the oracle.
    Generation is sequence() + explode over a literal range — map-only,
    365 rows, no shuffle but the presentation sort. sf_dir is accepted
    for signature uniformity and unused."""
    d = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-12-31").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    iso_dow = ((F.dayofweek("day") + 5) % 7) + 1
    return d.select(
        "day",
        F.year("day").cast("int").alias("year"),
        F.quarter("day").cast("int").alias("quarter"),
        F.month("day").cast("int").alias("month"),
        F.dayofmonth("day").cast("int").alias("day_of_month"),
        F.dayofweek("day").cast("int").alias("dow_sunday1"),
        iso_dow.cast("int").alias("iso_dow"),
        F.weekofyear("day").cast("int").alias("iso_week"),
        F.dayofyear("day").cast("int").alias("day_of_year"),
        (iso_dow >= 6).alias("is_weekend"),
        F.trunc("day", "month").alias("month_start"),
        F.last_day("day").alias("month_end"),
    ).orderBy("day")


# Test/observability hook for inc_subject_erasure: [warehouse_path,
# pre_erase_snapshot] of the most recent run, where the snapshot maps
# bucket dir → {file: mtime} taken AFTER the build write and BEFORE the
# erase pass — what pytest compares post-erase state against (a snapshot
# taken after the op returns could never catch an erase that rewrites
# everything; code-review r8 finding).
_LAST_ERASURE_WH: list = []


def _bucket_file_snapshot(wh: str) -> dict[str, dict[str, float]]:
    snap: dict[str, dict[str, float]] = {}
    for d in os.listdir(wh):
        if not d.startswith("bucket="):
            continue
        full = os.path.join(wh, d)
        snap[d] = {
            f: os.path.getmtime(os.path.join(full, f))
            for f in os.listdir(full)
            if f.endswith(".parquet")
        }
    return snap


@query(
    "inc_subject_erasure",
    oracle=f"""
    SELECT CAST(user_id % 16 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS rows_before,
           CAST(SUM(CASE WHEN user_id % {SUBJECT_RESIDUE} = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS rows_deleted,
           CAST(COUNT(*) - SUM(CASE WHEN user_id % {SUBJECT_RESIDUE} = 0
                THEN 1 ELSE 0 END) AS BIGINT) AS rows_after,
           SUM(CASE WHEN user_id % {SUBJECT_RESIDUE} = 0 THEN 1 ELSE 0 END) > 0
             AS rewritten
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def inc_subject_erasure(spark, sf_dir):
    """Right-to-be-forgotten delete propagation (GDPR Art. 17) with a
    per-partition audit — executed against a real warehouse, not just
    planned. The warehouse is laid out SUBJECT-BUCKETED (partition =
    user_id % 16): erasing a subject then touches exactly the buckets
    that can contain them, which is the layout decision that makes
    erasure O(subject's data) instead of O(corpus) at 100 TB (a
    time-partitioned layout forces rewriting every partition the subject
    ever appeared in — here, all of them). The erasure itself is a
    DYNAMIC partition overwrite of the affected buckets' retained rows:
    untouched buckets' files are not rewritten (pytest pins their file
    list), and rows_after is read back from the REWRITTEN warehouse, so
    the driver hash certifies the delete actually propagated.

    Deterministic erasure set: user_id % 97 == 0 (the fixture's Knuth-
    style arbitrary-subset idiom). Full-bucket erasure is handled
    explicitly: a bucket whose rows are ALL erased emits zero rows into
    the dynamic overwrite, which therefore leaves its stale files — so
    those buckets get an explicit partition DROP (a filesystem delete of
    the partition dir; fs.delete on HDFS/S3A — exactly what DELETE on a
    partition boundary compiles to in table formats). The sf0.001
    fixture genuinely exercises this path (one bucket holds only
    subjects), and the audit reads rows_after back from the warehouse so
    a missed drop breaks the driver hash.

    Plan: one partitioned write (build), one semi-join-pruned filtered
    write (erase — the affected-bucket list is a broadcast semi-join),
    one partition-count-bounded driver read of the fully-erased bucket
    list (the one collect, bounded by 16), two audit aggs."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "bucket", (F.col("user_id") % 16).cast("long")
    )
    is_subject = (F.col("user_id") % SUBJECT_RESIDUE) == 0
    affected = ev.filter(is_subject).select("bucket").distinct()
    retained = ev.join(F.broadcast(affected), "bucket", "left_semi").filter(
        ~is_subject
    )
    stats = ev.groupBy("bucket").agg(
        F.count("*").alias("rows_before"),
        F.sum(F.when(is_subject, 1).otherwise(0)).alias("rows_deleted"),
    )
    # the warehouse is events-sized: it lives in a scratch dir, and the
    # ≤16-row audit is pinned before the dir goes
    with scratch("etl_erasure_") as root:
        wh = os.path.join(root, "events_by_subject")
        ev.write.partitionBy("bucket").mode("overwrite").parquet(wh)
        _LAST_ERASURE_WH.clear()
        _LAST_ERASURE_WH.extend([wh, _bucket_file_snapshot(wh)])
        retained.write.partitionBy("bucket").mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(wh)
        # fully-erased buckets: zero retained rows → dynamic overwrite never
        # touched them → explicit partition drop (≤16 buckets, bounded read)
        for r in stats.filter(F.col("rows_before") == F.col("rows_deleted")).collect():
            shutil.rmtree(os.path.join(wh, f"bucket={int(r['bucket'])}"), ignore_errors=True)
        after = (
            spark.read.parquet(wh)
            .groupBy("bucket")
            .agg(F.count("*").alias("rows_after"))
        )
        audit = stats.join(after, "bucket", "left").select(
            F.col("bucket").cast("long").alias("bucket"),
            F.col("rows_before").cast("long").alias("rows_before"),
            F.col("rows_deleted").cast("long").alias("rows_deleted"),
            F.coalesce(F.col("rows_after"), F.lit(0)).cast("long").alias("rows_after"),
            (F.col("rows_deleted") > 0).alias("rewritten"),
        ).localCheckpoint(eager=True)
    return audit.orderBy("bucket")


# Pytest hook for inc_subject_export: [warehouse_path, pruned_input_files]
# of the most recent run.
_LAST_EXPORT_WH: list = []


@query(
    "inc_subject_export",
    oracle=f"""
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_event_types,
           MIN(ts) AS first_ts,
           MAX(ts) AS last_ts,
           {sql_dsum("value", 4)} AS total_value
    FROM events WHERE user_id % {SUBJECT_RESIDUE} = 0
    GROUP BY user_id ORDER BY user_id
    """,
)
def inc_subject_export(spark, sf_dir):
    """Subject-access-request export (GDPR Art. 15) — the READ twin of
    inc_subject_erasure, against the same SUBJECT-BUCKETED warehouse
    (partition = user_id % 16): exporting a subject's history touches
    exactly the buckets that can contain them, so the scan is O(subject's
    data) at 100 TB, not a corpus scan. The bucket list is a bounded
    driver read (≤16 distinct residues of the subject set), pushed into
    the scan as a PARTITION filter — `.explain` shows PartitionFilters on
    the bucket directory column, and pytest pins that the pruned scan's
    inputFiles contain ONLY subject-bucket files. Per-subject export
    row: event count, distinct types, first/last activity, exact-decimal
    value total (the dsum discipline).

    Same reclamation as erasure: the export result (subject-count-sized)
    is eagerly checkpointed and the events-sized scratch warehouse removed
    before returning."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "bucket", (F.col("user_id") % 16).cast("long")
    )
    is_subject = (F.col("user_id") % SUBJECT_RESIDUE) == 0
    buckets = sorted(
        int(r["bucket"])
        for r in ev.filter(is_subject).select("bucket").distinct().collect()
    )  # bounded by 16 — the watermark-read pattern
    with scratch("etl_export_") as root:
        wh = os.path.join(root, "events_by_subject")
        ev.write.partitionBy("bucket").mode("overwrite").parquet(wh)
        # explicit partition-directory selection (manifest-level pruning):
        # only subject buckets are even LISTED — the structural form of the
        # O(subject) scan; basePath keeps the bucket partition column.
        # (A filter on the partition column prunes identically in the
        # physical scan, but inputFiles() reports the pre-pruning relation,
        # so the explicit form is also the testable one.)
        if buckets:
            pruned = (
                spark.read.option("basePath", wh)
                .parquet(*[os.path.join(wh, f"bucket={b}") for b in buckets])
            )
            scanned = list(pruned.inputFiles())
        else:
            # zero-subject corpus (ADVICE r9): `.parquet(*[])` raises, and
            # there is nothing to list — an empty frame with the warehouse
            # schema preserves the export contract and scans no files.
            pruned = ev.limit(0)
            scanned = []
        _LAST_EXPORT_WH.clear()
        _LAST_EXPORT_WH.extend([wh, scanned])
        export = (
            pruned.filter(is_subject)
            .groupBy("user_id")
            .agg(
                F.count("*").cast("long").alias("n_events"),
                F.count_distinct("event_type").cast("long").alias("n_event_types"),
                F.min("ts").alias("first_ts"),
                F.max("ts").alias("last_ts"),
                dsum("value", 4).alias("total_value"),
            )
            .select(
                F.col("user_id").cast("long").alias("user_id"),
                "n_events",
                "n_event_types",
                "first_ts",
                "last_ts",
                "total_value",
            )
            .localCheckpoint(eager=True)
        )
    return export.orderBy("user_id")
