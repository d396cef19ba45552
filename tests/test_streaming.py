"""Streaming + incremental layer tests (SURVEY.md §2.9, §5.2 layer 2).

DuckDB has no watermark semantics, so these ops are pinned here instead:
determinism across runs, the dedup/late-data contracts, and the
foreachBatch-upsert == batch-recompute equivalence."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from conftest import SF_DIR

from etl_suite_spark.io import load_table
from etl_suite_spark.registry import QUERIES


def test_tumbling_agg_deterministic(spark):
    a = QUERIES["stream_tumbling_agg"](spark, SF_DIR).collect()
    b = QUERIES["stream_tumbling_agg"](spark, SF_DIR).collect()
    assert a == b
    assert len(a) > 0


def test_tumbling_agg_matches_batch_for_closed_windows(spark):
    """Every emitted window must agree exactly with the batch recompute of
    the same window — append mode may emit fewer windows (the tail stays
    open past the final watermark), never different values."""
    emitted = {
        (r.win_start, r.event_type): (r.n, r.sum_value)
        for r in QUERIES["stream_tumbling_agg"](spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    batch = {
        (r.win_start, r.event_type): (r.n, r.sum_value)
        for r in ev.groupBy(F.window("ts", "5 minutes").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("string")
            .cast("double")
            .alias("sum_value"),
        )
        .select(F.col("win.start").alias("win_start"), "event_type", "n", "sum_value")
        .collect()
    }
    assert emitted  # something closed
    for k, v in emitted.items():
        assert batch[k] == v


def test_stream_dedup_suppresses_redelivery(spark):
    """Re-delivered event_ids must not inflate the per-type counts: the
    deduped stream equals the original (already-unique) events exactly."""
    deduped = {
        r.event_type: r.n for r in QUERIES["stream_dedup"](spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    base = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert deduped == base


def test_stream_foreachbatch_upsert_equals_batch_recompute(spark):
    """The merged warehouse (built batch-by-batch with re-deliveries in the
    final file) must equal the plain batch recompute — idempotent upsert."""
    merged = {
        r.event_type: r.n
        for r in QUERIES["stream_foreachbatch_upsert"](spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    base = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert merged == base


def test_stream_late_data_dropped(spark):
    """Crafted far-late rows (copies of the first day injected in the last
    file) must not change the counts of the already-finalized windows."""
    with_late = {
        r.win_start: r.n for r in QUERIES["stream_late_data"](spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    base = {
        r.win_start: r.n
        for r in ev.filter(F.col("ts") < "2024-01-02 00:00:00")
        .groupBy(F.window("ts", "5 minutes").alias("win"))
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("win_start"), "n")
        .collect()
    }
    assert with_late  # the early windows did close and emit
    for k, n in with_late.items():
        assert base[k] == n, "late duplicate leaked into a finalized window"


def test_stream_stateful_running_counters_match_batch(spark):
    """Final per-user counters from applyInPandasWithState equal the batch
    groupBy — state accumulated correctly across micro-batches."""
    out = {
        r.user_id: (r.n_events, r.sum_value)
        for r in QUERIES["stream_stateful_custom"](spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    base = {
        r.user_id: (r.n, r.sv)
        for r in ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias(
                "sv"
            ),
        )
        .collect()
    }
    assert set(out) == set(base)
    for u, (n, sv) in base.items():
        assert out[u][0] == n
        assert abs(out[u][1] - sv) < 1e-9


def test_stream_static_join_matches_batch(spark):
    """Per-(tier, type) counts from the stream-static join equal the pure
    batch join — the enrichment is stateless, so nothing may drop."""
    from pyspark.sql import Window

    out = {
        (r.tier, r.event_type): r.n
        for r in QUERIES["stream_static_join"](spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    tiers = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("string")
            .cast("double")
            .alias("total_value")
        )
        .select(
            "user_id",
            F.ntile(3)
            .over(Window.orderBy(F.col("total_value").desc(), F.col("user_id").asc()))
            .alias("tier"),
        )
    )
    base = {
        (r.tier, r.event_type): r.n
        for r in ev.join(tiers, "user_id")
        .groupBy("tier", "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert out == base


def test_stream_stream_join_matches_batch_within_bound(spark):
    """Attributed (click, purchase) pairs equal the batch self-join with
    the same 30-minute bound — watermark eviction must not lose pairs
    whose events are within the horizon, and determinism must hold."""
    a = QUERIES["stream_stream_join"](spark, SF_DIR).collect()
    b = QUERIES["stream_stream_join"](spark, SF_DIR).collect()
    assert a == b
    out = {r.user_id: r.n_attributed for r in a}
    ev = load_table(spark, SF_DIR, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts")
    )
    base = {
        r.user_id: r.n
        for r in clicks.join(
            purchases,
            F.expr(
                "c_user = user_id AND purchase_ts >= click_ts"
                " AND purchase_ts <= click_ts + interval 30 minutes"
            ),
        )
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert out == base


def test_incremental_second_tick_is_empty(spark, tmp_path):
    """After one tick the watermark sits at max(ts); a second tick must
    extract zero rows and leave the state file unchanged."""
    from etl_suite_spark.plans.incremental import (
        advance_watermark,
        incremental_extract,
        run_incremental_tick,
    )

    state = str(tmp_path / "state.json")
    advance_watermark(state, "2024-01-15 00:00:00")
    first = run_incremental_tick(spark, SF_DIR, state, lambda df: df)
    assert first.count() > 0
    with open(state) as f:
        wm_after_first = json.load(f)["watermark"]
    second = incremental_extract(spark, SF_DIR, "events", state)
    assert second.count() == 0
    run_incremental_tick(spark, SF_DIR, state, lambda df: df)
    with open(state) as f:
        assert json.load(f)["watermark"] == wm_after_first


def test_incremental_filter_pushed_to_scan(spark, tmp_path):
    """The watermark predicate must reach the parquet reader."""
    from etl_suite_spark.plans.incremental import advance_watermark, incremental_extract

    state = str(tmp_path / "state.json")
    advance_watermark(state, "2024-01-15 00:00:00")
    plan = incremental_extract(spark, SF_DIR, "events", state)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan


def test_pipeline_spec_incremental_and_sink(spark, duck, tmp_path):
    """Full pipeline spec: incremental source + transform + partitioned
    sink; the watermark lands exactly on the slice's max ts."""
    from etl_suite_spark.plans.incremental import advance_watermark, read_watermark
    from etl_suite_spark.plans.pipeline import run_pipeline

    root = str(tmp_path)
    state = os.path.join(root, "state.json")
    advance_watermark(state, "2024-01-15 00:00:00")
    spec = {
        "source": {"table": "events"},
        "transforms": [
            {"op": "derive", "cols": {"day": "date_trunc('day', ts)"}},
            {
                "op": "groupby",
                "keys": ["day", "event_type"],
                "aggs": {"n": "count(*)"},
            },
        ],
        "sink": {
            "format": "parquet",
            "path": os.path.join(root, "out"),
            "partition_by": ["event_type"],
        },
        "incremental": {"watermark_col": "ts", "state_path": state},
    }
    run_pipeline(spark, SF_DIR, spec)
    written = spark.read.parquet(os.path.join(root, "out"))
    assert written.count() > 0
    hi = duck.execute(
        "SELECT max(ts) FROM events WHERE ts > TIMESTAMP '2024-01-15 00:00:00'"
    ).fetchone()[0]
    assert read_watermark(state, "x") == hi.strftime("%Y-%m-%d %H:%M:%S.%f")


def test_scheduler_runs_due_jobs_and_advances_watermark(spark, tmp_path):
    """Two scheduler passes: the first tick processes the window past the
    initial watermark; the second pass (immediately due again) extracts
    nothing new but still runs idempotently."""
    from etl_suite_spark.plans.incremental import advance_watermark, read_watermark
    from etl_suite_spark.plans.scheduler import Job, Scheduler

    root = str(tmp_path)
    state = os.path.join(root, "wm.json")
    advance_watermark(state, "2024-01-15 00:00:00")
    spec = {
        "source": {"table": "events"},
        "transforms": [
            {"op": "derive", "cols": {"day": "date_trunc('day', ts)"}},
            {"op": "groupby", "keys": ["day"], "aggs": {"n": "count(*)"}},
        ],
        "sink": {"format": "parquet", "path": os.path.join(root, "out")},
        "incremental": {"watermark_col": "ts", "state_path": state},
    }
    sched = Scheduler(spark, SF_DIR).add(Job("daily_rollup", spec, interval_s=0))
    assert sched.run_pending(now=1000.0) == ["daily_rollup"]
    wm1 = read_watermark(state, "x")
    assert wm1 > "2024-01-15"
    # second pass: due again (interval 0); no new data past the watermark.
    assert sched.run_pending(now=2000.0) == ["daily_rollup"]
    assert read_watermark(state, "x") == wm1
    # not due yet → nothing runs
    sched.jobs[0].interval_s = 9999
    assert sched.run_pending(now=2500.0) == []
