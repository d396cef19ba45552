"""Single-pass ETL tick (plans/pipeline.py, plans/incremental.py): a tick
lists its source once and reads only the files that the state's
consumed-file record does not hold. The parquet footers of those files give
the (min, max) of the watermark column: the watermark filter is left out
only when the min is past the watermark, so a warm tick compiles no
generated class, and the max is the new watermark, so a tick runs no job
beyond the sink's. A source the footers cannot cover (``k=v`` layout, no
statistics, a null) ends its tick with one max job over the frame the
sink's compile built. The stored watermark round-trips under any process
zone. The linear, DAG and checkpointed compilers share one stage builder.

Every expectation is computed independently with DuckDB over the same
parquet files."""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from types import SimpleNamespace

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from conftest import SF_DIR, spark_jobs

from etl_suite_spark.plans import incremental, pipeline
from etl_suite_spark.plans.incremental import _utc_micros, advance_watermark, read_watermark, run_incremental_tick
from etl_suite_spark.plans.pipeline import compile_dag, compile_pipeline, run_dag_checkpointed, run_pipeline

WM0 = "2024-01-15 00:00:00"
FMT = "%Y-%m-%d %H:%M:%S.%f"
DAILY = [
    {"op": "derive", "cols": {"day": "to_date(ts)"}},
    {"op": "groupby", "keys": ["day", "event_type"], "aggs": {"n": "count(*)"}},
]


@pytest.fixture
def tick(tmp_path):
    """A private sf dir whose events table is a directory new batches can
    land in, a watermark state file at ``WM0`` and an append sink path."""
    events = tmp_path / "sf" / "events.parquet"
    events.mkdir(parents=True)
    shutil.copy(os.path.join(SF_DIR, "events.parquet"), events / "part-0.parquet")
    state = str(tmp_path / "state.json")
    advance_watermark(state, WM0)
    return SimpleNamespace(
        sf=str(tmp_path / "sf"), events=str(events), state=state, sink=str(tmp_path / "sink")
    )


@pytest.fixture
def reads(monkeypatch):
    """Every ``DataFrameReader.parquet`` call made while the test runs."""
    from pyspark.sql.readwriter import DataFrameReader

    calls: list = []
    parquet = DataFrameReader.parquet

    def counted(self, *paths, **options):
        calls.append(paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", counted)
    return calls


@pytest.fixture
def max_jobs(monkeypatch):
    """The frame of every fallback max job a tick runs."""
    frames: list = []
    slice_max_ = incremental.slice_max

    def counted(df, watermark_col):
        frames.append(df)
        return slice_max_(df, watermark_col)

    monkeypatch.setattr(incremental, "slice_max", counted)
    return frames


def spec(t, transforms=DAILY):
    return {
        "source": {"table": "events"},
        "transforms": transforms,
        "sink": {"format": "parquet", "path": t.sink, "mode": "append"},
        "incremental": {"watermark_col": "ts", "state_path": t.state},
    }


def slice_max(files: str) -> str:
    hi = duckdb.sql(
        f"SELECT max(ts) FROM read_parquet('{files}') WHERE ts > TIMESTAMP '{WM0}'"
    ).fetchone()[0]
    return hi.strftime(FMT)


def expected_daily(files: str) -> dict:
    rows = duckdb.sql(
        f"SELECT CAST(ts AS DATE), event_type, count(*) FROM read_parquet('{files}')"
        f" WHERE ts > TIMESTAMP '{WM0}' GROUP BY 1, 2"
    ).fetchall()
    return {(day, et): n for day, et, n in rows}


def sunk_daily(spark, t) -> dict:
    rows = (
        spark.read.parquet(t.sink)
        .groupBy("day", "event_type")
        .agg(F.sum("n").alias("n"))
        .collect()
    )
    return {(r.day, r.event_type): r.n for r in rows}


def late_batch(days: int = 40) -> pa.Table:
    """The fixture's events shifted ``days`` later under fresh event ids:
    with the default, every row is past any watermark the first slice can
    produce."""
    t = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
    ts = t.column("ts").to_numpy() + np.timedelta64(days, "D")
    t = t.set_column(t.schema.get_field_index("ts"), "ts", pa.array(ts, pa.timestamp("us")))
    ids = pa.array(t.column("event_id").to_numpy() + 25_000 * days)
    return t.set_column(t.schema.get_field_index("event_id"), "event_id", ids)


def land_late_batch(path: str, days: int = 40) -> None:
    pq.write_table(late_batch(days), path)


def source_reads(reads: list, t) -> list:
    """The file names of each parquet read of the tick's events table."""
    return [
        tuple(os.path.basename(p) for p in paths)
        for paths in reads
        if all(os.path.dirname(p).endswith(t.events) for p in paths)
    ]


def read_names(df) -> list:
    """The names of the files the compiled slice ``df`` reads."""
    return sorted(os.path.basename(f) for f in df.inputFiles())


def test_tick_watermark_comes_from_the_footers_it_read(spark, tick, reads, max_jobs, monkeypatch):
    run_pipeline(spark, tick.sf, spec(tick))
    assert len(reads) == 1, reads  # one compile, no second read for the max
    assert max_jobs == []
    files = f"{tick.events}/*.parquet"
    assert read_watermark(tick.state, "") == slice_max(files)
    assert sunk_daily(spark, tick) == expected_daily(files)

    # the next tick's source has grown behind its first file, so the schema
    # memo hits: construction launches no job, the tick's jobs are the sink's
    compiled = []
    compile_ = pipeline.compile_pipeline

    def counted(*args, **kwargs):
        compiled.append(spark_jobs(spark, lambda: compile_(*args, **kwargs)))
        return compiled[-1][0]

    monkeypatch.setattr(pipeline, "compile_pipeline", counted)
    land_late_batch(os.path.join(tick.events, "part-1.parquet"))
    run_pipeline(spark, tick.sf, spec(tick))
    assert [jobs for _, jobs in compiled] == [0]
    # one source read per tick, of the files landed since the last
    assert source_reads(reads, tick) == [("part-0.parquet",), ("part-1.parquet",)], reads
    assert read_watermark(tick.state, "") == slice_max(files)
    assert sunk_daily(spark, tick) == expected_daily(files)


def test_empty_slice_leaves_watermark_unchanged(spark, tick):
    run_pipeline(spark, tick.sf, spec(tick))
    wm = read_watermark(tick.state, "")
    before = sunk_daily(spark, tick)
    # no unconsumed file: the sink's write runs, no max job over no files
    _, jobs = spark_jobs(spark, lambda: run_pipeline(spark, tick.sf, spec(tick)))
    assert jobs == 1
    assert read_watermark(tick.state, "") == wm
    assert sunk_daily(spark, tick) == before


def test_limit_spec_takes_the_footer_watermark(spark, tick, reads, max_jobs):
    """A ``limit`` lets only some rows through to the sink; the watermark
    is still the whole slice's max, from the footers, with no max job."""
    run_pipeline(spark, tick.sf, spec(tick, [{"op": "limit", "n": 20}]))
    assert max_jobs == []
    assert len(reads) == 1, reads
    assert read_watermark(tick.state, "") == slice_max(f"{tick.events}/*.parquet")


def test_join_to_empty_table_takes_the_footer_watermark(spark, tick, reads, max_jobs):
    """Adaptive execution prunes the scan under an inner join against an
    empty table; the watermark is still the slice's max, from the footers."""
    schema = pq.read_schema(os.path.join(SF_DIR, "customer.parquet"))
    pq.write_table(schema.empty_table(), os.path.join(tick.sf, "customer.parquet"))
    join = {"op": "join", "table": "customer", "on": "user_id = c_custkey", "how": "inner"}
    run_pipeline(spark, tick.sf, spec(tick, [join]))
    assert max_jobs == []
    assert len(reads) == 2, reads  # events and customer
    assert read_watermark(tick.state, "") == slice_max(f"{tick.events}/*.parquet")


@pytest.mark.parametrize("source", ["partitioned", "no_statistics", "null"])
def test_uncovered_source_takes_one_max_job(spark, tick, max_jobs, source):
    """A source whose footers cannot give the range (a ``k=v`` layout, a
    file written without statistics, a null ``ts``) ends its tick with
    exactly one max job, and sinks and stores what DuckDB computes."""
    part0 = os.path.join(tick.events, "part-0.parquet")
    t = pq.read_table(part0)
    if source == "partitioned":
        os.mkdir(os.path.join(tick.events, "k=0"))
        os.replace(part0, os.path.join(tick.events, "k=0", "part-0.parquet"))
    elif source == "no_statistics":
        pq.write_table(t, part0, write_statistics=False)
    else:
        ts = t.column("ts").to_pylist()
        ts[0] = None
        i = t.schema.get_field_index("ts")
        pq.write_table(t.set_column(i, "ts", pa.array(ts, t.schema.field(i).type)), part0)
    run_pipeline(spark, tick.sf, spec(tick))
    assert len(max_jobs) == 1
    files = f"{tick.events}/**/*.parquet"
    assert read_watermark(tick.state, "") == slice_max(files)
    assert sunk_daily(spark, tick) == expected_daily(files)


def test_warm_incremental_tick_launches_no_job(spark, tick):
    """``run_incremental_tick`` takes its new watermark from the footers of
    the files it read, so once the schema memo is warm it launches no Spark
    job (its max job launched 2)."""
    run_incremental_tick(spark, tick.sf, tick.state, lambda df: df)
    advance_watermark(tick.state, WM0)
    _, jobs = spark_jobs(spark, lambda: run_incremental_tick(spark, tick.sf, tick.state, lambda df: df))
    assert jobs == 0
    assert read_watermark(tick.state, "") == slice_max(f"{tick.events}/*.parquet")


def test_filter_transform_reaches_the_parquet_reader(spark, tick):
    """Nothing sits between the extract and the transforms, so a spec's
    ``filter`` transform is pushed into the source scan's data filters (the
    plan string cuts those short; the parquet filters made of them show)."""
    click = {"op": "filter", "predicate": "event_type = 'click'"}
    df = run_pipeline(spark, tick.sf, spec(tick, [click] + DAILY))
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = [line.split("PushedFilters: ")[1] for line in plan.splitlines() if "FileScan parquet" in line]
    assert len(pushed) == 1 and "EqualTo(event_type,click)" in pushed[0], plan
    assert {et for _, et in sunk_daily(spark, tick)} == {"click"}


def test_file_landing_after_the_write_is_sunk_next_tick(spark, tick, monkeypatch):
    """A batch that lands between the sink write and the watermark update
    must stay past the watermark: the watermark is the max of what the sink
    consumed, not of a listing taken after it."""
    from etl_suite_spark.sources import sinks

    write_sink = sinks.write_sink
    late = os.path.join(tick.events, "part-1.parquet")

    def write_then_land(df, sink):
        write_sink(df, sink)
        if not os.path.exists(late):
            land_late_batch(late)

    monkeypatch.setattr(sinks, "write_sink", write_then_land)
    run_pipeline(spark, tick.sf, spec(tick))
    assert read_watermark(tick.state, "") == slice_max(os.path.join(tick.events, "part-0.parquet"))
    run_pipeline(spark, tick.sf, spec(tick))
    files = f"{tick.events}/*.parquet"
    assert read_watermark(tick.state, "") == slice_max(files)
    assert sunk_daily(spark, tick) == expected_daily(files)


@pytest.mark.parametrize("layout", ["flat", "partitioned"])
def test_late_file_on_the_limit_spec_is_sunk_next_tick(spark, tick, monkeypatch, layout):
    """A batch landing between the sink write and the end of the tick stays
    past the watermark. A flat source's watermark comes from the footers of
    the listed files; a ``k=v`` source has no flat listing, so its max job
    runs over the frame the sink compile extracted, whose files were fixed
    when it was built, not over a read taken after the write."""
    from etl_suite_spark.sources import sinks

    first, late = "part-0.parquet", "part-1.parquet"
    if layout == "partitioned":
        os.mkdir(os.path.join(tick.events, "k=0"))
        os.replace(os.path.join(tick.events, first), os.path.join(tick.events, "k=0", first))
        os.mkdir(os.path.join(tick.events, "k=1"))
        first, late = os.path.join("k=0", first), os.path.join("k=1", late)
    write_sink = sinks.write_sink

    def write_then_land(df, sink):
        write_sink(df, sink)
        if not os.path.exists(os.path.join(tick.events, late)):
            land_late_batch(os.path.join(tick.events, late))

    monkeypatch.setattr(sinks, "write_sink", write_then_land)
    limited = spec(tick, DAILY + [{"op": "limit", "n": 10**9}])
    run_pipeline(spark, tick.sf, limited)
    assert read_watermark(tick.state, "") == slice_max(os.path.join(tick.events, first))
    second = read_names(run_pipeline(spark, tick.sf, limited))
    # a flat source reads only the late file, a partitioned one reads whole
    assert second == (["part-1.parquet"] if layout == "flat" else ["part-0.parquet", "part-1.parquet"])
    files = f"{tick.events}/**/*.parquet"
    assert read_watermark(tick.state, "") == slice_max(files)
    assert sunk_daily(spark, tick) == expected_daily(files)


def test_each_tick_reads_only_the_files_landed_since_the_last(spark, tick):
    assert read_names(run_pipeline(spark, tick.sf, spec(tick))) == ["part-0.parquet"]
    for i, days in enumerate((40, 80), start=1):
        land_late_batch(os.path.join(tick.events, f"part-{i}.parquet"), days)
        assert read_names(run_pipeline(spark, tick.sf, spec(tick))) == [f"part-{i}.parquet"]
    wm = read_watermark(tick.state, "")
    assert read_names(run_pipeline(spark, tick.sf, spec(tick))) == []
    files = f"{tick.events}/*.parquet"
    assert read_watermark(tick.state, "") == wm == slice_max(files)
    assert sunk_daily(spark, tick) == expected_daily(files)
    with open(tick.state) as f:
        assert sorted(os.path.basename(p) for p, _, _ in json.load(f)["files"]) == [
            "part-0.parquet", "part-1.parquet", "part-2.parquet"
        ]


def test_consumed_file_rewritten_in_place_is_read_again(spark, tick):
    """A file is known by (path, length, mtime): rewritten with rows past
    the watermark, it is new to the next tick, whose filter keeps only
    those rows."""
    part0 = os.path.join(tick.events, "part-0.parquet")
    run_pipeline(spark, tick.sf, spec(tick))
    pq.write_table(pa.concat_tables([pq.read_table(part0), late_batch()]), part0)
    assert read_names(run_pipeline(spark, tick.sf, spec(tick))) == ["part-0.parquet"]
    assert read_watermark(tick.state, "") == slice_max(part0)
    assert sunk_daily(spark, tick) == expected_daily(part0)


def test_legacy_state_without_files_reads_everything_once(spark, tick):
    """A state file written before the consumed-file record consumed
    nothing: its first tick reads every file, then records them."""
    with open(tick.state, "w") as f:
        json.dump({"watermark": WM0}, f)
    land_late_batch(os.path.join(tick.events, "part-1.parquet"))
    first = run_pipeline(spark, tick.sf, spec(tick))
    assert read_names(first) == ["part-0.parquet", "part-1.parquet"]
    assert read_names(run_pipeline(spark, tick.sf, spec(tick))) == []
    files = f"{tick.events}/*.parquet"
    assert read_watermark(tick.state, "") == slice_max(files)
    assert sunk_daily(spark, tick) == expected_daily(files)


def test_partitioned_source_reads_whole_and_sinks_the_same(spark, tmp_path):
    """A ``k=v`` source has no flat listing: every tick reads the whole
    table under the filter and records no files. It sinks the same rows
    and watermark as the same batches in a flat source, which records."""
    ticks = {}
    for layout in ("flat", "partitioned"):
        root = tmp_path / layout
        events = root / "sf" / "events.parquet"
        events.mkdir(parents=True)
        t = SimpleNamespace(
            sf=str(root / "sf"), events=str(events), state=str(root / "state.json"),
            sink=str(root / "sink"),
        )
        advance_watermark(t.state, WM0)
        dirs = ("", "") if layout == "flat" else ("k=0", "k=1")
        for i, d in enumerate(dirs):
            (events / d).mkdir(exist_ok=True)
            if i == 0:
                shutil.copy(os.path.join(SF_DIR, "events.parquet"), events / d / "part-0.parquet")
            else:
                land_late_batch(str(events / d / "part-1.parquet"))
            df = run_pipeline(spark, t.sf, spec(t))
        with open(t.state) as f:
            state = json.load(f)
        ticks[layout] = (state["watermark"], sunk_daily(spark, t), len(state["files"]), len(df.inputFiles()))
    assert ticks["flat"][:2] == ticks["partitioned"][:2]
    assert ticks["flat"][2:] == (2, 1)  # recorded both, read only the new one
    assert ticks["partitioned"][2:] == (0, 2)  # recorded none, read both


def compiled_classes(spark) -> int:
    """Generated classes Spark has compiled in this JVM so far."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def watermark_filtered(df) -> bool:
    """Whether the optimized plan of a compiled tick filters on ``ts``."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return any(line.lstrip(" :+-").startswith("Filter") and "ts#" in line for line in plan.splitlines())


def test_warm_ticks_compile_no_generated_class(spark, tick):
    """Once the footers prove each new batch past the watermark, a tick's
    plan holds no watermark literal, so after the warm-up every class it
    needs comes from the codegen cache (with the filter, each new
    watermark compiled 2 classes)."""
    run_pipeline(spark, tick.sf, spec(tick))  # the first file holds rows at or below WM0
    compiled, filtered = [], []
    for i, days in enumerate((40, 80, 120, 160), start=1):
        land_late_batch(os.path.join(tick.events, f"part-{i}.parquet"), days)
        before = compiled_classes(spark)
        filtered.append(watermark_filtered(run_pipeline(spark, tick.sf, spec(tick))))
        compiled.append(compiled_classes(spark) - before)
    assert compiled[2:] == [0, 0], compiled
    assert filtered == [False] * 4
    files = f"{tick.events}/*.parquet"
    assert read_watermark(tick.state, "") == slice_max(files)
    assert sunk_daily(spark, tick) == expected_daily(files)


@pytest.fixture
def nanos_as_long(spark):
    """Spark 4.1 reads parquet TIMESTAMP(NANOS) only as raw longs, which
    ``io.load_files`` turns into µs timestamps (floor); restored after."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    saved = spark.conf.get(key)
    spark.conf.set(key, "true")
    yield
    spark.conf.set(key, saved)


def duck_tick(path: str, wm: str):
    """DuckDB's daily counts and max ts over the rows of ``path`` past ``wm``."""
    where = f"FROM read_parquet('{path}') WHERE ts > TIMESTAMP '{wm}'"
    rows = duckdb.sql(f"SELECT CAST(ts AS DATE), event_type, count(*) {where} GROUP BY 1, 2").fetchall()
    return {(day, et): n for day, et, n in rows}, duckdb.sql(f"SELECT max(ts) {where}").fetchone()[0]


@pytest.mark.parametrize("case", ["past", "equal", "below", "null", "nanos", "no_statistics"])
def test_watermark_filter_is_left_out_only_when_footers_prove_it(spark, tick, request, case):
    """The second tick's file is a late batch whose first row is replaced
    (except for ``past``) by one the filter must drop: at the watermark,
    1 µs below it, a null ``ts``, a NANOS row 500 ns past it (Spark reads
    it truncated to the watermark's µs), or, in a file written without
    statistics, 1 µs below it. Only ``past`` plans no filter, and every
    case sinks and stores exactly what DuckDB computes."""
    unit = "us"
    part0 = os.path.join(tick.events, "part-0.parquet")
    if case == "nanos":
        request.getfixturevalue("nanos_as_long")
        unit = "ns"
        t = pq.read_table(part0)
        ts = t.column("ts").cast(pa.timestamp(unit))
        pq.write_table(t.set_column(t.schema.get_field_index("ts"), "ts", ts), part0)
    run_pipeline(spark, tick.sf, spec(tick))
    wm = read_watermark(tick.state, "")
    w = np.datetime64(wm.replace(" ", "T"), unit)
    bad = {"equal": w, "below": w - 1, "null": None, "nanos": w + 500, "no_statistics": w - 1}
    t = late_batch()
    ts = list(t.column("ts").cast(pa.timestamp(unit)).to_numpy())
    ets = t.column("event_type").to_pylist()
    if case != "past":
        ts[0], ets[0] = bad[case], "straggler"
    t = t.set_column(t.schema.get_field_index("ts"), "ts", pa.array(ts, pa.timestamp(unit)))
    t = t.set_column(t.schema.get_field_index("event_type"), "event_type", pa.array(ets))
    part1 = os.path.join(tick.events, "part-1.parquet")
    pq.write_table(t, part1, write_statistics=case != "no_statistics")

    df = run_pipeline(spark, tick.sf, spec(tick))
    assert read_names(df) == ["part-1.parquet"]
    assert watermark_filtered(df) == (case != "past")
    first, _ = duck_tick(part0, WM0)
    second, hi = duck_tick(part1, wm)
    sunk = sunk_daily(spark, tick)
    assert not any(et == "straggler" for _, et in sunk)
    assert sunk == {k: first.get(k, 0) + second.get(k, 0) for k in first.keys() | second.keys()}
    assert read_watermark(tick.state, "") == hi.strftime(FMT)


@pytest.fixture
def new_york(monkeypatch):
    """The Python process in a non-UTC zone; the Spark session stays UTC."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_watermark_is_zone_free_under_a_non_utc_process(spark, tick, new_york):
    """PySpark renders a collected timestamp in the process's zone while
    ``to_timestamp`` reads the stored string in the session zone; the
    stored watermark must be the session-zone max, or the next tick
    re-sinks the offset's rows into the append sink."""
    files = f"{tick.events}/*.parquet"
    run_pipeline(spark, tick.sf, spec(tick))
    assert read_watermark(tick.state, "") == slice_max(files)
    run_pipeline(spark, tick.sf, spec(tick))  # nothing new past the watermark
    assert read_watermark(tick.state, "") == slice_max(files)
    assert sunk_daily(spark, tick) == expected_daily(files)  # nothing re-sunk

    state = os.path.join(os.path.dirname(tick.state), "tick.json")
    advance_watermark(state, WM0)
    run_incremental_tick(spark, tick.sf, state, lambda df: df)
    assert read_watermark(state, "") == slice_max(files)


def test_watermark_parses_as_utc_wall_clock_under_a_non_utc_process(new_york):
    """The footer proof reads the watermark as the UTC session zone does,
    whatever zone the Python process runs in; a form the engine does not
    write proves nothing, so the filter stays."""
    assert _utc_micros("1970-01-01 00:00:00") == 0
    assert _utc_micros("2024-01-15 00:00:00.5") == 1_705_276_800_500_000
    assert _utc_micros("2024-01-15T00:00:00") is None


def test_linear_dag_and_checkpointed_compilers_agree(spark, tmp_path):
    """A spec with a broadcast table join and a filter gives the same rows
    through the linear compiler, a one-stage DAG and the checkpointed
    runner; the checkpointed runner rejects a cycle before computing."""
    linear = {
        "source": {"table": "orders"},
        "transforms": [
            {
                "op": "join",
                "table": "customer",
                "on": "o_custkey = c_custkey",
                "how": "inner",
                "broadcast": True,
            },
            {"op": "filter", "predicate": "c_mktsegment = 'BUILDING'"},
            {"op": "select", "cols": ["o_orderkey", "c_name", "o_totalprice"]},
        ],
    }
    dag = {"stages": {"only": linear}, "output": "only"}
    want = sorted(compile_pipeline(spark, SF_DIR, linear).collect())
    assert want
    assert sorted(compile_dag(spark, SF_DIR, dag).collect()) == want
    ckpt = str(tmp_path / "ckpt")
    assert sorted(run_dag_checkpointed(spark, SF_DIR, dag, ckpt).collect()) == want

    cycle = {
        "stages": {"a": {"source": {"stage": "b"}}, "b": {"source": {"stage": "a"}}},
        "output": "a",
    }
    with pytest.raises(ValueError, match="cycle"):
        run_dag_checkpointed(spark, SF_DIR, cycle, ckpt)


def test_checkpoints_recompute_after_a_source_rewrite(spark, tmp_path):
    """The checkpoint fingerprint folds in the source tables' files: a
    rewritten ``orders`` recomputes every stage of the diamond DAG, and the
    rows are the lazy compiler's over the new data."""
    sf = tmp_path / "sf"
    sf.mkdir()
    orders = sf / "orders.parquet"
    shutil.copy(os.path.join(SF_DIR, "orders.parquet"), orders)
    ckpt = str(tmp_path / "ckpt")
    run_dag_checkpointed(spark, str(sf), pipeline._DAG, ckpt)
    assert sorted(pipeline._LAST_COMPUTED) == ["base", "hi", "lo", "out"]
    run_dag_checkpointed(spark, str(sf), pipeline._DAG, ckpt)
    assert pipeline._LAST_COMPUTED == []

    t = pq.read_table(orders)
    pq.write_table(t.slice(0, t.num_rows // 2), orders)
    got = sorted(run_dag_checkpointed(spark, str(sf), pipeline._DAG, ckpt).collect())
    assert sorted(pipeline._LAST_COMPUTED) == ["base", "hi", "lo", "out"]
    assert got == sorted(compile_dag(spark, str(sf), pipeline._DAG).collect())


def test_warm_checkpointed_run_launches_no_job(spark, tmp_path):
    """A warm run over an unchanged checkpoint root reads every stage
    through the schema memo: no stage computes and no job is launched."""
    ckpt = str(tmp_path / "ckpt")
    run_dag_checkpointed(spark, SF_DIR, pipeline._DAG, ckpt)
    out, jobs = spark_jobs(
        spark, lambda: run_dag_checkpointed(spark, SF_DIR, pipeline._DAG, ckpt)
    )
    assert pipeline._LAST_COMPUTED == []
    assert jobs == 0
    assert sorted(out.collect()) == sorted(compile_dag(spark, SF_DIR, pipeline._DAG).collect())


def test_checkpoints_recompute_after_the_watermark_advances(spark, tick, tmp_path):
    """A stage with an ``incremental`` block recomputes once its watermark
    has moved, and then holds only the rows past the new watermark."""
    dag = {
        "stages": {
            "daily": {
                "source": {"table": "events"},
                "incremental": {"watermark_col": "ts", "state_path": tick.state},
                "transforms": DAILY,
            }
        },
        "output": "daily",
    }
    ckpt = str(tmp_path / "ckpt")
    run_dag_checkpointed(spark, tick.sf, dag, ckpt)
    assert pipeline._LAST_COMPUTED == ["daily"]
    advance_watermark(tick.state, "2024-01-25 00:00:00")
    got = sorted(run_dag_checkpointed(spark, tick.sf, dag, ckpt).collect())
    assert pipeline._LAST_COMPUTED == ["daily"]
    assert got == sorted(compile_dag(spark, tick.sf, dag).collect())
    assert min(r.day for r in got).isoformat() >= "2024-01-25"


# --- the shared observation reader (core.observed) --------------------------


def _labels(spark):
    return spark.range(10).select(F.col("id").alias("node"), F.col("id").alias("label"))


def _label_sum():
    return F.sum(F.col("label").cast("decimal(38,0)")).alias("s")


def test_observed_sum_falls_back_on_observation_that_never_fires(spark):
    from etl_suite_spark.llm.dedup import _observed_sum

    obs = Observation()
    labels = _labels(spark)
    labels.observe(obs, _label_sum())  # no action ever runs on it
    threads = threading.active_count()
    assert int(_observed_sum(obs, labels, timeout_sec=0.2)) == 45
    assert threading.active_count() == threads


def test_observed_sum_falls_back_on_empty_observation(spark):
    from etl_suite_spark.core import observed
    from etl_suite_spark.llm.dedup import _observed_sum

    obs = Observation()
    labels = _labels(spark)
    empty = spark.range(0).select(F.col("id").alias("node"))
    labels.observe(obs, _label_sum()).join(empty, "node").collect()
    assert observed(obs) is None
    threads = threading.active_count()
    assert int(_observed_sum(obs, labels)) == 45
    assert threading.active_count() == threads
