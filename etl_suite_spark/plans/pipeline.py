"""Declarative pipeline specs — the reference's "ETL job" re-expressed
(SURVEY.md §3.2 entry point 3).

A job is a dict (JSON/YAML-friendly): source → transforms → sink, with an
optional incremental watermark. ``compile_pipeline`` turns it into one
DataFrame plan — every transform is declarative, so Catalyst sees the whole
job and optimizes across step boundaries (filter pushdown through joins,
column pruning back to the scan). Nothing executes until the sink runs.

    spec = {
        "source": {"table": "lineitem"},
        "transforms": [
            {"op": "filter", "predicate": "l_shipdate <= '1998-09-02'"},
            {"op": "derive", "cols": {"revenue": "l_extendedprice * (1 - l_discount)"}},
            {"op": "join", "table": "orders", "on": "...", "how": "inner",
             "broadcast": False},
            {"op": "groupby", "keys": ["..."], "aggs": {"out": "sum(expr)"}},
            {"op": "select", "cols": [...]},
            {"op": "sort", "by": ["col asc", "col2 desc"]},
            {"op": "dedup_latest", "key": [...], "order_by": "ts"},
            {"op": "limit", "n": 100},
        ],
        "sink": {"format": "parquet", "path": "...", "partition_by": ["lang"]},
        "incremental": {"watermark_col": "ts", "state_path": "...",
                        "default": "1970-01-01 00:00:00"},
    }

The incremental block injects ``watermark_col > saved_watermark`` directly
above the source scan (pushdown → row-group skipping), exactly like the
reference's checkpoint-window extraction, unless the parquet footers of the
files it reads prove every row past the watermark. A table source is read
from the files no earlier tick consumed (``incremental.extract``), so a
tick does not reopen the source's history; one with subdirectories is read
whole.

The linear, DAG and checkpointed compilers share one stage builder
(``_build_stage``: source → incremental extract → transforms, every table or
stage reference through one resolver); a linear spec is a one-stage build
and both DAG paths take one memoized, cycle-checked walk (``_walk_dag``).

``run_pipeline`` lists the source once per tick (``incremental.Tick``),
compiles over the unconsumed files of that listing, and after the sink
records the listing with the new watermark, the max ``watermark_col`` of
that slice. With a sink, the max is observed inside the sink's own job
(``observe()`` directly above the extract, before any transform), so a
tick reads the source once and runs no separate max job, and the watermark
covers exactly the rows the sink consumed. An aggregate job over the
extracted frame the sink's compile built remains the fallback when the
spec has no sink, when it has a ``limit`` transform (the observation would
only see the rows the limit let through), and when the observation is
missing or empty. Adaptive execution leaves it empty when it prunes the
observed operator from the final plan: an empty slice, or an inner join
against an empty table. A frame's files are fixed when it is built, so
either way a file that lands mid-tick is neither counted nor recorded, and
the next tick reads it. A tick with no unconsumed file runs no max job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..core import derby_url, log_once, observed, scratch
from ..io import data_files, load_table, read_parquet, table_path
from ..registry import query
from .incremental import (
    DEFAULT_WATERMARK,
    Tick,
    encoded_max,
    extract,
    read_watermark,
    record_tick,
    slice_max,
)


def _build_stage(spark: SparkSession, sf_dir: str, spec: dict, up, observation, tick) -> DataFrame:
    """The one stage builder: source → incremental extract (plus
    ``observation`` of the encoded max right above it) → transforms.
    ``up`` is a DAG walk's upstream lookup, None for a linear spec.
    ``tick`` is ``run_pipeline``'s :class:`incremental.Tick`, which keeps
    the extracted slice; the extract starts its own when None."""

    def resolve(ref: dict) -> DataFrame:  # {"table": name} or {"stage": name}
        if "stage" not in ref:
            return load_table(spark, sf_dir, ref["table"])
        if up is None:
            raise ValueError(f"stage reference outside a DAG: {ref['stage']!r}")
        return up(ref["stage"])

    inc = spec.get("incremental")
    if inc:
        df = extract(spark, sf_dir, spec, tick, resolve)
        if observation is not None:
            df = df.observe(observation, encoded_max(inc["watermark_col"]))
    else:
        df = resolve(spec["source"])
    for t in spec.get("transforms", ()):
        df = _apply_transform(df, t, resolve)
    return df


def _apply_transform(df: DataFrame, t: dict, resolve) -> DataFrame:
    op = t["op"]
    if op == "filter":
        return df.filter(t["predicate"])
    if op == "derive":
        for name, expr in t["cols"].items():
            df = df.withColumn(name, F.expr(expr))
        return df
    if op == "select":
        return df.select(*t["cols"])
    if op == "join":
        other = resolve(t)
        if t.get("broadcast"):
            other = F.broadcast(other)
        if "on_cols" in t:  # equi-join on shared column names
            return df.join(other, t["on_cols"], t.get("how", "inner"))
        return df.join(other, F.expr(t["on"]), t.get("how", "inner"))
    if op == "groupby":
        aggs = [F.expr(expr).alias(name) for name, expr in t["aggs"].items()]
        return df.groupBy(*t["keys"]).agg(*aggs)
    if op == "sort":
        cols = []
        for spec in t["by"]:
            name, _, direction = spec.partition(" ")
            c = F.col(name)
            cols.append(c.desc() if direction == "desc" else c.asc())
        return df.orderBy(*cols)
    if op == "dedup_latest":
        w = Window.partitionBy(*t["key"]).orderBy(F.col(t["order_by"]).desc())
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    if op == "limit":
        return df.limit(t["n"])
    raise ValueError(f"unknown pipeline op: {op}")


def compile_pipeline(
    spark: SparkSession,
    sf_dir: str,
    spec: dict,
    observation: Observation | None = None,
    tick: Tick | None = None,
) -> DataFrame:
    """Spec → single DataFrame plan (unsunk). The incremental filter, if
    any, goes directly above the scan so it pushes into the reader; it is
    left out when the footers of the files the tick reads prove every row
    past the watermark (``incremental.extract``). ``observation`` and
    ``tick`` are ``run_pipeline``'s: the observation of the max watermark
    column right above the extract, over the whole slice, and the tick
    whose one listing of the source the compile reads and which keeps the
    extracted slice for the fallback max. Catalyst does not push a later
    ``filter`` transform below the observation, so with one only the
    watermark predicate reaches the reader (column pruning still does)."""
    return _build_stage(spark, sf_dir, spec, None, observation, tick)


def run_pipeline(spark: SparkSession, sf_dir: str, spec: dict) -> DataFrame:
    """Compile, sink (if declared), advance the watermark (if incremental).

    Sink writes are partitioned when the spec says so — at 100 TB an
    unpartitioned sink is a bug, not a choice. Returns the compiled frame
    for inspection/chaining.

    An incremental tick lists its source table once (``incremental.Tick``).
    The one compile reads the files of that listing that no earlier tick
    consumed, with no watermark filter when their footers prove every row
    past it, and after the sink returns the tick records the whole listing
    with the new watermark, so the next tick skips those files. A source
    with subdirectories has no listing and reads whole, as before.

    With both a sink and an incremental block, the new watermark is the
    max observed inside the sink's job: one compile, one source read and
    no extra job per tick, and a file that lands after the listing stays
    past the watermark and out of the record for the next tick. The
    fallback, a max job over the extracted frame the compile built (so over
    the files the sink read, whatever lands later), runs when there is no
    sink, when a ``limit`` transform would hide rows from the observation,
    and when the observation is missing or empty. With no unconsumed file
    the slice is empty and no max job runs. A max of None (empty slice)
    leaves the watermark where it was.
    """
    sink = spec.get("sink")
    inc = spec.get("incremental")
    limited = any(t["op"] == "limit" for t in spec.get("transforms", ()))
    obs = Observation() if sink and inc and not limited else None
    tick = Tick(spark, sf_dir, spec) if inc else None
    df = compile_pipeline(spark, sf_dir, spec, obs, tick)
    if sink:
        # declarative sink dispatch through the pluggable registry
        # (sources/sinks.py): parquet/orc/csv/json/jdbc run here;
        # clickhouse/mongodb raise with the documented production shape.
        from ..sources.sinks import write_sink

        write_sink(df, sink)
    if inc:
        if tick.fresh == []:  # no unconsumed file: the slice is empty, no job
            hi = None
        elif obs is not None and (metrics := observed(obs)) is not None:
            hi = metrics["hi"]
        else:
            reason = "no_sink" if not sink else "limit" if limited else "unobserved"
            log_once(f"pipeline.watermark.{reason}", "watermark from a separate max job")
            hi = slice_max(tick.slice, inc["watermark_col"])
        record_tick(inc, hi, tick.listing)
    return df


# Declared demonstrator: a TPC-H-Q3-shaped job written as a spec. The same
# shape in SQL is the oracle, so the compiler itself is correctness-gated.
_SPEC = {
    "source": {"table": "orders"},
    "transforms": [
        {"op": "filter", "predicate": "o_orderdate < '1995-03-15'"},
        {
            "op": "join",
            "table": "customer",
            "on": "o_custkey = c_custkey",
            "how": "inner",
            "broadcast": True,
        },
        {"op": "filter", "predicate": "c_mktsegment = 'BUILDING'"},
        {
            "op": "groupby",
            "keys": ["o_orderpriority"],
            "aggs": {
                "n_orders": "count(*)",
                "sum_price": (
                    "cast(cast(sum(cast(o_totalprice as decimal(18,2)))"
                    " as string) as double)"
                ),
            },
        },
    ],
}


@query(
    "pipeline_spec_run",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
                AS DOUBLE) AS sum_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderdate < '1995-03-15' AND c_mktsegment = 'BUILDING'
    GROUP BY o_orderpriority
    """,
)
def pipeline_spec_run(spark, sf_dir):
    """The pipeline compiler end-to-end: dict spec → optimized single plan.
    Catalyst pushes the segment filter below the (broadcast) join even
    though the spec declared it after — declarative specs get the whole
    optimizer for free."""
    return compile_pipeline(spark, sf_dir, _SPEC)


@query(
    "pipeline_sink_jdbc",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
                AS DOUBLE) AS sum_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderdate < '1995-03-15' AND c_mktsegment = 'BUILDING'
    GROUP BY o_orderpriority
    """,
)
def pipeline_sink_jdbc(spark, sf_dir):
    """Extract→transform→LOAD through the pluggable sink registry
    (sources/sinks.py): the same spec as `pipeline_spec_run`, sunk into an
    embedded-Derby JDBC table (the reference's warehouse-load analog [K] —
    against ClickHouse-JDBC/MySQL only url+driver change), read back and
    oracle-checked — the load path itself is correctness-gated, not just
    the transform."""
    url = derby_url(spark, "etl_sinkjdbc_", sf_dir)
    spec = dict(_SPEC)
    spec["sink"] = {
        "format": "jdbc",
        "url": url,
        "table": "priority_revenue",
        "num_partitions": 1,
    }
    run_pipeline(spark, sf_dir, spec)
    from ..sources.sinks import JdbcSink

    props = JdbcSink(url, "priority_revenue").properties
    back = spark.read.jdbc(url, "priority_revenue", properties=props)
    return back.select(
        F.col("o_orderpriority").cast("string").alias("o_orderpriority"),
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("sum_price").cast("double").alias("sum_price"),
    )


# --- streaming compile -------------------------------------------------------


def compile_pipeline_stream(df: DataFrame, spec: dict) -> DataFrame:
    """Compile the SAME spec dialect against a streaming source frame ``df``.

    Stateless ops (filter/derive/select) reuse ``_apply_transform``
    verbatim — the spec is execution-mode-agnostic, which is the point:
    the reference's scheduler re-ran batch jobs over new data windows [K];
    here one spec serves both the batch backfill (``compile_pipeline``)
    and the continuous path (this function), Kappa-style. Stateful steps
    are declared via ``watermark`` + ``window_agg`` (tumbling windowed
    aggregation) since arbitrary batch groupbys aren't streamable
    unchanged.
    """
    wm = spec.get("watermark")
    if wm:
        df = df.withWatermark(wm["col"], wm["delay"])
    for t in spec.get("transforms", ()):
        if t["op"] not in ("filter", "derive", "select"):
            raise ValueError(f"op not streamable without window_agg: {t['op']}")
        df = _apply_transform(df, t, None)
    wa = spec.get("window_agg")
    if wa:
        aggs = [F.expr(expr).alias(name) for name, expr in wa["aggs"].items()]
        df = (
            df.groupBy(
                F.window(wa["time_col"], wa["duration"]).alias("win"),
                *wa.get("keys", ()),
            )
            .agg(*aggs)
            .select(
                F.col("win.start").alias("win_start"),
                *wa.get("keys", ()),
                *[name for name in wa["aggs"]],
            )
        )
    return df


_STREAM_SPEC = {
    "watermark": {"col": "ts", "delay": "10 minutes"},
    "transforms": [
        {"op": "filter", "predicate": "event_type IN ('click', 'purchase')"},
        {"op": "derive", "cols": {"value_cents": "CAST(round(value * 100) AS BIGINT)"}},
    ],
    "window_agg": {
        "time_col": "ts",
        "duration": "15 minutes",
        "keys": ["event_type"],
        "aggs": {"n": "count(*)", "sum_cents": "sum(value_cents)"},
    },
}


@query(
    "pipeline_spec_stream",
    # NOTE the watermark CTE scans the FILTERED events: Catalyst pushes
    # the spec's filter below EventTimeWatermark, so the stream's final
    # watermark derives from click/purchase rows only (verified live —
    # with the global max ts the last two windows over-emit)
    oracle="""
    WITH m AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM events
               WHERE event_type IN ('click', 'purchase'))
    SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS win_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events, m WHERE event_type IN ('click', 'purchase')
    GROUP BY 1, 2, wm
    HAVING win_start + INTERVAL 15 MINUTE <= wm
    ORDER BY 1, 2
    """,
)
def pipeline_spec_stream(spark, sf_dir):
    """The spec compiler's continuous path: identical spec dialect compiled
    to readStream → watermark → stateless transforms → tumbling windowed
    agg, run AvailableNow into a memory sink (no Kafka in env [V])."""
    from ..streaming.ops import _stream_to_memory

    out = _stream_to_memory(
        spark, sf_dir, "append", lambda read: compile_pipeline_stream(read(), _STREAM_SPEC)
    )
    return out.orderBy("win_start", "event_type")


def _walk_dag(dag: dict, visit) -> dict:
    """The one walk over a DAG's stage references: ``visit(name, spec, up)``
    returns a stage's value, ``up(name)`` an upstream's, computed on first
    use and memoized (a diamond's shared stage is visited once); a
    reference back into the current path raises. Returns ``{name: value}``."""
    stages = dag["stages"]
    memo: dict = {}

    def value(name: str, path: tuple[str, ...]):
        if name in memo:
            return memo[name]
        if name in path:
            raise ValueError(f"pipeline DAG cycle: {' -> '.join(path + (name,))}")
        memo[name] = visit(name, stages[name], lambda up: value(up, path + (name,)))
        return memo[name]

    value(dag["output"], ())
    return memo


def compile_dag(spark: SparkSession, sf_dir: str, dag: dict) -> DataFrame:
    """Multi-stage DAG of specs → ONE DataFrame plan.

    ``dag = {"stages": {name: spec}, "output": name}`` where a stage's
    ``source`` (or a join transform) may reference another stage via
    ``{"stage": name}`` instead of ``{"table": name}``. Stages resolve
    memoized — a diamond dependency compiles its shared stage once, so
    Catalyst sees one plan with a shared subtree (and the whole DAG
    still optimizes jointly: pushdown crosses stage boundaries exactly
    as it crosses transform boundaries in the linear compiler). Cycles
    are rejected at compile time. Nothing executes until the caller
    sinks the returned frame.
    """
    stages = _walk_dag(dag, lambda name, spec, up: _build_stage(spark, sf_dir, spec, up, None, None))
    return stages[dag["output"]]


# Declared demonstrator: a diamond DAG — one shared filtered base feeding
# two aggregation branches that re-join at the output. The same shape in
# SQL (shared CTE) is the oracle, so the DAG compiler is correctness-gated
# including its stage memoization.
_DAG = {
    "stages": {
        "base": {
            "source": {"table": "orders"},
            "transforms": [
                {"op": "filter", "predicate": "o_orderstatus <> 'F'"},
            ],
        },
        "hi": {
            "source": {"stage": "base"},
            "transforms": [
                {"op": "filter", "predicate": "o_totalprice >= 200000"},
                {
                    "op": "groupby",
                    "keys": ["o_orderpriority"],
                    "aggs": {"n_hi": "cast(count(*) as bigint)"},
                },
            ],
        },
        "lo": {
            "source": {"stage": "base"},
            "transforms": [
                {"op": "filter", "predicate": "o_totalprice < 200000"},
                {
                    "op": "groupby",
                    "keys": ["o_orderpriority"],
                    "aggs": {"n_lo": "cast(count(*) as bigint)"},
                },
            ],
        },
        "out": {
            "source": {"stage": "hi"},
            "transforms": [
                {
                    "op": "join",
                    "stage": "lo",
                    "on_cols": ["o_orderpriority"],
                    "how": "inner",
                },
            ],
        },
    },
    "output": "out",
}


@query(
    "pipeline_dag_run",
    oracle="""
    WITH base AS (
      SELECT * FROM orders WHERE o_orderstatus <> 'F'
    ), hi AS (
      SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_hi
      FROM base WHERE o_totalprice >= 200000 GROUP BY 1
    ), lo AS (
      SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_lo
      FROM base WHERE o_totalprice < 200000 GROUP BY 1
    )
    SELECT hi.o_orderpriority, n_hi, n_lo,
           round(n_hi * 1.0 / (n_hi + n_lo), 6) AS hi_share
    FROM hi JOIN lo USING (o_orderpriority)
    ORDER BY o_orderpriority
    """,
)
def pipeline_dag_run(spark, sf_dir):
    """The DAG compiler's declared demonstrator: a diamond (shared
    filtered base → two branch rollups → re-join). The ``base`` stage
    compiles once (memoized) and both branches reference the same
    subtree; Catalyst pushes each branch's price predicate down into
    its copy of the scan, so the diamond costs two pruned scans, not a
    materialization. At 100 TB a reused stage that is EXPENSIVE to
    recompute would add an explicit materialize-once barrier (the
    graph_pagerank pattern) — a one-line sink stage in this spec
    language; the default stays lazy because recompute-under-pushdown
    usually beats materialize-everything."""
    out = compile_dag(spark, sf_dir, _DAG)
    return (
        out.select(
            F.col("o_orderpriority"),
            "n_hi",
            "n_lo",
            F.round(F.col("n_hi") / (F.col("n_hi") + F.col("n_lo")), 6).alias(
                "hi_share"
            ),
        )
        .orderBy("o_orderpriority")
    )


# --- Checkpointed DAG runs (the reference's restartable scheduler) --------
#
# ``run_dag_checkpointed`` materializes every stage to a parquet checkpoint
# keyed by a Merkle fingerprint of (stage spec, source-table files,
# watermark, upstream fingerprints): a finished run can be killed and
# re-launched and only the stages whose checkpoint is missing OR whose
# spec, input data or upstream lineage changed recompute.
# This is the durability contrast to ``compile_dag`` (one lazy plan,
# recompute-under-pushdown): a scheduler restarting a 40-stage nightly DAG
# at 100 TB wants to pay for the 3 stages that died, not the 37 that
# finished.

# Test/observability hook: names of stages actually COMPUTED (not loaded
# from checkpoint) in the most recent run_dag_checkpointed call.
_LAST_COMPUTED: list[str] = []


def _dag_fingerprints(spark: SparkSession, sf_dir: str, dag: dict) -> dict[str, str]:
    """Merkle fingerprint per stage: sha256 over the stage's own spec, the
    (path, length, mtime) of every data file of each table it reads (source
    and join sides, from ``io.data_files``), its current watermark when it
    has an ``incremental`` block, and its upstream stages' fingerprints —
    driver-side metadata only, no jobs. A spec edit anywhere invalidates
    exactly its downstream cone; so does a rewritten source table or an
    advanced watermark."""
    import hashlib
    import json

    def fp(name: str, spec: dict, up) -> str:
        refs = [spec["source"], *(t for t in spec.get("transforms", ()) if t.get("op") == "join")]
        ups = sorted({r["stage"] for r in refs if "stage" in r})
        tables = sorted({r["table"] for r in refs if "table" in r})
        inc = spec.get("incremental")
        wm = inc and read_watermark(inc["state_path"], inc.get("default", DEFAULT_WATERMARK))
        payload = json.dumps({
            "spec": spec,
            "up": {u: up(u) for u in ups},
            "tables": {t: data_files(spark, table_path(sf_dir, t)) for t in tables},
            "watermark": wm,
        }, sort_keys=True)
        return hashlib.sha256(payload.encode()).hexdigest()[:16]

    return _walk_dag(dag, fp)


def run_dag_checkpointed(
    spark: SparkSession, sf_dir: str, dag: dict, ckpt_root: str
) -> DataFrame:
    """Execute ``dag`` with per-stage parquet checkpoints under
    ``ckpt_root``; return the output stage's frame READ FROM its
    checkpoint (so the caller's plan is a plain scan, lineage-free).

    Resume contract: a stage directory ``<root>/<name>-<fp>`` counts as
    done only if its ``_COMPLETE`` marker exists — the marker is written
    AFTER the parquet commit, so a job killed mid-write leaves no torn
    checkpoint (on HDFS/S3A the final marker put is atomic; plain
    ``_SUCCESS`` is not enough because a RERUN of a changed spec could
    observe the old dir). Fingerprints chain Merkle-style, so editing one
    stage, rewriting a table it reads or advancing its watermark recomputes
    exactly its downstream cone and nothing upstream.

    Scale: checkpoint writes are ordinary distributed parquet sinks (the
    stage's own partitioning, every executor writes); the fingerprint
    pass is driver-side file listings and string hashing — no Spark job
    until a stage actually computes. Resume cost is one metadata listing per stage plus
    scans of only the reused outputs."""
    import os

    fps = _dag_fingerprints(spark, sf_dir, dag)
    _LAST_COMPUTED.clear()

    def stage(name: str, spec: dict, up) -> DataFrame:
        path = os.path.join(ckpt_root, f"{name}-{fps[name]}")
        marker = os.path.join(path, "_COMPLETE")
        if not os.path.exists(marker):
            _build_stage(spark, sf_dir, spec, up, None, None).write.mode("overwrite").parquet(path)
            with open(marker, "w") as fh:
                fh.write(fps[name])
            _LAST_COMPUTED.append(name)
        return read_parquet(spark, path)

    return _walk_dag(dag, stage)[dag["output"]]


@query(
    "pipeline_dag_resume",
    # Same values as pipeline_dag_run — the checkpointing layer must be
    # value-neutral — but produced by a cold checkpointed run followed by
    # a warm RESUME of the same DAG (the second pass recomputes nothing;
    # the returned frame scans the output stage's checkpoint).
    oracle="""
    WITH base AS (
      SELECT * FROM orders WHERE o_orderstatus <> 'F'
    ), hi AS (
      SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_hi
      FROM base WHERE o_totalprice >= 200000 GROUP BY 1
    ), lo AS (
      SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_lo
      FROM base WHERE o_totalprice < 200000 GROUP BY 1
    )
    SELECT hi.o_orderpriority, n_hi, n_lo,
           round(n_hi * 1.0 / (n_hi + n_lo), 6) AS hi_share
    FROM hi JOIN lo USING (o_orderpriority)
    ORDER BY o_orderpriority
    """,
)
def pipeline_dag_resume(spark, sf_dir):
    """Checkpointed + resumed run of the diamond DAG: pass 1 materializes
    every stage to fingerprint-keyed parquet checkpoints (fresh temp
    root), pass 2 re-launches the identical DAG against the same root and
    must load every stage from checkpoint (pytest pins pass-2 computes
    = 0, partial-state crash resume, and Merkle cone invalidation). The
    returned frame is pass 2's output — the output checkpoint's scan,
    pinned before the checkpoint root is removed, proving the restart path yields byte-identical results
    to the lazy compiler (shared oracle with pipeline_dag_run)."""
    with scratch("etl_dagckpt_") as root:
        run_dag_checkpointed(spark, sf_dir, _DAG, root)  # cold: computes all
        out = run_dag_checkpointed(spark, sf_dir, _DAG, root)  # warm: resume
        out = out.localCheckpoint(eager=True)
    return (
        out.select(
            F.col("o_orderpriority"),
            "n_hi",
            "n_lo",
            F.round(F.col("n_hi") / (F.col("n_hi") + F.col("n_lo")), 6).alias(
                "hi_share"
            ),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "pipeline_run_report",
    # Per-stage job stats of a cold checkpointed run followed by a warm
    # resume: row counts are engine-checkable facts of the DAG's stages;
    # computed_cold / reused_warm encode the runner's contract (every
    # stage computes exactly once, then every stage is reused).
    oracle="""
    WITH base AS (
      SELECT * FROM orders WHERE o_orderstatus <> 'F'
    ), hi AS (
      SELECT o_orderpriority, COUNT(*) AS n FROM base
      WHERE o_totalprice >= 200000 GROUP BY 1
    ), lo AS (
      SELECT o_orderpriority, COUNT(*) AS n FROM base
      WHERE o_totalprice < 200000 GROUP BY 1
    ), counts(stage, n_rows) AS (
      SELECT 'base', CAST(COUNT(*) AS BIGINT) FROM base
      UNION ALL SELECT 'hi', CAST(COUNT(*) AS BIGINT) FROM hi
      UNION ALL SELECT 'lo', CAST(COUNT(*) AS BIGINT) FROM lo
      UNION ALL SELECT 'out', CAST(COUNT(*) AS BIGINT)
        FROM hi JOIN lo USING (o_orderpriority)
    )
    SELECT stage, n_rows,
           TRUE AS computed_cold, TRUE AS reused_warm
    FROM counts ORDER BY stage
    """,
)
def pipeline_run_report(spark, sf_dir):
    """Per-stage run report of the checkpointed diamond DAG — the
    reference's scheduler persists job stats alongside its checkpoint
    documents [K], and this is that readout Spark-side: after a cold
    checkpointed run and a warm resume of the same DAG, emit one row per
    stage with its materialized row count (counted FROM the stage's
    checkpoint parquet — the number a downstream consumer actually
    gets), whether the cold pass computed it, and whether the warm pass
    reused it. Both flags are genuinely computed from the runner's
    ``_LAST_COMPUTED`` ledger, so a resume regression (a stage that
    recomputes warm, or never computes cold) breaks the driver hash —
    pipeline_dag_resume certifies the VALUES survive the restart path,
    this op certifies the SCHEDULE.

    Plan: the report is stage-count-sized (4 rows); each count is a scan
    of that stage's checkpoint (metadata-cheap on parquet footers)."""
    import os

    with scratch("etl_dagreport_") as root:
        run_dag_checkpointed(spark, sf_dir, _DAG, root)
        cold = set(_LAST_COMPUTED)
        run_dag_checkpointed(spark, sf_dir, _DAG, root)
        warm_recomputed = set(_LAST_COMPUTED)
        fps = _dag_fingerprints(spark, sf_dir, _DAG)
        rows = []
        for name in sorted(_DAG["stages"]):
            n = read_parquet(spark, os.path.join(root, f"{name}-{fps[name]}")).count()
            rows.append((name, n, name in cold, name not in warm_recomputed))
    # the report is built from already-collected counts: nothing to pin
    return spark.createDataFrame(
        rows, "stage STRING, n_rows BIGINT, computed_cold BOOLEAN, reused_warm BOOLEAN"
    ).orderBy("stage")
