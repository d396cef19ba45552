"""Round-11 additions.

1. stream_restart_backlog_drain — per-run batch ledger: run 1 is the
   pre-outage slice alone, run 2 drains the 6-file backlog one
   micro-batch per file with no re-delivery of run 1's offsets
   (VERDICT r10 item 2).
2. Zero-subject discipline across the compliance pair (VERDICT r10
   item 6): a corpus where NO user is in the subject set must give the
   export its empty shape and the erasure its all-buckets-untouched
   audit, and both must still reclaim their temp warehouses.
3. ANN deletes (VERDICT r10 item 3): a tombstoned id PLANTED as a
   query's exact nearest neighbor must surface in the unfiltered probe
   and never in the filtered one; the per-cell audit partitions the
   corpus exactly.
4. Cell compaction: the physical-delete form — affected cell
   partitions rewritten live-only, untouched cells keep their exact
   files, zero dead ids remain.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from pyspark.sql import functions as F

from etl_suite_spark.core import SUBJECT_RESIDUE
from etl_suite_spark.registry import QUERIES
from tests.conftest import SF_DIR


def test_subject_residue_is_shared():
    """The GDPR-crossing claim (erased subjects drop out of ANN serving)
    depends on the erasure idiom and the tombstone idiom selecting the
    SAME id set — pin that both modules read core.SUBJECT_RESIDUE and
    that the oracle texts interpolate it (ADVICE r11 / VERDICT r11 nit)."""
    from etl_suite_spark.llm import similarity as sim

    assert sim._TOMBSTONE_RESIDUE == SUBJECT_RESIDUE == 97
    assert f"vec_id % {SUBJECT_RESIDUE} <> 0" in sim._SURVIVOR_RECALL_ORACLE
    from etl_suite_spark.registry import ORACLES

    assert f"user_id % {SUBJECT_RESIDUE} = 0" in ORACLES["inc_subject_export"]
    assert f"user_id % {SUBJECT_RESIDUE} = 0" in ORACLES["inc_subject_erasure"]


def test_backlog_drain_ledger_and_warehouse(spark):
    """Run 1 processes only the pre-outage file; run 2 drains exactly
    len(backlog) micro-batches (throttled: one file per batch) whose
    rows sum to the backlog; the warehouse equals the full table."""
    from etl_suite_spark.io import load_table
    from etl_suite_spark.streaming import ops as so

    out = {
        r["event_type"]: r["n"]
        for r in QUERIES["stream_restart_backlog_drain"](spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    n_pre = ev.filter(F.col("ts") < so._CUTS[0]).count()
    n_total = ev.count()
    n_backlog = n_total - n_pre

    run1 = [(b, n) for run, b, n in so._BACKLOG_LEDGER if run == 1]
    run2 = [(b, n) for run, b, n in so._BACKLOG_LEDGER if run == 2]
    assert sum(n for _, n in run1) == n_pre
    # throttled drain: exactly one micro-batch per backlog file, none
    # empty, no re-delivery of run 1's rows
    n_files = len(so._BACKLOG_CUTS) + 1
    assert len(run2) == n_files
    assert all(n > 0 for _, n in run2)
    assert sum(n for _, n in run2) == n_backlog
    # offsets continued from the checkpoint: batch ids strictly increase
    # across the restart (no batch id reuse, no gap backwards)
    ids = [b for b, _ in run1] + [b for b, _ in run2]
    assert ids == sorted(ids) and len(set(ids)) == len(ids)
    assert sum(out.values()) == n_total
    # ENGINE-side telemetry agrees with the foreachBatch-side ledger
    # batch for batch (VERDICT r12 item 4): StreamingQueryProgress's
    # numInputRows per batchId must match what the sink saw — a sink
    # miscount or an engine re-delivery would split these accounts.
    eng1 = [(b, n) for run, b, n in so._BACKLOG_ENGINE_LEDGER if run == 1]
    eng2 = [(b, n) for run, b, n in so._BACKLOG_ENGINE_LEDGER if run == 2]
    assert eng1 == run1
    assert eng2 == run2


@pytest.fixture(scope="module")
def zero_subject_sf(tmp_path_factory):
    """An events fixture where NO user_id is in the subject set
    (user_id % SUBJECT_RESIDUE == 0 rows removed)."""
    d = tmp_path_factory.mktemp("zero_subject_sf")
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (SELECT * FROM read_parquet('{SF_DIR}/events.parquet')
              WHERE user_id % {SUBJECT_RESIDUE} <> 0)
        TO '{d}/events.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    return str(d)


def test_subject_export_zero_subject_corpus(spark, zero_subject_sf):
    """Zero subjects → empty export with the contract schema, zero files
    scanned, and the temp warehouse reclaimed (ADVICE r9 regression,
    made explicit per VERDICT r10 item 6)."""
    from etl_suite_spark.plans import incremental as inc

    out = QUERIES["inc_subject_export"](spark, zero_subject_sf)
    assert out.columns == [
        "user_id",
        "n_events",
        "n_event_types",
        "first_ts",
        "last_ts",
        "total_value",
    ]
    assert out.count() == 0
    wh, scanned = inc._LAST_EXPORT_WH
    assert scanned == []  # nothing listed, let alone read
    assert not os.path.exists(os.path.dirname(wh))  # warehouse reclaimed


def test_subject_erasure_zero_subject_corpus(spark, zero_subject_sf):
    """Zero subjects → every bucket audits rows_deleted=0, rewritten=
    False, rows_after == rows_before (the zero-AFFECTED-bucket path:
    the dynamic overwrite must touch nothing and no partition may be
    dropped), and the warehouse is reclaimed."""
    from etl_suite_spark.plans import incremental as inc

    rows = QUERIES["inc_subject_erasure"](spark, zero_subject_sf).collect()
    n_buckets = (
        duckdb.sql(
            f"SELECT COUNT(DISTINCT user_id % 16) FROM "
            f"read_parquet('{zero_subject_sf}/events.parquet')"
        ).fetchone()[0]
    )
    assert len(rows) == n_buckets  # every occupied bucket in the audit
    for r in rows:
        assert r["rows_deleted"] == 0
        assert r["rewritten"] is False
        assert r["rows_after"] == r["rows_before"] > 0
    wh = inc._LAST_ERASURE_WH[0]
    assert not os.path.exists(os.path.dirname(wh))  # warehouse reclaimed


@pytest.fixture(scope="module")
def planted_delete_sf(tmp_path_factory):
    """An embeddings fixture where a TOMBSTONED id (SUBJECT_RESIDUE) is planted as
    the exact nearest neighbor of query 1 (its embedding is replaced
    with a copy of vec_id 1's vector) — the delete sits INSIDE the eval
    set, so the tombstone filter is load-bearing, not vacuous."""
    import pandas as pd
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("planted_delete_sf")
    pdf = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pandas()
    src = pdf.loc[pdf.vec_id == 1, "embedding"].iloc[0]
    pdf.loc[pdf.vec_id == SUBJECT_RESIDUE, "embedding"] = pd.Series(
        [src], index=pdf.index[pdf.vec_id == SUBJECT_RESIDUE]
    )
    pdf.to_parquet(f"{d}/embeddings.parquet", index=False)
    return str(d)


def test_tombstone_filter_is_load_bearing(spark, planted_delete_sf):
    """Without the tombstone filter the planted dead id DOES surface
    (it is query 1's nearest neighbor by construction); with it, the
    probe surfaces zero deleted ids and still clears the recall gate."""
    # the unfiltered probe over the same corpus must find the plant —
    # proving the planted delete really is inside the eval surface
    raw = QUERIES["llm_sim_ann_ivf"](spark, planted_delete_sf).collect()
    raw_pairs = {(r["query_id"], r["neighbor_id"]) for r in raw}
    assert (1, SUBJECT_RESIDUE) in raw_pairs

    row = QUERIES["llm_index_tombstone_probe_recall"](
        spark, planted_delete_sf
    ).collect()[0]
    assert row["n_deleted_surfaced"] == 0
    assert row["recall_ge_30"] is True
    assert row["n_queries"] == 9  # vec_id 0 is tombstoned, never queries


def test_tombstone_audit_counts(spark):
    """The per-cell audit partitions the corpus exactly: totals sum to
    the corpus, tombstoned sum to the residue-set size, live = rest."""
    from etl_suite_spark.io import load_table

    rows = QUERIES["llm_index_tombstone_probe"](spark, SF_DIR).collect()
    n = load_table(spark, SF_DIR, "embeddings").count()
    n_dead = (
        load_table(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") % SUBJECT_RESIDUE == 0)
        .count()
    )
    assert sum(r["n_total"] for r in rows) == n
    assert sum(r["n_tombstoned"] for r in rows) == n_dead
    assert all(r["n_live"] + r["n_tombstoned"] == r["n_total"] for r in rows)


def test_compact_cells_rewrites_only_affected_partitions(spark, monkeypatch):
    """llm_index_compact_cells: cells without dead rows keep their exact
    original files; cells with dead rows are rewritten and hold zero
    tombstoned ids afterward; audit n_after matches the rewritten
    warehouse exactly."""
    import shutil

    from etl_suite_spark.llm import similarity as sim

    from tests.conftest import kept_scratch

    monkeypatch.setattr(sim, "scratch", kept_scratch)
    try:
        rows = {
            r["cell"]: r
            for r in QUERIES["llm_index_compact_cells"](spark, SF_DIR).collect()
        }
        wh, snap = sim._LAST_COMPACT_WH
        for cell, r in rows.items():
            d = f"cell={cell}"
            exists = os.path.isdir(os.path.join(wh, d))
            if r["n_tombstoned"] == 0:
                # untouched partition: identical file list survives
                now = sorted(
                    f
                    for f in os.listdir(os.path.join(wh, d))
                    if f.endswith(".parquet")
                )
                assert now == snap[d], f"untouched cell {cell} was rewritten"
                assert r["n_after"] == r["n_before"]
                assert r["compacted"] is False
            elif r["n_before"] == r["n_tombstoned"]:
                assert not exists  # fully-dead cell dropped
                assert r["n_after"] == 0
            else:
                assert r["compacted"] is True
                assert r["n_after"] == r["n_before"] - r["n_tombstoned"]
        # at least one cell must have genuinely compacted at this fixture
        assert any(r["compacted"] for r in rows.values())
        assert any(not r["compacted"] for r in rows.values())
        # zero tombstoned ids anywhere in the rewritten warehouse
        left = (
            spark.read.option("basePath", wh)
            .parquet(wh)
            .filter(F.col("vec_id") % SUBJECT_RESIDUE == 0)
            .count()
        )
        assert left == 0
    finally:
        wh = sim._LAST_COMPACT_WH[0] if sim._LAST_COMPACT_WH else None
        if wh:
            shutil.rmtree(os.path.dirname(wh), ignore_errors=True)


def test_recall_sentinel_skips_dup_fraction_runs():
    """The pinned recall matrix was measured at FULL duplication; a
    --dup-fraction corpus has different duplicate mass, so the sentinel
    must not apply there (addendum 44) — but still applies at the same
    coordinates when dup_fraction is 1.0."""
    from tools.scale_smoke import ANN_RECALL_SENTINEL, check_recall_sentinel

    coords = (100, 0.05)
    matrix = ANN_RECALL_SENTINEL[coords]
    timings = {
        name: {"sec": 1.0, "result": {flag: expect}}
        for name, (flag, expect) in matrix.items()
    }
    applies, fails = check_recall_sentinel(
        *coords, False, None, timings, dup_fraction=0.1
    )
    assert not applies and fails == []
    applies, fails = check_recall_sentinel(
        *coords, False, None, timings, dup_fraction=1.0
    )
    assert applies and fails == []


def test_canon_cell_integer_rendering_is_type_uniform():
    """ADVICE r10 item 2: the same integral value must canonicalize
    identically whatever numeric object carries it — int, float (the
    pandas NULL-coercion artifact), numpy scalars, or Decimal — while
    non-integral values keep their distinct renderings."""
    import decimal

    import numpy as np

    from tools.verify_local import canon_cell

    for v in (0, 5, -3, 2**52):
        forms = [
            v,
            float(v),
            np.int64(v),
            np.float64(v),
            decimal.Decimal(v),
            decimal.Decimal(f"{v}.0"),
        ]
        rendered = {canon_cell(f) for f in forms}
        assert rendered == {repr(int(v))}, (v, rendered)
    assert canon_cell(5.5) == "5.5"
    assert canon_cell(decimal.Decimal("5.50")) == "5.50"  # unchanged path
    assert canon_cell(float("nan")) == "NULL"
    # beyond the exact-int float range the float keeps its repr
    big = float(2**53) * 3
    assert canon_cell(big) == repr(big)


def test_driver_sim_null_int_column_parity(spark, duck):
    """The ADVICE r10 scenario end-to-end: a windowed query emitting
    NULLs in a BIGINT column goes through the driver's literal pandas
    ingest (toPandas coerces the column to float64, so 5 becomes 5.0)
    and must still canonicalize equal to DuckDB's raw-int fetchall."""
    from pyspark.sql import Window

    from tools.verify_local import canon_duck, canon_frame

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").filter(
        F.col("user_id") % 50 == 0  # bounded deterministic subset, no LIMIT
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    df = ev.select(
        "user_id",
        F.lag("event_id").over(w).alias("prev_event_id"),  # NULL per first row
    )
    pdf = df.toPandas()
    assert str(pdf["prev_event_id"].dtype) == "float64"  # the coercion is real
    sc, sr = canon_frame(pdf)
    oc, orr = canon_duck(
        duck,
        f"""
        SELECT user_id,
               lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS prev_event_id
        FROM read_parquet('{SF_DIR}/events.parquet')
        WHERE user_id % 50 = 0
        """,
    )
    assert sc == oc
    assert sr == orr
