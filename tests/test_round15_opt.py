"""Round-15 optimization pins.

Focused tests for the internals the optimization round changed:

- graph_triangle_count's shuffled-hash closing join (VERDICT r14 item 3)
  must not change the counted triangles — ``closing_shuffle_hash=False``
  restores the r14 sort-merge plan and toggles plan shape only; the
  default plan carries exactly one sort-merge (wedge) and one
  shuffled-hash (closing) join.
- llm_corpus_prune_pipeline's per-cell pre-aggregation (item 5) must
  preserve the funnel arithmetic per cell, including cells with zero
  reps/drops (the left-join + coalesce(0) path).
- connected_components' convergence probe fallback (ADVICE r14 item 3,
  r15 item 2): if the observe() metric never arrives, or reading it
  raises, the probe must fall back to a separate aggregate job with the
  same value instead of hanging or leaking a thread traceback.
- _mat_run_root's lock-guarded init (ADVICE r14 item 2): concurrent
  first calls must agree on ONE root.
"""

from __future__ import annotations

import threading

from etl_suite_spark.registry import QUERIES
from tests.conftest import SF_DIR


def test_triangle_closing_hint_is_plan_only(spark):
    """Default (shuffled-hash closing join) and un-hinted (r14
    sort-merge) plans must count the same triangles — the hint changes
    join strategy, never the joined rows."""
    from etl_suite_spark.operators.graph import graph_triangle_count

    (new,) = graph_triangle_count(spark, SF_DIR).collect()
    (old,) = graph_triangle_count(
        spark, SF_DIR, closing_shuffle_hash=False
    ).collect()
    assert new.asDict() == old.asDict()


def test_triangle_closing_join_is_shuffled_hash(spark):
    """The plan must actually carry the ShuffledHashJoin for the closing
    edge (the hint silently degrading back to sort-merge would re-sort
    the wedge stream): exactly one sort-merge join (the wedge join) and
    one shuffled-hash join (the closing edge), counted on the formatted
    plan's per-operator detail headers."""
    import contextlib
    import io
    import re

    from etl_suite_spark.operators.graph import graph_triangle_count

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        graph_triangle_count(spark, SF_DIR).explain("formatted")
    plan = buf.getvalue()
    assert len(re.findall(r"\(\d+\) SortMergeJoin\b", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) ShuffledHashJoin\b", plan)) == 1, plan


def test_prune_pipeline_cell_arithmetic(spark):
    """Per-cell funnel invariants of the pre-aggregated shape: the raw
    count splits exactly into collapsed + reps, kept = reps - dropped,
    and nothing goes negative (a cell with zero reps must read 0/0, not
    NULL — the coalesce(0) path)."""
    rows = QUERIES["llm_corpus_prune_pipeline"](spark, SF_DIR).collect()
    assert rows, "prune pipeline emitted no cells"
    for r in rows:
        assert r.n_raw == r.n_exact_collapsed + r.n_reps
        assert r.n_kept == r.n_reps - r.n_sem_dropped
        assert 0 <= r.n_sem_dropped <= r.n_reps <= r.n_raw
        for v in (r.n_raw, r.n_reps, r.n_exact_collapsed, r.n_sem_dropped, r.n_kept):
            assert v is not None and v >= 0


def test_prune_pipeline_totals_match_audit(spark):
    """The per-cell rows must sum to the audit twin's corpus-level
    funnel — the pre-aggregation may not lose or double-count a cell."""
    cells = QUERIES["llm_corpus_prune_pipeline"](spark, SF_DIR).collect()
    audit = QUERIES["llm_corpus_prune_pipeline_audit"](spark, SF_DIR).collect()[0]
    assert sum(r.n_raw for r in cells) == audit.n_raw
    assert sum(r.n_reps for r in cells) == audit.n_reps
    assert sum(r.n_sem_dropped for r in cells) == audit.n_sem_dropped
    assert sum(r.n_kept for r in cells) == audit.n_kept


def test_observed_sum_reads_posted_metric(spark):
    """Healthy path: the metric posted by the eager checkpoint action is
    returned without running the fallback job."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from etl_suite_spark.llm.dedup import _observed_sum

    obs = Observation()
    df = (
        spark.range(10)
        .select(F.col("id").alias("node"), F.col("id").alias("label"))
        .observe(obs, F.sum(F.col("label").cast("decimal(38,0)")).alias("s"))
        .localCheckpoint(eager=True)
    )
    assert int(_observed_sum(obs, df)) == 45


def test_observed_sum_falls_back_on_missing_metric(spark, monkeypatch):
    """Upgrade-hazard paths (ADVICE r14 item 3, r15 item 2): an
    observation whose metric never arrives must NOT hang, and one whose
    ``get`` raises must not escape the probe thread — both recompute the
    sum with a separate aggregate job."""
    from pyspark.sql import functions as F

    from etl_suite_spark.llm.dedup import _observed_sum

    class _NeverPosts:
        @property
        def get(self):  # blocks past any reasonable timeout
            import time

            time.sleep(3600)

    class _Raises:
        @property
        def get(self):
            raise RuntimeError("metrics event lost")

    escaped: list = []
    monkeypatch.setattr(threading, "excepthook", escaped.append)
    labels = spark.range(10).select(
        F.col("id").alias("node"), F.col("id").alias("label")
    )
    for obs in (_NeverPosts(), _Raises()):
        assert int(_observed_sum(obs, labels, timeout_sec=0.2)) == 45
    assert escaped == [], "probe-thread exception escaped to threading.excepthook"


def test_mat_run_root_is_single_under_threads():
    """Lock-guarded init (ADVICE r14 item 2): concurrent first calls in
    a fresh state must all see the same per-process root."""
    import etl_suite_spark.core as core

    old = core._MAT_RUN_ROOT
    core._MAT_RUN_ROOT = None
    try:
        seen: list[str] = []
        barrier = threading.Barrier(8)

        def grab():
            barrier.wait()
            seen.append(core._mat_run_root())

        threads = [threading.Thread(target=grab) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert len(set(seen)) == 1
    finally:
        # restore the real root so other tests keep their artifacts
        core._MAT_RUN_ROOT = old


def test_index_builders_train_once_then_reuse(spark, monkeypatch):
    """materialize_parts_once build-or-reuse: in a fresh artifact root the
    first call of an IVF and a PQ builder trains and persists, the second
    call trains nothing and reads back the same rows."""
    import etl_suite_spark.core as core
    import etl_suite_spark.llm.clustering as clustering
    import etl_suite_spark.llm.similarity as sim

    calls = {"kmeans_fit": 0, "_pq_train_encode": 0}

    def counting(mod, name):
        real = getattr(mod, name)

        def wrapped(*a, **kw):
            calls[name] += 1
            return real(*a, **kw)

        monkeypatch.setattr(mod, name, wrapped)

    counting(clustering, "kmeans_fit")
    counting(sim, "_pq_train_encode")
    monkeypatch.setattr(core, "_MAT_RUN_ROOT", None)  # fresh, empty root

    def rows(frames):
        return [sorted(map(tuple, f.collect())) for f in frames]

    ivf_first = rows(sim._ivf_index(spark, SF_DIR))
    pq_first = rows(sim._pq_index(spark, SF_DIR))
    assert calls == {"kmeans_fit": 1, "_pq_train_encode": 1}
    assert rows(sim._ivf_index(spark, SF_DIR)) == ivf_first
    assert rows(sim._pq_index(spark, SF_DIR)) == pq_first
    assert calls == {"kmeans_fit": 1, "_pq_train_encode": 1}


def test_rerank_candidate_frontier_is_bounded(spark):
    """The _rerank_top3 broadcast rests on the pooled frontier being
    pool × n_queries rows at most; pin that the ADC consumers' outputs
    stay within the top-3 contract (3 × 10 queries) so a future pool
    explosion is caught here, not in a driver OOM."""
    out = QUERIES["llm_sim_ann_pq"](spark, SF_DIR).collect()
    assert 0 < len(out) <= 30
    per_q: dict = {}
    for r in out:
        per_q.setdefault(r.query_id, 0)
        per_q[r.query_id] += 1
    assert all(v <= 3 for v in per_q.values())
