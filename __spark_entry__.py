"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All implementations live in :mod:`etl_suite_spark`; importing it populates
the registry (etl_suite_spark/registry.py) from every operator module.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import etl_suite_spark  # noqa: F401  (registration side effects)
from etl_suite_spark.registry import ORACLES, QUERIES

_SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shaped pricing summary) on sf0.001."""
    return QUERIES["agg_group_basic"](spark, _SMOKE_SF_DIR)


# The driver's correctness harness checks the FIRST 50 entries of queries()
# each round; this explicit window rotates driver evidence across rounds.
# Earlier rounds' windows live in git history and CORRECTNESS_r*.json;
# tests/test_entry_contract.py pins the active window so an accidental edit
# can't silently shift it.

# Round-15 overflow plan: queries added during round 14 queue here under
# the same contract (oracle-checked locally on introduction;
# tests/test_entry_contract.py counts R15 toward the
# every-query-has-a-driver-evidence-plan invariant).
R15_PLANNED: list[str] = [
    # added in round 14 (oracle-checked locally on introduction):
    "llm_semdedup_crossset",
    "llm_semdedup_crossset_recall",
    "llm_index_maintenance_policy",  # rows-only by design (k-means metrics); contract twin oracled
    "llm_index_maintenance_policy_contract",
    "llm_quality_threshold_sweep",
]

# Round-15 ACTIVE window (executing VERDICT r14 item 7).  Composition
# recomputed from the CORRECTNESS_r01–r14 ledger this round: the 5
# never-checked round-14 additions (R15_PLANNED) + the 14 pinned r6-era
# leftovers FIRST in the re-check block (tests/test_entry_contract.py's
# R6_LEFTOVER pin demanded they lead R15) + the first 31 r7-era queries
# alphabetically = exactly 50.  Evidence-age distribution at r14 close:
# r6×14, r7×50, r8×50, r9×49, r10×50, r11×50, r12×50, r13×50, r14×50;
# never-checked = exactly R15_PLANNED.  After this window executes, the
# oldest registered evidence is the remaining 19 r7-era queries
# (llm_quality_composite .. udf_arrow_map), which lead the R16 re-check
# block.
R15_RECHECKS: list[str] = [
    # the 14 r6-era leftovers (pinned to lead this block):
    "llm_sim_mmr_rerank",  # rows-only by design (greedy MMR selection)
    "llm_sim_range_search",
    "llm_span_corruption",
    "llm_vocab_growth",
    "mm_byte_framing",
    "scan_rowgroup_stats",
    "stream_topk_per_window",
    "ts_gapfill_interpolate",
    "ts_seasonal_index_dow",
    "win_cusum_changepoint",
    "win_drawdown",
    "win_rank_change",
    "win_rolling_corr7",
    "win_zscore_rolling",
    # first 31 (alphabetically) of the 50 r7-era queries:
    "agg_bootstrap_ci",
    "agg_chisq_independence",
    "agg_decay_score",
    "agg_funnel_timebound",
    "agg_ks_test",
    "agg_mann_whitney",
    "agg_path_trigrams",
    "agg_theil_sen",
    "agg_trimmed_mean",
    "agg_welch_ttest",
    "agg_wow_growth",
    "dq_freshness",
    "dq_psi_drift",
    "dq_schema_contract",
    "dq_volume_anomaly",
    "er_golden_record",
    "graph_assortativity",
    "graph_bfs_distance",
    "graph_clustering_local",
    "inc_partition_rebuild",
    "inc_snapshot_expire",
    "join_asof_tolerance",
    "llm_charset_report",
    "llm_dedup_simhash_recall",
    "llm_dedup_threshold_sweep",
    "llm_emb_quantize_int8",
    "llm_hard_negatives",
    "llm_length_histogram",
    "llm_mixture_epochs",
    "llm_ngram_kneser_ney",
    "llm_packing_efficiency",
]

R15_WINDOW = R15_PLANNED + R15_RECHECKS

# Round-16 overflow plan: round 15 is an optimization round — no new
# queries were added, so the plan is empty (the strict-ledger test
# enforces that every registered query already has evidence or sits in
# the active window).
R16_PLANNED: list[str] = []


def _windowed(mapping: dict) -> dict:
    ordered = {k: mapping[k] for k in R15_WINDOW if k in mapping}
    ordered.update((k, v) for k, v in mapping.items() if k not in ordered)
    return ordered


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _windowed(dict(QUERIES))


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query id (rows-only ops omitted)."""
    return _windowed(dict(ORACLES))
