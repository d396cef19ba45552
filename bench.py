"""Benchmark harness — the driver's per-round performance probe.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints TWO JSON
lines — a full detail record (with raw per-pass ``runs`` arrays), then a
compact FINAL line sized for the driver's 2000-char stdout tail::

    {"metric":"headline_wall_sec","value":N,"unit":"sec","sf":0.1,
     "repeats":3,"calibration_sec":C,"sched_1k_tasks_sec":S,
     "queries":{"q1":sec,...}}

(The single-line format outgrew the driver's tail window at 30 rows —
BENCH_r05 recorded ``"parsed": null``; the driver parses the LAST line.)

Headline set (SURVEY.md §6): the flagship group-agg, the 5-way join, the
per-group top-k window, and the LLM-data ops (dedup + similarity) — the
shapes that dominate a 100 TB run. Queries not yet registered are skipped so
the bench degrades gracefully mid-build.

Noise robustness (VERDICT r3 item 2): this host suffers bursty multi-minute
hypervisor noise that can inflate a contiguous stretch of single-shot
timings 3–7× (BASELINE.md "NOISE WARNING"; BENCH_r03 read as a 2× regression
for code that idle-measured at its best-ever).  The harness therefore runs
the whole query list k=3 times INTERLEAVED (A,B,C,…,A,B,C,…) and reports the
per-query MEDIAN: a noise burst lands on at most one pass of any query, and
the median rejects it.  ``value`` is the sum of per-query medians; ``runs``
keeps the raw per-pass timings so a judge can see the spread.

Machine calibration (added round 5): successive rounds run on freshly
provisioned VMs whose raw speed varies by integer factors (the round-5
close VM ran the identical warm flagship query ~5x slower than the
round-4 record's VM — measured steady-state, idle, same code). Absolute
cross-round comparisons are therefore meaningless without a hardware
normalizer, so every bench record now carries ``calibration_sec``: the
median of 3 runs of a fixed DATA-INDEPENDENT pure-JVM workload
(xxhash64-sum over spark.range(150M) — whole-stage codegen, no I/O, no
repo code) plus ``sched_1k_tasks_sec`` (wall time to run 1000 EMPTY
tasks — pure scheduler/dispatch throughput). The round-5 close VM
measured cpu-calibration FAST (0.17 s) while empty-task dispatch ran
~7 ms/task (~20x a healthy local mode), which is exactly the overhead
that dominates a many-stage query at sf0.1 — so normalize stage-heavy
subtotals by the SCHEDULER number, scan-heavy ones by the CPU number
(BASELINE.md addendum 14).

Each query is timed over a COLUMN-CONSUMING CHECKSUM action — sum of
xxhash64 over every output column — after a JVM/codegen warmup pass of the
flagship query. Through round 4 the action was ``df.count()``, which for
row-preserving queries lets Catalyst prune computed projections that don't
affect cardinality (e.g. the chunk text in llm_doc_chunking), flattering
map-heavy rows; the checksum forces every output column to materialize
(VERDICT r4 item 5). BASELINE.md carries the old-vs-new comparison table —
rows whose number legitimately shifted under the honest action are
re-baselined there, dated. Timings are end-to-end wall seconds including
Catalyst planning — the number that actually matters.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import etl_suite_spark  # noqa: F401  (registry side effects)
from etl_suite_spark.registry import QUERIES
from etl_suite_spark.session import get_spark

HEADLINE = [
    "agg_group_basic",
    "join_multiway",
    "win_topk_per_group",
    "dedup_by_key_latest",
    "agg_approx_count_distinct",
    "llm_dedup_exact",
    "llm_dedup_minhash",
    "llm_sim_cosine_topk",
    "llm_text_stats",
    "llm_doc_chunking",
    "win_sessionize",
    "llm_decontaminate",
    "llm_seq_packing",
    "tpch_q3",
    "tpch_q6",
    # appended after the round-1 baseline was recorded (BASELINE.md keeps
    # dated sections; earlier numbers are never overwritten):
    "join_range_bucketed",
    "inc_cdc_apply",
    "llm_unigram_logprob",
    "llm_sim_ann_lsh",
    "graph_pagerank",
    # appended in round 3 (VERDICT r2 #7): one stateful-streaming row so the
    # applyInPandasWithState path has a tracked perf number before scaling.
    "stream_stateful_custom",
    # appended in round 4 (VERDICT r3 #7): perf-track the newest nontrivial
    # plans — exact shared-span dedup and a TPC-H heavy 6-way join.
    "llm_dedup_substring",
    "tpch_q9",
    # appended later in round 4: corpus-wide chunk dedup (skew-safe
    # first-occurrence agg) and PQ/ADC ANN (iterative multi-subspace
    # k-means + broadcast ADC scoring) — first-measurement baselines.
    "llm_dedup_paragraph",
    "llm_sim_ann_pq",
    # appended in round 5 (VERDICT r4 item 6): the heaviest previously
    # unbenched families — IVF-PQ ANN (warm; cold k-means train is the
    # scale-smoke's job), the LSH-routed embedding dedup, and a running-
    # median window — first-measurement baselines under the checksum
    # action.
    "llm_sim_ann_ivfpq",
    "llm_dedup_embedding",
    "win_running_median",
    # appended later in round 5: the two heaviest new families — T5 span
    # corruption (full-corpus explode + three shared-sort windows +
    # null-skipping rebuild) and co-purchase connected components (the
    # convergence-looped min-label propagation; pagerank covers the
    # fixed-iteration graph shape, this covers the iterate-until-fixpoint
    # one) — first-measurement baselines under the checksum action.
    "llm_span_corruption",
    "graph_connected_components",
    # appended in round 6 (VERDICT r5 item 7): first bench representation
    # for the r5 analytics/dq families — the self-join pair miner (capped
    # basket pair generation) and the full-outer snapshot reconciliation —
    # first-measurement baselines under the checksum action.
    "agg_market_basket",
    "dq_snapshot_diff",
    # appended in round 7: first bench representation for the two new
    # iterative/sketch families — fixed-round k-core peeling (per-round
    # localCheckpoint barrier costs dominate at fixture scale) and the
    # count-min sketch build + broadcast readout — first-measurement
    # baselines under the checksum action.
    "graph_kcore",
    "agg_cms_heavy_hitters",
    # appended in round 8: the full BPE training loop (8 driver-looped
    # merge rounds over the distinct-word table — the iterate-with-
    # evolving-state shape none of the other rows cover) — first-
    # measurement baseline under the checksum action.
    "llm_bpe_train",
    # appended later in round 8: the two new corpus-pass families — DSIR
    # importance scoring (two Heaps-sized count-table joins + per-doc
    # decimal sum) and the PCA projection (integer moment passes +
    # driver eigh + Arrow matmul) — first-measurement baselines under
    # the checksum action.
    "llm_dsir_weights",
    "llm_emb_pca",
    # appended in round 9: the dedup-before-index ANN pipeline (the
    # composed remedy operator — dedup shuffle + PQ train/encode on
    # representatives + ADC probe + exact re-rank) and the batched BPE
    # trainer (k merges per driver round) — first-measurement baselines
    # under the checksum action.
    "llm_index_build_pipeline",
    "llm_bpe_train_batched",
    # appended in round 10: the dedup-IVF-PQ composite (both quantizers
    # trained on representatives — the cell-routed extension of the
    # pipeline row above) and the matryoshka truncation sweep (4 bounded
    # broadcast-NLJ passes with prefix-length dot folds) —
    # first-measurement baselines under the checksum action.
    "llm_index_build_pipeline_ivfpq",
    "llm_emb_matryoshka_recall",
    # appended in round 11: the throttled backlog drain (two checkpointed
    # AvailableNow runs + 7 foreachBatch warehouse merges — the restart-
    # recovery shape, state-store/commit-floor bound like the other
    # streaming row) and the tombstone-filtered IVF probe + survivor
    # ground truth (the index-delete serving path) — first-measurement
    # baselines under the checksum action.
    "stream_restart_backlog_drain",
    "llm_index_tombstone_probe_recall",
    # appended in round 12: SemDeDup semantic pruning (two banded hash
    # self-joins + cosine gate — the cluster-then-prune economics in one
    # deterministic, fully-hash-checked op) and the rebalance-probe
    # recall (2-means cell split + nprobe=2 over the widened layout) —
    # first-measurement baselines under the checksum action.
    "llm_semdedup",
    "llm_index_cell_rebalance_recall",
    # round 13: the composed corpus prune and the multi-band semantic
    # prune (first tracked measurements become their own baselines)
    "llm_corpus_prune_pipeline",
    "llm_semdedup_bands",
]

REPEATS = 3

# The round-1 performance baseline (BASELINE.md 2026-08-13: 29.38 s) was
# recorded over the FIRST 20 headline rows; the cross-round 2x gate is
# judged against that subtotal, so the record carries it as an explicit
# field — and, because rounds land on VMs whose empty-task dispatch rate
# varies ~25x, also pre-divided by sched_1k_tasks_sec (the stage-bound
# normalization protocol of BASELINE.md addendum 14) so the gate can be
# read without reconstruction.
R1_BASELINE_ROWS = 20


def _checksum(df) -> None:
    """Force full materialization of every output column: sum of xxhash64
    across the row. ``count()`` lets Catalyst drop computed projections
    that don't change cardinality; hashing every column closes that hole.
    Map columns are decomposed first (xxhash64 rejects MapType)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    cols = [
        F.map_entries(f.name) if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in df.schema.fields
    ]
    df.select(F.xxhash64(*cols).alias("h")).agg(F.sum("h")).collect()


def measure_sched(spark, probes: int = 3) -> tuple[float, list[float]]:
    """The 1k-empty-task scheduler calibration (median of ``probes``).
    Shared with tools/ab.py so the A/B tool measures the EXACT bench
    protocol — a drift between the two would silently invalidate its
    within-session comparison (code-review r9 finding #6)."""
    runs = []
    for _ in range(probes):
        t0 = time.perf_counter()
        spark.sparkContext.parallelize(range(1000), 1000).count()
        runs.append(round(time.perf_counter() - t0, 3))
    return round(statistics.median(runs), 3), runs


def time_queries(spark, names, sf_dir, repeats) -> dict[str, list[float]]:
    """The interleaved repeat/checksum timing loop (the same
    checksum-timed protocol tools/ab.py runs per pass; same rationale as
    measure_sched)."""
    runs: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(repeats):
        for name in names:
            t0 = time.perf_counter()
            _checksum(QUERIES[name](spark, sf_dir))
            runs[name].append(round(time.perf_counter() - t0, 3))
    return runs


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", REPEATS))

    spark = get_spark("etl-suite-bench")
    spark.sparkContext.setLogLevel("ERROR")

    names = [n for n in HEADLINE if n in QUERIES]

    # Warmup: JVM JIT + codegen + parquet footer caches.
    _checksum(QUERIES[names[0]](spark, sf_dir))

    # Machine calibration: fixed data-independent JVM workload (see module
    # docstring). Timed AFTER warmup so it measures steady-state speed.
    from pyspark.sql import functions as F

    cal_runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(150_000_000).select(
            F.sum(F.xxhash64("id")).alias("h")
        ).collect()
        cal_runs.append(round(time.perf_counter() - t0, 3))
    calibration = round(statistics.median(cal_runs), 3)

    sched, sched_runs = measure_sched(spark)

    runs = time_queries(spark, names, sf_dir, repeats)

    timings = {n: round(statistics.median(r), 3) for n, r in runs.items()}
    total = round(sum(timings.values()), 3)
    # Noise-hardening additions (round 15; VERDICT r14 item 2 — the r14
    # driver run landed in a hypervisor burst and the medians alone could
    # not separate host noise from regression).  ADDITIVE only: the
    # headline metric, query list and median protocol are unchanged.
    # - best-pass per query: a burst can sit on 2 of 3 interleaved passes
    #   and drag the median; the best pass is the least-contaminated
    #   single observation on a noisy host.
    # - per-sched-normalized median: median / sched_1k_tasks_sec — the
    #   stage-bound normalization of BASELINE.md addendum 14, per query.
    best = {n: round(min(r), 3) for n, r in runs.items()}
    value_best = round(sum(best.values()), 3)
    r1_set = [n for n in HEADLINE[:R1_BASELINE_ROWS] if n in timings]
    subtotal = round(sum(timings[n] for n in r1_set), 3)
    detail = {
        "metric": "headline_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "repeats": repeats,
        "calibration_sec": calibration,
        "calibration_runs": cal_runs,
        "sched_1k_tasks_sec": sched,
        "sched_runs": sched_runs,
        "subtotal_r1_20q": subtotal,
        "subtotal_per_sched": round(subtotal / sched, 2) if sched else None,
        "value_best": value_best,
        "subtotal_r1_20q_best": round(sum(best[n] for n in r1_set), 3),
        "queries_best": best,
        "queries_per_sched": {
            n: round(v / sched, 3) for n, v in timings.items()
        } if sched else None,
        "runs": runs,
    }
    # Full detail first (raw per-pass runs for spread inspection), then the
    # compact record LAST: the driver parses the final stdout line and keeps
    # only a 2000-char tail, which the detail record outgrew at 30 rows
    # (BENCH_r05 recorded "parsed": null). The compact line drops the runs
    # arrays and degrades further if the query map itself ever gets huge.
    print(json.dumps(detail))
    print(compact_record(detail))


def compact_record(detail: dict, limit: int = 1900) -> str:
    """Final-line record sized for the driver's 2000-char tail window."""
    compact = {
        k: detail[k]
        for k in (
            "metric",
            "value",
            "unit",
            "sf",
            "repeats",
            "calibration_sec",
            "sched_1k_tasks_sec",
            "subtotal_r1_20q",
            "subtotal_per_sched",
            "value_best",
        )
        if k in detail
    }
    compact["queries"] = detail["queries"]
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > limit:  # ~60+ rows at 3 dp: shrink to 2 dp
        compact["queries"] = {n: round(v, 2) for n, v in detail["queries"].items()}
        line = json.dumps(compact, separators=(",", ":"))
    if len(line) > limit:  # last resort: headline number beats no number
        del compact["queries"]
        line = json.dumps(compact, separators=(",", ":"))
    return line


if __name__ == "__main__":
    main()
