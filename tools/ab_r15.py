"""Same-session interleaved A/B of the round-15 restructurings.

Protocol (the r14 wave-3 discipline): ONE Spark session, k interleaved
passes of variant A then variant B per pass (a host-noise burst lands on
at most one pass of any variant; compare medians), timed over bench.py's
column-consuming checksum action, with the scheduler calibration
re-measured per pass so drift is visible.

Targets:
- triangle:      graph_triangle_count with the r15 shuffled-hash closing
                 join (new) vs closing_shuffle_hash=False (the r14
                 sort-merge closing join — the knob IS the old plan, no
                 code swap needed).
- rerank_pq,
  rerank_ivfpq:  llm_sim_ann_pq / llm_index_build_pipeline_ivfpq with the
                 r15 broadcast-candidate _rerank_top3 (new) vs the r14
                 corpus-attach form (old body swapped in via the module
                 attribute — the consumers resolve it by global name).
- prune:         llm_corpus_prune_pipeline per-cell pre-aggregation (new)
                 vs the r14 corpus-wide funnel joins (old body inlined
                 below, calling the same helpers).

Usage: python tools/ab_r15.py --target triangle [--passes 5] [--sf DIR]
Prints one JSON line: {"target":..., "sf":..., "passes": k,
 "sched": [...], "runs": {"old": [...], "new": [...]},
 "median": {"old": s, "new": s}, "speedup": old/new}
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from etl_suite_spark.session import get_spark  # noqa: E402


def _old_rerank_top3(cand, e, q):
    """r14 body of _rerank_top3 (corpus-attach join, no cand hint)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_suite_spark.llm.similarity import _cosine, dot

    rer = (
        cand.select("query_id", "neighbor_id")
        .join(
            e.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding"),
                F.col("nsq"),
            ),
            "neighbor_id",
        )
        .join(F.broadcast(q.select("query_id", "q_emb", "q_nsq")), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            _cosine(dot("q_emb", "embedding"), "q_nsq", "nsq").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        rer.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", "cosine")
        .orderBy("query_id", F.col("cosine").desc(), "neighbor_id")
    )


def _old_prune_pipeline(spark, sf_dir):
    """r14 body of llm_corpus_prune_pipeline (corpus-wide funnel joins)."""
    from pyspark.sql import functions as F

    from etl_suite_spark.llm.similarity import (
        _dedup_reps_materialized,
        _semdedup_corpus,
        _semdedup_dropped,
    )

    corpus = _semdedup_corpus(spark, sf_dir)
    reps = _dedup_reps_materialized(spark, sf_dir).select("vec_id")
    rep_corpus = corpus.join(reps, "vec_id", "left_semi")
    dropped = _semdedup_dropped(rep_corpus).withColumn("is_dropped", F.lit(1))
    is_rep = reps.withColumn("is_rep", F.lit(1))
    n_reps = F.sum(F.coalesce(F.col("is_rep"), F.lit(0)))
    n_dropped = F.sum(F.coalesce(F.col("is_dropped"), F.lit(0)))
    return (
        corpus.join(is_rep, "vec_id", "left")
        .join(dropped, "vec_id", "left")
        .groupBy(F.col("cell_a").alias("cell"))
        .agg(
            F.count("*").cast("long").alias("n_raw"),
            n_reps.cast("long").alias("n_reps"),
            (F.count("*") - n_reps).cast("long").alias("n_exact_collapsed"),
            n_dropped.cast("long").alias("n_sem_dropped"),
            (n_reps - n_dropped).cast("long").alias("n_kept"),
        )
        .orderBy("cell")
    )


def _variants(target: str, spark, sf_dir):
    """Returns {"old": thunk, "new": thunk} building a fresh DataFrame."""
    import etl_suite_spark.llm.similarity as sim
    from etl_suite_spark.operators.graph import graph_triangle_count

    if target == "triangle":
        return {
            "old": lambda: graph_triangle_count(
                spark, sf_dir, closing_shuffle_hash=False
            ),
            "new": lambda: graph_triangle_count(spark, sf_dir),
        }
    if target in ("rerank_pq", "rerank_ivfpq"):
        fn = (
            sim.llm_sim_ann_pq
            if target == "rerank_pq"
            else sim.llm_index_build_pipeline_ivfpq
        )
        new_impl = sim._rerank_top3

        def run_old():
            sim._rerank_top3 = _old_rerank_top3
            try:
                return fn(spark, sf_dir)
            finally:
                sim._rerank_top3 = new_impl

        return {"old": run_old, "new": lambda: fn(spark, sf_dir)}
    if target == "prune":
        return {
            "old": lambda: _old_prune_pipeline(spark, sf_dir),
            "new": lambda: sim.llm_corpus_prune_pipeline(spark, sf_dir),
        }
    raise SystemExit(f"unknown target {target}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--target", required=True)
    ap.add_argument("--passes", type=int, default=5)
    ap.add_argument(
        "--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    spark = get_spark("ab-r15-" + args.target)
    spark.sparkContext.setLogLevel("ERROR")
    variants = _variants(args.target, spark, args.sf)

    # warmup both variants once (codegen + artifact builds land here,
    # shared by both sides; not counted)
    for v in variants.values():
        bench._checksum(v())

    runs: dict[str, list[float]] = {k: [] for k in variants}
    sched = []
    for _ in range(args.passes):
        s, _ = bench.measure_sched(spark)
        sched.append(s)
        for name, v in variants.items():
            spark.sparkContext.setJobDescription(f"ab:{args.target}:{name}")
            t0 = time.perf_counter()
            bench._checksum(v())
            runs[name].append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    med = {k: round(statistics.median(v), 3) for k, v in runs.items()}
    print(
        json.dumps(
            {
                "target": args.target,
                "sf": args.sf,
                "passes": args.passes,
                "sched": sched,
                "runs": runs,
                "median": med,
                "speedup_old_over_new": (
                    round(med["old"] / med["new"], 3) if med["new"] else None
                ),
            }
        )
    )


if __name__ == "__main__":
    main()
