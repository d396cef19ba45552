"""Round-14 additions: the two-channel embedding-dedup routing that
closes the sf0.1 divergence (VERDICT r13 item 2, option a)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


# ---------------------------------------------------------------------------
# VERDICT r13 item 2: the distribution routing channel


@pytest.fixture(scope="module")
def distribution_dup_docs(spark):
    """Two docs with IDENTICAL word multisets but ZERO shared word
    3-grams (one is the other reversed) — cosine 1.0 on hashed-TF
    vectors, shingle Jaccard 0.0.  The exact miss mode that left
    llm_dedup_embedding at 255/256 on sf0.1 through round 13: a
    sequence statistic (3-gram MinHash) is structurally blind to a
    distribution match.  Plus one unrelated doc as a negative."""
    words = [f"w{i:02d}" for i in range(24)]
    fwd = " ".join(words)
    rev = " ".join(reversed(words))
    other = " ".join(f"z{i:02d}" for i in range(24))
    return spark.createDataFrame(
        [(1, fwd), (2, rev), (3, other)], ["doc_id", "text"]
    )


def test_minhash_channel_blind_to_distribution_dup(spark, distribution_dup_docs):
    """The planted pair shares no 3-gram, so the sequence channel alone
    proposes NOTHING — the pre-r14 miss, reproduced as a pin."""
    from etl_suite_spark.llm.dedup import (
        _band_candidates,
        _minhash_signatures,
        _shingles,
    )

    cand = _band_candidates(
        _minhash_signatures(_shingles(distribution_dup_docs))
    ).collect()
    assert not any(r.doc_a == 1 and r.doc_b == 2 for r in cand)


def test_simhash_channel_catches_distribution_dup(spark, distribution_dup_docs):
    """The distribution channel fingerprints the word histogram: the
    planted pair's prints are IDENTICAL (hamming 0 — same multiset), so
    every 16-bit block collides and the pair routes; the unrelated doc
    pairs with nothing under the cap."""
    from etl_suite_spark.llm.dedup import (
        _TF_SIMHASH_MAX_HAMMING,
        _simhash_block_pairs,
        _simhash_prints,
    )

    pairs = _simhash_block_pairs(
        _simhash_prints(spark, distribution_dup_docs), _TF_SIMHASH_MAX_HAMMING
    ).collect()
    hit = [r for r in pairs if r.doc_a == 1 and r.doc_b == 2]
    assert len(hit) == 1 and hit[0].hamming == 0
    assert not any(r.doc_b == 3 or r.doc_a == 3 for r in pairs)


def test_scored_union_keeps_exactly_the_true_pair(spark, distribution_dup_docs):
    """End-to-end through the exact scorer: the identical-multiset pair
    scores cosine 1.0 and survives; no false pair appears.  (Scores the
    candidate-level union on the planted corpus via the raw helpers —
    equivalent to the registered op's result-level union since both
    channels run the same scorer at the same tau; the registered op
    itself is driver-gated at all three fixtures.)"""
    from etl_suite_spark.llm.dedup import (
        _TF_SIMHASH_MAX_HAMMING,
        _band_candidates,
        _hashed_tf,
        _minhash_signatures,
        _score_candidate_pairs,
        _shingles,
        _simhash_block_pairs,
        _simhash_prints,
    )

    seq = _band_candidates(
        _minhash_signatures(_shingles(distribution_dup_docs))
    )
    dist = _simhash_block_pairs(
        _simhash_prints(spark, distribution_dup_docs), _TF_SIMHASH_MAX_HAMMING
    ).select("doc_a", "doc_b")
    cand = seq.unionByName(dist).distinct()
    tf = _hashed_tf(distribution_dup_docs)
    out = _score_candidate_pairs(cand, tf).collect()
    assert [(r.doc_a, r.doc_b, r.cosine) for r in out] == [(1, 2, 1.0)]


def test_simhash_block_pair_cap_filters(spark, distribution_dup_docs):
    """The hamming cap is applied AFTER the distinct over block
    collisions: at cap 64 the stream may carry template collisions; at
    cap -1 nothing survives — pinning that the cap is live (a dropped
    filter would silently widen the scored stream 1.4x at sf0.1)."""
    from etl_suite_spark.llm.dedup import _simhash_block_pairs, _simhash_prints

    prints = _simhash_prints(spark, distribution_dup_docs)
    assert _simhash_block_pairs(prints, -1).count() == 0
    assert _simhash_block_pairs(prints, 64).count() >= 1


# ---------------------------------------------------------------------------
# VERDICT r13 item 3: the semantic cross-set prune


@pytest.fixture(scope="module")
def crossset_sf(tmp_path_factory, spark):
    """A tiny embeddings corpus with planted structure around the
    vec_id % 10 == 0 batch split:

    - vec 10 (batch) duplicates standing vecs 1 and 2 (cosine 1.0,
      same cells) -> dropped with first_dup_id=1, n_dups=2;
    - vec 20 (batch) duplicates BATCH vec 30 only -> batch-internal
      dup must NOT drop either (cross-set screens against standing
      only);
    - vec 40 (batch) is the negative of vec 3 (cosine -1, same-ish
      cells impossible: sign cells differ) -> kept;
    - vec 50 (batch) orthogonal to everything -> kept."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    base1 = rng.normal(size=64)
    base2 = rng.normal(size=64)
    base3 = rng.normal(size=64)  # independent: cosine to base1/base2 << tau
    rows = [
        (1, base1), (2, base1 * 2.0), (3, base2),
        (10, base1 * 0.5),
        (20, base3), (30, base3 * 1.5),
        (40, -base2),
        (50, rng.normal(size=64)),
    ]
    d = tmp_path_factory.mktemp("crossset_sf")
    pd.DataFrame(
        {
            "vec_id": [r[0] for r in rows],
            "embedding": [list(map(float, r[1])) for r in rows],
        }
    ).to_parquet(f"{d}/embeddings.parquet", index=False)
    return str(d)


def test_crossset_drops_only_batch_vs_standing(spark, crossset_sf):
    from etl_suite_spark.registry import QUERIES

    out = {
        r.vec_id: (r.first_dup_id, r.n_dups)
        for r in QUERIES["llm_semdedup_crossset"](spark, crossset_sf).collect()
    }
    # vec 10 dropped by standing twins 1 and 2
    assert out[10] == (1, 2)
    # batch-internal dup (20 vs 30) must not appear; negatives/orthogonals kept
    assert 20 not in out and 30 not in out
    assert 40 not in out and 50 not in out


def test_crossset_matches_oracle_on_planted_corpus(spark, crossset_sf):
    """Cross-engine parity on the planted corpus itself (the driver
    checks the synthetic fixtures; this pins the planted edge cases)."""
    import duckdb

    import __spark_entry__ as entry_mod

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{crossset_sf}/embeddings.parquet')"
    )
    for name in ("llm_semdedup_crossset", "llm_semdedup_crossset_recall"):
        from etl_suite_spark.registry import ORACLES, QUERIES

        spark_rows = [
            tuple(r) for r in QUERIES[name](spark, crossset_sf).collect()
        ]
        oracle_rows = con.execute(ORACLES[name]).fetchall()
        assert spark_rows == oracle_rows, name


def test_crossset_hit_volume_is_batch_proportional(spark, crossset_sf):
    """The kernel only GEMMs batch x standing inside shared cells: a
    cell with no batch member contributes nothing (the economics the
    600k-tier measurement records at scale)."""
    from etl_suite_spark.llm.similarity import (
        _crossset_corpus,
        _semdedup_crossset_hits,
    )

    e = _crossset_corpus(spark, crossset_sf)
    hits = _semdedup_crossset_hits(e).collect()
    batch_ids = {r.vec_id for r in e.filter("is_batch = 1").collect()}
    assert all(r.vec_id in batch_ids for r in hits)
    assert all(r.dup_id not in batch_ids for r in hits)


# ---------------------------------------------------------------------------
# VERDICT r13 item 4: the maintenance-policy contract


def test_policy_action_pinned_per_trigger_state(spark):
    """The action column against EVERY planted trigger state — the
    VERDICT item's done-gate.  Expected actions derived BY HAND from
    the documented semantics (strict > for ratio triggers, strict <
    for the recall floor), not from the CASE under test."""
    from etl_suite_spark.registry import QUERIES

    out = {
        r.scenario_id: (r.action, r.triggered)
        for r in QUERIES["llm_index_maintenance_policy_contract"](
            spark, SF_DIR
        ).collect()
    }
    assert out == {
        1: ("none", False),           # occupancy 1.00 < 1.10
        2: ("none", False),           # occupancy exactly at threshold
        3: ("rebalance", True),       # occupancy 1.11 > 1.10
        4: ("rebalance", True),       # occupancy 1.50
        5: ("none", False),           # delta 0.00
        6: ("none", False),           # delta exactly at threshold
        7: ("retrain", True),         # delta 0.16 > 0.15
        8: ("retrain", True),         # delta 0.50
        9: ("widen_nprobe", True),    # recall 0.25 < 0.40
        10: ("widen_nprobe", True),   # recall 0.39 < 0.40
        11: ("none", False),          # recall exactly at floor
        12: ("none", False),          # recall 0.41
    }


def test_policy_live_rows_consistent_with_contract(spark):
    """The live op's three metric rows must each carry the action the
    shared CASE derives from their own observed value — re-derived here
    independently in Python from _POLICY_RULES."""
    from etl_suite_spark.llm.similarity import _POLICY_RULES
    from etl_suite_spark.registry import QUERIES

    rules = {m: (act, cmp, thr) for m, act, cmp, thr in _POLICY_RULES}
    rows = QUERIES["llm_index_maintenance_policy"](spark, SF_DIR).collect()
    assert {r.metric for r in rows} == set(rules)
    for r in rows:
        act, cmp, thr = rules[r.metric]
        expected = (
            act
            if (r.observed > thr if cmp == ">" else r.observed < thr)
            else "none"
        )
        assert r.action == expected, (r.metric, r.observed)
        assert r.triggered == (expected != "none")
        assert r.threshold == thr


def test_policy_observed_values_come_from_the_audited_artifacts(spark):
    """The live occupancy_ratio and delta_share must equal what the
    incremental-index audit itself reports (recomputed here from
    _ivf_incr_parts directly — the policy cannot read different
    artifacts than the dashboard it automates)."""
    from pyspark.sql import functions as F

    from etl_suite_spark.llm.similarity import _ivf_incr_parts
    from etl_suite_spark.registry import QUERIES

    base_cells, delta_cells, _ = _ivf_incr_parts(spark, SF_DIR)
    sizes = [
        r.n
        for r in base_cells.unionByName(delta_cells)
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    n_delta = delta_cells.count()
    n_total = sum(sizes)
    rows = {
        r.metric: r.observed
        for r in QUERIES["llm_index_maintenance_policy"](spark, SF_DIR).collect()
    }
    assert rows["occupancy_ratio"] == round(
        max(sizes) / (n_total / len(sizes)), 4
    )
    assert rows["delta_share"] == round(n_delta / n_total, 4)


# ---------------------------------------------------------------------------
# Round-14 addition: the quality-threshold calibration sweep


def test_quality_sweep_matches_independent_recompute(spark):
    """Each curve row re-derived independently from the registered score
    op's own output (pandas-side), including the empty top row."""
    from etl_suite_spark.llm.traindata import _QUALITY_SWEEP_THRESHOLDS
    from etl_suite_spark.registry import QUERIES

    scored = QUERIES["llm_quality_score"](spark, SF_DIR).toPandas()
    rows = QUERIES["llm_quality_threshold_sweep"](spark, SF_DIR).collect()
    assert [r.threshold for r in rows] == list(_QUALITY_SWEEP_THRESHOLDS)
    n_docs, tot_tokens = len(scored), int(scored.n_tokens.sum())
    for r in rows:
        sel = scored[scored.quality >= r.threshold]
        assert r.n_selected == len(sel)
        assert r.selected_tokens == int(sel.n_tokens.sum())
        assert r.doc_share == round(len(sel) / n_docs, 6)
        assert r.token_share == round(int(sel.n_tokens.sum()) / tot_tokens, 6)
    # the grid must exercise BOTH branches at the fixture: at least one
    # threshold selects nothing and at least one selects a majority
    assert any(r.n_selected == 0 for r in rows)
    assert any(r.n_selected > n_docs / 2 for r in rows)
