"""Round-13 additions: semdedup input guards + GEMM column tiling
(ADVICE r12), multi-band semdedup (VERDICT item 6), the composed
corpus-prune pipeline (item 5), and the coarse-quantizer retrain
(item 2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


# ---------------------------------------------------------------------------
# ADVICE r12 items 1+2: loud input guards, both engines


@pytest.fixture(scope="module")
def zero_norm_sf(tmp_path_factory):
    """A corpus where vec_id 3 is the all-zero vector — cosine would be
    NaN, and NaN >= tau diverges between Spark/numpy (false) and
    DuckDB's total order (true)."""
    import pandas as pd
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("zero_norm_sf")
    pdf = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pandas()
    pdf.loc[pdf.vec_id == 3, "embedding"] = pd.Series(
        [[0.0] * 64], index=pdf.index[pdf.vec_id == 3]
    )
    pdf.to_parquet(f"{d}/embeddings.parquet", index=False)
    return str(d)


@pytest.fixture(scope="module")
def short_dim_sf(tmp_path_factory):
    """A corpus where vec_id 3 has 32 dims — zip_with would null-pad in
    Spark while list_sum NULL-skips in DuckDB, silently disagreeing on
    every cell id."""
    import pandas as pd
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("short_dim_sf")
    pdf = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pandas()
    src = pdf.loc[pdf.vec_id == 3, "embedding"].iloc[0]
    pdf.loc[pdf.vec_id == 3, "embedding"] = pd.Series(
        [list(src)[:32]], index=pdf.index[pdf.vec_id == 3]
    )
    pdf.to_parquet(f"{d}/embeddings.parquet", index=False)
    return str(d)


def test_zero_norm_fails_loudly_spark(spark, zero_norm_sf):
    from etl_suite_spark.llm.similarity import _semdedup_corpus

    with pytest.raises(Exception, match="zero-norm"):
        _semdedup_corpus(spark, zero_norm_sf).collect()


def test_zero_norm_fails_loudly_duckdb(zero_norm_sf):
    import duckdb

    from etl_suite_spark.llm.similarity import _SEMDEDUP_CELLS_SQL

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{zero_norm_sf}/embeddings.parquet')"
    )
    with pytest.raises(Exception, match="zero-norm"):
        con.execute(_SEMDEDUP_CELLS_SQL).fetchall()
    con.close()


@pytest.fixture(scope="module")
def null_embedding_sf(tmp_path_factory):
    """A corpus where vec_id 3's embedding is NULL — without the
    explicit guard branch, DuckDB's CASE null-propagates and the row
    silently vanishes from joins while Spark errors (code-review
    r13)."""
    import pandas as pd
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("null_embedding_sf")
    pdf = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pandas()
    pdf.loc[pdf.vec_id == 3, "embedding"] = None
    pdf.to_parquet(f"{d}/embeddings.parquet", index=False)
    return str(d)


def test_null_embedding_fails_loudly_spark(spark, null_embedding_sf):
    from etl_suite_spark.llm.similarity import _semdedup_corpus

    with pytest.raises(Exception, match="NULL embedding"):
        _semdedup_corpus(spark, null_embedding_sf).collect()


def test_null_embedding_fails_loudly_duckdb(null_embedding_sf):
    import duckdb

    from etl_suite_spark.llm.similarity import _SEMDEDUP_CELLS_SQL

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{null_embedding_sf}/embeddings.parquet')"
    )
    with pytest.raises(Exception, match="NULL embedding"):
        con.execute(_SEMDEDUP_CELLS_SQL).fetchall()
    con.close()


def test_short_dim_fails_loudly_spark(spark, short_dim_sf):
    from etl_suite_spark.llm.similarity import _semdedup_corpus

    with pytest.raises(Exception, match="dim must be 64"):
        _semdedup_corpus(spark, short_dim_sf).collect()


def test_short_dim_fails_loudly_duckdb(short_dim_sf):
    import duckdb

    from etl_suite_spark.llm.similarity import _SEMDEDUP_CELLS_SQL

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{short_dim_sf}/embeddings.parquet')"
    )
    with pytest.raises(Exception, match="dim must be 64"):
        con.execute(_SEMDEDUP_CELLS_SQL).fetchall()
    con.close()


# ---------------------------------------------------------------------------
# ADVICE r12 item 3: the GEMM kernel tiles BOTH dimensions


def test_gemm_column_tiling_is_exact(spark):
    """The drop set is invariant to the tile edge: block=7 forces many
    row AND column tiles (500-row fixture), so partial-tile indexing,
    the earlier-id mask across tile boundaries, and the early-exit path
    all execute — and must reproduce the default-block answer
    exactly."""
    from etl_suite_spark.llm.similarity import (
        _semdedup_corpus,
        _semdedup_dropped,
    )

    e = _semdedup_corpus(spark, SF_DIR)
    tiny = {r["vec_id"] for r in _semdedup_dropped(e, block=7).collect()}
    full = {r["vec_id"] for r in _semdedup_dropped(e).collect()}
    assert tiny == full
    assert full, "fixture must drop at least one doc for this to bite"


# ---------------------------------------------------------------------------
# VERDICT item 6: multi-band semdedup


def test_multiband_drop_superset(spark):
    """The 4-band drop set contains the 2-band drop set (bands 0/1 are
    the two-band op's A/B; extra bands only add candidate pairs)."""
    from etl_suite_spark.llm.similarity import (
        _SEMDEDUP_BAND_COLS,
        _semdedup_corpus,
        _semdedup_corpus_banded,
        _semdedup_dropped,
    )

    two = {
        r["vec_id"]
        for r in _semdedup_dropped(_semdedup_corpus(spark, SF_DIR)).collect()
    }
    four = {
        r["vec_id"]
        for r in _semdedup_dropped(
            _semdedup_corpus_banded(spark, SF_DIR, bands=4),
            cell_cols=_SEMDEDUP_BAND_COLS,
        ).collect()
    }
    assert four >= two
    assert len(four) > len(two), (
        "on the near-orthogonal fixture more bands must genuinely add drops"
    )


def test_multiband_band_count_differential(spark):
    """The shared fuzz-tool band sweep on the driver fixture: per band
    count, Spark's drop set equals the oracle-builder SQL's, and drop
    sets grow monotonically with band count."""
    from tools.fuzz_semdedup import compare_band_counts

    compare_band_counts(spark, SF_DIR)


def test_multiband_recall_monotone_flag(spark):
    """The registered twin's monotone_vs_2band flag is genuinely
    measured TRUE on the fixture (also hash-pinned by the oracle, but
    pin it here so a refactor that breaks it fails fast and local)."""
    from etl_suite_spark.registry import QUERIES

    row = QUERIES["llm_semdedup_bands_recall"](spark, SF_DIR).collect()[0]
    assert row["monotone_vs_2band"] is True
    assert row["n_found_pairs"] >= row["n_found_pairs_2band"]
    assert row["recall_ge_30"] is True


def test_band_count_capacity_guard(spark):
    """bands*bits beyond the 42-projection weight family fails loudly."""
    from etl_suite_spark.llm.similarity import _semdedup_corpus_banded

    with pytest.raises(ValueError, match="42"):
        _semdedup_corpus_banded(spark, SF_DIR, bands=15, bits=3)


# ---------------------------------------------------------------------------
# VERDICT item 5: the composed corpus-prune pipeline


def test_prune_pipeline_funnel_arithmetic(spark):
    """Per-cell funnel identities: raw = reps + exact_collapsed,
    kept = reps - sem_dropped, and the cells partition the corpus."""
    from etl_suite_spark.io import load_table
    from etl_suite_spark.registry import QUERIES

    rows = QUERIES["llm_corpus_prune_pipeline"](spark, SF_DIR).collect()
    n_corpus = load_table(spark, SF_DIR, "embeddings").count()
    assert sum(r["n_raw"] for r in rows) == n_corpus
    for r in rows:
        assert r["n_raw"] == r["n_reps"] + r["n_exact_collapsed"]
        assert r["n_kept"] == r["n_reps"] - r["n_sem_dropped"]
        assert r["n_kept"] >= 0


def test_prune_pipeline_collapses_planted_exact_dup(spark, tmp_path_factory):
    """A planted exact duplicate is removed by the EXACT stage (it never
    reaches the semantic kernel): with vec_id 250 an exact copy of
    vec_id 1, the pipeline's rep count falls by exactly 1 and 250 is
    not among the semantic drops."""
    import pandas as pd
    import pyarrow.parquet as pq

    from etl_suite_spark.llm.similarity import (
        _dedup_reps,
        _semdedup_corpus,
        _semdedup_dropped,
    )
    from etl_suite_spark.registry import QUERIES

    d = tmp_path_factory.mktemp("prune_planted")
    pdf = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pandas()
    src = pdf.loc[pdf.vec_id == 1, "embedding"].iloc[0]
    pdf.loc[pdf.vec_id == 250, "embedding"] = pd.Series(
        [src], index=pdf.index[pdf.vec_id == 250]
    )
    pdf.to_parquet(f"{d}/embeddings.parquet", index=False)

    n = len(pdf)
    audit = QUERIES["llm_corpus_prune_pipeline_audit"](spark, str(d)).collect()[0]
    assert audit["n_raw"] == n
    assert audit["n_reps"] == n - 1  # 250 collapsed into 1's signature
    reps = {r["vec_id"] for r in _dedup_reps(spark, str(d)).collect()}
    assert 250 not in reps and 1 in reps
    sem_dropped = {
        r["vec_id"]
        for r in _semdedup_dropped(
            _semdedup_corpus(spark, str(d)).join(
                spark.createDataFrame([(v,) for v in reps], "vec_id long"),
                "vec_id",
                "left_semi",
            )
        ).collect()
    }
    assert 250 not in sem_dropped


def test_prune_pipeline_audit_consistent_with_percell(spark):
    from etl_suite_spark.registry import QUERIES

    cells = QUERIES["llm_corpus_prune_pipeline"](spark, SF_DIR).collect()
    audit = QUERIES["llm_corpus_prune_pipeline_audit"](spark, SF_DIR).collect()[0]
    assert audit["n_raw"] == sum(r["n_raw"] for r in cells)
    assert audit["n_reps"] == sum(r["n_reps"] for r in cells)
    assert audit["n_sem_dropped"] == sum(r["n_sem_dropped"] for r in cells)
    assert audit["n_kept"] == sum(r["n_kept"] for r in cells)
    assert audit["nonempty"] is True


# ---------------------------------------------------------------------------
# VERDICT item 2: the quantizer retrain


def test_retrain_covers_exactly_survivors(spark):
    """Conservation: the retrained assignment holds every live vec_id
    exactly once and no tombstoned id at all."""
    from etl_suite_spark.core import SUBJECT_RESIDUE
    from etl_suite_spark.io import load_table
    from etl_suite_spark.llm.similarity import _ivf_retrained_parts

    cells, _ = _ivf_retrained_parts(spark, SF_DIR)
    assigned = [r["vec_id"] for r in cells.select("vec_id").collect()]
    live = {
        r["vec_id"]
        for r in load_table(spark, SF_DIR, "embeddings")
        .filter(F.col("vec_id") % SUBJECT_RESIDUE != 0)
        .select("vec_id")
        .collect()
    }
    assert len(assigned) == len(set(assigned)) == len(live)
    assert set(assigned) == live


def test_retrain_migration_matrix_conserves(spark):
    """The migration matrix sums to the old (frozen) assignment size,
    and the retired bucket (new_cell = -1) is exactly the tombstoned
    rows the compaction removed."""
    from etl_suite_spark.core import SUBJECT_RESIDUE
    from etl_suite_spark.llm.similarity import _ivf_incr_parts
    from etl_suite_spark.registry import QUERIES

    rows = QUERIES["llm_index_retrain"](spark, SF_DIR).collect()
    base, delta, _ = _ivf_incr_parts(spark, SF_DIR)
    n_old = base.count() + delta.count()
    assert sum(r["n_vectors"] for r in rows) == n_old
    n_retired = sum(r["n_vectors"] for r in rows if r["new_cell"] == -1)
    n_tomb = (
        base.unionByName(delta)
        .filter(F.col("vec_id") % SUBJECT_RESIDUE == 0)
        .count()
    )
    assert n_retired == n_tomb > 0


def test_retrain_recall_twin_contract(spark):
    """The twin's structural zero and measured flag hold; the recovery
    claim is real — retrained recall >= the frozen-quantizer compacted
    index's recall on the same survivor protocol."""
    from etl_suite_spark.registry import QUERIES

    re_row = QUERIES["llm_index_retrain_recall"](spark, SF_DIR).collect()[0]
    assert re_row["n_deleted_surfaced"] == 0
    assert re_row["recall_ge_30"] is True


# ---------------------------------------------------------------------------
# nprobe calibration sweep


def test_nprobe_sweep_curve_shape(spark):
    """4 rows, candidate volume strictly increasing (prefixes nest and
    every added cell is non-empty on this fixture), found-count
    monotone non-decreasing, recall consistent with the counts."""
    from etl_suite_spark.registry import QUERIES

    rows = QUERIES["llm_sim_ann_nprobe_sweep"](spark, SF_DIR).collect()
    assert [r["nprobe"] for r in rows] == [1, 2, 3, 4]
    cands = [r["n_candidates"] for r in rows]
    assert cands == sorted(cands) and len(set(cands)) == 4
    founds = [r["n_found"] for r in rows]
    assert founds == sorted(founds)
    for r in rows:
        assert 0.0 <= r["recall"] <= 1.0


@pytest.mark.parametrize("nprobe", [1, 2, 3, 4])
def test_nprobe_sweep_matches_registered_probe(spark, nprobe):
    """Every prefix row of the sweep must reproduce the registered probe
    at that nprobe exactly (same index, same queries, same router, same
    k) — nprobe=2 is llm_sim_ann_ivf's operating point, and a sweep that
    disagrees with the probe it calibrates is measuring something else."""
    from etl_suite_spark.io import load_table
    from etl_suite_spark.llm.similarity import (
        _exact_top3,
        _ivf_index,
        _ivf_probe,
        dot,
    )
    from etl_suite_spark.registry import QUERIES

    row = [
        r
        for r in QUERIES["llm_sim_ann_nprobe_sweep"](spark, SF_DIR).collect()
        if r["nprobe"] == nprobe
    ][0]
    e = (
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", "embedding")
        .withColumn("nsq", dot("embedding", "embedding"))
    )
    assigned, cents = _ivf_index(spark, SF_DIR)
    cells = e.join(assigned, "vec_id")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nsq").alias("q_nsq"),
    )
    ann = _ivf_probe(cells, cents, q, nprobe=nprobe).select(
        "query_id", "neighbor_id"
    )
    exact3 = _exact_top3(e, q)
    n_found = exact3.join(ann, ["query_id", "neighbor_id"], "left_semi").count()
    assert row["n_found"] == n_found


def test_nprobe_sweep_recall_twin_contract(spark):
    from etl_suite_spark.registry import QUERIES

    row = QUERIES["llm_sim_ann_nprobe_sweep_recall"](spark, SF_DIR).collect()[0]
    assert row["recall_monotone"] is True
    assert row["recall_ge_30_at_2"] is True
    assert row["n_nprobes"] == 4


# ---------------------------------------------------------------------------
# per-source capped quality selection


def test_select_capped_respects_cap_and_eligibility(spark):
    from etl_suite_spark.llm.traindata import _SELECT_CAP_PER_SOURCE
    from etl_suite_spark.registry import QUERIES

    rows = QUERIES["llm_quality_select_capped"](spark, SF_DIR).collect()
    assert rows, "fixture must have sources"
    bound = short = 0
    for r in rows:
        assert r["n_selected"] == min(r["n_eligible"], _SELECT_CAP_PER_SOURCE)
        assert r["cap_bound"] == (r["n_eligible"] >= _SELECT_CAP_PER_SOURCE)
        bound += int(r["cap_bound"])
        short += int(not r["cap_bound"])
    # the cap constant is fixture-calibrated to exercise BOTH branches
    assert bound > 0 and short > 0


def test_select_capped_picks_longest_eligible(spark):
    """Selection = the cap's top slice of ELIGIBLE docs by (n_chars
    DESC, doc_id): verify per source against a direct recomputation."""
    from etl_suite_spark.io import load_table
    from etl_suite_spark.llm.traindata import _SELECT_CAP_PER_SOURCE
    from etl_suite_spark.registry import QUERIES

    comp = {
        r["doc_id"]: r["keep"]
        for r in QUERIES["llm_quality_composite"](spark, SF_DIR).collect()
    }
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "n_chars"
    ).collect()
    by_src: dict = {}
    for d in docs:
        if comp[d["doc_id"]]:
            by_src.setdefault(d["source"], []).append(
                (-d["n_chars"], d["doc_id"])
            )
    expected = {
        s: sum(-c for c, _ in sorted(v)[:_SELECT_CAP_PER_SOURCE])
        for s, v in by_src.items()
    }
    got = {
        r["source"]: r["selected_chars"]
        for r in QUERIES["llm_quality_select_capped"](spark, SF_DIR).collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# D4 prototypicality family (round 13, late)


def test_proto_audit_arithmetic(spark):
    from etl_suite_spark.llm.similarity import _PROTO_PRUNE_FRAC
    from etl_suite_spark.registry import QUERIES

    rows = QUERIES["llm_semdedup_prototypes"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_pruned"] == r["n_total"] // _PROTO_PRUNE_FRAC
        assert r["n_kept"] == r["n_total"] - r["n_pruned"]
        assert -1.0 <= r["max_proto"] <= 1.0


def test_proto_scores_are_cosines(spark):
    """Cauchy–Schwarz sanity over every row (the first probe of this
    op's SQL produced |proto| ~ 1e5 from a scale bug — pin the bound)."""
    from etl_suite_spark.llm.similarity import (
        _proto_scores,
        _semdedup_corpus,
    )

    scores = _proto_scores(_semdedup_corpus(spark, SF_DIR)).collect()
    assert scores
    assert all(-1.0 <= r["proto"] <= 1.0 for r in scores)


def test_proto_magnitude_cap_fails_loudly(spark, tmp_path_factory):
    """A cell whose summed magnitude mass would overflow exact int64
    (500 identical 2.4x-scaled vectors share every cell) errors by name
    in BOTH engines — DuckDB's HUGEINT would silently keep going while
    Spark wraps, so the loud cap is the parity contract."""
    import duckdb
    import pandas as pd
    import pyarrow.parquet as pq

    from etl_suite_spark.llm.similarity import (
        _SEMDEDUP_CELLS_SQL,
        _PROTO_SQL,
        _proto_scores,
        _semdedup_corpus,
    )

    d = tmp_path_factory.mktemp("proto_cap")
    base = (
        pq.read_table(f"{SF_DIR}/embeddings.parquet")
        .to_pandas()
        .head(1)["embedding"]
        .iloc[0]
    )
    big = [float(x) * 2.4 for x in base]
    pd.DataFrame(
        {"vec_id": range(500), "embedding": [big] * 500, "label": 0}
    ).to_parquet(f"{d}/embeddings.parquet", index=False)

    with pytest.raises(Exception, match="magnitude mass"):
        _proto_scores(_semdedup_corpus(spark, str(d))).collect()

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{d}/embeddings.parquet')"
    )
    with pytest.raises(Exception, match="magnitude mass"):
        con.execute(
            f"WITH cells AS ({_SEMDEDUP_CELLS_SQL}), {_PROTO_SQL} "
            "SELECT * FROM proto"
        ).fetchall()
    con.close()


def test_d4_funnel_identities_and_stage_consistency(spark):
    """Per-cell funnel identities hold, totals cover the corpus, and
    the D4 op's first two stages agree EXACTLY with the registered
    two-stage pipeline (same reps, same semantic drops)."""
    from etl_suite_spark.io import load_table
    from etl_suite_spark.registry import QUERIES

    d4 = {r["cell"]: r for r in QUERIES["llm_corpus_prune_d4"](spark, SF_DIR).collect()}
    two = {
        r["cell"]: r
        for r in QUERIES["llm_corpus_prune_pipeline"](spark, SF_DIR).collect()
    }
    n_corpus = load_table(spark, SF_DIR, "embeddings").count()
    assert sum(r["n_raw"] for r in d4.values()) == n_corpus
    assert set(d4) == set(two)
    for cell, r in d4.items():
        assert r["n_kept"] == r["n_reps"] - r["n_sem_dropped"] - r["n_proto_pruned"]
        assert r["n_kept"] >= 0 and r["n_proto_pruned"] >= 0
        assert r["n_reps"] == two[cell]["n_reps"]
        assert r["n_sem_dropped"] == two[cell]["n_sem_dropped"]
    assert sum(r["n_proto_pruned"] for r in d4.values()) > 0, (
        "the prototype stage must genuinely prune on the fixture"
    )
