"""Round-7 regression tests: the VERDICT/ADVICE r6 fixes.

1. The bigram-LM broadcast gate (plan shape pinned in test_plans.py; here
   the value-parity side for Kneser-Ney).
2. ml_kmeans_quality's SSE terms must survive int64-overflow magnitudes
   (computed in DECIMAL(38,0) / HUGEINT, never a bare BIGINT product).
3. llm_tokenizer_fertility's tokenizer class must compile to the same
   character set in Java regex (Spark) and RE2 (DuckDB) — \\x0B was in
   Java's \\s but not RE2's.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from etl_suite_spark.registry import QUERIES
from tests.conftest import SF_DIR, spark_jobs

_FERTILITY_CLASS = "[a-z0-9]+|[^a-z0-9 \t\n\r\x0b\f]"


def test_fertility_tokenizer_agrees_on_vertical_tab(spark):
    """A document containing \\x0B must tokenize identically on both
    engines. Under the old '\\s' spelling Java treated \\x0B as
    whitespace (punctuation class excluded it) while RE2 did not (the
    class matched it as a token) — one token of drift per vertical tab."""
    probe = "ab\x0bcd ef\tgh \x0b\x0b ij!"
    n_spark = (
        spark.range(1)
        .select(F.regexp_count(F.lit(probe), F.lit(_FERTILITY_CLASS)).alias("n"))
        .collect()[0][0]
    )
    n_duck = duckdb.sql(
        "SELECT len(regexp_extract_all(?, '[a-z0-9]+|[^a-z0-9 \t\n\r\x0B\f]'))",
        params=[probe],
    ).fetchone()[0]
    assert n_spark == n_duck
    # the explicit class treats \x0B as whitespace on BOTH engines:
    # tokens are ab cd ef gh ij ! -> 6
    assert n_spark == 6


def test_kmeans_quality_term_survives_int64_overflow(spark):
    """ADVICE r6: n*sqq - sq*sq wraps int64 near sf≈1 if computed in
    BIGINT. Reproduce the exact term expression the query uses on
    magnitudes past the int64 ceiling and check it against Python's
    arbitrary-precision integers."""
    n, sq, sqq = 2_000_000, 1_500_000_000_000, 1_200_000_000_000_000_000
    # n * sqq = 2.4e24 — far past the 9.2e18 int64 ceiling
    expected = n * sqq - sq * sq
    row = (
        spark.range(1)
        .select(
            (
                F.lit(n).cast("decimal(38,0)") * F.lit(sqq).cast("decimal(38,0)")
                - F.lit(sq).cast("decimal(38,0)") * F.lit(sq).cast("decimal(38,0)")
            )
            .cast("decimal(38,0)")
            .alias("term")
        )
        .collect()[0]
    )
    assert int(row.term) == expected
    # and DuckDB's HUGEINT form (the oracle's) agrees
    got = duckdb.sql(
        f"SELECT CAST(CAST({n} AS HUGEINT) * CAST({sqq} AS HUGEINT)"
        f" - CAST({sq} AS HUGEINT) * CAST({sq} AS HUGEINT) AS DECIMAL(38,0))"
    ).fetchone()[0]
    assert int(got) == expected


def test_kneser_ney_gated_plan_is_still_correct(spark):
    """Value parity across the broadcast gate for the KN scorer: the
    no-hint (over-threshold) plan must produce byte-identical rows to
    the broadcast plan — the gate changes join strategy only."""
    from etl_suite_spark.llm import textstats

    q = QUERIES["llm_ngram_kneser_ney"]
    base = sorted(map(tuple, q(spark, SF_DIR).collect()))
    orig = textstats._LM_BROADCAST_GATE_BYTES
    try:
        textstats._LM_BROADCAST_GATE_BYTES = 0
        gated = sorted(map(tuple, q(spark, SF_DIR).collect()))
    finally:
        textstats._LM_BROADCAST_GATE_BYTES = orig
    assert gated == base
    assert len(base) > 0


def test_lm_gate_reads_bytes_without_an_aggregation_job(spark):
    """Building the plan launches no job (ADVICE r6: the former c12.count()
    ran explode+groupBy+count on every plan build). The gate reads file
    bytes, and a warm ``load_table`` passes the memoized schema instead of
    running a footer-inference job, so after one warm-up build a second
    build launches none at all."""
    QUERIES["llm_ngram_kneser_ney"](spark, SF_DIR)  # warm-up: memoizes schemas
    _, jobs = spark_jobs(spark, lambda: QUERIES["llm_ngram_kneser_ney"](spark, SF_DIR))
    assert jobs == 0


# ---- round-7 new-operator property tests ----------------------------------


def test_cms_estimates_never_undercount(spark):
    """Count-min's one-sided error guarantee: min-over-rows estimate >=
    exact count for EVERY key in the output, with equality exactly when
    no collision inflated any of the key's 4 counters."""
    rows = QUERIES["agg_cms_heavy_hitters"](spark, SF_DIR).collect()
    # sf0.001 has fewer than 20 distinct users; the driver's sf0.01 run
    # fills the LIMIT
    assert 0 < len(rows) <= 20
    assert all(r.est_count >= r.exact_count for r in rows)
    assert all(r.overcount == r.est_count - r.exact_count for r in rows)
    # estimates are sorted by the sketch, not the exact counts
    ests = [r.est_count for r in rows]
    assert ests == sorted(ests, reverse=True)


def test_kcore_peel_is_monotone(spark):
    """Peeling can only shrink: node and edge counts are non-increasing
    round over round, and every survivor count is consistent with a
    3-core bound (n_edges >= 3*n_nodes/2 once converged-ish)."""
    rows = QUERIES["graph_kcore"](spark, SF_DIR).collect()
    assert [r.round for r in rows] == [1, 2, 3, 4]
    nodes = [r.n_nodes for r in rows]
    edges = [r.n_edges for r in rows]
    assert nodes == sorted(nodes, reverse=True)
    assert edges == sorted(edges, reverse=True)
    # in a graph where every node has degree >= 3, m >= 3n/2; the last
    # round is close to fixpoint so the bound must hold there
    assert 2 * edges[-1] >= 3 * nodes[-1]


def test_hhi_bounds(spark):
    """HHI lies in (1/n_suppliers, 1]: above the perfect-competition
    floor, at most monopoly."""
    rows = QUERIES["agg_hhi_concentration"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 < r.hhi <= 1.0 + 1e-9
        assert r.hhi >= 1.0 / r.n_suppliers - 1e-9


def test_cross_correlation_lag0_is_symmetric_bounded(spark):
    """|r| <= 1 at every lag, and the n_days pairing shrinks as the lag
    grows (fewer overlapping days)."""
    rows = QUERIES["ts_cross_correlation"](spark, SF_DIR).collect()
    assert [r.lag for r in rows] == list(range(8))
    assert all(abs(r.xcorr_raw) <= 1.0 + 1e-12 for r in rows)
    ndays = [r.n_days for r in rows]
    assert ndays == sorted(ndays, reverse=True)


def test_heldout_ce_exceeds_in_domain_score(spark):
    """Held-out cross-entropy must be positive and the OOV rate a valid
    fraction; eval-side token totals must cover all eval docs' tokens."""
    rows = QUERIES["llm_cross_entropy_heldout"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.cross_entropy > 0
        assert 0 <= r.oov_rate <= 1
        assert r.oov_tokens <= r.n_tokens


def test_gradient_step_moves_weights_downhill(spark):
    """w_new = w_old - lr*grad exactly, per row (the lr is pinned), and
    the gradient signs match the obvious data relationship: with w0
    underpredicting price massively, residuals are negative, so the
    intercept gradient must be negative and the step must raise it."""
    rows = {r.feature: r for r in QUERIES["ml_gradient_step_linear"](spark, SF_DIR).collect()}
    assert set(rows) == {"intercept", "quantity", "discount", "tax"}
    for r in rows.values():
        assert abs(r.w_new - round(r.w_old - 0.001 * r.grad, 6)) < 1e-9
    assert rows["intercept"].grad < 0
    assert rows["intercept"].w_new > rows["intercept"].w_old


def test_dup_cluster_histogram_accounts_for_every_chunk(spark):
    """The histogram partitions the chunk universe: sizes*counts sum to
    the total chunk count and pct sums to ~1."""
    rows = QUERIES["llm_dup_cluster_histogram"](spark, SF_DIR).collect()
    assert rows and rows[0].cluster_size == 1
    total = sum(r.n_chunks for r in rows)
    assert all(r.n_chunks == r.cluster_size * r.n_clusters for r in rows)
    assert abs(sum(r.pct_chunks for r in rows) - 1.0) < 1e-3


def test_emb_dim_stats_covers_all_dims(spark):
    rows = QUERIES["llm_emb_dim_stats"](spark, SF_DIR).collect()
    assert [r.dim for r in rows] == list(range(64))
    for r in rows:
        assert r.min_q <= r.max_q
        assert r.var_q >= 0


def test_auc_matches_brute_force_pairs(spark):
    """Rank-sum AUC must equal the brute-force pair count:
    (wins + 0.5*ties) / (n_pos*n_neg) over all pos/neg pairs."""
    from pyspark.sql import functions as F2

    ev_rows = QUERIES["ml_auc_roc"](spark, SF_DIR).collect()
    assert len(ev_rows) == 1
    got = ev_rows[0]
    from etl_suite_spark.io import load_table

    ev = load_table(spark, SF_DIR, "events")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F2.sum(F2.col("value").cast("decimal(18,2)")).alias("score"),
            (
                F2.sum(F2.when(F2.col("event_type") == "purchase", 1).otherwise(0))
                > F2.sum(F2.when(F2.col("event_type") == "error", 1).otherwise(0))
            )
            .cast("int")
            .alias("pos"),
        )
        .collect()
    )
    pos = [r.score for r in per_user if r.pos == 1]
    neg = [r.score for r in per_user if r.pos == 0]
    assert got.n_pos == len(pos) and got.n_neg == len(neg)
    wins = sum(1 for p in pos for q in neg if p > q)
    ties = sum(1 for p in pos for q in neg if p == q)
    expected = (wins + 0.5 * ties) / (len(pos) * len(neg))
    assert abs(got.auc - expected) < 1e-6


def test_confusion_metrics_consistency(spark):
    """tp <= min(n_true, n_pred); totals balance (sum n_true = sum
    n_pred = eval-set size); f1 between 0 and 1."""
    rows = QUERIES["ml_confusion_metrics"](spark, SF_DIR).collect()
    assert rows
    assert sum(r.n_true for r in rows) >= sum(r.tp for r in rows)
    assert sum(r.n_true for r in rows) == sum(r.n_pred for r in rows)
    for r in rows:
        assert r.tp <= min(r.n_true, r.n_pred) or r.n_pred == 0
        assert 0 <= r.f1 <= 1


def test_calibration_bins_partition_users(spark):
    rows = QUERIES["ml_calibration_bins"](spark, SF_DIR).collect()
    assert [r.decile for r in rows] == list(range(1, 11))
    sizes = [r.n_users for r in rows]
    assert max(sizes) - min(sizes) <= 1  # ntile balance
    scores = [r.mean_score for r in rows]
    assert scores == sorted(scores)  # deciles ordered by score


def test_coverage_curve_is_monotone(spark):
    rows = QUERIES["llm_ngram_coverage_curve"](spark, SF_DIR).collect()
    assert [r.top_n for r in rows] == [100, 1000, 10000]
    covs = [r.coverage for r in rows]
    assert covs == sorted(covs)
    assert all(0 < c <= 1 for c in covs)
    for r in rows:
        assert r.n_types_used <= r.top_n


def test_session_stats_shares_sum_to_one(spark):
    rows = QUERIES["agg_session_stats"](spark, SF_DIR).collect()
    assert rows
    assert abs(sum(r.pct_sessions for r in rows) - 1.0) < 1e-3
    for r in rows:
        assert r.mean_events >= 1


def test_gram_diagonal_matches_dim_stats_moments(spark):
    """Cross-op consistency: the Gram diagonal (i == j) must equal the
    second moment llm_emb_dim_stats derives its variance from —
    gram_ii = var_i*n^2/n... verified through the raw sums: rebuild
    Sum(q_i^2) from dim_stats' (n, mean, var) and compare to gram*1e12."""
    gram = {
        (r.i, r.j): r.gram
        for r in QUERIES["llm_emb_gram_matrix"](spark, SF_DIR).collect()
    }
    assert len(gram) == 64 * 65 // 2
    stats = QUERIES["llm_emb_dim_stats"](spark, SF_DIR).collect()
    for s in stats:
        # var = (n*sqq - sq^2)/n^2 (all /1e12-scaled) => sqq/1e12 =
        # var + mean^2 times n
        expected_gram_ii = (s.var_q + s.mean_q * s.mean_q) * s.n
        assert abs(gram[(s.dim, s.dim)] - expected_gram_ii) < max(
            1e-3, 1e-5 * abs(expected_gram_ii)
        )


def test_gram_matrix_is_merge_order_independent(spark):
    """Re-running with a different partitioning must produce identical
    rows (the decimal merge discipline) — repartition(7) vs default."""
    from etl_suite_spark.io import load_table  # noqa: F401

    base = sorted(map(tuple, QUERIES["llm_emb_gram_matrix"](spark, SF_DIR).collect()))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        alt = sorted(
            map(tuple, QUERIES["llm_emb_gram_matrix"](spark, SF_DIR).collect())
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert alt == base


def test_sft_lint_yield_matches_pair_count(spark):
    """The lint's n_pairs must equal llm_sft_pairs' actual row count —
    the cross-op guarantee the lint exists for."""
    lint = QUERIES["llm_sft_lint"](spark, SF_DIR).collect()
    pairs = QUERIES["llm_sft_pairs"](spark, SF_DIR).count()
    assert sum(r.n_pairs for r in lint) == pairs
    for r in lint:
        assert r.n_docs == r.n_pairs + r.n_dropped_short


def test_lang_confusion_mass_balances(spark):
    """Confusion cells sum to the doc count; per-language diagonal
    accuracy is computable and the heuristic beats chance overall."""
    rows = QUERIES["llm_lang_id_confusion"](spark, SF_DIR).collect()
    from etl_suite_spark.io import load_table

    n_docs = load_table(spark, SF_DIR, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    correct = sum(r.n_docs for r in rows if r.true_lang == r.pred_lang)
    assert correct / n_docs > 0.2  # 5 languages -> chance is 0.2


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=30, deadline=None)
    @given(st.integers(min_value=0, max_value=2**63 - 1))
    def test_cms_hash_expression_matches_python(user_id):
        """Differential check of the CMS bucket expression: the Spark/
        DuckDB SQL form ((a*(x%p)+b) % p) % w must equal Python's
        unbounded integer arithmetic for ANY 64-bit user_id — the mod-p
        pre-reduction keeps a*(x%p) under p^2 < 2^63, so even
        snowflake-scale ids cannot overflow (the unreduced form would at
        x ~ 2^47 with a=65537)."""
        import duckdb as _duck

        from etl_suite_spark.operators.analytics import _CMS_P, _CMS_ROWS, _CMS_W

        for _, a, b in _CMS_ROWS:
            expected = ((a * (user_id % _CMS_P) + b) % _CMS_P) % _CMS_W
            # literals cast to BIGINT: the real oracle's user_id COLUMN is
            # already BIGINT so promotion happens there; bare literals
            # would stay INT32 and DuckDB raises on overflow
            got = _duck.sql(
                f"SELECT ((CAST({a} AS BIGINT) * ({user_id} % {_CMS_P})"
                f" + {b}) % {_CMS_P}) % {_CMS_W}"
            ).fetchone()[0]
            assert got == expected

    @settings(max_examples=30, deadline=None)
    @given(
        st.integers(min_value=5, max_value=10**4),
        st.integers(min_value=1, max_value=10**8),
        st.integers(min_value=1, max_value=10**6),
        st.integers(min_value=1, max_value=10**6),
    )
    def test_pmi_ratio_division_matches_python_floor(c2, n, cl, cr):
        """The PMI quantized ratio uses integer division on strictly
        positive operands, where DuckDB's // (floor) and Spark's div
        (truncate toward zero) agree with Python's //. Differential
        check against DuckDB over random count shapes WITHIN the
        documented int64 envelope (c2*N*1e6 <= 1e18; the op's docstring
        pins DECIMAL(38,0) as the corpus-scale promotion — hypothesis
        confirmed the envelope is real by overflowing DuckDB just past
        it)."""
        import duckdb as _duck

        expected = (c2 * n * 1_000_000) // (cl * cr)
        got = _duck.sql(
            f"SELECT (CAST({c2} AS BIGINT) * CAST({n} AS BIGINT) * 1000000)"
            f" // (CAST({cl} AS BIGINT) * CAST({cr} AS BIGINT))"
        ).fetchone()[0]
        assert int(got) == expected
except ImportError:  # pragma: no cover — hypothesis is baked in
    pass


def test_content_dedup_catches_regenerated_ids(spark):
    """The planted failure stream_dedup cannot catch: copies re-delivered
    under FRESH event_ids. Id-keyed dedup keeps them (ids are new);
    content-keyed dedup must suppress every one — per-type counts equal
    the clean source's."""
    from etl_suite_spark.io import load_table

    src = load_table(spark, SF_DIR, "events")
    clean = {
        (r.event_type): r.n
        for r in src.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    got = {
        r.event_type: r.n
        for r in QUERIES["stream_content_dedup"](spark, SF_DIR).collect()
    }
    assert got == clean


def test_session_stats_agrees_with_win_sessionize(spark):
    """Cross-op invariant: agg_session_stats' total session count and
    total event count must equal win_sessionize's (same 30-minute-gap
    definition — a drift between the two session definitions would split
    the analytics from the sessionizer)."""
    stats = QUERIES["agg_session_stats"](spark, SF_DIR).collect()
    sess = QUERIES["win_sessionize"](spark, SF_DIR).collect()
    assert sum(r.n_sessions for r in stats) == len(sess)
    stats_events = sum(r.mean_events * r.n_sessions for r in stats)
    assert abs(stats_events - sum(r.n_events for r in sess)) < 1e-3 * len(sess)


def test_ship_latency_priorities_complete(spark):
    rows = QUERIES["agg_ship_latency"](spark, SF_DIR).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.min_days <= r.mean_days <= r.max_days
        assert 0 <= r.pct_over_90d <= 1
        assert r.n_over_90d <= r.n_lines


def test_sma_crossover_signals_alternate(spark):
    """Consecutive signals must alternate golden/death (a regime can
    only flip to the opposite regime), and each signal day must exist
    in the order-date domain."""
    rows = QUERIES["ts_sma_crossover"](spark, SF_DIR).collect()
    assert rows, "fixture has revenue regime changes"
    sigs = [r.signal for r in rows]
    for a, b in zip(sigs, sigs[1:]):
        assert a != b
    days = [r.day for r in rows]
    assert days == sorted(days)


def test_partial_final_is_repartition_invariant(spark):
    """The merged two-phase result must be identical under any physical
    partitioning (the partial states differ wildly; the merge is a
    commutative monoid fold) AND equal to the single-phase built-in."""
    q = QUERIES["agg_partial_final"]
    base = sorted(map(tuple, q(spark, SF_DIR).collect()))
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    try:
        alt = sorted(map(tuple, q(spark, SF_DIR).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert alt == base
    from etl_suite_spark.io import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    single = {
        (r.l_returnflag, r.l_linestatus): (r.n, float(r.s))
        for r in li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("s"),
        )
        .collect()
    }
    for row in base:
        flag, status, n_rows, sum_qty = row[0], row[1], row[2], row[3]
        sn, ss = single[(flag, status)]
        assert n_rows == sn and abs(sum_qty - ss) < 1e-9


def test_calendar_dimension_invariants(spark):
    rows = QUERIES["dim_calendar_build"](spark, SF_DIR).collect()
    assert len(rows) == 366  # 2024 is a leap year
    assert rows[0].day.isoformat() == "2024-01-01"
    assert rows[-1].day.isoformat() == "2024-12-31"
    # ISO dow cycles 1..7 and weekend flag matches it
    for r in rows:
        assert 1 <= r.iso_dow <= 7
        assert r.is_weekend == (r.iso_dow >= 6)
        assert r.month_start <= r.day <= r.month_end
    # Jan 1 2024 is a Monday
    assert rows[0].iso_dow == 1 and rows[0].dow_sunday1 == 2
