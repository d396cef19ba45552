"""Similarity search over embedding columns (SURVEY.md §2.10).

Operators over ``embeddings`` (``array<float>``, 64-dim):

- brute-force cosine top-k — the exactness baseline; crossJoin of a
  *broadcast* query set against all candidates. Correct at any scale as
  long as the query set is small (it is: top-k serving / eval sets).
- sign-LSH bucketed ANN — the 100 TB path: candidates are restricted to
  vectors sharing an 8-bit hyperplane-sign bucket, so the join is an
  equi-join on the bucket key instead of a cross join. Recall is tunable
  via bucket bits / multi-probe; the operator keeps both sides
  oracle-expressible by using deterministic axis-aligned hyperplanes.
- per-label centroids + distance of each vector to its own centroid —
  the array⇄relational pivot (posexplode → agg → re-join) that every
  embedding-quality pipeline needs.

Determinism discipline: dot products and norms are computed over
6-dp-quantized components as exact DECIMAL sums (order-independent, so
partial-aggregate merge order can't flap the hash), then finished in
double for the final sqrt/divide. See core.py for why decimal→double
goes through a string cast.

Cost discipline: ‖v‖² is computed ONCE per vector and carried as a
column; per-pair work is a single dot product. At N vectors × Q queries
that's N + N·Q dots instead of 3·N·Q.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..core import (
    SUBJECT_RESIDUE,
    d2d,
    materialize_once,
    materialize_parts_once,
    scratch,
)
from ..io import load_table
from ..registry import query

# Exact dot product of two 6dp-quantized float arrays via LONG arithmetic:
# components scale to integers (round(x·10⁶), half-up on both engines), the
# products (≤ ~10¹²) and their 64-term sum (≤ ~6.4·10¹³) fit comfortably in
# both int64 and double's 2⁵³ exact-integer range, so the fold is exact and
# merge-order-independent — same determinism as a DECIMAL accumulator at a
# fraction of the cost (long multiply vs decimal multiply inside codegen).
_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) ->"
    " CAST(round(x * 1000000, 0) AS BIGINT) * CAST(round(y * 1000000, 0) AS BIGINT)),"
    " 0L, (acc, v) -> acc + v)"
)

_SQL_DOT = (
    "list_sum(list_transform(range(1, 65), i ->"
    " CAST(round({a}[i] * 1000000) AS BIGINT) * CAST(round({b}[i] * 1000000) AS BIGINT)))"
)


def dot(a: str, b: str) -> F.Column:
    """Exact quantized dot product of two array columns, as double."""
    return F.expr(_DOT.format(a=a, b=b)).cast("double") / F.lit(1e12)


def sql_dot(a: str, b: str) -> str:
    """DuckDB twin of :func:`dot`."""
    return f"(CAST({_SQL_DOT.format(a=a, b=b)} AS DOUBLE) / 1e12)"


def _cosine(dot_col: F.Column, nsq_a: str, nsq_b: str) -> F.Column:
    return F.round(dot_col / F.sqrt(F.col(nsq_a) * F.col(nsq_b)), 6)


def _sql_cosine(dot_expr: str, nsq_a: str, nsq_b: str) -> str:
    return f"round({dot_expr} / sqrt({nsq_a} * {nsq_b}), 6)"


def _corpus(spark, sf_dir, *extra):
    """(vec_id, embedding, *extra, nsq) of the raw embeddings table — the
    candidate side of every exact and ANN search here, with ‖v‖² carried
    as a column (computed once per vector, see the module docstring)."""
    return (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding", *extra)
        .withColumn("nsq", dot("embedding", "embedding"))
    )


def _probe_set(e, *extra):
    """The fixed 10-query probe set (vec_id < 10) of a corpus frame ``e``
    with an ``nsq`` column: (query_id, q_emb, q_nsq, *extra). ``extra``
    are further query-side Columns (a bucket, a label, the unit vector)."""
    return e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nsq").alias("q_nsq"),
        *extra,
    )


def _top_k(df, k, *order):
    """The rows of ``df`` ranked 1..k within their query_id under
    ``order`` — by default the serving rank, cosine descending with
    neighbor_id as the tie-break. The rank is kept as ``rn``. The one
    per-query ranking window: top-k results, ADC pools and coarse
    routing all go through it."""
    order = order or (F.col("cosine").desc(), F.col("neighbor_id").asc())
    w = Window.partitionBy("query_id").orderBy(*order)
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def _top_k_sorted(cand, k):
    """(query_id, neighbor_id, cosine) of each query's k best candidates,
    sorted as every registered top-k search emits them."""
    return (
        _top_k(cand, k)
        .select("query_id", "neighbor_id", "cosine")
        .orderBy("query_id", F.col("cosine").desc(), "neighbor_id")
    )


@query(
    "llm_sim_cosine_topk",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, embedding, {sql_dot('embedding', 'embedding')} AS nsq
      FROM embeddings
    ), q AS (SELECT * FROM n WHERE vec_id < 10)
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           {_sql_cosine(sql_dot('q.embedding', 'e.embedding'), 'q.nsq', 'e.nsq')}
             AS cosine
    FROM q JOIN n e ON e.vec_id <> q.vec_id
    QUALIFY row_number() OVER (
        PARTITION BY q.vec_id
        ORDER BY {_sql_cosine(sql_dot('q.embedding', 'e.embedding'), 'q.nsq', 'e.nsq')}
                 DESC, e.vec_id ASC) <= 5
    ORDER BY query_id, cosine DESC, neighbor_id
    """,
)
def llm_sim_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 for a 10-query set.

    The query side is broadcast (tiny by construction), so the "cross"
    join is really a map-side nested loop over each candidate partition —
    no shuffle of the big side at all. That IS the correct 100 TB plan for
    small query sets; for large ones, switch to llm_sim_ann_lsh below.
    """
    e = _corpus(spark, sf_dir)
    q = _probe_set(e)
    # Widen the candidate side to full parallelism before the N·Q dot
    # stage: the per-pair quantized dot is interpreted (higher-order
    # function), so this stage is COMPUTE-bound, and a single-file scan
    # arrives as 1-2 partitions that would pin it to 1-2 cores (measured
    # 9.9 s → 2.0 s warm at 10× fixture scale, 1.4 s → 0.6 s at sf0.1). The 100 TB case arrives wide
    # naturally; the repartition shuffles only the slim (id, vec) rows.
    cand = e.repartition(spark.sparkContext.defaultParallelism)
    joined = cand.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cosine(dot("q_emb", "embedding"), "q_nsq", "nsq").alias("cosine"),
    )
    return _top_k_sorted(joined, 5)


@query(
    "llm_sim_range_search",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, embedding, {sql_dot('embedding', 'embedding')} AS nsq
      FROM embeddings
    ), q AS (SELECT * FROM n WHERE vec_id < 10)
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           {_sql_cosine(sql_dot('q.embedding', 'e.embedding'), 'q.nsq', 'e.nsq')}
             AS cosine
    FROM q JOIN n e ON e.vec_id <> q.vec_id
    WHERE {_sql_cosine(sql_dot('q.embedding', 'e.embedding'), 'q.nsq', 'e.nsq')}
          >= 0.3
    ORDER BY query_id, cosine DESC, neighbor_id
    """,
)
def llm_sim_range_search(spark, sf_dir):
    """Radius (range) similarity search: ALL corpus vectors with cosine
    ≥ 0.3 of each query — the retrieval mode top-k can't express (a
    query with no close neighbors returns nothing instead of k bad
    ones; near-duplicate harvesting wants every match, not k).

    Same plan shape as llm_sim_cosine_topk: the query set broadcasts,
    the corpus side is widened to full parallelism, and the radius
    filter replaces the per-query window — so this is strictly CHEAPER
    than top-k (no rank shuffle at all; the filter runs map-side inside
    the same codegen stage as the dot). At 100 TB with larger query
    sets, route through the IVF cells (llm_sim_ann_ivf) exactly as
    top-k does — radius search composes with every ANN layout here
    because the scorer is a filter, not a rank. The 0.3 radius is ~the
    p99 of the fixture's query-corpus cosine distribution (measured:
    p90 0.16, p99 0.29, max 0.49), so the result is non-trivial and
    bounded."""
    e = _corpus(spark, sf_dir)
    q = _probe_set(e)
    cand = e.repartition(spark.sparkContext.defaultParallelism)
    return (
        cand.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cosine(dot("q_emb", "embedding"), "q_nsq", "nsq").alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.3)
        .orderBy("query_id", F.col("cosine").desc(), "neighbor_id")
    )


# Sign-LSH bucket: the sign bits of the first 8 components. Axis-aligned
# hyperplanes keep it SQL-expressible on both engines; production would use
# seeded random hyperplanes (same plumbing, different projection).
_BUCKET = (
    "aggregate(transform(sequence(0, 7),"
    " i -> CASE WHEN element_at({e}, i + 1) >= 0 THEN shiftleft(1, i) ELSE 0 END),"
    " 0, (acc, v) -> acc + v)"
)
_SQL_BUCKET = (
    "list_sum(list_transform(range(0, 8),"
    " i -> CASE WHEN {e}[i + 1] >= 0 THEN (1 << i) ELSE 0 END))"
)


@query(
    "llm_sim_ann_lsh",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {_SQL_BUCKET.format(e='embedding')} AS bucket,
             {sql_dot('embedding', 'embedding')} AS nsq
      FROM embeddings
    ), q AS (SELECT * FROM b WHERE vec_id < 10)
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           {_sql_cosine(sql_dot('q.embedding', 'e.embedding'), 'q.nsq', 'e.nsq')}
             AS cosine
    FROM q JOIN b e ON e.bucket = q.bucket AND e.vec_id <> q.vec_id
    QUALIFY row_number() OVER (
        PARTITION BY q.vec_id
        ORDER BY {_sql_cosine(sql_dot('q.embedding', 'e.embedding'), 'q.nsq', 'e.nsq')}
                 DESC, e.vec_id ASC) <= 3
    ORDER BY query_id, cosine DESC, neighbor_id
    """,
)
def llm_sim_ann_lsh(spark, sf_dir):
    """Approximate NN: candidates share a hyperplane-sign bucket.

    The scale path: bucket assignment is a map-only projection; the search
    join is an equi-join on (bucket), so Catalyst plans a plain shuffled
    hash join — candidate count per query drops from N to N/2^bits in
    expectation. Multi-probe (flip one bucket bit) raises recall without
    changing the plan shape.
    """
    e = _corpus(spark, sf_dir).withColumn(
        "bucket", F.expr(_BUCKET.format(e="embedding"))
    )
    q = _probe_set(e, F.col("bucket").alias("q_bucket"))
    joined = e.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cosine(dot("q_emb", "embedding"), "q_nsq", "nsq").alias("cosine"),
    )
    return _top_k_sorted(joined, 3)


@query(
    "llm_sim_ann_multiprobe",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {_SQL_BUCKET.format(e='embedding')} AS bucket,
             {sql_dot('embedding', 'embedding')} AS nsq
      FROM embeddings
    ), q AS (SELECT * FROM b WHERE vec_id < 10),
    probes AS (
      SELECT vec_id, embedding, nsq,
             unnest(list_prepend(bucket,
                    list_transform(range(0, 8), i -> xor(bucket, 1 << i)))) AS pb
      FROM q
    ), cand AS (
      SELECT DISTINCT p.vec_id AS query_id, e.vec_id AS neighbor_id,
             {_sql_cosine(sql_dot('p.embedding', 'e.embedding'), 'p.nsq', 'e.nsq')}
               AS cosine
      FROM probes p JOIN b e ON e.bucket = p.pb AND e.vec_id <> p.vec_id
    )
    SELECT query_id, neighbor_id, cosine
    FROM cand
    QUALIFY row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) <= 3
    ORDER BY query_id, cosine DESC, neighbor_id
    """,
)
def llm_sim_ann_multiprobe(spark, sf_dir):
    """Multi-probe LSH ANN: each query probes its own bucket plus the 8
    buckets at Hamming distance 1 (one sign bit flipped).

    Same plan shape as single-probe — an equi-join on the bucket key —
    the probe list is exploded on the tiny query side only, so the big
    candidate side is still scanned once and never shuffled into a cross
    join. 9× the candidate work of single-probe for sharply higher recall;
    at 100 TB this is the standard recall/cost dial (probes × bucket bits).
    Candidates reached via two different probes are deduped before ranking.
    """
    e = _corpus(spark, sf_dir).withColumn(
        "bucket", F.expr(_BUCKET.format(e="embedding"))
    )
    q = _probe_set(e, F.col("bucket").alias("q_bucket"))
    probes = q.withColumn(
        "pb",
        F.explode(
            F.expr(
                "array_union(array(q_bucket),"
                " transform(sequence(0, 7), i -> q_bucket ^ shiftleft(1, i)))"
            )
        ),
    )
    cand = (
        e.join(
            F.broadcast(probes),
            (F.col("bucket") == F.col("pb")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cosine(dot("q_emb", "embedding"), "q_nsq", "nsq").alias("cosine"),
        )
        .distinct()
    )
    return _top_k_sorted(cand, 3)


@query(
    "llm_sim_ann_ivf_recall",
    # IVF's learned centroids are iterative-float and can't cross-engine
    # match, but its QUALITY can: DuckDB independently computes the exact
    # brute-force top-3 pair count; Spark emits that count plus a genuinely
    # computed recall>=0.4 flag of the IVF probe results against the exact
    # set (nprobe=2 of 8 cells measures ~0.5 recall, deterministic across
    # reruns — same honesty-metric pattern as llm_sim_ann_recall for LSH
    # and llm_dedup_minhash_recall for MinHash).
    oracle=f"""
    WITH n AS (
      SELECT vec_id, embedding, {sql_dot('embedding', 'embedding')} AS nsq
      FROM embeddings
    ), q AS (SELECT * FROM n WHERE vec_id < 10), exact3 AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
      FROM q JOIN n e ON e.vec_id <> q.vec_id
      QUALIFY row_number() OVER (
          PARTITION BY q.vec_id
          ORDER BY {_sql_cosine(sql_dot('q.embedding', 'e.embedding'), 'q.nsq', 'e.nsq')}
                   DESC, e.vec_id ASC) <= 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
           CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
           TRUE AS recall_ge_40
    FROM exact3
    """,
)
def llm_sim_ann_ivf_recall(spark, sf_dir):
    """Recall@3 of the IVF-Flat probe (llm_sim_ann_ivf, nprobe=2 of 8
    cells) against brute-force exact top-3 — the 'measure, don't guess'
    op for the learned-quantizer ANN path. Exact ground truth runs on the
    broadcast 10-query side only, never all-pairs over the corpus."""
    ivf = llm_sim_ann_ivf(spark, sf_dir).select("query_id", "neighbor_id")
    e = _corpus(spark, sf_dir)
    return _recall_metric(ivf, e, _probe_set(e), 0.4, "recall_ge_40")


# Shared IVF-Flat coarse-quantizer hyperparams — named so every index
# token (the derived rebalance/retrain artifacts too) tracks them
# instead of hardcoding (code-review r12: a changed default must rebuild
# dependents too).
_IVF_K = 8
_IVF_ITERS = 3
_IVF_TAG = f"k{_IVF_K}i{_IVF_ITERS}"
# Persisted layout of every IVF-Flat index (materialize_parts_once parts):
# the (vec_id, cell) assignment co-located on vec_id, and the k centroids.
_IVF_PARTS = ((":cells", "vec_id", 8), (":centroids", None, 1))


def _train_ivf(spark, corpus):
    """Train the IVF-Flat coarse quantizer over ``corpus`` (vec_id,
    embedding): _IVF_K cells, _IVF_ITERS Lloyd iterations, pp init.
    Returns (cells, centroids) — cells is (vec_id, cell), centroids is
    (cluster, centroid). The one trainer behind every IVF index."""
    from .clustering import kmeans_fit

    assigned, centroids = kmeans_fit(
        spark, corpus, k=_IVF_K, iters=_IVF_ITERS, init="pp"
    )
    return assigned.select("vec_id", F.col("cluster").alias("cell")), centroids


def _ivf_index(spark, sf_dir):
    """(assignment, centroids) of the IVF-Flat coarse quantizer,
    PERSISTED once per corpus — same write-once serving-layout rationale
    (and eager-training caveat) as :func:`_pq_index`. ``assignment`` is
    (vec_id, cell)."""
    return materialize_parts_once(
        spark,
        f"v1:ivf_index:{sf_dir}:{_IVF_TAG}",
        _IVF_PARTS,
        lambda: _train_ivf(
            spark, load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        ),
    )


# The registered IVF operating point: every probe in the family routes a
# query to its 2 nearest of the _IVF_K cells (the filtered op widens to
# _FILTERED_NPROBE, the sweep measures 1.._NPROBE_SWEEP_MAX).
_NPROBE = 2


def _route(q, centroids, nprobe, vec_col):
    """Coarse routing: each query's ``nprobe`` nearest coarse centroids
    by the query vector ``vec_col``, scored map-side against the
    broadcast (cluster, centroid) frame. Returns q's columns plus
    ``cluster``, ``centroid`` (the IVF-PQ residual needs it) and the
    probe rank ``rn`` (nearest first; ties break on the cluster id).
    The one router behind every IVF-Flat and IVF-PQ probe."""
    from .clustering import _DIST_SQ

    qc = q.crossJoin(F.broadcast(centroids)).withColumn(
        "cdist", F.expr(_DIST_SQ.format(a=vec_col, b="centroid"))
    )
    return _top_k(qc, nprobe, F.col("cdist").asc(), F.col("cluster").asc())


def _ivf_candidates(cells, centroids, q, nprobe, q_extra=(), cand_pred=None):
    """(query_id, neighbor_id, cosine, probe_rank) of every in-cell
    candidate of each query's ``nprobe`` routed cells: the broadcast
    probe list equi-joined on cell id against ``cells`` (vec_id,
    embedding, nsq, cell), scored by EXACT cosine. ``q_extra`` names
    extra query columns to carry to the candidate join; ``cand_pred`` is
    an extra join conjunct evaluated DURING the inverted-list scan
    (payload-filter pushdown)."""
    probes = _route(q, centroids, nprobe, "q_emb").select(
        "query_id",
        "q_emb",
        "q_nsq",
        *q_extra,
        F.col("cluster").alias("p_cell"),
        F.col("rn").alias("probe_rank"),
    )
    cond = (F.col("cell") == F.col("p_cell")) & (
        F.col("vec_id") != F.col("query_id")
    )
    if cand_pred is not None:
        cond = cond & cand_pred
    return cells.join(F.broadcast(probes), cond).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cosine(dot("q_emb", "embedding"), "q_nsq", "nsq").alias("cosine"),
        "probe_rank",
    )


def _ivf_probe(cells, centroids, q, nprobe=_NPROBE, q_extra=(), cand_pred=None):
    """The SHARED IVF-Flat serving path: the sorted exact-cosine top-3 of
    :func:`_ivf_candidates` — used by llm_sim_ann_ivf (raw corpus),
    llm_index_build_pipeline_ivf (representatives), the incremental,
    delete, rebalance and retrain twins, and (via ``q_extra``/``cand_pred``)
    the filtered-search op — ONE probe so the serving contract cannot
    diverge between variants (code-review r12)."""
    return _top_k_sorted(
        _ivf_candidates(cells, centroids, q, nprobe, q_extra, cand_pred), 3
    )


@query("llm_sim_ann_ivf")  # rows-only: k-means training is iterative
def llm_sim_ann_ivf(spark, sf_dir):
    """IVF approximate NN: a k-means coarse quantizer partitions the
    corpus into cells (inverted lists); each query probes only its
    ``nprobe`` nearest cells and brute-forces within them.

    The canonical billion-scale ANN layout (IVF-Flat): train is iterative
    k-means (could run on a sample at 100 TB); assignment is a broadcast
    of n_cells centroids — map-only; search is an equi-join on cell id, so
    candidate work per query drops from N to nprobe·N/n_cells and the plan
    is a hash join, never a cross join. In production the cell id becomes
    the storage partition key so a probe reads only its cells' files
    (partition pruning at the scan). Learned centroids adapt to the data
    distribution, unlike the fixed hyperplanes of llm_sim_ann_lsh.
    """
    e = _corpus(spark, sf_dir)
    assigned, centroids = _ivf_index(spark, sf_dir)
    return _ivf_probe(e.join(assigned, "vec_id"), centroids, _probe_set(e))


@query(
    "llm_sim_centroid",
    oracle="""
    WITH comp AS (
      SELECT vec_id, label,
             CAST(round(unnest(embedding), 6) AS DECIMAL(18,6)) AS x,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ), cent AS (
      SELECT label, pos, SUM(x) AS s, COUNT(*) AS n
      FROM comp GROUP BY label, pos
    )
    SELECT c.vec_id, c.label,
           round(sqrt(CAST(CAST(SUM(CAST(c.x * t.n - t.s AS DECIMAL(15,6))
                                     * CAST(c.x * t.n - t.s AS DECIMAL(15,6)))
                           AS VARCHAR) AS DOUBLE)) / any_value(t.n), 6) AS dist_to_centroid
    FROM comp c JOIN cent t ON c.label = t.label AND c.pos = t.pos
    GROUP BY c.vec_id, c.label
    """,
)
def llm_sim_centroid(spark, sf_dir):
    """Distance of each vector to its own label centroid, exactly.

    The array⇄relational pivot: posexplode to (vec, pos, component), agg
    per (label, pos) for centroid sums, join back, one more agg per vec.
    The centroid division is deferred — dist = sqrt(Σ(n·x − S)²)/n — so
    every sum is an exact DECIMAL and merge order can't flap the hash.
    Two shuffles total (label,pos agg + vec agg); both keys are uniform.
    """
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding")).alias("pos0", "xf"),
    ).select(
        "vec_id",
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.round(F.col("xf").cast("double"), 6).cast("decimal(18,6)").alias("x"),
    )
    cent = comp.groupBy("label", "pos").agg(
        F.sum("x").alias("s"), F.count("*").alias("n")
    )
    dev = comp.join(cent, ["label", "pos"]).select(
        "vec_id",
        "label",
        "n",
        # |d| ≤ ~200 here; DECIMAL(15,6) keeps d*d within 31 digits so
        # neither engine hits its 38-digit cap (Spark would silently drop
        # scale under precision loss; DuckDB would widen differently).
        (F.col("x") * F.col("n") - F.col("s")).cast("decimal(15,6)").alias("d"),
    )
    return (
        dev.groupBy("vec_id", "label")
        .agg(
            F.round(
                F.sqrt(d2d(F.sum(F.col("d") * F.col("d")))) / F.any_value("n"), 6
            ).alias("dist_to_centroid")
        )
        .select("vec_id", "label", "dist_to_centroid")
    )


@query(
    "llm_sim_knn_classify",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, label, embedding,
             {sql_dot('embedding', 'embedding')} AS nsq
      FROM embeddings
    ), q AS (SELECT * FROM n WHERE vec_id < 10),
    top5 AS (
      SELECT q.vec_id AS query_id, e.label AS label
      FROM q JOIN n e ON e.vec_id <> q.vec_id
      QUALIFY row_number() OVER (
          PARTITION BY q.vec_id
          ORDER BY {_sql_cosine(sql_dot('q.embedding', 'e.embedding'), 'q.nsq', 'e.nsq')}
                   DESC, e.vec_id ASC) <= 5
    ),
    votes AS (
      SELECT query_id, label, COUNT(*) AS votes
      FROM top5 GROUP BY query_id, label
    )
    SELECT query_id, label AS pred_label, votes
    FROM votes
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY votes DESC, label ASC) = 1
    """,
)
def llm_sim_knn_classify(spark, sf_dir):
    """kNN majority-vote classification (k=5, cosine) over embeddings.

    The retrieval layer is ``llm_sim_cosine_topk``'s broadcast nested loop
    (query side tiny by construction); the vote is a hash agg on ≤ k rows
    per query plus a deterministic tie-break (votes DESC, label ASC). At
    100 TB the brute-force layer swaps for the LSH/IVF candidate
    generation (``llm_sim_ann_lsh`` / ``llm_sim_ann_ivf``) with this
    same voting tail — the vote logic is candidate-source-agnostic.
    """
    n = _corpus(spark, sf_dir, "label")
    q = _probe_set(n)
    pairs = F.broadcast(q).join(n, F.col("vec_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        "label",
        _cosine(dot("q_emb", "embedding"), "q_nsq", "nsq").alias("cosine"),
        "vec_id",
    )
    top5 = _top_k(scored, 5, F.col("cosine").desc(), F.col("vec_id").asc())
    votes = top5.groupBy("query_id", "label").agg(F.count("*").alias("votes"))
    return _top_k(votes, 1, F.col("votes").desc(), F.col("label").asc()).select(
        "query_id", F.col("label").alias("pred_label"), "votes"
    )


@query(
    "llm_emb_normalize",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt({sql_dot('embedding', 'embedding')}) AS norm
      FROM embeddings
    )
    SELECT vec_id,
           round(norm, 6) AS norm,
           array_to_string(list_transform(embedding, x ->
               CAST(round(CAST(x AS DOUBLE) / norm * 127) AS INTEGER)), ',') AS q_int8
    FROM n
    """,
)
def llm_emb_normalize(spark, sf_dir):
    """L2-normalize embeddings and quantize to int8 range [-127, 127].

    Standard vector-index prep (normalized vectors make cosine = dot;
    int8 quantization cuts index memory 4×). The norm comes from the
    exact quantized self-dot (``dot``) so both engines agree bitwise;
    sqrt and double division are IEEE-correctly-rounded everywhere, and
    both engines round doubles half-away-from-zero, so the int8 codes
    match exactly. Pure per-row codegen — no shuffle at all; at 100 TB
    this is a map-only pass bounded by scan bandwidth.
    """
    e = load_table(spark, sf_dir, "embeddings")
    n = e.select("vec_id", "embedding", F.sqrt(dot("embedding", "embedding")).alias("norm"))
    return n.select(
        "vec_id",
        F.round("norm", 6).alias("norm"),
        # string-joined codes: raw array columns are unhashable in the
        # driver's pandas canonicalizer
        F.array_join(
            F.expr(
                "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) / norm * 127, 0) AS INT))"
            ),
            ",",
        ).alias("q_int8"),
    )


@query(
    "llm_sim_ann_recall",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {_SQL_BUCKET.format(e='embedding')} AS bucket,
             {sql_dot('embedding', 'embedding')} AS nsq
      FROM embeddings
    ), q AS (SELECT * FROM b WHERE vec_id < 10),
    exact3 AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
      FROM q JOIN b e ON e.vec_id <> q.vec_id
      QUALIFY row_number() OVER (
          PARTITION BY q.vec_id
          ORDER BY {_sql_cosine(sql_dot('q.embedding', 'e.embedding'), 'q.nsq', 'e.nsq')}
                   DESC, e.vec_id ASC) <= 3
    ),
    lsh3 AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
      FROM q JOIN b e ON e.bucket = q.bucket AND e.vec_id <> q.vec_id
      QUALIFY row_number() OVER (
          PARTITION BY q.vec_id
          ORDER BY {_sql_cosine(sql_dot('q.embedding', 'e.embedding'), 'q.nsq', 'e.nsq')}
                   DESC, e.vec_id ASC) <= 3
    )
    SELECT x.query_id,
           CAST(COUNT(l.neighbor_id) AS BIGINT) AS hits,
           round(COUNT(l.neighbor_id) / 3.0, 6) AS recall_at_3
    FROM exact3 x
    LEFT JOIN lsh3 l
      ON l.query_id = x.query_id AND l.neighbor_id = x.neighbor_id
    GROUP BY x.query_id
    """,
)
def llm_sim_ann_recall(spark, sf_dir):
    """Recall@3 of the LSH ANN index against brute-force ground truth,
    per query — the 'measure, don't guess' op for approximate search:
    before shipping an ANN path at 100 TB you quantify what the bucketing
    loses. Both sides are deterministic, so even the quality metric is
    oracle-checked. Ground truth runs on the (tiny, broadcast) query set
    only — never an all-pairs job over the corpus."""
    e = _corpus(spark, sf_dir).withColumn(
        "bucket", F.expr(_BUCKET.format(e="embedding"))
    )
    q = _probe_set(e, F.col("bucket").alias("q_bucket"))
    cos = _cosine(dot("q_emb", "embedding"), "q_nsq", "nsq")

    def top3(pairs):
        return _top_k(pairs, 3).select("query_id", "neighbor_id")

    exact3 = top3(
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
            "query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine")
        )
    )
    lsh3 = top3(
        e.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("query_id")),
        ).select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine"))
    )
    hit = lsh3.withColumnRenamed("neighbor_id", "hit_id")
    return (
        exact3.join(
            hit,
            (exact3["query_id"] == hit["query_id"])
            & (exact3["neighbor_id"] == hit["hit_id"]),
            "left",
        )
        .groupBy(exact3["query_id"].alias("query_id"))
        .agg(
            F.count("hit_id").cast("long").alias("hits"),
            F.round(F.count("hit_id") / 3.0, 6).alias("recall_at_3"),
        )
    )


# Shared hyperparams of every persisted PQ / IVF-PQ index: _PQ_M
# subspaces of _PQ_SUBDIM dims, _PQ_KSUB centroids per subspace codebook
# (each index's cache token carries all three via _PQ_TAG).
_PQ_M = 8
_PQ_KSUB = 16
_PQ_SUBDIM = 8
_PQ_TAG = f"m{_PQ_M}k{_PQ_KSUB}d{_PQ_SUBDIM}"
# ADC candidates kept per query for the exact re-rank (flat PQ and IVF-PQ).
_PQ_POOL = 32
# Persisted layouts (materialize_parts_once parts): flat PQ is codebooks +
# vec_id-co-located codes; IVF-PQ is the code table PARTITIONED ON CELL ID
# (a probe's cell equi-join starts co-located), codebooks, coarse centroids.
_PQ_PARTS = ((":cent", None, 1), (":codes", "vec_id", 8))
_IVFPQ_PARTS = ((":coded", "cell", 8), (":cent", None, 1), (":coarse", None, 1))

_UNIT_EXPR = "transform(embedding, x -> CAST(CAST(x AS DOUBLE) / sqrt(nsq) AS FLOAT))"


def _unit_corpus(spark, vecs):
    """The L2-normalized corpus ``en`` (vec_id, embedding, nsq, unit) of a
    (vec_id, embedding) frame, MATERIALIZED once (localCheckpoint) — the
    input every PQ/IVF-PQ build trains and encodes on. Without the
    barrier, CollapseProject inlines the nsq column — itself a 64-term
    aggregate — into the normalize lambda, so nsq is recomputed PER
    ELEMENT of every `unit` use (64×64 interpreted ops + an array
    allocation each; higher-order functions don't codegen). Measured:
    that single inlining was ~80% of the PQ operator's runtime (6.3 s of
    7.9 s at sf0.1). The repartition matters independently: the fixture
    is one parquet file → 1-2 scan partitions, and the checkpoint would
    FREEZE that width for every downstream stage (measured at 10× fixture
    scale: the whole index build ran on 2 of 32 cores). At 100 TB you'd
    persist the normalized corpus once anyway — it's the PQ encode
    input."""
    return (
        vecs.withColumn("nsq", dot("embedding", "embedding"))
        .select("vec_id", "embedding", "nsq", F.expr(_UNIT_EXPR).alias("unit"))
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
        .localCheckpoint(eager=True)
    )


def _pq_normalize(spark, sf_dir):
    """:func:`_unit_corpus` of the raw embeddings table."""
    return _unit_corpus(
        spark, load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    )


def _seed_ids(en):
    """The _PQ_KSUB smallest vec_ids of ``en`` — explicit codebook seeds
    for a corpus whose low ids may be missing (see :func:`_pq_train_encode`;
    a _PQ_KSUB-row TakeOrdered, so the driver read is bounded)."""
    return [
        int(r["vec_id"])
        for r in en.select("vec_id").orderBy("vec_id").limit(_PQ_KSUB).collect()
    ]


def _subvectors(df, vec_col, key_cols=("vec_id",)):
    """(*key_cols, subspace, sv): every vector's _PQ_M sub-vectors of
    _PQ_SUBDIM dims in one relation."""
    return df.select(
        *key_cols,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {_PQ_M - 1}),"
                f" s -> slice({vec_col}, s * {_PQ_SUBDIM} + 1, {_PQ_SUBDIM}))"
            )
        ).alias("subspace", "sv"),
    )


def _pq_train_encode(vec_df, seed_ids, vec_col="unit"):
    """Train per-subspace codebooks (one multi-key k-means over ALL
    subspaces at once, 2 Lloyd iterations) and encode every vector.
    Returns (cent, codes): cent = (subspace, cluster, centroid), codes =
    (vec_id, codes array ordered by subspace). ``vec_df`` needs
    (vec_id, <vec_col>) — raw unit vectors for flat PQ, cell residuals
    for IVF-PQ.  Each subspace's codebook is seeded from the sub-vectors
    of ``seed_ids`` (:func:`_seed_ids`: the _PQ_KSUB smallest vec_ids
    actually present) — a fixed low-id range would under-seed a corpus
    whose low ids are missing (the deduped-representative path: vectors
    0..15 that are near-duplicates keep just one of them; code-review r9
    finding #1 — the init could degenerate to a near-single-cluster
    codebook and collapse recall)."""
    from .clustering import _DIST_SQ

    sub = _subvectors(vec_df, vec_col)

    def assign(cent):
        # argmin as a hash aggregate — min over struct(dsq, cluster, sv)
        # compares (dsq, cluster) lexicographically (cluster is unique per
        # group, so sv never participates in the comparison) and carries
        # the winning sub-vector out. Map-side partial combine, no sort:
        # the skew-safe argmin, vs a row_number window that must shuffle
        # AND sort every scored candidate.
        scored = sub.join(F.broadcast(cent), "subspace").withColumn(
            "dsq", F.expr(_DIST_SQ.format(a="sv", b="centroid"))
        )
        return (
            scored.groupBy("vec_id", "subspace")
            .agg(F.min(F.struct("dsq", "cluster", "sv")).alias("am"))
            .select(
                "vec_id",
                "subspace",
                F.col("am.dsq").alias("dsq"),
                F.col("am.cluster").alias("cluster"),
                F.col("am.sv").alias("sv"),
            )
        )

    # init: the seeds' sub-slices seed every subspace's codebook; cluster
    # id = dense rank of the seed id, so the codebook always starts with
    # len(seed_ids) distinct centroids
    seed_cluster = {int(v): i for i, v in enumerate(sorted(seed_ids))}
    # map keys cast to LONG explicitly (ADVICE r9): the lookup column
    # vec_id is BIGINT, and relying on implicit GetMapValue key
    # coercion from IntegerType literals is fragile across Spark
    # versions / ANSI modes.
    mapping = F.create_map(
        *[
            x
            for k, v in seed_cluster.items()
            for x in (F.lit(int(k)).cast("long"), F.lit(int(v)))
        ]
    )
    cent = sub.filter(F.col("vec_id").isin([int(v) for v in seed_ids])).select(
        "subspace",
        mapping[F.col("vec_id")].cast("int").alias("cluster"),
        F.col("sv").alias("centroid"),
    )
    for _ in range(2):
        upd = assign(cent).select(
            "subspace", "cluster", F.posexplode("sv").alias("pos", "x")
        )
        cent = (
            upd.groupBy("subspace", "cluster", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("mu"))
            .groupBy("subspace", "cluster")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, mu))),"
                    " s -> CAST(s.mu AS FLOAT))"
                ).alias("centroid")
            )
            .localCheckpoint(eager=True)  # k·m tiny rows; truncate lineage
        )

    # code array per vector: one groupBy, codes ordered by subspace
    codes = assign(cent).groupBy("vec_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(subspace, cluster))),"
            " s -> s.cluster)"
        ).alias("codes")
    )
    return cent, codes


def _adc_table(qdf, cent, key_cols, vec_col):
    """Per-key ADC lookup tables: a MAP from subspace*k+cluster → squared
    sub-distance of the key's vector to that sub-centroid (a MAP, not a
    positional array — gap-proof when a cluster empties during Lloyd's).
    ``key_cols`` is ["query_id"] for flat PQ, ["query_id", "p_cell"] for
    the per-probed-cell residual tables of IVF-PQ."""
    from .clustering import _DIST_SQ

    return (
        _subvectors(qdf, vec_col, key_cols)
        .join(F.broadcast(cent), "subspace")
        .withColumn("dsq", F.expr(_DIST_SQ.format(a="sv", b="centroid")))
        .groupBy(*key_cols)
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        (F.col("subspace") * _PQ_KSUB + F.col("cluster")).alias(
                            "idx"
                        ),
                        F.col("dsq"),
                    )
                )
            ).alias("tab")
        )
    )


def _raw_queries(e):
    """The probe set of the RAW corpus ``e`` with its unit vectors: the
    q_unit transform is _unit_corpus's, run on just these rows, so ADC
    tables built from it match the index."""
    return _probe_set(e, F.expr(_UNIT_EXPR).alias("q_unit"))


def _pq_index(spark, sf_dir):
    """(cent, codes) of the flat-PQ index, PERSISTED once per corpus (the
    materialize_once write-once pattern): an ANN index is a serving
    LAYOUT — production builds it once and probes it many times, so the
    training pipeline (normalize → multi-key k-means → encode) runs only
    when the cached index is absent. The cache check must happen BEFORE
    constructing the training plan because Lloyd's iterations execute
    eagerly (checkpointed loop state). Determinism makes the cache sound:
    fixed init + fixed seeds ⇒ the rebuilt index is byte-identical."""

    def build():
        en = _pq_normalize(spark, sf_dir)
        return _pq_train_encode(en, _seed_ids(en))

    return materialize_parts_once(
        spark, f"v1:pq_index:{sf_dir}:{_PQ_TAG}", _PQ_PARTS, build
    )


# Approximate squared distance: _PQ_M map lookups over the code array.
_ADC_EXPR = (
    f"aggregate(sequence(0, {_PQ_M - 1}), CAST(0.0 AS DOUBLE),"
    f" (acc, s) -> acc + element_at(tab,"
    f" s * {_PQ_KSUB} + element_at(codes, s + 1)))"
)


def _rerank_top3(cand, e, q):
    """Exact-cosine re-rank of ADC survivors; emits top-3 per query.

    r15 (optimization round; VERDICT r14 item 4): ``cand`` is the pooled
    ADC frontier — AT MOST _PQ_POOL × n_queries rows (≤ 320 for every
    consumer: the pool cap is :func:`_adc_rerank`'s top-k filter and the
    query side is the fixed 10-query probe batch), but Catalyst only
    sees a windowed corpus subtree and estimated it huge, so the
    cand⋈corpus attach ran as a sort-merge join that SHUFFLED the whole
    corpus by neighbor_id, then the rerank window re-shuffled back to
    query_id. Broadcasting the bounded frontier (guide §3.1) leaves the
    corpus unshuffled — candidates are attached map-side in the corpus
    scan stage — and the rerank window's exchange carries ≤ 320 rows.
    The bound is structural (serving probes are a bounded batch at any
    corpus size), so no row-count gate is needed; join strategy does not
    change the joined rows, and the emitted top-3 is bit-identical."""
    return _top_k_sorted(
        F.broadcast(cand.select("query_id", "neighbor_id"))
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
        ),
        3,
    )


def _adc_rerank(scored, rerank_e, q):
    """The ADC tail shared by flat PQ and IVF-PQ: score each (query, code)
    row of ``scored`` by table lookups, keep the _PQ_POOL best per query
    and exact-cosine re-rank them against ``rerank_e``."""
    adc = scored.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.expr(_ADC_EXPR).alias("approx_dsq"),
    )
    pool = _top_k(
        adc, _PQ_POOL, F.col("approx_dsq").asc(), F.col("neighbor_id").asc()
    )
    return _rerank_top3(pool, rerank_e, q)


@query("llm_sim_ann_pq")  # rows-only: per-subspace k-means training is iterative
def llm_sim_ann_pq(spark, sf_dir):
    """Product-quantization ANN (Jégou, Douze & Schmid, PAMI 2011): the
    memory-compressed billion-scale path. The 64-dim space splits into
    m=8 subspaces of 8 dims; each subspace trains its own k=16-centroid
    codebook, and every vector is stored as 8 sub-byte codes — a 32×
    compression of the float corpus (256 B → 8 B/vector), which is what
    lets a 100 TB embedding table fit a serving tier at all.

    Search is ADC (asymmetric distance computation): each query
    precomputes its m×16 table of squared sub-distances to every
    sub-centroid; a candidate's approximate distance is then m table
    LOOKUPS instead of d multiplies. Plan shape mirrors
    llm_sim_cosine_topk — the tiny query side (10 tables, m·16 doubles
    each) is BROADCAST against the code table and scored map-only inside
    codegen (aggregate over the code array); no shuffle touches the
    corpus until the per-query top-32 window, whose input at scale is cut
    by routing through an IVF cell equi-join first (see
    llm_sim_ann_ivfpq). The top-32 ADC candidates are then re-ranked with
    the EXACT cosine (the standard re-rank stage) and the top-3 emitted.

    Measured limitation (BASELINE addendum 24): on a DUPLICATE-HEAVY
    corpus the flat global ADC pool degrades — at a 100×-copies tier
    recall@3 fell to 3/30 while IVF-PQ held 25/30 and IVF-Flat 30/30,
    and the 1500× recall gate fails outright. Near-identical candidates
    sit inside the quantizer's resolution band, so aliased far vectors
    flood the global top-32 pool before re-rank. The scale path is
    therefore the IVF-PQ composition (exact coarse routing first), with
    dedup-before-index and/or a duplicate-mass-sized re-rank pool as the
    production remedies; this flat form remains the honest ADC
    demonstration and is driver-green on the duplicate-light fixture.

    PQ quantizes L2 distance, but the ground truth here is COSINE — so
    vectors are L2-NORMALIZED before training/encoding (on the unit
    sphere ‖a−b‖² = 2−2·cos(a,b), making ADC's L2 ranking the cosine
    ranking; without this the raw-norm spread dominates and recall@3
    measures ~0.03). The exact re-rank still scores original vectors.

    Training is ONE multi-key k-means, not m separate fits: sub-vectors
    carry their subspace id, centroids key on (subspace, cluster), and a
    Lloyd iteration is a single broadcast-join + argmin + groupBy over ALL
    subspaces at once — one pass over the data per iteration instead of m
    (the difference between 2 and 16 corpus scans at 100 TB). A cluster
    that empties during Lloyd's simply disappears from the codebook, so
    the ADC table is a MAP keyed by (subspace·k + cluster), never a
    positional array (a positional table silently misaligns every lookup
    after a gap — measured recall fell to the random-chance rate).

    Runs 2 Lloyd iterations on the full fixture (a sample at 100 TB —
    codebooks are m·16 points). The trained index (codebooks + code
    table) is PERSISTED via materialize_once (round 5): an ANN index is
    a write-once serving layout, so warm calls skip training entirely
    and pay only ADC probe + re-rank — measured at sf0.1: 3.17 s
    (retrain-per-call) → 0.87-1.03 s warm, cold build 10.2 s visible in
    pass 1 and in the scale smoke."""
    cent, codes = _pq_index(spark, sf_dir)
    e = _corpus(spark, sf_dir)
    return _pq_probe(cent, codes, e, _raw_queries(e))


def _pq_probe(cent, codes, rerank_e, q):
    """The SHARED flat-PQ serving path (llm_sim_ann_pq over the raw
    corpus, llm_index_build_pipeline over the representatives): one ADC
    table per query, broadcast against the code table — per (vector,
    query) cost is _PQ_M map lookups, an aggregate over the code array
    inside codegen — then the pooled exact re-rank of
    :func:`_adc_rerank`."""
    qtab = _adc_table(q, cent, ["query_id"], "q_unit")
    return _adc_rerank(
        codes.crossJoin(F.broadcast(qtab)).filter(
            F.col("vec_id") != F.col("query_id")
        ),
        rerank_e,
        q,
    )


def _ivfpq_build(spark, en):
    """Train the IVF-PQ index over ``en`` (vec_id + `unit` normalized
    vectors) and return its (coded, cent, coarse) frames — the SHARED
    build body of :func:`_ivfpq_index` (raw corpus) and
    :func:`_ivfpq_dedup_index` (representatives) so a quantizer change
    cannot silently diverge between the raw and dedup families
    (code-review r10 finding #3).
    Coarse quantizer: :func:`_train_ivf` over the unit vectors; PQ
    trains and encodes each vector's RESIDUAL from its cell centroid."""
    assigned, coarse = _train_ivf(
        spark, en.select("vec_id", F.col("unit").alias("embedding"))
    )
    cells = en.join(assigned, "vec_id").join(
        F.broadcast(coarse.select(F.col("cluster").alias("cell"), "centroid")),
        "cell",
    )
    # residual = unit − cell centroid; PQ trains and encodes on these
    resid = cells.select(
        "vec_id",
        "cell",
        F.expr(
            "zip_with(unit, centroid, (x, c) -> CAST(x - c AS FLOAT))"
        ).alias("runit"),
    ).localCheckpoint(eager=True)  # reused by 3 assign passes + encode
    cent, codes = _pq_train_encode(resid, _seed_ids(en), vec_col="runit")
    return codes.join(resid.select("vec_id", "cell"), "vec_id"), cent, coarse


def _ivfpq_probe(coded, cent, coarse, rerank_e, q):
    """The SHARED IVF-PQ serving path (code-review r10 finding #3):
    coarse-route each broadcast query to its _NPROBE nearest cells,
    build one ADC table per probed cell from the query's PER-CELL
    residual, equi-join the cell-partitioned code table against the
    broadcast probe tables, then the pooled exact re-rank of
    :func:`_adc_rerank` against ``rerank_e`` (the raw corpus for
    llm_sim_ann_ivfpq; the representative set for
    llm_index_build_pipeline_ivfpq)."""
    probes = _route(q, coarse, _NPROBE, "q_unit").select(
        "query_id",
        F.col("cluster").alias("p_cell"),
        F.expr(
            "zip_with(q_unit, centroid, (x, c) -> CAST(x - c AS FLOAT))"
        ).alias("q_res"),
    )
    ptab = _adc_table(probes, cent, ["query_id", "p_cell"], "q_res")
    return _adc_rerank(
        coded.join(
            F.broadcast(ptab),
            (F.col("cell") == F.col("p_cell"))
            & (F.col("vec_id") != F.col("query_id")),
        ),
        rerank_e,
        q,
    )


def _ivfpq_index(spark, sf_dir):
    """(coded, cent, coarse) of the IVF-PQ index, PERSISTED once per
    corpus (same rationale as :func:`_pq_index`; the cache check runs
    before plan construction because both quantizers train eagerly).
    Build body shared with the dedup variant via :func:`_ivfpq_build`."""
    return materialize_parts_once(
        spark,
        f"v1:ivfpq_index:{sf_dir}:{_PQ_TAG}",
        _IVFPQ_PARTS,
        lambda: _ivfpq_build(spark, _pq_normalize(spark, sf_dir)),
    )


@query("llm_sim_ann_ivfpq")  # rows-only: both quantizers train iteratively
def llm_sim_ann_ivfpq(spark, sf_dir):
    """IVF-PQ composite with RESIDUAL encoding — the canonical
    billion-scale serving layout (FAISS's IndexIVFPQ): an IVF coarse
    quantizer routes each query to its nprobe=2 nearest cells (of 8),
    and within the probed cells candidates are scored by PQ/ADC table
    lookups instead of full-dim math. The PQ codebooks quantize each
    vector's RESIDUAL from its cell centroid, not the vector itself —
    residuals are smaller and re-centered, so the same 8-byte code
    carries less quantization error (FAISS's default for exactly this
    reason); measured recall@3 moved 0.433 → 0.467 at sf0.01 (unchanged
    0.433 at sf0.001) with no change in index size or plan shape — the
    gain is bounded here because recall is ROUTING-limited (IVF alone
    with nprobe=2 of 8 measures ~0.5: a neighbor in an unprobed cell is
    lost before codes matter); at higher nprobe the residual advantage
    widens, which is why FAISS defaults to it.

    The asymmetric-distance bookkeeping follows: a query needs ONE ADC
    table PER PROBED CELL (its residual differs per cell), so the probe
    side is (query_id, p_cell, tab) — still tiny (nprobe tables per
    query) and still broadcast. Cells bound the candidate count
    (~nprobe/n_cells of the corpus), PQ bounds bytes-per-candidate:
    together a probe touches a constant fraction of a compressed index —
    that, not flat scans, is how 100 TB of embeddings serves queries.

    Plan shape: cell assignment, residual computation, and PQ encode are
    ONE materialization of the normalized corpus (shared machinery with
    llm_sim_ann_pq); the search is an EQUI-JOIN of the code table on
    cell id against the broadcast probe tables — and since round 5 the
    persisted code table is literally PARTITIONED ON CELL ID
    (_ivfpq_index writes it that way), so a probe starts co-located with
    the storage layout: partition pruning at the scan, ADC arithmetic
    map-only on the pruned partitions. The index is built once per
    corpus and cached (measured at sf0.1: 6.19 s retrain-per-call →
    0.83-0.86 s warm probe; cold build 7.2 s in pass 1 / scale smoke)."""
    coded, cent, coarse = _ivfpq_index(spark, sf_dir)
    e = _corpus(spark, sf_dir)
    return _ivfpq_probe(coded, cent, coarse, e, _raw_queries(e))


def _exact_top3(e, q, pred=None):
    """Brute-force exact top-3 cosine pairs for the broadcast query set —
    the shared ground truth of every ANN recall gate. ``pred`` is an
    extra pair predicate (the filtered twin's same-label rule)."""
    cos = _cosine(dot("q_emb", "embedding"), "q_nsq", "nsq")
    cond = F.col("vec_id") != F.col("query_id")
    if pred is not None:
        cond = cond & pred
    pairs = e.join(F.broadcast(q), cond).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine")
    )
    return _top_k(pairs, 3).select("query_id", "neighbor_id")


def _recall_metric(ann, e, q, threshold, flag_name, extra=None, pred=None):
    """(n_exact_pairs, n_queries, [extra,] <flag>): measured recall of
    ``ann`` pairs against the exact top-3 (under ``pred``, see
    :func:`_exact_top3`), flagged at ``threshold``. ``extra`` maps the
    checkpointed ``ann`` to a one-row frame of further counts (deleted
    ids surfaced, filter violations, vectors assigned), placed between
    n_queries and the flag.

    r14 (optimization round; results bit-identical): ``exact3`` and
    ``ann`` are localCheckpoint-ed before the metric fans out. Both are
    tiny (≤ 3 rows per query), but their SUBTREES are corpus-wide — the
    brute-force scoring pass and the full ANN probe — and Catalyst
    recomputed each subtree in every consuming branch (exact3 in its
    own agg AND the semi-join; ann in the semi-join AND, for the
    survivor variant, the surfaced filter). Truncating the lineage at
    the k-row frontier makes every recall twin pay its corpus passes
    exactly once (guide §2.4/§5: cut the plan where the data is small,
    e.g. llm_index_tombstone_probe_recall 12 parquet scans / 11
    shuffle exchanges -> 0 scans (checkpoint reads) / 6, plans/r14/)."""
    exact3 = _exact_top3(e, q, pred).localCheckpoint(eager=True)
    ann = ann.localCheckpoint(eager=True)
    found = exact3.join(ann, ["query_id", "neighbor_id"], "left_semi")
    out = exact3.agg(
        F.count("*").alias("n_exact_pairs"),
        F.count_distinct("query_id").alias("n_queries"),
    ).join(found.agg(F.count("*").alias("n_found")))
    cols = ["n_exact_pairs", "n_queries"]
    if extra is not None:
        counts = extra(ann)
        out = out.join(counts)
        cols += counts.columns
    return out.select(
        *cols,
        (F.col("n_found") >= threshold * F.col("n_exact_pairs")).alias(flag_name),
    )


@query(
    "llm_sim_ann_pq_recall",
    # Same honesty-metric pattern as llm_sim_ann_ivf_recall: the learned
    # codebooks are iterative-float and engine-specific, but the exact
    # top-3 ground truth is not — DuckDB recomputes it independently and
    # Spark reports a genuinely measured recall flag against it. Measured
    # margin (ADVICE r3 discipline): recall@3 = 0.60 at sf0.001 / 0.70 at
    # sf0.01 vs the 0.40 threshold — ≥1.5× headroom on both fixtures.
    oracle=f"""
    WITH n AS (
      SELECT vec_id, embedding, {sql_dot('embedding', 'embedding')} AS nsq
      FROM embeddings
    ), q AS (SELECT * FROM n WHERE vec_id < 10), exact3 AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
      FROM q JOIN n e ON e.vec_id <> q.vec_id
      QUALIFY row_number() OVER (
          PARTITION BY q.vec_id
          ORDER BY {_sql_cosine(sql_dot('q.embedding', 'e.embedding'), 'q.nsq', 'e.nsq')}
                   DESC, e.vec_id ASC) <= 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
           CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
           TRUE AS recall_ge_40
    FROM exact3
    """,
)
def llm_sim_ann_pq_recall(spark, sf_dir):
    """Recall@3 of the PQ/ADC index (llm_sim_ann_pq: m=8×k=16 codebooks,
    32-candidate re-rank) against brute-force exact top-3 — the measured
    honesty metric for the compressed ANN path. This is the op that
    caught the positional-table bug: a silently misaligned ADC table
    scores at the random-chance rate (32/N), and only a measured recall
    gate makes that visible."""
    pq = llm_sim_ann_pq(spark, sf_dir).select("query_id", "neighbor_id")
    e = _corpus(spark, sf_dir)
    return _recall_metric(pq, e, _probe_set(e), 0.4, "recall_ge_40")


@query(
    "llm_sim_ann_ivfpq_recall",
    # Honesty metric for the IVF-PQ composite. Measured margin (residual
    # encoding): recall@3 = 0.433 at sf0.001 / 0.467 at sf0.01 vs the
    # 0.30 threshold (≥1.4× headroom) — lower than flat PQ (0.60/0.70)
    # exactly as theory predicts: the probe can only find neighbors
    # whose cell it visits (IVF nprobe=2/8 measures ~0.5 alone), and ADC
    # ranking loses a little more. The gate catches either quantizer
    # silently breaking.
    oracle=f"""
    WITH n AS (
      SELECT vec_id, embedding, {sql_dot('embedding', 'embedding')} AS nsq
      FROM embeddings
    ), q AS (SELECT * FROM n WHERE vec_id < 10), exact3 AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
      FROM q JOIN n e ON e.vec_id <> q.vec_id
      QUALIFY row_number() OVER (
          PARTITION BY q.vec_id
          ORDER BY {_sql_cosine(sql_dot('q.embedding', 'e.embedding'), 'q.nsq', 'e.nsq')}
                   DESC, e.vec_id ASC) <= 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
           CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
           TRUE AS recall_ge_30
    FROM exact3
    """,
)
def llm_sim_ann_ivfpq_recall(spark, sf_dir):
    """Recall@3 of the IVF-PQ composite against brute-force exact top-3 —
    the measured honesty metric for the cell-routed compressed index."""
    ann = llm_sim_ann_ivfpq(spark, sf_dir).select("query_id", "neighbor_id")
    e = _corpus(spark, sf_dir)
    return _recall_metric(ann, e, _probe_set(e), 0.3, "recall_ge_30")


@query("llm_sim_mmr_rerank")  # rows-only: greedy MMR selection is sequential
def llm_sim_mmr_rerank(spark, sf_dir):
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998): from each query's top-16 cosine candidates, greedily
    select 5 maximizing λ·relevance − (1−λ)·max-similarity-to-already-
    selected (λ=0.7) — the diversity pass every retrieval stack runs so
    near-duplicate neighbors don't crowd the result list.

    Greedy MMR is inherently SEQUENTIAL in the selection order, so this
    is a textbook applyInPandas case (SURVEY §4.3): the distributed plan
    computes the candidate pool per query (broadcast query set, map-only
    scoring — same retrieval layer as llm_sim_cosine_topk), and the
    Python fold runs per query group over ≤16 rows with Arrow transfer —
    never over the corpus. Selection ties break by candidate id;
    pairwise sims recompute inside the group from the carried unit
    vectors (16×16 floats, negligible)."""
    import numpy as np
    import pandas as pd

    e = _corpus(spark, sf_dir)
    q = _probe_set(e)
    cand = e.repartition(spark.sparkContext.defaultParallelism)
    scored = cand.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        _cosine(dot("q_emb", "embedding"), "q_nsq", "nsq").alias("relevance"),
        "embedding",
        "nsq",
    )
    pool = _top_k(
        scored, 16, F.col("relevance").desc(), F.col("neighbor_id").asc()
    ).drop("rn")

    out_schema = (
        "query_id long, neighbor_id long, mmr_rank long, relevance double"
    )

    def mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        lam, k = 0.7, 5
        pdf = pdf.sort_values(["relevance", "neighbor_id"], ascending=[False, True])
        vecs = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        norms = np.sqrt(np.asarray(pdf["nsq"], dtype=np.float64))
        unit = vecs / norms[:, None]
        rel = np.asarray(pdf["relevance"], dtype=np.float64)
        ids = np.asarray(pdf["neighbor_id"])
        selected: list[int] = []
        remaining = list(range(len(pdf)))
        while remaining and len(selected) < k:
            if not selected:
                best = remaining[0]  # highest relevance (sorted; id tiebreak)
            else:
                sims = unit[remaining] @ unit[selected].T
                score = lam * rel[remaining] - (1 - lam) * sims.max(axis=1)
                # argmax with (score desc, neighbor_id asc) tiebreak
                order = sorted(
                    range(len(remaining)),
                    key=lambda j: (-round(score[j], 9), ids[remaining[j]]),
                )
                best = remaining[order[0]]
            selected.append(best)
            remaining.remove(best)
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "neighbor_id": ids[selected],
                "mmr_rank": np.arange(1, len(selected) + 1),
                "relevance": rel[selected],
            }
        )

    return (
        pool.groupBy("query_id")
        .applyInPandas(mmr, out_schema)
        .orderBy("query_id", "mmr_rank")
    )


@query(
    "llm_emb_quantize_int8",
    oracle="""
    WITH x AS (
      SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
      FROM embeddings, unnest(range(1, 65)) AS u(i)
    ), d AS (
      SELECT pos, MIN(v) AS mn, MAX(v) AS mx FROM x GROUP BY pos
    ), q AS (
      SELECT vec_id, v,
             CAST(CASE WHEN mx = mn THEN 0
                       ELSE round((v - mn) / (mx - mn) * 255) END AS INTEGER)
               AS qv,
             mn, mx
      FROM x JOIN d USING (pos)
    ), e AS (
      SELECT vec_id, qv,
             (CASE WHEN mx = mn THEN mn
                   ELSE mn + qv * (mx - mn) / 255 END) - v AS err
      FROM q
    )
    SELECT vec_id,
           CAST(MIN(qv) AS INTEGER) AS qmin,
           CAST(MAX(qv) AS INTEGER) AS qmax,
           round(CAST(CAST(SUM(CAST(round(err * err, 12) AS DECIMAL(24,12)))
                           AS VARCHAR) AS DOUBLE) / 64, 6) AS mse,
           round(MAX(abs(err)), 6) AS max_abs_err
    FROM e GROUP BY vec_id
    """,
)
def llm_emb_quantize_int8(spark, sf_dir):
    """Scalar (per-dimension min/max) uint8 quantization of the embedding
    corpus with a per-vector reconstruction report — the serving-prep
    pass that shrinks a float32 vector store 4× before ANN indexing
    (the affine-scalar sibling of llm_sim_ann_pq's codebook
    quantization). Emits each vector's quantized code range and its
    reconstruction error (MSE + max abs), so the 'is uint8 good enough
    for this corpus' decision is measured, not assumed.

    Determinism: quantize/dequantize is scalar IEEE double math on
    identical inputs; the per-vector MSE sums 64 squared errors rounded
    to 12 dp through an exact decimal accumulator (merge-order-proof).
    Constant dims (max = min) quantize to code 0 and reconstruct the
    constant exactly.

    Plan shape: per-dim stats are a 64-row map-combined agg broadcast
    back to the (vec, dim) stream; everything else is map-local and the
    final per-vector agg map-combines. At 100 TB the same per-dim stats
    table drives a fold-based (transform + aggregate) map-only encode —
    the explode here keeps the op oracle-checkable."""
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v"),
    )
    d = x.groupBy("pos").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    j = x.join(F.broadcast(d), "pos")
    const = F.col("mx") == F.col("mn")
    qv = F.when(const, F.lit(0)).otherwise(
        F.round((F.col("v") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 255, 0)
    ).cast("int")
    withq = j.withColumn("qv", qv).withColumn(
        "err",
        F.when(const, F.col("mn")).otherwise(
            F.col("mn") + F.col("qv") * (F.col("mx") - F.col("mn")) / 255
        )
        - F.col("v"),
    )
    return withq.groupBy("vec_id").agg(
        F.min("qv").cast("int").alias("qmin"),
        F.max("qv").cast("int").alias("qmax"),
        F.round(
            d2d(
                F.sum(F.round(F.col("err") * F.col("err"), 12).cast("decimal(24,12)"))
            )
            / 64,
            6,
        ).alias("mse"),
        F.round(F.max(F.abs("err")), 6).alias("max_abs_err"),
    )


@query(
    "llm_hard_negatives",
    oracle=f"""
    WITH n AS (
      SELECT vec_id, label, embedding,
             {sql_dot('embedding', 'embedding')} AS nsq
      FROM embeddings
    ), q AS (SELECT * FROM n WHERE vec_id < 10),
    ranked AS (
      SELECT q.vec_id AS query_id,
             CAST(q.label AS INTEGER) AS query_label,
             e.vec_id AS neg_id,
             CAST(e.label AS INTEGER) AS neg_label,
             {_sql_cosine(sql_dot('q.embedding', 'e.embedding'),
                          'q.nsq', 'e.nsq')} AS cosine,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {_sql_cosine(sql_dot('q.embedding', 'e.embedding'),
                                     'q.nsq', 'e.nsq')} DESC,
                        e.vec_id ASC) AS rnk
      FROM q JOIN n e ON e.label <> q.label
    )
    SELECT query_id, query_label, neg_id, neg_label, cosine,
           CAST(rnk AS INTEGER) AS rank
    FROM ranked WHERE rnk <= 3
    ORDER BY query_id, rank
    """,
)
def llm_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training: for each query
    vector, the 3 highest-cosine corpus vectors with a DIFFERENT label
    — the negatives that actually teach an embedding model (random
    negatives are trivially separable; the near-miss wrong-class
    examples carry the gradient signal; cf. DPR / SimCSE practice).

    Same plan as llm_sim_cosine_topk — broadcast query set, corpus
    never shuffled, exact quantized dot — plus the label-mismatch
    predicate inside the join (so same-class candidates are dropped
    before scoring, not ranked then filtered: the returned rank is the
    rank AMONG negatives)."""
    e = _corpus(spark, sf_dir, "label")
    q = _probe_set(e, F.col("label").alias("query_label"))
    cand = e.repartition(spark.sparkContext.defaultParallelism)
    scored = cand.join(
        F.broadcast(q), F.col("label") != F.col("query_label")
    ).select(
        "query_id",
        F.col("query_label").cast("int").alias("query_label"),
        F.col("vec_id").alias("neg_id"),
        F.col("label").cast("int").alias("neg_label"),
        _cosine(dot("q_emb", "embedding"), "q_nsq", "nsq").alias("cosine"),
    )
    return (
        _top_k(scored, 3, F.col("cosine").desc(), F.col("neg_id").asc())
        .select(*scored.columns, F.col("rn").cast("int").alias("rank"))
        .orderBy("query_id", "rank")
    )


# NDCG position discounts 1/log2(p+1) for p = 1..10, quantized to 8 dp so
# each per-query DCG is an exact DECIMAL sum (order-independent across
# engines — a raw double sum would depend on the engines' accumulation
# order, and libm log2 itself is not correctly rounded everywhere). The
# ≤1e-8 discount quantization is far below any ranking-decision threshold.
_NDCG_DISC = [
    "1.00000000",
    "0.63092975",
    "0.50000000",
    "0.43067656",
    "0.38685281",
    "0.35620719",
    "0.33333333",
    "0.31546488",
    "0.30103000",
    "0.28906483",
]
_DISC_ARRAY = (
    "array(" + ", ".join(f"CAST({d} AS DECIMAL(10,8))" for d in _NDCG_DISC) + ")"
)
_SQL_DISC_ARRAY = (
    "[" + ", ".join(f"CAST({d} AS DECIMAL(10,8))" for d in _NDCG_DISC) + "]"
)


@query(
    "llm_retrieval_ndcg",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding,
             {_SQL_BUCKET.format(e='embedding')} AS bucket,
             {sql_dot('embedding', 'embedding')} AS nsq
      FROM embeddings
    ), q AS (SELECT * FROM b WHERE vec_id < 10),
    truth AS (
      SELECT * FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_sql_cosine(sql_dot('q.embedding', 'e.embedding'), 'q.nsq', 'e.nsq')} DESC,
                          e.vec_id ASC) AS trank
        FROM q JOIN b e ON e.vec_id <> q.vec_id
      ) WHERE trank <= 10
    ),
    retr AS (
      SELECT * FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_sql_cosine(sql_dot('q.embedding', 'e.embedding'), 'q.nsq', 'e.nsq')} DESC,
                          e.vec_id ASC) AS pos
        FROM q JOIN b e ON e.bucket = q.bucket AND e.vec_id <> q.vec_id
      ) WHERE pos <= 10
    ),
    ragg AS (
      SELECT r.query_id,
             COUNT(*) AS n_retrieved,
             SUM(CASE WHEN t.trank IS NOT NULL THEN 1 ELSE 0 END) AS hits,
             MIN(CASE WHEN t.trank IS NOT NULL THEN r.pos END) AS first_rel,
             SUM(CASE WHEN t.trank IS NOT NULL
                      THEN {_SQL_DISC_ARRAY}[r.pos]
                      ELSE CAST(0 AS DECIMAL(10,8)) END) AS dcg
      FROM retr r LEFT JOIN truth t USING (query_id, neighbor_id)
      GROUP BY r.query_id
    ),
    tagg AS (
      SELECT query_id, COUNT(*) AS truth_n,
             SUM({_SQL_DISC_ARRAY}[trank]) AS idcg
      FROM truth GROUP BY query_id
    )
    SELECT t.query_id,
           CAST(COALESCE(r.n_retrieved, 0) AS BIGINT) AS n_retrieved,
           CAST(COALESCE(r.hits, 0) AS BIGINT) AS hits,
           CAST(COALESCE(r.hits, 0) AS DOUBLE) / CAST(t.truth_n AS DOUBLE)
             AS recall_at_10,
           COALESCE(CAST(1 AS DOUBLE) / CAST(r.first_rel AS DOUBLE),
                    CAST(0 AS DOUBLE)) AS mrr,
           COALESCE(CAST(CAST(r.dcg AS VARCHAR) AS DOUBLE)
                      / CAST(CAST(t.idcg AS VARCHAR) AS DOUBLE),
                    CAST(0 AS DOUBLE)) AS ndcg_at_10
    FROM tagg t LEFT JOIN ragg r USING (query_id)
    ORDER BY query_id
    """,
)
def llm_retrieval_ndcg(spark, sf_dir):
    """Ranking-quality eval of the LSH-bucketed retrieval path against
    brute-force cosine ground truth: per query, recall@10, MRR, and
    NDCG@10 (binary relevance = membership in the exact top-10). This is
    the standard ANN-benchmark metric suite (recall measures the SET the
    bucket returns, NDCG/MRR measure the ORDER it returns it in) —
    `llm_sim_ann_recall` already gates the set; this op gates the
    ranking, which is what a RAG serving layer actually consumes.

    Scale shape: the ground-truth side is the eval harness, not the
    serving path — it brute-forces only the (tiny, broadcast) sampled
    query set against the corpus, exactly how FAISS/BigANN recall
    harnesses run, so the cost is one corpus scan per eval batch. The
    serving side is the bucket equi-join (no cross join anywhere). A
    query whose bucket is empty contributes recall/MRR/NDCG = 0 through
    the left join from the truth side — silent-miss-proof by
    construction. DCG folds in DECIMAL(10,8) (see _NDCG_DISC) so both
    engines sum exactly; all final divisions are double-on-double with
    identical operand trees."""
    e = _corpus(spark, sf_dir).withColumn(
        "bucket", F.expr(_BUCKET.format(e="embedding"))
    )
    q = _probe_set(e, F.col("bucket").alias("q_bucket"))
    cand = e.repartition(spark.sparkContext.defaultParallelism)
    truth = _top_k(
        cand.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cosine(dot("q_emb", "embedding"), "q_nsq", "nsq").alias("cosine"),
        ),
        10,
    ).select("query_id", "neighbor_id", F.col("rn").alias("trank"))
    retr = _top_k(
        e.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("query_id")),
        ).select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cosine(dot("q_emb", "embedding"), "q_nsq", "nsq").alias("cosine"),
        ),
        10,
    ).select("query_id", "neighbor_id", F.col("rn").alias("pos"))
    disc = F.expr(_DISC_ARRAY)
    zero_disc = F.lit("0").cast("decimal(10,8)")
    ragg = (
        retr.join(truth, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_retrieved"),
            F.sum(
                F.when(F.col("trank").isNotNull(), F.lit(1)).otherwise(F.lit(0))
            ).alias("hits"),
            F.min(F.when(F.col("trank").isNotNull(), F.col("pos"))).alias(
                "first_rel"
            ),
            F.sum(
                F.when(
                    F.col("trank").isNotNull(), F.element_at(disc, F.col("pos"))
                ).otherwise(zero_disc)
            ).alias("dcg"),
        )
    )
    tagg = truth.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("truth_n"),
        F.sum(F.element_at(disc, F.col("trank"))).alias("idcg"),
    )
    out = tagg.join(ragg, "query_id", "left")
    return out.select(
        "query_id",
        F.coalesce(F.col("n_retrieved"), F.lit(0)).cast("bigint").alias(
            "n_retrieved"
        ),
        F.coalesce(F.col("hits"), F.lit(0)).cast("bigint").alias("hits"),
        (
            F.coalesce(F.col("hits"), F.lit(0)).cast("double")
            / F.col("truth_n").cast("double")
        ).alias("recall_at_10"),
        F.coalesce(
            F.lit(1).cast("double") / F.col("first_rel").cast("double"),
            F.lit(0).cast("double"),
        ).alias("mrr"),
        F.coalesce(
            d2d(F.col("dcg")) / d2d(F.col("idcg")), F.lit(0).cast("double")
        ).alias("ndcg_at_10"),
    ).orderBy("query_id")


@query(
    "llm_emb_dim_stats",
    oracle="""
    WITH q AS (
      SELECT u.i - 1 AS dim,
             CAST(round(embedding[u.i] * 1000000) AS BIGINT) AS q
      FROM embeddings, unnest(range(1, 65)) AS u(i)
    ), s AS (
      SELECT dim, COUNT(*) AS n,
             CAST(SUM(q) AS HUGEINT) AS sq,
             CAST(SUM(CAST(q AS HUGEINT) * q) AS HUGEINT) AS sqq,
             MIN(q) AS min_q, MAX(q) AS max_q
      FROM q GROUP BY dim
    )
    SELECT CAST(dim AS INTEGER) AS dim, CAST(n AS BIGINT) AS n,
           round(CAST(CAST(CAST(sq AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE)
                 / n / 1e6, 6) AS mean_q,
           round(CAST(CAST(CAST(CAST(n AS HUGEINT) * sqq - sq * sq
                                AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE)
                 / CAST(n AS DOUBLE) / CAST(n AS DOUBLE) / 1e12, 6) AS var_q,
           CAST(min_q AS BIGINT) AS min_q, CAST(max_q AS BIGINT) AS max_q
    FROM s ORDER BY dim
    """,
)
def llm_emb_dim_stats(spark, sf_dir):
    """Per-dimension embedding statistics — the embedding-space health
    dashboard (mean offset per dim = anisotropy / un-centered space, the
    Ethayarajh 2019 finding that hurts cosine retrieval; near-zero
    variance = dead dims that PQ codebooks waste bits on; min/max =
    the quantization range llm_emb_quantize_int8 must cover). 64 rows
    out regardless of corpus size.

    Exactness: values quantize to 6-dp integers (the kmeans-quality
    discipline), all power sums accumulate in DECIMAL(38,0)/HUGEINT —
    the n·Σq²−(Σq)² variance term passes the int64 ceiling near sf≈1,
    the exact overflow class ADVICE r6 flagged in ml_kmeans_quality —
    and only the final render divides through exact-string doubles.

    Plan: map-only posexplode (64 rows per vector) into ONE hash agg on
    the 64-key dim domain with map-side combine; min/max/sums all merge
    associatively, so the shuffle carries 64 rows per input partition.
    The cheapest kind of full-corpus pass at 100 TB."""
    e = load_table(spark, sf_dir, "embeddings")
    d38 = "decimal(38,0)"
    q = e.select(
        F.posexplode(
            F.expr(
                "transform(embedding, v -> CAST(round(v * 1000000, 0) AS BIGINT))"
            )
        ).alias("dim", "q")
    )
    s = q.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum(F.col("q").cast(d38)).alias("sq"),
        F.sum(F.col("q").cast(d38) * F.col("q")).alias("sqq"),
        F.min("q").alias("min_q"),
        F.max("q").alias("max_q"),
    )
    var_term = (F.col("n").cast(d38) * F.col("sqq") - F.col("sq") * F.col("sq")).cast(
        d38
    )
    return s.select(
        F.col("dim").cast("int").alias("dim"),
        F.col("n").cast("long").alias("n"),
        F.round(d2d(F.col("sq")) / F.col("n") / F.lit(1e6), 6).alias("mean_q"),
        F.round(
            d2d(var_term)
            / F.col("n").cast("double")
            / F.col("n").cast("double")
            / F.lit(1e12),
            6,
        ).alias("var_q"),
        F.col("min_q").cast("long").alias("min_q"),
        F.col("max_q").cast("long").alias("max_q"),
    ).orderBy("dim")


# int64-exactness bound for the gram partials (ADVICE r7): each
# accumulated term is |q_i * q_j| <= ~1.6e13 (|q| <= ~4e6 after 6-dp
# quantization), so a batch of n rows accumulates at most n * 1.6e13 —
# safe below 2^63 only while n < ~5.7e5. Arrow batch size is
# config-controlled (spark.sql.execution.arrow.maxRecordsPerBatch,
# default 10k → ~50x margin); fail loudly so raising that config past
# the bound aborts the job instead of silently wrapping int64.
_GRAM_BATCH_ROW_BOUND = 500_000


def _assert_gram_batch_bound(n_rows: int) -> None:
    if n_rows > _GRAM_BATCH_ROW_BOUND:
        raise ValueError(
            f"gram_partial batch of {n_rows} rows exceeds the int64-exact "
            f"accumulation bound ({_GRAM_BATCH_ROW_BOUND}); lower "
            "spark.sql.execution.arrow.maxRecordsPerBatch"
        )


@query(
    "llm_emb_gram_matrix",
    oracle="""
    WITH q AS (
      SELECT vec_id, u.i - 1 AS dim,
             CAST(round(embedding[u.i] * 1000000) AS BIGINT) AS q
      FROM embeddings, unnest(range(1, 65)) AS u(i)
    )
    SELECT a.dim AS i, b.dim AS j,
           round(CAST(CAST(CAST(SUM(CAST(a.q AS HUGEINT) * b.q)
                                AS DECIMAL(38,0)) AS VARCHAR) AS DOUBLE)
                 / 1e12, 6) AS gram
    FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.dim <= b.dim
    GROUP BY a.dim, b.dim
    ORDER BY i, j
    """,
)
def llm_emb_gram_matrix(spark, sf_dir):
    """Upper-triangle Gram (second-moment) matrix of the embedding
    space, X^T X over 6-dp-quantized values — the one-pass statistic
    PCA / whitening / OPQ rotation all start from (and the full-matrix
    big sibling of llm_emb_dim_stats' diagonal). 2080 rows out
    regardless of corpus size.

    This op is the repo's justified **vectorized-Pandas showcase**: the
    64x64 outer-product accumulation is dense linear algebra that SQL
    can only express as a 2080-way explode-join, so the Spark side runs
    ``mapInPandas`` partials — each Arrow batch contributes one
    ``Q^T Q`` (numpy int64 matmul over the ALREADY-QUANTIZED integer
    arrays, so the only float step — 6-dp quantization — happens in the
    engine with the same round() the oracle uses; re-quantizing in
    numpy would reopen the floor(x+0.5)-vs-HALF_UP double edge case).
    Integer exactness end to end: per-batch partials bound by
    batch_rows * 4e12 << int64, the cross-partition merge sums in
    DECIMAL(38,0), so the result is merge-order-independent — the
    core.py rule-3 power-sum discipline applied to a matrix. At 100 TB
    this is the canonical tree-reduce: map-side 64x64 partials (2080
    rows per task) into one tiny hash agg; nothing corpus-sized ever
    shuffles."""
    partials = _gram_moment_partials(spark, sf_dir).filter(F.col("i") >= 0)
    return (
        partials.groupBy("i", "j")
        .agg(F.sum(F.col("s").cast("decimal(38,0)")).alias("ss"))
        .select(
            "i",
            "j",
            F.round(d2d(F.col("ss")) / F.lit(1e12), 6).alias("gram"),
        )
        .orderBy("i", "j")
    )


def _gram_moment_partials(spark, sf_dir):
    """Per-Arrow-batch exact-integer moment partials of the quantized
    embedding matrix, ONE corpus pass for all three statistics:

    - ``(i, j, s)`` with 0 ≤ i ≤ j ≤ 63: upper-triangle QᵀQ Gram entries;
    - ``(-1, dim, s)``: per-dim column sums (first moments);
    - ``(-2, 0, rows)``: the batch row count.

    Each batch's matmul/sums stay int64-exact (the
    ``_assert_gram_batch_bound`` contract: |q| ≤ ~4e6, so the colsum
    partial ≤ batch·4e6 — far inside the Gram term's own bound); the
    cross-partition merge is a DECIMAL(38,0) hash agg downstream. Shared
    by llm_emb_gram_matrix (which keeps only i ≥ 0) and the PCA moment
    collector — ONE implementation of the overflow discipline to keep in
    sync, not two (code-review r8 finding)."""
    from pyspark.sql.types import LongType, StructField, StructType

    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        F.expr(
            "transform(embedding, v -> CAST(round(v * 1000000, 0) AS BIGINT))"
        ).alias("q")
    )
    schema = StructType(
        [
            StructField("i", LongType()),
            StructField("j", LongType()),
            StructField("s", LongType()),
        ]
    )

    def gram_partial(batches):
        import numpy as np  # noqa: PLC0415 — worker-side import
        import pandas as pd  # noqa: PLC0415

        iu, ju = np.triu_indices(64)
        for pdf in batches:
            if pdf.empty:
                continue
            _assert_gram_batch_bound(len(pdf))
            mat = np.array(pdf["q"].tolist(), dtype=np.int64)
            acc = mat.T @ mat  # exact: |q| <= ~4e6, batch partial << 2^63
            yield pd.DataFrame(
                {
                    "i": np.concatenate([iu, np.full(64, -1), [-2]]),
                    "j": np.concatenate([ju, np.arange(64), [0]]),
                    "s": np.concatenate(
                        [acc[iu, ju], mat.sum(axis=0), [len(mat)]]
                    ),
                }
            )

    return q.mapInPandas(gram_partial, schema)


def _emb_exact_moments(spark, sf_dir):
    """(n, colsum[64], gram[64,64]) of the 6-dp-quantized embedding
    matrix as EXACT Python ints (arbitrary precision — Gram/colsum
    entries exceed 2^53 at the 3M-vector scale tier, so a float64
    conversion at the collect step would silently round them; ADVICE r8
    item 1) — the exact integer sufficient statistics PCA needs, from
    ONE corpus pass (the shared moment partials above) and one driver
    collect bounded by d² (2080 + 64 + 1 rows, never corpus-sized).
    Exactness holds end-to-end: DECIMAL(38,0) in the distributed
    aggregation, int(Decimal) here; the single float rounding per
    covariance entry happens in _pca_components. Raises on an empty
    table instead of mis-indexing; a ragged embedding column fails
    loudly inside the partial's np.array(dtype=int64) construction."""
    rows = (
        _gram_moment_partials(spark, sf_dir)
        .groupBy("i", "j")
        .agg(F.sum(F.col("s").cast("decimal(38,0)")).alias("ss"))
        .collect()
    )
    n = 0
    colsum = [0] * 64
    gram = [[0] * 64 for _ in range(64)]
    for r in rows:
        i, j = int(r["i"]), int(r["j"])
        s = int(r["ss"])
        if i == -2:
            n = s
        elif i == -1:
            colsum[j] = s
        else:
            gram[i][j] = s
            gram[j][i] = s
    if n <= 0:
        raise ValueError("embeddings table is empty: PCA moments undefined")
    return n, colsum, gram


_PCA_K = 8


def _pca_components(n, colsum, gram, k=_PCA_K):
    """Top-k principal directions from the exact integer moments.
    Population covariance C = (n·Gram − colsumᵀcolsum)/n² is formed per
    entry as float(exact-int numerator)/n² — ONE correctly-rounded float
    operation per entry, after all integer arithmetic runs at arbitrary
    precision (so >2^53 Gram entries are not pre-truncated); eigh is the
    only iterative float step. trace(C) uses the same exact numerator.
    Deterministic sign convention: each component's largest-|entry|
    coordinate (first index on ties) is made positive."""
    import numpy as np

    d = len(colsum)
    cs = [int(c) for c in colsum]
    nn = n * n
    cov = np.empty((d, d), dtype=np.float64)
    for i in range(d):
        gi, ci = gram[i], cs[i]
        for j in range(i, d):
            cov[i, j] = cov[j, i] = float(n * int(gi[j]) - ci * cs[j]) / nn
    trace = float(sum(n * int(gram[i][i]) - cs[i] * cs[i] for i in range(d))) / nn
    w, v = np.linalg.eigh(cov)  # ascending
    order = np.argsort(w)[::-1][:k]
    comps = v[:, order].T.copy()  # k x 64
    for row in comps:
        pivot = int(np.argmax(np.abs(row)))
        if row[pivot] < 0:
            row *= -1
    return comps, w[order], trace


@query("llm_emb_pca")  # rows-only: eigendecomposition is float-iterative
def llm_emb_pca(spark, sf_dir):
    """PCA projection of every embedding onto the top-8 principal
    components — the dimension-reduction / whitening stage between raw
    embeddings and the PQ/IVF index family (an OPQ-style rotation is
    this op with a per-subspace permutation on top). Rows-only (LAPACK
    eigenvectors are engine-specific floats); pytest checks the
    projection against numpy PCA on the same quantized matrix, and the
    oracled twin llm_emb_pca_variance gates the explained-variance
    claim cross-engine.

    Output shape: the projection is emitted as SCALAR double columns
    pc_0..pc_7 (not an array column) — the driver canonicalizes every
    query via toPandas().sort_values, which cannot factorize ndarray
    cells (CORRECTNESS_r09's only red record; VERDICT r9 item 1). The
    atomic-output discipline is now enforced repo-wide by
    tools/plan_audit's driver-shape gate.

    Scale: the sufficient statistics (64 colsums + 64×64 Gram) are
    exact-integer tree-reduced corpus passes whose driver collect is
    bounded by d² (2080 rows), NEVER corpus-sized; the eigh runs on a
    64×64 driver-side matrix; the projection itself is a map-only
    Arrow-batched matmul with the (8×64) component matrix shipped in
    the task closure. Nothing corpus-proportional moves to the driver
    or broadcasts."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    n, colsum, gram = _emb_exact_moments(spark, sf_dir)
    comps, _, _ = _pca_components(n, colsum, gram)
    mu = np.asarray(colsum, dtype=np.float64) / n  # quantized-space mean
    w_t = comps.T  # 64 x 8

    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        F.expr(
            "transform(embedding, v -> CAST(round(v * 1000000, 0) AS BIGINT))"
        ).alias("q"),
    )
    schema = StructType(
        [StructField("vec_id", LongType())]
        + [StructField(f"pc_{i}", DoubleType()) for i in range(_PCA_K)]
    )

    def project(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.array(pdf["q"].tolist(), dtype=np.float64)
            y = np.round((mat - mu) @ w_t / 1e6, 6)  # back to embedding units
            out = {"vec_id": pdf["vec_id"]}
            for i in range(_PCA_K):
                out[f"pc_{i}"] = y[:, i]
            yield pd.DataFrame(out)

    return q.mapInPandas(project, schema).orderBy("vec_id")


@query(
    "llm_emb_pca_variance",
    # Honesty twin (the ml_kmeans_quality pattern): total centered
    # variance is EXACTLY computable on both engines from integer power
    # sums — n·Σq²−(Σq)² per dim in 128-bit-capable arithmetic — while
    # the top-8 eigenvalue mass is engine-float; the flag pins the
    # genuinely computed explained ratio above 0.14 (measured: 0.2035 at
    # 500 vecs, 0.1598 at 2000 — comfortably over the 8/64 = 0.125
    # isotropic floor, i.e. PCA is extracting real structure).
    oracle="""
    WITH q AS (
      SELECT vec_id, u.i - 1 AS dim,
             CAST(round(embedding[u.i] * 1000000) AS BIGINT) AS q
      FROM embeddings, unnest(range(1, 65)) AS u(i)
    ), per AS (
      SELECT dim, COUNT(*) AS n,
             CAST(SUM(q) AS HUGEINT) AS sq,
             CAST(SUM(CAST(q AS HUGEINT) * q) AS HUGEINT) AS sqq
      FROM q GROUP BY dim
    ), terms AS (
      SELECT n, CAST(CAST(n AS HUGEINT) * sqq - sq * sq AS DECIMAL(38,0)) AS term
      FROM per
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_vectors,
           8 AS n_components,
           round(CAST(CAST(SUM(term) AS VARCHAR) AS DOUBLE)
                 / MAX(n) / MAX(n) / 1e12, 6) AS total_variance,
           TRUE AS explained_top8_ge_014
    FROM terms
    """,
)
def llm_emb_pca_variance(spark, sf_dir):
    """Cross-engine gate for llm_emb_pca: the total (population) centered
    variance of the quantized embedding matrix, computed EXACTLY via the
    n·Σq²−(Σq)² power-sum identity in DECIMAL(38,0)/HUGEINT on both
    engines, plus a genuinely computed flag that the top-8 eigenvalue
    mass explains ≥ 14 % of it (vs the 12.5 % isotropic floor). Exact
    trace == Σ eigenvalues is also asserted in pytest, so a Gram/colsum
    bug breaks BOTH the driver hash (total_variance) and the flag."""
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings")
    d38 = "decimal(38,0)"
    per = (
        e.select(
            F.posexplode(
                F.expr(
                    "transform(embedding, v -> CAST(round(v * 1000000, 0) AS BIGINT))"
                )
            ).alias("dim", "q")
        )
        .groupBy("dim")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("q").cast(d38)).alias("sq"),
            F.sum(F.col("q").cast(d38) * F.col("q")).alias("sqq"),
        )
    )
    terms = per.select(
        "n",
        (F.col("n").cast(d38) * F.col("sqq") - F.col("sq") * F.col("sq"))
        .cast(d38)
        .alias("term"),
    )
    tot = terms.agg(
        F.max("n").cast("long").alias("n_vectors"),
        F.sum("term").alias("t"),
        F.max("n").alias("nn"),
    )
    n, colsum, gram = _emb_exact_moments(spark, sf_dir)
    _, eigvals, trace = _pca_components(n, colsum, gram)
    ratio = float(np.sum(eigvals) / trace)
    return tot.select(
        "n_vectors",
        F.lit(8).cast("int").alias("n_components"),
        F.round(
            d2d(F.col("t")) / F.col("nn") / F.col("nn") / F.lit(1e12), 6
        ).alias("total_variance"),
        F.lit(bool(ratio >= 0.14)).alias("explained_top8_ge_014"),
    )


# 32-bit sign signature over axis-difference hyperplanes (the
# llm_sim_ann_lsh projection family applied as a dedup key): bit j is
# sign(embedding[2j-1] − embedding[2j]).  Near-identical duplicates
# (perturbation ≪ typical coordinate gaps) share all 32 signs unless a
# gap sits inside the perturbation band, so duplicate mass collapses to
# a handful of representatives per base vector, while distinct vectors
# almost never collide at 32 bits.  Pure comparisons on the shared
# parquet floats — no arithmetic — so Spark and DuckDB compute the
# identical signature and the dedup step stays oracle-expressible.
_SIGN_SIG = (
    "array_join(transform(sequence(1, 32), j -> CASE WHEN"
    " element_at(embedding, 2*j - 1) >= element_at(embedding, 2*j)"
    " THEN '1' ELSE '0' END), '')"
)

_SQL_SIGN_SIG = (
    "array_to_string(list_transform(range(1, 33), j -> CASE WHEN"
    " embedding[CAST(2*j - 1 AS INTEGER)] >= embedding[CAST(2*j AS INTEGER)]"
    " THEN '1' ELSE '0' END), '')"
)


def _dedup_reps(spark, sf_dir):
    """Min-vec_id representative per 32-bit sign signature — the
    dedup-before-index stage. One hash shuffle on the signature; the
    argmin is a map-side-combining min_by aggregate, never a window
    sort over the corpus."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return (
        e.groupBy(F.expr(_SIGN_SIG).alias("sig"))
        .agg(F.min_by(F.struct("vec_id", "embedding"), "vec_id").alias("r"))
        .select(
            F.col("r.vec_id").alias("vec_id"),
            F.col("r.embedding").alias("embedding"),
        )
    )


def _dedup_reps_materialized(spark, sf_dir):
    """The representative set, PERSISTED once per corpus (write-once):
    the dedup shuffle would otherwise re-run in every plan branch that
    needs the reps — index build, exact re-rank, and the recall twin's
    ground truth each scan it (code-review r9 finding #3: three
    corpus-wide shuffles per recall run at the 3 M-vector tier).
    Partitioned on vec_id so downstream joins start co-located."""
    return materialize_once(
        spark,
        _dedup_reps(spark, sf_dir),
        f"v1:dedup_reps:{sf_dir}",
        partition_col="vec_id",
        n_partitions=8,
    )


def _rep_corpus(spark, sf_dir):
    """The representative set with ``nsq`` — the :func:`_corpus` of the
    dedup-before-index pipelines (their queries still come from the raw
    corpus)."""
    return _dedup_reps_materialized(spark, sf_dir).withColumn(
        "nsq", dot("embedding", "embedding")
    )


def _pq_dedup_index(spark, sf_dir):
    """(cent, codes) of the flat-PQ index built over the DEDUPED corpus,
    persisted once per corpus (same write-once serving-layout rationale
    as :func:`_pq_index`, distinct cache token). The k-means init seeds
    from the _PQ_KSUB SMALLEST representative ids (:func:`_seed_ids`, a
    bounded TakeOrdered) — a fixed `vec_id < _PQ_KSUB` filter would
    silently under-seed when the corpus's low ids are near-duplicates of
    each other (code-review r9 finding #1)."""

    def build():
        en = _unit_corpus(spark, _dedup_reps_materialized(spark, sf_dir))
        return _pq_train_encode(en, _seed_ids(en))

    return materialize_parts_once(
        spark, f"v2:pq_dedup_index:{sf_dir}:{_PQ_TAG}", _PQ_PARTS, build
    )


@query("llm_index_build_pipeline")  # rows-only: k-means training is iterative
def llm_index_build_pipeline(spark, sf_dir):
    """Dedup-before-index ANN pipeline: near-dup collapse (32-bit sign
    signature, min-id representative) → flat-PQ codebook train + encode
    over the REPRESENTATIVES → ADC probe → exact-cosine re-rank, top-3
    per query. This registers BASELINE addendum 26's measured remedy as
    a first-class operator: on a duplicate-heavy corpus the flat global
    ADC pool degrades (recall@3 fell to 3/30 at the 100×-copies tier —
    aliased far vectors flood the top-32 pool inside the quantizer's
    resolution band), and collapsing duplicates FIRST restores the gate
    (recall_ge_40=TRUE at both failing tiers) while cutting the index
    build ~26× (k-means sees 2.3k representatives instead of 3M rows at
    1500×). tools/scale_smoke.py --ann pins that recall matrix as a
    permanent regression sentinel.

    Scale shape: the dedup stage is ONE hash shuffle on the signature
    key with a map-side-combining min_by (no window sort); everything
    downstream — train, encode, ADC probe — runs on the collapsed
    corpus, which is the whole economic argument for running the dedup
    family before the index family in a 100 TB corpus pipeline. Queries
    still probe from the RAW corpus (a deduped-away query finds its
    representative unless it IS the representative), and the exact
    re-rank scores original representative vectors. The gain is
    proportional to duplicate mass: at a 1.11x-dup corpus the pipeline
    is only ~1.1x on build and parity on probe (addendum 44) — a corpus
    known near-duplicate-free can keep the raw build."""
    cent, codes = _pq_dedup_index(spark, sf_dir)
    reps = _rep_corpus(spark, sf_dir)
    return _pq_probe(cent, codes, reps, _raw_queries(_corpus(spark, sf_dir)))


@query(
    "llm_index_build_pipeline_recall",
    # Honesty gate for the composed pipeline (the llm_sim_ann_pq_recall
    # pattern): codebooks are iterative-float and engine-specific, but
    # the dedup stage is pure float comparisons and the exact top-3 over
    # the representatives is not — DuckDB recomputes BOTH independently
    # and Spark reports a genuinely measured recall flag against them.
    # Measured: recall@3 = 0.60 at sf0.001 / 0.70 at sf0.01 vs the 0.40
    # threshold, and — the reason this op exists — the gate stays green
    # at the duplicate-heavy 100× and 1500× smoke tiers where flat PQ
    # without the dedup stage fails outright (BASELINE addendum 26).
    oracle=f"""
    WITH reps AS (
      SELECT vec_id, embedding FROM (
        SELECT vec_id, embedding,
               row_number() OVER (PARTITION BY {_SQL_SIGN_SIG}
                                  ORDER BY vec_id) AS rn
        FROM embeddings
      ) WHERE rn = 1
    ), n AS (
      SELECT vec_id, embedding, {sql_dot('embedding', 'embedding')} AS nsq
      FROM reps
    ), q AS (
      SELECT vec_id, embedding, {sql_dot('embedding', 'embedding')} AS nsq
      FROM embeddings WHERE vec_id < 10
    ), exact3 AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
      FROM q JOIN n e ON e.vec_id <> q.vec_id
      QUALIFY row_number() OVER (
          PARTITION BY q.vec_id
          ORDER BY {_sql_cosine(sql_dot('q.embedding', 'e.embedding'), 'q.nsq', 'e.nsq')}
                   DESC, e.vec_id ASC) <= 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
           CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
           TRUE AS recall_ge_40
    FROM exact3
    """,
)
def llm_index_build_pipeline_recall(spark, sf_dir):
    """Recall@3 of the dedup-before-index pipeline against brute-force
    exact top-3 over the deduped representatives — the driver-checkable
    form of the addendum-26 remedy measurement."""
    ann = llm_index_build_pipeline(spark, sf_dir).select("query_id", "neighbor_id")
    reps = _rep_corpus(spark, sf_dir)
    q = _probe_set(_corpus(spark, sf_dir))
    return _recall_metric(ann, reps, q, 0.4, "recall_ge_40")


def _ivfpq_dedup_index(spark, sf_dir):
    """(coded, cent, coarse) of the IVF-PQ index built over the DEDUPED
    corpus — the cell-routed extension of :func:`_pq_dedup_index`
    (VERDICT r9 item 5: addendum 30 showed IVF-PQ was the only expensive
    build left, 278 s at 3 M vectors vs the flat pipeline's 4.7 s,
    because BOTH quantizers — coarse k-means and residual-PQ Lloyd's —
    train on the raw corpus; over representatives both see only the
    collapsed set). Same persisted layout as :func:`_ivfpq_index`:
    ``coded`` PARTITIONED ON CELL ID so a probe's cell equi-join starts
    co-located. The residual-PQ init seeds from the _PQ_KSUB smallest
    REPRESENTATIVE ids (:func:`_ivfpq_build`; a fixed `vec_id < _PQ_KSUB`
    filter would under-seed when low ids dedup away — the same
    code-review r9 finding #1 that bit the flat dedup path)."""

    return materialize_parts_once(
        spark,
        f"v1:ivfpq_dedup_index:{sf_dir}:{_PQ_TAG}",
        _IVFPQ_PARTS,
        lambda: _ivfpq_build(
            spark, _unit_corpus(spark, _dedup_reps_materialized(spark, sf_dir))
        ),
    )


@query("llm_index_build_pipeline_ivfpq")  # rows-only: both quantizers iterate
def llm_index_build_pipeline_ivfpq(spark, sf_dir):
    """Dedup-before-index over the IVF-PQ composite: sign-signature
    collapse → coarse cells + residual-PQ codebooks trained and encoded
    over the REPRESENTATIVES → per-probed-cell ADC probe → exact-cosine
    re-rank against representatives, top-3 per query. Extends
    llm_index_build_pipeline to the billion-scale serving layout
    (FAISS IndexIVFPQ shape): cells bound the candidate count, PQ bounds
    bytes-per-candidate, and the dedup stage bounds what BOTH quantizers
    must train on — the expensive build addendum 30 measured (278 s at
    3 M vectors for raw IVF-PQ) collapses to representative-sized work.

    Scale shape: one hash shuffle for the dedup (map-side-combining
    min_by), then everything — coarse k-means, residual encode, the
    cell-partitioned code table — is representative-sized; the probe is
    an equi-join on cell id against broadcast per-cell ADC tables, and
    queries still come from the RAW corpus (a deduped-away query finds
    its representative unless it IS the representative).

    When dedup does NOT pay (addendum 44): at a 1.11x-duplicate corpus
    the build gain is only 1.11x (78.4 vs 87.3 s at 600 k vectors) and
    the probe is parity — the dedup shuffle's cost and the rows it
    removes roughly cancel, vs 38x/23x at the 1500x dup-heavy tier. A
    corpus KNOWN near-duplicate-free can keep the raw build; at unknown
    dup mass the stage is ~free insurance."""
    coded, cent, coarse = _ivfpq_dedup_index(spark, sf_dir)
    reps = _rep_corpus(spark, sf_dir)
    return _ivfpq_probe(
        coded, cent, coarse, reps, _raw_queries(_corpus(spark, sf_dir))
    )


@query(
    "llm_index_build_pipeline_ivfpq_recall",
    # Honesty gate for the dedup-IVF-PQ composite (the
    # llm_index_build_pipeline_recall pattern): both quantizers are
    # iterative-float and engine-specific, but the dedup stage and the
    # exact top-3 over representatives are not — DuckDB recomputes both
    # independently and Spark reports a genuinely measured recall flag
    # against them, at the IVF-PQ threshold (0.30: cell routing with
    # nprobe=2/8 bounds recall before codes matter, exactly as
    # llm_sim_ann_ivfpq_recall documents). Measured: recall@3 = 0.433 at
    # sf0.001 / 0.467 at sf0.01 (13/30 and 14/30) — identical to raw
    # IVF-PQ on these duplicate-free fixtures (the dedup stage collapses
    # nothing at 1×; its value shows at the duplicate-heavy smoke tiers,
    # where the sentinel matrix pins this op expected-green).
    oracle=f"""
    WITH reps AS (
      SELECT vec_id, embedding FROM (
        SELECT vec_id, embedding,
               row_number() OVER (PARTITION BY {_SQL_SIGN_SIG}
                                  ORDER BY vec_id) AS rn
        FROM embeddings
      ) WHERE rn = 1
    ), n AS (
      SELECT vec_id, embedding, {sql_dot('embedding', 'embedding')} AS nsq
      FROM reps
    ), q AS (
      SELECT vec_id, embedding, {sql_dot('embedding', 'embedding')} AS nsq
      FROM embeddings WHERE vec_id < 10
    ), exact3 AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
      FROM q JOIN n e ON e.vec_id <> q.vec_id
      QUALIFY row_number() OVER (
          PARTITION BY q.vec_id
          ORDER BY {_sql_cosine(sql_dot('q.embedding', 'e.embedding'), 'q.nsq', 'e.nsq')}
                   DESC, e.vec_id ASC) <= 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
           CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
           TRUE AS recall_ge_30
    FROM exact3
    """,
)
def llm_index_build_pipeline_ivfpq_recall(spark, sf_dir):
    """Recall@3 of the dedup-IVF-PQ pipeline against brute-force exact
    top-3 over the deduped representatives — the driver-checkable honesty
    metric for the cell-routed dedup-before-index composite."""
    ann = llm_index_build_pipeline_ivfpq(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    reps = _rep_corpus(spark, sf_dir)
    q = _probe_set(_corpus(spark, sf_dir))
    return _recall_metric(ann, reps, q, 0.3, "recall_ge_30")

# ---------------------------------------------------------------------------
# Round-10 additions: matryoshka truncation eval + incremental index add
# ---------------------------------------------------------------------------

def _dot_d(a: str, b: str, d: int) -> F.Column:
    """Exact quantized dot product over the first ``d`` dimensions — the
    :func:`dot` fold applied to array prefixes (matryoshka truncation)."""
    return (
        F.expr(
            _DOT.format(a=f"slice({a}, 1, {d})", b=f"slice({b}, 1, {d})")
        ).cast("double")
        / F.lit(1e12)
    )


def _sql_dot_d(a: str, b: str, d: int) -> str:
    """DuckDB twin of :func:`_dot_d` (range is end-exclusive)."""
    inner = (
        f"list_sum(list_transform(range(1, {d + 1}), i ->"
        f" CAST(round({a}[i] * 1000000) AS BIGINT)"
        f" * CAST(round({b}[i] * 1000000) AS BIGINT)))"
    )
    return f"(CAST({inner} AS DOUBLE) / 1e12)"


_MATRYOSHKA_DIMS = (8, 16, 32, 64)


def _matryoshka_oracle() -> str:
    full = f"""
    WITH n AS (
      SELECT vec_id, embedding, {sql_dot('embedding', 'embedding')} AS nsq
      FROM embeddings
    ), q AS (SELECT * FROM n WHERE vec_id < 10), full3 AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
      FROM q JOIN n e ON e.vec_id <> q.vec_id
      QUALIFY row_number() OVER (
          PARTITION BY q.vec_id
          ORDER BY {_sql_cosine(sql_dot('q.embedding', 'e.embedding'), 'q.nsq', 'e.nsq')}
                   DESC, e.vec_id ASC) <= 3
    )"""
    branches = []
    for d in _MATRYOSHKA_DIMS:
        dqq = _sql_dot_d("q.embedding", "q.embedding", d)
        dee = _sql_dot_d("e.embedding", "e.embedding", d)
        dqe = _sql_dot_d("q.embedding", "e.embedding", d)
        branches.append(f"""
    SELECT CAST({d} AS BIGINT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
           CAST(SUM(CASE WHEN f.query_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_found,
           round(SUM(CASE WHEN f.query_id IS NOT NULL THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 4) AS recall
    FROM (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
      FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
      JOIN embeddings e ON e.vec_id <> q.vec_id
      QUALIFY row_number() OVER (
          PARTITION BY q.vec_id
          ORDER BY {_sql_cosine(dqe, f'({dqq})', f'({dee})')} DESC,
                   e.vec_id ASC) <= 3
    ) t LEFT JOIN full3 f
      ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id""")
    return (
        full
        + "\n    UNION ALL".join(branches)
        + "\n    ORDER BY dim"
    )


@query("llm_emb_matryoshka_recall", oracle=_matryoshka_oracle())
def llm_emb_matryoshka_recall(spark, sf_dir):
    """Matryoshka truncation sweep (Kusupati et al., NeurIPS 2022 — MRL):
    recall@3 of exact cosine search over PREFIX-truncated embeddings
    (d = 8/16/32/64) against full-dimension exact top-3, for the 10-query
    eval set. The dimension-reduction eval every embedding-serving stack
    runs before committing to a truncated index tier: it answers "how
    many prefix dims buy how much recall" with measured numbers instead
    of folklore. Unlike the PCA family this is FULLY deterministic on
    both engines (no iterative training — prefix slicing + the exact
    quantized dot fold), so every row is hash-checked, d=64 doubling as
    a self-test row (recall = 1.0 by construction).

    Measured on the fixtures (hash-green at sf0.001 and sf0.01): recall
    = 0.10/0.10/0.23/1.0 and 0.10/0.0/0.10/1.0 at d=8/16/32/64 — the
    synthetic embeddings are ISOTROPIC random vectors, so prefix
    truncation carries ~chance recall below full dimension. That is the
    honest reading, not a defect: the op exists to MEASURE whether a
    corpus's embeddings have matryoshka structure (MRL-trained ones
    front-load variance; these don't), and the flat curve is exactly
    what it should report here — compare llm_emb_pca_variance, where
    the top-8 PCA mass (0.16-0.20) barely clears the 0.125 isotropic
    floor for the same reason.

    Scale shape (restructured r14, optimization round — results
    bit-identical, oracle unchanged): ONE broadcast-scored corpus pass
    computes the prefix dot folds for ALL dims per candidate pair, one
    query-keyed exchange feeds the four rank windows (same partitioning,
    so Catalyst plans a single shuffle with four in-partition sorts),
    and "found at dim d" collapses to comparing rank columns ON THE SAME
    ROW (candidate pairs are unique per (query_id, neighbor_id), so the
    old per-dim left-semi join against the full-dim top-3 is just
    rn_d<=3 AND rn_64<=3). The r10-r13 shape paid 4 corpus passes, 4
    keyless round-robin repartitions (each with its local
    sort-before-repartition), 4 sort-merge semi-joins and a checkpoint;
    plan went 12 parquet scans / 28 shuffle exchanges -> 2 scans / 4
    (plans/r14/llm_emb_matryoshka_recall_{before,after}.txt).
    Per-pair work is still a d-term exact integer fold per dim; nothing
    corpus-proportional shuffles beyond the top-3 windows per query."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # hash-repartition on vec_id for scoring parallelism: deterministic
    # (safe under task retry) and skips round-robin's sort-before-
    # repartition; the single scoring pass amortizes the one exchange.
    cand = e.repartition(spark.sparkContext.defaultParallelism, "vec_id")
    dims = _MATRYOSHKA_DIMS
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        *[
            _dot_d("embedding", "embedding", d).alias(f"q_nsq_{d}")
            for d in dims
        ],
    )
    pairs = (
        cand.select(
            "vec_id",
            "embedding",
            *[_dot_d("embedding", "embedding", d).alias(f"nsq_{d}") for d in dims],
        )
        .join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            *[
                _cosine(
                    _dot_d("q_emb", "embedding", d), f"q_nsq_{d}", f"nsq_{d}"
                ).alias(f"cos_{d}")
                for d in dims
            ],
        )
    )
    ranked = pairs.select(
        "query_id",
        "neighbor_id",
        *[
            F.row_number()
            .over(
                Window.partitionBy("query_id").orderBy(
                    F.col(f"cos_{d}").desc(), F.col("neighbor_id").asc()
                )
            )
            .alias(f"rn_{d}")
            for d in dims
        ],
    ).filter(F.least(*[F.col(f"rn_{d}") for d in dims]) <= 3)
    full_d = dims[-1]  # 64 = the full dimension; its top-3 is ground truth
    tall = ranked.select(
        F.col(f"rn_{full_d}").alias("rn_full"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).cast("long").alias("dim"),
                        F.col(f"rn_{d}").alias("rn"),
                    )
                    for d in dims
                ]
            )
        ).alias("s"),
    ).filter(F.col("s.rn") <= 3)
    return (
        tall.groupBy(F.col("s.dim").alias("dim"))
        .agg(
            F.count("*").cast("long").alias("n_exact_pairs"),
            F.sum(F.when(F.col("rn_full") <= 3, 1).otherwise(0))
            .cast("long")
            .alias("n_found"),
        )
        .select(
            "dim",
            "n_exact_pairs",
            "n_found",
            F.round(F.col("n_found") / F.col("n_exact_pairs"), 4).alias(
                "recall"
            ),
        )
        .orderBy("dim")
    )


# The incremental-add delta batch is vec_id < _INCR_SPLIT; the base
# corpus the frozen quantizer trains on is the rest.
_INCR_SPLIT = 100


def _ivf_incr_parts(spark, sf_dir):
    """(base_cells, delta_cells, centroids) of the INCREMENTALLY
    MAINTAINED IVF index: the coarse quantizer is trained on the base
    corpus only (vec_id >= _INCR_SPLIT) and FROZEN; the delta batch
    (vec_id < _INCR_SPLIT) is assigned to its nearest existing cell by a
    map-only broadcast argmin — no retrain, no re-encode of the base.
    This is the production delta-ingest path for a serving index: at
    100 TB a nightly batch appends to the cell-partitioned layout
    (write to the cell's directory) and the quantizer retrains only when
    drift monitoring (dq_psi_drift over the cell-population shares) says
    so. Base training + assignment persist write-once; the delta
    assignment is recomputed per call because the delta is the moving
    part."""
    from .clustering import _DIST_SQ

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base_cells, centroids = materialize_parts_once(
        spark,
        f"v1:ivf_incr_index:{sf_dir}:{_IVF_TAG}s{_INCR_SPLIT}",
        _IVF_PARTS,
        lambda: _train_ivf(spark, e.filter(F.col("vec_id") >= _INCR_SPLIT)),
    )
    # frozen-quantizer assignment of the delta: broadcast k centroids,
    # min-struct argmin (map-side combine, no sort)
    delta_scored = (
        e.filter(F.col("vec_id") < _INCR_SPLIT)
        .crossJoin(F.broadcast(centroids))
        .withColumn("dsq", F.expr(_DIST_SQ.format(a="embedding", b="centroid")))
    )
    delta_cells = (
        delta_scored.groupBy("vec_id")
        .agg(F.min(F.struct("dsq", "cluster")).alias("am"))
        .select("vec_id", F.col("am.cluster").alias("cell"))
    )
    return base_cells, delta_cells, centroids


@query("llm_index_incremental_add")  # rows-only: frozen k-means is iterative
def llm_index_incremental_add(spark, sf_dir):
    """Incremental IVF index maintenance: the per-cell population audit
    after a delta batch (vec_id < 100) is appended to an index whose
    coarse quantizer was trained on the base corpus (vec_id >= 100) and
    FROZEN. One row per cell: base count, added count, total, and the
    delta's share — the drift dashboard a serving deployment watches to
    decide when the quantizer must retrain (a cell absorbing a
    disproportionate delta share means the new data's distribution has
    moved off the trained centroids). Rows-only (k-means centroids are
    engine-specific floats); the oracled llm_index_incremental_add_recall
    twin gates that the frozen-quantizer index still SERVES: the eval
    queries live in the delta, so a lost or mis-assigned delta batch
    breaks its measured recall flag.

    Scale shape: base train/assignment persist write-once; the delta
    pass is map-only (k-row centroid broadcast + min-struct argmin);
    the audit is one k-row aggregate. Nothing corpus-proportional moves
    to the driver or re-trains per batch."""
    base_cells, delta_cells, _ = _ivf_incr_parts(spark, sf_dir)
    merged = base_cells.withColumn("is_delta", F.lit(0)).unionByName(
        delta_cells.withColumn("is_delta", F.lit(1))
    )
    return (
        merged.groupBy("cell")
        .agg(
            F.sum(1 - F.col("is_delta")).cast("long").alias("n_base"),
            F.sum("is_delta").cast("long").alias("n_added"),
            F.count("*").cast("long").alias("n_total"),
        )
        .select(
            F.col("cell").cast("long").alias("cell"),
            "n_base",
            "n_added",
            "n_total",
            F.round(F.col("n_added") / F.col("n_total"), 4).alias("delta_share"),
        )
        .orderBy("cell")
    )


@query(
    "llm_index_incremental_add_recall",
    # Honesty gate for the incremental path (the llm_sim_ann_ivf_recall
    # pattern): centroids are engine-specific, but the exact top-3 over
    # the FULL corpus is not — DuckDB recomputes it independently and
    # Spark reports a genuinely measured recall flag against it. The
    # eval queries (vec_id < 10) are INSIDE the delta, so this gate
    # specifically proves the frozen quantizer serves the appended
    # batch: recall measured 0.533 at sf0.001 (16/30) / 0.367 at sf0.01
    # (11/30) vs the 0.30 threshold (nprobe=2 of 8 routing bounds it,
    # exactly as the full-corpus IVF twin documents — the sf0.01 dip vs
    # full-corpus-trained IVF is the price of the frozen quantizer,
    # which is the honest trade this op exists to measure).
    oracle=f"""
    WITH n AS (
      SELECT vec_id, embedding, {sql_dot('embedding', 'embedding')} AS nsq
      FROM embeddings
    ), q AS (SELECT * FROM n WHERE vec_id < 10), exact3 AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
      FROM q JOIN n e ON e.vec_id <> q.vec_id
      QUALIFY row_number() OVER (
          PARTITION BY q.vec_id
          ORDER BY {_sql_cosine(sql_dot('q.embedding', 'e.embedding'), 'q.nsq', 'e.nsq')}
                   DESC, e.vec_id ASC) <= 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
           CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
           TRUE AS recall_ge_30
    FROM exact3
    """,
)
def llm_index_incremental_add_recall(spark, sf_dir):
    """Recall@3 of an IVF probe over the incrementally-extended index
    (frozen base quantizer + delta assigned map-only) against brute-force
    exact top-3 over the FULL corpus — the measured proof that the
    delta-ingest path serves queries without a retrain."""
    base_cells, delta_cells, centroids = _ivf_incr_parts(spark, sf_dir)
    e = _corpus(spark, sf_dir)
    cells = e.join(base_cells.unionByName(delta_cells), "vec_id")
    q = _probe_set(e)
    ann = _ivf_probe(cells, centroids, q).select("query_id", "neighbor_id")
    return _recall_metric(ann, e, q, 0.3, "recall_ge_30")


# Deterministic tombstone set for the index-delete ops: vec_id %
# SUBJECT_RESIDUE == 0, the repo's shared subject idiom
# (inc_subject_erasure erases user_id % SUBJECT_RESIDUE == 0) — the GDPR
# story crossing into the similarity family: an erased subject's vectors
# must drop out of ANN results too.  The constant lives in core.py so the
# two modules cannot drift (VERDICT r11 nit); tests pin the identity.
_TOMBSTONE_RESIDUE = SUBJECT_RESIDUE


def _is_tombstoned():
    return (F.col("vec_id") % _TOMBSTONE_RESIDUE) == 0


def _survivor_recall_metric(ann, survivors, q):
    """(n_exact_pairs, n_queries, n_deleted_surfaced, recall_ge_30) of
    tombstone-aware ANN results against exact top-3 over the SURVIVOR
    corpus — shared by the logical (filtered-probe), physical
    (compacted-cells) and retrained delete twins so the metric contract
    cannot diverge between them (code-review r11)."""
    return _recall_metric(
        ann,
        survivors,
        q,
        0.3,
        "recall_ge_30",
        extra=lambda a: a.filter(
            (F.col("neighbor_id") % _TOMBSTONE_RESIDUE) == 0
        ).agg(F.count("*").cast("long").alias("n_deleted_surfaced")),
    )


# One oracle text for both delete twins — exact top-3 over survivors,
# structural zero for surfaced-deleted, measured-flag TRUE expectation.
_SURVIVOR_RECALL_ORACLE = f"""
    WITH n AS (
      SELECT vec_id, embedding, {sql_dot('embedding', 'embedding')} AS nsq
      FROM embeddings WHERE vec_id % {_TOMBSTONE_RESIDUE} <> 0
    ), q AS (SELECT * FROM n WHERE vec_id < 10), exact3 AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
      FROM q JOIN n e ON e.vec_id <> q.vec_id
      QUALIFY row_number() OVER (
          PARTITION BY q.vec_id
          ORDER BY {_sql_cosine(sql_dot('q.embedding', 'e.embedding'), 'q.nsq', 'e.nsq')}
                   DESC, e.vec_id ASC) <= 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
           CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
           CAST(0 AS BIGINT) AS n_deleted_surfaced,
           TRUE AS recall_ge_30
    FROM exact3
    """


@query("llm_index_tombstone_probe")  # rows-only: k-means cells are iterative
def llm_index_tombstone_probe(spark, sf_dir):
    """Index DELETES without a rebuild — the per-cell tombstone audit
    that closes the serving-index lifecycle (build → incremental add →
    delete, VERDICT r10 item 3). The persisted IVF index is NOT
    rewritten: deletes are a tombstone id-set applied as a filter at the
    probe layer (exactly how FAISS IDSelector / Lucene live-docs /
    Milvus delta deletes serve), and this audit is the dashboard a
    deployment watches to decide when accumulated tombstones justify a
    cell compaction (a cell whose live fraction has collapsed wastes
    probe work scanning dead vectors). One row per cell: total, dead,
    live, dead share. Tombstones = vec_id % SUBJECT_RESIDUE == 0 (97,
    core.py), the same subject
    idiom inc_subject_erasure deletes — erased subjects leave the ANN
    surface without touching the write-once index files. Rows-only
    (k-means cells are engine-specific); the oracled
    llm_index_tombstone_probe_recall twin proves the filtered probe
    still serves AND that no tombstoned id ever surfaces.

    Scale shape: the tombstone set joins the cell assignment as one
    hash semi/anti join (at 100 TB the set is a bloom-filter broadcast
    or a cell-partitioned sidecar — same plan either way); the audit is
    a k-row aggregate. Nothing rewrites the index."""
    assigned, _ = _ivf_index(spark, sf_dir)
    return (
        assigned.withColumn(
            "dead", F.when(_is_tombstoned(), 1).otherwise(0)
        )
        .groupBy("cell")
        .agg(
            F.count("*").cast("long").alias("n_total"),
            F.sum("dead").cast("long").alias("n_tombstoned"),
            (F.count("*") - F.sum("dead")).cast("long").alias("n_live"),
        )
        .select(
            F.col("cell").cast("long").alias("cell"),
            "n_total",
            "n_tombstoned",
            "n_live",
            F.round(F.col("n_tombstoned") / F.col("n_total"), 4).alias(
                "dead_share"
            ),
        )
        .orderBy("cell")
    )


@query(
    "llm_index_tombstone_probe_recall",
    # Honesty gate for the tombstone path: DuckDB recomputes the exact
    # top-3 over the SURVIVOR corpus only (tombstoned ids excluded from
    # both the candidate set and, as erased subjects, the query set),
    # and asserts the structural zero: no deleted id may surface in ANN
    # results. Spark emits a genuinely measured recall flag of the
    # tombstone-filtered IVF probe against that ground truth plus the
    # actually-counted surfaced-deleted total — a probe layer that lost
    # its tombstone filter breaks the hash on n_deleted_surfaced; a
    # filter applied so badly it guts recall breaks the flag. Measured
    # margin (ADVICE r3 discipline): recall@3 = 0.444 at sf0.001 (12/27)
    # / 0.481 at sf0.01 (13/27) vs the 0.30 threshold — ~1.5× headroom,
    # in line with the undeleted IVF twin's nprobe=2-of-8 ≈ 0.5.
    oracle=_SURVIVOR_RECALL_ORACLE,
)
def llm_index_tombstone_probe_recall(spark, sf_dir):
    """Recall@3 of the tombstone-filtered IVF probe against brute-force
    exact top-3 over the SURVIVORS, plus the measured count of deleted
    ids that surfaced (must be zero) — the proof that erased subjects
    drop out of ANN serving while recall holds for everyone else. The
    query set also excludes tombstoned ids (erased subjects don't
    query). Same frozen, persisted quantizer as llm_sim_ann_ivf — the
    index trained BEFORE the deletes, which is the production order."""
    survivors = _corpus(spark, sf_dir).filter(~_is_tombstoned())
    assigned, centroids = _ivf_index(spark, sf_dir)
    # serving-layer delete: the live candidate set is the cell assignment
    # minus the tombstone set — the write-once index files are untouched
    live_cells = survivors.join(assigned, "vec_id")
    q = _probe_set(survivors)
    ann = _ivf_probe(live_cells, centroids, q).select("query_id", "neighbor_id")
    return _survivor_recall_metric(ann, survivors, q)


# Pytest hook for llm_index_compact_cells: [warehouse, pre-compaction
# per-cell file snapshot] of the most recent run.
_LAST_COMPACT_WH: list = []


@query("llm_index_compact_cells")  # rows-only: k-means cells are iterative
def llm_index_compact_cells(spark, sf_dir):
    """Cell compaction — the ACTION the tombstone audit motivates, and
    the final state of the index lifecycle (build → add → delete →
    compact): when a cell's accumulated tombstones justify it, its
    physical partition is rewritten with only the live rows, so probes
    stop scanning dead vectors and the runtime tombstone filter becomes
    a no-op for that cell. The serving table is laid out PARTITIONED ON
    CELL ID, so compaction is a DYNAMIC partition overwrite of exactly
    the affected cells — untouched cells keep their original files
    (pytest pins the file lists), the same O(affected-partition)
    rewrite discipline as inc_subject_erasure's subject buckets, now on
    the ANN side of the GDPR story. Fully-dead cells get an explicit
    partition drop. The audit reads n_after back from the REWRITTEN
    warehouse, so a compaction that lost live rows or kept dead ones
    breaks it. Rows-only (k-means cells engine-specific); the oracled
    llm_index_compact_cells_recall twin proves the compacted index
    serves with NO runtime filter and never surfaces a deleted id.

    At 100 TB: compaction cost is O(affected cells' live rows) — the
    policy knob is the dead-share threshold (here: any dead row, so the
    fixture genuinely rewrites); nothing corpus-proportional moves, and
    the write is the same staged dynamic overwrite a table format's
    DELETE compiles to."""
    import os
    import shutil

    assigned, _ = _ivf_index(spark, sf_dir)
    before = assigned.groupBy("cell").agg(
        F.count("*").alias("n_before"),
        F.sum(F.when(_is_tombstoned(), 1).otherwise(0)).alias("n_tombstoned"),
    )
    # compaction policy: rewrite any cell holding dead rows (threshold 0 —
    # production would gate on dead_share; the audit is the same either way)
    affected = before.filter(F.col("n_tombstoned") > 0).select("cell")
    # live rows come from the PERSISTED assignment (a different path),
    # never from re-reading `wh` itself — overwriting a path that is
    # also the plan's input is the classic torn-rewrite hazard, and the
    # erasure op's discipline (rewrite from source, read back only to
    # audit) applies verbatim here
    live = (
        assigned.join(F.broadcast(affected), "cell", "left_semi")
        .filter(~_is_tombstoned())
        .select("vec_id", "cell")
    )
    with scratch("etl_ivf_compact_") as root:
        wh = os.path.join(root, "cells_by_cell")
        assigned.write.partitionBy("cell").mode("overwrite").parquet(wh)
        snap = {
            d: sorted(
                f for f in os.listdir(os.path.join(wh, d)) if f.endswith(".parquet")
            )
            for d in os.listdir(wh)
            if d.startswith("cell=")
        }
        _LAST_COMPACT_WH.clear()
        _LAST_COMPACT_WH.extend([wh, snap])
        live.write.partitionBy("cell").mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(wh)
        # fully-dead cells emit zero rows into the dynamic overwrite → stale
        # files need an explicit partition drop (≤k cells, bounded read)
        for r in before.filter(F.col("n_before") == F.col("n_tombstoned")).collect():
            shutil.rmtree(os.path.join(wh, f"cell={int(r['cell'])}"), ignore_errors=True)
        after = (
            spark.read.option("basePath", wh)
            .parquet(wh)
            .groupBy("cell")
            .agg(F.count("*").alias("n_after"))
        )
        audit = before.join(after, "cell", "left").select(
            F.col("cell").cast("long").alias("cell"),
            F.col("n_before").cast("long").alias("n_before"),
            F.col("n_tombstoned").cast("long").alias("n_tombstoned"),
            F.coalesce(F.col("n_after"), F.lit(0)).cast("long").alias("n_after"),
            (F.col("n_tombstoned") > 0).alias("compacted"),
        ).localCheckpoint(eager=True)
    return audit.orderBy("cell")


@query(
    "llm_index_compact_cells_recall",
    # Same survivor ground truth as the tombstone twin: after a physical
    # compaction the probe runs with NO runtime tombstone filter, yet no
    # deleted id may surface (they are gone from the cells) and recall
    # vs the survivor exact top-3 must hold. Identical candidate set to
    # the filtered probe ⇒ same measured recall (0.444/0.481 at
    # sf0.001/0.01 vs the 0.30 gate).
    oracle=_SURVIVOR_RECALL_ORACLE,
)
def llm_index_compact_cells_recall(spark, sf_dir):
    """Recall@3 of a probe over the PHYSICALLY COMPACTED cells — no
    runtime tombstone filter anywhere in the plan — against exact top-3
    over the survivors, plus the measured count of deleted ids that
    surfaced (structurally zero only if compaction really removed
    them). The physical-delete proof to the tombstone twin's
    logical-delete proof."""
    e = _corpus(spark, sf_dir)
    assigned, centroids = _ivf_index(spark, sf_dir)
    # in-plan compaction result: live assignment only (equivalent to the
    # compacted warehouse llm_index_compact_cells writes; recomputed here
    # so this op needs no cross-op temp-dir handshake)
    compacted = assigned.filter(~_is_tombstoned())
    cells = e.join(compacted, "vec_id")  # dead ids drop out of the join
    survivors = e.filter(~_is_tombstoned())
    q = _probe_set(survivors)
    ann = _ivf_probe(cells, centroids, q).select("query_id", "neighbor_id")
    return _survivor_recall_metric(ann, survivors, q)


def _ivf_dedup_index(spark, sf_dir):
    """(assignment, centroids) of the IVF-Flat coarse quantizer trained
    over the DEDUPED corpus — the last index family to get the
    dedup-before-index treatment (flat PQ: r9; IVF-PQ: this round's
    addendum 39; raw IVF-Flat's 3 M-vector k-means cost 131.8 s in the
    same run). Same persisted write-once layout as :func:`_ivf_index`,
    distinct cache token."""
    return materialize_parts_once(
        spark,
        f"v1:ivf_dedup_index:{sf_dir}:{_IVF_TAG}",
        _IVF_PARTS,
        lambda: _train_ivf(spark, _dedup_reps_materialized(spark, sf_dir)),
    )


@query("llm_index_build_pipeline_ivf")  # rows-only: k-means training is iterative
def llm_index_build_pipeline_ivf(spark, sf_dir):
    """Dedup-before-index over IVF-Flat: sign-signature collapse →
    coarse k-means over the REPRESENTATIVES → nprobe=2 cell-routed
    EXACT-cosine search within representative cells, top-3 per query.
    Completes the dedup-before-index matrix: every quantized/celled
    index family (flat PQ, IVF-PQ, IVF-Flat) now has a composed form
    whose training cost is representative-sized — on a duplicate-heavy
    corpus that is the difference between minutes of k-means and
    seconds (addendum 41 measures this family at both pinned tiers).

    Scale shape: one hash shuffle for the dedup; k-means and the cell
    assignment are representative-sized; the probe is the shared
    _ivf_probe equi-join (broadcast queries, exact in-cell cosine) over
    the collapsed candidate set. Queries come from the RAW corpus.
    Gain is proportional to duplicate mass — at 1.11x dup the pipeline
    is ~parity with the raw build (addendum 44); skip the stage only
    when the corpus is KNOWN near-duplicate-free."""
    reps = _rep_corpus(spark, sf_dir)
    assigned, centroids = _ivf_dedup_index(spark, sf_dir)
    cells = reps.join(assigned, "vec_id")
    q = _probe_set(_corpus(spark, sf_dir))
    return _ivf_probe(cells, centroids, q)


@query(
    "llm_index_build_pipeline_ivf_recall",
    # Honesty gate (the llm_index_build_pipeline_recall pattern, at the
    # IVF threshold): the dedup stage and the exact top-3 over
    # representatives are engine-independent — DuckDB recomputes both;
    # Spark reports a measured recall flag. Measured: recall@3 = 0.500
    # at sf0.001 (15/30) / 0.533 at sf0.01 (16/30) vs the 0.40 gate —
    # the same nprobe=2/8 routing bound as the raw IVF twin.
    oracle=f"""
    WITH reps AS (
      SELECT vec_id, embedding FROM (
        SELECT vec_id, embedding,
               row_number() OVER (PARTITION BY {_SQL_SIGN_SIG}
                                  ORDER BY vec_id) AS rn
        FROM embeddings
      ) WHERE rn = 1
    ), n AS (
      SELECT vec_id, embedding, {sql_dot('embedding', 'embedding')} AS nsq
      FROM reps
    ), q AS (
      SELECT vec_id, embedding, {sql_dot('embedding', 'embedding')} AS nsq
      FROM embeddings WHERE vec_id < 10
    ), exact3 AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
      FROM q JOIN n e ON e.vec_id <> q.vec_id
      QUALIFY row_number() OVER (
          PARTITION BY q.vec_id
          ORDER BY {_sql_cosine(sql_dot('q.embedding', 'e.embedding'), 'q.nsq', 'e.nsq')}
                   DESC, e.vec_id ASC) <= 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
           CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
           TRUE AS recall_ge_40
    FROM exact3
    """,
)
def llm_index_build_pipeline_ivf_recall(spark, sf_dir):
    """Recall@3 of the dedup-IVF-Flat pipeline against brute-force exact
    top-3 over the deduped representatives."""
    ann = llm_index_build_pipeline_ivf(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    reps = _rep_corpus(spark, sf_dir)
    q = _probe_set(_corpus(spark, sf_dir))
    return _recall_metric(ann, reps, q, 0.4, "recall_ge_40")


# ---------------------------------------------------------------------------
# SemDeDup: cluster-then-prune SEMANTIC dedup over the embedding corpus
# (round 12).  Abbas et al. 2023 ("SemDeDup: Data-efficient learning at
# web-scale through semantic deduplication") prune a training corpus by
# clustering embeddings and dropping all-but-one of each within-cluster
# near-duplicate group — the economics being that pairwise similarity is
# only ever computed INSIDE a cell, never corpus x corpus.  This engine's
# variant keeps that exact scale shape but replaces iterative k-means
# cells with DETERMINISTIC sign-projection cells (two independent 3-bit
# bands), which makes the whole operator — cells, pairs, drop decisions,
# audit — bit-reproducible in ANSI SQL, so the driver hash-checks the
# ACTUAL prune output, not just a recall flag (stronger than the
# rows-only-plus-twin contract the k-means index ops need).
#
# Projections: proj_j(v) = sum_i q(v_i) * w(i, j) with q the shared 6dp
# integer quantization (_DOT) and w(i, j) = ((i*m_j + j) % 7) - 3 — small
# deterministic integer weights, so the sum is exact int64 in both
# engines.  Band A = sign bits of j=0..bits-1, band B the next ``bits``.  A document is
# DROPPED iff an earlier-id document with cosine >= tau shares its cell
# in EITHER band (the anti-join form of SemDeDup's keep-one rule: one
# relational predicate, no sequential scan; it can drop a chain's later
# members whose own match was itself dropped — documented, deliberate,
# and identical in both engines).
#
# tau = 0.40 is FIXTURE-CALIBRATED: the synthetic embeddings are
# near-orthogonal (max pairwise cosine 0.513 at sf0.01), so the
# production-typical 0.95 would prune nothing and the driver record
# would be vacuous.  Measured at tau=0.40 (bits=3, the non-degenerate
# weight family): 22 docs dropped at sf0.01, 28 at sf0.001, band recall
# 0.373/0.424 vs the 0.30 gate.  On planted
# near-duplicate corpora (scale tiers) duplicates have cosine ~1 and
# agree on every sign bit, so band recall only rises with real dup mass.
_SEMDEDUP_TAU = 0.40
_SEMDEDUP_SWEEP_TAUS = (0.35, 0.40, 0.45, 0.50, 0.60)  # the sweep grid —
# ONE constant interpolated into the Spark body, the DuckDB oracle, and
# the pytest (code-review r12: three independent literals invite drift)
_SEMDEDUP_BITS = 3  # registered-op band width (8 cells/band) — the 100 TB
# knob: the scale tier runs the SAME projection family at
# bits ~ log2(corpus / 50) so per-cell quadratic work stays bounded as
# the corpus grows (SemDeDup's "clusters proportional to corpus" rule).
# Width trades recall for cost: a tau-pair co-locates per band with
# P(sign agreement)^bits, so wide bands keep only the near-1-cosine
# pairs — exactly the duplicates — while moderate-cosine recall decays;
# a deployment tuning for lower tau adds MORE, narrower bands (the
# MinHash-LSH band-count knob), which this family supports by taking
# further projection blocks (j >= 2*bits).


def _semdedup_multipliers(n: int) -> list[int]:
    """First ``n`` odd multipliers whose affine weight patterns are
    pairwise distinct AND non-degenerate: w(i, j) = ((i*m_j + j) % 7) - 3
    collides between two projections iff (m mod 7, j mod 7) coincide,
    and m ≡ 0 (mod 7) makes the pattern CONSTANT in i — a repeated (or,
    at w=0, frozen) sign bit that silently halves a wide band's cell
    count (code-review r12: the first greedy builder admitted m=7/21/...,
    giving identical bits at j=2/8/14 and an all-zero projection at
    j=45).  Excluding that residue leaves 6×7 = 42 distinct genuinely
    i-varying patterns — 21 bits/band, far past any band width this
    engine runs; wider bands need a wider weight modulus.  (The round-12
    first cut used fixed primes mod 5; that family caps even lower and
    repeats bits the same way.)"""
    if n > 42:
        raise ValueError(
            f"semdedup projection family supports at most 42 projections "
            f"(21 bits/band) — requested {n}; widen the weight modulus "
            "before widening further"
        )
    out, seen, m = [], set(), 3
    while len(out) < n:
        key = (m % 7, len(out) % 7)
        if m % 7 != 0 and key not in seen:
            seen.add(key)
            out.append(m)
        m += 2
    return out


_SEMDEDUP_M = tuple(_semdedup_multipliers(42))


def _semproj_spark(j: int) -> str:
    # folds the PRE-QUANTIZED qemb column (one round per element per row,
    # not one per projection — code-review r12), exact int64 throughout
    m = _SEMDEDUP_M[j]
    return (
        "aggregate(zip_with(qemb, transform(sequence(1, 64),"
        f" i -> ((i * {m} + {j}) % 7) - 3),"
        " (x, w) -> x * CAST(w AS BIGINT)),"
        " 0L, (acc, v) -> acc + v)"
    )


def _semproj_sql(j: int) -> str:
    m = _SEMDEDUP_M[j]
    return (
        "list_sum(list_transform(range(1, 65),"
        f" i -> CAST(round(embedding[i] * 1000000) AS BIGINT)"
        f" * (((i * {m} + {j}) % 7) - 3)))"
    )


def _semcell_spark(band: int, bits: int = _SEMDEDUP_BITS) -> str:
    """``bits``-bit band cell id from sign bits of projections
    bits*band .. bits*band+bits-1."""
    return " + ".join(
        f"(CASE WHEN {_semproj_spark(bits * band + b)} >= 0"
        f" THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    )


def _semcell_sql(band: int, bits: int = _SEMDEDUP_BITS) -> str:
    return " + ".join(
        f"(CASE WHEN {_semproj_sql(bits * band + b)} >= 0"
        f" THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    )


def _semdedup_corpus_banded(
    spark, sf_dir, bands: int, bits: int = _SEMDEDUP_BITS
):
    """(vec_id, qemb, nsq, cell_0 .. cell_{bands-1}) — the banded
    corpus at any band count.  ``bands`` is the MinHash-style b-knob
    (more, narrower bands → higher recall at lower tau — SURVEY §6.1's
    100 TB deployment shape); ``bits`` widens every band (more, smaller
    cells) — the corpus-growth knob.  Band i takes projections
    j = i*bits .. (i+1)*bits - 1, so band count is bounded by the
    42-projection weight family.  ``qemb`` is the 6dp integer
    quantization computed ONCE per row, so the pair join's dot folds
    pure int64 arrays instead of re-rounding both sides per candidate
    pair (the prune's hot path); values are bit-identical to dot() by
    construction (round is deterministic and applied to the same
    floats).

    Input contract, enforced LOUDLY (ADVICE r12 items 1+2; the oracle's
    cells CTE carries the same guards so both engines fail identically
    instead of silently diverging):

    - dim must be exactly 64 — the projection family folds a fixed
      64-weight sequence; a shorter array would null-pad under zip_with
      (Spark) but be NULL-skipped by list_sum (DuckDB), silently
      disagreeing on every cell id;
    - norms must be positive — a zero vector makes cosine 0/0 = NaN,
      and NaN >= tau is false in Spark/numpy but TRUE under DuckDB's
      total order, silently diverging on the drop set;
    - NULL embeddings are rejected by name (code-review r13: without
      the explicit branch, DuckDB's CASE null-propagates and the row
      silently vanishes from joins while Spark errors — the exact
      one-engine-silent divergence these guards exist to prevent)."""
    if bands * bits > 42:
        raise ValueError(
            f"semdedup: {bands} bands x {bits} bits needs {bands * bits}"
            " projections; the weight family supports at most 42"
        )
    df = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .withColumn(
            "qemb",
            F.expr(
                "CASE WHEN embedding IS NULL THEN"
                " raise_error('semdedup: NULL embedding')"
                " WHEN size(embedding) != 64 THEN"
                " raise_error(concat('semdedup: embedding dim must be 64,"
                " got ', CAST(size(embedding) AS STRING)))"
                " ELSE transform(embedding,"
                " x -> CAST(round(x * 1000000, 0) AS BIGINT)) END"
            ),
        )
        .withColumn(
            "nsq_raw",
            F.expr(_QDOT.format(a="qemb", b="qemb")).cast("double")
            / F.lit(1e12),
        )
        .withColumn(
            "nsq",
            F.when(F.col("nsq_raw") > 0, F.col("nsq_raw")).otherwise(
                F.expr(
                    "raise_error('semdedup: zero-norm embedding —"
                    " cosine would be NaN and the drop set would"
                    " silently diverge across engines')"
                )
            ),
        )
        .drop("nsq_raw")
    )
    for i in range(bands):
        df = df.withColumn(
            f"cell_{i}", F.expr(_semcell_spark(i, bits)).cast("long")
        )
    # one materialization shared by every consumer (the audit join +
    # all band passes would otherwise re-run all bands*bits projection
    # folds per scan — code-review r12); lineage truncation is the
    # repo's kmeans idiom
    return df.drop("embedding").localCheckpoint(eager=True)


def _semdedup_corpus(spark, sf_dir, bits: int = _SEMDEDUP_BITS):
    """(vec_id, qemb, nsq, cell_a, cell_b) — the registered two-band
    corpus, a rename of the banded builder's first two bands (band
    count generalized in round 13; the r12 ops and their pinned oracle
    texts keep the cell_a/cell_b names)."""
    return (
        _semdedup_corpus_banded(spark, sf_dir, bands=2, bits=bits)
        .withColumnRenamed("cell_0", "cell_a")
        .withColumnRenamed("cell_1", "cell_b")
    )


# int64-array pair dot over pre-quantized embeddings — same value as
# dot() exactly (one deterministic round per element either way).
_QDOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"
)


def _semdedup_dropped(
    e,
    cell_cols=("cell_a", "cell_b"),
    tau=_SEMDEDUP_TAU,
    block=4096,
):
    """Distinct vec_ids dropped by the banded earlier-id rule, over any
    number of band-cell columns (``cell_cols`` — the multi-band knob),
    at threshold ``tau``, with the GEMM tile edge ``block`` exposed so
    the tiling logic is unit-testable at tiny block sizes.

    Per band, the corpus groups by cell id (one hash shuffle — work is
    sum of cell sizes squared, the SemDeDup economics) and each cell
    runs the paper's own kernel: an exact int64 Gram matrix over the
    cell's quantized embeddings (numpy matmul — products <= ~1.6e13 and
    their 64-term sums <= ~1.1e15 sit far inside int64, and also inside
    double's 2^53 exact-integer range for the cast that follows).  The
    first cut expressed the pairing relationally with a zip_with/
    aggregate fold per candidate pair; Spark does not whole-stage-
    codegen higher-order functions, and that fold measured 45+ minutes
    at the 600 k dup-heavy tier where the blocked GEMM takes seconds —
    the applyInPandas escape hatch earning its keep on exactly the
    kernel the paper runs on GPUs.

    The tau comparison is on the RAW IEEE cosine (no 6dp rounding): the
    integer dot is exact in all three engines (JVM / numpy / DuckDB)
    and the cast, divide and sqrt are correctly-rounded IEEE ops, so
    the compared doubles are bit-identical everywhere — rounding-parity
    between JVM HALF_UP and numpy HALF_EVEN never enters the plan.
    Memory per task is one cell's ROWS (the bits knob bounds it) plus
    one 4096x4096 Gram tile: the kernel tiles BOTH the later-row and
    earlier-row sides (ADVICE r12 item 3 — the first cut tiled rows
    only, so a pathological mega-cell of n rows still allocated an
    O(4096*n) tile; now a mega-cell degrades to bounded square tiles
    with an early exit once a row is known dropped)."""
    import pandas as pd

    def cell_dropped(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        if len(pdf) < 2:
            return pd.DataFrame({"vec_id": np.empty(0, dtype=np.int64)})
        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        A = np.stack(pdf["qemb"].to_numpy()[order]).astype(np.int64)
        nsq = pdf["nsq"].to_numpy()[order].astype(np.float64)
        hits = []
        n = len(ids)
        for s0 in range(1, n, block):
            s1 = min(s0 + block, n)
            hit = np.zeros(s1 - s0, dtype=bool)
            for c0 in range(0, s1, block):
                if hit.all():
                    break  # every row in the block already dropped
                c1 = min(c0 + block, s1)
                g = (A[s0:s1] @ A[c0:c1].T).astype(np.float64) / 1e12
                cos = g / np.sqrt(np.outer(nsq[s0:s1], nsq[c0:c1]))
                earlier = (
                    np.arange(c0, c1)[None, :]
                    < np.arange(s0, s1)[:, None]
                )
                hit |= ((cos >= tau) & earlier).any(axis=1)
            hits.append(ids[s0:s1][hit])
        out = np.concatenate(hits) if hits else np.empty(0, dtype=np.int64)
        return pd.DataFrame({"vec_id": out.astype(np.int64)})

    pairs = None
    for col in cell_cols:
        p = (
            e.select(F.col(col).alias("jc"), "vec_id", "qemb", "nsq")
            .groupBy("jc")
            .applyInPandas(cell_dropped, schema="vec_id long")
        )
        pairs = p if pairs is None else pairs.unionAll(p)
    return pairs.distinct()


def _semdedup_cells_sql(
    cell_names: tuple, bits: int = _SEMDEDUP_BITS, source: str = "embeddings"
) -> str:
    """Guarded cells CTE body at any band count: band i's cell id is
    aliased ``cell_names[i]`` (the r12 two-band ops pin cell_a/cell_b).
    Carries the same loud dim/zero-norm guards as the Spark corpus
    builder (ADVICE r12 items 1+2) so a bad corpus fails in BOTH
    engines instead of silently diverging in one."""
    cells = ",\n           ".join(
        f"CAST({_semcell_sql(i, bits)} AS BIGINT) AS {name}"
        for i, name in enumerate(cell_names)
    )
    return f"""
    SELECT vec_id, embedding,
           CASE WHEN embedding IS NULL
                  THEN error('semdedup: NULL embedding')
                WHEN len(embedding) <> 64
                  THEN error('semdedup: embedding dim must be 64')
                WHEN {sql_dot('embedding', 'embedding')} <= 0
                  THEN error('semdedup: zero-norm embedding')
                ELSE {sql_dot('embedding', 'embedding')} END AS nsq,
           {cells}
    FROM {source}
"""


def _semdedup_dropped_sql(
    cell_names: tuple, tau: float = _SEMDEDUP_TAU, source: str = "cells"
) -> str:
    """Dropped-set CTE body over ``source`` (a cells-shaped relation):
    one earlier-id band pass per cell column, UNION ALL, DISTINCT."""
    passes = "\n      UNION ALL\n".join(
        f"""      SELECT b.vec_id AS b_id
      FROM {source} a JOIN {source} b
        ON a.{c} = b.{c} AND a.vec_id < b.vec_id
      WHERE {sql_dot('a.embedding', 'b.embedding')} / sqrt(a.nsq * b.nsq)
            >= {tau}"""
        for c in cell_names
    )
    return f"""
    SELECT DISTINCT b_id AS vec_id FROM (
{passes}
    )
"""


_SEMDEDUP_CELLS_SQL = _semdedup_cells_sql(("cell_a", "cell_b"))

_SEMDEDUP_DROPPED_SQL = _semdedup_dropped_sql(("cell_a", "cell_b"))


@query(
    "llm_semdedup",
    oracle=f"""
    WITH cells AS ({_SEMDEDUP_CELLS_SQL}),
    dropped AS ({_SEMDEDUP_DROPPED_SQL})
    SELECT c.cell_a AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(d.vec_id) AS BIGINT) AS n_dropped,
           CAST(COUNT(*) - COUNT(d.vec_id) AS BIGINT) AS n_kept
    FROM cells c LEFT JOIN dropped d ON c.vec_id = d.vec_id
    GROUP BY 1 ORDER BY 1
    """,
)
def llm_semdedup(spark, sf_dir):
    """SemDeDup-style semantic corpus pruning: deterministic two-band
    sign-projection cells route each document to 2 of 8 cells per band;
    within-cell exact cosine >= tau against any EARLIER id drops the
    later document; the audit reports per-cell retention (keyed by the
    band-A cell).  See the module comment above for why the cells are
    deterministic (full driver hash on the actual prune, not a flag)
    and why tau=0.40 on this fixture.

    Scale shape: one hash shuffle per band keyed on cell id, then the
    per-cell pairwise runs as a blocked int64 GEMM inside applyInPandas
    (see _semdedup_dropped — the SemDeDup paper's per-cluster kernel;
    the relational fold alternative measured 45+ min at the 600 k tier
    because Spark never codegens higher-order functions).  Candidate
    work is sum over cells of n_c^2, never corpus^2; at 100 TB the band
    width grows with the corpus (more sign bits -> more, smaller
    cells), the same knob as LSH band tuning, and the cell id becomes
    the shuffle AND storage partition key so each cell's quadratic
    stays in one task.  The drop set is a distinct on vec_id
    (dup-mass-proportional), and the audit a k-row aggregate.  Nothing
    iterates."""
    e = _semdedup_corpus(spark, sf_dir)
    dropped = _semdedup_dropped(e).withColumn("is_dropped", F.lit(1))
    return (
        e.join(dropped, "vec_id", "left")
        .groupBy(F.col("cell_a").alias("cell"))
        .agg(
            F.count("*").cast("long").alias("n_total"),
            F.sum(F.coalesce(F.col("is_dropped"), F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
            (F.count("*") - F.sum(F.coalesce(F.col("is_dropped"), F.lit(0))))
            .cast("long")
            .alias("n_kept"),
        )
        .orderBy("cell")
    )


@query(
    "llm_semdedup_recall",
    oracle=f"""
    WITH cells AS ({_SEMDEDUP_CELLS_SQL}),
    qual AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             (a.cell_a = b.cell_a OR a.cell_b = b.cell_b) AS in_band
      FROM cells a JOIN cells b ON a.vec_id < b.vec_id
      WHERE {sql_dot('a.embedding', 'b.embedding')} / sqrt(a.nsq * b.nsq)
            >= {_SEMDEDUP_TAU}
    ),
    dropped AS ({_SEMDEDUP_DROPPED_SQL})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_qualifying_pairs,
           CAST(SUM(CASE WHEN in_band THEN 1 ELSE 0 END) AS BIGINT)
             AS n_found_pairs,
           round(SUM(CASE WHEN in_band THEN 1 ELSE 0 END) / COUNT(*), 4)
             AS pair_recall,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM dropped) AS n_dropped,
           SUM(CASE WHEN in_band THEN 1 ELSE 0 END) >= 0.3 * COUNT(*)
             AS recall_ge_30
    FROM qual
    """,
)
def llm_semdedup_recall(spark, sf_dir):
    """Honesty twin of llm_semdedup with a fully MEASURED, fully
    hash-checked recall: because the cells are deterministic in both
    engines, DuckDB recomputes not just the brute-force tau-pair ground
    truth but the banded candidate set itself, so the driver hash pins
    the exact recall VALUE (0.3729 at sf0.01, 0.4242 at sf0.001 vs the
    0.30 gate), not merely a boolean — the strongest twin contract in
    the ANN family.  The all-pairs truth is fixture-scale measurement
    machinery only; the operator itself never leaves its cells."""
    e = _semdedup_corpus(spark, sf_dir)
    a = e.select(
        F.col("vec_id").alias("a_id"),
        F.col("qemb").alias("a_q"),
        F.col("nsq").alias("a_nsq"),
        F.col("cell_a").alias("a_ca"),
        F.col("cell_b").alias("a_cb"),
    )
    b = e.select(
        F.col("vec_id").alias("b_id"),
        F.col("qemb").alias("b_q"),
        F.col("nsq").alias("b_nsq"),
        F.col("cell_a").alias("b_ca"),
        F.col("cell_b").alias("b_cb"),
    )
    qual = (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .filter(
            (
                F.expr(_QDOT.format(a="a_q", b="b_q")).cast("double")
                / F.lit(1e12)
                / F.sqrt(F.col("a_nsq") * F.col("b_nsq"))
            )
            >= _SEMDEDUP_TAU
        )
        .select(
            (
                (F.col("a_ca") == F.col("b_ca"))
                | (F.col("a_cb") == F.col("b_cb"))
            ).alias("in_band")
        )
    )
    n_dropped = _semdedup_dropped(e).agg(
        F.count("*").cast("long").alias("n_dropped")
    )
    found = F.sum(F.when(F.col("in_band"), 1).otherwise(0))
    return (
        qual.agg(
            F.count("*").cast("long").alias("n_qualifying_pairs"),
            found.cast("long").alias("n_found_pairs"),
        )
        .join(n_dropped)
        .select(
            "n_qualifying_pairs",
            "n_found_pairs",
            F.round(
                F.col("n_found_pairs") / F.col("n_qualifying_pairs"), 4
            ).alias("pair_recall"),
            "n_dropped",
            (
                F.col("n_found_pairs") >= 0.3 * F.col("n_qualifying_pairs")
            ).alias("recall_ge_30"),
        )
    )


# ---------------------------------------------------------------------------
# Metadata-FILTERED vector search (round 12): top-k restricted to a
# predicate over a payload column — the "filtered search" every vector
# store serves (FAISS IDSelector / Milvus expr / pgvector WHERE /
# Qdrant payload filter).  Filters interact badly with IVF probing: a
# selective predicate empties most of a probed cell's candidates, so a
# fixed nprobe tuned for unfiltered search under-recalls.  The standard
# remedy is selectivity-aware probe widening, which this op implements:
# the fixture's label filter keeps ~10% of each cell, and the measured
# recall@3 with the unfiltered nprobe=2 is 0.467 at both fixtures vs
# 0.800 (sf0.001) / 0.667 (sf0.01) at the widened nprobe=4 — the
# documented reason this op probes 4 of 8 cells.
_FILTERED_NPROBE = 4


def _ivf_probe_filtered(cells, centroids, q, nprobe=_FILTERED_NPROBE):
    """The shared `_ivf_probe` with the query's label pushed INTO the
    candidate join (cells must carry `label`, q must carry `q_label`):
    the predicate prunes candidates before cosine is ever computed,
    exactly where a cell-partitioned store would apply its payload
    filter during the inverted-list scan.  A thin parameterization of
    the ONE probe path, not a fork of it (code-review r12)."""
    return _ivf_probe(
        cells,
        centroids,
        q,
        nprobe=nprobe,
        q_extra=("q_label",),
        cand_pred=F.col("label") == F.col("q_label"),
    )


@query("llm_sim_ann_filtered")  # rows-only: k-means cells are iterative
def llm_sim_ann_filtered(spark, sf_dir):
    """Filtered ANN top-3: each query retrieves only neighbors whose
    `label` matches its own (same-category retrieval — the canonical
    payload-filter shape), probing the shared persisted IVF index with
    the selectivity-widened nprobe=4 (see the module comment above for
    the measured 2-vs-4 recall gap that sets it).  The filter is pushed
    into the inverted-list candidate join, never applied post-top-k —
    post-filtering a top-k computed unfiltered is the classic bug that
    silently returns < k rows.

    Scale shape: identical to llm_sim_ann_ivf — broadcast centroid
    scoring, hash equi-join on probed cell id — plus one conjunct on the
    payload column; at 100 TB the payload lives IN the cell-partitioned
    serving table (exactly how compact_cells lays it out), so the filter
    evaluates during the same scan, costing nothing extra.  Rows-only
    (k-means cells engine-specific); the oracled
    llm_sim_ann_filtered_recall twin hash-pins the zero-violation
    contract and gates recall against the exact filtered ground truth."""
    e = _corpus(spark, sf_dir, "label")
    assigned, centroids = _ivf_index(spark, sf_dir)
    cells = e.join(assigned, "vec_id")
    q = _probe_set(e, F.col("label").alias("q_label"))
    return _ivf_probe_filtered(cells, centroids, q)


@query(
    "llm_sim_ann_filtered_recall",
    # Honesty gate for the filtered probe: DuckDB recomputes the exact
    # same-label top-3 ground truth (pure SQL — the filter is relational
    # even though the cells are not) and asserts the structural zero: no
    # result may violate the label predicate.  Spark emits the genuinely
    # measured violation count and recall flag — a probe that lost its
    # filter pushdown breaks the hash on n_filter_violations; a widened
    # filter that gutted recall breaks the flag.  Measured margin:
    # recall@3 = 0.800 at sf0.001 / 0.667 at sf0.01 vs the 0.30
    # threshold (~2.2-2.7x headroom).
    oracle=f"""
    WITH n AS (
      SELECT vec_id, embedding, label,
             {sql_dot('embedding', 'embedding')} AS nsq
      FROM embeddings
    ), q AS (SELECT * FROM n WHERE vec_id < 10), exact3 AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
      FROM q JOIN n e ON e.vec_id <> q.vec_id AND e.label = q.label
      QUALIFY row_number() OVER (
          PARTITION BY q.vec_id
          ORDER BY {_sql_cosine(sql_dot('q.embedding', 'e.embedding'), 'q.nsq', 'e.nsq')}
                   DESC, e.vec_id ASC) <= 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
           CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
           CAST(0 AS BIGINT) AS n_filter_violations,
           TRUE AS recall_ge_30
    FROM exact3
    """,
)
def llm_sim_ann_filtered_recall(spark, sf_dir):
    """Recall@3 of the filtered IVF probe against the exact same-label
    top-3, plus the measured count of filter-violating results (must be
    zero) — the filtered-search analogue of the tombstone twin's
    n_deleted_surfaced contract."""
    e = _corpus(spark, sf_dir, "label")
    ann = llm_sim_ann_filtered(spark, sf_dir).select("query_id", "neighbor_id")
    q = _probe_set(e, F.col("label").alias("q_label"))

    def violations(a):
        return (
            a.join(
                e.select(F.col("vec_id").alias("neighbor_id"), "label"), "neighbor_id"
            )
            .join(q.select("query_id", "q_label"), "query_id")
            .filter(F.col("label") != F.col("q_label"))
            .agg(F.count("*").cast("long").alias("n_filter_violations"))
        )

    return _recall_metric(
        ann,
        e,
        q,
        0.3,
        "recall_ge_30",
        extra=violations,
        pred=F.col("label") == F.col("q_label"),
    )


# ---------------------------------------------------------------------------
# Cell REBALANCE (round 12): the index-lifecycle chapter after build ->
# incremental add -> delete -> compact.  Frozen-quantizer delta ingest
# (llm_index_incremental_add) deliberately never retrains, so a drifting
# corpus slowly overfills the cells nearest the drift — an oversized
# cell degrades every probe that touches it (candidate work is cell
# size).  Production indexes fix this locally: SPLIT the oversized cell
# with a tiny 2-means over just its members and serve the two halves as
# new inverted lists (FAISS re-trains globally; Milvus/Vespa-style
# segment managers and SPFresh's LIRE protocol split/merge locally —
# splitting is the cheap, incremental end of that spectrum).  Nothing
# corpus-proportional moves: train is O(cell), the rewrite touches only
# the split cell's partition (the compact_cells dynamic-overwrite
# discipline), and every other cell's files and centroid are untouched.
_REBALANCE_FACTOR = 1.10  # split cells above factor x mean occupancy —
# production would use ~2x target cell size; the fixture's k-means cells
# are well balanced (47-76 of mean 62.5), so the demonstrative threshold
# sits low enough to genuinely split 2 cells at both sf0.001 and sf0.01.
_REBALANCE_SPLIT_ITERS = 2


def _rebalanced_index(spark, sf_dir):
    """(cells, centroids) after splitting every cell whose occupancy
    exceeds _REBALANCE_FACTOR x mean — cells is (vec_id, cell,
    parent_cell), centroids is (cluster, centroid).  PERSISTED once per
    corpus with every training hyperparameter in the token (ADVICE r10:
    changed params must rebuild, not silently reuse)."""

    def build():
        from .clustering import kmeans_fit

        assigned, centroids = _ivf_index(spark, sf_dir)
        e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        sizes = assigned.groupBy("cell").count().collect()  # k rows
        mean = sum(r["count"] for r in sizes) / len(sizes)
        split_ids = sorted(
            int(r["cell"]) for r in sizes if r["count"] > _REBALANCE_FACTOR * mean
        )
        next_id = max(int(r["cell"]) for r in sizes) + 1
        keep_cells = assigned.filter(~F.col("cell").isin(split_ids)).select(
            "vec_id", "cell", F.col("cell").alias("parent_cell")
        )
        keep_cents = centroids.filter(~F.col("cluster").isin(split_ids))
        new_cells, new_cents = [keep_cells], [keep_cents]
        for c in split_ids:  # bounded by k — each split is O(cell) work
            members = e.join(
                assigned.filter(F.col("cell") == c).select("vec_id"), "vec_id"
            )
            sub, sub_cents = kmeans_fit(
                spark,
                members,
                k=2,
                iters=_REBALANCE_SPLIT_ITERS,
                init="first_k",
            )
            # sub-cluster 1 keeps the parent id (its centroid moves);
            # sub-cluster 2 becomes a NEW cell — ids stay dense and
            # deterministic (split cells processed in ascending order)
            remap = F.when(F.col("cluster") == 1, F.lit(c)).otherwise(
                F.lit(next_id)
            )
            new_cells.append(
                sub.select(
                    "vec_id",
                    remap.alias("cell"),
                    F.lit(c).cast("long").alias("parent_cell"),
                )
            )
            new_cents.append(
                sub_cents.select(remap.alias("cluster"), "centroid")
            )
            next_id += 1
        cells = new_cells[0]
        for df in new_cells[1:]:
            cells = cells.unionByName(df)
        cents = new_cents[0]
        for df in new_cents[1:]:
            cents = cents.unionByName(df)
        return (
            cells.select(
                "vec_id",
                F.col("cell").cast("long").alias("cell"),
                F.col("parent_cell").cast("long").alias("parent_cell"),
            ),
            cents.select(F.col("cluster").cast("long").alias("cluster"), "centroid"),
        )

    return materialize_parts_once(
        spark,
        f"v1:ivf_rebalance:{sf_dir}:{_IVF_TAG}"
        f":f{_REBALANCE_FACTOR}s2i{_REBALANCE_SPLIT_ITERS}",
        _IVF_PARTS,
        build,
    )


@query("llm_index_cell_rebalance")  # rows-only: k-means cells are iterative
def llm_index_cell_rebalance(spark, sf_dir):
    """Split-rebalance audit over the persisted IVF index: one row per
    POST-rebalance cell — its parent, occupancy, and whether it came out
    of a split — the dashboard a deployment reads after delta ingest to
    confirm occupancy is back under the probe-cost envelope.  See the
    module comment above for the lifecycle position and the local-split
    rationale; the audit reads the PERSISTED rebalanced assignment, so a
    split that lost or duplicated vectors is visible here and hash-fatal
    in the twin's conservation column.  Rows-only (k-means cells are
    engine-specific); the oracled llm_index_cell_rebalance_recall twin
    pins vector conservation exactly and gates recall on the rebalanced
    layout."""
    cells, _ = _rebalanced_index(spark, sf_dir)
    return (
        cells.groupBy("cell", "parent_cell")
        .agg(F.count("*").cast("long").alias("n_vectors"))
        .select(
            F.col("cell").cast("long").alias("cell"),
            F.col("parent_cell").cast("long").alias("parent_cell"),
            "n_vectors",
            (F.col("cell") != F.col("parent_cell")).alias("is_new_split"),
        )
        .orderBy("cell")
    )


@query(
    "llm_index_cell_rebalance_recall",
    # Honesty gate for the rebalanced layout: DuckDB pins the structural
    # invariant a split can actually break — vector CONSERVATION (the
    # rebalanced assignment must hold exactly the corpus, no row lost to
    # a remap bug, none double-assigned to both halves) — plus the exact
    # top-3 ground truth and the recall flag.  Spark emits the genuinely
    # measured conservation count and recall.  Measured margin:
    # recall@3 = 0.433 at sf0.001 / 0.567 at sf0.01 vs the 0.30
    # threshold (nprobe=2 of the now-10 cells — per-probe candidate work
    # DROPS after the split, and recall holds the unsplit index's band).
    oracle=f"""
    WITH n AS (
      SELECT vec_id, embedding, {sql_dot('embedding', 'embedding')} AS nsq
      FROM embeddings
    ), q AS (SELECT * FROM n WHERE vec_id < 10), exact3 AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
      FROM q JOIN n e ON e.vec_id <> q.vec_id
      QUALIFY row_number() OVER (
          PARTITION BY q.vec_id
          ORDER BY {_sql_cosine(sql_dot('q.embedding', 'e.embedding'), 'q.nsq', 'e.nsq')}
                   DESC, e.vec_id ASC) <= 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
           CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_assigned,
           TRUE AS recall_ge_30
    FROM exact3
    """,
)
def llm_index_cell_rebalance_recall(spark, sf_dir):
    """Recall@3 of an nprobe=2 probe over the REBALANCED cell layout
    against brute-force exact top-3, plus the measured size of the
    rebalanced assignment (hash-pinned to the corpus count — the
    conservation contract)."""
    e = _corpus(spark, sf_dir)
    cells_assign, cents = _rebalanced_index(spark, sf_dir)
    cells = e.join(cells_assign.select("vec_id", "cell"), "vec_id")
    q = _probe_set(e)
    ann = _ivf_probe(cells, cents, q).select("query_id", "neighbor_id")
    return _recall_metric(
        ann,
        e,
        q,
        0.3,
        "recall_ge_30",
        extra=lambda _: cells_assign.agg(
            F.count("*").cast("long").alias("n_assigned")
        ),
    )


@query(
    "llm_semdedup_sweep",
    oracle=f"""
    WITH cells AS ({_SEMDEDUP_CELLS_SQL}),
    mx AS (
      SELECT b_id, MAX(cos) AS max_cos FROM (
        SELECT b.vec_id AS b_id,
               {sql_dot('a.embedding', 'b.embedding')} / sqrt(a.nsq * b.nsq)
                 AS cos
        FROM cells a JOIN cells b
          ON a.cell_a = b.cell_a AND a.vec_id < b.vec_id
        UNION ALL
        SELECT b.vec_id AS b_id,
               {sql_dot('a.embedding', 'b.embedding')} / sqrt(a.nsq * b.nsq)
                 AS cos
        FROM cells a JOIN cells b
          ON a.cell_b = b.cell_b AND a.vec_id < b.vec_id
      ) GROUP BY b_id
    ), taus AS (
      SELECT CAST(unnest([{', '.join(str(t) for t in _SEMDEDUP_SWEEP_TAUS)}]) AS DOUBLE) AS tau
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM cells)
    SELECT t.tau,
           CAST(COUNT(m.b_id) AS BIGINT) AS n_dropped,
           CAST(ANY_VALUE(n.n_total) - COUNT(m.b_id) AS BIGINT) AS n_kept,
           round(COUNT(m.b_id) / ANY_VALUE(n.n_total), 4) AS drop_share
    FROM taus t CROSS JOIN n LEFT JOIN mx m ON m.max_cos >= t.tau
    GROUP BY t.tau ORDER BY t.tau
    """,
)
def llm_semdedup_sweep(spark, sf_dir):
    """Retention-vs-tau calibration curve for the SemDeDup prune — how
    the threshold gets CHOSEN before a fleet run (the
    llm_dedup_threshold_sweep discipline applied to the semantic
    family): per candidate tau, how many docs the banded earlier-id
    rule would drop and keep.  One per-doc MAX over in-band earlier
    cosines feeds every threshold row, so the sweep costs one banded
    pair pass regardless of how many taus it scores; zero-drop
    thresholds still emit rows (LEFT theta-join).  All comparisons are
    on the raw IEEE cosine over the shared qemb quantization — fully
    hash-checked in DuckDB like the main op.

    Calibration-scale form: the pair pass here folds pairs relationally
    (fixture cells are ~70 rows); a corpus-scale sweep reuses the GEMM
    kernel with per-row max emitted instead of a fixed-tau hit mask —
    same shuffle shape, same candidates."""
    e = _semdedup_corpus(spark, sf_dir)
    pairs = None
    for col in ("cell_a", "cell_b"):
        a = e.select(
            F.col(col).alias("jc"),
            F.col("vec_id").alias("a_id"),
            F.col("qemb").alias("a_q"),
            F.col("nsq").alias("a_nsq"),
        )
        b = e.select(
            F.col(col).alias("jc_b"),
            F.col("vec_id").alias("b_id"),
            F.col("qemb").alias("b_q"),
            F.col("nsq").alias("b_nsq"),
        )
        p = a.join(
            b,
            (F.col("jc") == F.col("jc_b")) & (F.col("a_id") < F.col("b_id")),
        ).select(
            "b_id",
            (
                F.expr(_QDOT.format(a="a_q", b="b_q")).cast("double")
                / F.lit(1e12)
                / F.sqrt(F.col("a_nsq") * F.col("b_nsq"))
            ).alias("cos"),
        )
        pairs = p if pairs is None else pairs.unionAll(p)
    mx = pairs.groupBy("b_id").agg(F.max("cos").alias("max_cos"))
    taus = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(t) for t in _SEMDEDUP_SWEEP_TAUS])
        ).alias("tau")
    )
    n_total = e.agg(F.count("*").cast("long").alias("n_total"))
    return (
        taus.crossJoin(F.broadcast(n_total))
        .join(F.broadcast(mx), F.col("max_cos") >= F.col("tau"), "left")
        .groupBy("tau", "n_total")
        .agg(F.count("max_cos").cast("long").alias("n_dropped"))
        .select(
            "tau",
            "n_dropped",
            (F.col("n_total") - F.col("n_dropped")).cast("long").alias("n_kept"),
            F.round(F.col("n_dropped") / F.col("n_total"), 4).alias(
                "drop_share"
            ),
        )
        .orderBy("tau")
    )


# ---------------------------------------------------------------------------
# Multi-band SemDeDup (round 13, VERDICT r12 item 6): the 100 TB
# deployment shape SURVEY §6.1 argues for.  A tau-pair co-locates per
# band with P(sign agreement)^bits, so at fixed total bit budget MORE,
# NARROWER bands trade cell size for recall — the MinHash b x r knob
# applied to the sign-projection family.  The registered op doubles the
# band count at the same width (4 bands x 3 bits = projections j=0..11,
# bands 0/1 IDENTICAL to the two-band op's A/B): every pair the 2-band
# rule catches is caught here too, so the drop set is a SUPERSET by
# construction — and because the cells are deterministic in both
# engines, the recall twin hash-pins the measured monotonicity
# (n_found_pairs >= n_found_pairs_2band) in the driver record itself,
# not just in a pytest.
_SEMDEDUP_BANDS = 4
_SEMDEDUP_BAND_COLS = tuple(f"cell_{i}" for i in range(_SEMDEDUP_BANDS))

_SEMDEDUP_BANDED_CELLS_SQL = _semdedup_cells_sql(_SEMDEDUP_BAND_COLS)

_SEMDEDUP_BANDED_DROPPED_SQL = _semdedup_dropped_sql(_SEMDEDUP_BAND_COLS)


@query(
    "llm_semdedup_bands",
    oracle=f"""
    WITH cells AS ({_SEMDEDUP_BANDED_CELLS_SQL}),
    dropped AS ({_SEMDEDUP_BANDED_DROPPED_SQL})
    SELECT c.cell_0 AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(d.vec_id) AS BIGINT) AS n_dropped,
           CAST(COUNT(*) - COUNT(d.vec_id) AS BIGINT) AS n_kept
    FROM cells c LEFT JOIN dropped d ON c.vec_id = d.vec_id
    GROUP BY 1 ORDER BY 1
    """,
)
def llm_semdedup_bands(spark, sf_dir):
    """SemDeDup prune at the multi-band operating point (4 bands x 3
    bits): per-band-0-cell retention audit, same contract as
    llm_semdedup — see the module comment above for the band-count
    knob's recall/cost trade and the superset-by-construction relation
    to the two-band op.

    Scale shape: identical to llm_semdedup times bands/2 — one hash
    shuffle per band keyed on that band's cell id, per-cell blocked
    int64 GEMM inside applyInPandas, a distinct on the drop set, a
    k-row audit aggregate.  Candidate work stays sum-of-cell-sizes
    squared per band; at 100 TB band count is the recall knob and bits
    the cell-size knob, tuned together exactly like MinHash b x r."""
    e = _semdedup_corpus_banded(spark, sf_dir, bands=_SEMDEDUP_BANDS)
    dropped = _semdedup_dropped(
        e, cell_cols=_SEMDEDUP_BAND_COLS
    ).withColumn("is_dropped", F.lit(1))
    return (
        e.join(dropped, "vec_id", "left")
        .groupBy(F.col("cell_0").alias("cell"))
        .agg(
            F.count("*").cast("long").alias("n_total"),
            F.sum(F.coalesce(F.col("is_dropped"), F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
            (F.count("*") - F.sum(F.coalesce(F.col("is_dropped"), F.lit(0))))
            .cast("long")
            .alias("n_kept"),
        )
        .orderBy("cell")
    )


@query(
    "llm_semdedup_bands_recall",
    oracle=f"""
    WITH cells AS ({_SEMDEDUP_BANDED_CELLS_SQL}),
    qual AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             ({' OR '.join(f'a.{c} = b.{c}' for c in _SEMDEDUP_BAND_COLS)})
               AS in_band,
             (a.cell_0 = b.cell_0 OR a.cell_1 = b.cell_1) AS in_band_2
      FROM cells a JOIN cells b ON a.vec_id < b.vec_id
      WHERE {sql_dot('a.embedding', 'b.embedding')} / sqrt(a.nsq * b.nsq)
            >= {_SEMDEDUP_TAU}
    ),
    dropped AS ({_SEMDEDUP_BANDED_DROPPED_SQL})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_qualifying_pairs,
           CAST(SUM(CASE WHEN in_band THEN 1 ELSE 0 END) AS BIGINT)
             AS n_found_pairs,
           CAST(SUM(CASE WHEN in_band_2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_found_pairs_2band,
           round(SUM(CASE WHEN in_band THEN 1 ELSE 0 END) / COUNT(*), 4)
             AS pair_recall,
           SUM(CASE WHEN in_band THEN 1 ELSE 0 END)
             >= SUM(CASE WHEN in_band_2 THEN 1 ELSE 0 END)
             AS monotone_vs_2band,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM dropped) AS n_dropped,
           SUM(CASE WHEN in_band THEN 1 ELSE 0 END) >= 0.3 * COUNT(*)
             AS recall_ge_30
    FROM qual
    """,
)
def llm_semdedup_bands_recall(spark, sf_dir):
    """Honesty twin of llm_semdedup_bands with the band-count claim
    hash-pinned: DuckDB recomputes the brute-force tau-pair truth, the
    4-band candidate set, AND the 2-band candidate set (bands 0/1 are
    the two-band op's A/B), so the driver record pins the exact 4-band
    recall value and the monotone_vs_2band flag — the measured form of
    §6.1's more-narrower-bands rule.  Measured at introduction (r13):
    pair recall 0.6515 at sf0.001 (43/66 vs 28/66 two-band) and 0.678
    at sf0.01 (40/59 vs 22/59) — doubling the band count lifts recall
    1.5-1.8x at this tau on the near-orthogonal fixture.  The all-pairs
    truth is fixture-scale measurement machinery only; the operator
    itself never leaves its cells."""
    e = _semdedup_corpus_banded(spark, sf_dir, bands=_SEMDEDUP_BANDS)
    a = e.select(
        F.col("vec_id").alias("a_id"),
        F.col("qemb").alias("a_q"),
        F.col("nsq").alias("a_nsq"),
        *[F.col(c).alias(f"a_{c}") for c in _SEMDEDUP_BAND_COLS],
    )
    b = e.select(
        F.col("vec_id").alias("b_id"),
        F.col("qemb").alias("b_q"),
        F.col("nsq").alias("b_nsq"),
        *[F.col(c).alias(f"b_{c}") for c in _SEMDEDUP_BAND_COLS],
    )
    in_band = None
    for c in _SEMDEDUP_BAND_COLS:
        clause = F.col(f"a_{c}") == F.col(f"b_{c}")
        in_band = clause if in_band is None else (in_band | clause)
    in_band_2 = (F.col("a_cell_0") == F.col("b_cell_0")) | (
        F.col("a_cell_1") == F.col("b_cell_1")
    )
    qual = (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .filter(
            (
                F.expr(_QDOT.format(a="a_q", b="b_q")).cast("double")
                / F.lit(1e12)
                / F.sqrt(F.col("a_nsq") * F.col("b_nsq"))
            )
            >= _SEMDEDUP_TAU
        )
        .select(in_band.alias("in_band"), in_band_2.alias("in_band_2"))
    )
    n_dropped = _semdedup_dropped(e, cell_cols=_SEMDEDUP_BAND_COLS).agg(
        F.count("*").cast("long").alias("n_dropped")
    )
    found = F.sum(F.when(F.col("in_band"), 1).otherwise(0))
    found2 = F.sum(F.when(F.col("in_band_2"), 1).otherwise(0))
    return (
        qual.agg(
            F.count("*").cast("long").alias("n_qualifying_pairs"),
            found.cast("long").alias("n_found_pairs"),
            found2.cast("long").alias("n_found_pairs_2band"),
        )
        .join(n_dropped)
        .select(
            "n_qualifying_pairs",
            "n_found_pairs",
            "n_found_pairs_2band",
            F.round(
                F.col("n_found_pairs") / F.col("n_qualifying_pairs"), 4
            ).alias("pair_recall"),
            (
                F.col("n_found_pairs") >= F.col("n_found_pairs_2band")
            ).alias("monotone_vs_2band"),
            "n_dropped",
            (
                F.col("n_found_pairs") >= 0.3 * F.col("n_qualifying_pairs")
            ).alias("recall_ge_30"),
        )
    )


# ---------------------------------------------------------------------------
# Composed corpus-prune pipeline (round 13, VERDICT r12 item 5): the
# dedup-before-index economics applied to SemDeDup itself.  Exact /
# sign-signature collapse runs FIRST (one hash shuffle, removes literal
# and near-literal duplicate mass), then the semantic prune runs over
# the REPRESENTATIVES — on a dup-heavy corpus the per-cell quadratic
# shrinks by the square of the collapse ratio, the same measured
# argument addendum 26 made for index builds.  Every stage here is
# deterministic (sign signature + sign-projection cells), so unlike the
# k-means pipelines BOTH pipeline ops are fully hash-checked — no
# rows-only step anywhere in the funnel.


@query(
    "llm_corpus_prune_pipeline",
    oracle=f"""
    WITH cells AS ({_SEMDEDUP_CELLS_SQL}),
    reps AS (
      SELECT vec_id FROM (
        SELECT vec_id,
               row_number() OVER (PARTITION BY {_SQL_SIGN_SIG}
                                  ORDER BY vec_id) AS rn
        FROM embeddings
      ) WHERE rn = 1
    ),
    rep_cells AS (
      SELECT c.* FROM cells c JOIN reps r ON c.vec_id = r.vec_id
    ),
    dropped AS ({_semdedup_dropped_sql(("cell_a", "cell_b"), source="rep_cells")})
    SELECT c.cell_a AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_raw,
           CAST(COUNT(r.vec_id) AS BIGINT) AS n_reps,
           CAST(COUNT(*) - COUNT(r.vec_id) AS BIGINT) AS n_exact_collapsed,
           CAST(COUNT(d.vec_id) AS BIGINT) AS n_sem_dropped,
           CAST(COUNT(r.vec_id) - COUNT(d.vec_id) AS BIGINT) AS n_kept
    FROM cells c
    LEFT JOIN reps r ON c.vec_id = r.vec_id
    LEFT JOIN dropped d ON c.vec_id = d.vec_id
    GROUP BY 1 ORDER BY 1
    """,
)
def llm_corpus_prune_pipeline(spark, sf_dir):
    """Composed corpus prune: sign-signature exact collapse → SemDeDup
    semantic prune over the representatives → per-cell retention
    funnel.  One row per band-A cell: raw docs routed there, exact-dup
    representatives, exact-collapsed count, semantically dropped count
    (among representatives), and the surviving training-set count.
    Fully hash-checked end to end (both stages deterministic).  On the
    near-orthogonal driver fixture the collapse stage is honestly a
    no-op (500 reps of 500 raw — no planted exact dups), so the funnel
    shows retention 0.956/0.944 at sf0.01/sf0.001 driven by the
    semantic stage alone; the collapse stage's economics are measured
    where they exist, on the dup-heavy 600 k tier
    (tools/scale_smoke.py --prune, BASELINE addendum).

    Scale shape: stage 1 is one hash shuffle on the 32-bit signature
    with a map-side-combining min_by; stage 2 is the semdedup kernel
    over the collapsed corpus — its per-cell quadratic work shrinks by
    the collapse ratio squared, which is the point of the composition
    (the dedup-before-index rule applied to pruning; measured at the
    600 k dup-heavy tier in tools/scale_smoke.py --prune).  The audit
    is a k-row aggregate over the checkpointed cells."""
    corpus = _semdedup_corpus(spark, sf_dir)
    # write-once materialized reps (code-review r13: the unmaterialized
    # form re-ran the corpus-wide signature shuffle once per consumer
    # branch — the exact r9 finding _dedup_reps_materialized fixes)
    reps = _dedup_reps_materialized(spark, sf_dir).select("vec_id")
    # r15 (optimization round; VERDICT r14 item 5): checkpoint the
    # collapsed corpus once — the semi-join was recomputed by Catalyst
    # for each of the two semdedup band passes (and would be again for
    # the per-cell funnel below); at 100 TB this IS the materialized
    # post-collapse corpus every downstream stage reads (guide §2.4).
    rep_corpus = (
        corpus.join(reps, "vec_id", "left_semi").localCheckpoint(eager=True)
    )
    dropped = _semdedup_dropped(rep_corpus)
    # Per-cell PRE-AGGREGATION replaces the corpus-wide funnel joins
    # (guide §2.3 — aggregate before you shuffle): the old shape LEFT-
    # joined is_rep and dropped onto every raw corpus row by vec_id
    # (two corpus-cardinality sort-merge joins feeding one groupBy);
    # counts are associative, so each funnel column aggregates to cell
    # cardinality first and the joins move k-row tables. The dropped
    # set re-attaches its cell via the checkpointed rep_corpus (a
    # dropped vec is a rep by construction, so the inner join loses
    # nothing). Every cell present in the corpus appears in n_raw, and
    # the left joins + coalesce(0) preserve cells with no reps/drops —
    # the emitted rows are identical.
    raw_c = corpus.groupBy(F.col("cell_a").alias("cell")).agg(
        F.count("*").cast("long").alias("n_raw")
    )
    reps_c = rep_corpus.groupBy(F.col("cell_a").alias("cell")).agg(
        F.count("*").cast("long").alias("n_reps0")
    )
    drop_c = (
        rep_corpus.select("vec_id", "cell_a")
        .join(dropped, "vec_id")
        .groupBy(F.col("cell_a").alias("cell"))
        .agg(F.count("*").cast("long").alias("n_sem_dropped0"))
    )
    zero = F.lit(0).cast("long")
    n_reps = F.coalesce(F.col("n_reps0"), zero)
    n_dropped = F.coalesce(F.col("n_sem_dropped0"), zero)
    return (
        raw_c.join(reps_c, "cell", "left")
        .join(drop_c, "cell", "left")
        .select(
            "cell",
            "n_raw",
            n_reps.alias("n_reps"),
            (F.col("n_raw") - n_reps).cast("long").alias("n_exact_collapsed"),
            n_dropped.alias("n_sem_dropped"),
            (n_reps - n_dropped).cast("long").alias("n_kept"),
        )
        .orderBy("cell")
    )


@query(
    "llm_corpus_prune_pipeline_audit",
    oracle=f"""
    WITH cells AS ({_SEMDEDUP_CELLS_SQL}),
    reps AS (
      SELECT vec_id FROM (
        SELECT vec_id,
               row_number() OVER (PARTITION BY {_SQL_SIGN_SIG}
                                  ORDER BY vec_id) AS rn
        FROM embeddings
      ) WHERE rn = 1
    ),
    rep_cells AS (
      SELECT c.* FROM cells c JOIN reps r ON c.vec_id = r.vec_id
    ),
    dropped AS ({_semdedup_dropped_sql(("cell_a", "cell_b"), source="rep_cells")})
    SELECT CAST((SELECT COUNT(*) FROM cells) AS BIGINT) AS n_raw,
           CAST((SELECT COUNT(*) FROM reps) AS BIGINT) AS n_reps,
           CAST((SELECT COUNT(*) FROM dropped) AS BIGINT) AS n_sem_dropped,
           CAST((SELECT COUNT(*) FROM reps)
                - (SELECT COUNT(*) FROM dropped) AS BIGINT) AS n_kept,
           round(((SELECT COUNT(*) FROM reps)
                  - (SELECT COUNT(*) FROM dropped))
                 / (SELECT COUNT(*) FROM cells), 4) AS retention_share,
           (SELECT COUNT(*) FROM reps)
             - (SELECT COUNT(*) FROM dropped) > 0 AS nonempty
    FROM (SELECT 1)
    """,
)
def llm_corpus_prune_pipeline_audit(spark, sf_dir):
    """Corpus-level funnel of the composed prune — the one-row
    retention contract a fleet run reads before committing the pruned
    corpus: raw count, exact representatives, semantic drops, survivors,
    retention share, and a non-empty guard (a prune that drops
    everything is a bug, not a result).  Hash-checked like the per-cell
    form."""
    corpus = _semdedup_corpus(spark, sf_dir)
    # write-once materialized reps (code-review r13: the unmaterialized
    # form re-ran the corpus-wide signature shuffle once per consumer
    # branch — the exact r9 finding _dedup_reps_materialized fixes)
    reps = _dedup_reps_materialized(spark, sf_dir).select("vec_id")
    # checkpointed once for the two semdedup band passes (r15 — same
    # rationale as llm_corpus_prune_pipeline above)
    rep_corpus = (
        corpus.join(reps, "vec_id", "left_semi").localCheckpoint(eager=True)
    )
    dropped = _semdedup_dropped(rep_corpus)
    return (
        corpus.agg(F.count("*").cast("long").alias("n_raw"))
        .join(reps.agg(F.count("*").cast("long").alias("n_reps")))
        .join(dropped.agg(F.count("*").cast("long").alias("n_sem_dropped")))
        .select(
            "n_raw",
            "n_reps",
            "n_sem_dropped",
            (F.col("n_reps") - F.col("n_sem_dropped"))
            .cast("long")
            .alias("n_kept"),
            F.round(
                (F.col("n_reps") - F.col("n_sem_dropped")) / F.col("n_raw"),
                4,
            ).alias("retention_share"),
            ((F.col("n_reps") - F.col("n_sem_dropped")) > 0).alias(
                "nonempty"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Coarse-quantizer RETRAIN (round 13, VERDICT r12 item 2 / carried from
# r11): the drift-control action that closes the audit loop the
# incremental-add dashboard opens.  llm_index_incremental_add freezes
# the quantizer and measures the price (recall 0.367 at sf0.01 — the
# thinnest margin in the ANN family); llm_index_cell_rebalance fixes
# OCCUPANCY skew locally; this op is the remaining arm: when the drift
# audit says the centroids no longer describe the corpus, retrain the
# coarse quantizer on the CURRENT live corpus (post-compaction
# survivors — the compact_cells state, which is where a production
# retrain runs: never on rows a GDPR erasure already removed) and
# re-assign.  The recall twin probes with the SAME survivor eval
# protocol as the delete twins, so frozen-vs-retrained recall is
# directly comparable in the driver ledger.


def _ivf_retrained_parts(spark, sf_dir):
    """(cells, centroids) of the quantizer retrained on the live
    (non-tombstoned) corpus.  PERSISTED write-once with every training
    hyperparameter in the token (ADVICE r10: changed params must
    rebuild, not silently reuse)."""
    return materialize_parts_once(
        spark,
        f"v1:ivf_retrain:{sf_dir}:{_IVF_TAG}res{_TOMBSTONE_RESIDUE}",
        _IVF_PARTS,
        lambda: _train_ivf(
            spark,
            load_table(spark, sf_dir, "embeddings")
            .select("vec_id", "embedding")
            .filter(~_is_tombstoned()),
        ),
    )


@query("llm_index_retrain")  # rows-only: k-means cells are iterative
def llm_index_retrain(spark, sf_dir):
    """Quantizer-retrain migration audit: one row per (old cell under
    the FROZEN incrementally-maintained quantizer, new cell under the
    RETRAINED one) with the vector count that moved — the matrix a
    deployment reads after a retrain to see how far the old partition
    drifted from the new geometry.  Tombstoned rows (already erased by
    the compaction the retrain runs after) appear with new_cell = -1 —
    retired, not reassigned.  Rows-only (two k-means layouts are
    engine-specific); the oracled llm_index_retrain_recall twin gates
    that the retrained index actually SERVES, on the same survivor
    protocol as the delete twins.

    Scale shape: the retrain is the standard k-means cost over the
    live corpus (iters x one broadcast-assign + one map-combined
    update) — run when the drift audit demands, not per batch; the
    audit itself is one hash join of two vec_id-partitioned
    assignments + a <= k^2+k row aggregate.  Nothing touches the old
    index files until the new assignment is committed (write-once
    token), which is the atomic-swap deployment shape."""
    base_cells, delta_cells, _ = _ivf_incr_parts(spark, sf_dir)
    old = base_cells.unionByName(delta_cells).select(
        "vec_id", F.col("cell").alias("old_cell")
    )
    new_cells, _ = _ivf_retrained_parts(spark, sf_dir)
    new = new_cells.select("vec_id", F.col("cell").alias("new_cell"))
    return (
        old.join(new, "vec_id", "left")
        .select(
            F.col("old_cell").cast("long").alias("old_cell"),
            F.coalesce(F.col("new_cell"), F.lit(-1))
            .cast("long")
            .alias("new_cell"),
        )
        .groupBy("old_cell", "new_cell")
        .agg(F.count("*").cast("long").alias("n_vectors"))
        .orderBy("old_cell", "new_cell")
    )


@query(
    "llm_index_retrain_recall",
    # Honesty gate for the retrain: same survivor ground truth and
    # structural zero as the delete twins (_SURVIVOR_RECALL_ORACLE), so
    # the frozen-quantizer price and the retrained recovery sit on the
    # SAME protocol in the same ledger.  Measured recovery at
    # introduction (r13): recall@3 = 0.593 at sf0.001 (16/27) / 0.556
    # at sf0.01 (15/27) vs the frozen quantizer's 0.444 / 0.481 on the
    # IDENTICAL survivor protocol (compact-cells twin) — the retrain
    # buys back the drift price the incremental-add twin put on record
    # (0.367 at sf0.01 on its full-corpus protocol, the ANN family's
    # thinnest margin).
    oracle=_SURVIVOR_RECALL_ORACLE,
)
def llm_index_retrain_recall(spark, sf_dir):
    """Recall@3 of an nprobe=2 probe over the RETRAINED index against
    exact top-3 over the survivors, plus the measured count of deleted
    ids that surfaced (structurally zero — the retrain corpus never
    contained them).  Measured: 0.593/0.556 retrained vs 0.444/0.481
    frozen at sf0.001/sf0.01 — see the oracle comment."""
    survivors = _corpus(spark, sf_dir).filter(~_is_tombstoned())
    new_cells, centroids = _ivf_retrained_parts(spark, sf_dir)
    cells = survivors.join(new_cells, "vec_id")
    q = _probe_set(survivors)
    ann = _ivf_probe(cells, centroids, q).select("query_id", "neighbor_id")
    return _survivor_recall_metric(ann, survivors, q)


# ---------------------------------------------------------------------------
# nprobe calibration sweep (round 13): how nprobe gets CHOSEN — the
# sweep discipline (llm_dedup_threshold_sweep for tau, llm_semdedup_sweep
# for the semantic tau, matryoshka for dims) applied to the IVF serving
# knob.  Every registered probe in this family runs nprobe=2 of 8 with
# a documented ~0.5 recall; the filtered op widened to 4 with a
# measured reason; this op produces the whole curve in ONE probe pass:
# candidates are fetched once at the max nprobe carrying their probe
# rank, and each curve row is a rank-prefix aggregate — no per-nprobe
# re-probe, which is also the corpus-scale shape (the candidate fetch
# dominates; prefixes are free).
_NPROBE_SWEEP_MAX = 4


def _nprobe_sweep_curve(spark, sf_dir):
    """One (nprobe, n_candidates, n_found, recall) row per prefix, over
    the shared persisted IVF index. The candidates are the registered
    probe's (:func:`_ivf_candidates`) at _NPROBE_SWEEP_MAX with their
    probe rank, so every prefix is routed exactly as ``_ivf_probe`` at
    that nprobe routes."""
    e = _corpus(spark, sf_dir)
    assigned, centroids = _ivf_index(spark, sf_dir)
    q = _probe_set(e)
    # one candidate fetch feeds every curve row (4 prefix windows + the
    # twin's metric joins would otherwise re-run the probe join per prefix)
    cand = _ivf_candidates(
        e.join(assigned, "vec_id"), centroids, q, _NPROBE_SWEEP_MAX
    ).localCheckpoint(eager=True)
    exact3 = _exact_top3(e, q)
    n_truth = exact3.agg(F.count("*").cast("long").alias("n_exact_pairs"))
    curve = None
    for n in range(1, _NPROBE_SWEEP_MAX + 1):
        pre = cand.filter(F.col("probe_rank") <= n)
        ann = _top_k(pre, 3).select("query_id", "neighbor_id")
        row = (
            pre.agg(F.count("*").cast("long").alias("n_candidates"))
            .join(
                exact3.join(ann, ["query_id", "neighbor_id"], "left_semi")
                .agg(F.count("*").cast("long").alias("n_found"))
            )
            .join(n_truth)
            .select(
                F.lit(n).cast("long").alias("nprobe"),
                "n_candidates",
                "n_found",
                F.round(F.col("n_found") / F.col("n_exact_pairs"), 4).alias(
                    "recall"
                ),
            )
        )
        curve = row if curve is None else curve.unionByName(row)
    return curve.orderBy("nprobe")


@query("llm_sim_ann_nprobe_sweep")  # rows-only: k-means cells are iterative
def llm_sim_ann_nprobe_sweep(spark, sf_dir):
    """Recall-vs-nprobe calibration curve over the shared persisted IVF
    index: per nprobe 1..4, the candidate volume (the probe's cost
    axis) and measured recall@3 vs brute-force exact top-3 (the quality
    axis) — the table a deployment reads to place its nprobe on the
    cost/recall frontier.  Rows-only (k-means cells are
    engine-specific); the oracled llm_sim_ann_nprobe_sweep_recall twin
    hash-pins the ground truth, the structural monotonicity (prefix
    candidate sets NEST, so recall cannot decrease in nprobe), and the
    registered operating point's gate.

    Scale shape: ONE candidate fetch at max nprobe (the same broadcast
    centroid scoring + cell equi-join as every probe in this family,
    plus the probe_rank column); each curve row is a rank-prefix window
    + aggregate over the checkpointed candidates.  Candidate volume —
    reported per row — is the actual serving cost the curve trades
    against recall."""
    return _nprobe_sweep_curve(spark, sf_dir)


@query(
    "llm_sim_ann_nprobe_sweep_recall",
    # Honesty gate: DuckDB recomputes the exact top-3 ground truth; the
    # monotone flag is measured but STRUCTURAL (prefix candidate sets
    # nest — a non-monotone curve means the sweep is broken, so TRUE is
    # hash-fatal if violated), and the nprobe=2 row must clear the same
    # 0.30 gate as the registered llm_sim_ann_ivf operating point.
    # Measured at introduction (r13): recall 0.3667/0.5333/0.6333/0.800
    # at nprobe=1/2/3/4 (sf0.01; 0.3667/0.500/0.6667/0.7333 at sf0.001)
    # against candidate volumes 643/1260/1887/2517 — the curve the
    # nprobe=2 default and the filtered op's widened 4 both sit on.
    oracle=f"""
    WITH n AS (
      SELECT vec_id, embedding, {sql_dot('embedding', 'embedding')} AS nsq
      FROM embeddings
    ), q AS (SELECT * FROM n WHERE vec_id < 10), exact3 AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id
      FROM q JOIN n e ON e.vec_id <> q.vec_id
      QUALIFY row_number() OVER (
          PARTITION BY q.vec_id
          ORDER BY {_sql_cosine(sql_dot('q.embedding', 'e.embedding'), 'q.nsq', 'e.nsq')}
                   DESC, e.vec_id ASC) <= 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
           CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
           CAST({_NPROBE_SWEEP_MAX} AS BIGINT) AS n_nprobes,
           TRUE AS recall_monotone,
           TRUE AS recall_ge_30_at_2
    FROM exact3
    """,
)
def llm_sim_ann_nprobe_sweep_recall(spark, sf_dir):
    """Hash-pinned contract of the nprobe sweep: exact ground-truth
    sizes, the measured structural-monotonicity flag, and the measured
    gate at the family's registered nprobe=2 operating point."""
    curve = _nprobe_sweep_curve(spark, sf_dir).localCheckpoint(eager=True)
    lagged = curve.withColumn(
        "prev",
        F.lag("n_found").over(Window.orderBy("nprobe")),
    )
    monotone = lagged.agg(
        F.min(
            F.when(
                F.col("prev").isNull() | (F.col("n_found") >= F.col("prev")),
                True,
            ).otherwise(False)
        ).alias("recall_monotone")
    )
    e = _corpus(spark, sf_dir)
    exact3 = _exact_top3(e, _probe_set(e))
    at2 = curve.filter(F.col("nprobe") == 2).select(
        (F.col("recall") >= 0.3).alias("recall_ge_30_at_2")
    )
    return (
        exact3.agg(
            F.count("*").cast("long").alias("n_exact_pairs"),
            F.count_distinct("query_id").cast("long").alias("n_queries"),
        )
        .join(curve.agg(F.count("*").cast("long").alias("n_nprobes")))
        .join(monotone)
        .join(at2)
        .select(
            "n_exact_pairs",
            "n_queries",
            "n_nprobes",
            "recall_monotone",
            "recall_ge_30_at_2",
        )
    )


# ---------------------------------------------------------------------------
# Prototypicality prune (round 13, D4 lineage — Tirumala et al. 2023:
# dedup -> SemDeDup -> prune the most PROTOTYPICAL members of each
# cluster, keeping the diverse tail that carries the marginal training
# signal).  The deterministic sign-projection cells stand in for D4's
# k-means clusters exactly as they do for SemDeDup, and the
# prototypicality score exploits scale invariance: cosine to the cell
# CENTROID equals cosine to the cell SUM, and the sum of quantized
# embeddings is exact int64 — so score, ranking, and prune are
# bit-reproducible in ANSI SQL and the driver hash-checks the ACTUAL
# prune, the same contract as llm_semdedup.
#
# Exactness bound, magnitude-aware: every intermediate (q·S, q·q, S·S)
# must stay inside int64 in BOTH engines — DuckDB's list_sum/HUGEINT
# would keep going past 2^63 while Spark's int64 silently wraps, the
# worst kind of divergence.  With B = Σ over the cell of each row's
# max |q_i| (so |S_i| <= B), the binding term is S·S <= 64·B², giving
# B <= 3.79e8; cells are therefore LOUDLY capped at B <= 3.5e8 in both
# engines (a 300-row unit-norm cell sits near 1e8, the driver fixture
# near 2e7).  A cell breaching the cap is a mega-cell (or a
# wild-magnitude corpus) — exactly the state the rebalance/wider-band
# knobs exist to fix first.
_PROTO_CELL_CAP = 350_000_000  # Σ per-row max|q| per cell, not a row count
_PROTO_PRUNE_FRAC = 5  # drop the top 1/5 most prototypical per cell


def _proto_scores(corpus):
    """(vec_id, cell_a, n_cell, proto) — cosine of each row to its
    band-A cell's exact integer sum vector.  One posexplode pass
    (64x row inflation, map-side combined back to cells x 64 sums),
    one (cell, pos) equi-join to fold q·S and q·q per row, one k-row
    cell aggregate for S·S.  At 100 TB the same shape, or the per-cell
    applyInPandas vector sum if the 64x inflation matters."""
    pos = corpus.select(
        "vec_id",
        "cell_a",
        F.posexplode("qemb").alias("pos", "q"),
    )
    counts = corpus.groupBy("cell_a").agg(
        F.count("*").cast("long").alias("n_cell"),
        F.sum(
            F.expr("aggregate(qemb, 0L, (a, x) -> greatest(a, abs(x)))")
        ).alias("b_mass"),
    )
    guarded = counts.withColumn(
        "n_cell",
        F.when(
            F.col("b_mass") <= F.lit(_PROTO_CELL_CAP), F.col("n_cell")
        ).otherwise(
            F.expr(
                "raise_error('semdedup prototypes: cell magnitude mass"
                " exceeds the exact-int64 cap — widen the band (bits)"
                " or rebalance before pruning')"
            )
        ),
    ).drop("b_mass")
    sums = pos.groupBy("cell_a", "pos").agg(F.sum("q").alias("s"))
    scs = sums.groupBy("cell_a").agg(
        F.sum(F.col("s") * F.col("s")).alias("ss")
    )
    rd = (
        pos.join(sums, ["cell_a", "pos"])
        .groupBy("vec_id", "cell_a")
        .agg(
            F.sum(F.col("q") * F.col("s")).alias("qs"),
            F.sum(F.col("q") * F.col("q")).alias("qq"),
        )
    )
    return (
        rd.join(scs, "cell_a")
        .join(guarded, "cell_a")
        .select(
            "vec_id",
            "cell_a",
            "n_cell",
            (
                F.col("qs")
                / F.sqrt(
                    F.col("qq").cast("double") * F.col("ss").cast("double")
                )
            ).alias("proto"),
        )
    )


def _proto_sql(source: str = "cells") -> str:
    """The prototypicality CTE chain over any cells-shaped relation
    (``source``) — shared by the standalone op (raw cells) and the D4
    composition (semantic-prune survivors)."""
    return f"""
    pos AS (
      SELECT cell_a, vec_id, i,
             CAST(round(embedding[CAST(i AS INTEGER)] * 1000000) AS BIGINT)
               AS q
      FROM {source}, unnest(range(1, 65)) AS u(i)
    ),
    counts AS (
      SELECT cell_a,
             CASE WHEN SUM(list_max(list_transform(embedding,
                       x -> abs(CAST(round(x * 1000000) AS BIGINT)))))
                       <= {_PROTO_CELL_CAP}
                  THEN CAST(COUNT(*) AS BIGINT)
                  ELSE error('semdedup prototypes: cell magnitude mass'
                             ' exceeds the exact-int64 cap')
             END AS n_cell
      FROM {source} GROUP BY cell_a
    ),
    sums AS (SELECT cell_a, i, SUM(q) AS s FROM pos GROUP BY 1, 2),
    scs AS (SELECT cell_a, SUM(s * s) AS ss FROM sums GROUP BY 1),
    rd AS (
      SELECT p.vec_id, p.cell_a,
             SUM(p.q * s.s) AS qs, SUM(p.q * p.q) AS qq
      FROM pos p JOIN sums s ON s.cell_a = p.cell_a AND s.i = p.i
      GROUP BY 1, 2
    ),
    proto AS (
      SELECT rd.vec_id, rd.cell_a, c.n_cell,
             rd.qs / sqrt(CAST(rd.qq AS DOUBLE) * CAST(scs.ss AS DOUBLE))
               AS proto
      FROM rd
      JOIN scs ON scs.cell_a = rd.cell_a
      JOIN counts c ON c.cell_a = rd.cell_a
    )
"""


_PROTO_SQL = _proto_sql()


@query(
    "llm_semdedup_prototypes",
    oracle=f"""
    WITH cells AS ({_SEMDEDUP_CELLS_SQL}),
    {_PROTO_SQL},
    ranked AS (
      SELECT cell_a, n_cell, proto,
             row_number() OVER (PARTITION BY cell_a
                                ORDER BY proto DESC, vec_id ASC) AS rn
      FROM proto
    ),
    flagged AS (
      SELECT cell_a, n_cell, proto,
             CASE WHEN rn <= n_cell // {_PROTO_PRUNE_FRAC}
                  THEN 1 ELSE 0 END AS pruned
      FROM ranked
    )
    SELECT cell_a AS cell,
           CAST(ANY_VALUE(n_cell) AS BIGINT) AS n_total,
           CAST(SUM(pruned) AS BIGINT) AS n_pruned,
           CAST(ANY_VALUE(n_cell)
                - ANY_VALUE(n_cell) // {_PROTO_PRUNE_FRAC} AS BIGINT)
             AS n_kept,
           round(MAX(proto), 6) AS max_proto
    FROM flagged GROUP BY cell_a ORDER BY cell_a
    """,
)
def llm_semdedup_prototypes(spark, sf_dir):
    """D4-style prototypicality prune audit over the deterministic
    band-A cells: per cell, drop the top 1/5 most-prototypical members
    (highest cosine to the cell's exact integer sum vector — scale
    invariance makes that the centroid cosine) and report total /
    pruned / kept plus the cell's max prototypicality.  Fully
    hash-checked: scores are ratios of exact int64 dots, so the
    ranking, the prune boundary, and the rounded max are bit-identical
    in Spark and DuckDB.  See the module comment for the
    magnitude-aware exact-int64 cell cap and why it fails loudly in
    both engines.

    Scale shape: one posexplode aggregate to cell sums (map-side
    combined), one (cell, pos) equi-join to score rows, one per-cell
    rank window over cell-sized partitions.  Nothing quadratic —
    prototypicality is linear in corpus size, which is WHY D4 runs it
    after the quadratic-in-cell semantic prune, not before."""
    corpus = _semdedup_corpus(spark, sf_dir)
    scores = _proto_scores(corpus)
    w = Window.partitionBy("cell_a").orderBy(
        F.col("proto").desc(), F.col("vec_id").asc()
    )
    ranked = scores.withColumn("rn", F.row_number().over(w))
    k = F.floor(F.col("n_cell") / _PROTO_PRUNE_FRAC)
    return (
        ranked.groupBy(F.col("cell_a").alias("cell"))
        .agg(
            F.first("n_cell").cast("long").alias("n_total"),
            F.sum(
                F.when(
                    F.col("rn")
                    <= F.floor(F.col("n_cell") / _PROTO_PRUNE_FRAC),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_pruned"),
            (
                F.first("n_cell")
                - F.floor(F.first("n_cell") / _PROTO_PRUNE_FRAC)
            )
            .cast("long")
            .alias("n_kept"),
            F.round(F.max("proto"), 6).alias("max_proto"),
        )
        .orderBy("cell")
    )


@query(
    "llm_corpus_prune_d4",
    oracle=f"""
    WITH cells AS ({_SEMDEDUP_CELLS_SQL}),
    reps AS (
      SELECT vec_id FROM (
        SELECT vec_id,
               row_number() OVER (PARTITION BY {_SQL_SIGN_SIG}
                                  ORDER BY vec_id) AS rn
        FROM embeddings
      ) WHERE rn = 1
    ),
    rep_cells AS (
      SELECT c.* FROM cells c JOIN reps r ON c.vec_id = r.vec_id
    ),
    dropped AS ({_semdedup_dropped_sql(("cell_a", "cell_b"), source="rep_cells")}),
    surv AS (
      SELECT rc.* FROM rep_cells rc
      WHERE rc.vec_id NOT IN (SELECT vec_id FROM dropped)
    ),
    {_proto_sql("surv")},
    ranked AS (
      SELECT vec_id, cell_a, n_cell,
             row_number() OVER (PARTITION BY cell_a
                                ORDER BY proto DESC, vec_id ASC) AS rn
      FROM proto
    ),
    proto_pruned AS (
      SELECT vec_id FROM ranked WHERE rn <= n_cell // {_PROTO_PRUNE_FRAC}
    )
    SELECT c.cell_a AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_raw,
           CAST(COUNT(r.vec_id) AS BIGINT) AS n_reps,
           CAST(COUNT(d.vec_id) AS BIGINT) AS n_sem_dropped,
           CAST(COUNT(pp.vec_id) AS BIGINT) AS n_proto_pruned,
           CAST(COUNT(r.vec_id) - COUNT(d.vec_id) - COUNT(pp.vec_id)
                AS BIGINT) AS n_kept
    FROM cells c
    LEFT JOIN reps r ON r.vec_id = c.vec_id
    LEFT JOIN dropped d ON d.vec_id = c.vec_id
    LEFT JOIN proto_pruned pp ON pp.vec_id = c.vec_id
    GROUP BY 1 ORDER BY 1
    """,
)
def llm_corpus_prune_d4(spark, sf_dir):
    """The full D4 funnel (Tirumala et al. 2023), fully hash-checked:
    exact sign-signature collapse → SemDeDup semantic prune over the
    representatives → prototypicality prune over the SURVIVORS (the
    paper's order — the quadratic semantic stage runs on the collapsed
    corpus, the linear prototype stage on what survives it).  One row
    per band-A cell: raw docs, exact representatives, semantic drops,
    prototype prunes, and the final training-set count.

    Scale shape: the three stages' own shapes composed — one signature
    shuffle, per-cell GEMM over the collapsed corpus, one posexplode
    centroid pass over the survivors; each stage's input is the
    previous stage's (smaller) output, which is the entire economics
    of running them in this order."""
    corpus = _semdedup_corpus(spark, sf_dir)
    reps = _dedup_reps_materialized(spark, sf_dir).select("vec_id")
    rep_corpus = corpus.join(reps, "vec_id", "left_semi")
    sem_dropped = _semdedup_dropped(rep_corpus)
    survivors = rep_corpus.join(sem_dropped, "vec_id", "left_anti")
    scores = _proto_scores(survivors)
    w = Window.partitionBy("cell_a").orderBy(
        F.col("proto").desc(), F.col("vec_id").asc()
    )
    proto_pruned = (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.floor(F.col("n_cell") / _PROTO_PRUNE_FRAC))
        .select("vec_id")
        .withColumn("is_pp", F.lit(1))
    )
    is_rep = reps.withColumn("is_rep", F.lit(1))
    sd = sem_dropped.withColumn("is_sd", F.lit(1))
    n_reps = F.sum(F.coalesce(F.col("is_rep"), F.lit(0)))
    n_sd = F.sum(F.coalesce(F.col("is_sd"), F.lit(0)))
    n_pp = F.sum(F.coalesce(F.col("is_pp"), F.lit(0)))
    return (
        corpus.join(is_rep, "vec_id", "left")
        .join(sd, "vec_id", "left")
        .join(proto_pruned, "vec_id", "left")
        .groupBy(F.col("cell_a").alias("cell"))
        .agg(
            F.count("*").cast("long").alias("n_raw"),
            n_reps.cast("long").alias("n_reps"),
            n_sd.cast("long").alias("n_sem_dropped"),
            n_pp.cast("long").alias("n_proto_pruned"),
            (n_reps - n_sd - n_pp).cast("long").alias("n_kept"),
        )
        .orderBy("cell")
    )

# ---------------------------------------------------------------------------
# Semantic CROSS-SET prune (round 14, VERDICT r13 item 3): the production
# shape of SemDeDup.  Real training-data pipelines prune INCREMENTALLY —
# each new crawl batch is screened against the STANDING corpus, not
# re-clustered corpus-global — and until now the repo had only the n-gram
# form of that story (llm_dedup_crossset).  The deterministic banded cells
# make the semantic form fully hash-checkable: a batch row drops iff ANY
# standing-corpus row sharing one of its band cells has exact cosine >=
# tau.  Fixture split: vec_id % 10 == 0 is the incoming batch, the rest
# the standing corpus (the llm_dedup_crossset idiom).
#
# Economics (the point of the op): probe work is sum over cells of
# n_batch_c x n_standing_c — LINEAR in batch size for a fixed standing
# corpus, vs the corpus-global prune's sum of n_c^2.  The standing side's
# banded cells are a write-once artifact (same standing-index story as the
# MinHash signature table); each ingest batch pays one projection pass
# over ITSELF plus in-cell GEMM against only the cells it lands in.
_CROSSSET_BATCH_MOD = 10

# Fixture-calibrated recall gate (same discipline as tau=0.40 itself):
# the synthetic embeddings are near-orthogonal, so batch x standing
# qualifying pairs sit at moderate cosine where two 3-bit bands catch
# 3/10 (sf0.001) and 3/15 (sf0.01) — the measured 0.30 / 0.20.  On
# planted near-dup tiers the qualifying pairs have cosine ~1, agree on
# every sign bit, and recall rises with real dup mass (the 600 k-tier
# measurement in BASELINE.md).  The gate pins "the banding keeps
# catching what it caught when registered", not a production SLO —
# production recall is tuned with the bands/bits knobs measured in
# llm_semdedup_bands.
_CROSSSET_RECALL_GATE = 0.15


def _semdedup_crossset_hits(
    e,
    cell_cols=("cell_a", "cell_b"),
    tau=_SEMDEDUP_TAU,
    block=4096,
):
    """Distinct (vec_id, dup_id) pairs: batch row `vec_id` has standing
    row `dup_id` sharing a band cell at exact cosine >= ``tau``.

    Per band, one hash shuffle on cell id, then each cell runs a blocked
    int64 GEMM of its BATCH rows against its STANDING rows (the
    rectangular batch x standing variant of _semdedup_dropped's square
    kernel — same exact-integer discipline: products and 64-term sums
    sit far inside int64 and double's 2^53 exact range, the compared
    doubles are bit-identical across JVM / numpy / DuckDB).  Unlike the
    corpus-global kernel there is no earlier-id rule and no early exit:
    the op reports EVERY in-band standing neighbor (n_dups feeds the
    ingest audit), so hit volume is dup-mass-proportional."""
    import pandas as pd

    def cell_hits(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        empty = pd.DataFrame(
            {
                "vec_id": np.empty(0, dtype=np.int64),
                "dup_id": np.empty(0, dtype=np.int64),
            }
        )
        batch = pdf[pdf["is_batch"] == 1]
        stand = pdf[pdf["is_batch"] == 0]
        if not len(batch) or not len(stand):
            return empty
        b_ids = batch["vec_id"].to_numpy()
        s_ids = stand["vec_id"].to_numpy()
        B = np.stack(batch["qemb"].to_numpy()).astype(np.int64)
        S = np.stack(stand["qemb"].to_numpy()).astype(np.int64)
        bn = batch["nsq"].to_numpy().astype(np.float64)
        sn = stand["nsq"].to_numpy().astype(np.float64)
        out_b, out_s = [], []
        for b0 in range(0, len(b_ids), block):
            b1 = min(b0 + block, len(b_ids))
            for c0 in range(0, len(s_ids), block):
                c1 = min(c0 + block, len(s_ids))
                g = (B[b0:b1] @ S[c0:c1].T).astype(np.float64) / 1e12
                cos = g / np.sqrt(np.outer(bn[b0:b1], sn[c0:c1]))
                bi, si = np.nonzero(cos >= tau)
                if len(bi):
                    out_b.append(b_ids[b0:b1][bi])
                    out_s.append(s_ids[c0:c1][si])
        if not out_b:
            return empty
        return pd.DataFrame(
            {
                "vec_id": np.concatenate(out_b).astype(np.int64),
                "dup_id": np.concatenate(out_s).astype(np.int64),
            }
        )

    hits = None
    for col in cell_cols:
        p = (
            e.select(
                F.col(col).alias("jc"), "vec_id", "qemb", "nsq", "is_batch"
            )
            .groupBy("jc")
            .applyInPandas(cell_hits, schema="vec_id long, dup_id long")
        )
        hits = p if hits is None else hits.unionAll(p)
    return hits.distinct()


def _crossset_corpus(spark, sf_dir):
    """The banded corpus with the ingest-batch flag."""
    return _semdedup_corpus(spark, sf_dir).withColumn(
        "is_batch",
        (F.col("vec_id") % _CROSSSET_BATCH_MOD == 0).cast("int"),
    )


_CROSSSET_HITS_SQL = f"""
    SELECT DISTINCT b.vec_id AS vec_id, s.vec_id AS dup_id
    FROM cells b JOIN cells s
      ON (b.cell_a = s.cell_a OR b.cell_b = s.cell_b)
    WHERE b.vec_id % {_CROSSSET_BATCH_MOD} = 0
      AND s.vec_id % {_CROSSSET_BATCH_MOD} <> 0
      AND {sql_dot('b.embedding', 's.embedding')} / sqrt(b.nsq * s.nsq)
          >= {_SEMDEDUP_TAU}
"""


@query(
    "llm_semdedup_crossset",
    oracle=f"""
    WITH cells AS ({_SEMDEDUP_CELLS_SQL}),
    hits AS ({_CROSSSET_HITS_SQL})
    SELECT vec_id,
           CAST(min(dup_id) AS BIGINT) AS first_dup_id,
           CAST(count(*) AS BIGINT) AS n_dups
    FROM hits GROUP BY vec_id ORDER BY vec_id
    """,
)
def llm_semdedup_crossset(spark, sf_dir):
    """Incremental (cross-set) SemDeDup: screen a new ingest batch
    (vec_id % 10 == 0) against the standing banded corpus — one row per
    DROPPED batch doc with its first (min-id) standing tau-neighbor and
    the count of distinct in-band standing neighbors.  Fully
    hash-oracled end to end: deterministic sign-projection cells in
    both engines, exact integer dots, and an all-integer output (ids +
    counts, no floats to round).

    Scale shape: see the module comment above — probe work is linear in
    BATCH size (sum over cells of n_batch_c x n_standing_c), the
    standing cells are a write-once artifact, and the 600 k-tier
    measurement in BASELINE.md records the batch-vs-corpus economics
    (cost tracks the probing batch, not the standing corpus).  The
    same banding-recall contract as the corpus-global op applies,
    gated by llm_semdedup_crossset_recall."""
    hits = _semdedup_crossset_hits(_crossset_corpus(spark, sf_dir))
    return (
        hits.groupBy("vec_id")
        .agg(
            F.min("dup_id").cast("long").alias("first_dup_id"),
            F.count("*").cast("long").alias("n_dups"),
        )
        .orderBy("vec_id")
    )


@query(
    "llm_semdedup_crossset_recall",
    oracle=f"""
    WITH cells AS ({_SEMDEDUP_CELLS_SQL}),
    qual AS (
      SELECT b.vec_id AS b_id, s.vec_id AS s_id,
             (b.cell_a = s.cell_a OR b.cell_b = s.cell_b) AS in_band
      FROM cells b JOIN cells s
        ON b.vec_id % {_CROSSSET_BATCH_MOD} = 0
       AND s.vec_id % {_CROSSSET_BATCH_MOD} <> 0
      WHERE {sql_dot('b.embedding', 's.embedding')} / sqrt(b.nsq * s.nsq)
            >= {_SEMDEDUP_TAU}
    ),
    hits AS ({_CROSSSET_HITS_SQL})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_qualifying_pairs,
           CAST(SUM(CASE WHEN in_band THEN 1 ELSE 0 END) AS BIGINT)
             AS n_found_pairs,
           round(SUM(CASE WHEN in_band THEN 1 ELSE 0 END) / COUNT(*), 4)
             AS pair_recall,
           (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) FROM hits)
             AS n_batch_dropped,
           SUM(CASE WHEN in_band THEN 1 ELSE 0 END)
             >= {_CROSSSET_RECALL_GATE} * COUNT(*)
             AS recall_ge_gate
    FROM qual
    """,
)
def llm_semdedup_crossset_recall(spark, sf_dir):
    """Honesty twin of llm_semdedup_crossset, same contract strength as
    llm_semdedup_recall: DuckDB recomputes both the brute-force
    batch x standing tau-pair truth AND the banded candidate set, so
    the driver hash pins the exact pair-recall VALUE, not a boolean.
    The all-pairs truth join is fixture-scale measurement machinery
    only; the operator itself never leaves its cells."""
    e = _crossset_corpus(spark, sf_dir)
    b = e.filter(F.col("is_batch") == 1).select(
        F.col("vec_id").alias("b_id"),
        F.col("qemb").alias("b_q"),
        F.col("nsq").alias("b_nsq"),
        F.col("cell_a").alias("b_ca"),
        F.col("cell_b").alias("b_cb"),
    )
    s = e.filter(F.col("is_batch") == 0).select(
        F.col("vec_id").alias("s_id"),
        F.col("qemb").alias("s_q"),
        F.col("nsq").alias("s_nsq"),
        F.col("cell_a").alias("s_ca"),
        F.col("cell_b").alias("s_cb"),
    )
    qual = (
        b.join(s)
        .filter(
            (
                F.expr(_QDOT.format(a="b_q", b="s_q")).cast("double")
                / F.lit(1e12)
                / F.sqrt(F.col("b_nsq") * F.col("s_nsq"))
            )
            >= _SEMDEDUP_TAU
        )
        .select(
            (
                (F.col("b_ca") == F.col("s_ca"))
                | (F.col("b_cb") == F.col("s_cb"))
            ).alias("in_band")
        )
    )
    n_dropped = (
        _semdedup_crossset_hits(e)
        .select("vec_id")
        .distinct()
        .agg(F.count("*").cast("long").alias("n_batch_dropped"))
    )
    found = F.sum(F.when(F.col("in_band"), 1).otherwise(0))
    return (
        qual.agg(
            F.count("*").cast("long").alias("n_qualifying_pairs"),
            found.cast("long").alias("n_found_pairs"),
        )
        .join(n_dropped)
        .select(
            "n_qualifying_pairs",
            "n_found_pairs",
            F.round(
                F.col("n_found_pairs") / F.col("n_qualifying_pairs"), 4
            ).alias("pair_recall"),
            "n_batch_dropped",
            (
                F.col("n_found_pairs")
                >= _CROSSSET_RECALL_GATE * F.col("n_qualifying_pairs")
            ).alias("recall_ge_gate"),
        )
    )

# ---------------------------------------------------------------------------
# Index MAINTENANCE POLICY (round 14, VERDICT r13 item 4): the decision
# table the lifecycle ops bracket, as a registered contract instead of
# prose.  The family's audits each measure one drift axis and its
# measured remedy: occupancy (llm_index_incremental_add ->
# llm_index_cell_rebalance, trigger = any cell > 1.10x mean),
# quantizer drift (llm_index_retrain's measured 0.593-vs-0.444
# recovery, trigger = delta share of the corpus), and serving recall
# (llm_sim_ann_nprobe_sweep's frontier, remedy = widen nprobe).  This
# pair makes the POLICY itself driver-checked:
#
# - llm_index_maintenance_policy (rows-only, k-means metrics): one row
#   per metric with the LIVE observed value from the registered
#   artifacts, its threshold, and the derived action;
# - llm_index_maintenance_policy_contract (hash-oracled): the decision
#   table evaluated over the canonical planted trigger grid — below /
#   at / above each threshold — with BOTH engines parsing the SAME
#   generated CASE expression, so the driver hash pins the policy
#   logic itself (a drifted threshold or flipped boundary is
#   hash-fatal, and the live op shares the same expression so it
#   cannot diverge from the pinned table).
#
# Boundary semantics are strict (> for the ratio triggers, < for the
# recall floor), matching _rebalanced_index's own `count >
# _REBALANCE_FACTOR * mean` rule; at-threshold grid rows pin the
# non-trigger side.
_POLICY_DELTA_TRIGGER = 0.15  # retrain when frozen-quantizer delta rows
# exceed 15% of the corpus — the drift-share regime where the retrain
# twin's measured recovery (0.593/0.556 vs 0.444/0.481 frozen) says the
# cold retrain price pays for itself; below it, rebalance handles local
# occupancy without touching the quantizer.
_POLICY_WIDEN_BELOW = 0.40  # widen nprobe when measured recall@3 at the
# registered nprobe=2 operating point falls below gate (0.30) + margin
# (0.10) — one literal, not an arithmetic sum (0.3 + 0.1 is a different
# double than 0.4 in neither engine's favor).

_POLICY_RULES = (
    # (metric, action, comparator, threshold)
    ("occupancy_ratio", "rebalance", ">", _REBALANCE_FACTOR),
    ("delta_share", "retrain", ">", _POLICY_DELTA_TRIGGER),
    ("recall_at_nprobe2", "widen_nprobe", "<", _POLICY_WIDEN_BELOW),
)


def _policy_action_case(metric: str = "metric", observed: str = "observed") -> str:
    """The decision CASE, one string parsed by BOTH Spark SQL and
    DuckDB — the single artifact both the live op and the contract grid
    evaluate, so the policy cannot drift between engines or between the
    live and pinned paths."""
    whens = " ".join(
        f"WHEN {metric} = '{m}' AND {observed} {cmp} {thr!r} THEN '{act}'"
        for m, act, cmp, thr in _POLICY_RULES
    )
    return f"CASE {whens} ELSE 'none' END"


def _policy_threshold_case(metric: str = "metric") -> str:
    whens = " ".join(
        f"WHEN {metric} = '{m}' THEN CAST({thr!r} AS DOUBLE)"
        for m, _act, _cmp, thr in _POLICY_RULES
    )
    return f"CASE {whens} END"


# The planted trigger grid: below / at / above each threshold (plus a
# far point per side where informative).  At-threshold rows pin the
# strict boundary; the grid is the "each planted trigger state" the
# policy pytest asserts row by row.
_POLICY_GRID = (
    (1, "occupancy_ratio", 1.0),
    (2, "occupancy_ratio", 1.1),
    (3, "occupancy_ratio", 1.11),
    (4, "occupancy_ratio", 1.5),
    (5, "delta_share", 0.0),
    (6, "delta_share", 0.15),
    (7, "delta_share", 0.16),
    (8, "delta_share", 0.5),
    (9, "recall_at_nprobe2", 0.25),
    (10, "recall_at_nprobe2", 0.39),
    (11, "recall_at_nprobe2", 0.4),
    (12, "recall_at_nprobe2", 0.41),
)


@query("llm_index_maintenance_policy")  # rows-only: k-means metrics
def llm_index_maintenance_policy(spark, sf_dir):
    """Live maintenance decision over the registered index artifacts:
    one row per drift metric — observed value, threshold, and the
    action the policy derives.  Metrics are read from the SAME
    artifacts the audits dashboard: cell occupancy and delta share from
    the incrementally-maintained IVF assignment (_ivf_incr_parts), the
    serving recall from the nprobe sweep's checkpointed candidates at
    the registered nprobe=2 operating point.  Rows-only (k-means
    metrics are engine-specific); the hash-oracled
    llm_index_maintenance_policy_contract twin pins the decision logic
    itself, and both paths evaluate the identical generated CASE.

    Scale shape: occupancy and delta share are k-row aggregates of the
    persisted assignment; the recall metric reuses the sweep's ONE
    checkpointed candidate fetch.  The policy read is the cheap part by
    construction — it is what a deployment runs nightly to decide
    whether to spend the expensive remedies (313 s cold retrain at 3 M
    vs 1.76 s warm audit, addendum 56).

    Measured live rows at registration (r14): occupancy_ratio
    1.248/1.232 (sf0.001/sf0.01) > 1.10 -> rebalance; delta_share 0.2
    (the 100-row delta over the 500-vector fixture) > 0.15 -> retrain;
    recall_at_nprobe2 0.500/0.5333 >= 0.40 -> none — two triggers hot
    and one quiet, so both decision branches run live, and the planted
    grid covers below/at/above every boundary."""
    base_cells, delta_cells, _ = _ivf_incr_parts(spark, sf_dir)
    allc = base_cells.unionByName(delta_cells)
    occ = (
        allc.groupBy("cell")
        .agg(F.count("*").alias("n"))
        .agg((F.max("n") / F.avg("n")).alias("observed"))
        .select(
            F.lit("occupancy_ratio").alias("metric"),
            F.round("observed", 4).alias("observed"),
        )
    )
    delta_share = (
        delta_cells.agg(F.count("*").alias("nd"))
        .join(allc.agg(F.count("*").alias("nt")))
        .select(
            F.lit("delta_share").alias("metric"),
            F.round(F.col("nd") / F.col("nt"), 4).alias("observed"),
        )
    )
    recall = (
        _nprobe_sweep_curve(spark, sf_dir)
        .filter(F.col("nprobe") == 2)
        .select(
            F.lit("recall_at_nprobe2").alias("metric"),
            F.col("recall").cast("double").alias("observed"),
        )
    )
    rows = occ.unionByName(delta_share).unionByName(recall)
    return (
        rows.withColumn("threshold", F.expr(_policy_threshold_case()))
        .withColumn("action", F.expr(_policy_action_case()))
        .withColumn("triggered", F.col("action") != F.lit("none"))
        .orderBy("metric")
    )


def _policy_grid_values_sql() -> str:
    rows = ", ".join(
        f"({sid}, '{m}', {obs!r})" for sid, m, obs in _POLICY_GRID
    )
    return (
        f"SELECT CAST(scenario_id AS BIGINT) AS scenario_id, metric,"
        f" CAST(observed AS DOUBLE) AS observed"
        f" FROM (VALUES {rows}) AS t(scenario_id, metric, observed)"
    )


@query(
    "llm_index_maintenance_policy_contract",
    oracle=f"""
    WITH grid AS ({_policy_grid_values_sql()})
    SELECT scenario_id, metric, observed,
           {_policy_threshold_case()} AS threshold,
           {_policy_action_case()} AS action,
           {_policy_action_case()} <> 'none' AS triggered
    FROM grid ORDER BY scenario_id
    """,
)
def llm_index_maintenance_policy_contract(spark, sf_dir):
    """The decision table over the planted trigger grid, hash-checked
    cross-engine: 12 scenarios (below / at / above each threshold), the
    SAME generated CASE expression evaluated by Spark and DuckDB.  The
    driver hash pins every boundary: a threshold edit, a flipped
    comparator, or a renamed action diverges the engines (or the pinned
    pytest) immediately.  Takes no data from sf_dir by design — the
    contract is about the policy, and registering it keeps the live op
    honest because both interpolate the same _POLICY_RULES."""
    grid = spark.createDataFrame(
        list(_POLICY_GRID), "scenario_id long, metric string, observed double"
    )
    return (
        grid.withColumn("threshold", F.expr(_policy_threshold_case()))
        .withColumn("action", F.expr(_policy_action_case()))
        .withColumn("triggered", F.col("action") != F.lit("none"))
        .orderBy("scenario_id")
    )
