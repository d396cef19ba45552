"""Deduplication operators for LLM training-data pipelines (SURVEY.md §2.10).

Four dedup families over the ``documents`` fixture, each designed for the
100 TB shape first and verified at small sf:

- exact:   normalize → content-hash → keep one doc per hash. One shuffle
           on a 64-hex key; no pairwise work at all.
- minhash: shingle → seeded MinHash signature → LSH band buckets →
           candidate pairs only *within* buckets. Candidate generation is
           linear-ish in corpus size (band-hash join), never O(n²).
- simhash: 64-bit weighted fingerprint → 16-bit block bands → pairs within
           Hamming ≤ 3. Same banding trick (a pair within distance d must
           agree exactly on ≥1 of d+1 blocks), so again no cross join.
- n-gram Jaccard: exact set similarity via a shingle-equality self-join —
           the *verification* stage that LSH candidates feed at scale; at
           bench sf it doubles as an oracle-checkable exact dedup.

Determinism: every hash is Spark's ``xxhash64`` with a fixed literal seed
column, so re-runs (and resumed pipelines) produce identical buckets —
SURVEY §7 risk 4.

Literature (public): Broder, "On the resemblance and containment of
documents" (1997) — MinHash; Indyk & Motwani (1998) / Gionis et al. (1999)
— LSH banding; Charikar, "Similarity estimation techniques from rounding
algorithms" (STOC 2002) — SimHash; Manku, Jain & Das Sarma, "Detecting
near-duplicates for web crawling" (WWW 2007) — the block-pigeonhole
Hamming search used here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..core import d2d, materialize_once
from ..io import byte_gated_broadcast, load_table
from ..registry import query

# MinHash geometry: 32 permutations in 8 bands of 4 rows. For shingle
# Jaccard j the candidate probability is 1-(1-j^4)^8: ≈1.0 at j=0.95 (the
# planted near-dups sit at 0.97-0.99), ≈0.03 at j=0.3.
_NUM_PERM = 32
_BANDS = 8
_ROWS_PER_BAND = _NUM_PERM // _BANDS
_SHINGLE_K = 3


def _normalized_text(col: str = "text") -> F.Column:
    """lower → trim → collapse whitespace: the canonical pre-hash normalize.

    The whitespace class is explicit, not ``\\s``: Java regex counts
    vertical tab (\\x0B) in ``\\s``, RE2 (DuckDB) does not — an explicit
    class makes the normalization engine-independent (found by the
    hypothesis differential suite)."""
    return F.regexp_replace(F.lower(F.trim(F.col(col))), "[ \t\r\n\f\x0b]+", " ")


_NORM_SQL = "regexp_replace(lower(trim(text)), '[ \\t\\r\\n\\f\\x0B]+', ' ', 'g')"


def _shingles(df: DataFrame, k: int = _SHINGLE_K) -> DataFrame:
    """(doc_id, shingle) with per-doc-distinct word k-grams.

    Built entirely from array higher-order functions (JVM-side, codegen'd):
    split → sliding slice → concat. No Python in the loop.
    """
    return (
        df.select("doc_id", F.split(_normalized_text(), " ").alias("w"))
        .filter(F.size("w") >= k)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"array_distinct(transform(sequence(0, size(w)-{k}),"
                    f" i -> concat_ws(' ', slice(w, i+1, {k}))))"
                )
            ).alias("shingle"),
        )
    )


def _minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, h0..h31): min over shingles of xxhash64(shingle, seed_i)
    via explode + 32 partial-min aggregates. (A "map-only"
    array_min(transform(...)) per signature column measures ~2× SLOWER:
    CollapseProject inlines the shingle-array construction into every one
    of the 32 column expressions and higher-order-function lambdas defeat
    subexpression elimination — the groupBy's map-side combine is cheaper
    than 32 rebuilds of the shingle array.)"""
    return sh.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}")
            for i in range(_NUM_PERM)
        ]
    )


def _corpus_signatures(spark, sf_dir: str) -> DataFrame:
    """The documents table's MinHash signature table, PERSISTED once per
    corpus (materialize_once, doc-partitioned): production dedup keeps
    the signature/band index as a standing artifact next to the corpus
    (it's what incremental ingest probes — see llm_dedup_crossset), so
    recomputing the shingle explode + 32 partial-min aggregates per query
    is per-call work only the first time. Deterministic (fixed xxhash64
    seeds) ⇒ the rebuilt table is byte-identical to the cache."""
    sig = _minhash_signatures(_shingles(load_table(spark, sf_dir, "documents")))
    return materialize_once(
        spark, sig, token="v1:minhash_sig:" + sf_dir, partition_col="doc_id",
        n_partitions=8,
    )


def _band_candidates(sig: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs colliding in ≥1 of the 8 LSH bands.

    The equi-join on (band, band_hash) is the only shuffle that touches
    pairs, and it only materializes *colliding* pairs — candidate
    generation stays linear-ish in corpus size, never O(n²). Shared by
    the minhash dedup op, its recall/precision gates, and the LSH-routed
    embedding dedup."""
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[F.col(f"h{b * _ROWS_PER_BAND + r}") for r in range(_ROWS_PER_BAND)]
            ).alias("band_hash"),
        )
        for b in range(_BANDS)
    ]
    banded = sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", "bb.band", "bb.band_hash")
    x, y = banded.alias("x"), banded.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )


@query(
    "llm_dedup_exact",
    oracle=f"""
    SELECT min(doc_id) AS keep_doc_id,
           sha256({_NORM_SQL}) AS content_hash,
           count(*) AS n_dups
    FROM documents
    GROUP BY content_hash
    """,
)
def llm_dedup_exact(spark, sf_dir):
    """Exact dedup: one hash-shuffle, keeps the smallest doc_id per content
    hash. At 100 TB this is the first pass of any dedup pipeline — the
    shuffle key is the 64-hex digest, uniformly distributed, no skew."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.sha2(_normalized_text(), 256).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_dups"))
        .select("keep_doc_id", "content_hash", "n_dups")
    )


@query("llm_dedup_minhash")  # rows-only: xxhash64 seed family is Spark-specific
def llm_dedup_minhash(spark, sf_dir):
    """MinHash-LSH near-dup candidates, fully deterministic.

    signature: min over shingles of xxhash64(shingle, seed_i), i < 32,
               via explode + 32 partial-min aggregates. (A "map-only"
               array_min(transform(...)) per signature column measures
               ~2× SLOWER: CollapseProject inlines the shingle-array
               construction into every one of the 32 column expressions
               and higher-order-function lambdas defeat subexpression
               elimination — the groupBy's map-side combine is cheaper
               than 32 rebuilds of the shingle array.)
    banding:   8 bands × 4 rows; band key = xxhash64 of the band's rows.
    pairs:     equi-join on (band, band_hash) — the only shuffle that
               touches pairs, and it only materializes *colliding* pairs.
    est_jaccard: fraction of agreeing signature positions (the standard
               unbiased MinHash estimate), filtered at ≥ 0.5.

    100 TB: every stage is a groupBy/join on bounded keys; the signature
    agg is 32 mins folded map-side. No cross join anywhere.
    """
    sig = _corpus_signatures(spark, sf_dir)
    cand = _band_candidates(sig)

    sa = sig.alias("sa")
    sb = sig.alias("sb")
    agree = sum(
        F.when(F.col(f"sa.h{i}") == F.col(f"sb.h{i}"), 1).otherwise(0)
        for i in range(_NUM_PERM)
    )
    return (
        cand.join(sa, cand.doc_a == F.col("sa.doc_id"))
        .join(sb, cand.doc_b == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (agree / F.lit(float(_NUM_PERM))).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= 0.5)
        .orderBy("doc_a", "doc_b")
    )


def _exact_jaccard_truth(sh, threshold=0.5):
    """(doc_a, doc_b) pairs with exact shingle Jaccard >= threshold, from
    the shingle-equality join (never all-pairs) — the shared ground truth
    of the MinHash recall and precision gates."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("shared"))
        .join(sizes.withColumnsRenamed({"doc_id": "doc_a", "n": "na"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "n": "nb"}), "doc_b")
        .filter(
            F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
            >= threshold
        )
        .select("doc_a", "doc_b")
    )


@query(
    "llm_dedup_minhash_recall",
    # The MinHash signatures themselves are engine-specific (xxhash64
    # seeds), but their QUALITY is oracle-checkable: DuckDB independently
    # counts the exact-Jaccard>=0.5 ground-truth pairs, and the Spark side
    # emits that count plus a genuinely computed recall>=0.9 flag of the
    # LSH candidate set against it — the same honesty-metric pattern as
    # llm_sim_ann_recall. Both sides are deterministic (fixed seeds), so
    # the flag is stable; measured recall on the planted near-dups is 1.0
    # at sf0.001 and sf0.01.
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      FROM t WHERE len(w) >= 3
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.s, b.s)) AS shared,
             len(a.s) AS na, len(b.s) AS nb
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
           TRUE AS recall_ge_90
    FROM pairs WHERE shared * 1.0 / (na + nb - shared) >= 0.5
    """,
)
def llm_dedup_minhash_recall(spark, sf_dir):
    """Recall of MinHash-LSH candidate generation (8 bands x 4 rows, the
    same banding as ``llm_dedup_minhash``) against exact 3-gram-Jaccard
    >= 0.5 ground truth. The 'measure, don't guess' op for the dedup
    family: before trusting banded LSH at 100 TB you quantify what the
    bands lose. Ground truth comes from the shingle-equality join (only
    docs sharing a shingle can reach 0.5), never an all-pairs job; the
    LSH side is the candidate join from the production operator with no
    est_jaccard filter (recall of CANDIDATE GENERATION, the stage that
    can lose pairs)."""
    sh = _shingles(load_table(spark, sf_dir, "documents"))
    truth = _exact_jaccard_truth(sh)
    cand = _band_candidates(_corpus_signatures(spark, sf_dir))
    found = truth.join(cand, ["doc_a", "doc_b"], "left_semi")
    return truth.agg(F.count("*").alias("n_true")).join(
        found.agg(F.count("*").alias("n_found"))
    ).select(
        F.col("n_true").alias("n_true_pairs"),
        (F.col("n_found") >= 0.9 * F.col("n_true")).alias("recall_ge_90"),
    )


@query(
    "llm_dedup_ngram_jaccard",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      FROM t WHERE len(w) >= 3
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.s, b.s)) AS shared,
             len(a.s) AS na, len(b.s) AS nb
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           round(shared * 1.0 / (na + nb - shared), 6) AS jaccard
    FROM pairs
    WHERE shared * 1.0 / (na + nb - shared) >= 0.8
    """,
)
def llm_dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.8).

    Spark side avoids any cross join: candidate pairs come from a
    shingle-equality self-join (only docs *sharing* a shingle meet), then
    shared counts and per-doc sizes combine into exact Jaccard. At 100 TB
    this exact stage runs on LSH candidates only; the oracle's list_intersect
    cross join is fine at oracle scale but intentionally NOT our plan shape.
    """
    sh = _shingles(load_table(spark, sf_dir, "documents"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))

    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.join(sizes.withColumnsRenamed({"doc_id": "doc_a", "n": "na"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "n": "nb"}), "doc_b")
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= 0.8)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


@query(
    "llm_dedup_crossset",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      FROM t WHERE len(w) >= 3
    ), pairs AS (
      SELECT a.doc_id AS new_doc_id, b.doc_id AS corpus_doc_id,
             len(list_intersect(a.s, b.s)) AS shared,
             len(a.s) AS na, len(b.s) AS nb
      FROM sh a JOIN sh b
        ON a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
    )
    SELECT new_doc_id, corpus_doc_id,
           round(shared * 1.0 / (na + nb - shared), 6) AS jaccard
    FROM pairs
    WHERE shared * 1.0 / (na + nb - shared) >= 0.5
    """,
)
def llm_dedup_crossset(spark, sf_dir):
    """Incremental (cross-set) near-dup: dedup a NEW ingest batch against
    the EXISTING corpus — the form every production dedup pipeline
    actually runs day-to-day (the batch is small; the corpus is the
    100 TB side). Fixture split: doc_id % 10 == 0 is the incoming batch,
    the rest is the standing corpus; output is every (new, corpus) pair
    with exact 3-gram Jaccard ≥ 0.5.

    Scale shape: candidates come from a shingle-equality join of the
    BATCH's shingles against the corpus postings — the corpus is only
    ever touched by the equi-join (shuffle keyed on shingle, prunable to
    a pre-bucketed shingle index at scale); nothing is quadratic in
    corpus size, and batch×corpus all-pairs never materializes. At
    100 TB the standing corpus keeps a persisted MinHash band index and
    the batch probes it (same composition as llm_dedup_minhash), with
    this exact-Jaccard join as the verify stage on band candidates.
    Complements inc_dedup_ingest (exact-hash incremental dedup) with the
    near-dup tier of the same ingest story."""
    sh = _shingles(load_table(spark, sf_dir, "documents"))
    new_sh = sh.filter(F.col("doc_id") % 10 == 0)
    corpus_sh = sh.filter(F.col("doc_id") % 10 != 0)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))

    a, b = new_sh.alias("a"), corpus_sh.alias("b")
    shared = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .groupBy(
            F.col("a.doc_id").alias("new_doc_id"),
            F.col("b.doc_id").alias("corpus_doc_id"),
        )
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.join(
            sizes.withColumnsRenamed({"doc_id": "new_doc_id", "n": "na"}),
            "new_doc_id",
        )
        .join(
            sizes.withColumnsRenamed({"doc_id": "corpus_doc_id", "n": "nb"}),
            "corpus_doc_id",
        )
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select(
            "new_doc_id", "corpus_doc_id", F.round("jaccard", 6).alias("jaccard")
        )
    )


# Corpus-frequency cap for the positional-gram join: a gram occurring f
# times contributes O(f²) candidate rows, so one corpus-hot gram ("in the
# of"-class boilerplate) makes the self-join quadratic in f (VERDICT r3
# "What's wrong" #3).  Grams above the cap are dropped from BOTH the Spark
# plan and the DuckDB oracle, bounding any single gram's contribution to
# cap² rows.  Fixture head-room: measured max gram frequency is 8 at sf0.01
# and 25 at sf0.1 (2026-08-13), ~10× under the cap, so at fixture scale the
# capped result is bit-identical to the uncapped one.
_GRAM_FREQ_CAP = 200

@query(
    "llm_dedup_substring",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
    ), grams0 AS (
      SELECT doc_id, i AS pos, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
      FROM t, LATERAL unnest(range(1, len(w) - 1)) AS r(i)
      WHERE len(w) >= 3
    ), hot AS (
      SELECT g FROM grams0 GROUP BY g HAVING count(*) > {_GRAM_FREQ_CAP}
    ), grams AS (
      SELECT * FROM grams0 a
      WHERE NOT EXISTS (SELECT 1 FROM hot WHERE hot.g = a.g)
    ), m AS (
      -- no DISTINCT: each (doc_id, pos) carries exactly one gram, so the
      -- equi-join emits every (da, db, pa, pb) at most once by construction
      SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
      FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
    ), runs AS (
      SELECT da, db, pa,
             pa - row_number() OVER (PARTITION BY da, db, pa - pb
                                     ORDER BY pa) AS island,
             pa - pb AS diag
      FROM m
    ), spans AS (
      SELECT da AS doc_a, db AS doc_b,
             CAST(MAX(run_len + 2) AS BIGINT) AS max_span_words
      FROM (SELECT da, db, diag, island, COUNT(*) AS run_len
            FROM runs GROUP BY 1, 2, 3, 4)
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, max_span_words FROM spans
    WHERE max_span_words >= 10
    ORDER BY doc_a, doc_b
    """,
)
def llm_dedup_substring(spark, sf_dir):
    """Exact shared-substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): document pairs sharing
    an exact span of >= 10 consecutive words, with the longest shared
    span length.

    Spark-first formulation instead of suffix arrays: positional 3-gram
    equality join -> matches land on diagonals (pa - pb constant for an
    aligned span) -> gaps-and-islands (pa - row_number) turns each maximal
    consecutive run into one group -> max run length + 2 = span words.
    Every step is an equi-join / keyed aggregation / window on the pair
    key — no cross join, no suffix-array build.

    Scale hardening: grams with corpus frequency > _GRAM_FREQ_CAP are
    dropped (broadcast anti-join; the oracle applies the identical HAVING
    filter), so the hottest gram contributes at most cap² join rows instead
    of f². At 100 TB the gram join additionally runs on MinHash-LSH
    candidate pairs only (llm_dedup_minhash feeds it), exactly like the
    exact-Jaccard verify stage."""
    docs = load_table(spark, sf_dir, "documents")
    return _substring_spans(docs, cap=_GRAM_FREQ_CAP)


def _positional_gram_matches(docs: DataFrame, cap: int) -> DataFrame:
    """(da, db, pa, pb) positional 3-gram matches between doc pairs, with
    grams hotter than ``cap`` excluded before the self-join."""
    toks = docs.select(
        "doc_id", F.split(_normalized_text(), " ").alias("w")
    ).filter(F.size("w") >= 3)
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, size(w)-3), i -> concat_ws(' ', slice(w, i+1, 3)))"
            )
        ).alias("pos0", "g"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "g")
    # Materialize the gram table ONCE (r14 optimization round): Catalyst
    # recomputes this subtree — normalize + split + posexplode over the
    # full corpus, the most expensive map work in the plan — for the
    # hot-gram aggregation AND each self-join side (3 tokenization
    # passes). localCheckpoint truncates that: one pass builds the gram
    # table, the hot agg and both join sides read it (4 parquet scans
    # -> 0 in the final plan, plans/r14/llm_dedup_substring_*.txt; at
    # 100 TB this is the persisted gram/posting table every
    # suffix-dedup pipeline keeps next to the corpus).
    grams = grams.localCheckpoint(eager=True)
    # Hot-gram set is tiny by construction (only grams above the cap), so
    # it broadcasts; the anti-join removes every occurrence before the
    # quadratic step.
    hot = grams.groupBy("g").agg(F.count("*").alias("gf")).filter(
        F.col("gf") > cap
    ).select("g")
    grams = grams.join(F.broadcast(hot), "g", "left_anti")
    a, b = grams.alias("a"), grams.alias("b")
    return (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            F.col("a.pos").alias("pa"),
            F.col("b.pos").alias("pb"),
        )
        # no .distinct(): (doc_id, pos) is unique per side (posexplode emits
        # one gram per position), so the join output is already duplicate-
        # free — a distinct here would shuffle the largest intermediate of
        # the whole plan for nothing (measured: removing it cut the sf0.1
        # warm run from 5.6 s to ~4 s and drops one full exchange).
    )


def _substring_spans(docs: DataFrame, cap: int) -> DataFrame:
    m = _positional_gram_matches(docs, cap)
    w_diag = Window.partitionBy("da", "db", F.col("pa") - F.col("pb")).orderBy("pa")
    runs = m.select(
        "da",
        "db",
        "pa",
        (F.col("pa") - F.row_number().over(w_diag)).alias("island"),
        (F.col("pa") - F.col("pb")).alias("diag"),
    )
    return (
        runs.groupBy("da", "db", "diag", "island")
        .agg(F.count("*").alias("run_len"))
        .groupBy(F.col("da").alias("doc_a"), F.col("db").alias("doc_b"))
        .agg((F.max("run_len") + 2).cast("long").alias("max_span_words"))
        .filter(F.col("max_span_words") >= 10)
        .orderBy("doc_a", "doc_b")
    )


def _simhash_prints(spark, docs, token=None):
    """(doc_id, simhash): 64-bit weighted word-count fingerprint.

    Per (doc, word) term counts vote +cnt/−cnt on each bit of
    xxhash64(word); bit is set where the sum is positive. Everything is
    integer arithmetic → bit-stable across runs. Shared by the SimHash
    dedup op and the embedding dedup's distribution routing channel;
    with a ``token`` the print table persists once per corpus (the same
    standing-artifact story as _corpus_signatures — production keeps
    the fingerprint index next to the corpus)."""
    tokens = (
        docs.select(
            "doc_id", F.explode(F.split(_normalized_text(), " ")).alias("word")
        )
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("cnt"))
        .withColumn("h", F.xxhash64("word"))
    )
    bitsum = (
        tokens.select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(0, 63),"
                    " i -> CASE WHEN ((h >> i) & 1) = 1 THEN cnt ELSE -cnt END)"
                )
            ).alias("pos", "contrib"),
        )
        .groupBy("doc_id", "pos")
        .agg(F.sum("contrib").alias("s"))
    )
    prints = bitsum.groupBy("doc_id").agg(
        F.sum(
            F.expr("CASE WHEN s > 0 THEN shiftleft(1L, pos) ELSE 0L END")
        ).alias("simhash")
    )
    if token is not None:
        prints = materialize_once(
            spark, prints, token=token, partition_col="doc_id"
        )
    return prints


def _simhash_block_pairs(prints, max_hamming):
    """Distinct (doc_a < doc_b, hamming) pairs colliding on ≥1 of the 4
    16-bit fingerprint blocks, kept at Hamming ≤ ``max_hamming``.

    The block equi-join is the only shuffle that touches pairs and only
    materializes colliding ones (Manku/Jain/Das Sarma's pigeonhole
    trick) — candidate volume tracks near-identical-distribution mass,
    never O(n²); the Hamming cap then bounds scorer work downstream."""
    blocks = prints.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.expr(
                "transform(sequence(0, 3), b -> (simhash >> (b * 16)) & 65535)"
            )
        ).alias("block", "block_val"),
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


@query("llm_dedup_simhash")  # rows-only: xxhash64 fingerprints are Spark-specific
def llm_dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs: 64-bit weighted fingerprint, Hamming ≤ 3.

    fingerprint: per (doc, word) term counts vote +cnt/−cnt on each bit of
    xxhash64(word); bit is set where the sum is positive. Everything is
    integer arithmetic → bit-stable across runs.

    pair search: the fingerprint splits into 4×16-bit blocks; two prints
    within Hamming distance 3 must agree exactly on ≥1 block (pigeonhole),
    so candidates come from 4 equi-joins (union), never a cross join —
    the standard scale trick for Hamming search over billions of docs.
    """
    d = load_table(spark, sf_dir, "documents")
    return _simhash_block_pairs(_simhash_prints(spark, d), 3).orderBy(
        "doc_a", "doc_b"
    )


@query(
    "llm_dedup_editdist",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w,
             {_NORM_SQL} AS norm FROM documents
    ), sh AS (
      SELECT doc_id, norm,
             list_distinct(list_transform(range(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      FROM t WHERE len(w) >= 3
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.norm AS na, b.norm AS nb
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.s, b.s)) * 1.0
            / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.8
    )
    SELECT doc_a, doc_b,
           CAST(levenshtein(na, nb) AS BIGINT) AS edit_distance,
           round(1.0 - levenshtein(na, nb) * 1.0
                 / greatest(length(na), length(nb)), 6) AS edit_similarity
    FROM pairs
    """,
)
def llm_dedup_editdist(spark, sf_dir):
    """Edit-distance verification of near-dup candidates: Levenshtein on
    normalized text, run ONLY on pairs the cheap blocking already surfaced
    (here the 3-gram Jaccard ≥ 0.8 set; at 100 TB, the MinHash candidates).
    Levenshtein is O(len²) per pair — the whole point of LSH blocking is
    that this scorer never sees the full pair space."""
    sh = _shingles(load_table(spark, sf_dir, "documents"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("shared"))
        .join(sizes.withColumnsRenamed({"doc_id": "doc_a", "n": "na"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "n": "nb"}), "doc_b")
        .filter(
            F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")) >= 0.8
        )
        .select("doc_a", "doc_b")
    )
    norm = load_table(spark, sf_dir, "documents").select(
        "doc_id", _normalized_text().alias("norm")
    )
    return (
        pairs.join(norm.withColumnsRenamed({"doc_id": "doc_a", "norm": "norm_a"}), "doc_a")
        .join(norm.withColumnsRenamed({"doc_id": "doc_b", "norm": "norm_b"}), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("norm_a", "norm_b").cast("long").alias("edit_distance"),
            F.round(
                1.0
                - F.levenshtein("norm_a", "norm_b")
                / F.greatest(F.length("norm_a"), F.length("norm_b")),
                6,
            ).alias("edit_similarity"),
        )
    )


def _observed_sum(obs, labels: DataFrame, timeout_sec: float = 10.0):
    """The Σlabel convergence probe, read from an ``observe()`` attached
    to the eager localCheckpoint action — with a timeout fallback.

    ``Observation.get`` relies on the checkpoint action firing
    QueryExecution listeners (true on current Spark, where
    localCheckpoint runs through withAction) but that is undocumented
    behavior, and ``get`` blocks FOREVER if the metrics event is never
    posted — a silent hang on a Spark upgrade instead of a clean error
    (ADVICE r14 item 3). The checkpoint has already materialized by the
    time this is called, so on a healthy runtime the metric arrives in
    milliseconds; if it hasn't within ``timeout_sec``, fall back to a
    separate one-row aggregate job over the checkpointed labels — the
    exact pre-r14 probe, same value by construction. A ``get`` that
    RAISES takes the same fallback: the exception is caught inside the
    probe thread, so it never escapes as an unhandled-thread traceback."""
    import threading

    out: dict = {}

    def probe():
        try:
            out.update(obs.get)
        except Exception:  # fall through to the aggregate fallback below
            pass

    t = threading.Thread(target=probe, daemon=True)
    t.start()
    t.join(timeout_sec)
    if "s" in out:
        return out["s"]
    return labels.agg(
        F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    ).collect()[0]["s"]


def connected_components(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """Connected components by min-label propagation WITH pointer
    jumping (the shortcutting half of the Kiveris et al. / Shiloach–
    Vishkin family): each round every node adopts the smallest of its
    own label, its neighbors' labels, AND its label's label (a
    NODE-cardinality labels⋈labels self-join, cheaper than the edge
    joins). On well-mixed graphs the shortcut saves little — measured on
    the co-purchase graph: 9 rounds vs 11 neighbor-only at sf0.01, 8 vs
    8 at sf0.1, identical labels — but it is the WORST-CASE insurance
    the 100 TB contract needs: on a path whose node ids descend along
    the chain, pure neighbor diffusion moves the min ONE hop per round
    (O(diameter) rounds — a 200-node chain would blow any fixed budget),
    while label-chain collapsing bounds rounds at O(log n) regardless of
    id layout (pytest: 200-node adversarial chain, 9 rounds). Labels are
    monotone non-increasing and bounded by the component minimum, so the
    fixpoint is unchanged by shortcutting — it only arrives sooner.

    ``edges``: (src, dst). Returns (node, label) with label = smallest
    node id in the component. localCheckpoint between rounds truncates
    the growing lineage (same discipline as k-means); at 100 TB each
    round is two edge-keyed shuffles plus one node-keyed one.

    Raises RuntimeError if ``max_iter`` rounds don't reach the fixpoint:
    unconverged labels are silently WRONG answers (split components),
    and with shortcutting 50 rounds covers diameters to ~2^50 — hitting
    the guard means the input is pathological, not the budget."""
    # Materialize the edge list ONCE: it usually arrives as an expensive
    # similarity join (e.g. the exact-Jaccard pair graph), and leaving it
    # lazy re-runs that join 2× per round in via_src/via_dst plus once in
    # the convergence count. Measured (llm_dedup_clusters, sf0.01,
    # warm session): ~2-3 s with the checkpoint vs re-deriving the pair
    # join every round without it; fresh-session time is codegen-bound
    # (~13 s) either way, and the verify harness's wall time for this op
    # is dominated by the DuckDB recursive-CTE oracle (~21 s), not Spark.
    # Undirected adjacency built ONCE (r14 optimization round): the loop
    # previously ran TWO edge⋈labels joins per round (labels in via src,
    # labels in via dst). Materializing edges ∪ reversed-edges up front
    # makes neighbor-label diffusion a SINGLE join per round over the
    # same total row count — one join stage (and its exchanges) saved per
    # round, identical label flow, so the fixpoint and round count are
    # unchanged.
    e0 = edges.select("src", "dst")
    adj = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    nodes = adj.select(F.col("src").alias("node")).distinct()
    labels = nodes.withColumn("label", F.col("node")).localCheckpoint(eager=True)
    prev_sum = None
    for _ in range(max_iter):
        via = adj.join(labels, adj.src == labels.node).select(
            F.col("dst").alias("node"), "label"
        )
        # pointer jumping: label(label(node)) — a labels⋈labels equi-join
        # on the node key (node-cardinality, cheaper than the edge joins)
        jump = (
            labels.alias("l1")
            .join(labels.alias("l2"), F.col("l1.label") == F.col("l2.node"))
            .select(F.col("l1.node").alias("node"), F.col("l2.label").alias("label"))
        )
        # Convergence via the label-sum invariant: per-node labels are
        # monotone NON-INCREASING (min over a set containing the old
        # label), so Σlabel strictly decreases iff any node changed.
        # r14 (optimization round): the scalar probe rides the
        # checkpoint job itself via observe() — CollectMetrics is
        # populated when the eager localCheckpoint materializes the
        # round's labels, so each round runs ONE job instead of two
        # (checkpoint + separate probe collect). On a dispatch-bound
        # host that probe job was ~0.2-0.3 s/round across ~8 rounds.
        # decimal sum: a billion-node graph with 64-bit ids could
        # overflow a BIGINT Σlabel; decimal(38,0) cannot.
        from pyspark.sql import Observation

        obs = Observation()
        new_labels = (
            labels.select("node", "label")
            .unionByName(via)
            .unionByName(jump)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .observe(
                obs,
                F.sum(F.col("label").cast("decimal(38,0)")).alias("s"),
            )
            .localCheckpoint(eager=True)
        )
        new_sum = _observed_sum(obs, new_labels)
        changed = prev_sum is None or new_sum != prev_sum
        prev_sum = new_sum
        labels = new_labels
        if not changed:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


@query(
    "llm_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      FROM t WHERE len(w) >= 3
    ), p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.s, b.s)) AS shared,
             len(a.s) AS na, len(b.s) AS nb
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    ), sel AS (
      SELECT doc_a, doc_b FROM p
      WHERE shared * 1.0 / (na + nb - shared) >= 0.8
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM sel
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM sel
    ), nodes AS (
      SELECT DISTINCT src AS node FROM edges
    ), reach(node, lab) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
    ), labels AS (
      SELECT node, MIN(lab) AS label FROM reach GROUP BY node
    )
    SELECT label AS canonical_doc,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           array_to_string(list_sort(list(node)), ',') AS member_ids
    FROM labels GROUP BY label ORDER BY canonical_doc
    """,
)
def llm_dedup_clusters(spark, sf_dir):
    """Transitive duplicate clusters: connected components over the exact
    3-gram-Jaccard pair graph (threshold 0.8 — the same edge set
    ``llm_dedup_ngram_jaccard`` oracle-checks). Pairwise dedup alone
    under-deletes (A~B, B~C but A!~C leaves two survivors of one
    cluster); components give each near-dup group one canonical
    representative — the correct survivor rule for corpus dedup at any
    scale. At 100 TB the edge set comes from MinHash-LSH candidates
    verified by this exact-Jaccard stage; the component algorithm
    (min-label propagation with pointer jumping, O(log n) rounds) is
    unchanged. The DuckDB
    twin computes components via a recursive reachability CTE — fine at
    oracle scale, deliberately not our distributed plan shape."""
    pairs = llm_dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    labels = connected_components(pairs)
    return (
        labels.groupBy("label")
        .agg(
            F.count("*").alias("cluster_size"),
            F.sort_array(F.collect_list("node")).alias("members"),
        )
        .select(
            F.col("label").alias("canonical_doc"),
            "cluster_size",
            F.expr("concat_ws(',', transform(members, x -> CAST(x AS STRING)))").alias(
                "member_ids"
            ),
        )
        .orderBy("canonical_doc")
    )


@query(
    "llm_dedup_keeplist",
    oracle=f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      FROM t WHERE len(w) >= 3
    ), p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.s, b.s)) AS shared,
             len(a.s) AS na, len(b.s) AS nb
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    ), sel AS (
      SELECT doc_a, doc_b FROM p
      WHERE shared * 1.0 / (na + nb - shared) >= 0.8
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM sel
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM sel
    ), nodes AS (
      SELECT DISTINCT src AS node FROM edges
    ), reach(node, lab) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
    ), labels AS (
      SELECT node, MIN(lab) AS label FROM reach GROUP BY node
    ), sizes AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM labels GROUP BY label
    )
    SELECT d.doc_id,
           COALESCE(l.label, d.doc_id) AS canonical_doc,
           COALESCE(s.cluster_size, 1) AS cluster_size,
           (l.node IS NULL OR l.label = d.doc_id) AS keep
    FROM documents d
    LEFT JOIN labels l ON l.node = d.doc_id
    LEFT JOIN sizes s ON s.label = l.label
    """,
)
def llm_dedup_keeplist(spark, sf_dir):
    """The user-facing artifact of near-dup dedup: a per-document
    keep/drop verdict. Each transitive duplicate cluster (same edge set
    and components as llm_dedup_clusters) keeps exactly its min-id
    canonical member; documents in no cluster keep trivially.

    This is the table a corpus build actually joins against (``WHERE
    keep``) — clusters alone aren't actionable. Plan: the cluster labels
    are a vertex-table-sized relation (only clustered docs appear), so
    the final step is one LEFT equi-join from documents onto labels plus
    a broadcast-sized per-label count; the corpus is scanned once and
    never shuffled except by the label join key."""
    pairs = llm_dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    labels = connected_components(pairs)
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return (
        d.join(labels, d.doc_id == labels.node, "left")
        .join(sizes, "label", "left")
        .select(
            "doc_id",
            F.coalesce("label", "doc_id").alias("canonical_doc"),
            F.coalesce("cluster_size", F.lit(1)).alias("cluster_size"),
            (F.col("node").isNull() | (F.col("label") == F.col("doc_id"))).alias(
                "keep"
            ),
        )
    )


# --- URL canonicalization dedup --------------------------------------------
# Web-crawl corpora carry the same page under many URL spellings (mirror
# hosts, tracking params, fragments, case). Canonicalize-then-group is the
# standard first dedup pass, upstream of content hashing. No URL column in
# the fixtures → synthesize deterministic variant-rich URLs from document
# attributes (same expression both engines); the canonicalization chain
# below is the production code path.

_RAW_URL_SPARK = (
    "concat('https://', CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END, "
    "source, '.Example.com/', lang, '/t/', CAST(n_chars % 20 AS STRING), "
    "'?page=', CAST(doc_id % 5 AS STRING), "
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN '&utm_source=feed' "
    "WHEN 1 THEN '&ref=mail' ELSE '' END, "
    "'#sec', CAST(doc_id % 4 AS STRING))"
)
_RAW_URL_DUCK = (
    "concat('https://', CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END, "
    "source, '.Example.com/', lang, '/t/', CAST(n_chars % 20 AS VARCHAR), "
    "'?page=', CAST(doc_id % 5 AS VARCHAR), "
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN '&utm_source=feed' "
    "WHEN 1 THEN '&ref=mail' ELSE '' END, "
    "'#sec', CAST(doc_id % 4 AS VARCHAR))"
)


@query(
    "llm_dedup_url",
    oracle=f"""
    WITH u AS (SELECT doc_id, {_RAW_URL_DUCK} AS url FROM documents),
    canon AS (
      SELECT doc_id,
             lower(replace(
               regexp_replace(
                 regexp_replace(url, '#.*$', ''),
                 '&(utm_[a-z_]+|ref)=[^&]*', '', 'g'),
               '://www.', '://')) AS canonical_url
      FROM u
    )
    SELECT canonical_url,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_variants
    FROM canon
    GROUP BY canonical_url
    """,
)
def llm_dedup_url(spark, sf_dir):
    """URL dedup: canonicalize (strip fragment → strip tracking params →
    fold mirror host → lowercase), keep the smallest doc_id per canonical
    URL. One map-only canonicalization pass + one hash agg on the
    canonical key — at 100 TB the agg is the only shuffle, and the key is
    near-uniform (URL-shaped), so no skew handling needed.
    """
    docs = load_table(spark, sf_dir, "documents")
    u = docs.select("doc_id", F.expr(_RAW_URL_SPARK).alias("url"))
    canonical = F.lower(
        F.replace(
            F.regexp_replace(
                F.regexp_replace(F.col("url"), "#.*$", ""),
                "&(utm_[a-z_]+|ref)=[^&]*",
                "",
            ),
            F.lit("://www."),
            F.lit("://"),
        )
    )
    return (
        u.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_variants"),
        )
    )


# Feature-hashing near-dup (the "embedding-cosine near-dup" family): each
# document becomes a sparse 2^16-dim hashed-TF vector (Weinberger et al.,
# "Feature Hashing for Large Scale Multitask Learning") using a portable
# positional-codepoint hash that Spark and DuckDB compute identically:
#   dim(word) = ( sum_i i * codepoint(word[i]) ) % 65536
# Cosine between two docs is then an exact integer sparse dot product over
# SHARED dims only — computed relationally via an equi-join on dim, the same
# scale shape as the shingle join in llm_dedup_ngram_jaccard: docs meet only
# where they share a term bucket, never via a cross join.
_HASH_DIMS = 65536
_EMB_TAU = 0.95

# Spark-side word → dim (codegen'd higher-order fns, no Python):
_WORD_DIM_SPARK = (
    "CAST(aggregate(transform(sequence(1, length(word)),"
    " i -> CAST(i AS BIGINT) * ascii(substring(word, i, 1))),"
    f" 0L, (a, x) -> a + x) % {_HASH_DIMS} AS BIGINT)"
)

# DuckDB twin (ord() == codepoint, same as Spark's ascii() on 1-char strings)
_WORD_DIM_SQL = (
    "CAST(list_sum(list_transform(range(1, len(word) + 1),"
    f" i -> i * ord(word[i]))) % {_HASH_DIMS} AS BIGINT)"
)


@query(
    "llm_dedup_embedding",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS word
      FROM documents
    ), h AS (
      SELECT doc_id, {_WORD_DIM_SQL} AS dim FROM w WHERE len(word) > 0
    ), tf AS (
      SELECT doc_id, dim, CAST(count(*) AS BIGINT) AS cnt
      FROM h GROUP BY doc_id, dim
    ), nsq AS (
      SELECT doc_id, CAST(sum(cnt * cnt) AS DOUBLE) AS nsq FROM tf GROUP BY doc_id
    ), dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(sum(a.cnt * b.cnt) AS DOUBLE) AS dot
      FROM tf a JOIN tf b ON a.dim = b.dim AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    )
    SELECT doc_a, doc_b,
           round(dot / sqrt(na.nsq * nb.nsq), 6) AS cosine
    FROM dots
    JOIN nsq na ON na.doc_id = doc_a
    JOIN nsq nb ON nb.doc_id = doc_b
    WHERE dot / sqrt(na.nsq * nb.nsq) >= {_EMB_TAU}
    """,
)
def llm_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs over hashed-TF document vectors,
    LSH-ROUTED: MinHash band collisions (the shared ``_band_candidates``
    machinery, 8 bands × 4 rows over 3-gram shingles) propose candidate
    pairs; the EXACT integer-cosine scorer then recomputes the full dot
    product over every shared dim for just those pairs and keeps
    cosine ≥ 0.95. The dot product and squared norms are exact BIGINT
    sums (order-independent, so partial-aggregate merge order can't flap
    the driver hash); only the final divide-by-sqrt runs in double,
    which is correctly rounded IEEE in both engines.

    Why routed (the round-4 → round-5 story): the naive dim equi-join is
    quadratic in a bucket's document frequency (measured 92 s at sf0.1 —
    stopword buckets alone generate ~10⁸ join rows). The exact
    prefix-filtered AllPairs formulation (Bayardo, Ma & Srikant WWW'07;
    kept as :func:`_hashed_tf_neardup_pairs`, pytest-checked) fixes that
    on corpora where rare vocabulary separates documents, but this
    fixture is template-heavy — most docs share ≥ 94 % of their squared
    norm — so ~12.1 M of the 12.5 M possible pairs genuinely cleared its
    Cauchy-Schwarz bound and had to be scored (16.7 s at sf0.1). LSH
    banding is the scale answer for that shape: candidate volume is
    proportional to true near-dup mass (band collisions), not to shared
    template mass (measured at sf0.1: 256 candidates instead of 12.1 M,
    and the scorer touches only those).

    Honesty of the routing, measured not guessed: MinHash banding is
    probabilistic — a qualifying pair is proposed with probability
    1-(1-j⁴)⁸ for shingle Jaccard j, so a cosine ≥ 0.95 pair with LOW
    shingle overlap can be missed. Through round 13 that was a real
    driver-visible miss: 255/256 at sf0.1, the one miss a pair with
    shingle Jaccard 0.000 — two docs drawing the same word DISTRIBUTION
    with no 3-gram in common (cosine is a distribution statistic;
    3-gram shingles are a sequence statistic, structurally blind to
    it). Round 14 closes it with a SECOND routing channel matched to
    the miss mode: TF-SimHash block collisions (see _routed_emb_pairs /
    _dist_channel_taupairs), which fingerprint exactly the word
    distribution the cosine measures — the missed pair sits at
    fingerprint Hamming 6 and collides on a 16-bit block, so the union
    proposes it and sf0.1 reads 256/256 (VERDICT r13 item 2, option a).
    The DuckDB oracle stays the BRUTE-FORCE all-pairs SQL so the driver
    gate keeps measuring the full routing risk,
    llm_dedup_embedding_recall gates the union against exact AllPairs
    truth, and callers needing the exact guarantee use
    :func:`_hashed_tf_neardup_pairs` directly.
    """
    return _routed_emb_pairs(spark, sf_dir)


# Distribution-channel Hamming cap: for a cosine-τ pair, each SimHash bit
# flips with probability arccos(τ)/π (Charikar's hyperplane bound) —
# 0.101 at τ=0.95, so E[Hamming] ≈ 6.5 of 64 with σ ≈ 2.4; a cap at 13
# (mean + ~2.7σ) keeps the binomial tail of genuinely qualifying pairs
# under ~1% per pair (each of which still has the MinHash channel) while
# pruning the block-collision stream before the exact scorer. Measured
# at sf0.1: 232 k raw block-collision pairs → 164 k after the cap
# (this template-heavy fixture draws docs from shared word
# distributions, so collisions cluster at Hamming 8-13; the 14-64 band
# the cap removes is 29% of the stream) — either way ~75× fewer scored
# candidates than the 12.1 M the exact AllPairs prefix filter had to
# score here, and the one r13-missed pair (Hamming 6) routes through
# comfortably.
_TF_SIMHASH_MAX_HAMMING = 13


def _dist_channel_taupairs(spark, sf_dir, hint):
    """Exact-scored cosine ≥ τ pairs of the DISTRIBUTION routing channel
    (TF-SimHash 16-bit block collisions at Hamming ≤ 13), persisted as a
    write-once standing artifact keyed by every hyperparameter.

    Why an artifact and not a per-query subplan: this template-heavy
    fixture block-collides 164 k pairs under the cap at sf0.1, and
    exact-scoring them costs ~2.5 s per run (the per-pair map fold is
    never whole-stage-codegen'd) — 2.3× the entire r13 query. The
    channel's output is corpus-determined, tiny (⊆ the true τ-pair
    set), and exactly the kind of derived index production dedup keeps
    next to the corpus (same discipline as the MinHash signature and
    hashed-TF tables this op already persists); the first build pays
    once, every probe after reads a small parquet."""
    docs = load_table(spark, sf_dir, "documents")
    prints = _simhash_prints(
        spark, docs, token="v1:simhash_prints:" + sf_dir
    )
    cand = _simhash_block_pairs(prints, _TF_SIMHASH_MAX_HAMMING).select(
        "doc_a", "doc_b"
    )
    scored = _score_candidate_pairs(
        cand,
        _hashed_tf(spark, docs, token="v1:hashed_tf:" + sf_dir),
        _EMB_TAU,
        hint=hint,
    )
    return materialize_once(
        spark,
        scored,
        token=(
            f"v1:tf_simhash_taupairs:b4x16:h{_TF_SIMHASH_MAX_HAMMING}"
            f":tau{_EMB_TAU}:" + sf_dir
        ),
        n_partitions=1,
    )


def _routed_emb_pairs(spark, sf_dir):
    """The two-channel routed embedding-dedup output, unioned at RESULT
    level (both channels run the same exact scorer at the same τ, so a
    result union is identical to scoring a candidate union):

    - SEQUENCE channel: MinHash band collisions over 3-gram shingles
      (_band_candidates) — catches near-dups that share text runs, the
      dominant real-corpus mode; scored per run (256 candidates at
      sf0.1).
    - DISTRIBUTION channel: TF-SimHash block collisions
      (_dist_channel_taupairs) — catches pairs whose WORD HISTOGRAMS
      nearly coincide even with zero shared 3-grams, the mode cosine-τ
      qualifies but shingle banding is structurally blind to; scored
      once per corpus into a standing artifact.

    Both channels are corpus-linear probes of persisted index tables;
    unions of exact-scored channels are always safe — a new channel can
    only add true pairs, never flip one."""
    hint = _emb_docvec_hint(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    seq = _score_candidate_pairs(
        _band_candidates(_corpus_signatures(spark, sf_dir)),
        _hashed_tf(spark, docs, token="v1:hashed_tf:" + sf_dir),
        _EMB_TAU,
        hint=hint,
    )
    dist = _dist_channel_taupairs(spark, sf_dir, hint)
    return seq.unionByName(dist).distinct()


def _hashed_tf(spark, docs, token=None):
    """(doc_id, dim, cnt) hashed-TF postings of ``docs`` (doc_id + text).

    tf feeds several plan branches (df, norms, index, vectors) — with a
    ``token``, materialize it once, doc-partitioned, instead of re-running
    the explode+groupBy per branch (measured: the recomputation dominated
    the first cut; skipped for in-memory test corpora)."""
    words = docs.select(
        "doc_id", F.explode(F.split(_normalized_text(), " ")).alias("word")
    ).filter(F.length("word") > 0)
    tf = (
        words.select("doc_id", F.expr(_WORD_DIM_SPARK).alias("dim"))
        .groupBy("doc_id", "dim")
        .agg(F.count("*").alias("cnt"))
    )
    if token is not None:
        tf = materialize_once(spark, tf, token=token, partition_col="doc_id")
    return tf


def _hashed_tf_neardup_pairs(spark, docs, tau, token=None, hint=F.broadcast):
    """Prefix-filtered exact cosine ≥ ``tau`` pairs over hashed-TF vectors
    of ``docs`` (needs doc_id + text) — Bayardo/Ma/Srikant AllPairs; the
    EXACT formulation kept for corpora where rare vocabulary separates
    documents. The registered llm_dedup_embedding routes through LSH
    candidates instead (see its docstring for the trade and measurements).

    ``hint`` passes through to the scorer's docvec joins: registered
    callers supply :func:`_emb_docvec_hint`'s byte-gated result
    (code-review r8: the recall twin's truth branch used the ungated
    default, re-opening VERDICT r7 item #2 on that one path); the
    broadcast default remains for bounded in-memory test corpora.
    """
    tf = _hashed_tf(spark, docs, token=token)
    nsq = tf.groupBy("doc_id").agg(
        F.sum(F.col("cnt") * F.col("cnt")).alias("nsq")
    )
    dfreq = tf.groupBy("dim").agg(F.count("*").alias("df"))

    # Indexed postings: per doc, running cnt² total in hottest-first order;
    # a row is excluded while the running total (including itself) holds
    # ≤ 94% of the doc's squared norm. The rarest dim always survives
    # (cum = nsq there), so every doc indexes at least one posting.
    w = (
        Window.partitionBy("doc_id")
        .orderBy(F.col("df").desc(), F.col("dim").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    indexed = (
        tf.join(dfreq, "dim")
        .withColumn("cum", F.sum(F.col("cnt") * F.col("cnt")).over(w))
        .join(nsq, "doc_id")
        .filter(F.lit(50) * F.col("cum") > F.lit(47) * F.col("nsq"))
        .select("doc_id", "dim")
    )
    # Probe with FULL postings against the indexed prefix (the AllPairs
    # asymmetry): a pair is missed only when every shared dim is excluded
    # by BOTH docs, which is what the Cauchy-Schwarz bound needs. The join
    # stays cheap because the indexed side carries no stopword postings
    # (df_full(d)·df_indexed(d) per dim, and df_indexed ≈ 0 for hot dims).
    # Generation is split so the both-indexed case isn't emitted twice
    # (once per direction): idx⋈idx under a<b, plus nonidx⋈idx in either
    # direction — measured ~35% fewer rows into the pair distinct.
    nonidx = tf.join(indexed, ["doc_id", "dim"], "left_anti")
    both = indexed.alias("a").join(
        indexed.alias("b"),
        (F.col("a.dim") == F.col("b.dim"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    one_side = nonidx.alias("a").join(
        indexed.alias("b"),
        (F.col("a.dim") == F.col("b.dim"))
        & (F.col("a.doc_id") != F.col("b.doc_id")),
    )
    # Distinct BEFORE scoring: the raw candidate stream carries ~2.5×
    # duplicate pairs (one per shared indexed dim), and the per-pair map
    # fold is the expensive step — scoring duplicates instead of paying
    # one pair shuffle measured >120 s vs 16.7 s at sf0.1, so the
    # distinct-first order is the measured winner, not a guess.
    cand = (
        both.select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .unionByName(
            one_side.select(
                F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
            )
        )
        .distinct()
    )
    return _score_candidate_pairs(cand, tf, tau, hint=hint)


# 256 MiB of source corpus parquet: under this the per-doc sparse-vector
# table (one map row per document) broadcasts comfortably; far over it the
# table is corpus-proportional (one row per doc, ~23 map entries each) and
# must not be hinted — same gate discipline as textstats._lm_count_table_hint.
_EMB_BROADCAST_GATE_BYTES = 256 << 20


def _emb_docvec_hint(spark, sf_dir, gate_bytes=None):
    """Broadcast hint for the embedding scorer's doc-vector table, gated
    on measured corpus bytes (VERDICT r7 "What's wrong" #2 — the comment
    said 'at 100 TB these become ordinary shuffle joins' but nothing
    enforced it; an unconditional hint is honored into executor OOM).
    The gate reads file sizes through the Hadoop FS API (io.table_bytes):
    no Spark job at plan-construction time. Under the gate the docvec
    broadcast makes the dot stage map-only over the candidate stream;
    over it no hint is planted — the joins fall back to doc-id shuffles
    co-partitioned with the aggregation that BUILT docvec, and AQE picks
    the strategy from runtime sizes."""
    if gate_bytes is None:
        gate_bytes = _EMB_BROADCAST_GATE_BYTES  # late-bound: tests repoint it
    return byte_gated_broadcast(spark, sf_dir, "documents", gate_bytes)


def _score_candidate_pairs(cand, tf, tau, hint=F.broadcast):
    """Exact cosine ≥ ``tau`` over (doc_a, doc_b) candidate pairs given the
    (doc_id, dim, cnt) postings table ``tf``.

    ``hint`` wraps the two docvec join sides; registered queries pass
    :func:`_emb_docvec_hint`'s byte-gated result so the broadcast only
    happens when the corpus provably fits (the docvec table is
    corpus-proportional — one row per document).

    Exact dot over ALL shared dims, but only for candidate pairs. Each
    doc's whole sparse vector rides along as ONE map column (docs here
    average ~23 distinct dims), so the per-pair dot is a single codegen'd
    map_zip_with + aggregate — O(|a|+|b|) per candidate with no postings
    re-join (the earlier candidates⋈tf⋈tf formulation materialized
    ~280 M join rows at sf0.1 and measured 65 s; this one is ~4 s)."""
    docvec = tf.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("dim", "cnt"))).alias("vec"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("double").alias("nsq"),
    )
    dot = F.expr(
        "CAST(aggregate(map_values(map_zip_with(va, vb,"
        " (k, x, y) -> coalesce(x, 0L) * coalesce(y, 0L))),"
        " 0L, (acc, v) -> acc + v) AS DOUBLE)"
    )
    cosine = F.col("dot") / F.sqrt(F.col("na_nsq") * F.col("nb_nsq"))
    # One row per DOC on the docvec side vs the candidate-pair stream:
    # under the byte gate both small sides broadcast so the dot stage is
    # map-only over the candidates; over it these are ordinary doc-id
    # shuffle joins (enforced by the gate, not just promised).
    return (
        cand.join(
            hint(
                docvec.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("vec").alias("va"),
                    F.col("nsq").alias("na_nsq"),
                )
            ),
            "doc_a",
        )
        .join(
            hint(
                docvec.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("vec").alias("vb"),
                    F.col("nsq").alias("nb_nsq"),
                )
            ),
            "doc_b",
        )
        .withColumn("dot", dot)
        .filter(cosine >= F.lit(tau))
        .select("doc_a", "doc_b", F.round(cosine, 6).alias("cosine"))
    )


@query(
    "llm_dedup_embedding_recall",
    # Same honesty-metric pattern as llm_dedup_minhash_recall: DuckDB
    # independently counts the brute-force cosine>=0.95 truth pairs, and
    # the Spark side emits that count (computed via the EXACT prefix-
    # filtered AllPairs plan — provably equal to brute force) plus a
    # genuinely measured recall flag of the two-channel-ROUTED
    # production output against it. Measured recall: 1.0 at sf0.001,
    # sf0.01 AND sf0.1 since the r14 distribution channel landed (the
    # r13-era MinHash-only routing read 255/256 = 0.996 at sf0.1).
    # Deterministic both sides (fixed xxhash64 seeds), so the flag
    # cannot flap.
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS word
      FROM documents
    ), h AS (
      SELECT doc_id, {_WORD_DIM_SQL} AS dim FROM w WHERE len(word) > 0
    ), tf AS (
      SELECT doc_id, dim, CAST(count(*) AS BIGINT) AS cnt
      FROM h GROUP BY doc_id, dim
    ), nsq AS (
      SELECT doc_id, CAST(sum(cnt * cnt) AS DOUBLE) AS nsq FROM tf GROUP BY doc_id
    ), dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(sum(a.cnt * b.cnt) AS DOUBLE) AS dot
      FROM tf a JOIN tf b ON a.dim = b.dim AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
           TRUE AS recall_ge_99
    FROM dots
    JOIN nsq na ON na.doc_id = doc_a
    JOIN nsq nb ON nb.doc_id = doc_b
    WHERE dot / sqrt(na.nsq * nb.nsq) >= {_EMB_TAU}
    """,
)
def llm_dedup_embedding_recall(spark, sf_dir):
    """Recall gate of the two-channel-routed llm_dedup_embedding against
    exact AllPairs cosine truth — the 'measure, don't guess' twin that
    makes the routing's probabilistic candidate stage driver-checkable
    (see llm_dedup_embedding's docstring for the measured numbers and
    the r14 distribution channel that closed the one sf0.1 miss)."""
    docs = load_table(spark, sf_dir, "documents")
    hint = _emb_docvec_hint(spark, sf_dir)  # one FS-metadata walk, both branches
    truth = _hashed_tf_neardup_pairs(
        spark,
        docs,
        tau=_EMB_TAU,
        token="v1:hashed_tf:" + sf_dir,
        hint=hint,
    ).select("doc_a", "doc_b")
    routed = _routed_emb_pairs(spark, sf_dir).select("doc_a", "doc_b")
    found = truth.join(routed, ["doc_a", "doc_b"], "left_semi")
    return truth.agg(F.count("*").alias("n_true")).join(
        found.agg(F.count("*").alias("n_found"))
    ).select(
        F.col("n_true").alias("n_true_pairs"),
        (F.col("n_found") >= 0.99 * F.col("n_true")).alias("recall_ge_99"),
    )


@query(
    "llm_dedup_paragraph",
    # Ordering key: lexicographic MIN over struct(doc_id, pos) — both
    # engines define struct comparison field-by-field, so the keeper is
    # the true first occurrence with NO bound on chunks per document
    # (the earlier doc_id*1000+pos integer key silently mis-keyed any
    # document with >1000 chunks; see tests/test_llm.py planted case).
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), c AS (
      SELECT doc_id, i AS pos,
             array_to_string(w[i*10+1:i*10+10], ' ') AS chunk
      FROM t, unnest(range(0, CAST(ceil(len(w) / 10.0) AS BIGINT))) AS u(i)
    ), keeper AS (
      SELECT chunk, MIN(struct_pack(doc_id := doc_id, pos := pos)) AS k
      FROM c GROUP BY chunk
    ), kept AS (
      SELECT k.doc_id AS doc_id, k.pos AS pos, chunk FROM keeper
    ), agg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
             string_agg(chunk, ' ' ORDER BY pos) AS dedup_text
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(ceil(len(t.w) / 10.0) AS BIGINT) AS n_chunks,
           COALESCE(agg.n_kept, 0) AS n_kept,
           COALESCE(agg.dedup_text, '') AS dedup_text
    FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
    """,
)
def llm_dedup_paragraph(spark, sf_dir):
    """Corpus-wide segment-level dedup — the RefinedWeb / MassiveText
    "remove text spans duplicated across documents" pass, at the
    granularity every web pipeline actually uses (paragraph-sized chunks,
    here fixed 10-word segments since the fixture text has no newlines).

    Keep exactly the FIRST occurrence (smallest (doc_id, pos)) of every
    distinct chunk corpus-wide, then reassemble each document from its
    surviving chunks in original order.

    Plan shape, chosen for 100 TB:
    - chunking is map-only array ops (split → strided slice → posexplode);
    - the global first-occurrence pass is ``groupBy(chunk).agg(min(key))``
      — a hash aggregate with MAP-SIDE PARTIAL COMBINE, so a chunk that
      appears a billion times (boilerplate headers, the classic skew case
      in web corpora) collapses to one row per input partition *before*
      the shuffle. A window (row_number over partition-by-chunk) would
      ship every instance of the hot chunk to one reducer; the agg form
      is the skew-safe formulation of the same semantics.
    - reassembly is one groupBy(doc_id) over the *surviving* chunks only
      (strictly smaller than the corpus), and the final doc join is a
      plain equi-join on doc_id that AQE plans.

    The first-occurrence key is ``min(struct(doc_id, pos))`` — lexicographic
    struct comparison on both engines, valid for any number of chunks per
    document (no packed-integer overflow trap).
    """
    return paragraph_dedup(load_table(spark, sf_dir, "documents"))


def paragraph_dedup(d: DataFrame) -> DataFrame:
    """(doc_id, text, …) → (doc_id, n_chunks, n_kept, dedup_text); see
    :func:`llm_dedup_paragraph` for semantics and plan-shape notes."""
    chunks = (
        d.select("doc_id", F.split("text", " ").alias("w"))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(0, int(ceil(size(w) / 10.0)) - 1),"
                    " i -> concat_ws(' ', slice(w, i * 10 + 1, 10)))"
                )
            ).alias("pos", "chunk"),
        )
    )
    keeper = chunks.groupBy("chunk").agg(
        F.min(F.struct("doc_id", "pos")).alias("k")
    )
    agg = (
        keeper.select(
            F.col("k.doc_id").alias("doc_id"),
            F.col("k.pos").alias("pos"),
            "chunk",
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("dedup_text"),
        )
    )
    n = d.select(
        "doc_id",
        F.ceil(F.size(F.split("text", " ")) / 10.0).cast("long").alias("n_chunks"),
    )
    return n.join(agg, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        F.coalesce("dedup_text", F.lit("")).alias("dedup_text"),
    )


@query(
    "llm_dedup_minhash_precision",
    # Precision twin of llm_dedup_minhash_recall: DuckDB independently
    # counts the exact-Jaccard>=0.5 truth pairs; Spark reports that count
    # plus a genuinely measured precision flag of the PRODUCTION MinHash
    # output (est_jaccard>=0.5 filtered) against it. Together the two ops
    # bound the sketch from both sides — recall says what the bands lose,
    # precision says what the estimate lets through. Measured margin:
    # precision = 1.0 at sf0.001 and sf0.01 vs the 0.8 gate.
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      FROM t WHERE len(w) >= 3
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.s, b.s)) AS shared,
             len(a.s) AS na, len(b.s) AS nb
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
           TRUE AS precision_ge_80
    FROM pairs WHERE shared * 1.0 / (na + nb - shared) >= 0.5
    """,
)
def llm_dedup_minhash_precision(spark, sf_dir):
    """Precision of the production MinHash output (band candidates
    filtered at est_jaccard >= 0.5) against exact 3-gram-Jaccard >= 0.5
    truth — the other half of the sketch's honesty bound (see
    llm_dedup_minhash_recall for the recall half). A broken estimator
    that floods candidates would pass a recall gate trivially; only a
    precision gate catches it."""
    sh = _shingles(load_table(spark, sf_dir, "documents"))
    truth = _exact_jaccard_truth(sh)
    cand = llm_dedup_minhash(spark, sf_dir).select("doc_a", "doc_b")
    good = cand.join(truth, ["doc_a", "doc_b"], "left_semi")
    return truth.agg(F.count("*").alias("n_true_pairs")).join(
        cand.agg(F.count("*").alias("n_cand")).join(
            good.agg(F.count("*").alias("n_good"))
        )
    ).select(
        "n_true_pairs",
        (F.col("n_good") >= 0.8 * F.col("n_cand")).alias("precision_ge_80"),
    )


@query(
    "llm_dedup_containment",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      FROM t WHERE len(w) >= 3
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.s, b.s)) AS shared,
             len(a.s) AS na, len(b.s) AS nb
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(shared AS BIGINT) AS shared,
           CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
           CASE WHEN na <= nb THEN doc_a ELSE doc_b END AS contained_doc,
           round(shared * 1.0 / least(na, nb), 6) AS containment
    FROM pairs
    WHERE shared * 1.0 / least(na, nb) >= 0.9
    """,
)
def llm_dedup_containment(spark, sf_dir):
    """Shingle CONTAINMENT pairs (Broder 1997, "On the resemblance and
    containment of documents"): containment(A in B) = |S(A) ∩ S(B)| /
    |S(A)| over 3-gram shingle sets, reported as shared/min(|A|,|B|)
    with the contained (smaller) side named. This is the subset-duplicate
    detector Jaccard structurally misses: a short doc fully embedded in
    a 10× longer one has Jaccard ≈ 0.1 (far below any dedup threshold)
    but containment 1.0 — the quote-expansion / boilerplate-wrapper case
    every web corpus is full of.

    Same scale shape as llm_dedup_ngram_jaccard: candidate pairs ONLY
    from the shingle-equality self-join (docs must share ≥1 shingle to
    meet — never doc × doc); shared counts fall out of that join's
    groupBy; sizes join on from the per-doc aggregate. At 100 TB the
    exact stage runs on MinHash band candidates exactly like the
    routed llm_dedup_embedding."""
    sh = _shingles(load_table(spark, sf_dir, "documents"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.join(sizes.withColumnsRenamed({"doc_id": "doc_a", "n": "na"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "n": "nb"}), "doc_b")
        .withColumn(
            "containment", F.col("shared") / F.least("na", "nb")
        )
        .filter(F.col("containment") >= 0.9)
        .select(
            "doc_a",
            "doc_b",
            F.col("shared").cast("long").alias("shared"),
            F.col("na").cast("long").alias("na"),
            F.col("nb").cast("long").alias("nb"),
            F.when(F.col("na") <= F.col("nb"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("contained_doc"),
            F.round("containment", 6).alias("containment"),
        )
    )


@query(
    "llm_dedup_threshold_sweep",
    oracle=f"""
    WITH samp AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w
      FROM documents
      WHERE substring(md5('doc|' || CAST(doc_id AS VARCHAR)), 1, 2) < '80'
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      FROM samp WHERE len(w) >= 3
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.s, b.s)) * 1.0
               / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jac
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    ), thr AS (
      SELECT CAST(unnest([0.3, 0.5, 0.7, 0.8, 0.9]) AS DOUBLE) AS threshold
    ), hit AS (
      SELECT t.threshold, p.doc_a, p.doc_b
      FROM thr t LEFT JOIN pairs p ON p.jac >= t.threshold
    ), np AS (
      SELECT threshold, CAST(COUNT(doc_a) AS BIGINT) AS n_pairs FROM hit
      GROUP BY threshold
    ), nd AS (
      SELECT threshold, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_docs_flagged
      FROM (SELECT threshold, unnest([doc_a, doc_b]) AS d FROM hit)
      GROUP BY threshold
    )
    SELECT np.threshold, n_pairs, n_docs_flagged,
           CAST((SELECT COUNT(*) FROM samp) AS BIGINT) AS n_sample,
           round(n_docs_flagged * 1.0 / (SELECT COUNT(*) FROM samp), 6)
             AS dup_rate
    FROM np JOIN nd USING (threshold)
    ORDER BY threshold
    """,
)
def llm_dedup_threshold_sweep(spark, sf_dir):
    """Dedup-threshold tuning curve: near-dup pair counts and flagged-doc
    rates at five Jaccard thresholds, measured on a deterministic ~50%
    content-hash sample. This is how a threshold gets CHOSEN before
    running llm_dedup_ngram_jaccard/minhash on the full corpus — sweep
    on a sample, read the elbow, then commit the fleet-scale run to one
    threshold. Sampling is md5-bucketed (the sample_fraction idiom), so
    the sweep is reproducible across engines and runs.

    Plan shape: the sample's exact Jaccard pairs come from the same
    shared-shingle equi-join as llm_dedup_ngram_jaccard (docs that share
    no gram never meet — valid because every swept threshold is > 0);
    the 5-row threshold table then LEFT-joins the pair list so
    zero-duplicate corpora still report all five rows. Sample size keeps
    the pair stage bounded regardless of corpus size; at 100 TB the
    sample rate drops to ~0.1% and the shape is unchanged."""
    d = load_table(spark, sf_dir, "documents")
    samp = d.filter(
        F.substring(
            F.md5(F.concat(F.lit("doc|"), F.col("doc_id").cast("string"))), 1, 2
        )
        < "80"
    )
    sh = _shingles(samp)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("shared"))
        .join(sizes.withColumnsRenamed({"doc_id": "doc_a", "n": "na"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "n": "nb"}), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("shared")
                / (F.col("na") + F.col("nb") - F.col("shared"))
            ).alias("jac"),
        )
    )
    thr = spark.createDataFrame(
        [(t,) for t in (0.3, 0.5, 0.7, 0.8, 0.9)], "threshold double"
    )
    hit = thr.join(pairs, F.col("jac") >= F.col("threshold"), "left")
    np_ = hit.groupBy("threshold").agg(
        F.count("doc_a").cast("long").alias("n_pairs")
    )
    nd = (
        hit.select(
            "threshold", F.explode(F.array("doc_a", "doc_b")).alias("d")
        )
        .groupBy("threshold")
        .agg(F.count_distinct("d").cast("long").alias("n_docs_flagged"))
    )
    n_sample = F.broadcast(samp.agg(F.count("*").cast("long").alias("n_sample")))
    return (
        np_.join(nd, "threshold")
        .crossJoin(n_sample)
        .select(
            "threshold",
            "n_pairs",
            "n_docs_flagged",
            "n_sample",
            F.round(F.col("n_docs_flagged") / F.col("n_sample"), 6).alias(
                "dup_rate"
            ),
        )
        .orderBy("threshold")
    )


@query(
    "llm_dedup_simhash_recall",
    # Same honesty-metric pattern as llm_dedup_minhash_recall: the 64-bit
    # fingerprints are engine-specific (xxhash64 bit votes), but the
    # detector's QUALITY against an exact, DuckDB-computable ground truth
    # is not. The oracle counts exact 3-gram-Jaccard>=0.5 pairs; the
    # Spark side emits that count plus a genuinely computed recall flag
    # of the Hamming<=3 SimHash pair set against it. The gate is set from
    # measurement, not hope (see docstring); precision vs the Jaccard
    # truth is REPORTED there rather than gated because it is
    # corpus-size-dependent (feature-space mismatch — measured 0.78 /
    # 0.88 / 0.36 at sf0.001 / 0.01 / 0.1).
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      FROM t WHERE len(w) >= 3
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.s, b.s)) AS shared,
             len(a.s) AS na, len(b.s) AS nb
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
           TRUE AS recall_ge_50
    FROM pairs WHERE shared * 1.0 / (na + nb - shared) >= 0.5
    """,
)
def llm_dedup_simhash_recall(spark, sf_dir):
    """Recall of SimHash Hamming≤3 pair detection against exact
    3-gram-Jaccard ≥ 0.5 ground truth — the honesty twin that was
    missing for the one rows-only dedup op without one (VERDICT r5 §2
    table). Measured recall: 0.75 @ sf0.001 (21/28), 0.60 @ sf0.01
    (15/25), 0.74 @ sf0.1 (189/256); the gate pins what the measurement
    supports across scales (recall ≥ 0.5). Precision against the SAME
    truth is deliberately reported, not gated: it measures 0.78 / 0.88 /
    0.36 across those scales because the feature spaces differ — SimHash
    fingerprints word-count (cosine-like) similarity while the truth is
    shingle Jaccard, and at larger corpora more count-similar but
    shingle-dissimilar doc pairs land within Hamming 3. The routing
    conclusion stands: MinHash-LSH keeps recall 1.0 on this truth — use
    it when recall matters; SimHash buys cheap fixed-width fingerprints
    whose precision must be judged against a cosine-style truth
    (llm_dedup_embcos is that oracle for embeddings).

    Ground truth comes from the shingle-equality join (only docs sharing
    a shingle can reach 0.5) — never all-pairs; the SimHash side is the
    production operator's pigeonhole block join unchanged. Scalar-count
    joins only."""
    sh = _shingles(load_table(spark, sf_dir, "documents"))
    truth = _exact_jaccard_truth(sh)
    sim = llm_dedup_simhash(spark, sf_dir).select("doc_a", "doc_b")
    found = truth.join(sim, ["doc_a", "doc_b"], "left_semi")
    return (
        truth.agg(F.count("*").alias("n_true"))
        .join(found.agg(F.count("*").alias("n_found")))
        .select(
            F.col("n_true").alias("n_true_pairs"),
            (F.col("n_found") >= 0.5 * F.col("n_true")).alias("recall_ge_50"),
        )
    )


@query(
    "llm_dup_cluster_histogram",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), c AS (
      SELECT array_to_string(w[i*10+1:i*10+10], ' ') AS chunk
      FROM t, unnest(range(0, CAST(ceil(len(w) / 10.0) AS BIGINT))) AS u(i)
    ), clusters AS (
      SELECT chunk, COUNT(*) AS sz FROM c GROUP BY chunk
    ), hist AS (
      SELECT sz AS cluster_size, COUNT(*) AS n_clusters,
             sz * COUNT(*) AS n_chunks
      FROM clusters GROUP BY sz
    ), tot AS (SELECT SUM(n_chunks) AS t FROM hist)
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(n_clusters AS BIGINT) AS n_clusters,
           CAST(n_chunks AS BIGINT) AS n_chunks,
           round(n_chunks * 1.0 / t, 6) AS pct_chunks
    FROM hist JOIN tot ON TRUE
    ORDER BY cluster_size
    """,
)
def llm_dup_cluster_histogram(spark, sf_dir):
    """Duplicate-cluster size distribution at the paragraph-chunk grain —
    the report a dedup run is judged by (C4/RefinedWeb publish exactly
    this table): for each duplicated-segment cluster size, how many
    clusters exist and what fraction of the corpus sits in them. A fat
    tail (one chunk appearing in 0.1 % of documents) is boilerplate the
    removal pass must absorb skew-safely; an all-1s table means segment
    dedup is done and the spend moves to MinHash. Chunking is the SAME
    10-word segmentation as llm_dedup_paragraph, so this histogram is
    that op's before-picture (the fixture has chunk clusters up to size
    6 but zero whole-document dups, which is why the doc grain would be
    a vacuous 1-row report).

    Plan: one chunk-keyed shuffle with map-side combine (hot boilerplate
    chunks collapse per-partition before the exchange — the same
    skew-safe agg formulation as the paragraph op), then a second
    aggregation over the cluster table onto the tiny size domain, plus a
    one-row total crossJoined back — nothing after the first shuffle is
    corpus-sized."""
    d = load_table(spark, sf_dir, "documents")
    chunks = (
        d.select(F.split("text", " ").alias("w"))
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(0, CAST(ceil(size(w) / 10.0) AS INT) - 1),"
                    " i -> array_join(slice(w, i * 10 + 1, 10), ' '))"
                )
            ).alias("chunk")
        )
    )
    clusters = chunks.groupBy("chunk").agg(F.count("*").alias("sz"))
    hist = clusters.groupBy("sz").agg(F.count("*").alias("n_clusters"))
    hist = hist.select(
        F.col("sz").cast("long").alias("cluster_size"),
        F.col("n_clusters").cast("long").alias("n_clusters"),
        (F.col("sz") * F.col("n_clusters")).cast("long").alias("n_chunks"),
    )
    tot = hist.agg(F.sum("n_chunks").alias("t"))
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "cluster_size",
            "n_clusters",
            "n_chunks",
            F.round(F.col("n_chunks") / F.col("t"), 6).alias("pct_chunks"),
        )
        .orderBy("cluster_size")
    )


@query(
    "llm_dedup_softweight",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, sha256({_NORM_SQL}) AS content_hash FROM documents
    ), c AS (
      SELECT content_hash, COUNT(*) AS cluster_size FROM h GROUP BY 1
    ), w AS (
      SELECT h.doc_id, c.cluster_size,
             round(1.0 / c.cluster_size, 6) AS soft_weight
      FROM h JOIN c USING (content_hash)
    )
    SELECT doc_id, CAST(cluster_size AS BIGINT) AS cluster_size,
           soft_weight,
           (SELECT round(CAST(CAST(SUM(CAST(cluster_size AS DECIMAL(18,0))
                                       * CAST(round(1.0 / cluster_size, 6)
                                              AS DECIMAL(18,6)))
                                   AS VARCHAR)
                              AS DOUBLE), 6)
            FROM c) AS effective_docs
    FROM w ORDER BY doc_id
    """,
)
def llm_dedup_softweight(spark, sf_dir):
    """Soft deduplication: instead of DROPPING duplicates, every document
    keeps a training weight 1/cluster_size (exact-content clusters — the
    llm_dedup_exact hash), so each distinct content contributes unit mass
    to the loss regardless of how many copies the crawl delivered. This
    is the reweighting alternative to removal (SoftDeDup / D4-style):
    it preserves natural distribution shape for mixture decisions while
    killing the duplication gradient bias, and composes with
    llm_data_mixture's quota logic (weight multiplies in). The
    ``effective_docs`` column (Σ weights = number of distinct contents,
    up to 6-dp rounding) is the dataset's deduplicated effective size —
    the number a token-budget plan should use instead of raw row count.

    Plan: one hash-shuffle on the 64-hex digest (uniform, no skew), one
    count-sized join back on the digest (co-partitioned with the agg
    that built it), and a one-row broadcast sum for effective_docs
    computed from the COUNT-SIZED cluster table alone (decimal-summed,
    merge-order-independent; ReuseExchange shares the digest agg's
    shuffle between the join and the sum). At 100 TB: the dedup_exact
    shape plus a map-side joined weight column."""
    d = load_table(spark, sf_dir, "documents")
    h = d.select("doc_id", F.sha2(_normalized_text(), 256).alias("content_hash"))
    c = h.groupBy("content_hash").agg(F.count("*").alias("cluster_size"))
    w = h.join(c, "content_hash").select(
        "doc_id",
        "cluster_size",
        F.round(F.lit(1.0) / F.col("cluster_size"), 6).alias("soft_weight"),
    )
    # effective_docs needs only the COUNT-SIZED cluster table — per-doc
    # weights within a cluster are identical, so Σ_docs w = Σ_clusters
    # n·round(1/n, 6); deriving it from ``c`` keeps the corpus lineage
    # single-pass (code-review r8: the per-doc form re-ran the sha256 +
    # count join a second time under the aggregate)
    eff = c.agg(
        F.round(
            d2d(
                F.sum(
                    F.col("cluster_size").cast("decimal(18,0)")
                    * F.round(F.lit(1.0) / F.col("cluster_size"), 6).cast(
                        "decimal(18,6)"
                    )
                )
            ),
            6,
        ).alias("effective_docs")
    )
    return (
        w.crossJoin(F.broadcast(eff))
        .select(
            "doc_id",
            F.col("cluster_size").cast("long").alias("cluster_size"),
            "soft_weight",
            "effective_docs",
        )
        .orderBy("doc_id")
    )
