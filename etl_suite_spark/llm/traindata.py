"""Training-data pipeline operators (SURVEY.md §2.10 extension): the
corpus-engineering steps between "deduped documents" and "training batches".

- sequence packing: assign documents to fixed token-budget bins via a
  per-source prefix sum — the batch-construction step of every LLM
  trainer. Prefix-sum binning (documents may straddle a bin boundary and
  be split at tokenization time) keeps it a pure window computation; the
  strict greedy variant (never split a doc) is a sequential fold and
  would go through applyInPandas per source group.
- decontamination: drop training documents sharing any word 3-gram with
  a held-out benchmark set — the eval-leakage guard. Shingle equi-join
  against a broadcast benchmark shingle set; never a cross join.
- Gopher-style repetition filters: fraction-of-duplicate-2-grams and
  top-word-frequency per document (Rae et al. 2021, "Scaling Language
  Models" — the repetition subset of its quality rules).
- deterministic stratified sampling: per-language rates via an
  arithmetic (Knuth multiplicative) hash of doc_id — reproducible across
  engines and runs, unlike RNG-based ``df.sample``.
- mixture quotas: keep documents per source until a token budget is hit
  (running sum per source) — the data-mixing step that balances sources.

All five are pure window/join/HOF compositions — every stage shuffles on
uniform keys (source, lang, shingle) and parallelizes across them, so
the shapes hold at 100 TB; all five are DuckDB-oracle checked.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..core import d2d
from ..io import load_table
from ..registry import query
from .dedup import _NORM_SQL, _SHINGLE_SETS_SQL, _normalized_text, _shingles

_PACK_BUDGET = 2048  # tokens per packed sequence bin
_MIX_QUOTA = 5000  # token quota per source

# whitespace token count over normalized text, both engines
_TOK_SQL = f"len(string_split({_NORM_SQL}, ' '))"


def _n_tokens() -> F.Column:
    return F.size(F.split(_normalized_text(), " "))


@query(
    "llm_seq_packing",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id, {_TOK_SQL} AS n_tokens FROM documents
    ), c AS (
      SELECT source, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM t
    )
    SELECT source, doc_id, n_tokens,
           CAST(FLOOR((cum_tokens - n_tokens) / {_PACK_BUDGET}.0) AS BIGINT) AS bin,
           CAST((cum_tokens - n_tokens) % {_PACK_BUDGET} AS BIGINT) AS bin_offset
    FROM c ORDER BY source, doc_id
    """,
)
def llm_seq_packing(spark, sf_dir):
    """Pack documents into {_PACK_BUDGET}-token bins per source.

    bin = which budget window the document *starts* in (prefix-sum
    binning). The window partitions by source, so packing parallelizes
    across sources — no global single-partition sort; at 100 TB the
    per-source window is the right unit because mixture quotas are
    per-source anyway."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", _n_tokens().alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    start = F.col("cum_tokens") - F.col("n_tokens")
    return c.select(
        "source",
        "doc_id",
        "n_tokens",
        F.floor(start / _PACK_BUDGET).alias("bin"),
        (start % _PACK_BUDGET).alias("bin_offset"),
    ).orderBy("source", "doc_id")


def contaminated_docs(docs):
    """(doc_id) of the training docs (doc_id % 50 ≠ 0) of ``docs`` that
    share any word 3-gram with the benchmark split (doc_id % 50 = 0); see
    :func:`llm_decontaminate` for the plan shape."""
    sh = _shingles(docs)
    bench_sh = (
        sh.filter(F.col("doc_id") % 50 == 0).select("shingle").distinct()
    )
    return (
        sh.filter(F.col("doc_id") % 50 != 0)
        .join(F.broadcast(bench_sh), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )


@query(
    "llm_decontaminate",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(w) - 1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
      FROM t WHERE len(w) >= 3
    ), bench AS (
      SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0
    ), dirty AS (
      SELECT DISTINCT doc_id FROM sh
      WHERE doc_id % 50 <> 0 AND shingle IN (SELECT shingle FROM bench)
    )
    SELECT doc_id FROM documents
    WHERE doc_id % 50 <> 0 AND doc_id NOT IN (SELECT doc_id FROM dirty)
    ORDER BY doc_id
    """,
)
def llm_decontaminate(spark, sf_dir):
    """Benchmark decontamination: training docs (doc_id % 50 ≠ 0) that
    share ANY word 3-gram with the held-out benchmark split (doc_id % 50
    = 0) are dropped.

    The benchmark shingle set is small by construction (eval sets are),
    so it broadcasts; contamination detection is then a map-side semi
    join on the shingle — the big side is scanned once, no shuffle of
    pairs. This is how eval-leakage scrubbing runs at 100 TB (cf. GPT-3
    appendix C / PaLM's 13-gram overlap, here 3-gram at fixture scale)."""
    docs = load_table(spark, sf_dir, "documents")
    dirty = contaminated_docs(docs)
    return (
        docs.filter(F.col("doc_id") % 50 != 0)
        .join(dirty, "doc_id", "left_anti")
        .select("doc_id")
        .orderBy("doc_id")
    )


@query(
    "llm_quality_gopher",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
    ), words AS (
      SELECT doc_id, unnest(w) AS word FROM t
    ), wc AS (
      SELECT doc_id, word, COUNT(*) AS c FROM words GROUP BY doc_id, word
    ), tops AS (
      SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_words FROM wc GROUP BY doc_id
    ), grams AS (
      SELECT doc_id,
             len(w) - 1 AS n2,
             len(list_distinct(list_transform(range(1, len(w)),
                 i -> w[i] || ' ' || w[i+1]))) AS d2
      FROM t WHERE len(w) >= 2
    )
    SELECT tops.doc_id, CAST(n_words AS BIGINT) AS n_words,
           round(top_c * 1.0 / n_words, 6) AS frac_top_word,
           round(1 - COALESCE(d2 * 1.0 / n2, 1.0), 6) AS frac_dup_2gram,
           (top_c * 1.0 / n_words <= 0.2
            AND 1 - COALESCE(d2 * 1.0 / n2, 1.0) <= 0.5) AS keep
    FROM tops LEFT JOIN grams ON tops.doc_id = grams.doc_id
    ORDER BY tops.doc_id
    """,
)
def llm_quality_gopher(spark, sf_dir):
    """Repetition-based quality filters à la Gopher: per-document
    top-word frequency fraction and duplicate-2-gram fraction, plus the
    keep/drop verdict (top word ≤ 20% of tokens, ≤ 50% duplicate
    2-grams).

    The 2-gram stats are map-only higher-order functions; the top-word
    stat is two groupBys on (doc_id, word) then (doc_id) — both uniform
    keys, both with map-side partial aggregation. No per-doc Python."""
    return gopher_metrics(load_table(spark, sf_dir, "documents")).orderBy("doc_id")


def gopher_metrics(docs):
    """(doc_id, text, …) → (doc_id, n_words, frac_top_word,
    frac_dup_2gram, keep). Reused by the corpus pipeline's quality
    stage; see :func:`llm_quality_gopher` for the plan-shape notes."""
    d = docs.select("doc_id", F.split(_normalized_text(), " ").alias("w"))
    wc = (
        d.select("doc_id", F.explode("w").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
    )
    tops = wc.groupBy("doc_id").agg(
        F.max("c").alias("top_c"), F.sum("c").alias("n_words")
    )
    grams = d.filter(F.size("w") >= 2).select(
        "doc_id",
        (F.size("w") - 1).alias("n2"),
        F.size(
            F.expr(
                "array_distinct(transform(sequence(0, size(w)-2),"
                " i -> concat(element_at(w, i+1), ' ', element_at(w, i+2))))"
            )
        ).alias("d2"),
    )
    frac_top = F.col("top_c") / F.col("n_words")
    frac_dup = 1 - F.coalesce(F.col("d2") / F.col("n2"), F.lit(1.0))
    return (
        tops.join(grams, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            F.round(frac_top, 6).alias("frac_top_word"),
            F.round(frac_dup, 6).alias("frac_dup_2gram"),
            ((frac_top <= 0.2) & (frac_dup <= 0.5)).alias("keep"),
        )
    )


_GREEDY_OUT = (
    "source string, doc_id long, n_tokens int, bin long, bin_offset long"
)


def _greedy_pack_pdf(pdf):
    """Sequential first-fit fold within one source group: a document never
    splits across bins; a doc that won't fit opens the next bin (an
    oversized doc gets a bin alone)."""
    import pandas as pd

    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    bins, offsets = [], []
    cur_bin, cur_fill = 0, 0
    for t in pdf["n_tokens"]:
        if cur_fill + t > _PACK_BUDGET and cur_fill > 0:
            cur_bin += 1
            cur_fill = 0
        bins.append(cur_bin)
        offsets.append(cur_fill)
        cur_fill += t
    return pd.DataFrame(
        {
            "source": pdf["source"],
            "doc_id": pdf["doc_id"],
            "n_tokens": pdf["n_tokens"],
            "bin": bins,
            "bin_offset": offsets,
        }
    )


@query(
    "llm_seq_packing_greedy",
    # the sequential fold IS SQL-expressible via a recursive CTE that
    # advances every source group one document per iteration, carrying
    # (bin, fill) as the recursion state — fine at oracle scale,
    # deliberately not the distributed plan shape
    oracle=f"""
    WITH RECURSIVE d AS (
      SELECT source, doc_id, CAST({_TOK_SQL} AS INT) AS n_tokens,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ), walk AS (
      SELECT source, rn, doc_id, n_tokens,
             CAST(0 AS BIGINT) AS bin, CAST(0 AS BIGINT) AS bin_offset
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.source, d.rn, d.doc_id, d.n_tokens,
             CASE WHEN w.bin_offset + w.n_tokens + d.n_tokens > {_PACK_BUDGET}
                       AND w.bin_offset + w.n_tokens > 0
                  THEN w.bin + 1 ELSE w.bin END,
             CASE WHEN w.bin_offset + w.n_tokens + d.n_tokens > {_PACK_BUDGET}
                       AND w.bin_offset + w.n_tokens > 0
                  THEN CAST(0 AS BIGINT) ELSE w.bin_offset + w.n_tokens END
      FROM walk w JOIN d ON d.source = w.source AND d.rn = w.rn + 1
    )
    SELECT source, doc_id, n_tokens, bin, bin_offset FROM walk
    ORDER BY source, doc_id
    """,
)
def llm_seq_packing_greedy(spark, sf_dir):
    """Strict greedy packing — documents never straddle a bin boundary.

    A sequential fold (each decision depends on the running fill), so it
    can't be a window expression; it runs as applyInPandas per source
    group — the correct Spark shape for per-group sequential logic: one
    shuffle on the group key, then a single Arrow-batched pass per group.
    At 100 TB the unit of sequential work stays one source's doc list;
    sources pack in parallel. Deterministic: groups sort by doc_id inside
    the UDF, and output is a pure function of the group."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", _n_tokens().cast("int").alias("n_tokens")
    )
    return (
        d.groupBy("source")
        .applyInPandas(_greedy_pack_pdf, schema=_GREEDY_OUT)
        .orderBy("source", "doc_id")
    )


@query(
    "sample_group_fixed",
    oracle="""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                 ORDER BY (doc_id * 2654435761) % 999999937, doc_id) AS rn
      FROM documents)
    WHERE rn <= 20 ORDER BY doc_id
    """,
)
def sample_group_fixed(spark, sf_dir):
    """Fixed-size uniform sample per group (reservoir-sampling semantics,
    derandomized): exactly min(20, group size) docs per language, chosen
    by multiplicative-hash rank — the same docs on every engine, run, and
    partitioning. At 100 TB the per-group rank is a window over the group
    partition only (no global sort); for extreme groups, pre-filter with
    an approximate hash threshold so the window sees ~n survivors."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        ((F.col("doc_id") * F.lit(2654435761)) % 999999937).asc(),
        F.col("doc_id").asc(),
    )
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@query(
    "sample_stratified",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE (doc_id * 2654435761) % 1000 <
          CASE WHEN lang = 'en' THEN 500 ELSE 200 END
    ORDER BY doc_id
    """,
)
def sample_stratified(spark, sf_dir):
    """Deterministic stratified sample: 50% of English docs, 20% of every
    other language, selected by a Knuth multiplicative hash of doc_id —
    no RNG, so the sample is identical on any engine, any run, any
    partitioning (unlike ``df.sample``, whose RNG is partition-dependent).
    Map-only: the predicate pushes to the scan; at 100 TB the sample
    never materializes the unsampled remainder."""
    d = load_table(spark, sf_dir, "documents")
    h = (F.col("doc_id") * F.lit(2654435761)) % 1000
    rate = F.when(F.col("lang") == "en", 500).otherwise(200)
    return d.filter(h < rate).select("doc_id", "lang").orderBy("doc_id")


@query(
    "llm_data_mixture",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id, {_TOK_SQL} AS n_tokens FROM documents
    ), c AS (
      SELECT source, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM t
    )
    SELECT source, doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= {_MIX_QUOTA}
    ORDER BY source, doc_id
    """,
)
def llm_data_mixture(spark, sf_dir):
    """Per-source token quota (data mixing): keep each source's documents
    in doc_id order until {_MIX_QUOTA} cumulative tokens, drop the rest.
    One window per source partition — parallel across sources, and the
    running sum stops mattering once past the quota (a 100 TB variant
    would pre-filter with an approximate per-source token count so the
    window only runs over ~quota-sized prefixes)."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", _n_tokens().alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= _MIX_QUOTA)
        .orderBy("source", "doc_id")
    )


@query(
    "llm_quality_c4",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), m AS (
      SELECT doc_id,
             len(w) AS n_words,
             list_aggregate(list_transform(w, x -> len(x)), 'sum') * 1.0
               / len(w) AS mean_word_len,
             list_has_any(w, ['the', 'a', 'and', 'of', 'to']) AS has_stopword,
             len(list_distinct(w)) * 1.0 / len(w) AS distinct_frac,
             list_aggregate(list_transform(w, x -> len(x)), 'max')
               AS max_word_len
      FROM t
    )
    SELECT doc_id, n_words,
           round(mean_word_len, 6) AS mean_word_len,
           has_stopword,
           round(distinct_frac, 6) AS distinct_frac,
           CAST(max_word_len AS BIGINT) AS max_word_len,
           (n_words >= 20 AND mean_word_len BETWEEN 2.0 AND 12.0
            AND has_stopword AND distinct_frac >= 0.2
            AND max_word_len <= 30) AS keep
    FROM m
    """,
)
def llm_quality_c4(spark, sf_dir):
    """C4-style rule-based quality gate (Raffel et al. 2020, adapted to a
    punctuation-free fixture corpus): per-document word count bounds, mean
    word length bounds, stopword presence, lexical-diversity floor, and a
    max-token-length cap, combined into one keep/drop verdict.

    The C4 paper's line-level rules (terminal punctuation, >=3 sentences)
    have no signal in this fixture (zero newlines/periods), so the word-
    level subset is what's implemented; each rule is emitted as its own
    column so downstream can re-mix thresholds without re-scanning.

    Plan shape: ENTIRELY map-only — one split plus array higher-order
    functions (aggregate / arrays_overlap / array_distinct / array_max)
    inside whole-stage codegen. Zero shuffles, zero Python: at 100 TB this
    is a pure scan-speed pass, unlike the gopher/quality_score variants
    that need per-word aggregation shuffles. This is the filter you run
    FIRST in a corpus pipeline, precisely because it's free.
    """
    d = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    lens = F.transform(w, F.length)
    sum_len = F.aggregate(lens, F.lit(0), lambda acc, x: acc + x)
    n_words = F.size(w)
    mean_word_len = sum_len / n_words
    has_stopword = F.arrays_overlap(
        w, F.array(*[F.lit(s) for s in ["the", "a", "and", "of", "to"]])
    )
    distinct_frac = F.size(F.array_distinct(w)) / n_words
    max_word_len = F.array_max(lens)
    keep = (
        (n_words >= 20)
        & mean_word_len.between(2.0, 12.0)
        & has_stopword
        & (distinct_frac >= 0.2)
        & (max_word_len <= 30)
    )
    return d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        has_stopword.alias("has_stopword"),
        F.round(distinct_frac, 6).alias("distinct_frac"),
        max_word_len.cast("long").alias("max_word_len"),
        keep.alias("keep"),
    )


@query(
    "sample_weighted",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             round(round(ln(((doc_id * 2654435761) % 1000000 + 0.5)
                           / 1000000.0), 6) / n_chars, 9) AS es_key
      FROM documents
    )
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS weight,
           CAST(rnk AS BIGINT) AS rank
    FROM (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY lang
                                ORDER BY es_key DESC, doc_id) AS rnk
      FROM keyed
    )
    WHERE rnk <= 5
    ORDER BY lang, rank
    """,
)
def sample_weighted(spark, sf_dir):
    """Weighted sampling WITHOUT replacement, 5 docs per language,
    inclusion probability ∝ document length — the Efraimidis–Spirakis
    exponential-race (A-ES, 2006): each item draws key u^(1/w) (here the
    order-equivalent ln(u)/w) and the top-k keys per group ARE a weighted
    sample. The uniform u is a Knuth-hash of doc_id, NOT an RNG — the
    sample is a pure function of the data, identical across engines,
    runs, and partitionings (the property that makes a training-data
    mixture reproducible, and this oracle checkable; same discipline as
    sample_stratified). Cross-engine float safety: ln() is rounded to
    6 dp BEFORE the weight division and the key to 9 dp before ranking,
    with doc_id as the total tiebreak — libm's last-ulp freedom cannot
    reorder ranks. Plan: map-only key computation + one per-group top-k
    window; at 100 TB the window input can be pre-pruned with a per-
    partition top-k (the standard TakeOrderedAndProject refinement)."""
    d = load_table(spark, sf_dir, "documents")
    u = ((F.col("doc_id") * F.lit(2654435761)) % 1000000 + 0.5) / 1000000.0
    es_key = F.round(F.round(F.log(u), 6) / F.col("n_chars"), 9)
    w = Window.partitionBy("lang").orderBy(F.col("es_key").desc(), "doc_id")
    return (
        d.select("doc_id", "lang", "n_chars", es_key.alias("es_key"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("long").alias("weight"),
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("lang", "rank")
    )


@query(
    "llm_curriculum_order",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) * 1.0
               / len(string_split(text, ' ')) AS ttr
      FROM documents
    ), b AS (
      SELECT doc_id, n_tokens,
             ntile(3) OVER (ORDER BY ttr, doc_id) AS difficulty,
             row_number() OVER (
               PARTITION BY ntile_b ORDER BY ttr, doc_id) AS pos_in_bucket
      FROM (SELECT *, ntile(3) OVER (ORDER BY ttr, doc_id) AS ntile_b FROM m)
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(difficulty AS BIGINT) AS difficulty,
           CAST(row_number() OVER (ORDER BY pos_in_bucket, difficulty, doc_id)
                AS BIGINT) AS curriculum_pos
    FROM b
    """,
)
def llm_curriculum_order(spark, sf_dir):
    """Curriculum ordering for training data (Bengio et al. 2009 applied
    the way data teams actually do it): rank documents by a difficulty
    proxy (type-token ratio — low-diversity repetitive text is 'easy'),
    split into 3 difficulty terciles with ntile, then INTERLEAVE the
    terciles round-robin so every training window sees a stable easy/
    medium/hard mixture instead of a sorted difficulty ramp collapsing
    batch diversity. The interleave is pure window arithmetic (position
    within tercile, then (position, tercile) lexicographic) — a global
    total order, but over per-doc scalars, and at 100 TB the global sort
    becomes the final write's range partitioner (sortWithinPartitions by
    the curriculum key), not a single-reducer sort. Deterministic: every
    ORDER BY carries doc_id."""
    d = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    m = d.select(
        "doc_id",
        F.size(w).cast("long").alias("n_tokens"),
        (F.size(F.array_distinct(w)) / F.size(w)).alias("ttr"),
    )
    wd = Window.orderBy("ttr", "doc_id")
    b = m.withColumn("difficulty", F.ntile(3).over(wd)).withColumn(
        "pos_in_bucket",
        F.row_number().over(
            Window.partitionBy("difficulty").orderBy("ttr", "doc_id")
        ),
    )
    return b.select(
        "doc_id",
        "n_tokens",
        F.col("difficulty").cast("long").alias("difficulty"),
        F.row_number()
        .over(Window.orderBy("pos_in_bucket", "difficulty", "doc_id"))
        .cast("long")
        .alias("curriculum_pos"),
    )


@query(
    "llm_span_corruption",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), tok AS (
      SELECT doc_id, u.pos, w[u.pos + 1] AS word,
             ((doc_id * 1000003 + u.pos) % 1000000) * 2654435761 % 1000000
               < 150000 AS masked
      FROM t, unnest(range(0, len(w))) AS u(pos)
    ), flagged AS (
      SELECT doc_id, pos, word, masked,
             masked AND NOT COALESCE(
               lag(masked) OVER (PARTITION BY doc_id ORDER BY pos), FALSE)
               AS head
      FROM tok
    ), numbered AS (
      SELECT doc_id, pos, word, masked, head,
             SUM(CASE WHEN head THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
               AS k
      FROM flagged
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
           CAST(SUM(CASE WHEN head THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
           COALESCE(string_agg(
             CASE WHEN NOT masked THEN word
                  WHEN head THEN '<extra_id_' || CAST(k AS VARCHAR) || '>'
             END, ' ' ORDER BY pos), '') AS corrupted,
           COALESCE(string_agg(
             CASE WHEN masked AND head
                  THEN '<extra_id_' || CAST(k AS VARCHAR) || '> ' || word
                  WHEN masked THEN word
             END, ' ' ORDER BY pos), '') AS target
    FROM numbered GROUP BY doc_id
    """,
)
def llm_span_corruption(spark, sf_dir):
    """T5-style span corruption (Raffel et al. 2020): deterministically
    mask ~15% of token positions, collapse each consecutive masked run
    into one ``<extra_id_k>`` sentinel in the corrupted input, and emit
    the target sequence (sentinel followed by the original span tokens)
    — the denoising-objective example builder, as a relational query.
    The mask is the repo's standard reproducible uniform (Knuth
    multiplicative hash of (doc_id, pos), inner mod keeping the product
    inside BIGINT on both engines): a backfill regenerates byte-identical
    examples, which RNG masking cannot.

    Scale shape: posexplode fans each doc into positions; every window
    (lag for span heads, running sum for sentinel numbering) shares ONE
    (doc_id, pos) partitioning — a single exchange + sort serves all
    three — and the rebuild is one groupBy(doc_id) whose concat_ws skips
    the non-emitting positions (nulls) on both engines. Everything is
    JVM-side built-ins; at 100 TB this is one shuffle of the exploded
    corpus, embarrassingly parallel across documents."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "word"),
    ).withColumn(
        "masked",
        ((F.col("doc_id") * 1000003 + F.col("pos")) % 1000000)
        * 2654435761
        % 1000000
        < 150000,
    )
    bypos = Window.partitionBy("doc_id").orderBy("pos")
    upto = bypos.rowsBetween(Window.unboundedPreceding, 0)
    flagged = tok.withColumn(
        "head",
        F.col("masked")
        & ~F.coalesce(F.lag("masked").over(bypos), F.lit(False)),
    )
    numbered = flagged.withColumn(
        "k",
        F.sum(F.when(F.col("head"), 1).otherwise(0)).over(upto) - 1,
    )
    sentinel = F.concat(F.lit("<extra_id_"), F.col("k").cast("string"), F.lit(">"))
    ct = (
        F.when(~F.col("masked"), F.col("word"))
        .when(F.col("head"), sentinel)
    )
    tt = (
        F.when(
            F.col("masked") & F.col("head"),
            F.concat(sentinel, F.lit(" "), F.col("word")),
        )
        .when(F.col("masked"), F.col("word"))
    )
    return (
        numbered.select("doc_id", "pos", "masked", "head", ct.alias("ct"), tt.alias("tt"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("masked"), 1).otherwise(0))
            .cast("long")
            .alias("n_masked"),
            F.sum(F.when(F.col("head"), 1).otherwise(0))
            .cast("long")
            .alias("n_spans"),
            F.concat_ws(
                " ",
                F.expr("transform(array_sort(collect_list(struct(pos, ct))), x -> x.ct)"),
            ).alias("corrupted"),
            F.concat_ws(
                " ",
                F.expr("transform(array_sort(collect_list(struct(pos, tt))), x -> x.tt)"),
            ).alias("target"),
        )
    )


@query(
    "llm_mixture_epochs",
    oracle=f"""
    WITH t AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM({_TOK_SQL}) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), s AS (
      SELECT *, CAST(round(sqrt(n_tokens), 6) AS DECIMAL(18,6)) AS sq FROM t
    ), tot AS (
      SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
             CAST(CAST(SUM(sq) AS VARCHAR) AS DOUBLE) AS tot_sq
      FROM s
    )
    SELECT source, n_docs, n_tokens,
           round(n_tokens * 1.0 / tot_tokens, 6) AS raw_share,
           round(CAST(CAST(sq AS VARCHAR) AS DOUBLE) / tot_sq, 6) AS weight,
           round(500000 * (CAST(CAST(sq AS VARCHAR) AS DOUBLE) / tot_sq)
                 / n_tokens, 6) AS effective_epochs
    FROM s, tot ORDER BY source
    """,
)
def llm_mixture_epochs(spark, sf_dir):
    """Temperature-smoothed mixture planning (τ = 0.5): per source, the
    raw token share, the √-smoothed sampling weight
    wᵢ = √tᵢ / Σ√t (the multilingual temperature-sampling scheme of
    XLM-R / mT5, exponent 1/2), and the EFFECTIVE EPOCHS each source
    repeats under a 500k-token training budget — epochsᵢ = B·wᵢ/tᵢ.
    This is the table a data-mixing decision actually reads:
    temperature smoothing up-samples small sources, and the epochs
    column says by how much (>1 ⇒ the source repeats; >>1 ⇒ memorize
    risk — llm_data_mixture's quota cut is the enforcement side).

    Exponent 1/2 deliberately: sqrt is IEEE-correctly-rounded on both
    engines (a general pow(x, τ) is not), and the smoothed weights sum
    through a 6-dp decimal so the normalizer is merge-order-exact.

    Plan shape: one map-combined agg to |sources| rows, two broadcast
    single-row totals, scalar math — constant output, any corpus."""
    t = load_table(spark, sf_dir, "documents").groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(_n_tokens()).cast("long").alias("n_tokens"),
    )
    s = t.withColumn(
        "sq", F.round(F.sqrt("n_tokens"), 6).cast("decimal(18,6)")
    )
    tot = F.broadcast(
        s.agg(
            F.sum("n_tokens").cast("long").alias("tot_tokens"),
            d2d(F.sum("sq")).alias("tot_sq"),
        )
    )
    weight = d2d(F.col("sq")) / F.col("tot_sq")
    return (
        s.crossJoin(tot)
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("tot_tokens"), 6).alias("raw_share"),
            F.round(weight, 6).alias("weight"),
            F.round(F.lit(500000) * weight / F.col("n_tokens"), 6).alias(
                "effective_epochs"
            ),
        )
        .orderBy("source")
    )


@query(
    "llm_packing_efficiency",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id, {_TOK_SQL} AS n_tokens FROM documents
    ), c AS (
      SELECT source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    ), bins AS (
      SELECT source, FLOOR((cum - n_tokens) / {_PACK_BUDGET}.0) AS bin,
             SUM(n_tokens) AS bin_tokens
      FROM c GROUP BY 1, 2
    ), bucketed AS (
      SELECT LEAST(bin_tokens * 10 // {_PACK_BUDGET}, 10) AS fill_bucket,
             COUNT(*) AS n_bins, SUM(bin_tokens) AS tokens
      FROM bins GROUP BY 1
    )
    SELECT CAST(fill_bucket AS BIGINT) AS fill_bucket,
           CAST(n_bins AS BIGINT) AS n_bins,
           round(tokens * 1.0 / (n_bins * {_PACK_BUDGET}), 6) AS avg_fill,
           round(SUM(tokens) OVER () * 1.0
                 / (SUM(n_bins) OVER () * {_PACK_BUDGET}), 6)
             AS overall_utilization
    FROM bucketed ORDER BY fill_bucket
    """,
)
def llm_packing_efficiency(spark, sf_dir):
    """Fill-rate report for llm_seq_packing's bins — the readout that
    justifies (or indicts) the packing budget: bins bucketed by fill
    decile (a doc straddling the boundary books to its starting bin, so
    fill > 100% buckets to 10), per-bucket mean fill, and the overall
    token utilization = tokens / (bins × budget). Low utilization means
    the budget fights the document length distribution
    (llm_length_histogram shows why); the greedy packer
    (llm_seq_packing_greedy) is the fix this report motivates.

    Determinism: fills are ratios of exact integer token sums; the
    decile bucket is pure integer arithmetic (tokens·10 // budget) —
    no float bucket edges.

    Plan shape: the same per-source prefix-sum window as the packer,
    then two map-combined aggs onto an ≤11-row bucket domain and an
    11-row total window."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", _n_tokens().alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.withColumn("cum", F.sum("n_tokens").over(w))
    bins = c.groupBy(
        "source",
        F.floor((F.col("cum") - F.col("n_tokens")) / _PACK_BUDGET).alias("bin"),
    ).agg(F.sum("n_tokens").alias("bin_tokens"))
    bucketed = bins.groupBy(
        F.least(
            F.expr(f"(bin_tokens * 10) div {_PACK_BUDGET}"), F.lit(10).cast("long")
        ).alias("fill_bucket")
    ).agg(
        F.count("*").cast("long").alias("n_bins"),
        F.sum("bin_tokens").alias("tokens"),
    )
    wall = Window.partitionBy()
    return bucketed.select(
        "fill_bucket",
        "n_bins",
        F.round(F.col("tokens") / (F.col("n_bins") * _PACK_BUDGET), 6).alias(
            "avg_fill"
        ),
        F.round(
            F.sum("tokens").over(wall)
            / (F.sum("n_bins").over(wall) * _PACK_BUDGET),
            6,
        ).alias("overall_utilization"),
    ).orderBy("fill_bucket")


def _composite_oracle() -> str:
    """Assembled at registration from the registry's own oracle strings,
    so the composite can NEVER drift from its constituent gates — edit
    a rule in llm_quality_c4 and this oracle follows automatically."""
    from ..registry import ORACLES

    return f"""
    WITH c4 AS ({ORACLES["llm_quality_c4"]}),
    gopher AS ({ORACLES["llm_quality_gopher"]})
    SELECT c4.doc_id,
           c4.keep AS c4_keep,
           gopher.keep AS gopher_keep,
           c4.keep AND gopher.keep AS keep,
           concat_ws(',',
             CASE WHEN NOT c4.keep THEN 'c4' END,
             CASE WHEN NOT gopher.keep THEN 'gopher' END) AS reasons
    FROM c4 JOIN gopher ON gopher.doc_id = c4.doc_id
    ORDER BY c4.doc_id
    """


@query("llm_quality_composite", oracle=_composite_oracle())
def llm_quality_composite(spark, sf_dir):
    """The filter CASCADE every corpus pipeline actually ships: the
    map-only C4 rule gate AND the Gopher repetition gate, joined per
    document into one keep/drop verdict with machine-readable reason
    codes (FineWeb/RefinedWeb-style: cheap rules first, each retained
    as its own column so thresholds can be re-mixed without re-scanning;
    reasons are ''/'c4'/'gopher'/'c4,gopher'). Composed from the
    REGISTERED constituent queries on both sides — the Spark plan calls
    the same functions, the oracle splices the same oracle SQL — so the
    composite tracks rule changes by construction.

    Plan shape: both gates aggregate to one row per doc before the
    equi-join on doc_id, and the C4 side is map-only, so the join cost
    is the gopher side's existing shuffle — composition adds one
    doc-domain join, nothing over the token stream."""
    from ..registry import QUERIES

    c4 = QUERIES["llm_quality_c4"](spark, sf_dir).select(
        "doc_id", F.col("keep").alias("c4_keep")
    )
    gopher = QUERIES["llm_quality_gopher"](spark, sf_dir).select(
        "doc_id", F.col("keep").alias("gopher_keep")
    )
    return (
        c4.join(gopher, "doc_id")
        .select(
            "doc_id",
            "c4_keep",
            "gopher_keep",
            (F.col("c4_keep") & F.col("gopher_keep")).alias("keep"),
            F.concat_ws(
                ",",
                F.when(~F.col("c4_keep"), "c4"),
                F.when(~F.col("gopher_keep"), "gopher"),
            ).alias("reasons"),
        )
        .orderBy("doc_id")
    )


@query(
    "llm_sft_pairs",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
    ), ok AS (
      SELECT doc_id, lang, w, len(w) AS nw FROM t WHERE len(w) >= 24
    )
    SELECT doc_id, lang,
           'Summarize:\n' || array_to_string(w[1:16], ' ') AS prompt,
           array_to_string(w[17:least(80, nw)], ' ') AS completion,
           CAST(17 AS BIGINT) AS n_prompt_tokens,
           CAST(least(80, nw) - 16 AS BIGINT) AS n_completion_tokens,
           nw - 16 > 64 AS truncated
    FROM ok ORDER BY doc_id
    """,
)
def llm_sft_pairs(spark, sf_dir):
    """SFT example assembly: render (prompt, completion) pairs from the
    corpus under a fixed template and a completion token budget — the
    step between "clean documents" and "instruction-tuning batches"
    that every fine-tuning pipeline runs (template splice, prompt/
    completion token accounting, budget truncation with an explicit
    truncated flag so downstream loss masking can drop clipped tails).
    Here: prompt = the template plus the first 16 words, completion =
    the next ≤64 words; docs under 24 words are dropped (too short to
    yield a non-trivial pair). n_prompt_tokens counts the template as
    one token plus the 16 prompt words.

    Everything is array slicing + join on the already-split word array
    — map-only, zero shuffle, no Python; at 100 TB this is a pure scan
    pass whose output is typically written straight to the packed-
    sequence sink (llm_seq_packing consumes exactly these counts)."""
    d = load_table(spark, sf_dir, "documents")
    ok = d.select(
        "doc_id",
        "lang",
        F.split("text", " ").alias("w"),
        F.size(F.split("text", " ")).alias("nw"),
    ).filter(F.col("nw") >= 24)
    return (
        ok.select(
            "doc_id",
            "lang",
            F.concat(
                F.lit("Summarize:\n"), F.array_join(F.slice("w", 1, 16), " ")
            ).alias("prompt"),
            F.expr("array_join(slice(w, 17, least(80, nw) - 16), ' ')").alias(
                "completion"
            ),
            F.lit(17).cast("long").alias("n_prompt_tokens"),
            (F.least(F.lit(80), F.col("nw")) - 16)
            .cast("long")
            .alias("n_completion_tokens"),
            (F.col("nw") - 16 > 64).alias("truncated"),
        )
        .orderBy("doc_id")
    )


@query(
    "llm_sft_lint",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS nw FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN nw >= 24 THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN nw < 24 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped_short,
           CAST(SUM(CASE WHEN nw - 16 > 64 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_truncated,
           round(SUM(CASE WHEN nw - 16 > 64 THEN 1 ELSE 0 END) * 1.0
                 / NULLIF(SUM(CASE WHEN nw >= 24 THEN 1 ELSE 0 END), 0), 6)
             AS truncated_rate,
           round(SUM(CASE WHEN nw >= 24 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
             AS yield_rate
    FROM t GROUP BY lang ORDER BY lang
    """,
)
def llm_sft_lint(spark, sf_dir):
    """Lint report for the SFT assembly stage — the per-language yield
    accounting every fine-tuning data pipeline publishes next to its
    pair dump: how many documents produce a pair under llm_sft_pairs'
    exact eligibility rule (>=24 words), how many drop as too short,
    and how many pairs hit the completion budget and truncate. The
    thresholds are THE SAME constants as llm_sft_pairs (24-word floor,
    16-word prompt, 64-word completion budget), so yield_rate * n_docs
    here always equals that op's row count — the cross-op consistency a
    lint exists to guarantee (pinned in pytest).

    Plan: map-only word counting (split + size, no explode), one hash
    agg on the tiny lang domain. The cheapest audit pass there is."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("lang", F.size(F.split("text", " ")).alias("nw"))
    pair = F.when(F.col("nw") >= 24, 1).otherwise(0)
    trunc = F.when(F.col("nw") - 16 > 64, 1).otherwise(0)
    return (
        t.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(pair).cast("long").alias("n_pairs"),
            F.sum(1 - pair).cast("long").alias("n_dropped_short"),
            F.sum(trunc).cast("long").alias("n_truncated"),
            F.round(F.sum(trunc) / F.nullif(F.sum(pair), F.lit(0)), 6).alias(
                "truncated_rate"
            ),
            F.round(F.sum(pair) / F.count("*"), 6).alias("yield_rate"),
        )
        .orderBy("lang")
    )


@query(
    "llm_split_leakage",
    oracle=f"""
    WITH {_SHINGLE_SETS_SQL}, p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.s, b.s)) AS shared,
             len(a.s) AS na, len(b.s) AS nb
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    ), leaks AS (
      SELECT CASE WHEN doc_a % 10 = 0 THEN 'test'
                  WHEN doc_a % 10 = 1 THEN 'val' ELSE 'train' END AS sa,
             CASE WHEN doc_b % 10 = 0 THEN 'test'
                  WHEN doc_b % 10 = 1 THEN 'val' ELSE 'train' END AS sb
      FROM p WHERE shared * 1.0 / (na + nb - shared) >= 0.8
    ), classed AS (
      SELECT least(sa, sb) || '-' || greatest(sa, sb) AS split_pair,
             COUNT(*) AS n
      FROM leaks GROUP BY 1
    )
    SELECT c.split_pair,
           CAST(COALESCE(classed.n, 0) AS BIGINT) AS n_leaky_pairs
    FROM (VALUES ('test-test'), ('test-train'), ('test-val'),
                 ('train-train'), ('train-val'), ('val-val')) c(split_pair)
    LEFT JOIN classed ON c.split_pair = classed.split_pair
    ORDER BY c.split_pair
    """,
)
def llm_split_leakage(spark, sf_dir):
    """Train/val/test split-leakage audit: deterministic 80/10/10 split
    by ``doc_id % 10`` (the heldout-LM convention — engine-portable, no
    hash parity risk), then classify every NEAR-DUPLICATE pair (exact
    3-gram Jaccard >= 0.8 — ``llm_dedup_ngram_jaccard``'s definition,
    which subsumes exact duplicates at jaccard 1.0) by the unordered
    split pair it straddles. A val/test document whose near-duplicate
    sits in train is membership leakage — eval scores become
    memorization scores — and this is the audit every split must pass
    before training; within-split classes (train-train, ...) are
    reported too so the readout doubles as a dup-mass census. All six
    classes always emit (zero-leak corpora included) via a 6-row
    literal class table LEFT JOIN — the llm_dedup_threshold_sweep
    degenerate-corpus lesson.

    Plan: the shingle-equality pair join (only docs SHARING a shingle
    meet — never a cross join; on LSH band candidates at 100 TB, exactly
    like the registered dedup ops), per-pair exact Jaccard, then a
    6-row class rollup — pairs collapse to counts before anything
    driver-sized. The split label is a pure projection of doc_id, so
    the audit adds nothing to the dedup pass it rides on — literally:
    the pair stage IS llm_dedup_ngram_jaccard (code-review r8 folded a
    line-for-line copy back into the one definition)."""
    from .dedup import llm_dedup_ngram_jaccard

    pairs = llm_dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")

    def _split(col):
        return (
            F.when(F.col(col) % 10 == 0, "test")
            .when(F.col(col) % 10 == 1, "val")
            .otherwise("train")
        )
    leaks = (
        pairs.select(_split("doc_a").alias("sa"), _split("doc_b").alias("sb"))
        .select(
            F.concat_ws(
                "-", F.least("sa", "sb"), F.greatest("sa", "sb")
            ).alias("split_pair")
        )
        .groupBy("split_pair")
        .agg(F.count("*").alias("n"))
    )
    classes = spark.createDataFrame(
        [("test-test",), ("test-train",), ("test-val",),
         ("train-train",), ("train-val",), ("val-val",)],
        "split_pair STRING",
    )
    return (
        classes.join(leaks, "split_pair", "left")
        .select(
            "split_pair",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_leaky_pairs"),
        )
        .orderBy("split_pair")
    )


@query(
    "llm_dsir_weights",
    # Per-doc importance weight = Σ_tok round(ln(p_target/p_proposal), 6)
    # accumulated as exact DECIMAL so the sum is merge-order-independent;
    # the one non-correctly-rounded libm call (ln) is quantized before
    # accumulation (the llm_unigram_logprob discipline).
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    cs AS (SELECT tok, COUNT(*) AS cs FROM tok GROUP BY tok),
    ct AS (SELECT tok, COUNT(*) AS ct FROM tok WHERE lang = 'en' GROUP BY tok),
    tot AS (
      SELECT (SELECT SUM(cs) FROM cs) AS ns,
             (SELECT COUNT(*) FROM cs) AS v,
             (SELECT COALESCE(SUM(ct), 0) FROM ct) AS nt
    ),
    ratio AS (
      SELECT cs.tok,
             CAST(round(ln(
               (CAST(COALESCE(ct.ct, 0) + 1 AS DOUBLE)
                  / CAST(t.nt + t.v AS DOUBLE))
               / (CAST(cs.cs + 1 AS DOUBLE)
                  / CAST(t.ns + t.v AS DOUBLE))
             ), 6) AS DECIMAL(18,6)) AS lr
      FROM cs LEFT JOIN ct USING (tok) CROSS JOIN tot t
    ),
    scored AS (
      SELECT t.doc_id, t.lang, r.lr FROM tok t JOIN ratio r USING (tok)
    )
    SELECT doc_id, MAX(lang) AS lang, COUNT(*) AS n_tokens,
           round(CAST(CAST(SUM(lr) AS VARCHAR) AS DOUBLE), 6) AS log_weight
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def llm_dsir_weights(spark, sf_dir):
    """DSIR-style data-selection weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every document
    by the log importance ratio of a TARGET unigram distribution (here the
    English subset — the stand-in for "looks like the high-quality target
    domain") over the PROPOSAL distribution (the whole corpus), both
    add-1-smoothed over the shared vocabulary. Selecting top-weight docs
    (or Gumbel-resampling on these weights) reproduces the paper's
    pipeline; this op emits the per-doc weights that feed either policy.

    Parity: p_t/p_s is computed as two correctly-rounded double divisions
    over exact <2^53 integers (identical on any IEEE engine — integer
    PRODUCTS would overflow int64 at 100 TB counts, so divide first);
    ln() is the one libm call and is rounded to 6 dp THEN cast to exact
    decimal before the per-doc sum, so accumulation is
    merge-order-independent (core.py discipline).

    Scale: the count table is DISTINCT-TOKEN-sized (Heaps-law-linear in
    corpus tokens — 100M+ rows at web scale), so the scoring join is
    hinted via the byte-gated ``_lm_count_table_hint`` (broadcast under
    256 MiB of source parquet, AQE-chosen shuffle join above); corpus
    totals (N_t, N_s, V) fold in as a broadcast one-row aggregate — no
    driver-side count() at plan construction. The per-doc sum is a
    uniform-keyed hash agg with map-side partials. Nothing materializes
    pairwise state; wall scales with corpus tokens.

    Restructured r14 (optimization round; results bit-identical): the
    target and proposal counts come from ONE token-keyed aggregation —
    cs = count(*), ct = conditional count over lang='en' — instead of
    two separate corpus tokenization+shuffle passes joined back together
    (the old cs⋈ct left join is now two columns of the same row; plan
    drops one corpus-wide aggregation, one join, and one documents scan:
    5 scans -> 3, plans/r14/llm_dsir_weights_*.txt). Guide §2.3:
    aggregate once, shuffle once."""
    from .textstats import _lm_count_table_hint

    docs = load_table(spark, sf_dir, "documents")
    hint = _lm_count_table_hint(spark, sf_dir)
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    counts = tok.groupBy("tok").agg(
        F.count("*").alias("cs"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("ct"),
    )
    tot = counts.agg(
        F.sum("cs").alias("ns"),
        F.count("*").alias("v"),
        F.coalesce(F.sum("ct"), F.lit(0)).alias("nt"),
    )
    p_t = (F.col("ct") + 1).cast("double") / (
        F.col("nt") + F.col("v")
    ).cast("double")
    p_s = (F.col("cs") + 1).cast("double") / (
        F.col("ns") + F.col("v")
    ).cast("double")
    ratio = counts.crossJoin(F.broadcast(tot)).select(
        "tok",
        F.round(F.log(p_t / p_s), 6).cast("decimal(18,6)").alias("lr"),
    )
    return (
        tok.join(hint(ratio), "tok")
        .groupBy("doc_id")
        .agg(
            F.max("lang").alias("lang"),
            F.count("*").alias("n_tokens"),
            F.round(d2d(F.sum("lr")), 6).alias("log_weight"),
        )
        .orderBy("doc_id")
    )


@query(
    "llm_dsir_resample",
    # Same scoring CTEs as llm_dsir_weights, then the deterministic
    # hash-Gumbel key and the global top-50. The two ln() calls in the
    # Gumbel are quantized to 6 dp (house libm containment); u is an
    # exact rational of the Knuth doc_id hash, identical on any engine.
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    cs AS (SELECT tok, COUNT(*) AS cs FROM tok GROUP BY tok),
    ct AS (SELECT tok, COUNT(*) AS ct FROM tok WHERE lang = 'en' GROUP BY tok),
    tot AS (
      SELECT (SELECT SUM(cs) FROM cs) AS ns,
             (SELECT COUNT(*) FROM cs) AS v,
             (SELECT COALESCE(SUM(ct), 0) FROM ct) AS nt
    ),
    ratio AS (
      SELECT cs.tok,
             CAST(round(ln(
               (CAST(COALESCE(ct.ct, 0) + 1 AS DOUBLE)
                  / CAST(t.nt + t.v AS DOUBLE))
               / (CAST(cs.cs + 1 AS DOUBLE)
                  / CAST(t.ns + t.v AS DOUBLE))
             ), 6) AS DECIMAL(18,6)) AS lr
      FROM cs LEFT JOIN ct USING (tok) CROSS JOIN tot t
    ),
    scored AS (
      SELECT t.doc_id, t.lang, r.lr FROM tok t JOIN ratio r USING (tok)
    ),
    w AS (
      SELECT doc_id, MAX(lang) AS lang,
             round(CAST(CAST(SUM(lr) AS VARCHAR) AS DOUBLE), 6) AS log_weight
      FROM scored GROUP BY doc_id
    ),
    gk AS (
      SELECT doc_id, lang, log_weight,
             round(-ln(-ln((((doc_id * 2654435761) % 1000000) + 0.5)
                           / 1000000.0)), 6) AS gumbel
      FROM w
    )
    SELECT doc_id, lang, log_weight, gumbel,
           round(log_weight + gumbel, 6) AS sample_key
    FROM gk
    ORDER BY sample_key DESC, doc_id
    LIMIT 50
    """,
)
def llm_dsir_resample(spark, sf_dir):
    """The selection half of DSIR: Gumbel-top-k resampling on the
    importance weights. Adding an independent Gumbel(0,1) to each log
    weight and taking the global top-k draws a WITHOUT-replacement
    sample from the softmax of the weights (the Gumbel-max trick) — the
    paper's resampling step, derandomized the repo way: the uniform is
    an exact rational of the Knuth doc_id hash, so the "noise" is
    reproducible on any engine, any partitioning (the sample_stratified
    discipline applied to importance sampling).

    Parity: u = ((doc_id·2654435761) mod 1e6 + 0.5)/1e6 is exact in
    double; the two ln() calls are the only libm steps and are rounded
    to 6 dp before the key sum, which then rounds once more — identical
    cross-engine given identical inputs. Scale: rides llm_dsir_weights'
    plan (byte-gated count joins), adds one map-only key projection and
    a global top-50 = TakeOrderedAndProject (no full sort)."""
    w = llm_dsir_weights(spark, sf_dir)
    u = (
        (F.col("doc_id") * F.lit(2654435761)) % 1000000 + 0.5
    ) / F.lit(1000000.0)
    g = F.round(-F.log(-F.log(u)), 6)
    return (
        w.withColumn("gumbel", g)
        .withColumn(
            "sample_key", F.round(F.col("log_weight") + F.col("gumbel"), 6)
        )
        .select("doc_id", "lang", "log_weight", "gumbel", "sample_key")
        .orderBy(F.col("sample_key").desc(), "doc_id")
        .limit(50)
    )


@query(
    "llm_rare_token_docs",
    oracle="""
    WITH tok AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      ) WHERE tok <> ''
    ), cnt AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY tok
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN c.freq <= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rare,
           round(SUM(CASE WHEN c.freq <= 2 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS rare_share,
           CAST(MIN(c.freq) AS BIGINT) AS min_tok_freq
    FROM tok t JOIN cnt c USING (tok)
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
)
def llm_rare_token_docs(spark, sf_dir):
    """Tail-vocabulary mining: per-document rare-token statistics under
    the whole-corpus unigram frequency table — n_rare (tokens whose
    corpus frequency ≤ 2), rare share, and the document's minimum token
    frequency. This is the data-selection signal complementary to
    llm_dsir_weights: DSIR upsamples *distribution-matched* documents,
    rare-token mining upsamples documents that carry the vocabulary TAIL
    (the rows a frequency-pruned tokenizer or a dedup-heavy mixture
    silently starves) — and conversely flags gibberish (rare_share ≈ 1,
    every token a hapax).

    Scale shape (the llm_dsir_weights discipline): the corpus is touched
    twice — once for the token stream, once collapsed into the
    Heaps-sized count table — and the scoring join back onto the token
    stream is byte-gated via _lm_count_table_hint: broadcast under the
    gate, AQE shuffle join over it, where it co-partitions with the
    aggregation that BUILT the count table (no fresh corpus shuffle).
    The per-doc rollup is map-side combined on doc_id."""
    from .textstats import _lm_count_table_hint

    hint = _lm_count_table_hint(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    cnt = tok.groupBy("tok").agg(F.count("*").cast("long").alias("freq"))
    rare = F.when(F.col("freq") <= 2, 1).otherwise(0)
    return (
        tok.join(hint(cnt), "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(rare).cast("long").alias("n_rare"),
            F.round(
                F.sum(rare).cast("double") / F.count("*").cast("double"), 6
            ).alias("rare_share"),
            F.min("freq").cast("long").alias("min_tok_freq"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Per-source capped quality selection (round 13): the mixture-building
# step between filtering and training — every corpus recipe caps how
# much any single source may contribute (source diversity beats raw
# mass), and within the cap takes its best documents.  Quality rank
# here = the composite keep gate, then longer documents first (the
# fixture's deterministic stand-in for a model quality score — at
# production the ORDER BY swaps to the score column, nothing else
# changes).  Cap chosen so the fixture genuinely exercises both sides
# (eligible counts span 18-25 per source at both fixtures, so at 22
# roughly half the sources are cap-cut and half supply-limited; the
# first cut used 10, which bound everywhere and left the short-supply
# branch untested).
_SELECT_CAP_PER_SOURCE = 22


def _select_capped_oracle() -> str:
    """Assembled at registration from the registry's composite oracle —
    the same never-drifts splice llm_quality_composite uses."""
    from ..registry import ORACLES

    return f"""
    WITH comp AS ({ORACLES["llm_quality_composite"]}),
    j AS (
      SELECT d.doc_id, d.source, d.n_chars, comp.keep
      FROM documents d JOIN comp ON comp.doc_id = d.doc_id
    ),
    base AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
               AS n_eligible
      FROM j GROUP BY 1
    ),
    ranked AS (
      SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM j WHERE keep
    ),
    sel AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_selected,
             CAST(SUM(n_chars) AS BIGINT) AS selected_chars
      FROM ranked WHERE rn <= {_SELECT_CAP_PER_SOURCE} GROUP BY 1
    )
    SELECT b.source, b.n_docs, b.n_eligible,
           CAST(COALESCE(s.n_selected, 0) AS BIGINT) AS n_selected,
           CAST(COALESCE(s.selected_chars, 0) AS BIGINT) AS selected_chars,
           b.n_eligible >= {_SELECT_CAP_PER_SOURCE} AS cap_bound
    FROM base b LEFT JOIN sel s ON s.source = b.source
    ORDER BY 1
    """


@query("llm_quality_select_capped", oracle=_select_capped_oracle())
def llm_quality_select_capped(spark, sf_dir):
    """Per-source capped selection over the composite quality gate: one
    row per source — total docs, gate-eligible docs, docs actually
    selected under the per-source cap, their character mass, and
    whether the cap bound (n_eligible >= cap).  The audit a mixture
    plan reads to see which sources are supply-limited vs cap-limited
    before weights are assigned (the llm_mixture_epochs input).

    Scale shape: the composite gate's existing shuffles + ONE window
    rank partitioned by source (the selection key — at 100 TB source
    cardinality is ~thousands, so the rank is a per-source sort of
    eligible docs only, not the corpus) + a source-domain aggregate.
    Exact integer char mass; rank tiebreak (n_chars DESC, doc_id)
    pinned identical in both engines."""
    from ..registry import QUERIES

    comp = QUERIES["llm_quality_composite"](spark, sf_dir).select(
        "doc_id", "keep"
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    j = docs.join(comp, "doc_id")
    base = j.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0))
        .cast("long")
        .alias("n_eligible"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    sel = (
        j.filter(F.col("keep"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _SELECT_CAP_PER_SOURCE)
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_selected"),
            F.sum("n_chars").cast("long").alias("selected_chars"),
        )
    )
    return (
        base.join(sel, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_eligible",
            F.coalesce(F.col("n_selected"), F.lit(0))
            .cast("long")
            .alias("n_selected"),
            F.coalesce(F.col("selected_chars"), F.lit(0))
            .cast("long")
            .alias("selected_chars"),
            (F.col("n_eligible") >= _SELECT_CAP_PER_SOURCE).alias(
                "cap_bound"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Quality-threshold calibration sweep (round 14): the sweep discipline
# (tau -> llm_dedup_threshold_sweep, semantic tau -> llm_semdedup_sweep,
# dims -> matryoshka, bands -> llm_semdedup_bands, nprobe ->
# llm_sim_ann_nprobe_sweep) applied to the SELECTION knob: how the
# quality gate gets CHOSEN.  One curve row per candidate threshold over
# the continuous llm_quality_score: docs selected, token mass selected,
# and both shares — the table a mixture plan reads to trade corpus size
# against quality floor before committing a training set.
_QUALITY_SWEEP_THRESHOLDS = (0.55, 0.60, 0.65, 0.70, 0.75)
# Fixture-calibrated grid: scores span 0.4175-0.7265 at sf0.01 (median
# 0.6508), so the rows run ~full-keep down to EMPTY selection — the
# 0.75 row pins the zero-selected branch (COALESCE'd sums, identical in
# both engines) the first sweep cut would otherwise never exercise.


def _quality_sweep_oracle() -> str:
    from ..registry import ORACLES

    grid = ", ".join(f"({t!r})" for t in _QUALITY_SWEEP_THRESHOLDS)
    return f"""
    WITH scored AS ({ORACLES["llm_quality_score"]}),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens
      FROM scored
    ),
    grid AS (
      SELECT CAST(t AS DOUBLE) AS threshold FROM (VALUES {grid}) v(t)
    )
    SELECT g.threshold,
           CAST(COUNT(s.doc_id) AS BIGINT) AS n_selected,
           CAST(COALESCE(SUM(s.n_tokens), 0) AS BIGINT) AS selected_tokens,
           round(COUNT(s.doc_id) * 1.0 / tot.n_docs, 6) AS doc_share,
           round(COALESCE(SUM(s.n_tokens), 0) * 1.0 / tot.tot_tokens, 6)
             AS token_share
    FROM grid g
    LEFT JOIN scored s ON s.quality >= g.threshold, tot
    GROUP BY g.threshold, tot.n_docs, tot.tot_tokens
    ORDER BY g.threshold
    """


@query("llm_quality_threshold_sweep", oracle=_quality_sweep_oracle())
def llm_quality_threshold_sweep(spark, sf_dir):
    """Selection calibration curve over the continuous quality score:
    per candidate threshold, the docs and token mass that survive and
    their corpus shares.  Composed from the REGISTERED llm_quality_score
    on both sides (the never-drifts splice idiom), with the threshold
    grid as ONE constant interpolated into the Spark body, the DuckDB
    oracle, and the pytest.

    The comparison runs on the score op's own 6-dp quality column —
    driver-hash-green cross-engine since its registration, so the
    >= comparisons see identical doubles in both engines; the grid's
    top row selects NOTHING at the fixtures (scores max 0.7265), and
    the zero-selected branch is explicitly COALESCE'd on both sides
    rather than left to NULL-sum semantics.

    Plan shape: the score op's existing token-stream shuffle, a 5-row
    broadcast theta-join against the score rows (each doc lands on the
    thresholds it clears), a 1-row corpus-total crossJoin for the
    shares — the llm_semdedup_sweep shape on the selection surface.
    At 100 TB: one pass over the per-doc score table (itself one
    aggregation of the corpus), grid size is constant."""
    from ..registry import QUERIES

    scored = QUERIES["llm_quality_score"](spark, sf_dir).select(
        "doc_id", "n_tokens", "quality"
    )
    grid = spark.createDataFrame(
        [(float(t),) for t in _QUALITY_SWEEP_THRESHOLDS], "threshold double"
    )
    tot = scored.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tot_tokens"),
    )
    return (
        F.broadcast(grid)
        .join(scored, F.col("quality") >= F.col("threshold"), "left")
        .groupBy("threshold")
        .agg(
            F.count("doc_id").cast("long").alias("n_selected"),
            F.coalesce(F.sum("n_tokens"), F.lit(0))
            .cast("long")
            .alias("selected_tokens"),
        )
        .join(tot)
        .select(
            "threshold",
            "n_selected",
            "selected_tokens",
            F.round(F.col("n_selected") / F.col("n_docs"), 6).alias(
                "doc_share"
            ),
            F.round(F.col("selected_tokens") / F.col("tot_tokens"), 6).alias(
                "token_share"
            ),
        )
        .orderBy("threshold")
    )
