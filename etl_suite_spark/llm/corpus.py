"""End-to-end LLM corpus preparation — the operators composed into the
pipeline a training-data team actually runs (BASELINE.json:6 mandate,
demonstrated as one lazy plan):

    scrub PII → exact-dedup → near-dedup (MinHash-LSH) → benchmark
    decontamination → quality filter (token floor + Gopher repetition
    gate) → chunk → language-partitioned parquet corpus

Every stage is the already-oracle-checked operator from this package; the
composition itself is rows-only (the intermediate sink path is a temp dir)
and pinned by pytest invariants: monotone row accounting per stage, no
surviving near-dup pairs, all chunks within size bounds.

Scale shape: one filter-pushdown scan; the only shuffles are the dedup
hash-agg, the LSH band join (colliding pairs only), and the final
partitioned write. Quality scoring and chunking are map-only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core import scratch
from ..io import load_table
from ..registry import query
from .dedup import _normalized_text, llm_dedup_minhash, llm_dedup_ngram_jaccard


def prepare_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    min_quality_tokens: int = 20,
    chunk_size: int = 32,
    chunk_stride: int = 16,
    near_dup: str = "minhash",
) -> dict[str, DataFrame]:
    """Run the full preparation pipeline, writing the chunked corpus to
    ``out_dir`` (partitioned by language); returns each stage's frame so
    callers (and tests) can audit per-stage row accounting. ``chunks``
    scans ``out_dir``, so the caller keeps the dir while it reads them.

    ``near_dup`` picks the pair source for stage 3: ``"minhash"`` (LSH
    candidates — the 100 TB default) or ``"jaccard"`` (exact 3-gram
    Jaccard ≥ 0.8 — deterministic across engines, so the registered
    pipeline summary is DuckDB-oracle-checkable end to end; in production
    this is the verify stage that runs ON the LSH candidates)."""
    docs = load_table(spark, sf_dir, "documents")

    # 1. PII scrub (map-only; patterns in the Java∩RE2 subset).
    email_re = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
    phone_re = r"\+?[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}"
    scrubbed = docs.withColumn(
        "text",
        F.regexp_replace(
            F.regexp_replace("text", email_re, "<EMAIL>"), phone_re, "<PHONE>"
        ),
    )

    # 2. Exact dedup: keep the smallest doc_id per normalized content hash.
    hashed = scrubbed.withColumn("content_hash", F.sha2(_normalized_text(), 256))
    keep = hashed.groupBy("content_hash").agg(F.min("doc_id").alias("doc_id"))
    exact_deduped = hashed.join(keep, ["content_hash", "doc_id"]).drop("content_hash")

    # 3. Near-dedup: MinHash-LSH candidate pairs (est_jaccard ≥ 0.5);
    #    drop the higher doc_id of each pair (union-find is overkill at
    #    this threshold — the canonical doc survives transitively because
    #    every pair member maps to the pair's minimum).
    if near_dup == "minhash":
        pairs = llm_dedup_minhash(spark, sf_dir)
    else:
        pairs = llm_dedup_ngram_jaccard(spark, sf_dir)
    losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    near_deduped = exact_deduped.join(losers, "doc_id", "left_anti")

    # 4. Benchmark decontamination: the eval split (doc_id % 50 == 0)
    #    never enters the corpus, and any training doc sharing a 3-gram
    #    with it is dropped (broadcast semi-join on the shingle — the
    #    eval shingle set is small by construction).
    from .traindata import contaminated_docs, gopher_metrics

    decontaminated = (
        near_deduped.filter(F.col("doc_id") % 50 != 0)
        .join(contaminated_docs(docs), "doc_id", "left_anti")
    )

    # 5. Quality gate: token-count floor (map-only) + Gopher repetition
    #    verdict (two uniform-key groupBys, computed on the survivors).
    keep_ids = gopher_metrics(decontaminated).filter(F.col("keep")).select("doc_id")
    with_tokens = decontaminated.withColumn(
        "n_tokens", F.size(F.split("text", " "))
    )
    quality = with_tokens.filter(F.col("n_tokens") >= min_quality_tokens).join(
        keep_ids, "doc_id", "left_semi"
    )

    # 6. Chunk: sliding token windows (map-only explode).
    chunks = (
        quality.select("doc_id", "lang", F.split("text", " ").alias("w"))
        .select(
            "doc_id",
            "lang",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, int(ceil(size(w) / {chunk_stride}.0)) - 1),"
                    f" i -> concat_ws(' ', slice(w, i * {chunk_stride} + 1, {chunk_size})))"
                )
            ).alias("chunk_idx", "chunk_text"),
            F.size("w").alias("nw"),
        )
        .filter(F.col("chunk_idx") * chunk_stride < F.col("nw"))
        .drop("nw")
    )

    # 7. Language-partitioned corpus sink (directory pruning downstream).
    chunks.write.mode("overwrite").partitionBy("lang").parquet(out_dir)

    return {
        "input": docs,
        "exact_deduped": exact_deduped,
        "near_deduped": near_deduped,
        "decontaminated": decontaminated,
        "quality": quality,
        "chunks": spark.read.parquet(out_dir),
    }


from .dedup import _NORM_SQL

_CORPUS_ORACLE = f"""
    WITH scrub AS (
      SELECT doc_id, lang,
             regexp_replace(regexp_replace(text,
                 '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{{2,}}', '<EMAIL>', 'g'),
                 '\\+?[0-9]{{1,2}}-[0-9]{{3}}-[0-9]{{3,4}}', '<PHONE>', 'g') AS text
      FROM documents
    ), hashed AS (
      SELECT doc_id, lang, text, sha256({_NORM_SQL}) AS h FROM scrub
    ), keeph AS (
      SELECT h, MIN(doc_id) AS doc_id FROM hashed GROUP BY h
    ), exact_d AS (
      SELECT hashed.doc_id, hashed.lang, hashed.text
      FROM hashed JOIN keeph ON hashed.h = keeph.h AND hashed.doc_id = keeph.doc_id
    ), rt AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
    ), rsh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(w) - 1),
                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      FROM rt WHERE len(w) >= 3
    ), jp AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.s, b.s)) AS shared,
             len(a.s) AS na, len(b.s) AS nb
      FROM rsh a JOIN rsh b ON a.doc_id < b.doc_id
    ), losers AS (
      SELECT DISTINCT doc_b AS doc_id FROM jp
      WHERE shared * 1.0 / (na + nb - shared) >= 0.8
    ), near_d AS (
      SELECT * FROM exact_d WHERE doc_id NOT IN (SELECT doc_id FROM losers)
    ), rshx AS (
      SELECT doc_id, unnest(s) AS shingle FROM rsh
    ), bench AS (
      SELECT DISTINCT shingle FROM rshx WHERE doc_id % 50 = 0
    ), dirty AS (
      SELECT DISTINCT doc_id FROM rshx
      WHERE doc_id % 50 <> 0 AND shingle IN (SELECT shingle FROM bench)
    ), decont AS (
      SELECT * FROM near_d
      WHERE doc_id % 50 <> 0 AND doc_id NOT IN (SELECT doc_id FROM dirty)
    ), dw AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM decont
    ), words AS (
      SELECT doc_id, unnest(w) AS word FROM dw
    ), wc AS (
      SELECT doc_id, word, COUNT(*) AS c FROM words GROUP BY doc_id, word
    ), tops AS (
      SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_words FROM wc GROUP BY doc_id
    ), grams AS (
      SELECT doc_id, len(w) - 1 AS n2,
             len(list_distinct(list_transform(range(1, len(w)),
                 i -> w[i] || ' ' || w[i+1]))) AS d2
      FROM dw WHERE len(w) >= 2
    ), keep_ids AS (
      SELECT tops.doc_id FROM tops LEFT JOIN grams ON tops.doc_id = grams.doc_id
      WHERE top_c * 1.0 / n_words <= 0.2
        AND 1 - COALESCE(d2 * 1.0 / n2, 1.0) <= 0.5
    ), quality AS (
      SELECT d.doc_id, d.lang, len(string_split(d.text, ' ')) AS nw
      FROM decont d
      WHERE len(string_split(d.text, ' ')) >= 20
        AND d.doc_id IN (SELECT doc_id FROM keep_ids)
    ), per_lang AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CAST(ceil(nw / 16.0) AS BIGINT)) AS BIGINT) AS n_chunks
      FROM quality GROUP BY lang
    ), totals AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_input_docs
      FROM documents GROUP BY lang
    )
    SELECT totals.lang, n_input_docs, n_docs, n_chunks
    FROM totals JOIN per_lang ON totals.lang = per_lang.lang
    ORDER BY totals.lang
"""


@query("llm_corpus_pipeline", oracle=_CORPUS_ORACLE)
def llm_corpus_pipeline(spark, sf_dir):
    """The whole preparation pipeline, summarized per language: documents
    in → survivors per stage → chunks out. The per-stage frames are
    asserted in tests/test_llm.py (row accounting, no surviving near-dups,
    chunk-size bounds). Registered with the exact-Jaccard near-dedup
    configuration so every stage — scrub, exact dedup, near-dedup,
    decontamination, Gopher gate, chunk accounting — is replicated in the
    DuckDB twin (the MinHash configuration stays the scale default; its
    Spark-seeded hashes aren't reproducible oracle-side)."""
    with scratch("etl_corpus_") as root:
        stages = prepare_corpus(
            spark, sf_dir, os.path.join(root, "corpus"), near_dup="jaccard"
        )
        per_lang = (
            stages["chunks"]
            .groupBy("lang")
            .agg(
                F.countDistinct("doc_id").alias("n_docs"),
                F.count("*").alias("n_chunks"),
            )
            .localCheckpoint(eager=True)
        )
    totals = (
        stages["input"].groupBy("lang").agg(F.count("*").alias("n_input_docs"))
    )
    return (
        totals.join(per_lang, "lang")
        .select("lang", "n_input_docs", "n_docs", "n_chunks")
        .orderBy("lang")
    )
