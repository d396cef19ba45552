"""Round-8 regression tests.

1. llm_bpe_train (the full BPE driver loop, VERDICT r7 item 5) must
   reproduce a trusted pure-Python reference BPE trainer (Sennrich-style
   get_stats + greedy non-overlapping merge) on the fixture corpus, and
   on a planted overlap-heavy corpus that exercises the greedy
   left-to-right merge semantics ("aaa" with merge (a,a) → [aa, a]).
2. dq_duplicate_key_report's NULL-key semantics (ADVICE r7): a NULL in a
   key column must count as a key on the Spark side — struct-wrapped
   count_distinct — matching DuckDB's COUNT(DISTINCT ROW(...)).
3. llm_emb_gram_matrix's int64-exactness batch bound (ADVICE r7): an
   oversized Arrow batch must fail loudly, not wrap silently.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from etl_suite_spark.registry import QUERIES
from tests.conftest import SF_DIR


def _ref_bpe(word_counts: dict[str, int], n_merges: int):
    """Trusted reference: Sennrich et al. 2016 BPE training over a
    word-count table — pair stats over every adjacent position, argmax
    with (count DESC, pair ASC) tie-break, greedy left-to-right
    non-overlapping merge."""
    segs = {w: [list(w), c] for w, c in word_counts.items()}
    merges = []
    for rnd in range(n_merges):
        stats: dict[tuple[str, str], int] = {}
        for syms, c in segs.values():
            for i in range(len(syms) - 1):
                pair = (syms[i], syms[i + 1])
                stats[pair] = stats.get(pair, 0) + c
        if not stats:
            break
        best_cnt = max(stats.values())
        a, b = min(p for p, c in stats.items() if c == best_cnt)
        merges.append((rnd + 1, a, b, a + b, best_cnt))
        for entry in segs.values():
            syms = entry[0]
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            entry[0] = out
    return merges


def test_bpe_train_matches_python_reference_on_fixture(spark):
    from etl_suite_spark.llm.textstats import _BPE_N_MERGES

    con = duckdb.connect()
    wc = con.execute(
        "SELECT tok, COUNT(*) FROM (SELECT unnest(string_split(text, ' ')) AS tok"
        f" FROM read_parquet('{SF_DIR}/documents.parquet'))"
        " WHERE tok <> '' GROUP BY tok"
    ).fetchall()
    expected = _ref_bpe(dict(wc), _BPE_N_MERGES)
    got = [tuple(r) for r in QUERIES["llm_bpe_train"](spark, SF_DIR).collect()]
    assert got == expected
    assert len(got) == _BPE_N_MERGES


def test_bpe_train_greedy_overlap_semantics(spark, tmp_path):
    """Planted corpus where the top pair overlaps itself: 'aaa' under
    merge (a, a) must segment to [aa, a] (greedy left-to-right,
    non-overlapping), and the NEXT round must then see (aa, a).  A
    trainer that merged overlapping occurrences or re-merged within a
    round would diverge from the reference here."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = ["aaa aaa aaab", "aaa baa", "aaab aaab"]
    corpus_dir = tmp_path / "bpe_planted"
    corpus_dir.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": list(range(len(docs))),
                "text": docs,
                "lang": ["en"] * len(docs),
                "n_chars": [len(t) for t in docs],
            }
        ),
        corpus_dir / "documents.parquet",
    )
    wc: dict[str, int] = {}
    for d in docs:
        for w in d.split(" "):
            if w:
                wc[w] = wc.get(w, 0) + 1
    expected = _ref_bpe(wc, 4)
    # sanity of the plant: round 1 must be the overlapping (a, a) pair
    assert expected[0][1:3] == ("a", "a")

    from etl_suite_spark.llm import textstats

    orig = textstats._BPE_N_MERGES
    try:
        textstats._BPE_N_MERGES = 4
        got = [
            tuple(r)
            for r in QUERIES["llm_bpe_train"](spark, str(corpus_dir)).collect()
        ]
    finally:
        textstats._BPE_N_MERGES = orig
    assert got == expected


def test_duplicate_key_report_counts_null_keys(spark, tmp_path):
    """ADVICE r7: Spark's bare multi-column count_distinct drops any row
    with a NULL key column; the struct-wrapped form counts it, matching
    DuckDB's COUNT(DISTINCT ROW(a, b)).  Probe the exact expression the
    report uses against a frame with NULL-bearing composite keys."""
    df = spark.createDataFrame(
        [(1, 1), (1, None), (1, None), (None, None), (2, 3)],
        "a INT, b INT",
    )
    n_keys = df.agg(
        F.count_distinct(F.struct(F.col("a"), F.col("b"))).alias("k")
    ).collect()[0]["k"]
    # distinct tuples: (1,1), (1,NULL), (NULL,NULL), (2,3) → 4
    assert n_keys == 4
    duck_n = duckdb.connect().execute(
        "SELECT COUNT(DISTINCT ROW(a, b)) FROM (VALUES (1, 1), (1, NULL),"
        " (1, NULL), (NULL, NULL), (2, 3)) t(a, b)"
    ).fetchone()[0]
    assert duck_n == 4  # the oracle form agrees
    # the old bare form undercounts — pin the divergence this fix closes
    bare = df.agg(F.count_distinct(F.col("a"), F.col("b")).alias("k")).collect()[0]["k"]
    assert bare == 2


def test_gram_matrix_batch_bound_fails_loudly():
    """ADVICE r7: the gram partial's int64-exactness depends on the Arrow
    batch staying under ~5e5 rows; an oversized batch must raise, not
    silently wrap."""
    from etl_suite_spark.llm.similarity import (
        _GRAM_BATCH_ROW_BOUND,
        _assert_gram_batch_bound,
    )

    _assert_gram_batch_bound(_GRAM_BATCH_ROW_BOUND)  # at the bound: fine
    with pytest.raises(ValueError, match="maxRecordsPerBatch"):
        _assert_gram_batch_bound(_GRAM_BATCH_ROW_BOUND + 1)
    # the bound itself must keep the accumulation exact: n * 1.6e13 < 2^63
    assert _GRAM_BATCH_ROW_BOUND * 1.6e13 < 2**63


def test_tfidf_value_unchanged_by_refactor(spark, duck):
    """The byte-gate + one-row-N refactor of llm_text_tfidf must be
    value-neutral: Spark output still matches the DuckDB oracle row for
    row at sf0.001."""
    import __spark_entry__ as entry

    got = sorted(
        map(tuple, QUERIES["llm_text_tfidf"](spark, SF_DIR).collect())
    )
    want = sorted(
        map(tuple, duck.execute(entry.oracle_sql()["llm_text_tfidf"]).fetchall())
    )
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[0] == w[0] and g[1] == w[1]
        assert abs(float(g[2]) - float(w[2])) < 1e-9


def test_bpe_encode_matches_python_reference(spark):
    """llm_bpe_encode's per-doc token counts must equal tokenizing every
    document with the reference trainer's final segmentation."""
    from etl_suite_spark.llm.textstats import _BPE_N_MERGES

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, text FROM read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchall()
    wc: dict[str, int] = {}
    for _, text in rows:
        for w in text.split(" "):
            if w:
                wc[w] = wc.get(w, 0) + 1
    segs = {w: [list(w), c] for w, c in wc.items()}
    # re-run the reference trainer but keep the final segmentation
    merges = _ref_bpe(wc, _BPE_N_MERGES)
    for _, a, b, _, _ in merges:
        for entry in segs.values():
            syms = entry[0]
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            entry[0] = out
    expected = {}
    for doc_id, text in rows:
        words = [w for w in text.split(" ") if w]
        n_chars = sum(len(w) for w in words)
        n_tokens = sum(len(segs[w][0]) for w in words)
        expected[doc_id] = (len(words), n_chars, n_tokens)
    got = QUERIES["llm_bpe_encode"](spark, SF_DIR).collect()
    assert len(got) == len(expected)
    for r in got:
        e = expected[r["doc_id"]]
        assert (r["n_words"], r["n_chars"], r["n_tokens"]) == e
        assert abs(float(r["chars_per_token"]) - round(e[1] / e[2], 6)) < 1e-9
    # and the merges must compress: fewer tokens than characters overall
    assert sum(v[2] for v in expected.values()) < sum(v[1] for v in expected.values())


def test_shard_manifest_two_phase_equals_naive(spark):
    """mm_shard_manifest's two-phase prefix sum (block offsets broadcast
    back, within-block windows) must reproduce the naive global-window
    assignment exactly — the decomposition is a plan optimization, never
    a semantic change.  (The DuckDB oracle is the naive form, so the
    driver gate checks this too; here the naive side runs in SPARK so a
    Spark-specific window/ordering quirk can't hide behind the engine
    difference.)"""
    from pyspark.sql import Window

    from etl_suite_spark.io import load_table

    d = load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.octet_length("text").cast("long").alias("nbytes")
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    naive = (
        d.withColumn(
            "cum_before", F.coalesce(F.sum("nbytes").over(w), F.lit(0))
        )
        .withColumn("shard_id", F.floor(F.col("cum_before") / 4096))
        .groupBy("shard_id")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.sum("nbytes").cast("long").alias("shard_bytes"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .select(
            F.col("shard_id").cast("long").alias("shard_id"),
            "n_items",
            "shard_bytes",
            "first_doc",
            "last_doc",
        )
        .orderBy("shard_id")
    )
    got = [tuple(r) for r in QUERIES["mm_shard_manifest"](spark, SF_DIR).collect()]
    want = [tuple(r) for r in naive.collect()]
    assert got == want
    assert len(got) > 1  # fixture actually spans multiple shards

    # block-width independence: the √n-sized width the op now derives
    # from file bytes must not matter — any width reproduces the naive
    # assignment (so the scale-sizing can never flap the oracle)
    from etl_suite_spark.llm.multimodal import _shard_manifest_from

    for block in (7, 123, 5000):
        alt = [
            tuple(r)
            for r in _shard_manifest_from(d, target=4096, block=block).collect()
        ]
        assert alt == want, f"block={block} diverged from naive"


def test_split_leakage_classes_always_emit(spark):
    """All six split-pair classes must emit even when a class has zero
    leaked pairs (the degenerate-corpus lesson — at sf0.001 the val-val
    class is empty but its row must still exist)."""
    rows = {r["split_pair"]: r["n_leaky_pairs"] for r in
            QUERIES["llm_split_leakage"](spark, SF_DIR).collect()}
    assert set(rows) == {
        "test-test", "test-train", "test-val",
        "train-train", "train-val", "val-val",
    }
    # non-degenerate: the fixture really leaks across splits
    assert rows["test-train"] + rows["train-val"] > 0


def test_dsir_weights_match_python_reference(spark, tmp_path):
    """llm_dsir_weights vs a trusted pure-Python DSIR scorer on a planted
    corpus: add-1-smoothed unigram log importance ratios (target = 'en'
    docs, proposal = whole corpus), quantized ROUND_HALF_UP to 6 dp per
    token before the per-doc sum — exactly the op's contract.  Also pins
    the direction: target-distinctive docs must out-weigh
    proposal-distinctive ones."""
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = [
        (0, "tgt tgt common", "en"),
        (1, "tgt common common", "en"),
        (2, "src src common", "de"),
        (3, "src common", "de"),
        (4, "tgt src", "fr"),
    ]
    corpus_dir = tmp_path / "dsir_planted"
    corpus_dir.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": [d[0] for d in docs],
                "text": [d[1] for d in docs],
                "lang": [d[2] for d in docs],
                "n_chars": [len(d[1]) for d in docs],
            }
        ),
        corpus_dir / "documents.parquet",
    )

    toks = [(i, lang, t) for i, text, lang in docs for t in text.split(" ")]
    cs = Counter(t for _, _, t in toks)
    ct = Counter(t for _, lang, t in toks if lang == "en")
    ns, v, nt = sum(cs.values()), len(cs), sum(ct.values())
    q6 = Decimal("0.000001")
    lr = {
        t: Decimal(repr(
            math.log(((ct.get(t, 0) + 1) / (nt + v)) / ((c + 1) / (ns + v)))
        )).quantize(q6, ROUND_HALF_UP)
        for t, c in cs.items()
    }
    expected = {
        i: (
            lang,
            len(text.split(" ")),
            float(sum(lr[t] for t in text.split(" "))),
        )
        for i, text, lang in docs
    }

    got = {
        r["doc_id"]: (r["lang"], r["n_tokens"], r["log_weight"])
        for r in QUERIES["llm_dsir_weights"](spark, str(corpus_dir)).collect()
    }
    assert got == expected
    # direction: the all-target doc beats the all-proposal doc
    assert got[0][2] > got[2][2]


def test_dag_checkpoint_resume_semantics(spark, tmp_path):
    """pipeline_dag_resume's machinery: (a) a warm rerun computes ZERO
    stages; (b) deleting one stage's checkpoint resumes exactly that
    stage plus its downstream cone; (c) editing a stage's spec
    Merkle-invalidates its cone and nothing upstream."""
    import copy
    import shutil

    from etl_suite_spark.plans import pipeline as pl

    root = str(tmp_path / "ckpt")
    run = lambda dag: pl.run_dag_checkpointed(spark, SF_DIR, dag, root)

    run(pl._DAG)
    assert sorted(pl._LAST_COMPUTED) == ["base", "hi", "lo", "out"]
    run(pl._DAG)
    assert pl._LAST_COMPUTED == []  # warm resume: nothing recomputes

    # crash-resume: a job that died during 'lo' never wrote lo or out →
    # relaunch recomputes exactly those two, reusing base and hi
    fps = pl._dag_fingerprints(spark, SF_DIR, pl._DAG)
    shutil.rmtree(f"{root}/lo-{fps['lo']}")
    shutil.rmtree(f"{root}/out-{fps['out']}")
    run(pl._DAG)
    assert sorted(pl._LAST_COMPUTED) == ["lo", "out"]
    # a lost INTERMEDIATE under a still-complete output is NOT recomputed:
    # out's checkpoint is the value contract, upstreams are only its cache
    shutil.rmtree(f"{root}/hi-{fps['hi']}")
    run(pl._DAG)
    assert pl._LAST_COMPUTED == []

    # spec edit on 'hi' → hi + out recompute; base/lo untouched
    edited = copy.deepcopy(pl._DAG)
    edited["stages"]["hi"]["transforms"][0]["predicate"] = "o_totalprice >= 250000"
    run(edited)
    assert sorted(pl._LAST_COMPUTED) == ["hi", "out"]

    # edited run's values reflect the edit; original checkpoints intact
    orig = {r["o_orderpriority"]: r["n_hi"] for r in run(pl._DAG).collect()}
    assert pl._LAST_COMPUTED == []  # original cone still fully checkpointed
    ed = {r["o_orderpriority"]: r["n_hi"] for r in run(edited).collect()}
    assert all(ed[k] <= orig[k] for k in ed)  # tighter filter, fewer rows


def test_emb_pca_matches_numpy_reference(spark):
    """llm_emb_pca vs numpy PCA on the identically quantized matrix:
    projections agree, components are orthonormal, and the exact-trace
    identity Σ eigvals == trace(C) holds (a Gram/colsum bug breaks it)."""
    import numpy as np
    import pyarrow.parquet as pq

    from etl_suite_spark.llm.similarity import (
        _emb_exact_moments, _pca_components,
    )

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    X = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    # Quantize EXACTLY like the engines: `embedding[i] * 1000000` is
    # float32 * int, which BOTH Spark and DuckDB coerce to a FLOAT32
    # multiply (so the product snaps to float32 grid — e.g.
    # -0.15661649…*1e6 lands on exactly -156616.5), and Spark's round()
    # is then decimal HALF_UP on that value's shortest repr — not
    # numpy's half-even, and not floor(x+0.5) (which mis-rounds when
    # x+0.5 crosses an integer in float arithmetic).
    from decimal import ROUND_HALF_UP, Decimal

    prod = (X.astype(np.float32) * np.float32(1e6)).astype(np.float64)
    q = np.array(
        [
            [
                float(
                    Decimal(repr(v)).quantize(
                        Decimal("1"), rounding=ROUND_HALF_UP
                    )
                )
                for v in row
            ]
            for row in prod
        ],
        dtype=np.float64,
    )
    n = len(q)
    mu = q.sum(axis=0) / n
    cov = (q.T @ q) / n - np.outer(mu, mu)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:8]
    ref_w = v[:, order].T.copy()
    for row in ref_w:
        p = int(np.argmax(np.abs(row)))
        if row[p] < 0:
            row *= -1
    ref_proj = (q - mu) @ ref_w.T / 1e6

    mn, colsum, gram = _emb_exact_moments(spark, SF_DIR)
    assert mn == n
    # moments are exact Python ints end-to-end (ADVICE r8 item 1): no
    # 2^53 truncation can have happened at the collect step
    assert all(isinstance(c, int) for c in colsum)
    assert all(isinstance(g, int) for row in gram for g in row)
    assert colsum == [int(c) for c in q.sum(axis=0)]
    assert gram == [[int(v) for v in row] for row in (q.T @ q).astype(np.int64)]
    comps, eigvals, trace = _pca_components(mn, colsum, gram)
    assert np.allclose(comps @ comps.T, np.eye(8), atol=1e-9)
    gram_f = np.asarray(gram, dtype=np.float64)
    colsum_f = np.asarray(colsum, dtype=np.float64)
    assert abs(sum(np.linalg.eigvalsh(gram_f / mn - np.outer(colsum_f / mn, colsum_f / mn))) - trace) < 1e-3 * abs(trace)

    got = {
        r["vec_id"]: [r[f"pc_{i}"] for i in range(8)]
        for r in QUERIES["llm_emb_pca"](spark, SF_DIR).collect()
    }
    vec_ids = t["vec_id"].to_pylist()
    errs = [
        np.max(np.abs(np.array(got[vid]) - ref_proj[i]))
        for i, vid in enumerate(vec_ids)
    ]
    assert max(errs) < 2e-6  # 6-dp rounding is the only slack
    # the variance twin's flag premise: top-8 mass beats the isotropic floor
    assert eigvals.sum() / trace >= 0.14


def test_dsir_resample_gumbel_key_and_order(spark):
    """llm_dsir_resample: the Gumbel term must equal the documented
    hash formula, sample_key = round(log_weight + gumbel, 6), rows come
    out in (key DESC, doc_id) order, and the selection is exactly the
    top-50 of the full weight table under that key."""
    import math

    rows = QUERIES["llm_dsir_resample"](spark, SF_DIR).collect()
    assert len(rows) == 50
    for r in rows:
        u = ((r["doc_id"] * 2654435761) % 1000000 + 0.5) / 1000000.0
        g = round(-math.log(-math.log(u)), 6)
        assert abs(r["gumbel"] - g) < 1e-9
        assert abs(r["sample_key"] - round(r["log_weight"] + r["gumbel"], 6)) < 1e-9
    keys = [(r["sample_key"], -r["doc_id"]) for r in rows]
    assert keys == sorted(keys, reverse=True)

    full = QUERIES["llm_dsir_weights"](spark, SF_DIR).collect()
    def key(r):
        u = ((r["doc_id"] * 2654435761) % 1000000 + 0.5) / 1000000.0
        return (round(r["log_weight"] + round(-math.log(-math.log(u)), 6), 6), -r["doc_id"])
    expect = {r["doc_id"] for r in sorted(full, key=key, reverse=True)[:50]}
    assert {r["doc_id"] for r in rows} == expect


def test_stream_checkpoint_resume_processes_only_new_files(spark):
    """The relaunch must replay committed offsets from the checkpoint:
    run 1's batches cover exactly slices 1+2, run 2's exactly slice 3 —
    no reprocessing, no gaps — and the warehouse equals the full table."""
    from etl_suite_spark.io import load_table
    from etl_suite_spark.streaming import ops as so

    out = {
        r["event_type"]: r["n"]
        for r in QUERIES["stream_checkpoint_resume"](spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    n1 = ev.filter(F.col("ts") < so._CUTS[0]).count()
    n2 = ev.filter(
        (F.col("ts") >= so._CUTS[0]) & (F.col("ts") < so._CUTS[1])
    ).count()
    n3 = ev.filter(F.col("ts") >= so._CUTS[1]).count()

    run1 = sum(n for run, _, n in so._RESUME_LEDGER if run == 1)
    run2 = sum(n for run, _, n in so._RESUME_LEDGER if run == 2)
    assert run1 == n1 + n2
    assert run2 == n3  # ONLY the post-restart file
    assert sum(out.values()) == n1 + n2 + n3


def test_subject_erasure_rewrites_only_affected_buckets(spark, monkeypatch):
    """inc_subject_erasure: untouched buckets keep their exact original
    files (names + mtimes); affected buckets are rewritten; the warehouse
    holds zero subject rows afterward."""
    import os
    import shutil

    from etl_suite_spark.plans import incremental as inc

    from tests.conftest import kept_scratch

    monkeypatch.setattr(inc, "scratch", kept_scratch)  # keep it for inspection
    try:
        rows = {
            r["bucket"]: r
            for r in QUERIES["inc_subject_erasure"](spark, SF_DIR).collect()
        }
        wh = inc._LAST_ERASURE_WH[0]

        def files(bucket):
            d = os.path.join(wh, f"bucket={bucket}")
            return {
                f: os.path.getmtime(os.path.join(d, f))
                for f in os.listdir(d)
                if f.endswith(".parquet")
            }

        touched = [b for b, r in rows.items() if r["rewritten"]]
        untouched = [b for b, r in rows.items() if not r["rewritten"]]
        assert touched and untouched  # both classes exercised on the fixture
        # the audit's arithmetic holds and the subjects are really gone
        for r in rows.values():
            assert r["rows_after"] == r["rows_before"] - r["rows_deleted"]
        remaining = (
            spark.read.parquet(wh).filter((F.col("user_id") % 97) == 0).count()
        )
        assert remaining == 0

        # file preservation, for real: compare post-erase state against the
        # PRE-ERASE snapshot the op recorded between its build write and its
        # erase pass — untouched buckets must carry identical files, touched
        # ones must NOT (an erase that rewrote everything, or nothing, fails)
        pre = inc._LAST_ERASURE_WH[1]
        for b in untouched:
            assert files(b) == pre[f"bucket={b}"]
        for b in touched:
            d = os.path.join(wh, f"bucket={b}")
            post = files(b) if os.path.isdir(d) else {}
            assert post != pre[f"bucket={b}"]
    finally:
        if inc._LAST_ERASURE_WH:
            shutil.rmtree(
                os.path.dirname(inc._LAST_ERASURE_WH[0]), ignore_errors=True
            )


def test_subject_erasure_reclaims_warehouse(spark):
    """Default (driver) path: the op eagerly materializes its audit and
    removes the temp warehouse before returning (ADVICE r8 item 2) —
    the result stays collectable after the reclaim."""
    import os

    from etl_suite_spark.plans import incremental as inc

    df = QUERIES["inc_subject_erasure"](spark, SF_DIR)
    wh = inc._LAST_ERASURE_WH[0]
    assert not os.path.exists(os.path.dirname(wh))
    rows = df.collect()  # still answerable: audit was checkpointed
    from etl_suite_spark.io import load_table

    n_buckets = (
        load_table(spark, SF_DIR, "events")
        .select((F.col("user_id") % 16).alias("b"))
        .distinct()
        .count()
    )
    assert len(rows) == n_buckets
    assert all(r["rows_after"] == r["rows_before"] - r["rows_deleted"] for r in rows)


def test_bpe_train_boundary_anchoring(spark, tmp_path):
    """Code-review r8 regression: a symbol merely ENDING in `a` (or
    starting with `b`) must not false-match the (a, b) merge pattern.
    Planted corpus: after (b, c) merges, 'abcd' segmented [ab, c, d]
    used to glue to [abc, d] because 'ab' ends in 'b' and the bare
    a\\x1fb replace anchored only the separator; the wrapped ␟a␟␟b␟
    representation anchors both symbol edges.  Diverged at merge rank 4
    before the fix (and the oracle shared the bug, so only a reference
    check can see it)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    text = ("xab " * 10 + "ab " * 5 + "zbc " * 8 + "bc " * 6 + "abcd " * 9).strip()
    corpus_dir = tmp_path / "bpe_boundary"
    corpus_dir.mkdir()
    pq.write_table(
        pa.table(
            {"doc_id": [0], "text": [text], "lang": ["en"], "n_chars": [len(text)]}
        ),
        corpus_dir / "documents.parquet",
    )
    wc: dict[str, int] = {}
    for w in text.split(" "):
        if w:
            wc[w] = wc.get(w, 0) + 1
    expected = _ref_bpe(wc, 8)
    # the plant is live: the reference's rank-4 merge is (ab, c) — the
    # one the boundary-glued trainer replaced with (abc, d)
    assert expected[3][1:3] == ("ab", "c")
    got = [
        tuple(r) for r in QUERIES["llm_bpe_train"](spark, str(corpus_dir)).collect()
    ]
    assert got == expected


def test_bpe_train_fuzz_vs_reference(spark, tmp_path):
    """Hypothesis fuzz of the BPE trainer against the pure-Python
    reference — the guard for the bug class the boundary-anchoring fix
    closed (mirrored-oracle algorithm bugs are invisible to the parity
    gate, so only reference fuzzing patrols this edge).  Words drawn
    from a 3-letter alphabet maximize symbol-boundary collisions
    (suffix-of-a meets prefix-of-b constantly)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_suite_spark.llm import textstats

    words = st.text(alphabet="abc", min_size=1, max_size=6)
    corpora = st.lists(words, min_size=1, max_size=30)

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(corpus=corpora)
    def run(corpus):
        run.n += 1
        text = " ".join(corpus)
        d = tmp_path / f"bpe_fuzz_{run.n}"
        d.mkdir()
        pq.write_table(
            pa.table(
                {"doc_id": [0], "text": [text], "lang": ["en"],
                 "n_chars": [len(text)]}
            ),
            d / "documents.parquet",
        )
        wc: dict[str, int] = {}
        for w in corpus:
            wc[w] = wc.get(w, 0) + 1
        expected = _ref_bpe(wc, 4)
        orig = textstats._BPE_N_MERGES
        try:
            textstats._BPE_N_MERGES = 4
            got = [
                tuple(r)
                for r in QUERIES["llm_bpe_train"](spark, str(d)).collect()
            ]
        finally:
            textstats._BPE_N_MERGES = orig
        assert got == expected, f"corpus={corpus!r}"

    run.n = 0
    run()
