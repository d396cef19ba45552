"""Round-9 operator tests.

The batched BPE trainer is verified against an INDEPENDENT pure-Python
reference (symbol-list merging, not string replace) — the discipline
that caught round 8's mirrored-oracle re-segmentation bug: the DuckDB
oracle shares the string-replace representation with the Spark side, so
a representation-level defect would be invisible to the parity gate.
"""

from __future__ import annotations

import collections

import pytest

import __spark_entry__  # noqa: F401  (registration side effects)
from etl_suite_spark.registry import QUERIES

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from etl_suite_spark.session import get_spark

    return get_spark("etl-tests-r9")


# ---------------------------------------------------------------------------
# Independent batched-BPE reference: words as SYMBOL LISTS, merges applied
# by list scanning (greedy left-to-right, non-overlapping) — no separator
# strings anywhere, so it cannot share a representation bug with either
# engine's replace-based implementation.
# ---------------------------------------------------------------------------


def _ref_pair_counts(words: dict[tuple, int]) -> collections.Counter:
    pc: collections.Counter = collections.Counter()
    for syms, cnt in words.items():
        for i in range(len(syms) - 1):
            pc[(syms[i], syms[i + 1])] += cnt
    return pc


def _ref_merge_word(syms: tuple, a: str, b: str) -> tuple:
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def _ref_bpe_batched(corpus: list[str], k: int, rounds: int,
                     with_batches: bool = False):
    words: dict[tuple, int] = collections.Counter()
    for text in corpus:
        for w in text.split(" "):
            if w:
                words[tuple(w)] += 1
    words = dict(words)
    merges = []
    batches = []
    for _ in range(rounds):
        pc = _ref_pair_counts(words)
        cand = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[:k]
        if not cand:
            break
        kept = []
        for i, ((a, b), cnt) in enumerate(cand):
            csyms = {a, b, a + b}
            blocked = any(
                ha in csyms or hb in csyms or (ha + hb) in csyms
                for (ha, hb), _c in cand[:i]
            )
            if not blocked:
                kept.append((a, b, cnt))
        batch = []
        for a, b, cnt in kept:
            merges.append((len(merges) + 1, a, b, a + b, cnt))
            batch.append((a, b, a + b))
            words = {
                _ref_merge_word(syms, a, b): c for syms, c in words.items()
            }
        batches.append(batch)
        # kept pairs are symbol-disjoint, so per-pair application order
        # cannot matter; applying them sequentially here is safe
    return (merges, batches) if with_batches else merges


def _spark_batched_table(spark, sf_dir):
    return [
        (r["rank"], r["left_sym"], r["right_sym"], r["merged"], r["pair_count"])
        for r in QUERIES["llm_bpe_train_batched"](spark, sf_dir)
        .orderBy("rank")
        .collect()
    ]


def _write_corpus(tmp_path, name, texts):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / name
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": list(range(len(texts))),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["t"] * len(texts),
                "n_chars": [len(t) for t in texts],
            }
        ),
        str(d / "documents.parquet"),
    )
    return str(d)


def test_bpe_batched_matches_reference_on_fixture(spark):
    """Merge table == the independent symbol-list reference on the real
    sf0.001 documents table."""
    import pyarrow.parquet as pq

    texts = pq.read_table(f"{SF_DIR}/documents.parquet")["text"].to_pylist()
    ref = _ref_bpe_batched(texts, 4, 4)
    got = _spark_batched_table(spark, SF_DIR)
    assert got == ref


def test_bpe_batched_interference_blocking(spark, tmp_path):
    """Planted corpus where the top candidates share symbols: 'ab' is the
    top pair; 'bc' (shares b) and a pair involving the merged symbol must
    be blocked within the same batch, not merged on stale counts."""
    texts = ["ab ab ab ab ab abc abc abc bc bc bc bc xy xy xy"] * 3
    sf = _write_corpus(tmp_path, "bpe_block", texts)
    ref = _ref_bpe_batched(texts, 4, 4)
    got = _spark_batched_table(spark, sf)
    assert got == ref
    # the planted interference actually bit: round 1's top-4 candidates
    # contain both (a,b) and (b,c); (a,b) ranks first so (b,c) must be
    # blocked in that batch (shared symbol b)
    words: dict[tuple, int] = collections.Counter()
    for t in texts:
        for w in t.split(" "):
            if w:
                words[tuple(w)] += 1
    pc = _ref_pair_counts(dict(words))
    cand1 = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[:4]
    cand_pairs = [p for p, _ in cand1]
    assert ("a", "b") in cand_pairs and ("b", "c") in cand_pairs
    assert cand_pairs.index(("a", "b")) < cand_pairs.index(("b", "c"))
    first_batch_upto_bc = [m for m in ref if (m[1], m[2]) == ("b", "c")]
    assert got[0][1:3] == ("a", "b")  # top pair merged first
    if first_batch_upto_bc:
        # (b,c) merged only in a later round: its recorded count must be
        # computed AFTER ab collapsed (i.e. its rank > number of round-1
        # keeps). Round-1 keeps are exactly the unblocked candidates:
        kept1 = []
        for i, ((a, b), _c) in enumerate(cand1):
            csyms = {a, b, a + b}
            if not any(
                ha in csyms or hb in csyms or (ha + hb) in csyms
                for (ha, hb), _x in cand1[:i]
            ):
                kept1.append((a, b))
        assert ("b", "c") not in kept1
        assert first_batch_upto_bc[0][0] > len(kept1)


def test_bpe_batched_fuzz_sweep(spark, tmp_path):
    """Deterministic fuzz: random small-alphabet corpora, Spark batched
    trainer == the independent reference on every one."""
    import random

    rng = random.Random(1909)
    for case in range(4):
        words = [
            "".join(rng.choice("abcd") for _ in range(rng.randint(1, 6)))
            for _ in range(rng.randint(5, 25))
        ]
        texts = [
            " ".join(rng.choice(words) for _ in range(rng.randint(3, 30)))
            for _ in range(rng.randint(2, 8))
        ]
        sf = _write_corpus(tmp_path, f"bpe_fuzz_{case}", texts)
        ref = _ref_bpe_batched(texts, 4, 4)
        got = _spark_batched_table(spark, sf)
        assert got == ref, f"fuzz case {case} diverged"


def test_bpe_batched_never_interferes(spark):
    """Structural invariant: within each BATCH (round) no two kept
    merges share any of {left, right, merged} symbols — asserted on the
    reference's per-round batches (which got==ref ties the Spark table
    to, merge-for-merge), plus rank contiguity on the Spark output.
    Deleting or inverting the interference filter breaks the pairwise
    disjointness assertion here (code-review r9 finding #2: the earlier
    form only checked rank contiguity and was vacuous)."""
    import pyarrow.parquet as pq

    texts = pq.read_table(f"{SF_DIR}/documents.parquet")["text"].to_pylist()
    ref, batches = _ref_bpe_batched(texts, 4, 4, with_batches=True)
    got = _spark_batched_table(spark, SF_DIR)
    assert got, "empty merge table"
    assert got == ref  # the Spark table IS the reference's batches, flat
    assert [m[0] for m in got] == list(range(1, len(got) + 1))
    multi = 0
    for batch in batches:
        syms = [set(t) for t in batch]
        for i in range(len(syms)):
            for j in range(i + 1, len(syms)):
                assert not (syms[i] & syms[j]), (
                    f"batch merges {batch[i]} and {batch[j]} share symbols"
                )
        if len(batch) > 1:
            multi += 1
    assert multi, "no multi-merge batch: the invariant was never exercised"


def test_checkpoint_resume_midbatch_kill(spark):
    """VERDICT r8 item 7: prove the staged-rename sink's atomicity claim
    under a MID-BATCH kill, not just clean termination. The first run's
    merge dies between the staging write and the rename (exactly the
    window a process kill would hit); the warehouse must stay invisible
    (no torn data), the foreachBatch offset must stay UNcommitted, and a
    relaunch against the same checkpoint must reprocess the batch and
    land the complete result exactly once."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from etl_suite_spark.io import load_table
    from etl_suite_spark.streaming import ops as sops

    ev = load_table(spark, SF_DIR, "events")
    drop = tempfile.mkdtemp(prefix="etl_kill_drop_")
    part1 = ev.filter(F.col("ts") < sops._CUTS[0])
    sops._write_one_file(part1, os.path.join(drop, "data-000.parquet"))
    warehouse = os.path.join(tempfile.mkdtemp(prefix="etl_kill_wh_"), "events_k")
    ckpt = tempfile.mkdtemp(prefix="etl_kill_ckpt_")
    ledger = []

    def run(merge_fn):
        q = (
            sops._read_stream(spark, drop, schema=ev.schema)
            .writeStream.foreachBatch(merge_fn)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def killed_merge(batch_df, batch_id):
        ledger.append(("killed", batch_id, batch_df.count()))
        # replicate _upsert_batch up to the staging write, then die in
        # the pre-rename window — the worst-case kill point
        staging = warehouse + f".b{batch_id}"
        batch_df.write.mode("overwrite").parquet(staging)
        raise RuntimeError("simulated mid-batch kill before rename")

    import pyspark.errors

    with pytest.raises(pyspark.errors.exceptions.base.PySparkException):
        run(killed_merge)

    # atomicity: the aborted merge left NOTHING visible at the warehouse
    # path — only the orphan staging dir, which readers never look at
    assert not os.path.exists(warehouse)
    orphans = [p for p in os.listdir(os.path.dirname(warehouse)) if ".b" in p]
    assert orphans, "staging dir should exist (kill hit the pre-rename window)"

    def clean_merge(batch_df, batch_id):
        ledger.append(("retry", batch_id, batch_df.count()))
        sops._upsert_batch(batch_df, batch_id, warehouse)

    run(clean_merge)
    n1 = part1.count()
    # the failed batch was never committed: the relaunch reprocessed the
    # SAME batch (same id, same rows), exactly once
    assert [(k, c) for k, _b, c in ledger] == [("killed", n1), ("retry", n1)]
    assert ledger[0][1] == ledger[1][1]
    got = spark.read.parquet(warehouse).count()
    assert got == n1  # complete, no loss, no double counting

    shutil.rmtree(drop, ignore_errors=True)
    shutil.rmtree(os.path.dirname(warehouse), ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)


def test_subject_export_prunes_to_subject_buckets(spark, monkeypatch):
    """inc_subject_export: the pruned scan's input files lie ONLY in
    subject buckets (partition pruning reached the directory listing),
    the export matches a direct full-scan computation, and the default
    path reclaims the temp warehouse."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from etl_suite_spark.io import load_table
    from etl_suite_spark.plans import incremental as inc

    from conftest import kept_scratch

    monkeypatch.setattr(inc, "scratch", kept_scratch)
    try:
        rows = {
            r["user_id"]: r
            for r in QUERIES["inc_subject_export"](spark, SF_DIR).collect()
        }
        wh, input_files = inc._LAST_EXPORT_WH
        ev = load_table(spark, SF_DIR, "events")
        subject_buckets = {
            int(r["b"])
            for r in ev.filter((F.col("user_id") % 97) == 0)
            .select((F.col("user_id") % 16).alias("b"))
            .distinct()
            .collect()
        }
        all_buckets = {
            int(d.split("=")[1])
            for d in os.listdir(wh)
            if d.startswith("bucket=")
        }
        assert subject_buckets < all_buckets  # pruning is non-vacuous
        scanned = {
            int(p.split("bucket=")[1].split("/")[0])
            for p in input_files
            if "bucket=" in p
        }
        assert scanned == subject_buckets
        # export values match a direct computation on the raw table
        direct = {
            r["user_id"]: r
            for r in ev.filter((F.col("user_id") % 97) == 0)
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n_events"),
                F.min("ts").alias("first_ts"),
                F.max("ts").alias("last_ts"),
            )
            .collect()
        }
        assert set(rows) == set(direct)
        for uid, r in rows.items():
            assert r["n_events"] == direct[uid]["n_events"]
            assert r["first_ts"] == direct[uid]["first_ts"]
            assert r["last_ts"] == direct[uid]["last_ts"]
    finally:
        monkeypatch.undo()
        if inc._LAST_EXPORT_WH:
            shutil.rmtree(
                os.path.dirname(inc._LAST_EXPORT_WH[0]), ignore_errors=True
            )

    # default path reclaims
    df = QUERIES["inc_subject_export"](spark, SF_DIR)
    wh = inc._LAST_EXPORT_WH[0]
    assert not os.path.exists(os.path.dirname(wh))
    assert df.count() == len(rows)


def test_pq_dedup_index_seeds_survive_lowid_duplicates(spark, tmp_path):
    """Code-review r9 finding #1 regression: a corpus whose vec_ids 0..15
    are near-duplicates of ONE vector keeps a single representative of
    them — the raw-path `vec_id < ksub` init would then seed ~1 centroid
    per subspace and degenerate the quantizer. The explicit-seed init
    must still produce a wide codebook."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_suite_spark.llm.similarity import _pq_dedup_index

    def vec(seed):
        return [
            round(math.sin(seed * 7.3 + i * 1.7), 6) for i in range(64)
        ]

    rows = []
    base = vec(999)
    for vid in range(16):  # low ids: all the SAME vector (one signature)
        rows.append((vid, base, "dup"))
    for vid in range(16, 128):  # the rest: distinct vectors
        rows.append((vid, vec(vid), "x"))
    d = tmp_path / "lowdup"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "vec_id": [r[0] for r in rows],
                "embedding": pa.array(
                    [r[1] for r in rows], type=pa.list_(pa.float32())
                ),
                "label": [r[2] for r in rows],
            }
        ),
        str(d / "embeddings.parquet"),
    )
    cent, codes = _pq_dedup_index(spark, str(d))
    from pyspark.sql import functions as F

    widths = [
        r["w"]
        for r in cent.groupBy("subspace")
        .agg(F.count_distinct("cluster").alias("w"))
        .collect()
    ]
    assert widths and min(widths) >= 8, (
        f"codebook degenerated: per-subspace widths {sorted(widths)}"
    )
    # the dedup really collapsed the low-id duplicate block to ONE rep
    # (other sine-family vectors may also share signatures — the point
    # is that ids 1..15 are gone, so `vec_id < ksub` would under-seed)
    low_reps = codes.filter(F.col("vec_id") < 16).count()
    assert low_reps == 1
    assert codes.count() >= 16  # enough reps to fill the seed list


def test_ann_recall_sentinel_logic():
    """The sentinel's comparison function itself (tools/scale_smoke
    check_recall_sentinel): a bug here would make the pinned recall
    matrix silently always-pass. Exercises: matching matrix → pass;
    flipped expected-fail → failure; missing result row → failure (not a
    skip); restricted/deduped/non-pinned runs → does not apply."""
    import sys

    sys.path.insert(0, "/root/repo")
    from tools.scale_smoke import ANN_RECALL_SENTINEL, check_recall_sentinel

    def timings_for(matrix, flip=None, drop=None):
        t = {}
        for name, (flag, expect) in matrix.items():
            if name == drop:
                continue
            val = (not expect) if name == flip else expect
            t[name] = {"sec": 1.0, "result": {flag: val}}
        return t

    coords = (100, 0.05)
    matrix = ANN_RECALL_SENTINEL[coords]

    applies, fails = check_recall_sentinel(
        *coords, False, None, timings_for(matrix)
    )
    assert applies and fails == []

    # flat PQ silently "fixed" (gate weakened) must FAIL the sentinel
    applies, fails = check_recall_sentinel(
        *coords, False, None, timings_for(matrix, flip="llm_sim_ann_pq_recall")
    )
    assert applies and len(fails) == 1 and "llm_sim_ann_pq_recall" in fails[0]

    # IVF silently degrading must FAIL
    applies, fails = check_recall_sentinel(
        *coords, False, None, timings_for(matrix, flip="llm_sim_ann_ivf_recall")
    )
    assert applies and len(fails) == 1 and "expected True, got False" in fails[0]

    # a MISSING result row is a failure, never a skip
    applies, fails = check_recall_sentinel(
        *coords, False, None,
        timings_for(matrix, drop="llm_index_build_pipeline_recall"),
    )
    assert applies and len(fails) == 1 and "got None" in fails[0]

    # restricted / corpus-deduped / non-pinned runs do not apply
    for args in ((100, 0.05, True, None), (100, 0.05, False, "x,y"), (7, 0.5, False, None)):
        applies, fails = check_recall_sentinel(*args, timings_for(matrix))
        assert not applies and fails == []


def test_sign_signature_cross_engine_parity(spark, tmp_path):
    """The 32-bit sign signature (_SIGN_SIG vs _SQL_SIGN_SIG) must be
    bit-identical across engines — it is the dedup KEY of the composed
    index pipeline, so a single diverging comparison silently changes
    the representative set and the recall twin's ground truth. Random
    float32 vectors, including planted exact ties (embedding[2j-1] ==
    embedding[2j], where >= must agree on both engines)."""
    import random

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from etl_suite_spark.llm.similarity import _SIGN_SIG, _SQL_SIGN_SIG

    rng = random.Random(909)
    vecs = []
    for vid in range(300):
        v = [rng.uniform(-1, 1) for _ in range(64)]
        if vid % 7 == 0:  # planted ties on some compared pairs
            for j in range(0, 64, 16):
                v[j + 1] = v[j]
        vecs.append((vid, v))
    d = tmp_path / "sig_parity"
    d.mkdir()
    path = str(d / "embeddings.parquet")
    pq.write_table(
        pa.table(
            {
                "vec_id": [v[0] for v in vecs],
                "embedding": pa.array(
                    [v[1] for v in vecs], type=pa.list_(pa.float32())
                ),
            }
        ),
        path,
    )
    got_spark = {
        r["vec_id"]: r["sig"]
        for r in spark.read.parquet(path)
        .select("vec_id", F.expr(_SIGN_SIG).alias("sig"))
        .collect()
    }
    got_duck = dict(
        duckdb.connect()
        .execute(
            f"SELECT vec_id, {_SQL_SIGN_SIG} AS sig"
            f" FROM read_parquet('{path}')"
        )
        .fetchall()
    )
    assert got_spark == got_duck
    assert all(len(s) == 32 and set(s) <= {"0", "1"} for s in got_spark.values())
    # the tie plants actually exercised the >= edge
    tied = [v for v in vecs if v[0] % 7 == 0]
    assert tied
