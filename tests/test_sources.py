"""Source-layer contracts: malformed-record modes and schema evolution."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

import pytest
from pyspark.sql import types as T

from conftest import REPO, SF_DIR

from etl_suite_spark.registry import QUERIES


@pytest.fixture(scope="module")
def bad_csv():
    root = tempfile.mkdtemp(prefix="badcsv_contract_")
    path = os.path.join(root, "mixed.csv")
    with open(path, "w") as f:
        f.write("k,price\n1,10.5\n2,oops\n3,30.25\n")
    return path


_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("_corrupt_record", T.StringType()),
    ]
)


def test_permissive_keeps_corrupt_rows(spark, bad_csv):
    df = (
        spark.read.schema(_SCHEMA)
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(bad_csv)
    )
    rows = df.collect()
    assert len(rows) == 3
    corrupt = [r for r in rows if r._corrupt_record is not None]
    assert len(corrupt) == 1 and corrupt[0]._corrupt_record == "2,oops"
    assert corrupt[0].price is None


def test_dropmalformed_drops_them(spark, bad_csv):
    df = (
        spark.read.schema(T.StructType(_SCHEMA.fields[:2]))
        .option("header", True)
        .option("mode", "DROPMALFORMED")
        .csv(bad_csv)
    )
    assert sorted(r.k for r in df.collect()) == [1, 3]


def test_failfast_raises(spark, bad_csv):
    df = (
        spark.read.schema(T.StructType(_SCHEMA.fields[:2]))
        .option("header", True)
        .option("mode", "FAILFAST")
        .csv(bad_csv)
    )
    with pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        df.collect()


def test_schema_evolution_nulls_old_files(spark):
    out = QUERIES["scan_parquet_schema_evolution"](spark, SF_DIR).collect()
    bands = {r.priority_band: r.n for r in out}
    assert None in bands  # v1 files have no priority_band → NULL group
    assert set(bands) - {None} <= {"high", "normal"}
    assert sum(bands.values()) == spark.read.parquet(
        os.path.join(SF_DIR, "orders.parquet")
    ).count()


def test_statistical_sample_seed_stable(spark):
    """df.sample(fraction, seed): Bernoulli sampling is seed-stable within
    Spark (same seed → same rows) and lands near the requested fraction.
    The registered sample_fraction query uses hash-sampling instead for
    cross-engine reproducibility; this pins the statistical variant."""
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    a = sorted(
        (r.l_orderkey, r.l_linenumber)
        for r in li.sample(fraction=0.1, seed=42).select("l_orderkey", "l_linenumber").collect()
    )
    b = sorted(
        (r.l_orderkey, r.l_linenumber)
        for r in li.sample(fraction=0.1, seed=42).select("l_orderkey", "l_linenumber").collect()
    )
    assert a == b  # seed-stable
    n = li.count()
    assert 0.05 * n < len(a) < 0.15 * n  # near the requested fraction


def test_hash_sample_matches_fraction(spark):
    out = QUERIES["sample_fraction"](spark, SF_DIR)
    n_all = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).count()
    n = out.count()
    assert 0.06 * n_all < n < 0.15 * n_all  # 26/256 ≈ 10.2% expected


EXPECTED_DTYPES = {
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [("n_nationkey", "int"), ("n_name", "string"), ("n_regionkey", "int")],
    "customer": [
        ("c_custkey", "bigint"),
        ("c_name", "string"),
        ("c_nationkey", "int"),
        ("c_acctbal", "double"),
        ("c_mktsegment", "string"),
    ],
    "supplier": [
        ("s_suppkey", "bigint"),
        ("s_name", "string"),
        ("s_nationkey", "int"),
        ("s_acctbal", "double"),
    ],
    "part": [
        ("p_partkey", "bigint"),
        ("p_name", "string"),
        ("p_brand", "string"),
        ("p_type", "string"),
        ("p_size", "int"),
        ("p_retailprice", "double"),
    ],
    "orders": [
        ("o_orderkey", "bigint"),
        ("o_custkey", "bigint"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        ("o_orderdate", "timestamp_ntz"),
        ("o_orderpriority", "string"),
    ],
    "lineitem": [
        ("l_orderkey", "bigint"),
        ("l_partkey", "bigint"),
        ("l_suppkey", "bigint"),
        ("l_linenumber", "int"),
        ("l_quantity", "double"),
        ("l_extendedprice", "double"),
        ("l_discount", "double"),
        ("l_tax", "double"),
        ("l_returnflag", "string"),
        ("l_linestatus", "string"),
        ("l_shipdate", "timestamp_ntz"),
    ],
    "events": [
        ("event_id", "bigint"),
        ("ts", "timestamp"),  # loader normalizes nanos/ntz to session-TZ ts
        ("user_id", "bigint"),
        ("event_type", "string"),
        ("value", "double"),
        ("props", "string"),
    ],
    "documents": [
        ("doc_id", "bigint"),
        ("text", "string"),
        ("lang", "string"),
        ("source", "string"),
        ("n_chars", "bigint"),
    ],
    "embeddings": [
        ("vec_id", "bigint"),
        ("embedding", "array<float>"),
        ("label", "int"),
    ],
}


def test_loader_schema_pinned(spark):
    """Pin every table's POST-LOAD dtypes: the round-1 driver ERRs all
    traced to silent loader schema drift (events.ts surfacing as int64
    nanos). The loader now normalizes and this test freezes the result —
    any Spark-version or fixture change that shifts a dtype fails here
    before it can reach a driver window."""
    from etl_suite_spark.io import TABLES, load_table
    from tests.conftest import SF_DIR

    assert set(EXPECTED_DTYPES) == set(TABLES)
    for t in TABLES:
        assert load_table(spark, SF_DIR, t).dtypes == EXPECTED_DTYPES[t], t


def test_zorder_files_disjoint_in_z(spark, tmp_path):
    """Range partitioning on the Morton value must produce files whose
    z-ranges are pairwise disjoint — the property parquet min/max pruning
    exploits — and the interleave must be invertible on its 16-bit halves."""
    from pyspark.sql import functions as F

    from etl_suite_spark.io import load_table
    from etl_suite_spark.sources.scans import _Z_SPARK

    o = load_table(spark, SF_DIR, "orders")
    day = "datediff(o_orderdate, DATE '1970-01-01')"
    z = F.expr(_Z_SPARK.format(a="o_custkey % 65536", b=f"({day}) % 65536"))
    out = str(tmp_path / "orders_z")
    (
        o.withColumn("z", z)
        .repartitionByRange(8, "z")
        .sortWithinPartitions("z")
        .write.mode("overwrite")
        .parquet(out)
    )
    back = spark.read.parquet(out).select(
        "z", F.input_file_name().alias("f"), "o_custkey", "o_orderdate"
    )
    ranges = (
        back.groupBy("f").agg(F.min("z").alias("lo"), F.max("z").alias("hi")).collect()
    )
    spans = sorted((r.lo, r.hi) for r in ranges)
    assert len(spans) >= 2
    for (lo1, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 <= lo2, f"overlapping z-ranges: ({lo1},{hi1}) vs ({lo2},..)"
    # invertibility: de-interleaving even bits returns o_custkey % 65536
    sample = back.limit(200).withColumn(
        "a_back",
        F.expr(
            "aggregate(sequence(0, 15), 0L,"
            " (acc, i) -> acc + shiftleft((z >> (2 * i)) & 1, i))"
        ),
    ).collect()
    for r in sample:
        assert r.a_back == r.o_custkey % 65536


# Every query that writes intermediate files. Each removes them before it
# returns, drops any temporary view it made and leaves the session's
# partition-overwrite mode as it found it.
_SCRATCH_QUERIES = (
    "stream_tumbling_agg", "stream_sliding_agg", "stream_session_window",
    "stream_dedup", "stream_stateful_custom", "stream_late_data",
    "stream_static_join", "stream_stream_join", "stream_ohlc",
    "stream_topk_per_window", "stream_anomaly_zscore", "stream_content_dedup",
    "pipeline_spec_stream", "stream_foreachbatch_upsert",
    "stream_checkpoint_resume", "stream_restart_backlog_drain",
    "stream_progress_report",
    "scan_csv_roundtrip", "scan_json_roundtrip", "scan_orc_roundtrip",
    "sink_parquet_partitioned", "scan_csv_badrecords",
    "scan_parquet_schema_evolution", "scan_text_roundtrip",
    "sink_sorted_layout", "sink_zorder_layout", "sink_compact_small_files",
    "sink_overwrite_partition", "llm_lang_partition", "llm_corpus_pipeline",
    "llm_index_compact_cells", "inc_subject_erasure", "inc_subject_export",
    "inc_batch_watermark", "pipeline_dag_resume", "pipeline_run_report",
)
# These keep their files under the process run root (removed at interpreter
# exit): tests pin the plans of the lazy frames the first two return, and
# the Derby databases of the JDBC pair are one per sf_dir, made by the
# first call in a process and reused by later ones.
_RUN_ROOT_QUERIES = {
    "join_dpp_partition_pruned": "etl_dpp_",
    "sink_bucketed_colocated_join": "etl_bucket_",
    "scan_jdbc": "etl_jdbc_",
    "pipeline_sink_jdbc": "etl_sinkjdbc_",
}


@pytest.mark.parametrize("name", [*_SCRATCH_QUERIES, *_RUN_ROOT_QUERIES])
def test_scratch_queries_leave_nothing(spark, tmp_path, monkeypatch, name):
    from etl_suite_spark.core import _mat_run_root, run_root_path

    run_root = _mat_run_root()  # made before the temp dir moves
    in_run_root = set(os.listdir(run_root))
    mode = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(mode)

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    views = temp_views()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    QUERIES[name](spark, SF_DIR).collect()
    assert [p.name for p in tmp_path.iterdir()] == []
    assert temp_views() == views
    assert spark.conf.get(mode) == before
    if name in _RUN_ROOT_QUERIES:
        prefix = _RUN_ROOT_QUERIES[name]
        after = {n for n in os.listdir(run_root) if n.startswith(prefix)}
        if name.endswith("jdbc"):
            db = os.path.basename(run_root_path(prefix, SF_DIR))
            assert db in after and after - in_run_root <= {db}
        else:
            assert len(after - in_run_root) == 1


def test_bucketed_join_keeps_one_table_pair(spark):
    """Each call drops the previous call's two bucketed catalog tables; the
    frame the previous call returned still runs, with the same rows."""
    q = QUERIES["sink_bucketed_colocated_join"]
    first = q(spark, SF_DIR)
    second = q(spark, SF_DIR)
    names = [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith(("orders_b_", "lineitem_b_"))
    ]
    assert len(names) <= 2
    assert first.collect() == second.collect()


def test_derby_log_goes_under_the_run_root(tmp_path):
    """Embedded Derby writes ``derby.log`` to the working directory when it
    first boots, unless ``derby.stream.error.file`` is set. A fresh process
    running ``scan_jdbc`` leaves none there; the log is under the run
    root."""
    code = f"""
import os, sys
sys.path.insert(0, {REPO!r})
import etl_suite_spark
from etl_suite_spark.core import _mat_run_root
from etl_suite_spark.registry import QUERIES
from etl_suite_spark.session import get_spark
spark = get_spark("derby_log", shuffle_partitions=2)
QUERIES["scan_jdbc"](spark, {SF_DIR!r}).collect()
log = spark._jvm.java.lang.System.getProperty("derby.stream.error.file")
print(log == os.path.join(_mat_run_root(), "derby.log"), os.path.isfile(log))
"""
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, capture_output=True, text=True, timeout=600
    )
    assert out.stdout.split()[-2:] == ["True", "True"], out.stderr[-3000:]
    assert not (tmp_path / "derby.log").exists()


def test_derby_url_keeps_a_caller_set_error_file(spark):
    from etl_suite_spark.core import derby_url

    system = spark._jvm.java.lang.System
    key = "derby.stream.error.file"
    saved = system.getProperty(key)
    system.setProperty(key, "/elsewhere/derby.log")
    try:
        derby_url(spark, "etl_jdbc_", SF_DIR)
        assert system.getProperty(key) == "/elsewhere/derby.log"
    finally:
        if saved is None:
            system.clearProperty(key)
        else:
            system.setProperty(key, saved)
