"""Per-operation driver costs of the ``get_spark`` session: generated-class
compiles on a warm pass and py4j round trips while a query is built."""

from __future__ import annotations

from conftest import SF_DIR

from etl_suite_spark.registry import QUERIES

# perfbench's query mix (perfbench/workloads.py QUERY_MIX)
_MIX = (
    "agg_group_basic",
    "join_multiway",
    "tpch_q6",
    "win_topk_per_group",
    "llm_decontaminate",
    "inc_cdc_apply",
)


def test_warm_pass_compiles_no_generated_class(spark):
    """With the codegen cache sized above the mix's classes, a third pass
    finds every class cached. At Spark's default of 100 entries (4 LRU
    segments of ~25) 32–56 byte-identical classes recompile per pass."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def one_pass():
        for name in _MIX:
            QUERIES[name](spark, SF_DIR).collect()

    one_pass()
    one_pass()
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    one_pass()
    assert metrics.METRIC_COMPILATION_TIME().getCount() == before


def test_query_construction_round_trips(spark):
    """Building ``agg_group_basic`` takes ~200 py4j commands with PySpark's
    DataFrame-debugging wrapper off; on it adds ~8 per Column method (760).
    Memory-release commands are left out: they free earlier objects when
    Python collects them, at no fixed point of the build."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        if not command.startswith("m\n"):
            sent.append(command)
        return send(command, *args, **kwargs)

    QUERIES["agg_group_basic"](spark, SF_DIR)  # warm the table's schema memo
    client.send_command = counting
    try:
        QUERIES["agg_group_basic"](spark, SF_DIR)
    finally:
        client.send_command = send
    assert len(sent) <= 300, len(sent)
