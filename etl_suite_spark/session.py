"""SparkSession factory + per-query runtime configuration.

The driver hands us an already-built session, so anything correctness-
critical must be a *runtime* conf applied inside each query (``configure``),
not a builder-time conf. ``get_spark`` exists for our own tests/bench.

Scale notes (100 TB design): AQE on for runtime shuffle coalescing and skew
splitting; shuffle partitions sized for local mode here but meant to be
overridden (``spark.sql.shuffle.partitions``) cluster-side; UTC session TZ
so timestamp semantics match across engines and clusters.

Deployment builder confs. Two static confs in ``get_spark`` cut per-operation
driver cost; being static, ``configure`` cannot apply them to a session built
elsewhere, so a deployment sets them on its own builder (or spark-submit):

- ``spark.sql.codegen.cache.maxEntries=1000`` (default 100). The codegen
  cache is split into 4 LRU segments of ~25 entries; the six-query perfbench
  mix alone generates 95 classes at sf0.01, so each warm pass recompiled
  32–56 classes with byte-identical source, and a recompiled class runs
  interpreted until the JIT catches up. At 1000 a warm pass compiles none.
- ``spark.python.sql.dataFrameDebugging.enabled=false`` (default true). The
  PySpark DataFrame-debugging wrapper adds ~8 py4j round trips and a Python
  stack walk to every ``Column`` method; off, building ``agg_group_basic``
  takes ~200 round trips instead of 760. The cost: analysis errors no longer
  carry PySpark's Python call site in their DataFrame query context.

``tools/driver_sim.py`` builds its own session and keeps Spark's defaults on
purpose, so correctness is still checked under a driver-built session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs applied before every declared query runs.
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas_udf / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Keep ANSI off: SURVEY §1.2 oracle-parity note (legacy null-on-error
    # semantics; declared queries avoid relying on div-by-zero anyway).
    "spark.sql.ansi.enabled": "false",
}

# Confs whose value changes query RESULTS (not just speed). A set that is
# silently ignored here is a correctness bug, so configure() verifies the
# effective value instead of trusting that conf.set "worked" (round-1
# lesson: spark.sql.legacy.parquet.nanosAsLong accepted the set but did
# nothing — we no longer depend on any legacy conf; io.load_table
# dispatches on the actual read schema instead).
_CORRECTNESS_CRITICAL = {"spark.sql.session.timeZone", "spark.sql.ansi.enabled"}


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs idempotently. Called by every registered query.

    Correctness-critical confs are verified by read-back and raise loudly
    if ineffective; performance confs are best-effort.
    """
    for k, v in _RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            if k in _CORRECTNESS_CRITICAL and spark.conf.get(k, None) != v:
                raise
            continue  # immutable but already at the right value / perf-only
        if k in _CORRECTNESS_CRITICAL:
            got = spark.conf.get(k, None)
            if got != v:
                raise RuntimeError(
                    f"conf {k}={v!r} was accepted but is ineffective (effective={got!r})"
                )
    return spark


def get_spark(app_name: str = "etl-suite-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Local session for tests/bench. Cluster deployments use spark-submit confs."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # deployment builder confs (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    spark = builder.getOrCreate()
    return configure(spark)
