"""Scan / source / sink operators (SURVEY.md §2.1).

Reference analog: MySQL/ClickHouse table reads and warehouse loads
(SURVEY §0.1 [K]); here the at-rest format is parquet (columnar, splittable
— the right call at 100 TB), with CSV/JSON roundtrips for interchange and a
partitioned parquet sink that enables partition pruning downstream.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core import _mat_run_root, d2d, dec, derby_url, scratch
from ..io import load_table, table_path
from ..registry import query


@query("scan_parquet", oracle="SELECT * FROM lineitem")
def scan_parquet(spark, sf_dir):
    return load_table(spark, sf_dir, "lineitem")


@query(
    "scan_projected",
    oracle="SELECT l_orderkey, l_quantity FROM lineitem",
)
def scan_projected(spark, sf_dir):
    # column pruning reaches the parquet scan (ReadSchema carries only these
    # two columns — pinned in tests/test_plans.py)
    return load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")


_CSV_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)


@query(
    "scan_csv_roundtrip",
    # the roundtrip must be lossless, so the oracle is the source table
    # itself (o_orderdate is midnight-only → CSV ms precision suffices)
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    """,
)
def scan_csv_roundtrip(spark, sf_dir):
    """Write orders to CSV (header), read back with an explicit schema —
    schema-on-read discipline: inference is allowed only for ad-hoc ingest
    (SURVEY §1.2), canonical tables always get a declared StructType."""
    o = load_table(spark, sf_dir, "orders")
    with scratch("etl_csv_") as root:
        out = os.path.join(root, "orders_csv")
        o.write.mode("overwrite").option("header", True).csv(out)
        back = spark.read.schema(_CSV_SCHEMA).option("header", True).csv(out)
        back = back.localCheckpoint(eager=True)
    return back.orderBy("o_orderkey")


@query(
    "scan_json_roundtrip",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    """,
)
def scan_json_roundtrip(spark, sf_dir):
    # ref analog: Mongo-ish document ingest [K] — JSON lines with explicit
    # schema on read.
    o = load_table(spark, sf_dir, "orders")
    with scratch("etl_json_") as root:
        out = os.path.join(root, "orders_json")
        o.write.mode("overwrite").json(out)
        back = spark.read.schema(_CSV_SCHEMA).json(out).localCheckpoint(eager=True)
    return back.orderBy("o_orderkey")


@query(
    "sink_parquet_partitioned",
    oracle="""
    SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS count
    FROM lineitem WHERE l_returnflag = 'R'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def sink_parquet_partitioned(spark, sf_dir):
    """Partitioned warehouse load: one directory per l_returnflag. At 100 TB
    the partition column is the dominant filter (date/lang/tenant) so scans
    prune whole directories; verified by re-reading one partition."""
    li = load_table(spark, sf_dir, "lineitem")
    with scratch("etl_part_") as root:
        out = os.path.join(root, "lineitem_by_flag")
        li.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
        # partition pruning demonstrator: only the 'R' directory is scanned
        # (the pinning job runs the pruned read, before the dir is removed)
        return (
            spark.read.parquet(out)
            .filter(F.col("l_returnflag") == "R")
            .groupBy("l_returnflag", "l_linestatus")
            .count()
            .localCheckpoint(eager=True)
        )


@query("scan_orc_roundtrip", oracle="SELECT * FROM orders")
def scan_orc_roundtrip(spark, sf_dir):
    """ORC roundtrip — the other columnar warehouse format; same pushdown/
    pruning properties as parquet from Catalyst's perspective."""
    o = load_table(spark, sf_dir, "orders")
    with scratch("etl_orc_") as root:
        out = os.path.join(root, "orders_orc")
        o.write.mode("overwrite").orc(out)
        back = spark.read.orc(out).localCheckpoint(eager=True)
    return back.orderBy("o_orderkey")


_JDBC_PROPS = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}


@query(
    "scan_jdbc",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_jdbc(spark, sf_dir):
    """JDBC extract (ref: MySQL source [K]), exercised for real against
    embedded Derby — the JDBC engine Spark already bundles for its Hive
    metastore — standing in for MySQL/Postgres. The partitioned-read call
    shape is the production one: ``partitionColumn``/``lowerBound``/
    ``upperBound``/``numPartitions`` split the extract into parallel range
    queries, one JDBC cursor per task. Against a production MySQL the ONLY
    change is the URL + driver:

        spark.read.format("jdbc").option("url", "jdbc:mysql://host/db")
             .option("dbtable", "nation")
             .option("partitionColumn", "n_nationkey")
             .option("lowerBound", "0").option("upperBound", "1000000")
             .option("numPartitions", "64").load()

    At 100 TB scale the JDBC side is never the big table — it's the
    OLTP-dimension extract feeding broadcast joins; bound numPartitions by
    what the source DB tolerates, not by cluster size.
    """
    url = derby_url(spark, "etl_jdbc_", sf_dir)
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    n.write.mode("overwrite").jdbc(url, "nation", properties=_JDBC_PROPS)
    back = spark.read.jdbc(
        url,
        "nation",
        column="n_nationkey",
        lowerBound=0,
        upperBound=25,
        numPartitions=4,
        properties=_JDBC_PROPS,
    )
    return back.select(
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        F.col("n_name").cast("string").alias("n_name"),
        F.col("n_regionkey").cast("long").alias("n_regionkey"),
    )


@query(
    "scan_csv_badrecords",
    # the PERMISSIVE contract, pinned as literals: a type-mismatch row
    # keeps its parseable fields and is flagged corrupt; a row with
    # missing TRAILING columns just null-fills (NOT corrupt)
    oracle="""
    SELECT CAST(k AS BIGINT) AS k, CAST(price AS DOUBLE) AS price, is_corrupt
    FROM (VALUES (1, 10.5, false), (2, NULL, true),
                 (3, 30.25, false), (4, 40.0, false)) t(k, price, is_corrupt)
    ORDER BY k
    """,
)
def scan_csv_badrecords(spark, sf_dir):
    """Malformed-record discipline for ad-hoc ingest: PERMISSIVE mode with
    a _corrupt_record column — bad rows survive the scan as raw text
    instead of failing the job (or silently vanishing), so the pipeline
    can route them to a quarantine sink. The per-mode contract
    (PERMISSIVE/DROPMALFORMED/FAILFAST) is pinned in tests."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("price", T.DoubleType()),
            T.StructField("day", T.DateType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    with scratch("etl_badcsv_") as root:
        path = os.path.join(root, "mixed.csv")
        with open(path, "w") as f:
            f.write("k,price,day\n")
            f.write("1,10.5,2024-01-01\n")
            f.write("2,not_a_number,2024-01-02\n")  # type mismatch
            f.write("3,30.25,2024-01-03\n")
            f.write("4,40.0\n")  # missing column
        df = (
            spark.read.schema(schema)
            .option("header", True)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .csv(path)
        )
        out = df.select(
            "k",
            "price",
            F.col("_corrupt_record").isNotNull().alias("is_corrupt"),
        ).localCheckpoint(eager=True)
    return out.orderBy("k")


@query(
    "scan_parquet_schema_evolution",
    # old files (even keys) predate the column → NULL band
    oracle="""
    SELECT CASE WHEN o_orderkey % 2 = 1 THEN
             (CASE WHEN o_totalprice > 200000 THEN 'high' ELSE 'normal' END)
           END AS priority_band,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY 1 ORDER BY priority_band NULLS FIRST
    """,
)
def scan_parquet_schema_evolution(spark, sf_dir):
    """Schema evolution on read: two parquet drops with different schemas
    (a column added later) merge under mergeSchema=true — old files yield
    NULL for the new column. The append-only warehouse reality at 100 TB:
    producers upgrade, history stays readable."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    v1 = o.filter(F.col("o_orderkey") % 2 == 0)
    v2 = o.filter(F.col("o_orderkey") % 2 == 1).withColumn(
        "priority_band",
        F.when(F.col("o_totalprice") > 200000, "high").otherwise("normal"),
    )
    with scratch("etl_evolve_") as root:
        v1.write.mode("overwrite").parquet(os.path.join(root, "batch=1"))
        v2.write.mode("overwrite").parquet(os.path.join(root, "batch=2"))
        merged = spark.read.option("mergeSchema", True).parquet(
            os.path.join(root, "batch=1"), os.path.join(root, "batch=2")
        )
        out = (
            merged.groupBy("priority_band")
            .agg(F.count("*").alias("n"))
            .localCheckpoint(eager=True)
        )
    return out.orderBy(F.col("priority_band").asc_nulls_first())


@query(
    "scan_text_roundtrip",
    oracle="""
    SELECT length(text) AS n_chars, CAST(COUNT(*) AS BIGINT) AS count
    FROM documents GROUP BY 1 ORDER BY 1
    """,
)
def scan_text_roundtrip(spark, sf_dir):
    """Raw text-lines interchange (`spark.read.text`) — the ingest format of
    web-crawl/corpus drops where each line is one record and parsing is the
    pipeline's first transform. Round-trips ``documents.text`` through a
    text directory and re-derives per-line length to prove lossless
    transport (newline-free fixture text by construction)."""
    docs = load_table(spark, sf_dir, "documents")
    with scratch("etl_text_") as root:
        out = os.path.join(root, "docs_txt")
        docs.select("text").write.mode("overwrite").text(out)
        back = spark.read.text(out)  # column: value
        counts = (
            back.select(F.length("value").cast("long").alias("n_chars"))
            .groupBy("n_chars")
            .count()
            .localCheckpoint(eager=True)
        )
    return counts.orderBy("n_chars")


@query(
    "sink_sorted_layout",
    oracle="""
    SELECT CAST(l_shipdate AS DATE) AS ship_day, CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    WHERE l_shipdate >= '1998-03-01' AND l_shipdate < '1998-04-01'
    GROUP BY 1 ORDER BY 1
    """,
)
def sink_sorted_layout(spark, sf_dir):
    """Sorted data layout for scan-time pruning: repartition by the dominant
    filter column's coarse bucket, then ``sortWithinPartitions`` so parquet
    writes clustered row groups. At 100 TB this is the difference between a
    filter reading every row group and one whose row-group min/max stats
    skip ~all of them (z-order-lite, single key). Verified by re-reading
    with a tight ship-date filter — correctness here; the pruning effect is
    visible in the scan's rowgroup stats at scale."""
    li = load_table(spark, sf_dir, "lineitem")
    with scratch("etl_sorted_") as root:
        out = os.path.join(root, "lineitem_sorted")
        (
            li.repartition(8, F.month("l_shipdate"))
            .sortWithinPartitions("l_shipdate", "l_orderkey")
            .write.mode("overwrite")
            .parquet(out)
        )
        back = spark.read.parquet(out)
        days = (
            back.filter(
                (F.col("l_shipdate") >= "1998-03-01")
                & (F.col("l_shipdate") < "1998-04-01")
            )
            .groupBy(F.to_date(F.date_trunc("day", "l_shipdate")).alias("ship_day"))
            .agg(F.count("*").alias("n"))
            .localCheckpoint(eager=True)
        )
    return days.orderBy("ship_day")


@query(
    "join_dpp_partition_pruned",
    oracle="""
    WITH fs AS (
      SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY 1
    ), d AS (
      SELECT l_returnflag FROM fs ORDER BY n ASC, l_returnflag ASC LIMIT 1
    )
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem WHERE l_returnflag IN (SELECT l_returnflag FROM d)
    GROUP BY 1 ORDER BY 1
    """,
)
def join_dpp_partition_pruned(spark, sf_dir):
    """Dynamic partition pruning demonstrator: fact table laid out
    partitioned by join key, dim side filtered at runtime. Catalyst
    injects a ``dynamicpruningexpression`` into the fact scan, so only the
    partitions matching the filtered dim survive — at 100 TB this is what
    turns a star-schema join over a date/tenant-partitioned warehouse from
    a full scan into a handful of directories. Plan shape pinned in
    tests/test_plans.py, so the returned frame stays lazy: the fact table
    is written under the process run root (``core._mat_run_root``), which
    is removed at interpreter exit, not in a per-call scratch dir."""
    li = load_table(spark, sf_dir, "lineitem")
    out = os.path.join(
        tempfile.mkdtemp(prefix="etl_dpp_", dir=_mat_run_root()), "lineitem_by_flag"
    )
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    fact = spark.read.parquet(out)
    # The dim-side predicate is computed at runtime (minority-share flags),
    # so Catalyst cannot fold it into a static partition filter — it MUST
    # plan dynamic pruning (a broadcast subquery feeding the fact scan).
    from pyspark.sql import Window as _W

    flag_stats = li.groupBy("l_returnflag").agg(F.count("*").alias("n"))
    dim = flag_stats.withColumn(
        "rn",
        F.row_number().over(
            _W.partitionBy().orderBy(F.col("n").asc(), F.col("l_returnflag").asc())
        ),
    ).filter(F.col("rn") == 1)
    return (
        fact.join(dim, "l_returnflag")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"))
        .orderBy("l_returnflag")
    )


@query(
    "sink_compact_small_files",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS content_matches,
           TRUE AS compaction_ok
    FROM orders
    """,
)
def sink_compact_small_files(spark, sf_dir):
    """Small-file compaction: rewrite a fragmented dataset (many tiny
    files — the classic streaming-sink / over-parallel-write pathology)
    into size-targeted files. Tiny files poison 100 TB scans: per-file
    open/footer costs dominate and the driver chokes on listing. The fix
    is a maintenance pass — read, ``repartition`` to ceil(bytes/target),
    rewrite — run under `sink_overwrite_partition` semantics per
    partition in production. Here: fragment orders into 64 files, compact
    to size-targeted files, then emit DuckDB-checkable invariants instead
    of raw file counts (absolute counts are layout-dependent and thus not
    oracle-expressible): ``n_rows`` must equal COUNT(*) of the source,
    ``content_matches`` is a GENUINELY COMPUTED order-insensitive content
    signature comparison (bit_xor of per-row xxhash64 over all columns,
    fragmented vs compacted — flips to false on any lost/corrupted row),
    and ``compaction_ok`` is the measured files_after < files_before."""
    o = load_table(spark, sf_dir, "orders")
    # the result is built from collected values: nothing to pin
    with scratch("etl_compact_") as base:
        frag_dir = os.path.join(base, "fragmented")
        compact_dir = os.path.join(base, "compacted")
        o.repartition(64).write.mode("overwrite").parquet(frag_dir)

        frag = spark.read.parquet(frag_dir)
        n_frag_files = len([f for f in os.listdir(frag_dir) if f.endswith(".parquet")])
        # target size derived from actual on-disk bytes, not a guess
        total_bytes = sum(
            os.path.getsize(os.path.join(frag_dir, f))
            for f in os.listdir(frag_dir)
            if f.endswith(".parquet")
        )
        target_file_bytes = 4 * 1024 * 1024
        n_out = max(1, -(-total_bytes // target_file_bytes))  # ceil
        frag.repartition(int(n_out)).write.mode("overwrite").parquet(compact_dir)

        back = spark.read.parquet(compact_dir)
        n_comp_files = len([f for f in os.listdir(compact_dir) if f.endswith(".parquet")])

        def content_sig(df):
            # Order-insensitive whole-table signature: one scan, map-side
            # partial SUM, no shuffle of data rows.  SUM (not bit_xor — ADVICE
            # r3): xor cancels pairwise, so dropping two copies of row X and
            # adding two copies of row Y preserved both xor and count; additive
            # sums shift by 2·(h(Y)−h(X)) instead.  decimal(38,0) keeps the sum
            # exact without ANSI bigint overflow: |h| < 2^63 ≈ 9.2e18 leaves
            # ~1e19 rows of headroom — comfortably past the 100 TB shape.
            cols = [F.col(c) for c in sorted(df.columns)]
            row = (
                df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h"))
                .agg(F.sum("h").alias("sig"), F.count("*").alias("n"))
                .collect()[0]
            )
            return row["sig"], row["n"]

        frag_sig, frag_n = content_sig(frag)
        comp_sig, comp_n = content_sig(back)
    return spark.range(1).select(
        F.lit(comp_n).cast("long").alias("n_rows"),
        F.lit(frag_sig == comp_sig and frag_n == comp_n).alias("content_matches"),
        F.lit(n_comp_files < n_frag_files).alias("compaction_ok"),
    )


# Bit-interleave of two 16-bit keys into a 32-bit Morton (Z-order) value.
# Disjoint bit positions mean SUM == OR, which keeps the expression a plain
# arithmetic fold on both engines.
_Z_SPARK = (
    "aggregate(sequence(0, 15), 0L, (acc, i) -> acc"
    " + shiftleft((CAST({a} AS BIGINT) >> i) & 1, 2 * i)"
    " + shiftleft((CAST({b} AS BIGINT) >> i) & 1, 2 * i + 1))"
)
_Z_DUCK = (
    "list_sum(list_transform(range(0, 16), i ->"
    " (((CAST({a} AS BIGINT) >> i) & 1) << (2 * i))"
    " + (((CAST({b} AS BIGINT) >> i) & 1) << (2 * i + 1))))"
)


@query(
    "sink_zorder_layout",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS VARCHAR)
                AS DOUBLE) AS revenue
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 299
      AND CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01'
                                        AND DATE '1996-12-31'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def sink_zorder_layout(spark, sf_dir):
    """Z-order (Morton-curve) data layout — multi-dimensional clustering
    for scan pruning, the lakehouse feature behind Delta's OPTIMIZE
    ZORDER BY: interleave the bits of the two dominant filter columns
    (customer key, order day) into one Morton value, range-partition and
    sort the write by it, and BOTH single-column and box filters skip
    most row groups via parquet min/max stats — where a plain sort only
    prunes its leading column. The z fold is pure integer arithmetic
    inside codegen (disjoint bits ⇒ sum == or).

    Registered check re-reads the z-laid-out table with a 2-dim box
    filter (custkey × year) and aggregates — correctness of the full
    write→read→filter path; the clustering property itself (per-file
    z-ranges are DISJOINT under range partitioning) is asserted in
    tests/test_sources.py. At 100 TB the same two lines
    (repartitionByRange + sortWithinPartitions on z) are the entire
    maintenance job."""
    o = load_table(spark, sf_dir, "orders")
    day = "datediff(o_orderdate, DATE '1970-01-01')"
    z = F.expr(
        _Z_SPARK.format(a="o_custkey % 65536", b=f"({day}) % 65536")
    )
    with scratch("etl_zorder_") as root:
        out = os.path.join(root, "orders_z")
        (
            o.withColumn("z", z)
            .repartitionByRange(8, "z")
            .sortWithinPartitions("z")
            .write.mode("overwrite")
            .parquet(out)
        )
        back = spark.read.parquet(out)
        revenue = (
            back.filter(
                F.col("o_custkey").between(100, 299)
                & F.col("o_orderdate")
                .cast("date")
                .between("1996-01-01", "1996-12-31")
            )
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n"),
                d2d(F.sum(dec("o_totalprice"))).alias("revenue"),
            )
            .localCheckpoint(eager=True)
        )
    return revenue.orderBy("o_orderpriority")


@query(
    "scan_rowgroup_stats",
    # The oracle reads the DATA through the registered view; the Spark
    # side reads ONLY parquet footers. Equality proves the row-group
    # statistics every pruning claim rests on are truthful — at any sf.
    oracle="""
    SELECT 'o_custkey' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS total_rows,
           CAST(MIN(o_custkey) AS VARCHAR) AS min_value,
           CAST(MAX(o_custkey) AS VARCHAR) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_orderkey', COUNT(*),
           CAST(MIN(o_orderkey) AS VARCHAR), CAST(MAX(o_orderkey) AS VARCHAR)
    FROM orders
    ORDER BY column_name
    """,
)
def scan_rowgroup_stats(spark, sf_dir):
    """Parquet footer statistics audit — the metadata every pruning claim
    in this repo rests on (sorted/Z-order layouts only pay off because
    row-group min/max footers let scans skip groups). The Spark side
    reads ONLY FOOTERS (pyarrow metadata; O(KB) per file — the same
    bytes the scan planner reads, not a data collect) and folds the
    per-row-group stats to per-column totals; the oracle computes the
    same numbers FROM THE DATA. Equality = the footers tell the truth,
    which is precisely what min/max pruning assumes.

    At fleet scale the footer sweep parallelizes (one task per file
    listing its groups); per-row-group detail — which this folds away
    for oracle portability — is one fewer aggregation step."""
    import pyarrow.parquet as pq

    path = table_path(sf_dir, "orders")
    md = pq.ParquetFile(path).metadata
    names = {md.schema.column(i).name: i for i in range(md.num_columns)}
    stats: dict[str, list] = {}
    total = 0
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        total += rg.num_rows
        for col in ("o_custkey", "o_orderkey"):
            st = rg.column(names[col]).statistics
            cur = stats.setdefault(col, [st.min, st.max])
            cur[0] = min(cur[0], st.min)
            cur[1] = max(cur[1], st.max)
    rows = [
        (col, total, str(mn), str(mx)) for col, (mn, mx) in sorted(stats.items())
    ]
    return spark.createDataFrame(
        rows,
        "column_name string, total_rows long, min_value string, max_value string",
    )
