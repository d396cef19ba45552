"""Scale-path operators: skew salting, bucketed co-located joins, dynamic
partition overwrite (SURVEY.md §4.3).

These exist for the 100 TB mandate: AQE handles moderate skew and broadcast
picks up small dims automatically, but pathological keys (one customer with
10% of all orders) and repeated fact⋈fact joins on the same key need the
two classic layout tools — salting and bucketing — expressed as library
helpers so every pipeline uses the same audited implementation.
"""

from __future__ import annotations

import os
import tempfile
import threading
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core import _mat_run_root, scratch
from ..io import load_table
from ..registry import query


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Skew-resistant equi-join: fact rows get a random salt in [0, salt),
    the (small) dim side is exploded ×salt, and the join key becomes
    (key, salt) — a single hot key now spreads over ``salt`` reducers.

    Semantics are identical to ``fact.join(dim, key, how)`` (proved by the
    oracle below); use only when AQE skew splitting isn't enough, because
    it multiplies the dim side. The salt is ``pmod(xxhash64(monotonic id),
    salt)`` — deterministic per task layout, uniform, and never collected.
    """
    fact_s = fact.withColumn(
        "__salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt))
    )
    dim_s = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = fact_s.join(dim_s, [key, "__salt"], how)
    return out.drop("__salt")


@query(
    "join_salted_skew",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def join_salted_skew(spark, sf_dir):
    """The salted join must be result-identical to the plain join — the
    oracle IS the plain join. Salting changes physics, never semantics."""
    o = load_table(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "custkey")
    c = load_table(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "custkey")
    joined = salted_join(
        o.select("custkey", "o_orderkey", "o_totalprice"),
        c.select("custkey", "c_name", "c_mktsegment"),
        key="custkey",
    )
    return joined.select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")


def write_bucketed(
    df: DataFrame, table_name: str, key: str, buckets: int = 8, path: str | None = None
) -> None:
    """Persist a table bucketed+sorted by the join key. Two tables bucketed
    the same way join with ZERO shuffle (SortMergeJoin reads co-located
    buckets directly) — the layout for repeated fact⋈fact joins at scale."""
    writer = (
        df.write.mode("overwrite")
        .bucketBy(buckets, key)
        .sortBy(key)
        .format("parquet")
    )
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


# Name prefixes of sink_bucketed_colocated_join's two catalog tables.
_BUCKETED = ("orders_b_", "lineitem_b_")
_BUCKETED_LOCK = threading.Lock()


@query(
    "sink_bucketed_colocated_join",
    oracle="""
    SELECT o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY 1 ORDER BY 1 LIMIT 100
    """,
)
def sink_bucketed_colocated_join(spark, sf_dir):
    """Bucket orders and lineitem by orderkey, then join the two bucketed
    tables: the plan has no Exchange on either side (pinned in
    test_plans.py). At 100 TB this converts the biggest recurring shuffle
    (fact⋈fact on orderkey) into a local merge per bucket. The returned
    frame stays lazy for that plan check, so the tables' files live under
    the process run root (``core._mat_run_root``, removed at exit). Each
    call first drops the pair of catalog tables an earlier call registered:
    a returned frame has already resolved its tables, so it still runs, and
    the catalog holds at most one pair."""
    root = tempfile.mkdtemp(prefix="etl_bucket_", dir=_mat_run_root())
    suffix = uuid.uuid4().hex[:8]
    o_name, l_name = (prefix + suffix for prefix in _BUCKETED)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    with _BUCKETED_LOCK:  # a concurrent call must not drop tables before they resolve
        for t in spark.catalog.listTables(pattern="|".join(p + "*" for p in _BUCKETED)):
            if not t.isTemporary:
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")
        write_bucketed(o, o_name, "o_orderkey", path=os.path.join(root, "o"))
        write_bucketed(
            li.withColumnRenamed("l_orderkey", "o_orderkey"),
            l_name,
            "o_orderkey",
            path=os.path.join(root, "l"),
        )
        ob, lb = spark.table(o_name), spark.table(l_name)
    return (
        ob.join(lb, "o_orderkey")
        .groupBy("o_orderkey")
        .agg(F.count("*").alias("n_lines"))
        .orderBy("o_orderkey")
        .limit(100)
    )


@query(
    "sink_overwrite_partition",
    # idempotence check: re-loading one day must leave per-day totals
    # exactly equal to the source
    oracle="""
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def sink_overwrite_partition(spark, sf_dir):
    """Idempotent window reload via dynamic partition overwrite: rewrite
    ONLY the partitions present in the incoming batch, leaving the rest of
    the warehouse untouched — the reference's delete-then-reload recovery,
    done natively by the committer (no manual deletes). The overwrite
    mode is a per-write option, so the session conf is left as it was."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    one_day = ev.filter(F.col("day") == "2024-01-15")
    with scratch("etl_dynpart_") as root:
        out = os.path.join(root, "events_by_day")
        # load, then re-load one day (the idempotent re-run) — only that
        # directory is rewritten; totals must not change.
        for df in (ev, one_day):
            df.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("day").parquet(out)
        days = (
            spark.read.parquet(out)
            .groupBy("day")
            .agg(F.count("*").alias("n"))
            .localCheckpoint(eager=True)
        )
    return days.orderBy("day")


# ---------------------------------------------------------------------------
# Bloom-filter join pruning — the "runtime filter" rewrite, library-level.
#
# Spark's own injected bloom filters (spark.sql.optimizer.runtime.bloomFilter)
# only fire above size thresholds tuned for clusters; this is the same idea as
# an explicit, always-available DataFrame rewrite with zero driver-side data
# movement: the filter side aggregates k hashed bit positions into a bitmap
# (map<word_idx, int64> via bit_or — a few hundred rows max), which is
# broadcast and probed JVM-side on the big side BEFORE its shuffle. False
# positives only waste work; the real join afterwards keeps results exact.
# ---------------------------------------------------------------------------

_BLOOM_M = 1 << 16  # bits in the filter
_BLOOM_K = 3  # hash functions


def _bloom_positions(key_col: F.Column, m_bits: int, k: int) -> list[F.Column]:
    """k seeded xxhash64 bit positions for one key value."""
    return [
        F.pmod(F.xxhash64(key_col, F.lit(i)), F.lit(m_bits)) for i in range(k)
    ]


def bloom_build(
    keys: DataFrame, key: str, m_bits: int = _BLOOM_M, k: int = _BLOOM_K
) -> DataFrame:
    """Build a bloom filter of ``keys[key]`` as a ONE-ROW DataFrame holding
    ``map<int, bigint>`` (word index → 64-bit word). Pure DataFrame ops:
    explode the k positions, bit_or per word — distributed build, no
    ``collect()``, so it works on a dim side of any size."""
    pos = keys.select(
        F.explode(F.array(*_bloom_positions(F.col(key), m_bits, k))).alias("pos")
    )
    words = (
        pos.select(
            (F.col("pos") / 64).cast("int").alias("w"),
            F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
    )
    return words.agg(
        F.map_from_entries(F.collect_list(F.struct("w", "word"))).alias("__bloom")
    )


def bloom_prune(
    fact: DataFrame,
    key: str,
    bloom: DataFrame,
    m_bits: int = _BLOOM_M,
    k: int = _BLOOM_K,
) -> DataFrame:
    """Keep only fact rows whose ``key`` might be in the bloom filter.
    The one-row bitmap is broadcast; the probe is k map lookups + bit tests
    inside whole-stage codegen — no shuffle, no Python."""
    probed = fact.crossJoin(F.broadcast(bloom))
    tests = []
    for i in range(k):
        pos = f"pmod(xxhash64({key}, {i}), {m_bits})"
        word = f"coalesce(element_at(__bloom, CAST({pos} / 64 AS INT)), 0L)"
        bit = f"shiftleft(1L, CAST({pos} % 64 AS INT))"
        tests.append(f"(({word} & {bit}) <> 0)")
    return probed.filter(F.expr(" AND ".join(tests))).drop("__bloom")


@query(
    "join_bloom_pruned",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_name
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    """,
)
def join_bloom_pruned(spark, sf_dir):
    """Selective dim join with bloom pre-pruning: orders rows whose custkey
    can't match a BUILDING customer are dropped before the join shuffle.
    At 100 TB this is the difference between shuffling the whole fact table
    and shuffling the ~1/5 that can match. The oracle is the plain join —
    bloom pruning must never change semantics."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    bloom = bloom_build(c.select(F.col("c_custkey").alias("k")), "k")
    pruned = bloom_prune(
        o.withColumn("k", F.col("o_custkey")), "k", bloom
    ).drop("k")
    return pruned.join(
        c.select(F.col("c_custkey").alias("o_custkey"), "c_name"), "o_custkey"
    ).select("o_orderkey", "o_totalprice", "c_name")


def merge_upsert(target: DataFrame, source: DataFrame, key: str) -> DataFrame:
    """MERGE INTO semantics as a frame transform: source rows replace
    matching target rows (by key), unmatched target rows survive, new
    source rows insert. One full-outer-shaped plan expressed as
    anti-join + union — both sides shuffle once on the key. Pair with
    dynamic partition overwrite (sink_overwrite_partition) to land it."""
    kept = target.join(source.select(key), key, "left_anti")
    return kept.unionByName(source)


@query(
    "sink_merge_upsert",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 7 <> 0
    UNION ALL
    SELECT o_orderkey, 'R' AS o_orderstatus, o_totalprice * 1.1 AS o_totalprice
    FROM orders WHERE o_orderkey % 7 = 0
    """,
)
def sink_merge_upsert(spark, sf_dir):
    """MERGE demonstrator: every 7th order arrives re-stated (status 'R',
    price +10%); the merge keeps all other rows untouched and replaces the
    matched ones — row count invariant, values updated."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    restated = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit("R").alias("o_orderstatus"),
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
    )
    return merge_upsert(o, restated, "o_orderkey")


def bucketed_range_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    window_seconds: int,
) -> DataFrame:
    """Rewrite a global time-range join as an equi-join on time buckets.

    Semantics: pair (l, r) where ``r.ts <= l.ts`` and
    ``r.ts > l.ts - window``. Without an equi key Spark must plan a
    broadcast/cartesian nested loop — O(|L|·|R|) comparisons, which is the
    operator that dies first at 100 TB. Bucketing by
    ``floor(epoch / window)`` makes every qualifying pair share one of two
    adjacent buckets, so the left side explodes to exactly 2 candidate
    buckets per row, the join becomes a shuffled HASH join on the bucket
    id, and the exact range predicate filters inside each bucket:
    comparisons drop to O(pairs-per-window). Bucket width = window keeps
    the candidate blowup at a constant 2×.
    """
    b = F.lit(window_seconds).cast("long")
    lb = F.floor(F.col(left_ts).cast("long") / b)
    rb = F.floor(F.col(right_ts).cast("long") / b)
    lx = left.withColumn("bucket", F.explode(F.array(lb - 1, lb)))
    rx = right.withColumn("bucket", rb)
    return lx.join(rx, "bucket").filter(
        (F.col(right_ts) <= F.col(left_ts))
        & (F.col(right_ts) > F.col(left_ts) - F.make_interval(secs=F.lit(window_seconds)))
    )


@query(
    "join_range_bucketed",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id AS p_user, c.user_id AS c_user
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.ts <= p.ts AND c.ts > p.ts - INTERVAL 5 MINUTE
    """,
)
def join_range_bucketed(spark, sf_dir):
    """Global interval join (no equi key): every click within the 5 minutes
    up to each purchase, across ALL users — e.g. attribution against a
    global promo feed. The oracle states the naive O(n²) form; the Spark
    plan is the bucketed rewrite (see :func:`bucketed_range_join`), which
    produces identical pairs through a hash join keyed on the time bucket.
    """
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        F.col("user_id").alias("p_user"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
        F.col("user_id").alias("c_user"),
    )
    return bucketed_range_join(p, c, "p_ts", "c_ts", 300).select(
        "purchase_id", "click_id", "p_user", "c_user"
    )


@query(
    "join_null_skew_rewrite",
    oracle="""
    WITH l AS (
      SELECT o_orderkey, o_totalprice,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_custkey END AS cust_fk
      FROM orders
    )
    SELECT l.o_orderkey, l.cust_fk, l.o_totalprice, c.c_mktsegment
    FROM l LEFT JOIN customer c ON l.cust_fk = c.c_custkey
    """,
)
def join_null_skew_rewrite(spark, sf_dir):
    """Null-key skew rewrite for outer joins. A left join whose FK column
    is heavily null (here: synthesized ~14% null) hashes every null row
    to ONE reducer in a shuffled join — the classic silent skew. The
    rewrite splits the left side: null-FK rows bypass the join entirely
    (their output is known: null-extended), non-null rows join normally,
    then union. Same result as the naive plan, no hot partition. (With
    AQE skew-join or a broadcast right side Spark often saves you anyway
    — this is the explicit library form for when it doesn't.)"""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    left = o.select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("o_custkey"))
        .alias("cust_fk"),
    )
    nn = left.filter(F.col("cust_fk").isNotNull()).join(
        c, F.col("cust_fk") == F.col("c_custkey"), "left"
    )
    nulls = left.filter(F.col("cust_fk").isNull()).withColumn(
        "c_mktsegment", F.lit(None).cast("string")
    )
    return nn.select("o_orderkey", "cust_fk", "o_totalprice", "c_mktsegment").unionByName(
        nulls.select("o_orderkey", "cust_fk", "o_totalprice", "c_mktsegment")
    )
