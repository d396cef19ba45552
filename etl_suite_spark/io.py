"""Table loading: the extract side of the engine.

Canonical fixture tables (TESTDATA.md) are parquet; ``load_table`` is the
single scan entry point so every operator benefits from the same pushdown /
pruning behavior. At 100 TB these would be partitioned/ bucketed warehouse
tables — the API is path-based so the same code reads a 1000-file dataset.

Every parquet read of a table or a materialized artifact goes through
``read_parquet``, which keeps an in-process schema memo: a read without a
schema makes Spark run one job that opens a footer to infer it, so the
inferred schema is stored and later reads pass it back with
``.schema(...)``. The memo is metadata, not results: every read still scans
the parquet files. Spark's non-merging inference opens only the first data
file in full-path sort order, so the memo key is the path, that file's
(path, length, modification time) from a Hadoop FileSystem listing (no Spark
job; hidden ``_``/``.`` names skipped as Spark skips them) and the session
confs that change the parquet → Spark type mapping. A rewritten table misses;
a growing directory whose first file stays put still hits. There is one entry
per path, replaced when its key changes. Three cases fall back to plain
inference and store nothing: subdirectories (``k=v`` partition inference, or
files below the top level), a ``_metadata``/``_common_metadata`` summary
file, and ``spark.sql.parquet.mergeSchema=true``.

The memo's listing (``flat_files``) also serves an incremental tick, which
reads a subset of it (``load_files``): one ``DataFrameReader.parquet`` of
the listed files with the schema the whole path's read has, so one listing
gives both the key and the files, and a warm read runs no inference job.
The tick also asks ``timestamp_floor`` whether the footers of those files
prove every row past its watermark (``plans/incremental.py``).
"""

from __future__ import annotations

import os
import re

from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

from .session import configure

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Every SQLConf getter ParquetToSparkSchemaConverter reads in Spark 4.1: the
# confs that change how a footer's types map to Spark's.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.variant.allowReadingShredded",
)
_SUMMARY_FILES = ("_metadata", "_common_metadata")

# path -> (key, schema); see the module docstring. Entries are immutable
# pairs replaced whole, so concurrent readers need no lock: a racing store
# leaves one valid pair, at worst an older key that the next read misses.
_SCHEMAS: dict[str, tuple] = {}


def _listed(name: str) -> bool:
    """Spark's file-index filter: hidden ``_``/``.`` names and in-flight
    ``._COPYING_`` files are skipped; summary files and ``_k=v`` are kept."""
    hidden = (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )
    return not hidden or name.startswith(_SUMMARY_FILES)


def _hadoop(spark: SparkSession, path: str):
    """The Hadoop FileSystem of ``path`` and its JVM ``Path``."""
    root = JavaClass("org.apache.hadoop.fs.Path", spark._jvm._gateway_client)(path)
    return root.getFileSystem(spark._jsc.hadoopConfiguration()), root


# The part of Hadoop's ``FileStatus.toString`` a listing reads. The path is
# matched greedily, so the fields that follow it are the status's own.
_STATUS = re.compile(
    r"\{path=(.*); isDirectory=(true|false)"
    r"(?:; length=(\d+); replication=\d+; blocksize=\d+)?"
    r"; modification_time=(\d+); access_time=",
    re.DOTALL,
)


def _listing(spark: SparkSession, fs, root) -> list[tuple[str, bool, int, int]]:
    """One Hadoop listing of ``root`` (``root`` itself if it is a file): the
    sorted (full path, is directory, length, modification time) of the
    entries Spark's file index keeps. The statuses arrive as one NUL-joined
    string of their ``toString``, so the py4j round trips do not grow with
    the entry count; a status that does not parse raises ValueError."""
    statuses = fs.listStatus(root)
    seq = JavaClass("scala.collection.immutable.ArraySeq", spark._jvm._gateway_client)
    joined = seq.unsafeWrapArray(statuses).mkString("\0")
    shown = joined.split("\0") if joined else []
    if len(shown) != len(statuses):
        raise ValueError(f"a name under {root.toString()} holds a NUL")
    entries = []
    for status in shown:
        m = _STATUS.search(status)
        if m is None:
            raise ValueError(f"unparsed file status {status!r}")
        full, is_dir, length, mtime = m.groups()
        if _listed(full.rpartition("/")[2]):
            entries.append((full, is_dir == "true", int(length or 0), int(mtime)))
    return sorted(entries)


def data_files(spark: SparkSession, path: str) -> list[tuple[str, int, int]]:
    """The sorted (path, length, modification time) of every file a parquet
    read of ``path`` lists: ``path`` itself if it is a file, else the files
    below it, recursively, filtered as Spark filters them. Hadoop
    FileSystem listings only (no Spark job), so it is FS-agnostic and safe
    at plan-construction time; it costs a few py4j round trips per
    directory."""

    def walk(p: str):
        for full, is_dir, length, mtime in _listing(spark, *_hadoop(spark, p)):
            if is_dir:
                yield from walk(full)
            else:
                yield full, length, mtime

    return sorted(walk(path))


def flat_files(spark: SparkSession, path: str) -> list[tuple[str, int, int]] | None:
    """The sorted (path, length, modification time) of the data files of a
    flat parquet ``path``, from one Hadoop listing, or None when a read must
    go through Spark's own inference and file index: ``mergeSchema``,
    subdirectories (``k=v`` partition columns, nested files), a summary
    file, an empty listing or one that fails. It is the memo's gate and key
    source, and an incremental tick's record of the files it consumed."""
    if spark.conf.get("spark.sql.parquet.mergeSchema") == "true":
        return None
    try:
        fs, root = _hadoop(spark, path)
        if fs.getContentSummary(root).getDirectoryCount() > 1:
            return None  # subdirectories: partition inference, nested files
        entries = _listing(spark, fs, root)
    except (Py4JJavaError, ValueError):  # e.g. a missing path: the plain read raises
        return None
    if not entries or any(full.rpartition("/")[2].startswith(_SUMMARY_FILES) for full, *_ in entries):
        return None
    return [(full, length, mtime) for full, _, length, mtime in entries]


# A parquet TIMESTAMP unit as (multiplier, divisor) to microseconds.
_TO_MICROS = {"milliseconds": (1000, 1), "microseconds": (1, 1), "nanoseconds": (1, 1000)}


def timestamp_floor(files, column: str, above: int) -> int | None:
    """The least value of the top-level ``column`` over ``files`` (a
    listing's (path, length, mtime) entries) in microseconds since the
    epoch, NANOS floored, read from parquet footer statistics alone, when
    it is greater than ``above``; None as soon as one file does not prove
    that: a path that is not ``file:``, a file no longer at its listed
    length and mtime, a column that is not INT64 TIMESTAMP (MILLIS, MICROS
    or NANOS; INT96 and every other type fail), a row group without min/max
    statistics and a null count, or with a null (min/max skip nulls). One
    pyarrow footer read per file, no Spark job."""
    import json

    import pyarrow.parquet as pq

    lo = None
    for path, length, mtime in files:
        if not path.startswith("file:"):
            return None
        try:
            with open(path[len("file:"):], "rb") as f:
                st = os.fstat(f.fileno())
                md = pq.read_metadata(f)
        except (OSError, ValueError):  # gone or unreadable: the scan reports it
            return None
        if (st.st_size, st.st_mtime_ns // 1_000_000) != (length, mtime):
            return None
        fields = [md.schema.column(i) for i in range(md.num_columns)]
        i = next((i for i, c in enumerate(fields) if c.path == column), None)
        if i is None or fields[i].physical_type != "INT64" or fields[i].logical_type.type != "TIMESTAMP":
            return None
        mul, div = _TO_MICROS[json.loads(fields[i].logical_type.to_json())["timeUnit"]]
        for g in range(md.num_row_groups):
            stats = md.row_group(g).column(i).statistics
            if stats is None or not (stats.has_min_max and stats.has_null_count) or stats.null_count:
                return None
            us = stats.min_raw * mul // div
            if us <= above:
                return None
            lo = us if lo is None else min(lo, us)
    return lo


def _read(spark: SparkSession, path: str, listing, files) -> DataFrame:
    """One ``DataFrameReader.parquet`` of ``files`` (all of ``path`` when
    None), a subset of ``listing`` (``flat_files(spark, path)``), with the
    schema a read of ``path`` infers. A hit passes the memoized schema; a
    miss infers it from ``files`` when they start with the listing's first
    file (the one inference opens), else from ``path``, and stores it."""
    paths = [path] if files is None else [full for full, _, _ in files]
    if listing is None:
        return spark.read.parquet(*paths)
    key = listing[0], tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(*paths)
    same = files is None or files[:1] == listing[:1]
    df = spark.read.parquet(*paths) if same else spark.read.parquet(path)
    _SCHEMAS[path] = (key, df.schema)
    return df if same else spark.read.schema(df.schema).parquet(*paths)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` through the schema memo: a hit passes the
    memoized schema and launches no inference job; a miss infers as usual
    and stores the schema when the layout has a key (module docstring)."""
    return _read(spark, path, flat_files(spark, path), None)


def forget_schemas(root: str) -> None:
    """Drop the memo entries of every path at or below ``root``: a removed
    scratch dir's paths are never read again."""
    below = root.rstrip(os.sep) + os.sep
    for path in [p for p in _SCHEMAS if p == root or p.startswith(below)]:
        _SCHEMAS.pop(path, None)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one canonical table. Column pruning + predicate pushdown are
    Catalyst's job — callers just ``.select``/``.filter`` declaratively.

    The read goes through :func:`read_parquet`'s schema memo, keyed on the
    path, the (path, length, mtime) of its first data file and the parquet
    type-mapping confs; subdirectories (``k=v`` partitions), summary files
    and ``mergeSchema`` fall back to plain inference. A hit holds the real
    inferred schema, so the ``events.ts`` dispatch is unchanged."""
    return load_files(spark, sf_dir, name, flat_files(spark, table_path(sf_dir, name)), None)


def load_files(spark: SparkSession, sf_dir: str, name: str, listing, files) -> DataFrame:
    """:func:`load_table` over ``files``, a subset of the table's
    ``listing`` (``flat_files``; all of the table when ``files`` is None),
    as one parquet read with the schema the whole table's read has."""
    configure(spark)
    df = _read(spark, table_path(sf_dir, name), listing, files)
    if name == "events":
        # ts is parquet TIMESTAMP(NANOS). How Spark surfaces it varies by
        # version/conf: either TIMESTAMP_NTZ (Spark 4.1 default: ns
        # truncated to µs — byte-identical to DuckDB's read_parquet
        # truncation, verified) or raw int64 nanos (when
        # spark.sql.legacy.parquet.nanosAsLong is in effect). Dispatch on
        # the ACTUAL read schema — never assume a conf took effect — and
        # normalize to session-TZ (UTC) TimestampType so every downstream
        # operator sees one ts type.
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes)["ts"]
        if ts_type == "bigint":
            # raw nanos → floor-divide to µs (matches DuckDB truncation)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type.startswith("timestamp"):
            # ntz → ltz is an identity rebase under the UTC session TZ
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        else:  # pragma: no cover - new Spark behavior would need a look
            raise TypeError(f"events.ts read as unexpected type {ts_type!r}")
        assert dict(df.dtypes)["ts"] == "timestamp", dict(df.dtypes)["ts"]
        df = df.select("event_id", "ts", "user_id", "event_type", "value", "props")
    return df


def table_bytes(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Total on-disk bytes of one canonical table, read through the Hadoop
    FileSystem API — NO Spark job, and FS-agnostic (local, HDFS, S3A all
    implement getContentSummary), so it is safe to call at plan-construction
    time. Used to gate broadcast hints on derived tables whose size tracks
    the source corpus (e.g. the bigram-type count tables of the LM scorers):
    a row-count gate there would itself cost a full aggregation job just to
    pick a join strategy, while source bytes are a sound upper-bound proxy —
    a distinct-key count table is never larger than a small multiple of the
    corpus it was counted from."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(table_path(sf_dir, name))
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return int(fs.getContentSummary(path).getLength())


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all fixture tables as temp views for the SQL entry point."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def byte_gated_broadcast(spark: SparkSession, sf_dir: str, name: str, gate_bytes: int):
    """Shared core of every byte-gated broadcast hint (code-review r8:
    three near-identical copies had grown — the LM count tables, the
    embedding docvec table, the TPC-H dims). Under the gate: return
    ``F.broadcast`` (the hint is strictly best). At or over it: return
    identity — no hint is planted and AQE picks the join strategy from
    runtime sizes. The gate reads FILE bytes via :func:`table_bytes`
    (no Spark job at plan-construction time); callers keep their own
    per-family gate constants and monkeypatch points."""
    from pyspark.sql import functions as F

    if table_bytes(spark, sf_dir, name) < gate_bytes:
        return F.broadcast
    return lambda df: df
