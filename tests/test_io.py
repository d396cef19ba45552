"""The parquet schema memo (io.read_parquet): a warm read of an unchanged
table passes the stored schema and launches no inference job; a rewritten
first data file, a new file sorting first or a changed type-mapping conf
misses; partition directories and ``mergeSchema`` read exactly as a plain
``spark.read.parquet``. Jobs are counted through a job group."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import SF_DIR, spark_jobs

from etl_suite_spark import io


def write(path, **cols) -> None:
    pq.write_table(pa.table(cols), path)


def read(spark, path):
    """(schema of io.read_parquet(path), Spark jobs the read launched)."""
    df, jobs = spark_jobs(spark, lambda: io.read_parquet(spark, str(path)))
    return df.schema.simpleString(), jobs


def plain(spark, path) -> str:
    return spark.read.parquet(str(path)).schema.simpleString()


@pytest.fixture
def conf(spark):
    """Set session confs for one test, restored afterwards."""
    saved = {}

    def set_(key, value):
        saved.setdefault(key, spark.conf.get(key))
        spark.conf.set(key, value)

    yield set_
    for key, value in saved.items():
        spark.conf.set(key, value)


def test_second_load_of_an_unchanged_table_launches_no_job(spark, tmp_path):
    shutil.copy(io.table_path(SF_DIR, "orders"), tmp_path / "orders.parquet")
    first, jobs = spark_jobs(spark, lambda: io.load_table(spark, str(tmp_path), "orders"))
    assert jobs == 1  # footer inference
    second, jobs = spark_jobs(spark, lambda: io.load_table(spark, str(tmp_path), "orders"))
    assert jobs == 0
    assert second.schema == first.schema
    assert second.count() == first.count()


def test_events_dispatch_is_unchanged_on_a_hit(spark, tmp_path):
    shutil.copy(io.table_path(SF_DIR, "events"), tmp_path / "events.parquet")
    cold = io.load_table(spark, str(tmp_path), "events")
    warm, jobs = spark_jobs(spark, lambda: io.load_table(spark, str(tmp_path), "events"))
    assert jobs == 0
    assert warm.schema == cold.schema and dict(warm.dtypes)["ts"] == "timestamp"
    assert sorted(warm.collect()) == sorted(cold.collect())


def test_rewritten_file_with_a_new_schema_misses(spark, tmp_path):
    path = tmp_path / "t.parquet"
    write(path, x=[1, 2, 3])
    assert read(spark, path) == ("struct<x:bigint>", 1)
    assert read(spark, path) == ("struct<x:bigint>", 0)
    write(path, y=["a", "b"], z=[1.5, 2.5])
    assert read(spark, path) == ("struct<y:string,z:double>", 1)
    assert read(spark, path) == ("struct<y:string,z:double>", 0)


def test_directory_is_keyed_on_its_first_data_file(spark, tmp_path):
    """Spark's non-merging inference opens only the first data file in
    full-path sort order; hidden files are not data."""
    d = tmp_path / "t"
    d.mkdir()
    write(d / "batch-a.parquet", x=[1])
    write(d / "part-b.parquet", y=[2])
    (d / "_SUCCESS").write_text("")
    (d / ".batch-0.parquet.crc").write_text("")
    assert read(spark, d) == ("struct<x:bigint>", 1) and plain(spark, d) == "struct<x:bigint>"
    write(d / "zz.parquet", z=[3])  # sorts after the first: still a hit
    assert read(spark, d) == ("struct<x:bigint>", 0)
    write(d / "aa.parquet", w=["s"])  # a new first file: a miss
    assert read(spark, d) == ("struct<w:string>", 1) and plain(spark, d) == "struct<w:string>"


def test_type_mapping_conf_is_part_of_the_key(spark, tmp_path, conf):
    path = tmp_path / "b.parquet"
    write(path, b=pa.array([b"ab", b"cd"], pa.binary()))
    conf("spark.sql.parquet.binaryAsString", "false")
    assert read(spark, path) == ("struct<b:binary>", 1)
    assert read(spark, path) == ("struct<b:binary>", 0)
    conf("spark.sql.parquet.binaryAsString", "true")
    assert read(spark, path) == ("struct<b:string>", 1)


def test_partitioned_directory_reads_as_plain_and_stores_nothing(spark, tmp_path):
    d = tmp_path / "p"
    for k in (1, 2):
        (d / f"k={k}").mkdir(parents=True)
        write(d / f"k={k}" / "part-0.parquet", x=[k])
    for _ in range(2):
        schema, _ = read(spark, d)
        assert schema == plain(spark, d) == "struct<x:bigint,k:int>"
    single = tmp_path / "q"  # one partition: every file still shares a parent
    (single / "k=1").mkdir(parents=True)
    write(single / "k=1" / "part-0.parquet", x=[1])
    assert read(spark, single)[0] == plain(spark, single) == "struct<x:bigint,k:int>"
    assert str(d) not in io._SCHEMAS and str(single) not in io._SCHEMAS


def test_summary_file_falls_back(spark, tmp_path):
    d = tmp_path / "s"
    d.mkdir()
    write(d / "part-0.parquet", x=[1])
    shutil.copy(d / "part-0.parquet", d / "_common_metadata")
    assert read(spark, d)[0] == plain(spark, d)
    assert str(d) not in io._SCHEMAS


def test_merge_schema_reads_as_plain(spark, tmp_path, conf):
    d = tmp_path / "m"
    d.mkdir()
    write(d / "a.parquet", x=[1])
    write(d / "b.parquet", y=[2])
    assert read(spark, d) == ("struct<x:bigint>", 1)  # stored under the plain key
    conf("spark.sql.parquet.mergeSchema", "true")
    merged = plain(spark, d)
    assert merged == "struct<x:bigint,y:bigint>"
    assert read(spark, d)[0] == merged  # not the stored single-file schema


def test_one_entry_per_path_after_a_rewrite(spark, tmp_path):
    path = tmp_path / "r.parquet"
    write(path, x=[1])
    io.read_parquet(spark, str(path))
    before = len(io._SCHEMAS)
    key = io._SCHEMAS[str(path)][0]
    write(path, x=[1, 2], y=["a", "b"])
    io.read_parquet(spark, str(path))
    assert len(io._SCHEMAS) == before
    assert io._SCHEMAS[str(path)][0] != key


def test_data_files_lists_what_spark_reads(spark, tmp_path):
    d = tmp_path / "l"
    (d / "k=1").mkdir(parents=True)
    write(d / "k=1" / "b.parquet", x=[1])
    write(d / "a.parquet", x=[2])
    (d / "_SUCCESS").write_text("")
    (d / ".a.parquet.crc").write_text("")
    (d / "c.parquet._COPYING_").write_text("")
    files = io.data_files(spark, str(d))
    names = ["a.parquet", "k=1/b.parquet"]
    assert [os.path.relpath(f.split(":", 1)[1], d) for f, _, _ in files] == names
    assert [n for _, n, _ in files] == [os.path.getsize(d / name) for name in names]
    assert [m for _, _, m in files] == [os.stat(d / name).st_mtime_ns // 10**6 for name in names]
    assert io.data_files(spark, str(d / "a.parquet"))[0] == files[0]
    assert io.flat_files(spark, str(d)) is None  # a subdirectory: Spark's own index reads it
    assert io.flat_files(spark, str(d / "k=1")) == [files[1]]


def test_file_list_read_takes_the_whole_paths_schema(spark, tmp_path):
    """A subset of a listing reads with the schema a read of the whole path
    infers (the first file's), cold or warm; a warm read runs no job."""
    d = tmp_path / "f"
    d.mkdir()
    write(d / "a.parquet", x=[1], y=["s"])
    write(d / "b.parquet", x=[2])
    write(d / "c.parquet", x=[3])
    listing = io.flat_files(spark, str(d))
    for files, want_jobs in ((listing[1:], 1), (listing[2:], 0), (listing[:1], 0)):
        df, jobs = spark_jobs(spark, lambda: io._read(spark, str(d), listing, files))
        assert (df.schema.simpleString(), jobs) == ("struct<x:bigint,y:string>", want_jobs)
        assert sorted(os.path.basename(f) for f in df.inputFiles()) == [
            os.path.basename(f) for f, _, _ in files
        ]
    assert sorted(io._read(spark, str(d), listing, listing[1:]).collect()) == [(2, None), (3, None)]


def test_scratch_removes_its_dir_and_memo_entries_when_the_block_raises(spark):
    from etl_suite_spark.core import scratch

    with pytest.raises(RuntimeError, match="mid-block"):
        with scratch("etl_unit_") as root:
            path = os.path.join(root, "t")
            spark.range(3).write.parquet(path)
            io.read_parquet(spark, path)
            assert path in io._SCHEMAS
            raise RuntimeError("mid-block")
    assert not os.path.exists(root)
    assert path not in io._SCHEMAS


def test_timestamp_floor_needs_every_footer_to_prove_it(tmp_path, monkeypatch):
    """``io.timestamp_floor``: the least µs of an INT64 TIMESTAMP column
    from footer statistics alone (MILLIS scaled, NANOS floored) when it is
    above the bound; None as soon as one footer cannot prove that."""
    t0 = 1_700_000_000_000_000  # µs since the epoch

    def entry(name, ts, unit="us", **options):
        path = tmp_path / name
        table = pa.table({"ts": pa.array(ts, pa.timestamp(unit)), "x": pa.array(range(len(ts)))})
        pq.write_table(table, path, **options)
        st = os.stat(path)
        return f"file:{path}", st.st_size, st.st_mtime_ns // 10**6

    micros = entry("us.parquet", [t0 + 5, t0 + 2], row_group_size=1)
    millis = entry("ms.parquet", [t0 // 1000 + 1], "ms")
    nanos = entry("ns.parquet", [(t0 + 3) * 1000 + 999], "ns")
    assert io.timestamp_floor([micros], "ts", t0) == t0 + 2
    assert io.timestamp_floor([millis], "ts", t0) == t0 + 1000
    assert io.timestamp_floor([nanos], "ts", t0) == t0 + 3
    assert io.timestamp_floor([micros, millis, nanos], "ts", t0) == t0 + 2
    assert io.timestamp_floor([micros], "ts", t0 + 2) is None  # the min must be above
    assert io.timestamp_floor([nanos], "ts", t0 + 3) is None  # read truncated to t0 + 3

    unproven = {
        "null": entry("null.parquet", [t0 + 5, None]),
        "no statistics": entry("nostats.parquet", [t0 + 5], write_statistics=False),
        "INT96": entry("int96.parquet", [t0 + 5], use_deprecated_int96_timestamps=True),
        "not file:": ("hdfs:" + micros[0][len("file:"):], *micros[1:]),
        "changed since listed": (micros[0], micros[1], micros[2] - 1),
        "missing": ("file:" + str(tmp_path / "gone.parquet"), 1, 1),
    }
    for why, bad in unproven.items():
        assert io.timestamp_floor([micros, bad], "ts", t0) is None, why
    assert io.timestamp_floor([micros], "x", -1) is None  # INT64 without TIMESTAMP
    assert io.timestamp_floor([micros], "absent", t0) is None

    opened = []
    read_metadata = pq.read_metadata
    monkeypatch.setattr(pq, "read_metadata", lambda f: opened.append(f) or read_metadata(f))
    assert io.timestamp_floor([micros, millis, nanos], "ts", t0 + 2) is None
    assert len(opened) == 1  # stops at the first file that fails
