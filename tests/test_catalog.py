"""catalog.load_tables as a session-scoped schema store: one footer
inference per table per session, revalidated when the table's files or
the inference confs change, and a fresh relation on every call."""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from datawarehouse_spark.catalog import load_tables
from tests.conftest import SF_ORACLE
from tests.jobcount import jobs


def _copy(tmp_path, *names) -> str:
    """A private copy of fixture tables, so this session has not seen
    them yet and the first load really infers. ``copyfile``, not
    ``copy``: the fixture files are read-only, the copies are rewritten."""
    d = tmp_path / "tables"
    d.mkdir(exist_ok=True)
    for n in names:
        shutil.copyfile(f"{SF_ORACLE}/{n}.parquet", d / f"{n}.parquet")
    return str(d)


def test_first_load_infers_later_loads_run_no_job(spark, tmp_path):
    """One footer-inference job per table the first time a session
    sees it, none after; another session starts with an empty store."""
    d = _copy(tmp_path, "lineitem", "orders")
    names = ("lineitem", "orders")
    assert jobs(spark, lambda: load_tables(spark, d, names)) == 2
    assert jobs(spark, lambda: load_tables(spark, d, names)) == 0
    other = spark.newSession()
    assert jobs(other, lambda: load_tables(other, d, names)) == 2
    assert jobs(spark, lambda: load_tables(spark, d, names)) == 0


def test_frames_from_two_loads_self_join(spark, tmp_path):
    """Only the schema is cached: each call builds a new relation with
    new expression ids, so two calls' frames join without ambiguity."""
    d = _copy(tmp_path, "orders")
    a = load_tables(spark, d, ("orders",))["orders"]
    b = load_tables(spark, d, ("orders",))["orders"]
    joined = a.join(b, a.o_orderkey == b.o_orderkey).select(a.o_orderkey, b.o_custkey)
    assert joined.count() == a.count() > 0


def test_changed_file_is_reinferred(spark, tmp_path):
    """A rewrite with another schema is seen on the next call; a
    same-size rewrite whose mtime moved runs the inference job again."""
    d = _copy(tmp_path, "orders")
    path = os.path.join(d, "orders.parquet")
    load_tables(spark, d, ("orders",))

    pq.write_table(pa.table({"k": [1, 2, 3], "note": ["a", "b", "c"]}), path)
    df = load_tables(spark, d, ("orders",))["orders"]
    assert df.columns == ["k", "note"]
    assert df.agg(F.sum("k")).first()[0] == 6

    shutil.copyfile(f"{SF_ORACLE}/orders.parquet", path)
    load_tables(spark, d, ("orders",))
    shutil.copyfile(f"{SF_ORACLE}/orders.parquet", path)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 5 * 10**9))
    assert jobs(spark, lambda: load_tables(spark, d, ("orders",))) == 1
    assert jobs(spark, lambda: load_tables(spark, d, ("orders",))) == 0


def test_inference_conf_change_is_reinferred(spark, tmp_path):
    """An unannotated BYTE_ARRAY column reads as binary or string as
    spark.sql.parquet.binaryAsString says at call time."""
    key = "spark.sql.parquet.binaryAsString"
    pq.write_table(pa.table({"b": pa.array([b"x", b"yz"], pa.binary())}),
                   tmp_path / "blobs.parquet")
    old = spark.conf.get(key)
    try:
        types = []
        for value in ("false", "true", "false"):
            spark.conf.set(key, value)
            df = load_tables(spark, str(tmp_path), ("blobs",))["blobs"]
            types.append(df.schema["b"].dataType.simpleString())
    finally:
        spark.conf.set(key, old)
    assert types == ["binary", "string", "binary"]


def test_partitioned_directory_gaining_a_file_is_reinferred(spark, tmp_path):
    """A directory table is fingerprinted through its partition
    subdirectories: a new leaf file is seen on the next call, and a
    spark.sql.parquet.mergeSchema change re-infers (merged: every
    file's columns; not merged: one file's)."""
    key = "spark.sql.parquet.mergeSchema"
    d = tmp_path / "parts.parquet"
    (d / "p=1").mkdir(parents=True)
    pq.write_table(pa.table({"x": [1]}), d / "p=1" / "a.parquet")
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        first = load_tables(spark, str(tmp_path), ("parts",))["parts"].columns
        (d / "p=2").mkdir()
        pq.write_table(pa.table({"y": [2]}), d / "p=2" / "b.parquet")
        merged = load_tables(spark, str(tmp_path), ("parts",))["parts"].columns
        spark.conf.set(key, "false")
        single = load_tables(spark, str(tmp_path), ("parts",))["parts"].columns
    finally:
        spark.conf.set(key, old)
    assert first == ["x", "p"]
    assert sorted(merged) == ["p", "x", "y"]
    assert single in (["x", "p"], ["y", "p"])


def test_concurrent_cold_loads_agree(spark, tmp_path):
    """Suite members load from a 3-thread pool: cold concurrent loads
    raise nothing and all see the same schemas."""
    d = _copy(tmp_path, "lineitem", "orders")
    names = ("lineitem", "orders")

    def schemas(_):
        return {n: df.schema for n, df in load_tables(spark, d, names).items()}

    with ThreadPoolExecutor(max_workers=3) as pool:
        got = list(pool.map(schemas, range(6)))
    inferred = {n: spark.read.parquet(f"{d}/{n}.parquet").schema for n in names}
    assert all(g == got[0] for g in got)
    assert got[0] == inferred
