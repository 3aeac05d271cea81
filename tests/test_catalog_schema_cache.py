"""catalog.parquet_schema: each table's schema is inferred once per
process. A repeated load_table of an unchanged table starts no Spark job,
and the cache misses when the files or the schema-inference confs
change."""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import TimestampNTZType, TimestampType

from mapreduce_infrastructure_spark.catalog import load_table, parquet_schema


def _jobs(spark, group, fn):
    """Number of Spark jobs ``fn()`` starts, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
        # A sentinel job in its own group: once the status tracker shows
        # it, every earlier job has been recorded too.
        sc.setJobGroup(group + "_sentinel", "")
        sc.parallelize([1], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(group + "_sentinel"):
        assert time.time() < deadline, "sentinel job never reported"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


def test_second_load_starts_no_job(spark, sf_dir, tmp_path):
    shutil.copy(os.path.join(sf_dir, "orders.parquet"), tmp_path / "orders.parquet")
    d = str(tmp_path)
    assert _jobs(spark, "schema_cache_cold", lambda: load_table(spark, d, "orders")) >= 1
    assert _jobs(spark, "schema_cache_warm", lambda: load_table(spark, d, "orders")) == 0
    want = load_table(spark, sf_dir, "orders")
    got = load_table(spark, d, "orders")
    assert got.schema == want.schema
    assert got.count() == want.count()


def test_rewritten_file_invalidates(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    got = load_table(spark, str(tmp_path), "t")
    assert got.columns == ["a", "b"]
    assert sorted(r.b for r in got.collect()) == ["x", "y"]


def test_added_part_file_invalidates(spark, tmp_path):
    ds = tmp_path / "t.parquet"
    ds.mkdir()
    pq.write_table(pa.table({"a": [1, 2]}), str(ds / "part-0.parquet"))
    d = str(tmp_path)
    assert _jobs(spark, "schema_cache_dir_cold", lambda: load_table(spark, d, "t")) >= 1
    assert _jobs(spark, "schema_cache_dir_warm", lambda: load_table(spark, d, "t")) == 0
    pq.write_table(pa.table({"a": [3]}), str(ds / "part-1.parquet"))
    assert _jobs(spark, "schema_cache_dir_grown", lambda: load_table(spark, d, "t")) >= 1
    assert load_table(spark, d, "t").count() == 3


def test_inference_confs_are_part_of_the_key(spark, tmp_path):
    """A naive timestamp reads as TIMESTAMP or TIMESTAMP_NTZ depending on
    inferTimestampNTZ; the cache must not hand one reading to the other."""
    import datetime

    path = str(tmp_path / "ts.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([datetime.datetime(2024, 1, 1)], pa.timestamp("us"))}),
        path,
    )
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert isinstance(parquet_schema(spark, path)["ts"].dataType, TimestampType)
        spark.conf.set(key, "true")
        assert isinstance(parquet_schema(spark, path)["ts"].dataType, TimestampNTZType)
    finally:
        spark.conf.set(key, prev)
