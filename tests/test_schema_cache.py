"""``registry.table`` infers a parquet file's schema once per file
version: the cached read must equal an inferred one (schema and rows),
run no Spark job, and never serve a stale schema after a rewrite."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hazelcast_jet_contrib_spark import registry
from perfbench import datagen
from tests.conftest import spark_jobs


@pytest.fixture(scope="module")
def tables_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("datagen"))
    datagen.write(d, seed=7, sf=0.001)
    return d


def _assert_cached_equals_inferred(spark, sf_dir, name):
    registry._SCHEMAS.clear()
    inferred = registry.table(spark, sf_dir, name)
    cached, jobs = spark_jobs(spark, lambda: registry.table(spark, sf_dir, name))
    assert jobs == 0
    assert cached.schema == inferred.schema
    assert sorted(cached.collect()) == sorted(inferred.collect())
    return cached


@pytest.mark.parametrize("name", datagen.TABLES)
def test_cached_read_equals_inferred_read(spark, tables_dir, name):
    """Every generated table: the second read is served the first
    read's schema, runs no job, and returns the same schema and rows."""
    _assert_cached_equals_inferred(spark, tables_dir, name)


def test_cached_events_read_keeps_the_ts_conversion(spark, tmp_path):
    """An events table storing ts as TIMESTAMP(NANOS): the cached read
    is inferred under nanosAsLong and still converted to a microsecond
    timestamp."""
    pq.write_table(
        pa.table(
            {
                "event_id": [1, 2],
                "ts": pa.array([1_704_844_800_000_001_500, 1_704_844_801_000_000_000], pa.timestamp("ns")),
            }
        ),
        tmp_path / "events.parquet",
    )
    cached = _assert_cached_equals_inferred(spark, str(tmp_path), "events")
    assert dict(cached.dtypes)["ts"] == "timestamp"


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    """A file rewritten at the same path with another schema (new size
    and mtime) is inferred again, not read under the stale schema."""
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert registry.table(spark, str(tmp_path), "t").columns == ["a"]
    st = os.stat(path)
    pq.write_table(pa.table({"a": ["x", "y"], "b": [1.5, 2.5]}), path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    df = registry.table(spark, str(tmp_path), "t")
    assert df.dtypes == [("a", "string"), ("b", "double")]
    assert sorted(tuple(r) for r in df.collect()) == [("x", 1.5), ("y", 2.5)]


def test_same_size_rewrite_is_caught_by_mtime(spark, tmp_path):
    """Same size, another column name: the mtime alone shows the
    rewrite."""
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert registry.table(spark, str(tmp_path), "t").columns == ["a"]
    size, mtime = os.stat(path).st_size, os.stat(path).st_mtime_ns
    pq.write_table(pa.table({"b": [1, 2]}), path)
    assert os.stat(path).st_size == size
    os.utime(path, ns=(mtime + 1_000_000, mtime + 1_000_000))
    assert registry.table(spark, str(tmp_path), "t").columns == ["b"]


def test_directory_path_is_never_cached(spark, tmp_path):
    """A directory's stat does not show a rewrite of its part files, so
    a directory table is inferred on every read."""
    d = tmp_path / "t.parquet"
    spark.range(3).write.parquet(str(d))
    before = len(registry._SCHEMAS)
    assert registry.table(spark, str(tmp_path), "t").columns == ["id"]
    assert len(registry._SCHEMAS) == before
    spark.range(2).selectExpr("cast(id as string) as s").write.mode("overwrite").parquet(str(d))
    assert registry.table(spark, str(tmp_path), "t").columns == ["s"]
