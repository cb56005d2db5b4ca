"""``catalog.read_parquet``: the per-path schema cache that spares
repeat reads Spark's schema-inference job. Checks the job saving, that a
cached schema equals a fresh inference, and every way an entry must be
invalidated or bypassed (rewritten file, inference confs, URIs)."""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from local_stream_stack_spark import catalog
from local_stream_stack_spark.catalog import TABLES, load_table, read_parquet


def _jobs(spark, fn) -> int:
    """Spark jobs launched while ``fn`` runs."""
    sc = spark.sparkContext
    group = f"read-parquet-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read_parquet test")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def conf(spark):
    """Set session confs for one test and restore them afterwards."""
    saved = {}

    def set_(key, value):
        saved.setdefault(key, spark.conf.get(key))
        spark.conf.set(key, value)

    yield set_
    for key, value in saved.items():
        spark.conf.set(key, value)


def test_second_read_launches_no_job(spark, sf_dir):
    catalog._SCHEMAS.clear()
    assert _jobs(spark, lambda: load_table(spark, sf_dir, "orders")) >= 1
    assert _jobs(spark, lambda: load_table(spark, sf_dir, "orders")) == 0


@pytest.mark.parametrize("name", TABLES)
def test_cached_schema_equals_fresh_inference(spark, sf_dir, name):
    load_table(spark, sf_dir, name)
    cached = load_table(spark, sf_dir, name).schema
    fresh = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema
    assert cached == fresh


def test_each_read_is_a_new_relation(spark, sf_dir):
    a = load_table(spark, sf_dir, "orders")
    b = load_table(spark, sf_dir, "orders")
    joined = a.join(b, a.o_orderkey == b.o_orderkey)
    assert joined.count() == a.count()


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_rewritten_file_reinfers(spark, tmp_path, layout):
    path = str(tmp_path / "t.parquet")

    def write(table):
        if layout == "file":
            pq.write_table(table, path)
        else:
            spark.createDataFrame(table.to_pandas()).write.mode(
                "overwrite"
            ).parquet(path)

    write(pa.table({"a": [1, 2], "b": ["x", "y"]}))
    assert read_parquet(spark, path).columns == ["a", "b"]
    assert read_parquet(spark, path).columns == ["a", "b"]
    write(pa.table({"a": [3, 4], "c": [1.5, 2.5]}))
    df = read_parquet(spark, path)
    assert df.columns == ["a", "c"]
    assert sorted(r.c for r in df.collect()) == [1.5, 2.5]


def test_binary_as_string_reinfers(spark, tmp_path, conf):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"v": pa.array([b"ab"], pa.binary())}), path)
    conf("spark.sql.parquet.binaryAsString", "false")
    assert isinstance(read_parquet(spark, path).schema["v"].dataType, T.BinaryType)
    conf("spark.sql.parquet.binaryAsString", "true")
    assert isinstance(read_parquet(spark, path).schema["v"].dataType, T.StringType)
    conf("spark.sql.parquet.binaryAsString", "false")
    assert isinstance(read_parquet(spark, path).schema["v"].dataType, T.BinaryType)


def test_nanos_as_long_reinfers(spark, tmp_path, conf):
    path = str(tmp_path / "ns.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1_000_000_123], pa.timestamp("ns"))}),
        path,
        coerce_timestamps=None,
        version="2.6",
    )
    conf("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert isinstance(read_parquet(spark, path).schema["ts"].dataType, T.LongType)
    conf("spark.sql.legacy.parquet.nanosAsLong", "false")
    with pytest.raises(Exception, match="(?i)illegal|nanos"):
        read_parquet(spark, path)


def test_uri_reads_uncached(spark, tmp_path):
    path = str(tmp_path / "u.parquet")
    pq.write_table(pa.table({"a": [1]}), path)
    uri = f"file://{path}"
    before = dict(catalog._SCHEMAS)
    assert read_parquet(spark, uri).columns == ["a"]
    assert _jobs(spark, lambda: read_parquet(spark, uri)) >= 1
    assert catalog._SCHEMAS == before
