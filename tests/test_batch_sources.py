"""Batch loader (sources/batch.py): the per-file schema cache and
``spread_scan``'s input sizing and env knobs.

``spark.read.parquet`` starts a one-task Spark job to infer the schema
from the footer. The loader infers each file's schema once per file
signature and supplies it on later reads, so a builder that has run once
starts no Spark job when it runs again. Jobs are counted per job group
after the listener bus has drained, so a finished job is never missed.
"""

from __future__ import annotations

import os
import shutil
import uuid
import warnings

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from gmall2021_flink_dw_spark.registry import load_all
from gmall2021_flink_dw_spark.sources.batch import (
    TABLES,
    load_table,
    normalize_ts,
    read_parquet,
    spread_scan,
)
from gmall2021_flink_dw_spark.streaming.sources import stream_table
from tests.conftest import UNIT_SF


def jobs_started(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` starts on this thread."""
    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def same_rows(a, b) -> bool:
    return a.count() == b.count() and a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_second_load_starts_no_job(spark, tmp_path):
    # a fresh copy: its signature is not cached by any earlier test
    shutil.copy(os.path.join(UNIT_SF, "orders.parquet"), tmp_path / "orders.parquet")
    assert jobs_started(spark, lambda: load_table(spark, str(tmp_path), "orders")) >= 1
    assert jobs_started(spark, lambda: load_table(spark, str(tmp_path), "orders")) == 0


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    first = load_table(spark, str(tmp_path), "t")
    assert first.schema.names == ["a"]
    assert sorted(r.a for r in first.collect()) == [1, 2]

    pq.write_table(
        pa.table({"a": pa.array(["x"], pa.string()), "b": pa.array([0.5])}), path
    )
    second = load_table(spark, str(tmp_path), "t")
    assert second.schema == spark.read.parquet(str(path)).schema
    assert [tuple(r) for r in second.collect()] == [("x", 0.5)]


@pytest.mark.parametrize("name", TABLES)
def test_cached_schema_and_rows_match_inference(spark, name):
    path = os.path.join(UNIT_SF, f"{name}.parquet")
    load_table(spark, UNIT_SF, name)  # fills the cache
    cached = read_parquet(spark, path)
    assert jobs_started(spark, lambda: read_parquet(spark, path)) == 0
    inferred = spark.read.parquet(path)
    assert cached.schema == inferred.schema
    assert same_rows(cached, inferred)
    loaded, want = load_table(spark, UNIT_SF, name), normalize_ts(inferred)
    assert loaded.schema == want.schema
    if name == "events":
        assert isinstance(loaded.schema["ts"].dataType, T.TimestampType)
    assert same_rows(loaded, want)


def test_nanos_ts_through_cached_schema(spark, tmp_path):
    """TIMESTAMP(NANOS) surfaces as long nanos under nanosAsLong, and the
    cached LongType schema must keep reading it that way."""
    ns = [1_700_000_000_123_456_789, 1_700_000_100_000_000_999]
    pq.write_table(
        pa.table({"ts": pa.array(ns, pa.timestamp("ns")), "v": [1, 2]}),
        tmp_path / "events.parquet",
    )
    first = load_table(spark, str(tmp_path), "events")
    second = load_table(spark, str(tmp_path), "events")
    assert second.schema == first.schema
    assert isinstance(second.schema["ts"].dataType, T.TimestampType)
    rows = sorted(second.collect(), key=lambda r: r.v)
    assert rows == sorted(first.collect(), key=lambda r: r.v)
    assert [r.ts.microsecond for r in rows] == [123456, 0]


def test_stream_table_schema_equals_load_table(spark):
    for name in ("events", "orders"):
        assert stream_table(spark, UNIT_SF, name).schema == (
            load_table(spark, UNIT_SF, name).schema
        )
    assert jobs_started(spark, lambda: stream_table(spark, UNIT_SF, "events")) == 0


@pytest.mark.parametrize("name", ["tpch_q6", "dwm_order_wide", "dws_visitor_stats"])
def test_builder_second_call_starts_no_job(spark, name):
    """Regression guard: the builders of a scan query, the CDC changelog
    path and the events ts path run no eager job once their tables'
    schemas are known."""
    fn = load_all()[name].fn
    fn(spark, UNIT_SF)
    assert jobs_started(spark, lambda: fn(spark, UNIT_SF)) == 0


@pytest.mark.parametrize(
    "var,value",
    [
        ("SPARK_GRAFT_SPREAD_MB", "0"),
        ("SPARK_GRAFT_SPREAD_MB", "-1"),
        ("SPARK_GRAFT_SPREAD_MB", "nan"),
        ("SPARK_GRAFT_SPREAD_MB", "one"),
        ("SPARK_GRAFT_SPREAD_PARTS", "-1"),
        ("SPARK_GRAFT_SPREAD_PARTS", "2.5"),
    ],
)
def test_spread_scan_rejects_bad_env(spark, monkeypatch, var, value):
    monkeypatch.delenv("SPARK_GRAFT_SPREAD_PARTS", raising=False)
    monkeypatch.setenv(var, value)
    with pytest.raises(ValueError, match=var):
        spread_scan(load_table(spark, UNIT_SF, "documents"))


def test_spread_scan_sizes_percent_encoded_file_uri(spark, monkeypatch, tmp_path):
    """Spark reports input files as percent-encoded ``file:`` URIs; a
    directory name with a space must still be sized, not skipped."""
    d = tmp_path / "with space"
    d.mkdir()
    shutil.copy(os.path.join(UNIT_SF, "documents.parquet"), d / "documents.parquet")
    monkeypatch.delenv("SPARK_GRAFT_SPREAD_PARTS", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_SPREAD_MB", "0.000001")
    df = load_table(spark, str(d), "documents")
    assert any("%20" in u for u in df.inputFiles())
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        spread = spread_scan(df)
    assert spread.rdd.getNumPartitions() == min(
        spark.sparkContext.defaultParallelism, os.path.getsize(d / "documents.parquet")
    )


def test_spread_scan_warns_when_input_cannot_be_sized(spark, monkeypatch, tmp_path):
    shutil.copy(os.path.join(UNIT_SF, "documents.parquet"), tmp_path / "documents.parquet")
    df = load_table(spark, str(tmp_path), "documents")
    os.remove(tmp_path / "documents.parquet")
    monkeypatch.delenv("SPARK_GRAFT_SPREAD_PARTS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_SPREAD_MB", raising=False)
    with pytest.warns(RuntimeWarning, match="documents.parquet"):
        assert spread_scan(df) is df
