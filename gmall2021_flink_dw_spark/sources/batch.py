"""Batch parquet sources over the driver's deterministic testdata.

Capability parity: the reference's sources are Kafka topic consumers
(``MyKafkaUtil.java:40-43``, S1/S2 in SURVEY §2.1); in tests/bench we read
the same logical tables from parquet. ``spark.read.parquet`` gives column
pruning + predicate pushdown for free — the reference has neither (its
Kafka source ships whole JSON strings per record).

A table's schema is inferred once per file signature (real path, size,
mtime and the parquet-inference confs): ``spark.read.parquet`` starts a
one-task Spark job to read the footer on every call, so later reads of
an unchanged file supply the cached schema and start no job. Structured
Streaming fixes a file stream's schema at query start for the same
reason; ``streaming/sources.py::stream_table`` shares the cache.

At 100 TB these tables would be day-partitioned parquet/Delta on object
storage; the loader API is path-based so that swap is a config change.
"""

from __future__ import annotations

import glob
import math
import os
import warnings
from urllib.parse import urlparse
from urllib.request import url2pathname

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _ensure_session_confs(spark: SparkSession) -> None:
    """Defensive runtime confs so queries behave identically on ANY
    session, including one the grading driver builds itself (verified
    runtime-settable on a vanilla session):
    - nanosAsLong: events.parquet stores TIMESTAMP(NANOS) which Spark
      cannot read natively (PARQUET_TYPE_ILLEGAL otherwise);
    - UTC session tz + NTZ inference: date_format output strings must
      match the (tz-naive) DuckDB oracle regardless of host timezone."""
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "true"),
        ("spark.sql.adaptive.enabled", "true"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass


# The confs (pinned by _ensure_session_confs) that change the schema
# Spark infers from a parquet footer.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# (realpath, st_size, st_mtime_ns, *inference conf values) -> StructType.
# Only plain StructTypes are kept, never DataFrames: reusing one
# DataFrame across queries risks self-join attribute clashes. A race
# between two threads costs one extra inference, not a wrong schema.
_SCHEMAS: dict[tuple, T.StructType] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema of a plain
    local file once per file signature; a rewritten file (new size or
    mtime) or a changed inference conf is inferred again. URIs, globs
    and directories are inferred on every call."""
    if urlparse(path).scheme or glob.has_magic(path) or not os.path.isfile(path):
        return spark.read.parquet(path)
    st = os.stat(path)
    key = (os.path.realpath(path), st.st_size, st.st_mtime_ns) + tuple(
        spark.conf.get(k, None) for k in _INFERENCE_CONFS
    )
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_session_confs(spark)
    return normalize_ts(read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet")))


def normalize_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to TIMESTAMP (LTZ; session tz is pinned UTC so
    values equal the tz-naive DuckDB reading) regardless of how the
    parquet was written; batch and streaming reads share it:
    - TIMESTAMP(NANOS): surfaced as long nanos under
      spark.sql.legacy.parquet.nanosAsLong -> truncate to micros
      (exactly what DuckDB does) with integer `div` (double division
      would lose precision on ~1.7e18 nano values);
    - timestamp[us] without tz: surfaced as TIMESTAMP_NTZ under
      inferTimestampNTZ -> cast to TIMESTAMP (interpreted in the UTC
      session tz, value-identical), since watermarks/windows and the
      epoch functions downstream expect the LTZ type (withWatermark
      rejects NTZ event-time columns).
    Field names and order are preserved (withColumn on an existing
    column)."""
    for f in df.schema.fields:
        if f.name == "ts" and isinstance(f.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif f.name == "ts" and isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Size-derived spread width: one round-robin partition per this many
# input bytes (env-tunable). Calibrated by a 3-way intra-session A/B
# (r15, plans/r15/dedup_skew_audit.txt + OPTIMIZATION_r15.md): the
# per-row compute of the tokenize/shingle/kernel stages is ~1-2 MB/s
# per core, so ~1 MB per task amortizes the exchange + task-scheduling
# overhead at every SF tested — at sf0.1 (0.6 MB corpus) the policy
# yields 1 partition = NO-OP (a forced 32-wide spread measured 10-65%
# SLOWER there: exchange + 32-task scheduling beats nothing out of a
# sub-second stage), at 10x (5.9 MB) it yields ~6 (captures the full
# measured win: minhash 10.4->5.9 s, winnow 14.7->9.4, perplexity
# 3.1->1.9 — parts=6 matched or beat parts=32 on all), and at real
# scale byte-based splits (maxPartitionBytes) exceed core count and
# the clamp makes it a no-op.
SPREAD_BYTES_PER_PART = 1 << 20


def _env_number(var: str, raw: str, parse, valid):
    """``parse(raw)`` for env knob ``var``; a ValueError naming the
    variable when the value does not parse or fails ``valid``."""
    try:
        value = parse(raw)
        if valid(value):
            return value
    except ValueError:
        pass
    raise ValueError(f"{var}={raw!r} is not a valid value")


def spread_scan(df: DataFrame, factor: int = 1) -> DataFrame:
    """Raise the parallelism of a tiny compute-heavy scan (guide §2.5
    "input skew": one unsplittable file -> repartition immediately
    after the read).

    The bench corpora are single-row-group parquet files, so every
    scan stage has 1-2 tasks and the per-row-expensive stage-0 work
    (regexp tokenize, shingle builds, Python kernels) runs on 1-2 of
    the 32 cores (measured r15: the winnow kernel and the shingle
    explode both ran 2-wide). Width is derived from INPUT SIZE
    (~1 partition per MB, clamped to cluster parallelism — see
    SPREAD_BYTES_PER_PART for the calibration), so tiny inputs stay
    exchange-free and real-scale scans are untouched. Batch-only:
    streaming frames cannot enumerate input files pre-execution."""
    sc = df.sparkSession.sparkContext
    # parameterised (optimization-round rule: scale-dependent settings
    # stay conf/env-tunable): SPARK_GRAFT_SPREAD_PARTS forces a width
    # (0 disables); SPARK_GRAFT_SPREAD_MB re-tunes bytes-per-partition.
    env = os.environ.get("SPARK_GRAFT_SPREAD_PARTS")
    if env is not None:
        target = _env_number("SPARK_GRAFT_SPREAD_PARTS", env, int, lambda v: v >= 0)
    else:
        mb = _env_number(
            "SPARK_GRAFT_SPREAD_MB",
            os.environ.get("SPARK_GRAFT_SPREAD_MB", "1"),
            float,
            lambda v: math.isfinite(v) and v > 0,
        )
        per_part = max(1, int(mb * SPREAD_BYTES_PER_PART))
        total = 0
        for uri in df.inputFiles():
            parsed = urlparse(uri)
            path = url2pathname(parsed.path) if parsed.scheme == "file" else uri
            try:
                total += os.path.getsize(path)
            except OSError as e:
                warnings.warn(
                    f"spread_scan: cannot size input {path!r} ({e}); "
                    "the scan is left unspread",
                    RuntimeWarning,
                    stacklevel=2,
                )
                return df
        target = min(sc.defaultParallelism * factor, total // per_part)
    if target <= 1:
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register each table as a temp view so SQL-surface queries (the
    reference's Flink-SQL apps, ``ProvinceStatsSqlApp.java:38-49``) run
    nearly verbatim through spark.sql."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
