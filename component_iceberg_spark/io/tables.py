"""Fixture/table loading.

The test fixtures are plain Parquet (one file per table, see
``/root/repo/TESTDATA.md``). In production the same call sites read
Iceberg catalog tables; the scan operators in
:mod:`component_iceberg_spark.operators.scan` accept any DataFrame, so the
source swap is a one-liner.
"""

from __future__ import annotations

import os

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


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def ensure_session_conf(spark: SparkSession) -> None:
    """Engine-required session confs, set defensively at call time because
    the harness may hand us a session it built itself (both are
    runtime-settable SQL confs):

    - ``nanosAsLong``: Parquet TIMESTAMP(NANOS) (events fixture) is
      otherwise an illegal Spark type — the scan throws before any
      operator runs.
    - UTC session timezone: TimestampType↔NTZ casts are zone-dependent;
      UTC pins them to the oracle's naive-UTC view.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # A bare session keeps Spark's default 200 shuffle partitions — far too
    # many for local state-store ops (each streaming stateful task opens a
    # store per partition). Semantics-neutral, so pin the engine default.
    if spark.conf.get("spark.sql.shuffle.partitions") == "200":
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(os.environ.get("SPARK_GRAFT_SHUFFLE", "32")),
        )


# Schema memo for fixture reads: a bare ``spark.read.parquet(path)``
# performs driver-side file listing + a footer parse on EVERY call to
# infer the schema (~110 ms measured at sf0.1); supplying the schema
# explicitly skips both (~24 ms). Queries rebuild their plans from
# scratch each invocation (no result caching), so the schema probe was
# pure repeated driver I/O — guide §5's "the driver should do almost no
# data work". Keyed by (session, path, size, mtime_ns): a driver rewrite
# of the fixture at the same path invalidates the entry, and entries of
# dead sessions are evicted on access (same lifecycle contract as
# streaming/events._SCHEMA_CACHE, which pioneered this memo shape).
_SCHEMA_MEMO: dict[tuple[str, str, int, int], T.StructType] = {}


def _memoized_schema(spark: SparkSession, path: str) -> T.StructType:
    st = os.stat(path)
    app_id = spark.sparkContext.applicationId
    key = (app_id, path, st.st_size, st.st_mtime_ns)
    schema = _SCHEMA_MEMO.get(key)
    if schema is None:
        for k in [
            k for k in _SCHEMA_MEMO
            if k[0] != app_id or (k[1] == path and k != key)
        ]:
            del _SCHEMA_MEMO[k]
        schema = spark.read.parquet(path).schema
        _SCHEMA_MEMO[key] = schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Column pruning / predicate pushdown are
    Catalyst-native on the Parquet scan — callers just select/filter.

    ``events.ts`` is Parquet TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong`` it scans as LongType and is
    normalized here to micros TIMESTAMP_NTZ with integer division (``div``,
    never double math — ns-since-epoch exceeds the 53-bit double mantissa).
    This matches DuckDB's ns→µs truncation bit-for-bit.
    """
    ensure_session_conf(spark)
    path = table_path(sf_dir, name)
    schema = _memoized_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    if name == "events" and isinstance(schema["ts"].dataType, T.LongType):
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    return df
