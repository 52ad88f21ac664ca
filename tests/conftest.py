"""Shared fixtures: one local SparkSession + a DuckDB oracle comparator
that mirrors the driver's gate (row count + column names + order-insensitive
value comparison)."""

from __future__ import annotations

import datetime
import decimal
import math
import os

import duckdb
import pytest

from component_iceberg_spark.io.tables import TABLES, table_path
from component_iceberg_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_con(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = table_path(sf_dir, t)
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


def plan_formatted(df) -> str:
    """The ONE shared spelling for physical-plan-shape assertions
    (ADVICE r8): formatted explain text captured through the PUBLIC
    ``DataFrame.explain`` API — no ``_jvm``/``PythonSQLUtils`` reach-in,
    so it survives Spark Connect and internal-API changes. Node-count
    assertions should match the detail headers ``\\n(n) NodeName`` (each
    node also appears once in the tree section as ``+- NodeName (n)``)."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def spark_jobs_during(spark, fn):
    """Run ``fn()`` under a fresh job group and return ``(result, n)``,
    ``n`` being the number of Spark jobs it started — pins a zero-job
    property instead of timing it. The group is cleared afterwards."""
    result, jobs, _stages = spark_work_during(spark, fn)
    return result, jobs


def spark_work_during(spark, fn):
    """Run ``fn()`` under a fresh job group and return ``(result, jobs,
    stages)``: the Spark jobs it started and the stages those jobs ran.
    A stage an earlier job already computed (its shuffle output reused)
    is listed again by later jobs but runs no task; it is not counted.
    The group is cleared afterwards."""
    import uuid

    from component_iceberg_spark.metrics import _drain_listener_bus

    sc = spark.sparkContext
    group = f"jobs-during-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    _drain_listener_bus(spark)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info else ():
            st = tracker.getStageInfo(s)
            if st is not None and st.numCompletedTasks > 0:
                stages.add(s)
    return result, len(jobs), len(stages)


def write_legacy_delete(cat, ns, table, pos_df, mode="positional"):
    """Commit a path-scoped delete entry in a shape no current writer
    produces, the way older warehouses hold them: ``mode="positional"``
    is a v2 position-delete file (one (file_path, pos) row per doomed
    row); ``mode="dv"`` is an UNSTAMPED positions-layout deletion vector
    (one sorted ordinal array per touched file, no ``layout`` key and no
    position stats). ``pos_df`` carries ``_pos_file``/``_pos_idx`` as
    ``read_with_positions`` exposes them. Returns the new snapshot id."""
    import re
    import uuid

    from pyspark.sql import functions as F

    base = cat._current_sid(ns, table)
    manifest = cat._manifest(ns, table, base)
    rows = pos_df.select(
        F.col(cat.POS_FILE_COL).alias("file_path"),
        F.col(cat.POS_IDX_COL).cast("long").alias("pos"),
    ).distinct()
    if mode == "dv":
        rows = rows.groupBy("file_path").agg(
            F.array_sort(F.collect_list("pos")).alias("positions")
        )
    name = f"legacy-{uuid.uuid4().hex[:12]}"
    rows.coalesce(1).write.parquet(cat._tbl(ns, table, "deletes", name))
    dir_re = re.compile(re.escape(f"/{ns}/{table}/data/") + r"([^/]+)/")
    touched = {
        dir_re.search(r.file_path).group(1)
        for r in rows.select("file_path").distinct().collect()
    }
    entry = {
        "dir": name,
        "mode": mode,
        "applies_to": sorted(d for d in manifest["files"] if d in touched),
    }
    return cat._commit_metadata(
        ns, table, "delete", base_sid=base,
        carry_dirs=list(manifest["files"]),
        deletes=manifest.get("deletes", []) + [entry],
    )


def _canon(v):
    """Canonicalize a cell for order-insensitive multiset comparison."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, bool):
        return "T" if v else "F"
    return str(v)


def canonical_rows(columns, rows):
    """Sort columns by name, canonicalize cells, sort rows — the same
    normalization the driver applies before hashing."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    out.sort()
    return [columns[i] for i in order], out


def compare_with_oracle(spark_df, con, sql, name=""):
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    # Fetch via DuckDB's Arrow export — the driver's path — NOT fetchall().
    # fetchall() converts HUGEINT to native int, silently masking the
    # HUGEINT -> decimal128 -> "975.0" canonicalization divergence that the
    # driver gate sees (CORRECTNESS_r04 pipeline_pretrain_prep); Arrow
    # preserves it, so an uncast integer-sum oracle now fails locally too.
    tbl = con.execute(sql).arrow()
    o_cols = tbl.schema.names
    cols_data = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
    o_rows = list(zip(*cols_data)) if cols_data else []

    assert sorted(s_cols) == sorted(o_cols), (
        f"{name}: column mismatch spark={sorted(s_cols)} oracle={sorted(o_cols)}"
    )
    assert len(s_rows) == len(o_rows), (
        f"{name}: row count spark={len(s_rows)} oracle={len(o_rows)}"
    )
    _, cs = canonical_rows(s_cols, s_rows)
    _, co = canonical_rows(o_cols, o_rows)
    if cs != co:
        diff = [(a, b) for a, b in zip(cs, co) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diff}")
