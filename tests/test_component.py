"""End-to-end component-runner tests: the reference's extractor/writer
lifecycles executed through the config surface (round-trips checked by
value, error paths by UserConfigError)."""

from __future__ import annotations

import json
import os

import pytest

from component_iceberg_spark.component import (
    run_extractor,
    run_writer,
    sync_action,
)
from component_iceberg_spark.config import (
    CatalogConfig,
    CsvInput,
    DataSelection,
    ExtractorConfig,
    ExtractorDestination,
    Source,
    UserConfigError,
    WriterConfig,
    WriterDestination,
)
from component_iceberg_spark.io.snaptable import SnapCatalog
from component_iceberg_spark.io.tables import load_table
from tests.conftest import spark_jobs_during


@pytest.fixture()
def warehouse(tmp_path, spark, sf_dir):
    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    cat.create_or_replace("ns", "nation", load_table(spark, sf_dir, "nation"))
    return wh


def _extract_cfg(wh, **dest_kw):
    return ExtractorConfig(
        catalog=CatalogConfig(warehouse=wh),
        source=Source(namespace="ns", table_name="nation"),
        destination=ExtractorDestination(**dest_kw),
    )


def test_extractor_csv_roundtrip(spark, sf_dir, warehouse, tmp_path):
    res = run_extractor(spark, _extract_cfg(warehouse), str(tmp_path / "out"))
    assert res.format == "csv"
    assert [c[0] for c in res.columns] == ["n_nationkey", "n_name", "n_regionkey"]
    assert dict((c[0], c[2]) for c in res.columns)["n_nationkey"] == "INTEGER"
    back = spark.read.options(header=True).csv(res.path)
    assert back.count() == load_table(spark, sf_dir, "nation").count()


def test_extractor_projection_and_parquet(spark, sf_dir, warehouse, tmp_path):
    cfg = _extract_cfg(warehouse, parquet_output=True)
    cfg.data_selection = DataSelection(mode="selected_columns", columns=["n_name"])
    res = run_extractor(spark, cfg, str(tmp_path / "out"))
    back = spark.read.parquet(res.path)
    assert back.columns == ["n_name"]


def test_extractor_plans_limit_from_manifest_rows(
    spark, sf_dir, warehouse, tmp_path
):
    """A snapshot that stores no more rows than the cap exports without
    the limit stage: the same rows in one Spark job instead of two. The
    stored total is an upper bound, so a table with pending
    merge-on-read deletes still exports exactly its visible rows; a cap
    below the stored total keeps the limit."""
    cat = SnapCatalog(warehouse)
    n = load_table(spark, sf_dir, "nation")
    cfg = _extract_cfg(warehouse, parquet_output=True)
    res, jobs = spark_jobs_during(
        spark, lambda: run_extractor(spark, cfg, str(tmp_path / "a"))
    )
    assert jobs == 1, jobs
    assert sorted(spark.read.parquet(res.path).collect()) == sorted(
        n.collect()
    )
    capped = _extract_cfg(warehouse, parquet_output=True)
    capped.limit = 10
    res, jobs = spark_jobs_during(
        spark, lambda: run_extractor(spark, capped, str(tmp_path / "b"))
    )
    assert jobs == 2, jobs
    assert spark.read.parquet(res.path).count() == 10
    cat.delete_where(spark, "ns", "nation", "n_regionkey = 1", mode="mor")
    assert cat.stored_rows("ns", "nation")[1] == n.count()
    res = run_extractor(spark, cfg, str(tmp_path / "c"))
    assert sorted(spark.read.parquet(res.path).collect()) == sorted(
        n.filter("n_regionkey <> 1").collect()
    )


def test_extractor_custom_query(spark, sf_dir, warehouse, tmp_path):
    cfg = _extract_cfg(warehouse, parquet_output=True)
    cfg.custom_query = "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY 1"
    res = run_extractor(spark, cfg, str(tmp_path / "out"))
    assert spark.read.parquet(res.path).count() == 5


def test_extractor_snapshot_time_travel(spark, sf_dir, warehouse, tmp_path):
    cat = SnapCatalog(warehouse)
    n = load_table(spark, sf_dir, "nation")
    cat.append("ns", "nation", n)  # snapshot 2 doubles the rows
    cfg = _extract_cfg(warehouse, parquet_output=True)
    cfg.source = Source(namespace="ns", table_name="nation", snapshot_id=1)
    res = run_extractor(spark, cfg, str(tmp_path / "out"))
    assert spark.read.parquet(res.path).count() == n.count()


def test_sync_action_query_preview(spark, sf_dir, warehouse):
    """query_preview (declared in the reference UI schema, unimplemented
    there): custom SQL over the configured table, hard LIMIT cap."""
    cfg = _extract_cfg(warehouse)
    rows = sync_action(
        spark, cfg, "query_preview", namespace="ns", table="nation",
        query="SELECT n_regionkey, count(*) AS n FROM nation GROUP BY 1",
    )
    assert len(rows) == 5
    assert sorted(r[0] for r in rows) == [0, 1, 2, 3, 4]
    # default query + cap
    capped = sync_action(
        spark, cfg, "query_preview", namespace="ns", table="nation", limit=7,
    )
    assert len(capped) == 7
    # CTEs referencing only the registered view are fine
    cte = sync_action(
        spark, cfg, "query_preview", namespace="ns", table="nation",
        query="WITH big AS (SELECT * FROM nation WHERE n_regionkey > 1) "
              "SELECT count(*) AS n FROM big",
    )
    assert len(cte) == 1


def test_sync_action_query_preview_is_readonly(spark, sf_dir, warehouse, tmp_path):
    """The preview must reject anything that is not a single SELECT over
    the registered view: DDL/DML never executes, datasource-path reads and
    foreign views are refused at validation time."""
    import pytest

    from component_iceberg_spark.config import UserConfigError

    cfg = _extract_cfg(warehouse)

    def preview(q):
        return sync_action(
            spark, cfg, "query_preview", namespace="ns", table="nation",
            query=q,
        )

    # DML/DDL: must be rejected BEFORE execution (spark.sql runs commands
    # eagerly — a post-hoc check would be too late).
    for bad in (
        "DROP TABLE nation",
        "INSERT INTO nation SELECT * FROM nation",
        "CREATE TABLE t2 AS SELECT * FROM nation",
        "SET spark.sql.shuffle.partitions=1",
        "TRUNCATE TABLE nation",
    ):
        with pytest.raises(UserConfigError):
            preview(bad)
    # the temp view must still exist and be intact after the DROP attempt
    assert spark.table("nation").count() == 25

    # datasource-path read escapes the registered view → rejected
    p = str(tmp_path / "leak.parquet")
    spark.range(3).write.parquet(p)
    with pytest.raises(UserConfigError):
        preview(f"SELECT * FROM parquet.`{p}`")
    # foreign temp view → rejected
    spark.range(3).createOrReplaceTempView("other_view")
    with pytest.raises(UserConfigError):
        preview("SELECT * FROM other_view")
    # relation smuggled inside a subquery expression → rejected
    with pytest.raises(UserConfigError):
        preview(
            "SELECT * FROM nation WHERE n_nationkey IN "
            "(SELECT id FROM other_view)"
        )
    # SELECT TRANSFORM ... USING '<cmd>' parses as ScriptTransformation —
    # a query-shaped node that runs a shell command on the driver host
    with pytest.raises(UserConfigError):
        preview("SELECT TRANSFORM(n_name) USING 'touch /tmp/pwned' FROM nation")
    import os as _os

    assert not _os.path.exists("/tmp/pwned")
    # parse garbage → UserConfigError, not a raw stack trace
    with pytest.raises(UserConfigError):
        preview("SELEKT * FROM nation")

    # JVM-reflection escape hatches parse as a plain Project but reach out
    # of the sandbox (System.exit / System.getenv) → rejected by function
    # name, wherever the call hides.
    for bad in (
        "SELECT java_method('java.lang.System', 'exit', 0)",
        "SELECT reflect('java.lang.System', 'getenv', 'HOME') FROM nation",
        "SELECT JAVA_METHOD('java.lang.Thread', 'sleep', 9999L) AS x",
        # inside a subquery expression
        "SELECT * FROM nation WHERE n_name = "
        "(SELECT reflect('java.lang.System', 'getProperty', 'user.dir'))",
        # inside a CTE body
        "WITH c AS (SELECT java_method('java.lang.System', 'gc') AS g) "
        "SELECT * FROM c",
    ):
        with pytest.raises(UserConfigError, match="reflection|reference"):
            preview(bad)
    # table-valued functions never name the allowed view → rejected
    with pytest.raises(UserConfigError):
        preview("SELECT * FROM range(10)")

    # benign functions still work, and a trailing line comment must not
    # swallow the outer-LIMIT wrapper
    ok = preview(
        "SELECT upper(n_name) AS u FROM nation -- trailing comment"
    )
    assert len(ok) == 25


def test_writer_csv_typed_upsert_cycle(spark, sf_dir, tmp_path):
    wh = str(tmp_path / "wh2")
    src = str(tmp_path / "in.csv")
    nation = load_table(spark, sf_dir, "nation")
    nation.write.options(header=True).mode("overwrite").csv(src)
    ci = CsvInput(
        path=src,
        columns=["n_nationkey", "n_name", "n_regionkey"],
        column_types={"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    )
    base = WriterConfig(
        catalog=CatalogConfig(warehouse=wh),
        destination=WriterDestination(namespace="ns", table_name="t", mode="replace"),
        input_csv=ci,
    )
    sid1 = run_writer(spark, base)
    up = WriterConfig(
        catalog=CatalogConfig(warehouse=wh),
        destination=WriterDestination(
            namespace="ns", table_name="t", mode="upsert",
            primary_key=["n_nationkey"],
        ),
        input_csv=ci,
    )
    sid2 = run_writer(spark, up)
    assert (sid1, sid2) == (1, 2)
    cat = SnapCatalog(wh)
    assert cat.read(spark, "ns", "t").count() == nation.count()  # idempotent upsert
    assert sync_action(spark, base, "list_namespaces") == ["ns"]
    assert sync_action(spark, base, "list_tables", namespace="ns") == ["t"]
    cols = dict(sync_action(spark, base, "list_columns", namespace="ns", table="t"))
    assert cols["n_nationkey"] == "int"


def test_sync_action_list_snapshots_is_answered_without_spark_jobs(
    spark, sf_dir, tmp_path
):
    """``list_snapshots`` lists the manifests' (snapshot_id,
    timestamp_ms, operation) triples in id order through replace →
    append → upsert → rollback, lists nothing for a missing table, and
    runs no Spark job — nor does building ``maintenance_report``."""
    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    n = load_table(spark, sf_dir, "nation")
    cat.create_or_replace("ns", "t", n.filter("n_regionkey = 0"))      # sid 1
    cat.append("ns", "t", n.filter("n_regionkey = 1"))                 # sid 2
    cat.upsert("ns", "t", n.filter("n_regionkey < 3"), keys=["n_nationkey"])
    cat.rollback_to("ns", "t", 2)                                      # sid 4
    cfg = ExtractorConfig(
        catalog=CatalogConfig(warehouse=wh),
        source=Source(namespace="ns", table_name="t"),
    )
    listed, jobs = spark_jobs_during(
        spark,
        lambda: sync_action(spark, cfg, "list_snapshots", namespace="ns", table="t"),
    )
    snap_dir = os.path.join(wh, "ns", "t", "snapshots")
    manifests = []
    for fn in os.listdir(snap_dir):
        with open(os.path.join(snap_dir, fn)) as f:
            manifests.append(json.load(f))
    expected = sorted(
        (m["snapshot_id"], m["timestamp_ms"], m["operation"]) for m in manifests
    )
    assert listed == expected
    assert [op for _sid, _ts, op in listed] == [
        "replace", "append", "upsert", "rollback"
    ]
    assert jobs == 0
    assert sync_action(spark, cfg, "list_snapshots", namespace="ns", table="nope") == []

    report, jobs = spark_jobs_during(
        spark, lambda: cat.maintenance_report(spark, "ns", "t")
    )
    assert jobs == 0
    row = report.collect()[0]
    assert (row.n_snapshots, row.n_current_ancestors) == (4, 3)  # 3 rolled back
    # the counter does see jobs: the DataFrame route runs one
    _rows, jobs = spark_jobs_during(
        spark, lambda: cat.snapshots(spark, "ns", "t").collect()
    )
    assert jobs >= 1


def test_writer_parquet_input_partitioned(spark, sf_dir, tmp_path):
    wh = str(tmp_path / "wh3")
    cfg = WriterConfig(
        catalog=CatalogConfig(warehouse=wh),
        destination=WriterDestination(
            namespace="ns", table_name="orders", mode="replace",
            partition_by=["o_orderstatus"],
        ),
        input_parquet=os.path.join(sf_dir, "orders.parquet"),
    )
    run_writer(spark, cfg)
    got = SnapCatalog(wh).read(spark, "ns", "orders")
    assert got.count() == load_table(spark, sf_dir, "orders").count()


def test_config_validation_errors(spark, tmp_path):
    with pytest.raises(UserConfigError, match="exactly one input"):
        WriterConfig(
            catalog=CatalogConfig(warehouse=str(tmp_path)),
            destination=WriterDestination(namespace="n", table_name="t"),
        ).validate()
    with pytest.raises(UserConfigError, match="primary_key"):
        WriterDestination(namespace="n", table_name="t", mode="upsert").validate()
    with pytest.raises(UserConfigError, match="requires columns"):
        DataSelection(mode="selected_columns").validate()


def test_incremental_sync_cycle(spark, sf_dir, tmp_path):
    """The reference's two components chained: full extract + load, then an
    incremental extract (changed slice) applied via upsert — final table
    must equal the source of truth."""
    from pyspark.sql import functions as F

    from component_iceberg_spark.io.tables import load_table

    wh_src = str(tmp_path / "src_wh")
    wh_dst = str(tmp_path / "dst_wh")
    src_cat = SnapCatalog(wh_src)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    src_cat.create_or_replace("ns", "orders", orders)

    # 1. full extract -> parquet -> full load
    full_cfg = ExtractorConfig(
        catalog=CatalogConfig(warehouse=wh_src),
        source=Source(namespace="ns", table_name="orders"),
        destination=ExtractorDestination(parquet_output=True, file_name="full"),
    )
    res = run_extractor(spark, full_cfg, str(tmp_path / "out1"))
    run_writer(spark, WriterConfig(
        catalog=CatalogConfig(warehouse=wh_dst),
        destination=WriterDestination(namespace="ns", table_name="orders", mode="replace"),
        input_parquet=res.path,
    ))

    # 2. source mutates: price bump on 'P' orders (UPDATE), new snapshot
    src_cat.update_where(
        spark, "ns", "orders", "o_orderstatus = 'P'",
        {"o_totalprice": "o_totalprice * 1.1"},
    )

    # 3. incremental extract of the changed slice -> upsert into dest
    inc_cfg = ExtractorConfig(
        catalog=CatalogConfig(warehouse=wh_src),
        source=Source(namespace="ns", table_name="orders"),
        destination=ExtractorDestination(
            parquet_output=True, file_name="inc",
            load_type="incremental_load", primary_key=["o_orderkey"],
        ),
    )
    inc_cfg.custom_query = "SELECT * FROM orders WHERE o_orderstatus = 'P'"
    inc = run_extractor(spark, inc_cfg, str(tmp_path / "out2"))
    assert inc.incremental and inc.primary_key == ["o_orderkey"]
    run_writer(spark, WriterConfig(
        catalog=CatalogConfig(warehouse=wh_dst),
        destination=WriterDestination(
            namespace="ns", table_name="orders", mode="upsert",
            primary_key=["o_orderkey"],
        ),
        input_parquet=inc.path,
    ))

    # final dest == current source (same keys, updated prices applied)
    dst = SnapCatalog(wh_dst).read(spark, "ns", "orders")
    src = src_cat.read(spark, "ns", "orders")
    assert dst.count() == src.count()
    diff = dst.select("o_orderkey", "o_totalprice").exceptAll(
        src.select("o_orderkey", "o_totalprice")
    )
    assert diff.count() == 0


# -- runner: config.json → dispatch → exit codes (reference lifecycle) -----


def test_runner_extractor_config_json(spark, sf_dir, warehouse, tmp_path):
    """A reference-shaped config.json (parameters block matching
    ex-iceberg/src/configuration.py, '#token' alias and extra knobs
    included) drives run_extractor end-to-end through runner.main."""
    import json

    from component_iceberg_spark import runner

    data_dir = tmp_path / "data"
    (data_dir / "out" / "tables").mkdir(parents=True)
    config = {
        "action": "run",
        "parameters": {
            "catalog": {
                "name": "local",
                "warehouse": warehouse,
                "uri": "",
                "#token": "",
            },
            "duckdb_max_memory_mb": 128,   # accepted, ignored
            "debug": True,
            "source": {"namespace": "ns", "table_name": "nation"},
            "data_selection": {"mode": "selected_columns",
                               "columns": ["n_nationkey", "n_name"]},
            "destination": {
                "parquet_output": False,
                "file_name": "nation_out",
                "table_name": "nation_out",
                "load_type": "incremental_load",
                "primary_key": ["n_nationkey"],
                "preserve_insertion_order": True,
            },
        },
    }
    cfg_path = data_dir / "config.json"
    cfg_path.write_text(json.dumps(config))

    rc = runner.main(spark, str(cfg_path), "extractor", str(data_dir))
    assert rc == 0
    out_csv = data_dir / "out" / "tables" / "nation_out.csv"
    back = spark.read.options(header=True).csv(str(out_csv))
    assert back.count() == load_table(spark, sf_dir, "nation").count()
    assert set(back.columns) >= {"n_nationkey", "n_name"}


def test_runner_writer_data_dir_contract(spark, sf_dir, tmp_path):
    """Writer lifecycle: input CSV + manifest under in/tables/ (Keboola
    data-dir layout), parameters matching wr-iceberg/src/configuration.py;
    commit lands in the snapshot catalog with the configured layout."""
    import json

    from component_iceberg_spark import runner

    wh = str(tmp_path / "wh")
    data_dir = tmp_path / "data"
    in_tables = data_dir / "in" / "tables"
    in_tables.mkdir(parents=True)
    # input: headerless CSV + manifest naming columns (manifested tables
    # are headerless in the Keboola contract)
    (in_tables / "t.csv").write_text(
        "1,F,10.5\n2,P,20.25\n3,F,30.0\n"
    )
    (in_tables / "t.csv.manifest").write_text(json.dumps({
        "columns": ["id", "status", "price"],
        "delimiter": ",",
        "enclosure": '"',
        "column_types": {"id": "bigint", "status": "string",
                         "price": "double"},
    }))
    config = {
        "parameters": {
            "catalog": {"name": "local", "warehouse": wh, "uri": "",
                        "#token": ""},
            "destination": {
                "namespace": "ns",
                "table_name": "t",
                "mode": "replace",
                "partition_by": ["status"],
            },
        },
    }
    cfg_path = data_dir / "config.json"
    cfg_path.write_text(json.dumps(config))

    rc = runner.main(spark, str(cfg_path), "writer", str(data_dir))
    assert rc == 0
    cat = SnapCatalog(wh)
    out = cat.read(spark, "ns", "t")
    assert out.count() == 3
    assert dict(out.dtypes)["price"] == "double"
    # partition_by reached the commit (ADVICE fix): manifest records it
    assert cat._manifest("ns", "t", 1)["partition_by"] == ["status"]

    # sync actions through the same dispatcher
    from component_iceberg_spark.runner import execute

    cols = execute(
        spark,
        {"action": "list_columns", "parameters": config["parameters"]},
        "writer",
        str(data_dir),
    )
    assert ("id", "bigint") in cols


def test_runner_exit_codes(spark, tmp_path):
    """UserConfigError → 1 (bad config), system errors → 2 — the
    reference's exception→exit-code map."""
    import json

    from component_iceberg_spark import runner

    # user error: invalid write mode
    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps({
        "parameters": {
            "catalog": {"warehouse": str(tmp_path / "wh")},
            "destination": {"namespace": "ns", "table_name": "t",
                            "mode": "nonsense"},
        },
    }))
    (tmp_path / "in" / "tables").mkdir(parents=True)
    (tmp_path / "in" / "tables" / "x.csv").write_text("a,b\n1,2\n")
    assert runner.main(spark, str(bad), "writer", str(tmp_path)) == 1

    # system error: config file is not JSON
    broken = tmp_path / "broken.json"
    broken.write_text("{not json")
    assert runner.main(spark, str(broken), "writer", str(tmp_path)) == 2


def test_storage_api_client_retry_backoff():
    """SAPI client contract (wr-iceberg/src/storage_api_client.py:14-30):
    3 attempts, linear backoff (1s, 2s), token header, last error raised."""
    import json

    from component_iceberg_spark.io.storage_api import StorageApiClient

    calls, sleeps = [], []

    def flaky_transport(url, headers):
        calls.append((url, headers))
        if len(calls) < 3:
            raise OSError(f"boom {len(calls)}")
        return json.dumps({"columns": ["id", "name", "price"]})

    c = StorageApiClient(
        "https://connection.example/", "tok-123",
        transport=flaky_transport, sleep=sleeps.append,
    )
    cols = c.list_table_columns("in.c-test.test")
    assert cols == ["id", "name", "price"]
    assert len(calls) == 3
    assert sleeps == [1, 2]  # linear backoff between attempts
    url, headers = calls[0]
    assert url == "https://connection.example/v2/storage/tables/in.c-test.test"
    assert headers["X-StorageApi-Token"] == "tok-123"

    def always_down(url, headers):
        raise OSError("down")

    c2 = StorageApiClient(
        "https://x", "t", transport=always_down, sleep=lambda s: None
    )
    import pytest as _pytest

    with _pytest.raises(OSError, match="down"):
        c2.get_table_detail("a.b.c")


def test_runner_list_table_columns_action(spark, tmp_path):
    """list_table_columns via the dispatcher: table id from the config's
    storage input mapping; UserConfigError (exit 1 shape) without one."""
    import json

    from component_iceberg_spark import runner
    from component_iceberg_spark.component import sync_action
    from component_iceberg_spark.config import CatalogConfig, UserConfigError
    from component_iceberg_spark.io.storage_api import StorageApiClient

    class FakeClient(StorageApiClient):
        def __init__(self):
            super().__init__(
                "https://x", "t",
                transport=lambda u, h: json.dumps({"columns": ["a", "b"]}),
            )

    class Cfg:
        catalog = CatalogConfig(warehouse=str(tmp_path / "wh"))

    assert sync_action(
        spark, Cfg(), "list_table_columns",
        table_id="in.c-x.t", client=FakeClient(),
    ) == ["a", "b"]

    with pytest.raises(UserConfigError, match="input tables"):
        sync_action(spark, Cfg(), "list_table_columns", table_id=None)

    # dispatcher pulls the id out of storage.input.tables[0].source and a
    # missing mapping exits 1
    cfgfile = tmp_path / "cfg.json"
    cfgfile.write_text(json.dumps({
        "action": "list_table_columns",
        "storage": {"input": {"tables": []}},
        "parameters": {
            "catalog": {"warehouse": str(tmp_path / "wh")},
            "destination": {"namespace": "ns", "table_name": "t"},
        },
    }))
    assert runner.main(spark, str(cfgfile), "writer", str(tmp_path)) == 1


def test_extractor_insertion_order_without_pk(spark, sf_dir, warehouse, tmp_path):
    """preserve_insertion_order must hold WITHOUT a primary key (reference
    keeps raw insertion order unconditionally): the CSV comes back in the
    table's scan order."""
    cfg = _extract_cfg(warehouse, preserve_insertion_order=True)
    assert cfg.destination.primary_key == []
    res = run_extractor(spark, cfg, str(tmp_path / "out"))
    assert "_scan_order" not in [c[0] for c in res.columns]
    import glob as _glob

    parts = sorted(_glob.glob(os.path.join(res.path, "part-*.csv")))
    assert len(parts) == 1  # single ordered file
    rows = open(parts[0]).read().strip().splitlines()
    # scan order of the source table = n_nationkey order it was written in
    keys = [int(r.split(",")[0].strip('"')) for r in rows[1:]]
    src = [
        r.n_nationkey
        for r in load_table(spark, sf_dir, "nation").collect()
    ]
    assert keys == src


def test_session_cached_reuses_and_evicts(spark):
    """plans/cache.session_cached: (a) repeat calls with the same key
    return the SAME persisted DataFrame (no duplicate persist), (b)
    different keys build independently, (c) entries from a dead
    application are evicted when a live session asks."""
    from component_iceberg_spark.plans import cache as C

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(5)

    a1 = C.session_cached(spark, ("t_reuse",), build)
    a2 = C.session_cached(spark, ("t_reuse",), build)
    assert a1 is a2 and calls["n"] == 1
    assert a1.storageLevel.useMemory  # actually persisted

    b = C.session_cached(spark, ("t_other",), build)
    assert b is not a1 and calls["n"] == 2

    # plant a dead-app entry; the next call from the live session evicts it
    dead_key = ("zombie-app-id", "t_dead")
    with C._LOCK:
        C._CACHE[dead_key] = spark.range(1)
    C.session_cached(spark, ("t_reuse",), build)
    with C._LOCK:
        assert dead_key not in C._CACHE
    # cleanup: release what this test persisted
    app = spark.sparkContext.applicationId
    with C._LOCK:
        for k in [k for k in C._CACHE if k[0] == app and k[1].startswith("t_")]:
            C._CACHE.pop(k).unpersist()


def test_session_cached_lru_bound(spark):
    """Within ONE live session, distinct keys cannot accumulate persisted
    relations without limit (ADVICE r8): the cache holds at most
    _MAX_ENTRIES entries, the least-recently-USED one is unpersisted on
    overflow, and a touch (cache hit) refreshes recency."""
    from component_iceberg_spark.plans import cache as C

    app = spark.sparkContext.applicationId

    def drain():
        # safe: evicted handles recompute from lineage for any caller
        with C._LOCK:
            while C._CACHE:
                _, df = C._CACHE.popitem()
                try:
                    df.unpersist()
                except Exception:
                    pass

    drain()
    dfs = {}
    for i in range(C._MAX_ENTRIES):
        dfs[i] = C.session_cached(spark, (f"lru_{i}",), lambda: spark.range(3))
    # touch entry 0 so it is the MOST recently used
    assert C.session_cached(spark, ("lru_0",), lambda: spark.range(3)) is dfs[0]
    # one more key overflows the bound: the LRU victim is evicted —
    # entry 0 (just touched) survives
    C.session_cached(spark, ("lru_new",), lambda: spark.range(3))
    with C._LOCK:
        assert len(C._CACHE) <= C._MAX_ENTRIES
        assert (app, "lru_0") in C._CACHE
        assert (app, "lru_new") in C._CACHE
    # the evicted relation's handle stays usable (recomputes from lineage)
    victim = next(df for i, df in dfs.items() if (app, f"lru_{i}") not in C._CACHE)
    assert victim.count() == 3
    assert not victim.storageLevel.useMemory  # actually unpersisted
    drain()
