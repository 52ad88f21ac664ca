"""Row-level mutation + snapshot-table queries (SURVEY §2.1, §2.2, §2.4).

``upsert_by_key`` is the reference's most interesting operator (pyiceberg
``table.upsert``, ``wr-iceberg/src/component.py:107-108``): matched rows
take all columns from the source, unmatched insert, last-wins on source-
internal key duplicates. Here it's a distributed anti-join + union — the
same physical shape Iceberg's copy-on-write MERGE produces — checkable by
a pure-SQL oracle.

The ``snap_*`` queries exercise the snapshot table layer end-to-end
(create → append → replace → upsert → time travel → snapshot listing),
rebuilding a scratch warehouse per invocation so snapshot ids are
deterministic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from component_iceberg_spark.io.snaptable import SnapCatalog
from component_iceberg_spark.io.tables import load_table
from component_iceberg_spark.plans.registry import register
from component_iceberg_spark.session import local_relation
from component_iceberg_spark.plans.scratch import scratch_warehouse


def _warehouse(sf_dir: str, key: str) -> SnapCatalog:
    # fresh per invocation → deterministic snapshot ids (shared contract:
    # plans/scratch.py)
    return scratch_warehouse(sf_dir, key)


# Base/delta split of orders used by every upsert-shaped query: ~2/3 of
# orders form the target, every even key arrives as a delta with a bumped
# price (x*1.1 is a single IEEE op — bit-identical in Spark and DuckDB).
_UPSERT_ORACLE = """
WITH base AS (
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 3 <> 0
), delta AS (
    SELECT o_orderkey, o_custkey, o_orderstatus,
           o_totalprice * 1.1 AS o_totalprice
    FROM orders WHERE o_orderkey % 2 = 0
)
SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta)
UNION ALL
SELECT * FROM delta
"""


def _upsert_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    base = o.filter(F.col("o_orderkey") % 3 != 0)
    delta = o.filter(F.col("o_orderkey") % 2 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 1.1
    )
    return base, delta


@register("upsert_by_key", oracle=_UPSERT_ORACLE, tags=("parity", "mutation"))
def upsert_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE as anti-join + union: one shuffle on the key; identical result
    to Iceberg ``MERGE INTO … UPDATE SET * / INSERT *``
    (see io.iceberg.merge_upsert_sql for the connector path)."""
    base, delta = _upsert_inputs(spark, sf_dir)
    survivors = base.join(delta.select("o_orderkey"), "o_orderkey", "left_anti")
    return survivors.unionByName(delta)


@register(
    "dedup_last_wins",
    oracle="""
    SELECT user_id, event_type, event_id, ts, value
    FROM (
        SELECT user_id, event_type, event_id, ts, value,
               row_number() OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    tags=("parity", "mutation"),
)
def dedup_last_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One surviving row per key, latest wins (the upsert's implied dedup,
    SURVEY §2.2): ranking window with a unique tiebreak, one shuffle."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "incremental_load_flag",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           TRUE AS _incremental
    FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
    """,
    tags=("parity", "mutation"),
)
def incremental_load_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extractor's incremental-load mode (``load_type`` →
    ``incremental``, ``ex-iceberg/src/configuration.py:44-50``): the
    changed slice is emitted with the incremental marker; downstream
    applies it via upsert_by_key instead of full replace."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp_ntz")
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit(True).alias("_incremental"),
    )


# ---------------------------------------------------------------------------
# Snapshot table layer end-to-end (scan_snapshot, sink_iceberg_*, ddl_*,
# list_* — SURVEY §2.1/§2.4)
# ---------------------------------------------------------------------------


@register(
    "snap_append_timetravel",
    oracle="SELECT * FROM nation WHERE n_regionkey < 3",
    tags=("parity", "snapshot"),
)
def snap_append_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """create (snapshot 1) → append (snapshot 2) → read VERSION AS OF 1:
    the append is metadata-only, so snapshot 1 must read back exactly the
    original data (``scan_snapshot`` parity)."""
    cat = _warehouse(sf_dir, "timetravel")
    n = load_table(spark, sf_dir, "nation")
    cat.create_or_replace("ns", "nation", n.filter(F.col("n_regionkey") < 3))
    cat.append("ns", "nation", n.filter(F.col("n_regionkey") >= 3))
    return cat.read(spark, "ns", "nation", snapshot_id=1)


@register(
    "snap_append_current",
    oracle="SELECT * FROM nation",
    tags=("parity", "snapshot"),
)
def snap_append_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same pipeline, current snapshot: create + append = whole table
    (``sink_iceberg_append`` + ``ddl_create_table_from_schema`` parity:
    the table schema derives from the first DataFrame, schema-on-first-write
    as in ``wr-iceberg/src/component.py:104-124``)."""
    cat = _warehouse(sf_dir, "append_current")
    n = load_table(spark, sf_dir, "nation")
    cat.create_or_replace("ns", "nation", n.filter(F.col("n_regionkey") < 3))
    cat.append("ns", "nation", n.filter(F.col("n_regionkey") >= 3))
    return cat.read(spark, "ns", "nation")


@register(
    "snap_append_ordered",
    oracle="""
    SELECT n_nationkey, n_name,
           CAST(row_number() OVER (ORDER BY n_name) AS INTEGER) AS _row_idx,
           CAST(row_number() OVER (ORDER BY n_name) AS INTEGER) AS read_pos
    FROM nation
    """,
    tags=("parity", "snapshot"),
)
def snap_append_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``preserve_insertion_order=true`` through the snapshot catalog
    end-to-end (``ex-iceberg/src/component.py:106-107``): the source is
    stamped with an explicit insertion index (by n_name — deliberately
    NOT the physical fixture order), appended with ``sort_by`` so the
    commit is range-partitioned + sorted on that index across several
    files, then read back with the physical read position derived from
    ``(_metadata.file_path, _metadata.row_index)``. The oracle pins
    ``read_pos == _row_idx`` for every row — i.e. the scan really does
    return insertion order, file AND commit boundaries included. No
    coalesce(1) and no single-task sort anywhere: the ordered write is
    range-partitioned, and the read-back position uses the same
    scale-safe global_rank that stamps the index (a bare Window.orderBy
    would sort in one task).

    TWO ordered appends, read back via ``read_ordered``: data dirs are
    uuid-named, so file_path alone cannot order ACROSS commits — the
    reader's total order is (_commit_seq, file_path, row_index), with
    _commit_seq from the manifest's file list."""
    cat = _warehouse(sf_dir, "append_ordered")
    from component_iceberg_spark.io.csv_io import with_row_index
    from component_iceberg_spark.operators.relational import global_rank

    src = with_row_index(load_table(spark, sf_dir, "nation"), ["n_name"])
    cat.create_namespace("ns")
    cat.append("ns", "nation_ordered", src.filter(F.col("_row_idx") <= 13),
               sort_by=["_row_idx"])
    cat.append("ns", "nation_ordered", src.filter(F.col("_row_idx") > 13),
               sort_by=["_row_idx"])
    df = cat.read_ordered(
        spark, "ns", "nation_ordered", with_position=True
    ).select(
        "n_nationkey", "n_name", "_row_idx", "_commit_seq",
        "_file_path", "_row_index",
    )
    ranked = global_rank(
        df,
        [F.col("_commit_seq"), F.col("_file_path"), F.col("_row_index")],
        rank_col="read_pos",
    )
    return ranked.select(
        "n_nationkey",
        "n_name",
        "_row_idx",
        F.col("read_pos").cast("int").alias("read_pos"),
    )


@register(
    "snap_checked_append",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 0
    """,
    tags=("parity", "snapshot"),
)
def snap_checked_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-time CHECK constraint (Delta-style table constraint; the
    table-level sibling of the reference's strict-cast gate): a clean
    batch commits through `append(check=...)`, a violating batch fails
    BEFORE any data lands (sample offending row in the error) and the
    table still reads exactly the clean rows. The violating path is
    exercised in-line — the returned table proves it left no trace."""
    cat = _warehouse(sf_dir, "checked_append")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    clean = o.filter(F.col("o_totalprice") > 0)
    cat.create_namespace("ns")
    cat.append("ns", "orders", clean, check="o_totalprice > 0")
    dirty = clean.limit(5).withColumn("o_totalprice", -F.col("o_totalprice"))
    try:
        cat.append("ns", "orders", dirty, check="o_totalprice > 0")
        raise AssertionError("CHECK constraint did not fire")
    except ValueError:
        pass
    return cat.read(spark, "ns", "orders")


@register(
    "snap_replace",
    oracle="SELECT * FROM customer WHERE c_mktsegment = 'BUILDING'",
    tags=("parity", "snapshot"),
)
def snap_replace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replace commit: second create_or_replace atomically supersedes the
    first (``sink_iceberg_replace`` parity,
    ``wr-iceberg/src/component.py:115-124``)."""
    cat = _warehouse(sf_dir, "replace")
    c = load_table(spark, sf_dir, "customer")
    cat.create_or_replace("ns", "customer", c.filter(F.col("c_mktsegment") == "AUTOMOBILE"))
    cat.create_or_replace("ns", "customer", c.filter(F.col("c_mktsegment") == "BUILDING"))
    return cat.read(spark, "ns", "customer")


@register("snap_upsert", oracle=_UPSERT_ORACLE, tags=("parity", "snapshot"))
def snap_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same MERGE semantics executed through the snapshot table layer
    (write base → upsert delta → read current)."""
    cat = _warehouse(sf_dir, "upsert")
    base, delta = _upsert_inputs(spark, sf_dir)
    cat.create_or_replace("ns", "orders", base)
    cat.upsert("ns", "orders", delta, keys=["o_orderkey"])
    return cat.read(spark, "ns", "orders")


@register(
    "snap_snapshots_list",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), 'replace'),
        (CAST(2 AS BIGINT), 'append'),
        (CAST(3 AS BIGINT), 'upsert')
    ) AS t(snapshot_id, operation)
    """,
    tags=("parity", "meta", "snapshot"),
)
def snap_snapshots_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot enumeration (``list_snapshots`` sync action,
    ``ex-iceberg/src/component.py:148-157``). Wall-clock column dropped for
    determinism; ids/operations are the golden."""
    cat = _warehouse(sf_dir, "snaplist")
    n = load_table(spark, sf_dir, "nation")
    cat.create_or_replace("ns", "nation", n.filter(F.col("n_regionkey") < 3))
    cat.append("ns", "nation", n.filter(F.col("n_regionkey") >= 3))
    cat.upsert("ns", "nation", n.limit(0).unionByName(n.filter(F.col("n_nationkey") == 0)), keys=["n_nationkey"])
    return cat.snapshots(spark, "ns", "nation").select("snapshot_id", "operation")


@register(
    "snap_catalog_meta",
    oracle="""
    SELECT * FROM (VALUES
        ('analytics', 'customers'),
        ('analytics', 'nations'),
        ('raw', 'events_log')
    ) AS t(namespace, table_name)
    """,
    tags=("parity", "meta"),
)
def snap_catalog_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog namespace/table enumeration (``list_namespaces`` /
    ``list_tables`` sync actions + ``ddl_create_namespace``,
    ``ex-iceberg/src/component.py:138-146``)."""
    cat = _warehouse(sf_dir, "meta")
    n = load_table(spark, sf_dir, "nation")
    cat.create_namespace("raw")
    cat.create_or_replace("analytics", "customers", load_table(spark, sf_dir, "customer").limit(5))
    cat.create_or_replace("analytics", "nations", n.limit(5))
    cat.create_or_replace("raw", "events_log", load_table(spark, sf_dir, "events").limit(5))
    rows = [
        (ns, tbl) for ns in cat.list_namespaces() for tbl in cat.list_tables(ns)
    ]
    return local_relation(
        spark, rows, schema="namespace string, table_name string"
    )


@register(
    "snap_compact",
    oracle="SELECT * FROM orders",
    tags=("parity", "snapshot"),
)
def snap_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction (north-star 'read/write/compaction'): three append
    commits accrete small files; compact() rewrites them into one
    directory (at most one file per core below the byte gate) as a new
    snapshot — content must be IDENTICAL to the pre-compaction table,
    and prior snapshots stay readable."""
    cat = _warehouse(sf_dir, "compact")
    o = load_table(spark, sf_dir, "orders")
    cat.create_or_replace("ns", "orders", o.filter(F.col("o_orderkey") % 3 == 0))
    cat.append("ns", "orders", o.filter(F.col("o_orderkey") % 3 == 1))
    cat.append("ns", "orders", o.filter(F.col("o_orderkey") % 3 == 2))
    cat.compact(spark, "ns", "orders")
    return cat.read(spark, "ns", "orders")


@register(
    "snap_compact_manifests",
    oracle="SELECT o.*, 1 AS n_manifest_entries FROM orders o",
    tags=("parity", "snapshot"),
)
def snap_compact_manifests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest compaction (Iceberg ``rewrite_manifests`` analogue): four
    commits accrete four manifest entries — the exact pathology of the
    reference's per-5M-row-batch commit loop
    (``wr-iceberg/src/component.py:97-110``); ``compact_manifests()``
    folds them into ONE entry with merged stats, moving no data (hard
    links, no Spark job). Content must be identical and the emitted
    ``n_manifest_entries`` pins that the fold really happened — the
    oracle expects exactly 1."""
    cat = _warehouse(sf_dir, "compact_manifests")
    o = load_table(spark, sf_dir, "orders")
    cat.create_or_replace("ns", "orders", o.filter(F.col("o_orderkey") % 4 == 0))
    for rem in (1, 2, 3):
        cat.append("ns", "orders", o.filter(F.col("o_orderkey") % 4 == rem))
    sid = cat.compact_manifests("ns", "orders")
    n_entries = len(cat._manifest("ns", "orders", sid)["files"])
    return cat.read(spark, "ns", "orders").withColumn(
        "n_manifest_entries", F.lit(n_entries)
    )


@register(
    "snap_cluster_rewrite",
    oracle="""
    SELECT o.*, 1 AS pruning_effective FROM orders o
    WHERE o_orderkey <= (SELECT max(o_orderkey) // 8 FROM orders)
    """,
    tags=("parity", "snapshot"),
)
def snap_cluster_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-order data rewrite (Iceberg ``rewrite_data_files`` with a
    sort order): three key-interleaved appends make every data dir span
    the FULL o_orderkey range — stats pruning can skip nothing;
    ``cluster_rewrite`` range-partitions into 8 sorted directories with
    narrow disjoint min/max intervals, after which a range predicate
    scan must skip at least half the directories via manifest stats
    alone. Content must be identical to a plain filter over the source
    (the oracle), and ``pruning_effective`` pins that the skip really
    happened — the oracle expects exactly 1."""
    cat = _warehouse(sf_dir, "cluster_rewrite")
    o = load_table(spark, sf_dir, "orders")
    # modulo interleave: each append commit contains keys from the whole
    # range, the worst case for stats pruning
    cat.create_or_replace("ns", "orders", o.filter(F.col("o_orderkey") % 3 == 0))
    cat.append("ns", "orders", o.filter(F.col("o_orderkey") % 3 == 1))
    cat.append("ns", "orders", o.filter(F.col("o_orderkey") % 3 == 2))
    sid = cat.cluster_rewrite(spark, "ns", "orders", "o_orderkey", n_buckets=8)
    max_key = o.agg(F.max("o_orderkey")).collect()[0][0]
    pred = f"o_orderkey <= {max_key // 8}"
    manifest = cat._manifest("ns", "orders", sid)
    _cands, skipped = cat._prune_dirs(manifest, pred)
    effective = 1 if len(skipped) >= 4 else 0
    return cat.read(spark, "ns", "orders", where=pred).withColumn(
        "pruning_effective", F.lit(effective)
    )


@register(
    "snap_schema_evolution",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey,
           CAST(NULL AS VARCHAR) AS n_comment
    FROM nation WHERE n_regionkey < 3
    UNION ALL
    SELECT n_nationkey, n_name, n_regionkey,
           concat('nation-', CAST(n_nationkey AS VARCHAR)) AS n_comment
    FROM nation WHERE n_regionkey >= 3
    """,
    tags=("parity", "snapshot"),
)
def snap_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution: an append introduces a new column; rows from
    pre-evolution files surface it as NULL (every read goes through the
    manifest schema, which unions the new column — Iceberg add-column
    semantics, no rewrite of old data)."""
    cat = _warehouse(sf_dir, "schema_evo")
    n = load_table(spark, sf_dir, "nation")
    cat.create_or_replace("ns", "nation", n.filter(F.col("n_regionkey") < 3))
    evolved = n.filter(F.col("n_regionkey") >= 3).withColumn(
        "n_comment", F.concat(F.lit("nation-"), F.col("n_nationkey").cast("string"))
    )
    cat.append("ns", "nation", evolved)
    return cat.read(spark, "ns", "nation")


@register(
    "snap_delete_where",
    oracle="""
    SELECT * FROM orders
    WHERE NOT (o_orderstatus = 'P' AND o_totalprice < 100000)
    """,
    tags=("parity", "snapshot", "mutation"),
)
def snap_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE (Iceberg DELETE FROM, copy-on-write): deleted rows
    vanish from the new snapshot but remain time-travelable in the old."""
    cat = _warehouse(sf_dir, "delete_where")
    o = load_table(spark, sf_dir, "orders")
    cat.create_or_replace("ns", "orders", o)
    cat.delete_where(
        spark, "ns", "orders", "o_orderstatus = 'P' AND o_totalprice < 100000"
    )
    return cat.read(spark, "ns", "orders")


@register(
    "snap_update_where",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderstatus = 'P' THEN o_totalprice * 1.05
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    """,
    tags=("parity", "snapshot", "mutation"),
)
def snap_update_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level UPDATE (Iceberg UPDATE … SET, copy-on-write): matching
    rows take the SET expressions in a new snapshot."""
    cat = _warehouse(sf_dir, "update_where")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    cat.create_or_replace("ns", "orders", o)
    cat.update_where(
        spark,
        "ns",
        "orders",
        "o_orderstatus = 'P'",
        {"o_totalprice": "o_totalprice * 1.05"},
    )
    return cat.read(spark, "ns", "orders")


@register(
    "snap_partitioned_scan",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderstatus = 'F'
    """,
    tags=("parity", "snapshot", "scan"),
)
def snap_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec tables: commits laid out hive-style by
    o_orderstatus; a filter on the partition column prunes whole
    directories (PartitionFilters — asserted in tests/test_plans.py).
    Values must round-trip through the partition encoding exactly."""
    cat = _warehouse(sf_dir, "part_scan")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    cat.create_or_replace(
        "ns", "orders", o.filter(F.col("o_orderkey") % 2 == 0),
        partition_by=["o_orderstatus"],
    )
    cat.append("ns", "orders", o.filter(F.col("o_orderkey") % 2 == 1))
    got = cat.read(spark, "ns", "orders").filter(F.col("o_orderstatus") == "F")
    return got.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")


@register(
    "snap_stats_pruned_scan",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
    FROM orders
    WHERE o_orderkey >= 300 AND o_orderkey < 700
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    """,
    tags=("parity", "snapshot", "scan"),
)
def snap_stats_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest min/max file skipping (Iceberg metrics pruning): three
    commits with disjoint o_orderkey ranges; a key-range + timestamp
    conjunction read through ``where=`` opens only the one directory whose
    stats can match — the others are skipped before any file is touched
    (mechanism unit-tested in tests/test_snaptable.py; this query pins the
    end-to-end result against the oracle)."""
    cat = _warehouse(sf_dir, "stats_scan")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    cat.create_or_replace("ns", "orders", o.filter(F.col("o_orderkey") < 300))
    cat.append(
        "ns", "orders",
        o.filter((F.col("o_orderkey") >= 300) & (F.col("o_orderkey") < 700)),
    )
    cat.append("ns", "orders", o.filter(F.col("o_orderkey") >= 700))
    return cat.read(
        spark, "ns", "orders",
        where="o_orderkey >= 300 AND o_orderkey < 700 "
              "AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'",
    )


_HIDDEN_PART_ORACLE = """
WITH base AS (
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
    FROM orders WHERE o_orderkey % 3 <> 0
), delta AS (
    SELECT o_orderkey, o_custkey, o_orderstatus,
           o_totalprice * 1.1 AS o_totalprice, o_orderdate
    FROM orders WHERE o_orderkey % 2 = 0
), merged AS (
    SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM delta)
    UNION ALL
    SELECT * FROM delta
)
SELECT o_orderstatus, count(*) AS n,
       round(sum(o_totalprice), 2) AS total
FROM merged
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
GROUP BY o_orderstatus
"""


@register("snap_hidden_partition", oracle=_HIDDEN_PART_ORACLE,
          tags=("parity", "snapshot", "partitioning"))
def snap_hidden_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg hidden partitioning end-to-end: the table is created with a
    transform spec (``month(o_orderdate)`` + ``bucket(4, o_custkey)``),
    an upsert inherits the spec (mutations must not de-partition), and the
    read filters on the SOURCE column only — the engine converts the
    predicate to hidden-partition pruning itself (Spark PartitionFilters
    over the derived hive layout; see io/partition_spec.py). Readers never
    see the derived columns. Scale story: month+bucket bounds every
    partition's size, the upsert's file-pruned CoW touches only affected
    dirs, and a 100× table prunes 100× more files for the same query."""
    cat = _warehouse(sf_dir, "hidden_part")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    base = o.filter(F.col("o_orderkey") % 3 != 0)
    delta = o.filter(F.col("o_orderkey") % 2 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 1.1
    )
    cat.create_or_replace(
        "ns", "orders", base,
        partition_spec=["month(o_orderdate)", "bucket(4, o_custkey)"],
    )
    cat.upsert("ns", "orders", delta, keys=["o_orderkey"])
    filtered = cat.read(
        spark, "ns", "orders",
        where="o_orderdate >= '1997-01-01' AND o_orderdate < '1997-07-01'",
    )
    return filtered.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "snap_rollback",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
    """,
    tags=("parity", "snapshot"),
)
def snap_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg rollback_to_snapshot: v1 = AUTOMOBILE, v2 = +BUILDING
    append, v3 = replace with MACHINERY only, rollback to v2 → the
    current read must show v2's content while v3 stays time-travelable.
    Metadata-only: the rollback commit re-publishes v2's manifest —
    no data movement at any scale."""
    cat = _warehouse(sf_dir, "rollback")
    c = load_table(spark, sf_dir, "customer")
    cat.create_or_replace("ns", "customer", c.filter(F.col("c_mktsegment") == "AUTOMOBILE"))
    cat.append("ns", "customer", c.filter(F.col("c_mktsegment") == "BUILDING"))
    cat.create_or_replace("ns", "customer", c.filter(F.col("c_mktsegment") == "MACHINERY"))
    cat.rollback_to("ns", "customer", 2)
    if cat.read(spark, "ns", "customer", snapshot_id=3).count() == 0:
        raise ValueError("rollback lost the intervening snapshot 3")
    return cat.read(spark, "ns", "customer")


@register(
    "snap_history_meta",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), CAST(NULL AS BIGINT), TRUE),
        (CAST(2 AS BIGINT), CAST(1 AS BIGINT), TRUE),
        (CAST(3 AS BIGINT), CAST(2 AS BIGINT), FALSE),
        (CAST(4 AS BIGINT), CAST(2 AS BIGINT), TRUE)
    ) AS t(snapshot_id, parent_id, is_current_ancestor)
    """,
    tags=("parity", "meta", "snapshot"),
)
def snap_history_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg ``t.history`` metadata table: v1 → v2 append → v3 replace
    → rollback to v2. The rolled-back v3 stays time-travelable but is
    NOT a current ancestor (the rollback's lineage parent is its TARGET),
    while v1/v2/v4 form the live chain — the distinction expire tooling
    and audits read. Wall-clock column dropped for determinism; the
    lineage triple is the golden. Manifest-only — no data scan."""
    cat = _warehouse(sf_dir, "history")
    n = load_table(spark, sf_dir, "nation")
    cat.create_or_replace("ns", "nation", n.filter(F.col("n_regionkey") < 2))
    cat.append("ns", "nation", n.filter(F.col("n_regionkey") >= 2))
    cat.create_or_replace("ns", "nation", n.filter(F.col("n_nationkey") < 5))
    cat.rollback_to("ns", "nation", 2)
    if cat.read(spark, "ns", "nation", snapshot_id=3).count() == 0:
        raise ValueError("rollback lost the intervening snapshot 3")
    return cat.history(spark, "ns", "nation").select(
        "snapshot_id", "parent_id", "is_current_ancestor"
    )


@register(
    "snap_rename_column",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
           c_acctbal AS account_balance
    FROM customer
    WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
    """,
    tags=("parity", "snapshot", "schema"),
)
def snap_rename_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg ALTER TABLE .. RENAME COLUMN — METADATA-ONLY: the rename
    commit rewrites the logical schema and the stats keys, never a data
    file. Directories written before the rename keep their physical name
    and resolve through the manifest's rename chain at read; the append
    AFTER the rename writes the new name — the result merges both
    generations exactly. At 100 TB this is the difference between an
    instant commit and rewriting the table."""
    cat = _warehouse(sf_dir, "rename_col")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    cat.create_or_replace(
        "ns", "customer", c.filter(F.col("c_mktsegment") == "AUTOMOBILE")
    )
    cat.rename_column("ns", "customer", "c_acctbal", "account_balance")
    cat.append(
        "ns", "customer",
        c.filter(F.col("c_mktsegment") == "BUILDING").withColumnRenamed(
            "c_acctbal", "account_balance"
        ),
    )
    return cat.read(spark, "ns", "customer")


@register(
    "snap_drop_column",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderkey % 3 <= 1
    """,
    tags=("parity", "snapshot", "schema"),
)
def snap_drop_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg ALTER TABLE .. DROP COLUMN — METADATA-ONLY: the column
    leaves the logical schema; its bytes stay in place (time-travelable
    through pre-drop snapshots) and every read projects it away. The
    post-drop append lands on the narrowed schema; the dropped name is
    retired against reintroduction (the name-based layout's substitute
    for Iceberg field ids)."""
    cat = _warehouse(sf_dir, "drop_col")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    cat.create_or_replace("ns", "orders", o.filter(F.col("o_orderkey") % 3 == 0))
    cat.drop_column("ns", "orders", "o_orderstatus")
    cat.append(
        "ns", "orders",
        o.filter(F.col("o_orderkey") % 3 == 1).drop("o_orderstatus"),
    )
    if "o_orderstatus" not in cat.read(
        spark, "ns", "orders", snapshot_id=1
    ).columns:
        raise ValueError(
            "drop_column leaked into the pre-drop snapshot: "
            "o_orderstatus missing from snapshot 1"
        )
    return cat.read(spark, "ns", "orders")


@register(
    "snap_maintenance_report",
    oracle="""
    SELECT * FROM (VALUES (
        CAST(6 AS BIGINT),  -- n_snapshots
        CAST(5 AS BIGINT),  -- n_current_ancestors (the replace rolled off)
        CAST(1 AS BIGINT),  -- n_refs
        CAST(3 AS BIGINT),  -- n_data_dirs
        CAST(3 AS BIGINT),  -- n_small_dirs
        CAST(15 AS BIGINT), -- total_rows
        CAST(1 AS BIGINT),  -- n_pending_delete_entries
        FALSE               -- schema_lineage_active
    )) AS t(n_snapshots, n_current_ancestors, n_refs, n_data_dirs,
            n_small_dirs, total_rows, n_pending_delete_entries,
            schema_lineage_active)
    """,
    tags=("parity", "meta", "snapshot"),
)
def snap_maintenance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-health report from metadata alone — what an operator reads
    BEFORE picking a maintenance action: three small appended dirs (→
    compact), one pending equality-delete entry (→ MoR debt), a
    rolled-back replace leaving a non-ancestor snapshot (→ expire
    candidate, minus the tag-pinned head). The scenario drives every
    counter away from its trivial value; the golden oracle pins them.
    No data scan, no Spark job — manifests and refs only."""
    cat = _warehouse(sf_dir, "maint")
    n = load_table(spark, sf_dir, "nation")
    cat.create_or_replace("ns", "nation", n.filter(F.col("n_regionkey") == 0))
    cat.append("ns", "nation", n.filter(F.col("n_regionkey") == 1))
    cat.append("ns", "nation", n.filter(F.col("n_regionkey") == 2))   # sid 3
    cat.create_or_replace("ns", "nation", n.filter(F.col("n_regionkey") <= 3))
    cat.rollback_to("ns", "nation", 3)                                # sid 5
    cat.create_tag("ns", "nation", "keep")
    cat.delete_keys(
        spark, "ns", "nation",
        n.filter(F.col("n_nationkey") == 0).select("n_nationkey"),
        ["n_nationkey"],
    )                                                                 # sid 6
    return cat.maintenance_report(spark, "ns", "nation")


@register(
    "snap_bloom_pruned_scan",
    oracle="SELECT * FROM customer WHERE c_name = 'Customer#000000001'",
    tags=("parity", "snapshot", "pruning"),
)
def snap_bloom_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest BLOOM-FILTER pruning — the point-lookup complement to
    min/max stats (Iceberg's puffin blooms / Delta bloom indexes): three
    commits split by c_custkey % 3 interleave c_name across the whole
    lexical range, so range stats cannot skip the first dir for an
    equality lookup; the per-dir blooms (registered via
    ``bloom_cols=['c_name']``, computed once at write time, OR-merged by
    manifest folds) answer "value definitely absent" and the scan opens
    only the one directory that can contain the row. At 100 TB this is
    needle-in-haystack lookup cost ~ one file instead of one table. An
    overloaded or absent bloom only disables skipping — never wrong
    results (never-skip safety pinned in tests/test_snaptable.py)."""
    cat = _warehouse(sf_dir, "bloom")
    c = load_table(spark, sf_dir, "customer")
    cat.create_or_replace(
        "ns", "customer", c.filter(F.col("c_custkey") % 3 == 0),
        bloom_cols=["c_name"],
    )
    cat.append("ns", "customer", c.filter(F.col("c_custkey") % 3 == 1))
    cat.append("ns", "customer", c.filter(F.col("c_custkey") % 3 == 2))
    m = cat._manifest("ns", "customer", cat._current_sid("ns", "customer"))
    _cand, skipped = cat._prune_dirs(m, "c_name = 'Customer#000000001'")
    # evidence, not a guarantee: an overloaded bloom may false-positive a
    # dir back into the candidates (legal degradation — never wrong
    # results), so require only that SOMETHING was skipped; the exact
    # two-dir skip at gate SFs is pinned in tests/test_snaptable.py
    if len(skipped) < 1:
        raise ValueError(f"bloom pruning skipped no dir: {skipped}")
    return cat.read(
        spark, "ns", "customer", where="c_name = 'Customer#000000001'"
    )


@register(
    "snap_widen_column",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name, n_regionkey
    FROM nation
    UNION ALL
    SELECT n_nationkey + 8589934592, concat(n_name, '-V2'), n_regionkey
    FROM nation WHERE n_regionkey = 0
    """,
    tags=("parity", "snapshot", "schema"),
)
def snap_widen_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg ALTER TABLE .. ALTER COLUMN .. TYPE — METADATA-ONLY type
    promotion (int→long here): the commit rewrites the logical field
    type, old narrow files upcast at scan through the manifest's wide
    read schema, and the post-widen append carries keys beyond the
    32-bit range. No data file is rewritten at any table size."""
    cat = _warehouse(sf_dir, "widen_col")
    n = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("int").alias("n_nationkey"),
        "n_name",
        "n_regionkey",
    )
    cat.create_or_replace("ns", "nation", n)
    cat.widen_column_type("ns", "nation", "n_nationkey", "bigint")
    beyond = n.filter(F.col("n_regionkey") == 0).select(
        (F.col("n_nationkey").cast("long") + F.lit(2**33)).alias("n_nationkey"),
        F.concat(F.col("n_name"), F.lit("-V2")).alias("n_name"),
        "n_regionkey",
    )
    cat.append("ns", "nation", beyond)
    return cat.read(spark, "ns", "nation")


@register(
    "snap_refs_meta",
    oracle="""
    SELECT * FROM (VALUES
        ('audit-1996', 'tag', CAST(1 AS BIGINT)),
        ('dev', 'branch', CAST(2 AS BIGINT)),
        ('main', 'branch', CAST(3 AS BIGINT))
    ) AS t(name, type, snapshot_id)
    """,
    tags=("parity", "meta", "snapshot"),
)
def snap_refs_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg ``t.refs`` metadata table: an immutable tag on v1, a
    branch left at v2, and the implicit ``main`` branch tracking the
    current snapshot (v3 after the last append) — the ref inventory GC
    reads to know what it may never reclaim. Ref/manifest files only —
    no data scan, no Spark job."""
    cat = _warehouse(sf_dir, "refsmeta")
    n = load_table(spark, sf_dir, "nation")
    cat.create_or_replace("ns", "nation", n.filter(F.col("n_regionkey") == 0))
    cat.create_tag("ns", "nation", "audit-1996")
    cat.append("ns", "nation", n.filter(F.col("n_regionkey") == 1))
    cat.create_branch("ns", "nation", "dev")
    cat.append("ns", "nation", n.filter(F.col("n_regionkey") == 2))
    return cat.refs(spark, "ns", "nation")


_PART_EVO_ORACLE = """
SELECT o_orderstatus, count(*) AS n
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
GROUP BY o_orderstatus
"""


@register("snap_partition_evolution", oracle=_PART_EVO_ORACLE,
          tags=("parity", "snapshot", "partitioning"))
def snap_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg partition evolution: old data keeps its old layout, new
    data lands under the new spec, and one source-column predicate prunes
    BOTH generations correctly — old directories (no derived column for
    the new spec) pass the NULL-safe partition predicate and are filtered
    exactly by the row filter; new directories prune on the derived
    column. The 100 TB point: evolving a spec never rewrites history."""
    cat = _warehouse(sf_dir, "part_evo")
    o = load_table(spark, sf_dir, "orders")
    early = o.filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    late = o.filter(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp_ntz"))
    cat.create_or_replace("ns", "orders", early, partition_spec=["year(o_orderdate)"])
    # evolution: future appends partition by month instead
    cat.append("ns", "orders", late, partition_spec=["month(o_orderdate)"])
    filtered = cat.read(
        spark, "ns", "orders",
        where="o_orderdate >= '1997-01-01' AND o_orderdate < '1997-04-01'",
    )
    return filtered.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))


@register(
    "snap_expire",
    oracle="""
    SELECT n.*, 4 AS n_expired, 2 AS n_remaining FROM nation n
    """,
    tags=("parity", "snapshot"),
)
def snap_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot GC (Iceberg ``expire_snapshots`` analogue): six commits
    accrete six snapshots; expiring with keep_last=2 must drop exactly
    the four oldest manifests AND the data directories only they
    referenced, while the current content stays byte-identical (pinned
    by the oracle over the source) and the retained previous snapshot
    stays time-travelable. The emitted counters pin the retention
    arithmetic — the oracle expects exactly (4 expired, 2 remaining)."""
    cat = _warehouse(sf_dir, "expire")
    n = load_table(spark, sf_dir, "nation")
    cat.create_or_replace("ns", "nation", n.filter(F.col("n_regionkey") == 0))
    for rk in (1, 2, 3, 4):
        cat.append("ns", "nation", n.filter(F.col("n_regionkey") == rk))
    # one replace so the final content is the WHOLE table regardless of
    # which earlier snapshots get expired
    cat.create_or_replace("ns", "nation", n)
    expired = cat.expire_snapshots("ns", "nation", keep_last=2)
    remaining = len(cat._snapshots("ns", "nation"))
    # retained previous snapshot must still be readable (time travel)
    prev_sid = cat._snapshots("ns", "nation")[0]["snapshot_id"]
    # force the read: a retained snapshot must stay time-travelable
    # (read() raises if expire() broke it)
    cat.read(spark, "ns", "nation", snapshot_id=prev_sid).count()
    return cat.read(spark, "ns", "nation").select(
        "*",
        F.lit(len(expired)).alias("n_expired"),
        F.lit(remaining).alias("n_remaining"),
    )


@register(
    "snap_wap_publish",
    oracle="SELECT o_orderkey, o_custkey, o_totalprice FROM orders",
    tags=("parity", "snapshot"),
)
def snap_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish (the Iceberg WAP pattern the reference's
    blind per-batch commit loop lacks, ``wr-iceberg/src/component.py:
    97-110`` — it publishes every batch immediately): consumers read via
    a ``published`` branch ref; a new batch lands as an ordinary append
    (current advances, the ref does NOT), is audited at its own snapshot
    id, and only a passing audit fast-forwards the branch. A failing
    audit leaves readers on the last good snapshot with zero cleanup
    (the staged snapshot just never gets published) — pinned by the
    refusal unit test in tests/test_snaptable.py."""
    cat = _warehouse(sf_dir, "wap")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    base = o.filter(F.col("o_orderkey") % 3 != 0)
    staged = o.filter(F.col("o_orderkey") % 3 == 0)
    base_sid = cat.create_or_replace("ns", "orders", base)
    cat.create_branch("ns", "orders", "published", snapshot_id=base_sid)
    staged_sid = cat.append("ns", "orders", staged)

    # ---- audit: runs against the STAGED snapshot, not the branch ----
    audit = cat.read(spark, "ns", "orders", snapshot_id=staged_sid).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("o_orderkey").alias("n_keys"),
        F.count(F.when(F.col("o_orderkey").isNull(), 1)).alias("n_null"),
    ).collect()[0]  # 1-row metadata-sized audit summary
    if audit["n_null"] == 0 and audit["n"] == audit["n_keys"]:
        cat.retarget_branch("ns", "orders", "published", staged_sid)
    return cat.read(spark, "ns", "orders", ref="published")


@register(
    "snap_incremental_agg",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               / 100.0 AS total_price
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("parity", "snapshot"),
)
def snap_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance: the running
    per-status order rollup is refreshed from ``read_appends_between``
    (only the NEW data directories are scanned — the changelog read),
    merged with the stored partials by re-aggregation. At 100 TB this is
    the difference between rescanning the table per refresh and scanning
    one batch; exactness is pinned by the oracle computing the same
    rollup over the full final table. Sums ride exact integer cents so
    partial-merge order can never flip a rounded digit."""
    cat = _warehouse(sf_dir, "incragg")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).alias("_cents"),
        )

    sid1 = cat.create_or_replace(
        "ns", "orders", o.filter(F.col("o_orderkey") % 3 != 0)
    )
    mv = rollup(cat.read(spark, "ns", "orders", snapshot_id=sid1))
    sid2 = cat.append("ns", "orders", o.filter(F.col("o_orderkey") % 3 == 0))
    delta = rollup(
        cat.read_appends_between(spark, "ns", "orders", sid1, sid2)
    )
    return (
        mv.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            (F.sum("_cents") / 100.0).alias("total_price"),
        )
    )


@register(
    "snap_changelog_cdc",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, 'delete' AS change_type
    FROM orders WHERE o_orderkey % 3 <> 0 AND o_orderkey % 5 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, 'insert' AS change_type
    FROM orders WHERE o_orderkey % 3 = 0
    """,
    tags=("parity", "snapshot"),
)
def snap_changelog_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level change-data-capture between snapshots (Iceberg
    ``create_changelog_view`` analogue): after a copy-on-write DELETE and
    an append, the diff vs the base snapshot must emit exactly the
    deleted rows as 'delete' and the appended rows as 'insert' — with the
    CoW rewrite's carried-over rows cancelling out, and cost bounded by
    the churned files (untouched dirs are never opened — pinned by the
    inputFiles unit test in tests/test_snaptable.py)."""
    cat = _warehouse(sf_dir, "cdc")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    sid1 = cat.create_or_replace(
        "ns", "orders", o.filter(F.col("o_orderkey") % 3 != 0)
    )
    cat.delete_where(spark, "ns", "orders", "o_orderkey % 5 = 0")
    cat.append("ns", "orders", o.filter(F.col("o_orderkey") % 3 == 0))
    return cat.changelog_diff(spark, "ns", "orders", sid1)


@register(
    "snap_dpp_join",
    oracle="""
    WITH dim AS (
        SELECT o_orderpriority
        FROM orders GROUP BY 1
        HAVING avg(o_totalprice) > 250000
    )
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o.o_totalprice), 2) AS total
    FROM orders o JOIN dim USING (o_orderpriority)
    GROUP BY 1
    """,
    tags=("parity", "snapshot", "join"),
)
def snap_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning through the snapshot layer: the fact
    table is committed hive-partitioned by priority; the dim side keeps
    only priorities whose average order value clears a threshold — a
    predicate decidable ONLY at runtime (it aggregates the data), so no
    static filter can be inferred onto the fact scan. Catalyst inserts a
    dynamicpruningexpression into the fact scan's PartitionFilters (the
    broadcast side's values become the partition list), and the fact
    scan opens only qualifying partitions — the runtime analogue of
    sim_ann_ivf_stored's static IN pruning, and the mechanism that makes
    star-schema joins over partitioned 100 TB facts scan-bounded.
    Plan-pinned by tests/test_snaptable.py."""
    cat = _warehouse(sf_dir, "dpp_join")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    cat.create_or_replace(
        "ns", "orders", o, partition_by=["o_orderpriority"]
    )
    fact = cat.read(spark, "ns", "orders")
    dim = (
        o.groupBy("o_orderpriority")
        .agg(F.avg("o_totalprice").alias("_avg"))
        .filter(F.col("_avg") > 250000)
        .select("o_orderpriority")
    )
    return (
        fact.join(F.broadcast(dim), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "snap_expire_branches",
    oracle="""
    SELECT n.*, 3 AS n_expired, 3 AS n_remaining FROM nation n
    """,
    tags=("parity", "snapshot"),
)
def snap_expire_branches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-branch retention GC (Iceberg branch-level
    ``min-snapshots-to-keep`` through ``expire_snapshots``): six commits,
    an ``audit`` branch parked at the third snapshot, then
    ``expire_snapshots(keep_last=1, branch_keep={'audit': 2})``.
    Main trims to its newest snapshot, but the audit branch keeps its
    head AND one more ancestor — retained set {s1, s2, s5}, expired
    {s0, s3, s4} — and both retained ancestors stay time-travelable.
    The counters pin the retention arithmetic; the oracle pins the
    current content unchanged."""
    cat = _warehouse(sf_dir, "expire_br")
    n = load_table(spark, sf_dir, "nation")
    cat.create_or_replace("ns", "nation", n.filter(F.col("n_regionkey") == 0))
    sids = []
    for rk in (1, 2, 3, 4):
        sids.append(cat.append("ns", "nation", n.filter(F.col("n_regionkey") == rk)))
    cat.create_or_replace("ns", "nation", n)
    # park the audit branch two commits back from the final replace
    cat.create_branch("ns", "nation", "audit", snapshot_id=sids[1])
    expired = cat.expire_snapshots(
        "ns", "nation", keep_last=1, branch_keep={"audit": 2}
    )
    remaining = [s["snapshot_id"] for s in cat._snapshots("ns", "nation")]
    # the branch head and its retained ancestor must both stay readable
    # force both reads: the branch head and its retained ancestor must
    # stay readable (read() raises if the policy expire broke either)
    cat.read(spark, "ns", "nation", ref="audit").count()
    cat.read(spark, "ns", "nation", snapshot_id=sids[0]).count()
    return cat.read(spark, "ns", "nation").select(
        "*",
        F.lit(len(expired)).alias("n_expired"),
        F.lit(len(remaining)).alias("n_remaining"),
    )


# Multi-action MERGE fixture: the upsert base/delta split plus two WHEN
# guards — matched 'F' rows are tombstones (deleted), matched updates only
# land when the bumped price clears 150k (else the target row survives),
# and 'F' source rows never insert (the CDC-apply shape: delete events for
# unseen keys are no-ops).
_MERGE_MULTI_ORACLE = """
WITH base AS (
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 3 <> 0
), src AS (
    SELECT o_orderkey, o_custkey, o_orderstatus,
           o_totalprice * 1.1 AS o_totalprice
    FROM orders WHERE o_orderkey % 2 = 0
)
SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus, b.o_totalprice
FROM base b LEFT JOIN src s ON b.o_orderkey = s.o_orderkey
WHERE s.o_orderkey IS NULL
   OR (s.o_orderstatus <> 'F' AND NOT (s.o_totalprice > 150000))
UNION ALL
SELECT s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice
FROM src s
WHERE s.o_orderstatus <> 'F'
  AND (s.o_totalprice > 150000
       OR s.o_orderkey NOT IN (SELECT o_orderkey FROM base))
"""


@register("snap_merge_multi", oracle=_MERGE_MULTI_ORACLE,
          tags=("parity", "snapshot", "mutation"))
def snap_merge_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg multi-clause ``MERGE INTO`` (WHEN MATCHED AND cond THEN
    DELETE / WHEN MATCHED AND cond THEN UPDATE / WHEN NOT MATCHED AND
    cond THEN INSERT) through the snapshot layer — the general form of
    ``snap_upsert``'s two-clause special case and the shape a CDC apply
    job needs (the source row carries the action discriminator).

    Physical plan: upsert's plan plus one key-only join
    (io/snaptable.py ``_merge``, the one MERGE body behind both verbs).
    The file-pruned target anti-joins the keys the deduped source
    updates or deletes; the source rows are emitted through a left join
    against the distinct matched keys (target keys semi-joined with the
    source keys), which sends matched rows through ``update_when AND
    NOT delete_when`` and unmatched rows through ``insert_when``; one
    union writes the result. While the source fits the broadcast
    threshold neither join shuffles the target. Data dirs whose
    key-range stats cannot overlap the source carry into the new
    snapshot untouched, so at 100 TB the rewrite cost tracks the touched
    key range, not the table size."""
    cat = _warehouse(sf_dir, "merge_multi")
    base, src = _upsert_inputs(spark, sf_dir)
    cat.create_or_replace("ns", "orders", base)
    cat.merge(
        "ns", "orders", src, keys=["o_orderkey"],
        delete_when="o_orderstatus = 'F'",
        update_when="o_totalprice > 150000",
        insert_when="o_orderstatus <> 'F'",
    )
    return cat.read(spark, "ns", "orders")


@register(
    "snap_orphan_cleanup",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS n_removed,
           (SELECT CAST(count(*) AS BIGINT) FROM nation) AS n_rows
    """,
    tags=("parity", "snapshot", "meta"),
)
def snap_orphan_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphan-file GC (Iceberg ``remove_orphan_files``): a failed commit
    leaves its data directory behind with no manifest referencing it —
    simulated here by writing a parquet dir straight into the table's
    data root, exactly the state a crash between data write and metadata
    publish produces (io/snaptable.py _commit writes data first,
    metadata second, so this is the real failure artifact). The sweep
    must remove exactly the orphan and leave every snapshot-referenced
    dir intact: the output pins both the removal count and the table
    content after GC. The age threshold (0 here, 24 h in production) is
    what makes the sweep safe to run beside in-flight commits."""
    cat = _warehouse(sf_dir, "orphans")
    n = load_table(spark, sf_dir, "nation")
    cat.create_or_replace("ns", "nation", n.filter(F.col("n_regionkey") < 3))
    cat.append("ns", "nation", n.filter(F.col("n_regionkey") >= 3))
    orphan_dir = os.path.join(
        cat.warehouse, "ns", "nation", "data", "commit-failed-sim"
    )
    n.limit(5).write.mode("overwrite").parquet(orphan_dir)
    removed = cat.remove_orphans("ns", "nation", older_than_ms=0)
    if removed != ["commit-failed-sim"]:
        raise ValueError(f"orphan cleanup removed the wrong set: {removed}")
    out = cat.read(spark, "ns", "nation")
    return out.agg(F.count(F.lit(1)).alias("n_rows")).select(
        F.lit(len(removed)).cast("long").alias("n_removed"), "n_rows"
    )


@register(
    "snap_zorder_rewrite",
    oracle="""
    SELECT o.*, 1 AS prune_custkey, 1 AS prune_price FROM orders o
    WHERE o_custkey <= (SELECT max(o_custkey) // 4 FROM orders)
    """,
    tags=("parity", "snapshot"),
)
def snap_zorder_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order data rewrite (Iceberg ``rewrite_data_files`` zorder
    strategy): after key-interleaved appends, ``zorder_rewrite`` on
    (o_custkey, o_totalprice) re-lays the table along the interleaved
    space-filling curve, so a range predicate on EITHER column skips
    directories via manifest stats — the capability single-column
    clustering (snap_cluster_rewrite) cannot provide for the second
    dimension. The oracle pins content identity under the custkey
    filter plus two flags asserting that a custkey predicate AND a
    price predicate each pruned at least a quarter of the 16 bucket
    dirs (both must be 1)."""
    cat = _warehouse(sf_dir, "zorder_rewrite")
    o = load_table(spark, sf_dir, "orders")
    cat.create_or_replace("ns", "orders", o.filter(F.col("o_orderkey") % 3 == 0))
    cat.append("ns", "orders", o.filter(F.col("o_orderkey") % 3 == 1))
    cat.append("ns", "orders", o.filter(F.col("o_orderkey") % 3 == 2))
    sid = cat.zorder_rewrite(
        spark, "ns", "orders", ["o_custkey", "o_totalprice"], n_buckets=16
    )
    bounds = o.agg(
        F.max("o_custkey").alias("ck"), F.max("o_totalprice").alias("tp")
    ).collect()[0]
    pred_ck = f"o_custkey <= {int(bounds['ck']) // 4}"
    pred_tp = f"o_totalprice <= {float(bounds['tp']) / 4}"
    manifest = cat._manifest("ns", "orders", sid)
    n_dirs = len(manifest["files"])
    _c1, skip_ck = cat._prune_dirs(manifest, pred_ck)
    _c2, skip_tp = cat._prune_dirs(manifest, pred_tp)
    return cat.read(spark, "ns", "orders", where=pred_ck).select(
        "*",
        F.lit(1 if len(skip_ck) >= n_dirs // 4 else 0).alias("prune_custkey"),
        F.lit(1 if len(skip_tp) >= n_dirs // 4 else 0).alias("prune_price"),
    )


_SCD2_ORACLE = """
WITH base AS (
    SELECT o_orderkey, o_totalprice AS price, o_orderdate AS valid_from
    FROM orders WHERE o_orderkey % 3 <> 0
), delta AS (
    SELECT o_orderkey, o_totalprice * 1.1 AS price,
           o_orderdate + INTERVAL 30 DAY AS eff
    FROM orders WHERE o_orderkey % 2 = 0
)
SELECT b.o_orderkey, b.price, b.valid_from,
       d.eff AS valid_to, FALSE AS is_current
FROM base b JOIN delta d USING (o_orderkey)
UNION ALL
SELECT b.o_orderkey, b.price, b.valid_from,
       CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
FROM base b WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM delta)
UNION ALL
SELECT d.o_orderkey, d.price, d.eff AS valid_from,
       CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
FROM delta d
"""


@register("snap_scd2_apply", oracle=_SCD2_ORACLE,
          tags=("parity", "snapshot", "mutation"))
def snap_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 maintenance through the snapshot
    layer: a change batch CLOSES each key's open version (valid_to =
    effective ts, is_current = false) and INSERTS the new version — full
    history preserved, one open row per key. The whole apply is ONE
    upsert on the composite key (business key, valid_from): closed rows
    are updates to the existing open versions (same valid_from), new
    versions are inserts — so the snapshot layer's file-pruned
    copy-on-write, conflict detection, and time travel all apply
    unchanged, and the rewrite cost tracks the touched key range.
    Unmatched delta keys become first versions (no close row), matching
    the oracle's three-way union."""
    cat = _warehouse(sf_dir, "scd2")
    o = load_table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.col("o_orderdate").alias("valid_from"),
        F.lit(None).cast("timestamp_ntz").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    cat.create_or_replace("ns", "dim", base)
    delta = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") * 1.1).alias("price"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("eff"),
    )
    cur = cat.read(spark, "ns", "dim").filter(F.col("is_current"))
    closed = cur.join(
        delta.select("o_orderkey", "eff"), "o_orderkey"
    ).select(
        "o_orderkey", "price", "valid_from",
        F.col("eff").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    new_versions = delta.select(
        "o_orderkey", "price",
        F.col("eff").alias("valid_from"),
        F.lit(None).cast("timestamp_ntz").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    cat.upsert(
        "ns", "dim", closed.unionByName(new_versions),
        keys=["o_orderkey", "valid_from"],
    )
    return cat.read(spark, "ns", "dim")


@register(
    "snap_files_meta",
    oracle="""
    SELECT CAST(o_orderkey % 3 AS INT) AS commit_seq,
           count(*) AS n_rows,
           min(o_orderkey) AS min_key,
           max(o_orderkey) AS max_key,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price
    FROM orders
    GROUP BY 1
    """,
    tags=("snapshot", "meta"),
)
def snap_files_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA-ONLY analytics — the Iceberg ``t.files`` metadata-table
    pattern (reference exposes read-only table metadata the same way,
    ``ex-iceberg/src/component.py:148-157``): three appends land orders
    split by ``o_orderkey % 3``, then per-commit row counts and column
    min/max are answered from the MANIFEST ALONE (``SnapCatalog.files``
    — no data scan, no Spark job) and must equal what a full scan would
    compute. That equality is the whole value of manifest stats: at
    100 TB this query costs one JSON read while the oracle reads every
    row; it is also exactly the trust contract stats-based pruning
    (``snap_stats_pruned_scan``) stands on. Parquet footer min/max are
    exact for int64/double columns, so the oracle is exact, not a bound.
    Manifest position doubles as commit sequence because the three
    appends arrive in ``%3`` order."""
    cat = _warehouse(sf_dir, "files_meta")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    for i in range(3):
        cat.append("meta", "orders", o.filter(F.col("o_orderkey") % 3 == i))
    meta = cat.files(
        spark, "meta", "orders", stat_cols=("o_orderkey", "o_totalprice")
    )
    return meta.select(
        F.col("ordinal").alias("commit_seq"),
        "n_rows",
        F.col("min_o_orderkey").alias("min_key"),
        F.col("max_o_orderkey").alias("max_key"),
        F.col("min_o_totalprice").alias("min_price"),
        F.col("max_o_totalprice").alias("max_price"),
    )


@register(
    "snap_timetravel_asof",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 <> 0
    """,
    tags=("snapshot", "timetravel"),
)
def snap_timetravel_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP-based time travel — Iceberg ``FOR TIMESTAMP AS OF`` /
    the connector's ``as-of-timestamp`` read option (snapshot-id travel
    is ``snap_append_timetravel``; the reference reads pinned snapshots
    through the same pyiceberg surface,
    ``ex-iceberg/src/component.py:148-157``). Two appends; the read
    resolves the FIRST commit's wall-clock timestamp to the latest
    snapshot at-or-before it, so the second commit's rows must be
    invisible. The clock is nudged past commit 1's millisecond before
    commit 2 lands: with equal timestamps "as of t1" correctly resolves
    to the LATER snapshot (candidates are history-ordered), which is
    Iceberg's contract too — timestamp travel is only as granular as
    distinct commit timestamps."""
    import time as _time

    cat = _warehouse(sf_dir, "tt_asof")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    cat.append("ns", "t", o.filter(F.col("o_orderkey") % 3 != 0))
    (_sid, ts1, _op), = cat.snapshot_rows("ns", "t")[0]
    while int(_time.time() * 1000) <= ts1:
        _time.sleep(0.002)
    cat.append("ns", "t", o.filter(F.col("o_orderkey") % 3 == 0))
    return cat.read(spark, "ns", "t", as_of_ms=ts1)


@register(
    "snap_upsert_evolve",
    oracle="""
    WITH delta AS (
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
               CASE WHEN c_acctbal > 5000 THEN 'gold' ELSE 'std' END AS tier
        FROM customer WHERE c_custkey % 2 = 0
    ), base AS (
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 3 <> 0
    )
    SELECT b.c_custkey, b.c_name, b.c_nationkey, b.c_acctbal,
           b.c_mktsegment, CAST(NULL AS VARCHAR) AS tier
    FROM base b
    WHERE b.c_custkey NOT IN (SELECT c_custkey FROM delta)
    UNION ALL
    SELECT * FROM delta
    """,
    tags=("snapshot", "mutation"),
)
def snap_upsert_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-EVOLVING upsert — the Iceberg ``MERGE … WITH SCHEMA
    EVOLUTION`` shape: the delta arrives with a new ``tier`` column, the
    merge admits it additively (the r7 schema gate still refuses drops
    and retypes), matched rows take the delta wholesale, unmatched base
    rows keep flowing and surface the new column as NULL. Old data files
    are NEVER rewritten for the evolution itself: carried (key-range-
    pruned) dirs keep their five-column schema on disk and the read path
    NULL-fills through the manifest schema — add-a-column stays a
    metadata-cost operation even mid-merge, which is the property that
    makes schema evolution viable on a 100 TB table. Evolution refusal
    modes (dropped column, retyped column, evolve unset) are unit-pinned
    in tests/test_snaptable.py."""
    cat = _warehouse(sf_dir, "upsert_evolve")
    c = load_table(spark, sf_dir, "customer")
    cat.create_or_replace("ns", "cust", c.filter(F.col("c_custkey") % 3 != 0))
    delta = c.filter(F.col("c_custkey") % 2 == 0).withColumn(
        "tier",
        F.when(F.col("c_acctbal") > 5000, F.lit("gold")).otherwise("std"),
    )
    cat.upsert("ns", "cust", delta, keys=["c_custkey"], evolve=True)
    return cat.read(spark, "ns", "cust")


@register(
    "snap_add_files",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    """,
    tags=("snapshot", "mutation"),
)
def snap_add_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only table import — the Iceberg ``add_files`` procedure
    analogue (pyiceberg 0.9.1, the reference's embedded library, exposes
    it; no reference call site). A pre-existing parquet directory is
    adopted into the table as ONE commit with zero bytes copied (files
    hard-linked in place, footer-only stats), then a normal append lands
    on top — the read over create + adopt + append must equal the oracle
    over the union of all three thirds. At 100 TB this is the onboarding
    path: bringing an existing lake directory under snapshot management
    costs a driver-side footer pass, not a cluster rewrite. The no-copy
    pin (file identity via hard-link inode) and the refusal modes
    (double adoption, path inside the table, schema mismatch,
    partitioned target) are unit-pinned in tests/test_snaptable.py."""
    import shutil as _shutil

    cat = _warehouse(sf_dir, "add_files")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    # external source staged OUTSIDE the warehouse (rebuilt with it so
    # the adopted bytes always match the current fixture)
    ext = os.path.join(os.path.dirname(cat.warehouse), "add_files_ext")
    if os.path.isdir(ext):
        _shutil.rmtree(ext)
    o.filter(F.col("o_orderkey") % 3 == 1).write.parquet(ext)
    cat.create_or_replace("ns", "orders", o.filter(F.col("o_orderkey") % 3 == 0))
    cat.add_files(spark, "ns", "orders", ext)
    cat.append("ns", "orders", o.filter(F.col("o_orderkey") % 3 == 2))
    return cat.read(spark, "ns", "orders")


@register(
    "snap_cherry_pick",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    """,
    tags=("parity", "snapshot"),
)
def snap_cherry_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg ``cherrypick_snapshot`` — rollback recovery: an append is
    rolled back, the table advances with other work, then the orphaned
    snapshot's delta is re-applied as a METADATA-ONLY commit (its data
    dirs re-referenced with their manifest stats — zero bytes read or
    written; at 100 TB recovering a rolled-back batch costs one
    manifest write, not a re-ingest). The final read must equal base ∪
    other-work ∪ recovered delta. Refusal modes (non-append source,
    already-present delta, schema drift, GC'd dirs) and the
    metadata-only/stat-carry contracts are unit-pinned in
    tests/test_snaptable.py."""
    cat = _warehouse(sf_dir, "cherry")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cat.create_or_replace("ns", "orders", o.filter(F.col("o_orderkey") % 3 == 1))
    staged_sid = cat.append(
        "ns", "orders", o.filter(F.col("o_orderkey") % 3 == 0)
    )                                                               # sid 2
    cat.rollback_to("ns", "orders", 1)                              # sid 3
    cat.append("ns", "orders", o.filter(F.col("o_orderkey") % 3 == 2))
    cat.cherry_pick("ns", "orders", staged_sid)                     # sid 5
    return cat.read(spark, "ns", "orders")
