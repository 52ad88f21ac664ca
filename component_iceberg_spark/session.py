"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (one JVM); the same configuration keys
are what a 1000-executor deployment would tune — shuffle partition count,
AQE (runtime re-planning, partition coalescing, skew-join splitting), and
broadcast threshold. Nothing here is local-mode specific except the master.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")


def get_spark(
    app_name: str = "component_iceberg_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE on: runtime coalescing of small shuffle partitions and skew-join
      splitting — at 100 TB the static partition count is always wrong for
      some stage, AQE fixes it from runtime statistics.
    - ``spark.sql.session.timeZone=UTC``: timestamps behave like the
      reference's UTC-naive DuckDB staging engine.
    - Arrow enabled: every pandas interchange (Pandas UDFs, toPandas)
      batches through Arrow instead of pickled rows.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # catalog-managed (incl. bucketed) tables land in scratch, not cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_SQL_WAREHOUSE", "/tmp/cis_scratch/sql_warehouse"),
        )
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Floor on scan split count: small single-file inputs still split
        # (bounded by row groups) so every core scans; huge inputs are
        # governed by maxPartitionBytes as usual.
        .config("spark.sql.files.minPartitionNum", str(DEFAULT_SHUFFLE_PARTITIONS))
        # Parquet TIMESTAMP(NANOS) (e.g. the events fixture) is not a legal
        # Spark timestamp; read it as nanos-since-epoch LongType and let the
        # loader down-convert to micros (matches DuckDB's ns→µs truncation).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Write timestamps as INT64 micros, not the deprecated INT96:
        # INT96 columns carry NO footer min/max statistics, so every
        # engine-written timestamp column was invisible to stats pruning
        # and to the auto-dispatch footer bounds (r15 finding). Micros is
        # what Iceberg/Delta write; Spark reads both transparently.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    # Opt-in Iceberg connector: point SPARK_GRAFT_ICEBERG_JAR at the
    # iceberg-spark-runtime jar and the session starts connector-ready
    # (spark.jars + SQL extensions are session-start-only confs, so they
    # must land here, not in io.iceberg's runtime conf mapping).
    iceberg_jar = os.environ.get("SPARK_GRAFT_ICEBERG_JAR")
    if iceberg_jar:
        builder = builder.config("spark.jars", iceberg_jar).config(
            "spark.sql.extensions",
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def run_concurrently(*thunks):
    """Run independent Spark ACTIONS from a small driver thread pool and
    return their results in argument order (guide §2.6 "overlap
    independent jobs": actions are only sequential because driver code
    calls them sequentially; concurrent jobs back-fill executor slots
    freed by each other's stragglers). Use ONLY for actions with no
    mutual data or commit dependency — e.g. commits to *different*
    catalog tables, or a multi-lane query's independent lane builds.
    Shared persisted inputs are safe: Spark's block manager serializes
    per-partition cache materialization, so concurrent consumers of one
    cached plan don't duplicate work. The first raised exception
    propagates after all submitted actions have settled (matching the
    serial failure contract: already-committed sibling work stays, as it
    would had the failure happened between serial statements).

    CONF-SCOPE HAZARD (r15 review): runtime SQL confs are SESSION-global
    — a thunk that enters :func:`scoped_conf` (directly or via
    ``state_scope`` / ``SnapCatalog.partitions`` / ``bloom_filter_joins``)
    would mutate planning confs visible to sibling thunks mid-plan, and
    the exit-restore would race. ``scoped_conf`` therefore REFUSES to
    run on a ``run_concurrently`` worker thread; set any scoped conf
    around the ``run_concurrently`` call instead, where one scope
    legitimately covers all lanes."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    if len(thunks) == 1:
        return [thunks[0]()]

    def _tagged(t):
        def run():
            threading.current_thread()._cis_conc_lane = True
            return t()

        return run

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(_tagged(t)) for t in thunks]
        return [f.result() for f in futures]


def local_relation(spark, rows, schema, rows_per_slice: int = 8192):
    """Metadata-sized driver-local DataFrame with FEW slices.

    A bare ``createDataFrame(rows, schema)`` parallelizes the list into
    ``defaultParallelism`` slices, and every materialization then runs
    one Python-worker round-trip PER SLICE — for the metadata-table
    builders and driver-computed label sets this codebase makes, that
    was a 32-near-empty-task stage per call (r15 profile: ~60-90 ms of
    pure worker round-trip each, zero bytes, zero CPU). ~8k rows per
    slice keeps any legal metadata relation a handful of tasks; callers
    must pass an explicit ``schema`` (inference over an RDD would run a
    sampling job)."""
    rows = rows if isinstance(rows, list) else list(rows)
    rdd = spark.sparkContext.parallelize(
        rows, max(1, len(rows) // rows_per_slice + 1)
    )
    return spark.createDataFrame(rdd, schema)


def source_bytes(df: DataFrame) -> int | None:
    """Bytes of stored data under a plan, or None for generated or
    in-memory data.

    Sums the size Spark records for each leaf of the ANALYZED plan: a
    file relation's on-disk bytes, or a ``LogicalRDD``'s origin size (a
    ``foreachBatch`` micro-batch or a checkpoint carries the stats of
    the plan it came from). The analyzed plan is read because it still
    holds the leaves a cache hides: ``inputFiles()`` of a persisted
    DataFrame is empty, so a byte rule built on it went blind the moment
    a caller persisted its input. Any other leaf (``range``, local rows)
    gives None; an RDD of in-memory rows reports Spark's unknown size
    (``Long.MaxValue``), which every byte threshold then declines."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        total = 0
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() not in (
                "LogicalRelation", "LogicalRDD"
            ):
                return None
            total += int(leaf.stats().sizeInBytes())
    except Exception:
        return None
    return total


def kernel_width(
    df: DataFrame, per_task_bytes: int = 8 << 20, floor: int = 2
) -> int | None:
    """Task width for a SMALL stored input, or None.

    Every Python-kernel task (``mapInPandas`` / ``applyInPandas``) pays
    a fixed JVM→Python worker round-trip (~20-50 ms) — even an EMPTY
    post-shuffle partition spins a worker — and both the session's scan
    floor (``files.minPartitionNum``) and AQE's parallelism-first
    coalescing keep tiny inputs at full cluster width, a policy tuned
    for CPU-heavy JVM stages (r15 profile: sim_knn_graph_clusters' wall
    was 32 near-empty Python tasks). The same floor hits JVM stages fed
    by an explicit ``repartition(n)``, which AQE never coalesces (the
    MinHash shingle spread, :func:`operators.dedup.doc_shingles`). When
    the plan's stored bytes (:func:`source_bytes`) total LESS than one
    ``per_task_bytes`` slice per core, return ~one task per slice
    (floored; the cap is the core count); otherwise None, so at real
    scale (or for generated / in-memory plans) callers keep the
    cluster-width policy. The snapshot catalog sizes its table-derived
    rewrites and its MERGE bounds job by the same gate.

    ``floor`` is the kernel-shape knob: per-ROW kernels do O(bytes)
    work, so bytes size them and the floor is a straggler spare (2);
    per-BUCKET kernels do O(n_b²) work the byte count cannot see —
    exactly the fan-out blindness that breaks AQE on expansion joins —
    so group callers pass a higher CPU floor (measured: the hyperplane
    band verify at width 2 serialized its gram blocks, 0.95 → 1.6 s)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    total = source_bytes(df)
    if not total or total >= per_task_bytes * par:
        return None
    return min(par, max(floor, total // per_task_bytes + 1))


def release_local_checkpoint(df, blocking: bool = False) -> None:
    """Free the block-store copy behind a ``localCheckpoint``-ed
    DataFrame. ``DataFrame.unpersist()`` is a no-op for checkpoints —
    they live as a raw RDD cache, not in the SQL cache manager — so an
    iterative algorithm that checkpoints per round (guide §5: unpersist
    when done) leaks one cached RDD per round for the life of the
    session unless it reaches through to the ``LogicalRDD``'s RDD
    handle, which is what this does. Safe no-op on plans that are not
    checkpoint-backed."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(blocking)
    except Exception:
        pass  # best-effort release; a leak is preferable to a query error


@contextmanager
def scoped_conf(spark: SparkSession, **confs: str):
    """Temporarily set runtime SQL confs, restoring prior values on exit
    (unset if the key had no value). Runtime confs are weighed at each
    action's planning time, so a scope like this is the ONLY safe way for
    a library call to tune planning without leaking into every later
    query on the shared session.

    Refuses to run on a :func:`run_concurrently` worker thread: runtime
    confs are session-global, so a conf scoped inside one concurrent
    lane would contaminate sibling lanes' planning and the restore
    would race (see run_concurrently's docstring for the safe shape)."""
    import threading

    if getattr(threading.current_thread(), "_cis_conc_lane", False):
        raise RuntimeError(
            "scoped_conf inside a run_concurrently lane: runtime SQL "
            "confs are session-global and would leak into sibling "
            "lanes' planning — set the scope around run_concurrently "
            "instead"
        )
    saved: dict[str, str | None] = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        yield spark
    finally:
        for k, old in saved.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


@contextmanager
def bloom_filter_joins(
    spark: SparkSession,
    creation_side_max: str = "64MB",
    application_side_min: str = "0",
):
    """Scoped enablement of Spark's RUNTIME BLOOM-FILTER join reduction —
    the row-level sibling of dynamic partition pruning (partition-level,
    ``snap_dpp_join``): a selective build side of a shuffle join gets a
    ``bloom_filter_agg`` subquery, and the probe side's scan gains a
    ``might_contain(...)`` condition that drops non-joining rows BEFORE
    the exchange. At 100 TB this is the difference between shuffling the
    whole fact table and shuffling only rows that can match. Spark's
    defaults (10 MB creation cap, 10 GB probe-scan floor) are tuned for
    real clusters and correctly refuse to fire at fixture scale; this
    scope lowers them for tests/demos and restores them on exit. Also
    disables broadcast joins inside the scope — a broadcast-hash join
    already filters probe rows at the hash table, so Spark only injects
    blooms into shuffle joins."""
    with scoped_conf(
        spark,
        **{
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": creation_side_max,
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": application_side_min,
        },
    ):
        yield spark
