"""Streaming queries, driven to completion over the bounded events fixture
with availableNow (same code path as a live stream; source swap = Kafka).

``stream_window_counts`` runs in complete mode so every window is present
→ exact oracle. ``stream_upsert_snaptable`` lands in a snapshot table read
back after completion → exact oracle. The stateful operators register
batch-boundary-INDEPENDENT projections of their state (final emission per
key, admitted set, finalized windows), so every streaming query here
carries an exact oracle; the per-batch emission patterns stay covered by
tests/test_streaming_batches.py. ``stream_late_data_drop`` additionally
pins append-mode watermark drop + checkpoint recovery (two triggered runs,
one checkpoint).
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from component_iceberg_spark.io.snaptable import SnapCatalog
from component_iceberg_spark.io.tables import table_path
from component_iceberg_spark.plans.queries_analytics import (
    _ACTIVE_TRAILING_ORACLE,
)
from component_iceberg_spark.plans.queries_scan import BINARYFILE_ORACLE
from component_iceberg_spark.plans.registry import register
from component_iceberg_spark.plans.scratch import (
    fresh_stage as _fresh_stage,
    mark_stage as _mark_stage,
)
from component_iceberg_spark.streaming import events as SE

SCRATCH_ROOT = os.environ.get("SPARK_GRAFT_SCRATCH", "/tmp/cis_scratch")


def _stage_single_file(base: str, src_dir: str, df: DataFrame, name: str) -> None:
    """Land ``df`` as exactly one parquet file ``<name>.parquet`` in a
    file-stream source directory (shared by the restart-based streaming
    drills: each staged file is one deliverable unit for
    ``maxFilesPerTrigger``/arrival simulation). Asserts the single-file
    invariant a zero-row or multi-part write would break."""
    import glob as _g

    tmp = os.path.join(base, f"_tmp_{name}")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    files = _g.glob(os.path.join(tmp, "part-*.parquet"))
    if len(files) != 1:
        raise ValueError(
            f"{name}: expected one part file, got {len(files)}"
        )
    shutil.move(files[0], os.path.join(src_dir, f"{name}.parquet"))
    shutil.rmtree(tmp)


def _payload_cache(
    sf_dir: str, key: str, fixture: str, builders: dict
) -> str:
    """Directory of cached single-file parquet payloads for a staged
    stream drill, built ONCE per (fixture, key) behind the fresh-stage
    marker. The restart drills (late-data drop, crash replay) must
    rebuild their SOURCE DIRECTORY per invocation — run 1 may only see a
    subset of the files — but the payload bytes themselves are a pure
    function of the fixture: caching them turns N coalesce-write Spark
    jobs per timed invocation into N file copies (r15: ~0.4 s per staged
    file inside every rep)."""
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    pay = os.path.join(SCRATCH_ROOT, tag, "payloads", key)
    if not _fresh_stage(pay, fixture):
        shutil.rmtree(pay, ignore_errors=True)
        os.makedirs(pay)
        for name, build in builders.items():
            _stage_single_file(pay, pay, build(), name)
        _mark_stage(pay, fixture)
    return pay


def _deliver(pay: str, src: str, name: str, seq: int) -> None:
    """Copy a cached payload into a stream source dir as delivery
    ``seq`` — explicit ascending mtimes pin the file source's processing
    order (the property the original sequential writes relied on)."""
    dst = os.path.join(src, f"{name}.parquet")
    shutil.copyfile(os.path.join(pay, f"{name}.parquet"), dst)
    t = 1_600_000_000 + seq
    os.utime(dst, (t, t))


def _src_dir(sf_dir: str, name: str = "events_stream_src") -> str:
    """Path of a staged stream-source dir (the ``state_src`` handle the
    stateful queries pass to the scale-adaptive state sizing — guide
    §2.2 applied to state stores; see streaming.events.state_scope)."""
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return os.path.join(SCRATCH_ROOT, tag, name)


def _stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Stage the single-file fixture into a directory: the file stream
    # source expects a directory basePath (stateful queries enforce it).
    d = _src_dir(sf_dir)
    src = table_path(sf_dir, "events")
    if not _fresh_stage(d, src):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d, exist_ok=True)
        shutil.copyfile(src, os.path.join(d, "events.parquet"))
        _mark_stage(d, src)
    return SE.read_events_stream(spark, d)


@register(
    "stream_window_counts",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 3) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("ext", "streaming"),
)
def stream_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed aggregation with watermark, complete mode:
    the streaming result must equal the batch GROUP BY date_trunc."""
    agg = SE.windowed_counts(_stream(spark, sf_dir))
    return SE.stream_to_memory(
        agg, spark, mode="complete", state_src=_src_dir(sf_dir)
    )


@register(
    "stream_topk_trending",
    oracle="""
    WITH w0 AS (
        SELECT date_trunc('hour', ts)
               + INTERVAL 30 MINUTE * CAST(floor(minute(ts) / 30) AS INTEGER)
               AS ws, event_type
        FROM events
    ), w AS (
        SELECT ws, event_type FROM w0
        UNION ALL
        SELECT ws - INTERVAL 30 MINUTE, event_type FROM w0
    ), c AS (
        SELECT ws AS window_start, event_type,
               CAST(count(*) AS BIGINT) AS n_events
        FROM w GROUP BY 1, 2
    )
    SELECT window_start, event_type, n_events, rank
    FROM (
        SELECT *, CAST(row_number() OVER (
                   PARTITION BY window_start
                   ORDER BY n_events DESC, event_type
               ) AS INTEGER) AS rank
        FROM c
    ) WHERE rank <= 3
    """,
    tags=("ext", "streaming"),
)
def stream_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending detection: SLIDING 1-hour windows every 30 minutes over
    the event stream (each event fans out to its 2 covering windows —
    the state shape is still one row per (window, type)), then the top-3
    event types per window ranked on the completed aggregate. The rank
    runs on the materialized complete-mode result — window-local, k
    bounded, exactly how a trending endpoint serves the state store. The
    oracle replays the window fan-out as a 2-way UNION of shifted
    30-minute truncations."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    agg = SE.sliding_window_counts(_stream(spark, sf_dir))
    done = SE.stream_to_memory(
        agg, spark, mode="complete", state_src=_src_dir(sf_dir)
    )
    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), "event_type"
    )
    return (
        done.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


@register(
    "stream_upsert_snaptable",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
    tags=("ext", "streaming", "snapshot"),
)
def stream_upsert_snaptable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest into the lake: foreachBatch upserts each micro-batch
    into a snapshot table (atomic commit per batch — the continuous version
    of the reference's batch pump). Final table = exactly the source events
    (key = event_id, idempotent under replay)."""
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    wh = os.path.join(SCRATCH_ROOT, tag, "warehouse", "stream_upsert")
    if os.path.isdir(wh):
        shutil.rmtree(wh)
    cat = SnapCatalog(wh)
    ev = _stream(spark, sf_dir).select("event_id", "user_id", "event_type", "value")
    SE.stream_upsert_into(ev, cat, "stream", "events", keys=["event_id"])
    return cat.read(spark, "stream", "events")


@register(
    "stream_stateful_totals",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           round(sum(value), 3) AS total_value
    FROM events
    GROUP BY user_id
    """,
    tags=("ext", "streaming"),
)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState: per-user running totals, one state tuple
    per user, one cumulative emission per (user, micro-batch). The
    registered result is each user's FINAL emission (highest running
    count), which must equal the batch GROUP BY — this is the invariant a
    lost/duplicated state row would break, and it is batch-boundary-
    independent, so it carries an exact oracle. The per-batch emission
    pattern (an execution detail) stays covered by
    tests/test_streaming_batches.py."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    totals = SE.running_user_totals(_stream(spark, sf_dir))
    emitted = SE.stream_to_memory(
        totals, spark, mode="append", state_src=_src_dir(sf_dir)
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        emitted.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# Far-future sentinel: one extra row staged with the fixture advances the
# end-of-stream watermark past every real session's end, so append mode
# emits the COMPLETE real session set (nothing left open in state) and the
# streaming result becomes batch-equivalent — gaps-and-islands expressible,
# hence an exact oracle. Everything lands in ONE parquet file → one
# micro-batch → the sentinel cannot out-run real rows and mark them late.
_SENTINEL_USER = -1


def _stream_with_flush_sentinel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from component_iceberg_spark.io.tables import load_table

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join(SCRATCH_ROOT, tag, "events_stream_flush")
    src = table_path(sf_dir, "events")
    if not _fresh_stage(d, src):
        ev = load_table(spark, sf_dir, "events")
        sentinel = (
            ev.select(F.max("ts").alias("mx"))
            .select(
                F.lit(-1).cast("long").alias("event_id"),
                F.lit(_SENTINEL_USER).cast("long").alias("user_id"),
                F.lit("flush").alias("event_type"),
                (F.col("mx") + F.expr("INTERVAL 2 DAYS")).alias("ts"),
                F.lit(0.0).alias("value"),
            )
        )
        # any extra fixture columns (e.g. props) null-fill on the sentinel
        staged = ev.unionByName(sentinel, allowMissingColumns=True)
        staged.coalesce(1).write.mode("overwrite").parquet(d)
        _mark_stage(d, src)  # AFTER the write (overwrite clears the dir)
    return SE.read_events_stream(spark, d)


@register(
    "stream_session_window",
    oracle="""
    WITH g AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts > lag(ts) OVER w + INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM g
    )
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL '30 minutes' AS session_end,
           user_id,
           count(*) AS n_events
    FROM s
    GROUP BY user_id, session_id
    """,
    tags=("ext", "streaming"),
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (30-min gap) per user via
    F.session_window + watermark, append mode. A far-future sentinel row
    (see _stream_with_flush_sentinel) closes every real session at end of
    stream, so the emitted set equals batch gaps-and-islands
    sessionization exactly — session_end is last-event + gap, Spark's
    session_window.end definition. The sentinel's own (still-open)
    session is excluded by user_id."""
    from pyspark.sql import functions as F

    ev = _stream_with_flush_sentinel(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
    out = SE.stream_to_memory(
        agg, spark, mode="append",
        state_src=_src_dir(sf_dir, "events_stream_flush"),
    )
    return out.filter(F.col("user_id") != _SENTINEL_USER)


@register(
    "stream_dedup_watermark",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
    tags=("ext", "streaming", "dedup"),
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup across micro-batches: the source directory stages
    the events file TWICE (every row arrives duplicated, possibly in
    different batches); dropDuplicatesWithinWatermark keeps one copy per
    event_id while the watermark bounds dedup state. Result must equal
    the distinct source."""
    from pyspark.sql import functions as F

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join(SCRATCH_ROOT, tag, "events_stream_dup")
    src = table_path(sf_dir, "events")
    if not _fresh_stage(d, src):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d, exist_ok=True)
        for copy in ("a", "b"):
            shutil.copyfile(src, os.path.join(d, f"events_{copy}.parquet"))
        _mark_stage(d, src)
    ev = SE.read_events_stream(spark, d)
    deduped = (
        ev.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "value")
    )
    return SE.stream_to_memory(deduped, spark, mode="append", state_src=d)


@register(
    "stream_static_enrich",
    oracle="""
    SELECT n.n_name AS nation, count(*) AS n_events,
           round(sum(e.value), 3) AS total_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1
    """,
    tags=("ext", "streaming", "join"),
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join — the dimension-enrichment shape every
    streaming deployment runs (events against a customer dim): the
    static side is a plain batch DataFrame, the join needs NO watermark
    or join state — the dim broadcasts into each batch — and only the
    post-join aggregate keeps state, one row per nation. The
    complete-mode result must equal the batch join+aggregate.

    Dim-refresh caveat (measured, pinned in
    tests/test_streaming_batches.py::test_static_dim_caching_semantics):
    a file-source static DataFrame caches its file listing at CREATION —
    replacing the dim files mid-stream does NOT refresh the join (the
    stale index fails on the deleted file, even across a
    checkpoint-recovered restart of the same DataFrame object). An
    updatable dim must be re-read per micro-batch inside foreachBatch
    (or served by a catalog whose read re-resolves, e.g.
    SnapCatalog.read) — that pattern picks up the update exactly at the
    next batch."""
    from pyspark.sql import functions as F

    from component_iceberg_spark.io.tables import load_table

    ev = _stream(spark, sf_dir)
    dim = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(
            load_table(spark, sf_dir, "nation").select(
                "n_nationkey", "n_name"
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("c_custkey").alias("user_id"), F.col("n_name"))
    )
    enriched = ev.join(F.broadcast(dim), "user_id")
    agg = enriched.groupBy(F.col("n_name").alias("nation")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 3).alias("total_value"),
    )
    return SE.stream_to_memory(
        agg, spark, mode="complete", state_src=_src_dir(sf_dir)
    )


@register(
    "stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, v.event_id AS view_id,
           p.user_id, p.ts AS purchase_ts, v.ts AS view_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id
     AND v.ts >= p.ts - INTERVAL '1 hour' AND v.ts <= p.ts
    """,
    tags=("ext", "streaming", "join"),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (purchases ⋈ views within the preceding
    hour, per user): watermarks on both sides bound the join state to the
    interval width; inner-join emission is complete, so the streaming
    result equals the batch interval join."""
    from pyspark.sql import functions as F

    ev = _stream(spark, sf_dir)
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "10 minutes")
    )
    joined = p.join(
        v,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("view_ts") <= F.col("purchase_ts")),
    ).select("purchase_id", "view_id", "user_id", "purchase_ts", "view_ts")
    # state_floor=2 (r16): a stream-stream join runs 4 state stores per
    # partition PER SIDE (8 instances/partition/batch), so its fixed
    # per-batch commit cost is ~8× an aggregation's at equal width — the
    # floor that equalizes the commit budget with the aggregation
    # shape's floor-8 is 2, and the r16 progress profile showed the
    # commit (~600 ms/batch at floor 4, near-constant even on 4-row
    # sentinel batches) dominating addBatch. floor 1 over-serializes
    # the real batch-0 join (measured worse); see state_scope.
    return SE.stream_to_memory(
        joined, spark, mode="append", state_src=_src_dir(sf_dir), state_floor=2
    )


def _ss_outer_sources(spark: SparkSession, sf_dir: str, name: str):
    """Shared staging for the OUTER stream-stream joins: the real events
    as one delivery plus two far-future sentinel deliveries (one
    purchase + one view each, negative user ids) under
    ``maxFilesPerTrigger=1``, so the watermark — the MIN of both sides'
    — ratchets past every real timestamp and all pending NULL-padded
    rows flush before the bounded run ends. Returns the watermarked
    (purchases, views) sides. Sentinel rows must be dropped from the
    MATERIALIZED result, never pre-sink (filter pushdown would starve
    the watermark — see stream_stream_outer_join)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from component_iceberg_spark.io.tables import load_table

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(SCRATCH_ROOT, tag, name)
    src = os.path.join(base, "src")
    fixture = table_path(sf_dir, "events")
    # the staged deliveries are a pure function of the fixture, and the
    # stream reads them read-only (checkpoints are per-run temp dirs) —
    # skip the rmtree + events rewrite + max(ts) job when the marker says
    # the stage is current (same contract as stream_incremental_dedup's
    # staging; r15: this was ~2 s of re-staging per timed invocation)
    if not _fresh_stage(src, fixture):
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(src)
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", F.col("ts").cast("timestamp").alias("ts"),
            "user_id", "event_type",
        )
        _stage_single_file(base, src, ev, "00-events")
        hi = ev.agg(F.max("ts")).collect()[0][0]
        for i, days in enumerate((10, 20)):
            sent = spark.createDataFrame(
                [
                    (-(2 * i + 1), hi + dt.timedelta(days=days), -1, "purchase"),
                    (-(2 * i + 2), hi + dt.timedelta(days=days), -2, "view"),
                ],
                schema="event_id long, ts timestamp, user_id long, "
                       "event_type string",
            )
            _stage_single_file(base, src, sent, f"0{i + 1}-flush")
        # deterministic delivery order: the file source orders by mtime
        for i, fn in enumerate(sorted(os.listdir(src))):
            t = 1_600_000_000 + i
            os.utime(os.path.join(src, fn), (t, t))
        _mark_stage(src, fixture)
    schema = spark.read.parquet(src).schema
    st = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    p = (
        st.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    v = (
        st.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "10 minutes")
    )
    return p, v


@register(
    "stream_stream_outer_join",
    oracle="""
    SELECT p.event_id AS purchase_id, v.event_id AS view_id,
           p.user_id, p.ts AS purchase_ts, v.ts AS view_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id
     AND v.ts >= p.ts - INTERVAL '1 hour' AND v.ts <= p.ts
    """,
    tags=("ext", "streaming", "join"),
)
def stream_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream interval join — the state-store shape
    Spark is famously subtle on: an unmatched purchase may only emit its
    NULL-padded row once the watermark PROVES no matching view can still
    arrive, which happens during a LATER micro-batch's state cleanup,
    never in the row's own batch (a bounded single-batch run would
    silently drop every outer row — the classic missing-NULLs bug).
    The run therefore stages the real events as one delivery followed by
    two far-future sentinel deliveries (one purchase + one view each, so
    BOTH sides' watermarks ratchet — the global watermark is their min)
    under ``maxFilesPerTrigger=1``: batch 2's watermark flushes most of
    the unmatched backlog, batch 3's flushes the tail inside the final
    watermark band. Sentinels carry negative user ids and are dropped
    from the MATERIALIZED result, never inside the stream — a pre-sink
    filter on a left-side column gets pushed below the outer join into
    the purchase scan, starving the purchase-side watermark and
    silently losing the final band's NULL rows (found by measurement;
    see the inline note). EXACT against the batch LEFT JOIN — pinning
    inner matches, NULL emission completeness, and the
    no-premature-NULL rule in one oracle. State stays watermark-band
    bounded (tests/test_state_volume.py)."""
    from pyspark.sql import functions as F

    p, v = _ss_outer_sources(spark, sf_dir, "ss_outer_join")
    joined = p.join(
        v,
        (F.col("user_id") == F.col("v_user_id"))
        & (
            F.col("view_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")
        )
        & (F.col("view_ts") <= F.col("purchase_ts")),
        "left_outer",
    ).select("purchase_id", "view_id", "user_id", "purchase_ts", "view_ts")
    out = SE.stream_to_memory(
        joined, spark, mode="append",
        state_src=os.path.join(_src_dir(sf_dir, "ss_outer_join"), "src"),
        state_floor=2,  # join shape: 8 stores/partition/batch — floor
        # that matches the aggregation shape's commit budget (r16)
    )
    # the sentinel filter must run on the MATERIALIZED batch result, not
    # inside the stream: a left-column filter before the sink gets
    # pushed by Catalyst below the left-outer join into the purchase
    # scan, which silently removes the sentinel purchases at the SOURCE
    # — the purchase-side watermark then never passes the real data and
    # the last watermark-band of unmatched purchases never emits its
    # NULL rows (measured: exactly the final-10-minute purchases went
    # missing). Filtering after the sink keeps the stream seeing the
    # sentinels while the result never does.
    return out.filter(F.col("user_id") >= 0)


@register(
    "stream_stream_full_outer_join",
    oracle="""
    SELECT p.event_id AS purchase_id, v.event_id AS view_id,
           p.user_id AS p_user, v.user_id AS v_user,
           p.ts AS purchase_ts, v.ts AS view_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    FULL JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id
     AND v.ts >= p.ts - INTERVAL '1 hour' AND v.ts <= p.ts
    """,
    tags=("ext", "streaming", "join"),
)
def stream_stream_full_outer_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FULL-OUTER stream-stream interval join — both sides' unmatched
    rows emit NULL-padded on watermark timeout, the most state-subtle
    join Spark's stream engine supports: a purchase holds until the
    view-side watermark passes its own timestamp, a view holds until the
    purchase-side watermark passes ``view_ts + 1h`` (the latest purchase
    it could still match), and each eviction must emit exactly one NULL
    row iff the row never matched. Same sentinel-flush staging as the
    left-outer twin (``_ss_outer_sources``), sentinels dropped from the
    materialized result (both sides' user columns are needed — an
    unmatched view has a NULL left user). EXACT against the batch FULL
    JOIN: one oracle pins inner matches plus BOTH NULL-emission
    directions, complete and never premature."""
    from pyspark.sql import functions as F

    p, v = _ss_outer_sources(spark, sf_dir, "ss_full_outer_join")
    joined = p.join(
        v,
        (F.col("user_id") == F.col("v_user_id"))
        & (
            F.col("view_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")
        )
        & (F.col("view_ts") <= F.col("purchase_ts")),
        "full_outer",
    ).select(
        "purchase_id", "view_id",
        F.col("user_id").alias("p_user"),
        F.col("v_user_id").alias("v_user"),
        "purchase_ts", "view_ts",
    )
    out = SE.stream_to_memory(
        joined, spark, mode="append",
        state_src=os.path.join(_src_dir(sf_dir, "ss_full_outer_join"), "src"),
        state_floor=2,  # join shape: 8 stores/partition/batch — floor
        # that matches the aggregation shape's commit budget (r16)
    )
    # sentinel drop on the MATERIALIZED result (see the left-outer twin:
    # a pre-sink filter pushes below the join and starves a watermark);
    # NULL-safe because an unmatched real row is NULL on one side
    return out.filter(
        (F.coalesce(F.col("p_user"), F.lit(0)) >= 0)
        & (F.coalesce(F.col("v_user"), F.lit(0)) >= 0)
    )


def _incr_dedup_oracle() -> str:
    """Batch twin of the streaming drop rule: reuse the verified MinHash
    pair CTE (same hash family, bands, 0.8 threshold) and anti-join on
    the (batch, doc_id) order — a doc is admitted iff no verified
    near-dup precedes it in stream order (batch = doc_id % 3, the staged
    file carve)."""
    from component_iceberg_spark.plans.queries_text import _minhash_cte_body

    return f"""
WITH {_minhash_cte_body()}
SELECT d.doc_id, CAST(d.doc_id % 3 AS BIGINT) AS batch_no
FROM documents d
WHERE NOT EXISTS (
    SELECT 1 FROM pairs p
    WHERE (p.doc_b = d.doc_id
           AND (p.doc_a % 3 < d.doc_id % 3
                OR (p.doc_a % 3 = d.doc_id % 3 AND p.doc_a < d.doc_id)))
       OR (p.doc_a = d.doc_id AND p.doc_b % 3 < d.doc_id % 3)
)
"""


@register(
    "stream_incremental_dedup",
    oracle=_incr_dedup_oracle(),
    tags=("ext", "streaming", "dedup"),
)
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous near-dup screening (streaming.events.
    stream_incremental_dedup): documents arrive as three ordered
    micro-batches (staged files, doc_id % 3, maxFilesPerTrigger=1); each
    batch is MinHash-verified against its own lower-id rows and every
    previously seen doc, and each epoch lands ONE atomic commit: the
    wide seen store (doc rows + signature profile + admitted verdict).
    The oracle replays the identical drop rule in SQL
    (verified pair CTE + stream-order anti-join) — EXACT, covering the
    LSH, the verification, and the ordering semantics end-to-end."""
    from pyspark.sql import functions as F

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    src = table_path(sf_dir, "documents")
    stage = os.path.join(SCRATCH_ROOT, tag, "docs_stream_src")
    if not _fresh_stage(stage, src):
        shutil.rmtree(stage, ignore_errors=True)
        os.makedirs(stage, exist_ok=True)
        base = spark.read.parquet(src)
        for b in range(3):
            part_dir = os.path.join(stage, f"_tmp_{b}")
            base.filter(F.col("doc_id") % 3 == b).coalesce(1).write.mode(
                "overwrite"
            ).parquet(part_dir)
            import glob as _g

            files = _g.glob(os.path.join(part_dir, "part-*.parquet"))
            if len(files) != 1:
                raise ValueError(
                    f"batch {b}: expected one part file, got {len(files)}"
                )
            dst = os.path.join(stage, f"batch-{b:02d}.parquet")
            shutil.move(files[0], dst)
            shutil.rmtree(part_dir)
            # ascending mtimes pin the file-source processing order
            t = 1_600_000_000 + b
            os.utime(dst, (t, t))
        _mark_stage(stage, src)
    wh = os.path.join(SCRATCH_ROOT, tag, "warehouse", "stream_incr_dedup")
    if os.path.isdir(wh):
        shutil.rmtree(wh)
    cat = SnapCatalog(wh)
    schema = spark.read.parquet(stage).schema
    docs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    # no conf scope: each epoch sizes itself from its micro-batch (the
    # shingle spread's width comes from the batch's bytes, the batch-
    # sized relations are built once and broadcast), so the session's
    # shuffle width and AQE stand as they are — see
    # streaming.events.screen_batch_incremental
    SE.stream_incremental_dedup(docs, cat)
    # the admitted relation is a verdict-column filter over the single
    # wide seen store (r16: one commit per epoch instead of two) —
    # column pruning reads only doc_id + the flag here
    return SE.admitted_docs(cat, spark).select(
        "doc_id", (F.col("doc_id") % 3).cast("bigint").alias("batch_no")
    )


@register(
    "stream_anomaly_alerts",
    oracle="""
    WITH w AS (
        SELECT event_type, event_id, ts, value,
               count(value) OVER pre AS n_prev,
               avg(value) OVER pre AS mu,
               stddev_samp(value) OVER pre AS sd
        FROM events
        WINDOW pre AS (PARTITION BY event_type ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, event_id, ts, value, n_prev,
           round((value - mu) / sd, 3) AS z
    FROM w
    WHERE n_prev >= 30 AND sd > 0 AND abs((value - mu) / sd) > 3
    """,
    tags=("ext", "streaming"),
)
def stream_anomaly_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anomaly alerts: every event scored against the running
    (Welford) moments of all PRIOR events of its type — |z| > 3 after a
    30-event warm-up emits an alert row. One three-double state tuple
    per key (streaming/events.running_zscore_alerts); rows process in
    (ts, event_id) order so the alert set is batch-boundary-independent
    for event-time-ordered streams (pinned by the multi-batch test).
    The oracle replays the identical strictly-preceding-frame z-scores
    as a batch window; the fixture's minimum |z − 3| margin (≥ 2.4e-3
    at the gate SF) is orders of magnitude above cross-engine float
    drift, so the inequality can never flip between engines."""
    alerts = SE.running_zscore_alerts(_stream(spark, sf_dir))
    return SE.stream_to_memory(
        alerts, spark, mode="append", state_src=_src_dir(sf_dir)
    )


@register(
    "stream_late_data_drop",
    oracle="""
    WITH a AS (SELECT ts FROM events WHERE event_id % 4 <> 0),
    b AS (SELECT ts FROM events WHERE event_id % 4 = 0),
    wm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm1 FROM a),
    wm2t AS (
        SELECT greatest((SELECT max(ts) FROM a), (SELECT max(ts) FROM b))
               - INTERVAL 10 MINUTE AS wm2
    ),
    surv AS (
        SELECT ts FROM a
        UNION ALL
        SELECT b.ts FROM b, wm
        WHERE date_trunc('hour', b.ts) + INTERVAL 1 HOUR > wm.wm1
    )
    SELECT date_trunc('hour', ts) AS window_start,
           CAST(count(*) AS BIGINT) AS n
    FROM surv, wm2t
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm2t.wm2
    GROUP BY 1
    """,
    tags=("ext", "streaming"),
)
def stream_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK DROP SEMANTICS end-to-end — the append-mode contract
    the other streaming queries don't exercise: events arrive in two
    separately-triggered runs sharing one CHECKPOINT (a restart, not
    just two micro-batches — the watermark itself round-trips through
    checkpoint state). Run 1 sees 3/4 of the events; run 2 delivers the
    remaining 1/4, of which every row whose 1-hour window already closed
    under run 1's persisted watermark (max(ts₁) − 10 min) is DROPPED,
    not aggregated. The final sink therefore holds: windows closed under
    the final watermark, counting on-time rows plus only the late rows
    whose window was still open when they arrived. The oracle computes
    both watermarks and replays the drop rule in SQL — an exact check of
    drop, flush, AND checkpoint-recovery behavior (semantics pinned
    against Spark empirically: windows finalize when end <= watermark,
    late rows into finalized windows vanish, open windows never emit)."""
    from pyspark.sql import functions as F

    from component_iceberg_spark.io.tables import load_table

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(SCRATCH_ROOT, tag, "late_drop")
    # fresh every invocation: the checkpoint must replay from scratch
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "src")
    out = os.path.join(base, "out")
    ck = os.path.join(base, "ck")
    os.makedirs(src, exist_ok=True)
    # watermarks require TIMESTAMP (ntz is rejected as event time)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("timestamp").alias("ts")
    )
    pay = _payload_cache(
        sf_dir, "late_drop", table_path(sf_dir, "events"),
        {
            "00-ontime": lambda: ev.filter(F.col("event_id") % 4 != 0),
            "01-late": lambda: ev.filter(F.col("event_id") % 4 == 0),
        },
    )

    def run() -> None:
        schema = spark.read.parquet(src).schema
        st = spark.readStream.schema(schema).parquet(src)
        agg = (
            st.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.col("w.start").cast("timestamp_ntz").alias("window_start"),
                "n",
            )
        )
        # state_scope: the scale-adaptive state-partition count is read
        # at stream start; the checkpoint then pins it, so the restarted
        # run 2 reuses run 1's count regardless of staged bytes.
        with SE.state_scope(spark, src):
            q = (
                agg.writeStream.outputMode("append")
                .format("parquet")
                .option("path", out)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    _deliver(pay, src, "00-ontime", 0)
    run()
    _deliver(pay, src, "01-late", 1)
    run()
    return spark.read.parquet(out)


@register(
    "stream_replay_idempotent",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
    tags=("ext", "streaming", "snapshot"),
)
def stream_replay_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY-ONCE UNDER CRASH-REPLAY — the failure drill behind
    ``stream_upsert_snaptable``'s "idempotent under replay" claim
    (reference's batch pump re-runs safely the same way,
    ``wr-iceberg/src/component.py:101-110``). Run 1 ingests epochs 0-2,
    one micro-batch per staged file (``maxFilesPerTrigger=1``), each
    batch an atomic keyed upsert commit into the snapshot table, all
    under one CHECKPOINT. Then the at-least-once window every
    foreachBatch sink has: a crash AFTER the sink commit but BEFORE the
    checkpoint offset advances re-delivers the last batch — simulated by
    re-committing epoch 2's exact payload. Because the sink is an upsert
    keyed on ``event_id`` (not an append), the double delivery is a
    no-op, not duplicated rows. Run 2 restarts on the SAME checkpoint
    with a late epoch-3 file staged: recovery must ingest ONLY the new
    file (the checkpoint remembers processed files). Final table ==
    every event exactly once — an exact oracle despite a double-delivered
    batch and a restart. This is the standard Spark recipe for
    exactly-once sinks: idempotent (or transactional) batch writes +
    checkpointed offsets; per-epoch commit granularity also gives each
    micro-batch a snapshot id, so a poisoned batch can be time-traveled
    away."""
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(SCRATCH_ROOT, tag, "replay_idem")
    # fresh every invocation: checkpoint + warehouse must replay from scratch
    shutil.rmtree(base, ignore_errors=True)
    src = os.path.join(base, "src")
    ck = os.path.join(base, "ck")
    os.makedirs(src, exist_ok=True)

    from component_iceberg_spark.io.tables import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )

    pay = _payload_cache(
        sf_dir, "replay_idem", table_path(sf_dir, "events"),
        {
            f"0{i}-epoch": (lambda i=i: ev.filter(F.col("event_id") % 4 == i))
            for i in range(3)
        }
        | {"03-late": lambda: ev.filter(F.col("event_id") % 4 == 3)},
    )
    for i in range(3):
        _deliver(pay, src, f"0{i}-epoch", i)

    cat = SnapCatalog(os.path.join(base, "wh"))

    def commit(batch: DataFrame, epoch_id: int) -> None:
        if not batch.isEmpty():
            cat.upsert("stream", "events", batch, keys=["event_id"])

    def run() -> None:
        schema = spark.read.parquet(src).schema
        st = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            st.writeStream.outputMode("update")
            .foreachBatch(commit)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    # the crash-replay double delivery: same payload, committed again
    commit(ev.filter(F.col("event_id") % 4 == 2), epoch_id=2)
    _deliver(pay, src, "03-late", 3)
    run()
    return cat.read(spark, "stream", "events")


def _state_eviction_run(spark: SparkSession, sf_dir: str):
    """Shared by the registered query and the metrics test: run the
    hourly windowed count as FOUR time-ordered micro-batches
    (maxFilesPerTrigger=1 over files staged by contiguous ts quarters),
    so the watermark ratchets between batches and closed windows are
    EVICTED from the state store mid-run — the bounded-memory contract
    that lets this aggregation run forever at 100 TB/day. Returns
    (finalized-windows DataFrame, per-batch progress list)."""
    import json

    from pyspark.sql import functions as F

    from component_iceberg_spark.io.tables import load_table

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(SCRATCH_ROOT, tag, "state_evict")
    src = os.path.join(base, "src")
    out = os.path.join(base, "out")
    ck = os.path.join(base, "ck")
    # out + checkpoint must be fresh per run; the four staged quarter
    # files are a pure fixture function and all four are delivered in
    # one run, so the source dir is reusable behind the freshness marker
    # (r15: the lo/hi job + four coalesce writes were ~2 s per rep)
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ck, ignore_errors=True)
    fixture = table_path(sf_dir, "events")
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("timestamp").alias("ts")
    )
    if not _fresh_stage(src, fixture):
        shutil.rmtree(src, ignore_errors=True)
        os.makedirs(src)
        lo, hi = ev.agg(
            F.min("ts").alias("lo"), F.max("ts").alias("hi")
        ).collect()[0]
        span = (hi - lo) / 4
        for i in range(4):
            a = lo + span * i
            cond = (F.col("ts") >= F.lit(a)) if i else F.lit(True)
            if i < 3:
                cond = cond & (F.col("ts") < F.lit(lo + span * (i + 1)))
            _stage_single_file(base, src, ev.filter(cond), f"0{i}-quarter")
        for i, fn in enumerate(sorted(os.listdir(src))):
            t = 1_600_000_000 + i
            os.utime(os.path.join(src, fn), (t, t))
        _mark_stage(src, fixture)

    schema = spark.read.parquet(src).schema
    st = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        st.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "n",
        )
    )
    with SE.state_scope(spark, src):
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    progress = [
        json.loads(p if isinstance(p, str) else p.json)
        for p in (q.recentProgress or [])
    ]
    return spark.read.parquet(out), progress


@register(
    "stream_state_eviction",
    oracle="""
    WITH m AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM events)
    SELECT date_trunc('hour', ts) AS window_start,
           CAST(count(*) AS BIGINT) AS n
    FROM events, m
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= m.wm
    GROUP BY 1
    """,
    tags=("ext", "streaming"),
)
def stream_state_eviction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK-DRIVEN STATE EVICTION mid-run: the events arrive as
    four time-ordered micro-batches, so between batches the watermark
    advances and every closed 1-hour window is emitted AND REMOVED from
    the state store — state never holds more than ~a quarter of the
    stream's windows at once (the per-batch stateOperators metrics are
    pinned by tests/test_streaming_batches.py). This is the property
    that makes an infinite windowed aggregation runnable with bounded
    executor memory; without eviction the 100 TB state store only
    grows. Output = the finalized windows, i.e. exactly the windows
    whose end is at-or-before the final watermark (max ts − 10 min) —
    an exact oracle over the batch GROUP BY."""
    df, _ = _state_eviction_run(spark, sf_dir)
    return df


@register(
    "stream_rocksdb_state",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 3) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("ext", "streaming"),
)
def stream_rocksdb_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The windowed aggregation under Spark's RocksDB state store
    provider — byte-identical results to the default HDFS-backed
    in-memory store (same oracle as ``stream_window_counts``), which is
    the swap's whole contract: at 100 TB/day the state store outgrows
    executor heap, and RocksDB keeps state on local SSD with only the
    working set in (off-heap) block cache, so the SAME query keeps
    running instead of OOMing. Provider choice is pure configuration —
    no plan or code change — applied via ``session.scoped_conf`` so the
    session default is restored afterwards. The provider really engages
    (rocksdb* commit metrics in stateOperators.customMetrics) is pinned
    by tests/test_streaming_batches.py."""
    from component_iceberg_spark.session import scoped_conf

    with scoped_conf(
        spark,
        **{
            "spark.sql.streaming.stateStore.providerClass":
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"
        },
    ):
        agg = SE.windowed_counts(_stream(spark, sf_dir))
        return SE.stream_to_memory(
            agg, spark, mode="complete", state_src=_src_dir(sf_dir)
        )


@register(
    "stream_active_users_trailing",
    # The batch twin's oracle CONSTANT, imported at decoration time:
    # one SQL string for both, so the two cannot drift — and no
    # module-bottom REGISTRY mutation that could silently degrade the
    # gate to rows-only if skipped.
    oracle=_ACTIVE_TRAILING_ORACLE,
    tags=("ext", "streaming", "analytics"),
)
def stream_active_users_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``ext_active_users_trailing`` (rolling 7-day
    distinct active users): the batch query's dedup→bounded-fan-out→count
    shape with the DEDUP STATE moved into the lake. Each micro-batch
    upserts its (day, user) activity pairs into a snapshot table keyed
    (d, user_id) — the same foreachBatch/snapshot-table store the other
    stream drills use, so the distinct-pairs state is durable, exactly
    mergeable, and idempotent under replay (re-delivered events hit the
    same key; the `last_seen` payload resolves key-duplicate deltas by
    the upsert's deterministic tie-break and later batches overwrite —
    the registered result reads keys only). The serving read then
    runs the SHARED `_trailing_rollup` body over the key-merged table —
    the 7× Generate and per-day count never see the raw stream, and the
    state table is |users|·|days|-bounded no matter the event volume
    (the same reason the batch plan dedups BEFORE fanning out).

    Batch-boundary-independent by construction — the snapshot table
    after any partitioning of the stream equals DISTINCT (day, user) of
    the whole fixture — so the final-table check carries the batch
    twin's exact oracle verbatim. The watermark bounds the upsert's
    in-flight buffer; correctness never depends on it (late pairs merge
    into the same key)."""
    from pyspark.sql import functions as F

    from component_iceberg_spark.plans.queries_analytics import (
        _trailing_rollup,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    wh = os.path.join(SCRATCH_ROOT, tag, "warehouse", "stream_dau")
    if os.path.isdir(wh):
        shutil.rmtree(wh)
    cat = SnapCatalog(wh)
    pairs = (
        _stream(spark, sf_dir)
        .withWatermark("ts", "1 day")
        .filter(F.col("ts").isNotNull())
        .select(
            F.date_trunc("day", F.col("ts")).cast("date").alias("d"),
            "user_id",
            F.col("ts").alias("last_seen"),
        )
    )
    SE.stream_upsert_into(
        pairs, cat, "stream", "user_days", keys=["d", "user_id"]
    )
    ud = cat.read(spark, "stream", "user_days").select("d", "user_id")
    return _trailing_rollup(ud)


@register(
    "stream_binaryfile_ingest",
    # Same content-integrity oracle CONSTANT as the batch blob source,
    # imported at decoration time (the shared-string discipline): the
    # final table after the stream drains must equal what the oracle
    # computes from the SOURCE rows.
    oracle=BINARYFILE_ORACLE,
    tags=("ext", "streaming", "multimodal", "source"),
)
def stream_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming multimodal ingest — the continuous twin of
    ``source_binaryfile``: new blob files landing in a directory are
    discovered by the binaryFile FILE-STREAM source (schema pinned, one
    micro-batch per trigger; at 100 TB this is the watch-the-bucket
    pattern for image/audio/video drops), reduced in-stream to
    (doc_id, n_bytes, content_md5) so the heavy `content` bytes never
    reach state or the sink, and upserted into a snapshot table keyed
    doc_id — idempotent under re-delivery (a re-dropped file merges
    into its key), atomic per micro-batch, exactly the
    stream_upsert_snaptable lake contract applied to blobs.

    The final-table check carries the batch twin's oracle VERBATIM
    (one SQL string bound to both): the drained table must match byte
    lengths and hex-md5 content hashes computed from the source rows —
    a truncated or duplicated ingest fails the hash, not just a count.
    The "blob bytes never cross an exchange" claim is additionally a
    MEASURED saturation pin
    (tests/test_shuffle_volume.py::test_blob_ingest_shuffle_is_row_sized):
    growing every blob ~100x while holding the file count fixed leaves
    the run's shuffle bytes flat."""
    from component_iceberg_spark.plans.queries_scan import _doc_binary_dir

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    wh = os.path.join(SCRATCH_ROOT, tag, "warehouse", "stream_blobs")
    return blob_ingest_stream(spark, _doc_binary_dir(spark, sf_dir), wh)


def blob_ingest_stream(
    spark: SparkSession, src_dir: str, warehouse: str
) -> DataFrame:
    """The streaming blob-ingest pipeline body (shared by the
    registered query and the shuffle-volume saturation test, so the
    test drives the PRODUCT plan, not a copy): binaryFile file-stream
    over ``src_dir`` → in-stream reduction to (doc_id, n_bytes,
    content_md5) BEFORE any state or sink sees blob bytes → foreachBatch
    upsert into a snapshot table keyed doc_id → serving read."""
    from pyspark.sql import functions as F

    if os.path.isdir(warehouse):
        shutil.rmtree(warehouse)
    cat = SnapCatalog(warehouse)
    bf = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        .load(src_dir)
        .select(
            F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
            .cast("bigint")
            .alias("doc_id"),
            F.col("length").cast("bigint").alias("n_bytes"),
            F.md5(F.hex(F.col("content"))).alias("content_md5"),
        )
    )
    SE.stream_upsert_into(bf, cat, "stream", "blobs", keys=["doc_id"])
    return cat.read(spark, "stream", "blobs")


