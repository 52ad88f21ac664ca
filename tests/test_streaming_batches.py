"""Multi-micro-batch streaming: with maxFilesPerTrigger=1 a 4-file source
produces 4 micro-batches; the foreachBatch upsert must commit one snapshot
per non-empty batch and converge to exactly the source rows."""

from __future__ import annotations

from component_iceberg_spark.io.snaptable import SnapCatalog
from component_iceberg_spark.io.tables import load_table
from component_iceberg_spark.streaming import events as SE


def test_session_window_closed_sessions_match_batch_twin(spark, sf_dir):
    """The streaming session_window query emits exactly the sessions that
    closed before the final watermark (max ts − 10 min). Each emitted
    session must appear in the exact batch twin (gap sessionize), with the
    streaming end = batch last-event ts + the 30-min gap. A ts-corruption
    regression (all events collapsing into one epoch hour → 0 or 2 giant
    sessions) fails both assertions."""
    import pyspark.sql.functions as F

    from component_iceberg_spark.io.tables import load_table
    from component_iceberg_spark.operators.relational import sessionize
    from component_iceberg_spark.plans import load_all

    streamed = load_all()["stream_session_window"].fn(spark, sf_dir)
    n_streamed = streamed.count()
    assert n_streamed > 0, "no sessions closed — timestamps are likely corrupted"

    ev = load_table(spark, sf_dir, "events")
    batch = sessionize(ev, "user_id", "ts", "event_id").select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        (F.col("session_end").cast("timestamp_ntz") + F.expr("INTERVAL 30 MINUTES")).alias(
            "session_end"
        ),
        "n_events",
    )
    matched = streamed.join(
        batch, on=["user_id", "session_start", "session_end", "n_events"]
    ).count()
    assert matched == n_streamed, (
        f"{n_streamed - matched} streamed sessions have no exact batch twin"
    )


def test_stateful_totals_final_emission_matches_batch_groupby(spark, sf_dir):
    """applyInPandasWithState running totals: the last emission per user
    (the one with max n_events — counts are monotone) must equal the batch
    groupBy count/sum for that user."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from component_iceberg_spark.io.tables import load_table
    from component_iceberg_spark.plans import load_all

    emitted = load_all()["stream_stateful_totals"].fn(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (
        emitted.withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .select("user_id", "n_events", "total_value")
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 3).alias("total_value"),
        )
    )
    assert final.count() == batch.count()
    assert final.exceptAll(batch).count() == 0
    assert batch.exceptAll(final).count() == 0


def test_multibatch_upsert_one_snapshot_per_batch(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "props"
    )
    src = str(tmp_path / "src")
    ev.repartition(4).write.parquet(src)

    raw = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .select("event_id", "user_id", "event_type", "value")
    )
    cat = SnapCatalog(str(tmp_path / "wh"))
    SE.stream_upsert_into(raw, cat, "ns", "events", keys=["event_id"])

    snaps = cat.snapshots(spark, "ns", "events").collect()
    assert len(snaps) == 4, f"expected one commit per micro-batch, got {len(snaps)}"
    assert cat.read(spark, "ns", "events").count() == ev.count()


def test_stage_freshness_tracks_source_changes(tmp_path):
    """Scratch staging must invalidate when the fixture file is
    regenerated with different content at the same path (existence-only
    checks stream stale data after a driver fixture rebuild)."""
    import os
    import time

    from component_iceberg_spark.plans.queries_streaming import (
        _fresh_stage,
        _mark_stage,
    )

    src = tmp_path / "events.parquet"
    src.write_bytes(b"v1-bytes")
    stage = tmp_path / "stage"
    stage.mkdir()
    assert not _fresh_stage(str(stage), str(src))  # never staged
    _mark_stage(str(stage), str(src))
    assert _fresh_stage(str(stage), str(src))      # staged and current
    time.sleep(0.01)
    src.write_bytes(b"v2-bytes!")                  # same path, new content
    assert not _fresh_stage(str(stage), str(src))  # stale detected
    _mark_stage(str(stage), str(src))
    assert _fresh_stage(str(stage), str(src))
    os.utime(src)                                  # touch: mtime-only change
    assert not _fresh_stage(str(stage), str(src))  # conservative restage


def test_schema_probe_memo_invalidates_on_restage(spark, tmp_path):
    """The schema-probe memo must not serve a stale schema after the
    staging layer rebuilds a fixture dir IN PLACE with a different ts
    physical type (ADVICE r4: a (session, path)-only key would)."""
    import pyspark.sql.functions as F

    from component_iceberg_spark.plans.queries_streaming import _mark_stage
    from component_iceberg_spark.streaming.events import _scanned_schema

    src = tmp_path / "src.parquet"
    src.write_bytes(b"fingerprint-v1")
    d = str(tmp_path / "stage")
    base = spark.range(3).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(F.col("id") * 1000000).alias("ts"),
    )
    base.write.mode("overwrite").parquet(d)
    _mark_stage(d, str(src))
    t1 = _scanned_schema(spark, d)["ts"].dataType.simpleString()
    assert t1.startswith("timestamp")
    # restage in place: ts becomes a plain long (the ns-as-long shape)
    base.withColumn("ts", F.lit(7).cast("long")).write.mode(
        "overwrite"
    ).parquet(d)
    src.write_bytes(b"fingerprint-v2!")  # source changed → new sidecar
    _mark_stage(d, str(src))
    t2 = _scanned_schema(spark, d)["ts"].dataType.simpleString()
    assert t2 == "bigint", f"stale schema memo served: {t2}"


def test_incremental_dedup_screen_is_replay_idempotent(spark, sf_dir, tmp_path):
    """Crash-replay contract of screen_batch_incremental: re-running a
    batch whose seen-store commit already landed (the worst half-crash
    window) must reach the SAME admitted set — no doc may be dropped as
    a near-dup of its own half-committed copy — and upsert-based writes
    must not duplicate rows."""
    from pyspark.sql import functions as F

    cat = SnapCatalog(str(tmp_path / "wh"))
    d = load_table(spark, sf_dir, "documents")
    b0 = d.filter(F.col("doc_id") % 3 == 0)
    b1 = d.filter(F.col("doc_id") % 3 == 1)

    SE.screen_batch_incremental(cat, b0)
    SE.screen_batch_incremental(cat, b1)
    admitted_once = sorted(
        r["doc_id"]
        for r in SE.admitted_docs(cat, spark).select("doc_id").collect()
    )
    seen_once = cat.read(spark, "stream", "seen").count()

    # full replay of batch 1 (covers the crash-after-seen-commit window:
    # the seen store already contains b1 before the re-run)
    SE.screen_batch_incremental(cat, b1)
    admitted_again = sorted(
        r["doc_id"]
        for r in SE.admitted_docs(cat, spark).select("doc_id").collect()
    )
    assert admitted_again == admitted_once, "replay changed the admitted set"
    assert cat.read(spark, "stream", "seen").count() == seen_once


def test_incremental_dedup_seen_store_carries_profile_columns(
    spark, sf_dir, tmp_path
):
    """r15 layout: the seen store is ONE wide table (doc columns +
    signature-profile columns), replacing the text + seen_profile pair —
    the stored h0..hK must equal a fresh corpus_minhash_profile of the
    same rows, or candidate generation against the store silently
    diverges from the fused screen's intra-batch banding."""
    from pyspark.sql import functions as F

    from component_iceberg_spark.operators import dedup as D

    cat = SnapCatalog(str(tmp_path / "wh"))
    d = load_table(spark, sf_dir, "documents")
    b0 = d.filter(F.col("doc_id") % 3 == 0)
    SE.screen_batch_incremental(cat, b0)

    seen = cat.read(spark, "stream", "seen")
    sig_cols = [f"h{k}" for k in range(D.NUM_HASHES)] + ["n"]
    assert set(sig_cols) <= set(seen.columns), seen.columns
    assert "text" in seen.columns and "doc_id" in seen.columns
    assert SE.ADMIT_COL in seen.columns, seen.columns

    fresh = D.corpus_minhash_profile(b0, "doc_id", "text")
    # sub-shingle docs are stored with NULL profile columns (left-join
    # layout) and have no profile row to compare against
    stored = seen.filter(F.col("n").isNotNull()).select(
        F.col("doc_id").alias("doc"), *sig_cols
    )
    assert stored.exceptAll(fresh).count() == 0
    assert fresh.exceptAll(stored).count() == 0


def test_incremental_screen_one_commit_per_epoch_and_subshingle(
    spark, tmp_path
):
    """r16 commit-path contract: each screened epoch publishes exactly
    ONE snapshot (the wide seen store carries the admitted verdict; no
    admitted table exists), and a sub-shingle doc (< SHINGLE_N tokens,
    no signature) is BOTH admitted and persisted to the store with NULL
    profile columns (ADVICE r15: the inner-join layout silently lost it
    from the store)."""
    from pyspark.sql import functions as F

    from component_iceberg_spark.operators import dedup as D

    cat = SnapCatalog(str(tmp_path / "wh"))
    # Explicit 2-slice / 1-slice input widths: a bare createDataFrame
    # parallelizes over defaultParallelism (32 mostly-empty slices), so
    # the screen's files-∝-input-width coalesce would be a no-op and the
    # commit's file count would ride on the epoch plan's final
    # partitioning — which flips with session history (broadcast chains
    # preserve the local-relation slicing; shuffle paths AQE-coalesce to
    # 1), making the assertion below order-dependent across the suite.
    # Production batches are file-/stream-sourced, where the input width
    # is the scan split count and the bound is meaningful by itself.
    b0 = spark.createDataFrame(
        [
            (1, "alpha beta"),  # 2 tokens < SHINGLE_N: no shingles
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "the quick brown fox jumps over the lazy dog"),  # dup of 2
        ],
        "doc_id long, text string",
    ).coalesce(2)
    b1 = spark.createDataFrame(
        [(4, "the quick brown fox jumps over the lazy dog")],  # dup of seen
        "doc_id long, text string",
    ).coalesce(1)
    SE.screen_batch_incremental(cat, b0)
    SE.screen_batch_incremental(cat, b1)

    # one commit per epoch, and no second table
    assert len(cat._snapshots("stream", "seen")) == 2
    assert not cat.table_exists("stream", "admitted")

    admitted = sorted(
        r["doc_id"]
        for r in SE.admitted_docs(cat, spark).select("doc_id").collect()
    )
    assert admitted == [1, 2], admitted  # 3 intra-batch dup, 4 vs seen

    seen = cat.read(spark, "stream", "seen")
    assert seen.count() == 4, "every doc (incl. sub-shingle) is persisted"
    row1 = seen.filter(F.col("doc_id") == 1).collect()[0]
    assert row1["n"] is None and row1[f"h{D.NUM_HASHES - 1}"] is None
    assert row1[SE.ADMIT_COL] is True

    # r16 output-file sizing (guide §6): a batch-sized epoch must not
    # fan its commit out to the shuffle width — files per commit are
    # bounded by the micro-batch's own input partition count (pinned to
    # 2 / 1 slices above), so later epochs' store scans never pay one
    # split per near-empty file
    import glob as _glob
    import os as _os

    for d in _glob.glob(str(tmp_path / "wh" / "stream" / "seen" / "data" / "*")):
        n_parts = len(_glob.glob(_os.path.join(d, "part-*.parquet")))
        assert n_parts <= 2, (d, n_parts)

    # a wider epoch sourced through repartition(8) — the default
    # many-slice path the coalesce-to-input-width bound targets: its one
    # commit writes at most that input width in files
    seen_dirs = set(
        cat._manifest("stream", "seen", cat._current_sid("stream", "seen"))[
            "files"
        ]
    )
    b2 = spark.createDataFrame(
        [
            (10 + i, " ".join(f"w{i}x{k}" for k in range(8)))
            for i in range(8)
        ],
        "doc_id long, text string",
    ).repartition(8)
    SE.screen_batch_incremental(cat, b2)
    assert len(cat._snapshots("stream", "seen")) == 3
    m = cat._manifest("stream", "seen", cat._current_sid("stream", "seen"))
    new_dirs = [d for d in m["files"] if d not in seen_dirs]
    assert new_dirs, m["files"]
    for d in new_dirs:
        path = str(tmp_path / "wh" / "stream" / "seen" / "data" / d)
        n_parts = len(_glob.glob(_os.path.join(path, "part-*.parquet")))
        assert 0 < n_parts <= 8, (d, n_parts)
    assert cat.read(spark, "stream", "seen").count() == 12

    # width independence: the shingle spread sizes itself from the
    # batch's stored bytes, so a file-backed batch spreads to one task
    # per core while a wide in-memory one (no stored bytes: the session
    # width) spreads to more; both admit exactly the docs the runs
    # above did
    def admitted_after(batches, root):
        c = SnapCatalog(str(tmp_path / root))
        for b in batches:
            SE.screen_batch_incremental(c, b)
        return sorted(
            r["doc_id"]
            for r in SE.admitted_docs(c, spark).select("doc_id").collect()
        )

    file_backed = []
    for i, b in enumerate((b0, b1, b2)):
        path = str(tmp_path / f"batch_{i}.parquet")
        b.write.parquet(path)
        file_backed.append(spark.read.parquet(path))
    wide = [b.repartition(8) for b in (b0, b1, b2)]
    expected = sorted(
        r["doc_id"]
        for r in SE.admitted_docs(cat, spark).select("doc_id").collect()
    )
    assert admitted_after(file_backed, "wh_file") == expected
    assert admitted_after(wide, "wh_wide") == expected


def test_screen_epoch_work_is_batch_sized_and_flat(spark, tmp_path):
    """Every screen epoch runs a fixed number of Spark jobs and stages,
    set by its batch and not by the store or the session: the shingle
    spread takes its width from the batch, the store is scanned once,
    and the batch-sized relations are built once and broadcast. Epochs
    after the first run the same count however large the store grows,
    and each epoch runs at most half the jobs and stages it ran when its
    shingles spread to the session width and it scanned the store three
    times: this test then counted 23 for the first epoch and 39 for each
    later one."""
    import random

    from tests.conftest import spark_work_during

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(400)]
    originals = [
        [rng.choice(vocab) for _ in range(rng.randint(12, 30))]
        for _ in range(90)
    ]
    docs = []
    for i in range(120):
        words = list(originals[i % 90])
        if i >= 90:  # a near copy of an earlier doc, one word edited
            words[rng.randrange(len(words))] = rng.choice(vocab)
        docs.append((i, " ".join(words)))
    rng.shuffle(docs)
    cat = SnapCatalog(str(tmp_path / "wh"))
    work = []
    for e in range(5):
        path = str(tmp_path / f"batch_{e}.parquet")
        spark.createDataFrame(
            sorted(docs[e * 24:(e + 1) * 24]), "doc_id long, text string"
        ).coalesce(1).write.parquet(path)
        batch = spark.read.parquet(path)
        _r, jobs, stages = spark_work_during(
            spark, lambda b=batch: SE.screen_batch_incremental(cat, b)
        )
        work.append((jobs, stages))
    first, later = work[0], work[1:]
    assert len(set(later)) == 1, work
    assert max(first) <= 23 // 2, work
    assert max(later[0]) <= 39 // 2, work
    # the work is the screen's, not an empty run: near copies were dropped
    admitted = SE.admitted_docs(cat, spark).count()
    assert 90 <= admitted < 120, admitted


def test_run_concurrently_order_and_errors():
    """run_concurrently returns results in argument order and propagates
    the failing thunk's exception after all submitted work settles."""
    import time as _time

    import pytest

    from component_iceberg_spark.session import run_concurrently

    def slow():
        _time.sleep(0.05)
        return "slow"

    assert run_concurrently(lambda: "a", slow, lambda: 3) == ["a", "slow", 3]
    assert run_concurrently(lambda: 42) == [42]

    done = []

    def ok():
        _time.sleep(0.05)
        done.append(True)
        return "ok"

    def boom():
        raise ValueError("lane failed")

    with pytest.raises(ValueError, match="lane failed"):
        run_concurrently(boom, ok)
    assert done == [True], "sibling action must settle before the raise"


def test_scoped_conf_refused_inside_concurrent_lane(spark):
    """Conf-scope hazard guard (r15 review / ADVICE): runtime SQL confs
    are session-global, so scoped_conf (and everything built on it —
    state_scope, bloom_filter_joins) inside a run_concurrently lane
    would contaminate sibling lanes' planning and race the restore. The
    guard raises instead of corrupting plans silently; the same scope
    OUTSIDE the lanes stays legal."""
    import pytest

    from component_iceberg_spark.session import run_concurrently, scoped_conf

    def lane():
        with scoped_conf(spark, **{"spark.sql.shuffle.partitions": "7"}):
            return "never"

    with pytest.raises(RuntimeError, match="run_concurrently lane"):
        run_concurrently(lane, lambda: "ok")

    # outside the pool the scope works and restores
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with scoped_conf(spark, **{"spark.sql.shuffle.partitions": "7"}):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        assert run_concurrently(lambda: 1, lambda: 2) == [1, 2]
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_anomaly_alerts_batch_boundary_independent(spark, sf_dir, tmp_path):
    """running_zscore_alerts' contract: for an event-time-ordered stream,
    the alert set is identical whether the fixture arrives as one
    micro-batch or as three time-sliced ones (state carries the exact
    prefix moments across batches), and equals the batch window twin
    (strictly-preceding frame z-scores)."""
    import glob as _glob
    import os as _os

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    # three time-ordered files: tertile boundaries from ntile over ts
    b = ev.select(
        F.percentile_approx("ts", [1.0 / 3, 2.0 / 3], 10000).alias("qs")
    ).collect()[0]["qs"]
    src = str(tmp_path / "src")
    _os.makedirs(src)
    slices = [
        ev.filter(F.col("ts") <= b[0]),
        ev.filter((F.col("ts") > b[0]) & (F.col("ts") <= b[1])),
        ev.filter(F.col("ts") > b[1]),
    ]
    for i, sl in enumerate(slices):
        d = str(tmp_path / f"part{i}")
        sl.coalesce(1).write.parquet(d)
        [f] = _glob.glob(_os.path.join(d, "part-*.parquet"))
        dst = _os.path.join(src, f"{i}.parquet")
        _os.rename(f, dst)
        _os.utime(dst, (1000 + i, 1000 + i))  # mtime order == time order

    raw = (
        spark.readStream.schema(
            "event_id long, event_type string, ts timestamp_ntz, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    streamed = SE.stream_to_memory(
        SE.running_zscore_alerts(raw), spark, mode="append"
    )
    got = {
        (r.event_type, r.event_id, r.n_prev, r.z)
        for r in streamed.collect()
    }

    # batch twin: strictly-preceding-frame z over the whole fixture
    pre = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scored = ev.select(
        "event_type",
        "event_id",
        F.count("value").over(pre).alias("n_prev"),
        ((F.col("value") - F.avg("value").over(pre))
         / F.stddev_samp("value").over(pre)).alias("z"),
    ).filter(
        (F.col("n_prev") >= 30) & (F.abs(F.col("z")) > 3)
    )
    want = {
        (r.event_type, r.event_id, r.n_prev, round(r.z, 3))
        for r in scored.collect()
    }
    assert got == want and len(want) > 0, (
        f"streamed={len(got)} batch={len(want)} "
        f"diff={list(got ^ want)[:5]}"
    )


def test_anomaly_alerts_multichunk_group_sorted_globally(spark, tmp_path):
    """A group larger than arrow.maxRecordsPerBatch arrives at
    applyInPandasWithState as MULTIPLE Arrow chunks in arbitrary order;
    running_zscore_alerts must buffer + globally sort them, not sort
    each chunk independently. Fixture: ONE key, 600 rows written in
    REVERSE time order with maxRecordsPerBatch=50 — per-chunk sorting
    would score the latest rows first and corrupt every prefix moment."""
    import numpy as _np
    import pandas as _pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rng = _np.random.default_rng(7)
    n = 600
    vals = rng.normal(100.0, 5.0, n)
    vals[::97] += 40.0  # planted spikes
    pdf = _pd.DataFrame(
        {
            "event_id": _np.arange(n, dtype="int64"),
            "event_type": "solo",
            "ts": _pd.to_datetime("2024-01-01")
            + _pd.to_timedelta(_np.arange(n), unit="s"),
            "value": vals,
        }
    )
    # write in REVERSE ts order so chunk-local sorting != global sorting
    src = str(tmp_path / "rev")
    ev = spark.createDataFrame(pdf.iloc[::-1]).withColumn(
        "ts", F.col("ts").cast("timestamp_ntz")
    )
    ev.coalesce(1).write.parquet(src)

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
    try:
        raw = spark.readStream.schema(
            "event_id long, event_type string, ts timestamp_ntz, value double"
        ).parquet(src)
        streamed = SE.stream_to_memory(
            SE.running_zscore_alerts(raw), spark, mode="append"
        )
        got = {
            (r.event_type, r.event_id, r.n_prev, r.z)
            for r in streamed.collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)

    pre = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scored = (
        spark.read.parquet(src)
        .select(
            "event_type",
            "event_id",
            F.count("value").over(pre).alias("n_prev"),
            (
                (F.col("value") - F.avg("value").over(pre))
                / F.stddev_samp("value").over(pre)
            ).alias("z"),
        )
        .filter((F.col("n_prev") >= 30) & (F.abs(F.col("z")) > 3))
    )
    want = {
        (r.event_type, r.event_id, r.n_prev, round(r.z, 3))
        for r in scored.collect()
    }
    assert len(want) >= 4, f"fixture too tame: {len(want)} alerts"
    assert got == want, f"diff={sorted(got ^ want)[:6]}"


def test_replay_idempotent_commit_granularity(spark, sf_dir):
    """Pin stream_replay_idempotent's commit ledger: 3 epoch batches +
    1 manual crash-replay + 1 checkpoint-recovered late epoch = exactly
    5 upsert snapshots. If recovery re-read the already-processed files,
    extra commits would appear here even though the (idempotent) final
    state would still match the oracle — this is the assertion that the
    checkpoint, not the upsert, is what prevents reprocessing."""
    import hashlib
    import os

    from component_iceberg_spark.plans import load_all
    from component_iceberg_spark.plans.queries_streaming import SCRATCH_ROOT

    df = load_all()["stream_replay_idempotent"].fn(spark, sf_dir)
    assert df.count() > 0
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    cat = SnapCatalog(os.path.join(SCRATCH_ROOT, tag, "replay_idem", "wh"))
    ops = [
        r.operation
        for r in cat.snapshots(spark, "stream", "events").collect()
    ]
    assert ops == ["upsert"] * 5, ops


def test_state_eviction_bounds_store_size(spark, sf_dir):
    """stream_state_eviction's bounded-memory claim, from the engine's
    own stateOperators metrics: with four time-ordered micro-batches,
    (a) the state store never holds more than ~one quarter of the
    stream's windows (plus the boundary window), (b) every finalized
    window is evicted exactly once — total removals equal the emitted
    row count — and (c) the closing no-data batch drains the store down
    to only the never-finalized tail windows. An aggregation WITHOUT
    these properties accumulates state forever and cannot run
    continuously at scale."""
    from pyspark.sql import functions as F

    from component_iceberg_spark.io.tables import load_table
    from component_iceberg_spark.plans.queries_streaming import (
        _state_eviction_run,
    )

    df, prog = _state_eviction_run(spark, sf_dir)
    finalized = df.count()
    total_windows = (
        load_table(spark, sf_dir, "events")
        .select(F.date_trunc("hour", "ts").alias("h"))
        .distinct()
        .count()
    )
    ops = [
        (p["stateOperators"][0] if p.get("stateOperators") else {})
        for p in prog
    ]
    peak = max(o.get("numRowsTotal", 0) for o in ops)
    removed = sum(o.get("numRowsRemoved", 0) for o in ops)
    assert finalized > 0
    assert peak < 0.5 * total_windows, (peak, total_windows)
    assert removed == finalized, (removed, finalized)
    assert ops[-1].get("numRowsTotal", 99) <= total_windows - finalized + 1


def test_rocksdb_provider_actually_engaged(spark, sf_dir):
    """stream_rocksdb_state's claim that the provider swap is real: run
    the same windowed aggregate under the scoped RocksDB conf capturing
    progress, and require rocksdb* commit metrics in the state
    operator's customMetrics (the HDFS-backed default emits none of
    those keys). Also pins that the scope restored the session
    default afterwards."""
    import json

    from component_iceberg_spark.plans.queries_streaming import _stream
    from component_iceberg_spark.session import scoped_conf
    from component_iceberg_spark.streaming import events as SE

    key = "spark.sql.streaming.stateStore.providerClass"
    # effective value (scoped_conf restores the effective default for a
    # never-set key, not the unset state — equivalent at planning time)
    before = spark.conf.get(key)
    with scoped_conf(
        spark,
        **{key: "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"},
    ):
        agg = SE.windowed_counts(_stream(spark, sf_dir))
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("rocksdb_probe")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        prog = [
            json.loads(p if isinstance(p, str) else p.json)
            for p in (q.recentProgress or [])
        ]
    assert spark.conf.get(key) == before
    assert spark.table("rocksdb_probe").count() > 0
    ops = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    assert ops, "no stateful batches recorded"
    cm = {}
    for o in ops:
        cm.update(o.get("customMetrics") or {})
    rocks_keys = [k for k in cm if "rocksdb" in k.lower()]
    assert rocks_keys, f"no rocksdb metrics; customMetrics keys: {sorted(cm)[:10]}"


def test_trailing_users_state_table_batch_boundary_independent(
    spark, sf_dir, tmp_path
):
    """stream_active_users_trailing's lake-side dedup state: split the
    fixture into 4 micro-batches — the key-merged (d, user_id) table
    must equal the batch DISTINCT regardless of how the stream was cut,
    and replaying the whole stream into the same table must change
    nothing (idempotence under re-delivery). The serving rollup over
    that table then equals the batch twin by construction (their shared
    body is `_trailing_rollup`; the registered query's exact oracle
    covers the single-batch path)."""
    import pyspark.sql.functions as F

    ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
    src = str(tmp_path / "src")
    ev.repartition(4).write.parquet(src)

    def run_once():
        raw = (
            spark.readStream.schema("ts timestamp, user_id long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .withWatermark("ts", "1 day")
            .filter(F.col("ts").isNotNull())
            .select(
                F.date_trunc("day", F.col("ts")).cast("date").alias("d"),
                "user_id",
                F.col("ts").alias("last_seen"),
            )
        )
        SE.stream_upsert_into(
            raw, cat, "ns", "user_days", keys=["d", "user_id"]
        )

    cat = SnapCatalog(str(tmp_path / "wh"))
    run_once()
    expected = (
        ev.filter(F.col("ts").isNotNull())
        .select(
            F.date_trunc("day", F.col("ts")).cast("date").alias("d"),
            "user_id",
        )
        .distinct()
    )
    got = cat.read(spark, "ns", "user_days").select("d", "user_id")
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0

    n_snaps = len(cat.snapshots(spark, "ns", "user_days").collect())
    run_once()  # full replay: every key re-delivered
    got2 = cat.read(spark, "ns", "user_days").select("d", "user_id")
    assert got2.count() == expected.count(), "replay must not grow the state"
    assert got2.exceptAll(expected).count() == 0
    assert len(cat.snapshots(spark, "ns", "user_days").collect()) > n_snaps


def test_static_dim_caching_semantics(spark, tmp_path):
    """stream_static_enrich's dim-refresh caveat, measured: (a) a
    file-source static DataFrame created BEFORE the stream caches its
    file listing — replacing the dim files between triggered runs fails
    the restarted join on the deleted file (the stale-index negative);
    (b) re-reading the dim per micro-batch inside foreachBatch picks up
    the replacement exactly at the next batch (the production pattern
    for updatable dims)."""
    import glob
    import os
    import shutil

    import pytest

    base = str(tmp_path)
    src, dimd = os.path.join(base, "src"), os.path.join(base, "dim")
    os.makedirs(src)

    def stage(df, d, name):
        tmp = os.path.join(base, "_t")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        os.makedirs(d, exist_ok=True)
        shutil.move(part, os.path.join(d, f"{name}.parquet"))
        shutil.rmtree(tmp)

    def swap_dim(label):
        for f in glob.glob(os.path.join(dimd, "*.parquet")):
            os.remove(f)
        stage(
            spark.createDataFrame([(1, label)], "k long, label string"),
            dimd, f"v_{label}",
        )

    stage(
        spark.createDataFrame([(1, "OLD")], "k long, label string"),
        dimd, "v1",
    )
    stage(
        spark.createDataFrame([(10, 1)], "event_id long, k long"),
        src, "e1",
    )

    # (a) static DataFrame captured once -> stale listing after the swap
    dim = spark.read.parquet(dimd)
    ev = spark.readStream.schema("event_id long, k long").parquet(src)
    stale_join = ev.join(dim, "k").select("event_id", "label")
    got: list = []

    def run(df, ckpt):
        q = (
            df.writeStream.foreachBatch(
                lambda b, _e: got.extend(
                    (r.event_id, r.label) for r in b.collect()
                )
            )
            .option("checkpointLocation", os.path.join(base, ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run(stale_join, "ck_stale")
    assert got == [(10, "OLD")], got
    swap_dim("NEW")
    stage(
        spark.createDataFrame([(20, 1)], "event_id long, k long"),
        src, "e2",
    )
    with pytest.raises(Exception, match="FILE_NOT_EXIST|FAILED_READ"):
        run(stale_join, "ck_stale")

    # (b) per-batch dim re-read inside foreachBatch sees the update
    got2: list = []

    def enrich(batch, _epoch):
        fresh = spark.read.parquet(dimd)
        got2.extend(
            (r.event_id, r.label)
            for r in batch.join(fresh, "k").select("event_id", "label").collect()
        )

    q = (
        ev.writeStream.foreachBatch(enrich)
        .option("checkpointLocation", os.path.join(base, "ck_fresh"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(got2) == [(10, "NEW"), (20, "NEW")], got2
    swap_dim("NEWER")
    stage(
        spark.createDataFrame([(30, 1)], "event_id long, k long"),
        src, "e3",
    )
    q = (
        ev.writeStream.foreachBatch(enrich)
        .option("checkpointLocation", os.path.join(base, "ck_fresh"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert sorted(got2) == [(10, "NEW"), (20, "NEW"), (30, "NEWER")], got2


def test_scaled_state_partitions_floor_cap_and_scaling(spark):
    """Scale-adaptive state sizing (r15): small sources floor at 8 state
    partitions, volume scales one partition per 16 MB, and the session
    default is the production ceiling — at cluster scale the operator-
    tuned width wins unchanged."""
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert SE.scaled_state_partitions(spark, 0) == default  # unknown volume
    assert SE.scaled_state_partitions(spark, 1) == min(8, default)
    assert SE.scaled_state_partitions(spark, 2 << 20) == min(8, default)
    # 10 partitions' worth of bytes → 10 (if the session cap allows)
    ten = SE.scaled_state_partitions(spark, (16 << 20) * 10 - 1)
    assert ten == min(10, default)
    # volume beyond the ceiling: the session default is returned unchanged
    assert SE.scaled_state_partitions(spark, 1 << 40) == default


def test_state_scope_sets_and_restores_shuffle_conf(spark, tmp_path):
    """state_scope pins spark.sql.shuffle.partitions to the scaled count
    only inside the scope and restores the session value on exit (also
    under an exception)."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with SE.state_scope(spark, 1 << 20):
        assert spark.conf.get(key) == str(
            SE.scaled_state_partitions(spark, 1 << 20)
        )
    assert spark.conf.get(key) == before
    try:
        with SE.state_scope(spark, 1 << 20):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get(key) == before


def test_stateful_stream_runs_with_scaled_state_partitions(spark, sf_dir):
    """End-to-end: a stateful run through stream_to_memory_progress with
    state_src reports the scaled partition count in its stateOperators
    progress (the count the checkpoint pins), and the result matches the
    batch aggregate."""
    import os

    import pyspark.sql.functions as F

    from component_iceberg_spark.io.tables import table_path
    from component_iceberg_spark.plans.queries_streaming import _src_dir, _stream

    agg = SE.windowed_counts(_stream(spark, sf_dir))
    src = _src_dir(sf_dir)
    df, prog = SE.stream_to_memory_progress(
        agg, spark, mode="complete", state_src=src
    )
    expected = SE.scaled_state_partitions(spark, SE.dir_bytes(src))
    state_parts = {
        op.get("numShufflePartitions")
        for p in prog
        for op in p.get("stateOperators", [])
    } - {None}
    assert state_parts == {expected}, (prog, expected)
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 3).alias("sum_value"),
        )
    )
    assert df.exceptAll(batch).count() == 0 and batch.exceptAll(df).count() == 0
