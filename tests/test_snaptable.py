"""Snapshot-table layer unit tests: compaction file counts, prior-snapshot
isolation, drop semantics."""

from __future__ import annotations

import glob
import json
import os
import re
import time

import pytest
from pyspark.sql import functions as F

from component_iceberg_spark.io.snaptable import SnapCatalog
from component_iceberg_spark.io.tables import load_table
from tests.conftest import spark_jobs_during, write_legacy_delete


def _data_files(wh: str, ns: str, tbl: str, commit_dirs: list[str]) -> int:
    n = 0
    for d in commit_dirs:
        n += len(glob.glob(os.path.join(wh, ns, tbl, "data", d, "*.parquet")))
    return n


def test_compaction_reduces_files_keeps_history(spark, sf_dir, tmp_path):
    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    o = load_table(spark, sf_dir, "orders").repartition(8)
    cat.create_or_replace("ns", "t", o)
    cat.append("ns", "t", o.limit(10))
    pre_manifest = cat._manifest("ns", "t", 2)
    pre_files = _data_files(wh, "ns", "t", pre_manifest["files"])
    pre_count = cat.read(spark, "ns", "t").count()

    sid = cat.compact(spark, "ns", "t")
    post_manifest = cat._manifest("ns", "t", sid)
    post_files = _data_files(wh, "ns", "t", post_manifest["files"])

    assert post_files < pre_files
    assert cat.read(spark, "ns", "t").count() == pre_count
    # prior snapshots untouched and readable
    assert cat.read(spark, "ns", "t", snapshot_id=1).count() == o.count()
    ops = [r.operation for r in cat.snapshots(spark, "ns", "t").collect()]
    assert ops == ["replace", "append", "compact"]


def _one_file_dirs(spark, cat, tmp_path, n: int):
    """``ns.t`` built from ``n`` one-file commits of 100 keys each, every
    commit read back from a stored Parquet file (so it has stored
    bytes for the byte gate to size)."""
    for i in range(n):
        path = str(tmp_path / f"src{i}")
        spark.range(i * 100, (i + 1) * 100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ).coalesce(1).write.parquet(path)
        commit = cat.create_or_replace if i == 0 else cat.append
        commit("ns", "t", spark.read.parquet(path))


def _head_files(cat, wh: str) -> int:
    head = cat._manifest("ns", "t", cat._head_sid("ns", "t"))
    return _data_files(wh, "ns", "t", head["files"])


def test_compact_writes_at_most_one_file_per_core(spark, tmp_path):
    """compact() sizes its rewrite by the table's stored bytes: twelve
    one-file commits compact to at most one file per core (it used to
    write one file per scanned split, 12 → 12), rows identical."""
    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    _one_file_dirs(spark, cat, tmp_path, 12)
    assert _head_files(cat, wh) == 12
    before = sorted(cat.read(spark, "ns", "t").collect())
    cat.compact(spark, "ns", "t")
    assert _head_files(cat, wh) <= spark.sparkContext.defaultParallelism
    assert sorted(cat.read(spark, "ns", "t").collect()) == before


def test_table_derived_rewrite_writes_at_most_one_file_per_core(
    spark, tmp_path, monkeypatch
):
    """An upsert whose key range covers N one-file dirs rewrites them in
    at most one file per core (it used to write N + 1), and successive
    upserts keep the head's file count bounded instead of growing with
    history. A small key-unique stored source upserts in 3 Spark jobs:
    its bounds aggregate runs in one partition, so it plans no
    exchange. An in-memory source has no stored bytes: the gate
    declines and its write keeps its plan (no Coalesce)."""
    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    _one_file_dirs(spark, cat, tmp_path, 12)
    par = spark.sparkContext.defaultParallelism
    for j in range(3):
        path = str(tmp_path / f"delta{j}")
        spark.range(0, 1200, 7).select(
            F.col("id").alias("k"), (F.col("id") * 3 + j).alias("v")
        ).coalesce(1).write.parquet(path)
        delta = spark.read.parquet(path)
        _, jobs = spark_jobs_during(
            spark, lambda: cat.upsert("ns", "t", delta, ["k"])
        )
        assert jobs <= 3, (j, jobs)
        assert _head_files(cat, wh) <= par, j
    got = {r.k: r.v for r in cat.read(spark, "ns", "t").collect()}
    assert len(got) == 1200
    assert all(got[k] == (k * 3 + 2 if k % 7 == 0 else k * 2) for k in got)

    written = []
    real_parquet = type(spark.range(1).write).parquet

    def spy(self, path, *args, **kwargs):
        written.append(self._df._jdf.queryExecution().analyzed().toString())
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(type(spark.range(1).write), "parquet", spy)
    cat.upsert("ns", "t", spark.read.parquet(path), ["k"])
    assert "Repartition" in written[-1]  # the coalesce above the rewrite
    mem = spark.createDataFrame([(3, 9), (5000, 1)], "k long, v long")
    cat.upsert("ns", "t", mem, ["k"])
    assert "Repartition" not in written[-1]
    assert cat.read(spark, "ns", "t").count() == 1201


def test_upsert_without_order_by_is_deterministic(spark, sf_dir, tmp_path):
    """Delta-internal key duplicates without order_by must resolve to the
    SAME winner regardless of partition layout (hash tie-break, not
    first-row-seen)."""
    from pyspark.sql import functions as F

    rows = [(1, v) for v in ("a", "b", "c")] + [(2, v) for v in ("x", "y")]
    winners = []
    for parts in (1, 5):
        cat = SnapCatalog(str(tmp_path / f"wh{parts}"))
        delta = spark.createDataFrame(rows, "k int, v string").repartition(
            parts, F.col("v")
        )
        cat.upsert("ns", "t", delta, keys=["k"])
        got = {
            r.k: r.v for r in cat.read(spark, "ns", "t").collect()
        }
        winners.append(got)
    assert winners[0] == winners[1], f"layout-dependent winners: {winners}"


def test_upsert_tiebreak_encoding_unambiguous(spark, tmp_path):
    """Distinct multi-column rows whose naive separator-joined encodings
    collide (embedded separator, NULL vs sentinel string) must still get
    DISTINCT tie-break hashes — i.e. a deterministic winner, not an
    arbitrary one among hash-equal rows."""
    from pyspark.sql import functions as F

    # Under concat_ws('\x1f', coalesce(c, '\x00')) all three encode to the
    # same byte string; to_json(struct(...)) distinguishes them.
    rows = [
        (1, "a\x1fb", "c"),
        (1, "a", "b\x1fc"),
        (1, "a\x1fb\x1f", None),
    ]
    delta = spark.createDataFrame(rows, "k int, v1 string, v2 string")
    hashes = (
        delta.select(
            F.md5(F.to_json(F.struct("v1", "v2"))).alias("h")
        )
        .distinct()
        .count()
    )
    assert hashes == 3
    winners = []
    for parts in (1, 3):
        cat = SnapCatalog(str(tmp_path / f"amb{parts}"))
        cat.upsert("ns", "t", delta.repartition(parts, F.col("v1")), keys=["k"])
        winners.append(
            [(r.v1, r.v2) for r in cat.read(spark, "ns", "t").collect()]
        )
    assert winners[0] == winners[1]


def test_upsert_skips_dedupe_window_for_key_unique_source(
    spark, tmp_path, monkeypatch
):
    """A source the bounds job proves key-unique, with a deterministic
    plan, commits without the dedupe window: no Window in the written
    plan and at least two Spark jobs fewer than the same upsert with one
    duplicated key. A duplicate-key source and a rand()-derived
    (nondeterministic) source keep the window."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    written = []
    real_commit = cat._commit

    def spy(namespace, table, df, **kw):
        written.append(df)
        return real_commit(namespace, table, df, **kw)

    monkeypatch.setattr(cat, "_commit", spy)

    def windows(df) -> int:
        p = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        return len(re.findall(r"\(\d+\) Window", p))

    cat.create_or_replace(
        "ns", "t",
        spark.range(2000).select(
            F.col("id").cast("int").alias("k"), (F.col("id") * 2).alias("v")
        ),
    )
    uniq = spark.range(1000, 3000).select(
        F.col("id").cast("int").alias("k"), (F.col("id") * 3).alias("v")
    )
    dup = uniq.unionByName(spark.createDataFrame([(1500, 7)], "k int, v long"))
    _, uniq_jobs = spark_jobs_during(
        spark, lambda: cat.upsert("ns", "t", uniq, ["k"])
    )
    assert windows(written[-1]) == 0
    _, dup_jobs = spark_jobs_during(
        spark, lambda: cat.upsert("ns", "t", dup, ["k"])
    )
    assert windows(written[-1]) >= 1
    assert uniq_jobs + 2 <= dup_jobs, (uniq_jobs, dup_jobs)
    noisy = uniq.withColumn("v", (F.rand(7) * 1000).cast("long"))
    cat.upsert("ns", "t", noisy, ["k"])
    assert windows(written[-1]) >= 1
    got = cat.read(spark, "ns", "t")
    assert got.count() == 3000
    assert got.select("k").distinct().count() == 3000


def test_drop_table(spark, sf_dir, tmp_path):
    cat = SnapCatalog(str(tmp_path / "wh"))
    cat.create_or_replace("ns", "t", load_table(spark, sf_dir, "region"))
    assert cat.table_exists("ns", "t")
    cat.drop_table("ns", "t")
    assert not cat.table_exists("ns", "t")
    assert cat.list_tables("ns") == []


def test_expire_snapshots(spark, sf_dir, tmp_path):
    import pytest

    from component_iceberg_spark.io.snaptable import SnapshotNotFound

    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    n = load_table(spark, sf_dir, "nation")
    cat.create_or_replace("ns", "t", n.filter("n_regionkey < 2"))
    cat.append("ns", "t", n.filter("n_regionkey = 2"))
    cat.append("ns", "t", n.filter("n_regionkey > 2"))

    expired = cat.expire_snapshots("ns", "t", keep_last=1)
    assert expired == [1, 2]
    # current still complete
    assert cat.read(spark, "ns", "t").count() == n.count()
    # expired snapshot unreadable (fails on manifest, not mid-scan)
    with pytest.raises(SnapshotNotFound):
        cat.read(spark, "ns", "t", snapshot_id=1)
    # all data dirs still referenced (append carries history forward)
    ops = [r.operation for r in cat.snapshots(spark, "ns", "t").collect()]
    assert ops == ["append"]


def test_expire_after_replace_frees_data(spark, sf_dir, tmp_path):
    import os

    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    n = load_table(spark, sf_dir, "nation")
    cat.create_or_replace("ns", "t", n)
    cat.create_or_replace("ns", "t", n.filter("n_regionkey = 0"))
    assert len(os.listdir(os.path.join(wh, "ns", "t", "data"))) == 2
    cat.expire_snapshots("ns", "t", keep_last=1)
    # snapshot 1's directory is unreferenced after the replace → deleted
    assert len(os.listdir(os.path.join(wh, "ns", "t", "data"))) == 1
    assert cat.read(spark, "ns", "t").count() == n.filter("n_regionkey = 0").count()


def test_commit_conflict_semantics(spark, sf_dir, tmp_path):
    """Two catalogs over one warehouse: a raced append retries onto the new
    state; a raced replace raises CommitConflict instead of publishing a
    stale result."""
    import json
    import os

    import pytest

    from component_iceberg_spark.io.snaptable import CommitConflict

    wh = str(tmp_path / "wh")
    a, b = SnapCatalog(wh), SnapCatalog(wh)
    n = load_table(spark, sf_dir, "nation")
    a.create_or_replace("ns", "t", n.filter("n_regionkey = 0"))

    def race_once(cat):
        """Make cat's next commit see a stale snapshot list on its first
        state read, while a winner claims the id it will try."""
        real = SnapCatalog._head
        state = {"calls": 0}
        stale = real(cat, "ns", "t")

        def patched(self, namespace, table):
            state["calls"] += 1
            # call 1 is _commit's partition-spec pre-read; call 2 is the
            # publish loop's head read — the race window
            if state["calls"] == 2:
                # winner lands right after the stale read
                winner = dict(stale)
                winner["snapshot_id"] = stale["snapshot_id"] + 1
                winner["parent_id"] = stale["snapshot_id"]
                path = os.path.join(
                    wh, namespace, table, "snapshots",
                    f"{winner['snapshot_id']}.json",
                )
                with open(path, "w") as f:
                    json.dump(winner, f)
                return stale
            return real(self, namespace, table)

        cat._head = patched.__get__(cat)

    # append under a race: retries transparently onto the winner's state
    race_once(b)
    sid = b.append("ns", "t", n.filter("n_regionkey = 1"))
    assert sid == 3  # winner took 2, append landed as 3
    assert b.read(spark, "ns", "t").count() == n.filter("n_regionkey <= 1").count()

    # replace under a race: raises instead of publishing a stale result
    race_once(b)
    with pytest.raises(CommitConflict):
        b.create_or_replace("ns", "t", n.limit(2))
    assert SnapCatalog(wh)._current_sid("ns", "t") == 4  # winner's commit


def test_lost_update_detected_during_data_write(spark, sf_dir, tmp_path):
    """ADVICE (high): a rival commit landing between a mutation's state
    READ and its manifest publish must raise CommitConflict — not publish
    a stale result at sid+1 that silently drops the rival's rows."""
    import pytest

    from component_iceberg_spark.io.snaptable import CommitConflict

    wh = str(tmp_path / "wh")
    a, b = SnapCatalog(wh), SnapCatalog(wh)
    n = load_table(spark, sf_dir, "nation")
    a.create_or_replace("ns", "t", n)

    # delete_where scans state via _read_dirs; inject the rival append
    # there — after the base sid is captured, before the publish loop runs
    real_read_dirs = SnapCatalog._read_dirs
    state = {"raced": False}

    def racing_read_dirs(
        self, spark_, namespace, table, dirs, partitioned, **kw
    ):
        df = real_read_dirs(
            self, spark_, namespace, table, dirs, partitioned, **kw
        )
        if not state["raced"]:
            state["raced"] = True
            b.append("ns", "t", n.limit(3))  # rival lands mid-operation
        return df

    a._read_dirs = racing_read_dirs.__get__(a)
    with pytest.raises(CommitConflict):
        a.delete_where(spark, "ns", "t", "n_regionkey = 0")
    # the rival's rows survived; no stale snapshot was published
    assert SnapCatalog(wh)._current_sid("ns", "t") == 2
    assert SnapCatalog(wh).read(spark, "ns", "t").count() == n.count() + 3


def test_mutations_preserve_partition_spec(spark, sf_dir, tmp_path):
    """ADVICE (low): upsert/delete/update/compact must inherit the table's
    hive partition layout — a mutation must not silently de-partition."""
    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    o = load_table(spark, sf_dir, "orders")
    cat.create_or_replace("ns", "t", o, partition_by=["o_orderstatus"])

    sid = cat.delete_where(spark, "ns", "t", "o_orderstatus = 'P'")
    assert cat._manifest("ns", "t", sid)["partition_by"] == ["o_orderstatus"]
    sid = cat.update_where(
        spark, "ns", "t", "o_orderstatus = 'F'", {"o_totalprice": "o_totalprice * 2"}
    )
    assert cat._manifest("ns", "t", sid)["partition_by"] == ["o_orderstatus"]
    sid = cat.compact(spark, "ns", "t")
    assert cat._manifest("ns", "t", sid)["partition_by"] == ["o_orderstatus"]

    # pruning still works after the mutations: partition filter in the plan
    df = cat.read(spark, "ns", "t").filter("o_orderstatus = 'F'")
    p = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
    assert "o_orderstatus" in p.split("PartitionFilters:")[1].splitlines()[0]


def test_gc_spares_unreferenced_inflight_dirs(spark, sf_dir, tmp_path):
    """ADVICE (medium): expire_snapshots must only delete directories the
    EXPIRED manifests referenced — a concurrent committer's data dir
    (written before its manifest publishes) is referenced by no manifest
    and must survive GC. remove_orphans with an age threshold handles it."""
    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    n = load_table(spark, sf_dir, "nation")
    cat.create_or_replace("ns", "t", n)
    cat.create_or_replace("ns", "t", n.filter("n_regionkey = 0"))

    # simulate an in-flight commit: data written, manifest not yet published
    inflight = os.path.join(wh, "ns", "t", "data", "commit-inflight00000")
    os.makedirs(inflight)
    with open(os.path.join(inflight, "part-0.parquet"), "w") as f:
        f.write("placeholder")

    cat.expire_snapshots("ns", "t", keep_last=1)
    assert os.path.isdir(inflight), "GC deleted an in-flight commit's data"
    # expired snapshot 1's dir is gone, retained snapshot 2's dir remains
    dirs = set(os.listdir(os.path.join(wh, "ns", "t", "data")))
    assert len(dirs) == 2  # retained + inflight

    # orphan cleanup with age threshold: young orphan survives, old is GC'd
    assert cat.remove_orphans("ns", "t", older_than_ms=3600 * 1000) == []
    assert cat.remove_orphans("ns", "t", older_than_ms=0) == [
        "commit-inflight00000"
    ]
    assert not os.path.isdir(inflight)


def _file_sig(root):
    """(relpath, size, mtime_ns) of every file under root — byte-identity
    proxy without hashing."""
    sig = []
    for r, _d, fs in os.walk(root):
        for f in sorted(fs):
            p = os.path.join(r, f)
            st = os.stat(p)
            sig.append((os.path.relpath(p, root), st.st_size, st.st_mtime_ns))
    return sorted(sig)


def test_stats_pruned_read_skips_dirs(spark, sf_dir, tmp_path):
    """Manifest min/max stats must let a selective read skip whole data
    directories (Iceberg metrics pruning). Three appends with disjoint
    key ranges → a point-range filter plans over one directory only."""
    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    o = load_table(spark, sf_dir, "orders")
    cat.create_or_replace("ns", "t", o.filter("o_orderkey < 500"))
    cat.append("ns", "t", o.filter("o_orderkey >= 500 AND o_orderkey < 1000"))
    cat.append("ns", "t", o.filter("o_orderkey >= 1000"))

    manifest = cat._manifest("ns", "t", 3)
    assert len(manifest["files"]) == 3
    assert all("stats" in manifest["dirs"][d] for d in manifest["files"])

    pred = "o_orderkey >= 500 AND o_orderkey < 1000"
    candidates, skipped = cat._prune_dirs(manifest, pred)
    assert len(candidates) == 1 and len(skipped) == 2

    got = cat.read(spark, "ns", "t", where=pred).count()
    want = o.filter(pred).count()
    assert got == want > 0

    # timestamp conjuncts prune too (typed literal normalization)
    ts_pred = "o_orderdate < TIMESTAMP '1800-01-01 00:00:00'"
    c2, s2 = cat._prune_dirs(manifest, ts_pred)
    assert c2 == [] and len(s2) == 3
    # complex predicates prune nothing but stay correct
    c3, _ = cat._prune_dirs(manifest, "o_orderkey < 10 OR o_orderkey > 1200")
    assert len(c3) == 3


def test_file_pruned_delete_carries_untouched_dirs(spark, sf_dir, tmp_path):
    """Copy-on-write DELETE must rewrite only directories whose stats say
    they can contain doomed rows; every other directory survives
    byte-identical in the new snapshot (Iceberg MERGE cost shape)."""
    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    o = load_table(spark, sf_dir, "orders")
    cat.create_or_replace("ns", "t", o.filter("o_orderkey < 1000"))
    cat.append("ns", "t", o.filter("o_orderkey >= 1000"))
    m2 = cat._manifest("ns", "t", 2)
    lo_dir = m2["files"][0]   # holds keys < 30000
    hi_dir = m2["files"][1]
    hi_sig = _file_sig(os.path.join(wh, "ns", "t", "data", hi_dir))

    sid = cat.delete_where(spark, "ns", "t", "o_orderkey < 100")
    m3 = cat._manifest("ns", "t", sid)
    assert hi_dir in m3["files"], "untouched dir must be carried forward"
    assert lo_dir not in m3["files"], "affected dir must be rewritten"
    assert _file_sig(os.path.join(wh, "ns", "t", "data", hi_dir)) == hi_sig
    # carried dir keeps its stats in the new manifest
    assert m3["dirs"][hi_dir]["stats"] == m2["dirs"][hi_dir]["stats"]
    assert (
        cat.read(spark, "ns", "t").count()
        == o.filter("o_orderkey >= 100").count()
    )

    # a predicate matching nothing → metadata-only commit, all dirs carried
    pre_dirs = set(m3["files"])
    sid = cat.delete_where(spark, "ns", "t", "o_orderkey < 0")
    m4 = cat._manifest("ns", "t", sid)
    assert set(m4["files"]) == pre_dirs
    assert cat.read(spark, "ns", "t").count() == o.filter(
        "o_orderkey >= 100"
    ).count()


def test_file_pruned_upsert_carries_untouched_dirs(spark, sf_dir, tmp_path):
    """Upsert prunes by the delta's key range: directories whose key stats
    cannot overlap the delta carry forward untouched."""
    from pyspark.sql import functions as F

    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    o = load_table(spark, sf_dir, "orders")
    cat.create_or_replace("ns", "t", o.filter("o_orderkey < 1000"))
    cat.append("ns", "t", o.filter("o_orderkey >= 1000"))
    m2 = cat._manifest("ns", "t", 2)
    hi_dir = m2["files"][1]
    hi_sig = _file_sig(os.path.join(wh, "ns", "t", "data", hi_dir))

    delta = (
        o.filter("o_orderkey < 100")
        .withColumn("o_totalprice", F.col("o_totalprice") * 0 + 1.0)
    )
    sid = cat.upsert("ns", "t", delta, keys=["o_orderkey"])
    m3 = cat._manifest("ns", "t", sid)
    assert hi_dir in m3["files"]
    assert _file_sig(os.path.join(wh, "ns", "t", "data", hi_dir)) == hi_sig
    # merge result is exact: updated rows changed, row count unchanged
    out = cat.read(spark, "ns", "t")
    assert out.count() == o.count()
    assert (
        out.filter("o_orderkey < 100 AND o_totalprice = 1.0").count()
        == o.filter("o_orderkey < 100").count()
    )


def test_refs_tag_branch_gc(spark, sf_dir, tmp_path):
    """Iceberg refs API analogue: tags are immutable named snapshots,
    branches retarget, and GC never expires a ref-pinned snapshot."""
    import pytest

    from component_iceberg_spark.io.snaptable import SnapshotNotFound

    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    n = load_table(spark, sf_dir, "nation")
    cat.create_or_replace("ns", "t", n.filter("n_regionkey = 0"))   # sid 1
    cat.append("ns", "t", n.filter("n_regionkey = 1"))              # sid 2
    cat.create_tag("ns", "t", "v1", snapshot_id=1)
    cat.create_branch("ns", "t", "dev")                             # → sid 2
    cat.append("ns", "t", n.filter("n_regionkey = 2"))              # sid 3

    assert cat.read(spark, "ns", "t", ref="v1").count() == n.filter(
        "n_regionkey = 0"
    ).count()
    assert cat.read(spark, "ns", "t", ref="dev").count() == n.filter(
        "n_regionkey <= 1"
    ).count()

    # tags refuse retarget; branches move
    with pytest.raises(ValueError, match="immutable"):
        cat.retarget_branch("ns", "t", "v1", 3)
    cat.retarget_branch("ns", "t", "dev", 3)
    assert cat.resolve_ref("ns", "t", "dev") == 3
    assert {r["name"]: r["type"] for r in cat.list_refs("ns", "t")} == {
        "dev": "branch", "v1": "tag",
    }

    # GC keeps the tag-pinned snapshot 1, expires the unpinned snapshot 2
    expired = cat.expire_snapshots("ns", "t", keep_last=1)
    assert expired == [2]
    assert cat.read(spark, "ns", "t", ref="v1").count() > 0  # still readable
    with pytest.raises(SnapshotNotFound):
        cat.read(spark, "ns", "t", snapshot_id=2)

    # duplicate ref names refuse; drop works
    with pytest.raises(FileExistsError):
        cat.create_tag("ns", "t", "v1")
    cat.drop_ref("ns", "t", "v1")
    with pytest.raises(SnapshotNotFound):
        cat.read(spark, "ns", "t", ref="v1")


def test_row_count_from_manifest(spark, sf_dir, tmp_path):
    """count(*) answered purely from manifest row counts — no scan."""
    import pytest

    cat = SnapCatalog(str(tmp_path / "wh"))
    o = load_table(spark, sf_dir, "orders")
    cat.create_or_replace("ns", "t", o.filter("o_orderkey < 1000"))
    cat.append("ns", "t", o.filter("o_orderkey >= 1000"))
    assert cat.row_count("ns", "t") == o.count()
    assert cat.row_count("ns", "t", snapshot_id=1) == o.filter(
        "o_orderkey < 1000"
    ).count()
    # pending MoR deletes make the metadata count unknowable → refuse
    cat.delete_keys(
        spark, "ns", "t", o.filter("o_orderkey < 10"), ["o_orderkey"]
    )
    with pytest.raises(ValueError, match="merge-on-read"):
        cat.row_count("ns", "t")


def test_merge_on_read_delete_cycle(spark, sf_dir, tmp_path):
    """Equality-delete files: no data rewrite at delete time; reads mask
    deleted keys; later appends of the same key are NOT masked (delete
    scoping); compaction materializes and clears the deletes."""
    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    o = load_table(spark, sf_dir, "orders")
    cat.create_or_replace("ns", "t", o)
    data_root = os.path.join(wh, "ns", "t", "data")
    dirs_before = set(os.listdir(data_root))

    doomed = o.filter("o_orderkey < 100").select("o_orderkey")
    sid = cat.delete_keys(spark, "ns", "t", doomed, ["o_orderkey"])

    # metadata-only: no new data dir was written
    assert set(os.listdir(data_root)) == dirs_before
    assert cat._manifest("ns", "t", sid)["deletes"][0]["key_cols"] == [
        "o_orderkey"
    ]
    want = o.filter("o_orderkey >= 100").count()
    assert cat.read(spark, "ns", "t").count() == want
    # prior snapshot still sees everything (time travel unaffected)
    assert cat.read(spark, "ns", "t", snapshot_id=1).count() == o.count()

    # re-append one deleted key: the old delete must NOT mask the new row
    reborn = o.filter("o_orderkey = 5").limit(1)
    assert reborn.count() == 1
    cat.append("ns", "t", reborn)
    assert cat.read(spark, "ns", "t").count() == want + 1
    assert (
        cat.read(spark, "ns", "t").filter("o_orderkey = 5").count() == 1
    )

    # CoW mutation on top of pending MoR deletes must not resurrect them
    cat.update_where(
        spark, "ns", "t", "o_orderkey >= 100", {"o_totalprice": "0.0"}
    )
    assert cat.read(spark, "ns", "t").count() == want + 1

    # compaction materializes the deletes and clears the entries
    sid = cat.compact(spark, "ns", "t")
    m = cat._manifest("ns", "t", sid)
    assert m["deletes"] == []
    assert cat.read(spark, "ns", "t").count() == want + 1
    assert cat.row_count("ns", "t") == want + 1  # metadata count works again


def test_positional_delete_cycle(spark, sf_dir, tmp_path):
    """Position deletes (authored by (file_path, pos) address, stored
    as a deletion vector): no data rewrite at delete time; reads mask
    exactly the addressed rows; later appends are physically out of
    scope; compaction materializes and clears them — the same contract
    as the equality-delete cycle."""
    import pytest

    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cat.create_or_replace("ns", "t", o)
    data_root = os.path.join(wh, "ns", "t", "data")
    dirs_before = set(os.listdir(data_root))

    addressed = cat.read_with_positions(spark, "ns", "t")
    assert cat.POS_FILE_COL in addressed.columns
    doomed = addressed.filter("o_orderkey < 100").select(
        cat.POS_FILE_COL, cat.POS_IDX_COL
    )
    sid = cat.delete_positions(spark, "ns", "t", doomed)

    # metadata-only: no new data dir
    assert set(os.listdir(data_root)) == dirs_before
    (entry,) = cat._manifest("ns", "t", sid)["deletes"]
    assert entry["mode"] == "dv" and entry["n_positions"] > 0
    want = o.filter("o_orderkey >= 100").count()
    assert cat.read(spark, "ns", "t").count() == want
    # position columns never leak into the user schema
    assert cat.POS_FILE_COL not in cat.read(spark, "ns", "t").columns
    # time travel unaffected
    assert cat.read(spark, "ns", "t", snapshot_id=1).count() == o.count()

    # re-append a deleted key: positions name FILES, so the new physical
    # row can never be masked
    reborn = o.filter("o_orderkey = 5").limit(1)
    cat.append("ns", "t", reborn)
    assert cat.read(spark, "ns", "t").count() == want + 1
    assert cat.read(spark, "ns", "t").filter("o_orderkey = 5").count() == 1

    # authoring NEW positions over pending deletes is ambiguous → refuse
    with pytest.raises(ValueError, match="pending"):
        cat.read_with_positions(spark, "ns", "t")

    # compaction folds the position deletes in and clears the entries
    sid = cat.compact(spark, "ns", "t")
    m = cat._manifest("ns", "t", sid)
    assert m["deletes"] == []
    assert cat.read(spark, "ns", "t").count() == want + 1
    assert cat.row_count("ns", "t") == want + 1


def test_partitions_meta_hidden_spec(spark, sf_dir, tmp_path):
    """partitions() on a HIDDEN-partitioned table (transform spec)
    surfaces the DERIVED values — exactly Iceberg's partitions table,
    which shows transformed partition values — with footer-only counts
    that must agree with a real scan."""
    from pyspark.sql import functions as F

    cat = SnapCatalog(str(tmp_path / "wh"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    cat.create_or_replace("ns", "t", o, partition_spec=["month(o_orderdate)"])
    got = cat.partitions(spark, "ns", "t", stat_cols=("o_orderkey",))
    assert got.columns == [
        "_pt_month_o_orderdate", "n_rows", "min_o_orderkey",
        "max_o_orderkey",
    ]
    want = {
        tuple(r)
        for r in o.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("m")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_orderkey"),
            F.max("o_orderkey"),
        )
        .collect()
    }
    assert {tuple(r) for r in got.collect()} == want
    # the user-facing read still hides the derived column — and so does
    # the positional-address scan (r11 review fix: the read() contract
    # holds on every caller-facing surface)
    assert "_pt_month_o_orderdate" not in cat.read(spark, "ns", "t").columns
    rp = cat.read_with_positions(spark, "ns", "t")
    assert "_pt_month_o_orderdate" not in rp.columns
    assert cat.POS_FILE_COL in rp.columns


def test_compact_manifests_never_folds_positional_dirs(spark, sf_dir, tmp_path):
    """Manifest folding hard-links data files under NEW basenames, which
    would orphan stored (file_path, pos) addresses — dirs covered by a
    legacy positional entry (a v2 position-delete file no current
    writer produces) must be carried as-is, other dirs still fold, and
    the masked rows stay masked after the fold. The entry scopes to the
    dirs its addresses TOUCH (not every dir visible at delete time), so
    the second commit — addressed by nothing — folds with the clean
    dirs."""
    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    n = load_table(spark, sf_dir, "nation")
    cat.create_or_replace("ns", "t", n.filter("n_regionkey < 2"))
    cat.append("ns", "t", n.filter("n_regionkey = 2"))
    addressed = cat.read_with_positions(spark, "ns", "t")
    # n_nationkey=6 sits in the first commit (fixture: regionkey = key % 5)
    doomed = addressed.filter("n_nationkey = 6").select(
        cat.POS_FILE_COL, cat.POS_IDX_COL
    )
    assert doomed.count() == 1
    write_legacy_delete(cat, "ns", "t", doomed)
    # two more commits with no pending-delete coverage: these CAN fold
    cat.append("ns", "t", n.filter("n_regionkey = 3"))
    cat.append("ns", "t", n.filter("n_regionkey = 4"))
    want = {r.n_nationkey for r in cat.read(spark, "ns", "t").collect()}
    assert 6 not in want

    sid = cat.compact_manifests("ns", "t")
    post = cat._manifest("ns", "t", sid)
    # the ADDRESSED dir stays separate; the unaddressed second commit
    # folds with the two clean dirs -> 2 dirs total
    assert len(post["files"]) == 2
    (entry,) = post["deletes"]
    assert entry["mode"] == "positional"
    assert len(entry["applies_to"]) == 1
    got = {r.n_nationkey for r in cat.read(spark, "ns", "t").collect()}
    assert got == want


def test_compact_manifests_equality_entry_keeps_positional_dirs(
    spark, sf_dir, tmp_path
):
    """Regression (r11 self-review): an EQUALITY entry that also covers
    a positional-covered dir must keep that dir through the manifest
    fold — the positional dir's singleton group key retains the entry
    indices, so the remap still attributes the dir to the equality
    entry (an earlier draft dropped it, silently unmasking the
    equality-deleted keys in that dir)."""
    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    n = load_table(spark, sf_dir, "nation")
    cat.create_or_replace("ns", "t", n.filter("n_regionkey < 2"))
    # positional delete covering the sole dir (key 6 lives in it)
    addressed = cat.read_with_positions(spark, "ns", "t")
    cat.delete_positions(
        spark, "ns", "t",
        addressed.filter("n_nationkey = 6").select(
            cat.POS_FILE_COL, cat.POS_IDX_COL
        ),
    )
    # equality delete covering the SAME dir (key 1 also lives in it)
    cat.delete_keys(
        spark, "ns", "t",
        n.filter("n_nationkey = 1").select("n_nationkey"), ["n_nationkey"],
    )
    # two more foldable clean commits so compact_manifests is not a no-op
    cat.append("ns", "t", n.filter("n_regionkey = 3"))
    cat.append("ns", "t", n.filter("n_regionkey = 4"))
    want = {r.n_nationkey for r in cat.read(spark, "ns", "t").collect()}
    assert 6 not in want and 1 not in want

    sid = cat.compact_manifests("ns", "t")
    post = cat._manifest("ns", "t", sid)
    eq = [e for e in post["deletes"] if "key_cols" in e]
    assert len(eq) == 1 and len(eq[0]["applies_to"]) == 1, post["deletes"]
    got = {r.n_nationkey for r in cat.read(spark, "ns", "t").collect()}
    assert got == want, "equality delete must survive the fold"


def test_read_appends_between(spark, sf_dir, tmp_path):
    import pytest

    cat = SnapCatalog(str(tmp_path / "wh"))
    n = load_table(spark, sf_dir, "nation")
    cat.create_or_replace("ns", "t", n.filter("n_regionkey < 2"))   # sid 1
    cat.append("ns", "t", n.filter("n_regionkey = 2"))              # sid 2
    cat.append("ns", "t", n.filter("n_regionkey > 2"))              # sid 3

    # open window: everything appended after sid 1
    inc = cat.read_appends_between(spark, "ns", "t", 1)
    assert inc.count() == n.filter("n_regionkey >= 2").count()
    keys = {r.n_regionkey for r in inc.select("n_regionkey").distinct().collect()}
    assert keys == {2, 3, 4}

    # bounded window: only the sid-2 append
    mid = cat.read_appends_between(spark, "ns", "t", 1, to_snapshot_id=2)
    assert mid.count() == n.filter("n_regionkey = 2").count()

    # empty window: from == current -> zero rows, schema intact
    empty = cat.read_appends_between(spark, "ns", "t", 3)
    assert empty.count() == 0
    assert empty.columns == inc.columns

    # a rewrite inside the window is rejected (Iceberg restriction) ...
    cat.upsert(
        "ns", "t", n.filter("n_nationkey = 0"), keys=["n_nationkey"]
    )                                                                # sid 4
    with pytest.raises(ValueError, match="incremental read"):
        cat.read_appends_between(spark, "ns", "t", 2)
    # ... but a window ending before the rewrite still reads fine
    assert (
        cat.read_appends_between(spark, "ns", "t", 1, to_snapshot_id=3).count()
        == n.filter("n_regionkey >= 2").count()
    )


def _scan_num_files(df) -> int:
    """Sum of the executed plan's parquet-scan numFiles metrics (runtime
    post-pruning truth; inputFiles() reports the pre-pruning listing)."""
    df.collect()
    total = 0

    def walk(node):
        nonlocal total
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() == "numFiles":
                total += kv._2().value()
        for i in range(node.children().length()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return total


def test_hidden_partitioning_prunes_and_hides(spark, sf_dir, tmp_path):
    cat = SnapCatalog(str(tmp_path / "wh"))
    o = load_table(spark, sf_dir, "orders")
    cat.create_or_replace(
        "ns", "t", o, partition_spec=["month(o_orderdate)", "bucket(4, o_custkey)"]
    )
    full = cat.read(spark, "ns", "t")
    # hidden columns never reach the reader
    assert full.columns == o.columns
    full_files = _scan_num_files(full)

    # bucket transform: equality on the SOURCE column prunes to ~1/4 of
    # the files without the query naming any partition column
    b = cat.read(spark, "ns", "t", where="o_custkey = 42")
    assert [r.o_custkey for r in b.select("o_custkey").distinct().collect()] in ([42], [])
    assert b.count() == o.filter("o_custkey = 42").count()
    assert _scan_num_files(b) <= full_files // 2

    # time transform: a source-column range prunes months
    m = cat.read(
        spark, "ns", "t",
        where="o_orderdate >= '2000-01-01' AND o_orderdate < '2000-02-01'",
    )
    assert m.count() == o.filter(
        "o_orderdate >= '2000-01-01' AND o_orderdate < '2000-02-01'"
    ).count()
    assert _scan_num_files(m) < full_files // 4


def test_hidden_partitioning_survives_mutations(spark, sf_dir, tmp_path):
    cat = SnapCatalog(str(tmp_path / "wh"))
    o = load_table(spark, sf_dir, "orders")
    cat.create_or_replace(
        "ns", "t", o.filter("o_orderkey % 3 != 0"),
        partition_spec=["bucket(4, o_custkey)"],
    )
    cat.append("ns", "t", o.filter("o_orderkey % 3 = 0"))
    cat.upsert("ns", "t", o.limit(50), keys=["o_orderkey"])
    man = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    assert man["partition_spec"] == ["bucket(4, o_custkey)"]
    got = cat.read(spark, "ns", "t")
    assert got.columns == o.columns
    assert got.count() == o.count()


def test_partition_spec_literal_rewrite_matches_spark():
    """The driver-side crc32 bucket of a literal must equal the JVM-side
    bucket of the same value — that equivalence is what makes predicate
    conversion sound."""
    from component_iceberg_spark.io import partition_spec as ps

    f = ps.parse_spec(["bucket(8, k)"])[0]
    import zlib

    for v in [0, 1, 42, 999999, "abc", "x y"]:
        assert ps._transform_literal(f, v) == zlib.crc32(str(v).encode()) % 8

    day = ps.parse_spec(["day(ts)"])[0]
    assert ps._transform_literal(day, "1997-03-05 10:00:00") == "1997-03-05"
    # bucket converts equality only: range ops produce no predicate
    assert ps.derive_predicates([f], [("k", ">=", 5)]) == []
    bucket = zlib.crc32(b"5") % 8
    assert ps.derive_predicates([f], [("k", "=", 5)]) == [
        ("_pt_bucket8_k", f"(_pt_bucket8_k IS NULL OR _pt_bucket8_k = {bucket})")
    ]


def test_compact_manifests_folds_entries_metadata_only(spark, sf_dir, tmp_path):
    """compact_manifests: many manifest entries -> one, via hard links —
    content identical, time travel preserved, merged stats/row-counts
    still answer metadata-only queries, and NO data bytes are duplicated."""
    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    n = load_table(spark, sf_dir, "nation")
    cat.create_or_replace("ns", "t", n.filter("n_regionkey < 2"))
    cat.append("ns", "t", n.filter("n_regionkey = 2"))
    cat.append("ns", "t", n.filter("n_regionkey > 2"))
    pre = cat._manifest("ns", "t", 3)
    assert len(pre["files"]) == 3
    pre_rows = cat.read(spark, "ns", "t").count()

    sid = cat.compact_manifests("ns", "t")
    post = cat._manifest("ns", "t", sid)
    assert len(post["files"]) == 1
    assert post["operation"] == "compact_manifests"
    # content identical, prior snapshots untouched
    assert cat.read(spark, "ns", "t").count() == pre_rows == n.count()
    assert cat.read(spark, "ns", "t", snapshot_id=2).count() == n.filter(
        "n_regionkey <= 2"
    ).count()
    # metadata-only row_count works off the MERGED rows (no scan)
    assert cat.row_count("ns", "t") == n.count()
    # merged stats: min-of-mins / max-of-maxs over the folded dirs
    folded = post["files"][0]
    lo, hi = post["dirs"][folded]["stats"]["n_regionkey"]
    assert (lo, hi) == (0, 4)
    # hard links, not copies: every linked file shares its source inode
    import glob as _g

    data_root = os.path.join(wh, "ns", "t", "data")
    linked = _g.glob(os.path.join(data_root, folded, "*.parquet"))
    assert linked and all(os.stat(p).st_nlink >= 2 for p in linked)
    # idempotent: a second call is a no-op (no new snapshot)
    assert cat.compact_manifests("ns", "t") == sid


def test_compact_manifests_respects_delete_groups(spark, sf_dir, tmp_path):
    """Dirs are folded PER pending-delete signature: a delete registered
    before a later append must not start applying to the newer rows."""
    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    n = load_table(spark, sf_dir, "nation")
    cat.create_or_replace("ns", "t", n.filter("n_regionkey < 2"))
    cat.append("ns", "t", n.filter("n_regionkey = 2"))
    # MoR delete of key 3 — applies to snapshots 1-2's dirs only
    cat.delete_keys(
        spark, "ns", "t",
        n.filter("n_nationkey = 3").select("n_nationkey"),
        key_cols=["n_nationkey"],
    )
    # later append RE-ADDS key 3: the pending delete must not touch it
    cat.append("ns", "t", n.filter("n_nationkey = 3"))
    cat.append("ns", "t", n.filter("n_regionkey > 2 AND n_nationkey <> 3"))
    want = {r.n_nationkey for r in cat.read(spark, "ns", "t").collect()}
    assert 3 in want  # re-added row visible pre-compaction

    sid = cat.compact_manifests("ns", "t")
    post = cat._manifest("ns", "t", sid)
    # two delete-signature groups -> two folded entries, not one
    assert len(post["files"]) == 2
    got = {r.n_nationkey for r in cat.read(spark, "ns", "t").collect()}
    assert got == want
    # the remapped delete names only the folded dir of its group
    (entry,) = post["deletes"]
    assert len(entry["applies_to"]) == 1
    assert entry["applies_to"][0] in post["files"]


def test_compact_manifests_gc_safe_with_hard_links(spark, sf_dir, tmp_path):
    """Expiring the pre-fold snapshots rmtree's the ORIGINAL dirs; the
    folded dir's hard links must keep the data alive."""
    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    n = load_table(spark, sf_dir, "nation")
    cat.create_or_replace("ns", "t", n.filter("n_regionkey < 2"))
    cat.append("ns", "t", n.filter("n_regionkey >= 2"))
    cat.compact_manifests("ns", "t")
    cat.expire_snapshots("ns", "t", keep_last=1)
    assert cat.read(spark, "ns", "t").count() == n.count()
    assert cat.row_count("ns", "t") == n.count()


def test_cluster_rewrite_prunes_and_preserves(spark, sf_dir, tmp_path):
    """cluster_rewrite: key-interleaved appends (every dir spans the full
    key range, zero pruning possible) -> 8 range-disjoint sorted dirs.
    Content identical, time travel intact, and a range predicate now
    skips most directories on manifest stats alone."""
    from pyspark.sql import functions as F

    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    o = load_table(spark, sf_dir, "orders")
    cat.create_or_replace("ns", "t", o.filter(F.col("o_orderkey") % 3 == 0))
    cat.append("ns", "t", o.filter(F.col("o_orderkey") % 3 == 1))
    cat.append("ns", "t", o.filter(F.col("o_orderkey") % 3 == 2))
    max_key = o.agg(F.max("o_orderkey")).collect()[0][0]
    pred = f"o_orderkey <= {max_key // 8}"
    pre_manifest = cat._manifest("ns", "t", 3)
    _pre_cands, pre_skipped = cat._prune_dirs(pre_manifest, pred)
    assert pre_skipped == []  # interleaved appends: nothing skippable

    sid = cat.cluster_rewrite(spark, "ns", "t", "o_orderkey", n_buckets=8)
    post = cat._manifest("ns", "t", sid)
    assert post["operation"] == "cluster_rewrite"
    assert len(post["files"]) == 8
    # disjoint narrow ranges: a 1/8th-range predicate skips >= half
    _cands, skipped = cat._prune_dirs(post, pred)
    assert len(skipped) >= 4, (len(skipped), post["dirs"])
    # content identical (full scan) and exact under the predicate
    assert cat.read(spark, "ns", "t").count() == o.count()
    expect = o.filter(pred).count()
    assert cat.read(spark, "ns", "t", where=pred).count() == expect
    # prior snapshots untouched
    assert (
        cat.read(spark, "ns", "t", snapshot_id=1).count()
        == o.filter(F.col("o_orderkey") % 3 == 0).count()
    )


def test_cluster_rewrite_refuses_partitioned(spark, sf_dir, tmp_path):
    """Cluster order and a partition spec are competing physical layouts:
    the rewrite must refuse rather than silently de-partition."""
    import pytest
    from pyspark.sql import functions as F

    cat = SnapCatalog(str(tmp_path / "wh"))
    n = load_table(spark, sf_dir, "nation")
    cat.create_or_replace("ns", "t", n, partition_by=["n_regionkey"])
    with pytest.raises(ValueError, match="partitioned"):
        cat.cluster_rewrite(spark, "ns", "t", "n_nationkey")


def test_cluster_rewrite_materializes_deletes(spark, sf_dir, tmp_path):
    """Pending merge-on-read deletes are applied and cleared by the
    rewrite (same contract as compact)."""
    from pyspark.sql import functions as F

    cat = SnapCatalog(str(tmp_path / "wh"))
    n = load_table(spark, sf_dir, "nation")
    cat.create_or_replace("ns", "t", n)
    doomed = spark.createDataFrame(
        [(0,), (1,), (2,)], schema="n_nationkey bigint"
    )
    cat.delete_keys(spark, "ns", "t", doomed, ["n_nationkey"])
    sid = cat.cluster_rewrite(spark, "ns", "t", "n_nationkey", n_buckets=2)
    post = cat._manifest("ns", "t", sid)
    assert not post.get("deletes")
    assert cat.read(spark, "ns", "t").count() == n.count() - 3


def test_wap_failed_audit_leaves_published_branch(spark, sf_dir, tmp_path):
    """Write-audit-publish refusal path: a staged batch that fails audit
    (duplicate keys here) must leave the ``published`` ref on the last
    good snapshot — readers never see the bad batch, and no cleanup is
    needed (the unpublished snapshot is simply never pointed at, and a
    later keep_last GC can drop it since only refs pin snapshots)."""
    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    n = load_table(spark, sf_dir, "nation")
    base = n.filter("n_regionkey = 0")
    good_sid = cat.create_or_replace("ns", "t", base)
    cat.create_branch("ns", "t", "published", snapshot_id=good_sid)

    # bad batch: re-appends base rows → duplicate n_nationkey values
    staged_sid = cat.append("ns", "t", base)
    audit = cat.read(spark, "ns", "t", snapshot_id=staged_sid).groupBy(
        "n_nationkey"
    ).count().filter("count > 1").count()
    assert audit > 0  # audit catches the duplicates
    # ... so the publish step never runs; the ref still serves base
    assert cat.resolve_ref("ns", "t", "published") == good_sid
    got = cat.read(spark, "ns", "t", ref="published")
    assert got.count() == base.count()

    # retry flow: roll back to the last good state (metadata-only), then
    # stage + publish a clean batch — the bad batch never reaches readers
    cat.rollback_to("ns", "t", good_sid)
    retry = n.filter("n_regionkey = 1")
    retry_sid = cat.append("ns", "t", retry)
    cat.retarget_branch("ns", "t", "published", retry_sid)
    assert cat.read(spark, "ns", "t", ref="published").count() == (
        base.count() + retry.count()
    )


def test_changelog_diff_scans_only_churned_dirs(spark, sf_dir, tmp_path):
    """changelog_diff cost contract: the CDC scan may only open data
    dirs named by the manifest diff — a directory untouched between the
    two snapshots must not appear in the plan's input files, no matter
    how big it is. Also pins the CoW cancellation: carried-over rows of
    the rewritten file never leak into the delta."""
    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    n = load_table(spark, sf_dir, "nation")
    # disjoint key ranges so the CoW delete's stats pruning provably
    # leaves dir A untouched (overlapping ranges would rewrite both)
    sid1 = cat.create_or_replace("ns", "t", n.filter("n_nationkey < 12"))
    untouched_dir = cat._manifest("ns", "t", sid1)["files"][0]     # dir A
    sid2 = cat.append("ns", "t", n.filter("n_nationkey >= 12"))    # dir B
    victim = 20
    cat.delete_where(spark, "ns", "t", f"n_nationkey = {victim}")  # B only

    diff = cat.changelog_diff(spark, "ns", "t", sid2)
    rows = diff.collect()
    assert [(r["n_nationkey"], r["change_type"]) for r in rows] == [
        (victim, "delete")
    ]
    # dir A (the region-0 commit) was untouched -> never opened
    files = diff.inputFiles()
    assert files and all(untouched_dir not in f for f in files), files

    # MoR pending deletes refuse (file diff can't see delete files)
    cat.append("ns", "t", n.filter("n_regionkey = 2"))
    doomed = n.filter("n_regionkey = 2").select("n_nationkey").limit(1)
    cat.delete_keys(spark, "ns", "t", doomed, ["n_nationkey"])
    import pytest

    with pytest.raises(ValueError, match="merge-on-read"):
        cat.changelog_diff(spark, "ns", "t", sid2)


def test_expire_snapshots_policy_per_branch(spark, sf_dir, tmp_path):
    import pytest

    from component_iceberg_spark.io.snaptable import SnapshotNotFound

    cat = SnapCatalog(str(tmp_path / "wh"))
    n = load_table(spark, sf_dir, "nation")
    cat.create_or_replace("ns", "t", n.filter("n_regionkey = 0"))   # s1
    for rk in (1, 2, 3, 4):                                         # s2..s5
        cat.append("ns", "t", n.filter(f"n_regionkey = {rk}"))
    snaps = [s["snapshot_id"] for s in cat._snapshots("ns", "t")]
    cat.create_branch("ns", "t", "audit", snapshot_id=snaps[2])     # head s3
    cat.create_tag("ns", "t", "release", snapshot_id=snaps[0])      # tag s1

    # unknown branch refuses before touching anything
    with pytest.raises(SnapshotNotFound):
        cat.expire_snapshots("ns", "t", branch_keep={"nope": 2})
    assert len(cat._snapshots("ns", "t")) == 5

    expired = cat.expire_snapshots(
        "ns", "t", keep_last=1, branch_keep={"audit": 2}
    )
    # retained: s5 (main keep_last), s3 head + s2 ancestor, s1 (tag pin)
    assert expired == [snaps[3]]
    left = [s["snapshot_id"] for s in cat._snapshots("ns", "t")]
    assert left == [snaps[0], snaps[1], snaps[2], snaps[4]]
    # branch head, its retained ancestor, and the tag all stay readable
    assert cat.read(spark, "ns", "t", ref="audit").count() == 3 * (
        n.count() // 5
    )
    assert cat.read(spark, "ns", "t", snapshot_id=snaps[1]).count() > 0
    assert cat.read(spark, "ns", "t", ref="release").count() > 0
    # expired snapshot fails fast on the manifest
    with pytest.raises(SnapshotNotFound):
        cat.read(spark, "ns", "t", snapshot_id=snaps[3])


def test_expire_policy_refuses_tags_in_branch_keep(spark, sf_dir, tmp_path):
    import pytest

    cat = SnapCatalog(str(tmp_path / "wh"))
    n = load_table(spark, sf_dir, "nation")
    cat.create_or_replace("ns", "t", n)
    cat.append("ns", "t", n.limit(1))
    cat.create_tag("ns", "t", "release")
    with pytest.raises(ValueError, match="tag"):
        cat.expire_snapshots("ns", "t", branch_keep={"release": 2})
    assert len(cat._snapshots("ns", "t")) == 2


def test_merge_multi_action_semantics(spark, tmp_path):
    """Clause-by-clause MERGE contract: matched+delete_when removes,
    matched+update_when replaces, matched without either keeps the target
    row, unmatched source consults insert_when ONLY (a delete event for an
    unseen key is a no-op, but an insert-eligible row lands even when
    delete_when would also be true — matched clauses never apply to
    unmatched rows, same as Iceberg MERGE INTO)."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    target = spark.createDataFrame(
        [(1, "keep", 10.0), (2, "del", 20.0), (3, "upd", 30.0), (4, "hold", 40.0)],
        "k long, tag string, v double",
    )
    cat.create_or_replace("ns", "t", target)
    source = spark.createDataFrame(
        [
            (2, "D", 0.0),     # matched delete
            (3, "U", 99.0),    # matched, update_when true (v > 50)
            (4, "U", 5.0),     # matched, update_when false -> target kept
            (5, "U", 77.0),    # unmatched insert
            (6, "D", 0.0),     # unmatched delete event -> no-op
        ],
        "k long, tag string, v double",
    )
    cat.merge(
        "ns", "t", source, keys=["k"],
        delete_when="tag = 'D'",
        update_when="v > 50",
        insert_when="tag <> 'D'",
    )
    got = {
        (r.k, r.tag, r.v) for r in cat.read(spark, "ns", "t").collect()
    }
    assert got == {
        (1, "keep", 10.0),   # untouched target
        (3, "U", 99.0),      # updated
        (4, "hold", 40.0),   # guard false -> target survives
        (5, "U", 77.0),      # inserted
    }
    # snapshot history: create + merge
    ops = [s.operation for s in cat.snapshots(spark, "ns", "t").collect()]
    assert ops == ["replace", "merge"]


def test_merge_defaults_equal_upsert(spark, sf_dir, tmp_path):
    """With no clause conditions, merge IS upsert: same surviving rows."""
    from pyspark.sql import functions as F

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    base = o.filter(F.col("o_orderkey") % 3 != 0)
    delta = o.filter(F.col("o_orderkey") % 2 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 1.1
    )
    a = SnapCatalog(str(tmp_path / "a"))
    a.create_or_replace("ns", "t", base)
    a.upsert("ns", "t", delta, keys=["o_orderkey"])
    b = SnapCatalog(str(tmp_path / "b"))
    b.create_or_replace("ns", "t", base)
    b.merge("ns", "t", delta, keys=["o_orderkey"])
    ra = {tuple(r) for r in a.read(spark, "ns", "t").collect()}
    rb = {tuple(r) for r in b.read(spark, "ns", "t").collect()}
    assert ra == rb and len(ra) > 0

    # a target holding a key twice: the updated key loses every copy
    dup = spark.createDataFrame([(1, 10), (1, 11), (2, 20)], "k long, v long")
    one = spark.createDataFrame([(1, 99)], "k long, v long")
    a.create_or_replace("ns", "d", dup)
    a.upsert("ns", "d", one, keys=["k"])
    b.create_or_replace("ns", "d", dup)
    b.merge("ns", "d", one, keys=["k"])
    for cat in (a, b):
        got = sorted(tuple(r) for r in cat.read(spark, "ns", "d").collect())
        assert got == [(1, 99), (2, 20)]


def test_merge_missing_table_inserts_only_insert_when(spark, tmp_path):
    cat = SnapCatalog(str(tmp_path / "wh"))
    src = spark.createDataFrame(
        [(1, "D"), (2, "U")], "k long, tag string"
    )
    cat.merge(
        "ns", "t", src, keys=["k"],
        delete_when="tag = 'D'", insert_when="tag <> 'D'",
    )
    got = {(r.k, r.tag) for r in cat.read(spark, "ns", "t").collect()}
    assert got == {(2, "U")}


def test_merge_file_pruning_carries_untouched_dirs(spark, tmp_path):
    """A source whose key range misses a data dir's stats must leave that
    dir physically untouched in the new snapshot (same carry contract as
    upsert's)."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    lo = spark.createDataFrame([(i, "lo") for i in range(10)], "k long, tag string")
    hi = spark.createDataFrame([(i, "hi") for i in range(100, 110)], "k long, tag string")
    cat.create_or_replace("ns", "t", lo)
    cat.append("ns", "t", hi)
    before = set(os.listdir(os.path.join(str(tmp_path / "wh"), "ns", "t", "data")))
    src = spark.createDataFrame([(105, "D"), (106, "U2")], "k long, tag string")
    cat.merge("ns", "t", src, keys=["k"], delete_when="tag = 'D'")
    after = set(os.listdir(os.path.join(str(tmp_path / "wh"), "ns", "t", "data")))
    # the lo dir from the first two snapshots must still be present and
    # referenced (carried), so the old dirs are a subset of the new listing
    assert before <= after
    got = {(r.k, r.tag) for r in cat.read(spark, "ns", "t").collect()}
    assert (105, "D") not in got and (106, "U2") in got
    assert {(i, "lo") for i in range(10)} <= got


def test_merge_no_overlap_rejects_schema_mismatch(spark, tmp_path):
    """Schema validation must run BEFORE key-range pruning decides there
    are no candidate dirs: a source whose key range misses every target
    dir but whose columns diverge used to be committed as a new data dir
    beside the carried ones, silently producing a mixed-schema table."""
    import pytest

    cat = SnapCatalog(str(tmp_path / "wh"))
    target = spark.createDataFrame(
        [(i, "t") for i in range(10)], "k long, tag string"
    )
    cat.create_or_replace("ns", "t", target)
    # key range (1000+) misses the lone dir -> zero candidates
    bad = spark.createDataFrame(
        [(1000, 3.14)], "k long, other double"
    )
    with pytest.raises(ValueError, match="schema must match"):
        cat.merge("ns", "t", bad, keys=["k"])
    # matched-path mismatch still raises too (hoisted check covers both)
    bad2 = spark.createDataFrame([(3, 2.71)], "k long, other double")
    with pytest.raises(ValueError, match="schema must match"):
        cat.merge("ns", "t", bad2, keys=["k"])
    # table unchanged: no mixed-schema dir was committed
    assert cat.read(spark, "ns", "t").count() == 10


def test_upsert_no_overlap_rejects_schema_mismatch(spark, tmp_path):
    """upsert shares merge's hoisted schema gate: a delta whose key range
    misses every target dir (zero candidates) but whose columns diverge
    used to commit as a new data dir beside the carried ones — a silent
    mixed-schema table."""
    import pytest

    cat = SnapCatalog(str(tmp_path / "wh"))
    cat.create_or_replace(
        "ns", "t",
        spark.createDataFrame([(i, "t") for i in range(10)], "k long, tag string"),
    )
    bad = spark.createDataFrame([(1000, 3.14)], "k long, other double")
    with pytest.raises(ValueError, match="schema must match"):
        cat.upsert("ns", "t", bad, keys=["k"])
    bad2 = spark.createDataFrame([(3, 2.71)], "k long, other double")
    with pytest.raises(ValueError, match="schema must match"):
        cat.upsert("ns", "t", bad2, keys=["k"])
    assert cat.read(spark, "ns", "t").count() == 10


def test_merge_upsert_reject_type_divergence(spark, tmp_path):
    """Same column NAMES but divergent TYPES must fail the gate too —
    name-only validation let a no-candidate merge/upsert commit a
    type-mixed table (the manifest records the full Spark schema JSON,
    so types are checkable up front)."""
    import pytest

    cat = SnapCatalog(str(tmp_path / "wh"))
    cat.create_or_replace(
        "ns", "t",
        spark.createDataFrame([(i, "t") for i in range(10)], "k long, tag string"),
    )
    # no-candidate key range AND tag is double, not string
    bad = spark.createDataFrame([(1000, 3.14)], "k long, tag double")
    with pytest.raises(ValueError, match="types must match"):
        cat.upsert("ns", "t", bad, keys=["k"])
    with pytest.raises(ValueError, match="types must match"):
        cat.merge("ns", "t", bad, keys=["k"])
    assert cat.read(spark, "ns", "t").count() == 10


def test_schema_gate_falls_back_without_manifest_schema(spark, tmp_path):
    """A legacy manifest with no recorded schema must NOT skip the gate:
    the check falls back to the table's physical read schema, so the
    no-candidate mixed-schema commit stays impossible."""
    import json
    import pytest

    cat = SnapCatalog(str(tmp_path / "wh"))
    cat.create_or_replace(
        "ns", "t",
        spark.createDataFrame([(i, "t") for i in range(10)], "k long, tag string"),
    )
    # simulate a legacy snapshot: blank the recorded schema in-place
    sid = cat._current_sid("ns", "t")
    mpath = cat._tbl("ns", "t", "snapshots", f"{sid}.json")
    m = json.loads(open(mpath).read())
    m["schema"] = None
    open(mpath, "w").write(json.dumps(m))
    bad = spark.createDataFrame([(1000, 3.14)], "k long, other double")
    with pytest.raises(ValueError, match="schema must match"):
        cat.upsert("ns", "t", bad, keys=["k"])
    # a well-formed delta still goes through on the fallback path
    ok = spark.createDataFrame([(1000, "new")], "k long, tag string")
    cat.upsert("ns", "t", ok, keys=["k"])
    assert cat.read(spark, "ns", "t").count() == 11


def test_zorder_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """The z-order contract vs single-column clustering: after
    zorder_rewrite on (a, b), range predicates on a AND on b each skip
    directories; after cluster_rewrite on a alone, a b-predicate skips
    (almost) nothing. Content and time travel preserved in both."""
    from pyspark.sql import functions as F

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    zc = SnapCatalog(str(tmp_path / "z"))
    zc.create_or_replace("ns", "t", o)
    before = {tuple(r) for r in zc.read(spark, "ns", "t").collect()}
    sid = zc.zorder_rewrite(
        spark, "ns", "t", ["o_custkey", "o_totalprice"], n_buckets=16
    )
    m = zc._manifest("ns", "t", sid)
    assert m["operation"] == "zorder_rewrite"
    n_dirs = len(m["files"])
    ck = o.agg(F.max("o_custkey")).collect()[0][0]
    tp = o.agg(F.max("o_totalprice")).collect()[0][0]
    _c, skip_a = zc._prune_dirs(m, f"o_custkey <= {int(ck) // 4}")
    _c, skip_b = zc._prune_dirs(m, f"o_totalprice <= {float(tp) / 4}")
    assert len(skip_a) >= n_dirs // 4, (len(skip_a), n_dirs)
    assert len(skip_b) >= n_dirs // 4, (len(skip_b), n_dirs)
    # content identical, prior snapshot still readable
    after = {tuple(r) for r in zc.read(spark, "ns", "t").collect()}
    assert after == before
    assert zc.read(spark, "ns", "t", snapshot_id=1).count() == len(before)

    # comparative: single-column clustering cannot serve dimension b
    cc = SnapCatalog(str(tmp_path / "c"))
    cc.create_or_replace("ns", "t", o)
    sid_c = cc.cluster_rewrite(spark, "ns", "t", "o_custkey", n_buckets=16)
    mc = cc._manifest("ns", "t", sid_c)
    assert mc["operation"] == "cluster_rewrite"
    _c, skip_c = cc._prune_dirs(mc, f"o_totalprice <= {float(tp) / 4}")
    assert len(skip_c) <= len(skip_b) // 2, (
        "sorted-on-a layout should not prune b-predicates"
    )


def test_zorder_refuses_single_column_and_partitioned(spark, sf_dir, tmp_path):
    import pytest as _pt
    from pyspark.sql import functions as F

    o = load_table(spark, sf_dir, "orders")
    cat = SnapCatalog(str(tmp_path / "wh"))
    cat.create_or_replace("ns", "t", o)
    with _pt.raises(ValueError, match=">= 2 columns"):
        cat.zorder_rewrite(spark, "ns", "t", ["o_custkey"])
    cat2 = SnapCatalog(str(tmp_path / "wh2"))
    cat2.create_or_replace(
        "ns", "t", o, partition_by=["o_orderstatus"]
    )
    with _pt.raises(ValueError, match="partitioned"):
        cat2.zorder_rewrite(spark, "ns", "t", ["o_custkey", "o_totalprice"])


def test_partitioned_read_prunes_with_in_predicate(spark, tmp_path):
    """The stored-index serving path (sim_ann_ivf_stored): a table
    committed hive-partitioned by a bucket column, read back with
    ``where="bucket IN (…)"``, must prune the unprobed partitions at
    file-listing time — the physical scan's PartitionFilters carries the
    IN predicate and the scanned files drop accordingly."""
    from pyspark.sql import functions as F

    cat = SnapCatalog(str(tmp_path / "wh"))
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 8).alias("bucket")
    )
    cat.create_or_replace("ns", "t", df, partition_by=["bucket"])
    pruned = cat.read(spark, "ns", "t", where="bucket IN (1, 3)")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # the IN predicate must land in the scan's PartitionFilters (listing-
    # time pruning), not merely in a post-scan Filter. inputFiles() is NOT
    # usable as evidence — it reports the base relation before pruning.
    pf = plan[plan.index("PartitionFilters"):]
    pf = pf[: pf.index("]") + 1]
    assert "bucket" in pf and "IN(1,3)" in pf.replace(" ", ""), pf
    got = {r.id for r in pruned.collect()}
    assert got == {i for i in range(100) if i % 8 in (1, 3)}


def test_check_constraint_blocks_before_write(spark, tmp_path):
    """append(check=...): a violating batch raises with a sample row and
    leaves the table exactly as it was — no partial dir, no new snapshot."""
    import pytest
    from pyspark.sql import functions as F

    cat = SnapCatalog(str(tmp_path / "wh"))
    ok = spark.range(10).select("id", (F.col("id") * 2).alias("v"))
    cat.append("ns", "t", ok, check="v >= 0")
    sid_before = cat._current_sid("ns", "t")
    bad = spark.range(3).select("id", (-F.col("id") - 1).alias("v"))
    with pytest.raises(ValueError, match="CHECK constraint violated"):
        cat.append("ns", "t", bad, check="v >= 0")
    assert cat._current_sid("ns", "t") == sid_before
    assert cat.read(spark, "ns", "t").count() == 10
    # the check validates WRITTEN files pre-publish: the rejected dir
    # must be cleaned up, leaving exactly the good commit's data dir
    data_root = str(tmp_path / "wh" / "ns" / "t" / "data")
    assert len(os.listdir(data_root)) == 1


def test_check_constraint_malformed_predicate_sweeps_dir(spark, tmp_path):
    """append(check=...) with a predicate that does not even parse: the
    validation read throws (AnalysisException, not the violation path) —
    the unpublished data dir must still be swept, not orphaned."""
    import pytest
    from pyspark.sql import functions as F

    cat = SnapCatalog(str(tmp_path / "wh"))
    ok = spark.range(10).select("id", (F.col("id") * 2).alias("v"))
    cat.append("ns", "t", ok, check="v >= 0")
    sid_before = cat._current_sid("ns", "t")
    more = spark.range(5).select("id", F.col("id").alias("v"))
    with pytest.raises(Exception):
        cat.append("ns", "t", more, check="no_such_column >= 0")
    assert cat._current_sid("ns", "t") == sid_before
    data_root = str(tmp_path / "wh" / "ns" / "t" / "data")
    assert len(os.listdir(data_root)) == 1


def test_read_ordered_recovers_cross_commit_order(spark, tmp_path):
    """read_ordered: two ordered appends with uuid-named dirs; ordering
    by (_commit_seq, _file_path, _row_index) recovers GLOBAL insertion
    order even when the second commit's uuid sorts before the first's
    (file_path alone cannot). Pending equality deletes are refused."""
    import pytest
    from pyspark.sql import functions as F

    cat = SnapCatalog(str(tmp_path / "wh"))
    a = spark.range(0, 50).select(F.col("id"))
    b = spark.range(50, 100).select(F.col("id"))
    cat.append("ns", "t", a, sort_by=["id"])
    cat.append("ns", "t", b, sort_by=["id"])
    df = cat.read_ordered(spark, "ns", "t", with_position=True)
    rows = [
        r.id
        for r in df.orderBy("_commit_seq", "_file_path", "_row_index").collect()
    ]
    assert rows == list(range(100))
    # pending equality deletes -> explicit refusal
    doomed = spark.createDataFrame([(7,)], "id long")
    cat.delete_keys(spark, "ns", "t", doomed, ["id"])
    with pytest.raises(ValueError, match="compact"):
        cat.read_ordered(spark, "ns", "t")


def test_dpp_join_plan_has_dynamic_pruning(spark, sf_dir):
    """snap_dpp_join's contract: the fact scan's PartitionFilters carries
    a dynamicpruningexpression (runtime partition list from the
    broadcast dim), not a statically-inferred predicate — the dim filter
    aggregates the data, so nothing static is available to infer."""
    from component_iceberg_spark.plans import load_all

    reg = load_all()
    df = reg["snap_dpp_join"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = [
        line for line in plan.splitlines()
        if "PartitionFilters" in line and "dynamicpruning" in line
    ]
    assert pf, f"no dynamic pruning in fact scan:\n{plan[:2000]}"


def test_files_meta_no_scan_and_null_stats(spark, sf_dir, tmp_path):
    """``files`` answers from the manifest alone: counts/min/max match a
    real scan, a column with no recorded stats (strings can be dropped,
    unknown names always) surfaces as NULLs, and metadata-only commits
    (delete_where rewrites) keep the table enumerable."""
    from pyspark.sql import functions as F

    cat = SnapCatalog(str(tmp_path / "wh"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    cat.append("ns", "t", o.filter(F.col("o_orderkey") % 2 == 0))
    cat.append("ns", "t", o.filter(F.col("o_orderkey") % 2 == 1))

    meta = cat.files(
        spark, "ns", "t", stat_cols=("o_orderkey", "no_such_col")
    ).orderBy("ordinal")
    rows = meta.collect()
    assert [r.ordinal for r in rows] == [0, 1]
    scan = (
        cat.read(spark, "ns", "t")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_orderkey").alias("lo"),
            F.max("o_orderkey").alias("hi"),
        )
        .collect()[0]
    )
    assert sum(r.n_rows for r in rows) == scan.n
    assert min(r.min_o_orderkey for r in rows) == scan.lo
    assert max(r.max_o_orderkey for r in rows) == scan.hi
    # unknown column: NULL stats, string-typed placeholder, no error
    assert all(r.min_no_such_col is None for r in rows)
    assert all(r.max_no_such_col is None for r in rows)
    # a rewrite commit (delete) keeps files() consistent with the new state
    cat.delete_where(spark, "ns", "t", "o_orderkey % 2 = 0")
    meta2 = cat.files(spark, "ns", "t", stat_cols=("o_orderkey",))
    assert (
        meta2.agg(F.sum("n_rows")).collect()[0][0]
        == cat.read(spark, "ns", "t").count()
    )


def test_timetravel_asof_bounds_and_ties(spark, sf_dir, tmp_path):
    """as_of_ms resolves to the latest snapshot at-or-before the
    timestamp; a timestamp before the first commit raises; equal-
    timestamp commits resolve to the LATER one (history order)."""
    import json
    import os

    import pytest

    from component_iceberg_spark.io.snaptable import SnapshotNotFound

    cat = SnapCatalog(str(tmp_path / "wh"))
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    cat.append("ns", "t", o.limit(10))
    cat.append("ns", "t", o.limit(5))
    snaps = cat._snapshots("ns", "t")
    with pytest.raises(SnapshotNotFound):
        cat.read(spark, "ns", "t", as_of_ms=snaps[0]["timestamp_ms"] - 1)
    # pin both snapshots to the SAME timestamp: as-of must take the later
    for s in snaps:
        p = os.path.join(
            str(tmp_path / "wh"), "ns", "t", "snapshots",
            f"{s['snapshot_id']}.json",
        )
        m = json.load(open(p))
        m["timestamp_ms"] = snaps[0]["timestamp_ms"]
        json.dump(m, open(p, "w"))
    df = cat.read(spark, "ns", "t", as_of_ms=snaps[0]["timestamp_ms"])
    assert df.count() == 15  # both commits: resolved to snapshot 2


def test_upsert_evolve_additive_only(spark, tmp_path):
    """evolve=True admits ADDITIVE columns only: a delta with an extra
    column merges (old rows NULL-fill the new column, carried files are
    not rewritten); a delta MISSING a target column or retyping a
    common one is refused even with evolve=True; and without evolve the
    extra column stays refused."""
    import pytest

    cat = SnapCatalog(str(tmp_path / "wh"))
    cat.create_or_replace(
        "ns", "t",
        spark.createDataFrame(
            [(i, f"t{i}") for i in range(10)], "k long, tag string"
        ),
    )
    extra = spark.createDataFrame(
        [(3, "t3x", 1.5), (1000, "new", 2.5)], "k long, tag string, w double"
    )
    # refused without the flag
    with pytest.raises(ValueError, match="schema must match"):
        cat.upsert("ns", "t", extra, keys=["k"])
    # admitted with it: matched row updated, new row inserted, the other
    # 9 base rows surface w as NULL
    cat.upsert("ns", "t", extra, keys=["k"], evolve=True)
    rows = {r.k: (r.tag, r.w) for r in cat.read(spark, "ns", "t").collect()}
    assert len(rows) == 11
    assert rows[3] == ("t3x", 1.5) and rows[1000] == ("new", 2.5)
    assert rows[0] == ("t0", None)
    # evolution never drops...
    missing = spark.createDataFrame([(5, 9.9)], "k long, w double")
    with pytest.raises(ValueError, match="must cover every"):
        cat.upsert("ns", "t", missing, keys=["k"], evolve=True)
    # ...and never retypes
    retyped = spark.createDataFrame(
        [(5, 7, 9.9)], "k long, tag long, w double"
    )
    with pytest.raises(ValueError, match="types must match"):
        cat.upsert("ns", "t", retyped, keys=["k"], evolve=True)


def test_upsert_evolve_no_candidate_path(spark, tmp_path):
    """The ADVICE r6 bug class, evolution edition: a disjoint-key-range
    delta (zero candidate dirs — the delta commits beside carried dirs)
    with a new column must still land the EVOLVED schema and NULL-fill
    the carried rows on read."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    cat.create_or_replace(
        "ns", "t",
        spark.createDataFrame(
            [(i, f"t{i}") for i in range(10)], "k long, tag string"
        ),
    )
    far = spark.createDataFrame(
        [(10_000, "far", 42.0)], "k long, tag string, w double"
    )
    cat.upsert("ns", "t", far, keys=["k"], evolve=True)
    out = cat.read(spark, "ns", "t")
    assert set(out.columns) == {"k", "tag", "w"}
    rows = {r.k: r.w for r in out.collect()}
    assert len(rows) == 11 and rows[10_000] == 42.0
    assert all(v is None for k, v in rows.items() if k != 10_000)


def test_merge_evolve_multi_action(spark, tmp_path):
    """merge(evolve=True): a source carrying a NEW column drives
    delete/update/insert clauses while evolving the schema — kept target
    rows (matched-but-not-updated AND unmatched) surface the new column
    as NULL, updated/inserted rows carry it; without the flag the same
    source is refused."""
    import pytest

    cat = SnapCatalog(str(tmp_path / "wh"))
    cat.create_or_replace(
        "ns", "t",
        spark.createDataFrame(
            [(i, f"t{i}") for i in range(6)], "k long, tag string"
        ),
    )
    src = spark.createDataFrame(
        [
            (0, "del", 0.0),   # matched, delete_when
            (1, "upd", 1.5),   # matched, update
            (2, "keep", 2.5),  # matched, update_when false -> target kept
            (100, "ins", 3.5),  # unmatched, insert
            (200, "del", 4.5),  # unmatched, insert_when false -> dropped
        ],
        "k long, tag string, w double",
    )
    with pytest.raises(ValueError, match="schema must match"):
        cat.merge("ns", "t", src, keys=["k"],
                  delete_when="tag = 'del'", update_when="tag <> 'keep'",
                  insert_when="tag <> 'del'")
    cat.merge(
        "ns", "t", src, keys=["k"],
        delete_when="tag = 'del'", update_when="tag <> 'keep'",
        insert_when="tag <> 'del'", evolve=True,
    )
    rows = {r.k: (r.tag, r.w) for r in cat.read(spark, "ns", "t").collect()}
    assert rows == {
        1: ("upd", 1.5),
        2: ("t2", None),     # matched, kept -> NULL new column
        3: ("t3", None), 4: ("t4", None), 5: ("t5", None),
        100: ("ins", 3.5),
    }, rows


def test_history_lineage_marks_rolled_back_non_ancestor(spark, sf_dir, tmp_path):
    """t.history metadata table: the rollback's lineage parent is its
    TARGET, so the snapshots it undid stay time-travelable but drop off
    the current-ancestor chain — including through a rollback OF a
    rollback (the walk follows rollback_of transitively)."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    n = load_table(spark, sf_dir, "nation")
    cat.create_or_replace("ns", "t", n.filter("n_regionkey = 0"))   # sid 1
    cat.append("ns", "t", n.filter("n_regionkey = 1"))              # sid 2
    cat.append("ns", "t", n.filter("n_regionkey = 2"))              # sid 3
    cat.rollback_to("ns", "t", 2)                                   # sid 4
    h = {
        r.snapshot_id: (r.parent_id, r.is_current_ancestor)
        for r in cat.history(spark, "ns", "t").collect()
    }
    assert h == {
        1: (None, True),
        2: (1, True),
        3: (2, False),
        4: (2, True),   # lineage parent = rollback target
    }, h
    # made_current_at is populated and non-decreasing in snapshot order
    ts = [
        r.made_current_at_ms
        for r in cat.history(spark, "ns", "t")
        .orderBy("snapshot_id")
        .collect()
    ]
    assert all(a <= b for a, b in zip(ts, ts[1:])) and ts[0] > 0

    # rollback OF a rollback: undoing sid 4 back to sid 3 re-admits 3
    # (and its ancestors) and drops 4 off the chain
    cat.rollback_to("ns", "t", 3)                                   # sid 5
    h2 = {
        r.snapshot_id: r.is_current_ancestor
        for r in cat.history(spark, "ns", "t").collect()
    }
    assert h2 == {1: True, 2: True, 3: True, 4: False, 5: True}, h2


def test_metadata_row_producers_match_their_dataframes(spark, sf_dir, tmp_path):
    """``snapshots()`` / ``history()`` are ``local_relation`` wrappers
    over ``snapshot_rows`` / ``history_rows``: same rows in the same
    order, same schema — on a rolled-back history, so
    ``is_current_ancestor`` is mixed."""
    from pyspark.sql.types import StructType

    cat = SnapCatalog(str(tmp_path / "wh"))
    n = load_table(spark, sf_dir, "nation")
    cat.create_or_replace("ns", "t", n.filter("n_regionkey = 0"))   # sid 1
    cat.append("ns", "t", n.filter("n_regionkey = 1"))              # sid 2
    cat.append("ns", "t", n.filter("n_regionkey = 2"))              # sid 3
    cat.rollback_to("ns", "t", 2)                                   # sid 4
    for frame, producer in (
        (cat.snapshots, cat.snapshot_rows),
        (cat.history, cat.history_rows),
    ):
        rows, schema = producer("ns", "t")
        df = frame(spark, "ns", "t")
        assert [tuple(r) for r in df.collect()] == rows
        assert df.schema.simpleString() == StructType.fromDDL(schema).simpleString()
    rows, _schema = cat.history_rows("ns", "t")
    assert [r[3] for r in rows] == [True, True, False, True]


def test_refs_table_includes_implicit_main(spark, sf_dir, tmp_path):
    """t.refs metadata table: explicit tags/branches plus the implicit
    main branch tracking the CURRENT snapshot (it advances with every
    commit; explicit refs stay pinned)."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    n = load_table(spark, sf_dir, "nation")
    cat.create_or_replace("ns", "t", n.filter("n_regionkey = 0"))   # sid 1
    cat.create_tag("ns", "t", "v1")
    refs = {
        r.name: (r.type, r.snapshot_id)
        for r in cat.refs(spark, "ns", "t").collect()
    }
    assert refs == {"main": ("branch", 1), "v1": ("tag", 1)}, refs
    cat.append("ns", "t", n.filter("n_regionkey = 1"))              # sid 2
    refs = {
        r.name: (r.type, r.snapshot_id)
        for r in cat.refs(spark, "ns", "t").collect()
    }
    assert refs == {"main": ("branch", 2), "v1": ("tag", 1)}, refs


def test_rename_column_metadata_only(spark, sf_dir, tmp_path):
    """rename_column is a METADATA-ONLY commit: the data dirs are carried
    byte-identical, old dirs resolve their physical name through the
    rename chain (values merge exactly with post-rename appends), stats
    keys remap so metrics pruning keeps working on the new name, and
    time travel at the pre-rename snapshot still shows the old name."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    cat.create_or_replace("ns", "t", n.filter("n_regionkey < 2"))   # sid 1
    sid2 = cat.rename_column("ns", "t", "n_name", "nation_name")    # sid 2
    assert sid2 == 2
    # metadata-only: same data dirs, no new files
    m1 = cat._manifest("ns", "t", 1)
    m2 = cat._manifest("ns", "t", 2)
    assert m1["files"] == m2["files"]
    # post-rename append writes the new physical name
    cat.append(
        "ns", "t",
        n.filter("n_regionkey >= 2").withColumnRenamed("n_name", "nation_name"),
    )                                                               # sid 3
    got = {
        r.n_nationkey: r.nation_name
        for r in cat.read(spark, "ns", "t").collect()
    }
    want = {r.n_nationkey: r.n_name for r in n.collect()}
    assert got == want                      # both generations, no NULLs
    assert "n_name" not in cat.read(spark, "ns", "t").columns
    # time travel: the pre-rename snapshot keeps the old name
    assert "n_name" in cat.read(spark, "ns", "t", snapshot_id=1).columns
    # stats keys remapped: files() answers min/max under the NEW name
    f = cat.files(spark, "ns", "t", stat_cols=("nation_name",)).collect()
    assert all(r.min_nation_name is not None for r in f)
    # and stats pruning on the new name skips non-matching OLD dirs
    cand, skipped = cat._prune_dirs(
        cat._manifest("ns", "t", 3), "nation_name = 'ZZZ'"
    )
    assert skipped, (cand, skipped)


def test_rename_column_chain_and_guards(spark, sf_dir, tmp_path):
    """Rename chains resolve transitively; guards: unknown column,
    existing target, retired-name reuse (rename target AND re-append),
    partition-spec source, pending equality delete."""
    import pytest

    cat = SnapCatalog(str(tmp_path / "wh"))
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    cat.create_or_replace("ns", "t", n.filter("n_regionkey = 0"))
    cat.rename_column("ns", "t", "n_name", "nm1")
    cat.rename_column("ns", "t", "nm1", "nm2")
    rows = cat.read(spark, "ns", "t").collect()
    assert rows and all(r.nm2 is not None for r in rows)
    with pytest.raises(ValueError, match="no column"):
        cat.rename_column("ns", "t", "nope", "x")
    with pytest.raises(ValueError, match="already has"):
        cat.rename_column("ns", "t", "n_nationkey", "nm2")
    with pytest.raises(ValueError, match="retired"):
        cat.rename_column("ns", "t", "n_regionkey", "n_name")
    # appending a retired name back is refused too
    with pytest.raises(ValueError, match="retired"):
        cat.append(
            "ns", "t",
            n.filter("n_regionkey = 1")
            .withColumnRenamed("n_name", "nm2")
            .withColumn("nm1", F.lit("ghost")),
        )
    # partition-source guard
    o = load_table(spark, sf_dir, "orders").limit(100)
    cat.create_or_replace(
        "ns", "p", o, partition_spec=["year(o_orderdate)"]
    )
    with pytest.raises(ValueError, match="partition-spec source"):
        cat.rename_column("ns", "p", "o_orderdate", "odate")
    # pending equality-delete guard
    cat.create_or_replace("ns", "d", n.filter("n_regionkey <= 1"))
    cat.delete_keys(
        spark, "ns", "d",
        spark.createDataFrame([(0,)], "n_nationkey long"),
        ["n_nationkey"],
    )
    with pytest.raises(ValueError, match="equality-delete"):
        cat.rename_column("ns", "d", "n_nationkey", "k")
    cat.compact(spark, "ns", "d")
    cat.rename_column("ns", "d", "n_nationkey", "k")   # now fine
    assert 0 not in {r.k for r in cat.read(spark, "ns", "d").collect()}


def test_drop_column_metadata_only(spark, sf_dir, tmp_path):
    """drop_column projects the column away on every read without
    touching data; pre-drop snapshots still show it; post-drop appends
    land on the narrowed schema; the dropped name is retired (no
    reintroduction); the last column refuses to drop."""
    import pytest

    cat = SnapCatalog(str(tmp_path / "wh"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    cat.create_or_replace("ns", "t", o.filter("o_orderkey % 3 = 0"))  # sid 1
    cat.drop_column("ns", "t", "o_orderstatus")                       # sid 2
    m1, m2 = cat._manifest("ns", "t", 1), cat._manifest("ns", "t", 2)
    assert m1["files"] == m2["files"]                # metadata-only
    cols = cat.read(spark, "ns", "t").columns
    assert cols == ["o_orderkey", "o_custkey", "o_totalprice"], cols
    assert "o_orderstatus" in cat.read(spark, "ns", "t", snapshot_id=1).columns
    cat.append(
        "ns", "t",
        o.filter("o_orderkey % 3 = 1").drop("o_orderstatus"),
    )
    assert cat.read(spark, "ns", "t").count() == o.filter(
        "o_orderkey % 3 <= 1"
    ).count()
    with pytest.raises(ValueError, match="retired"):
        cat.append("ns", "t", o.filter("o_orderkey % 3 = 2"))
    tiny = SnapCatalog(str(tmp_path / "wh2"))
    tiny.create_or_replace(
        "ns", "one", spark.createDataFrame([(1,)], "x long")
    )
    with pytest.raises(ValueError, match="last column"):
        tiny.drop_column("ns", "one", "x")


def test_schema_edits_reset_on_replace_and_compact(spark, sf_dir, tmp_path):
    """A full replace (and a compact, which rewrites every dir from a
    resolved read) materializes the logical schema — the rename chain
    and retired set reset, so the names become reusable again."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    cat.create_or_replace("ns", "t", n.filter("n_regionkey = 0"))
    cat.rename_column("ns", "t", "n_name", "nm")
    cat.compact(spark, "ns", "t")
    m = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    assert not m.get("renames") and not m.get("retired")
    # retired name reusable after the physical rewrite
    cat.append(
        "ns", "t",
        n.filter("n_regionkey = 1")
        .withColumnRenamed("n_name", "nm")
        .withColumn("n_name", F.lit("fresh")),
    )
    rows = cat.read(spark, "ns", "t").collect()
    assert {r.n_name for r in rows} == {None, "fresh"}


def test_incremental_read_across_rename(spark, sf_dir, tmp_path):
    """read_appends_between stays well-posed across metadata-only schema
    edits (no rows changed): appends after the rename surface under the
    end schema."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    cat.create_or_replace("ns", "t", n.filter("n_regionkey = 0"))   # sid 1
    cat.rename_column("ns", "t", "n_name", "nm")                    # sid 2
    cat.append(
        "ns", "t",
        n.filter("n_regionkey = 1").withColumnRenamed("n_name", "nm"),
    )                                                               # sid 3
    inc = cat.read_appends_between(spark, "ns", "t", 1)
    assert inc.columns == ["n_nationkey", "nm", "n_regionkey"]
    assert inc.count() == n.filter("n_regionkey = 1").count()


def test_widen_column_type_metadata_only(spark, sf_dir, tmp_path):
    """widen_column_type (int→long / float→double, the Iceberg-legal
    promotions) is METADATA-ONLY: old narrow files upcast at scan via
    the explicit wide read schema; post-widen appends may exceed the old
    range; a narrow append after the widening cannot revert the logical
    type; time travel pre-widen shows the narrow type; stats pruning
    still works; illegal promotions and partitioned layouts refuse."""
    import pytest

    cat = SnapCatalog(str(tmp_path / "wh"))
    n = (
        load_table(spark, sf_dir, "nation")
        .select(
            F.col("n_nationkey").cast("int").alias("k"),
            F.col("n_name").alias("nm"),
            F.col("n_regionkey").cast("float").alias("r"),
        )
    )
    cat.create_or_replace("ns", "t", n.filter("k < 10"))            # sid 1
    cat.widen_column_type("ns", "t", "k", "bigint")                 # sid 2
    cat.widen_column_type("ns", "t", "r", "double")                 # sid 3
    m1 = cat._manifest("ns", "t", 1)
    m3 = cat._manifest("ns", "t", 3)
    assert m1["files"] == m3["files"]               # metadata-only
    # post-widen append with values beyond int range
    big = spark.createDataFrame(
        [(2**40, "BIGLAND", 9.25)], "k long, nm string, r double"
    )
    cat.append("ns", "t", big)                                      # sid 4
    df = cat.read(spark, "ns", "t")
    assert dict(df.dtypes)["k"] == "bigint" and dict(df.dtypes)["r"] == "double"
    got = {r.k for r in df.collect()}
    assert 2**40 in got and 0 in got and len(got) == 11
    # narrow append after the widening: upcasts, logical type stays wide
    cat.append(
        "ns", "t",
        spark.createDataFrame([(11, "NARROW", 1.5)], "k int, nm string, r float"),
    )
    df = cat.read(spark, "ns", "t")
    assert dict(df.dtypes)["k"] == "bigint"
    assert {r.k for r in df.collect()} == got | {11}
    # time travel: pre-widen snapshot keeps the narrow type
    assert dict(cat.read(spark, "ns", "t", snapshot_id=1).dtypes)["k"] == "int"
    # stats pruning still prunes on the widened column
    cand, skipped = cat._prune_dirs(
        cat._manifest("ns", "t", cat._current_sid("ns", "t")),
        "k > 1000000000000000",
    )
    assert skipped, (cand, skipped)
    # guards
    with pytest.raises(ValueError, match="only"):
        cat.widen_column_type("ns", "t", "nm", "bigint")
    with pytest.raises(ValueError, match="no column"):
        cat.widen_column_type("ns", "t", "zzz", "bigint")
    o = (
        load_table(spark, sf_dir, "orders")
        .limit(50)
        .withColumn("o_orderkey", F.col("o_orderkey").cast("int"))
    )
    cat.create_or_replace("ns", "p", o, partition_by=["o_orderstatus"])
    with pytest.raises(ValueError, match="partitioned"):
        cat.widen_column_type("ns", "p", "o_orderkey", "bigint")


def test_widen_composes_with_rename(spark, sf_dir, tmp_path):
    """Rename + widen on the same column: the explicit scan schema
    carries the retired alias at the WIDE type, so the oldest generation
    (narrow, old name) upcasts and folds into the logical column."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    cat.create_or_replace(
        "ns", "t",
        spark.createDataFrame([(1, "a")], "k int, v string"),
    )                                                               # sid 1
    cat.rename_column("ns", "t", "k", "key")                        # sid 2
    cat.widen_column_type("ns", "t", "key", "bigint")               # sid 3
    cat.append(
        "ns", "t",
        spark.createDataFrame([(2**40, "b")], "key long, v string"),
    )                                                               # sid 4
    rows = {r.key: r.v for r in cat.read(spark, "ns", "t").collect()}
    assert rows == {1: "a", 2**40: "b"}, rows
    assert dict(cat.read(spark, "ns", "t").dtypes)["key"] == "bigint"


def test_bloom_pruning_skips_dirs_minmax_cannot(spark, sf_dir, tmp_path):
    """Manifest bloom filters (the point-lookup complement to min/max
    stats): commits split by key % 3 interleave c_name across the whole
    lexical range, so range stats prune NOTHING for an equality lookup —
    the registered bloom skips every dir that cannot contain the value,
    and never skips the dir that does (probed over a value sample)."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    cat.create_or_replace(
        "ns", "t", c.filter("c_custkey % 3 = 0"), bloom_cols=["c_name"]
    )
    cat.append("ns", "t", c.filter("c_custkey % 3 = 1"))  # inherits blooms
    cat.append("ns", "t", c.filter("c_custkey % 3 = 2"))
    m = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    assert all(
        len(r["blooms"]) == 1 for r in m["dirs"].values() if "blooms" in r
    )
    # min/max alone cannot prune the % 3 = 0 dir (its name range covers
    # the value; only the boundary dir whose lexical min exceeds the
    # literal falls to range stats)
    stats_only = {
        **m,
        "dirs": {
            d: {k: v for k, v in r.items() if k != "blooms"}
            for d, r in m["dirs"].items()
        },
    }
    cand, stats_skipped = cat._split_by_stats(
        stats_only,
        [("c_name", "=", "Customer#000000001")],
    )
    assert len(stats_skipped) <= 1, stats_skipped
    # the bloom skips the two non-containing dirs
    cand, skipped = cat._prune_dirs(m, "c_name = 'Customer#000000001'")
    assert len(skipped) == 2, (cand, skipped)
    # never-skip safety: every probed value's dir survives -> exact reads
    for k in (0, 1, 2, 7, 11):
        name = f"Customer#{k:09d}"
        got = cat.read(spark, "ns", "t", where=f"c_name = '{name}'").count()
        assert got == 1, (name, got)
    # absent value: every dir skipped
    cand, skipped = cat._prune_dirs(m, "c_name = 'Customer#notreal'")
    assert not cand, (cand, skipped)


def test_bloom_int_column_and_widen_compat(spark, sf_dir, tmp_path):
    """Integer-column blooms: the probe hashes the parsed int literal
    the same way the build side hashed the parquet values, including
    after an int->long widening (the canonical int representation is
    width-independent)."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(0, 400, 2)], "k int, v string"
    )
    cat.create_or_replace("ns", "t", df, bloom_cols=["k"])
    cat.append(
        "ns", "t",
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(1, 400, 2)], "k int, v string"
        ),
    )
    m = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    cand, skipped = cat._prune_dirs(m, "k = 7")
    assert len(skipped) == 1, (cand, skipped)
    assert cat.read(spark, "ns", "t", where="k = 7").count() == 1
    cat.widen_column_type("ns", "t", "k", "bigint")
    m = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    cand, skipped = cat._prune_dirs(m, "k = 7")
    assert len(skipped) == 1, (cand, skipped)
    assert cat.read(spark, "ns", "t", where="k = 7").count() == 1


def test_bloom_survives_manifest_fold_and_rename(spark, sf_dir, tmp_path):
    """compact_manifests OR-merges same-shape blooms into the folded
    entry (value union = bit OR), and rename_column remaps the bloom
    keys with the stats keys — point lookups keep skipping after both."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    cat.create_or_replace(
        "ns", "t", c.filter("c_custkey % 4 = 0"), bloom_cols=["c_name"]
    )
    for r in (1, 2, 3):
        cat.append("ns", "t", c.filter(f"c_custkey % 4 = {r}"))
    n_total = c.count()
    cat.compact_manifests("ns", "t")
    m = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    assert len(m["files"]) == 1
    folded = m["files"][0]
    assert "c_name" in m["dirs"][folded].get("blooms", {}), m["dirs"]
    # merged bloom: present values hit, absent values skip the only dir
    cand, _ = cat._prune_dirs(m, "c_name = 'Customer#000000002'")
    assert cand == [folded]
    cand, skipped = cat._prune_dirs(m, "c_name = 'Customer#notreal'")
    assert not cand and skipped == [folded]
    assert cat.read(spark, "ns", "t").count() == n_total
    # rename remaps the bloom key
    cat.rename_column("ns", "t", "c_name", "customer_name")
    m = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    cand, skipped = cat._prune_dirs(
        m, "customer_name = 'Customer#notreal'"
    )
    assert not cand and skipped == [folded]
    assert (
        cat.read(
            spark, "ns", "t",
            where="customer_name = 'Customer#000000002'",
        ).count()
        == 1
    )


def test_bloom_type_mismatch_never_skips(spark, tmp_path):
    """A numeric predicate literal against a STRING-valued bloom column
    (``v = 5`` where v holds '5') must NOT skip the dir — the engine's
    cast semantics can still match the row. The bloom records its value
    kind and a kind mismatch is always conservative."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(1, "5"), (2, "7")], "k long, v string"
    )
    cat.create_or_replace("ns", "t", df, bloom_cols=["v"])
    m = cat._manifest("ns", "t", 1)
    d = m["files"][0]
    assert m["dirs"][d]["blooms"]["v"]["kind"] == "s"
    # int literal vs string bloom: never prune
    cand, skipped = cat._split_by_stats(m, [("v", "=", 5)])
    assert cand == [d] and not skipped
    # matching kind still prunes the absent value
    cand, skipped = cat._split_by_stats(m, [("v", "=", "zzz")])
    assert not cand and skipped == [d]
    # and the engine read (cast match) returns the row either way
    assert cat.read(spark, "ns", "t", where="v = 5").count() == 1


def test_incremental_read_across_widen(spark, tmp_path):
    """read_appends_between stays well-posed across a widen commit
    (metadata-only, no rows changed)."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    cat.create_or_replace(
        "ns", "t", spark.createDataFrame([(1, "a")], "k int, v string")
    )                                                               # sid 1
    cat.widen_column_type("ns", "t", "k", "bigint")                 # sid 2
    cat.append(
        "ns", "t",
        spark.createDataFrame([(2**40, "b")], "k long, v string"),
    )                                                               # sid 3
    inc = cat.read_appends_between(spark, "ns", "t", 1)
    assert [r.k for r in inc.collect()] == [2**40]


def test_read_returns_empty_when_all_dirs_pruned(spark, sf_dir, tmp_path):
    """Point lookup of an ABSENT value on a bloom-registered table: every
    dir is skipped — the normal bloom outcome — and read() must return
    an empty frame with the logical schema, not crash on a zero-path
    parquet read."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    cat.create_or_replace(
        "ns", "t", c.filter("c_custkey % 2 = 0"), bloom_cols=["c_name"]
    )
    cat.append("ns", "t", c.filter("c_custkey % 2 = 1"))
    out = cat.read(spark, "ns", "t", where="c_name = 'Customer#notreal'")
    assert out.columns == ["c_custkey", "c_name"]
    assert out.count() == 0


def test_prune_literal_quote_unescape(spark, tmp_path):
    """SQL-escaped quotes in predicate literals: the engine's filter
    sees O'Brien, so the stats/bloom probes must compare/hash the
    UNESCAPED value — before the fix the bloom hashed the raw O''Brien
    and wrongly skipped the dir holding the row."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(1, "O'Brien"), (2, "Smith")], "k long, v string"
    )
    cat.create_or_replace("ns", "t", df, bloom_cols=["v"])
    out = cat.read(spark, "ns", "t", where="v = 'O''Brien'")
    assert [r.k for r in out.collect()] == [1]
    m = cat._manifest("ns", "t", 1)
    cand, _ = cat._prune_dirs(m, "v = 'O''Brien'")
    assert cand == m["files"]


def test_narrow_append_keeps_evolved_columns_on_renamed_table(
    spark, tmp_path
):
    """A lineage-active table (rename chain present) PROJECTS reads to
    the manifest schema — so an append with a NARROWER schema must not
    hide previously evolved columns (mergeSchema keeps surfacing them on
    plain tables; the manifest schema unions the parent's fields)."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    cat.create_or_replace(
        "ns", "t", spark.createDataFrame([(1, "b1")], "a long, b string")
    )
    cat.append(
        "ns", "t",
        spark.createDataFrame([(2, "b2", "d2")], "a long, b string, d string"),
    )                                   # evolution adds d
    cat.rename_column("ns", "t", "a", "x")
    cat.append(
        "ns", "t", spark.createDataFrame([(3, "b3")], "x long, b string")
    )                                   # narrower than the evolved schema
    rows = {r.x: (r.b, r.d) for r in cat.read(spark, "ns", "t").collect()}
    assert rows == {1: ("b1", None), 2: ("b2", "d2"), 3: ("b3", None)}, rows


def test_cluster_rewrite_resets_schema_lineage(spark, sf_dir, tmp_path):
    """cluster/zorder rewrites materialize every dir from a RESOLVED
    read, so the rename chain and retired set reset (compact()'s
    semantics) and retired names become reusable — while
    compact_manifests, whose folded dirs hard-link OLD files, keeps the
    lineage."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    cat.create_or_replace("ns", "t", n.filter("n_regionkey <= 1"))
    cat.rename_column("ns", "t", "n_name", "nm")
    cat.cluster_rewrite(spark, "ns", "t", "n_nationkey", n_buckets=2)
    m = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    assert not m.get("renames") and not m.get("retired")
    cat.append(
        "ns", "t",
        n.filter("n_regionkey = 2")
        .withColumnRenamed("n_name", "nm")
        .withColumn("n_name", F.lit("reused")),
    )
    assert cat.read(spark, "ns", "t").filter("n_name = 'reused'").count() > 0
    # contrast: manifest folding KEEPS the lineage (old files hard-linked)
    cat2 = SnapCatalog(str(tmp_path / "wh2"))
    cat2.create_or_replace("ns", "t", n.filter("n_regionkey = 0"))
    cat2.append("ns", "t", n.filter("n_regionkey = 1"))
    cat2.rename_column("ns", "t", "n_name", "nm")
    cat2.compact_manifests("ns", "t")
    m2 = cat2._manifest("ns", "t", cat2._current_sid("ns", "t"))
    assert m2.get("renames") and "n_name" in (m2.get("retired") or [])
    got = {r.n_nationkey for r in cat2.read(spark, "ns", "t").collect()}
    assert got == {r.n_nationkey for r in n.filter("n_regionkey <= 1").collect()}


def test_cluster_rewrite_keeps_bloom_registration(spark, sf_dir, tmp_path):
    """cluster_rewrite must not silently drop the table's bloom
    registration (ADVICE r11): the rewritten manifest keeps bloom_cols,
    carries fresh blooms for the new bucket dirs, and a subsequent
    append keeps building blooms — point-lookup pruning survives the
    re-layout."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    cat.create_or_replace("ns", "t", c, bloom_cols=["c_name"])
    cat.cluster_rewrite(spark, "ns", "t", "c_nationkey", n_buckets=3)
    m = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    assert m.get("bloom_cols") == ["c_name"], m.get("bloom_cols")
    assert m["files"] and all(
        "c_name" in m["dirs"][d].get("blooms", {}) for d in m["files"]
    ), m.get("dirs")
    # appends after the rewrite keep building blooms (inherited cols)
    cat.append("ns", "t", c.limit(7))
    m = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    assert all(
        "c_name" in m["dirs"][d].get("blooms", {}) for d in m["files"]
    )
    # and the registered bloom still prunes an absent value entirely
    cand, skipped = cat._prune_dirs(m, "c_name = 'Customer#notreal'")
    assert not cand and len(skipped) == len(m["files"])


def test_bloom_float_probe_beyond_double_precision_never_skips(
    spark, tmp_path
):
    """A float equality literal at/above 2**53 must never bloom-skip
    (ADVICE r11): the engine compares long = double by casting the long
    to double, so a stored long can be double-equal yet integer-unequal
    to the literal — the int-keyed probe would miss and wrongly skip the
    dir. Below 2**53 the conversion stays exact and pruning still
    works."""
    from component_iceberg_spark.io.manifest import bloom_maybe_contains

    big = 2**53 + 1  # rounds to 2**53 as a double
    cat = SnapCatalog(str(tmp_path / "wh"))
    df = spark.createDataFrame([(big, "x")], "k long, v string")
    cat.create_or_replace("ns", "t", df, bloom_cols=["k"])
    m = cat._manifest("ns", "t", 1)
    bloom = m["dirs"][m["files"][0]]["blooms"]["k"]
    # double-equal but integer-different literal: conservative keep
    assert bloom_maybe_contains(bloom, float(2**53)) is True
    assert bloom_maybe_contains(bloom, -float(2**53)) is True
    # below the precision cliff the exact int conversion still prunes
    assert bloom_maybe_contains(bloom, 12345.0) is False


def test_main_ref_is_reserved_and_resolves_to_current(
    spark, sf_dir, tmp_path
):
    """'main' is the implicit current-snapshot branch (ADVICE r11): a
    user ref of that name is rejected (refs() would list two conflicting
    main rows), and resolve_ref('main') tracks the current snapshot,
    agreeing with the implicit row refs() synthesizes."""
    import pytest

    cat = SnapCatalog(str(tmp_path / "wh"))
    n = load_table(spark, sf_dir, "nation")
    cat.create_or_replace("ns", "t", n.filter("n_regionkey = 0"))   # sid 1
    with pytest.raises(ValueError, match="implicit current branch"):
        cat.create_branch("ns", "t", "main")
    with pytest.raises(ValueError, match="implicit current branch"):
        cat.create_tag("ns", "t", "main")
    assert cat.resolve_ref("ns", "t", "main") == 1
    cat.append("ns", "t", n.filter("n_regionkey = 1"))              # sid 2
    assert cat.resolve_ref("ns", "t", "main") == 2
    names = [r.name for r in cat.refs(spark, "ns", "t").collect()]
    assert names.count("main") == 1, names


def test_add_files_no_copy_and_lifecycle(spark, sf_dir, tmp_path):
    """add_files adopts an external parquet directory as ONE metadata
    commit with ZERO bytes copied: every adopted file is the SAME inode
    as its source (hard link), the parent dirs are carried verbatim, the
    read equals the union, and footer stats make the adopted dir a
    first-class pruning citizen. Dropping the adopting snapshot removes
    only the links — the source files keep their bytes."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    ext = str(tmp_path / "external_src")
    o.filter("o_orderkey % 3 = 1").write.parquet(ext)
    cat.create_or_replace("ns", "t", o.filter("o_orderkey % 3 = 0"))
    n_before = cat.read(spark, "ns", "t").count()
    sid = cat.add_files(spark, "ns", "t", ext)
    m = cat._manifest("ns", "t", sid)
    assert m["operation"] == "add_files"
    adopted = [d for d in m["files"] if d.startswith("adopted-")]
    assert len(adopted) == 1 and len(m["files"]) == 2
    # no-copy pin: file identity via inode
    ad_dir = os.path.join(cat.warehouse, "ns", "t", "data", adopted[0])
    linked = sorted(glob.glob(os.path.join(ad_dir, "**", "*.parquet"),
                              recursive=True))
    srcs = sorted(glob.glob(os.path.join(ext, "*.parquet")))
    assert linked and len(linked) == len(srcs)
    for a, b in zip(linked, srcs):
        assert os.path.samefile(a, b), (a, b)
    # read = union; row_count answered from the manifest
    n_ext = o.filter("o_orderkey % 3 = 1").count()
    assert cat.read(spark, "ns", "t").count() == n_before + n_ext
    assert cat.row_count("ns", "t") == n_before + n_ext
    # footer stats recorded → the adopted dir prunes like any other
    assert "o_orderkey" in m["dirs"][adopted[0]].get("stats", {})
    # appends on top keep working
    cat.append("ns", "t", o.filter("o_orderkey % 3 = 2"))
    assert cat.read(spark, "ns", "t").count() == o.count()
    # dropping the adopting snapshots unlinks, never deletes source bytes
    cat.create_or_replace("ns", "t", o.limit(1))
    cat.expire_snapshots("ns", "t", keep_last=1)
    assert sorted(glob.glob(os.path.join(ext, "*.parquet"))) == srcs
    assert spark.read.parquet(ext).count() == n_ext


def test_add_files_refusal_modes(spark, sf_dir, tmp_path):
    """add_files refuses: double adoption (same or nested source path),
    a source inside the table's own layout, a schema-mismatched source,
    a hive-partitioned target, and an empty source."""
    import pytest

    cat = SnapCatalog(str(tmp_path / "wh"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    ext = str(tmp_path / "src_a")
    o.filter("o_orderkey % 3 = 1").write.parquet(ext)
    cat.create_or_replace("ns", "t", o.filter("o_orderkey % 3 = 0"))
    cat.add_files(spark, "ns", "t", ext)
    with pytest.raises(ValueError, match="overlaps an already-adopted"):
        cat.add_files(spark, "ns", "t", ext)
    inside = os.path.join(cat.warehouse, "ns", "t", "data")
    with pytest.raises(ValueError, match="inside the table's own layout"):
        cat.add_files(spark, "ns", "t", inside)
    bad = str(tmp_path / "src_bad")
    o.withColumnRenamed("o_totalprice", "price").write.parquet(bad)
    with pytest.raises(ValueError, match="schema must match"):
        cat.add_files(spark, "ns", "t", bad)
    empty = str(tmp_path / "src_empty")
    os.makedirs(empty)
    with pytest.raises(ValueError, match="no parquet files"):
        cat.add_files(spark, "ns", "t", empty)
    cat2 = SnapCatalog(str(tmp_path / "wh2"))
    full = load_table(spark, sf_dir, "orders")
    cat2.create_or_replace(
        "ns", "p", full.limit(100), partition_by=["o_orderstatus"]
    )
    src_c = str(tmp_path / "src_c")
    full.limit(10).write.parquet(src_c)
    with pytest.raises(ValueError, match="hive-partitioned"):
        cat2.add_files(spark, "ns", "p", src_c)


def test_add_files_crash_and_link_contracts(spark, sf_dir, tmp_path,
                                            monkeypatch):
    """The r12 ADVICE hardening, pinned: (a) the adoption marker is
    written BEFORE the commit publishes and swept on in-band failure —
    a failed attempt leaves no marker and the retry succeeds; (b) a
    hard-crash leftover (committed=false marker) refuses the retry
    LOUDLY instead of risking silently doubled rows; (c) the symlink
    fallback is opt-in — a cross-device link failure refuses by
    default, and allow_symlink=True records the weaker link_mode in
    the marker."""
    import pytest

    cat = SnapCatalog(str(tmp_path / "wh"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    ext = str(tmp_path / "src_a")
    o.filter("o_orderkey % 3 = 1").write.parquet(ext)
    cat.create_or_replace("ns", "t", o.filter("o_orderkey % 3 = 0"))
    adopt_root = os.path.join(cat.warehouse, "ns", "t", "adopted")
    # (a) in-band commit failure sweeps marker AND linked dir: retry OK
    real_commit = cat._commit_metadata
    monkeypatch.setattr(
        cat, "_commit_metadata",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("boom")),
    )
    with pytest.raises(RuntimeError, match="boom"):
        cat.add_files(spark, "ns", "t", ext)
    monkeypatch.setattr(cat, "_commit_metadata", real_commit)
    assert os.listdir(adopt_root) == [], "failed attempt must sweep marker"
    sid = cat.add_files(spark, "ns", "t", ext)
    (fn,) = os.listdir(adopt_root)
    with open(os.path.join(adopt_root, fn)) as f:
        rec = json.load(f)
    assert rec["committed"] is True and rec["snapshot_id"] == sid
    assert rec["link_mode"] == "hardlink"
    # (b) hard-crash leftover: committed=false marker refuses loudly
    ext_b = str(tmp_path / "src_b")
    o.filter("o_orderkey % 3 = 2").write.parquet(ext_b)
    pend = os.path.join(adopt_root, "adopted-deadbeef.json")
    with open(pend, "w") as f:
        json.dump({"src": os.path.realpath(ext_b),
                   "dir": "adopted-deadbeef", "committed": False}, f)
    with pytest.raises(ValueError, match="PENDING adoption marker"):
        cat.add_files(spark, "ns", "t", ext_b)
    os.remove(pend)
    # (c) symlink fallback is opt-in
    monkeypatch.setattr(
        os, "link",
        lambda *a, **k: (_ for _ in ()).throw(OSError(18, "EXDEV")),
    )
    with pytest.raises(ValueError, match="allow_symlink"):
        cat.add_files(spark, "ns", "t", ext_b)
    assert not [
        f for f in os.listdir(adopt_root) if "deadbeef" in f
    ], "refused adoption leaves no marker"
    sid_b = cat.add_files(spark, "ns", "t", ext_b, allow_symlink=True)
    recs = []
    for f_name in os.listdir(adopt_root):
        with open(os.path.join(adopt_root, f_name)) as f:
            recs.append(json.load(f))
    by_src = {r["src"]: r for r in recs}
    assert by_src[os.path.realpath(ext_b)]["link_mode"] == "symlink"
    assert by_src[os.path.realpath(ext_b)]["snapshot_id"] == sid_b
    assert cat.read(spark, "ns", "t").count() == o.count()


def test_all_manifests_lifecycle(spark, sf_dir, tmp_path):
    """all_manifests (Iceberg ``t.all_manifests`` analogue): one row per
    manifest entry per REFERENCING snapshot, added_snapshot_id = the
    earliest referencing snapshot and stable under carries; a CoW
    rewrite's new dir is added by the rewrite snapshot while old
    snapshots keep referencing the old dirs (time travel); expiry drops
    exactly the expired snapshots' rows and the GC question 'which
    snapshots pin dir X' is answerable from the view."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    cat.create_or_replace("ns", "t", o.filter("o_orderkey % 2 = 0"))
    sid1 = cat._current_sid("ns", "t")
    cat.append("ns", "t", o.filter("o_orderkey % 2 = 1"))
    sid2 = cat._current_sid("ns", "t")
    sid3 = cat.compact(spark, "ns", "t")  # CoW rewrite: new dir
    am = {
        (r.reference_snapshot_id, r.path): r
        for r in cat.all_manifests(spark, "ns", "t").collect()
    }
    d1 = cat._manifest("ns", "t", sid1)["files"]
    d2 = [d for d in cat._manifest("ns", "t", sid2)["files"] if d not in d1]
    d3 = cat._manifest("ns", "t", sid3)["files"]
    (a,), (b,), (c,) = d1, d2, d3
    assert c not in (a, b), "compact rewrote into a new dir"
    # carried entries keep their added_snapshot_id; is_added only once
    assert am[(sid1, a)].is_added and am[(sid1, a)].added_snapshot_id == sid1
    assert not am[(sid2, a)].is_added
    assert am[(sid2, a)].added_snapshot_id == sid1
    assert am[(sid2, b)].is_added
    # rewrite snapshot references ONLY the new dir; old snapshots still
    # reference the old dirs (time travel intact)
    assert am[(sid3, c)].is_added and (sid3, a) not in am
    assert am[(sid1, a)] is not None and am[(sid2, b)] is not None
    # n_rows from the manifest agrees with the read at each snapshot
    assert am[(sid3, c)].n_rows == o.count()
    # 'which snapshots pin dir a' = the GC question
    pin_a = sorted(
        sid for (sid, p) in am if p == a
    )
    assert pin_a == [sid1, sid2]
    # expiry drops exactly the expired snapshots' rows
    cat.expire_snapshots("ns", "t", keep_last=1)
    left = cat.all_manifests(spark, "ns", "t").collect()
    assert {r.reference_snapshot_id for r in left} == {sid3}
    assert {r.path for r in left} == {c}


def test_update_where_mor(spark, sf_dir, tmp_path):
    """update_where_mor: one atomic commit = DV mask + updated-image
    append; no candidate dir rewritten; untouched rows byte-identical;
    stats-excluded and zero-match predicates are commit-free no-ops;
    pending-delete refusal; compact materializes the update and clears
    the entry."""
    import pytest

    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cat.create_or_replace("ns", "t", o.filter("o_orderkey < 800"))
    cat.append("ns", "t", o.filter("o_orderkey >= 800"))
    data_root = os.path.join(wh, "ns", "t", "data")
    dirs_before = set(os.listdir(data_root))
    base_sid = cat._current_sid("ns", "t")
    # stats exclude every dir / zero rows match → no-op, no commit
    assert cat.update_where(
        spark, "ns", "t", "o_orderkey < 0", {"o_totalprice": "0"}, mode="mor"
    ) == base_sid
    assert cat.update_where(
        spark, "ns", "t", "o_orderkey % 2 = 0 AND o_orderkey % 2 = 1",
        {"o_totalprice": "0"}, mode="mor",
    ) == base_sid
    sid = cat.update_where(
        spark, "ns", "t", "o_orderkey % 50 = 3",
        {"o_totalprice": "o_totalprice + 1000"}, mode="mor",
    )
    m = cat._manifest("ns", "t", sid)
    # old dirs untouched; exactly one NEW dir (the updated images)
    assert dirs_before < set(os.listdir(data_root))
    assert len(set(m["files"]) - dirs_before) == 1
    (entry,) = m["deletes"]
    assert entry["mode"] == "dv"
    new_dir = (set(m["files"]) - dirs_before).pop()
    assert new_dir not in entry["applies_to"], "images must not be masked"
    want = o.withColumn(
        "o_totalprice",
        F.expr(
            "CASE WHEN o_orderkey % 50 = 3 THEN o_totalprice + 1000 "
            "ELSE o_totalprice END"
        ),
    )
    got = cat.read(spark, "ns", "t")
    assert got.count() == o.count()
    assert (
        got.exceptAll(want).count() == 0
        and want.exceptAll(got).count() == 0
    )
    with pytest.raises(ValueError, match="pending"):
        cat.update_where(
            spark, "ns", "t", "o_orderkey % 7 = 0", {"o_totalprice": "0"},
            mode="mor",
        )
    cat.compact(spark, "ns", "t")
    m2 = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    assert m2["deletes"] == []
    got2 = cat.read(spark, "ns", "t")
    assert (
        got2.exceptAll(want).count() == 0
        and want.exceptAll(got2).count() == 0
    )


def test_update_where_auto_density_dispatch(spark, sf_dir, tmp_path):
    """update_where_auto (the UPDATE twin of delete_where_auto):
    sparse predicate → MoR (DV entry + image dir, old dirs kept);
    dense → CoW (no delete entry); no-candidate and zero-match are
    commit-free no-ops; pending MoR deletes force CoW; results exact
    either way."""
    import pytest

    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cat.create_or_replace("ns", "t", o)
    data_root = os.path.join(wh, "ns", "t", "data")
    dirs0 = set(os.listdir(data_root))
    base = cat._current_sid("ns", "t")
    set_ = {"o_totalprice": "o_totalprice + 1000"}
    assert cat.update_where(
        spark, "ns", "t", "o_orderkey < 0", set_, mode="auto"
    ) == base
    assert cat.update_where(
        spark, "ns", "t", "o_orderkey % 2 = 0 AND o_orderkey % 2 = 1", set_,
        mode="auto",
    ) == base
    # ~1% matched: MoR — DV entry, old dirs untouched, one image dir
    sid = cat.update_where(spark, "ns", "t", "o_orderkey % 97 = 0",
                           set_, mode="auto")
    m = cat._manifest("ns", "t", sid)
    assert [e.get("mode") for e in m["deletes"]] == ["dv"]
    assert dirs0 < set(os.listdir(data_root))
    # pending MoR delete entry forces CoW even for a sparse predicate
    sid2 = cat.update_where(spark, "ns", "t", "o_orderkey % 101 = 0",
                            set_, mode="auto")
    assert cat._manifest("ns", "t", sid2)["deletes"] == []
    # 50% matched on a clean table: CoW — still no delete entry
    sid3 = cat.update_where(spark, "ns", "t", "o_orderkey % 2 = 0",
                            set_, mode="auto")
    assert cat._manifest("ns", "t", sid3)["deletes"] == []
    want = o.withColumn(
        "o_totalprice",
        F.expr(
            "o_totalprice"
            " + CASE WHEN o_orderkey % 97 = 0 THEN 1000 ELSE 0 END"
            " + CASE WHEN o_orderkey % 101 = 0 THEN 1000 ELSE 0 END"
            " + CASE WHEN o_orderkey % 2 = 0 THEN 1000 ELSE 0 END"
        ),
    )
    got = cat.read(spark, "ns", "t")
    assert (
        got.exceptAll(want).count() == 0
        and want.exceptAll(got).count() == 0
    )
    with pytest.raises(ValueError, match="SET targets"):
        cat.update_where(spark, "ns", "t", "o_orderkey = 1",
                         {"not_a_column": "1"}, mode="mor")


def test_dv_apply_mode_threshold_matrix(tmp_path):
    """_dv_apply_mode decided purely from the manifest entry (no job):
    a stored ranges layout always takes the range probe; a stamped
    positions-layout DV below every gate takes the ordinal probe;
    density/per-file/total-positions each flip it to the anti-join;
    unstamped legacy DVs and legacy positional files always anti-join
    (never a blind probe, never a read-side range derivation)."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    manifest = {"files": ["d"], "dirs": {"d": {"rows": 100_000}}}

    def mode(mode="dv", **stats):
        return cat._dv_apply_mode(
            manifest, {"applies_to": ["d"], "mode": mode, **stats}
        )

    base = dict(layout="positions", n_positions=100, max_file_positions=100,
                n_ranges=50, max_file_ranges=50)
    assert mode(**base) == "probe"
    # density over 5% of scoped rows → anti, however few the runs
    assert mode(**{**base, "n_positions": 40_000, "n_ranges": 1}) == "anti"
    # dense via the per-file positions bound
    assert mode(**{**base, "max_file_positions": 9_000,
                   "n_positions": 9_000}) == "anti"
    # dense via the TOTAL positions bound (the broadcast payload cap)
    assert mode(**{**base, "n_positions": 3_000_000,
                   "max_file_positions": 100}) == "anti"
    # sparse legacy stamps without run stats or layout still probe
    assert mode(n_positions=800, max_file_positions=800) == "probe"
    # stored ranges: the range probe at any density (the writer only
    # stores ranges inside the range-probe bounds)
    assert mode(layout="ranges", n_positions=40_000,
                max_file_positions=40_000, n_ranges=4,
                max_file_ranges=1) == "ranges"
    # unstamped legacy DV and legacy positional file → anti
    assert mode() == "anti"
    assert mode(mode="positional") == "anti"


def test_all_data_files_and_metadata_log(spark, sf_dir, tmp_path):
    """all_data_files: one row per (referencing snapshot, file), footer
    n_rows trusted, carried files keep identity across snapshots;
    metadata_log_entries: one row per published manifest with real path
    + size, in commit order; expiry removes expired snapshots' rows
    from BOTH views (what the log pins = what GC frees)."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    cat.create_or_replace(
        "ns", "t", o.filter("o_orderkey % 2 = 0").repartition(2)
    )
    sid1 = cat._current_sid("ns", "t")
    cat.append("ns", "t", o.filter("o_orderkey % 2 = 1").repartition(3))
    sid2 = cat._current_sid("ns", "t")
    adf = cat.all_data_files(spark, "ns", "t").collect()
    by_sid: dict[int, list] = {}
    for r in adf:
        by_sid.setdefault(r.reference_snapshot_id, []).append(r)
    assert len(by_sid[sid1]) == 2 and len(by_sid[sid2]) == 5
    even_n = o.filter("o_orderkey % 2 = 0").count()
    assert sum(r.n_rows for r in by_sid[sid1]) == even_n
    assert sum(r.n_rows for r in by_sid[sid2]) == o.count()
    # carried files keep (dir, ordinal, size) identity across snapshots
    key1 = {(r.data_dir, r.file_ordinal, r.size_bytes) for r in by_sid[sid1]}
    key2 = {(r.data_dir, r.file_ordinal, r.size_bytes) for r in by_sid[sid2]}
    assert key1 < key2
    log = cat.metadata_log_entries(spark, "ns", "t").collect()
    assert [r.operation for r in sorted(
        log, key=lambda r: r.latest_snapshot_id
    )] == ["replace", "append"]
    for r in log:
        assert os.path.isfile(r.file) and r.size_bytes == os.path.getsize(
            r.file
        )
    # expiry: both views forget the expired snapshot
    cat.expire_snapshots("ns", "t", keep_last=1)
    adf2 = cat.all_data_files(spark, "ns", "t").collect()
    assert {r.reference_snapshot_id for r in adf2} == {sid2}
    log2 = cat.metadata_log_entries(spark, "ns", "t").collect()
    assert [r.latest_snapshot_id for r in log2] == [sid2]


def test_main_ref_shadowing_refused(spark, sf_dir, tmp_path):
    """A physical ref file literally named 'main' (pre-dating the
    reserved-name rule) is never silently shadowed: resolve_ref('main')
    and refs() both refuse with the migration step (r12 ADVICE) —
    otherwise a reader pinned to that ref would silently move to head."""
    import pytest

    cat = SnapCatalog(str(tmp_path / "wh"))
    o = load_table(spark, sf_dir, "orders").select("o_orderkey").limit(10)
    cat.create_or_replace("ns", "t", o)
    sid0 = cat._current_sid("ns", "t")
    # fabricate the legacy state: a persisted main ref (create_ref
    # itself refuses the name, so write the file the old format wrote)
    ref_dir = os.path.join(cat.warehouse, "ns", "t", "refs")
    os.makedirs(ref_dir, exist_ok=True)
    with open(os.path.join(ref_dir, "main.json"), "w") as f:
        json.dump({"name": "main", "type": "branch", "snapshot_id": sid0}, f)
    with pytest.raises(ValueError, match="persisted ref named 'main'"):
        cat.resolve_ref("ns", "t", "main")
    with pytest.raises(ValueError, match="persisted ref named 'main'"):
        cat.refs(spark, "ns", "t")
    # migration path: remove the legacy file, both work again
    os.remove(os.path.join(ref_dir, "main.json"))
    assert cat.resolve_ref("ns", "t", "main") == sid0
    names = [r["name"] for r in cat.refs(spark, "ns", "t").collect()]
    assert names == ["main"]


def test_add_files_without_stats_degrades_not_breaks(
    spark, sf_dir, tmp_path
):
    """compute_stats=False declares the adopted dir metrics-free: files()
    surfaces NULL min/max (degradation contract), pruning keeps the dir
    a candidate (never a wrong skip), and reads stay exact."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    ext = str(tmp_path / "nostats_src")
    o.filter("o_orderkey % 2 = 1").write.parquet(ext)
    cat.create_or_replace("ns", "t", o.filter("o_orderkey % 2 = 0"))
    sid = cat.add_files(spark, "ns", "t", ext, compute_stats=False)
    m = cat._manifest("ns", "t", sid)
    ad = [d for d in m["files"] if d.startswith("adopted-")][0]
    assert "stats" not in m["dirs"][ad]
    # files() NULL degradation on the metrics-free dir
    frow = {
        r.data_dir: (r.min_o_orderkey, r.max_o_orderkey)
        for r in cat.files(
            spark, "ns", "t", stat_cols=("o_orderkey",)
        ).collect()
    }
    assert frow[ad] == (None, None), frow
    # pruning never skips the stat-free dir
    cand, skipped = cat._prune_dirs(m, "o_orderkey = 1")
    assert ad in cand and ad not in skipped
    got = cat.read(spark, "ns", "t", where="o_orderkey = 1").count()
    assert got == o.filter("o_orderkey = 1").count()


def test_dv_delete_cycle(spark, sf_dir, tmp_path):
    """Deletion-vector delete files (the Iceberg v3 / Delta-DV third
    delete format): one (file_path, sorted positions array) row per
    touched data file — file-count-sized at ANY delete density. Same
    lifecycle contract as the positional cycle: no data rewrite at
    delete time, reads mask exactly the addressed rows, later appends
    are physically out of scope, re-addressing over pending deletes is
    refused, and compaction materializes + clears."""
    import pytest

    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cat.create_or_replace("ns", "t", o)
    data_root = os.path.join(wh, "ns", "t", "data")
    dirs_before = set(os.listdir(data_root))

    addressed = cat.read_with_positions(spark, "ns", "t")
    # DENSE doom set (a third of the table): the density regime where
    # the positional-file format stops being economic
    doomed = addressed.filter("o_orderkey % 3 = 0").select(
        cat.POS_FILE_COL, cat.POS_IDX_COL
    )
    n_doomed = doomed.count()
    sid = cat.delete_positions(spark, "ns", "t", doomed)

    assert set(os.listdir(data_root)) == dirs_before, "metadata-only"
    (entry,) = cat._manifest("ns", "t", sid)["deletes"]
    assert entry["mode"] == "dv"
    # the DV relation is FILE-count-sized: one row per touched file,
    # regardless of how many rows are doomed
    dv_df = spark.read.parquet(
        os.path.join(wh, "ns", "t", "deletes", entry["dir"])
    )
    n_files = doomed.select(cat.POS_FILE_COL).distinct().count()
    assert dv_df.count() == n_files < n_doomed
    import pyspark.sql.functions as SF
    assert (
        dv_df.select(SF.sum(SF.size("positions")).alias("s")).collect()[0].s
        == n_doomed
    )

    want = o.filter("o_orderkey % 3 <> 0").count()
    assert cat.read(spark, "ns", "t").count() == want
    assert cat.POS_FILE_COL not in cat.read(spark, "ns", "t").columns
    assert cat.read(spark, "ns", "t", snapshot_id=1).count() == o.count()

    # later append of deleted keys: DV addresses name files — unmasked
    reborn = o.filter("o_orderkey % 3 = 0").limit(5)
    cat.append("ns", "t", reborn)
    assert cat.read(spark, "ns", "t").count() == want + 5

    with pytest.raises(ValueError, match="pending"):
        cat.read_with_positions(spark, "ns", "t")

    sid = cat.compact(spark, "ns", "t")
    m = cat._manifest("ns", "t", sid)
    assert m["deletes"] == []
    assert cat.read(spark, "ns", "t").count() == want + 5
    assert cat.row_count("ns", "t") == want + 5


def test_rewrite_deletes_to_dv_mixed_formats(spark, sf_dir, tmp_path):
    """rewrite_deletes_to_dv folds legacy positional files AND existing
    DVs into ONE deletion vector: reads identical through the fold, the
    equality entry rides along unchanged, a second call is a no-op, and
    the merged DV carries exactly the live addresses."""
    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cat.create_or_replace("ns", "t", o.filter("o_orderkey < 800"))
    cat.append("ns", "t", o.filter("o_orderkey >= 800"))
    addressed = cat.read_with_positions(spark, "ns", "t")
    addr = addressed.select(
        "o_orderkey", cat.POS_FILE_COL, cat.POS_IDX_COL
    ).collect()
    import pandas as pd

    def pos_df(pred):
        rows = [
            (r[cat.POS_FILE_COL], r[cat.POS_IDX_COL])
            for r in addr if pred(r["o_orderkey"])
        ]
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=[cat.POS_FILE_COL, cat.POS_IDX_COL])
        )

    write_legacy_delete(cat, "ns", "t", pos_df(lambda k: k < 50))
    cat.delete_positions(
        spark, "ns", "t", pos_df(lambda k: 50 <= k < 100)
    )
    cat.delete_positions(
        spark, "ns", "t", pos_df(lambda k: 1000 <= k < 1100)
    )
    cat.delete_keys(
        spark, "ns", "t",
        o.filter("o_orderkey = 777").select("o_orderkey"), ["o_orderkey"],
    )
    before = sorted(tuple(r) for r in cat.read(spark, "ns", "t").collect())
    m = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    assert len(
        [e for e in m["deletes"] if e.get("mode") in ("positional", "dv")]
    ) == 3

    sid = cat.rewrite_deletes_to_dv(spark, "ns", "t")
    m = cat._manifest("ns", "t", sid)
    dv_entries = [e for e in m["deletes"] if e.get("mode") == "dv"]
    assert len(dv_entries) == 1, "one DV for all path-scoped entries"
    assert not any(e.get("mode") == "positional" for e in m["deletes"])
    assert len([e for e in m["deletes"] if "key_cols" in e]) == 1
    after = sorted(tuple(r) for r in cat.read(spark, "ns", "t").collect())
    assert after == before
    # a lone DV is already the target shape: no-op
    assert cat.rewrite_deletes_to_dv(spark, "ns", "t") == sid
    # merged DV masks exactly the live doomed addresses — this
    # fixture's doomed sets are contiguous key bands, so the fold
    # stores the r15 ranges layout (runs-sized bytes) and the check
    # expands it layout-agnostically
    assert dv_entries[0].get("layout") == "ranges"
    merged = spark.read.parquet(
        os.path.join(wh, "ns", "t", "deletes", dv_entries[0]["dir"])
    )
    n_live = len(
        [r for r in addr
         if r["o_orderkey"] < 100 or 1000 <= r["o_orderkey"] < 1100]
    )
    assert (
        SnapCatalog._dv_positions_relation(merged, dv_entries[0]).count()
        == n_live
    )


def test_rewrite_deletes_to_dv_drops_dead_addresses(
    spark, sf_dir, tmp_path
):
    """Addresses into a CoW-rewritten dir are dead and must not survive
    into the folded DV (mirror of the positional dead-address pin)."""
    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cat.create_or_replace("ns", "t", o.filter("o_orderkey < 1000"))
    cat.append("ns", "t", o.filter("o_orderkey >= 1000"))
    addressed = cat.read_with_positions(spark, "ns", "t")
    import pandas as pd

    addr = addressed.select(
        "o_orderkey", cat.POS_FILE_COL, cat.POS_IDX_COL
    ).collect()

    def pos_df(keys):
        rows = [
            (r[cat.POS_FILE_COL], r[cat.POS_IDX_COL])
            for r in addr if r["o_orderkey"] in keys
        ]
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=[cat.POS_FILE_COL, cat.POS_IDX_COL])
        )

    cat.delete_positions(
        spark, "ns", "t", pos_df(set(range(0, 50)) | set(range(1000, 1050)))
    )
    cat.delete_positions(spark, "ns", "t", pos_df(set(range(50, 80))))
    cat.delete_where(spark, "ns", "t", "o_orderkey >= 1200")
    before = sorted(tuple(r) for r in cat.read(spark, "ns", "t").collect())

    sid = cat.rewrite_deletes_to_dv(spark, "ns", "t")
    m = cat._manifest("ns", "t", sid)
    (entry,) = [e for e in m["deletes"] if e.get("mode") == "dv"]
    merged = spark.read.parquet(
        os.path.join(wh, "ns", "t", "deletes", entry["dir"])
    )
    live_keys = {r["o_orderkey"] for r in addr if r["o_orderkey"] < 80}
    assert (
        SnapCatalog._dv_positions_relation(merged, entry).count()
        == len(live_keys)
    ), "dead second-dir addresses dropped"
    after = sorted(tuple(r) for r in cat.read(spark, "ns", "t").collect())
    assert after == before


def test_legacy_delete_entries_read_exact_and_fold(spark, tmp_path):
    """Entries no current writer produces stay readable: a hand-built v2
    ``mode: "positional"`` file and an UNSTAMPED positions-layout DV
    (no stats, no layout key) each read exactly through the one (file,
    pos) anti-join — one LeftAnti per entry, no broadcast probe, no
    read-side stats job — and ``rewrite_deletes_to_dv`` folds both into
    ONE stamped DV with identical reads."""
    from tests.conftest import plan_formatted

    ids = spark.range(4_000).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    cat = SnapCatalog(str(tmp_path / "wh"))
    cat.create_or_replace("ns", "t", ids.repartitionByRange(4, "id"))
    addressed = cat.read_with_positions(spark, "ns", "t")

    def doomed(pred):
        return addressed.filter(pred).select(
            cat.POS_FILE_COL, cat.POS_IDX_COL
        )

    # scattered and sparse: a stamped DV of this shape would probe
    write_legacy_delete(cat, "ns", "t", doomed("id % 97 = 0"))
    write_legacy_delete(cat, "ns", "t", doomed("id % 89 = 0"), mode="dv")
    m = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    assert sorted(e["mode"] for e in m["deletes"]) == ["dv", "positional"]
    assert not any("layout" in e or "n_positions" in e for e in m["deletes"])

    want = sorted(
        tuple(r)
        for r in ids.filter("id % 97 <> 0 AND id % 89 <> 0").collect()
    )
    df = cat.read(spark, "ns", "t")
    assert sorted(tuple(r) for r in df.collect()) == want
    plan = plan_formatted(df)
    assert plan.count("LeftAnti") >= 2, plan
    assert "array_contains" not in plan and "_dv_starts" not in plan, plan

    sid = cat.rewrite_deletes_to_dv(spark, "ns", "t")
    (entry,) = cat._manifest("ns", "t", sid)["deletes"]
    assert entry["mode"] == "dv" and entry["layout"] == "positions"
    assert entry["n_positions"] == len(
        [i for i in range(4_000) if i % 97 == 0 or i % 89 == 0]
    )
    assert sorted(
        tuple(r) for r in cat.read(spark, "ns", "t").collect()
    ) == want
    # the folded entry is the target shape: a second call is a no-op
    assert cat.rewrite_deletes_to_dv(spark, "ns", "t") == sid


def _hint_files(cat: SnapCatalog, ns: str, tbl: str) -> list[str]:
    return [f for f in os.listdir(cat._tbl(ns, tbl)) if f.startswith("_current")]


def test_rollback_and_rename_return_the_published_head(spark, tmp_path):
    """A metadata-only rollback or rename returns the snapshot id it
    published — the new head — and the table reads the post-state (a
    caller that saw a landed commit reported otherwise would retry it
    against the new state). Neither leaves a side file next to the
    manifests."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    ids = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v"))
    sid1 = cat.create_or_replace("ns", "t", ids)
    cat.append("ns", "t", spark.range(10, 15).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ))

    sid = cat.rollback_to("ns", "t", sid1)
    assert sid == cat._current_sid("ns", "t") == sid1 + 2
    assert cat.read(spark, "ns", "t").count() == 10

    sid = cat.rename_column("ns", "t", "v", "w")
    assert sid == cat._current_sid("ns", "t") == sid1 + 3
    got = cat.read(spark, "ns", "t")
    assert got.columns == ["id", "w"] and got.count() == 10
    assert _hint_files(cat, "ns", "t") == []


def test_table_existence_derives_from_published_manifests(spark, tmp_path):
    """A table exists exactly when snapshots/ holds a manifest — the
    rule the head snapshot is read by. An existence check served by a
    best-effort side file could miss a landed commit, and upsert would
    then publish the delta ALONE (no base, nothing carried): 100 rows
    plus a 10-key upsert (5 new) must read 105 rows, never 10."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    cat.create_or_replace(
        "ns", "t", spark.range(100).select(F.col("id"), F.lit("a").alias("v"))
    )
    for f in _hint_files(cat, "ns", "t"):
        os.remove(cat._tbl("ns", "t", f))
    assert cat.table_exists("ns", "t")
    assert cat.list_tables("ns") == ["t"]
    delta = spark.range(95, 105).select(F.col("id"), F.lit("b").alias("v"))
    cat.upsert("ns", "t", delta, keys=["id"])
    got = cat.read(spark, "ns", "t")
    assert got.count() == 105
    assert got.filter("v = 'b'").count() == 10
    assert _hint_files(cat, "ns", "t") == []
    # a table dir whose snapshots/ holds no manifest (e.g. a first
    # commit that failed its CHECK) neither exists nor lists
    os.makedirs(cat._tbl("ns", "empty", "snapshots"))
    assert not cat.table_exists("ns", "empty")
    assert cat.list_tables("ns") == ["t"]


def test_parent_format_manifest_reads_exact_and_next_commit_writes_dirs(
    spark, tmp_path
):
    """A manifest in the earlier format — five per-dir maps (dir_stats,
    dir_rows, dir_bounds, dir_blooms, dir_schemas) and no ``dirs`` —
    needs no migration: readers see its metadata as absent, so reads
    stay exact and only the shortcuts go (files() shows NULLs,
    row_count refuses); the next append publishes only ``dirs``."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    df = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    cat.create_or_replace("ns", "t", df, bloom_cols=["id"])
    path = cat._tbl("ns", "t", "snapshots", "1.json")
    with open(path) as f:
        m = json.load(f)
    recs = m.pop("dirs")
    (d,) = m["files"]
    assert set(recs[d]) == {"rows", "stats", "bounds", "blooms", "schema"}
    for field in ("stats", "rows", "bounds", "blooms"):
        m[f"dir_{field}"] = {d: recs[d][field]}
    m["dir_schemas"] = {d: recs[d]["schema"]}
    with open(path, "w") as f:
        json.dump(m, f)

    assert sorted(
        r.id for r in cat.read(spark, "ns", "t", where="id = 7").collect()
    ) == [7]
    assert cat.read(spark, "ns", "t").count() == 100
    (row,) = cat.files(spark, "ns", "t", stat_cols=("id",)).collect()
    assert (row.n_rows, row.min_id, row.max_id) == (None, None, None)
    with pytest.raises(ValueError, match="lacks row counts"):
        cat.row_count("ns", "t")

    sid = cat.append(
        "ns", "t",
        spark.range(100, 110).select(F.col("id"), (F.col("id") * 2).alias("v")),
    )
    m2 = cat._manifest("ns", "t", sid)
    legacy = {"dir_stats", "dir_rows", "dir_bounds", "dir_blooms", "dir_schemas"}
    assert not legacy & set(m2)
    (new,) = [x for x in m2["files"] if x != d]
    assert list(m2["dirs"]) == [new]
    assert m2["dirs"][new]["rows"] == 10
    assert cat.read(spark, "ns", "t").count() == 110


def test_compact_manifests_never_folds_dv_dirs(spark, sf_dir, tmp_path):
    """Dirs covered by a DV entry are path-scoped exactly like
    positional ones: compact_manifests must carry them as-is (folding
    hard-links files under new basenames, orphaning the stored
    addresses) while still folding uncovered dirs."""
    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cat.create_or_replace("ns", "t", o.filter("o_orderkey < 500"))
    cat.append("ns", "t", o.filter("o_orderkey >= 500 AND o_orderkey < 1000"))
    addressed = cat.read_with_positions(spark, "ns", "t")
    doomed = addressed.filter("o_orderkey < 50").select(
        cat.POS_FILE_COL, cat.POS_IDX_COL
    )
    cat.delete_positions(spark, "ns", "t", doomed)
    covered = set(
        cat._manifest("ns", "t", cat._current_sid("ns", "t"))["deletes"][0][
            "applies_to"
        ]
    )
    # two more commits that CAN fold
    cat.append("ns", "t", o.filter("o_orderkey >= 1000 AND o_orderkey < 1500"))
    cat.append("ns", "t", o.filter("o_orderkey >= 1500 AND o_orderkey < 2000"))
    before = cat.read(spark, "ns", "t").count()
    sid = cat.compact_manifests("ns", "t")
    m = cat._manifest("ns", "t", sid)
    assert covered <= set(m["files"]), "DV-covered dirs carried as-is"
    assert len(m["files"]) < 4, "uncovered dirs folded"
    assert cat.read(spark, "ns", "t").count() == before


def test_entries_metadata_table(spark, sf_dir, tmp_path):
    """entries() (Iceberg t.entries analogue): one row per parquet file
    with footer-derived row counts that sum to the manifest's dir
    counts, stable file ordinals, positive sizes/row-groups, and
    time-travel to any snapshot's file set — all without a data scan."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    cat.create_or_replace("ns", "t", o.filter("o_orderkey < 700").repartition(3))
    cat.append("ns", "t", o.filter("o_orderkey >= 700").repartition(2))
    e = cat.entries(spark, "ns", "t").collect()
    by_dir: dict = {}
    for r in e:
        by_dir.setdefault(r.ordinal, []).append(r)
    assert len(by_dir[0]) == 3 and len(by_dir[1]) == 2
    # footer rows sum to the manifest's per-dir counts
    m = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    for ordv, rows in by_dir.items():
        d = m["files"][ordv]
        assert sum(r.n_rows for r in rows) == m["dirs"][d]["rows"]
    assert all(r.size_bytes > 0 and r.n_row_groups >= 1 for r in e)
    # file ordinals are 0..k-1 within each dir
    for rows in by_dir.values():
        assert sorted(r.file_ordinal for r in rows) == list(range(len(rows)))
    # time travel: snapshot 1 shows only the first commit's files
    e1 = cat.entries(spark, "ns", "t", snapshot_id=1).collect()
    assert {r.ordinal for r in e1} == {0} and len(e1) == 3


def test_cherry_pick_contract(spark, sf_dir, tmp_path):
    """cherry_pick re-applies a rolled-back append's delta onto the
    current state: metadata-only (the delta dir is re-referenced, no
    new data dir), stats/blooms carried from the source manifest, and
    every refusal mode fires (non-append source, delta already present,
    schema drift, GC'd delta)."""
    import pytest

    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cat.create_or_replace(
        "ns", "t", o.filter("o_orderkey % 3 = 1"), bloom_cols=["o_orderkey"]
    )                                                               # sid 1
    staged = cat.append("ns", "t", o.filter("o_orderkey % 3 = 0"))  # sid 2
    cat.rollback_to("ns", "t", 1)                                   # sid 3
    cat.append("ns", "t", o.filter("o_orderkey % 3 = 2"))           # sid 4
    data_root = os.path.join(wh, "ns", "t", "data")
    dirs_before = set(os.listdir(data_root))
    sid = cat.cherry_pick("ns", "t", staged)                        # sid 5
    # metadata-only: no new data dir on disk
    assert set(os.listdir(data_root)) == dirs_before
    assert cat.read(spark, "ns", "t").count() == o.count()
    m = cat._manifest("ns", "t", sid)
    src = cat._manifest("ns", "t", staged)
    delta = [d for d in src["files"] if d not in
             set(cat._manifest("ns", "t", 1)["files"])]
    (dd,) = delta
    # stats, rows and blooms carried from the source manifest
    assert m["dirs"][dd].get("stats") == src["dirs"][dd].get("stats")
    assert m["dirs"][dd].get("rows") == src["dirs"][dd].get("rows")
    assert m["dirs"][dd].get("blooms") == src["dirs"][dd].get("blooms")
    assert cat.row_count("ns", "t") == o.count()
    # refusals
    with pytest.raises(ValueError, match="already referenced"):
        cat.cherry_pick("ns", "t", staged)
    with pytest.raises(ValueError, match="only additive"):
        cat.cherry_pick("ns", "t", 1)  # replace snapshot
    # schema drift: a renamed column on current refuses the old delta
    cat2 = SnapCatalog(str(tmp_path / "wh2"))
    cat2.create_or_replace("ns", "t", o.filter("o_orderkey % 3 = 1"))
    s2 = cat2.append("ns", "t", o.filter("o_orderkey % 3 = 0"))
    cat2.rollback_to("ns", "t", 1)
    cat2.rename_column("ns", "t", "o_totalprice", "price")
    with pytest.raises(ValueError, match="schema differs"):
        cat2.cherry_pick("ns", "t", s2)


def test_delete_where_mor_dv(spark, sf_dir, tmp_path):
    """delete_where_mor: predicate DELETE as a deletion vector — no
    data rewrite, stats-pruned addressing scan, read masks exactly the
    matching rows, later appends unmasked, pending-delete refusal, and
    compact() materializes. Completes the delete matrix: CoW predicate
    / MoR equality / MoR positional / MoR DV / MoR predicate-DV."""
    import pytest

    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cat.create_or_replace("ns", "t", o.filter("o_orderkey < 800"))
    cat.append("ns", "t", o.filter("o_orderkey >= 800"))
    data_root = os.path.join(wh, "ns", "t", "data")
    dirs_before = set(os.listdir(data_root))
    # a predicate whose stats exclude every dir is a metadata-only no-op
    base_sid = cat._current_sid("ns", "t")
    assert cat.delete_where(
        spark, "ns", "t", "o_orderkey < 0", mode="mor"
    ) == base_sid
    sid = cat.delete_where(spark, "ns", "t", "o_orderkey % 4 = 0", mode="mor")
    assert set(os.listdir(data_root)) == dirs_before, "no rewrite"
    (entry,) = cat._manifest("ns", "t", sid)["deletes"]
    assert entry["mode"] == "dv"
    want = o.filter("o_orderkey % 4 <> 0").count()
    assert cat.read(spark, "ns", "t").count() == want
    # pending-delete refusal on a REAL predicate
    with pytest.raises(ValueError, match="pending"):
        cat.delete_where(spark, "ns", "t", "o_orderkey % 5 = 0", mode="mor")
    # later append of deleted keys is unmasked; compact materializes
    cat.append("ns", "t", o.filter("o_orderkey % 4 = 0").limit(3))
    assert cat.read(spark, "ns", "t").count() == want + 3
    cat.compact(spark, "ns", "t")
    m = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    assert m["deletes"] == []
    assert cat.read(spark, "ns", "t").count() == want + 3


def test_delete_where_auto_density_dispatch(spark, sf_dir, tmp_path):
    """delete_where_auto picks the physical DELETE by MEASURED doom
    density (VERDICT r12 missing #5): sparse predicate → merge-on-read
    deletion vector (no data rewrite, stamped DV entry); dense
    predicate → copy-on-write (dirs rewritten, no delete entry);
    no-candidate and zero-match predicates are commit-free no-ops;
    pending MoR deletes force the CoW path (DV authoring is refused
    over masked rows)."""
    wh = str(tmp_path / "wh")
    cat = SnapCatalog(wh)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cat.create_or_replace("ns", "t", o)
    data_root = os.path.join(wh, "ns", "t", "data")
    dirs0 = set(os.listdir(data_root))
    base = cat._current_sid("ns", "t")
    # stats exclude every dir → no-op, no commit
    assert cat.delete_where(
        spark, "ns", "t", "o_orderkey < 0", mode="auto"
    ) == base
    # candidates exist but zero rows match → no-op, no commit
    assert (
        cat.delete_where(
            spark, "ns", "t", "o_orderkey % 2 = 0 AND o_orderkey % 2 = 1",
            mode="auto",
        )
        == base
    )
    # ~1% doomed: MoR DV — no rewrite, stamped entry
    sid = cat.delete_where(
        spark, "ns", "t", "o_orderkey % 97 = 0", mode="auto"
    )
    assert set(os.listdir(data_root)) == dirs0, "sparse must not rewrite"
    (entry,) = cat._manifest("ns", "t", sid)["deletes"]
    doomed_n = o.filter("o_orderkey % 97 = 0").count()
    assert entry["mode"] == "dv"
    assert entry["n_positions"] == doomed_n
    assert 0 < entry["max_file_positions"] <= doomed_n
    want_sparse = o.filter("o_orderkey % 97 <> 0").count()
    assert cat.read(spark, "ns", "t").count() == want_sparse
    # pending MoR delete forces CoW even for a sparse predicate
    sid2 = cat.delete_where(
        spark, "ns", "t", "o_orderkey % 101 = 0", mode="auto"
    )
    m2 = cat._manifest("ns", "t", sid2)
    assert m2["deletes"] == [], "pending-delete path materializes via CoW"
    want2 = o.filter(
        "o_orderkey % 97 <> 0 AND o_orderkey % 101 <> 0"
    ).count()
    assert cat.read(spark, "ns", "t").count() == want2
    # 50% doomed: CoW — dirs rewritten, still no delete entry
    dirs1 = set(os.listdir(data_root))
    sid3 = cat.delete_where(
        spark, "ns", "t", "o_orderkey % 2 = 0", mode="auto"
    )
    m3 = cat._manifest("ns", "t", sid3)
    assert m3["deletes"] == []
    assert set(os.listdir(data_root)) != dirs1, "dense must rewrite"
    want3 = o.filter(
        "o_orderkey % 97 <> 0 AND o_orderkey % 101 <> 0 "
        "AND o_orderkey % 2 <> 0"
    ).count()
    assert cat.read(spark, "ns", "t").count() == want3


def test_cherry_pick_recovers_rolled_back_adoption(spark, sf_dir, tmp_path):
    """add_files commits are additive like appends: a rolled-back
    adoption cherry-picks back onto the advanced table, metadata-only,
    and the read recovers the adopted rows."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    ext = str(tmp_path / "ext_src")
    o.filter("o_orderkey % 3 = 0").write.parquet(ext)
    cat.create_or_replace("ns", "t", o.filter("o_orderkey % 3 = 1"))
    adopted = cat.add_files(spark, "ns", "t", ext)               # sid 2
    cat.rollback_to("ns", "t", 1)                                # sid 3
    cat.append("ns", "t", o.filter("o_orderkey % 3 = 2"))        # sid 4
    cat.cherry_pick("ns", "t", adopted)                          # sid 5
    assert cat.read(spark, "ns", "t").count() == o.count()


def test_dispatch_bounds_math(spark, tmp_path):
    """_dispatch_bounds (VERDICT r13 #2): count-free (lower, upper,
    total) selectivity bounds from parquet footer row-group stats.
    Bounds must bracket the true matched count, total must be exact,
    non-simple predicates must decline (None), and an impossible range
    must be PROVEN empty (upper == 0)."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    # 4 range-disjoint files in one commit dir → row-group stats see
    # boundary-straddling vs clear files
    cat.create_or_replace("ns", "t", df.repartitionByRange(4, "id"))
    m = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    dirs = list(m["files"])

    lo, up, tot = cat._dispatch_bounds("ns", "t", m, dirs, "id < 10")
    assert tot == 1000
    assert lo <= 10 <= up
    assert up < 500, "only the straddling file may be indeterminate"

    # full-range predicate with zero nulls: certainty on both sides
    lo2, up2, tot2 = cat._dispatch_bounds("ns", "t", m, dirs, "id >= 0")
    assert (lo2, up2, tot2) == (1000, 1000, 1000)

    # footer proof of emptiness
    _lo3, up3, _tot3 = cat._dispatch_bounds("ns", "t", m, dirs, "id > 5000")
    assert up3 == 0

    # modulo / OR / expressions: not simple conjuncts → no bounds
    assert cat._dispatch_bounds("ns", "t", m, dirs, "id % 2 = 0") is None
    assert (
        cat._dispatch_bounds("ns", "t", m, dirs, "id < 5 OR id > 900")
        is None
    )


def test_auto_dispatch_stats_served_single_scan(spark, tmp_path,
                                                monkeypatch):
    """VERDICT r13 #2 done-criterion: on the stats-served path an auto
    mutation statement pays exactly ONE candidate-dir scan — the chosen
    verb's own — because the dispatch itself is decided from footer
    bounds without a job. Pinned by counting _read_dirs calls for all
    three lanes: decisive MoR delete, decisive CoW delete, decisive MoR
    update. r15 (VERDICT r14 #3 done-criterion): the bounds are served
    from the MANIFEST on these freshly committed (stamped) tables —
    the footer-walk fallback must never fire, pinned by counting
    _footer_bounds_records calls (zero footer reads per dispatch)."""
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    real = SnapCatalog._read_dirs
    real_fb = SnapCatalog._footer_bounds_records

    def tracked(path):
        cat = SnapCatalog(path)
        calls = {"n": 0, "fb": 0}

        def counting(self, *a, **kw):
            calls["n"] += 1
            return real(self, *a, **kw)

        def counting_fb(self, *a, **kw):
            calls["fb"] += 1
            return real_fb(self, *a, **kw)

        cat._read_dirs = counting.__get__(cat)
        cat._footer_bounds_records = counting_fb.__get__(cat)
        cat.create_or_replace("ns", "t", df.repartitionByRange(4, "id"))
        calls["n"] = 0
        calls["fb"] = 0
        return cat, calls

    # decisive MoR: upper ≈ 250/1000 ≤ 0.5 → DV, no dispatch count
    monkeypatch.setattr(SnapCatalog, "COW_DENSITY", 0.5)
    cat, calls = tracked(str(tmp_path / "wh1"))
    sid = cat.delete_where(spark, "ns", "t", "id < 10", mode="auto")
    assert calls["n"] == 1, "stats-served dispatch must not scan to count"
    assert calls["fb"] == 0, "stamped: no footer walk for dispatch"
    (entry,) = cat._manifest("ns", "t", sid)["deletes"]
    assert entry["mode"] == "dv"
    assert cat.read(spark, "ns", "t").count() == 990

    # decisive CoW: lower ≈ 750/1000 > 0.5 → rewrite, no dispatch count
    cat, calls = tracked(str(tmp_path / "wh2"))
    sid = cat.delete_where(spark, "ns", "t", "id >= 10", mode="auto")
    assert calls["n"] == 1
    assert calls["fb"] == 0
    assert cat._manifest("ns", "t", sid)["deletes"] == []
    assert cat.read(spark, "ns", "t").count() == 10

    # decisive MoR update: DV mask + image append, still one scan
    cat, calls = tracked(str(tmp_path / "wh3"))
    sid = cat.update_where(spark, "ns", "t", "id < 10",
                           {"v": "v + 100000"}, mode="auto")
    assert calls["n"] == 1
    assert calls["fb"] == 0
    assert [e["mode"] for e in cat._manifest("ns", "t", sid)["deletes"]] \
        == ["dv"]
    got = cat.read(spark, "ns", "t")
    assert got.filter("v >= 100000").count() == 10
    assert got.count() == 1000

    # indeterminate band (bounds straddle the threshold): the fallback
    # measures matched AND total in ONE combined aggregate, then the
    # verb scans — exactly two candidate-dir scans, never three (the
    # old stats-free path paid a second full count for the denominator)
    monkeypatch.undo()  # the default threshold
    cat, calls = tracked(str(tmp_path / "wh4"))
    sid = cat.delete_where(spark, "ns", "t", "id % 97 = 0", mode="auto")
    assert calls["n"] == 2, "measured dispatch = one agg scan + the verb"
    (entry,) = cat._manifest("ns", "t", sid)["deletes"]
    assert entry["mode"] == "dv"
    assert cat.read(spark, "ns", "t").count() == 1000 - 11
    assert calls["fb"] == 0, (
        "stamped tables must serve dispatch bounds from the manifest — "
        "zero footer walks across all four lanes"
    )


def test_concurrent_commit_registered_path_hygiene(spark, sf_dir):
    """Race-window coverage extended to the REGISTERED path (VERDICT
    r13 #3): run the snap_concurrent_commit scenario end-to-end, then
    audit the warehouse it staged — the aborted DELETE attempt must
    have swept its unpublished data dir (disk holds exactly the dirs
    some published manifest references), and the final table equals a
    sequential replay of append-then-delete."""
    import hashlib

    from component_iceberg_spark.plans import scratch
    from component_iceberg_spark.plans.queries_extended import (
        snap_concurrent_commit,
    )

    n_out = snap_concurrent_commit(spark, sf_dir).count()

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    wh = os.path.join(scratch.SCRATCH_ROOT, tag, "warehouse", "concurrent")
    cat = SnapCatalog(wh)
    snaps = cat._snapshots("ns", "orders")
    assert [s["snapshot_id"] for s in snaps] == [1, 2, 3]
    referenced = {d for s in snaps for d in s["files"]}
    on_disk = set(os.listdir(os.path.join(wh, "ns", "orders", "data")))
    assert on_disk == referenced, (
        "the aborted attempt's data dir must be swept — disk may hold "
        "only manifest-referenced dirs"
    )
    # sequential replay equivalence: rival keys end in 3 (mod 5 ≠ 0),
    # so every rival row survives the retried delete
    o = load_table(spark, sf_dir, "orders")
    want = (
        o.filter("o_orderkey % 5 <> 0").count()
        + o.filter("o_orderkey % 10 = 3").count()
    )
    assert n_out == want


def test_rewrite_to_dv_fold_write_parallelism(spark, sf_dir, tmp_path,
                                              monkeypatch):
    """VERDICT r13 #4: rewrite_deletes_to_dv's output write is
    size-aware — a fold whose estimated position volume exceeds
    DV_FOLD_POSITIONS_PER_TASK writes with >1 task (multiple part
    files) instead of serializing through coalesce(1); a sparse fold
    keeps the single-file layout. Reads stay exact and the folded
    entry still carries its gate stats either way."""
    import glob

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )

    def build(path):
        cat = SnapCatalog(path)
        cat.create_or_replace("ns", "t", o.repartition(4))
        addressed = cat.read_with_positions(spark, "ns", "t")
        cat.delete_positions(
            spark, "ns", "t",
            addressed.filter("o_orderkey % 5 = 0").select(
                cat.POS_FILE_COL, cat.POS_IDX_COL
            ),
        )
        cat.delete_positions(
            spark, "ns", "t",
            addressed.filter("o_orderkey % 7 = 0").select(
                cat.POS_FILE_COL, cat.POS_IDX_COL
            ),
        )
        return cat

    def dv_files(cat):
        (entry,) = cat._manifest(
            "ns", "t", cat._current_sid("ns", "t")
        )["deletes"]
        assert entry["mode"] == "dv"
        assert entry["n_positions"] > 0  # gate stats still stamped
        return glob.glob(
            os.path.join(cat.warehouse, "ns", "t", "deletes",
                         entry["dir"], "*.parquet")
        )

    want = o.filter(
        "o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0"
    ).count()

    # sparse fold (default threshold): single-file layout preserved
    cat = build(str(tmp_path / "wh_sparse"))
    cat.rewrite_deletes_to_dv(spark, "ns", "t")
    assert len(dv_files(cat)) == 1
    assert cat.read(spark, "ns", "t").count() == want

    # large backlog (threshold forced under the fixture's volume):
    # the fold fans out to multiple write tasks
    monkeypatch.setattr(SnapCatalog, "DV_FOLD_POSITIONS_PER_TASK", 50)
    cat = build(str(tmp_path / "wh_dense"))
    cat.rewrite_deletes_to_dv(spark, "ns", "t")
    assert len(dv_files(cat)) > 1, "large fold must not serialize"
    assert cat.read(spark, "ns", "t").count() == want


def test_all_data_files_degrades_on_broken_adopted_link(
    spark, sf_dir, tmp_path, monkeypatch
):
    """r13 ADVICE: a symlink-adopted file whose SOURCE was deleted must
    surface in all_data_files as NULL metrics (the files() absent-stats
    contract), not crash the inspect view — it exists to audit exactly
    such warehouses. Healthy files in the same table keep real
    metrics."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cat.create_or_replace("ns", "t", o.filter("o_orderkey % 3 = 0"))
    ext = str(tmp_path / "src")
    o.filter("o_orderkey % 3 = 1").coalesce(1).write.parquet(ext)
    # force the symlink fallback, then break the links
    monkeypatch.setattr(
        os, "link",
        lambda *a, **k: (_ for _ in ()).throw(OSError(18, "EXDEV")),
    )
    cat.add_files(spark, "ns", "t", ext, compute_stats=False,
                  allow_symlink=True)
    monkeypatch.undo()
    import shutil

    shutil.rmtree(ext)  # the documented risk: source deleted post-adopt

    rows = cat.all_data_files(spark, "ns", "t").collect()
    latest = max(r.reference_snapshot_id for r in rows)
    cur = [r for r in rows if r.reference_snapshot_id == latest]
    broken = [r for r in cur if r.n_rows is None]
    healthy = [r for r in cur if r.n_rows is not None]
    assert broken, "broken links must surface as NULL-metric rows"
    assert all(
        r.n_row_groups is None and r.size_bytes is None for r in broken
    )
    assert healthy and all(r.size_bytes > 0 for r in healthy)
    # entries() walks the same files through the same per-dir reader: the
    # current snapshot's rows match all_data_files' and degrade the same
    ent = cat.entries(spark, "ns", "t").collect()
    assert sorted(
        (r.data_dir, r.file_ordinal, r.n_rows, r.n_row_groups, r.size_bytes)
        for r in ent
    ) == sorted(
        (r.data_dir, r.file_ordinal, r.n_rows, r.n_row_groups, r.size_bytes)
        for r in cur
    )
    assert any(r.n_rows is None for r in ent)


def test_maintenance_report_missing_table_names_it(spark, tmp_path):
    """maintenance_report on a table with nothing published raises
    SnapshotNotFound naming ``ns.table`` — the error every other catalog
    entry point gives for a missing table — not a bare IndexError."""
    from component_iceberg_spark.io.snaptable import SnapshotNotFound

    cat = SnapCatalog(str(tmp_path / "wh"))
    with pytest.raises(SnapshotNotFound, match=r"ns\.missing"):
        cat.maintenance_report(spark, "ns", "missing")


def test_dispatch_bounds_rename_partition_and_timestamp(
    spark, sf_dir, tmp_path
):
    """_dispatch_bounds edge lanes: (a) a column renamed AFTER the data
    was written still yields real bounds — the old physical footer name
    resolves through the manifest rename chain (the _commit name-reuse
    guard makes it unambiguous); (b) a conjunct on a hive PARTITION
    column (absent from footers) degrades to indeterminate — never a
    crash, never a wrong bound; (c) timestamp literals normalize to the
    stats' fixed-width comparison domain."""
    # (a) rename chain
    cat = SnapCatalog(str(tmp_path / "wh_a"))
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    cat.create_or_replace("ns", "t", df.repartitionByRange(4, "id"))
    cat.rename_column("ns", "t", "id", "ident")
    m = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    lo, up, tot = cat._dispatch_bounds(
        "ns", "t", m, list(m["files"]), "ident >= 0"
    )
    assert (lo, up, tot) == (1000, 1000, 1000), (
        "renamed column must resolve to the old footer name"
    )

    # (b) hive partition column: value lives in the dir name, not the
    # footer — bounds stay conservative (lower 0, upper total)
    cat = SnapCatalog(str(tmp_path / "wh_b"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    cat.create_or_replace(
        "ns", "t", o, partition_by=["o_orderpriority"]
    )
    m = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    res = cat._dispatch_bounds(
        "ns", "t", m, list(m["files"]),
        "o_orderpriority = '1-URGENT'",
    )
    assert res is not None
    lo, up, tot = res
    assert lo == 0 and up == tot and tot == o.count()

    # (c) timestamp literal normalization against footer stats
    cat = SnapCatalog(str(tmp_path / "wh_c"))
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    cat.create_or_replace("ns", "t", ev)
    m = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    hi = ev.agg(F.max("ts")).first()[0]
    res = cat._dispatch_bounds(
        "ns", "t", m, list(m["files"]),
        f"ts <= '{hi.isoformat()}'",
    )
    assert res is not None
    lo, up, tot = res
    assert tot == ev.count()
    assert up == tot, "max-inclusive bound must admit every row group"


def test_auto_dispatch_footer_proof_noop_zero_scans(spark, sf_dir, tmp_path):
    """A predicate footer-PROVEN empty (upper bound 0) is a commit-free
    no-op with ZERO candidate-dir scans — even on a stats-free adopted
    table where manifest pruning can't help (no stats: _prune_dirs
    keeps every dir a candidate, so only the footer bounds stand
    between the statement and a pointless scan)."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    ext = str(tmp_path / "src")
    df.write.parquet(ext)
    cat.create_or_replace("ns", "t", df.limit(0))  # schema anchor
    cat.add_files(spark, "ns", "t", ext, compute_stats=False)
    m = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    adopted = [d for d in m["files"] if "stats" not in m["dirs"][d]]
    assert adopted, "fixture must contain a stats-free dir"

    calls = {"n": 0}
    real = SnapCatalog._read_dirs

    def counting(self, *a, **kw):
        calls["n"] += 1
        return real(self, *a, **kw)

    cat._read_dirs = counting.__get__(cat)
    base = cat._current_sid("ns", "t")
    assert cat.delete_where(spark, "ns", "t", "id > 5000", mode="auto") == base
    assert cat.update_where(
        spark, "ns", "t", "id > 5000", {"v": "v + 1"}, mode="auto"
    ) == base
    assert calls["n"] == 0, "footer-proven-empty must scan nothing"
    assert cat._current_sid("ns", "t") == base  # commit-free


def test_dv_ranges_storage_layout(spark, tmp_path):
    """r15 range-compressed DV STORAGE (the Iceberg-v3 roaring-bitmap
    analogue): a contiguous band delete stores (file_path, starts,
    ends) directly — entry ``layout: "ranges"``, runs-sized bytes, no
    ``positions`` column on disk — and the read broadcasts the stored
    file as-is (no MapInPandas node in the plan). A scattered delete on the same code path keeps the explicit
    ordinal layout. Compaction materializes the ranges entry exactly."""
    import pyarrow.parquet as pq

    ids = spark.range(20_000).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # -- contiguous band: stored as ranges ---------------------------
        cat = SnapCatalog(str(tmp_path / "wh_band"))
        cat.create_or_replace("ns", "t", ids.repartitionByRange(4, "id"))
        addressed = cat.read_with_positions(spark, "ns", "t")
        cat.delete_positions(
            spark, "ns", "t",
            addressed.filter("id >= 3000 AND id < 9000").select(
                cat.POS_FILE_COL, cat.POS_IDX_COL
            ),
        )
        (entry,) = cat._manifest(
            "ns", "t", cat._current_sid("ns", "t")
        )["deletes"]
        assert entry["layout"] == "ranges"
        assert entry["n_positions"] == 6000
        assert entry["n_ranges"] <= 4  # one run per touched file
        dv_dir = os.path.join(
            str(tmp_path / "wh_band"), "ns", "t", "deletes", entry["dir"]
        )
        files = [
            os.path.join(r, f)
            for r, _d, fs in os.walk(dv_dir)
            for f in fs if f.endswith(".parquet")
        ]
        assert len(files) == 1
        names = pq.ParquetFile(files[0]).schema_arrow.names
        assert "positions" not in names
        assert {"file_path", "starts", "ends"} <= set(names)
        # runs-sized storage: the whole delete file is tiny next to the
        # 6000 longs the ordinal layout would persist (~48 KB raw)
        assert os.path.getsize(files[0]) < 8_192

        df = cat.read(spark, "ns", "t")
        assert df.count() == 14_000
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "_dv_starts" in plan and "BroadcastExchange" in plan, plan
        assert "MapInPandas" not in plan, "stored ranges must not derive"
        assert "array_contains" not in plan and "LeftAnti" not in plan

        # compaction materializes the stored ranges exactly
        cat.compact(spark, "ns", "t")
        assert cat.read(spark, "ns", "t").count() == 14_000
        assert cat.read(spark, "ns", "t").agg(
            F.min("id"), F.max("id")
        ).collect()[0][:] == (0, 19_999)

        # -- scattered twin: explicit ordinals kept ----------------------
        cat2 = SnapCatalog(str(tmp_path / "wh_scat"))
        cat2.create_or_replace("ns", "t", ids.repartitionByRange(4, "id"))
        addressed = cat2.read_with_positions(spark, "ns", "t")
        cat2.delete_positions(
            spark, "ns", "t",
            addressed.filter("id % 97 = 0").select(
                cat2.POS_FILE_COL, cat2.POS_IDX_COL
            ),
        )
        (entry2,) = cat2._manifest(
            "ns", "t", cat2._current_sid("ns", "t")
        )["deletes"]
        assert entry2["layout"] == "positions"
        assert cat2.read(spark, "ns", "t").count() == 20_000 - (
            20_000 // 97 + 1
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_dv_write_entry_fans_out_large_scattered(spark, tmp_path,
                                                 monkeypatch):
    """r15: per-statement DV writes share the fold's size-aware
    fan-out (the r14 'residual single-task by design' concession is
    gone) — a scattered DV whose position volume exceeds
    DV_FOLD_POSITIONS_PER_TASK writes with >1 task, and the exact
    volume is known before the write because the stats pass runs
    first. Reads stay exact."""
    monkeypatch.setattr(SnapCatalog, "DV_FOLD_POSITIONS_PER_TASK", 500)
    ids = spark.range(20_000).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    cat = SnapCatalog(str(tmp_path / "wh"))
    # 8 files so the >1-part assertion can't flake on a hash collision
    # of every file_path into one of the ~14 write buckets
    cat.create_or_replace("ns", "t", ids.repartitionByRange(8, "id"))
    addressed = cat.read_with_positions(spark, "ns", "t")
    cat.delete_positions(
        spark, "ns", "t",
        addressed.filter("id % 3 = 0").select(
            cat.POS_FILE_COL, cat.POS_IDX_COL
        ),
    )
    (entry,) = cat._manifest(
        "ns", "t", cat._current_sid("ns", "t")
    )["deletes"]
    assert entry["layout"] == "positions"  # scattered: no compression
    dv_dir = os.path.join(
        str(tmp_path / "wh"), "ns", "t", "deletes", entry["dir"]
    )
    parts = glob.glob(os.path.join(dv_dir, "*.parquet"))
    assert len(parts) > 1, "large scattered DV must not serialize"
    assert cat.read(spark, "ns", "t").count() == 20_000 - 6_667


def test_dispatch_bounds_manifest_served_and_memoized(spark, tmp_path):
    """VERDICT r14 #3 done-criterion: _commit stamps per-row-group
    bounds into the manifest (the dir record's bounds) and
    _dispatch_bounds serves
    from them with ZERO footer reads; a pre-stamp (legacy) manifest
    falls back to a footer walk that is memoized per dir, so repeated
    statements against the same snapshot pay the walk once (ADVICE r14
    #3). Decisions are identical between the two paths."""
    import pyarrow.parquet as _pq

    cat = SnapCatalog(str(tmp_path / "wh"))
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    cat.create_or_replace("ns", "t", df.repartitionByRange(4, "id"))
    m = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    (d,) = m["files"]
    assert "bounds" in m["dirs"][d], "commit must stamp bounds"
    assert sum(r["n"] for r in m["dirs"][d]["bounds"]) == 1000

    calls = {"n": 0}
    real_pf = _pq.ParquetFile

    def counting_pf(*a, **kw):
        calls["n"] += 1
        return real_pf(*a, **kw)

    _pq.ParquetFile = counting_pf
    try:
        served = cat._dispatch_bounds("ns", "t", m, [d], "id < 250")
        assert calls["n"] == 0, "stamped table must read no footers"
        # legacy manifest (no bounds): footer walk, then memo
        legacy = {
            **m,
            "dirs": {
                dd: {k: v for k, v in r.items() if k != "bounds"}
                for dd, r in m["dirs"].items()
            },
        }
        walked = cat._dispatch_bounds("ns", "t", legacy, [d], "id < 250")
        assert calls["n"] > 0, "legacy path must walk footers once"
        first = calls["n"]
        again = cat._dispatch_bounds("ns", "t", legacy, [d], "id < 777")
        assert calls["n"] == first, "second statement must hit the memo"
    finally:
        _pq.ParquetFile = real_pf
    assert served == walked, "manifest-served == footer-walked bounds"
    lower, upper, total = served
    assert total == 1000 and 0 < lower <= 250 <= upper < 1000
    # third statement on a DIFFERENT predicate against the stamped
    # manifest still reads nothing and still decides (sanity that the
    # serve path is the default, not a one-off)
    assert cat._dispatch_bounds("ns", "t", m, [d], "id > 5000")[1] == 0


def test_dispatch_bounds_nan_float_guard(spark, tmp_path):
    """ADVICE r14 #2: parquet footer stats ignore NaN while Spark
    orders NaN above every value, so float bounds are only trusted for
    the NaN-sound operator subset. A [1.0, 2.0, NaN] file under
    'v > 5' must NOT footer-no-op (the NaN row matches) and must not
    be pruned from the read/delete path; the sound direction
    ('v <= 0': NaN fails <=) still prunes."""
    import math

    cat = SnapCatalog(str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, float("nan"))], "id long, v double"
    )
    cat.create_or_replace("ns", "t", df)
    # ground truth for the semantics the guard protects
    assert cat.read(spark, "ns", "t").filter("v > 5").count() == 1

    m = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    bounds = cat._dispatch_bounds(
        "ns", "t", m, list(m["files"]), "v > 5"
    )
    assert bounds is not None and bounds[1] > 0, (
        "float '>' must stay indeterminate — a footer no-op would "
        "silently skip the matching NaN row"
    )
    cand, _skipped = cat._prune_dirs(m, "v > 5")
    assert cand == list(m["files"]), "read pruning must keep the dir"
    # the delete actually removes the NaN row end-to-end
    cat.delete_where(spark, "ns", "t", "v > 5", mode="auto")
    got = [r["v"] for r in cat.read(spark, "ns", "t").collect()]
    assert sorted(got) == [1.0, 2.0] and not any(
        math.isnan(x) for x in got
    )
    # sound direction: NaN cannot satisfy '<=', min-based skip is legal
    m2 = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    cand2, skipped2 = cat._prune_dirs(m2, "v <= 0")
    assert cand2 == [] and skipped2 == list(m2["files"])


def test_dispatch_bounds_timezone_guard(spark, tmp_path):
    """ADVICE r14 #1: footer stats live in a naive-UTC string domain
    while timestamp literals parse in the SESSION timezone — under a
    non-UTC session a tz-adjusted timestamp conjunct must not serve
    bounds or prune dirs (it would no-op a delete whose rows the
    engine filter matches). timestamp conjuncts simply stop
    contributing; the statement falls back to the measured path and
    stays correct."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    df = spark.sql(
        "SELECT * FROM VALUES "
        "(1, timestamp'2024-01-01 05:00:00'), "
        "(2, timestamp'2024-06-01 05:00:00') AS t(id, ts)"
    )
    cat.create_or_replace("ns", "t", df)  # written under UTC session
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        # literal 01:00 NY = 06:00 UTC: the Jan row (05:00 UTC) matches
        # Spark's filter, but the naive footer compare (05:00 < 01:00 =
        # false) would prove emptiness and wrongly no-op
        pred = "ts < '2024-01-01 01:00:00'"
        assert cat.read(spark, "ns", "t").filter(pred).count() == 1
        m = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
        cand, _ = cat._prune_dirs(m, pred)
        assert cand == list(m["files"]), "non-UTC: ts must not prune"
        b = cat._dispatch_bounds("ns", "t", m, list(m["files"]), pred)
        assert b is not None and b[1] > 0, "non-UTC: no footer no-op"
        sid = cat.delete_where(spark, "ns", "t", pred, mode="auto")
        assert cat.read(spark, "ns", "t").count() == 1
        assert sid != 1
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    # back in UTC the same machinery IS decisive again
    m = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    b = cat._dispatch_bounds(
        "ns", "t", m, list(m["files"]), "ts < '2020-01-01 00:00:00'"
    )
    assert b is not None and b[1] == 0, "UTC session: footer proof works"


def test_dispatch_bounds_offset_literal(spark, tmp_path):
    """Review r15: a timestamp literal carrying an explicit UTC offset
    is an unambiguous instant — strftime alone would silently DROP the
    offset and shift the naive footer compare by it, wrongly proving
    emptiness under the standard UTC session. Post-fix the literal
    converts to the naive-UTC stats domain, and because the instant is
    session-independent it stays usable even under a non-UTC session."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    df = spark.sql(
        "SELECT * FROM VALUES "
        "(1, timestamp'2024-01-01 05:00:00'), "
        "(2, timestamp'2024-06-01 05:00:00') AS t(id, ts)"
    )
    cat.create_or_replace("ns", "t", df)
    # offset literal = 05:30 UTC: the Jan row (05:00) matches; the
    # offset-dropped naive compare ('05:00' < '00:30' false) would
    # have skipped the only row group
    pred = "ts < '2024-01-01 00:30:00-05:00'"
    assert cat.read(spark, "ns", "t").filter(pred).count() == 1
    m = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    cand, _ = cat._prune_dirs(m, pred)
    assert cand == list(m["files"]), "offset literal must not mis-prune"
    b = cat._dispatch_bounds("ns", "t", m, list(m["files"]), pred)
    assert b is not None and b[1] > 0
    cat.delete_where(spark, "ns", "t", pred, mode="auto")
    assert cat.read(spark, "ns", "t").count() == 1
    # zone-explicit literals are session-independent: the footer PROOF
    # works even under a non-UTC session (where naive literals decline)
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        m = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
        b = cat._dispatch_bounds(
            "ns", "t", m, list(m["files"]),
            "ts < '2000-01-01 00:00:00+00:00'",
        )
        assert b is not None and b[1] == 0
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_delta_key_pruning_system_timezone(spark, tmp_path):
    """Review r15: collect() renders tz-adjusted timestamps in the
    SYSTEM timezone while manifest stats are naive UTC — on a non-UTC host
    the merge-key range shifted by the host offset and the prune could
    carry a dir that holds matched keys as 'untouched' (lost updates).
    Simulated by flipping Python's process timezone (which is exactly
    the domain collect() uses; the JVM/session stay put): the dir
    holding the delta's key must stay a candidate, the disjoint dir
    must still be skipped."""
    import time as _time

    cat = SnapCatalog(str(tmp_path / "wh"))
    mk = lambda lo, hi: spark.sql(  # noqa: E731
        f"SELECT ts, 1 AS v FROM ("
        f"SELECT explode(sequence(timestamp'{lo}', timestamp'{hi}', "
        f"interval 30 minutes)) AS ts)"
    )
    cat.create_or_replace("ns", "t", mk("2024-01-01 00:00:00",
                                        "2024-01-01 02:00:00"))
    cat.append("ns", "t", mk("2024-01-01 08:00:00",
                             "2024-01-01 10:00:00"))
    m = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    assert len(m["files"]) == 2
    delta = spark.sql(
        "SELECT timestamp'2024-01-01 09:00:00' AS ts, 2 AS v"
    )
    prev_tz = os.environ.get("TZ")
    try:
        os.environ["TZ"] = "America/New_York"
        _time.tzset()
        cand, untouched, _ = cat._delta_key_pruning(m, delta, ["ts"])
    finally:
        if prev_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = prev_tz
        _time.tzset()
    by_rows = {d: m["dirs"][d]["rows"] for d in m["files"]}
    dir1, dir2 = m["files"]  # commit order: [00:00-02:00], [08:00-10:00]
    assert dir2 in cand, (
        "the dir holding the delta's key must stay a candidate under a "
        f"non-UTC host tz (got candidates={cand}, rows={by_rows})"
    )
    assert dir1 in untouched, "disjoint dir must still be skipped"


def test_dv_write_scoping_with_data_in_warehouse_path(spark, tmp_path):
    """Review r15: the touched-dir extraction is anchored to the
    table's own /ns/table/data/ root — a warehouse path that itself
    contains a /data/ segment must not capture the wrong component,
    empty the applies_to scope, and silently drop the delete."""
    wh = str(tmp_path / "data" / "wh")  # adversarial warehouse path
    cat = SnapCatalog(wh)
    ids = spark.range(1000).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    cat.create_or_replace("ns", "t", ids)
    addressed = cat.read_with_positions(spark, "ns", "t")
    sid = cat.delete_positions(
        spark, "ns", "t",
        addressed.filter("id < 100").select(
            cat.POS_FILE_COL, cat.POS_IDX_COL
        ),
    )
    (entry,) = cat._manifest("ns", "t", sid)["deletes"]
    assert entry["applies_to"], "scope must survive /data/ in the path"
    assert cat.read(spark, "ns", "t").count() == 900


def test_cluster_rewrite_stamps_dir_bounds(spark, sf_dir, tmp_path):
    """Review r15: cluster/zorder-rewritten dirs carry manifest bounds
    records like any fresh commit, so auto-dispatch on a rewritten
    table never falls back to the footer walk."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cat.create_or_replace("ns", "t", o)
    cat.cluster_rewrite(spark, "ns", "t", "o_orderkey", n_buckets=4)
    m = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    assert all("bounds" in m["dirs"][d] for d in m["files"]), (
        "every rewritten bucket dir must be stamped"
    )
    calls = {"fb": 0}
    real_fb = SnapCatalog._footer_bounds_records

    def counting(self, *a, **kw):
        calls["fb"] += 1
        return real_fb(self, *a, **kw)

    cat._footer_bounds_records = counting.__get__(cat)
    cat.delete_where(spark, "ns", "t", "o_orderkey < 0", mode="auto")
    assert calls["fb"] == 0, "rewritten table must serve from manifest"


def test_compact_manifests_bounds_concat_cap(spark, tmp_path,
                                             monkeypatch):
    """Review r15: the fold's bounds concatenation honors the same
    bloat cap as fresh stamps — an over-cap concatenation leaves the
    folded dir unstamped instead of growing the manifest unboundedly."""
    from component_iceberg_spark.io import manifest as st

    cat = SnapCatalog(str(tmp_path / "wh"))
    ids = spark.range(100).select(F.col("id"))
    cat.create_or_replace("ns", "t", ids.coalesce(1))
    cat.append("ns", "t", ids.coalesce(1))
    monkeypatch.setattr(st, "DIR_BOUNDS_MAX_GROUPS", 1)
    cat.compact_manifests("ns", "t")
    m = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    (folded,) = m["files"]
    assert folded.startswith("manifest-")
    assert "bounds" not in m["dirs"][folded], (
        "over-cap concatenation must not stamp"
    )
    # and the un-stamped fold still answers dispatch via the fallback
    b = cat._dispatch_bounds("ns", "t", m, m["files"], "id < 0")
    assert b is not None and b[1] == 0


def _ref_dir_column_stats(path):
    """Reference semantics for ``dir_footer_metrics``' stats: per-column
    [min, max] over every Parquet file under ``path``; a column any row
    group lacks a usable min/max for is dropped, nested leaves skipped."""
    import pyarrow.parquet as pq

    from component_iceberg_spark.io.manifest import _stat_jsonable

    stats, dropped = {}, set()
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, fn)).metadata
            for rg in range(md.num_row_groups):
                row_group = md.row_group(rg)
                for ci in range(row_group.num_columns):
                    col = row_group.column(ci)
                    name = col.path_in_schema
                    if "." in name or name in dropped:
                        continue
                    st = col.statistics
                    mn = mx = None
                    if st is not None and st.has_min_max:
                        mn, mx = _stat_jsonable(st.min), _stat_jsonable(st.max)
                    if mn is None or mx is None:
                        dropped.add(name)
                        stats.pop(name, None)
                    elif name in stats:
                        stats[name][0] = min(stats[name][0], mn)
                        stats[name][1] = max(stats[name][1], mx)
                    else:
                        stats[name] = [mn, mx]
    return stats


def _ref_dir_file_bounds(path, max_groups=512, max_stat_len=64):
    """Reference semantics for ``dir_footer_metrics``' bounds: one
    ``{"n": rows, "c": {col: [min, max, null_count]}}`` record per row
    group of every non-hidden file, in file-name order; None past
    ``max_groups`` groups; over-long string stats left out."""
    import pyarrow.parquet as pq

    from component_iceberg_spark.io.manifest import _stat_jsonable

    records = []
    for root, _dirs, files in os.walk(path):
        for fn in sorted(files):
            if not fn.endswith(".parquet") or fn.startswith((".", "_")):
                continue
            md = pq.ParquetFile(os.path.join(root, fn)).metadata
            for rg in range(md.num_row_groups):
                if len(records) >= max_groups:
                    return None
                row_group = md.row_group(rg)
                cols = {}
                for ci in range(row_group.num_columns):
                    col = row_group.column(ci)
                    name = col.path_in_schema
                    st = col.statistics
                    if "." in name or st is None or not st.has_min_max:
                        continue
                    mn, mx = _stat_jsonable(st.min), _stat_jsonable(st.max)
                    if mn is None or mx is None:
                        continue
                    if isinstance(mn, str) and (
                        len(mn) > max_stat_len or len(str(mx)) > max_stat_len
                    ):
                        continue
                    cols[name] = [
                        mn, mx, st.null_count if st.has_null_count else None
                    ]
                records.append({"n": row_group.num_rows, "c": cols})
    return records


def test_dir_footer_metrics_matches_standalones(spark, sf_dir, tmp_path):
    """r15 optimization: the fused one-open-per-footer commit walk must
    return byte-identical results to the three separate walks it
    replaced (stats / rows / bounds, kept as the test-local references
    above and ``dir_row_count``), including the drop-on-missing-stat
    and bounds-cap semantics, on a multi-file dir with nulls and strings."""
    from component_iceberg_spark.io.manifest import (
        dir_footer_metrics,
        dir_row_count,
    )

    out = str(tmp_path / "d")
    df = (
        load_table(spark, sf_dir, "orders")
        .limit(500)
        .withColumn("maybe_null", F.when(F.col("o_orderkey") % 2 == 0, F.col("o_orderstatus")))
        .withColumn("long_str", F.rpad(F.col("o_orderpriority"), 80, "x"))
    )
    df.repartition(3).write.parquet(out)
    stats, rows, bounds = dir_footer_metrics(out)
    assert stats == _ref_dir_column_stats(out)
    assert rows == dir_row_count(out)
    assert bounds == _ref_dir_file_bounds(out)
    # over-cap: both paths decline to stamp, stats/rows unaffected
    s2, r2, b2 = dir_footer_metrics(out, max_groups=1)
    assert b2 is None and _ref_dir_file_bounds(out, max_groups=1) is None
    assert (s2, r2) == (stats, rows)


def test_dir_schema_stamp_fast_path_and_fallbacks(spark, tmp_path):
    """r16 read-construction fast path: commits stamp each data dir's
    physical schema (nullability-normalized) so equal-schema reads build
    the reader with an explicit schema instead of a mergeSchema
    inference job (~230 ms -> ~20 ms per catalog-read CONSTRUCTION).
    Pins: (a) the fast-path schema is bit-identical to the mergeSchema
    one (incl. array containsNull); (b) schema-evolving appends on plain
    tables break uniformity and fall back to mergeSchema, so the union
    of columns still surfaces; (c) manifest folds inherit the stamp when
    sources agree."""
    from pyspark.sql import functions as F

    cat = SnapCatalog(str(tmp_path / "wh"))
    df = spark.range(50).select(
        F.col("id"),
        F.array(F.col("id"), F.col("id") + 1).alias("a"),
        F.lit("x").alias("s"),
    )
    cat.create_or_replace("ns", "t", df)
    cat.append("ns", "t", df)
    m = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    assert all("schema" in m["dirs"][d] for d in m["files"])
    assert cat._scan_schema(m) is not None, "uniform stamps -> fast path"
    fast = cat.read(spark, "ns", "t")
    merged = spark.read.option("mergeSchema", "true").parquet(
        *[cat._tbl("ns", "t", "data", d) for d in m["files"]]
    )
    assert fast.schema.json() == merged.schema.json()
    assert fast.count() == 100

    # manifest fold: the hard-linked dir inherits the agreed stamp
    cat.compact_manifests("ns", "t")
    mf = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    assert len(mf["files"]) == 1
    assert cat._scan_schema(mf) is not None, mf.get("dirs")

    # evolving append (extra column): stamps disagree -> mergeSchema
    # fallback keeps surfacing the union of columns on plain tables
    cat.append("ns", "t", df.withColumn("extra", F.lit(1)))
    me = cat._manifest("ns", "t", cat._current_sid("ns", "t"))
    assert cat._scan_schema(me) is None, "evolved table must fall back"
    assert set(cat.read(spark, "ns", "t").columns) == {
        "id", "a", "s", "extra"
    }


def _id_rows(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id"), (F.col("id") * 2).alias("v"))


def _id_table(spark, path):
    """1000 rows (id, v = 2 * id) over 4 range-disjoint files."""
    cat = SnapCatalog(path)
    df = _id_rows(spark, 0, 1000)
    cat.create_or_replace("ns", "t", df.repartitionByRange(4, "id"))
    return cat


_VERB_MODES = ("cow", "mor", "auto")
# (case, verb, mode) -> (outcome, snapshot count after). An int outcome is
# the returned sid; a class is the exception the statement raises.
_VERB_OUTCOMES = {
    # no candidate dir: only copy-on-write publishes (metadata-only)
    **{("no_candidate", v, m): ((2, 2) if m == "cow" else (1, 1))
       for v in ("delete", "update") for m in _VERB_MODES},
    # candidate dirs but zero matches: copy-on-write still rewrites
    **{("zero_matches", v, m): ((2, 2) if m == "cow" else (1, 1))
       for v in ("delete", "update") for m in _VERB_MODES},
    # pending deletes (sid 2): merge-on-read refuses, auto falls back to
    # copy-on-write
    **{("pending_deletes", v, m): ((ValueError, 2) if m == "mor" else (3, 3))
       for v in ("delete", "update") for m in _VERB_MODES},
    # unknown SET target over matching rows: copy-on-write fails to
    # resolve it, merge-on-read (and auto, which dispatches MoR on this
    # sparse predicate) refuses it before writing
    ("unknown_target", "update", "cow"): ("analysis", 1),
    ("unknown_target", "update", "mor"): (ValueError, 1),
    ("unknown_target", "update", "auto"): (ValueError, 1),
}


@pytest.mark.parametrize(
    "case,verb,mode",
    sorted(_VERB_OUTCOMES),
    ids=["-".join(k) for k in sorted(_VERB_OUTCOMES)],
)
def test_mutation_verb_outcome_matrix(spark, tmp_path, case, verb, mode):
    """Every row-level verb's outcome per edge case: the returned sid
    (a base-sid return means no commit) or the exception, and the
    snapshot count it leaves behind."""
    from pyspark.errors import AnalysisException

    cat = _id_table(spark, str(tmp_path / "wh"))
    if case == "pending_deletes":
        cat.delete_keys(
            spark, "ns", "t", spark.range(500, 510), ["id"]
        )
    predicate = {
        "no_candidate": "id > 5000",      # manifest stats prune every dir
        "zero_matches": "id % 1000 = 1001",  # no pruning, no match
    }.get(case, "id < 10")
    fn = getattr(cat, f"{verb}_where")
    args = [spark, "ns", "t", predicate]
    if verb == "update":
        target = "nope" if case == "unknown_target" else "v"
        args.append({target: "v + 1"})
    want, n_snaps = _VERB_OUTCOMES[(case, verb, mode)]
    if want == "analysis":
        want = AnalysisException
    if isinstance(want, int):
        assert fn(*args, mode=mode) == want
    else:
        with pytest.raises(want):
            fn(*args, mode=mode)
    assert len(cat._snapshots("ns", "t")) == n_snaps


# every snapshot author, run against _id_table + one append (sid 2)
_CRASH_AUTHORS = {
    "create_or_replace": lambda spark, cat, src: cat.create_or_replace(
        "ns", "t", _id_rows(spark, 2000, 2010)
    ),
    "append": lambda spark, cat, src: cat.append(
        "ns", "t", _id_rows(spark, 2000, 2010)
    ),
    "upsert": lambda spark, cat, src: cat.upsert(
        "ns", "t", _id_rows(spark, 5, 15), keys=["id"]
    ),
    "merge": lambda spark, cat, src: cat.merge(
        "ns", "t", _id_rows(spark, 5, 15), keys=["id"],
        delete_when="id < 8",
    ),
    "compact": lambda spark, cat, src: cat.compact(spark, "ns", "t"),
    "compact_manifests": lambda spark, cat, src: cat.compact_manifests(
        "ns", "t"
    ),
    "cluster_rewrite": lambda spark, cat, src: cat.cluster_rewrite(
        spark, "ns", "t", "v", n_buckets=3
    ),
    "zorder_rewrite": lambda spark, cat, src: cat.zorder_rewrite(
        spark, "ns", "t", ["id", "v"], n_buckets=3
    ),
    "add_files": lambda spark, cat, src: cat.add_files(spark, "ns", "t", src),
    # the table is rolled back to 1 first, so snapshot 2's dir is a delta
    "cherry_pick": lambda spark, cat, src: cat.cherry_pick("ns", "t", 2),
    "delete_where": lambda spark, cat, src: cat.delete_where(
        spark, "ns", "t", "id < 5"
    ),
    "delete_where_mor": lambda spark, cat, src: cat.delete_where(
        spark, "ns", "t", "id < 5", mode="mor"
    ),
    "update_where": lambda spark, cat, src: cat.update_where(
        spark, "ns", "t", "id < 5", {"v": "v + 1"}
    ),
    "delete_keys": lambda spark, cat, src: cat.delete_keys(
        spark, "ns", "t", spark.range(3), ["id"]
    ),
    "rename_column": lambda spark, cat, src: cat.rename_column(
        "ns", "t", "v", "w"
    ),
    "rollback_to": lambda spark, cat, src: cat.rollback_to("ns", "t", 1),
}


@pytest.mark.parametrize("author", list(_CRASH_AUTHORS))
def test_manifest_write_failure_leaves_table_readable_and_retryable(
    spark, tmp_path, monkeypatch, author
):
    """A failure mid-way through writing a manifest must not leave a
    truncated ``<sid>.json``, whichever author publishes: the table
    keeps reading its pre-state, no new directory is left under
    ``data/`` or ``deletes/``, no temp manifest is left, and a retry
    lands as the next snapshot and orphans nothing."""
    from component_iceberg_spark.io import snaptable

    wh = str(tmp_path / "wh")
    cat = _id_table(spark, wh)
    cat.append("ns", "t", _id_rows(spark, 1000, 1010))
    if author == "cherry_pick":
        cat.rollback_to("ns", "t", 1)
    src = str(tmp_path / "src")
    _id_rows(spark, 3000, 3010).write.parquet(src)
    tbl = os.path.join(wh, "ns", "t")

    def layout():
        return {
            kind: sorted(os.listdir(os.path.join(tbl, kind)))
            if os.path.isdir(os.path.join(tbl, kind)) else []
            for kind in ("data", "deletes", "snapshots")
        }

    def rows():
        return sorted(tuple(r) for r in cat.read(spark, "ns", "t").collect())

    before, pre_rows = layout(), rows()
    head = cat._current_sid("ns", "t")
    real_dump = json.dump

    def failing_dump(obj, fp, *a, **kw):
        if f"{os.sep}snapshots{os.sep}" in getattr(fp, "name", ""):
            fp.write('{"snapshot_id": ')  # partial bytes land first
            fp.flush()
            raise OSError("disk full")
        return real_dump(obj, fp, *a, **kw)

    monkeypatch.setattr(snaptable.json, "dump", failing_dump)
    with pytest.raises(OSError, match="disk full"):
        _CRASH_AUTHORS[author](spark, cat, src)
    monkeypatch.undo()

    assert layout() == before
    assert cat._current_sid("ns", "t") == head
    assert rows() == pre_rows
    assert _CRASH_AUTHORS[author](spark, cat, src) == head + 1
    assert cat.remove_orphans("ns", "t", older_than_ms=0) == []


def test_head_lookup_parses_no_history(spark, tmp_path, monkeypatch):
    """The head id comes from manifest names and only the head manifest
    is parsed: an append and a current read parse as many manifests at 30
    snapshots as at 3."""
    from component_iceberg_spark.io import snaptable

    cat = _id_table(spark, str(tmp_path / "wh"))
    row = spark.range(1).select(F.col("id"), F.col("id").alias("v"))
    real_load = json.load
    parses = {"n": 0}

    def counting_load(fp, *a, **kw):
        if f"{os.sep}snapshots{os.sep}" in getattr(fp, "name", ""):
            parses["n"] += 1
        return real_load(fp, *a, **kw)

    def parses_per_statement():
        monkeypatch.setattr(snaptable.json, "load", counting_load)
        parses["n"] = 0
        cat.append("ns", "t", row)
        appended = parses["n"]
        parses["n"] = 0
        cat.read(spark, "ns", "t")
        read = parses["n"]
        monkeypatch.undo()
        return appended, read

    while len(cat._snapshots("ns", "t")) < 3:
        cat.rollback_to("ns", "t", 1)  # metadata-only history growth
    at_3 = parses_per_statement()
    while len(cat._snapshots("ns", "t")) < 30:
        cat.rollback_to("ns", "t", 1)
    at_30 = parses_per_statement()
    assert at_3 == at_30, (at_3, at_30)


@pytest.mark.parametrize(
    "author",
    ["delete_keys", "delete_positions", "delete_where_mor",
     "rewrite_deletes_to_dv"],
)
def test_delete_file_authors_sweep_on_conflict(spark, tmp_path, author):
    """A delete-file author that loses the race to a rival append raises
    CommitConflict and leaves no delete file behind; remove_orphans also
    sweeps delete dirs no manifest references (a crashed author's), under
    the same age rule as data dirs, and spares referenced ones."""
    from component_iceberg_spark.io.snaptable import CommitConflict

    wh = str(tmp_path / "wh")
    cat = _id_table(spark, wh)
    rival = SnapCatalog(wh)
    del_root = os.path.join(wh, "ns", "t", "deletes")
    if author == "rewrite_deletes_to_dv":
        addressed = cat.read_with_positions(spark, "ns", "t")
        for pred in ("id < 5", "id >= 990"):
            cat.delete_positions(spark, "ns", "t", addressed.filter(
                pred
            ).select(cat.POS_FILE_COL, cat.POS_IDX_COL))
    kept = set(os.listdir(del_root)) if os.path.isdir(del_root) else set()

    # the rival append lands right after the author reads its base
    real_manifest = SnapCatalog._manifest
    state = {"raced": False}

    def racing_manifest(self, namespace, table, sid):
        out = real_manifest(self, namespace, table, sid)
        if not state["raced"]:
            state["raced"] = True
            rival.append("ns", "t", spark.range(2000, 2005).select(
                F.col("id"), (F.col("id") * 2).alias("v")
            ))
        return out

    doomed = None
    if author == "delete_positions":
        doomed = cat.read_with_positions(spark, "ns", "t").filter(
            "id % 7 = 0"
        ).select(cat.POS_FILE_COL, cat.POS_IDX_COL)
    cat._manifest = racing_manifest.__get__(cat)
    with pytest.raises(CommitConflict):
        if author == "delete_keys":
            cat.delete_keys(spark, "ns", "t", spark.range(3), ["id"])
        elif author == "delete_positions":
            cat.delete_positions(spark, "ns", "t", doomed)
        elif author == "delete_where_mor":
            cat.delete_where(spark, "ns", "t", "id % 7 = 0", mode="mor")
        else:
            cat.rewrite_deletes_to_dv(spark, "ns", "t")
    del cat._manifest
    on_disk = set(os.listdir(del_root)) if os.path.isdir(del_root) else set()
    assert on_disk == kept, "the losing author must sweep its delete file"

    crashed = os.path.join(del_root, "delete-crashed00000")
    os.makedirs(crashed)
    with open(os.path.join(crashed, "part-0.parquet"), "w") as f:
        f.write("placeholder")
    assert cat.remove_orphans("ns", "t", older_than_ms=3600 * 1000) == []
    assert cat.remove_orphans("ns", "t", older_than_ms=0) == [
        "delete-crashed00000"
    ]
    assert set(os.listdir(del_root)) == kept


def test_mor_delete_conflicts_with_rival_rewrite(spark, tmp_path):
    """A rival copy-on-write rewrite landing between a merge-on-read
    DELETE's candidate scan and its publish must surface CommitConflict:
    the DV is validated against the head its addresses were read from,
    never re-scoped onto the rival's head (where the rewritten dirs are
    no longer live and the delete would silently vanish)."""
    from component_iceberg_spark.io.snaptable import CommitConflict

    wh = str(tmp_path / "wh")
    a, b = _id_table(spark, wh), SnapCatalog(wh)
    real = SnapCatalog._read_dirs
    state = {"raced": False}

    def racing_read_dirs(self, *args, **kw):
        out = real(self, *args, **kw)
        if not state["raced"]:
            state["raced"] = True
            b.delete_where(spark, "ns", "t", "id >= 900")  # rival rewrite
        return out

    a._read_dirs = racing_read_dirs.__get__(a)
    with pytest.raises(CommitConflict):
        a.delete_where(spark, "ns", "t", "id < 10", mode="mor")
    del a._read_dirs
    # the caller re-runs on the new state and the delete lands
    a.delete_where(spark, "ns", "t", "id < 10", mode="mor")
    assert a.read(spark, "ns", "t").filter("id < 10").count() == 0
    assert a.read(spark, "ns", "t").count() == 890


def test_manifest_publish_without_hard_links(spark, tmp_path, monkeypatch):
    """On a filesystem without hard links a manifest is claimed by
    exclusive create and copied in: commits land and read exactly, a
    copy that fails mid-way removes its claim, and a retry lands."""
    import errno
    import shutil

    def no_links(*_a, **_k):
        raise OSError(errno.EPERM, "hard links unsupported")

    monkeypatch.setattr(os, "link", no_links)
    wh = str(tmp_path / "wh")
    cat = _id_table(spark, wh)
    more = spark.range(1000, 1010).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    real_copy = shutil.copyfileobj

    def failing_copy(src, dst, *a, **kw):
        dst.write(src.read(8))  # partial bytes land first
        dst.flush()
        raise OSError("disk full")

    monkeypatch.setattr(shutil, "copyfileobj", failing_copy)
    with pytest.raises(OSError, match="disk full"):
        cat.append("ns", "t", more)
    monkeypatch.setattr(shutil, "copyfileobj", real_copy)
    assert cat.read(spark, "ns", "t").count() == 1000
    assert cat.append("ns", "t", more) == 2
    assert cat.read(spark, "ns", "t").count() == 1010
    assert sorted(os.listdir(os.path.join(wh, "ns", "t", "snapshots"))) == [
        "1.json", "2.json"
    ]


_HELD = [(1, 99), (2, 20), (3, 30), (5, 50)]
_DISJOINT = [(1, 10), (2, 20), (3, 30), (4, 40), (5, 50)]
# case -> (verb, table columns, source (k, v) rows, table (k, v) rows
# after). The table holds k = 1, 2 in one dir and k = 5 in another, so
# every case commits a new dir beside a carried one. The source always
# lists v first.
_ORDER_CASES = {
    "upsert": ("upsert", "k long, v long", [(1, 99), (3, 30)], _HELD),
    "merge": ("merge", "k long, v long", [(1, 99), (3, 30)], _HELD),
    "upsert_disjoint": ("upsert", "k long, v long", [(3, 30), (4, 40)],
                        _DISJOINT),
    "merge_disjoint": ("merge", "k long, v long", [(3, 30), (4, 40)],
                       _DISJOINT),
    "append": ("append", "k long, v long", [(3, 30), (4, 40)], _DISJOINT),
    # the key-column join puts a key that is not the first column first
    "upsert_key_second": ("upsert", "v long, k long", [(1, 99)],
                          [(1, 99), (2, 20), (5, 50)]),
    "merge_key_second": ("merge", "v long, k long", [(1, 99)],
                         [(1, 99), (2, 20), (5, 50)]),
}


@pytest.mark.parametrize("case", list(_ORDER_CASES))
def test_merge_verbs_keep_table_column_order(spark, tmp_path, case):
    """A commit beside carried dirs leaves the table's column order as it
    was — whatever order the source lists, over held or disjoint keys, on
    append, and when the key is not the first column — and the new dir's
    stamp agrees with the carried ones', so reads keep their explicit
    scan schema."""
    verb, columns, src_rows, want = _ORDER_CASES[case]
    names = [c.split()[0] for c in columns.split(", ")]

    def frame(kv_rows, ddl):
        cols = [c.split()[0] for c in ddl.split(", ")]
        rows = [tuple(dict(zip("kv", r))[c] for c in cols) for r in kv_rows]
        return spark.createDataFrame(rows, ddl)

    cat = SnapCatalog(str(tmp_path / "wh"))
    cat.create_or_replace("ns", "t", frame([(1, 10), (2, 20)], columns))
    cat.append("ns", "t", frame([(5, 50)], columns))
    src = frame(src_rows, "v long, k long")
    if verb == "append":
        cat.append("ns", "t", src)
    else:
        getattr(cat, verb)("ns", "t", src, keys=["k"])
    got = cat.read(spark, "ns", "t")
    assert got.columns == names
    assert sorted((r["k"], r["v"]) for r in got.collect()) == want
    head = cat._head("ns", "t")
    assert [f["name"] for f in head["schema"]["fields"]] == names
    assert cat._scan_schema(head) is not None


@pytest.mark.parametrize("verb", ["upsert", "merge"])
def test_merge_into_missing_table_conflicts_with_rival_create(
    spark, tmp_path, verb
):
    """A rival that creates the table right after a MERGE verb found it
    missing keeps its rows: the verb raises CommitConflict instead of
    publishing its source as a replace of the rival's table."""
    from component_iceberg_spark.io.snaptable import CommitConflict

    wh = str(tmp_path / "wh")
    cat, rival = SnapCatalog(wh), SnapCatalog(wh)
    real = SnapCatalog._head_sid
    state = {"raced": False}

    def racing_head_sid(self, namespace, table):
        sid = real(self, namespace, table)
        if not state["raced"]:
            state["raced"] = True  # the rival lands after the check
            rival.create_or_replace("ns", "t", spark.range(100).select(
                F.col("id").alias("k"), F.col("id").alias("v")
            ))
        return sid

    cat._head_sid = racing_head_sid.__get__(cat)
    src = spark.createDataFrame([(1000, 1)], "k long, v long")
    with pytest.raises(CommitConflict):
        getattr(cat, verb)("ns", "t", src, keys=["k"])
    del cat._head_sid
    fresh = SnapCatalog(wh)
    assert fresh._current_sid("ns", "t") == 1
    assert fresh.read(spark, "ns", "t").count() == 100
    data = os.listdir(os.path.join(wh, "ns", "t", "data"))
    assert data == fresh._manifest("ns", "t", 1)["files"]


@pytest.mark.parametrize("col", ["_rn", "_del", "_hit"])
@pytest.mark.parametrize("verb", ["upsert", "merge"])
def test_merge_verbs_keep_columns_named_like_helpers(spark, tmp_path, verb, col):
    """A user column that shares a name with a column the MERGE plan
    adds for itself is neither replaced nor dropped."""
    cat = SnapCatalog(str(tmp_path / "wh"))
    schema = f"k long, {col} long"
    cat.create_or_replace(
        "ns", "t", spark.createDataFrame([(1, 10), (2, 20), (4, 40)], schema)
    )
    src = spark.createDataFrame([(1, 99), (3, 30), (4, 0)], schema)
    clauses = {"delete_when": f"{col} = 0"} if verb == "merge" else {}
    getattr(cat, verb)("ns", "t", src, keys=["k"], **clauses)
    got = cat.read(spark, "ns", "t")
    assert got.columns == ["k", col]
    want = [(1, 99), (2, 20), (3, 30)] + ([(4, 0)] if verb == "upsert" else [])
    assert sorted(tuple(r) for r in got.collect()) == want


_MERGE_VERBS = {
    "upsert": ("upsert", {}),
    "merge_defaults": ("merge", {}),
    # the clauses name only the key, which every case's source carries
    "merge_clauses": ("merge", {
        "delete_when": "k < 0", "update_when": "k > 6", "insert_when": "k > 0",
    }),
}
# case -> (outcome, snapshot count after). An int outcome is the returned
# sid; a class is the exception the statement raises.
_MERGE_CASES = {
    "missing_table": (1, 1),
    "no_candidate": (2, 2),
    "candidates": (2, 2),
    "mismatch_no_candidate": (ValueError, 1),
    "evolve": (2, 2),
}


@pytest.mark.parametrize("case", sorted(_MERGE_CASES))
@pytest.mark.parametrize("verb", sorted(_MERGE_VERBS))
def test_merge_verb_outcome_matrix(spark, tmp_path, verb, case):
    """Every MERGE verb's outcome per edge case: the returned sid or the
    exception, the snapshot count it leaves behind and the operation
    label of the head snapshot."""
    method, clauses = _MERGE_VERBS[verb]
    cat = SnapCatalog(str(tmp_path / "wh"))
    if case != "missing_table":
        cat.create_or_replace("ns", "t", spark.createDataFrame(
            [(i, i) for i in range(10)], "k long, v long"
        ))
    lo = 1000 if case in ("no_candidate", "mismatch_no_candidate") else 5
    rows = [(k, k - lo + 1) for k in range(lo, lo + 10)]
    schema = {
        "mismatch_no_candidate": "k long, other long",
        "evolve": "k long, v long, extra long",
    }.get(case, "k long, v long")
    if case == "evolve":
        rows = [r + (7,) for r in rows]
    src = spark.createDataFrame(rows, schema)
    fn = getattr(cat, method)
    args = ("ns", "t", src, ["k"])
    kwargs = {**clauses, **({"evolve": True} if case == "evolve" else {})}
    want, n_snaps = _MERGE_CASES[case]
    if isinstance(want, int):
        assert fn(*args, **kwargs) == want
    else:
        with pytest.raises(want):
            fn(*args, **kwargs)
    snaps = cat._snapshots("ns", "t")
    assert len(snaps) == n_snaps
    label = method if isinstance(want, int) else "replace"
    assert snaps[-1]["operation"] == label


def test_remove_orphans_sweeps_stale_temp_manifests(spark, tmp_path):
    """A process killed inside the manifest publish leaves
    ``<sid>.json.tmp-<hex>`` behind: remove_orphans removes it once it
    is older than the threshold and keeps a fresh one (an in-flight
    publish)."""
    wh = str(tmp_path / "wh")
    cat = _id_table(spark, wh)
    snaps = os.path.join(wh, "ns", "t", "snapshots")
    stale = "2.json.tmp-" + "a" * 32
    fresh = "2.json.tmp-" + "b" * 32
    for name in (stale, fresh):
        with open(os.path.join(snaps, name), "w") as f:
            f.write('{"snapshot_id": ')
    old = time.time() - 7200
    os.utime(os.path.join(snaps, stale), (old, old))
    assert cat.remove_orphans("ns", "t", older_than_ms=3600 * 1000) == [stale]
    assert sorted(os.listdir(snaps)) == ["1.json", fresh]
    assert cat.read(spark, "ns", "t").count() == 1000
