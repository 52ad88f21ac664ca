"""Snapshot-versioned Parquet tables — Iceberg table semantics, Spark-first.

The reference's whole table model is Iceberg: namespaced tables, integer
``snapshot_id`` time travel, append / replace / upsert commits
(reference: ``components/ex-iceberg/src/component.py:30-40``,
``components/wr-iceberg/src/component.py:90-126``). In production this
engine uses the Iceberg Spark connector (see
:mod:`component_iceberg_spark.io.iceberg`); this module provides the same
semantics when the connector jar is absent (as in the test container):
a warehouse directory of Parquet data files plus JSON snapshot manifests.

The manifest format, its layout and the commit protocol live in
:mod:`component_iceberg_spark.io.manifest`, which imports no pyspark;
:class:`SnapCatalog` extends its ``ManifestStore`` with the verbs that
build or run Spark plans. Its write-temp-then-link commit assumes one
writer, as the reference component does; a multi-writer deployment
swaps it for the Iceberg REST catalog's optimistic commit — which is
why the public API mirrors the connector's.

Design notes (what makes this 100 TB-shaped even though it's small):

- A snapshot manifest lists *data directories*, not rows: commits are
  metadata-only (no rewrite of prior data on append), exactly Iceberg's
  trick. Reading snapshot N is ``spark.read.parquet(*dirs)`` — a normal
  distributed scan with pushdown/pruning intact.
- Upsert rewrites only via a distributed anti-join + union (one shuffle on
  the key), never driver-side row handling; at scale the same plan is what
  Iceberg's copy-on-write MERGE produces.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from component_iceberg_spark.io import partition_spec
# CommitConflict and SnapshotNotFound stay importable from this module
from component_iceberg_spark.io.manifest import (
    CommitConflict,
    ManifestStore,
    SnapshotNotFound,
    _stamp_dir,
    _stat_jsonable,
    dir_row_count,
    simple_conjuncts,
)
from component_iceberg_spark.session import kernel_width, local_relation

# maintenance_report counts a data dir under this many rows as small
SMALL_DIR_ROWS = 10_000


def _plan_is_deterministic(df: DataFrame) -> bool:
    """True when every expression in ``df``'s analyzed plan is
    deterministic, so two evaluations of ``df`` yield the same rows."""
    return bool(df._jdf.queryExecution().analyzed().deterministic())


class SnapCatalog(ManifestStore):
    """Filesystem-backed catalog of snapshot-versioned tables.

    API parity with the reference's catalog usage: namespaces
    (``wr-iceberg/src/component.py:90-91``), create/replace/append/upsert
    (``:104-126``), snapshot enumeration
    (``ex-iceberg/src/component.py:148-157``), time-travel reads (``:38``).
    The metadata-only verbs are inherited from ``ManifestStore``.
    """

    # DV write parallelism: one output task per this many positions
    # (~32 MB of longs) — sparse writes keep the single-file layout, a
    # large scattered delete or accreted backlog fans out
    DV_FOLD_POSITIONS_PER_TASK = 4_000_000
    # a delete whose ordinals form few contiguous RUNS (the realistic
    # dense shapes: time-range deletes, partition drops, compaction-era
    # tombstones) is stored and broadcast as (start, end) ranges, whose
    # bytes and per-row probe work are RUN-count-bounded at any
    # density. Above this many runs in one file, ranges stop
    # compressing and the writer keeps ordinals; the TOTAL bound caps
    # the broadcast payload across files (a band delete touching 100k
    # files would otherwise broadcast 100k × per-file arrays — the same
    # OOM vector the positions cap closes).
    DV_RANGE_PROBE_MAX_PER_FILE = 128
    DV_RANGE_PROBE_MAX_TOTAL_RANGES = 1_000_000  # ~16 MB of (start, end)
    # STORAGE layout choice (the Iceberg-v3 roaring-bitmap analogue):
    # once positions outnumber runs by this factor AND the run counts
    # fit the range-probe bounds, the DV file stores (file_path, starts,
    # ends) directly — entry ``layout: "ranges"`` — instead of explicit
    # ordinal arrays. Storage bytes drop from positions-sized to
    # runs-sized, and the read applies the stored ranges as-is. At 8x
    # the stored bytes already shrink 4x (two longs per run vs one per
    # position). Requiring the probe bounds at WRITE time keeps the
    # invariant that a ranges-layout entry is always broadcastable.
    # Ranges are NOT derived at read time: every contiguous shape is
    # already stored as ranges, and on dense scattered entries the
    # range probe measured ~9x slower than the anti-join (DESIGN_NOTES).
    DV_STORE_RANGES_FACTOR = 8

    # -- namespaces ---------------------------------------------------------
    # Spark-free, but defined here: perfbench's tracer wraps these two
    # through ``SnapCatalog.__dict__``

    def create_namespace(self, namespace: str) -> None:
        os.makedirs(os.path.join(self.warehouse, namespace), exist_ok=True)

    def table_exists(self, namespace: str, table: str) -> bool:
        # the published manifests are the table (the rule _current_sid
        # reads the head by): a dir whose snapshots/ holds none is not
        return self._head_sid(namespace, table) is not None

    # -- commits ------------------------------------------------------------

    def append(
        self, namespace: str, table: str, df: DataFrame,
        partition_by: list[str] | None = None,
        partition_spec: list[str] | None = None,
        sort_by: list[str] | None = None,
        check: str | None = None,
        bloom_cols: list[str] | None = None,
    ) -> int:
        """Append commit: write new data files, new manifest = old files +
        new dir. No existing data is touched (metadata-only append).

        ``sort_by`` is the ``preserve_insertion_order=true`` writer path
        (``ex-iceberg/src/component.py:106-107``): the commit's files are
        range-partitioned and sorted on the given columns, so a reader
        ordering by ``(_metadata.file_path, _metadata.row_index)`` within
        the commit recovers the insertion order exactly — no single-file
        coalesce, so the ordered export scales like any other write (one
        range partition per core). Ordering is per-commit;
        ACROSS commits the data dir names are uuids, so file_path alone
        cannot recover commit order — use :meth:`read_ordered`, whose
        ``_commit_seq`` column exposes the manifest's file-list order.

        ``check`` is a CHECK-constraint predicate: a violating batch
        fails with a sample row and the table is untouched. Validation
        runs against the WRITTEN (still-unpublished) files inside
        :meth:`_commit`, so a nondeterministic source cannot pass a
        pre-write check and then write different rows."""
        return self._commit(
            namespace, table, df, operation="append", carry=True,
            partition_by=partition_by, transform_spec=partition_spec,
            sort_by=sort_by, check=check, bloom_cols=bloom_cols,
        )

    def create_or_replace(
        self, namespace: str, table: str, df: DataFrame,
        partition_by: list[str] | None = None,
        partition_spec: list[str] | None = None,
        bloom_cols: list[str] | None = None,
    ) -> int:
        """Replace commit (drop-and-recreate parity,
        ``wr-iceberg/src/component.py:115-124`` — but as one atomic snapshot
        flip: readers of older snapshots are unaffected).

        ``partition_by`` lays the commit out hive-style by the given
        columns; reads that filter on them prune whole directories
        (PartitionFilters in the scan) — the Iceberg partition-spec
        analogue. ``partition_spec`` is the *hidden* form: transform
        expressions like ``["day(o_orderdate)", "bucket(8, o_custkey)"]``
        (Iceberg hidden partitioning). Readers never see the derived
        columns; ``read(where=...)`` on the SOURCE column converts the
        predicate into partition pruning automatically — see
        :mod:`component_iceberg_spark.io.partition_spec`."""
        self.create_namespace(namespace)
        return self._commit(
            namespace, table, df, operation="replace", carry=False,
            partition_by=partition_by, transform_spec=partition_spec,
            bloom_cols=bloom_cols,
        )

    def add_files(
        self,
        spark: SparkSession,
        namespace: str,
        table: str,
        src_dir: str,
        compute_stats: bool = True,
        allow_symlink: bool = False,
    ) -> int:
        """Metadata-only import of an EXISTING parquet directory — the
        Iceberg ``add_files`` procedure analogue (pyiceberg 0.9.1, the
        library the reference embeds via
        ``components/common/pyproject.toml:7-18``, exposes it; the
        reference itself has no call site). This is the 100 TB
        *onboarding* verb: adopting a pre-existing lake directory must
        cost one commit, not a rewrite of the bytes.

        No data byte is read into Spark or copied: each parquet file is
        HARD-LINKED into a new data dir of the table (the filesystem
        twin of Iceberg's adopt-in-place manifest entry), and the
        commit carries every parent dir untouched. Hard links make the
        table co-own the bytes — deleting or rewriting the SOURCE
        afterwards cannot corrupt table reads. Across devices no hard
        link is possible; by default that REFUSES rather than silently
        weakening the durability contract. ``allow_symlink=True`` opts
        into a symlink fallback, where the source keeps sole ownership
        of the bytes (delete the source and the table's reads break);
        the adoption marker records ``link_mode`` so an operator can
        audit which contract each adoption carries. Footer-only work on the driver: schema gate,
        row counts, and — when ``compute_stats`` — min/max stats and
        registered blooms for the adopted dir. ``compute_stats=False``
        declares stats absent: :meth:`files` surfaces NULLs and pruning
        keeps the dir a candidate (the documented degradation contract),
        exactly as Iceberg treats metrics-free adopted files.

        Refused: a source inside the table's own layout, a source
        already adopted by this table (double-adoption would double
        rows silently), a hive-partitioned table (adopted flat files
        carry no partition values in their paths), and any schema
        mismatch — (name, type) pairs must equal the table's CURRENT
        logical schema, so adoption composes with rename/drop/widen
        lineage the same way a post-evolution append does.

        Lifecycle composition: the adopted dir is a first-class manifest
        entry — pruning, compaction, expiry, and orphan GC treat it like
        any written dir. GC of a snapshot that drops it removes only the
        links; the source files keep their data (link count)."""
        src_dir = os.path.realpath(src_dir)
        if not os.path.isdir(src_dir):
            raise ValueError(f"add_files source is not a directory: {src_dir}")
        tbl_root = os.path.realpath(self._tbl(namespace, table))
        if os.path.commonpath([src_dir, tbl_root]) == tbl_root:
            raise ValueError(
                "add_files source lies inside the table's own layout: "
                f"{src_dir}"
            )
        base = self._current_sid(namespace, table)
        manifest = self._manifest(namespace, table, base)
        if manifest.get("partition_by") or manifest.get("partition_spec"):
            raise ValueError(
                "add_files into a hive-partitioned table is not "
                "supported: adopted files carry no partition values in "
                "their paths"
            )
        # one marker per adoption records the source realpath; a second
        # adoption of the same (or a nested/enclosing) source is refused
        adopt_root = self._tbl(namespace, table, "adopted")
        os.makedirs(adopt_root, exist_ok=True)
        for fn in os.listdir(adopt_root):
            with open(os.path.join(adopt_root, fn)) as f:
                rec = json.load(f)
            prior = rec["src"]
            common = os.path.commonpath([src_dir, prior])
            if common in (src_dir, prior):
                if rec.get("committed") is False:
                    # marker-before-publish leftover of a hard crash:
                    # whether the commit landed is unknown — refuse
                    # loudly with the recovery step instead of risking
                    # silently doubled rows
                    raise ValueError(
                        "add_files found a PENDING adoption marker for "
                        f"{prior} (a prior attempt crashed between marker "
                        "and commit); check list_snapshots for an "
                        "'add_files' commit, then delete "
                        f"{os.path.join(adopt_root, fn)} to retry"
                    )
                raise ValueError(
                    f"add_files source overlaps an already-adopted path: "
                    f"{src_dir} vs {prior}"
                )
        parquet_files = []
        for root, _dirs, fns in os.walk(src_dir):
            for fn in fns:
                if fn.endswith(".parquet") and not fn.startswith((".", "_")):
                    parquet_files.append(os.path.join(root, fn))
        if not parquet_files:
            raise ValueError(f"add_files source has no parquet files: {src_dir}")
        # schema gate against the CURRENT logical schema — plan-only
        # (spark.read.parquet resolves footers, collects nothing)
        self._validate_source_schema(
            namespace, table, manifest, spark.read.parquet(src_dir),
            "add_files",
        )
        nd = f"adopted-{uuid.uuid4().hex[:12]}"
        marker = os.path.join(adopt_root, f"{nd}.json")
        link_mode = "hardlink"
        with self._new_paths(namespace, table) as claim:
            dst_root = claim("data", nd)
            for src in parquet_files:
                rel = os.path.relpath(src, src_dir)
                dst = os.path.join(dst_root, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                try:
                    os.link(src, dst)  # adopt-in-place: zero bytes copied
                except OSError:
                    if not allow_symlink:
                        raise ValueError(
                            f"add_files cannot hard-link {src!r} into the "
                            "table (cross-device?); pass "
                            "allow_symlink=True to adopt by symlink — "
                            "NOTE the source then keeps sole ownership "
                            "of the bytes, so deleting or rewriting it "
                            "corrupts table reads"
                        ) from None
                    os.symlink(src, dst)
                    link_mode = "symlink"
            if compute_stats:
                rec = _stamp_dir(dst_root, manifest.get("bloom_cols"))
            else:
                rec = {"rows": dir_row_count(dst_root)}
            # marker BEFORE publish: a crash after the commit can no
            # longer leave the adoption unrecorded (the silent-double
            # failure a retry would hit); a crash between the marker
            # and the commit instead leaves a committed=false marker
            # that refuses the retry LOUDLY — the strictly safer side.
            try:
                with open(marker, "w") as f:
                    json.dump(
                        {"src": src_dir, "dir": nd, "link_mode": link_mode,
                         "committed": False},
                        f,
                    )
                sid = self._commit_metadata(
                    namespace, table, "add_files", base_sid=base,
                    carry_dirs=manifest["files"], extra_dirs={nd: rec},
                )
            except Exception:
                if os.path.exists(marker):
                    os.remove(marker)  # in-band failure: retry stays legal
                raise
        with open(marker, "w") as f:
            json.dump(
                {"src": src_dir, "dir": nd, "link_mode": link_mode,
                 "committed": True, "snapshot_id": sid},
                f,
            )
        return sid

    def upsert(
        self,
        namespace: str,
        table: str,
        delta: DataFrame,
        keys: list[str],
        order_by: str | None = None,
        evolve: bool = False,
    ) -> int:
        """MERGE semantics of pyiceberg ``upsert``
        (``wr-iceberg/src/component.py:107-108``): matched rows take all
        columns from the delta, unmatched delta rows insert; delta-internal
        key duplicates resolve last-wins by ``order_by`` (cross-batch
        last-wins parity, SURVEY §7). This is :meth:`merge` with its
        default clauses, published as an ``upsert`` snapshot.

        ``evolve=True`` is the Iceberg ``MERGE … WITH SCHEMA EVOLUTION``
        analogue: the delta may carry ADDITIVE columns (a strict
        superset of the target's), which join the table schema; rows
        from untouched/carried files surface the new columns as NULL on
        read (mergeSchema — same mechanism as append-path evolution in
        ``snap_schema_evolution``). Dropping target columns or changing
        a common column's type stays refused either way — evolution is
        additive only, exactly Iceberg's safe subset.
        """
        return self._merge(
            namespace, table, delta, keys, None, None, None, order_by,
            evolve, "upsert",
        )

    def merge(
        self,
        namespace: str,
        table: str,
        source: DataFrame,
        keys: list[str],
        *,
        delete_when: str | None = None,
        update_when: str | None = None,
        insert_when: str | None = None,
        order_by: str | None = None,
        evolve: bool = False,
    ) -> int:
        """Multi-action MERGE (Iceberg ``MERGE INTO`` with several WHEN
        clauses — the general form of :meth:`upsert`, which is the
        two-clause UPDATE*/INSERT* special case the reference drives
        through pyiceberg ``table.upsert``,
        ``wr-iceberg/src/component.py:107-108``). Per source row, after
        the source is deduped on ``keys``:

        - matched  & ``delete_when``            → the key's target rows deleted
        - matched  & else & ``update_when``     → the key's target rows
          replaced by the source row
        - matched  & else & not ``update_when`` → the key's target rows kept
        - unmatched source & ``insert_when``    → source row inserted
        - unmatched target                      → kept

        Conditions are SQL boolean expressions over the SOURCE row's
        columns (the CDC-apply shape: the source carries the op
        discriminator); a condition that evaluates to NULL is false.
        Defaults: no deletes, update all matched, insert all unmatched —
        i.e. plain upsert. ``order_by`` and ``evolve`` are :meth:`upsert`'s.
        """
        return self._merge(
            namespace, table, source, keys, delete_when, update_when,
            insert_when, order_by, evolve, "merge",
        )

    def _merge(
        self,
        namespace: str,
        table: str,
        source: DataFrame,
        keys: list[str],
        delete_when: str | None,
        update_when: str | None,
        insert_when: str | None,
        order_by: str | None,
        evolve: bool,
        operation: str,
    ) -> int:
        """The one MERGE body behind :meth:`upsert` and :meth:`merge`.

        Plan: dedupe source (window over keys) → file-pruned target anti-
        join the keys the source updates or deletes → union the emitted
        source rows. The rule is key-level: a key that a source row
        updates or deletes loses ALL of its target rows, so a target that
        holds duplicate keys never keeps a stale copy beside the new row.
        With no WHEN clause every source row is emitted and the plan is
        one shuffle on the key columns (the small side broadcasts under
        AQE); a clause adds one key-only join that tells matched source
        rows (emitted iff update and not delete) from unmatched ones
        (emitted iff insert). The union keeps the target's column order.

        The dedupe is skipped when the key-range bounds job proves the
        source key-unique (its row count equals its distinct key-tuple
        count) and the source plan is deterministic: the window would
        then keep every row, so the write plans the raw source with no
        full-row shuffle. A nondeterministic source may yield other rows
        when the write evaluates it again, so it keeps the window.

        Determinism: without ``order_by``, source-internal key duplicates
        resolve by the md5 of the remaining columns — a partition-layout-
        independent tie-break, so repeated runs of the same statement
        always keep the same row (``dropDuplicates`` would keep whichever
        row a task saw first). Pass ``order_by`` to express intent (the
        reference's batch pump is deterministic last-by-arrival); the
        hash fallback only guarantees *a* stable winner, not which one.
        """
        # helper columns take a suffix no source column carries, so a user
        # column that happens to share a helper's name is never replaced
        sfx = ""
        while {f"_rn{sfx}", f"_hit{sfx}"} & set(source.columns):
            sfx += "_"
        rn, hit = f"_rn{sfx}", f"_hit{sfx}"

        def dedupe(df: DataFrame) -> DataFrame:
            if order_by is not None:
                rank_key = F.col(order_by).desc()
            else:
                non_keys = [c for c in df.columns if c not in keys]
                # Unambiguous row encoding: to_json escapes separators and
                # distinguishes NULL from any string, so two *distinct*
                # rows can never hash equal (a concat_ws encoding would
                # collide on values containing the separator, silently
                # reverting to arbitrary-winner nondeterminism). Handles
                # complex types too.
                rank_key = F.md5(
                    F.to_json(F.struct(*[F.col(c) for c in non_keys]))
                ).desc() if non_keys else F.lit(1).asc()
            w = Window.partitionBy(*keys).orderBy(rank_key)
            return (
                df.withColumn(rn, F.row_number().over(w))
                .filter(F.col(rn) == 1)
                .drop(rn)
            )

        def flag(cond: str | None, default: bool) -> Column:
            return (
                F.coalesce(F.expr(cond), F.lit(False)) if cond
                else F.lit(default)
            )

        dele = flag(delete_when, False)
        upd = flag(update_when, True)
        ins = flag(insert_when, True)
        base = self._head_sid(namespace, table)
        if base is None:
            # every source row is unmatched: insert_when is the only
            # guard. Base 0 makes a rival that creates the table first
            # a conflict, not a replace of its rows
            return self._commit(
                namespace, table, dedupe(source).filter(ins),
                operation=operation, carry=False, base_sid=0,
            )
        manifest = self._manifest(namespace, table, base)
        self._validate_source_schema(
            namespace, table, manifest, source, operation, additive_ok=evolve
        )
        candidates, untouched, keys_unique = self._delta_key_pruning(
            manifest, source, keys
        )
        if not (keys_unique and _plan_is_deterministic(source)):
            source = dedupe(source)
        if candidates:
            target = self._read_with_deletes(
                source.sparkSession, namespace, table, manifest, candidates
            )
            kept = target.join(
                source.filter(dele | upd).select(*keys), keys, "left_anti"
            )
            emitted = source
            if delete_when or update_when or insert_when:
                matched = (
                    target.select(*keys)
                    .join(source.select(*keys), keys, "left_semi")
                    .distinct()
                    .withColumn(hit, F.lit(True))
                )
                emitted = (
                    source.join(matched, keys, "left")
                    .filter(F.when(F.col(hit), upd & ~dele).otherwise(ins))
                    .drop(hit)
                )
            merged = kept.unionByName(emitted, allowMissingColumns=evolve)
        else:
            merged = source.filter(ins)
        return self._commit(
            namespace, table, merged, operation=operation, carry=False,
            base_sid=base, carry_dirs=untouched,
        )

    def _validate_source_schema(
        self,
        namespace: str,
        table: str,
        manifest: dict,
        source: DataFrame,
        op: str,
        additive_ok: bool = False,
    ) -> None:
        """Source-vs-target schema gate shared by merge and upsert, run
        BEFORE key-range pruning: on the no-candidate path the source
        commits as a new data dir beside carried target dirs, so a
        divergent source must fail HERE — the candidate path at least
        fails later via unionByName, the no-candidate path would commit
        a mixed-schema table silently. Compares (name, type) pairs: the
        manifest schema is the user schema as Spark JSON (``_commit``),
        so same-name/different-type divergence is caught too, not just
        missing/extra columns. A manifest with no recorded schema
        (legacy snapshot) falls back to the table's physical read schema
        instead of skipping the check. ``additive_ok`` (schema
        evolution): extra source columns are allowed — the source must
        still COVER every target column, and common columns must still
        type-match; evolution never drops or retypes."""
        fields = (manifest.get("schema") or {}).get("fields") or []
        if fields:
            t_types = {f["name"]: f["type"] for f in fields}
        else:
            t_types = {
                f.name: f.dataType.jsonValue()
                for f in self.read(
                    source.sparkSession, namespace, table
                ).schema.fields
            }
        s_types = {
            f.name: f.dataType.jsonValue() for f in source.schema.fields
        }
        if additive_ok:
            missing = set(t_types) - set(s_types)
            if missing:
                raise ValueError(
                    f"{op} with evolve=True: source must cover every "
                    f"target column (evolution is additive only); "
                    f"missing={sorted(missing)}"
                )
        elif set(t_types) != set(s_types):
            raise ValueError(
                f"{op} source schema must match the target: "
                f"target={sorted(t_types)} source={sorted(s_types)}"
            )
        diverged = {
            n: {"target": t_types[n], "source": s_types[n]}
            for n in t_types
            if n in s_types and t_types[n] != s_types[n]
        }
        if diverged:
            raise ValueError(
                f"{op} source column types must match the target: {diverged}"
            )

    def _delta_key_pruning(
        self, manifest: dict, delta: DataFrame, keys: list[str]
    ) -> tuple[list[str], list[str], bool]:
        """File-pruned copy-on-write (Iceberg MERGE cost shape): a data dir
        whose key-range stats cannot overlap the delta's key range cannot
        contain a matched row — carry it into the new snapshot untouched.

        One aggregate job over the delta's key columns reads the per-key
        min/max, the row count and the exact count of distinct key
        tuples; a delta under the byte gate's one-task size
        (:func:`session.kernel_width`) aggregates in a single partition,
        which plans no exchange. The distinct count groups the tuple the
        way the merge's dedupe window partitions it: NULL key fields
        compare equal and floating keys are normalized (-0.0 = 0.0, one
        NaN). Returns
        ``(candidate_dirs, untouched_dirs, keys_unique)``; ``keys_unique``
        is true when no key tuple occurs twice in this evaluation of the
        delta."""
        conjuncts: list[tuple[str, str, object]] = []
        aggs = [F.min(k).alias(f"_mn_{k}") for k in keys] + [
            F.max(k).alias(f"_mx_{k}") for k in keys
        ] + [
            F.count(F.lit(1)).alias("_rows"),
            F.count_distinct(F.struct(*keys)).alias("_keys"),
        ]
        # a source the byte gate sizes to one task aggregates in one
        # partition: no exchange, so one Spark job instead of three
        if kernel_width(delta, floor=1) == 1:
            delta = delta.coalesce(1)
        bounds = delta.agg(*aggs).collect()[0]
        keys_unique = bounds["_rows"] == bounds["_keys"]
        # collect() renders tz-adjusted TimestampType in the SYSTEM
        # timezone (datetime.fromtimestamp), while manifest stats live in
        # naive UTC — on a non-UTC host the raw strftime would shift
        # the key range by the host offset and the prune could skip a
        # dir holding matched keys (lost updates; review r15). Anchor
        # the naive local value to the system zone, convert to UTC,
        # drop tzinfo. NTZ timestamps collect as the literal naive
        # value and need no conversion.
        ntz_keys = {
            f.name
            for f in delta.schema.fields
            if f.dataType.typeName() == "timestamp_ntz"
        }

        def to_stats_domain(v, k):
            if isinstance(v, _dt.datetime) and k not in ntz_keys:
                return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return v

        for k in keys:
            mn = _stat_jsonable(to_stats_domain(bounds[f"_mn_{k}"], k))
            mx = _stat_jsonable(to_stats_domain(bounds[f"_mx_{k}"], k))
            if mn is None or mx is None:
                conjuncts = []
                break
            conjuncts += [(k, ">=", mn), (k, "<=", mx)]
        if conjuncts:
            return (*self._split_by_stats(manifest, conjuncts), keys_unique)
        return list(manifest["files"]), [], keys_unique

    def compact(self, spark: SparkSession, namespace: str, table: str) -> int:
        """Compaction commit: rewrite the current snapshot's (possibly
        many, possibly small) data directories into one directory —
        content-identical, metadata flipped atomically.

        The Iceberg analogue is ``rewrite_data_files``; the point at scale
        is the same: appends/upserts accrete small files, and scan cost is
        dominated by file count once files are smaller than
        ``maxPartitionBytes``. The rewrite is sized like every
        table-derived write (:meth:`_commit`): below the byte gate it
        writes at most one file per core, above it one per scan split.
        Readers of prior snapshots are unaffected (their manifests still
        reference the old directories).
        """
        base = self._current_sid(namespace, table)
        df = self.read(spark, namespace, table, snapshot_id=base)
        # compaction MATERIALIZES pending merge-on-read deletes (the read
        # above applied them) and clears the entries — Iceberg's
        # rewrite_data_files + rewrite_position_delete_files in one
        return self._commit(
            namespace, table, df, operation="compact", carry=False,
            base_sid=base, deletes=[],
        )

    def cluster_rewrite(
        self,
        spark: SparkSession,
        namespace: str,
        table: str,
        sort_col: str,
        n_buckets: int = 8,
    ) -> int:
        """Sort-order data rewrite (Iceberg ``rewrite_data_files`` with a
        sort order — the engine half of ``ALTER TABLE … WRITE ORDERED
        BY``): range-partition the table on ``sort_col`` into
        ``n_buckets`` data directories, each sorted within, and commit
        them as one new snapshot. Content-identical; what changes is the
        STATS SHAPE: every directory's min/max interval on ``sort_col``
        becomes narrow and disjoint, so a predicate scan
        (``read(where=…)``) skips ~(n_buckets − 1)/n_buckets of the data
        via manifest pruning instead of opening every file. This is the
        standard cure for append-order tables where each commit spans the
        full key range and stats pruning can never skip anything — at
        100 TB the difference between a clustered and an append-ordered
        table on a range query is the difference between reading one
        bucket and reading everything.

        One Spark job: ``repartitionByRange`` (range boundaries by
        sampling — layout, not content, so determinism of results is
        unaffected) + per-partition sort, written once via a hive
        ``partitionBy`` on the bucket id, whose subdirectories are then
        promoted to top-level data dirs of the new manifest with their
        own footer-derived stats. Pending merge-on-read deletes are
        materialized (the read applies them) and cleared, as in
        :meth:`compact`. Tables with a hive partition spec are refused —
        cluster order and hive layout are competing physical designs;
        Iceberg tracks them separately and so do we."""
        return self._clustered_rewrite(
            spark, namespace, table, n_buckets, "cluster_rewrite",
            lambda df: F.col(sort_col),
        )

    def zorder_rewrite(
        self,
        spark: SparkSession,
        namespace: str,
        table: str,
        cols: list[str],
        n_buckets: int = 8,
        bits: int = 8,
    ) -> int:
        """Z-order data rewrite (Iceberg ``rewrite_data_files`` with a
        ``zorder(...)`` strategy): cluster on the bit-interleaved
        space-filling-curve value of SEVERAL columns, so every data
        directory's min/max interval is narrow on EACH of them and a
        predicate on ANY clustered column prunes directories —
        single-column ``cluster_rewrite`` can only ever serve its one
        sort column. This is the standard physical design for tables
        queried along two+ independent dimensions (user × time,
        key × price): at 100 TB the z-curve turns either filter into a
        ~(1 − 1/√n_buckets) directory skip instead of a full scan on
        the unsorted dimension.

        Mechanics: each column is affinely mapped onto a ``bits``-wide
        integer rank using its table-wide min/max (one metadata-sized
        agg), the ranks' bits are interleaved into the z-value with pure
        bit expressions (stays inside whole-stage codegen — no UDF),
        and the shared clustered-commit tail range-partitions on it.
        The z column itself is never written; only the layout changes.
        """
        if not cols or len(cols) < 2:
            raise ValueError("zorder_rewrite needs >= 2 columns")

        def make_z(df: DataFrame) -> Column:
            aggs = []
            for c in cols:
                aggs += [F.min(c).alias(f"_mn_{c}"), F.max(c).alias(f"_mx_{c}")]
            b = df.agg(*aggs).collect()[0]  # 1-row bounds: metadata-sized
            max_rank = (1 << bits) - 1
            ranks = []
            for c in cols:
                mn, mx = b[f"_mn_{c}"], b[f"_mx_{c}"]
                if mn is None or mx is None or mx == mn:
                    ranks.append(F.lit(0).cast("long"))
                    continue
                span = float(mx) - float(mn)
                scaled = F.floor(
                    (F.col(c).cast("double") - float(mn)) / span * max_rank
                ).cast("long")
                ranks.append(
                    F.least(F.greatest(scaled, F.lit(0)), F.lit(max_rank))
                )
            z = F.lit(0).cast("long")
            n = len(cols)
            for bit in range(bits):
                for ci, r in enumerate(ranks):
                    z = z.bitwiseOR(
                        F.shiftleft(
                            F.shiftright(r, bit).bitwiseAND(F.lit(1)),
                            bit * n + ci,
                        )
                    )
            return z

        return self._clustered_rewrite(
            spark, namespace, table, n_buckets, "zorder_rewrite", make_z
        )

    def _clustered_rewrite(
        self,
        spark: SparkSession,
        namespace: str,
        table: str,
        n_buckets: int,
        operation: str,
        make_cluster_col,
    ) -> int:
        """Shared clustered-commit tail for :meth:`cluster_rewrite` /
        :meth:`zorder_rewrite`: range-partition the current content on
        the cluster expression, sort within partitions, hive-write by
        bucket id, promote the bucket dirs to manifest entries with
        footer-derived stats. The cluster column is internal: dropped
        before write (a Project above Sort preserves partition order),
        and the hive bucket column never lands in the data files."""
        base = self._current_sid(namespace, table)
        manifest = self._manifest(namespace, table, base)
        if manifest.get("partition_by") or manifest.get("partition_spec"):
            raise ValueError(
                f"{operation} on a partitioned table: drop the "
                "partition spec first (competing physical layouts)"
            )
        df = self.read(spark, namespace, table, snapshot_id=base)
        bucketed = (
            df.withColumn("_ck", make_cluster_col(df))
            .repartitionByRange(n_buckets, F.col("_ck"))
            .sortWithinPartitions("_ck")
            .drop("_ck")
            .withColumn("_cluster_bucket", F.spark_partition_id())
        )
        tmp_name = f"cluster-{uuid.uuid4().hex[:12]}"
        with self._new_paths(namespace, table) as claim:
            tmp_root = claim("data", f"_tmp_{tmp_name}")
            bucketed.write.mode("overwrite").partitionBy(
                "_cluster_bucket"
            ).parquet(tmp_root)
            # the bucket dirs reach the manifest only as extra_dirs: the
            # commit carries nothing, so the rename chain resets as for
            # compact() — every dir is freshly written from a RESOLVED read
            extra_dirs: dict[str, dict] = {}
            for sub in sorted(os.listdir(tmp_root)):
                if not sub.startswith("_cluster_bucket="):
                    continue
                nd = f"{tmp_name}-b{sub.split('=')[1]}"
                dst = claim("data", nd)
                os.rename(os.path.join(tmp_root, sub), dst)
                extra_dirs[nd] = _stamp_dir(dst, manifest.get("bloom_cols"))
            shutil.rmtree(tmp_root, ignore_errors=True)
            return self._commit_metadata(
                namespace, table, operation, base_sid=base, deletes=[],
                extra_dirs=extra_dirs,
            )

    # -- row-level DML: two verbs over one core (_mutate_where) -------------

    # auto dispatch threshold: above this matched fraction of the candidate
    # dirs' rows a statement is copy-on-write, at or below it merge-on-read
    COW_DENSITY = 0.2

    def delete_where(
        self, spark: SparkSession, namespace: str, table: str, predicate: str,
        mode: str = "cow",
    ) -> int:
        """Row-level DELETE (Iceberg ``DELETE FROM`` analogue); prior
        snapshots still see the deleted rows. ``mode`` is the Iceberg
        ``write.delete.mode`` analogue: ``"cow"`` rewrites the survivors,
        ``"mor"`` commits the doomed rows' addresses as one deletion
        vector (refused while deletes are pending), ``"auto"`` picks one
        by the MEASURED doom density (:meth:`_auto_mode`)."""
        return self._mutate_where(
            spark, namespace, table, predicate, None, mode
        )

    def update_where(
        self, spark: SparkSession, namespace: str, table: str,
        predicate: str, assignments: dict[str, str], mode: str = "cow",
    ) -> int:
        """Row-level UPDATE (Iceberg ``UPDATE … SET`` analogue): matching
        rows get the SET expressions, ``assignments`` mapping column →
        SQL expression. ``mode`` is ``write.update.mode``'s analogue, as
        in :meth:`delete_where`; merge-on-read masks the matched rows and
        appends their new images in ONE commit."""
        return self._mutate_where(
            spark, namespace, table, predicate, assignments, mode
        )

    def _mutate_where(
        self, spark: SparkSession, namespace: str, table: str,
        predicate: str, assignments: dict[str, str] | None, mode: str,
    ) -> int:
        """The one row-level mutation core: ``assignments=None`` is a
        DELETE, anything else an UPDATE; ``mode`` is ``"cow"``, ``"mor"``
        or ``"auto"``. The head, its manifest and the stats/bloom-pruned
        candidate dirs are read ONCE, then one of two bodies runs:

        - copy-on-write rewrites the candidate dirs (pending deletes
          applied) — ``NOT pred`` survivors, or the ``when/otherwise``
          SET — and carries the untouched dirs byte-identical. With no
          candidate dir it still publishes a metadata-only snapshot.
        - merge-on-read writes the matched rows' physical addresses from
          a positional scan as one DV (:meth:`_commit_dv`); an UPDATE's
          new images land in the same manifest publish, so old rows are
          masked and new rows visible atomically (the DV scopes only the
          dirs it addresses, never the images' new dir). No candidate
          dir or no match returns the base id without a commit. Refused
          over pending deletes: positional addressing over masked rows
          is ambiguous (the ``read_with_positions`` contract).

        ``auto`` runs the body :meth:`_auto_mode` picks on the same
        manifest and candidates, and copy-on-write over pending deletes
        (copy-on-write is always legal)."""
        verb = "delete" if assignments is None else "update"
        if mode not in ("cow", "mor", "auto"):
            raise ValueError(
                f"{verb}_where mode must be 'cow', 'mor' or 'auto': {mode!r}"
            )
        base = self._current_sid(namespace, table)
        manifest = self._manifest(namespace, table, base)
        candidates, untouched = self._prune_dirs(manifest, predicate)
        if mode != "cow" and self._pending_deletes(
            manifest, manifest["files"]
        ):
            if mode == "mor":
                raise ValueError(
                    f"{namespace}.{table}: {verb}_where mode='mor' with "
                    "pending merge-on-read deletes is ambiguous — compact() "
                    "first"
                )
            mode = "cow"
        if mode == "auto":
            mode = self._auto_mode(
                spark, namespace, table, manifest, candidates, predicate
            )
        if mode == "cow":
            if not candidates:
                return self._commit_metadata(
                    namespace, table, verb, base_sid=base, carry_dirs=untouched
                )
            df = self._read_with_deletes(
                spark, namespace, table, manifest, candidates
            )
            if assignments is None:
                df = df.filter(f"NOT ({predicate})")
            for col_name, expr in (assignments or {}).items():
                df = df.withColumn(
                    col_name,
                    F.when(F.expr(predicate), F.expr(expr)).otherwise(
                        F.col(col_name)
                    ),
                )
            return self._commit(
                namespace, table, df, operation=verb, carry=False,
                base_sid=base, carry_dirs=untouched,
            )
        if mode == "skip" or not candidates:
            return base  # no row can match: nothing to publish
        matched = self._scan_dirs(
            spark, namespace, table, manifest, candidates, with_positions=True
        ).filter(predicate)
        images = None
        if assignments is not None:
            # SET targets must exist — the CoW body fails on an unknown
            # column (unresolvable in its otherwise() branch); silently
            # accepting one here would fork the schema on a typo
            pos_cols = (self.POS_FILE_COL, self.POS_IDX_COL)
            user_cols = {
                c for c in matched.columns
                if c not in pos_cols and not c.startswith("_pt_")
            }
            unknown = sorted(set(assignments) - user_cols)
            if unknown:
                raise ValueError(
                    "update_where merge-on-read SET targets not in the "
                    f"table schema: {unknown}"
                )
            # ONE evaluation of the predicate feeds BOTH jobs (the DV
            # write and the image append): without the checkpoint, a
            # nondeterministic predicate would mask one row set and
            # append images of another — silent loss/duplication (the
            # same double-execution hazard _commit's `check` closes)
            matched = matched.localCheckpoint()
            images = matched
            for col_name, expr in assignments.items():
                images = images.withColumn(col_name, F.expr(expr))
            images = images.drop(
                *pos_cols, *[c for c in images.columns if c.startswith("_pt_")]
            )
        return self._commit_dv(
            spark, namespace, table, base, manifest, matched,
            df=images, operation=verb,
        )

    def _auto_mode(
        self, spark: SparkSession, namespace: str, table: str,
        manifest: dict, candidates: list[str], predicate: str,
    ) -> str:
        """The auto verbs' physical shape from the matched fraction of the
        candidate dirs' rows: ``"cow"`` above ``COW_DENSITY``, ``"mor"``
        at or below it, ``"skip"`` when no row can match. Iceberg pins
        this choice statically per table (``write.delete.mode`` /
        ``write.update.mode``); here it is measured per statement, the
        way AQE picks join strategies at runtime. Dense matches go
        copy-on-write: rewriting most of a dir is the deferred work
        anyway, and a dense DV (or MoR images nearly doubling a dir's
        bytes) taxes every read until compaction.

        The decision is served COUNT-FREE whenever the row-group bounds
        of :meth:`_dispatch_bounds` land decisively on one side of the
        threshold, so the common equality/range statement pays exactly
        ONE candidate-dir scan: the chosen body's own. Only when they
        straddle it (or can't run) does one combined aggregate measure
        matched AND total in a single job — the predicate reaches the
        parquet reader as a pushed filter."""
        if not candidates:
            return "skip"
        bounds = self._dispatch_bounds(
            namespace, table, manifest, candidates, predicate
        )
        if bounds is not None:
            lower, upper, total = bounds
            if upper == 0:
                return "skip"  # footer proof: no row can match
            if total and lower / total > self.COW_DENSITY:
                return "cow"
            if total and upper / total <= self.COW_DENSITY:
                return "mor"
        scan = self._scan_dirs(spark, namespace, table, manifest, candidates)
        row = scan.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.expr(predicate)).alias("m"),
        ).first()
        n, matched = int(row["n"]), int(row["m"] or 0)
        if matched == 0:
            return "skip"
        return "cow" if n and matched / n > self.COW_DENSITY else "mor"

    def delete_keys(
        self,
        spark: SparkSession,
        namespace: str,
        table: str,
        keys_df: DataFrame,
        key_cols: list[str],
    ) -> int:
        """Merge-on-read DELETE (Iceberg v2 equality-delete analogue):
        write the doomed keys as a SMALL delete file and publish a
        metadata-only commit — no data rewrite. The entry records which
        data dirs it applies to (those visible at delete time), so rows
        of the same key appended LATER are not masked — Iceberg's
        sequence-number scoping. Reads anti-join the delete keys;
        ``compact`` materializes pending deletes and clears them.

        This is the right DELETE shape when the doomed set is small
        relative to the table (the common case): copy-on-write
        ``delete_where`` rewrites whole candidate dirs, merge-on-read
        writes KBs and defers the rewrite to the next compaction."""
        base = self._current_sid(namespace, table)
        manifest = self._manifest(namespace, table, base)
        with self._new_paths(namespace, table) as claim:
            out = claim("deletes", f"delete-{uuid.uuid4().hex[:12]}")
            keys_df.select(*key_cols).distinct().coalesce(1).write.parquet(
                out
            )
            entry = {
                "dir": os.path.basename(out),
                "key_cols": list(key_cols),
                "applies_to": list(manifest["files"]),
            }
            return self._commit_metadata(
                namespace, table, "delete", base_sid=base,
                carry_dirs=list(manifest["files"]),
                deletes=manifest.get("deletes", []) + [entry],
            )

    # column names a positional scan exposes to delete authors
    POS_FILE_COL = "_pos_file"
    POS_IDX_COL = "_pos_idx"

    def read_with_positions(
        self, spark: SparkSession, namespace: str, table: str
    ) -> DataFrame:
        """Scan exposing each row's physical address — (data file path,
        row ordinal within the file) as ``_pos_file``/``_pos_idx`` — the
        handle a caller needs to author position deletes
        (``delete_positions``). Addresses come from Spark's
        ``_metadata.file_path``/``row_index`` hidden columns, so the
        scan stays fully distributed and adds no shuffle.

        Refuses while merge-on-read deletes are pending: a position
        authored against a masked row would be ambiguous — compact (or
        author against a clean snapshot) first, matching the
        ``read_ordered``/``row_count`` pending-delete contracts."""
        sid = self._current_sid(namespace, table)
        manifest = self._manifest(namespace, table, sid)
        if self._pending_deletes(manifest, manifest["files"]):
            raise ValueError(
                f"{namespace}.{table}: read_with_positions with pending "
                "merge-on-read deletes is ambiguous — compact() first"
            )
        out = self._scan_dirs(
            spark, namespace, table, manifest, list(manifest["files"]),
            with_positions=True,
        )
        # hidden transform-partition columns never reach callers (the
        # read() contract) — the POS columns are the only additions
        hidden = [c for c in out.columns if c.startswith("_pt_")]
        return out.drop(*hidden) if hidden else out

    def delete_positions(
        self,
        spark: SparkSession,
        namespace: str,
        table: str,
        pos_df: DataFrame,
    ) -> int:
        """Merge-on-read POSITIONAL delete, written as a DELETION VECTOR
        (the Iceberg v3 successor of the v2 (file_path, pos) delete
        file, which v3 deprecates for new writes). ``pos_df`` carries
        the doomed rows' physical addresses as ``_pos_file``/``_pos_idx``
        (author them with ``read_with_positions``); the commit is
        metadata-only — no data rewrite.

        The DV holds ONE row per touched data file — file-count-sized
        in rows at any delete density — in the layout
        ``_dv_write_relation`` picks from the addresses' runs: stored
        ``(file_path, starts, ends)`` ranges for contiguous bands, the
        sorted ``positions`` array otherwise. The entry is stamped with
        position/run stats, so the read picks its apply plan
        (``_dv_apply_mode``) without a job. Its :meth:`_commit_dv` is
        the one position-delete publish the merge-on-read DELETE and
        UPDATE bodies share.

        Scoping is TIGHTER than ``delete_keys``: the entry records only
        the data dirs the addresses actually touch, so untouched dirs
        keep folding in ``compact_manifests`` and their read groups
        never pay this entry's apply. Positions are additionally
        physical — they name files — so rows appended later can never
        be masked even inside a scoped dir. ``compact`` materializes
        and clears the DV, ``rewrite_deletes_to_dv`` folds accreted
        entries into one, and ``compact_manifests`` never folds a
        covered dir (folding hard-links data files under new
        basenames, which would orphan the stored paths)."""
        base = self._current_sid(namespace, table)
        return self._commit_dv(
            spark, namespace, table, base,
            self._manifest(namespace, table, base), pos_df,
        )

    def _commit_dv(
        self, spark: SparkSession, namespace: str, table: str, base: int,
        manifest: dict, pos_df: DataFrame, df: DataFrame | None = None,
        operation: str = "delete",
    ) -> int:
        """Write ``pos_df``'s (``POS_FILE_COL``, ``POS_IDX_COL``)
        addresses as one DV and publish it on ``base`` — plus ``df``'s
        rows as a new data dir in the SAME manifest (a merge-on-read
        UPDATE's images). Returns ``base`` without a commit when no live
        dir is addressed: no dead entry is published."""
        with self._new_paths(namespace, table) as claim:
            out = claim("deletes", f"dvdelete-{uuid.uuid4().hex[:12]}")
            entry = self._dv_write_entry(
                spark, namespace, table, manifest, pos_df, out
            )
            if entry is None:
                return base
            deletes = manifest.get("deletes", []) + [entry]
            if df is None:
                return self._commit_metadata(
                    namespace, table, operation, base_sid=base,
                    carry_dirs=list(manifest["files"]), deletes=deletes,
                )
            return self._commit(
                namespace, table, df, operation=operation, carry=False,
                base_sid=base, carry_dirs=list(manifest["files"]),
                deletes=deletes,
            )

    def _dv_write_relation(
        self,
        spark: SparkSession,
        out: str,
        pos_rel: DataFrame,
        live_dirs: list[str],
        namespace: str,
        table: str,
    ) -> tuple[list[str], dict, str | None]:
        """Runs-first DV writer behind ``_dv_write_entry`` (per-statement
        deletes and updates, and the ``rewrite_deletes_to_dv`` fold):
        ONE per-file aggregate over the (file_path, pos) relation yields
        per-file run arrays plus the position/run stats the read gate
        consumes — computed BEFORE any bytes land, so the storage layout
        is chosen from the same numbers the apply gate reads and nothing
        is ever written twice.

        Layout choice (r15): positions >= ``DV_STORE_RANGES_FACTOR`` x
        runs AND runs inside the range-probe bounds stores
        ``(file_path, starts, ends)`` directly (``layout "ranges"`` —
        runs-sized bytes, the Iceberg-v3 roaring-bitmap analogue; the
        read broadcasts it as-is). Otherwise the
        explicit sorted ordinal form (``layout "positions"``), expanded
        from the run arrays with vectorized ``sequence``/``flatten``
        (positions < factor x runs bounds the per-row expansion).

        Write parallelism: the positions form fans out one task per
        ``DV_FOLD_POSITIONS_PER_TASK`` positions — the exact volume is
        already known from the stats pass, so per-statement writes get
        the same protection the fold got in r14 (a huge scattered DV no
        longer serializes through one task). The ranges form is
        run-bounded (<= ~16 MB by the probe caps) and keeps one file.

        Plan cost: one shuffle total — the per-file aggregate collects
        each file's sorted distinct ordinals (duplicate addresses, e.g.
        overlapping entries in a fold, collapse here) and reads the run
        bounds off them, with no sort or window stage. One file's doomed
        ordinals sit in one task's memory, bounded by the file's row
        count — the same bound the positions layout stores per row. The
        file-count-sized runs relation is localCheckpoint'ed so the
        stats aggregate and the write both read it without recomputing
        the source scan (the merge-on-read ``update_where``
        one-evaluation discipline).

        Returns ``(applies_to, stats, layout)``; layout None (nothing
        written) when no position addresses a live dir."""
        # a run starts where the previous ordinal is not x - 1 and ends
        # where the next is not x + 1; CASE keeps the neighbour lookups
        # inside the array (an out-of-range index raises under ANSI)
        per_file = (
            pos_rel.groupBy("file_path")
            .agg(F.array_sort(F.collect_set("pos")).alias("_p"))
            .select(
                "file_path",
                F.expr(
                    "filter(_p, (x, i) -> CASE WHEN i = 0 THEN true"
                    " ELSE _p[i - 1] <> x - 1 END)"
                ).alias("starts"),
                F.expr(
                    "filter(_p, (x, i) -> CASE WHEN i = size(_p) - 1"
                    " THEN true ELSE _p[i + 1] <> x + 1 END)"
                ).alias("ends"),
                F.size("_p").alias("_n"),
            )
            .withColumn("_nr", F.size("starts"))
            .localCheckpoint()
        )
        # dir extraction is anchored to THIS table's data root, not a
        # bare /data/ match — a warehouse path that itself contains a
        # /data/ segment would capture the wrong component, empty the
        # applies_to scope, and silently drop the delete (review r15)
        dir_re = (
            re.escape(f"/{namespace}/{table}/data/") + r"([^/]+)/"
        )
        row = per_file.select(
            F.regexp_extract("file_path", dir_re, 1).alias("d"),
            "_n",
            "_nr",
        ).agg(
            F.collect_set("d").alias("dirs"),
            F.sum("_n").alias("n"),
            F.max("_n").alias("mx"),
            F.sum("_nr").alias("nrt"),
            F.max("_nr").alias("nrm"),
        ).first()
        stats = {
            "n_positions": int(row["n"] or 0),
            "max_file_positions": int(row["mx"] or 0),
            "n_ranges": int(row["nrt"] or 0),
            "max_file_ranges": int(row["nrm"] or 0),
        }
        touched = set(row["dirs"] or [])
        applies_to = sorted(d for d in live_dirs if d in touched)
        try:
            if not applies_to or stats["n_positions"] == 0:
                return [], stats, None
            if (
                stats["n_ranges"] > 0
                and stats["n_positions"]
                >= self.DV_STORE_RANGES_FACTOR * stats["n_ranges"]
                and stats["max_file_ranges"]
                <= self.DV_RANGE_PROBE_MAX_PER_FILE
                and stats["n_ranges"]
                <= self.DV_RANGE_PROBE_MAX_TOTAL_RANGES
            ):
                per_file.select("file_path", "starts", "ends").coalesce(
                    1
                ).write.parquet(out)
                return applies_to, stats, "ranges"
            tasks = max(
                1,
                -(-stats["n_positions"] // self.DV_FOLD_POSITIONS_PER_TASK),
            )
            pos_out = per_file.select(
                "file_path",
                F.flatten(
                    F.zip_with(
                        "starts", "ends", lambda s, e: F.sequence(s, e)
                    )
                ).alias("positions"),
            )
            # explicit keyed repartition, not coalesce, when fanning
            # out: AQE collapses tiny partitions and coalesce can only
            # shrink — the user repartition pins the write parallelism
            # (r14 fold contract, now shared by per-statement writes)
            pos_out = (
                pos_out.repartition(tasks, "file_path")
                if tasks > 1
                else pos_out.coalesce(1)
            )
            pos_out.write.parquet(out)
            return applies_to, stats, "positions"
        finally:
            # release the checkpointed blocks eagerly: for a scattered
            # DV the starts/ends arrays are effectively positions-sized
            # and a long-lived session authoring many DVs would
            # otherwise hold every statement's blocks until the JVM-side
            # ContextCleaner gets to them (review r15)
            per_file.unpersist()

    @staticmethod
    def _dv_positions_relation(keys_df: DataFrame, entry: dict) -> DataFrame:
        """Expand a stored path-scoped delete file back to (file_path,
        pos) rows — the one layout bridge the fold and the read's
        anti-join share. Ranges expand with vectorized ``sequence`` (two
        explodes, no struct field names to depend on); a legacy
        ``mode: "positional"`` file already holds the rows."""
        if entry["mode"] == "positional":
            return keys_df.select("file_path", "pos")
        if entry.get("layout") == "ranges":
            return keys_df.select(
                "file_path",
                F.explode(
                    F.zip_with(
                        "starts", "ends", lambda s, e: F.sequence(s, e)
                    )
                ).alias("_run"),
            ).select("file_path", F.explode("_run").alias("pos"))
        return keys_df.select(
            "file_path", F.explode("positions").alias("pos")
        )

    def _dv_write_entry(
        self,
        spark: SparkSession,
        namespace: str,
        table: str,
        manifest: dict,
        pos_df: DataFrame,
        out: str,
    ) -> dict | None:
        """Write a DV delete file at ``out`` from (``POS_FILE_COL``,
        ``POS_IDX_COL``) rows and build its STAMPED manifest entry —
        the one authoring path :meth:`_commit_dv` and
        ``rewrite_deletes_to_dv`` share, so the position/run stats the
        read gate consumes can never drift between writers. Returns
        None (and writes nothing) when no live dir is addressed.
        The entry records the storage ``layout``
        (``_dv_write_relation``'s choice) so the read side dispatches
        without inspecting file schemas."""
        pos_rel = pos_df.select(
            F.col(self.POS_FILE_COL).alias("file_path"),
            F.col(self.POS_IDX_COL).cast("long").alias("pos"),
        )
        applies_to, stats, layout = self._dv_write_relation(
            spark, out, pos_rel, list(manifest["files"]), namespace, table
        )
        if layout is None:
            return None
        return {
            "dir": os.path.basename(out),
            "mode": "dv",
            "layout": layout,
            "applies_to": applies_to,
            **stats,
        }

    def rewrite_deletes_to_dv(
        self, spark: SparkSession, namespace: str, table: str
    ) -> int:
        """Maintenance (Iceberg ``rewrite_position_delete_files``
        analogue): fold EVERY pending path-scoped delete entry — DVs of
        either layout, unstamped legacy DVs and legacy
        ``mode: "positional"`` files alike — into ONE stamped deletion
        vector, dropping dead addresses, without touching data files.
        k accreted delete files collapse to ONE entry, so the read goes
        from k apply passes to one, and the folded entry carries the
        stats the apply gate reads (``_dv_apply_mode``).

        Two properties make the fold safe that would NOT hold for
        equality entries: a (file, ordinal) address can only mask its
        exact row, so (a) unioning the sources' scopes masks nothing
        new (later-appended rows live in other files), and (b)
        addresses whose file no longer lives under a live scoped dir
        are dead (a CoW rewrite materialized them) and are dropped
        here. Equality entries are semantic and carried unchanged.
        No-op when there is nothing to fold (no path-scoped entries,
        or exactly one DV the current writer already stamped)."""
        base = self._current_sid(namespace, table)
        manifest = self._manifest(namespace, table, base)
        entries = manifest.get("deletes", [])
        pos = [e for e in entries if e.get("mode") in ("positional", "dv")]
        if not pos or (len(pos) == 1 and "layout" in pos[0]):
            return base
        keep = [e for e in entries if e.get("mode") not in ("positional", "dv")]
        live_dirs = set(manifest["files"])
        live_scope = sorted(
            {d for e in pos for d in e["applies_to"] if d in live_dirs}
        )
        doomed = None
        if live_scope:
            merged = None
            for e in pos:
                df = self._dv_positions_relation(
                    spark.read.parquet(
                        self._tbl(namespace, table, "deletes", e["dir"])
                    ),
                    e,
                )
                merged = df if merged is None else merged.unionByName(df)
            # dead-address drop: match on the /data/<dirname>/ COMPONENT,
            # not the absolute warehouse path — stored addresses are
            # Spark _metadata URIs (file:…, percent-encoded), so an
            # absolute-path substring would miss on any URI-escaped
            # warehouse path and drop LIVE addresses; dir names are uuid
            # hex and never escape (a false keep is harmless: the address
            # simply never matches a scanned row)
            alive = F.col("file_path").contains(f"/data/{live_scope[0]}/")
            for d in live_scope[1:]:
                alive = alive | F.col("file_path").contains(f"/data/{d}/")
            doomed = merged.filter(alive).select(
                F.col("file_path").alias(self.POS_FILE_COL),
                F.col("pos").alias(self.POS_IDX_COL),
            )
        with self._new_paths(namespace, table) as claim:
            out = claim("deletes", f"dvdelete-{uuid.uuid4().hex[:12]}")
            # the shared runs-first writer picks the layout (an accreted
            # backlog of band deletes folds into a runs-sized ``ranges``
            # entry), fans the write out from the EXACT folded volume,
            # and stamps the gate stats (the fold must not launder a
            # dense DV into an unstamped entry)
            entry = None if doomed is None else self._dv_write_entry(
                spark, namespace, table, manifest, doomed, out
            )
            # every address dead (every scoped dir since rewritten): the
            # equality entries are published alone, with no DV at all
            return self._commit_metadata(
                namespace, table, "rewrite_to_dv", base_sid=base,
                carry_dirs=list(manifest["files"]),
                deletes=keep + ([entry] if entry else []),
            )

    def _read_with_deletes(
        self,
        spark: SparkSession,
        namespace: str,
        table: str,
        manifest: dict,
        dir_names: list[str],
        partition_filters: list[str] | None = None,
    ) -> DataFrame:
        """Scan with pending merge-on-read deletes applied: dirs are
        grouped by their applicable delete-entry set; each group applies
        its entries (equality keys anti-join, path-scoped entries take
        the ``_dv_apply_mode`` plan), groups union back. With no pending
        deletes this is a plain scan.

        ``partition_filters`` are predicates over the *hidden* partition
        columns of a transform-partitioned table (see
        :mod:`partition_spec`); they are applied while those columns are
        still visible — Spark turns them into PartitionFilters, pruning
        directories at file-listing time — and the hidden columns are then
        dropped so callers always see the user schema."""
        deletes = self._pending_deletes(manifest, dir_names)
        if not deletes:
            out = self._scan_dirs(spark, namespace, table, manifest, dir_names)
        else:
            groups: dict[frozenset, list[str]] = {}
            for d in dir_names:
                key = frozenset(
                    i for i, e in enumerate(deletes) if d in e["applies_to"]
                )
                groups.setdefault(key, []).append(d)
            out = None
            for key, dirs in sorted(groups.items(), key=lambda kv: sorted(kv[0])):
                # path-scoped entries match on the rows' physical (file,
                # ordinal) address, which must be projected at SCAN time
                # (hidden _metadata columns don't survive a union), so
                # the group's read carries them when needed
                needs_pos = any(
                    deletes[i].get("mode") in ("positional", "dv")
                    for i in key
                )
                # schema resolution runs BEFORE the anti-joins: delete
                # entries authored after a rename reference logical names
                # (pre-rename entries refuse the rename — compact first)
                part = self._scan_dirs(
                    spark, namespace, table, manifest, dirs,
                    with_positions=needs_pos,
                )
                pos_col = F.col(self.POS_IDX_COL)
                for i in sorted(key):
                    e = deletes[i]
                    keys_df = spark.read.parquet(
                        self._tbl(namespace, table, "deletes", e["dir"])
                    )
                    if e.get("mode") not in ("positional", "dv"):
                        part = part.join(keys_df, e["key_cols"], "left_anti")
                        continue
                    mode = self._dv_apply_mode(manifest, e)
                    if mode == "ranges":
                        rng = keys_df.select(
                            F.col("file_path").alias(self.POS_FILE_COL),
                            F.col("starts").alias("_dv_starts"),
                            F.col("ends").alias("_dv_ends"),
                        )
                        # zip_with, not arrays_zip: arrays_zip names its
                        # struct fields after the input columns, which is
                        # version-sensitive Spark behavior — a rename to
                        # '0'/'1' would silently break the lambda's field
                        # access. zip_with carries no field names.
                        in_a_run = F.exists(
                            F.zip_with(
                                F.col("_dv_starts"),
                                F.col("_dv_ends"),
                                lambda s, e: (pos_col >= s) & (pos_col <= e),
                            ),
                            lambda hit: hit,
                        )
                        part = (
                            part.join(
                                F.broadcast(rng), [self.POS_FILE_COL], "left"
                            )
                            .filter(F.col("_dv_starts").isNull() | ~in_a_run)
                            .drop("_dv_starts", "_dv_ends")
                        )
                    elif mode == "probe":
                        dv = keys_df.select(
                            F.col("file_path").alias(self.POS_FILE_COL),
                            F.col("positions").alias("_dv_positions"),
                        )
                        part = (
                            part.join(
                                F.broadcast(dv), [self.POS_FILE_COL], "left"
                            )
                            .filter(
                                F.col("_dv_positions").isNull()
                                | ~F.array_contains(
                                    F.col("_dv_positions"), pos_col
                                )
                            )
                            .drop("_dv_positions")
                        )
                    else:
                        doomed = self._dv_positions_relation(
                            keys_df, e
                        ).select(
                            F.col("file_path").alias(self.POS_FILE_COL),
                            F.col("pos").alias(self.POS_IDX_COL),
                        )
                        part = part.join(
                            doomed,
                            [self.POS_FILE_COL, self.POS_IDX_COL],
                            "left_anti",
                        )
                if needs_pos:
                    part = part.drop(self.POS_FILE_COL, self.POS_IDX_COL)
                out = part if out is None else out.unionByName(
                    part, allowMissingColumns=True
                )
        for col, pred in partition_filters or []:
            # a filter is only applicable when its derived column survived
            # stats pruning / spec evolution into this scan
            if col in out.columns:
                out = out.filter(pred)
        # drop EVERY hidden transform column, not just the current spec's:
        # after partition-spec evolution, directories written under older
        # specs surface their own _pt_* columns through the union
        hidden = [c for c in out.columns if c.startswith("_pt_")]
        if hidden:
            out = out.drop(*hidden)
        return out

    # -- reads --------------------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        namespace: str,
        table: str,
        snapshot_id: int | None = None,
        as_of_ms: int | None = None,
        where: str | None = None,
        ref: str | None = None,
    ) -> DataFrame:
        """Scan the table at the current / given / timestamp-resolved /
        ref-named snapshot (``snapshot-id`` / ``as-of-timestamp`` /
        ``branch``/``tag`` read options of the Iceberg connector).

        ``where`` is applied as a normal Spark filter AND, when it is a
        simple conjunction, used to SKIP whole data directories whose
        manifest min/max stats cannot satisfy it (Iceberg metrics pruning:
        the scan never opens files that cannot contain matches)."""
        sid = snapshot_id
        if sid is None and ref is not None:
            sid = self.resolve_ref(namespace, table, ref)
        if sid is None and as_of_ms is not None:
            candidates = [
                s for s in self._snapshots(namespace, table)
                if s["timestamp_ms"] <= as_of_ms
            ]
            if not candidates:
                raise SnapshotNotFound(f"no snapshot at or before {as_of_ms}")
            sid = candidates[-1]["snapshot_id"]
        if sid is None:
            sid = self._current_sid(namespace, table)
        manifest = self._manifest(namespace, table, sid)
        dir_names = manifest["files"]
        part_filters: list[str] = []
        if where:
            dir_names, _skipped = self._prune_dirs(manifest, where)
            spec = manifest.get("partition_spec")
            if spec:
                # hidden-partitioning predicate conversion: rewrite simple
                # source-column conjuncts onto the derived partition
                # columns so the hive layout prunes directories — the
                # user's filter itself still applies for exactness
                part_filters = partition_spec.derive_predicates(
                    partition_spec.parse_spec(spec), simple_conjuncts(where)
                )
        if not dir_names and manifest.get("schema"):
            # pruning (stats or bloom) excluded EVERY directory — the
            # normal outcome for a point lookup of an absent value. A
            # zero-path parquet read cannot infer a schema, so answer
            # from the manifest schema directly: 0 rows, right columns.
            from pyspark.sql import types as T

            return spark.createDataFrame(
                [], T.StructType.fromJson(manifest["schema"])
            )
        df = self._read_with_deletes(
            spark, namespace, table, manifest, dir_names,
            partition_filters=part_filters,
        )
        if where:
            df = df.filter(where)
        return df

    def read_ordered(
        self,
        spark: SparkSession,
        namespace: str,
        table: str,
        snapshot_id: int | None = None,
        with_position: bool = False,
    ) -> DataFrame:
        """Scan with a ``_commit_seq`` column: the position of each data
        directory in the manifest's file list, i.e. COMMIT ORDER. This is
        the cross-commit half of the ordered-read contract — data dir
        names are collision-free uuids, so ``_metadata.file_path`` alone
        orders files arbitrarily ACROSS commits; a reader recovering full
        insertion order sorts by ``(_commit_seq, _metadata.file_path,
        _metadata.row_index)`` (within an ordered commit the range
        partitioner made file order = key order — see ``append(sort_by)``).

        Per-dir scans union by name, so the plan is one branch per commit
        — the same shape ``_read_dirs`` uses for partitioned tables.
        Pending equality deletes would break per-dir attribution; ordered
        readers must compact first (explicit error, not silent misorder)."""
        sid = snapshot_id or self._current_sid(namespace, table)
        manifest = self._manifest(namespace, table, sid)
        if self._pending_deletes(manifest, manifest["files"]):
            raise ValueError(
                f"{namespace}.{table}: read_ordered with pending equality "
                "deletes is unsupported — run compact() first"
            )
        partitioned = bool(manifest.get("partition_by"))
        out = None
        ordered_schema = self._scan_schema(manifest)
        for i, d in enumerate(manifest["files"]):
            part = self._resolve_schema(
                self._read_dirs(
                    spark, namespace, table, [d], partitioned,
                    read_schema=ordered_schema,
                ),
                manifest,
            ).withColumn("_commit_seq", F.lit(i))
            if with_position:
                # _metadata is only resolvable on the scan-backed frame —
                # capture it per branch, BEFORE the union erases it
                part = part.withColumn(
                    "_file_path", F.col("_metadata.file_path")
                ).withColumn("_row_index", F.col("_metadata.row_index"))
            out = part if out is None else out.unionByName(
                part, allowMissingColumns=True
            )
        if out is None:
            raise SnapshotNotFound(
                f"{namespace}.{table} snapshot {sid} has no data"
            )
        return out

    def _resolve_schema(self, df: DataFrame, manifest: dict) -> DataFrame:
        """Apply the manifest's column-rename chain and logical-schema
        projection to a raw multi-dir scan — the read half of
        METADATA-ONLY rename/drop (:meth:`rename_column` /
        :meth:`drop_column`): directories written before a rename keep
        their physical names forever (no data rewrite at any scale); the
        scan surfaces both generations via mergeSchema and this step
        folds them into the logical column (coalesce is exact — a dir
        contains at most ONE generation of a column, enforced by the
        retired-name reuse guard), then projects to the logical schema so
        dropped columns vanish. Tables that never renamed/dropped skip
        this entirely — their plans are untouched."""
        renames = manifest.get("renames") or []
        if not renames and not manifest.get("retired"):
            return df
        for old, new in renames:
            if old in df.columns:
                if new in df.columns:
                    df = df.withColumn(
                        new, F.coalesce(F.col(new), F.col(old))
                    ).drop(old)
                else:
                    df = df.withColumnRenamed(old, new)
        fields = [
            f["name"]
            for f in (manifest.get("schema") or {}).get("fields", [])
        ]
        if fields:
            extras = [
                c
                for c in df.columns
                if c.startswith("_pt_")
                or c in (self.POS_FILE_COL, self.POS_IDX_COL)
            ]
            df = df.select(
                *[c for c in fields if c in df.columns], *extras
            )
        return df

    def _scan_dirs(
        self, spark: SparkSession, namespace: str, table: str,
        manifest: dict, dir_names: list[str], with_positions: bool = False,
    ) -> DataFrame:
        """Schema-resolved scan of ``dir_names`` under ``manifest``'s
        layout, schema and rename chain — no pending deletes applied."""
        return self._resolve_schema(
            self._read_dirs(
                spark, namespace, table, dir_names,
                bool(manifest.get("partition_by")),
                with_positions=with_positions,
                read_schema=self._scan_schema(manifest),
            ),
            manifest,
        )

    def _scan_schema(self, manifest: dict):
        """Explicit read schema for the scan, or None (the scan keeps
        its mergeSchema plan untouched).

        Widened tables: every logical field at its current (wide) type,
        plus each field's retired rename aliases at the same wide type,
        so directories from any name/width generation read correctly
        (absent columns NULL-fill, narrow columns upcast) and
        :meth:`_resolve_schema` folds the generations.

        Plain tables (r16, guide §1.2 — the driver should do almost no
        per-statement work): when EVERY scanned directory carries the
        same commit-stamped physical schema (its ``dirs`` record's
        ``schema``), return
        it, so the reader is built with an explicit schema instead of a
        mergeSchema inference pass — measured ~230 ms → ~20 ms per
        DataFrame CONSTRUCTION (the inference is a distributed
        footer-read job, paid on every catalog read of every statement).
        Stamped schemas are nullability-normalized at commit time to
        match parquet inference exactly, so read schemas are
        bit-identical either way. Any dir without a stamp (pre-r16
        manifests, ``add_files`` imports, manifest folds), any schema
        disagreement between dirs (evolving plain tables rely on
        mergeSchema's union), and any partitioned/renamed/retired
        layout falls back to the old inference path unchanged."""
        if not manifest.get("widened"):
            if (
                manifest.get("partition_by")
                or manifest.get("partition_spec")
                or manifest.get("renames")
                or manifest.get("retired")
            ):
                return None
            files = manifest.get("files") or []
            dirs = manifest.get("dirs", {})
            if not files:
                return None
            first = dirs.get(files[0], {}).get("schema")
            if first is None or any(
                dirs.get(d, {}).get("schema") != first for d in files[1:]
            ):
                return None
            from pyspark.sql import types as T

            return T.StructType.fromJson(first)
        from pyspark.sql import types as T

        logical = T.StructType.fromJson(manifest["schema"])
        alias_of: dict[str, list[str]] = {}
        for old, new in manifest.get("renames") or []:
            alias_of.setdefault(new, []).extend(
                [old] + alias_of.pop(old, [])
            )
        out = []
        for f in logical.fields:
            out.append(f)
            for a in alias_of.get(f.name, []):
                out.append(T.StructField(a, f.dataType, True))
        return T.StructType(out)

    def _read_dirs(
        self,
        spark: SparkSession,
        namespace: str,
        table: str,
        dir_names: list[str],
        partitioned: bool,
        with_positions: bool = False,
        read_schema=None,
    ) -> DataFrame:
        """Distributed scan over an explicit set of data directories.

        mergeSchema: appends may evolve the schema (add columns); rows
        from pre-evolution files read the new columns as NULL — Iceberg
        schema-evolution semantics. ``read_schema`` (from
        :meth:`_scan_schema`, widened tables only) replaces mergeSchema
        with an explicit schema so narrow physical columns upcast —
        mergeSchema itself refuses to merge int with long.

        Partitioned commits are read per-directory and unioned by name:
        hive partition discovery is per data dir, and the union keeps
        partition pruning (PartitionFilters) intact on every branch.

        ``with_positions`` additionally projects each row's physical
        address (``_pos_file``/``_pos_idx`` from the hidden ``_metadata``
        struct) — selected per scan branch BEFORE any union, because
        ``_metadata`` is only resolvable directly on a file-source
        relation."""

        def _one(path_or_paths) -> DataFrame:
            if read_schema is not None:
                r = spark.read.schema(read_schema)
            else:
                r = spark.read.option("mergeSchema", "true")
            df = (
                r.parquet(*path_or_paths)
                if isinstance(path_or_paths, list)
                else r.parquet(path_or_paths)
            )
            if with_positions:
                df = df.select(
                    "*",
                    F.col("_metadata.file_path").alias(self.POS_FILE_COL),
                    F.col("_metadata.row_index").alias(self.POS_IDX_COL),
                )
            return df

        dirs = [
            os.path.join(self._tbl(namespace, table, "data"), d)
            for d in dir_names
        ]
        if partitioned and len(dirs) > 1:
            out = None
            for d in dirs:
                part = _one(d)
                out = part if out is None else out.unionByName(
                    part, allowMissingColumns=True
                )
            return out
        return _one(dirs)

    def read_appends_between(
        self,
        spark: SparkSession,
        namespace: str,
        table: str,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Incremental scan (Iceberg changelog / ``start-snapshot-id``
        read analogue): rows APPENDED after ``from_snapshot_id`` up to
        ``to_snapshot_id`` (default current) — exactly the data dirs
        present in the end manifest but not the start manifest, scanned
        directly. No diffing of row contents: the manifest tells us which
        files are new, so the incremental read costs only the new data
        (the whole point of consuming a table incrementally).

        Raises if a non-append rewrite (replace/upsert/delete/update/
        compact) intervened — the appended-rows question is ill-posed
        across rewrites, matching Iceberg's incremental-scan restriction
        to append snapshots."""
        end_sid = to_snapshot_id or self._current_sid(namespace, table)
        start = self._manifest(namespace, table, from_snapshot_id)
        end = self._manifest(namespace, table, end_sid)
        for s in self._snapshots(namespace, table):
            if from_snapshot_id < s["snapshot_id"] <= end_sid and s[
                "operation"
            ] not in ("append", "rename_column", "drop_column",
                      "widen_column"):
                raise ValueError(
                    f"{namespace}.{table}: snapshot {s['snapshot_id']} is a "
                    f"{s['operation']!r}, not an append — incremental read "
                    "across rewrites is ill-posed (Iceberg restriction)"
                )
        new_dirs = [d for d in end["files"] if d not in set(start["files"])]
        if not new_dirs:
            return self._scan_dirs(
                spark, namespace, table, end, end["files"]
            ).limit(0)
        return self._read_with_deletes(spark, namespace, table, end, new_dirs)

    def changelog_diff(
        self,
        spark: SparkSession,
        namespace: str,
        table: str,
        from_snapshot_id: int,
        to_snapshot_id: int | None = None,
    ) -> DataFrame:
        """Row-level CDC between two snapshots (Iceberg
        ``create_changelog_view`` analogue): every data row appended or
        removed between the snapshots, tagged ``change_type``
        'insert'/'delete'.

        Cost is O(churned files), not O(table): the manifest diff names
        exactly the data dirs present in one snapshot but not the other,
        and only those are scanned — an untouched directory contributes
        nothing and is never opened (pinned by the inputFiles unit
        test). Within the churned set, a copy-on-write rewrite's
        carried-over rows appear in both the removed and added dirs and
        cancel via ``exceptAll``, leaving the logical delta. Unlike
        :meth:`read_appends_between` this is well-posed across CoW
        rewrites (replace/upsert/delete/update); it refuses only
        unmaterialized merge-on-read deletes (compact first), where
        file-level diffing would miss delete-file semantics."""
        end_sid = to_snapshot_id or self._current_sid(namespace, table)
        a = self._manifest(namespace, table, from_snapshot_id)
        b = self._manifest(namespace, table, end_sid)
        if a.get("deletes") or b.get("deletes"):
            raise ValueError(
                f"{namespace}.{table}: changelog across unmaterialized "
                "merge-on-read deletes is ill-posed — run compact() first"
            )
        removed = [d for d in a["files"] if d not in set(b["files"])]
        added = [d for d in b["files"] if d not in set(a["files"])]

        def scan(dirs: list[str], manifest: dict) -> DataFrame | None:
            if not dirs:
                return None
            # both sides resolve with the END manifest's rename chain:
            # the changelog consumer reads the end schema, and the chain
            # covers dirs written under any earlier generation
            return self._resolve_schema(
                self._read_dirs(
                    spark, namespace, table, dirs,
                    bool(manifest.get("partition_by")),
                    read_schema=self._scan_schema(b),
                ),
                b,
            )

        old_rows, new_rows = scan(removed, a), scan(added, b)
        if old_rows is None and new_rows is None:
            return self.read(
                spark, namespace, table, snapshot_id=end_sid
            ).limit(0).withColumn("change_type", F.lit("insert"))
        tag = lambda df, t: df.withColumn("change_type", F.lit(t))  # noqa: E731
        if old_rows is None:
            return tag(new_rows, "insert")
        if new_rows is None:
            return tag(old_rows, "delete")
        return tag(new_rows.exceptAll(old_rows), "insert").unionByName(
            tag(old_rows.exceptAll(new_rows), "delete")
        )

    def snapshots(self, spark: SparkSession, namespace: str, table: str) -> DataFrame:
        """:meth:`snapshot_rows` as a DataFrame."""
        return local_relation(spark, *self.snapshot_rows(namespace, table))

    def history(
        self, spark: SparkSession, namespace: str, table: str
    ) -> DataFrame:
        """:meth:`history_rows` as a DataFrame."""
        return local_relation(spark, *self.history_rows(namespace, table))

    def refs(
        self, spark: SparkSession, namespace: str, table: str
    ) -> DataFrame:
        """Named-refs metadata table — the Iceberg ``t.refs`` analogue:
        every branch/tag with the snapshot it pins, plus the implicit
        ``main`` branch at the current snapshot (Iceberg lists main the
        same way). Manifest/ref files only — no data scan."""
        persisted = self.list_refs(namespace, table)
        if any(r["name"] == "main" for r in persisted):
            # same guard as resolve_ref: a pre-reserved-name physical
            # 'main' must not produce two conflicting rows
            raise ValueError(
                f"{namespace}.{table} has a persisted ref named 'main' "
                "from before the name was reserved for the implicit "
                "current branch; rename it before listing refs"
            )
        rows = [
            ("main", "branch", self._current_sid(namespace, table))
        ] + [
            (r["name"], r["type"], r["snapshot_id"]) for r in persisted
        ]
        return local_relation(
            spark, rows, schema="name string, type string, snapshot_id long"
        )

    def all_manifests(
        self, spark: SparkSession, namespace: str, table: str
    ) -> DataFrame:
        """Cross-snapshot manifest metadata table — the Iceberg
        ``t.all_manifests`` / pyiceberg ``inspect.all_manifests``
        analogue (pyiceberg 0.9.1, the library the reference embeds via
        ``components/common/pyproject.toml:7-18``), completing the
        inspect surface after snapshots/history/refs/files/partitions/
        entries: one row per manifest entry per snapshot that references
        it — the view that answers "which snapshots still pin this data
        (or delete) dir", i.e. what snapshot expiry and orphan GC will
        actually free. Answered from the snapshot manifests ALONE — no
        file listing, no data I/O, no Spark job to build.

        Columns mirror Iceberg's: ``reference_snapshot_id`` (the
        snapshot whose manifest lists the entry), ``content``
        (``data`` | ``deletes``, Iceberg's manifest content split),
        ``path`` (the dir name — this catalog's manifest grain),
        ``added_snapshot_id`` (the earliest snapshot listing it — the
        commit that created it), ``is_added`` (added by the referencing
        snapshot vs carried forward — Iceberg's added/existing status),
        and ``n_rows`` (manifest row count; NULL for delete manifests
        and pre-stats dirs, the ``files()`` degradation contract)."""
        first_seen: dict[tuple[str, str], int] = {}
        rows = []
        for s in self._snapshots(namespace, table):
            sid = s["snapshot_id"]
            dirs = s.get("dirs", {})
            entries = [
                ("data", d, dirs.get(d, {}).get("rows")) for d in s["files"]
            ]
            entries += [
                ("deletes", e["dir"], None) for e in s.get("deletes", [])
            ]
            for content, d, n in entries:
                added = first_seen.setdefault((content, d), sid)
                rows.append((sid, content, d, added, added == sid, n))
        return local_relation(
            spark, rows,
            schema=(
                "reference_snapshot_id long, content string, path string, "
                "added_snapshot_id long, is_added boolean, n_rows long"
            ),
        )

    def files(
        self,
        spark: SparkSession,
        namespace: str,
        table: str,
        snapshot_id: int | None = None,
        stat_cols: tuple[str, ...] = (),
    ) -> DataFrame:
        """Per-data-directory metadata table — the ``t.files`` /
        ``t.partitions`` Iceberg metadata-table analogue (reference
        surfaces table metadata the same read-only way,
        ``ex-iceberg/src/component.py:148-157``): manifest position
        (= commit arrival order for append-only tables), row count, and
        min/max for the requested columns, answered ENTIRELY from the
        manifest — no data scan, no Spark job. This is how a 100 TB
        deployment audits layout (file counts, skewed commits, stats
        coverage) without touching a single data file. Requested columns
        with no recorded stats surface as NULLs, never an error — absent
        stats degrade observability, not correctness."""
        sid = snapshot_id or self._current_sid(namespace, table)
        m = self._manifest(namespace, table, sid)
        dirs = m.get("dirs", {})

        def _spark_type(col: str) -> str:
            for d in m["files"]:
                pair = dirs.get(d, {}).get("stats", {}).get(col)
                if pair is not None:
                    v = pair[0]
                    if isinstance(v, bool):
                        return "boolean"
                    if isinstance(v, int):
                        return "long"
                    if isinstance(v, float):
                        return "double"
                    return "string"
            return "string"  # no stats anywhere: NULL-typed placeholder

        fields = ["ordinal int", "data_dir string", "n_rows long"]
        for c in stat_cols:
            t = _spark_type(c)
            fields += [f"min_{c} {t}", f"max_{c} {t}"]
        rows = []
        for i, d in enumerate(m["files"]):
            rec = [i, d, dirs.get(d, {}).get("rows")]
            st = dirs.get(d, {}).get("stats", {})
            for c in stat_cols:
                lo, hi = st.get(c) or (None, None)
                rec += [lo, hi]
            rows.append(tuple(rec))
        return local_relation(spark, rows, schema=", ".join(fields))

    def all_data_files(
        self, spark: SparkSession, namespace: str, table: str
    ) -> DataFrame:
        """Cross-snapshot per-FILE metadata table — the Iceberg
        ``t.all_data_files`` / pyiceberg ``inspect.all_data_files``
        analogue: every data file of every snapshot, one row per
        (referencing snapshot, file). Complements :meth:`all_manifests`
        (manifest grain) and :meth:`entries` (file grain, ONE snapshot):
        this is the view that answers "how many physical bytes does the
        whole snapshot LOG pin" — i.e. what ``expire_snapshots`` plus
        orphan GC would actually reclaim, at file granularity.

        Footer/stat-only driver work, amortized: each distinct data dir
        is walked ONCE (parquet footers read once per file), then fanned
        out to every snapshot that references it — cost is
        O(distinct files + manifest entries), never O(snapshots ×
        files). Columns: ``reference_snapshot_id``, ``data_dir``,
        ``file_ordinal`` (sorted-name position within the dir — the
        stable handle, Spark part names are uuids), ``n_rows``,
        ``n_row_groups``, ``size_bytes``."""
        per_dir: dict[str, list[tuple]] = {}
        rows = []
        for s in self._snapshots(namespace, table):
            for d in s["files"]:
                if d not in per_dir:
                    per_dir[d] = self._dir_file_metrics(namespace, table, d)
                for j, n_rows, n_rg, size in per_dir[d]:
                    rows.append(
                        (s["snapshot_id"], d, j, n_rows, n_rg, size)
                    )
        return local_relation(
            spark, rows,
            schema=(
                "reference_snapshot_id long, data_dir string, "
                "file_ordinal int, n_rows long, n_row_groups int, "
                "size_bytes long"
            ),
        )

    def metadata_log_entries(
        self, spark: SparkSession, namespace: str, table: str
    ) -> DataFrame:
        """Metadata-log metadata table — the Iceberg
        ``t.metadata_log_entries`` / pyiceberg
        ``inspect.metadata_log_entries`` analogue: one row per metadata
        file the table has ever published (here: per snapshot manifest
        JSON), with its commit timestamp, path, size, and the snapshot
        it made current. Expired snapshots drop out (their manifests are
        deleted — same lifecycle as Iceberg's metadata log under
        ``write.metadata.delete-after-commit``). Pure driver-side
        manifest-dir listing — no data I/O, no Spark job."""
        rows = []
        for s in self._snapshots(namespace, table):
            path = self._tbl(
                namespace, table, "snapshots", f"{s['snapshot_id']}.json"
            )
            rows.append(
                (
                    s["timestamp_ms"],
                    path,
                    os.path.getsize(path),
                    s["snapshot_id"],
                    s["operation"],
                )
            )
        return local_relation(
            spark, rows,
            schema=(
                "timestamp_ms long, file string, size_bytes long, "
                "latest_snapshot_id long, operation string"
            ),
        )

    def entries(
        self,
        spark: SparkSession,
        namespace: str,
        table: str,
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """Per-data-FILE metadata table — the Iceberg ``t.entries`` /
        pyiceberg ``inspect.entries`` analogue, one level below
        :meth:`files` (which is per-directory): every parquet file a
        snapshot references, with its commit ordinal, row count, byte
        size, and row-group count. Footer/stat-only driver work — one
        ``os.walk`` + one parquet-footer read per file, no data pages,
        no Spark job — the same cost shape Iceberg pays reading its
        manifest entries. This is the view that answers file-level
        layout questions ``files`` cannot: small-file skew inside a
        commit, row-group granularity before a compaction decision,
        and which exact file a positional delete addresses.

        Columns: ``ordinal`` (manifest position of the dir), ``data_dir``,
        ``file_ordinal`` (position in sorted file-name order within the
        dir — names are Spark part-uuids, so the ordinal, not the name,
        is the stable handle), ``n_rows``, ``n_row_groups``,
        ``size_bytes`` (NULL for a file whose footer cannot be read, as
        in :meth:`all_data_files`)."""
        sid = snapshot_id or self._current_sid(namespace, table)
        m = self._manifest(namespace, table, sid)
        rows = [
            (i, d, *f)
            for i, d in enumerate(m["files"])
            for f in self._dir_file_metrics(namespace, table, d)
        ]
        return local_relation(
            spark, rows,
            schema=(
                "ordinal int, data_dir string, file_ordinal int, "
                "n_rows long, n_row_groups int, size_bytes long"
            ),
        )

    def _partitions_pushdown_df(
        self,
        spark: SparkSession,
        namespace: str,
        table: str,
        data_dir: str,
        part_cols: list[str],
        stat_cols: tuple[str, ...],
    ) -> DataFrame:
        """One data dir's per-partition (count, min, max) via parquet
        AGGREGATE PUSHDOWN: with the DSv2 parquet reader and
        ``spark.sql.parquet.aggregatePushdown`` on, COUNT(*)/MIN/MAX
        grouped by partition columns are answered from file FOOTERS and
        hive directory values — zero data-column pages are read (the
        plan shows PushedAggregation/PushedGroupBy; pinned in
        tests/test_plans.py). Build AND materialize inside the conf
        scope: pushdown is decided at physical-planning time, so a lazy
        frame escaping the scope would silently fall back to a scan."""
        df = spark.read.parquet(
            os.path.join(self._tbl(namespace, table, "data"), data_dir)
        )
        aggs = [F.count(F.lit(1)).alias("n_rows")]
        for c in stat_cols:
            aggs += [
                F.min(c).alias(f"min_{c}"),
                F.max(c).alias(f"max_{c}"),
            ]
        return df.groupBy(*part_cols).agg(*aggs)

    def partitions(
        self,
        spark: SparkSession,
        namespace: str,
        table: str,
        stat_cols: tuple[str, ...] = (),
    ) -> DataFrame:
        """Per-PARTITION-VALUE metadata table — the Iceberg
        ``t.partitions`` analogue at partition grain (``files`` is the
        per-commit-dir grain): (partition value, row count, min/max of
        the requested columns) answered WITHOUT reading any data-column
        pages. Mechanism: parquet aggregate pushdown per data dir
        (COUNT/MIN/MAX from footers, partition values from the hive
        paths), then a metadata-sized re-aggregation across commits
        (sum of counts, min of mins, max of maxs). At 100 TB this
        audits partition skew and layout from footers alone.

        Refuses while merge-on-read deletes are pending (counts would
        need a scan — the ``row_count`` contract); raises on an
        unpartitioned table (use ``files``). The result is
        partition-count-sized, so it is materialized eagerly — the
        pushdown conf scope must cover execution (see
        ``_partitions_pushdown_df``)."""
        sid = self._current_sid(namespace, table)
        manifest = self._manifest(namespace, table, sid)
        part_cols = list(manifest.get("partition_by") or [])
        if not part_cols:
            raise ValueError(
                f"{namespace}.{table}: not hive-partitioned — "
                "use files() for the per-commit-dir metadata table"
            )
        if self._pending_deletes(manifest, manifest["files"]):
            raise ValueError(
                f"{namespace}.{table}: partitions() with pending "
                "merge-on-read deletes needs a scan — compact() first"
            )
        from component_iceberg_spark.session import scoped_conf

        with scoped_conf(
            spark,
            **{
                "spark.sql.sources.useV1SourceList": "",
                "spark.sql.parquet.aggregatePushdown": "true",
            },
        ):
            per_dir = None
            for d in manifest["files"]:
                one = self._partitions_pushdown_df(
                    spark, namespace, table, d, part_cols, stat_cols
                )
                per_dir = one if per_dir is None else per_dir.unionByName(one)
            merge = [F.sum("n_rows").cast("long").alias("n_rows")]
            for c in stat_cols:
                merge += [
                    F.min(f"min_{c}").alias(f"min_{c}"),
                    F.max(f"max_{c}").alias(f"max_{c}"),
                ]
            final = per_dir.groupBy(*part_cols).agg(*merge)
            rows = final.collect()
            out_schema = final.schema  # one analysis of the N-dir union
        return local_relation(spark, rows, schema=out_schema)

    def maintenance_report(
        self,
        spark: SparkSession,
        namespace: str,
        table: str,
    ) -> DataFrame:
        """Table-health summary — the one-row report an operator reads
        BEFORE deciding which maintenance action to run, answered from
        manifests/refs alone (no data scan, no Spark job):

        - ``n_data_dirs`` high + ``n_small_dirs`` high → ``compact()``
          (or ``compact_manifests`` when only the entry count hurts),
        - ``n_pending_delete_entries`` > 0 → merge-on-read debt;
          ``rewrite_deletes_to_dv`` / ``compact()`` fold it,
        - ``n_snapshots`` ≫ ``n_current_ancestors`` → rolled-back or
          superseded history; ``expire_snapshots`` reclaims it (minus
          the ``n_refs``-pinned heads),
        - ``total_rows`` is NULL when any dir lacks manifest row counts
          (absent metadata degrades observability, never correctness —
          the files() contract).

        At 100 TB this is the difference between planning maintenance
        from metadata and paying a table scan to discover you need one.
        """
        snaps = self._snapshots(namespace, table)
        if not snaps:
            raise SnapshotNotFound(f"{namespace}.{table} has no current snapshot")
        cur = snaps[-1]
        refs = self.list_refs(namespace, table)
        dirs = cur.get("dirs", {})
        files = cur["files"]
        rows = [dirs.get(d, {}).get("rows") for d in files]
        total = None if None in rows else sum(rows)
        small = sum(1 for n in rows if n is not None and n < SMALL_DIR_ROWS)
        row = (
            len(snaps),
            len(self._lineage(snaps)),
            len(refs),
            len(files),
            small,
            total,
            len(cur.get("deletes") or []),
            bool(cur.get("renames") or cur.get("retired")),
        )
        return local_relation(
            spark,
            [row],
            schema=(
                "n_snapshots long, n_current_ancestors long, n_refs long, "
                "n_data_dirs long, n_small_dirs long, total_rows long, "
                "n_pending_delete_entries long, schema_lineage_active boolean"
            ),
        )

    def schema(self, spark: SparkSession, namespace: str, table: str):
        return self.read(spark, namespace, table).schema

    def _session_tz_is_utc(self) -> bool:
        """The active Spark session's zone decides; none is not UTC."""
        try:
            s = SparkSession.getActiveSession()
            tz = s.conf.get("spark.sql.session.timeZone") or "UTC"
        except Exception:  # no active session (None has no conf)
            return False
        return tz.upper() in ("UTC", "ETC/UTC", "GMT", "ETC/GMT", "Z", "+00:00")

    def _commit(
        self, namespace: str, table: str, df: DataFrame, operation: str,
        carry: bool = False, partition_by: list[str] | None = None,
        transform_spec: list[str] | None = None, base_sid: int | None = None,
        carry_dirs: list[str] | None = None, deletes: list[dict] | None = None,
        bloom_cols: list[str] | None = None, sort_by: list[str] | None = None,
        check: str | None = None,
    ) -> int:
        """Write ``df`` once as a new data dir, stamp it and publish it
        through :meth:`_commit_metadata` (the other arguments are
        :func:`manifest.next_manifest`'s). Only the publish is retried,
        so a losing committer never rewrites data.

        A data write with a base is derived from the table (a MERGE, a
        copy-on-write rewrite, an UPDATE's images, a compaction); below
        the byte gate (:func:`session.kernel_width`) it is coalesced to
        one task per core, so it writes at most one file per core rather
        than one per scanned split. Appends, replaces, ``sort_by`` and
        hive-partitioned writes keep their layout. A commit with
        ``carry`` or a base inherits the table's layout for every layout
        argument left None — a mutation must not silently de-partition
        a hive-partitioned table.

        ``check`` is a CHECK-constraint predicate validated against the
        WRITTEN files before the publish: a violation raises with a
        sample row and the unpublished dir is swept. Checking the written
        bytes, not the input plan, leaves a nondeterministic or changing
        source no window between a check job and the write job, and
        scans only the new directory.
        """
        head = self._head(namespace, table)
        if head is not None and (carry or base_sid is not None):
            if partition_by is None:
                partition_by = head.get("partition_by")
            if transform_spec is None:
                transform_spec = head.get("partition_spec")
            if bloom_cols is None:
                bloom_cols = head.get("bloom_cols")
        with self._new_paths(namespace, table) as claim:
            # manifest schema = the USER schema; hidden transform
            # columns are derived below and never appear to readers
            schema_json = df.schema.jsonValue()
            if head and (carry or carry_dirs is not None):
                # a new dir beside carried ones keeps the table's column
                # order (new columns last), so its stamp matches theirs
                # and _scan_schema keeps applying
                cols = [f["name"] for f in schema_json["fields"]]
                order = [
                    f["name"]
                    for f in (head.get("schema") or {}).get("fields", [])
                    if f["name"] in cols
                ]
                order += [c for c in cols if c not in order]
                if order != cols:
                    df = df.select(
                        *[F.col("`" + c.replace("`", "``") + "`")
                          for c in order]
                    )
                    schema_json = df.schema.jsonValue()
            if transform_spec:
                fields = partition_spec.parse_spec(transform_spec)
                df = partition_spec.apply_spec(df, fields)
                partition_by = partition_spec.partition_columns(fields)
            if sort_by:
                if partition_by:
                    raise ValueError(
                        "sort_by (ordered write) and partitioning are "
                        "mutually exclusive — hive layout interleaves files"
                    )
                # range partitions are written as part-00000, … in key
                # order, and each is sorted — (file_path, row_index) is
                # the insertion order, with no single-task sort anywhere
                df = df.repartitionByRange(
                    df.sparkSession.sparkContext.defaultParallelism,
                    *[F.col(c) for c in sort_by],
                ).sortWithinPartitions(*sort_by)
            elif base_sid is not None and not partition_by:
                # a rewrite derived from the table: one split per small
                # file would write one file per split, so the file count
                # would grow with history; below the byte gate it writes
                # one file per core instead
                par = df.sparkSession.sparkContext.defaultParallelism
                width = kernel_width(df, floor=par)
                if width:
                    df = df.coalesce(width)
            data_dir_name = f"commit-{uuid.uuid4().hex[:12]}"
            out_dir = claim("data", data_dir_name)
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(out_dir)
            if check is not None:
                bad = (
                    df.sparkSession.read.parquet(out_dir)
                    .filter(f"NOT ({check})")
                    .limit(1)
                    .collect()
                )
                if bad:
                    raise ValueError(
                        f"CHECK constraint violated: ({check}); "
                        f"sample offending row: {bad[0].asDict()}"
                    )
            # the physical schema of THIS commit's df (before any lineage
            # merge in next_manifest rewrites the logical manifest
            # schema) is stamped too — except on partitioned layouts,
            # whose files physically lack the partition columns, so the
            # stamp would not match inference
            new_dir = _stamp_dir(
                out_dir, bloom_cols, None if partition_by else schema_json
            )
            return self._commit_metadata(
                namespace, table, operation, base_sid=base_sid, carry=carry,
                carry_dirs=carry_dirs, deletes=deletes,
                extra_dirs={data_dir_name: new_dir}, schema=schema_json,
                layout={"partition_by": partition_by, "bloom_cols": bloom_cols,
                        "partition_spec": transform_spec},
            )
