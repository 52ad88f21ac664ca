"""Spark-free table metadata: the manifest format and the commit protocol.

The reference keeps table metadata out of its engine: pyiceberg owns the
catalog, manifests, scan planning and commits in plain Python, and the
engine only moves rows. :class:`ManifestStore` is that half of
:class:`component_iceberg_spark.io.snaptable.SnapCatalog`, its subclass,
which adds only the verbs that build or run Spark plans. Nothing here
imports pyspark, so the metadata rules test without a JVM.

Layout::

    <warehouse>/<namespace>/<table>/
        data/commit-<sid>/part-*.parquet     # files written by commit <sid>
        snapshots/<sid>.json                 # manifest: files visible at <sid>

A table exists exactly when ``snapshots/`` holds a manifest; the current
snapshot is the highest manifest id. Besides ``files`` (the visible data
dirs, in commit order) a manifest carries ``dirs``: one metadata record
per data dir, ``{"rows", "stats", "bounds", "blooms"}``, each field
present only where it was stamped (see :func:`_stamp_dir`). An absent
record or field only disables a metadata shortcut (pruning, manifest row
counts) — never correctness. The manifest's ``schema`` is the one
authority on the table's columns: every scan reads through it
(:func:`read_schema_json`), never through the files' own schemas.

Commits are atomic via write-temp-then-link of the manifest (the link
fails if a rival published the id first, :meth:`ManifestStore._publish`);
the manifest a commit publishes is :func:`next_manifest` of the head.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import hashlib
import json
import os
import re
import shutil
import sys
import time
import uuid

from component_iceberg_spark.io import partition_spec


# -- manifest column statistics (Iceberg per-file metrics analogue) ---------
#
# Each commit records, per data directory, the min/max of every leaf column
# (harvested from the Parquet footers — metadata-only, no data scan). Reads
# and copy-on-write mutations use them to SKIP whole directories whose value
# range cannot satisfy a predicate — Iceberg's metrics-based file pruning,
# the layer below hive partition pruning.

_TS_FMT = "%Y-%m-%d %H:%M:%S.%f"
_NUM_RE = re.compile(r"^-?\d+(\.\d+)?$")
_CONJ_RE = re.compile(r"^\s*(\w+)\s*(=|!=|<>|<=|>=|<|>)\s*(.+?)\s*$")


def _stat_jsonable(v):
    """Normalize a Parquet footer stat value for JSON + comparison.
    Timestamps → fixed-width strings (lexicographic == chronological),
    dates → ISO strings, bytes → utf-8 or None (skip column)."""
    if isinstance(v, _dt.datetime):
        return v.strftime(_TS_FMT)
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, (int, float, str, bool)):
        return v
    return None


def dir_row_count(path: str) -> int:
    """Total rows under a data dir from Parquet footers (metadata only)."""
    import pyarrow.parquet as pq

    n = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(root, fn)).metadata.num_rows
    return n


# manifest bounds-records bloat cap, shared by the fresh-stamp walk
# (dir_footer_metrics) and the compact_manifests fold concatenation —
# the cap must hold whichever path produced the records
DIR_BOUNDS_MAX_GROUPS = 512


def dir_footer_metrics(
    path: str, max_groups: int = DIR_BOUNDS_MAX_GROUPS,
    max_stat_len: int = 64,
) -> tuple[dict[str, list], int, list[dict] | None]:
    """Footer metrics for a freshly written data dir, every footer
    opened once on the driver inside the statement's wall. Returns
    ``(stats, rows, bounds)``:

    - ``stats``: per-column ``[min, max]`` over the whole dir. A column
      any row group lacks a usable min/max for is dropped; nested leaves
      are skipped (not prunable by top name).
    - ``rows``: total rows, as :func:`dir_row_count`.
    - ``bounds``: per-ROW-GROUP records ``{"n": rows, "c": {col: [min,
      max, null_count]}}`` — the manifest metrics Iceberg stamps at
      commit time (``lower_bounds`` / ``upper_bounds`` /
      ``null_value_counts``), at the granularity ``_dispatch_bounds``
      evaluates, so dispatch is served from the manifest with zero I/O.
      Files named ``.*`` / ``_*`` are skipped. None when the dir holds
      more than ``max_groups`` row groups (no stamp; dispatch falls back
      to footer reads); string stats longer than ``max_stat_len`` are
      left out per column (Iceberg truncates with carry-up instead;
      absent stats only disable the shortcut).

    Driver-side here (metadata-sized); a real deployment computes these
    inside the writing tasks, as Iceberg does. Pinned by
    ``test_dir_footer_metrics_matches_standalones``."""
    import pyarrow.parquet as pq

    stats: dict[str, list] = {}
    dropped: set[str] = set()
    rows = 0
    records: list[dict] | None = []
    for root, _dirs, files in os.walk(path):
        for fn in sorted(files):
            if not fn.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, fn)).metadata
            rows += md.num_rows
            bounds_file = records is not None and not fn.startswith((".", "_"))
            for rg in range(md.num_row_groups):
                row_group = md.row_group(rg)
                if bounds_file and len(records) >= max_groups:
                    records, bounds_file = None, False
                cols: dict[str, list] = {}
                for ci in range(row_group.num_columns):
                    col = row_group.column(ci)
                    name = col.path_in_schema
                    if "." in name:
                        continue  # nested leaves: not prunable by top name
                    st = col.statistics
                    ok = st is not None and st.has_min_max
                    mn = _stat_jsonable(st.min) if ok else None
                    mx = _stat_jsonable(st.max) if ok else None
                    if mn is None or mx is None:
                        if name not in dropped:
                            dropped.add(name)
                            stats.pop(name, None)
                        continue
                    if name not in dropped:
                        if name in stats:
                            stats[name][0] = min(stats[name][0], mn)
                            stats[name][1] = max(stats[name][1], mx)
                        else:
                            stats[name] = [mn, mx]
                    if bounds_file and not (
                        isinstance(mn, str)
                        and (len(mn) > max_stat_len or len(str(mx)) > max_stat_len)
                    ):
                        cols[name] = [
                            mn,
                            mx,
                            st.null_count if st.has_null_count else None,
                        ]
                if bounds_file:
                    records.append({"n": row_group.num_rows, "c": cols})
    return stats, rows, records


# Floating-point footer stats ignore NaN, and Spark orders NaN GREATER
# than every other value (and NaN = NaN) — so a row group [1.0, 2.0,
# NaN] is out of range for ``v > 5`` by its stats while its NaN row
# matches (ADVICE r14 #2). Per-operator soundness with a possible
# unrecorded NaN in the group:
#   may-match  (skip when False): '='  (NaN never equals a real
#     literal), '<', '<=' (NaN sorts high, never satisfies) — sound;
#     '!=', '>', '>=' — a NaN row satisfies them, never skip.
#   must-match (count toward the lower bound when True): '!=', '>',
#     '>=' — the NaN row satisfies them too, sound; '=', '<', '<=' —
#     a NaN row would fail, never certain.
_FLOAT_TYPES = frozenset({"float", "double"})
_FLOAT_MAY_SOUND = frozenset({"=", "<", "<="})
_FLOAT_MUST_SOUND = frozenset({"!=", "<>", ">", ">="})


def _bloom_key(v) -> bytes | None:
    """Canonical hash input for a bloom-filter value. Ints and strings
    only — float/timestamp equality lookups are not a pruning use case
    (range stats cover them); bools are too low-cardinality to help.
    The representation is shared by the build side (parquet values) and
    the probe side (parsed predicate literals), so int 5 and the literal
    5 always hash identically."""
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, int):
        return b"i:%d" % v
    if isinstance(v, str):
        return b"s:" + v.encode("utf-8")
    return None


def _bloom_indices(key: bytes, bits: int) -> list[int]:
    """k=4 bit positions from one md5 digest (4-byte words mod bits —
    bits is a power of two, so the mod is unbiased enough for pruning)."""
    d = hashlib.md5(key).digest()
    return [
        int.from_bytes(d[i : i + 4], "little") % bits for i in (0, 4, 8, 12)
    ]


# bloom size cap: 32 KB of filter, ~44 KB base64 in the manifest
BLOOM_MAX_BITS = 2**18


def dir_column_blooms(path: str, cols: list[str]) -> dict[str, dict]:
    """Per-column bloom filter over every Parquet file under ``path`` —
    the point-lookup complement to the footer min/max stats
    (:func:`dir_footer_metrics`): min/max
    cannot skip a directory for ``col = 'x'`` when values interleave
    across commits (every dir's range covers 'x'), a bloom can. Unlike
    the footer-only stats this reads the column pages, so it runs only
    for columns the table explicitly registered (``bloom_cols``) and
    only over the freshly written directory — the same moment Iceberg
    computes its write-time metrics (a real deployment pushes this into
    the writing tasks; driver-side here, like ``dir_footer_metrics``).

    Sizing: bits = next power of two ≥ 16 × distinct (k=4 → ~2% false
    positives), capped at ``BLOOM_MAX_BITS`` — an overloaded bloom
    degrades to fewer skips, never to wrong results. Returns {col:
    {"bits": n, "b64": filter}}; columns with unhashable types are
    silently absent (no pruning)."""
    import base64

    import pyarrow.parquet as pq

    values: dict[str, set] = {c: set() for c in cols}
    bad: set[str] = set()
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            f = pq.ParquetFile(os.path.join(root, fn))
            present = [
                c for c in cols
                if c not in bad and c in f.schema_arrow.names
            ]
            if not present:
                continue
            t = f.read(columns=present)
            for c in present:
                for v in t.column(c).to_pylist():
                    if v is None:
                        continue
                    k = _bloom_key(v)
                    if k is None:
                        bad.add(c)
                        values.pop(c, None)
                        break
                    values[c].add(k)
    out: dict[str, dict] = {}
    for c, keys in values.items():
        if not keys:
            continue
        kinds = {k[:1] for k in keys}
        if len(kinds) != 1:
            continue  # cannot happen for one parquet column; be safe
        bits = 64
        while bits < 16 * len(keys) and bits < BLOOM_MAX_BITS:
            bits *= 2
        buf = bytearray(bits // 8)
        for k in keys:
            for i in _bloom_indices(k, bits):
                buf[i >> 3] |= 1 << (i & 7)
        out[c] = {
            "bits": bits,
            "kind": kinds.pop().decode(),
            "b64": base64.b64encode(bytes(buf)).decode(),
        }
    return out


def bloom_maybe_contains(bloom: dict, lit) -> bool:
    """Probe a manifest bloom entry for a predicate literal. Conservative:
    True (dir stays a candidate) for unhashable literals AND for
    literal/column type mismatches — ``v = 5`` against a STRING column
    would hash the int key while the bloom holds string keys, and the
    engine's cast semantics could still match the row, so a kind
    mismatch must never skip (the bloom records its value kind; the
    range-stats path gets the same safety from its TypeError catch). A
    numeric literal parsed as float but integral probes the int key —
    simple_conjuncts yields 5 for ``= 5`` but 5.0 for ``= 5.0``.

    The float→int probe is only sound below 2**53: the engine compares
    ``long_col = double_lit`` by casting the long to double, so beyond
    double precision a stored long can be double-equal yet
    integer-different from the literal — it would hash to a different
    bloom key and the dir would be wrongly skipped while the engine
    filter matches the row. Above that magnitude, never skip."""
    import base64

    if isinstance(lit, float) and lit.is_integer():
        if abs(lit) >= 2.0**53:
            return True  # double-equality is coarser than int identity
        lit = int(lit)
    key = _bloom_key(lit)
    if key is None:
        return True
    if bloom.get("kind") != key[:1].decode():
        return True  # type mismatch or legacy entry: never skip
    buf = base64.b64decode(bloom["b64"])
    return all(
        buf[i >> 3] & (1 << (i & 7))
        for i in _bloom_indices(key, bloom["bits"])
    )


def _merge_dir_blooms(per_dir: list[dict | None]) -> dict:
    """OR-merge per-directory blooms for manifest folding: a column
    survives only if every folded dir carries it at the SAME size (the
    union of the value sets is exactly the OR of the bitarrays). Columns
    that don't line up drop out — absent blooms only disable skipping."""
    import base64

    if any(not b for b in per_dir):
        return {}
    common = set.intersection(*(set(b) for b in per_dir))
    merged: dict[str, dict] = {}
    for c in common:
        sizes = {b[c]["bits"] for b in per_dir}
        kinds = {b[c].get("kind") for b in per_dir}
        if len(sizes) != 1 or len(kinds) != 1 or kinds == {None}:
            continue
        acc = bytearray(base64.b64decode(per_dir[0][c]["b64"]))
        for b in per_dir[1:]:
            for i, byte in enumerate(base64.b64decode(b[c]["b64"])):
                acc[i] |= byte
        merged[c] = {
            "bits": sizes.pop(),
            "kind": kinds.pop(),
            "b64": base64.b64encode(bytes(acc)).decode(),
        }
    return merged


def _merge_dir_stats(per_dir: list[dict | None]) -> dict | None:
    """Merge per-directory [min, max] column stats for manifest
    compaction: min-of-mins / max-of-maxs over columns present in EVERY
    input. A column missing somewhere (schema evolution, no-stats files)
    is dropped — absent stats only disable pruning, never correctness
    (NULL rows from pre-evolution dirs can't match a range predicate
    anyway). Returns None when any input dir carries no stats at all."""
    if any(s is None or not s for s in per_dir):
        return None
    common = set.intersection(*(set(s) for s in per_dir))
    merged: dict[str, list] = {}
    for col in common:
        try:
            merged[col] = [
                min(s[col][0] for s in per_dir),
                max(s[col][1] for s in per_dir),
            ]
        except TypeError:  # mixed jsonable types: no pruning for this col
            continue
    return merged


def _stamp_dir(path: str, bloom_cols: list[str] | None) -> dict:
    """The manifest ``dirs`` record of a freshly written (or adopted)
    data dir: one :func:`dir_footer_metrics` walk for rows, stats and
    per-row-group bounds (the Iceberg lower/upper_bounds pattern, so
    auto-dispatch is served from the manifest with zero per-statement
    I/O) and registered blooms. Empty stats/blooms and over-cap bounds
    are left out: every reader treats an absent field as "no
    shortcut"."""
    stats, rows, bounds = dir_footer_metrics(path)
    rec: dict = {"rows": rows}
    if stats:
        rec["stats"] = stats
    if bounds is not None:
        rec["bounds"] = bounds
    blooms = dir_column_blooms(path, bloom_cols) if bloom_cols else {}
    if blooms:
        rec["blooms"] = blooms
    return rec


def _fold_dir_records(records: list[dict]) -> dict:
    """The ``dirs`` record of a manifest fold (``compact_manifests``):
    the folded dir hard-links the SAME physical files as its sources.
    Stats merge min-of-mins / max-of-maxes, rows sum, blooms OR-merge,
    and bounds records concatenate (they carry no file names) under the
    ``DIR_BOUNDS_MAX_GROUPS`` cap fresh stamps honor. A field any source
    lacks is left out of the fold."""
    rec: dict = {}
    stats = _merge_dir_stats([r.get("stats") for r in records])
    if stats:
        rec["stats"] = stats
    if all("rows" in r for r in records):
        rec["rows"] = sum(r["rows"] for r in records)
    blooms = _merge_dir_blooms([r.get("blooms") for r in records])
    if blooms:
        rec["blooms"] = blooms
    if all("bounds" in r for r in records):
        bounds = [b for r in records for b in r["bounds"]]
        if len(bounds) <= DIR_BOUNDS_MAX_GROUPS:
            rec["bounds"] = bounds
    return rec


def simple_conjuncts(predicate: str) -> list[tuple[str, str, object]]:
    """Best-effort decomposition of ``a AND b AND …`` into
    ``(column, op, literal)`` tuples for stats pruning. Returns ``[]``
    whenever the predicate is more complex (OR / NOT / parens / functions):
    no pruning then — never wrong results, just no skipping."""
    if re.search(r"\bOR\b|\(|\bNOT\b|\bIN\b|\bLIKE\b", predicate, re.I):
        return []
    out = []
    for part in re.split(r"\bAND\b", predicate, flags=re.I):
        m = _CONJ_RE.match(part)
        if not m:
            return []
        col, op, raw = m.groups()
        raw = raw.strip()
        if raw.upper().startswith("TIMESTAMP"):
            raw = raw[len("TIMESTAMP"):].strip()
        if len(raw) >= 2 and raw[0] == "'" and raw[-1] == "'":
            # SQL escaping: '' inside the literal is one quote — the
            # engine's filter sees O'Brien, so stats/bloom probes must
            # hash/compare the UNESCAPED value or they wrongly skip
            lit: object = raw[1:-1].replace("''", "'")
        elif _NUM_RE.match(raw):
            lit = float(raw) if "." in raw else int(raw)
        else:
            return []  # column-vs-column or expression: not prunable
        out.append((col, op, lit))
    return out


def _stats_timestamp(t: str, lit: str) -> tuple[str | None, bool]:
    """A timestamp literal on a column of Spark type ``t`` in the stats'
    fixed-width naive-UTC domain, and whether it carried its own zone.
    A zoned literal on a tz-adjusted column is an unambiguous instant,
    converted whatever the session zone (strftime alone would DROP the
    offset and shift the compare, review r15); on a TIMESTAMP_NTZ column
    an offset has no engine-defined meaning, so the value is None.
    Raises ValueError when the literal does not parse."""
    dt = _dt.datetime.fromisoformat(lit)
    zoned = dt.tzinfo is not None
    if zoned:
        if t != "timestamp":
            return None, True
        dt = dt.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return dt.strftime(_TS_FMT), zoned


def _range_may_match(mn, mx, op: str, lit) -> bool:
    """Can any value in [mn, mx] satisfy ``value <op> lit``? Conservative:
    True on any type mismatch."""
    try:
        if op == "=":
            return mn <= lit <= mx
        if op in ("!=", "<>"):
            return not (mn == lit == mx)
        if op == "<":
            return mn < lit
        if op == "<=":
            return mn <= lit
        if op == ">":
            return mx > lit
        if op == ">=":
            return mx >= lit
    except TypeError:
        return True
    return True


def _range_must_match(mn, mx, op: str, lit) -> bool:
    """Does EVERY value in [mn, mx] satisfy ``value <op> lit``? The dual
    of :func:`_range_may_match`, used for count-free LOWER bounds on
    predicate selectivity (``_dispatch_bounds``). NULL rows never satisfy
    a comparison, so callers must separately require a zero null count.
    Conservative: False on any type mismatch or unknown operator."""
    try:
        if op == "=":
            return mn == lit == mx
        if op in ("!=", "<>"):
            return mx < lit or mn > lit
        if op == "<":
            return mx < lit
        if op == "<=":
            return mx <= lit
        if op == ">":
            return mn > lit
        if op == ">=":
            return mn >= lit
    except TypeError:
        return False
    return False


class SnapshotNotFound(Exception):
    """The table, snapshot or ref a verb names does not exist."""


class CommitConflict(Exception):
    """A concurrent commit won the race and this operation's inputs are
    stale. Appends retry transparently (their data is independent of the
    table state); replace/upsert/delete/update/compact must be re-run by
    the caller on the new state — the same contract as Iceberg's
    validation-failed commit exception."""


# Iceberg-legal type promotions (spec §Schema Evolution): the Spark
# parquet reader upcasts a narrow physical column into the wide
# requested type, so widening is metadata-only — old files stay. A tuple,
# not a set: nested types are dicts, which do not hash.
_WIDENINGS = (("integer", "long"), ("float", "double"))


def read_schema_json(manifest: dict) -> dict | None:
    """The Spark schema JSON every scan of ``manifest``'s dirs reads
    with — Iceberg's column projection from table metadata: the logical
    fields in manifest order, each followed by the older names its rename
    chain left in old files, at the field's current type. A dir of any
    name or width generation then reads (an absent column NULL-fills, a
    narrow one upcasts) and ``SnapCatalog._resolve_schema`` folds each
    alias into its field. A dropped name is in no chain of a live field,
    so it is never read. Hive and ``_pt_*`` partition columns the schema
    does not name are discovered from the paths; one it names takes its
    manifest type. None when the manifest records no schema."""
    schema = manifest.get("schema")
    if not schema:
        return None
    alias_of: dict[str, list[str]] = {}
    for old, new in manifest.get("renames") or []:
        alias_of.setdefault(new, []).extend([old] + alias_of.pop(old, []))
    fields = []
    for f in schema["fields"]:
        fields.append(f)
        fields += [
            {"name": a, "type": f["type"], "nullable": True, "metadata": {}}
            for a in alias_of.get(f["name"], [])
        ]
    return {**schema, "fields": fields}


def _bare(t):
    """A Spark type JSON without its nullability flags and field
    metadata: what two writes of one column must agree on (a file source
    reads every column as nullable anyway)."""
    if isinstance(t, dict):
        return {
            k: _bare(v) for k, v in t.items()
            if k not in ("nullable", "containsNull", "valueContainsNull",
                         "metadata")
        }
    if isinstance(t, list):
        return [_bare(v) for v in t]
    return t


def _carried_schema(parent: dict | None, schema: dict | None) -> dict | None:
    """The schema of a commit whose dirs sit beside the parent's: every
    parent field in parent order, then the commit's new columns. A
    carried dir still holds its columns, so a narrower write must not
    hide them. A field the write narrows by an Iceberg-legal promotion
    keeps the parent's wide type and the narrow files upcast on read; any
    other type change raises, since no one read type serves both
    generations."""
    if not schema or not parent:
        return schema
    new_by_name = {f["name"]: f for f in schema["fields"]}
    fields = []
    for p in parent["fields"]:
        f = new_by_name.pop(p["name"], p)
        if _bare(f["type"]) != _bare(p["type"]):
            if (f["type"], p["type"]) not in _WIDENINGS:
                raise ValueError(
                    f"column {p['name']!r} is {p['type']} in the table; "
                    f"a write beside its files cannot make it {f['type']} "
                    f"(only {list(_WIDENINGS)} narrow writes read back)"
                )
            f = {**f, "type": p["type"]}
        fields.append(f)
    return {**schema, "fields": fields + list(new_by_name.values())}


def next_manifest(
    head: dict | None,
    operation: str,
    *,
    carry: bool = False,
    carry_dirs: list[str] | None = None,
    extra_dirs: dict | None = None,
    deletes: list[dict] | None = None,
    schema: dict | None = None,
    layout: dict | None = None,
) -> dict:
    """The body of the manifest a commit publishes on ``head`` (None when
    nothing is published); :meth:`ManifestStore._publish` stamps id,
    parent and timestamp.

    The files are the carried dirs — the head's with ``carry``, else
    ``carry_dirs`` (file-pruned copy-on-write carries only the dirs its
    stats rule out) — then each ``extra_dirs`` name not already listed.
    ``extra_dirs`` maps a dir to its ``dirs`` record: the commit's own
    data dir, or dirs assembled without a data write (adopted, folded,
    clustered or cherry-picked). ``deletes`` is the delete-entry list;
    None carries the head's entries, each pruned to the dirs still
    listed. ``schema`` is the written data's schema (a commit that
    carries dirs unions it onto the head's, :func:`_carried_schema`) and
    ``layout`` its ``partition_by`` / ``partition_spec`` /
    ``bloom_cols``; None keeps the head's."""
    files = list(head["files"] if carry and head else carry_dirs or [])
    files += [d for d in extra_dirs or {} if d not in files]
    # carried dirs keep their parent-manifest records verbatim — the
    # whole point is those directories were not rewritten
    stamped = {**(head.get("dirs", {}) if head else {}), **(extra_dirs or {})}
    dirs = {d: stamped[d] for d in files if stamped.get(d)}
    # pending delete entries follow the dirs they apply to: entries
    # whose dirs were all rewritten drop out; surviving entries prune
    # their applies_to to the dirs still present
    entries = deletes
    if entries is None:
        entries = []
        for e in head.get("deletes", []) if head else []:
            keep = [d for d in e["applies_to"] if d in files]
            if keep:
                entries.append({**e, "applies_to": keep})
    if schema is None and head:
        schema = head["schema"]
    if layout is None:
        layout = head or {}
    # rename-chain / retired-name metadata follows the carried dirs
    # (they keep their pre-rename physical names); a commit that carries
    # nothing rewrote everything from a resolved read, so both reset.
    # Reintroducing a retired name would make old physical bytes
    # ambiguous with the new column — refuse (the name-based layout's
    # substitute for Iceberg field ids).
    renames: list = []
    retired: list = []
    if head and (carry or carry_dirs is not None):
        renames = head.get("renames") or []
        retired = head.get("retired") or []
        schema = _carried_schema(head.get("schema"), schema)
        if schema and retired:
            clash = {f["name"] for f in schema.get("fields", [])} & set(retired)
            if clash:
                raise ValueError(
                    f"column name(s) {sorted(clash)} were retired by an "
                    "earlier rename/drop and old data files may still "
                    "contain them; name reuse is not supported on this "
                    "name-based layout"
                )
    return {
        "operation": operation,
        "files": files,
        "partition_by": layout.get("partition_by") or [],
        "partition_spec": layout.get("partition_spec") or [],
        "schema": schema,
        "dirs": dirs,
        "deletes": entries,
        "renames": renames,
        "retired": retired,
        "bloom_cols": layout.get("bloom_cols") or [],
    }


def _referenced(snaps: list[dict]) -> tuple[set[str], set[str]]:
    """The data dirs and the delete-file dirs ``snaps`` reference."""
    return (
        {d for s in snaps for d in s["files"]},
        {e["dir"] for s in snaps for e in s.get("deletes", [])},
    )


class ManifestStore:
    """The Spark-free half of the snapshot catalog: every verb here reads
    or writes metadata only. The one Spark fact it needs, the session
    zone, comes from :meth:`_session_tz_is_utc`, which SnapCatalog
    overrides."""

    # -- deletion-vector apply gate (see _dv_apply_mode) -----------------
    #
    # The broadcast membership probe (`array_contains`) costs O(rows ×
    # positions-per-file) comparisons per data file and broadcasts one
    # long PER DELETED ROW — both fine at sparse density, both scale-
    # killers at dense density (a 2M-row file with 667k doomed ordinals
    # is ~10^12 comparisons, and a table-wide dense DV is a row-count-
    # sized broadcast payload that can OOM the driver). Above any of
    # these thresholds the read explodes the DV into a (file, pos)
    # anti-join instead: one hash exchange, linear work, no broadcast.
    DV_PROBE_MAX_DENSITY = 0.05          # doomed fraction of scoped rows
    DV_PROBE_MAX_FILE_POSITIONS = 8192   # per-file probe work bound
    DV_PROBE_MAX_TOTAL_POSITIONS = 2_000_000  # broadcast bytes bound (~16 MB)

    def __init__(self, warehouse: str):
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)
        # per-data-dir footer bounds memo for pre-stamp (legacy/adopted)
        # dirs — data dirs are immutable once published, so the cache
        # can never go stale; dirs with an unreadable file are
        # NOT cached (a repaired adopted link changes content without
        # changing the dir name) — see _dispatch_bounds / ADVICE r14 #3
        self._footer_bounds_cache: dict[tuple[str, str, str], list] = {}

    # -- namespaces ---------------------------------------------------------

    def namespace_exists(self, namespace: str) -> bool:
        return os.path.isdir(os.path.join(self.warehouse, namespace))

    def list_namespaces(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.warehouse)
            if os.path.isdir(os.path.join(self.warehouse, d))
        )

    def list_tables(self, namespace: str) -> list[str]:
        ns_dir = os.path.join(self.warehouse, namespace)
        if not os.path.isdir(ns_dir):
            return []
        return sorted(
            d for d in os.listdir(ns_dir)
            if self._head_sid(namespace, d) is not None
        )

    def drop_table(self, namespace: str, table: str) -> None:
        path = os.path.join(self.warehouse, namespace, table)
        if os.path.isdir(path):
            shutil.rmtree(path)

    def compact_manifests(self, namespace: str, table: str) -> int:
        """Manifest compaction (Iceberg ``rewrite_manifests`` analogue):
        fold the current snapshot's many data-directory entries into one
        consolidated directory of HARD LINKS — a pure metadata rewrite.
        No data file is read, decoded, or copied; no Spark job runs.

        This is the cure for the many-tiny-commits pathology the
        reference's per-batch commit loop produces (one commit per 5M-row
        client batch, ``wr-iceberg/src/component.py:97-110``): after k
        batches every scan plans k directory listings and every commit
        carries k manifest entries. ``compact()`` fixes that by REWRITING
        data (useful when the files themselves are small);
        ``compact_manifests`` fixes the metadata half for free when the
        files are fine and only the entry count is the problem.

        Semantics preserved:
        - prior snapshots still reference the original directories
          (time travel intact; hard links mean later GC of either side is
          safe — the inode survives until both are gone),
        - each folded dir's ``dirs`` record is FOLDED from its sources'
          records in the parent manifest (:func:`_fold_dir_records`), so
          stats pruning and metadata-only ``row_count`` keep working
          without a scan,
        - pending equality deletes: directories are grouped by their
          applicable delete-entry signature and folded PER GROUP, so a
          delete registered before a later append still applies to exactly
          the rows it did before (folding across that boundary would wrongly
          delete the newer rows); entries are remapped to the folded names.
        """
        base = self._current_sid(namespace, table)
        manifest = self._manifest(namespace, table, base)
        files = manifest["files"]
        deletes = manifest.get("deletes", [])
        # dirs covered by a path-scoped delete entry must never fold:
        # folding hard-links data files under new basenames, which would
        # orphan the (file_path, pos) addresses the delete file stores.
        # Each such dir gets a unique singleton signature so it is
        # carried as-is (equality entries scope by dir name and survive
        # folding; DVs and legacy positional files scope by file path
        # and don't).
        pos_covered = {
            d
            for e in deletes
            if e.get("mode") in ("positional", "dv")
            for d in e["applies_to"]
        }
        groups: dict[frozenset, list[str]] = {}
        for d in files:
            sig = frozenset(
                i for i, e in enumerate(deletes) if d in e["applies_to"]
            )
            if d in pos_covered:
                # singleton group: the ("solo", d) marker makes the key
                # unique per dir so it can never fold, while the entry
                # INDICES stay in the key — an equality entry covering
                # the same dir must keep it through the remap below
                groups[sig | {("solo", d)}] = [d]
                continue
            groups.setdefault(sig, []).append(d)
        if len(groups) >= len(files):
            return base  # already one entry per delete-signature: no-op
        data_root = self._tbl(namespace, table, "data")
        parent_dirs = manifest.get("dirs", {})
        new_files: list[str] = []
        sig_to_dir: dict[frozenset, str] = {}
        extra_dirs: dict[str, dict] = {}
        with self._new_paths(namespace, table) as claim:
            for sig, dirs in sorted(
                groups.items(), key=lambda kv: sorted(kv[1])
            ):
                if len(dirs) == 1:
                    sig_to_dir[sig] = dirs[0]
                    new_files.append(dirs[0])
                    continue
                nd = f"manifest-{uuid.uuid4().hex[:12]}"
                out = claim("data", nd)
                for d in dirs:
                    src_root = os.path.join(data_root, d)
                    for rootdir, _subdirs, fns in os.walk(src_root):
                        rel = os.path.relpath(rootdir, src_root)
                        for fn in fns:
                            if fn.startswith((".", "_")):
                                continue  # _SUCCESS / .crc sidecars
                            dst_dir = (
                                out if rel == "." else os.path.join(out, rel)
                            )
                            os.makedirs(dst_dir, exist_ok=True)
                            # source-dir prefix keeps basenames
                            # collision-free (two commits can share a
                            # hive partition subdir)
                            dst = os.path.join(dst_dir, f"{d}__{fn}")
                            src = os.path.join(rootdir, fn)
                            try:
                                os.link(src, dst)
                            except OSError:  # FS without hard links
                                shutil.copy2(src, dst)
                sig_to_dir[sig] = nd
                new_files.append(nd)
                extra_dirs[nd] = _fold_dir_records(
                    [parent_dirs.get(d, {}) for d in dirs]
                )
            remapped = []
            for i, e in enumerate(deletes):
                if e.get("mode") in ("positional", "dv"):
                    # path-scoped dirs never fold (singleton signatures
                    # above), so the entry carries its surviving dirs
                    # unchanged
                    applies = sorted(
                        d for d in e["applies_to"] if d in set(files)
                    )
                else:
                    applies = sorted(
                        sig_to_dir[sig] for sig in groups if i in sig
                    )
                if applies:
                    remapped.append({**e, "applies_to": applies})
            return self._commit_metadata(
                namespace, table, "compact_manifests", base_sid=base,
                carry_dirs=new_files, deletes=remapped, extra_dirs=extra_dirs,
            )

    def rollback_to(self, namespace: str, table: str, snapshot_id: int) -> int:
        """Iceberg ``rollback_to_snapshot``: publish a NEW snapshot whose
        content is the target snapshot's manifest verbatim (files, spec,
        schema, stats, pending deletes). History is preserved — the
        intervening snapshots remain time-travelable — and the operation
        is metadata-only: no data file is read, written, or moved.

        Rollback is last-writer-wins by contract ("set the table to
        state X"): it publishes with no base, so a publish collision
        just retries at the next id. Fails if the target's data directories were already
        garbage-collected by :meth:`expire_snapshots`."""
        target = self._manifest(namespace, table, snapshot_id)
        for d in target["files"]:
            if not os.path.isdir(self._tbl(namespace, table, "data", d)):
                raise SnapshotNotFound(
                    f"{namespace}.{table}@{snapshot_id}: data dir {d} was "
                    "garbage-collected; rollback target no longer exists"
                )
        return self._publish(
            namespace, table,
            lambda _head: {
                **target,
                # lineage pointer for the history metadata table: the
                # rollback's CONTENT ancestor is the target, so the
                # undone snapshots fall off the current-ancestor chain
                # (Iceberg history semantics)
                "rollback_of": target["snapshot_id"],
                "operation": "rollback",
            },
        )

    def cherry_pick(
        self, namespace: str, table: str, snapshot_id: int
    ) -> int:
        """Iceberg ``cherrypick_snapshot``: re-apply the DELTA an append
        snapshot introduced (its data dirs minus its parent's) onto the
        CURRENT state as a new metadata-only commit. The canonical use
        is rollback recovery: an append gets rolled back, the table
        advances with other work, and the orphaned snapshot's rows are
        recovered WITHOUT re-reading or re-writing its bytes — the dirs
        are re-referenced, stats/blooms carried from the source
        manifest.

        Only append snapshots cherry-pick: a replace/delete/compact
        delta is defined relative to its parent's whole state and
        re-applying it elsewhere silently loses or resurrects rows
        (Iceberg restricts cherry-pick the same way). Refused when the
        delta is already referenced by the current snapshot (double
        apply would double rows), when the source schema differs from
        the current logical schema (the delta's physical names must
        mean the same thing today), and when the delta's dirs were
        garbage-collected."""
        src = self._manifest(namespace, table, snapshot_id)
        # add_files commits are purely additive like appends (their delta
        # is the adopted dirs), so a rolled-back adoption is recoverable
        if src.get("operation") not in ("append", "add_files"):
            raise ValueError(
                f"cherry_pick: snapshot {snapshot_id} is "
                f"{src.get('operation')!r}; only additive snapshots "
                "(append / add_files) have a well-defined re-applicable "
                "delta"
            )
        if src.get("parent_id") is not None:
            parent_files = set(
                self._manifest(namespace, table, src["parent_id"])["files"]
            )
        else:
            parent_files = set()
        delta = [d for d in src["files"] if d not in parent_files]
        if not delta:
            raise ValueError(
                f"cherry_pick: snapshot {snapshot_id} added no data dirs"
            )
        base = self._current_sid(namespace, table)
        cur = self._manifest(namespace, table, base)
        present = [d for d in delta if d in set(cur["files"])]
        if present:
            raise ValueError(
                f"cherry_pick: delta dirs already referenced by the "
                f"current snapshot: {present}"
            )
        src_fields = [
            (f["name"], f["type"])
            for f in (src.get("schema") or {}).get("fields", [])
        ]
        cur_fields = [
            (f["name"], f["type"])
            for f in (cur.get("schema") or {}).get("fields", [])
        ]
        if src_fields != cur_fields:
            raise ValueError(
                "cherry_pick: source snapshot schema differs from the "
                "current schema; evolve/compact first"
            )
        for d in delta:
            if not os.path.isdir(self._tbl(namespace, table, "data", d)):
                raise ValueError(
                    f"cherry_pick: delta dir {d} was garbage-collected"
                )
        src_dirs = src.get("dirs", {})
        return self._commit_metadata(
            namespace, table, "cherry_pick", base_sid=base,
            carry_dirs=cur["files"] + delta,
            extra_dirs={d: src_dirs[d] for d in delta if d in src_dirs},
        )

    def _dispatch_bounds(
        self,
        namespace: str,
        table: str,
        manifest: dict,
        candidates: list[str],
        predicate: str,
    ) -> tuple[int, int, int] | None:
        """Count-free ``(lower, upper, total)`` bounds on the rows the
        predicate matches inside the candidate dirs, from parquet FOOTER
        row-group stats — min/max plus null_count, metadata-only, no
        Spark job. This is what feeds :meth:`_auto_mode` on its
        stats-served path: a row group whose range can't satisfy some
        conjunct contributes zero matches (NULLs fail comparisons too);
        one where every conjunct is satisfied by the WHOLE range and the
        column has zero nulls contributes all its rows; anything else is
        indeterminate (counts toward ``upper`` only).

        Served from the MANIFEST when the candidate dirs' records carry
        ``bounds`` (stamped at commit — Iceberg's manifest
        ``lower_bounds`` / ``upper_bounds`` / ``null_value_counts``:
        zero per-statement I/O); pre-stamp dirs fall back to the
        memoized footer walk of :meth:`_footer_bounds_records`. A dir
        with an unreadable file yields no bounds — but only after the
        remaining candidate dirs have warmed the memo.

        Soundness guards (ADVICE r14 #1/#2): conjuncts on
        FLOAT/DOUBLE columns use only the NaN-sound operator subset
        (footer stats ignore NaN while Spark orders NaN above
        everything — see ``_FLOAT_MAY_SOUND`` / ``_FLOAT_MUST_SOUND``);
        conjuncts on tz-adjusted TIMESTAMP columns are usable only
        when the session timezone is UTC (the literal parses in the
        session zone, the stats are naive UTC instants) — an unusable
        conjunct contributes no skips and no certainty, it never
        disables the other conjuncts.

        Returns None when the bounds machinery can't run at all: a
        non-simple predicate, an unparseable timestamp literal, or an
        unreadable file. Columns renamed since a dir was written
        resolve through the manifest rename chain — the name-reuse
        guard in :func:`next_manifest` makes old physical names
        unambiguous."""
        conjuncts = simple_conjuncts(predicate)
        if not conjuncts:
            return None
        types = {
            f["name"]: str(f.get("type", ""))
            for f in (manifest.get("schema") or {}).get("fields", [])
        }
        tz_utc = None  # resolved lazily: only timestamp conjuncts care
        normed = []  # (col, op, lit, usable, is_float)
        for col, op, lit in conjuncts:
            t = types.get(col, "")
            usable = True
            if "timestamp" in t and isinstance(lit, str):
                try:
                    lit, zoned = _stats_timestamp(t, lit)
                except ValueError:
                    return None
                if lit is None:
                    usable = False
                elif t == "timestamp" and not zoned:
                    # a naive literal on a tz-adjusted column parses in
                    # the session zone — only UTC matches the stats domain
                    if tz_utc is None:
                        tz_utc = self._session_tz_is_utc()
                    usable = tz_utc
            normed.append((col, op, lit, usable, t in _FLOAT_TYPES))
        # logical → acceptable physical footer names: a dir written
        # before a rename keeps the old name; retired names can never be
        # reintroduced, so every ancestor along the chain is the same
        # column
        phys: dict[str, set] = {c: {c} for c, _o, _l, _u, _f in normed}
        for old, new in reversed(manifest.get("renames") or []):
            for names in phys.values():
                if new in names:
                    names.add(old)
        dirs = manifest.get("dirs", {})
        lower = upper = total = 0
        broken = False
        for d in candidates:
            records = dirs.get(d, {}).get("bounds")
            if records is None:
                records = self._footer_bounds_records(namespace, table, d)
            if records is None:
                broken = True  # keep walking: warm the memo for the rest
                continue
            for rec in records:
                n = rec["n"]
                total += n
                stats = rec["c"]
                trips = [
                    next((stats[p] for p in phys[c] if p in stats), None)
                    if usable
                    else None
                    for c, _op, _lit, usable, _f in normed
                ]
                if any(
                    t is not None
                    and not (is_f and op not in _FLOAT_MAY_SOUND)
                    and not _range_may_match(t[0], t[1], op, lit)
                    for t, (_c, op, lit, _u, is_f) in zip(trips, normed)
                ):
                    continue  # no row of this group can match
                upper += n
                if all(
                    t is not None
                    and t[2] == 0
                    and not (is_f and op not in _FLOAT_MUST_SOUND)
                    and _range_must_match(t[0], t[1], op, lit)
                    for t, (_c, op, lit, _u, is_f) in zip(trips, normed)
                ):
                    lower += n  # every row of this group matches
        if broken:
            return None
        return lower, upper, total

    def _footer_bounds_records(
        self, namespace: str, table: str, d: str
    ) -> list[dict] | None:
        """Row-group bounds records for a pre-stamp data dir, from
        parquet footers — the legacy path ``_dispatch_bounds`` takes
        when the dir's ``dirs`` record carries no ``bounds``: the same
        :func:`dir_footer_metrics` walk a commit stamps, uncapped.
        Memoized per (namespace, table, dir): data dirs are immutable
        once published. A dir with an unreadable file returns None and
        is NOT cached — repairing a broken adopted link changes the
        dir's content without changing its name, so caching the
        failure (or a partial read) could serve stale bounds forever.
        No record or stat-length cap here, unlike a commit stamp —
        nothing is persisted, so the only cost is this process's memory."""
        key = (namespace, table, d)
        cached = self._footer_bounds_cache.get(key)
        if cached is not None:
            return cached
        try:
            _stats, _rows, records = dir_footer_metrics(
                self._tbl(namespace, table, "data", d),
                max_groups=sys.maxsize, max_stat_len=sys.maxsize,
            )
        except OSError:
            return None  # degrade this dir only; do not cache
        self._footer_bounds_cache[key] = records
        return records

    def _pending_deletes(
        self, manifest: dict, dir_names: list[str]
    ) -> list[dict]:
        return [
            e for e in manifest.get("deletes", [])
            if set(e["applies_to"]) & set(dir_names)
        ]

    def _dv_apply_mode(self, manifest: dict, entry: dict) -> str:
        """Apply plan for a path-scoped delete entry — three plans, all
        decided from the manifest entry (no job):

        - ``ranges``: a stored ``layout: "ranges"`` DV broadcasts its
          (starts, ends) run arrays as-is and rows probe their file's
          runs. Shuffle-free; payload and per-row work are run-count-
          bounded at any density (the writer only stores ranges inside
          the ``DV_RANGE_PROBE_*`` bounds).
        - ``probe``: a stamped positions-layout DV inside every
          ``DV_PROBE_*`` bound broadcasts and rows probe their file's
          sorted ordinal array. Shuffle-free; per-row work
          O(positions-per-file), payload positions-sized — both fine
          below the gates.
        - ``anti``: everything else — dense DVs, unstamped legacy DVs
          and legacy ``mode: "positional"`` files — expands through
          ``_dv_positions_relation`` into one (file, pos) left-anti
          join: one hash exchange, linear work, bounded memory.

        Dense means ANY of: doomed fraction of the scoped dirs' rows
        above ``DV_PROBE_MAX_DENSITY``, a single file carrying more than
        ``DV_PROBE_MAX_FILE_POSITIONS`` ordinals, or total positions
        above ``DV_PROBE_MAX_TOTAL_POSITIONS``. Ranges are never derived
        at read time: every shape the writer compresses is stored as
        ranges, and on dense scattered entries the derived range probe
        measured ~9x slower than the anti-join."""
        if entry.get("layout") == "ranges":
            return "ranges"
        n = entry.get("n_positions")
        mx = entry.get("max_file_positions")
        if entry["mode"] != "dv" or n is None or mx is None:
            return "anti"
        if (
            mx > self.DV_PROBE_MAX_FILE_POSITIONS
            or n > self.DV_PROBE_MAX_TOTAL_POSITIONS
        ):
            return "anti"
        dirs = manifest.get("dirs", {})
        scoped = [dirs.get(d, {}).get("rows") for d in entry["applies_to"]]
        if scoped and all(s is not None for s in scoped):
            total = sum(scoped)
            if total and n / total > self.DV_PROBE_MAX_DENSITY:
                return "anti"
        return "probe"

    def expire_snapshots(
        self,
        namespace: str,
        table: str,
        keep_last: int = 1,
        branch_keep: dict[str, int] | None = None,
    ) -> list[int]:
        """Snapshot GC (Iceberg ``expire_snapshots`` analogue): drop all but
        the newest ``keep_last`` snapshot manifests, then delete data
        directories no retained snapshot references. Returns expired ids.
        Every ref head (branch or tag) stays pinned — Iceberg semantics:
        branches/tags pin their snapshots through GC.

        ``branch_keep`` is per-branch retention (the Iceberg branch-level
        ``min-snapshots-to-keep`` property): each named branch retains
        its newest N ANCESTORS — the snapshots at-or-before the branch
        head in history order — so a long-lived audit/staging branch
        keeps its own rollback window while the main line is trimmed
        aggressively.

        Metadata-first ordering makes the physical delete safe: a reader
        holding an expired id fails fast on the missing manifest rather
        than scanning half-deleted data.
        """
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        snaps = self._snapshots(namespace, table)
        refs = {r["name"]: r for r in self.list_refs(namespace, table)}
        retained_ids = {s["snapshot_id"] for s in snaps[-keep_last:]}
        retained_ids.update(r["snapshot_id"] for r in refs.values())
        for name, keep in (branch_keep or {}).items():
            if keep < 1:
                raise ValueError(f"branch_keep[{name!r}] must be >= 1")
            if name not in refs:
                raise SnapshotNotFound(
                    f"{namespace}.{table} has no ref {name!r}"
                )
            if refs[name]["type"] != "branch":
                # a tag is immutable: granting it an ancestor-retention
                # window would pin history forever behind a ref that can
                # never advance — refuse, like retarget_branch does
                raise ValueError(
                    f"ref {name!r} is a tag; branch_keep applies to "
                    "branches only (tag heads are always pinned)"
                )
            head = refs[name]["snapshot_id"]
            ancestors = [s for s in snaps if s["snapshot_id"] <= head]
            retained_ids.update(
                s["snapshot_id"] for s in ancestors[-keep:]
            )
        expired = [s for s in snaps if s["snapshot_id"] not in retained_ids]
        retained = [s for s in snaps if s["snapshot_id"] in retained_ids]
        for s in expired:
            os.remove(
                self._tbl(namespace, table, "snapshots", f"{s['snapshot_id']}.json")
            )
        # Delete ONLY data and delete-file directories the expired
        # manifests referenced and no retained manifest still does
        # (Iceberg expire_snapshots semantics). A directory referenced by
        # NO manifest is either a failed commit's orphan or a concurrent
        # commit's data written before its manifest publishes — deleting
        # it here would corrupt the winner's table; that cleanup belongs
        # to remove_orphans() with an age threshold.
        for kind, live, gone in zip(
            ("data", "deletes"), _referenced(retained), _referenced(expired)
        ):
            for d in sorted(gone - live):
                shutil.rmtree(
                    self._tbl(namespace, table, kind, d), ignore_errors=True
                )
        return [s["snapshot_id"] for s in expired]

    # -- refs: named snapshots (Iceberg branch/tag API analogue) ------------

    def create_tag(self, namespace: str, table: str, name: str,
                   snapshot_id: int | None = None) -> None:
        """Immutable named ref to a snapshot (Iceberg ``CREATE TAG``).
        Defaults to the current snapshot."""
        self._write_ref(namespace, table, name, "tag", snapshot_id,
                        overwrite=False)

    def create_branch(self, namespace: str, table: str, name: str,
                      snapshot_id: int | None = None) -> None:
        """Movable named ref (Iceberg ``CREATE BRANCH``)."""
        self._write_ref(namespace, table, name, "branch", snapshot_id,
                        overwrite=False)

    def retarget_branch(self, namespace: str, table: str, name: str,
                        snapshot_id: int) -> None:
        """Move a branch to another snapshot (fast-forward/rollback).
        Tags refuse — they are immutable by contract."""
        ref = self._read_ref(namespace, table, name)
        if ref["type"] != "branch":
            raise ValueError(f"ref {name!r} is a tag; tags are immutable")
        self._write_ref(namespace, table, name, "branch", snapshot_id,
                        overwrite=True)

    def drop_ref(self, namespace: str, table: str, name: str) -> None:
        os.remove(self._tbl(namespace, table, "refs", f"{name}.json"))

    def list_refs(self, namespace: str, table: str) -> list[dict]:
        ref_dir = self._tbl(namespace, table, "refs")
        if not os.path.isdir(ref_dir):
            return []
        out = []
        for fn in sorted(os.listdir(ref_dir)):
            if fn.endswith(".json"):
                with open(os.path.join(ref_dir, fn)) as f:
                    out.append(json.load(f))
        return out

    def resolve_ref(self, namespace: str, table: str, name: str) -> int:
        if name == "main":  # implicit current branch, same as refs() lists
            # a PHYSICAL ref literally named 'main' (creatable only by a
            # warehouse that predates the reserved-name rule) must not be
            # silently shadowed — its reader would move from the pinned
            # snapshot to head. Refuse with the migration step instead.
            stale = self._tbl(namespace, table, "refs", "main.json")
            if os.path.isfile(stale):
                raise ValueError(
                    f"{namespace}.{table} has a persisted ref named "
                    "'main' from before the name was reserved for the "
                    "implicit current branch; rename it (create a ref "
                    "at the same snapshot under another name, then "
                    f"delete {stale}) before resolving 'main'"
                )
            return self._current_sid(namespace, table)
        return self._read_ref(namespace, table, name)["snapshot_id"]

    def _read_ref(self, namespace: str, table: str, name: str) -> dict:
        path = self._tbl(namespace, table, "refs", f"{name}.json")
        if not os.path.isfile(path):
            raise SnapshotNotFound(f"{namespace}.{table} has no ref {name!r}")
        with open(path) as f:
            return json.load(f)

    def _write_ref(self, namespace: str, table: str, name: str, kind: str,
                   snapshot_id: int | None, overwrite: bool) -> None:
        if name == "main":
            # 'main' is the implicit current-snapshot branch (refs()
            # synthesizes its row); a user ref of the same name would
            # make refs() list two conflicting 'main' rows and
            # resolve_ref('main') disagree with the refs() row.
            raise ValueError(
                "'main' is the implicit current branch and cannot be "
                "created as a ref; tag or branch another name"
            )
        if snapshot_id is None:
            snapshot_id = self._current_sid(namespace, table)
        else:
            self._manifest(namespace, table, snapshot_id)  # must exist
        ref_dir = self._tbl(namespace, table, "refs")
        os.makedirs(ref_dir, exist_ok=True)
        path = os.path.join(ref_dir, f"{name}.json")
        if not overwrite and os.path.exists(path):
            raise FileExistsError(f"ref {name!r} already exists")
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"name": name, "type": kind,
                       "snapshot_id": snapshot_id}, f)
        os.replace(tmp, path)

    def remove_orphans(
        self, namespace: str, table: str, older_than_ms: int = 24 * 3600 * 1000
    ) -> list[str]:
        """Delete data and delete-file directories referenced by no
        snapshot manifest, and temp manifests (``<sid>.json.tmp-<hex>``,
        left by a process killed inside :meth:`_publish_manifest`), all
        older than the threshold (Iceberg ``remove_orphan_files``
        analogue). Returns the removed names.
        The age threshold is what makes this safe to run concurrently with
        commits: an in-flight commit's data or delete dir or temp manifest
        exists before its manifest, but it is necessarily younger than any
        sane threshold."""
        live_data, live_del = _referenced(self._snapshots(namespace, table))
        cutoff = time.time() - older_than_ms / 1000.0
        removed = []
        for kind, orphan in (
            ("data", lambda d: d not in live_data),
            ("deletes", lambda d: d not in live_del),
            ("snapshots", lambda d: ".json.tmp-" in d),
        ):
            root = self._tbl(namespace, table, kind)
            if not os.path.isdir(root):
                continue
            for d in sorted(os.listdir(root)):
                path = os.path.join(root, d)
                # a rival commit may unlink its temp manifest or sweep its
                # failed dir between the listing and the age check
                with contextlib.suppress(FileNotFoundError):
                    if orphan(d) and os.path.getmtime(path) < cutoff:
                        if os.path.isdir(path):
                            shutil.rmtree(path, ignore_errors=True)
                        else:
                            os.unlink(path)
                        removed.append(d)
        return removed

    def _prune_dirs(
        self, manifest: dict, predicate: str
    ) -> tuple[list[str], list[str]]:
        """Split the manifest's data dirs into (candidates, skipped) for a
        predicate, using per-dir column min/max stats. Dirs without stats
        are always candidates; complex predicates prune nothing."""
        dirs = manifest["files"]
        conjuncts = simple_conjuncts(predicate)
        if not conjuncts:
            return list(dirs), []
        # normalize timestamp literals to the stats' fixed-width format so
        # string comparison is chronological (schema tells us the type)
        types = {
            f["name"]: str(f.get("type", ""))
            for f in (manifest.get("schema") or {}).get("fields", [])
        }
        normed = []
        for col, op, lit in conjuncts:
            t = types.get(col, "")
            if "timestamp" in t and isinstance(lit, str):
                try:
                    lit, _zoned = _stats_timestamp(t, lit)
                except ValueError:
                    return list(dirs), []
                if lit is None:
                    continue
            normed.append((col, op, lit))
        return self._split_by_stats(manifest, normed)

    def _split_by_stats(
        self, manifest: dict, conjuncts: list[tuple[str, str, object]]
    ) -> tuple[list[str], list[str]]:
        """Dir-level interval check: (candidates, skipped). Literals must
        already be normalized to the stats' comparison domain.

        Soundness guards (ADVICE r14 #1/#2, shared with
        ``_dispatch_bounds`` — a wrong skip HERE loses rows from
        reads): conjuncts on FLOAT/DOUBLE columns only skip via the
        NaN-sound operators ('=', '<', '<=' — footer/dir stats ignore
        NaN while Spark orders NaN above everything, so a max-based
        skip for 'v > 5' would drop a matching NaN row); conjuncts on
        tz-adjusted TIMESTAMP columns skip nothing unless the session
        timezone is UTC (dir stats are naive UTC instants, the
        predicate literal parses in the session zone)."""
        types = {
            f["name"]: str(f.get("type", ""))
            for f in (manifest.get("schema") or {}).get("fields", [])
        }
        tz_utc = None  # lazily resolved: only timestamp conjuncts care
        usable: list[tuple[str, str, object]] = []
        for col, op, lit in conjuncts:
            t = types.get(col, "")
            if t == "timestamp":  # tz-adjusted (timestamp_ntz is naive)
                if tz_utc is None:
                    tz_utc = self._session_tz_is_utc()
                if not tz_utc:
                    continue
            if t in _FLOAT_TYPES and op not in _FLOAT_MAY_SOUND:
                continue
            usable.append((col, op, lit))
        conjuncts = usable
        dirs = manifest.get("dirs", {})
        candidates, skipped = [], []
        for d in manifest["files"]:
            rec = dirs.get(d, {})
            stats = rec.get("stats")
            keep = True
            if stats:
                for col, op, lit in conjuncts:
                    if col in stats and not _range_may_match(
                        stats[col][0], stats[col][1], op, lit
                    ):
                        keep = False
                        break
            if keep:
                # point-lookup skipping past what min/max can see: a
                # registered bloom answers "value definitely absent"
                blooms = rec.get("blooms") or {}
                for col, op, lit in conjuncts:
                    if (
                        op == "="
                        and col in blooms
                        and not bloom_maybe_contains(blooms[col], lit)
                    ):
                        keep = False
                        break
            (candidates if keep else skipped).append(d)
        return candidates, skipped

    def rename_column(
        self, namespace: str, table: str, old: str, new: str
    ) -> int:
        """Iceberg ``ALTER TABLE .. RENAME COLUMN`` analogue —
        METADATA-ONLY: no data file is read, written, or moved, at any
        table size. The commit rewrites the logical schema, remaps the
        per-dir stats keys (so stats pruning keeps working on the new
        name), and appends to the manifest's rename chain; reads resolve
        old physical names through the chain (:meth:`_resolve_schema`).

        Name-reuse contract: Iceberg disambiguates generations by field
        id; this layout is name-based, so a retired name (rename source
        or dropped column) can never be reintroduced while any directory
        might still contain it physically — the guard lives in
        :func:`next_manifest`. Refuses renaming partition-spec sources (hive
        dir names embed them) and columns referenced by pending
        equality-delete entries (their key files are physical — compact
        first, the read_ordered discipline)."""
        return self._schema_edit_commit(
            namespace, table, "rename_column", old=old, new=new
        )

    def drop_column(self, namespace: str, table: str, col: str) -> int:
        """Iceberg ``ALTER TABLE .. DROP COLUMN`` analogue —
        METADATA-ONLY: the column leaves the logical schema and every
        read projects it away; the bytes stay in place (and remain
        time-travelable through pre-drop snapshots) until compaction or
        GC naturally rewrites them. Same guards as
        :meth:`rename_column`; also refuses dropping the last column."""
        return self._schema_edit_commit(
            namespace, table, "drop_column", old=col, new=None
        )

    def widen_column_type(
        self, namespace: str, table: str, col: str, new_type: str
    ) -> int:
        """Iceberg ``ALTER TABLE .. ALTER COLUMN .. TYPE`` analogue —
        METADATA-ONLY type promotion (int→long, float→double, the
        Iceberg-legal widenings): the commit rewrites the logical field
        type; every scan reads through the manifest schema, so the
        parquet reader upcasts narrow physical columns, and old files
        are never rewritten. Refuses non-widening changes, partitioned
        layouts, and pending merge-on-read deletes (delete key files are
        physically narrow — compact first)."""
        spark_name = {"bigint": "long", "int": "integer"}.get(
            new_type, new_type
        )
        self._current_sid(namespace, table)  # a missing table raises

        def build(cur: dict) -> dict:
            schema = cur.get("schema") or {}
            fields = schema.get("fields", [])
            match = [f for f in fields if f["name"] == col]
            if not match:
                raise ValueError(
                    f"{namespace}.{table} has no column {col!r}"
                )
            old_type = match[0]["type"]
            if (old_type, spark_name) not in _WIDENINGS:
                raise ValueError(
                    f"cannot widen {col!r} from {old_type} to "
                    f"{spark_name}: only "
                    f"{sorted(_WIDENINGS)} are metadata-only"
                )
            if cur.get("partition_by") or cur.get("partition_spec"):
                raise ValueError(
                    "widen_column_type on a partitioned table is "
                    "unsupported — rewrite the layout first"
                )
            if cur.get("deletes"):
                raise ValueError(
                    f"{namespace}.{table}: widening with pending "
                    "merge-on-read deletes is unsupported — compact() "
                    "first"
                )
            return {
                **cur,
                "operation": "widen_column",
                "schema": {
                    **schema,
                    "fields": [
                        {**f, "type": spark_name} if f["name"] == col else f
                        for f in fields
                    ],
                },
            }

        return self._publish(namespace, table, build)

    def _schema_edit_commit(
        self, namespace: str, table: str, operation: str,
        old: str, new: str | None,
    ) -> int:
        """Shared guards + manifest construction for rename/drop; the
        publish loop is :meth:`_publish`."""
        self._current_sid(namespace, table)  # a missing table raises

        def build(cur: dict) -> dict:
            schema = cur.get("schema") or {}
            names = [f["name"] for f in schema.get("fields", [])]
            if old not in names:
                raise ValueError(
                    f"{namespace}.{table} has no column {old!r}"
                )
            retired = list(cur.get("retired") or [])
            if new is not None:
                if new in names:
                    raise ValueError(
                        f"{namespace}.{table} already has a column {new!r}"
                    )
                if new in retired:
                    raise ValueError(
                        f"column name {new!r} was retired by an earlier "
                        "rename/drop and old data files may still contain "
                        "it; name reuse is not supported on this "
                        "name-based layout"
                    )
            elif len(names) == 1:
                raise ValueError("cannot drop the last column")
            sources = set(cur.get("partition_by") or [])
            for f in partition_spec.parse_spec(
                cur.get("partition_spec") or []
            ):
                sources.add(f.source)
            if old in sources:
                raise ValueError(
                    f"column {old!r} is a partition-spec source; hive "
                    "directory names embed it — rewrite the layout first"
                )
            for e in cur.get("deletes") or []:
                if old in e.get("key_cols", []):
                    raise ValueError(
                        f"column {old!r} is referenced by a pending "
                        "equality-delete entry; compact() first"
                    )
            # stats and blooms follow the logical name (a drop removes
            # it); bounds keep physical names — _dispatch_bounds resolves
            # them through the rename chain
            dirs = {
                d: {
                    **rec,
                    **{
                        f: {
                            new if k == old else k: v
                            for k, v in rec[f].items()
                            if new is not None or k != old
                        }
                        for f in ("stats", "blooms")
                        if f in rec
                    },
                }
                for d, rec in cur.get("dirs", {}).items()
            }
            if new is not None:
                fields = [
                    {**f, "name": new} if f["name"] == old else f
                    for f in schema["fields"]
                ]
                bloom_cols = [
                    new if c == old else c
                    for c in (cur.get("bloom_cols") or [])
                ]
                renames = (cur.get("renames") or []) + [[old, new]]
            else:
                fields = [f for f in schema["fields"] if f["name"] != old]
                bloom_cols = [
                    c for c in (cur.get("bloom_cols") or []) if c != old
                ]
                renames = cur.get("renames") or []
            return {
                **cur,
                "operation": operation,
                "schema": {**schema, "fields": fields},
                "dirs": dirs,
                "bloom_cols": bloom_cols,
                "renames": renames,
                "retired": retired + [old],
            }

        return self._publish(namespace, table, build)

    def row_count(
        self, namespace: str, table: str, snapshot_id: int | None = None
    ) -> int:
        """count(*) answered from manifest metadata — NO data scan, no
        Spark job (Iceberg answers count(*) from manifest row counts the
        same way). Raises if the manifest predates row-count tracking."""
        sid, rows = self.stored_rows(namespace, table, snapshot_id)
        if rows is None:
            raise ValueError(
                f"{namespace}.{table}@{sid}: manifest lacks row counts"
            )
        if self._manifest(namespace, table, sid).get("deletes"):
            raise ValueError(
                f"{namespace}.{table}@{sid}: pending merge-on-read deletes;"
                " exact count needs a scan (or compact first)"
            )
        return rows

    def stored_rows(
        self, namespace: str, table: str, snapshot_id: int | None = None
    ) -> tuple[int, int | None]:
        """``(sid, rows)``: the snapshot id (the given one, else the
        current) and the rows stored in its data dirs, from the manifest
        — an upper bound on the rows a read of ``sid`` returns (pending
        deletes only remove rows). ``rows`` is None when a dir predates
        row-count tracking."""
        sid = snapshot_id or self._current_sid(namespace, table)
        manifest = self._manifest(namespace, table, sid)
        dirs = manifest.get("dirs", {})
        rows = [dirs.get(d, {}).get("rows") for d in manifest["files"]]
        return sid, None if None in rows else sum(rows)

    def snapshot_rows(self, namespace: str, table: str) -> tuple[list, str]:
        """Snapshot enumeration as driver rows and their schema — the
        ``t.snapshots`` metadata-table equivalent, answered in the driver
        from manifests the way the reference answers it from pyiceberg
        metadata (``ex-iceberg/src/component.py:148-157``). A missing
        table has no rows."""
        rows = [
            (s["snapshot_id"], s["timestamp_ms"], s["operation"])
            for s in self._snapshots(namespace, table)
        ]
        return rows, "snapshot_id long, timestamp_ms long, operation string"

    def history_rows(self, namespace: str, table: str) -> tuple[list, str]:
        """Table-history metadata table as driver rows and their schema —
        the Iceberg ``t.history`` analogue (reference surfaces table
        metadata read-only the same way,
        ``ex-iceberg/src/component.py:148-157``): one row per snapshot
        with its commit wall-clock, lineage parent, and whether it is an
        ancestor of the CURRENT state (:meth:`_lineage`).
        ``is_current_ancestor`` is the column audit tooling reads to tell
        retained-but-abandoned history (rolled-back snapshots) from the
        live lineage — at 100 TB that distinction decides what
        expire_snapshots may reclaim. Answered entirely from manifests:
        no data scan, no Spark job."""
        snaps = self._snapshots(namespace, table)
        ancestors = self._lineage(snaps)
        rows = [
            (
                s["timestamp_ms"],
                s["snapshot_id"],
                s.get("rollback_of") or s.get("parent_id"),
                s["snapshot_id"] in ancestors,
            )
            for s in snaps
        ]
        return rows, (
            "made_current_at_ms long, snapshot_id long, "
            "parent_id long, is_current_ancestor boolean"
        )

    @staticmethod
    def _lineage(snaps: list[dict]) -> set[int]:
        """Ids of the current snapshot (the last of ``snaps``) and its
        ancestors. A rollback commit's content ancestor is its TARGET
        (the ``rollback_of`` manifest field), not the head it displaced
        — so the snapshots a rollback undid are reachable for time
        travel but NOT current ancestors, matching Iceberg's history
        table."""
        by_id = {s["snapshot_id"]: s for s in snaps}
        ancestors: set[int] = set()
        walk = snaps[-1]["snapshot_id"] if snaps else None
        while walk in by_id and walk not in ancestors:
            ancestors.add(walk)
            s = by_id[walk]
            walk = s.get("rollback_of") or s.get("parent_id")
        return ancestors

    def _dir_file_metrics(
        self, namespace: str, table: str, data_dir: str
    ) -> list[tuple]:
        """One data dir's parquet files as ``(file_ordinal, n_rows,
        n_row_groups, size_bytes)`` in sorted path order, from footers
        alone — the one per-dir walk behind :meth:`entries` and
        :meth:`all_data_files`. Files named ``.*`` / ``_*`` are skipped.
        A file whose footer cannot be read — a broken link, the
        documented ``allow_symlink`` adoption risk (source deleted after
        adoption) — yields NULL metrics, the :meth:`files` absent-stats
        contract: the inspect views must stay usable for auditing
        exactly the warehouses that need them."""
        import pyarrow.parquet as pq

        root = self._tbl(namespace, table, "data", data_dir)
        paths = [
            os.path.join(rdir, fn)
            for rdir, _sub, fns in os.walk(root)
            for fn in fns
            if fn.endswith(".parquet") and not fn.startswith((".", "_"))
        ]
        out = []
        for j, p in enumerate(sorted(paths)):
            try:
                md = pq.ParquetFile(p).metadata
                out.append(
                    (j, md.num_rows, md.num_row_groups, os.path.getsize(p))
                )
            except OSError:
                out.append((j, None, None, None))
        return out

    def _session_tz_is_utc(self) -> bool:
        """True when timestamp literals evaluate in UTC, the one zone
        where the naive footer-stat domain and a literal's session-zone
        parse coincide on tz-adjusted columns (ADVICE r14 #1). Asked only
        when a timestamp conjunct appears; without a session the zone is
        unknown, so such conjuncts prune and bound nothing."""
        return False

    # -- internals ----------------------------------------------------------

    def _tbl(self, namespace: str, table: str, *parts: str) -> str:
        return os.path.join(self.warehouse, namespace, table, *parts)

    def _head_sid(self, namespace: str, table: str) -> int | None:
        """The highest published snapshot id, read from the manifest
        NAMES of one listdir — no manifest is parsed, so the lookup does
        not grow with history. None when nothing is published."""
        snap_dir = self._tbl(namespace, table, "snapshots")
        if not os.path.isdir(snap_dir):
            return None
        return max(
            (int(fn[:-5]) for fn in os.listdir(snap_dir) if fn.endswith(".json")),
            default=None,
        )

    def _current_sid(self, namespace: str, table: str) -> int:
        # the set of published manifests is authoritative: the head is
        # the highest id
        sid = self._head_sid(namespace, table)
        if sid is None:
            raise SnapshotNotFound(f"{namespace}.{table} has no current snapshot")
        return sid

    def _head(self, namespace: str, table: str) -> dict | None:
        """The head manifest — the only one a publish derives from — or
        None for a table with nothing published."""
        sid = self._head_sid(namespace, table)
        return None if sid is None else self._manifest(namespace, table, sid)

    def _manifest(self, namespace: str, table: str, sid: int) -> dict:
        path = self._tbl(namespace, table, "snapshots", f"{sid}.json")
        if not os.path.isfile(path):
            raise SnapshotNotFound(f"{namespace}.{table} snapshot {sid}")
        with open(path) as f:
            return json.load(f)

    def _publish_manifest(
        self, namespace: str, table: str, sid: int, manifest: dict
    ) -> bool:
        """Publish ``manifest`` as ``snapshots/<sid>.json`` atomically:
        write a private temp file, then hard-link it to the final name.
        The link either creates the complete file or raises
        ``FileExistsError`` (a rival published ``sid`` first → False),
        so a failure mid-write never leaves a truncated manifest behind.
        The temp file is always unlinked, and that unlink cannot raise.

        On a filesystem without hard links the id is claimed by an
        exclusive create and the finished temp file copied in; a failed
        copy removes the claim again. There a concurrent reader can see
        the copy in progress — the link path has no such window."""
        path = self._tbl(namespace, table, "snapshots", f"{sid}.json")
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        try:
            with open(tmp, "w") as f:
                json.dump(manifest, f)
            try:
                os.link(tmp, path)
            except FileExistsError:
                raise
            except OSError:
                with open(path, "x") as dst, open(tmp) as src:
                    try:
                        shutil.copyfileobj(src, dst)
                    except BaseException:
                        os.unlink(path)
                        raise
            return True
        except FileExistsError:
            return False
        finally:
            with contextlib.suppress(OSError):
                os.unlink(tmp)

    def _snapshots(self, namespace: str, table: str) -> list[dict]:
        snap_dir = self._tbl(namespace, table, "snapshots")
        if not os.path.isdir(snap_dir):
            return []
        out = []
        for fn in os.listdir(snap_dir):
            if fn.endswith(".json"):
                with open(os.path.join(snap_dir, fn)) as f:
                    out.append(json.load(f))
        out.sort(key=lambda s: s["snapshot_id"])
        return out

    def _publish(
        self, namespace: str, table: str, build, base_sid: int | None = None
    ) -> int:
        """The one optimistic publish loop. ``build(head)`` returns the
        new manifest body from the head manifest (None when nothing is
        published); id, parent and timestamp are stamped here.

        One conflict rule: ``base_sid`` is the head the commit was
        derived from, and a missing table's head counts as 0. On every
        turn a set base that differs from the head raises
        :class:`CommitConflict` — publishing a result computed on a
        stale head would drop the rival's rows (a lost update).
        Otherwise the manifest is built from the head and linked at
        head+1. A lost link goes round again: a commit with a base then
        raises, one without rebuilds on the new head."""
        while True:
            head = self._head(namespace, table)
            head_sid = head["snapshot_id"] if head else 0
            if base_sid is not None and head_sid != base_sid:
                raise CommitConflict(
                    f"{namespace}.{table}: table advanced from snapshot "
                    f"{base_sid} to {head_sid} during this operation; "
                    "re-run it on the new state"
                )
            if head:
                # a lineage pointer copied from a rollback parent would
                # make history() walk past this commit's real parent
                head.pop("rollback_of", None)
            sid = head_sid + 1
            manifest = {
                **build(head),
                "snapshot_id": sid,
                "parent_id": head_sid or None,
                "timestamp_ms": int(time.time() * 1000),
            }
            if self._publish_manifest(namespace, table, sid, manifest):
                return sid

    @contextlib.contextmanager
    def _new_paths(self, namespace: str, table: str):
        """The one sweep-on-failure guard for the paths an author
        creates before it publishes. ``claim(*parts)`` registers and
        returns ``<table>/<parts>``; if the block raises — a write, a
        CHECK, a conflict, the manifest publish — no manifest names a
        claimed path, so each is swept. Every guarded block ends with
        its publish. Dirs a commit only re-references (carried from the
        head, re-listed by :meth:`cherry_pick`) are never claimed. It
        catches ``Exception``, not ``BaseException``: sweeping on an
        interrupt that lands after the link would delete a published
        dir."""
        claimed: list[str] = []

        def claim(*parts: str) -> str:
            claimed.append(self._tbl(namespace, table, *parts))
            return claimed[-1]

        try:
            yield claim
        except Exception:
            for path in claimed:
                shutil.rmtree(path, ignore_errors=True)
            raise

    def _commit_metadata(
        self, namespace: str, table: str, operation: str,
        base_sid: int | None = None, carry: bool = False, **body,
    ) -> int:
        """Publish :func:`next_manifest` of the head with ``body``: the
        publish every commit ends in, ``SnapCatalog._commit``'s after
        its data write. ``base_sid`` is :meth:`_publish`'s. An append
        (``carry``) has no base; a replace's is pinned to the head seen
        here, after its data write, so it wins over whatever landed
        during the write while a publish collision raises."""
        os.makedirs(self._tbl(namespace, table, "snapshots"), exist_ok=True)
        if not carry and base_sid is None:
            base_sid = self._head_sid(namespace, table) or 0
        return self._publish(
            namespace, table,
            lambda head: next_manifest(head, operation, carry=carry, **body),
            base_sid,
        )
