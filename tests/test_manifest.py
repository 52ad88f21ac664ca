"""The Spark-free metadata layer (``io/manifest.py``) on hand-built
manifests: no SparkSession, no data files, seconds to run."""

from __future__ import annotations

import ast
import importlib.util
import json
import os
import subprocess
import sys

import pytest

from component_iceberg_spark.io import manifest as M

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _field(name: str, typ: str = "long") -> dict:
    return {"name": name, "type": typ, "nullable": True, "metadata": {}}


def _head() -> dict:
    """A head whose table renamed ``v`` to ``w``, with an equality
    delete scoped to ``a`` alone and one scoped to every dir."""
    return {
        "snapshot_id": 3,
        "parent_id": 2,
        "timestamp_ms": 0,
        "operation": "append",
        "files": ["a", "b", "c"],
        "dirs": {
            "a": {"rows": 1, "stats": {"k": [1, 5]}},
            "b": {"rows": 2, "stats": {"k": [6, 9]}, "bounds": [
                {"n": 2, "c": {"k": [6, 9, 0]}}
            ]},
            "c": {"rows": 3, "blooms": {"k": {"bits": 64, "kind": "i",
                                              "b64": "AA=="}}},
        },
        "deletes": [
            {"dir": "d1", "key_cols": ["k"], "applies_to": ["a"]},
            {"dir": "d2", "key_cols": ["k"], "applies_to": ["a", "b", "c"]},
        ],
        "schema": {"type": "struct", "fields": [_field("k"), _field("w")]},
        "renames": [["v", "w"]],
        "retired": ["v"],
        "partition_by": [],
        "partition_spec": [],
        "bloom_cols": ["k"],
    }


def test_manifest_module_imports_without_pyspark():
    code = (
        "import sys; sys.modules['pyspark'] = None; "
        "import component_iceberg_spark.io.manifest"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True,
        text=True,
    )
    assert proc.returncode == 0, proc.stderr
    tree = ast.parse(open(M.__file__).read())
    imported = [
        a.name for n in ast.walk(tree) if isinstance(n, ast.Import)
        for a in n.names
    ] + [
        n.module or "" for n in ast.walk(tree)
        if isinstance(n, ast.ImportFrom)
    ]
    assert not [m for m in imported if m.startswith("pyspark")], imported


def test_next_manifest_prunes_delete_entries_to_surviving_dirs():
    head = _head()
    # a copy-on-write rewrite of dir a: b and c are carried, n is new
    body = M.next_manifest(
        head, "delete", carry_dirs=["b", "c"], extra_dirs={"n": {"rows": 4}}
    )
    assert body["files"] == ["b", "c", "n"]
    assert body["deletes"] == [
        {"dir": "d2", "key_cols": ["k"], "applies_to": ["b", "c"]}
    ]
    # carried dir records are the head's, verbatim; a is gone
    assert body["dirs"] == {
        "b": head["dirs"]["b"], "c": head["dirs"]["c"], "n": {"rows": 4}
    }
    # no schema or layout given: the head's are kept
    assert body["schema"] == head["schema"]
    assert body["bloom_cols"] == ["k"]
    # an explicit delete list replaces the head's
    assert M.next_manifest(head, "x", carry=True, deletes=[])["deletes"] == []


def test_next_manifest_carries_rename_lineage_only_with_carried_dirs():
    head = _head()
    appended = M.next_manifest(
        head, "append", carry=True, extra_dirs={"n": {"rows": 1}},
        schema={"type": "struct", "fields": [_field("k")]},
    )
    assert appended["files"] == ["a", "b", "c", "n"]
    assert appended["renames"] == [["v", "w"]]
    assert appended["retired"] == ["v"]
    # a narrower append keeps the lineage-active table's evolved column
    assert [f["name"] for f in appended["schema"]["fields"]] == ["k", "w"]
    # a commit that carries nothing rewrote everything: lineage resets
    rewritten = M.next_manifest(head, "compact", extra_dirs={"n": {}})
    assert rewritten["files"] == ["n"]
    assert rewritten["renames"] == [] and rewritten["retired"] == []
    assert rewritten["dirs"] == {}  # an empty record is left out


def test_next_manifest_refuses_a_retired_name():
    with pytest.raises(ValueError, match="retired"):
        M.next_manifest(
            _head(), "append", carry=True, extra_dirs={"n": {}},
            schema={"type": "struct", "fields": [_field("k"), _field("v")]},
        )


def test_read_schema_lists_rename_aliases_at_the_current_type():
    """Every scan reads through the manifest: each logical field, then
    the older names of its rename chain at the field's current type."""
    m = {
        "schema": {"type": "struct", "fields": [
            _field("k"), _field("c", "long"), _field("e", "string"),
        ]},
        # a -> b -> c, widened to long after; d dropped; x -> y dropped
        "renames": [["a", "b"], ["x", "y"], ["b", "c"]],
        "retired": ["a", "x", "b", "d", "y"],
    }
    got = M.read_schema_json(m)
    assert [(f["name"], f["type"]) for f in got["fields"]] == [
        ("k", "long"), ("c", "long"), ("b", "long"), ("a", "long"),
        ("e", "string"),
    ]
    assert all(f["nullable"] for f in got["fields"][2:4])
    # no chain: the manifest schema itself; no schema: nothing to read by
    assert M.read_schema_json({"schema": m["schema"]}) == m["schema"]
    assert M.read_schema_json({"schema": None}) is None


def test_next_manifest_unions_carried_fields_and_refuses_type_changes():
    head = {**_head(), "renames": [], "retired": []}
    narrow = M.next_manifest(
        head, "append", carry=True, extra_dirs={"n": {}},
        schema={"type": "struct", "fields": [
            _field("x", "string"), _field("w", "integer"),
        ]},
    )
    # parent fields in parent order, then the new column; the int write
    # beside long files keeps the table's long
    assert [(f["name"], f["type"]) for f in narrow["schema"]["fields"]] == [
        ("k", "long"), ("w", "long"), ("x", "string"),
    ]
    assert "widened" not in narrow
    # nested nullability is not a type change
    arr = {"type": "array", "elementType": "long", "containsNull": False}
    nested = {**head, "schema": {"type": "struct", "fields": [
        _field("k", {**arr, "containsNull": True}),
    ]}}
    body = M.next_manifest(
        nested, "append", carry=True, extra_dirs={"n": {}},
        schema={"type": "struct", "fields": [_field("k", arr)]},
    )
    assert body["schema"]["fields"][0]["type"] == arr
    for typ in ("string", "double", arr):
        with pytest.raises(ValueError, match="'k' is long"):
            M.next_manifest(
                head, "append", carry_dirs=["a"], extra_dirs={"n": {}},
                schema={"type": "struct", "fields": [_field("k", typ)]},
            )
    # a commit that carries nothing may retype: it rewrote every file
    replaced = M.next_manifest(
        head, "replace", extra_dirs={"n": {}},
        schema={"type": "struct", "fields": [_field("k", "string")]},
    )
    assert replaced["schema"]["fields"] == [_field("k", "string")]


def _store(tmp_path) -> M.ManifestStore:
    store = M.ManifestStore(str(tmp_path / "wh"))
    os.makedirs(store._tbl("ns", "t", "snapshots"))
    return store


def test_publish_stale_base_raises_and_lost_link_rebuilds(tmp_path):
    store = _store(tmp_path)
    assert store._publish("ns", "t", lambda head: {"files": []}) == 1
    with pytest.raises(M.CommitConflict):
        store._publish("ns", "t", lambda head: {"files": []}, base_sid=0)

    seen = []

    def build(head):
        seen.append(head["snapshot_id"])
        if len(seen) == 1:  # a rival links the id this turn targets
            rival = head["snapshot_id"] + 1
            assert store._publish_manifest(
                "ns", "t", rival, {"snapshot_id": rival, "files": ["rival"]}
            )
        return {"files": head["files"] + ["mine"]}

    # no base: the lost link rebuilds on the rival's head
    assert store._publish("ns", "t", build) == 3
    assert seen == [1, 2]
    assert store._manifest("ns", "t", 3)["files"] == ["rival", "mine"]
    assert store._manifest("ns", "t", 3)["parent_id"] == 2
    # with a base, the lost link raises on the next turn
    seen.clear()
    with pytest.raises(M.CommitConflict):
        store._publish("ns", "t", build, base_sid=3)
    assert seen == [3]
    assert store._head_sid("ns", "t") == 4  # the rival's


def test_expire_then_remove_orphans_deletes_exactly_unreferenced(tmp_path):
    store = _store(tmp_path)
    tbl = store._tbl("ns", "t")

    def make(kind: str, name: str) -> None:
        os.makedirs(os.path.join(tbl, kind, name))
        with open(os.path.join(tbl, kind, name, "part-0.parquet"), "w"):
            pass

    for d in ("a", "b", "c", "orphan"):
        make("data", d)
    make("deletes", "d1")
    store._commit_metadata("ns", "t", "replace", extra_dirs={"a": {}})
    store._commit_metadata(
        "ns", "t", "append", carry=True, extra_dirs={"b": {}},
        deletes=[{"dir": "d1", "key_cols": ["k"], "applies_to": ["a"]}],
    )
    store._commit_metadata("ns", "t", "replace", extra_dirs={"c": {}})
    tmp_manifest = os.path.join(tbl, "snapshots", "4.json.tmp-dead")
    with open(tmp_manifest, "w") as f:
        json.dump({}, f)

    assert store.expire_snapshots("ns", "t", keep_last=1) == [1, 2]
    assert sorted(os.listdir(os.path.join(tbl, "data"))) == ["c", "orphan"]
    assert os.listdir(os.path.join(tbl, "deletes")) == []

    old = 1_000_000_000  # 2001: older than any threshold
    for path in (os.path.join(tbl, "data", "orphan"),
                 os.path.join(tbl, "data", "c"), tmp_manifest):
        os.utime(path, (old, old))
    removed = store.remove_orphans("ns", "t", older_than_ms=60_000)
    assert sorted(removed) == ["4.json.tmp-dead", "orphan"]
    assert os.listdir(os.path.join(tbl, "data")) == ["c"]
    assert sorted(os.listdir(os.path.join(tbl, "snapshots"))) == ["3.json"]


def test_trace_hook_points_are_defined_on_their_owners(monkeypatch):
    """perfbench's tracer wraps ``owner.__dict__[name]``: a hook point
    that is only inherited (as from ``ManifestStore``) fails every
    traced run with a KeyError."""
    spec = importlib.util.spec_from_file_location(
        "_perfbench_tracing", os.path.join(ROOT, "perfbench", "tracing.py")
    )
    tracing = importlib.util.module_from_spec(spec)
    monkeypatch.setitem(sys.modules, spec.name, tracing)  # for dataclasses
    spec.loader.exec_module(tracing)
    missing = [
        (getattr(owner, "__name__", owner), name)
        for owner, name, _layer in tracing._hook_points()
        if name not in owner.__dict__
    ]
    assert not missing, missing
