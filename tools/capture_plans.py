#!/usr/bin/env python3
"""Capture .explain("formatted") output for a set of registered queries
into plans/$SPARK_GRAFT_PLANS_ROUND/<query>_<label>.txt (default r16) —
the before/after plan evidence for the optimization round. A query that
commits to a ``SnapCatalog`` also gets <query>_write_<label>.txt: the plan
of every data write its commits make, as ``_commit`` hands it to the
Parquet writer, in commit order. A query that upserts or merges also gets
<query>_bounds_<label>.txt: the plan of each MERGE key-range bounds job.

Usage: python tools/capture_plans.py <label> [query ...]
(no query args = the bench HEADLINE tuple)
"""

from __future__ import annotations

import os
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from component_iceberg_spark.io.snaptable import SnapCatalog  # noqa: E402
from component_iceberg_spark.plans import load_all  # noqa: E402
from component_iceberg_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r16"),
)


def _explain(df) -> str:
    """``df.explain("formatted")``'s text, read without redirecting the
    process-wide stdout, so queries that commit from concurrent lanes
    record each plan whole."""
    jvm = df.sparkSession.sparkContext._jvm
    qe = df._jdf.queryExecution()
    return jvm.PythonSQLUtils.explainString(qe, "formatted") + "\n"


def main() -> int:
    label = sys.argv[1]
    names = sys.argv[2:]
    if not names:
        import bench

        names = list(bench.HEADLINE)
    os.makedirs(OUT_DIR, exist_ok=True)
    registry = load_all()
    spark = get_spark("capture_plans")
    written: list[str] = []
    bounds: list[str] = []
    # per thread: the (catalog method, table) calls running
    lane = threading.local()

    def within(kind, method):
        def run(self, *args, **kwargs):
            # _commit(namespace, table, ...) names its table
            where = f"{args[0]}.{args[1]}" if kind == "commit" else kind
            lane.inside = getattr(lane, "inside", []) + [(kind, where)]
            try:
                return method(self, *args, **kwargs)
            finally:
                lane.inside = lane.inside[:-1]

        return run

    def record(kind, out, method):
        def run(self, *args, **kwargs):
            inside = getattr(lane, "inside", [])
            if inside and inside[-1][0] == kind:
                df = self._df if kind == "commit" else self
                out.append(f"== {inside[-1][1]} ==\n{_explain(df)}")
            return method(self, *args, **kwargs)

        return run

    SnapCatalog._commit = within("commit", SnapCatalog._commit)
    SnapCatalog._delta_key_pruning = within(
        "bounds", SnapCatalog._delta_key_pruning
    )
    frame, writer = type(spark.range(1)), type(spark.range(1).write)
    writer.parquet = record("commit", written, writer.parquet)
    frame.collect = record("bounds", bounds, frame.collect)
    for name in names:
        q = registry[name]
        written.clear()
        bounds.clear()
        try:
            text = _explain(q.fn(spark, SF_DIR))
        except Exception as e:  # noqa: BLE001 — record the failure, keep going
            text = f"EXPLAIN FAILED: {type(e).__name__}: {e}\n"
        outs = [(f"{name}_{label}.txt", text)]
        if written:
            outs.append((f"{name}_write_{label}.txt", "\n".join(written)))
        if bounds:
            outs.append((f"{name}_bounds_{label}.txt", "\n".join(bounds)))
        for fn, body in outs:
            out = os.path.join(OUT_DIR, fn)
            with open(out, "w") as fh:
                fh.write(body)
            print(f"wrote {out} ({len(body)} bytes)", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
