#!/usr/bin/env python3
"""Capture .explain("formatted") output for a set of registered queries
into plans/$SPARK_GRAFT_PLANS_ROUND/<query>_<label>.txt (default r16) —
the before/after plan evidence for the optimization round. A query that
commits to a ``SnapCatalog`` also gets <query>_write_<label>.txt: the plan
of every DataFrame its commits write, in commit order.

Usage: python tools/capture_plans.py <label> [query ...]
(no query args = the bench HEADLINE tuple)
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

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
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


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
    real_commit = SnapCatalog._commit

    def commit(self, namespace, table, df, *args, **kwargs):
        if df is not None:
            written.append(f"== {namespace}.{table} ==\n{_explain(df)}")
        return real_commit(self, namespace, table, df, *args, **kwargs)

    SnapCatalog._commit = commit
    for name in names:
        q = registry[name]
        written.clear()
        try:
            text = _explain(q.fn(spark, SF_DIR))
        except Exception as e:  # noqa: BLE001 — record the failure, keep going
            text = f"EXPLAIN FAILED: {type(e).__name__}: {e}\n"
        outs = [(f"{name}_{label}.txt", text)]
        if written:
            outs.append((f"{name}_write_{label}.txt", "\n".join(written)))
        for fn, body in outs:
            out = os.path.join(OUT_DIR, fn)
            with open(out, "w") as fh:
                fh.write(body)
            print(f"wrote {out} ({len(body)} bytes)", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
