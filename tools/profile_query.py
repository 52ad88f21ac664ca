#!/usr/bin/env python3
"""Profile registered queries: wall per rep (same warm-session noop-sink
methodology as bench.py) plus a per-stage breakdown read from Spark's
in-process status store (the scripted equivalent of guide §7.1's "open
the Stages tab", through the same reader as
:mod:`component_iceberg_spark.metrics` — no UI needed), so the expensive
jobs inside multi-job operators (mutation verbs, streaming harnesses)
are attributable without a browser.

Usage:
    python tools/profile_query.py q21_waiting_supplier snap_compact ...
    REPS=2 python tools/profile_query.py stream_window_counts
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from component_iceberg_spark.metrics import (  # noqa: E402
    _drain_listener_bus,
    _stage_list,
)
from component_iceberg_spark.plans import load_all  # noqa: E402
from component_iceberg_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("REPS", "3"))
TOP = int(os.environ.get("TOP", "12"))


def force(df):
    df.write.format("noop").mode("overwrite").save()


def stages(spark):
    """Completed stages keyed by (stage id, attempt id)."""
    _drain_listener_bus(spark)
    return {
        (s.stageId(), s.attemptId()): s
        for s in _stage_list(spark)
        if s.status().toString() == "COMPLETE"
    }


def _label(s) -> str:
    desc = s.description()
    return desc.get() if desc.isDefined() else s.name()


def main() -> None:
    names = sys.argv[1:]
    registry = load_all()
    spark = get_spark("profile")
    sc = spark.sparkContext
    force(registry["scan_full"].fn(spark, SF_DIR))

    for name in names:
        fn = registry[name].fn
        sc.setJobDescription(f"{name}: warmup")
        t0 = time.perf_counter()
        force(fn(spark, SF_DIR))
        warm = time.perf_counter() - t0
        reps = []
        before = stages(spark)
        for r in range(REPS):
            sc.setJobDescription(f"{name}: rep{r}")
            t0 = time.perf_counter()
            force(fn(spark, SF_DIR))
            reps.append(time.perf_counter() - t0)
        after = stages(spark)
        new = [s for k, s in after.items() if k not in before]
        new.sort(key=lambda s: -s.executorRunTime())
        print(
            f"\n=== {name}: warmup {warm:.3f}s "
            f"reps {[round(x, 3) for x in reps]} best {min(reps):.3f} "
            f"({len(new)} stages over {REPS} reps)"
        )
        for s in new[:TOP]:
            print(
                f"  run {s.executorRunTime() / 1000:7.2f}s"
                f" cpu {s.executorCpuTime() / 1e9:7.2f}s"
                f" tasks {s.numCompleteTasks():4d}"
                f" in {s.inputBytes() / 1e6:8.1f}MB"
                f" sh_r {s.shuffleReadBytes() / 1e6:7.1f}MB"
                f" sh_w {s.shuffleWriteBytes() / 1e6:7.1f}MB"
                f"  {_label(s)[:90]}"
            )
        sys.stdout.flush()
    sc.setJobDescription(None)


if __name__ == "__main__":
    main()
