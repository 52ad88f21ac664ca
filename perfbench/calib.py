"""Machine-speed token: fixed Spark work that runs no engine code.

The machine this benchmark runs on is shared, and its speed drifts by
more than the benchmark's bounds between two sets of runs of the same
code (a quarter and more on a 4-vCPU VM, sometimes within minutes).
Each run therefore times this token three times after its warm-up and
once after each cycle, and reports its end-to-end times in *token
units*: the measured value times ``REF_TOKEN_S`` over the run's median
token. A machine that got slower stretches the token and the workload
alike, so the quotient stays put; the raw values and the tokens are
printed above the result line.

The token mixes the two kinds of work the workloads do: a JVM-bound
aggregate on every core (scan and kernel time) and a few tiny jobs
with a shuffle (driver planning, py4j and task scheduling). It runs
under fixed SQL confs, so a change to the engine's session defaults
does not move it.
"""

from __future__ import annotations

import time

REF_TOKEN_S = 0.45  # a warm token on a 4-vCPU VM at local[3]; sets the unit only
WARM_TOKENS = 2  # untimed tokens first: the JIT takes a few to compile the loop

_CONFS = {
    "spark.sql.shuffle.partitions": "4",
    "spark.sql.adaptive.enabled": "true",
}


def token_s(spark, cores: int) -> float:
    """Wall seconds of one token."""
    from pyspark.sql import functions as F

    saved = {k: spark.conf.get(k, None) for k in _CONFS}
    for k, v in _CONFS.items():
        spark.conf.set(k, v)
    try:
        t0 = time.perf_counter()
        spark.range(0, 30_000_000, 1, cores).select(
            F.sum(F.col("id") % 97), F.avg(F.col("id") * 1.5)
        ).collect()
        for _ in range(3):
            spark.range(0, 2_000, 1, cores).groupBy(
                (F.col("id") % 7).alias("k")
            ).count().collect()
        return time.perf_counter() - t0
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
