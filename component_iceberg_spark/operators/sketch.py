"""Mergeable-sketch aggregations (Apache DataSketches, built into Spark).

The 100 TB story: sketches are the only way several global statistics
stay one-pass and bounded-memory at scale —

- each task builds a partial sketch over its partition (map-side),
- partials merge associatively in the reduce (bytes, not rows),
- the final sketch is KB-sized regardless of input cardinality.

Exact COUNT(DISTINCT) shuffles every distinct key; an HLL sketch shuffles
~KB per group at a fixed relative error. Exact global percentiles buffer
whole groups (`ext_percentile_exact`'s documented memory cliff); a KLL
sketch holds a bounded summary with a provable rank-error bound. Theta
sketches additionally support set algebra (union / intersection) BETWEEN
sketches — overlap cardinality of two 10¹¹-key sets without ever joining
them.

All functions here are thin, typed wrappers over the JVM-side
``pyspark.sql.functions`` sketch family (nothing leaves codegen; no UDFs).
Approximation is inherent, so these ops are verified by error-bound tests
(tests/test_approx.py) against exact twins rather than by the DuckDB
hash-match oracle — the estimates are implementation-defined, not
portable values.

Reference scope note: the reference connector (keboola/component-iceberg)
has no sketch surface; this extends the engine for the pipeline-analytics
workloads in SURVEY §2's extended families.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hll_distinct(df: DataFrame, group_cols: list[str], key: Column | str,
                 lg_k: int = 12) -> DataFrame:
    """Approximate per-group distinct count via HLL sketch.

    lg_k=12 → 4 KB sketch, ~1.6% relative standard error — per GROUP, not
    per row, so a billion-group aggregation shuffles ~4 GB of sketch bytes
    total where exact distinct would shuffle every (group, key) pair.
    """
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_estimate(F.hll_sketch_agg(key, F.lit(lg_k))).alias(
            "approx_distinct"
        )
    )


def kll_quantiles(df: DataFrame, group_cols: list[str], value: str,
                  probs: tuple[float, ...] = (0.5, 0.9, 0.99),
                  k: int = 200) -> DataFrame:
    """Per-group quantile estimates from a KLL floats sketch (k=200 →
    ~1.65% rank error at 99% confidence, a few KB per group). The scale
    path next to ``ext_percentile_exact``'s exact-but-buffering form."""
    sk = F.kll_sketch_agg_double(F.col(value).cast("double"), F.lit(k))
    out = df.groupBy(*group_cols).agg(sk.alias("_sk"))
    cols = [F.col(c) for c in group_cols] + [
        F.kll_sketch_get_quantile_double(F.col("_sk"), F.lit(p)).alias(
            f"p{int(p * 100)}"
        )
        for p in probs
    ]
    return out.select(*cols)


def theta_overlap(df: DataFrame, key: str, label_col: str,
                  label_a: str, label_b: str) -> DataFrame:
    """Distinct-key overlap of two subsets via theta sketches:
    |A|, |B|, |A∩B|, |A∪B| — estimated from two KB-sized sketches with
    set algebra, never joining the underlying keys. The contamination /
    audience-overlap primitive at 100 TB.

    One aggregation over the union of both subsets (conditional sketch
    inputs), one 1-row result; intersection via the inclusion-exclusion
    identity |A∩B| = |A| + |B| − |A∪B| over sketch estimates (Spark
    exposes union natively; intersection follows arithmetically)."""
    a_key = F.when(F.col(label_col) == label_a, F.col(key))
    b_key = F.when(F.col(label_col) == label_b, F.col(key))
    agg = df.agg(
        F.theta_sketch_agg(a_key).alias("_a"),
        F.theta_sketch_agg(b_key).alias("_b"),
    )
    return agg.select(
        F.round(F.theta_sketch_estimate(F.col("_a"))).cast("long").alias("n_a"),
        F.round(F.theta_sketch_estimate(F.col("_b"))).cast("long").alias("n_b"),
        F.round(
            F.theta_sketch_estimate(F.col("_a"))
            + F.theta_sketch_estimate(F.col("_b"))
            - F.theta_sketch_estimate(F.theta_union(F.col("_a"), F.col("_b")))
        ).cast("long").alias("n_intersect"),
        F.round(
            F.theta_sketch_estimate(F.theta_union(F.col("_a"), F.col("_b")))
        ).cast("long").alias("n_union"),
    )


def heavy_hitters_exact(
    df: DataFrame,
    item_col: str,
    k: int = 32,
) -> DataFrame:
    """φ-heavy hitters (φ = 1/(k+1)) with BOUNDED-MEMORY candidate
    generation and exact verification — the candidate/verify split the
    dedup family uses, applied to frequency mining.

    Why not a plain groupBy at 100 TB: exact global token counts shuffle
    one row per DISTINCT item (web-scale n-gram vocabularies run to
    billions). Misra-Gries summaries cap that: each Arrow batch reduces
    to ≤ k (item, weight) rows — its exact batch counts, trimmed to the
    top k with the (k+1)-th count subtracted (the classic MG summary of
    the segment) — so the shuffle carries ≤ k rows per batch no matter
    the vocabulary. Merged MG weights undercount true frequency by at
    most n/(k+1) in total, which yields the completeness guarantee:
    every item with true count ≥ T = ⌊n/(k+1)⌋ + 1 survives into the
    candidate set. A broadcast semi-join then counts ONLY the candidates
    exactly and keeps those with count ≥ T.

    The output is therefore EXACTLY {item: true count ≥ T}, independent
    of partitioning or batch boundaries — the approximation affects cost,
    never the answer — so unlike the estimate-valued sketches above this
    op carries a hash-match DuckDB oracle (GROUP BY … HAVING count ≥ T).

    Returns (item, n_occurrences) for items above the frequency floor.
    """
    items = df.select(F.col(item_col).alias("item")).filter(
        F.col(item_col).isNotNull()
    )
    n = items.count()  # driver scalar — one cheap aggregated job
    threshold = n // (k + 1) + 1
    candidates = mg_candidates(items, k)
    return (
        items.join(F.broadcast(candidates), "item", "left_semi")
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= threshold)
    )


def mg_candidates(items: DataFrame, k: int) -> DataFrame:
    """The Misra-Gries candidate stage of ``heavy_hitters_exact``,
    exposed so the stage-volume contract is testable on its own: each
    Arrow batch reduces to ≤ k (item, weight) rows (the exact batch
    counts trimmed to the top k with the (k+1)-th count subtracted),
    partials merge by sum, and the surviving item set is a SUPERSET of
    every φ-heavy item. On a realistic (vocab ≫ k, Zipf-skewed) stream
    the merged set stays ≈ k — measured 34 candidates over a 99k-word
    vocabulary — so the downstream semi-join admits only heavy-token
    occurrences; the word-soup fixture (vocab ≤ k+1) is the worst case
    where every token is a candidate (see DESIGN_NOTES r10/r11 heavy-
    hitters audits). ``items`` must be a single non-NULL column named
    ``item`` (pandas value_counts drops NaN, which would otherwise break
    the completeness guarantee for the NULL item)."""
    import pandas as pd

    from pyspark.sql import types as T

    item_type = items.schema["item"].dataType
    summary_schema = T.StructType(
        [
            T.StructField("item", item_type),
            T.StructField("w", T.LongType()),
        ]
    )

    def mg_summaries(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            counts = pdf["item"].value_counts()  # exact within the batch
            if len(counts) > k:
                cut = int(counts.iloc[k])  # (k+1)-th largest count
                counts = (counts.iloc[:k] - cut)
                counts = counts[counts > 0]
            yield pd.DataFrame(
                {"item": counts.index, "w": counts.to_numpy()}
            )

    return (
        items.mapInPandas(mg_summaries, schema=summary_schema)
        .groupBy("item")
        .agg(F.sum("w").alias("lb"))
        .select("item")
    )
