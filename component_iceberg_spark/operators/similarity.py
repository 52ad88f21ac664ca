"""Embedding similarity search: brute-force cosine top-k, threshold pair
join, and an IVF (inverted-file) approximate path for scale.

Float determinism: dot products are left-fold sums of float→double
products in array order — bit-identical between Spark's ``aggregate`` and
DuckDB's ``list_sum(list_transform(...))`` (verified empirically), so the
oracles compare exactly.

Scale design:

- **Brute force** is O(|corpus| × |queries|): correct baseline, and fine
  whenever the query set is small enough to broadcast (the common
  "dedupe this batch against the corpus" shape runs per-partition with no
  shuffle on the corpus side).
- **IVF**: coarse-quantize the corpus by nearest centroid (one broadcast
  join + argmin), bucket it (partition by centroid id), probe only the
  query's nearest ``nprobe`` centroids. Corpus scan cost drops by
  ~``n_centroids / nprobe``; candidate volume is tunable. Centroids here
  are seed vectors chosen by id (deterministic, oracle-reproducible); a
  production fit would k-means them — the search plan is unchanged.
- Near-dup pair join at 100 TB: LSH/IVF-bucket first, verify exact cosine
  within buckets — same candidate/verify split as MinHash dedup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from component_iceberg_spark.session import kernel_width, local_relation


def as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Left-fold dot product over double-cast elements (order-pinned)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def dot_raw(a: Column, b: Column) -> Column:
    """Dot product assuming both sides are ALREADY array<double>.

    In O(n·q) scoring loops the per-element casts of :func:`dot` run once
    per PAIR; pre-casting each side once per ROW (``as_double``) and using
    this variant moves that work out of the quadratic loop. float→double
    is exact, so results are bit-identical to :func:`dot`."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def round_half_up(S, nd: int = 6):
    """Vectorized replay of Spark's ``F.round(double, nd)`` (= DuckDB
    ``round``): decimal HALF_UP over the double's shortest decimal repr
    — verified identical across both engines for midpoint values where
    ``np.round``'s binary half-to-even differs (2.5e-6 → 3e-6 there,
    2e-6 under numpy). Fast ``np.round`` everywhere except elements whose
    scaled value sits within 1e-6 of a .5 midpoint (the only place the
    two rules can disagree — binary scaling error is < 1e-9 there);
    those few go through exact ``Decimal(repr(x))`` quantization.
    Keeps BLAS kernels bit-identical to the expression path's
    ``F.round(cosine(...), 6)`` without a per-element Python loop."""
    import decimal

    import numpy as np

    S = np.asarray(S, dtype=np.float64)
    out = np.round(S, nd)
    scaled = np.abs(S) * (10.0**nd)
    frac = scaled - np.floor(scaled)
    risky = np.isfinite(S) & (np.abs(frac - 0.5) < 1e-6)
    if risky.any():
        q = decimal.Decimal(1).scaleb(-nd)
        flat = out.reshape(-1)
        for i in np.flatnonzero(risky.reshape(-1)):
            flat[i] = float(
                decimal.Decimal(repr(float(S.reshape(-1)[i]))).quantize(
                    q, rounding=decimal.ROUND_HALF_UP
                )
            )
    return out


def kernel_sized(df: DataFrame, per_task_bytes: int = 8 << 20) -> DataFrame:
    """Coalesce a small stored input to :func:`kernel_width` ahead
    of a PER-ROW Arrow kernel (coalesce merges scan partitions without a
    shuffle; a no-op when the width is None).

    ONLY for batch-independent per-row kernels (assign/encode/score/
    project). Never for partial-aggregation fits: merging partitions
    reorders their float partial sums, which must stay bit-stable."""
    w = kernel_width(df, per_task_bytes)
    return df.coalesce(w) if w else df


def collect_codebook(
    centroids: DataFrame, id_col: str, vec_col: str
) -> list[tuple[object, list[float]]]:
    """Driver-side materialization of the quantizer codebook —
    metadata-sized by construction (k × dim floats, the same thing a
    broadcast of the centroid set would ship to every executor)."""
    return [
        (r[0], [float(x) for x in r[1]])
        for r in centroids.select(id_col, vec_col).collect()
    ]


def nearest_assign(
    df: DataFrame,
    cent: DataFrame,
    vid: str,
    vec: str,
    out: str,
    keep: tuple[str, ...] = (),
    round_to: int | None = 6,
) -> DataFrame:
    """Nearest-centroid assignment: ``(vid, *keep, out=cent_id)`` of the
    centroid with the highest cosine (ties → smallest cent_id; cent_id
    must be numeric and the assignment deterministic for the oracles).

    Shape: the codebook (k × dim floats — metadata by construction, the
    same payload a broadcast would ship to every executor) is collected
    once, then every Arrow batch is scored as ONE BLAS matmul inside
    ``mapInPandas``: ``S = X·Cᵀ / (|x|⊗|c|)``, argmax per row. This is a
    pure map — NO shuffle at all (the previous form broadcast-crossJoined
    and hash-aggregated the ×k fan-out: correct map-side collapse, but
    n×k interpreted dot evaluations and one shuffled row per input; with
    k ∝ √n that made flat-quantizer assignment the super-linear stage at
    10× scale — measured, not guessed). Vectorized scoring is the
    documented Arrow-batch exception to "built-ins first": the built-in
    higher-order ``aggregate`` runs interpreted per element, ~100× off
    BLAS throughput on 64-dim batches.

    Tie-break: centroid columns are ordered by ascending cent_id and
    ``argmax`` returns the FIRST maximum — exactly "highest csim, then
    smallest cent_id". Cosines are rounded (``round_to``) before argmax
    so the oracle can replay the decision.

    If ``"_nrm"`` is requested in ``keep`` it is computed here (float64
    norm of the vector) via the same dimension-order left fold as the
    expression-level ``norm()`` — bit-identical, not merely ulp-close.

    ``cent`` columns: ``cent_id``, ``cent_vec``, ``cent_norm``."""
    import numpy as np
    import pandas as pd  # noqa: F401  (mapInPandas contract)

    from pyspark.sql import types as T

    codebook = sorted(
        (r["cent_id"], [float(x) for x in r["cent_vec"]])
        for r in cent.select("cent_id", "cent_vec").collect()
    )
    cent_ids = np.array([c for c, _ in codebook])
    C = np.array([v for _, v in codebook], dtype=np.float64)
    cn2 = np.zeros(len(C))
    for _d in range(C.shape[1]):
        cn2 += C[:, _d] * C[:, _d]
    c_norms = np.sqrt(cn2)

    in_schema = df.schema
    cent_id_type = cent.schema["cent_id"].dataType
    fields = [T.StructField(vid, in_schema[vid].dataType)]
    for c in keep:
        if c == "_nrm":
            fields.append(T.StructField("_nrm", T.DoubleType()))
        else:
            fields.append(T.StructField(c, in_schema[c].dataType))
    fields.append(T.StructField(out, cent_id_type))
    out_schema = T.StructType(fields)

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec].to_numpy()).astype(np.float64)
            # dimension-order left folds (see round_half_up): every
            # pre-round double matches the expression path bit-for-bit
            xn2 = np.zeros(len(X))
            D = np.zeros((len(X), len(C)))
            for d in range(X.shape[1]):
                xn2 += X[:, d] * X[:, d]
                D += np.outer(X[:, d], C[:, d])
            x_norms = np.sqrt(xn2)
            S = D / np.outer(x_norms, c_norms)
            if round_to is not None:
                S = round_half_up(S, round_to)
            best = cent_ids[np.argmax(S, axis=1)]
            cols = {vid: pdf[vid].to_numpy()}
            for c in keep:
                cols[c] = x_norms if c == "_nrm" else pdf[c].to_numpy()
            cols[out] = best
            yield pd.DataFrame(cols)

    # per-row kernel: batch boundaries don't affect results, so the
    # small-input coalesce is free to apply
    return kernel_sized(df).mapInPandas(score, schema=out_schema)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query (self excluded).

    ``queries`` is broadcast; the corpus streams through map-side — no
    corpus shuffle. The final ranking shuffles only |queries|×|corpus|
    scored rows, bounded further by per-partition pre-ranking at scale.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    scored = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            as_double(F.col(vec_col)).alias("c_vec"),
            norm(F.col(vec_col)).alias("c_norm"),
        )
        .crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot_raw(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def threshold_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine ≥ threshold (embedding near-dup detection).

    Brute self-join here (oracle-checkable ground truth); the scale path
    buckets by IVF centroid / random-hyperplane sign first and verifies
    within buckets only.

    Two plan details that matter (O(n²) pairs amplify everything):
    - Norms are materialized per ROW on each join side before the join —
      inside the pair expression they would be recomputed per PAIR
      (n²·dim extra work). Bit-identical either way, so the oracle is
      unaffected.
    - The streamed side is repartitioned: a single-file corpus would
      otherwise run the whole nested-loop join in one task.
    """
    par = corpus.sparkSession.sparkContext.defaultParallelism
    a = corpus.repartition(par, F.col(id_col)).select(
        F.col(id_col).alias("vec_a"), as_double(F.col(vec_col)).alias("va"),
        norm(F.col(vec_col)).alias("na"),
    )
    b = corpus.select(
        F.col(id_col).alias("vec_b"), as_double(F.col(vec_col)).alias("vb"),
        norm(F.col(vec_col)).alias("nb"),
    )
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(
                dot_raw(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def hyperplane_signature(vec: Column, planes: list[list[float]]) -> Column:
    """All sign bits (dot(vec, plane) >= 0) as ONE array<int> column.

    The planes form a single 2-D array literal and the vector is folded
    against each row inside one ``transform`` — one generated expression
    for the whole signature instead of ``len(planes)`` independent
    aggregates, each of which would re-walk (and re-cast) the vector in
    its own codegen block. With the same constants the bits are
    reproducible by any engine.

    The literal is built as ONE ``F.expr`` SQL parse, not nested
    ``F.array(F.lit(...))`` calls: 16×64 planes meant 1000+ py4j round
    trips, ~0.85 s of driver time PER PLAN BUILD (measured; the whole
    action ran in ~0.7 s). ``repr(float)`` is the shortest round-trip
    representation and Spark's parser converts it with correctly-rounded
    ``Double.parseDouble``, so the doubles are bit-identical to the
    former ``F.lit`` path (same contract the generated oracle SQL relies
    on in queries_similarity._hyperplane_oracle)."""
    planes_arr = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(f"{p!r}D" for p in plane) + ")"
            for plane in planes
        )
        + ")"
    )
    return F.transform(
        planes_arr,
        lambda pl: (
            F.aggregate(
                F.zip_with(vec, pl, lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            >= 0
        ).cast("int"),
    )


def hyperplane_lsh_pairs(
    corpus: DataFrame,
    planes: list[list[float]],
    bands: int,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane (SimHash-for-vectors) LSH near-threshold pairs:
    band the sign signature, candidates collide in ≥1 band, verify exact
    cosine ≥ threshold.

    The angular-LSH counterpart of the IVF path: candidate probability is
    (1-θ/π)^(planes/bands) per band — tunable by (planes, bands) instead
    of data-determined. Deterministic given fixed planes, so the oracle
    replays the identical algorithm.
    """
    rows_per_band = len(planes) // bands
    # One row per (doc, band): the signature computes once per doc inside
    # the scan projection, then each doc fans out to its `bands` bucket
    # keys (bucket = band << bits | band_key — band-distinct keyspaces).
    # The candidate-generation self-join and BOTH vector-fetch joins of
    # the previous shape are replaced by one shuffle keyed on bucket and
    # a per-bucket BLAS gram matrix (bucketed_threshold_pairs): the n_b²
    # candidate work runs vectorized and only survivors become rows. The
    # vector rides the shuffle `bands`× (vs once + two join fetches
    # before) — strictly less data movement, far less per-pair work.
    base = corpus.select(
        F.col(id_col).alias("doc"),
        as_double(F.col(vec_col)).alias("v"),
        hyperplane_signature(F.col(vec_col), planes).alias("sig"),
    )
    # bucket keys as one parsed expression (integer arithmetic — values
    # identical to the former Column-builder fold): the per-bit Column
    # loop was ~100 ms of py4j round-trips per plan build (§1.2 driver
    # cost, same lever as hyperplane_signature's one-parse literal)
    keys = ", ".join(
        " + ".join(
            f"sig[{b * rows_per_band + r}] * {1 << r}"
            for r in range(rows_per_band)
        )
        + f" + {b << rows_per_band}"
        for b in range(bands)
    )
    banded = base.selectExpr(
        "doc", "v", f"explode(array({keys})) AS bucket"
    )
    pairs = bucketed_threshold_pairs(
        banded, "bucket", "doc", "v", threshold, sim_col="cosine_sim"
    )
    # A pair colliding in several bands is scored in each — same rounded
    # cosine; max() collapses deterministically (groupBy, not DISTINCT,
    # so a final-ulp rounding split between buckets cannot yield two rows)
    return (
        pairs.groupBy(F.col("pa").alias("vec_a"), F.col("pb").alias("vec_b"))
        .agg(F.max("cosine_sim").alias("cosine_sim"))
    )


# ~16M float64 scores (~128 MB) per row block in bucketed_threshold_pairs;
# a bucket smaller than its block degenerates to the one-shot gram matrix
# (identical results). Module-level so tests can pin a tiny block and
# cross-check multi-block against one-shot.
PAIR_BLOCK_TARGET = 16_000_000


def bucketed_threshold_pairs(
    assigned: DataFrame,
    bucket_col: str,
    id_col: str,
    vec_col: str,
    threshold: float,
    round_to: int = 6,
    sim_col: str | None = None,
    few_buckets: bool = False,
) -> DataFrame:
    """All within-bucket pairs with cosine ≥ threshold, as ``(pa, pb)``
    with ``pa < pb`` — the verification stage of bucketed near-dup
    (SemDeDup's within-cluster pair scan).

    Shape: ONE shuffle keyed by bucket (each row travels once), then the
    bucket scores as BLAS gram-matrix blocks inside ``applyInPandas``,
    emitting only the surviving pairs. The self-join form this replaces
    shuffled each row once too, but then evaluated every candidate pair's
    dot interpreted element-by-element and materialized all n_b² join
    rows; here the n_b² work happens inside vectorized kernels and only
    survivors become rows.

    Peak memory is bounded to O(n_b·dim + B·n_b) by scoring in ROW BLOCKS
    (~128 MB of float64 scores per block), NOT a single dense n_b² gram
    matrix: for SemDeDup the bucket size is a design knob (centroid count
    scales with the corpus), but band buckets (hyperplane_lsh_pairs) are
    data-dependent — a degenerate band (correlated vectors, low-entropy
    signatures) can land a huge bucket in one task, where the dense form
    would OOM (ADVICE r4). The n_b² *work* is inherent to verification;
    the n_b² *allocation* is not.

    Determinism: rows are sorted by id inside the bucket, pairs are upper-
    triangle, cosines rounded to ``round_to`` before the threshold —
    oracle-replayable. With ``sim_col`` the rounded cosine is emitted too
    (identical for a pair regardless of which bucket scored it, so a
    multi-band caller can ``distinct()`` the output)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    id_type = assigned.schema[id_col].dataType
    fields = [T.StructField("pa", id_type), T.StructField("pb", id_type)]
    if sim_col:
        fields.append(T.StructField(sim_col, T.DoubleType()))
    out_schema = T.StructType(fields)

    def pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            empty = {"pa": [], "pb": []}
            if sim_col:
                empty[sim_col] = []
            return pd.DataFrame(empty)
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        dim = X.shape[1]
        # dimension-order left folds (see round_half_up): pre-round
        # doubles match the expression path / SQL oracle bit-for-bit
        nrm2 = np.zeros(n)
        for d in range(dim):
            nrm2 += X[:, d] * X[:, d]
        nrm = np.sqrt(nrm2)
        blk = max(64, PAIR_BLOCK_TARGET // n)
        pa_parts, pb_parts, sim_parts = [], [], []
        for i in range(0, n - 1, blk):
            Xi = X[i : i + blk]
            b = len(Xi)
            # score rows [i, i+b) against columns [i, n) only — columns
            # below i are strictly lower-triangle for every row here
            D = np.zeros((b, n - i))
            for d in range(dim):
                D += np.outer(Xi[:, d], X[i:, d])
            S = round_half_up(
                D / np.outer(nrm[i : i + b], nrm[i:]), round_to
            )
            upper = np.arange(S.shape[1])[None, :] > np.arange(b)[:, None]
            rr, cc = np.nonzero((S >= threshold) & upper)
            pa_parts.append(ids[i + rr])
            pb_parts.append(ids[i + cc])
            if sim_col:
                sim_parts.append(S[rr, cc])
        out = {
            "pa": np.concatenate(pa_parts),
            "pb": np.concatenate(pb_parts),
        }
        if sim_col:
            out[sim_col] = np.concatenate(sim_parts)
        return pd.DataFrame(out)

    # small FEW-BUCKET inputs (centroid buckets, k ∝ √n): pin the group
    # exchange at kernel width — AQE's parallelism-first coalescing
    # otherwise keeps the shuffle at cluster width and the mostly-EMPTY
    # partitions each spin a Python worker; an explicit keyed
    # repartition satisfies the groupBy's clustering, so no second
    # exchange. Callers with MANY buckets (band-exploded LSH relations)
    # leave this off: their partitions are all non-empty, so the pin
    # would only narrow the quadratic verify's CPU width (measured on
    # the hyperplane bands: 0.95 → 1.6 s at width 2). None at scale →
    # policy stands either way.
    if few_buckets:
        w = kernel_width(assigned, per_task_bytes=4 << 20, floor=8)
        if w:
            assigned = assigned.repartition(w, bucket_col)
    return assigned.groupBy(bucket_col).applyInPandas(pairs, schema=out_schema)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_probes: bool = True,
) -> DataFrame:
    """IVF approximate top-k: assign every corpus vector to its nearest
    centroid (broadcast argmin), probe each query's ``nprobe`` nearest
    centroid buckets, exact-rank within the probed slice.

    ``centroids`` is any deterministic (id, vector) seed set — here the
    first vector of each label cluster; a production fit k-means them (the
    search plan is unchanged). Deterministic by construction, so the
    DuckDB oracle can replay the identical algorithm and the match
    verifies bucketing + probing, not just the final ranking.
    """
    cent = centroids.select(
        F.col(id_col).alias("cent_id"),
        F.col(vec_col).alias("cent_vec"),
        norm(F.col(vec_col)).alias("cent_norm"),
    )

    corpus_named = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    # corpus side (the big one): map-side-collapsing argmax — the corpus
    # is scored and bucketed inside its scan stage, one row out per vector
    bucketed = nearest_assign(
        corpus_named, cent, "neighbor_id", "c_vec", "bucket", keep=("c_vec",)
    )

    # query side: needs top-nprobe (not argmax) and is small by contract —
    # a rank window over |queries|×k scored rows is the simple right shape
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    scored_q = q.withColumn("_nrm", norm(F.col("q_vec"))).crossJoin(
        F.broadcast(cent)
    ).select(
        "query_id",
        F.col("cent_id"),
        F.round(
            dot(F.col("q_vec"), F.col("cent_vec"))
            / (F.col("_nrm") * F.col("cent_norm")),
            6,
        ).alias("csim"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("cent_id")
    )
    probes = (
        scored_q.withColumn("crank", F.row_number().over(wq))
        .filter(F.col("crank") <= nprobe)
        .select("query_id", F.col("cent_id").alias("bucket"))
    )
    probed = q.join(probes, "query_id")

    # a small query SET broadcasts (the top-k search shape); when the
    # queries ARE the corpus (knn-graph construction) the probe side is
    # corpus-sized and must SHUFFLE on the bucket key instead
    probe_side = F.broadcast(probed) if broadcast_probes else probed
    scored = (
        bucketed.join(probe_side, "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("c_vec")), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def kmeans_fit(
    corpus: DataFrame,
    seed_centroids: DataFrame,
    dim: int,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means as pure DataFrame ops — the production centroid
    fit for :func:`ivf_topk` (whose docstring promises it as a drop-in).

    Per iteration: assign every vector to its nearest current centroid
    (:func:`nearest_assign` — the ×k fan-out collapses map-side, the
    corpus shuffles one row per vector), then recompute each centroid as
    the per-dimension mean of its members (``dim`` avg expressions in the
    SAME hash aggregate pipeline — k×dim-sized partials). The centroid
    set round-trips through the driver between iterations (k × dim
    floats — the codebook IS metadata, exactly what a broadcast would
    ship anyway), so each iteration is ONE Spark job, lineage never
    deepens, and empty clusters keep their previous centroid via a
    driver-side merge. Deterministic given seed centroids and a fixed
    iteration count.

    Returns (cent_id, centroid) with ``centroid`` as array<double>.
    """
    spark = corpus.sparkSession
    id_type = seed_centroids.schema[id_col].dataType.simpleString()
    codebook = dict(
        collect_codebook(
            seed_centroids.select(
                F.col(id_col).alias("cent_id"),
                as_double(F.col(vec_col)).alias("centroid"),
            ),
            "cent_id",
            "centroid",
        )
    )
    vecs = corpus.select(
        F.col(id_col).alias("_vid"), as_double(F.col(vec_col)).alias("_v")
    )
    cent_schema = f"cent_id {id_type}, centroid array<double>"
    for _ in range(iters):
        cent = local_relation(
            spark, sorted(codebook.items()), schema=cent_schema
        ).select(
            "cent_id",
            F.col("centroid").alias("cent_vec"),
            norm(F.col("centroid")).alias("cent_norm"),
        )
        assigned = nearest_assign(
            vecs, cent, "_vid", "_v", "cent_id", keep=("_v",), round_to=None
        )
        # one parsed expression for the dim avg lanes — the Column-builder
        # loop was ~350 ms of py4j round-trips PER ITERATION at dim=64
        # (measured; the parsed tree and plan are identical), paid inside
        # the driver-serial fit loop
        means = assigned.groupBy("cent_id").agg(
            F.expr(
                "array(" + ", ".join(f"avg(_v[{i}])" for i in range(dim)) + ") AS m"
            )
        )
        for r in means.collect():  # k rows — metadata-sized
            codebook[r["cent_id"]] = [float(x) for x in r["m"]]
    return local_relation(spark, sorted(codebook.items()), schema=cent_schema)


# ---------------------------------------------------------------------------
# int8 quantization (memory/bandwidth-compressed similarity)
# ---------------------------------------------------------------------------


def int_dot(a: Column, b: Column) -> Column:
    """Left-fold dot product over INTEGER arrays — exact int64 math, no
    float summation order to worry about."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``q_i = floor(x_i * 127 /
    max|x|)`` with the scale kept alongside — a 4× (vs float32) memory
    and shuffle-bandwidth cut for ANN at 100 TB, where the embedding
    column dominates I/O. ``floor`` rather than round: engines disagree
    on double→int rounding, floor is deterministic everywhere, and the
    half-ulp it gives up is noise next to the int8 step itself.

    Returns ``(id, qvec array<long>, qscale, qnorm)``; dot products over
    ``qvec`` are exact integer math (see :func:`int_dot`), so quantized
    cosine is bit-replayable in any engine — the oracle checks the
    quantizer, not a float tolerance."""
    v = as_double(F.col(vec_col))
    mx = F.array_max(F.transform(v, lambda x: F.abs(x)))
    qv = F.when(
        mx > 0,
        F.transform(v, lambda x: F.floor(x * 127.0 / mx).cast("long")),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("long")))
    return df.select(
        F.col(id_col),
        qv.alias("qvec"),
        (mx / 127.0).alias("qscale"),
    ).withColumn("qnorm", F.sqrt(int_dot("qvec", "qvec").cast("double")))


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k over int8-quantized vectors — same plan shape as
    :func:`brute_force_topk` (broadcast queries, corpus never shuffles)
    but the quadratic inner loop runs integer multiply-adds over arrays a
    quarter the size. The float path stays as the recall baseline
    (tests/test_approx.py)."""
    qc = quantize_int8(corpus, id_col, vec_col)
    qq = quantize_int8(queries, id_col, vec_col)
    q = qq.select(
        F.col(id_col).alias("query_id"),
        F.col("qvec").alias("q_vec"),
        F.col("qnorm").alias("q_norm"),
    )
    scored = (
        qc.select(
            F.col(id_col).alias("neighbor_id"),
            F.col("qvec").alias("c_vec"),
            F.col("qnorm").alias("c_norm"),
        )
        .crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                int_dot(F.col("q_vec"), F.col("c_vec")).cast("double")
                / (F.col("q_norm") * F.col("c_norm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — ADC shortlist + exact re-rank
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces
PQ_K = 32  # codes per subspace (sub-centroids)
PQ_RERANK = 50  # ADC shortlist size fed to the exact re-rank


def _pq_unit(rows):
    """L2-normalize a sequence/array of vectors (float64) with a
    dimension-order left-fold norm — bit-identical to the SQL oracle's
    fold (np.sum's 8-way unrolled reduce is NOT; it only agrees to final
    ulp). Every PQ stage shares this exact normalization, which is the
    real contract: encode/fit/search must see identical unit vectors."""
    import numpy as np

    X = np.stack([np.asarray(r, dtype=np.float64) for r in rows])
    nrm2 = np.zeros(len(X))
    for d in range(X.shape[1]):
        nrm2 += X[:, d] * X[:, d]
    return X / np.sqrt(nrm2)[:, None]


def _pq_seed_codebook(vecs: DataFrame, m: int, n_codes: int):
    """The deterministic seed codebook shared by every PQ entry point:
    normalized sub-slices of the ``n_codes`` lowest-id corpus vectors.
    Returns ``(codebook (m, n_codes, sub), n_codes)`` — n_codes shrinks
    on tiny fixtures where the corpus has fewer rows."""
    seed_rows = vecs.orderBy("_vid").limit(n_codes).collect()
    if len(seed_rows) < n_codes:
        n_codes = len(seed_rows)
    dim = len(seed_rows[0]["_v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    codebook = (
        _pq_unit([r["_v"] for r in seed_rows[:n_codes]])
        .reshape(n_codes, m, sub)
        .transpose(1, 0, 2)
        .copy()
    )
    return codebook, n_codes


def _pq_encode_batch(Xs, codebook):
    """Codes for one normalized batch reshaped to (n, m, sub): nearest
    sub-centroid per subspace, first-min ⇒ ties to the lower code id.
    Returns (m, n). One definition — pq_topk, pq_encode, and pq_fit must
    assign identically or the shared oracle desynchronizes."""
    d2 = Xs.transpose(1, 0, 2)[:, :, None, :] - codebook[:, None, :, :]
    return (d2 * d2).sum(axis=-1).argmin(axis=2)


def _pq_adc_batch(lut, q_ids, ids, codes, rerank):
    """ADC-score one batch's codes against every query's lookup table and
    keep the per-batch shortlist. Shared verbatim by the fused
    (pq_topk) and stored-codes (pq_topk_from_codes) paths — the lexsort
    honors the (dist, id) tie-break so a tied boundary candidate is
    never dropped. Yields a pandas DataFrame of adc rows."""
    import numpy as np
    import pandas as pd

    m = codes.shape[0]
    out_q, out_n, out_d = [], [], []
    for qi in range(len(q_ids)):
        dist = lut[qi][np.arange(m)[:, None], codes].sum(axis=0)
        sel = ids != q_ids[qi]
        d_k, i_k = dist[sel], ids[sel]
        if len(d_k) > rerank:
            order = np.lexsort((i_k, d_k))[:rerank]
            d_k, i_k = d_k[order], i_k[order]
        out_q.append(np.full(len(d_k), q_ids[qi]))
        out_n.append(i_k)
        out_d.append(d_k)
    return pd.DataFrame(
        {
            "query_id": np.concatenate(out_q),
            "neighbor_id": np.concatenate(out_n),
            "adc_dist": np.concatenate(out_d),
        }
    )


def _pq_query_lut(queries: DataFrame, codebook, id_col: str, vec_col: str):
    """Per-query (m × n_codes) exact sub-distance lookup tables from the
    broadcast-sized query set. Returns (q_ids ndarray, lut ndarray)."""
    import numpy as np

    m, _k, sub = codebook.shape
    q_rows = queries.select(
        F.col(id_col).alias("_qid"), as_double(F.col(vec_col)).alias("_qv")
    ).collect()  # bounded by contract (broadcast-sized query set)
    q_ids = np.array([r["_qid"] for r in q_rows])
    Qu = _pq_unit([r["_qv"] for r in q_rows])
    diff_q = Qu.reshape(len(q_rows), 1, m, sub).transpose(0, 2, 1, 3) - codebook
    return q_ids, (diff_q * diff_q).sum(axis=-1)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    m: int = PQ_M,
    n_codes: int = PQ_K,
    rerank: int = PQ_RERANK,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook_override=None,
) -> DataFrame:
    """Product-quantized ANN: ADC shortlist, then exact cosine re-rank —
    the memory-bound ANN pipeline (Jégou et al., "Product Quantization
    for Nearest Neighbor Search", TPAMI 2011).

    Vectors are L2-normalized, split into ``m`` contiguous subspaces, and
    each sub-vector quantized to its nearest of ``n_codes`` sub-centroids:
    a corpus vector becomes ``m`` small codes (8 codes ≈ 8 bytes vs 256
    bytes of float32 — a 32× scan-bandwidth cut, the entire point at
    100 TB where brute-force ANN is I/O-bound on the embedding column).
    On the unit sphere squared-L2 is ``2 − 2·cos``, so ADC distance
    ranks by (approximate) cosine. Query time: one (m × n_codes) table of
    exact sub-distances per query, then every corpus distance is m table
    gathers + adds; the best ``rerank`` candidates get an exact cosine.

    Plan shape: the codebook is metadata (``n_codes`` corpus vectors,
    collected once, closure-broadcast); the corpus is encoded and
    ADC-scored in one Arrow-batched ``mapInPandas`` pass — zero corpus
    shuffle, ≤ rerank×|Q| rows out per batch (a per-batch shortlist is a
    safe superset of the global one). One window trims to the exact
    global shortlist, a candidate-sized join fetches those vectors, and
    the exact re-rank emits top-k. A stored-codes variant materializes
    the (id, codes) table once — 32× smaller re-scans per query batch.

    Determinism (exact-oracle contract): sub-centroids are the
    normalized sub-slices of the ``n_codes`` lowest-id corpus vectors;
    every distance is squared-L2 summed in array order (numpy reduces
    axes < 128 elements sequentially — bit-identical to DuckDB's
    left-fold ``list_sum``); code assignment breaks ties on the smaller
    code id; ADC sums sub-distances in subspace order; both rank
    boundaries tie-break on ``neighbor_id``; the re-rank cosine is the
    family's standard left-fold expression."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    vecs = corpus.select(
        F.col(id_col).alias("_vid"), as_double(F.col(vec_col)).alias("_v")
    )
    if codebook_override is not None:
        # a fitted codebook (pq_fit) — shape (m, n_codes, sub)
        codebook = np.asarray(codebook_override, dtype=np.float64)
        m, n_codes, sub = codebook.shape
    else:
        codebook, n_codes = _pq_seed_codebook(vecs, m, n_codes)
        sub = codebook.shape[2]

    q_ids, lut = _pq_query_lut(queries, codebook, id_col, vec_col)

    id_field = vecs.schema["_vid"].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", id_field),
            T.StructField("neighbor_id", id_field),
            T.StructField("adc_dist", T.DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            ids = pdf["_vid"].to_numpy()
            Xs = _pq_unit(pdf["_v"].to_numpy()).reshape(n, m, sub)
            codes = _pq_encode_batch(Xs, codebook)
            yield _pq_adc_batch(lut, q_ids, ids, codes, rerank)

    # per-row kernel (see kernel_sized: batch-independent ADC scoring)
    adc = kernel_sized(vecs).mapInPandas(score, schema=out_schema)
    return _pq_rerank(adc, corpus, queries, k, rerank, id_col, vec_col)


def _pq_rerank(
    adc: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    rerank: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared PQ tail: trim the per-batch ADC rows to the exact global
    shortlist, then exact-cosine re-rank via a candidate-sized join back
    to the corpus (the family's standard left-fold cosine)."""
    w_short = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id")
    )
    shortlist = (
        adc.withColumn("_srank", F.row_number().over(w_short))
        .filter(F.col("_srank") <= rerank)
        .select("query_id", "neighbor_id")
    )
    cvec = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
    )
    qvec = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("q_vec"),
        norm(F.col(vec_col)).alias("q_norm"),
    )
    exact = (
        shortlist.join(cvec, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot_raw(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm")),
                6,
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def pq_fit(
    corpus: DataFrame,
    m: int = PQ_M,
    n_codes: int = PQ_K,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Per-subspace Lloyd's k-means for PQ codebooks — the production
    fit behind :func:`pq_topk`'s seed-vector default (same relationship
    as ``kmeans_fit`` to ``ivf_topk``'s seed centroids).

    One Spark job per iteration, ALL m subspaces fitted simultaneously:
    each Arrow batch L2-normalizes its vectors, encodes them against the
    broadcast current codebook (the same first-min argmin as search),
    and emits per-(subspace, code, dimension) partial sums + counts —
    ≤ m·K·sub rows per batch (2 k rows at the defaults), which one hash
    aggregate folds and the driver turns into new sub-centroids
    (codebook IS metadata: m·K·sub floats, the payload a broadcast
    ships anyway). Empty codes keep their previous sub-centroid.
    Deterministic given the seed codebook, iteration count, AND input
    partitioning: the per-key double partials are sorted before folding,
    so shuffle fetch-arrival order cannot perturb the means (a plain SUM
    would), but re-partitioning the corpus regroups the partials
    themselves — double sums cannot be partition-count-invariant.

    Returns the fitted codebook as an (m, n_codes, sub) ndarray for
    ``pq_topk(codebook_override=...)``.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    vecs = corpus.select(
        F.col(id_col).alias("_vid"), as_double(F.col(vec_col)).alias("_v")
    )
    seed_rows = vecs.orderBy("_vid").limit(n_codes).collect()
    if len(seed_rows) < n_codes:
        n_codes = len(seed_rows)
    dim = len(seed_rows[0]["_v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m

    codebook = (
        _pq_unit([r["_v"] for r in seed_rows])
        .reshape(n_codes, m, sub)
        .transpose(1, 0, 2)
        .copy()
    )

    partial_schema = T.StructType(
        [
            T.StructField("m", T.IntegerType()),
            T.StructField("code", T.IntegerType()),
            T.StructField("d", T.IntegerType()),
            T.StructField("s", T.DoubleType()),
            T.StructField("cnt", T.LongType()),
        ]
    )

    for _ in range(iters):
        cb = codebook  # rebind: the closure must see THIS iteration's book

        def partials(batches, cb=cb):
            for pdf in batches:
                n = len(pdf)
                if n == 0:
                    continue
                Xs = _pq_unit(pdf["_v"].to_numpy()).reshape(n, m, sub)
                codes = _pq_encode_batch(Xs, cb)  # (m, n)
                out_m, out_c, out_d, out_s, out_n = [], [], [], [], []
                for mi in range(m):
                    uniq, inv, cnts = np.unique(
                        codes[mi], return_inverse=True, return_counts=True
                    )
                    sums = np.zeros((len(uniq), sub))
                    np.add.at(sums, inv, Xs[:, mi, :])
                    for ui, code in enumerate(uniq):
                        out_m.extend([mi] * sub)
                        out_c.extend([int(code)] * sub)
                        out_d.extend(range(sub))
                        out_s.extend(sums[ui])
                        out_n.extend([int(cnts[ui])] * sub)
                yield pd.DataFrame(
                    {"m": out_m, "code": out_c, "d": out_d,
                     "s": out_s, "cnt": out_n}
                )

        folded = (
            vecs.mapInPandas(partials, schema=partial_schema)
            .groupBy("m", "code", "d")
            # sort the per-batch double partials before folding: a plain
            # SUM merges shuffle partials in fetch-arrival order, which
            # varies run to run — low-order-bit drift in the means could
            # flip near-tie code assignments and break the documented
            # determinism. Same multiset → same sorted order → same fold.
            # (n0 is an integer sum: order-independent as is.)
            .agg(
                F.aggregate(
                    F.sort_array(F.collect_list("s")),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("s"),
                F.sum(F.when(F.col("d") == 0, F.col("cnt"))).alias("n0"),
            )
            .collect()
        )  # ≤ m·K·sub rows — metadata-sized
        counts = {}
        sums = {}
        for r in folded:
            key = (r["m"], r["code"])
            sums.setdefault(key, np.zeros(sub))[r["d"]] = r["s"]
            if r["d"] == 0 and r["n0"] is not None:
                counts[key] = r["n0"]
        new = codebook.copy()
        for (mi, code), n_mem in counts.items():
            if n_mem > 0:
                new[mi, code] = sums[(mi, code)] / n_mem
        codebook = new
    return codebook


def pq_encode(
    corpus: DataFrame,
    m: int = PQ_M,
    n_codes: int = PQ_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook_override=None,
):
    """Encode the corpus into its PQ codes table — the WRITE half of the
    stored-codes layout: ``(id, codes array<int>)``, ~m small ints per
    row vs dim floats (32× smaller at the defaults). Materialized once
    at ingest (here: committed to a snapshot table), it is what query
    traffic scans instead of the embedding column. Same codebook
    construction, normalization, and first-min tie-break as
    :func:`pq_topk`, so a search over these codes returns identical
    results. Returns ``(codes_df, codebook)``."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    vecs = corpus.select(
        F.col(id_col).alias("_vid"), as_double(F.col(vec_col)).alias("_v")
    )
    if codebook_override is not None:
        codebook = np.asarray(codebook_override, dtype=np.float64)
        m, n_codes, sub = codebook.shape
    else:
        codebook, n_codes = _pq_seed_codebook(vecs, m, n_codes)
        sub = codebook.shape[2]

    out_schema = T.StructType(
        [
            T.StructField("vec_id", vecs.schema["_vid"].dataType),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def encode(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            Xs = _pq_unit(pdf["_v"].to_numpy()).reshape(n, m, sub)
            codes = _pq_encode_batch(Xs, codebook)  # (m, n)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["_vid"].to_numpy(),
                    "codes": list(codes.T.astype("int32")),
                }
            )

    # per-row kernel (see kernel_sized: batch-independent encode)
    return kernel_sized(vecs).mapInPandas(encode, schema=out_schema), codebook


def pq_topk_from_codes(
    codes_df: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    codebook,
    k: int,
    rerank: int = PQ_RERANK,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The READ half of the stored-codes PQ layout: ADC-score a
    PRE-ENCODED codes table (:func:`pq_encode` output — the only thing
    query traffic scans; the embedding column is touched solely by the
    candidate-sized re-rank join). Byte-for-byte the same lookup-table
    gathers, shortlist boundary, and exact re-rank as :func:`pq_topk`,
    so both carry the same exact oracle — what changes is the I/O:
    per-query scan bandwidth drops by ~dim·4/m (32× at the defaults)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    codebook = np.asarray(codebook, dtype=np.float64)
    q_ids, lut = _pq_query_lut(queries, codebook, id_col, vec_col)

    out_schema = T.StructType(
        [
            T.StructField("query_id", codes_df.schema["vec_id"].dataType),
            T.StructField("neighbor_id", codes_df.schema["vec_id"].dataType),
            T.StructField("adc_dist", T.DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy()
            codes = np.stack(pdf["codes"].to_numpy()).T  # (m, n)
            yield _pq_adc_batch(lut, q_ids, ids, codes, rerank)

    # per-row kernel (see kernel_sized: batch-independent ADC scoring)
    adc = kernel_sized(codes_df).mapInPandas(score, schema=out_schema)
    return _pq_rerank(adc, corpus, queries, k, rerank, id_col, vec_col)


def pca_fit(
    corpus: DataFrame,
    k: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Distributed PCA fit over an embedding column: ONE data pass
    computes per-Arrow-batch moment partials ``(n, sum_x, X^T X)`` via
    ``mapInPandas`` (each batch row is metadata-sized: d + d² doubles),
    the driver folds the handful of partial rows and eigendecomposes the
    d×d covariance — the exact split a 100 TB corpus needs: the data
    never moves, only O(d²) state per partition does, and the
    eigendecomposition is a constant-time driver step because d is the
    embedding dimension, not the row count.

    Returns ``(mean, components, explained_ratio)`` as numpy arrays of
    shapes (d,), (k, d), (k,). Component signs are canonicalized (the
    largest-|loading| coordinate is made positive) so the decomposition
    is unique wherever the spectrum is simple. Double-precision partial
    sums are folded in sorted order, so the fit is deterministic for a
    fixed input partitioning.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    vecs = corpus.select(as_double(F.col(vec_col)).alias("_v"))

    partial_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.ArrayType(T.DoubleType())),
            T.StructField("g", T.ArrayType(T.DoubleType())),
        ]
    )

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["_v"].to_numpy())
            yield pd.DataFrame(
                {
                    "n": [len(X)],
                    "s": [X.sum(axis=0).tolist()],
                    "g": [(X.T @ X).ravel().tolist()],
                }
            )

    rows = vecs.mapInPandas(partials, schema=partial_schema).collect()
    if not rows:
        raise ValueError("pca_fit: empty corpus")
    # fold in a content-sorted order: same multiset of partials → same
    # double-precision fold, independent of collect() arrival order
    rows = sorted(rows, key=lambda r: (r["n"], r["s"]))
    d = len(rows[0]["s"])
    n = sum(r["n"] for r in rows)
    if n < 2:
        raise ValueError("pca_fit: need at least 2 vectors")
    s = np.zeros(d)
    g = np.zeros((d, d))
    for r in rows:
        s += np.asarray(r["s"])
        g += np.asarray(r["g"]).reshape(d, d)
    mean = s / n
    cov = (g - np.outer(s, s) / n) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T.copy()  # (k, d)
    for i in range(len(comps)):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    total = float(np.trace(cov))
    ratio = np.maximum(evals[order], 0.0) / total if total > 0 else (
        np.zeros(len(order))
    )
    return mean, comps, ratio


def pca_project(
    corpus: DataFrame,
    mean,
    components,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project embeddings onto fitted principal components: the (k, d)
    component matrix broadcasts inside the closure and each Arrow batch
    is one BLAS matmul ``(X - mean) @ C.T`` — zero shuffle, linear scan,
    the same zero-movement shape as ``nearest_assign``. Output columns:
    ``id_col, pc1..pck`` (doubles)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    C = np.asarray(components, dtype=np.float64)
    mu = np.asarray(mean, dtype=np.float64)
    k = C.shape[0]
    out_schema = T.StructType(
        [T.StructField(id_col, T.LongType())]
        + [T.StructField(f"pc{i + 1}", T.DoubleType()) for i in range(k)]
    )

    vecs = corpus.select(
        F.col(id_col).cast("long").alias(id_col),
        as_double(F.col(vec_col)).alias("_v"),
    )

    def project(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["_v"].to_numpy())
            P = (X - mu) @ C.T
            out = {id_col: pdf[id_col].to_numpy()}
            for i in range(k):
                out[f"pc{i + 1}"] = P[:, i]
            yield pd.DataFrame(out)

    # per-row kernel (see kernel_sized: fixed basis, batch-independent)
    return kernel_sized(vecs).mapInPandas(project, schema=out_schema)


def ivf_knn_graph(
    corpus: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """IVF top-k with the corpus AS the query set — knn-graph
    construction, the input to mutual-kNN clustering. Same quantization,
    probing, ranking, and tie-breaks as :func:`ivf_topk`, but shaped for
    n queries instead of a handful:

    - corpus bucketing via :func:`nearest_assign` (zero-shuffle BLAS),
    - probe lists from the bounded centroid set (|corpus| × k_cent
      scored rows — centroids are metadata-sized by design),
    - the quadratic scoring runs as ONE ``applyInPandas`` per bucket
      over members ∪ probing queries: a gram matrix per (queries ×
      members) block instead of |probes|·n_b interpreted per-element
      folds — the same kernel-vs-expression trade
      :func:`bucketed_threshold_pairs` makes; scoring runs in
      dimension-order left folds with HALF_UP rounding
      (:func:`round_half_up`), so every emitted cosine is bit-identical
      to the expression path's ``F.round(cosine(...), 6)``, boundary
      values included,
    - per-bucket top-k (ordered by rounded cosine DESC, id ASC) merges
      into the global top-k with one |corpus|·nprobe·k-row window.

    Output: ``(query_id, neighbor_id, cosine_sim, rank)``, identical to
    ``ivf_topk(corpus, corpus, …)`` and to the SQL oracle that replays
    the expression arithmetic.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    cent = centroids.select(
        F.col(id_col).alias("cent_id"),
        F.col(vec_col).alias("cent_vec"),
        norm(F.col(vec_col)).alias("cent_norm"),
    )
    corpus_named = corpus.select(
        F.col(id_col).alias("nid"), F.col(vec_col).alias("c_vec")
    )
    bucketed = nearest_assign(
        corpus_named, cent, "nid", "c_vec", "bucket", keep=("c_vec",)
    )
    q = corpus.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    scored_q = q.withColumn("_nrm", norm(F.col("q_vec"))).crossJoin(
        F.broadcast(cent)
    ).select(
        "query_id",
        "cent_id",
        F.round(
            dot(F.col("q_vec"), F.col("cent_vec"))
            / (F.col("_nrm") * F.col("cent_norm")),
            6,
        ).alias("csim"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("cent_id")
    )
    probes = (
        scored_q.withColumn("crank", F.row_number().over(wq))
        .filter(F.col("crank") <= nprobe)
        .select("query_id", F.col("cent_id").alias("bucket"))
    )
    probers = q.join(probes, "query_id").select(
        "bucket",
        F.col("query_id").alias("rid"),
        as_double(F.col("q_vec")).alias("rvec"),
        F.lit(1).alias("role"),
    )
    members = bucketed.select(
        "bucket",
        F.col("nid").alias("rid"),
        as_double(F.col("c_vec")).alias("rvec"),
        F.lit(0).alias("role"),
    )
    both = members.unionByName(probers)

    id_type = corpus.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", id_type),
            T.StructField("neighbor_id", id_type),
            T.StructField("cosine_sim", T.DoubleType()),
        ]
    )

    def topk_in_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        mem = pdf[pdf["role"] == 0]
        qs = pdf[pdf["role"] == 1]
        if not len(mem) or not len(qs):
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "cosine_sim": []}
            )
        mids = mem["rid"].to_numpy()
        qids = qs["rid"].to_numpy()
        M = np.stack(mem["rvec"].to_numpy())
        Q = np.stack(qs["rvec"].to_numpy())
        # dimension-order left folds, NOT gemm/np.sum: acc evolves as
        # ((0 + x0·y0) + x1·y1) + … — the exact IEEE op sequence of the
        # expression path's F.aggregate dot/norm, so every pre-round
        # double here is bit-identical to ivf_topk's
        dim = M.shape[1]
        mn2 = np.zeros(len(mids))
        qn2 = np.zeros(len(qids))
        D = np.zeros((len(qids), len(mids)))
        for d in range(dim):
            mn2 += M[:, d] * M[:, d]
            qn2 += Q[:, d] * Q[:, d]
            D += np.outer(Q[:, d], M[:, d])
        S = round_half_up(
            D / np.outer(np.sqrt(qn2), np.sqrt(mn2)), round_to
        )
        S[qids[:, None] == mids[None, :]] = -np.inf  # mask self
        out_q, out_n, out_s = [], [], []
        kk = min(k, S.shape[1])
        for i in range(len(qids)):
            # top-k by (cosine DESC, neighbor_id ASC): lexsort is stable,
            # primary key last
            order = np.lexsort((mids, -S[i]))[:kk]
            keep = order[np.isfinite(S[i][order])]
            out_q.extend([qids[i]] * len(keep))
            out_n.extend(mids[keep])
            out_s.extend(S[i][keep])
        return pd.DataFrame(
            {"query_id": out_q, "neighbor_id": out_n, "cosine_sim": out_s}
        )

    # small inputs: pin the group exchange at kernel width (see
    # bucketed_threshold_pairs — same empty-Python-task rationale)
    w = kernel_width(both, per_task_bytes=4 << 20, floor=8)
    if w:
        both = both.repartition(w, "bucket")
    candidates = both.groupBy("bucket").applyInPandas(
        topk_in_bucket, schema=out_schema
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    return candidates.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
