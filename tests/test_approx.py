"""Sketch-aggregate accuracy: approx results have no cross-engine oracle,
but they must track the exact answers within tolerance."""

from __future__ import annotations

from component_iceberg_spark.plans import load_all

REGISTRY = load_all()


def test_approx_tracks_exact(spark, sf_dir, oracle_con):
    approx = {
        r["l_returnflag"]: r
        for r in (
            row.asDict() for row in REGISTRY["ext_agg_approx"].fn(spark, sf_dir).collect()
        )
    }
    exact = {
        r[0]: r
        for r in oracle_con.execute(
            """
            SELECT l_returnflag,
                   count(DISTINCT l_orderkey),
                   quantile_cont(l_extendedprice, 0.5),
                   quantile_cont(l_extendedprice, 0.95)
            FROM lineitem GROUP BY 1
            """
        ).fetchall()
    }
    assert set(approx) == set(exact)
    for flag, a in approx.items():
        _, nd, p50, p95 = exact[flag]
        assert abs(a["approx_orders"] - nd) / nd < 0.05, (flag, a, nd)  # rsd=0.02
        assert abs(a["p50_price"] - p50) / p50 < 0.05
        assert abs(a["p95_price"] - p95) / p95 < 0.05


def test_ivf_kmeans_recall(spark, sf_dir):
    """k-means-fitted IVF must (a) be deterministic across runs and
    (b) reach recall@10 ≥ 0.5 vs the brute-force ground truth at nprobe=4
    of 10 buckets — and not degrade below the seed-centroid quantizer by
    more than one neighbor per query."""
    from component_iceberg_spark.plans import load_all

    reg = load_all()
    brute = reg["sim_topk_bruteforce"].fn(spark, sf_dir).collect()
    truth = {}
    for r in brute:
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(rows):
        got = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        per_q = [
            len(got.get(q, set()) & t) / len(t) for q, t in truth.items()
        ]
        return sum(per_q) / len(per_q)

    km1 = reg["sim_ann_ivf_kmeans"].fn(spark, sf_dir).collect()
    km2 = reg["sim_ann_ivf_kmeans"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, km1)) == sorted(map(tuple, km2)), "nondeterministic"

    seed_rows = reg["sim_ann_ivf"].fn(spark, sf_dir).collect()
    r_km, r_seed = recall(km1), recall(seed_rows)
    assert r_km >= 0.5, f"k-means IVF recall too low: {r_km}"
    assert r_km >= r_seed - 0.1, f"k-means fit degraded recall: {r_km} vs {r_seed}"


def test_quantized_topk_recall(spark, sf_dir):
    """int8 quantization must preserve nearly all of the float top-10:
    the int8 step (~1/254 of the dynamic range) is far below the
    fixture's neighbor separation."""
    from component_iceberg_spark.plans import load_all

    reg = load_all()
    truth = {}
    for r in reg["sim_topk_bruteforce"].fn(spark, sf_dir).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got = {}
    for r in reg["sim_quantized_topk"].fn(spark, sf_dir).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    per_q = [len(got.get(q, set()) & t) / len(t) for q, t in truth.items()]
    recall = sum(per_q) / len(per_q)
    assert recall >= 0.9, f"int8 quantization lost too much recall: {recall}"


def test_pq_topk_recall(spark, sf_dir):
    """PQ ADC shortlist + exact re-rank must keep the bulk of the exact
    top-10 (measured 0.77 mean recall@10 at sf0.01 on the near-random
    fixture — PQ's floor case; structured real embeddings quantize far
    better) and must return exact cosines for everything it does return
    (the re-rank contract: every hit's similarity equals the brute-force
    value)."""
    from component_iceberg_spark.plans import load_all

    reg = load_all()
    truth, sims = {}, {}
    for r in reg["sim_topk_bruteforce"].fn(spark, sf_dir).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        sims[(r["query_id"], r["neighbor_id"])] = r["cosine_sim"]
    got = {}
    for r in reg["sim_ann_pq"].fn(spark, sf_dir).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        key = (r["query_id"], r["neighbor_id"])
        if key in sims:
            assert sims[key] == r["cosine_sim"], f"re-rank cosine drifted at {key}"
    per_q = [len(got.get(q, set()) & t) / len(t) for q, t in truth.items()]
    recall = sum(per_q) / len(per_q)
    assert recall >= 0.6, f"PQ recall too low: {recall}"


def test_hll_cardinality_bounds_and_mergeability(spark, sf_dir, oracle_con):
    """HLL estimates must track exact distinct counts within 5% (lg_k=12
    → 1.6% RSE), and the union of per-shard sketches must equal the
    single-pass sketch exactly — the mergeability identity the map-side
    partial design depends on."""
    import pyspark.sql.functions as F

    from component_iceberg_spark.io.tables import load_table

    approx = {
        r["event_type"]: r["approx_distinct"]
        for r in REGISTRY["ext_cardinality_hll"].fn(spark, sf_dir).collect()
    }
    exact = dict(
        oracle_con.execute(
            "SELECT event_type, count(DISTINCT user_id) FROM events GROUP BY 1"
        ).fetchall()
    )
    assert set(approx) == set(exact)
    for et, est in approx.items():
        assert abs(est - exact[et]) / exact[et] < 0.05, (et, est, exact[et])

    # sketch per (event_type, shard), then union the shard sketches
    ev = load_table(spark, sf_dir, "events")
    partials = ev.groupBy(
        "event_type", F.pmod(F.col("event_id"), F.lit(7))
    ).agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("partial"))
    merged = {
        r["event_type"]: r["approx_distinct"]
        for r in partials.groupBy("event_type").agg(
            F.hll_sketch_estimate(F.hll_union_agg("partial")).alias(
                "approx_distinct"
            )
        ).collect()
    }
    assert merged == approx, "sharded-union sketch diverged from single-pass"


def test_profile_approx_tracks_exact_twin(spark, sf_dir):
    """ext_profile_columns_approx: identical shape to the exact profile,
    identical values in every NON-sketch lane (n_rows, n_nulls, typed
    min/max are exact either way), and the HLL n_distinct lane within 5%
    of exact (lg_k=12 → ~1.6% RSE) for every profiled column."""
    exact = {
        r["col_name"]: r
        for r in REGISTRY["ext_profile_columns"].fn(spark, sf_dir).collect()
    }
    approx = {
        r["col_name"]: r
        for r in REGISTRY["ext_profile_columns_approx"]
        .fn(spark, sf_dir)
        .collect()
    }
    assert set(approx) == set(exact)
    first = next(iter(approx.values()))
    assert list(first.asDict()) == list(next(iter(exact.values())).asDict())
    for c, a in approx.items():
        e = exact[c]
        for lane in ("n_rows", "n_nulls", "min_num", "max_num",
                     "min_str", "max_str", "min_ts", "max_ts"):
            assert a[lane] == e[lane], (c, lane, a[lane], e[lane])
        assert e["n_distinct"] > 0
        rel = abs(a["n_distinct"] - e["n_distinct"]) / e["n_distinct"]
        assert rel < 0.05, (c, a["n_distinct"], e["n_distinct"])


def test_kll_quantiles_rank_error(spark, sf_dir, oracle_con):
    """KLL quantile estimates must land within 5% of the exact continuous
    quantiles (k=200 → ~1.65% rank error; the fixture's value density
    makes 5% value tolerance a safe proxy for the rank bound)."""
    rows = {
        r["o_orderstatus"]: r
        for r in REGISTRY["ext_quantile_kll"].fn(spark, sf_dir).collect()
    }
    exact = {
        r[0]: r[1:]
        for r in oracle_con.execute(
            """
            SELECT o_orderstatus,
                   quantile_cont(o_totalprice, 0.5),
                   quantile_cont(o_totalprice, 0.9),
                   quantile_cont(o_totalprice, 0.99)
            FROM orders GROUP BY 1
            """
        ).fetchall()
    }
    assert set(rows) == set(exact)
    for st, r in rows.items():
        for est, true in zip((r["p50"], r["p90"], r["p99"]), exact[st]):
            assert abs(est - true) / true < 0.05, (st, est, true)


def test_theta_overlap_bounds(spark, sf_dir, oracle_con):
    """Theta-sketch set algebra must track the exact subset/overlap
    cardinalities within 5% each."""
    row = REGISTRY["ext_overlap_theta"].fn(spark, sf_dir).collect()[0]
    n_a, n_b, n_i, n_u = oracle_con.execute(
        """
        WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
             b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        SELECT (SELECT count(*) FROM a),
               (SELECT count(*) FROM b),
               (SELECT count(*) FROM a WHERE user_id IN (SELECT user_id FROM b)),
               (SELECT count(DISTINCT user_id) FROM events
                 WHERE event_type IN ('view', 'purchase'))
        """
    ).fetchone()
    for est, true in zip(
        (row["n_a"], row["n_b"], row["n_intersect"], row["n_union"]),
        (n_a, n_b, n_i, n_u),
    ):
        assert true > 0 and abs(est - true) / true < 0.05, (row, (n_a, n_b, n_i, n_u))


def test_heavy_hitters_partition_independent(spark, sf_dir):
    """The MG candidate set varies with batch boundaries; the verified
    answer must not — identical output under different partitionings,
    and every reported count is the exact global count."""
    from pyspark.sql import functions as F

    from component_iceberg_spark.io.tables import load_table
    from component_iceberg_spark.operators import sketch as SK
    from component_iceberg_spark.operators import text as X

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(X.tokens(F.col("text"))).alias("token"))
    a = SK.heavy_hitters_exact(tok.repartition(13), "token", k=32).collect()
    b = SK.heavy_hitters_exact(tok.coalesce(1), "token", k=32).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    exact = {
        r["token"]: r["cnt"]
        for r in tok.groupBy("token").agg(F.count("*").alias("cnt")).collect()
    }
    assert a, "fixture should have heavy hitters"
    for r in a:
        assert exact[r["item"]] == r["n_occurrences"]


def test_heavy_hitters_candidate_volume_inverts_with_vocabulary(spark):
    """The r10 audit proved the word-soup fixture (vocab ≤ k+1) is the
    verify pass's WORST case — every token survives the semi-join — and
    predicted the inversion at realistic vocabulary: with vocab ≫ k the
    MG merge keeps ≈ k candidates, so the semi-join admits only
    heavy-token occurrences. Pin both regimes on crafted fixtures:

    - Zipf(s=1) stream over a ~20k-word vocabulary (rank = V^u is the
      exact inverse-CDF): candidates stay ≈ k (a 100× reduction vs the
      vocabulary) and survivors are a MINORITY of the stream;
    - uniform stream over k-1 tokens: every token is a candidate and
      survivors are 100% — the documented worst case.

    The verified ANSWER is exact in both regimes (partition-independence
    test above); this pins the COST claim the 100 TB argument rests on."""
    from pyspark.sql import functions as F

    from component_iceberg_spark.operators import sketch as SK

    K, V, N = 32, 20_000, 400_000
    u = ((F.col("id") * 2654435761) % 1_000_000) / 1_000_000.0
    zipf = spark.range(N).select(
        F.concat(
            F.lit("t"),
            F.floor(F.pow(F.lit(float(V)), u)).cast("long").cast("string"),
        ).alias("item")
    )
    n = zipf.count()
    cands = SK.mg_candidates(zipf.repartition(8), K)
    n_cands = cands.count()
    survivors = zipf.join(F.broadcast(cands), "item", "left_semi").count()
    assert n_cands <= 4 * K, n_cands  # ≈ k, never the vocabulary
    assert survivors < 0.6 * n, (survivors, n)  # minority of the stream

    soup = spark.range(N).select(
        F.concat(F.lit("w"), (F.col("id") % (K - 1)).cast("string")).alias(
            "item"
        )
    )
    cands2 = SK.mg_candidates(soup.repartition(8), K)
    survivors2 = soup.join(F.broadcast(cands2), "item", "left_semi").count()
    assert survivors2 == N  # vocab ≤ k ⇒ the semi-join filters nothing


def test_pq_kmeans_recall(spark, sf_dir):
    """Per-subspace-k-means PQ must be deterministic across runs and not
    degrade recall below the seed-vector codebook by more than one
    neighbor per query (measured: it IMPROVES it — 0.83 vs 0.77 at
    sf0.01)."""
    from component_iceberg_spark.plans import load_all

    reg = load_all()
    truth = {}
    for r in reg["sim_topk_bruteforce"].fn(spark, sf_dir).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(rows):
        got = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(
            len(got.get(q, set()) & t) / len(t) for q, t in truth.items()
        ) / len(truth)

    km1 = reg["sim_ann_pq_kmeans"].fn(spark, sf_dir).collect()
    km2 = reg["sim_ann_pq_kmeans"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, km1)) == sorted(map(tuple, km2)), "nondeterministic"

    # run-to-run determinism of the fit at a FIXED partitioning: the
    # per-(m,code,d) fold sorts its double partials before summing, so
    # shuffle fetch-arrival order (which varies run to run) cannot change
    # the codebook. (Changing the partitioning changes the partial
    # multiset itself — double sums cannot be partition-count-invariant,
    # and the documented guarantee deliberately doesn't claim it.)
    import numpy as np

    from component_iceberg_spark.io.tables import load_table
    from component_iceberg_spark.operators import similarity as S

    e = load_table(spark, sf_dir, "embeddings").repartition(7)
    cb_a = S.pq_fit(e, iters=2)
    cb_b = S.pq_fit(e, iters=2)
    assert np.array_equal(cb_a, cb_b), "pq_fit codebook is run-dependent"
    r_km = recall(km1)
    r_seed = recall(reg["sim_ann_pq"].fn(spark, sf_dir).collect())
    assert r_km >= 0.5, f"PQ k-means recall too low: {r_km}"
    assert r_km >= r_seed - 0.1, f"PQ fit degraded recall: {r_km} vs {r_seed}"


def test_pca_matches_single_node_numpy(spark, sf_dir):
    """Distributed moment-partial PCA == numpy PCA on the collected
    matrix (same sign canonicalization), to float tolerance: the fold
    order of double partials may differ from numpy's sum order, so exact
    bitwise equality isn't required — 1e-8 relative is."""
    import numpy as np

    from component_iceberg_spark.io.tables import load_table
    from component_iceberg_spark.operators import similarity as S

    e = load_table(spark, sf_dir, "embeddings")
    mean, comps, ratio = S.pca_fit(e, k=3)

    X = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64)
         for r in e.select("vec_id", "embedding").orderBy("vec_id").collect()]
    )
    mu = X.mean(axis=0)
    cov = np.cov(X, rowvar=False, ddof=1)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:3]
    ref = evecs[:, order].T.copy()
    for i in range(3):
        j = int(np.argmax(np.abs(ref[i])))
        if ref[i, j] < 0:
            ref[i] = -ref[i]

    assert np.allclose(mean, mu, atol=1e-8)
    assert np.allclose(comps, ref, atol=1e-6), (
        np.abs(comps - ref).max()
    )
    # spectrum properties: orthonormal rows, descending explained ratio
    assert np.allclose(comps @ comps.T, np.eye(3), atol=1e-8)
    assert ratio[0] >= ratio[1] >= ratio[2] >= 0
    assert ratio.sum() <= 1.0 + 1e-9

    # projection: distributed matmul == local matmul
    proj = {
        r["vec_id"]: (r["pc1"], r["pc2"], r["pc3"])
        for r in S.pca_project(e, mean, comps).collect()
    }
    ids = [r["vec_id"] for r in
           e.select("vec_id").orderBy("vec_id").collect()]
    local = (X - mu) @ ref.T
    got = np.array([proj[i] for i in ids])
    assert np.allclose(got, local, atol=1e-6)


def test_ivf_knn_graph_matches_expression_path(spark, sf_dir):
    """The BLAS per-bucket knn-graph kernel must reproduce the expression
    path (ivf_topk with corpus-as-queries) EXACTLY — same quantization,
    probing, rounding, and tie-breaks — so the SQL oracle that replays
    the expression arithmetic also certifies the kernel."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from component_iceberg_spark.io.tables import load_table
    from component_iceberg_spark.operators import similarity as S

    e = load_table(spark, sf_dir, "embeddings")
    w = Window.partitionBy("label").orderBy("vec_id")
    cents = (
        e.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .drop("rn", "label")
    )
    blas = {
        tuple(r)
        for r in S.ivf_knn_graph(e, cents, 4, 3).collect()
    }
    expr = {
        tuple(r)
        for r in S.ivf_topk(
            e, e, cents, 4, 3, broadcast_probes=False
        ).collect()
    }
    assert blas == expr and len(blas) > 0


def test_round_half_up_matches_engines():
    """round_half_up replays Spark/DuckDB round() at the exact decimal
    midpoints where np.round's binary half-to-even disagrees (engine
    values pinned by an empirical probe: Spark 4.1.2 and DuckDB agree on
    all of these)."""
    import numpy as np

    from component_iceberg_spark.operators.similarity import round_half_up

    vals = np.array([2.5e-6, -2.5e-6, 0.1234565, 0.12345650000000001,
                     0.74999995, 0.9999995, 0.6])
    want = [3e-6, -3e-6, 0.123457, 0.123457, 0.75, 1.0, 0.6]
    got = round_half_up(vals, 6)
    assert got.tolist() == want
    # np.round genuinely differs on the first three — the helper is not
    # a no-op wrapper
    assert float(np.round(0.1234565, 6)) == 0.123456


def test_ivf_knn_graph_exact_at_half_boundary(spark):
    """The BLAS kernel == expression path contract pinned on a cosine
    that lands EXACTLY on a 6dp midpoint (fold-cosine of the two crafted
    vectors is the double 0.1234565: np.round would emit 0.123456 where
    the expression path emits 0.123457 — the kernel must follow the
    expression path bit-for-bit)."""
    from component_iceberg_spark.operators import similarity as S

    # fold_cos([1,0], [b0,b1]) == 0.1234565 exactly: b0=2*0.1234565 is
    # exact, b1 chosen so fl(b0²+b1²)==4.0 → norm product exactly 2
    b0, b1 = 0.246913, 1.9846999698773111
    rows = [
        (1, [1.0, 0.0]),
        (2, [b0, b1]),
        (3, [0.5, 0.5]),
        (4, [-1.0, 0.25]),
    ]
    e = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    cents = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id int, embedding array<double>"
    )
    blas = {tuple(r) for r in S.ivf_knn_graph(e, cents, 1, 3).collect()}
    expr = {
        tuple(r)
        for r in S.ivf_topk(e, e, cents, 1, 3, broadcast_probes=False).collect()
    }
    assert blas == expr and len(blas) > 0
    boundary = {r for r in blas if r[2] == 0.123457}
    assert boundary, "midpoint cosine missing — fixture no longer exercises the fallback"
