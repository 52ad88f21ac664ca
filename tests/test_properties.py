"""Property-based tests (hypothesis): upsert/MERGE semantics and the
CSV dialect round-trip — the reference behaviors that are easy to get
subtly wrong (SURVEY §7 'What's hard')."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from component_iceberg_spark.io.snaptable import SnapCatalog

rows = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 100)), min_size=0, max_size=25
)


def _model_upsert(base: list, delta: list) -> dict[int, int]:
    """Reference semantics in plain Python: matched keys take the delta's
    value (last occurrence wins within the delta), unmatched insert."""
    state = {}
    for k, v in base:
        state[k] = v  # base itself is applied in order
    for k, v in delta:
        state[k] = v
    return state


@pytest.mark.parametrize("hyp", [None])
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(base=rows, delta=rows)
def test_upsert_matches_model(spark, tmp_path_factory, hyp, base, delta):
    # base may contain duplicate keys too — collapse it the same way the
    # engine's create path would receive it (last wins via ord column)
    cat = SnapCatalog(str(tmp_path_factory.mktemp("wh")))
    b = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(base)] or [(None, None, None)],
        schema="k int, v int, ord int",
    ).dropna()
    d = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(delta)] or [(None, None, None)],
        schema="k int, v int, ord int",
    ).dropna()
    cat.upsert("ns", "t", b, keys=["k"], order_by="ord")
    cat.upsert("ns", "t", d, keys=["k"], order_by="ord")
    got = {r.k: r.v for r in cat.read(spark, "ns", "t").collect()}
    want = _model_upsert(
        list({k: v for k, v in base}.items()), list({k: v for k, v in delta}.items())
    )
    assert got == want


def test_upsert_idempotent(spark, tmp_path):
    cat = SnapCatalog(str(tmp_path / "wh"))
    df = spark.createDataFrame([(1, "a"), (2, "b")], schema="k int, v string")
    cat.upsert("ns", "t", df, keys=["k"])
    cat.upsert("ns", "t", df, keys=["k"])
    assert cat.read(spark, "ns", "t").count() == 2


# CSV dialect round-trip: quotes, embedded delimiters/newlines, unicode,
# empty-vs-NULL — the exact surface SURVEY §7 flags as hard.
csv_text = st.one_of(
    st.none(),
    st.text(
        alphabet=st.sampled_from(list('abc",\n\r;|\t \'éü漢') + ["\\"]),
        max_size=12,
    ),
)


@pytest.mark.parametrize("hyp", [None])
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(values=st.lists(st.tuples(st.integers(0, 99), csv_text), min_size=1, max_size=12))
def test_csv_roundtrip_dialect(spark, tmp_path_factory, hyp, values):
    from pyspark.sql import types as T

    from component_iceberg_spark.io import csv_io

    out = str(tmp_path_factory.mktemp("csv") / "t")
    df = spark.createDataFrame(values, schema="id int, s string")
    csv_io.write_csv(df, out, quote_all=True)
    schema = T.StructType(
        [T.StructField("id", T.IntegerType()), T.StructField("s", T.StringType())]
    )
    back = csv_io.read_csv_typed(spark, out, schema)
    key = lambda t: (t[0], t[1] is None, t[1] or "")  # noqa: E731
    want = sorted(((i, s) for i, s in values), key=key)
    got = sorted(((r.id, r.s) for r in back.collect()), key=key)
    assert got == want


asof_rows = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=0, max_size=15
)


@pytest.mark.parametrize("hyp", [None])
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=asof_rows, right=asof_rows)
def test_asof_join_matches_model(spark, hyp, left, right):
    """Union-window as-of join vs a plain-Python model: for each left row,
    value of the greatest right ts <= left ts within the key."""
    from component_iceberg_spark.operators.asof import asof_join

    ldf = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left)] or [(None, None, None)],
        schema="k int, t int, lid int",
    ).dropna()
    rdf = spark.createDataFrame(
        [(k, t) for k, t in right] or [(None, None)],
        schema="k int, rv int",
    ).dropna()
    got = {
        r.lid: r.rv
        for r in asof_join(
            ldf, rdf, key="k", left_ts="t", right_ts="rv", value_col="rv"
        ).collect()
    }
    want = {}
    for i, (k, t) in enumerate(left):
        cands = [rv for rk, rv in right if rk == k and rv <= t]
        want[i] = max(cands) if cands else None
    assert got == want


def test_connected_components_chain_and_empty(spark):
    """Chain graph of diameter 6 (forces multiple propagation rounds)
    plus an isolated pair and an empty edge list."""
    from component_iceberg_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(10, 16)]          # 10-11-...-16
    pairs = spark.createDataFrame(
        chain + [(100, 99)], "doc_a long, doc_b long"
    )
    got = {
        (r.doc, r.cluster_id)
        for r in connected_components(pairs).collect()
    }
    expect = {(i, 10) for i in range(10, 17)} | {(99, 99), (100, 99)}
    assert got == expect

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(empty).count() == 0


def test_connected_components_paths_agree(spark, monkeypatch):
    """The driver union-find fast path (r15), the one-task union-find
    path and the distributed label-propagation path must produce
    identical clusters — same chain + isolated-pair graph through all
    three."""
    from component_iceberg_spark.operators import dedup

    chain = [(i, i + 1) for i in range(10, 16)]
    pairs = spark.createDataFrame(chain + [(100, 99)], "doc_a long, doc_b long")
    driver = {
        (r.doc, r.cluster_id)
        for r in dedup.connected_components(pairs).collect()
    }
    monkeypatch.setattr(dedup, "DRIVER_GRAPH_EDGES", -1)  # force one-task
    one_task = {
        (r.doc, r.cluster_id)
        for r in dedup.connected_components(pairs).collect()
    }
    monkeypatch.setattr(dedup, "SMALL_GRAPH_EDGES", -1)  # force iteration
    slow = {
        (r.doc, r.cluster_id)
        for r in dedup.connected_components(pairs).collect()
    }
    expect = {(i, 10) for i in range(10, 17)} | {(99, 99), (100, 99)}
    assert driver == one_task == slow == expect


# ---------------------------------------------------------------------------
# BLAS kernel ↔ expression-path cross-validation (r4): the Arrow-batch
# scorers must agree with independent expression-level computations of the
# same math on randomized inputs — catches axis mixups, tie-break drift,
# and rounding-mode divergence that fixture oracles might not exercise.
# ---------------------------------------------------------------------------

vec_lists = st.lists(
    st.lists(
        st.floats(-2, 2, allow_nan=False, allow_infinity=False, width=32),
        min_size=8, max_size=8,
    ),
    min_size=2, max_size=24,
)


@pytest.mark.parametrize("hyp", [None])
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=vec_lists)
def test_nearest_assign_matches_expression_argmax(spark, hyp, vecs):
    from pyspark.sql import functions as F

    from component_iceberg_spark.operators import similarity as S

    # skip degenerate zero vectors (cosine undefined)
    vecs = [v for v in vecs if sum(x * x for x in v) > 1e-9]
    if len(vecs) < 2:
        return
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vid long, v array<float>"
    )
    cent = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs[:3])],
        "cent_id long, cent_vec array<float>",
    ).select(
        "cent_id", "cent_vec", S.norm(F.col("cent_vec")).alias("cent_norm")
    )
    got = {
        r["vid"]: r["b"]
        for r in S.nearest_assign(df, cent, "vid", "v", "b").collect()
    }
    # independent expression-level argmax (the pre-r4 plan shape)
    scored = df.withColumn("_n", S.norm(F.col("v"))).crossJoin(
        F.broadcast(cent)
    ).select(
        "vid", "cent_id",
        F.round(
            S.dot(F.col("v"), F.col("cent_vec"))
            / (F.col("_n") * F.col("cent_norm")), 6,
        ).alias("csim"),
    )
    want = {
        r["vid"]: r["cent_id"]
        for r in scored.groupBy("vid").agg(
            F.max(F.struct("csim", (-F.col("cent_id")).alias("_g"),
                           "cent_id")).alias("m")
        ).select("vid", F.col("m.cent_id").alias("cent_id")).collect()
    }
    assert got == want


@pytest.mark.parametrize("hyp", [None])
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(vecs=vec_lists, threshold=st.sampled_from([0.2, 0.5, 0.9]))
def test_bucketed_pairs_match_expression_join(spark, hyp, vecs, threshold):
    from pyspark.sql import functions as F

    from component_iceberg_spark.operators import similarity as S

    vecs = [v for v in vecs if sum(x * x for x in v) > 1e-9]
    if len(vecs) < 2:
        return
    df = spark.createDataFrame(
        [(i, i % 2, v) for i, v in enumerate(vecs)],
        "vid long, bucket int, v array<double>",
    )
    got = {
        (r["pa"], r["pb"])
        for r in S.bucketed_threshold_pairs(
            df, "bucket", "vid", "v", threshold
        ).collect()
    }
    a = df.select(F.col("vid").alias("pa"), F.col("v").alias("va"),
                  S.norm(F.col("va")).alias("na"), "bucket")
    b = df.select(F.col("vid").alias("pb"), F.col("v").alias("vb"),
                  S.norm(F.col("vb")).alias("nb"), "bucket")
    want = {
        (r["pa"], r["pb"])
        for r in a.join(b, "bucket")
        .filter(F.col("pa") < F.col("pb"))
        .withColumn("c", F.round(
            S.dot_raw(F.col("va"), F.col("vb"))
            / (F.col("na") * F.col("nb")), 6))
        .filter(F.col("c") >= threshold)
        .select("pa", "pb")
        .collect()
    }
    assert got == want


def test_bucketed_pairs_row_blocks_match_one_shot(spark, monkeypatch):
    """Row-block scoring (the O(B·n_b) peak-memory path for degenerate
    LSH buckets, ADVICE r4) must emit exactly the one-shot gram matrix's
    pairs — same survivors, same rounded cosines."""
    import numpy as np

    from component_iceberg_spark.operators import similarity as S

    rng = np.random.RandomState(7)
    n, dim = 300, 16
    X = rng.randn(n, dim)
    rows = [(i, 0, [float(x) for x in X[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vid long, bucket int, v array<double>")

    def run():
        return {
            (r["pa"], r["pb"], r["c"])
            for r in S.bucketed_threshold_pairs(
                df, "bucket", "vid", "v", 0.3, sim_col="c"
            ).collect()
        }

    one_shot = run()  # n=300 < blk → single block == dense gram
    monkeypatch.setattr(S, "PAIR_BLOCK_TARGET", 1)  # blk floors at 64 → 5 blocks
    blocked = run()
    assert blocked == one_shot
    assert len(one_shot) > 0  # threshold chosen so the check is non-vacuous


@pytest.mark.parametrize("hyp", [None])
@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from(list("ab9!.é \t\n")), max_size=60
        ),
        min_size=1,
        max_size=8,
    ),
    n=st.sampled_from([1, 2, 3]),
)
def test_text_shingles_matches_python_model(spark, hyp, texts, n):
    """The one-pass regex-lookahead shingle builder must agree with an
    independent Python model (ASCII-whitespace split, n-token windows,
    first-occurrence dedup) for any whitespace shape — tabs/newlines/
    runs/edges, short docs, punctuation-only tokens."""
    import re as _re

    from pyspark.sql import functions as F

    from component_iceberg_spark.operators.text import text_shingles

    ws = " \t\n\x0b\f\r"

    def model(t: str) -> list[str]:
        toks = [x for x in _re.split(r"[ \t\n\x0b\f\r]+", t.strip(ws)) if x]
        grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        return list(dict.fromkeys(grams))

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, t string"
    )
    rows = df.select("i", text_shingles(F.col("t"), n).alias("got")).collect()
    for r in rows:
        assert r["got"] == model(texts[r["i"]]), (texts[r["i"]], n, r["got"])


def test_percentile_scalable_matches_builtin(spark):
    """Histogram rank selection must reproduce Spark's exact percentile()
    on adversarial group shapes: single-row group, constant-value group
    (zero-width histogram), two-row interpolation, and a larger mixed
    group — to the 1e-9 level (same order statistics, same linear
    interpolation)."""
    import random

    from pyspark.sql import functions as F

    from component_iceberg_spark.operators import rank_select as RS

    rnd = random.Random(7)
    rows = [("one", 42.0)]
    rows += [("const", 5.5) for _ in range(40)]
    rows += [("two", 1.0), ("two", 2.0)]
    rows += [("big", rnd.uniform(-1000, 1000)) for _ in range(999)]
    df = spark.createDataFrame(rows, schema="g string, v double")
    probs = [0.0, 0.25, 0.5, 0.9, 1.0]
    got = {
        r["g"]: r
        for r in RS.percentile_exact_scalable(df, "g", "v", probs).collect()
    }
    want = {
        r["g"]: r
        for r in df.groupBy("g")
        .agg(
            *[
                F.percentile("v", p).alias(f"p{int(round(p * 100))}")
                for p in probs
            ]
        )
        .collect()
    }
    assert set(got) == set(want)
    for g in want:
        for p in probs:
            c = f"p{int(round(p * 100))}"
            assert abs(got[g][c] - want[g][c]) < 1e-9, (g, c, got[g][c], want[g][c])


def test_percentile_scalable_ignores_nulls(spark):
    """NULL values must be excluded exactly as Spark's percentile() does
    — a group that is half NULLs ranks only over its non-null values."""
    from pyspark.sql import functions as F

    from component_iceberg_spark.operators import rank_select as RS

    rows = [("a", float(i)) for i in range(1, 11)] + [("a", None)] * 10
    df = spark.createDataFrame(rows, schema="g string, v double")
    got = RS.percentile_exact_scalable(df, "g", "v", [0.5]).collect()[0]
    want = df.groupBy("g").agg(F.percentile("v", 0.5).alias("p50")).collect()[0]
    assert abs(got["p50"] - want["p50"]) < 1e-12


def test_budget_prefix_matches_greedy_window(spark):
    """budget_prefix_by_score must reproduce the greedy window-cumsum
    prefix EXACTLY on adversarial group shapes: an all-equal-score group
    (tie-class / zero-width histogram branch), a group whose very first
    row blows the budget (no survivors), a group that fits entirely, a
    boundary exact-fit, and a large random group where the crossing
    bucket does real work."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from component_iceberg_spark.operators import rank_select as RS

    rnd = random.Random(11)
    rows = [("ties", i, 3.5, 7) for i in range(100)]
    rows += [("giant_first", 0, 9.0, 10_001), ("giant_first", 1, 1.0, 5)]
    rows += [("fits", i, float(i), 10) for i in range(5)]
    rows += [("exact", 0, 2.0, 6_000), ("exact", 1, 1.0, 4_000),
             ("exact", 2, 0.5, 1)]
    rows += [
        ("big", i, rnd.uniform(0, 100), rnd.randint(1, 400))
        for i in range(2_000)
    ]
    # NULL scores: sort LAST in the greedy desc order (Spark desc is
    # nulls-last) — the bucketed form must place them in the worst
    # bucket, not the best (NULL bucket keys sort FIRST in a plain asc
    # window, which was the bug class this pins)
    rows += [("nulls", 0, None, 9_000), ("nulls", 1, 7.0, 900),
             ("nulls", 2, None, 200), ("nulls", 3, 1.0, 100)]
    # all-equal scores PLUS NULLs: the width==0 branch must still route
    # NULL scores behind the tied real scores, not share bucket 0 order
    rows += [("tie_nulls", 0, None, 8_000), ("tie_nulls", 1, 2.0, 6_000),
             ("tie_nulls", 2, 2.0, 3_000), ("tie_nulls", 3, None, 500)]
    df = spark.createDataFrame(
        rows, schema="src string, doc long, score double, wt long"
    )
    budget = 10_000
    got = {
        (r["src"], r["doc"])
        for r in RS.budget_prefix_by_score(
            df, "src", "score", "wt", "doc", budget,
            cache_key=("test_budget_prefix",),
        ).collect()
    }
    w = (
        Window.partitionBy("src")
        .orderBy(F.col("score").desc(), "doc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r["src"], r["doc"])
        for r in df.withColumn("cum", F.sum("wt").over(w))
        .filter(F.col("cum") <= budget)
        .collect()
    }
    assert got == want
    assert not any(s == "giant_first" for s, _ in got)
    assert sum(1 for s, _ in got if s == "fits") == 5


def test_budget_prefix_rejects_negative_weight(spark):
    """A negative weight breaks cumsum monotonicity — the whole-bucket
    admission would silently return a non-prefix. The projection must
    raise, not mis-select (ADVICE r8)."""
    import pytest
    from pyspark.errors import PySparkRuntimeError

    from component_iceberg_spark.operators import rank_select as RS

    df = spark.createDataFrame(
        [("s", 0, 5.0, 10), ("s", 1, 4.0, -3), ("s", 2, 3.0, 10)],
        schema="src string, doc long, score double, wt long",
    )
    with pytest.raises((PySparkRuntimeError, Exception), match="negative"):
        RS.budget_prefix_by_score(
            df, "src", "score", "wt", "doc", 100,
            cache_key=("test_budget_prefix_neg",),
        ).collect()


def test_heavy_hitters_excludes_nulls(spark):
    """NULL items are excluded up front — pandas value_counts drops NaN
    inside the MG summaries, so NULLs could never satisfy the
    completeness guarantee; the contract is explicit instead."""
    from pyspark.sql import functions as F

    from component_iceberg_spark.operators import sketch as SK

    rows = [("x",)] * 40 + [(None,)] * 60 + [("y",)] * 5
    df = spark.createDataFrame(rows, schema="item string")
    out = SK.heavy_hitters_exact(df, "item", k=4).collect()
    got = {r["item"]: r["n_occurrences"] for r in out}
    # n = 45 non-null items, T = 45 // 5 + 1 = 10 → only 'x' qualifies
    assert got == {"x": 40}


@given(
    fracs=st.lists(
        st.floats(min_value=0.05, max_value=0.9), min_size=2, max_size=4
    ),
    n=st.integers(min_value=1, max_value=60),
)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_split_assign_exhaustive_and_stable(spark, fracs, n):
    """split_assign invariants for arbitrary split vectors: every row gets
    exactly one label drawn from the declared splits (disjoint AND
    exhaustive — the last split absorbs normalization slack), and the
    assignment is a pure function of the id: repartitioning cannot move
    a row between splits."""
    total = sum(fracs)
    splits = [(f"s{i}", f / total) for i, f in enumerate(fracs)]
    from component_iceberg_spark.operators import sampling as SA

    df = spark.range(n).withColumnRenamed("id", "doc_id")
    out = SA.split_assign(df, "doc_id", splits).collect()
    labels = {r["doc_id"]: r["split"] for r in out}
    assert len(labels) == n  # one row out per row in
    assert set(labels.values()) <= {name for name, _ in splits}
    out2 = SA.split_assign(df.repartition(5), "doc_id", splits).collect()
    assert {r["doc_id"]: r["split"] for r in out2} == labels


def test_sample_weighted_topk_matches_model_and_guards(spark):
    """sample_weighted_topk replays exactly in a Python model of the same
    48-bit md5 race (so the DuckDB oracle's Horner-chain SQL is the same
    computation), excludes NULL and non-positive weights instead of
    letting their NULL/negative race keys sort first and always win, and
    is invariant to partitioning."""
    import hashlib
    import math

    from pyspark.sql import functions as F

    from component_iceberg_spark.operators import sampling as SA

    # weights: id%5==0 → NULL, id%5==1 → 0 (both must be excluded),
    # else 0.5/2.0/4.0 by residue
    rows = [(i,) for i in range(400)]
    df = spark.createDataFrame(rows, schema="doc_id int")
    w = (
        F.when(F.col("doc_id") % 5 == 0, F.lit(None).cast("double"))
        .when(F.col("doc_id") % 5 == 1, 0.0)
        .when(F.col("doc_id") % 5 == 2, 0.5)
        .when(F.col("doc_id") % 5 == 3, 2.0)
        .otherwise(4.0)
    )
    got = [r.doc_id for r in SA.sample_weighted_topk(df, "doc_id", w, 25).collect()]

    def key(i: int) -> tuple:
        wt = {2: 0.5, 3: 2.0, 4: 4.0}[i % 5]
        v = int(hashlib.md5(f"{i}w0".encode()).hexdigest()[:12], 16)
        u = (v + 0.5) / float(1 << 48)
        return (round(-math.log(u) / wt, 12), i)

    eligible = [i for i in range(400) if i % 5 in (2, 3, 4)]
    want = sorted(eligible, key=key)[:25]
    assert sorted(got) == sorted(want)
    assert not {i for i in got if i % 5 in (0, 1)}  # guards held

    got2 = [
        r.doc_id
        for r in SA.sample_weighted_topk(df.repartition(7), "doc_id", w, 25).collect()
    ]
    assert sorted(got2) == sorted(want)


def test_jaccard_verify_filters_on_unrounded_ratio(spark):
    """Every Jaccard entry point keeps a pair iff its UNROUNDED ratio
    clears the threshold — the SQL oracles' ``i * 1.0 / (…) >= t``. Two
    docs sharing 4 of 6 distinct shingles (J = 2/3) at t = 0.6666667:
    the ratio rounded to 6 places (0.666667) clears t, the true ratio
    does not, so the pair must be absent everywhere; just below 2/3 it
    must be present with ``jaccard`` = 0.666667."""
    import duckdb
    from pyspark.sql import functions as F

    from component_iceberg_spark.operators import dedup as D

    words = [f"w0x{i}" for i in range(7)]
    df = spark.createDataFrame(
        [(0, " ".join(words)), (1, " ".join(words[:6] + ["z0"]))],
        "doc_id long, text string",
    )
    sh = D.doc_shingles(df, "doc_id", "text")
    shingles = [tuple(r) for r in sh.collect()]
    assert len(shingles) == 10  # 5 + 5 shingles, 4 shared: |A∪B| = 6
    # the LSH entry points only verify what banding proposes: this pair
    # must collide, or the checks below would pass vacuously
    sig = D.minhash_signatures(sh)
    assert [tuple(r) for r in D.lsh_candidates(sig).collect()] == [(0, 1)]

    con = duckdb.connect()
    con.execute("CREATE TABLE sh (doc BIGINT, shingle VARCHAR)")
    con.executemany("INSERT INTO sh VALUES (?, ?)", shingles)
    oracle = """
        WITH cnt AS (SELECT doc, count(*) AS n FROM sh GROUP BY doc),
        inter AS (
            SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS i
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, round(i * 1.0 / (ca.n + cb.n - i), 6)
        FROM inter JOIN cnt ca ON ca.doc = doc_a JOIN cnt cb ON cb.doc = doc_b
        WHERE i * 1.0 / (ca.n + cb.n - i) >= ?"""

    corpus = df.filter(F.col("doc_id") == 0)
    batch = df.filter(F.col("doc_id") == 1)
    cnt = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    cand = spark.createDataFrame([(1, 0)], "`drop` long, other long")

    def pairs(t):
        return {
            "oracle": [tuple(r) for r in con.execute(oracle, [t]).fetchall()],
            "jaccard_pairs": [
                tuple(r) for r in D.jaccard_pairs(sh, t).collect()
            ],
            "verify": [
                tuple(r)
                for r in D._verify(
                    cand, "drop", "other", sh, sh, cnt, cnt, t
                ).collect()
            ],
            "minhash_lsh_dedup": [
                tuple(r)
                for r in D.minhash_lsh_dedup(df, "doc_id", "text", t).collect()
            ],
            "incremental_minhash_pairs": [
                tuple(r)
                for r in D.incremental_minhash_pairs(
                    corpus, batch, "doc_id", "text", t
                ).collect()
            ],
            "screened_drop_ids": [
                tuple(r)
                for r in D.screened_drop_ids(
                    df, D.corpus_minhash_profile(df, "doc_id", "text"),
                    "doc_id", "text", t,
                ).collect()
            ],
            "screened_drop_ids_prior": [
                tuple(r)
                for r in D.screened_drop_ids(
                    batch, D.corpus_minhash_profile(batch, "doc_id", "text"),
                    "doc_id", "text", t, prior=corpus,
                    prior_profile=D.corpus_minhash_profile(
                        corpus, "doc_id", "text"
                    ),
                ).collect()
            ],
        }

    above = pairs(0.6666667)
    assert all(v == [] for v in above.values()), above
    pair = [(0, 1, 0.666667)]
    assert pairs(0.6666666) == {
        "oracle": pair,
        "jaccard_pairs": pair,
        "verify": [(1, 0, 0.666667)],
        "minhash_lsh_dedup": pair,
        "incremental_minhash_pairs": [(1, 0, 0.666667)],
        "screened_drop_ids": [(1,)],
        "screened_drop_ids_prior": [(1,)],
    }


# --- prefix-filtered set-similarity join (operators/setjoin) -----------

_tok_sets = st.lists(
    st.lists(
        st.sampled_from(
            # skewed vocabulary: 'a'/'b' are stopword-frequent on purpose
            ["a", "a", "a", "b", "b", "c", "d", "e", "f", "g", "h", "i"]
        ),
        min_size=1,
        max_size=8,
    ),
    min_size=2,
    max_size=20,
)


def _brute_jaccard_pairs(recs: list[tuple[int, list[str]]], t: float):
    out = set()
    for i in range(len(recs)):
        for j in range(i + 1, len(recs)):
            a, b = set(recs[i][1]), set(recs[j][1])
            jac = len(a & b) / len(a | b)
            if jac >= t:
                out.add((recs[i][0], recs[j][0]))
    return out


@pytest.mark.parametrize("hyp", [None])
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(toksets=_tok_sets, threshold=st.sampled_from([0.4, 0.5, 0.6, 0.75]))
def test_jaccard_join_lossless_vs_brute_force(spark, hyp, toksets, threshold):
    """Prefix filtering must be LOSSLESS: the candidate pruning (index
    only the n - ceil(t*n) + 1 rarest tokens per record) may never drop
    a qualifying pair, for any token-frequency skew, set size mix, or
    threshold — including float-awkward thresholds where ceil(t*n) sits
    on a representation boundary."""
    from component_iceberg_spark.operators.setjoin import (
        jaccard_similarity_join,
    )

    recs = [(i, ts) for i, ts in enumerate(toksets)]
    df = spark.createDataFrame(recs, "id long, toks array<string>")
    got = {
        (r["a_id"], r["b_id"])
        for r in jaccard_similarity_join(df, "id", "toks", threshold).collect()
    }
    assert got == _brute_jaccard_pairs(recs, threshold)


def test_flatten_hierarchy_chain_forest_isolated(spark):
    """Pointer-doubling must resolve a deep chain (depth > 2^1 so the
    doubling actually engages), a separate shallow tree, and an isolated
    node supplied via the explicit node universe."""
    from component_iceberg_spark.operators.relational import flatten_hierarchy

    # chain 1<-2<-3<-4<-5<-6, tree 10<-11, 10<-12, isolated 99,
    # and 20 whose parent 7 is OUTSIDE the node universe — the walk must
    # stop at the first outside ancestor, not silently drop the node
    edges = spark.createDataFrame(
        [(2, 1), (3, 2), (4, 3), (5, 4), (6, 5), (11, 10), (12, 10),
         (20, 7)],
        "child long, parent long",
    )
    nodes = spark.createDataFrame(
        [(n,) for n in [1, 2, 3, 4, 5, 6, 10, 11, 12, 99, 20]], "node long"
    )
    got = {
        r["node"]: (r["root"], r["depth"])
        for r in flatten_hierarchy(edges, "child", "parent", nodes=nodes).collect()
    }
    assert got == {
        1: (1, 0), 2: (1, 1), 3: (1, 2), 4: (1, 3), 5: (1, 4), 6: (1, 5),
        10: (10, 0), 11: (10, 1), 12: (10, 1), 99: (99, 0), 20: (7, 1),
    }


def test_screened_drop_ids_matches_two_pipeline_form(spark):
    """The fused single-pipeline screen must reproduce exactly the drop
    set of the original two-pipeline form (intra-batch LSH dedup ∪
    batch-vs-prior incremental pairs)."""
    from pyspark.sql import functions as F

    from component_iceberg_spark.operators import dedup as D

    base = "the quick brown fox jumps over the lazy dog near the river bank "
    rows = []
    for i in range(40):
        # clusters of 4 near-identical docs + distinct tails
        text = base * 3 + f"tail {i % 10} unique words {'x' * (i % 4)}"
        rows.append((i, text))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    prior = df.filter(F.col("doc_id") < 20)
    batch = df.filter(F.col("doc_id") >= 20)
    prior_profile = D.corpus_minhash_profile(prior, "doc_id", "text")
    batch_profile = D.corpus_minhash_profile(batch, "doc_id", "text")
    fused = {
        r["doc_id"]
        for r in D.screened_drop_ids(
            batch, batch_profile, "doc_id", "text", 0.8,
            prior=prior, prior_profile=prior_profile,
        ).collect()
    }
    intra = {
        r["doc_b"]
        for r in D.minhash_lsh_dedup(batch, "doc_id", "text", 0.8).collect()
    }
    cross = {
        r["doc_new"]
        for r in D.incremental_minhash_pairs(
            prior, batch, "doc_id", "text", 0.8
        ).collect()
    }
    assert fused == (intra | cross)


def test_minhash_screen_hostile_id_column_and_scalar_thresholds(spark):
    """incremental_minhash_pairs and screened_drop_ids render the
    caller's id column and threshold into SQL text: a reserved-word id
    column (``select``) must parse as a column name, and numpy.float64
    / Decimal thresholds must give exactly the plain-float result."""
    import decimal

    import numpy as np
    from pyspark.sql import functions as F

    from component_iceberg_spark.operators import dedup as D

    base = "the quick brown fox jumps over the lazy dog near the river bank "
    rows = [
        (i, base * 3 + f"tail {i % 10} unique words {'x' * (i % 4)}")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def run(frame, id_col, threshold):
        prior = frame.filter(F.col(id_col) < 20)
        batch = frame.filter(F.col(id_col) >= 20)
        prior_profile = D.corpus_minhash_profile(prior, id_col, "text")
        batch_profile = D.corpus_minhash_profile(batch, id_col, "text")
        drops = D.screened_drop_ids(
            batch, batch_profile, id_col, "text", threshold,
            prior=prior, prior_profile=prior_profile,
        )
        pairs = D.incremental_minhash_pairs(
            prior, batch, id_col, "text", threshold
        )
        assert drops.columns == [id_col]
        return (
            {r[0] for r in drops.collect()},
            {tuple(r) for r in pairs.collect()},
        )

    want = run(df, "doc_id", 0.8)
    assert want[0] and want[1], "fixture must produce drops and pairs"
    assert run(df.withColumnRenamed("doc_id", "select"), "select", 0.8) == want
    assert run(df, "doc_id", np.float64(0.8)) == want
    assert run(df, "doc_id", decimal.Decimal("0.8")) == want


def _model_merge(
    base: dict[int, int | None],
    source: dict[int, int | None],
    *,
    delete_when,
    update_when,
    insert_when,
) -> dict[int, int | None]:
    """Reference multi-action MERGE in plain Python: matched keys consult
    delete_when then update_when (else keep target); unmatched source
    keys consult insert_when ONLY. A NULL value makes a SQL condition
    NULL, which counts as false."""
    def holds(cond, v):
        return v is not None and cond(v)

    state = dict(base)
    for k, v in source.items():
        if k in state:
            if holds(delete_when, v):
                del state[k]
            elif holds(update_when, v):
                state[k] = v
        else:
            if holds(insert_when, v):
                state[k] = v
    return state


# values may be NULL, so every clause condition can evaluate to NULL
null_rows = st.lists(
    st.tuples(st.integers(0, 15), st.none() | st.integers(0, 100)),
    min_size=0, max_size=25,
)


@pytest.mark.parametrize("hyp", [None])
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    base=null_rows, source=null_rows, dmod=st.integers(2, 5),
    umod=st.integers(2, 5),
)
def test_merge_matches_model(
    spark, tmp_path_factory, hyp, base, source, dmod, umod
):
    """cat.merge against the Python model under randomized value-derived
    clause conditions (delete when v % dmod == 0, update when
    v % umod != 0, insert unless deletable) — covers every clause
    combination the fixture query can't reach by construction, and NULL
    values, on which every condition is NULL and so false."""
    b = dict(base)
    s = dict(source)
    cat = SnapCatalog(str(tmp_path_factory.mktemp("wh")))
    bdf = spark.createDataFrame(
        list(b.items()) or [(None, None)], schema="k int, v int"
    ).dropna(subset=["k"])
    sdf = spark.createDataFrame(
        list(s.items()) or [(None, None)], schema="k int, v int"
    ).dropna(subset=["k"])
    cat.create_or_replace("ns", "t", bdf)
    cat.merge(
        "ns", "t", sdf, keys=["k"],
        delete_when=f"v % {dmod} = 0",
        update_when=f"v % {umod} <> 0",
        insert_when=f"v % {dmod} <> 0",
    )
    got = {r.k: r.v for r in cat.read(spark, "ns", "t").collect()}
    want = _model_merge(
        b, s,
        delete_when=lambda v: v % dmod == 0,
        update_when=lambda v: v % umod != 0,
        insert_when=lambda v: v % dmod != 0,
    )
    assert got == want


# SQL condition → the same test on a Python value; NULL makes any
# comparison NULL, which the MERGE counts as false
_CONDS = {
    "v % 2 = 0": lambda v: v is not None and v % 2 == 0,
    "v > 10": lambda v: v is not None and v > 10,
    "v IS NULL": lambda v: v is None,
    "v % 3 <> 0": lambda v: v is not None and v % 3 != 0,
}
_key_rows = st.lists(
    st.tuples(
        st.none() | st.integers(0, 2),
        st.none() | st.sampled_from(["a", "b"]),
        st.none() | st.integers(0, 20),
    ),
    min_size=0, max_size=14,
)
_clause = st.none() | st.sampled_from(sorted(_CONDS))


def _model_merge_composite(
    base: list, source: list, delete_when, update_when, insert_when
) -> list:
    """Last-wins MERGE over composite keys in plain Python. ``source``
    rows are ``((k1, k2), v)`` in arrival order; the last row of a key
    wins, NULL key fields comparing equal as in the engine's dedupe.
    A key with a NULL field matches no target row (SQL equality), so its
    source row can only insert. A matched key loses ALL its target rows
    on delete or update."""
    last = {}
    for key, v in source:
        last[key] = v
    state = list(base)
    for key, v in last.items():
        matched = None not in key and any(k == key for k, _ in state)
        if matched:
            if delete_when(v):
                state = [r for r in state if r[0] != key]
            elif update_when(v):
                state = [r for r in state if r[0] != key] + [(key, v)]
        elif insert_when(v):
            state.append((key, v))
    return state


@pytest.mark.parametrize("hyp", [None])
@settings(
    max_examples=16,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    base=_key_rows, source=_key_rows, verb=st.sampled_from(["upsert", "merge"]),
    dups=st.booleans(), ordered=st.booleans(),
    delete_when=_clause, update_when=_clause, insert_when=_clause,
)
def test_upsert_and_merge_match_last_wins_model(
    spark, tmp_path_factory, hyp, base, source, verb, dups, ordered,
    delete_when, update_when, insert_when,
):
    """upsert, and merge under random WHEN clauses, on a composite key
    (k1, k2) whose fields may be NULL, against a last-wins Python model.
    ``dups`` keeps the source's duplicate keys (the dedupe window path);
    otherwise the source is key-unique (the path that skips the window).
    With ``ordered`` the winner is the last row by ``ord``; without
    ``order_by`` a key's duplicates are full-row copies, so any winner
    is the model's."""
    schema = "k1 int, k2 string, v int, ord int"
    src = [((k1, k2), v) for k1, k2, v in source]
    if not dups:
        src = list(dict(src).items())
    if not ordered:
        last = dict(src)
        src = [(key, last[key]) for key, _ in src]
    cat = SnapCatalog(str(tmp_path_factory.mktemp("wh")))
    cat.create_or_replace(
        "ns", "t",
        spark.createDataFrame(
            [(k1, k2, v, 0) for k1, k2, v in base], schema=schema
        ),
    )
    sdf = spark.createDataFrame(
        [(*key, v, i if ordered else 0) for i, (key, v) in enumerate(src)],
        schema=schema,
    )
    order_by = "ord" if ordered else None
    if verb == "upsert":
        delete_when = update_when = insert_when = None
        cat.upsert("ns", "t", sdf, keys=["k1", "k2"], order_by=order_by)
    else:
        cat.merge(
            "ns", "t", sdf, keys=["k1", "k2"], delete_when=delete_when,
            update_when=update_when, insert_when=insert_when,
            order_by=order_by,
        )
    want = _model_merge_composite(
        [((k1, k2), v) for k1, k2, v in base], src,
        _CONDS[delete_when] if delete_when else lambda v: False,
        _CONDS[update_when] if update_when else lambda v: True,
        _CONDS[insert_when] if insert_when else lambda v: True,
    )
    got = [((r.k1, r.k2), r.v) for r in cat.read(spark, "ns", "t").collect()]
    assert sorted(got, key=repr) == sorted(want, key=repr)


def test_containment_detects_crafted_excerpt(spark, monkeypatch):
    """dedup_containment semantics on a crafted corpus: an excerpt that
    is a strict substring of its source scores containment 1.0 in the
    excerpt→source direction and < 1 in the reverse; an unrelated doc
    pairs with nothing. Exercised through the registered query by
    pointing load_table at a temp corpus."""
    import component_iceberg_spark.plans.queries_extended as QE

    base = " ".join(f"w{i}" for i in range(40))
    rows = [
        (1, base + " " + " ".join(f"x{i}" for i in range(20))),  # source
        (2, base),                                               # excerpt
        (3, " ".join(f"z{i}" for i in range(40))),               # unrelated
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(QE, "load_table", lambda s, d, t: corpus)
    got = {
        (r.inner_doc, r.outer_doc): r.containment
        for r in QE.dedup_containment(spark, "ignored").collect()
    }
    assert got.get((2, 1)) == 1.0
    assert (3, 1) not in got and (3, 2) not in got
    rev = got.get((1, 2))
    assert rev is not None and rev < 1.0


def test_mm_pooled_vector_partition_invariant(spark, sf_dir):
    """mm_neardup_features' order-pinned pool claim: the emitted pair set
    is identical under a different shuffle partitioning (an avg()-based
    pool could flip a rounding-boundary value between layouts)."""
    from component_iceberg_spark.plans import load_all

    reg = load_all()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        a = {tuple(r) for r in reg["mm_neardup_features"].fn(spark, sf_dir).collect()}
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        b = {tuple(r) for r in reg["mm_neardup_features"].fn(spark, sf_dir).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a == b and len(a) > 0


def test_bpe_merges_match_python_reference(spark, monkeypatch):
    """text_bpe_merges vs a plain-Python word-frequency BPE on a crafted
    corpus where round 2 must merge a symbol MINTED by round 1 (multi-
    char merge) — the fold's accumulator rule, not just char pairs."""
    from collections import Counter

    import component_iceberg_spark.plans.queries_text as QT

    # 'aab' dominant → round 1 merges (a,a), round 2 must merge (aa,b)
    docs = [(1, "aab aab aab aab ccd"), (2, "aab aab ccd eef"),
            (3, "xyz aab")]
    corpus = spark.createDataFrame(docs, "doc_id long, text string")
    monkeypatch.setattr(QT, "load_table", lambda s, d, t: corpus)

    def ref(docs, rounds):
        freq = Counter()
        for _, text in docs:
            for tok in text.lower().split():
                freq[tok] += 1
        vocab = {tuple(tok): f for tok, f in freq.items()}
        merges = []
        for _ in range(rounds):
            pairs = Counter()
            for seq, f in vocab.items():
                for i in range(len(seq) - 1):
                    pairs[(seq[i], seq[i + 1])] += f
            (a, b), c = min(
                pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            merges.append((a, b, c))
            new_vocab = {}
            for seq, f in vocab.items():
                out, i = [], 0
                while i < len(seq):
                    if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(seq[i])
                        i += 1
                new_vocab[tuple(out)] = f
            vocab = new_vocab
        return merges

    got = [
        (r.a, r.b, r.pair_count)
        for r in QT.text_bpe_merges(spark, "ignored").orderBy("step").collect()
    ]
    want = ref(docs, QT.BPE_ROUNDS)
    assert got == want
    assert got[0][:2] == ("a", "a") and got[1][:2] == ("aa", "b"), got


def test_bpe_encode_matches_python_reference(spark, monkeypatch):
    """text_bpe_encode vs a plain-Python fit+encode on the multi-char-
    merge corpus: per-doc token and post-merge symbol counts must match
    the word-level reference exactly (including round-2's minted 'aa'
    symbol shrinking 'aab' to 1 symbol)."""
    from collections import Counter

    import component_iceberg_spark.plans.queries_text as QT

    docs = [(1, "aab aab aab aab ccd"), (2, "aab aab ccd eef"),
            (3, "xyz aab")]
    corpus = spark.createDataFrame(docs, "doc_id long, text string")
    monkeypatch.setattr(QT, "load_table", lambda s, d, t: corpus)

    def ref(docs, rounds):
        freq = Counter()
        for _, text in docs:
            for tok in text.lower().split():
                freq[tok] += 1
        word_seq = {tok: tuple(tok) for tok in freq}
        for _ in range(rounds):
            pairs = Counter()
            for tok, f in freq.items():
                seq = word_seq[tok]
                for i in range(len(seq) - 1):
                    pairs[(seq[i], seq[i + 1])] += f
            (a, b), _c = min(
                pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            for tok, seq in word_seq.items():
                out, i = [], 0
                while i < len(seq):
                    if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(seq[i])
                        i += 1
                word_seq[tok] = tuple(out)
        return {
            doc_id: (
                len(text.lower().split()),
                sum(len(word_seq[t]) for t in text.lower().split()),
            )
            for doc_id, text in docs
        }

    got = {
        r.doc_id: (r.n_tokens, r.n_symbols)
        for r in QT.text_bpe_encode(spark, "ignored").collect()
    }
    want = ref(docs, QT.BPE_ROUNDS)
    assert got == want
    # round 2 shrinks 'aab' to 1 symbol, round 3 merges (c,c) so 'ccd'
    # is 2 → doc 1: 4*1 + 2 = 6
    assert got[1] == (5, 6), got


def test_token_budget_greedy_maximality(spark, sf_dir):
    """pipeline_token_budget's selection is tight on both sides: every
    source's kept tokens fit the budget, AND adding that source's first
    EXCLUDED document (next in quality order) would overflow it — the
    greedy prefix is maximal, not merely feasible."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    import component_iceberg_spark.plans.queries_text as QT
    from component_iceberg_spark.io.tables import load_table
    from component_iceberg_spark.operators import text as X

    out = {
        r["source"]: (r["n_docs"], r["n_tokens"])
        for r in QT.pipeline_token_budget(spark, sf_dir).collect()
    }
    assert out and all(
        toks <= QT.TOKEN_BUDGET for _d, toks in out.values()
    ), out

    # replay the ranking, find each source's first excluded doc
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(X.tokens(F.col("text")))
    score = X.quality_score("text")
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("score").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = d.select(
        "source", n_tok.alias("n_tok"), score.alias("score"), "doc_id"
    ).withColumn("cum", F.sum("n_tok").over(w))
    first_excluded = {
        r["source"]: r["n_tok"]
        for r in ranked.filter(F.col("cum") > QT.TOKEN_BUDGET)
        .groupBy("source")
        .agg(F.min_by("n_tok", "cum").alias("n_tok"))
        .collect()
    }
    for src, (_docs, toks) in out.items():
        if src in first_excluded:  # source didn't simply run out of docs
            assert toks + first_excluded[src] > QT.TOKEN_BUDGET, (
                src, toks, first_excluded[src]
            )


def test_dq_expectations_counts_crafted_violations(spark, monkeypatch):
    """ext_dq_expectations on a crafted batch with known violations per
    rule, including the NULL-never-passes contract (a NULL quantity must
    count against every quantity rule)."""
    import component_iceberg_spark.plans.queries_extended as QE

    rows = [
        # (orderkey, qty, discount, returnflag, price, tax)
        (1, 10.0, 0.05, "A", 100.0, 0.04),   # clean
        (None, 20.0, 0.05, "N", 100.0, 0.04),  # null orderkey
        (3, 49.0, 0.05, "R", 100.0, 0.04),   # qty>45 (but <=50)
        (4, None, 0.05, "A", 100.0, 0.04),   # NULL qty -> both qty rules
        (5, 10.0, 0.2, "X", -1.0, 0.2),      # discount+enum+price+tax
    ]
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_quantity double, l_discount double,"
        " l_returnflag string, l_extendedprice double, l_tax double",
    )
    monkeypatch.setattr(QE, "load_table", lambda s, d, t: df)
    got = {
        r["rule"]: (r["n_violations"], r["n_checked"], r["pass"])
        for r in QE.ext_dq_expectations(spark, "ignored").collect()
    }
    assert got == {
        "orderkey_not_null": (1, 5, False),
        "quantity_1_50": (1, 5, False),
        "quantity_le_45": (2, 5, False),
        "discount_0_01": (1, 5, False),
        "returnflag_enum": (1, 5, False),
        "price_positive": (1, 5, False),
        "tax_0_008": (1, 5, False),
    }, got


def test_mmr_diversify_skips_redundant_candidate(spark, monkeypatch):
    """MMR on crafted geometry where diversification MUST flip the
    ranking: d1 and d2 are identical directions (relevance .866, mutual
    sim 1.0) and d3 sits 60 degrees off on the other side (relevance .5,
    orthogonal to d1). Plain top-k orders (d1, d2, d3); MMR at
    lambda=0.7 must pick d1, then d3 (0.35 beats the duplicate's
    0.7*.866-0.3*1 = .306), and only then the duplicate d2."""
    import math

    import component_iceberg_spark.plans.queries_similarity as QS

    c30, s30 = math.cos(math.pi / 6), math.sin(math.pi / 6)
    c60, s60 = math.cos(math.pi / 3), math.sin(math.pi / 3)
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], "q"),    # the only QUERY_IDS member
        (1, [c30, s30, 0.0, 0.0], "a"),    # d1
        (2, [c30, s30, 0.0, 0.0], "a"),    # d2 == d1
        (3, [c60, -s60, 0.0, 0.0], "b"),   # d3: 60deg from q, 90 from d1
        (4, [0.0, 0.0, 1.0, 0.0], "c"),    # orthogonal filler
        (5, [0.0, 0.0, 0.0, 1.0], "c"),    # orthogonal filler
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    monkeypatch.setattr(QS, "load_table", lambda s, d, t: df)
    got = [
        (r.mmr_rank, r.neighbor_id)
        for r in QS.sim_mmr_diversify(spark, "ignored")
        .orderBy("mmr_rank").collect()
    ]
    assert [n for _r, n in got[:3]] == [1, 3, 2], got
    # plain relevance order would have been [1, 2, 3] — the duplicate
    # demoted below the diverse candidate is the whole point


def test_mmr_single_candidate_query_not_dropped(spark, monkeypatch):
    """A query whose corpus holds exactly ONE other vector still gets
    its rank-1 row (the oracle's selu1 emits it; the Spark side must not
    lose the group to an empty pair relation)."""
    import component_iceberg_spark.plans.queries_similarity as QS

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], "q"),
        (1, [0.6, 0.8, 0.0, 0.0], "a"),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    monkeypatch.setattr(QS, "load_table", lambda s, d, t: df)
    got = QS.sim_mmr_diversify(spark, "ignored").collect()
    assert [(r.query_id, r.neighbor_id, r.mmr_rank) for r in got] == [(0, 1, 1)]


evolve_base = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 50)), min_size=1, max_size=15
)
evolve_delta = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 50), st.integers(100, 200)),
    min_size=0, max_size=15,
)


@pytest.mark.parametrize("hyp", [None])
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(base=evolve_base, delta=evolve_delta)
def test_upsert_evolve_matches_model(spark, tmp_path_factory, hyp, base, delta):
    """Randomized schema-evolving upsert vs a plain-Python model:
    matched keys take the delta wholesale (new column included),
    unmatched delta rows insert, untouched base rows surface the new
    column as NULL — across whatever key overlap hypothesis draws
    (including the all-disjoint no-candidate path and full overlap)."""
    cat = SnapCatalog(str(tmp_path_factory.mktemp("wh")))
    b = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(base)],
        schema="k int, v int, ord int",
    )
    cat.upsert("ns", "t", b, keys=["k"], order_by="ord")
    d = spark.createDataFrame(
        [(k, v, w, i) for i, (k, v, w) in enumerate(delta)]
        or [(None, None, None, None)],
        schema="k int, v int, w int, ord int",
    ).dropna()
    cat.upsert("ns", "t", d, keys=["k"], order_by="ord", evolve=True)
    got = {r.k: (r.v, r.w) for r in cat.read(spark, "ns", "t").collect()}
    model = {}
    for k, v in base:
        model[k] = (v, None)
    for k, v, w in delta:
        model[k] = (v, w)
    assert got == model


@pytest.mark.parametrize("hyp", [None])
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pts=st.lists(
        st.tuples(st.integers(100, 120), st.integers(1, 8)),
        min_size=1, max_size=25,
    )
)
def test_skyline_matches_bruteforce_model(spark, monkeypatch, hyp, pts):
    """ext_skyline's staircase construction vs the O(n²) dominance
    definition on randomized (price, size) sets — small domains force
    heavy price/size ties, the staircase's trickiest case."""
    import component_iceberg_spark.plans.queries_analytics as QA

    rows = [
        (i, f"B{i % 3}", sz, float(pr)) for i, (pr, sz) in enumerate(pts)
    ]
    df = spark.createDataFrame(
        rows, "p_partkey long, p_brand string, p_size int, p_retailprice double"
    )
    monkeypatch.setattr(QA, "load_table", lambda s, d, t: df)
    got = {r.p_partkey for r in QA.ext_skyline(spark, "ignored").collect()}
    want = {
        i
        for i, (pr, sz) in enumerate(pts)
        if not any(
            (qp <= pr and qs >= sz and (qp < pr or qs > sz))
            for qp, qs in pts
        )
    }
    assert got == want


@pytest.mark.parametrize("hyp", [None])
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vecs=st.lists(
        st.lists(
            st.floats(-2, 2, allow_nan=False, allow_infinity=False, width=32),
            min_size=4, max_size=4,
        ).filter(lambda v: sum(x * x for x in v) > 1e-6),
        min_size=2, max_size=14,
    )
)
def test_mmr_matches_python_reference(spark, monkeypatch, hyp, vecs):
    """sim_mmr_diversify vs a plain-Python greedy MMR on random vectors:
    same rounded-6 cosines, same lam*rel − (1−lam)*max_sim composition,
    same (score, id) tie-break — the selected sequence must match
    exactly, including when fewer candidates than MMR_SELECT exist."""
    import math

    import component_iceberg_spark.plans.queries_similarity as QS

    rows = [(i, [float(x) for x in v], "x") for i, v in enumerate(vecs)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    monkeypatch.setattr(QS, "load_table", lambda s, d, t: df)
    got = [
        (r.query_id, r.mmr_rank, r.neighbor_id)
        for r in QS.sim_mmr_diversify(spark, "ignored")
        .orderBy("query_id", "mmr_rank").collect()
    ]

    def cos(a, b):
        # float32 storage, float64 math, left-to-right fold — the engine
        # contract
        af = [float(x) for x in _f32(a)]
        bf = [float(x) for x in _f32(b)]
        dot = 0.0
        for x, y in zip(af, bf):
            dot += x * y
        na = math.sqrt(sum(x * x for x in af))
        nb = math.sqrt(sum(x * x for x in bf))
        return round(dot / (na * nb), 6)

    def _f32(v):
        import numpy as np

        return np.asarray(v, dtype=np.float32)

    want = []
    present = {i for i, _v, _l in rows}
    for q in (i for i in QS.QUERY_IDS if i in present):
        rel = {
            i: cos(vecs[q], v) for i, v in enumerate(vecs) if i != q
        }
        cands = sorted(rel, key=lambda i: (-rel[i], i))[: QS.TOPK]
        sims = {
            (i, j): cos(vecs[i], vecs[j])
            for i in cands for j in cands if i != j
        }
        selected = []
        remaining = sorted(cands)
        for step in range(1, QS.MMR_SELECT + 1):
            if not remaining:
                break
            best, best_raw = None, None
            for i in remaining:
                maxs = max((sims[(i, j)] for j in selected), default=0.0)
                raw = QS.MMR_LAMBDA * rel[i] - round(
                    1 - QS.MMR_LAMBDA, 1
                ) * maxs
                if best_raw is None or raw > best_raw:
                    best, best_raw = i, raw
            selected.append(best)
            remaining.remove(best)
            want.append((q, step, best))
    assert got == want


def test_pack_sequences_greedy_reference(spark, tmp_path):
    """pipeline_pack_sequences (the REAL registered query, pointed at a
    crafted fixture dir) matches a pure-Python greedy reference on token
    streams covering the edge cases: an oversized doc (> PACK_BUDGET)
    occupies a pack alone, an exact-fit doc (cum + t == budget) stays IN
    the current pack (strict >), and the packing is a partition (every
    doc assigned exactly once, positions contiguous from 0)."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    import component_iceberg_spark.plans.queries_text as QT

    B = QT.PACK_BUDGET  # 256
    # (source, doc_id, n_tok): src_a exercises exact fit at the boundary,
    # src_b an oversized doc mid-stream, src_c a single oversized doc.
    rows = [
        ("src_a", 1, 100), ("src_a", 2, 156),  # 100+156 == 256 → same pack
        ("src_a", 3, 1),                       # overflow → pack 1
        ("src_b", 1, 10), ("src_b", 2, 500),   # oversized → own pack 1
        ("src_b", 3, 10),                      # reopens → pack 2
        ("src_c", 1, 999),                     # alone in pack 0
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": [i for _s, i, _t in rows],
            "text": [" ".join(["w"] * t) for _s, _i, t in rows],
            "lang": ["en"] * len(rows),
            "source": [s for s, _i, _t in rows],
            "n_chars": [2 * t - 1 for _s, _i, t in rows],
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf), str(tmp_path / "documents.parquet"))

    def ref(stream):
        out, pack_id, cum, pos = [], 0, 0, 0
        for did, t in stream:
            if cum > 0 and cum + t > B:
                pack_id, cum, pos = pack_id + 1, 0, 0
            cum += t
            out.append((did, pack_id, pos))
            pos += 1
        return out

    got = {
        (r.source, r.doc_id): (r.n_tok, r.pack_id, r.pack_pos)
        for r in QT.pipeline_pack_sequences(spark, str(tmp_path)).collect()
    }
    for src in ("src_a", "src_b", "src_c"):
        stream = [(i, t) for s, i, t in rows if s == src]
        for did, pid, pos in ref(stream):
            n_tok = dict(stream)[did]
            assert got[(src, did)] == (n_tok, pid, pos), (src, did, got)
    assert len(got) == len(rows)


def _pack_like_query(pdf, budget):
    """The same greedy walk pipeline_pack_sequences runs — kept in sync
    by test_pack_sequences_kernel_parity below."""
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    pack_id = cum = pos = 0
    ids, poss = [], []
    for t in pdf["n_tok"]:
        t = int(t)
        if cum > 0 and cum + t > budget:
            pack_id += 1
            cum = 0
            pos = 0
        cum += t
        ids.append(pack_id)
        poss.append(pos)
        pos += 1
    pdf["pack_id"] = ids
    pdf["pack_pos"] = poss
    return pdf


def test_pack_sequences_kernel_parity(spark, sf_dir):
    """The registered query (real fixture) agrees with _pack_like_query
    replayed on its own (source, doc_id, n_tok) projection — so the
    crafted-stream test above genuinely covers the shipped kernel."""
    from pyspark.sql import functions as F

    import component_iceberg_spark.plans.queries_text as QT
    from component_iceberg_spark.io.tables import load_table
    from component_iceberg_spark.operators import text as X

    got = {
        (r.source, r.doc_id): (r.n_tok, r.pack_id, r.pack_pos)
        for r in QT.pipeline_pack_sequences(spark, sf_dir).collect()
    }
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "source", "doc_id",
        F.size(X.tokens(F.col("text"))).cast("long").alias("n_tok"),
    ).toPandas()
    want = {}
    for src, grp in base.groupby("source"):
        out = _pack_like_query(grp.copy(), QT.PACK_BUDGET)
        for r in out.itertuples():
            want[(src, r.doc_id)] = (r.n_tok, r.pack_id, r.pack_pos)
    assert got == want
    # partition property: pack_pos contiguous from 0 within each pack
    by_pack = {}
    for (src, _did), (_t, pid, pos) in got.items():
        by_pack.setdefault((src, pid), []).append(pos)
    for poss in by_pack.values():
        assert sorted(poss) == list(range(len(poss)))


def test_pack_sequences_sharded_partition_and_budget(spark, sf_dir):
    """pipeline_pack_sequences_sharded: (a) the output is still a
    PARTITION of the corpus — every (source, doc_id) assigned exactly
    once, same doc set and n_tok as the unsharded packer; (b) every
    pack's token sum fits PACK_BUDGET unless it is an oversized
    singleton; (c) pack_pos is contiguous from 0 within each
    (source, shard, pack_id); (d) shard assignment is the documented
    md5 draw, so a shard never mixes documents it shouldn't."""
    import component_iceberg_spark.plans.queries_text as QT

    rows = QT.pipeline_pack_sequences_sharded(spark, sf_dir).collect()
    base_rows = QT.pipeline_pack_sequences(spark, sf_dir).collect()
    base = {(r.source, r.doc_id): r.n_tok for r in base_rows}
    # row-count equality FIRST: the dict comparison below would silently
    # collapse a duplicated (source, doc_id), so it alone cannot prove
    # the "assigned exactly once" half of the partition property
    assert len(rows) == len(base_rows) == len(base)
    assert {(r.source, r.doc_id): r.n_tok for r in rows} == base

    by_pack: dict = {}
    for r in rows:
        by_pack.setdefault((r.source, r.shard, r.pack_id), []).append(r)
    for members in by_pack.values():
        total = sum(m.n_tok for m in members)
        if total > QT.PACK_BUDGET:
            assert len(members) == 1 and members[0].n_tok > QT.PACK_BUDGET
        assert sorted(m.pack_pos for m in members) == list(
            range(len(members))
        )

    import hashlib

    for r in rows:
        h = hashlib.md5(f"{r.doc_id}pk".encode()).hexdigest()
        assert r.shard == int(h[:8], 16) % QT.PACK_SHARDS


def test_temperature_mix_semantics(spark, sf_dir):
    """pipeline_temperature_mix behavior pins: weights are a probability
    vector; a capped source (keep_frac == 1) admits its entire domain;
    alpha = 0.5 upweights small domains RELATIVE to proportional
    sampling (w_s / share_s strictly decreasing in domain size); and
    both cap branches are actually exercised at the fixture."""
    import component_iceberg_spark.plans.queries_text as QT

    rows = QT.pipeline_temperature_mix(spark, sf_dir).collect()
    assert len(rows) > 1
    assert abs(sum(r.mix_weight for r in rows) - 1.0) < 1e-4
    capped = [r for r in rows if r.keep_frac == 1.0]
    uncapped = [r for r in rows if r.keep_frac < 1.0]
    assert capped and uncapped, "budget must exercise both cap branches"
    for r in capped:
        assert r.docs_kept == r.docs_in and r.tokens_kept == r.tokens_in
    # an individual uncapped source can still admit every doc by chance
    # (keep_frac near 1); the DROP must show up in aggregate
    assert all(r.docs_kept <= r.docs_in for r in uncapped)
    assert sum(r.docs_kept for r in uncapped) < sum(r.docs_in for r in uncapped)
    # relative upweighting: w / proportional-share ∝ 1/sqrt(tokens)
    total = sum(r.tokens_in for r in rows)
    boost = sorted(
        ((r.tokens_in, r.mix_weight / (r.tokens_in / total)) for r in rows)
    )
    for (t1, b1), (t2, b2) in zip(boost, boost[1:]):
        if t1 < t2:
            assert b1 > b2, (t1, b1, t2, b2)


def test_winnow_fingerprint_guarantee(spark, tmp_path):
    """Winnowing's core guarantee, on the REAL registered query pointed
    at a crafted fixture: two documents sharing a passage of
    W+K-1 tokens MUST share at least one fingerprint (and with two
    planted passages, clear the WINNOW_MIN_SHARED pair threshold);
    unrelated docs share none; a doc shorter than K tokens produces no
    grams and no crash. A pure-Python replay of hash→window-min→
    rightmost-tie cross-checks the exact fingerprint sets."""
    import hashlib

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    import component_iceberg_spark.plans.queries_text as QT

    K, W, BASE = QT.WINNOW_K, QT.WINNOW_W, QT._WINNOW_POS_BASE
    span = W + K - 1  # guarantee length
    passage1 = [f"p{i}" for i in range(span)]
    passage2 = [f"q{i}" for i in range(span)]
    doc0 = ["a0"] + passage1 + ["b0", "b1"] + passage2
    doc1 = ["c0", "c1"] + passage1 + ["d0"] + passage2 + ["e0"]
    doc2 = [f"z{i}" for i in range(30)]        # unrelated
    doc3 = ["x0", "x1"]                        # shorter than K
    docs = [doc0, doc1, doc2, doc3]
    pdf = pd.DataFrame(
        {
            "doc_id": list(range(len(docs))),
            "text": [" ".join(d) for d in docs],
            "lang": ["en"] * len(docs),
            "source": ["src"] * len(docs),
            "n_chars": [len(" ".join(d)) for d in docs],
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf), str(tmp_path / "documents.parquet"))

    def ref_fps(toks):
        if len(toks) < K:
            return set()
        grams = [" ".join(toks[i:i + K]) for i in range(len(toks) - K + 1)]
        comb = [
            int(hashlib.md5(g.encode()).hexdigest()[:8], 16) * BASE
            + (BASE - 1 - i)
            for i, g in enumerate(grams)
        ]
        return {min(comb[q:q + W]) // BASE for q in range(len(comb))}

    fps = [ref_fps(d) for d in docs]
    assert fps[0] & fps[1], "guarantee: shared span must share a fingerprint"
    assert not fps[3]

    got = {
        (r.doc_a, r.doc_b): r.shared_fps
        for r in QT.text_winnow_fingerprint(spark, str(tmp_path)).collect()
    }
    # df cap is 10 and only 4 docs exist, so no hash is dropped: the
    # query must report exactly the reference pair counts >= threshold
    want = {}
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            n = len(fps[a] & fps[b])
            if n >= QT.WINNOW_MIN_SHARED:
                want[(a, b)] = n
    assert got == want, (got, want)
    assert (0, 1) in got and got[(0, 1)] >= 2
    assert all(2 not in p and 3 not in p for p in got)


def test_leakage_safe_split_clusters_never_straddle(spark, sf_dir):
    """pipeline_split_leakage_safe: (a) exhaustive — every document
    assigned exactly one split; (b) the leakage property itself — every
    near-dup PAIR (the verified LSH pairs driving the clusters) lands in
    ONE split; (c) every cluster id maps to exactly one split; (d) the
    naive doc-hash split (ext_split_train_test) demonstrably DOES
    straddle at least one of those pairs on this fixture, or the
    fixture has no pairs and the test is vacuous — assert pairs exist."""
    from component_iceberg_spark.plans import load_all

    from component_iceberg_spark.io.tables import load_table

    reg = load_all()
    rows = reg["pipeline_split_leakage_safe"].fn(spark, sf_dir).collect()
    by_doc = {r.doc_id: r.split for r in rows}
    assert len(by_doc) == len(rows)  # one row per doc
    # exhaustive: a regression of the LEFT join to inner (dropping
    # singleton docs) must fail here, not pass silently
    assert len(rows) == load_table(spark, sf_dir, "documents").count()

    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_cluster.values())

    from component_iceberg_spark.plans.queries_text import (
        verified_minhash_pairs,
    )

    pairs = verified_minhash_pairs(spark, sf_dir, 0.8).collect()
    assert pairs, "fixture has no near-dup pairs; leakage check vacuous"
    for p in pairs:
        assert by_doc[p.doc_a] == by_doc[p.doc_b], (p.doc_a, p.doc_b)

    naive = {
        r.doc_id: r.split
        for r in reg["ext_split_train_test"].fn(spark, sf_dir).collect()
    }
    straddled = sum(1 for p in pairs if naive[p.doc_a] != naive[p.doc_b])
    assert straddled > 0, (
        "doc-hash split did not straddle any near-dup pair — the "
        "leakage-safe variant is indistinguishable on this fixture"
    )


def test_pack_kernel_zero_token_prefix_edge():
    """The pack walk's overflow guard is `cum > 0 AND cum + t > budget`
    in BOTH the kernel and the shared oracle fragment: an oversized doc
    arriving while the current pack holds only zero-token docs must stay
    in that pack (the pack is token-empty), not open a new one. Pure
    pandas — pins the kernel side of the reconciled contract."""
    import pandas as pd

    import component_iceberg_spark.plans.queries_text as QT

    pdf = pd.DataFrame(
        {
            "source": ["s"] * 3,
            "doc_id": [1, 2, 3],
            "n_tok": [0, 0, QT.PACK_BUDGET + 100],
        }
    )
    out = QT._pack_kernel(pdf.copy())
    got = list(zip(out["doc_id"], out["pack_id"], out["pack_pos"]))
    assert got == [(1, 0, 0), (2, 0, 1), (3, 0, 2)]


def _write_tpch_mini(tmp_path):
    """Crafted orders/customer/nation fixture with a NULL dimension value
    in the DATA (o_orderpriority NULL) and tied spends, for the rollup-rank
    partition-semantics pin."""
    import datetime as _dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame(
                {
                    "n_nationkey": pd.array([0, 1], dtype="int32"),
                    "n_name": ["ALPHA", "BETA"],
                    "n_regionkey": pd.array([0, 0], dtype="int32"),
                }
            )
        ),
        str(tmp_path / "nation.parquet"),
    )
    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame(
                {
                    "c_custkey": [1, 2],
                    "c_name": ["ca", "cb"],
                    "c_nationkey": pd.array([0, 1], dtype="int32"),
                    "c_acctbal": [0.0, 0.0],
                    "c_mktsegment": ["M", "M"],
                }
            )
        ),
        str(tmp_path / "customer.parquet"),
    )
    d = _dt.datetime(2024, 1, 1)
    orders = [
        # (orderkey, custkey, totalprice, priority)
        (1, 1, 100.0, "P1"),   # ALPHA leaf, ties with P2 on spend
        (2, 1, 100.0, "P2"),
        (3, 1, 50.0, None),    # data-NULL priority → gid=0 leaf, NOT subtotal
        (4, 2, 300.0, "P1"),   # BETA leaf, ties with the data-NULL leaf below
        (5, 2, 300.0, None),
    ]
    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame(
                {
                    "o_orderkey": [k for k, *_ in orders],
                    "o_custkey": [c for _, c, *_ in orders],
                    "o_orderstatus": ["F"] * len(orders),
                    "o_totalprice": [p for _, _, p, _ in orders],
                    "o_orderdate": [d] * len(orders),
                    "o_orderpriority": [pr for *_, pr in orders],
                }
            )
        ),
        str(tmp_path / "orders.parquet"),
    )


def test_rollup_rank_partition_semantics(spark, tmp_path):
    """ext_rollup_rank (the REAL registered query on a crafted fixture):
    the rank partition is (grouping_id, parent-if-leaf) — leaves rank only
    against siblings within their nation, nation subtotals rank against
    nations, the grand total ranks alone. A NULL priority IN THE DATA is a
    gid=0 leaf (grouping_id separates it from the rollup subtotal) ranked
    within its nation, and on a spend tie the NULL sorts LAST (the
    asc_nulls_last pin — bare ASC in Spark is NULLS FIRST)."""
    import component_iceberg_spark.plans.queries_relational as QR

    _write_tpch_mini(tmp_path)
    got = {
        (r.n_name, r.o_orderpriority, r.gid): (
            r.n_orders,
            r.total_spend,
            r.spend_rank,
        )
        for r in QR.ext_rollup_rank(spark, str(tmp_path)).collect()
    }
    expected = {
        # ALPHA leaves: 100 (P1) vs 100 (P2) tie → priority asc breaks it;
        # the 50-spend data-NULL leaf ranks 3rd IN THE SAME partition.
        ("ALPHA", "P1", 0): (1, 100.0, 1),
        ("ALPHA", "P2", 0): (1, 100.0, 2),
        ("ALPHA", None, 0): (1, 50.0, 3),
        # BETA leaves: 300 (P1) ties 300 (data-NULL) → NULLS LAST
        ("BETA", "P1", 0): (1, 300.0, 1),
        ("BETA", None, 0): (1, 300.0, 2),
        # nation subtotals share ONE partition (gid=1, parent key NULL)
        ("BETA", None, 1): (2, 600.0, 1),
        ("ALPHA", None, 1): (3, 250.0, 2),
        # grand total alone
        (None, None, 3): (5, 850.0, 1),
    }
    assert got == expected


def test_crossover_null_day_counts_last(spark, tmp_path):
    """ext_window_crossover on a crafted events fixture with a NULL ts:
    the NULL day enters the running totals LAST (asc_nulls_last), matching
    DuckDB's default NULLS LAST. Under Spark's bare-ASC NULLS FIRST the
    NULL day would seed the cumsum and the day-2 purchase crossover would
    vanish entirely — the expected set discriminates."""
    import datetime as _dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    import component_iceberg_spark.plans.queries_relational as QR

    rows = [
        (1, _dt.datetime(2024, 1, 1), "view", 1.0),
        (2, _dt.datetime(2024, 1, 2), "purchase", 3.0),
        (3, None, "view", 5.0),  # NULL day: counts after every real day
    ]
    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame(
                {
                    "event_id": [i for i, *_ in rows],
                    "ts": [t for _, t, *_ in rows],
                    "user_id": [7] * len(rows),
                    "event_type": [e for _, _, e, _ in rows],
                    "value": [v for *_, v in rows],
                    "props": ["{}"] * len(rows),
                }
            )
        ),
        str(tmp_path / "events.parquet"),
    )
    got = {
        r.day: (r.view_cum, r.buy_cum, r.leader)
        for r in QR.ext_window_crossover(spark, str(tmp_path)).collect()
    }
    expected = {
        _dt.date(2024, 1, 1): (1.0, 0.0, "view"),      # first row emits
        _dt.date(2024, 1, 2): (1.0, 3.0, "purchase"),  # purchase overtakes
        None: (6.0, 3.0, "view"),                      # NULL day flips back
    }
    assert got == expected


def test_active_users_trailing_semantics(spark, tmp_path):
    """ext_active_users_trailing (the REAL query on a crafted fixture):
    each day counts DISTINCT users active in its trailing 7 days — a user
    active on several window days counts once; a >=7-day silence gap
    yields NO row for the uncovered days; days past the last observed day
    are clipped; NULL ts rows are ignored."""
    import datetime as _dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    import component_iceberg_spark.plans.queries_analytics as QA

    D = _dt.datetime
    rows = [
        # (event_id, ts, user_id): u1 twice on Jan 1 + once on Jan 2 — the
        # pair dedup must collapse the repeat; u2 on Jan 1; 13-day silence;
        # u3 on Jan 15 (its window days 16..21 must clip away)
        (1, D(2024, 1, 1, 9), 1),
        (2, D(2024, 1, 1, 17), 1),
        (3, D(2024, 1, 2, 8), 1),
        (4, D(2024, 1, 1, 12), 2),
        (5, D(2024, 1, 15, 10), 3),
        (6, None, 4),  # NULL ts: contributes nowhere
    ]
    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame(
                {
                    "event_id": [i for i, *_ in rows],
                    "ts": [t for _, t, _ in rows],
                    "user_id": [u for *_, u in rows],
                    "event_type": ["view"] * len(rows),
                    "value": [1.0] * len(rows),
                    "props": ["{}"] * len(rows),
                }
            )
        ),
        str(tmp_path / "events.parquet"),
    )
    got = {
        r.day: r.n_active_7d
        for r in QA.ext_active_users_trailing(spark, str(tmp_path)).collect()
    }
    d = _dt.date
    expected = {
        # days 1-7 all cover Jan 1 (u1, u2); Jan 2 adds no new user
        **{d(2024, 1, k): 2 for k in range(1, 8)},
        d(2024, 1, 8): 1,   # window [Jan 2..8]: only u1
        # Jan 9-14: no activity in any trailing window — NO rows
        d(2024, 1, 15): 1,  # u3; days 16..21 clipped (past max observed)
    }
    assert got == expected


def _write_tpch_multipass_mini(tmp_path):
    """Crafted 6-table fixture for the q64/q14 idiom pins: parts covering
    every admission/rejection case of the cross-year and cross-segment
    comparisons (grew / shrank / equal / size-filtered / one-year-only /
    same-nation-only / out-of-range)."""
    import datetime as _dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    def w(name, df):
        pq.write_table(pa.Table.from_pandas(df), str(tmp_path / name))

    w("nation.parquet", pd.DataFrame({
        "n_nationkey": pd.array([0, 1], dtype="int32"),
        "n_name": ["NA", "NB"],
        "n_regionkey": pd.array([0, 0], dtype="int32"),
    }))
    w("customer.parquet", pd.DataFrame({
        "c_custkey": [1, 2, 3],
        "c_name": ["c1", "c2", "c3"],
        "c_nationkey": pd.array([1, 0, 1], dtype="int32"),
        "c_acctbal": [0.0, 0.0, 0.0],
        # c1: NB + BUILDING; c2: NA (supplier's nation) + MACHINERY;
        # c3: NB + FURNITURE (out of both segments)
        "c_mktsegment": ["BUILDING", "MACHINERY", "FURNITURE"],
    }))
    w("supplier.parquet", pd.DataFrame({
        "s_suppkey": [1],
        "s_name": ["s1"],
        "s_nationkey": pd.array([0], dtype="int32"),
        "s_acctbal": [0.0],
    }))
    w("part.parquet", pd.DataFrame({
        "p_partkey": [1, 2, 3, 4, 5],
        "p_name": ["grew", "shrank", "equal", "big", "oneyear"],
        "p_brand": ["B"] * 5,
        "p_type": ["T"] * 5,
        "p_size": pd.array([10, 10, 10, 30, 10], dtype="int32"),
        "p_retailprice": [1.0] * 5,
    }))
    # one order per (year, customer): y95/y96 via c1 (cross-nation), via
    # c2 (same-nation), plus a 1997 out-of-range order via c1
    d95, d96, d97 = (_dt.datetime(y, 2, 1) for y in (1995, 1996, 1997))
    okeys = {"y95c1": 10, "y96c1": 11, "y95c2": 12, "y96c2": 13, "y97c1": 14}
    w("orders.parquet", pd.DataFrame({
        "o_orderkey": list(okeys.values()),
        "o_custkey": [1, 1, 2, 2, 1],
        "o_orderstatus": ["F"] * 5,
        "o_totalprice": [0.0] * 5,
        # micros, not pandas-default nanos: only events.ts gets the
        # nanosAsLong normalization in load_table
        "o_orderdate": pd.Series(
            [d95, d96, d95, d96, d97], dtype="datetime64[us]"
        ),
        "o_orderpriority": ["P"] * 5,
    }))
    # lineitems: (orderkey, partkey, qty, extprice)
    lines = [
        (okeys["y95c1"], 1, 5, 100.0),   # grew: 1995 rev 100
        (okeys["y96c1"], 1, 7, 200.0),   # grew: 1996 rev 200  -> IN
        (okeys["y95c1"], 2, 1, 300.0),   # shrank: 1995 rev 300
        (okeys["y96c1"], 2, 1, 100.0),   # shrank: 1996 rev 100 -> OUT
        (okeys["y95c1"], 3, 1, 150.0),   # equal both years -> OUT (strict >)
        (okeys["y96c1"], 3, 1, 150.0),
        (okeys["y95c1"], 4, 1, 100.0),   # big part grew but p_size 30 -> OUT
        (okeys["y96c1"], 4, 1, 900.0),
        (okeys["y95c1"], 5, 1, 100.0),   # one year only -> OUT
        (okeys["y95c2"], 1, 1, 100.0),   # same-nation channel: filtered
        (okeys["y96c2"], 1, 1, 900.0),   #   (supp NA == cust NA) -> OUT
        (okeys["y97c1"], 1, 1, 999.0),   # out of date range -> ignored
    ]
    w("lineitem.parquet", pd.DataFrame({
        "l_orderkey": [o for o, *_ in lines],
        "l_partkey": [p for _, p, *_ in lines],
        "l_suppkey": [1] * len(lines),
        "l_linenumber": pd.array(range(1, len(lines) + 1), dtype="int32"),
        "l_quantity": [float(q) for *_, q, _ in lines],
        "l_extendedprice": [e for *_, e in lines],
        "l_discount": [0.0] * len(lines),
        "l_tax": [0.0] * len(lines),
        "l_returnflag": ["N"] * len(lines),
        "l_linestatus": ["O"] * len(lines),
        "l_shipdate": pd.Series(
            [_dt.datetime(1995, 6, 1)] * len(lines), dtype="datetime64[us]"
        ),
    }))


def test_multipass_yoy_admission_semantics(spark, tmp_path):
    """ext_join_multipass on the crafted fixture admits EXACTLY the part
    whose cross-nation revenue grew year-over-year: shrank/equal (strict
    >), size-filtered, one-year-only, same-nation-only and out-of-range
    channels are all rejected — and the fused single-pass twin returns
    the identical set (the twins' core contract)."""
    import component_iceberg_spark.plans.queries_relational as QR

    _write_tpch_multipass_mini(tmp_path)
    rows = QR.ext_join_multipass(spark, str(tmp_path)).collect()
    assert [
        (
            r.p_partkey, r.p_name, r.cust_nation, r.cnt_y1, r.cnt_y2,
            r.qty_y1, r.qty_y2, r.rev_y1, r.rev_y2,
        )
        for r in rows
    ] == [(1, "grew", "NB", 1, 1, 5, 7, 100.0, 200.0)]
    fused = QR.ext_join_multipass_fused(spark, str(tmp_path)).collect()
    assert {tuple(r) for r in fused} == {tuple(r) for r in rows}


def test_intersect_join_presence_semantics(spark, tmp_path):
    """ext_intersect_join on the crafted fixture: only parts with lines
    in BOTH segments INSIDE the quarter qualify — the c2 (MACHINERY)
    channel provides the second segment for part 1 only; parts reached by
    one segment, by the FURNITURE customer, or outside the date range
    never appear, and the per-segment lanes count only in-range lines."""
    import datetime as _dt

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    import component_iceberg_spark.plans.queries_relational as QR

    _write_tpch_multipass_mini(tmp_path)
    # move the two 1995 orders into Q1 (the mini fixture uses Feb 1) and
    # add a FURNITURE-customer order inside the quarter for part 2: a
    # third segment must NOT make part 2 qualify
    orders = pq.read_table(str(tmp_path / "orders.parquet")).to_pandas()
    extra = pd.DataFrame({
        "o_orderkey": [15], "o_custkey": [3], "o_orderstatus": ["F"],
        "o_totalprice": [0.0],
        "o_orderdate": pd.Series(
            [_dt.datetime(1995, 3, 1)], dtype="datetime64[us]"
        ),
        "o_orderpriority": ["P"],
    })
    pq.write_table(
        pa.Table.from_pandas(pd.concat([orders, extra], ignore_index=True)),
        str(tmp_path / "orders.parquet"),
    )
    li = pq.read_table(str(tmp_path / "lineitem.parquet")).to_pandas()
    extra_li = pd.DataFrame({
        "l_orderkey": [15], "l_partkey": [2], "l_suppkey": [1],
        "l_linenumber": pd.array([99], dtype="int32"),
        "l_quantity": [1.0], "l_extendedprice": [500.0],
        "l_discount": [0.0], "l_tax": [0.0],
        "l_returnflag": ["N"], "l_linestatus": ["O"],
        "l_shipdate": pd.Series(
            [_dt.datetime(1995, 6, 1)], dtype="datetime64[us]"
        ),
    })
    pq.write_table(
        pa.Table.from_pandas(pd.concat([li, extra_li], ignore_index=True)),
        str(tmp_path / "lineitem.parquet"),
    )

    rows = QR.ext_intersect_join(spark, str(tmp_path)).collect()
    # Q1-1995 in-range orders: y95c1 (BUILDING: parts 1,2,3,4,5) and
    # y95c2 (MACHINERY: part 1) and the FURNITURE order (part 2, not a
    # qualifying segment). Only part 1 is in BOTH segments.
    assert [
        (r.p_partkey, r.n_building, r.n_machinery, r.rev_building,
         r.rev_machinery)
        for r in rows
    ] == [(1, 1, 1, 100.0, 100.0)]


# ---------------------------------------------------------------------------
# DV run encoding — the per-file runs _dv_write_relation stores and stamps
# ---------------------------------------------------------------------------

_segments = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=400),
        st.integers(min_value=1, max_value=60),
    ),
    min_size=1,
    max_size=6,
)


def _runs(sorted_pos):
    runs = []
    for p in sorted_pos:
        if runs and runs[-1][1] == p - 1:
            runs[-1][1] = p
        else:
            runs.append([p, p])
    return runs


@pytest.mark.parametrize("hyp", [None])
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(seg_a=_segments, seg_b=_segments, cap=st.sampled_from([2, 60]))
def test_dv_write_runs_are_exact_cover(
    spark, tmp_path, hyp, seg_a, seg_b, cap
):
    """The run arrays the DV writer derives per file (and stores as the
    ranges layout, or expands into the positions layout) cover exactly
    the distinct addressed ordinals — overlapping segments put duplicate
    addresses in the input — and are maximal: the stamped position and
    run counts equal a plain-Python run split, whichever layout the
    writer picks (segment lengths capped at 2 keep the input scattered,
    so the positions layout is drawn too). A violation here is a wrong
    DELETE at read time."""
    import uuid

    wh = str(tmp_path / uuid.uuid4().hex)
    cat = SnapCatalog(wh)
    files = {
        f"file:{wh}/ns/t/data/{d}/part-0.parquet": [
            p for s, n in seg for p in range(s, s + min(n, cap))
        ]
        for d, seg in (("da", seg_a), ("db", seg_b))
    }
    rel = spark.createDataFrame(
        [(f, p) for f, ps in files.items() for p in ps],
        "file_path string, pos long",
    )
    out = f"{wh}/dv"
    applies_to, stats, layout = cat._dv_write_relation(
        spark, out, rel, ["da", "db"], "ns", "t"
    )
    want = {f: sorted(set(ps)) for f, ps in files.items()}
    runs = {f: _runs(ps) for f, ps in want.items()}
    assert applies_to == ["da", "db"]
    assert stats == {
        "n_positions": sum(len(ps) for ps in want.values()),
        "max_file_positions": max(len(ps) for ps in want.values()),
        "n_ranges": sum(len(r) for r in runs.values()),
        "max_file_ranges": max(len(r) for r in runs.values()),
    }
    stored = spark.read.parquet(out)
    if layout == "ranges":
        got = {
            r.file_path: [list(t) for t in zip(r.starts, r.ends)]
            for r in stored.collect()
        }
        assert got == runs
    else:
        got = {r.file_path: list(r.positions) for r in stored.collect()}
        assert got == want


@settings(max_examples=500, deadline=None)
@given(
    mn=st.integers(min_value=-1000, max_value=1000),
    span=st.integers(min_value=0, max_value=50),
    op=st.sampled_from(["=", "!=", "<>", "<", "<=", ">", ">="]),
    lit=st.integers(min_value=-1060, max_value=1060),
)
def test_range_bound_predicates_are_exact_duals(mn, span, op, lit):
    """_range_may_match / _range_must_match (the pair under the
    count-free dispatch bounds): against the GROUND TRUTH of evaluating
    the operator over every integer in [mn, mx] — may_match must be
    True iff ANY value matches, must_match True iff ALL match, and
    must ⇒ may. A false 'must' is a wrong copy-on-write dispatch (cost
    bug); a false 'not may' is rows silently surviving a DELETE
    (correctness bug) — the same contract stats pruning relies on."""
    from component_iceberg_spark.io.snaptable import (
        _range_may_match,
        _range_must_match,
    )

    mx = mn + span
    ops = {
        "=": lambda v: v == lit,
        "!=": lambda v: v != lit,
        "<>": lambda v: v != lit,
        "<": lambda v: v < lit,
        "<=": lambda v: v <= lit,
        ">": lambda v: v > lit,
        ">=": lambda v: v >= lit,
    }
    domain = range(mn, mx + 1)
    truth_any = any(ops[op](v) for v in domain)
    truth_all = all(ops[op](v) for v in domain)
    assert _range_may_match(mn, mx, op, lit) == truth_any
    assert _range_must_match(mn, mx, op, lit) == truth_all
    if _range_must_match(mn, mx, op, lit):
        assert _range_may_match(mn, mx, op, lit)


@settings(max_examples=50, deadline=None)
@given(
    mn=st.integers(min_value=0, max_value=100),
    span=st.integers(min_value=0, max_value=100),
    op=st.sampled_from(["=", "<", "<=", ">", ">="]),
)
def test_range_bound_predicates_type_mismatch_is_conservative(mn, span, op):
    """A literal the stats' type cannot compare against (string vs int)
    must degrade each side to its SAFE answer: may_match True (never
    skip), must_match False (never claim certainty)."""
    from component_iceberg_spark.io.snaptable import (
        _range_may_match,
        _range_must_match,
    )

    mx = mn + span
    assert _range_may_match(mn, mx, op, "not-a-number") is True
    assert _range_must_match(mn, mx, op, "not-a-number") is False


def test_minhash_signatures_hash_agg_matches_string_min(spark):
    """r15: the numeric-buffer signature aggregate (HashAggregate, no
    sort) must be bit-identical to the direct string min it replaced,
    and must actually plan as a HashAggregate."""
    from pyspark.sql import functions as F

    from component_iceberg_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta theta doc{i % 7}") for i in range(40)],
        "doc_id long, text string",
    )
    sh = D.doc_shingles(docs, "doc_id", "text")
    new = D.minhash_signatures(sh)
    aggs = [F.min(D._minhash_col(k)).alias(f"h{k}") for k in range(D.NUM_HASHES)]
    old = sh.groupBy("doc").agg(*aggs)
    assert new.orderBy("doc").collect() == old.orderBy("doc").collect()
    plan = new._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan and "SortAggregate" not in plan


def test_signature_bands_explode_matches_union(spark):
    """r15: the single-pass exploded banding must emit exactly the rows
    of the B-way union form it replaced."""
    from pyspark.sql import functions as F

    from component_iceberg_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta theta doc{i % 5}") for i in range(20)],
        "doc_id long, text string",
    )
    sig = D.minhash_signatures(D.doc_shingles(docs, "doc_id", "text"))
    got = {tuple(r) for r in D.signature_bands(sig).collect()}
    expect = set()
    for b in range(D.BANDS):
        cols = [f"h{b * D.ROWS_PER_BAND + r}" for r in range(D.ROWS_PER_BAND)]
        part = sig.select(
            "doc", F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", *cols)).alias("key"),
        )
        expect |= {tuple(r) for r in part.collect()}
    assert got == expect
