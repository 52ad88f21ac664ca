"""Round-2 additions: near-dup cluster formation and the typed-media /
per-frame multimodal stages.

Registered AFTER the families the driver gate still owes hard rows to
(the gate checks the first N registered queries): these verify in the
local oracle mirror now and rotate into the gate window next round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from component_iceberg_spark.io.tables import load_table
from component_iceberg_spark.operators import dedup as D
from component_iceberg_spark.operators import multimodal as M
from component_iceberg_spark.plans.queries_text import (
    _SHINGLE_SQL as _SHINGLE_CTE,
    _minhash_cte_body,
)
from component_iceberg_spark.plans.registry import register
from component_iceberg_spark.session import run_concurrently


# ---------------------------------------------------------------------------
# Dedup cluster formation
# ---------------------------------------------------------------------------


# The recursive transitive-closure fragment over the LSH `pairs` CTE:
# THE single spelling (interpolated by dedup_clusters' oracle AND the
# leakage-split oracle, the r7 shared-fragment defense) so the two
# oracles cannot certify different clusterings.
_CLOSURE_CTE_BODY = """e AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(node, r) AS (
    SELECT src, src FROM e
    UNION
    SELECT reach.node, e.dst FROM reach JOIN e ON e.src = reach.r
),
cl AS (SELECT node AS doc, min(r) AS cluster_id FROM reach GROUP BY node)"""


def _cluster_oracle() -> str:
    """Transitive closure of the near-dup pairs as a recursive CTE:
    cluster id = min reachable doc id — the declarative twin of the
    iterative min-label propagation in
    :func:`operators.dedup.connected_components`. Two entirely different
    algorithms (fixed-point SQL closure vs. Spark label iteration) must
    produce identical clusters."""
    return f"""
WITH RECURSIVE {_minhash_cte_body()},
{_CLOSURE_CTE_BODY}
SELECT doc, cluster_id FROM cl
"""


def neardup_clusters(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    """Session-cached (doc, cluster_id) map: verified LSH pairs →
    connected components, computed once per (session, fixture) and
    shared by every consumer (dedup_clusters, the leakage-safe split) —
    the CC driver loop (edge jobs + label rounds) is pairs-sized but not
    free, and a production pipeline checkpoints the cluster map once."""
    from component_iceberg_spark.plans.cache import session_cached
    from component_iceberg_spark.plans.queries_text import (
        verified_minhash_pairs,
    )

    return session_cached(
        spark,
        ("neardup_clusters", sf_dir, threshold),
        lambda: D.connected_components(
            verified_minhash_pairs(spark, sf_dir, threshold)
        ),
    )


@register("dedup_clusters", oracle=_cluster_oracle(), tags=("ext", "dedup"))
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER formation: MinHash-LSH pairs → connected
    components → (doc, cluster_id). The step every real dedup pipeline
    needs after pairwise detection — transitive duplicates A~B~C form one
    group with one survivor, not one per pair. Spark side: iterative
    min-label propagation (O(diameter) keyed shuffles); oracle:
    recursive-CTE transitive closure — independent algorithms, identical
    output. Both the verified-pairs stage AND the cluster map are
    session-cached (one LSH run + one CC pass feed dedup_minhash_lsh,
    this, and pipeline_split_leakage_safe — the way a production
    pipeline checkpoints each stage once and fans out)."""
    return neardup_clusters(spark, sf_dir, 0.8)


# ---------------------------------------------------------------------------
# Typed media metadata + per-frame features
# ---------------------------------------------------------------------------
#
# The stub probes derive every field deterministically from the payload's
# sha256 hex digest, so DuckDB replays the derivation exactly — the oracle
# certifies the Arrow mapInPandas round-trip end-to-end even though the
# real decoder is absent (operators/multimodal.py docstring).

# SQL for byte j (0-based) of a lowercase hex digest column named h
def _hx(j: int) -> str:
    d1 = f"(strpos('0123456789abcdef', substr(h, {2 * j + 1}, 1)) - 1)"
    d2 = f"(strpos('0123456789abcdef', substr(h, {2 * j + 2}, 1)) - 1)"
    return f"({d1} * 16 + {d2})"


def _binary_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return M.ingest_binary(
        d, "doc_id", F.encode(F.col("text"), "UTF-8"), "application/octet-stream"
    )


@register(
    "mm_probe_audio",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, sha256(text) AS h, strlen(text) AS nb FROM documents
    )
    SELECT doc_id,
           CAST(8000 * (1 + {_hx(0)} % 5) AS INT) AS sample_rate,
           CAST(1 + {_hx(1)} % 2 AS INT) AS channels,
           CAST(nb * 20 AS BIGINT) AS duration_ms,
           'stub-pcm' AS codec
    FROM d
    """,
    tags=("ext", "multimodal"),
)
def mm_probe_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio probe: binary → typed audio metadata struct through an
    Arrow-batched mapInPandas stage (the ffprobe/soundfile slot). The
    sha256-derived stub makes the full Python round-trip exact-oracle-
    checkable."""
    return M.probe_audio(_binary_docs(spark, sf_dir))


@register(
    "mm_probe_video",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, sha256(text) AS h, strlen(text) AS nb FROM documents
    )
    SELECT doc_id,
           CAST(12 + 6 * ({_hx(0)} % 3) AS INT) AS fps,
           CAST(320 + 16 * ({_hx(1)} % 8) AS INT) AS width,
           CAST(240 + 16 * ({_hx(2)} % 8) AS INT) AS height,
           CAST(nb * 40 AS BIGINT) AS duration_ms,
           'stub-raw' AS codec
    FROM d
    """,
    tags=("ext", "multimodal"),
)
def mm_probe_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video probe — same contract as mm_probe_audio."""
    return M.probe_video(_binary_docs(spark, sf_dir))


N_FRAMES = 4

_FRAME_SLICE_SQL = f"""
frames AS (
    SELECT doc_id,
           f AS frame_no,
           substr(text, CAST(floor(f * strlen(text) / {N_FRAMES}) AS INTEGER) + 1,
                  CAST(floor(strlen(text) / {N_FRAMES}) AS INTEGER)) AS slice
    FROM documents, (SELECT unnest([0, 1, 2, 3]) AS f)
)
"""


@register(
    "mm_frame_hash",
    oracle=f"""
    WITH {_FRAME_SLICE_SQL}
    SELECT doc_id, frame_no,
           sha256(slice) AS frame_hash,
           strlen(slice) AS frame_bytes
    FROM frames
    """,
    tags=("ext", "multimodal"),
)
def mm_frame_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame slicing materialized: each sampled (offset, span) window is
    cut out of the binary payload JVM-side (binary substring — no Python)
    and content-addressed. The documents fixture is pure ASCII, so
    DuckDB's character substr slices the identical bytes — the oracle
    proves byte-faithful slicing."""
    sliced = M.slice_frames(_binary_docs(spark, sf_dir), N_FRAMES)
    return sliced.select(
        "doc_id",
        "frame_no",
        "frame_hash",
        F.octet_length("frame_content").alias("frame_bytes"),
    )


@register(
    "mm_frame_features",
    oracle=f"""
    WITH {_FRAME_SLICE_SQL},
    fh AS (
        SELECT doc_id, frame_no, sha256(slice) AS h FROM frames
    )
    SELECT doc_id, frame_no,
           round({_hx(0)} / 255.0, 6) AS f0,
           round({_hx(1)} / 255.0, 6) AS f1,
           round({_hx(2)} / 255.0, 6) AS f2,
           round({_hx(3)} / 255.0, 6) AS f3,
           'stub-sha256' AS decoder
    FROM fh
    """,
    tags=("ext", "multimodal"),
)
def mm_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame features: the SECOND mapInPandas stage, running over the
    exploded frame rows so per-frame work parallelizes by frame, not by
    blob (ROADMAP item: frame fan-out then decode). Stub features derive
    from each frame's sha256 → exact oracle across slice + explode +
    Arrow round-trip."""
    sliced = M.slice_frames(_binary_docs(spark, sf_dir), N_FRAMES)
    feats = M.frame_features(sliced)
    return feats.select(
        "doc_id",
        "frame_no",
        F.col("features")[0].alias("f0"),
        F.col("features")[1].alias("f1"),
        F.col("features")[2].alias("f2"),
        F.col("features")[3].alias("f3"),
        "decoder",
    )


def _mm_pool_sql() -> str:
    """Order-pinned mean pool of the 4 per-frame stub features into a
    4-dim document vector — frame terms summed in explicit frame order,
    NOT avg() (whose fold order follows partitioning)."""
    ff = (
        "ff AS (SELECT doc_id, frame_no, "
        + ", ".join(f"round({_hx(j)} / 255.0, 6) AS f{j}" for j in range(4))
        + " FROM fh)"
    )
    pools = []
    for j in range(4):
        terms = " + ".join(
            f"max(CASE WHEN frame_no = {k} THEN f{j} END)"
            for k in range(N_FRAMES)
        )
        pools.append(f"round(({terms}) / {float(N_FRAMES)}, 6) AS g{j}")
    return (
        ff
        + ", p AS (SELECT doc_id, "
        + ", ".join(pools)
        + " FROM ff GROUP BY doc_id)"
    )


def _mm_neardup_oracle() -> str:
    bucket = "concat(" + ", ".join(
        f"CAST(g{j} >= 0.5 AS INTEGER)" for j in range(4)
    ) + ")"
    dot = " + ".join(f"a.g{j} * b.g{j}" for j in range(4))
    na = " + ".join(f"a.g{j} * a.g{j}" for j in range(4))
    nb = " + ".join(f"b.g{j} * b.g{j}" for j in range(4))
    return f"""
    WITH {_FRAME_SLICE_SQL},
    fh AS (SELECT doc_id, frame_no, sha256(slice) AS h FROM frames),
    {_mm_pool_sql()},
    bk AS (SELECT *, {bucket} AS bucket FROM p)
    SELECT pa, pb, cosine_sim FROM (
        SELECT a.doc_id AS pa, b.doc_id AS pb,
               round(({dot}) / (sqrt({na}) * sqrt({nb})), 6) AS cosine_sim
        FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    ) WHERE cosine_sim >= 0.999
    """


@register(
    "mm_neardup_features",
    oracle=_mm_neardup_oracle(),
    tags=("ext", "multimodal", "similarity"),
)
def mm_neardup_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-vector near-dup over MEDIA: frame features mean-pooled
    into a per-document vector, candidate pairs blocked on the vector's
    quantized signature (one bit per dimension — same bucket ⇒ possible
    near-dup), cosine verified only within blocks. This is the mm twin
    of the embedding near-dup stack — content-address dedup
    (mm_dedup_content) catches byte-identical media, feature near-dup is
    the slot that catches re-encoded media once a real decoder replaces
    the sha256 stub (with stub features, survivors are exactly the
    identical-payload pairs — cosine 1.0 — plus any random same-block
    high-cosine pair, deterministically).

    Determinism: the pool is ONE scalar aggregate per (frame, dim)
    summed in explicit frame order, not avg() — avg's fold order follows
    partitioning, so a value landing on a rounding boundary could flip
    between runs; here both engines execute the identical scalar sums.
    Scale: blocking keys the self-join (no all-pairs), the same plan
    shape as dedup_simhash."""
    sliced = M.slice_frames(_binary_docs(spark, sf_dir), N_FRAMES)
    feats = M.frame_features(sliced)
    # pool lanes / folds / bucket / cosine as parsed strings (§1.2
    # driver cost, the expr-batching lever): the Column-builder loops
    # were ~0.35 s of py4j round-trips per plan build; D-suffixed
    # literals pin the same DOUBLE constants the python-float path
    # built, and SQL `+` is left-associative so the folds are the
    # identical trees
    pooled = feats.groupBy("doc_id").agg(
        *[
            F.expr(
                f"max(CASE WHEN frame_no = {k} THEN features[{j}] END)"
                f" AS f{j}_{k}"
            )
            for j in range(4)
            for k in range(N_FRAMES)
        ]
    )
    p = pooled.selectExpr(
        "doc_id",
        *[
            "round(("
            + " + ".join(f"f{j}_{k}" for k in range(N_FRAMES))
            + f") / {float(N_FRAMES)!r}D, 6) AS g{j}"
            for j in range(4)
        ],
    )
    bucket = "concat_ws('', " + ", ".join(
        f"CAST(CAST((g{j} >= 0.5D) AS INT) AS STRING)" for j in range(4)
    ) + ")"
    bk = p.selectExpr("*", f"{bucket} AS bucket")
    a, b = bk.alias("a"), bk.alias("b")
    dot = " + ".join(f"a.g{j} * b.g{j}" for j in range(4))
    na = " + ".join(f"a.g{j} * a.g{j}" for j in range(4))
    nb = " + ".join(f"b.g{j} * b.g{j}" for j in range(4))
    return (
        a.join(b, F.expr("a.bucket = b.bucket AND a.doc_id < b.doc_id"))
        .selectExpr(
            "a.doc_id AS pa",
            "b.doc_id AS pb",
            f"round(({dot}) / (sqrt({na}) * sqrt({nb})), 6) AS cosine_sim",
        )
        .filter(F.expr("cosine_sim >= 0.999D"))
    )


# ---------------------------------------------------------------------------
# Snapshot refs (branch/tag)
# ---------------------------------------------------------------------------


@register(
    "snap_tag_read",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey % 3 = 0
    """,
    tags=("parity", "snapshot"),
)
def snap_tag_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-ref time travel (Iceberg branch/tag): a tag created at the
    first commit still reads that exact snapshot after later commits
    advance the table — and survives snapshot GC (refs pin their
    snapshots)."""
    from component_iceberg_spark.plans.queries_mutation import _warehouse

    cat = _warehouse(sf_dir, "refs")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cat.create_or_replace("ns", "orders", o.filter(F.col("o_orderkey") % 3 == 0))
    cat.create_tag("ns", "orders", "baseline")
    cat.append("ns", "orders", o.filter(F.col("o_orderkey") % 3 != 0))
    cat.expire_snapshots("ns", "orders", keep_last=1)
    return cat.read(spark, "ns", "orders", ref="baseline")


# ---------------------------------------------------------------------------
# Deterministic sampling + contamination screening
# ---------------------------------------------------------------------------

# DuckDB twin of sampling.hash_uniform: first 4 hex chars of
# md5(CAST(id AS VARCHAR) || salt) as a 16-bit integer / 65536
def _uniform_sql(id_expr: str, salt: str) -> str:
    m = f"md5(CAST({id_expr} AS VARCHAR) || '{salt}')"
    digits = [
        f"(strpos('0123456789abcdef', substr({m}, {i}, 1)) - 1)"
        for i in range(1, 5)
    ]
    val = f"((({digits[0]} * 16 + {digits[1]}) * 16 + {digits[2]}) * 16 + {digits[3]})"
    return f"({val} / 65536.0)"


@register(
    "ext_sample_deterministic",
    oracle=f"""
    SELECT doc_id, source FROM documents
    WHERE {_uniform_sql('doc_id', 's0')} < 0.25
    """,
    tags=("ext", "sampling"),
)
def ext_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 25% sample: md5-hash bucketing, a pure filter — the
    same ids survive on any cluster size, partitioning, or engine (unlike
    df.sample, whose output is partitioning-dependent). The oracle proves
    engine-independence directly."""
    from component_iceberg_spark.operators import sampling as SA

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return SA.sample_deterministic(d, "doc_id", 0.25)


@register(
    "ext_sample_stratified",
    oracle=f"""
    SELECT doc_id, source FROM documents
    WHERE {_uniform_sql('doc_id', 's0')} <
          CASE source WHEN 'src0' THEN 0.8 WHEN 'src1' THEN 0.3 ELSE 0.05 END
    """,
    tags=("ext", "sampling"),
)
def ext_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain re-weighting: per-source keep fractions (80% src0, 30%
    src1, 5% everything else) as ONE CASE-gated hash filter — no
    per-stratum jobs, no shuffle."""
    from component_iceberg_spark.operators import sampling as SA

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return SA.sample_stratified(
        d, "doc_id", "source", {"src0": 0.8, "src1": 0.3},
        default_fraction=0.05,
    )


@register(
    "ext_split_train_test",
    oracle=f"""
    SELECT doc_id, source,
           CASE WHEN {_uniform_sql('doc_id', 'split')} < 0.8 THEN 'train'
                WHEN {_uniform_sql('doc_id', 'split')} < 0.9 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
    tags=("ext", "sampling"),
)
def ext_split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjoint 80/10/10 train/val/test assignment via cumulative
    thresholds on one deterministic hash draw — unlike two independent
    samples, the splits are exhaustive and can never overlap, and a doc
    can never migrate between train and eval across runs, partitionings,
    or engines (the leakage-relevant property, proven by the oracle)."""
    from component_iceberg_spark.operators import sampling as SA

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return SA.split_assign(
        d, "doc_id", [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    )


@register(
    "ext_contamination_screen",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    bench AS (SELECT doc AS bench_doc, shingle FROM sh WHERE doc % 50 = 0),
    corpus AS (SELECT doc, shingle FROM sh),
    ov AS (
        SELECT corpus.doc, bench.bench_doc, count(*) AS overlap
        FROM corpus JOIN bench USING (shingle)
        WHERE corpus.doc <> bench.bench_doc
        GROUP BY 1, 2
        HAVING count(*) >= 5
    )
    SELECT doc, count(*) AS n_benchmarks, max(overlap) AS max_overlap
    FROM ov GROUP BY doc
    """,
    tags=("ext", "sampling", "dedup"),
)
def ext_contamination_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination gate: corpus docs sharing ≥5 distinct
    3-gram shingles with any benchmark doc (benchmark = every 50th doc,
    standing in for an eval set). One shingle-keyed join; the benchmark
    side broadcasts under AQE at real scale."""
    from component_iceberg_spark.operators import sampling as SA

    d = load_table(spark, sf_dir, "documents")
    corpus_sh = D.doc_shingles(d, "doc_id", "text")
    bench_sh = D.doc_shingles(
        d.filter(F.col("doc_id") % 50 == 0), "doc_id", "text"
    )
    return SA.contamination_screen(corpus_sh, bench_sh, min_overlap=5)


_CONTAIN_DF_CAP = 50   # shingles in more docs than this carry no signal
_CONTAIN_MIN_SIZE = 5  # inner doc must have >= this many discriminative shingles
_CONTAIN_THRESHOLD = 0.6


@register(
    "dedup_containment",
    oracle=f"""
    WITH {_SHINGLE_CTE},
    dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
    disc AS (
        SELECT doc, sh.shingle FROM sh JOIN dfreq USING (shingle)
        WHERE df <= {_CONTAIN_DF_CAP}
    ),
    sz AS (SELECT doc, count(*) AS n FROM disc GROUP BY 1),
    ov AS (
        SELECT a.doc AS inner_doc, b.doc AS outer_doc, count(*) AS shared
        FROM disc a JOIN disc b USING (shingle)
        WHERE a.doc <> b.doc
        GROUP BY 1, 2
    )
    SELECT inner_doc, outer_doc,
           CAST(shared AS BIGINT) AS shared,
           CAST(n AS BIGINT) AS inner_size,
           round(shared * 1.0 / n, 6) AS containment
    FROM ov JOIN sz ON sz.doc = ov.inner_doc
    WHERE n >= {_CONTAIN_MIN_SIZE}
      AND shared * 1.0 / n >= {_CONTAIN_THRESHOLD}
    """,
    tags=("ext", "dedup", "text"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment detection — "is doc A mostly contained in
    doc B" (quotes, excerpts, boilerplate-wrapped copies), the primitive
    symmetric Jaccard misses: a short excerpt has low Jaccard against
    its source but containment ≈ 1. Score = |S(A)∩S(B)| / |S(A)| over
    DISCRIMINATIVE 3-gram shingles only (document frequency ≤ 50 —
    ultra-common shingles carry no signal AND are exactly the join keys
    that explode the candidate set; the df-cap is the PPJoin-style
    screening rule, applied identically in both engines so the oracle
    stays exact). Shape: shingle-df aggregate → inverted-index
    self-join on rare shingles → per-pair count — candidates bounded by
    df-cap² per shingle, never all-pairs."""
    from component_iceberg_spark.plans.cache import session_cached

    # the discriminative-shingle relation feeds THREE consumers (both
    # join sides + the size aggregate); persist so the shingle regex work
    # and the df-cap join run once, not per consumer. Retention is
    # intentional and bounded — one cached relation per (session, sf_dir),
    # reused on repeat calls and evicted on session turnover (cache.py).
    def _build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        sh = D.doc_shingles(d, "doc_id", "text")
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        return sh.join(
            dfreq.filter(F.col("df") <= _CONTAIN_DF_CAP).select("shingle"),
            "shingle",
        )

    disc = session_cached(spark, ("contain_disc", sf_dir), _build)
    sz = disc.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    ov = (
        disc.alias("a")
        .join(disc.alias("b"), "shingle")
        .filter(F.col("a.doc") != F.col("b.doc"))
        .groupBy(
            F.col("a.doc").alias("inner_doc"),
            F.col("b.doc").alias("outer_doc"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    ratio = F.col("shared") * 1.0 / F.col("n")
    return (
        ov.join(sz, ov["inner_doc"] == sz["doc"])
        .filter(
            (F.col("n") >= _CONTAIN_MIN_SIZE)
            & (ratio >= _CONTAIN_THRESHOLD)
        )
        .select(
            "inner_doc",
            "outer_doc",
            "shared",
            F.col("n").alias("inner_size"),
            F.round(ratio, 6).alias("containment"),
        )
    )


@register(
    "snap_delete_mor",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey % 7 <> 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey % 7 = 0 AND o_orderkey < 50
    """,
    tags=("parity", "snapshot"),
)
def snap_delete_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE (Iceberg v2 equality deletes): the doomed
    keys land in a small delete file — no data rewrite — and a later
    append of some deleted keys is NOT masked (delete entries scope to
    the data dirs visible at delete time, Iceberg's sequence-number
    rule). The read anti-joins the delete file per scoped group."""
    from component_iceberg_spark.plans.queries_mutation import _warehouse

    cat = _warehouse(sf_dir, "mor")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cat.create_or_replace("ns", "orders", o)
    doomed = o.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey")
    cat.delete_keys(spark, "ns", "orders", doomed, ["o_orderkey"])
    reborn = o.filter((F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") < 50))
    cat.append("ns", "orders", reborn)
    return cat.read(spark, "ns", "orders")


@register(
    "snap_delete_mor_positional",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey % 10 = 0 AND o_orderkey < 30
    """,
    tags=("parity", "snapshot"),
)
def snap_delete_mor_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read POSITION delete (deletes by physical (file_path,
    pos) address; the equality format is ``snap_delete_mor``). The
    scenario deletes specific duplicate OCCURRENCES — a row identity no
    equality delete can express, because both copies carry identical
    column values:

    1. commit the orders table, then append exact copies of every
       o_orderkey % 10 == 0 row (duplicates by VALUE);
    2. author a position delete for every occurrence AFTER the first
       per key: ``read_with_positions`` exposes each row's physical
       (file, ordinal) address, a key-partitioned row_number orders the
       occurrences, and ``delete_positions`` writes the rn >= 2
       addresses as a deletion vector (the Iceberg v3 successor of the
       v2 position-delete file) — a metadata-only commit, no data
       rewrite (at 100 TB the window shuffles (key, address) pairs
       only, never payload columns);
    3. append fresh copies of the o_orderkey < 30 duplicates — these
       must NOT be masked (positions name FILES, so later rows are
       physically out of scope: Iceberg's sequence-number rule with an
       even stronger address-level guarantee).

    The read masks each scoped group by (file, ordinal). Which copy is
    doomed follows the (random) data-file paths, so the DV is either one
    contiguous run over the appended file (stored as ranges, applied by
    the broadcast range probe) or every tenth row of the original file
    (dense scattered, applied by the anti-join) — exact either way.
    ``compact`` materializes pending position deletes exactly like
    equality ones (pinned in tests/test_snaptable.py), and
    ``compact_manifests`` refuses to fold DV-covered dirs (the fold
    hard-links files under new basenames, which would orphan the stored
    addresses)."""
    from pyspark.sql import Window

    from component_iceberg_spark.plans.queries_mutation import _warehouse

    cat = _warehouse(sf_dir, "mor_pos")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    dups = o.filter(F.col("o_orderkey") % 10 == 0)
    cat.create_or_replace("ns", "orders", o)
    cat.append("ns", "orders", dups)
    addressed = cat.read_with_positions(spark, "ns", "orders")
    w = Window.partitionBy("o_orderkey").orderBy(
        cat.POS_FILE_COL, cat.POS_IDX_COL
    )
    doomed = (
        addressed.select(
            "o_orderkey", cat.POS_FILE_COL, cat.POS_IDX_COL,
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") >= 2)
        .select(cat.POS_FILE_COL, cat.POS_IDX_COL)
    )
    cat.delete_positions(spark, "ns", "orders", doomed)
    reborn = dups.filter(F.col("o_orderkey") < 30)
    cat.append("ns", "orders", reborn)
    return cat.read(spark, "ns", "orders")


@register(
    "snap_rewrite_pos_deletes",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0
    """,
    tags=("parity", "snapshot"),
)
def snap_rewrite_pos_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-file maintenance (Iceberg ``rewrite_position_delete_files``
    analogue): two position-delete commits accrete two small DVs — each
    costs the read one apply pass — ``rewrite_deletes_to_dv`` folds
    them into ONE stamped DV (deduped, dead addresses dropped) without
    touching data files, and the read after the rewrite must equal the
    read before it. Scope-widening to the union is safe precisely
    because positions are physically file-scoped (see the method
    docstring); the read after maintenance runs ONE apply pass where it
    ran two."""
    from component_iceberg_spark.plans.queries_mutation import _warehouse

    cat = _warehouse(sf_dir, "pos_rewrite")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cat.create_or_replace("ns", "orders", o)
    addressed = cat.read_with_positions(spark, "ns", "orders")
    cat.delete_positions(
        spark, "ns", "orders",
        addressed.filter(F.col("o_orderkey") % 5 == 0).select(
            cat.POS_FILE_COL, cat.POS_IDX_COL
        ),
    )
    # second authoring pass against the snapshot table is refused while
    # deletes are pending, so both doomed sets come from the SAME
    # pre-delete addressing (positions are stable — files are immutable)
    cat.delete_positions(
        spark, "ns", "orders",
        addressed.filter(F.col("o_orderkey") % 7 == 0).select(
            cat.POS_FILE_COL, cat.POS_IDX_COL
        ),
    )
    cat.rewrite_deletes_to_dv(spark, "ns", "orders")
    return cat.read(spark, "ns", "orders")


@register(
    "snap_delete_dv",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey % 3 <> 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey % 3 = 0 AND o_orderkey < 30
    """,
    tags=("parity", "snapshot"),
)
def snap_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE as a DELETION VECTOR (the Iceberg v3 /
    Delta-DV delete format) at DENSE SCATTERED density: a third of the
    table, every third key. The DV entry stores ONE row per touched
    data file with the sorted array of deleted ordinals — storage stays
    one row per file whatever the density. The read APPLY is
    density-gated (``_dv_apply_mode``): this dense third exceeds the
    probe gate, so the read explodes the DV into one (file, pos)
    anti-join — bounded probe work and no positions-sized broadcast —
    while a sparse DV applies as the shuffle-free broadcast probe (both
    branches pinned in tests/test_shuffle_volume.py). A later append of
    deleted keys must NOT be masked — DV addresses name files.
    Maintenance: ``rewrite_deletes_to_dv`` (``snap_rewrite_to_dv``);
    fold/compaction contracts pinned in tests/test_snaptable.py."""
    from component_iceberg_spark.plans.queries_mutation import _warehouse

    cat = _warehouse(sf_dir, "mor_dv")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cat.create_or_replace("ns", "orders", o)
    addressed = cat.read_with_positions(spark, "ns", "orders")
    doomed = addressed.filter(F.col("o_orderkey") % 3 == 0).select(
        cat.POS_FILE_COL, cat.POS_IDX_COL
    )
    cat.delete_positions(spark, "ns", "orders", doomed)
    reborn = o.filter(
        (F.col("o_orderkey") % 3 == 0) & (F.col("o_orderkey") < 30)
    )
    cat.append("ns", "orders", reborn)
    return cat.read(spark, "ns", "orders")


@register(
    "snap_delete_dv_ranges",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey > (SELECT CAST(floor(max(o_orderkey) * 0.4) AS BIGINT)
                        FROM orders)
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey <= (SELECT CAST(floor(max(o_orderkey) * 0.4) AS BIGINT)
                         FROM orders)
      AND o_orderkey < 30
    """,
    tags=("parity", "snapshot"),
)
def snap_delete_dv_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion vector at DENSE-CONTIGUOUS density — the realistic dense
    shape (a time-range / key-band delete: 40% of the table in one
    contiguous band). Ordinals collapse to a handful of (start, end)
    RUNS per file, so the writer stores the ranges layout and the read
    applies it as a shuffle-free broadcast range probe — run-count-
    bounded payload and per-row work at ANY delete density — where the
    scattered-dense twin (``snap_delete_dv``, every 3rd key) must fall
    back to the anti-join.
    Same physical scoping: a later re-append of deleted keys is not
    masked. Plan choice pinned in tests/test_shuffle_volume.py; rows
    oracle-exact regardless of the representation (physical, not
    semantic)."""
    from component_iceberg_spark.plans.queries_mutation import _warehouse

    cat = _warehouse(sf_dir, "mor_dv_ranges")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    ).orderBy("o_orderkey")  # files carry contiguous key bands
    cat.create_or_replace("ns", "orders", o)
    hi = o.agg(F.max("o_orderkey")).collect()[0][0]
    band = int(hi * 0.4)
    addressed = cat.read_with_positions(spark, "ns", "orders")
    cat.delete_positions(
        spark, "ns", "orders",
        addressed.filter(F.col("o_orderkey") <= band).select(
            cat.POS_FILE_COL, cat.POS_IDX_COL
        ),
    )
    reborn = o.filter(
        (F.col("o_orderkey") <= band) & (F.col("o_orderkey") < 30)
    )
    cat.append("ns", "orders", reborn)
    return cat.read(spark, "ns", "orders")


@register(
    "snap_update_mor",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 100 = 7
                THEN o_totalprice + 100000 ELSE o_totalprice
           END AS o_totalprice,
           CASE WHEN o_orderkey % 100 = 7
                THEN 'P' ELSE o_orderstatus
           END AS o_orderstatus
    FROM orders
    """,
    tags=("parity", "snapshot"),
)
def snap_update_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPDATE (Iceberg ``UPDATE … SET`` with
    ``write.update.mode=merge-on-read`` — the MoR twin of
    ``snap_update_where``): ONE atomic commit masks the matched rows
    with a deletion vector AND appends their updated images as one
    small data dir — no candidate dir rewritten, the delete-file +
    re-insert pair Iceberg's MoR UPDATE emits. Update cost is a pruned
    scan plus a matched-rows-sized write (~1% here); the rewrite defers
    to compaction. The oracle replays the SET as a CASE over the full
    table — exact, pinning that old images are masked, new images
    visible, and untouched rows byte-identical. No-rewrite +
    compact-materializes pinned in tests/test_snaptable.py."""
    from component_iceberg_spark.plans.queries_mutation import _warehouse

    cat = _warehouse(sf_dir, "mor_update")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    cat.create_or_replace("ns", "orders", o)
    cat.update_where_mor(
        spark, "ns", "orders", "o_orderkey % 100 = 7",
        {"o_totalprice": "o_totalprice + 100000",
         "o_orderstatus": "'P'"},
    )
    return cat.read(spark, "ns", "orders")


@register(
    "snap_update_auto",
    oracle="""
    SELECT 'sparse' AS lane, o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 100 = 7
                THEN o_totalprice + 100000 ELSE o_totalprice
           END AS o_totalprice
    FROM orders
    UNION ALL
    SELECT 'dense', o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 3 = 0
                THEN o_totalprice + 100000 ELSE o_totalprice
           END AS o_totalprice
    FROM orders
    UNION ALL
    SELECT 'range', o_orderkey, o_custkey,
           CASE WHEN o_orderkey > (
               SELECT max(o_orderkey) FROM (
                   SELECT o_orderkey FROM orders
                   ORDER BY o_orderkey
                   LIMIT (SELECT count(*) // 25 FROM orders)
               )
           )
                THEN o_totalprice + 100000 ELSE o_totalprice
           END AS o_totalprice
    FROM orders
    """,
    tags=("parity", "snapshot"),
)
def snap_update_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE with the physical strategy chosen per statement
    (``update_where_auto``, the UPDATE twin of ``snap_delete_auto`` —
    together they complete the auto-dispatch matrix over both mutation
    verbs): a ~1% predicate must go merge-on-read (DV mask + image
    append, zero candidate dirs rewritten), a ~33% predicate must go
    copy-on-write (MoR would nearly double the dirs' bytes and tax
    every read until compaction), and a ~96% RANGE predicate over a
    range-organized table exercises the r14 STATS-SERVED path in the
    CoW direction: footer row-group bounds prove at least the 7
    non-straddling files (~87.5%) match, so copy-on-write dispatches
    count-free — the delete twin's range lane covers the MoR
    direction. The query verifies WHICH representation each lane
    produced by manifest inspection — a wrong dispatch fails the gate;
    rows are oracle-exact either way because the strategy is physical,
    not semantic."""
    from component_iceberg_spark.plans.queries_mutation import _warehouse

    cat = _warehouse(sf_dir, "update_auto")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    # one source of truth: the lane tuple builds the predicate the engine
    # runs (the oracle necessarily restates it as SQL text)
    def _mod_lane(lane: str, mod: int, rem: int) -> DataFrame:
        cat.create_or_replace("ns", lane, o)
        pred = f"o_orderkey % {mod} = {rem}"
        sid = cat.update_where_auto(
            spark, "ns", lane, pred,
            {"o_totalprice": "o_totalprice + 100000"},
        )
        deletes = cat._manifest("ns", lane, sid)["deletes"]
        if lane == "sparse" and [e.get("mode") for e in deletes] != ["dv"]:
            raise AssertionError(
                f"sparse lane must dispatch to MoR (DV entry): {deletes}"
            )
        if lane == "dense" and deletes:
            raise AssertionError(
                f"dense lane must dispatch to copy-on-write: {deletes}"
            )
        return cat.read(spark, "ns", lane).select(
            F.lit(lane).alias("lane"),
            "o_orderkey", "o_custkey", "o_totalprice",
        )

    def _range_lane() -> DataFrame:
        # stats-served CoW lane: footer lower bound (7 of 8 range-disjoint
        # files certainly match, zero nulls) clears COW_DENSITY with no
        # dispatch job
        k = (
            o.orderBy("o_orderkey").limit(o.count() // 25)
            .agg(F.max("o_orderkey")).first()[0]
        )
        cat.create_or_replace(
            "ns", "range", o.repartitionByRange(8, "o_orderkey")
        )
        sid = cat.update_where_auto(
            spark, "ns", "range", f"o_orderkey > {k}",
            {"o_totalprice": "o_totalprice + 100000"},
        )
        deletes = cat._manifest("ns", "range", sid)["deletes"]
        if deletes:
            raise AssertionError(
                f"range lane must dispatch to copy-on-write: {deletes}"
            )
        return cat.read(spark, "ns", "range").select(
            F.lit("range").alias("lane"),
            "o_orderkey", "o_custkey", "o_totalprice",
        )

    # three independent tables, one per lane: stage/mutate/verify them
    # overlapped (guide §2.6 — same rationale as snap_delete_auto)
    lanes = run_concurrently(
        lambda: _mod_lane("sparse", 100, 7),
        lambda: _mod_lane("dense", 3, 0),
        _range_lane,
    )
    return lanes[0].unionByName(lanes[1]).unionByName(lanes[2])


@register(
    "snap_rewrite_to_dv",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey % 5 <> 0 AND o_orderkey % 7 <> 0
    """,
    tags=("parity", "snapshot"),
)
def snap_rewrite_to_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense delete maintenance: two scattered position-delete commits
    accrete against the same table, then ``rewrite_deletes_to_dv``
    folds BOTH into a single deletion vector (dead addresses dropped,
    scope unioned) without touching data files — the DV-era
    ``rewrite_position_delete_files``. The read after the rewrite must
    equal the read before it; afterwards the read pays ONE apply pass
    where it paid one per entry (the folded entry carries position
    stats, so the density gate picks broadcast probe vs anti-join
    without a job — this ~31%-doomed fold lands on the anti-join
    branch). The same fold upgrades a table's legacy v2 positional
    files into a v3 DV (pinned in tests/test_snaptable.py)."""
    from component_iceberg_spark.plans.queries_mutation import _warehouse

    cat = _warehouse(sf_dir, "dv_rewrite")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cat.create_or_replace("ns", "orders", o)
    addressed = cat.read_with_positions(spark, "ns", "orders")
    # both doomed sets from the SAME pre-delete addressing (positions
    # are stable — files are immutable; authoring over pending deletes
    # is refused)
    cat.delete_positions(
        spark, "ns", "orders",
        addressed.filter(F.col("o_orderkey") % 5 == 0).select(
            cat.POS_FILE_COL, cat.POS_IDX_COL
        ),
    )
    cat.delete_positions(
        spark, "ns", "orders",
        addressed.filter(F.col("o_orderkey") % 7 == 0).select(
            cat.POS_FILE_COL, cat.POS_IDX_COL
        ),
    )
    cat.rewrite_deletes_to_dv(spark, "ns", "orders")
    return cat.read(spark, "ns", "orders")


@register(
    "snap_dv_ranges_stored",
    oracle="""
    WITH b AS (
      SELECT CAST(floor(max(o_orderkey) * 0.3) AS BIGINT) AS b1,
             CAST(floor(max(o_orderkey) * 0.5) AS BIGINT) AS b2,
             CAST(floor(max(o_orderkey) * 0.6) AS BIGINT) AS b3
      FROM orders
    )
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders, b
    WHERE NOT (o_orderkey <= b1 OR (o_orderkey >= b2 AND o_orderkey <= b3))
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders, b
    WHERE o_orderkey <= b1 AND o_orderkey < 30
    """,
    tags=("parity", "snapshot"),
)
def snap_dv_ranges_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-compressed DV STORAGE (r15 — the Iceberg-v3 roaring-bitmap
    analogue on this container's plain-parquet layout): a contiguous
    band delete persists ``(file_path, starts, ends)`` run arrays
    directly — entry ``layout: "ranges"``, runs-sized bytes instead of
    one long per doomed row — and the read broadcasts the stored file
    as-is. The scenario drives the full layout lifecycle and VERIFIES
    each step in-query (manifest inspection — a wrong layout fails the
    gate): a ~30% prefix-band DV stores as ranges; a second band lands
    as a second DV; ``rewrite_deletes_to_dv`` folds both into ONE
    ranges-layout DV (each entry round-trips through position
    expansion and re-compresses); a re-append of deleted keys is not
    masked (physical file scoping).
    Layout choice, stored-ranges plan, and write fan-out pinned in
    tests/test_snaptable.py::test_dv_ranges_storage_layout and
    ::test_dv_write_entry_fans_out_large_scattered."""
    from component_iceberg_spark.plans.queries_mutation import _warehouse

    cat = _warehouse(sf_dir, "dv_ranges_stored")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    ).orderBy("o_orderkey")  # files carry contiguous key bands
    cat.create_or_replace("ns", "orders", o)
    hi = o.agg(F.max("o_orderkey")).collect()[0][0]
    b1, b2, b3 = int(hi * 0.3), int(hi * 0.5), int(hi * 0.6)
    addressed = cat.read_with_positions(spark, "ns", "orders")
    # both doomed sets from the SAME pre-delete addressing (authoring
    # over pending deletes is refused; files are immutable)
    cat.delete_positions(
        spark, "ns", "orders",
        addressed.filter(F.col("o_orderkey") <= b1).select(
            cat.POS_FILE_COL, cat.POS_IDX_COL
        ),
    )
    (entry,) = cat._manifest(
        "ns", "orders", cat._current_sid("ns", "orders")
    )["deletes"]
    if entry.get("layout") != "ranges":
        raise AssertionError(
            f"band delete must store the ranges layout: {entry}"
        )
    cat.delete_positions(
        spark, "ns", "orders",
        addressed.filter(
            (F.col("o_orderkey") >= b2) & (F.col("o_orderkey") <= b3)
        ).select(cat.POS_FILE_COL, cat.POS_IDX_COL),
    )
    cat.rewrite_deletes_to_dv(spark, "ns", "orders")
    (folded,) = cat._manifest(
        "ns", "orders", cat._current_sid("ns", "orders")
    )["deletes"]
    if folded.get("layout") != "ranges" or folded.get("mode") != "dv":
        raise AssertionError(
            f"band fold must re-compress to a ranges DV: {folded}"
        )
    reborn = o.filter(
        (F.col("o_orderkey") <= b1) & (F.col("o_orderkey") < 30)
    )
    cat.append("ns", "orders", reborn)
    return cat.read(spark, "ns", "orders")


@register(
    "snap_time_pruned_scan",
    oracle="""
    SELECT event_id, ts, user_id, event_type FROM events
    WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
    """,
    tags=("parity", "snapshot"),
)
def snap_time_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-TIME directory pruning — the most common pruning dimension
    of a log-structured lake, exercised end-to-end on ENGINE-WRITTEN
    dirs (r15): three time-banded commits land as three data dirs whose
    manifest stats carry the ts ranges, and a time-range read opens
    only the one dir that can match — the other two are skipped from
    the manifest alone, verified in-query (a scan that stops pruning on
    time fails the gate, not just a unit test). Made reliable by the
    r15 INT96 → TIMESTAMP_MICROS write-path fix: Spark's default INT96
    encoding carries NO footer statistics, so tz-adjusted timestamp
    columns written by the engine had no stats to prune with (the
    events fixture loads as TIMESTAMP_NTZ, which always wrote INT64 —
    both paths now prune; the micros fix is pinned separately in
    tests/test_snaptable.py::test_dispatch_bounds_timezone_guard).
    Fixed calendar boundaries keep the oracle deterministic across
    SFs (the events generator spans 2024-01-01..30 at every SF)."""
    from component_iceberg_spark.plans.queries_mutation import _warehouse

    cat = _warehouse(sf_dir, "time_pruned")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    w1, w2 = "2024-01-08 00:00:00", "2024-01-15 00:00:00"
    cat.create_or_replace("ns", "events", ev.filter(F.col("ts") < w1))
    cat.append(
        "ns", "events",
        ev.filter((F.col("ts") >= w1) & (F.col("ts") < w2)),
    )
    cat.append("ns", "events", ev.filter(F.col("ts") >= w2))
    pred = f"ts < '{w1}'"
    manifest = cat._manifest(
        "ns", "events", cat._current_sid("ns", "events")
    )
    cand, skipped = cat._prune_dirs(manifest, pred)
    if len(cand) != 1 or len(skipped) != 2:
        raise ValueError(
            "time-range predicate must open exactly the one banded dir "
            f"(candidates={cand}, skipped={skipped})"
        )
    return cat.read(spark, "ns", "events", where=pred)


@register(
    "snap_delete_auto",
    oracle="""
    SELECT 'sparse' AS lane, o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderkey % 97 <> 0
    UNION ALL
    SELECT 'dense', o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderkey % 3 <> 0
    UNION ALL
    SELECT 'range', o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey > (
        SELECT max(o_orderkey) FROM (
            SELECT o_orderkey FROM orders
            ORDER BY o_orderkey LIMIT (SELECT count(*) // 25 FROM orders)
        )
    )
    """,
    tags=("parity", "snapshot"),
)
def snap_delete_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE with the physical strategy chosen per statement
    (``delete_where_auto``): Iceberg pins merge-on-read vs
    copy-on-write statically per table (``write.delete.mode``); here
    the engine picks per statement — AQE-style runtime physical
    selection for mutations. Three lanes over the same source: a ~1%
    modulo predicate must author a deletion vector (metadata-sized
    commit, zero data files rewritten — the 100 TB-cheap path), a ~33%
    modulo predicate must rewrite copy-on-write (a dense DV would tax
    every read until compaction, and the deferred rewrite dominates
    anyway), and a ~4% RANGE predicate over a range-organized table
    exercises the r14 STATS-SERVED path: footer row-group bounds
    decide MoR count-free, so the statement pays exactly one
    candidate-dir scan — the verb's own (scan count pinned in
    tests/test_snaptable.py::test_auto_dispatch_stats_served_single_scan;
    modulo predicates are not simple conjuncts, so the first two lanes
    take the measured fallback — one combined matched+total
    aggregate). The query itself verifies WHICH representation each
    lane produced (manifest inspection — a wrong dispatch fails the
    gate, not just a unit test); row results are oracle-exact either
    way because the strategy is physical, not semantic."""
    from component_iceberg_spark.plans.queries_mutation import _warehouse

    cat = _warehouse(sf_dir, "delete_auto")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    def _mod_lane(lane: str, mod: int) -> DataFrame:
        cat.create_or_replace("ns", lane, o)
        sid = cat.delete_where_auto(
            spark, "ns", lane, f"o_orderkey % {mod} = 0"
        )
        deletes = cat._manifest("ns", lane, sid)["deletes"]
        if lane == "sparse" and [e.get("mode") for e in deletes] != ["dv"]:
            raise AssertionError(
                f"sparse lane must dispatch to a DV entry: {deletes}"
            )
        if lane == "dense" and deletes:
            raise AssertionError(
                f"dense lane must dispatch to copy-on-write: {deletes}"
            )
        return cat.read(spark, "ns", lane).select(
            F.lit(lane).alias("lane"),
            "o_orderkey", "o_custkey", "o_totalprice",
        )

    def _range_lane() -> DataFrame:
        # stats-served lane: 8 range-disjoint files, a ≤4th-percentile
        # range predicate — footer bounds prove the doomed fraction ≤ one
        # straddling file (~12.5%) < COW_DENSITY, so MoR dispatches with
        # no dispatch job at all
        k = (
            o.orderBy("o_orderkey").limit(o.count() // 25)
            .agg(F.max("o_orderkey")).first()[0]
        )
        cat.create_or_replace(
            "ns", "range", o.repartitionByRange(8, "o_orderkey")
        )
        sid = cat.delete_where_auto(
            spark, "ns", "range", f"o_orderkey <= {k}"
        )
        deletes = cat._manifest("ns", "range", sid)["deletes"]
        if [e.get("mode") for e in deletes] != ["dv"]:
            raise AssertionError(
                f"range lane must dispatch to a DV entry: {deletes}"
            )
        return cat.read(spark, "ns", "range").select(
            F.lit("range").alias("lane"),
            "o_orderkey", "o_custkey", "o_totalprice",
        )

    # the three lanes stage, mutate and verify three INDEPENDENT tables —
    # their serial execution was pure driver choice, so they run
    # overlapped (guide §2.6); each lane's create→mutate→inspect order is
    # preserved inside its thread
    lanes = run_concurrently(
        lambda: _mod_lane("sparse", 97),
        lambda: _mod_lane("dense", 3),
        _range_lane,
    )
    return lanes[0].unionByName(lanes[1]).unionByName(lanes[2])


@register(
    "snap_concurrent_commit",
    oracle="""
    WITH all_rows AS (
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        UNION ALL
        SELECT o_orderkey + 10000000, o_custkey, o_totalprice
        FROM orders WHERE o_orderkey % 10 = 3
    )
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM all_rows WHERE o_orderkey % 5 <> 0
    """,
    tags=("parity", "snapshot"),
)
def snap_concurrent_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimistic concurrency end-to-end (VERDICT r13 #3): two catalog
    handles over ONE warehouse — the per-batch-commit reality of the
    reference's writer against a live catalog
    (``wr-iceberg/src/component.py:107-110``). Writer B's APPEND lands
    in the middle of writer A's state-derived DELETE, between A's
    state read and its manifest publish. A must abort with
    ``CommitConflict`` — publishing its survivors at sid+1 would
    silently drop B's rows (the classic lost update) — sweep its
    unpublished data dir, and a caller retry on the new state must
    land cleanly on top of B's commit. The interleaving is STAGED
    deterministically (A's candidate scan triggers B's append the
    first time it runs): a wall-clock race can degenerate to
    sequential execution and prove nothing, while the staged schedule
    is exactly the worst-case legal interleaving the protocol must
    survive. The query verifies the protocol trace itself — exactly
    one conflict surfaced, snapshot ids contiguous, operations
    create→append→delete — then returns the final table, which the
    oracle reproduces as (orders ∪ rival batch) minus the deleted
    keys. Warehouse-hygiene twin (the aborted attempt's data dir is
    swept) pinned in tests/test_snaptable.py."""
    from component_iceberg_spark.io.snaptable import (
        CommitConflict,
        SnapCatalog,
    )
    from component_iceberg_spark.plans.queries_mutation import _warehouse

    cat_a = _warehouse(sf_dir, "concurrent")
    cat_b = SnapCatalog(cat_a.warehouse)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cat_a.create_or_replace("ns", "orders", o)
    rival = o.filter("o_orderkey % 10 = 3").withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(10000000)
    )
    state = {"raced": False, "conflicts": 0}
    real_read_dirs = SnapCatalog._read_dirs

    def racing_read_dirs(self, spark_, namespace, table, dirs, *a, **kw):
        out = real_read_dirs(self, spark_, namespace, table, dirs, *a, **kw)
        if not state["raced"]:
            state["raced"] = True
            cat_b.append("ns", "orders", rival)  # genuine rival commit
        return out

    cat_a._read_dirs = racing_read_dirs.__get__(cat_a)
    try:
        cat_a.delete_where(spark, "ns", "orders", "o_orderkey % 5 = 0")
    except CommitConflict:
        state["conflicts"] += 1
    if state["conflicts"] != 1:
        raise AssertionError(
            "the raced DELETE must surface CommitConflict, not publish "
            "a stale result over the rival append"
        )
    # the CommitConflict contract: state-derived commits are re-run by
    # the caller on the new state
    cat_a.delete_where(spark, "ns", "orders", "o_orderkey % 5 = 0")
    snaps = cat_a._snapshots("ns", "orders")
    ops = [s["operation"] for s in snaps]
    sids = [s["snapshot_id"] for s in snaps]
    if ops != ["replace", "append", "delete"] or sids != [1, 2, 3]:
        raise AssertionError(
            f"protocol trace must be replace(1)→append(2)→delete(3): "
            f"{list(zip(sids, ops))}"
        )
    return cat_a.read(spark, "ns", "orders")


@register(
    "snap_partitions_meta",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_rows,
           min(o_orderkey) AS min_o_orderkey,
           max(o_orderkey) AS max_o_orderkey
    FROM orders
    GROUP BY 1
    """,
    tags=("parity", "snapshot", "meta"),
)
def snap_partitions_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition metadata table (Iceberg ``t.partitions`` analogue):
    partition value, row count, and column min/max for a two-commit
    hive-partitioned table — answered WITHOUT reading a single
    data-column page. The mechanism is Spark's parquet AGGREGATE
    PUSHDOWN (DSv2 reader): COUNT(*)/MIN/MAX grouped by the partition
    columns come from file footers and hive directory values
    (PushedAggregation/PushedGroupBy in the scan, pinned by
    test_partitions_meta_pushdown), then a partition-count-sized
    re-aggregation merges the per-commit results. The oracle full-scans
    and must agree — the same trust contract ``snap_files_meta`` pins
    for manifest stats, here for footer stats. At 100 TB this is how
    partition skew is audited from metadata alone."""
    from component_iceberg_spark.plans.queries_mutation import _warehouse

    cat = _warehouse(sf_dir, "parts_meta")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    cat.create_or_replace(
        "ns", "orders", o.filter(F.col("o_orderkey") < 800),
        partition_by=["o_orderpriority"],
    )
    cat.append("ns", "orders", o.filter(F.col("o_orderkey") >= 800))
    return cat.partitions(
        spark, "ns", "orders", stat_cols=("o_orderkey",)
    )


@register(
    "snap_entries_meta",
    oracle="""
    SELECT CAST(0 AS INT) AS ordinal, CAST(3 AS BIGINT) AS n_files,
           (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0)
               AS n_rows
    UNION ALL
    SELECT CAST(1 AS INT), CAST(2 AS BIGINT),
           (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 1)
    """,
    tags=("parity", "snapshot", "meta"),
)
def snap_entries_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-data-FILE metadata table (Iceberg ``t.entries`` / pyiceberg
    ``inspect.entries`` analogue — the last metadata view in the
    inventory after snapshots/history/refs/files/partitions): one row
    per parquet file with commit ordinal, row count, row-group count
    and byte size, answered from file FOOTERS only — no data pages, no
    Spark job. The scenario pins the whole contract the cheap way: two
    commits written at known parallelism (3-file replace + 2-file
    append) roll up to per-commit (n_files, n_rows) that a full-scan
    oracle must reproduce — footer row counts are trusted exactly like
    manifest counts (`snap_files_meta`) and footer-stat pushdown
    (`snap_partitions_meta`). File-level lanes (per-file rows,
    row-group counts, sizes) are unit-pinned in
    tests/test_snaptable.py. At 100 TB this is the view a compaction
    decision reads: small-file skew INSIDE a commit, which ``files``
    (per-dir) cannot see."""
    from component_iceberg_spark.plans.queries_mutation import _warehouse

    cat = _warehouse(sf_dir, "entries_meta")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cat.create_or_replace(
        "ns", "orders", o.filter(F.col("o_orderkey") % 2 == 0).repartition(3)
    )
    cat.append(
        "ns", "orders", o.filter(F.col("o_orderkey") % 2 == 1).repartition(2)
    )
    return (
        cat.entries(spark, "ns", "orders")
        .groupBy("ordinal")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_rows").alias("n_rows"),
        )
    )


@register(
    "snap_all_manifests_meta",
    oracle="""
    SELECT CAST(0 AS INT) AS ordinal, 'data' AS content,
           CAST(1 AS BIGINT) AS n_entries, CAST(1 AS BIGINT) AS n_added,
           (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0) AS n_rows
    UNION ALL
    SELECT 1, 'data', 2, 1, (SELECT count(*) FROM orders)
    UNION ALL
    SELECT 2, 'data', 2, 0, (SELECT count(*) FROM orders)
    UNION ALL
    SELECT 2, 'deletes', 1, 1, NULL
    """,
    tags=("parity", "snapshot", "meta"),
)
def snap_all_manifests_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot manifest metadata table (Iceberg
    ``t.all_manifests`` / pyiceberg ``inspect.all_manifests`` — the one
    inspect view left after r11–r12 added history/refs/partitions/
    entries): one row per manifest entry per snapshot REFERENCING it,
    from manifests alone. The scenario pins the whole lifecycle the
    cheap way: replace (one data dir, added) → append (prior dir
    carried as existing, new dir added) → equality delete (both data
    dirs carried, one ``deletes``-content manifest added). Rolled up
    per (snapshot ordinal, content): entry count, how many the
    snapshot itself ADDED vs carried (Iceberg's added/existing manifest
    status), and the manifest row-count sum a full-scan oracle must
    reproduce (NULL for delete manifests — the metrics degradation
    contract). This is the view GC planning reads: which snapshots
    still pin a dir = what expiry will actually free. Snapshot-count-
    sized, so the global ordinal window is metadata-sized by
    construction."""
    from component_iceberg_spark.plans.queries_mutation import _warehouse

    cat = _warehouse(sf_dir, "all_manifests")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cat.create_or_replace("ns", "orders", o.filter("o_orderkey % 2 = 0"))
    cat.append("ns", "orders", o.filter("o_orderkey % 2 = 1"))
    cat.delete_keys(
        spark, "ns", "orders",
        o.filter("o_orderkey % 1000 = 7").select("o_orderkey"),
        ["o_orderkey"],
    )
    from pyspark.sql import Window

    am = cat.all_manifests(spark, "ns", "orders")
    w = Window.orderBy("reference_snapshot_id")
    return (
        am.withColumn("ordinal", F.dense_rank().over(w) - 1)
        .groupBy("ordinal", "content")
        .agg(
            F.count(F.lit(1)).alias("n_entries"),
            F.sum(F.col("is_added").cast("int")).alias("n_added"),
            F.sum("n_rows").alias("n_rows"),
        )
    )


@register(
    "snap_all_data_files_meta",
    oracle="""
    SELECT CAST(0 AS INT) AS ordinal, CAST(3 AS BIGINT) AS n_files,
           (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0) AS n_rows
    UNION ALL
    SELECT 1, 5, (SELECT count(*) FROM orders)
    """,
    tags=("parity", "snapshot", "meta"),
)
def snap_all_data_files_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot per-FILE metadata table (Iceberg
    ``t.all_data_files`` / pyiceberg ``inspect.all_data_files``): every
    data file of every snapshot with footer row counts — the view that
    prices what the snapshot LOG pins, i.e. what expiry + orphan GC
    would reclaim at file grain. Distinct dirs are walked ONCE and
    fanned out to referencing snapshots (cost O(distinct files), never
    O(snapshots × files)). The scenario: a 3-file replace then a 2-file
    append roll up per referencing snapshot to (n_files, n_rows) —
    snapshot 0 pins 3 files / the even half, snapshot 1 pins all 5
    files / every row — which a full-scan oracle must reproduce (footer
    counts trusted, the ``snap_entries_meta`` contract, here across the
    whole log)."""
    from pyspark.sql import Window

    from component_iceberg_spark.plans.queries_mutation import _warehouse

    cat = _warehouse(sf_dir, "all_data_files")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cat.create_or_replace(
        "ns", "orders", o.filter("o_orderkey % 2 = 0").repartition(3)
    )
    cat.append(
        "ns", "orders", o.filter("o_orderkey % 2 = 1").repartition(2)
    )
    adf = cat.all_data_files(spark, "ns", "orders")
    w = Window.orderBy("reference_snapshot_id")
    return (
        adf.withColumn("ordinal", F.dense_rank().over(w) - 1)
        .groupBy("ordinal")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_rows").alias("n_rows"),
        )
    )


@register(
    "snap_metadata_log",
    oracle="""
    SELECT CAST(0 AS INT) AS ordinal, 'replace' AS operation
    UNION ALL SELECT 1, 'append'
    UNION ALL SELECT 2, 'delete'
    """,
    tags=("parity", "snapshot", "meta"),
)
def snap_metadata_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-log metadata table (Iceberg ``t.metadata_log_entries``
    / pyiceberg ``inspect.metadata_log_entries`` — with
    ``all_data_files`` this completes the inspect surface the reference
    embeds via pyiceberg 0.9.1): one row per published metadata file
    with commit timestamp, path, size, and the snapshot it made
    current. The scenario publishes replace → append → equality-delete
    and reads back the log's operation sequence in commit order (sids
    are monotonic; timestamps can tie at ms grain, so the ordinal
    windows over the snapshot id). Size/path/timestamp lanes and the
    expiry lifecycle (expired manifests leave the log) are unit-pinned
    in tests/test_snaptable.py."""
    from pyspark.sql import Window

    from component_iceberg_spark.plans.queries_mutation import _warehouse

    cat = _warehouse(sf_dir, "metadata_log")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cat.create_or_replace("ns", "orders", o.filter("o_orderkey % 2 = 0"))
    cat.append("ns", "orders", o.filter("o_orderkey % 2 = 1"))
    cat.delete_keys(
        spark, "ns", "orders",
        o.filter("o_orderkey % 500 = 3").select("o_orderkey"),
        ["o_orderkey"],
    )
    log = cat.metadata_log_entries(spark, "ns", "orders")
    w = Window.orderBy("latest_snapshot_id")
    return log.select(
        (F.dense_rank().over(w) - 1).alias("ordinal"), "operation"
    )


# ---------------------------------------------------------------------------
# Text normalization / redaction / repetition quality
# ---------------------------------------------------------------------------


@register(
    "text_normalize",
    oracle=r"""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(
               text || chr(7) || '  trailing   ' || chr(8),
               '[\x00-\x08\x0b\x0c\x0e-\x1f]', '', 'g'),
               '\s+', ' ', 'g')) AS clean
    FROM documents
    """,
    tags=("ext", "text"),
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical cleanup (strip control chars, collapse whitespace, trim)
    — the first pass of every text pipeline. The fixture is already
    clean, so control chars and ragged whitespace are injected
    deterministically on BOTH sides; the oracle proves the
    normalization, not a no-op."""
    from component_iceberg_spark.operators import text as X

    d = load_table(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"), F.lit("\x07"), F.lit("  trailing   "), F.lit("\x08")
    )
    return d.select("doc_id", X.normalize_text(dirty).alias("clean"))


@register(
    "text_redact_pii",
    oracle=r"""
    SELECT doc_id,
           regexp_replace(regexp_replace(
               'mail doc' || doc_id ||
               '@example.com or https://ex.org/d/' || doc_id ||
               '?u=x@y.io end ' || text,
               'https?://[^\s]+', '<URL>', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g') AS redacted
    FROM documents
    """,
    tags=("ext", "text"),
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/URL masking (the pre-training redaction pass). PII is
    synthesized per doc — including an email INSIDE a URL query string,
    which must be swallowed by the URL token (ordering matters), and a
    bare email that must become <EMAIL>."""
    from component_iceberg_spark.operators import text as X

    d = load_table(spark, sf_dir, "documents")
    with_pii = F.concat(
        F.lit("mail doc"), F.col("doc_id").cast("string"),
        F.lit("@example.com or https://ex.org/d/"),
        F.col("doc_id").cast("string"),
        F.lit("?u=x@y.io end "), F.col("text"),
    )
    return d.select("doc_id", X.redact_pii(with_pii).alias("redacted"))


@register(
    "text_repetition",
    oracle=r"""
    SELECT doc_id,
           round(len(list_distinct(arr)) * 1.0 / len(arr), 6) AS rep_ratio
    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS arr
          FROM documents)
    WHERE len(arr) > 0
    """,
    tags=("ext", "text"),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signal: distinct-token ratio per doc (word-soup
    boilerplate and generation loops score low). One projection, no
    shuffle."""
    from component_iceberg_spark.operators import text as X

    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            F.round(X.repetition_ratio(F.col("text")), 6).alias("rep_ratio"),
        )
        .filter(F.size(X.tokens(F.col("text"))) > 0)
    )


@register("sim_ann_pq_kmeans", oracle=None, tags=("ext", "similarity"))
def sim_ann_pq_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-k with per-subspace k-means-fitted codebooks
    (similarity.pq_fit): one Spark job per Lloyd iteration fits ALL 8
    subspaces at once (per-(subspace, code, dim) partial sums, a
    metadata-sized fold, driver-side centroid update), then the
    identical shortlist + exact-re-rank search runs with the fitted
    codebook (pq_topk unchanged — the fit is a drop-in). Rows-only
    check (iterative float means have no tractable SQL twin);
    determinism and recall vs brute force are pinned in
    tests/test_approx.py."""
    from component_iceberg_spark.operators import similarity as S
    from component_iceberg_spark.plans.queries_similarity import (
        QUERY_IDS,
        TOPK,
    )

    e = load_table(spark, sf_dir, "embeddings")
    fitted = S.pq_fit(e, iters=3)
    return S.pq_topk(
        e,
        e.filter(F.col("vec_id").isin(list(QUERY_IDS))),
        TOPK,
        codebook_override=fitted,
    )


@register("sim_ann_ivf_kmeans", oracle=None, tags=("ext", "similarity"))
def sim_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with k-means-fitted centroids: Lloyd iterations as pure
    DataFrame ops refine the seed quantizer, then the identical bucketed
    probe runs (ivf_topk unchanged — the fit is a drop-in, as promised in
    its docstring). Rows-only check (iterative float means have no
    tractable SQL twin); recall vs the brute-force ground truth is
    asserted in tests/test_approx.py."""
    from pyspark.sql import Window as W

    from component_iceberg_spark.operators import similarity as S
    from component_iceberg_spark.plans.queries_similarity import (
        NPROBE,
        QUERY_IDS,
        TOPK,
    )

    e = load_table(spark, sf_dir, "embeddings")
    w = W.partitionBy("label").orderBy("vec_id")
    seeds = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "label")
    )
    fitted = S.kmeans_fit(e, seeds, dim=64, iters=3)
    centroids = fitted.select(
        F.col("cent_id").alias("vec_id"), F.col("centroid").alias("embedding")
    )
    return S.ivf_topk(
        e, e.filter(F.col("vec_id").isin(list(QUERY_IDS))), centroids,
        NPROBE, TOPK,
    )


# ---------------------------------------------------------------------------
# Incremental (changelog) consumption of a snapshot table
# ---------------------------------------------------------------------------


@register(
    "snap_incremental_read",
    oracle="SELECT * FROM nation WHERE n_regionkey >= 2",
    tags=("parity", "snapshot"),
)
def snap_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental append scan (Iceberg ``start-snapshot-id`` /
    changelog read): a downstream consumer reads only the rows appended
    since its last-seen snapshot. The manifest diff names the new data
    dirs, so the read costs only the new data — never a table rescan —
    which is what makes repeated incremental consumption viable on a
    100 TB table. Feeds the same incremental contract as
    ``incremental_load_flag`` (``ex-iceberg/src/configuration.py:44-50``)
    but from snapshot metadata instead of a date predicate."""
    from component_iceberg_spark.plans.queries_mutation import _warehouse

    cat = _warehouse(sf_dir, "incremental")
    n = load_table(spark, sf_dir, "nation")
    cat.create_or_replace("ns", "nation", n.filter(F.col("n_regionkey") < 2))
    cat.append("ns", "nation", n.filter(F.col("n_regionkey") == 2))
    cat.append("ns", "nation", n.filter(F.col("n_regionkey") > 2))
    return cat.read_appends_between(spark, "ns", "nation", from_snapshot_id=1)


SEGMENT_MS = 5000


@register(
    "mm_audio_segments",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, sha256(text) AS h, strlen(text) AS nb FROM documents
    ),
    a AS (
        SELECT doc_id,
               CAST(8000 * (1 + {_hx(0)} % 5) AS INT) AS sample_rate,
               CAST(nb * 20 AS BIGINT) AS duration_ms
        FROM d WHERE nb > 0
    )
    SELECT doc_id,
           CAST(s AS INT) AS seg_no,
           CAST(s * {SEGMENT_MS} AS BIGINT) AS t0_ms,
           CAST(LEAST((s + 1) * {SEGMENT_MS}, duration_ms) AS BIGINT) AS t1_ms,
           CAST(floor(
               (LEAST((s + 1) * {SEGMENT_MS}, duration_ms) - s * {SEGMENT_MS})
               * sample_rate / 1000
           ) AS BIGINT) AS n_samples
    FROM a, UNNEST(range((duration_ms + {SEGMENT_MS - 1}) // {SEGMENT_MS})) AS t(s)
    """,
    tags=("ext", "multimodal"),
)
def mm_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based audio segmentation: probe (mapInPandas metadata stage)
    → fixed-length time windows with per-window sample counts, the unit
    of work for downstream transcription/spectrogram stages. Window
    count varies per stream (ceil(duration/segment)); the tail window is
    short; all integer math, so the probe+segment composition has an
    exact oracle."""
    probed = M.probe_audio(_binary_docs(spark, sf_dir))
    return M.segment_windows(probed, SEGMENT_MS)


# ---------------------------------------------------------------------------
# Corpus-trained bigram LM quality score
# ---------------------------------------------------------------------------


@register(
    "text_lm_score",
    oracle=r"""
    WITH tok AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\s+') AS arr
        FROM documents
    ),
    big AS (
        SELECT doc_id, arr[i] AS w1, arr[i + 1] AS w2
        FROM tok, UNNEST(range(1, len(arr))) AS t(i)
    ),
    docb AS (
        SELECT doc_id, w1, w2, count(*) AS k FROM big GROUP BY 1, 2, 3
    ),
    cnt2 AS (SELECT w1, w2, sum(k) AS c2 FROM docb GROUP BY 1, 2),
    cnt1 AS (SELECT w1, sum(k) AS c1 FROM docb GROUP BY 1),
    voc AS (
        SELECT count(DISTINCT w) AS v
        FROM (SELECT unnest(arr) AS w FROM tok)
    )
    SELECT doc_id,
           CAST(sum(k) AS BIGINT) AS n_bigrams,
           round(sum(k * ln((c2 + 1.0) / (c1 + v))) / sum(k), 4) AS avg_logp
    FROM docb
    JOIN cnt2 USING (w1, w2)
    JOIN cnt1 USING (w1)
    CROSS JOIN voc
    GROUP BY doc_id
    """,
    tags=("ext", "text"),
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fluency scoring via a corpus-trained add-one bigram LM (the
    CCNet/Dolma-style quality signal): every doc's average bigram
    log-probability under counts aggregated from the corpus itself.
    The oracle retrains the identical model declaratively in SQL, so the
    training aggregation AND the scoring join are both value-checked."""
    from component_iceberg_spark.operators import text as X

    d = load_table(spark, sf_dir, "documents")
    return X.bigram_lm_score(d, "doc_id", "text")


# ---------------------------------------------------------------------------
# int8-quantized similarity
# ---------------------------------------------------------------------------


@register(
    "sim_quantized_topk",
    oracle="""
    WITH d AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    m AS (
        SELECT vec_id, v,
               list_aggregate(list_transform(v, x -> abs(x)), 'max') AS mx
        FROM d
    ),
    q8 AS (
        SELECT vec_id,
               CASE WHEN mx > 0
                    THEN list_transform(v, x -> CAST(floor(x * 127 / mx) AS BIGINT))
                    ELSE list_transform(v, x -> CAST(0 AS BIGINT))
               END AS qv
        FROM m
    ),
    n AS (
        SELECT vec_id, qv,
               sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE)) AS nrm
        FROM q8
    ),
    q AS (
        SELECT vec_id AS query_id, qv AS q_qv, nrm AS q_nrm FROM n
        WHERE vec_id IN (0, 17, 93)
    ),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               round(CAST(list_sum(list_transform(
                         list_zip(q.q_qv, c.qv), z -> z[1] * z[2]
                     )) AS DOUBLE) / (q.q_nrm * c.nrm), 6) AS cosine_sim
        FROM n c CROSS JOIN q
        WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine_sim,
           CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id
           ) AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= 10
    """,
    tags=("ext", "similarity"),
)
def sim_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k over int8-quantized embeddings: 4x smaller vectors through
    the quadratic scoring loop (the 100 TB lever — embedding bytes
    dominate ANN I/O), exact integer dot products inside. The oracle
    replays the quantizer AND the integer scoring bit-for-bit; recall vs
    the float baseline is asserted in tests/test_approx.py."""
    from component_iceberg_spark.operators import similarity as S
    from component_iceberg_spark.plans.queries_similarity import (
        QUERY_IDS,
        TOPK,
    )

    e = load_table(spark, sf_dir, "embeddings")
    return S.quantized_topk(
        e, e.filter(F.col("vec_id").isin(list(QUERY_IDS))), TOPK
    )


@register(
    "sink_orc",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate
    FROM lineitem
    """,
    tags=("parity", "sink"),
)
def sink_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC export/ingest round-trip — the third columnar format Spark
    ships natively (splittable, predicate-pushdown-capable like the
    Parquet path; an exchange format for Hive-era lakes). Values must
    survive bit-exact, checked against the same lineitem-subset oracle
    as sink_csv/sink_parquet."""
    from component_iceberg_spark.plans.queries_scan import _scratch

    df = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate"
    )
    out = _scratch(sf_dir, "sink_orc")
    df.write.mode("overwrite").orc(out)
    return spark.read.orc(out)


# ---------------------------------------------------------------------------
# Per-group cap sampling + sequence-packing index
# ---------------------------------------------------------------------------

GROUP_CAP = 40
_CAP_UNIFORM = _uniform_sql("doc_id", "s0")


@register(
    "ext_sample_group_cap",
    oracle=f"""
    SELECT doc_id, text, lang, source, n_chars FROM (
        SELECT *, row_number() OVER (
            PARTITION BY source ORDER BY {_CAP_UNIFORM}, doc_id
        ) AS rk
        FROM documents
    ) WHERE rk <= {GROUP_CAP}
    """,
    tags=("ext", "sampling"),
)
def ext_sample_group_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-domination cap: keep at most N docs per source domain,
    chosen by the deterministic uniform hash (reproducible random-N per
    group, not first-N). The crawl-curation rule that stops one domain
    from flooding the corpus."""
    from component_iceberg_spark.operators import sampling as SMP

    d = load_table(spark, sf_dir, "documents")
    return SMP.sample_group_cap(d, "doc_id", "source", GROUP_CAP)


SEQ_LEN = 512
N_SHARDS = 8


@register(
    "text_pack_offsets",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id, doc_id % {N_SHARDS} AS shard,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                   AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, shard, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS start_offset
        FROM t WHERE n_tokens >= 1
    )
    SELECT doc_id, shard, n_tokens, start_offset,
           start_offset // {SEQ_LEN} AS first_chunk,
           (start_offset + n_tokens - 1) // {SEQ_LEN} AS last_chunk
    FROM c
    """,
    tags=("ext", "text"),
)
def text_pack_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing index: where every document's tokens land after
    sharded concat-and-chunk into fixed 512-token training sequences.
    Per-shard prefix sums — no global sort anywhere — so the layout
    computation parallelizes by shard at any corpus size."""
    from component_iceberg_spark.operators import text as X

    d = load_table(spark, sf_dir, "documents")
    return X.pack_offsets(d, "doc_id", "text", SEQ_LEN, N_SHARDS)


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup): k-partitioned embedding space → within-cluster
# cosine-threshold pairs → connected components → one survivor per group
# ---------------------------------------------------------------------------

SEM_THRESHOLD = 0.40


def _semantic_oracle() -> str:
    from component_iceberg_spark.plans.queries_similarity import _D, _cos

    cos_ac = _cos("a.v", "a.nrm", "c.cv", "c.cnrm")
    cos_ab = _cos("a.v", "a.nrm", "b.v", "b.nrm")
    return f"""
WITH RECURSIVE {_D},
cent AS (
    SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM (
        SELECT n.*, e.label,
               row_number() OVER (PARTITION BY e.label ORDER BY n.vec_id) AS rn
        FROM n JOIN embeddings e USING (vec_id)
    ) WHERE rn = 1
),
assign AS (
    SELECT vec_id, cent_id AS bucket FROM (
        SELECT a.vec_id, c.cent_id,
               row_number() OVER (
                   PARTITION BY a.vec_id ORDER BY {cos_ac} DESC, c.cent_id
               ) AS rn
        FROM n a CROSS JOIN cent c
    ) WHERE rn = 1
),
pairs AS (
    SELECT a.vec_id AS pa, b.vec_id AS pb
    FROM n a
    JOIN assign aa ON a.vec_id = aa.vec_id
    JOIN assign ab ON aa.bucket = ab.bucket AND a.vec_id < ab.vec_id
    JOIN n b ON b.vec_id = ab.vec_id
    WHERE {cos_ab} >= {SEM_THRESHOLD}
),
e2 AS (SELECT pa AS src, pb AS dst FROM pairs UNION SELECT pb, pa FROM pairs),
reach(node, r) AS (
    SELECT src, src FROM e2
    UNION
    SELECT reach.node, e2.dst FROM reach JOIN e2 ON e2.src = reach.r
),
cc AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
SELECT emb.vec_id,
       coalesce(cc.cluster_id, emb.vec_id) AS cluster_id,
       coalesce(cc.cluster_id, emb.vec_id) = emb.vec_id AS keep
FROM embeddings emb LEFT JOIN cc ON emb.vec_id = cc.node
"""


@register("dedup_semantic", oracle=_semantic_oracle(), tags=("ext", "dedup", "similarity"))
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication over the embedding column:
    partition the space by nearest centroid (broadcast argmin — the IVF
    quantizer reused as a partitioner), generate cosine-threshold pairs
    ONLY within a partition, form connected components, keep the minimum
    id per semantic group.

    Scale shape: the quadratic pair stage is bounded per-bucket (sum of
    bucket² ≪ corpus²; centroid count is the knob), the pair volume feeds
    the same min-label propagation as dedup_clusters, and every vec_id
    appears in the output with a keep flag — the downstream filter is one
    broadcast-able semi/anti join. Spark: argmin + bucketed self-join +
    iterative propagation; oracle: the identical quantizer replayed in
    SQL + a recursive-CTE closure — different algorithms, identical
    clusters."""
    from pyspark.sql import Window

    from component_iceberg_spark.operators import similarity as S

    e = load_table(spark, sf_dir, "embeddings")
    w = Window.partitionBy("label").orderBy("vec_id")
    cent = (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("cent_vec"),
            S.norm(F.col("embedding")).alias("cent_norm"),
        )
    )
    # Arrow-batch argmax assignment (S.nearest_assign): the codebook is
    # metadata-sized, so bucketing is a pure map — no shuffle, one BLAS
    # matmul per batch. The pair stage then shuffles each row ONCE (keyed
    # by bucket) and scores the whole bucket as a single gram matrix,
    # emitting only surviving pairs (S.bucketed_threshold_pairs) — the
    # per-bucket-quadratic work runs inside a vectorized kernel instead
    # of materializing n_b² join rows.
    assigned = S.nearest_assign(
        e.select("vec_id", S.as_double(F.col("embedding")).alias("embedding")),
        cent,
        "vec_id",
        "embedding",
        "bucket",
        keep=("embedding",),
    )
    pairs = S.bucketed_threshold_pairs(
        assigned, "bucket", "vec_id", "embedding", SEM_THRESHOLD,
        few_buckets=True,  # centroid buckets: k ∝ √n, most partitions empty
    )
    cc = D.connected_components(pairs, "pa", "pb")
    return (
        e.select("vec_id")
        .join(cc, F.col("vec_id") == F.col("doc"), "left")
        .select(
            "vec_id",
            F.coalesce(F.col("cluster_id"), F.col("vec_id")).alias("cluster_id"),
        )
        .withColumn("keep", F.col("cluster_id") == F.col("vec_id"))
    )


_IVF_K = 16


def _semantic_ivf_oracle() -> str:
    from component_iceberg_spark.plans.queries_similarity import _D, _cos

    cos_ac = _cos("a.v", "a.nrm", "c.cv", "c.cnrm")
    cos_ab = _cos("a.v", "a.nrm", "b.v", "b.nrm")
    return f"""
WITH RECURSIVE {_D},
cent AS (
    SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm
    FROM n ORDER BY vec_id LIMIT {_IVF_K}
),
assign AS (
    SELECT vec_id, cent_id AS bucket FROM (
        SELECT a.vec_id, c.cent_id,
               row_number() OVER (
                   PARTITION BY a.vec_id ORDER BY {cos_ac} DESC, c.cent_id
               ) AS rn
        FROM n a CROSS JOIN cent c
    ) WHERE rn = 1
),
pairs AS (
    SELECT a.vec_id AS pa, b.vec_id AS pb
    FROM n a
    JOIN assign aa ON a.vec_id = aa.vec_id
    JOIN assign ab ON aa.bucket = ab.bucket AND a.vec_id < ab.vec_id
    JOIN n b ON b.vec_id = ab.vec_id
    WHERE {cos_ab} >= {SEM_THRESHOLD}
),
e2 AS (SELECT pa AS src, pb AS dst FROM pairs UNION SELECT pb, pa FROM pairs),
reach(node, r) AS (
    SELECT src, src FROM e2
    UNION
    SELECT reach.node, e2.dst FROM reach JOIN e2 ON e2.src = reach.r
),
cc AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
SELECT emb.vec_id,
       coalesce(cc.cluster_id, emb.vec_id) AS cluster_id,
       coalesce(cc.cluster_id, emb.vec_id) = emb.vec_id AS keep
FROM embeddings emb LEFT JOIN cc ON emb.vec_id = cc.node
"""


@register(
    "dedup_semantic_ivf",
    oracle=_semantic_ivf_oracle(),
    tags=("ext", "dedup", "similarity"),
)
def dedup_semantic_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup over a FIXED-size quantizer — the CONTROL ARM of
    the r12 sfN forensic (DESIGN_NOTES): ``dedup_semantic`` derives one
    centroid per label, so its centroid set grows with the corpus and
    argmax selection over more candidates concentrates buckets,
    fattening the conditional cosine tail — threshold pairs grow
    super-linearly by that SELECTION-BIAS mechanism alone. Here the
    codebook is a constant {_IVF_K} centroids (the {_IVF_K} smallest
    vec_ids — deterministic and SQL-replayable), so selection strength
    is scale-independent and within-bucket pair DENSITY stays constant
    as the corpus grows — the contrast that pins the mechanism. The
    scale ledger is stated plainly: fixed K makes per-bucket occupancy
    ∝ n/K and gram-stage work ∝ n²/K, so a 100 TB deployment must grow
    K with the corpus (bucket-size-constant) and take centroid QUALITY
    (k-means fit, not argmax over weak random-ish candidates) as the
    lever that keeps selection bias from re-fattening the tail —
    exactly the trade the two variants bracket. Same
    pair/connected-components/keep semantics as ``dedup_semantic``;
    identical quantizer replayed in the recursive-CTE oracle."""
    from component_iceberg_spark.operators import similarity as S

    e = load_table(spark, sf_dir, "embeddings")
    cent = (
        e.orderBy("vec_id")
        .limit(_IVF_K)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("cent_vec"),
            S.norm(F.col("embedding")).alias("cent_norm"),
        )
    )
    assigned = S.nearest_assign(
        e.select("vec_id", S.as_double(F.col("embedding")).alias("embedding")),
        cent,
        "vec_id",
        "embedding",
        "bucket",
        keep=("embedding",),
    )
    pairs = S.bucketed_threshold_pairs(
        assigned, "bucket", "vec_id", "embedding", SEM_THRESHOLD,
        few_buckets=True,  # centroid buckets: k ∝ √n, most partitions empty
    )
    cc = D.connected_components(pairs, "pa", "pb")
    return (
        e.select("vec_id")
        .join(cc, F.col("vec_id") == F.col("doc"), "left")
        .select(
            "vec_id",
            F.coalesce(F.col("cluster_id"), F.col("vec_id")).alias("cluster_id"),
        )
        .withColumn("keep", F.col("cluster_id") == F.col("vec_id"))
    )


# ---------------------------------------------------------------------------
# Embedding pooling (r4): element-wise mean per group
# ---------------------------------------------------------------------------

_POOL_DIM = 64


def _mean_pool_oracle() -> str:
    avgs = [
        f"round(avg(embedding[{i + 1}]), 6)" for i in range(_POOL_DIM)
    ]
    norm_sq = " + ".join(f"({a}) * ({a})" for a in avgs)
    return f"""
    SELECT label,
           count(*) AS n_vectors,
           {avgs[0]} AS c_first,
           {avgs[_POOL_DIM // 2]} AS c_mid,
           {avgs[-1]} AS c_last,
           round(sqrt({norm_sq}), 6) AS pooled_norm
    FROM embeddings
    GROUP BY label
    """


@register(
    "ext_embedding_mean_pool",
    oracle=_mean_pool_oracle(),
    tags=("ext", "similarity"),
)
def ext_embedding_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise mean pooling of embeddings per group — the
    chunk-embeddings→document-embedding (or cluster-centroid) reduction.
    dim AVG expressions ride ONE hash aggregate (k×dim partials,
    map-side combined — same shape as the k-means mean step), so pooling
    a 100 TB corpus is a single shuffle of k×dim floats per partition.
    Gate projection is scalar (first/mid/last dims + full-vector norm
    over all rounded dims) because the driver hash compares scalars;
    every dimension participates via the norm."""
    e = load_table(spark, sf_dir, "embeddings")
    # lanes + the left-folded norm as parsed strings: the Column-builder
    # loop was ~0.35 s of py4j round-trips per plan build at dim=64
    # (same §1.2 driver-cost lever as kmeans_fit); SQL `+` is
    # left-associative, so the parsed norm is the identical fold
    lanes = [f"round(avg(embedding[{i}]), 6)" for i in range(_POOL_DIM)]
    norm_sq = " + ".join(f"{a} * {a}" for a in lanes)
    return e.groupBy("label").agg(
        F.expr("count(1) AS n_vectors"),
        F.expr(f"{lanes[0]} AS c_first"),
        F.expr(f"{lanes[_POOL_DIM // 2]} AS c_mid"),
        F.expr(f"{lanes[-1]} AS c_last"),
        F.expr(f"round(sqrt({norm_sq}), 6) AS pooled_norm"),
    )


_PROFILE_COLS = (
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "num"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
)


def _profile_oracle() -> str:
    parts = []
    for c, kind in _PROFILE_COLS:
        mn = mx = "CAST(NULL AS DOUBLE)"
        ms = mxs = "CAST(NULL AS VARCHAR)"
        mt = mxt = "CAST(NULL AS TIMESTAMP)"
        if kind == "num":
            mn, mx = f"CAST(min({c}) AS DOUBLE)", f"CAST(max({c}) AS DOUBLE)"
        elif kind == "str":
            ms, mxs = f"min({c})", f"max({c})"
        else:
            mt, mxt = f"min({c})", f"max({c})"
        parts.append(f"""
    SELECT '{c}' AS col_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
           {mn} AS min_num, {mx} AS max_num,
           {ms} AS min_str, {mxs} AS max_str,
           {mt} AS min_ts, {mxt} AS max_ts
    FROM orders""")
    return " UNION ALL ".join(parts)


@register(
    "ext_profile_columns",
    oracle=_profile_oracle(),
    tags=("ext", "profiling"),
)
def ext_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling ("ANALYZE"-style data summary): per column, row /
    null / exact-distinct counts and typed min/max — the data-quality
    report a pipeline runs before trusting a new drop. The reference
    exposes only per-table metadata (list_table_columns — Storage API
    names/types); this computes the content statistics.

    STILL ONE pass over the table (the oracle's UNION ALL per-column
    form would be N scans), but as a typed-lane UNPIVOT + two-level
    aggregation instead of N ``count_distinct`` lanes (r16, guide
    §2.3/§2.4). The ``count_distinct`` form planned as a 7-projection
    Expand — every input row copied 7×, 13 columns wide — and, because
    the rewritten aggregate carries string ``min``/``max`` and
    ``first()`` functions (no fixed-width buffer), EVERY stage planned
    as SortAggregate: a full sort of the 7×-expanded corpus (the same
    disease r15 cured in the MinHash signing). Here level 1 groups the
    unpivoted (lane, value) rows — 6 narrow rows per input row, one
    non-null typed value each — with a ``count`` aggregate, which plans
    as HashAggregate with map-side partials (shuffle = per-partition
    distinct values, the same asymptotics count_distinct's internal
    rewrite had, minus the sorts and the 13-wide Expand rows); level 2
    reduces the distinct-value relation per lane, where the string
    min/max SortAggregate touches ~|distinct| rows, never the corpus.
    min/max stay in their own TYPE LANE (num / str / ts columns) —
    stringifying doubles would couple the result to each engine's
    float-formatting rules. At 100 TB the HLL-sketch twin
    (``ext_profile_columns_approx``) remains the cheap route; this
    exact form is the audit-grade report."""
    import os as _os

    from component_iceberg_spark.io.tables import table_path

    o = load_table(spark, sf_dir, "orders")
    dtypes = dict(o.dtypes)
    ts_type = next(
        (dtypes[c] for c, k in _PROFILE_COLS if k == "ts"), "timestamp_ntz"
    )

    def lane_entry(c: str):
        t = dtypes[c]
        return F.struct(
            F.lit(c).alias("lane"),
            (F.col(c) if t == "bigint" else F.lit(None).cast("bigint")).alias(
                "vbig"
            ),
            (F.col(c) if t == "double" else F.lit(None).cast("double")).alias(
                "vdbl"
            ),
            (F.col(c) if t == "string" else F.lit(None).cast("string")).alias(
                "vstr"
            ),
            (
                F.col(c)
                if t.startswith("timestamp")
                else F.lit(None).cast(ts_type)
            ).alias("vts"),
        )

    unpivot = o.select(
        F.explode(F.array(*[lane_entry(c) for c, _ in _PROFILE_COLS])).alias(
            "u"
        )
    ).select("u.*")
    keys = ["lane", "vbig", "vdbl", "vstr", "vts"]
    # Small file-backed inputs are task-starved at the scan (openCost
    # pins ~4 MB per split, so a fixture-sized file is ONE task) and the
    # 6× unpivot's CPU is invisible to byte-based sizing — the same
    # blindness r15 fixed for expansion joins. A keyed repartition AT
    # the groupBy's own keys and width spreads the work and is REUSED by
    # the aggregate (no second exchange, and AQE never coalesces a
    # user-specified width). Strictly a no-op at scale: a big input's
    # scan already runs wider than the session conf, and the gate is
    # the source's on-disk bytes, so the plan keeps canonical partial →
    # exchange → final aggregation there (map-side partials bound the
    # shuffle to per-partition distincts).
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        src_bytes = _os.stat(table_path(sf_dir, "orders")).st_size
    except OSError:
        src_bytes = None
    if src_bytes is not None and src_bytes < width * (4 << 20):
        unpivot = unpivot.repartition(width, *[F.col(k) for k in keys])
    lvl1 = unpivot.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt"))
    nonnull = (
        F.col("vbig").isNotNull()
        | F.col("vdbl").isNotNull()
        | F.col("vstr").isNotNull()
        | F.col("vts").isNotNull()
    )
    lvl2 = lvl1.groupBy("lane").agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.coalesce(
            F.sum(F.when(~nonnull, F.col("cnt"))), F.lit(0)
        ).cast("bigint").alias("n_nulls"),
        F.count(F.when(nonnull, F.lit(1))).cast("bigint").alias("n_distinct"),
        F.min("vbig").alias("mn_big"),
        F.max("vbig").alias("mx_big"),
        F.min("vdbl").alias("mn_dbl"),
        F.max("vdbl").alias("mx_dbl"),
        F.min("vstr").alias("mn_str"),
        F.max("vstr").alias("mx_str"),
        F.min("vts").alias("mn_ts"),
        F.max("vts").alias("mx_ts"),
    )
    num_lanes = [c for c, k in _PROFILE_COLS if k == "num"]
    str_lanes = [c for c, k in _PROFILE_COLS if k == "str"]
    ts_lanes = [c for c, k in _PROFILE_COLS if k == "ts"]

    def typed(mn_big, mn_dbl, mn_str, mn_ts):
        return (
            F.when(
                F.col("lane").isin(num_lanes),
                F.coalesce(F.col(mn_big).cast("double"), F.col(mn_dbl)),
            ).otherwise(F.lit(None).cast("double")),
            F.when(
                F.col("lane").isin(str_lanes), F.col(mn_str)
            ).otherwise(F.lit(None).cast("string")),
            F.when(F.col("lane").isin(ts_lanes), F.col(mn_ts)).otherwise(
                F.lit(None).cast(ts_type)
            ),
        )

    mn_num, mn_str, mn_ts = typed("mn_big", "mn_dbl", "mn_str", "mn_ts")
    mx_num, mx_str, mx_ts = typed("mx_big", "mx_dbl", "mx_str", "mx_ts")
    return lvl2.select(
        F.col("lane").alias("col_name"),
        "n_rows",
        "n_nulls",
        "n_distinct",
        mn_num.alias("min_num"),
        mx_num.alias("max_num"),
        mn_str.alias("min_str"),
        mx_str.alias("max_str"),
        mn_ts.alias("min_ts"),
        mx_ts.alias("max_ts"),
    )


def _profile_plan(spark: SparkSession, sf_dir: str, distinct_agg) -> DataFrame:
    """Shared profiling body: one aggregate pass + struct-explode unpivot;
    ``distinct_agg`` supplies each column's distinct-count lane (exact
    count_distinct, or an HLL sketch estimate for the scale twin)."""
    o = load_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, kind in _PROFILE_COLS:
        aggs.append((F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nn"))
        aggs.append(distinct_agg(c).alias(f"{c}__nd"))
        aggs.append(F.min(c).alias(f"{c}__mn"))
        aggs.append(F.max(c).alias(f"{c}__mx"))
    row = o.agg(*aggs)
    structs = []
    for c, kind in _PROFILE_COLS:
        mn_num = mx_num = F.lit(None).cast("double")
        mn_str = mx_str = F.lit(None).cast("string")
        mn_ts = mx_ts = F.lit(None).cast("timestamp_ntz")
        if kind == "num":
            mn_num = F.col(f"{c}__mn").cast("double")
            mx_num = F.col(f"{c}__mx").cast("double")
        elif kind == "str":
            mn_str, mx_str = F.col(f"{c}__mn"), F.col(f"{c}__mx")
        else:
            mn_ts, mx_ts = F.col(f"{c}__mn"), F.col(f"{c}__mx")
        structs.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"{c}__nn").alias("n_nulls"),
                F.col(f"{c}__nd").alias("n_distinct"),
                mn_num.alias("min_num"),
                mx_num.alias("max_num"),
                mn_str.alias("min_str"),
                mx_str.alias("max_str"),
                mn_ts.alias("min_ts"),
                mx_ts.alias("max_ts"),
            )
        )
    return row.select(
        F.explode(F.array(*structs)).alias("p"), "n_rows"
    ).select(
        "p.col_name",
        "n_rows",
        "p.n_nulls",
        "p.n_distinct",
        "p.min_num",
        "p.max_num",
        "p.min_str",
        "p.max_str",
        "p.min_ts",
        "p.max_ts",
    )


@register(
    "ext_profile_columns_approx",
    oracle=None,  # HLL estimates are implementation-defined — rows-only
    tags=("ext", "profiling", "approx", "sketch"),
)
def ext_profile_columns_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB route of ext_profile_columns, now executable (its exact
    twin's docstring only DOCUMENTED it): identical output shape, but the
    n_distinct lane is an HLL sketch estimate (lg_k=12 → 4 KB per column,
    ~1.6% RSE) instead of exact count(DISTINCT). The exact form expands
    the input N-fold before the shuffle (one lane per distinct-counted
    column); here every lane is a mergeable KB-sized sketch, so the
    profile stays ONE pass with byte-sized map-side partials no matter
    how many columns or distincts. Columns sketch over a canonical
    string cast (uniform across num/str/ts lanes). Error bound asserted
    vs the exact twin per column in tests/test_approx.py."""
    return _profile_plan(
        spark,
        sf_dir,
        lambda c: F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col(c).cast("string"), F.lit(12))
        ),
    )


_FK_CHECKS = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey",
     "part", "p_partkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey",
     "nation", "n_nationkey"),
)


def _integrity_oracle() -> str:
    parts = []
    for name, child, fk, parent, pk in _FK_CHECKS:
        parts.append(f"""
    SELECT '{name}' AS fk,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE NOT EXISTS (
               SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk}
           )) AS BIGINT) AS n_orphans
    FROM {child} c""")
    return " UNION ALL ".join(parts)


@register(
    "ext_integrity_check",
    oracle=_integrity_oracle(),
    tags=("ext", "profiling"),
)
def ext_integrity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: for each
    foreign-key relation, the child row count and the number of ORPHANS
    (child keys with no parent row) — the cross-TABLE data-quality gate
    beside ext_profile_columns' per-column one; a pipeline runs both
    before trusting a new drop. Each relation is one left-anti
    aggregation; dimension parents broadcast, and the fact-side scans
    prune to the single key column, so the audit costs one key-column
    pass per relation at any scale. The fixture is referentially intact,
    so the oracle also proves the checks' zero-orphan answers are real
    (counts, not vacuous truths)."""
    out = None
    for name, child, fk, parent, pk in _FK_CHECKS:
        c = load_table(spark, sf_dir, child).select(F.col(fk))
        p = load_table(spark, sf_dir, parent).select(F.col(pk))
        row = (
            c.join(p, c[fk] == p[pk], "left")
            .agg(
                F.lit(name).alias("fk"),
                F.count(F.lit(1)).alias("n_rows"),
                F.count(F.when(F.col(pk).isNull(), 1)).alias("n_orphans"),
            )
            .select("fk", "n_rows", "n_orphans")
        )
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "ext_shard_shuffle",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, source, {_uniform_sql('doc_id', 'ep1')} AS u
        FROM documents
    )
    SELECT doc_id, source,
           CAST(floor(u * 8) AS INT) AS shard,
           CAST(row_number() OVER (
               PARTITION BY floor(u * 8) ORDER BY u, doc_id
           ) AS INT) AS pos
    FROM h
    """,
    tags=("ext", "sampling"),
)
def ext_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch shuffle for training-order serving: a salted md5 hash gives
    every document a reproducible (shard, pos) — the global permutation
    a data loader reads shard-by-shard. Engine-independence is the whole
    point (the oracle replays the identical permutation in DuckDB), and
    the plan is one exchange + task-sized per-shard sorts
    (operators/sampling.shard_shuffle): shard count scales with the
    data, so no task ever sorts more than a shard."""
    from component_iceberg_spark.operators import sampling as SA

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return SA.shard_shuffle(d, "doc_id", n_shards=8)


def _wkey_sql(salt: str, w_expr: str) -> str:
    # 48-bit draw (12 hex chars), Horner chain over BIGINT nibbles —
    # replays operators/sampling.sample_weighted_topk bit-for-bit
    m = f"md5(CAST(doc_id AS VARCHAR) || '{salt}')"
    val = "CAST(0 AS BIGINT)"
    for i in range(1, 13):
        d = f"(strpos('0123456789abcdef', substr({m}, {i}, 1)) - 1)"
        val = f"(({val}) * 16 + {d})"
    return (
        f"round(-ln(({val} + 0.5) / 281474976710656.0) / ({w_expr}), 12)"
    )


_W_EXPR = ("CASE source WHEN 'src0' THEN 3.0 WHEN 'src1' THEN 1.0 "
           "ELSE 0.5 END")


@register(
    "ext_sample_weighted",
    oracle=f"""
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (
                   ORDER BY {_wkey_sql('w0', _W_EXPR)}, doc_id
               ) AS rn
        FROM documents
        WHERE ({_W_EXPR}) > 0
    ) WHERE rn <= 50
    """,
    tags=("ext", "sampling"),
)
def ext_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, fixed size 50 (Efraimidis-
    Spirakis exponential race; per-source weights 3/1/0.5 — domain
    re-weighting with an exact output size, unlike the Bernoulli
    stratified sampler whose size is only expected). The race key is a
    deterministic hash draw, rounded to 12 dp before ranking so an ln()
    final-ulp difference can never flip the set, doc_id tie-break —
    hence an exact oracle replaying the identical race. Plan: pure
    projection + bounded-heap top-k (TakeOrderedAndProject), no global
    sort, no RNG state (operators/sampling.sample_weighted_topk)."""
    from component_iceberg_spark.operators import sampling as SA

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    w = (
        F.when(F.col("source") == "src0", 3.0)
        .when(F.col("source") == "src1", 1.0)
        .otherwise(0.5)
    )
    return SA.sample_weighted_topk(d, "doc_id", w, 50)


# ---------------------------------------------------------------------------
# Data-quality expectations suite (r7)
# ---------------------------------------------------------------------------

# (rule name, SQL pass-condition) — evaluated identically in both engines.
# NULL in a condition counts as a violation (an expectation must PROVE the
# row is good), hence the coalesce(..., FALSE) wrapper on both sides.
_DQ_RULES = (
    ("orderkey_not_null", "l_orderkey IS NOT NULL"),
    ("quantity_1_50", "l_quantity BETWEEN 1 AND 50"),
    ("quantity_le_45", "l_quantity <= 45"),
    ("discount_0_01", "l_discount BETWEEN 0 AND 0.1"),
    ("returnflag_enum", "l_returnflag IN ('A', 'N', 'R')"),
    ("price_positive", "l_extendedprice > 0"),
    ("tax_0_008", "l_tax BETWEEN 0 AND 0.08"),
)


def _dq_oracle() -> str:
    lanes = ", ".join(
        f"CAST(sum(CASE WHEN NOT coalesce({cond}, FALSE) THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS v{i}"
        for i, (_n, cond) in enumerate(_DQ_RULES)
    )
    selects = " UNION ALL ".join(
        f"SELECT '{name}' AS rule, v{i} AS n_violations, n_checked,"
        f" v{i} = 0 AS pass FROM t"
        for i, (name, _c) in enumerate(_DQ_RULES)
    )
    return (
        f"WITH t AS (SELECT CAST(count(*) AS BIGINT) AS n_checked, {lanes}"
        f" FROM lineitem)\n{selects}"
    )


@register("ext_dq_expectations", oracle=_dq_oracle(), tags=("ext", "quality"))
def ext_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations (the Deequ/dbt-test shape —
    the validation gate every ingestion pipeline runs before publishing
    a batch): N rules over lineitem evaluated in ONE aggregate pass,
    emitting per-rule violation counts and a pass verdict. NULL never
    passes a rule (coalesce to FALSE on both sides) — an expectation has
    to prove the row is good. Complements ``snap_checked_append`` (which
    REFUSES a bad batch at write time): this is the read-side audit that
    reports HOW bad, rule by rule, without failing the job.

    Plan: every rule is a conditional-sum lane in a single hash
    aggregate — one scan, map-side partials, a 1-row result exploded to
    the per-rule report. Rule count scales the aggregate width, never
    the scan count; at 100 TB this is exactly one pass regardless of
    how many expectations the table carries."""
    li = load_table(spark, sf_dir, "lineitem")
    lanes = [
        F.sum(
            F.when(
                ~F.coalesce(F.expr(cond), F.lit(False)), 1
            ).otherwise(0)
        ).cast("long").alias(f"v{i}")
        for i, (_n, cond) in enumerate(_DQ_RULES)
    ]
    agg = li.agg(F.count(F.lit(1)).alias("n_checked"), *lanes)
    report = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(name).alias("rule"),
                    F.col(f"v{i}").alias("n_violations"),
                )
                for i, (name, _c) in enumerate(_DQ_RULES)
            ]
        )
    ).alias("r")
    return agg.select(report, "n_checked").select(
        F.col("r.rule").alias("rule"),
        F.col("r.n_violations").alias("n_violations"),
        "n_checked",
        (F.col("r.n_violations") == 0).alias("pass"),
    )


# ---------------------------------------------------------------------------
# Leakage-safe split (r8): near-dup clusters never straddle train/eval
# ---------------------------------------------------------------------------


def _leakage_split_oracle() -> str:
    """The dedup_clusters recursive closure + the split_assign hash draw,
    composed from SHARED fragments (the r7 CTE-sharing defense): the
    closure is the literal `_CLOSURE_CTE_BODY` dedup_clusters' oracle
    interpolates and the draw the same `_uniform_sql` spelling
    ext_split_train_test uses — neither can drift independently."""
    u = _uniform_sql("cluster_id", "split")
    return f"""
WITH RECURSIVE {_minhash_cte_body()},
{_CLOSURE_CTE_BODY},
a AS (
    SELECT d.doc_id, d.source,
           coalesce(cl.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc
)
SELECT doc_id, source, cluster_id,
       CASE WHEN {u} < 0.8 THEN 'train'
            WHEN {u} < 0.9 THEN 'val'
            ELSE 'test' END AS split
FROM a
"""


@register(
    "pipeline_split_leakage_safe",
    oracle=_leakage_split_oracle(),
    tags=("ext", "sampling", "dedup", "pipeline"),
)
def pipeline_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split that cannot leak through near-duplicates:
    ext_split_train_test hashes each DOC independently, so two near-dup
    docs (a quote, a mirror, a boilerplate re-wrap) can land one in
    train and one in test — the classic contamination path that survives
    doc-level splitting. Here the hash draw is keyed on the near-dup
    CLUSTER id (MinHash-LSH pairs → connected components; singletons key
    on their own doc_id), so every member of a cluster shares one split
    by construction. This is how production pretraining pipelines split
    AFTER dedup clustering, not before.

    Plan: the verified-pairs stage is the session-shared LSH cache (one
    run feeds dedup_minhash_lsh, dedup_clusters and this), components
    add O(diameter) keyed shuffles on the pair list (pairs-sized, tiny
    next to the corpus), and the final assignment is a LEFT broadcast
    join of the cluster map onto the corpus + a pure hash projection —
    no corpus shuffle at all. The oracle replays clusters via the shared
    recursive-closure fragment and the draw via the shared _uniform_sql
    spelling. Leakage property pinned in tests: every cluster maps to
    exactly one split."""
    from component_iceberg_spark.operators import sampling as SA

    clusters = neardup_clusters(spark, sf_dir, 0.8)  # pairs-sized, cached
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    withc = d.join(
        F.broadcast(clusters), d.doc_id == clusters.doc, "left"
    ).select(
        "doc_id",
        "source",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
    )
    return SA.split_assign(
        withc, "cluster_id", [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    )
