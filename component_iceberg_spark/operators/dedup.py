"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale design (the reason these exist — 100 TB corpora):

- **Exact**: one hash-aggregate on a fingerprint column. Map-side partial
  aggregation makes the shuffle proportional to distinct docs.
- **n-gram Jaccard (brute)**: shingle-level self-join. Exact, but the join
  fan-out is quadratic in shingle document-frequency — only safe below
  ~10M docs or as the *verification* stage after LSH. This is the oracle-
  checkable ground truth.
- **MinHash-LSH**: the scale path. Signature = K independent min-hashes
  over shingles; band the signature so probability of a candidate pair
  collision is ~1-(1-j^R)^B; verify candidates exactly. Each stage is one
  keyed shuffle; candidate volume is tunable by (B, R) instead of being
  data-determined. Hashes are md5-derived so the DuckDB oracle can run the
  *identical* algorithm — the correctness check covers the LSH itself, not
  just the verified output. Every entry point (batch dedup, incremental
  batch→corpus pairs, the fused streaming screen) draws candidates from
  one banded join (:func:`_band_pairs`) and verifies them in one body
  (:func:`_verify`), which the brute n-gram path shares too: one
  shingle-intersection count and one threshold filter on the unrounded
  ratio, the same predicate as the SQL oracles.
- **SimHash**: 64-bit fingerprint whose Hamming distance tracks cosine
  similarity of token multisets; banding 4×16 bits guarantees (pigeonhole)
  that any pair within Hamming ≤ 3 collides in at least one band.

All stages are DataFrame expressions (codegen'd); no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from component_iceberg_spark.operators.text import text_shingles, tokens
from component_iceberg_spark.session import kernel_width, release_local_checkpoint

NUM_HASHES = 12
BANDS = 4
ROWS_PER_BAND = NUM_HASHES // BANDS
SHINGLE_N = 3


def _quote_ident(name: str) -> str:
    """Backtick-quote an identifier for SQL text (embedded backticks
    doubled), so reserved words and odd names parse as column names."""
    return "`" + name.replace("`", "``") + "`"


def doc_shingles(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, shingle) pairs, distinct per doc.

    Repartitions first: the CPU cost is in the per-doc regex/array work,
    and a small input (one parquet file → one partition) would otherwise
    pin the whole corpus to a single core. The spread width comes from
    the INPUT, by the byte gate every small-input kernel uses
    (:func:`session.kernel_width`): a batch-sized input spreads to one
    task per core, and everything keyed on ``doc`` downstream — the
    signature aggregate, and any cached shingles a join reads — inherits
    that width. An explicit ``repartition(n)`` is never coalesced by
    AQE, so a session-wide width here used to fan every batch-sized
    epoch out to ``spark.sql.shuffle.partitions`` near-empty tasks, and
    a cached profile carried that width into every join it fed. At real
    scale the gate declines and the cluster-tuned
    ``spark.sql.shuffle.partitions`` keeps the full spread."""
    spread = df.select(F.col(id_col), F.col(text_col)).repartition(
        _spread_width(df), F.col(id_col)
    )
    return (
        spread.select(
            F.col(id_col).alias("doc"),
            text_shingles(F.col(text_col), SHINGLE_N).alias("sh"),
        )
        .select("doc", F.explode("sh").alias("shingle"))
    )


def _spread_width(df: DataFrame) -> int:
    """Width of an explicit keyed spread of ``df``. Below the small-input
    byte gate (:func:`session.kernel_width`) it is one task per core:
    the spread exists to put the regex and signing work on every core,
    and a floor of fewer tasks would leave cores idle. At real scale, or
    for data with no stored bytes to size by, it is the session's
    ``spark.sql.shuffle.partitions``."""
    spark = df.sparkSession
    return kernel_width(
        df, floor=spark.sparkContext.defaultParallelism
    ) or int(spark.conf.get("spark.sql.shuffle.partitions"))


def exact_dedup(df: DataFrame, id_col: str, fingerprint_col) -> DataFrame:
    """Exact dedup: one row per fingerprint, smallest id is the canonical
    representative, n_copies counts the duplicates. Repartitions FIRST so
    the regex-heavy fingerprint runs after the spread, in parallel —
    computing it pre-shuffle would pin it to a single-file scan's one
    task."""
    df = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )
    return (
        df.select(F.col(id_col).alias("rep_doc_id"), fingerprint_col.alias("fp"))
        .groupBy("fp")
        .agg(
            F.min("rep_doc_id").alias("rep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("fp", "rep_doc_id", "n_copies")
    )


def _shingle_counts(sh: DataFrame) -> DataFrame:
    """(doc, n): each doc's distinct-shingle count, the |A| and |B| of
    the Jaccard denominator."""
    return sh.groupBy("doc").agg(F.expr("count(1) AS n"))


def _verify(
    cand: DataFrame | None,
    l: str,
    r: str,
    sh_l: DataFrame,
    sh_r: DataFrame,
    cnt_l: DataFrame,
    cnt_r: DataFrame,
    threshold: float,
) -> DataFrame:
    """The one Jaccard verify body: candidates → shingle intersection →
    threshold. Returns ``(l, r, jaccard)`` for every candidate pair whose
    exact ratio |A∩B| / |A∪B| clears ``threshold``.

    ``cand`` holds ``(l, r)`` doc pairs; ``None`` means every pair
    sharing a shingle with ``l < r`` (the brute self-join, where
    ``sh_l`` and ``sh_r`` are one relation). ``sh_*`` are each side's
    ``(doc, shingle)`` rows and ``cnt_*`` each side's ``(doc, n)``
    counts (extra columns are ignored).

    The filter compares the UNROUNDED ratio — the predicate every SQL
    oracle runs (``i * 1.0 / (ca.n + cb.n - i) >= t``); ``jaccard`` is
    rounded to 6 places only for output. Filtering on the rounded value
    would admit pairs just under ``t`` (J = 2/3 at t = 0.6666667).
    Explicit double casts and ``D`` suffixes pin a DOUBLE ratio: a bare
    SQL ``1.0`` parses as DECIMAL and would switch it to decimal
    arithmetic. Conditions and projections are parsed strings (one py4j
    call each): the screen builds this plan per epoch, where Column-by-
    Column construction was measurable driver gap."""
    ql, qr = _quote_ident(l), _quote_ident(r)
    if cand is None:
        shared = sh_l.alias("a").join(
            sh_r.alias("b"), F.expr("a.shingle = b.shingle AND a.doc < b.doc")
        )
        keys = [F.expr(f"a.doc AS {ql}"), F.expr(f"b.doc AS {qr}")]
    else:
        shared = cand.join(sh_l.alias("a"), F.expr(f"{ql} = a.doc")).join(
            sh_r.alias("b"), F.expr(f"{qr} = b.doc AND a.shingle = b.shingle")
        )
        keys = [l, r]
    ratio = "(cast(i AS double) * 1.0D) / cast(ca.n + cb.n - i AS double)"
    return (
        shared.groupBy(*keys)
        .agg(F.expr("count(1) AS i"))
        .join(cnt_l.select("doc", "n").alias("ca"), F.expr(f"{ql} = ca.doc"))
        .join(cnt_r.select("doc", "n").alias("cb"), F.expr(f"{qr} = cb.doc"))
        .filter(F.expr(f"{ratio} >= {float(threshold)!r}D"))
        .selectExpr(ql, qr, f"round({ratio}, 6) AS jaccard")
    )


def _band_pairs(
    x: DataFrame, y: DataFrame, l: str, r: str, ordered: bool = False
) -> DataFrame:
    """The one banded candidate join: ``(l, r)`` doc pairs whose
    ``(band, key)`` rows (:func:`signature_bands`) collide in at least
    one band. ``ordered`` keeps only ``l < r`` — the self join's half
    of the symmetric pair set. Not deduplicated: a pair colliding in
    several bands appears once per band."""
    cond = "x.band = y.band AND x.key = y.key"
    if ordered:
        cond += " AND x.doc < y.doc"
    return (
        x.alias("x")
        .join(y.alias("y"), F.expr(cond))
        .selectExpr(f"x.doc AS {_quote_ident(l)}", f"y.doc AS {_quote_ident(r)}")
    )


def _candidate_shingles(
    corpus: DataFrame, cand: DataFrame, col: str, id_col: str, text_col: str
) -> DataFrame:
    """``(doc, shingle)`` rows of the corpus docs named in ``cand[col]``:
    a candidate-sized semi-join plus a shingle pass, never a corpus-wide
    shingle build — how both corpus probes read old text for verify."""
    keep = cand.selectExpr(f"{_quote_ident(col)} AS {_quote_ident(id_col)}")
    return doc_shingles(
        corpus.join(keep.distinct(), id_col, "left_semi"), id_col, text_col
    )


def jaccard_pairs(sh: DataFrame, threshold: float) -> DataFrame:
    """Exact n-gram Jaccard over (doc, shingle) pairs: the brute shingle
    self-join through the one verify body (:func:`_verify`).

    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard ≥ threshold.
    """
    cnt = _shingle_counts(sh)
    return _verify(None, "doc_a", "doc_b", sh, sh, cnt, cnt, threshold)


def minhash_hash_sql(k: int) -> str:
    """ANSI-SQL text of hash function k — the oracle-side twin of
    :func:`_minhash_col`. One definition, two renderings."""
    return f"substr(md5(shingle || '#{k // 4}'), {(k % 4) * 8 + 1}, 8)"


def _minhash_col(k: int):
    """Hash function k of a shingle: an 8-hex-char (32-bit) slice of
    md5(shingle||'#⌊k/4⌋'). Four hash functions share one digest, so K
    hashes cost ⌈K/4⌉ md5 evaluations per shingle instead of K — md5 is
    the dominant signature cost. String min over fixed-width hex is
    well-ordered and identical in any engine; 32 bits is ample for
    min-hash ordering (shingle-pair collision ≈ 2⁻³²)."""
    digest = F.md5(F.concat(F.col("shingle"), F.lit(f"#{k // 4}")))
    return F.substring(digest, (k % 4) * 8 + 1, 8)


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """K min-hashes per doc (hash family: :func:`_minhash_col`).

    The min runs over the hash slice CONVERTED TO A 64-BIT INT, not the
    hex string: a string min has no fixed-width aggregation buffer, so
    Spark planned every signing pass as a SortAggregate — a full sort of
    the exploded shingle table per signature build (r15 profiling: the
    dominant stage of every minhash consumer). Numeric buffers plan as
    HashAggregate with map-side partial aggregation — no sort, and the
    shuffle carries 12 longs instead of 12 strings (guide §2.3). For
    fixed-width lowercase hex, lexicographic order equals numeric order,
    so ``to_hex(min(int(h)))`` is bit-identical to ``min(h)`` — the
    output schema (8-hex-char strings) is unchanged and the SQL oracles
    replay it exactly (pinned by
    ``test_minhash_signatures_hash_agg_matches_string_min``)."""
    return _sign(sh, counted=False)


def minhash_profile(sh: DataFrame) -> DataFrame:
    """One row per doc: its K min-hash columns AND its distinct-shingle
    count ``n`` (the |A| of the Jaccard denominator) — the stored dedup
    artifact (:func:`corpus_minhash_profile`) and every MinHash
    consumer's verify counts. ONE aggregate over the shingle rows: the
    signature and the count used to be two aggregates plus a join on
    ``doc``."""
    return _sign(sh, counted=True)


def _sign(sh: DataFrame, counted: bool) -> DataFrame:
    """The signing aggregate behind :func:`minhash_signatures` and
    :func:`minhash_profile`; ``counted`` adds ``count(1) AS n`` (shingles
    are distinct per doc, so the row count is |A|)."""
    # Each lane is parsed from ONE SQL string (the same
    # :func:`minhash_hash_sql` text the oracles replay) instead of being
    # assembled md5/substring/conv/cast/min call-by-call over py4j, and
    # the hex restore is ONE selectExpr carrying all K strings: the
    # screen builds this plan PER EPOCH, and the call-by-call form was
    # ~170 py4j round-trips of pure driver latency per build (r16
    # profile: ~0.2-0.5 s/epoch of zero-job gap; same §1.2 driver-cost
    # lever as the r15 hyperplane-constant F.expr batching). The parsed
    # Catalyst trees are identical, so the physical plan (HashAggregate
    # over long buffers) is unchanged.
    aggs = [
        F.expr(
            f"min(cast(conv({minhash_hash_sql(k)}, 16, 10) AS bigint)) AS h{k}"
        )
        for k in range(NUM_HASHES)
    ]
    back = [
        f"lpad(lower(conv(h{k}, 10, 16)), 8, '0') AS h{k}"
        for k in range(NUM_HASHES)
    ]
    if counted:
        aggs.append(F.expr("count(1) AS n"))
        back.append("n")
    return sh.groupBy("doc").agg(*aggs).selectExpr("doc", *back)


def signature_bands(sig: DataFrame) -> DataFrame:
    """Band a signature table into (doc, band, key) rows: B bands of R
    hashes each, the band key an md5 over its R hash columns. This is the
    LSH bucketing key — equal (band, key) ⇒ candidate pair.

    One explode over an inline (band, key) array instead of a B-way
    union of selects: the union form re-read (or re-computed) the
    signature relation B times per consumer — the reason callers had to
    persist it — while the explode emits the same rows in a single pass
    (guide §2.4: same result, B−1 fewer traversals of the input)."""
    # One parsed expression for the whole (band, key) array — not B
    # struct/md5/concat_ws Column trees built call-by-call: banding runs
    # inside every per-epoch screen build, where py4j round-trips are
    # the cost (see minhash_signatures). Identical parsed trees,
    # identical plan.
    return sig.selectExpr(
        "doc", f"explode(array({', '.join(_BAND_KEYS)})) AS bk"
    ).selectExpr("doc", "bk.band AS band", "bk.key AS key")


#: SQL text of the B ``struct(band, key)`` values of one signature row
_BAND_KEYS = [
    "struct({b} AS band, md5(concat_ws('|', {cols})) AS key)".format(
        b=b,
        cols=", ".join(f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)),
    )
    for b in range(BANDS)
]


def lsh_candidates(sig: DataFrame) -> DataFrame:
    """Band the signature (B bands × R rows) and emit candidate pairs that
    collide in ≥1 band. Shuffle key = (band_idx, band_key): collision
    buckets are tiny by construction, so the self-join never explodes."""
    bands = signature_bands(sig)
    return _band_pairs(bands, bands, "doc_a", "doc_b", ordered=True).distinct()


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    persisted_out: list | None = None,
) -> DataFrame:
    """Full MinHash-LSH pipeline: shingle → sign → band → candidates →
    exact-verify. Returns verified (doc_a, doc_b, jaccard ≥ threshold).

    What persists and what recomputes (profiled at sf1, 3.2M shingles):
    caching the exploded SHINGLE table cost ~12.5 s of row
    serialization to store ~1.4 s of recompute — the regex shingle build
    (text_shingles, one codegen'd pass) is cheaper to re-run per consumer
    than to materialize. The SIGNATURES (one short row per doc, ~60×
    smaller than the shingle table) are what candidate generation banding
    reads B times — they persist instead. At 100 TB the same logic holds
    harder: the shingle table is corpus-sized × shingle-count (you
    checkpoint it to the lake only if it also feeds reporting), the
    signature table is corpus-row-sized.

    ``persisted_out`` (optional) receives the signature cache handle, so
    a caller that fully materializes the result can release it; lazy
    consumers leave it session-scoped."""
    from pyspark import StorageLevel

    sh = doc_shingles(df, id_col, text_col)
    profile = minhash_profile(sh).persist(StorageLevel.MEMORY_AND_DISK)
    if persisted_out is not None:
        persisted_out.append(profile)
    return _verify(
        lsh_candidates(profile), "doc_a", "doc_b", sh, sh, profile, profile,
        threshold,
    )


def corpus_minhash_profile(
    corpus: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """The stored dedup artifact for a corpus: one row per doc with its
    K min-hash signature columns AND its distinct-shingle count ``n`` —
    everything the incremental screen needs from old data except the
    candidate-restricted text re-read. Corpus-row-sized (~60× smaller
    than the shingle table); at 100 TB this is the table you persist to
    the lake at ingest, bucketed by band key."""
    return minhash_profile(doc_shingles(corpus, id_col, text_col))


def incremental_minhash_pairs(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
) -> DataFrame:
    """Incremental near-dup screen: a NEW batch against an already-ingested
    corpus, without re-deduping the corpus against itself.

    The production shape for a growing 100 TB corpus (the reference's
    incremental-load mode — ``ex-iceberg/src/component.py`` reads only new
    data past a stored watermark — applied to dedup): candidates come
    from a DIRECTED batch→corpus band join, so no corpus self-join runs
    anywhere. Corpus text is re-read only to exact-verify the candidate
    pairs (a candidate-sized semi-join, not a corpus scan, once column
    stats prune the non-candidate files).

    This operator signs the corpus inline — the registered query's shape.
    The stored-profile form, where the corpus profile is computed once at
    ingest and each batch signs only its own rows, is
    :func:`screened_drop_ids` (``prior_profile``), whose body the
    streaming screen runs; both verify through the same :func:`_verify`
    body.

    Returns verified (doc_new, doc_corpus, jaccard ≥ threshold): every
    batch doc that near-duplicates an existing corpus doc. Survivors =
    batch minus doc_new set; corpus-internal duplicates are by
    construction NOT re-reported.
    """
    from pyspark import StorageLevel

    sh_b = doc_shingles(batch, id_col, text_col)
    # persisted: banding reads each side B times and the count join reads
    # the corpus profile again
    profile_c = corpus_minhash_profile(corpus, id_col, text_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    profile_b = minhash_profile(sh_b).persist(StorageLevel.MEMORY_AND_DISK)
    cand = _band_pairs(
        signature_bands(profile_b), signature_bands(profile_c),
        "doc_new", "doc_corpus",
    ).distinct()
    return _verify(
        cand, "doc_new", "doc_corpus",
        sh_b, _candidate_shingles(corpus, cand, "doc_corpus", id_col, text_col),
        profile_b, profile_c, threshold,
    )


def screened_drop_ids(
    batch: DataFrame,
    batch_profile: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    prior: DataFrame | None = None,
    prior_profile: DataFrame | None = None,
) -> DataFrame:
    """Batch doc ids dropped by the incremental near-dup screen, as ONE
    fused candidate+verify pipeline instead of two (intra-batch LSH dedup
    + batch-vs-corpus incremental pairs run separately).

    A batch doc is dropped iff it verified-near-dups (Jaccard ≥
    threshold) any EARLIER doc: a lower-id doc in the same batch, or any
    doc of the prior corpus. Fusing matters twice over: at bench scale it
    halves the per-epoch stage count (one banded-candidate shuffle, one
    shingle-intersection join, one jaccard filter — measured ~2× fewer
    jobs per micro-batch than the two-pipeline form), and at 100 TB it
    reads the candidate-restricted prior text once instead of twice.

    ``batch_profile`` is the batch's :func:`corpus_minhash_profile`
    (signatures + shingle counts), computed once by the caller;
    ``prior_profile`` is the stored corpus profile. Prior docs sharing
    an id with the batch are not prior (a replayed doc never matches its
    own copy). The streaming screen runs the same two steps on its
    one-table store: :func:`touching_rows`, then :func:`screen_drops`."""
    if prior is not None and prior_profile is not None:
        stored = prior.select(id_col, text_col).join(
            prior_profile.withColumnRenamed("doc", id_col), id_col
        )
        prior = touching_rows(
            stored, batch_profile, batch.select(id_col), id_col, text_col
        ).filter("NOT _present").drop("_present")
    else:
        prior = None
    return screen_drops(
        doc_shingles(batch, id_col, text_col), batch_profile,
        id_col, text_col, threshold, prior,
    ).distinct()


def screen_drops(
    sh_b: DataFrame,
    profile_b: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    prior: DataFrame | None = None,
) -> DataFrame:
    """The fused screen body (see :func:`screened_drop_ids`) over the
    batch's shingles ``sh_b`` and profile ``profile_b`` — both
    batch-sized, built once by the caller — and ``prior``: the earlier
    docs a batch doc band-collides with, as :func:`touching_rows` keeps
    them (``id_col``, ``text_col`` and the profile columns on one row).

    Every prior row is a candidate, so its text is shingled whole, with
    no candidate semi-join. The batch's band rows are broadcast into
    both band joins, so the prior side is probed where it lies, without
    a shuffle of it. Candidate pairs are deduplicated once, after the
    intra-batch and the batch→prior pairs are unioned. A doc that
    near-dups several earlier docs is returned once per match: callers
    that need a set deduplicate, the screen flags through an IN
    subquery that needs none."""
    bands_b = F.broadcast(signature_bands(profile_b))
    # the higher doc of an intra-batch pair is the drop candidate
    # (lower id wins)
    cand = _band_pairs(bands_b, bands_b, "other", "drop", ordered=True)
    cnt_other = profile_b.select("doc", "n")
    sh_other = sh_b
    if prior is not None:
        profiled = prior.withColumnRenamed(id_col, "doc")
        cand = cand.unionByName(
            _band_pairs(bands_b, signature_bands(profiled), "drop", "other")
        )
        sh_other = sh_other.unionByName(doc_shingles(prior, id_col, text_col))
        cnt_other = cnt_other.unionByName(profiled.select("doc", "n"))
    verified = _verify(
        cand.distinct(), "drop", "other",
        sh_b, sh_other, profile_b, cnt_other, threshold,
    )
    return verified.selectExpr(f"`drop` AS {_quote_ident(id_col)}")


def touching_rows(
    store: DataFrame,
    profile_b: DataFrame,
    ids: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """The rows of a profiled store (``id_col``, ``text_col`` and the
    profile columns h0..hK, n on one row; n is NULL for a doc without
    shingles) that a batch touches, from ONE scan: every row that
    shares a band key with a batch doc (``profile_b``) or whose id is a
    batch id (``ids``, one ``id_col`` column). ``_present`` marks the
    second kind.

    Each store row explodes its B band keys plus one id key (band B,
    the id as a string; a row without a profile has the id key only),
    and one broadcast equi-join against the batch's keys keeps the
    hits; one aggregate on the id folds a row's hits back into the row.
    The result is candidate-sized, so the prior profile probe, the
    candidate text and the already-present check all derive from it
    instead of from three scans of the store."""
    q = _quote_ident(id_col)
    probe = signature_bands(profile_b).select("band", "key").unionByName(
        ids.selectExpr(f"{BANDS} AS band", f"cast({q} AS string) AS key")
    )
    id_key = f"struct({BANDS} AS band, cast({q} AS string) AS key)"
    keys = (
        f"explode(if(n IS NULL, array({id_key}), "
        f"array({', '.join(_BAND_KEYS)}, {id_key}))) AS _bk"
    )
    carried = [text_col] + [f"h{k}" for k in range(NUM_HASHES)] + ["n"]
    hits = (
        store.select(id_col, *carried)
        .selectExpr("*", keys)
        .alias("s")
        .join(
            F.broadcast(probe).alias("p"),
            F.expr("s._bk.band = p.band AND s._bk.key = p.key"),
        )
        .selectExpr(
            *(f"s.{_quote_ident(c)}" for c in [id_col] + carried),
            f"p.band = {BANDS} AS _present",
        )
    )
    return (
        hits.repartition(_spread_width(store), F.col(id_col))
        .groupBy(id_col)
        .agg(
            *(F.first(c).alias(c) for c in carried),
            F.max("_present").alias("_present"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per doc from md5-derived token hashes.

    Each token contributes ±1 votes on 64 bit positions (4 bits per hex
    nibble of its md5); the sign of each summed position is the fingerprint
    bit. Emitted as 4×16-bit integer bands (s0..s3) for banded near-dup
    search — one aggregation, all expression-level.
    """
    spread = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(id_col)
    )
    tok = (
        spread.select(F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("t"))
        .select("doc", F.explode(F.array_distinct("t")).alias("token"))
        .withColumn("h", F.md5("token"))
    )
    # votes: nibble p (0..15) supplies bits 4p..4p+3
    vote_aggs = []
    for p in range(16):
        nib = F.conv(F.substring("h", p + 1, 1), 16, 10).cast("int")
        for b in range(4):
            bit = F.shiftrightunsigned(nib, b).bitwiseAND(F.lit(1))
            vote_aggs.append(F.sum(bit * 2 - 1).alias(f"v{p * 4 + b}"))
    votes = tok.groupBy("doc").agg(*vote_aggs)
    # pack sign bits into 4 × 16-bit band integers
    band_cols = []
    for band in range(4):
        expr = F.lit(0)
        for j in range(16):
            bitpos = band * 16 + j
            bit = F.when(F.col(f"v{bitpos}") > 0, 1).otherwise(0)
            expr = expr + bit * F.lit(1 << j)
        band_cols.append(expr.alias(f"s{band}"))
    return votes.select("doc", *band_cols)


def simhash_near_pairs(sig: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash: candidates collide on ≥1 of the 4
    16-bit bands (pigeonhole-complete for Hamming ≤ 3), then exact Hamming
    filter via bit_count(xor)."""
    bands = None
    for band in range(4):
        part = sig.select("doc", F.lit(band).alias("band"), F.col(f"s{band}").alias("key"))
        bands = part if bands is None else bands.unionByName(part)
    x = bands.alias("x")
    y = bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.doc") < F.col("y.doc")),
        )
        .select(F.col("x.doc").alias("doc_a"), F.col("y.doc").alias("doc_b"))
        .distinct()
    )
    sa = sig.alias("sa")
    sb = sig.alias("sb")
    ham = sum(
        F.bit_count(
            F.col(f"sa.s{band}").bitwiseXOR(F.col(f"sb.s{band}")).cast("long")
        )
        for band in range(4)
    )
    return (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc"))
        .join(sb, F.col("doc_b") == F.col("sb.doc"))
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Cluster formation: pairwise near-dups → dedup groups
# ---------------------------------------------------------------------------

# Below this edge count the whole (deduplicated, bounded-by-LSH-candidate-
# volume) pair graph is handled by ONE executor task running classic
# union-find — a single Arrow batch, zero iterative rounds. 1M edges is
# ~32 MB of Arrow and a few hundred MB of task heap: far under executor
# memory, and ~10 driver round-trips cheaper than the label-propagation
# loop. Larger graphs take the O(log d) distributed path below.
SMALL_GRAPH_EDGES = 1_000_000

# Below this edge count the graph is METADATA-sized (≤ ~1 MB collected)
# and union-find runs on the driver: one bounded collect replaces the
# count job + the one-task shuffle job + the checkpoint materialization
# (measured: 0.97 s → 0.45 s for a 240-edge graph — the three jobs were
# pure scheduling floor, guide §1.2 "don't compute things you throw
# away" applied to Spark jobs themselves). The result is a local
# relation, so downstream joins broadcast it with zero extra jobs.
DRIVER_GRAPH_EDGES = 32_768


def _union_find(edge_iter) -> list[tuple]:
    """Path-compressed, union-by-min union-find over (src, dst) tuples →
    sorted ``(node, min-member-root)`` rows. The same labeling
    :func:`_cc_single_task` computes inside its Arrow task; extracted so
    the driver fast path and the one-task path share one implementation."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in edge_iter:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return sorted((n, find(n)) for n in parent)


def _cc_single_task(edges: DataFrame) -> DataFrame:
    """Union-find over the full edge list inside one Arrow task.

    ``applyInPandas`` over a constant group key ships every edge to a
    single executor task (NOT the driver — no ``collect()``): path-
    compressed union-find labels each node with its component's minimum
    member id, exactly the fixpoint the iterative path converges to.
    The caller guarantees the edge count is bounded (``SMALL_GRAPH_EDGES``)
    so the one-task group is memory-safe by construction."""
    import pandas as pd
    from pyspark.sql import types as T

    node_t = edges.schema["src"].dataType
    out_schema = T.StructType(
        [T.StructField("doc", node_t), T.StructField("cluster_id", node_t)]
    )

    def uf(pdf: pd.DataFrame) -> pd.DataFrame:
        # union by min: the smaller id becomes the root, so the root IS
        # the component's minimum member (find() path-compresses,
        # keeping chains flat enough at this scale)
        rows = _union_find(zip(pdf["src"].tolist(), pdf["dst"].tolist()))
        return pd.DataFrame(
            {"doc": [r[0] for r in rows], "cluster_id": [r[1] for r in rows]}
        )

    return edges.groupBy(F.lit(1).alias("_g")).applyInPandas(uf, schema=out_schema)


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over an undirected pair list → ``(doc,
    cluster_id)`` with ``cluster_id`` = the minimum member id. The step
    after any pairwise dedup (MinHash/SimHash/embedding LSH): transitive
    duplicates A~B, B~C must land in ONE group so exactly one survivor is
    kept per group, not one per pair.

    Algorithm: iterative min-label propagation over the edge set plus
    one self-loop per node — ``min(label over neighbors ∪ self)`` is the
    whole propagation step, so a round is ONE keyed join + ONE aggregate
    (2 shuffle stages; the earlier shape needed a second labels⋈labels
    join for the update and a third for the convergence check).
    Convergence is detected from the label SUM: labels are per-node
    non-increasing, so the round sum strictly decreases until fixpoint —
    one metadata-sized driver value per round instead of a change-count
    join. Converges in O(component diameter) rounds; near-dup components
    are shallow (duplicates of one source document), so the loop is short
    in practice and ``max_iter`` bounds pathological chains. Labels are
    persisted per round and the previous round unpersisted, so lineage
    stays flat — the standard Spark iteration discipline (same shape
    GraphX/GraphFrames uses).
    """
    from pyspark import StorageLevel

    # both directions in ONE pass over the pairs plan (a union of two
    # selects would execute the — typically expensive — pair pipeline
    # twice on first materialization). NOT deduplicated here: union-find
    # is idempotent under duplicate edges, so the small-graph path skips
    # the distinct's shuffle entirely; the iterative path dedups below
    # (there a duplicate would ride along every round).
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
                    ),
                    F.struct(
                        F.col(b_col).alias("src"), F.col(a_col).alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Adaptive parallelism: the verified pair graph is orders of magnitude
    # smaller than the corpus (bounded by LSH candidate volume), so the
    # iteration's shuffles are sized to the EDGE count, not the cluster
    # default — a 500-edge graph iterates in 1 partition (per-round jobs
    # are sub-second), a billion-edge graph spreads out. The count also
    # materializes the persisted edge set once, before the loop. (It may
    # overcount vs unique edges when callers emit duplicate pairs —
    # a conservative error: it only lowers the single-task cutoff.)
    # Driver fast path: probe for up to DRIVER_GRAPH_EDGES+1 edges with a
    # bounded collect — when the whole graph fits (the common case: the
    # verified pair graph of a dedup pass is orders of magnitude smaller
    # than the corpus), union-find runs here and the labels return as a
    # LOCAL relation: one Spark job total, and downstream joins broadcast
    # the result without another. An over-limit probe falls through with
    # the edge cache warm (the limit scan populated it), so nothing is
    # wasted on big graphs.
    head = edges.limit(DRIVER_GRAPH_EDGES + 1).collect()
    if len(head) <= DRIVER_GRAPH_EDGES:
        from pyspark.sql import types as T

        edges.unpersist()
        rows = _union_find((r[0], r[1]) for r in head)
        node_t = edges.schema["src"].dataType
        out_schema = T.StructType(
            [T.StructField("doc", node_t), T.StructField("cluster_id", node_t)]
        )
        # broadcast hint: the Python-local relation is RDD-backed with
        # unknown size stats, so without the hint a downstream join
        # plans sort-merge and shuffles BOTH sides; the labels are
        # metadata-sized by construction (≤ DRIVER_GRAPH_EDGES rows).
        # Few, explicit slices: a bare createDataFrame parallelizes into
        # defaultParallelism slices, and materializing the broadcast
        # then runs one Python-worker round-trip PER SLICE — 32
        # near-empty tasks that were the measured wall of every
        # driver-cc consumer (r15 profile); ~8k labels per slice keeps
        # the relation a handful of tasks at any legal size.
        spark = pairs.sparkSession
        rdd = spark.sparkContext.parallelize(
            rows, max(1, len(rows) // 8192 + 1)
        )
        return F.broadcast(spark.createDataFrame(rdd, out_schema))
    n_edges = edges.count()
    if n_edges <= SMALL_GRAPH_EDGES:
        # one-task union-find (see _cc_single_task); checkpoint flattens
        # the plan for downstream consumers, then the edge cache can go
        out = _cc_single_task(edges).localCheckpoint(eager=True)
        edges.unpersist()
        return out
    spark = pairs.sparkSession
    n_part = max(1, min(
        spark.sparkContext.defaultParallelism, n_edges // 50_000 + 1
    ))
    edges_raw, edges = edges, edges.distinct().persist(
        StorageLevel.MEMORY_AND_DISK
    )
    nodes = edges.select(F.col("src").alias("node")).distinct()
    # static join input: edges ∪ self-loops (dupes can't survive min());
    # pre-partitioned on the join key so every round reuses the layout
    edges_plus = (
        edges.select("src", "dst")
        .union(nodes.select(F.col("node"), F.col("node")))
        .repartition(n_part, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Lineage must be CUT each round, not just cached: persist() keeps the
    # nested logical plan, so analysis/optimization time compounds per
    # round (measured: 0.7 s → 6.4 s by round 7 on a 480-edge graph).
    # localCheckpoint(eager=True) materializes the round AND replaces the
    # plan with the materialized RDD — per-round cost stays flat. Same
    # discipline GraphX applies to Pregel iterations.
    labels = (
        nodes.withColumn("label", F.col("node"))
        .repartition(n_part, "node")
        .localCheckpoint(eager=True)
    )
    # round 0 always changes labels when any edge exists (each edge's
    # larger endpoint drops), so the first sum comparison is a no-op:
    # seed with None and skip the pre-loop sum job
    prev_sum = None
    prev_ckpt = labels
    sum_expr = F.sum(F.col("label").cast("decimal(38,0)"))
    for _ in range(max_iter):
        stepped = (
            edges_plus.join(labels, edges_plus.src == labels.node)
            .groupBy("dst")
            .agg(F.min("label").alias("label"))
            .select(F.col("dst").alias("node"), "label")
            .localCheckpoint(eager=True)
        )
        # stepped is materialized, so the previous round's checkpoint
        # has no reader left — release it (the docstring's "previous
        # round unpersisted" contract; without this every round leaks a
        # cached RDD for the session's lifetime). The LAST checkpoint
        # stays: the returned plan reads it.
        release_local_checkpoint(prev_ckpt)
        prev_ckpt = stepped
        # Pointer-jumping shortcut: follow each node's label to ITS label
        # (labels are node ids, and every node has a label row). One extra
        # tiny self-join halves the remaining component diameter per
        # round, so convergence is O(log d) rounds instead of O(d) — the
        # difference between 8 and 3 rounds here, and between ~40 and ~6
        # rounds on the long duplicate chains crawl corpora produce.
        # Invariant kept: label(x) <= x, per-node non-increasing, so the
        # label-sum still strictly decreases until the true fixpoint.
        lab2 = stepped.select(
            F.col("node").alias("label"), F.col("label").alias("jumped")
        )
        labels = stepped.join(lab2, "label", "left").select(
            "node", F.coalesce("jumped", "label").alias("label")
        )
        cur_sum = labels.agg(sum_expr).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    edges_plus.unpersist()
    edges.unpersist()
    edges_raw.unpersist()
    return labels.select(
        F.col("node").alias("doc"), F.col("label").alias("cluster_id")
    )
