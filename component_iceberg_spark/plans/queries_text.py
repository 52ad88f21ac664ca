"""Text-analysis + dedup queries over the documents table (SURVEY §2.5 /
north-star extensions).

Oracle strategy: every expression is deterministic cross-engine (regex
counts, integer math, md5, string min), so even the MinHash-LSH pipeline
has an *exact* oracle — the DuckDB SQL runs the identical algorithm with
the same hash constructions, generated from the same constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from component_iceberg_spark.io.tables import load_table
from component_iceberg_spark.operators import dedup as D
from component_iceberg_spark.operators import text as X
from component_iceberg_spark.plans.registry import register
from component_iceberg_spark.session import local_relation

# ---------------------------------------------------------------------------
# Token / quality metrics
# ---------------------------------------------------------------------------


@register(
    "text_tokens",
    oracle=rf"""
    SELECT doc_id,
           length(text) AS n_chars,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
           len(regexp_extract_all(text, '{X.BPE_TOKEN_RE}')) AS n_bpe_tokens,
           round(length(text) * 1.0 /
                 len(regexp_split_to_array(trim(text), '\s+')), 4) AS chars_per_token
    FROM documents
    """,
    tags=("ext", "text"),
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish pre-tokenizer regex
    count. Pure projections — pipeline inside the scan stage."""
    d = load_table(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.regexp_count("text", F.lit(X.BPE_TOKEN_RE)).cast("long").alias("n_bpe_tokens"),
        F.round(F.length("text") * 1.0 / F.size(toks), 4).alias("chars_per_token"),
    )


# SQL twin of operators.text.quality_score — the one place the composite
# quality formula is spelled on the oracle side (text_quality,
# pipeline_curation and pipeline_token_budget all interpolate it).
QUALITY_SCORE_SQL = (
    r"LEAST(len(regexp_split_to_array(trim(text), '\s+')) / 64.0, 1.0)"
    r" * 0.5 + (1.0 - len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))"
    r" * 1.0 / length(text)) * 0.5"
)


@register(
    "text_quality",
    oracle=r"""
    SELECT doc_id,
           round(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) * 1.0
                 / length(text), 6) AS punct_ratio,
           round(len(regexp_extract_all(lower(text), '\b(the|and|is|of|to|a|in)\b'))
                 * 1.0 / len(regexp_split_to_array(trim(text), '\s+')), 6)
               AS stopword_ratio,
           round({QUALITY_SCORE_SQL}, 6) AS quality_score
    FROM documents
    """.format(QUALITY_SCORE_SQL=QUALITY_SCORE_SQL),
    tags=("ext", "text"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: punctuation ratio, stopword ratio, and a composite
    score (length saturation + cleanliness) — the standard cheap filters
    before expensive pipeline stages."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(X.tokens(F.col("text")))
    punct = F.regexp_count("text", F.lit(r"[^A-Za-z0-9\s]"))
    stop = F.regexp_count(F.lower("text"), F.lit(r"\b(the|and|is|of|to|a|in)\b"))
    punct_ratio = punct * 1.0 / F.length("text")
    return d.select(
        "doc_id",
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop * 1.0 / n_tokens, 6).alias("stopword_ratio"),
        F.round(X.quality_score("text"), 6).alias("quality_score"),
    )


def _lang_case_sql() -> str:
    c = {
        lang: rf"len(regexp_extract_all(lower(text), '\b({'|'.join(ws)})\b'))"
        for lang, ws in X.LANG_STOPWORDS.items()
    }
    return f"""
    SELECT doc_id,
           CASE
             WHEN {c['en']} >= {c['de']} AND {c['en']} >= {c['fr']}
                  AND {c['en']} >= {c['es']} AND {c['en']} > 0 THEN 'en'
             WHEN {c['de']} >= {c['fr']} AND {c['de']} >= {c['es']}
                  AND {c['de']} > 0 THEN 'de'
             WHEN {c['fr']} >= {c['es']} AND {c['fr']} > 0 THEN 'fr'
             WHEN {c['es']} > 0 THEN 'es'
             ELSE 'und'
           END AS lang_pred
    FROM documents
    """


@register("text_langid", oracle=_lang_case_sql(), tags=("ext", "text"))
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID with pinned tie-breaking (en>de>fr>es) and
    'und' fallback."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", X.lang_id(F.col("text")).alias("lang_pred"))


@register(
    "text_fingerprint",
    oracle=r"""
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                                   '\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
    tags=("ext", "text"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-text md5 fingerprint (cross-engine-stable hash choice)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", X.fingerprint(F.col("text")).alias("fp"))


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle=r"""
    SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                                   '\s+', ' ', 'g'))) AS fp,
           min(doc_id) AS rep_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
    tags=("ext", "dedup"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized fingerprint: hash-aggregate, min-id
    representative. Shuffle ∝ distinct docs (map-side combine)."""
    d = load_table(spark, sf_dir, "documents")
    return D.exact_dedup(d, "doc_id", X.fingerprint(F.col("text")))


# Edge whitespace is stripped with a regex, not trim(): trim removes only
# spaces, so a doc edged with \t/\n would mint a phantom '' token and a
# phantom shingle — the Spark side (text_shingles) never does. Same
# strings either way on the all-space fixture; this pins the semantics.
def _shingle_cte(name: str = "sh", where: str = "TRUE") -> str:
    """Oracle-side twin of operators.text.text_shingles as a named CTE,
    optionally restricted to a doc_id predicate (used by the incremental
    dedup oracle to carve corpus/batch halves)."""
    return rf"""
{name} AS (
    SELECT doc_id AS doc,
           unnest(list_distinct(CASE WHEN len(arr) >= 3 THEN
               list_transform(range(1, len(arr)-1),
                              i -> arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2])
               ELSE [] END)) AS shingle
    FROM (SELECT doc_id,
                 regexp_split_to_array(
                     regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') AS arr
          FROM documents WHERE {where})
)
"""


_SHINGLE_SQL = _shingle_cte()

_JACCARD_ORACLE = f"""
WITH {_SHINGLE_SQL},
cnt AS (SELECT doc, count(*) AS n FROM sh GROUP BY doc),
inter AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(i * 1.0 / (ca.n + cb.n - i), 6) AS jaccard
FROM inter
JOIN cnt ca ON ca.doc = doc_a
JOIN cnt cb ON cb.doc = doc_b
WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.8
"""


@register("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE, tags=("ext", "dedup"))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.8). The brute
    shingle self-join — ground truth below ~10M docs; above that it is the
    verification stage behind MinHash-LSH (next query)."""
    d = load_table(spark, sf_dir, "documents")
    sh = D.doc_shingles(d, "doc_id", "text")
    return D.jaccard_pairs(sh, 0.8)


def _minhash_cte_body() -> str:
    """CTE chain ending in ``pairs`` (verified MinHash-LSH near-dup pairs)
    — shared by the pair oracle and the cluster oracle."""
    h = ", ".join(
        f"min({D.minhash_hash_sql(k)}) AS h{k}" for k in range(D.NUM_HASHES)
    )
    band_rows = []
    for b in range(D.BANDS):
        cols = " || '|' || ".join(
            f"h{b * D.ROWS_PER_BAND + r}" for r in range(D.ROWS_PER_BAND)
        )
        band_rows.append(f"SELECT doc, {b} AS band, md5({cols}) AS key FROM sig")
    bands = " UNION ALL ".join(band_rows)
    return f"""{_SHINGLE_SQL},
sig AS (SELECT doc, {h} FROM sh GROUP BY doc),
bands AS ({bands}),
cand AS (
    SELECT DISTINCT x.doc AS doc_a, y.doc AS doc_b
    FROM bands x JOIN bands y
      ON x.band = y.band AND x.key = y.key AND x.doc < y.doc
),
cnt AS (SELECT doc, count(*) AS n FROM sh GROUP BY doc),
inter AS (
    SELECT doc_a, doc_b, count(*) AS i
    FROM cand
    JOIN sh a ON a.doc = doc_a
    JOIN sh b ON b.doc = doc_b AND a.shingle = b.shingle
    GROUP BY 1, 2
),
pairs AS (
    SELECT doc_a, doc_b,
           round(i * 1.0 / (ca.n + cb.n - i), 6) AS jaccard
    FROM inter
    JOIN cnt ca ON ca.doc = doc_a
    JOIN cnt cb ON cb.doc = doc_b
    WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.8
)"""


def _minhash_oracle() -> str:
    return f"WITH {_minhash_cte_body()} SELECT doc_a, doc_b, jaccard FROM pairs"


# Verified LSH pairs feed three registered queries (the pair report,
# cluster formation, and the leakage-safe split via the cached cluster
# map). Cache the persisted result per (session, fixture):
# re-running the shingle+signature+verify pipeline for each consumer
# doubles the most expensive dedup stage for zero benefit — exactly the
# stage a 100 TB pipeline checkpoints to the lake once and fans out from.
# Lifecycle (app-keyed eviction, race-safe publish): plans/cache.py.


def verified_minhash_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.8
) -> DataFrame:
    from component_iceberg_spark.plans.cache import session_cached

    return session_cached(
        spark,
        ("minhash_pairs", sf_dir, threshold),
        lambda: D.minhash_lsh_dedup(
            load_table(spark, sf_dir, "documents"), "doc_id", "text", threshold
        ),
    )


@register("dedup_minhash_lsh", oracle=_minhash_oracle(), tags=("ext", "dedup"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection, exact-verified. The oracle runs the
    *same* LSH (same md5 hash family, bands, rows) in SQL, so the check
    covers candidate generation — not just the verified survivors. Scale
    path for 100 TB: every stage is one keyed shuffle with tunable
    candidate volume (B×R), vs. the brute join's data-determined fan-out."""
    return verified_minhash_pairs(spark, sf_dir, 0.8)


def _incremental_minhash_oracle() -> str:
    """SQL twin of operators.dedup.incremental_minhash_pairs on a
    corpus/batch carve of documents (batch = doc_id % 5 = 0): same hash
    family, same banding, but the candidate join is DIRECTED batch→corpus
    — no corpus self-join anywhere."""
    h = ", ".join(
        f"min({D.minhash_hash_sql(k)}) AS h{k}" for k in range(D.NUM_HASHES)
    )

    def bands(sig: str) -> str:
        rows = []
        for b in range(D.BANDS):
            cols = " || '|' || ".join(
                f"h{b * D.ROWS_PER_BAND + r}" for r in range(D.ROWS_PER_BAND)
            )
            rows.append(f"SELECT doc, {b} AS band, md5({cols}) AS key FROM {sig}")
        return " UNION ALL ".join(rows)

    return f"""WITH {_shingle_cte("shc", "doc_id % 5 <> 0")},
{_shingle_cte("shb", "doc_id % 5 = 0")},
sigc AS (SELECT doc, {h} FROM shc GROUP BY doc),
sigb AS (SELECT doc, {h} FROM shb GROUP BY doc),
bandsc AS ({bands("sigc")}),
bandsb AS ({bands("sigb")}),
cand AS (
    SELECT DISTINCT nb.doc AS doc_new, cb.doc AS doc_corpus
    FROM bandsb nb JOIN bandsc cb ON nb.band = cb.band AND nb.key = cb.key
),
cntc AS (SELECT doc, count(*) AS n FROM shc GROUP BY doc),
cntb AS (SELECT doc, count(*) AS n FROM shb GROUP BY doc),
inter AS (
    SELECT doc_new, doc_corpus, count(*) AS i
    FROM cand
    JOIN shb a ON a.doc = doc_new
    JOIN shc b ON b.doc = doc_corpus AND a.shingle = b.shingle
    GROUP BY 1, 2
)
SELECT doc_new, doc_corpus,
       round(i * 1.0 / (ca.n + cb.n - i), 6) AS jaccard
FROM inter
JOIN cntb ca ON ca.doc = doc_new
JOIN cntc cb ON cb.doc = doc_corpus
WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.8"""


@register(
    "dedup_incremental_minhash",
    oracle=_incremental_minhash_oracle(),
    tags=("ext", "dedup"),
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup screen: the arriving batch (doc_id % 5 = 0,
    ~20% of documents) probed against the already-ingested corpus (the
    other 80%) — the production shape for a GROWING corpus, where the
    corpus's signature table is computed once and stored, and each batch
    pays only its own shingle+sign cost plus a directed band join
    (operators/dedup.py incremental_minhash_pairs). The reference's
    incremental-load mode (ex-iceberg/src/component.py:104-117, new rows
    past a stored watermark) is this pattern's scan half."""
    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 5 != 0)
    batch = d.filter(F.col("doc_id") % 5 == 0)
    return D.incremental_minhash_pairs(corpus, batch, "doc_id", "text", 0.8)


def _simhash_oracle() -> str:
    """Replay the md5-derived SimHash bit-for-bit in DuckDB: same
    tokenization, same per-nibble vote, same 4×16-bit band packing, same
    banded candidate join + exact Hamming filter (operators/dedup.py
    simhash/simhash_near_pairs). Everything is md5-hex arithmetic, so the
    SQL twin is exact — no float anywhere."""
    # vote for fingerprint bit i = sum over distinct tokens of
    # (2 * bit_b(nibble_p(md5)) - 1) where p = i div 4, b = i mod 4
    votes = []
    for i in range(64):
        p, b = divmod(i, 4)
        nib = f"(strpos('0123456789abcdef', substr(h, {p + 1}, 1)) - 1)"
        votes.append(f"sum(2 * (({nib} >> {b}) & 1) - 1) AS v{i}")
    bands = []
    for band in range(4):
        bits = " + ".join(
            f"(CASE WHEN v{band * 16 + j} > 0 THEN 1 ELSE 0 END) * {1 << j}"
            for j in range(16)
        )
        bands.append(f"({bits}) AS s{band}")
    ham = " + ".join(f"bit_count(xor(a.s{k}, b.s{k}))" for k in range(4))
    return f"""
    WITH tok AS (
        SELECT doc_id AS doc,
               unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+')))
                   AS token
        FROM documents
    ),
    th AS (SELECT doc, md5(token) AS h FROM tok),
    votes AS (SELECT doc, {", ".join(votes)} FROM th GROUP BY doc),
    sig AS (SELECT doc, {", ".join(bands)} FROM votes),
    cand AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b,
               CAST({ham} AS INTEGER) AS hamming
        FROM sig a JOIN sig b
          ON a.doc < b.doc
         AND (a.s0 = b.s0 OR a.s1 = b.s1 OR a.s2 = b.s2 OR a.s3 = b.s3)
    )
    SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 3
    """


@register("dedup_simhash", oracle=_simhash_oracle(), tags=("ext", "dedup"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3 over 64 bits, banded 4×16 so
    candidate generation is pigeonhole-complete). The fingerprint is
    md5-derived, so the oracle replays the identical vote/pack/band/verify
    pipeline in SQL — an exact integer check end-to-end."""
    d = load_table(spark, sf_dir, "documents")
    return D.simhash_near_pairs(D.simhash(d, "doc_id", "text"), max_hamming=3)


@register(
    "text_top_ngrams",
    oracle=f"""
    WITH {_SHINGLE_SQL}
    SELECT shingle, count(*) AS n_docs
    FROM sh
    GROUP BY shingle
    ORDER BY n_docs DESC, shingle
    LIMIT 20
    """,
    tags=("ext", "text"),
)
def text_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram frequency profile: top-20 3-gram shingles by document
    frequency. Hash-aggregate over the exploded shingles (map-side
    combine) + bounded-heap top-k — corpus-profiling at any scale."""
    from component_iceberg_spark.operators import relational

    d = load_table(spark, sf_dir, "documents")
    sh = D.doc_shingles(d, "doc_id", "text")
    counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("n_docs"))
    return relational.topk(
        counts, [F.col("n_docs").desc(), F.col("shingle")], 20
    )


_CURATION_ORACLE = f"""
WITH {_SHINGLE_SQL},
quality AS (
    SELECT doc_id, source,
           round({QUALITY_SCORE_SQL}, 6) AS q
    FROM documents
),
cnt AS (SELECT doc, count(*) AS n FROM sh GROUP BY doc),
inter AS (
    SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS i
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
    GROUP BY 1, 2
),
dup_losers AS (
    SELECT DISTINCT doc_b FROM inter
    JOIN cnt ca ON ca.doc = doc_a
    JOIN cnt cb ON cb.doc = doc_b
    WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.8
),
curated AS (
    SELECT doc_id, source FROM quality
    WHERE q >= 0.5
      AND doc_id NOT IN (SELECT doc_b FROM dup_losers)
)
SELECT source, count(*) AS n_docs
FROM curated
GROUP BY source
"""


@register("pipeline_curation", oracle=_CURATION_ORACLE, tags=("ext", "pipeline"))
def pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation (the composition this engine
    exists for): quality-score filter → near-dup removal (lower doc_id of
    each Jaccard≥0.8 pair survives) → per-source corpus stats. One plan:
    the quality filter prunes before the expensive dedup join. The
    dup-loser set is data-dependent (as large as the corpus's duplicate
    fraction — on a crawl corpus, most of it), so it carries NO broadcast
    hint: a plain left_anti lets AQE broadcast only when the set is
    actually small at runtime."""
    d = load_table(spark, sf_dir, "documents")
    q = F.round(X.quality_score("text"), 6)
    quality = d.select("doc_id", "source", q.alias("q"))
    losers = (
        D.jaccard_pairs(D.doc_shingles(d, "doc_id", "text"), 0.8)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    curated = quality.filter(F.col("q") >= 0.5).join(losers, "doc_id", "left_anti")
    return curated.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))


# ---------------------------------------------------------------------------
# C4-style span-level dedup: remove every repeated k-word span corpus-wide
# ---------------------------------------------------------------------------

# Consecutive 8-word chunks in ONE regex pass — no lambda-over-sequence
# (which would re-inline the tokenizer per chunk, see operators/text.py
# shingles note) and no per-word explode. Both engines run the identical
# pattern, so chunk boundaries agree byte-for-byte.
_SPAN_PAT = r"(?:\S+\s+){0,7}\S+"

_SPAN_DEDUP_ORACLE = rf"""
WITH c AS (
    SELECT doc_id,
           unnest(regexp_extract_all(text, '{_SPAN_PAT}')) AS chunk,
           generate_subscripts(regexp_extract_all(text, '{_SPAN_PAT}'), 1) AS pos
    FROM documents
), ranked AS (
    SELECT doc_id, pos, chunk,
           row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
    FROM c
)
SELECT doc_id,
       count(*) AS total_chunks,
       count(*) FILTER (rn = 1) AS kept_chunks,
       md5(coalesce(
           string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY pos),
           '')) AS dedup_fp
FROM ranked
GROUP BY doc_id
"""


@register("text_span_dedup", oracle=_SPAN_DEDUP_ORACLE, tags=("ext", "dedup", "text"))
def text_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style span-level deduplication: every 8-word span that occurs
    more than once in the corpus is removed from all but its first
    occurrence (ordered by doc_id, then position), and each document is
    rebuilt from its surviving spans. Output per doc: span counts before/
    after and an md5 fingerprint of the rebuilt text (the text itself
    stays distributed).

    Scale shape: one projection chunks each doc (regex pass, no explode
    of words); one shuffle keyed by chunk finds global first occurrences
    (span cardinality is high and near-uniform — no skew); one shuffle
    back by doc_id rebuilds. Both shuffles carry O(corpus spans) rows —
    linear, no all-pairs anything. The per-doc collect_list is bounded by
    document length."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.select(
        "doc_id",
        F.posexplode(
            F.regexp_extract_all(F.col("text"), F.lit(_SPAN_PAT), 0)
        ).alias("pos", "chunk"),
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("chunk").orderBy("doc_id", "pos")
    )
    ranked = c.withColumn("rn", rn)
    kept_struct = F.when(
        F.col("rn") == 1, F.struct(F.col("pos"), F.col("chunk"))
    )
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("total_chunks"),
        F.count(F.when(F.col("rn") == 1, 1)).alias("kept_chunks"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda x: x["chunk"],
                ),
                " ",
            )
        ).alias("dedup_fp"),
    )


# ---------------------------------------------------------------------------
# Context-window chunking + model-based quality filter (r4)
# ---------------------------------------------------------------------------

CHUNK_WIN, CHUNK_STRIDE = 32, 16

_CHUNK_ORACLE = f"""
WITH t AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
    FROM documents
), s AS (
    SELECT doc_id, toks,
           unnest(generate_series(0, len(toks) - 1, {CHUNK_STRIDE})) AS st
    FROM t
)
SELECT doc_id,
       CAST(st // {CHUNK_STRIDE} AS INT) AS chunk_idx,
       len(toks[st + 1 : st + {CHUNK_WIN}]) AS n_tokens,
       array_to_string(toks[st + 1 : st + {CHUNK_WIN}], ' ') AS chunk_text
FROM s
"""


@register("text_chunk_windows", oracle=_CHUNK_ORACLE, tags=("ext", "text"))
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding context windows (win=32 tokens, stride=16) over each
    document — the chunking stage in front of tokenize-and-pack. One
    tokenize per doc, one generator explode; fan-out is linear in corpus
    token count (operators/text.chunk_windows)."""
    d = load_table(spark, sf_dir, "documents")
    out = X.chunk_windows(d, "doc_id", "text", CHUNK_WIN, CHUNK_STRIDE)
    return out.withColumn("n_tokens", F.col("n_tokens").cast("long"))


def _classifier_prob_sql() -> str:
    """SQL text of the rounded logistic quality probability — shared by
    the classifier oracle and the pretrain-prep pipeline oracle so the
    two can never drift."""
    toks = "len(regexp_split_to_array(trim(text), '\\s+'))"
    feats = {
        "len_sat": f"least({toks} / 64.0, 1.0)",
        "punct_ratio":
            r"len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) * 1.0"
            " / length(text)",
        "stopword_ratio":
            r"len(regexp_extract_all(lower(text), '\b(the|and|is|of|to|a|in)\b'))"
            f" * 1.0 / {toks}",
        "digit_ratio": "len(regexp_extract_all(text, '[0-9]')) * 1.0"
                       " / length(text)",
        "mean_tok_len": f"length(text) * 1.0 / {toks}",
    }
    z = str(X.QUALITY_BIAS)
    for name, w in X.QUALITY_WEIGHTS:
        z += f" + ({feats[name]}) * {w}"
    return f"round(1.0 / (1.0 + exp(-({z}))), 6)"


def _classifier_oracle() -> str:
    prob = _classifier_prob_sql()
    return f"""
    SELECT doc_id,
           {prob} AS quality_prob,
           {prob} >= 0.5 AS keep
    FROM documents
    """


@register(
    "text_quality_classifier", oracle=_classifier_oracle(), tags=("ext", "text")
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter: logistic regression over engineered
    text features (length saturation, punctuation/stopword/digit density,
    mean token length) with fixed offline-trained weights — the
    fastText-classifier shape of pipeline quality filtering, as a pure
    expression (w·x + sigmoid pipelines inside the scan; the heuristic
    twin is text_quality). The oracle replays feature extraction and the
    weighted sum in the identical order."""
    d = load_table(spark, sf_dir, "documents")
    prob = F.round(X.classifier_score("text"), 6)
    return d.select(
        "doc_id",
        prob.alias("quality_prob"),
        (prob >= 0.5).alias("keep"),
    )


# ---------------------------------------------------------------------------
# End-to-end pretraining prep (r4): classifier filter → exact-dedup
# survivors → non-overlapping chunking → per-source corpus stats
# ---------------------------------------------------------------------------

PACK_WIN = 32


def _pretrain_prep_oracle() -> str:
    prob = _classifier_prob_sql()
    return f"""
    WITH kept AS (
        SELECT doc_id, text, source FROM documents WHERE {prob} >= 0.5
    ), surv AS (
        SELECT doc_id, text, source FROM (
            SELECT doc_id, text, source,
                   row_number() OVER (
                       PARTITION BY md5(trim(regexp_replace(regexp_replace(
                           lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                           '\\s+', ' ', 'g')))
                       ORDER BY doc_id
                   ) AS rn
            FROM kept
        ) WHERE rn = 1
    ), t AS (
        SELECT doc_id, source,
               regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM surv
    ), c AS (
        SELECT doc_id, source, toks,
               unnest(generate_series(0, len(toks) - 1, {PACK_WIN})) AS st
        FROM t
    )
    SELECT source,
           count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_chunks,
           CAST(sum(len(toks[st + 1 : st + {PACK_WIN}])) AS BIGINT) AS total_tokens
    FROM c
    GROUP BY source
    """


@register(
    "pipeline_pretrain_prep",
    oracle=_pretrain_prep_oracle(),
    tags=("ext", "pipeline", "text"),
)
def pipeline_pretrain_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The r4 ops composed into one pretraining-prep pipeline: logistic
    quality filter → exact dedup (min-id survivor per normalized
    fingerprint) → non-overlapping 32-token chunking → per-source corpus
    stats. Everything is one lazy plan: the filter and fingerprint
    pipeline inside the scan, dedup is one keyed window, the chunk
    explode is linear in surviving tokens, and the final rollup is a
    map-side-combined aggregate — at 100 TB the only shuffles are the
    fingerprint window and the tiny per-source aggregate. The oracle
    recomposes the classifier, fingerprint and chunk SQL from the same
    shared builders, so the stages cannot drift apart."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    prob = F.round(X.classifier_score("text"), 6)
    kept = d.select("doc_id", "text", "source").filter(prob >= 0.5)
    w = Window.partitionBy(X.fingerprint(F.col("text"))).orderBy("doc_id")
    surv = (
        kept.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    chunks = X.chunk_windows(
        surv, "doc_id", "text", PACK_WIN, PACK_WIN, carry=("source",)
    )
    return chunks.groupBy("source").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# BM25 lexical search (r4): the lexical half of hybrid retrieval
# ---------------------------------------------------------------------------

BM25_K1, BM25_B = 1.2, 0.75
BM25_TERMS = ("merge", "scan", "window")
BM25_TOPK = 20


def _bm25_cte() -> str:
    """CTE chain ending in ``bm(doc_id, bm25)`` — shared by the BM25
    oracle and the hybrid-retrieval oracle so the lexical half cannot
    drift between them."""
    tf_cols = ", ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf_{t}" for t in BM25_TERMS
    )
    df_cols = ", ".join(
        f"sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}"
        for t in BM25_TERMS
    )
    score = " + ".join(
        f"ln(1.0 + (n - df_{t} + 0.5) / (df_{t} + 0.5))"
        f" * (tf_{t} * ({BM25_K1} + 1.0))"
        f" / (tf_{t} + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl * n / tdl))"
        for t in BM25_TERMS
    )
    return f"""t AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
        FROM documents
    ), d AS (
        SELECT doc_id, len(toks) * 1.0 AS dl, {tf_cols} FROM t
    ), s AS (
        SELECT count(*) * 1.0 AS n, sum(dl) AS tdl, {df_cols} FROM d
    ), bm AS (
        SELECT doc_id, round({score}, 6) AS bm25 FROM d, s
    )"""


def _bm25_oracle() -> str:
    return f"""
    WITH {_bm25_cte()}
    SELECT doc_id, bm25
    FROM bm
    ORDER BY bm25 DESC, doc_id
    LIMIT {BM25_TOPK}
    """


@register("text_bm25_topk", oracle=_bm25_oracle(), tags=("ext", "text", "search"))
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical top-k for a fixed term set — the lexical half of
    hybrid retrieval beside the embedding ANN family. Shape built for
    scale: term frequencies come from per-row ARRAY filters (no token
    explode, no shuffle), the corpus statistics (N, total length, per-
    term document frequencies) collapse to ONE broadcast row, scoring is
    a pure projection, and the top-k is TakeOrderedAndProject — so the
    whole query is one scan + a scalar aggregate + a bounded take at any
    corpus size. Ties at the k boundary break on doc_id, making the
    result set deterministic; ln/arithmetic order is pinned to match the
    oracle exactly (round 6)."""
    d = load_table(spark, sf_dir, "documents")
    toks = X.tokens(F.lower(F.col("text")))

    def _tf(term):
        # factory, not a default-arg lambda: a 2-parameter lambda would be
        # interpreted by F.filter as (element, index)
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    per_doc = d.select(
        "doc_id",
        (F.size(toks) * 1.0).alias("dl"),
        *[_tf(t).alias(f"tf_{t}") for t in BM25_TERMS],
    )
    stats = per_doc.agg(
        (F.count(F.lit(1)) * 1.0).alias("n"),
        F.sum("dl").alias("tdl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("int")).alias(f"df_{t}")
            for t in BM25_TERMS
        ],
    )
    score = None
    for t in BM25_TERMS:
        idf = F.log(
            F.lit(1.0)
            + (F.col("n") - F.col(f"df_{t}") + 0.5) / (F.col(f"df_{t}") + 0.5)
        )
        part = idf * (F.col(f"tf_{t}") * (BM25_K1 + 1.0)) / (
            F.col(f"tf_{t}")
            + BM25_K1
            * (1.0 - BM25_B + BM25_B * F.col("dl") * F.col("n") / F.col("tdl"))
        )
        score = part if score is None else score + part
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .select("doc_id", F.round(score, 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(BM25_TOPK)
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval (r5): reciprocal-rank fusion of BM25 + embedding ANN
# ---------------------------------------------------------------------------

HYBRID_QUERY_ID = 17  # member of queries_similarity.QUERY_IDS
HYBRID_K = BM25_TOPK  # depth of each input list
HYBRID_TOPK = 10
RRF_C = 60  # the canonical RRF constant (Cormack et al. 2009)


def _hybrid_cte() -> str:
    """CTE chain ending in ``cand(doc_id, lex_rank, sem_rank, rrf)`` —
    the fused candidate list, shared by the hybrid oracle and the
    re-rank oracle so the generate stage cannot drift between them."""
    from component_iceberg_spark.plans.queries_similarity import _cos, _norm_cte

    return f"""{_bm25_cte()},
    {_norm_cte("ed", "en")},
    hq AS (SELECT v AS qv, nrm AS qn FROM en WHERE vec_id = {HYBRID_QUERY_ID}),
    sem0 AS (
        SELECT c.vec_id AS doc_id,
               {_cos("hq.qv", "hq.qn", "c.v", "c.nrm")} AS cosine_sim
        FROM en c CROSS JOIN hq
        WHERE c.vec_id <> {HYBRID_QUERY_ID}
    ),
    sem AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY cosine_sim DESC, doc_id)
                    AS INTEGER) AS sem_rank
        FROM sem0
        QUALIFY sem_rank <= {HYBRID_K}
    ),
    lex AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id)
                    AS INTEGER) AS lex_rank
        FROM bm
        QUALIFY lex_rank <= {HYBRID_K}
    ),
    cand AS (
        SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
               lex_rank, sem_rank,
               round(COALESCE(1.0 / ({RRF_C} + lex_rank), 0)
                     + COALESCE(1.0 / ({RRF_C} + sem_rank), 0), 6) AS rrf
        FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id
        ORDER BY rrf DESC, COALESCE(lex.doc_id, sem.doc_id)
        LIMIT {HYBRID_TOPK}
    )"""


def _hybrid_oracle() -> str:
    return f"""
    WITH {_hybrid_cte()}
    SELECT doc_id, lex_rank, sem_rank, rrf FROM cand
    """


@register(
    "text_hybrid_topk",
    oracle=_hybrid_oracle(),
    tags=("ext", "text", "search", "similarity"),
)
def text_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical top-k fused with embedding-cosine
    top-k by reciprocal-rank fusion (sum of 1/(60+rank) over both lists)
    — the canonical retrieval shape for training-data curation, wiring
    the lexical half (text_bm25_topk) to the semantic half
    (brute_force_topk) over the shared doc_id==vec_id key.

    Scale shape: both branches were built for 100 TB on their own (BM25 =
    scan + 1-row broadcast stats + TakeOrderedAndProject; cosine = map-side
    scoring against a broadcast query, bounded take) and each emits at most
    k rows, so the fusion itself — a full outer join of two k-row lists, a
    projection and a bounded take — is driver-trivial at any corpus size.
    Ranks tie-break on doc_id in both engines, making the fused set
    deterministic."""
    from pyspark.sql import Window

    from component_iceberg_spark.operators import similarity as S

    lex = (
        text_bm25_topk(spark, sf_dir)
        .withColumn(
            "lex_rank",
            F.row_number().over(
                Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
            ),
        )
        .select("doc_id", "lex_rank")
    )
    e = load_table(spark, sf_dir, "embeddings")
    sem = S.brute_force_topk(
        e, e.filter(F.col("vec_id") == HYBRID_QUERY_ID), HYBRID_K
    ).select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("sem_rank"))
    rrf = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(RRF_C) + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(RRF_C) + F.col("sem_rank")), F.lit(0.0)),
        6,
    )
    return (
        lex.join(sem, "doc_id", "full_outer")
        .select("doc_id", "lex_rank", "sem_rank", rrf.alias("rrf"))
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(HYBRID_TOPK)
    )


# ---------------------------------------------------------------------------
# BPE tokenizer fit: corpus pair statistics (r7)
# ---------------------------------------------------------------------------

BPE_TOPN = 10


@register(
    "text_bpe_pair_stats",
    oracle=f"""
    WITH vocab AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS freq
        FROM (
            SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
            FROM documents
        ) GROUP BY tok
    ),
    pairs AS (
        SELECT substr(tok, i, 1) AS a, substr(tok, i + 1, 1) AS b,
               sum(freq) AS pair_count
        FROM (SELECT tok, freq, unnest(range(1, strlen(tok))) AS i FROM vocab)
        GROUP BY 1, 2
    )
    SELECT a, b, CAST(pair_count AS BIGINT) AS pair_count,
           CAST(row_number() OVER (
               ORDER BY pair_count DESC, a, b
           ) AS INTEGER) AS rank
    FROM pairs
    QUALIFY rank <= {BPE_TOPN}
    """,
    tags=("ext", "text"),
)
def text_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed heart of BPE tokenizer training: adjacent-symbol
    pair counts weighted by word frequency, ranked — the argmax of this
    table IS the next BPE merge, and a fit loop is just this aggregate
    re-run on the merged vocabulary (driver-trivial repetition of the
    same plan). The critical scale property: after the first aggregate
    all work is on the VOCABULARY (distinct words × their corpus
    frequency), which is orders of magnitude smaller than the corpus —
    exactly how production BPE trainers (word-frequency based) avoid
    touching the corpus per merge round.

    Plan: one corpus scan → token hash-aggregate (map-side combine), a
    per-word character-pair fan-out on the small vocab relation, one more
    hash aggregate, bounded top-N. The pair fan-out uses sequence +
    substring expressions — pure codegen, no Python."""
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(X.tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    idx = F.explode(F.sequence(F.lit(1), F.length("tok") - 1)).alias("i")
    pairs = (
        vocab.select("tok", "freq", idx)
        .select(
            F.col("tok").substr(F.col("i"), F.lit(1)).alias("a"),
            F.col("tok").substr(F.col("i") + 1, F.lit(1)).alias("b"),
            "freq",
        )
        .groupBy("a", "b")
        .agg(F.sum("freq").alias("pair_count"))
    )
    w = Window.orderBy(F.col("pair_count").desc(), "a", "b")
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BPE_TOPN)
    )


BPE_ROUNDS = 3


def _bpe_chain_sql() -> str:
    """Generated CTE chain replaying the full iterative fit: per round,
    weighted pair counts → argmax (count DESC, a, b) → merge applied to
    every vocab sequence via a left fold (list_reduce) with the exact
    BPE non-overlap rule — a freshly merged symbol never starts another
    merge in the same pass. The word itself (``tok``) rides along so the
    final vocabulary can be joined back to the corpus (the encode path)."""
    sql = r"""
    WITH vocab0 AS (
        SELECT tok,
               array_to_string(
                   list_transform(range(1, strlen(tok) + 1),
                                  i -> substr(tok, i, 1)), ' ') AS seq,
               CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
              FROM documents)
        GROUP BY 1
    )"""
    for r in range(1, BPE_ROUNDS + 1):
        v = f"vocab{r - 1}"
        sql += f""",
    pairs{r} AS (
        SELECT u.p[1] AS a, u.p[2] AS b, sum(freq) AS cnt
        FROM {v}, unnest(list_zip(string_split(seq, ' '),
                                  string_split(seq, ' ')[2:])) AS u(p)
        WHERE u.p[2] IS NOT NULL
        GROUP BY 1, 2
    ),
    best{r} AS (SELECT a, b, cnt FROM pairs{r} ORDER BY cnt DESC, a, b LIMIT 1),
    vocab{r} AS (
        SELECT tok,
               list_reduce(string_split(seq, ' '),
                   (acc, x) -> CASE
                       WHEN (acc = best{r}.a
                             OR ends_with(acc, ' ' || best{r}.a))
                            AND x = best{r}.b
                       THEN substr(acc, 1, strlen(acc) - strlen(best{r}.a))
                            || best{r}.a || best{r}.b
                       ELSE acc || ' ' || x END) AS seq,
               freq
        FROM {v} CROSS JOIN best{r}
    )"""
    return sql


def _bpe_merges_oracle() -> str:
    selects = " UNION ALL ".join(
        f"SELECT {r} AS step, a, b, CAST(cnt AS BIGINT) AS pair_count"
        f" FROM best{r}"
        for r in range(1, BPE_ROUNDS + 1)
    )
    return _bpe_chain_sql() + "\n    " + selects


def _bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One corpus scan → (tok, seq, freq): distinct words with corpus
    frequency and the word spelled as a space-joined character sequence
    (the BPE working representation)."""
    d = load_table(spark, sf_dir, "documents")
    tok = F.explode(X.tokens(F.lower(F.col("text")))).alias("tok")
    chars = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.length("tok")),
            lambda i: F.col("tok").substr(i, F.lit(1)),
        ),
    )
    return (
        d.select(tok)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select("tok", chars.alias("seq"), "freq")
    )


def _bpe_fit(seqs: DataFrame, rounds: int = BPE_ROUNDS):
    """The iterative fit loop shared by the merges and encode queries:
    per round, argmax adjacent pair (count DESC, a, b) → fold-apply the
    merge to every sequence. ``seqs`` needs columns (seq, freq); any
    other columns (tok) are carried through untouched. Returns
    ``(merges, final_seqs, handles)`` — merges is
    [(step, a, b, count)], and ``handles`` holds every still-persisted
    generation (the dedup-family release pattern): a caller that is done
    with the vocabulary unpersists them all; a caller returning a lazy
    plan over ``final_seqs`` releases all but the last."""
    carry = [c for c in seqs.columns if c != "seq"]
    seqs = seqs.persist()
    handles = [seqs]
    prev = None  # generation r-1: releasable once r's cache is filled
    merges = []
    for step in range(1, rounds + 1):
        sym = F.split(F.col("seq"), " ")
        prs = (
            seqs.filter(F.size(sym) >= 2)  # sequence(1, 0) would DESCEND
            .select(
                "freq",
                sym.alias("s"),
                F.explode(F.sequence(F.lit(1), F.size(sym) - 1)).alias("i"),
            )
            .select(
                F.element_at("s", F.col("i")).alias("a"),
                F.element_at("s", F.col("i") + 1).alias("b"),
                "freq",
            )
            .groupBy("a", "b")
            .agg(F.sum("freq").alias("cnt"))
        )
        best = prs.orderBy(F.col("cnt").desc(), "a", "b").limit(1).collect()[0]
        a, b = best["a"], best["b"]
        merges.append((step, a, b, int(best["cnt"])))
        # the collect above materialized (and cached) the CURRENT seqs,
        # so the generation before it can be released — at most two
        # persisted generations live regardless of round count
        if prev is not None:
            prev.unpersist()
            handles.remove(prev)
        prev = seqs
        def make_fold(A, B):
            # closure factory, not default args: pyspark introspects the
            # lambda's arity and rejects extra parameters
            def fold(acc, x):
                hit = (
                    (acc == F.lit(A)) | acc.endswith(F.lit(" " + A))
                ) & (x == F.lit(B))
                merged = F.concat(
                    F.substring(acc, 1, F.length(acc) - F.lit(len(A))),
                    F.lit(A + B),
                )
                return F.when(hit, merged).otherwise(
                    F.concat(acc, F.lit(" "), x)
                )

            return fold

        fold = make_fold(a, b)
        sym2 = F.split(F.col("seq"), " ")
        folded = F.aggregate(
            F.slice(sym2, 2, F.greatest(F.size(sym2) - 1, F.lit(0))),
            F.element_at(sym2, 1),
            fold,
        )
        seqs = seqs.select(folded.alias("seq"), *carry).persist()
        handles.append(seqs)
    return merges, seqs, handles


@register(
    "text_bpe_merges",
    oracle=_bpe_merges_oracle(),
    tags=("ext", "text"),
)
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL iterative BPE tokenizer fit, 3 merge rounds, exactly the
    word-frequency algorithm production trainers run: per round, the
    highest-count adjacent symbol pair (ties → lexicographically first)
    becomes the next merge, and every vocabulary sequence applies it in
    one left-to-right non-overlapping pass (a symbol minted by a merge
    never starts another merge in the same pass — the fold's accumulator
    rule, identical in the SQL oracle's list_reduce).

    Scale: the corpus is scanned ONCE (token frequency aggregate);
    every merge round then runs on the vocabulary relation — distinct
    words × frequency, orders of magnitude smaller — with a 1-row argmax
    collect per round steering the driver loop (the kmeans_fit pattern:
    the codebook IS metadata). Lineage stays shallow: ROUNDS expression
    layers over a small cached relation."""
    merges, _, handles = _bpe_fit(_bpe_vocab(spark, sf_dir).drop("tok"))
    for h in handles:  # merges are already a local list — nothing lazy left
        h.unpersist()
    return local_relation(
        spark, merges, "step int, a string, b string, pair_count bigint"
    )


def _bpe_encode_oracle() -> str:
    return _bpe_chain_sql() + f"""
    , toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
        FROM documents
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(len(string_split(v.seq, ' '))) AS BIGINT) AS n_symbols
    FROM toks t JOIN vocab{BPE_ROUNDS} v USING (tok)
    GROUP BY 1
    """


@register(
    "text_bpe_encode",
    oracle=_bpe_encode_oracle(),
    tags=("ext", "text"),
)
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The second half of the tokenizer story: ENCODE the corpus with the
    merges the fit just learned — per document, the whitespace token
    count and the post-merge BPE symbol count (the number a context-
    window packer or a training-cost estimate actually needs). Because
    word-frequency BPE encodes every occurrence of a word identically,
    encoding is a JOIN against the fitted vocabulary — tok → final
    symbol sequence — not a re-fold per occurrence; that lookup-table
    structure is exactly why production tokenizers precompute word-level
    caches.

    Plan: the fit's vocabulary passes (one corpus scan + vocab-sized
    rounds, shared with text_bpe_merges via _bpe_fit), then one corpus
    token explode joined to the BROADCAST vocab (distinct-words-sized)
    and a per-doc hash aggregate. Two corpus-sized passes total, zero
    Python. The oracle replays fit AND encode: the same CTE chain
    carries each word through every merge, then joins it back to the
    exploded corpus."""
    _, vocab, handles = _bpe_fit(_bpe_vocab(spark, sf_dir))
    n_sym = F.size(F.split("seq", " ")).alias("n_sym")
    # The LUT is distinct-words-sized (it is broadcast below anyway), so
    # materialize it driver-side NOW and release EVERY fit generation —
    # including the final vocab cache the returned lazy plan would
    # otherwise pin for the session lifetime (ADVICE r7).
    lut_rows = vocab.select("tok", n_sym).collect()
    # Driver-memory guard (ADVICE r8): the collect is bounded by the
    # DISTINCT-WORD count, not the corpus — but if a future fixture's
    # vocabulary outgrew broadcast scale this would move the OOM to the
    # driver silently. Fail loudly instead; at that point the LUT should
    # stay a DataFrame and the fit caches be released per-generation.
    _LUT_MAX = 2_000_000  # rows; ~100 MB at avg word length — broadcast-scale
    if len(lut_rows) > _LUT_MAX:
        raise RuntimeError(
            f"text_bpe_encode: vocabulary LUT has {len(lut_rows)} rows "
            f"(> {_LUT_MAX}) — too large to collect driver-side; keep it "
            "distributed and broadcast-join instead"
        )
    for h in handles:
        h.unpersist()
    lut = local_relation(spark, lut_rows, "tok string, n_sym int")
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(X.tokens(F.lower(F.col("text")))).alias("tok")
    )
    return (
        toks.join(F.broadcast(lut), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("n_sym").cast("long").alias("n_symbols"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-encoder-style re-rank over the hybrid candidates (r7)
# ---------------------------------------------------------------------------

# Fixed offline "cross-encoder" weights over pair features: per-query-term
# saturated tf (the query×document cross signal), the two retrieval-stage
# priors, and the document quality probability. The exact feature ORDER is
# the contract — both engines sum z left-to-right in this sequence.
RERANK_BIAS = -1.0
RERANK_TF_WEIGHTS = (("merge", 0.8), ("scan", 0.5), ("window", 0.4))
RERANK_LEX_W = 20.0
RERANK_SEM_W = 15.0
RERANK_QUALITY_W = 1.2


def _rerank_oracle() -> str:
    prob = _classifier_prob_sql()
    z = str(RERANK_BIAS)
    for t, w in RERANK_TF_WEIGHTS:
        z += (f" + ln(1.0 + len(list_filter("
             f"regexp_split_to_array(trim(lower(text)), '\\s+'),"
             f" x -> x = '{t}'))) * {w}")
    z += f" + COALESCE(1.0 / ({RRF_C} + lex_rank), 0) * {RERANK_LEX_W}"
    z += f" + COALESCE(1.0 / ({RRF_C} + sem_rank), 0) * {RERANK_SEM_W}"
    z += f" + {prob} * {RERANK_QUALITY_W}"
    return f"""
    WITH {_hybrid_cte()}
    SELECT doc_id, lex_rank, sem_rank,
           round(1.0 / (1.0 + exp(-({z}))), 6) AS rerank_score,
           CAST(row_number() OVER (
               ORDER BY round(1.0 / (1.0 + exp(-({z}))), 6) DESC, doc_id
           ) AS INTEGER) AS rerank_pos
    FROM cand JOIN documents USING (doc_id)
    """


@register(
    "text_rerank_topk",
    oracle=_rerank_oracle(),
    tags=("ext", "text", "search"),
)
def text_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generate → fuse → RE-RANK, completing the retrieval stack: the
    hybrid RRF candidates (text_hybrid_topk) are re-scored by a fixed-
    weight logistic "cross-encoder" over query×document pair features —
    saturated per-query-term tf (ln(1+tf), the cross signal a real
    cross-encoder would model), both retrieval-stage priors, and the
    offline quality probability (text_quality_classifier pattern) — and
    re-ordered by the calibrated score.

    Scale shape: the candidate list is k-bounded by construction
    (HYBRID_TOPK rows), so it BROADCASTS into the documents join — the
    feature extraction touches only the k candidate documents via a
    broadcast-semi lookup, never rescans the corpus; the final re-rank
    window runs over k rows. This staged design (cheap generator at
    corpus scale, expensive scorer at k) is exactly why re-rankers exist.
    The oracle replays feature extraction and the z-sum in identical
    left-to-right order."""
    cand = text_hybrid_topk(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    j = d.join(F.broadcast(cand), "doc_id")
    toks = X.tokens(F.lower(F.col("text")))

    def _tf(term):
        # factory, not a default-arg lambda: a 2-parameter lambda would
        # be interpreted by F.filter as (element, index)
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    z = F.lit(float(RERANK_BIAS))
    for t, w in RERANK_TF_WEIGHTS:
        z = z + F.log(F.lit(1.0) + _tf(t)) * F.lit(w)
    z = z + F.coalesce(
        F.lit(1.0) / (F.lit(RRF_C) + F.col("lex_rank")), F.lit(0.0)
    ) * F.lit(RERANK_LEX_W)
    z = z + F.coalesce(
        F.lit(1.0) / (F.lit(RRF_C) + F.col("sem_rank")), F.lit(0.0)
    ) * F.lit(RERANK_SEM_W)
    z = z + X.classifier_score("text") * F.lit(RERANK_QUALITY_W)
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    scored = j.select(
        "doc_id", "lex_rank", "sem_rank", score.alias("rerank_score")
    )
    w = Window.orderBy(F.col("rerank_score").desc(), "doc_id")
    # k-bounded input (HYBRID_TOPK rows) — the bare window is a k-row sort
    return scored.withColumn("rerank_pos", F.row_number().over(w))


# ---------------------------------------------------------------------------
# Domain-mixture sampling
# ---------------------------------------------------------------------------

_MIX_U32 = "4294967296.0"  # 2^32: md5-prefix → uniform [0,1) denominator


def _u32_sql(hash_sql: str) -> str:
    """Oracle-side 32-bit unsigned int from the first 8 hex chars of the
    given md5-hex SQL expression (nibble-by-nibble — DuckDB has no
    base-conv builtin). THE single spelling of the bit-exactness-critical
    construction: every oracle that needs a deterministic uniform draw or
    32-bit content hash interpolates this, so the copies cannot drift."""
    nib = f"(strpos('0123456789abcdef', substr({hash_sql}, {{p}}, 1)) - 1)"
    return " + ".join(
        f"{nib.format(p=p + 1)} * {16 ** (7 - p)}" for p in range(8)
    )


def _h32(col: F.Column) -> F.Column:
    """Spark twin of :func:`_u32_sql`: first 8 md5 hex chars as bigint."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def _domain_mix_oracle() -> str:
    # uniform hash u(doc) ∈ [0,1): first 8 hex chars of md5(doc_id) as a
    # 32-bit int (nibble-by-nibble, DuckDB has no base-conv builtin),
    # over 2^32. IEEE double division is exactly rounded, so Spark and
    # DuckDB compute bit-identical u and keep_frac — the comparison
    # u < keep_frac is deterministic cross-engine.
    u32 = _u32_sql("h")
    return f"""
WITH tok AS (
    SELECT doc_id, source,
           len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
           md5(CAST(doc_id AS VARCHAR)) AS h
    FROM documents
),
u AS (SELECT doc_id, source, n_tokens, ({u32}) / {_MIX_U32} AS u FROM tok),
stats AS (SELECT source, count(*) AS docs_in,
                 CAST(sum(n_tokens) AS BIGINT) AS tokens_in
          FROM u GROUP BY source),
target AS (SELECT min(tokens_in) AS floor_tokens FROM stats)
SELECT s.source,
       s.docs_in,
       s.tokens_in,
       round(t.floor_tokens * 1.0 / s.tokens_in, 6) AS keep_frac,
       CAST(count(*) FILTER (WHERE u.u < t.floor_tokens * 1.0 / s.tokens_in)
            AS BIGINT) AS docs_kept,
       CAST(coalesce(sum(u.n_tokens)
            FILTER (WHERE u.u < t.floor_tokens * 1.0 / s.tokens_in), 0)
            AS BIGINT) AS tokens_kept
FROM stats s CROSS JOIN target t
JOIN u ON u.source = s.source
GROUP BY s.source, s.docs_in, s.tokens_in, t.floor_tokens
"""


@register(
    "pipeline_domain_mix",
    oracle=_domain_mix_oracle(),
    tags=("ext", "pipeline", "text"),
)
def pipeline_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling: equalize token mass across sources by
    down-sampling every domain to the smallest domain's token count, with
    a DETERMINISTIC per-doc Bernoulli draw (md5(doc_id) as uniform [0,1))
    so the sample is reproducible run-over-run and engine-over-engine —
    the mixture-reweighting step every pretraining pipeline runs before
    packing.

    Scale shape: pass 1 is a hash-aggregate to per-source token totals
    (source cardinality is tiny — the result is a broadcast row set);
    pass 2 re-scans, joins the per-source keep fraction map-side
    (broadcast), filters on the hash draw, and re-aggregates. Two scans,
    zero wide shuffles beyond the two small aggs; at 100 TB the stats
    pass is the cheap one and the filter is expression-level inside the
    scan. Returns per-source admission stats (docs/tokens in vs kept)."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(X.tokens(F.col("text")))
    u = d.select(
        "doc_id",
        "source",
        n_tokens.alias("n_tokens"),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("double")
            / F.lit(4294967296.0)
        ).alias("u"),
    )
    stats = u.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs_in"),
        F.sum("n_tokens").cast("bigint").alias("tokens_in"),
    )
    floor_tok = stats.agg(F.min("tokens_in").alias("floor_tokens"))
    per_source = stats.crossJoin(F.broadcast(floor_tok)).withColumn(
        "keep_frac_raw", F.col("floor_tokens") * 1.0 / F.col("tokens_in")
    )
    kept = F.col("u") < F.col("keep_frac_raw")
    return (
        u.join(F.broadcast(per_source), "source")
        .groupBy("source", "docs_in", "tokens_in", "keep_frac_raw")
        .agg(
            F.count_if(kept).cast("bigint").alias("docs_kept"),
            F.coalesce(
                F.sum(F.when(kept, F.col("n_tokens"))), F.lit(0)
            ).cast("bigint").alias("tokens_kept"),
        )
        .select(
            "source",
            "docs_in",
            "tokens_in",
            F.round("keep_frac_raw", 6).alias("keep_frac"),
            "docs_kept",
            "tokens_kept",
        )
    )


# ---------------------------------------------------------------------------
# Temperature-based domain reweighting
# ---------------------------------------------------------------------------

TEMP_MIX_BUDGET = 27_000  # total token target across all sources


def _temperature_mix_oracle() -> str:
    # Same md5-prefix uniform draw as _domain_mix_oracle (see the
    # exactness notes there). alpha is FIXED at 0.5 spelled as sqrt():
    # IEEE-754 requires sqrt to be correctly rounded, so Spark's
    # Math.sqrt and DuckDB's sqrt are bit-identical — a general pow()
    # carries no such guarantee and would drift by ulps cross-engine.
    # The cross-source denominator is an ORDER BY source left fold
    # (list_sum over an ordered list == Spark F.aggregate over
    # array_sort'd structs), so every weight and keep fraction is
    # bit-identical and the u < keep_frac admission needs no rounding.
    u32 = _u32_sql("h")
    return f"""
WITH tok AS (
    SELECT doc_id, source,
           len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
           md5(CAST(doc_id AS VARCHAR)) AS h
    FROM documents
),
u AS (SELECT doc_id, source, n_tokens, ({u32}) / {_MIX_U32} AS u FROM tok),
stats AS (SELECT source, count(*) AS docs_in,
                 CAST(sum(n_tokens) AS BIGINT) AS tokens_in
          FROM u GROUP BY source),
sq AS (SELECT source, docs_in, tokens_in,
              sqrt(CAST(tokens_in AS DOUBLE)) AS sq
       FROM stats),
denom AS (SELECT list_sum(list(sq ORDER BY source)) AS denom FROM sq),
per AS (SELECT s.source, s.docs_in, s.tokens_in,
               s.sq / d.denom AS w,
               least(1.0, {TEMP_MIX_BUDGET} * (s.sq / d.denom)
                          / s.tokens_in) AS kf
        FROM sq s CROSS JOIN denom d)
SELECT p.source, p.docs_in, p.tokens_in,
       round(p.w, 6) AS mix_weight,
       round(p.kf, 6) AS keep_frac,
       CAST(count(*) FILTER (WHERE u.u < p.kf) AS BIGINT) AS docs_kept,
       CAST(coalesce(sum(u.n_tokens) FILTER (WHERE u.u < p.kf), 0)
            AS BIGINT) AS tokens_kept
FROM per p JOIN u ON u.source = p.source
GROUP BY p.source, p.docs_in, p.tokens_in, p.w, p.kf
"""


@register(
    "pipeline_temperature_mix",
    oracle=_temperature_mix_oracle(),
    tags=("ext", "pipeline", "text"),
)
def pipeline_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based domain reweighting — the other standard mixture
    sampler: instead of flattening every domain to the smallest one
    (pipeline_domain_mix), weight each source by tokens^alpha (alpha =
    0.5) normalized across sources, aim TEMP_MIX_BUDGET total tokens at
    those weights, and admit each doc with the same deterministic
    md5(doc_id) Bernoulli draw. alpha < 1 UPWEIGHTS small domains
    relative to proportional sampling without erasing size information —
    the knob LLM mixes use between "proportional" and "uniform". A
    source whose target exceeds its actual mass caps at keep_frac = 1
    (take everything; this query's budget exercises both branches at the
    gate SF).

    Cross-engine exactness: alpha is spelled sqrt() (IEEE correctly
    rounded — pow() is not) and the cross-source weight denominator is
    an ORDER BY source left fold both sides, so weights and keep
    fractions are bit-identical doubles and the u < keep_frac admission
    compares exactly; display columns round at 6 dp only after all
    comparisons.

    Scale shape: identical to pipeline_domain_mix — one hash-aggregate
    to source-level stats (tiny), the sqrt/normalize/target arithmetic
    on that metadata-sized relation (the ordered fold runs over
    |sources| structs, not rows), then one broadcast join back and an
    expression-level filter inside the second scan. No wide shuffle
    grows with the corpus."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(X.tokens(F.col("text")))
    u = d.select(
        "doc_id",
        "source",
        n_tokens.alias("n_tokens"),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("double")
            / F.lit(4294967296.0)
        ).alias("u"),
    )
    stats = u.groupBy("source").agg(
        F.count(F.lit(1)).alias("docs_in"),
        F.sum("n_tokens").cast("bigint").alias("tokens_in"),
    )
    sq = stats.withColumn("sq", F.sqrt(F.col("tokens_in").cast("double")))
    denom = sq.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("source", "sq"))),
            F.lit(0.0),
            lambda acc, x: acc + x["sq"],
        ).alias("denom")
    )
    per = (
        sq.crossJoin(F.broadcast(denom))
        .withColumn("w_raw", F.col("sq") / F.col("denom"))
        .withColumn(
            "kf_raw",
            F.least(
                F.lit(1.0),
                F.lit(float(TEMP_MIX_BUDGET))
                * F.col("w_raw")
                / F.col("tokens_in"),
            ),
        )
    )
    kept = F.col("u") < F.col("kf_raw")
    return (
        u.join(F.broadcast(per), "source")
        .groupBy("source", "docs_in", "tokens_in", "w_raw", "kf_raw")
        .agg(
            F.count_if(kept).cast("bigint").alias("docs_kept"),
            F.coalesce(
                F.sum(F.when(kept, F.col("n_tokens"))), F.lit(0)
            ).cast("bigint").alias("tokens_kept"),
        )
        .select(
            "source",
            "docs_in",
            "tokens_in",
            F.round("w_raw", 6).alias("mix_weight"),
            F.round("kf_raw", 6).alias("keep_frac"),
            "docs_kept",
            "tokens_kept",
        )
    )


_TFIDF_ORACLE = r"""
WITH tok AS (
    SELECT doc_id, u.w AS w
    FROM documents,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS u(w)
), tf AS (
    SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2
), dfc AS (
    SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
), n AS (
    SELECT count(*) AS n_docs FROM documents
), scored AS (
    SELECT doc_id, w, tf, df,
           round(tf * ln(n_docs * 1.0 / df), 6) AS score
    FROM tf JOIN dfc USING (w) CROSS JOIN n
)
SELECT doc_id, w, tf, df, score, rnk
FROM (
    SELECT *, CAST(row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, w
    ) AS INT) AS rnk
    FROM scored
)
WHERE rnk <= 5
"""


@register("text_tfidf_topterms", oracle=_TFIDF_ORACLE, tags=("ext", "text"))
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-5 terms by TF-IDF (tf · ln(N/df)) — the keyword
    extraction / document-representation stage beside BM25 (corpus-level
    ranking) and text_top_ngrams (corpus-level vocabulary). ONE pass
    builds tf; df is a window COUNT over tf's term partitioning — an
    aggregate-plus-join-back would duplicate the tokenize/explode
    subtree in the plan (Spark does not share unmaterialized subtrees:
    the audit measured 7 Exchanges in the join form vs 4 here, two full
    corpus passes vs one). N is a 1-row broadcast scalar (metadata-only
    parquet count); the top-5 cut is a per-doc window on the (rounded)
    score with term tie-break, so the set is deterministic."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(X.tokens(F.lower(F.col("text")))).alias("w")
    )
    tf = tok.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("w")))
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "w",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") * 1.0 / F.col("df")), 6
            ).alias("score"),
        )
    )
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("w")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= 5)
        .select("doc_id", "w", "tf", "df", "score", "rnk")
    )


# Messy synthetic URL per document — mixed-case scheme/host, default
# port, www prefix, tracking params — built identically in both engines,
# then CANONICALIZED by parsing, which is the operator under test.
_URL_EXPR_SQL = (
    "'HTTPS://WWW.' || source || '.Example.COM:443/Docs/' || "
    "CAST(doc_id AS VARCHAR) || '/?utm_source=feed&ref=' || "
    "CAST(doc_id % 7 AS VARCHAR) || '&utm_campaign=x'"
)

_URL_ORACLE = f"""
WITH raw AS (
    SELECT doc_id, {_URL_EXPR_SQL} AS url FROM documents
), parts AS (
    SELECT doc_id, url,
           lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
           regexp_replace(
               regexp_replace(
                   lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
                   ':443$', ''),
               '^www\\.', '') AS host,
           regexp_replace(
               regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
               '/$', '') AS path,
           list_aggregate(
               list_sort(list_filter(
                   string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
                   x -> NOT starts_with(x, 'utm_') AND x <> '')),
               'string_agg', '&') AS q
    FROM raw
)
SELECT doc_id, host,
       scheme || '://' || host || path ||
       CASE WHEN q IS NOT NULL AND q <> '' THEN '?' || q ELSE '' END
           AS canon_url
FROM parts
"""


@register("text_url_canonicalize", oracle=_URL_ORACLE, tags=("ext", "text"))
def text_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization — the first step of web-corpus dedup (the
    same page arrives under WWW./case/port/tracking-param variants; a
    byte-level dedup misses all of them). Pure codegen'd expressions:
    regex-parse scheme/host/path/query, lowercase the authority, strip
    the default port and www prefix, drop utm_* tracking params, sort
    the survivors, strip the trailing slash — no UDF, no shuffle, scales
    as a projection inside the scan. The messy input URL is built
    identically in both engines so the ORACLE tests the parsing, not
    the fixture."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    url = F.concat(
        F.lit("HTTPS://WWW."), F.col("source"),
        F.lit(".Example.COM:443/Docs/"),
        F.col("doc_id").cast("string"),
        F.lit("/?utm_source=feed&ref="),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("&utm_campaign=x"),
    )
    raw = d.withColumn("url", url)
    scheme = F.lower(F.regexp_extract("url", r"^([A-Za-z]+)://", 1))
    host = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_extract("url", r"^[A-Za-z]+://([^/?#]+)", 1)),
            r":443$", ""),
        r"^www\.", "")
    path = F.regexp_replace(
        F.regexp_extract("url", r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1),
        r"/$", "")
    q = F.array_join(
        F.array_sort(F.filter(
            F.split(F.regexp_extract("url", r"\?([^#]*)", 1), "&"),
            lambda x: (~x.startswith("utm_")) & (x != ""),
        )),
        "&",
    )
    parts = raw.select(
        "doc_id",
        host.alias("host"),
        scheme.alias("scheme"),
        path.alias("path"),
        q.alias("q"),
    )
    return parts.select(
        "doc_id",
        "host",
        F.concat(
            F.col("scheme"), F.lit("://"), F.col("host"), F.col("path"),
            F.when(F.col("q") != "", F.concat(F.lit("?"), F.col("q")))
            .otherwise(F.lit("")),
        ).alias("canon_url"),
    )


# ---------------------------------------------------------------------------
# Token-budget curation (r7)
# ---------------------------------------------------------------------------

TOKEN_BUDGET = 20_000  # per-source token budget for the curated mix


@register(
    "pipeline_token_budget",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, source,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok,
               {QUALITY_SCORE_SQL} AS score
        FROM documents
    ), c AS (
        SELECT source, n_tok,
               sum(n_tok) OVER (PARTITION BY source
                                ORDER BY score DESC, doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
        FROM s
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM c WHERE cum <= {TOKEN_BUDGET}
    GROUP BY 1
    """,
    tags=("ext", "text", "pipeline"),
)
def pipeline_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted curation — "fill each domain's slice of the training mix
    with its BEST documents until the token budget runs out": docs are
    ranked per source by the text_quality score (identical IEEE
    arithmetic both engines, doc_id tiebreak), a running token cumsum
    walks down the ranking, and exactly the prefix whose cumulative
    tokens fit the budget survives. This greedy-prefix-by-quality is the
    standard way a pretraining mix hits "N billion tokens per domain"
    targets; unlike pipeline_domain_mix (hash-sampled PROPORTIONS) the
    selection here is quality-ordered and token-exact.

    Plan: one scan computes tokens + score as codegen'd projections, one
    hash Exchange on source feeds the per-source window (rank + running
    sum in the same sort), then the survivors collapse to a per-source
    summary. Per-source partitions sort independently — no global sort;
    at 100 TB a per-source bucket sort or a two-pass histogram-prefix
    selection replaces the full window sort, same contract."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(X.tokens(F.col("text")))
    score = X.quality_score("text")
    s = d.select(
        "doc_id", "source", n_tok.alias("n_tok"), score.alias("score")
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("score").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    kept = s.withColumn("cum", F.sum("n_tok").over(w)).filter(
        F.col("cum") <= TOKEN_BUDGET
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )


@register(
    "pipeline_token_budget_scalable",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, source,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok,
               {QUALITY_SCORE_SQL} AS score
        FROM documents
    ), c AS (
        SELECT source, n_tok,
               sum(n_tok) OVER (PARTITION BY source
                                ORDER BY score DESC, doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
        FROM s
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM c WHERE cum <= {TOKEN_BUDGET}
    GROUP BY 1
    """,
    tags=("ext", "text", "pipeline", "scale"),
)
def pipeline_token_budget_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of pipeline_token_budget — SAME answer (the oracle
    IS the greedy window cumsum), different plan: histogram-prefix
    selection (operators/rank_select.budget_prefix_by_score) instead of
    a per-source full window sort. The greedy twin puts an entire source
    in ONE task's sort; here buckets that wholly fit the budget are kept
    from METADATA alone and only the single budget-crossing bucket
    (≈ n_source/256 rows) is ever sorted. Two corpus passes (bucket
    aggregate + crossing-bucket selection) replace the full sort; all
    running totals are exact integer sums, so the survivors match the
    greedy prefix bit-for-bit (equal scores share a bucket, making
    (bucket, score desc, doc_id) the global greedy order)."""
    from component_iceberg_spark.operators.rank_select import (
        budget_prefix_by_score,
    )

    d = load_table(spark, sf_dir, "documents")
    s = d.select(
        "doc_id",
        "source",
        F.size(X.tokens(F.col("text"))).alias("n_tok"),
        X.quality_score("text").alias("score"),
    )
    kept = budget_prefix_by_score(
        s, "source", "score", "n_tok", "doc_id", TOKEN_BUDGET,
        cache_key=("budget_bucketed", sf_dir, TOKEN_BUDGET),
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# Sequence packing (pretraining batch assembly)
# ---------------------------------------------------------------------------

PACK_BUDGET = 256  # tokens per packed context window


def _pack_walk_recursive(keys: list[str]) -> str:
    """THE single spelling of the greedy first-fit recursive step
    (interpolated by BOTH pack oracles, parameterized only by the
    partition keys — the r7 shared-fragment defense: the walk rule can
    never be edited in one oracle and not the other). The overflow guard
    mirrors the kernel's ``cum > 0 and cum + t > budget`` exactly: an
    oversized doc joins an EMPTY current pack rather than opening a new
    one, so zero-token leading docs cannot make the engines diverge."""
    kl = ", ".join(keys)
    sel = ", ".join(f"s.{k}" for k in keys)
    cond = " AND ".join(f"s.{k} = r.{k}" for k in keys)
    ov = f"(r.cum > 0 AND r.cum + s.n_tok > {PACK_BUDGET})"
    return f"""r AS (
        SELECT {kl}, doc_id, n_tok, rn,
               CAST(0 AS BIGINT) AS pack_id,
               CAST(0 AS BIGINT) AS pack_pos,
               n_tok AS cum
        FROM s WHERE rn = 1
        UNION ALL
        SELECT {sel}, s.doc_id, s.n_tok, s.rn,
               CASE WHEN {ov} THEN r.pack_id + 1 ELSE r.pack_id END,
               CASE WHEN {ov} THEN CAST(0 AS BIGINT) ELSE r.pack_pos + 1 END,
               CASE WHEN {ov} THEN s.n_tok ELSE r.cum + s.n_tok END
        FROM r JOIN s ON {cond} AND s.rn = r.rn + 1
    )"""


def _pack_oracle() -> str:
    return rf"""
    WITH RECURSIVE s AS (
        SELECT source, doc_id,
               len(regexp_split_to_array(trim(text), '\s+')) AS n_tok,
               row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        FROM documents
    ), {_pack_walk_recursive(["source"])}
    SELECT source, doc_id, n_tok, pack_id, pack_pos FROM r
    """


@register(
    "pipeline_pack_sequences",
    oracle=_pack_oracle(),
    tags=("ext", "text", "pipeline"),
)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the batch-assembly stage of a pretraining
    pipeline: stream each source's documents in corpus order (doc_id)
    and greedily pack them into fixed-budget context windows
    (PACK_BUDGET tokens), opening a new pack exactly when the next
    document would overflow the current one. Every doc gets a
    (pack_id, pack_pos) assignment; an oversized doc (n_tok > budget)
    occupies a pack alone rather than being dropped, so the packing is
    a partition of the corpus. This first-fit-sequential discipline is
    the standard way training jobs turn a document corpus into
    fixed-length samples without cross-shard shuffles.

    Scale shape: greedy packing is inherently sequential WITHIN a
    stream, so the kernel runs per source inside ONE Arrow-batched
    applyInPandas pass — an O(group) integer loop with no Python dot
    products or per-row UDF calls; sources (at 100 TB: shards/files)
    parallelize across executors and nothing shuffles except the
    one hash Exchange on source. Token counts are computed Spark-side
    as codegen'd projections BEFORE the kernel so both engines share
    one tokenizer definition. The oracle replays the identical greedy
    walk as a recursive CTE stepping one document per source per
    iteration.

    Cross-engine exactness: pure integer state (cum, pack_id,
    pack_pos) — no floats anywhere; the kernel sorts the whole group
    by doc_id first (grouped-map row order is not guaranteed), the
    oracle walks row_number() order on the same key.
    """
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "source",
        "doc_id",
        F.size(X.tokens(F.col("text"))).cast("long").alias("n_tok"),
    )
    return base.groupBy("source").applyInPandas(
        _pack_kernel,
        "source string, doc_id long, n_tok long, pack_id long, pack_pos long",
    )


def _pack_kernel(pdf):
    """Greedy first-fit packing walk over ONE group (grouped-map kernel,
    shared by the per-source and the sharded packer): sort by doc_id,
    then an O(group) integer loop assigns (pack_id, pack_pos)."""
    pdf = pdf.sort_values("doc_id").reset_index(drop=True)
    pack_id = cum = pos = 0
    ids, poss = [], []
    for t in pdf["n_tok"]:
        t = int(t)
        if cum > 0 and cum + t > PACK_BUDGET:
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


PACK_SHARDS = 8  # deterministic sub-streams per source in the sharded packer


def _pack_sharded_oracle() -> str:
    shard = f"({_u32_sql(_PACK_SHARD_MD5)}) % {PACK_SHARDS}"
    return rf"""
    WITH RECURSIVE s AS (
        SELECT source, CAST({shard} AS INT) AS shard, doc_id,
               len(regexp_split_to_array(trim(text), '\s+')) AS n_tok,
               row_number() OVER (
                   PARTITION BY source, {shard} ORDER BY doc_id
               ) AS rn
        FROM documents
    ), {_pack_walk_recursive(["source", "shard"])}
    SELECT source, shard, doc_id, n_tok, pack_id, pack_pos FROM r
    """


_PACK_SHARD_MD5 = "md5(CAST(doc_id AS VARCHAR) || 'pk')"


@register(
    "pipeline_pack_sequences_sharded",
    oracle=_pack_sharded_oracle(),
    tags=("ext", "text", "pipeline", "scale"),
)
def pipeline_pack_sequences_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of pipeline_pack_sequences: the greedy walk is
    inherently sequential per stream, so the per-source packer puts a
    CommonCrawl-sized source in ONE task. Here each source splits into
    PACK_SHARDS deterministic sub-streams (md5(doc_id||salt) % shards —
    the same walk replays on any engine), and the first-fit walk runs
    independently per (source, shard): the single-task ceiling drops
    from n_source to n_source/shards, and shard count scales with the
    data. Packing quality is unchanged in kind (still first-fit
    sequential; at most one partially-filled trailing pack PER SHARD
    instead of per source). Same grouped-map kernel, same pure-integer
    exactness contract; the oracle replays the identical sharded walk
    as a recursive CTE partitioned by (source, shard)."""
    d = load_table(spark, sf_dir, "documents")
    shard = (
        _h32(F.concat(F.col("doc_id").cast("string"), F.lit("pk")))
        % PACK_SHARDS
    ).cast("int")
    base = d.select(
        "source",
        shard.alias("shard"),
        "doc_id",
        F.size(X.tokens(F.col("text"))).cast("long").alias("n_tok"),
    )
    return base.groupBy("source", "shard").applyInPandas(
        _pack_kernel,
        "source string, shard int, doc_id long, n_tok long, "
        "pack_id long, pack_pos long",
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS-style overlap screen)
# ---------------------------------------------------------------------------

WINNOW_K = 4        # tokens per gram
WINNOW_W = 5        # winnowing window (consecutive gram hashes)
WINNOW_MAX_DF = 10  # df cap: drop fingerprint hashes seen in more docs
WINNOW_MIN_SHARED = 2
_WINNOW_POS_BASE = 1_048_576  # 2^20: pos lanes in the packed bigint


def _winnow_oracle() -> str:
    # Packed-bigint argmin: combined = h * 2^20 + (2^20-1 - pos), so
    # min(combined) over the window picks the smallest hash and, on
    # hash ties, the RIGHTMOST position (classic robust-winnowing tie
    # rule) — pure integer math, bit-identical cross-engine. DuckDB
    # builds positional grams by 1-based list slicing (range() is empty
    # for docs shorter than K, mirroring the Spark-side guard).
    u32 = _u32_sql("md5(gram)")
    return f"""
WITH tok AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
    FROM documents
),
grams AS (
    SELECT doc_id, CAST(r.i AS BIGINT) AS pos,
           array_to_string(t[r.i + 1 : r.i + {WINNOW_K}], ' ') AS gram
    FROM tok, unnest(range(0, len(t) - {WINNOW_K} + 1)) AS r(i)
),
hashed AS (
    SELECT doc_id, pos,
           CAST({u32} AS BIGINT) * {_WINNOW_POS_BASE}
               + ({_WINNOW_POS_BASE} - 1 - pos % {_WINNOW_POS_BASE})
               AS combined
    FROM grams
),
win AS (
    SELECT doc_id,
           min(combined) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN CURRENT ROW
                               AND {WINNOW_W - 1} FOLLOWING) AS sel
    FROM hashed
),
fp AS (
    SELECT DISTINCT doc_id, sel // {_WINNOW_POS_BASE} AS fp_hash
    FROM win
),
rare AS (
    SELECT fp_hash FROM fp GROUP BY fp_hash
    HAVING count(*) <= {WINNOW_MAX_DF}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS shared_fps
FROM fp a JOIN fp b USING (fp_hash) JOIN rare USING (fp_hash)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {WINNOW_MIN_SHARED}
"""


@register(
    "text_winnow_fingerprint",
    oracle=_winnow_oracle(),
    tags=("ext", "text", "dedup"),
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    scheme) — the guarantee-bearing overlap screen: hash every
    positional K-token gram, slide a W-hash window, select each
    window's minimum hash (rightmost on ties). Any shared passage of
    W+K-1 tokens is GUARANTEED to contribute at least one common
    fingerprint, yet only ~2/(W+1) of grams are kept — the screen
    MinHash can't give (MinHash bounds whole-document similarity;
    winnowing bounds local overlap). Pairs sharing >= WINNOW_MIN_SHARED
    rare fingerprints (df-capped, the dedup_containment discriminative
    trick) are reported with their shared count.

    Scale shape: positional grams + hashes are expression-level inside
    the scan; the window min is one per-doc frame pass (docs are
    task-local after the hash Exchange on doc_id); fingerprints are a
    ~2/(W+1) sample of grams, the df cap bounds the candidate join's
    bucket sizes exactly like dedup_containment, and the pair count is
    a hash aggregate on the surviving (small) relation. No all-pairs
    stage anywhere.

    Cross-engine exactness: the selection is an integer argmin on a
    packed bigint (hash * 2^20 + inverted position — rightmost-tie by
    construction); md5-derived 32-bit hashes match the proven u32
    construction; counts are exact integers. Docs shorter than K
    tokens produce no grams via an explicit guard (Spark sequence()
    DESCENDS on negative spans; DuckDB range() is empty — the guard
    keeps both sides at zero rows)."""
    d = load_table(spark, sf_dir, "documents")
    t = F.split(F.trim(F.col("text")), r"\s+")
    idx = F.when(
        F.size(t) >= WINNOW_K, F.sequence(F.lit(0), F.size(t) - WINNOW_K)
    ).otherwise(F.array().cast("array<int>"))
    grams = (
        d.select("doc_id", t.alias("t"), idx.alias("idx"))
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    "idx",
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("t"), i + 1, WINNOW_K)
                    ),
                )
            ).alias("pos", "gram"),
        )
    )
    h = F.conv(F.substring(F.md5(F.col("gram")), 1, 8), 16, 10).cast("bigint")
    combined = (
        h * F.lit(_WINNOW_POS_BASE)
        # pos wraps modulo the lane base on BOTH engines: without the wrap,
        # a doc with >= 2^20 grams would drive this lane negative and
        # borrow from the hash bits (shiftright would yield h-1),
        # corrupting fingerprints and diverging from the oracle.
        + (
            F.lit(_WINNOW_POS_BASE - 1)
            - (F.col("pos") % _WINNOW_POS_BASE).cast("bigint")
        )
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, WINNOW_W - 1)
    )
    fp = (
        grams.select("doc_id", combined.alias("combined"), "pos")
        .select("doc_id", F.min("combined").over(w).alias("sel"))
        .select(
            "doc_id",
            # 2^20 pos lanes → a 20-bit shift IS the integer division
            F.shiftright(F.col("sel"), 20).alias("fp_hash"),
        )
        .distinct()
    )
    rare = (
        fp.groupBy("fp_hash")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= WINNOW_MAX_DF)
        .select("fp_hash")
    )
    # df-cap BEFORE the self-join (r9 candidate-volume audit): joining
    # a⋈b first materializes C(df,2) pairs per fingerprint INCLUDING the
    # hot ones the rare join then discards — measured 10.3M pre-cap vs
    # 2.4M post-cap pairs at sf3 (4.3×, and super-linear in corpus size
    # because hot-hash df grows with constant-density replication).
    # Semi-reducing each side to rare fingerprints first makes the pair
    # join's input exactly the surviving volume — same output (the rare
    # join was an inner filter), sub-linear candidate curve.
    fp_rare = fp.join(rare, "fp_hash")
    a = fp_rare.alias("a")
    b = fp_rare.alias("b")
    return (
        a.join(b, "fp_hash")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fps"))
        .filter(F.col("shared_fps") >= WINNOW_MIN_SHARED)
    )
