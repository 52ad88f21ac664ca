"""Ground truth for the output checks, computed outside Spark.

The near-duplicate truth replays the engine's MinHash-LSH definition in
plain Python (word shingles; hash k is an 8-hex slice of
md5(shingle || '#' || k // 4); bands keyed by md5 of the '|'-joined band
hashes), with the shingle, hash and band counts taken from
``operators.dedup``. A pair is a verified pair when it shares a band
key and its exact Jaccard reaches the threshold, so the engine's
verified-pair set must equal this set exactly, not just overlap it.
Everything else is checked with DuckDB over the generated inputs and
the files the engine wrote.
"""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict
from itertools import combinations

import duckdb
import numpy as np

from component_iceberg_spark.operators.dedup import (
    BANDS,
    NUM_HASHES,
    ROWS_PER_BAND,
    SHINGLE_N,
)


def shingles(text: str) -> set[str]:
    toks = re.sub(r"\s+", " ", text.strip(" ")).split(" ")
    return {
        " ".join(toks[i:i + SHINGLE_N]) for i in range(len(toks) - SHINGLE_N + 1)
    }


def _band_keys(sh: set[str]) -> list[str]:
    digests = {
        j: [hashlib.md5(f"{s}#{j}".encode()).hexdigest() for s in sh]
        for j in range((NUM_HASHES + 3) // 4)
    }
    sig = [
        min(d[(k % 4) * 8:(k % 4) * 8 + 8] for d in digests[k // 4])
        for k in range(NUM_HASHES)
    ]
    return [
        hashlib.md5(
            "|".join(sig[b * ROWS_PER_BAND:(b + 1) * ROWS_PER_BAND]).encode()
        ).hexdigest()
        for b in range(BANDS)
    ]


def lsh_pairs(texts: dict[int, str]) -> dict[tuple[int, int], float]:
    """Every band-colliding pair (a < b) with its exact Jaccard."""
    sh = {d: shingles(t) for d, t in texts.items()}
    buckets = defaultdict(list)
    for d, s in sh.items():
        if s:
            for b, key in enumerate(_band_keys(s)):
                buckets[(b, key)].append(d)
    out = {}
    for docs in buckets.values():
        for a, b in combinations(sorted(docs), 2):
            if (a, b) not in out:
                inter = len(sh[a] & sh[b])
                out[(a, b)] = inter / (len(sh[a]) + len(sh[b]) - inter)
    return out


def screen_admitted(pairs: dict[tuple[int, int], float], doc_ids, threshold: float) -> set[int]:
    """Docs the incremental screen admits when the corpus arrives in
    doc_id order: a doc is dropped iff it verified-near-dups a lower id."""
    dropped = {b for (a, b), j in pairs.items() if j >= threshold}
    return set(doc_ids) - dropped


def cosine_rows(vectors: np.ndarray, a, b) -> np.ndarray:
    va = vectors[np.asarray(a)].astype(np.float64)
    vb = vectors[np.asarray(b)].astype(np.float64)
    return (va * vb).sum(1) / (np.linalg.norm(va, axis=1) * np.linalg.norm(vb, axis=1))


def fingerprint_groups(docs_parquet: str) -> set[tuple[str, int, int]]:
    """DuckDB replay of ``exact_dedup`` over ``text.fingerprint``."""
    return set(
        duckdb.sql(
            f"""
            SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
                       '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))) AS fp,
                   min(doc_id), count(*)
            FROM read_parquet('{docs_parquet}') GROUP BY fp
            """
        ).fetchall()
    )
