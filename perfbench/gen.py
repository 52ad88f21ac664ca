"""Seeded input generators for the three workloads.

Every generator takes a ``numpy.random.Generator`` and a target directory
and writes the files the engine will read (CSV for the writer, Parquet
for the catalog commits and the LLM corpus). Besides the paths, each
returns what the output checks need to know about its inputs (row
counts per snapshot, the texts and vectors), so no check ever asks the
engine under test what the right answer is; ``truth.py`` derives the
rest.

The shapes follow the TPC-H ``lineitem`` table and the engine's
``documents`` / ``embeddings`` fixtures (word-soup text over a small
vocabulary, 64-dim float vectors clustered by label), but the values are
synthetic so a run depends on nothing outside this directory.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

LINEITEM_TYPES = {
    "l_orderkey": "bigint",
    "l_partkey": "bigint",
    "l_suppkey": "bigint",
    "l_linenumber": "int",
    "l_quantity": "double",
    "l_extendedprice": "double",
    "l_discount": "double",
    "l_tax": "double",
    "l_returnflag": "string",
    "l_linestatus": "string",
    "l_shipdate": "timestamp",
}
LINEITEM_KEY = ["l_orderkey", "l_linenumber"]
LINES_PER_ORDER = 4

CHURN_UPSERT_EVERY = 5  # every 5th churn commit is an upsert
DUP_SHARE = 0.3  # share of the corpus that copies another document
DIM = 64  # embedding width
N_LABELS = 8  # embedding clusters
N_QUERIES = 16  # top-k query vectors

VOCAB = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream merge "
    "data vector customer join index page cache file shard commit snapshot "
    "manifest schema token"
).split()


def file_bytes(path: str) -> int:
    """Size of a file, or the summed size of a directory tree."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


# ---------------------------------------------------------------------------
# elt_bulk: lineitem-shaped CSV slices for replace / append / upsert
# ---------------------------------------------------------------------------


def _lineitem_frame(rng: np.random.Generator, first_row: int, n: int) -> pd.DataFrame:
    rows = np.arange(first_row, first_row + n)
    qty = rng.integers(1, 51, n).astype(float)
    return pd.DataFrame(
        {
            "l_orderkey": rows // LINES_PER_ORDER + 1,
            "l_partkey": rng.integers(1, 20_001, n),
            "l_suppkey": rng.integers(1, 1_001, n),
            "l_linenumber": (rows % LINES_PER_ORDER + 1).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["O", "F"], n),
            "l_shipdate": pd.Timestamp("1992-01-02")
            + pd.to_timedelta(rng.integers(0, 2500, n), unit="D"),
        }
    )


def _write_csv(frame: pd.DataFrame, path: str) -> None:
    frame.to_csv(path, index=False, date_format="%Y-%m-%d %H:%M:%S.%f")


@dataclass
class EltInputs:
    replace_csv: str
    append_csv: str
    upsert_csv: str
    rows: dict[str, int]  # input rows per writer mode
    input_bytes: int
    pinned_rows: int  # table rows after replace + append (pre-upsert)
    final_rows: int
    con: object = None  # DuckDB tables over the CSVs (timed inputs only)
    final_digest: tuple = ()  # expected digest of the final table


def gen_elt(rng: np.random.Generator, out_dir: str, base_rows: int) -> EltInputs:
    """A replace slice, an append slice with new keys, and an upsert delta
    of which half updates existing keys and half inserts new ones. Delta
    keys are distinct, so last-wins is well defined."""
    os.makedirs(out_dir, exist_ok=True)
    n_rep, n_app = base_rows, base_rows // 3
    n_upd = n_new = base_rows // 12
    rep = _lineitem_frame(rng, 0, n_rep)
    app = _lineitem_frame(rng, n_rep, n_app)
    existing = rng.choice(n_rep + n_app, n_upd, replace=False)
    upd = _lineitem_frame(rng, 0, n_upd)
    keys = pd.concat([rep, app], ignore_index=True).loc[existing, LINEITEM_KEY]
    upd[LINEITEM_KEY] = keys.to_numpy()
    upd["l_linenumber"] = upd["l_linenumber"].astype("int32")
    new = _lineitem_frame(rng, n_rep + n_app, n_new)
    delta = pd.concat([upd, new], ignore_index=True)
    delta = delta.iloc[rng.permutation(len(delta))].reset_index(drop=True)
    paths = {}
    for name, frame in (("replace", rep), ("append", app), ("upsert", delta)):
        paths[name] = os.path.join(out_dir, f"{name}.csv")
        _write_csv(frame, paths[name])
    return EltInputs(
        replace_csv=paths["replace"],
        append_csv=paths["append"],
        upsert_csv=paths["upsert"],
        rows={"replace": n_rep, "append": n_app, "upsert": len(delta)},
        input_bytes=sum(file_bytes(p) for p in paths.values()),
        pinned_rows=n_rep + n_app,
        final_rows=n_rep + n_app + n_new,
    )


# ---------------------------------------------------------------------------
# catalog_churn: many small commits on one table
# ---------------------------------------------------------------------------

CHURN_SCHEMA = pa.schema(
    [
        ("id", pa.int64()),
        ("grp", pa.int32()),
        ("qty", pa.int32()),
        ("amount", pa.float64()),
        ("discount", pa.float64()),
        ("flag", pa.string()),
        ("note", pa.string()),
        ("region", pa.string()),
        ("ts", pa.timestamp("us")),
        ("score", pa.float64()),
    ]
)


@dataclass
class ChurnCommit:
    mode: str  # "replace" (first), "append" or "upsert"
    path: str
    rows: int
    read_back: int  # index of the earlier snapshot read after this commit


@dataclass
class ChurnInputs:
    commits: list[ChurnCommit]
    expected_rows: list[int]  # table rows at snapshot k
    input_bytes: int


def gen_churn(
    rng: np.random.Generator,
    out_dir: str,
    n_commits: int,
    rows_per_commit: int,
) -> ChurnInputs:
    """One initial replace, then ``n_commits - 1`` appends of new keys,
    every ``CHURN_UPSERT_EVERY``-th of them an upsert (half existing keys, half
    new) instead. Each commit names the earlier snapshot that the
    time-travel read after it targets."""
    os.makedirs(out_dir, exist_ok=True)
    next_id = 0
    commits: list[ChurnCommit] = []
    expected: list[int] = []
    for k in range(n_commits):
        mode = (
            "replace" if k == 0
            else "upsert" if k % CHURN_UPSERT_EVERY == 2 else "append"
        )
        n = rows_per_commit
        if mode == "upsert":
            n_old = n // 2
            ids = np.concatenate(
                [
                    rng.choice(next_id, n_old, replace=False),
                    np.arange(next_id, next_id + n - n_old),
                ]
            )
            added = n - n_old
        else:
            ids = np.arange(next_id, next_id + n)
            added = n
        next_id += added
        table = pa.table(
            {
                "id": ids.astype(np.int64),
                "grp": rng.integers(0, 16, n).astype(np.int32),
                "qty": rng.integers(1, 51, n).astype(np.int32),
                "amount": np.round(rng.uniform(0, 1000, n), 2),
                "discount": rng.integers(0, 11, n) / 100.0,
                "flag": rng.choice(["A", "N", "R"], n),
                "note": rng.choice(VOCAB, n),
                "region": rng.choice(["EU", "US", "APAC", "LATAM"], n),
                "ts": np.datetime64("2024-01-01", "us")
                + rng.integers(0, 86_400_000_000 * 365, n).astype("timedelta64[us]"),
                "score": rng.random(n),
            },
            schema=CHURN_SCHEMA,
        )
        path = os.path.join(out_dir, f"commit_{k:04d}.parquet")
        pq.write_table(table, path)
        expected.append(next_id)
        # time travel about half-way back, with a seeded jitter of one
        back = min(k, max(0, k // 2 + int(rng.integers(-1, 2))))
        commits.append(ChurnCommit(mode, path, n, back))
    return ChurnInputs(
        commits=commits,
        expected_rows=expected,
        input_bytes=sum(file_bytes(c.path) for c in commits),
    )


# ---------------------------------------------------------------------------
# llm_curate: near-duplicate corpus + clustered embeddings
# ---------------------------------------------------------------------------


def _edit(rng: np.random.Generator, toks: list[str], n_edits: int) -> list[str]:
    toks = list(toks)
    for _ in range(n_edits):
        op = rng.integers(0, 3)
        i = int(rng.integers(0, len(toks)))
        if op == 0:
            toks[i] = str(rng.choice(VOCAB))
        elif op == 1 and len(toks) > 4:
            del toks[i]
        else:
            toks.insert(i, str(rng.choice(VOCAB)))
    return toks


@dataclass
class CurateInputs:
    docs_parquet: str
    batch_parquets: list[str]  # the corpus in doc_id order, one file per epoch
    emb_parquet: str
    texts: dict[int, str]
    vectors: np.ndarray  # row i is vec_id i
    query_ids: list[int]
    n_docs: int
    dup_share: float  # share of docs that are an edited or exact copy
    input_bytes: int
    # ground truth, filled in for the timed inputs only
    pairs: dict = field(default_factory=dict)  # band-colliding pair -> Jaccard
    fp_groups: set = field(default_factory=set)  # (fingerprint, min id, copies)
    admitted: set = field(default_factory=set)  # docs the screen should admit


def gen_curate(
    rng: np.random.Generator,
    out_dir: str,
    n_docs: int,
    n_vecs: int,
    n_epochs: int,
) -> CurateInputs:
    """Originals are random word soup (10-80 tokens); the duplicate share
    is split between near-copies (1-3 token edits) and exact copies that
    differ only in case and punctuation. Doc ids are a random
    permutation, so copies land in different micro-batches."""
    os.makedirs(out_dir, exist_ok=True)
    n_dup = int(n_docs * DUP_SHARE)
    originals = [
        list(rng.choice(VOCAB, int(rng.integers(10, 81))))
        for _ in range(n_docs - n_dup)
    ]
    texts: list[str] = [" ".join(t) for t in originals]
    for _ in range(n_dup):
        src = originals[int(rng.integers(0, len(originals)))]
        if rng.random() < 0.3:
            texts.append(" ".join(src).capitalize() + ".")
        else:
            texts.append(" ".join(_edit(rng, src, int(rng.integers(1, 4)))))
    ids = rng.permutation(n_docs)
    by_id = {int(i): t for i, t in zip(ids, texts)}
    docs = pa.table(
        {
            "doc_id": pa.array(sorted(by_id), pa.int64()),
            "text": [by_id[i] for i in sorted(by_id)],
        }
    )
    docs_path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(docs, docs_path)
    bounds = np.linspace(0, n_docs, n_epochs + 1).astype(int)
    batches = []
    for e in range(n_epochs):
        path = os.path.join(out_dir, f"batch_{e:02d}.parquet")
        pq.write_table(docs.slice(bounds[e], bounds[e + 1] - bounds[e]), path)
        batches.append(path)

    centers = rng.normal(0, 1, (N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, n_vecs)
    vecs = centers[labels] + rng.normal(0, 0.6, (n_vecs, DIM))
    # a tenth of the vectors are near-copies of another (cosine ~0.99)
    n_near = n_vecs // 10
    src = rng.integers(0, n_vecs - n_near, n_near)
    vecs[n_vecs - n_near:] = vecs[src] + rng.normal(0, 0.05, (n_near, DIM))
    vecs = vecs.astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    emb_path = os.path.join(out_dir, "embeddings.parquet")
    pq.write_table(emb, emb_path)
    return CurateInputs(
        docs_parquet=docs_path,
        batch_parquets=batches,
        emb_parquet=emb_path,
        texts=by_id,
        vectors=vecs,
        query_ids=sorted(int(q) for q in rng.choice(n_vecs, N_QUERIES, replace=False)),
        n_docs=n_docs,
        dup_share=n_dup / n_docs,
        input_bytes=file_bytes(docs_path) + file_bytes(emb_path),
    )
