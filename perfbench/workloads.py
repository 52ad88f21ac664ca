"""The three workloads: inputs, one closed-loop cycle, and its checks.

A workload's ``cycle`` runs one unit of client work and returns the
operations it timed; the next operation starts when the previous one
returns (one client, closed loop). Checks run after the cycle, outside
every timed window, and name the operations whose output they cover, so
a wrong output counts as a failed operation.

Traced cycles (``ctx.tracer`` set) additionally run *probe* operations
that isolate one layer (a CSV parse forced through the noop sink, a
catalog commit of an already-parsed frame, a candidate-pair count).
Probes never run in untraced cycles and never count into end-to-end
numbers.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow.parquet as pq
from py4j.protocol import Py4JJavaError

import gen
import truth
from component_iceberg_spark import component
from component_iceberg_spark.config import (
    CatalogConfig,
    CsvInput,
    DataSelection,
    ExtractorConfig,
    ExtractorDestination,
    Source,
    WriterConfig,
    WriterDestination,
)
from component_iceberg_spark.io import csv_io
from component_iceberg_spark.io.snaptable import SnapCatalog
from component_iceberg_spark.operators import dedup, similarity, text
from component_iceberg_spark.streaming import events

SCALES = {
    # elt_rows: replace-slice rows; churn: commits x rows per commit;
    # curate: docs, vectors, screen epochs
    "full": {"elt_rows": 60_000, "churn_commits": 16, "churn_rows": 200,
             "docs": 300, "vecs": 400, "epochs": 2},
    "tiny": {"elt_rows": 2_000, "churn_commits": 8, "churn_rows": 20,
             "docs": 200, "vecs": 200, "epochs": 2},
}


@dataclass
class Op:
    kind: str
    wall_s: float
    rows: int  # rows the operation moved: written, exported, read or screened
    construct_s: float = 0.0  # lazy-frame builder call, where there is one
    spark: object = None  # sparkstats.OpCounters, traced cycles only


@dataclass
class Cycle:
    ops: list[Op] = field(default_factory=list)
    probes: dict[str, list[float]] = field(default_factory=dict)
    counts: dict[str, float] = field(default_factory=dict)
    failed_ops: set[int] = field(default_factory=set)  # indexes into ops
    stored_bytes: int = 0
    input_bytes: int = 0
    root_spans: set[int] = field(default_factory=set)  # traced cycles only


class Ctx:
    """What a cycle needs: the session, the run's scratch root, and the
    tracer plus job watermark when the cycle is traced."""

    def __init__(self, spark, work_dir: str):
        self.spark = spark
        self.work_dir = work_dir
        self.check = True  # warm-up cycles skip the output checks
        self.corrupt = False  # damage one output before it is checked
        self.tracer = None
        self.jobs = None

    def timed(self, cycle: Cycle, kind: str, rows: int, fn, construct=None):
        """Run one operation. ``construct`` (optional) builds the lazy
        frame that ``fn`` then executes; both count into the wall."""
        tr = self.tracer
        if self.jobs is not None:
            self.jobs.take()
        with tr.span(kind, "bench") if tr else nullcontext():
            t0 = time.perf_counter()
            arg = construct() if construct else None
            t1 = time.perf_counter()
            if construct is None:
                out = fn()
            else:  # the frame's execution is Spark's own time
                with tr.span("spark.execute", "spark") if tr else nullcontext():
                    out = fn(arg)
            t2 = time.perf_counter()
        op = Op(kind, t2 - t0, rows, construct_s=t1 - t0)
        if self.jobs is not None:
            op.spark = self.jobs.take()
        cycle.ops.append(op)
        return out

    def probe(self, cycle: Cycle, name: str, fn):
        if self.tracer is None:
            return None
        with self.tracer.span(name, "probe"):
            t0 = time.perf_counter()
            out = fn()
            cycle.probes.setdefault(name, []).append(time.perf_counter() - t0)
        return out


def _plan_time(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def table_counts(tbl_dir: str) -> dict[str, float]:
    """Metadata and data-file counts of one snapshot table on disk."""
    snaps = os.listdir(os.path.join(tbl_dir, "snapshots"))
    meta = gen.file_bytes(os.path.join(tbl_dir, "snapshots")) + gen.file_bytes(
        os.path.join(tbl_dir, "_current"))
    return {
        "snaptable.snapshots": len(snaps),
        "snaptable.metadata_bytes": meta,
        "snaptable.metadata_bytes_per_commit": meta / len(snaps),
        "snaptable.data_files": sum(
            f.endswith(".parquet")
            for _r, _d, fs in os.walk(os.path.join(tbl_dir, "data")) for f in fs
        ),
    }


def _fail(cycle: Cycle, kinds: set[str], why: str) -> None:
    print(f"check failed: {why}", flush=True)
    cycle.failed_ops.update(i for i, op in enumerate(cycle.ops) if op.kind in kinds)


# ---------------------------------------------------------------------------
# elt_bulk
# ---------------------------------------------------------------------------

EXPORT_COLUMNS = ["l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate"]


class EltBulk:
    name = "elt_bulk"

    def __init__(self, scale: dict):
        self.rows = scale["elt_rows"]
        self.limit = self.rows // 2

    def generate(self, rng, in_dir, warm=False):
        # warm-up inputs run the same plans on a quarter of the rows and
        # carry no ground truth (warm-up cycles are not checked)
        inp = gen.gen_elt(rng, in_dir, self.rows // 4 if warm else self.rows)
        if warm:
            return inp
        # expected final state and pre-upsert key/amount set, from the CSVs
        con = duckdb.connect()
        types = ", ".join(
            f"'{c}': '{'VARCHAR' if t == 'string' else t.upper()}'"
            for c, t in gen.LINEITEM_TYPES.items()
        )
        for name, path in (("rep", inp.replace_csv), ("app", inp.append_csv),
                           ("delta", inp.upsert_csv)):
            con.execute(
                f"CREATE TABLE {name} AS SELECT * FROM read_csv('{path}', "
                f"header=true, columns={{{types}}})"
            )
        con.execute("CREATE TABLE pinned AS SELECT * FROM rep UNION ALL SELECT * FROM app")
        con.execute(
            "CREATE TABLE final AS SELECT * FROM pinned p WHERE NOT EXISTS ("
            "SELECT 1 FROM delta d WHERE d.l_orderkey = p.l_orderkey "
            "AND d.l_linenumber = p.l_linenumber) UNION ALL SELECT * FROM delta"
        )
        inp.final_digest = con.execute(_DIGEST_SQL.format(src="final")).fetchone()
        inp.con = con
        return inp

    def cycle(self, ctx: Ctx, inp, n: int) -> Cycle:
        spark, cyc = ctx.spark, Cycle(input_bytes=inp.input_bytes)
        wh = os.path.join(ctx.work_dir, "warehouse")
        out_dir = os.path.join(ctx.work_dir, "export", f"c{n}")
        table = f"lineitem_c{n}"
        cat = CatalogConfig(warehouse=wh)
        columns = list(gen.LINEITEM_TYPES)

        def writer(mode, path):
            cfg = WriterConfig(
                catalog=cat,
                destination=WriterDestination(
                    "elt", table, mode=mode,
                    primary_key=gen.LINEITEM_KEY if mode == "upsert" else [],
                ),
                input_csv=CsvInput(path, columns, dict(gen.LINEITEM_TYPES)),
            )
            return ctx.timed(
                cyc, f"writer.{mode}", inp.rows[mode],
                lambda: component.run_writer(spark, cfg),
            )

        writer("replace", inp.replace_csv)
        pinned = writer("append", inp.append_csv)
        writer("upsert", inp.upsert_csv)
        csv_cfg = ExtractorConfig(
            catalog=cat,
            source=Source("elt", table, snapshot_id=pinned),
            data_selection=DataSelection("selected_columns", EXPORT_COLUMNS),
            destination=ExtractorDestination(table_name="export"),
            limit=self.limit,
        )
        csv_res = ctx.timed(
            cyc, "extractor.csv", min(self.limit, inp.pinned_rows),
            lambda: component.run_extractor(spark, csv_cfg, out_dir),
        )
        pq_cfg = ExtractorConfig(
            catalog=cat,
            source=Source("elt", table),
            destination=ExtractorDestination(parquet_output=True, file_name="full"),
        )
        pq_res = ctx.timed(
            cyc, "extractor.parquet", inp.final_rows,
            lambda: component.run_extractor(spark, pq_cfg, out_dir),
        )
        if ctx.tracer is not None:
            self._probes(ctx, cyc, inp, wh, n)
        cyc.stored_bytes = gen.file_bytes(os.path.join(wh, "elt", table))
        cyc.counts = table_counts(os.path.join(wh, "elt", table))
        if ctx.check:
            self._check(ctx, cyc, inp, csv_res, pq_res)
        SnapCatalog(wh).drop_table("elt", table)
        shutil.rmtree(out_dir)
        return cyc

    def _probes(self, ctx, cyc, inp, wh, n):
        """Layer isolation: CSV parse alone, then catalog commits and a
        scan on already-parsed (cached) frames."""
        spark = ctx.spark
        schema = ", ".join(f"{c} {t}" for c, t in gen.LINEITEM_TYPES.items())
        from pyspark.sql import types as T

        st = T._parse_datatype_string(schema)
        frames = {}
        for mode, path in (("replace", inp.replace_csv), ("append", inp.append_csv),
                           ("upsert", inp.upsert_csv)):
            ctx.probe(cyc, "csv_io.parse_s",
                      lambda: noop(csv_io.read_csv_typed(spark, path, st)))
            frames[mode] = csv_io.read_csv_typed(spark, path, st).cache()
            frames[mode].count()
        cat, table = SnapCatalog(wh), f"probe_c{n}"
        ctx.probe(cyc, "snaptable.commit_s.replace",
                  lambda: cat.create_or_replace("elt", table, frames["replace"]))
        ctx.probe(cyc, "snaptable.commit_s.append",
                  lambda: cat.append("elt", table, frames["append"]))
        ctx.probe(cyc, "snaptable.commit_s.upsert",
                  lambda: cat.upsert("elt", table, frames["upsert"], keys=gen.LINEITEM_KEY))
        ctx.probe(cyc, "snaptable.scan_s", lambda: noop(cat.read(spark, "elt", table)))
        cat.drop_table("elt", table)
        for f in frames.values():
            f.unpersist()

    def _check(self, ctx, cyc, inp, csv_res, pq_res):
        writers = {"writer.replace", "writer.append", "writer.upsert"}
        if ctx.corrupt:  # drop the first exported CSV part file
            parts = sorted(p for p in os.listdir(csv_res.path) if p.endswith(".csv"))
            os.remove(os.path.join(csv_res.path, parts[0]))
        con = inp.con
        got = con.execute(
            _DIGEST_SQL.format(src=f"read_parquet('{pq_res.path}/*.parquet')")
        ).fetchone()
        if got != inp.final_digest:
            _fail(cyc, writers | {"extractor.parquet"},
                  f"final table digest {got} != {inp.final_digest}")
        want_cols = [c for c, _t, _b in csv_res.columns]
        exp = f"read_csv('{csv_res.path}/*.csv', header=true, all_varchar=true)"
        try:
            header = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {exp}").fetchall()]
            n_rows, n_bad = con.execute(
                f"""SELECT count(*), count(*) FILTER (WHERE p.l_orderkey IS NULL)
                    FROM {exp} e LEFT JOIN pinned p
                      ON p.l_orderkey = e.l_orderkey::BIGINT
                     AND p.l_linenumber = e.l_linenumber::INT
                     AND round(p.l_extendedprice * 100) =
                         round(e.l_extendedprice::DOUBLE * 100)"""
            ).fetchone()
        except duckdb.Error as e:
            header, n_rows, n_bad = [], -1, -1
            print(f"csv export unreadable: {e}", flush=True)
        want_rows = min(self.limit, inp.pinned_rows)
        if want_cols != EXPORT_COLUMNS or header != EXPORT_COLUMNS:
            _fail(cyc, {"extractor.csv"}, f"csv export columns {header} / {want_cols}")
        if n_rows != want_rows or n_bad != 0:
            _fail(cyc, {"extractor.csv"},
                  f"csv export rows {n_rows} (want {want_rows}), {n_bad} not in pinned snapshot")


_DIGEST_SQL = """
SELECT count(*), sum(l_orderkey * 8 + l_linenumber),
       sum(round(l_extendedprice * 100)::BIGINT), sum(l_partkey)
FROM {src}
"""


# ---------------------------------------------------------------------------
# catalog_churn
# ---------------------------------------------------------------------------


class CatalogChurn:
    name = "catalog_churn"

    def __init__(self, scale: dict):
        self.commits = scale["churn_commits"]
        self.rows = scale["churn_rows"]

    def generate(self, rng, in_dir, warm=False):
        # a warm-up table only needs to pass every verb once (replace,
        # append, upsert at commit 2, and an append on top of the upsert)
        n = min(self.commits, 4) if warm else self.commits
        return gen.gen_churn(rng, in_dir, n, self.rows)

    def cycle(self, ctx: Ctx, inp, n: int) -> Cycle:
        spark, cyc = ctx.spark, Cycle(input_bytes=inp.input_bytes)
        wh = os.path.join(ctx.work_dir, "warehouse")
        cat, ns, table = SnapCatalog(wh), "churn", f"t_c{n}"
        cfg = ExtractorConfig(catalog=CatalogConfig(warehouse=wh), source=Source(ns, table))
        sids: list[int] = []
        read_plan: list[float] = []  # traced cycles only
        listed_bad = []
        for k, c in enumerate(inp.commits):
            frame = spark.read.parquet(c.path)
            commit = {
                "replace": lambda: cat.create_or_replace(ns, table, frame),
                "append": lambda: cat.append(ns, table, frame),
                "upsert": lambda: cat.upsert(ns, table, frame, keys=["id"]),
            }[c.mode]
            sids.append(ctx.timed(cyc, "commit", c.rows, commit))
            cyc.probes.setdefault(f"snaptable.commit_s.{c.mode}", []).append(
                cyc.ops[-1].wall_s)
            pin = c.read_back
            ctx.timed(
                cyc, "read", inp.expected_rows[pin], noop,
                construct=lambda: cat.read(spark, ns, table, snapshot_id=sids[pin]),
            )
            if ctx.tracer is not None:
                # the eager read() of the current snapshot alone (snapshot
                # resolution walks the whole snapshot list), best of three
                # so its growth with the snapshot count stands out from
                # timer noise
                read_plan.append(ctx.probe(cyc, "read_plan_best_of_3", lambda: min(
                    _plan_time(lambda: cat.read(spark, ns, table)) for _ in range(3))))
            listed = ctx.timed(
                cyc, "list_snapshots", 0,
                lambda: component.sync_action(
                    spark, cfg, "list_snapshots", namespace=ns, table=table
                ),
            )
            if ctx.corrupt and k == 0:  # lose the snapshot just committed
                listed = listed[:-1]
            if [s for s, _ts, _op in listed] != sids:
                listed_bad.append(len(cyc.ops) - 1)
        tbl_dir = os.path.join(wh, ns, table)
        cyc.counts = table_counts(tbl_dir)
        if read_plan:
            tenth = max(2, len(read_plan) // 10)
            cyc.counts["snaptable.read_plan_growth"] = (
                statistics.median(read_plan[-tenth:]) / statistics.median(read_plan[:tenth]))
        cyc.stored_bytes = gen.file_bytes(tbl_dir)
        if listed_bad:
            cyc.failed_ops.update(listed_bad)
            print(f"check failed: list_snapshots wrong after {len(listed_bad)} commits")
        if ctx.corrupt:
            _drop_one_row(tbl_dir, sids[inp.commits[0].read_back])
        if ctx.check:
            self._check(ctx, cyc, inp, cat, ns, table, sids)
        cat.drop_table(ns, table)
        return cyc

    def _check(self, ctx, cyc, inp, cat, ns, table, sids):
        """Row count at every pinned snapshot, in one Spark job."""
        from functools import reduce

        from pyspark.sql import functions as F

        pins = sorted({c.read_back for c in inp.commits})
        frames = [
            cat.read(ctx.spark, ns, table, snapshot_id=sids[p]).select(F.lit(p).alias("pin"))
            for p in pins
        ]
        try:
            got = {
                r["pin"]: r["count"]
                for r in reduce(lambda a, b: a.unionAll(b), frames).groupBy("pin").count().collect()
            }
        except Py4JJavaError:  # an unreadable snapshot fails every pinned read
            print("check failed: pinned reads unreadable", flush=True)
            got = {}
        bad = {p for p in pins if got.get(p, 0) != inp.expected_rows[p]}
        if bad:
            print(f"check failed: pinned row counts differ at snapshots {sorted(bad)}")
            reads = [i for i, op in enumerate(cyc.ops) if op.kind == "read"]
            cyc.failed_ops.update(
                reads[k] for k, c in enumerate(inp.commits) if c.read_back in bad
            )


def _drop_one_row(tbl_dir: str, sid: int) -> None:
    """Rewrite the first data file visible at snapshot ``sid`` without its
    first row, as a damaged commit would leave it (the table layout is
    the one ``io.snaptable`` documents: ``snapshots/<sid>.json`` lists
    directories under ``data/``)."""
    with open(os.path.join(tbl_dir, "snapshots", f"{sid}.json")) as f:
        data = os.path.join(tbl_dir, "data", json.load(f)["files"][0])
    path = os.path.join(data, sorted(f for f in os.listdir(data) if f.endswith(".parquet"))[0])
    t = pq.read_table(path)
    pq.write_table(t.slice(1), path)
    # Hadoop's checksum sidecar would flag the rewrite before any row count
    crc = os.path.join(data, f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


# ---------------------------------------------------------------------------
# llm_curate
# ---------------------------------------------------------------------------

JACCARD = 0.8
COSINE = 0.9
NPROBE, TOPK = 2, 10


N_PLANES = 16  # hyperplanes per LSH signature


def _planes() -> list[list[float]]:
    rng = np.random.RandomState(7)
    return [[float(x) for x in rng.randn(gen.DIM)] for _ in range(N_PLANES)]


class LlmCurate:
    name = "llm_curate"
    OPS = ("quality", "exact_dedup", "minhash_lsh", "ivf_topk", "hyperplane_lsh")

    def __init__(self, scale: dict):
        self.docs = scale["docs"]
        self.vecs = scale["vecs"]
        self.epochs = scale["epochs"]

    def generate(self, rng, in_dir, warm=False):
        div = 2 if warm else 1
        inp = gen.gen_curate(rng, in_dir, self.docs // div, self.vecs // div, self.epochs)
        if warm:
            return inp
        inp.pairs = truth.lsh_pairs(inp.texts)
        inp.fp_groups = truth.fingerprint_groups(inp.docs_parquet)
        inp.admitted = truth.screen_admitted(inp.pairs, inp.texts, JACCARD)
        return inp

    def cycle(self, ctx: Ctx, inp, n: int) -> Cycle:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        spark, cyc = ctx.spark, Cycle(input_bytes=inp.input_bytes)
        out = os.path.join(ctx.work_dir, "curate", f"c{n}")
        docs = spark.read.parquet(inp.docs_parquet)
        emb = spark.read.parquet(inp.emb_parquet)
        caches: list = []

        def quality():
            feats = text.quality_features("text")
            return docs.select(
                "doc_id", *[c.alias(k) for k, c in feats.items()],
                text.classifier_score("text").alias("score"),
            )

        def ivf():
            w = Window.partitionBy("label").orderBy("vec_id")
            cent = (emb.withColumn("rn", F.row_number().over(w))
                    .filter("rn = 1").drop("rn", "label"))
            queries = emb.filter(F.col("vec_id").isin(inp.query_ids))
            return similarity.ivf_topk(emb, queries, cent, NPROBE, TOPK)

        builders = {
            "quality": quality,
            "exact_dedup": lambda: dedup.exact_dedup(
                docs, "doc_id", text.fingerprint(F.col("text"))),
            "minhash_lsh": lambda: dedup.minhash_lsh_dedup(
                docs, "doc_id", "text", JACCARD, persisted_out=caches),
            "ivf_topk": ivf,
            "hyperplane_lsh": lambda: similarity.hyperplane_lsh_pairs(
                emb, _planes(), 4, COSINE),
        }
        rows = {"quality": inp.n_docs, "exact_dedup": inp.n_docs,
                "minhash_lsh": inp.n_docs, "ivf_topk": self.vecs,
                "hyperplane_lsh": self.vecs}
        for op in self.OPS:
            path = os.path.join(out, f"{op}.parquet")
            ctx.timed(cyc, op, rows[op],
                      lambda df, p=path: df.write.mode("overwrite").parquet(p),
                      construct=builders[op])
        for c in caches:
            c.unpersist()
        if ctx.tracer is not None:
            cand = ctx.probe(cyc, "dedup.candidate_pairs", lambda: dedup.lsh_candidates(
                dedup.minhash_signatures(dedup.doc_shingles(docs, "doc_id", "text"))).count())
            cyc.counts["dedup.candidate_pairs"] = cand

        wh = os.path.join(ctx.work_dir, "warehouse")
        cat, seen = SnapCatalog(wh), f"seen_c{n}"
        for e, path in enumerate(inp.batch_parquets):
            batch = spark.read.parquet(path)
            ctx.timed(cyc, "screen_epoch", inp.n_docs // self.epochs,
                      lambda: events.screen_batch_incremental(
                          cat, batch, "stream", seen, JACCARD))
        cyc.stored_bytes = gen.file_bytes(os.path.join(wh, "stream", seen))
        cyc.counts.update(table_counts(os.path.join(wh, "stream", seen)))
        if ctx.check:
            self._check(ctx, cyc, inp, out, cat, seen)
        cat.drop_table("stream", seen)
        shutil.rmtree(out)
        return cyc

    def _check(self, ctx, cyc, inp, out, cat, seen):
        def rows(op, cols):
            return duckdb.sql(
                f"SELECT {cols} FROM read_parquet('{out}/{op}.parquet/*.parquet')"
            ).fetchall()

        if ctx.corrupt:
            shutil.rmtree(os.path.join(out, "exact_dedup.parquet"))
            os.makedirs(os.path.join(out, "exact_dedup.parquet"))
        try:
            got = set(rows("exact_dedup", "fp, rep_doc_id, n_copies"))
        except duckdb.Error:
            got = set()
        if got != inp.fp_groups:
            _fail(cyc, {"exact_dedup"}, f"exact_dedup groups {len(got)} != {len(inp.fp_groups)}")

        n, lo, hi = rows("quality", "count(*), min(score), max(score)")[0]
        if n != inp.n_docs or not (0 <= lo <= hi <= 1):
            _fail(cyc, {"quality"}, f"quality rows {n}, score range [{lo}, {hi}]")

        pairs = {(a, b): j for a, b, j in rows("minhash_lsh", "doc_a, doc_b, jaccard")}
        sure = {p for p, j in inp.pairs.items() if j >= JACCARD + 1e-6}
        maybe = {p for p, j in inp.pairs.items() if j >= JACCARD - 1e-6}
        off = [p for p, j in pairs.items() if abs(j - inp.pairs.get(p, -1)) > 1e-6]
        if not (sure <= set(pairs) <= maybe) or off:
            _fail(cyc, {"minhash_lsh"},
                  f"minhash pairs {len(pairs)} vs truth {len(sure)}..{len(maybe)}, {len(off)} off")
        cyc.counts["dedup.verified_pairs"] = len(pairs)

        hp = rows("hyperplane_lsh", "vec_a, vec_b, cosine_sim")
        if hp:
            a, b, cs = (np.array(x) for x in zip(*hp))
            exact = truth.cosine_rows(inp.vectors, a, b)
            if (exact < COSINE - 1e-6).any() or (np.abs(exact - cs) > 1e-5).any():
                _fail(cyc, {"hyperplane_lsh"}, "hyperplane pair below threshold or misscored")
        else:
            _fail(cyc, {"hyperplane_lsh"}, "hyperplane found no pairs")

        knn = rows("ivf_topk", "query_id, neighbor_id, cosine_sim, rank")
        bad = set()
        by_q: dict[int, list] = {}
        for q, nb, cs, rk in knn:
            by_q.setdefault(q, []).append((rk, nb, cs))
        for q, hits in by_q.items():
            hits.sort()
            sims = [cs for _rk, _nb, cs in hits]
            exact = truth.cosine_rows(inp.vectors, [q] * len(hits), [nb for _r, nb, _c in hits])
            if ([rk for rk, _nb, _cs in hits] != list(range(1, len(hits) + 1))
                    or len(hits) > TOPK or sims != sorted(sims, reverse=True)
                    or q in {nb for _r, nb, _c in hits}
                    or (np.abs(exact - np.array(sims)) > 1e-5).any()):
                bad.add(q)
        if bad or set(by_q) != set(inp.query_ids):
            _fail(cyc, {"ivf_topk"}, f"ivf top-k wrong for {len(bad)} queries")

        admitted = {
            r["doc_id"] for r in
            events.admitted_docs(cat, ctx.spark, "stream", seen).select("doc_id").collect()
        }
        if admitted != inp.admitted:
            _fail(cyc, {"screen_epoch"},
                  f"screen admitted {len(admitted)} docs, truth {len(inp.admitted)}")


WORKLOADS = {w.name: w for w in (EltBulk, CatalogChurn, LlmCurate)}
