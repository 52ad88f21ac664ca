"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload elt_bulk --seed 1 --seconds 10 --trace 0

Run from the repository root. The process

1. points every scratch directory (Spark local dirs, JVM and Python
   temp files, warehouses) at ``.perfbench_work/`` in the repository
   root and puts the repository on the Python workers' path, before any
   engine module loads, then starts one SparkSession on
   ``local[min(4, nproc - 1)]``;
2. generates the workload's inputs from ``--seed`` and, as warm-up,
   runs one whole cycle on inputs from another seed, so JIT,
   Python-worker start-up and any per-input cache are paid before timing;
3. runs cycles until ``--seconds`` have passed (at least one), checking
   each cycle's outputs outside the timed windows, and times the
   machine-speed token (``calib.py``) after the warm-up and after each
   cycle;
4. prints each metric with its unit, then, as the last stdout line, one
   JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

With ``--trace 0`` the metrics are the end-to-end ones, their times in
token units (the raw values are printed as ``raw <name>``). With
``--trace 1`` untraced and traced cycles alternate; the metrics are the
per-layer ones from the traced cycles plus the tracing overhead (traced
minus untraced cycle wall), and the spans go to
``.perfbench_work/spans/<workload>-<seed>.json``; the ``accounting``
checks (see :func:`accounting`) count into ``failed``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".perfbench_work")


def process_age_s() -> float:
    """Seconds since this process started (Linux /proc; 10 ms ticks)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def configure_env(run_dir: str, cores: int) -> dict:
    """Environment and Spark confs that keep every file the run writes
    under ``run_dir`` and let Spark's Python workers import the engine."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    # every JVM the launch starts (spark-submit's launcher and the Spark driver)
    # keeps its temp files in the run dir and writes no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_GRAFT_SQL_WAREHOUSE"] = os.path.join(run_dir, "sql_warehouse")
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(run_dir, "scratch")
    return {"spark.local.dir": os.path.join(run_dir, "spark-local")}


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM pyspark launched and wait for it:
    the gateway server exits when its stdin closes, and Spark's Python
    workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """The highest whole percentile with at least ten samples above it,
    and its value; (0, 0) when there are too few samples."""
    n = len(samples)
    if n <= 10:
        return 0.0, 0.0
    pct = int(100 * (n - 10) / n)
    cuts = statistics.quantiles(samples, n=100, method="inclusive")
    return float(pct), cuts[pct - 1]


def med(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def end_to_end(cycles, setup_s: float, slow: float = 1.0) -> dict:
    """The end-to-end metrics; times are divided by ``slow``, the run's
    machine slowdown against the reference token (see ``calib``)."""
    ops = [op for c in cycles for op in c.ops]
    return {
        "setup_s": (setup_s / slow, "s"),
        "rows_per_s": (
            sum(o.rows for o in ops) / sum(o.wall_s for o in ops) * slow, "rows/s"),
        "cycle_p50_s": (med(sum(o.wall_s for o in c.ops) for c in cycles) / slow, "s"),
        "bytes_stored_per_input_byte": (
            med(c.stored_bytes / c.input_bytes for c in cycles), "ratio"),
    }


def workload_view(name: str, cycles, slow: float) -> dict:
    """The metrics a user of one workload reads, by the names the design
    notes use, in token units; printed for reading, not part of the JSON
    contract."""
    ops = [op for c in cycles for op in c.ops]

    def rate(prefix):
        sel = [o for o in ops if o.kind.startswith(prefix)]
        return sum(o.rows for o in sel) / sum(o.wall_s for o in sel) * slow

    def p50(kind):
        return med(o.wall_s for o in ops if o.kind == kind) / slow

    if name == "elt_bulk":
        return {"write_rows_per_s": (rate("writer."), "rows/s"),
                "extract_rows_per_s": (rate("extractor."), "rows/s")}
    if name == "catalog_churn":
        return {"commit_p50_s": (p50("commit"), "s"), "read_p50_s": (p50("read"), "s")}
    chain = [o for o in ops if o.kind != "screen_epoch"]
    docs_per_s = sum(o.rows for o in chain) / sum(o.wall_s for o in chain) * slow
    return {"docs_per_s": (docs_per_s, "docs/s"),
            "screen_epoch_p50_s": (p50("screen_epoch"), "s")}


def per_layer(traced, untraced, tracer) -> dict:
    from workloads import LlmCurate

    ops = [op for c in traced for op in c.ops]
    spans = tracer.spans
    by_name: dict[str, list[float]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s.end - s.start)

    def op_med(kind, part=lambda o: o.wall_s):
        return med(part(o) for o in ops if o.kind == kind)

    def probe(name):
        return med(v for c in traced for v in c.probes.get(name, []))

    def per_cycle(fn):
        return med(fn(c) for c in traced)

    out = {}
    for mode in ("replace", "append", "upsert"):
        out[f"component.writer_s.{mode}"] = (op_med(f"writer.{mode}"), "s")
    for fmt in ("csv", "parquet"):
        out[f"component.extractor_s.{fmt}"] = (op_med(f"extractor.{fmt}"), "s")
    out["csv_io.parse_s"] = (probe("csv_io.parse_s"), "s")
    out["csv_io.write_s"] = (med(by_name.get("csv_io.write_csv", [])), "s")
    commits = []
    for mode in ("replace", "append", "upsert"):
        name = f"snaptable.commit_s.{mode}"
        out[name] = (probe(name), "s")
        commits += [v for c in traced for v in c.probes.get(name, [])]
    out["snaptable.scan_s"] = (probe("snaptable.scan_s"), "s")
    pct, tail = tail_percentile(commits)
    out["snaptable.commit_tail_s"] = (tail, "s")
    out["snaptable.commit_tail_pct"] = (pct, "%")
    out["snaptable.read_plan_s"] = (med(by_name.get("snaptable.read", [])), "s")
    out["snaptable.list_snapshots_s"] = (med(by_name.get("snaptable.snapshots", [])), "s")
    for name, unit in (("snaptable.read_plan_growth", "ratio"),
                       ("snaptable.snapshots", "count"),
                       ("snaptable.metadata_bytes", "bytes"),
                       ("snaptable.metadata_bytes_per_commit", "bytes"),
                       ("snaptable.data_files", "count")):
        out[name] = (per_cycle(lambda c: c.counts.get(name, 0.0)), unit)
    for op in LlmCurate.OPS:
        out[f"operators.construct_s.{op}"] = (op_med(op, lambda o: o.construct_s), "s")
        out[f"operators.execute_s.{op}"] = (
            op_med(op, lambda o: o.wall_s - o.construct_s), "s")
    cand = per_cycle(lambda c: c.counts.get("dedup.candidate_pairs", 0))
    ver = per_cycle(lambda c: c.counts.get("dedup.verified_pairs", 0))
    out["dedup.candidate_pairs"] = (cand, "count")
    out["dedup.verified_pairs"] = (ver, "count")
    out["dedup.verify_yield"] = (ver / cand if cand else 0.0, "ratio")

    epochs = [s for s in spans if s.layer == "bench" and s.name == "screen_epoch"]
    children: dict[int, list] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)

    def catalog_time(span):
        # snaptable spans nested anywhere under the epoch, outermost only
        total, stack = 0.0, list(children.get(span.id, []))
        while stack:
            s = stack.pop()
            if s.layer == "snaptable":
                total += s.end - s.start
            else:
                stack.extend(children.get(s.id, []))
        return total

    epoch_s = [s.end - s.start for s in epochs]
    cat_s = [catalog_time(s) for s in epochs]
    out["screen.epoch_s"] = (med(epoch_s), "s")
    out["screen.epoch_growth"] = (
        per_cycle(lambda c: _growth([o.wall_s for o in c.ops if o.kind == "screen_epoch"])),
        "ratio")
    out["screen.catalog_s"] = (med(cat_s), "s")
    out["screen.kernel_s"] = (med(e - k for e, k in zip(epoch_s, cat_s)), "s")

    def spark_sum(c, attr):
        return sum(getattr(o.spark, attr) for o in c.ops if o.spark is not None)

    for attr, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                       ("shuffle_write_bytes", "bytes"), ("job_busy_s", "s")):
        out[f"spark.{attr}"] = (per_cycle(lambda c: spark_sum(c, attr)), unit)
    out["spark.driver_gap_s"] = (
        per_cycle(lambda c: sum(o.wall_s for o in c.ops) - spark_sum(c, "job_busy_s")), "s")

    layers = ("bench", "component", "csv_io", "snaptable", "operators", "streaming", "spark")
    selfs = [tracer.self_times(c.root_spans) for c in traced]
    for layer in layers:
        out[f"self_s.{layer}"] = (med(s.get(layer, 0.0) for s in selfs), "s")
    t_wall = med(sum(o.wall_s for o in c.ops) for c in traced)
    u_wall = med(sum(o.wall_s for o in c.ops) for c in untraced)
    out["trace.traced_cycle_s"] = (t_wall, "s")
    out["trace.untraced_cycle_s"] = (u_wall, "s")
    out["trace.overhead_s"] = (t_wall - u_wall, "s")
    return out


def accounting(traced, untraced, tracer) -> list[str]:
    """Check that the traced cycles' decomposition holds and describes
    the untraced ones; mark the operations it does not hold for as failed.

    Span self times split each traced operation's wall exactly, and
    ``spark.driver_gap_s`` is that wall minus the status store's job-busy
    time, so their sum is the traced wall by construction. What can fail
    is what makes that split trustworthy:

    - coverage: the harness's own self time (``self_s.bench``, wall no
      engine or Spark span covers) is at most 2% of a cycle plus 10 ms;
      more means an engine entry point the workload calls is not hooked;
    - clocks: each operation's job-busy time, from the JVM's job
      timestamps, fits in its wall (whole milliseconds, so 2 ms a job);
    - transfer: the traced wall minus the untraced wall (the tracing
      overhead) is printed next to the untraced wall it must explain.
    """
    lines = []
    for i, c in enumerate(traced):
        wall = sum(o.wall_s for o in c.ops)
        bench = tracer.self_times(c.root_spans).get("bench", 0.0)
        if bench > 0.02 * wall + 0.01:
            c.failed_ops.update(range(len(c.ops)))
            lines.append(f"accounting failed: cycle {i} leaves {bench:.4f} s "
                         f"of {wall:.4f} s outside every layer span")
        for j, o in enumerate(c.ops):
            if o.spark and o.spark.job_busy_s > o.wall_s + 0.002 * o.spark.jobs:
                c.failed_ops.add(j)
                lines.append(f"accounting failed: {o.kind} jobs busy "
                             f"{o.spark.job_busy_s:.3f} s in a {o.wall_s:.3f} s wall")
    t_wall = med(sum(o.wall_s for o in c.ops) for c in traced)
    u_wall = med(sum(o.wall_s for o in c.ops) for c in untraced)
    busy = med(sum(o.spark.job_busy_s for o in c.ops if o.spark) for c in traced)
    bench = med(tracer.self_times(c.root_spans).get("bench", 0.0) for c in traced)
    lines.append(
        f"accounting {'failed' if lines else 'ok'}: untraced cycle {u_wall:.4f} s; "
        f"traced cycle {t_wall:.4f} s = job busy {busy:.4f} s + driver gap "
        f"{t_wall - busy:.4f} s = layer self times {t_wall - bench:.4f} s + "
        f"unattributed {bench:.4f} s; tracing overhead {t_wall - u_wall:+.4f} s "
        f"({(t_wall - u_wall) / u_wall:+.1%} of untraced)")
    return lines


def _growth(xs: list[float]) -> float:
    return xs[-1] / xs[0] if len(xs) >= 2 and xs[0] > 0 else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage one output per cycle before it is checked")
    args = ap.parse_args(argv)

    # one core stays free for the Spark driver's own threads (py4j, GC)
    cores = max(1, min(4, (os.cpu_count() or 1) - 1))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    # before any engine import: the engine reads its scratch paths from
    # the environment when its modules load
    extra_conf = configure_env(run_dir, cores)
    sys.path[:0] = [ROOT, HERE]
    import numpy as np

    import calib
    import tracing as tr
    from component_iceberg_spark.session import get_spark
    from sparkstats import JobWatermark
    from workloads import SCALES, WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        shutil.rmtree(run_dir, ignore_errors=True)
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload](SCALES[args.scale])
    spark = get_spark(f"perfbench-{args.workload}", master=f"local[{cores}]",
                      extra_conf=extra_conf)
    master = spark.sparkContext.master
    phases = [("session", process_age_s())]
    try:
        ctx = Ctx(spark, run_dir)
        ctx.check = False
        inp = wl.generate(np.random.default_rng(args.seed),
                          os.path.join(run_dir, "inputs", "timed"))
        # warm-up: one whole cycle on inputs from a seed the timed pass
        # never uses, so no per-input cache can serve the timed cycles
        w_inp = wl.generate(np.random.default_rng([args.seed, 1]),
                            os.path.join(run_dir, "inputs", "warm"), warm=True)
        phases.append(("inputs", process_age_s()))
        wl.cycle(ctx, w_inp, -1)
        for _ in range(calib.WARM_TOKENS):  # the JIT compiles the token's loop
            calib.token_s(spark, cores)
        setup_s = process_age_s()
        phases.append(("warm-up", setup_s))
        tokens = [calib.token_s(spark, cores) for _ in range(3)]

        ctx.check, ctx.corrupt = True, args.corrupt
        tracer = tr.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
        traced, untraced = [], []
        deadline = time.perf_counter() + args.seconds
        n = 0
        while True:
            # traced runs go untraced, traced, untraced, ... so that a
            # drift over the run does not read as tracing overhead
            want_trace = bool(args.trace) and n % 2 == 1
            if want_trace:
                ctx.tracer, ctx.jobs = tracer, JobWatermark(spark)
                first = len(tracer.spans)
                with tr.layer_hooks(tracer):
                    cyc = wl.cycle(ctx, inp, n)
                cyc.root_spans = {
                    s.id for s in tracer.spans[first:]
                    if s.parent is None and s.layer == "bench"
                }
                ctx.tracer = ctx.jobs = None
                traced.append(cyc)
            else:
                untraced.append(wl.cycle(ctx, inp, n))
            tokens.append(calib.token_s(spark, cores))
            n += 1
            if time.perf_counter() >= deadline and (
                not args.trace or len(untraced) > len(traced) > 0
            ):
                break
    finally:
        stop_spark(spark)

    checks = accounting(traced, untraced, tracer) if args.trace else []
    cycles = traced + untraced
    attempted = sum(len(c.ops) for c in cycles)
    failed = sum(len(c.failed_ops) for c in cycles)
    e2e_cycles = untraced  # end-to-end numbers come from untraced cycles only
    loadavg = os.getloadavg()
    token = med(tokens)
    slow = token / calib.REF_TOKEN_S
    print(f"workload {args.workload} seed {args.seed} scale {args.scale} "
          f"master {master} nproc {os.cpu_count()} loadavg {loadavg[0]:.2f} "
          f"cycles {len(untraced)} untraced + {len(traced)} traced")
    print(f"machine token {token:.4f} s (median of {len(tokens)}: "
          f"{' '.join(f'{t:.4f}' for t in tokens)}); slowdown {slow:.4f} "
          f"against {calib.REF_TOKEN_S} s")
    starts = [0.0] + [t for _name, t in phases]
    print("setup " + ", ".join(
        f"{name} {t - t0:.2f} s" for (name, t), t0 in zip(phases, starts)))
    dup = f"; duplicate share {inp.dup_share:.3f}" if hasattr(inp, "dup_share") else ""
    print(f"inputs {inp.input_bytes} bytes; "
          f"rows per cycle {sum(o.rows for o in cycles[0].ops)}{dup}")
    kinds: dict[str, list[float]] = {}
    for o in (o for c in e2e_cycles for o in c.ops):
        kinds.setdefault(o.kind, []).append(o.wall_s)
    for kind, walls in kinds.items():
        print(f"op {kind} n={len(walls)} p50={med(walls):.4f}s max={max(walls):.4f}s")
    for name, (value, unit) in end_to_end(e2e_cycles, setup_s).items():
        print(f"raw {name} {value:.6g} {unit}")
    e2e = end_to_end(e2e_cycles, setup_s, slow)
    view = {"error_rate": (failed / attempted, "ratio"), **e2e,
            **workload_view(args.workload, e2e_cycles, slow)}
    if args.trace:
        metrics = per_layer(traced, untraced, tracer)
        metrics["machine.token_s"] = (token, "s")
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        span_path = os.path.join(WORK, "spans", f"{args.workload}-{args.seed}.json")
        tracer.write(span_path, {
            "workload": args.workload, "seed": args.seed, "nproc": os.cpu_count(),
            "master": master, "loadavg": loadavg, "machine_tokens_s": tokens,
            "ops": [
                {"cycle": i, "kind": o.kind, "wall_s": o.wall_s, "rows": o.rows,
                 "construct_s": o.construct_s,
                 **({"spark": vars(o.spark)} if o.spark else {})}
                for i, c in enumerate(traced) for o in c.ops
            ],
        })
        print(f"spans {span_path}")
        print("\n".join(checks))
    else:
        metrics = e2e
    for name, (value, unit) in {**view, **metrics}.items():
        print(f"{name} {value:.6g} {unit}")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
