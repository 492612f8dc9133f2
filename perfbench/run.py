"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Generates the seeded inputs, starts
a Spark session at ``local[<cpu count>]``, sets the workload up, runs
it closed loop with one client for ``--seconds`` and checks every
output against a DuckDB oracle. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` makes at
least two rounds, recording spans around the engine's public calls for
the even-keyed operations in the first and the odd-keyed ones in the
second, and reports the per-layer metrics plus the tracing overhead
(traced minus untraced wall of the same operations). The line before
the result carries the workload's own named figures (see METRICS.md)
and the machine shape. Spans are written to
``.perfbench_work/traces/``; every other file of a run lives in a
sandbox under ``.perfbench_work/`` that is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def clocked(fn) -> tuple[float, float]:
    """Run ``fn``; (its wall seconds, the same with the host's steal
    share over the call removed)."""
    from check import cpu_jiffies, steal_share

    j0, t0 = cpu_jiffies(), time.perf_counter()
    fn()
    wall = time.perf_counter() - t0
    return wall, wall * (1 - steal_share(j0, cpu_jiffies()))


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Context:
    """What every workload shares: the session, data dirs, tracer."""

    def __init__(self, args, work: str):
        self.seed = args.seed
        self.work = work
        self.tmp = os.path.join(work, "tmp")
        self.data = os.path.join(work, "data")
        self.data_clean = os.path.join(self.data, "clean")
        self.spark = None
        self.jvm_pid = None
        self.tracer = None
        self.clean = None
        self.oracle = None

    def cpu_s(self) -> float:
        """CPU seconds used so far by the JVM and this process."""
        total = 0
        for pid in (self.jvm_pid, "self"):
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])  # utime, stime
        return total / os.sysconf("SC_CLK_TCK")

    def trace(self, on: bool):
        """Install or remove the tracer's wrappers; the tracer when on."""
        if on and not self.tracer.installed:
            self.tracer.install()
        elif not on and self.tracer.installed:
            self.tracer.uninstall()
        return self.tracer if on else None


def start_session(ctx: Context):
    from retail_sales_etl_spark.session import get_spark

    java_opts = f"-Djava.io.tmpdir={ctx.tmp} -XX:-UsePerfData"
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(ctx.work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that ignores SIGTERM is killed
            proc.kill()
            proc.wait(timeout=30)


def overhead(records: list[dict]) -> tuple[float, float]:
    """Tracing overhead over the operations timed both ways: the sum of
    (mean traced wall - mean untraced wall) per operation key, in seconds
    and as a share of the untraced sum."""
    by: dict = {}
    for r in records:
        by.setdefault(r["key"], ([], []))[0 if r["traced"] else 1].append(r["wall"])
    both = [(statistics.mean(t), statistics.mean(u)) for t, u in by.values() if t and u]
    traced = sum(t for t, _ in both)
    untraced = sum(u for _, u in both)
    return traced - untraced, (traced - untraced) / untraced if untraced else 0.0


def per_layer(ctx: Context, workload) -> dict:
    """Per-layer metrics from the spans of the traced operations."""
    import tracing as T
    import workloads as W

    spans = ctx.tracer.spans
    self_t = ctx.tracer.self_times()
    by_id = {s.sid: s for s in spans}

    def named(n):
        return [s for s in spans if s.name == n]

    def dur(ss):
        return sum(s.end - s.start for s in ss)

    m: dict[str, tuple[float, str]] = {}
    m["session.start_s"] = (ctx.session_start_s, "s")
    for n in ["sources.run_extract", "writers.run_load", "modeling.validate_integrity"]:
        m[f"{n}.s"] = (dur(named(n)), "s")
        m[f"{n}.jobs"] = (sum(s.jobs for s in named(n)), "count")
    m["cleaning.run_cleaning.s"] = (dur(named("cleaning.run_cleaning")), "s")
    m["modeling.build.s"] = (dur(named("modeling.build")), "s")

    control = [s for s in spans if s.name.startswith("control.")]
    outer = [s for s in control if not by_id.get(s.parent) or not by_id[s.parent].name.startswith("control.")]
    m["control.calls"] = (len(control), "count")
    m["control.s"] = (dur(outer), "s")

    runs = named("pipeline.run_pipeline")
    m["pipeline.self.s"] = (sum(self_t[s.sid] for s in runs), "s")
    m["pipeline.jobs_per_pass"] = (
        sum(s.jobs for s in runs) * len(W.PIPELINES) / len(runs) if runs else 0, "count")
    passes = getattr(workload, "passes", [])
    m["cleaning.keep_ratio"] = (
        statistics.median(p["keep_ratio"] for p in passes) if passes else 0.0, "ratio")
    m["writers.bytes_per_source_byte"] = (
        statistics.median(p["wh_bytes"] for p in passes) / workload.src_bytes if passes else 0.0,
        "ratio")

    for sink, _ in W.STREAM_ENTRIES.values():
        ss = named(f"streaming.{sink}")
        m[f"streaming.{sink}.s"] = (dur(ss), "s")
        m[f"streaming.{sink}.jobs_per_batch"] = (sum(s.jobs for s in ss) / len(ss) if ss else 0, "count")
    recs = [r for r in workload.records if r["traced"] and "batches" in r]
    batches = [b for r in recs for b in r["batches"]]
    for ph in ["addBatch", "walCommit", "commitOffsets", "queryPlanning", "latestOffset", "getBatch"]:
        vals = [b["ms"].get(ph, 0) / 1000.0 for b in batches]
        m[f"streaming.batch.{ph}_s"] = (statistics.median(vals) if vals else 0.0, "s")
    stage, serve, jobs = [], [], []
    for r in recs:
        root = by_id[r["span"]]
        kids = [s for s in spans if s.request == root.request and s.name.endswith("_sink")]
        jobs.append(root.jobs)
        if kids:
            stage.append(min(s.start for s in kids) - root.start)
            serve.append(root.end - max(s.end for s in kids))
    m["streaming.stage_s"] = (statistics.median(stage) if stage else 0.0, "s")
    m["streaming.serve_s"] = (statistics.median(serve) if serve else 0.0, "s")
    m["streaming.jobs_per_entry"] = (sum(jobs) / len(jobs) if jobs else 0, "count")
    m["streaming.write_amp"] = (
        sum(r["work_bytes"] for r in recs) / sum(r["input_bytes"] for r in recs) if recs else 0.0, "ratio")
    m["streaming.tmp_dirs_leaked"] = (sum(r["work_dirs"] for r in recs), "count")

    # Reads only plan (their jobs run when the caller collects), so
    # they get no .jobs metric.
    for meth in T.LAKE_COMMITS + T.LAKE_LOG + T.LAKE_READS:
        ss = named(f"lakehouse.{meth}")
        m[f"lakehouse.{meth}.calls"] = (len(ss), "count")
        m[f"lakehouse.{meth}.s"] = (dur(ss), "s")
        if meth in T.LAKE_COMMITS:
            m[f"lakehouse.{meth}.jobs"] = (sum(s.jobs for s in ss), "count")
    prunes = [s for s in spans if s.name in ("lakehouse.prune_files", "lakehouse._prune_files_in")]
    live = sum(s.attrs.get("live", 0) for s in prunes)
    m["lakehouse.prune_ratio"] = (sum(s.attrs.get("kept", 0) for s in prunes) / live if live else 0.0, "ratio")
    m["lakehouse.files_live"] = (max((s.attrs.get("live", 0) for s in prunes), default=0), "count")

    build, exe = named("plans.build"), named("plans.exec")
    m["plans.build.s"] = (dur(build), "s")
    m["plans.exec.s"] = (dur(exe), "s")
    m["plans.jobs_per_request"] = (sum(s.jobs for s in build + exe) / len(build) if build else 0, "count")
    lt = named("catalog.load_table")
    m["catalog.load_table.calls"] = (len(lt), "count")
    m["catalog.load_table.s"] = (dur(lt), "s")

    layers = ["sources", "cleaning", "modeling", "writers", "control", "pipeline",
              "streaming", "lakehouse", "plans", "catalog"]
    for layer in layers:
        m[f"self.{layer}_s"] = (sum(self_t[s.sid] for s in spans if s.name.split(".")[0] == layer), "s")
    m["trace.spans"] = (len(spans), "count")
    over_s, over_frac = overhead(workload.records)
    m["trace.overhead_s"] = (over_s, "s")
    m["trace.overhead_frac"] = (over_frac, "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def bypass_violations(ctx: Context, workload) -> list[str]:
    """Layers a workload must leave untouched, and any it touched."""
    names = {s.name for s in ctx.tracer.spans}
    if workload.name == "etl_batch":
        bad = {n for n in names if n.startswith(("streaming.", "lakehouse."))}
    elif workload.name == "stream_ingest":
        bad = {n for n in names if n.startswith(("writers.", "control."))}
    else:
        bad = names & {"lakehouse.write", "lakehouse.merge", "lakehouse.optimize"}
    return sorted(bad)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # A terminated run still stops its JVM and removes its sandbox.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "retail_sales_etl_spark")):
        print(f"perfbench: no retail_sales_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}",
              file=sys.stderr)
        return 2

    # Per-run sandbox: every temp dir, Spark local dir and output of
    # this run lives under it, and it is removed at exit.
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    ctx = Context(args, work)
    os.makedirs(ctx.tmp, exist_ok=True)
    cpus = os.cpu_count() or 1
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    os.environ.update({
        "TMPDIR": ctx.tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY", "2g"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TZ": "UTC",
    })
    time.tzset()
    tempfile.tempdir = ctx.tmp
    from check import cpu_jiffies

    load_start = os.getloadavg(), cpu_jiffies()

    try:
        return run(args, ctx, W, cpus, load_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, ctx: Context, W, cpus: int, load_start) -> int:
    import datagen
    import pyspark

    from check import Oracle, cpu_jiffies, steal_share

    ctx.clean = datagen.write_clean(ctx.data_clean, args.seed)
    ctx.oracle = Oracle(ctx.data_clean, datagen.TABLES)

    def start():
        ctx.spark = start_session(ctx)
        ctx.spark.range(1).count()

    ctx.session_start_s, session_unstolen = clocked(start)
    try:
        sc = ctx.spark.sparkContext
        ctx.jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
        dag = sc._jsc.sc().dagScheduler()
        from tracing import Tracer

        ctx.tracer = Tracer(dag.numTotalJobs, (sink for sink, _ in W.STREAM_ENTRIES.values()))
        workload = W.WORKLOADS[args.workload](ctx)
        reps = [clocked(workload.setup) for _ in range(workload.setup_reps)]
        workload.oracles()
        warm = clocked(workload.warm_up)
        setup_raw_s = ctx.session_start_s + warm[0] + statistics.median(r[0] for r in reps)
        setup_s = session_unstolen + warm[1] + statistics.median(r[1] for r in reps)

        try:
            workload.run_for(args.seconds, trace=bool(args.trace))
        finally:
            ctx.trace(False)

        # A layer the workload must bypass but called fails the run.
        bypassed = bypass_violations(ctx, workload) if args.trace else []
        for name in bypassed:
            workload.fail(f"bypass: {args.workload} called {name}")
        jiffies = cpu_jiffies()
        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": cpus, "pyspark": pyspark.__version__,
            "loadavg_start": load_start[0], "loadavg_end": os.getloadavg(),
            "steal_frac": steal_share(load_start[1], jiffies),
            "session_start_s": ctx.session_start_s, "warmup_s": warm[0],
            "setup_reps_s": [r[0] for r in reps], "setup_raw_s": setup_raw_s,
            "rounds": workload.rounds,
            "ops_failed_frac": workload.failed / max(1, workload.attempted),
            "peak_rss_mb": vm_hwm_mb(ctx.jvm_pid) + vm_hwm_mb("self"),
            "named": workload.summary(),
            "failures": workload.failures[:20],
        }
        if args.trace:
            metrics = per_layer(ctx, workload)
            report["bypass_violations"] = bypassed
            os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
            ctx.tracer.dump(os.path.join(
                WORK_ROOT, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = {"setup_s": {"value": setup_s, "unit": "s"}}
            for k, v in workload.generic().items():
                metrics[k] = {"value": v, "unit": "s"}
    finally:
        if ctx.spark is not None:
            stop_session(ctx.spark)
        ctx.oracle.close()

    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": workload.failed == 0,
        "attempted": workload.attempted,
        "failed": workload.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
