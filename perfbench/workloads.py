"""The three closed-loop, single-client workloads.

Each workload has ``setup`` (timed into ``setup_s``), ``warm_up``,
``oracles`` (the harness's own checks, untimed), ``round`` (one pass
over its operations) and ``summary`` (its named figures). A failed or
wrong operation is counted and the loop goes on.

Every operation has a stable key. A traced run alternates rounds that
trace the even-keyed and the odd-keyed operations, so each operation is
timed once with and once without tracing; the difference is the
tracing overhead.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import statistics
import time
import traceback

from check import cpu_jiffies, spark_digest, steal_share

PIPELINES = ["customer", "supplier", "part", "lineitem"]
DIMS = PIPELINES[:3]
TARGETS = {
    "customer": "customer_dim",
    "supplier": "supplier_dim",
    "part": "part_dim",
    "lineitem": "sales_fact",
}
ANALYTIC = [
    "star_flagship", "q1_pricing_summary", "revenue_by_nation", "top_customers",
    "bloom_pruned_revenue", "dedup_minhash_lsh", "bm25_retrieval", "ann_topk",
    "hybrid_rrf_retrieval", "triangle_count",
]
# stream_ingest entry -> (the sink its maintain_* closure calls per
# micro-batch, the source table it replays)
STREAM_ENTRIES = {
    "streaming_source_sketch": ("source_sketch_sink", "documents"),
    "streaming_km_survival": ("session_tails_sink", "events"),
}
LAKE_RANGE_N = 5  # query_mix pool
LAKE_KEYS_N = 5
STREAM_LAKE_RANGE_N = 2  # lake reads per stream_ingest round
STREAM_LAKE_KEYS_N = 2
LAKE_KEYS_PER_REQUEST = 20
LAKE_MERGES = 1
LAKE_MERGE_KEYS = 300


def tail(values: list[float]) -> dict | None:
    """The highest percentile with at least 10 samples beyond it."""
    n = len(values)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            q = statistics.quantiles(values, n=100, method="inclusive")[p - 1]
            return {"pct": p, "n": n, "value": q}
    return None


def median(values):
    return statistics.median(values) if values else None


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total


def registry_entries() -> dict:
    """name -> entry function, read from the registry's modules without
    ``registry.all_queries`` (which may rewrite proof bookkeeping files)."""
    from retail_sales_etl_spark.plans import registry

    out = {}
    for mod in registry._modules():
        out.update(getattr(mod, "QUERIES", {}))
    return out


class Workload:
    name = ""
    setup_reps = 3  # setup_s takes the median of this many setups
    trace_warm_round = False

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.records: list[dict] = []  # one per timed operation
        self.rounds = 0

    def fail(self, what: str, err: BaseException | None = None) -> None:
        self.failed += 1
        msg = what if err is None else f"{what}: {type(err).__name__}: {err}"
        self.failures.append(msg[:300])
        if err is not None:
            traceback.print_exception(err)

    def run_for(self, seconds: float, trace: bool) -> None:
        """Rounds until the deadline: at least one, and at least two when
        tracing so that every operation is traced once. A traced run of a
        workload whose first operation carries the session's first-use
        costs starts with one untimed round, so those costs do not land
        on one side of the overhead."""
        if trace and self.trace_warm_round:
            self.round(None)
            self.records.clear()
        deadline = time.perf_counter() + seconds
        n = 0
        while n < (2 if trace else 1) or time.perf_counter() < deadline:
            self.rounds += 1
            self.round(n % 2 if trace else None)
            n += 1

    def tracer_for(self, parity: int | None, key: int):
        """The tracer when operation ``key`` is traced in this round (its
        parity matches), else None; installs or removes the wrappers."""
        return self.ctx.trace(parity is not None and key % 2 == parity)

    def timed(self, parity, key: int, label: str, fn) -> dict | None:
        """Run ``fn`` as one operation. Returns its result ``out`` with
        ``wall`` and ``cpu`` seconds (JVM plus driver CPU time), ``steal``
        (the share of the machine's CPU time the host stole meanwhile),
        ``traced`` and the ``root`` span, or None after counting a
        failure."""
        self.attempted += 1
        tr = self.tracer_for(parity, key)
        root = tr.begin_request(self.attempted, label) if tr else None
        j0, c0, t0 = cpu_jiffies(), self.ctx.cpu_s(), time.perf_counter()
        try:
            out = fn(tr)
        except Exception as err:  # noqa: BLE001 - a failed op is counted, the run goes on
            if tr:
                tr.end_request(root, err)
            self.fail(label, err)
            return None
        wall, cpu, j1 = time.perf_counter() - t0, self.ctx.cpu_s() - c0, cpu_jiffies()
        if tr:
            tr.end_request(root)
        steal = steal_share(j0, j1)
        return {"out": out, "wall": wall, "cpu": cpu, "steal": steal,
                "traced": tr is not None, "root": root}

    def warm_up(self) -> None:
        """Nothing by default: the pipeline CLI runs each pipeline in a
        fresh session, and a warm round of the streaming entries or the
        query pool would double the run time, so timed operations pay
        their first-use (JIT, codegen) costs."""

    def build_and_collect(self, tr, entry) -> tuple[list, list[str]]:
        """Call a registry entry (span ``plans.build``: the entry call with
        its eager actions) and collect its result (span ``plans.exec``)."""
        with tr.span("plans.build") if tr else contextlib.nullcontext():
            df = entry(self.spark, self.ctx.data_clean)
        with tr.span("plans.exec") if tr else contextlib.nullcontext():
            return df.collect(), df.columns


# --------------------------------------------------------------- etl_batch


class EtlBatch(Workload):
    """The paper's path: run_pipeline for the three dims and the fact
    (which also loads date_dim) from a seeded dirty copy of the sources
    into a fresh warehouse per pass."""

    name = "etl_batch"
    trace_warm_round = True  # the first pipeline pays the session's JIT

    def setup(self) -> None:
        import datagen

        self.src = os.path.join(self.ctx.data, "etl_src")
        shutil.rmtree(self.src, ignore_errors=True)
        datagen.write_dirty(self.src, self.ctx.clean, self.ctx.seed)
        self.src_bytes = sum(
            os.path.getsize(os.path.join(self.src, f"{t}.parquet")) for t in PIPELINES
        )
        self.passes: list[dict] = []

    def oracles(self) -> None:
        from retail_sales_etl_spark.plans import registry

        c = self.ctx.clean
        self.expect_rows = {TARGETS[p]: c[p].num_rows for p in PIPELINES}
        od = c["orders"].column("o_orderdate").to_pylist()
        self.expect_rows["date_dim"] = (max(od) - min(od)).days + 1
        self.fact_sql = registry.all_oracles()["sales_fact"]

    def round(self, parity: int | None) -> None:
        from retail_sales_etl_spark import pipeline

        wh = os.path.join(self.ctx.work, f"warehouse-{self.rounds}")
        ops = []
        t_pass = time.perf_counter()
        for key, p in enumerate(PIPELINES):
            got = self.timed(
                parity, key, f"etl.{p}",
                lambda tr, p=p: pipeline.run_pipeline(self.spark, p, self.src, wh),
            )
            if got is None:
                continue
            if got["out"].get("status") != "SUCCESS":
                self.fail(f"run_pipeline {p}: status {got['out'].get('status')}")
                continue
            ops.append({"key": key, "op": p, "wall": got["wall"], "cpu": got["cpu"],
                        "steal": got["steal"], "traced": got["traced"]})
        wall = time.perf_counter() - t_pass
        self.ctx.trace(False)
        loaded = self.check(wh) if len(ops) == len(PIPELINES) else None
        if loaded is not None:
            self.records += ops
            self.passes.append({
                "wall": wall, "rows": loaded, "untraced": not any(o["traced"] for o in ops),
                "wh_bytes": dir_bytes(wh) - dir_bytes(os.path.join(wh, "_control")),
                "keep_ratio": self.keep_ratio(wh),
            })
        shutil.rmtree(wh, ignore_errors=True)

    def check(self, wh: str) -> int | None:
        """Rows loaded into the five targets, or None after counting a
        failure. The counts and the ``sales_fact`` comparison run in
        DuckDB over the written files."""
        from retail_sales_etl_spark.pipeline import PIPELINES as SPECS

        rows = 0
        for t, n in self.expect_rows.items():
            got = self.ctx.oracle.count(os.path.join(wh, t))
            rows += got
            if got != n:
                self.fail(f"{t}: loaded {got} rows, expected {n}")
                return None
        bad = self.ctx.oracle.mismatch(
            self.fact_sql, os.path.join(wh, "sales_fact"), SPECS["lineitem"].model_primary_key)
        if bad:
            self.fail(f"sales_fact differs from its oracle: {bad}")
            return None
        return rows

    @staticmethod
    def keep_ratio(wh: str) -> float:
        """Rows T1 kept ÷ rows it was given, over the pass's pipelines, as
        the run's control log recorded them."""
        from retail_sales_etl_spark.control.runlog import ControlLog

        t1 = [s for s in ControlLog(os.path.join(wh, "_control")).stages()
              if s["stage_name"] == "TRANSFORM_P1" and s["status"] == "SUCCESS"]
        return sum(s["rows_out"] for s in t1) / sum(s["rows_in"] for s in t1)

    def summary(self) -> dict:
        ops = [r for r in self.records if not r["traced"]]
        passes = [p for p in self.passes if p["untraced"]]
        n_dims = len([o for o in ops if o["op"] in DIMS])
        return {
            "etl.rows_per_s": median([p["rows"] / p["wall"] for p in passes]),
            "etl.fact_s": median([o["wall"] for o in ops if o["op"] == "lineitem"]),
            "etl.fact_unstolen_s": median(
                [o["wall"] * (1 - o["steal"]) for o in ops if o["op"] == "lineitem"]),
            "etl.dims_s": sum(o["wall"] for o in ops if o["op"] in DIMS) * len(DIMS) / n_dims
            if n_dims else None,
            "etl.passes": len(passes),
            "etl.cpu_per_op_s": statistics.mean(o["cpu"] for o in ops) if ops else None,
            "etl.pipelines_per_min": len(ops) * 60.0 / sum(o["wall"] for o in ops) if ops else None,
        }

    def generic(self) -> dict:
        s = self.summary()
        return {"main_s": s["etl.fact_unstolen_s"], "cpu_per_op_s": s["etl.cpu_per_op_s"]}


# --------------------------------------------------------- lakehouse reads


class Lake:
    """An ``orders`` lakehouse table and the reads served from it.

    ``build`` writes it from yearly appends in which some keys carry a
    stale price, then merges the right prices back, so it ends equal to
    ``orders``. A ``lake_range`` read is ``read_where`` over one month
    plus a group-by; a ``lake_keys`` read is ``read_where_in`` on
    ``LAKE_KEYS_PER_REQUEST`` keys. Each is checked against a DuckDB
    filter over ``orders.parquet``."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.path = None

    def build(self) -> None:
        from pyspark.sql import functions as F

        from retail_sales_etl_spark.load.lakehouse import LakehouseTable

        self.path = os.path.join(self.ctx.work, "lake", f"orders-{time.time_ns()}")
        orders = self.spark.read.parquet(os.path.join(self.ctx.data_clean, "orders.parquet"))
        rng = random.Random(self.ctx.seed)
        n = self.ctx.clean["orders"].num_rows
        stale = rng.sample(range(n), LAKE_MERGES * LAKE_MERGE_KEYS)
        stale_df = self.spark.createDataFrame([(k,) for k in stale], "o_orderkey long")
        staged = (
            orders.join(F.broadcast(stale_df.withColumn("__stale", F.lit(True))), "o_orderkey", "left")
            .withColumn(
                "o_totalprice",
                F.when(F.col("__stale"), F.col("o_totalprice") + 1.0).otherwise(F.col("o_totalprice")),
            )
            .drop("__stale")
            .select(*orders.columns)
        ).localCheckpoint()
        table = LakehouseTable(self.spark, self.path)
        year = F.year("o_orderdate")
        for (y,) in sorted(staged.select(year).distinct().collect()):
            table.write(staged.where(year == y))
        for i in range(LAKE_MERGES):
            keys = stale[i * LAKE_MERGE_KEYS:(i + 1) * LAKE_MERGE_KEYS]
            table.merge(orders.where(F.col("o_orderkey").isin(keys)), ["o_orderkey"])

    def pool(self, rng: random.Random, n_range: int, n_keys: int) -> list[tuple[str, object]]:
        """Seeded reads: ``n_range`` months, ``n_keys`` key sets."""
        import datagen

        od = self.ctx.clean["orders"].column("o_orderdate").to_pylist()
        months = sorted({d.strftime("%Y-%m") for d in od})
        n = self.ctx.clean["orders"].num_rows
        out: list[tuple[str, object]] = [
            ("lake_range", datagen.month_bounds(m)) for m in rng.sample(months, n_range)]
        for _ in range(n_keys):
            out.append(("lake_keys", tuple(sorted(rng.sample(range(n), LAKE_KEYS_PER_REQUEST)))))
        return out

    def expect(self, kind: str, arg):
        if kind == "lake_range":
            return self.ctx.oracle.digest(
                "SELECT o_orderpriority, count(*) AS n_orders, "
                "CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS revenue "
                "FROM orders WHERE o_orderdate BETWEEN ? AND ? GROUP BY 1",
                list(arg),
            )
        return self.ctx.oracle.digest(
            f"SELECT * FROM orders WHERE o_orderkey IN ({','.join(str(k) for k in arg)})")

    def read(self, kind: str, arg) -> tuple[list, list[str]]:
        from pyspark.sql import functions as F

        from retail_sales_etl_spark.load.lakehouse import LakehouseTable

        table = LakehouseTable(self.spark, self.path)
        if kind == "lake_range":
            df = (
                table.read_where("o_orderdate", arg[0], arg[1])
                .groupBy("o_orderpriority")
                .agg(
                    F.count(F.lit(1)).alias("n_orders"),
                    F.sum(F.col("o_totalprice").cast("decimal(25,6)")).cast("double").alias("revenue"),
                )
            )
        else:
            df = table.read_where_in("o_orderkey", list(arg))
        return df.collect(), df.columns


def lake_summary(records: list[dict]) -> dict:
    return {f"query.{k}_p50_s": median([r["wall"] for r in records if r["op"] == k])
            for k in ("lake_range", "lake_keys")}


# ----------------------------------------------------------- stream_ingest


class StreamIngest(Workload):
    """The lakehouse workload. Streaming replay entries each stage
    micro-batches, maintain lakehouse tables through their sink and serve
    one query; then range and key reads go to an ``orders`` lakehouse
    table built in setup, so a change to the commit path that leaves a
    worse layout for readers shows in the same run."""

    name = "stream_ingest"
    setup_reps = 1  # the lake build

    def __init__(self, ctx):
        from tracing import ProgressLog

        super().__init__(ctx)
        self.progress = ProgressLog(self.spark)
        self.lake = Lake(ctx)

    def setup(self) -> None:
        entries = registry_entries()
        self.entries = {n: entries[n] for n in STREAM_ENTRIES}
        self.lake.build()

    def warm_up(self) -> None:
        """A one-file foreachBatch stream: starts the callback server and
        loads the streaming classes. Each entry's own plans stay cold."""
        src = os.path.join(self.ctx.data, "warmup_stream")
        os.makedirs(src, exist_ok=True)
        shutil.copy(os.path.join(self.ctx.data_clean, "region.parquet"), src)
        stream = self.spark.readStream.schema(self.spark.read.parquet(src).schema).parquet(src)
        (
            stream.writeStream.foreachBatch(lambda df, i: df.count())
            .option("checkpointLocation", os.path.join(self.ctx.work, "warmup_ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        self.progress.wait_idle()
        self.progress.take()

    def oracles(self) -> None:
        from retail_sales_etl_spark.plans import registry

        sql = registry.all_oracles()
        self.expect = {n: self.ctx.oracle.digest(sql[n]) for n in STREAM_ENTRIES}
        rng = random.Random(self.ctx.seed)
        self.order = list(STREAM_ENTRIES)
        rng.shuffle(self.order)
        self.reads = self.lake.pool(rng, STREAM_LAKE_RANGE_N, STREAM_LAKE_KEYS_N)
        self.read_expect = [self.lake.expect(kind, arg) for kind, arg in self.reads]

    def round(self, parity: int | None) -> None:
        for name in self.order:
            self.entry(list(STREAM_ENTRIES).index(name), name, parity)
        for i, (kind, arg) in enumerate(self.reads):
            key = len(STREAM_ENTRIES) + i
            got = self.timed(parity, key, f"query.{kind}", lambda tr: self.lake.read(kind, arg))
            self.ctx.trace(False)
            if got is None:
                continue
            rows, cols = got["out"]
            if (sorted(cols), spark_digest(rows, cols)) != self.read_expect[i]:
                self.fail(f"{kind} {arg}: result differs from its oracle")
                continue
            self.records.append({"key": key, "op": kind, "wall": got["wall"], "cpu": got["cpu"],
                                 "steal": got["steal"], "traced": got["traced"]})

    def entry(self, key: int, name: str, parity: int | None) -> None:
        tmp = self.ctx.tmp
        before = set(os.listdir(tmp))
        self.progress.take()

        got = self.timed(parity, key, f"streaming.entry.{name}",
                         lambda tr: self.build_and_collect(tr, self.entries[name]))
        self.ctx.trace(False)
        if not self.progress.wait_idle():
            print(f"perfbench: {name}: progress events still pending", flush=True)
        batches = self.progress.take()
        if got is None:
            return
        rows, cols = got["out"]
        if (sorted(cols), spark_digest(rows, cols)) != self.expect[name]:
            self.fail(f"{name}: result differs from its oracle")
            return
        new = sorted(set(os.listdir(tmp)) - before)
        self.records.append({
            "key": key, "op": name, "wall": got["wall"], "cpu": got["cpu"],
            "steal": got["steal"], "batches": batches, "traced": got["traced"],
            "span": got["root"].sid if got["root"] else None,
            "work_dirs": len(new),
            "work_bytes": sum(dir_bytes(os.path.join(tmp, d)) for d in new),
            "input_bytes": os.path.getsize(
                os.path.join(self.ctx.data_clean, f"{STREAM_ENTRIES[name][1]}.parquet")
            ),
        })

    def summary(self) -> dict:
        untraced = [r for r in self.records if not r["traced"]]
        rs = [r for r in untraced if "batches" in r]
        walls = [r["wall"] for r in rs]
        trig = [b["ms"].get("triggerExecution", 0) / 1000.0 for r in rs for b in r["batches"]]
        rows = sum(b["rows"] for r in rs for b in r["batches"])
        return {
            "stream.rows_per_s": rows / sum(walls) if walls else None,
            "stream.entry_p50_s": median(walls),
            "stream.batch_p50_s": median(trig),
            "stream.batch_tail_s": tail(trig),
            "stream.entry_mean_s": sum(walls) / len(walls) if walls else None,
            "stream.entry_unstolen_s": statistics.mean(r["wall"] * (1 - r["steal"]) for r in rs)
            if rs else None,
            "stream.batch_mean_s": sum(trig) / len(trig) if trig else None,
            "stream.entries": len(rs),
            "stream.cpu_per_op_s": statistics.mean(r["cpu"] for r in rs) if rs else None,
            "stream.batches": len(trig),
            "stream.entries_per_min": len(rs) * 60.0 / sum(walls) if walls else None,
            **lake_summary(untraced),
        }

    def generic(self) -> dict:
        s = self.summary()
        return {"main_s": s["stream.entry_unstolen_s"], "cpu_per_op_s": s["stream.cpu_per_op_s"]}


# ---------------------------------------------------------------- query_mix


class QueryMix(Workload):
    """Read side: oracle-backed registry entries plus the lake's range
    and key reads. Each round issues every pool member once, in a seeded
    order."""

    name = "query_mix"
    setup_reps = 1  # the lake build

    def __init__(self, ctx):
        super().__init__(ctx)
        self.lake = Lake(ctx)

    def setup(self) -> None:
        self.lake.build()

    def oracles(self) -> None:
        from retail_sales_etl_spark.plans import registry

        rng = random.Random(self.ctx.seed)
        sql = registry.all_oracles()
        entries = registry_entries()
        self.entries = {a: entries[a] for a in ANALYTIC}
        self.pool = [("analytic", a) for a in ANALYTIC]
        self.pool += self.lake.pool(rng, LAKE_RANGE_N, LAKE_KEYS_N)
        self.expect = [
            self.ctx.oracle.digest(sql[arg]) if kind == "analytic" else self.lake.expect(kind, arg)
            for kind, arg in self.pool
        ]
        self.rng = rng

    def order(self) -> list[int]:
        """The next round: every pool member's key once, in a seeded order."""
        keys = list(range(len(self.pool)))
        self.rng.shuffle(keys)
        return keys

    def request(self, kind: str, arg, tr=None):
        if kind == "analytic":
            return self.build_and_collect(tr, self.entries[arg])
        return self.lake.read(kind, arg)

    def round(self, parity: int | None) -> None:
        for key in self.order():
            kind, arg = self.pool[key]
            got = self.timed(parity, key, f"query.{kind}", lambda tr: self.request(kind, arg, tr))
            if got is None:
                continue
            rows, cols = got["out"]
            if (sorted(cols), spark_digest(rows, cols)) != self.expect[key]:
                self.fail(f"{kind} {arg}: result differs from its oracle")
                continue
            self.records.append({"key": key, "op": kind, "wall": got["wall"], "cpu": got["cpu"],
                                 "steal": got["steal"], "rows": len(rows), "traced": got["traced"]})
        self.ctx.trace(False)

    def summary(self) -> dict:
        rs = [r for r in self.records if not r["traced"]]
        analytic = [r["wall"] for r in rs if r["op"] == "analytic"]
        total = sum(r["wall"] for r in rs)
        return {
            "query.per_min": len(rs) * 60.0 / total if total else None,
            "query.analytic_p50_s": median(analytic),
            "query.analytic_mean_s": statistics.mean(analytic) if analytic else None,
            "query.analytic_unstolen_s": statistics.mean(
                r["wall"] * (1 - r["steal"]) for r in rs if r["op"] == "analytic")
            if analytic else None,
            "query.analytic_tail_s": tail(analytic),
            **lake_summary(rs),
            "query.requests": len(rs),
            "query.cpu_per_op_s": statistics.mean(r["cpu"] for r in rs) if rs else None,
            "query.rows_per_s": sum(r["rows"] for r in rs) / total if total else None,
        }

    def generic(self) -> dict:
        s = self.summary()
        return {"main_s": s["query.analytic_unstolen_s"], "cpu_per_op_s": s["query.cpu_per_op_s"]}


WORKLOADS = {w.name: w for w in (EtlBatch, StreamIngest, QueryMix)}
