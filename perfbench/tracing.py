"""Spans around the engine's public calls, recorded from outside.

``Tracer.install`` replaces module attributes (and methods of
``LakehouseTable`` and ``ControlLog``) with wrappers that record one
span per call: name, start, end, parent span, request id and the number
of Spark jobs the DAG scheduler started during the call. Spans stay in
memory until ``Tracer.dump`` writes them out. Only the traced run
installs the wrappers; untraced runs call the engine untouched.

``foreachBatch`` sinks run on Spark's stream thread, so a span opened on
a thread with no open span takes as parent the client's innermost open
span of the current request (the call the client is blocked in), never
from a thread-local stack alone.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import threading
import time
from dataclasses import dataclass, field

PKG = "retail_sales_etl_spark"

# (module under the package, function names, span name)
FUNCTIONS = [
    ("sources.readers", ["run_extract"], "sources.run_extract"),
    ("operators.cleaning", ["run_cleaning"], "cleaning.run_cleaning"),
    (
        "operators.modeling",
        ["build_customer_dim", "build_supplier_dim", "build_part_dim",
         "build_sales_fact", "build_date_dim"],
        "modeling.build",
    ),
    ("operators.modeling", ["validate_integrity"], "modeling.validate_integrity"),
    ("load.writers", ["run_load"], "writers.run_load"),
    ("pipeline", ["run_pipeline"], "pipeline.run_pipeline"),
    ("catalog", ["load_table"], "catalog.load_table"),
]

# The LakehouseTable methods the listed workloads call.
LAKE_COMMITS = ["write", "merge", "optimize"]
LAKE_LOG = ["latest_version", "latest_value", "history"]
LAKE_READS = ["read", "read_where", "read_where_in", "prune_files"]

CONTROL_METHODS = [
    "insert_run", "update_run", "insert_stage", "update_stage",
    "register_pipeline", "register_table", "update_watermark", "get_pipeline",
    "list_active_pipelines", "set_pipeline_active", "deactivate_pipeline",
    "activate_pipeline", "get_table", "list_active_tables_for_source",
    "set_table_active", "map_table_to_pipeline", "list_tables_for_pipeline",
    "bootstrap_metadata", "runs", "stages", "latest_watermark",
]


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    request: int | None
    jobs0: int
    end: float = 0.0
    jobs: int = 0
    error: str | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, job_count, sinks):
        """``job_count()`` returns the Spark jobs started so far; ``sinks``
        names the ``streaming.events`` sink functions to wrap."""
        self._job_count = job_count
        self._sinks = list(sinks)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self.spans: list[Span] = []
        self.request: int | None = None
        self.request_span: int | None = None
        self._client_stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> Span:
        st = self._stack()
        with self._lock:
            self._next += 1
            sid = self._next
        if st:
            parent = st[-1]
        else:  # a thread the client is waiting on, e.g. Spark's stream thread
            client = self._client_stack
            parent = client[-1] if client else self.request_span
        sp = Span(sid, name, time.perf_counter(), parent, self.request, self._job_count())
        st.append(sid)
        return sp

    def close(self, sp: Span, error: BaseException | None = None) -> None:
        sp.end = time.perf_counter()
        sp.jobs = self._job_count() - sp.jobs0
        if error is not None:
            sp.error = type(error).__name__
        self._stack().pop()
        with self._lock:
            self.spans.append(sp)

    @contextlib.contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        except BaseException as err:
            self.close(sp, err)
            raise
        self.close(sp)

    def begin_request(self, rid: int, name: str) -> Span:
        """Open the root span of client request ``rid``."""
        self.request = rid
        sp = self.open(name)
        self.request_span = sp.sid
        self._client_stack = self._stack()
        return sp

    def end_request(self, sp: Span, error: BaseException | None = None) -> None:
        self.close(sp, error)
        self.request = None
        self.request_span = None

    def wrap(self, fn, name: str, on_result=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = tracer.open(name)
            try:
                out = fn(*args, **kwargs)
            except BaseException as err:
                tracer.close(sp, err)
                raise
            if on_result is not None:
                on_result(sp, out)
            tracer.close(sp)
            return out

        return traced

    def _replace_everywhere(self, orig, wrapped) -> None:
        """Point every package module attribute bound to ``orig`` at
        ``wrapped`` (modules that did ``from x import fn`` hold their own
        reference)."""
        for mname, mod in list(sys.modules.items()):
            if not mname.startswith(PKG) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    self._restore.append((mod, attr, orig))
                    setattr(mod, attr, wrapped)

    def install(self) -> None:
        import importlib

        from retail_sales_etl_spark.control.runlog import ControlLog
        from retail_sales_etl_spark.load.lakehouse import LakehouseTable

        for modname, fns, span_name in FUNCTIONS:
            mod = importlib.import_module(f"{PKG}.{modname}")
            for fn in fns:
                orig = getattr(mod, fn)
                self._replace_everywhere(orig, self.wrap(orig, span_name))
        ev = importlib.import_module(f"{PKG}.streaming.events")
        for sink in self._sinks:
            orig = getattr(ev, sink)
            self._replace_everywhere(orig, self.wrap(orig, f"streaming.{sink}"))

        def pruned(sp, out):  # (kept files, live count, ...) of a prune
            sp.attrs.update(kept=len(out[0]), live=out[1])

        # read_where_in prunes through the private _prune_files_in, so it
        # is hooked too, for the prune counts only.
        for m in LAKE_COMMITS + LAKE_LOG + LAKE_READS + ["_prune_files_in"]:
            orig = getattr(LakehouseTable, m)
            hook = pruned if "prune_files" in m else None
            self._restore.append((LakehouseTable, m, orig))
            setattr(LakehouseTable, m, self.wrap(orig, f"lakehouse.{m}", hook))
        for m in CONTROL_METHODS:
            orig = getattr(ControlLog, m)
            self._restore.append((ControlLog, m, orig))
            setattr(ControlLog, m, self.wrap(orig, f"control.{m}"))

    @property
    def installed(self) -> bool:
        return bool(self._restore)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    # ------------------------------------------------------------ analysis

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append((s.start, s.end))
        out = {}
        for s in self.spans:
            covered = 0.0
            cur_lo = cur_hi = None
            for lo, hi in sorted(kids.get(s.sid, [])):
                lo, hi = max(lo, s.start), min(hi, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.sid] = max(0.0, (s.end - s.start) - covered)
        return out

    def dump(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps({
                    "id": s.sid, "name": s.name, "parent": s.parent,
                    "request": s.request, "start": round(s.start - t0, 6),
                    "end": round(s.end - t0, 6), "jobs": s.jobs,
                    "error": s.error, **s.attrs,
                }) + "\n")


class ProgressLog:
    """Collects ``StreamingQueryListener`` progress events.

    The listener bus is asynchronous: ``wait_idle`` blocks until every
    query that started has delivered its terminated event, which the
    bus posts after the query's last progress event. (``onQueryStarted``
    runs synchronously inside ``start()``, so ``started`` is exact.)"""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.batches: list[dict] = []
        self.started = 0
        self.terminated = 0
        self._cv = threading.Condition()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                with log._cv:
                    log.started += 1

            def onQueryProgress(self, event):
                p = event.progress
                with log._cv:
                    log.batches.append({
                        "batch": p.batchId,
                        "rows": p.numInputRows,
                        "ms": dict(p.durationMs),
                    })

            def onQueryTerminated(self, event):
                with log._cv:
                    log.terminated += 1
                    log._cv.notify_all()

        self._listener = _Listener()  # keep the callback object alive
        spark.streams.addListener(self._listener)

    def wait_idle(self, timeout: float = 10.0) -> bool:
        deadline = time.monotonic() + timeout
        with self._cv:
            while self.terminated < self.started:
                left = deadline - time.monotonic()
                if left <= 0:
                    return False
                self._cv.wait(left)
        return True

    def take(self) -> list[dict]:
        with self._cv:
            out, self.batches = self.batches, []
        return out
