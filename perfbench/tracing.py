"""Span tracer for the traced benchmark run.

Spans are recorded from the benchmark's own files: :meth:`Tracer.instrument`
rebinds the package's layer entry points — in every module namespace that
holds them, since callers look them up by name there — to wrappers that
open a span, and :meth:`Tracer.restore` puts the originals back.  Nothing
inside the package changes.

Each span keeps its name, layer, start, end, parent and operation id in
memory; :meth:`Tracer.dump` writes them once at the end.  Spark job,
stage and task counts come from ``statusTracker()``: a span records the
job-id high-water mark when it opens and closes, so jobs started on the
package's thread pools land in the span that caused them.  A span that
overlapped a non-ancestor span on another thread (M1 next to U1, the
three staging appends) keeps its time but no counts.  Two listeners are
registered while the tracer is installed: a ``StreamingQueryListener``
for micro-batch progress and a ``QueryExecutionListener`` for the
Catalyst phase time of every query execution that actually ran.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

PKG = "aquiles_etl_pipeline_spark"

# (module, function name, layer, span name)
FUNCTIONS = (
    (f"{PKG}.ledger", "already_processed", "ledger", "already_processed"),
    (f"{PKG}.ledger", "mark_in_progress", "ledger", "mark_in_progress"),
    (f"{PKG}.ledger", "mark_success", "ledger", "mark_success"),
    (f"{PKG}.ledger", "mark_failed", "ledger", "mark_failed"),
    (f"{PKG}.pipeline.canonicalize", "map_columns_to_apply_transformations", "pipeline", "canonicalize"),
    (f"{PKG}.pipeline.transforms", "apply_transformations", "pipeline", "transform"),
    (f"{PKG}.staging.split", "load_data_to_staging_tables", "staging", "staging"),
    (f"{PKG}.merge.upserts", "merge_staging_to_fact_tables", "merge", "merge"),
    (f"{PKG}.merge.upserts", "merge_providers", "merge", "m1"),
    (f"{PKG}.merge.upserts", "ensure_units_of_measure", "merge", "u1"),
    (f"{PKG}.merge.upserts", "prepare_product_source", "merge", "m2"),
    (f"{PKG}.merge.upserts", "plan_product_merge", "merge", "m2"),
    (f"{PKG}.merge.upserts", "commit_product_merge", "merge", "m2"),
    (f"{PKG}.merge.upserts", "merge_provider_products", "merge", "m3"),
)
WAREHOUSE_METHODS = ("read", "append", "overwrite", "replace_partitions", "delete_partition")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    op: int | None
    parent: int | None
    thread: int
    start: float
    end: float = 0.0
    overlapped: bool = False
    job_lo: int | None = None
    job_hi: int | None = None
    jobs: int | None = None
    stages: int | None = None
    tasks: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self._status = spark.sparkContext.statusTracker()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._open: dict[int, Span] = {}
        self._next_job = 0
        self._op: int | None = None
        self._op_root: Span | None = None
        self._restore: list[tuple[object, str, object]] = []
        self._listener = None
        self._qe_listener = None
        self.spans: list[Span] = []
        self.batches: list[dict] = []
        self.plan_s: list[float] = []  # per finished query execution
        self._plans_taken = 0
        self.bookkeeping_s = 0.0

    # -- job high-water mark ----------------------------------------------

    def _job_cursor(self) -> int:
        """Smallest job id not yet known to the status tracker."""
        while self._status.getJobInfo(self._next_job) is not None:
            self._next_job += 1
        return self._next_job

    # -- spans ----------------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _ancestors(self, span_id: int | None) -> set[int]:
        out = set()
        by_id = self._open
        while span_id is not None and span_id in by_id:
            out.add(span_id)
            span_id = by_id[span_id].parent
        return out

    def open(self, layer: str, name: str) -> Span:
        t0 = time.perf_counter()
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = getattr(self._local, "inherited", None) or self._op_root
        with self._lock:
            span = Span(len(self.spans), name, layer, self._op,
                        parent.id if parent else None, threading.get_ident(), 0.0)
            self.spans.append(span)
            anc = self._ancestors(span.parent)
            for other in self._open.values():
                if other.id not in anc:
                    other.overlapped = span.overlapped = True
            self._open[span.id] = span
            span.job_lo = self._job_cursor()
        stack.append(span)
        span.start = time.perf_counter()
        self._charge(span.start - t0)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack().pop()
        with self._lock:
            del self._open[span.id]
            span.job_hi = self._job_cursor()
        self._charge(time.perf_counter() - span.end)

    def _charge(self, seconds: float) -> None:
        with self._lock:
            self.bookkeeping_s += seconds

    @contextmanager
    def span(self, layer: str, name: str):
        s = self.open(layer, name)
        try:
            yield s
        finally:
            self.close(s)

    def begin_op(self, op_id: int, layer: str, name: str) -> Span:
        self._op = op_id
        root = self.open(layer, name)
        self._op_root = root
        return root

    def end_op(self, root: Span) -> None:
        self.close(root)
        self._op_root = None
        self._op = None

    # -- instrumentation ------------------------------------------------------

    def _wrap(self, fn, layer: str, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)

        return traced

    def _rebind(self, owner, attr: str, new) -> None:
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def instrument(self) -> None:
        """Rebind every layer entry point in every module that holds it."""
        mods = [m for n, m in sorted(sys.modules.items()) if n.startswith(PKG) and m is not None]
        for home, attr, layer, name in FUNCTIONS:
            orig = getattr(sys.modules[home], attr)
            traced = self._wrap(orig, layer, name)
            for mod in mods:
                if getattr(mod, attr, None) is orig:
                    self._rebind(mod, attr, traced)

        from aquiles_etl_pipeline_spark.merge.warehouse import Warehouse

        for meth in WAREHOUSE_METHODS:
            self._rebind(Warehouse, meth, self._wrap_warehouse(getattr(Warehouse, meth), meth))

        # pool threads inherit the submitting thread's span as parent
        submit = ThreadPoolExecutor.submit

        def traced_submit(pool, fn, /, *args, **kwargs):
            stack = self._stack()
            parent = stack[-1] if stack else getattr(self._local, "inherited", None)

            def run(*a, **k):
                self._local.inherited = parent
                try:
                    return fn(*a, **k)
                finally:
                    self._local.inherited = None

            return submit(pool, run, *args, **kwargs)

        self._rebind(ThreadPoolExecutor, "submit", traced_submit)
        self._listen()

    def _wrap_warehouse(self, meth, name: str):
        writes = name != "read"

        @functools.wraps(meth)
        def traced(wh, table, *args, **kwargs):
            t_ns = time.time_ns()
            with self.span("warehouse", name) as s:
                result = meth(wh, table, *args, **kwargs)
            if writes:
                t0 = time.perf_counter()
                s.attrs["bytes"] = _bytes_since(Path(wh.root) / table, t_ns)
                self._charge(time.perf_counter() - t0)
            return result

        return traced

    def _listen(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                d = p.durationMs
                tracer.batches.append({
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "add_batch_ms": d.get("addBatch", 0),
                    "commit_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
                    "trigger_ms": d.get("triggerExecution", 0),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Progress()
        self.spark.streams.addListener(self._listener)  # starts the py4j callback server

        class _Executions:
            """Catalyst phase time of every query execution that ran."""

            def onSuccess(self, func, qe, duration_ns):
                ms, it = 0, qe.tracker().phases().iterator()
                while it.hasNext():
                    ms += it.next()._2().durationMs()
                tracer.plan_s.append(ms / 1000)

            def onFailure(self, func, qe, exc):
                tracer.plan_s.append(0.0)

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        self._qe_listener = _Executions()
        self.spark._jsparkSession.listenerManager().register(self._qe_listener)

    def _drain(self) -> None:
        """Wait until Spark's listener bus (job status, stream progress,
        finished query executions) has delivered everything posted so far."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def take_plan_s(self) -> float:
        """Catalyst phase seconds (analysis, optimisation, planning) of the
        query executions that finished since the last call."""
        self._drain()
        new = self.plan_s[self._plans_taken:]
        self._plans_taken += len(new)
        return sum(new)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()
        if self._listener is not None:
            self._drain()
            self.spark.streams.removeListener(self._listener)
            self.spark._jsparkSession.listenerManager().unregister(self._qe_listener)
            self._listener = self._qe_listener = None

    # -- resolution and output ---------------------------------------------

    def resolve_counts(self) -> None:
        """Fill jobs/stages/tasks for sequential spans (called after the
        measured work)."""
        self._drain()
        cache: dict[int, tuple[int, int]] = {}

        def job_cost(jid: int) -> tuple[int, int]:
            if jid not in cache:
                info = self._status.getJobInfo(jid)
                stages = tasks = 0
                for sid in info.stageIds if info else ():
                    st = self._status.getStageInfo(sid)
                    if st is not None and st.numCompletedTasks > 0:
                        stages += 1
                        tasks += st.numCompletedTasks
                cache[jid] = (stages, tasks)
            return cache[jid]

        for s in self.spans:
            if s.overlapped:
                continue
            ids = range(s.job_lo, s.job_hi)
            s.jobs = len(ids)
            s.stages = sum(job_cost(j)[0] for j in ids)
            s.tasks = sum(job_cost(j)[1] for j in ids)

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it covered by direct children."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == span.id)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            s, e = max(s, span.start), min(e, span.end)
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.dur - covered

    def dump(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        t0 = min((s.start for s in self.spans), default=0.0)
        rows, by_layer = [], {}
        for s in self.spans:
            d = asdict(s)
            d["start"], d["end"] = s.start - t0, s.end - t0
            d["self_s"] = self.self_time(s)
            by_layer[s.layer] = by_layer.get(s.layer, 0.0) + d["self_s"]
            rows.append(d)
        path.write_text(json.dumps({**extra, "self_s_by_layer": by_layer, "spans": rows,
                                    "batches": self.batches}, indent=0))


def _bytes_since(root: Path, t_ns: int) -> int:
    """Bytes of the files under ``root`` written since ``t_ns`` (files
    carried forward by hardlink keep their old mtime)."""
    total = 0
    for p in root.rglob("*"):
        try:
            st = p.stat()
        except FileNotFoundError:  # retention may delete old generations meanwhile
            continue
        if p.is_file() and st.st_mtime_ns >= t_ns:
            total += st.st_size
    return total
