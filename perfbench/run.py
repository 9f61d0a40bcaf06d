"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_files --seed 1 --seconds 15 --trace 0

Runs one workload against the package in this checkout and prints, as the
last line of stdout, ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (a separate, instrumented run; see tracing.py).  The line
before it carries the workload's own figures under their descriptive
names.  Everything the run writes lives under ``.perfbench/`` in the
checkout; the scratch part is removed at exit, traces are kept in
``.perfbench/traces/``.

Environment (defaults in brackets): ``SPARK_GRAFT_CPUS`` [nproc],
``SPARK_DRIVER_MEMORY`` [4g].  ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the
JVM's temp dir always point inside the run's scratch directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
PKG = "aquiles_etl_pipeline_spark"

END_TO_END = {
    "setup_s": "s",
    "op_geomean_s": "s",
    "ops_per_min": "1/min",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.self_s": "s",
    "ledger.calls": "count",
    "ledger.s": "s",
    "ledger.jobs": "count",
    "pipeline.rows_per_s": "1/s",
    "staging.s": "s",
    "staging.jobs": "count",
    "merge.s": "s",
    "merge.jobs": "count",
    "merge.m1_s": "s",
    "merge.u1_s": "s",
    "merge.m2_s": "s",
    "merge.m3_s": "s",
    "warehouse.reads": "count",
    "warehouse.writes": "count",
    "warehouse.write_s": "s",
    "warehouse.bytes_written": "bytes",
    "warehouse.stored_bytes_per_input_byte": "ratio",
    "streaming.batches": "count",
    "streaming.add_batch_s": "s",
    "streaming.commit_s": "s",
    "relational.build_s": "s",
    "relational.plan_s": "s",
    "relational.exec_s": "s",
    "relational.build_jobs": "count",
    "relational.exec_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "trace.op_geomean_s": "s",
    "trace.bookkeeping_s": "s",
}


class _Timer:
    def __init__(self, run, layer: str, name: str) -> None:
        self.run, self.layer, self.name = run, layer, name
        self.seconds = 0.0
        self.root = None

    def __enter__(self):
        self.t0 = time.perf_counter()
        if self.run.tracer is not None:
            self.run.n_ops += 1
            self.root = self.run.tracer.begin_op(self.run.n_ops, self.layer, self.name)
        return self

    def __exit__(self, *exc):
        if self.root is not None:
            self.run.tracer.end_op(self.root)
            self.run.last_root = self.root
        self.seconds = time.perf_counter() - self.t0
        return False


class Run:
    """What a workload sees: the session, its seed and time budget, a
    scratch directory, and (in a traced run) the tracer."""

    def __init__(self, seed: int, seconds: int, work: Path) -> None:
        self.seed, self.seconds, self.work = seed, seconds, work
        self.bench_dir = BENCH_DIR
        self.spark = None
        self.tracer = None
        self.n_ops = 0
        self.last_root = None

    def op(self, layer: str, name: str) -> _Timer:
        return _Timer(self, layer, name)

    def span(self, layer: str, name: str):
        return self.tracer.span(layer, name) if self.tracer is not None else nullcontext()

    def record_plan(self) -> None:
        """Catalyst phase time of the query executions the last operation
        ran (its construction-time jobs and its action, as reported by a
        query execution listener), on its root span."""
        self.last_root.attrs["plan_s"] = self.tracer.take_plan_s()


def _environment(work: Path) -> None:
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _spark_conf(work: Path, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # keep every job's status for the end-of-run count resolution
        conf["spark.ui.retainedJobs"] = "1000000"
        conf["spark.ui.retainedStages"] = "1000000"
    return conf


def _stop(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _memory_mb(spark) -> dict[str, float]:
    """Driver memory when the workload ends, for the detail line: the
    JVM's peak resident set, its heap in use after a full collection
    (cached and pinned frames live there) and the Python driver's
    resident set."""
    jvm = spark._jvm.java.lang

    def status_kb(pid, key: str) -> int:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith(key):
                return int(line.split()[1])
        return 0

    jvm.System.gc()
    rt = jvm.Runtime.getRuntime()
    return {
        "jvm_peak_rss_mb": status_kb(jvm.ProcessHandle.current().pid(), "VmHWM:") / 1024,
        "jvm_heap_after_gc_mb": (rt.totalMemory() - rt.freeMemory()) / 2**20,
        "python_rss_mb": status_kb("self", "VmRSS:") / 1024,
    }


def _latencies(out) -> list[float]:
    return sorted(o.seconds for o in out.ops if o.kind != "redelivery")


def _end_to_end(out, setup_s: float) -> dict[str, float]:
    # The geometric mean, not a percentile: the operations of a run are
    # few and unlike (ten different queries, or two files), so a median is
    # the latency of the one or two operations in the middle and moves with
    # their noise alone, while every operation's relative change moves the
    # geometric mean equally.  The median is on the detail line.
    return {
        "setup_s": setup_s,
        "op_geomean_s": statistics.geometric_mean(_latencies(out)),
        "ops_per_min": 60 * len(out.ops) / out.wall_s,
    }


def _per_layer(run, out, session: dict[str, float]) -> dict[str, float]:
    """Per-layer figures from the traced run, as means per operation."""
    tr = run.tracer
    tr.resolve_counts()
    n = max(1, len(out.ops))

    def pick(layer: str, name: str | None = None) -> list:
        return [s for s in tr.spans if s.layer == layer and name in (None, s.name)]

    def mean(spans, value=lambda s: s.dur) -> float:
        return sum(value(s) or 0 for s in spans) / n

    jobs = lambda s: s.jobs
    roots = [s for s in tr.spans if s.parent is None]
    writes = [s for s in pick("warehouse") if s.name != "read"]
    return {
        "session.start_s": session["start_s"],
        "session.warmup_s": session["warmup_s"],
        "sources.self_s": mean([s for s in roots if s.layer == "sources"], tr.self_time),
        "ledger.calls": len(pick("ledger")) / n,
        "ledger.s": mean(pick("ledger")),
        "ledger.jobs": mean(pick("ledger"), jobs),
        "pipeline.rows_per_s": out.layer.get("pipeline.rows_per_s", 0.0),
        "staging.s": mean(pick("staging")),
        "staging.jobs": mean(pick("staging"), jobs),
        "merge.s": mean(pick("merge", "merge")),
        "merge.jobs": mean(pick("merge", "merge"), jobs),
        "merge.m1_s": mean(pick("merge", "m1")),
        "merge.u1_s": mean(pick("merge", "u1")),
        "merge.m2_s": mean(pick("merge", "m2")),
        "merge.m3_s": mean(pick("merge", "m3")),
        "warehouse.reads": len(pick("warehouse", "read")) / n,
        "warehouse.writes": len(writes) / n,
        "warehouse.write_s": mean(writes),
        "warehouse.bytes_written": mean(writes, lambda s: s.attrs.get("bytes")),
        "warehouse.stored_bytes_per_input_byte": out.layer.get(
            "warehouse.stored_bytes_per_input_byte", 0.0),
        "streaming.batches": len(tr.batches) / n,
        "streaming.add_batch_s": sum(b["add_batch_ms"] for b in tr.batches) / 1000 / n,
        "streaming.commit_s": sum(b["commit_ms"] for b in tr.batches) / 1000 / n,
        "relational.build_s": mean(pick("relational", "build")),
        "relational.plan_s": mean(roots, lambda s: s.attrs.get("plan_s")),
        "relational.exec_s": mean(pick("relational", "exec")),
        "relational.build_jobs": mean(pick("relational", "build"), jobs),
        "relational.exec_jobs": mean(pick("relational", "exec"), jobs),
        "spark.jobs": mean(roots, jobs),
        "spark.stages": mean(roots, lambda s: s.stages),
        "spark.tasks": mean(roots, lambda s: s.tasks),
        "trace.op_geomean_s": statistics.geometric_mean(_latencies(out)),
        "trace.bookkeeping_s": tr.bookkeeping_s / n,
    }


def execute(wl, seed: int, seconds: int, trace: bool) -> dict:
    """Set up, measure and check one workload in a new session (one per
    process: package-level UDFs keep the first JVM's handles); returns the
    result object.  Raises if the workload cannot run at all."""
    work = ROOT / ".perfbench" / f"work-{os.getpid()}"
    _environment(work)
    run = Run(seed, seconds, work)
    try:
        if hasattr(wl, "prepare"):
            wl.prepare(run)
        t0 = time.perf_counter()
        from aquiles_etl_pipeline_spark.session import get_spark

        run.spark = get_spark(app_name="perfbench", extra_conf=_spark_conf(work, trace))
        run.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        wl.setup(run)
        t2 = time.perf_counter()
        session = {"start_s": t1 - t0, "warmup_s": t2 - t1}

        if trace:
            from tracing import Tracer

            run.tracer = Tracer(run.spark)
            run.tracer.instrument()
        try:
            out = wl.measure(run)
        finally:
            if run.tracer is not None:
                run.tracer.restore()
        # the output checks and any untraced extras run with the tracer gone
        wl.finish(run, out)
        memory = _memory_mb(run.spark)

        if trace:
            metrics = _per_layer(run, out, session)
            units = PER_LAYER
            run.tracer.dump(
                ROOT / ".perfbench" / "traces" / f"{wl.name}-seed{seed}.json",
                {"workload": wl.name, "seed": seed, "ops": [vars(o) for o in out.ops]},
            )
        else:
            metrics = _end_to_end(out, t2 - t0)
            units = END_TO_END
    finally:
        if run.spark is not None:
            _stop(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    failures = [f"{o.name}: {o.note}" for o in out.ops if not o.ok]
    print(json.dumps({"workload": wl.name, "seed": seed, "ops": len(out.ops),
                      "wall_s": out.wall_s, "op_total_s": sum(o.seconds for o in out.ops),
                      "op_s": [round(o.seconds, 3) for o in out.ops],
                      "op_p50_s": statistics.median(_latencies(out)), **memory,
                      **out.detail, "failures": failures[:5]}))
    return {
        "correct": out.failed == 0,
        "attempted": len(out.ops),
        "failed": out.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"run.py: the package {PKG}/ is not next to {BENCH_DIR.name}/", file=sys.stderr)
        return 2
    sys.path[:0] = [str(BENCH_DIR), str(ROOT)]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"run.py: unknown workload {args.workload!r} "
              f"(known: {sorted(workloads.WORKLOADS)})", file=sys.stderr)
        return 2
    try:
        result = execute(workloads.WORKLOADS[args.workload](), args.seed, args.seconds,
                         bool(args.trace))
    except Exception:  # noqa: BLE001 — report the crash, print no result
        traceback.print_exc()
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
