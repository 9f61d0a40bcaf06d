"""The benchmark's workloads.

Each workload is ``setup(run)`` (the warm-ups a long-lived process would
already have paid, timed with the session start as ``setup_s``),
``measure(run)`` (the timed operations only) and ``finish(run, out)``
(the output checks and, in a traced run, untraced extras; it runs after
the tracer is removed).  Operations call the package's public entry
points only; in a traced run the same calls are wrapped in spans.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field

import gen
import oracle

CONTAINER = "products"
# Stratified sample of the catalog: one query from each of ROADMAP item 3's
# family groups, drawn once with random.Random(0).  A query belongs to the
# first group whose tags it carries, in the order streaming, graph, sketch,
# ops-advisor, warehouse (warehouse/merge/etl/scd/cdc), similarity (dedup/
# similarity/embeddings), text (text/llmdata/documents), stats (stats/
# experimentation/ml-stats), timeseries (events/timeseries), relational
# (the rest).  The streaming group holds the 17 queries that drain a
# Structured Streaming query; q30-q32 run the same window functions in
# batch mode and count as timeseries.  q118-q120 were left out of the draw:
# they need per-session layout pre-builds.  The draw's streaming query,
# q313, was replaced by q126 (a stream-static join drain): q313 alone took
# 8-13 s, a fifth of a run.  Ten queries keep a run near a minute on a
# 4-core machine.
CATALOG_SAMPLE = (
    "q06_rollup_region_nation",
    "q126_stream_static_enrichment",
    "q189_incremental_mv",
    "q266_seasonal_decompose",
    "q271_alignment_uniformity",
    "q303_power_analysis",
    "q320_loo_source_influence",
    "q332_absorbing_markov_conversion",
    "q368_hll_register_union",
    "q380_repeated_order_audit",
)
CATALOG_SF = 0.1  # bench.py's scale
COUNT_RULE = {"q14", "q15", "q16", "q18", "q24"}  # bench.py counts these instead of collecting


@dataclass
class Op:
    kind: str
    name: str
    seconds: float
    ok: bool = True
    note: str = ""


@dataclass
class Outcome:
    ops: list[Op] = field(default_factory=list)
    wall_s: float = 0.0
    detail: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops)


def _warehouse(run, name: str):
    from aquiles_etl_pipeline_spark.merge import Warehouse, bootstrap

    wh = Warehouse(run.spark, run.work / name)
    bootstrap(wh)
    return wh


def _deliver(run, wh, d: gen.Delivery):
    from aquiles_etl_pipeline_spark.sources import orchestrator

    return orchestrator.process_csv_file(run.spark, wh, CONTAINER, d.name, csv_text=d.text)


# --------------------------------------------------------------------------
# etl_files: the reference's own traffic, one closed-loop client


class EtlFiles:
    name = "etl_files"
    params = gen.PriceListParams()
    FILE_SECONDS = 10  # about one fresh file's latency on a 4-core machine

    def setup(self, run) -> None:
        # Bootstrap the warehouse, then one small file through the whole
        # ledgered path into it: JIT, the pandas UDF workers and the first
        # parquet writes are paid here, once.  The checks count that file.
        self.wh = _warehouse(run, "wh")
        self.warm = gen.price_lists(run.seed + 1_000_003, 1, gen.PriceListParams(rows_per_file=40))[0]
        res = _deliver(run, self.wh, self.warm)
        if not res.success:
            raise RuntimeError(f"warm-up file failed: {res.message}")

    def measure(self, run) -> Outcome:
        out = Outcome()
        wh = self.wh
        stream = gen.deliveries(run.seed, self.params)
        self.done = done = []
        # Fixed work sized by --seconds: one fresh file per started
        # FILE_SECONDS, plus the re-deliveries between them (at least the
        # one after the first file).  A deadline-driven loop would flip
        # between two and three files as the machine's speed drifts.
        n_fresh = max(1, math.ceil(run.seconds / self.FILE_SECONDS))
        t0 = time.perf_counter()
        while sum(not d.redelivery for d, _ in done) < n_fresh or len(done) < 2:
            d = next(stream)
            with run.op("sources", "deliver") as timer:
                res = _deliver(run, wh, d)
            done.append((d, res))
            out.ops.append(Op("redelivery" if d.redelivery else "file", d.name, timer.seconds))
        out.wall_s = time.perf_counter() - t0
        return out

    def finish(self, run, out: Outcome) -> None:
        wh, done = self.wh, self.done
        self._check(wh, done, out)
        fresh = [d for d, _ in done if not d.redelivery]
        in_bytes = sum(len(d.text.encode()) for d in [self.warm, *fresh])
        out.layer["warehouse.stored_bytes_per_input_byte"] = _disk_bytes(wh.root) / in_bytes
        if run.tracer is not None:
            out.layer["pipeline.rows_per_s"] = self._pipeline_rows_per_s(run)
        out.detail = {
            "fresh_files": len(fresh),
            "redeliveries": len(done) - len(fresh),
            "redelivery_share": (len(done) - len(fresh)) / len(done),
            "rows_per_file": self.params.rows_per_file,
        }

    def _check(self, wh, done, out: Outcome) -> None:
        from aquiles_etl_pipeline_spark.merge.schemas import FILE_STATUS_SUCCESS

        star = oracle.StarOracle()
        star.add_file(self.warm.text)
        for (d, res), op in zip(done, out.ops):
            if d.redelivery:
                if not (res.success and res.skipped):
                    op.ok, op.note = False, f"re-delivery not skipped: {res.message}"
                continue
            if not res.success or res.skipped:
                op.ok, op.note = False, res.message
            star.add_file(d.text)
        statuses = oracle.ledger_statuses(wh)
        for (d, _), op in zip(done, out.ops):
            if statuses.get(d.name) != FILE_STATUS_SUCCESS:
                op.ok, op.note = False, f"ledger status {statuses.get(d.name)}"
        if statuses.get(self.warm.name) != FILE_STATUS_SUCCESS:
            out.ops[0].ok, out.ops[0].note = False, "warm-up file's ledger status"
        got, want = oracle.star_readback(wh), star.rows()
        if got != want:
            # the star is one shared result: a mismatch fails every file
            for op in out.ops:
                if op.kind == "file":
                    op.ok, op.note = False, "star readback mismatch"
            out.detail["star_diff"] = oracle.diff_summary(got, want)
        if len(statuses) != 1 + sum(1 for d, _ in done if not d.redelivery):
            out.ops[-1].ok, out.ops[-1].note = False, f"{len(statuses)} ledger rows"

    def _pipeline_rows_per_s(self, run) -> float:
        """The public transform chain alone (exact mode) over bulk-sized
        input, into a noop sink."""
        from aquiles_etl_pipeline_spark.pipeline import (
            apply_transformations,
            map_columns_to_apply_transformations,
        )
        from aquiles_etl_pipeline_spark.streaming.ingest import STANDARD_CSV_SCHEMA

        src = run.work / "pipeline_input"
        src.mkdir()
        files = gen.price_lists(run.seed, 4, gen.PriceListParams(rows_per_file=10_000, bulk=True,
                                                                 redelivery_share=0))
        for d in files:
            (src / d.name).write_text(d.text)
        rows = sum(d.rows for d in files)
        raw = run.spark.read.schema(STANDARD_CSV_SCHEMA).option("header", True).csv(str(src))
        chain = apply_transformations(map_columns_to_apply_transformations(raw), mode="exact")
        t0 = time.perf_counter()
        chain.write.format("noop").mode("overwrite").save()
        return rows / (time.perf_counter() - t0)


def _disk_bytes(root) -> int:
    """On-disk bytes under ``root``, each hardlinked file counted once."""
    seen, total = set(), 0
    for p in root.rglob("*"):
        if p.is_file():
            st = p.stat()
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_size
    return total


# --------------------------------------------------------------------------
# catalog_mix: read-only analytics over a seeded dataset


class CatalogMix:
    name = "catalog_mix"

    def prepare(self, run) -> None:
        """Write the seeded dataset (in a child process, so its memory
        stays out of the driver's memory figures)."""
        import subprocess
        import sys

        self.data = run.work / "data"
        subprocess.run(
            [sys.executable, str(run.bench_dir / "gen.py"), "--seed", str(run.seed),
             "--sf", str(CATALOG_SF), "--out", str(self.data)],
            check=True,
        )

    def setup(self, run) -> None:
        import bench
        from aquiles_etl_pipeline_spark.relational import registry

        # bench.py's warm-ups: one JIT query, then the streaming-state boot
        first = next(iter(registry().values()))
        first.fn(run.spark, str(self.data)).limit(1).collect()
        bench._warm_streaming_state(run.spark)

    def measure(self, run) -> Outcome:
        import bench
        from aquiles_etl_pipeline_spark.relational import registry

        specs = registry()
        data = str(self.data)
        out = Outcome()
        self.results = results = []
        t0 = time.perf_counter()
        for name in CATALOG_SAMPLE:
            spec = specs[name]
            bench._drop_result_memo(name)  # every timed run is a real run
            try:
                with run.op("relational", "query") as timer:
                    with run.span("relational", "build"):
                        df = spec.fn(run.spark, data)
                    with run.span("relational", "exec"):
                        # bench.py's action rule
                        count_rule = len(df.columns) <= 2 or name.split("_")[0] in COUNT_RULE
                        got = df.count() if count_rule else df.collect()
            except Exception as exc:  # noqa: BLE001 — a failed query is a failed operation
                out.ops.append(Op("query", name, timer.seconds, False, f"{type(exc).__name__}: {exc}"))
                continue
            finally:
                if run.tracer is not None:
                    run.record_plan()
            out.ops.append(Op("query", name, timer.seconds))
            results.append((spec, df, count_rule, got, out.ops[-1]))
        out.wall_s = time.perf_counter() - t0
        return out

    def finish(self, run, out: Outcome) -> None:
        self._check(self.results, out)
        out.detail = {"queries": len(CATALOG_SAMPLE), "sf": CATALOG_SF}

    def _check(self, results, out: Outcome) -> None:
        import bench
        import pandas as pd

        check = oracle.CatalogOracle(str(self.data))
        try:
            for spec, df, count_rule, got, op in results:
                try:
                    if count_rule:
                        pdf = df.toPandas()
                        bench._drop_result_memo(spec.name)
                        if len(pdf) != got:
                            op.ok, op.note = False, f"count {got} != {len(pdf)} rows"
                            continue
                    else:
                        pdf = pd.DataFrame.from_records([tuple(r) for r in got], columns=df.columns)
                    reason = check.check(spec.sql, pdf)
                except Exception as exc:  # noqa: BLE001 — any failure is a failed query
                    reason = f"{type(exc).__name__}: {exc}"
                if reason:
                    op.ok, op.note = False, reason
        finally:
            check.close()


WORKLOADS = {w.name: w for w in (EtlFiles, CatalogMix)}
