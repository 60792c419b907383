"""Operation runner and the traced run's per-layer metrics.

Each per-layer metric is taken per traced operation and reported as the
median over the traced operations of the run.  Layers a workload does not
exercise read 0.  ``_s`` metrics are wall time inside calls to the named
public function; for the lazy plan builders (merge, SCD2, shred, blob
versioning, occupancy) that is driver-side plan construction, and the
Spark jobs they describe run inside ``io.write_snapshot``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import defaultdict
from contextlib import nullcontext

from uma_etl_iis_loader_spark import io
from uma_etl_iis_loader_spark.operators import dedup, occupancy
from uma_etl_iis_loader_spark.plans import etl_job

from . import trace
from .workloads import dir_bytes

# (metric, unit, better) -- the traced run's output, in BENCHMARK.json order
PER_LAYER = [
    ("etl.run_etl_s", "s", "lower"),
    ("etl.sync_student_groups_s", "s", "lower"),
    ("etl.sync_employees_s", "s", "lower"),
    ("etl.sync_auditories_s", "s", "lower"),
    ("etl.sync_specialities_s", "s", "lower"),
    ("merge.merge_upsert_s", "s", "lower"),
    ("merge.merge_upsert_calls", "count", "lower"),
    ("scd2.scd2_apply_s", "s", "lower"),
    ("json_storage.version_blobs_s", "s", "lower"),
    ("shred.parse_schedule_json_s", "s", "lower"),
    ("shred.shred_schedule_docs_s", "s", "lower"),
    ("occupancy.rebuild_occupancy_s", "s", "lower"),
    ("occupancy.exploded_rows", "count", "lower"),
    ("occupancy.output_per_exploded_row", "ratio", "lower"),
    ("io.write_snapshot_s", "s", "lower"),
    ("io.write_snapshot.schedule_events_s", "s", "lower"),
    ("io.write_snapshot.occupancy_index_s", "s", "lower"),
    ("io.write_snapshot.dims_s", "s", "lower"),
    ("bytes.snapshot_written", "bytes", "lower"),
    ("io.written_per_payload_byte", "ratio", "lower"),
    ("dedup.exact_dedup_s", "s", "lower"),
    ("dedup.minhash_lsh_pairs_s", "s", "lower"),
    ("dedup.minhash_lsh_pairs_jobs", "count", "lower"),
    ("dedup.deduplicate_corpus_s", "s", "lower"),
    ("dedup.verified_pairs", "count", "higher"),
    ("dedup.pair_yield", "ratio", "higher"),
    ("python.data_sent_mb", "MB", "lower"),
    ("python.rows_returned", "count", "lower"),
    ("driver.no_job_s", "s", "lower"),
    ("catalyst.analysis_ms", "ms", "lower"),
    ("catalyst.optimization_ms", "ms", "lower"),
    ("catalyst.planning_ms", "ms", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.nonempty_task_ratio", "ratio", "higher"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("proc.cpu_s", "s", "lower"),
    ("proc.tree_rss_peak_mb", "MB", "lower"),
    ("rows.quarantined", "count", "higher"),
    ("rows.schedule_events", "count", "higher"),
    ("rows.scd2_closed", "count", "higher"),
    ("rows.scd2_opened", "count", "higher"),
    ("rows.occupancy_index", "count", "higher"),
    ("setup.session_s", "s", "lower"),
    ("setup.generate_s", "s", "lower"),
    ("setup.prepare_s", "s", "lower"),
    ("setup.warmup_s", "s", "lower"),
    ("setup.first_op_s", "s", "lower"),
    ("host.steal_pct", "%", "lower"),
    ("trace.op_p50_s", "s", "lower"),
    ("trace.untraced_op_p50_s", "s", "lower"),
    ("trace.overhead_pct", "%", "lower"),
]
UNITS = {name: unit for name, unit, _ in PER_LAYER}

# (module, attribute, span).  etl_job binds its operators at import, so
# they are wrapped in etl_job's namespace; the benchmark itself calls the
# occupancy, dedup and io attributes.
SPANS = [
    (etl_job, "run_etl", "etl.run_etl"),
    (etl_job, "sync_student_groups", "etl.sync_student_groups"),
    (etl_job, "sync_employees", "etl.sync_employees"),
    (etl_job, "sync_auditories", "etl.sync_auditories"),
    (etl_job, "sync_specialities", "etl.sync_specialities"),
    (etl_job, "merge_upsert", "merge.merge_upsert"),
    (etl_job, "scd2_apply", "scd2.scd2_apply"),
    (etl_job, "version_blobs", "json_storage.version_blobs"),
    (etl_job, "parse_schedule_json", "shred.parse_schedule_json"),
    (etl_job, "shred_schedule_docs", "shred.shred_schedule_docs"),
    (etl_job, "rebuild_occupancy", "occupancy.rebuild_occupancy"),
    (occupancy, "rebuild_occupancy", "occupancy.rebuild_occupancy"),
    (dedup, "exact_dedup", "dedup.exact_dedup"),
    (dedup, "minhash_lsh_pairs", "dedup.minhash_lsh_pairs"),
    (dedup, "deduplicate_corpus", "dedup.deduplicate_corpus"),
]
_FACT_TABLES = ("schedule_events", "occupancy_index")


class Runner:
    """Runs a workload's operations, each into a fresh directory, checks
    every output and keeps the timings.  With a ``spark`` session it can
    trace an operation (see :meth:`op`)."""

    def __init__(self, workload, work: str, spark=None):
        self.w, self.work = workload, work
        self.tracer = trace.Tracer(spark) if spark is not None else None
        self.index = 0
        self.extra: dict[int, dict] = {}
        self.windows: dict[int, tuple[float, float]] = {}
        self.reset()

    def reset(self) -> None:
        """Forget earlier operations (the warm-up) for the counts."""
        self.records: list[tuple[int, bool, float, bool]] = []
        self.errors: list[str] = []
        self.rss_peaks_mb: list[float] = []

    @property
    def attempted(self) -> int:
        return len(self.records)

    @property
    def failed(self) -> int:
        return sum(1 for *_, ok in self.records if not ok)

    def times(self, traced: bool) -> list[float]:
        return [t for _, tr, t, ok in self.records if tr == traced and ok]

    def overhead_ratios(self) -> list[float]:
        """Each traced operation's time over the mean of the untraced
        operations on either side of it.  Operations still get faster
        during a run, so comparing the two medians would credit the
        later, traced operations with the warming."""
        ratios = []
        ops = self.records
        for before, (_, traced, t, ok), after in zip(ops, ops[1:], ops[2:]):
            untraced_ok = [r[3] and not r[1] for r in (before, after)]
            if traced and ok and all(untraced_ok):
                ratios.append(t / ((before[2] + after[2]) / 2))
        return ratios

    def _install(self) -> None:
        tr = self.tracer
        for module, attr, name in SPANS:
            tr.wrap(module, attr, name)

        def write_hook(args, kwargs):
            phases = trace.catalyst_phases_ms(args[0])
            return {"table": os.path.basename(args[1]), **phases}

        tr.wrap(io, "write_snapshot", "io.write_snapshot", hook=write_hook)

    def op(self, traced: bool = False) -> tuple[float, bool]:
        """One operation; returns (wall seconds, passed).  Only the call
        into the workload's operation is timed, and only it counts for the
        driver's peak RSS, not its check."""
        idx = self.index
        self.index += 1
        outdir = os.path.join(self.work, f"out-{idx}")
        tr = self.tracer
        if traced:
            self._install()
            cpu0 = trace.tree_cpu_s()
        tag = tr.operation(idx) if tr is not None else nullcontext()
        trace.reset_peak_rss()
        start = time.time()
        t = time.perf_counter()
        try:
            try:
                with tag:
                    result = self.w.op(outdir)
                wall = time.perf_counter() - t
                end = time.time()
                self.rss_peaks_mb.append(trace.peak_rss_mb())
            finally:
                if traced:
                    tr.uninstall()
            if traced:
                cpu = trace.tree_cpu_s() - cpu0
                written = dir_bytes(outdir)
            self.w.check(outdir, result)
            ok = True
        except Exception as e:  # a failed operation is counted, not fatal
            wall, ok = time.perf_counter() - t, False
            self.errors.append(f"op {idx}: {e!r}")
        if traced and ok:
            self.windows[idx] = (start, end)
            self.extra[idx] = {
                "proc.cpu_s": cpu,
                "bytes.snapshot_written": written,
                "io.written_per_payload_byte": written / self.w.payload_bytes,
                **self.w.observed,
            }
        shutil.rmtree(outdir, ignore_errors=True)
        self.records.append((idx, traced, wall, ok))
        return wall, ok

    def _span_metrics(self, idx: int) -> dict:
        m: dict[str, float] = defaultdict(float)
        for s in self.tracer.spans:
            if s.op != idx:
                continue
            dur = s.end - s.start
            m[s.name + "_s"] += dur
            if s.name == "merge.merge_upsert":
                m["merge.merge_upsert_calls"] += 1
            if s.name == "io.write_snapshot":
                table = s.attrs["table"]
                part = table if table in _FACT_TABLES else "dims"
                m[f"io.write_snapshot.{part}_s"] += dur
                for phase in ("analysis", "optimization", "planning"):
                    m[f"catalyst.{phase}_ms"] += s.attrs[phase]
        return m

    def layer_metrics(self, setup: dict, stop) -> dict:
        """Per-layer metrics of the traced operations.  ``stop`` ends the
        Spark session, which flushes the event log parsed here."""
        traced = sorted(self.extra)
        if not traced:
            raise RuntimeError("no traced operation passed its check")
        candidates = self.w.candidate_pairs()
        rss = trace.tree_rss_peak_mb()
        logdir = os.path.join(self.work, "eventlog")
        stop()
        (log,) = os.listdir(logdir)
        parsed = trace.parse_event_log(
            os.path.join(logdir, log), {i: self.windows[i] for i in traced}
        )
        per_op = []
        for idx in traced:
            m = defaultdict(float, self._span_metrics(idx))
            m.update(parsed["ops"].get(idx, {}))
            m.update(self.extra[idx])
            m["dedup.minhash_lsh_pairs_jobs"] = parsed["groups"][idx].get(
                "dedup.minhash_lsh_pairs", 0
            )
            per_op.append(m)
        out = {
            name: statistics.median(m.get(name, 0.0) for m in per_op)
            for name, _, _ in PER_LAYER
        }
        exploded = out["occupancy.exploded_rows"]
        out["occupancy.output_per_exploded_row"] = (
            out["rows.occupancy_index"] / exploded if exploded else 0.0
        )
        out["dedup.pair_yield"] = (
            out["dedup.verified_pairs"] / candidates if candidates else 0.0
        )
        out["proc.tree_rss_peak_mb"] = rss
        out.update(setup)
        out["trace.op_p50_s"] = statistics.median(self.times(traced=True))
        out["trace.untraced_op_p50_s"] = statistics.median(self.times(traced=False))
        out["trace.overhead_pct"] = 100.0 * (statistics.median(self.overhead_ratios()) - 1)
        return {k: {"value": v, "unit": UNITS[k]} for k, v in out.items()}
