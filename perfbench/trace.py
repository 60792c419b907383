"""Tracing for the benchmark's traced run, and process/host probes.

- :class:`Tracer` wraps module attributes of the package's public
  functions in spans.  A span records name, op index, parent and wall
  times, and sets the Spark job group to its name while it runs, so each
  Spark job can be attributed to the innermost span and to its operation
  (the ``bench.op`` local property).
- :func:`parse_event_log` reads a Spark event log and sums, per
  operation, job counts, task metrics, the Python-worker SQL metrics and
  the rows out of the occupancy rebuild's week explode.
- :func:`tree_cpu_s` and :func:`tree_rss_peak_mb` read ``/proc`` for the
  whole process tree.  CPU includes exited, reaped descendants (Python
  workers) through each live process's ``cutime``/``cstime``.
- :func:`reset_peak_rss` and :func:`peak_rss_mb` bracket one operation
  to give the driver process's own peak RSS during it.
- :func:`stop_spark` ends the session, its JVM and every process they
  started, and waits for them, so a run leaves nothing running.
"""

from __future__ import annotations

import functools
import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

_CLK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------------
# process tree and host
# --------------------------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, CPU seconds of self plus reaped children)."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        out[int(entry)] = (int(fields[1]), ticks / _CLK)
    return out


def _tree_pids(table: dict, root: int) -> list[int]:
    children = defaultdict(list)
    for pid, (ppid, _) in table.items():
        children[ppid].append(pid)
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, ()))
    return pids


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` and all its descendants, the
    exited ones included once their parent has reaped them."""
    table = _proc_table()
    return sum(table[p][1] for p in _tree_pids(table, root or os.getpid()) if p in table)


def tree_rss_peak_mb(root: int | None = None) -> float:
    """Sum over the live process tree of each process's peak RSS (since
    its start or its last :func:`reset_peak_rss`)."""
    total = 0
    for pid in _tree_pids(_proc_table(), root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024


def reset_peak_rss() -> None:
    """Reset this process's peak RSS (``VmHWM``) to its current RSS."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb() -> float:
    """This process's peak RSS since start or the last reset."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc/self/status")


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / total if total else 0.0


# --------------------------------------------------------------------------
# process lifetime
# --------------------------------------------------------------------------


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``), so that the Python workers the JVM
    started stay in this process's tree, and can be waited for, after
    the JVM has exited."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def live_descendants() -> list[int]:
    """Pids of this process's descendants that have not exited, after
    reaping those of its children that have."""
    _reap()
    table = _proc_table()
    out = []
    for pid in _tree_pids(table, os.getpid())[1:]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if stat[stat.rfind(")") + 2] not in "ZX":
            out.append(pid)
    return out


def end_descendants(grace_s: float = 30.0) -> None:
    """Wait until every descendant of this process has ended: up to
    ``grace_s`` for them to exit on their own, then SIGTERM, then SIGKILL.
    Raises if any is still running after that."""
    import signal

    start = time.monotonic()
    sent = None
    while True:
        pids = live_descendants()
        if not pids:
            return
        waited = time.monotonic() - start
        if waited > grace_s + 20:
            raise RuntimeError(f"processes still running after SIGKILL: {pids}")
        sig = (
            signal.SIGKILL
            if waited > grace_s + 10
            else signal.SIGTERM
            if waited > grace_s
            else None
        )
        if sig is not None and sig != sent:
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.1)


def stop_spark(spark=None) -> None:
    """Stop ``spark`` (if given), end the JVM PySpark launched for it and
    wait until it and every other descendant of this process have ended.
    Safe to call more than once, and when no session was ever built."""
    import sys

    if spark is not None:
        try:
            spark.stop()
        except Exception as e:  # the JVM may already be gone
            print(f"spark.stop() failed: {e!r}", file=sys.stderr)
    context = sys.modules.get("pyspark.core.context")
    gateway = context.SparkContext._gateway if context else None
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception as e:
            print(f"gateway shutdown failed: {e!r}", file=sys.stderr)
        context.SparkContext._gateway = None
        context.SparkContext._jvm = None
        if proc is not None and proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
    end_descendants()


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


@dataclass
class Span:
    op: int
    name: str
    parent: str | None
    start: float
    end: float
    attrs: dict


class Tracer:
    """Wraps module attributes in spans; see the module docstring."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[str] = []
        self.op = -1
        self._patches: list[tuple[object, str, object]] = []

    def _set_group(self, name: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", name)
        self.sc.setLocalProperty("spark.job.description", name)

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self.stack[-1] if self.stack else None
        self.stack.append(name)
        self._set_group(name)
        start = time.time()
        try:
            yield attrs
        finally:
            end = time.time()
            self.stack.pop()
            self._set_group(parent)
            self.spans.append(Span(self.op, name, parent, start, end, attrs))

    @contextmanager
    def operation(self, index: int):
        """Tags every job started inside with ``bench.op = index``."""
        self.op = index
        self.sc.setLocalProperty("bench.op", str(index))
        try:
            yield
        finally:
            self.sc.setLocalProperty("bench.op", None)
            self.op = -1

    def wrap(self, module, attr: str, name: str, hook=None) -> None:
        """Replace ``module.attr`` by a wrapper that runs it in span
        ``name``.  ``hook(span_attrs, args, kwargs)`` runs before the
        call, outside the span's timing."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            attrs = hook(args, kwargs) if hook else {}
            with self.span(name, **attrs):
                return orig(*args, **kwargs)

        self._patches.append((module, attr, orig))
        setattr(module, attr, traced)

    def uninstall(self) -> None:
        while self._patches:
            module, attr, orig = self._patches.pop()
            setattr(module, attr, orig)


def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis/optimization/planning ms of ``df``'s query execution,
    forcing its physical plan first (the tracker fills lazily)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")
# the occupancy rebuild's second explode, over SCHEDULE_EVENTS.week_numbers
_WEEK_EXPLODE = re.compile(r"^Generate explode\(week_numbers#\d+\)")
_SQL = "org.apache.spark.sql.execution.ui."


def _plan_accumulators(info: dict, out: dict) -> None:
    """accumulatorId -> metric kind for the plan nodes read here: Python
    workers (bytes sent, rows returned) and the week explode (rows out)."""
    if _PYTHON_NODE.search(info.get("nodeName", "")):
        for m in info.get("metrics", []):
            if m["name"] == "data sent to Python workers":
                out[m["accumulatorId"]] = "python.data_sent_mb"
            elif m["name"] == "number of output rows":
                out[m["accumulatorId"]] = "python.rows_returned"
    elif info.get("nodeName") == "Generate" and _WEEK_EXPLODE.match(
        info.get("simpleString", "")
    ):
        for m in info.get("metrics", []):
            if m["name"] == "number of output rows":
                out[m["accumulatorId"]] = "occupancy.exploded_rows"
    for child in info.get("children", []):
        _plan_accumulators(child, out)


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def parse_event_log(path: str, op_windows: dict[int, tuple[float, float]]) -> dict:
    """Per-operation metrics from a Spark event log.

    ``op_windows`` maps op index -> (start, end) wall seconds; it bounds
    ``driver.no_job_s``, the part of each operation's wall time during
    which none of its jobs was running.  Returns ``{op: {metric: value}}``
    plus per-op job counts by job group under key ``"groups"``."""
    job_op, job_group, job_times, stage_job = {}, {}, {}, {}
    accs: dict[int, str] = {}
    per_op: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                if "bench.op" not in props:
                    continue
                jid = ev["Job ID"]
                job_op[jid] = int(props["bench.op"])
                job_group[jid] = props.get("spark.jobGroup.id") or ""
                job_times[jid] = [ev["Submission Time"], None]
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_times:
                job_times[ev["Job ID"]][1] = ev["Completion Time"]
            elif kind in (
                _SQL + "SparkListenerSQLExecutionStart",
                _SQL + "SparkListenerSQLAdaptiveExecutionUpdate",
            ):
                _plan_accumulators(ev["sparkPlanInfo"], accs)
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
                m = per_op[job_op[stage_job[ev["Stage ID"]]]]
                tm = ev.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics", {})
                sw = tm.get("Shuffle Write Metrics", {})
                records = (
                    tm.get("Input Metrics", {}).get("Records Read", 0)
                    + sr.get("Total Records Read", 0)
                    + sw.get("Shuffle Records Written", 0)
                    + tm.get("Output Metrics", {}).get("Records Written", 0)
                )
                m["spark.tasks"] += 1
                m["nonempty_tasks"] += records > 0
                m["spark.executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                m["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                m["spark.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                m["spark.spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
                for acc in ev["Task Info"].get("Accumulables", []):
                    name = accs.get(acc.get("ID"))
                    if name is not None:
                        scale = 1e6 if name.endswith("_mb") else 1
                        m[name] += int(acc.get("Update", 0)) / scale
    groups: dict[int, dict] = defaultdict(lambda: defaultdict(int))
    intervals = defaultdict(list)
    for jid, op in job_op.items():
        per_op[op]["spark.jobs"] += 1
        groups[op][job_group[jid]] += 1
        s, e = job_times[jid]
        if e is not None:
            intervals[op].append((s, e))
    for op, (start, end) in op_windows.items():
        m = per_op[op]
        clipped = [
            (max(s, start * 1e3), min(e, end * 1e3))
            for s, e in intervals[op]
            if e > start * 1e3 and s < end * 1e3
        ]
        m["driver.no_job_s"] = (end - start) - _union_ms(clipped) / 1e3
        tasks = m["spark.tasks"]
        m["spark.nonempty_task_ratio"] = m.pop("nonempty_tasks", 0) / tasks if tasks else 0.0
    return {"ops": {op: dict(m) for op, m in per_op.items()}, "groups": groups}
