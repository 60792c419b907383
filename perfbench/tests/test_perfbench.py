"""The benchmark's own tests: generators, output checks, tracer and
event-log parser, and the command line.  Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil
import subprocess
import sys
import types

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import gen, trace  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from uma_etl_iis_loader_spark.session import build_session

    return build_session(
        "perfbench-tests",
        master="local[2]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )


def _ready(spark, cls, tmp_path, seed=7):
    w = cls(spark, seed, "tiny")
    w.generate()
    inputs = tmp_path / "inputs"
    inputs.mkdir()
    w.prepare(str(inputs))
    w.expect()
    return w


# --------------------------------------------------------------------------
# generators
# --------------------------------------------------------------------------


def test_generators_depend_only_on_the_seed():
    a, b, c = (gen.iis_payloads(s, "tiny") for s in (3, 3, 4))
    assert a.api_resync == b.api_resync and a.truth_resync == b.truth_resync
    assert a.api_resync != c.api_resync
    assert gen.schedule_events_table(3, "tiny")[0].equals(
        gen.schedule_events_table(3, "tiny")[0]
    )
    assert gen.dedup_corpus(3, "tiny").table.equals(gen.dedup_corpus(3, "tiny").table)


def test_iis_ground_truth_recounts_from_the_serialized_payload():
    """Events and quarantine recounted from the JSON actually sent, not
    from the model's document objects."""
    x = gen.iis_payloads(5, "tiny")
    events = quarantined = 0
    for _, _, payload in x.api_resync["schedules"]:
        try:
            doc = json.loads(payload)
        except json.JSONDecodeError:
            doc = None
        if not doc or not (doc.get("schedules") or doc.get("exams")):
            quarantined += 1
            continue
        events += len(doc["exams"]) + sum(
            1
            for lessons in doc["schedules"].values()
            for lesson in lessons
            if lesson["startLessonTime"] != "25:70"
        )
    counts = x.truth_resync["counts"]
    assert (counts["schedule_events"], counts["schedule_quarantine"]) == (
        events,
        quarantined,
    )
    assert quarantined > 0
    # the SCD2 mix: every type-2 change closes one row and opens one
    groups = {g["id"]: g for g in x.api_load["student_groups"]}
    changed = sum(
        1
        for g in x.api_resync["student_groups"]
        if g["id"] in groups and g["course"] != groups[g["id"]]["course"]
    )
    assert changed > 0
    assert x.truth_resync["scd2_closed"] - changed == len(groups) - sum(
        1 for g in x.api_resync["student_groups"] if g["id"] in groups
    )


def test_corpus_plants_exact_and_near_copies():
    from perfbench.workloads import word_grams

    c = gen.dedup_corpus(2, "tiny")
    texts = c.table["text"].to_pylist()

    def canon(t):
        return " ".join("".join(ch if ch.isalnum() else " " for ch in t.lower()).split())

    first = {}
    for i, t in enumerate(texts):
        first.setdefault(canon(t), i)
    assert c.exact_copies and all(first[canon(texts[i])] < i for i in c.exact_copies)
    assert c.near_copies
    best = {
        i: max(
            len(word_grams(texts[i]) & word_grams(texts[j]))
            / len(word_grams(texts[i]) | word_grams(texts[j]))
            for j in range(i)
        )
        for i in sorted(c.near_copies)[:5]
    }
    assert all(v >= 0.5 for v in best.values()), best


# --------------------------------------------------------------------------
# workloads: smoke run with checks, and each check rejecting a wrong result
# --------------------------------------------------------------------------


def _drop_last_row(path):
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    for f in reversed(files):
        table = pq.read_table(os.path.join(path, f))
        if table.num_rows:
            pq.write_table(table.slice(0, table.num_rows - 1), os.path.join(path, f))
            return
    raise AssertionError("no rows to drop")


def test_iis_resync_smoke_and_perturbed(spark, tmp_path):
    from perfbench.workloads import CheckFailed, IisResync

    w = _ready(spark, IisResync, tmp_path)
    out = str(tmp_path / "out")
    w.check(out, w.op(out))
    truth = w.inputs.truth_resync
    assert w.observed["rows.schedule_events"] == truth["counts"]["schedule_events"]
    assert w.observed["rows.scd2_closed"] == truth["scd2_closed"] > 0
    _drop_last_row(os.path.join(out, "schedule_events"))
    with pytest.raises(CheckFailed, match="schedule_events rows"):
        w.check(out, None)


def test_occupancy_rebuild_smoke_and_perturbed(spark, tmp_path):
    from perfbench.workloads import CheckFailed, OccupancyRebuild

    w = _ready(spark, OccupancyRebuild, tmp_path)
    out = str(tmp_path / "out")
    w.check(out, w.op(out))
    assert w.observed["rows.occupancy_index"] == w.expected[0] > 0
    # same row count, one group list changed: only the digest can see it
    path = os.path.join(out, "occupancy_index")
    f = next(f for f in sorted(os.listdir(path)) if f.endswith(".parquet")
             and pq.read_metadata(os.path.join(path, f)).num_rows)
    rows = pq.read_table(os.path.join(path, f)).to_pylist()
    rows[0]["groups"] = rows[0]["groups"] + ["999999"]
    pq.write_table(pa.Table.from_pylist(rows), os.path.join(path, f))
    with pytest.raises(CheckFailed, match="digest"):
        w.check(out, None)


def test_dedup_curation_smoke_and_perturbed(spark, tmp_path):
    from perfbench.workloads import CheckFailed, DedupCuration

    w = _ready(spark, DedupCuration, tmp_path)
    out = str(tmp_path / "out")
    pairs = w.op(out)
    w.check(out, pairs)
    assert w.observed["dedup.verified_pairs"] > 0
    assert w.candidate_pairs() >= w.observed["dedup.verified_pairs"]
    # a pair below the threshold
    bad = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    with pytest.raises(CheckFailed, match="Jaccard"):
        w.check(out, bad)
    # a planted exact copy that survived
    copy = min(w.corpus.exact_copies)
    path = os.path.join(out, "corpus")
    f = next(f for f in sorted(os.listdir(path)) if f.endswith(".parquet"))
    table = pq.read_table(os.path.join(path, f))
    extra = pa.table({"doc_id": [copy], "text": [w.texts[copy]]}).cast(table.schema)
    pq.write_table(pa.concat_tables([table, extra]), os.path.join(path, f))
    with pytest.raises(CheckFailed, match="exact copies"):
        w.check(out, pairs)


# --------------------------------------------------------------------------
# tracing
# --------------------------------------------------------------------------


class _FakeContext:
    def __init__(self):
        self.props = {}

    def setLocalProperty(self, key, value):  # noqa: N802 - Spark's name
        self.props[key] = value


def test_tracer_spans_nest_set_job_groups_and_unwrap():
    sc = _FakeContext()
    tr = trace.Tracer(types.SimpleNamespace(sparkContext=sc))
    seen = []
    mod = types.SimpleNamespace()
    mod.inner = lambda x: seen.append(sc.props["spark.jobGroup.id"]) or x + 1
    mod.outer = lambda x: mod.inner(x) * 2
    orig = (mod.inner, mod.outer)
    tr.wrap(mod, "inner", "layer.inner")
    tr.wrap(mod, "outer", "layer.outer")
    with tr.operation(3):
        assert sc.props["bench.op"] == "3"
        assert mod.outer(1) == 4
    assert seen == ["layer.inner"]
    assert sc.props["spark.jobGroup.id"] is None and sc.props["bench.op"] is None
    assert [(s.op, s.name, s.parent) for s in tr.spans] == [
        (3, "layer.inner", "layer.outer"),
        (3, "layer.outer", None),
    ]
    tr.uninstall()
    assert (mod.inner, mod.outer) == orig


def _burn(seconds):
    import time

    end = time.process_time() + seconds
    while time.process_time() < end:
        pass


def test_tree_cpu_counts_exited_children():
    before = trace.tree_cpu_s()
    child = multiprocessing.get_context("spawn").Process(target=_burn, args=(0.5,))
    child.start()
    child.join(timeout=60)
    assert not child.is_alive()
    assert trace.tree_cpu_s() - before >= 0.45


# Runs a command as the child of a process that reaps orphans, and prints
# as its last stderr line how many descendants were still running the
# moment the command exited.
_REAPED = """
import subprocess, sys
sys.path.insert(0, sys.argv[1])
from perfbench import trace
trace.become_subreaper()
res = subprocess.run(sys.argv[2:])
print("left running:", len(trace.live_descendants()), file=sys.stderr)
trace.end_descendants(grace_s=1)
sys.exit(res.returncode)
"""


def _run_reaped(args, **kw):
    res = subprocess.run([sys.executable, "-c", _REAPED, ROOT, *args],
                         capture_output=True, text=True, **kw)
    left = int(res.stderr.strip().splitlines()[-1].split(":")[1])
    return res, left


def test_end_descendants_waits_for_orphans_and_kills_stragglers():
    # an orphaned sleep that exits by itself, and one that ignores SIGTERM
    res, left = _run_reaped(
        ["sh", "-c", "sleep 0.5 & (trap '' TERM; exec sleep 300) & exit 0"],
        timeout=60,
    )
    assert res.returncode == 0 and left == 2


def test_parse_event_log_on_a_recorded_log():
    """``eventlog.json`` (Spark 4.1, trimmed to the events the parser
    reads): one untagged job, then jobs tagged bench.op 0 -- in job group
    ``io.write_snapshot``, ``occupancy.rebuild_occupancy`` over 5 event
    rows written to parquet (7 rows out of the week explode: the employee
    row, the NULL-day row and the unknown room drop out), and in
    ``dedup.minhash_lsh_pairs`` two collects, one of them a MapInPandas
    over 3 rows."""
    path = os.path.join(HERE, "data", "eventlog.json")
    with open(path) as f:
        events = [json.loads(line) for line in f]
    starts = [e for e in events if e["Event"] == "SparkListenerJobStart"]
    tagged = [e for e in starts if "bench.op" in e["Properties"]]
    t0 = min(e["Submission Time"] for e in tagged) / 1e3 - 1.0
    t1 = max(
        e["Completion Time"] for e in events if e["Event"] == "SparkListenerJobEnd"
    ) / 1e3 + 1.0
    parsed = trace.parse_event_log(path, {0: (t0, t1)})
    m = parsed["ops"][0]
    assert m["spark.jobs"] == len(tagged) == 5
    assert m["spark.tasks"] == sum(
        1
        for e in events
        if e["Event"] == "SparkListenerTaskEnd"
        and any(e["Stage ID"] in j["Stage IDs"] for j in tagged)
    )
    assert parsed["groups"][0] == {"io.write_snapshot": 3, "dedup.minhash_lsh_pairs": 2}
    assert m["occupancy.exploded_rows"] == 7
    assert m["python.rows_returned"] == 3
    assert m["python.data_sent_mb"] > 0
    assert 0 < m["spark.nonempty_task_ratio"] <= 1
    assert m["spark.executor_run_s"] > 0 and m["spark.shuffle_write_mb"] > 0
    busy = trace._union_ms(
        [
            (s["Submission Time"], e["Completion Time"])
            for s in tagged
            for e in events
            if e["Event"] == "SparkListenerJobEnd" and e["Job ID"] == s["Job ID"]
        ]
    )
    assert m["driver.no_job_s"] == pytest.approx((t1 - t0) - busy / 1e3)


def test_peak_rss_resets_to_current():
    trace.reset_peak_rss()
    base = trace.peak_rss_mb()
    block = bytearray(64 * 1024 * 1024)
    block[:: 4096] = b"x" * len(block[:: 4096])  # touch every page
    assert trace.peak_rss_mb() >= base + 60
    del block
    trace.reset_peak_rss()
    assert trace.peak_rss_mb() < base + 30


def test_overhead_compares_each_traced_op_with_its_untraced_neighbours():
    from perfbench.layers import Runner

    run = Runner.__new__(Runner)
    # (index, traced, seconds, passed): operations getting faster
    run.records = [(0, False, 20.0, True), (1, True, 16.0, True),
                   (2, False, 14.0, True), (3, True, 13.5, True),
                   (4, False, 13.0, True), (5, True, 9.0, False),
                   (6, False, 12.0, True)]
    assert run.overhead_ratios() == [16.0 / 17.0, 1.0]


def test_union_of_intervals():
    assert trace._union_ms([(0, 2), (1, 3), (5, 6)]) == 4
    assert trace._union_ms([]) == 0


# --------------------------------------------------------------------------
# command line and BENCHMARK.json
# --------------------------------------------------------------------------


def test_benchmark_json_matches_the_code():
    from perfbench.layers import PER_LAYER
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        tuple(x) for x in PER_LAYER
    ]
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    assert {m["name"] for m in bench["end_to_end"]} == {
        "setup_s", "op_p50_s", "driver_py_rss_mb", "ok_rate"
    }


def test_cli_traced_tiny_run_reports_every_layer(tmp_path):
    from perfbench.layers import PER_LAYER

    res, left = _run_reaped(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", "dedup_curation", "--seed", "2", "--seconds", "1",
         "--trace", "1", "--size", "tiny"],
        cwd=tmp_path, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    assert left == 0  # the JVM and the Python workers ended before run.py did
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 3
    assert set(out["metrics"]) == {name for name, _, _ in PER_LAYER}
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["dedup.minhash_lsh_pairs_jobs"] > 0 and m["python.rows_returned"] > 0
    assert 0 < m["dedup.pair_yield"] <= 1
    assert m["proc.cpu_s"] > 0 and m["spark.jobs"] > 0
    assert not os.listdir(tmp_path / ".bench_work")


def test_cli_fails_without_the_package(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "iis_resync",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert res.returncode != 0
    assert '"correct"' not in res.stdout
