"""Second chained 10x scale step: sf1 -> sf10 (= 100x the sf0.1 base).

tools/bench_scale.py measures sf0.1 -> sf1; this harness re-runs a
curated LINEAR-FOOTPRINT subset of the same workloads at sf1 (base) and
sf10 (tools/gen_scale_fixture.py, 100 tiles of sf0.1: 10M events, 500k
documents, 200k embeddings), so the two steps together measure a real
100x data range — the compounding evidence behind SCALE.md's "would
this hold at 1000x" analyses.

Subset rationale (what's excluded and why, so the omission is explicit
rather than silent):
- the method-tagged adjudication unions (sampling_ops, llm_prep_ops,
  corpus_stats_ops, multimodal_ops) embed exact-oracle recomputation by
  DESIGN (the correctness gate's cost, not the production path); their
  production constituents are measured individually below;
- ANN is measured by the two stateless rungs (SRP-LSH and flat
  PQ+refine over the fixed query set). The transient knn_* rows (index
  rebuilt per query call) stay first-step-only — they measure the same
  arithmetic with the build cost mixed in. The persisted IVF / IVF+PQ
  index rows and the MinHash-LSH signature-margin and bucket-chaining
  rows were removed with the code they timed; their past cells stay in
  SCALE_STEP_100X.json as history;
- z-order layout is a full-table rewrite (IO-bound; linear by
  construction — file count = ceil(bytes/target)).

ENGINE vs SIMULATION rows: etl_job_sync is split into
`etl_payload_build` (pure driver-side Python building the REST-client
payloads from the customer table — the REFERENCE CLIENT's role, grows
with the fixture but is NOT an engine scaling signal) and
`etl_spark_sync` (payloads prebuilt, the two run_etl syncs +
materialization timed alone). The headline `total_ratio` covers ENGINE
rows only: `etl_payload_build` (driver simulation) and `etl_job_sync`
(which embeds that simulation) are reported per-row for attribution but
excluded from the totals; `all_rows_total_ratio` keeps the
everything-in number for continuity with r8/r9 artifacts.

ISOLATED PROBES (mechanized): any row whose scaled-pass time disagrees
with the committed SCALE_STEP_100X.json by more than --probe-threshold
(default 1.5x, either direction) is automatically re-measured in 3
FRESH sessions (subprocess per run, same warm-up discipline) and the
probe MEDIAN is what lands in scaled_s/base_s/ratio; the inline value
and all probe runs are preserved under "probes" so the spread is
auditable. --force-probe=row1,row2 probes rows unconditionally;
--no-probe disables the phase (e.g. for quick smoke runs).

PRE-FLIGHT GATE (r12): before every fresh-session sample the PARENT
runs one ~6 s calibration (tools/hostgate.py). If it breaches tolerance
vs the session best, the 30-180 s sample is NOT spent: the harness
sleeps --poll-s (default 90 s) and re-checks, up to --wait-budget-s
(default 1800 s) of total waiting per batch, firing samples only into
clean windows. r11 burned ~104 full samples that the after-the-fact
gate then rejected; the pre-flight makes that skip cost ~6 s instead.
Per-row accepted/attempted/preflight-skip counts ride in the artifact.

PAIRED PROBES (r12): --probe-pair=rowA,rowB runs BOTH rows
back-to-back interleaved (A,B,A,B ... --pair-passes times) inside one
fresh session at each SF, so the A/B RATIO is robust to host drift
even when absolute cells fail the gate. Results land under the
artifact's "paired" key: per-pass ratios from ALL sessions (the
drift-robust statistic), absolute medians from gate-ACCEPTED sessions
only. Built for the (since removed) signature-margin long-doc
contrast; any two SUBSET rows can be paired.

Usage: python tools/bench_scale_100x.py [sf1_dir] [sf10_dir]
           [--probe-threshold X] [--force-probe a,b] [--no-probe]
           [--probe-only=a,b --reps=N [--replace] [--max-rounds=N]]
           [--probe-pair=a,b --reps=N --pair-passes=N]
           [--poll-s N] [--wait-budget-s N] [--sidecar-migrate]
Prints one JSON line. NOTE: --probe-only, --probe-pair and
--sidecar-migrate REWRITE SCALE_STEP_100X.json in place (atomic
replace); rejected batches' raw samples move to the
SCALE_STEP_100X_rejected.json sidecar with per-batch summaries kept
inline, so the committed artifact stays roughly constant-size while
no audit data is lost.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench_scale import workloads  # noqa: E402  (tools/ sibling)

SUBSET = [
    "flagship_occupancy",
    "etl_job_sync",
    "etl_payload_build",
    "etl_spark_sync",
    "srp_lsh_topk",
    "pq_flat_topk",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_hiprec",
    "repeated_passages_hashed",
    "bm25_rank",
    "text_analysis",
    "stream_windowed_counts",
    "pagerank_events_8r",
    "bloom_prejoin_filter",
    "funnel_steps",
    "cohort_retention_weekly",
    "negative_sample_k8",
    "weighted_sample_top1k",
    "training_shuffle_64shards",
    "kmeans_assign_k16",
    "decontam_strike_5gram",
]

# rows that are NOT engine scaling signals (driver-side REST-client
# payload simulation, and the combined row that embeds it) — reported
# for attribution, excluded from the headline totals
SIMULATION_ROWS = {"etl_payload_build", "etl_job_sync"}

# rows that measured a DESIGNED CONTRAST on a derived corpus (the
# long-doc margin-vs-plain cascade experiment, since removed), not
# fixture scaling: their cells stay in the committed artifact, so they
# stay excluded from both totals and total_ratio remains comparable
# with the r8-r11 artifacts, which predate these rows.
CONTRAST_ROWS = {
    "longdoc_corpus_build", "dedup_lsh_longdoc", "dedup_lsh_longdoc_margin",
}
TOTALS_EXCLUDED = SIMULATION_ROWS | CONTRAST_ROWS

# probe-mode dependency graph: rows whose thunk consumes state another
# row's thunk produces (payload dicts). Probing a dependent row runs
# its deps first, untimed, in the same session.
DEPS = {
    "etl_spark_sync": ["etl_payload_build"],
}


def build_workloads(spark, sf_dir: str, base_dir: str):
    """Full thunk dict for one SF dir (bench_scale's workloads plus the
    100x-only rows). State produced by one thunk for another (ETL
    payloads) lives in closure dicts keyed by sf_dir, so deps must run
    first — run() follows SUBSET order; probe mode follows DEPS."""
    from uma_etl_iis_loader_spark.plans.fixtures import (
        materialize_schedule_fixture,
    )

    materialize_schedule_fixture(spark, sf_dir)
    w = workloads(spark, sf_dir, base_dir)

    def lsh_hiprec():
        # the banding-contrast row: the default harness row runs the
        # RECALL-oriented operating point (16 bands x 4 rows — LSH
        # s-threshold ~0.5, so it must surface moderately-similar
        # pairs, and the 100-tile fixture plants ~s=0.25 copies whose
        # candidate count grows ~quadratically with tiles BY DESIGN of
        # that operating point); this row is the DEDUP-grade point
        # (8 bands x 8 rows — s-threshold ~0.77): per-band collision
        # for the planted s~0.25 pairs is s^8, so candidates — and the
        # verify join — stay linear. Same corpus, same signatures
        # budget; banding is the knob, measured.
        from uma_etl_iis_loader_spark.io import read_fixture
        from uma_etl_iis_loader_spark.operators.dedup import (
            minhash_lsh_pairs,
        )

        docs = read_fixture(spark, sf_dir, "documents")
        return minhash_lsh_pairs(
            docs, num_hashes=64, bands=8, n=3, threshold=0.6,
            char_level=False,
        )

    w["dedup_minhash_lsh_hiprec"] = lsh_hiprec

    # --- etl_job_sync phase split: driver payload build vs Spark sync ---
    payloads: dict[str, tuple] = {}

    def etl_payload_build():
        from uma_etl_iis_loader_spark.plans.queries_reference import (
            etl_api_payloads,
        )

        payloads[sf_dir] = etl_api_payloads(sf_dir)
        return spark.range(1)

    def etl_spark_sync():
        from uma_etl_iis_loader_spark.plans.etl_job import run_etl

        api1, api2 = payloads[sf_dir]  # prebuilt by etl_payload_build
        out1 = run_etl(spark, api1, now_ts="2026-03-01 00:00:00")
        seed = {
            k: out1[k]
            for k in (
                "system_state", "faculties", "departments",
                "specialities", "student_groups", "employees",
                "departments_employees", "auditories",
            )
        }
        out2 = run_etl(
            spark, api2, now_ts="2026-03-08 00:00:00", initial=seed
        )
        return out2["student_groups"]

    w["etl_payload_build"] = etl_payload_build
    w["etl_spark_sync"] = etl_spark_sync

    # --- stateless ANN rungs over the base SF's fixed query set, so
    # query work scales with the CORPUS only ---
    from pyspark.sql import functions as F

    from uma_etl_iis_loader_spark.io import read_fixture as _rf
    from uma_etl_iis_loader_spark.operators.similarity import srp_lsh_topk

    def _emb():
        return _rf(spark, sf_dir, "embeddings", split=False)

    def _fixed_queries():
        emb_base = _rf(spark, base_dir, "embeddings", split=False)
        return emb_base.filter(F.col("vec_id") % 25 == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )

    def srp_topk_row():
        # the STATELESS ANN rung: data-independent hyperplane signatures
        # (pure map on the ingest side, no training pass, survives
        # arbitrary appends) + banded candidate join + exact-cosine
        # rescore. Production banding for a 200k-vector corpus:
        # 32 bits / 4 bands = 8-bit chunks — random-pair collision
        # ~0.4%/band, so the candidate join stays ~|Q| x |C| x 1.6%
        # instead of brute force's |Q| x |C|. Serves the append-heavy /
        # no-retrain regime.
        return srp_lsh_topk(
            _emb(), _fixed_queries(), k=10, n_bits=32, bands=4, d=64
        )

    def pq_flat_row():
        # the flat PQ+refine rung (bench_scale's pq_fixed_q shape):
        # constant-size codebook train + linear Arrow encode + ADC scan
        # with partition-local top-k + exact rescore of k*4 candidates.
        # Serves memory-bound corpora where 8-byte codes must replace
        # 256-byte vectors but cell-pruned layouts aren't warranted
        # (uniform query load, no hot cells).
        from uma_etl_iis_loader_spark.operators.similarity import (
            pq_encode,
            pq_topk,
            train_pq_codebooks,
        )

        emb = _emb()
        books = train_pq_codebooks(emb, m=8, ksub=256)
        return pq_topk(
            pq_encode(emb, books), books, _fixed_queries(), k=10,
            refine_corpus=emb, refine_factor=4,
        )

    w["srp_lsh_topk"] = srp_topk_row
    w["pq_flat_topk"] = pq_flat_row
    return w


def run(spark, sf_dir: str, base_dir: str, names=None):
    """Time each row; returns (times, row_counts)."""
    w = build_workloads(spark, sf_dir, base_dir)
    out, counts = {}, {}
    for name in names or SUBSET:
        t0 = time.time()
        counts[name] = w[name]().count()
        out[name] = round(time.time() - t0, 3)
    return out, counts


def _warmup(spark, base: str):
    r = spark.read.parquet(os.path.join(base, "region.parquet"))
    r.alias("a").join(r.alias("b"), "r_regionkey").count()


def probe_row(name: str, base: str, scaled: str) -> None:
    """One fresh-session isolated probe: warm at base (deps + row,
    untimed), timed base run, then deps + timed scaled run. Host-gate
    calibrations (tools/hostgate.py) bracket the timed work — the
    parent gates the sample against the session's best calibration.
    Prints one PROBE_RESULT line."""
    import hostgate

    from uma_etl_iis_loader_spark.session import build_session

    spark = build_session("bench_scale_100x_probe")
    spark.sparkContext.setLogLevel("ERROR")
    _warmup(spark, base)
    deps = DEPS.get(name, [])

    w = build_workloads(spark, base, base)
    for d in deps:
        w[d]().count()
    w[name]().count()  # warm pass: codegen shapes
    hostgate.warm()
    gate_before = hostgate.measure()
    t0 = time.time()
    rows_base = w[name]().count()
    base_s = round(time.time() - t0, 3)

    w = build_workloads(spark, scaled, base)
    for d in deps:
        w[d]().count()
    t0 = time.time()
    rows_scaled = w[name]().count()
    scaled_s = round(time.time() - t0, 3)
    gate_after = hostgate.measure()
    print(
        "PROBE_RESULT "
        + json.dumps(
            {
                "row": name,
                "base_s": base_s,
                "scaled_s": scaled_s,
                "rows_base": rows_base,
                "rows_scaled": rows_scaled,
                "gate_before": gate_before,
                "gate_after": gate_after,
            }
        )
    )


def probe_pair(name_a, name_b, base, scaled, passes=2) -> None:
    """One fresh-session PAIRED probe: both rows timed back-to-back
    interleaved (A,B,A,B ... `passes` times) at base then scaled, deps
    and warm passes shared, calibrations bracketing each SF's timed
    block. Because each A run sits ~seconds from its paired B run, the
    per-pass A/B ratio is robust to host drift that would invalidate
    the absolute cells — the statistic VERDICT r11 item 2 asks for
    (margin-vs-plain on the long-doc corpus). Prints one PAIR_RESULT
    line."""
    import hostgate

    from uma_etl_iis_loader_spark.session import build_session

    spark = build_session("bench_scale_100x_pair")
    spark.sparkContext.setLogLevel("ERROR")
    _warmup(spark, base)
    deps = list(dict.fromkeys(DEPS.get(name_a, []) + DEPS.get(name_b, [])))
    hostgate.warm()
    out = {"pair": [name_a, name_b], "passes": passes}
    for tag, d in (("base", base), ("scaled", scaled)):
        w = build_workloads(spark, d, base)
        for dep in deps:
            w[dep]().count()
        w[name_a]().count()  # warm: codegen shapes
        w[name_b]().count()
        g0 = hostgate.measure()
        runs_a, runs_b = [], []
        rows_a = rows_b = 0
        for _ in range(passes):
            t0 = time.time()
            rows_a = w[name_a]().count()
            runs_a.append(round(time.time() - t0, 3))
            t0 = time.time()
            rows_b = w[name_b]().count()
            runs_b.append(round(time.time() - t0, 3))
        g1 = hostgate.measure()
        out[tag] = {
            "runs_a_s": runs_a,
            "runs_b_s": runs_b,
            "rows_a": rows_a,
            "rows_b": rows_b,
            "ratio_per_pass": [
                round(a / max(b, 1e-3), 3) for a, b in zip(runs_a, runs_b)
            ],
            "gate_before": g0,
            "gate_after": g1,
        }
    print("PAIR_RESULT " + json.dumps(out))


def _pair_gates(session):
    return [
        g
        for tag in ("base", "scaled")
        for g in (
            session[tag]["gate_before"], session[tag]["gate_after"]
        )
    ]


def pair_only(name_a, name_b, reps, passes, base, scaled, artifact_path,
              poll_s=90.0, wait_budget_s=1800.0) -> None:
    """Run `reps` pre-flight-gated fresh-session PAIRED probes of
    (name_a, name_b) and fold into the artifact's ``paired`` key.
    Ratio statistics (median per-pass A/B) pool ALL sessions — the
    pairing makes them drift-robust by construction; absolute medians
    land from gate-ACCEPTED sessions only (flagged gate_exhausted
    otherwise). base_s/scaled_s/totals are untouched: CONTRAST_ROWS
    stay out of the headline totals by design."""
    import hostgate

    art = json.load(open(artifact_path))
    _pretouch((base, scaled))
    all_gates: list[dict] = []
    hostgate.warm()
    pre = _Preflight(all_gates, poll_s=poll_s, wait_budget_s=wait_budget_s)
    sessions, attempted = [], 0
    for i in range(reps):
        if not pre.wait_clean():
            break
        attempted += 1
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__),
             "--pair-row", name_a, name_b, base, scaled, str(passes)],
            capture_output=True, text=True, timeout=7200,
        )
        line = next(
            (ln for ln in reversed(p.stdout.splitlines())
             if ln.startswith("PAIR_RESULT ")),
            None,
        )
        if line is None:
            print(
                f"pair probe rep {i} failed rc={p.returncode}: "
                f"{p.stderr[-500:]}",
                file=sys.stderr,
            )
            continue
        s = json.loads(line[len("PAIR_RESULT "):])
        sessions.append(s)
        all_gates.extend(_pair_gates(s))
    if not sessions:
        sys.exit("no pair sessions completed")
    best = hostgate.best_cals(all_gates)
    acc = [
        s for s in sessions if hostgate.accept(_pair_gates(s), best)
    ]
    use = acc or sessions
    entry = {
        "pair": [name_a, name_b],
        "passes": passes,
        "sessions": sessions,
        "gate": {
            "best_cals": best,
            "tol1": hostgate.TOL1,
            "tol32": hostgate.TOL32,
            "accepted": len(acc),
            "rejected": len(sessions) - len(acc),
            "attempted": attempted,
            "preflight_skips": pre.skips,
        },
    }
    if not acc:
        entry["gate"]["gate_exhausted"] = True
    for tag in ("base", "scaled"):
        ratios = [r for s in sessions for r in s[tag]["ratio_per_pass"]]
        entry[tag] = {
            # drift-robust: pooled over ALL sessions' within-pass pairs
            "median_ratio_a_over_b": round(statistics.median(ratios), 3),
            "ratio_n_pairs": len(ratios),
            # row-count ratio A/B: a pair recall when A's emitted
            # pairs are a subset of B's
            "pair_recall_a_over_b": round(
                sessions[0][tag]["rows_a"]
                / max(sessions[0][tag]["rows_b"], 1), 4
            ),
            # absolute cells: gate-accepted sessions only
            "median_a_s": round(statistics.median(
                [r for s in use for r in s[tag]["runs_a_s"]]), 3),
            "median_b_s": round(statistics.median(
                [r for s in use for r in s[tag]["runs_b_s"]]), 3),
        }
    art.setdefault("paired", {})[f"{name_a}_vs_{name_b}"] = entry
    _write_artifact(art, artifact_path)


def _sample_gates(s):
    return [s["gate_before"], s["gate_after"]] if "gate_before" in s else []


def _accepted(samples, best):
    """Split samples into (accepted, rejected) against the session-best
    calibration. Legacy samples with no gate info count as accepted
    (pre-gate artifacts merge unchanged)."""
    import hostgate

    acc, rej = [], []
    for s in samples:
        gs = _sample_gates(s)
        (acc if not gs or hostgate.accept(gs, best) else rej).append(s)
    return acc, rej


def _pretouch(dirs):
    """Pre-touch fixtures into the OS page cache (bench.py's
    discipline): the first probe of a session otherwise pays the sf10
    first-touch disk I/O inside its timed scaled pass — a ~10x
    one-sample outlier the CPU-calibration gate cannot see."""
    for d in dirs:
        for root, _dirs, files in os.walk(d):
            for fname in sorted(files):
                with open(os.path.join(root, fname), "rb") as fh:
                    while fh.read(1 << 22):
                        pass


class _Preflight:
    """Opportunistic window scheduler: a ~6 s parent-side calibration
    before every sample decides whether to SPEND it. A dirty reading
    sleeps ``poll_s`` and re-checks, up to ``wait_budget_s`` of total
    sleeping per batch; once the budget is gone, dirty readings skip
    the sample outright (the batch finishes starved rather than
    burning 30-180 s samples a gate would reject — the r11 failure
    mode, ~104 samples burned across two sessions). All preflight
    readings join the session gate pool, so the sample-accept rule
    sees the cleanest calibration anyone observed."""

    def __init__(self, all_gates, poll_s=90.0, wait_budget_s=1800.0):
        import hostgate

        self._hg = hostgate
        self.all_gates = all_gates
        self.poll_s = poll_s
        self.wait_left = wait_budget_s
        self.skips = 0
        self.starved = False

    def wait_clean(self) -> bool:
        """True when a clean window is open (fires the sample now);
        False when the wait budget ran out on a dirty host."""
        while True:
            g = self._hg.measure()
            self.all_gates.append(g)
            # Seed the baseline: with <3 readings the session "best" is
            # (nearly) the reading itself, so the verdict degenerates to
            # self-acceptance and the batch's FIRST sample always fires —
            # even into a window the next reading would reject. ~12 s of
            # extra calibration buys the first verdict real context.
            while len(self.all_gates) < 3:
                g = self._hg.measure()  # judge the freshest reading
                self.all_gates.append(g)
            best = self._hg.best_cals(self.all_gates)
            if self._hg.accept([g], best):
                return True
            self.skips += 1
            if self.wait_left < self.poll_s:
                self.starved = True
                return False
            print(
                f"preflight dirty (cal1={g['cal1_s']} cal32={g['cal32_s']}"
                f" vs best {best}) — sleeping {self.poll_s}s"
                f" ({self.wait_left:.0f}s budget left)",
                file=sys.stderr,
            )
            time.sleep(self.poll_s)
            self.wait_left -= self.poll_s


def _run_probes(rows, base, scaled, reps=3, max_rounds=None,
                poll_s=90.0, wait_budget_s=1800.0):
    """Fresh-session HOST-GATED probes: interleaved rounds (every row
    once, then again — a slow host window spreads across rows instead
    of poisoning one row's sample) until every row holds `reps`
    samples whose bracketing calibrations (tools/hostgate.py: fixed-
    work single-core + whole-host spins before AND after the timed
    work) sit within tolerance of the SESSION-BEST calibration, or
    `max_rounds` (default 3*reps) is exhausted. Each sample is
    pre-flight gated (see _Preflight) so dirty windows cost ~6 s, not
    a burned sample. Medians land over the accepted samples only;
    every raw sample — accepted or gated out — is preserved with its
    calibrations, so the gate decision is auditable, never prose."""
    import hostgate

    _pretouch((base, scaled))
    if max_rounds is None:
        max_rounds = 3 * reps
    samples: dict[str, list[dict]] = {n: [] for n in rows}
    stats = {n: {"attempted": 0} for n in rows}
    all_gates: list[dict] = []
    hostgate.warm()
    pre = _Preflight(all_gates, poll_s=poll_s, wait_budget_s=wait_budget_s)
    for i in range(max_rounds):
        best = hostgate.best_cals(all_gates) if all_gates else None
        pending = [
            n for n in rows
            if not best or len(_accepted(samples[n], best)[0]) < reps
        ]
        if not pending:
            break
        for name in pending:
            if not pre.wait_clean():
                continue
            stats[name]["attempted"] += 1
            p = subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 "--probe-row", name, base, scaled],
                capture_output=True, text=True, timeout=3600,
            )
            line = next(
                (ln for ln in reversed(p.stdout.splitlines())
                 if ln.startswith("PROBE_RESULT ")),
                None,
            )
            if line is None:
                print(
                    f"probe {name} round {i} failed rc={p.returncode}: "
                    f"{p.stderr[-500:]}",
                    file=sys.stderr,
                )
                continue
            r = json.loads(line[len("PROBE_RESULT "):])
            samples[name].append(r)
            all_gates.extend(_sample_gates(r))
            cur_best = hostgate.best_cals(all_gates)
            ok = hostgate.accept(_sample_gates(r), cur_best)
            print(
                f"sample {name} r{i}: base={r['base_s']}s "
                f"scaled={r['scaled_s']}s "
                f"{'ACCEPT' if ok else 'reject'} vs {cur_best}",
                file=sys.stderr,
            )
        if pre.starved:
            print("preflight wait budget exhausted — ending batch",
                  file=sys.stderr)
            break
    best = hostgate.best_cals(all_gates) if all_gates else None
    out = {}
    for name, ss in samples.items():
        if not ss:
            continue
        out[name] = _probe_summary(ss, best)
        if "gate" in out[name]:
            out[name]["gate"]["attempted"] = stats[name]["attempted"]
            out[name]["gate"]["preflight_skips_at_batch_end"] = pre.skips
            if pre.starved:
                out[name]["gate"]["preflight_starved"] = True
    return out


def _norm_per_cal32(sample, key):
    """Host-normalized sample time: seconds of row work per second of
    the same-window whole-host calibration (mean of the sample's two
    brackets). Dimensionless-ish and host-independent: a slow window
    inflates numerator and denominator together, so this is the
    comparable statistic when no clean window ever opens (VERDICT r11
    item 3's fallback metric)."""
    gs = _sample_gates(sample)
    if not gs:
        return None
    c = sum(g["cal32_s"] for g in gs) / len(gs)
    return round(sample[key] / c, 3) if c > 0 else None


def _probe_summary(samples, best):
    """Summarize one row's probe samples: medians over gate-ACCEPTED
    samples (falls back to all samples, flagged `gate_exhausted`, if
    the gate rejected every one); all raw samples preserved. Also
    lands `median_{base,scaled}_per_cal32` — the host-normalized
    metric, computed over ALL samples (it is meaningful precisely for
    the rejected ones)."""
    import hostgate

    acc, rej = _accepted(samples, best) if best else (samples, [])
    gate_exhausted = not acc
    use = acc or samples
    runs_b = [s["base_s"] for s in use]
    runs_s = [s["scaled_s"] for s in use]
    out = {
        "runs_base_s": runs_b,
        "runs_scaled_s": runs_s,
        "median_base_s": round(statistics.median(runs_b), 3),
        "median_scaled_s": round(statistics.median(runs_s), 3),
        "spread_scaled": round(max(runs_s) / max(min(runs_s), 1e-3), 2),
    }
    for key, label in (("base_s", "base"), ("scaled_s", "scaled")):
        norm = [
            v for v in (_norm_per_cal32(s, key) for s in samples)
            if v is not None
        ]
        if norm:
            out[f"median_{label}_per_cal32"] = round(
                statistics.median(norm), 3
            )
    if "rows_base" in use[0]:
        out["rows_base"] = use[0]["rows_base"]
        out["rows_scaled"] = use[0]["rows_scaled"]
    if best:
        out["gate"] = {
            "best_cals": best,
            "tol1": hostgate.TOL1,
            "tol32": hostgate.TOL32,
            "accepted": len(acc),
            "rejected": len(rej),
            "samples": samples,  # raw, incl. per-sample calibrations
        }
        if gate_exhausted:
            out["gate"]["gate_exhausted"] = True
    return out


def _cal_range(raw_samples, key):
    vals = [g[key] for s in raw_samples for g in _sample_gates(s)]
    return [min(vals), max(vals)] if vals else None


def _reject_summary(pr):
    """Per-batch inline summary of a gate-rejected batch whose raw
    samples moved to the sidecar: enough to audit the batch's shape
    (count, spread, calibration range) without the raw bulk."""
    raw = pr.get("gate", {}).get("samples", [])
    out = {
        "sidecar": True,
        "n_samples": len(raw),
        "median_base_s": pr.get("median_base_s"),
        "median_scaled_s": pr.get("median_scaled_s"),
        "min_scaled_s": min(pr["runs_scaled_s"], default=None)
        if pr.get("runs_scaled_s") else None,
        "max_scaled_s": max(pr["runs_scaled_s"], default=None)
        if pr.get("runs_scaled_s") else None,
        "cal1_range": _cal_range(raw, "cal1_s"),
        "cal32_range": _cal_range(raw, "cal32_s"),
        "gate_exhausted": pr.get("gate", {}).get("gate_exhausted", False),
    }
    for k in ("median_base_per_cal32", "median_scaled_per_cal32"):
        if k in pr:
            out[k] = pr[k]
    return out


def _sidecar_rejected(art, artifact_path):
    """Move every rejected batch's RAW samples out of the committed
    artifact into <artifact>_rejected.json, leaving a per-batch summary
    inline (VERDICT r11 item 5: the artifact gained ~3,000 lines of
    rejected raw data in one round and would keep growing). Idempotent:
    already-summarized batches (sidecar: true) pass through."""
    side_path = artifact_path.replace(".json", "_rejected.json")
    side = {}
    if os.path.isfile(side_path):
        try:
            side = json.load(open(side_path))
        except (json.JSONDecodeError, OSError):
            side = {}
    moved = 0
    for name, p in art.get("probes", {}).items():
        batches = p.get("rejected_batches")
        if not batches:
            continue
        kept = []
        for rb in batches:
            if rb.get("sidecar"):
                kept.append(rb)
                continue
            side.setdefault(name, []).append(rb)
            kept.append(_reject_summary(rb))
            moved += 1
        p["rejected_batches"] = kept
    if moved:
        tmp = side_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(side, fh, indent=1)
        os.replace(tmp, side_path)
    return moved


def _recompute_totals(art):
    """Per-row ratios + engine totals. SIMULATION_ROWS (driver-side
    payload build) and CONTRAST_ROWS (long-doc cascade experiment,
    added r12) are excluded from BOTH totals so total_ratio /
    all_rows_total_ratio stay comparable with the r8-r11 artifacts."""
    art["ratio"] = {
        k: round(art["scaled_s"][k] / max(art["base_s"][k], 1e-3), 2)
        for k in art["base_s"]
    }
    eng_b = sum(
        v for k, v in art["base_s"].items() if k not in TOTALS_EXCLUDED
    )
    eng_s = sum(
        v for k, v in art["scaled_s"].items() if k not in TOTALS_EXCLUDED
    )
    art["base_total_s"] = round(eng_b, 2)
    art["scaled_total_s"] = round(eng_s, 2)
    art["total_ratio"] = round(eng_s / eng_b, 2)
    art["all_rows_total_ratio"] = round(
        sum(v for k, v in art["scaled_s"].items() if k not in CONTRAST_ROWS)
        / sum(v for k, v in art["base_s"].items() if k not in CONTRAST_ROWS),
        2,
    )
    art["excluded_from_total"] = sorted(TOTALS_EXCLUDED)


def _write_artifact(art, artifact_path):
    _sidecar_rejected(art, artifact_path)
    tmp = artifact_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(art, fh, indent=1)
    os.replace(tmp, artifact_path)  # atomic: a crash never truncates
    print(json.dumps(art))


def probe_only(rows, reps, base, scaled, artifact_path,
               replace=False, max_rounds=None,
               poll_s=90.0, wait_budget_s=1800.0) -> None:
    """Top-up mode: run `reps` more interleaved fresh-session GATED
    probe rounds for `rows` and fold them into the committed artifact
    without repeating the 17-minute inline passes. Default: run lists
    APPEND (legacy continuity; medians/ratios/totals recompute over the
    union). ``--replace``: the new gated summary REPLACES the row's
    runs — the old (pre-gate, window-suspect) runs are preserved under
    ``superseded`` for audit, and the landing medians come from gated
    samples only. This is how a noisy-window artifact converges.
    ``--max-rounds=N`` caps the interleaved rounds (default 3*reps) so
    a batch fits a wall-clock budget on a host that keeps rejecting.

    A fully gate-EXHAUSTED batch (zero accepted samples) NEVER lands
    medians — for any row, whether its landing evidence lives in a
    probes entry, inline in base_s/scaled_s, or nowhere yet (r11's
    guard only covered the first case; ADVICE r11 flagged the
    inline-median hole). Its fallback medians are by construction
    computed from certified-rejected samples, so the batch lands as
    audit data under ``rejected_batches`` (raw samples in the
    _rejected.json sidecar) — the gate's verdict ("no clean window
    existed") is recorded, the landing evidence is not diluted."""
    art = json.load(open(artifact_path))
    new = _run_probes(rows, base, scaled, reps=reps, max_rounds=max_rounds,
                      poll_s=poll_s, wait_budget_s=wait_budget_s)
    probes = art.setdefault("probes", {})
    for name, pr in new.items():
        old = probes.get(name)
        if pr.get("gate", {}).get("gate_exhausted"):
            entry = probes.setdefault(name, {})
            entry.setdefault("rejected_batches", []).append(pr)
            continue
        has_old_runs = old is not None and "runs_base_s" in old
        if has_old_runs and not replace:
            runs_b = old["runs_base_s"] + pr["runs_base_s"]
            runs_s = old["runs_scaled_s"] + pr["runs_scaled_s"]
            merged = {
                "runs_base_s": runs_b,
                "runs_scaled_s": runs_s,
                "median_base_s": round(statistics.median(runs_b), 3),
                "median_scaled_s": round(statistics.median(runs_s), 3),
                "spread_scaled": round(
                    max(runs_s) / max(min(runs_s), 1e-3), 2
                ),
            }
            for k in ("median_base_per_cal32", "median_scaled_per_cal32"):
                if k in pr:
                    merged[k] = pr[k]
            if "gate" in pr:
                merged["gate"] = pr["gate"]
            for carry in ("rejected_batches", "superseded"):
                if carry in old:
                    merged[carry] = old[carry]
            merged["inline_base_s"] = old.get("inline_base_s")
            merged["inline_scaled_s"] = old.get("inline_scaled_s")
            merged["prior_scaled_s"] = old.get("prior_scaled_s")
            probes[name] = merged
        else:
            if has_old_runs:
                pr["superseded"] = {
                    k: old.get(k)
                    for k in (
                        "runs_base_s", "runs_scaled_s",
                        "median_base_s", "median_scaled_s",
                        "spread_scaled",
                    )
                }
                if "rejected_batches" in old:
                    # audit history survives a --replace landing
                    pr["rejected_batches"] = old["rejected_batches"]
                pr["inline_base_s"] = old.get("inline_base_s")
                pr["inline_scaled_s"] = old.get("inline_scaled_s")
                pr["prior_scaled_s"] = old.get("prior_scaled_s")
            else:
                pr["inline_base_s"] = art["base_s"].get(name)
                pr["inline_scaled_s"] = art["scaled_s"].get(name)
                if old is not None and "rejected_batches" in old:
                    # rejected-audit-only stub from an earlier exhausted
                    # batch: the new accepted runs land, the audit
                    # history rides along
                    pr["rejected_batches"] = old["rejected_batches"]
            probes[name] = pr
        art["base_s"][name] = probes[name]["median_base_s"]
        art["scaled_s"][name] = probes[name]["median_scaled_s"]
    _recompute_totals(art)
    _write_artifact(art, artifact_path)


def main() -> None:
    from uma_etl_iis_loader_spark.session import build_session

    argv = sys.argv[1:]
    if argv and argv[0] == "--probe-row":
        probe_row(argv[1], argv[2], argv[3])
        return
    if argv and argv[0] == "--pair-row":
        probe_pair(argv[1], argv[2], argv[3], argv[4],
                   passes=int(argv[5]) if len(argv) > 5 else 2)
        return

    threshold, force, do_probe = 1.5, [], True
    probe_only_rows, reps, replace, max_rounds = None, 3, False, None
    pair_rows, pair_passes, migrate = None, 2, False
    poll_s, wait_budget_s = 90.0, 1800.0
    pos = []
    for a in argv:
        if a.startswith("--probe-threshold"):
            threshold = float(a.split("=", 1)[1])
        elif a.startswith("--force-probe"):
            force = [s for s in a.split("=", 1)[1].split(",") if s]
        elif a.startswith("--probe-only"):
            probe_only_rows = [s for s in a.split("=", 1)[1].split(",") if s]
        elif a.startswith("--probe-pair"):
            pair_rows = [s for s in a.split("=", 1)[1].split(",") if s]
            if len(pair_rows) != 2:
                sys.exit("--probe-pair needs exactly two rows: a,b")
        elif a.startswith("--pair-passes"):
            pair_passes = int(a.split("=", 1)[1])
        elif a.startswith("--reps"):
            reps = int(a.split("=", 1)[1])
        elif a.startswith("--max-rounds"):
            max_rounds = int(a.split("=", 1)[1])
            if max_rounds < 1:
                sys.exit("--max-rounds must be >= 1")
        elif a.startswith("--poll-s"):
            poll_s = float(a.split("=", 1)[1])
        elif a.startswith("--wait-budget-s"):
            wait_budget_s = float(a.split("=", 1)[1])
        elif a == "--sidecar-migrate":
            migrate = True
        elif a == "--no-probe":
            do_probe = False
        elif a == "--replace":
            replace = True
        else:
            pos.append(a)
    base = pos[0] if pos else "/root/repo/testdata_sf1"
    scaled = pos[1] if len(pos) > 1 else "/root/repo/testdata_sf10"
    for d, tiles, src in ((base, 10, "/root/testdata/sf0.1"),
                          (scaled, 100, "/root/testdata/sf0.1")):
        if not os.path.isdir(d):
            sys.exit(
                f"fixture dir {d} missing (gitignored) — regenerate with:\n"
                f"  python tools/gen_scale_fixture.py {src} {d} {tiles}"
            )
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g") == "8g":
        print(
            "warning: sf10 aggregations OOM the 8g default heap — "
            "run with SPARK_GRAFT_DRIVER_MEM=48g",
            file=sys.stderr,
        )
    prior_artifact = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALE_STEP_100X.json",
    )
    if migrate:
        art = json.load(open(prior_artifact))
        n = _sidecar_rejected(art, prior_artifact)
        tmp = prior_artifact + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(art, fh, indent=1)
        os.replace(tmp, prior_artifact)
        print(json.dumps({"migrated_batches": n}))
        return
    if probe_only_rows is not None:
        probe_only(probe_only_rows, reps, base, scaled, prior_artifact,
                   replace=replace, max_rounds=max_rounds,
                   poll_s=poll_s, wait_budget_s=wait_budget_s)
        return
    if pair_rows is not None:
        pair_only(pair_rows[0], pair_rows[1], reps, pair_passes,
                  base, scaled, prior_artifact,
                  poll_s=poll_s, wait_budget_s=wait_budget_s)
        return
    spark = build_session("bench_scale_100x")
    spark.sparkContext.setLogLevel("ERROR")
    _warmup(spark, base)

    run(spark, base, base)  # warm pass: codegen shapes
    t_base, n_base = run(spark, base, base)
    t_scaled, n_scaled = run(spark, scaled, base)

    # mechanized isolated probes: compare this run's scaled pass to the
    # committed artifact; disagreement beyond the threshold (either
    # direction) = window-suspect cell -> fresh-session median-of-3
    prior_path = prior_artifact
    flagged = list(force)
    prior_scaled = {}
    if os.path.isfile(prior_path):
        try:
            prior_scaled = json.load(open(prior_path)).get("scaled_s", {})
        except (json.JSONDecodeError, OSError):
            pass
    for k, cur in t_scaled.items():
        pri = prior_scaled.get(k)
        if pri and k not in flagged:
            hi, lo = max(cur, pri), max(min(cur, pri), 1e-3)
            if hi / lo > threshold:
                flagged.append(k)
    probes = {}
    if do_probe and flagged:
        print(f"probing (fresh-session median-of-3): {flagged}",
              file=sys.stderr)
        probes = _run_probes(flagged, base, scaled)
        for k, pr in probes.items():
            pr["inline_base_s"] = t_base[k]
            pr["inline_scaled_s"] = t_scaled[k]
            pr["prior_scaled_s"] = prior_scaled.get(k)
            t_base[k] = pr["median_base_s"]
            t_scaled[k] = pr["median_scaled_s"]

    ratios = {k: round(t_scaled[k] / max(t_base[k], 1e-3), 2) for k in t_base}
    eng_b = sum(v for k, v in t_base.items() if k not in TOTALS_EXCLUDED)
    eng_s = sum(v for k, v in t_scaled.items() if k not in TOTALS_EXCLUDED)
    print(
        json.dumps(
            {
                "metric": "scale_step_second_10x",
                "base_dir": base,
                "scaled_dir": scaled,
                "base_s": t_base,
                "scaled_s": t_scaled,
                "ratio": ratios,
                # ENGINE totals: driver-side REST-payload simulation
                # (etl_payload_build, and etl_job_sync which embeds it)
                # and the long-doc contrast rows excluded;
                # etl_spark_sync carries the engine cost
                "base_total_s": round(eng_b, 2),
                "scaled_total_s": round(eng_s, 2),
                "total_ratio": round(eng_s / eng_b, 2),
                "excluded_from_total": sorted(TOTALS_EXCLUDED),
                "all_rows_total_ratio": round(
                    sum(v for k, v in t_scaled.items()
                        if k not in CONTRAST_ROWS)
                    / sum(v for k, v in t_base.items()
                          if k not in CONTRAST_ROWS),
                    2,
                ),
                "lsh_pair_rows": {
                    k: n_scaled.get(k)
                    for k in ("dedup_minhash_lsh", "dedup_minhash_lsh_hiprec")
                },
                "probes": probes,
            }
        )
    )


if __name__ == "__main__":
    main()
