"""Benchmark of the IIS loader: one workload per run, single client,
closed loop on ``local[<cores>]``.

Run from the repository root:

    python3 perfbench/run.py --workload iis_resync --seed 1 --seconds 20 --trace 0

A run sets up (session, seeded inputs, warm-up operations), then runs
operations back to back for ``--seconds`` and checks every output.  The
last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it is a human-readable
summary.  ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
alternates traced and untraced operations and reports the per-layer
metrics (see ``layers.py``).
"""

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))


def _session(work: str, trace: bool):
    from uma_etl_iis_loader_spark.session import build_session

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = build_session("perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", default="full", help="input size: full or tiny")
    args = p.parse_args(argv)

    from perfbench import layers, trace
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    work = os.path.join(os.getcwd(), ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    host0 = trace.cpu_times()
    spark = None
    trace.become_subreaper()
    try:
        spark = _session(work, bool(args.trace))
        session_s = time.perf_counter() - _T0
        w = WORKLOADS[args.workload](spark, args.seed, args.size)
        t = time.perf_counter()
        w.generate()
        generate_s = time.perf_counter() - t
        inputs = os.path.join(work, "inputs")
        os.makedirs(inputs)
        t = time.perf_counter()
        w.prepare(inputs)
        prepare_s = time.perf_counter() - t
        t = time.perf_counter()
        w.expect()
        expect_s = time.perf_counter() - t

        run = layers.Runner(w, work, spark if args.trace else None)
        warm = [run.op()[0] for _ in range(w.warmup_ops)]
        if run.failed:
            raise RuntimeError(f"warm-up operation failed: {run.errors}")
        setup_s = session_s + generate_s + prepare_s + expect_s + sum(warm)

        run.reset()
        steal0 = trace.cpu_times()
        end = time.perf_counter() + args.seconds
        # a traced run ends on an untraced operation, so every traced one
        # has an untraced one on either side (see Runner.overhead_ratios)
        min_ops = max(w.min_ops, 3) if args.trace else w.min_ops
        while (
            time.perf_counter() < end
            or run.attempted < min_ops
            or (args.trace and run.attempted % 2 == 0)
        ):
            run.op(traced=bool(args.trace) and run.attempted % 2 == 1)
        steal = trace.steal_pct(steal0, trace.cpu_times())
        times = run.times(traced=False)
        op_p50 = statistics.median(times)
        rss_mb = max(run.rss_peaks_mb)
        summary = {
            "workload": args.workload,
            "seed": args.seed,
            "samples": len(times),
            "op_p50_s": round(op_p50, 4),
            "op_min_s": round(min(times), 4),
            "op_max_s": round(max(times), 4),
            "op_s": [round(t, 3) for t in times],
            "error_rate": run.failed / run.attempted,
            "driver_py_rss_mb": round(rss_mb, 1),
            "setup_s": round(setup_s, 3),
            "session_s": round(session_s, 3),
            "generate_s": round(generate_s, 3),
            "prepare_s": round(prepare_s, 3),
            "warmup_s": [round(x, 3) for x in warm],
            "steal_pct": round(steal, 3),
            "inputs": w.info,
        }
        if args.trace:
            metrics = run.layer_metrics(
                setup={
                    "setup.session_s": session_s,
                    "setup.generate_s": generate_s,
                    "setup.prepare_s": prepare_s,
                    "setup.warmup_s": sum(warm),
                    "setup.first_op_s": (warm or run.times(traced=False))[0],
                    "host.steal_pct": trace.steal_pct(host0, trace.cpu_times()),
                },
                stop=lambda: trace.stop_spark(spark),
            )
            spark = None
            summary["trace"] = {
                k: metrics[k]["value"]
                for k in ("trace.op_p50_s", "trace.untraced_op_p50_s", "trace.overhead_pct")
            }
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "op_p50_s": {"value": op_p50, "unit": "s"},
                "driver_py_rss_mb": {"value": rss_mb, "unit": "MB"},
                "ok_rate": {
                    "value": 1 - run.failed / run.attempted,
                    "unit": "ratio",
                },
            }
        summary["errors"] = run.errors[:3]
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        }
    finally:
        # stops the JVM and every process it started, and waits for them
        trace.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    # printed once nothing else can write to stdout
    print("summary " + json.dumps(summary, ensure_ascii=False), flush=True)
    print(json.dumps(result), flush=True)
    return 0


def _exit_on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
