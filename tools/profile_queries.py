"""Per-query measurement harness for the optimization rounds (guide §1).

Uses bench.py's methodology (same session, ``bench.warm_up``, same
fixture materialization, same fn()+count split) and adds, per query:

- ``--explain DIR``: write ``DIR/<query>_<tag>.txt`` with the
  ``explain("formatted")`` of the returned frame (plan evidence for
  OPTIMIZATION_r*.md; does not execute the plan).
- ``--profile``: cProfile around fn() (driver-side setup cost attribution —
  separates Python payload synthesis / plan construction from eager Spark
  actions, which show up under ``socket.recv`` / py4j frames).
- ``--noop``: time the action as a noop-sink write (guide §1.4) instead of
  count, as a cross-check that count isn't pruning work.
- ``--reps N``: repeat the fn()+action cycle N times (first-run JIT vs
  steady state).

Usage:
  python tools/profile_queries.py [query ...]          # default: HEADLINE
  python tools/profile_queries.py --explain plans/r12 --tag before
"""

from __future__ import annotations

import argparse
import cProfile
import io
import os
import pstats
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", help="query names (default: bench HEADLINE)")
    ap.add_argument("--explain", metavar="DIR", help="write explain('formatted') files")
    ap.add_argument("--tag", default="before", help="suffix for explain files")
    ap.add_argument("--profile", action="store_true", help="cProfile fn()")
    ap.add_argument("--noop", action="store_true", help="noop sink instead of count")
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    import bench  # HEADLINE and warm_up

    from uma_etl_iis_loader_spark.plans.registry import QUERIES
    from uma_etl_iis_loader_spark.session import build_session

    names = args.queries or bench.HEADLINE
    sf_dir = args.sf_dir

    spark = build_session("profile")
    spark.sparkContext.setLogLevel("ERROR")
    bench.warm_up(spark, sf_dir)

    from uma_etl_iis_loader_spark.plans.fixtures import materialize_schedule_fixture

    t0 = time.time()
    materialize_schedule_fixture(spark, sf_dir)
    print(f"fixture_setup_s={time.time() - t0:.3f}", flush=True)

    for name in names:
        fn = QUERIES[name]
        for rep in range(args.reps):
            spark.sparkContext.setJobDescription(f"{name}: setup (fn)")
            if args.profile and rep == 0:
                pr = cProfile.Profile()
                t0 = time.time()
                pr.enable()
                df = fn(spark, sf_dir)
                pr.disable()
                t1 = time.time()
                s = io.StringIO()
                pstats.Stats(pr, stream=s).sort_stats("cumulative").print_stats(25)
                print(f"--- cProfile fn() {name} ---\n{s.getvalue()}", flush=True)
            else:
                t0 = time.time()
                df = fn(spark, sf_dir)
                t1 = time.time()
            if args.explain and rep == 0:
                os.makedirs(args.explain, exist_ok=True)
                with open(
                    os.path.join(args.explain, f"{name}_{args.tag}.txt"), "w"
                ) as fh:
                    fh.write(df._jdf.queryExecution().explainString(
                        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
                    ))
            spark.sparkContext.setJobDescription(f"{name}: action")
            t2 = time.time()
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            t3 = time.time()
            spark.sparkContext.setJobDescription(None)
            print(
                f"{name:30s} rep={rep} setup={t1 - t0:7.3f} action={t3 - t2:7.3f} "
                f"sum={t1 - t0 + t3 - t2:7.3f}",
                flush=True,
            )


if __name__ == "__main__":
    main()
