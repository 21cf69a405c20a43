"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. One invocation runs
one workload in this (fresh) process: it stages seeded inputs under
``.perfbench_run/`` in the checkout, sets up several times, measures for
``--seconds``, checks every timed op against its DuckDB oracle, and
prints one JSON line: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). Exit status is 0 only if every output
matched its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_PROCESS = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch_pipeline", "samza_stream")


def _isolate(run_dir: str, trace: bool) -> None:
    """Point every place the package, Spark and Python write to at the
    run dir, before the JVM starts."""
    for sub in ("index", "local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    # Spark gets half the cores: the JVM's compiler and collector
    # threads, the Python driver and py4j need the rest, and with every
    # core given to tasks a run measured the scheduler of a shared host
    cpus = str(max(1, len(os.sched_getaffinity(0)) // 2))
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_INDEX_DIR": os.path.join(run_dir, "index"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "TZ": "UTC",
    })
    time.tzset()
    confs = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -Dderby.system.home={run_dir} "
            # C1 only: a run lives about a minute, and with C2 the timed
            # phase fell inside the JIT's warm-up, whose pace follows the
            # load on the host; with C1 the passes are flat from the third
            "-XX:TieredStopAtLevel=1",
        "spark.sql.streaming.numRecentProgressUpdates": "2000",
        "spark.eventLog.enabled": "true" if trace else "false",
        "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f'--conf "{k}={v}"' for k, v in confs.items()) + " pyspark-shell"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "samza_hello_samza_spark")):
        print(f"perfbench: no samza_hello_samza_spark package next to {HERE}",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_run",
                           f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _isolate(run_dir, bool(args.trace))
    os.chdir(run_dir)
    sys.path.insert(0, ROOT)

    from perfbench import metrics

    mod = __import__(f"perfbench.wl_{args.workload}", fromlist=["run"])
    res = mod.run(run_dir=run_dir, seed=args.seed, seconds=args.seconds,
                  trace=bool(args.trace), t_process=T_PROCESS)
    res.save(run_dir)
    for sub in os.listdir(run_dir):  # keep only the result files
        path = os.path.join(run_dir, sub)
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
    os.chdir(ROOT)
    out = {"correct": res.failed == 0, "attempted": res.attempted,
           "failed": res.failed,
           "metrics": metrics.render(res.layer if args.trace else res.e2e,
                                     metrics.PER_LAYER if args.trace else metrics.END_TO_END)}
    print(json.dumps(out), flush=True)
    return 0 if res.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
