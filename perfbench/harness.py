"""Session lifecycle, repeated set-up and the traced-run ledger fold."""

from __future__ import annotations

import contextlib
import os
import shutil
import subprocess
import time

from . import trace as tr
from .common import RssSampler, log, median
from .metrics import Result

#: set-up runs this many times per process; setup_s is the median. The
#: first round also pays the interpreter and JVM start.
SETUP_ROUNDS = 3


def cores() -> int:
    return int(os.environ["SPARK_GRAFT_CPUS"])


def get_spark():
    from samza_hello_samza_spark import session

    return session.get_spark("perfbench")


def stop_jvm(spark) -> None:
    """Stop Spark and the py4j JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


class Bench:
    def __init__(self, run_dir: str, trace: bool, t_process: float):
        self.run_dir, self.trace, self.t_process = run_dir, trace, t_process
        self.res = Result()
        self.spark = None
        self.tracer = tr.Tracer(False)

    def setup(self, round_fn, discard=None):
        """Run ``round_fn(spark, dir)`` SETUP_ROUNDS times, each on a fresh
        SparkContext and a fresh dir; keep the last round's state."""
        samples, state, prev = [], None, None
        t0 = self.t_process
        for r in range(SETUP_ROUNDS):
            if r:
                if discard is not None:
                    discard(state)
                self.spark.stop()
                shutil.rmtree(prev, ignore_errors=True)
                t0 = time.time()
            self.spark = get_spark()
            if not r:
                self.res.layer["session.start_s"] = time.time() - self.t_process
            prev = os.path.join(self.run_dir, f"round{r}")
            os.makedirs(prev)
            state = round_fn(self.spark, prev)
            samples.append(time.time() - t0)
            log(f"set-up round {r}: {samples[-1]:.2f}s")
        self.res.e2e["setup_s"] = median(samples)
        self.res.props["setup_rounds_s"] = samples
        self.tracer = tr.Tracer(self.trace, self.spark.sparkContext)
        return state

    @contextlib.contextmanager
    def timed(self):
        """The measured phase. A traced run records the process tree's
        peak memory inside it (a layer metric: it follows the JVM
        collector's heap sizing, which varies too much between runs to
        gate on). Untraced runs do not sample: walking the JVM's page
        tables five times a second competes with the program."""
        if not self.trace:
            yield
            return
        with RssSampler() as rss:
            yield
        self.res.layer["session.peak_rss_mb"] = rss.peak / 2**20

    def finish(self) -> tuple[dict, list[dict]]:
        """Stop the JVM; in a traced run parse its event log and return it
        with the spans (written to spans.json)."""
        log("measured; stopping")
        stop_jvm(self.spark)
        if not self.trace:
            return {"jobs": {}, "stages": {}}, []
        self.tracer.write(os.path.join(self.run_dir, "spans.json"))
        elog = tr.load_event_log(os.path.join(self.run_dir, "eventlog"))
        spans = self.tracer.spans
        self.res.layer["trace.spans"] = len(spans)
        selfs = tr.self_times(spans)
        for s in spans:
            key = f"{s['module']}.self_s"
            self.res.layer[key] = self.res.layer.get(key, 0.0) + selfs[s["id"]]
        scans = [st for st in elog["stages"].values() if st["input_bytes"]]
        self.res.layer["session.scan_mb"] = sum(st["input_bytes"] for st in scans) / 2**20
        self.res.layer["session.max_scan_tasks"] = max(
            (st["n_tasks"] for st in scans), default=0)
        return elog, spans

    def ledger_row(self, log: dict, span: dict) -> dict:
        return tr.group_ledger(log, span["id"], (span["start"], span["end"]), cores())


def module_of(fn) -> str:
    """Layer name of a package function: its subpackage (plans, operators...)."""
    parts = fn.__module__.split(".")
    return parts[1] if len(parts) > 2 else parts[-1]
