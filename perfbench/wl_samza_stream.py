"""samza_stream: the three-job Wikipedia topology, open loop.

``feed_job`` -> ``parser_job`` -> ``stats_job`` run as three concurrent
streaming queries chained by parquet topics; the stats stage emits its
updated windows through ``foreachBatch``, which records each commit.
Event files (fixed-size slices of the ts-sorted stream) land in the
feed's directory by atomic rename:

* fixed-rate phase: the benchmark's main thread lands one file every
  1/FILES_PER_S seconds for ``--seconds``, on a schedule that does not
  wait for the topology (the queries run on JVM threads). A file's
  latency is the first stats commit whose windows' total ``edits``
  reaches the count expected through that file, minus its due time;
* drain phases, after every fixed-rate file is counted: a fixed backlog
  lands at once; the median time until the stats stage has counted all
  of it gives the drain throughput, a layer metric. One untimed drain
  comes first.

After the timer, the final window values are compared with the
``wikipedia_stats`` oracle over a DuckDB view of the landed files.
"""

from __future__ import annotations

import json
import os
import threading
import time

import pyarrow.parquet as pq

from . import gen
from .common import log, median, percentile
from .harness import Bench, cores

EVENTS_PER_FILE = 20
BACKLOG_FILES = 40
#: a drain takes about three micro-batches, and one more when its backlog
#: lands while a stage is busy (a stats batch that only advances the
#: watermark, or compacts a metadata log every tenth batch), so single
#: drains differ by up to 40%, and runs' medians still by 18% (too much
#: to gate on). Without an untimed drain first, each drain of a run was
#: faster than the one before
DRAINS = 3
#: under half the drain capacity on a 4-vCPU box (270-450 events/s), so
#: file latency is the topology's depth, not a queue near saturation
FILES_PER_S = 7.0
#: landed at once in every set-up round, so the measured phases do not
#: pay for compiling the queries' batch paths
WARMUP_FILES = 20
RESULT_TIMEOUT_S = 60.0
ORACLE_COLS = ("window_start_epoch", "edits", "bytes_added", "unique_titles", "minor_edits")


def attribute_latency(due: list[float], expected: list[int],
                      commits: list[tuple[float, int]]) -> list[float | None]:
    """Per file: the first commit time whose cumulative count reaches the
    count expected through that file, minus the file's due time (None if
    no commit reached it). ``commits`` are (time, cumulative count)."""
    out, j = [], 0
    commits = sorted(commits)
    for d, need in zip(due, expected):
        while j < len(commits) and commits[j][1] < need:
            j += 1
        out.append(commits[j][0] - d if j < len(commits) else None)
    return out


class Topology:
    def __init__(self, spark, d: str, events, n_files: int):
        from samza_hello_samza_spark.session import normalize_nanos_ts
        from samza_hello_samza_spark.streaming.pipelines import feed_job, parser_job, stats_job

        self.landing = os.path.join(d, "landing")
        os.makedirs(self.landing)
        self.cond = threading.Condition()
        self.windows: dict[int, tuple] = {}
        self.commits: list[tuple[float, int]] = []
        self.land_t: list[float] = []
        n = EVENTS_PER_FILE
        self.slices = [events.slice(i * n, n) for i in range(n_files)]
        # cumulative events through each file: every synthesized line parses
        self.expected = [n * (i + 1) for i in range(n_files)]
        self.next_file = 0

        schema_df = spark.createDataFrame([], _spark_schema(events))
        ev_schema = schema_df.schema
        raw_schema = feed_job(normalize_nanos_ts(schema_df)).schema
        edits_schema = parser_job(spark.createDataFrame([], raw_schema)).schema
        raw, edits = os.path.join(d, "wikipedia-raw"), os.path.join(d, "wikipedia-edits")
        ck = os.path.join(d, "ck")
        src = normalize_nanos_ts(spark.readStream.schema(ev_schema).parquet(self.landing))
        self.queries = {
            "feed": feed_job(src).writeStream.format("parquet").option("path", raw)
            .option("checkpointLocation", f"{ck}-feed").queryName("feed").start(),
            "parser": parser_job(spark.readStream.schema(raw_schema).parquet(raw))
            .writeStream.format("parquet").option("path", edits)
            .option("checkpointLocation", f"{ck}-parser").queryName("parser").start(),
            "stats": stats_job(spark.readStream.schema(edits_schema).parquet(edits))
            .writeStream.outputMode("update").foreachBatch(self._sink)
            .option("checkpointLocation", f"{ck}-stats").queryName("stats").start(),
        }

    def _sink(self, df, batch_id) -> None:
        rows = df.collect()
        with self.cond:
            for r in rows:
                self.windows[r["window_start_epoch"]] = tuple(r[c] for c in ORACLE_COLS)
            self.commits.append((time.time(), sum(w[1] for w in self.windows.values())))
            self.cond.notify_all()

    def total(self) -> int:
        with self.cond:
            return self.commits[-1][1] if self.commits else 0

    def land(self) -> None:
        """Write the next slice to a hidden name, then rename it in."""
        i = self.next_file
        tmp = os.path.join(self.landing, f".part-{i:05d}.parquet")
        pq.write_table(self.slices[i], tmp)
        os.rename(tmp, os.path.join(self.landing, f"part-{i:05d}.parquet"))
        self.next_file += 1
        self.land_t.append(time.time())

    def wait_for(self, n_files: int, timeout: float = RESULT_TIMEOUT_S) -> float | None:
        """Time at which the stats stage had counted the first n files."""
        need, deadline = self.expected[n_files - 1], time.time() + timeout
        while time.time() < deadline:
            with self.cond:
                hit = next((t for t, c in self.commits if c >= need), None)
                if hit is None:
                    self.cond.wait(0.5)
            if hit is not None:
                return hit
            for q in self.queries.values():
                if q.exception() is not None:
                    raise RuntimeError(f"query {q.name} failed: {q.exception()}")
        return None

    def stop(self) -> None:
        for q in self.queries.values():
            q.stop()


def _spark_schema(events):
    from pyspark.sql.types import (DoubleType, LongType, StringType, StructField, StructType,
                                   TimestampNTZType)

    types = {"event_id": LongType(), "ts": TimestampNTZType(), "user_id": LongType(),
             "event_type": StringType(), "value": DoubleType(), "props": StringType()}
    return StructType([StructField(c, types[c]) for c in events.column_names])


def run(run_dir: str, seed: int, seconds: float, trace: bool, t_process: float):
    b = Bench(run_dir, trace, t_process)
    n_rate = int(round(seconds * FILES_PER_S))
    n_files = WARMUP_FILES + n_rate + (1 + DRAINS) * BACKLOG_FILES
    events = gen.stream_events(seed, n_files * EVENTS_PER_FILE)

    def round_fn(spark, d):
        # a stateful query keeps its shuffle partition count as its state
        # parallelism, which jobs.py says to size to the key space: here a
        # few dozen open windows, so one partition per core
        spark.conf.set("spark.sql.shuffle.partitions", str(cores()))
        topo = Topology(spark, d, events, n_files)
        for _ in range(WARMUP_FILES):
            topo.land()
        if topo.wait_for(WARMUP_FILES) is None:
            raise RuntimeError("warm-up files were never resulted")
        return topo

    topo = b.setup(round_fn, discard=lambda t: t.stop())

    with b.timed():
        due: list[float] = []
        with b.tracer.span("fixed_rate", "streaming") as fixed:
            t0 = time.time() + 0.05
            for i in range(n_rate):
                d = t0 + i / FILES_PER_S
                time.sleep(max(0.0, d - time.time()))
                with b.tracer.span("land", "bench"):
                    topo.land()
                due.append(d)
            lag_end = topo.next_file - _resulted_files(topo)
            topo.wait_for(topo.next_file)
        _drain(b, topo, "warm_drain")  # a timeout shows in the next drain
        drain_s = [_drain(b, topo) for _ in range(DRAINS)]
    topo.stop()
    first = WARMUP_FILES  # the first fixed-rate file
    late = [t - d for t, d in zip(topo.land_t[first:first + n_rate], due)]
    lat = attribute_latency(due, topo.expected[first:first + n_rate], topo.commits)
    log(f"fixed rate: {n_rate} files; max generator lateness {max(late):.3f}s")

    progress = {s: [_progress_dict(p) for p in q.recentProgress]
                for s, q in topo.queries.items()}
    run_ids = {s: q.runId for s, q in topo.queries.items()}
    _check(b, topo, lat, drain_s)
    elog, _ = b.finish()

    ok = [x for x in lat if x is not None]
    drained = [d for d in drain_s if d is not None] or [float("inf")]
    b.res.e2e["latency_p50_s"] = median(ok)
    b.res.layer["streaming.drain_events_per_s"] = (
        BACKLOG_FILES * EVENTS_PER_FILE / median(drained))
    # recorded, not gated: its run-to-run spread came close to any bound
    p90 = percentile(ok, 0.9, min_beyond=10)
    b.res.props.update({"events_per_file": EVENTS_PER_FILE, "files_per_s": FILES_PER_S,
                        "events_per_s": FILES_PER_S * EVENTS_PER_FILE,
                        "backlog_files": BACKLOG_FILES, "rate_files": n_rate,
                        "drain_s": drain_s, "latency_p90_s": p90,
                        "latencies_ms": [None if x is None else round(x * 1e3) for x in lat]})
    if trace:
        windows = {"fixed": (fixed["start"], fixed["end"])} | {
            f"drain{i}": (sp["start"], sp["end"]) for i, sp in enumerate(
                s for s in b.tracer.spans if s["name"] == "drain")}
        _layers(b, elog, progress, run_ids, windows, lag_end, max(late))
        b.res.layer["trace.latency_p90_s"] = p90
    return b.res


def _drain(b: Bench, topo: Topology, name: str = "drain") -> float | None:
    """Land a backlog at once; seconds until the stats stage counted it."""
    with b.tracer.span(name, "streaming"):
        t_land = time.time()
        for _ in range(BACKLOG_FILES):
            topo.land()
        t_done = topo.wait_for(topo.next_file)
    log(f"drain {BACKLOG_FILES} files: {(t_done or time.time()) - t_land:.2f}s")
    return None if t_done is None else t_done - t_land


def _resulted_files(topo: Topology) -> int:
    total = topo.total()
    return sum(1 for e in topo.expected if e <= total)


def _progress_dict(p) -> dict:
    raw = p.json
    return json.loads(raw() if callable(raw) else raw)


def _check(b: Bench, topo: Topology, lat, drain_s) -> None:
    import duckdb

    from samza_hello_samza_spark.operators.samza_surface import ORACLES

    from .common import duck_digest, rows_digest

    b.res.attempted += len(drain_s) + len(lat)  # the drains, every fixed-rate file
    b.res.failed += drain_s.count(None) + lat.count(None)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{topo.landing}/part-*.parquet')")
    cols = ", ".join(ORACLE_COLS)
    want = duck_digest(con, f"SELECT {cols} FROM ({ORACLES['wikipedia_stats']})")
    order = sorted(ORACLE_COLS)
    idx = [ORACLE_COLS.index(c) for c in order]
    got = (order, *rows_digest(order, ([w[i] for i in idx] for w in topo.windows.values())))
    b.res.attempted += 1
    if got != want:
        b.res.failed += 1
        b.res.mismatches.append({"check": "final windows", "stream": got[1:], "oracle": want[1:]})


def _layers(b: Bench, elog, progress, run_ids, windows, lag_end, late_max) -> None:
    L = b.res.layer
    lo = min(w[0] for w in windows.values())
    hi = max(w[1] for w in windows.values())
    wall = sum(w[1] - w[0] for w in windows.values())
    for stage, ps in progress.items():
        ps = [p for p in ps if p["numInputRows"] > 0
              and lo <= _epoch(p["timestamp"]) <= hi]
        dm = [p["durationMs"] for p in ps]
        pre = f"streaming.{stage}"
        L[f"{pre}.batch_ms"] = median([d.get("triggerExecution", 0) for d in dm])
        L[f"{pre}.busy_share"] = sum(d.get("triggerExecution", 0) for d in dm) / 1e3 / wall
        L[f"{pre}.listing_ms"] = median([d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dm])
        L[f"{pre}.planning_ms"] = median([d.get("queryPlanning", 0) for d in dm])
        L[f"{pre}.commit_ms"] = median([d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dm])
        L[f"{pre}.rows_per_batch"] = median([p["numInputRows"] for p in ps])
        jobs = [j for j in elog["jobs"].values()
                if j["group"] == run_ids[stage] and lo <= j["start"] <= hi]
        L[f"{pre}.jobs_per_batch"] = len(jobs) / max(1, len(ps))
        L[f"{pre}.task_s"] = sum(elog["stages"][s]["task_s"] for j in jobs for s in j["stages"]
                                 if s in elog["stages"])
        if stage == "stats":
            ops = [p["stateOperators"][0] for p in ps if p.get("stateOperators")]
            if ops:
                L[f"{pre}.state_rows"] = ops[-1]["numRowsTotal"]
                L[f"{pre}.state_mb"] = ops[-1]["memoryUsedBytes"] / 2**20
                L[f"{pre}.state_commit_ms"] = median([o["commitTimeMs"] for o in ops])
                L["streaming.watermark_drops"] = sum(o.get("numRowsDroppedByWatermark", 0)
                                                     for o in ops)
        b.res.ledger.append({"stage": stage, "batches": len(ps), **{
            k.split(".", 2)[2]: v for k, v in L.items() if k.startswith(pre + ".")}})
    L["streaming.lag_files_end"] = lag_end
    L["streaming.gen_late_max_s"] = late_max
    L["trace.latency_p50_s"] = b.res.e2e["latency_p50_s"]


def _epoch(iso: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(iso.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()
