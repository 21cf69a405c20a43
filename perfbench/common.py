"""Measurement helpers shared by the workloads; none of them start Spark."""

from __future__ import annotations

import decimal
import hashlib
import math
import os
import statistics
import sys
import threading
import time


class TooFewSamples(ValueError):
    pass


def percentile(values, q: float, min_beyond: int = 0) -> float:
    """Nearest-rank ``q``-quantile (0 < q < 1) of ``values``.

    ``min_beyond`` is the tail rule: at least that many samples must lie
    strictly above the reported rank, otherwise the figure is a guess at
    the tail rather than a measurement of it and ``TooFewSamples`` is
    raised. For p90 with ``min_beyond=10`` that means >= 100 samples.
    """
    xs = sorted(values)
    if not xs:
        raise TooFewSamples("no samples")
    rank = max(1, math.ceil(q * len(xs)))
    if len(xs) - rank < min_beyond:
        raise TooFewSamples(
            f"p{round(q * 100)} of {len(xs)} samples leaves {len(xs) - rank} "
            f"beyond it; {min_beyond} required")
    return xs[rank - 1]


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def driver_gap(call: tuple[float, float], job_intervals) -> float:
    """Call wall minus the part of it covered by at least one Spark job."""
    lo, hi = call
    return (hi - lo) - union_length(clip(job_intervals, lo, hi))


# -- result comparison (tools/driver_sim.py's normalisation) --------------

def norm(v) -> str:
    """One value as tools/driver_sim.py compares it: 6-dp floats, isoformat times."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{round(v, 6):.6f}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(str(norm(x)) for x in v) + "]"
    return str(v)


def rows_digest(cols: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive sha256) of tuples in ``cols`` order."""
    lines = sorted("|".join(norm(v) for v in r) for r in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()


def spark_digest(df_or_rows, cols: list[str] | None = None) -> tuple[list[str], int, str]:
    """Digest of Spark rows (a DataFrame, or already-collected Rows)."""
    rows = df_or_rows.collect() if hasattr(df_or_rows, "collect") else df_or_rows
    if cols is None:
        cols = sorted(df_or_rows.columns) if hasattr(df_or_rows, "columns") else (
            sorted(rows[0].asDict()) if rows else [])
    n, h = rows_digest(cols, ([r[c] for c in cols] for r in rows))
    return cols, n, h


def _duck_value(v):
    # driver_sim reads oracles through pandas, which turns DECIMAL into
    # float64; NULLs stay None here instead of becoming NaN
    return float(v) if isinstance(v, decimal.Decimal) else v


def duck_digest(con, sql: str) -> tuple[list[str], int, str]:
    """Digest of a DuckDB query's rows, fetched as Python values (no pandas)."""
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    cols = sorted(names)
    idx = [names.index(c) for c in cols]
    n, h = rows_digest(cols, ([_duck_value(r[i]) for i in idx] for r in cur.fetchall()))
    return cols, n, h


# -- process-tree memory ----------------------------------------------------

def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(x) for x in fh.read().split())
    except OSError:
        pass
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants, as the sum of
    their proportional set sizes: pages shared by forked Python workers
    count once, not once per process."""
    total, stack, seen = 0, [root], set()
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            total += _pss_bytes(pid)
        except OSError:
            continue
        stack.extend(_children(pid))
    return total


class RssSampler:
    """Samples the resident memory of this process and all its descendants
    (JVM and Python workers) every ``period`` seconds; ``peak`` is the
    largest sum."""

    def __init__(self, period: float = 0.2):
        self.period, self.peak = period, 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.period)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()


def now() -> float:
    return time.perf_counter()


_T0 = time.time()


def log(msg: str) -> None:
    """Progress line on stderr (stdout carries only the result)."""
    print(f"[perfbench {time.time() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)
