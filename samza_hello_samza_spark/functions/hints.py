"""Size-gated join-strategy hints.

A raw ``F.broadcast(dim)`` *overrides* Spark's size threshold: the
planner will ship the frame to every executor no matter how big it
is. That is right for genuinely bounded relations (``nation`` is 25
rows at any scale factor, a scalar-subquery aggregate is 1 row) and
wrong for TPC-H-style dims that grow with the corpus — ``customer``
at the 100 TB target is ~1.5 TB, and a forced hint would OOM every
executor on the cluster.

``maybe_broadcast`` consults Catalyst's own statistics for the
frame's optimized logical plan (file-size based for parquet scans,
propagated estimates for derived plans) and only attaches the hint
when the estimate fits the budget. Otherwise the frame is returned
unhinted and the join strategy is left to the planner + AQE, which
re-checks sizes at runtime from actual shuffle statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Default byte budget for an *explicit* broadcast hint. Deliberately
#: larger than the 64 MB ``spark.sql.autoBroadcastJoinThreshold`` the
#: session sets: a hinted dim is one we know is reused across many
#: stages, so paying a bigger one-time ship is worth it — but it must
#: still fit comfortably in a single executor's memory alongside the
#: task working set. 256 MB is ~4 GB-executor-safe.
DEFAULT_BROADCAST_BUDGET = 256 * 1024 * 1024


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for ``df``'s optimized logical plan.

    Returns ``None`` when no meaningful estimate exists (statistics
    missing, or the conservative Long.MaxValue default), in which case
    callers must NOT broadcast — an unknown size is treated as big.
    """
    try:
        # py4j converts scala.math.BigInt to a plain Python int.
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # py4j/analysis failure → unknown → big
        return None
    # Catalyst uses Long.MaxValue-ish sentinels for "no idea".
    if size < 0 or size >= (1 << 62):
        return None
    return size


def maybe_broadcast(df: DataFrame, max_bytes: int = DEFAULT_BROADCAST_BUDGET) -> DataFrame:
    """Attach a broadcast hint only if the frame's estimated size fits.

    Unlike ``F.broadcast``, declining is safe at any scale: the join
    falls back to the planner's own choice (sort-merge or shuffled
    hash), and AQE's dynamic join-strategy switch can still demote it
    to a broadcast join at runtime if the *actual* size turns out
    small. Column attributes are preserved either way, so
    ``dim.col`` references written against the input keep resolving.
    """
    size = plan_size_bytes(df)
    if size is not None and size <= max_bytes:
        return F.broadcast(df)
    return df
