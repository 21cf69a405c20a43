"""How a micro-batch is applied: the one foreachBatch driver, the one
applied-batch gate, and the idempotent file sinks built on them.

Samza's delivery contract is at-least-once (duplicate processing after
a container restart is expected; see the reference's stateful tasks,
e.g. WikipediaStatsStreamTask's counters, which tolerate replays).
Structured Streaming upgrades that to effective exactly-once when each
micro-batch is applied once however often it is replayed: the
checkpoint names every micro-batch with a stable ``batch_id``, and the
fold keys its effect on that id.

- ``fold_stream`` is the package's only ``writeStream.foreachBatch``:
  it runs ``fold(batch, batch_id)`` on every non-empty micro-batch, and
  the Spark checkpoint resumes it. Its only knobs are the output mode
  and the ``availableNow`` trigger.
- A fold is replay-safe in one of three ways. It overwrites by batch
  id (the parquet sinks here, the serving results), it is idempotent
  by construction (absolute upserts, the versioned stores' own
  batch-id gate), or it is wrapped in ``applied_once``: skip if
  ``<checkpoint>/_applied/batch-<id>`` exists, else fold, then write
  that marker.
- The one at-least-once seam left is ``applied_once``'s: the fold has
  landed but its marker is not yet written. A crash there refolds the
  batch on restart. Folds that cannot tolerate that commit the batch
  id with their state instead (``incremental.VersionedState``,
  ``merge.VersionedMergeTable``'s ``txn``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..session import materialize, released

BATCH_COL = "batch_id"


def fold_stream(
    stream: DataFrame,
    checkpoint: str,
    fold,
    output_mode: str = "update",
    available_now: bool = False,
) -> StreamingQuery:
    """Start ``stream``, applying ``fold(batch, batch_id)`` to every
    non-empty micro-batch; the Spark checkpoint at ``checkpoint``
    resumes it. Each fold runs in its own ``released()`` scope, so
    nothing it materialises outlives its batch."""

    def _batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.isEmpty():
            with released():
                fold(batch, batch_id)

    writer = stream.writeStream.foreachBatch(_batch).outputMode(output_mode)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.option("checkpointLocation", checkpoint).start()


def applied_once(checkpoint: str, fold):
    """``fold`` behind the applied-batch marker gate: a batch id whose
    marker exists folds nothing; otherwise the fold runs and its marker
    is written after it returns, so a fold that raises leaves none. The
    markers live under the query's checkpoint and survive its restarts.

    Only the markers Spark could still replay are kept: after batch N's
    marker is written, those of batches N - ``minBatchesToRetain`` and
    older are deleted. Spark's checkpoint keeps the same window, so it
    never redelivers a batch that old."""
    marker_dir = os.path.join(checkpoint, "_applied")
    os.makedirs(marker_dir, exist_ok=True)

    def _once(batch: DataFrame, batch_id: int) -> None:
        marker = os.path.join(marker_dir, f"batch-{batch_id}")
        if os.path.exists(marker):
            return
        fold(batch, batch_id)
        with open(marker, "w") as fh:
            fh.write("applied")
        retain = int(batch.sparkSession.conf.get("spark.sql.streaming.minBatchesToRetain"))
        for name in os.listdir(marker_dir):
            if int(name.removeprefix("batch-")) <= batch_id - retain:
                os.remove(os.path.join(marker_dir, name))

    return _once


def write_batch_idempotent(df: DataFrame, batch_id: int, path: str) -> None:
    """Write one micro-batch under ``batch_id=N``; replay-safe.

    Dynamic partition overwrite replaces only this batch's partition —
    concurrent/earlier batches' output is untouched, and re-running
    the same batch (post-crash re-delivery) is a no-op state-wise.
    """
    (
        df.withColumn(BATCH_COL, F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BATCH_COL)
        .parquet(path)
    )


def idempotent_parquet_sink(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Start a stream writing exactly-once parquet batches to ``path``."""

    def fold(df: DataFrame, batch_id: int) -> None:
        write_batch_idempotent(df, batch_id, path)

    return fold_stream(
        stream, checkpoint, fold, output_mode="append", available_now=available_now
    )


# ---------------------------------------------------------------------------
# validated sink: CHECK constraints + dead-letter quarantine
# ---------------------------------------------------------------------------
#
# The streaming twin of sources/merge's CHECK constraints. A batch job
# can REJECT a bad write and make the producer fix it; a streaming
# pipeline cannot — failing the query on one bad record stalls the
# whole topic behind it (the classic poison-pill outage). The standard
# answer is a dead-letter route: rows that fail validation land in a
# QUARANTINE table tagged with the constraint they broke, clean rows
# flow on, and both writes stay batch-id idempotent so replays after a
# crash land on top of themselves.


def write_batch_validated(
    df: DataFrame,
    batch_id: int,
    path: str,
    quarantine_path: str,
    constraints: dict[str, str],
) -> None:
    """Split one micro-batch into clean/quarantined by CHECK
    constraints and write each side idempotently.

    Semantics match ``merge._check_constraints``: a row is clean iff
    EVERY expression evaluates to TRUE (NULL = violation). Quarantined
    rows carry ``_violated`` — a sorted array of the constraint names
    they broke — so the operator can replay them after a fix without
    re-deriving the reason. The split is ONE pass (a boolean column
    per constraint, computed once and reused by both filters inside
    the same materialisation), and each side is a dynamic-overwrite
    by-batch-id write: replaying a batch lands both sides on top of
    their previous output, so at-least-once delivery upgrades to
    effective exactly-once INCLUDING the dead letters.
    """
    checks = {
        name: F.coalesce(F.expr(expr), F.lit(False))
        for name, expr in sorted(constraints.items())
    }
    staged = df.withColumn(
        "_violated",
        F.array_sort(
            F.filter(
                F.array(
                    *[
                        F.when(~c, F.lit(name)).otherwise(F.lit(None))
                        for name, c in checks.items()
                    ]
                ),
                lambda x: x.isNotNull(),
            )
        ),
    ).transform(materialize, "bounded")  # evaluate the checks once for both routes
    write_batch_idempotent(
        staged.filter(F.size("_violated") == 0).drop("_violated"), batch_id, path
    )
    write_batch_idempotent(
        staged.filter(F.size("_violated") > 0), batch_id, quarantine_path
    )


def validated_parquet_sink(
    stream: DataFrame,
    path: str,
    quarantine_path: str,
    checkpoint: str,
    constraints: dict[str, str],
    available_now: bool = True,
) -> StreamingQuery:
    """Start a stream writing constraint-validated exactly-once parquet
    batches: clean rows to ``path``, violations (tagged ``_violated``)
    to ``quarantine_path``."""

    def fold(df: DataFrame, batch_id: int) -> None:
        write_batch_validated(df, batch_id, path, quarantine_path, constraints)

    return fold_stream(
        stream, checkpoint, fold, output_mode="append", available_now=available_now
    )
