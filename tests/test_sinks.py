"""Exactly-once foreachBatch sink: replayed batches don't duplicate."""

from __future__ import annotations

import os

import pytest

from samza_hello_samza_spark.session import load_table
from samza_hello_samza_spark.streaming import sinks
from samza_hello_samza_spark.streaming.sources import events_stream
from tests.conftest import SF_DIR
from tests.test_state_store import _package_sources


def test_sink_writes_all_rows(spark, tmp_path):
    out = str(tmp_path / "out")
    q = sinks.idempotent_parquet_sink(
        events_stream(spark, SF_DIR), out, str(tmp_path / "ck")
    )
    q.awaitTermination(120)
    src = load_table(spark, SF_DIR, "events")
    back = spark.read.parquet(out)
    assert back.count() == src.count()


def test_replayed_batch_is_idempotent(spark, tmp_path):
    out = str(tmp_path / "out")
    df = load_table(spark, SF_DIR, "events").limit(100)
    sinks.write_batch_idempotent(df, 0, out)
    first = spark.read.parquet(out).count()
    # crash/redelivery: the same micro-batch id arrives again
    sinks.write_batch_idempotent(df, 0, out)
    assert spark.read.parquet(out).count() == first == 100
    # a NEW batch id appends rather than overwriting others
    sinks.write_batch_idempotent(df, 1, out)
    assert spark.read.parquet(out).count() == 200


# ---------------------------------------------------------------------------
# validated sink: CHECK constraints + dead-letter quarantine (r06)
# ---------------------------------------------------------------------------


def test_validated_sink_splits_and_tags(spark, tmp_path):
    """Clean rows reach the main table, violations land quarantined
    with the SORTED list of constraint names they broke; the union is
    the input (nothing dropped, nothing duplicated)."""
    out, dlq = str(tmp_path / "out"), str(tmp_path / "dlq")
    df = spark.createDataFrame(
        [(1, 5, "open"), (2, None, "open"), (3, -1, "weird"), (4, 2, "closed")],
        "k long, qty long, status string",
    )
    cons = {
        "qty_pos": "qty > 0",
        "status_known": "status IN ('open','closed')",
    }
    sinks.write_batch_validated(df, 0, out, dlq, cons)
    clean = spark.read.parquet(out)
    assert sorted(r.k for r in clean.collect()) == [1, 4]
    assert "_violated" not in clean.columns
    bad = {r.k: list(r._violated) for r in spark.read.parquet(dlq).collect()}
    assert bad == {2: ["qty_pos"], 3: ["qty_pos", "status_known"]}


def test_validated_sink_replay_is_idempotent_both_sides(spark, tmp_path):
    out, dlq = str(tmp_path / "out"), str(tmp_path / "dlq")
    df = spark.createDataFrame(
        [(i, i % 3 - 1) for i in range(30)], "k long, qty long"
    )
    cons = {"qty_pos": "qty > 0"}
    sinks.write_batch_validated(df, 0, out, dlq, cons)
    a = (spark.read.parquet(out).count(), spark.read.parquet(dlq).count())
    sinks.write_batch_validated(df, 0, out, dlq, cons)  # crash redelivery
    b = (spark.read.parquet(out).count(), spark.read.parquet(dlq).count())
    assert a == b == (10, 20)
    sinks.write_batch_validated(df, 1, out, dlq, cons)  # a NEW batch appends
    assert spark.read.parquet(out).count() == 20
    assert spark.read.parquet(dlq).count() == 40


def test_validated_streaming_end_to_end_matches_batch_rules(spark, tmp_path):
    """The streaming sink's split over the events topic equals the
    batch filter — stream ≡ batch, the repo's streaming-twin rule."""
    out, dlq = str(tmp_path / "out"), str(tmp_path / "dlq")
    cons = {"value_nonneg": "value >= 0", "user_known": "user_id IS NOT NULL"}
    q = sinks.validated_parquet_sink(
        events_stream(spark, SF_DIR), out, dlq, str(tmp_path / "ck"), cons
    )
    q.awaitTermination(120)
    src = load_table(spark, SF_DIR, "events")
    want_clean = src.filter("value >= 0 AND user_id IS NOT NULL").count()
    got_clean = spark.read.parquet(out).count()
    assert got_clean == want_clean
    import glob
    has_dlq_files = bool(glob.glob(dlq + "/**/*.parquet", recursive=True))
    dlq_rows = spark.read.parquet(dlq).count() if has_dlq_files else 0
    assert got_clean + dlq_rows == src.count()


# ---------------------------------------------------------------------------
# the one micro-batch driver and the one applied-batch gate
# ---------------------------------------------------------------------------


def _counting_fold(folded: list):
    def fold(batch, batch_id):
        folded.append((batch_id, batch.count()))

    return fold


def test_applied_once_redelivered_batch_folds_nothing(spark, tmp_path):
    ck = str(tmp_path / "ck")
    batch = spark.range(12)
    folded = []
    once = sinks.applied_once(ck, _counting_fold(folded))
    once(batch, 0)
    once(batch, 0)  # redelivery after the marker landed
    once(batch, 1)
    assert folded == [(0, 12), (1, 12)]
    # a restarted query wraps the fold again over the same checkpoint
    sinks.applied_once(ck, _counting_fold(folded))(batch, 1)
    assert folded == [(0, 12), (1, 12)]


def test_applied_once_failed_fold_leaves_no_marker_and_retries_once(
    spark, tmp_path
):
    ck = str(tmp_path / "ck")
    batch = spark.range(5)
    attempts, folded = [], []

    def flaky(b, batch_id):
        attempts.append(batch_id)
        if len(attempts) == 1:
            raise RuntimeError("crash inside the fold")
        folded.append((batch_id, b.count()))

    once = sinks.applied_once(ck, flaky)
    with pytest.raises(RuntimeError):
        once(batch, 7)
    assert os.listdir(os.path.join(ck, "_applied")) == []
    once(batch, 7)  # the replay after the crash
    once(batch, 7)  # and a redelivery after it
    assert attempts == [7, 7]
    assert folded == [(7, 5)]


def test_applied_once_marker_path(spark, tmp_path):
    ck = str(tmp_path / "ck")
    sinks.applied_once(ck, lambda b, i: None)(spark.range(3), 42)
    assert os.listdir(os.path.join(ck, "_applied")) == ["batch-42"]


def test_applied_once_keeps_only_the_replayable_markers(spark, tmp_path):
    """Markers older than Spark's own ``minBatchesToRetain`` window are
    deleted, so the marker dir stays bounded; the batches still inside
    the window, the latest included, still fold nothing on redelivery."""
    ck = str(tmp_path / "ck")
    batch = spark.range(4)
    folded = []
    once = sinks.applied_once(ck, _counting_fold(folded))
    spark.conf.set("spark.sql.streaming.minBatchesToRetain", "3")
    try:
        for batch_id in range(10):
            once(batch, batch_id)
            assert len(os.listdir(os.path.join(ck, "_applied"))) <= 3
        once(batch, 9)  # redelivery of the latest batch
        once(batch, 8)
    finally:
        spark.conf.unset("spark.sql.streaming.minBatchesToRetain")
    assert sorted(os.listdir(os.path.join(ck, "_applied"))) == [
        "batch-7", "batch-8", "batch-9"
    ]
    assert folded == [(i, 4) for i in range(10)]


def test_serving_loop_replay_overwrites_its_own_batch_partition(spark, tmp_path):
    """Replaying a batch id through the serving loop lands on its own
    ``_batch_id`` partition; the other batch stays untouched."""
    from samza_hello_samza_spark.streaming import maintenance

    out = str(tmp_path / "results")

    def answerer(spark):
        return lambda q: spark.createDataFrame(
            [(int(q.query_id) * 10, 0.5)], "vec_id long, cosine double"
        )

    serve = maintenance._serve_batches(out, (), answerer)
    serve(spark.createDataFrame([(1,), (2,)], "query_id long"), 0)
    serve(spark.createDataFrame([(3,)], "query_id long"), 1)
    serve(spark.createDataFrame([(3,)], "query_id long"), 1)  # replay
    rows = sorted(
        (r._batch_id, r.query_id, r.vec_id, r.cosine)
        for r in spark.read.parquet(out).collect()
    )
    assert rows == [(0, 1, 10, 0.5), (0, 2, 20, 0.5), (1, 3, 30, 0.5)]


def _package_calls():
    """(module path, enclosing function, node) for every node inside a
    function of the package."""
    import ast

    for rel, src in _package_sources():
        for fn in ast.walk(ast.parse(src)):
            if isinstance(fn, ast.FunctionDef):
                for node in ast.walk(fn):
                    yield rel, fn.name, node


def test_one_foreach_batch_driver_and_one_applied_gate():
    """Every foreachBatch in the package is ``sinks.fold_stream``'s, and
    the ``_applied`` marker dir is built only by ``sinks.applied_once``."""
    import ast

    drivers, gates = set(), set()
    for rel, fn, node in _package_calls():
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "foreachBatch"
        ):
            drivers.add((rel, fn, node.lineno))
        if isinstance(node, ast.Constant) and node.value == "_applied":
            gates.add((rel, fn, node.lineno))
    assert [(r, f) for r, f, _ in drivers] == [("streaming/sinks.py", "fold_stream")]
    assert [(r, f) for r, f, _ in gates] == [("streaming/sinks.py", "applied_once")]
    assert sum(src.count("foreachBatch(") for _, src in _package_sources()) == 1
