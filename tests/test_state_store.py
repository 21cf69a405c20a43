"""One versioned state store for every incremental fold.

The crash/replay matrix runs every user of ``incremental.VersionedState``
through the same five steps: fold batch A; crash at the commit point
while folding batch B (readers must see exactly the post-A rows); retry
B (the state must equal an uninterrupted A+B run); redeliver B (no new
version); at most two versions left on disk. The guard test keeps the
package at one versioned-state commit and one JSON-replace function.
"""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import functions as F

import samza_hello_samza_spark
from samza_hello_samza_spark.sources import incremental
from samza_hello_samza_spark.sources.incremental import VersionedState
from samza_hello_samza_spark.sources.topic_log import TopicLog
from samza_hello_samza_spark.streaming import maintenance
from tests.conftest import SF_DIR
from tests.test_maintenance import _produce_events, commit_point_fails

_EVENTS_COLS = ("event_id", "user_id", "event_type", "value", "ts")


def _halves(spark, table: str, order: str, cols=None):
    """Rows 0-24 and 25-49 of ``table`` by ``order`` — batches A and B."""
    from samza_hello_samza_spark.session import load_table

    df = load_table(spark, SF_DIR, table)
    rows = df.select(*(cols or df.columns)).orderBy(order).limit(50).collect()
    schema = df.select(*(cols or df.columns)).schema
    return (
        spark.createDataFrame(rows[:25], schema),
        spark.createDataFrame(rows[25:], schema),
    )


def _fold_case(fold, table, order, cols=None, names=("state",)):
    def make(spark, root):
        a, b = _halves(spark, table, order, cols)
        return (
            lambda: fold(a, root, batch_id=0),
            lambda: fold(b, root, batch_id=1),
            lambda: fold(b, root, batch_id=1),
            names,
        )

    return make


def _update_case(update, **kw):
    def make(spark, root):
        a, b = _halves(spark, "events", "event_id", _EVENTS_COLS)
        if update is incremental.update_aggregate_signed:
            a = a.withColumn("_sign", F.lit(1))
            b = b.withColumn("_sign", F.when(F.col("event_id") % 3 == 0, -1).otherwise(1))
        return (
            lambda: update(spark, root, a, batch_id=0, **kw),
            lambda: update(spark, root, b, batch_id=1, **kw),
            lambda: update(spark, root, b, batch_id=1, **kw),
            ("state",),
        )

    return make


def _txn_view_case(spark, root):
    topic = TopicLog(spark, root + "_topic", n_partitions=2)
    tv = maintenance.TxnView(spark, root, {"events": topic})

    def fold_a():
        _produce_events(spark, topic, [(i % 4, "view", float(i)) for i in range(12)])
        n = tv.cycle()
        # B lands in the topic now, outside the crash window of step 2
        _produce_events(spark, topic, [(i % 5, "click", 0.5 * i) for i in range(12)])
        return n

    # B's cycle; redelivery is the next cycle over the committed offsets
    return (fold_a, tv.cycle, tv.cycle, ("state",))


def _cdf_case(spark, root):
    from samza_hello_samza_spark.session import write_json_atomic
    from samza_hello_samza_spark.sources.merge import VersionedMergeTable

    tbl = VersionedMergeTable(spark, root + "_table", "k", n_buckets=2)
    tbl.write_full(
        spark.createDataFrame(
            [(i, f"g{i % 3}", float(i)) for i in range(20)],
            "k long, grp string, value double",
        )
    )
    topic = TopicLog(spark, root + "_topic", n_partitions=2)
    cursor = root + "_cursor.json"
    schema = "k BIGINT, grp STRING, value DOUBLE, _change_type STRING, _commit_version BIGINT"

    def fold():
        return maintenance.fold_cdf_from_topic(
            spark, topic, "downstream", root, schema, keys=["grp"], value_col="value"
        )

    def fold_a():
        maintenance.publish_cdf(tbl, topic, cursor, key_col="k")
        n = fold()
        # version 2 (updates, inserts, deletes) is published before step 2
        tbl.merge(
            spark.createDataFrame(
                [(i, "g_new", 100.0 + i) for i in (0, 4, 8, 12, 25)]
                + [(i, "del", 0.0) for i in (1, 6, 11)],
                "k long, grp string, value double",
            ),
            delete_cond=F.col("s.grp") == "del",
        )
        maintenance.publish_cdf(tbl, topic, cursor, key_col="k")
        return n

    def redeliver_b():
        # a publisher that lost its cursor re-ships version 2
        write_json_atomic(cursor, {"version": 1})
        maintenance.publish_cdf(tbl, topic, cursor, key_col="k")
        return fold()

    return (fold_a, fold, redeliver_b, ("state",))


CASES = {
    "fold_cms_cells": _fold_case(maintenance.fold_cms_cells, "events", "event_id", _EVENTS_COLS),
    "fold_kmv_sample": _fold_case(maintenance.fold_kmv_sample, "events", "event_id", _EVENTS_COLS),
    "fold_audience_kmv": _fold_case(maintenance.fold_audience_kmv, "events", "event_id", _EVENTS_COLS),
    "fold_domain_wordcounts": _fold_case(maintenance.fold_domain_wordcounts, "documents", "doc_id"),
    "fold_window_fingerprints": _fold_case(maintenance.fold_window_fingerprints, "documents", "doc_id"),
    "fold_dsir_state": _fold_case(maintenance.fold_dsir_state, "documents", "doc_id"),
    "fold_growth_accounting": _fold_case(
        maintenance.fold_growth_accounting, "events", "ts", _EVENTS_COLS, ("users", "daily")
    ),
    "txn_view_cycle": _txn_view_case,
    "update_aggregate": _update_case(incremental.update_aggregate),
    "update_aggregate_signed": _update_case(incremental.update_aggregate_signed, keys=["user_id"]),
    "update_distinct_sketch": _update_case(incremental.update_distinct_sketch),
    "fold_cdf_from_topic": _cdf_case,
}


def _rows(spark, root, names):
    store = VersionedState(spark, root)
    out = {}
    for name in names:
        df = store.read(name)
        if "sketch" in df.columns:  # compare HLL state by its estimate
            df = incremental.read_distinct_estimate(spark, root)
        out[name] = sorted(map(str, df.collect()))
    return out


@pytest.mark.parametrize("case", sorted(CASES))
def test_crash_replay_matrix(spark, tmp_path, case):
    fold_a, fold_b, redeliver_b, names = CASES[case](spark, str(tmp_path / "s"))
    store = VersionedState(spark, str(tmp_path / "s"))

    # 1. fold A
    fold_a()
    post_a, man_a = _rows(spark, store.root, names), store.manifest()
    assert man_a["version"] == 1

    # 2. crash at the commit point while folding B: readers stay on post-A
    # and the fold leaves nothing cached in the session
    spark.catalog.clearCache()
    with commit_point_fails(), pytest.raises(OSError):
        fold_b()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert store.manifest() == man_a
    assert _rows(spark, store.root, names) == post_a

    # 3. retry B: equal to an uninterrupted A+B run
    fold_b()
    ref_a, ref_b, _, _ = CASES[case](spark, str(tmp_path / "ref"))
    ref_a()
    ref_b()
    got = _rows(spark, store.root, names)
    assert got == _rows(spark, str(tmp_path / "ref"), names)
    assert got != post_a
    man_b = store.manifest()
    assert man_b["version"] == 2

    # 4. redeliver B: no new version
    redeliver_b()
    assert store.manifest() == man_b
    assert _rows(spark, store.root, names) == got

    # 5. at most two versions on disk
    assert store.versions() == [1, 2]


def _package_sources():
    root = pathlib.Path(samza_hello_samza_spark.__file__).parent
    for path in sorted(root.rglob("*.py")):
        yield path.relative_to(root).as_posix(), path.read_text()


def test_one_commit_for_versioned_state_and_json_files():
    """Every JSON file the package replaces goes through
    ``session.write_json_atomic``; the create-once ``os.link`` publish is
    the one other JSON writer. No fixed ``MANIFEST.json.tmp`` name, and
    the incremental aggregates keep no staging-dir swap."""
    allowed = {
        ("session.py", "write_json_atomic"),
        ("operators/ann_index.py", "publish_create_once"),
    }
    found = set()
    for rel, src in _package_sources():
        assert "MANIFEST.json.tmp" not in src, rel
        tree = ast.parse(src)
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "dump"
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id in ("json", "_json")
                ):
                    found.add((rel, fn.name))
    assert found == allowed

    inc = dict(_package_sources())["sources/incremental.py"]
    assert ".staging" not in inc and "os.rename" not in inc and "rmtree(state_path" not in inc
    commits = [
        (rel, n.name)
        for rel, src in _package_sources()
        for n in ast.walk(ast.parse(src))
        if isinstance(n, ast.ClassDef) and n.name == "VersionedState"
    ]
    assert commits == [("sources/incremental.py", "VersionedState")]
