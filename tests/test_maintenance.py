"""Continuous-maintenance jobs: live LSH index upkeep + topic-fed views."""

from __future__ import annotations

import contextlib
import os
from unittest import mock

import numpy as np
import pytest
from pyspark.sql import functions as F

from samza_hello_samza_spark.operators import ann_index, similarity
from samza_hello_samza_spark.sources.incremental import VersionedState
from samza_hello_samza_spark.sources.topic_log import TopicLog
from samza_hello_samza_spark.streaming import maintenance
from tests.conftest import SF_DIR

NEW_VEC_ID = 999_999


@contextlib.contextmanager
def commit_point_fails():
    """A crash at the state store's only commit point: the manifest
    replace inside ``session.write_json_atomic`` raises, after the new
    version's snapshots were written."""

    def crash(*_a, **_k):
        raise OSError("simulated crash at the manifest replace")

    with mock.patch.object(os, "replace", crash):
        yield


def _manifest(spark, state: str) -> dict:
    return VersionedState(spark, state).manifest()


def _file_snapshot(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


def _query_clone_df(spark):
    """A brand-new vector identical to the standard query vector — it
    must collide with the query in every band once indexed."""
    qvec = similarity._query_vector(spark, SF_DIR)
    return spark.createDataFrame(
        [(NEW_VEC_ID, [float(x) for x in qvec])], "vec_id BIGINT, v ARRAY<DOUBLE>"
    )


def test_append_lsh_index_incremental(spark, tmp_path):
    idx = ann_index.build_lsh_index(
        spark, SF_DIR, similarity.PLANES, similarity.LSH_BAND_BITS, out_dir=str(tmp_path / "lsh")
    )
    qvec = similarity._query_vector(spark, SF_DIR)
    before_ids = {
        r.vec_id
        for r in ann_index.probe_lsh_index(
            spark, idx, qvec, similarity.PLANES, similarity.LSH_BAND_BITS
        ).collect()
    }
    assert NEW_VEC_ID not in before_ids
    before_files = _file_snapshot(idx)

    ann_index.append_lsh_index(
        idx, _query_clone_df(spark), similarity.PLANES, similarity.LSH_BAND_BITS
    )

    after_ids = {
        r.vec_id
        for r in ann_index.probe_lsh_index(
            spark, idx, qvec, similarity.PLANES, similarity.LSH_BAND_BITS
        ).collect()
    }
    assert NEW_VEC_ID in after_ids, "appended vector must be searchable"
    assert before_ids <= after_ids, "append must not lose existing vectors"

    after_files = _file_snapshot(idx)
    for path, size in before_files.items():
        assert after_files.get(path) == size, f"existing index file rewritten: {path}"
    assert len(after_files) > len(before_files), "append must add files, not rewrite"


def test_lsh_index_updater_stream(spark, tmp_path):
    idx = ann_index.build_lsh_index(
        spark, SF_DIR, similarity.PLANES, similarity.LSH_BAND_BITS, out_dir=str(tmp_path / "lsh")
    )
    delta_dir = str(tmp_path / "delta")
    _query_clone_df(spark).write.parquet(delta_dir)
    stream = spark.readStream.schema("vec_id BIGINT, v ARRAY<DOUBLE>").parquet(delta_dir)
    q = maintenance.lsh_index_updater(
        stream, idx, similarity.PLANES, similarity.LSH_BAND_BITS,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    qvec = similarity._query_vector(spark, SF_DIR)
    ids = {
        r.vec_id
        for r in ann_index.probe_lsh_index(
            spark, idx, qvec, similarity.PLANES, similarity.LSH_BAND_BITS
        ).collect()
    }
    assert NEW_VEC_ID in ids


def test_append_ivf_index_incremental(spark, tmp_path):
    idx = ann_index.build_ivf_index(
        spark, SF_DIR, similarity.IVF_NLIST, out_dir=str(tmp_path / "ivf")
    )
    qvec = similarity._query_vector(spark, SF_DIR)
    before = {
        r.vec_id
        for r in ann_index.probe_ivf_index(spark, idx, qvec, similarity.IVF_NPROBE).collect()
    }
    assert NEW_VEC_ID not in before
    ann_index.append_ivf_index(spark, idx, _query_clone_df(spark))
    after = {
        r.vec_id
        for r in ann_index.probe_ivf_index(spark, idx, qvec, similarity.IVF_NPROBE).collect()
    }
    assert NEW_VEC_ID in after, "appended vector must land in a probed list"
    assert before <= after


def test_compact_index_partition_preserves_probe(spark, tmp_path):
    """Many small appends → per-partition compaction shrinks file count
    without changing probe results (the ops path for a live index)."""
    from samza_hello_samza_spark.sources.compaction import compact_parquet

    idx = ann_index.build_lsh_index(
        spark, SF_DIR, similarity.PLANES, similarity.LSH_BAND_BITS, out_dir=str(tmp_path / "lsh")
    )
    for _ in range(4):
        ann_index.append_lsh_index(
            idx, _query_clone_df(spark), similarity.PLANES, similarity.LSH_BAND_BITS
        )
    qvec = similarity._query_vector(spark, SF_DIR)
    code0 = ann_index.band_codes(qvec, similarity.PLANES, similarity.LSH_BAND_BITS)[0]
    part_dir = os.path.join(idx, "band=0", f"code={code0}")
    ids_before = {
        r.vec_id
        for r in ann_index.probe_lsh_index(
            spark, idx, qvec, similarity.PLANES, similarity.LSH_BAND_BITS
        ).collect()
    }
    n_before, n_after = compact_parquet(spark, part_dir, target_bytes=64 * 1024 * 1024)
    assert n_after < n_before, f"compaction was a no-op: {n_before} -> {n_after}"
    ids_after = {
        r.vec_id
        for r in ann_index.probe_lsh_index(
            spark, idx, qvec, similarity.PLANES, similarity.LSH_BAND_BITS
        ).collect()
    }
    assert ids_after == ids_before


def _produce_events(spark, topic: TopicLog, rows):
    df = spark.createDataFrame(rows, "user_id BIGINT, event_type STRING, value DOUBLE")
    payload = df.select(
        F.col("user_id").cast("string").alias("k"),
        F.to_json(F.struct("user_id", "event_type", "value")).alias("v"),
    )
    topic.produce(payload, key_col="k", value_col="v")


def test_one_topic_txn_view_matches_full_recompute(spark, tmp_path):
    topic = TopicLog(spark, str(tmp_path / "topic"), n_partitions=2)
    tv = maintenance.TxnView(spark, str(tmp_path / "state"), {"events": topic})

    def view():
        return {
            r.user_id: (r.n_events, r.total_value) for r in tv.read_view().collect()
        }

    _produce_events(spark, topic, [(1, "view", 10.0), (2, "click", 5.0), (1, "view", 2.5)])
    assert tv.cycle() == 3

    # two more batches land; one cycle folds both deltas
    _produce_events(spark, topic, [(1, "purchase", 100.0), (3, "view", 1.0)])
    _produce_events(spark, topic, [(2, "view", 7.0)])
    assert tv.cycle() == 3

    got = view()
    full = {
        r.user_id: (r.n_events, r.total_value)
        for r in (
            maintenance.parse_events_json(topic.read_all())
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .collect()
        )
    }
    assert got == full

    # drained topic → no-op cycle, state unchanged
    assert tv.cycle() == 0
    assert view() == got


def test_txn_view_folds_two_topics_atomically(spark, tmp_path):
    """Multi-topic view: one cycle drains both topics, the view matches
    a full recompute over both logs, and a drained cycle is a no-op."""
    views = TopicLog(spark, str(tmp_path / "views"), n_partitions=2)
    clicks = TopicLog(spark, str(tmp_path / "clicks"), n_partitions=2)
    tv = maintenance.TxnView(
        spark, str(tmp_path / "tv"), {"views": views, "clicks": clicks}
    )

    _produce_events(spark, views, [(1, "view", 1.0), (2, "view", 1.0), (1, "view", 1.0)])
    _produce_events(spark, clicks, [(1, "click", 0.5)])
    assert tv.cycle() == 4

    _produce_events(spark, views, [(3, "view", 1.0)])
    _produce_events(spark, clicks, [(2, "click", 0.25), (1, "click", 0.5)])
    assert tv.cycle() == 3

    got = {
        (r.user_id, r.topic): (r.n_events, r.total_value)
        for r in tv.read_view().collect()
    }
    assert got == {
        (1, "views"): (2, 2.0),
        (2, "views"): (1, 1.0),
        (3, "views"): (1, 1.0),
        (1, "clicks"): (2, 1.0),
        (2, "clicks"): (1, 0.25),
    }
    assert tv.cycle() == 0
    assert {
        (r.user_id, r.topic): (r.n_events, r.total_value)
        for r in tv.read_view().collect()
    } == got


def test_txn_view_crash_before_commit_replays_exactly_once(spark, tmp_path):
    """Crash between the state write and the manifest replace: readers
    stay on the pre-state, the next cycle re-drains BOTH topics'
    deltas, and the committed view ends exact — no loss, no double
    count (exactly-once by single-commit atomicity)."""
    views = TopicLog(spark, str(tmp_path / "views"), n_partitions=2)
    clicks = TopicLog(spark, str(tmp_path / "clicks"), n_partitions=2)
    tv = maintenance.TxnView(spark, str(tmp_path / "tv"), {"views": views, "clicks": clicks})

    def view():
        return {
            (r.user_id, r.topic): (r.n_events, r.total_value)
            for r in tv.read_view().collect()
        }

    _produce_events(spark, views, [(1, "view", 1.0), (2, "view", 1.0)])
    _produce_events(spark, clicks, [(1, "click", 0.5)])
    assert tv.cycle() == 3
    v1 = view()

    _produce_events(spark, views, [(3, "view", 1.0), (1, "view", 1.0)])
    _produce_events(spark, clicks, [(2, "click", 0.25)])
    with commit_point_fails(), pytest.raises(OSError):
        tv.cycle()
    assert view() == v1  # the v2 snapshot written before the crash is invisible
    assert tv.cycle() == 3  # re-drains the same deltas from both topics
    assert view() == {
        (1, "views"): (2, 2.0),
        (2, "views"): (1, 1.0),
        (3, "views"): (1, 1.0),
        (1, "clicks"): (1, 0.5),
        (2, "clicks"): (1, 0.25),
    }


def test_txn_view_gc_keeps_bounded_versions(spark, tmp_path):
    views = TopicLog(spark, str(tmp_path / "views"), n_partitions=2)
    tv = maintenance.TxnView(spark, str(tmp_path / "tv"), {"views": views})
    for i in range(4):
        _produce_events(spark, views, [(i, "view", 1.0)])
        assert tv.cycle() == 1
    assert tv.store.versions() == [3, 4]  # current + previous


def test_cms_updater_stream_matches_batch_sketch(spark, tmp_path):
    """Two micro-batches folded into the sketch state must estimate
    every user at >= its true total count (CMS invariant over the
    whole stream), and exactly equal the batch-built sketch."""
    import shutil

    from samza_hello_samza_spark.operators import sketches

    src = str(tmp_path / "src")
    os.makedirs(src)
    base = os.path.join(SF_DIR, "events.parquet")
    shutil.copy(base, os.path.join(src, "b1.parquet"))
    shutil.copy(base, os.path.join(src, "b2.parquet"))

    schema = spark.read.parquet(base).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    state = str(tmp_path / "cms_state")
    q = maintenance.cms_updater(stream, state, "user_id", str(tmp_path / "ck"))
    q.processAllAvailable()
    q.stop()

    events = spark.read.parquet(base)
    users = events.select("user_id").distinct()
    est = {
        r.user_id: r.est_count
        for r in maintenance.cms_estimate(spark, state, users, "user_id").collect()
    }
    exact = {
        r.user_id: r.cnt
        for r in events.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    for uid, cnt in exact.items():
        assert est[uid] >= 2 * cnt, (uid, est[uid], cnt)  # stream saw the file twice

    # state equals a batch-built sketch of the doubled stream
    batch_cells = {}
    doubled = events.unionByName(events)
    pairs = F.array(
        *[
            F.struct(
                F.lit(row).alias("row"),
                sketches._cms_bucket(F.col("user_id"), row).alias("bucket"),
            )
            for row in range(sketches.CMS_D)
        ]
    )
    for r in (
        doubled.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.row").alias("row"), F.col("p.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    ):
        batch_cells[(r.row, r.bucket)] = r.cnt
    stream_cells = {
        (r.row, r.bucket): r.cnt
        for r in maintenance.read_cms_cells(spark, state).collect()
    }
    assert stream_cells == batch_cells


def test_index_snapshot_isolates_uncommitted_appends(spark, tmp_path):
    """Manifest readers must see all of an append or none of it: a probe
    after files land but BEFORE the manifest commit returns the old
    snapshot; after commit it sees the new vector in every band."""
    idx = str(tmp_path / "lsh_versioned")
    ann_index.build_lsh_index(
        spark, SF_DIR, similarity.PLANES, similarity.LSH_BAND_BITS, out_dir=idx
    )
    man1 = ann_index.commit_index_snapshot(idx)
    assert man1["version"] == 1 and man1["files"]

    qvec = similarity._query_vector(spark, SF_DIR)
    before = {
        r.vec_id
        for r in ann_index.probe_lsh_snapshot(
            spark, idx, qvec, similarity.PLANES, similarity.LSH_BAND_BITS
        ).collect()
    }
    assert NEW_VEC_ID not in before

    # append lands on disk — snapshot readers must NOT see it yet
    ann_index.append_lsh_index(
        idx, _query_clone_df(spark), similarity.PLANES, similarity.LSH_BAND_BITS
    )
    assert len(ann_index._list_parquet_files(idx)) > len(man1["files"])
    mid = {
        r.vec_id
        for r in ann_index.probe_lsh_snapshot(
            spark, idx, qvec, similarity.PLANES, similarity.LSH_BAND_BITS
        ).collect()
    }
    assert mid == before, "torn read: probe saw uncommitted append files"

    man2 = ann_index.commit_index_snapshot(idx)
    assert man2["version"] == 2
    after = {
        r.vec_id
        for r in ann_index.probe_lsh_snapshot(
            spark, idx, qvec, similarity.PLANES, similarity.LSH_BAND_BITS
        ).collect()
    }
    assert after == before | {NEW_VEC_ID}


def test_snapshot_scan_still_prunes_partitions(spark, tmp_path):
    """Reading the manifest's file list with basePath must preserve the
    (band, code) partition columns so the probe stays a pruned read."""
    idx = str(tmp_path / "lsh_pruned")
    ann_index.build_lsh_index(
        spark, SF_DIR, similarity.PLANES, similarity.LSH_BAND_BITS, out_dir=idx
    )
    ann_index.commit_index_snapshot(idx)
    scan = ann_index.snapshot_scan(spark, idx)
    assert {"band", "code"}.issubset(set(scan.columns))
    qvec = similarity._query_vector(spark, SF_DIR)
    cand = ann_index.probe_lsh_snapshot(
        spark, idx, qvec, similarity.PLANES, similarity.LSH_BAND_BITS
    )
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    plan = cand._jdf.queryExecution().executedPlan().toString()
    # partition filters reach the scan (pruned read, not post-filter)
    assert "PartitionFilters: []" not in plan, plan


def test_ann_serving_job_matches_batch_probe(spark, tmp_path):
    """Streamed queries must return exactly what a batch snapshot probe
    + exact re-rank returns for the same vectors."""
    idx = str(tmp_path / "lsh_serve")
    ann_index.build_lsh_index(
        spark, SF_DIR, similarity.PLANES, similarity.LSH_BAND_BITS, out_dir=idx
    )
    ann_index.commit_index_snapshot(idx)

    emb = similarity._embeddings(spark, SF_DIR)
    qdf = (
        emb.filter(F.col("vec_id") < 2)
        .select(F.col("vec_id").alias("query_id"), "v")
    )
    qdir = str(tmp_path / "queries")
    qdf.write.parquet(qdir)
    stream = spark.readStream.schema("query_id BIGINT, v ARRAY<DOUBLE>").parquet(qdir)
    out = str(tmp_path / "results")
    q = maintenance.ann_serving_job(
        stream, idx, similarity.PLANES, similarity.LSH_BAND_BITS,
        out, str(tmp_path / "ck"), top_k=5,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got: dict[int, list] = {}
    for r in sorted(
        spark.read.parquet(out).collect(), key=lambda r: (r.query_id, -r.cosine, r.vec_id)
    ):
        got.setdefault(r.query_id, []).append((r.vec_id, r.cosine))

    import numpy as np

    for qrow in qdf.collect():
        qvec = np.asarray(qrow.v)
        cand = ann_index.probe_lsh_snapshot(
            spark, idx, qvec, similarity.PLANES, similarity.LSH_BAND_BITS
        ).collect()
        qnorm = np.linalg.norm(qvec)
        scored = sorted(
            (
                (r.vec_id, round(float(np.asarray(r.v) @ qvec / (np.linalg.norm(r.v) * qnorm)), 6))
                for r in cand
            ),
            key=lambda t: (-t[1], t[0]),
        )[:5]
        assert got[qrow.query_id] == scored, qrow.query_id


def test_ann_serving_job_multiprobe_matches_batch_probe(spark, tmp_path):
    """r10 (VERDICT r09 #2): the streaming tier with n_flips > 0 must
    return exactly what the batch multi-probe snapshot read + exact
    re-rank returns — the pinned perturbation sequence extended to the
    tombstone-aware serving path, reusing the trilogy harness."""
    idx = str(tmp_path / "lsh_serve_multi")
    ann_index.build_lsh_index(
        spark, SF_DIR, similarity.PLANES, similarity.LSH_BAND_BITS, out_dir=idx
    )
    ann_index.commit_index_snapshot(idx)

    emb = similarity._embeddings(spark, SF_DIR)
    qdf = (
        emb.filter(F.col("vec_id") < 2)
        .select(F.col("vec_id").alias("query_id"), "v")
    )
    qdir = str(tmp_path / "queries")
    qdf.write.parquet(qdir)
    stream = spark.readStream.schema("query_id BIGINT, v ARRAY<DOUBLE>").parquet(qdir)
    out = str(tmp_path / "results")
    q = maintenance.ann_serving_job(
        stream, idx, similarity.PLANES, similarity.LSH_BAND_BITS,
        out, str(tmp_path / "ck"), top_k=5,
        n_flips=similarity.LSH_MULTIPROBE_FLIPS,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got: dict[int, list] = {}
    for r in sorted(
        spark.read.parquet(out).collect(), key=lambda r: (r.query_id, -r.cosine, r.vec_id)
    ):
        got.setdefault(r.query_id, []).append((r.vec_id, r.cosine))

    import numpy as np

    for qrow in qdf.collect():
        qvec = np.asarray(qrow.v)
        cand = ann_index.probe_lsh_snapshot_multi(
            spark, idx, qvec, similarity.PLANES, similarity.LSH_BAND_BITS,
            similarity.LSH_MULTIPROBE_FLIPS,
        ).collect()
        # the multi-probe candidate pool really is wider than single's
        single = ann_index.probe_lsh_snapshot(
            spark, idx, qvec, similarity.PLANES, similarity.LSH_BAND_BITS
        ).collect()
        assert {r.vec_id for r in cand} >= {r.vec_id for r in single}
        qnorm = np.linalg.norm(qvec)
        scored = sorted(
            (
                (r.vec_id, round(float(np.asarray(r.v) @ qvec / (np.linalg.norm(r.v) * qnorm)), 6))
                for r in cand
            ),
            key=lambda t: (-t[1], t[0]),
        )[:5]
        assert got[qrow.query_id] == scored, qrow.query_id


def test_multiprobe_snapshot_isolates_uncommitted_appends(spark, tmp_path):
    """Snapshot isolation holds on the multi-probe read path: files of
    an uncommitted append are invisible; after commit the appended
    exact clone of the query appears (it collides in every band's own
    bucket, which every probe set includes)."""
    idx = str(tmp_path / "lsh_multi_versioned")
    ann_index.build_lsh_index(
        spark, SF_DIR, similarity.PLANES, similarity.LSH_BAND_BITS, out_dir=idx
    )
    ann_index.commit_index_snapshot(idx)

    qvec = similarity._query_vector(spark, SF_DIR)

    def probe():
        return {
            r.vec_id
            for r in ann_index.probe_lsh_snapshot_multi(
                spark, idx, qvec, similarity.PLANES, similarity.LSH_BAND_BITS,
                similarity.LSH_MULTIPROBE_FLIPS,
            ).collect()
        }

    before = probe()
    assert NEW_VEC_ID not in before
    ann_index.append_lsh_index(
        idx, _query_clone_df(spark), similarity.PLANES, similarity.LSH_BAND_BITS
    )
    assert probe() == before, "torn read: multi-probe saw uncommitted files"
    ann_index.commit_index_snapshot(idx)
    assert probe() == before | {NEW_VEC_ID}


def test_pq_snapshot_isolates_uncommitted_appends(spark, tmp_path):
    """PQ route of the torn-append contract: an appended-but-uncommitted
    codes file is invisible to the ADC snapshot probe; after the codes
    manifest commit the new vector ranks (it is an exact clone of the
    query, so it must take ADC rank 1)."""
    import os

    idx = ann_index.build_pq_index(
        spark, SF_DIR, similarity.PQ_M, similarity.PQ_KSUB,
        out_dir=str(tmp_path / "pq_versioned"),
    )
    codes_dir = os.path.join(idx, "codes")
    man1 = ann_index.commit_index_snapshot(codes_dir)
    assert man1["version"] == 1 and man1["files"]

    qvec = similarity._query_vector(spark, SF_DIR)
    before = {
        r.vec_id
        for r in ann_index.probe_pq_snapshot(spark, idx, qvec, 64).collect()
    }
    assert NEW_VEC_ID not in before

    ann_index.append_pq_index(spark, idx, _query_clone_df(spark))
    assert len(ann_index._list_parquet_files(codes_dir)) > len(man1["files"])
    mid = {
        r.vec_id
        for r in ann_index.probe_pq_snapshot(spark, idx, qvec, 64).collect()
    }
    assert mid == before, "torn read: ADC scan saw uncommitted code files"

    man2 = ann_index.commit_index_snapshot(codes_dir)
    assert man2["version"] == 2
    after = ann_index.probe_pq_snapshot(spark, idx, qvec, 64).collect()
    after_ids = {r.vec_id for r in after}
    # the clone enters the fixed-size candidate list (displacing the
    # old 64th) — nothing else appears from nowhere
    assert NEW_VEC_ID in after_ids
    assert after_ids <= before | {NEW_VEC_ID}
    # the clone quantizes to the query's own cells → maximal ADC score
    top_score = max(r.adc_score for r in after)
    clone_score = next(r.adc_score for r in after if r.vec_id == NEW_VEC_ID)
    assert abs(clone_score - top_score) < 1e-9


def test_pq_serving_job_matches_batch_probe(spark, tmp_path):
    """Streamed queries through the PQ/ADC route must return exactly
    the batch snapshot-probe + exact-re-rank answer (the
    similarity.ann_pq_topk shape) for the same vectors."""
    import os

    import numpy as np

    idx = ann_index.build_pq_index(
        spark, SF_DIR, similarity.PQ_M, similarity.PQ_KSUB,
        out_dir=str(tmp_path / "pq_serve"),
    )
    ann_index.commit_index_snapshot(os.path.join(idx, "codes"))

    emb = similarity._embeddings(spark, SF_DIR)
    qdf = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "v"
    )
    qdir = str(tmp_path / "queries")
    qdf.write.parquet(qdir)
    stream = spark.readStream.schema("query_id BIGINT, v ARRAY<DOUBLE>").parquet(qdir)
    out = str(tmp_path / "results")
    q = maintenance.pq_serving_job(
        stream, idx, emb, out, str(tmp_path / "ck"),
        top_k=5, n_candidates=64,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got: dict[int, list] = {}
    for r in sorted(
        spark.read.parquet(out).collect(),
        key=lambda r: (r.query_id, -r.cosine, r.vec_id),
    ):
        got.setdefault(r.query_id, []).append((r.vec_id, r.cosine))

    vecs = {r.vec_id: np.asarray(r.v) for r in emb.collect()}
    for qrow in qdf.collect():
        qvec = np.asarray(qrow.v)
        qnorm = np.linalg.norm(qvec)
        cand_ids = [
            r.vec_id
            for r in ann_index.probe_pq_snapshot(spark, idx, qvec, 64).collect()
        ]
        scored = sorted(
            (
                (
                    vid,
                    round(
                        float(vecs[vid] @ qvec / (np.linalg.norm(vecs[vid]) * qnorm)),
                        6,
                    ),
                )
                for vid in cand_ids
            ),
            key=lambda t: (-t[1], t[0]),
        )[:5]
        assert got[qrow.query_id] == scored, qrow.query_id


# -- property-based exactly-once invariant (hypothesis) ----------------------

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

if _HYP:
    # an action: ('a'|'b', rows) = produce to that topic; 'cycle';
    # 'crash' = a cycle that dies at the manifest replace, after its
    # state write.
    _rows_st = st.lists(
        st.tuples(st.integers(0, 4), st.sampled_from(["view", "click"])),
        min_size=1,
        max_size=3,
    )
    _action_st = st.one_of(
        st.tuples(st.just("produce_a"), _rows_st),
        st.tuples(st.just("produce_b"), _rows_st),
        st.tuples(st.just("cycle"), st.none()),
        st.tuples(st.just("crash"), st.none()),
    )

    @given(actions=st.lists(_action_st, min_size=2, max_size=7))
    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_txn_view_exactly_once_under_arbitrary_crashes(
        spark, tmp_path_factory, actions
    ):
        """For ANY interleaving of produces, cycles, and crash-rollbacks,
        a final cycle must leave the view equal to a full recompute of
        both topic logs — nothing lost, nothing double-counted."""
        import os
        import tempfile

        root = tempfile.mkdtemp(
            prefix="hyptxn", dir=str(tmp_path_factory.getbasetemp())
        )
        ta = TopicLog(spark, os.path.join(root, "a"), n_partitions=2)
        tb = TopicLog(spark, os.path.join(root, "b"), n_partitions=2)
        tv = maintenance.TxnView(
            spark, os.path.join(root, "tv"), {"a": ta, "b": tb}
        )
        produced: list[tuple[str, int, str]] = []

        for kind, payload in actions:
            if kind == "produce_a" or kind == "produce_b":
                topic = ta if kind == "produce_a" else tb
                name = "a" if kind == "produce_a" else "b"
                _produce_events(
                    spark, topic, [(uid, et, 1.0) for uid, et in payload]
                )
                produced.extend((name, uid, et) for uid, et in payload)
            elif kind == "cycle":
                tv.cycle()
            else:  # crash: the cycle's state lands, its commit does not
                with commit_point_fails():
                    try:
                        tv.cycle()
                    except OSError:
                        pass  # the simulated crash; an empty drain commits nothing

        tv.cycle()  # recovery cycle drains whatever the manifest says is unread
        got = {
            (r.topic, r.user_id): r.n_events for r in tv.read_view().collect()
        }
        want: dict[tuple[str, int], int] = {}
        for name, uid, _et in produced:
            want[(name, uid)] = want.get((name, uid), 0) + 1
        assert got == want


def test_windowed_topk_stream_matches_batch(spark, tmp_path):
    """Streamed leaderboard state == batch-computed per-window top-3."""
    from pyspark.sql import Window, functions as F

    from samza_hello_samza_spark.session import load_table
    from samza_hello_samza_spark.sources.merge import MergeTable

    events = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "src")
    events.repartition(4).write.parquet(src)

    table = MergeTable(spark, str(tmp_path / "state"), "k", n_buckets=8)
    table.write_full(
        spark.createDataFrame(
            [], "k string, window_start long, user_id long, cnt long"
        )
    )
    stream = spark.readStream.schema(events.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = maintenance.windowed_topk_job(
        stream, table, str(tmp_path / "ckpt"), watermark=None
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.window_start, r.rank): (r.user_id, r.cnt)
        for r in maintenance.windowed_topk_snapshot(spark, table, k=3).collect()
    }
    w = Window.partitionBy("ws").orderBy(F.desc("cnt"), F.asc("user_id"))
    expect = {
        (r.ws, r.rn): (r.user_id, r.cnt)
        for r in events.groupBy(
            F.unix_timestamp(F.window("ts", "5 minutes").start).alias("ws"),
            "user_id",
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .collect()
    }
    assert got == expect


def test_domain_drift_updater_matches_batch_kl(spark, tmp_path):
    """Two folded micro-batches (the same corpus twice): the drift
    snapshot must match the batch KL exactly — doubling every count
    leaves both distributions unchanged — with doubled token counts.
    A restarted query over the same source+checkpoint must fold
    nothing (manifest applied_batch marker), leaving the state
    untouched."""
    import shutil

    from samza_hello_samza_spark.operators import sampling

    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    base = os.path.join(SF_DIR, "documents.parquet")
    shutil.copy(base, os.path.join(src, "b1.parquet"))
    shutil.copy(base, os.path.join(src, "b2.parquet"))

    schema = spark.read.parquet(base).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    state = str(tmp_path / "dw_state")
    ck = str(tmp_path / "dw_ck")
    q = maintenance.domain_wordcount_updater(stream, state, ck)
    q.processAllAvailable()
    q.stop()

    got = {r.source: r for r in maintenance.domain_drift_snapshot(spark, state).collect()}
    want = {r.source: r for r in sampling.domain_kl_divergence(spark, SF_DIR).collect()}
    assert set(got) == set(want)
    for s in want:
        assert got[s].kl_nats == want[s].kl_nats, s
        assert got[s].n_distinct_words == want[s].n_distinct_words
        assert got[s].n_words == 2 * want[s].n_words  # corpus folded twice

    # replay: same checkpoint, same files → manifest marker no-op
    before = sorted(
        map(tuple, maintenance.read_domain_wordcounts(spark, state).collect())
    )
    man_before = _manifest(spark, state)
    stream2 = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q2 = maintenance.domain_wordcount_updater(stream2, state, ck)
    q2.processAllAvailable()
    q2.stop()
    after = sorted(
        map(tuple, maintenance.read_domain_wordcounts(spark, state).collect())
    )
    assert after == before
    assert _manifest(spark, state) == man_before


def test_fold_domain_wordcounts_crash_atomic(spark, tmp_path):
    """Simulated crash DURING a fold (state version written, manifest
    swap never reached): the committed view must still show the prior
    counts, the interrupted batch must not be marked applied, and the
    clean re-fold must land exactly once — the failure mode ADVICE
    round 3 found in the old rename/rename/rmtree swap."""
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).limit(50)
    state = str(tmp_path / "dw_state")

    assert maintenance.fold_domain_wordcounts(docs, state, batch_id=0)
    v1 = sorted(map(tuple, maintenance.read_domain_wordcounts(spark, state).collect()))
    assert v1 and _manifest(spark, state) == {"version": 1, "applied": 0}

    # crash mid-fold: the v2 snapshot is written, the manifest replace
    # never happens
    with commit_point_fails(), pytest.raises(OSError):
        maintenance.fold_domain_wordcounts(docs, state, batch_id=1)
    assert _manifest(spark, state)["version"] == 1  # v2 invisible
    assert (
        sorted(map(tuple, maintenance.read_domain_wordcounts(spark, state).collect()))
        == v1
    )

    # recovery: the same batch id re-folds cleanly over the v1 state,
    # overwriting the orphan — exactly-once, no double counts
    assert maintenance.fold_domain_wordcounts(docs, state, batch_id=1)
    doubled = {
        (r.source, r.word): r.cnt
        for r in maintenance.read_domain_wordcounts(spark, state).collect()
    }
    assert doubled == {(s, w): 2 * c for (s, w, c) in v1}
    # redelivery of an applied batch id is a no-op
    assert not maintenance.fold_domain_wordcounts(docs, state, batch_id=1)
    assert _manifest(spark, state)["version"] == 2


def test_window_fingerprint_updater_matches_batch_winners(spark, tmp_path):
    """Two micro-batches (disjoint halves of the corpus): the folded
    winner table must equal the batch min(struct) winners computed
    over the whole corpus in one pass, and a restarted query over the
    same checkpoint folds nothing."""
    from pyspark.sql import functions as F

    from samza_hello_samza_spark.operators.dedup import (
        _words,
        window_fingerprints,
    )

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    src = str(tmp_path / "docs_src")
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(os.path.join(src, "b1"))
    docs.filter(F.col("doc_id") % 2 == 1).write.parquet(os.path.join(src, "b2"))
    # flatten: the reader wants a flat dir of files
    import glob
    import shutil as sh

    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for i, f in enumerate(sorted(glob.glob(os.path.join(src, "b*", "*.parquet")))):
        sh.copy(f, os.path.join(flat, f"part-{i}.parquet"))

    schema = docs.schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(flat)
    )
    state = str(tmp_path / "wf_state")
    ck = str(tmp_path / "wf_ck")
    q = maintenance.window_fingerprint_updater(stream, state, ck)
    q.processAllAvailable()
    q.stop()

    got = {
        r.h: (r.first_at.doc_id, r.first_at.pos)
        for r in maintenance.read_window_fingerprints(spark, state).collect()
    }
    words = docs.select("doc_id", _words(F.col("text")).alias("words")).filter(
        F.size("words") > 0
    )
    want = {
        r.h: (r.first_at.doc_id, r.first_at.pos)
        for r in window_fingerprints(words)
        .groupBy("h")
        .agg(F.min(F.struct("doc_id", "pos")).alias("first_at"))
        .collect()
    }
    assert got == want and got

    # restart replay: manifest marker makes it a no-op
    man_before = _manifest(spark, state)
    stream2 = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(flat)
    )
    q2 = maintenance.window_fingerprint_updater(stream2, state, ck)
    q2.processAllAvailable()
    q2.stop()
    assert _manifest(spark, state) == man_before


def test_substring_dedup_gate_flags_cross_batch_spans(spark, tmp_path):
    """Batch 1 establishes the corpus; batch 2 contains one doc sharing
    a 55-word span with a batch-1 doc and one clean doc. The gate must
    mark the copier dirty (with the right window counts), everything
    else clean, and fold both batches into the state."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    span = [f"s{i}" for i in range(55)]
    b1 = pd.DataFrame(
        [(1, " ".join([f"a{i}" for i in range(20)] + span)),
         (2, " ".join(f"b{i}" for i in range(60)))],
        columns=["doc_id", "text"],
    )
    b2 = pd.DataFrame(
        [(10, " ".join([f"c{i}" for i in range(23)] + span)),
         (20, " ".join(f"z{i}" for i in range(60)))],
        columns=["doc_id", "text"],
    )
    src = str(tmp_path / "src")
    os.makedirs(src)
    pq.write_table(pa.Table.from_pandas(b1), os.path.join(src, "b1.parquet"))
    pq.write_table(pa.Table.from_pandas(b2), os.path.join(src, "b2.parquet"))

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    q = maintenance.substring_dedup_gate(stream, state, out, str(tmp_path / "ck"))
    q.processAllAvailable()
    q.stop()

    rows = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert set(rows) == {1, 2, 10, 20}
    # batch order is file order (maxFilesPerTrigger=1, lexicographic)
    assert rows[1].clean and rows[2].clean, "first batch saw an empty index"
    assert not rows[10].clean
    assert rows[10].n_dup_windows == 55 - 50 + 1 and rows[10].n_owner_docs == 1
    assert rows[20].clean
    # both batches folded: every doc owns its unique windows (doc 10's
    # prefix-straddling windows are genuinely new), but the pure-span
    # window belongs to doc 1 — the first-occurrence winner
    import hashlib

    winner_of = {
        r.h: r.first_at.doc_id
        for r in maintenance.read_window_fingerprints(spark, state).collect()
    }
    assert {1, 2, 10, 20} == set(winner_of.values())
    span_h = hashlib.md5(" ".join(span[:50]).encode()).hexdigest()
    assert winner_of[span_h] == 1


def test_growth_accounting_updater_matches_batch(spark, tmp_path):
    """Events streamed in day-ordered batches: the snapshot must equal
    the batch growth_accounting decomposition exactly; a restarted
    query over the same checkpoint folds nothing."""
    from samza_hello_samza_spark.plans.behavior import growth_accounting
    from samza_hello_samza_spark.session import load_table

    ev = load_table(spark, SF_DIR, "events")
    mid = ev.agg(F.expr("percentile(unix_timestamp(ts), 0.5)")).collect()[0][0]
    # split at a DAY boundary so per-user day arrival is non-decreasing
    mid_day = (int(mid) // 86400) * 86400
    src = str(tmp_path / "ev_src")
    os.makedirs(src)
    # ONE file per half: multiple part files per half would become
    # separate micro-batches with per-user days out of order across
    # them, violating the updater's arrival contract
    ev.filter(F.unix_timestamp("ts") < mid_day).coalesce(1).write.parquet(
        os.path.join(src, "a=1")
    )
    ev.filter(F.unix_timestamp("ts") >= mid_day).coalesce(1).write.parquet(
        os.path.join(src, "a=2")
    )
    import glob
    import shutil as sh

    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    import time as _time

    now = _time.time()
    for i, f in enumerate(sorted(glob.glob(os.path.join(src, "a=*", "*.parquet")))):
        dst = os.path.join(flat, f"part-{i:03d}.parquet")
        sh.copy(f, dst)
        # the file stream orders batches by MODIFICATION TIME, not
        # name — pin strictly increasing mtimes so batch order is the
        # day order the updater's arrival contract needs
        os.utime(dst, (now + i, now + i))

    stream = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(flat)
    )
    state = str(tmp_path / "ga_state")
    q = maintenance.growth_accounting_updater(stream, state, str(tmp_path / "ck"))
    q.processAllAvailable()
    q.stop()

    got = sorted(
        map(tuple, maintenance.growth_snapshot(spark, state).collect())
    )
    want = sorted(map(tuple, growth_accounting(spark, SF_DIR).collect()))
    assert got == want and got

    man_before = _manifest(spark, state)
    stream2 = (
        spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(flat)
    )
    q2 = maintenance.growth_accounting_updater(
        stream2, state, str(tmp_path / "ck")
    )
    q2.processAllAvailable()
    q2.stop()
    assert _manifest(spark, state) == man_before


def test_dsir_state_updater_reproduces_batch_scores(spark, tmp_path):
    """Bucket distributions folded from two streamed halves of the
    corpus, then scoring the corpus against the committed state, must
    reproduce sampling.dsir_importance EXACTLY (same smoothing, same
    micro-nat truncation, integer sums). Replay folds nothing."""
    from samza_hello_samza_spark.operators import sampling
    from samza_hello_samza_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    src = str(tmp_path / "docs_src")
    os.makedirs(src)
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(
        os.path.join(src, "h1")
    )
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(
        os.path.join(src, "h2")
    )
    import glob
    import shutil as sh

    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for i, f in enumerate(sorted(glob.glob(os.path.join(src, "h*", "*.parquet")))):
        sh.copy(f, os.path.join(flat, f"part-{i}.parquet"))

    stream = (
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(flat)
    )
    state = str(tmp_path / "dsir_state")
    q = maintenance.dsir_state_updater(stream, state, str(tmp_path / "ck"))
    q.processAllAvailable()
    q.stop()

    got = sorted(
        map(tuple, maintenance.dsir_score_snapshot(docs, state).collect())
    )
    want = sorted(map(tuple, sampling.dsir_importance(spark, SF_DIR).collect()))
    assert got == want and got

    man_before = _manifest(spark, state)
    stream2 = (
        spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1).parquet(flat)
    )
    q2 = maintenance.dsir_state_updater(stream2, state, str(tmp_path / "ck"))
    q2.processAllAvailable()
    q2.stop()
    assert _manifest(spark, state) == man_before


def test_ivf_snapshot_isolates_uncommitted_appends(spark, tmp_path):
    """IVF route of the torn-append contract: an appended-but-
    uncommitted corpus file is invisible to the snapshot probe; after
    commit the clone (assigned to the query's own list) appears."""
    idx = ann_index.build_ivf_index(
        spark, SF_DIR, similarity.IVF_NLIST, out_dir=str(tmp_path / "ivf_v")
    )
    corpus_dir = os.path.join(idx, "corpus")
    man1 = ann_index.commit_index_snapshot(corpus_dir)
    assert man1["version"] == 1 and man1["files"]

    qvec = similarity._query_vector(spark, SF_DIR)
    before = {
        r.vec_id
        for r in ann_index.probe_ivf_snapshot(
            spark, idx, qvec, similarity.IVF_NPROBE
        ).collect()
    }
    assert NEW_VEC_ID not in before

    ann_index.append_ivf_index(spark, idx, _query_clone_df(spark))
    mid = {
        r.vec_id
        for r in ann_index.probe_ivf_snapshot(
            spark, idx, qvec, similarity.IVF_NPROBE
        ).collect()
    }
    assert mid == before, "torn read: probe saw uncommitted corpus files"

    ann_index.commit_index_snapshot(corpus_dir)
    after = {
        r.vec_id
        for r in ann_index.probe_ivf_snapshot(
            spark, idx, qvec, similarity.IVF_NPROBE
        ).collect()
    }
    assert after == before | {NEW_VEC_ID}


def test_ivf_serving_job_matches_batch_probe(spark, tmp_path):
    """Streamed queries via the IVF route return exactly the batch
    snapshot-probe + exact re-rank answer."""
    idx = ann_index.build_ivf_index(
        spark, SF_DIR, similarity.IVF_NLIST, out_dir=str(tmp_path / "ivf_s")
    )
    ann_index.commit_index_snapshot(os.path.join(idx, "corpus"))

    emb = similarity._embeddings(spark, SF_DIR)
    qdf = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "v"
    )
    qdir = str(tmp_path / "queries")
    qdf.write.parquet(qdir)
    stream = spark.readStream.schema("query_id BIGINT, v ARRAY<DOUBLE>").parquet(qdir)
    out = str(tmp_path / "results")
    q = maintenance.ivf_serving_job(
        stream, idx, out, str(tmp_path / "ck"),
        top_k=5, nprobe=similarity.IVF_NPROBE,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got: dict[int, list] = {}
    for r in sorted(
        spark.read.parquet(out).collect(),
        key=lambda r: (r.query_id, -r.cosine, r.vec_id),
    ):
        got.setdefault(r.query_id, []).append((r.vec_id, r.cosine))

    for qrow in qdf.collect():
        qvec = np.asarray(qrow.v)
        qnorm = np.linalg.norm(qvec)
        cand = ann_index.probe_ivf_snapshot(
            spark, idx, qvec, similarity.IVF_NPROBE
        ).collect()
        scored = sorted(
            (
                (
                    r.vec_id,
                    round(float(np.asarray(r.v) @ qvec / (np.linalg.norm(r.v) * qnorm)), 6),
                )
                for r in cand
            ),
            key=lambda t: (-t[1], t[0]),
        )[:5]
        assert got[qrow.query_id] == scored, qrow.query_id


def test_serving_result_sink_is_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a micro-batch through
    the serving sink must overwrite its own _batch_id partition, not
    duplicate (query_id, vec_id) rows; other batches stay untouched
    (ADVICE r04)."""
    out = str(tmp_path / "results")
    mk = lambda rows: spark.createDataFrame(
        rows, "query_id long, vec_id long, cosine double"
    )
    maintenance._write_results_idempotent([mk([(1, 10, 0.9), (1, 11, 0.8)])], out, 0)
    maintenance._write_results_idempotent([mk([(2, 20, 0.7)])], out, 1)
    # crash-and-replay of batch 1 with (possibly) recomputed rows
    maintenance._write_results_idempotent([mk([(2, 20, 0.7)])], out, 1)
    maintenance._write_results_idempotent([mk([(2, 20, 0.7)])], out, 1)

    rows = sorted(
        (r.query_id, r.vec_id, r.cosine)
        for r in spark.read.parquet(out).collect()
    )
    assert rows == [(1, 10, 0.9), (1, 11, 0.8), (2, 20, 0.7)]


def test_ivf_serving_snapshot_pins_per_micro_batch_across_commit(spark, tmp_path):
    """Probe-during-commit race (VERDICT r04 #4): a serving job's
    micro-batch resolves the snapshot committed AT ITS probe time.
    A batch served against manifest K must not see rows from a K+1
    commit that lands between micro-batches — and the NEXT batch
    must see exactly the K+1 corpus. Mirrors test_merge.py's
    concurrent-merge reader test for the IVF serving path."""
    idx = ann_index.build_ivf_index(
        spark, SF_DIR, similarity.IVF_NLIST, out_dir=str(tmp_path / "ivf_race")
    )
    corpus_dir = os.path.join(idx, "corpus")
    ann_index.commit_index_snapshot(corpus_dir)

    qvec = similarity._query_vector(spark, SF_DIR)
    qrow = [float(x) for x in qvec]
    qdir = str(tmp_path / "queries")
    os.makedirs(qdir)
    schema = "query_id BIGINT, v ARRAY<DOUBLE>"
    # phase-1 query lands alone in micro-batch 1 (maxFilesPerTrigger=1)
    spark.createDataFrame([(100, qrow)], schema).write.parquet(
        os.path.join(qdir, "f1")
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(qdir, "*"))
    )
    out = str(tmp_path / "results")
    q = maintenance.ivf_serving_job(
        stream, idx, out, str(tmp_path / "ck"),
        top_k=5, nprobe=similarity.IVF_NPROBE,
    )
    try:
        q.processAllAvailable()  # batch 1 served against snapshot v1
        # writer commits v2 (the query's exact clone) between batches
        ann_index.append_ivf_index(spark, idx, _query_clone_df(spark))
        ann_index.commit_index_snapshot(corpus_dir)
        spark.createDataFrame([(101, qrow)], schema).write.parquet(
            os.path.join(qdir, "f2")
        )
        q.processAllAvailable()  # batch 2 served against snapshot v2
    finally:
        q.stop()

    got: dict[int, set] = {}
    for r in spark.read.parquet(out).collect():
        got.setdefault(r.query_id, set()).add(r.vec_id)
    assert NEW_VEC_ID not in got[100], "batch 1 leaked the mid-stream commit"
    assert NEW_VEC_ID in got[101], "batch 2 missed the committed snapshot"
    # identical query, so apart from the clone the answer sets agree
    assert got[101] - {NEW_VEC_ID} <= got[100]


# -- IVF rebalance (drift maintenance) --------------------------------------


def _drifted_ivf(spark, tmp_path, n_drift=120):
    """Build + commit an IVF index, then append a drifted batch that
    piles onto ONE list (clones of centroid 0 with tiny jitter)."""
    idx = ann_index.build_ivf_index(
        spark, SF_DIR, similarity.IVF_NLIST, out_dir=str(tmp_path / "ivf_rb")
    )
    corpus_dir = os.path.join(idx, "corpus")
    ann_index.commit_index_snapshot(corpus_dir)
    c0 = np.asarray(
        sorted(
            spark.read.parquet(os.path.join(idx, "centroids")).collect(),
            key=lambda r: r.centroid_id,
        )[0].centroid,
        dtype=float,
    )
    drift = spark.createDataFrame(
        [
            (1_000_000 + i, [float(x * (1.0 + 0.001 * ((i % 7) - 3))) for x in c0])
            for i in range(n_drift)
        ],
        "vec_id BIGINT, v ARRAY<DOUBLE>",
    )
    ann_index.append_ivf_index(spark, idx, drift)
    ann_index.commit_index_snapshot(corpus_dir)
    return idx, corpus_dir


def test_rebalance_reduces_drift_imbalance_and_keeps_assignment_optimal(
    spark, tmp_path
):
    idx, corpus_dir = _drifted_ivf(spark, tmp_path)
    n_before = ann_index.snapshot_scan(spark, corpus_dir).count()

    stats = ann_index.rebalance_ivf_index(spark, idx)
    assert stats["imbalance_after"] < stats["imbalance_before"]
    assert stats["moved"] > 0 and stats["n_vectors"] == n_before

    # corpus conserved: same vector set, no duplicates
    after = ann_index.snapshot_scan(spark, corpus_dir).collect()
    assert len(after) == n_before
    assert len({r.vec_id for r in after}) == n_before

    # every vector sits in its argmax-cosine list under the NEW centroids
    cent = sorted(
        spark.read.parquet(ann_index._centroid_dir(idx)).collect(),
        key=lambda r: r.centroid_id,
    )
    cmat = np.stack([np.asarray(r.centroid) for r in cent])
    cnorm = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
    for r in after:
        v = np.asarray(r.v, dtype=float)
        best = int(np.argmax(cnorm @ (v / np.linalg.norm(v))))
        assert r.list_id == best, r.vec_id


def test_rebalance_full_probe_parity_and_pinned_readers(spark, tmp_path):
    """nprobe=nlist probes (≡ the whole committed corpus) return the
    same vector set before and after a rebalance, and a reader whose
    plan resolved the pre-rebalance manifest still reads the OLD
    assignment afterwards."""
    idx, corpus_dir = _drifted_ivf(spark, tmp_path)
    qvec = similarity._query_vector(spark, SF_DIR)
    full_before = {
        r.vec_id
        for r in ann_index.probe_ivf_snapshot(
            spark, idx, qvec, similarity.IVF_NLIST
        ).collect()
    }
    pinned = ann_index.snapshot_scan(spark, corpus_dir)  # plan pins v2 files
    pinned_before = {(r.vec_id, r.list_id) for r in pinned.collect()}

    ann_index.rebalance_ivf_index(spark, idx)

    full_after = {
        r.vec_id
        for r in ann_index.probe_ivf_snapshot(
            spark, idx, qvec, similarity.IVF_NLIST
        ).collect()
    }
    assert full_after == full_before
    assert {(r.vec_id, r.list_id) for r in pinned.collect()} == pinned_before


def test_append_and_vacuum_after_rebalance(spark, tmp_path):
    """Post-rebalance appends quantize against the NEW centroids and a
    listing-based commit must not resurrect retired files; vacuum then
    reclaims them without touching the live snapshot."""
    idx, corpus_dir = _drifted_ivf(spark, tmp_path)
    ann_index.rebalance_ivf_index(spark, idx)
    n_live = ann_index.snapshot_scan(spark, corpus_dir).count()

    ann_index.append_ivf_index(spark, idx, _query_clone_df(spark))
    man = ann_index.commit_index_snapshot(corpus_dir)
    assert man.get("retired"), "rebalance must have retired the old files"
    scan = ann_index.snapshot_scan(spark, corpus_dir)
    assert scan.count() == n_live + 1  # no resurrection, clone visible
    assert scan.filter(F.col("vec_id") == NEW_VEC_ID).count() == 1

    removed = ann_index.vacuum_index(corpus_dir)
    assert removed > 0
    assert ann_index.read_index_manifest(corpus_dir)["retired"] == []
    assert ann_index.snapshot_scan(spark, corpus_dir).count() == n_live + 1


def test_kmv_updater_stream_fold_equals_batch_sample(spark, tmp_path):
    """Two disjoint micro-batches folded through the KMV state must
    reproduce EXACTLY the batch-built sample (and therefore the batch
    quantile estimates) — the mergeability rule end-to-end."""
    from samza_hello_samza_spark.operators import sketches

    import glob as globmod
    import shutil

    base = os.path.join(SF_DIR, "events.parquet")
    events = spark.read.parquet(base)
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, half in enumerate((0, 1)):
        stage = str(tmp_path / f"stage{i}")
        events.filter(F.col("event_id") % 2 == half).coalesce(1).write.parquet(stage)
        part = globmod.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(src, f"b{i}.parquet"))
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    state = str(tmp_path / "kmv_state")
    q = maintenance.kmv_updater(stream, state, str(tmp_path / "ck"))
    q.processAllAvailable()
    q.stop()

    got_sample = {
        (r.event_type, r.event_id)
        for r in maintenance.read_kmv_sample(spark, state).collect()
    }
    want_sample = {
        (r.event_type, r.event_id)
        for r in sketches._kmv_sample(events).collect()
    }
    assert got_sample == want_sample

    # replayed batch ids no-op (crash-after-commit redelivery)
    man_before = _manifest(spark, state)
    assert maintenance.fold_kmv_sample(events, state, batch_id=0) is False
    assert _manifest(spark, state) == man_before

    est = {
        r.event_type: (r.n_sample, r.est_p50, r.est_p90)
        for r in maintenance.kmv_quantile_snapshot(spark, state).collect()
    }
    want = {
        r.event_type: (r.n_sample, r.est_p50, r.est_p90)
        for r in sketches.quantile_kmv_calibration(spark, SF_DIR).collect()
    }
    assert est == want


# -- PQ retrain (drift maintenance) -----------------------------------------


def _drifted_pq(spark, tmp_path, n_drift=300):
    """Build + commit a PQ index, then append a strongly-drifted batch
    (far outside the build-time distribution) and commit it."""
    idx = ann_index.build_pq_index(spark, SF_DIR, out_dir=str(tmp_path / "pq_rt"))
    codes_dir = os.path.join(idx, "codes")
    ann_index.commit_index_snapshot(codes_dir)
    emb = similarity._embeddings(spark, SF_DIR)
    drift = spark.createDataFrame(
        [
            (
                2_000_000 + i,
                [5.0 + 0.01 * ((i * 7 + d) % 13) for d in range(64)],
            )
            for i in range(n_drift)
        ],
        "vec_id BIGINT, v ARRAY<DOUBLE>",
    )
    ann_index.append_pq_index(spark, idx, drift)
    ann_index.commit_index_snapshot(codes_dir)
    vectors = emb.select("vec_id", "v").unionByName(drift)
    return idx, codes_dir, vectors


def test_pq_retrain_reduces_drift_error_and_reencodes_corpus(spark, tmp_path):
    idx, codes_dir, vectors = _drifted_pq(spark, tmp_path)
    n_vec = vectors.count()
    assert ann_index.snapshot_scan(spark, codes_dir).count() == n_vec

    stats = ann_index.retrain_pq_index(spark, idx, vectors)
    assert stats["train_mse_after"] < stats["train_mse_before"]

    # committed codes: same vector set, exactly once, no duplicates
    after = ann_index.snapshot_scan(spark, codes_dir)
    assert after.count() == n_vec
    assert after.select("vec_id").distinct().count() == n_vec

    # every committed code row is the argmin assignment under the NEW
    # books (spot-check a handful of drifted + original vectors)
    books = ann_index._load_codebooks(spark, idx)
    m, ksub, dsub = books.shape
    sample = {r.vec_id: r for r in after.filter(
        F.col("vec_id").isin([0, 1, 2, 2_000_000, 2_000_001])
    ).collect()}
    vecs = {r.vec_id: np.asarray(r.v, dtype=float) for r in vectors.filter(
        F.col("vec_id").isin(list(sample))
    ).collect()}
    for vid, row in sample.items():
        v = vecs[vid]
        for sub in range(m):
            x = v[sub * dsub : (sub + 1) * dsub]
            want = int(((x[None, :] - books[sub]) ** 2).sum(axis=1).argmin())
            assert getattr(row, f"code_{sub}") == want, (vid, sub)


def test_pq_retrain_pinned_probe_and_vacuum(spark, tmp_path):
    """A probe whose plan resolved the pre-retrain manifest keeps the
    OLD books+codes pair; post-retrain listing commits do not
    resurrect retired files and vacuum leaves the live snapshot."""
    idx, codes_dir, vectors = _drifted_pq(spark, tmp_path)
    qvec = similarity._query_vector(spark, SF_DIR)
    pinned = ann_index.probe_pq_snapshot(spark, idx, qvec, 20)  # resolves now
    before = [(r.vec_id, r.adc_score) for r in pinned.collect()]

    ann_index.retrain_pq_index(spark, idx, vectors)
    assert [(r.vec_id, r.adc_score) for r in pinned.collect()] == before

    n_live = ann_index.snapshot_scan(spark, codes_dir).count()
    ann_index.append_pq_index(spark, idx, _query_clone_df(spark))
    man = ann_index.commit_index_snapshot(codes_dir)
    assert man.get("retired") and man.get("codebooks", "").startswith("codebooks_v")
    scan = ann_index.snapshot_scan(spark, codes_dir)
    assert scan.count() == n_live + 1
    assert scan.filter(F.col("vec_id") == NEW_VEC_ID).count() == 1

    removed = ann_index.vacuum_index(codes_dir)
    assert removed > 0
    assert ann_index.snapshot_scan(spark, codes_dir).count() == n_live + 1
    # the fresh probe ranks against the NEW books+codes coherently
    fresh = ann_index.probe_pq_snapshot(spark, idx, qvec, 20).collect()
    assert len(fresh) == 20


def test_cdf_topic_fold_tracks_table_at_every_version(spark, tmp_path):
    """VERDICT r05 #7: one table's committed changes incrementally
    maintain a downstream aggregate (CDF → topic_log → signed fold).
    After every publish+fold cycle the state equals the batch
    recompute over the table's CURRENT snapshot — inserts add,
    updates retract-then-add (preimage encoding), deletes retract."""
    from samza_hello_samza_spark.sources.merge import VersionedMergeTable

    tbl = VersionedMergeTable(spark, str(tmp_path / "t"), "k", n_buckets=8)
    base = spark.createDataFrame(
        [(i, f"g{i % 3}", float(i)) for i in range(60)],
        "k long, grp string, value double",
    )
    tbl.write_full(base)

    topic = TopicLog(spark, str(tmp_path / "cdf_topic"), n_partitions=2)
    cursor = str(tmp_path / "cursor.json")
    state = str(tmp_path / "agg_state")
    schema = (
        "k BIGINT, grp STRING, value DOUBLE, "
        "_change_type STRING, _commit_version BIGINT"
    )

    def cycle():
        maintenance.publish_cdf(tbl, topic, cursor, key_col="k")
        return maintenance.fold_cdf_from_topic(
            spark, topic, "downstream", state, schema, keys=["grp"], value_col="value"
        )

    def state_now():
        return {
            r.grp: (r.n_events, round(r.sum_value, 6))
            for r in VersionedState(spark, state).read().collect()
        }

    def recompute():
        return {
            r.grp: (r.n, round(r.s, 6))
            for r in tbl.read()
            .groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
            .collect()
        }

    # v1 bootstrap: full load as inserts
    assert cycle() == 60
    assert state_now() == recompute()

    # v2: updates (retraction must fire), inserts, and MERGE deletes
    src = spark.createDataFrame(
        [(i, f"g{i % 3}", float(i) + 1000.0) for i in range(0, 20)]  # updates
        + [(100 + i, "g_new", 7.5) for i in range(5)]  # inserts
        + [(i, "del", 0.0) for i in range(50, 55)],  # deletes
        "k long, grp string, value double",
    )
    tbl.merge(src, delete_cond=F.col("s.grp") == "del")
    assert cycle() > 0
    assert state_now() == recompute()

    # v3: deletion-vector deletes flow through the same feed
    tbl.delete_where(F.col("k") % 7 == 3)
    assert cycle() > 0
    assert state_now() == recompute()

    # quiescent cycle folds nothing and changes nothing
    before = state_now()
    assert cycle() == 0
    assert state_now() == before

    # publisher crash-replay: losing the cursor AFTER a produce makes
    # the next publish re-ship already-published versions as fresh
    # records — offsets alone would double-fold them; the fold's
    # commit-version watermark must make the replay a no-op.
    os.remove(cursor)
    assert cycle() == 60  # v1 bootstrap re-published and drained...
    assert state_now() == before  # ...but folded nothing (watermark)
    assert cycle() > 0  # (1→3] re-published: drained, still no-op
    assert state_now() == before
    assert cycle() == 0
    assert state_now() == recompute()


def test_ann_drift_maintenance_composes_rebalance_and_retrain(spark, tmp_path):
    """§7.19 composed job: ONE drifted vector batch lands in both
    serving projections (IVF corpus + PQ codes); the cycle rebalances
    lists then retrains codes — imbalance and train-MSE both drop,
    probes pinned to EITHER pre-cycle manifest stay green, and the
    vacuum pass reclaims both retired file sets without touching the
    live snapshots."""
    ivf = ann_index.build_ivf_index(
        spark, SF_DIR, similarity.IVF_NLIST, out_dir=str(tmp_path / "ivf")
    )
    pq = ann_index.build_pq_index(spark, SF_DIR, out_dir=str(tmp_path / "pq"))
    corpus_dir = os.path.join(ivf, "corpus")
    codes_dir = os.path.join(pq, "codes")
    ann_index.commit_index_snapshot(corpus_dir)
    ann_index.commit_index_snapshot(codes_dir)

    # one drifted batch, far outside the build distribution → it both
    # piles into one IVF list AND inflates PQ quantization error
    drift = spark.createDataFrame(
        [
            (3_000_000 + i, [5.0 + 0.01 * ((i * 7 + d) % 13) for d in range(64)])
            for i in range(300)
        ],
        "vec_id BIGINT, v ARRAY<DOUBLE>",
    )
    ann_index.append_ivf_index(spark, ivf, drift)
    ann_index.commit_index_snapshot(corpus_dir)
    ann_index.append_pq_index(spark, pq, drift)
    ann_index.commit_index_snapshot(codes_dir)
    vectors = (
        similarity._embeddings(spark, SF_DIR).select("vec_id", "v").unionByName(drift)
    )
    n_vec = vectors.count()

    qvec = similarity._query_vector(spark, SF_DIR)
    pinned_ivf = ann_index.snapshot_scan(spark, corpus_dir)  # pins pre-cycle files
    pinned_ivf_rows = {(r.vec_id, r.list_id) for r in pinned_ivf.collect()}
    pinned_pq = ann_index.probe_pq_snapshot(spark, pq, qvec, 20)
    pinned_pq_rows = [(r.vec_id, r.adc_score) for r in pinned_pq.collect()]

    out = maintenance.ann_drift_maintenance(spark, ivf, pq, vectors, vacuum=False)
    assert out["ivf"]["imbalance_after"] < out["ivf"]["imbalance_before"]
    assert out["pq"]["train_mse_after"] < out["pq"]["train_mse_before"]
    assert out["ivf"]["n_vectors"] == n_vec
    assert out["vacuumed"] == 0

    # pinned readers across BOTH indexes still see the pre-cycle layout
    assert {(r.vec_id, r.list_id) for r in pinned_ivf.collect()} == pinned_ivf_rows
    assert [(r.vec_id, r.adc_score) for r in pinned_pq.collect()] == pinned_pq_rows

    # fresh probes resolve the maintained snapshots coherently
    assert ann_index.snapshot_scan(spark, corpus_dir).count() == n_vec
    assert ann_index.snapshot_scan(spark, codes_dir).count() == n_vec
    fresh = ann_index.probe_pq_snapshot(spark, pq, qvec, 20).collect()
    assert len(fresh) == 20

    # second cycle with vacuum: reclaims BOTH retired sets, live intact
    out2 = maintenance.ann_drift_maintenance(spark, ivf, pq, vectors, vacuum=True)
    assert out2["vacuumed"] > 0
    assert ann_index.read_index_manifest(corpus_dir)["retired"] == []
    assert ann_index.read_index_manifest(codes_dir)["retired"] == []
    assert ann_index.snapshot_scan(spark, corpus_dir).count() == n_vec
    assert ann_index.snapshot_scan(spark, codes_dir).count() == n_vec


def test_append_ivf_attr_layout_carries_attrs_or_fails_loudly(spark, tmp_path):
    """Appending to an attr-bearing IVF layout must mirror the stored
    schema: a delta WITH the attr lands visible to the filtered probe
    (same label), and a delta WITHOUT it raises instead of writing
    attr-null rows a filtered probe would silently drop forever."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    idx = ann_index.build_ivf_index(
        spark,
        SF_DIR,
        similarity.IVF_NLIST,
        out_dir=str(tmp_path / "ivf_label"),
        attrs=("label",),
    )
    qvec = similarity._query_vector(spark, SF_DIR)
    pred = F.col("label") == similarity.FILTER_LABEL

    with _pytest.raises(ValueError, match="label"):
        ann_index.append_ivf_index(spark, idx, _query_clone_df(spark))

    delta = _query_clone_df(spark).withColumn(
        "label", F.lit(similarity.FILTER_LABEL)
    )
    ann_index.append_ivf_index(spark, idx, delta)
    got = {
        r.vec_id
        for r in ann_index.probe_ivf_index(
            spark, idx, qvec, similarity.IVF_NPROBE, where=pred
        ).collect()
    }
    assert NEW_VEC_ID in got, "appended attr-bearing vector must be filterable"
    other = {
        r.vec_id
        for r in ann_index.probe_ivf_index(
            spark, idx, qvec, similarity.IVF_NPROBE,
            where=F.col("label") == similarity.FILTER_LABEL + 1,
        ).collect()
    }
    assert NEW_VEC_ID not in other


def test_ivf_delete_tombstones_mask_probes_and_rebalance_applies(spark, tmp_path):
    """IVF deletes: tombstoned ids vanish from raw AND snapshot probes
    immediately (broadcast anti-join mask), re-deleting is a no-op on
    results, rebalance drops the rows PHYSICALLY (and keeps attr
    columns intact through the rewrite), and compact_ivf_tombstones
    retires exactly the applied entries while keeping fresh ones."""
    from pyspark.sql import functions as F

    idx = ann_index.build_ivf_index(
        spark,
        SF_DIR,
        similarity.IVF_NLIST,
        out_dir=str(tmp_path / "ivf_del"),
        attrs=("label",),
    )
    corpus_dir = str(tmp_path / "ivf_del" / "corpus")
    ann_index.commit_index_snapshot(corpus_dir)
    qvec = similarity._query_vector(spark, SF_DIR)

    def probe_ids():
        return {
            r.vec_id
            for r in ann_index.probe_ivf_index(
                spark, idx, qvec, similarity.IVF_NLIST  # probe ALL lists
            ).collect()
        }

    before = probe_ids()
    victims = sorted(before)[:3]
    ann_index.delete_ivf_vectors(spark, idx, victims)
    after = probe_ids()
    assert after == before - set(victims)
    snap = {
        r.vec_id
        for r in ann_index.probe_ivf_snapshot(
            spark, idx, qvec, similarity.IVF_NLIST
        ).collect()
    }
    assert not (snap & set(victims)), "snapshot probe must mask tombstones"

    ann_index.delete_ivf_vectors(spark, idx, victims)  # replay: no change
    assert probe_ids() == after

    stats = ann_index.rebalance_ivf_index(spark, idx)
    assert stats["n_vectors"] == len(after), "rebalance must drop deleted rows"
    live = ann_index.snapshot_scan(spark, corpus_dir)
    assert "label" in live.columns, "attrs must survive the rewrite"
    assert live.filter(F.col("vec_id").isin(victims)).count() == 0
    assert live.filter(F.col("label").isNull()).count() == 0

    # a fresh delete AFTER the rebalance must survive the compact
    fresh = sorted(probe_ids())[0]
    ann_index.delete_ivf_vectors(spark, idx, [fresh])
    dropped = ann_index.compact_ivf_tombstones(spark, idx)
    assert dropped == len(victims)
    remaining = probe_ids()
    assert fresh not in remaining
    assert not (remaining & set(victims)), "applied deletes stay deleted"


def test_delete_masks_lsh_and_pq_probes(spark, tmp_path):
    """Tombstone deletes are layout-generic: the same sidecar masks
    LSH band probes (raw and snapshot) and PQ ADC candidate scans."""
    lsh = ann_index.build_lsh_index(
        spark, SF_DIR, similarity.PLANES, similarity.LSH_BAND_BITS,
        out_dir=str(tmp_path / "lsh"),
    )
    qvec = similarity._query_vector(spark, SF_DIR)

    def lsh_ids():
        return {
            r.vec_id
            for r in ann_index.probe_lsh_index(
                spark, lsh, qvec, similarity.PLANES, similarity.LSH_BAND_BITS
            ).collect()
        }

    before = lsh_ids()
    victim = sorted(before)[0]
    ann_index.delete_index_vectors(spark, lsh, [victim])
    assert lsh_ids() == before - {victim}
    ann_index.commit_index_snapshot(lsh)
    snap = {
        r.vec_id
        for r in ann_index.probe_lsh_snapshot(
            spark, lsh, qvec, similarity.PLANES, similarity.LSH_BAND_BITS
        ).collect()
    }
    assert victim not in snap

    pq = ann_index.build_pq_index(
        spark, SF_DIR, similarity.PQ_M, similarity.PQ_KSUB,
        out_dir=str(tmp_path / "pq"),
    )

    def pq_ids():
        return {
            r.vec_id
            for r in ann_index.probe_pq_index(
                spark, pq, qvec, similarity.PQ_CANDIDATES
            ).collect()
        }

    pq_before = pq_ids()
    pq_victim = sorted(pq_before)[0]
    ann_index.delete_index_vectors(spark, pq, [pq_victim])
    assert pq_ids() == pq_before - {pq_victim}


def test_audience_kmv_updater_stream_fold_equals_batch_sketch(spark, tmp_path):
    """Two disjoint micro-batches folded through the audience-KMV
    state must reproduce EXACTLY the batch-built per-type sketch (the
    k-min merge theorem end-to-end), and a replayed batch id no-ops."""
    import glob as globmod
    import shutil

    from pyspark.sql import Window

    from samza_hello_samza_spark.operators import sketches

    base = os.path.join(SF_DIR, "events.parquet")
    events = spark.read.parquet(base)
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, half in enumerate((0, 1)):
        stage = str(tmp_path / f"stage{i}")
        events.filter(F.col("event_id") % 2 == half).coalesce(1).write.parquet(stage)
        part = globmod.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(src, f"b{i}.parquet"))
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    state = str(tmp_path / "akmv_state")
    q = maintenance.audience_kmv_updater(stream, state, str(tmp_path / "ck"))
    q.processAllAvailable()
    q.stop()

    got = {
        (r.event_type, r.user_id, r.h)
        for r in maintenance.read_audience_kmv(spark, state).collect()
    }
    du = events.select("event_type", "user_id").distinct()
    hashed = du.select(
        "event_type", "user_id", sketches._user_hash(F.col("user_id")).alias("h")
    )
    w = Window.partitionBy("event_type").orderBy("h", "user_id")
    want = {
        (r.event_type, r.user_id, r.h)
        for r in hashed.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= sketches.KMV_SET_K)
        .drop("rnk")
        .collect()
    }
    assert got == want

    man_before = _manifest(spark, state)
    assert maintenance.fold_audience_kmv(events, state, batch_id=0) is False
    assert _manifest(spark, state) == man_before


def test_cms_fold_is_replay_gated_and_equals_batch_cells(spark, tmp_path):
    """r07 hardening pin: the CMS fold commits through the
    snapshot-manifest batch gate (counter addition is NOT
    replay-idempotent, so the gate IS exactly-once — the pre-r07
    .staging fold double-counted a replayed batch), and two disjoint
    deltas folded through the gate reproduce EXACTLY the batch-built
    D×W cell table plus the batch key's min-of-cells estimates."""
    from samza_hello_samza_spark.operators import sketches
    from samza_hello_samza_spark.operators.dedup import explode_nonempty

    base = os.path.join(SF_DIR, "events.parquet")
    events = spark.read.parquet(base)
    state = str(tmp_path / "cms_state")
    assert (
        maintenance.fold_cms_cells(
            events.filter(F.col("event_id") % 2 == 0), state, batch_id=0
        )
        is True
    )
    # crash-replay of batch 0: MUST fold nothing (counters would double)
    man_mid = _manifest(spark, state)
    assert (
        maintenance.fold_cms_cells(
            events.filter(F.col("event_id") % 2 == 0), state, batch_id=0
        )
        is False
    )
    assert _manifest(spark, state) == man_mid
    assert (
        maintenance.fold_cms_cells(
            events.filter(F.col("event_id") % 2 == 1), state, batch_id=1
        )
        is True
    )

    got = {
        (r.row, r.bucket, r.cnt)
        for r in maintenance.read_cms_cells(spark, state).collect()
    }
    pairs = F.array(
        *[
            F.struct(
                F.lit(row).alias("row"),
                sketches._cms_bucket(F.col("user_id"), row).alias("bucket"),
            )
            for row in range(sketches.CMS_D)
        ]
    )
    want = {
        (r.row, r.bucket, r.cnt)
        for r in explode_nonempty(events, [], pairs, "p")
        .groupBy(F.col("p.row").alias("row"), F.col("p.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got == want

    # estimates from the maintained state == the batch key's estimates
    est = {
        r.user_id: r.est_count
        for r in maintenance.cms_estimate(
            spark, state, events.select("user_id").distinct(), "user_id"
        ).collect()
    }
    for r in sketches.heavy_hitters_cms(spark, SF_DIR).collect():
        assert est[r.user_id] == r.est_count, r
        assert est[r.user_id] >= r.exact_count  # CMS never underestimates


def test_apply_cdf_to_join_mv_matches_recompute_and_survives_replay(
    spark, tmp_path
):
    """The streaming join-MV chain end-to-end: publish_cdf (bootstrap
    + changes) → apply_cdf_to_join_mv cycles; the MV equals the final
    state ⋈ dim; re-cycles fold nothing; a publisher cursor-loss
    replay (at-least-once re-publication) changes no rows AND writes
    no new MV table version (row-level idempotence + txn watermarks)."""
    import json as jsonmod

    from samza_hello_samza_spark.session import load_table
    from samza_hello_samza_spark.sources.merge import (
        VersionedMergeTable,
        _cdf_orders_table,
    )
    from samza_hello_samza_spark.sources.topic_log import TopicLog

    base = _cdf_orders_table(spark, SF_DIR, name="cdf_orders_smv")
    dim = load_table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    topic = TopicLog(spark, str(tmp_path / "topic"), n_partitions=4)
    cursor = str(tmp_path / "cursor.json")
    mv = VersionedMergeTable(spark, str(tmp_path / "mv"), "o_custkey", n_buckets=8)
    schema = (
        "o_custkey BIGINT, last_orderkey BIGINT, last_status STRING, "
        "_change_type STRING, _commit_version BIGINT"
    )
    for _ in range(2):  # bootstrap cycle, then the (1 → 3] changes
        maintenance.publish_cdf(base, topic, cursor, key_col="o_custkey")
        maintenance.apply_cdf_to_join_mv(
            spark, topic, "jmv", mv, dim, "o_custkey", schema
        )
    want = sorted(
        tuple(r)
        for r in base.read()
        .join(dim, "o_custkey")
        .select("o_custkey", "last_orderkey", "last_status", "c_mktsegment")
        .collect()
    )
    got = sorted(
        tuple(r)
        for r in mv.read()
        .select("o_custkey", "last_orderkey", "last_status", "c_mktsegment")
        .collect()
    )
    assert got == want and got

    # idle re-cycle: nothing published, nothing drained, ledger clean
    v_before = mv.versions()
    maintenance.publish_cdf(base, topic, cursor, key_col="o_custkey")
    assert (
        maintenance.apply_cdf_to_join_mv(
            spark, topic, "jmv", mv, dim, "o_custkey", schema
        )
        == 0
    )
    assert mv.versions() == v_before

    # publisher cursor-loss crash: rewind the cursor so the (1 → 3]
    # changes re-publish as fresh records; the apply must change no
    # rows and (txn watermark) write no new version
    with open(cursor) as fh:
        assert jsonmod.load(fh)["version"] == base.manifest()["current"]
    with open(cursor, "w") as fh:
        jsonmod.dump({"version": 1}, fh)
    maintenance.publish_cdf(base, topic, cursor, key_col="o_custkey")
    n = maintenance.apply_cdf_to_join_mv(
        spark, topic, "jmv", mv, dim, "o_custkey", schema
    )
    assert n > 0  # the replayed records were drained ...
    assert mv.versions() == v_before  # ... and folded nothing
    got2 = sorted(
        tuple(r)
        for r in mv.read()
        .select("o_custkey", "last_orderkey", "last_status", "c_mktsegment")
        .collect()
    )
    assert got2 == want


def test_restore_flows_through_cdc_consumer_exactly_once(spark, tmp_path):
    """r07 RESTORE × the CDC chain: a table rollback is just another
    commit to every downstream — publish_cdf ships the restore's
    preimage-bearing diff, the signed fold returns the state to its
    pre-mutation value, and a publisher cursor-loss replay of the
    restore batch folds nothing (commit-version watermark)."""
    import json as jsonmod

    from samza_hello_samza_spark.sources.merge import VersionedMergeTable
    from samza_hello_samza_spark.sources.topic_log import TopicLog

    t = VersionedMergeTable(spark, str(tmp_path / "t"), "k", n_buckets=4)
    t.write_full(
        spark.createDataFrame(
            [(i, "a" if i % 2 else "b", i * 10) for i in range(12)],
            "k long, g string, val long",
        )
    )
    topic = TopicLog(spark, str(tmp_path / "topic"), n_partitions=2)
    cursor = str(tmp_path / "cursor.json")
    state = str(tmp_path / "state")
    schema = "k BIGINT, g STRING, val BIGINT, _change_type STRING, _commit_version BIGINT"

    def cycle():
        maintenance.publish_cdf(t, topic, cursor, key_col="k")
        maintenance.fold_cdf_from_topic(
            spark, topic, "dn", state, schema, keys=["g"], value_col="val"
        )

    def folded():
        return {
            r.g: (r.n_events, r.sum_value)
            for r in VersionedState(spark, state).read().collect()
        }

    def expected():
        return {
            r.g: (r.n, r.s)
            for r in t.read()
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("val").alias("s"))
            .collect()
        }

    cycle()  # bootstrap
    v1_state = folded()
    assert v1_state == expected()

    # v2 mutation: update, insert, delete
    t.merge(
        spark.createDataFrame(
            [(0, "a", 999), (100, "b", 5)], "k long, g string, val long"
        )
    )
    t.delete_where(F.col("k") == 3)
    cycle()
    assert folded() == expected()
    assert folded() != v1_state

    # RESTORE to v1: downstream must return to the v1 state
    t.restore(1)
    cycle()
    assert folded() == expected()
    assert folded() == v1_state

    # publisher cursor loss: the restore batch re-publishes; the
    # commit-version watermark must make the re-fold a no-op
    with open(cursor, "w") as fh:
        jsonmod.dump({"version": t.manifest()["current"] - 1}, fh)
    cycle()
    assert folded() == v1_state


def test_restore_flows_through_join_mv_applier_exactly_once(spark, tmp_path):
    """r08 (VERDICT #1): a table RESTORE drives the JOIN-MV applier
    like any commit — the netted apply (last commit wins per key)
    absorbs the rollback batch (updates reverted, deletes re-inserted,
    v2 inserts retracted), the MV returns to v1 ⋈ dim ≡ a from-scratch
    recompute, an idle cycle writes nothing, and a publisher
    cursor-loss replay of the restore batch changes no rows AND (txn
    watermark) writes no new MV version."""
    import json as jsonmod

    from samza_hello_samza_spark.sources.merge import VersionedMergeTable
    from samza_hello_samza_spark.sources.topic_log import TopicLog

    t = VersionedMergeTable(spark, str(tmp_path / "t"), "k", n_buckets=4)
    t.write_full(
        spark.createDataFrame(
            [(i, i * 10) for i in range(12)], "k long, val long"
        )
    )
    dim = spark.createDataFrame(
        [(i, "seg-" + ("ab"[i % 2])) for i in range(200)], "k long, seg string"
    )
    topic = TopicLog(spark, str(tmp_path / "topic"), n_partitions=2)
    cursor = str(tmp_path / "cursor.json")
    mv = VersionedMergeTable(spark, str(tmp_path / "mv"), "k", n_buckets=4)
    schema = "k BIGINT, val BIGINT, _change_type STRING, _commit_version BIGINT"

    def cycle():
        maintenance.publish_cdf(t, topic, cursor, key_col="k")
        return maintenance.apply_cdf_to_join_mv(
            spark, topic, "rjmv", mv, dim, "k", schema
        )

    def mv_rows():
        return sorted(
            tuple(r) for r in mv.read().select("k", "val", "seg").collect()
        )

    def recompute():
        return sorted(
            tuple(r)
            for r in t.read().join(dim, "k").select("k", "val", "seg").collect()
        )

    cycle()  # bootstrap (v1 as inserts)
    v1_rows = mv_rows()
    assert v1_rows == recompute() and v1_rows

    # v2: update k=0, insert k=100; v3: delete k=3
    t.merge(spark.createDataFrame([(0, 999), (100, 5)], "k long, val long"))
    t.delete_where(F.col("k") == 3)
    cycle()
    assert mv_rows() == recompute() and mv_rows() != v1_rows

    # v4 = RESTORE to v1: the applier must bring the MV back exactly
    t.restore(1)
    cycle()
    assert mv_rows() == recompute()
    assert mv_rows() == v1_rows

    # idle cycle: nothing drained, ledger clean
    v_before = mv.versions()
    assert cycle() == 0
    assert mv.versions() == v_before

    # publisher cursor loss: the (1 → 4] batches (incl. the restore)
    # re-publish as fresh records; rows unchanged, no new MV version
    with open(cursor, "w") as fh:
        jsonmod.dump({"version": 1}, fh)
    n = cycle()
    assert n > 0  # drained the re-publication ...
    assert mv_rows() == v1_rows  # ... changed nothing
    assert mv.versions() == v_before  # ... and committed nothing


# -- hybrid serving (r11, VERDICT r10 #3) -----------------------------------


def test_hybrid_serving_job_matches_batch_core(spark, tmp_path, monkeypatch):
    """Streamed (query_id, terms, v) rows must return EXACTLY what the
    batch core (`hybrid_topk_from_layouts` — the same function the
    registered keys call) returns for the same inputs: parity is
    structural, and this pins the plumbing (per-batch manifest pin,
    collect shape, idempotent sink) around it."""
    from samza_hello_samza_spark.sources import inverted

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    bm25_idx = inverted._documents_bm25_index(spark, SF_DIR)
    sq8_idx = similarity._sq8_index(spark, SF_DIR)

    rng = np.random.default_rng(11)
    qvec0 = similarity._query_vector(spark, SF_DIR)
    qvec1 = qvec0 + rng.normal(scale=0.05, size=qvec0.shape)
    workload = [
        (0, list(inverted.WAND_QUERY_TERMS), [float(x) for x in qvec0]),
        (1, ["spark", "join", "window"], [float(x) for x in qvec1]),
    ]
    schema = "query_id BIGINT, terms ARRAY<STRING>, v ARRAY<DOUBLE>"
    qdir = str(tmp_path / "queries")
    spark.createDataFrame(workload, schema).write.parquet(qdir)
    stream = spark.readStream.schema(schema).parquet(qdir)
    out = str(tmp_path / "results")
    q = maintenance.hybrid_serving_job(
        stream, bm25_idx, sq8_idx, out, str(tmp_path / "ck")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got: dict[int, list] = {}
    for r in spark.read.parquet(out).collect():
        got.setdefault(r.query_id, []).append(
            (r.doc_id, r.lex_rank, r.vec_rank, r.bm25, r.cosine, r.rrf)
        )
    for qid, terms, v in workload:
        want = [
            tuple(r)
            for r in similarity.hybrid_topk_from_layouts(
                spark, bm25_idx, sq8_idx, terms, np.asarray(v)
            ).collect()
        ]
        assert sorted(got[qid]) == sorted(want), qid
        assert len(want) > 0


def test_hybrid_serving_job_snapshot_isolation(spark, tmp_path, monkeypatch):
    """The trilogy's snapshot discipline on the hybrid tier: batch 1
    is served against snapshot v1; a writer commits an exact clone of
    the query vector between batches; batch 2 (same query) sees the
    clone at vec rank 1 while batch 1's results are untouched."""
    from samza_hello_samza_spark.sources import inverted

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    bm25_idx = inverted._documents_bm25_index(spark, SF_DIR)
    sq8_idx = similarity._sq8_index(spark, SF_DIR)
    corpus_dir = os.path.join(sq8_idx, "corpus")

    qvec = similarity._query_vector(spark, SF_DIR)
    row = [float(x) for x in qvec]
    terms = list(inverted.WAND_QUERY_TERMS)
    schema = "query_id BIGINT, terms ARRAY<STRING>, v ARRAY<DOUBLE>"
    qdir = str(tmp_path / "queries")
    os.makedirs(qdir)
    spark.createDataFrame([(100, terms, row)], schema).write.parquet(
        os.path.join(qdir, "f1")
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(qdir, "*"))
    )
    out = str(tmp_path / "results")
    q = maintenance.hybrid_serving_job(
        stream, bm25_idx, sq8_idx, out, str(tmp_path / "ck")
    )
    try:
        q.processAllAvailable()  # batch 1: snapshot v1
        ann_index.append_ivf_index(spark, sq8_idx, _query_clone_df(spark))
        ann_index.commit_index_snapshot(corpus_dir)
        spark.createDataFrame([(101, terms, row)], schema).write.parquet(
            os.path.join(qdir, "f2")
        )
        q.processAllAvailable()  # batch 2: snapshot v2
    finally:
        q.stop()

    got: dict[int, dict] = {}
    for r in spark.read.parquet(out).collect():
        got.setdefault(r.query_id, {})[r.doc_id] = r
    assert NEW_VEC_ID not in got[100], "batch 1 leaked the mid-stream commit"
    assert NEW_VEC_ID in got[101], "batch 2 missed the committed snapshot"
    # the clone IS the query: cosine exactly 1.0, and only the corpus
    # copy of the query vector itself (lower vec_id wins the tie) can
    # outrank it
    assert got[101][NEW_VEC_ID].cosine == 1.0
    assert got[101][NEW_VEC_ID].vec_rank <= 2


def test_hybrid_serving_job_filtered_variant(spark, tmp_path, monkeypatch):
    """attr_eq on the serving job serves the FILTERED hybrid: results
    match the batch core with the same predicate, and every returned
    doc satisfies it (no resurrection through either leg)."""
    from samza_hello_samza_spark.sources import inverted

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    bm25_idx = inverted._documents_bm25_label_index(spark, SF_DIR)
    sq8_idx = similarity._sq8_index(spark, SF_DIR, attrs=("label",))
    attr = ("label", similarity.FILTER_LABEL)

    qvec = similarity._query_vector(spark, SF_DIR)
    terms = list(inverted.WAND_QUERY_TERMS)
    schema = "query_id BIGINT, terms ARRAY<STRING>, v ARRAY<DOUBLE>"
    qdir = str(tmp_path / "queries")
    spark.createDataFrame(
        [(7, terms, [float(x) for x in qvec])], schema
    ).write.parquet(qdir)
    stream = spark.readStream.schema(schema).parquet(qdir)
    out = str(tmp_path / "results")
    q = maintenance.hybrid_serving_job(
        stream, bm25_idx, sq8_idx, out, str(tmp_path / "ck"), attr_eq=attr
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(
        tuple(r)[1:-1]  # drop query_id and _batch_id
        for r in spark.read.parquet(out).collect()
    )
    want = sorted(
        tuple(r)
        for r in similarity.hybrid_topk_from_layouts(
            spark, bm25_idx, sq8_idx, terms, qvec, attr_eq=attr
        ).collect()
    )
    assert got == want and len(got) > 0
    allowed = {
        r.vec_id
        for r in similarity._embeddings(spark, SF_DIR)
        .filter(F.col("label") == attr[1])
        .select("vec_id")
        .collect()
    }
    assert all(t[0] in allowed for t in got)


def test_hybrid_serving_job_restart_resumes_exactly_once(
    spark, tmp_path, monkeypatch
):
    """Crash/restart discipline on the hybrid tier: a NEW query over
    the SAME source + checkpoint neither re-serves processed batches
    (no duplicate result rows — the _batch_id partition overwrite is
    idempotent and the checkpoint advances the source offset) nor
    misses files added while the job was down."""
    from samza_hello_samza_spark.sources import inverted

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    bm25_idx = inverted._documents_bm25_index(spark, SF_DIR)
    sq8_idx = similarity._sq8_index(spark, SF_DIR)

    qvec = similarity._query_vector(spark, SF_DIR)
    row = [float(x) for x in qvec]
    terms = list(inverted.WAND_QUERY_TERMS)
    schema = "query_id BIGINT, terms ARRAY<STRING>, v ARRAY<DOUBLE>"
    qdir = str(tmp_path / "queries")
    os.makedirs(qdir)
    out = str(tmp_path / "results")
    ck = str(tmp_path / "ck")

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(qdir, "*"))
        )
        return maintenance.hybrid_serving_job(stream, bm25_idx, sq8_idx, out, ck)

    spark.createDataFrame([(1, terms, row)], schema).write.parquet(
        os.path.join(qdir, "f1")
    )
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    first = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert {t[0] for t in first} == {1}

    # job down: a new query arrives; then the job restarts on the
    # same checkpoint
    spark.createDataFrame([(2, terms, row)], schema).write.parquet(
        os.path.join(qdir, "f2")
    )
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    rows = spark.read.parquet(out).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {1, 2}  # missed nothing
    # exactly-once: no duplicated (query_id, doc_id) pairs anywhere
    pairs = [(r.query_id, r.doc_id) for r in rows]
    assert len(pairs) == len(set(pairs))
    # query 1's results are untouched by the restart
    assert sorted(t for t in map(tuple, rows) if t[0] == 1) == first
    # identical query vectors: same fused relation modulo query_id
    strip = lambda rs: sorted((r.doc_id, r.lex_rank, r.vec_rank, r.bm25, r.cosine, r.rrf) for r in rs)
    assert strip(by_q[1]) == strip(by_q[2])


def test_hybrid_serving_sees_ingested_doc_on_both_legs(
    spark, tmp_path, monkeypatch
):
    """End-to-end freshness drill for the hybrid tier: between two
    micro-batches a writer folds a NEW document into the BM25 posting
    layout (`append_documents_bm25` — sidecar counters fold, a fresh
    layout_version invalidates the pricing cache) AND commits its
    vector to the SQ8 snapshot. The SAME query served again must
    surface the new doc on BOTH legs — lexical (it carries all three
    query terms in a short doc) and vector (its embedding is an exact
    clone of the query) — while batch 1's results stay untouched."""
    from samza_hello_samza_spark.sources import inverted

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    bm25_idx = inverted._documents_bm25_index(spark, SF_DIR)
    sq8_idx = similarity._sq8_index(spark, SF_DIR)
    corpus_dir = os.path.join(sq8_idx, "corpus")

    qvec = similarity._query_vector(spark, SF_DIR)
    row = [float(x) for x in qvec]
    terms = list(inverted.WAND_QUERY_TERMS)
    schema = "query_id BIGINT, terms ARRAY<STRING>, v ARRAY<DOUBLE>"
    qdir = str(tmp_path / "queries")
    os.makedirs(qdir)
    spark.createDataFrame([(200, terms, row)], schema).write.parquet(
        os.path.join(qdir, "f1")
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(qdir, "*"))
    )
    out = str(tmp_path / "results")
    q = maintenance.hybrid_serving_job(
        stream, bm25_idx, sq8_idx, out, str(tmp_path / "ck")
    )
    try:
        q.processAllAvailable()  # batch 1: pre-ingest state

        new_doc = spark.createDataFrame(
            [(NEW_VEC_ID, "dup join window " * 3)],
            "doc_id long, text string",
        )
        n = inverted.append_documents_bm25(spark, bm25_idx, new_doc)
        assert n == 3  # three distinct (word, doc) postings folded
        ann_index.append_ivf_index(spark, sq8_idx, _query_clone_df(spark))
        ann_index.commit_index_snapshot(corpus_dir)

        spark.createDataFrame([(201, terms, row)], schema).write.parquet(
            os.path.join(qdir, "f2")
        )
        q.processAllAvailable()  # batch 2: post-ingest state
    finally:
        q.stop()

    got: dict[int, dict] = {}
    for r in spark.read.parquet(out).collect():
        got.setdefault(r.query_id, {})[r.doc_id] = r
    assert NEW_VEC_ID not in got[200], "batch 1 leaked post-ingest state"
    assert NEW_VEC_ID in got[201], "batch 2 missed the ingested doc"
    fresh = got[201][NEW_VEC_ID]
    # lexical: a short doc carrying ALL query terms ranks (it matched
    # on the folded postings, scored under the folded sidecar stats)
    assert fresh.lex_rank >= 1 and fresh.bm25 > 0.0
    # vector: the exact clone reranks at cosine 1.0
    assert fresh.cosine == 1.0 and fresh.vec_rank >= 1
    # and the fused rank reflects both legs (top of the fused list)
    top_doc = min(got[201].values(), key=lambda r: (-r.rrf, r.doc_id))
    assert top_doc.doc_id == NEW_VEC_ID


def test_vector_serving_reads_one_manifest_per_batch(spark, tmp_path, monkeypatch):
    """Each vector serving route pins one committed manifest per
    micro-batch: a two-query batch reads it once, so a commit landing
    mid-batch cannot split the batch across two snapshots."""
    lsh = str(tmp_path / "lsh")
    ann_index.build_lsh_index(
        spark, SF_DIR, similarity.PLANES, similarity.LSH_BAND_BITS, out_dir=lsh
    )
    ann_index.commit_index_snapshot(lsh)
    ivf = ann_index.build_ivf_index(
        spark, SF_DIR, similarity.IVF_NLIST, out_dir=str(tmp_path / "ivf")
    )
    ann_index.commit_index_snapshot(os.path.join(ivf, "corpus"))
    pq = ann_index.build_pq_index(
        spark, SF_DIR, similarity.PQ_M, similarity.PQ_KSUB, out_dir=str(tmp_path / "pq")
    )
    ann_index.commit_index_snapshot(os.path.join(pq, "codes"))

    emb = similarity._embeddings(spark, SF_DIR)
    batch = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "v"
    )
    reads, folds = [], []
    read = ann_index.read_index_manifest
    monkeypatch.setattr(
        ann_index,
        "read_index_manifest",
        lambda *a, **k: reads.append(a[0]) or read(*a, **k),
    )
    monkeypatch.setattr(
        maintenance, "fold_stream", lambda _s, _ck, fold, **_kw: folds.append(fold)
    )
    ck = str(tmp_path / "ck")
    lsh_args = (lsh, similarity.PLANES, similarity.LSH_BAND_BITS)
    routes = {
        "lsh": lambda out: maintenance.ann_serving_job(batch, *lsh_args, out, ck),
        "lsh_multiprobe": lambda out: maintenance.ann_serving_job(
            batch, *lsh_args, out, ck, n_flips=1
        ),
        "ivf": lambda out: maintenance.ivf_serving_job(
            batch, ivf, out, ck, nprobe=similarity.IVF_NPROBE
        ),
        "pq": lambda out: maintenance.pq_serving_job(batch, pq, emb, out, ck),
    }
    for name, start in routes.items():
        out = str(tmp_path / f"out_{name}")
        start(out)
        reads.clear()
        folds[-1](batch, 0)
        assert len(reads) == 1, (name, reads)
        assert {r.query_id for r in spark.read.parquet(out).collect()} == {0, 1}, name
