"""Streaming jobs produce the same results as their batch analogs.

Mirrors the reference's test strategy (TestSamzaCookBookExamples.java:
bounded in-memory streams, assert on collected output): each job runs
on a bounded file stream with availableNow, and the collected sink
contents are compared against the batch key's DuckDB oracle or against
the same transform applied to the batch DataFrame.
"""

from __future__ import annotations

import os
import re
import shutil
from pathlib import Path

import pytest

import samza_hello_samza_spark
from samza_hello_samza_spark.operators import samza_surface
from samza_hello_samza_spark.session import load_table, normalize_nanos_ts
from samza_hello_samza_spark.streaming import jobs, sources
from samza_hello_samza_spark.streaming.pipelines import feed_job, parser_job, stats_job
from samza_hello_samza_spark.streaming.runner import (
    last_update_per_key,
    run_stream_to_memory,
)
from tests.conftest import SF_DIR, _norm

PACKAGE = Path(samza_hello_samza_spark.__file__).parent


@pytest.fixture(scope="module")
def batch_events(spark):
    return load_table(spark, SF_DIR, "events")


@pytest.fixture(scope="module")
def stream_events(spark):
    return sources.events_stream(spark, SF_DIR)


def _rows_set(rows, cols):
    return sorted(tuple(r[c] for c in cols) for r in rows)


def test_session_stream_matches_batch_sessionization(spark, batch_events, stream_events):
    """Native session_window ≡ the batch lag/cumsum sessionization.

    Session windows are append-only: a session is emitted once the
    watermark (max event time − 10 min) passes its end (last event +
    30-min gap). Assert (a) everything emitted matches a batch
    session exactly, (b) every batch session that provably closed
    before the watermark was emitted, (c) output is nonempty.
    """
    from pyspark.sql import functions as F

    cols = ["session_start_epoch", "user_id", "views"]
    got_set = set(
        _rows_set(
            run_stream_to_memory(jobs.session_counts_job(stream_events), mode="append"),
            cols,
        )
    )
    # reference sessionization in plain Python (sf0.001 is tiny)
    ev = sorted(
        (r.user_id, r.te)
        for r in batch_events.select(
            "user_id", F.unix_timestamp("ts").alias("te")
        ).collect()
    )
    per_user: dict[int, list[int]] = {}
    for uid, te in ev:
        per_user.setdefault(uid, []).append(te)
    sessions = []  # (start, uid, views, last)
    for uid, times in per_user.items():
        start, last, views = times[0], times[0], 1
        for t in times[1:]:
            if t - last >= 1800:
                sessions.append((start, uid, views, last))
                start, views = t, 0
            views += 1
            last = t
        sessions.append((start, uid, views, last))
    max_ts = max(te for _, te in ev)
    watermark = max_ts - 600
    want_all = {(s, u, v) for s, u, v, _ in sessions}
    want_closed = {(s, u, v) for s, u, v, last in sessions if last + 1800 < watermark}
    assert got_set, "no sessions emitted"
    assert got_set <= want_all, f"spurious sessions: {sorted(got_set - want_all)[:5]}"
    assert want_closed <= got_set, (
        f"closed sessions not emitted: {sorted(want_closed - got_set)[:5]}"
    )


def test_join_stream_matches_batch(spark, batch_events, stream_events):
    cols = ["user_id", "view_id", "click_id"]
    got = run_stream_to_memory(jobs.view_click_join_job(stream_events), mode="append")
    want = samza_surface.stream_stream_join(spark, SF_DIR).collect()
    assert _rows_set(got, cols) == _rows_set(want, cols)


#: (registry key, the key's frame function over a stream, output mode,
#: oracle columns the stream cannot produce). The running total over
#: all windows is a batch-only window function.
STREAM_DEFS = [
    ("filter_events", lambda spark, ev: samza_surface.valid_events(ev), "append", ()),
    ("tumbling_window", lambda spark, ev: samza_surface.tumbling_counts(ev), "update", ()),
    (
        "stream_table_join",
        lambda spark, ev: samza_surface.enrich_events(ev, sources.customer_table(spark, SF_DIR)),
        "append",
        (),
    ),
    ("wikipedia_parse", lambda spark, ev: parser_job(feed_job(ev)).drop("ts"), "append", ()),
    (
        "wikipedia_stats",
        lambda spark, ev: stats_job(parser_job(feed_job(ev))),
        "update",
        ("edits_all_time",),
    ),
]


@pytest.mark.parametrize(
    "key,build,mode,batch_only", STREAM_DEFS, ids=[d[0] for d in STREAM_DEFS]
)
def test_stream_matches_oracle(spark, duck, stream_events, key, build, mode, batch_only):
    """The definition a registry key applies to ``load_table``, run over
    a file stream, equals the key's DuckDB oracle on every column the
    stream produces."""
    df = build(spark, stream_events)
    assert df.isStreaming
    want = duck.execute(samza_surface.ORACLES[key]).df()
    cols = sorted(df.columns)
    assert sorted(set(want.columns) - set(cols)) == sorted(batch_only)
    got = sorted(
        tuple(_norm(r[c]) for c in cols) for r in run_stream_to_memory(df, mode=mode)
    )
    expected = sorted(
        tuple(_norm(v) for v in row) for row in want[cols].itertuples(index=False, name=None)
    )
    assert got and got == expected


#: a call (not the ``def``) of a Wikipedia raw-line helper
_WIKI_CALL = re.compile(r"(?<!def )\b(synthesize_raw_line|parse_raw_line|edit_fields)\(")


def test_wikipedia_line_helpers_called_once_in_pipelines():
    """The feed line and the parse are written once, in the topology's
    stages; every batch key and live source reuses those stages."""
    calls = {}
    for p in sorted(PACKAGE.rglob("*.py")):
        for m in _WIKI_CALL.finditer(p.read_text()):
            calls.setdefault(m.group(1), []).append(str(p.relative_to(PACKAGE)))
    assert calls == {
        "synthesize_raw_line": ["streaming/pipelines.py"],
        "parse_raw_line": ["streaming/pipelines.py"],
        "edit_fields": ["streaming/pipelines.py"],
    }


def test_dau_stream_matches_batch_sketch(spark, stream_events):
    """Streaming HLL DAU equals the batch HLL DAU (same sketch, same
    rsd) — and therefore stays within 5% of exact (asserted on the
    batch side in test_analytics)."""
    from samza_hello_samza_spark.plans import analytics

    got = run_stream_to_memory(jobs.dau_approx_job(stream_events), mode="update")
    want = {
        r.day: r.dau for r in analytics.events_dau_approx(spark, SF_DIR).collect()
    }
    import datetime as dt

    got_by_day = {
        dt.datetime.fromtimestamp(r.day_epoch, dt.timezone.utc).strftime("%Y-%m-%d"): r.dau
        for r in got
    }
    assert got_by_day == want


def test_dedup_events_drops_redelivered(spark, tmp_path, batch_events):
    """The same events file delivered as two micro-batches must come
    out exactly once per event_id."""
    src_dir = str(tmp_path / "dupsrc")
    os.makedirs(src_dir)
    base = os.path.join(SF_DIR, "events.parquet")
    shutil.copy(base, os.path.join(src_dir, "b1.parquet"))
    shutil.copy(base, os.path.join(src_dir, "b2.parquet"))

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from pyspark.sql import functions as F

    schema = spark.read.parquet(base).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    stream = normalize_nanos_ts(stream)
    rows = run_stream_to_memory(jobs.dedup_events_job(stream), mode="append")
    ids = [r.event_id for r in rows]
    assert len(ids) == len(set(ids)), "duplicates survived"
    assert set(ids) == {r.event_id for r in batch_events.collect()}


def test_stateful_totals_accumulate_across_batches(spark, tmp_path, batch_events):
    """The applyInPandasWithState counter must carry state between
    micro-batches (KeyValueStore semantics): feed the same file twice
    as two batches → totals double."""
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    base = os.path.join(SF_DIR, "events.parquet")
    shutil.copy(base, os.path.join(src_dir, "b1.parquet"))
    shutil.copy(base, os.path.join(src_dir, "b2.parquet"))

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from pyspark.sql import functions as F

    schema = spark.read.parquet(base).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    stream = normalize_nanos_ts(stream)
    rows = run_stream_to_memory(jobs.stateful_totals_job(stream), mode="update")
    finals = {}
    for r in rows:  # memory sink appends each update; last one wins
        finals[r.user_id] = r.total_events
    batch_counts = {
        r.user_id: r.cnt
        for r in batch_events.groupBy("user_id").agg(F.count("*").alias("cnt")).collect()
    }
    assert finals, "stateful job emitted nothing"
    for uid, cnt in batch_counts.items():
        assert finals[uid] == 2 * cnt, f"user {uid}: {finals[uid]} != 2*{cnt}"


def test_wikipedia_live_feed_parses_in_flight(spark, tmp_path):
    """Unbounded rate-source feed → parser → stats: the live-ingest demo
    of the reference's IRC consumer path. A short real-time run must
    produce parsed edits with sane fields."""
    from samza_hello_samza_spark.streaming.pipelines import parser_job
    from samza_hello_samza_spark.streaming.sources import wikipedia_live_feed

    feed = wikipedia_live_feed(spark, rows_per_second=2000)
    parsed = parser_job(feed)
    q = (
        parsed.writeStream.format("memory")
        .queryName("live_feed_edits")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck-live"))
        .start()
    )
    try:
        import time

        deadline = time.monotonic() + 30
        n = 0
        while time.monotonic() < deadline:
            q.processAllAvailable()
            n = spark.sql("select count(*) c from live_feed_edits").collect()[0].c
            if n >= 100:
                break
            time.sleep(0.5)
        assert n >= 100, f"live feed produced only {n} parsed edits"
        rows = spark.sql(
            "select * from live_feed_edits where title is null or diff_bytes is null"
        ).collect()
        assert rows == [], "parser produced null fields on live lines"
        sample = spark.sql("select title from live_feed_edits limit 5").collect()
        assert all(r.title.startswith(("Page_", "Special:")) for r in sample)
    finally:
        q.stop()


def test_curation_stream_matches_batch(spark):
    """Streamed gate+dedup keeps exactly the batch survivor hash-set
    (winning doc_id per duplicate group is arrival-order dependent, so
    the comparison keys on text_hash, not doc_id)."""
    docs_stream = sources.documents_stream(spark, SF_DIR)
    got = run_stream_to_memory(jobs.curation_job(docs_stream), mode="append")
    want = jobs.curation_job(load_table(spark, SF_DIR, "documents")).collect()
    assert sorted(r.text_hash for r in got) == sorted(r.text_hash for r in want)
    got_q = {r.text_hash: r.quality_score for r in got}
    want_q = {r.text_hash: r.quality_score for r in want}
    assert got_q == want_q


def test_sessionize_closed_sessions_match_batch_splits(spark, batch_events, stream_events):
    """Single data batch: sessions closed by in-batch gaps must match
    the batch gap-split computation, and availableNow's final
    timer-processing batch must ALSO close every trailing session
    whose (last + gap) timer lies at or behind the final watermark."""
    got = _rows_set(
        run_stream_to_memory(jobs.sessionize_job(stream_events), mode="append"),
        ["user_id", "session_start_epoch", "session_end_epoch", "n_events"],
    )
    from pyspark.sql import functions as F

    per_user: dict[int, list[int]] = {}
    for r in batch_events.select(
        "user_id", F.unix_timestamp("ts").alias("sec")
    ).collect():
        per_user.setdefault(r.user_id, []).append(r.sec)
    max_us = batch_events.agg(F.max(F.unix_micros("ts")).alias("m")).collect()[0].m
    final_wm_ms = max_us // 1000 - 600_000  # 10-minute watermark delay
    want = []
    for user, secs in per_user.items():
        secs.sort()
        start = last = secs[0]
        n = 1
        for s in secs[1:]:
            if s - last >= jobs.SESSION_GAP_SEC:
                want.append((user, start, last, n))
                start = last = s
                n = 1
            else:
                last = s
                n += 1
        if (last + jobs.SESSION_GAP_SEC) * 1000 <= final_wm_ms:
            want.append((user, start, last, n))  # timer-closed trailing session
    assert got == sorted(want)


def test_sessionize_merges_across_batches_and_times_out(spark, tmp_path):
    """Three single-file batches: a session spanning batches 1-2 merges
    in state and closes on batch 2's gap; a quiet user's trailing
    session closes via the event-time timer once batch 3's data pushes
    the watermark past its gap."""
    from pyspark.sql import functions as F

    t0 = 1_700_000_000
    src = str(tmp_path / "sess_src")
    os.makedirs(src)
    batches = [
        [(1, t0), (1, t0 + 100), (2, t0)],      # A: user1 open, user2 open
        [(1, t0 + 5000)],                        # B: gap closes user1's first
        [(99, t0 + 100_000)],                    # C: watermark fires user2's timer
    ]
    for i, rows in enumerate(batches):
        path = os.path.join(src, f"b{i}.parquet")
        spark.createDataFrame(
            [(u, s) for u, s in rows], "user_id long, sec long"
        ).select("user_id", F.timestamp_seconds("sec").alias("ts")).coalesce(
            1
        ).write.parquet(path)
        for f in os.listdir(path):
            os.utime(os.path.join(path, f), (1000 + i, 1000 + i))
        os.utime(path, (1000 + i, 1000 + i))

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    got = _rows_set(
        run_stream_to_memory(jobs.sessionize_job(stream), mode="append"),
        ["user_id", "session_start_epoch", "session_end_epoch", "n_events"],
    )
    assert got == sorted(
        [
            (1, t0, t0 + 100, 2),          # closed by the in-batch gap in B
            (1, t0 + 5000, t0 + 5000, 1),  # timer-closed once C's watermark passes
            (2, t0, t0, 1),                # closed by event-time timeout in C
            # user 99's session stays open: its timer (t0+101800) is
            # beyond the final watermark (t0+99400).
        ]
    )


def test_scd2_stream_matches_batch_closed_periods(spark, tmp_path, batch_events):
    """Two time-ordered micro-batches through the streaming SCD2
    maintainer must emit exactly the batch builder's CLOSED periods
    (valid_to != -1); the open period stays in state."""
    from pyspark.sql import functions as F

    from samza_hello_samza_spark.plans.temporal import user_state_scd2

    # split by time into two files so batch order == event order
    mid = batch_events.agg(
        F.expr("percentile(unix_timestamp(ts), 0.5)")
    ).first()[0]
    src = str(tmp_path / "src")
    os.makedirs(src)
    b1 = batch_events.filter(F.unix_timestamp("ts") <= mid)
    b2 = batch_events.filter(F.unix_timestamp("ts") > mid)
    b1.coalesce(1).write.parquet(os.path.join(src, "a_first.parquet"))
    b2.coalesce(1).write.parquet(os.path.join(src, "b_second.parquet"))
    # file source orders batches by modification time: pin it
    for i, d in enumerate(sorted(os.listdir(src))):
        p = os.path.join(src, d)
        for f in os.listdir(p):
            os.utime(os.path.join(p, f), (1000 + i, 1000 + i))
        os.utime(p, (1000 + i, 1000 + i))

    schema = batch_events.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    rows = run_stream_to_memory(jobs.scd2_job(stream), mode="append")
    got = {(r.user_id, r.state, r.valid_from, r.valid_to) for r in rows}

    # batch reference over the SAME events (written whole to a tmp dir)
    ref_dir = str(tmp_path / "ref")
    os.makedirs(ref_dir)
    batch_events.write.parquet(os.path.join(ref_dir, "events.parquet"))
    want = {
        (r.user_id, r.state, r.valid_from, r.valid_to)
        for r in user_state_scd2(spark, ref_dir).collect()
        if r.valid_to != -1
    }
    assert got == want


def test_decontamination_stream_screen(spark):
    """Streamed bloom screen: no false negatives vs the exact batch
    contamination op, stream ≡ batch for the same transform, and
    `clean` docs are certified contamination-free."""
    from pyspark.sql import functions as F

    from samza_hello_samza_spark.operators import text_filters as tf
    from samza_hello_samza_spark.operators.dedup import _shingles, _words

    # benchmark bloom from the bounded eval-suite shingle set
    docs = load_table(spark, SF_DIR, "documents")
    bench = (
        docs.filter(F.col("doc_id") % tf.BENCHMARK_MOD == 0)
        .select(
            F.explode(
                F.array_distinct(
                    F.transform(
                        _shingles(_words(F.col("text")), k=tf.SHINGLE_K), F.md5
                    )
                )
            ).alias("h")
        )
        .distinct()
    )
    bits, n_bits = tf.build_bloom([r["h"] for r in bench.collect()])

    got = run_stream_to_memory(
        jobs.decontamination_job(
            sources.documents_stream(spark, SF_DIR), bits, n_bits
        ),
        mode="append",
    )
    want = jobs.decontamination_job(docs, bits, n_bits).collect()
    key = lambda r: (r.doc_id, r.n_shingles, r.n_flagged, r.clean)  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, want))

    # superset screen: every doc the EXACT op reports contaminated
    # must be flagged here (zero false negatives) …
    exact = {
        r.doc_id: r.n_contaminated
        for r in tf.text_contamination(spark, SF_DIR).collect()
    }
    flagged = {r.doc_id: r.n_flagged for r in got if r.doc_id in exact}
    for doc_id, n_exact in exact.items():
        assert flagged[doc_id] >= n_exact, (doc_id, flagged[doc_id], n_exact)
    # … and `clean` certifies zero exact contamination
    for r in got:
        if r.doc_id in exact and r.clean:
            assert exact[r.doc_id] == 0


def test_fuzzy_decontamination_stream_matches_batch_candidates(spark):
    """The stateless streaming LSH probe flags exactly the batch
    candidate set: distinct (train, bench) flags ≡ the band-collision
    stage of contamination_minhash, and every CONFIRMED contamination
    pair is flagged (the probe is a superset of the confirmed set)."""
    from pyspark.sql import functions as F

    from samza_hello_samza_spark.operators import dedup

    bands = dedup._minhash_bands(spark, SF_DIR)
    is_bench = F.col("doc_id") % dedup.DECON_MOD == dedup.DECON_REM
    bench_bands = (
        bands.filter(is_bench)
        .select("band", "sig", F.col("doc_id").alias("bench_doc"))
        .localCheckpoint()
    )

    got = run_stream_to_memory(
        jobs.fuzzy_decontamination_job(
            sources.documents_stream(spark, SF_DIR).filter(~is_bench),
            bench_bands,
        ),
        mode="append",
    )
    got_pairs = {(r.train_doc, r.bench_doc) for r in got}

    want_pairs = {
        (r.train_doc, r.bench_doc)
        for r in bands.filter(~is_bench)
        .select("band", "sig", F.col("doc_id").alias("train_doc"))
        .join(bench_bands, ["band", "sig"])
        .select("train_doc", "bench_doc")
        .distinct()
        .collect()
    }
    assert got_pairs == want_pairs and len(got_pairs) > 0

    confirmed = {
        (r.train_doc, r.bench_doc)
        for r in dedup.contamination_minhash(spark, SF_DIR).collect()
    }
    assert confirmed <= got_pairs


def test_watermark_drops_counts_late_data(spark, tmp_path):
    """Late-data audit: rows older than the watermark are dropped
    SILENTLY by the engine — watermark_drops() surfaces the count so
    a pipeline can alarm instead of quietly losing a slice of input."""
    import uuid

    from pyspark.sql import functions as F

    from samza_hello_samza_spark.streaming.runner import watermark_drops

    src = tmp_path / "late_src"
    src.mkdir()
    schema = "user_id long, ts timestamp, value double"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src / name)
        )

    base = "2024-06-01 12:{m:02d}:00"
    write_batch(
        "on_time",
        [(i, __import__("datetime").datetime(2024, 6, 1, 12, i), 1.0) for i in range(5)],
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("start"), "n")
    )
    name = f"wm_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        assert watermark_drops(q) == 0
        # two days earlier — far below the watermark the first batch set
        write_batch(
            "late",
            [(99, __import__("datetime").datetime(2024, 5, 30, 12, 0), 1.0)] * 3,
        )
        q.processAllAvailable()
        drops = watermark_drops(q)
    finally:
        q.stop()
    # map-side partial aggregation combines the 3 late rows into one
    # pre-aggregated row per partition before the stateful operator,
    # so the engine reports the COMBINED late rows it dropped (≥1),
    # not the raw input count — the counter still alarms.
    assert drops >= 1, drops
    starts = {r.start for r in spark.sql(f"SELECT * FROM {name}").collect()}
    assert all(s.year == 2024 and s.month == 6 for s in starts)  # no late window


def _tws_runtime_available() -> bool:
    """transformWithState's Python state-server protocol needs
    google.protobuf at RUNTIME (plan construction does not). Honest
    environment gate, same policy as the Kafka connector jars."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def test_transform_with_state_job_constructs(spark, stream_events):
    """The transformWithStateInPandas plan builds against the real
    streaming source with the declared output schema (what CAN be
    verified without protobuf; the logic itself is unit-tested with a
    fake handle in test_tws_processor_logic_matches_batch)."""
    df = jobs.user_profile_tws_job(stream_events)
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == [
        "user_id", "total_events", "value_cents", "n_types", "top3_cents",
    ]


def test_tws_processor_logic_matches_batch(spark, batch_events):
    """UserProfileProcessor against an in-memory fake of the typed-
    state handle: replay the events in two arbitrary micro-batch
    splits per user and assert the final profile equals the batch
    aggregate exactly (integer cents — no float drift)."""
    import pandas as pd

    class _FakeValue:
        def __init__(self): self.v = None
        def exists(self): return self.v is not None
        def get(self): return self.v
        def update(self, t): self.v = t

    class _FakeList:
        def __init__(self): self.rows = None
        def exists(self): return self.rows is not None
        def get(self): return list(self.rows)
        def put(self, rows): self.rows = list(rows)

    class _FakeMap:
        def __init__(self): self.m = {}
        def containsKey(self, k): return k in self.m
        def getValue(self, k): return self.m[k]
        def updateValue(self, k, v): self.m[k] = v
        def keys(self): return iter(self.m.keys())

    class _FakeHandle:
        def __init__(self):
            self.states = {}
        def getValueState(self, name, schema): return self.states.setdefault(name, _FakeValue())
        def getListState(self, name, schema): return self.states.setdefault(name, _FakeList())
        def getMapState(self, name, ks, vs): return self.states.setdefault(name, _FakeMap())

    pdf = batch_events.select("user_id", "event_type", "value").toPandas()
    got = {}
    for uid, updf in pdf.groupby("user_id"):
        proc = jobs.UserProfileProcessor()
        proc.init(_FakeHandle())
        cut = len(updf) // 3
        out = None
        for chunk in (updf.iloc[:cut], updf.iloc[cut:]):
            if len(chunk) == 0:
                continue
            out = list(proc.handleInputRows((uid,), iter([chunk]), None))[-1]
        r = out.iloc[0]
        got[uid] = (
            int(r.total_events), int(r.value_cents),
            int(r.n_types), r.top3_cents,
        )
    want = {
        r.user_id: (r.total_events, r.value_cents, r.n_types, r.top3_cents)
        for r in jobs.user_profile_batch(batch_events).collect()
    }
    assert got == want


@pytest.mark.skipif(
    not _tws_runtime_available(),
    reason="transformWithState state server needs google.protobuf "
    "(absent in this image; no pip install allowed)",
)
def test_transform_with_state_profile_matches_batch(spark, batch_events, stream_events):
    """The Spark 4 transformWithStateInPandas profile (ValueState +
    MapState + ListState over RocksDB) converges to the exact batch
    aggregate — integer cents make the parity bit-exact."""
    rows = run_stream_to_memory(jobs.user_profile_tws_job(stream_events), mode="update")
    cols = ["user_id", "total_events", "value_cents", "n_types", "top3_cents"]
    last = last_update_per_key(rows, ["user_id"])
    got = sorted(tuple(r[c] for c in cols) for r in last.values())
    want = _rows_set(jobs.user_profile_batch(batch_events).collect(), cols)
    assert got == want
