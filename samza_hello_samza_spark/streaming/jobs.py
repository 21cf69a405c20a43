"""Stream-only jobs: Samza examples whose streaming form has no batch twin.

A job that runs the same way in batch and in stream is written once,
as a ``DataFrame -> DataFrame`` function, and lives next to its batch
key: filter, tumbling window and enrich in
``operators/samza_surface.py``, the Wikipedia feed → parser → stats
stages in ``pipelines.py`` (SIGMOD'18 Structured Streaming paper, §4:
one declarative plan, two executions). What remains here uses a
streaming-only operator or algorithm:

- ``session_counts_job`` / ``sessionize_job``: ``session_window`` and a
  timer-driven sessionizer (the batch keys use
  ``samza_surface.sessionized``; all three share ``SESSION_GAP_MIN``);
- ``view_click_join_job``: a watermarked interval join (the batch key
  joins on time buckets);
- ``dedup_events_job``, ``curation_job``, ``decontamination_job``,
  ``fuzzy_decontamination_job``, ``dau_approx_job``: ingest-side
  stages with no registry key of the same definition;
- ``stateful_totals_job``, ``scd2_job``, ``user_profile_tws_job``:
  arbitrary state across micro-batches. ``stateful_totals_job`` keeps
  per-user event totals; no job here keeps the reference's all-time
  edit count (``wikipedia_stats``'s ``edits_all_time`` is batch-only).

Watermarks: 10 minutes of allowed lateness everywhere — the dial for
state size at scale. State-store growth is bounded by
(#keys × #open windows); at 100 TB ingest the shuffle partition count
(`spark.sql.shuffle.partitions`) is the state parallelism, so it must
be sized to the key space, not the data volume.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import StatefulProcessor
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.samza_surface import SESSION_GAP_MIN
from .pipelines import WATERMARK


def session_counts_job(events: DataFrame) -> DataFrame:
    """SessionWindowExample.java:66-74 — native session_window
    (``SESSION_GAP_MIN`` gap).

    Streaming-native gap-merge sessionization; the batch analog,
    ``samza_surface.sessionized``, computes the same sessions via
    lag + cumulative sum.
    """
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("win"),
            F.col("user_id"),
        )
        .agg(F.count("*").alias("views"))
        .select(
            F.unix_timestamp("win.start").alias("session_start_epoch"),
            "user_id",
            "views",
        )
    )


def view_click_join_job(events: DataFrame) -> DataFrame:
    """JoinExample.java:86-105 — watermarked stream-stream interval join.

    Both sides watermarked; the time-bound predicate lets Spark expire
    join state (Samza's 3-minute TTL becomes the interval condition).
    """
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", WATERMARK)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", WATERMARK)
    )
    return views.join(
        clicks,
        (F.col("v_user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 3 MINUTES")),
        "inner",
    ).select(
        F.col("v_user_id").alias("user_id"),
        "view_id",
        "click_id",
        F.unix_timestamp("view_ts").alias("view_ts_epoch"),
        F.unix_timestamp("click_ts").alias("click_ts_epoch"),
    )


def dedup_events_job(events: DataFrame) -> DataFrame:
    """Streaming dedup of redelivered events (at-least-once input →
    effectively-once pipeline).

    ``dropDuplicatesWithinWatermark`` keys on event_id and expires its
    seen-set with the watermark — plain ``dropDuplicates`` on a stream
    keeps every key forever, which is unbounded state at 100 TB.
    """
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def curation_job(docs: DataFrame) -> DataFrame:
    """Streaming curation: quality-gate + exact-dedup as docs arrive.

    The live twin of ``text_analysis.curation_pipeline``'s gate+dedup
    stages, same declarative transform for batch and stream. Dedup
    keys on the normalized-text hash; documents carry no event time,
    so the seen-set is unbounded ``dropDuplicates`` here — with an
    ingest timestamp the bounded form is
    ``withWatermark + dropDuplicatesWithinWatermark`` exactly as
    ``dedup_events_job`` does for events.
    """
    from ..operators.dedup import _normalized_text
    from ..operators.text_analysis import CURATION_MIN_QUALITY, quality_cols

    gated = docs.withColumn(
        "quality_score", quality_cols(F.col("text"))["quality_score"]
    ).filter(F.col("quality_score") >= CURATION_MIN_QUALITY)
    return (
        gated.withColumn("text_hash", F.md5(_normalized_text(F.col("text"))))
        .dropDuplicates(["text_hash"])
        .select("doc_id", "lang", "text_hash", "quality_score")
    )


def decontamination_job(
    docs: DataFrame, bloom_bits: list[int], n_bits: int
) -> DataFrame:
    """Streaming decontamination screen: per-doc benchmark-overlap count
    against a broadcast Bloom filter, zero state, zero shuffle.

    The live twin of ``text_filters.contamination_bloom``'s prefilter
    stage, shaped the way a production pipeline actually deploys it:
    the benchmark bloom (built once from the bounded eval suite via
    ``text_filters.build_bloom``) rides along as a broadcast 1-row
    relation (``with_bloom_bits`` — see why not a literal there), each
    arriving doc counts its shingles that hit the filter IN-ROW
    (``size(filter(sh, h -> member(h)))`` — a JVM higher-order
    function, no explode, no aggregation, no watermark needed), and
    docs with any hit are routed to quarantine for the exact batch
    confirm join. Bloom semantics are a SUPERSET screen: ``clean``
    rows are guaranteed contamination-free (no false negatives by
    construction); flagged counts are upper bounds pending the exact
    pass — the honest streaming trade, since an exact per-shingle
    stream-static semi-join would shuffle every doc's shingles.
    """
    from ..functions.bloom import with_bloom_bits
    from ..operators.dedup import _shingles, _words
    from ..operators.text_filters import SHINGLE_K, _bloom_member_sql

    member = _bloom_member_sql(n_bits)
    # materialize words FIRST: _shingles dereferences the array k times
    # per shingle, and Catalyst re-evaluates an inlined split() per
    # element_at — the exact blowup batch contamination_bloom fixed
    # (explode_nonempty's 34s→5.7s lesson). Two selects keep tokenize
    # once-per-row.
    tokenized = docs.select(
        "doc_id", "lang", _words(F.col("text")).alias("words")
    )
    shingled = tokenized.select(
        "doc_id",
        "lang",
        F.array_distinct(
            F.transform(_shingles(F.col("words"), k=SHINGLE_K), F.md5)
        ).alias("sh"),
    )
    return (
        with_bloom_bits(shingled, bloom_bits)
        .withColumn("n_flagged", F.expr(f"size(filter(sh, h -> {member}))"))
        .select(
            "doc_id",
            "lang",
            F.size("sh").alias("n_shingles"),
            F.col("n_flagged").cast("long").alias("n_flagged"),
            (F.col("n_flagged") == 0).alias("clean"),
        )
    )


def fuzzy_decontamination_job(
    docs: DataFrame,
    bench_bands: DataFrame,
    bench_predicate=None,
) -> DataFrame:
    """Streaming FUZZY decontamination: each arriving train doc's
    minhash bands probe the standing benchmark band table — the live
    twin of ``dedup.contamination_minhash``'s candidate stage.

    The per-doc signature is computed IN-ROW (``array_min`` over the
    permuted shingle-hash array — min over the multiset equals min
    over the set, the ``_doc_shingle_hashes`` argument), so there is
    no groupBy and the job is STATELESS: bands explode (24 rows/doc)
    and equi-join the broadcast benchmark band table (benchmark suites
    are bounded — MB, not TB). Output is one row per (doc, bench_doc,
    band) collision in append mode with no watermark or state;
    within-doc duplicate flags across bands are semantically harmless
    (quarantine is a set union — the lsh_index_updater honesty), and
    the exact-Jaccard confirm runs batch-side on the quarantine set,
    exactly like the bloom screen's exact pass.

    Benchmark docs are EXCLUDED from the probing stream inside the
    job (``bench_predicate`` marks them; default is the batch twin's
    ``doc_id % DECON_MOD == DECON_REM`` split) — otherwise a
    benchmark doc flowing through the train stream collides with its
    own standing bands and is flagged as a contaminated train doc.
    Callers with a different bench universe pass their own predicate.
    """
    from ..operators.dedup import (
        DECON_MOD,
        DECON_REM,
        MERSENNE_P,
        N_BANDS,
        N_PERMS,
        _PERM_A,
        _PERM_B,
        _md5_slice32,
        _shingles,
        _words,
    )

    if bench_predicate is None:
        bench_predicate = F.col("doc_id") % DECON_MOD == DECON_REM
    docs = docs.filter(~bench_predicate)
    tokenized = docs.select("doc_id", _words(F.col("text")).alias("words"))
    hashed = tokenized.select(
        "doc_id",
        F.transform(
            _shingles(F.col("words"), 3),
            lambda s: F.pmod(_md5_slice32(s), F.lit(MERSENNE_P)),
        ).alias("h1"),
    ).filter(F.size("h1") > 0)
    sigs = hashed.select(
        "doc_id",
        *[
            F.array_min(
                F.transform(
                    F.col("h1"),
                    lambda h: F.pmod(
                        F.lit(_PERM_A[i]) * h + F.lit(_PERM_B[i]),
                        F.lit(MERSENNE_P),
                    ),
                )
            ).alias(f"m{i}")
            for i in range(N_PERMS)
        ],
    )
    bands = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws("_", F.col(f"m{2 * b}"), F.col(f"m{2 * b + 1}"))
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band", "sig"),
    )
    return bands.join(F.broadcast(bench_bands), ["band", "sig"]).select(
        F.col("doc_id").alias("train_doc"), "bench_doc", "band"
    )


def dau_approx_job(events: DataFrame) -> DataFrame:
    """Daily approximate distinct users over the stream.

    ``approx_count_distinct`` keeps one HLL++ sketch per day-window in
    state (~KB) instead of a per-user set — the only distinct-count
    that stays bounded when a day holds billions of users. Watermark
    closes days for append output.
    """
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 day").alias("win"))
        .agg(F.approx_count_distinct("user_id", rsd=0.005).alias("dau"))
        .select(
            F.unix_timestamp("win.start").alias("day_epoch"),
            "dau",
        )
    )


STATEFUL_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("total_events", LongType()),
    ]
)
_STATE_SCHEMA = StructType([StructField("total", LongType())])


def _update_totals(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Running per-user event total — the applyInPandasWithState analog
    of WikipediaStatsStreamTask.java:50-53's KeyValueStore counter:
    state survives across micro-batches exactly as the store survives
    across messages."""
    (total,) = state.get if state.exists else (0,)
    for pdf in pdfs:
        total += len(pdf)
    state.update((total,))
    yield pd.DataFrame({"user_id": [key[0]], "total_events": [total]})


def stateful_totals_job(events: DataFrame) -> DataFrame:
    """Custom stateful operator: all-time per-user totals across batches."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_totals,
        outputStructType=STATEFUL_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


SESSION_GAP_SEC = SESSION_GAP_MIN * 60

SESSIONIZE_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start_epoch", LongType()),
        StructField("session_end_epoch", LongType()),
        StructField("n_events", LongType()),
    ]
)
_SESSION_STATE_SCHEMA = StructType(
    [
        StructField("start", LongType()),
        StructField("last", LongType()),
        StructField("n", LongType()),
    ]
)


def _update_sessions(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Custom gap-based sessionizer — the hand-rolled KV-store-plus-
    timers pattern (Samza's window() callback + store) expressed as
    applyInPandasWithState: state holds the open session, in-batch
    gaps close sessions immediately, and an event-time timer closes
    the trailing session once the watermark passes its gap.

    Unlike session_counts_job (built-in session_window — prefer it
    when semantics fit), a custom sessionizer can carry arbitrary
    per-session state; this one exists to pin the pattern down with
    cross-batch merge + timeout tests.
    """
    user = key[0]
    closed: list[tuple[int, int, int]] = []
    if state.hasTimedOut:
        start, last, n = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [user],
                "session_start_epoch": [start],
                "session_end_epoch": [last],
                "n_events": [n],
            }
        )
        return
    if state.exists:
        start, last, n = state.get
    else:
        start = last = None  # type: ignore[assignment]
        n = 0
    secs: list[int] = []
    for pdf in pdfs:
        secs.extend(int(s) for s in pdf["sec"])
    for s in sorted(secs):
        if start is None:
            start = last = s
            n = 1
        elif s - last >= SESSION_GAP_SEC:
            closed.append((start, last, n))
            start = last = s
            n = 1
        else:
            last = s
            n += 1
    state.update((int(start), int(last), int(n)))
    # event-time timer: fire once the watermark passes last + gap (the
    # max() guard keeps the timer legal when this key's last event is
    # far behind the global watermark).
    state.setTimeoutTimestamp(
        max((int(last) + SESSION_GAP_SEC) * 1000, state.getCurrentWatermarkMs() + 1)
    )
    if closed:
        yield pd.DataFrame(
            {
                "user_id": [user] * len(closed),
                "session_start_epoch": [c[0] for c in closed],
                "session_end_epoch": [c[1] for c in closed],
                "n_events": [c[2] for c in closed],
            }
        )


def sessionize_job(events: DataFrame) -> DataFrame:
    """Custom stateful sessionization (gap = SESSION_GAP_SEC).

    Emits each CLOSED session exactly once (append mode): sessions
    closed by an in-batch gap emit in that batch; the trailing open
    session emits when its event-time timer fires. State per key is
    three longs — bounded regardless of session length.
    """
    ev = events.withWatermark("ts", WATERMARK).select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "ts"
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        _update_sessions,
        outputStructType=SESSIONIZE_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


SCD2_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("state", StringType()),
        StructField("valid_from", LongType()),
        StructField("valid_to", LongType()),
    ]
)

_SCD2_STATE_SCHEMA = StructType(
    [
        StructField("cur_state", StringType()),
        StructField("cur_from", LongType()),
    ]
)


def _update_scd2(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Live SCD2 maintenance: per-user state is ONLY the open period
    (state, valid_from) — two fields regardless of history length.
    Each state change closes the previous period at the change event's
    second (identical to the batch builder's lead(valid_from)
    semantics), so closed periods stream out exactly once and the open
    period always lives in the store, like Samza's keyed profile
    table."""
    user = key[0]
    if state.exists:
        cur_state, cur_from = state.get
    else:
        cur_state, cur_from = None, None
    rows = []
    for pdf in pdfs:
        for _idx, r in pdf.sort_values(["sec", "event_id"]).iterrows():
            sec, etype = int(r["sec"]), str(r["event_type"])
            if cur_state is None:
                cur_state, cur_from = etype, sec
            elif etype != cur_state:
                rows.append((user, cur_state, cur_from, sec))
                cur_state, cur_from = etype, sec
    state.update((cur_state, cur_from))
    if rows:
        yield pd.DataFrame(
            rows, columns=["user_id", "state", "valid_from", "valid_to"]
        )


def scd2_job(events: DataFrame) -> DataFrame:
    """Streaming twin of plans.temporal.user_state_scd2: closed validity
    periods stream out as they happen; the open period per user is the
    (bounded) state."""
    ev = events.select(
        "user_id",
        "event_type",
        F.unix_timestamp("ts").alias("sec"),
        "event_id",
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        _update_scd2,
        outputStructType=SCD2_SCHEMA,
        stateStructType=_SCD2_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# -- transformWithState: the Spark 4 arbitrary-state API ------------------

PROFILE_TWS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("total_events", LongType()),
        StructField("value_cents", LongType()),
        StructField("n_types", LongType()),
        StructField("top3_cents", StringType()),  # csv: stable across sinks
    ]
)


def _cents_np(values) -> "pd.Series":
    # floor(x*100 + 0.5): identical half-up in numpy and Spark (no
    # half-even drift), integer-exact cross-batch accumulation.
    import numpy as np

    return np.floor(values.to_numpy() * 100.0 + 0.5).astype("int64")


class UserProfileProcessor(StatefulProcessor):
    """Per-user profile over transformWithStateInPandas — one
    processor exercising every typed-state primitive the Spark 4 API
    adds over ``applyInPandasWithState``'s single state tuple:

    - ``ValueState`` total / value_cents: running scalars;
    - ``MapState`` by_type: per-event-type counts WITHOUT reading or
      rewriting the whole map per batch (the applyInPandasWithState
      pattern forces the full tuple through every update; MapState
      updates touch only the keys present in the batch — the state
      I/O win that matters once per-key maps are wide);
    - ``ListState`` top_cents: bounded top-3 event values — a
      commutative fold, so stream ≡ batch regardless of batch split.

    State lives in the RocksDB state-store provider (required by
    transformWithState; changelog-checkpointed at scale). Every
    accumulator is integer (cents), so cross-batch addition order
    cannot drift — the stream ≡ batch parity test is exact.
    Output: one updated profile row per user per micro-batch
    (update mode, latest-per-key wins in the sink).
    """

    def init(self, handle) -> None:
        self._total = handle.getValueState("total", "total LONG")
        self._cents = handle.getValueState("cents", "cents LONG")
        self._types = handle.getMapState("by_type", "t STRING", "n LONG")
        self._top = handle.getListState("top_cents", "c LONG")

    def handleInputRows(self, key, rows, timer_values):
        total = self._total.get()[0] if self._total.exists() else 0
        cents = self._cents.get()[0] if self._cents.exists() else 0
        tops = (
            [r[0] for r in self._top.get()] if self._top.exists() else []
        )
        for pdf in rows:
            total += len(pdf)
            c = _cents_np(pdf["value"])
            cents += int(c.sum())
            for t, n in pdf["event_type"].value_counts().items():
                prev = (
                    self._types.getValue((t,))[0]
                    if self._types.containsKey((t,))
                    else 0
                )
                self._types.updateValue((t,), (prev + int(n),))
            tops = sorted(tops + c.tolist(), reverse=True)[:3]
        self._total.update((total,))
        self._cents.update((cents,))
        self._top.put([(int(v),) for v in tops])
        n_types = sum(1 for _ in self._types.keys())
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "total_events": [total],
                "value_cents": [cents],
                "n_types": [n_types],
                "top3_cents": [",".join(str(v) for v in tops)],
            }
        )

    def close(self) -> None:
        pass


def user_profile_tws_job(events: DataFrame) -> DataFrame:
    """All-time per-user profile via the Spark 4 transformWithState
    API (see UserProfileProcessor). RocksDB provider is a hard
    requirement of the operator and is set here; it serves every
    other stateful job equally.

    Environment gate (honest, Kafka-jar policy): plan construction
    and the processor logic are fully tested; RUNNING the query needs
    ``google.protobuf`` (the state-server wire protocol), absent in
    this image — the end-to-end parity pytest skips with that reason
    and runs wherever protobuf exists."""
    events.sparkSession.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserProfileProcessor(),
        outputStructType=PROFILE_TWS_SCHEMA,
        outputMode="update",
        timeMode="None",
    )


def user_profile_batch(events: DataFrame) -> DataFrame:
    """Batch twin of user_profile_tws_job (exact parity oracle)."""
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("total_events"),
        F.sum(cents).alias("value_cents"),
        F.countDistinct("event_type").alias("n_types"),
        F.concat_ws(
            ",",
            F.slice(F.sort_array(F.collect_list(cents), asc=False), 1, 3),
        ).alias("top3_cents"),
    )
