"""Inverted posting-list layout: bucket-pruned conjunctive search."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from samza_hello_samza_spark.operators.text_analysis import SEARCH_TERMS, term_search
from samza_hello_samza_spark.sources import inverted
from tests.conftest import SF_DIR, bm25_one


def test_conjunctive_search_equals_scan_plan(spark):
    """The indexed query returns exactly the corpus-scan plan's docs."""
    got = sorted(r.doc_id for r in inverted.term_search_indexed(spark, SF_DIR).collect())
    want = sorted(r.doc_id for r in term_search(spark, SF_DIR).collect())
    assert got == want and got


def test_probe_lists_only_term_buckets(spark):
    """The indexed query's scan carries the bucket partition filter —
    ≤|terms| of N_TBUCKETS directories are listed (same
    PartitionFilters assertion as the ANN layout probes)."""
    index_dir = inverted._documents_index(spark, SF_DIR)
    buckets = inverted.term_buckets(spark, list(SEARCH_TERMS))
    assert len(buckets) <= len(SEARCH_TERMS)
    plan = (
        inverted.term_search_indexed(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "tbucket" in plan
    all_buckets = {
        e.split("=")[1]
        for e in os.listdir(index_dir)
        if e.startswith("tbucket=")
    }
    assert len(all_buckets) > len(buckets)  # the index really is wider


def test_append_documents_two_batch_equals_full_rebuild(spark, tmp_path):
    """Ingest path (VERDICT r05 #6): build on batch 1, append batch 2
    — the postings set must equal the full rebuild over batch 1+2
    row-for-row (stable hash bucketing), no batch-1 file rewritten,
    and the bucket-pruned search sees both generations."""
    b1 = spark.createDataFrame(
        [
            (1, "spark join window functions"),
            (2, "spark join only"),
            (3, "window spark nothing else"),
        ],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [
            (4, "spark join window again and again"),
            (5, "unrelated words entirely"),
        ],
        "doc_id long, text string",
    )
    inc = inverted.build_inverted_index(spark, b1, os.path.join(str(tmp_path), "inc"))
    files_before = set(spark.read.parquet(inc).inputFiles())
    n = inverted.append_documents(spark, inc, b2)
    assert n > 0
    assert files_before <= set(spark.read.parquet(inc).inputFiles())  # no rewrite

    full = inverted.build_inverted_index(
        spark, b1.unionByName(b2), os.path.join(str(tmp_path), "full")
    )
    got = sorted(
        map(tuple, spark.read.parquet(inc).select("word", "doc_id", "tbucket").collect())
    )
    want = sorted(
        map(tuple, spark.read.parquet(full).select("word", "doc_id", "tbucket").collect())
    )
    assert got == want

    hits = sorted(
        r.doc_id
        for r in inverted.conjunctive_search(
            spark, inc, ["spark", "join", "window"]
        ).collect()
    )
    assert hits == [1, 4]  # doc 4 arrived via the append path


def test_postings_updater_stream_and_replay_folds_nothing(spark, tmp_path):
    """Streaming upkeep on the mv_refresh_job pattern: micro-batches
    fold through append_documents; a redelivered batch (checkpoint
    wiped, applied-markers kept — batch ids restart at 0) folds
    NOTHING, so the index is byte-stable under replay."""
    import shutil

    src = os.path.join(str(tmp_path), "src")
    os.makedirs(src)
    b1 = spark.createDataFrame(
        [(1, "spark join window"), (2, "spark join only")],
        "doc_id long, text string",
    )
    b1.coalesce(1).write.parquet(os.path.join(src, "f1"))
    # file-source stream over the batch files
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    index_dir = os.path.join(str(tmp_path), "inv")
    ck = os.path.join(str(tmp_path), "ck")
    q = inverted.postings_updater(stream, index_dir, ck)
    q.processAllAvailable()
    q.stop()
    before = sorted(
        map(tuple, spark.read.parquet(index_dir).select("word", "doc_id").collect())
    )
    assert before  # batch landed

    # redelivery: wipe ONLY the spark checkpoint (offsets/batch ids
    # reset to 0), keep the applied markers — the classic at-least-once
    # crash window. The marker must make the refold a no-op.
    for entry in os.listdir(ck):
        if entry != "_applied":
            shutil.rmtree(os.path.join(ck, entry), ignore_errors=True)
    stream2 = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
    )
    q2 = inverted.postings_updater(stream2, index_dir, ck)
    q2.processAllAvailable()
    q2.stop()
    after = sorted(
        map(tuple, spark.read.parquet(index_dir).select("word", "doc_id").collect())
    )
    assert after == before  # replay folded nothing


def test_build_and_query_small_corpus(spark, tmp_path):
    docs = spark.createDataFrame(
        [
            (1, "spark join window functions"),
            (2, "spark join only"),
            (3, "window spark nothing else"),
            (4, "spark join window again and again"),
            (5, "unrelated words entirely"),
        ],
        "doc_id long, text string",
    )
    out = inverted.build_inverted_index(
        spark, docs, os.path.join(str(tmp_path), "inv")
    )
    got = sorted(
        r.doc_id
        for r in inverted.conjunctive_search(
            spark, out, ["spark", "join", "window"]
        ).collect()
    )
    assert got == [1, 4]
    # postings are SETS: repeated terms in doc 4 contribute one row
    n4 = (
        spark.read.parquet(out)
        .filter((F.col("doc_id") == 4) & (F.col("word") == "again"))
        .count()
    )
    assert n4 == 1


# -- positional postings: phrase search ------------------------------------


def test_phrase_search_indexed_equals_scan_plan(spark):
    """The positional-index phrase query returns exactly the corpus-
    scan plan's rows (doc_id, lang, n_matches)."""
    from samza_hello_samza_spark.operators.sampling import phrase_search

    got = sorted(
        map(tuple, inverted.phrase_search_indexed(spark, SF_DIR).collect())
    )
    want = sorted(map(tuple, phrase_search(spark, SF_DIR).collect()))
    assert got == want and got


def test_phrase_probe_lists_only_term_buckets(spark):
    """The phrase query's postings scan carries the bucket partition
    filter — ≤|distinct terms| of N_TBUCKETS directories listed."""
    from samza_hello_samza_spark.operators.sampling import PHRASE

    index_dir = inverted._documents_positional_index(spark, SF_DIR)
    buckets = inverted.term_buckets(spark, list(set(PHRASE)))
    assert len(buckets) <= len(set(PHRASE))
    plan = (
        inverted.phrase_search_indexed(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "tbucket" in plan
    all_buckets = {
        e.split("=")[1]
        for e in os.listdir(index_dir)
        if e.startswith("tbucket=")
    }
    assert len(all_buckets) > len(buckets)  # the index really is wider


def test_positional_phrase_semantics_small_corpus(spark, tmp_path):
    """Aligned-anchor counting: multiple occurrences per doc counted,
    repeated words inside the phrase handled (a slot per position),
    no false positives from non-adjacent terms."""
    docs = spark.createDataFrame(
        [
            (1, "big table scan and another table scan here"),
            (2, "table without scan adjacency table x scan"),
            (3, "scan table reversed order"),
            (4, "again again again"),
        ],
        "doc_id long, text string",
    )
    out = inverted.build_positional_index(
        spark, docs, os.path.join(str(tmp_path), "pos")
    )
    two = {
        (r.doc_id, r.n_matches)
        for r in inverted.phrase_search_positional(
            spark, out, ["table", "scan"]
        ).collect()
    }
    assert two == {(1, 2)}  # doc 2/3: non-adjacent or reversed
    rep = {
        (r.doc_id, r.n_matches)
        for r in inverted.phrase_search_positional(
            spark, out, ["again", "again", "again"]
        ).collect()
    }
    assert rep == {(4, 1)}  # one aligned anchor despite repeated word


def test_append_positional_two_batch_equals_full_rebuild(spark, tmp_path):
    b1 = spark.createDataFrame(
        [(1, "table scan first"), (2, "no match here")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(3, "another table scan and table scan")],
        "doc_id long, text string",
    )
    inc = inverted.build_positional_index(
        spark, b1, os.path.join(str(tmp_path), "inc")
    )
    files_before = set(spark.read.parquet(inc).inputFiles())
    n = inverted.append_documents_positional(spark, inc, b2)
    assert n > 0
    assert files_before <= set(spark.read.parquet(inc).inputFiles())
    full = inverted.build_positional_index(
        spark, b1.unionByName(b2), os.path.join(str(tmp_path), "full")
    )
    got = sorted(
        map(
            tuple,
            spark.read.parquet(inc).select("word", "doc_id", "pos", "tbucket").collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            spark.read.parquet(full).select("word", "doc_id", "pos", "tbucket").collect(),
        )
    )
    assert got == want
    hits = {
        (r.doc_id, r.n_matches)
        for r in inverted.phrase_search_positional(
            spark, inc, ["table", "scan"]
        ).collect()
    }
    assert hits == {(1, 1), (3, 2)}  # doc 3 arrived via the append path


def test_proximity_search_semantics_small_corpus(spark, tmp_path):
    """Slop window, either order, pair counting and min distance."""
    docs = spark.createDataFrame(
        [
            (1, "table scan now"),              # d=1
            (2, "table one two scan"),          # d=3 (at slop)
            (3, "table one two three scan"),    # d=4 (outside)
            (4, "scan x table and table"),      # reversed d=2, d=4->excl... scan@0,table@2,table@4: d=2 in, d=4 out
            (5, "no terms at all"),
        ],
        "doc_id long, text string",
    )
    out = inverted.build_positional_index(
        spark, docs, os.path.join(str(tmp_path), "prox")
    )
    got = {
        r.doc_id: (r.n_pairs, r.min_dist)
        for r in inverted.proximity_search_positional(
            spark, out, "table", "scan", 3
        ).collect()
    }
    assert got == {1: (1, 1), 2: (1, 3), 4: (1, 2)}


def test_proximity_probe_lists_only_term_buckets(spark):
    from samza_hello_samza_spark.operators.sampling import PHRASE

    plan = (
        inverted.proximity_search_indexed(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "tbucket" in plan
    # proximity hits are a superset of exact-adjacency phrase hits
    prox = {r.doc_id for r in inverted.proximity_search_indexed(spark, SF_DIR).collect()}
    phrase = {r.doc_id for r in inverted.phrase_search_indexed(spark, SF_DIR).collect()}
    assert phrase <= prox


def test_positional_ingest_audit_oracle_and_replay(spark, duck, tmp_path, monkeypatch):
    """r08: the registered ingest-audit key — the two-batch marker-
    gated build must contain EXACTLY the postings a first-principles
    tokenize yields (the oracle), equal the single-shot build's
    relation, answer the phrase query identically, and fold nothing
    on re-entry (applied-batch markers)."""
    from tests.conftest import assert_matches_oracle
    from samza_hello_samza_spark.operators.sampling import PHRASE
    from samza_hello_samza_spark.session import load_table

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))

    assert_matches_oracle(
        spark,
        duck,
        inverted.QUERIES["positional_ingest_audit"],
        inverted.ORACLES["positional_ingest_audit"],
    )

    # incremental layout == single-shot rebuild, row for row
    incr_dir = inverted._documents_positional_incremental(spark, SF_DIR)
    full_dir = str(tmp_path / "full")
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    inverted.build_positional_index(spark, docs, full_dir)
    incr = {
        (r.word, r.doc_id, r.pos, r.tbucket)
        for r in spark.read.parquet(incr_dir).collect()
    }
    full = {
        (r.word, r.doc_id, r.pos, r.tbucket)
        for r in spark.read.parquet(full_dir).collect()
    }
    assert incr == full

    # the phrase query served from the incremental layout is identical
    got = {
        (r.doc_id, r.n_matches)
        for r in inverted.phrase_search_positional(
            spark, incr_dir, list(PHRASE)
        ).collect()
    }
    want = {
        (r.doc_id, r.n_matches)
        for r in inverted.phrase_search_positional(
            spark, full_dir, list(PHRASE)
        ).collect()
    }
    assert got == want

    # re-entry folds nothing: same audit numbers, same posting rows
    before = inverted.positional_ingest_audit(spark, SF_DIR).collect()[0]
    inverted._documents_positional_incremental(spark, SF_DIR)
    after = inverted.positional_ingest_audit(spark, SF_DIR).collect()[0]
    assert before == after


def test_bm25_indexed_equals_scan_path_and_prunes(spark, duck, tmp_path, monkeypatch):
    """r08b: ranked BM25 served from the tf/dl posting layout must
    return exactly the scan path's top-20 (same oracle — the layout
    changes where postings come from, not what the ranking means),
    and its postings read must list only the query terms' bucket
    dirs."""
    from tests.conftest import assert_matches_oracle
    from samza_hello_samza_spark.operators.retrieval import BM25_TOP, bm25_search
    from samza_hello_samza_spark.operators.text_analysis import SEARCH_TERMS

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))

    assert_matches_oracle(
        spark,
        duck,
        inverted.QUERIES["bm25_search_indexed"],
        inverted.ORACLES["bm25_search_indexed"],
    )

    got = [
        (r.doc_id, r.bm25, r.n_terms_matched)
        for r in inverted.bm25_search_indexed(spark, SF_DIR).collect()
    ]
    want = [
        (r.doc_id, r.bm25, r.n_terms_matched)
        for r in bm25_search(spark, SF_DIR).collect()
    ]
    assert got == want and len(got) == BM25_TOP

    # pruned listing: the probe's scan carries the tbucket partition
    # filter (same PartitionFilters assertion as the other layouts)
    index_dir = inverted._documents_bm25_index(spark, SF_DIR)
    buckets = inverted.term_buckets(spark, list(SEARCH_TERMS))
    assert len(buckets) <= len(SEARCH_TERMS)
    plan = (
        inverted.bm25_search_indexed(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "tbucket" in plan
    all_buckets = {
        e.split("=")[1]
        for e in os.listdir(index_dir)
        if e.startswith("tbucket=")
    }
    assert len(all_buckets) > len(buckets)  # the index really is wider


def test_bm25_batch_matches_oracle_and_per_query_single_path(spark, duck, tmp_path, monkeypatch):
    """r08b: the batched ranking must hash-match its first-principles
    oracle AND, for the query that equals SEARCH_TERMS, reproduce the
    single-query indexed path's top-10 exactly (same scoring, same
    tiebreak — batching changes the fan-out, not the ranking)."""
    from tests.conftest import assert_matches_oracle
    from samza_hello_samza_spark.operators.text_analysis import SEARCH_TERMS

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))

    assert_matches_oracle(
        spark,
        duck,
        inverted.QUERIES["bm25_batch_indexed"],
        inverted.ORACLES["bm25_batch_indexed"],
    )

    assert inverted.BM25_BATCH_QUERIES[0] == SEARCH_TERMS
    batch0 = [
        (r.doc_id, r.bm25, r.n_terms_matched)
        for r in inverted.bm25_batch_indexed(spark, SF_DIR)
        .filter(F.col("query_id") == 0)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .collect()
    ]
    single = [
        (r.doc_id, r.bm25, r.n_terms_matched)
        for r in inverted.bm25_search_indexed(spark, SF_DIR)
        .limit(inverted.BM25_BATCH_TOP)
        .collect()
    ][: inverted.BM25_BATCH_TOP]
    assert batch0 == single[: len(batch0)] and len(batch0) == inverted.BM25_BATCH_TOP


def test_append_bm25_two_batch_equals_full_rebuild(spark, tmp_path):
    """r08b ingest: build from batch 1, append batch 2 — postings AND
    the (n_docs, total_dl, avgdl) sidecar must equal the single-shot
    rebuild exactly (integer counters fold; avgdl derives), and the
    ranked probe over the incremental layout must return the
    rebuild's rows verbatim."""
    import json

    from samza_hello_samza_spark.operators.retrieval import BM25_TOP
    from samza_hello_samza_spark.operators.text_analysis import SEARCH_TERMS
    from samza_hello_samza_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)

    incr = str(tmp_path / "incr")
    full = str(tmp_path / "full")
    inverted.build_bm25_index(spark, b1, incr)
    n = inverted.append_documents_bm25(spark, incr, b2)
    assert n > 0
    inverted.build_bm25_index(spark, docs, full)

    def rows(d):
        return {
            (r.word, r.doc_id, r.tf, r.dl, r.tbucket)
            for r in spark.read.parquet(d).collect()
        }

    assert rows(incr) == rows(full)

    def stats(d):
        with open(os.path.join(d, "_bm25_stats.json")) as fh:
            s = json.load(fh)
        # unique per publish BY DESIGN (the pricing-cache fingerprint);
        # everything the scorers read must still fold exactly
        assert s.pop("layout_version")
        return s

    assert stats(incr) == stats(full)

    exhaustive = inverted.bm25_batch_from_index
    got = bm25_one(exhaustive, spark, incr, SEARCH_TERMS, BM25_TOP)
    want = bm25_one(exhaustive, spark, full, SEARCH_TERMS, BM25_TOP)
    assert got == want and len(got) == BM25_TOP

    # a pre-r08b sidecar (no total_dl) folds via the derived total
    legacy = stats(incr)
    legacy.pop("total_dl")
    with open(os.path.join(incr, "_bm25_stats.json"), "w") as fh:
        json.dump(legacy, fh)
    extra = spark.createDataFrame([(900000, "spark join window")],
                                  "doc_id BIGINT, text STRING")
    inverted.append_documents_bm25(spark, incr, extra)
    st = stats(incr)
    assert st["n_docs"] == legacy["n_docs"] + 1
    assert st["total_dl"] == round(legacy["avgdl"] * legacy["n_docs"]) + 3


def test_bm25_updater_stream_and_replay_folds_nothing(spark, tmp_path):
    """r08b streaming upkeep for the ranked layout: micro-batches fold
    through append_documents_bm25 behind applied-batch markers; a
    redelivered batch (checkpoint wiped, markers kept) folds NOTHING —
    posting rows AND the stats sidecar byte-stable under replay (here
    the gate is correctness: a double-fold skews every IDF/avgdl)."""
    import json
    import shutil

    seed = spark.createDataFrame(
        [(0, "table scan filter")], "doc_id long, text string"
    )
    index_dir = os.path.join(str(tmp_path), "bm25")
    inverted.build_bm25_index(spark, seed, index_dir)

    src = os.path.join(str(tmp_path), "src")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, "spark join window"), (2, "spark join only")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(os.path.join(src, "f1"))

    def run(ck):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*"))
        )
        q = inverted.bm25_postings_updater(stream, index_dir, ck)
        q.processAllAvailable()
        q.stop()

    ck = os.path.join(str(tmp_path), "ck")
    run(ck)

    def state():
        rows = sorted(
            map(
                tuple,
                spark.read.parquet(index_dir)
                .select("word", "doc_id", "tf", "dl")
                .collect(),
            )
        )
        with open(os.path.join(index_dir, "_bm25_stats.json")) as fh:
            return rows, json.load(fh)

    before_rows, before_stats = state()
    assert before_stats["n_docs"] == 3.0  # seed + two streamed docs
    assert before_stats["total_dl"] == 3 + 3 + 3

    # redelivery: wipe ONLY the spark checkpoint, keep the markers
    for entry in os.listdir(ck):
        if entry != "_applied":
            shutil.rmtree(os.path.join(ck, entry), ignore_errors=True)
    run(ck)
    after_rows, after_stats = state()
    assert after_rows == before_rows
    assert after_stats == before_stats


def test_positional_incremental_crash_mid_append_recovers(spark, tmp_path, monkeypatch):
    """ADVICE r09: a crash INSIDE the batch-1 append (posting files
    landed, marker never written) must not double-count on re-entry.
    The wip sentinel brackets the append; re-entry with the sentinel
    down rebuilds the layout from scratch instead of re-appending —
    the audit relation is byte-identical to the clean build's."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    from samza_hello_samza_spark.operators.ann_index import _index_root, _tag

    clean = inverted.positional_ingest_audit(spark, SF_DIR).collect()[0]

    root = os.path.join(_index_root(), _tag(SF_DIR))
    marker_dir = os.path.join(root, "positional_documents_incr_applied")
    m1 = os.path.join(marker_dir, "batch-1")
    # simulate the crash window: batch-1 files are IN the layout (the
    # clean run above appended them) but the marker rename never
    # happened — the wip sentinel is still down
    os.remove(m1)
    open(m1 + ".inprogress", "w").close()

    recovered = inverted.positional_ingest_audit(spark, SF_DIR).collect()[0]
    assert recovered == clean  # a re-append would double n_postings
    assert os.path.exists(m1)
    assert not os.path.exists(m1 + ".inprogress")


def test_bm25_partial_build_rebuilds_instead_of_serving(spark, tmp_path, monkeypatch):
    """ADVICE r09: a crash between the postings write and the sidecar
    publish leaves _SUCCESS without _bm25_stats.json; the built gate
    must treat that as NOT built (rebuild on next probe), never serve
    it into a FileNotFoundError."""
    from samza_hello_samza_spark.operators.ann_index import _index_root, _tag

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    clean = [tuple(r) for r in inverted.bm25_search_indexed(spark, SF_DIR).collect()]

    out = os.path.join(_index_root(), _tag(SF_DIR), "bm25_documents")
    os.remove(os.path.join(out, "_bm25_stats.json"))
    assert not inverted._bm25_built(out)

    served = [tuple(r) for r in inverted.bm25_search_indexed(spark, SF_DIR).collect()]
    assert served == clean
    assert os.path.exists(os.path.join(out, "_bm25_stats.json"))


def test_wand_equals_flat_probe_and_skips_blocks(spark, duck, tmp_path, monkeypatch):
    """r09 (VERDICT #1): the impact-bound probe returns the flat
    probe's relation row-for-row (exact top-k under an admissible
    bound, same oracle) while READING FEWER BLOCKS — phase 1 lists
    only the chosen tier dirs, phase 2 only lower tiers for the
    candidate survivors. The all-common query (no idf contrast)
    legitimately falls back to the full read and still matches."""
    from tests.conftest import assert_matches_oracle
    from samza_hello_samza_spark.operators.retrieval import BM25_TOP
    from samza_hello_samza_spark.operators.text_analysis import SEARCH_TERMS

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))

    assert_matches_oracle(
        spark,
        duck,
        inverted.QUERIES["bm25_search_wand"],
        inverted.ORACLES["bm25_search_wand"],
    )

    idx = inverted._documents_bm25_index(spark, SF_DIR)
    wand, exhaustive = inverted.bm25_batch_wand_topk, inverted.bm25_batch_from_index
    terms = inverted.WAND_QUERY_TERMS
    got = bm25_one(wand, spark, idx, terms, BM25_TOP)
    st = wand.last_stats
    want = bm25_one(exhaustive, spark, idx, terms, BM25_TOP)
    assert got == want and len(got) == BM25_TOP

    q = st["queries"][0]
    assert q["route"] == "pruned"
    # the block-skip claim: phase 1 reads strictly fewer blocks than
    # exist, every phase-1 path is a single tier dir of the layout,
    # and phase 2 paths are disjoint from phase 1
    assert st["n_blocks_p1"] < st["n_blocks_total"]
    assert q["theta"] > q["slack"]
    for p in st["p1_dirs"]:
        assert "/tier=" in p and p.startswith(idx)
    assert set(st["p1_dirs"]).isdisjoint(st["p2_dirs"])
    # the θ cut keeps a subset of the accumulator
    assert 0 < st["n_candidate_rows"] <= st["n_accumulator_rows"]

    # all-common query: slack cannot beat θ — honest fallback, same rows
    got_c = bm25_one(wand, spark, idx, SEARCH_TERMS, BM25_TOP)
    assert wand.last_stats["queries"][0]["route"] == "slack_ge_theta"
    assert got_c == bm25_one(exhaustive, spark, idx, SEARCH_TERMS, BM25_TOP)


def test_wand_impacts_sidecar_is_exact(spark, tmp_path, monkeypatch):
    """The _impacts block bounds must be TRUE bounds and the summed
    n_postings must equal each term's real df — the probe derives idf
    from the sidecar without reading postings, so sidecar drift would
    skew every score. Checked over the whole layout, and again after
    an ingest append (the add-only fold)."""
    from samza_hello_samza_spark.session import load_table

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))

    def check(index_dir):
        post = spark.read.parquet(index_dir)
        imp = spark.read.parquet(os.path.join(index_dir, "_impacts"))
        real = post.groupBy("tbucket", "word", "tier").agg(
            F.max("tf").alias("r_max_tf"),
            F.min("dl").alias("r_min_dl"),
            F.count(F.lit(1)).alias("r_n"),
        )
        folded = imp.groupBy("tbucket", "word", "tier").agg(
            F.max("max_tf").alias("max_tf"),
            F.min("min_dl").alias("min_dl"),
            F.sum("n_postings").alias("n"),
        )
        j = real.join(folded, ["tbucket", "word", "tier"], "full_outer")
        bad = j.filter(
            F.col("r_n").isNull()
            | F.col("n").isNull()
            | (F.col("n") != F.col("r_n"))
            | (F.col("max_tf") < F.col("r_max_tf"))
            | (F.col("min_dl") > F.col("r_min_dl"))
        ).count()
        assert bad == 0

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    full = str(tmp_path / "full")
    inverted.build_bm25_index(spark, docs, full)
    check(full)

    incr = str(tmp_path / "incr")
    inverted.build_bm25_index(spark, docs.filter(F.col("doc_id") % 2 == 0), incr)
    inverted.append_documents_bm25(
        spark, incr, docs.filter(F.col("doc_id") % 2 == 1)
    )
    check(incr)
    # the wand probe over the appended layout serves the rebuild's rows
    wand, terms = inverted.bm25_batch_wand_topk, inverted.WAND_QUERY_TERMS
    assert bm25_one(wand, spark, incr, terms, 20) == bm25_one(
        wand, spark, full, terms, 20
    )


def test_wand_edge_paths_small_corpus(spark, tmp_path):
    """Edge discipline on a crafted corpus, for BOTH batch engines: a
    query term absent from the corpus is ignored; top-k larger than
    the candidate pool routes under_k and still matches the
    exhaustive engine; an all-absent query returns empty; a query is
    a term SET (a repeated term counts once); and a batch of N equals
    the union of its N batches of one, each under its own query_id
    and route — per-query routing never depends on batch companions."""
    docs = spark.createDataFrame(
        [
            (1, "apple banana cherry"),
            (2, "apple apple banana"),
            (3, "cherry cherry cherry apple"),
            (4, "banana date"),
        ],
        "doc_id LONG, text STRING",
    )
    idx = str(tmp_path / "idx")
    inverted.build_bm25_index(spark, docs, idx)
    wand, exhaustive = inverted.bm25_batch_wand_topk, inverted.bm25_batch_from_index

    got = bm25_one(wand, spark, idx, ["apple", "zzz-missing"], 10)
    assert wand.last_stats["queries"][0]["route"] == "under_k"
    want = bm25_one(exhaustive, spark, idx, ["apple", "zzz-missing"], 10)
    assert got == want and len(got) == 3  # docs 1,2,3 carry apple

    assert bm25_one(wand, spark, idx, ["zzz", "qqq"], 5) == []
    assert wand.last_stats["queries"][0]["route"] == "no_blocks"

    # term sets: the duplicate-term query IS the set query, and the
    # two engines agree on it
    dup = (("apple", "apple", "banana"), ("apple", "banana"))
    by_engine = []
    for engine in (wand, exhaustive):
        rows = sorted(map(tuple, engine(spark, idx, dup, 2).collect()))
        as_dup = [r[1:] for r in rows if r[0] == 0]
        assert as_dup == [r[1:] for r in rows if r[0] == 1] and as_dup
        assert max(r[2] for r in as_dup) == 2  # distinct terms matched
        by_engine.append(rows)
    assert by_engine[0] == by_engine[1]

    # a batch of N == N batches of one, on both engines: a pruned, an
    # under_k, an all-absent and an empty query in one batch
    mix = (("apple", "banana"), ("cherry",), ("zzz", "qqq"), ())
    routes = ["pruned", "under_k", "no_blocks", "no_blocks"]
    by_engine = []
    for engine in (wand, exhaustive):
        batch = sorted(map(tuple, engine(spark, idx, mix, 2).collect()))
        if engine is wand:
            assert [q["route"] for q in wand.last_stats["queries"]] == routes
        singles = []
        for qid, q in enumerate(mix):
            one = engine(spark, idx, (q,), 2).collect()
            if engine is wand:
                assert wand.last_stats["queries"][0]["route"] == routes[qid]
            singles += [(qid, *tuple(r)[1:]) for r in one]
        assert batch == sorted(singles), engine.__name__
        assert {r[0] for r in batch} == {0, 1}
        by_engine.append(batch)
    assert by_engine[0] == by_engine[1]

    # an empty batch is the typed empty relation
    for engine in (wand, exhaustive):
        out = engine(spark, idx, (), 2)
        assert out.columns == ["query_id", "doc_id", "bm25", "n_terms_matched"]
        assert out.count() == 0


def test_bm25_batch_wide_oracle_and_single_query_parity(spark, duck, tmp_path, monkeypatch):
    """r09 (VERDICT #6): ranked retrieval at real query width — 240
    vocabulary-generated queries from ONE pruned read. Oracle-checked
    end to end (the DuckDB twin regenerates vocabulary, queries and
    scores from raw documents); a sampled subset of queries must also
    equal the single-query probe row-for-row (same relation, batched
    vs one at a time)."""
    from tests.conftest import assert_matches_oracle

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))

    assert_matches_oracle(
        spark,
        duck,
        inverted.QUERIES["bm25_batch_wide"],
        inverted.ORACLES["bm25_batch_wide"],
    )

    idx = inverted._documents_bm25_index(spark, SF_DIR)
    ranked = (
        spark.read.parquet(os.path.join(idx, "_impacts"))
        .groupBy("word")
        .agg(F.sum("n_postings").alias("df"))
        .orderBy(F.desc("df"), F.asc("word"))
        .limit(inverted.WIDE_VOCAB)
        .collect()
    )
    vocab = [r.word for r in ranked]
    queries = inverted._wide_queries(vocab)
    assert len(queries) == inverted.WIDE_QUERIES
    assert len(set(queries)) > inverted.WIDE_VOCAB  # j-offset: no V-period

    batch = inverted.bm25_batch_wide(spark, SF_DIR)
    for qid in (0, 57, 133, 239):  # sampled: first, interior, last
        got = [
            (r.doc_id, r.bm25, r.n_terms_matched)
            for r in batch.filter(F.col("query_id") == qid)
            .orderBy(F.desc("bm25"), F.asc("doc_id"))
            .collect()
        ]
        want = bm25_one(
            inverted.bm25_batch_from_index, spark, idx, queries[qid], inverted.WIDE_TOP
        )
        assert got == want, f"query {qid}: batch != single"


def test_bm25_batch_wand_routes_per_query_and_matches_plain(spark, duck, tmp_path, monkeypatch):
    """r09 second wave: per-query impact-bound pruning composed with
    the batch fanout. The relation must equal the plain batch plan
    row-for-row (prune-vs-fallback routing invisible in the result),
    the oracle replays it from raw documents, BOTH routes must
    actually be exercised on the mixed workload at this SF, and the
    rounding margin must hold (no pruned doc can round into the
    top-k — the sf0.1 boundary-tie regression)."""
    from tests.conftest import assert_matches_oracle

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))

    assert_matches_oracle(
        spark,
        duck,
        inverted.QUERIES["bm25_batch_wand"],
        inverted.ORACLES["bm25_batch_wand"],
    )

    idx = inverted._documents_bm25_index(spark, SF_DIR)
    vocab = inverted._mixed_vocab(spark, idx)
    assert len(vocab) == inverted.WAND_BATCH_HEAD + inverted.WAND_BATCH_TAIL
    assert len(set(vocab)) == len(vocab)
    queries = inverted._wide_queries(vocab)
    got = sorted(
        map(
            tuple,
            inverted.bm25_batch_wand_topk(
                spark, idx, queries, inverted.WIDE_TOP
            ).collect(),
        )
    )
    st = inverted.bm25_batch_wand_topk.last_stats
    want = sorted(
        map(
            tuple,
            inverted.bm25_batch_from_index(
                spark, idx, queries, inverted.WIDE_TOP
            ).collect(),
        )
    )
    assert got == want
    # both routes exercised: some queries prune, the rest fall back
    assert st["n_prunable"] > 0 and st["n_fallback"] > 0
    assert st["n_prunable"] + st["n_fallback"] == inverted.WIDE_QUERIES
    assert st["n_blocks_p1"] < st["n_blocks_total"]
    # r10 crossover telemetry: the (query, doc) accumulator size before
    # the θ cut and the candidate rows after it — the shrink the bound
    # buys, measured (SCALING.md records the per-SF curve)
    assert 0 < st["n_candidate_rows"] <= st["n_accumulator_rows"]
    assert st["n_candidate_rows"] < st["n_accumulator_rows"]

    # a workload with NO idf contrast routes everything to fallback
    # and still matches (the degenerate case is honest, not broken)
    head_only = [
        (vocab[0], vocab[1], vocab[2]),
        (vocab[1], vocab[3]),
    ]
    got_h = sorted(
        map(
            tuple,
            inverted.bm25_batch_wand_topk(spark, idx, tuple(head_only), 20).collect(),
        )
    )
    want_h = sorted(
        map(
            tuple,
            inverted.bm25_batch_from_index(spark, idx, tuple(head_only), 20).collect(),
        )
    )
    assert got_h == want_h


def test_vocab_cache_hits_and_invalidates_on_ingest(spark, tmp_path):
    """r11: the workload-vocabulary selections (mixed head+tail, wide
    top-df) are pure functions of the committed layout, so they cache
    per layout fingerprint as PLAIN string tuples (the pricing-cache
    discipline) — and an ingest append that bumps layout_version MUST
    invalidate them so the workload tracks the corpus."""
    from samza_hello_samza_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    idx = str(tmp_path / "idx")
    inverted.build_bm25_index(spark, docs.filter(F.col("doc_id") % 2 == 0), idx)

    v1 = inverted._mixed_vocab(spark, idx)
    key = ("mixed", idx, inverted._stats_fingerprint(idx))
    assert key in inverted._VOCAB_CACHE
    # cache hit returns an equal, independent list (plain data only)
    v1b = inverted._mixed_vocab(spark, idx)
    assert v1b == v1 and v1b is not v1
    assert all(isinstance(w, str) for w in inverted._VOCAB_CACHE[key])

    # same discipline for the per-term df cache (plain floats)
    terms = list(inverted.WAND_QUERY_TERMS)
    d1 = inverted._term_df_map(spark, idx, terms)
    d1b = inverted._term_df_map(spark, idx, terms)
    assert d1b == d1 and d1b is not d1  # hit returns an independent copy

    inverted.append_documents_bm25(
        spark, idx, docs.filter(F.col("doc_id") % 2 == 1)
    )
    v2 = inverted._mixed_vocab(spark, idx)
    d2 = inverted._term_df_map(spark, idx, terms)
    # the post-append selections price from the NEW sidecar: they must
    # equal a from-scratch build over the full corpus
    full = str(tmp_path / "full")
    inverted.build_bm25_index(spark, docs, full)
    assert v2 == inverted._mixed_vocab(spark, full)
    assert d2 == inverted._term_df_map(spark, full, terms)
    assert d2 != d1  # the append genuinely changed df


def test_wand_pricing_cache_hits_and_invalidates_on_ingest(spark, tmp_path):
    """r09: repeated queries reuse the block pricing (what a serving
    tier keeps warm) — the second identical probe is a cache hit with
    identical rows; an ingest append atomically replaces the stats
    sidecar, which MUST invalidate the cache so post-append probes
    price with corpus-true df/avgdl/bounds."""
    from samza_hello_samza_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    idx = str(tmp_path / "idx")
    inverted.build_bm25_index(spark, docs.filter(F.col("doc_id") % 2 == 0), idx)

    wand, terms = inverted.bm25_batch_wand_topk, inverted.WAND_QUERY_TERMS
    first = bm25_one(wand, spark, idx, terms, 10)
    assert wand.last_stats["pricing_cached"] is False
    again = bm25_one(wand, spark, idx, terms, 10)
    assert wand.last_stats["pricing_cached"] is True
    assert again == first

    inverted.append_documents_bm25(
        spark, idx, docs.filter(F.col("doc_id") % 2 == 1)
    )
    after = bm25_one(wand, spark, idx, terms, 10)
    assert wand.last_stats["pricing_cached"] is False
    full = str(tmp_path / "full")
    inverted.build_bm25_index(spark, docs, full)
    want = bm25_one(wand, spark, full, terms, 10)
    assert after == want  # post-append pricing is corpus-true


def test_bm25_ingest_audit_oracle_replay_and_crash_recovery(spark, duck, tmp_path, monkeypatch):
    """r09: the BM25 ingest path registered and hash-checked like the
    positional one — two marker-gated batches ≡ first-principles
    re-tokenization (postings + folded stats sidecar + impacts df),
    re-entry folds nothing, and a simulated crash inside the batch-1
    append (wip sentinel down, marker absent) recovers by REBUILD
    with identical audit numbers."""
    from tests.conftest import assert_matches_oracle
    from samza_hello_samza_spark.operators.ann_index import _index_root, _tag

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))

    assert_matches_oracle(
        spark,
        duck,
        inverted.QUERIES["bm25_ingest_audit"],
        inverted.ORACLES["bm25_ingest_audit"],
    )

    clean = inverted.bm25_ingest_audit(spark, SF_DIR).collect()[0]
    # sidecar vs posting-relation consistency inside the audit row
    assert clean.impacts_n_postings == clean.n_postings
    assert clean.sidecar_total_dl >= clean.sum_dl // max(clean.n_words, 1)

    # re-entry folds nothing
    again = inverted.bm25_ingest_audit(spark, SF_DIR).collect()[0]
    assert again == clean

    # the incremental layout serves the SAME ranked relation as a
    # single-shot rebuild — through the WAND probe as well
    incr = inverted._documents_bm25_incremental(spark, SF_DIR)
    full = str(tmp_path / "full")
    from samza_hello_samza_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    inverted.build_bm25_index(spark, docs, full)
    terms = inverted.WAND_QUERY_TERMS
    for probe in (inverted.bm25_batch_from_index, inverted.bm25_batch_wand_topk):
        got = bm25_one(probe, spark, incr, terms, 20)
        want = bm25_one(probe, spark, full, terms, 20)
        assert got == want, probe.__name__

    # crash mid-append: wip sentinel down, marker gone → rebuild path
    root = os.path.join(_index_root(), _tag(SF_DIR))
    m1 = os.path.join(root, "bm25_documents_incr_applied", "batch-1")
    os.remove(m1)
    open(m1 + ".inprogress", "w").close()
    recovered = inverted.bm25_ingest_audit(spark, SF_DIR).collect()[0]
    assert recovered == clean  # a re-append would double tf AND stats
    assert os.path.exists(m1)
    assert not os.path.exists(m1 + ".inprogress")


def test_wand_pricing_cache_survives_session_restart(tmp_path):
    """r10 (ADVICE r09): the pricing cache holds PLAIN DATA only, so a
    cache hit after the building SparkSession was stopped and a new
    one created (a serving tier's restart path, same process) rebuilds
    the probe objects against the LIVE session and serves identical
    rows — the old cache stored a qinfo DataFrame bound to the dead
    session and failed opaquely. Runs in a subprocess: the suite's
    shared session must not be stopped."""
    import json
    import subprocess
    import sys

    script = f"""
import json, sys
sys.path.insert(0, {repr(os.getcwd())})
from pyspark.sql import SparkSession
from samza_hello_samza_spark.sources import inverted

def mk(app):
    return (
        SparkSession.builder.master("local[2]").appName(app)
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )

idx = {repr(str(tmp_path / "idx"))}
spark = mk("build")
docs = spark.createDataFrame(
    [(i, ("alpha beta " * (i % 3 + 1)) + ("gamma " if i % 7 == 0 else ""))
     for i in range(60)],
    "doc_id long, text string",
)
inverted.build_bm25_index(spark, docs, idx)
queries = (("alpha", "gamma"),)
wand = inverted.bm25_batch_wand_topk
r1 = sorted(tuple(r) for r in wand(spark, idx, queries, 5).collect())
c1 = wand.last_stats["pricing_cached"]
spark.stop()

spark2 = mk("restart")
r2 = sorted(tuple(r) for r in wand(spark2, idx, queries, 5).collect())
c2 = wand.last_stats["pricing_cached"]
spark2.stop()
print("RESULT " + json.dumps({{"r1": r1, "c1": c1, "r2": r2, "c2": c2}}))
"""
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=os.getcwd(),
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("RESULT ")][-1]
    out = json.loads(line[len("RESULT "):])
    assert out["c1"] is False and out["c2"] is True  # second probe IS a hit
    assert out["r1"] == out["r2"] and out["r1"]  # identical rows, live plan


def test_wand_cache_holds_no_session_objects(spark, tmp_path):
    """The invariant behind the restart test, asserted structurally:
    every cached pricing value is plain python (no DataFrame/Column),
    and the fingerprint keys on the sidecar's layout_version uuid —
    a rebuild landing on the same (mtime, size) still invalidates."""
    import json as _json

    from pyspark.sql import Column, DataFrame as _DF

    docs = spark.createDataFrame(
        [(i, "red green blue " * (i % 4 + 1)) for i in range(40)],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    inverted.build_bm25_index(spark, docs, idx)
    inverted.bm25_batch_wand_topk(spark, idx, (("red", "blue"),), 5).collect()

    def flat(v):
        if isinstance(v, dict):
            for x in v.values():
                yield from flat(x)
        elif isinstance(v, (list, tuple, set)):
            for x in v:
                yield from flat(x)
        else:
            yield v

    key = next(
        k for k in inverted._PRICING_CACHE if k[0] == idx
    )
    plain, telemetry = inverted._PRICING_CACHE[key]
    for v in [*flat(plain), *flat(telemetry)]:
        assert not isinstance(v, (_DF, Column)), type(v)
    # fingerprint is the layout_version uuid, not file metadata
    with open(os.path.join(idx, "_bm25_stats.json")) as fh:
        ver = _json.load(fh)["layout_version"]
    assert key[2] == ("v", ver)
    # a rebuild (same corpus → same-size sidecar possible) re-keys
    inverted.build_bm25_index(spark, docs, idx)
    assert inverted._stats_fingerprint(idx) != key[2]


def test_bm25_wide_batch_empty_corpus_returns_empty(spark, tmp_path):
    """r10 (ADVICE r09): an all-empty-text corpus produces an empty
    vocabulary — the wide generators return the empty workload and the
    batch plans the empty typed relation, instead of ZeroDivisionError
    / un-inferrable parquet reads."""
    docs = spark.createDataFrame(
        [(i, "") for i in range(10)], "doc_id long, text string"
    )
    idx = str(tmp_path / "idx")
    inverted.build_bm25_index(spark, docs, idx)

    assert inverted._mixed_vocab(spark, idx) == []
    assert inverted._wide_queries([]) == ()
    for fn in (inverted.bm25_batch_from_index, inverted.bm25_batch_wand_topk):
        out = fn(spark, idx, (), 5)
        assert out.columns == ["query_id", "doc_id", "bm25", "n_terms_matched"]
        assert out.count() == 0


def test_wand_tier_sweep_production_row_equals_served_pricing(spark, tmp_path, monkeypatch):
    """r10: the tier-cut decision table measures exactly what serving
    executes — its production config row must equal the real probe's
    own pricing telemetry (same layout, same MaxScore split), the
    untiered counterfactual defers nothing (why tiering exists), and
    posting counts are conserved across configs."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))

    rows = {r.config: r for r in inverted.wand_tier_sweep(spark, SF_DIR).collect()}
    assert set(rows) == {name for name, _ in inverted.WAND_SWEEP_CONFIGS}

    # flat: one block per term, all postings phase-1, zero skippable
    flat = rows["flat"]
    assert flat.n_tiers == 1
    assert flat.n_postings_deferred == 0 and flat.slack_micro == 0
    assert flat.n_blocks == flat.n_blocks_p1

    # conservation: every config prices the same posting universe
    totals = {
        c: r.n_postings_p1 + r.n_postings_deferred for c, r in rows.items()
    }
    assert len(set(totals.values())) == 1, totals

    # tiered configs actually defer bytes behind the bound
    for c in ("t2_50", "t3_60_45", "t4_65_50_35"):
        assert rows[c].n_postings_deferred > 0, c

    # production row == the served probe's own telemetry
    inverted.bm25_search_wand(spark, SF_DIR).collect()
    st = inverted.bm25_batch_wand_topk.last_stats
    prod = rows["t3_60_45"]
    assert prod.n_blocks == st["n_blocks_total"]
    assert prod.n_blocks_p1 == st["n_blocks_p1"]
    assert prod.n_postings_p1 == st["n_postings_p1"]
    assert prod.n_postings_deferred == st["n_postings_deferred"]
    slack = st["queries"][0]["slack"]
    assert abs(prod.slack_micro - round(slack * 1_000_000)) <= 1


def test_wand_tier_sweep_empty_corpus_returns_typed_empty(spark, tmp_path, monkeypatch):
    """r11 (ADVICE r10): when none of the pinned query terms has a
    posting bucket (empty/degenerate corpus), the sweep returns the
    typed empty decision table instead of raising on a zero-path
    parquet read — mirroring the batch plans' empty-workload guard."""
    import os

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    docs = spark.createDataFrame(
        [(i, "") for i in range(8)], "doc_id long, text string"
    )
    docs.write.parquet(os.path.join(sf, "documents.parquet"))

    out = inverted.wand_tier_sweep(spark, sf)
    assert out.count() == 0
    assert out.columns == [
        "config", "n_tiers", "cfg_order", "n_blocks", "n_blocks_p1",
        "n_postings_p1", "n_postings_deferred", "slack_micro",
    ]


def test_wand_workload_sweep_production_row_equals_batch_pricing(
    spark, tmp_path, monkeypatch
):
    """r11 (VERDICT r10 #5): the workload sweep's production config
    must price EXACTLY what the served 240-query batch executes — the
    union-level integers equal `bm25_batch_wand`'s own telemetry, and
    the counterfactual configs carry the decision-table structure
    (flat defers nothing with zero slack; deeper cuts defer more while
    raising the slack each query's θ must beat)."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    out = {
        r.config: r
        for r in inverted.wand_tier_sweep_workload(spark, SF_DIR).collect()
    }
    assert set(out) == {n for n, _ in inverted.WAND_SWEEP_CONFIGS}

    inverted.bm25_batch_wand(spark, SF_DIR).write.mode("overwrite").format(
        "noop"
    ).save()
    st = inverted.bm25_batch_wand_topk.last_stats
    prod = out["t3_60_45"]  # the production WAND_TIER_HI/MID cuts
    assert prod.n_queries == st["n_queries"]
    assert prod.n_blocks == st["n_blocks_total"]
    assert prod.n_blocks_p1 == st["n_blocks_p1"]
    assert prod.n_postings_p1 == st["n_postings_p1"]
    assert prod.n_postings_deferred == st["n_postings_deferred"]
    slack = sum(q["slack"] for q in st["queries"])
    assert abs(prod.workload_slack_micro - round(slack * 1_000_000)) <= 1

    flat = out["flat"]
    assert flat.n_postings_deferred == 0
    assert flat.workload_slack_micro == 0
    assert flat.n_zero_slack_queries == flat.n_queries
    # deeper tiering defers weakly more postings and costs weakly
    # more workload slack — the tradeoff the table prices
    ordered = [out[n] for n, _ in inverted.WAND_SWEEP_CONFIGS]
    for a, b in zip(ordered, ordered[1:]):
        assert a.n_postings_deferred <= b.n_postings_deferred
        assert a.workload_slack_micro <= b.workload_slack_micro
    # conservation: every config prices the same workload postings
    for r in out.values():
        assert r.n_postings_p1 + r.n_postings_deferred == (
            flat.n_postings_p1
        )


def test_wand_workload_sweep_empty_corpus_returns_typed_empty(
    spark, tmp_path, monkeypatch
):
    """Empty/degenerate corpus → the typed empty decision table, like
    the single-query sweep's r11 guard."""
    import os

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    docs = spark.createDataFrame(
        [(i, "") for i in range(8)], "doc_id long, text string"
    )
    docs.write.parquet(os.path.join(sf, "documents.parquet"))
    out = inverted.wand_tier_sweep_workload(spark, sf)
    assert out.count() == 0
    assert out.columns == [
        "config", "n_tiers", "cfg_order", "n_queries", "n_blocks",
        "n_blocks_p1", "n_postings_p1", "n_postings_deferred",
        "workload_slack_micro", "n_zero_slack_queries",
    ]
