"""hybrid_search_indexed: hybrid retrieval served from the committed
layouts (r10, VERDICT r09 #1) — WAND tier-pruned BM25 RRF-fused with
the SQ8 snapshot shortlist + exact rerank; the last serving path whose
hot loop read the corpus is closed."""

from __future__ import annotations

import re

from samza_hello_samza_spark.operators import similarity
from samza_hello_samza_spark.sources import inverted
from tests.conftest import SF_DIR, assert_matches_oracle


def test_hybrid_indexed_matches_oracle_and_contract(
    spark, duck, tmp_path, monkeypatch
):
    """Hash-exact vs the DuckDB twin (both legs replayed from first
    principles, fused with the same rounding), and the output contract
    equals the scan-path key's column-for-column."""
    from samza_hello_samza_spark.operators.retrieval import hybrid_search

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    assert_matches_oracle(
        spark,
        duck,
        similarity.QUERIES["hybrid_search_indexed"],
        similarity.ORACLES["hybrid_search_indexed"],
    )
    got = similarity.hybrid_search_indexed(spark, SF_DIR)
    assert got.columns == hybrid_search(spark, SF_DIR).columns


def test_hybrid_indexed_prunes_both_legs(spark, tmp_path, monkeypatch):
    """The serving claim, asserted on the real plan: the lexical leg's
    WAND probe pruned (telemetry), the vector shortlist scan reads
    code words only (no raw ``v`` in its ReadSchema), and NEITHER base
    table (documents/embeddings parquet) appears anywhere in the
    serving plan — both legs run off the committed layouts."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    df = similarity.hybrid_search_indexed(spark, SF_DIR)

    # lexical leg: the impact-bound probe that built this plan pruned
    st = inverted.bm25_batch_wand_topk.last_stats
    assert st["queries"][0]["route"] == "pruned"
    assert st["n_blocks_p1"] < st["n_blocks_total"]

    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan  # corpus text never read
    assert "embeddings.parquet" not in plan  # raw base table never read
    schemas = re.findall(r"ReadSchema: ([^\n]*)", plan)
    # the ADC shortlist scan: packed code words, never the raw vector
    assert any("s0" in s and "v:" not in s for s in schemas), schemas
    # the rerank rehydration: vec_id + v from the SAME snapshot
    assert any("v:array" in s for s in schemas), schemas

    rows = df.collect()
    from samza_hello_samza_spark.operators.retrieval import HYBRID_TOP

    assert len(rows) == HYBRID_TOP
    # fusion sanity: every row carries at least one real rank and the
    # rrf of two sentinel ranks (-1/-1) cannot appear
    for r in rows:
        assert r.lex_rank >= 1 or r.vec_rank >= 1
        assert r.rrf > 0.0


def test_hybrid_batch_indexed_matches_oracle_and_fuses_per_query(
    spark, duck, tmp_path, monkeypatch
):
    """r10: hybrid retrieval at query volume — hash-exact vs the
    DuckDB twin (both batch programs replayed + identical fusion
    rounding), one fused top-10 per query, every row carrying at
    least one real rank, and the lexical leg really ran the
    WAND-routed batch (telemetry)."""
    from samza_hello_samza_spark.operators.retrieval import HYBRID_TOP
    from samza_hello_samza_spark.sources.inverted import BM25_BATCH_QUERIES

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    assert_matches_oracle(
        spark,
        duck,
        similarity.QUERIES["hybrid_batch_indexed"],
        similarity.ORACLES["hybrid_batch_indexed"],
    )

    rows = similarity.hybrid_batch_indexed(spark, SF_DIR).collect()
    st = inverted.bm25_batch_wand_topk.last_stats
    assert st["n_queries"] == len(BM25_BATCH_QUERIES)
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
        assert r.lex_rank >= 1 or r.vec_rank >= 1
        assert r.rrf > 0.0
    assert set(by_q) == set(range(len(BM25_BATCH_QUERIES)))
    for q, qrows in by_q.items():
        assert len(qrows) == HYBRID_TOP, q


def test_hybrid_indexed_survives_wand_fallback_corpus(spark, tmp_path, monkeypatch):
    """Degenerate-path discipline: on a corpus SMALLER than the
    lexical top-k, θ is not a valid k-th bound — the query routes
    under_k (completed unpruned from the same reads) — and the hybrid must
    still serve the correct fused relation (the fallback is
    relation-invisible by contract)."""
    import numpy as np

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    sf = str(tmp_path / "sf")
    import os

    os.makedirs(sf)
    # 12 docs < BM25_TOP=20 → fewer than k phase-1 docs → under_k
    docs = spark.createDataFrame(
        [(i, "dup join window common words " * (i % 3 + 1)) for i in range(12)],
        "doc_id long, text string",
    )
    docs.write.parquet(os.path.join(sf, "documents.parquet"))
    rng = np.random.default_rng(7)
    emb = spark.createDataFrame(
        [
            (i, [float(x) for x in rng.normal(size=64)], i % 3)
            for i in range(12)
        ],
        "vec_id long, embedding array<double>, label int",
    )
    emb.write.parquet(os.path.join(sf, "embeddings.parquet"))

    # no manual cache pop needed: _QUERY_VEC_CACHE keys on the
    # embeddings-file fingerprint, so this fresh corpus dir can never
    # be served a stale vector (the r10 footgun, ADVICE-fixed in r11).
    rows = similarity.hybrid_search_indexed(spark, sf).collect()
    st = inverted.bm25_batch_wand_topk.last_stats
    assert st["queries"][0]["route"] == "under_k"  # the bound could not prune
    assert 0 < len(rows) <= 10
    for r in rows:
        assert r.lex_rank >= 1 or r.vec_rank >= 1
        assert r.rrf > 0.0
    # the lexical leg still served the exact BM25 ranking: every doc
    # matches all 3 terms, so the fused lex side must carry real ranks
    assert any(r.lex_rank >= 1 for r in rows)
    assert any(r.vec_rank >= 1 for r in rows)


def test_query_vec_cache_invalidates_on_corpus_rewrite(spark, tmp_path):
    """r11 (ADVICE r10): the per-corpus query-vector cache keys on the
    embeddings-file fingerprint (mtime_ns, size), so a process that
    REWRITES embeddings in the same corpus dir gets the fresh vector —
    the stale-vector footgun the r10 fallback test had to dodge with a
    manual cache pop."""
    import os
    import time

    import numpy as np

    sf = str(tmp_path / "sf")
    os.makedirs(sf)

    def write(scale: float) -> None:
        emb = spark.createDataFrame(
            [
                (i, [float(scale * (j + 1 + i)) for j in range(64)])
                for i in range(3)
            ],
            "vec_id long, embedding array<double>",
        )
        emb.write.mode("overwrite").parquet(os.path.join(sf, "embeddings.parquet"))

    write(1.0)
    v1 = similarity._query_vector(spark, sf)
    # cache hit: same fingerprint returns the identical object
    assert similarity._query_vector(spark, sf) is v1
    time.sleep(0.02)  # ensure distinguishable mtime_ns on coarse clocks
    write(2.0)
    v2 = similarity._query_vector(spark, sf)
    assert not np.allclose(v1, v2)
    assert np.allclose(2.0 * v1, v2)


def test_hybrid_round_trip_telemetry_and_sidecar_caches(
    spark, tmp_path, monkeypatch
):
    """r11 (VERDICT r10 #6): the hybrid probe records its driver
    round-trips, and a REPEATED probe executes only the WAND
    accumulator/candidate actions — pricing, SQ8 codec meta, and the
    corpus manifest all serve from restart-safe plain-data caches
    (fingerprint-keyed, zero Spark objects)."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    similarity.hybrid_search_indexed(spark, SF_DIR).collect()
    st1 = dict(similarity.hybrid_topk_from_layouts.last_stats)
    # fresh layout dir: the first probe priced (2 jobs) + the fused
    # θ/candidate TakeOrdered (r12, VERDICT r11 #6 — previously a
    # checkpoint AND a collect), and read both sidecars from disk
    assert st1["wand_pricing_cached"] is False
    assert st1["wand_round_trips"] == 3

    similarity.hybrid_search_indexed(spark, SF_DIR).collect()
    st2 = dict(similarity.hybrid_topk_from_layouts.last_stats)
    assert st2["wand_pricing_cached"] is True
    assert st2["wand_round_trips"] == 1  # the fused θ/cand TakeOrdered only
    assert st2["sq8_meta_cached"] is True
    assert st2["manifest_cached"] is True


def test_sidecar_cache_copy_safe_and_invalidates_on_publish(
    spark, tmp_path, monkeypatch
):
    """The sidecar cache hands out deep copies (a caller mutating its
    manifest cannot poison later probes) and keys on the file
    fingerprint (a new snapshot commit moves it — no stale manifest
    can ever be served)."""
    from samza_hello_samza_spark.operators import ann_index

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    idx = similarity._sq8_index(spark, SF_DIR)
    corpus = f"{idx}/corpus"

    man = ann_index.read_index_manifest(corpus)
    v0 = man["version"]
    man["files"].append("poison.parquet")  # caller-side mutation
    again = ann_index.read_index_manifest(corpus)
    assert "poison.parquet" not in again["files"]
    assert ann_index.read_index_manifest.last_cached is True

    # no Spark objects in the cache (restart-safe plain data)
    for v in ann_index._SIDECAR_JSON_CACHE.values():
        assert isinstance(v, dict)

    # a publish moves the fingerprint: the next read is fresh
    import time

    time.sleep(0.02)
    ann_index.commit_index_snapshot(corpus)
    man2 = ann_index.read_index_manifest(corpus)
    assert man2["version"] >= v0
    # and SQ8 meta hits on repeat
    ann_index.read_sq8_meta(idx)
    ann_index.read_sq8_meta(idx)
    assert ann_index.read_sq8_meta.last_cached is True
