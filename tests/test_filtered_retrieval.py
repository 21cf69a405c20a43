"""Filtered retrieval (r11, VERDICT r10 #2): the metadata predicate
applied BEFORE the cut on both hybrid legs — the attr-bearing BM25
posting layout with a label-SEGMENTED ``_impacts`` sidecar, the
filtered WAND probe (exact on the allowed subset, tight segment
bounds), and ``hybrid_filtered_indexed`` served from committed
layouts end to end."""

from __future__ import annotations

import os
import re

import pytest

from samza_hello_samza_spark.operators import similarity
from samza_hello_samza_spark.sources import inverted
from pyspark.sql import functions as F
from tests.conftest import SF_DIR, assert_matches_oracle, bm25_one

WAND, EXHAUSTIVE = inverted.bm25_batch_wand_topk, inverted.bm25_batch_from_index


def test_hybrid_filtered_matches_oracle_and_label_contract(
    spark, duck, tmp_path, monkeypatch
):
    """Hash-exact vs the DuckDB twin (both legs replayed with the
    label restriction applied pre-cut), same column contract as the
    unfiltered key, and EVERY returned doc satisfies the predicate —
    the no-resurrection clause."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    assert_matches_oracle(
        spark,
        duck,
        similarity.QUERIES["hybrid_filtered_indexed"],
        similarity.ORACLES["hybrid_filtered_indexed"],
    )
    got = similarity.hybrid_filtered_indexed(spark, SF_DIR)
    assert got.columns == similarity.hybrid_search_indexed(
        spark, SF_DIR
    ).columns
    from samza_hello_samza_spark.session import load_table

    allowed = {
        r.vec_id
        for r in load_table(spark, SF_DIR, "embeddings")
        .filter(F.col("label") == similarity.FILTER_LABEL)
        .select("vec_id")
        .collect()
    }
    for r in got.collect():
        assert r.doc_id in allowed


def test_hybrid_filtered_serves_from_layouts_with_pushed_label(
    spark, tmp_path, monkeypatch
):
    """The serving claim on the real plan: neither base table
    (documents/embeddings parquet) appears anywhere, and the label
    equality is PUSHED to the parquet readers on both legs — a
    pre-filter at the scan, never a post-filter of unfiltered
    results."""
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    df = similarity.hybrid_filtered_indexed(spark, SF_DIR)

    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan
    assert "embeddings.parquet" not in plan
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("EqualTo(label," in p for p in pushed), pushed


def test_filtered_wand_equals_filtered_scan_on_real_corpus(
    spark, tmp_path, monkeypatch
):
    """On the real corpus the ~10%-selective label makes θ compete
    over a small universe, so the bound may legitimately decline to
    prune — but pruned or fallback, the relation must equal the
    filtered flat probe's row-for-row (the routing is
    relation-invisible), and idf must stay corpus-wide (scores of
    allowed docs IDENTICAL to their unfiltered scores)."""
    from samza_hello_samza_spark.operators.retrieval import BM25_TOP

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    idx = inverted._documents_bm25_label_index(spark, SF_DIR)
    terms = list(inverted.WAND_QUERY_TERMS)
    attr = ("label", similarity.FILTER_LABEL)
    got = bm25_one(WAND, spark, idx, terms, BM25_TOP, attr_eq=attr)
    want = bm25_one(EXHAUSTIVE, spark, idx, terms, BM25_TOP, attr_eq=attr)
    assert got == want and len(got) > 0

    # Lucene filter contract: an allowed doc's score is its
    # unfiltered score — the filter shrinks the universe, not idf
    unfiltered = {
        doc_id: bm25
        for doc_id, bm25, _n in bm25_one(EXHAUSTIVE, spark, idx, terms, 10**6)
    }
    for doc_id, bm25, _n in got:
        assert unfiltered[doc_id] == bm25


def _build_majority_label_corpus(spark, out_dir: str):
    """~200 docs, 90% label 2: the non-selective-filter regime where
    tier-skip must still engage. Rare term 'dup' (5 docs, all label
    2) provides idf contrast; common terms spread across tiers via
    varied tf/dl."""
    rows = []
    for i in range(200):
        label = 2 if i % 10 < 9 else 3
        if i < 5:
            text = "dup " + "join " * 3 + "window " * 2
        else:
            text = (
                "join " * (1 + i % 7)
                + "window " * (1 + (i * 3) % 5)
                + "filler words padding " * (1 + i % 11)
            )
        rows.append((i, text, label))
    docs = spark.createDataFrame(rows, "doc_id long, text string, label int")
    return inverted.build_bm25_index(
        spark, docs, out_dir, attr_cols=("label",)
    )


def test_filtered_wand_prunes_with_segment_bounds(spark, tmp_path):
    """The scale claim: on a majority-label corpus the SEGMENTED
    sidecar's tight bounds let the filtered probe tier-skip (fallback
    None, strictly fewer phase-1 blocks than exist) while returning
    exactly the filtered flat probe's relation — and every returned
    doc is allowed."""
    idx = _build_majority_label_corpus(spark, str(tmp_path / "idx"))
    terms = ["dup", "join", "window"]
    top = 5
    got = bm25_one(WAND, spark, idx, terms, top, attr_eq=("label", 2))
    st = dict(WAND.last_stats)
    want = bm25_one(EXHAUSTIVE, spark, idx, terms, top, attr_eq=("label", 2))
    assert got == want and len(got) == top
    q = st["queries"][0]
    assert q["route"] == "pruned", st
    assert st["n_blocks_p1"] < st["n_blocks_total"]
    assert q["theta"] > q["slack"]


def test_filtered_wand_skips_segment_empty_blocks(spark, tmp_path):
    """A (word, tier) block holding NO allowed posting leaves the
    read set entirely: filter to a label that only appears in a
    slice of the corpus and assert the priced phase-1 posting count
    equals the segment's true postings, not the block totals."""
    idx = _build_majority_label_corpus(spark, str(tmp_path / "idx"))
    # label 3 docs are the 10% minority: i % 10 == 9, none carry 'dup'
    got = bm25_one(WAND, spark, idx, ["dup", "join"], 3, attr_eq=("label", 3))
    st = dict(WAND.last_stats)
    want = bm25_one(EXHAUSTIVE, spark, idx, ["dup", "join"], 3, attr_eq=("label", 3))
    assert got == want
    # 'dup' has no label-3 posting: it cannot appear in the priced set
    if st["queries"][0]["route"] == "pruned":
        assert all("dup" not in p for p in st.get("p1_dirs", []))
    # every returned doc is allowed (no resurrection through 'dup')
    assert all(doc_id % 10 == 9 for doc_id, _b, _n in got)


def test_segmented_sidecar_reaggregates_to_unfiltered_exactly(
    spark, tmp_path, monkeypatch
):
    """The label layout must serve UNFILTERED probes identically to
    the plain layout: segment rows re-aggregate (max/min/sum) to the
    unsegmented bounds exactly, so pricing integers and the relation
    both match the plain layout's."""
    from samza_hello_samza_spark.operators.retrieval import BM25_TOP

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    terms = list(inverted.WAND_QUERY_TERMS)
    plain = inverted._documents_bm25_index(spark, SF_DIR)
    got_plain = bm25_one(WAND, spark, plain, terms, BM25_TOP)
    st_plain = dict(WAND.last_stats)
    lab = inverted._documents_bm25_label_index(spark, SF_DIR)
    got_lab = bm25_one(WAND, spark, lab, terms, BM25_TOP)
    st_lab = dict(WAND.last_stats)
    assert got_plain == got_lab
    for k in ("n_blocks_total", "n_blocks_p1", "n_postings_p1",
              "n_postings_deferred", "queries"):
        assert st_plain[k] == st_lab[k], (k, st_plain[k], st_lab[k])


def test_filtered_wand_pricing_cache_keyed_per_segment(spark, tmp_path):
    """The pricing cache must not alias segments: the same (layout,
    terms) priced for label 2 and label 3 are DIFFERENT entries, and
    a repeat call hits its own segment's entry."""
    idx = _build_majority_label_corpus(spark, str(tmp_path / "idx"))
    terms = ["dup", "join", "window"]
    bm25_one(WAND, spark, idx, terms, 3, attr_eq=("label", 2))
    st2 = dict(WAND.last_stats)
    bm25_one(WAND, spark, idx, terms, 3, attr_eq=("label", 3))
    st3 = dict(WAND.last_stats)
    assert st3["pricing_cached"] is False  # not served label 2's entry
    assert st2["n_postings_p1"] != st3["n_postings_p1"]
    bm25_one(WAND, spark, idx, terms, 3, attr_eq=("label", 2))
    assert WAND.last_stats["pricing_cached"] is True


def test_empty_term_query_serves_typed_empty_not_crash(
    spark, tmp_path, monkeypatch
):
    """r11 hardening: a query with NO terms must yield the typed
    empty lexical relation through both engines (isin() with zero args
    raises — a streamed empty query must not crash the serving tier),
    and the hybrid serving job must answer it with a vec-only fused
    list."""
    import os

    import numpy as np

    from samza_hello_samza_spark.streaming import maintenance

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    idx = inverted._documents_bm25_index(spark, SF_DIR)
    cols = ["query_id", "doc_id", "bm25", "n_terms_matched"]
    for engine in (EXHAUSTIVE, WAND):
        out = engine(spark, idx, ((),), 10)
        assert out.collect() == [] and out.columns == cols, engine.__name__

    sq8_idx = similarity._sq8_index(spark, SF_DIR)
    qvec = similarity._query_vector(spark, SF_DIR)
    schema = "query_id BIGINT, terms ARRAY<STRING>, v ARRAY<DOUBLE>"
    qdir = str(tmp_path / "queries")
    spark.createDataFrame(
        [(5, [], [float(x) for x in qvec])], schema
    ).write.parquet(qdir)
    stream = spark.readStream.schema(schema).parquet(qdir)
    out = str(tmp_path / "results")
    q = maintenance.hybrid_serving_job(
        stream, idx, sq8_idx, out, str(tmp_path / "ck")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.read.parquet(out).collect()
    assert len(rows) > 0
    assert all(r.lex_rank == -1 and r.vec_rank >= 1 for r in rows)


def test_attr_layout_rejects_attrless_append(spark, tmp_path):
    """r11 hardening: the attr-less ingest path must refuse to fold
    into an attribute-bearing layout — a blind append would write
    NULL-label postings and schema-drifted impacts rows, silently
    poisoning filtered pricing."""
    import pytest

    docs = spark.createDataFrame(
        [(i, f"alpha beta doc{i}", i % 3) for i in range(20)],
        "doc_id long, text string, label int",
    )
    idx = inverted.build_bm25_index(
        spark, docs, str(tmp_path / "idx"), attr_cols=("label",)
    )
    more = spark.createDataFrame(
        [(100 + i, f"gamma delta doc{i}") for i in range(5)],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="attr"):
        inverted.append_documents_bm25(spark, idx, more)
