"""SQ8 (per-dimension uint8 scalar quantization) ANN family.

The 8-bit rung between raw floats and the 1-bit sign signatures
(``test_binary_index``): per-dim corpus bounds frozen at build time
(``_SQ8.json`` — the codec is layout state, like a PQ codebook), codes
packed 8-per-long into ``s0..s7``, ranking by the centered symmetric
integer dot product. This suite pins: cross-representation parity
(stored words ≡ a fresh derivation from ``v`` under the FROZEN
bounds), in-scan ≡ committed-layout result parity, the codes-only scan
shape, exactness through append/upsert/delete/rebalance (appends
quantize with the build-time bounds even when the new vector falls
OUTSIDE them — clamped, never retrained), shortlist recall, and the
store facade.
"""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from samza_hello_samza_spark.functions import sq8
from samza_hello_samza_spark.operators import ann_index, similarity
from samza_hello_samza_spark.operators.vector_store import IvfVectorStore
from tests.conftest import SF_DIR

NLIST = similarity.IVF_NLIST
DIM = 64
NEW_VEC_ID = 999_999


def _build_sq8(spark, tmp_path, name="ivf_sq8"):
    idx = ann_index.build_ivf_index(
        spark, SF_DIR, NLIST, out_dir=str(tmp_path / name), sq8=True
    )
    ann_index.commit_index_snapshot(f"{idx}/corpus")
    return idx


def _vec(seed, scale=1.0):
    v = np.random.default_rng(seed).normal(size=DIM)
    return [float(x) * scale for x in v / np.linalg.norm(v)]


def _vec_df(spark, vec_id, vec):
    return spark.createDataFrame(
        [(int(vec_id), [float(x) for x in vec])],
        "vec_id BIGINT, v ARRAY<DOUBLE>",
    )


def _assert_codes_exact(spark, idx):
    """Every stored SQ8 word equals a fresh derivation from v under
    the layout's FROZEN bounds."""
    meta = ann_index.read_sq8_meta(idx)
    scan = ann_index.snapshot_scan(spark, f"{idx}/corpus")
    fresh = sq8.sq8_word_cols(F.col("v"), meta["mins"], meta["maxs"])
    mism = None
    for stored, derived in zip(meta["sq8_cols"], fresh):
        ne = F.col(stored) != derived
        mism = ne if mism is None else (mism | ne)
    n_bad = scan.filter(mism).count()
    assert n_bad == 0, f"{n_bad} rows carry stale SQ8 words"
    return scan.count()


# -- codec parity ---------------------------------------------------------


def test_packed_words_match_python_twin(spark, tmp_path):
    """Stored packed words ≡ the python codec applied per vector —
    the JVM fold and the driver-side twin are the same function."""
    idx = _build_sq8(spark, tmp_path)
    meta = ann_index.read_sq8_meta(idx)
    rows = (
        ann_index.snapshot_scan(spark, f"{idx}/corpus")
        .select("vec_id", "v", *meta["sq8_cols"])
        .collect()
    )
    assert rows
    for r in rows:
        want_codes = sq8.sq8_codes_py(np.asarray(r.v), meta["mins"], meta["maxs"])
        got_codes = sq8.unpack_codes_py(
            [r[c] for c in meta["sq8_cols"]], meta["dim"]
        )
        assert got_codes == want_codes, r.vec_id


def test_bounds_are_corpus_min_max(spark, tmp_path):
    idx = _build_sq8(spark, tmp_path)
    meta = ann_index.read_sq8_meta(idx)
    V = np.stack(
        [
            np.asarray(r.v)
            for r in ann_index.snapshot_scan(spark, f"{idx}/corpus")
            .select("v")
            .collect()
        ]
    )
    assert meta["mins"] == [float(x) for x in V.min(axis=0)]
    assert meta["maxs"] == [float(x) for x in V.max(axis=0)]


# -- result parity & plan shape ------------------------------------------


def test_indexed_probe_matches_in_scan_derivation(spark):
    """Materializing the codes must not change one result row."""
    want = [tuple(r) for r in similarity.ann_sq8_topk(spark, SF_DIR).collect()]
    got = [
        tuple(r) for r in similarity.ann_sq8_indexed_topk(spark, SF_DIR).collect()
    ]
    assert got == want


def test_sq8_probe_scans_codes_only(spark, tmp_path):
    """The committed-layout ADC scan reads vec_id + packed words; the
    raw vector column must never enter the read schema."""
    idx = _build_sq8(spark, tmp_path)
    meta = ann_index.read_sq8_meta(idx)
    qcodes = sq8.sq8_codes_py(
        similarity._query_vector(spark, SF_DIR), meta["mins"], meta["maxs"]
    )
    cand = ann_index.probe_sq8_snapshot(spark, idx, qcodes)
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    plan = cand._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m, plan
    schema = m.group(1)
    assert "s0" in schema and "s7" in schema, schema
    assert "v:" not in schema, f"raw vectors in the SQ8 scan: {schema}"


def test_rerank_matches_numpy_replay(spark):
    """ADC top-M shortlist → exact-cosine top-k, replayed in numpy."""
    rows = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    )
    by_id = {r.vec_id: np.asarray(r.v) for r in rows}
    mins = [min(v[d] for v in by_id.values()) for d in range(DIM)]
    maxs = [max(v[d] for v in by_id.values()) for d in range(DIM)]
    codes = {
        vid: sq8.sq8_codes_py(v, mins, maxs) for vid, v in by_id.items()
    }
    qc = codes[similarity.QUERY_VEC_ID]
    scored = sorted(
        (
            -sum((codes[vid][d] - 128) * (qc[d] - 128) for d in range(DIM)),
            vid,
        )
        for vid in by_id
        if vid != similarity.QUERY_VEC_ID
    )
    short = scored[: similarity.SQ8_RERANK_M]
    q = by_id[similarity.QUERY_VEC_ID]
    qn = np.linalg.norm(q)
    rer = sorted(
        (
            -round(float(np.dot(by_id[vid], q) / (np.linalg.norm(by_id[vid]) * qn)), 6),
            vid,
            -s,
        )
        for s, vid in short
    )[: similarity.TOP_K]
    want = [(vid, s, -c) for c, vid, s in rer]
    got = [
        (r.vec_id, r.sq8_score, r.cosine)
        for r in similarity.ann_sq8_rerank_topk(spark, SF_DIR).collect()
    ]
    assert got == want


def test_shortlist_recall_vs_exact_cosine(spark):
    """The M-wide ADC shortlist must cover most of the true cosine
    top-k — the property that makes oversample-and-rerank work."""
    rows = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .collect()
    )
    by_id = {r.vec_id: np.asarray(r.v) for r in rows}
    q = by_id[similarity.QUERY_VEC_ID]
    qn = np.linalg.norm(q)
    true_top = {
        vid
        for _, vid in sorted(
            (
                -round(float(np.dot(v, q) / (np.linalg.norm(v) * qn)), 6),
                vid,
            )
            for vid, v in by_id.items()
            if vid != similarity.QUERY_VEC_ID
        )[: similarity.TOP_K]
    }
    short = {
        r.vec_id for r in similarity.ann_sq8_rerank_topk(spark, SF_DIR).collect()
    }
    recall = len(true_top & short) / len(true_top)
    assert recall >= 0.8, recall


# -- frozen-codec exactness through every write path ----------------------


def test_append_quantizes_with_frozen_bounds(spark, tmp_path):
    idx = _build_sq8(spark, tmp_path)
    meta = ann_index.read_sq8_meta(idx)
    # 3× scale puts components OUTSIDE the trained bounds: the codec
    # must clamp under the FROZEN bounds, never retrain
    big = _vec(1, scale=3.0)
    ann_index.append_ivf_index(spark, idx, _vec_df(spark, NEW_VEC_ID, big))
    ann_index.commit_index_snapshot(f"{idx}/corpus")
    _assert_codes_exact(spark, idx)
    assert ann_index.read_sq8_meta(idx) == meta  # bounds untouched
    want = sq8.sq8_codes_py(np.asarray(big), meta["mins"], meta["maxs"])
    assert max(want) == 255 or min(want) == 0  # clamp actually exercised
    row = (
        ann_index.snapshot_scan(spark, f"{idx}/corpus")
        .filter(F.col("vec_id") == NEW_VEC_ID)
        .select(*meta["sq8_cols"])
        .collect()[0]
    )
    assert sq8.unpack_codes_py(list(row), meta["dim"]) == want


def test_codes_exact_through_upsert_delete_rebalance(spark, tmp_path):
    idx = _build_sq8(spark, tmp_path)
    n0 = _assert_codes_exact(spark, idx)

    ups = spark.createDataFrame(
        [(3, _vec(33)), (7, _vec(77))], "vec_id BIGINT, v ARRAY<DOUBLE>"
    )
    ann_index.upsert_ivf_vectors(spark, idx, ups)
    assert _assert_codes_exact(spark, idx) == n0

    ann_index.delete_ivf_vectors(spark, idx, [11])
    assert _assert_codes_exact(spark, idx) == n0  # mask, not rewrite

    ann_index.rebalance_ivf_index(spark, idx)
    assert _assert_codes_exact(spark, idx) == n0 - 1

    # the upserted vector ranks at the maximum self-score against its
    # own codes (symmetric ADC: argmax over the corpus is itself)
    meta = ann_index.read_sq8_meta(idx)
    qcodes = sq8.sq8_codes_py(np.asarray(_vec(33)), meta["mins"], meta["maxs"])
    top = (
        ann_index.probe_sq8_snapshot(spark, idx, qcodes)
        .orderBy(F.desc("sq8_score"), F.asc("vec_id"))
        .limit(1)
        .collect()[0]
    )
    assert top.vec_id == 3


# -- facade ---------------------------------------------------------------


def test_vector_store_probe_sq8(spark, tmp_path):
    store = IvfVectorStore.create(
        spark, SF_DIR, NLIST, out_dir=str(tmp_path / "store"), sq8=True
    )
    qvec = similarity._query_vector(spark, SF_DIR)
    got = (
        store.probe_sq8(qvec)
        .filter(F.col("vec_id") != similarity.QUERY_VEC_ID)
        .orderBy(F.desc("sq8_score"), F.asc("vec_id"))
        .limit(similarity.TOP_K)
        .collect()
    )
    want = similarity.ann_sq8_topk(spark, SF_DIR).collect()
    assert [(r.vec_id, r.sq8_score) for r in got] == [
        (r.vec_id, r.sq8_score) for r in want
    ]


def test_probe_sq8_requires_sq8_layout(spark, tmp_path):
    store = IvfVectorStore.create(
        spark, SF_DIR, NLIST, out_dir=str(tmp_path / "plain")
    )
    with pytest.raises(FileNotFoundError, match="SQ8"):
        store.probe_sq8(similarity._query_vector(spark, SF_DIR)).collect()


def test_filtered_sq8_is_prefilter_not_postfilter(spark):
    """Ground truth is a numpy replay of filter → ADC top-M (under the
    LAYOUT's frozen full-corpus bounds) → exact-cosine top-k."""
    rows = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
        )
        .collect()
    )
    by_id = {r.vec_id: (np.asarray(r.v), r.label) for r in rows}
    mins = [min(v[d] for v, _ in by_id.values()) for d in range(DIM)]
    maxs = [max(v[d] for v, _ in by_id.values()) for d in range(DIM)]
    codes = {
        vid: sq8.sq8_codes_py(v, mins, maxs) for vid, (v, _) in by_id.items()
    }
    qc = codes[similarity.QUERY_VEC_ID]
    scored = sorted(
        (
            -sum((codes[vid][d] - 128) * (qc[d] - 128) for d in range(DIM)),
            vid,
        )
        for vid, (_, lab) in by_id.items()
        if vid != similarity.QUERY_VEC_ID and lab == similarity.FILTER_LABEL
    )
    short = scored[: similarity.SQ8_RERANK_M]
    q = by_id[similarity.QUERY_VEC_ID][0]
    qn = np.linalg.norm(q)
    rer = sorted(
        (
            -round(float(np.dot(by_id[vid][0], q) / (np.linalg.norm(by_id[vid][0]) * qn)), 6),
            vid,
            -s,
        )
        for s, vid in short
    )[: similarity.TOP_K]
    want = [(vid, s, -c) for c, vid, s in rer]
    got = [
        (r.vec_id, r.sq8_score, r.cosine)
        for r in similarity.ann_filtered_sq8_topk(spark, SF_DIR).collect()
    ]
    assert got == want
    assert all(by_id[vid][1] == similarity.FILTER_LABEL for vid, _, _ in got)


def test_sq8_batch_matches_oracle_and_single_probes(spark, duck, tmp_path, monkeypatch):
    """r10: batch ADC over the committed code layout — hash-exact vs
    the DuckDB twin, each query's rows equal to the single-query ADC
    ranking under the same frozen bounds, and the scan reads code
    words only (one corpus scan for the whole batch, no raw vectors
    in the ReadSchema)."""
    from tests.conftest import assert_matches_oracle

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    assert_matches_oracle(
        spark,
        duck,
        similarity.QUERIES["ann_sq8_batch_topk"],
        similarity.ORACLES["ann_sq8_batch_topk"],
    )

    df = similarity.ann_sq8_batch_topk(spark, SF_DIR)
    got: dict[int, list] = {}
    for r in df.collect():
        got.setdefault(r.query_id, []).append((r.vec_id, r.sq8_score))
    assert set(got) == set(range(similarity.N_BATCH_QUERIES))

    # per-query parity with the single-query snapshot probe
    idx = similarity._sq8_index(spark, SF_DIR)
    meta = ann_index.read_sq8_meta(idx)
    emb = {
        r.vec_id: r.v
        for r in similarity._embeddings(spark, SF_DIR)
        .filter(F.col("vec_id") < similarity.N_BATCH_QUERIES)
        .collect()
    }
    for qid, vec in emb.items():
        qcodes = sq8.sq8_codes_py(np.asarray(vec), meta["mins"], meta["maxs"])
        want = [
            (r.vec_id, r.sq8_score)
            for r in ann_index.probe_sq8_snapshot(spark, idx, qcodes)
            .filter(F.col("vec_id") != qid)
            .orderBy(F.desc("sq8_score"), F.asc("vec_id"))
            .limit(similarity.BATCH_TOP_K)
            .collect()
        ]
        assert got[qid] == want, qid

    # plan: code-words-only scan; the raw vector column never read
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.findall(r"ReadSchema: ([^\n]*)", plan)
    assert m and all("v:" not in s for s in m if "s0" in s), m
    assert "embeddings.parquet" not in plan  # base table never read


def test_pack_words_py_roundtrips_and_matches_stored(spark, tmp_path):
    """The driver-side packer is the stored layout's bit-for-bit twin:
    pack(codes) == the s0..s7 words the layout materializes, and
    unpack(pack(codes)) == codes including the sign-bit lane."""
    import os

    idx = _build_sq8(spark, tmp_path)
    meta = ann_index.read_sq8_meta(idx)
    rows = (
        ann_index.snapshot_scan(spark, os.path.join(idx, "corpus"))
        .select("vec_id", "v", *meta["sq8_cols"])
        .orderBy("vec_id")
        .limit(20)
        .collect()
    )
    for r in rows:
        codes = sq8.sq8_codes_py(np.asarray(r.v), meta["mins"], meta["maxs"])
        packed = sq8.pack_words_py(codes)
        stored = [r[c] for c in meta["sq8_cols"]]
        assert packed == stored, r.vec_id
        assert sq8.unpack_codes_py(packed, meta["dim"]) == codes


def test_adc_batch_col_equals_literal_col_incl_sign_lane(spark):
    """The batch scorer (query words as a column) must equal the
    single-query scorer (query codes as literals) for every vector —
    including codes ≥ 128 in lane 7, where the packed word's sign bit
    is set and an arithmetic shift would smear the mask."""
    dim = 16  # 2 words — lane 7 of each word exercises the sign bit
    corpus_codes = [
        [0] * dim,
        [255] * dim,
        [128] * dim,
        [(7 * i + 3) % 256 for i in range(dim)],
        [255 if i % 8 == 7 else 0 for i in range(dim)],  # sign lanes hot
    ]
    qcodes = [(11 * i + 200) % 256 for i in range(dim)]  # q lane-7 ≥ 128
    rows = [
        (vid, *sq8.pack_words_py(c)) for vid, c in enumerate(corpus_codes)
    ]
    df = spark.createDataFrame(
        rows, "vec_id LONG, " + ", ".join(f"s{w} LONG" for w in range(dim // 8))
    )
    lit_scores = {
        r.vec_id: r.s
        for r in df.withColumn("s", sq8.adc_score_col(qcodes)).collect()
    }
    qw = sq8.pack_words_py(qcodes)
    batch = df.crossJoin(
        F.broadcast(
            spark.createDataFrame([(0, qw)], "query_id LONG, qw ARRAY<BIGINT>")
        )
    ).withColumn("s", sq8.adc_score_batch_col(dim, F.col("qw")))
    batch_scores = {r.vec_id: r.s for r in batch.collect()}
    assert batch_scores == lit_scores
    # and both equal the integer model
    for vid, codes in enumerate(corpus_codes):
        want = sum((c - 128) * (q - 128) for c, q in zip(codes, qcodes))
        assert lit_scores[vid] == want, vid


def test_adc_batch_candidates_kernel(spark):
    """r11 GEMM kernel (guide §4.2): adc_batch_candidates + the
    serving window must return bit-identical rows to the JVM packed
    scorer + window — across multiple partitions (the partial-top-k
    union argument), on sign-lane-hot codes (lane 7 ≥ 128 sets the
    packed word's sign bit), and under massive score ties (constant
    codes force the vec_id ASC tie-break through the composite key)."""
    import random

    from pyspark.sql import Window

    random.seed(11)
    dim = 16
    corpus = []
    for i in range(300):
        c = [random.randrange(256) for _ in range(dim)]
        if i % 7 == 0:
            c = [255 if d % 8 == 7 else c[d] for d in range(dim)]  # sign lanes
        if i % 13 == 0:
            c = [128] * dim  # tie block
        corpus.append(c)
    rows = [(vid, *sq8.pack_words_py(c)) for vid, c in enumerate(corpus)]
    df = spark.createDataFrame(
        rows, "vec_id LONG, " + ", ".join(f"s{w} LONG" for w in range(dim // 8))
    )
    queries = [
        (0, [255] * dim),
        (5, [0] * dim),
        (12, [128] * dim),  # ties everywhere
        (299, [(3 * d + 200) % 256 for d in range(dim)]),  # q sign lane hot
    ]
    k = 12
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sq8_score"), F.asc("vec_id")
    )
    qrel = spark.createDataFrame(
        [(q, sq8.pack_words_py(c)) for q, c in queries],
        "query_id LONG, qw ARRAY<BIGINT>",
    )
    want = sorted(
        (r.query_id, r.vec_id, r.sq8_score)
        for r in df.crossJoin(F.broadcast(qrel))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("sq8_score", sq8.adc_score_batch_col(dim, F.col("qw")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "vec_id", "sq8_score")
        .collect()
    )
    got = sorted(
        (r.query_id, r.vec_id, r.sq8_score)
        for r in sq8.adc_batch_candidates(df.repartition(7), dim, queries, k)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "vec_id", "sq8_score")
        .collect()
    )
    assert got == want
    # self-pair exclusion: no query ranks itself
    assert all(q != v for q, v, _ in got)


def test_sq8_batch_wide_matches_oracle_and_plan(spark, duck, tmp_path, monkeypatch):
    """r11 (VERDICT r10 #4): the 240-query wide ADC batch — hash-exact
    vs the DuckDB twin (the stepped-id generator replayed from
    count(*)), 240 distinct queries served from ONE code scan (no raw
    vectors in the code ReadSchema, base table absent), and a spot-
    checked query equals the single-query snapshot probe."""
    from tests.conftest import assert_matches_oracle

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))
    assert_matches_oracle(
        spark,
        duck,
        similarity.QUERIES["ann_sq8_batch_wide"],
        similarity.ORACLES["ann_sq8_batch_wide"],
    )

    df = similarity.ann_sq8_batch_wide(spark, SF_DIR)
    got: dict[int, list] = {}
    for r in df.collect():
        got.setdefault(r.query_id, []).append((r.vec_id, r.sq8_score))
    n = similarity._embeddings(spark, SF_DIR).count()
    want_ids = similarity._wide_vec_ids(n)
    assert set(got) == set(want_ids)
    assert len(want_ids) == similarity.WIDE_VEC_QUERIES
    assert all(len(v) == similarity.BATCH_TOP_K for v in got.values())

    # spot-check one mid-range query against the single-query probe
    idx = similarity._sq8_index(spark, SF_DIR)
    meta = ann_index.read_sq8_meta(idx)
    qid = want_ids[len(want_ids) // 2]
    vec = (
        similarity._embeddings(spark, SF_DIR)
        .filter(F.col("vec_id") == qid)
        .collect()[0]
        .v
    )
    qcodes = sq8.sq8_codes_py(np.asarray(vec), meta["mins"], meta["maxs"])
    want = [
        (r.vec_id, r.sq8_score)
        for r in ann_index.probe_sq8_snapshot(spark, idx, qcodes)
        .filter(F.col("vec_id") != qid)
        .orderBy(F.desc("sq8_score"), F.asc("vec_id"))
        .limit(similarity.BATCH_TOP_K)
        .collect()
    ]
    assert got[qid] == want

    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.findall(r"ReadSchema: ([^\n]*)", plan)
    assert m and all("v:" not in s for s in m if "s0" in s), m
