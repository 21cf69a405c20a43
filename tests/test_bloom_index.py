"""Per-file Bloom sidecars: point lookups skip files, results exact."""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from samza_hello_samza_spark.sources import bloom_index
from tests.conftest import SF_DIR, jobs_started


def _unclustered_table(spark, path, n=60_000, files=32):
    """Keys 0..n-1 scattered across date-ordered files: each file's key
    interval spans ~the whole domain (the zone-map-hostile layout)."""
    df = spark.range(n).select(
        F.col("id").alias("k"),
        (F.xxhash64("id").bitwiseAND(F.lit(0x7FFFFFFF)) % 1000).alias("day"),
        (F.col("id") * 3).alias("payload"),
    )
    df.repartitionByRange(files, "day").write.mode("overwrite").parquet(path)
    return path


def test_bloom_point_scan_exact_and_prunes(spark, tmp_path):
    path = _unclustered_table(spark, os.path.join(str(tmp_path), "t"))
    bloom_index.build_file_blooms(spark, path, "k")
    n_files = len(spark.read.parquet(path).inputFiles())

    keys = [7, 31337, 59999]
    cand = bloom_index.bloom_candidate_files(spark, path, keys)
    # each key lives in exactly one file; blooms admit ≤ keys + fp tail
    assert 1 <= len(cand) < n_files / 4

    got = sorted(
        (r.k, r.payload)
        for r in bloom_index.bloom_point_scan(spark, path, "k", keys).collect()
    )
    want = sorted(
        (r.k, r.payload)
        for r in spark.read.parquet(path).filter(F.col("k").isin(keys)).collect()
    )
    assert got == want and len(got) == len(keys)


def test_bloom_absent_key_reads_nothing_or_fp_tail(spark, tmp_path):
    path = _unclustered_table(spark, os.path.join(str(tmp_path), "t"), n=20_000)
    bloom_index.build_file_blooms(spark, path, "k")
    n_files = len(spark.read.parquet(path).inputFiles())
    # absent keys: no false negatives needed — candidates are pure fp
    cand = bloom_index.bloom_candidate_files(
        spark, path, [10_000_000 + i for i in range(5)]
    )
    assert len(cand) <= max(1, n_files // 8)
    out = bloom_index.bloom_point_scan(spark, path, "k", [10_000_000]).collect()
    assert out == []


def test_bloom_meta_sizing_clamped_pow2(spark, tmp_path):
    path = _unclustered_table(spark, os.path.join(str(tmp_path), "t"), n=5_000)
    bloom_index.build_file_blooms(spark, path, "k")
    with open(bloom_index._meta_path(path)) as f:
        meta = json.load(f)
    nb = meta["n_bits"]
    assert bloom_index.FB_MIN_BITS <= nb <= bloom_index.FB_MAX_BITS
    assert nb & (nb - 1) == 0
    assert meta["col"] == "k" and meta["k"] == bloom_index.FB_K


def test_bloom_refresh_new_files_folds_only_the_delta(spark, tmp_path):
    """Append maintenance (VERDICT r05 #5): after new files land, the
    delta fold builds filters for ONLY them — existing sidecar rows
    are untouched bytes — and probes for keys in BOTH generations are
    exact afterwards."""
    path = _unclustered_table(spark, os.path.join(str(tmp_path), "t"), n=30_000)
    bloom_index.build_file_blooms(spark, path, "k")
    before = {
        (r._file, r.word): r.bits
        for r in spark.read.parquet(bloom_index._sidecar_dir(path)).collect()
    }

    # append a new key generation as new files (no old file rewritten)
    delta = spark.range(1_000_000, 1_002_000).select(
        F.col("id").alias("k"),
        F.lit(5000).cast("long").alias("day"),
        (F.col("id") * 3).alias("payload"),
    )
    delta.coalesce(2).write.mode("append").parquet(path)

    n = bloom_index.refresh_new_files(spark, path)
    assert n == 2
    assert bloom_index.refresh_new_files(spark, path) == 0  # idempotent

    after = {
        (r._file, r.word): r.bits
        for r in spark.read.parquet(bloom_index._sidecar_dir(path)).collect()
    }
    # old rows carried over identical; new rows only for the 2 new files
    assert {kv: b for kv, b in after.items() if kv in before} == before
    new_files = {f for (f, _w) in set(after) - set(before)}
    assert len(new_files) == 2

    # probes spanning both generations are exact and still prune
    keys = [7, 1_000_001, 1_001_999]
    got = sorted(
        (r.k, r.payload)
        for r in bloom_index.bloom_point_scan(spark, path, "k", keys).collect()
    )
    want = sorted(
        (r.k, r.payload)
        for r in spark.read.parquet(path).filter(F.col("k").isin(keys)).collect()
    )
    assert got == want and len(got) == len(keys)
    n_files = len(spark.read.parquet(path).inputFiles())
    assert len(bloom_index.bloom_candidate_files(spark, path, keys)) < n_files / 4


def test_bloom_refresh_merged_buckets_composes_with_merge(spark, tmp_path):
    """MERGE composition (VERDICT r05 #5, mirroring test_zonemap.py's
    carryover test): after a partial merge, only the touched buckets'
    sidecar rows are rebuilt, untouched files' rows carry over
    identical, and the post-merge probe equals the exact filter."""
    from samza_hello_samza_spark.sources.merge import MergeTable

    t = MergeTable(spark, str(tmp_path / "mt"), "k", n_buckets=8)
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(20_000)], "k long, v long"
    )
    t.write_full(base)
    bloom_index.build_file_blooms(spark, t.path, "k")
    before = {
        (r._file, r.word): r.bits
        for r in spark.read.parquet(bloom_index._sidecar_dir(t.path)).collect()
    }

    src = spark.createDataFrame(
        [(i, 7_000_000 + i) for i in range(0, 20_000, 4000)] + [(90_001, 5)],
        "k long, v long",
    )
    stats = t.merge(src)
    touched = stats["buckets"]
    assert 0 < len(touched) < 8  # a real partial merge

    n = bloom_index.refresh_merged_buckets(spark, t.path, touched)
    assert n > 0
    # empty bucket list is a no-op, never a self-overwrite
    assert bloom_index.refresh_merged_buckets(spark, t.path, []) == 0

    after = {
        (r._file, r.word): r.bits
        for r in spark.read.parquet(bloom_index._sidecar_dir(t.path)).collect()
    }
    markers = [f"/_bucket={b}/" for b in touched]
    untouched_before = {
        kv: b for kv, b in before.items() if not any(m in kv[0] for m in markers)
    }
    untouched_after = {
        kv: b for kv, b in after.items() if not any(m in kv[0] for m in markers)
    }
    assert untouched_before == untouched_after  # carried over identical
    for f, _w in after:
        if any(m in f for m in markers):
            assert (f, _w) not in before  # touched dirs hold only NEW files

    # post-merge probe ≡ exact filter (upserted, inserted, untouched keys)
    keys = [0, 4000, 90_001, 13]
    got = sorted(
        (r.k, r.v)
        for r in bloom_index.bloom_point_scan(spark, t.path, "k", keys)
        .drop("_bucket")
        .collect()
    )
    want = sorted(
        (r.k, r.v)
        for r in spark.read.parquet(t.path)
        .filter(F.col("k").isin(keys))
        .drop("_bucket")
        .collect()
    )
    assert got == want and len(got) == len(keys)


def _lookup_rows(spark, sf):
    return sorted(
        tuple(r) for r in bloom_index.orders_point_lookup_bloom(spark, sf).collect()
    )


def _full_scan_rows(spark, sf):
    from samza_hello_samza_spark.session import load_table

    return sorted(
        tuple(r)
        for r in load_table(spark, sf, "orders")
        .filter(F.col("o_orderkey").isin(list(bloom_index.LOOKUP_KEYS)))
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("total_price"),
            "o_orderstatus",
        )
        .collect()
    )


def test_registered_lookup_matches_full_scan(spark):
    assert _lookup_rows(spark, SF_DIR) == _full_scan_rows(spark, SF_DIR)


def test_registered_lookup_prunes_files(spark):
    table_dir = bloom_index._date_clustered_orders(spark, SF_DIR)
    n_files = len(
        [
            f
            for f in spark.read.parquet(table_dir).inputFiles()
            if bloom_index.BLOOM_SIDECAR_DIRNAME not in f
        ]
    )
    cand = bloom_index.bloom_candidate_files(
        spark, table_dir, list(bloom_index.LOOKUP_KEYS)
    )
    assert len(cand) < n_files / 4


def _fresh_orders(tmp_path, monkeypatch) -> str:
    """A copy of the test orders in a fresh data dir, with a fresh index
    root, so the Bloom layout is built cold."""
    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(os.path.join(SF_DIR, "orders.parquet"), sf / "orders.parquet")
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "index"))
    return str(sf)


def test_registered_lookup_job_budget(spark, tmp_path, monkeypatch):
    """A cold lookup starts only the jobs its data needs: the source
    schema, the sorted layout write (one range: no exchange, so no
    shuffle-map job), the sidecar aggregate and the sidecar-word
    collect; no inference of what it wrote, no count(). A warm lookup
    starts one, the sidecar-word collect."""
    sf = _fresh_orders(tmp_path, monkeypatch)
    cold = jobs_started(spark, lambda: bloom_index.orders_point_lookup_bloom(spark, sf))
    warm = jobs_started(spark, lambda: bloom_index.orders_point_lookup_bloom(spark, sf))
    assert cold <= 5
    assert warm == 1


def test_recorded_schema_and_footer_rows_are_exact(spark, tmp_path, monkeypatch):
    """What the build skips is exact: the schema recorded in _META.json
    is the one Spark infers for the layout, and the footer row count is
    count() for a plain and a ``_bucket=``-partitioned table."""
    from samza_hello_samza_spark.sources.merge import MergeTable

    sf = _fresh_orders(tmp_path, monkeypatch)
    layout = bloom_index._date_clustered_orders(spark, sf)
    with open(bloom_index._meta_path(layout)) as f:
        meta = json.load(f)
    assert StructType.fromJson(meta["schema"]) == spark.read.parquet(layout).schema

    t = MergeTable(spark, str(tmp_path / "mt"), "k", n_buckets=4)
    t.write_full(
        spark.createDataFrame([(i, i * 10) for i in range(3000)], "k long, v long")
    )
    for path in (layout, t.path):
        files = bloom_index._data_files(path)
        assert len(files) == len(spark.read.parquet(path).inputFiles())
        assert bloom_index._footer_rows(files) == spark.read.parquet(path).count()
    assert any("/_bucket=" in f for f in bloom_index._data_files(t.path))

    # a partitioned layout records its partition column, and the
    # post-merge sidecar refresh carries the schema over
    bloom_index.build_file_blooms(spark, t.path, "k")
    want = spark.read.parquet(t.path).schema
    assert "_bucket" in want.fieldNames()
    stats = t.merge(spark.createDataFrame([(7, 1), (9_999, 2)], "k long, v long"))
    assert bloom_index.refresh_merged_buckets(spark, t.path, stats["buckets"]) > 0
    with open(bloom_index._meta_path(t.path)) as f:
        assert StructType.fromJson(json.load(f)["schema"]) == want


def test_layout_meta_without_schema_still_exact(spark, tmp_path, monkeypatch):
    """A layout whose _META.json holds no schema (written before schemas
    were recorded) is probed through the inferring read, and returns
    the exact full-scan rows."""
    sf = _fresh_orders(tmp_path, monkeypatch)
    want = _lookup_rows(spark, sf)
    layout = bloom_index._date_clustered_orders(spark, sf)
    with open(bloom_index._meta_path(layout)) as f:
        meta = json.load(f)
    del meta["schema"]
    with open(bloom_index._meta_path(layout), "w") as f:
        json.dump(meta, f)
    assert _lookup_rows(spark, sf) == want == _full_scan_rows(spark, sf)
