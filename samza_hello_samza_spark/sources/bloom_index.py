"""Per-file Bloom-filter sidecars — file skipping for POINT lookups.

Zone maps (``sources/zonemap``) prune range predicates on CLUSTERED
columns: every file owns a narrow [min, max] slice. A point lookup on
an UNCLUSTERED high-cardinality column gets nothing from them — when
a table is laid out by date, each file's o_orderkey interval spans
nearly the whole key domain, so every file "might" contain any key.
This module is the standard lakehouse answer (parquet's optional
bloom_filter pages, Iceberg/Delta file-level blooms, made explicit):
one small Bloom filter PER DATA FILE, stored as a parquet sidecar, so
an equality probe reads only the files whose filter admits the key.

Reference parity: hello-samza's stream-table jobs answer keyed point
lookups against RocksDB stores (e.g. the profile table in
src/main/java/samza/examples/cookbook/StreamTableJoinExample.java);
at rest on a 100 TB lakehouse table the same "find the rows for this
key NOW" need is served by file skipping, not a full scan.

Design:

- Build job shape: one sorted layout write (``_date_clustered_orders``),
  one sidecar aggregate, and no schema-inference or ``count()`` job.
  The sidecar aggregate is JVM-side: per row, the md5-slice32 hash
  family (the repo's engine-portable discipline) yields K=3 bit
  positions; positions group by ``(input_file_name, pos >> 6)`` with a
  ``bit_or`` of single-bit masks — the sidecar is (file, word, bits)
  rows, i.e. the sparse nonzero words of each file's bit array. No
  Python touches the data path. Row counts come from the parquet
  footers on the driver, and the layout's schema is recorded in
  ``_META.json`` next to ``n_bits``, so every later read of the layout
  (candidate files, empty result) and of the sidecar (a fixed schema)
  passes its schema instead of inferring it. A ``_META.json`` without
  a schema (a layout written before schemas were recorded) is read
  through ``read_parquet``'s inferring path.
- The probe hashes its keys DRIVER-side (same md5 slices — Python and
  the JVM agree on md5 by definition), reads only the ≤ 3·|keys|
  needed sidecar words (predicate pushed to the sidecar scan), and
  keeps a file when ALL K bits of ANY probe key are set. Bloom
  filters have no false negatives, so survivors are a superset; the
  exact ``isin`` filter re-applied on the pruned read makes the
  composition exact (same contract as ``zonemap.pruned_scan``).
- Sizing: ``n_bits = next_pow2(16 × rows/file)`` clamped to
  [2^16, 2^22] — ≥16 bits/key keeps the false-positive rate ≈0.2% at
  K=3 (the ``functions/bloom`` budget), and the cap bounds the
  sidecar at ≤512 KiB of words per file. One n_bits for the whole
  table (recorded in ``_META.json``) so probe positions are
  file-independent.

Scale shape (100 TB): the sidecar is O(files × occupied words) —
megabytes where the table is terabytes — and a point probe touches
3·|keys| words of it, then reads ~|keys| data files plus the ~0.2%
false-positive tail instead of every file. The build is append-
friendly: per-file rows are independent, so ``refresh_new_files``-
style delta folds apply (build only missing files' filters).
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..operators.dedup import explode_nonempty
from ..session import load_table, materialize, read_parquet, write_json_atomic

BLOOM_SIDECAR_DIRNAME = "_file_blooms"
FB_K = 3  # md5 hex slices per key — same family as functions/bloom
FB_MIN_BITS = 1 << 16
FB_MAX_BITS = 1 << 22
FB_BITS_PER_KEY = 16
#: the sidecar's rows, as ``_file_blooms`` writes them
SIDECAR_SCHEMA = "_file string, word int, bits long"


def _sidecar_dir(table_dir: str) -> str:
    return os.path.join(table_dir, BLOOM_SIDECAR_DIRNAME)


def _meta_path(table_dir: str) -> str:
    return os.path.join(_sidecar_dir(table_dir), "_META.json")


def _data_files(path: str) -> list[str]:
    """Data files Spark's file index lists under ``path`` (a file or a
    table dir): names starting with ``_`` or ``.`` are skipped —
    ``_file_blooms/``, ``_SUCCESS``, ``.crc``, ``_temporary`` — except
    ``name=value`` partition dirs such as ``_bucket=3``."""
    if os.path.isfile(path):
        return [path]
    out = []
    for dirpath, dirs, files in os.walk(path):
        dirs[:] = sorted(
            d
            for d in dirs
            if not d.startswith(".") and (not d.startswith("_") or "=" in d)
        )
        out += [
            os.path.join(dirpath, f)
            for f in sorted(files)
            if not f.startswith(("_", "."))
        ]
    return out


def _footer_rows(files: list[str]) -> int:
    """Row count of parquet ``files`` from their footers (driver-side,
    no Spark job)."""
    return sum(pq.read_metadata(f).num_rows for f in files)


def _layout_schema(meta: dict) -> StructType | None:
    """The layout schema recorded in ``_META.json``; None for a layout
    written before schemas were recorded (its reads infer)."""
    return StructType.fromJson(meta["schema"]) if "schema" in meta else None


def _read_meta(table_dir: str) -> dict:
    with open(_meta_path(table_dir)) as f:
        return json.load(f)


def _size_bits(rows_per_file: float) -> int:
    want = max(1, int(rows_per_file)) * FB_BITS_PER_KEY
    return min(FB_MAX_BITS, max(FB_MIN_BITS, 1 << math.ceil(math.log2(want))))


def _file_blooms(df: DataFrame, col: str, n_bits: int) -> DataFrame:
    """(file, word, bits) sparse Bloom words for every file of ``df``
    — the shared JVM-side core of the full build and the delta folds.
    Positions depend only on (key, n_bits), never on which file or
    batch a row arrived in, which is what makes per-file rows
    independently rebuildable."""
    h = F.md5(F.col(col).cast("string"))
    base = df.select(F.input_file_name().alias("_file"), h.alias("_h"))
    pos = [
        F.pmod(
            F.conv(F.substring(F.col("_h"), 1 + 8 * j, 8), 16, 10).cast("long"),
            F.lit(n_bits),
        )
        for j in range(FB_K)
    ]
    words = explode_nonempty(base, ["_file"], F.array(*pos), "pos")
    return (
        words.select(
            "_file",
            F.shiftright(F.col("pos"), 6).cast("int").alias("word"),
            F.expr("shiftleft(1L, cast(pmod(pos, 64) AS INT))").alias("mask"),
        )
        .groupBy("_file", "word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def build_file_blooms(
    spark: SparkSession, table_dir: str, col: str, schema: StructType | None = None
) -> str:
    """One-aggregate per-file Bloom build over every data file. Returns
    the sidecar dir. ``n_bits`` is derived from the footers' rows/file;
    it and the layout's read schema (``schema`` when the caller just
    wrote the layout, else inferred once here) are frozen in the
    sidecar's ``_META.json`` for the probe side."""
    df = read_parquet(spark, table_dir, schema=schema)
    files = _data_files(table_dir)
    n_bits = _size_bits(_footer_rows(files) / max(1, len(files)))

    sidecar = _file_blooms(df, col, n_bits)
    out = _sidecar_dir(table_dir)
    sidecar.write.mode("overwrite").parquet(out)
    write_json_atomic(
        _meta_path(table_dir),
        {"col": col, "n_bits": n_bits, "k": FB_K, "schema": df.schema.jsonValue()},
    )
    return out


def refresh_new_files(spark: SparkSession, table_dir: str) -> int:
    """Fold Bloom words for files missing from the sidecar
    (post-append). Per-file filters are independent and ``n_bits`` is
    frozen in ``_META.json`` (probe positions stay file-independent),
    so an append scans ONLY the new files — cost ∝ delta, never
    O(table). Returns the number of files added."""
    meta = _read_meta(table_dir)
    schema = _layout_schema(meta)
    # distributed listing-diff (the zonemap.refresh_new_files r07
    # shape): input_file_name() over an empty projection — executors
    # derive one row per file from parquet metadata, no per-file rows
    # on the driver; the only collect is the delta file list
    listing = (
        read_parquet(spark, table_dir, schema=schema)
        .select(F.input_file_name().alias("_file"))
        .distinct()
    )
    known = (
        read_parquet(spark, _sidecar_dir(table_dir), schema=SIDECAR_SCHEMA)
        .select("_file")
        .distinct()
    )
    new_files = [
        r._file for r in listing.join(known, "_file", "left_anti").collect()
    ]
    if not new_files:
        return 0
    fresh = _file_blooms(
        read_parquet(spark, *new_files, schema=schema),
        meta["col"],
        meta["n_bits"],
    )
    fresh.write.mode("append").parquet(_sidecar_dir(table_dir))
    return len(new_files)


def refresh_merged_buckets(
    spark: SparkSession, table_dir: str, buckets: list[int]
) -> int:
    """Post-MERGE Bloom-sidecar maintenance for a bucketed lakehouse
    table (``MergeTable``) — the ``zonemap.refresh_merged_buckets``
    composition on the Bloom layout's terms: a merge dynamic-
    overwrites exactly its touched ``_bucket=B`` directories (bit-
    identical elsewhere, pytest-asserted in test_merge.py), so the
    sidecar rows keyed by the old files there are dead and every
    other file's filter carries over unchanged. Scan cost ∝ touched
    buckets; the sidecar rewrite is word-count-sized (KB–MB). Returns
    the number of refreshed files."""
    if not buckets:  # no touched buckets → the sidecar is current
        return 0
    meta = _read_meta(table_dir)
    out = _sidecar_dir(table_dir)
    markers = [f"/_bucket={b}/" for b in buckets]
    touched_col = None
    for m in markers:
        c = F.col("_file").contains(m)
        touched_col = c if touched_col is None else (touched_col | c)
    # materialize BEFORE the overwrite — the sink is the path this
    # very plan reads from.
    kept = (
        read_parquet(spark, out, schema=SIDECAR_SCHEMA)
        .filter(~touched_col)
        .transform(materialize, "overwrite_barrier")
    )
    dirs = [
        os.path.join(table_dir, f"_bucket={b}")
        for b in buckets
        if os.path.isdir(os.path.join(table_dir, f"_bucket={b}"))
    ]
    if dirs:
        fresh = _file_blooms(
            read_parquet(
                spark, *dirs, schema=_layout_schema(meta), basePath=table_dir
            ).drop("_bucket"),
            meta["col"],
            meta["n_bits"],
        )
        n = fresh.select("_file").distinct().count()
        kept.unionByName(fresh).write.mode("overwrite").parquet(out)
    else:  # every touched bucket emptied out — nothing to scan
        n = 0
        kept.write.mode("overwrite").parquet(out)
    # the overwrite cleared the sidecar dir — restore the frozen meta
    # (same n_bits: probe positions must stay file-independent; same
    # layout schema: a merge rewrites buckets, never the columns).
    write_json_atomic(_meta_path(table_dir), meta)
    return n


def _key_positions(key, n_bits: int) -> list[tuple[int, int]]:
    """(word, bit) pairs for a probe key — the driver-side twin of the
    build's JVM expression: md5 of the key's string form, FB_K 8-hex
    slices, mod n_bits. Both sides agree by md5's definition."""
    h = hashlib.md5(str(key).encode()).hexdigest()
    out = []
    for j in range(FB_K):
        p = int(h[8 * j : 8 * j + 8], 16) % n_bits
        out.append((p >> 6, p & 63))
    return out


def bloom_candidate_files(
    spark: SparkSession, table_dir: str, keys: list
) -> list[str]:
    """Files whose Bloom filter admits AT LEAST ONE probe key.

    Reads only the sidecar words the probe positions touch (≤ 3·|keys|
    distinct words; the ``isin`` prunes at the sidecar scan). A key's
    word with no sidecar row means no row of that file ever set a bit
    there — the key is definitively absent (no false negatives)."""
    meta = _read_meta(table_dir)
    per_key = {k: _key_positions(k, meta["n_bits"]) for k in keys}
    words_needed = sorted({w for wb in per_key.values() for (w, _) in wb})
    rows = (
        read_parquet(spark, _sidecar_dir(table_dir), schema=SIDECAR_SCHEMA)
        .filter(F.col("word").isin(words_needed))
        .collect()
    )
    by_file: dict[str, dict[int, int]] = {}
    for r in rows:
        by_file.setdefault(r._file, {})[r.word] = r.bits
    cand = []
    for fname, wm in by_file.items():
        for wb in per_key.values():
            if all(wm.get(w, 0) & (1 << b) for (w, b) in wb):
                cand.append(fname)
                break
    return sorted(cand)


def bloom_point_scan(
    spark: SparkSession, table_dir: str, col: str, keys: list
) -> DataFrame:
    """Exact point lookup through the sidecar: pruned read of the
    candidate files with the equality predicate re-applied (removes
    Bloom false positives — the result equals the full-scan filter,
    which is what the registered key's DuckDB oracle computes)."""
    schema = _layout_schema(_read_meta(table_dir))
    files = bloom_candidate_files(spark, table_dir, keys)
    if not files:
        return read_parquet(spark, table_dir, schema=schema).filter(F.lit(False))
    return (
        read_parquet(spark, *files, schema=schema, basePath=table_dir)
        .filter(F.col(col).isin(keys))
    )


# -- registered demo query: point lookup on a date-clustered table ---------

#: probe keys for the registered lookup — present at the driver's
#: compare SFs (orderkeys are dense 0..N-1; 14983 < 15000 = sf0.01's
#: count). At sf0.001 the two largest fall outside the table and
#: correctly return nothing, same as the oracle.
LOOKUP_KEYS = (1000, 5000, 14983)
#: date-ordered files in the layout (the "< ¼ of files read" pin)
_FB_FILES = 32
#: on-disk input bytes per range partition of the layout write — the
#: scan split size, so the sort runs on about as many tasks as the scan
_FB_RANGE_BYTES = 128 << 20


def _date_clustered_orders(spark: SparkSession, sf_dir: str) -> str:
    """Orders range-clustered by o_orderdate — the natural ingest
    layout (time-partitioned), which is exactly the layout on which
    an orderkey zone map CANNOT prune (every file's key interval
    spans ~the whole domain) and the Bloom sidecar can.

    One sorted pass: a range partition per ``_FB_RANGE_BYTES`` of input,
    sorted by date within it, cut into ~``_FB_FILES`` files by
    ``maxRecordsPerFile`` — the row count comes from the source
    footers. One range (every bench scale) is a ``coalesce(1)``: no
    sampling job and no exchange."""
    from ..operators.ann_index import _index_root, _is_built, _tag

    out = os.path.join(_index_root(), _tag(sf_dir), "orders_bydate")
    schema = None
    if not _is_built(out):
        src = _data_files(os.path.join(sf_dir, "orders.parquet"))
        n_ranges = math.ceil(sum(map(os.path.getsize, src)) / _FB_RANGE_BYTES)
        per_file = math.ceil(_footer_rows(src) / _FB_FILES)
        orders = load_table(spark, sf_dir, "orders")
        ranged = (
            orders.repartitionByRange(n_ranges, "o_orderdate")
            if n_ranges > 1
            else orders.coalesce(1)
        )
        (
            ranged.sortWithinPartitions("o_orderdate")
            .write.mode("overwrite")
            .option("maxRecordsPerFile", max(1, per_file))
            .parquet(out)
        )
        # a parquet write stores every column nullable
        schema = StructType(
            [StructField(f.name, f.dataType, True, f.metadata) for f in orders.schema]
        )
    if not os.path.exists(_meta_path(out)):
        build_file_blooms(spark, out, "o_orderkey", schema)
    return out


def orders_point_lookup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup of LOOKUP_KEYS through the per-file Bloom sidecar
    on the date-clustered orders layout (<¼ of files read,
    pytest-asserted); result equals the full-scan filter, hash-checked
    against the raw-table oracle."""
    table_dir = _date_clustered_orders(spark, sf_dir)
    return bloom_point_scan(
        spark, table_dir, "o_orderkey", list(LOOKUP_KEYS)
    ).select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2).alias("total_price"),
        "o_orderstatus",
    )


ORACLES: dict[str, str] = {
    "orders_point_lookup_bloom": f"""
        SELECT o_orderkey, o_custkey,
               round(o_totalprice, 2) AS total_price,
               o_orderstatus
        FROM orders
        WHERE o_orderkey IN {LOOKUP_KEYS}
    """,
}

QUERIES = {
    "orders_point_lookup_bloom": orders_point_lookup_bloom,
}
