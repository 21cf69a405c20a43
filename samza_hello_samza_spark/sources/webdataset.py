"""WebDataset-style tar shards: the multimodal training-loader format.

Large multimodal training jobs read POSIX-tar shards of named sample
files (``{key}.{ext}``) streamed sequentially — the WebDataset
convention (Aizman et al., "High Performance I/O For Large Scale Deep
Learning"; the format PyTorch's ``webdataset`` loader and NVIDIA DALI
consume). This module closes the last mile between the engine's
curated parquet corpora and that loader contract:

- ``write_webdataset_shards``: DataFrame → ``shard-{k:06d}.tar``
  files plus a ``_manifest.json``. Shard assignment is DETERMINISTIC
  (``key // samples_per_shard`` — content-addressed, append-stable:
  re-exporting after new keys arrive never reshuffles old shards,
  the ``train_val_test_split`` membership discipline). Each shard is
  written by the executor that holds its rows after one hash
  repartition on shard id — tars stream straight to shard-local
  files; nothing funnels through the driver. At 100 TB the same plan
  shape holds: one shuffle, then embarrassingly parallel sequential
  writes, which is exactly what object stores want.
- ``read_webdataset_shards``: tar shards → (key, ext, payload) rows
  via Spark's built-in ``binaryFile`` source + an Arrow-batched untar
  (``mapInPandas``) — shard files are the unit of parallelism, so a
  loader resuming at shard k prunes every other file at listing time.

Payload columns are opaque ``binary``/string (multimodal.py's
discipline); per-row extensions (e.g. mixed png/wav corpora) come
from an ``ext_col``. Pure stdlib ``tarfile`` — no codec deps.

Reference parity note: the reference ships no multimodal loader; this
is part of the beyond-reference training-pipeline surface (brief §
"multimodal columns" / "export").
"""

from __future__ import annotations

import io
import json
import os
import tarfile
import uuid
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..session import read_parquet, write_json_atomic

SAMPLES_PER_SHARD = 64


def _shard_id_expr(key_col: str, samples_per_shard: int):
    """Exact integer shard id: ``key div samples_per_shard``.

    BIGINT ``div`` is exact at any magnitude; double division +
    cast-to-long (the pre-r07 expression) truncates toward zero for
    negative keys and double-rounds near 2^53 onto the wrong shard.
    Keys are validated non-negative executor-side at write time, so
    truncation == floor and the docstring's ``key //
    samples_per_shard`` contract holds exactly.
    """
    return F.expr(
        f"CAST(`{key_col}` AS BIGINT) div {int(samples_per_shard)}"
    )

_MANIFEST_SCHEMA = StructType(
    [
        StructField("shard_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("n_bytes", LongType()),
        StructField("key_min", LongType()),
        StructField("key_max", LongType()),
    ]
)

SAMPLE_SCHEMA = StructType(
    [
        StructField("key", LongType()),
        StructField("ext", StringType()),
        StructField("payload", BinaryType()),
    ]
)


def write_webdataset_shards(
    df: DataFrame,
    path: str,
    key_col: str = "doc_id",
    payload_col: str = "payload",
    ext_col: str | None = None,
    ext: str = "bin",
    samples_per_shard: int = SAMPLES_PER_SHARD,
    write_manifest: bool = True,
) -> dict:
    """Export ``df`` as WebDataset tar shards under ``path``.

    Sample member names are ``{key:012d}.{ext}`` (zero-padded so tar
    listing order is key order); fixed mtime/uid keep shard bytes
    deterministic, so re-exports of unchanged data are byte-identical
    (the MergeTable untouched-bucket discipline, applied to tars).
    Returns the manifest dict (also written as ``_manifest.json``).
    """
    os.makedirs(path, exist_ok=True)
    sel = [
        F.col(key_col).cast("long").alias("key"),
        F.col(payload_col).cast("binary").alias("payload"),
        (
            F.col(ext_col).cast("string") if ext_col else F.lit(ext)
        ).alias("ext"),
        _shard_id_expr(key_col, samples_per_shard).alias("shard_id"),
    ]
    rows = df.select(*sel)

    def _write_partition(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        by_shard: dict[int, list[tuple[int, str, bytes]]] = {}
        for pdf in batches:
            for k, e, p, s in zip(
                pdf["key"], pdf["ext"], pdf["payload"], pdf["shard_id"]
            ):
                if int(k) < 0:
                    # negative keys would break floor==trunc in
                    # _shard_id_expr and the {key:012d} member names
                    raise ValueError(
                        f"webdataset keys must be >= 0, got {int(k)}"
                    )
                by_shard.setdefault(int(s), []).append(
                    (int(k), str(e), bytes(p))
                )
        out = []
        for shard_id, samples in by_shard.items():
            samples.sort()  # key order inside the tar
            fname = os.path.join(path, f"shard-{shard_id:06d}.tar")
            # attempt-private staging: a speculative/zombie attempt on
            # the same shard must not interleave into one .tmp, so the
            # name carries this attempt's uuid; os.replace stays the
            # single atomic publish point
            tmp = f"{fname}.tmp-{uuid.uuid4().hex[:12]}"
            with tarfile.open(tmp, "w") as tf:
                for k, e, payload in samples:
                    info = tarfile.TarInfo(name=f"{k:012d}.{e}")
                    info.size = len(payload)
                    info.mtime = 0  # deterministic shard bytes
                    tf.addfile(info, io.BytesIO(payload))
            os.replace(tmp, fname)  # readers never see partial tars
            out.append(
                (
                    shard_id,
                    len(samples),
                    os.path.getsize(fname),
                    min(k for k, _, _ in samples),
                    max(k for k, _, _ in samples),
                )
            )
        yield pd.DataFrame(
            out,
            columns=["shard_id", "n_samples", "n_bytes", "key_min", "key_max"],
        )

    # one shuffle co-locates each shard's samples, then every shard
    # tar streams from exactly one task.
    stats = (
        rows.repartition("shard_id")
        .mapInPandas(_write_partition, _MANIFEST_SCHEMA)
        .collect()  # bounded: one row PER SHARD, not per sample
    )
    manifest = {
        "samples_per_shard": samples_per_shard,
        "shards": {
            str(r.shard_id): {
                "file": f"shard-{r.shard_id:06d}.tar",
                "n_samples": int(r.n_samples),
                "n_bytes": int(r.n_bytes),
                "key_min": int(r.key_min),
                "key_max": int(r.key_max),
            }
            for r in sorted(stats, key=lambda r: r.shard_id)
        },
    }
    if write_manifest:
        write_json_atomic(os.path.join(path, "_manifest.json"), manifest, indent=1)
    return manifest


def _untar_partition(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        keys: list[int] = []
        exts: list[str] = []
        payloads: list[bytes] = []
        for blob in pdf["content"]:
            with tarfile.open(fileobj=io.BytesIO(bytes(blob))) as tf:
                for member in tf.getmembers():
                    stem, _, e = member.name.rpartition(".")
                    keys.append(int(stem))
                    exts.append(e)
                    payloads.append(tf.extractfile(member).read())
        yield pd.DataFrame({"key": keys, "ext": exts, "payload": payloads})


def read_webdataset_shards(
    spark: SparkSession,
    path: str,
    shard_ids: list[int] | None = None,
) -> DataFrame:
    """Tar shards → (key, ext, payload) rows.

    ``shard_ids`` prunes at FILE LISTING time (``pathGlobFilter`` for
    one shard, explicit paths for several) — a loader resuming
    mid-epoch reads only its remaining shards, never the corpus. One
    task unpacks one shard (binaryFile rows are whole files), so read
    parallelism equals shard count.
    """
    reader = spark.read.format("binaryFile")
    if shard_ids is None:
        src = reader.option("pathGlobFilter", "shard-*.tar").load(path)
    else:
        src = reader.load(
            [os.path.join(path, f"shard-{s:06d}.tar") for s in shard_ids]
        )
    return src.select("content").mapInPandas(_untar_partition, SAMPLE_SCHEMA)


def read_manifest(path: str) -> dict:
    with open(os.path.join(path, "_manifest.json")) as f:
        return json.load(f)


def seal_webdataset_shards(
    spark: SparkSession,
    staging_path: str,
    out_path: str,
    key_col: str = "doc_id",
    payload_col: str = "payload",
    ext_col: str | None = None,
    ext: str = "bin",
    samples_per_shard: int = SAMPLES_PER_SHARD,
) -> dict:
    """Incremental shard sealing — the streaming-ingest path.

    A live pipeline can't write tars per micro-batch: a shard's
    samples arrive across batches, and rewriting a tar from one
    batch's rows would drop the earlier ones. The composition that
    works (and the one object-store loaders expect) is
    stage-then-seal: micro-batches land in a parquet STAGING area
    through the existing idempotent sink (`streaming/sinks.py` —
    replay-safe by `_batch_id`), and this call seals staging into
    tar shards, rewriting ONLY shards whose sample count changed
    since the recorded manifest (samples are append-only and
    immutable, so per-shard count is a sufficient change signal —
    the zonemap `refresh_merged_buckets` discipline; the per-shard
    count collect is one row per shard, so size shards ~1 GB and it
    stays O(10^5) rows at 100 TB). Untouched
    shards keep byte-identical files; cost is ∝ touched shards, not
    corpus. Re-sealing with no new data rewrites nothing.

    Single-maintainer op (the streaming/maintenance.py convention):
    one sealer per output dir — concurrent seals could interleave
    manifest merges. Crash-safe: tars land by atomic rename and the
    manifest is written last, so a crashed seal is re-run, never
    repaired.
    """
    staged = read_parquet(spark, staging_path)
    counts = {
        int(r.shard_id): int(r.n)
        for r in staged.select(
            _shard_id_expr(key_col, samples_per_shard).alias("shard_id")
        )
        .groupBy("shard_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # bounded: one row per shard
    }
    try:
        man = read_manifest(out_path)
        if man.get("samples_per_shard") != samples_per_shard:
            raise ValueError(
                f"existing manifest at {out_path} was sealed with "
                f"samples_per_shard={man.get('samples_per_shard')}"
            )
    except FileNotFoundError:
        man = {"samples_per_shard": samples_per_shard, "shards": {}}
    touched = [
        s
        for s, n in counts.items()
        if man["shards"].get(str(s), {}).get("n_samples") != n
    ]
    if not touched:
        return {"rebuilt": [], "manifest": man}
    sub = staged.filter(
        _shard_id_expr(key_col, samples_per_shard).isin(touched)
    )
    new_man = write_webdataset_shards(
        sub,
        out_path,
        key_col=key_col,
        payload_col=payload_col,
        ext_col=ext_col,
        ext=ext,
        samples_per_shard=samples_per_shard,
        write_manifest=False,  # the merged manifest below is the commit
    )
    # merge: rebuilt shards' fresh entries over the carried-over rest
    man["shards"].update(new_man["shards"])
    write_json_atomic(os.path.join(out_path, "_manifest.json"), man, indent=1)
    return {"rebuilt": sorted(touched), "manifest": man}


# --------------------------------------------------------------------------
# packing_io composition: packed token sequences ⇄ WebDataset tars
# --------------------------------------------------------------------------
#
# The last seam between the packing pipeline and the loader contract
# the tar layout exists for: `packing_io.write_packed_shards` produces
# contiguous parquet shards of training sequences; real multimodal /
# sequence loaders (PyTorch webdataset, NVIDIA DALI) want those same
# sequences as tar members. Each sequence becomes TWO members sharing
# the key — `{seq_id:012d}.ids` (token ids as little-endian int64
# bytes, the mmap-ready trainer payload) and `{seq_id:012d}.json`
# (doc_ids/doc_offsets boundary metadata for attention masks) — the
# standard WebDataset multi-member-per-sample convention. Shard
# membership stays `seq_id // seqs_per_shard`, so tar shard k holds
# exactly the seq range parquet shard k holds and a loader rank's
# [lo, hi) range prunes tar files at listing time, same as
# `read_packed_range`.


def export_packed_webdataset(
    packed: DataFrame, path: str, seqs_per_shard: int = 64
) -> dict:
    """Assembled sequences (seq_id, doc_ids, doc_offsets, input_ids)
    → WebDataset tar shards. Deterministic bytes end-to-end (numpy
    '<i8' encoding, fixed member order and mtime), so re-exports of
    unchanged sequences are byte-identical — the untouched-shard
    discipline survives the composition. Manifest ``n_samples``
    counts members (2 per sequence)."""
    from pyspark.sql.types import BinaryType

    @F.pandas_udf(BinaryType())
    def _ids_bytes(ids: pd.Series) -> pd.Series:
        import numpy as np

        return ids.map(lambda a: np.asarray(a, dtype="<i8").tobytes())

    members = packed.select(
        "seq_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit("ids").alias("ext"),
                    _ids_bytes(F.col("input_ids")).alias("payload"),
                ),
                F.struct(
                    F.lit("json").alias("ext"),
                    F.to_json(F.struct("doc_ids", "doc_offsets"))
                    .cast("binary")
                    .alias("payload"),
                ),
            )
        ).alias("m"),
    ).select("seq_id", F.col("m.ext").alias("ext"), F.col("m.payload").alias("payload"))
    return write_webdataset_shards(
        members,
        path,
        key_col="seq_id",
        payload_col="payload",
        ext_col="ext",
        samples_per_shard=seqs_per_shard,
    )


def read_packed_webdataset(
    spark: SparkSession,
    path: str,
    seq_lo: int | None = None,
    seq_hi: int | None = None,
    seqs_per_shard: int = 64,
) -> DataFrame:
    """Tar shards → assembled sequences, shard-pruned by seq range.

    The loader-side inverse of ``export_packed_webdataset``: untar
    (one task per shard), decode the ``.ids`` payload back to the
    int64 token array (Arrow-batched numpy frombuffer), rejoin the
    JSON boundary metadata by key. With [seq_lo, seq_hi) the tar file
    LIST is cut to the overlapping shards before any read — a rank
    resuming at step k unpacks O(its range) tars, never the corpus.
    Schema matches ``packed_sequences`` exactly (round-trip pytest).
    """
    from pyspark.sql.types import ArrayType, LongType

    shard_ids = None
    if seq_lo is not None and seq_hi is not None:
        shard_ids = list(range(seq_lo // seqs_per_shard, (seq_hi - 1) // seqs_per_shard + 1))
    rows = read_webdataset_shards(spark, path, shard_ids=shard_ids)
    if seq_lo is not None and seq_hi is not None:
        rows = rows.filter(F.col("key").between(seq_lo, seq_hi - 1))

    @F.pandas_udf(ArrayType(LongType()))
    def _ids_decode(b: pd.Series) -> pd.Series:
        import numpy as np

        return b.map(lambda x: np.frombuffer(bytes(x), dtype="<i8").tolist())

    ids = rows.filter(F.col("ext") == "ids").select(
        F.col("key").alias("seq_id"), _ids_decode(F.col("payload")).alias("input_ids")
    )
    meta_schema = "doc_ids ARRAY<BIGINT>, doc_offsets ARRAY<BIGINT>"
    meta = rows.filter(F.col("ext") == "json").select(
        F.col("key").alias("seq_id"),
        F.from_json(F.col("payload").cast("string"), meta_schema).alias("m"),
    ).select("seq_id", F.col("m.doc_ids").alias("doc_ids"), F.col("m.doc_offsets").alias("doc_offsets"))
    return meta.join(ids, "seq_id").select(
        "seq_id", "doc_ids", "doc_offsets", "input_ids"
    )
