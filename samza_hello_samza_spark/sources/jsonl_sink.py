"""JSONL shards: the text-corpus interchange format for LLM pipelines.

Curated text corpora move between tools as sharded JSON-Lines files
(one JSON object per line — the Dolma / RedPajama / HuggingFace
``load_dataset("json", ...)`` convention), the way multimodal corpora
move as WebDataset tars. This module is the text sibling of
``sources/webdataset.py``, with the same layout discipline:

- ``write_jsonl_shards``: DataFrame → ``shard-{k:06d}.jsonl`` files
  plus ``_manifest.json``. Shard assignment is DETERMINISTIC
  (``key div samples_per_shard`` — append-stable, the
  train_val_test_split membership discipline), serialization is
  CANONICAL (sorted keys, compact separators, ``ensure_ascii``), and
  lines within a shard are key-ordered — so re-exports of unchanged
  data are byte-identical. One hash repartition on shard id, then
  every shard streams from exactly one task; staging is
  attempt-unique and ``os.replace`` is the single publish point
  (readers never see partial shards).
- ``read_jsonl_shards``: shard files → typed rows through Spark's
  built-in line-oriented JSON source with an EXPLICIT schema (no
  inference scan). Shard files are the unit of parallelism and of
  listing-time pruning: a consumer resuming at shard k (or slicing a
  key range) lists only those files.

The registered ``jsonl_export_audit`` key closes the loop from the
actual bytes: export → re-read through the real JSON parse path →
per-shard integer aggregates (counts, key range, char sums, an
md5-slice32 content checksum over every field) hash-compared against
a DuckDB first-principles rebuild from the parquet — any loss or
corruption in serialize→frame→parse breaks the hash, including
escaping bugs (newlines/quotes in ``text`` must round-trip).

Reference parity: the reference ships file/stream transports for
JSON-encoded messages (its Kafka topics carry JSON); this is the
batch-corpus analog of that wire format, plus the export/audit
surface a training pipeline needs. Beyond-reference (brief § "export").
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..session import write_json_atomic

SAMPLES_PER_SHARD = 256

_MANIFEST_SCHEMA = StructType(
    [
        StructField("shard_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("n_bytes", LongType()),
        StructField("key_min", LongType()),
        StructField("key_max", LongType()),
    ]
)


def _shard_expr(key_col: str, per: int) -> F.Column:
    """Exact integer shard id (BIGINT ``div`` — the webdataset.py
    r07-advisor discipline: no double division, no trunc-vs-floor
    mismatch; keys are validated ≥ 0 executor-side)."""
    return F.expr(f"CAST(`{key_col}` AS BIGINT) div {int(per)}")


def write_jsonl_shards(
    df: DataFrame,
    path: str,
    key_col: str = "doc_id",
    samples_per_shard: int = SAMPLES_PER_SHARD,
) -> dict:
    """Export ``df`` as key-ordered canonical-JSONL shards under ``path``.

    Every column of ``df`` lands in the JSON object; ``key_col`` must
    be a non-negative integer column (validated executor-side). Rows
    are serialized with ``json.dumps(..., sort_keys=True,
    separators=(",", ":"), ensure_ascii=True)`` — one canonical byte
    encoding per row, so shard bytes are a pure function of content.
    Returns the manifest dict (also written as ``_manifest.json``).
    """
    os.makedirs(path, exist_ok=True)
    cols = df.columns
    rows = df.withColumn("_shard", _shard_expr(key_col, samples_per_shard))

    def _write_partition(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        by_shard: dict[int, list[tuple[int, bytes]]] = {}
        for pdf in batches:
            recs = pdf[cols].to_dict("records")
            for rec, s in zip(recs, pdf["_shard"]):
                k = int(rec[key_col])
                if k < 0:
                    raise ValueError(f"jsonl keys must be >= 0, got {k}")
                line = (
                    json.dumps(
                        {
                            # numpy scalars → native python (json can't
                            # serialize np.int64); None stays None
                            c: (v.item() if hasattr(v, "item") else v)
                            for c, v in rec.items()
                        },
                        sort_keys=True,
                        separators=(",", ":"),
                        ensure_ascii=True,
                    )
                    + "\n"
                ).encode("utf-8")
                by_shard.setdefault(int(s), []).append((k, line))
        out = []
        for shard_id, lines in by_shard.items():
            lines.sort()  # key order inside the shard
            fname = os.path.join(path, f"shard-{shard_id:06d}.jsonl")
            tmp = f"{fname}.tmp-{uuid.uuid4().hex[:12]}"
            with open(tmp, "wb") as f:
                for _, line in lines:
                    f.write(line)
            os.replace(tmp, fname)  # readers never see partial shards
            out.append(
                (
                    shard_id,
                    len(lines),
                    os.path.getsize(fname),
                    lines[0][0],
                    lines[-1][0],
                )
            )
        yield pd.DataFrame(
            out,
            columns=["shard_id", "n_samples", "n_bytes", "key_min", "key_max"],
        )

    stats = (
        rows.repartition("_shard")
        .mapInPandas(_write_partition, _MANIFEST_SCHEMA)
        .collect()  # bounded: one row PER SHARD, not per sample
    )
    manifest = {
        "samples_per_shard": samples_per_shard,
        "key_col": key_col,
        "columns": sorted(cols),
        "shards": {
            str(r.shard_id): {
                "file": f"shard-{r.shard_id:06d}.jsonl",
                "n_samples": int(r.n_samples),
                "n_bytes": int(r.n_bytes),
                "key_min": int(r.key_min),
                "key_max": int(r.key_max),
            }
            for r in sorted(stats, key=lambda r: r.shard_id)
        },
    }
    write_json_atomic(os.path.join(path, "_manifest.json"), manifest, indent=1)
    return manifest


def read_jsonl_shards(
    spark: SparkSession,
    path: str,
    schema: str | StructType,
    shard_ids: list[int] | None = None,
    key_range: tuple[int, int] | None = None,
) -> DataFrame:
    """JSONL shards → typed rows, pruned at file listing.

    ``schema`` is required (explicit contract, no inference scan —
    an inference pass over 100 TB of JSONL is a full extra read).
    ``shard_ids`` selects shards directly; ``key_range=(lo, hi)``
    is HALF-OPEN ON KEYS: the manifest's ``samples_per_shard`` prunes
    to the covering shard interval at file listing, then an exact
    ``key >= lo AND key < hi`` filter on the manifest's key column
    trims the covering shards' out-of-range rows (the filter costs
    nothing extra — those files are being parsed anyway). An empty
    range (``hi <= lo``) selects no shards and returns no rows.
    Either way only the selected files are ever listed or opened.
    """
    with open(os.path.join(path, "_manifest.json")) as f:
        man = json.load(f)
    if key_range is not None:
        lo, hi = key_range
        if hi <= lo:
            shard_ids = []
        else:
            per = man["samples_per_shard"]
            wanted = range(max(lo, 0) // per, (hi - 1) // per + 1)
            shard_ids = [s for s in wanted if str(s) in man["shards"]]
    if shard_ids is None:
        files = [
            os.path.join(path, info["file"])
            for _, info in sorted(man["shards"].items(), key=lambda kv: int(kv[0]))
        ]
    else:
        files = [
            os.path.join(path, man["shards"][str(s)]["file"])
            for s in shard_ids
            if str(s) in man["shards"]
        ]
    if not files:
        return spark.createDataFrame([], schema)
    out = spark.read.schema(schema).json(files)
    if key_range is not None:
        kc = F.col(man["key_col"])
        out = out.filter((kc >= F.lit(lo)) & (kc < F.lit(hi)))
    return out


# ---------------------------------------------------------------------------
# registered audit key
# ---------------------------------------------------------------------------

AUDIT_PER_SHARD = 256

#: checksum null sentinel (ASCII unit separator — never appears in
#: sane text, and a real occurrence only weakens THIS audit's null
#: discrimination, never its corruption detection).
_NULL_SENTINEL = "\x1f"

_DOCS_SCHEMA = (
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
)


def _md5_slice32(col: F.Column) -> F.Column:
    # the repo's cross-engine 32-bit hash (operators/dedup.py family)
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _audit_content() -> F.Column:
    """The checksum pre-image: every audited field NULL-DISTINCTLY —
    coalesce to the unit-separator sentinel (chr(31), matched in the
    oracle) so a null field, an empty string, and a differently-null
    row all hash apart. ``concat_ws`` alone silently DROPS nulls,
    letting two rows that differ only in WHICH field is null collide
    (and diverge from the oracle's ``||``, which nulls the whole
    concat)."""
    return F.concat_ws(
        "|",
        *[
            F.coalesce(F.col(c).cast("string"), F.lit(_NULL_SENTINEL))
            for c in ("doc_id", "lang", "source", "n_chars", "text")
        ],
    )


def jsonl_export_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export the documents table as JSONL shards, then audit the
    corpus FROM THE SHARD BYTES — the end-to-end integrity check a
    data release runs before publishing.

    The export is built once per corpus (first-writer-wins ``_DONE``
    marker; shard bytes are deterministic, so any winner writes the
    same bytes). The audit re-reads the actual files through Spark's
    line-oriented JSON source with the explicit schema, recomputes
    each row's shard from its parsed key, and aggregates per shard:
    doc count, key range, the char sum of the PARSED text (proving
    text round-trips through JSON escaping — newlines and quotes
    included), the stored ``n_chars`` sum, and an md5-slice32
    checksum over every field. The DuckDB oracle rebuilds the same
    numbers from the parquet directly, so one flipped byte anywhere
    in serialize → frame → parse breaks the hash.

    Scale: the export is one repartition + parallel sequential
    writes; the audit is one parallel scan of the shard files + one
    shard-keyed aggregate. Nothing driver-side but the manifest.
    """
    from ..operators.ann_index import _index_root, _tag
    from ..session import load_table

    root = os.path.join(_index_root(), _tag(sf_dir), "jsonl_export")
    data = os.path.join(root, "data")
    done = os.path.join(root, "_DONE")
    if not os.path.exists(done):
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "text", "lang", "source", "n_chars"
        )
        write_jsonl_shards(docs, data, key_col="doc_id", samples_per_shard=AUDIT_PER_SHARD)
        open(done, "w").close()
    back = read_jsonl_shards(spark, data, _DOCS_SCHEMA)
    content = _audit_content()
    return (
        back.withColumn("shard_id", _shard_expr("doc_id", AUDIT_PER_SHARD))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("key_min"),
            F.max("doc_id").alias("key_max"),
            F.sum(F.length("text")).cast("long").alias("sum_text_chars"),
            F.sum("n_chars").cast("long").alias("sum_n_chars"),
            F.sum(_md5_slice32(content)).cast("long").alias("content_checksum"),
        )
    )


ORACLES: dict[str, str] = {
    "jsonl_export_audit": f"""
        SELECT doc_id // {AUDIT_PER_SHARD} AS shard_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               min(doc_id) AS key_min,
               max(doc_id) AS key_max,
               CAST(sum(length(text)) AS BIGINT) AS sum_text_chars,
               CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
               CAST(sum(CAST(concat('0x', substr(md5(
                   coalesce(CAST(doc_id AS VARCHAR), chr(31)) || '|'
                   || coalesce(lang, chr(31)) || '|'
                   || coalesce(source, chr(31)) || '|'
                   || coalesce(CAST(n_chars AS VARCHAR), chr(31)) || '|'
                   || coalesce(text, chr(31))
               ), 1, 8)) AS BIGINT)) AS BIGINT) AS content_checksum
        FROM documents
        GROUP BY 1
    """,
}

QUERIES = {
    "jsonl_export_audit": jsonl_export_audit,
}
