"""Materialized sequence packing: assignment → training-ready shards.

``text_filters.sequence_packing`` decides WHERE every document's
tokens land (seq_id + offset via a distributed prefix sum); this
module executes that plan — the §7.15 "packing output writer": it
produces the actual fixed-budget token sequences a trainer consumes
(``input_ids`` plus per-document boundary metadata) and writes them
as contiguous parquet shards.

Reference analog: the reference's pipelines stop at per-record
transforms (hello-samza's stream tasks emit one output per input,
e.g. samza-hello-samza wikipedia-parser/stats); sequence assembly is
the training-data extension SURVEY §2 adds on top — there is no
reference file to cite because the capability is additive.

Scale shape (the part that must survive 100 TB):
- A document whose token range crosses a sequence boundary is SPLIT,
  not shuffled whole-and-re-sliced: each (doc, seq) SPAN becomes one
  row carrying only the ``slice()`` of the token array that lands in
  that sequence. Most docs span 1-2 sequences, so the shuffle moves
  O(docs + boundary crossings) rows whose payload totals exactly the
  corpus token count — never token-per-row (200× more rows), never a
  doc's full array duplicated per sequence it touches.
- Assembly is one groupBy(seq_id): slices arrive pre-cut, so the
  reduce side only sorts a handful of structs per sequence and
  flattens — no window, nothing funnels through one partition.
- Every expensive expression (the regex token list, the id transform)
  is materialized as its own projection column before any lambda
  touches it (the InferFiltersFromGenerate / per-element-inlining
  traps documented in SURVEY §4).
- Token ids are md5-slice32 of the token text — the repo's portable
  hash family, which is what makes the materialization DuckDB-
  oracle-checkable end-to-end (``sequence_packing_materialize``).
- Shards are CONTIGUOUS ranges of seq_id (``floor(seq_id / per)``),
  so a trainer reading shard k streams sequences in order — one
  shuffle keyed by shard, file count = total_tokens / (budget · per).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import index_base_dir, load_table, read_parquet
from .text_analysis import BPE_TOKEN_REGEX
from .text_filters import SEQ_BUDGET, sequence_packing

#: sequences per output shard file (tune with budget · row size so a
#: shard lands near the 128-512 MB sweet spot at production scale).
SEQS_PER_SHARD = 1024


def _md5_slice32(col: F.Column) -> F.Column:
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assemble every training sequence's token ids from the packing
    assignment. One row per sequence:

    ``seq_id, doc_ids, doc_offsets, input_ids`` — ``input_ids`` is
    exactly ``SEQ_BUDGET`` long for every sequence but the last, and
    ``doc_offsets[i]`` is where ``doc_ids[i]``'s tokens start within
    the sequence (the trainer's attention-mask boundaries).
    """
    budget = F.lit(SEQ_BUDGET)
    asg = sequence_packing(spark, sf_dir)  # doc_id, n_tokens, seq_id, offset_in_seq
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_extract_all(
            F.col("text"), F.lit(f"({BPE_TOKEN_REGEX})"), 1
        ).alias("_toks"),
    )
    tids = docs.select(
        "doc_id",
        F.transform(F.col("_toks"), _md5_slice32).alias("_tids"),
    )
    # one (doc, seq) row per sequence the doc's token range touches;
    # the exploded array is a tiny int sequence (1-2 elements for
    # almost every doc), so re-evaluating it under the inferred
    # size()>0 guard is free — unlike the token arrays, which stay
    # behind plain column refs throughout.
    spans = (
        asg.filter(F.col("n_tokens") > 0)
        .join(tids, "doc_id")  # both corpus-sized → sort-merge on doc_id
        .withColumn("_start", F.col("seq_id") * budget + F.col("offset_in_seq"))
        .withColumn(
            "_seq",
            F.explode(
                F.sequence(
                    F.col("seq_id"),
                    F.floor((F.col("_start") + F.col("n_tokens") - 1) / budget),
                )
            ),
        )
    )
    in_seq_start = F.greatest(F.lit(0), F.col("_seq") * budget - F.col("_start"))
    in_seq_stop = F.least(
        F.col("n_tokens"), (F.col("_seq") + 1) * budget - F.col("_start")
    )
    slices = spans.select(
        F.col("_seq").alias("seq_id"),
        "doc_id",
        F.greatest(F.lit(0), F.col("_start") - F.col("_seq") * budget)
        .cast("long")
        .alias("_seq_off"),
        F.slice(
            F.col("_tids"),
            (in_seq_start + 1).cast("int"),
            (in_seq_stop - in_seq_start).cast("int"),
        ).alias("_tok_slice"),
    )
    parts = F.sort_array(F.collect_list(F.struct("_seq_off", "doc_id", "_tok_slice")))
    return (
        slices.groupBy("seq_id")
        .agg(parts.alias("_parts"))
        .select(
            F.col("seq_id").cast("long").alias("seq_id"),
            F.col("_parts.doc_id").alias("doc_ids"),
            F.col("_parts._seq_off").alias("doc_offsets"),
            F.flatten(F.col("_parts._tok_slice")).alias("input_ids"),
        )
    )


def write_packed_shards(
    packed: DataFrame, path: str, seqs_per_shard: int = SEQS_PER_SHARD
) -> None:
    """Write assembled sequences as contiguous parquet shards:
    ``_shard=k/`` holds seq_ids [k·per, (k+1)·per) in order."""
    (
        packed.withColumn(
            "_shard", F.floor(F.col("seq_id") / seqs_per_shard).cast("long")
        )
        .repartition("_shard")
        .sortWithinPartitions("seq_id")
        .write.mode("overwrite")
        .partitionBy("_shard")
        .parquet(path)
    )


def read_packed_range(
    spark: SparkSession,
    path: str,
    seq_lo: int,
    seq_hi: int,
    seqs_per_shard: int = SEQS_PER_SHARD,
) -> DataFrame:
    """Training-loader seam: the sequences with seq_id in [lo, hi).

    Because shards are contiguous seq ranges, the range maps to a
    ``_shard`` interval — a PARTITION filter, so only the overlapping
    shard directories are listed/opened (plan-asserted in tests), then
    the exact seq_id bounds trim the edge shards via row-group stats
    (shards are written sorted by seq_id). A dataloader rank resuming
    at step k reads O(its range), independent of corpus size.
    """
    lo_shard = seq_lo // seqs_per_shard
    hi_shard = (seq_hi - 1) // seqs_per_shard
    return (
        read_parquet(spark, path)
        .filter(F.col("_shard").between(lo_shard, hi_shard))
        .filter(F.col("seq_id").between(seq_lo, seq_hi - 1))
        .drop("_shard")
    )


def packed_sequences_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assemble the CURRICULUM packing (§7.19: packing_io ×
    curriculum_assign): one row per (lang, stage, seq_id) with the
    sequence's ``input_ids`` and per-document boundaries — the
    training-mixture shape where each (language, quality-stage) cell
    packs its own fixed-budget sequences and a trainer consumes stages
    in order.

    Identical slice-based span assembly as ``packed_sequences`` (a
    boundary-crossing doc ships only the token slice each sequence
    needs; shuffle rows = O(docs + crossings)), keyed one level wider:
    the explode, the slicing arithmetic, and the assembly groupBy all
    carry (lang, stage), so cells assemble independently and in
    parallel — no cell funnels anywhere.
    """
    from .text_filters import sequence_packing_curriculum

    budget = F.lit(SEQ_BUDGET)
    asg = sequence_packing_curriculum(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_extract_all(
            F.col("text"), F.lit(f"({BPE_TOKEN_REGEX})"), 1
        ).alias("_toks"),
    )
    tids = docs.select(
        "doc_id",
        F.transform(F.col("_toks"), _md5_slice32).alias("_tids"),
    )
    spans = (
        asg.filter(F.col("n_tokens") > 0)
        .join(tids, "doc_id")
        .withColumn("_start", F.col("seq_id") * budget + F.col("offset_in_seq"))
        .withColumn(
            "_seq",
            F.explode(
                F.sequence(
                    F.col("seq_id"),
                    F.floor((F.col("_start") + F.col("n_tokens") - 1) / budget),
                )
            ),
        )
    )
    in_seq_start = F.greatest(F.lit(0), F.col("_seq") * budget - F.col("_start"))
    in_seq_stop = F.least(
        F.col("n_tokens"), (F.col("_seq") + 1) * budget - F.col("_start")
    )
    slices = spans.select(
        "lang",
        "stage",
        F.col("_seq").alias("seq_id"),
        "doc_id",
        F.greatest(F.lit(0), F.col("_start") - F.col("_seq") * budget)
        .cast("long")
        .alias("_seq_off"),
        F.slice(
            F.col("_tids"),
            (in_seq_start + 1).cast("int"),
            (in_seq_stop - in_seq_start).cast("int"),
        ).alias("_tok_slice"),
    )
    parts = F.sort_array(F.collect_list(F.struct("_seq_off", "doc_id", "_tok_slice")))
    return (
        slices.groupBy("lang", "stage", "seq_id")
        .agg(parts.alias("_parts"))
        .select(
            "lang",
            F.col("stage").cast("int").alias("stage"),
            F.col("seq_id").cast("long").alias("seq_id"),
            F.col("_parts.doc_id").alias("doc_ids"),
            F.col("_parts._seq_off").alias("doc_offsets"),
            F.flatten(F.col("_parts._tok_slice")).alias("input_ids"),
        )
    )


def write_packed_shards_curriculum(
    packed: DataFrame, path: str, seqs_per_shard: int = SEQS_PER_SHARD
) -> None:
    """Curriculum shards: ``lang=?/stage=?/_shard=k/`` holds that
    cell's seq_ids [k·per, (k+1)·per) in order — a trainer walking
    stage s of language l reads ONE partition subtree sequentially,
    and stage boundaries are directory boundaries (no scan ever mixes
    stages)."""
    (
        packed.withColumn(
            "_shard", F.floor(F.col("seq_id") / seqs_per_shard).cast("long")
        )
        .repartition("lang", "stage", "_shard")
        .sortWithinPartitions("seq_id")
        .write.mode("overwrite")
        .partitionBy("lang", "stage", "_shard")
        .parquet(path)
    )


def read_packed_stage(
    spark: SparkSession,
    path: str,
    lang: str,
    stage: int,
    seq_lo: int,
    seq_hi: int,
    seqs_per_shard: int = SEQS_PER_SHARD,
) -> DataFrame:
    """Curriculum-loader seam: one (lang, stage) cell's sequences with
    seq_id in [lo, hi) — all three predicates are PARTITION filters
    (plan-asserted), so only that cell's overlapping shard dirs are
    listed, independent of corpus size."""
    lo_shard = seq_lo // seqs_per_shard
    hi_shard = (seq_hi - 1) // seqs_per_shard
    return (
        read_parquet(spark, path)
        .filter((F.col("lang") == lang) & (F.col("stage") == stage))
        .filter(F.col("_shard").between(lo_shard, hi_shard))
        .filter(F.col("seq_id").between(seq_lo, seq_hi - 1))
        .drop("_shard")
    )


def sequence_packing_curriculum_materialize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-(lang, stage, sequence) audit of the materialized curriculum
    packing — same position-weighted checksum discipline as
    ``sequence_packing_materialize``, so any mis-ordered slice, wrong
    split point, or cross-cell leak changes the hash. The DuckDB
    oracle rebuilds the numbers from first principles (curriculum
    stage CTEs + per-cell prefix sum + token explode)."""
    ps = packed_sequences_curriculum(spark, sf_dir)
    n = F.size("input_ids")
    weighted = F.zip_with(
        F.col("input_ids"),
        F.sequence(F.lit(1), n),
        lambda t, i: t * i.cast("long"),
    )
    return ps.select(
        "lang",
        "stage",
        "seq_id",
        F.size("doc_ids").cast("long").alias("n_docs"),
        n.cast("long").alias("n_tokens"),
        F.aggregate(
            weighted, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("token_checksum"),
    )


def sequence_packing_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sequence audit of the MATERIALIZED packing — doc count,
    token count, and a position-weighted checksum computed FROM the
    assembled ``input_ids`` array, so any mis-ordered slice, wrong
    split point, or dropped token changes the hash. The DuckDB oracle
    rebuilds the same numbers from first principles (token explode +
    prefix sum), making the whole assembly path hash-checked.
    """
    ps = packed_sequences(spark, sf_dir)
    n = F.size("input_ids")
    weighted = F.zip_with(
        F.col("input_ids"),
        F.sequence(F.lit(1), n),
        lambda t, i: t * i.cast("long"),
    )
    return ps.select(
        "seq_id",
        F.size("doc_ids").cast("long").alias("n_docs"),
        n.cast("long").alias("n_tokens"),
        F.aggregate(
            weighted, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("token_checksum"),
    )


#: sequences per tar in the audited WebDataset export (small enough
#: that the sf0.001 corpus still spans several tar shards).
WDS_SEQS_PER_SHARD = 64


def _packed_wds_dir(sf_dir: str) -> str:
    """Content-addressed tar-export cache, one per (layout, sf) —
    the ``ann_index._index_root`` discipline for the loader tars."""
    import os

    from .ann_index import _tag

    return os.path.join(index_base_dir(), "spark_graft_packed_wds_v1", _tag(sf_dir))


def packed_webdataset_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-TAR-shard audit of the packed-sequence WebDataset export —
    the packing_io × webdataset composition check, computed FROM THE
    TAR BYTES: sequences are exported as tar members
    (``export_packed_webdataset``: int64-LE ``.ids`` payload + JSON
    boundary metadata, shard = seq_id // 64), read back through the
    loader path (untar → numpy decode → metadata rejoin), and
    aggregated per shard. The DuckDB oracle rebuilds the same numbers
    from FIRST PRINCIPLES (token explode + prefix sum over the raw
    documents), so any loss anywhere in encode → tar → untar → decode
    — a flipped byte, a truncated member, a mis-sharded sequence —
    breaks the position-weighted checksum. All columns integer-exact.
    """
    import os

    from ..sources import webdataset as wds

    path = _packed_wds_dir(sf_dir)
    if not os.path.exists(os.path.join(path, "_manifest.json")):
        wds.export_packed_webdataset(
            packed_sequences(spark, sf_dir), path, WDS_SEQS_PER_SHARD
        )
    rows = wds.read_packed_webdataset(
        spark, path, seqs_per_shard=WDS_SEQS_PER_SHARD
    )
    n = F.size("input_ids")
    weighted = F.zip_with(
        F.col("input_ids"),
        F.sequence(F.lit(1), n),
        lambda t, i: t * i.cast("long"),
    )
    per_seq = rows.select(
        F.expr(f"seq_id div {WDS_SEQS_PER_SHARD}").alias("shard_id"),
        "doc_ids",
        n.cast("long").alias("_nt"),
        F.aggregate(weighted, F.lit(0).cast("long"), lambda acc, x: acc + x).alias(
            "_ck"
        ),
    )
    seq_agg = per_seq.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_seqs"),
        F.sum("_nt").cast("long").alias("n_tokens"),
        F.sum("_ck").cast("long").alias("token_checksum"),
    )
    doc_agg = (
        per_seq.select("shard_id", F.explode("doc_ids").alias("doc_id"))
        .groupBy("shard_id")
        .agg(F.countDistinct("doc_id").cast("long").alias("n_docs"))
    )
    return seq_agg.join(doc_agg, "shard_id").select(
        "shard_id", "n_seqs", "n_docs", "n_tokens", "token_checksum"
    )


ORACLES: dict[str, str] = {
    # first-principles rebuild of the TAR-derived audit: token explode
    # + global prefix sum → seq/shard assignment → the same integer
    # aggregates the Spark side computes from decoded tar bytes
    "packed_webdataset_audit": f"""
        WITH toks AS MATERIALIZED (
            SELECT doc_id,
                   regexp_extract_all(text, '({BPE_TOKEN_REGEX})', 1) AS tl
            FROM documents
        ),
        c AS (
            SELECT doc_id, tl,
                   coalesce(sum(len(tl)) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS cum_before
            FROM toks
        ),
        tok AS (
            SELECT doc_id,
                   cum_before + unnest(range(0, len(tl))) AS gpos,
                   unnest(tl) AS w
            FROM c
            WHERE len(tl) > 0
        )
        SELECT CAST((gpos // {SEQ_BUDGET}) // {WDS_SEQS_PER_SHARD} AS BIGINT)
                   AS shard_id,
               CAST(count(DISTINCT gpos // {SEQ_BUDGET}) AS BIGINT) AS n_seqs,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum((gpos % {SEQ_BUDGET} + 1)
                        * CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT))
                    AS BIGINT) AS token_checksum
        FROM tok
        GROUP BY 1
    """,
    "sequence_packing_materialize": f"""
        WITH toks AS MATERIALIZED (
            SELECT doc_id,
                   regexp_extract_all(text, '({BPE_TOKEN_REGEX})', 1) AS tl
            FROM documents
        ),
        c AS (
            SELECT doc_id, tl,
                   coalesce(sum(len(tl)) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS cum_before
            FROM toks
        ),
        tok AS (
            SELECT doc_id,
                   cum_before + unnest(range(0, len(tl))) AS gpos,
                   unnest(tl) AS w
            FROM c
            WHERE len(tl) > 0
        )
        SELECT CAST(gpos // {SEQ_BUDGET} AS BIGINT) AS seq_id,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum((gpos % {SEQ_BUDGET} + 1)
                        * CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT))
                    AS BIGINT) AS token_checksum
        FROM tok
        GROUP BY 1
    """,
}

def _curriculum_materialize_oracle() -> str:
    from .sampling import CURRICULUM_STAGE_CASE, CURRICULUM_STAGE_CTES

    return f"""
        WITH {CURRICULUM_STAGE_CTES},
        st AS MATERIALIZED (
            SELECT doc_id, {CURRICULUM_STAGE_CASE} AS stage
            FROM scored CROSS JOIN cuts
        ),
        toks AS MATERIALIZED (
            SELECT d.doc_id AS doc_id, lang, stage,
                   regexp_extract_all(text, '({BPE_TOKEN_REGEX})', 1) AS tl
            FROM documents d JOIN st ON d.doc_id = st.doc_id
        ),
        c AS (
            SELECT doc_id, lang, stage, tl,
                   coalesce(sum(len(tl)) OVER (PARTITION BY lang, stage
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS cum_before
            FROM toks
        ),
        tok AS (
            SELECT doc_id, lang, stage,
                   cum_before + unnest(range(0, len(tl))) AS gpos,
                   unnest(tl) AS w
            FROM c
            WHERE len(tl) > 0
        )
        SELECT lang, stage,
               CAST(gpos // {SEQ_BUDGET} AS BIGINT) AS seq_id,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum((gpos % {SEQ_BUDGET} + 1)
                        * CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT))
                    AS BIGINT) AS token_checksum
        FROM tok
        GROUP BY 1, 2, 3
    """


ORACLES["sequence_packing_curriculum_materialize"] = _curriculum_materialize_oracle()

QUERIES = {
    "sequence_packing_materialize": sequence_packing_materialize,
    "sequence_packing_curriculum_materialize": sequence_packing_curriculum_materialize,
    "packed_webdataset_audit": packed_webdataset_audit,
}
