"""Inverted-index posting lists as a partitioned parquet layout.

``text_analysis.term_search`` computes a conjunctive term query with
the right AGGREGATION shape (union postings, intersect by counting —
never |terms| self-joins) but still tokenizes the WHOLE corpus per
query. This module materializes the postings once — the search-index
build every retrieval stack performs — so a query touches only the
partitions that can hold its terms:

- Build: one tokenize pass, ``(word, doc_id)`` made distinct (postings
  are sets), then hash-partitioned by ``tbucket = pmod(xxhash64(word),
  N_TBUCKETS)`` and written ``partitionBy(tbucket)``. The build cost
  is the corpus scan every index build pays; it amortizes over every
  subsequent query.
- Probe: the query terms' buckets come from one 3-row Spark job (the
  same xxhash64 the layout used — the bucket function must be the
  engine's own), then the scan lists ONLY those bucket directories
  (partition pruning at file listing, ≤ |terms| of N_TBUCKETS
  directories), filters ``word ∈ terms`` inside them (pushed to
  parquet), and intersects by counting distinct matched terms per
  doc — identical output to the full-scan plan, hash-checked against
  the same DuckDB oracle.

Scale shape (100 TB): a query reads |terms|/N_TBUCKETS of the index
regardless of corpus size, and the index is smaller than the corpus
(distinct word-doc pairs, two narrow columns). Postings for a new
document batch append into the same bucket scheme (hash partitioning
is stable), so the layout is ingest-friendly; hot buckets hold many
terms but the per-term postings inside them are still filtered by the
parquet word predicate. The degenerate-term risk (a stopword's
postings ≈ corpus size) is the caller's to filter — same contract as
every search engine's stopword list.

Reference parity: hello-samza's wikipedia-stats job maintains
per-window token statistics in a store keyed by word
(src/main/java/samza/examples/wikipedia/task/WikipediaStatsStreamTask
.java); the at-rest analog of "give me the docs for these words" is a
posting-list layout, not a corpus scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import _words, explode_nonempty
from ..session import load_table, materialize, read_parquet, released, write_json_atomic
from ..streaming.sinks import applied_once, fold_stream

N_TBUCKETS = 64


def build_inverted_index(
    spark: SparkSession, docs: DataFrame, out_dir: str
) -> str:
    """Materialize distinct (word, doc_id) postings partitioned by
    term bucket. ``docs`` must carry (doc_id, text)."""
    words = explode_nonempty(docs, ["doc_id"], _words(F.col("text")), "word")
    postings = (
        words.select("word", "doc_id")
        .distinct()
        .withColumn(
            "tbucket", F.pmod(F.xxhash64("word"), F.lit(N_TBUCKETS)).cast("int")
        )
    )
    (
        postings.repartition("tbucket")
        .write.mode("overwrite")
        .partitionBy("tbucket")
        .parquet(out_dir)
    )
    return out_dir


def append_documents(spark: SparkSession, index_dir: str, docs: DataFrame) -> int:
    """Fold a NEW document batch's postings into the layout — the
    ingest path (VERDICT r05 #6). Hash partitioning is stable, so the
    batch's distinct (word, doc_id) rows append into the same bucket
    scheme as the original build: new files land inside existing
    ``tbucket=`` directories, no existing file is rewritten, and a
    bucket-pruned probe picks the new postings up on its next read.
    Cost ∝ batch tokens, never O(index).

    Postings are per-document, so appending disjoint batches commutes
    and a two-batch build equals the full rebuild row-for-row
    (pytest). RE-appending the same document would duplicate its
    posting rows — search results stay correct (the probe intersects
    with ``count_distinct``) but the index grows, so replay protection
    belongs to the caller: ``postings_updater`` makes redelivered
    micro-batches a no-op via applied-batch markers. Returns the
    number of posting rows appended."""
    words = explode_nonempty(docs, ["doc_id"], _words(F.col("text")), "word")
    with released():
        postings = (
            words.select("word", "doc_id")
            .distinct()
            .withColumn(
                "tbucket", F.pmod(F.xxhash64("word"), F.lit(N_TBUCKETS)).cast("int")
            )
            # count + write without re-tokenizing
            .transform(materialize, "corpus")
        )
        n = postings.count()
        if n:
            (
                postings.repartition("tbucket")
                .write.mode("append")
                .partitionBy("tbucket")
                .parquet(index_dir)
            )
    return n


def postings_updater(docs_stream: DataFrame, index_dir: str, checkpoint_dir: str):
    """Keep the posting layout current from a stream of (doc_id, text)
    rows: each micro-batch folds through ``append_documents`` behind
    ``sinks.applied_once``, so a redelivered batch folds nothing
    (replay pytest). A batch refolded in the gate's seam duplicates
    posting rows — harmless to the probe (count_distinct), reclaimed
    by the next full rebuild."""

    def fold(batch: DataFrame, _batch_id: int) -> None:
        append_documents(batch.sparkSession, index_dir, batch)

    return fold_stream(docs_stream, checkpoint_dir, applied_once(checkpoint_dir, fold))


def term_buckets(spark: SparkSession, terms: list[str]) -> list[int]:
    """The layout buckets of the query terms — computed by the engine's
    own xxhash64 on a |terms|-row local relation (no scan; the bucket
    function and the layout's must be the same implementation)."""
    rows = (
        spark.createDataFrame([(t,) for t in terms], "word string")
        .select(F.pmod(F.xxhash64("word"), F.lit(N_TBUCKETS)).cast("int").alias("b"))
        .collect()
    )
    return sorted({r.b for r in rows})


def conjunctive_search(
    spark: SparkSession, index_dir: str, terms: list[str]
) -> DataFrame:
    """Docs containing ALL ``terms``, via the posting-list layout:
    bucket-pruned scan → word filter → intersect-by-counting."""
    buckets = term_buckets(spark, terms)
    postings = read_parquet(spark, index_dir).filter(
        F.col("tbucket").isin(buckets)  # partition filter: lists ≤|terms| dirs
    )
    return (
        postings.filter(F.col("word").isin(*terms))
        .groupBy("doc_id")
        .agg(F.count_distinct("word").alias("n_terms"))
        .filter(F.col("n_terms") == len(terms))
        .select("doc_id")
    )


# -- positional postings: the phrase-query index ---------------------------


def build_positional_index(
    spark: SparkSession, docs: DataFrame, out_dir: str
) -> str:
    """Materialize POSITIONAL postings (word, doc_id, pos) partitioned
    by term bucket — the Lucene-style phrase/proximity index.

    Same bucket scheme as ``build_inverted_index`` (stable xxhash64
    hash partitioning, append-friendly), but positions are the
    payload: rows are NOT de-duplicated (a word occurring five times
    carries five postings), which is exactly the extra weight phrase
    and proximity queries pay for — the set-postings layout stays the
    cheaper answer for pure conjunctive queries.
    """
    tokenized = docs.select("doc_id", _words(F.col("text")).alias("_ws"))
    postings = (
        tokenized.filter(F.size("_ws") > 0)
        .select("doc_id", F.posexplode("_ws").alias("pos", "word"))
        .withColumn(
            "tbucket", F.pmod(F.xxhash64("word"), F.lit(N_TBUCKETS)).cast("int")
        )
    )
    (
        postings.repartition("tbucket")
        .write.mode("overwrite")
        .partitionBy("tbucket")
        .parquet(out_dir)
    )
    return out_dir


def append_documents_positional(
    spark: SparkSession, index_dir: str, docs: DataFrame
) -> int:
    """Fold a NEW document batch's positional postings into the layout
    — the ingest path, mirroring ``append_documents`` (stable bucket
    scheme, new files only, cost ∝ batch tokens). Unlike set postings,
    re-appending the same document DOUBLE-COUNTS its phrase matches
    (positions are a multiset), so replay protection is mandatory —
    run ingest through ``postings_updater``-style applied-batch
    markers. Returns posting rows appended."""
    tokenized = docs.select("doc_id", _words(F.col("text")).alias("_ws"))
    with released():
        postings = (
            tokenized.filter(F.size("_ws") > 0)
            .select("doc_id", F.posexplode("_ws").alias("pos", "word"))
            .withColumn(
                "tbucket", F.pmod(F.xxhash64("word"), F.lit(N_TBUCKETS)).cast("int")
            )
            # count + write without re-tokenizing
            .transform(materialize, "corpus")
        )
        n = postings.count()
        if n:
            (
                postings.repartition("tbucket")
                .write.mode("append")
                .partitionBy("tbucket")
                .parquet(index_dir)
            )
    return n


def phrase_search_positional(
    spark: SparkSession, index_dir: str, phrase: list[str]
) -> DataFrame:
    """Docs matching ``phrase`` (exact adjacency) with match counts,
    from the positional layout — WITHOUT a corpus scan.

    Aligned-anchor counting, one groupBy and zero self-joins however
    long the phrase: a posting (word, doc, pos) contributes one row
    per phrase slot i where ``phrase[i] == word``, anchored at
    ``pos − i``; an anchor holding ALL ``len(phrase)`` distinct slots
    is a phrase occurrence. The scan lists only the phrase terms'
    ≤ |terms| of ``N_TBUCKETS`` bucket directories (partition
    pruning) and pushes the word filter to parquet — a repeated
    phrase query reads postings, never documents.
    """
    buckets = term_buckets(spark, list(set(phrase)))
    postings = read_parquet(spark, index_dir).filter(
        F.col("tbucket").isin(buckets)  # partition filter: lists ≤|terms| dirs
    )
    slots = [(i, w) for i, w in enumerate(phrase)]
    # slot table is phrase-sized: broadcast equi-join attaches every
    # slot index a posting's word fills
    slot_df = spark.createDataFrame(slots, "slot int, word string")
    anchored = (
        postings.filter(F.col("word").isin(*list(set(phrase))))
        .join(F.broadcast(slot_df), "word")
        .select("doc_id", (F.col("pos") - F.col("slot")).alias("anchor"), "slot")
        .filter(F.col("anchor") >= 0)
    )
    return (
        anchored.groupBy("doc_id", "anchor")
        .agg(F.count_distinct("slot").alias("n_slots"))
        .filter(F.col("n_slots") == len(phrase))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )


def proximity_search_positional(
    spark: SparkSession,
    index_dir: str,
    term_a: str,
    term_b: str,
    slop: int,
) -> DataFrame:
    """Docs where ``term_a`` and ``term_b`` co-occur within ``slop``
    words (either order) — the Lucene slop/proximity query, from the
    positional layout without a corpus scan.

    One equi-join on doc_id between the two terms' (bucket-pruned,
    word-pushdown) posting sets with the distance bound as a join-side
    filter; per-doc cost is tf(a)·tf(b) pairs — the standard positional
    intersection, bounded by term frequency, never document length.
    Returns (doc_id, n_pairs, min_dist).
    """
    buckets = term_buckets(spark, list({term_a, term_b}))
    postings = read_parquet(spark, index_dir).filter(
        F.col("tbucket").isin(buckets)
    )
    a = (
        postings.filter(F.col("word") == term_a)
        .select("doc_id", F.col("pos").alias("pa"))
    )
    b = (
        postings.filter(F.col("word") == term_b)
        .select("doc_id", F.col("pos").alias("pb"))
    )
    d = F.abs(F.col("pa") - F.col("pb"))
    return (
        a.join(b, "doc_id")
        .filter(d <= slop)
        .select("doc_id", d.alias("dist"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.min("dist").cast("long").alias("min_dist"),
        )
    )


# -- registered demo query: term_search through the materialized index -----


def _documents_index(spark: SparkSession, sf_dir: str) -> str:
    from ..operators.ann_index import _index_root, _is_built, _tag

    out = os.path.join(_index_root(), _tag(sf_dir), "inverted_documents")
    if not _is_built(out):
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        build_inverted_index(spark, docs, out)
    return out


def term_search_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``term_search``'s conjunctive query answered from the posting
    layout instead of a corpus scan — ≤3 of 64 bucket directories
    listed (pytest-asserted), identical rows (same oracle)."""
    from ..operators.text_analysis import SEARCH_TERMS

    index_dir = _documents_index(spark, sf_dir)
    return conjunctive_search(spark, index_dir, list(SEARCH_TERMS))


def _documents_positional_index(spark: SparkSession, sf_dir: str) -> str:
    from ..operators.ann_index import _index_root, _is_built, _tag

    out = os.path.join(_index_root(), _tag(sf_dir), "positional_documents")
    if not _is_built(out):
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        build_positional_index(spark, docs, out)
    return out


PROX_SLOP = 3


def proximity_search_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slop-3 proximity query for the demo phrase's two terms over the
    positional layout — the third member of the indexed-retrieval
    triad (term / phrase / proximity): docs where 'table' and 'scan'
    sit within 3 words in either order, with the co-occurrence count
    and closest distance. Bucket-pruned like the phrase probe; the
    oracle recomputes positions from raw documents first-principles.
    """
    from ..operators.sampling import PHRASE

    index_dir = _documents_positional_index(spark, sf_dir)
    return proximity_search_positional(
        spark, index_dir, PHRASE[0], PHRASE[1], PROX_SLOP
    )


def phrase_search_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``phrase_search``'s exact-adjacency query answered from the
    POSITIONAL posting layout instead of a corpus scan — the standing-
    index shape its docstring defers to for repeated queries: ≤2 of 64
    bucket directories listed (pytest-asserted), aligned-anchor
    counting (one groupBy, zero self-joins), ``lang`` re-attached by a
    matches-sized join back to documents. Same oracle as
    ``phrase_search`` — the layout changes WHERE positions are read
    from, not what the query means."""
    from ..operators.sampling import PHRASE

    index_dir = _documents_positional_index(spark, sf_dir)
    hits = phrase_search_positional(spark, index_dir, list(PHRASE))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return hits.join(docs, "doc_id").select("doc_id", "lang", "n_matches")


# -- BM25-ready postings: the ranked-retrieval serving index ---------------

#: impact tiers per term bucket: postings are physically split by the
#: idf-free BM25 saturation s = tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))
#: so an impact-bound probe (WAND/MaxScore family) can read the
#: high-impact tier first and SKIP lower tiers whose bound cannot
#: reach the running top-k. Thresholds are fixed (no per-term
#: quantile shuffle — a stopword's postings would be one giant window
#: partition at 100 TB); the assignment is PHYSICAL layout only, so
#: the avgdl it uses (build-time / current-sidecar) never affects
#: correctness — per-block bounds are re-derived at query time from
#: the blocks' own (max_tf, min_dl) and the CURRENT corpus stats.
WAND_TIERS = 3
WAND_TIER_HI = 0.60  # s ≥ HI → tier 0
WAND_TIER_MID = 0.45  # s ≥ MID → tier 1, else tier 2
#: MaxScore essential-list rule: a term whose df ≤ this fraction of
#: the corpus is read whole in phase 1 (short list, high idf — the
#: postings that decide the top-k); commoner terms are tier-skipped.
WAND_ESSENTIAL_DF_FRAC = 0.2
#: the ranked contract orders by the 4-dp ROUNDED score (doc_id
#: tiebreak), so exactness must hold under rounding, not just on raw
#: sums: a doc with true score x can displace the true k-th (score
#: θt ≥ θ) in ROUNDED order only if x ≥ θt − 1e-4 (rounding moves
#: each side by ≤ 5e-5 onto the same 1e-4 grid, then the tiebreak
#: decides). Pruning therefore excludes only docs provably below
#: θ − 1e-4: anything excluded rounds STRICTLY below the rounded
#: k-th score. (Found by a real boundary tie at sf0.1 — two docs
#: rounding to the same bm25 with the pruned one winning the
#: doc_id tiebreak in the unpruned plan.)
WAND_ROUND_MARGIN = 1e-4


def _bm25_sat(tf, dl, avgdl: float):
    """The idf-free saturation term of BM25 — column-or-float form
    (monotone ↑ in tf, ↓ in dl, so s(max_tf, min_dl) bounds a block)."""
    from ..operators.retrieval import BM25_B, BM25_K1

    return (tf * (BM25_K1 + 1)) / (
        tf + BM25_K1 * (1 - BM25_B + BM25_B * dl / avgdl)
    )


def _tier_col(avgdl: float) -> F.Column:
    from ..operators.retrieval import BM25_K1

    # thresholds are on s/(k1+1) ∈ (0,1) — the normalized saturation
    s = _bm25_sat(F.col("tf"), F.col("dl"), avgdl) / (BM25_K1 + 1)
    return (
        F.when(s >= WAND_TIER_HI, F.lit(0))
        .when(s >= WAND_TIER_MID, F.lit(1))
        .otherwise(F.lit(2))
        .cast("int")
        .alias("tier")
    )


def _impacts_dir(index_dir: str) -> str:
    # leading underscore: invisible to read_parquet(spark, index_dir)
    return os.path.join(index_dir, "_impacts")


def _write_bm25_impacts(
    postings: DataFrame,
    index_dir: str,
    mode: str,
    attr_cols: tuple[str, ...] = (),
) -> None:
    """Per-(tbucket, word, tier) block bounds — the max-impact sidecar
    the WAND probe prices blocks with: (max_tf, min_dl) bound every
    member's saturation from above; ``n_postings`` rows SUM to the
    term's exact df (postings are one row per (word, doc)), so the
    probe derives idf without reading a single posting block. Appends
    add rows for the batch's blocks and the query-side (max, min, sum)
    aggregate folds them exactly — the same add-only discipline as the
    (n_docs, total_dl) sidecar.

    ``attr_cols`` (r11): attribute-bearing layouts SEGMENT the bounds
    per attr value — (tbucket, word, tier, label) rows. Unfiltered
    pricing re-aggregates across segments (max of maxima / min of
    minima / sum of counts — EXACTLY the unsegmented values), while a
    filtered probe prices from its own segment's rows alone: tight
    slack for the allowed subset, and tiers holding no allowed
    posting are skipped outright. Sidecar size multiplies by the attr
    cardinality — still |vocab|·tiers·|labels| bounded rows."""
    (
        postings.groupBy("tbucket", "word", "tier", *attr_cols)
        .agg(
            F.max("tf").alias("max_tf"),
            F.min("dl").alias("min_dl"),
            F.count(F.lit(1)).alias("n_postings"),
        )
        .repartition("tbucket")
        .write.mode(mode)
        .partitionBy("tbucket")
        .parquet(_impacts_dir(index_dir))
    )


def build_bm25_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    attr_cols: tuple[str, ...] = (),
) -> str:
    """Materialize BM25-scoring postings — (word, doc_id, tf, dl) in
    the same stable ``tbucket`` scheme, impact-tiered inside each
    bucket (``partitionBy(tbucket, tier)`` — see ``WAND_TIERS``) —
    plus two sidecars: ``_bm25_stats.json`` holding the corpus
    constants (N, avgdl) every query needs, and the ``_impacts``
    block-bounds table the WAND probe prices tiers with. ``dl`` is
    denormalized onto each posting so scoring never joins a lengths
    table; ``df`` per term is the row count of the term's own
    postings AND the sum of its ``_impacts.n_postings`` — exact under
    both read paths. One tokenize pass, the build cost every search
    index pays once. Commit order: postings → impacts → stats (the
    built-gate requires the stats sidecar, so a crash between any
    two steps rebuilds instead of serving a partial layout).

    ``attr_cols`` (r11): per-doc metadata columns on ``docs`` (e.g. a
    label) denormalized onto every posting row, exactly like ``dl`` —
    the attribute-bearing layout filtered retrieval serves from (a
    metadata equality then pushes to the posting scan itself, the
    same pre-filter discipline as the attr-bearing IVF layouts). The
    ``_impacts`` bounds stay label-blind: block maxima over ALL docs
    bound any subset's, so the WAND bound remains admissible under
    any attr predicate."""
    import json as _json

    from ..operators.dedup import _words, explode_nonempty

    words = docs.select("doc_id", *attr_cols, _words(F.col("text")).alias("words"))
    lengths = words.select("doc_id", F.size("words").alias("dl"))
    st = lengths.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
    ).first()
    n_docs = int(st.n_docs)
    total_dl = int(st.total_dl or 0)
    avgdl = (total_dl / n_docs) if n_docs else 1.0
    with released():
        postings = (
            explode_nonempty(
                words,
                ["doc_id", F.size("words").alias("dl"), *attr_cols],
                F.col("words"),
                "word",
            )
            .groupBy("word", "doc_id")
            .agg(
                F.count(F.lit(1)).alias("tf"),
                F.max("dl").alias("dl"),
                *[F.max(a).alias(a) for a in attr_cols],
            )
            .withColumn(
                "tbucket", F.pmod(F.xxhash64("word"), F.lit(N_TBUCKETS)).cast("int")
            )
            .withColumn("tier", _tier_col(avgdl or 1.0))
            # postings + impacts from ONE tokenize pass
            .transform(materialize, "corpus")
        )
        (
            postings.repartition("tbucket")
            .sortWithinPartitions("tbucket", "tier", "word", "doc_id")
            .write.mode("overwrite")
            .partitionBy("tbucket", "tier")
            .parquet(out_dir)
        )
        _write_bm25_impacts(postings, out_dir, "overwrite", attr_cols=attr_cols)
        _write_bm25_stats(out_dir, n_docs, total_dl, attr_cols=attr_cols)
    return out_dir


def _write_bm25_stats(
    index_dir: str,
    n_docs: int,
    total_dl: int,
    attr_cols: tuple[str, ...] = (),
) -> None:
    """Publish the stats sidecar atomically. ``n_docs``/``total_dl``
    are EXACT integers, so ``avgdl = total_dl / n_docs`` equals both
    engines' avg-of-integer-dl to the double — and the sidecar folds
    exactly under ingest (counts add; a recomputed average would
    drift with float association order)."""
    import uuid as _uuid

    stats = {
        "n_docs": float(n_docs),
        "avgdl": (total_dl / n_docs) if n_docs else 0.0,
        "total_dl": int(total_dl),
        # layout marker: presence (== WAND_TIERS) says the postings
        # are impact-tiered and the _impacts sidecar exists — the
        # built-gate uses it to rebuild pre-r09 flat layouts.
        "tiers": WAND_TIERS,
        # unique per publish: the pricing cache fingerprints on THIS,
        # not on file (mtime, size) — a rebuild landing in the same
        # coarse-mtime tick with an identically-sized sidecar must
        # still invalidate (stale idf/bounds would be a CORRECTNESS
        # bug for the impact-bound probes, not just a perf one).
        "layout_version": _uuid.uuid4().hex,
        # r11: attr columns denormalized onto postings AND segmenting
        # the _impacts sidecar — the append guard reads this (an
        # attr-less append would write schema-mismatched impacts rows
        # that a later read could silently drop or null out).
        "attr_cols": list(attr_cols),
    }
    write_json_atomic(os.path.join(index_dir, "_bm25_stats.json"), stats)


def append_documents_bm25(
    spark: SparkSession, index_dir: str, docs: DataFrame
) -> int:
    """Fold a NEW document batch into the BM25 layout — the ingest
    path, mirroring ``append_documents_positional`` (stable bucket
    scheme, new files only, cost ∝ batch tokens) PLUS the sidecar
    fold the ranked layout uniquely needs: (n_docs, total_dl) are
    exact integer counters, so the batch's counts ADD and the derived
    ``avgdl`` equals the full-rebuild value bit-for-bit (pytest) —
    every post-append query scores with corpus-true IDF/avgdl, no
    stale-stats window beyond the atomic sidecar replace. Like the
    positional layout, re-appending a batch double-counts (tf rows
    AND stats), so replay protection is mandatory — run ingest
    behind ``postings_updater``-style applied-batch markers. Returns
    posting rows appended."""
    import json as _json

    from ..operators.dedup import _words, explode_nonempty

    with open(os.path.join(index_dir, "_bm25_stats.json")) as fh:
        st = _json.load(fh)
    if st.get("attr_cols"):
        # r11 guard: this append path is attr-less — folding it into
        # an attribute-bearing layout would write posting rows with a
        # NULL label and impacts rows MISSING the segment column
        # (schema drift a later parquet read could silently null or
        # drop), poisoning filtered pricing forever. Rebuild the attr
        # layout instead (its builder joins the attrs at build time).
        raise ValueError(
            f"append_documents_bm25: layout {index_dir} carries attr "
            f"columns {st['attr_cols']} — the attr-less ingest path "
            "cannot fold into a segmented layout; rebuild it via "
            "build_bm25_index(attr_cols=...)"
        )
    words = docs.select("doc_id", _words(F.col("text")).alias("words"))
    lengths = words.select("doc_id", F.size("words").alias("dl"))
    batch = lengths.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_dl")
    ).first()
    with released():
        postings = (
            explode_nonempty(
                words,
                ["doc_id", F.size("words").alias("dl")],
                F.col("words"),
                "word",
            )
            .groupBy("word", "doc_id")
            .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
            .withColumn(
                "tbucket", F.pmod(F.xxhash64("word"), F.lit(N_TBUCKETS)).cast("int")
            )
            # tier by the CURRENT sidecar avgdl — a physical placement
            # choice only (block bounds are re-derived at query time), so
            # batches tiered under different avgdl snapshots stay correct
            .withColumn("tier", _tier_col(st["avgdl"] or 1.0))
            # count + write without re-tokenizing
            .transform(materialize, "corpus")
        )
        n = postings.count()
        if int(batch.n_docs):
            (
                postings.repartition("tbucket")
                .sortWithinPartitions("tbucket", "tier", "word", "doc_id")
                .write.mode("append")
                .partitionBy("tbucket", "tier")
                .parquet(index_dir)
            )
            _write_bm25_impacts(postings, index_dir, "append")
            # pre-r08b sidecars lack total_dl; derive it (exact for
            # integer dl: avgdl was stored as total/n of exact ints)
            old_total = int(st.get("total_dl", round(st["avgdl"] * st["n_docs"])))
            _write_bm25_stats(
                index_dir,
                int(st["n_docs"]) + int(batch.n_docs),
                old_total + int(batch.total_dl or 0),
            )
    return n


def bm25_postings_updater(
    docs_stream: DataFrame, index_dir: str, checkpoint_dir: str
):
    """Keep the BM25 layout current from a stream of (doc_id, text)
    rows: each micro-batch folds through ``append_documents_bm25``
    behind ``sinks.applied_once``. Here the gate is correctness, not
    hygiene: a re-appended batch double-counts tf rows AND the
    sidecar's n_docs/total_dl, which skews every later IDF/avgdl."""

    def fold(batch: DataFrame, _batch_id: int) -> None:
        append_documents_bm25(batch.sparkSession, index_dir, batch)

    return fold_stream(docs_stream, checkpoint_dir, applied_once(checkpoint_dir, fold))


def _term_bucket_map(spark: SparkSession, terms: list[str]) -> dict[str, int]:
    """word → layout bucket, by the engine's own xxhash64 on a
    |terms|-row local relation (``term_buckets``' map-shaped twin)."""
    rows = (
        spark.createDataFrame([(t,) for t in terms], "word string")
        .select(
            "word",
            F.pmod(F.xxhash64("word"), F.lit(N_TBUCKETS)).cast("int").alias("b"),
        )
        .collect()
    )
    return {r.word: r.b for r in rows}


#: block-pricing cache for repeated queries — what a serving tier
#: keeps warm: the (bucket map, sidecar bounds, phase split) of a
#: term set is pure given the layout VERSION, and every mutation of
#: the layout (build overwrite, ingest append, streaming fold) ends
#: by atomically publishing ``_bm25_stats.json`` with a fresh
#: ``layout_version`` uuid — the invalidation fingerprint (file
#: (mtime_ns, size) only as a legacy fallback: coarse-mtime
#: filesystems could alias a same-size rebuild). The cache holds
#: PLAIN DATA ONLY (dicts/paths — never a DataFrame or Column):
#: session-bound probe objects are rebuilt per call, so a cache hit
#: after the building session was stopped (a serving tier's restart
#: path) prices from the cache and still plans against the LIVE
#: session. Bounded FIFO (oldest evicted); telemetry is stored
#: alongside and replayed into each caller's stats dict.
_PRICING_CACHE: dict[tuple, tuple[dict | None, dict]] = {}
_PRICING_CACHE_MAX = 64


def _stats_fingerprint(index_dir: str) -> tuple:
    import json as _json

    path = os.path.join(index_dir, "_bm25_stats.json")
    st = os.stat(path)
    try:
        with open(path) as fh:
            ver = _json.load(fh).get("layout_version")
    except (OSError, ValueError):
        ver = None
    if ver is not None:
        return ("v", ver)
    return (st.st_mtime_ns, st.st_size)  # pre-r10 sidecar fallback


def _wand_pricing(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    avgdl: float,
    n_corpus: float,
    stats: dict,
    attr_eq: tuple[str, object] | None = None,
) -> dict | None:
    key = (index_dir, tuple(terms), _stats_fingerprint(index_dir), attr_eq)
    hit = _PRICING_CACHE.get(key)
    if hit is not None:
        plain, telemetry = hit
        stats.update(telemetry)
        stats["pricing_cached"] = True
        # replayed telemetry must not replay round-trips that did not
        # happen: a cache hit prices with ZERO driver jobs
        stats["n_pricing_round_trips"] = 0
    else:
        telemetry = {}
        plain = _wand_pricing_uncached(
            spark, index_dir, terms, avgdl, n_corpus, telemetry, attr_eq=attr_eq
        )
        # two driver actions priced this layout: the |terms|-row
        # bucket-map job and the bounded sidecar-blocks collect
        stats["n_pricing_round_trips"] = 2
        while len(_PRICING_CACHE) >= _PRICING_CACHE_MAX:
            _PRICING_CACHE.pop(next(iter(_PRICING_CACHE)))
        _PRICING_CACHE[key] = (plain, telemetry)
        stats.update(telemetry)
        stats["pricing_cached"] = False
    if plain is None:
        return None
    return {**plain, **_phase_conds(plain)}


def _phase_conds(plain: dict) -> dict:
    """The phase-1/phase-2 posting filters of a PLAIN pricing dict —
    pure Column construction per call, cached or not, so the cache
    stays restart-safe (never a dead plan)."""
    p1_tiers = plain["p1_tiers"]
    p1_cond = None
    p2_cond = None
    for w in plain["info"]:
        c1 = (F.col("word") == w) & (F.col("tier").isin(sorted(p1_tiers[w])))
        p1_cond = c1 if p1_cond is None else (p1_cond | c1)
        c2 = (F.col("word") == w) & (~F.col("tier").isin(sorted(p1_tiers[w])))
        p2_cond = c2 if p2_cond is None else (p2_cond | c2)
    return {"p1_cond": p1_cond, "p2_cond": p2_cond}


def _maxscore_split(
    info: dict[str, dict[int, tuple]],
    dfreq: dict[str, float],
    n_corpus: float,
    avgdl: float,
) -> tuple[dict, dict, dict, dict]:
    """The MaxScore split of a term set's (word → tier → (max_tf,
    min_dl, ...)) blocks — the one derivation the serving probe and
    the tier sweeps share. Returns (idf, ub, p1_tiers, wslack):

    - idf from the exact df (corpus-wide — the filter contract);
    - ub: the admissible per-block upper bound idf·s(max_tf, min_dl)
      under the CURRENT avgdl;
    - p1_tiers: ESSENTIAL (rare, high-idf) terms' posting lists are
      short — read them whole in phase 1, so every doc carrying a rare
      term is priced exactly where it matters most. Common terms read
      only their best-priced tier; their remaining tiers are the only
      slack left, which is what makes θ beat it on the query class
      impact-ordering exists for (rare+common mixes);
    - wslack: per word, the best bound among its UNREAD tiers — a doc
      missing w in phase 1 holds at most one posting there."""
    import math

    idf = {
        w: math.log((n_corpus - dfreq[w] + 0.5) / (dfreq[w] + 0.5) + 1.0)
        for w in info
    }
    ub = {
        (w, t): idf[w] * _bm25_sat(v[0], v[1], avgdl)
        for w, tiers in info.items()
        for t, v in tiers.items()
    }
    p1_tiers = {
        w: (
            set(tiers)
            if dfreq[w] <= WAND_ESSENTIAL_DF_FRAC * n_corpus
            else {max(tiers, key=lambda t, _w=w: (ub[(_w, t)], -t))}
        )
        for w, tiers in info.items()
    }
    wslack = {
        w: max((ub[(w, t)] for t in tiers if t not in p1_tiers[w]), default=0.0)
        for w, tiers in info.items()
    }
    return idf, ub, p1_tiers, wslack


def _wand_pricing_uncached(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    avgdl: float,
    n_corpus: float,
    stats: dict,
    attr_eq: tuple[str, object] | None = None,
) -> dict | None:
    """Price every (word, tier) block of ``terms`` from the
    ``_impacts`` sidecar alone — zero posting bytes: per-word df
    (summed block n_postings — exact), the MaxScore split of the
    blocks (``_maxscore_split``: idf, bounds, phase-1 tiers, slack)
    and the phase-1/phase-2 paths. Telemetry fields are written into
    ``stats``. Returns None when no query term has any block (nothing
    to price).

    ``attr_eq`` (r11, filtered retrieval over an attr-bearing layout
    with a SEGMENTED sidecar): df/idf stay corpus-wide (summed across
    all segments — the filter contract keeps scores unchanged), but
    the bounds/phase-split/slack price the allowed SEGMENT alone:
    tight θ-competition for the filtered subset, and (word, tier)
    blocks holding no allowed posting drop out of the read set
    entirely (no allowed doc has a posting there — skipping reads
    nothing an allowed doc's score needs)."""
    bmap = _term_bucket_map(spark, terms)
    imp_dir = _impacts_dir(index_dir)
    imp_paths = sorted(
        {
            p
            for b in set(bmap.values())
            if os.path.isdir(p := os.path.join(imp_dir, f"tbucket={b}"))
        }
    )
    if not imp_paths:
        return None
    imp = (
        read_parquet(spark, *imp_paths, basePath=imp_dir)
        .filter(F.col("word").isin(*terms))
    )
    if attr_eq is None:
        agg = imp.groupBy("word", "tier").agg(
            F.max("max_tf").alias("max_tf"),
            F.min("min_dl").alias("min_dl"),
            F.sum("n_postings").alias("n"),
            F.sum("n_postings").alias("n_seg"),
        )
    else:
        seg = F.col(attr_eq[0]) == F.lit(attr_eq[1])
        agg = imp.groupBy("word", "tier").agg(
            F.max(F.when(seg, F.col("max_tf"))).alias("max_tf"),
            F.min(F.when(seg, F.col("min_dl"))).alias("min_dl"),
            F.sum("n_postings").alias("n"),
            F.sum(F.when(seg, F.col("n_postings")).otherwise(F.lit(0))).alias(
                "n_seg"
            ),
        )
    blocks = agg.collect()  # bounded: <= |terms| * WAND_TIERS rows
    info: dict[str, dict[int, tuple]] = {}
    for r in blocks:
        info.setdefault(r.word, {})[r.tier] = (r.max_tf, r.min_dl, r.n, r.n_seg)
    if not info:
        return None
    # corpus-wide df across ALL segments — idf must not drift with the
    # filter (the Lucene filter contract: same scores, smaller universe)
    dfreq = {w: float(sum(t[2] for t in tiers.values())) for w, tiers in info.items()}
    if attr_eq is not None:
        # prune (word, tier) blocks with zero allowed postings: no
        # allowed doc scores there, so the probe never reads them
        info = {
            w: {t: v for t, v in tiers.items() if v[3]}
            for w, tiers in info.items()
        }
        info = {w: tiers for w, tiers in info.items() if tiers}
        if not info:
            return None
    idf, ub, p1_tiers, wslack = _maxscore_split(info, dfreq, n_corpus, avgdl)
    # exact block sizes from the sidecar: the bytes-read claim in
    # numbers — phase 1 scores n_postings_p1 rows; the remaining
    # n_postings_deferred are never read at full width (skipped
    # outright when no candidate needs them, else candidate-pruned).
    # Counts are SEGMENT rows (== all rows when unfiltered): the rows
    # the probe actually scores after any attr predicate.
    n_p1_rows = sum(info[w][t][3] for w, ts in p1_tiers.items() for t in ts)
    n_seg_total = sum(v[3] for tiers in info.values() for v in tiers.values())
    stats.update(
        n_blocks_total=len(ub),
        n_blocks_p1=sum(len(ts) for ts in p1_tiers.values()),
        n_postings_p1=int(n_p1_rows),
        n_postings_deferred=int(n_seg_total - n_p1_rows),
    )
    p1_paths = sorted(
        {
            p
            for w in info
            for t in p1_tiers[w]
            if os.path.isdir(
                p := os.path.join(index_dir, f"tbucket={bmap[w]}", f"tier={t}")
            )
        }
    )
    p2_pairs = {
        (w, t) for w, tiers in info.items() for t in tiers if t not in p1_tiers[w]
    }
    p2_paths = sorted(
        {
            p
            for (w, t) in p2_pairs
            if os.path.isdir(
                p := os.path.join(index_dir, f"tbucket={bmap[w]}", f"tier={t}")
            )
        }
    )
    # plain data only (cache-safe across session restarts): the phase
    # filter Columns are rebuilt per call by _phase_conds.
    return {
        "info": info,
        "idf": idf,
        "p1_tiers": p1_tiers,
        "wslack": wslack,
        "p1_paths": p1_paths,
        "p2_paths": p2_paths,
    }


#: pinned query batch for ranked batch retrieval: five queries over
#: the corpus vocabulary, incl. one carrying the rare term (IDF
#: contrast) and one reusing the single-query SEARCH_TERMS probe.
BM25_BATCH_QUERIES = (
    ("spark", "join", "window"),
    ("hash", "merge", "sort"),
    ("vector", "scan"),
    ("stream", "table", "key"),
    ("dup", "filter"),
)
BM25_BATCH_TOP = 10


def bm25_batch_from_index(
    spark: SparkSession,
    index_dir: str,
    queries: tuple[tuple[str, ...], ...],
    top: int,
    attr_eq: tuple[str, object] | None = None,
) -> DataFrame:
    """Okapi BM25 top-``top`` per query, EXHAUSTIVE, for a batch of
    queries from ONE pruned read — the reference ranking the θ-routed
    ``bm25_batch_wand_topk`` must equal row-for-row, and the lexical
    sibling of ``ann_batch_topk``. A single query is a batch of one,
    ``(tuple(terms),)``; every query is a term SET (a repeated term
    counts once). The layout is probed once for the UNION of all
    query terms (≤|union| of ``N_TBUCKETS`` dirs listed, word filter
    pushed to parquet), a broadcast (query_id, word) relation fans the
    postings out to their queries, and per-query ranking is one window
    over the scored rows: same expressions, same 4-dp round + doc_id
    tiebreak as the scan path. Per-batch cost ∝ the union terms'
    postings — independent of corpus size. At real query volume the
    window's ``query_id`` partitioning is thousands-wide; skew per
    query is bounded by its terms' postings.

    ``attr_eq=(col, value)``: filtered retrieval over an attr-bearing
    layout (``build_bm25_index(attr_cols=...)``) — "top-k among
    allowed docs". The Lucene filter contract: scores are UNCHANGED
    (idf from the corpus-wide df, sidecar N/avgdl); only the ranked
    universe shrinks. A post-filter of an unfiltered top-k would
    under-fill; this ranks the filtered set.
    """
    import json as _json

    from pyspark.sql import Window

    from ..functions.hints import maybe_broadcast
    from ..operators.retrieval import BM25_B, BM25_K1

    with open(os.path.join(index_dir, "_bm25_stats.json")) as fh:
        st = _json.load(fh)
    queries = [tuple(dict.fromkeys(q)) for q in queries]
    union_terms = sorted({t for q in queries for t in q})
    if not union_terms:
        # empty workload (e.g. an empty/all-empty-text corpus seeds
        # the wide generator, or a streamed query with no terms): the
        # empty relation, typed like the plan
        return spark.createDataFrame(
            [],
            "query_id BIGINT, doc_id LONG, bm25 DOUBLE, n_terms_matched BIGINT",
        )
    buckets = term_buckets(spark, union_terms)
    p = (
        read_parquet(spark, index_dir)
        .filter(F.col("tbucket").isin(buckets))
        .filter(F.col("word").isin(*union_terms))
    )
    # per-term df from the |vocab|-sized ``_impacts`` sidecar instead
    # of a second pass over the pruned postings: ``n_postings`` rows
    # SUM to the term's exact df by construction (summing across attr
    # segments re-aggregates to the corpus-wide count), so this removes
    # a whole posting read + shuffle per call (guide §2.1). Same
    # integers → same idf. Cached as plain floats per layout
    # fingerprint (``_term_df_map``) — a warm call's plan broadcasts a
    # LOCAL (word, df) relation, no sidecar scan in the serving path.
    dfm = _term_df_map(spark, index_dir, union_terms)
    if dfm is not None:
        df_tbl = _df_relation(spark, dfm)
    else:  # degenerate empty layout: keep the in-plan derivation
        df_tbl = p.groupBy("word").agg(
            F.count(F.lit(1)).cast("double").alias("df")
        )
    if attr_eq is not None:
        # AFTER df: the predicate cuts the ranked universe, not idf
        p = p.filter(F.col(attr_eq[0]) == F.lit(attr_eq[1]))
    qterms = spark.createDataFrame(
        [(i, t) for i, q in enumerate(queries) for t in q],
        "query_id INT, word STRING",
    )
    scored = (
        p.join(maybe_broadcast(df_tbl), "word")
        .join(F.broadcast(qterms), "word")
        .withColumn(
            "idf",
            F.log(
                (F.lit(st["n_docs"]) - F.col("df") + 0.5) / (F.col("df") + 0.5)
                + 1.0
            ),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (BM25_K1 + 1))
            / (
                F.col("tf")
                + BM25_K1
                * (1 - BM25_B + BM25_B * F.col("dl") / F.lit(st["avgdl"]))
            ),
        )
        .groupBy("query_id", "doc_id")
        .agg(
            F.round(F.sum("term_score"), 4).alias("bm25"),
            F.count(F.lit(1)).alias("n_terms_matched"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("bm25"), F.asc("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top)
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            "doc_id",
            "bm25",
            "n_terms_matched",
        )
    )


def _ranked_one(batch: DataFrame, top: int) -> DataFrame:
    """A batch-of-one result as the single-query ranking: query_id
    dropped, ordered by (bm25 DESC, doc_id) — a TakeOrdered over at
    most ``top`` rows."""
    return (
        batch.drop("query_id").orderBy(F.desc("bm25"), F.asc("doc_id")).limit(top)
    )


#: wide-batch retrieval: the query-volume probe. 240 deterministic
#: queries generated off the corpus vocabulary (top WIDE_VOCAB words
#: by df, ranked (df DESC, word ASC) so both engines agree), ~3 terms
#: each by pinned integer arithmetic — wide enough to exercise the
#: window's per-query partitioning at the fanout the batch docstring
#: claims, yet a pure function of the corpus (fully ORACLE-CHECKED,
#: no literal query relation needed).
WIDE_VOCAB = 24
WIDE_QUERIES = 240
WIDE_TOP = 5


def _wide_queries(vocab: list[str]) -> tuple[tuple[str, ...], ...]:
    """The pinned query-set generator: query i draws vocabulary ranks
    (i, i + 7j + 1, i + 13j + j²) mod |vocab| with j = i // |vocab| —
    affine-in-i with a j-varying offset so the set does not repeat
    with period |vocab|. Duplicated ranks inside one query collapse
    (a query is a term SET); the DuckDB twin generates the identical
    relation from ``range()``. An empty vocabulary (empty or
    all-empty-text corpus) yields the empty workload — the wide
    callers return the empty relation like every other BM25 key."""
    v = len(vocab)
    if v == 0:
        return ()
    out = []
    for i in range(WIDE_QUERIES):
        j = i // v
        rs = {i % v, (i + 7 * j + 1) % v, (i + 13 * j + j * j) % v}
        out.append(tuple(sorted(vocab[r] for r in rs)))
    return tuple(out)


def bm25_batch_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked retrieval at real query volume: 240 generated queries
    (``_wide_queries``) scored from ONE pruned read of the BM25
    posting layout — the width the batch path's window/broadcast
    fanout exists for (``bm25_batch_indexed`` pins 5 queries; offline
    curation and eval-mining workloads run hundreds to thousands).

    The query workload derives from the corpus itself: vocabulary =
    top ``WIDE_VOCAB`` terms by df, read from the ``_impacts``
    sidecar (vocabulary-sized — summed ``n_postings`` IS each term's
    exact df, so workload generation touches zero posting bytes),
    then a bounded |vocab|-row collect seeds the pinned generator.
    Scoring is the standard batch plan: union-term pruned read,
    broadcast (query_id, word) fanout, one window partitioned by
    query_id — per-batch cost ∝ the union terms' postings, and the
    240-wide window partitioning is exactly the shape that scales to
    thousands of queries (skew per query bounded by its terms'
    postings). ORACLE-CHECKED end to end: the DuckDB twin regenerates
    the same vocabulary ranking, the same query relation, and the
    same scoring program from raw documents."""
    index_dir = _documents_bm25_index(spark, sf_dir)

    def _build() -> list[str]:
        rel = _impacts_relation(spark, index_dir)
        ranked = (
            rel.groupBy("word")
            .agg(F.sum("n_postings").alias("df"))
            .orderBy(F.desc("df"), F.asc("word"))
            .limit(WIDE_VOCAB)
            .collect()
            if rel is not None
            else []
        )  # bounded: WIDE_VOCAB rows
        return [r.word for r in ranked]

    vocab = _vocab_cached(
        ("wide", index_dir, _stats_fingerprint(index_dir)), _build
    )
    return bm25_batch_from_index(
        spark, index_dir, _wide_queries(vocab), WIDE_TOP
    )


def _bm25_wide_oracle() -> str:
    from ..operators.retrieval import BM25_B, BM25_K1
    from ..operators.text_analysis import _WORDS_SQL

    return f"""
        WITH w AS (
            SELECT doc_id, {_WORDS_SQL} AS words FROM documents
        ),
        stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                   avg(len(words)) AS avgdl
            FROM w
        ),
        posting AS MATERIALIZED (
            SELECT doc_id, word, count(*) AS tf, max(dl) AS dl
            FROM (
                SELECT doc_id, len(words) AS dl, unnest(words) AS word FROM w
            )
            GROUP BY doc_id, word
        ),
        vocab AS MATERIALIZED (
            SELECT word, CAST(df AS DOUBLE) AS df,
                   row_number() OVER (ORDER BY df DESC, word ASC) - 1 AS r
            FROM (SELECT word, count(*) AS df FROM posting GROUP BY word)
            ORDER BY r
            LIMIT {WIDE_VOCAB}
        ),
        nv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
        qgen AS (
            SELECT i,
                   i % v AS a,
                   (i + 7 * (i // v) + 1) % v AS b,
                   (i + 13 * (i // v) + (i // v) * (i // v)) % v AS c
            FROM range({WIDE_QUERIES}) t(i) CROSS JOIN nv
        ),
        qterms AS MATERIALIZED (
            SELECT DISTINCT query_id, word
            FROM (
                SELECT i AS query_id, a AS r FROM qgen
                UNION ALL SELECT i, b FROM qgen
                UNION ALL SELECT i, c FROM qgen
            ) x
            JOIN vocab USING (r)
        ),
        hits AS MATERIALIZED (
            SELECT p.doc_id, p.word, p.tf, p.dl, v.df
            FROM posting p JOIN vocab v USING (word)
        ),
        scored AS (
            SELECT q.query_id, h.doc_id,
                   round(sum(
                       ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                       * (tf * ({BM25_K1} + 1))
                       / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))
                   ), 4) AS bm25,
                   CAST(count(*) AS BIGINT) AS n_terms_matched
            FROM hits h
            JOIN qterms q USING (word)
            CROSS JOIN stats
            GROUP BY q.query_id, h.doc_id
        )
        SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, bm25,
               n_terms_matched
        FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY bm25 DESC, doc_id ASC) AS rn
            FROM scored)
        WHERE rn <= {WIDE_TOP}
    """


#: batch-WAND workload: like the wide batch but the vocabulary mixes
#: the df head with the df tail (rare terms), so per-query impact
#: bounds have idf contrast to work with — the realistic query mix
#: (real queries carry discriminative terms; an all-stopword workload
#: is the degenerate case and its queries legitimately fall back).
WAND_BATCH_HEAD = 16
WAND_BATCH_TAIL = 8


def _impacts_relation(spark: SparkSession, index_dir: str):
    """The ``_impacts`` sidecar as a relation, or None when the layout
    holds zero postings (an empty or all-empty-text corpus writes no
    parquet parts, so the read cannot infer a schema) — callers treat
    None as the empty vocabulary and return the empty relation."""
    from pyspark.errors import AnalysisException

    try:
        return read_parquet(spark, _impacts_dir(index_dir))
    except AnalysisException:
        return None


#: plain-data workload-vocabulary cache (r11, guide §1.5/§2 — the
#: head/tail and wide-vocab selections re-ran 2-4 bounded driver jobs
#: on EVERY batch call although the ranking is a pure function of the
#: committed layout). Keyed like the pricing cache: per-publish
#: ``layout_version`` fingerprint, values are tuples of str only —
#: restart-safe, never a session-bound plan.
_VOCAB_CACHE: dict[tuple, tuple[str, ...]] = {}
_VOCAB_CACHE_MAX = 32


def _vocab_cached(key: tuple, build) -> list[str]:
    hit = _VOCAB_CACHE.get(key)
    if hit is None:
        hit = tuple(build())
        while len(_VOCAB_CACHE) >= _VOCAB_CACHE_MAX:
            _VOCAB_CACHE.pop(next(iter(_VOCAB_CACHE)))
        _VOCAB_CACHE[key] = hit
    return list(hit)


#: plain-data per-term df cache (r11, guide §2.1 — one sidecar read
#: per (layout, term set) instead of one broadcast-subtree build per
#: PROBE): df is a pure function of the committed layout, exactly the
#: integers the sidecar's ``n_postings`` fold sums to. Same
#: fingerprint discipline as the pricing/vocab caches.
_DF_CACHE: dict[tuple, dict[str, float] | None] = {}
_DF_CACHE_MAX = 64
#: distinguishes "never computed" from a cached None (degenerate
#: no-sidecar layout): None is a legitimate cached value here.
_DF_MISS = object()


def _term_df_map(
    spark: SparkSession, index_dir: str, terms: list[str]
) -> dict[str, float] | None:
    """Exact corpus-wide df per term from the ``_impacts`` sidecar,
    cached as plain floats per (layout fingerprint, term set). Words
    absent from the sidecar are absent from the map (the in-plan
    aggregation produced no row for them either — the scoring join is
    inner both ways). Returns None for a degenerate layout with no
    sidecar; callers keep their in-plan derivation for that case."""
    fp = _stats_fingerprint(index_dir)
    key = (index_dir, fp, tuple(sorted(set(terms))))
    hit = _DF_CACHE.get(key, _DF_MISS)
    if hit is _DF_MISS:
        imp = _impacts_relation(spark, index_dir)
        if imp is None:
            val = None
        else:
            rows = (
                imp.filter(F.col("word").isin(*terms))
                .groupBy("word")
                .agg(F.sum("n_postings").cast("double").alias("df"))
                .collect()
            )  # bounded: <= |terms| rows
            val = {r.word: float(r.df) for r in rows}
        # ADVICE r11: append_documents_bm25 writes the impacts sidecar
        # BEFORE bumping _bm25_stats.json, so a concurrent append could
        # land post-append df under the pre-append fingerprint. Re-read
        # the fingerprint AFTER the collect and only cache when the
        # layout version did not move underneath us; the fresh value is
        # still returned either way (it is what the sidecar holds NOW).
        if _stats_fingerprint(index_dir) == fp:
            while len(_DF_CACHE) >= _DF_CACHE_MAX:
                _DF_CACHE.pop(next(iter(_DF_CACHE)))
            _DF_CACHE[key] = val
        hit = val
    return dict(hit) if hit is not None else None


def _df_relation(spark: SparkSession, dfm: dict[str, float]) -> DataFrame:
    """The cached df map as the tiny (word, df) relation the scoring
    join broadcasts — a local relation, no scan in the probe plan."""
    return spark.createDataFrame(
        sorted(dfm.items()), "word STRING, df DOUBLE"
    )


def _mixed_vocab(spark: SparkSession, index_dir: str) -> list[str]:
    """head-``WAND_BATCH_HEAD`` terms by (df DESC, word ASC) followed
    by tail-``WAND_BATCH_TAIL`` by (df ASC, word ASC) among the rest —
    both read from the ``_impacts`` sidecar (exact df, zero posting
    bytes), both bounded collects. Empty layout → empty vocabulary.
    Cached per layout fingerprint (plain data)."""

    def _build() -> list[str]:
        rel = _impacts_relation(spark, index_dir)
        if rel is None:
            return []
        df = rel.groupBy("word").agg(F.sum("n_postings").alias("df"))
        head = [
            r.word
            for r in df.orderBy(F.desc("df"), F.asc("word"))
            .limit(WAND_BATCH_HEAD)
            .collect()
        ]
        if not head:
            return []
        tail = [
            r.word
            for r in df.filter(~F.col("word").isin(head))
            .orderBy(F.asc("df"), F.asc("word"))
            .limit(WAND_BATCH_TAIL)
            .collect()
        ]
        return head + tail

    return _vocab_cached(
        ("mixed", index_dir, _stats_fingerprint(index_dir)), _build
    )


def bm25_batch_wand_topk(
    spark: SparkSession,
    index_dir: str,
    queries: tuple[tuple[str, ...], ...],
    top: int,
    attr_eq: tuple[str, object] | None = None,
) -> DataFrame:
    """Okapi BM25 top-``top`` per query via impact-bound two-phase
    pruning — the WAND/MaxScore family on the tiered posting layout —
    for a batch of queries served from ONE phase-1 and ONE phase-2
    posting read. A single query is a batch of one,
    ``(tuple(terms),)``; every query is a term SET (a repeated term
    counts once). The relation equals ``bm25_batch_from_index``
    row-for-row and answers to the same oracles: the bound is
    admissible, so every query's top-k is exact.

    1. Price every (word, tier) block of the union terms from the
       ``_impacts`` sidecar alone (``_wand_pricing`` — zero posting
       bytes) and read ONLY the phase-1 tiers of the MaxScore split
       (rare terms whole, common terms their best-priced tier),
       summing (query_id, doc_id) partials. A doc holds at most one
       posting per word, so a term seen in phase 1 contributes
       EXACTLY; the remaining uncertainty per doc is only over its
       unseen terms' other-tier bounds.
    2. One window pass over the partials yields, per query, θ_q (the
       k-th best partial — a lower bound on the true k-th score), the
       accumulator rows and the θ-surviving candidate rows: the only
       driver round-trip after pricing. Each query is then routed by
       ITS OWN bound: when slack_q (its terms' summed unread-tier
       bounds) < θ_q, docs whose partial + unseen slack cannot reach
       θ_q are dropped and the survivors complete from the lower tiers
       via a semi-join ("pruned"). Otherwise — fewer than k phase-1
       docs ("under_k") or slack_q ≥ θ_q ("slack_ge_theta") — the
       query completes UNPRUNED from the SAME two reads: phase-1
       partial ⊕ all its phase-2 contributions (p1_cond/p2_cond
       partition the (word, tier) space, so every posting counts
       exactly once). Pruning keeps a doc unless it is provably below
       θ_q − ``WAND_ROUND_MARGIN``, so exactness holds under the 4-dp
       rounding of the ranked contract.

    Driver state stays bounded: |union|·tiers sidecar rows and one row
    per query — never a doc id list, so no candidate cap. Telemetry in
    ``last_stats``: pricing (blocks/postings per phase, cache hit,
    round-trips), the accumulator and candidate row counts, the
    phase-1/phase-2 dirs, and per query its route, θ_q and slack_q.

    ``attr_eq=(col, value)``: filtered retrieval over an attr-bearing
    layout (``build_bm25_index(attr_cols=...)``). The equality rides
    EVERY posting read — phase 1 (θ_q is the k-th best partial among
    allowed docs), phase 2 and the unpruned completion — so a
    filtered-out doc can never enter the result. Pricing reads the
    value's own sidecar SEGMENT (tight, admissible bounds; blocks with
    no allowed posting leave the read set), while scores keep the
    Lucene filter contract: idf from the corpus-wide df, only the
    ranked universe shrinks.

    Reference: the per-word KeyValueStore serving contract of
    WikipediaStatsStreamTask.java:30-75 at toy scale; Broder et al.
    (CIKM'03) WAND and the MaxScore family for the bound discipline.
    """
    import json as _json

    from pyspark.sql import Window

    from ..functions.hints import DEFAULT_BROADCAST_BUDGET

    margin = WAND_ROUND_MARGIN + 1e-9
    with open(os.path.join(index_dir, "_bm25_stats.json")) as fh:
        st = _json.load(fh)
    n_corpus = st["n_docs"]
    avgdl = st["avgdl"] or 1.0
    queries = [tuple(dict.fromkeys(q)) for q in queries]
    union_terms = sorted({t for q in queries for t in q})
    where = None if attr_eq is None else (F.col(attr_eq[0]) == F.lit(attr_eq[1]))
    per_query = [{"route": "no_blocks", "theta": None, "slack": None} for _ in queries]
    stats: dict = {"n_queries": len(queries), "queries": per_query}
    bm25_batch_wand_topk.last_stats = stats

    def _all_fallback() -> DataFrame:
        stats.update(
            n_prunable=0,
            n_fallback=len(queries),
            n_round_trips=stats.get("n_pricing_round_trips", 0),
        )
        return bm25_batch_from_index(spark, index_dir, queries, top, attr_eq=attr_eq)

    if not union_terms:
        return _all_fallback()
    pr = _wand_pricing(
        spark, index_dir, union_terms, avgdl, n_corpus, stats, attr_eq=attr_eq
    )
    if pr is None or not pr["p1_paths"]:
        return _all_fallback()
    stats["p1_dirs"] = pr["p1_paths"]
    info, idf, wslack = pr["info"], pr["idf"], pr["wslack"]
    qwords = [[w for w in q if w in info] for q in queries]
    slack_q = [sum(wslack[w] for w in ws) for ws in qwords]

    # the broadcast (query_id, word) fanout, carrying each word's
    # priced idf and unread-tier slack
    qterms = spark.createDataFrame(
        [(qid, w, idf[w], wslack[w]) for qid, ws in enumerate(qwords) for w in ws],
        "query_id INT, word STRING, idf DOUBLE, wslack DOUBLE",
    )
    score = (F.col("idf") * _bm25_sat(F.col("tf"), F.col("dl"), avgdl)).alias("c")
    agg1 = (
        read_parquet(spark, *pr["p1_paths"], basePath=index_dir)
        .filter(pr["p1_cond"] if where is None else (pr["p1_cond"] & where))
        .join(F.broadcast(qterms), "word")
        .select("query_id", "doc_id", score, "wslack")
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("c").alias("partial"),
            F.sum("wslack").alias("seen_slack"),
            F.count(F.lit(1)).alias("n_seen"),
        )
        # consumed by θ, candidates and the final. Recomputable disk
        # persist, not an eager localCheckpoint: the (query, doc)
        # accumulator is corpus-linear, and the lazy persist folds its
        # materialization into the θ job below.
        .transform(materialize, "corpus")
    )
    # the candidate criterion, shared by the θ pass's count and the
    # candidate filter itself (same doubles → same rows)
    survives = (
        F.col("partial") + F.col("qslack") - F.col("seen_slack")
        >= F.col("theta") - margin
    )
    qslack = spark.createDataFrame(
        [(qid, float(s)) for qid, s in enumerate(slack_q) if qwords[qid]],
        "query_id INT, qslack DOUBLE",
    )
    # θ ranks by partial ALONE (no doc_id tiebreak): θ = the k-th
    # largest VALUE, k = min(top, group size) and the group size are
    # all tie-invariant. Both windows share the query_id partitioning,
    # so the pass is ONE exchange of (query_id, partial, seen_slack);
    # rows aggregate to θ_q, k, the accumulator size and the candidate
    # count (the rows a pruned route keeps).
    in_top = F.col("rn") <= top
    theta_rows = (
        agg1.select("query_id", "partial", "seen_slack")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.desc("partial"))
            ),
        )
        .withColumn(
            "theta",
            F.min(F.when(in_top, F.col("partial"))).over(
                Window.partitionBy("query_id")
            ),
        )
        .join(F.broadcast(qslack), "query_id")
        .groupBy("query_id")
        .agg(
            F.min("theta").alias("theta"),
            F.count(F.when(in_top, F.lit(1))).alias("k"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(survives, F.lit(1))).alias("n_cand"),
        )
        .collect()
    )  # bounded: one row per query
    stats["n_round_trips"] = stats.get("n_pricing_round_trips", 0) + 1
    by_q = {r.query_id: r for r in theta_rows}
    prunable, fallback = [], []
    for qid, ws in enumerate(qwords):
        if not ws:
            continue  # no in-layout term → no rows, like the exhaustive plan
        r = by_q.get(qid)
        if r is None or r.k < top:
            route = "under_k"  # θ is not a valid k-th bound
        elif slack_q[qid] >= r.theta - margin:
            route = "slack_ge_theta"  # an unseen doc could still reach top-k
        else:
            route = "pruned"
        (prunable if route == "pruned" else fallback).append(qid)
        per_query[qid] = {
            "route": route,
            "theta": r.theta if r is not None else None,
            "slack": slack_q[qid],
        }
    # the (query, doc) accumulator is THE stage that dominates batch
    # ranking at 100 TB: its size before the θ cut (≈ Σ_q df(q)) and
    # the pruned queries' candidate rows after it, measured per call
    stats.update(
        n_prunable=len(prunable),
        n_fallback=len(fallback),
        n_accumulator_rows=sum(r.n_rows for r in theta_rows),
        n_candidate_rows=sum(by_q[qid].n_cand for qid in prunable),
    )

    parts = []
    w_final = Window.partitionBy("query_id").orderBy(
        F.desc("bm25"), F.asc("doc_id")
    )

    def _topk(scored: DataFrame) -> DataFrame:
        return (
            scored.withColumn("rn", F.row_number().over(w_final))
            .filter(F.col("rn") <= top)
            .select(
                F.col("query_id").cast("long").alias("query_id"),
                "doc_id",
                "bm25",
                "n_terms_matched",
            )
        )

    cand = cand_ids = None
    if prunable:
        qmeta = spark.createDataFrame(
            [(qid, float(by_q[qid].theta), float(slack_q[qid])) for qid in prunable],
            "query_id INT, theta DOUBLE, qslack DOUBLE",
        )
        # priced once: candidates feed phase 2 AND the final.
        # Recomputable persist: recomputing = re-filtering the
        # already-persisted accumulator, so nothing needs a lineage cut.
        cand = (
            agg1.join(F.broadcast(qmeta), "query_id")
            .filter(survives)
            .transform(materialize, "corpus")
        )
        # the θ pass counted the candidates exactly, so the phase-2
        # semi-join's build side is sized from that runtime count
        # (≈32 B per (query_id, doc_id) hash-map row), not from
        # Catalyst's estimate of an unmaterialized filter
        cand_ids = cand.select("query_id", "doc_id")
        if 32 * stats["n_candidate_rows"] <= DEFAULT_BROADCAST_BUDGET:
            cand_ids = F.broadcast(cand_ids)

    # ---- phase 2, ONE pruned read for BOTH routes: per-(doc, word)
    # lower-tier contributions fan out to every query via the broadcast
    # (query_id, word) relation, then rows are routed — pruned queries
    # keep only their θ-surviving candidates (the semi-join), the
    # others keep everything.
    stats["p2_dirs"] = pr["p2_paths"]
    if pr["p2_paths"]:
        p2c = (
            read_parquet(spark, *pr["p2_paths"], basePath=index_dir)
            .filter(pr["p2_cond"] if where is None else (pr["p2_cond"] & where))
            .join(F.broadcast(qterms), "word")
            .select("query_id", "doc_id", score)
        )
        if prunable and fallback:
            fb_cond = F.col("query_id").isin([int(q) for q in fallback])
            p2c = p2c.join(
                cand_ids.withColumn("_c", F.lit(1)),
                ["query_id", "doc_id"],
                "left",
            ).filter(F.col("_c").isNotNull() | fb_cond).drop("_c")
        elif prunable:
            p2c = p2c.join(cand_ids, ["query_id", "doc_id"], "left_semi")
        add = p2c.groupBy("query_id", "doc_id").agg(
            F.sum("c").alias("c2"), F.count(F.lit(1)).alias("n2")
        )
    else:
        add = spark.createDataFrame(
            [], "query_id INT, doc_id LONG, c2 DOUBLE, n2 LONG"
        )

    if prunable:
        scored = cand.join(add, ["query_id", "doc_id"], "left").select(
            "query_id",
            "doc_id",
            F.round(
                F.col("partial") + F.coalesce(F.col("c2"), F.lit(0.0)), 4
            ).alias("bm25"),
            (F.col("n_seen") + F.coalesce(F.col("n2"), F.lit(0)))
            .cast("long")
            .alias("n_terms_matched"),
        )
        parts.append(_topk(scored))
    if fallback:
        # exact unpruned completion from the SAME two reads: a
        # (query, doc) pair may hold postings only in phase-1 tiers,
        # only in phase-2 tiers, or both — hence the full outer join.
        fb_ids = spark.createDataFrame(
            [(int(q),) for q in fallback], "query_id INT"
        )
        agg1_fb = agg1.join(F.broadcast(fb_ids), "query_id").select(
            "query_id", "doc_id", "partial", "n_seen"
        )
        add_fb = add.join(F.broadcast(fb_ids), "query_id")
        scored_fb = agg1_fb.join(
            add_fb, ["query_id", "doc_id"], "full_outer"
        ).select(
            "query_id",
            "doc_id",
            F.round(
                F.coalesce(F.col("partial"), F.lit(0.0))
                + F.coalesce(F.col("c2"), F.lit(0.0)),
                4,
            ).alias("bm25"),
            (
                F.coalesce(F.col("n_seen"), F.lit(0))
                + F.coalesce(F.col("n2"), F.lit(0))
            )
            .cast("long")
            .alias("n_terms_matched"),
        )
        parts.append(_topk(scored_fb))
    # every query with an in-layout term took one of the two routes,
    # and at least one has (pricing found its blocks)
    return parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])


bm25_batch_wand_topk.last_stats = {}


#: ingest-audit batch split: low half of the 100-slot md5 doc_id ring
#: seeds the build, high half arrives as the appended batch.
INGEST_SPLIT_PCT = 50


def _documents_positional_incremental(spark: SparkSession, sf_dir: str) -> str:
    """The positional layout built INCREMENTALLY: batch 1 (md5-ring
    low half of doc_ids) through ``build_positional_index``, batch 2
    through ``append_documents_positional`` behind the same
    applied-batch marker discipline ``postings_updater`` uses — a
    re-entrant run (or a redelivered batch) folds nothing, which is
    mandatory here because positional postings are a multiset
    (re-appending double-counts phrase matches). The append is
    bracketed by an ``.inprogress`` sentinel (written before, renamed
    to the marker after): a crash mid-append is detected on the next
    run and recovered by REBUILDING the layout from batch 0 — never
    by re-appending onto a layout that may already hold the crashed
    batch's files."""
    from ..operators.dedup import _md5_slice32 as _slice32
    from ..operators.ann_index import _index_root, _tag

    root = os.path.join(_index_root(), _tag(sf_dir))
    out = os.path.join(root, "positional_documents_incr")
    # markers live BESIDE the layout: the batch-1 build's overwrite
    # write replaces the layout dir wholesale
    marker_dir = os.path.join(root, "positional_documents_incr_applied")
    os.makedirs(marker_dir, exist_ok=True)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ring = F.pmod(_slice32(F.col("doc_id").cast("string")), F.lit(100))

    m0 = os.path.join(marker_dir, "batch-0")
    m1 = os.path.join(marker_dir, "batch-1")
    m1_wip = m1 + ".inprogress"
    if not os.path.exists(m1) and os.path.exists(m1_wip):
        # a prior run crashed INSIDE the batch-1 append (the wip
        # sentinel went down before the append, the commit rename
        # never happened): posting files may have landed without the
        # marker, and a blind re-append would double-count them
        # forever. The append itself isn't atomic, so recovery is a
        # rebuild: batch-0's overwrite build wipes the layout clean.
        for p in (m0, m1_wip):
            if os.path.exists(p):
                os.remove(p)
    if not os.path.exists(m0):
        # build overwrites → naturally idempotent across a crash here
        build_positional_index(spark, docs.filter(ring < INGEST_SPLIT_PCT), out)
        open(m0, "w").close()
    if not os.path.exists(m1):
        # wip sentinel BEFORE the append, atomic rename AFTER it: a
        # crash anywhere in between is detected above and rebuilt,
        # never re-appended onto a maybe-dirty layout.
        open(m1_wip, "w").close()
        append_documents_positional(
            spark, out, docs.filter(ring >= INGEST_SPLIT_PCT)
        )
        os.replace(m1_wip, m1)
    return out


def positional_ingest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrity audit of the positional-index INGEST path — the
    incremental-build ≡ full-rebuild discipline (``dedup_incremental``
    style), hash-checked: build the layout in two marker-gated batches
    (see ``_documents_positional_incremental``), then aggregate EVERY
    posting row of the result — count, distinct words/docs, and an
    md5-slice32 checksum over each (word, doc_id, pos) triple — and
    compare against a DuckDB first-principles re-tokenization of the
    raw documents. A full rebuild equals first principles by
    construction, so the hash match IS the two-batch ≡ rebuild proof,
    covering the ingest path phrase/proximity serving depends on
    (an extra posting, a dropped posting, or a shifted position
    anywhere breaks the checksum). Idempotent across runs: the
    applied-batch markers make re-entry a no-op, so the same numbers
    return every time.

    Scale: the build is the one tokenize pass every index build pays
    (batched, appends never rewrite files); the audit is one parallel
    scan of the index + a 1-row aggregate. Nothing driver-side.
    """
    from ..operators.dedup import _md5_slice32 as _slice32

    index_dir = _documents_positional_incremental(spark, sf_dir)
    idx = read_parquet(spark, index_dir)
    content = F.concat_ws(
        "|",
        F.col("word"),
        F.col("doc_id").cast("string"),
        F.col("pos").cast("string"),
    )
    return idx.agg(
        F.count(F.lit(1)).cast("long").alias("n_postings"),
        F.count_distinct("word").cast("long").alias("n_words"),
        F.count_distinct("doc_id").cast("long").alias("n_docs"),
        F.sum(F.col("pos")).cast("long").alias("sum_pos"),
        F.sum(_slice32(content)).cast("long").alias("postings_checksum"),
    )


def _bm25_built(out: str) -> bool:
    """A BM25 layout is built only when ALL commits landed: the
    postings' parquet ``_SUCCESS`` AND the ``_bm25_stats.json``
    sidecar (written last — the overwrite build wipes the directory,
    so the sidecar cannot go first). A crash between steps leaves
    ``_SUCCESS`` without the sidecar; gating on ``_is_built`` alone
    would serve that partial build with a ``FileNotFoundError`` on
    every probe until someone removed the directory by hand — require
    both, so a partial build is rebuilt instead of served. The stats
    must also carry the r09 ``tiers`` layout marker: a pre-tier
    (flat-bucket) layout has no impact sidecar, so it is rebuilt, not
    served to the WAND probe."""
    import json as _json

    from ..operators.ann_index import _is_built

    stats = os.path.join(out, "_bm25_stats.json")
    if not (_is_built(out) and os.path.exists(stats)):
        return False
    with open(stats) as fh:
        return _json.load(fh).get("tiers") == WAND_TIERS


def _documents_bm25_incremental(spark: SparkSession, sf_dir: str) -> str:
    """The BM25 layout built INCREMENTALLY: batch 1 (md5-ring low
    half of doc_ids) through ``build_bm25_index``, batch 2 through
    ``append_documents_bm25`` — postings, the ``_impacts`` bounds
    AND the (n_docs, total_dl) sidecar all folded on the ingest
    path, behind the positional layout's marker discipline: the
    append is bracketed by an ``.inprogress`` sentinel (a crash
    mid-append is recovered by REBUILDING — a blind re-append would
    double tf rows and the sidecar counters, skewing every score
    forever)."""
    from ..operators.ann_index import _index_root, _tag
    from ..operators.dedup import _md5_slice32 as _slice32

    root = os.path.join(_index_root(), _tag(sf_dir))
    out = os.path.join(root, "bm25_documents_incr")
    marker_dir = os.path.join(root, "bm25_documents_incr_applied")
    os.makedirs(marker_dir, exist_ok=True)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ring = F.pmod(_slice32(F.col("doc_id").cast("string")), F.lit(100))

    m0 = os.path.join(marker_dir, "batch-0")
    m1 = os.path.join(marker_dir, "batch-1")
    m1_wip = m1 + ".inprogress"
    if not os.path.exists(m1) and os.path.exists(m1_wip):
        for p in (m0, m1_wip):  # crash inside batch 1: rebuild
            if os.path.exists(p):
                os.remove(p)
    if not os.path.exists(m0):
        # overwrite build → idempotent across a crash here
        build_bm25_index(spark, docs.filter(ring < INGEST_SPLIT_PCT), out)
        open(m0, "w").close()
    if not os.path.exists(m1):
        open(m1_wip, "w").close()
        append_documents_bm25(
            spark, out, docs.filter(ring >= INGEST_SPLIT_PCT)
        )
        os.replace(m1_wip, m1)
    return out


def bm25_ingest_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrity audit of the BM25 INGEST path, registered and
    hash-checked like ``positional_ingest_audit`` — but the ranked
    layout has MORE state to keep exact than a posting multiset, and
    this audit pins all three pieces against a DuckDB
    first-principles re-tokenization of the raw documents:

    - the postings relation: count, distinct words/docs, tf and dl
      sums, and an md5-slice32 checksum over every
      (word, doc_id, tf, dl) row — an extra, dropped, or drifted
      posting anywhere breaks the hash;
    - the (n_docs, total_dl) stats sidecar the ingest FOLDS (exact
      integer counters) — surfaced as literal columns, so a
      double-fold or missed fold is an oracle mismatch, not just a
      pytest property;
    - the ``_impacts`` bounds sidecar: its summed ``n_postings``
      must equal the postings count exactly (it IS the df the WAND
      probe prices idf from without reading posting bytes).

    Idempotent across runs (applied-batch markers, crash-recovery
    via the ``.inprogress`` sentinel). Scale: the build is the one
    tokenize pass every index build pays; the audit is one parallel
    scan of the layout + a 1-row aggregate — linear by contract,
    nothing driver-side beyond the sidecar integers."""
    import json as _json

    from ..operators.dedup import _md5_slice32 as _slice32

    index_dir = _documents_bm25_incremental(spark, sf_dir)
    with open(os.path.join(index_dir, "_bm25_stats.json")) as fh:
        st = _json.load(fh)
    p = read_parquet(spark, index_dir)
    content = F.concat_ws(
        "|",
        F.col("word"),
        F.col("doc_id").cast("string"),
        F.col("tf").cast("string"),
        F.col("dl").cast("string"),
    )
    imp = (
        read_parquet(spark, _impacts_dir(index_dir))
        .agg(F.sum("n_postings").cast("long").alias("impacts_n_postings"))
    )
    return (
        p.agg(
            F.count(F.lit(1)).cast("long").alias("n_postings"),
            F.count_distinct("word").cast("long").alias("n_words"),
            F.count_distinct("doc_id").cast("long").alias("n_docs_posting"),
            F.sum("tf").cast("long").alias("sum_tf"),
            F.sum("dl").cast("long").alias("sum_dl"),
            F.sum(_slice32(content)).cast("long").alias("postings_checksum"),
        )
        .crossJoin(F.broadcast(imp))  # 1-row aggregate
        .select(
            "n_postings",
            "n_words",
            "n_docs_posting",
            "sum_tf",
            "sum_dl",
            "postings_checksum",
            F.lit(int(st["n_docs"])).cast("long").alias("sidecar_n_docs"),
            F.lit(int(st["total_dl"])).cast("long").alias("sidecar_total_dl"),
            "impacts_n_postings",
        )
    )


def _documents_bm25_index(spark: SparkSession, sf_dir: str) -> str:
    from ..operators.ann_index import _index_root, _tag

    out = os.path.join(_index_root(), _tag(sf_dir), "bm25_documents")
    if not _bm25_built(out):
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        build_bm25_index(spark, docs, out)
    return out


def _documents_bm25_label_index(spark: SparkSession, sf_dir: str) -> str:
    """The ATTRIBUTE-BEARING BM25 layout filtered retrieval serves
    from: each posting row carries the doc's ``label`` (joined from
    the embeddings side of the corpus at build time, ``doc_id ≡
    vec_id``), so a label equality pushes to the posting parquet scan
    itself — the lexical twin of the attr-bearing IVF layouts
    (``ann_index.build_ivf_index(attrs=...)``). Docs without an
    embedding row index with a NULL label (they can never match an
    equality — the same inner-join semantics as the oracle). A
    separate layout dir from the plain index: attribute denormalizing
    is a build-time schema choice, exactly as in production."""
    from ..operators.ann_index import _index_root, _tag

    out = os.path.join(_index_root(), _tag(sf_dir), "bm25_documents_label")
    if not _bm25_built(out):
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        lab = load_table(spark, sf_dir, "embeddings").select(
            F.col("vec_id").alias("doc_id"), "label"
        )
        build_bm25_index(
            spark, docs.join(lab, "doc_id", "left"), out, attr_cols=("label",)
        )
    return out


def bm25_search_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``bm25_search``'s ranked top-20 served from the BM25 posting
    layout instead of a per-query corpus tokenize — the fourth member
    of the indexed-retrieval family (term / phrase / proximity /
    ranked): ``SEARCH_TERMS`` as a batch of one through the exhaustive
    ``bm25_batch_from_index`` (≤|terms| of 64 bucket dirs listed, word
    filter pushed to parquet, tf and dl read off the postings, df and
    (N, avgdl) from the sidecars). Same expressions, same 4-dp round +
    doc_id tiebreak — SAME ORACLE as the scan path (the layout changes
    where postings come from, not what the ranking means); the
    repeated-query cost at 100 TB is the query terms' postings, never
    the corpus."""
    from ..operators.retrieval import BM25_TOP
    from ..operators.text_analysis import SEARCH_TERMS

    index_dir = _documents_bm25_index(spark, sf_dir)
    return _ranked_one(
        bm25_batch_from_index(spark, index_dir, (tuple(SEARCH_TERMS),), BM25_TOP),
        BM25_TOP,
    )


# the oracle is term_search's: the layout changes WHERE the postings
# are read from, not what the query means.
ORACLES: dict[str, str] = {}


def _bm25_oracle() -> str:
    from ..operators.retrieval import ORACLES as RT_ORACLES

    return RT_ORACLES["bm25_search"]


ORACLES["bm25_search_indexed"] = _bm25_oracle()


#: pinned query for the WAND key: one rare term (idf contrast) + two
#: common ones — the query class impact-ordering exists for. The rare
#: list is ESSENTIAL (read whole); the common lists are tier-skipped
#: against θ, so the probe demonstrably skips blocks at both SFs
#: (asserted via last_stats in tests). All-common queries
#: (SEARCH_TERMS) legitimately fall back — also pytest-pinned.
WAND_QUERY_TERMS = ("dup", "join", "window")


def _bm25_oracle_for(terms: tuple[str, ...], label: int | None = None) -> str:
    """The bm25_search DuckDB program with a parameterized term list —
    character-identical scoring (same idf, same saturation, same 4-dp
    round + doc_id tiebreak), so the WAND key's oracle is the SAME
    first-principles replay the scan path answers to.

    ``label`` (r11): the filtered-retrieval twin — ranked universe
    restricted to docs whose embeddings-side label matches, with df /
    N / avgdl still corpus-wide (the Lucene filter contract the
    filtered probes implement: same scores, smaller universe)."""
    from ..operators.retrieval import BM25_B, BM25_K1, BM25_TOP
    from ..operators.text_analysis import _WORDS_SQL

    terms_sql = ", ".join(f"'{t}'" for t in terms)
    label_join = (
        ""
        if label is None
        else f"""
        JOIN (SELECT vec_id AS doc_id FROM embeddings
              WHERE label = {label}) USING (doc_id)"""
    )
    return f"""
        WITH w AS (
            SELECT doc_id, {_WORDS_SQL} AS words FROM documents
        ),
        stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                   avg(len(words)) AS avgdl
            FROM w
        ),
        hits AS (
            SELECT doc_id, word, count(*) AS tf, max(dl) AS dl
            FROM (
                SELECT doc_id, len(words) AS dl, unnest(words) AS word FROM w
            )
            WHERE word IN ({terms_sql})
            GROUP BY doc_id, word
        ),
        dfreq AS (
            SELECT word, CAST(count(*) AS DOUBLE) AS df FROM hits GROUP BY word
        )
        SELECT doc_id,
               round(sum(
                   ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                   * (tf * ({BM25_K1} + 1))
                   / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))
               ), 4) AS bm25,
               CAST(count(*) AS BIGINT) AS n_terms_matched
        FROM hits JOIN dfreq USING (word) CROSS JOIN stats{label_join}
        GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id
        LIMIT {BM25_TOP}
    """


def bm25_search_wand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked BM25 top-20 for ``WAND_QUERY_TERMS`` as a batch of one
    through the θ-routed ``bm25_batch_wand_topk`` over the tiered
    posting layout — the WAND/MaxScore serving path: block bounds
    from the ``_impacts`` sidecar decide which posting tiers are read
    at all; the rare term's short list is read whole, the common
    terms' lower tiers are either skipped outright (unseen docs
    priced out by θ) or read candidate-pruned. Top-k is EXACT under
    the admissible bound — the oracle is the same first-principles
    DuckDB replay the scan path answers to, parameterized only by the
    term list; the relation never changes, only the bytes read to
    produce it (the "pruned" route and block-skip are asserted via
    ``bm25_batch_wand_topk.last_stats`` in tests)."""
    from ..operators.retrieval import BM25_TOP

    index_dir = _documents_bm25_index(spark, sf_dir)
    return _ranked_one(
        bm25_batch_wand_topk(spark, index_dir, (WAND_QUERY_TERMS,), BM25_TOP),
        BM25_TOP,
    )


ORACLES["bm25_search_wand"] = _bm25_oracle_for(WAND_QUERY_TERMS)


#: tier-cut configurations swept by the tier sweeps — cuts are on
#: the normalized saturation s/(k1+1) ∈ (0, 1), descending; () is the
#: untiered layout (one block per term: nothing is skippable).
#: "t3_60_45" IS the production layout (WAND_TIER_HI/MID).
WAND_SWEEP_CONFIGS = (
    ("flat", ()),
    ("t2_50", (0.50,)),
    ("t3_60_45", (WAND_TIER_HI, WAND_TIER_MID)),
    ("t4_65_50_35", (0.65, 0.50, 0.35)),
)

_WAND_SWEEP_SCHEMA = (
    "config STRING, n_tiers INT, cfg_order INT, n_queries INT, "
    "n_blocks INT, n_blocks_p1 INT, n_postings_p1 BIGINT, "
    "n_postings_deferred BIGINT, workload_slack_micro BIGINT, "
    "n_zero_slack_queries INT"
)


def _tier_sweep(
    spark: SparkSession, index_dir: str, queries: tuple[tuple[str, ...], ...]
) -> DataFrame:
    """The impact-tier decision table for a query workload — the
    ``lsh_band_sweep`` / ``ann_recall_curve`` discipline applied to
    the ranked-retrieval family's layout dial: how many tiers, cut
    where? Each ``WAND_SWEEP_CONFIGS`` entry is priced by re-deriving
    the per-(word, tier) block bounds DIRECTLY from the layout's
    postings (one bucket-pruned read of the union terms — tier
    membership is a pure function of (tf, dl, avgdl, cuts), so no
    alternative layout is built) and running the serving probe's own
    ``_maxscore_split`` on them, over the UNION vocabulary exactly as
    ``bm25_batch_wand_topk``'s shared phase-1 read prices it.

    Row per config: blocks total / phase-1 and postings scored in
    phase 1 vs deferred behind the bound (for the production config
    these equal the served probe's telemetry), Σ_q slack_q in
    micro-units (the pressure each query's θ_q must beat; lower ⇒ more
    of the workload prunes) and the zero-slack queries (all-essential
    term sets — prunable whenever they fill their top-k). Driver state
    ≤ |configs|·|union|·tiers rows plus one slack sum per query.
    Rows-only (the slack rides float idf·saturation; the integer
    columns are exact). An empty workload, or one with no posting
    bucket, yields the typed empty table."""
    import json as _json

    from ..operators.retrieval import BM25_K1

    empty = spark.createDataFrame([], _WAND_SWEEP_SCHEMA)
    with open(os.path.join(index_dir, "_bm25_stats.json")) as fh:
        st = _json.load(fh)
    n_corpus = st["n_docs"]
    avgdl = st["avgdl"] or 1.0
    union_terms = sorted({t for q in queries for t in q})
    if not union_terms:
        return empty
    bmap = _term_bucket_map(spark, union_terms)
    paths = sorted(
        {
            p
            for b in set(bmap.values())
            if os.path.isdir(p := os.path.join(index_dir, f"tbucket={b}"))
        }
    )
    if not paths:
        return empty
    post = (
        read_parquet(spark, *paths, basePath=index_dir)
        .filter(F.col("word").isin(*union_terms))
        .select("word", "tf", "dl")
    )
    snorm = _bm25_sat(F.col("tf"), F.col("dl"), avgdl) / (BM25_K1 + 1)
    per_config = []
    for name, cuts in WAND_SWEEP_CONFIGS:
        tier = F.lit(0)
        for c in cuts:  # descending cuts: tier = #cuts above snorm
            tier = tier + F.when(snorm < F.lit(float(c)), 1).otherwise(0)
        per_config.append(
            post.withColumn("cfg", F.lit(name)).withColumn(
                "tier", tier.cast("int")
            )
        )
    allp = per_config[0]
    for p in per_config[1:]:
        allp = allp.unionByName(p)
    rows = (
        allp.groupBy("cfg", "word", "tier")
        .agg(
            F.max("tf").alias("max_tf"),
            F.min("dl").alias("min_dl"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )  # bounded: |configs| * |union| * tiers

    by_cfg: dict[str, dict] = {}
    for r in rows:
        by_cfg.setdefault(r.cfg, {}).setdefault(r.word, {})[r.tier] = (
            r.max_tf,
            r.min_dl,
            r.n,
        )
    out = []
    for order, (name, cuts) in enumerate(WAND_SWEEP_CONFIGS):
        info = by_cfg.get(name, {})
        dfreq = {w: float(sum(t[2] for t in ts.values())) for w, ts in info.items()}
        _idf, ub, p1_tiers, wslack = _maxscore_split(info, dfreq, n_corpus, avgdl)
        n_p1 = sum(info[w][t][2] for w, ts in p1_tiers.items() for t in ts)
        total = int(sum(dfreq.values()))
        slack_q = [
            sum(wslack[w] for w in dict.fromkeys(q) if w in info) for q in queries
        ]
        out.append(
            (
                name,
                len(cuts) + 1,
                order,
                len(queries),
                len(ub),
                sum(len(ts) for ts in p1_tiers.values()),
                int(n_p1),
                int(total - n_p1),
                int(sum(slack_q) * 1_000_000),
                sum(1 for s in slack_q if s == 0.0),
            )
        )
    return spark.createDataFrame(out, _WAND_SWEEP_SCHEMA)


def wand_tier_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tier-cut decision table for the pinned WAND query
    (``WAND_QUERY_TERMS``) — ``_tier_sweep`` over a workload of one.
    The ``flat`` row is the counterfactual that justifies tiering
    (everything phase-1, zero skippable); the production row is
    pytest-pinned EQUAL to ``bm25_search_wand``'s own pricing
    telemetry, so the sweep measures exactly what serving executes.
    ``slack_micro`` is the query's unread-tier slack — the quantity θ
    must beat for the probe to prune at all."""
    index_dir = _documents_bm25_index(spark, sf_dir)
    return _tier_sweep(spark, index_dir, (WAND_QUERY_TERMS,)).select(
        "config",
        "n_tiers",
        "cfg_order",
        "n_blocks",
        "n_blocks_p1",
        "n_postings_p1",
        "n_postings_deferred",
        F.col("workload_slack_micro").alias("slack_micro"),
    )


def wand_tier_sweep_workload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tier-cut decision table priced against the WORKLOAD: real
    tier cuts are chosen against a query MIX, so this is
    ``_tier_sweep`` over the 240-query mixed-vocabulary workload
    ``bm25_batch_wand`` actually serves (``_mixed_vocab`` head+tail ×
    ``_wide_queries``); its production row's union-level integers are
    pytest-pinned EQUAL to the served batch's telemetry."""
    index_dir = _documents_bm25_index(spark, sf_dir)
    return _tier_sweep(spark, index_dir, _wide_queries(_mixed_vocab(spark, index_dir)))


def bm25_batch_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pinned five-query batch (``BM25_BATCH_QUERIES``) ranked
    from the BM25 posting layout in one pruned read — see
    ``bm25_batch_from_index``. ORACLE-CHECKED against a DuckDB
    first-principles replay (corpus re-tokenized, literal query
    relation, the same 4-dp round + doc_id tiebreak per query)."""
    index_dir = _documents_bm25_index(spark, sf_dir)
    return bm25_batch_from_index(
        spark, index_dir, BM25_BATCH_QUERIES, BM25_BATCH_TOP
    )


def _bm25_batch_oracle() -> str:
    from ..operators.retrieval import BM25_B, BM25_K1
    from ..operators.text_analysis import _WORDS_SQL

    qvals = ",\n                ".join(
        f"({i}, '{t}')"
        for i, q in enumerate(BM25_BATCH_QUERIES)
        for t in q
    )
    union_terms = sorted({t for q in BM25_BATCH_QUERIES for t in q})
    terms_sql = ", ".join(f"'{t}'" for t in union_terms)
    return f"""
        WITH w AS (
            SELECT doc_id, {_WORDS_SQL} AS words FROM documents
        ),
        stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                   avg(len(words)) AS avgdl
            FROM w
        ),
        hits AS (
            SELECT doc_id, word, count(*) AS tf, max(dl) AS dl
            FROM (
                SELECT doc_id, len(words) AS dl, unnest(words) AS word FROM w
            )
            WHERE word IN ({terms_sql})
            GROUP BY doc_id, word
        ),
        dfreq AS (
            SELECT word, CAST(count(*) AS DOUBLE) AS df FROM hits GROUP BY word
        ),
        qterms(query_id, word) AS (
            VALUES {qvals}
        ),
        scored AS (
            SELECT q.query_id, h.doc_id,
                   round(sum(
                       ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                       * (tf * ({BM25_K1} + 1))
                       / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))
                   ), 4) AS bm25,
                   CAST(count(*) AS BIGINT) AS n_terms_matched
            FROM hits h
            JOIN dfreq USING (word)
            JOIN qterms q USING (word)
            CROSS JOIN stats
            GROUP BY q.query_id, h.doc_id
        )
        SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, bm25,
               n_terms_matched
        FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY bm25 DESC, doc_id ASC) AS rn
            FROM scored)
        WHERE rn <= {BM25_BATCH_TOP}
    """


def bm25_batch_wand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The impact-bound BATCH: 240 generated queries over the MIXED
    head+tail vocabulary (``_mixed_vocab`` — df head + df tail, so
    queries carry idf contrast like real workloads), routed per query
    by the WAND bound (``bm25_batch_wand_topk``): pruned queries
    shrink the (query, doc) accumulator shuffle to their candidate
    sets; the rest complete unpruned from the same two posting reads.
    EXACT per query — ORACLE-CHECKED end to end (the
    DuckDB twin regenerates the mixed vocabulary, the query relation
    and the scores from raw documents; prune-vs-fallback routing is
    invisible in the relation, which is the point)."""
    index_dir = _documents_bm25_index(spark, sf_dir)
    vocab = _mixed_vocab(spark, index_dir)
    return bm25_batch_wand_topk(
        spark, index_dir, _wide_queries(vocab), WIDE_TOP
    )


def _bm25_wand_batch_oracle() -> str:
    from ..operators.retrieval import BM25_B, BM25_K1
    from ..operators.text_analysis import _WORDS_SQL

    return f"""
        WITH w AS (
            SELECT doc_id, {_WORDS_SQL} AS words FROM documents
        ),
        stats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                   avg(len(words)) AS avgdl
            FROM w
        ),
        posting AS MATERIALIZED (
            SELECT doc_id, word, count(*) AS tf, max(dl) AS dl
            FROM (
                SELECT doc_id, len(words) AS dl, unnest(words) AS word FROM w
            )
            GROUP BY doc_id, word
        ),
        dfreq_all AS MATERIALIZED (
            SELECT word, count(*) AS df FROM posting GROUP BY word
        ),
        vhead AS MATERIALIZED (
            SELECT word, CAST(df AS DOUBLE) AS df,
                   row_number() OVER (ORDER BY df DESC, word ASC) - 1 AS r
            FROM dfreq_all
            ORDER BY r
            LIMIT {WAND_BATCH_HEAD}
        ),
        vtail AS (
            SELECT word, CAST(df AS DOUBLE) AS df,
                   {WAND_BATCH_HEAD}
                   + row_number() OVER (ORDER BY df ASC, word ASC) - 1 AS r
            FROM dfreq_all
            WHERE word NOT IN (SELECT word FROM vhead)
            ORDER BY r
            LIMIT {WAND_BATCH_TAIL}
        ),
        vocab AS MATERIALIZED (
            SELECT * FROM vhead UNION ALL SELECT * FROM vtail
        ),
        nv AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
        qgen AS (
            SELECT i,
                   i % v AS a,
                   (i + 7 * (i // v) + 1) % v AS b,
                   (i + 13 * (i // v) + (i // v) * (i // v)) % v AS c
            FROM range({WIDE_QUERIES}) t(i) CROSS JOIN nv
        ),
        qterms AS MATERIALIZED (
            SELECT DISTINCT query_id, word
            FROM (
                SELECT i AS query_id, a AS r FROM qgen
                UNION ALL SELECT i, b FROM qgen
                UNION ALL SELECT i, c FROM qgen
            ) x
            JOIN vocab USING (r)
        ),
        hits AS MATERIALIZED (
            SELECT p.doc_id, p.word, p.tf, p.dl, v.df
            FROM posting p JOIN vocab v USING (word)
        ),
        scored AS (
            SELECT q.query_id, h.doc_id,
                   round(sum(
                       ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                       * (tf * ({BM25_K1} + 1))
                       / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))
                   ), 4) AS bm25,
                   CAST(count(*) AS BIGINT) AS n_terms_matched
            FROM hits h
            JOIN qterms q USING (word)
            CROSS JOIN stats
            GROUP BY q.query_id, h.doc_id
        )
        SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, bm25,
               n_terms_matched
        FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY bm25 DESC, doc_id ASC) AS rn
            FROM scored)
        WHERE rn <= {WIDE_TOP}
    """


ORACLES["bm25_batch_indexed"] = _bm25_batch_oracle()
ORACLES["bm25_batch_wide"] = _bm25_wide_oracle()
ORACLES["bm25_batch_wand"] = _bm25_wand_batch_oracle()

ORACLES["bm25_ingest_audit"] = r"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x <> '') AS words
        FROM documents
    ),
    posting AS MATERIALIZED (
        SELECT doc_id, word, count(*) AS tf, max(dl) AS dl
        FROM (
            SELECT doc_id, len(words) AS dl, unnest(words) AS word FROM w
        )
        GROUP BY doc_id, word
    )
    SELECT CAST(count(*) AS BIGINT) AS n_postings,
           CAST(count(DISTINCT word) AS BIGINT) AS n_words,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_posting,
           CAST(sum(tf) AS BIGINT) AS sum_tf,
           CAST(sum(dl) AS BIGINT) AS sum_dl,
           CAST(sum(CAST(concat('0x', substr(md5(
               word || '|' || CAST(doc_id AS VARCHAR) || '|'
               || CAST(tf AS VARCHAR) || '|' || CAST(dl AS VARCHAR)
           ), 1, 8)) AS BIGINT)) AS BIGINT) AS postings_checksum,
           (SELECT CAST(count(*) AS BIGINT) FROM w) AS sidecar_n_docs,
           (SELECT CAST(coalesce(sum(len(words)), 0) AS BIGINT) FROM w)
               AS sidecar_total_dl,
           CAST(count(*) AS BIGINT) AS impacts_n_postings
    FROM posting
"""


# first-principles re-tokenization of raw documents: what ANY correct
# positional build (single-shot or incremental) must contain.
ORACLES["positional_ingest_audit"] = r"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x <> '') AS words
        FROM documents
    ),
    pos AS (
        SELECT doc_id, p - 1 AS pos, words[p] AS word
        FROM w, unnest(generate_series(1, len(words))) AS t(p)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_postings,
           CAST(count(DISTINCT word) AS BIGINT) AS n_words,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(sum(pos) AS BIGINT) AS sum_pos,
           CAST(sum(CAST(concat('0x', substr(md5(
               word || '|' || CAST(doc_id AS VARCHAR) || '|'
               || CAST(pos AS VARCHAR)
           ), 1, 8)) AS BIGINT)) AS BIGINT) AS postings_checksum
    FROM pos
"""


def _term_search_oracle() -> str:
    from ..operators.text_analysis import ORACLES as TA_ORACLES

    return TA_ORACLES["term_search"]


ORACLES["term_search_indexed"] = _term_search_oracle()


def _phrase_search_oracle() -> str:
    from ..operators.sampling import ORACLES as SA_ORACLES

    return SA_ORACLES["phrase_search"]


ORACLES["phrase_search_indexed"] = _phrase_search_oracle()


def _proximity_oracle() -> str:
    # positions recomputed from raw documents first-principles (same
    # tokenizer twin as the phrase oracle; 0-based like posexplode)
    from ..operators.sampling import PHRASE

    return f"""
        WITH w AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(text), '\\s+'),
                               x -> x <> '') AS words
            FROM documents
        ),
        pos AS MATERIALIZED (
            SELECT doc_id, p - 1 AS p, words[p] AS word
            FROM w, unnest(generate_series(1, len(words))) AS t(p)
        ),
        pairs AS (
            SELECT a.doc_id, abs(a.p - b.p) AS d
            FROM (SELECT doc_id, p FROM pos WHERE word = '{PHRASE[0]}') a
            JOIN (SELECT doc_id, p FROM pos WHERE word = '{PHRASE[1]}') b
              ON a.doc_id = b.doc_id
            WHERE abs(a.p - b.p) <= {PROX_SLOP}
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(min(d) AS BIGINT) AS min_dist
        FROM pairs GROUP BY doc_id
    """


ORACLES["proximity_search_indexed"] = _proximity_oracle()

QUERIES = {
    "term_search_indexed": term_search_indexed,
    "phrase_search_indexed": phrase_search_indexed,
    "proximity_search_indexed": proximity_search_indexed,
    "positional_ingest_audit": positional_ingest_audit,
    "bm25_search_indexed": bm25_search_indexed,
    "bm25_search_wand": bm25_search_wand,
    "bm25_batch_indexed": bm25_batch_indexed,
    "bm25_batch_wide": bm25_batch_wide,
    "bm25_batch_wand": bm25_batch_wand,
    "bm25_ingest_audit": bm25_ingest_audit,
    "wand_tier_sweep": wand_tier_sweep,
    "wand_tier_sweep_workload": wand_tier_sweep_workload,
}
