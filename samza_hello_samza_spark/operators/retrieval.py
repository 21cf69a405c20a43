"""Ranked-retrieval and language-model scoring over ``documents``.

The reference's query surface stops at streams/tables; a training-data
engine additionally needs corpus *retrieval* (find and rank the
documents matching a query — for decontamination sweeps, eval-set
mining, targeted curation) and corpus *LM scoring* (rank documents by
how predictable they are under a model of the corpus itself). Three
operators, all pure ``pyspark.sql.functions`` column math with DuckDB
oracles:

- bm25_search     : Okapi BM25 ranking for a conjunctive-ish term
                    query (every stage an equi-shuffle; corpus stats
                    ride as 1-row broadcasts)
- tfidf_top_terms : per-document top-k terms by tf-idf (bounded
                    per-doc window, never a global sort)
- bigram_lm_nll   : bigram-LM mean negative log-likelihood per doc
                    (extends text_filters.perplexity_proxy's unigram
                    model to conditional bigram probabilities)

Scale notes: the only wide ops are groupBys on (word) / (bigram) /
(doc_id) — all natural hash-shuffle keys. BM25's per-term frames are
query-sized (|terms| rows) and broadcast; nothing is quadratic. At
100 TB the bigram join keys would be xxhash64-compressed before the
shuffle (16-byte rows instead of strings) exactly as dedup.py does —
kept as strings here so the DuckDB oracle shares the grouping key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hints import maybe_broadcast
from ..session import load_table, materialize
from .dedup import _words, explode_nonempty
from .text_analysis import SEARCH_TERMS, _WORDS_SQL

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 20
TFIDF_TOP = 3


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents for ``SEARCH_TERMS`` under Okapi BM25.

    Plan shape: one tokenize scan feeds (a) per-doc lengths and (b)
    the postings explode *pre-filtered to query terms* — the filter
    sits under the explode, so only matching words survive into the
    shuffle. Corpus stats (N, avgdl) are a 1-row aggregate cross-joined
    as a broadcast; per-term document frequencies are a |terms|-row
    frame joined via size-gated broadcast. The final ranking is
    ``TakeOrderedAndProject`` (limit 20), never a global sort.

    Scores are rounded to 4 dp BEFORE ranking with a doc_id tiebreak —
    cross-engine ln()/sum-order noise must not flip the cut line.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select("doc_id", _words(F.col("text")).alias("words"))
    lengths = words.select("doc_id", F.size("words").alias("dl"))
    stats = lengths.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    hits = (
        explode_nonempty(
            words,
            ["doc_id", F.size("words").alias("dl")],
            F.filter(F.col("words"), lambda w: w.isin(list(SEARCH_TERMS))),
            "word",
        )
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
        # NOTE (r11): tried checkpointing this tiny relation so the
        # tokenize scan runs once for df + scoring — on-box A/B read
        # the key 2.4× SLOWER (the duplicated scans run concurrently
        # in one job; the checkpoint adds a serial job). Reverted.
    )
    df = hits.groupBy("word").agg(F.count(F.lit(1)).cast("double").alias("df"))
    scored = (
        hits.join(maybe_broadcast(df), "word")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf", F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (BM25_K1 + 1))
            / (
                F.col("tf")
                + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("term_score"), 4).alias("bm25"),
            F.count(F.lit(1)).alias("n_terms_matched"),
        )
    )
    return scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(BM25_TOP)


#: reciprocal-rank-fusion constant (Cormack et al. 2009's k=60) and
#: the fused cut; each modality contributes its top-``BM25_TOP`` list.
RRF_K = 60
HYBRID_TOP = 10


def hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+vector retrieval: RRF-fuse BM25 and cosine ranks.

    The serving shape every modern RAG/search stack runs: the lexical
    list is ``bm25_search``'s top-20, the vector list is the exact
    cosine top-20 for the standard query vector (vec_id 0 — embeddings
    and documents share the id space), and the fusion is reciprocal
    rank fusion, score = Σ_lists 1/(k + rank) with k=60 — rank-only,
    so the two incomparable score scales never need calibration.

    Scale shape: each candidate list is built by its own pruned path
    (BM25's stages are query-term-sized after the pre-explode filter;
    the vector side is one column-pruned scan into
    TakeOrderedAndProject) and the fusion joins two 20-row frames —
    bounded, broadcast, trivially cheap at any corpus size. The rank
    windows order CANDIDATE-LIST-sized input (≤20 rows), not the
    corpus.

    Cross-engine discipline: both per-list scores are rounded (4dp
    bm25 / 6dp cosine) BEFORE ranking with id tiebreaks, ranks are
    integers, the RRF sum of two 1/(60+r) doubles is identical IEEE
    math in both engines and is rounded to 6dp before the final
    cut; absent-from-list sides coalesce to rank -1 / score 0.0
    (sentinels, never NULL — nullable-int hash discipline).
    """
    lex = bm25_search(spark, sf_dir).select("doc_id", "bm25")
    lex = lex.withColumn(
        "lex_rank",
        F.row_number().over(Window.orderBy(F.desc("bm25"), F.asc("doc_id"))),
    )
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    import numpy as np

    from .similarity import _dot, _norm

    qrow = e.filter(F.col("vec_id") == 0).collect()[0]
    qvec = np.asarray(qrow.v, dtype=float)
    qv = F.array(*[F.lit(float(x)) for x in qvec])
    qnorm = float(np.linalg.norm(qvec))
    vec = (
        e.filter(F.col("vec_id") != 0)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                _dot(F.col("v"), qv) / (_norm(F.col("v")) * F.lit(qnorm)), 6
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("doc_id"))
        .limit(BM25_TOP)
    )
    vec = vec.withColumn(
        "vec_rank",
        F.row_number().over(Window.orderBy(F.desc("cosine"), F.asc("doc_id"))),
    )
    fused = lex.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        F.coalesce("lex_rank", F.lit(-1)).cast("long").alias("lex_rank"),
        F.coalesce("vec_rank", F.lit(-1)).cast("long").alias("vec_rank"),
        F.coalesce("bm25", F.lit(0.0)).alias("bm25"),
        F.coalesce("cosine", F.lit(0.0)).alias("cosine"),
        F.round(
            F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("vec_rank")), F.lit(0.0)
            ),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(HYBRID_TOP)


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by tf-idf (idf = ln(N/df)).

    tf is a (doc_id, word) groupBy; df reuses the same counted frame
    (one tokenize, two aggregations). The top-k is a window over
    doc_id — per-partition cardinality is one document's vocabulary,
    bounded, so the window never concentrates load. Weight is rounded
    BEFORE row_number with a word tiebreak (cross-engine ln noise).
    """
    docs = load_table(spark, sf_dir, "documents")
    words = explode_nonempty(docs, ["doc_id"], _words(F.col("text")), "word")
    # (doc, word) counts consumed TWICE (df + the weighted join): one
    # tokenize+aggregate pass instead of two.
    tf = (
        words.groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(materialize, "corpus")
    )
    df = tf.groupBy("word").agg(F.count(F.lit(1)).cast("double").alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    weighted = (
        tf.join(df, "word")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4)
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        weighted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_TOP)
        .select("doc_id", "word", "tfidf", "rn")
    )


def bigram_lm_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean bigram negative log-likelihood per document.

    Corpus bigram LM: p(w2|w1) = cnt(w1 w2) / cnt(w1 ·) with counts
    from the corpus itself (MLE — every observed doc bigram has
    corpus count ≥ 1, so no smoothing is needed for scoring the same
    corpus). NLL(doc) = mean over its bigrams of ln(prefix) − ln(pair).
    Low = formulaic/boilerplate text; high = locally surprising word
    transitions — a sharper curation signal than the unigram
    perplexity_proxy because repeated *phrases* score as predictable
    even when their words are individually rare.

    One explode produces (doc_id, w1, bigram); pair counts and prefix
    counts are two aggregations of that frame; each occurrence joins
    both count tables (equi-joins on the bigram/prefix key) and folds
    back to one row per document. Documents with < 2 words have no
    bigrams and are absent by construction.
    """
    docs = load_table(spark, sf_dir, "documents")
    tokenized = docs.select("doc_id", _words(F.col("text")).alias("words"))
    occ_arr = F.when(
        F.size("words") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("words") - 2),
            lambda i: F.struct(
                F.element_at(F.col("words"), (i + 1).cast("int")).alias("w1"),
                F.concat_ws(
                    " ",
                    F.element_at(F.col("words"), (i + 1).cast("int")),
                    F.element_at(F.col("words"), (i + 2).cast("int")),
                ).alias("bigram"),
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRUCT<w1: STRING, bigram: STRING>>)"))
    occ = explode_nonempty(tokenized, ["doc_id"], occ_arr, "o").select(
        "doc_id", "o.w1", "o.bigram"
    ).transform(materialize, "corpus")  # pair counts, prefix counts, scoring join
    pair_cnt = occ.groupBy("bigram").agg(F.count(F.lit(1)).alias("pair_cnt"))
    prefix_cnt = occ.groupBy("w1").agg(F.count(F.lit(1)).alias("prefix_cnt"))
    return (
        occ.join(pair_cnt, "bigram")
        .join(prefix_cnt, "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.avg(F.log("prefix_cnt") - F.log("pair_cnt")), 4
            ).alias("bigram_nll"),
        )
    )


_TERMS_SQL = ", ".join(f"'{t}'" for t in SEARCH_TERMS)

ORACLES: dict[str, str] = {
    "bm25_search": f"""
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
            WHERE word IN ({_TERMS_SQL})
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
        FROM hits JOIN dfreq USING (word) CROSS JOIN stats
        GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id
        LIMIT {BM25_TOP}
    """,
    "tfidf_top_terms": f"""
        WITH tf AS (
            SELECT doc_id, word, count(*) AS tf
            FROM (SELECT doc_id, unnest({_WORDS_SQL}) AS word FROM documents)
            GROUP BY doc_id, word
        ),
        dfreq AS (
            SELECT word, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY word
        ),
        n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        weighted AS (
            SELECT doc_id, word,
                   round(tf * ln(n_docs / df), 4) AS tfidf
            FROM tf JOIN dfreq USING (word) CROSS JOIN n
        ),
        ranked AS (
            SELECT doc_id, word, tfidf,
                   row_number() OVER (
                       PARTITION BY doc_id ORDER BY tfidf DESC, word
                   ) AS rn
            FROM weighted
        )
        SELECT doc_id, word, tfidf, CAST(rn AS BIGINT) AS rn
        FROM ranked WHERE rn <= {TFIDF_TOP}
    """,
    "bigram_lm_nll": f"""
        WITH w AS (
            SELECT doc_id, {_WORDS_SQL} AS words FROM documents
        ),
        occ AS (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(words) - 1),
                          i -> words[i])) AS w1,
                   unnest(list_transform(generate_series(1, len(words) - 1),
                          i -> words[i] || ' ' || words[i+1])) AS bigram
            FROM w WHERE len(words) >= 2
        ),
        pc AS (SELECT bigram, count(*) AS pair_cnt FROM occ GROUP BY bigram),
        fc AS (SELECT w1, count(*) AS prefix_cnt FROM occ GROUP BY w1)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               round(avg(ln(prefix_cnt) - ln(pair_cnt)), 4) AS bigram_nll
        FROM occ JOIN pc USING (bigram) JOIN fc USING (w1)
        GROUP BY doc_id
    """,
}

ORACLES["hybrid_search"] = (
    """
    WITH lex0 AS MATERIALIZED (
"""
    + ORACLES["bm25_search"]
    + f"""
    ),
    lex AS (
        SELECT doc_id, bm25,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
        FROM lex0
    ),
    vec0 AS MATERIALIZED (
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        SELECT e.vec_id AS doc_id,
               round(list_cosine_similarity(e.v, q.qv), 6) AS cosine
        FROM e, q WHERE e.vec_id <> 0
        ORDER BY cosine DESC, e.vec_id LIMIT {BM25_TOP}
    ),
    vec AS (
        SELECT doc_id, cosine,
               row_number() OVER (ORDER BY cosine DESC, doc_id) AS vec_rank
        FROM vec0
    ),
    fused AS (
        SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
               CAST(coalesce(l.lex_rank, -1) AS BIGINT) AS lex_rank,
               CAST(coalesce(v.vec_rank, -1) AS BIGINT) AS vec_rank,
               coalesce(l.bm25, 0.0) AS bm25,
               coalesce(v.cosine, 0.0) AS cosine,
               round(coalesce(1.0 / ({RRF_K} + l.lex_rank), 0.0)
                   + coalesce(1.0 / ({RRF_K} + v.vec_rank), 0.0), 6) AS rrf
        FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
    )
    SELECT * FROM fused ORDER BY rrf DESC, doc_id LIMIT {HYBRID_TOP}
"""
)


QUERIES = {
    "bm25_search": bm25_search,
    "hybrid_search": hybrid_search,
    "tfidf_top_terms": tfidf_top_terms,
    "bigram_lm_nll": bigram_lm_nll,
}
