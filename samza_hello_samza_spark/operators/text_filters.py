"""Training-corpus filtering operators: repetition, PII, contamination,
language-model scoring.

The quality-filter layer of an LLM data pipeline (the Gopher/C4-style
signals), each expressed as pure ``pyspark.sql.functions`` column math
or equi-join aggregation — whole-stage codegen, no Python in the hot
path — with a DuckDB oracle:

- text_repetition    : duplicate-n-gram fractions + top-word share
                       (the Gopher repetition-removal signals)
- text_entropy       : within-doc word-distribution Shannon entropy
                       (degenerate/repetitive docs score near 0)
- pii_redact         : regex redaction of emails / IPv4s / phone
                       numbers with per-type counts
- text_contamination : benchmark-overlap detection — distinct 5-word
                       shingles of every corpus doc intersected with a
                       held-out eval set's shingle table
- perplexity_proxy   : corpus-unigram-LM mean negative log-likelihood
                       per doc (two-phase: build the frequency table,
                       score by join), the classic quality-score pass

Scale notes (100 TB):
- Per-doc distinct shingles use ``array_distinct`` on the in-row array
  (no shuffle) before any explode, so the contamination join moves one
  row per *distinct* (doc, shingle).
- The benchmark shingle relation is eval-suite-sized → size-gated
  broadcast (``maybe_broadcast``); the unigram frequency table is
  vocabulary-sized and Zipf-skewed → also size-gated, falling back to
  an AQE shuffle join when the vocabulary outgrows the budget.
- The corpus-total row in ``perplexity_proxy`` is a 1-row broadcast
  (same pattern as nation_revenue_share) — never a global window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hints import maybe_broadcast
from ..session import load_table, materialize
from .dedup import _shingles, _words, explode_nonempty
from .sampling import CURRICULUM_STAGE_CASE as _CURRICULUM_STAGE_CASE
from .sampling import CURRICULUM_STAGE_CTES as _CURRICULUM_STAGE_CTES
from .text_analysis import BPE_TOKEN_REGEX

# ---------------------------------------------------------------------------
# text_repetition
# ---------------------------------------------------------------------------

#: Gopher-style keep thresholds (Rae et al. 2021, table A1 spirit).
MAX_TOP_WORD_FRAC = 0.20
MAX_DUP_BIGRAM_FRAC = 0.50


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-n-gram / top-word repetition signals per document.

    ``top_word_frac`` (share of the most frequent word) comes from an
    explode → two-level aggregation — the distributed plan, since a
    100 TB doc set cannot hold per-doc hash maps driver-side.
    ``dup_bigram_frac`` (1 − distinct/total bigrams) uses
    ``array_distinct`` on the per-row shingle array: per-doc state only,
    no shuffle. The two per-doc aggregates meet in one equi-join on
    doc_id.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", _words(F.col("text")).alias("words"))

    word_counts = (
        tok.select("doc_id", F.explode("words").alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.max("cnt").alias("top_cnt"),
            F.sum("cnt").alias("n_words"),
        )
    )
    bigrams = tok.select(
        "doc_id", _shingles(F.col("words"), k=2).alias("bg")
    ).select(
        "doc_id",
        F.size("bg").alias("n_bigrams"),
        F.size(F.array_distinct("bg")).alias("n_distinct_bigrams"),
    )
    top_frac = F.round(F.col("top_cnt") / F.col("n_words"), 6)
    dup_frac = F.round(
        F.when(
            F.col("n_bigrams") > 0,
            1.0 - F.col("n_distinct_bigrams") / F.col("n_bigrams"),
        ).otherwise(F.lit(0.0)),
        6,
    )
    return (
        word_counts.join(bigrams, "doc_id")
        .select(
            "doc_id",
            F.col("n_words").cast("long").alias("n_words"),
            top_frac.alias("top_word_frac"),
            dup_frac.alias("dup_bigram_frac"),
            (
                (top_frac <= MAX_TOP_WORD_FRAC) & (dup_frac <= MAX_DUP_BIGRAM_FRAC)
            ).cast("int").alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# text_entropy
# ---------------------------------------------------------------------------


def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc word-distribution Shannon entropy (nats).

    H = ln(n) − (Σ cnt·ln(cnt))/n over the doc's word counts — the
    algebraic form that needs only two sums, so the whole thing is
    explode → groupBy(doc,word) → groupBy(doc): two shuffles on keys
    that shrink geometrically. Repetitive docs → H near 0; diverse
    docs → H near ln(distinct words).
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        explode_nonempty(docs, ["doc_id"], _words(F.col("text")), "word")
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    agg = counts.groupBy("doc_id").agg(
        F.sum("cnt").alias("n"),
        F.sum(F.col("cnt") * F.log(F.col("cnt"))).alias("sum_clogc"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    return agg.select(
        "doc_id",
        F.col("n").cast("long").alias("n_words"),
        F.col("n_distinct").cast("long").alias("n_distinct_words"),
        F.round(F.log(F.col("n")) - F.col("sum_clogc") / F.col("n"), 4).alias("entropy_nats"),
    )


# ---------------------------------------------------------------------------
# pii_redact
# ---------------------------------------------------------------------------

#: deliberately lookaround-free so Java regex and RE2 (DuckDB) agree.
EMAIL_RE = r"[A-Za-z0-9._]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PHONE_RE = r"\b555-[0-9]{4}\b"


def _with_contact(docs: DataFrame) -> DataFrame:
    """Deterministically synthesize a contact trailer per doc.

    The synthetic corpus carries no real PII, so — exactly like the
    wikipedia raw lines rebuilt from events columns — a contact string
    is derived from (doc_id, source) in both engines, making the
    redaction path exercisable and oracle-checkable.
    """
    contact = F.concat(
        F.lit("user"),
        F.col("doc_id").cast("string"),
        F.lit("@"),
        F.col("source"),
        F.lit(".example.com ip 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."),
        ((F.col("doc_id") * 7) % 256).cast("string"),
        F.lit(" call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    return docs.withColumn("full_text", F.concat(F.col("text"), F.lit(" "), contact))


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact emails / IPv4s / phone numbers; count each PII type.

    Three chained ``regexp_replace`` passes in one codegen'd projection
    — order matters (emails first, since the email pattern would
    otherwise leave '@'-adjacent dots for the IP pass). The output
    carries md5(redacted) rather than the full text so the oracle
    compares redaction *exactly* without hashing megabyte strings
    driver-side.
    """
    docs = _with_contact(load_table(spark, sf_dir, "documents"))
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("full_text"), EMAIL_RE, "<EMAIL>"),
            IPV4_RE,
            "<IP>",
        ),
        PHONE_RE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("full_text"), F.lit(f"({EMAIL_RE})"), 1))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("full_text"), F.lit(f"({IPV4_RE})"), 1))
        .cast("long")
        .alias("n_ips"),
        F.size(F.regexp_extract_all(F.col("full_text"), F.lit(f"({PHONE_RE})"), 1))
        .cast("long")
        .alias("n_phones"),
        F.md5(redacted).alias("redacted_hash"),
    )


# ---------------------------------------------------------------------------
# text_contamination
# ---------------------------------------------------------------------------

#: every 50th doc plays the held-out benchmark / eval set.
BENCHMARK_MOD = 50
SHINGLE_K = 5


def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination rate per training doc.

    Decontamination pass: the distinct 5-word shingles of each corpus
    doc are intersected with the shingle set of a held-out benchmark
    (doc_id % 50 == 0 stands in for the eval suite). ``array_distinct``
    runs per-row *before* the explode, so the join input is one row per
    distinct (doc, shingle); the benchmark relation is eval-sized →
    size-gated broadcast. Docs shorter than the shingle width surface
    with rate 0 rather than disappearing.
    """
    docs = load_table(spark, sf_dir, "documents")
    # materialize words first: _shingles dereferences the array k times
    # per shingle, and an inlined split() would re-tokenize per access.
    tok = docs.select("doc_id", _words(F.col("text")).alias("words"))
    shingled = tok.select(
        "doc_id",
        F.array_distinct(
            F.transform(_shingles(F.col("words"), k=SHINGLE_K), F.md5)
        ).alias("sh"),
    ).transform(materialize, "corpus")  # benchmark side, corpus explode, totals
    corpus = shingled.filter(F.col("doc_id") % BENCHMARK_MOD != 0)
    # explode_nonempty: the plain-explode inferred guard re-derives the
    # whole shingle pipeline twice per row (34 s → 5.7 s at sf0.1).
    bench_sh = explode_nonempty(
        shingled.filter(F.col("doc_id") % BENCHMARK_MOD == 0), [], F.col("sh"), "h"
    ).distinct()
    exploded = explode_nonempty(corpus, ["doc_id"], F.col("sh"), "h")
    contaminated = (
        exploded.join(maybe_broadcast(bench_sh), "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    totals = corpus.select("doc_id", F.size("sh").alias("n_shingles"))
    return (
        totals.join(contaminated, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("long").alias("n_contaminated"),
            F.round(
                F.when(
                    F.col("n_shingles") > 0,
                    F.coalesce(F.col("n_contaminated"), F.lit(0)) / F.col("n_shingles"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("contamination_rate"),
        )
    )


# ---------------------------------------------------------------------------
# contamination_bloom
# ---------------------------------------------------------------------------

# the reusable primitive lives in functions/bloom.py; re-exported here
# because the decontamination family is its anchor consumer (tests and
# streaming/jobs.decontamination_job import through this module).
from ..functions.bloom import (  # noqa: E402  (grouped with its consumers)
    BLOOM_K,
    BLOOM_MAX_BITS,
    BLOOM_MIN_BITS,
    bloom_semi_join,
    build_bloom,
)
from ..functions.bloom import member_sql as _bloom_member_sql  # noqa: E402


def contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``text_contamination`` through a broadcast-Bloom prefilter — the
    100 TB decontamination path, still END-TO-END EXACT.

    At scale the corpus side explodes to ~10¹¹ (doc, shingle) rows and
    every one of them would probe the benchmark hash relation. Here a
    Bloom filter over the benchmark shingle hashes (eval suites are
    bounded, so the collect is bounded — same discipline as the k-means
    centroids) is shipped as a long-array literal and evaluated in
    whole-stage codegen; only the ~0.2% of probes that hit the filter
    reach the exact left-semi confirm join, which removes the false
    positives. No false negatives are possible (same md5 slices on both
    sides), so the output is bit-identical to ``text_contamination`` —
    this key shares its oracle. This is Spark's own runtime bloom-join
    pruning made explicit and deterministic.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", _words(F.col("text")).alias("words"))
    shingled = tok.select(
        "doc_id",
        F.array_distinct(
            F.transform(_shingles(F.col("words"), k=SHINGLE_K), F.md5)
        ).alias("sh"),
    ).transform(materialize, "corpus")  # benchmark side, corpus explode, totals
    corpus = shingled.filter(F.col("doc_id") % BENCHMARK_MOD != 0)
    bench_sh = explode_nonempty(
        shingled.filter(F.col("doc_id") % BENCHMARK_MOD == 0), [], F.col("sh"), "h"
    ).distinct()
    bench_sh = materialize(bench_sh, "bounded")  # bloom build + confirm join share it
    exploded = explode_nonempty(corpus, ["doc_id"], F.col("sh"), "h")
    contaminated = (
        bloom_semi_join(exploded, bench_sh, "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    totals = corpus.select("doc_id", F.size("sh").alias("n_shingles"))
    return (
        totals.join(contaminated, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("long").alias("n_contaminated"),
            F.round(
                F.when(
                    F.col("n_shingles") > 0,
                    F.coalesce(F.col("n_contaminated"), F.lit(0)) / F.col("n_shingles"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("contamination_rate"),
        )
    )


# ---------------------------------------------------------------------------
# perplexity_proxy
# ---------------------------------------------------------------------------


def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents bucketed by ⌊log2(n_chars)⌋ with per-bucket word stats.

    The corpus-card length distribution: geometric buckets via the
    integer-exact ``length(bin(x)) − 1`` trick (no libm log), word
    counts from one tokenize pass, per-bucket share against a 1-row
    total broadcast.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = (F.length(F.bin(F.col("n_chars"))) - 1).alias("log2_chars")
    per_bucket = (
        docs.select(bucket, F.size(_words(F.col("text"))).alias("n_words"))
        .groupBy("log2_chars")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
        )
        .transform(materialize, "bounded")  # ~32 rows; total AND report
    )
    total = per_bucket.agg(F.sum("n_docs").alias("t"))
    return per_bucket.crossJoin(maybe_broadcast(total)).select(
        F.col("log2_chars").cast("int").alias("log2_chars"),
        F.col("n_docs").cast("long").alias("n_docs"),
        "n_words",
        F.round(F.col("n_docs") / F.col("t"), 4).alias("doc_share"),
    )


BOILERPLATE_DF = 3  # a sentence in ≥3 docs is boilerplate
_SENT_SPLIT = r"[.!?]+"


def boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style boilerplate-sentence detection per document.

    The line-dedup step of C4 (Raffel et al. 2020): sentences that
    recur across many documents (nav text, disclaimers, templates)
    are boilerplate. Sentences come from one regex split (identical
    pattern both engines), per-doc DISTINCT in-row; the corpus
    document-frequency table joins back on the sentence hash, and
    each doc reports how much of it is boilerplate (df ≥ 3). The
    removal rewrite itself is the same join with a filter — the
    report is the auditable half.
    """
    docs = load_table(spark, sf_dir, "documents")
    sent_arr = F.array_distinct(
        F.filter(
            F.transform(
                F.split(F.lower(F.col("text")), _SENT_SPLIT),
                lambda s: F.trim(s),
            ),
            lambda s: s != "",
        )
    )
    sents = explode_nonempty(docs, ["doc_id"], sent_arr, "sent").select(
        "doc_id", F.md5("sent").alias("h")
    )
    # df-table and per-doc join share it; one row per sentence
    sents = materialize(sents, "corpus")
    df_tbl = sents.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    return (
        sents.join(df_tbl, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sentences"),
            F.sum((F.col("df") >= BOILERPLATE_DF).cast("long")).alias(
                "n_boilerplate"
            ),
        )
        .select(
            "doc_id",
            F.col("n_sentences").cast("long").alias("n_sentences"),
            F.col("n_boilerplate").cast("long").alias("n_boilerplate"),
            F.round(F.col("n_boilerplate") / F.col("n_sentences"), 4).alias(
                "boilerplate_share"
            ),
        )
    )


COVERAGE_KS = (10, 100, 1000)


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative corpus coverage of the top-k vocabulary (Zipf check).

    "How much of the corpus do the 10 / 100 / 1000 most frequent
    words cover?" — the tokenizer-budget question. The top-1000
    vocabulary rows come from a DISTRIBUTED top-k
    (TakeOrderedAndProject, never a vocab-wide global sort); ranking
    within those 1000 rows is a bounded single-partition window; the
    corpus total is a 1-row broadcast. Order (freq desc, word) is
    total, so ties are engine-exact.
    """
    docs = load_table(spark, sf_dir, "documents")
    # vocabulary-bounded counts consumed TWICE (corpus total + top-k
    # cut), and the ranked top-k is consumed once per coverage k:
    # materialize both so the corpus tokenize+aggregate runs ONCE —
    # the lazy chain re-ran it for the total and per loop row.
    vocab = (
        explode_nonempty(docs, [], _words(F.col("text")), "word")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .transform(materialize, "bounded")
    )
    total = vocab.agg(F.sum("freq").alias("total"))
    top = vocab.orderBy(F.desc("freq"), "word").limit(max(COVERAGE_KS))
    from pyspark.sql import Window

    rn = F.row_number().over(Window.orderBy(F.desc("freq"), "word"))
    ranked = materialize(top.withColumn("rn", rn), "bounded")  # ≤1000 rows
    per_k = None
    for k in COVERAGE_KS:
        row = ranked.agg(
            F.lit(k).alias("k"),
            F.sum(F.when(F.col("rn") <= k, F.col("freq")).otherwise(0)).alias(
                "covered_tokens"
            ),
        )
        per_k = row if per_k is None else per_k.unionByName(row)
    return per_k.crossJoin(maybe_broadcast(total)).select(
        "k",
        F.col("covered_tokens").cast("long").alias("covered_tokens"),
        F.col("total").cast("long").alias("total_tokens"),
        F.round(F.col("covered_tokens") / F.col("total"), 6).alias("coverage"),
    )


#: Zipf fit over the top-K vocabulary: bounded, deterministic, and
#: where the law actually holds (the tail bends away from power-law).
ZIPF_TOP_K = 1000


def zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-card Zipf exponent: OLS fit of ln(freq) on ln(rank) over
    the top-1000 vocabulary.

    The tokenizer-budget / corpus-health metric (natural text sits
    near slope −1; heavy boilerplate or dedup failure pushes it
    shallower). The top-K cut is a distributed top-k
    (TakeOrderedAndProject, freq desc with word tiebreak — identical
    rank assignment in both engines); the rank window then runs over
    those K rows only (bounded — the vocab_coverage pattern), and the
    regression is one `regr_slope/intercept/corr` aggregate over exact
    integer (rank, freq) pairs passed through ln().
    """
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        explode_nonempty(docs, [], _words(F.col("text")), "word")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    top = vocab.orderBy(F.desc("freq"), "word").limit(ZIPF_TOP_K)
    from pyspark.sql import Window

    ranked = top.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.desc("freq"), "word"))
    )
    return ranked.select(
        F.log(F.col("rn").cast("double")).alias("x"),
        F.log(F.col("freq").cast("double")).alias("y"),
    ).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.round(F.regr_slope("y", "x"), 4).alias("slope"),
        F.round(F.regr_intercept("y", "x"), 4).alias("intercept"),
        F.round(F.corr("y", "x"), 4).alias("r"),
    )


def text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: share of its distinct bigrams that occur
    NOWHERE else in the corpus (df = 1).

    The memorization/uniqueness signal: boilerplate-heavy docs score
    near 0, genuinely novel text near 1. Per-row ``array_distinct``
    bounds the explode to distinct (doc, bigram) rows; the bigram
    document-frequency table joins back on the bigram (equi-join,
    vocabulary-sized build side under AQE).
    """
    docs = load_table(spark, sf_dir, "documents")
    # words materialized as its own projection — inlining _words into
    # the shingle lambda re-tokenizes per element access (trigram_lm's
    # 14s→4s lesson).
    tok = docs.select("doc_id", _words(F.col("text")).alias("words"))
    bg = explode_nonempty(
        tok, ["doc_id"], F.array_distinct(_shingles(F.col("words"), 2)), "bigram"
    )
    # materialize once: the df-table and the per-doc join share it;
    # one row per (doc, distinct bigram)
    bg = materialize(bg, "corpus")
    df_tbl = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("df"))
    return (
        bg.join(df_tbl, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum((F.col("df") == 1).cast("long")).alias("n_unique"),
        )
        .select(
            "doc_id",
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            F.col("n_unique").cast("long").alias("n_unique"),
            F.round(F.col("n_unique") / F.col("n_bigrams"), 6).alias("novelty"),
        )
    )


def corpus_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do the heuristic quality gate and the LM signal agree?

    The pipeline-QA composition: join the per-doc heuristic
    ``quality_score`` (text_analysis) with the unigram-LM ``avg_nll``
    (perplexity_proxy) and report their correlation plus the mean NLL
    on each side of the 0.5 quality cut. A strongly positive
    correlation would mean the cheap gate keeps exactly the documents
    the LM finds surprising — the calibration check run before
    trusting either filter at corpus scale. One row out; the join is
    doc_id ⋈ doc_id (both sides already reduced per doc).
    """
    from .text_analysis import text_quality

    q = text_quality(spark, sf_dir).select("doc_id", "quality_score")
    p = perplexity_proxy(spark, sf_dir).select("doc_id", "avg_nll")
    j = q.join(p, "doc_id")
    low = F.when(F.col("quality_score") < 0.5, F.col("avg_nll"))
    high = F.when(F.col("quality_score") >= 0.5, F.col("avg_nll"))
    return j.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.corr("quality_score", "avg_nll"), 4).alias("corr_quality_nll"),
        # -999 sentinel: an empty side of the cut must stringify the
        # same in both engines (Spark NULL vs DuckDB NaN otherwise).
        F.coalesce(F.round(F.avg(low), 4), F.lit(-999.0)).alias("avg_nll_lowq"),
        F.coalesce(F.round(F.avg(high), 4), F.lit(-999.0)).alias("avg_nll_highq"),
    )


def perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram-LM mean negative log-likelihood per document.

    Two-phase LM scoring: (1) the frequency table — one groupBy(word)
    over the corpus, vocabulary-sized output; (2) every word occurrence
    joins its corpus count (size-gated broadcast, AQE shuffle join
    beyond the budget) and docs aggregate mean ln(count). With
    p(w) = cnt(w)/total, mean NLL = ln(total) − mean(ln cnt) — the
    corpus total rides in as a 1-row broadcast, never a global window.
    Higher = more surprising under the corpus LM (rare-word-heavy);
    degenerate repetition scores near-zero NLL.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = explode_nonempty(docs, ["doc_id"], _words(F.col("text")), "word")
    freq = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    total = freq.agg(F.sum("cnt").cast("double").alias("total"))
    per_doc = (
        words.join(maybe_broadcast(freq), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(F.log(F.col("cnt"))).alias("avg_log_cnt"),
        )
    )
    return per_doc.crossJoin(maybe_broadcast(total)).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(F.log(F.col("total")) - F.col("avg_log_cnt"), 4).alias("avg_nll"),
    )


# ---------------------------------------------------------------------------
# corpus_profile — multi-query fusion
# ---------------------------------------------------------------------------


def corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every per-row document metric in ONE scan (multi-query fusion).

    A real pipeline wants quality + token counts + readability for each
    doc; running the three registered queries separately costs three
    corpus scans. This plan reuses the same shared expression builders
    (``text_analysis.quality_cols``/``tokencount_cols``/
    ``readability_cols``) in a single codegen'd projection — one
    FileScan, byte-identical values (plan-asserted in tests). At 100 TB
    the saved scans are the dominant cost: N metrics for the price of
    one pass.
    """
    from .text_analysis import quality_cols, readability_cols, tokencount_cols

    docs = load_table(spark, sf_dir, "documents")
    cols = {
        **quality_cols(F.col("text")),
        **tokencount_cols(F.col("text")),
        **readability_cols(F.col("text")),
    }
    return docs.select("doc_id", "lang", *[c.alias(n) for n, c in cols.items()])


# ---------------------------------------------------------------------------
# sequence_packing
# ---------------------------------------------------------------------------

#: tokens per packed training sequence.
SEQ_BUDGET = 256
#: docs per prefix-sum bucket; sized so the bucket-totals relation
#: stays broadcastable (tune upward with corpus size — 1e6-row buckets
#: keep 10B docs at ~10k totals).
PACK_BUCKET_DOCS = 1000


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign docs to fixed-token-budget training sequences.

    Sequence building needs each doc's *global* token offset in
    doc_id order — a prefix sum, which naively is a single-partition
    Window (the classic 100 TB bottleneck: one row per doc). Here it is
    the two-phase distributed form: exclusive cumsum inside doc_id-range
    buckets + per-bucket offsets from a triangular broadcast join over
    the tiny bucket-totals relation. A doc's
    sequence is where its cumulative start falls:
    ``seq_id = floor(cum_before / budget)``.
    """
    from pyspark.sql import Window

    from .text_analysis import tokencount_cols

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        tokencount_cols(F.col("text"))["bpe_tokens"].alias("n_tokens"),
        F.floor(F.col("doc_id") / PACK_BUCKET_DOCS).alias("_bucket"),
    )
    in_bucket = (
        Window.partitionBy("_bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # NOTE (r11): tried materializing `within` so the tokenize scan
    # feeds both the window and the bucket totals once — an on-box A/B
    # read it SLOWER (sf0.1 0.83→0.76 flat but the curriculum chain
    # 2.4→5.5 s): at bench SFs the duplicated subtrees execute
    # CONCURRENTLY inside one job on spare cores, while the eager
    # checkpoint serializes the plan into extra jobs and pays a
    # docs-sized window serialization. Reverted — redundant-but-
    # parallel beats materialized-but-serial until cores saturate.
    within = toks.withColumn(
        "_cum_in", F.coalesce(F.sum("n_tokens").over(in_bucket), F.lit(0))
    )
    totals = toks.groupBy("_bucket").agg(F.sum("n_tokens").alias("_total"))
    earlier = totals.select(F.col("_bucket").alias("_b2"), F.col("_total").alias("_t2"))
    # bucket-totals is bounded by construction (corpus_size /
    # PACK_BUCKET_DOCS rows) → forced broadcast is safe, same pattern
    # as parts_skyline's bucket maxima.
    offsets = (
        totals.join(F.broadcast(earlier), F.col("_b2") < F.col("_bucket"), "left")
        .groupBy("_bucket")
        .agg(F.coalesce(F.sum("_t2"), F.lit(0)).cast("long").alias("_offset"))
    )
    cum_before = F.col("_cum_in") + F.col("_offset")
    return (
        within.join(F.broadcast(offsets), "_bucket")
        .select(
            "doc_id",
            "n_tokens",
            F.floor(cum_before / SEQ_BUDGET).cast("long").alias("seq_id"),
            (cum_before % SEQ_BUDGET).cast("long").alias("offset_in_seq"),
        )
    )


def sequence_packing_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language training-sequence assignment (grouped packing).

    Multilingual training packs sequences WITHIN a language (mixing
    languages inside one context window wastes it), so the prefix sum
    restarts per lang: the same two-phase distributed form as
    ``sequence_packing`` with every stage keyed by (lang, bucket) —
    in-bucket window partitioned by both, bucket totals per lang,
    triangular offset join constrained to the same lang. Nothing
    funnels through one partition; each language packs independently
    and in parallel.
    """
    from pyspark.sql import Window

    from .text_analysis import tokencount_cols

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        tokencount_cols(F.col("text"))["bpe_tokens"].alias("n_tokens"),
        F.floor(F.col("doc_id") / PACK_BUCKET_DOCS).alias("_bucket"),
    )
    in_bucket = (
        Window.partitionBy("lang", "_bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # (same r11 revert note as sequence_packing: parallel redundant
    # subtrees beat a serial checkpoint at bench SFs)
    within = toks.withColumn(
        "_cum_in", F.coalesce(F.sum("n_tokens").over(in_bucket), F.lit(0))
    )
    totals = toks.groupBy("lang", "_bucket").agg(F.sum("n_tokens").alias("_total"))
    earlier = totals.select(
        F.col("lang").alias("_l2"), F.col("_bucket").alias("_b2"), F.col("_total").alias("_t2")
    )
    offsets = (
        totals.join(
            F.broadcast(earlier),
            (F.col("_l2") == F.col("lang")) & (F.col("_b2") < F.col("_bucket")),
            "left",
        )
        .groupBy("lang", "_bucket")
        .agg(F.coalesce(F.sum("_t2"), F.lit(0)).cast("long").alias("_offset"))
    )
    cum_before = F.col("_cum_in") + F.col("_offset")
    return (
        within.join(F.broadcast(offsets), ["lang", "_bucket"])
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.floor(cum_before / SEQ_BUDGET).cast("long").alias("seq_id"),
            (cum_before % SEQ_BUDGET).cast("long").alias("offset_in_seq"),
        )
    )


def sequence_packing_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence assignment per (language, curriculum stage).

    The actual training-mixture shape (VERDICT r04 #9):
    ``curriculum_assign`` buckets docs into quality-quartile stages,
    and each (lang, stage) cell packs its own fixed-budget sequences
    independently — mixing stages inside one context window would
    defeat the curriculum exactly like mixing languages would. Same
    two-phase distributed prefix sum as ``sequence_packing_grouped``
    with every stage of the plan keyed by (lang, stage, bucket): the
    in-bucket window, the bucket totals, and the triangular offset
    join all carry both keys, so no cell ever funnels through one
    partition and cells pack in parallel. The stage column arrives by
    one doc_id equi-join against the curriculum assignment (both
    sides corpus-sized → sort-merge on the shared key).
    """
    from pyspark.sql import Window

    from .sampling import curriculum_assign
    from .text_analysis import tokencount_cols

    stages = curriculum_assign(spark, sf_dir).select("doc_id", "stage")
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            "lang",
            tokencount_cols(F.col("text"))["bpe_tokens"].alias("n_tokens"),
            F.floor(F.col("doc_id") / PACK_BUCKET_DOCS).alias("_bucket"),
        )
        .join(stages, "doc_id")
    )
    in_bucket = (
        Window.partitionBy("lang", "stage", "_bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # (same r11 revert note as sequence_packing: parallel redundant
    # subtrees beat a serial checkpoint at bench SFs — measured 2.4 s
    # → 5.5 s with the checkpoint on this chain)
    within = toks.withColumn(
        "_cum_in", F.coalesce(F.sum("n_tokens").over(in_bucket), F.lit(0))
    )
    totals = toks.groupBy("lang", "stage", "_bucket").agg(
        F.sum("n_tokens").alias("_total")
    )
    earlier = totals.select(
        F.col("lang").alias("_l2"),
        F.col("stage").alias("_s2"),
        F.col("_bucket").alias("_b2"),
        F.col("_total").alias("_t2"),
    )
    offsets = (
        totals.join(
            F.broadcast(earlier),
            (F.col("_l2") == F.col("lang"))
            & (F.col("_s2") == F.col("stage"))
            & (F.col("_b2") < F.col("_bucket")),
            "left",
        )
        .groupBy("lang", "stage", "_bucket")
        .agg(F.coalesce(F.sum("_t2"), F.lit(0)).cast("long").alias("_offset"))
    )
    cum_before = F.col("_cum_in") + F.col("_offset")
    return (
        within.join(F.broadcast(offsets), ["lang", "stage", "_bucket"])
        .select(
            "doc_id",
            "lang",
            "stage",
            "n_tokens",
            F.floor(cum_before / SEQ_BUDGET).cast("long").alias("seq_id"),
            (cum_before % SEQ_BUDGET).cast("long").alias("offset_in_seq"),
        )
    )


# ---------------------------------------------------------------------------
# corpus statistics
# ---------------------------------------------------------------------------


def corpus_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus card: tokens, vocabulary, distinct bigrams, TTR.

    Distinct-counts run as two independent aggregations (word explode,
    bigram explode) whose 1-row results broadcast-join — never a
    multi-distinct single pass, which would force one giant Expand.
    At unbounded vocabulary the HLL variant (approx_count_distinct)
    is the sketch path, as with events_dau_approx.
    """
    docs = load_table(spark, sf_dir, "documents")
    # tokenized arrays consumed by BOTH independent aggregations (word
    # explode + bigram explode): one regex tokenize pass instead of
    # two.
    tok = docs.select("doc_id", _words(F.col("text")).alias("words"))
    tok = materialize(tok, "corpus")
    words = tok.select(F.explode("words").alias("word"))
    bigrams = explode_nonempty(tok, [], _shingles(F.col("words"), k=2), "bigram")
    w_stats = words.agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count_distinct("word").alias("vocab_size"),
    )
    b_stats = bigrams.agg(F.count_distinct("bigram").alias("distinct_bigrams"))
    return w_stats.crossJoin(b_stats).select(
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("vocab_size").cast("long").alias("vocab_size"),
        F.col("distinct_bigrams").cast("long").alias("distinct_bigrams"),
        F.round(F.col("vocab_size") / F.col("n_tokens"), 6).alias("type_token_ratio"),
    )


def token_frequency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf check: word types bucketed by ⌊log2(frequency)⌋.

    The log2 floor is computed as ``length(bin(cnt)) − 1`` — integer
    bit-length, exact in both engines, immune to the last-ulp libm
    drift a float ``floor(ln(cnt)/ln 2)`` has at exact powers of two.
    Vocabulary-sized shuffle, then a ~32-row final aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = explode_nonempty(docs, [], _words(F.col("text")), "word")
    freq = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    bucket = (F.length(F.bin(F.col("cnt"))) - 1).alias("log2_freq")
    return (
        freq.groupBy(bucket)
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum("cnt").cast("long").alias("n_tokens"),
        )
    )


CHUNK_SIZE = 64  # tokens per chunk
CHUNK_STEP = 48  # stride → 16-token overlap between adjacent chunks


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (64-token chunks, 16 overlap)
    — the RAG/pretraining segmentation primitive upstream of packing
    and chunk-level dedup.

    In-row expansion: chunk index comes from ``sequence(0, n_chunks-1)``
    exploded per doc and each chunk is a ``slice`` of the materialized
    token array — no join, no shuffle before the (narrow) output.
    Rows ship (doc_id, chunk_id, n_tokens, md5) — the HASH of the
    chunk text, never the text itself, so at 100 TB the chunk table is
    rows × ~50 bytes and feeds chunk-level dedup directly (the same
    keep-hashes-move-nothing shape as dedup_exact).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", _words(F.col("text")).alias("words")).filter(
        F.size("words") > 0
    )
    n = F.size("words")
    n_chunks = F.when(n <= CHUNK_SIZE, F.lit(1)).otherwise(
        F.ceil((n - CHUNK_SIZE) / F.lit(float(CHUNK_STEP))).cast("long") + 1
    )
    chunked = explode_nonempty(
        tok, ["doc_id", "words"], F.sequence(F.lit(0), n_chunks - 1), "chunk_id"
    )
    chunk = F.slice(
        F.col("words"), (F.col("chunk_id") * CHUNK_STEP + 1).cast("int"), CHUNK_SIZE
    )
    return chunked.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


# ---------------------------------------------------------------------------
# gopher_quality_filters — the full published ruleset, per-rule evidence
# ---------------------------------------------------------------------------

#: Gopher document-quality rule thresholds (Rae et al. 2021, appendix A1).
#: The reference's quality gates are stream filters over a score
#: (cookbook filter jobs); this is the batch analog carrying the WHOLE
#: ruleset with per-rule evidence columns, so a pipeline owner can see
#: WHICH rule drops a document rather than just that one did.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.10
GOPHER_MIN_ALPHA_WORD_RATIO = 0.80
GOPHER_MIN_STOPWORD_HITS = 2
GOPHER_MAX_BULLET_LINE_RATIO = 0.90
GOPHER_MAX_ELLIPSIS_LINE_RATIO = 0.30
#: same tiny public function-word list text_quality votes with.
GOPHER_STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "that", "it", "for")


def gopher_quality_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher rule evaluation: signals, fail count, keep.

    Every signal is a single-pass array/regex expression over the
    ``text`` column — one column-pruned scan, zero shuffles, fully
    inside whole-stage codegen; at 100 TB this is embarrassingly
    partition-parallel (the classic map-only corpus pass). Ratios are
    rounded to 6dp BEFORE threshold comparison so the keep decision is
    identical in both engines (float-boundary discipline, same as the
    zone-map round rule).
    """
    docs = load_table(spark, sf_dir, "documents")
    words = _words(F.col("text"))
    n_words = F.size(words)
    sum_len = F.aggregate(
        F.transform(words, lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    mean_wl = F.round(
        F.when(n_words > 0, sum_len / n_words).otherwise(F.lit(0.0)), 6
    )
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
    alpha_ratio = F.round(
        F.when(n_words > 0, n_alpha / n_words).otherwise(F.lit(0.0)), 6
    )
    n_sym = (
        F.regexp_count(F.col("text"), F.lit("#"))
        + F.regexp_count(F.col("text"), F.lit(r"\.\.\."))
        + F.regexp_count(F.col("text"), F.lit("…"))
    )
    sym_ratio = F.round(
        F.when(n_words > 0, n_sym / n_words).otherwise(F.lit(0.0)), 6
    )
    n_stop = F.size(F.filter(words, lambda w: w.isin(*GOPHER_STOPWORDS)))
    lines = F.split(F.col("text"), "\n")
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]")))
    n_ellipsis = F.size(
        F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))
    )
    bullet_ratio = F.round(
        F.when(n_lines > 0, n_bullet / n_lines).otherwise(F.lit(0.0)), 6
    )
    ellipsis_ratio = F.round(
        F.when(n_lines > 0, n_ellipsis / n_lines).otherwise(F.lit(0.0)), 6
    )

    def _fail(cond: F.Column) -> F.Column:
        return F.when(cond, F.lit(0)).otherwise(F.lit(1))

    staged = docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        alpha_ratio.alias("alpha_word_ratio"),
        sym_ratio.alias("symbol_word_ratio"),
        n_stop.cast("long").alias("n_stop_hits"),
        bullet_ratio.alias("bullet_line_ratio"),
        ellipsis_ratio.alias("ellipsis_line_ratio"),
    )
    n_failed = (
        _fail(F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS))
        + _fail(
            F.col("mean_word_len").between(
                GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN
            )
        )
        + _fail(F.col("symbol_word_ratio") <= GOPHER_MAX_SYMBOL_RATIO)
        + _fail(F.col("alpha_word_ratio") >= GOPHER_MIN_ALPHA_WORD_RATIO)
        + _fail(F.col("n_stop_hits") >= GOPHER_MIN_STOPWORD_HITS)
        + _fail(F.col("bullet_line_ratio") <= GOPHER_MAX_BULLET_LINE_RATIO)
        + _fail(F.col("ellipsis_line_ratio") <= GOPHER_MAX_ELLIPSIS_LINE_RATIO)
    )
    return staged.select(
        "*",
        n_failed.cast("long").alias("n_rules_failed"),
        F.when(n_failed == 0, F.lit(1)).otherwise(F.lit(0)).cast("long").alias("keep"),
    )


def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail corpus split by LM perplexity.

    Wenzek et al. 2020 (CCNet) bucket Common Crawl per language into
    perplexity terciles and train on the head. Composition: the
    ``perplexity_proxy`` per-doc NLL joins the document's language,
    per-language tercile thresholds come from one exact-percentile
    aggregate (languages-sized output → broadcast back), and the
    bucket label is a threshold comparison. Thresholds round to 6dp
    before comparison (percentile ≡ quantile_cont at 6dp — the
    cross-engine bridge), and the doc NLL is already rounded to 4dp,
    so bucket assignment is engine-exact.

    Scale shape: the corpus passes once through the LM scorer (two
    hash aggregates + one vocabulary join), thresholds are a
    languages × 2 relation (broadcast), and the final rollup is a
    (lang, bucket) hash agg — no windows, no sorts, nothing
    corpus-sized on the driver.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    p = perplexity_proxy(spark, sf_dir).select("doc_id", "avg_nll")
    # NOTE (r11): tried checkpointing this join so the LM scorer runs
    # one corpus pass for thresholds + bucketing — on-box A/B read the
    # key SLOWER on both tiers (the two scorer subtrees execute
    # concurrently in one job; the checkpoint serializes). Reverted.
    j = docs.join(p, "doc_id")
    th = j.groupBy("lang").agg(
        F.round(F.percentile("avg_nll", F.lit(1.0 / 3)), 6).alias("t1"),
        F.round(F.percentile("avg_nll", F.lit(2.0 / 3)), 6).alias("t2"),
    )
    bucketed = j.join(maybe_broadcast(th), "lang").withColumn(
        "bucket",
        F.when(F.col("avg_nll") <= F.col("t1"), F.lit("head"))
        .when(F.col("avg_nll") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail")),
    )
    return bucketed.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("avg_nll"), 4).alias("mean_nll"),
    )


# ---------------------------------------------------------------------------
# c4_quality_filters — the C4 line/page ruleset (Raffel et al. 2020 §2.2)
# ---------------------------------------------------------------------------

#: C4's page-level dirty-word rule (Raffel et al. use the public
#: "List of Dirty, Naughty, Obscene..." list; a 3-token stand-in keeps
#: the rule mechanics testable without committing that list).
C4_BADWORDS = ("verboten1", "verboten2", "nsfw1")
C4_MIN_LINE_WORDS = 5
C4_MIN_SENTENCES = 3
#: deterministic synthetic-page knobs (see docstring)
_C4_LINE_BASE = 7
_C4_PERIOD_MOD = 4
_C4_BRACE_MOD = 17
_C4_JS_MOD = 23
_C4_BADWORD_MOD = 11
_C4_LOREM_MOD = 13


def c4_quality_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document C4 rule evaluation: line filters, page filters,
    cleaned text.

    Raffel et al. 2020 §2.2 (the C4 pipeline): keep only lines ending
    in terminal punctuation, drop lines with <5 words or the word
    "javascript"; drop whole pages containing a dirty word, the phrase
    "lorem ipsum", a curly brace (code marker), or fewer than 3
    sentences; keep English pages only. (C4's three-sentence-span
    corpus dedup is the separate ``dedup_window_exact`` operator.)

    The synthetic corpus has no newlines or punctuation, so — the same
    convention as ``pii_redact``'s injected contacts — a deterministic
    page is derived in-row from the word array: lines of
    ``7 + doc_id % 5`` words; line *i* ends with '.' unless
    ``(doc_id + i) % 4 == 0``; a ``{`` marker lands on lines where
    ``(doc_id*31 + i) % 17 == 0``; a "javascript" token where
    ``(doc_id*7 + i) % 23 == 0``; docs with ``doc_id % 11 == 0`` carry
    a dirty word on line 0 and ``doc_id % 13 == 0`` an extra
    "lorem ipsum" line. Both engines build the identical page, so
    every rule fires on real positives and the keep decision is
    engine-exact (all-integer/boolean math — no float discipline
    needed).

    Scale shape: one column-pruned scan, all array/regex column math
    in whole-stage codegen, zero shuffles — the same embarrassingly
    partition-parallel map-only pass as ``gopher_quality_filters``.
    """
    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    words = _words(F.col("text"))
    base = docs.select("doc_id", "lang", words.alias("words")).filter(
        F.size("words") > 0
    )
    line_w = (F.lit(_C4_LINE_BASE) + did % 5).cast("int")
    n_lines = F.expr(
        f"(size(words) + {_C4_LINE_BASE} + doc_id % 5 - 1) "
        f"div ({_C4_LINE_BASE} + doc_id % 5)"
    ).cast("int")

    def _line(i: F.Column) -> F.Column:
        body = F.concat_ws(" ", F.slice("words", i * line_w + 1, line_w))
        body = F.when(
            (did % _C4_BADWORD_MOD == 0) & (i == 0),
            F.concat(body, F.lit(" " + C4_BADWORDS[0])),
        ).otherwise(body)
        body = F.when(
            (did * 7 + i) % _C4_JS_MOD == 0, F.concat(body, F.lit(" javascript"))
        ).otherwise(body)
        body = F.when(
            (did * 31 + i) % _C4_BRACE_MOD == 0, F.concat(body, F.lit(" {"))
        ).otherwise(body)
        return F.when(
            (did + i) % _C4_PERIOD_MOD != 0, F.concat(body, F.lit("."))
        ).otherwise(body)

    lines0 = F.transform(F.sequence(F.lit(0), n_lines - 1), _line)
    lines = F.when(
        did % _C4_LOREM_MOD == 0, F.concat(lines0, F.array(F.lit("lorem ipsum")))
    ).otherwise(lines0)

    staged = base.select("doc_id", "lang", lines.alias("lines"))
    line_kept = lambda l: (  # noqa: E731 — shared by two expressions below
        l.rlike('[.!?"]$')
        & (F.size(F.split(l, " ")) >= C4_MIN_LINE_WORDS)
        & ~l.contains("javascript")
    )
    page = F.concat_ws("\n", F.col("lines"))
    # word-boundary regex, not token equality: the synthetic page may
    # suffix a terminal '.' onto the planted dirty word, and C4's rule
    # is word-level ("contains any word on the list"), not token-exact
    has_badword = page.rlike(r"\b(" + "|".join(C4_BADWORDS) + r")\b")
    flags = staged.select(
        "doc_id",
        F.size("lines").cast("long").alias("n_lines"),
        F.size(F.filter("lines", line_kept)).cast("long").alias("n_kept_lines"),
        F.size(F.filter("lines", lambda l: l.rlike('[.!?"]$')))
        .cast("long")
        .alias("n_sentences"),
        page.contains("{").cast("long").alias("has_brace"),
        page.contains("lorem ipsum").cast("long").alias("has_lorem_ipsum"),
        has_badword.cast("long").alias("has_badword"),
        (F.col("lang") == "en").cast("long").alias("lang_en"),
        F.concat_ws("\n", F.filter("lines", line_kept)).alias("clean_text"),
    )
    keep = (
        (F.col("n_sentences") >= C4_MIN_SENTENCES)
        & (F.col("has_brace") == 0)
        & (F.col("has_lorem_ipsum") == 0)
        & (F.col("has_badword") == 0)
        & (F.col("lang_en") == 1)
    )
    return flags.select("*", keep.cast("long").alias("keep"))


def curation_ruleset_venn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agreement report across the three published quality rulesets.

    A pipeline owner choosing between Gopher, C4 and the repetition
    gate needs to know whether they drop the SAME documents or
    different ones — the 2³ keep-pattern histogram (the Venn cells) is
    the standard comparison artifact. Composition: the three existing
    per-doc keep columns joined on doc_id (inner — all three score any
    doc with ≥1 word), one (g, c4, rep) hash aggregate, shares against
    a 1-row broadcast total. Everything after the three scans is
    8-row-bounded; integer counts make the share division engine-exact
    at 6dp.
    """
    g = gopher_quality_filters(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("gopher_keep")
    )
    c = c4_quality_filters(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("c4_keep")
    )
    r = text_repetition(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("repetition_keep")
    )
    j = g.join(c, "doc_id").join(r, "doc_id")
    cells = j.groupBy("gopher_keep", "c4_keep", "repetition_keep").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    total = j.agg(F.count(F.lit(1)).cast("double").alias("total"))
    return cells.crossJoin(F.broadcast(total)).select(
        "gopher_keep",
        "c4_keep",
        "repetition_keep",
        "n_docs",
        F.round(F.col("n_docs") / F.col("total"), 6).alias("share"),
    )


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

_WORDS_SQL = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"

_BIGRAMS_SQL = (
    "list_transform(generate_series(1, len(words) - 1), i -> words[i] || ' ' || words[i+1])"
)

_SHINGLES5_SQL = (
    "list_transform(generate_series(1, len(words) - 4),"
    " i -> md5(words[i] || ' ' || words[i+1] || ' ' || words[i+2]"
    " || ' ' || words[i+3] || ' ' || words[i+4]))"
)

_CONTACT_SQL = (
    "text || ' user' || CAST(doc_id AS VARCHAR) || '@' || source || "
    "'.example.com ip 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || "
    "CAST((doc_id * 7) % 256 AS VARCHAR) || ' call 555-' || "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
)

ORACLES: dict[str, str] = {
    "doc_chunks": f"""
        WITH tok AS (
            SELECT doc_id, {_WORDS_SQL} AS words FROM documents
        ),
        sized AS (
            SELECT doc_id, words, len(words) AS n,
                   CASE WHEN len(words) <= {CHUNK_SIZE} THEN 1
                        ELSE CAST(ceil((len(words) - {CHUNK_SIZE}) / {float(CHUNK_STEP)}) AS BIGINT) + 1
                   END AS n_chunks
            FROM tok WHERE len(words) > 0
        ),
        expanded AS (
            SELECT doc_id, words,
                   unnest(generate_series(0, n_chunks - 1)) AS chunk_id
            FROM sized
        )
        SELECT doc_id,
               CAST(chunk_id AS INT) AS chunk_id,
               CAST(len(words[chunk_id * {CHUNK_STEP} + 1 : chunk_id * {CHUNK_STEP} + {CHUNK_SIZE}]) AS BIGINT) AS n_tokens,
               md5(array_to_string(words[chunk_id * {CHUNK_STEP} + 1 : chunk_id * {CHUNK_STEP} + {CHUNK_SIZE}], ' ')) AS chunk_hash
        FROM expanded
    """,
    "text_repetition": f"""
        WITH tok AS (
            SELECT doc_id, {_WORDS_SQL} AS words FROM documents
        ),
        wc AS (
            SELECT doc_id, word, count(*) AS cnt
            FROM (SELECT doc_id, unnest(words) AS word FROM tok)
            GROUP BY doc_id, word
        ),
        per_doc AS (
            SELECT doc_id, max(cnt) AS top_cnt, CAST(sum(cnt) AS BIGINT) AS n_words
            FROM wc GROUP BY doc_id
        ),
        bg AS (
            SELECT doc_id,
                   len({_BIGRAMS_SQL}) AS n_bigrams,
                   len(list_distinct({_BIGRAMS_SQL})) AS n_distinct_bigrams
            FROM tok
        )
        SELECT p.doc_id, p.n_words,
               round(top_cnt / CAST(p.n_words AS DOUBLE), 6) AS top_word_frac,
               round(CASE WHEN n_bigrams > 0
                          THEN 1.0 - n_distinct_bigrams / CAST(n_bigrams AS DOUBLE)
                          ELSE 0.0 END, 6) AS dup_bigram_frac,
               CAST(round(top_cnt / CAST(p.n_words AS DOUBLE), 6) <= {MAX_TOP_WORD_FRAC}
                    AND round(CASE WHEN n_bigrams > 0
                              THEN 1.0 - n_distinct_bigrams / CAST(n_bigrams AS DOUBLE)
                              ELSE 0.0 END, 6) <= {MAX_DUP_BIGRAM_FRAC} AS INT) AS keep
        FROM per_doc p JOIN bg USING (doc_id)
    """,
    "text_entropy": f"""
        WITH wc AS (
            SELECT doc_id, word, count(*) AS cnt
            FROM (SELECT doc_id, unnest({_WORDS_SQL}) AS word FROM documents)
            GROUP BY doc_id, word
        )
        SELECT doc_id,
               CAST(sum(cnt) AS BIGINT) AS n_words,
               CAST(count(*) AS BIGINT) AS n_distinct_words,
               round(ln(sum(cnt)) - sum(cnt * ln(cnt)) / sum(cnt), 4) AS entropy_nats
        FROM wc GROUP BY doc_id
    """,
    "pii_redact": f"""
        WITH ft AS (
            SELECT doc_id, {_CONTACT_SQL} AS full_text FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(full_text, '({EMAIL_RE})', 1)) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(full_text, '({IPV4_RE})', 1)) AS BIGINT) AS n_ips,
               CAST(len(regexp_extract_all(full_text, '({PHONE_RE})', 1)) AS BIGINT) AS n_phones,
               md5(regexp_replace(regexp_replace(regexp_replace(full_text,
                   '{EMAIL_RE}', '<EMAIL>', 'g'),
                   '{IPV4_RE}', '<IP>', 'g'),
                   '{PHONE_RE}', '<PHONE>', 'g')) AS redacted_hash
        FROM ft
    """,
    "text_contamination": f"""
        WITH tok AS (
            SELECT doc_id, {_WORDS_SQL} AS words FROM documents
        ),
        sh AS (
            SELECT doc_id, list_distinct({_SHINGLES5_SQL}) AS shingles
            FROM tok
        ),
        bench AS (
            SELECT DISTINCT unnest(shingles) AS h FROM sh
            WHERE doc_id % {BENCHMARK_MOD} = 0
        ),
        corpus AS (SELECT * FROM sh WHERE doc_id % {BENCHMARK_MOD} <> 0),
        contaminated AS (
            SELECT doc_id, count(*) AS n_contaminated
            FROM (SELECT doc_id, unnest(shingles) AS h FROM corpus) e
            WHERE e.h IN (SELECT h FROM bench)
            GROUP BY doc_id
        )
        SELECT c.doc_id,
               CAST(len(c.shingles) AS BIGINT) AS n_shingles,
               CAST(coalesce(n.n_contaminated, 0) AS BIGINT) AS n_contaminated,
               round(CASE WHEN len(c.shingles) > 0
                          THEN coalesce(n.n_contaminated, 0) / CAST(len(c.shingles) AS DOUBLE)
                          ELSE 0.0 END, 6) AS contamination_rate
        FROM corpus c LEFT JOIN contaminated n USING (doc_id)
    """,
    "corpus_vocab_stats": f"""
        WITH tok AS (
            SELECT doc_id, {_WORDS_SQL} AS words FROM documents
        ),
        w AS (
            SELECT CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(count(DISTINCT word) AS BIGINT) AS vocab_size
            FROM (SELECT unnest(words) AS word FROM tok)
        ),
        b AS (
            SELECT CAST(count(DISTINCT bigram) AS BIGINT) AS distinct_bigrams
            FROM (SELECT unnest({_BIGRAMS_SQL}) AS bigram FROM tok)
        )
        SELECT n_tokens, vocab_size, distinct_bigrams,
               round(vocab_size / CAST(n_tokens AS DOUBLE), 6) AS type_token_ratio
        FROM w CROSS JOIN b
    """,
    "token_frequency_histogram": f"""
        WITH freq AS (
            SELECT word, count(*) AS cnt
            FROM (SELECT unnest({_WORDS_SQL}) AS word FROM documents)
            GROUP BY word
        )
        SELECT CAST(length(bin(cnt)) - 1 AS INT) AS log2_freq,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(cnt) AS BIGINT) AS n_tokens
        FROM freq
        GROUP BY 1
    """,
    "corpus_profile": f"""
        WITH tok AS (
            SELECT doc_id, lang, text, {_WORDS_SQL} AS words FROM documents
        ),
        base AS (
            SELECT doc_id, lang,
                   len(words) AS nw,
                   length(text) AS n_chars,
                   len(regexp_extract_all(text, '([^\\w\\s])', 1)) AS n_punct,
                   len(list_filter(words,
                       x -> list_contains(['the','and','of','to','a','in','is','that','it','for'], x))) AS n_stop,
                   len(regexp_extract_all(text, '({BPE_TOKEN_REGEX})', 1)) AS bpe,
                   greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sent,
                   greatest(1, len(regexp_extract_all(lower(text), '[aeiouy]+'))) AS n_syll
            FROM tok
        ),
        ratios AS (
            SELECT *,
                   CASE WHEN nw > 0 THEN n_chars / nw ELSE 0.0 END AS awl,
                   CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS pr,
                   CASE WHEN nw > 0 THEN n_stop / nw ELSE 0.0 END AS sr,
                   greatest(1, nw) AS rw
            FROM base
        )
        SELECT doc_id, lang,
               CAST(nw AS BIGINT) AS n_words,
               round(awl, 6) AS avg_word_len,
               round(pr, 6) AS punct_ratio,
               round(sr, 6) AS stopword_ratio,
               round(
                   (CASE WHEN nw BETWEEN 20 AND 5000 THEN 0.4 ELSE 0.0 END)
                 + (CASE WHEN awl BETWEEN 3 AND 12 THEN 0.3 ELSE 0.0 END)
                 + (CASE WHEN pr <= 0.1 THEN 0.2 ELSE 0.0 END)
                 + (CASE WHEN sr >= 0.01 THEN 0.1 ELSE 0.0 END), 2) AS quality_score,
               CAST(nw AS BIGINT) AS ws_tokens,
               CAST(bpe AS BIGINT) AS bpe_tokens,
               round(CASE WHEN bpe > 0 THEN n_chars / bpe ELSE 0.0 END, 6)
                   AS chars_per_token,
               CAST(n_syll AS INT) AS n_syllables,
               round(206.835 - 1.015 * (rw / CAST(n_sent AS DOUBLE))
                             - 84.6 * (n_syll / CAST(rw AS DOUBLE)), 4) AS flesch
        FROM ratios
    """,
    "sequence_packing_curriculum": f"""
        WITH {_CURRICULUM_STAGE_CTES},
        st AS (
            SELECT doc_id, {_CURRICULUM_STAGE_CASE} AS stage
            FROM scored CROSS JOIN cuts
        ),
        t AS (
            SELECT doc_id, lang,
                   len(regexp_extract_all(text, '({BPE_TOKEN_REGEX})', 1)) AS n_tokens
            FROM documents
        ),
        c AS (
            SELECT t.doc_id AS doc_id, lang, stage, n_tokens,
                   coalesce(sum(n_tokens) OVER (PARTITION BY lang, stage
                       ORDER BY t.doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS cum_before
            FROM t JOIN st ON t.doc_id = st.doc_id
        )
        SELECT doc_id, lang, CAST(stage AS INT) AS stage,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(floor(cum_before / {SEQ_BUDGET}) AS BIGINT) AS seq_id,
               CAST(cum_before % {SEQ_BUDGET} AS BIGINT) AS offset_in_seq
        FROM c
    """,
    "sequence_packing_grouped": f"""
        WITH t AS (
            SELECT doc_id, lang,
                   len(regexp_extract_all(text, '({BPE_TOKEN_REGEX})', 1)) AS n_tokens
            FROM documents
        ),
        c AS (
            SELECT doc_id, lang, n_tokens,
                   coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
            FROM t
        )
        SELECT doc_id, lang,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(floor(cum_before / {SEQ_BUDGET}) AS BIGINT) AS seq_id,
               CAST(cum_before % {SEQ_BUDGET} AS BIGINT) AS offset_in_seq
        FROM c
    """,
    "sequence_packing": f"""
        WITH t AS (
            SELECT doc_id,
                   len(regexp_extract_all(text, '({BPE_TOKEN_REGEX})', 1)) AS n_tokens
            FROM documents
        ),
        c AS (
            SELECT doc_id, n_tokens,
                   coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
            FROM t
        )
        SELECT doc_id,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(floor(cum_before / {SEQ_BUDGET}) AS BIGINT) AS seq_id,
               CAST(cum_before % {SEQ_BUDGET} AS BIGINT) AS offset_in_seq
        FROM c
    """,
    "corpus_quality_calibration": f"""
        WITH base AS (
            SELECT doc_id,
                   len({_WORDS_SQL}) AS n_words,
                   length(text) AS n_chars,
                   len(regexp_extract_all(text, '([^\\w\\s])', 1)) AS n_punct,
                   len(list_filter({_WORDS_SQL},
                       x -> list_contains(['the','and','of','to','a','in','is','that','it','for'], x))) AS n_stop
            FROM documents
        ),
        quality AS (
            SELECT doc_id,
                   round(
                       (CASE WHEN n_words BETWEEN 20 AND 5000 THEN 0.4 ELSE 0.0 END)
                     + (CASE WHEN (CASE WHEN n_words > 0 THEN n_chars / n_words ELSE 0.0 END) BETWEEN 3 AND 12 THEN 0.3 ELSE 0.0 END)
                     + (CASE WHEN (CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END) <= 0.1 THEN 0.2 ELSE 0.0 END)
                     + (CASE WHEN (CASE WHEN n_words > 0 THEN n_stop / n_words ELSE 0.0 END) >= 0.01 THEN 0.1 ELSE 0.0 END), 2) AS quality_score
            FROM base
        ),
        words AS (
            SELECT doc_id, unnest({_WORDS_SQL}) AS word FROM documents
        ),
        freq AS (SELECT word, count(*) AS cnt FROM words GROUP BY word),
        tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM freq),
        ppl AS (
            SELECT w.doc_id,
                   round(ln(max(t.total)) - avg(ln(f.cnt)), 4) AS avg_nll
            FROM words w JOIN freq f USING (word) CROSS JOIN tot t
            GROUP BY w.doc_id
        )
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               round(corr(quality_score, avg_nll), 4) AS corr_quality_nll,
               coalesce(round(avg(avg_nll) FILTER (WHERE quality_score < 0.5), 4), -999.0) AS avg_nll_lowq,
               coalesce(round(avg(avg_nll) FILTER (WHERE quality_score >= 0.5), 4), -999.0) AS avg_nll_highq
        FROM quality JOIN ppl USING (doc_id)
    """,
    "doc_length_histogram": f"""
        WITH per_bucket AS (
            SELECT CAST(length(bin(n_chars)) - 1 AS INT) AS log2_chars,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len({_WORDS_SQL})) AS BIGINT) AS n_words
            FROM documents GROUP BY 1
        ),
        total AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t FROM per_bucket)
        SELECT log2_chars, n_docs, n_words,
               round(CAST(n_docs AS DOUBLE) / t, 4) AS doc_share
        FROM per_bucket, total
    """,
    "boilerplate_lines": """
        WITH sents AS (
            SELECT DISTINCT doc_id,
                   md5(s) AS h
            FROM (
                SELECT doc_id,
                       unnest(list_filter(list_transform(
                           string_split_regex(lower(text), '[.!?]+'),
                           x -> trim(x)), x -> x <> '')) AS s
                FROM documents
            )
        ),
        df_tbl AS (SELECT h, CAST(count(*) AS BIGINT) AS df FROM sents GROUP BY h)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_sentences,
               CAST(sum(CAST(df >= 3 AS INT)) AS BIGINT) AS n_boilerplate,
               round(sum(CAST(df >= 3 AS INT)) / CAST(count(*) AS DOUBLE), 4) AS boilerplate_share
        FROM sents JOIN df_tbl USING (h)
        GROUP BY doc_id
    """,
    "vocab_coverage": f"""
        WITH words AS (
            SELECT unnest({_WORDS_SQL}) AS word FROM documents
        ),
        vocab AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM words GROUP BY word),
        total AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM vocab),
        top AS (
            SELECT word, freq,
                   CAST(row_number() OVER (ORDER BY freq DESC, word) AS BIGINT) AS rn
            FROM (SELECT * FROM vocab ORDER BY freq DESC, word LIMIT 1000)
        ),
        per_k AS (
            SELECT k, CAST(sum(CASE WHEN rn <= k THEN freq ELSE 0 END) AS BIGINT) AS covered_tokens
            FROM top, (SELECT unnest([10, 100, 1000]) AS k)
            GROUP BY k
        )
        SELECT CAST(k AS INT) AS k, covered_tokens,
               total AS total_tokens,
               round(CAST(covered_tokens AS DOUBLE) / total, 6) AS coverage
        FROM per_k, total
    """,
    "text_novelty": f"""
        WITH w AS (
            SELECT doc_id, {_WORDS_SQL} AS words FROM documents
        ),
        bg AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(generate_series(1, len(words) - 1),
                          i -> words[i] || ' ' || words[i+1])) AS bigram
            FROM w
        ),
        df_tbl AS (SELECT bigram, CAST(count(*) AS BIGINT) AS df FROM bg GROUP BY bigram)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(CAST(df = 1 AS INT)) AS BIGINT) AS n_unique,
               round(sum(CAST(df = 1 AS INT)) / CAST(count(*) AS DOUBLE), 6) AS novelty
        FROM bg JOIN df_tbl USING (bigram)
        GROUP BY doc_id
    """,
    "perplexity_proxy": f"""
        WITH words AS (
            SELECT doc_id, unnest({_WORDS_SQL}) AS word FROM documents
        ),
        freq AS (
            SELECT word, count(*) AS cnt FROM words GROUP BY word
        ),
        tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM freq)
        SELECT w.doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               round(ln(max(t.total)) - avg(ln(f.cnt)), 4) AS avg_nll
        FROM words w JOIN freq f USING (word) CROSS JOIN tot t
        GROUP BY w.doc_id
    """,
}

# the bloom prefilter is exact end-to-end (confirm join removes FPs,
# same-hash construction forbids FNs) — it shares the exact oracle.
ORACLES["contamination_bloom"] = ORACLES["text_contamination"]

ORACLES["zipf_slope"] = f"""
    WITH freq AS (
        SELECT word, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest({_WORDS_SQL}) AS word FROM documents)
        GROUP BY word
    ),
    top AS (
        SELECT word, freq FROM freq ORDER BY freq DESC, word LIMIT {ZIPF_TOP_K}
    ),
    ranked AS (
        SELECT freq,
               row_number() OVER (ORDER BY freq DESC, word) AS rn
        FROM top
    ),
    xy AS (SELECT ln(CAST(rn AS DOUBLE)) AS x, ln(CAST(freq AS DOUBLE)) AS y FROM ranked)
    SELECT CAST(count(*) AS BIGINT) AS n_words,
           round(regr_slope(y, x), 4) AS slope,
           round(regr_intercept(y, x), 4) AS intercept,
           round(corr(y, x), 4) AS r
    FROM xy
"""

ORACLES["gopher_quality_filters"] = f"""
    WITH base AS (
        SELECT doc_id, text, {_WORDS_SQL} AS words,
               string_split(text, chr(10)) AS lines
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               len(words) AS n_words,
               CASE WHEN len(words) > 0 THEN
                   round(CAST(coalesce(list_sum(list_transform(words, x -> length(x))), 0)
                              AS DOUBLE) / len(words), 6)
               ELSE 0.0 END AS mean_word_len,
               CASE WHEN len(words) > 0 THEN
                   round(CAST(len(list_filter(words, x -> regexp_matches(x, '[a-z]')))
                              AS DOUBLE) / len(words), 6)
               ELSE 0.0 END AS alpha_word_ratio,
               CASE WHEN len(words) > 0 THEN
                   round(CAST(len(regexp_extract_all(text, '#'))
                            + len(regexp_extract_all(text, '\\.\\.\\.'))
                            + len(regexp_extract_all(text, '…'))
                              AS DOUBLE) / len(words), 6)
               ELSE 0.0 END AS symbol_word_ratio,
               len(list_filter(words,
                   x -> list_contains(['the','and','of','to','a','in','is','that','it','for'], x)))
                   AS n_stop_hits,
               CASE WHEN len(lines) > 0 THEN
                   round(CAST(len(list_filter(lines, x -> regexp_matches(x, '^\\s*[-*•]')))
                              AS DOUBLE) / len(lines), 6)
               ELSE 0.0 END AS bullet_line_ratio,
               CASE WHEN len(lines) > 0 THEN
                   round(CAST(len(list_filter(lines, x -> regexp_matches(x, '(\\.\\.\\.|…)\\s*$')))
                              AS DOUBLE) / len(lines), 6)
               ELSE 0.0 END AS ellipsis_line_ratio
        FROM base
    ),
    scored AS (
        SELECT *,
               (CASE WHEN n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS} THEN 0 ELSE 1 END)
             + (CASE WHEN mean_word_len BETWEEN {GOPHER_MIN_MEAN_WORD_LEN} AND {GOPHER_MAX_MEAN_WORD_LEN} THEN 0 ELSE 1 END)
             + (CASE WHEN symbol_word_ratio <= {GOPHER_MAX_SYMBOL_RATIO} THEN 0 ELSE 1 END)
             + (CASE WHEN alpha_word_ratio >= {GOPHER_MIN_ALPHA_WORD_RATIO} THEN 0 ELSE 1 END)
             + (CASE WHEN n_stop_hits >= {GOPHER_MIN_STOPWORD_HITS} THEN 0 ELSE 1 END)
             + (CASE WHEN bullet_line_ratio <= {GOPHER_MAX_BULLET_LINE_RATIO} THEN 0 ELSE 1 END)
             + (CASE WHEN ellipsis_line_ratio <= {GOPHER_MAX_ELLIPSIS_LINE_RATIO} THEN 0 ELSE 1 END)
               AS n_rules_failed
        FROM m
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mean_word_len,
           alpha_word_ratio, symbol_word_ratio,
           CAST(n_stop_hits AS BIGINT) AS n_stop_hits,
           bullet_line_ratio, ellipsis_line_ratio,
           CAST(n_rules_failed AS BIGINT) AS n_rules_failed,
           CAST(CASE WHEN n_rules_failed = 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM scored
"""

ORACLES["ccnet_perplexity_buckets"] = f"""
    WITH words AS MATERIALIZED (
        SELECT doc_id, unnest({_WORDS_SQL}) AS word FROM documents
    ),
    freq AS MATERIALIZED (
        SELECT word, count(*) AS cnt FROM words GROUP BY word
    ),
    tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM freq),
    p AS MATERIALIZED (
        SELECT w.doc_id, round(ln(max(t.total)) - avg(ln(f.cnt)), 4) AS avg_nll
        FROM words w JOIN freq f USING (word) CROSS JOIN tot t
        GROUP BY w.doc_id
    ),
    j AS MATERIALIZED (
        SELECT d.lang, p.avg_nll FROM p JOIN documents d USING (doc_id)
    ),
    th AS (
        SELECT lang,
               round(quantile_cont(avg_nll, 1.0/3), 6) AS t1,
               round(quantile_cont(avg_nll, 2.0/3), 6) AS t2
        FROM j GROUP BY lang
    )
    SELECT j.lang,
           CASE WHEN avg_nll <= t1 THEN 'head'
                WHEN avg_nll <= t2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(avg_nll), 4) AS mean_nll
    FROM j JOIN th USING (lang)
    GROUP BY 1, 2
"""

ORACLES["c4_quality_filters"] = f"""
    WITH base AS (
        SELECT doc_id, lang, {_WORDS_SQL} AS words FROM documents
    ),
    sized AS (
        SELECT doc_id, lang, words,
               {_C4_LINE_BASE} + doc_id % 5 AS L
        FROM base WHERE len(words) > 0
    ),
    lined AS (
        SELECT doc_id, lang,
               list_transform(
                   generate_series(0, (len(words) + L - 1) // L - 1),
                   i -> array_to_string(words[i*L+1 : i*L+L], ' ')
                        || CASE WHEN doc_id % {_C4_BADWORD_MOD} = 0 AND i = 0
                                THEN ' {C4_BADWORDS[0]}' ELSE '' END
                        || CASE WHEN (doc_id*7 + i) % {_C4_JS_MOD} = 0
                                THEN ' javascript' ELSE '' END
                        || CASE WHEN (doc_id*31 + i) % {_C4_BRACE_MOD} = 0
                                THEN ' {{' ELSE '' END
                        || CASE WHEN (doc_id + i) % {_C4_PERIOD_MOD} <> 0
                                THEN '.' ELSE '' END
               ) AS lines0
        FROM sized
    ),
    paged AS (
        SELECT doc_id, lang,
               CASE WHEN doc_id % {_C4_LOREM_MOD} = 0
                    THEN list_append(lines0, 'lorem ipsum')
                    ELSE lines0 END AS lines
        FROM lined
    ),
    scored AS (
        SELECT doc_id, lang, lines,
               array_to_string(lines, chr(10)) AS page,
               list_filter(lines, l ->
                   regexp_matches(l, '[.!?"]$')
                   AND len(string_split(l, ' ')) >= {C4_MIN_LINE_WORDS}
                   AND NOT contains(l, 'javascript')) AS kept_lines
        FROM paged
    ),
    flags AS (
        SELECT doc_id,
               CAST(len(lines) AS BIGINT) AS n_lines,
               CAST(len(kept_lines) AS BIGINT) AS n_kept_lines,
               CAST(len(list_filter(lines, l -> regexp_matches(l, '[.!?"]$')))
                    AS BIGINT) AS n_sentences,
               CAST(contains(page, '{{') AS BIGINT) AS has_brace,
               CAST(contains(page, 'lorem ipsum') AS BIGINT) AS has_lorem_ipsum,
               CAST(regexp_matches(page, '\\b({'|'.join(C4_BADWORDS)})\\b')
                    AS BIGINT) AS has_badword,
               CAST(lang = 'en' AS BIGINT) AS lang_en,
               coalesce(array_to_string(kept_lines, chr(10)), '') AS clean_text
        FROM scored
    )
    SELECT *,
           CAST(n_sentences >= {C4_MIN_SENTENCES}
                AND has_brace = 0 AND has_lorem_ipsum = 0
                AND has_badword = 0 AND lang_en = 1 AS BIGINT) AS keep
    FROM flags
"""

ORACLES["curation_ruleset_venn"] = (
    """
    WITH g AS MATERIALIZED (
"""
    + ORACLES["gopher_quality_filters"]
    + """
    ),
    c AS MATERIALIZED (
"""
    + ORACLES["c4_quality_filters"]
    + """
    ),
    r AS MATERIALIZED (
"""
    + ORACLES["text_repetition"]
    + """
    ),
    j AS (
        SELECT g.keep AS gopher_keep, c.keep AS c4_keep,
               r.keep AS repetition_keep
        FROM g JOIN c USING (doc_id) JOIN r USING (doc_id)
    ),
    cells AS (
        SELECT gopher_keep, c4_keep, repetition_keep,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM j GROUP BY 1, 2, 3
    ),
    tot AS (SELECT CAST(count(*) AS DOUBLE) AS total FROM j)
    SELECT gopher_keep, c4_keep, repetition_keep, n_docs,
           round(n_docs / total, 6) AS share
    FROM cells CROSS JOIN tot
"""
)


QUERIES = {
    "corpus_profile": corpus_profile,
    "corpus_vocab_stats": corpus_vocab_stats,
    "token_frequency_histogram": token_frequency_histogram,
    "sequence_packing": sequence_packing,
    "sequence_packing_grouped": sequence_packing_grouped,
    "sequence_packing_curriculum": sequence_packing_curriculum,
    "text_repetition": text_repetition,
    "text_entropy": text_entropy,
    "pii_redact": pii_redact,
    "text_contamination": text_contamination,
    "contamination_bloom": contamination_bloom,
    "perplexity_proxy": perplexity_proxy,
    "gopher_quality_filters": gopher_quality_filters,
    "ccnet_perplexity_buckets": ccnet_perplexity_buckets,
    "c4_quality_filters": c4_quality_filters,
    "curation_ruleset_venn": curation_ruleset_venn,
    "corpus_quality_calibration": corpus_quality_calibration,
    "vocab_coverage": vocab_coverage,
    "boilerplate_lines": boilerplate_lines,
    "doc_length_histogram": doc_length_histogram,
    "text_novelty": text_novelty,
    "doc_chunks": doc_chunks,
    "zipf_slope": zipf_slope,
}
