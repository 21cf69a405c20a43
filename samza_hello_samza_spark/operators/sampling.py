"""Corpus sampling & mixture-control operators.

The data-mixture layer of an LLM training pipeline: which documents,
from which sources and languages, in what proportions. Every operator
is seed-free deterministic (md5-derived uniforms, as in
``sample_stratified``) so re-running the pipeline reselects the exact
same subset — the property that makes downstream caches, incremental
re-builds, and ablation comparisons valid at 100 TB.

- mixture_sample        : temperature-scaled language re-weighting
                          (the multilingual up/down-sampling pass,
                          α = 0.5 via sqrt so both engines agree to
                          the last bit — IEEE sqrt is correctly
                          rounded, pow(x, 0.5) need not be)
- weighted_sample       : exact weighted random sample without
                          replacement (A-ES key ordering), planned as
                          distributed top-k — TakeOrderedAndProject,
                          never a global sort
- domain_stats          : per-source mixture report (doc/token share,
                          language spread) — the dashboard behind
                          mixture decisions
- quality_classifier    : hashed bag-of-words linear scorer
                          (fasttext-shaped): per-row array math only,
                          ZERO shuffle — the keep/drop decision is
                          exact integer arithmetic in both engines
- phrase_search         : exact-adjacency phrase match via per-row
                          positional scan (no shuffle; the
                          inverted-index variant for repeated queries
                          lives in operators/retrieval.py)

Scale notes (100 TB):
- mixture rates derive from a languages-sized aggregate (≤ handful of
  rows) crossed back as a broadcast — never a global window.
- weighted_sample's k rows bound both memory and the final single
  merge; the per-partition heaps do the heavy lifting.
- quality_classifier and phrase_search read the corpus once and
  shuffle nothing; scores ride the scan in one codegen'd projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hints import maybe_broadcast
from ..session import load_table, materialize
from .dedup import _words

# ---------------------------------------------------------------------------
# mixture_sample
# ---------------------------------------------------------------------------

#: temperature exponent α = 0.5 (sqrt): rare languages are up-weighted
#: relative to their natural share, the standard multilingual mix knob.


def _md5_bucket(col: F.Column, mod: int = 100) -> F.Column:
    """First 8 hex digits of md5 → uniform integer bucket, engine-portable."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast("long") % mod
    )


def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language re-sampling (α = 0.5).

    Target mixture share ∝ natural_share^α with α = 0.5, so each
    language's keep-rate is ∝ sqrt(n)/n = 1/sqrt(n), normalized so
    the *rarest* language keeps 100%: common languages are
    down-sampled, expected kept counts go as sqrt(n), and the mixture
    flattens toward uniform — the multilingual temperature-sampling
    pass. The rate table is a languages-sized aggregate (a handful of
    rows) crossed with its own 1-row min — both broadcast; the corpus
    is then filtered by the deterministic md5 bucket, so the whole
    plan is one corpus scan plus two tiny aggregates.

    sqrt (not pow(·, 0.5)) because IEEE-754 sqrt is correctly rounded
    in every engine, so the floor'd integer rates match exactly.
    """
    docs = load_table(spark, sf_dir, "documents")
    # languages-sized; consumed by its own min AND the rate table —
    # one docs aggregation instead of two.
    counts = materialize(docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs")), "bounded")
    min_n = counts.agg(F.min(F.col("n_docs")).alias("min_n"))
    rates = (
        counts.crossJoin(F.broadcast(min_n))  # languages-sized: ≤ dozens of rows
        .select(
            "lang",
            F.floor(F.lit(100) * F.sqrt(F.col("min_n") / F.col("n_docs")))
            .cast("int")
            .alias("rate_pct"),
        )
    )
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(_md5_bucket(F.col("doc_id")) < F.col("rate_pct"))
        .select("doc_id", "lang", "source", "rate_pct")
    )


# ---------------------------------------------------------------------------
# weighted_sample
# ---------------------------------------------------------------------------

#: sample size for the weighted draw.
WEIGHTED_K = 100
#: 13 hex digits = 52 uniform bits — fits double's mantissa exactly.
_U_HEX_DIGITS = 13
_U_DENOM = float(1 << 52)


def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted sample without replacement, weight = n_chars.

    The Efraimidis–Spirakis A-ES scheme: each doc draws a deterministic
    uniform u ∈ (0,1] from md5(doc_id) and gets key = ln(u)/weight;
    the k largest keys ARE a weighted sample without replacement. The
    k-row top-k plans as TakeOrderedAndProject (per-partition heaps +
    single k-row merge), so the "random sample" costs one scan and
    moves k rows — no global sort, no seed, no driver-side RNG state,
    and any re-run or partial recompute selects the identical sample.
    """
    docs = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, _U_HEX_DIGITS), 16, 10)
        .cast("double")
        + F.lit(1.0)
    ) / F.lit(_U_DENOM)
    key = F.log(u) / F.col("n_chars")
    return (
        docs.select(
            "doc_id",
            "lang",
            F.col("n_chars").alias("weight"),
            F.round(key, 9).alias("sample_key"),
        )
        .orderBy(F.col("sample_key").desc(), F.col("doc_id"))
        .limit(WEIGHTED_K)
    )


# ---------------------------------------------------------------------------
# domain_stats
# ---------------------------------------------------------------------------


def domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture report: doc/char share, language spread.

    The table a data-mixture owner actually reads before changing
    sampling weights. One groupBy(source) over the corpus (sources are
    a small keyspace → tiny shuffle), then corpus totals ride in as a
    1-row broadcast — the nation_revenue_share pattern, never a global
    window.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.count_distinct("lang").alias("n_langs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    ).transform(materialize, "bounded")  # sources-sized; totals AND report
    # corpus totals = exact integer sums of the per-source sums — no
    # second corpus scan (same integers → same doubles).
    totals = per_src.agg(
        F.sum("n_docs").cast("double").alias("all_docs"),
        F.sum("total_chars").cast("double").alias("all_chars"),
    )
    return per_src.crossJoin(F.broadcast(totals)).select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_chars").cast("long").alias("total_chars"),
        F.col("n_langs").cast("long").alias("n_langs"),
        "avg_chars",
        F.round(F.col("n_docs") / F.col("all_docs"), 6).alias("doc_share"),
        F.round(F.col("total_chars") / F.col("all_chars"), 6).alias("char_share"),
    )


# ---------------------------------------------------------------------------
# quality_classifier
# ---------------------------------------------------------------------------

#: hashed feature space (buckets) and the Knuth multiplicative constant
#: deriving a fixed pseudo-random weight per bucket. The model is a
#: stand-in for a trained fasttext-style linear scorer: the *plumbing*
#: (hash → weight lookup → mean → sigmoid, all in one projection) is
#: exactly what the real model needs; swap `_bucket_weight_int` for a
#: broadcast weight array to deploy learned weights.
N_BUCKETS = 1024
_KNUTH = 2654435761
_WMOD = 1997  # prime → weights cover [-1, 1) densely


def _bucket_weight_int(word: F.Column) -> F.Column:
    """Integer weight in [0, 1996] for a word's hash bucket — exact in
    both engines (pure int64 arithmetic, no floats until the very end)."""
    bucket = (
        F.conv(F.substring(F.md5(word), 1, 8), 16, 10).cast("long") % N_BUCKETS
    )
    return (bucket * _KNUTH) % _WMOD


def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bag-of-words linear quality scorer — zero shuffle.

    fasttext-shaped inference: every word hashes into one of
    ``N_BUCKETS`` feature buckets, each bucket carries a fixed weight,
    the doc's raw score is the mean weight, squashed by a sigmoid.
    The whole model runs as per-row array math (transform + aggregate
    higher-order functions) inside the corpus scan: no explode, no
    shuffle, no Python. The keep decision compares *integer* sums —
    ``2·Σw_int ≥ 1997·n`` ⟺ mean centered weight ≥ 0 — so keep/drop
    is bit-exact across engines even though the sigmoid is float.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = _words(F.col("text"))
    sum_int = F.aggregate(
        F.transform(words, _bucket_weight_int),
        F.lit(0).cast("long"),
        lambda acc, w: acc + w,
    )
    n = F.size(words)
    raw = sum_int / (F.lit(_WMOD / 2.0) * n) - F.lit(1.0)
    return docs.select(
        "doc_id",
        "lang",
        n.cast("long").alias("n_words"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-raw)), 6).alias("quality_prob"),
        (F.lit(2) * sum_int >= F.lit(_WMOD) * n).cast("int").alias("keep"),
    ).filter(n > 0)


# ---------------------------------------------------------------------------
# phrase_search
# ---------------------------------------------------------------------------

#: the query phrase — two adjacent tokens, present in the synthetic vocab.
PHRASE = ("table", "scan")


def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-adjacency phrase match, counted per document.

    For a one-off phrase query the optimal distributed plan is a
    per-row positional scan: count positions i where
    words[i] = 'table' ∧ words[i+1] = 'scan' via a filtered index
    sequence — one corpus scan, zero shuffle, zero row amplification.
    (An inverted index with positions only pays off for *repeated*
    queries; that standing-index shape is ``operators/retrieval.py``.)
    """
    docs = load_table(spark, sf_dir, "documents")
    words = _words(F.col("text"))
    first, second = PHRASE
    hits = F.size(
        F.filter(
            F.sequence(F.lit(1), F.size(words) - 1),
            lambda i: (F.element_at(words, i) == first)
            & (F.element_at(words, (i + 1).cast("int")) == second),
        )
    )
    return (
        docs.select("doc_id", "lang", hits.alias("n_matches"))
        .filter(F.col("n_matches") > 0)
    )


# ---------------------------------------------------------------------------
# curriculum_assign
# ---------------------------------------------------------------------------

#: curriculum stages, easiest→hardest, split at quality-score quartiles.
N_STAGES = 4


def curriculum_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign docs to curriculum stages by quality-score quartile.

    Curriculum ordering sorted globally is the anti-pattern (one giant
    ORDER BY); staging only needs each doc's quantile BUCKET, so the
    plan is: one tiny percentile aggregate (1 row, exact quartile
    thresholds) broadcast back over the corpus scan — the
    customer_value_segments shape. Stage 0 = lowest-quality quartile
    (train last or drop), stage 3 = best. Threshold comparisons use
    the rounded score so both engines bucket identically.
    """
    from .text_analysis import quality_cols

    docs = load_table(spark, sf_dir, "documents")
    # NOTE (r11): tried checkpointing this docs-sized relation so the
    # quality regex scan runs once for both consumers — on-box A/B
    # read the curriculum-packing chain 2.3× SLOWER with it (the two
    # consumers' scans run concurrently in one job on spare cores;
    # the checkpoint serializes them into extra jobs). Reverted.
    scored = docs.select(
        "doc_id",
        F.round(quality_cols(F.col("text"))["quality_score"], 2).alias("q"),
    )
    # exact interpolated percentiles: engine-identical arithmetic (the
    # event_value_percentiles pairing with DuckDB quantile_cont);
    # sketch variant (percentile_approx) is the unbounded-cardinality
    # path, as with event_value_percentiles_approx.
    cuts = scored.agg(
        *[
            F.percentile("q", i / N_STAGES).alias(f"p{i}")
            for i in range(1, N_STAGES)
        ]
    )
    stage = F.lit(0)
    for i in range(1, N_STAGES):
        stage = F.when(F.col("q") > F.col(f"p{i}"), i).otherwise(stage)
    return scored.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        F.col("q").alias("quality_score"),
        stage.cast("int").alias("stage"),
    )


# ---------------------------------------------------------------------------
# token_budget_plan
# ---------------------------------------------------------------------------

#: total training-token budget the mixture must fill.
TOKEN_BUDGET = 1_000_000
#: fixed-point scale for the sqrt weights (engine-exact integers).
W_SCALE = 1000


def token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source training-token quotas under a temperature-smoothed
    mixture (α=0.5): quota_s ∝ sqrt(tokens_s), normalized to the
    budget.

    The planning step between ``domain_stats`` and the sampler: how
    many tokens (and how many epochs over each source) the training
    mix takes from every source. Cross-engine determinism trick: the
    sqrt weights are snapped to FIXED-POINT integers
    (floor(sqrt(n)·1000) — identical doubles → identical integers in
    both engines), so the normalizing sum is integer-exact and the
    quota is a truncating integer division — no order-dependent
    double summation anywhere. One tokenize scan; sources-sized
    state; 1-row integer total broadcast.
    """
    from .dedup import _words

    docs = load_table(spark, sf_dir, "documents")
    per_src = (
        docs.select("source", F.size(_words(F.col("text"))).alias("n"))
        .groupBy("source")
        .agg(F.sum("n").alias("n_tokens"))
        .withColumn(
            "w", F.floor(F.sqrt(F.col("n_tokens")) * W_SCALE).cast("long")
        )
        # sources-sized; consumed by the weight total AND the quota
        # rows — one tokenize scan instead of two.
        .transform(materialize, "bounded")
    )
    tot = per_src.agg(F.sum("w").alias("w_total"))
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.expr(f"({TOKEN_BUDGET}L * w) DIV w_total").alias("quota_tokens"),
            F.expr(
                f"(({TOKEN_BUDGET}L * w) DIV w_total) * 10000 DIV n_tokens"
            ).alias("epochs_bp"),  # epochs in basis points, integer-exact
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# domain_kl_divergence
# ---------------------------------------------------------------------------


def domain_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram-distribution drift vs the whole corpus:
    KL(P_source ‖ P_corpus) in nats.

    The domain-shift monitor a mixture pipeline watches: a source
    whose word distribution diverges from the blend (scrape gone
    wrong, language drift, template flood) shows up as a KL jump.
    KL_s = Σ_w (c_sw/n_s)·ln((c_sw/n_s)/(c_w/N)) — every occurring
    (source, word) has corpus support, so no smoothing is needed.
    Plan: one tokenize scan → (source, word) counts; the corpus word
    table is vocabulary-sized (size-gated broadcast, Zipf-skew falls
    back to AQE); per-source totals and the 1-row corpus total ride
    as broadcasts. Output is sources-sized.
    """
    from .dedup import _words, explode_nonempty

    docs = load_table(spark, sf_dir, "documents")
    words = explode_nonempty(docs, ["source"], _words(F.col("text")), "word")
    # (source, word)-bounded counts consumed by FOUR branches (the KL
    # join, the corpus word table, per-source totals, and the corpus
    # total through `w`): materialize once so the corpus tokenize scan
    # runs ONE time — the plan audit showed it once per branch (4 full
    # scans, 8 exchanges). `w` itself feeds two consumers; both
    # relations are vocabulary-bounded, never corpus-sized.
    sw = (
        words.groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c_sw"))
        .transform(materialize, "bounded")
    )
    w = materialize(sw.groupBy("word").agg(F.sum("c_sw").alias("c_w")), "bounded")
    s_tot = sw.groupBy("source").agg(F.sum("c_sw").alias("n_s"))
    n_tot = w.agg(F.sum("c_w").alias("n_total"))
    p_s = F.col("c_sw") / F.col("n_s")
    q = F.col("c_w") / F.col("n_total")
    return (
        sw.join(maybe_broadcast(w), "word")
        .join(F.broadcast(s_tot), "source")
        .crossJoin(F.broadcast(n_tot))
        .groupBy("source")
        .agg(
            F.max("n_s").cast("long").alias("n_words"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_words"),
            F.round(F.sum(p_s * F.log(p_s / q)), 4).alias("kl_nats"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# dsir_importance
# ---------------------------------------------------------------------------

#: hashed-feature space size (DSIR uses 10⁴; scaled to the test corpus
#: — the bucket tables stay B-bounded regardless of corpus size).
DSIR_BUCKETS = 1024
#: the "target distribution" slice standing in for the high-quality
#: reference corpus (DSIR's Wikipedia+books role).
DSIR_TARGET_LANG = "en"


def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection: hashed-bigram importance weights.

    Data Selection via Importance Resampling (Xie et al., 2023):
    weight every raw document by how target-like its hashed n-gram
    distribution is, log w(x) = Σ_b c_b(x)·(ln p̂_target(b) −
    ln p̂_raw(b)), with word-bigram features hashed into
    ``DSIR_BUCKETS`` buckets and add-one smoothing on both bucket
    distributions. Here the target slice is the English sub-corpus
    (the quality-reference role Wikipedia plays in the paper); the
    raw distribution is the whole corpus.

    Engine-exactness: the per-bucket log-ratio is truncated to
    integer micro-nats BEFORE the per-doc aggregation, so the doc
    score is an integer sum (order-independent — float summation
    order across engines cannot flip a knife-edge), divided back to
    nats only at the end. Hashing is the portable md5-slice family.

    Scale shape (100 TB): ONE tokenize scan reduces straight to the
    (doc, bucket, count) feature matrix — the only corpus-sized
    shuffle, 16-byte rows — which is then materialized
    (localCheckpoint) because every downstream quantity (target and
    raw bucket distributions, their totals, the per-doc score) is an
    aggregate OF that matrix; without the checkpoint Spark would
    re-run the tokenize+hash scan once per consumer (measured: the
    plan audit showed 3 scans). Both bucket distributions are B-row
    aggregates that ride back as ONE broadcast join; output is
    corpus-sized but narrow. Nothing is vocabulary- or corpus-
    quadratic, and B bounds all small-side state by construction.
    """
    from .dedup import _shingles, _words, explode_nonempty

    b_mod = DSIR_BUCKETS
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        (F.col("lang") == DSIR_TARGET_LANG).cast("int").alias("is_target"),
        _words(F.col("text")).alias("words"),
    )
    feat = explode_nonempty(
        tok, ["doc_id", "is_target"], _shingles(F.col("words"), k=2), "bg"
    ).select(
        "doc_id",
        "is_target",
        _md5_bucket(F.col("bg"), b_mod).alias("b"),
    )
    doc_feat = (
        feat.groupBy("doc_id", "is_target", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(materialize, "bounded")
    )
    # B-bounded (≤DSIR_BUCKETS rows) distributions, each consumed
    # twice (the bucket join AND its own total): materialize so the
    # corpus-sized doc_feat aggregation runs ONCE per distribution —
    # the plan audit showed each groupBy("b") shuffle running again
    # under its total's aggregate (4 corpus-sized passes, now 2).
    raw = materialize(doc_feat.groupBy("b").agg(F.sum("c").alias("c_r")), "bounded")
    tgt = (
        doc_feat.filter(F.col("is_target") == 1)
        .groupBy("b")
        .agg(F.sum("c").alias("c_t"))
        .transform(materialize, "bounded")
    )
    n_t = tgt.agg(F.sum("c_t").alias("n_t"))
    n_r = raw.agg(F.sum("c_r").alias("n_r"))
    # every bucket that occurs anywhere, target side null-filled: the
    # raw join below must find a log-ratio for EVERY observed bucket.
    buckets = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(n_t))
        .crossJoin(F.broadcast(n_r))
        .select(
            "b",
            # ln p̂_t − ln p̂_r with add-one smoothing, as integer
            # micro-nats (Spark cast=trunc; DuckDB oracle uses trunc())
            (
                (
                    F.log((F.coalesce(F.col("c_t"), F.lit(0)) + 1).cast("double"))
                    - F.log((F.col("n_t") + b_mod).cast("double"))
                    - F.log((F.col("c_r") + 1).cast("double"))
                    + F.log((F.col("n_r") + b_mod).cast("double"))
                )
                * 1_000_000
            )
            .cast("long")
            .alias("lr_unats"),
        )
    )
    scored = (
        doc_feat.join(maybe_broadcast(buckets), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            (F.sum(F.col("c") * F.col("lr_unats")) / 1e6).alias("log_weight"),
        )
    )
    return (
        docs.select(
            "doc_id",
            (F.col("lang") == DSIR_TARGET_LANG).cast("int").alias("is_target"),
        )
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            "is_target",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("log_weight", F.lit(0.0)).alias("log_weight"),
            (F.coalesce("log_weight", F.lit(0.0)) > 0).cast("int").alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# export_shards
# ---------------------------------------------------------------------------

#: training-export shard count — in production the dataloader's world
#: size (files per epoch shuffle unit); here small enough to eyeball.
N_SHARDS = 32


def export_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-export shard assignment audit: balance report per shard.

    The last step of a curation pipeline is writing the corpus as N
    shuffled, size-balanced shards for the dataloader. Assignment is
    the deterministic md5 bucket (documents land uniformly and
    independently of input order — a hash shuffle, not a global sort),
    and the writer is simply ``df.write.partitionBy("shard_id")`` (or
    ``repartition(N, "shard_id")`` for one file per shard). This key
    is the audit that must accompany that export: per-shard doc/char
    counts, language spread, and each shard's deviation from the ideal
    1/N share — the skew check that tells you whether any dataloader
    rank starves. One hash aggregation over a two-column projection;
    the 1-row corpus total is a broadcast (nation_revenue_share shape).
    """
    docs = load_table(spark, sf_dir, "documents")
    per_shard = (
        docs.select(
            _md5_bucket(F.col("doc_id"), N_SHARDS).alias("shard_id"),
            "lang",
            "n_chars",
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .transform(materialize, "bounded")  # N_SHARDS rows; total AND report
    )
    # corpus total = sum of the per-shard counts — no second corpus scan
    total = per_shard.agg(F.sum("n_docs").alias("n_total"))
    return (
        per_shard.crossJoin(F.broadcast(total))
        .select(
            "shard_id",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("total_chars").cast("long").alias("total_chars"),
            F.col("n_langs").cast("long").alias("n_langs"),
            F.round(F.col("n_docs") / F.col("n_total"), 6).alias("share"),
            F.round(
                F.col("n_docs") * F.lit(N_SHARDS) / F.col("n_total") - 1.0, 6
            ).alias("dev_from_ideal"),
        )
        .orderBy("shard_id")
    )


#: train/val/test hash-split boundaries on the 100-bucket md5 ring.
SPLIT_TRAIN_LT, SPLIT_VAL_LT = 90, 95


def _split_of(bucket_col: F.Column) -> F.Column:
    return (
        F.when(bucket_col < SPLIT_TRAIN_LT, "train")
        .when(bucket_col < SPLIT_VAL_LT, "val")
        .otherwise("test")
    )


def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 corpus split audit (train / val / test).

    The split every training pipeline needs before anything else:
    membership is a pure function of doc_id (md5 bucket on the
    100-slot ring — content- and order-independent, so re-runs,
    backfills, and incremental appends NEVER move a document across
    the split boundary, the property that prevents eval leakage).
    The report is one hash aggregation over a three-column projection
    + a 1-row corpus-total broadcast (export_shards shape); shares
    are integer-exact ppm so both engines agree bit-for-bit.
    """
    docs = load_table(spark, sf_dir, "documents")
    b = _md5_bucket(F.col("doc_id"), 100)
    per_split = (
        docs.select(
            _split_of(b).alias("split"),
            "lang",
            "n_chars",
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
        .transform(materialize, "bounded")  # 3 rows; feeds the total AND the report
    )
    # corpus total = sum of the per-split counts — no second corpus scan
    total = per_split.agg(F.sum("n_docs").alias("n_total"))
    return (
        per_split.crossJoin(F.broadcast(total))
        .select(
            "split",
            F.col("n_docs").cast("long").alias("n_docs"),
            "total_chars",
            "n_langs",
            F.expr("(n_docs * 1000000L) DIV n_total").alias("doc_share_ppm"),
        )
        .orderBy("split")
    )


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val/test split: near-duplicates can never
    straddle the split boundary.

    The eval-leakage failure ``train_val_test_split`` can't prevent:
    two NEAR-duplicate documents hash to independent buckets, so one
    lands in train and its twin in test — the benchmark is
    contaminated even though no doc_id repeats. Fix = split by GROUP,
    not by doc: every doc adopts its near-dup cluster id (singletons
    keep their own doc_id), and the md5 ring hashes that group id —
    the whole clique moves together (pytest: zero clusters cross a
    boundary). The split itself stays one hash aggregation + a 1-row
    total broadcast.

    r08: the cluster pass is ``dedup_clusters_twostar`` (alternating
    large-star/small-star, O(log n) rounds in NODE count) instead of
    min-label propagation (O(diameter) rounds) — identical relation
    by contract (both oracle-checked against the same recursive-CTE
    twin, so this key's hash is unchanged), but at 100 TB the
    pathological chain topologies (serial re-posts, quote chains)
    converge in log rounds instead of walking the chain.
    """
    from .dedup import dedup_clusters_twostar

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    clusters = dedup_clusters_twostar(spark, sf_dir)  # (doc_id, cluster_id)
    grouped = docs.join(clusters, "doc_id", "left").select(
        "doc_id",
        "lang",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("gid"),
    )
    per_split = (
        grouped.select(_split_of(_md5_bucket(F.col("gid"), 100)).alias("split"), "gid")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("gid").cast("long").alias("n_groups"),
        )
        .transform(materialize, "bounded")  # 3 rows; feeds the total AND the report
    )
    # corpus total = sum of the per-split counts — skips re-running the
    # docs ⋈ clusters join a second time just to count rows
    total = per_split.agg(F.sum("n_docs").alias("n_total"))
    return (
        per_split.crossJoin(F.broadcast(total))
        .select(
            "split",
            F.col("n_docs").cast("long").alias("n_docs"),
            "n_groups",
            F.expr("(n_docs * 1000000L) DIV n_total").alias("doc_share_ppm"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

_WORDS_SQL = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"

_BUCKET_SQL = (
    "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100"
)

#: shared DuckDB CTE chain producing (doc_id, q) + the quartile cuts —
#: reused by curriculum_assign AND every oracle that composes the
#: curriculum stage downstream (sequence_packing_curriculum).
CURRICULUM_STAGE_CTES = f"""scored AS (
            SELECT doc_id,
                   round(
                       (CASE WHEN nw BETWEEN 20 AND 5000 THEN 0.4 ELSE 0.0 END)
                     + (CASE WHEN (CASE WHEN nw > 0 THEN n_chars / nw ELSE 0.0 END) BETWEEN 3 AND 12 THEN 0.3 ELSE 0.0 END)
                     + (CASE WHEN (CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END) <= 0.1 THEN 0.2 ELSE 0.0 END)
                     + (CASE WHEN (CASE WHEN nw > 0 THEN n_stop / nw ELSE 0.0 END) >= 0.01 THEN 0.1 ELSE 0.0 END), 2) AS q
            FROM (
                SELECT doc_id,
                       len({_WORDS_SQL}) AS nw,
                       length(text) AS n_chars,
                       len(regexp_extract_all(text, '([^\\w\\s])', 1)) AS n_punct,
                       len(list_filter({_WORDS_SQL},
                           x -> list_contains(['the','and','of','to','a','in','is','that','it','for'], x))) AS n_stop
                FROM documents
            )
        ),
        cuts AS (
            SELECT {', '.join(f'quantile_cont(q, {i}/{N_STAGES}.0) AS p{i}' for i in range(1, N_STAGES))}
            FROM scored
        )"""

#: the quartile→stage CASE (reads q + the cuts columns).
CURRICULUM_STAGE_CASE = (
    "CAST("
    + " ".join(f"CASE WHEN q > p{i} THEN {i} ELSE" for i in range(N_STAGES - 1, 0, -1))
    + " 0 "
    + "END " * (N_STAGES - 1)
    + "AS INT)"
)

ORACLES: dict[str, str] = {
    "mixture_sample": """
        WITH counts AS (
            SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
        ),
        rates AS (
            SELECT lang,
                   CAST(floor(100 * sqrt((SELECT CAST(min(n_docs) AS DOUBLE) FROM counts) / n_docs)) AS INT)
                       AS rate_pct
            FROM counts
        )
        SELECT d.doc_id, d.lang, d.source, r.rate_pct
        FROM documents d JOIN rates r USING (lang)
        WHERE CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
              < r.rate_pct
    """,
    "weighted_sample": f"""
        SELECT doc_id, lang, n_chars AS weight,
               round(ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, {_U_HEX_DIGITS})) AS BIGINT) + 1.0)
                        / {_U_DENOM}) / n_chars, 9) AS sample_key
        FROM documents
        ORDER BY sample_key DESC, doc_id
        LIMIT {WEIGHTED_K}
    """,
    "domain_stats": """
        WITH tot AS (
            SELECT CAST(count(*) AS DOUBLE) AS all_docs,
                   CAST(sum(n_chars) AS DOUBLE) AS all_chars
            FROM documents
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               round(avg(n_chars), 4) AS avg_chars,
               round(count(*) / max(t.all_docs), 6) AS doc_share,
               round(sum(n_chars) / max(t.all_chars), 6) AS char_share
        FROM documents CROSS JOIN tot t
        GROUP BY source
    """,
    "quality_classifier": f"""
        WITH tok AS (
            SELECT doc_id, lang, {_WORDS_SQL} AS words FROM documents
        ),
        scored AS (
            SELECT doc_id, lang, len(words) AS n,
                   list_sum(list_transform(words,
                       w -> (CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) % {N_BUCKETS})
                            * {_KNUTH} % {_WMOD})) AS sum_int
            FROM tok WHERE len(words) > 0
        )
        SELECT doc_id, lang,
               CAST(n AS BIGINT) AS n_words,
               round(1.0 / (1.0 + exp(-(sum_int / ({_WMOD / 2.0} * n) - 1.0))), 6) AS quality_prob,
               CAST(2 * sum_int >= {_WMOD} * n AS INT) AS keep
        FROM scored
    """,
    "curriculum_assign": f"""
        WITH {CURRICULUM_STAGE_CTES}
        SELECT doc_id, q AS quality_score,
               {CURRICULUM_STAGE_CASE} AS stage
        FROM scored CROSS JOIN cuts
    """,
    "phrase_search": f"""
        WITH tok AS (
            SELECT doc_id, lang, {_WORDS_SQL} AS words FROM documents
        )
        SELECT doc_id, lang,
               CAST(len(list_filter(generate_series(1, len(words) - 1),
                    i -> words[i] = '{PHRASE[0]}' AND words[i + 1] = '{PHRASE[1]}'))
                    AS BIGINT) AS n_matches
        FROM tok
        WHERE len(list_filter(generate_series(1, len(words) - 1),
              i -> words[i] = '{PHRASE[0]}' AND words[i + 1] = '{PHRASE[1]}')) > 0
    """,
}

ORACLES["token_budget_plan"] = f"""
    WITH per_src AS (
        SELECT source,
               CAST(sum(len({{ws}})) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    weighted AS (
        SELECT source, n_tokens,
               CAST(floor(sqrt(n_tokens) * {W_SCALE}) AS BIGINT) AS w
        FROM per_src
    ),
    tot AS (SELECT CAST(sum(w) AS BIGINT) AS w_total FROM weighted)
    SELECT source, n_tokens,
           ({TOKEN_BUDGET} * w) // w_total AS quota_tokens,
           (({TOKEN_BUDGET} * w) // w_total) * 10000 // n_tokens AS epochs_bp
    FROM weighted CROSS JOIN tot
    ORDER BY source
""".format(ws=_WORDS_SQL)

ORACLES["domain_kl_divergence"] = f"""
    WITH words AS (
        SELECT source, unnest({{ws}}) AS word FROM documents
    ),
    sw AS (
        SELECT source, word, CAST(count(*) AS BIGINT) AS c_sw
        FROM words GROUP BY source, word
    ),
    w AS (SELECT word, CAST(sum(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY word),
    s_tot AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS n_s FROM sw GROUP BY source),
    n_tot AS (SELECT CAST(sum(c_w) AS BIGINT) AS n_total FROM w)
    SELECT sw.source,
           CAST(max(n_s) AS BIGINT) AS n_words,
           CAST(count(*) AS BIGINT) AS n_distinct_words,
           round(sum((CAST(c_sw AS DOUBLE) / n_s)
                     * ln((CAST(c_sw AS DOUBLE) / n_s)
                          / (CAST(c_w AS DOUBLE) / n_total))), 4) AS kl_nats
    FROM sw
    JOIN w USING (word)
    JOIN s_tot ON sw.source = s_tot.source
    CROSS JOIN n_tot
    GROUP BY sw.source
    ORDER BY sw.source
""".format(ws=_WORDS_SQL)

ORACLES["export_shards"] = f"""
    WITH assigned AS (
        SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % {N_SHARDS} AS shard_id,
               lang, n_chars
        FROM documents
    ),
    total AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents)
    SELECT shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           round(count(*) / CAST(n_total AS DOUBLE), 6) AS share,
           round(count(*) * {N_SHARDS} / CAST(n_total AS DOUBLE) - 1.0, 6) AS dev_from_ideal
    FROM assigned CROSS JOIN total
    GROUP BY shard_id, n_total
    ORDER BY shard_id
"""

ORACLES["train_val_test_split"] = f"""
    WITH assigned AS (
        SELECT CASE
                 WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                      % 100 < {SPLIT_TRAIN_LT} THEN 'train'
                 WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                      % 100 < {SPLIT_VAL_LT} THEN 'val'
                 ELSE 'test'
               END AS split,
               lang, n_chars
        FROM documents
    ),
    total AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents)
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST((count(*) * 1000000) // n_total AS BIGINT) AS doc_share_ppm
    FROM assigned CROSS JOIN total
    GROUP BY split, n_total
    ORDER BY split
"""

def _leakage_safe_split_oracle() -> str:
    from .dedup import _CLUSTERS_CTE

    return (
        _CLUSTERS_CTE
        + f"""
    , grouped AS (
        SELECT d.doc_id, d.lang, coalesce(c.cluster_id, d.doc_id) AS gid
        FROM documents d LEFT JOIN clusters c USING (doc_id)
    ),
    assigned AS (
        SELECT doc_id, gid,
               CASE
                 WHEN CAST(concat('0x', substr(md5(CAST(gid AS VARCHAR)), 1, 8)) AS BIGINT)
                      % 100 < {SPLIT_TRAIN_LT} THEN 'train'
                 WHEN CAST(concat('0x', substr(md5(CAST(gid AS VARCHAR)), 1, 8)) AS BIGINT)
                      % 100 < {SPLIT_VAL_LT} THEN 'val'
                 ELSE 'test'
               END AS split
        FROM grouped
    ),
    total AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM assigned)
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT gid) AS BIGINT) AS n_groups,
           CAST((count(*) * 1000000) // n_total AS BIGINT) AS doc_share_ppm
    FROM assigned CROSS JOIN total
    GROUP BY split, n_total
    ORDER BY split
"""
    )


ORACLES["leakage_safe_split"] = _leakage_safe_split_oracle()

ORACLES["dsir_importance"] = f"""
    WITH w AS (
        SELECT doc_id, CAST(lang = '{DSIR_TARGET_LANG}' AS INT) AS is_target,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS words
        FROM documents
    ),
    bg AS (
        SELECT doc_id, is_target,
               unnest(list_transform(generate_series(1, len(words) - 1),
                      i -> words[i] || ' ' || words[i+1])) AS bg
        FROM w
    ),
    feat AS (
        SELECT doc_id, is_target,
               CAST(concat('0x', substr(md5(bg), 1, 8)) AS BIGINT) % {DSIR_BUCKETS} AS b
        FROM bg
    ),
    doc_feat AS (SELECT doc_id, b, count(*) AS c FROM feat GROUP BY 1, 2),
    tgt AS (SELECT b, count(*) AS c_t FROM feat WHERE is_target = 1 GROUP BY b),
    raw AS (SELECT b, count(*) AS c_r FROM feat GROUP BY b),
    tot AS (SELECT (SELECT sum(c_t) FROM tgt) AS n_t,
                   (SELECT sum(c_r) FROM raw) AS n_r),
    buckets AS (
        -- integer micro-nats, trunc() to match Spark's truncating cast
        SELECT raw.b,
               CAST(trunc((ln(coalesce(c_t, 0) + 1) - ln(n_t + {DSIR_BUCKETS})
                           - ln(c_r + 1) + ln(n_r + {DSIR_BUCKETS}))
                          * 1000000) AS BIGINT) AS lr_unats
        FROM raw LEFT JOIN tgt USING (b), tot
    ),
    scored AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
               sum(c * lr_unats) / 1000000.0 AS log_weight
        FROM doc_feat JOIN buckets USING (b)
        GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(d.lang = '{DSIR_TARGET_LANG}' AS INT) AS is_target,
           coalesce(n_grams, 0) AS n_grams,
           coalesce(log_weight, 0.0) AS log_weight,
           CAST(coalesce(log_weight, 0.0) > 0 AS INT) AS keep
    FROM documents d LEFT JOIN scored ON d.doc_id = scored.doc_id
"""

#: epoch-shuffle geometry: contiguous hash-range shards per epoch.
EPOCH_SHARDS = 16
N_EPOCHS = 2


def epoch_shuffle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch global training order, audited per shard.

    Multi-epoch training needs a DIFFERENT document order each epoch,
    reproducible from (epoch, doc_id) alone — never stored state. The
    order key is md5-slice32("{epoch}:{doc_id}"): a seeded permutation
    of the corpus. Shards are CONTIGUOUS ranges of that key space
    (top bits: ``okey·S div 2³²``), so dataloader rank k streams its
    shard sorted by key and the concatenation of shards 0..S-1 IS the
    epoch's global permutation — hash-uniform keys keep shard sizes
    balanced with no planning pass.

    Plan shape: one projection (the key is codegen'd md5 math), one
    hash shuffle on (epoch, shard), and a per-shard rank window — the
    sort a shard writer pays anyway to emit its file in stream order;
    S is the parallelism knob, so no global sort and nothing
    single-partition. The audit emits per (epoch, shard) the doc
    count and an order-weighted checksum (rank·doc_id) — any dropped
    doc, collision mishandling, or mis-ordered stream changes it; the
    DuckDB oracle re-derives the identical permutation (hash-checked).
    Epoch-permutation distinctness is pytest-asserted.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(N_EPOCHS).select(F.col("id").alias("epoch"))
    keyed = docs.crossJoin(F.broadcast(epochs)).select(
        "epoch",
        "doc_id",
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("epoch"), F.col("doc_id"))), 1, 8
            ),
            16,
            10,
        )
        .cast("long")
        .alias("okey"),
    )
    # top log2(S) bits of the 32-bit key: integer-exact in both engines
    shard = F.shiftright(F.col("okey"), 28).cast("long")
    w = Window.partitionBy("epoch", "shard_id").orderBy("okey", "doc_id")
    return (
        keyed.withColumn("shard_id", shard)
        .withColumn("rnk", F.row_number().over(w))
        .groupBy("epoch", "shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("rnk").cast("long") * F.col("doc_id")).alias(
                "order_checksum"
            ),
            F.min("okey").alias("min_key"),
        )
    )


ORACLES["epoch_shuffle_plan"] = f"""
    WITH keyed AS (
        SELECT e.epoch, d.doc_id,
               CAST(concat('0x', substr(md5(e.epoch || ':' || d.doc_id), 1, 8))
                    AS BIGINT) AS okey
        FROM documents d,
             (SELECT unnest(generate_series(0, {N_EPOCHS - 1})) AS epoch) e
    ),
    ranked AS (
        SELECT epoch, doc_id, okey,
               okey >> 28 AS shard_id,
               row_number() OVER (
                   PARTITION BY epoch, okey >> 28
                   ORDER BY okey, doc_id) AS rnk
        FROM keyed
    )
    SELECT epoch, shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(rnk * doc_id) AS BIGINT) AS order_checksum,
           min(okey) AS min_key
    FROM ranked
    GROUP BY epoch, shard_id
"""


# ---------------------------------------------------------------------------
# train_quality_classifier
# ---------------------------------------------------------------------------

#: trained-model feature set (bounded K — driver state is K+1 floats).
QC_FEATURES = ("log_words", "avg_word_len", "punct_ratio", "stopword_ratio", "ttr")
QC_ITERS = 20
QC_LR = 1.0
#: score-histogram resolution for the distributed AUC (bounded window).
QC_AUC_BINS = 3


def _qc_training_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, features..., y) — the labelled training set.

    Labels are a synthetic deterministic teacher (the heuristic
    ``quality_cols`` score plus md5-derived noise that flips
    borderline docs), standing in for the human/LLM judgments a real
    FineWeb-Edu-style run would join in; the deliverable is the
    distributed trainer, and the teacher makes its convergence
    testable without external labels.
    """
    from .text_analysis import quality_cols

    docs = load_table(spark, sf_dir, "documents")
    q = quality_cols(F.col("text"))
    words = _words(F.col("text"))
    n_words = F.size(words)
    ttr = F.when(
        n_words > 0, F.size(F.array_distinct(words)) / n_words
    ).otherwise(F.lit(0.0))
    noise = (
        (_md5_bucket(F.col("doc_id"), 1000) / F.lit(1000.0)) - F.lit(0.5)
    ) * F.lit(0.4)
    label = (q["quality_score"] + noise > F.lit(0.75)).cast("double")
    return docs.select(
        "doc_id",
        F.log1p(q["n_words"]).alias("log_words"),
        q["avg_word_len"].alias("avg_word_len"),
        q["punct_ratio"].alias("punct_ratio"),
        q["stopword_ratio"].alias("stopword_ratio"),
        F.round(ttr, 6).alias("ttr"),
        label.alias("y"),
    ).filter(n_words > 0)


def train_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed full-batch logistic regression for document quality.

    The FineWeb-Edu shape: train a linear quality classifier over the
    corpus, then use its scores to gate or mix training data. Each
    gradient-descent iteration is ONE DataFrame aggregate — per-row
    gradient contributions x_j·(σ(w·x) − y) summed JVM-side via
    ``avg`` over a localCheckpoint'd standardized feature frame — so
    an iteration's cost is a single map-side-combined pass over the
    corpus and the driver state is K+1 floats, never rows. At 100 TB
    this is exactly the treeAggregate shape MLlib uses, expressed
    declaratively; 20 fixed iterations ≈ 20 scans, each
    whole-stage-codegen'd.

    The reported train AUC is computed WITHOUT a global sort: scores
    are binned (round to 10^-{QC_AUC_BINS}), the bin histogram is a
    bounded relation, and the rank-sum runs as a window over bins —
    ties-within-bin get the standard 0.5 credit.

    Output (bounded): one row per feature weight, plus ``__bias__``,
    ``__train_auc__`` and ``__n_docs__``. Registered rows-only (float
    iterative, like kmeans/pca); numpy-parity + AUC-floor pytests.
    """
    feats = _qc_training_frame(spark, sf_dir)
    stats = feats.agg(
        *[F.avg(c).alias(f"mu_{c}") for c in QC_FEATURES],
        *[F.stddev_pop(c).alias(f"sd_{c}") for c in QC_FEATURES],
    ).collect()[0]
    std = feats.select(
        "doc_id",
        "y",
        *[
            (
                (F.col(c) - F.lit(float(stats[f"mu_{c}"])))
                / F.lit(max(float(stats[f"sd_{c}"] or 0.0), 1e-9))
            ).alias(c)
            for c in QC_FEATURES
        ],
    ).transform(materialize, "iterative")

    w = {c: 0.0 for c in QC_FEATURES}
    bias = 0.0
    for _ in range(QC_ITERS):
        margin = F.lit(bias)
        for c in QC_FEATURES:
            margin = margin + F.col(c) * F.lit(w[c])
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
        g = std.agg(
            *[F.avg((p - F.col("y")) * F.col(c)).alias(c) for c in QC_FEATURES],
            F.avg(p - F.col("y")).alias("__bias__"),
        ).collect()[0]
        for c in QC_FEATURES:
            w[c] -= QC_LR * float(g[c])
        bias -= QC_LR * float(g["__bias__"])

    margin = F.lit(bias)
    for c in QC_FEATURES:
        margin = margin + F.col(c) * F.lit(w[c])
    from pyspark.sql import Window

    bins = (
        std.select(F.round(margin, QC_AUC_BINS).alias("s"), "y")
        .groupBy("s")
        .agg(
            F.sum("y").alias("pos"),
            F.sum(F.lit(1.0) - F.col("y")).alias("neg"),
        )
    )
    win = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    auc_row = (
        bins.withColumn("neg_below", F.coalesce(F.sum("neg").over(win), F.lit(0.0)))
        .agg(
            (
                F.sum(F.col("pos") * F.col("neg_below"))
                + F.lit(0.5) * F.sum(F.col("pos") * F.col("neg"))
            ).alias("num"),
            F.sum("pos").alias("npos"),
            F.sum("neg").alias("nneg"),
        )
        .select(
            # single-class guard: with all-0 or all-1 labels the
            # denominator is 0 and the division is NULL (float(None)
            # raises); AUC is undefined there — report the 0.5 prior
            F.when(
                F.col("npos") * F.col("nneg") > 0,
                F.col("num") / (F.col("npos") * F.col("nneg")),
            )
            .otherwise(F.lit(0.5))
            .alias("auc"),
            (F.col("npos") + F.col("nneg")).alias("n"),
        )
        .collect()[0]
    )
    out = [(c, round(w[c], 6)) for c in QC_FEATURES]
    out.append(("__bias__", round(bias, 6)))
    out.append(("__train_auc__", round(float(auc_row.auc), 6)))
    out.append(("__n_docs__", float(int(auc_row.n))))
    return spark.createDataFrame(out, ["term", "value"])


QUERIES = {
    "curriculum_assign": curriculum_assign,
    "train_quality_classifier": train_quality_classifier,
    "epoch_shuffle_plan": epoch_shuffle_plan,
    "dsir_importance": dsir_importance,
    "domain_kl_divergence": domain_kl_divergence,
    "token_budget_plan": token_budget_plan,
    "export_shards": export_shards,
    "train_val_test_split": train_val_test_split,
    "leakage_safe_split": leakage_safe_split,
    "mixture_sample": mixture_sample,
    "weighted_sample": weighted_sample,
    "domain_stats": domain_stats,
    "quality_classifier": quality_classifier,
    "phrase_search": phrase_search,
}
