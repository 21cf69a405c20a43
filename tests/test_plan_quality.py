"""Physical-plan invariants for every registered query.

Correctness says the answer is right; these assertions say the *plan*
is the one you'd still want at 100 TB:

- no row-at-a-time Python UDFs (``BatchEvalPython``) anywhere — Python
  only ever appears as Arrow-batched (``ArrowEvalPython``/``MapInPandas``),
  and only in the operators that declared it;
- no unplanned cartesian products — non-equi joins must at least be
  broadcast nested-loop with a bounded build side, and only in the
  operators designed around one (all-pairs calibration baselines,
  1-row scalar-subquery broadcasts);
- global top-k compiles to ``TakeOrderedAndProject`` (distributed
  partial top-k), never a global range-partitioned sort;
- selective filters reach the parquet scan (``PushedFilters`` has a
  real predicate, not just IsNotNull).
"""

from __future__ import annotations

import re

import pytest

from samza_hello_samza_spark.registry import all_queries
from tests.conftest import SF_DIR, jobs_started

QUERIES = all_queries()

#: operators whose semantics are built on a bounded non-equi /
#: all-pairs broadcast join (calibration baselines, scalar subqueries,
#: single-query-vector scoring).
NONEQUI_OK = {
    "dedup_embedding",      # all-pairs cosine calibration baseline
    "q22_idle_customers",   # 1-row scalar-subquery broadcast
    "q11_important_parts",  # 1-row value-threshold scalar broadcast
    "nation_revenue_share",  # 1-row global-total broadcast
    "customer_value_segments",  # 1-row quantile-thresholds broadcast
    "events_funnel",        # three 1-row stage counts broadcast-crossed
    "range_join_value_bands",  # broadcast band-interval non-equi join
    "ann_bruteforce_topk",  # 1-row query-vector broadcast
    "ann_recall_curve",     # inherits bruteforce's 1-row query broadcast
    "corpus_dedup_report",  # four 1-row summary aggregates broadcast-crossed
    "lsh_band_sweep",       # per-config 1-row count aggregates broadcast-crossed
    "lsh_multiprobe_eval",  # per-variant 1-row count aggregates broadcast-crossed
    "bm25_ingest_audit",    # 1-row impacts-df aggregate broadcast-crossed
    "perplexity_proxy",     # 1-row corpus-total broadcast
    "corpus_quality_calibration",  # inherits perplexity's 1-row total broadcast
    "ccnet_perplexity_buckets",  # inherits perplexity's 1-row total broadcast
    "decayed_user_value",   # 1-row decay-anchor broadcast
    "price_equidepth_histogram",  # 1-row quantile-bounds broadcast
    "sequence_packing",     # triangular join over tiny bucket totals (prefix sum)
    "sequence_packing_curriculum",  # inherits curriculum_assign's 1-row cuts broadcast (its own triangular join IS equi on (lang, stage))
    "sequence_packing_materialize",  # inherits sequence_packing's triangular bucket-totals join (assembly itself is equi on doc_id/seq_id)
    "sequence_packing_curriculum_materialize",  # inherits curriculum cuts broadcast + triangular totals join (assembly equi on doc_id / (lang,stage,seq_id))
    "corpus_vocab_stats",   # two 1-row aggregates broadcast-crossed
    "bm25_search",          # 1-row corpus-stats (N, avgdl) broadcast
    "hybrid_search",        # inherits bm25's stats broadcast; fusion joins 20-row frames
    "curation_ruleset_venn",  # 1-row total broadcast over the 8-cell venn
    "tfidf_top_terms",      # 1-row corpus-count broadcast
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_batch_topk",       # query-batch broadcast scoring
    # (r11: ann_sq8_batch_topk / ann_sq8_batch_wide / hybrid_batch_
    # indexed left this list — the GEMM kernel replaced their
    # broadcast cross join, so a BroadcastNestedLoopJoin reappearing
    # in those plans is now a regression this test catches)
    "hard_negative_mining",  # anchor-batch broadcast scoring
    "audience_kmv_setops",  # bounded |event_types|² pair-frame cross
    "embedding_knn_eval",   # query-batch broadcast scoring (ann_batch shape)
    "ann_pq_topk",          # 1-row query re-rank over ADC candidates
    "ann_ivfpq_topk",       # 1-row query re-rank over IVFADC candidates
    "mixture_sample",       # 1-row min-count broadcast into the rate table
    "basket_rules",         # 1-row basket-total broadcast (basket_pmi shape)
    "export_shards",        # 1-row corpus-total broadcast (share report)
    "train_val_test_split",  # 1-row corpus-total broadcast (split report)
    "leakage_safe_split",    # 1-row corpus-total broadcast (split report)
    "contamination_bloom",  # 1-row bloom-bits broadcast (constant-key join folds)
    "domain_kl_divergence",  # 1-row corpus-total broadcast (KL normalizer)
    "kneser_ney_bigram",    # 1-row bigram-type-count broadcast
    "token_budget_plan",    # 1-row weight-total broadcast
    "domain_stats",         # 1-row corpus-totals broadcast
    "curriculum_assign",    # 1-row quantile-thresholds broadcast
    "events_gapfill",       # 1-row day-span broadcast into the spine
    "parts_skyline",        # triangular join over tiny bucket maxima (prefix max)
    "customer_rfm_segments",  # 1-row anchor + quartile-cuts broadcasts
    "customer_pareto_curve",  # 1-row decile-cuts + total-rev broadcasts
    "orders_seasonality",   # 1-row total-revenue broadcast
    "data_quality_report",  # 1-row check aggregates broadcast-crossed
    "basket_pmi",           # 1-row basket-total broadcast
    "vocab_coverage",       # 1-row corpus-total broadcast
    "segment_migration",    # 1-row time-midpoint broadcast
    "benford_deviation",    # 1-row digit-total broadcast
    "priority_mix_chi2",    # 1-row grand-total broadcast
    "doc_length_histogram",  # 1-row doc-total broadcast
    "user_recency_buckets",  # 1-row max-day anchor broadcast
    "dsir_importance",       # two 1-row feature-total broadcasts
    "epoch_shuffle_plan",    # N_EPOCHS-row epoch-spine broadcast cross
}

#: operators that declared an Arrow-batched Python stage.
ARROW_OK = {
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_filtered_ivf_topk",  # shares the IVF assign/build stage
    "ann_pq_topk",        # PQ encode is an Arrow-batched numpy matmul
    "ann_ivfpq_topk",     # coarse-assign + residual encode, Arrow-batched
    "bpe_encode_docs",    # greedy BPE merge loop, Arrow-batched
    "unigram_encode_docs",  # Viterbi lattice DP, Arrow-batched
    "wordpiece_encode_docs",  # greedy longest-match encode, Arrow-batched
    "wordpiece_train_vocab",  # per-round merge rewrite, Arrow-batched
    "unigram_train_vocab_em",  # forward-backward E-step, Arrow-batched
    "embedding_pca",      # Gramian + projection are Arrow-batched matmuls
    "multimodal_decode",
    "multimodal_resize",
    "multimodal_frame_sample",
    "multimodal_features",
    # tar-corpus audit: untar (mapInPandas) + int64 payload decode
    # (Arrow UDF) are the declared Python stages — the tar bytes have
    # no JVM reader, same class as the multimodal codecs above.
    "packed_webdataset_audit",
    # r11 batch-ADC GEMM kernel (functions/sq8.adc_batch_candidates,
    # mapInArrow): one exact float64 GEMM per Arrow batch with
    # in-kernel partial top-k — guide §4.2, oracle hashes unchanged.
    "ann_sq8_batch_topk",
    "ann_sq8_batch_wide",
    "hybrid_batch_indexed",
}

#: queries ending in a global ORDER BY ... LIMIT k.
TOPK = {
    "q3_shipping_priority",
    "ann_filtered_topk",
    "ann_filtered_ivf_topk",
    "q10_returned_items",
    "q18_large_volume",
    "top_users_by_value",
    "text_bigram_topk",
    "ann_bruteforce_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_mrl_topk",
}


def _plan(spark, name: str) -> str:
    # default metadata truncation (100 chars) cuts PushedFilters lists
    # mid-entry; raise it so assertions see the full scan metadata.
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    return QUERIES[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_rowwise_python_udf(spark, name):
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan, f"{name} runs a row-at-a-time Python UDF"
    if name not in ARROW_OK:
        assert (
            "ArrowEvalPython" not in plan
            and "MapInPandas" not in plan
            and "MapInArrow" not in plan  # r11: close the mapInArrow hole
        ), f"{name} has an undeclared Python stage"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_unplanned_cartesian(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    if name not in NONEQUI_OK:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} has an undeclared non-equi join"
        )


def test_wikipedia_stats_builds_lazily(spark):
    """The running total is one window over the windowed aggregate, so
    building the DataFrame materialises nothing. The first build warms
    the schema memo; the second must start no Spark job at all."""
    QUERIES["wikipedia_stats"](spark, SF_DIR)
    assert jobs_started(spark, lambda: QUERIES["wikipedia_stats"](spark, SF_DIR)) == 0


@pytest.mark.parametrize("name", sorted(TOPK & set(QUERIES)))
def test_topk_is_distributed(spark, name):
    plan = _plan(spark, name)
    assert "TakeOrderedAndProject" in plan, f"{name} top-k is not partial top-k"
    assert "rangepartitioning" not in plan, f"{name} does a global sort for top-k"


@pytest.mark.parametrize(
    "name,scan_filter",
    [
        ("q1_pricing_summary", r"LessThanOrEqual\(l_shipdate"),
        ("q6_forecast_revenue", r"GreaterThanOrEqual\(l_shipdate"),
        ("q4_order_priority", r"EqualTo\(l_returnflag,R\)"),
        ("q19_disjunctive_revenue", r"PushedFilters: \[[^\]]*Or\("),
        ("filter_events", r"EqualTo\(event_type"),
        ("samza_sql_filter", r"PushedFilters: \[[^\]]*EqualTo"),
    ],
)
def test_filter_pushdown_reaches_scan(spark, name, scan_filter):
    plan = _plan(spark, name)
    assert re.search(scan_filter, plan), (
        f"{name}: expected pushed filter /{scan_filter}/ in scan\n{plan[:2000]}"
    )


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """Runtime row-level filtering: a selective filter on the build
    side of a shuffle join must inject a bloom filter into the probe
    side's scan stage — at 100 TB this skips most of the fact-table
    read for free. Thresholds are lowered so sf0.001 qualifies; the
    assertion is on the optimized plan's injected predicate."""
    from pyspark.sql import functions as F

    from samza_hello_samza_spark.session import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        # sf0.001's lineitem is far below the 10GB production default;
        # zero the floor so the tiny test scan qualifies.
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        orders = load_table(spark, SF_DIR, "orders").filter(
            (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 150_000)
        )
        li = load_table(spark, SF_DIR, "lineitem")
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan[:3000]
        assert j.collect()[0]["count"] > 0
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ngram_jaccard_pair_join_is_equi_on_shingle(spark):
    """The shingle-overlap pair join must plan as an EQUI join keyed on
    the shingle (hash or sort-merge — doc_id< is the residual), never
    a nested loop: the r04 NONEQUI_OK allowlist entry was masking any
    future regression of this shape (VERDICT r04 #6)."""
    plan = _plan(spark, "dedup_ngram_jaccard")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert re.search(
        r"(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin) \[shingle", plan
    ), plan[:2000]
