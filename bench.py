#!/usr/bin/env python3
"""Benchmark headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": 0.1}

Each query is materialized through the `noop` sink — full execution,
no driver-side collect bottleneck, mirroring a cluster write.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from samza_hello_samza_spark.registry import all_queries
from samza_hello_samza_spark.session import DEFAULT_SF_DIR, get_spark, released

#: Headliners: the scale-sensitive plans (scans, shuffles, joins,
#: windows, dedup, ANN) — not the trivially tiny ones.
HEADLINE = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q10_returned_items",
    "part_type_stats",
    "groupby_count",
    "tumbling_window",
    "session_window",
    "stream_stream_join",
    "stream_table_join",
    "wikipedia_stats",
    "wordcount",
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_quality",
    "ann_bruteforce_topk",
    "ann_lsh_topk",
    "events_funnel",
    "cohort_retention",
    "corpus_profile",
    "perplexity_proxy",
    "text_repetition",
    "sequence_packing",
    "events_cube",
    "dedup_chunk_exact",
    "events_time_rollup",
    "rolling_active_users",
    "rolling_active_users_approx",
    "top_events_per_user",
    "quality_classifier",
    "mixture_sample",
    "heavy_hitters_cms",
    "doc_pagerank",
    "ann_pq_topk",
    "purchase_attribution",
    "user_state_scd2",
    "orders_open_backlog",
    "customer_pareto_curve",
    "events_window_funnel",
    "priority_fulfillment_sla",
    "session_paths",
    "trigram_lm",
    "cohort_ltv_curve",
    "triangle_count",
    "mv_event_type_stats",
    "user_event_entropy",
    "basket_pmi",
    "data_quality_report",
    "text_novelty",
    "boilerplate_lines",
    "basket_rules",
    "contamination_bloom",
    "domain_kl_divergence",
    "zipf_slope",
    "session_order_overlap",
    "kneser_ney_bigram",
    "token_budget_plan",
)

#: Volume-sensitive keys benched in BOTH tiers but recorded only in
#: the DETAIL file (never the final stdout line): the driver keeps a
#: 2000-char stdout tail, and the r03 post-mortem showed the full
#: two-tier per-query dict cannot fit — so the in-line `queries` dict
#: stays at the frozen HEADLINE set and everything added for coverage
#: (r04: the 4×-probe ≥1.3× family + asof/range joins +
#: segment_migration + this round's new keys) goes here.
EXTRA_VOLUME = (
    "redelivery_dedup",
    "winsorize_values",
    "order_size_distribution",
    "group_capped_sample",
    "audience_overlap",
    "text_contamination",
    "asof_last_order",
    "range_join_value_bands",
    "segment_migration",
    "dedup_window_exact",
    "dedup_simhash",
    "stream_stream_join_bucketed",
    # r04b: dsir's 4×-probe ratio (1.75×) crosses the ≥1.3 coverage
    # rule; the rest are cheap new keys benched for completeness.
    "dsir_importance",
    "dedup_window_incremental",
    "events_mixed_rollup",
    "ab_test_report",
    "growth_accounting",
    # zone-map serving probe: the z-order+zonemap layout build is
    # uncounted warmup (ANN-index discipline), the timed run is the
    # steady-state pruned read
    "lineitem_pruned_scan",
    # r05: timing evidence for the four r04 keys the verdict flagged
    # as unbenched, plus the q6/q19 zone-map twins (layout builds are
    # warmup, same discipline as lineitem_pruned_scan).
    "asof_next_order",
    "embedding_quantize_int8",
    "graph_kcore",
    "minhash_jaccard_estimate",
    "q6_pruned_scan",
    "q19_pruned_scan",
    "sequence_packing_curriculum",
    "train_val_test_split",
    "leakage_safe_split",
    # r05b: string-zone-map serving probe (clustered layout build is
    # warmup), the materialized-packing audit, the KMV quantile
    # calibration, and the epoch-shuffle order audit.
    "returned_items_pruned_scan",
    "sequence_packing_materialize",
    "quantile_kmv_calibration",
    "epoch_shuffle_plan",
    # r05c: array-column zone-map probe (layout build is warmup).
    "embedding_box_scan",
    # r06: the three r05 snapshot keys the verdict flagged as
    # unbenched — Bloom point lookup + posting-list term search
    # (index builds are warmup, ANN discipline) and the CDF read
    # (the three-version table build is warmup).
    "orders_point_lookup_bloom",
    "term_search_indexed",
    "orders_cdf_changes",
    # r06: curriculum-keyed packed-sequence assembly (§7.19 wave).
    "sequence_packing_curriculum_materialize",
    # r06b: filtered vector search — the exact anchor and the
    # attr-bearing IVF probe (index build is warmup, ANN discipline).
    "ann_filtered_topk",
    "ann_filtered_ivf_topk",
    # r06c: published-ruleset quality gates (single-scan column math
    # + the CCNet tercile composition over the LM scorer).
    "gopher_quality_filters",
    "ccnet_perplexity_buckets",
    # r06d: C4 line/page ruleset (synthetic-page map-only scan).
    "c4_quality_filters",
    # r06d: composed IVFADC probe (index build is warmup, ANN
    # discipline — timed run measures the pruned codes-only serve).
    "ann_ivfpq_topk",
    # r06e: hybrid lexical+vector retrieval (RRF fusion of the BM25
    # pass and the exact-cosine top-k — both corpus-sized stages).
    "hybrid_search",
    # r06f: PPJoin prefix-filter exact similarity join (uncapped
    # universe; sf0.1 only — pair family replication artifact).
    "dedup_prefix_filter",
    # r06g: binary-quantization ANN — integer Hamming ranking over
    # packed sign bits, and the oversample+exact-rerank serving loop.
    "ann_binary_topk",
    "ann_binary_rerank_topk",
    # r07: binary ANN served from the COMMITTED signature columns
    # (codes-only scan of the manifest-resolved snapshot — the
    # materialized path of the r06g in-scan pair) and the fully
    # oracle-checked filtered binary probe (pushed label filter +
    # Hamming shortlist + exact rerank).
    "ann_binary_indexed_topk",
    "ann_filtered_binary_topk",
    # r07b: packed sequences ⇄ WebDataset tars composition — full
    # tar-corpus untar + int64 decode + per-shard integer audit.
    "packed_webdataset_audit",
    # r07c: SQ8 scalar-quantized ANN — in-scan codec, the committed
    # codes-only probe, and the oversample+exact-rerank serving loop.
    "ann_sq8_topk",
    "ann_sq8_indexed_topk",
    "ann_sq8_rerank_topk",
    # r07d: incremental JOIN-view maintenance from the change feed,
    # and theta-style KMV audience set algebra with exact companions.
    "orders_cdf_join_mv",
    "audience_kmv_setops",
    # r07e: filtered SQ8 serving probe + embedding retrieval eval.
    "ann_filtered_sq8_topk",
    "embedding_knn_eval",
    # r07f: MRL prefix-dim shortlist + exact rerank (component cut),
    # LSH-vs-exact dedup confusion audit (composes the two benched
    # pair passes; sf0.1 only — pair-family replication artifact),
    # JSONL corpus export audited from the shard bytes, and
    # synchronous label-propagation communities on the near-dup graph
    # (sf0.1 only — same replication artifact as doc_pagerank).
    "ann_mrl_topk",
    "ann_mrl_indexed_topk",
    # r08: second MRL rung (prefix 32 — probe-justified separation).
    "ann_mrl32_topk",
    "dedup_lsh_eval",
    # r08: the md5-ring stratum eval — the banding calibration a
    # 100 TB operator actually runs (~|stratum|²-sized, not corpus²).
    "dedup_lsh_eval_stratum",
    "jsonl_export_audit",
    "graph_label_propagation",
    # r07g: exact-adjacency phrase search served from the POSITIONAL
    # posting layout (bucket-pruned, aligned-anchor counting).
    "phrase_search_indexed",
    # r07h: slop-proximity query over the same positional layout.
    "proximity_search_indexed",
    # r08: positional-ingest integrity audit (two-batch marker-gated
    # build is warmup like every index build; the timed run is the
    # full-index scan + 1-row aggregate) and the RESTORE-through-
    # consumer drill (deterministic 4-version table + MV build is
    # warmup; the timed run is the no-op cycles + MV read).
    "positional_ingest_audit",
    "orders_restore_audit",
    # r08b: the (bands × rows) LSH calibration table on the stratum
    # (one signature pass + 4 band-bucket joins) and ranked BM25
    # served from the tf/dl posting layout (bucket-pruned read).
    "lsh_band_sweep",
    "bm25_search_indexed",
    # r08b: five-query ranked batch from one pruned posting read.
    "bm25_batch_indexed",
    # r09: impact-bound (WAND/MaxScore) ranked probe — rare term read
    # whole, common terms' lower tiers skipped against θ; exact top-k,
    # block-skip telemetry pytest-asserted. Latency carries ~5 bounded
    # orchestration round-trips (sidecar pricing, θ+candidates, two
    # pruned reads) vs the flat probe's one — the bytes win is the
    # scale story, the fixed overhead is the sf0.1 story.
    "bm25_search_wand",
    # r09: 240 vocabulary-generated queries ranked from ONE pruned
    # posting read — the query-volume proof of the batch fanout.
    "bm25_batch_wide",
    # r09: multi-probe LSH — 12 of 64 (band, code) partitions read
    # (own bucket + 2 pinned lowest-margin flips per band) vs
    # single-probe's 4; measured recall 0.30 → 0.70 at sf0.1.
    "ann_multiprobe_topk",
    # r09c: the BM25 ingest-path integrity audit (two-batch marker-
    # gated build is warmup; the timed run checksums every posting
    # row + the folded sidecars — linear by contract).
    "bm25_ingest_audit",
    # r09b: per-query impact-bound routing on the 240-query mixed
    # (head+tail df) workload — prunable queries shrink the (query,
    # doc) accumulator shuffle to their candidate sets, the rest run
    # the plain batch plan for exactly their subset; same relation.
    "bm25_batch_wand",
    # r10: hybrid retrieval served from the committed layouts — WAND
    # tier-pruned BM25 top-20 RRF-fused with the SQ8 snapshot ADC
    # shortlist + exact rerank top-20; neither leg reads corpus text
    # or raw-vector bytes beyond the M-row rerank (both base-table
    # paths plan-asserted absent).
    "hybrid_search_indexed",
    # r10: batch ADC — one committed-code scan scores all 5 queries
    # (query words ride a broadcast relation), per-query window rank;
    # the vector sibling of bm25_batch_indexed, integer-exact.
    "ann_sq8_batch_topk",
    # r10: hybrid retrieval at query volume — the 5-query WAND-routed
    # lexical batch RRF-fused per query with the 5-query ADC batch +
    # exact rerank; one pruned read per modality for the whole batch.
    "hybrid_batch_indexed",
    # r10: the tier-cut decision table — 4 configs priced from ONE
    # bucket-pruned read of the pinned query terms' postings; the
    # production row is pytest-pinned equal to the served pricing.
    "wand_tier_sweep",
    # r11: filtered hybrid serving — label predicate pre-cut on BOTH
    # legs (attr-bearing BM25 layout with label-segmented impacts +
    # attr-bearing SQ8 codes); both layout builds are warmed.
    "hybrid_filtered_indexed",
    # r11: the 240-query wide ADC batch — ONE committed-code scan for
    # the whole batch (vector twin of bm25_batch_wide).
    "ann_sq8_batch_wide",
    # r11: the tier-cut decision table priced over the 240-query
    # mixed workload (production row pinned to batch telemetry).
    "wand_tier_sweep_workload",
)

#: Registry keys deliberately NOT in either bench tier, each with the
#: reason it isn't volume-sensitive enough to earn a frozen baseline.
#: tests/test_bench_registry.py enforces registry == HEADLINE ∪
#: EXTRA_VOLUME ∪ UNBENCHED, so a new key cannot land without either
#: first-bench numbers (BASELINE.md) or an explicit entry here — the
#: r04→r05 unbenched-key recurrence can't happen a third time.
_R = {
    "tpch_rep": "TPC-H scan+join+agg plan family: benched via the q1/q3/"
    "q5/q6/q10 representatives; same tables, same shuffle shapes",
    "surface_demo": "reference-surface demo key: constant 1-2 Exchange "
    "plan over one table, dominated by fixed stage overhead",
    "family_rep": "same operator family and plan shape as a benched "
    "representative (shared scan/shuffle structure, different params)",
    "bounded": "output/state bounded by a constant (dims, grids, "
    "sketch registers) — timing is fixed stage overhead, not volume",
    "mapinpandas_stub": "Arrow mapInPandas plumbing over stub codecs: "
    "real decode cost is library-bound, not plan-bound (TESTDATA gate)",
    "iter_probe": "iterative/driver-bounded audit op benched through "
    "its scale-probe ratio (SCALING.md), not wall-clock tiers",
}
UNBENCHED: dict[str, str] = {
    **{k: _R["tpch_rep"] for k in (
        "q2_min_cost_supplier", "q4_order_priority", "q7_volume_shipping",
        "q8_market_share", "q9_product_profit", "q11_important_parts",
        "q12_priority_lines", "q13_customer_distribution", "q14_promo_revenue",
        "q15_top_supplier", "q16_supplier_variety",
        "q17_small_quantity_revenue", "q18_large_volume",
        "q19_disjunctive_revenue", "q20_part_promotion",
        "q21_suppliers_waiting", "q22_idle_customers",
        "orders_priority_rollup", "nation_revenue_share", "nation_trade_flow",
        "nation_month_rank", "supplier_lead_time", "supplier_concentration_hhi",
        "customer_revenue_rank", "customer_rfm_segments",
        "customer_value_segments", "parts_skyline", "basket_part_pairs",
        "repeat_purchase_interval", "revenue_yearly_growth",
        "orders_seasonality", "orders_dispersion",
    )},
    **{k: _R["surface_demo"] for k in (
        "filter_events", "project_case_when", "casewhen_orders",
        "merge_streams", "remote_table_join", "top_users_by_value",
        "wikipedia_parse", "sliding_window_counts", "session_conversion",
        "stream_table_join_salted", "samza_sql_filter", "samza_sql_casewhen",
        "samza_sql_groupby", "samza_sql_stream_table_join",
    )},
    # r07h compositions of already-benched probes — no new volume path:
    "ann_recall_curve": "composes four benched probes (bruteforce/"
    "binary/sq8/mrl) plus 10-row intersection joins",
    "lsh_multiprobe_eval": "composes two benched probes (ann_lsh_topk, "
    "ann_multiprobe_topk) plus the exact top-10 and 10-row joins",
    "corpus_dedup_report": "composes three benched/family-repped dedup "
    "relations (exact groups, jaccard pairs, clusters) into 1-row aggs",
    **{k: _R["family_rep"] for k in (
        # dedup family: dedup_exact/chunk/window/minhash/simhash benched
        "dedup_url", "dedup_fuzzy", "dedup_incremental", "dedup_ngram_jaccard",
        # cross-split band probe + candidates-only exact verify: both
        # stages are the benched minhash_jaccard_estimate's shapes
        "contamination_minhash",
        "dedup_clusters", "dedup_clusters_twostar", "dedup_cluster_sizes",
        "dedup_canonical",
        "dedup_embedding", "dedup_semantic",
        # ANN family: bruteforce/lsh/pq benched
        "ann_ivf_topk", "ann_batch_topk", "knn_graph", "hard_negative_mining",
        # embeddings: quantize_int8 + box_scan benched
        "embedding_centroids", "embedding_norm_stats", "embedding_outliers",
        "embedding_pca", "embedding_kmeans",
        # text family: text_quality/repetition/novelty/corpus_profile benched
        "text_entropy", "text_langid", "text_tokencount", "text_fingerprint",
        "text_readability", "text_bigram_topk", "pii_redact", "doc_chunks",
        "doc_length_histogram", "token_frequency_histogram",
        "corpus_vocab_stats", "corpus_quality_calibration",
        "curation_pipeline", "vocab_coverage", "langid_confusion",
        # retrieval: term_search_indexed benched (the scale path);
        # hybrid_search benched (it contains the bm25 pass whole)
        "term_search", "phrase_search", "bm25_search", "tfidf_top_terms",
        # ruleset venn: composes three benched scans (gopher/c4/
        # repetition) + an 8-row-bounded fusion
        "curation_ruleset_venn",
        # LM family: trigram_lm / kneser_ney benched
        "bigram_lm_nll", "bpe_encode_docs", "unigram_encode_docs",
        "wordpiece_encode_docs",
        # sampling: mixture_sample/quality_classifier/dsir benched
        "sample_stratified", "weighted_sample", "curriculum_assign",
        "domain_stats", "export_shards", "sequence_packing_grouped",
        # temporal/olap: benched via rollups/windows/funnels
        "events_gapfill", "events_heatmap", "events_autocorrelation", "events_props_stats",
        "events_anomaly_zscore", "user_transition_counts",
        "user_value_moving_avg", "user_event_pivot", "user_recency_buckets",
        "decayed_user_value", "time_weighted_value", "value_histogram",
        "purchase_touch_counts", "funnel_time_to_convert",
        "daily_rolling_median", "price_equidepth_histogram",
        "event_value_percentiles",
    )},
    **{k: _R["bounded"] for k in (
        "events_dau", "events_dau_approx", "event_value_percentiles_approx",
        "value_moments", "benford_deviation", "priority_mix_chi2",
        "price_mad_outliers", "daily_cusum_changepoint",
        "revenue_trend_regression", "table_profile",
        # cursor-gated no-op cycles + a status-cardinality state read;
        # the CDF volume path is benched via orders_cdf_changes
        "orders_cdf_downstream",
        # manifest-only read (KB); the table build is the same warmup
        # as orders_cdf_changes
        "orders_table_history",
        # pinned-version snapshot read of the same deterministic CDF
        # table: volume path (bucket-file scan) is benched whole via
        # orders_cdf_changes; version resolution is one manifest lookup
        "orders_time_travel",
    )},
    **{k: _R["mapinpandas_stub"] for k in (
        "multimodal_decode", "multimodal_resize", "multimodal_frame_sample",
        "multimodal_features",
    )},
    **{k: _R["iter_probe"] for k in ("bpe_train_merges", "unigram_train_vocab", "unigram_train_vocab_em", "wordpiece_train_vocab", "train_quality_classifier", "kcenter_coreset")},
}

#: Excluded from the sf1 (10×-replicated) tier: replication creates
#: 10-sized exact-duplicate cliques, so the near-dup pair family's
#: OUTPUT grows quadratically by construction (an artifact of the
#: synthetic replication, not of the band-join plans — same exclusion
#: as tools/scale_probe.py), and the MV serving cache keys on sf_dir
#: (its first sf1 run would time the build, not serving).
SF1_EXCLUDE = {
    "dedup_minhash_lsh",
    "dedup_simhash",
    "doc_pagerank",
    "triangle_count",
    "text_novelty",
    "mv_event_type_stats",
    # r05: same replication artifact — graph_kcore runs on the near-dup
    # edge table (10-cliques inflate edge count quadratically),
    # minhash_jaccard_estimate scores the candidate PAIR set itself,
    # and leakage_safe_split groups by the near-dup components.
    "graph_kcore",
    "minhash_jaccard_estimate",
    "leakage_safe_split",
    # r06: prefix-filter pairs inherit the same quadratic-output
    # replication artifact as the other near-dup pair keys.
    "dedup_prefix_filter",
    # r07f: both compose the near-dup pair relations, inheriting the
    # quadratic replication artifact (lsh_eval runs BOTH pair passes;
    # LPA iterates over the 10-clique-inflated edge table).
    "dedup_lsh_eval",
    "graph_label_propagation",
    # r08: the stratum eval inherits the same artifact — the 10×
    # replication manufactures duplicate cliques INSIDE the stratum
    # (measured 15.1 s at sf1 vs 1.66 s at sf0.1; on real data the
    # stratum is the fixed-recall sample that keeps this flat).
    "dedup_lsh_eval_stratum",
    # r08b: the band sweep runs 4 band-joins over the same stratum
    # pair universe — same manufactured-clique artifact.
    "lsh_band_sweep",
}

#: full two-tier per-query timings land here every run (the committed
#: per-round copy is BENCH_LOCAL_r{N}.json); the final stdout line
#: carries only what fits the driver's 2000-char tail window.
DETAIL_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")

BASELINE_JSON = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BASELINE.json"
)


def cpu_probe(threads: int = 1, mib: int = 192) -> float:
    """Fixed-work host-throughput probe (r12, VERDICT r11 #2): seconds
    to sha256 ``mib`` MiB per thread, ``threads`` concurrent threads
    (sha256 releases the GIL for ≥2 KiB updates, so the 4-thread probe
    measures real multicore throughput). Runs OUTSIDE every timed
    region. The r11 round's PERF comparison was invalidated by the box
    itself getting ~4× slower between driver runs (58/58 'regressions'
    on mostly-untouched code, 8 cores beating 32); this probe makes
    the artifact carry its own box-speed evidence, so a cross-round
    ratio can be normalized mechanically instead of adjudicated from
    untouched-key controls after the fact."""
    import hashlib
    import threading as _th

    buf = bytes(1 << 20)

    def _spin() -> None:
        h = hashlib.sha256()
        for _ in range(mib):
            h.update(buf)

    ts = [_th.Thread(target=_spin) for _ in range(threads)]
    t0 = time.perf_counter()
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    return time.perf_counter() - t0


def probe_block() -> dict:
    """The probe rows recorded in the headline JSON + detail artifact:
    single-thread (min of 3 — scheduling hiccups only ever slow it)
    and 4-thread wall seconds."""
    st = round(min(cpu_probe(1) for _ in range(3)), 3)
    mt = round(min(cpu_probe(4) for _ in range(2)), 3)
    return {"st": st, "mt": mt}


def load_freezes() -> dict[str, dict]:
    """The machine-readable per-key frozen-baseline table (r11, VERDICT
    r10 #1). BASELINE.json's "freezes" block — extracted once from
    BASELINE.md prose with the supersede chains applied — is what the
    2× checker reads; BASELINE.md carries only narrative from r11 on.
    The prose-parsed ad-hoc check let a 2.16× `bm25_batch_wide` sf1
    row ship under a "worst 1.48×" claim; a checker that consumes this
    table and REPORTS unmatched keys cannot repeat that."""
    with open(BASELINE_JSON) as fh:
        return json.load(fh).get("freezes", {})


def freeze_check(
    timings: dict[str, float],
    tier: str,
    freezes: dict[str, dict] | None = None,
    probe_scale: float = 1.0,
) -> dict:
    """Per-row (value, freeze, ratio) for one bench tier ("sf0.1" |
    "sf1"). Every timed key must resolve to a freeze — keys without
    one land in "missing_freeze" (loud, never silently skipped).
    "violations" lists rows above 2×; adjudication (ambient-vs-plan,
    per the BASELINE.md triage rule) stays a human step, but the
    detection is now an artifact the run itself writes.

    ``probe_scale`` (r12, VERDICT r11 #2): this box's single-thread
    probe seconds divided by the freeze box's reference probe
    (BASELINE.json "probe_ref"). Ratios are reported RAW; the 2×
    verdict uses the probe-normalized ratio (ratio / probe_scale,
    floored at the raw ratio when the probe says the box is FASTER —
    a fast box must never excuse a slow plan), so a uniformly slow
    host no longer manufactures violations on untouched code."""
    if freezes is None:
        freezes = load_freezes()
    scale = max(probe_scale, 1.0)
    rows: dict[str, dict] = {}
    missing: list[str] = []
    worst_key, worst_ratio = None, 0.0
    violations: list[str] = []
    raw_violations: list[str] = []
    v_sum = f_sum = 0.0
    for k in sorted(timings):
        v = timings[k]
        f = freezes.get(k, {}).get(tier)
        if f is None:
            missing.append(k)
            continue
        r = round(v / f, 3)
        rn = round(r / scale, 3)
        rows[k] = {"value": v, "freeze": f, "ratio": r, "ratio_norm": rn}
        v_sum += v
        f_sum += f
        if r > worst_ratio:
            worst_key, worst_ratio = k, r
        if r > 2.0:
            raw_violations.append(k)
        if rn > 2.0:
            violations.append(k)
    return {
        "tier": tier,
        "rows": rows,
        "worst": [worst_key, worst_ratio],
        "violations": violations,
        "raw_violations": raw_violations,
        "probe_scale": round(scale, 3),
        "missing_freeze": missing,
        "aggregate_ratio": round(v_sum / f_sum, 3) if f_sum else None,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")
    # host-throughput probe BEFORE the JVM exists (and again at the
    # end): pure-Python fixed work, outside every timed region.
    probe_start = probe_block()
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    from samza_hello_samza_spark.operators.dedup import _components_cached
    from samza_hello_samza_spark.operators.graph import _pairs_cached

    # JVM/codegen warmup (uncounted). The ANN warmups also build the
    # materialized LSH and PQ indexes if absent, so the timed run
    # measures the steady-state probe (pruned index read), not the
    # one-time build. The others build the corpus state the timed run
    # then serves: the continuous-aggregate MV; the near-dup edge table
    # (pagerank/triangles time graph work, not the one-time shingle
    # join) and components relation (the timed split measures split
    # math, not the one-time clustering); the z-ordered + zone-mapped
    # lineitem layouts; the Bloom sidecars / posting lists / CDF table;
    # the attr-bearing IVF layout; the JSONL shard export; the
    # composed IVFPQ layout.
    warmups = [
        *(queries[q] for q in ("groupby_count", "ann_lsh_topk", "ann_pq_topk", "mv_event_type_stats")),
        _pairs_cached,
        lambda spark, sf_dir: _components_cached(spark, sf_dir, "twostar"),
        *(queries[q] for q in (
            "lineitem_pruned_scan", "q6_pruned_scan", "q19_pruned_scan",
            "returned_items_pruned_scan", "embedding_box_scan", "orders_point_lookup_bloom",
            "term_search_indexed", "orders_cdf_changes", "ann_filtered_ivf_topk",
            "jsonl_export_audit", "ann_ivfpq_topk",
        )),
    ]
    # one released() scope frees what the warmups materialised
    with released():
        for fn in warmups:
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()

    def _time(names, target_dir, best_of: int = 1) -> dict[str, float]:
        out: dict[str, float] = {}
        for name in names:
            fn = queries.get(name)
            if fn is None:
                continue
            best = None
            for _ in range(best_of):
                # what the key materialised is released (blocking) on
                # exit, outside the timed region: blocks left behind
                # inflate every key timed later in the run.
                with released():
                    t0 = time.perf_counter()
                    fn(spark, target_dir).write.mode("overwrite").format("noop").save()
                    dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            out[name] = round(best, 3)
        return out

    # Contention canary (r05 post-mortem): the driver's single-shot
    # sf0.1 tier once ran inside a contended window and EVERY number
    # came out ~2.3× — indistinguishable from a uniform plan
    # regression without a control. The canary re-times the same
    # constant one-Exchange plan (groupby_count) first and last; a
    # last/first ratio > 1.5 stamps the run CONTENDED in the JSON
    # line, so a poisoned artifact is self-identifying.
    # r09 sentinel: /proc loadavg recorded at every tier boundary —
    # the canary brackets the run but misses mid-run spikes (r07/r08
    # each burned a round-trip proving a 2× flag was ambient load);
    # per-tier load rows make the triage one artifact-read instead of
    # a re-bench (BASELINE.md 2× rule references them).
    load: dict[str, list[float]] = {}

    def _load_mark(tag: str) -> None:
        load[tag] = [round(x, 2) for x in os.getloadavg()]

    _load_mark("start")
    canary_first = _time(["groupby_count"], sf_dir, best_of=2)["groupby_count"]

    # min-of-2 on the sf0.1 tier too (the sf1 fix, BASELINE.md r03b
    # note, applied symmetrically): one contended window inflating a
    # single shot can no longer burn the round's official artifact.
    spark._jvm.System.gc()
    timings = _time(HEADLINE, sf_dir, best_of=2)
    _load_mark("after_headline")
    extra_timings = _time(EXTRA_VOLUME, sf_dir, best_of=2)
    _load_mark("after_extra")

    result = {
        "metric": "headline_query_wall_time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    detail = dict(result)
    detail["queries"] = {**timings, **extra_timings}
    detail["value"] = round(sum(detail["queries"].values()), 3)

    # sf1 tier: at sf0.1 every headliner is <3.5 s and mostly fixed
    # stage overhead — a plan regression can hide inside the noise.
    # 10×-replicate the facts (key-offset, join fan-out preserved —
    # tools/scale_probe.build_scaled) and re-time the volume-sensitive
    # headliners so regressions surface above noise. Disable with
    # SPARK_GRAFT_SKIP_SF1=1 for a quick sf0.1-only run.
    if sf == 0.1 and os.environ.get("SPARK_GRAFT_SKIP_SF1") != "1":
        sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
        from scale_probe import build_scaled

        sf1_dir = build_scaled(spark, 10)
        # the sf1 tier runs late in a long-lived JVM: accumulated heap
        # pressure showed ±60% run-to-run spread on identical plans.
        # Steady-state discipline: GC before the tier, time each query
        # twice and keep the min (same spirit as the uncounted warmups
        # — we freeze/judge steady-state serving, not GC luck).
        spark._jvm.System.gc()
        for q in (
            "groupby_count",
            "ann_lsh_topk",
            "ann_pq_topk",
            "lineitem_pruned_scan",  # cold layout builds for the sf1 tag
            "q6_pruned_scan",
            "q19_pruned_scan",
            "orders_point_lookup_bloom",
            "term_search_indexed",
            "orders_cdf_changes",
            "ann_filtered_ivf_topk",  # attr-bearing IVF layout
            "ann_ivfpq_topk",  # composed IVFADC layout
            "ann_binary_indexed_topk",  # signature-bearing IVF layout
            "ann_sq8_indexed_topk",  # SQ8-code-bearing IVF layout
            "ann_filtered_sq8_topk",  # attr+SQ8-bearing IVF layout
            "orders_cdf_join_mv",  # MV bootstrap + incremental apply
            "packed_webdataset_audit",  # cold tar export for the sf1 tag
            "jsonl_export_audit",  # cold JSONL export for the sf1 tag
            "ann_mrl_indexed_topk",  # prefix-bearing IVF layout
            "phrase_search_indexed",  # cold positional-postings build
            "positional_ingest_audit",  # cold two-batch ingest build
            "orders_restore_audit",  # cold 4-version table + MV build
            "bm25_search_indexed",  # cold BM25 posting-layout build
            "bm25_ingest_audit",  # cold two-batch BM25 ingest build
            "hybrid_filtered_indexed",  # cold label-attr BM25+SQ8 builds
        ):
            with released():
                queries[q](spark, sf1_dir).write.mode("overwrite").format("noop").save()
        sf1_names = [
            n
            for n in (*HEADLINE, *EXTRA_VOLUME)
            if n not in SF1_EXCLUDE and n in queries
        ]
        sf1_timings = _time(sf1_names, sf1_dir, best_of=2)
        _load_mark("after_sf1")
        # the final stdout line must fit the driver's 2000-char tail,
        # so the tier is summarized in-line; per-query numbers go to
        # the DETAIL file (committed per round as BENCH_LOCAL_r{N}).
        result["tiers"] = {
            "sf1": {
                "value": round(sum(sf1_timings.values()), 3),
                "unit": "sec",
                "n_queries": len(sf1_timings),
                "sf": 1.0,
                "detail": os.path.basename(DETAIL_FILE),
            }
        }
        detail["tiers"] = {
            "sf1": {
                "value": round(sum(sf1_timings.values()), 3),
                "unit": "sec",
                "queries": sf1_timings,
                "sf": 1.0,
            }
        }

    canary_last = _time(["groupby_count"], sf_dir, best_of=2)["groupby_count"]
    _load_mark("end")

    # In-bench re-time hook (r11): SPARK_GRAFT_RETIME=key1,key2 runs
    # three extra sf0.1 passes of the named keys HERE — after the
    # whole bench has warmed the JVM — and records them in the DETAIL
    # artifact. This is the adjudication context a standalone solo
    # script cannot reproduce: the r11 orders_restore_audit re-time
    # attempts read their own canary 2-3x high because ~40 warmup
    # plans still leave a JVM far colder than a full bench run.
    retime = [
        k
        for k in os.environ.get("SPARK_GRAFT_RETIME", "").split(",")
        if k and k in queries
    ]
    if retime:
        detail["retime"] = {}
        for k in retime:
            passes = [
                _time([k], sf_dir, best_of=1)[k] for _ in range(3)
            ]
            detail["retime"][k] = {"passes": passes, "min": min(passes)}
            print(
                f"[retime] {k} sf0.1 passes "
                + "/".join(f"{p:.3f}" for p in passes)
                + f" -> min {min(passes):.3f}",
                file=sys.stderr,
            )
    probe_end = probe_block()
    ratio = round(canary_last / canary_first, 2) if canary_first else 1.0
    result["canary"] = {"first": canary_first, "last": canary_last, "ratio": ratio}
    result["contended"] = ratio > 1.5
    # probe rows in the stdout line (compact): this box's fixed-work
    # seconds at start/end plus the freeze box's reference, so the
    # artifact itself says "this box is N× the freeze box".
    try:
        with open(BASELINE_JSON) as fh:
            probe_ref = json.load(fh).get("probe_ref")
    except (OSError, ValueError):
        probe_ref = None
    probe_scale = (
        round(probe_start["st"] / probe_ref["st"], 3)
        if probe_ref and probe_ref.get("st")
        else 1.0
    )
    result["probe"] = {
        "st": probe_start["st"],
        "mt": probe_start["mt"],
        "end_st": probe_end["st"],
        "ref_st": probe_ref.get("st") if probe_ref else None,
        "x": probe_scale,
    }
    detail["probe"] = {"start": probe_start, "end": probe_end,
                       "ref": probe_ref, "scale": probe_scale}
    # 1-min loadavg per tier boundary in the stdout line (compact);
    # the full (1, 5, 15) triples live in the DETAIL artifact. The
    # bench itself drives load (local[32] executes on every core), so
    # triage reads the START row for ambient load and the DELTAS for
    # anything the bench didn't cause.
    result["load1"] = {k: v[0] for k, v in load.items()}
    result["ncpu"] = os.cpu_count()
    detail["canary"] = result["canary"]
    detail["contended"] = result["contended"]
    detail["load"] = load
    detail["ncpu"] = os.cpu_count()

    # 2× checker (r11): per-row (value, freeze, ratio) against the
    # machine-readable BASELINE.json freezes, written into the
    # committed number-of-record artifact; the stdout line only gets
    # the violation COUNT (tail budget). Full rows + a stderr table
    # replace the ad-hoc prose parsing that missed a 2.16× row in r10.
    if sf == 0.1:
        freezes = load_freezes()
        fc = {
            "sf0.1": freeze_check(
                detail["queries"], "sf0.1", freezes, probe_scale=probe_scale
            )
        }
        if "tiers" in detail:
            fc["sf1"] = freeze_check(
                detail["tiers"]["sf1"]["queries"],
                "sf1",
                freezes,
                probe_scale=probe_scale,
            )
        detail["freeze_check"] = fc
        n_viol = sum(len(c["violations"]) for c in fc.values())
        n_nofrz = sum(len(c["missing_freeze"]) for c in fc.values())
        result["fviol"] = n_viol
        for tier, c in fc.items():
            print(
                f"[freeze {tier}] worst {c['worst'][0]} {c['worst'][1]}x, "
                f"aggregate {c['aggregate_ratio']}x, "
                f"probe_scale {c['probe_scale']}x, "
                f"violations(norm) {c['violations']}, "
                f"raw>2x {len(c['raw_violations'])}, "
                f"missing_freeze {c['missing_freeze']}",
                file=sys.stderr,
            )
            for k in c["violations"]:
                r = c["rows"][k]
                print(
                    f"[freeze {tier}] VIOLATION {k}: {r['value']} vs "
                    f"freeze {r['freeze']} = {r['ratio']}x raw, "
                    f"{r['ratio_norm']}x probe-normalized",
                    file=sys.stderr,
                )
        if n_nofrz:
            print(
                f"[freeze] {n_nofrz} benched keys lack a freeze — add "
                "them to BASELINE.json before trusting this run",
                file=sys.stderr,
            )

    with open(DETAIL_FILE, "w") as fh:
        json.dump(detail, fh, indent=1)

    # The driver records only a 2000-char TAIL of stdout; the JSON line
    # must (a) be the very last thing printed, (b) fit that window
    # whole (compact separators, sf1 tier summarized — verified by the
    # guard below so growth fails loudly at bench time, not judge
    # time), and (c) not share the tail with stray executor chatter.
    line = json.dumps(result, separators=(",", ":"))
    if len(line) > 1900:  # ValueError, not assert: survives python -O
        raise ValueError(f"stdout JSON line {len(line)} > 1900 chars")
    sys.stderr.flush()
    sys.stdout.flush()
    print(line, flush=True)


if __name__ == "__main__":
    main()
