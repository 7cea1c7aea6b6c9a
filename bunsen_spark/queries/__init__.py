"""Headline query registry.

Aggregates per-module ``QUERIES`` (name -> callable(spark, sf_dir) ->
DataFrame) and ``ORACLES`` (name -> equivalent DuckDB SQL) dicts that
``__spark_entry__`` exposes to the driver's correctness gate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Some testdata generations write parquet TIMESTAMP(NANOS), which Spark
    # can only read as int64 epoch-nanos with this conf; other generations
    # write plain microsecond timestamps, where the conf is a no-op. The
    # driver's correctness gate builds its own SparkSession (not our session
    # factory), so the conf must be applied here, on whatever session we are
    # handed. It is runtime-settable. Query code must not assume either
    # representation — use ts_us() to get epoch-microseconds.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Pin the session timezone on whatever session we are handed, for
    # the same reason: ts_us() documents that the NTZ→TZ cast
    # reinterprets naive values as UTC. On a driver session inheriting
    # a non-UTC machine timezone, unix_micros(cast(ntz as timestamp))
    # would shift by the zone offset while DuckDB's epoch_us(ts) would
    # not — every events-based gate query would hash-mismatch.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def ts_us(df: DataFrame, col: str = "ts"):
    """Epoch-microseconds Column for a timestamp column, regardless of how
    the parquet fixture encodes it: int64 epoch-nanos (nanosAsLong read of
    TIMESTAMP(NANOS)) or a real timestamp/timestamp_ntz (microsecond
    parquet). Matches DuckDB's ``epoch_us(ts)`` on the same files — the
    session timezone is pinned to UTC, so the NTZ→TZ cast reinterprets the
    naive value as UTC exactly like DuckDB's naive epoch."""
    from pyspark.sql import functions as F

    dt = df.schema[col].dataType.simpleString()
    if dt in ("bigint", "long"):
        return F.expr(f"{col} div 1000")
    return F.unix_micros(F.col(col).cast("timestamp"))


# The driver's per-round correctness gate samples a PREFIX of the
# registration order (r1: first 34, r2/r3: 47, r4/r5/r6: 50), so queries
# registered late may never receive a driver-verified row even though they
# pass the local oracle (tools/oracle_check.py). ``_reorder`` therefore
# emits three priority groups:
#   0: live ``_CHANGED_GATES`` — queries whose operator code changed in
#      the tagged round: their existing driver rows predate the code
#      they now run, so a fresh row matters MORE than a merely-stale one
#      (the round-6 process gap: none of the 15 shingle-family gates
#      modified by 38c0c47 landed in the r06 prefix). Entries SELF-
#      EXPIRE — see the comment on ``_CHANGED_GATES``.
#   1: never-driver-checked entries (no CORRECTNESS row in any round),
#      alphabetically;
#   2: the rest, stalest-driver-row-first — DERIVED AT IMPORT TIME from
#      the committed ``CORRECTNESS_r*.json`` artifacts at the repo root
#      (``_last_checked_rounds``), so the stalest-first rotation can
#      never run on a stale committed snapshot again. This was the twice
#      -recurring failure mode (VERDICT r9 #1, r10 #1): a hand
#      -regenerated ``_DRIVER_ORDER`` list was forgotten after the
#      driver consumed its prefix, wasting a full round of staleness
#      budget. ``_DRIVER_ORDER_FALLBACK`` (regenerable with
#      ``python tools/gen_driver_order.py --write``) is used only when
#      no CORRECTNESS artifact is readable (fresh clone).

# Gates whose operator code changed, tagged ``(name, round_changed)``.
# Appended as operator modules are touched so the gates jump the queue
# if they miss that round's driver prefix. Entries SELF-EXPIRE (VERDICT
# r11 #1 — the manual reset was the same chore class that bit r9/r10
# for _DRIVER_ORDER): an entry is live only while the gate's newest
# CORRECTNESS row is OLDER than the tagged round; once the driver has a
# row from that round or later, the gate was re-checked on the new code
# and the entry silently demotes to the stalest-first group. Expired
# entries never need a hand edit — prune them cosmetically whenever
# convenient. (Round 11's 24 entries all received r11 rows and were
# pruned when expiry landed in round 12.)
_CHANGED_GATES: list[tuple[str, int]] = [
    # (all 37 round-13 entries received r13 CORRECTNESS rows — the
    # driver's sample was steered to exactly these gates — so they
    # expired and were pruned here; see git history for the list)
    # round 14 (optimization): vectorized Lloyd/ANN family — numpy
    # mapInArrow training/assignment/encode passes, VALUES-LocalRelation
    # codebooks, natural partitioning into the Python stages
    # (operators/similarity.py). Results proven identical against the
    # oracle at sf0.01 + sf0.001, but these gates run new plan/job
    # shapes and deserve fresh driver rows.
    ("ann_pq_topk", 14),
    ("ann_ivfpq_topk", 14),
    ("semantic_dedup_drops", 14),
    ("cluster_purity_embeddings", 14),
    # the index gates' build path shares the rewritten encode/train
    ("ann_ivfpq_index_topk", 14),
    ("ann_ivfpq_index_append_topk", 14),
    ("ann_ivfpq_index_delete_topk", 14),
    # round 14: set-join verification — candidate-broadcast hint
    # removed (AQE decides), sizes-carrying kept; new join shapes
    ("dedup_jaccard", 14),
    ("dedup_containment", 14),
    ("dedup_prefix_jaccard", 14),
    # round 14 session 2: vectorized ANN query scans (numpy mapInArrow
    # partial top-k + tiny global window) and the LocalRelation sweep
    # of driver-built lookup/result tables (bunsen_spark/localrel.py)
    ("dedup_embedding", 14),
    ("coverage_select_docs", 14),
    ("interleave_mix_positions", 14),
    ("weighted_median_prices", 14),
    ("bpe_learned_merges", 14),
    ("mmr_diverse_topk", 14),
    ("translate_order_priority", 14),
    ("bm25_multiquery_topk", 14),
    ("valueset_membership_lineitem", 14),
    ("closure_part_hierarchy", 14),
    # round 15: ANN top-k as scatter-gather — the scan's partial top-k
    # rows are collected and merged on the driver, and the result is a
    # LocalRelation (no window, no exchange); values_df builds through
    # Arrow. The round-14 entries of these gates had expired and were
    # pruned. rrf_fused_topk fuses the brute and JL results.
    ("ann_brute_topk", 15),
    ("ann_ivf_topk", 15),
    ("ann_ivf_kmeans_topk", 15),
    ("ann_lsh_topk", 15),
    ("ann_jl_topk", 15),
    ("ann_hamming_topk", 15),
    ("ann_eval_scorecard", 15),
    ("rrf_fused_topk", 15),
]


def _last_checked_rounds() -> dict[str, int]:
    """name -> last round with a driver CORRECTNESS row, read from the
    committed ``CORRECTNESS_r*.json`` files at the repo root. Pure
    bookkeeping (no Spark); unreadable files are skipped, and an empty
    result signals the caller to fall back to the static list."""
    import json
    import re
    from pathlib import Path

    repo = Path(__file__).resolve().parents[2]
    seen: dict[str, int] = {}
    for p in sorted(repo.glob("CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)", p.name)
        if m is None:
            continue
        rnd = int(m.group(1))
        try:
            data = json.loads(p.read_text())
        except (OSError, json.JSONDecodeError, UnicodeDecodeError):
            continue
        if not isinstance(data, dict):
            continue
        for name in data:
            seen[name] = max(seen.get(name, 0), rnd)
    return seen


_DRIVER_ORDER_FALLBACK = [
    # last driver row: round 7
    "bpe_subword_top",
    "bpe_top_pairs",
    "cluster_purity_embeddings",
    "cluster_safe_split_counts",
    "coverage_select_docs",
    "cusum_event_alerts",
    "dedup_jaccard",
    "dsir_importance_scores",
    "embedding_drift_labels",
    "embedding_gram_matrix",
    "embedding_quantize_stats",
    "epoch_shuffle_positions",
    "equi_depth_prices",
    "global_rank_orders",
    "hard_negatives_topk",
    "histogram_drift_chars",
    "knn_label_accuracy",
    "mad_outlier_orders",
    "mmr_diverse_topk",
    "ngram_novelty_scores",
    "novelty_incremental",
    "padding_waste_buckets",
    "pareto_docs",
    "pmi_collocations",
    "quality_dup_decile_counts",
    "rrf_fused_topk",
    "semantic_dedup_drops",
    "text_fingerprint",
    "text_surprisal_score",
    "vocab_encode_checksums",
    "vocab_shift_even_odd",
    "waterfill_lang_budget",
    "winsorized_price_stats",
    # last driver row: round 8
    "ann_brute_topk",
    "ann_hamming_topk",
    "ann_ivf_kmeans_topk",
    "ann_ivf_probe_curve",
    "ann_ivf_topk",
    "ann_ivfpq_topk",
    "ann_jl_topk",
    "ann_lsh_topk",
    "ann_pq_topk",
    "bursty_event_types",
    "centroid_label_topk",
    "cube_revenue",
    "cumulative_distinct_users",
    "customers_without_orders",
    "dedup_containment",
    "dedup_embedding",
    "dedup_exact",
    "dedup_incremental",
    "dedup_keep_best",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "events_daily_active_users",
    "funnel_within_hour",
    "gini_source_concentration",
    "grouping_sets_revenue",
    "hopping_window_counts",
    "interleave_mix_positions",
    "peak_concurrency_daily",
    "pivot_shipmode_year",
    "pivot_user_events",
    "purchase_session_overlaps",
    "q11_important_parts",
    "q12_priority_shipping",
    "q13_customer_distribution",
    "q20_significant_suppliers",
    "q6_forecast_revenue",
    "q8_market_share",
    "q9_product_profit",
    "rfm_user_segments",
    "rolling_7d_value_extrema",
    "rollup_returns",
    "segment_dedup_texts",
    "sessionize_events_bucketed",
    "shard_snake_mass",
    "skew_salted_order_totals",
    "user_activity_islands",
    "valueset_membership_lineitem",
    "weighted_median_prices",
    "zipf_stats_by_source",
    # last driver row: round 9
    "asof_bucketed_purchase_last_view",
    "bloom_prefilter_supplier_volume",
    "bm25_multiquery_topk",
    "bm25_search_topk",
    "budget_select_per_lang",
    "chunk_positive_pairs",
    "cohort_retention_counts",
    "compaction_plan_bins",
    "corpus_mix_counts",
    "corpus_report_by_source",
    "countmin_user_frequencies",
    "curation_pipeline_counts",
    "daily_top_event_types",
    "decayed_user_engagement",
    "dedup_cluster_keep_best",
    "dedup_incremental_near",
    "dedup_substring_spans",
    "doc_chunk_windows",
    "engagement_pipeline_users",
    "event_funnel_counts",
    "event_transition_counts",
    "fuzzy_join_even_odd",
    "heavy_hitter_users",
    "linkage_candidates_customers",
    "median_quantity_by_flag",
    "minmax_order_prices",
    "multimodal_audio_features",
    "multimodal_frame_stats",
    "multimodal_resize_means",
    "negative_pairs_sample",
    "outlier_event_values",
    "pagerank_trade_network",
    "part_basket_triangles",
    "quality_quantile_filter",
    "resample_user_days",
    "scd2_documents",
    "session_path_top",
    "sessionize_events_hotkey",
    "snapshot_diff_documents",
    "source_cap_kept",
    "source_overlap_mirror",
    "split_leakage_pairs",
    "suppliers_with_large_shipments",
    "temperature_mix_counts",
    "text_language_id",
    "text_quality",
    "text_repetition",
    "text_scrub_counts",
    "text_token_stats",
    "tumbling_window_counts",
    # last driver row: round 10
    "ann_eval_scorecard",
    "ann_ivfpq_index_append_topk",
    "ann_ivfpq_index_topk",
    "asof_forward_next_view",
    "asof_purchase_last_view",
    "bot_cadence_users",
    "bpe_fertility_by_lang",
    "bpe_learned_merges",
    "closure_part_hierarchy",
    "corpus_length_quantiles",
    "corpus_top_ngrams",
    "dataset_split_counts",
    "decontaminate_overlap",
    "dedup_clusters",
    "dedup_prefix_jaccard",
    "doc_top_terms",
    "events_props_extract",
    "multimodal_image_features",
    "nations_with_customers_and_suppliers",
    "orders_above_customer_avg",
    "pack_chunks",
    "parts_never_ordered",
    "q10_returned_revenue",
    "q14_promo_revenue",
    "q15_top_supplier",
    "q16_parts_supplier_counts",
    "q17_small_quantity_revenue",
    "q18_large_volume_orders",
    "q19_disjunctive_revenue",
    "q1_pricing_summary",
    "q21_sole_late_shipper",
    "q22_dormant_customers",
    "q2_min_cost_supplier",
    "q3_shipping_priority",
    "q4_priority_late_ship",
    "q5_region_volume",
    "q7_nation_volume",
    "quality_filter_funnel",
    "range_join_purchase_views",
    "sample_per_lang",
    "sessionize_events",
    "stratified_sample_counts",
    "text_bigram_surprisal",
    "topk_brands_by_revenue",
    "translate_order_priority",
    "weighted_sample_counts",
    "window_order_rank",
    "window_running_value",
    "window_running_value_bucketed",
    "window_running_value_hotkey",
]


def _live_changed(seen: dict[str, int]) -> list[str]:
    """The not-yet-expired slice of ``_CHANGED_GATES``: entries whose
    gate has no CORRECTNESS row at or after the round the change was
    tagged with. With no artifacts at all (fresh clone) every entry is
    conservatively live — there is no evidence the new code was ever
    driver-checked."""
    return [
        n for n, rnd in _CHANGED_GATES if seen.get(n, -1) < rnd
    ]


def _reorder(out: dict) -> dict:
    seen = _last_checked_rounds()
    if seen:
        # derived stalest-first: rank = (last-checked round, name)
        rank = {n: (seen[n], n) for n in seen}
    else:
        # fresh clone with no CORRECTNESS artifacts: static fallback
        rank = {n: (i, n) for i, n in enumerate(_DRIVER_ORDER_FALLBACK)}
    changed = {n: i for i, n in enumerate(_live_changed(seen))}

    # Priority groups for the driver's prefix-sampled gate — see the
    # comment above _CHANGED_GATES. Group 1 sorts alphabetically
    # because the QUERIES and ORACLES dicts may register new entries in
    # different module order, and the two registries must align.
    def key(n: str):
        c = changed.get(n)
        if c is not None:
            return (0, c, n)
        r = rank.get(n)
        if r is None:
            return (1, 0, n)
        return (2, r, n)

    names = sorted(out, key=key)
    return {n: out[n] for n in names}


#: The query modules, in registration order: a later module's entry
#: overrides an earlier one's of the same name.
_MODULES = (
    "relational",
    "tpch_extra",
    "pipeline",
    "pipeline_extra",
    "pipeline_r5",
    "pipeline_r5b",
    "pipeline_r7",
    "pipeline_r7b",
    "pipeline_r8",
    "pipeline_r9",
    "pipeline_r10",
    "pipeline_r11",
    "domain",
)


def _registry(attr: str) -> dict:
    """The ``attr`` dicts (``QUERIES`` or ``ORACLES``) of every module
    in ``_MODULES``, merged in order and then ``_reorder``-ed."""
    # no ImportError swallowing: these modules depend only on pyspark +
    # stdlib, so a failure here is a bug that must surface, not a
    # missing optional dependency (silently dropping a module would
    # shrink the correctness gate by 20+ queries)
    from importlib import import_module

    out: dict = {}
    for name in _MODULES:
        out.update(getattr(import_module(f".{name}", __name__), attr))
    return _reorder(out)


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _registry("QUERIES")


def all_oracles() -> dict[str, str]:
    return _registry("ORACLES")
