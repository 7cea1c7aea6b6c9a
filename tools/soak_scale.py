"""Scale soak: run the heavy operator families at gen-sf0.1 and
gen-sf1 (tools/make_scale_fixtures.py outputs) and report per-query
wall times plus the observed scaling exponent

    alpha = log(t_sf1 / t_sf0.1) / log(10)

alpha ~ 1 means linear scaling in the input size; alpha >= 1.5 flags a
candidate-blowup (e.g. a quadratic pair join) that sf0.1 alone cannot
reveal. Fixed per-query job overhead deflates alpha at these sizes, so
small alphas are expected for cheap queries; the flag threshold only
matters for the expensive ones.

Only queries whose inputs are limited to documents/events/embeddings
run (the soak fixtures don't include the TPC-H tables).

Usage: python tools/soak_scale.py [query ...]   (default: heavy list)
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

#: heavy families over documents/events/embeddings only
HEAVY = [
    "dedup_prefix_jaccard",
    "dedup_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_clusters",
    "dedup_cluster_keep_best",
    "dedup_containment",
    "dedup_substring_spans",
    "dedup_embedding",
    "text_fingerprint",
    "text_bigram_surprisal",
    "text_surprisal_score",
    "bm25_search_topk",
    "sessionize_events",
    "sessionize_events_bucketed",
    "ann_ivf_kmeans_topk",
    "ann_lsh_topk",
    "fuzzy_join_even_odd",
    "rfm_user_segments",
    "semantic_dedup_drops",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "epoch_shuffle_positions",
    "interleave_mix_positions",
    "histogram_drift_chars",
    "dsir_importance_scores",
    "mmr_diverse_topk",
    "knn_label_accuracy",
    "ann_jl_topk",
    "waterfill_lang_budget",
    "ngram_novelty_scores",
    "bpe_fertility_by_lang",
    "cluster_purity_embeddings",
    "hard_negatives_topk",
    "rrf_fused_topk",
    "pmi_collocations",
    "padding_waste_buckets",
    "cluster_safe_split_counts",
    "novelty_incremental",
    "bot_cadence_users",
    "embedding_drift_labels",
    "zipf_stats_by_source",
    "quality_dup_decile_counts",
    "ann_eval_scorecard",
    "cusum_event_alerts",
    "segment_dedup_texts",
    "ann_hamming_topk",
    "centroid_label_topk",
    "funnel_within_hour",
    "gini_source_concentration",
    "shard_snake_mass",
    "bursty_event_types",
    "user_activity_islands",
    "cumulative_distinct_users",
    "rolling_7d_value_extrema",
    "ann_ivf_probe_curve",
    "peak_concurrency_daily",
    "purchase_session_overlaps",
    "ann_ivfpq_index_topk",
    "ann_ivfpq_index_append_topk",
]


def main() -> None:
    # --lo/--hi pick the two generator-sf fixture dirs to compare
    # (default sf0.1 vs sf1). E.g. the round-8 pair-output-bound
    # confirmation runs `--lo sf1 --hi sf10` (a 100x total datapoint)
    # with seconds-per-emitted-row printed so output growth separates
    # from superlinear work (VERDICT r7 #3).
    argv = sys.argv[1:]
    lo_sf, hi_sf = "sf0.1", "sf1"
    names: list[str] = []
    it = iter(argv)
    for a in it:
        if a == "--lo":
            lo_sf = next(it)
        elif a == "--hi":
            hi_sf = next(it)
        else:
            names.append(a)
    names = names or HEAVY
    ratio = float(hi_sf[2:]) / float(lo_sf[2:])
    from bunsen_spark.queries import all_queries
    from bunsen_spark.session import get_spark

    spark = get_spark("soak_scale")
    qs = all_queries()
    lo = str(REPO / "scale_testdata" / lo_sf)
    hi = str(REPO / "scale_testdata" / hi_sf)
    spark.range(1).count()

    # saturation-guard decision trace: pins (probe_volume, chosen_n)
    # per set-join gate per scale so a probe-bound regression (e.g. a
    # tokenizer change shrinking the token space) trips THIS artifact,
    # not a wall-clock blowup (VERDICT r9 #5)
    from bunsen_spark.operators.setjoin import GUARD_TRACE

    def drain_guard(name: str, sf: str) -> None:
        for d in GUARD_TRACE:
            verdict = "ADMIT" if d["admitted"] else "refuse"
            print(
                f"  guard[{name} @ {sf}]: n={d['width']} "
                f"probe_volume={d['volume']:,} cap={d['cap']:,} {verdict}",
                flush=True,
            )
        GUARD_TRACE.clear()

    rows = []
    for name in names:
        fn = qs[name]
        # which scale is in flight, so the refusal-path drain labels
        # guard entries with the ACTUAL scale that refused instead of
        # the ambiguous "lo|hi" (ADVICE r10 — a gate that passed lo
        # but refused hi was indistinguishable in the artifact)
        at = "warm"
        try:
            at = f"warm@{lo_sf}"
            fn(spark, lo).collect()  # warm (codegen/JIT for this plan)
            GUARD_TRACE.clear()
            at = lo_sf
            t0 = time.time()
            n_lo = fn(spark, lo).count()
            t_lo = time.time() - t0
            drain_guard(name, lo_sf)
            at = hi_sf
            t0 = time.time()
            n_hi = fn(spark, hi).count()
            t_hi = time.time() - t0
            drain_guard(name, hi_sf)
            alpha = (
                math.log(t_hi / t_lo) / math.log(ratio) if t_lo > 0 else float("nan")
            )
            rows.append((name, t_lo, n_lo, t_hi, n_hi, alpha))
            per_row = (
                f"  sec/row {t_lo / n_lo:9.2e} -> {t_hi / n_hi:9.2e}"
                if n_lo and n_hi
                else ""
            )
            print(
                f"{name:32s} {lo_sf} {t_lo:7.2f}s ({n_lo:>8} rows)  "
                f"{hi_sf} {t_hi:7.2f}s ({n_hi:>8} rows)  alpha={alpha:5.2f}{per_row}",
                flush=True,
            )
        except Exception as e:  # noqa: BLE001
            # a guard REFUSAL is a decision worth pinning too — drain
            # whatever the probe logged before it raised, labeled with
            # the scale that was actually running
            drain_guard(name, at)
            print(f"{name:32s} ERROR at {at}: {e}", flush=True)
    bad = [r for r in rows if r[5] >= 1.5]
    print(f"\n{len(rows)} queries; {len(bad)} with alpha >= 1.5"
          + (": " + ", ".join(r[0] for r in bad) if bad else ""))


if __name__ == "__main__":
    main()
