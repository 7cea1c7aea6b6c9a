"""Physical-plan regression tests: the optimizer properties the engine
is designed around must hold — filter pushdown + column pruning at the
scan, broadcast joins for star queries, and no Python evaluation node
in the valueset-membership path (the reference's opaque-UDF bottleneck
this engine removes)."""

from __future__ import annotations

import itertools
from typing import NamedTuple

import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_pushdown_and_pruning(spark, sf_dir):
    from bunsen_spark.queries.relational import q1_pricing_summary

    plan = _plan(q1_pricing_summary(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # projection pruned to the 7 referenced columns — no full-row scan
    read = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_comment" not in read and read.count(":") <= 8


def test_q5_broadcasts_dimensions(spark, sf_dir):
    from bunsen_spark.queries.relational import q5_region_volume

    plan = _plan(q5_region_volume(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_membership_join_is_not_python(spark, sf_dir):
    from bunsen_spark.queries.terminology import valueset_membership_lineitem

    plan = _plan(valueset_membership_lineitem(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_in_valueset_expression_is_native(spark):
    """The in_valueset predicate compiles to native expressions (no
    Python evaluation node) when built from explicit code lists."""
    from pyspark.sql import functions as F

    from bunsen_spark.functions.valuesets import build_valuesets, in_valueset

    vs = build_valuesets(spark, {"bp": [("http://loinc.org", "8462-4")]})
    df = spark.createDataFrame(
        [(("c1", [("http://loinc.org", "8462-4")]),)],
        "code struct<id:string, coding:array<struct<system:string,code:string>>>",
    )
    out = df.where(in_valueset(F.col("code"), "bp", vs))
    assert "BatchEvalPython" not in _plan(out)
    assert out.count() == 1


def test_range_join_is_hash_not_nested_loop(spark, sf_dir):
    from bunsen_spark.queries.streaming import range_join_purchase_views

    plan = _plan(range_join_purchase_views(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_sql_string_in_valueset_is_native(spark):
    """The SQL-STRING form of the docs membership query
    (`introduction.rst:76-90` shape) must compile to native expressions
    via the sql() rewriter — no BatchEvalPython (VERDICT r1 item 4)."""
    from bunsen_spark.functions.valuesets import pop_valuesets, push_valuesets, sql

    push_valuesets(spark, {"bp": [("http://loinc.org", "8462-4")]})
    try:
        df = spark.createDataFrame(
            [(("c1", [("http://loinc.org", "8462-4")]),),
             (("c2", [("http://loinc.org", "9999-9")]),)],
            "code struct<id:string, coding:array<struct<system:string,code:string>>>",
        )
        df.createOrReplaceTempView("obs_sqltest")
        out = sql(spark, "SELECT * FROM obs_sqltest WHERE in_valueset(code, 'bp')")
        plan = _plan(out)
        assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
        assert out.count() == 1
        # same rows as the (slow-path) registered Python UDF
        udf_out = spark.sql("SELECT * FROM obs_sqltest WHERE in_valueset(code, 'bp')")
        assert sorted(map(str, out.collect())) == sorted(map(str, udf_out.collect()))
    finally:
        pop_valuesets(spark)


_GROUPS = itertools.count()


class _Executed(NamedTuple):
    df: object  # the returned frame, collected once
    jobs: list  # the job ids its build and collect ran
    stages: list  # their stage attempts (Spark's StageData)
    plans: list  # (physical plan tree, stage count) per SQL execution


def _executed(spark, build) -> _Executed:
    """Build and collect ``build()`` under a fresh job group and read
    what ran from Spark's own status stores."""
    sc = spark.sparkContext
    group = f"test_plans/{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        df = build()
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = list(tracker.getJobIdsForGroup(group))
    # A skipped stage (its shuffle output reused) ran no task, and once
    # the status store holds more than spark.ui.retainedStages it evicts
    # skipped stages first, so read only the stages it still holds.
    stages = [
        jsc.statusStore().lastStageAttempt(sid)
        for j in jobs
        for sid in tracker.getJobInfo(j).stageIds
        if tracker.getStageInfo(sid) is not None
    ]
    plans = []
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    while it.hasNext():
        e = it.next()
        if e.description() == group:
            plans.append((e.physicalPlanDescription().split("\n\n")[0], e.stages().size()))
    return _Executed(df, jobs, stages, plans)


@pytest.mark.parametrize("gate", ["ann_ivf_topk", "ann_brute_topk"])
def test_ann_topk_scan_is_one_pass(spark, sf_dir, scatter_gather, gate):
    """The ANN search is scatter-gather: the corpus is consumed by ONE
    stage — one mapInArrow partials pass, no join of any kind (the
    former shape broadcast the centroid array and probe lists), no
    exchange — whose partition-local top-k partials are merged on the
    driver; no job shuffles a byte, and the returned frame is a
    LocalRelation."""
    from bunsen_spark.queries import ann

    with scatter_gather():
        run = _executed(spark, lambda: getattr(ann, gate)(spark, sf_dir))
    scans = [(tree, n) for tree, n in run.plans if "MapInArrow" in tree]
    assert len(scans) == 1, run.plans
    tree, n_stages = scans[0]
    assert n_stages == 1
    assert tree.count("MapInArrow") == 1
    assert "Join" not in tree and "Exchange" not in tree
    assert not any("CartesianProduct" in t or "Join" in t for t, _ in run.plans)
    assert all(st.shuffleWriteBytes() == 0 for st in run.stages)
    plan = run.df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan


def test_brute_force_topk_two_jobs_no_shuffle(spark, sf_dir, scatter_gather):
    """Under scatter-gather, one exact search runs exactly two jobs —
    the query collect and the corpus scan — and shuffles nothing;
    collecting the result runs none."""
    from bunsen_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with scatter_gather():
        run = _executed(spark, lambda: brute_force_topk(emb, k=5, num_queries=8))
    assert len(run.jobs) == 2, run.plans
    assert sum(st.shuffleWriteBytes() for st in run.stages) == 0


def test_brute_force_topk_gathered_one_job(spark, sf_dir, tmp_path):
    """A broadcast-sized corpus is gathered and scanned on the driver:
    no MapInArrow node (no Python worker), no shuffle, and a
    LocalRelation result. A Parquet corpus is read from its files, so
    the search runs no job; the same corpus as JSON is gathered with
    one ``toArrow()`` job, with the same rows."""
    from bunsen_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb.write.json(str(tmp_path / "json"))
    as_json = spark.read.schema(emb.schema).json(str(tmp_path / "json"))
    rows = []
    for corpus, jobs in ((emb, 0), (as_json, 1)):
        run = _executed(spark, lambda: brute_force_topk(corpus, k=5, num_queries=8))
        assert len(run.jobs) == jobs, run.plans
        assert not any("MapInArrow" in tree for tree, _ in run.plans), run.plans
        assert not any("Exchange" in tree for tree, _ in run.plans), run.plans
        assert sum(st.shuffleWriteBytes() for st in run.stages) == 0
        plan = run.df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("LocalRelation"), plan
        rows.append(sorted(map(tuple, run.df.collect())))
    assert rows[0] == rows[1] and rows[0]


def test_ann_members_gather_their_own_scan_input_once(spark, sf_dir):
    """The lattice members scan the plain corpus and build their
    ``round(x*1000)`` lattice per batch, so a Parquet corpus is read
    from its files: JL runs no job, and trained IVF, whose codebook
    trains on the driver over the same gathered table, runs what
    ``kmeans_codebook`` alone runs — no job and no MapInArrow."""
    from bunsen_spark.operators.similarity import ivf_kmeans_topk, jl_topk, kmeans_codebook

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    jl = _executed(spark, lambda: jl_topk(emb, k=5, num_queries=8))
    assert len(jl.jobs) == 0, jl.plans
    assert not any("MapInArrow" in tree for tree, _ in jl.plans), jl.plans
    train = _executed(spark, lambda: kmeans_codebook(emb))
    ivf = _executed(spark, lambda: ivf_kmeans_topk(emb, k=5, num_queries=8))
    assert len(ivf.jobs) == len(train.jobs), ivf.plans
    scans = lambda run: sum("MapInArrow" in tree for tree, _ in run.plans)  # noqa: E731
    assert scans(ivf) == scans(train), ivf.plans


def test_ann_no_queries_runs_no_job(spark, sf_dir, scatter_gather):
    """``num_queries=0`` returns the empty frame before the placement
    decision: no job under either placement."""
    from bunsen_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assert _executed(spark, lambda: brute_force_topk(emb, num_queries=0)).jobs == []
    with scatter_gather():
        assert _executed(spark, lambda: brute_force_topk(emb, num_queries=0)).jobs == []


def test_contamination_broadcasts_probe(spark, sf_dir):
    """Decontamination: the probe shingle set is the broadcast side;
    the corpus stream is map-only up to the final aggregation."""
    from bunsen_spark.queries.curation import decontaminate_overlap

    plan = _plan(decontaminate_overlap(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_pack_chunks_single_exchange(spark, sf_dir):
    """Sequence packing: one shuffle (the per-shard window sort), no
    join anywhere."""
    from bunsen_spark.queries.curation import pack_chunks

    plan = _plan(pack_chunks(spark, sf_dir))
    assert plan.count("Exchange") <= 2  # shard hash partitioning (+AQE read)
    assert "Join" not in plan


def test_multimodal_single_decode_pass(spark, sf_dir):
    """The media gate query must execute the decode mapInPandas stage
    exactly ONCE: decode dominates cost at scale, and the r3 plan ran
    it twice (features + a dimension self-join back to `decoded`).
    image_features now carries width/height through, so the executed
    plan has exactly two MapInPandas nodes (decode, feats) and no
    join."""
    from bunsen_spark.queries.curation import multimodal_image_features

    plan = _plan(multimodal_image_features(spark, sf_dir))
    assert plan.count("MapInPandas") == 2, plan
    assert plan.count("decode") == 1, plan
    assert "Join" not in plan


def test_multimodal_audio_single_decode_pass(spark, sf_dir):
    """Audio gate query: exactly one decode mapInPandas (audio_features
    carries n_samples through — no join back to the decoded frame)."""
    from bunsen_spark.queries.curation import multimodal_audio_features

    plan = _plan(multimodal_audio_features(spark, sf_dir))
    assert plan.count("MapInPandas") == 2, plan
    assert plan.count("decode") == 1, plan
    assert "Join" not in plan


@pytest.mark.slow
def test_no_cartesian_product_in_any_gate_query(spark, sf_dir):
    """Blanket plan discipline: no gate query may degenerate into a
    CartesianProduct (the one join strategy that cannot survive scale).
    BroadcastNestedLoop is allowed only where a tiny broadcast side is
    the design (ANN query sets, IVF centroids)."""
    from bunsen_spark.queries import all_queries

    for name, fn in all_queries().items():
        plan = _plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, name


def test_sql_rewrite_multiple_calls_and_unknown_ref(spark):
    from bunsen_spark.functions.valuesets import rewrite_in_valueset_sql

    vs = {"a": {"s": {"x"}}, "b": {"s": {"y"}}}
    out = rewrite_in_valueset_sql(
        "SELECT * FROM t WHERE in_valueset(code, 'a') OR in_valueset(other.code, 'b')",
        vs,
    )
    assert "in_valueset" not in out
    assert out.count("exists(") == 2 and "other.code.coding" in out
    # unknown reference fails like the UDF does
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown valueset reference"):
        rewrite_in_valueset_sql("SELECT in_valueset(code, 'nope') FROM t", vs)
    # empty members compile to a constant false
    assert (
        rewrite_in_valueset_sql("SELECT in_valueset(code, 'e') FROM t", {"e": {}})
        == "SELECT false FROM t"
    )


def test_q4_exists_is_semi_join(spark, sf_dir):
    """The correlated EXISTS must compile to a LEFT-SEMI hash join
    (non-equi conjunct as join condition), never a cartesian or a
    per-row subquery."""
    from bunsen_spark.queries.relational import q4_priority_late_ship

    plan = _plan(q4_priority_late_ship(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q10_broadcasts_nation(spark, sf_dir):
    from bunsen_spark.queries.relational import q10_returned_revenue

    plan = _plan(q10_returned_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q18_aggregates_before_join(spark, sf_dir):
    """The HAVING aggregate must sit BELOW the joins (aggregate-then-
    join): the lineitem scan feeds a HashAggregate whose output joins
    orders — not the other way around."""
    from bunsen_spark.queries.relational import q18_large_volume_orders

    plan = _plan(q18_large_volume_orders(spark, sf_dir))
    assert "HashAggregate" in plan and "CartesianProduct" not in plan
    # the sum_qty threshold is a Filter over the aggregate, not over a
    # join output: the aggregate (printed deeper) appears AFTER the
    # first join node in the plan string's top-down rendering
    first_join = min(
        p for p in (plan.find("SortMergeJoin"), plan.find("BroadcastHashJoin")) if p >= 0
    )
    assert plan.index("sum_qty") > 0
    assert plan.rindex("HashAggregate") > first_join


def test_chunking_is_zero_shuffle(spark, sf_dir):
    """chunk_documents must be a pure map stage: no Exchange anywhere."""
    from bunsen_spark.operators.chunking import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(chunk_documents(docs))
    assert "Exchange" not in plan


def test_bloom_probe_is_all_broadcast(spark, sf_dir):
    """The Bloom prefilter must never shuffle the fact side: every
    probe is a broadcast hash join, and the bit tests are native
    expressions (no Python)."""
    from pyspark.sql import functions as F

    from bunsen_spark.operators.bloom import bloom_prefilter, bloom_words

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select("l_suppkey")
    dim = spark.read.parquet(f"{sf_dir}/supplier.parquet").where(
        F.col("s_acctbal") > 5000
    )
    words = bloom_words(dim, "s_suppkey", num_bits=1 << 12, num_hashes=3)
    plan = _plan(bloom_prefilter(li, "l_suppkey", words, 1 << 12, 3))
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


def test_countmin_build_is_one_aggregation(spark, sf_dir):
    """The count-min build is exactly one partial+final aggregate: a
    single shuffle (one Exchange) on the bounded cell keys."""
    from bunsen_spark.operators.sketches import countmin_table

    e = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id")
    plan = _plan(countmin_table(e, "user_id", width=256, depth=4))
    import re

    assert len(re.findall(r"\bExchange\b", plan)) == 1
    assert "HashAggregate" in plan


def test_unpartitioned_window_detector():
    """Pure-python check of the audit's WindowExec partition parser:
    three top-level bracket groups = partitioned, two = global. Nested
    brackets inside window expressions must not miscount, and
    WindowGroupLimit (top-k pushdown) is not a Window node."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from plan_audit import _unpartitioned_windows

    part = (
        "   +- Window [row_number() windowspecdefinition(u#1, d#2 ASC NULLS "
        "FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "currentrow$())) AS _we0#3], [u#1], [d#2 ASC NULLS FIRST]"
    )
    glob = (
        "   +- Window [sum(n#1L) windowspecdefinition(h#2L ASC NULLS FIRST, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "currentrow$())) AS _we0#3L], [h#2L ASC NULLS FIRST]"
    )
    nested = (
        "   +- Window [max(arr#3[0]) windowspecdefinition(k#1, v#2 ASC NULLS "
        "FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "currentrow$())) AS m#9], [k#1], [v#2 ASC NULLS FIRST]"
    )
    limit = "   +- WindowGroupLimit [k#1], [v#2 ASC NULLS FIRST], row_number(), 5"
    # partition-only whole-frame aggregate: 2 groups but the second is
    # bare attribute refs (no ASC/DESC NULLS suffix) — NOT global (the
    # shape that false-positived six gates on first deployment)
    part_only = (
        "   +- Window [count(1) windowspecdefinition(p#29, "
        "specifiedwindowframe(RowFrame, unboundedpreceding$(), "
        "unboundedfollowing$())) AS __n#11L], [p#29]"
    )
    glob_frame = "   +- Window [count(1) windowspecdefinition(specifiedwindowframe(RowFrame, unboundedpreceding$(), unboundedfollowing$())) AS n#1L]"
    assert _unpartitioned_windows(part) == 0
    assert _unpartitioned_windows(glob) == 1
    assert _unpartitioned_windows(nested) == 0
    assert _unpartitioned_windows(limit) == 0
    assert _unpartitioned_windows(part_only) == 0
    assert _unpartitioned_windows(glob_frame) == 1
    assert _unpartitioned_windows("\n".join([part, glob, part_only, glob])) == 2


def test_global_window_gates_are_whitelisted(spark, sf_dir):
    """Every gate with an unpartitioned WindowExec must be in the
    audit's whitelist with a bounded-input justification — live check
    on the one known carrier plus a known-partitioned control."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from plan_audit import GLOBAL_WINDOW_WHITELIST, _unpartitioned_windows

    from bunsen_spark.queries.streaming import (
        cumulative_distinct_users,
        user_activity_islands,
    )

    assert _unpartitioned_windows(_plan(cumulative_distinct_users(spark, sf_dir))) == 1
    assert "cumulative_distinct_users" in GLOBAL_WINDOW_WHITELIST
    assert _unpartitioned_windows(_plan(user_activity_islands(spark, sf_dir))) == 0
