"""Headline query registry.

Aggregates per-module ``QUERIES`` (name -> callable(spark, sf_dir) ->
DataFrame) and ``ORACLES`` (name -> equivalent DuckDB SQL) dicts that
``__spark_entry__`` exposes to the driver's correctness gate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession


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


def _dsum(col: Column) -> Column:
    """Exact sum of a double expression: sum in decimal, emit double."""
    from pyspark.sql import functions as F

    return F.sum(col.cast("decimal(20,6)")).cast("double")


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
#      budget. With no readable CORRECTNESS artifact (fresh clone)
#      this group is empty and the order is alphabetical.

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
    # shapes and deserve fresh driver rows. (The Lloyd-family gates'
    # round-14 rows are superseded by their round-22 rows below.)
    # round 14 session 2: vectorized ANN query scans (numpy mapInArrow
    # partial top-k + tiny global window) and the LocalRelation sweep
    # of driver-built lookup/result tables (bunsen_spark/localrel.py)
    ("coverage_select_docs", 14),
    ("interleave_mix_positions", 14),
    ("weighted_median_prices", 14),
    ("bpe_learned_merges", 14),
    ("mmr_diverse_topk", 14),
    ("translate_order_priority", 14),
    ("bm25_multiquery_topk", 14),
    ("valueset_membership_lineitem", 14),
    ("closure_part_hierarchy", 14),
    # round 17: one exact set-overlap path — one saturation guard, one
    # array-intersection verify and one MinHash band-candidate join for
    # the dedup/set-join operators; prefix_jaccard_pairs keys its tokens
    # by a vocabulary-proven injective xxhash64. These rows supersede
    # the round-14 set-join verification entries of the same gates.
    ("dedup_jaccard", 17),
    ("dedup_containment", 17),
    ("dedup_prefix_jaccard", 17),
    ("dedup_minhash_lsh", 17),
    ("dedup_clusters", 17),
    ("dedup_cluster_keep_best", 17),
    ("curation_pipeline_counts", 17),
    ("cluster_safe_split_counts", 17),
    ("dedup_incremental_near", 17),
    ("fuzzy_join_even_odd", 17),
    ("split_leakage_pairs", 17),
    # round 19: a broadcast-sized Parquet corpus of float or double
    # vectors is read on the driver from its files (_bcast.gather), not
    # collected by a Spark job, for the default-scan ANN members and
    # the exact embedding dedup's broadcast path; the top-k selection
    # partitions before it sorts. Supersedes these gates' round-16 and
    # round-18 rows (round 18: exact embedding dedup takes its placement
    # from the one gather-or-scatter rule). The seeded IVF, the probe
    # sweep's gates and the fused brute+JL gate moved to round 20 below.
    ("ann_brute_topk", 19),
    ("ann_lsh_topk", 19),
    ("ann_hamming_topk", 19),
    ("dedup_embedding", 19),
    # round 20: every ANN member outside the PQ family ranks through the
    # one top-k scan kernel: the seeded IVF picks its centroids from the
    # scan input, JL and trained IVF build their round(x*1000) lattice
    # per batch, the kNN vote and hard negatives carry labels through
    # the scan and decide on the driver (no joins, windows or
    # aggregates), and the label centroids are the queries of a kernel
    # scan (a zero vector ranks last instead of failing). Supersedes
    # these gates' round-16 and round-19 rows; ann_eval_scorecard runs
    # the IVF probe sweep and JL, rrf_fused_topk fuses JL. (The trained
    # IVF's round-20 row is superseded by its round-22 row below.)
    ("ann_ivf_topk", 20),
    ("ann_jl_topk", 20),
    ("knn_label_accuracy", 20),
    ("hard_negatives_topk", 20),
    ("centroid_label_topk", 20),
    ("ann_eval_scorecard", 20),
    ("rrf_fused_topk", 20),
    # round 21: PQ and IVF-PQ rank through the one top-k scan kernel —
    # the queries' lookup tables (and IVF-PQ's probes) are built on the
    # driver, the codes are grouped into one row per vector and scanned
    # by the ADC scorer, and the index searches read their live codes
    # through one reader. Supersedes these gates' round-14 rows. (Their
    # round-21 rows are superseded by their round-22 rows below.)
    # round 22: one Lloyd kernel — every k-means codebook (trained IVF,
    # semantic dedup, cluster purity, PQ, IVF-PQ coarse and residual
    # books) trains in one loop of per-batch partial sums merged on the
    # driver, and every assignment and encode is one nearest-centroid
    # pass; a gathered corpus trains and encodes with no job.
    ("ann_ivf_kmeans_topk", 22),
    ("semantic_dedup_drops", 22),
    ("cluster_purity_embeddings", 22),
    ("ann_pq_topk", 22),
    ("ann_ivfpq_topk", 22),
    ("ann_ivfpq_index_topk", 22),
    ("ann_ivfpq_index_append_topk", 22),
    ("ann_ivfpq_index_delete_topk", 22),
]


def _last_checked_rounds() -> dict[str, int]:
    """name -> last round with a driver CORRECTNESS row, read from the
    committed ``CORRECTNESS_r*.json`` files at the repo root. Pure
    bookkeeping (no Spark); unreadable files are skipped, and an empty
    result leaves the caller with alphabetical order."""
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
    changed = {n: i for i, n in enumerate(_live_changed(seen))}

    # Priority groups for the driver's prefix-sampled gate — see the
    # comment above _CHANGED_GATES. Group 1 sorts alphabetically
    # because the QUERIES and ORACLES dicts may register new entries in
    # different module order, and the two registries must align. With
    # no CORRECTNESS artifacts (fresh clone) group 2 is empty, so the
    # order is alphabetical after the live changed gates.
    def key(n: str):
        c = changed.get(n)
        if c is not None:
            return (0, c, n)
        r = seen.get(n)
        if r is None:
            return (1, 0, n)
        return (2, r, n)

    names = sorted(out, key=key)
    return {n: out[n] for n in names}


#: The query modules, one per domain. Each registers disjoint names;
#: the registry order comes from ``_reorder``, not from this tuple.
_MODULES = ("terminology", "relational", "streaming", "curation", "ann")


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
