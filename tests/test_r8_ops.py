"""Round-8 operator tests: segment dedup, snake sharding, Gini
concentration, binary-Hamming ANN, and the lcm-scaled MRR metric —
each checked against an independent pure-Python reference."""

from __future__ import annotations

import math

import pytest


def _ref_words(text: str) -> list[str]:
    import re

    return re.findall(r"[a-z0-9]+", text.lower())


# ---------------------------------------------------------------- segment dedup


def test_segment_dedup_first_occurrence_and_reassembly(spark):
    from bunsen_spark.operators.dedup import segment_dedup

    seg0 = "a b c d e"  # 5-word segments for the test
    df = spark.createDataFrame(
        [
            (0, "a b c d e f g h i j"),  # segs: [a..e], [f..j]
            (1, "a b c d e x y z w v"),  # first seg duplicates doc0's
            (2, "a b c d e f g h i j"),  # full duplicate of doc0
            (3, "q r s"),  # short tail-only doc
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in segment_dedup(df, seg_words=5).collect()
    }
    assert out[0]["n_segs"] == 2 and out[0]["n_kept"] == 2
    assert out[0]["clean_text"] == "a b c d e f g h i j"
    assert out[1]["n_kept"] == 1 and out[1]["clean_text"] == "x y z w v"
    assert out[2]["n_kept"] == 0 and out[2]["clean_text"] == ""
    assert out[3]["n_kept"] == 1 and out[3]["clean_text"] == "q r s"
    assert seg0 in out[0]["clean_text"]


def test_segment_dedup_keeps_intra_doc_first(spark):
    from bunsen_spark.operators.dedup import segment_dedup

    # the SAME segment twice within one doc: only the first survives
    df = spark.createDataFrame(
        [(7, "a b c a b c")], "doc_id long, text string"
    )
    row = segment_dedup(df, seg_words=3).collect()[0]
    assert row["n_segs"] == 2 and row["n_kept"] == 1
    assert row["clean_text"] == "a b c"


# ---------------------------------------------------------------- snake shards


def _ref_snake(sizes: dict[int, int], n_shards: int) -> dict[int, int]:
    order = sorted(sizes, key=lambda d: (-sizes[d], d))
    out = {}
    for rn0, doc in enumerate(order):
        block, pos = divmod(rn0, n_shards)
        out[doc] = pos if block % 2 == 0 else n_shards - 1 - pos
    return out


def test_snake_shard_assign_matches_reference_and_balances(spark):
    from pyspark.sql import functions as F

    from bunsen_spark.operators.packing import snake_shard_assign

    sizes = {i: (i * 37) % 101 + 1 for i in range(60)}
    df = spark.createDataFrame(
        [(d, s) for d, s in sizes.items()], "doc_id long, n long"
    )
    got = {
        r["doc_id"]: r["shard_id"]
        for r in snake_shard_assign(df, "n", n_shards=4).collect()
    }
    assert got == _ref_snake(sizes, 4)
    masses = [0, 0, 0, 0]
    for d, sh in got.items():
        masses[sh] += sizes[d]
    # snake dealing keeps shard masses within one round's largest item
    assert max(masses) - min(masses) <= max(sizes.values())


# ---------------------------------------------------------------- gini


def _ref_gini_micro(counts: list[int]) -> int:
    cs = sorted(counts)
    n, tot = len(cs), sum(cs)
    ic = sum((i + 1) * c for i, c in enumerate(cs))
    return (2 * ic - (n + 1) * tot) * 1_000_000 // (n * tot)


def test_gini_concentration_uniform_vs_spiky(spark):
    from bunsen_spark.operators.text_analysis import gini_concentration

    df = spark.createDataFrame(
        [
            ("u", "a b c d"),  # uniform: gini 0
            ("s", "a a a a a a a b c d"),  # spiky: one dominant token
        ],
        "source string, text string",
    )
    out = {r["source"]: r for r in gini_concentration(df).collect()}
    assert out["u"]["gini_micro"] == 0
    assert out["s"]["gini_micro"] == _ref_gini_micro([7, 1, 1, 1]) > 0
    assert out["s"]["n_terms"] == 4 and out["s"]["total_tokens"] == 10


# ---------------------------------------------------------------- hamming ANN


def _ref_hamming_topk(vecs, k, num_queries, n_candidates):
    def pack(v):
        w0 = sum(1 << i for i in range(32) if v[i] > 0)
        w1 = sum(1 << i for i in range(32) if v[32 + i] > 0)
        return w0, w1

    packed = {i: pack(v) for i, v in vecs.items()}
    out = []
    for q in range(num_queries):
        ham = sorted(
            (
                (
                    bin(packed[c][0] ^ packed[q][0]).count("1")
                    + bin(packed[c][1] ^ packed[q][1]).count("1"),
                    c,
                )
                for c in vecs
                if c != q
            ),
        )[:n_candidates]

        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return d / (na * nb)

        rer = sorted(
            ((h, c) for h, c in ham),
            key=lambda hc: (-cos(vecs[q], vecs[hc[1]]), hc[1]),
        )[:k]
        out.extend((q, c, h, r + 1) for r, (h, c) in enumerate(rer))
    return sorted(out)


def test_hamming_rerank_topk_matches_reference(spark):
    import numpy as np

    from bunsen_spark.operators.similarity import hamming_rerank_topk

    rng = np.random.default_rng(11)
    vecs = {i: [float(x) for x in rng.normal(size=64)] for i in range(40)}
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["hamming"], r["rank"])
        for r in hamming_rerank_topk(df, k=3, num_queries=5, n_candidates=8).collect()
    )
    # float32->float64 of the fixture is exact here (we built doubles)
    assert got == _ref_hamming_topk(vecs, 3, 5, 8)


# ---------------------------------------------------------------- MRR


def test_mrr_by_query_scaled_reciprocals(spark):
    from bunsen_spark.operators.retrieval import mrr_by_query

    labels = spark.createDataFrame(
        [(0, 1), (1, 1), (2, 2), (3, 2), (4, 3)], "vec_id long, label int"
    )
    run = spark.createDataFrame(
        [
            (0, 2, 1), (0, 1, 2), (0, 3, 3),  # first relevant at rank 2
            (1, 0, 1), (1, 2, 2), (1, 3, 3),  # rank 1
            (4, 0, 1), (4, 2, 2), (4, 3, 3),  # no relevant in top-k
        ],
        "query_id long, neighbor_id long, rank long",
    )
    out = {r["query_id"]: r for r in mrr_by_query(run, labels, k=3).collect()}
    lcm = 6  # lcm(1..3)
    assert out[0]["first_rel"] == 2 and out[0]["mrr_scaled"] == lcm // 2
    assert out[1]["first_rel"] == 1 and out[1]["mrr_scaled"] == lcm
    assert out[4]["first_rel"] == 0 and out[4]["mrr_scaled"] == 0


# ---------------------------------------------------------------- fano


def test_fano_dispersion_poisson_boundary(spark):
    from pyspark.sql import functions as F

    from bunsen_spark.operators.timeseries import fano_dispersion

    # key "m": metronomic — 4 buckets x 3 events -> var 0, fano 0
    # key "b": bursty — buckets [9, 1, 1, 1] -> var >> mean
    rows = [("m", b) for b in range(4) for _ in range(3)]
    rows += [("b", 0)] * 9 + [("b", 1), ("b", 2), ("b", 3)]
    df = spark.createDataFrame(rows, "k string, bucket long")
    out = {r["k"]: r for r in fano_dispersion(df, "k", "bucket").collect()}
    assert out["m"]["fano_micro"] == 0 and not out["m"]["overdispersed"]
    # counts [9,1,1,1]: n=4, S=12, Q=84 -> (4*84-144)*1e6 // (4*12)
    assert out["b"]["fano_micro"] == (4 * 84 - 144) * 1_000_000 // 48
    assert out["b"]["overdispersed"]


# ---------------------------------------------------------------- funnel-1h


def test_funnel_within_hour_window_semantics(spark):
    """The deadline semantics: an early view expires; a later view can
    rescue the click (greedy earliest-view logic would miss it)."""
    from bunsen_spark.queries.streaming import funnel_within_hour
    import pyspark.sql.functions as F

    H = 3_600_000_000
    rows = [
        # user 1: view@0, click@90min -> too late; view@50min rescues it
        (1, "view", 0), (1, "view", 50 * 60_000_000), (1, "click", 90 * 60_000_000),
        # purchase 30min after qualified click -> qualifies
        (1, "purchase", 120 * 60_000_000),
        # user 2: click with no view, purchase with no qualified click
        (2, "click", 10), (2, "purchase", 20),
        # user 3: view then click at exactly +1h (inclusive), purchase at +1h+1us (fails)
        (3, "view", 0), (3, "click", H), (3, "purchase", 2 * H + 1),
    ]
    df = spark.createDataFrame(
        [(u, t, us, i) for i, (u, t, us) in enumerate(rows)],
        "user_id long, event_type string, us long, event_id long",
    )
    # exercise the same logic the gate runs, on a synthetic events frame
    ev = df.select(
        "user_id", "event_type",
        F.timestamp_micros(F.col("us")).alias("ts"), "event_id", F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        ev.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
        out = {r["user_id"]: r for r in funnel_within_hour(spark, d).collect()}
    assert out[1]["q_clicks"] == 1 and out[1]["q_purchases"] == 1
    assert out[2]["q_clicks"] == 0 and out[2]["q_purchases"] == 0
    assert out[3]["q_clicks"] == 1 and out[3]["q_purchases"] == 0
    assert out[1]["first_q_click_us"] == 90 * 60_000_000


# ---------------------------------------------------------------- centroid


def test_label_centroid_topk_matches_reference(spark):
    import numpy as np

    from bunsen_spark.operators.similarity import label_centroid_topk

    rng = np.random.default_rng(7)
    rows = [
        (i, int(i % 3), [float(x) for x in rng.normal(size=64)]) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    got = sorted(
        (r["label"], r["vec_id"], r["rank"], r["same_label"])
        for r in label_centroid_topk(df, k=3).collect()
    )

    # pure-python reference on the same integer lattice
    q = {i: [round(x * 1024) for x in v] for i, (l, v) in ((r[0], (r[1], r[2])) for r in rows)}
    labels = {r[0]: r[1] for r in rows}
    cents = {}
    for i, l, v in rows:
        c = cents.setdefault(l, [0] * 64)
        for d_ in range(64):
            c[d_] += q[i][d_]
    want = []
    for l, c in cents.items():
        scored = sorted(
            (
                -sum(a * b for a, b in zip(c, q[i])) / (sum(x * x for x in q[i]) ** 0.5),
                i,
            )
            for i in q
        )[:3]
        want.extend((l, i, r + 1, labels[i] == l) for r, (_, i) in enumerate(scored))
    assert got == sorted(want)


# ---------------------------------------------------------------- sweep line


def test_sweep_line_peak_boundary_convention(spark):
    from bunsen_spark.operators.range_join import sweep_line_peak

    iv = spark.createDataFrame(
        [
            # group "g": [0,10], [10,20] touch at 10 -> concurrent (closed)
            ("g", 0, 10), ("g", 10, 20),
            # plus [5, 12]: at t=10 three are live
            ("g", 5, 12),
            # group "h": disjoint intervals -> peak 1 at earliest start
            ("h", 0, 1), ("h", 5, 6),
        ],
        "grp string, start_us long, end_us long",
    )
    out = {r["grp"]: r for r in sweep_line_peak(iv, "grp").collect()}
    assert out["g"]["peak"] == 3 and out["g"]["at_us"] == 10
    assert out["h"]["peak"] == 1 and out["h"]["at_us"] == 0


def test_interval_overlap_pairs_canonical_bucket_dedup(spark):
    from bunsen_spark.operators.range_join import interval_overlap_pairs

    B = 100  # small bucket: intervals span many buckets
    iv = spark.createDataFrame(
        [
            (1, 0, 350),   # buckets 0..3
            (2, 120, 500), # overlaps 1 in [120, 350] -> emitted once
            (3, 360, 380), # disjoint from 1, overlaps 2
            (4, 1000, 1100),  # disjoint from all
        ],
        "iv_id long, start_us long, end_us long",
    )
    got = sorted(
        (r["a_id"], r["b_id"], r["overlap_us"])
        for r in interval_overlap_pairs(iv, "iv_id", bucket_us=B).collect()
    )
    assert got == [(1, 2, 230), (2, 3, 20)]


def test_interval_overlap_pairs_pre_epoch_floor_buckets(spark):
    """Negative (pre-epoch) timestamps: bucket ids must come from FLOOR
    division on both engines. Truncate-toward-zero would give bucket 0
    the doubled span (-B, B) and break the canonical-bucket dedup rule
    for pairs whose overlap left edge is negative."""
    import duckdb

    from bunsen_spark.operators.range_join import (
        interval_overlap_pairs,
        interval_overlap_pairs_sql,
    )

    B = 100
    rows = [
        (1, -250, -30),   # floor buckets -3..-1
        (2, -120, 40),    # overlaps 1 in [-120, -30], left edge bucket -2
        (3, -95, -90),    # inside bucket -1, overlaps 1 and 2
        (4, 150, 260),    # positive-side control, disjoint
    ]
    iv = spark.createDataFrame(rows, "iv_id long, start_us long, end_us long")
    got = sorted(
        (r["a_id"], r["b_id"], r["overlap_us"])
        for r in interval_overlap_pairs(iv, "iv_id", bucket_us=B).collect()
    )
    assert got == [(1, 2, 90), (1, 3, 5), (2, 3, 5)]

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE ivsrc AS SELECT * FROM (VALUES "
        + ", ".join(f"({a}, {s}, {e})" for a, s, e in rows)
        + ") t(iv_id, start_us, end_us)"
    )
    sql = interval_overlap_pairs_sql("SELECT * FROM ivsrc", "iv_id", bucket_us=B)
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == [tuple(map(int, w)) for w in want]


def test_mrr_by_query_k_guard_and_integral_division(spark):
    """k is capped where lcm(1..k) still fits int64, and the scaled
    reciprocal must come from integer division: lcm(1..42) exceeds the
    2^53 double mantissa, so a float round-trip would be off-by-ulp."""
    import pytest as _pytest

    from bunsen_spark.operators.retrieval import _lcm_1_to_k, mrr_by_query

    labels = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "vec_id long, label string"
    )
    run = spark.createDataFrame(
        [(1, 3, 1), (1, 2, 41)], "query_id long, neighbor_id long, rank int"
    )
    out = {r["query_id"]: r for r in mrr_by_query(run, labels, 42).collect()}
    scale = _lcm_1_to_k(42)
    assert scale > 2**53  # the regime double division would corrupt
    assert out[1]["first_rel"] == 41
    assert out[1]["mrr_scaled"] == scale // 41  # exact integer quotient

    with _pytest.raises(ValueError, match="42"):
        mrr_by_query(run, labels, 43)


def test_floor_div_helpers_match_python_floor(spark):
    """Property check: both engines' spelled-out floor divisions equal
    Python's // on a hostile grid of signed values and bucket widths
    (exact multiples, off-by-one around them, int64-extreme-ish)."""
    import duckdb

    from bunsen_spark.operators.range_join import _floor_div_duck, _floor_div_sql

    xs = [0, 1, -1, 99, 100, 101, -99, -100, -101, 2**40 + 7, -(2**40) - 7,
          3_600_000_000, -3_600_000_001]
    for b in (1, 7, 100, 3_600_000_000):
        want = [x // b for x in xs]
        got_spark = [
            r[0]
            for r in spark.createDataFrame([(x,) for x in xs], "x long")
            .selectExpr(_floor_div_sql("x", b))
            .collect()
        ]
        assert got_spark == want, f"spark floor-div mismatch at b={b}"
        con = duckdb.connect()
        got_duck = [
            con.execute(
                f"SELECT {_floor_div_duck(str(x), b)}"
            ).fetchone()[0]
            for x in xs
        ]
        assert got_duck == want, f"duckdb floor-div mismatch at b={b}"
