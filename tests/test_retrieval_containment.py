"""Containment near-dup pairs and BM25 retrieval."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


SUB = "alpha beta gamma delta epsilon"  # 3 distinct 3-gram shingles
SUPER = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    "lam mu nu omicron pi rho"
)  # contains all of SUB's shingles as a prefix, plus 11 more


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_containment_catches_subset_jaccard_misses(spark):
    """A doc quoted verbatim inside a much longer one: containment fires
    at 1.0 while the symmetric Jaccard is far below any threshold —
    the operator's reason to exist."""
    from bunsen_spark.operators.dedup import containment_pairs, jaccard_pairs

    df = _docs(
        spark,
        [(1, SUB), (2, SUPER), (3, "unrelated words entirely different story here")],
    )
    got = {
        (r.contained_id, r.container_id): r.containment
        for r in containment_pairs(df, threshold=0.8).collect()
    }
    assert got == {(1, 2): 1.0}
    # the same pair is invisible to symmetric Jaccard at 0.5:
    # J = 3 shared shingles / 14 total ≈ 0.214
    assert jaccard_pairs(df, threshold=0.5).count() == 0


def test_containment_equal_sets_emit_both_directions(spark):
    from bunsen_spark.operators.dedup import containment_pairs

    df = _docs(spark, [(1, SUB), (2, SUB + " "), (3, "other thing")])
    got = {
        (r.contained_id, r.container_id): r.containment
        for r in containment_pairs(df, threshold=0.8).collect()
    }
    assert got == {(1, 2): 1.0, (2, 1): 1.0}


def test_containment_portable_and_fast_hash_agree(spark):
    """The xxhash64 fast path and the md5 portable family must make the
    same pair decisions (hash choice only relabels shingles)."""
    from bunsen_spark.operators.dedup import containment_pairs

    df = _docs(spark, [(1, SUB), (2, SUPER), (4, SUB + " extra tail words here")])
    fast = {
        (r.contained_id, r.container_id)
        for r in containment_pairs(df, threshold=0.6).collect()
    }
    portable = {
        (r.contained_id, r.container_id)
        for r in containment_pairs(df, threshold=0.6, portable=True).collect()
    }
    assert fast == portable and (1, 2) in fast


def _py_bm25(terms, tf, dl, n, sumdl, df, k1=1.2, b=0.75):
    """The score re-derived in Python floats with the generated
    expression's exact operation order (left-fold over sorted terms)."""
    s = None
    for t in sorted(terms):
        idf = ((n - df[t]) + 0.5) / (df[t] + 0.5)
        part = idf * ((tf[t] * (k1 + 1.0)) / (tf[t] + k1 * ((1.0 - b) + b * (dl / (sumdl / n)))))
        s = part if s is None else s + part
    return s


def test_bm25_hand_computed_scores(spark):
    from bunsen_spark.operators.retrieval import bm25_topk

    rows = [
        (1, "spark hash spark join"),        # tf(spark)=2 tf(hash)=1 dl=4
        (2, "hash table scan scan"),         # tf(hash)=1 dl=4
        (3, "sort merge sort merge limit"),  # dl=5, no query terms
    ]
    df = _docs(spark, rows)
    terms = ["spark", "hash"]
    got = {r.doc_id: r.bm25 for r in bm25_topk(df, terms, k=10).collect()}
    n, sumdl = 3, 13
    dfreq = {"spark": 1, "hash": 2}
    want1 = _py_bm25(terms, {"spark": 2, "hash": 1}, 4, n, sumdl, dfreq)
    want2 = _py_bm25(terms, {"spark": 0, "hash": 1}, 4, n, sumdl, dfreq)
    assert set(got) == {1, 2}  # doc 3 has no query term -> excluded
    # output is round(score, 6) — compare at that precision
    assert got[1] == pytest.approx(want1, abs=5e-7)
    assert got[2] == pytest.approx(want2, abs=5e-7)
    assert got[1] > got[2]


def test_bm25_rare_term_outranks_common(spark):
    """idf: matching a corpus-rare term beats matching a ubiquitous one
    at equal tf and dl."""
    from bunsen_spark.operators.retrieval import bm25_topk

    rows = [
        (1, "rare filler filler filler"),
        (2, "common filler filler filler"),
        (3, "common filler pad pad"),
        (4, "common pad pad filler"),
    ]
    got = [r.doc_id for r in bm25_topk(_docs(spark, rows), ["rare", "common"], k=4).collect()]
    assert got[0] == 1


def test_bm25_k_bound_and_order(spark):
    from bunsen_spark.operators.retrieval import bm25_topk

    rows = [(i, "term pad") for i in range(10)]
    out = bm25_topk(_docs(spark, rows), ["term"], k=4).collect()
    # all scores tie -> the cut is by doc_id, deterministically
    assert [r.doc_id for r in out] == [0, 1, 2, 3]


def test_bm25_by_query_matches_single_query_form(spark):
    """The posting-table batch form must score identically to the
    literal-column form when given one query with the same terms —
    same stats, same formula, same summation order."""
    from bunsen_spark.operators.retrieval import bm25_topk, bm25_topk_by_query

    rows = [
        (1, "spark hash spark join"),
        (2, "hash table scan scan"),
        (3, "sort merge sort merge limit"),
        (4, "spark spark spark hash hash table"),
    ]
    df = _docs(spark, rows)
    terms = ["spark", "hash"]
    single = {r.doc_id: r.bm25 for r in bm25_topk(df, terms, k=10).collect()}
    qdf = spark.createDataFrame(
        [("q", t) for t in terms], "query_id string, term string"
    )
    batch = {
        r.doc_id: r.bm25 for r in bm25_topk_by_query(df, qdf, k=10).collect()
    }
    assert batch == single


def test_bm25_by_query_ranks_and_k_per_query(spark):
    from bunsen_spark.operators.retrieval import bm25_topk_by_query

    rows = [(i, "alpha pad") for i in range(5)] + [(10, "beta only here")]
    qdf = spark.createDataFrame(
        [("qa", "alpha"), ("qb", "beta")], "query_id string, term string"
    )
    out = bm25_topk_by_query(_docs(spark, rows), qdf, k=3).collect()
    got = {(r.query_id, r.rank): r.doc_id for r in out}
    # qa: 5 tied docs cut at k=3 by doc_id; qb: the one beta doc
    assert got == {("qa", 1): 0, ("qa", 2): 1, ("qa", 3): 2, ("qb", 1): 10}


def test_bm25_rejects_bad_terms(spark):
    from bunsen_spark.operators.retrieval import bm25_topk

    df = _docs(spark, [(1, "x")])
    with pytest.raises(ValueError, match="invalid query term"):
        bm25_topk(df, ["ok", "bad term'"])
    with pytest.raises(ValueError, match="empty query"):
        bm25_topk(df, [])


def test_saturation_guard_refuses_and_auto_escalates(spark):
    """A saturated token space (every doc drawn from a 6-word vocab)
    makes the n=3 prefix join quadratic; the histogram probe must
    refuse it under a tight budget, name the measured volume, and the
    'auto' width must escalate to a safe wider shingle instead."""
    import itertools

    from bunsen_spark.operators.dedup import containment_pairs, jaccard_pairs

    vocab = ["ada", "bob", "cat", "dog", "eel", "fox"]
    rows = [
        (i, " ".join(p))
        for i, p in enumerate(itertools.permutations(vocab))  # 720 docs
    ]
    df = _docs(spark, rows)

    with pytest.raises(ValueError, match="saturated"):
        jaccard_pairs(df, threshold=0.5, candidate_budget=1000).count()
    with pytest.raises(ValueError, match="candidates"):
        containment_pairs(df, threshold=0.8, candidate_budget=1000).count()

    # auto: n=3 (and n=5) are saturated on 6-token docs, but width 7
    # exceeds every doc's length, so each doc collapses to ONE 6-word
    # shingle — unique per permutation — and the join is trivially safe
    out = jaccard_pairs(df[df.doc_id < 20], n="auto", threshold=0.5,
                        candidate_budget=1000)
    assert out.count() == 0  # all 20 docs distinct at the chosen width


def test_prefix_jaccard_pairs_budget_guard(spark):
    from bunsen_spark.operators.setjoin import prefix_jaccard_pairs

    rows = [(i, "same five words every doc") for i in range(30)]
    with pytest.raises(ValueError, match="saturated"):
        prefix_jaccard_pairs(_docs(spark, rows), 0.5, candidate_budget=10).count()


def test_saturation_guard_trace_records_decisions(spark):
    """GUARD_TRACE pins (probe_volume, chosen_n, cap, admitted) per
    probed width — the mechanical record tools/soak_scale.py drains per
    gate per scale so a probe-bound regression trips an artifact diff
    instead of a wall-clock blowup (VERDICT r9 #5)."""
    import itertools

    from bunsen_spark.operators.dedup import jaccard_pairs
    from bunsen_spark.operators.setjoin import GUARD_TRACE

    vocab = ["ada", "bob", "cat", "dog", "eel", "fox"]
    rows = [
        (i, " ".join(p))
        for i, p in enumerate(itertools.permutations(vocab))  # 720 docs
    ]
    df = _docs(spark, rows)

    GUARD_TRACE.clear()
    out = jaccard_pairs(df, n="auto", threshold=0.5, candidate_budget=1000)
    out.count()
    # auto tried 3 (and maybe 5) — refused — then settled on a width
    # that fits: every entry but the last must be a refusal, the last
    # an admission, each carrying the probed volume and its cap
    trace = list(GUARD_TRACE)  # bounded deque: snapshot for slicing
    assert len(trace) >= 2
    assert all(not d["admitted"] for d in trace[:-1])
    last = trace[-1]
    assert last["admitted"] and last["volume"] <= last["cap"]
    assert [d["width"] for d in trace] == sorted(
        {3, 5, 7, 9} & set(d["width"] for d in trace)
    )
    assert all(
        d["volume"] > d["cap"] for d in trace[:-1]
    ) and all(not d["asymmetric"] for d in GUARD_TRACE)
    GUARD_TRACE.clear()
