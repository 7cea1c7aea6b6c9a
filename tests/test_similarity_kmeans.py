"""Distributed Lloyd codebook (operators.similarity.kmeans_codebook):
determinism, refinement behavior, and the IVF-over-trained-codebook
recall sanity. The cross-engine value gate is ``ann_ivf_kmeans_topk``
in CORRECTNESS (DuckDB re-trains the codebook and must match)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bunsen_spark.operators import similarity as sim
from bunsen_spark.operators._bcast import gathers
from bunsen_spark.operators.similarity import (
    ivf_kmeans_topk,
    ivf_topk,
    kmeans_codebook,
)


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_codebook_deterministic_and_shaped(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    a = {r["cid"]: r["cv"] for r in kmeans_codebook(emb).collect()}
    b = {r["cid"]: r["cv"] for r in kmeans_codebook(emb.repartition(5)).collect()}
    # identical across physical layouts: integral-double sums are
    # order-independent, assignment is rank-based
    assert a == b
    assert 0 < len(a) <= 16
    assert all(len(cv) == 64 for cv in a.values())


def test_codebook_refinement_moves_centroids(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    seeded = {r["cid"]: r["cv"] for r in kmeans_codebook(emb, n_iters=0).collect()}
    trained = {r["cid"]: r["cv"] for r in kmeans_codebook(emb, n_iters=2).collect()}
    # seeding picks corpus vectors (integral quantized values); training
    # replaces them with non-trivial means
    assert seeded != trained
    moved = sum(1 for cid in trained if cid in seeded and trained[cid] != seeded[cid])
    assert moved > 0


def test_ivf_kmeans_recall_not_worse_than_seeded(spark, sf_dir):
    """Trained centroids should cluster at least as coherently as the
    md5-seeded pick: overlap with the exact brute-force top-5 must not
    collapse. (Both are approximate; this is a sanity floor, not an
    accuracy benchmark.)"""
    from bunsen_spark.operators.similarity import brute_force_topk

    emb = _emb(spark, sf_dir)
    exact = {
        (r["query_id"], r["neighbor_id"]) for r in brute_force_topk(emb).collect()
    }
    seeded = {
        (r["query_id"], r["neighbor_id"]) for r in ivf_topk(emb).collect()
    }
    trained = {
        (r["query_id"], r["neighbor_id"]) for r in ivf_kmeans_topk(emb).collect()
    }
    assert len(trained & exact) >= len(seeded & exact) * 0.8
    # output contract: 5 ranked rows per query
    per_q = (
        ivf_kmeans_topk(emb)
        .groupBy("query_id")
        .agg(F.max("rank").alias("mx"), F.count("*").alias("n"))
        .collect()
    )
    assert all(r["mx"] == r["n"] for r in per_q)


def test_quantize_embeddings_stats_contract(spark, sf_dir):
    """Int8 quantization invariants: codes within [-127, 127] implies
    q_l1 <= 127*dim; reconstruction error bounded by half a quant step
    (scale/254 + float slack); zero-vector guard emits scale 0."""
    from pyspark.sql import functions as F

    from bunsen_spark.operators.similarity import quantize_embeddings_stats

    emb = _emb(spark, sf_dir)
    out = quantize_embeddings_stats(emb)
    rows = out.collect()
    assert len(rows) == emb.count()
    for r in rows[:50]:
        assert 0 <= r["q_l1"] <= 127 * 64
        assert r["max_abs_err"] <= r["scale"] / 254 + 1e-9
    # deterministic across physical layouts
    a = sorted(map(tuple, rows))
    b = sorted(map(tuple, quantize_embeddings_stats(emb.repartition(7)).collect()))
    assert a == b
    # zero vector: scale 0, all codes 0
    z = spark.createDataFrame(
        [(1, [0.0] * 4), (2, [0.0, 2.0, -4.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    zr = {r["vec_id"]: r for r in quantize_embeddings_stats(z).collect()}
    assert zr[1]["scale"] == 0.0 and zr[1]["q_l1"] == 0 and zr[1]["max_abs_err"] == 0.0
    assert zr[2]["scale"] == 4.0 and zr[2]["q_l1"] == 0 + 64 + 127 + 32


@pytest.mark.slow
def test_semantic_dedup_dominance_rule(spark):
    """Near-identical vectors are dropped toward the smallest id in
    their cluster; dissimilar vectors survive. 64-dim fixture built so
    cluster structure is unambiguous."""
    import math

    from bunsen_spark.operators.similarity import semantic_dedup

    def unit(axis):
        v = [0.0] * 64
        v[axis] = 1.0
        return v

    def near(axis, eps):
        v = unit(axis)
        v[(axis + 1) % 64] = eps
        n = math.sqrt(1 + eps * eps)
        return [x / n for x in v]

    rows = [
        (0, unit(0)), (1, near(0, 0.05)), (2, near(0, 0.1)),  # dup group A
        (10, unit(7)), (11, near(7, 0.08)),                   # dup group B
        (20, unit(30)),                                       # singleton
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: (r["keep_id"], r["n_dupes"])
        for r in semantic_dedup(emb, threshold=0.95, n_centroids=3, n_iters=2).collect()
    }
    # every dropped vector points at the smallest id of its dup group
    assert out[1] == (0, 1) and out[2][0] == 0
    assert out[11] == (10, 1)
    # group representatives and the singleton are never dropped
    assert 0 not in out and 10 not in out and 20 not in out


@pytest.mark.slow
def test_pq_codes_and_recall(spark, sf_dir):
    """PQ invariants: every vector gets exactly one code per subspace,
    codes index real codewords, and ADC top-k overlaps exact top-k far
    above chance (compression sanity, not exactness — ADC is lossy)."""
    from bunsen_spark.operators.similarity import (
        PQ_SUBS,
        brute_force_topk,
        pq_codebooks,
        pq_encode,
        pq_topk,
    )

    emb = _emb(spark, sf_dir)
    n = emb.count()
    books = pq_codebooks(emb)
    codes = pq_encode(emb, books)
    assert codes.count() == n * PQ_SUBS
    per_vec = codes.groupBy("vec_id").count().select("count").distinct().collect()
    assert [r["count"] for r in per_vec] == [PQ_SUBS]
    valid = {(r["sub"], r["cid"]) for r in books.select("sub", "cid").collect()}
    for r in codes.select("sub", "code").distinct().collect():
        assert (r["sub"], r["code"]) in valid

    k = 10
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, k=k, num_queries=8).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk(emb, k=k, num_queries=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    # chance overlap is ~k/n = 0.02 on the 500-vector fixture; the
    # fixture's vectors are RANDOM (no cluster structure), the worst
    # case for PQ, where ~0.2 recall at 8x compression is the expected
    # regime — require 5x above chance, not production-recall numbers
    assert recall > 0.1, recall

    # determinism across physical layouts
    a = sorted(map(tuple, pq_topk(emb, k=5, num_queries=8).collect()))
    b = sorted(map(tuple, pq_topk(emb.repartition(7), k=5, num_queries=8).collect()))
    assert a == b


@pytest.mark.slow
def test_ivfpq_candidates_come_from_probed_cells(spark, sf_dir):
    """IVF-PQ results are consistent with its contract: deterministic
    across layouts, self never returned, exactly k rows per query, and
    recall above chance despite the double approximation."""
    from bunsen_spark.operators.similarity import brute_force_topk, ivfpq_topk

    emb = _emb(spark, sf_dir)
    out = ivfpq_topk(emb, k=5, num_queries=8).collect()
    per_q = {}
    for r in out:
        assert r["neighbor_id"] != r["query_id"]
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in per_q.items():
        assert sorted(ranks) == [1, 2, 3, 4, 5], q

    a = sorted(map(tuple, out))
    b = sorted(map(tuple, ivfpq_topk(emb.repartition(5), k=5, num_queries=8).collect()))
    assert a == b

    k = 10
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, k=k, num_queries=8).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk(emb, k=k, num_queries=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall > 0.05, recall  # chance is ~0.02 on random vectors


#: The operators on the shared partition-local top-k scan.
_SCAN_OPS = [
    sim.brute_force_topk,
    sim.ivf_topk,
    sim.ivf_probe_sweep,
    sim.ivf_kmeans_topk,
    sim.lsh_topk,
    sim.jl_topk,
    sim.hamming_rerank_topk,
]


#: The members that carry ``label`` through the same scan: the kNN vote
#: and hard negatives (query rows vec_id < num_queries) and the label
#: centroids (one query per label, no ``num_queries``).
_LABEL_OPS = [sim.knn_label_vote, sim.hard_negative_mining, sim.label_centroid_topk]


def _kw(op, k: int = 5) -> dict:
    """``op``'s arguments in these tests: ``k``, and 8 query rows for
    the members that take ``num_queries``."""
    return {"k": k} if op is sim.label_centroid_topk else {"k": k, "num_queries": 8}


def _sorted(rows) -> list:
    """``rows`` as sorted tuples, a NULL (None) after every value."""
    return sorted((tuple(r) for r in rows), key=lambda r: tuple((x is None, x) for x in r))


@pytest.mark.parametrize("op", _SCAN_OPS, ids=lambda op: op.__name__)
def test_brute_force_topk_empty_query_set(spark, sf_dir, op):
    """No query rows returns an empty frame with the operator's output
    columns, from the driver, instead of failing inside the scan."""
    cols = {
        sim.ivf_probe_sweep: ["n_probe", "query_id", "neighbor_id", "rank"],
        sim.hamming_rerank_topk: ["query_id", "neighbor_id", "hamming", "rank"],
    }.get(op, ["query_id", "neighbor_id", "rank"])
    out = op(_emb(spark, sf_dir), k=5, num_queries=0)
    assert out.columns == cols
    assert out.collect() == []


def _twin(path, op, **kw):
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    return _sorted(con.execute(getattr(sim, f"{op.__name__}_sql")(**kw)).fetchall())


def _corpus_path(tmp_path_factory, name: str, vecs, elem: str = "float32", labels=None) -> str:
    """Parquet path of ``vecs`` as (vec_id, embedding array<elem>, label
    int), ``elem`` a pyarrow type name (float32 is Spark's float), the
    labels ``vec_id % 3`` unless given."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path_factory.mktemp(name) / "embeddings.parquet")
    table = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(getattr(pa, elem)())),
            "label": pa.array([i % 3 for i in range(len(vecs))] if labels is None else labels, pa.int32()),
        }
    )
    pq.write_table(table, path)
    return path


def _zero_vector_vecs():
    """200 random 64-d vectors, vector 150 all zeros."""
    import random

    rng = random.Random(7)
    return [
        [0.0] * 64 if i == 150 else [rng.uniform(-1, 1) for _ in range(64)]
        for i in range(200)
    ]


@pytest.fixture(scope="module")
def zero_vector_corpus(tmp_path_factory):
    """Parquet path of :func:`_zero_vector_vecs` as floats."""
    return _corpus_path(tmp_path_factory, "zero_vec", _zero_vector_vecs())


@pytest.fixture(scope="module")
def zero_vector_corpus_f64(tmp_path_factory):
    """Parquet path of :func:`_zero_vector_vecs` as doubles."""
    return _corpus_path(tmp_path_factory, "zero_vec_f64", _zero_vector_vecs(), "float64")


@pytest.mark.parametrize("op", _SCAN_OPS + _LABEL_OPS, ids=lambda op: op.__name__)
def test_zero_norm_vector_independent_of_partitioning(spark, zero_vector_corpus, op):
    """A zero-norm vector's cosine (0/0) ranks as -1.0, DuckDB's
    ``list_cosine_similarity`` value (a label centroid's unbounded score
    of it: last, the twin's NULL), so the result does not depend on how
    the corpus is partitioned, and matches the DuckDB twin."""
    path = zero_vector_corpus
    emb = spark.read.parquet(path)
    one = _sorted(op(emb.repartition(1), **_kw(op)).collect())
    many = _sorted(op(emb.repartition(64), **_kw(op)).collect())
    assert one == many
    if hasattr(sim, f"{op.__name__}_sql"):
        assert one == _twin(path, op, **_kw(op))


@pytest.mark.parametrize("op", _SCAN_OPS, ids=lambda op: op.__name__)
def test_zero_query_vector_matches_twin(spark, tmp_path_factory, op):
    """A zero query vector's cosines are 0/0, -1.0 as in DuckDB: every
    IVF cell ties, so the probes are the lowest cids (the seeded and
    trained IVF raised ZeroDivisionError building the probe lists) —
    the same rows from 1 and 64 input partitions, equal to the twin."""
    vecs = _zero_vector_vecs()
    vecs[3] = [0.0] * 64
    path = _corpus_path(tmp_path_factory, "zero_query", vecs)
    emb = spark.read.parquet(path)
    one = _sorted(op(emb.repartition(1), **_kw(op)).collect())
    many = _sorted(op(emb.repartition(64), **_kw(op)).collect())
    assert one == many and any(r[0] == 3 or r[1] == 3 for r in one)
    if hasattr(sim, f"{op.__name__}_sql"):
        assert one == _twin(path, op, **_kw(op))


def _null_labels():
    """Labels ``vec_id % 3`` for :func:`_zero_vector_vecs`, NULL for
    every odd vec_id."""
    return [None if i % 2 else i % 3 for i in range(200)]


@pytest.fixture(scope="module")
def null_label_corpus(tmp_path_factory):
    """Parquet path of :func:`_zero_vector_vecs` with the labels of
    :func:`_null_labels`."""
    return _corpus_path(tmp_path_factory, "null_label", _zero_vector_vecs(), labels=_null_labels())


@pytest.mark.parametrize("op", _LABEL_OPS, ids=lambda op: op.__name__)
def test_null_labels_match_twin(spark, null_label_corpus, op):
    """A NULL label is a label of its own: the kNN vote breaks a tie on
    the smaller label with NULL last (query 4's two NULL and two
    label-1 neighbours vote 1, as the twin's ``label ASC`` does), a hard
    negative never has or faces a NULL label, and the NULL label has a
    centroid — from 1 or 64 input partitions, equal to the DuckDB twin."""
    emb = spark.read.parquet(null_label_corpus)
    one = _sorted(op(emb.repartition(1), **_kw(op)).collect())
    many = _sorted(op(emb.repartition(64), **_kw(op)).collect())
    assert one == many == _twin(null_label_corpus, op, **_kw(op))
    if op is sim.knn_label_vote:
        assert (4, 1, 1, 2, 1) in one


def test_label_centroid_ranks_zero_row_last(spark, scatter_gather):
    """A zero vector's centroid score is ``0 / sqrt(0)``: no score (the
    twin's NULL, where Spark's former division raised), ranked after
    every real score, even a negative one — under both placements."""
    from bunsen_spark.localrel import values_df

    rows = [(0, [1.0, 0.5], 7), (1, [0.0, 0.0], 7), (2, [-0.25, 1.0], 7), (3, [-1.0, -1.0], 8)]
    emb = values_df(spark, rows, "vec_id long, embedding array<double>, label int")
    want = [
        (7, 0, 1, True), (7, 1, 4, True), (7, 2, 2, True), (7, 3, 3, False),
        (8, 0, 3, False), (8, 1, 4, False), (8, 2, 2, False), (8, 3, 1, True),
    ]
    assert _rows(sim.label_centroid_topk(emb, k=5)) == want
    with scatter_gather():
        assert _rows(sim.label_centroid_topk(emb, k=5)) == want


@pytest.fixture(scope="module")
def tie_corpus(tmp_path_factory):
    """Parquet path of 200 64-d vectors drawn from 40 distinct ones, so
    most scores tie (each vector has 4 exact duplicates); vector 150
    is all zeros."""
    import random

    rng = random.Random(11)
    base = [[rng.choice((-1.0, -0.5, 0.0, 0.5, 1.0)) for _ in range(64)] for _ in range(40)]
    vecs = [[0.0] * 64 if i == 150 else base[(i * 7) % 40] for i in range(200)]
    return _corpus_path(tmp_path_factory, "tie_vec", vecs)


@pytest.mark.parametrize("k", [3, 250], ids=["k3", "k_over_candidates"])
@pytest.mark.parametrize("op", _SCAN_OPS + _LABEL_OPS, ids=lambda op: op.__name__)
def test_driver_merge_parity_on_ties(spark, tie_corpus, op, k):
    """The driver-side merge keeps the former window's order on a corpus
    where most scores tie: ties break by neighbor_id, the zero vector
    ranks at -1.0 (last, for a label centroid), and a ``k`` above the
    candidate count ranks every candidate — the same rows from 1 and 64
    input partitions, equal to the DuckDB twin (each sweep level: to
    standalone ``ivf_topk``)."""
    emb = spark.read.parquet(tie_corpus)
    one = _sorted(op(emb.repartition(1), **_kw(op, k)).collect())
    many = _sorted(op(emb.repartition(64), **_kw(op, k)).collect())
    assert one == many
    if op is sim.ivf_probe_sweep:
        for p in (1, 2, 4):
            level = sorted(r[1:] for r in one if r[0] == p)
            assert level == sorted(map(tuple, ivf_topk(emb, k=k, num_queries=8, n_probe=p).collect()))
            assert level == _twin(tie_corpus, ivf_topk, k=k, num_queries=8, n_probe=p)
    else:
        assert one == _twin(tie_corpus, op, **_kw(op, k))


def test_rank_topk_matches_row_number_window(spark):
    """``_rank_topk``'s numpy merge numbers rows exactly as the
    ``row_number`` window it replaces — score DESC (ASC when not
    ``largest``) then neighbor_id ASC, ±0.0 tying — including queries
    with fewer than ``k`` rows."""
    import random

    import pyarrow as pa
    from pyspark.sql import Window

    rng = random.Random(5)
    n = 400
    t = pa.table(
        {
            "query_id": pa.array([rng.randrange(9) for _ in range(n)], pa.int64()),
            "neighbor_id": pa.array(rng.sample(range(10_000), n), pa.int64()),
            "sim": pa.array([rng.choice((0.0, -0.0, 0.25, -1.0, 0.5)) for _ in range(n)]),
        }
    )
    df = spark.createDataFrame(t.to_pylist(), "query_id long, neighbor_id long, sim double")
    for k, largest in ((3, True), (7, False), (500, True)):
        got = sim._rank_topk(t, k, largest=largest).to_pylist()
        order = F.desc("sim") if largest else F.asc("sim")
        w = Window.partitionBy("query_id").orderBy(order, F.asc("neighbor_id"))
        want = [
            r.asDict()
            for r in df.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k).collect()
        ]
        key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
        assert sorted(got, key=key) == sorted(want, key=key)


def test_seq_dots_bit_identical_to_outer_product_loop():
    """The transposed, preallocated ``_seq_dots`` yields the former
    ``acc += outer(a[:, d], b[:, d])`` loop bit for bit on non-integral
    inputs (the same products, accumulated in the same order), and the
    pairwise ``_pair_dots`` yields ``_seq_dots``' cells bit for bit, for
    every pair and for a subset of pairs in any order."""
    import numpy as np

    def outer_loop(a, b):
        acc = np.zeros((a.shape[0], b.shape[0]), dtype=np.float64)
        for d in range(a.shape[1]):
            acc += np.multiply.outer(a[:, d], b[:, d])
        return acc

    rng = np.random.default_rng(3)
    for (m, n, d) in ((32, 500, 64), (200, 16, 64), (7, 1, 64), (1, 9, 3), (0, 5, 4)):
        a = rng.uniform(-1, 1, (m, d)) * rng.lognormal(size=(m, 1))
        b = rng.uniform(-1, 1, (n, d)) / 3.0
        got, want = sim._seq_dots(a, b), outer_loop(a, b)
        assert got.shape == want.shape
        assert np.array_equal(got.view(np.int64), want.view(np.int64))
        ai, bi = np.nonzero(np.ones((m, n), dtype=bool))
        pairs = sim._pair_dots(a, b, ai, bi)
        assert np.array_equal(pairs.view(np.int64), got[ai, bi].view(np.int64))
        some = rng.permutation(len(ai))[: len(ai) // 3]
        pairs = sim._pair_dots(a, b, ai[some], bi[some])
        assert np.array_equal(pairs.view(np.int64), got[ai[some], bi[some]].view(np.int64))


def test_topk_sel_matches_full_lexsort():
    """The partition-first ``_topk_sel`` picks the positions of the full
    (key, id) lexsort: ties at the k-th key, ±0.0 (equal keys), both
    directions, integer scores, and inputs of at most ``k`` rows."""
    import numpy as np

    def full(ids, sims, k, largest):
        return np.lexsort((ids, -sims if largest else sims))[:k]

    rng = np.random.default_rng(9)
    for n in (0, 1, 4, 5, 6, 50, 400):
        ids = rng.permutation(10 * n + 1)[:n].astype(np.int64)
        cases = [
            rng.choice([0.0, -0.0, 0.5, -0.5, 1.0, -1.0], n),
            rng.uniform(-1, 1, n),
            rng.integers(0, 4, n).astype(np.int64),
        ]
        for sims in cases:
            for k in (1, 3, 5, 10):
                for largest in (True, False):
                    got = sim._topk_sel(ids, sims, k, largest)
                    assert np.array_equal(got, full(ids, sims, k, largest)), (n, k, largest)


@pytest.fixture(scope="module")
def tiny_corpora(tmp_path_factory):
    """Parquet paths of a one-row and a two-row 64-d corpus."""
    import random

    rng = random.Random(13)
    vecs = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(2)]
    return {n: _corpus_path(tmp_path_factory, f"rows{n}", vecs[:n]) for n in (1, 2)}


def _direct(df) -> bool:
    """Whether :func:`_bcast.gather` reads ``df`` from its Parquet
    files (no job) rather than with ``toArrow()``."""
    from bunsen_spark.operators._bcast import _parquet_columns

    return _parquet_columns(df) is not None


def _rows(df) -> list:
    return _sorted(df.collect())


@pytest.mark.parametrize(
    "corpus", ["tie", "zero_norm", "zero_norm_f64", "one_row", "two_rows", "null_label"]
)
@pytest.mark.parametrize("op", _SCAN_OPS + _LABEL_OPS, ids=lambda op: op.__name__)
def test_placement_parity(
    spark,
    scatter_gather,
    tie_corpus,
    zero_vector_corpus,
    zero_vector_corpus_f64,
    tiny_corpora,
    null_label_corpus,
    op,
    corpus,
):
    """Every ``_topk_scan`` member returns identical rows whether the
    corpus is gathered and scanned on the driver — read from its
    Parquet files, labels included, or gathered by Spark — or scanned
    in partitions and merged: on ties, a zero-norm vector stored as
    float and as double, corpora of one row (the query is its only row)
    and two rows, and NULL labels."""
    path = {
        "tie": tie_corpus,
        "zero_norm": zero_vector_corpus,
        "zero_norm_f64": zero_vector_corpus_f64,
        "one_row": tiny_corpora[1],
        "two_rows": tiny_corpora[2],
        "null_label": null_label_corpus,
    }[corpus]
    emb = spark.read.parquet(path)
    scan = sim._corpus(emb, "label")
    assert gathers(scan, sim.GATHER_MAX_BYTES)
    assert _direct(scan)
    direct = _rows(op(emb, **_kw(op)))
    spread = emb.repartition(3)
    assert gathers(sim._corpus(spread, "label"), sim.GATHER_MAX_BYTES)
    assert not _direct(sim._corpus(spread, "label"))
    gathered = _rows(op(spread, **_kw(op)))
    with scatter_gather():
        assert not gathers(scan, sim.GATHER_MAX_BYTES)
        scatter = _rows(op(spread, **_kw(op)))
    assert direct == gathered == scatter
    if corpus in ("tie", "zero_norm", "zero_norm_f64", "null_label"):
        assert direct


#: The members whose scan input is the default :func:`_corpus`, and the
#: Spark jobs each runs besides the gather: none, since the seeded IVF
#: picks its centroids from the gathered table.
_DEFAULT_SCAN_JOBS = {
    sim.brute_force_topk: 0,
    sim.ivf_topk: 0,
    sim.ivf_probe_sweep: 0,
    sim.lsh_topk: 0,
    sim.hamming_rerank_topk: 0,
}


@pytest.mark.parametrize("stored", ["float32", "float64"])
@pytest.mark.parametrize("op", list(_DEFAULT_SCAN_JOBS), ids=lambda op: op.__name__)
def test_parquet_corpus_gathers_without_a_job(spark, count_jobs, tmp_path_factory, op, stored):
    """A broadcast-sized Parquet corpus of floats or doubles is read on
    the driver from its files: the search runs no gather job, and gives
    the rows of the same corpus gathered by Spark (one more job)."""
    vecs = _zero_vector_vecs()
    emb = spark.read.parquet(_corpus_path(tmp_path_factory, f"direct_{stored}", vecs, stored))
    direct, jobs = count_jobs(lambda: _rows(op(emb, k=5, num_queries=8)))
    assert jobs == _DEFAULT_SCAN_JOBS[op]
    filtered = emb.where(F.col("vec_id") >= 0)
    gathered, spark_jobs = count_jobs(lambda: _rows(op(filtered, k=5, num_queries=8)))
    assert spark_jobs == jobs + 1
    assert direct == gathered and direct


@pytest.mark.parametrize("stored", ["float32", "float64"])
def test_gather_reads_the_cast_corpus_from_files(spark, count_jobs, tmp_path_factory, stored):
    """``_bcast.gather`` of the scan input itself — ``_corpus``, whose
    ``v`` is ``embedding`` cast to ``array<double>`` — reads a float or
    double Parquet corpus from its files with no job, and its table is
    ``toArrow()`` of the same frame bit for bit: the widened floats,
    zero vectors and -0.0 included."""
    import numpy as np

    from bunsen_spark.operators._bcast import gather

    vecs = _zero_vector_vecs()
    vecs[7] = [-0.0] * 64
    vecs[9] = [-0.0 if d % 2 else 0.0 for d in range(64)]
    emb = spark.read.parquet(_corpus_path(tmp_path_factory, f"cast_{stored}", vecs, stored))
    scan = sim._corpus(emb, "label")
    assert _direct(scan)
    got, jobs = count_jobs(lambda: gather(scan))
    assert jobs == 0
    want = scan.toArrow()
    assert got.schema == want.schema
    got, want = (t.sort_by("vec_id").combine_chunks() for t in (got, want))
    bits = lambda t: np.asarray(t["v"].combine_chunks().flatten()).view(np.int64)  # noqa: E731
    assert np.array_equal(bits(got), bits(want))
    assert got.equals(want)


@pytest.mark.parametrize(
    "cast",
    ["int_elements", "to_array_float", "to_array_int", "to_string", "scalar_column"],
)
def test_gather_takes_spark_for_other_casts(spark, count_jobs, tmp_path_factory, cast):
    """Only a float or double array widened to ``array<double>`` is read
    from the files: a cast from integer elements, to ``array<float>``,
    ``array<int>`` or ``string``, or of a scalar column is gathered by
    Spark — one job, the rows of ``toArrow()``."""
    from bunsen_spark.operators._bcast import gather

    vecs = _zero_vector_vecs()
    if cast == "int_elements":
        vecs = [[round(x * 8) for x in v] for v in vecs]
    elem = {"int_elements": "int32", "to_array_float": "float64"}.get(cast, "float32")
    emb = spark.read.parquet(_corpus_path(tmp_path_factory, f"other_cast_{cast}", vecs, elem))
    v = {
        "to_array_float": F.col("embedding").cast("array<float>"),
        "to_array_int": F.col("embedding").cast("array<int>"),
        "to_string": F.col("embedding").cast("string"),
    }.get(cast, F.col("embedding").cast("array<double>"))
    label = F.col("label").cast("long") if cast == "scalar_column" else F.col("label")
    frame = emb.select("vec_id", v.alias("v"), label.alias("label"))
    assert not _direct(frame)
    got, jobs = count_jobs(lambda: gather(frame))
    assert jobs == 1
    assert got.sort_by("vec_id").equals(frame.toArrow().sort_by("vec_id"))


def _rescore_vecs():
    """24 64-d double vectors: 8 queries (vec_id 0-7), each followed by
    two neighbours (8 + 2j, 9 + 2j) whose true cosines to it are equal —
    the second is the first with its coordinates permuted among the
    positions where the query's coordinates are equal (each query takes
    4 distinct values), so both dots sum the same products in different
    orders and their computed values differ only by rounding. Seed 252
    is the one of seeds 0-299 where numpy's ``einsum`` order and the
    strict left-to-right order rank all 8 pairs oppositely (numpy 1.26
    on x86-64): a screen whose fast scores reached the output would
    swap them."""
    import random

    rng = random.Random(252)
    queries, pairs = [], []
    for _ in range(8):
        levels = [rng.uniform(-1, 1) for _ in range(4)]
        q = [rng.choice(levels) for _ in range(64)]
        a = [x + rng.gauss(0.0, 0.1) for x in q]
        b = list(a)
        for level in levels:
            idx = [d for d in range(64) if q[d] == level]
            perm = idx[:]
            rng.shuffle(perm)
            for src, dst in zip(idx, perm):
                b[dst] = a[src]
        queries.append(q)
        pairs += [a, b]
    return queries + pairs


#: :func:`_rescore_vecs`' top-3 neighbours of each query by the strict
#: left-to-right cosine (the ``aggregate(zip_with)`` value), ties by id.
_RESCORE_TOP3 = [
    (9, 8, 21), (11, 10, 21), (12, 13, 10), (15, 14, 20),
    (17, 16, 21), (19, 18, 17), (21, 20, 1), (23, 22, 6),
]


def test_brute_force_rescores_screened_rows_exactly(spark, scatter_gather, tmp_path_factory):
    """On a corpus whose neighbour pairs tie up to rounding, the
    screened ``brute_force_topk`` returns the strict-order rows — those
    of Spark's own ``aggregate(zip_with)`` cosine window — read from the
    Parquet files, gathered by Spark and scattered alike: the fast
    ``einsum`` scores only choose which rows are rescored."""
    import numpy as np
    from pyspark.sql import Window

    vecs = _rescore_vecs()
    mat = np.asarray(vecs)
    assert sim._screenable(mat, sim._seq_norms(mat))
    emb = spark.read.parquet(_corpus_path(tmp_path_factory, "rescore", vecs, "float64"))
    want = sorted((q, n, r + 1) for q, top in enumerate(_RESCORE_TOP3) for r, n in enumerate(top))
    c = sim._with_norm(emb).alias("c")
    q = sim._with_norm(emb).where(F.col("vec_id") < 8).alias("q")
    cos = sim._dot(F.col("q.v"), F.col("c.v")) / (F.col("q.norm") * F.col("c.norm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    spark_rows = (
        q.join(c, F.col("q.vec_id") != F.col("c.vec_id"))
        .select(F.col("q.vec_id").alias("query_id"), F.col("c.vec_id").alias("neighbor_id"), cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .where("rank <= 3")
        .drop("cos")
    )
    assert _rows(spark_rows) == want
    assert _rows(sim.brute_force_topk(emb, k=3, num_queries=8)) == want
    assert _rows(sim.brute_force_topk(emb.repartition(3), k=3, num_queries=8)) == want
    with scatter_gather():
        assert _rows(sim.brute_force_topk(emb.repartition(3), k=3, num_queries=8)) == want


@pytest.mark.parametrize(
    "op",
    [sim.ivf_topk, sim.ivf_probe_sweep, sim.jl_topk, *_LABEL_OPS],
    ids=lambda op: op.__name__,
)
def test_parquet_search_runs_no_job(spark, count_jobs, zero_vector_corpus, op):
    """On a broadcast-sized Parquet corpus the seeded IVF and its probe
    sweep pick their centroids, JL builds its lattice, and the label
    members read, vote on and sum their labels on the driver: no job
    (trained IVF: test_plans.py, only its training's jobs)."""
    emb = spark.read.parquet(zero_vector_corpus)
    rows, jobs = count_jobs(lambda: _rows(op(emb, **_kw(op))))
    assert jobs == 0 and rows


def test_round_half_up_matches_spark_round(spark):
    """The array ``_round_half_up`` gives Spark's ``round(x, 0)`` on
    doubles bit for bit: halves away from zero, the doubles next to a
    half (0.49999999999999994 is not a half), the last binades with a
    fraction, -0.0, subnormals, huge values, ±inf and NaN — and the
    lattice values ``x * 1000`` of float32 inputs."""
    import math
    import random
    import struct

    import numpy as np

    from bunsen_spark.localrel import values_df

    edges = [0.5, 1.5, 2.5, 999.5, 0.49999999999999994, 0.5000000000000001, 1.4999999999999998]
    edges += [2.0**52 - 0.5, 2.0**51 + 0.5, 2.0**52 + 1, 2.0**53, 1e300, 5e-324, 0.3, 0.0, math.inf]
    rng = random.Random(3)
    lattice = [float(np.float32(rng.uniform(-1, 1))) * 1000.0 for _ in range(200)]
    xs = edges + [-x for x in edges] + lattice + [math.nan]
    df = values_df(spark, [(i, x) for i, x in enumerate(xs)], "i long, x double")
    want = [r.r for r in df.select("i", F.round("x", 0).alias("r")).orderBy("i").collect()]
    got = sim._round_half_up(np.asarray(xs, dtype=np.float64))
    bits = lambda x: struct.pack("<d", x)  # noqa: E731
    assert [bits(x) for x in got[:-1]] == [bits(x) for x in want[:-1]]
    assert math.isnan(got[-1]) and math.isnan(want[-1])
    assert [sim._round_half_up(x) for x in (0.5, -0.5, 0.49999999999999994)] == [1.0, -1.0, 0.0]


@pytest.fixture(scope="module")
def ineligible_corpora(spark, tmp_path_factory):
    """Broadcast-sized corpora that ``_bcast.gather`` must not read from
    files — a partitioned Parquet directory, a filtered frame, a JSON
    source, an integer-element Parquet corpus and a LocalRelation — each
    with its (vec_id, embedding) rows."""
    from bunsen_spark.localrel import values_df

    vecs = [[round(x * 8) for x in v] for v in _zero_vector_vecs()]
    ints = spark.read.parquet(_corpus_path(tmp_path_factory, "int_elems", vecs, "int32"))
    floats = spark.read.parquet(_corpus_path(tmp_path_factory, "ineligible", _zero_vector_vecs()))
    root = tmp_path_factory.mktemp("ineligible_out")
    floats.withColumn("part", F.col("vec_id") % 2).write.partitionBy("part").parquet(str(root / "parted"))
    floats.write.json(str(root / "json"))
    return {
        "partitioned": spark.read.parquet(str(root / "parted")).drop("part"),
        "filtered": floats.where(F.col("vec_id") >= 0),
        "json": spark.read.schema(floats.schema).json(str(root / "json")),
        "int_elements": ints,
        "local_relation": values_df(
            spark, list(enumerate(_zero_vector_vecs())), "vec_id long, embedding array<double>"
        ),
    }


@pytest.mark.parametrize(
    "corpus", ["partitioned", "filtered", "json", "int_elements", "local_relation"]
)
def test_ineligible_corpus_takes_spark_gather(spark, count_jobs, scatter_gather, ineligible_corpora, corpus):
    """A corpus whose plan is not only columns of plain local Parquet
    files, or whose elements are not float or double, is gathered by
    Spark: the search runs its one ``toArrow()`` job, with the rows of
    scatter-gather."""
    emb = ineligible_corpora[corpus]
    assert gathers(sim._corpus(emb), sim.GATHER_MAX_BYTES)
    assert not _direct(sim._corpus(emb))
    gathered, jobs = count_jobs(lambda: _rows(sim.brute_force_topk(emb, k=5, num_queries=8)))
    assert jobs == 1
    with scatter_gather():
        scatter = _rows(sim.brute_force_topk(emb, k=5, num_queries=8))
    assert gathered == scatter and gathered


@pytest.mark.parametrize("op", _SCAN_OPS, ids=lambda op: op.__name__)
def test_placement_parity_no_queries(spark, scatter_gather, sf_dir, op):
    """``num_queries=0`` gives the same empty frame, with the same
    columns, under both placements."""
    emb = _emb(spark, sf_dir)
    gathered = op(emb, k=5, num_queries=0)
    with scatter_gather():
        scatter = op(emb, k=5, num_queries=0)
        assert scatter.collect() == []
    assert gathered.columns == scatter.columns
    assert gathered.collect() == []


def test_gathers_rule(spark, sf_dir):
    """A corpus is gathered only when its plan has a real size estimate
    within both the auto-broadcast threshold and the caller's cap."""
    from bunsen_spark.operators._bcast import plan_size_bytes

    key = "spark.sql.autoBroadcastJoinThreshold"
    corpus = sim._corpus(_emb(spark, sf_dir))
    size = plan_size_bytes(corpus)
    rdd_backed = spark.createDataFrame(
        spark.sparkContext.parallelize([(0, [1.0])]), "vec_id long, embedding array<float>"
    )
    assert gathers(corpus, sim.GATHER_MAX_BYTES)
    assert not gathers(sim._corpus(rdd_backed))
    before = spark.conf.get(key)
    try:
        for limit, want in ((size, True), (size - 1, False), (0, False)):
            spark.conf.set(key, str(limit))
            assert gathers(corpus) is want
            assert gathers(corpus, 1 << 40) is want
        spark.conf.set(key, str(1 << 40))
        for cap, want in ((size, True), (size - 1, False), (0, False), (None, True)):
            assert gathers(corpus, cap) is want
    finally:
        spark.conf.set(key, before)


def test_gather_checks_every_file(spark, count_jobs, tmp_path):
    """A Parquet directory whose files disagree with Spark's schema — one
    stores ``vec_id`` as int32, which Spark reads as a long — is
    gathered by Spark, not read from its files: one job, and the rows
    of ``toArrow()``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bunsen_spark.operators._bcast import gather

    vecs = _zero_vector_vecs()
    for part, (ids, typ) in enumerate(((range(0, 100), pa.int64()), (range(100, 200), pa.int32()))):
        table = pa.table(
            {
                "vec_id": pa.array(ids, typ),
                "embedding": pa.array([vecs[i] for i in ids], pa.list_(pa.float32())),
            }
        )
        pq.write_table(table, str(tmp_path / f"part-{part}.parquet"))
    emb = spark.read.schema("vec_id long, embedding array<float>").parquet(str(tmp_path))
    assert _direct(emb)
    got, jobs = count_jobs(lambda: gather(emb))
    assert jobs == 1
    key = lambda r: r["vec_id"]  # noqa: E731
    assert sorted(got.to_pylist(), key=key) == sorted(emb.toArrow().to_pylist(), key=key)


def test_gather_needs_columns_matched_by_name(spark, zero_vector_corpus):
    """Spark reading Parquet columns by field id rather than by name is
    a read the files alone cannot reproduce: such a corpus is gathered
    by Spark."""
    key = "spark.sql.parquet.fieldId.read.enabled"
    emb = spark.read.parquet(zero_vector_corpus)
    assert _direct(emb)
    spark.conf.set(key, "true")
    try:
        assert not _direct(emb)
    finally:
        spark.conf.unset(key)


@pytest.mark.parametrize("cap_offset,jobs", [(0, 0), (-1, 2)])
def test_search_obeys_gather_max_bytes(spark, count_jobs, sf_dir, monkeypatch, cap_offset, jobs):
    """The searches place their scan by ``sim.GATHER_MAX_BYTES``: with
    the cap at the corpus's plan size it is gathered (read from its
    Parquet file: no job), one byte below it the search scatters (the
    query collect, then the scan)."""
    from bunsen_spark.operators._bcast import plan_size_bytes

    emb = _emb(spark, sf_dir)
    monkeypatch.setattr(sim, "GATHER_MAX_BYTES", plan_size_bytes(sim._corpus(emb)) + cap_offset)
    assert count_jobs(lambda: sim.brute_force_topk(emb, k=5, num_queries=8))[1] == jobs


def _count_opens(monkeypatch) -> list:
    """A list that gains an entry each time a Parquet file is opened
    with ``pyarrow.parquet.ParquetFile``."""
    import pyarrow.parquet as pq

    opened = []
    real = pq.ParquetFile

    def counted(path, *args, **kwargs):
        opened.append(path)
        return real(path, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", counted)
    return opened


def test_repeat_search_reuses_the_scan_and_the_read(spark, count_py4j, zero_vector_corpus, monkeypatch):
    """A second search of one frame reuses its scan frame, plan walk and
    gathered table: at most 70 py4j round trips (~150 when each search
    built, planned and walked its own frame) and no Parquet file opened,
    with the first search's rows."""
    emb = spark.read.parquet(zero_vector_corpus)
    first = _rows(sim.brute_force_topk(emb, k=5, num_queries=8))
    opened = _count_opens(monkeypatch)
    top, calls = count_py4j(lambda: sim.brute_force_topk(emb, k=5, num_queries=8))
    assert calls <= 70
    assert opened == []
    assert _rows(top) == first


def _write_vecs(path: str, vecs) -> None:
    """``vecs`` as one Parquet file (vec_id long, embedding array<float>)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
        }
    )
    pq.write_table(table, path)


def test_rewritten_file_is_read_again(spark, tmp_path):
    """A Parquet file rewritten in place with new vectors (and a later
    mtime) is read again: a repeat search of the old frame gives the
    rows of a fresh ``spark.read`` of the new file."""
    import os
    import random

    vecs = _zero_vector_vecs()
    path = str(tmp_path / "embeddings.parquet")
    _write_vecs(path, vecs)
    emb = spark.read.parquet(path)
    before = _rows(sim.brute_force_topk(emb, k=5, num_queries=8))
    rng = random.Random(11)
    _write_vecs(path, [[rng.uniform(-1, 1) for _ in range(64)] for _ in vecs])
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    after = _rows(sim.brute_force_topk(emb, k=5, num_queries=8))
    assert after == _rows(sim.brute_force_topk(spark.read.parquet(path), k=5, num_queries=8))
    assert after != before


def test_repeat_search_reads_the_threshold(spark, count_jobs, scatter_gather, zero_vector_corpus):
    """The placement is decided on every search: with broadcasts turned
    off between two searches of one frame, the second scatters (the
    query collect, then the scan) and gives the same rows."""
    emb = spark.read.parquet(zero_vector_corpus)
    gathered, jobs = count_jobs(lambda: _rows(sim.brute_force_topk(emb, k=5, num_queries=8)))
    assert jobs == 0
    with scatter_gather():
        scattered, jobs = count_jobs(lambda: _rows(sim.brute_force_topk(emb, k=5, num_queries=8)))
    assert jobs == 2
    assert scattered == gathered


def test_memos_go_with_the_frame(spark, zero_vector_corpus):
    """The scan frame, its plan walk and its gathered table live only as
    long as the input frame."""
    import gc
    import weakref

    from bunsen_spark.operators import _bcast

    emb = spark.read.parquet(zero_vector_corpus)
    sim.brute_force_topk(emb, k=5, num_queries=8)
    scan = weakref.ref(sim._corpus(emb))
    assert scan() in _bcast._PARQUET_FACTS and _bcast._last.frame() is scan()
    scans = len(sim._SCANS)
    del emb
    gc.collect()
    assert scan() is None
    assert len(sim._SCANS) == scans - 1
    assert _bcast._last is None


def test_cache_after_search_gets_a_fresh_scan(spark, zero_vector_corpus):
    """``cache()`` after a search gives the next search a scan frame
    planned over the cached data, with the same rows; ``unpersist()``
    gives the first frame back."""
    emb = spark.read.parquet(zero_vector_corpus)
    rows = _rows(sim.brute_force_topk(emb, k=5, num_queries=8))
    scan = sim._corpus(emb)
    emb.cache()
    try:
        assert _rows(sim.brute_force_topk(emb, k=5, num_queries=8)) == rows
        cached = sim._corpus(emb)
        assert cached is not scan
        assert "InMemoryRelation" in cached._jdf.queryExecution().optimizedPlan().toString()
    finally:
        emb.unpersist()
    assert sim._corpus(emb) is scan


def _ragged_vecs(case: str):
    """20 random 4-d vectors, vector 5 NULL or 3 long, and in the
    ``null_beside_long`` case vector 6 8 long, so the lengths still sum
    to 20 × 4."""
    import random

    rng = random.Random(5)
    vecs = [[rng.uniform(-1, 1) for _ in range(4)] for _ in range(20)]
    if case == "short":
        vecs[5] = vecs[5][:3]
    else:
        vecs[5] = None
    if case == "null_beside_long":
        vecs[6] = vecs[6] * 2
    return vecs


@pytest.mark.parametrize("placement", ["parquet", "spark", "scattered"])
@pytest.mark.parametrize(
    "case,length", [("null_beside_long", "NULL"), ("null", "NULL"), ("short", "3")]
)
def test_ragged_corpus_raises(spark, scatter_gather, tmp_path_factory, case, length, placement):
    """A NULL vector, or one of another length than the queries', is an
    error naming its vec_id, its length and the dimension, wherever the
    scan runs — not a reshape that shifts every row after it."""
    from contextlib import nullcontext

    from pyspark.errors import PythonException

    emb = spark.read.parquet(_corpus_path(tmp_path_factory, f"ragged_{case}", _ragged_vecs(case)))
    if placement == "spark":
        emb = emb.where(F.col("vec_id") >= 0)
    error = PythonException if placement == "scattered" else ValueError
    with scatter_gather() if placement == "scattered" else nullcontext():
        with pytest.raises(error, match=f"vec_id 5: v has length {length}, expected 4"):
            sim.brute_force_topk(emb, k=3, num_queries=3).collect()


@pytest.mark.parametrize("placement", ["parquet", "scattered"])
@pytest.mark.parametrize("op", [sim.brute_force_topk, sim.ivf_topk], ids=lambda op: op.__name__)
def test_null_query_vector_raises(spark, scatter_gather, tmp_path_factory, op, placement):
    """A NULL query vector is an error naming its vec_id, the query
    matrix being read like the corpus batches, not numpy's
    inhomogeneous-shape error."""
    import random
    from contextlib import nullcontext

    rng = random.Random(5)
    vecs = [None if i == 1 else [rng.uniform(-1, 1) for _ in range(4)] for i in range(20)]
    emb = spark.read.parquet(_corpus_path(tmp_path_factory, "null_query", vecs))
    with scatter_gather() if placement == "scattered" else nullcontext():
        with pytest.raises(ValueError, match="vec_id 1: v has length NULL, expected 4"):
            op(emb, k=3, num_queries=3)


def _ivfpq_parts(spark, emb) -> list:
    """The IVF-PQ coarse codebook, residual books and codes of ``emb``
    as :func:`_ivfpq_train` builds them on its placed scan input."""
    return [
        frame.select(sorted(frame.columns))
        for frame in sim._ivfpq_train(spark, sim._scan_input(emb), 16, 8, 16, 2)
    ]


@pytest.mark.parametrize(
    "op",
    [
        "kmeans_codebook",
        "pq_codebooks",
        "ivfpq_coarse",
        "ivfpq_books",
        "ivfpq_codes",
        "pq_encode",
        "semantic_dedup",
        "cluster_label_purity",
    ],
)
def test_lloyd_placement_parity(spark, scatter_gather, zero_vector_corpus, op):
    """Every Lloyd codebook, code table and k-means consumer gives the
    same rows with the corpus gathered to the driver and scanned in
    partitions."""
    emb = spark.read.parquet(zero_vector_corpus)
    builds = {
        "kmeans_codebook": lambda: sim.kmeans_codebook(emb),
        "pq_codebooks": lambda: sim.pq_codebooks(emb),
        "ivfpq_coarse": lambda: _ivfpq_parts(spark, emb)[0],
        "ivfpq_books": lambda: _ivfpq_parts(spark, emb)[1],
        "ivfpq_codes": lambda: _ivfpq_parts(spark, emb)[2],
        "pq_encode": lambda: sim.pq_encode(emb, sim.pq_codebooks(emb)),
        "semantic_dedup": lambda: sim.semantic_dedup(emb, threshold=0.2),
        "cluster_label_purity": lambda: sim.cluster_label_purity(emb),
    }
    gathered = _rows(builds[op]())
    with scatter_gather():
        scattered = _rows(builds[op]())
    assert gathered == scattered and gathered


@pytest.mark.parametrize("op", ["kmeans_codebook", "pq_codebooks", "cluster_label_purity"])
def test_parquet_corpus_trains_without_a_job(spark, count_jobs, zero_vector_corpus, op):
    """A broadcast-sized Parquet corpus trains its codebooks and votes
    on the driver: no Spark job."""
    emb = spark.read.parquet(zero_vector_corpus)
    build = {
        "kmeans_codebook": lambda: sim.kmeans_codebook(emb),
        "pq_codebooks": lambda: sim.pq_codebooks(emb),
        "cluster_label_purity": lambda: sim.cluster_label_purity(emb),
    }[op]
    rows, jobs = count_jobs(lambda: _rows(build()))
    assert jobs == 0 and rows


@pytest.fixture(scope="module")
def empty_corpus(tmp_path_factory):
    """Parquet path of a corpus with no rows."""
    return _corpus_path(tmp_path_factory, "empty", [], labels=[])


@pytest.mark.parametrize("placement", ["gathered", "scattered"])
@pytest.mark.parametrize("op", [kmeans_codebook, sim.semantic_dedup, sim.cluster_label_purity], ids=lambda op: op.__name__)
def test_empty_corpus_matches_twin(spark, scatter_gather, empty_corpus, op, placement):
    """An empty corpus trains an empty codebook and returns the DuckDB
    twin's answer, no rows, under both placements."""
    from contextlib import nullcontext

    emb = spark.read.parquet(empty_corpus)
    with scatter_gather() if placement == "scattered" else nullcontext():
        out = op(emb)
        rows = out.collect()
    assert rows == []
    if op is not kmeans_codebook:
        assert _twin(empty_corpus, op) == []
    else:
        assert out.columns == ["cid", "cv", "cnorm"]


@pytest.mark.parametrize("placement", ["gathered", "scattered"])
def test_empty_corpus_builds_an_empty_ivfpq_index(spark, scatter_gather, empty_corpus, tmp_path, placement):
    """``write_ivfpq_index`` of an empty corpus writes an empty index,
    and a search of it returns no rows, as the twin does."""
    from contextlib import nullcontext

    import duckdb

    from bunsen_spark.localrel import values_df

    emb = spark.read.parquet(empty_corpus)
    queries = values_df(spark, [(0, [0.5] * 64), (1, [-0.25] * 64)], "vec_id long, embedding array<double>")
    with scatter_gather() if placement == "scattered" else nullcontext():
        sim.write_ivfpq_index(emb, str(tmp_path / "index"))
        out = sim.ivfpq_index_topk(spark, str(tmp_path / "index"), queries)
        assert out.collect() == []
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{empty_corpus}')")
    assert con.execute(sim.ivfpq_topk_sql()).fetchall() == []


@pytest.fixture(scope="module")
def null_training_corpus(tmp_path_factory):
    """Parquet path of 40 random 64-d vectors, vector 25 NULL."""
    import random

    rng = random.Random(11)
    vecs = [None if i == 25 else [rng.uniform(-1, 1) for _ in range(64)] for i in range(40)]
    return _corpus_path(tmp_path_factory, "null_training", vecs)


@pytest.mark.parametrize("placement", ["gathered", "scattered"])
@pytest.mark.parametrize(
    "op",
    [
        kmeans_codebook,
        sim.semantic_dedup,
        sim.pq_codebooks,
        lambda emb: sim.ivfpq_topk(emb, num_queries=8),
    ],
    ids=["kmeans_codebook", "semantic_dedup", "pq_codebooks", "ivfpq_topk"],
)
def test_null_training_vector_names_its_vec_id(spark, scatter_gather, null_training_corpus, op, placement):
    """A NULL vector met while training is an error naming its vec_id,
    not its row position in a batch — on the driver when the corpus is
    gathered, from the driver or a task when it is scattered."""
    from contextlib import nullcontext

    from pyspark.errors import PythonException

    emb = spark.read.parquet(null_training_corpus)
    with scatter_gather() if placement == "scattered" else nullcontext():
        with pytest.raises((ValueError, PythonException), match="vec_id 25: v has length NULL, expected 64"):
            op(emb).collect()
