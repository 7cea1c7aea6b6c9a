"""Unit tests for the second round-5 operator batch: substring-dup
spans, prefix-filtered exact Jaccard (with the partitioning invariance
of the whole exact set-overlap family), surprisal scoring, SCD2 merge,
and the Gram matrix."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F


# -- substring_dup_spans ------------------------------------------------------


def _spans(spark, rows, k=5, min_df=2):
    from bunsen_spark.operators.substrings import substring_dup_spans

    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = substring_dup_spans(df, k=k, min_df=min_df)
    return {r.doc_id: (r.n_chars, r.dup_chars) for r in out.collect()}


def test_substring_spans_identical_docs_fully_covered(spark):
    # two identical docs: every k-gram occurs twice, merged interval
    # covers the whole text of each
    text = "abcdefghijklmno"
    got = _spans(spark, [(1, text), (2, text)], k=5)
    assert got == {1: (15, 15), 2: (15, 15)}


def test_substring_spans_no_duplicates(spark):
    got = _spans(spark, [(1, "abcdefghij"), (2, "KLMNOPQRST")], k=5)
    assert got == {1: (10, 0), 2: (10, 0)}


def test_substring_spans_shorter_than_k(spark):
    got = _spans(spark, [(1, "abc"), (2, "abc")], k=5)
    assert got == {1: (3, 0), 2: (3, 0)}


def test_substring_spans_within_doc_repeat(spark):
    # "abcde" occurs twice INSIDE one doc (positions 1 and 9);
    # each occurrence is a merged island of 5 chars
    text = "abcdeXYZWabcde"
    got = _spans(spark, [(1, text)], k=5)
    assert got == {1: (14, 10)}


def test_substring_spans_interval_merge(spark):
    # doc 2 repeats doc 1's full text => in doc 2 the shared 6-char
    # window slides over "abcdefgh" (positions 1..4 with k=5), whose
    # merged interval is 8 chars, not 4*5
    a, b = "abcdefgh", "abcdefghZZZZ"
    got = _spans(spark, [(1, a), (2, b)], k=5)
    assert got[1] == (8, 8)
    assert got[2] == (12, 8)


def test_substring_spans_portable_families_agree(spark):
    from bunsen_spark.operators.substrings import substring_dup_spans

    df = spark.createDataFrame(
        [(i, f"prefix-{i} shared-shared-shared-shared tail-{i}") for i in range(6)],
        "doc_id long, text string",
    )
    fast = {
        r.doc_id: r.dup_chars
        for r in substring_dup_spans(df, k=8, portable=False).collect()
    }
    port = {
        r.doc_id: r.dup_chars
        for r in substring_dup_spans(df, k=8, portable=True).collect()
    }
    assert fast == port


def test_substring_spans_rejects_bad_args(spark):
    from bunsen_spark.operators.substrings import substring_dup_spans

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        substring_dup_spans(df, k=1)
    with pytest.raises(ValueError):
        substring_dup_spans(df, min_df=1)


# -- prefix_jaccard_pairs -----------------------------------------------------


def _brute_jaccard(rows, threshold):
    import re

    sets = {i: set(re.findall(r"[a-z0-9]+", t.lower())) for i, t in rows}
    out = {}
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            inter = len(sets[a] & sets[b])
            uni = len(sets[a] | sets[b])
            if uni and inter / uni >= threshold:
                out[(a, b)] = (inter, uni)
    return out


# J(1, 2) = 4/6 sits between 0.6666 and 0.6667: a threshold rounded to
# a small fraction (0.6667 -> 2/3) would wrongly admit that pair
@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.6666, 0.6667, 0.8])
def test_prefix_jaccard_matches_brute_force(spark, threshold):
    from bunsen_spark.operators.setjoin import prefix_jaccard_pairs

    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta zeta"),
        (3, "alpha beta gamma delta epsilon"),
        (4, "omega psi chi phi upsilon"),
        (5, "omega psi chi phi tau"),
        (6, "solo unique tokens only here"),
        (7, "alpha beta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): (r.inter, r.uni)
        for r in prefix_jaccard_pairs(df, threshold=threshold).collect()
    }
    assert got == _brute_jaccard(rows, threshold)


def test_prefix_jaccard_identical_docs(spark):
    from bunsen_spark.operators.setjoin import prefix_jaccard_pairs

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], "doc_id long, text string"
    )
    [r] = prefix_jaccard_pairs(df, threshold=1.0).collect()
    assert (r.doc_a, r.doc_b, r.inter, r.uni) == (1, 2, 3, 3)


def test_prefix_jaccard_shingle_mode_matches_inverted_index(spark, sf_dir):
    # the lossless prefix filter must find exactly the pairs the
    # exact inverted-index path finds on the fixture corpus
    from bunsen_spark.operators.dedup import jaccard_pairs
    from bunsen_spark.operators.setjoin import prefix_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    inv = {
        (r.a_id, r.b_id)
        for r in jaccard_pairs(docs, threshold=0.5, portable=True).collect()
    }
    pref = {
        (r.doc_a, r.doc_b)
        for r in prefix_jaccard_pairs(docs, threshold=0.5, shingle_n=3).collect()
    }
    assert pref == inv


def test_prefix_jaccard_rejects_bad_threshold(spark):
    from bunsen_spark.operators.setjoin import prefix_jaccard_pairs

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        prefix_jaccard_pairs(df, threshold=0.0)
    with pytest.raises(ValueError):
        prefix_jaccard_pairs(df, threshold=1.5)


@pytest.mark.parametrize("collide", ["constant", "length"])
def test_prefix_jaccard_colliding_token_hash_keeps_rows(
    spark, sf_dir, monkeypatch, collide
):
    """A token hash that is not injective on the vocabulary must send
    the tokens through as strings, with the same rows as the hashed
    path."""
    from bunsen_spark.operators import setjoin

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    words = docs.select(
        "doc_id",
        F.array_distinct(setjoin.words_col(F.col("text"))).alias("__s"),
    )

    def rows():
        return {
            n: sorted(
                setjoin.prefix_jaccard_pairs(docs, 0.5, shingle_n=n).collect()
            )
            for n in (0, 3)
        }

    want = rows()
    assert want[0] and want[3]
    assert setjoin._keyed_postings(words).schema["tok"].dataType.typeName() == "long"
    colliding = {
        "constant": lambda tok: F.lit(7).cast("long"),
        "length": lambda tok: F.length(tok).cast("long"),
    }[collide]
    monkeypatch.setattr(setjoin, "_token_hash", colliding)
    assert setjoin._keyed_postings(words).schema["tok"].dataType.typeName() == "string"
    assert rows() == want


def _overlap_corpus():
    # six 12-word base documents over a 40-word vocabulary; every doc is
    # a one-word mutation of its base, every fourth one cut to its first
    # half, so Jaccard, containment and LSH pairs all occur
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(40)]
    base = [[rng.choice(vocab) for _ in range(12)] for _ in range(6)]
    rows = []
    for i in range(36):
        words = list(base[i % 6])
        words[rng.randrange(12)] = rng.choice(vocab)
        rows.append((i, " ".join(words[:6] if i % 4 == 0 else words)))
    return rows


def _set_overlap_ops():
    from bunsen_spark.operators import dedup, setjoin

    left = "doc_id % 4 < 2"
    return {
        "jaccard_pairs": lambda d: dedup.jaccard_pairs(d, threshold=0.5),
        "containment_pairs": lambda d: dedup.containment_pairs(d, threshold=0.8),
        "prefix_jaccard_pairs": lambda d: setjoin.prefix_jaccard_pairs(
            d, threshold=0.5, shingle_n=3
        ),
        "minhash_lsh_pairs": lambda d: dedup.minhash_lsh_pairs(d, 0.5),
        "incremental_near_dup": lambda d: dedup.incremental_near_dup(
            d.where("doc_id >= 18"), dedup.minhash_state(d.where("doc_id < 18")), 0.5
        ).select("doc_id", F.size("hs").alias("n")),
        "fuzzy_text_join": lambda d: dedup.fuzzy_text_join(
            d.where(left), d.where(f"NOT ({left})"), 0.5
        ),
        "fuzzy_text_join_split": lambda d: dedup.fuzzy_text_join_split(
            d, F.expr(left), 0.5
        ),
    }


@pytest.mark.parametrize("op", list(_set_overlap_ops()))
def test_set_overlap_rows_ignore_partitioning(spark, op):
    """Each exact set-overlap operator returns the same rows for 1 vs 8
    input partitions and for 1 vs 16 shuffle partitions."""
    run = _set_overlap_ops()[op]
    rows = _overlap_corpus()
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)

    def result(inputs, shuffles):
        spark.conf.set(key, str(shuffles))
        try:
            df = spark.createDataFrame(rows, "doc_id long, text string")
            return sorted(run(df.repartition(inputs)).collect())
        finally:
            spark.conf.set(key, before)

    one_input = result(1, 16)
    assert one_input
    eight_inputs = result(8, 16)
    assert eight_inputs == one_input
    assert result(8, 1) == eight_inputs


# -- surprisal_score ----------------------------------------------------------


def test_surprisal_known_corpus(spark):
    from bunsen_spark.operators.text_analysis import surprisal_score

    # corpus: "a" x4, "b" x2, "c" x1, "d" x1  -> N = 8
    # bits: a -> floor(log2(8//4)) = 1; b -> log2(4) = 2
    #       c, d -> floor(log2(8)) = 3
    df = spark.createDataFrame(
        [(1, "a a b c"), (2, "a a b d")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.surprisal_bits)
        for r in surprisal_score(df).collect()
    }
    assert got == {1: (4, 1 + 1 + 2 + 3), 2: (4, 1 + 1 + 2 + 3)}


def test_surprisal_empty_doc_scores_zero(spark):
    from bunsen_spark.operators.text_analysis import surprisal_score

    df = spark.createDataFrame(
        [(1, "word word other"), (2, "   "), (3, "")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.surprisal_bits)
        for r in surprisal_score(df).collect()
    }
    assert got[2] == (0, 0)
    assert got[3] == (0, 0)


def test_surprisal_rare_tokens_score_higher(spark):
    from bunsen_spark.operators.text_analysis import surprisal_score

    common = " ".join(["the"] * 50)
    df = spark.createDataFrame(
        [(1, common), (2, "rare tokens entirely distinct vocabulary")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in surprisal_score(df).collect()}
    per_tok_1 = got[1].surprisal_bits / got[1].n_tokens
    per_tok_2 = got[2].surprisal_bits / got[2].n_tokens
    assert per_tok_2 > per_tok_1


# -- scd2_apply ---------------------------------------------------------------


def _dim(spark, rows):
    return spark.createDataFrame(
        rows, "k long, payload string, valid_from long, valid_to long"
    )


def _snap(spark, rows):
    return spark.createDataFrame(rows, "k long, payload string")


def test_scd2_all_cases(spark):
    from bunsen_spark.operators.snapshot import scd2_apply

    dim = _dim(
        spark,
        [
            (1, "keep", 0, None),     # unchanged
            (2, "old", 0, None),      # changed
            (3, "gone", 0, None),     # deleted
            (4, "ancient", 0, 50),    # historic closed row: untouched
            (4, "current", 50, None), # open row of the same key, unchanged
        ],
    )
    snap = _snap(spark, [(1, "keep"), (2, "new"), (4, "current"), (5, "born")])
    out = scd2_apply(dim, snap, "k", ["payload"], 100)
    got = {
        (r.k, r.payload): (r.valid_from, r.valid_to) for r in out.collect()
    }
    assert got == {
        (1, "keep"): (0, None),
        (2, "old"): (0, 100),
        (2, "new"): (100, None),
        (3, "gone"): (0, 100),
        (4, "ancient"): (0, 50),
        (4, "current"): (50, None),
        (5, "born"): (100, None),
    }


def test_scd2_idempotent_reapply(spark):
    from bunsen_spark.operators.snapshot import scd2_apply

    dim = _dim(spark, [(1, "a", 0, None), (2, "b", 0, None)])
    snap = _snap(spark, [(1, "a2"), (2, "b")])
    once = scd2_apply(dim, snap, "k", ["payload"], 100)
    twice = scd2_apply(once, snap, "k", ["payload"], 200)
    # re-applying the same snapshot later must not create versions
    assert sorted(
        (r.k, r.payload, r.valid_from, r.valid_to) for r in twice.collect()
    ) == sorted(
        (r.k, r.payload, r.valid_from, r.valid_to) for r in once.collect()
    )


def test_scd2_open_row_count_equals_snapshot(spark):
    from bunsen_spark.operators.snapshot import scd2_apply

    dim = _dim(spark, [(i, f"v{i}", 0, None) for i in range(10)])
    snap = _snap(
        spark,
        [(i, f"v{i}" if i % 3 else f"w{i}") for i in range(2, 14)],
    )
    out = scd2_apply(dim, snap, "k", ["payload"], 7)
    open_rows = out.where(F.col("valid_to").isNull())
    assert open_rows.count() == snap.count()
    # and the open payloads ARE the snapshot
    assert sorted(
        (r.k, r.payload) for r in open_rows.collect()
    ) == sorted((r.k, r.payload) for r in snap.collect())


def test_scd2_requires_compare_cols(spark):
    from bunsen_spark.operators.snapshot import scd2_apply

    dim = _dim(spark, [(1, "a", 0, None)])
    with pytest.raises(ValueError):
        scd2_apply(dim, _snap(spark, [(1, "a")]), "k", [], 5)


# -- gram_matrix --------------------------------------------------------------


def test_gram_matrix_matches_numpy(spark):
    import numpy as np

    from bunsen_spark.operators.similarity import gram_matrix

    rng = np.random.default_rng(7)
    vecs = rng.normal(scale=0.2, size=(40, 8)).astype("float32")
    df = spark.createDataFrame(
        [Row(embedding=[float(x) for x in v]) for v in vecs]
    )
    got = {(r.i, r.j): r.g for r in gram_matrix(df, scale=1024).collect()}
    q = np.rint(vecs.astype("float64") * 1024).astype("int64")
    expected = q.T @ q
    assert len(got) == 8 * 9 // 2
    for (i, j), g in got.items():
        assert g == expected[i - 1, j - 1]


def test_gram_matrix_zero_vectors(spark):
    from bunsen_spark.operators.similarity import gram_matrix

    df = spark.createDataFrame(
        [Row(embedding=[0.0, 0.0]), Row(embedding=[0.0, 0.0])]
    )
    got = {(r.i, r.j): r.g for r in gram_matrix(df).collect()}
    assert got == {(1, 1): 0, (1, 2): 0, (2, 2): 0}
