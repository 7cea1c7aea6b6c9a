"""PQ and IVF-PQ searches on the one top-k kernel: the inline operators
and the persisted-index searches give the DuckDB twins' rows under both
placements, and a vector with more code rows than subs, or a code the
books lack, is an error naming the vec_id."""

from __future__ import annotations

import shutil
from contextlib import nullcontext

import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from bunsen_spark.operators import similarity as sim

#: Tombstoned vec_ids of the delete cases: rank-1 neighbours of queries
#: 0, 1, 2, 3 and 5 in one layout or both, and query 3 itself, which
#: still queries.
_DELETED = (3, 58, 110, 167, 171)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    """Parquet path of 200 random 64-d float vectors."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(21)
    path = str(tmp_path_factory.mktemp("pq_corpus") / "embeddings.parquet")
    vecs = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(200)]
    table = pa.table(
        {
            "vec_id": pa.array(range(200), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
        }
    )
    pq.write_table(table, path)
    return path


@pytest.fixture(scope="module")
def indexes(spark, corpus, tmp_path_factory):
    """{layout: index path} of a PQ and an IVF-PQ index of the corpus."""
    root = tmp_path_factory.mktemp("pq_indexes")
    emb = spark.read.parquet(corpus)
    sim.write_pq_index(emb, str(root / "pq"))
    sim.write_ivfpq_index(emb, str(root / "ivfpq"))
    return {"pq": str(root / "pq"), "ivfpq": str(root / "ivfpq")}


def _copy(indexes, layout: str, tmp_path) -> str:
    """A fresh copy of the ``layout`` index, for a test that changes it."""
    path = str(tmp_path / layout)
    shutil.copytree(indexes[layout], path)
    return path


def _twin(corpus, sql: str) -> list:
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{corpus}')")
    return sorted(con.execute(sql).fetchall())


def _twin_sql(layout: str, k: int, num_queries: int, deleted=()) -> str:
    """The DuckDB twin of a ``layout`` search, the ``deleted`` vec_ids
    left out of the candidates: the IVF-PQ twin's ``delete_pred``, or
    the PQ twin's full ranking with them removed and re-ranked."""
    if layout == "ivfpq":
        pred = f"vec_id IN ({', '.join(map(str, deleted))})" if deleted else None
        return sim.ivfpq_topk_sql(k=k, num_queries=num_queries, delete_pred=pred)
    if not deleted:
        return sim.pq_topk_sql(k=k, num_queries=num_queries)
    every = sim.pq_topk_sql(k=10**6, num_queries=num_queries)
    return f"""
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY rank) AS rank
  FROM ({every}) WHERE neighbor_id NOT IN ({', '.join(map(str, deleted))})
) WHERE rank <= {k}
"""


def _search(spark, layout: str, emb, index, k: int, num_queries: int):
    """The ``layout`` search over ``num_queries`` queries: the inline
    operator when ``index`` is None, else the index search of ``index``."""
    if index is None:
        op = sim.pq_topk if layout == "pq" else sim.ivfpq_topk
        return op(emb, k=k, num_queries=num_queries)
    op = sim.pq_index_topk if layout == "pq" else sim.ivfpq_index_topk
    return op(spark, index, emb.where(F.col("vec_id") < num_queries), k=k)


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("placement", ["gathered", "scattered"])
@pytest.mark.parametrize("layout", ["pq", "ivfpq"])
@pytest.mark.parametrize("stored", ["inline", "index"])
def test_search_matches_twin(spark, scatter_gather, corpus, indexes, stored, layout, placement):
    """``pq_topk``, ``ivfpq_topk``, ``pq_index_topk`` and
    ``ivfpq_index_topk`` give the twin's rows with the codes scanned on
    the driver and in partitions: for 8 queries, for a ``k`` above the
    candidate count (every candidate ranked), and for no query."""
    emb = spark.read.parquet(corpus)
    index = indexes[layout] if stored == "index" else None
    with scatter_gather() if placement == "scattered" else nullcontext():
        top = _rows(_search(spark, layout, emb, index, 5, 8))
        assert top == _twin(corpus, _twin_sql(layout, 5, 8))
        assert max(r for _, _, r in top) == 5
        # k=250 is above every query's candidate count (199 for PQ)
        every = _rows(_search(spark, layout, emb, index, 250, 8))
        assert every == _twin(corpus, _twin_sql(layout, 250, 8))
        assert max(r for _, _, r in every) < 250
        empty = _search(spark, layout, emb, index, 5, 0)
        assert empty.columns == ["query_id", "neighbor_id", "rank"]
        assert empty.collect() == []


@pytest.mark.parametrize("placement", ["gathered", "scattered"])
@pytest.mark.parametrize("layout", ["pq", "ivfpq"])
def test_tombstoned_neighbor_is_not_found(
    spark, scatter_gather, corpus, indexes, tmp_path, layout, placement
):
    """An index search after a delete gives the twin's rows with the
    tombstoned vectors left out of the candidates, a former rank-1
    neighbour among them."""
    emb = spark.read.parquet(corpus)
    path = _copy(indexes, layout, tmp_path)
    before = _rows(_search(spark, layout, emb, path, 5, 8))
    assert {n for q, n, r in before if r == 1} & set(_DELETED)
    delete = sim.delete_from_pq_index if layout == "pq" else sim.delete_from_ivfpq_index
    delete(emb.where(F.col("vec_id").isin(*_DELETED)), path)
    with scatter_gather() if placement == "scattered" else nullcontext():
        got = _rows(_search(spark, layout, emb, path, 5, 8))
    assert not {n for _, n, _ in got} & set(_DELETED)
    assert {q for q, _, _ in got} == set(range(8))
    assert got == _twin(corpus, _twin_sql(layout, 5, 8, _DELETED))


def _raises(placement: str, match: str):
    """``pytest.raises`` of the error a bad scan row gives: ValueError
    from the driver when the codes are gathered, the task's
    PythonException when scattered."""
    if placement == "gathered":
        return pytest.raises(ValueError, match=match)
    return pytest.raises(PythonException, match=match)


@pytest.mark.parametrize("placement", ["gathered", "scattered"])
@pytest.mark.parametrize("layout", ["pq", "ivfpq"])
def test_vector_appended_twice_raises(
    spark, scatter_gather, corpus, indexes, tmp_path, layout, placement
):
    """A vector appended to the index a second time, under its default
    content-derived batch id, is an error naming it and its 16 code
    rows, not a doubled ADC score that drops it from every top-k."""
    emb = spark.read.parquet(corpus)
    path = _copy(indexes, layout, tmp_path)
    append = sim.append_pq_index if layout == "pq" else sim.append_ivfpq_index
    append(emb.where(F.col("vec_id") == 5), path)
    with scatter_gather() if placement == "scattered" else nullcontext():
        with _raises(placement, "vec_id 5: 16 code rows, expected one for each sub 0..7"):
            _search(spark, layout, emb, path, 5, 8).collect()


@pytest.mark.parametrize("placement", ["gathered", "scattered"])
@pytest.mark.parametrize("layout", ["pq", "ivfpq"])
def test_code_not_in_books_raises(
    spark, scatter_gather, corpus, indexes, tmp_path, layout, placement
):
    """A code row whose code is not a codeword of its sub's book is an
    error naming the vec_id, the sub and the code."""
    emb = spark.read.parquet(corpus)
    path = _copy(indexes, layout, tmp_path)
    books = spark.read.parquet(f"{path}/books").where("sub = 3").select("cid").collect()
    assert -7 not in {r.cid for r in books}
    rows = [(900, 0, s, -7 if s == 3 else books[0].cid) for s in range(8)]
    codes = spark.createDataFrame(rows, "vec_id long, ccid long, sub int, code long")
    if layout == "pq":
        codes = codes.drop("ccid")
    codes.withColumn("batch_id", F.lit(7)).write.mode("append").partitionBy("batch_id").parquet(
        f"{path}/codes_stream"
    )
    with scatter_gather() if placement == "scattered" else nullcontext():
        with _raises(placement, "vec_id 900: sub 3 code -7 is not in the books"):
            _search(spark, layout, emb, path, 5, 8).collect()
