"""Exact embedding near-dup pairs under both placements of the one
gather-or-scatter rule (``_bcast.gathers``): the broadcast path (corpus
gathered once — read from its Parquet files, or by Spark — its matrix
broadcast) and the blocked path (no driver collect) give the same
pairs, the DuckDB twin's, and choosing between them runs no Spark job.
The two placements are told apart by their plans: only the blocked
path has an Exchange."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bunsen_spark.operators._bcast import gathers
from bunsen_spark.operators import dedup
from bunsen_spark.operators.dedup import embedding_near_dup_pairs, embedding_near_dup_pairs_sql


def _pairs(df):
    return sorted((r["a_id"], r["b_id"]) for r in df.collect())


def _src(emb):
    """The frame the operator hands to the placement rule."""
    return emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))


def _gathers(emb):
    """The operator's placement decision for ``emb``."""
    return gathers(_src(emb), dedup.EMBEDDING_GATHER_MAX_BYTES)


def _blocked(df) -> bool:
    """Whether ``df`` is the blocked path's plan: its block-pair groups
    are the only Exchange either placement has."""
    return "Exchange" in df._jdf.queryExecution().executedPlan().toString()


def _duckdb_pairs(path: str, threshold: float = 0.45):
    import duckdb

    sql = embedding_near_dup_pairs_sql(f"read_parquet('{path}')", threshold)
    return sorted(duckdb.sql(sql).fetchall())


@pytest.fixture(scope="module")
def corpora(tmp_path_factory):
    """Parquet paths of degenerate 8-d corpora: empty, one row, one
    zero-norm vector among random ones (stored as float and as
    double), and all-identical vectors."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(5)
    rand = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(40)]
    vecs = {
        "empty": [],
        "one_row": rand[:1],
        "zero_norm": [[0.0] * 8 if i == 7 else v for i, v in enumerate(rand)],
        "all_identical": [rand[0]] * 12,
    }
    vecs["zero_norm_f64"] = vecs["zero_norm"]
    paths = {}
    for name, vs in vecs.items():
        path = str(tmp_path_factory.mktemp(name) / "embeddings.parquet")
        elem = pa.float64() if name.endswith("_f64") else pa.float32()
        table = pa.table(
            {
                "vec_id": pa.array(range(len(vs)), pa.int64()),
                "embedding": pa.array(vs, pa.list_(elem)),
            }
        )
        pq.write_table(table, path)
        paths[name] = path
    return paths


def test_blocked_equals_broadcast(spark, sf_dir, scatter_gather):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assert _gathers(emb)
    broadcast = _pairs(embedding_near_dup_pairs(emb))
    with scatter_gather():
        assert not _gathers(emb)
        blocked = _pairs(embedding_near_dup_pairs(emb.repartition(3), num_blocks=4))
    assert broadcast == blocked
    assert len(blocked) > 0  # fixture has near-dup planted pairs
    # canonical orientation, no self-pairs
    assert all(a < b for a, b in blocked)


def test_blocked_single_block_degenerate(spark, sf_dir, scatter_gather):
    """B=1 → one diagonal group: each pair must be emitted once."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with scatter_gather():
        one = embedding_near_dup_pairs(emb, num_blocks=1).collect()
        four = _pairs(embedding_near_dup_pairs(emb, num_blocks=4))
    assert sorted((r["a_id"], r["b_id"]) for r in one) == four
    assert len(one) == len(set(one))


def test_placement_decision_runs_no_spark_job(spark, count_jobs, sf_dir, scatter_gather):
    """The decision reads plan statistics only: zero jobs to decide, zero
    to build the blocked plan, zero to build the broadcast plan of a
    Parquet corpus (read from its files) and exactly the one gather job
    for a corpus Spark gathers."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assert count_jobs(lambda: _gathers(emb)) == (True, 0)
    df, n = count_jobs(lambda: embedding_near_dup_pairs(emb))
    assert n == 0 and not _blocked(df)
    df, n = count_jobs(lambda: embedding_near_dup_pairs(emb.where(F.col("vec_id") >= 0)))
    assert n == 1 and not _blocked(df)
    with scatter_gather():
        df, n = count_jobs(lambda: embedding_near_dup_pairs(emb))
    assert n == 0 and _blocked(df)


def test_no_size_estimate_runs_blocked(spark, count_jobs, sf_dir):
    """A corpus whose plan has no size estimate (RDD-backed) cannot be
    proven to fit, so it takes the no-driver-collect blocked path:
    building the frame runs no job."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rdd_backed = spark.createDataFrame(emb.rdd, emb.schema)
    assert not _gathers(rdd_backed)
    df, n = count_jobs(lambda: embedding_near_dup_pairs(rdd_backed))
    assert n == 0 and _blocked(df)
    assert _pairs(df) == _pairs(embedding_near_dup_pairs(emb))


def test_corpus_over_gather_cap_runs_blocked(spark, count_jobs, sf_dir, monkeypatch):
    """The operator places its corpus by ``EMBEDDING_GATHER_MAX_BYTES``:
    at the corpus's plan size it is gathered, one byte below it runs
    blocked, with the same pairs; neither runs a job to build."""
    from bunsen_spark.operators._bcast import plan_size_bytes

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    size = plan_size_bytes(_src(emb))
    monkeypatch.setattr(dedup, "EMBEDDING_GATHER_MAX_BYTES", size)
    broadcast, n = count_jobs(lambda: embedding_near_dup_pairs(emb))
    assert n == 0 and not _blocked(broadcast)
    monkeypatch.setattr(dedup, "EMBEDDING_GATHER_MAX_BYTES", size - 1)
    blocked, n = count_jobs(lambda: embedding_near_dup_pairs(emb))
    assert n == 0 and _blocked(blocked)
    assert _pairs(blocked) == _pairs(broadcast)


def test_corpus_over_threshold_runs_blocked(spark, count_jobs, sf_dir):
    """A corpus larger than ``spark.sql.autoBroadcastJoinThreshold`` is
    never gathered to the driver: it runs blocked, with the same pairs."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    want = _pairs(embedding_near_dup_pairs(emb))
    before = spark.conf.get(key)
    spark.conf.set(key, "1024")
    try:
        assert not _gathers(emb)
        df, n = count_jobs(lambda: embedding_near_dup_pairs(emb))
        assert n == 0 and _blocked(df)
        assert _pairs(df) == want
    finally:
        spark.conf.set(key, before)


@pytest.mark.parametrize(
    "corpus", ["empty", "one_row", "zero_norm", "zero_norm_f64", "all_identical"]
)
def test_placement_parity_degenerate(spark, scatter_gather, corpora, corpus):
    """Every placement gives the DuckDB twin's pairs on degenerate
    corpora — the broadcast path over a corpus read from its Parquet
    files or gathered by Spark, and the blocked path; a zero-norm
    vector (stored as float or double) matches nothing, and an
    all-identical corpus gives every pair once."""
    emb = spark.read.parquet(corpora[corpus])
    assert _gathers(emb)
    broadcast = _pairs(embedding_near_dup_pairs(emb))
    spread = emb.repartition(3)
    assert _gathers(spread)
    gathered = _pairs(embedding_near_dup_pairs(spread))
    with scatter_gather():
        blocked = _pairs(embedding_near_dup_pairs(spread, num_blocks=3))
    assert broadcast == gathered == blocked == _duckdb_pairs(corpora[corpus])
    if corpus == "all_identical":
        assert len(blocked) == 12 * 11 // 2


@pytest.mark.parametrize("placement", ["gathered", "scattered"])
def test_null_first_vector_raises(spark, scatter_gather, tmp_path, placement):
    """A NULL first vector is an error naming its vec_id under both
    placements, not a ``TypeError`` from reading its length."""
    import random
    from contextlib import nullcontext

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors import PythonException

    rng = random.Random(5)
    vecs = [None if i == 0 else [rng.uniform(-1, 1) for _ in range(4)] for i in range(20)]
    path = str(tmp_path / "embeddings.parquet")
    table = pa.table(
        {
            "vec_id": pa.array(range(20), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
        }
    )
    pq.write_table(table, path)
    emb = spark.read.parquet(path)
    assert _gathers(emb)
    error = ValueError if placement == "gathered" else PythonException
    with scatter_gather() if placement == "scattered" else nullcontext():
        with pytest.raises(error, match="vec_id 0: v has length NULL"):
            embedding_near_dup_pairs(emb, num_blocks=1).collect()
