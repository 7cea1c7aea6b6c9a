"""Bucketed-warehouse layout test: co-bucketed tables must join with
zero Exchange in the physical plan (the shuffle was paid once at write
time)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _parquet_files(path) -> list:
    return sorted(p for p in path.rglob("*.parquet") if p.is_file())


def _bucket_count(spark, table: str) -> int:
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    return int(next(r.data_type for r in rows if r.col_name == "Num Buckets"))


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    from bunsen_spark.sources.warehouse import joins_without_shuffle, write_bucketed

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    spark.sql("DROP TABLE IF EXISTS bkt_orders")
    spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
    write_bucketed(orders, "bkt_orders", "o_orderkey", 8, path=str(tmp_path / "o"))
    write_bucketed(lineitem, "bkt_lineitem", "o_orderkey", 8, path=str(tmp_path / "l"))

    assert joins_without_shuffle(spark, "bkt_orders", "bkt_lineitem", ["o_orderkey"])

    # same join over the raw (unbucketed) parquet DOES shuffle
    raw = orders.join(lineitem, "o_orderkey")
    raw_plan = raw._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in raw_plan

    joined = spark.table("bkt_orders").join(spark.table("bkt_lineitem"), "o_orderkey")
    assert joined.count() == lineitem.count()
    spark.sql("DROP TABLE IF EXISTS bkt_orders")
    spark.sql("DROP TABLE IF EXISTS bkt_lineitem")


def test_fhir_warehouse_bucketed_by_subject(spark, tmp_path):
    """VERDICT r1 item 10: save_as_database(bucket_by_subject=True)
    colocates patient-level tables — patients ⋈ observations runs with
    no Exchange on either side."""
    from bunsen_spark.sources.bundles import (
        SUBJECT_KEY,
        load_from_directory,
        save_as_database,
    )
    from bunsen_spark.sources.warehouse import joins_without_shuffle

    spark.sql("DROP DATABASE IF EXISTS fhir_bucketed CASCADE")
    bundles = load_from_directory(spark, "fixtures/bundles/json")
    save_as_database(
        spark,
        bundles,
        "fhir_bucketed",
        "Patient",
        "Observation",
        path=str(tmp_path / "fhirdb"),
        bucket_by_subject=True,
        num_buckets=8,
    )
    assert joins_without_shuffle(
        spark, "fhir_bucketed.patient", "fhir_bucketed.observation", [SUBJECT_KEY]
    )
    # the key is populated consistently on both sides
    pat = spark.table("fhir_bucketed.patient")
    obs = spark.table("fhir_bucketed.observation")
    assert pat.where(f"{SUBJECT_KEY} != id").count() == 0
    assert obs.where(f"{SUBJECT_KEY} != subject.patientId").count() == 0
    joined = pat.join(obs, SUBJECT_KEY).select(pat["id"]).distinct()
    assert joined.count() > 0
    spark.sql("DROP DATABASE IF EXISTS fhir_bucketed CASCADE")


def test_default_buckets_sized_from_input(spark, tmp_path):
    """Default save_as_database sizes ONE power-of-two bucket count for
    every table it lands, writes one file per non-empty bucket, and the
    tables still join with no Exchange."""
    from bunsen_spark.sources.bundles import (
        SUBJECT_KEY,
        load_from_directory,
        save_as_database,
    )
    from bunsen_spark.sources.warehouse import joins_without_shuffle

    spark.sql("DROP DATABASE IF EXISTS fhir_sized CASCADE")
    bundles = load_from_directory(spark, "fixtures/bundles/json")
    root = tmp_path / "fhirdb"
    save_as_database(
        spark, bundles, "fhir_sized", "Patient", "Observation",
        path=str(root), bucket_by_subject=True,
    )
    n_pat = _bucket_count(spark, "fhir_sized.patient")
    assert n_pat == _bucket_count(spark, "fhir_sized.observation")
    assert n_pat & (n_pat - 1) == 0
    for tname in ("patient", "observation"):
        files = _parquet_files(root / tname)
        buckets = spark.table(f"fhir_sized.{tname}").select(
            F.expr(f"pmod(hash({SUBJECT_KEY}), {n_pat})")
        ).distinct().count()
        assert len(files) == buckets > 0
    assert joins_without_shuffle(
        spark, "fhir_sized.patient", "fhir_sized.observation", [SUBJECT_KEY]
    )
    spark.sql("DROP DATABASE IF EXISTS fhir_sized CASCADE")


def test_write_bucketed_one_file_per_bucket(spark, sf_dir, tmp_path):
    """A 16-partition input bucketed 8 ways writes at most 8 files (one
    per bucket), not one per (task, bucket) pair."""
    from bunsen_spark.sources.warehouse import write_bucketed

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").repartition(16)
    spark.sql("DROP TABLE IF EXISTS bkt_orders16")
    path = tmp_path / "o16"
    write_bucketed(orders, "bkt_orders16", "o_orderkey", 8, path=str(path))
    assert 0 < len(_parquet_files(path)) <= 8
    assert spark.table("bkt_orders16").count() == orders.count()
    spark.sql("DROP TABLE IF EXISTS bkt_orders16")


def test_unsized_input_falls_back_to_32_buckets(spark):
    """An RDD-backed bundles frame has no size estimate: the count falls
    back to 32, not to spark.sql.sources.bucketing.maxBuckets."""
    from pathlib import Path

    from bunsen_spark.sources.bundles import from_json_column
    from bunsen_spark.sources.warehouse import bucket_count_for

    content = Path("fixtures/bundles/json/pat-1001.bundle.json").read_text()
    rdd = spark.sparkContext.parallelize([(content,)])
    bundles = from_json_column(spark.createDataFrame(rdd, "content string"), "content")
    assert bucket_count_for(bundles) == 32
