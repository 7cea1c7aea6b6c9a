"""End-to-end bundle ingest tests — the behavioral spec mirrors the
reference's python suite (`python/tests/test_bunsen_stu3.py`): golden
counts over the repo's own synthetic fixture bundles (5 Conditions, 14
blood-pressure Observations across 3 patient bundles).
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from bunsen_spark.sources.bundles import extract_entry, from_json_column, load_from_directory

BUNDLE_DIR = str(Path(__file__).resolve().parent.parent / "fixtures" / "bundles" / "json")


@pytest.fixture(scope="module")
def bundles(spark):
    return load_from_directory(spark, BUNDLE_DIR).cache()


def test_load_from_directory_explodes_entries(bundles):
    types = {
        r["resource_type"]: r["count"]
        for r in bundles.groupBy("resource_type").count().collect()
    }
    assert types["Patient"] == 3
    assert types["Condition"] == 5
    assert types["Observation"] == 17  # 14 BP + 3 other
    assert types["MedicationRequest"] == 4
    assert types["ValueSet"] == 1


@pytest.mark.slow
def test_extract_conditions_golden_count(spark, bundles):
    conditions = extract_entry(spark, bundles, "Condition")
    assert conditions.count() == 5
    # nested projection works (P1)
    rows = conditions.select(
        F.col("code.coding")[0]["code"].alias("code"),
        F.col("subject.reference").alias("ref"),
        F.col("subject.patientId").alias("pid"),
    ).collect()
    assert all(r["ref"].startswith("Patient/") for r in rows)
    # synthetic relative-id column extracted from the reference
    assert all(r["pid"] == r["ref"].split("/")[1] for r in rows)


@pytest.mark.slow
def test_extract_observations_choice_and_decimal(spark, bundles):
    obs = extract_entry(spark, bundles, "Observation").cache()
    assert obs.count() == 17
    bp = obs.where(
        F.exists("code.coding", lambda c: (c["system"] == "http://loinc.org") & (c["code"] == "8462-4"))
    )
    assert bp.count() == 14
    # choice type: value.quantity.value is DECIMAL(12,4)
    q = bp.select(F.col("value.quantity.value").alias("v"), F.col("value.quantity.unit").alias("u"))
    assert dict(q.dtypes)["v"] == "decimal(12,4)"
    assert all(r["u"] == "mm[Hg]" for r in q.collect())
    # effective is a choice struct with only the dateTime branch set
    eff = obs.select("effective.dateTime").where(F.col("dateTime").isNotNull())
    assert eff.count() == 17


def test_code_null_flavor_normalized(spark, bundles):
    obs = extract_entry(spark, bundles, "Observation")
    # the synthetic "?" status must become SQL NULL (EnumConverter parity)
    assert obs.where(F.col("status").isNull()).count() == 3
    assert obs.where(F.col("status") == "final").count() == 14


def test_from_json_column(spark):
    raw = spark.read.text(BUNDLE_DIR, wholetext=True)
    df = raw.select(F.col("value").alias("payload"))
    exploded = from_json_column(df, "payload")
    assert exploded.where(F.col("resource_type") == "Condition").count() == 5


def test_doc_query_shape(spark, bundles):
    """The docs' flagship query (introduction.rst:57-90, active-generation
    spelling): nested projection over observations."""
    obs = extract_entry(spark, bundles, "Observation")
    obs.createOrReplaceTempView("observations")
    df = obs.sparkSession.sql(
        "SELECT subject.reference, effective.dateTime, value.quantity.value "
        "FROM observations WHERE value.quantity.value IS NOT NULL"
    )
    assert df.count() == 17


def test_medication_request_choice(spark, bundles):
    meds = extract_entry(spark, bundles, "MedicationRequest")
    rows = meds.select(
        F.col("medication.codeableConcept.coding")[0]["code"].alias("rx"),
        F.col("dosageInstruction")[0]["asNeeded"]["boolean"].alias("prn"),
        F.col("dosageInstruction")[0]["dose"]["quantity"]["value"].alias("dose"),
    ).collect()
    assert len(rows) == 4
    assert all(r["rx"] == "197361" for r in rows)
    assert all(r["prn"] is False for r in rows)


def test_repeat_extract_entry_reuses_the_converter(spark, bundles, count_py4j):
    """The conversion expression is built once per resource type: a
    second extraction of a type costs a few py4j round trips, not the
    ~20k of a fresh build."""
    extract_entry(spark, bundles, "Observation")
    _, calls = count_py4j(lambda: extract_entry(spark, bundles, "Observation"))
    assert calls <= 200


def test_repeat_extract_entry_plans_equal(spark, bundles):
    """Two extractions of one type optimize to the same plan, up to
    expression ids (the cached converter keeps its lambda names)."""
    import re

    def plan():
        df = extract_entry(spark, bundles, "Observation")
        return re.sub(r"#\d+L?", "#N", df._jdf.queryExecution().optimizedPlan().toString())

    assert plan() == plan()
