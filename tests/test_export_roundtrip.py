"""Round-trip acceptance: bundle → extract_entry → export JSON →
re-ingest → identical DataFrame (SURVEY §5: "round-trip tests become
JSON→DataFrame→JSON hash comparisons").
"""

from __future__ import annotations

import json

import pytest


@pytest.fixture(scope="module")
def bundles(spark):
    from bunsen_spark.sources.bundles import load_from_directory

    return load_from_directory(spark, "fixtures/bundles/json")


def _roundtrip(spark, bundles, resource_type: str):
    from bunsen_spark.sources.bundles import extract_entry
    from bunsen_spark.sources.export import to_resource_json
    from bunsen_spark.sources.resources import resources_from_json_strings

    original = extract_entry(spark, bundles, resource_type)
    exported = to_resource_json(original, resource_type)
    reparsed = resources_from_json_strings(exported, "json", resource_type)
    assert reparsed.schema == original.schema
    orig_rows = sorted(str(r) for r in original.collect())
    back_rows = sorted(str(r) for r in reparsed.collect())
    assert orig_rows == back_rows
    return original, exported


@pytest.mark.slow
def test_observation_roundtrip(spark, bundles):
    original, exported = _roundtrip(spark, bundles, "Observation")
    assert original.count() > 0
    # spot-check the exported JSON uses FHIR choice spelling, not the
    # nested analytic one, and omits synthetic id / null keys
    sample = json.loads(exported.limit(50).collect()[0]["json"])
    assert sample["resourceType"] == "Observation"
    assert "value" not in sample
    assert any(k.startswith("value") for k in sample) or "code" in sample
    assert "patientId" not in json.dumps(sample)


def test_patient_roundtrip(spark, bundles):
    _roundtrip(spark, bundles, "Patient")


def test_condition_roundtrip(spark, bundles):
    _roundtrip(spark, bundles, "Condition")


def test_to_bundle(spark, bundles):
    from bunsen_spark.sources.bundles import extract_entry
    from bunsen_spark.sources.export import to_bundle

    conditions = extract_entry(spark, bundles, "Condition")
    b = to_bundle(conditions, "Condition")
    assert b["resourceType"] == "Bundle"
    assert len(b["entry"]) == conditions.count()
    assert all(e["resource"]["resourceType"] == "Condition" for e in b["entry"])
