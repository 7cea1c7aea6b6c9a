"""Profile / extension-slice tests (SURVEY §1.3 extensions): a profiled
resource surfaces its extension slices as first-class named columns —
parent (nested sub-extensions) and leaf forms — and plain rows decode
under the profile with null slices (cross-profile decode,
`SparkRowConverterTest.java:532-546`)."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def bundles(spark):
    from bunsen_spark.sources.bundles import load_from_directory

    return load_from_directory(spark, "fixtures/bundles/uscore")


def test_extension_slices_become_columns(spark, bundles):
    from bunsen_spark.sources.bundles import extract_entry

    patients = extract_entry(spark, bundles, "UsCorePatient")
    assert "race" in patients.columns and "birthsex" in patients.columns
    rows = {r["id"]: r for r in patients.collect()}
    assert set(rows) == {"pat-3001", "pat-3002"}

    profiled = rows["pat-3001"]
    assert profiled["birthsex"] == "F"
    assert profiled["race"]["text"] == "Mixed"
    omb = profiled["race"]["ombCategory"]
    assert [c["code"] for c in omb] == ["2106-3", "1002-5"]
    assert omb[0]["display"] == "White"

    # cross-profile decode: a plain Patient under the profile → null slices
    plain = rows["pat-3002"]
    assert plain["birthsex"] is None
    assert plain["race"] is None
    assert plain["gender"] == "male"


def test_base_fields_unchanged_under_profile(spark, bundles):
    from bunsen_spark.schema import spark_schema_for
    from bunsen_spark.sources.bundles import extract_entry

    base = spark_schema_for("Patient")
    profiled = extract_entry(spark, bundles, "UsCorePatient").schema
    assert [f.name for f in profiled.fields[: len(base.fields)]] == [
        f.name for f in base.fields
    ]
    assert [f.name for f in profiled.fields[len(base.fields):]] == ["race", "birthsex"]


@pytest.mark.slow
def test_profiled_extensions_reexport_roundtrip(spark, bundles):
    """The former SURVEY gap: extension-slice columns re-export into
    the shared FHIR extension array (JSON and XML) and survive a full
    round-trip back to identical rows."""
    import json

    from bunsen_spark.sources.bundles import extract_entry
    from bunsen_spark.sources.export import to_resource_json, to_resource_xml
    from bunsen_spark.sources.resources import resources_from_json_strings
    from bunsen_spark.sources.xml import resources_from_xml_column

    pats = extract_entry(spark, bundles, "UsCorePatient")
    jsons = to_resource_json(pats, "UsCorePatient")
    docs = {json.loads(r["json"])["id"]: json.loads(r["json"]) for r in jsons.collect()}
    exts = {e["url"]: e for e in docs["pat-3001"]["extension"]}
    race = exts["http://hl7.org/fhir/us/core/StructureDefinition/us-core-race"]
    assert [s["valueCoding"]["code"] for s in race["extension"] if s["url"] == "ombCategory"] == [
        "2106-3",
        "1002-5",
    ]
    assert {"url": "text", "valueString": "Mixed"} in race["extension"]
    assert exts["http://hl7.org/fhir/us/core/StructureDefinition/us-core-birthsex"][
        "valueCode"
    ] == "F"
    # a row with no extensions exports none
    assert "extension" not in docs["pat-3002"]

    back_json = resources_from_json_strings(jsons, "json", "UsCorePatient")
    assert sorted(map(str, pats.collect())) == sorted(map(str, back_json.collect()))

    xml = to_resource_xml(pats, "UsCorePatient")
    back_xml = resources_from_xml_column(xml, "xml", "UsCorePatient")
    assert sorted(map(str, pats.collect())) == sorted(map(str, back_xml.collect()))
