"""XML ingestion parity: the XML path must produce DataFrames identical
to the JSON path for the same bundles (reference ships the same data as
JSON and XML twins — SURVEY §5 test-input row)."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def json_bundles(spark):
    from bunsen_spark.sources.bundles import load_from_directory

    return load_from_directory(spark, "fixtures/bundles/json")


@pytest.fixture(scope="module")
def xml_bundles(spark):
    from bunsen_spark.sources.xml import load_from_directory_xml

    return load_from_directory_xml(spark, "fixtures/bundles/xml")


@pytest.mark.parametrize("resource_type", ["Patient", "Condition", "Observation"])
def test_xml_matches_json(spark, json_bundles, xml_bundles, resource_type):
    from bunsen_spark.sources.bundles import extract_entry

    via_json = extract_entry(spark, json_bundles, resource_type)
    via_xml = extract_entry(spark, xml_bundles, resource_type)
    assert via_xml.schema == via_json.schema
    a = sorted(str(r) for r in via_json.collect())
    b = sorted(str(r) for r in via_xml.collect())
    assert a == b
    assert len(a) > 0


def test_xml_valueset_resource_scan(spark, tmp_path):
    """Standalone XML resource scan (S6): ValueSet parsed from XML
    matches the JSON-derived one."""
    import json as jsonlib

    from bunsen_spark.sources.resources import read_resources_from_directory
    from bunsen_spark.sources.xml import read_xml_resources_from_directory
    from tools.json_bundle_to_xml import bundle_json_to_xml

    src = jsonlib.load(open("fixtures/valuesets/married_maritalstatus.json"))
    (tmp_path / "vs.xml").write_text(
        bundle_json_to_xml(jsonlib.dumps(src))
    )
    via_xml = read_xml_resources_from_directory(spark, str(tmp_path), "ValueSet")
    via_json = read_resources_from_directory(
        spark, "fixtures/valuesets", "ValueSet"
    )
    assert via_xml.schema == via_json.schema
    assert sorted(str(r) for r in via_xml.collect()) == sorted(
        str(r) for r in via_json.collect()
    )


def test_xml_profile_resource_scan(spark, tmp_path):
    """A profile read from a directory of standalone XML resources keeps
    the rows of its base type, as the JSON directory read does."""
    import json as jsonlib

    from bunsen_spark.sources.resources import read_resources_from_directory
    from bunsen_spark.sources.xml import fhir_json_to_xml, read_xml_resources_from_directory

    bundle = jsonlib.load(open("fixtures/bundles/uscore/pat-3001.bundle.json"))
    (tmp_path / "json").mkdir()
    (tmp_path / "xml").mkdir()
    for i, entry in enumerate(bundle["entry"]):
        doc = jsonlib.dumps(entry["resource"])
        (tmp_path / "json" / f"{i}.json").write_text(doc)
        (tmp_path / "xml" / f"{i}.xml").write_text(fhir_json_to_xml(doc))
    via_json = read_resources_from_directory(spark, str(tmp_path / "json"), "UsCorePatient")
    via_xml = read_xml_resources_from_directory(spark, str(tmp_path / "xml"), "UsCorePatient")
    rows = sorted(str(r) for r in via_json.collect())
    assert len(rows) == 2
    assert sorted(str(r) for r in via_xml.collect()) == rows
