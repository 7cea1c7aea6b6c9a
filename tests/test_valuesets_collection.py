"""ValueSets collection tests — mirrors the reference acceptance spec
(`python/tests/test_bunsen_stu3.py` valueset cases and
`ValueSetsTest.java`): directory load, member explode, payload strip,
duplicate rejection, latest-version, warehouse round-trip.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

MARRIED_URL = "urn:bunsen-spark:valueset:married_maritalstatus"


@pytest.fixture(scope="module")
def valuesets(spark):
    from bunsen_spark.operators.value_sets import ValueSets

    return ValueSets.empty(spark).with_value_sets_from_directory(
        "fixtures/valuesets"
    )


def test_directory_load_counts(valuesets):
    assert valuesets.get_value_sets().count() == 1
    # married marital-status valueset has exactly one member code
    assert valuesets.values.count() == 1


def test_values_exploded(valuesets):
    row = valuesets.get_values(MARRIED_URL).collect()[0]
    assert row["system"] == "http://hl7.org/fhir/v3/MaritalStatus"
    assert row["value"] == "M"


def test_metadata_payload_stripped(valuesets):
    # D7: stored ValueSet rows carry empty compose.include[].concept
    sizes = (
        valuesets.get_value_sets()
        .select(F.explode("compose.include").alias("i"))
        .select(F.size("i.concept").alias("n"))
        .collect()
    )
    assert all(r["n"] == 0 for r in sizes)


def test_duplicate_rejected(spark, valuesets):
    from bunsen_spark.sources.resources import read_resources_from_directory

    again = read_resources_from_directory(spark, "fixtures/valuesets", "ValueSet")
    with pytest.raises(ValueError, match="already present"):
        valuesets.with_value_sets(again)


def test_latest_version(valuesets):
    assert valuesets.latest_version(MARRIED_URL) == "0.0.1"
    assert valuesets.latest_version("urn:no-such") is None


def test_latest_versions_frame(valuesets):
    rows = valuesets.get_latest_versions().collect()
    assert {(r["url"], r["version"]) for r in rows} == {(MARRIED_URL, "0.0.1")}


def test_warehouse_round_trip(spark, valuesets, tmp_path):
    from bunsen_spark.operators.value_sets import ValueSets

    db = "vs_test_db"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    valuesets.write_to_database(db, path=str(tmp_path))
    reloaded = ValueSets.get_from_database(spark, db)
    assert reloaded.get_values(MARRIED_URL).collect()[0]["value"] == "M"
    # re-writing the same (uri, version) must be rejected
    with pytest.raises(ValueError, match="already exists"):
        valuesets.write_to_database(db, path=str(tmp_path))
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_get_value_set_reassembles_nested_resource(spark, valuesets):
    """D6 read-back: flat values → full nested ValueSet resource row.
    ``display`` is not persisted in the flat values table (reference
    parity: `AbstractValueSets` value rows carry system/version/value
    only), so compare against the fixture with displays stripped."""
    import json

    from bunsen_spark.sources.export import to_resource_json

    uri = "urn:bunsen-spark:valueset:married_maritalstatus"
    one = valuesets.get_value_set(uri)
    assert one.schema == valuesets.get_value_sets().schema
    assert one.count() == 1

    got = json.loads(to_resource_json(one, "ValueSet").collect()[0]["json"])
    want = json.load(open("fixtures/valuesets/married_maritalstatus.json"))

    def norm(d, strip_display):
        for i in d.get("compose", {}).get("include", []):
            for c in i.get("concept", []):
                if strip_display:
                    c.pop("display", None)
            i.get("concept", []).sort(key=lambda c: c["code"])
        return d

    assert norm(got, False) == norm(want, True)


def test_same_system_includes_get_their_own_concepts(spark):
    """Two includes with the same (system, version) — one with a
    concept, one filter-only — re-assemble as they were stored: the
    flat value rows go back to the first matching include only."""
    from bunsen_spark.operators.value_sets import ValueSets

    url = "urn:bunsen-spark:valueset:same_system"
    vs = ValueSets.empty(spark)._add_json(
        {
            "resourceType": "ValueSet",
            "url": url,
            "version": "1",
            "status": "draft",
            "compose": {
                "include": [
                    {"system": "sysA", "concept": [{"code": "a"}]},
                    {"system": "sysA", "filter": [{"property": "concept", "op": "is-a", "value": "a"}]},
                ]
            },
        }
    )
    row = vs.get_value_set(url).select("compose.include").collect()[0][0]
    assert [[c.code for c in i.concept or []] for i in row] == [["a"], []]
    assert row[1].concept is None  # stored without concepts
