"""ConceptMaps collection tests — mirrors the reference acceptance spec
(`python/tests/test_bunsen_stu3.py` concept-map cases, `ConceptMapsTest.java`):
directory load (gender map → 5 mappings), payload strip, duplicate
rejection, disjoint import, translate with OTHERMAP delegation, warehouse
round-trip.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

GENDER_URL = "urn:bunsen-spark:conceptmap:demographics:gender"
BASE_URL = "urn:bunsen-spark:conceptmap:delegation:base"
FALLBACK_URL = "urn:bunsen-spark:conceptmap:delegation:fallback"


@pytest.fixture(scope="module")
def concept_maps(spark):
    from bunsen_spark.operators.concept_maps import ConceptMaps

    return ConceptMaps.empty(spark).with_maps_from_directory("fixtures/conceptmaps")


@pytest.fixture(scope="module")
def delegating_maps(spark):
    from bunsen_spark.operators.concept_maps import ConceptMaps

    return ConceptMaps.empty(spark).with_maps_from_directory(
        "fixtures/conceptmaps_delegation"
    )


def test_gender_map_explodes_to_five_mappings(concept_maps):
    # reference golden count: gender concept map → 5 mappings
    m = concept_maps.get_mappings(GENDER_URL)
    assert m.count() == 5
    rows = {
        (r["sourcevalue"], r["targetvalue"]) for r in m.collect()
    }
    assert rows == {
        ("F", "female"),
        ("f", "female"),
        ("M", "male"),
        ("m", "male"),
        ("U", "unknown"),
    }


def test_metadata_payload_stripped(concept_maps):
    sizes = (
        concept_maps.get_maps()
        .select(F.explode("group").alias("g"))
        .select(F.size("g.element").alias("n"))
        .collect()
    )
    assert all(r["n"] == 0 for r in sizes)


def test_latest_version(concept_maps):
    assert concept_maps.latest_version(GENDER_URL) == "0.0.1"
    assert concept_maps.latest_version("urn:no-such") is None


def test_duplicate_rejected(spark, concept_maps):
    from bunsen_spark.sources.resources import read_resources_from_directory

    again = read_resources_from_directory(spark, "fixtures/conceptmaps", "ConceptMap")
    with pytest.raises(ValueError, match="already present"):
        concept_maps.with_concept_maps(again)


def test_disjoint_import_skips_existing(concept_maps):
    # re-importing the same directory disjointly is a no-op, not an error
    again = concept_maps.with_disjoint_maps_from_directory("fixtures/conceptmaps")
    assert again.get_maps().count() == concept_maps.get_maps().count()


def test_effective_mappings_with_delegation(delegating_maps):
    eff = {
        (r["sourcevalue"], r["targetvalue"])
        for r in delegating_maps.effective_mappings(BASE_URL).collect()
    }
    # own usable mapping A→alpha wins over delegate's A→alpha-alt;
    # C→gamma-narrow is excluded by the equivalence whitelist, and the
    # delegate supplies B→beta for the code the base leaves unmapped
    assert eff == {("A", "alpha"), ("B", "beta")}


def test_translate_join(spark, delegating_maps):
    facts = spark.createDataFrame(
        [("urn:bunsen-spark:code:letters", c) for c in ["A", "B", "Z"]],
        "system string, code string",
    )
    out = delegating_maps.translate(facts, BASE_URL, "system", "code")
    got = {r["code"]: r["targetvalue"] for r in out.collect()}
    assert got == {"A": "alpha", "B": "beta", "Z": None}


def test_warehouse_round_trip(spark, concept_maps, tmp_path):
    from bunsen_spark.operators.concept_maps import ConceptMaps

    db = "cm_test_db"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    concept_maps.write_to_database(db, path=str(tmp_path))
    reloaded = ConceptMaps.get_from_database(spark, db)
    assert reloaded.get_mappings(GENDER_URL).count() == 5
    with pytest.raises(ValueError, match="already exists"):
        concept_maps.write_to_database(db, path=str(tmp_path))
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_get_concept_map_reassembles_nested_resource(spark, concept_maps):
    """D5: stored flat mappings → full nested ConceptMap resource row →
    JSON equal to the original fixture (element/target arrays sorted by
    code; the flat table records no document order)."""
    import json

    from bunsen_spark.sources.export import to_resource_json

    one = concept_maps.get_concept_map(GENDER_URL)
    # exact analytic schema and original column order
    assert one.schema == concept_maps.get_maps().schema
    assert one.count() == 1

    got = json.loads(to_resource_json(one, "ConceptMap").collect()[0]["json"])
    want = json.load(open("fixtures/conceptmaps/gender.json"))

    def norm(d):
        for g in d.get("group", []):
            for e in g.get("element", []):
                e["target"].sort(key=lambda t: t["code"])
            g["element"].sort(key=lambda e: e["code"])
        return d

    assert norm(got) == norm(want)


def test_get_concept_map_after_warehouse(spark, concept_maps, tmp_path):
    """The read-back path the reference implements in
    `ConceptMaps.java:134-199`: database → collection → full resource."""
    from bunsen_spark.operators.concept_maps import ConceptMaps

    spark.sql("DROP DATABASE IF EXISTS reassembly_cm CASCADE")
    concept_maps.write_to_database("reassembly_cm", path=str(tmp_path / "cmdb"))
    stored = ConceptMaps.get_from_database(spark, "reassembly_cm")
    one = stored.get_concept_map(GENDER_URL)
    row = one.collect()[0]
    elements = {e["code"] for g in row["group"] for e in g["element"]}
    assert elements == {"F", "f", "M", "m", "U"}
    spark.sql("DROP DATABASE IF EXISTS reassembly_cm CASCADE")


def test_same_system_pair_groups_get_their_own_elements(spark):
    """Two groups with the same (source, target) system pair — one with
    an element, one with only an unmapped rule — re-assemble as they
    were stored: the flat mapping rows go back to the first matching
    group only."""
    from bunsen_spark.operators.concept_maps import ConceptMaps

    url = "urn:bunsen-spark:conceptmap:same_pair"
    cm = ConceptMaps.empty(spark)._add_json(
        {
            "resourceType": "ConceptMap",
            "url": url,
            "version": "1",
            "status": "draft",
            "group": [
                {
                    "source": "sysA",
                    "target": "sysB",
                    "element": [{"code": "a", "target": [{"code": "b", "equivalence": "equivalent"}]}],
                },
                {"source": "sysA", "target": "sysB", "unmapped": {"mode": "provided"}},
            ],
        }
    )
    groups = cm.get_concept_map(url).select("group").collect()[0][0]
    assert [[e.code for e in g.element or []] for g in groups] == [["a"], []]
    assert groups[1].element is None  # stored without elements
