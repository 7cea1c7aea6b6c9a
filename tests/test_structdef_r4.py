"""R4-generation FHIR support (VERDICT r5 item 4 — new capability, not
parity: the reference's R4 module is orphaned from its build,
`pom.xml:40-51`, but documents the primitive type decisions in
`bunsen-r4/.../R4DataTypeMappings.scala:31-49`).

The structdef compiler is version-agnostic over snapshots; these tests
pin the R4 artifact dialect on a faithful-subset sample of the public
R4 4.0.1 base definitions (``fixtures/r4/profiles-resources.sample.json``,
generated by ``tools/make_r4_sample_spec.py``):

* list-valued ``type.targetProfile`` / ``type.profile``;
* FHIRPath ``System.String`` primitive codes (``Resource.id``);
* R4-only primitives ``canonical`` and ``url`` (string-encoded, same
  as the reference's R4 mapping);
* R4 ``Meta.source`` and the reshaped R4 ``Money``;
* ``r4:`` resource addressing end-to-end through ``extract_entry``.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import types as T

from bunsen_spark.schema import core
from bunsen_spark.schema.resources import base_resource_type, definition_for
from bunsen_spark.schema.structdef import (
    R4_DATATYPES,
    load_r4_structure_definitions,
    r4_registry,
)

REPO = Path(__file__).resolve().parent.parent
SAMPLE = REPO / "fixtures" / "r4" / "profiles-resources.sample.json"


@pytest.fixture(scope="module", autouse=True)
def _load_sample():
    load_r4_structure_definitions(SAMPLE)


def field_types(struct):
    return {f.name: f.dataType for f in struct.fields}


def test_r4_golden_patient_schema():
    sch = core.spark_schema(r4_registry().get("Patient"))
    ft = field_types(sch)
    assert list(ft) == [
        "id", "meta", "implicitRules", "language", "text", "identifier",
        "active", "name", "telecom", "gender", "birthDate", "deceased",
        "address", "maritalStatus", "multipleBirth", "photo", "contact",
        "communication", "generalPractitioner", "managingOrganization",
        "link",
    ]
    # deceased[x] choice struct with both R4 branches
    assert {f.name for f in ft["deceased"].fields} == {"boolean", "dateTime"}
    # multi-target reference -> one synthetic id column per base target
    gp = ft["generalPractitioner"].elementType
    assert {f.name for f in gp.fields} == {
        "reference", "display",
        "organizationId", "practitionerId", "practitionerRoleId",
    }
    # backbone arrays compile recursively
    link = ft["link"].elementType
    assert {f.name for f in link.fields} == {"other", "type"}
    assert {f.name for f in ft["meta"].fields} >= {"source", "versionId"}


def test_r4_golden_observation_schema():
    sch = core.spark_schema(r4_registry().get("Observation"))
    ft = field_types(sch)
    # R4 renamed context -> encounter
    assert "encounter" in ft and "context" not in ft
    # the full R4 value[x] branch set, in spec order
    assert [f.name for f in ft["value"].fields] == [
        "quantity", "codeableConcept", "string", "boolean", "integer",
        "range", "ratio", "sampledData", "time", "dateTime", "period",
    ]
    assert ft["value"]["integer"].dataType == T.IntegerType()
    # contentReference: component.referenceRange reuses the backbone
    comp = ft["component"].elementType
    comp_ft = field_types(comp)
    assert comp_ft["referenceRange"].elementType == ft["referenceRange"].elementType
    # R4 list-valued targetProfile resolved to base-type id columns
    assert {f.name for f in ft["subject"].fields} == {
        "reference", "display", "patientId", "groupId", "deviceId", "locationId",
    }


def test_r4_golden_condition_schema():
    sch = core.spark_schema(r4_registry().get("Condition"))
    ft = field_types(sch)
    # R4 made clinicalStatus a CodeableConcept (a code in STU3)
    assert ft["clinicalStatus"].typeName() == "struct"
    assert "coding" in {f.name for f in ft["clinicalStatus"].fields}
    # R4 renamed assertedDate -> recordedDate
    assert "recordedDate" in ft and "assertedDate" not in ft
    assert {f.name for f in ft["onset"].fields} == {
        "dateTime", "age", "period", "range", "string",
    }


def test_r4_only_primitives_compile_as_strings():
    ep = field_types(core.spark_schema(r4_registry().get("Endpoint")))
    assert ep["address"] == T.StringType()  # url
    cp = field_types(core.spark_schema(r4_registry().get("CarePlan")))
    assert cp["instantiatesCanonical"] == T.ArrayType(T.StringType())  # canonical*


def test_r4_money_and_meta_shapes():
    money = R4_DATATYPES["Money"]
    assert [f.name for f in money.fields] == ["id", "value", "currency"]
    meta = R4_DATATYPES["Meta"]
    assert "source" in {f.name for f in meta.fields}


def test_r4_prefix_addressing():
    d = definition_for("r4:Patient")
    assert isinstance(d, core.Complex) and d.name == "Patient"
    assert base_resource_type("r4:Observation") == "Observation"
    # the bare STU3 name still resolves to the hand-written STU3 DSL —
    # the generations cannot shadow each other (STU3 Observation has
    # ``context``; R4 renamed it ``encounter``)
    stu3_names = {
        f.name for f in core.spark_schema(definition_for("Observation")).fields
    }
    r4_names = {
        f.name for f in core.spark_schema(definition_for("r4:Observation")).fields
    }
    assert "context" in stu3_names and "encounter" not in stu3_names
    assert "encounter" in r4_names and "context" not in r4_names
    with pytest.raises(ValueError, match="R4"):
        definition_for("r4:NoSuchResource")


def test_r4_extract_entry_roundtrip(spark):
    from bunsen_spark.sources.bundles import extract_entry, from_json_column

    bundle = {
        "resourceType": "Bundle",
        "entry": [
            {
                "resource": {
                    "resourceType": "Observation",
                    "id": "o1",
                    "meta": {"versionId": "1", "source": "urn:example:feed"},
                    "status": "final",
                    "code": {
                        "coding": [
                            {"system": "http://loinc.org", "code": "8480-6"}
                        ]
                    },
                    "subject": {"reference": "Patient/p1"},
                    "encounter": {"reference": "Encounter/e1"},
                    "valueInteger": 42,
                    "component": [
                        {
                            "code": {"coding": [{"code": "8462-4"}]},
                            "valueQuantity": {"value": 64.0, "unit": "mmHg"},
                        }
                    ],
                }
            },
            {"resource": {"resourceType": "Patient", "id": "p1", "gender": "female"}},
        ],
    }
    df = spark.createDataFrame([(json.dumps(bundle),)], "content string")
    rows = from_json_column(df, "content")
    obs = extract_entry(spark, rows, "r4:Observation")
    [r] = obs.collect()
    assert r.id == "o1"
    assert r.meta.source == "urn:example:feed"
    assert r.value.integer == 42
    assert r.subject.reference == "Patient/p1"
    assert r.subject.patientId == "p1"
    assert r.encounter.reference == "Encounter/e1"
    assert r.component[0].value.quantity.unit == "mmHg"
    pat = extract_entry(spark, rows, "r4:Patient")
    [p] = pat.collect()
    assert (p.id, p.gender) == ("p1", "female")


def test_r4_contained_resource(spark):
    """An R4 contained entry is dispatched on its resourceType and lands
    in the field named by the unprefixed type."""
    from bunsen_spark.r4.bundles import extract_entry
    from bunsen_spark.sources.bundles import from_json_column

    bundle = {
        "resourceType": "Bundle",
        "entry": [
            {
                "resource": {
                    "resourceType": "Observation",
                    "id": "o1",
                    "status": "final",
                    "contained": [{"resourceType": "Patient", "id": "p1", "gender": "female"}],
                    "subject": {"reference": "#p1"},
                }
            }
        ],
    }
    df = spark.createDataFrame([(json.dumps(bundle),)], "content string")
    obs = extract_entry(spark, from_json_column(df, "content"), "Observation", contained_types=("Patient",))
    assert obs.schema["contained"].dataType.elementType.names == ["patient"]
    [r] = obs.collect()
    assert (r.contained[0].patient.id, r.contained[0].patient.gender) == ("p1", "female")
