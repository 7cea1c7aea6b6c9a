"""STU3 resource definitions + public schema API.

Resource shapes follow the public HL7 FHIR STU3 resource definitions
(hl7.org/fhir/STU3/<resource>.html) with the same structural rules the
reference applies (SURVEY §1.3). The set covers every resource type the
reference's python test suite touches (`test_bunsen_stu3.py`) plus the
terminology resources (ValueSet, ConceptMap).

Public API:
    spark_schema_for("Observation")  -> nested analytic StructType
    json_schema_for("Observation")   -> FHIR-JSON parse StructType
    converter_for("Observation", ()) -> Column mapping column PARSED → analytic
    export_struct_for("Observation") -> Column mapping column ANALYTIC → FHIR JSON
    resource_names()                 -> supported type names

The schema and Column functions are cached per type (``clear_caches``
resets them); the Column ones read fixed input columns, so every decode of
a type reuses one expression, lambda names included, and plans repeat.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import core
from .core import Choice, Complex, Extension, Field, Reference, backbone
from .datatypes import (
    ADDRESS,
    ANNOTATION,
    ATTACHMENT,
    CODEABLE_CONCEPT,
    CODING,
    CONTACT_POINT,
    DOSAGE,
    HUMAN_NAME,
    IDENTIFIER,
    META,
    NARRATIVE,
    PERIOD,
    QUANTITY,
    RANGE,
    VALUE_CHOICE,
)

_DOMAIN = (
    Field("id", "id"),
    Field("meta", META),
    Field("implicitRules", "uri"),
    Field("language", "code"),
    Field("text", NARRATIVE),
)


PATIENT = Complex(
    "Patient",
    (
        *_DOMAIN,
        Field("identifier", IDENTIFIER, many=True),
        Field("active", "boolean"),
        Field("name", HUMAN_NAME, many=True),
        Field("telecom", CONTACT_POINT, many=True),
        Field("gender", "code"),
        Field("birthDate", "date"),
        Field("deceased", Choice((("boolean", "boolean"), ("dateTime", "dateTime")))),
        Field("address", ADDRESS, many=True),
        Field("maritalStatus", CODEABLE_CONCEPT),
        Field("multipleBirth", Choice((("boolean", "boolean"), ("integer", "integer")))),
        Field("photo", ATTACHMENT, many=True),
        Field(
            "contact",
            backbone(
                "PatientContact",
                Field("id", "string"),
                Field("relationship", CODEABLE_CONCEPT, many=True),
                Field("name", HUMAN_NAME),
                Field("telecom", CONTACT_POINT, many=True),
                Field("address", ADDRESS),
                Field("gender", "code"),
                Field("organization", Reference(("Organization",))),
                Field("period", PERIOD),
            ),
            many=True,
        ),
        Field(
            "communication",
            backbone(
                "PatientCommunication",
                Field("id", "string"),
                Field("language", CODEABLE_CONCEPT),
                Field("preferred", "boolean"),
            ),
            many=True,
        ),
        Field(
            "generalPractitioner",
            Reference(("Organization", "Practitioner")),
            many=True,
        ),
        Field("managingOrganization", Reference(("Organization",))),
    ),
)

_OBS_REFERENCE_RANGE = backbone(
    "ObservationReferenceRange",
    Field("id", "string"),
    Field("low", QUANTITY),
    Field("high", QUANTITY),
    Field("type", CODEABLE_CONCEPT),
    Field("appliesTo", CODEABLE_CONCEPT, many=True),
    Field("age", RANGE),
    Field("text", "string"),
)

OBSERVATION = Complex(
    "Observation",
    (
        *_DOMAIN,
        Field("identifier", IDENTIFIER, many=True),
        Field("basedOn", Reference(("CarePlan", "MedicationRequest", "ProcedureRequest")), many=True),
        Field("status", "code"),
        Field("category", CODEABLE_CONCEPT, many=True),
        Field("code", CODEABLE_CONCEPT),
        Field("subject", Reference(("Patient", "Group", "Device", "Location"))),
        Field("context", Reference(("Encounter", "EpisodeOfCare"))),
        Field("effective", Choice((("dateTime", "dateTime"), ("period", PERIOD)))),
        Field("issued", "instant"),
        Field(
            "performer",
            Reference(("Practitioner", "Organization", "Patient", "RelatedPerson")),
            many=True,
        ),
        Field("value", VALUE_CHOICE),
        Field("dataAbsentReason", CODEABLE_CONCEPT),
        Field("interpretation", CODEABLE_CONCEPT),
        Field("comment", "string"),
        Field("bodySite", CODEABLE_CONCEPT),
        Field("method", CODEABLE_CONCEPT),
        Field("specimen", Reference(("Specimen",))),
        Field("device", Reference(("Device", "DeviceMetric"))),
        Field("referenceRange", _OBS_REFERENCE_RANGE, many=True),
        Field(
            "component",
            backbone(
                "ObservationComponent",
                Field("id", "string"),
                Field("code", CODEABLE_CONCEPT),
                Field("value", VALUE_CHOICE),
                Field("dataAbsentReason", CODEABLE_CONCEPT),
                Field("interpretation", CODEABLE_CONCEPT),
                # contentReference → Observation.referenceRange
                Field("referenceRange", _OBS_REFERENCE_RANGE, many=True),
            ),
            many=True,
        ),
    ),
)

CONDITION = Complex(
    "Condition",
    (
        *_DOMAIN,
        Field("identifier", IDENTIFIER, many=True),
        Field("clinicalStatus", "code"),
        Field("verificationStatus", "code"),
        Field("category", CODEABLE_CONCEPT, many=True),
        Field("severity", CODEABLE_CONCEPT),
        Field("code", CODEABLE_CONCEPT),
        Field("bodySite", CODEABLE_CONCEPT, many=True),
        Field("subject", Reference(("Patient", "Group"))),
        Field("context", Reference(("Encounter", "EpisodeOfCare"))),
        Field(
            "onset",
            Choice(
                (
                    ("dateTime", "dateTime"),
                    ("age", QUANTITY),
                    ("period", PERIOD),
                    ("range", RANGE),
                    ("string", "string"),
                )
            ),
        ),
        Field(
            "abatement",
            Choice(
                (
                    ("dateTime", "dateTime"),
                    ("age", QUANTITY),
                    ("boolean", "boolean"),
                    ("period", PERIOD),
                    ("range", RANGE),
                    ("string", "string"),
                )
            ),
        ),
        Field("assertedDate", "dateTime"),
        Field("asserter", Reference(("Practitioner", "Patient", "RelatedPerson"))),
        Field(
            "stage",
            backbone(
                "ConditionStage",
                Field("id", "string"),
                Field("summary", CODEABLE_CONCEPT),
                Field(
                    "assessment",
                    Reference(("ClinicalImpression", "DiagnosticReport", "Observation")),
                    many=True,
                ),
            ),
        ),
        Field(
            "evidence",
            backbone(
                "ConditionEvidence",
                Field("id", "string"),
                Field("code", CODEABLE_CONCEPT, many=True),
                Field("detail", Reference(("Resource",)), many=True),
            ),
            many=True,
        ),
        Field("note", ANNOTATION, many=True),
    ),
)

ENCOUNTER = Complex(
    "Encounter",
    (
        *_DOMAIN,
        Field("identifier", IDENTIFIER, many=True),
        Field("status", "code"),
        Field("class", CODING),
        Field("type", CODEABLE_CONCEPT, many=True),
        Field("priority", CODEABLE_CONCEPT),
        Field("subject", Reference(("Patient", "Group"))),
        Field("period", PERIOD),
        Field("length", QUANTITY),
        Field("reason", CODEABLE_CONCEPT, many=True),
        Field(
            "hospitalization",
            backbone(
                "EncounterHospitalization",
                Field("id", "string"),
                Field("preAdmissionIdentifier", IDENTIFIER),
                Field("origin", Reference(("Location",))),
                Field("admitSource", CODEABLE_CONCEPT),
                Field("reAdmission", CODEABLE_CONCEPT),
                Field("dietPreference", CODEABLE_CONCEPT, many=True),
                Field("specialCourtesy", CODEABLE_CONCEPT, many=True),
                Field("specialArrangement", CODEABLE_CONCEPT, many=True),
                Field("destination", Reference(("Location",))),
                Field("dischargeDisposition", CODEABLE_CONCEPT),
            ),
        ),
        Field("serviceProvider", Reference(("Organization",))),
    ),
)

_MEDICATION_CHOICE = Choice(
    (("codeableConcept", CODEABLE_CONCEPT), ("reference", Reference(("Medication",))))
)

_RATIO = backbone(
    "Ratio",
    Field("id", "string"),
    Field("numerator", QUANTITY),
    Field("denominator", QUANTITY),
)

MEDICATION = Complex(
    "Medication",
    (
        *_DOMAIN,
        Field("code", CODEABLE_CONCEPT),
        Field("status", "code"),
        Field("isBrand", "boolean"),
        Field("isOverTheCounter", "boolean"),
        Field("manufacturer", Reference(("Organization",))),
        Field("form", CODEABLE_CONCEPT),
        Field(
            "ingredient",
            backbone(
                "MedicationIngredient",
                Field("id", "string"),
                Field(
                    "item",
                    Choice(
                        (
                            ("codeableConcept", CODEABLE_CONCEPT),
                            ("reference", Reference(("Substance", "Medication"))),
                        )
                    ),
                ),
                Field("isActive", "boolean"),
                Field("amount", _RATIO),
            ),
            many=True,
        ),
    ),
)


MEDICATION_REQUEST = Complex(
    "MedicationRequest",
    (
        *_DOMAIN,
        Field("identifier", IDENTIFIER, many=True),
        Field("status", "code"),
        Field("intent", "code"),
        Field("priority", "code"),
        Field("medication", _MEDICATION_CHOICE),
        Field("subject", Reference(("Patient", "Group"))),
        Field("context", Reference(("Encounter", "EpisodeOfCare"))),
        Field("authoredOn", "dateTime"),
        Field(
            "requester",
            backbone(
                "MedicationRequestRequester",
                Field("id", "string"),
                Field(
                    "agent",
                    Reference(("Practitioner", "Organization", "Patient", "RelatedPerson", "Device")),
                ),
                Field("onBehalfOf", Reference(("Organization",))),
            ),
        ),
        Field("reasonCode", CODEABLE_CONCEPT, many=True),
        Field("note", ANNOTATION, many=True),
        Field("dosageInstruction", DOSAGE, many=True),
    ),
)

MEDICATION_STATEMENT = Complex(
    "MedicationStatement",
    (
        *_DOMAIN,
        Field("identifier", IDENTIFIER, many=True),
        Field("status", "code"),
        Field("category", CODEABLE_CONCEPT),
        Field("medication", _MEDICATION_CHOICE),
        Field("effective", Choice((("dateTime", "dateTime"), ("period", PERIOD)))),
        Field("dateAsserted", "dateTime"),
        Field("informationSource", Reference(("Patient", "Practitioner", "RelatedPerson", "Organization"))),
        Field("subject", Reference(("Patient", "Group"))),
        Field("taken", "code"),
        Field("reasonCode", CODEABLE_CONCEPT, many=True),
        Field("note", ANNOTATION, many=True),
        Field("dosage", DOSAGE, many=True),
    ),
)

PROCEDURE = Complex(
    "Procedure",
    (
        *_DOMAIN,
        Field("identifier", IDENTIFIER, many=True),
        Field("status", "code"),
        Field("notDone", "boolean"),
        Field("notDoneReason", CODEABLE_CONCEPT),
        Field("category", CODEABLE_CONCEPT),
        Field("code", CODEABLE_CONCEPT),
        Field("subject", Reference(("Patient", "Group"))),
        Field("context", Reference(("Encounter", "EpisodeOfCare"))),
        Field("performed", Choice((("dateTime", "dateTime"), ("period", PERIOD)))),
        Field("outcome", CODEABLE_CONCEPT),
        Field("complication", CODEABLE_CONCEPT, many=True),
        Field("followUp", CODEABLE_CONCEPT, many=True),
        Field("note", ANNOTATION, many=True),
    ),
)

IMMUNIZATION = Complex(
    "Immunization",
    (
        *_DOMAIN,
        Field("identifier", IDENTIFIER, many=True),
        Field("status", "code"),
        Field("notGiven", "boolean"),
        Field("vaccineCode", CODEABLE_CONCEPT),
        Field("patient", Reference(("Patient",))),
        Field("encounter", Reference(("Encounter",))),
        Field("date", "dateTime"),
        Field("primarySource", "boolean"),
        Field("lotNumber", "string"),
        Field("expirationDate", "date"),
        Field("site", CODEABLE_CONCEPT),
        Field("route", CODEABLE_CONCEPT),
        Field("doseQuantity", QUANTITY),
        Field("note", ANNOTATION, many=True),
    ),
)

ALLERGY_INTOLERANCE = Complex(
    "AllergyIntolerance",
    (
        *_DOMAIN,
        Field("identifier", IDENTIFIER, many=True),
        Field("clinicalStatus", "code"),
        Field("verificationStatus", "code"),
        Field("type", "code"),
        Field("category", "code", many=True),
        Field("criticality", "code"),
        Field("code", CODEABLE_CONCEPT),
        Field("patient", Reference(("Patient",))),
        Field(
            "onset",
            Choice(
                (
                    ("dateTime", "dateTime"),
                    ("age", QUANTITY),
                    ("period", PERIOD),
                    ("range", RANGE),
                    ("string", "string"),
                )
            ),
        ),
        Field("assertedDate", "dateTime"),
        Field("lastOccurrence", "dateTime"),
        Field("note", ANNOTATION, many=True),
        Field(
            "reaction",
            backbone(
                "AllergyIntoleranceReaction",
                Field("id", "string"),
                Field("substance", CODEABLE_CONCEPT),
                Field("manifestation", CODEABLE_CONCEPT, many=True),
                Field("description", "string"),
                Field("onset", "dateTime"),
                Field("severity", "code"),
                Field("exposureRoute", CODEABLE_CONCEPT),
            ),
            many=True,
        ),
    ),
)

_VALUESET_CONCEPT = backbone(
    "ValueSetConcept",
    Field("id", "string"),
    Field("code", "code"),
    Field("display", "string"),
)

_VALUESET_INCLUDE = backbone(
    "ValueSetInclude",
    Field("id", "string"),
    Field("system", "uri"),
    Field("version", "string"),
    Field("concept", _VALUESET_CONCEPT, many=True),
    Field(
        "filter",
        backbone(
            "ValueSetFilter",
            Field("id", "string"),
            Field("property", "code"),
            Field("op", "code"),
            Field("value", "code"),
        ),
        many=True,
    ),
    Field("valueSet", "uri", many=True),
)

VALUESET = Complex(
    "ValueSet",
    (
        *_DOMAIN,
        Field("url", "uri"),
        Field("identifier", IDENTIFIER, many=True),
        Field("version", "string"),
        Field("name", "string"),
        Field("title", "string"),
        Field("status", "code"),
        Field("experimental", "boolean"),
        Field("date", "dateTime"),
        Field("publisher", "string"),
        Field("description", "markdown"),
        Field("immutable", "boolean"),
        Field("purpose", "markdown"),
        Field("copyright", "markdown"),
        Field("extensible", "boolean"),
        Field(
            "compose",
            backbone(
                "ValueSetCompose",
                Field("id", "string"),
                Field("lockedDate", "date"),
                Field("inactive", "boolean"),
                Field("include", _VALUESET_INCLUDE, many=True),
                # contentReference → compose.include
                Field("exclude", _VALUESET_INCLUDE, many=True),
            ),
        ),
    ),
)

CONCEPTMAP = Complex(
    "ConceptMap",
    (
        *_DOMAIN,
        Field("url", "uri"),
        Field("identifier", IDENTIFIER),
        Field("version", "string"),
        Field("name", "string"),
        Field("title", "string"),
        Field("status", "code"),
        Field("experimental", "boolean"),
        Field("date", "dateTime"),
        Field("publisher", "string"),
        Field("description", "markdown"),
        Field("source", Choice((("uri", "uri"), ("reference", Reference(("ValueSet",)))))),
        Field("target", Choice((("uri", "uri"), ("reference", Reference(("ValueSet",)))))),
        Field(
            "group",
            backbone(
                "ConceptMapGroup",
                Field("id", "string"),
                Field("source", "uri"),
                Field("sourceVersion", "string"),
                Field("target", "uri"),
                Field("targetVersion", "string"),
                Field(
                    "element",
                    backbone(
                        "ConceptMapElement",
                        Field("id", "string"),
                        Field("code", "code"),
                        Field("display", "string"),
                        Field(
                            "target",
                            backbone(
                                "ConceptMapTarget",
                                Field("id", "string"),
                                Field("code", "code"),
                                Field("display", "string"),
                                Field("equivalence", "code"),
                                Field("comment", "string"),
                            ),
                            many=True,
                        ),
                    ),
                    many=True,
                ),
                Field(
                    "unmapped",
                    backbone(
                        "ConceptMapUnmapped",
                        Field("id", "string"),
                        Field("mode", "code"),
                        Field("code", "code"),
                        Field("display", "string"),
                        Field("url", "uri"),
                    ),
                ),
            ),
            many=True,
        ),
    ),
)


# -- profiles: base resources + extension slices (SURVEY §1.3) ---------------

US_CORE_RACE_URL = "http://hl7.org/fhir/us/core/StructureDefinition/us-core-race"
US_CORE_BIRTHSEX_URL = "http://hl7.org/fhir/us/core/StructureDefinition/us-core-birthsex"

#: US-Core-style Patient profile: complex (parent) race extension with
#: ombCategory/text sub-extensions + leaf birthsex extension — exercises
#: both visitParentExtension and visitLeafExtension analogues
#: (`DefinitionToSparkVisitor.java:522-562`).
US_CORE_PATIENT = Complex(
    "Patient",
    (
        *PATIENT.fields,
        Field(
            "race",
            Extension(
                US_CORE_RACE_URL,
                children=(
                    Field("ombCategory", Extension("ombCategory", CODING), many=True),
                    Field("text", Extension("text", "string")),
                ),
            ),
        ),
        Field("birthsex", Extension(US_CORE_BIRTHSEX_URL, "code")),
    ),
)

#: profile name → (base resource type, definition); rows written under
#: one profile can be read under another — decode is by field name
#: (`DefinitionToSparkVisitor.java:135-152`)
_PROFILES: dict[str, tuple[str, Complex]] = {
    "UsCorePatient": ("Patient", US_CORE_PATIENT),
}

_RESOURCES: dict[str, Complex] = {
    r.name: r
    for r in (
        PATIENT,
        MEDICATION,
        OBSERVATION,
        CONDITION,
        ENCOUNTER,
        MEDICATION_REQUEST,
        MEDICATION_STATEMENT,
        PROCEDURE,
        IMMUNIZATION,
        ALLERGY_INTOLERANCE,
        VALUESET,
        CONCEPTMAP,
    )
}


def resource_names() -> list[str]:
    return sorted(_RESOURCES)


def definition_for(resource_type: str) -> Complex:
    if resource_type.startswith("r4:"):
        # R4-generation address: resolved ONLY through the R4 registry
        # (never the STU3 defaults), so the two spec generations can't
        # shadow each other's type names
        from .structdef import r4_registry

        compiled = r4_registry().get(resource_type[3:])
        if isinstance(compiled, Complex):
            return compiled
        raise ValueError(
            f"unsupported R4 resource type {resource_type!r}; load the "
            "public R4 profiles-resources.json (hl7.org/fhir/R4) via "
            "bunsen_spark.schema.structdef.load_r4_structure_definitions "
            f"or drop it at $BUNSEN_SPARK_FHIR_R4_SPEC_DIR / "
            "fixtures/spec-r4/. Registered R4 profiles: "
            f"{r4_registry().resource_profile_names()}"
        )
    if resource_type in _PROFILES:
        return _PROFILES[resource_type][1]
    if resource_type in _RESOURCES:
        return _RESOURCES[resource_type]
    # spec-driven fallback: any StructureDefinition registered with the
    # default registry (bundled US-Core + user-loaded spec files),
    # addressable by canonical url, id, or name
    from .structdef import default_registry

    compiled = default_registry().get(resource_type)
    if isinstance(compiled, Complex):
        return compiled
    raise ValueError(
        f"unsupported resource type {resource_type!r}; supported: "
        f"{resource_names() + sorted(_PROFILES)} plus spec-registered "
        f"profiles {default_registry().resource_profile_names()}. "
        "Any other STU3 resource works after registering its public "
        "spec artifact: download profiles-resources.json from "
        "hl7.org/fhir/STU3, optionally shrink it with "
        "tools/minimize_structdefs.py, then call "
        "bunsen_spark.schema.structdef.load_structure_definitions(path)."
    )


def base_resource_type(resource_type: str) -> str:
    """The FHIR resourceType a profile's rows carry (profiles are
    addressed by profile name but filter entries by base type)."""
    if resource_type.startswith("r4:"):
        from .structdef import r4_registry

        name = resource_type[3:]
        return r4_registry().base_type(name) or name
    if resource_type in _PROFILES:
        return _PROFILES[resource_type][0]
    if resource_type not in _RESOURCES:
        from .structdef import default_registry

        base = default_registry().base_type(resource_type)
        if base is not None:
            return base
    return resource_type


#: the input column of every converter: a ``json_schema_with_contained`` parse
PARSED = "r"
#: the input column of every export struct: the analytic row as one struct
ANALYTIC = "row"


@lru_cache(maxsize=None)
def spark_schema_for(resource_type: str) -> T.StructType:
    return core.spark_schema(definition_for(resource_type))


@lru_cache(maxsize=None)
def json_schema_for(resource_type: str) -> T.StructType:
    return core.json_schema(definition_for(resource_type))


@lru_cache(maxsize=None)
def converter_for(resource_type: str, contained: tuple[str, ...]) -> Column:
    """Column ``PARSED`` → the analytic struct of
    ``spark_schema_with_contained``: the base conversion plus a
    resourceType-dispatched conversion of each contained entry (decode
    dispatch-by-type mirrors `DefinitionToSparkVisitor.java:180-233`)."""
    parsed = F.col(PARSED)
    if not contained:
        return core.converter(definition_for(resource_type), parsed)

    def conv_entry(c: Column) -> Column:
        branches = []
        for rt in contained:
            name, base = _contained_field(rt)
            branches.append(
                F.when(c["resourceType"] == base, core.converter(definition_for(rt), c)).alias(name)
            )
        return F.struct(*branches)

    contained_col = F.when(
        parsed["contained"].isNotNull(), F.transform(parsed["contained"], conv_entry)
    )
    return converter_for(resource_type, ()).withField("contained", contained_col)


@lru_cache(maxsize=None)
def export_struct_for(resource_type: str) -> Column:
    """Column ``ANALYTIC`` → the FHIR-JSON-spelling struct."""
    return core.export_struct(definition_for(resource_type), F.col(ANALYTIC))


def clear_caches() -> None:
    """Forget every per-type schema and expression; call whenever the
    definition behind a resource type name may have changed."""
    for cached in (spark_schema_for, json_schema_for, converter_for, export_struct_for):
        cached.cache_clear()


def _contained_field(resource_type: str) -> tuple[str, str]:
    """A contained type's analytic field name — its name without the
    ``r4:`` address prefix, first letter lowered — and the
    ``resourceType`` its entries carry (:func:`base_resource_type`)."""
    name = resource_type.removeprefix("r4:")
    return name[0].lower() + name[1:], base_resource_type(resource_type)


def _merged_contained_json_struct(contained: tuple[str, ...]) -> T.StructType:
    """Parse-side struct for a contained entry: resourceType + the
    UNION of every declared type's JSON fields (FHIR JSON spells
    contained entries as flat resource objects; the analytic schema
    re-nests per type). Name collisions must agree on datatype."""
    merged: dict[str, T.StructField] = {}
    for rt in contained:
        for f in json_schema_for(rt).fields:
            if f.name == "resourceType":
                continue
            if f.name in merged and merged[f.name].dataType != f.dataType:
                raise ValueError(
                    f"contained types conflict on field {f.name!r}: "
                    f"{merged[f.name].dataType.simpleString()} vs {f.dataType.simpleString()}"
                )
            merged.setdefault(f.name, f)
    return T.StructType(
        [T.StructField("resourceType", T.StringType(), True), *merged.values()]
    )


def json_schema_with_contained(
    resource_type: str, contained: tuple[str, ...]
) -> T.StructType:
    base = json_schema_for(resource_type)
    if not contained:
        return base
    return T.StructType(
        [
            *base.fields,
            T.StructField(
                "contained",
                T.ArrayType(_merged_contained_json_struct(contained), True),
                True,
            ),
        ]
    )


def spark_schema_with_contained(
    resource_type: str, contained: tuple[str, ...]
) -> T.StructType:
    """Analytic schema: the reference declares contained as one struct
    field per permissible type (`SparkRowConverter.java:71-116`,
    `Stu3StructureDefinitions.java:624-635`)."""
    base = spark_schema_for(resource_type)
    if not contained:
        return base
    inner = T.StructType(
        [
            T.StructField(_contained_field(rt)[0], spark_schema_for(rt), True)
            for rt in contained
        ]
    )
    # containsNull=False: each converted entry is a (never-null) struct
    # with exactly one non-null per-type branch
    return T.StructType(
        [*base.fields, T.StructField("contained", T.ArrayType(inner, False), True)]
    )
