"""Schema-driven fuzz round-trips: random resources generated FROM the
type DSL itself must survive (a) the XML shim dict→XML→dict and (b) the
full Spark ingest→export→re-ingest cycle bit-identically. (The
reference has no property-based tests — SURVEY §5.)"""

from __future__ import annotations

import json
import random

import pytest

from bunsen_spark.schema.core import Choice, Complex, Extension, Field, Reference
from bunsen_spark.schema.resources import base_resource_type, definition_for

_WORDS = ["alpha", "beta", "gamma", "x1", "Z-9", "code.7", "Ab cd"]


def _gen_primitive(prim: str, rng: random.Random):
    if prim == "boolean":
        return rng.choice([True, False])
    if prim in ("integer", "unsignedInt", "positiveInt"):
        return rng.randint(1, 9999)
    if prim == "decimal":
        return round(rng.uniform(0, 999), 4)
    if prim in ("date", "dateTime", "instant"):
        return f"20{rng.randint(10, 25)}-0{rng.randint(1, 9)}-1{rng.randint(0, 9)}"
    if prim == "xhtml":  # narrative div must be well-formed XHTML
        return (
            '<div xmlns="http://www.w3.org/1999/xhtml">'
            + rng.choice(_WORDS).replace("<", "")
            + "</div>"
        )
    return rng.choice(_WORDS)


def _gen_value(ftype, rng: random.Random, stack: tuple[str, ...]):
    if isinstance(ftype, str):
        return _gen_primitive(ftype, rng)
    if isinstance(ftype, Reference):
        target = ftype.targets[0] if ftype.targets else "Resource"
        return {"reference": f"{target}/{rng.randint(1, 999)}", "display": rng.choice(_WORDS)}
    if isinstance(ftype, Complex):
        if ftype.name in stack:
            return None
        return _gen_complex(ftype, rng, stack + (ftype.name,))
    raise TypeError(ftype)


def _gen_complex(c: Complex, rng: random.Random, stack: tuple[str, ...]) -> dict | None:
    out = {}
    for f in c.fields:
        if isinstance(f.ftype, Extension):
            continue  # slices live in the shared extension array, not fuzzed here
        if rng.random() < 0.55:  # sparse resources, like real data
            continue
        if isinstance(f.ftype, Choice):
            branch, btype = rng.choice(f.ftype.branches)
            v = _gen_value(btype, rng, stack)
            if v is not None:
                out[f.name + branch[0].upper() + branch[1:]] = v
            continue
        if f.many:
            vals = [
                _gen_value(f.ftype, rng, stack) for _ in range(rng.randint(1, 3))
            ]
            vals = [v for v in vals if v not in (None, {})]
            if vals:
                out[f.name] = vals
            continue
        v = _gen_value(f.ftype, rng, stack)
        if v not in (None, {}):
            out[f.name] = v
    return out or None


def gen_resource(resource_type: str, seed: int) -> dict:
    rng = random.Random(seed)
    root = definition_for(resource_type)
    body = _gen_complex(root, rng, (root.name,)) or {}
    body["id"] = f"fuzz-{seed}"
    return {"resourceType": base_resource_type(resource_type), **body}


def _norm(x):
    if isinstance(x, dict):
        return {k: _norm(v) for k, v in sorted(x.items())}
    if isinstance(x, list):
        return [_norm(v) for v in x]
    if isinstance(x, bool):
        return x
    if isinstance(x, (int, float)):
        return str(x)
    return x


@pytest.mark.parametrize("resource_type", ["Patient", "Observation", "Condition"])
def test_xml_shim_roundtrip_fuzz(resource_type):
    from bunsen_spark.sources.xml import fhir_xml_to_json
    from tools.json_bundle_to_xml import bundle_json_to_xml

    for seed in range(40):
        obj = gen_resource(resource_type, seed)
        xml = bundle_json_to_xml(json.dumps(obj))
        back = json.loads(fhir_xml_to_json(xml))
        assert _norm(back) == _norm(obj), f"seed {seed}"


@pytest.mark.parametrize(
    "resource_type",
    [
        "Observation",
        # SPEC-COMPILED profile (no hand-written DSL): the same fuzz
        # round-trip must hold for StructureDefinition-driven schemas
        "us-core-diagnosticreport",
    ],
)
@pytest.mark.slow
def test_spark_ingest_export_roundtrip_fuzz(spark, resource_type):
    from bunsen_spark.sources.export import to_resource_json
    from bunsen_spark.sources.resources import resources_from_json_strings

    docs = [json.dumps(gen_resource(resource_type, s)) for s in range(40)]
    raw = spark.createDataFrame([(d,) for d in docs], "resource_json string")

    def ingest(df):
        return resources_from_json_strings(df, "resource_json", resource_type)

    first = ingest(raw)
    exported = to_resource_json(first, resource_type).withColumnRenamed("json", "resource_json")
    second = ingest(exported)
    assert first.schema == second.schema
    a = sorted(str(r) for r in first.collect())
    b = sorted(str(r) for r in second.collect())
    assert a == b
