"""FHIR XML bundle/resource ingestion via an XML→JSON shim
(SURVEY S3/S6; `Bundles.fromXml` Bundles.java:160-175,
`AbstractConceptMaps.java:124-194`).

FHIR's XML form is mechanical: primitives are ``value=`` attributes,
repeats are repeated elements, resources nest under a container whose
single child tag is the (capitalized) resource type. The shim converts
each document to FHIR JSON with one pure-Python walk, after which the
ENTIRE existing JSON ingest plan applies unchanged.

This is deliberately the only per-row Python on any ingest path — XML
is a legacy interchange format; the reference pays the same price as
per-row HAPI XML parsing in Java (`Bundles.java:383-402`). The convert
step runs inside ``mapInPandas`` (Arrow-batched, executor-parallel),
so it scales out linearly; everything downstream is Catalyst.

Type fidelity: boolean/integer/decimal value strings are emitted as
raw JSON literals (strict-pattern match only, so "00123" stays a
string); ``from_json`` tolerates number→string but not string→number,
which makes typed emission mandatory. Trailing-zero decimals keep
their text form ("1.50" → 1.50) because literals are spliced verbatim.
"""

from __future__ import annotations

import json
import re
import xml.etree.ElementTree as ET
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .resources import resources_from_json_strings

FHIR_NS = "http://hl7.org/fhir"
XHTML_NS = "http://www.w3.org/1999/xhtml"

_BOOL = {"true", "false"}
_INT_RE = re.compile(r"^-?(0|[1-9]\d*)$")
_DEC_RE = re.compile(r"^-?(0|[1-9]\d*)\.\d+$")


def _localname(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]




def _div_to_string(elem: ET.Element) -> str:
    """Serialize narrative XHTML with xhtml as the DEFAULT namespace
    (inside a FHIR document ElementTree would otherwise emit html:
    prefixes, changing the text form)."""
    try:
        return ET.tostring(elem, encoding="unicode", default_namespace=XHTML_NS)
    except ValueError:  # mixed namespaces: fall back to prefixed form
        return ET.tostring(elem, encoding="unicode")


def _is_resource_container(elem: ET.Element) -> bool:
    """FHIR wraps nested resources (Bundle.entry.resource, contained)
    in an element whose single child tag is a capitalized type name."""
    kids = list(elem)
    return (
        len(kids) == 1
        and "value" not in elem.attrib
        and _localname(kids[0].tag)[:1].isupper()
    )


_INT_PRIMS = {"integer", "unsignedInt", "positiveInt"}


def _primitive_literal(v: str, prim: str):
    """Primitive value → JSON value, typed by the SPEC primitive (the
    reference derives the same from the HAPI model): only spec-typed
    booleans/integers/decimals become JSON literals, everything else —
    including numeric-looking ids — stays a string."""
    if prim == "boolean" or prim == "decimal" or prim in _INT_PRIMS:
        return _Literal(v)
    return v


def _convert_typed(elem: ET.Element, ftype):
    """Type-directed XML element → JSON value, steering cardinality and
    primitive typing from the schema DSL (`_many_names`-style name
    heuristics mis-type fields like ``code`` that are scalar on one
    path and repeated on another)."""
    from ..schema.core import Choice, Complex, Reference

    if _is_resource_container(elem):
        return _convert_resource(list(elem)[0])
    if isinstance(ftype, str):
        if "value" in elem.attrib and not list(elem):
            return _primitive_literal(elem.attrib["value"], ftype)
        if _localname(elem.tag) == "div" or ftype == "xhtml":
            return _div_to_string(elem)
        return _convert_generic(elem)
    if isinstance(ftype, Reference):
        out = {}
        for child in elem:
            cname = _localname(child.tag)
            if "value" in child.attrib:
                out[cname] = child.attrib["value"]
        return out
    if isinstance(ftype, Complex):
        out: dict = {}
        if "id" in elem.attrib:
            out["id"] = elem.attrib["id"]
        if "url" in elem.attrib:
            out["url"] = elem.attrib["url"]
        by_name = {f.name: f for f in ftype.fields}
        choice_spellings = {}
        for f in ftype.fields:
            if isinstance(f.ftype, Choice):
                for branch, btype in f.ftype.branches:
                    choice_spellings[f.name + branch[0].upper() + branch[1:]] = btype
        for child in elem:
            cname = _localname(child.tag)
            if cname in by_name:
                f = by_name[cname]
                val = _convert_typed(child, f.ftype)
                if f.many:
                    out.setdefault(cname, []).append(val)
                else:
                    out[cname] = val
            elif cname in choice_spellings:
                out[cname] = _convert_typed(child, choice_spellings[cname])
            elif cname in ("extension", "modifierExtension"):
                # always an array in FHIR JSON, even for one element
                out.setdefault(cname, []).append(_convert_generic(child))
            else:
                out[cname] = _convert_generic(child)
        return out
    # Choice reached directly only via choice_spellings (already typed)
    return _convert_generic(elem)


def _convert_generic(elem: ET.Element):
    """Schema-less fallback (unknown fields / resource types): no array
    wrapping for single occurrences, regex-typed literals."""
    if _is_resource_container(elem):
        return _convert_resource(list(elem)[0])
    if _localname(elem.tag) == "div":
        return ET.tostring(elem, encoding="unicode")
    out: dict = {}
    if "id" in elem.attrib:
        out["id"] = elem.attrib["id"]
    if "url" in elem.attrib:
        out["url"] = elem.attrib["url"]
    for child in elem:
        cname = _localname(child.tag)
        val = _convert_generic(child)
        if cname in ("extension", "modifierExtension") and cname not in out:
            out[cname] = []  # always an array in FHIR JSON
        if cname in out and not isinstance(out[cname], list):
            out[cname] = [out[cname]]
        if isinstance(out.get(cname), list):
            out[cname].append(val)
        else:
            out[cname] = val
    if "value" in elem.attrib:
        v = elem.attrib["value"]
        lit = _typed_literal(v)
        if not out:
            return lit
        out["value"] = lit
    return out


def _convert_resource(elem: ET.Element) -> dict:
    rtype = _localname(elem.tag)
    out = {"resourceType": rtype}
    try:
        from ..schema import definition_for

        root = definition_for(rtype)
    except ValueError:
        root = None
    if root is None:
        body = _convert_generic(elem)
        if rtype == "Bundle" and isinstance(body, dict) and "entry" in body:
            # a single entry must still be a JSON array
            if not isinstance(body["entry"], list):
                body["entry"] = [body["entry"]]
    else:
        body = _convert_typed(elem, root)
    if isinstance(body, dict):
        body.pop("resourceType", None)
        out.update(body)
    return out


class _Literal:
    __slots__ = ("text",)

    def __init__(self, text: str):
        self.text = text


def _typed_literal(v: str):
    if v in _BOOL or _INT_RE.match(v) or _DEC_RE.match(v):
        return _Literal(v)
    return v


def _to_json(value) -> str:
    if isinstance(value, _Literal):
        return value.text
    if isinstance(value, str):
        return json.dumps(value)
    if isinstance(value, list):
        return "[" + ",".join(_to_json(x) for x in value) + "]"
    if isinstance(value, dict):
        return "{" + ",".join(f"{json.dumps(k)}:{_to_json(v)}" for k, v in value.items()) + "}"
    raise TypeError(f"unexpected {type(value)}")


def fhir_xml_to_json(xml_string: str) -> str:
    """One FHIR XML document (Bundle or standalone resource) → its
    FHIR JSON spelling."""
    root = ET.fromstring(xml_string)
    return _to_json(_convert_resource(root))


# ---------------------------------------------------------------------------
# export: FHIR JSON → FHIR XML (inverse shim; SURVEY §8 XML-export gap,
# parity with the reference's resourceToXml, stu3/python/Functions.java:120-127)
# ---------------------------------------------------------------------------


def _xml_escape_attr(v: str) -> str:
    from xml.sax.saxutils import quoteattr

    return quoteattr(v)


def _num_text(value) -> str:
    # json.dumps renders numbers exactly as JSON spells them (no float
    # repr noise); trailing-zero decimals were already normalized at
    # JSON parse time, documented with the ingest shim
    return json.dumps(value)


def _emit_xml(name: str, value, out: list[str]) -> None:
    if isinstance(value, list):
        for v in value:
            _emit_xml(name, v, out)
        return
    if isinstance(value, dict):
        if "resourceType" in value:
            # nested resource (Bundle.entry.resource, contained): the
            # container's single child is the capitalized type element
            out.append(f"<{name}>")
            _emit_resource_xml(value, out)
            out.append(f"</{name}>")
            return
        attrs = []
        body: list[str] = []
        for k, v in value.items():
            # FHIR XML spells element ids and extension urls as attributes
            if k == "id" and isinstance(v, str):
                attrs.append(f" id={_xml_escape_attr(v)}")
            elif (
                k == "url"
                and name in ("extension", "modifierExtension")
                and isinstance(v, str)
            ):
                attrs.append(f" url={_xml_escape_attr(v)}")
            elif k == "div" and isinstance(v, str):
                body.append(v)  # already-serialized XHTML, spliced verbatim
            else:
                _emit_xml(k, v, body)
        out.append(f"<{name}{''.join(attrs)}>")
        out.extend(body)
        out.append(f"</{name}>")
        return
    if value is True:
        text = "true"
    elif value is False:
        text = "false"
    elif isinstance(value, str):
        text = value
    else:
        text = _num_text(value)
    out.append(f"<{name} value={_xml_escape_attr(text)}/>")


def _emit_resource_xml(resource: dict, out: list[str]) -> None:
    rtype = resource["resourceType"]
    out.append(f'<{rtype} xmlns="{FHIR_NS}">')
    for k, v in resource.items():
        if k == "resourceType":
            continue
        _emit_xml(k, v, out)
    out.append(f"</{rtype}>")


def fhir_json_to_xml(json_string: str) -> str:
    """One FHIR JSON document (Bundle or standalone resource) → its
    FHIR XML spelling — the exact inverse of :func:`fhir_xml_to_json`
    (element order follows JSON member order, which the export path
    writes in spec order)."""
    out: list[str] = []
    _emit_resource_xml(json.loads(json_string), out)
    return "".join(out)


def _xml_to_json(df: DataFrame, column: str) -> DataFrame:
    """The FHIR XML documents in ``column`` → their FHIR JSON in column
    ``json`` (the one per-row Python step of every XML reader)."""

    def convert(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({"json": [fhir_xml_to_json(x) for x in pdf[column]]})

    return df.select(column).mapInPandas(convert, "json string")


def resources_from_xml_column(
    df: DataFrame, column: str, resource_type: str
) -> DataFrame:
    """Standalone XML resources in a string column → spec-schema rows
    (the XML twin of ``resources.resources_from_json_strings``)."""
    return resources_from_json_strings(_xml_to_json(df, column), "json", resource_type)


def from_xml_column(df: DataFrame, column: str) -> DataFrame:
    """Bundles held in an XML string column → exploded resource rows
    (the XML twin of ``bundles.from_json_column``)."""
    from .bundles import from_json_column

    return from_json_column(_xml_to_json(df, column), "json")


def load_from_directory_xml(spark: SparkSession, path: str) -> DataFrame:
    """Directory of XML bundle files → one row per resource entry."""
    return from_xml_column(spark.read.text(path, wholetext=True), "value")


def read_xml_resources_from_directory(
    spark: SparkSession, path: str, resource_type: str
) -> DataFrame:
    """Directory of standalone XML resources (ConceptMap / ValueSet
    imports, SURVEY S6) → spec-schema rows."""
    return resources_from_xml_column(spark.read.text(path, wholetext=True), "value", resource_type)
