"""Valueset membership: push/pop broadcast valuesets + ``in_valueset``.

Mirrors the reference's API surface (`python/bunsen/stu3/valuesets.py`,
`ValueSetUdfs.java:26-210`) with one architectural upgrade: the primary
membership predicate is a **native Catalyst expression**
(``exists(code.coding, c -> (system|code) IN <literal set>)``), not an
opaque UDF — so the optimizer's predicate pushdown and null reasoning
apply and no Python worker runs (SURVEY §4: "the single biggest
optimizer win"). Spark compiles the IN-list to an O(1) hash InSet above
10 items. The predicate is interpreted, not code-generated: on Spark
4.1.2 ``ArrayExists`` is ``CodegenFallback``, so the operator holding it
leaves whole-stage codegen (an ``in_valueset`` count's
``HashAggregate``s carry no ``*(n)`` marker, while
``sum(size(code.coding))`` over the same table gets ``*(1)``/``*(2)``).

A row-at-a-time Python UDF with identical semantics is still registered
as SQL ``in_valueset(code, 'ref')`` for drop-in parity with reference
queries; it is the documented slow path.

Valueset sources, matching `BroadcastableValueSets.java:42-346`:
- explicit (system, code) lists;
- hierarchy descendants via ``isa_loinc`` / ``isa_snomed`` descriptors
  (a code is always in its own descendant set, :318-324);
- valueset references resolved from a ValueSets store (J2).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.hierarchies import (
    LOINC_CODE_SYSTEM,
    LOINC_HIERARCHY_URI,
    SNOMED_CODE_SYSTEM,
    SNOMED_HIERARCHY_URI,
    Hierarchies,
)
from ..persist import materialize


@dataclass(frozen=True)
class HierarchyDescendants:
    """Marker returned by isa_loinc/isa_snomed: 'this valueset is the
    descendants of (system, code) in hierarchy uri'."""

    system: str
    code: str
    hierarchy_uri: str
    version: str | None = None


@dataclass(frozen=True)
class ValueSetReference:
    """Marker: 'this valueset is the contents of valueset uri[@version]'
    resolved from a ValueSets store at build time."""

    uri: str
    version: str | None = None


def valueset(valueset_uri: str, valueset_version: str | None = None) -> ValueSetReference:
    """Drop-in alias for the reference's spec form
    (`python/bunsen/stu3/valuesets.py:valueset`)."""
    return ValueSetReference(valueset_uri, valueset_version)


def isa_loinc(code: str, version: str | None = None) -> HierarchyDescendants:
    return HierarchyDescendants(LOINC_CODE_SYSTEM, code, LOINC_HIERARCHY_URI, version)


def isa_snomed(code: str, version: str | None = None) -> HierarchyDescendants:
    return HierarchyDescendants(SNOMED_CODE_SYSTEM, code, SNOMED_HIERARCHY_URI, version)


ValueSetSpec = "list[tuple[str, str]] | HierarchyDescendants | ValueSetReference"


def build_valuesets(
    spark: SparkSession,
    specs: dict,
    hierarchies: Hierarchies | None = None,
    value_sets=None,
) -> dict[str, dict[str, set[str]]]:
    """Resolve every spec to {referenceName: {system: {codes}}}.

    Descendant and valueset-reference resolution are small terminology
    joins collected to the driver — same three-job shape as the
    reference build (`BroadcastableValueSets.java:257-335`)."""
    out: dict[str, dict[str, set[str]]] = {}
    for ref, spec in specs.items():
        systems: dict[str, set[str]] = {}
        if isinstance(spec, HierarchyDescendants):
            if hierarchies is None:
                raise ValueError(f"valueset {ref!r} needs a Hierarchies store for isa_* resolution")
            rows = hierarchies.descendants_of(
                spec.system, spec.code, uri=spec.hierarchy_uri, version=spec.version
            ).collect()
            for r in rows:
                systems.setdefault(r["system"], set()).add(r["value"])
        elif isinstance(spec, ValueSetReference):
            if value_sets is None:
                raise ValueError(f"valueset {ref!r} needs a ValueSets store for reference resolution")
            values = value_sets.get_values(spec.uri, spec.version)
            for r in values.select("system", "value").collect():
                systems.setdefault(r["system"], set()).add(r["value"])
        else:
            for system, code in spec:
                systems.setdefault(system, set()).add(code)
        out[ref] = systems
    return out


# ---------------------------------------------------------------------------
# the membership expression (native fast path)
# ---------------------------------------------------------------------------

def _members(systems: dict[str, set[str]]) -> list[tuple[str | None, list[str]]]:
    """(system, sorted codes) of each system of a valueset that has a
    code, in one fixed order (a NULL system first)."""
    members = ((s, sorted(c)) for s, c in systems.items() if c)
    return sorted(members, key=lambda m: (m[0] is not None, m[0] or ""))


def _codeable_concept_matches(cc: Column, members: list) -> Column:
    """Whether any coding of ``cc`` is one of the :func:`_members`: its
    system equal to a member system (NULL to a NULL one) and its code in
    that system's codes — the exact (system, code) pair, as the UDF
    compares it (a joined ``system|code`` key would let a ``|`` in
    either part move the boundary)."""

    def member(c):
        pairs = (c["system"].eqNullSafe(s) & c["code"].isin(codes) for s, codes in members)
        return reduce(Column.__or__, pairs)

    return F.exists(cc["coding"], member)


def in_valueset(
    code: Column | str,
    ref: str,
    valuesets: dict[str, dict[str, set[str]]] | None = None,
    *,
    is_array: bool = False,
) -> Column:
    """Boolean Column: does the CodeableConcept column (or array of
    them, ``is_array=True``) contain any coding in valueset ``ref``?

    Semantics match `ValueSetUdfs.java:32-100`: NULL input → false,
    unknown reference name → error. Uses the valuesets most recently
    pushed via :func:`push_valuesets` unless ``valuesets`` is given.
    """
    vs = valuesets if valuesets is not None else current_valuesets()
    if vs is None:
        raise ValueError("no valuesets pushed; call push_valuesets first")
    if ref not in vs:
        raise ValueError(f"unknown valueset reference {ref!r}")
    members = _members(vs[ref])
    col = F.col(code) if isinstance(code, str) else code
    if not members:
        return F.lit(False)
    if is_array:
        matched = F.exists(col, lambda cc: _codeable_concept_matches(cc, members))
    else:
        matched = _codeable_concept_matches(col, members)
    return F.coalesce(matched, F.lit(False))


def in_valueset_join(
    df: DataFrame, code: str, ref: str, valuesets: dict | None = None
) -> DataFrame:
    """Semi-join form for very large valuesets (J4 alternative): keeps
    rows whose code matches, joining against a codes DataFrame instead
    of inlining a literal set. Scale path when a valueset has millions
    of members."""
    vs = valuesets if valuesets is not None else current_valuesets()
    if vs is None or ref not in vs:
        raise ValueError(f"unknown valueset reference {ref!r}")
    spark = df.sparkSession
    from ..localrel import values_df

    codes = values_df(
        spark, [(s, c) for s, cs in vs[ref].items() for c in cs], "system string, code string"
    )
    # Explode only (row-id, system, code) — never the full resource row
    # (a wide row duplicated per coding, then de-duplicated with a
    # full-row distinct(), was an all-columns shuffle; ADVICE/VERDICT
    # r6). The tagged frame is consumed by TWO plan branches (the
    # explode→semi-join building hits, then the final semi-join), and
    # monotonically_increasing_id is only stable across evaluations
    # when the upstream plan re-evaluates deterministically — a shuffle,
    # sample, or limit in an arbitrary caller-supplied df can assign
    # different ids per branch and silently keep/drop wrong rows
    # (ADVICE r7). Materialize once so both branches read the same ids;
    # the policy (localCheckpoint on local, MEMORY_AND_DISK persist on
    # a cluster) lives in bunsen_spark.persist.
    tagged = materialize(df.withColumn("__rid", F.monotonically_increasing_id()))
    pairs = tagged.select(
        "__rid", F.explode(F.col(code)["coding"]).alias("__c")
    ).select("__rid", F.col("__c.system").alias("__s"), F.col("__c.code").alias("__k"))
    hits = pairs.join(
        F.broadcast(codes),
        (F.col("__s") == codes.system) & (F.col("__k") == codes.code),
        "left_semi",
    ).select("__rid")
    return tagged.join(hits, "__rid", "left_semi").drop("__rid")


# ---------------------------------------------------------------------------
# native SQL path: rewrite in_valueset(col, 'ref') before execution
# ---------------------------------------------------------------------------

#: canonical docs idiom: in_valueset(<column or dotted path>, '<ref>')
_SQL_CALL = None  # compiled lazily (keeps module import cheap)


def _sql_call_re():
    global _SQL_CALL
    if _SQL_CALL is None:
        import re

        _SQL_CALL = re.compile(
            r"in_valueset\s*\(\s*([A-Za-z_][\w.`]*)\s*,\s*'([^']*)'\s*\)",
            re.IGNORECASE,
        )
    return _SQL_CALL


def _sql_string(s: str | None) -> str:
    """``s`` as a Spark SQL string literal (``\\`` escaped before ``'``),
    None as NULL."""
    if s is None:
        return "NULL"
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def rewrite_in_valueset_sql(query: str, valuesets: dict | None = None) -> str:
    """Rewrite every ``in_valueset(col, 'ref')`` call in a SQL string
    into the native exists-expression the Column API emits, so the SQL
    idiom of the reference docs (`docs/source/introduction.rst:76-90`)
    never falls back to the row-at-a-time Python UDF.

    The first argument must be a column reference (optionally dotted /
    backquoted) naming a CodeableConcept struct — the canonical usage.
    Calls that don't match the pattern are left for the registered UDF.
    """
    vs = valuesets if valuesets is not None else current_valuesets()

    def repl(m):
        colexpr, ref = m.group(1), m.group(2)
        if vs is None:
            raise ValueError("no valuesets pushed; call push_valuesets first")
        if ref not in vs:
            raise ValueError(f"unknown valueset reference {ref!r}")
        members = " OR ".join(
            f"(c.system <=> {_sql_string(s)} AND c.code IN ({', '.join(map(_sql_string, codes))}))"
            for s, codes in _members(vs[ref])
        )
        if not members:
            return "false"
        return f"coalesce(exists({colexpr}.coding, c -> {members}), false)"

    return _sql_call_re().sub(repl, query)


def sql(spark: SparkSession, query: str, valuesets: dict | None = None) -> DataFrame:
    """Run a SQL query with ``in_valueset`` compiled natively.

    Drop-in for ``spark.sql`` on queries using the reference's SQL
    membership idiom: the predicate is rewritten into a JVM-side
    exists/IN-set expression (interpreted — ``ArrayExists`` is
    ``CodegenFallback`` — but visible to the optimizer and free of
    Python workers) instead of hitting the registered Python UDF."""
    return spark.sql(rewrite_in_valueset_sql(query, valuesets))


# ---------------------------------------------------------------------------
# push/pop stack + SQL UDF parity (D11)
# ---------------------------------------------------------------------------

_STACK: list[dict[str, dict[str, set[str]]]] = []


def current_valuesets() -> dict[str, dict[str, set[str]]] | None:
    return _STACK[-1] if _STACK else None


def _register_udf(spark: SparkSession, vs: dict[str, dict[str, set[str]]]) -> None:
    bc = spark.sparkContext.broadcast(vs)

    def _in_valueset(code_obj, ref):
        sets = bc.value.get(ref)
        if sets is None:
            raise ValueError(f"Unknown valueset reference {ref}")
        if code_obj is None:
            return False
        items = code_obj if isinstance(code_obj, list) else [code_obj]
        for cc in items:
            if cc is None:
                continue
            codings = cc["coding"] if "coding" in cc else None
            if not codings:
                continue
            for c in codings:
                if c is None:
                    continue
                codes = sets.get(c["system"])
                if codes is not None and c["code"] in codes:
                    return True
        return False

    spark.udf.register("in_valueset", _in_valueset, T.BooleanType())


def push_valuesets(
    spark: SparkSession,
    specs: dict,
    hierarchies: Hierarchies | None = None,
    value_sets=None,
) -> dict[str, dict[str, set[str]]]:
    """Build + push a valueset collection; registers SQL
    ``in_valueset(code, 'ref')`` against the new top of stack
    (`ValueSetUdfs.pushUdf`, :124-158)."""
    vs = build_valuesets(spark, specs, hierarchies, value_sets)
    _STACK.append(vs)
    _register_udf(spark, vs)
    return vs


def pop_valuesets(spark: SparkSession) -> None:
    """Drop the active collection and re-register the previous one
    (`ValueSetUdfs.popUdf`, :166-186)."""
    if _STACK:
        _STACK.pop()
    if _STACK:
        _register_udf(spark, _STACK[-1])


def get_current_valuesets(spark: SparkSession) -> dict[str, list[tuple[str, str]]] | None:
    """Active collection as {ref: [(system, code), ...]}
    (`valuesets.py:127-150` reverse mapping)."""
    vs = current_valuesets()
    if vs is None:
        return None
    return {
        ref: sorted((s, c) for s, cs in systems.items() for c in cs)
        for ref, systems in vs.items()
    }
