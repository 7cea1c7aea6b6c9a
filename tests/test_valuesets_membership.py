"""in_valueset membership tests — golden counts mirror the reference's
python suite: 14 blood-pressure observations by explicit code, 3
leukocyte observations via LOINC hierarchy descendants; push/pop stack;
SQL UDF parity; array-of-CodeableConcept support.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from bunsen_spark.functions.valuesets import (
    get_current_valuesets,
    in_valueset,
    in_valueset_join,
    isa_loinc,
    pop_valuesets,
    push_valuesets,
)
from bunsen_spark.operators.hierarchies import Hierarchies, loinc_hierarchy_edges
from bunsen_spark.sources.bundles import extract_entry, load_from_directory

FIX = Path(__file__).resolve().parent.parent / "fixtures"


@pytest.fixture(scope="module")
def observations(spark):
    bundles = load_from_directory(spark, str(FIX / "bundles" / "json"))
    return extract_entry(spark, bundles, "Observation").cache()


@pytest.fixture(scope="module")
def loinc(spark):
    edges = loinc_hierarchy_edges(spark, str(FIX / "LOINC_HIERARCHY_SAMPLE.CSV"))
    return Hierarchies.from_edges(spark, edges, "urn:bunsen-spark:hierarchy:loinc", "2.56")


@pytest.fixture()
def pushed(spark, loinc):
    vs = push_valuesets(
        spark,
        {
            "blood_pressure": [("http://loinc.org", "8462-4")],
            "leukocytes": isa_loinc("LP100-0"),
        },
        hierarchies=loinc,
    )
    yield vs
    pop_valuesets(spark)


def test_explicit_code_membership(observations, pushed):
    bp = observations.where(in_valueset(F.col("code"), "blood_pressure"))
    assert bp.count() == 14


def test_hierarchy_descendant_membership(observations, pushed):
    leuk = observations.where(in_valueset(F.col("code"), "leukocytes"))
    assert leuk.count() == 3


def test_sql_udf_parity(spark, observations, pushed):
    observations.createOrReplaceTempView("observations")
    n = spark.sql(
        "SELECT id FROM observations WHERE in_valueset(code, 'blood_pressure')"
    ).count()
    assert n == 14
    with pytest.raises(Exception, match="Unknown valueset reference"):
        spark.sql("SELECT id FROM observations WHERE in_valueset(code, 'nope')").count()


def test_null_input_is_false(spark, pushed):
    df = spark.createDataFrame(
        [(None,)],
        "code struct<coding: array<struct<system:string, code:string>>>",
    )
    out = df.select(in_valueset(F.col("code"), "blood_pressure").alias("m")).collect()
    assert out[0]["m"] is False


SCT = "http://snomed.info/sct"


@pytest.mark.parametrize(
    "system, code, expected",
    [
        (SCT, "100004", True),
        (None, f"{SCT}|100004", False),
        (f"{SCT}|100004", None, False),
        (SCT, None, False),
    ],
)
def test_null_coding_parts_never_match(spark, system, code, expected):
    """A coding with a NULL system or code matches nothing, even when the
    other part spells a whole ``system|code`` member key: the SQL
    rewrite, the Column API (single and array) and the UDF agree."""
    from bunsen_spark.functions.valuesets import sql as native_sql

    push_valuesets(spark, {"sct": [(SCT, "100004")]})
    try:
        df = spark.createDataFrame(
            [(([(system, code)],),)],
            "code struct<coding: array<struct<system:string, code:string>>>",
        ).withColumn("codes", F.array("code"))
        df.createOrReplaceTempView("codings")
        query = "SELECT in_valueset(code, 'sct') AS m FROM codings"
        got = {
            "udf": spark.sql(query).first()["m"],
            "rewrite": native_sql(spark, query).first()["m"],
            "column": df.select(in_valueset(F.col("code"), "sct")).first()[0],
            "array": df.select(
                in_valueset(F.col("codes"), "sct", is_array=True)
            ).first()[0],
        }
    finally:
        pop_valuesets(spark)
    assert got == dict.fromkeys(got, expected)


def test_unknown_reference_raises(pushed):
    with pytest.raises(ValueError, match="unknown valueset reference"):
        in_valueset(F.col("code"), "nope")


def test_array_of_codeable_concepts(spark, pushed):
    df = spark.createDataFrame(
        [
            ([{"coding": [{"system": "http://loinc.org", "code": "8462-4"}]}],),
            ([{"coding": [{"system": "http://loinc.org", "code": "0000-0"}]}],),
            (None,),
        ],
        "types array<struct<coding: array<struct<system:string, code:string>>>>",
    )
    out = df.select(in_valueset(F.col("types"), "blood_pressure", is_array=True).alias("m"))
    assert [r["m"] for r in out.collect()] == [True, False, False]


def test_push_pop_stack(spark, loinc, pushed):
    assert set(get_current_valuesets(spark)) == {"blood_pressure", "leukocytes"}
    push_valuesets(spark, {"only": [("s", "c")]})
    assert set(get_current_valuesets(spark)) == {"only"}
    pop_valuesets(spark)
    assert set(get_current_valuesets(spark)) == {"blood_pressure", "leukocytes"}
    cur = get_current_valuesets(spark)
    assert cur["leukocytes"] == [
        ("http://loinc.org", "5000-5"),
        ("http://loinc.org", "LP100-0"),
        ("http://loinc.org", "LP110-1"),
    ]


def test_semi_join_form(observations, pushed):
    bp = in_valueset_join(observations, "code", "blood_pressure")
    assert bp.count() == 14


def test_semi_join_form_nondeterministic_input(observations, pushed):
    """in_valueset_join must be correct for inputs whose plan does NOT
    re-evaluate deterministically (ADVICE r7): a seedless sample can
    return different rows per evaluation, so the internal row-id tag
    must be materialized once, not re-derived per plan branch. Every
    surviving row must genuinely be a member — a branch-inconsistent
    id assignment would keep arbitrary rows instead."""
    sampled = observations.sample(0.7).repartition(5)
    out = in_valueset_join(sampled, "code", "blood_pressure").collect()
    assert 0 < len(out) <= 14
    for row in out:
        codings = row["code"]["coding"] or []
        assert any(c["code"] == "8462-4" for c in codings), row


# -- multi-version hierarchies: pin vs latest (VERDICT r4 #5) ---------------
# Reference semantics: BroadcastableValueSets.java:144-180 (addDescendantsOf
# overloads) + :209-230 (unversioned ancestors resolve to the hierarchy's
# latest version). Two LOINC hierarchy versions are loaded; an unpinned
# isa_loinc must follow the NEWER tree, a pinned one must not move.


@pytest.fixture(scope="module")
def loinc_two_versions(spark, loinc):
    """v2.56 = the fixture tree; v2.60 = a revision where 5000-5 was
    re-parented OUT of the leukocyte panel (to LP200-2) and a new code
    7000-7 added under LP110-1."""
    edges_v2 = spark.createDataFrame(
        [
            ("http://loinc.org", "LP000-9", "http://loinc.org", "LP100-0"),
            ("http://loinc.org", "LP100-0", "http://loinc.org", "LP110-1"),
            ("http://loinc.org", "LP110-1", "http://loinc.org", "7000-7"),
            ("http://loinc.org", "LP000-9", "http://loinc.org", "LP200-2"),
            ("http://loinc.org", "LP200-2", "http://loinc.org", "5000-5"),
            ("http://loinc.org", "LP200-2", "http://loinc.org", "6000-6"),
        ],
        "ancestorSystem string, ancestorValue string, "
        "descendantSystem string, descendantValue string",
    )
    newer = Hierarchies.from_edges(
        spark, edges_v2, "urn:bunsen-spark:hierarchy:loinc", "2.60"
    )
    return loinc.with_hierarchy(newer)


def test_descendants_pinned_version(loinc_two_versions):
    got = {
        r["value"]
        for r in loinc_two_versions.descendants_of(
            "http://loinc.org", "LP100-0", version="2.56"
        ).collect()
    }
    assert got == {"LP100-0", "LP110-1", "5000-5"}


def test_descendants_unpinned_follows_latest(loinc_two_versions):
    got = {
        r["value"]
        for r in loinc_two_versions.descendants_of(
            "http://loinc.org", "LP100-0"
        ).collect()
    }
    # 5000-5 moved out in 2.60; 7000-7 moved in
    assert got == {"LP100-0", "LP110-1", "7000-7"}


def test_membership_pinned_vs_latest(spark, observations, loinc_two_versions):
    from bunsen_spark.functions.valuesets import build_valuesets

    vs = build_valuesets(
        spark,
        {
            "leuk_latest": isa_loinc("LP100-0"),
            "leuk_2_56": isa_loinc("LP100-0", "2.56"),
        },
        hierarchies=loinc_two_versions,
    )
    # the 3 leukocyte observations carry code 5000-5: still members
    # under the pinned 2.56 tree, no longer members under latest (2.60)
    n_latest = observations.where(
        in_valueset(F.col("code"), "leuk_latest", vs)
    ).count()
    n_pinned = observations.where(
        in_valueset(F.col("code"), "leuk_2_56", vs)
    ).count()
    assert n_pinned == 3
    assert n_latest == 0


def test_latest_versions_lexicographic(loinc_two_versions):
    rows = {
        (r["uri"], r["version"])
        for r in loinc_two_versions.latest_versions().collect()
    }
    assert rows == {("urn:bunsen-spark:hierarchy:loinc", "2.60")}
