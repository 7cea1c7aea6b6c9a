"""Hierarchy tests: readers, distributed closure (incl. cycle safety),
descendant sets, warehouse round-trip. Golden expectations mirror the
reference suite (`HierarchiesTests.java`, `test_bunsen_stu3.py:316-400`)
against the repo's own synthetic samples.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from bunsen_spark.operators.hierarchies import (
    LOINC_CODE_SYSTEM,
    SNOMED_CODE_SYSTEM,
    Hierarchies,
    loinc_hierarchy_edges,
    snomed_relationship_edges,
    transitive_closure,
)

FIX = Path(__file__).resolve().parent.parent / "fixtures"


@pytest.fixture(scope="module")
def loinc(spark):
    edges = loinc_hierarchy_edges(spark, str(FIX / "LOINC_HIERARCHY_SAMPLE.CSV"))
    return Hierarchies.from_edges(spark, edges, "urn:bunsen-spark:hierarchy:loinc", "2.56")


@pytest.fixture(scope="module")
def snomed(spark):
    edges = snomed_relationship_edges(spark, str(FIX / "SNOMED_RELATIONSHIP_SAMPLE.TXT"))
    return Hierarchies.from_edges(spark, edges, "urn:bunsen-spark:hierarchy:snomed", "20160901")


def test_loinc_reader_edge_count(spark):
    edges = loinc_hierarchy_edges(spark, str(FIX / "LOINC_HIERARCHY_SAMPLE.CSV"))
    # root row has empty parent → dropped
    assert edges.count() == 5


def test_loinc_closure_golden(loinc):
    descendants = {r["value"] for r in loinc.descendants_of(LOINC_CODE_SYSTEM, "LP100-0").collect()}
    assert descendants == {"LP100-0", "LP110-1", "5000-5"}
    # full tree under the root
    root = {r["value"] for r in loinc.descendants_of(LOINC_CODE_SYSTEM, "LP000-9").collect()}
    assert root == {"LP000-9", "LP100-0", "LP110-1", "5000-5", "LP200-2", "6000-6"}


def test_snomed_reader_filters(spark):
    edges = snomed_relationship_edges(spark, str(FIX / "SNOMED_RELATIONSHIP_SAMPLE.TXT"))
    pairs = {(r["descendantValue"], r["ancestorValue"]) for r in edges.collect()}
    # non-is-a and inactive rows filtered out
    assert ("44054006", "362969004") not in pairs
    assert ("38341003", "73211009") not in pairs
    assert ("44054006", "73211009") in pairs


def test_snomed_closure_golden(snomed):
    descendants = {r["value"] for r in snomed.descendants_of(SNOMED_CODE_SYSTEM, "73211009").collect()}
    assert descendants == {"73211009", "44054006"}


def test_cycle_safe_closure(snomed):
    """The sample contains 900100 ↔ 900200; closure must terminate and
    include both directions plus the hanging child, without self-pairs
    in the stored table (`testHasCyclicAncestor` parity)."""
    anc = snomed.ancestors
    cyc = anc.where(F.col("descendantValue").isin("900100", "900200", "900300"))
    pairs = {(r["descendantValue"], r["ancestorValue"]) for r in cyc.collect()}
    assert ("900100", "900200") in pairs
    assert ("900200", "900100") in pairs
    assert ("900300", "900100") in pairs
    assert ("900300", "900200") in pairs  # through the cycle
    assert ("900100", "900100") not in pairs  # no self-pairs stored
    # but a code IS in its own descendant set for valueset semantics
    d = {r["value"] for r in snomed.descendants_of(SNOMED_CODE_SYSTEM, "900100").collect()}
    assert d == {"900100", "900200", "900300"}


def _chain(spark, n):
    return spark.createDataFrame(
        [("s", str(i), "s", str(i + 1)) for i in range(n)],
        "ancestorSystem string, ancestorValue string, descendantSystem string, descendantValue string",
    )


def test_deep_chain_closure(spark):
    """Iterative doubling must close a deep chain in O(log d) rounds."""
    n = 64
    closed = transitive_closure(_chain(spark, n))
    # node n descends from every node above it
    top = closed.where(F.col("descendantValue") == str(n)).count()
    assert top == n


def test_closure_without_fixpoint_raises(spark):
    """A chain deeper than ``2 ** max_iterations`` cannot close in time:
    fail loudly instead of returning a partial closure."""
    with pytest.raises(RuntimeError, match="fixpoint"):
        transitive_closure(_chain(spark, 5), max_iterations=2)


def test_convergent_closure_within_the_bound(spark):
    """Three edges close in two doubling rounds plus the fixpoint check."""
    closed = transitive_closure(_chain(spark, 3), max_iterations=3)
    pairs = {(r["descendantValue"], r["ancestorValue"]) for r in closed.collect()}
    assert pairs == {(str(d), str(a)) for a in range(4) for d in range(a + 1, 4)}


def test_union_and_latest_versions(spark, loinc, snomed):
    both = loinc.with_hierarchy(snomed)
    vs = {r["uri"]: r["version"] for r in both.latest_versions().collect()}
    assert vs == {
        "urn:bunsen-spark:hierarchy:loinc": "2.56",
        "urn:bunsen-spark:hierarchy:snomed": "20160901",
    }


def test_warehouse_roundtrip(spark, loinc, tmp_path):
    db = "ontologies_test"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    loinc.write_to_database(db, path=str(tmp_path / "ancestors"))
    again = Hierarchies.get_from_database(spark, db)
    assert again.ancestors.count() == loinc.ancestors.count()
    # duplicate import rejected
    with pytest.raises(ValueError, match="already exists"):
        loinc.write_to_database(db)
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
