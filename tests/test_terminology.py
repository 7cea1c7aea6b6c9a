"""The (url, version) rule that ValueSets and ConceptMaps share
(`operators/_terminology.py`): a member is added to a collection once,
whichever path adds it, and lands in the warehouse once, whether or
not it has flat member rows.
"""

from __future__ import annotations

import pytest

URL = "urn:example:terminology:shared"


def _value_sets(spark, members):
    from bunsen_spark.operators.value_sets import ValueSets

    return ValueSets.empty(spark).with_new_value_set(URL, "1", members)


def _concept_maps(spark, members):
    from bunsen_spark.operators.concept_maps import ConceptMaps

    return ConceptMaps.empty(spark).with_new_map(
        URL, "1", "urn:example:src", "urn:example:tgt", members
    )


#: collection name -> (builder, one member tuple, add-a-version method)
COLLECTIONS = {
    "valuesets": (_value_sets, ("sysA", "a"), "add_values"),
    "conceptmaps": (_concept_maps, ("sysA", "a", "sysB", "b", "equivalent"), "add_mappings"),
}


@pytest.mark.parametrize("kind", sorted(COLLECTIONS))
def test_new_version_already_present_is_rejected(spark, kind):
    """Adding a version under a (url, version) the collection already
    holds is the same duplicate as importing it twice."""
    build, member, add = COLLECTIONS[kind]
    collection = build(spark, [member])
    with pytest.raises(ValueError, match="already present"):
        getattr(collection, add)(URL, "1", "1", [member])


@pytest.mark.parametrize("kind", sorted(COLLECTIONS))
def test_rewrite_without_flat_rows_is_rejected(spark, kind, tmp_path):
    """A member with no flat rows lands in the metadata table only, so
    the warehouse identity check must read that table."""
    build, _, _ = COLLECTIONS[kind]
    collection = build(spark, [])
    assert collection.get_latest_versions(include_experimental=True).count() == 1
    db = f"terminology_{kind}_rewrite"
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    try:
        collection.write_to_database(db, path=str(tmp_path))
        with pytest.raises(ValueError, match="already exists"):
            collection.write_to_database(db, path=str(tmp_path))
        stored = type(collection).get_from_database(spark, db)
        assert stored.get_latest_versions(include_experimental=True).count() == 1
        assert spark.table(f"{db}.{kind}").count() == 1
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
