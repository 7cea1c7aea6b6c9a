"""The one by-name FHIR decode, :func:`resources_from_json_strings`, taken
by bundle entries, the XML readers (after their XML→JSON step) and
directory scans of standalone resources, used for ConceptMap / ValueSet
imports (`AbstractConceptMaps.java:124-194`, `AbstractValueSets.java:389-465`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema.resources import (
    PARSED,
    base_resource_type,
    converter_for,
    json_schema_with_contained,
    spark_schema_with_contained,
)


def read_resources_from_directory(
    spark: SparkSession, path: str, resource_type: str
) -> DataFrame:
    """Each matching file (by resourceType) → one row with the
    spec-derived nested schema."""
    return resources_from_json_strings(spark.read.text(path, wholetext=True), "value", resource_type)


def resources_from_json_strings(
    df: DataFrame,
    column: str,
    resource_type: str,
    contained_types: tuple[str, ...] = (),
) -> DataFrame:
    """Resource JSON strings in a column → rows of the spec schema.

    Keeps the strings whose resourceType is the base type of
    ``resource_type`` (a profile reads its base type's resources), parses
    them with the spec's JSON schema and converts them with the cached
    converter. ``contained_types`` declares the permissible contained
    resource types (`SparkRowConverter.forResource` containedUrls,
    SparkRowConverter.java:71-116): the schema gains a ``contained``
    array with one struct field per declared type."""
    contained = tuple(contained_types)
    is_type = F.get_json_object(column, "$.resourceType") == base_resource_type(resource_type)
    # explode zero or one strings, not filter: Spark pushes a filter down
    # through the projections beneath it, so over a column computed in
    # the same plan (an export re-ingested) the condition inlines the
    # upstream conversion once per reference (an Observation round trip
    # took 117 s and 10 GB of heap to optimize)
    out = (
        df.select(F.explode(F.when(is_type, F.array(column))).alias("json"))
        .select(F.from_json("json", json_schema_with_contained(resource_type, contained)).alias(PARSED))
        .select(converter_for(resource_type, contained).alias("res"))
        .select("res.*")
    )
    assert out.schema == spark_schema_with_contained(resource_type, contained), (
        "converter output must equal spec schema"
    )
    return out
