"""R4 bundle API (`python/bunsen/r4/bundles.py:17-156`): the same
load/extract/save surface as the STU3 path, with every resource name
routed through the R4 registry via the ``r4:`` address prefix. Bundle
parsing itself is generation-free (entries are split on the envelope's
``entry[].resource`` before any schema applies); only extraction
compiles a generation-specific schema."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.bundles import (  # noqa: F401 — generation-free pieces
    from_json_column,
    load_from_directory,
)
from ..sources import bundles as _bundles


def _r4(resource_type: str) -> str:
    return resource_type if resource_type.startswith("r4:") else f"r4:{resource_type}"


def from_json(df: DataFrame, column: str) -> DataFrame:
    """Reference-name alias (`r4/bundles.py:from_json`)."""
    return from_json_column(df, column)


def from_xml(df: DataFrame, column: str) -> DataFrame:
    """XML bundles in a string column (`r4/bundles.py:from_xml`)."""
    from ..sources.xml import from_xml_column

    return from_xml_column(df, column)


def extract_entry(
    spark: SparkSession,
    bundles: DataFrame,
    resource_type: str,
    contained_types: tuple[str, ...] = (),
) -> DataFrame:
    """Entries of one R4 resource type with the R4 spec-derived schema
    (`r4/bundles.py:extract_entry`)."""
    return _bundles.extract_entry(
        spark, bundles, _r4(resource_type), tuple(_r4(t) for t in contained_types)
    )


def save_as_database(
    spark: SparkSession,
    bundles: DataFrame,
    database: str,
    *resource_types: str,
    path: str | None = None,
    bucket_by_subject: bool = False,
    num_buckets: int | None = None,
) -> None:
    """Extract + persist one table per R4 resource type
    (`r4/bundles.py:save_as_database`); table names drop the generation
    prefix (``<database>.patient``). ``num_buckets=None`` sizes the
    bucket count from ``bundles`` once for all tables, as in
    :func:`bunsen_spark.sources.bundles.save_as_database`."""
    _bundles.save_as_database(
        spark,
        bundles,
        database,
        *[_r4(rt) for rt in resource_types],
        path=path,
        bucket_by_subject=bucket_by_subject,
        num_buckets=num_buckets,
    )


def to_bundle(df: DataFrame, resource_type: str, bundle_type: str = "collection") -> dict:
    """Collect a (small) R4 resource DataFrame into one FHIR Bundle dict
    (`r4/bundles.py:to_bundle`)."""
    from ..sources.export import to_bundle as _to_bundle

    return _to_bundle(df, _r4(resource_type), bundle_type)
