"""Bundle ingestion: FHIR bundles → resource DataFrames.

Replaces the reference's RDD pipeline (`Bundles.java:117-279`: wholeTextFiles
→ per-bundle HAPI parse → per-resource Row conversion) with a single
Catalyst plan:

    read.text(wholetext) → from_json(entry array<resource string>)
    → explode → filter(resourceType) → from_json(spec parse schema)
    → nested-struct conversion expressions

Everything after the text scan is whole-stage-codegen'd JVM work; no
per-row Python and no custom serialization boundary (SURVEY §3.1).

At cluster scale the text scan parallelizes per file; tune
``spark.sql.files.maxPartitionBytes`` for many-small-file layouts, or
land bundles in a table first (``from_json_column``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .resources import resources_from_json_strings

# bundle envelope: capture each entry's resource as a raw JSON string
_BUNDLE_ENVELOPE = "struct<entry: array<struct<resource: string>>>"


def load_from_directory(spark: SparkSession, path: str) -> DataFrame:
    """Directory of bundle files → DataFrame(bundle_file, resource_json,
    resource_type): one row per resource entry.

    Mirrors `Bundles.loadFromDirectory` (Bundles.java:117-125) but keeps
    bundles as plain columns instead of a custom RDD container type.
    Each file is read whole (``wholetext``), so the scan's splits follow
    ``spark.sql.files.*`` (``maxPartitionBytes``, ``openCostInBytes``).
    XML bundles load with ``xml.load_from_directory_xml`` into the same
    columns.
    """
    raw = spark.read.text(path, wholetext=True).select(
        F.input_file_name().alias("bundle_file"), F.col("value").alias("content")
    )
    return _explode_bundles(raw, "content")


def from_json_column(df: DataFrame, column: str) -> DataFrame:
    """Bundles held in a string column of an existing DataFrame
    (`Bundles.fromJson`, Bundles.java:135-150)."""
    d = df.withColumn("bundle_file", F.lit(None).cast("string")) if "bundle_file" not in df.columns else df
    return _explode_bundles(d, column)


def _explode_bundles(df: DataFrame, content_col: str) -> DataFrame:
    parsed = df.select(
        F.col("bundle_file"),
        F.explode(F.from_json(F.col(content_col), _BUNDLE_ENVELOPE)["entry"]).alias("e"),
    )
    return parsed.select(
        "bundle_file",
        F.col("e.resource").alias("resource_json"),
        F.get_json_object("e.resource", "$.resourceType").alias("resource_type"),
    )


def extract_entry(
    spark: SparkSession,
    bundles: DataFrame,
    resource_type: str,
    contained_types: tuple[str, ...] = (),
) -> DataFrame:
    """Entries of one resource type → DataFrame with the spec-derived
    nested schema (`Bundles.extractEntry`, Bundles.java:186-279).

    The returned frame's schema is fixed by the FHIR definition — never
    inferred from data — so absent elements are typed nulls.
    ``contained_types`` as in ``resources.resources_from_json_strings``.
    """
    return resources_from_json_strings(bundles, "resource_json", resource_type, contained_types)


#: synthetic colocation column added by ``bucket_by_subject`` layouts
SUBJECT_KEY = "__subject_key"


def _subject_key_column(resource_type: str, df: DataFrame):
    """The patient-colocation key for a resource table: the patient's
    own id for Patient, ``subject.patientId`` where the spec declares a
    patient-target subject reference, else None (table not bucketed)."""
    from ..schema.resources import base_resource_type

    if base_resource_type(resource_type) == "Patient":
        return F.col("id")
    if "subject" in df.columns:
        subject_type = df.schema["subject"].dataType
        if hasattr(subject_type, "fieldNames") and "patientId" in subject_type.fieldNames():
            return F.col("subject.patientId")
    return None


def save_as_database(
    spark: SparkSession,
    bundles: DataFrame,
    database: str,
    *resource_types: str,
    path: str | None = None,
    bucket_by_subject: bool = False,
    num_buckets: int | None = None,
) -> None:
    """Extract each resource type and save as one table per type
    (`Bundles.saveAsDatabase`, Bundles.java:298-311).

    ``bucket_by_subject=True`` colocates the warehouse by patient: each
    table gains a ``__subject_key`` column (patient id / subject
    patientId) and is bucketed+sorted on it, so every recurring
    patient-level join (patients ⋈ observations ⋈ conditions …) runs
    with ZERO exchange on either side — the shuffle is paid once at
    write time. At 100 TB this is the single biggest recurring-cost
    lever the warehouse layout controls (see :mod:`.warehouse`).
    Resources with no patient subject fall back to plain parquet.

    ``num_buckets`` defaults to :func:`.warehouse.bucket_count_for` of
    ``bundles`` (sized from its plan statistics, no job), computed once
    per call so every table landed together shares one count. Tables
    landed by separate calls co-bucket only when both calls pass the
    same explicit ``num_buckets``.
    """
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    if bucket_by_subject and num_buckets is None:
        from .warehouse import bucket_count_for

        num_buckets = bucket_count_for(bundles)
    for rt in resource_types:
        df = extract_entry(spark, bundles, rt)
        # table names keep the addressed type/profile name but never a
        # generation prefix ("r4:Patient" and "Patient" both persist as
        # <database>.patient — the generation is a schema dialect, not
        # part of the warehouse namespace)
        tname = rt.split(":", 1)[-1].lower()
        table = f"{database}.{tname}"
        table_path = f"{path}/{tname}" if path else None
        if bucket_by_subject:
            key = _subject_key_column(rt, df)
            if key is not None:
                from .warehouse import write_bucketed

                write_bucketed(
                    df.withColumn(SUBJECT_KEY, key),
                    table,
                    SUBJECT_KEY,
                    num_buckets=num_buckets,
                    path=table_path,
                )
                continue
        writer = df.write.mode("overwrite").format("parquet")
        if table_path:
            writer = writer.option("path", table_path)
        writer.saveAsTable(table)
