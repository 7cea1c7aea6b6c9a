"""ValueSets collection: immutable accumulator of ValueSet resources +
exploded member values, with partitioned-warehouse persistence.

Re-expresses `AbstractValueSets.java` / `stu3/codes/ValueSets.java`:
- explode (D6): compose.include[].concept[] → flat (valueseturi,
  valuesetversion, system, version, value) rows via chained explodes;
- payload strip (D7): metadata rows keep the ValueSet structure with
  `compose.include[].concept := []` (higher-order transform, no UDF);
- latest-version (A1): groupBy(url).max(version) — Spark SQL max() is
  lexicographic on strings, replacing the reference's RDD workaround;
- duplicate rejection (J5) via anti-join semantics;
- warehouse (S9/S10): `values` parquet-partitioned by
  (valueseturi, valuesetversion); `valuesets` metadata table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..localrel import empty_df, values_df

VALUES_COLUMNS = ["system", "version", "value", "valueseturi", "valuesetversion"]
_VALUES_DDL = ", ".join(f"{c} string" for c in VALUES_COLUMNS)


def expand_values(value_sets: DataFrame) -> DataFrame:
    """ValueSet resources → flat member rows (D6)."""
    inc = value_sets.select(
        F.col("url").alias("valueseturi"),
        F.col("version").alias("valuesetversion"),
        F.explode("compose.include").alias("inc"),
    )
    return inc.select(
        F.col("inc.system").alias("system"),
        F.col("inc.version").alias("version"),
        F.explode("inc.concept").alias("c"),
        "valueseturi",
        "valuesetversion",
    ).select(
        "system",
        "version",
        F.col("c.code").alias("value"),
        "valueseturi",
        "valuesetversion",
    )


def _strip_concepts(value_sets: DataFrame) -> DataFrame:
    """Metadata view: drop the (potentially huge) concept payload (D7)."""
    stripped_include = F.transform(
        F.col("compose.include"),
        # slice-to-zero keeps the element type without restating the schema
        lambda i: i.withField("concept", F.slice(i["concept"], 1, 0)),
    )
    return value_sets.withColumn(
        "compose",
        F.when(
            F.col("compose").isNotNull(),
            F.col("compose").withField("include", stripped_include),
        ),
    )


class ValueSets:
    """``resource_type`` selects the spec generation: the default STU3
    "ValueSet", or "r4:ValueSet" resolved through the R4 registry
    (mirroring the reference's parallel `r4/codes/ValueSets` class);
    the explode/strip/re-assemble plans are schema-driven, so both
    generations flow through the same code."""

    def __init__(
        self,
        spark: SparkSession,
        value_sets: DataFrame,
        values: DataFrame,
        resource_type: str = "ValueSet",
    ):
        self.spark = spark
        self.value_sets = value_sets
        self.values = values
        self.resource_type = resource_type

    @classmethod
    def empty(cls, spark: SparkSession, resource_type: str = "ValueSet") -> "ValueSets":
        from ..schema import spark_schema_for

        vs = empty_df(spark, spark_schema_for(resource_type))
        vals = values_df(spark, [], _VALUES_DDL)
        return cls(spark, vs, vals, resource_type)

    def with_value_sets(self, df: DataFrame) -> "ValueSets":
        """Add ValueSet resources (spec schema). Rejects (url, version)
        duplicates within the batch or against current members
        (`AbstractValueSets.java:296-299,372-387`)."""
        new_members = df.select("url", "version").distinct()
        if new_members.count() != df.count():
            raise ValueError("duplicate (url, version) within added valuesets")
        if self.value_sets.join(new_members, ["url", "version"], "left_semi").count() > 0:
            raise ValueError("valueset (url, version) already present in collection")
        return ValueSets(
            self.spark,
            self.value_sets.unionByName(_strip_concepts(df)),
            self.values.unionByName(expand_values(df)),
            self.resource_type,
        )

    def with_value_sets_from_directory(self, path: str) -> "ValueSets":
        from ..sources.resources import read_resources_from_directory

        return self.with_value_sets(
            read_resources_from_directory(self.spark, path, self.resource_type)
        )

    # -- queries ------------------------------------------------------------

    def with_new_value_set(
        self,
        url: str,
        version: str,
        values: list[tuple],
        experimental: bool = True,
    ) -> "ValueSets":
        """Construct a value set from (system, code) or (system,
        system_version, code) tuples and add it
        (`python/bunsen/codes/__init__.py:with_new_value_set`): the
        nested resource is assembled as JSON and run through the
        standard ingest plan."""
        import json as _json

        systems: dict[tuple[str, str | None], list[str]] = {}
        for t in values:
            if len(t) == 2:
                system, code = t
                sys_version = None
            else:
                system, sys_version, code = t
            systems.setdefault((system, sys_version), []).append(code)
        doc = {
            "resourceType": "ValueSet",
            "url": url,
            "version": version,
            "status": "draft" if experimental else "active",
            "experimental": experimental,
            "compose": {
                "include": [
                    {
                        "system": system,
                        **({"version": sv} if sv else {}),
                        "concept": [{"code": c} for c in codes],
                    }
                    for (system, sv), codes in systems.items()
                ]
            },
        }
        from ..sources.resources import resources_from_json_strings

        raw = values_df(self.spark, [(_json.dumps(doc),)], "resource_json string")
        return self.with_value_sets(
            resources_from_json_strings(raw, "resource_json", self.resource_type)
        )

    def add_values(
        self, url: str, version: str, new_version: str, values: list[tuple]
    ) -> "ValueSets":
        """New VERSION of a stored set with extra member values appended
        (`python/bunsen/codes/__init__.py:add_values`)."""
        meta = self.value_sets.where(
            (F.col("url") == url) & (F.col("version") == version)
        ).withColumn("version", F.lit(new_version))
        if meta.isEmpty():
            raise ValueError(f"no stored value set {url}@{version}")
        old = self.values.where(
            (F.col("valueseturi") == url) & (F.col("valuesetversion") == version)
        ).withColumn("valuesetversion", F.lit(new_version))
        rows = []
        for t in values:
            system, sys_version, code = t if len(t) == 3 else (t[0], None, t[1])
            rows.append((system, sys_version, code, url, new_version))
        fresh = values_df(self.spark, rows, _VALUES_DDL)
        return ValueSets(
            self.spark,
            self.value_sets.unionByName(meta),
            self.values.unionByName(old.select(*VALUES_COLUMNS)).unionByName(fresh),
            self.resource_type,
        )

    def get_value_set_as_xml(self, url: str, version: str | None = None) -> str:
        """Re-assembled set as one FHIR XML string
        (`python/bunsen/codes/__init__.py:get_value_set_as_xml`)."""
        from ..sources.export import to_resource_xml

        return to_resource_xml(
            self.get_value_set(url, version), self.resource_type
        ).collect()[0]["xml"]

    def with_disjoint_value_sets_from_directory(self, path: str) -> "ValueSets":
        """Disjoint import: load only value sets whose (url, version)
        is not already stored (`AbstractValueSets.java` disjoint path,
        mirroring the ConceptMaps J1 anti-join)."""
        from ..sources.resources import read_resources_from_directory

        fresh = read_resources_from_directory(self.spark, path, self.resource_type).join(
            self.value_sets.select("url", "version"), ["url", "version"], "left_anti"
        )
        return self.with_value_sets(fresh)

    def get_value_sets(self) -> DataFrame:
        return self.value_sets

    def latest_version(self, url: str) -> str | None:
        row = (
            self.value_sets.where(F.col("url") == url)
            .agg(F.max("version").alias("v"))
            .collect()[0]
        )
        return row["v"]

    def get_latest_versions(self, include_experimental: bool = False) -> DataFrame:
        df = self.value_sets
        if not include_experimental:
            df = df.where(F.col("experimental").isNull() | ~F.col("experimental"))
        return df.groupBy("url").agg(F.max("version").alias("version"))

    def get_values(self, uri: str, version: str | None = None) -> DataFrame:
        v = version or self.latest_version(uri)
        return self.values.where(
            (F.col("valueseturi") == uri) & (F.col("valuesetversion") == v)
        ).select("system", "version", "value")

    def get_value_set(self, uri: str, version: str | None = None) -> DataFrame:
        """Re-assemble ONE stored set as a full ValueSet resource row
        (D6 read-back, `stu3/codes/ValueSets.java:237-285`): the
        stripped metadata's ``compose.include[].concept`` arrays are
        rebuilt from the flat value rows (grouped collect per code
        system) and spliced back into each include struct by
        null-safe (system, version) match.

        Concept arrays come back sorted by code — the flat table does
        not record document order (FHIR imposes none).
        """
        v = version or self.latest_version(uri)
        meta = self.value_sets.where((F.col("url") == uri) & (F.col("version") == v))
        vals = self.values.where(
            (F.col("valueseturi") == uri) & (F.col("valuesetversion") == v)
        )

        by_code = lambda l, r: F.when(l["code"] < r["code"], -1).when(  # noqa: E731
            l["code"] > r["code"], 1
        ).otherwise(F.lit(0))
        from .concept_maps import _struct_like

        include_t = (
            self.value_sets.schema["compose"].dataType["include"].dataType.elementType
        )
        concept_t = include_t["concept"].dataType.elementType
        concept_struct = _struct_like(concept_t, {"code": F.col("value")})
        concepts = vals.groupBy("system", "version").agg(
            F.collect_list(concept_struct).alias("_concept")
        ).withColumn("_concept", F.array_sort(F.col("_concept"), by_code))

        inc = meta.select(
            F.col("url").alias("_u"),
            F.col("version").alias("_v"),
            F.posexplode("compose.include").alias("pos", "inc"),
        )
        joined = inc.join(
            concepts,
            (inc["inc.system"] == concepts["system"])
            & inc["inc.version"].eqNullSafe(concepts["version"]),
            "left",
        )
        rebuilt = joined.select(
            "_u",
            "_v",
            F.struct(
                F.col("pos"),
                F.col("inc").withField(
                    "concept", F.coalesce(F.col("_concept"), F.col("inc.concept"))
                ).alias("inc"),
            ).alias("pi"),
        )
        includes = rebuilt.groupBy("_u", "_v").agg(
            F.transform(F.array_sort(F.collect_list("pi")), lambda x: x["inc"]).alias("_include")
        )
        return (
            meta.join(
                includes,
                (meta["url"] == includes["_u"]) & (meta["version"] == includes["_v"]),
                "left",
            )
            .withColumn(
                "compose",
                F.when(
                    F.col("_include").isNotNull(),
                    F.col("compose").withField("include", F.col("_include")),
                ).otherwise(F.col("compose")),
            )
            .select(*meta.columns)
        )

    # -- warehouse ----------------------------------------------------------

    def write_to_database(self, database: str, path: str | None = None) -> None:
        spark = self.spark
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
        values_table = f"{database}.values"
        meta_table = f"{database}.valuesets"
        if spark.catalog.tableExists(values_table):
            existing = spark.table(values_table).select("valueseturi", "valuesetversion").distinct()
            dup = existing.join(
                self.values.select("valueseturi", "valuesetversion").distinct(),
                ["valueseturi", "valuesetversion"],
            )
            if dup.count() > 0:
                raise ValueError("valueset uri/version already exists in database")
            self.values.select(*VALUES_COLUMNS).write.insertInto(values_table)
            self.value_sets.write.mode("append").saveAsTable(meta_table)
        else:
            vw = (
                self.values.select(*VALUES_COLUMNS)
                .write.format("parquet")
                .partitionBy("valueseturi", "valuesetversion")
            )
            if path:
                vw = vw.option("path", f"{path}/values")
            vw.saveAsTable(values_table)
            mw = self.value_sets.write.format("parquet")
            if path:
                mw = mw.option("path", f"{path}/valuesets")
            mw.saveAsTable(meta_table)

    @classmethod
    def get_from_database(
        cls, spark: SparkSession, database: str, resource_type: str = "ValueSet"
    ) -> "ValueSets":
        # the warehouse does not tag the spec generation; the caller's
        # API module supplies it (codes -> STU3, r4.codes -> r4:)
        return cls(
            spark,
            spark.table(f"{database}.valuesets"),
            spark.table(f"{database}.values"),
            resource_type,
        )
