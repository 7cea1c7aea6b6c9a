"""ConceptMaps collection: immutable accumulator of ConceptMap resources +
exploded mapping rows, translate with OTHERMAP delegation, and a
partitioned warehouse.

Re-expresses `AbstractConceptMaps.java` / `stu3/codes/ConceptMaps.java`:
- explode (D4, `ConceptMaps.java:207-275`): group[].element[].target[] →
  flat mapping rows via three chained explodes (Catalyst-native, no
  per-row Java);
- payload strip (D7, `ConceptMaps.java:277-301`): metadata rows keep the
  ConceptMap structure with `group[].element := []`;
- latest-version (A1, `AbstractConceptMaps.java:456-492`): the reference
  drops to RDD reduceByKey because it believed SQL ``max`` was
  numeric-only; Spark SQL ``max`` is lexicographic on strings, so this is
  a one-line groupBy;
- duplicate rejection (J5) and disjoint import (J1) via semi/anti joins;
- translate with delegation (D12, `BroadcastableConceptMap.java:93-125`,
  topo sort `ConceptMaps.java:386-441`): instead of an opaque broadcast
  dict behind a Java UDF, delegation chains are FLATTENED into an
  "effective mappings" DataFrame (base mappings ∪ delegate mappings for
  source codes the base leaves unmapped, resolved recursively), so
  translation of a fact table is a plain broadcast hash join that
  Catalyst can push around;
- warehouse (S9/S10, `AbstractConceptMaps.java:515-678`): `mappings`
  parquet table partitioned by (conceptmapuri, conceptmapversion).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..localrel import empty_df, values_df

MAPPINGS_COLUMNS = [
    "sourcevalueset",
    "targetvalueset",
    "sourcesystem",
    "sourcevalue",
    "targetsystem",
    "targetvalue",
    "equivalence",
    "conceptmapuri",
    "conceptmapversion",
]
_MAPPINGS_DDL = ", ".join(f"{c} string" for c in MAPPINGS_COLUMNS)

#: equivalences that count as a usable source→target mapping
#: (`stu3/codes/ConceptMaps.java:348-353`)
TRANSLATE_EQUIVALENCES = ("equivalent", "equals", "wider", "subsumes")


def expand_mappings(concept_maps: DataFrame) -> DataFrame:
    """ConceptMap resources → flat mapping rows (D4): three chained
    explodes, one row per (group, element, target)."""
    g = concept_maps.select(
        F.col("url").alias("conceptmapuri"),
        F.col("version").alias("conceptmapversion"),
        F.col("source.uri").alias("sourcevalueset"),
        F.col("target.uri").alias("targetvalueset"),
        F.explode("group").alias("g"),
    )
    e = g.select(
        "conceptmapuri",
        "conceptmapversion",
        "sourcevalueset",
        "targetvalueset",
        F.col("g.source").alias("sourcesystem"),
        F.col("g.target").alias("targetsystem"),
        F.explode("g.element").alias("e"),
    )
    return e.select(
        "sourcevalueset",
        "targetvalueset",
        "sourcesystem",
        F.col("e.code").alias("sourcevalue"),
        "targetsystem",
        F.explode("e.target").alias("t"),
        "conceptmapuri",
        "conceptmapversion",
    ).select(
        "sourcevalueset",
        "targetvalueset",
        "sourcesystem",
        "sourcevalue",
        "targetsystem",
        F.col("t.code").alias("targetvalue"),
        F.col("t.equivalence").alias("equivalence"),
        "conceptmapuri",
        "conceptmapversion",
    )


def _struct_like(struct_type, overrides: dict) -> "F.Column":
    """A struct literal matching ``struct_type`` exactly: ``overrides``
    supply named columns, every other field is a typed NULL. Keeps the
    re-assembly plans SCHEMA-DRIVEN so the same code rebuilds STU3 and
    R4 backbone shapes (which differ in field sets, e.g. the R4
    ConceptMap target's dependsOn/product and missing ``id``)."""
    cols = []
    for f in struct_type.fields:
        if f.name in overrides:
            cols.append(overrides[f.name].cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return F.struct(*cols)


def _strip_elements(concept_maps: DataFrame) -> DataFrame:
    """Metadata view: drop the (potentially huge) element payload (D7)."""
    stripped_group = F.transform(
        F.col("group"),
        # slice-to-zero keeps the element type without restating the schema
        lambda g: g.withField("element", F.slice(g["element"], 1, 0)),
    )
    return concept_maps.withColumn(
        "group",
        F.when(F.col("group").isNotNull(), stripped_group),
    )


class ConceptMaps:
    """Immutable collection; every ``with_*`` returns a new instance
    (U1, `AbstractConceptMaps.java:283-298`).

    ``resource_type`` selects the spec generation: the default STU3
    "ConceptMap", or "r4:ConceptMap" resolved through the R4 registry
    (mirroring the reference's parallel `r4/codes/ConceptMaps` class) —
    all plans are schema-driven, so explode/strip/re-assemble/XML work
    identically over either generation's shapes."""

    def __init__(
        self,
        spark: SparkSession,
        concept_maps: DataFrame,
        mappings: DataFrame,
        resource_type: str = "ConceptMap",
    ):
        self.spark = spark
        self.concept_maps = concept_maps
        self.mappings = mappings
        self.resource_type = resource_type

    @classmethod
    def empty(cls, spark: SparkSession, resource_type: str = "ConceptMap") -> "ConceptMaps":
        from ..schema import spark_schema_for

        cm = empty_df(spark, spark_schema_for(resource_type))
        mp = values_df(spark, [], _MAPPINGS_DDL)
        return cls(spark, cm, mp, resource_type)

    def with_concept_maps(self, df: DataFrame) -> "ConceptMaps":
        """Add ConceptMap resources (spec schema). Rejects (url, version)
        duplicates within the batch or against current members
        (`AbstractConceptMaps.java:494-512`)."""
        new_members = df.select("url", "version").distinct()
        if new_members.count() != df.count():
            raise ValueError("duplicate (url, version) within added concept maps")
        if self.concept_maps.join(new_members, ["url", "version"], "left_semi").count() > 0:
            raise ValueError("concept map (url, version) already present in collection")
        return ConceptMaps(
            self.spark,
            self.concept_maps.unionByName(_strip_elements(df)),
            self.mappings.unionByName(expand_mappings(df)),
            self.resource_type,
        )

    def with_maps_from_directory(self, path: str) -> "ConceptMaps":
        from ..sources.resources import read_resources_from_directory

        return self.with_concept_maps(
            read_resources_from_directory(self.spark, path, self.resource_type)
        )

    def with_new_map(
        self,
        url: str,
        version: str,
        source: str,
        target: str,
        mappings: list[tuple],
        experimental: bool = True,
    ) -> "ConceptMaps":
        """Construct a map from (sourcesystem, sourcevalue,
        targetsystem, targetvalue, equivalence) tuples and add it
        (`python/bunsen/codes/__init__.py:with_new_map`,
        `ConceptMaps.java` createMap path): the nested resource is
        assembled as JSON and run through the standard ingest plan, so
        schema and converter behavior are identical to file imports."""
        import json as _json

        groups: dict[tuple[str, str], dict[str, list]] = {}
        for ss, sv, ts, tv, eq in mappings:
            elems = groups.setdefault((ss, ts), {})
            elems.setdefault(sv, []).append({"code": tv, "equivalence": eq})
        doc = {
            "resourceType": "ConceptMap",
            "url": url,
            "version": version,
            "status": "draft" if experimental else "active",
            "experimental": experimental,
            "sourceUri": source,
            "targetUri": target,
            "group": [
                {
                    "source": ss,
                    "target": ts,
                    "element": [
                        {"code": sv, "target": tgts} for sv, tgts in elems.items()
                    ],
                }
                for (ss, ts), elems in groups.items()
            ],
        }
        from ..sources.resources import resources_from_json_strings

        raw = values_df(self.spark, [(_json.dumps(doc),)], "resource_json string")
        return self.with_concept_maps(
            resources_from_json_strings(raw, "resource_json", self.resource_type)
        )

    def add_mappings(
        self, url: str, version: str, new_version: str, mappings: list[tuple]
    ) -> "ConceptMaps":
        """New VERSION of a stored map with extra mappings appended
        (`python/bunsen/codes/__init__.py:add_mappings`): metadata is
        copied with the new version; the mapping table is the old
        version's rows plus the new tuples."""
        meta = self.concept_maps.where(
            (F.col("url") == url) & (F.col("version") == version)
        ).withColumn("version", F.lit(new_version))
        if meta.isEmpty():
            raise ValueError(f"no stored map {url}@{version}")
        old = self.get_mappings(url, version).withColumn(
            "conceptmapversion", F.lit(new_version)
        )
        row = meta.select(F.col("source.uri"), F.col("target.uri")).collect()[0]
        fresh = values_df(
            self.spark,
            [
                (row[0], row[1], ss, sv, ts, tv, eq, url, new_version)
                for ss, sv, ts, tv, eq in mappings
            ],
            _MAPPINGS_DDL,
        )
        return ConceptMaps(
            self.spark,
            self.concept_maps.unionByName(meta),
            self.mappings.unionByName(old.select(*MAPPINGS_COLUMNS)).unionByName(
                fresh
            ),
            self.resource_type,
        )

    def get_map_as_xml(self, url: str, version: str | None = None) -> str:
        """Re-assembled map as one FHIR XML string
        (`python/bunsen/codes/__init__.py:get_map_as_xml`)."""
        from ..sources.export import to_resource_xml

        return to_resource_xml(
            self.get_concept_map(url, version), self.resource_type
        ).collect()[0]["xml"]

    def with_disjoint_maps_from_directory(self, path: str) -> "ConceptMaps":
        """Disjoint import (J1, `AbstractConceptMaps.java:220-234`): load
        only maps whose (url, version) the collection does not already
        have — a left anti-join, not a collect-and-diff."""
        from ..sources.resources import read_resources_from_directory

        candidates = read_resources_from_directory(self.spark, path, self.resource_type)
        fresh = candidates.join(
            self.concept_maps.select("url", "version"), ["url", "version"], "left_anti"
        )
        return self.with_concept_maps(fresh)

    # -- queries ------------------------------------------------------------

    def get_maps(self) -> DataFrame:
        return self.concept_maps

    def get_mappings(self, uri: str | None = None, version: str | None = None) -> DataFrame:
        if uri is None:
            return self.mappings
        v = version or self.latest_version(uri)
        # equality on the partition columns → partition pruning on the
        # warehouse-backed table (P4)
        return self.mappings.where(
            (F.col("conceptmapuri") == uri) & (F.col("conceptmapversion") == v)
        )

    def latest_version(self, url: str) -> str | None:
        row = (
            self.concept_maps.where(F.col("url") == url)
            .agg(F.max("version").alias("v"))
            .collect()[0]
        )
        return row["v"]

    def get_latest_versions(self, include_experimental: bool = False) -> DataFrame:
        df = self.concept_maps
        if not include_experimental:
            df = df.where(F.col("experimental").isNull() | ~F.col("experimental"))
        return df.groupBy("url").agg(F.max("version").alias("version"))

    def get_concept_map(self, uri: str, version: str | None = None) -> DataFrame:
        """Re-assemble ONE stored map as a full ConceptMap resource row
        (D5, `stu3/codes/ConceptMaps.java:134-199`): the stripped
        metadata's ``group[].element`` arrays are rebuilt from the flat
        mapping rows with two grouped collects, then spliced back into
        each group struct by (source, target) system pair.

        Element and target arrays are returned sorted by code — the
        flat table does not record document order (FHIR imposes none).
        """
        v = version or self.latest_version(uri)
        meta = self.concept_maps.where((F.col("url") == uri) & (F.col("version") == v))
        maps = self.mappings.where(
            (F.col("conceptmapuri") == uri) & (F.col("conceptmapversion") == v)
        )

        by_code = lambda l, r: F.when(l["code"] < r["code"], -1).when(  # noqa: E731
            l["code"] > r["code"], 1
        ).otherwise(F.lit(0))
        group_t = self.concept_maps.schema["group"].dataType.elementType
        element_t = group_t["element"].dataType.elementType
        target_t = element_t["target"].dataType.elementType
        target_struct = _struct_like(
            target_t,
            {"code": F.col("targetvalue"), "equivalence": F.col("equivalence")},
        )
        targets = maps.groupBy("sourcesystem", "targetsystem", "sourcevalue").agg(
            F.collect_list(target_struct).alias("target")
        )
        element_struct = _struct_like(
            element_t,
            {
                "code": F.col("sourcevalue"),
                "target": F.array_sort(F.col("target"), by_code),
            },
        )
        elements = targets.groupBy("sourcesystem", "targetsystem").agg(
            F.collect_list(element_struct).alias("_element")
        ).withColumn("_element", F.array_sort(F.col("_element"), by_code))

        g = meta.select("url", "version", F.posexplode("group").alias("pos", "g"))
        joined = g.join(
            elements,
            (g["g.source"] == elements["sourcesystem"])
            & (g["g.target"] == elements["targetsystem"]),
            "left",
        )
        rebuilt = joined.select(
            "url",
            "version",
            F.struct(
                F.col("pos"),
                F.col("g").withField(
                    "element", F.coalesce(F.col("_element"), F.col("g.element"))
                ).alias("g"),
            ).alias("pg"),
        )
        groups = rebuilt.groupBy("url", "version").agg(
            F.transform(F.array_sort(F.collect_list("pg")), lambda x: x["g"]).alias("_group")
        )
        return (
            meta.join(groups, ["url", "version"], "left")
            .withColumn(
                "group", F.when(F.col("_group").isNotNull(), F.col("_group")).otherwise(F.col("group"))
            )
            # equi-join hoists the keys to the front; restore resource order
            .select(*meta.columns)
        )

    # -- translate (D12) ----------------------------------------------------

    def _delegate_uri(self, uri: str, version: str) -> str | None:
        row = (
            self.concept_maps.where(
                (F.col("url") == uri) & (F.col("version") == version)
            )
            .select(F.explode("group").alias("g"))
            # STU3 spells the code "other-map"; HAPI's enum is OTHERMAP
            .where(F.regexp_replace(F.lower("g.unmapped.mode"), "-", "") == "othermap")
            .select("g.unmapped.url")
            .limit(1)
            .collect()
        )
        return row[0]["url"] if row else None

    def effective_mappings(self, uri: str, version: str | None = None) -> DataFrame:
        """Delegation-flattened mappings for ``uri``: the map's own
        usable mappings plus, for source codes it leaves unmapped, the
        delegate chain's (recursively). Equivalence whitelist applied
        (P5). Output columns: sourcesystem, sourcevalue, targetsystem,
        targetvalue, equivalence."""
        out_cols = ["sourcesystem", "sourcevalue", "targetsystem", "targetvalue", "equivalence"]
        visited: set[str] = set()

        def resolve(u: str, ver: str | None) -> DataFrame:
            v = ver or self.latest_version(u)
            if v is None:
                raise ValueError(f"unknown concept map: {u}")
            key = f"{u}|{v}"
            if key in visited:  # cycle guard — reference topo-sorts instead
                return values_df(self.spark, [], ", ".join(f"{c} string" for c in out_cols))
            visited.add(key)
            own = (
                self.get_mappings(u, v)
                .where(F.col("equivalence").isin(*TRANSLATE_EQUIVALENCES))
                .select(*out_cols)
            )
            delegate = self._delegate_uri(u, v)
            if delegate is None:
                return own
            fallback = resolve(delegate, None).join(
                own.select("sourcesystem", "sourcevalue").distinct(),
                ["sourcesystem", "sourcevalue"],
                "left_anti",
            )
            return own.unionByName(fallback.select(*out_cols))

        return resolve(uri, version)

    def translate(
        self,
        df: DataFrame,
        uri: str,
        system_col: str,
        code_col: str,
        version: str | None = None,
    ) -> DataFrame:
        """Translate a fact table's (system, code) columns through a
        concept map: broadcast hash join against the (small) effective
        mappings — Catalyst keeps pushdown/pruning, unlike the
        reference's opaque broadcast-dict UDF. Adds ``targetsystem`` /
        ``targetvalue`` columns (null where unmapped)."""
        m = self.effective_mappings(uri, version).select(
            F.col("sourcesystem").alias(system_col),
            F.col("sourcevalue").alias(code_col),
            "targetsystem",
            "targetvalue",
        )
        return df.join(F.broadcast(m), [system_col, code_col], "left")

    # -- warehouse ----------------------------------------------------------

    def write_to_database(self, database: str, path: str | None = None) -> None:
        spark = self.spark
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
        mappings_table = f"{database}.mappings"
        meta_table = f"{database}.conceptmaps"
        if spark.catalog.tableExists(mappings_table):
            existing = (
                spark.table(mappings_table)
                .select("conceptmapuri", "conceptmapversion")
                .distinct()
            )
            dup = existing.join(
                self.mappings.select("conceptmapuri", "conceptmapversion").distinct(),
                ["conceptmapuri", "conceptmapversion"],
            )
            if dup.count() > 0:
                raise ValueError("concept map uri/version already exists in database")
            self.mappings.select(*MAPPINGS_COLUMNS).write.insertInto(mappings_table)
            self.concept_maps.write.mode("append").saveAsTable(meta_table)
        else:
            mw = (
                self.mappings.select(*MAPPINGS_COLUMNS)
                .write.format("parquet")
                .partitionBy("conceptmapuri", "conceptmapversion")
            )
            if path:
                mw = mw.option("path", f"{path}/mappings")
            mw.saveAsTable(mappings_table)
            cw = self.concept_maps.write.format("parquet")
            if path:
                cw = cw.option("path", f"{path}/conceptmaps")
            cw.saveAsTable(meta_table)

    @classmethod
    def get_from_database(
        cls, spark: SparkSession, database: str, resource_type: str = "ConceptMap"
    ) -> "ConceptMaps":
        # the warehouse stores generation-shaped metadata rows but does
        # not tag the generation; the caller's API module supplies it
        # (bunsen_spark.codes -> STU3, bunsen_spark.r4.codes -> r4:)
        return cls(
            spark,
            spark.table(f"{database}.conceptmaps"),
            spark.table(f"{database}.mappings"),
            resource_type,
        )
