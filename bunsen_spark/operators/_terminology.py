"""(url, version)-keyed terminology collections and their warehouse.

A ValueSet or ConceptMap collection is two frames: the resources with
their member payload stripped (D7), one metadata row per (url,
version), and that payload exploded to flat member rows (D4/D6) whose
last two columns repeat the (url, version). :class:`Collection` is the
one base of both, as `AbstractValueSets.java` / `AbstractConceptMaps.java`
are in the reference: the add path and its duplicate checks, the
directory imports, latest versions, the new-version copy, the XML
export and the warehouse. A subclass supplies its explode, its strip,
its JSON builder, its lookups and its column and table names.

:func:`write_partitioned` is the one warehouse writer (S9/S10), for the
Hierarchies' ancestors table too. :func:`splice` is the one
re-assembly step (D5/D6) that puts rebuilt member arrays back into a
stripped resource.
"""

from __future__ import annotations

import json
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..localrel import empty_df, values_df


def ddl(columns: list[str]) -> str:
    """DDL of an all-string flat table."""
    return ", ".join(f"{c} string" for c in columns)


def latest(df: DataFrame, key: str) -> DataFrame:
    """Lexicographic max ``version`` per ``key`` (A1). The reference
    drops to an RDD ``reduceByKey`` because it took SQL ``max`` to be
    numeric-only; Spark SQL ``max`` orders strings."""
    return df.groupBy(key).agg(F.max("version").alias("version"))


def write_partitioned(
    database: str,
    what: str,
    flat: DataFrame,
    flat_table: str,
    meta: DataFrame | None = None,
    meta_table: str | None = None,
    path: str | None = None,
) -> None:
    """Land a collection in ``database``: ``flat`` as a parquet table
    partitioned by its last two columns, the members' (uri, version),
    so point lookups prune to one partition; ``meta``, when the
    collection has one, as its metadata table.

    A (uri, version) the warehouse already holds raises before anything
    is written (J5). The check reads the metadata table where there is
    one (`AbstractConceptMaps.java:501-504`), since a member with no
    flat rows lands there only, and the flat table otherwise
    (`Hierarchies.java:393-396`). New tables land under ``path``: a
    lone flat table at ``path`` itself, a flat and metadata pair in its
    sub-directories named after the tables."""
    spark = flat.sparkSession
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    by = flat.columns[-2:]
    if meta is None:
        tables = [(flat, flat_table, by, path)]
        members, keys, checked = flat, by, flat_table
    else:
        tables = [
            (flat, flat_table, by, path and f"{path}/{flat_table}"),
            (meta, meta_table, [], path and f"{path}/{meta_table}"),
        ]
        members, keys, checked = meta, ["url", "version"], meta_table
    if spark.catalog.tableExists(f"{database}.{checked}"):
        stored = spark.table(f"{database}.{checked}").select(*keys)
        dup = members.select(*keys).join(stored, keys, "left_semi")
        if dup.limit(1).count() > 0:
            raise ValueError(f"{what} uri/version already exists in database")
        for frame, table, _, _ in tables:
            frame.write.insertInto(f"{database}.{table}")
        return
    for frame, table, parts, location in tables:
        writer = frame.write.format("parquet").partitionBy(*parts)
        if location:
            writer = writer.option("path", location)
        writer.saveAsTable(f"{database}.{table}")


# -- re-assembly (D5/D6) ----------------------------------------------------


def by_code(left: Column, right: Column) -> Column:
    """``array_sort`` comparator on ``code``: the flat tables record no
    document order (FHIR imposes none), so rebuilt member arrays come
    back sorted by code."""
    return F.when(left["code"] < right["code"], -1).when(
        left["code"] > right["code"], 1
    ).otherwise(F.lit(0))


def element_type(schema: T.StructType, *path: str) -> T.StructType:
    """The struct type at ``path`` under ``schema``, stepping into
    array elements."""
    t = schema
    for name in path:
        t = t[name].dataType
        if isinstance(t, T.ArrayType):
            t = t.elementType
    return t


def _struct_like(struct_type: T.StructType, overrides: dict) -> Column:
    """A struct literal matching ``struct_type`` exactly: ``overrides``
    supply named columns, every other field is a typed NULL. Keeps the
    re-assembly plans SCHEMA-DRIVEN so the same code rebuilds STU3 and
    R4 backbone shapes (which differ in field sets, e.g. the R4
    ConceptMap target's dependsOn/product and missing ``id``)."""
    return F.struct(
        *[
            (overrides[f.name] if f.name in overrides else F.lit(None))
            .cast(f.dataType)
            .alias(f.name)
            for f in struct_type.fields
        ]
    )


def splice(
    meta: DataFrame, path: str, field: str, members: DataFrame, on: dict[str, str]
) -> DataFrame:
    """Re-assemble stripped resources: each struct in the array at
    ``path`` (``compose.include``, ``group``) gets its ``field`` back
    from the ``_members`` column of the ``members`` row whose ``on``
    columns (struct field -> members column) match it null-safely. A
    members row goes back to the first struct (lowest position) it
    matches only, since the flat rows do not record which of two
    structs with the same key they came from. A struct with no members
    keeps what it had. Array order, the resource's columns and their
    order are kept."""
    items = meta.select(
        F.col("url").alias("_u"),
        F.col("version").alias("_v"),
        F.posexplode(path).alias("_pos", "_item"),
    )
    match = reduce(
        lambda a, b: a & b,
        [items["_item"][k].eqNullSafe(members[c]) for k, c in on.items()],
    )
    matched = F.when(F.col("_members").isNotNull(), F.col("_pos"))
    first = F.min(matched).over(Window.partitionBy("_u", "_v", *on.values()))
    item = F.col("_item").withField(
        field,
        F.coalesce(F.when(F.col("_pos") == first, F.col("_members")), F.col("_item")[field]),
    )
    arrays = (
        items.join(members, match, "left")
        .select("_u", "_v", F.struct("_pos", item.alias("_item")).alias("_p"))
        .groupBy("_u", "_v")
        .agg(F.transform(F.array_sort(F.collect_list("_p")), lambda p: p["_item"]).alias("_items"))
    )
    top, _, rest = path.partition(".")
    spliced = F.col(top).withField(rest, F.col("_items")) if rest else F.col("_items")
    return (
        meta.join(arrays, (meta["url"] == arrays["_u"]) & (meta["version"] == arrays["_v"]), "left")
        .withColumn(top, F.when(F.col("_items").isNotNull(), spliced).otherwise(F.col(top)))
        .select(*meta.columns)
    )


class Collection:
    """Immutable (url, version)-keyed collection: every ``with_*`` and
    ``add_*`` returns a new instance (U1). ``resource_type`` selects the
    spec generation, the subclass's STU3 type by default or its
    ``r4:`` name resolved through the R4 registry (the reference's
    parallel `r4/codes` classes); every plan is schema-driven, so both
    generations flow through the same code."""

    RESOURCE_TYPE: str  # default spec generation, e.g. "ValueSet"
    NOUN: str  # the member, in error messages
    META_TABLE: str
    FLAT_TABLE: str
    FLAT_COLUMNS: list[str]  # the last two are the member's (uri, version)
    # and the staticmethods _explode (resources -> flat rows) and _strip
    # (resources -> metadata rows)

    def __init__(
        self,
        spark: SparkSession,
        meta: DataFrame,
        flat: DataFrame,
        resource_type: str | None = None,
    ):
        self.spark = spark
        self._meta = meta
        self._flat = flat
        self.resource_type = resource_type or self.RESOURCE_TYPE

    @classmethod
    def empty(cls, spark: SparkSession, resource_type: str | None = None):
        from ..schema import spark_schema_for

        resource_type = resource_type or cls.RESOURCE_TYPE
        meta = empty_df(spark, spark_schema_for(resource_type))
        return cls(spark, meta, values_df(spark, [], ddl(cls.FLAT_COLUMNS)), resource_type)

    # -- adding ----------------------------------------------------------------

    def _add(self, meta: DataFrame, flat: DataFrame):
        """Every add path ends here. Rejects a (url, version) repeated
        within the batch or already in the collection (J5,
        `AbstractValueSets.java:296-299`, `AbstractConceptMaps.java:494-512`)."""
        new = meta.select("url", "version").distinct()
        if new.count() != meta.count():
            raise ValueError(f"duplicate (url, version) within added {self.NOUN}s")
        if self._meta.join(new, ["url", "version"], "left_semi").count() > 0:
            raise ValueError(f"{self.NOUN} (url, version) already present in collection")
        return type(self)(
            self.spark,
            self._meta.unionByName(meta),
            self._flat.unionByName(flat.select(*self.FLAT_COLUMNS)),
            self.resource_type,
        )

    def _add_resources(self, resources: DataFrame):
        return self._add(self._strip(resources), self._explode(resources))

    def _import(self, path: str, disjoint: bool = False):
        """Directory import. ``disjoint`` loads only resources whose
        (url, version) the collection lacks (J1, a left anti-join, not a
        collect-and-diff: `AbstractConceptMaps.java:220-234`)."""
        from ..sources.resources import read_resources_from_directory

        resources = read_resources_from_directory(self.spark, path, self.resource_type)
        if disjoint:
            resources = resources.join(
                self._meta.select("url", "version"), ["url", "version"], "left_anti"
            )
        return self._add_resources(resources)

    def _add_json(self, doc: dict):
        """Add one resource assembled as JSON, through the same ingest
        plan as a file import."""
        from ..sources.resources import resources_from_json_strings

        raw = values_df(self.spark, [(json.dumps(doc),)], "resource_json string")
        return self._add_resources(
            resources_from_json_strings(raw, "resource_json", self.resource_type)
        )

    def _add_version(self, url: str, version: str, new_version: str, rows, missing: str):
        """``url@new_version``: a copy of the stored ``url@version``'s
        metadata and flat rows, plus the flat rows ``rows(metadata row)``
        (each without its trailing (uri, version) pair)."""
        meta, flat = self._member(url, version)
        meta = meta.withColumn("version", F.lit(new_version))
        first = meta.first()
        if first is None:
            raise ValueError(f"{missing} {url}@{version}")
        new_rows = [(*r, url, new_version) for r in rows(first)]
        fresh = values_df(self.spark, new_rows, ddl(self.FLAT_COLUMNS))
        copied = flat.withColumn(self.FLAT_COLUMNS[-1], F.lit(new_version))
        return self._add(meta, copied.unionByName(fresh))

    # -- queries ---------------------------------------------------------------

    def latest_version(self, url: str) -> str | None:
        return (
            self._meta.where(F.col("url") == url)
            .agg(F.max("version").alias("v"))
            .collect()[0]["v"]
        )

    def get_latest_versions(self, include_experimental: bool = False) -> DataFrame:
        df = self._meta
        if not include_experimental:
            df = df.where(F.col("experimental").isNull() | ~F.col("experimental"))
        return latest(df, "url")

    def _member(self, url: str, version: str | None = None) -> tuple[DataFrame, DataFrame]:
        """Metadata and flat rows of one stored member, its latest
        version by default. Equality on the flat table's partition
        columns prunes a warehouse scan to one partition (P4)."""
        v = version or self.latest_version(url)
        uri_col, version_col = self.FLAT_COLUMNS[-2:]
        return (
            self._meta.where((F.col("url") == url) & (F.col("version") == v)),
            self._flat.where((F.col(uri_col) == url) & (F.col(version_col) == v)),
        )

    def _xml(self, resource: DataFrame) -> str:
        """A re-assembled resource row as one FHIR XML string."""
        from ..sources.export import to_resource_xml

        return to_resource_xml(resource, self.resource_type).collect()[0]["xml"]

    # -- warehouse -------------------------------------------------------------

    def write_to_database(self, database: str, path: str | None = None) -> None:
        flat = self._flat.select(*self.FLAT_COLUMNS)
        write_partitioned(database, self.NOUN, flat, self.FLAT_TABLE, self._meta, self.META_TABLE, path)

    @classmethod
    def get_from_database(
        cls, spark: SparkSession, database: str, resource_type: str | None = None
    ):
        # the warehouse does not tag the spec generation; the caller's
        # API module supplies it (codes -> STU3, r4.codes -> r4:)
        meta, flat = (spark.table(f"{database}.{t}") for t in (cls.META_TABLE, cls.FLAT_TABLE))
        return cls(spark, meta, flat, resource_type)
