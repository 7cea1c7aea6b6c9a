"""ConceptMaps collection: ConceptMap resources, their exploded mapping
rows, and translate with OTHERMAP delegation
(`AbstractConceptMaps.java` / `stu3/codes/ConceptMaps.java`).

- explode (D4, `ConceptMaps.java:207-275`): group[].element[].target[] →
  flat mapping rows via three chained explodes (Catalyst-native, no
  per-row Java);
- payload strip (D7, `ConceptMaps.java:277-301`): metadata rows keep the
  ConceptMap structure with `group[].element := []`;
- translate with delegation (D12, `BroadcastableConceptMap.java:93-125`,
  topo sort `ConceptMaps.java:386-441`): instead of an opaque broadcast
  dict behind a Java UDF, delegation chains are FLATTENED into an
  "effective mappings" DataFrame (base mappings ∪ delegate mappings for
  source codes the base leaves unmapped, resolved recursively), so
  translation of a fact table is a plain broadcast hash join that
  Catalyst can push around;
- warehouse tables `mappings`, partitioned by (conceptmapuri,
  conceptmapversion), and `conceptmaps`.

The (url, version) bookkeeping shared with ValueSets lives in
:mod:`._terminology`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..localrel import values_df
from ._terminology import Collection, _struct_like, by_code, ddl, element_type, splice

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


class ConceptMaps(Collection):
    """``resource_type`` is "ConceptMap" (STU3) or "r4:ConceptMap"."""

    RESOURCE_TYPE = "ConceptMap"
    NOUN = "concept map"
    META_TABLE = "conceptmaps"
    FLAT_TABLE = "mappings"
    FLAT_COLUMNS = MAPPINGS_COLUMNS
    _explode = staticmethod(expand_mappings)
    _strip = staticmethod(_strip_elements)

    concept_maps = property(lambda self: self._meta)
    mappings = property(lambda self: self._flat)

    def with_concept_maps(self, df: DataFrame) -> "ConceptMaps":
        """Add ConceptMap resources (spec schema)."""
        return self._add_resources(df)

    def with_maps_from_directory(self, path: str) -> "ConceptMaps":
        return self._import(path)

    def with_disjoint_maps_from_directory(self, path: str) -> "ConceptMaps":
        """Load only the maps whose (url, version) is not stored (J1)."""
        return self._import(path, disjoint=True)

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
        `ConceptMaps.java` createMap path)."""
        groups: dict[tuple[str, str], dict[str, list]] = {}
        for ss, sv, ts, tv, eq in mappings:
            elems = groups.setdefault((ss, ts), {})
            elems.setdefault(sv, []).append({"code": tv, "equivalence": eq})
        return self._add_json(
            {
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
        )

    def add_mappings(
        self, url: str, version: str, new_version: str, mappings: list[tuple]
    ) -> "ConceptMaps":
        """New VERSION of a stored map with extra mappings appended
        (`python/bunsen/codes/__init__.py:add_mappings`)."""

        def rows(meta):
            ends = [meta[c] and meta[c]["uri"] for c in ("source", "target")]
            return [(*ends, *m) for m in mappings]

        return self._add_version(url, version, new_version, rows, "no stored map")

    def get_map_as_xml(self, url: str, version: str | None = None) -> str:
        """Re-assembled map as one FHIR XML string
        (`python/bunsen/codes/__init__.py:get_map_as_xml`)."""
        return self._xml(self.get_concept_map(url, version))

    # -- queries ------------------------------------------------------------

    def get_maps(self) -> DataFrame:
        return self.concept_maps

    def get_mappings(self, uri: str | None = None, version: str | None = None) -> DataFrame:
        return self.mappings if uri is None else self._member(uri, version)[1]

    def get_concept_map(self, uri: str, version: str | None = None) -> DataFrame:
        """Re-assemble ONE stored map as a full ConceptMap resource row
        (D5, `stu3/codes/ConceptMaps.java:134-199`): two grouped
        collects rebuild the element arrays from the flat mapping rows,
        spliced back into the group structs by (source, target) system
        pair. Element and target arrays come back sorted by code."""
        meta, maps = self._member(uri, version)
        element_t = element_type(meta.schema, "group", "element")
        target = _struct_like(
            element_type(element_t, "target"),
            {"code": F.col("targetvalue"), "equivalence": F.col("equivalence")},
        )
        targets = maps.groupBy("sourcesystem", "targetsystem", "sourcevalue").agg(
            F.array_sort(F.collect_list(target), by_code).alias("target")
        )
        element = _struct_like(element_t, {"code": F.col("sourcevalue"), "target": F.col("target")})
        elements = targets.groupBy("sourcesystem", "targetsystem").agg(
            F.array_sort(F.collect_list(element), by_code).alias("_members")
        )
        on = {"source": "sourcesystem", "target": "targetsystem"}
        return splice(meta, "group", "element", elements, on)

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
                return values_df(self.spark, [], ddl(out_cols))
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
