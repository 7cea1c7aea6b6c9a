"""ValueSets collection: ValueSet resources and their exploded member
values (`AbstractValueSets.java` / `stu3/codes/ValueSets.java`).

- explode (D6): compose.include[].concept[] → flat (system, version,
  value, valueseturi, valuesetversion) rows via chained explodes;
- payload strip (D7): metadata rows keep the ValueSet structure with
  `compose.include[].concept := []` (higher-order transform, no UDF);
- warehouse tables `values`, partitioned by (valueseturi,
  valuesetversion), and `valuesets`.

The (url, version) bookkeeping shared with ConceptMaps lives in
:mod:`._terminology`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._terminology import Collection, _struct_like, by_code, element_type, splice

VALUES_COLUMNS = ["system", "version", "value", "valueseturi", "valuesetversion"]


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


class ValueSets(Collection):
    """``resource_type`` is "ValueSet" (STU3) or "r4:ValueSet"."""

    RESOURCE_TYPE = "ValueSet"
    NOUN = "valueset"
    META_TABLE = "valuesets"
    FLAT_TABLE = "values"
    FLAT_COLUMNS = VALUES_COLUMNS
    _explode = staticmethod(expand_values)
    _strip = staticmethod(_strip_concepts)

    value_sets = property(lambda self: self._meta)
    values = property(lambda self: self._flat)

    def with_value_sets(self, df: DataFrame) -> "ValueSets":
        """Add ValueSet resources (spec schema)."""
        return self._add_resources(df)

    def with_value_sets_from_directory(self, path: str) -> "ValueSets":
        return self._import(path)

    def with_disjoint_value_sets_from_directory(self, path: str) -> "ValueSets":
        """Load only the value sets whose (url, version) is not stored."""
        return self._import(path, disjoint=True)

    def with_new_value_set(
        self,
        url: str,
        version: str,
        values: list[tuple],
        experimental: bool = True,
    ) -> "ValueSets":
        """Construct a value set from (system, code) or (system,
        system_version, code) tuples and add it
        (`python/bunsen/codes/__init__.py:with_new_value_set`)."""
        systems: dict[tuple[str, str | None], list[str]] = {}
        for system, sys_version, code in map(_with_system_version, values):
            systems.setdefault((system, sys_version), []).append(code)
        return self._add_json(
            {
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
        )

    def add_values(
        self, url: str, version: str, new_version: str, values: list[tuple]
    ) -> "ValueSets":
        """New VERSION of a stored set with extra member values appended
        (`python/bunsen/codes/__init__.py:add_values`)."""
        rows = lambda _: map(_with_system_version, values)  # noqa: E731
        return self._add_version(url, version, new_version, rows, "no stored value set")

    def get_value_set_as_xml(self, url: str, version: str | None = None) -> str:
        """Re-assembled set as one FHIR XML string
        (`python/bunsen/codes/__init__.py:get_value_set_as_xml`)."""
        return self._xml(self.get_value_set(url, version))

    # -- queries ------------------------------------------------------------

    def get_value_sets(self) -> DataFrame:
        return self.value_sets

    def get_values(self, uri: str, version: str | None = None) -> DataFrame:
        return self._member(uri, version)[1].select("system", "version", "value")

    def get_value_set(self, uri: str, version: str | None = None) -> DataFrame:
        """Re-assemble ONE stored set as a full ValueSet resource row
        (D6 read-back, `stu3/codes/ValueSets.java:237-285`): concept
        arrays are collected per (system, version) from the flat value
        rows and spliced back into the include structs they match.
        Concept arrays come back sorted by code."""
        meta, values = self._member(uri, version)
        concept_t = element_type(meta.schema, "compose", "include", "concept")
        concept = _struct_like(concept_t, {"code": F.col("value")})
        concepts = values.groupBy("system", "version").agg(
            F.array_sort(F.collect_list(concept), by_code).alias("_members")
        )
        on = {"system": "system", "version": "version"}
        return splice(meta, "compose.include", "concept", concepts, on)


def _with_system_version(t: tuple) -> tuple:
    """(system, code) → (system, None, code); 3-tuples pass through."""
    return t if len(t) == 3 else (t[0], None, t[1])
