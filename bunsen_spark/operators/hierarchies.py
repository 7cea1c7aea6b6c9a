"""Code-hierarchy management: edge readers + distributed transitive closure.

Replaces the reference's driver-side DFS expansion
(`Hierarchies.java:259-391`, bounded by driver memory and an explicit
100k-row re-parallelization slice) with a **distributed iterative-doubling
fixpoint**: closure_{k+1} = closure_k ∪ (closure_k ⋈ closure_k), so a
depth-d hierarchy converges in ⌈log2 d⌉ joins and the closure never
touches the driver. Cycle-safe by construction (distinct() bounds
growth); self-pairs are excluded from the stored table but a code is
still a member of its own descendant set when building valuesets
(`BroadcastableValueSets.java:318-324`).

Ancestors-table layout matches the reference for partition-pruned loads:
parquet partitioned by (uri, version) (`Hierarchies.java:401-539`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..localrel import values_df
from ..persist import materialize, release
from ._terminology import ddl, latest, write_partitioned

LOINC_CODE_SYSTEM = "http://loinc.org"
SNOMED_CODE_SYSTEM = "http://snomed.info/sct"
LOINC_HIERARCHY_URI = "urn:bunsen-spark:hierarchy:loinc"
SNOMED_HIERARCHY_URI = "urn:bunsen-spark:hierarchy:snomed"

ANCESTOR_COLUMNS = [
    "descendantSystem",
    "descendantValue",
    "ancestorSystem",
    "ancestorValue",
    "uri",
    "version",
]


def loinc_hierarchy_edges(spark: SparkSession, path: str) -> DataFrame:
    """LOINC multiaxial hierarchy CSV → edge DataFrame
    (`codes/systems/Loinc.java:36-59`): columns IMMEDIATE_PARENT, CODE;
    header; comma-delimited; blank parents (roots) dropped."""
    raw = spark.read.option("header", True).csv(path)
    return (
        raw.select(
            F.lit(LOINC_CODE_SYSTEM).alias("ancestorSystem"),
            F.col("IMMEDIATE_PARENT").alias("ancestorValue"),
            F.lit(LOINC_CODE_SYSTEM).alias("descendantSystem"),
            F.col("CODE").alias("descendantValue"),
        )
        .where(
            F.col("ancestorValue").isNotNull()
            & (F.col("ancestorValue") != "")
            & F.col("descendantValue").isNotNull()
            & (F.col("descendantValue") != "")
        )
    )


def snomed_relationship_edges(spark: SparkSession, path: str) -> DataFrame:
    """SNOMED relationship TSV → is-a edge DataFrame
    (`codes/systems/Snomed.java:40-66`): keep active='1' rows whose
    typeId is the is-a concept (116680003); child=sourceId,
    parent=destinationId."""
    raw = spark.read.option("header", True).option("delimiter", "\t").csv(path)
    return (
        raw.where((F.col("typeId") == "116680003") & (F.col("active") == "1"))
        .select(
            F.lit(SNOMED_CODE_SYSTEM).alias("ancestorSystem"),
            F.col("destinationId").alias("ancestorValue"),
            F.lit(SNOMED_CODE_SYSTEM).alias("descendantSystem"),
            F.col("sourceId").alias("descendantValue"),
        )
        .where(F.col("ancestorValue").isNotNull() & F.col("descendantValue").isNotNull())
    )


def transitive_closure(edges: DataFrame, max_iterations: int = 40) -> DataFrame:
    """All (descendant, ancestor) pairs reachable through the edge set.

    Distributed iterative doubling with a count-based fixpoint; each
    round is localCheckpoint'ed to cut lineage — LAZILY, so the round's
    single count() both answers convergence and materializes the
    checkpoint (one job per round, the same shape as the
    connected-components loop). Self-pairs (possible in cyclic inputs)
    are excluded from the result, matching the stored `ancestors`
    table semantics (FIXTURES §4). Raises ``RuntimeError`` if the
    closure is still growing after ``max_iterations`` rounds, i.e. a
    path is longer than ``2 ** max_iterations`` edges.

    Input columns: ancestorSystem, ancestorValue, descendantSystem,
    descendantValue (direct parent→child edges).
    """
    closure = (
        edges.select(
            "descendantSystem", "descendantValue", "ancestorSystem", "ancestorValue"
        )
        .distinct()
        .transform(materialize)
    )
    n = closure.count()
    for _ in range(max_iterations):
        a = closure.alias("a")
        b = closure.alias("b")
        extended = (
            a.join(
                b,
                (F.col("a.ancestorSystem") == F.col("b.descendantSystem"))
                & (F.col("a.ancestorValue") == F.col("b.descendantValue")),
            )
            .select(
                F.col("a.descendantSystem").alias("descendantSystem"),
                F.col("a.descendantValue").alias("descendantValue"),
                F.col("b.ancestorSystem").alias("ancestorSystem"),
                F.col("b.ancestorValue").alias("ancestorValue"),
            )
        )
        new_closure = closure.union(extended).distinct().transform(materialize)
        new_n = new_closure.count()
        if new_n == n:
            release(new_closure)  # keep the equal, already-pinned round
            break
        release(closure)  # persist mode: CacheManager holds rounds strongly
        closure, n = new_closure, new_n
    else:
        raise RuntimeError(
            f"transitive closure did not reach a fixpoint in {max_iterations} rounds"
        )
    return closure.where(
        (F.col("descendantSystem") != F.col("ancestorSystem"))
        | (F.col("descendantValue") != F.col("ancestorValue"))
    )


class Hierarchies:
    """Immutable accumulator of expanded hierarchies
    (`Hierarchies.java:211-253` union semantics)."""

    def __init__(self, spark: SparkSession, ancestors: DataFrame):
        self.spark = spark
        self.ancestors = ancestors

    @classmethod
    def empty(cls, spark: SparkSession) -> "Hierarchies":
        return cls(spark, values_df(spark, [], ddl(ANCESTOR_COLUMNS)))

    @classmethod
    def from_edges(
        cls, spark: SparkSession, edges: DataFrame, uri: str, version: str
    ) -> "Hierarchies":
        closed = transitive_closure(edges).select(
            "descendantSystem",
            "descendantValue",
            "ancestorSystem",
            "ancestorValue",
            F.lit(uri).alias("uri"),
            F.lit(version).alias("version"),
        )
        return cls(spark, closed)

    def with_hierarchy(self, other: "Hierarchies") -> "Hierarchies":
        return Hierarchies(self.spark, self.ancestors.unionByName(other.ancestors))

    def get_ancestors(self, uri: str | None = None, version: str | None = None) -> DataFrame:
        df = self.ancestors
        if uri is not None:
            df = df.where(F.col("uri") == uri)
        if version is not None:
            df = df.where(F.col("version") == version)
        return df

    def latest_versions(self) -> DataFrame:
        """Latest version per uri (`Hierarchies.java:174-200`)."""
        return latest(self.ancestors, "uri")

    def descendants_of(
        self,
        system: str,
        value: str,
        uri: str | None = None,
        version: str | None = None,
    ) -> DataFrame:
        """(system, value) rows for all descendants of a code, including
        the code itself (self-membership, BroadcastableValueSets.java:318-324).

        Version semantics match the reference
        (`BroadcastableValueSets.java:209-230` / `addDescendantsOf`
        overloads at :144-180): an explicit ``version`` pins that
        hierarchy version; ``version=None`` resolves to the LATEST
        version per uri (lexicographic max), so loading a newer
        hierarchy version changes unpinned valuesets but never pinned
        ones. ``uri`` optionally restricts to one hierarchy."""
        df = self.get_ancestors(uri, version)
        if version is None:
            df = df.join(F.broadcast(latest(df, "uri")), ["uri", "version"], "left_semi")
        hits = (
            df.where(
                (F.col("ancestorSystem") == system) & (F.col("ancestorValue") == value)
            )
            .select(
                F.col("descendantSystem").alias("system"),
                F.col("descendantValue").alias("value"),
            )
            .distinct()
        )
        self_row = values_df(self.spark, [(system, value)], "system string, value string")
        return hits.unionByName(self_row).distinct()

    # -- warehouse (S9/S10) -------------------------------------------------

    def write_to_database(self, database: str, path: str | None = None) -> None:
        """Create or append the ancestors table; a (uri, version) it
        already holds is rejected."""
        ancestors = self.ancestors.select(*ANCESTOR_COLUMNS)
        write_partitioned(database, "hierarchy", ancestors, "ancestors", path=path)

    @classmethod
    def get_from_database(cls, spark: SparkSession, database: str) -> "Hierarchies":
        return cls(spark, spark.table(f"{database}.ancestors"))
