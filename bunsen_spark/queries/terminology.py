"""Terminology queries: Bunsen's terminology operators exercised on the
synthetic relational tables, so they get DuckDB-oracle coverage:
distributed transitive closure (SURVEY §2.7 D8), valueset-style
membership filtering (D10/J4), and concept-map-style translation (D12).

The FHIR-table twins of these operators live in
:mod:`bunsen_spark.operators`; these queries re-express the same plans
over testdata so the driver's correctness gate can hash-check them.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import load


def closure_part_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure (D8) of a synthetic part hierarchy — node
    p_partkey has parent p_partkey div 10 — via the distributed
    iterative-doubling fixpoint (`operators.hierarchies.transitive_closure`,
    replacing the reference's driver-side DFS `Hierarchies.java:259-308`).
    Output: (descendant, ancestor) pairs."""
    from ..operators.hierarchies import transitive_closure

    part = load(spark, sf_dir, "part")
    edges = part.where(F.col("p_partkey") >= 10).select(
        F.lit("part").alias("descendantSystem"),
        F.col("p_partkey").cast("string").alias("descendantValue"),
        F.lit("part").alias("ancestorSystem"),
        (F.col("p_partkey") / 10).cast("long").cast("string").alias("ancestorValue"),
    )
    closure = transitive_closure(edges)
    return closure.select(
        F.col("descendantValue").cast("long").alias("descendant"),
        F.col("ancestorValue").cast("long").alias("ancestor"),
    )


CLOSURE_PART_HIERARCHY_SQL = """
WITH RECURSIVE edges AS (
  SELECT p_partkey AS child, p_partkey // 10 AS parent
  FROM part WHERE p_partkey >= 10
), cl AS (
  SELECT child AS descendant, parent AS ancestor FROM edges
  UNION
  SELECT cl.descendant, e.parent FROM cl JOIN edges e ON cl.ancestor = e.child
)
SELECT descendant, ancestor FROM cl
"""


#: the "valueset": part brands considered in-set for the membership query
MEMBER_BRANDS = ("Brand#12", "Brand#23", "Brand#34")


def valueset_membership_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Membership filtering (D10/J4 as a join): lineitems whose part is
    in a small code set, via broadcast LEFT SEMI join — the Catalyst-
    transparent form of the reference's `in_valueset` UDF
    (`ValueSetUdfs.java:32-119`), keeping pushdown and pruning alive.
    Output: per-linestatus row counts and quantity sums."""
    lineitem = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    members = part.where(F.col("p_brand").isin(*MEMBER_BRANDS)).select("p_partkey")
    return (
        lineitem.join(
            F.broadcast(members),
            lineitem["l_partkey"] == members["p_partkey"],
            "left_semi",
        )
        .groupBy("l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            # decimal-sum like every other qty/revenue gate (_dsum):
            # emits double on BOTH engines regardless of whether the
            # fixture types l_quantity as double or int64 — an int64
            # column would otherwise sum to long in Spark but render
            # float through DuckDB's hugeint→pandas path
            F.sum(F.col("l_quantity").cast("decimal(20,6)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


VALUESET_MEMBERSHIP_SQL = f"""
SELECT l_linestatus, count(*) AS n_items,
       CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE EXISTS (
  SELECT 1 FROM part
  WHERE p_partkey = l_partkey
    AND p_brand IN ({", ".join(repr(b) for b in MEMBER_BRANDS)})
)
GROUP BY l_linestatus
"""


#: concept-map-style source→target code mapping with deliberate gaps
PRIORITY_MAP = (
    ("1-URGENT", "critical"),
    ("2-HIGH", "high"),
    ("3-MEDIUM", "normal"),
)


def translate_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concept-map translation (D12) over a fact table: broadcast left
    join against a small mapping with unmapped codes surfacing as null
    (the reference's `BroadcastableConceptMap.getTarget` semantics as a
    Catalyst join). Output: order counts per (source, target) code."""
    orders = load(spark, sf_dir, "orders")
    from ..localrel import values_df

    mapping = values_df(
        spark, list(PRIORITY_MAP), "o_orderpriority string, translated string"
    )
    return (
        orders.join(F.broadcast(mapping), "o_orderpriority", "left")
        .groupBy("o_orderpriority", "translated")
        .agg(F.count("*").alias("n_orders"))
    )


TRANSLATE_ORDER_PRIORITY_SQL = f"""
SELECT o_orderpriority, translated, count(*) AS n_orders
FROM orders
LEFT JOIN (VALUES {", ".join(f"({s!r}, {t!r})" for s, t in PRIORITY_MAP)})
  AS m(src, translated) ON o_orderpriority = src
GROUP BY o_orderpriority, translated
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "closure_part_hierarchy": closure_part_hierarchy,
    "valueset_membership_lineitem": valueset_membership_lineitem,
    "translate_order_priority": translate_order_priority,
}

ORACLES: dict[str, str] = {
    "closure_part_hierarchy": CLOSURE_PART_HIERARCHY_SQL,
    "valueset_membership_lineitem": VALUESET_MEMBERSHIP_SQL,
    "translate_order_priority": TRANSLATE_ORDER_PRIORITY_SQL,
}
