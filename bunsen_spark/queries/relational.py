"""Relational queries over the driver's TPC-H-ish testdata (``lineitem``,
``orders``, ``customer``, ``part``, ``supplier``, ``nation``, ``region``).

These exercise the generic SQL surface of the engine (SURVEY §2.2-2.6
and the §7 capability-gap list: all 22 TPC-H queries, rollup / cube /
grouping sets / pivot, semi and anti joins, set operations, skew
salting, Bloom prefilters, grouped statistics, graph operators over the
trade network). Each query is written as an idiomatic DataFrame plan —
filters and projections reach the parquet scan, dimension joins are
broadcast, aggregates run partial+final.

The testdata has no ``partsupp`` table and no
shipmode/commitdate/receiptdate columns, so the TPC-H queries that
depend on them are "-shaped" adaptations: the *plan shape* (scalar
subquery + HAVING, double aggregation, conditional counts, semi-join
with correlated aggregate) is the thing under test, with available
columns standing in for the missing ones. Each docstring names the
substitution.

Hash-exactness rules (vs. the DuckDB oracle):
- every SUM over a double expression is computed in DECIMAL(20, 6)
  (exact, order-insensitive) then cast back to DOUBLE (``_dsum``);
- averages are CAST(sum AS DOUBLE) / CAST(count AS DOUBLE);
- timestamps in output are formatted to strings; time arithmetic uses
  microsecond epochs (int64) to be independent of ns-vs-us precision;
- every top-k has a total-order tie-break.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from . import _dsum, load


# ---------------------------------------------------------------------------
# q1: pricing summary (scan + partial/final hash aggregate)
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= "1998-09-02")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(disc_price).alias("sum_disc_price"),
            _dsum(charge).alias("sum_charge"),
            (
                F.sum(F.col("l_quantity").cast("decimal(20,6)")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(20,6))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# q3: shipping priority (3-way join + agg + deterministic top-k)
# ---------------------------------------------------------------------------

def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1997-03-15")
    l = load(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > "1997-03-15")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# ---------------------------------------------------------------------------
# q5: regional supplier volume (6-way star join; dims broadcast)
# ---------------------------------------------------------------------------

def q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    l = load(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .where(c.c_nationkey == s.s_nationkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


Q5_SQL = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# ---------------------------------------------------------------------------
# brand revenue top-k (broadcast dim join + agg + top-k)
# ---------------------------------------------------------------------------

def topk_brands_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    l = load(spark, sf_dir, "lineitem")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), F.col("p_brand"))
        .limit(5)
    )


TOPK_BRANDS_SQL = """
SELECT p_brand,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
ORDER BY revenue DESC, p_brand
LIMIT 5
"""


# ---------------------------------------------------------------------------
# window: rank orders per customer (row_number) — SURVEY §2.5 gap coverage
# ---------------------------------------------------------------------------

def window_order_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


WINDOW_RANK_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
)
WHERE rn <= 3
"""


def q4_priority_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q4-shaped order-priority check: orders in a quarter with
    at least one line item shipped after the order date. The EXISTS
    compiles to a LEFT-SEMI join with a correlated non-equi conjunct —
    the semi side never fans out, so the per-order count is exact
    without a distinct. Both join keys hash; at scale the semi join
    shuffles only (orderkey, shipdate) pairs."""
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
    )
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        l,
        (o.o_orderkey == l.l_orderkey) & (l.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q10-shaped returned-item report: revenue lost to returns
    per customer over a quarter, 4-way join (fact × orders filtered ×
    customer × broadcast nation), top 20. The two big sides join on
    their natural keys; nation broadcasts."""
    l = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
    )
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q18-shaped large-volume-customer query: orders whose total
    quantity clears a threshold (grouped HAVING on the fact), joined
    back to orders + customer. The HAVING prunes the fact to a few
    hundred keys BEFORE the joins — the classic aggregate-then-join
    ordering that keeps the join inputs tiny at scale."""
    l = load(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(_dsum(F.col("l_quantity")).alias("sum_qty"))
        .where(F.col("sum_qty") > 250)
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_totalprice, sum_qty
FROM (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum_qty > 250
) big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 20
"""


# ---------------------------------------------------------------------------
# rollup: multi-level aggregate (grouping-sets surface)
# ---------------------------------------------------------------------------

def rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(_dsum(F.col("l_quantity")).alias("sum_qty"), F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )
    )


ROLLUP_SQL = """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all 2^2 grouping sets in one
    pass (map-side-combined partial aggregation; one shuffle)."""
    l = load(spark, sf_dir, "lineitem")
    return (
        l.cube("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
            "n_rows",
        )
    )


CUBE_SQL = """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def skew_salted_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted skew join at the gate: lineitem ⋈ orders through
    salted_join (hot-key fan-out spread across 8 sub-keys), aggregated
    per priority. The oracle is the PLAIN join — salting must be
    result-identical, which is exactly what this verifies."""
    from ..operators.skew import salted_join

    l = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    return (
        salted_join(l, o, ["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _dsum(F.col("l_quantity")).alias("sum_qty"),
        )
    )


SKEW_SALTED_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# anti join: customers with no orders (SURVEY J1's left_anti pattern)
# ---------------------------------------------------------------------------

def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


ANTI_JOIN_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


# ---------------------------------------------------------------------------
# semi join: suppliers that shipped a large-quantity item (left_semi)
# ---------------------------------------------------------------------------

def suppliers_with_large_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier")
    l = load(spark, sf_dir, "lineitem").where(F.col("l_quantity") >= 49)
    return s.join(l, s.s_suppkey == l.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name", "s_acctbal"
    )


SEMI_JOIN_SQL = """
SELECT s_suppkey, s_name, s_acctbal
FROM supplier
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_quantity >= 49)
"""


# ---------------------------------------------------------------------------
# q7-shaped: shipping volume between two nations, both directions, by
# year. Two independent nation lookups (supplier side and customer
# side) with a disjunctive pair filter.
# ---------------------------------------------------------------------------

def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q7-shaped bi-national volume report. The fact joins
    supplier and orders→customer on their natural keys; both nation
    lookups broadcast (25 rows), so the pair filter
    ``(supp, cust) ∈ {(A,B),(B,A)}`` is evaluated map-side right after
    the broadcast joins — no extra shuffle beyond the two big-key
    joins Catalyst already needs. At 100 TB the disjunction prunes to
    ~2/625 of the fact before the final aggregate."""
    l = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
        | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    )
    return (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE) AS volume
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
         l_extendedprice, l_discount
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


# ---------------------------------------------------------------------------
# q14-shaped: promo revenue share — a ratio of two conditional sums in
# one aggregate pass (no self-join, no second scan).
# ---------------------------------------------------------------------------

def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q14-shaped promotion-revenue share for one month. Both the
    conditional (PROMO) sum and the total come out of ONE aggregate
    over the part join — the naive two-query formulation would scan
    the fact twice. The part side carries only (partkey, is-promo) —
    one boolean per part row — so its shuffle weight is minimal; at
    warehouse scale the same plan holds hash-to-hash (part is a real
    table, not a broadcastable dim, at SF100k). Sums are decimal-exact
    and the final ratio is one double division, identical in both
    engines."""
    l = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-03-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    p = load(spark, sf_dir, "part").select(
        "p_partkey", (F.col("p_type") == "PROMO").alias("is_promo")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    agg = l.join(p, l.l_partkey == p.p_partkey).agg(
        _dsum(F.when(F.col("is_promo"), rev).otherwise(F.lit(0.0))).alias("promo"),
        _dsum(rev).alias("total"),
    )
    return agg.select(
        ((F.lit(100.0) * F.col("promo")) / F.col("total")).alias("promo_revenue_pct")
    )


Q14_SQL = """
SELECT (100.0 * promo) / total AS promo_revenue_pct
FROM (
  SELECT
    CAST(SUM(CASE WHEN p_type = 'PROMO'
             THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))
             ELSE CAST(0.0 AS DECIMAL(20,6)) END) AS DOUBLE) AS promo,
    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE) AS total
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
) t
"""


# ---------------------------------------------------------------------------
# q16-shaped: distinct-supplier counts per (brand, size) excluding a
# NOT-IN supplier denylist — distinct agg over a join, NULL-safe anti.
# ---------------------------------------------------------------------------

def q16_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q16-shaped supplier-diversity report: how many distinct
    suppliers ship each (brand, size) family, excluding denylisted
    suppliers (acctbal < 0 — the 'complaints' analog). The NOT IN
    compiles to a broadcast anti-join (denylist is tiny by
    construction); the COUNT(DISTINCT) expands to Spark's two-phase
    distinct aggregate — partial distinct on (brand, size, suppkey)
    map-side, so the shuffle carries deduplicated triples, not raw
    fact rows. s_suppkey is non-null so NOT IN ≡ anti-join with no
    null-trap."""
    p = load(spark, sf_dir, "part").where(
        (F.col("p_type") != "PROMO") & (F.col("p_size").isin(1, 4, 9, 14, 19, 23))
    ).select("p_partkey", "p_brand", "p_size")
    l = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    deny = load(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        l.join(F.broadcast(deny), l.l_suppkey == deny.s_suppkey, "left_anti")
        .join(p, F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_size")
    )


Q16_SQL = """
SELECT p_brand, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 23)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
ORDER BY supplier_cnt DESC, p_brand, p_size
"""


# ---------------------------------------------------------------------------
# q17-shaped: small-quantity revenue — correlated per-part average as
# an aggregate-then-rejoin (no per-row subquery execution).
# ---------------------------------------------------------------------------

def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q17-shaped small-order revenue: lines of one brand whose
    quantity is below 20% of that part's average quantity. The
    correlated AVG decorrelates into one aggregate over the
    brand-pruned fact joined back on partkey — the brand filter
    applies BEFORE the average is computed (both engines scope the
    subquery to the filtered parts, and pruning first means the avg
    aggregate reads ~1/25 of the fact). The avg is derived
    decimal-sum / count so the 0.2× threshold is bit-identical."""
    p = load(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#23").select(
        "p_partkey"
    )
    l = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    lp = l.join(F.broadcast(p), l.l_partkey == p.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    avg_q = lp.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (
            F.sum(F.col("l_quantity").cast("decimal(20,6)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_qty")
    )
    return (
        lp.join(F.broadcast(avg_q), lp.l_partkey == avg_q.a_partkey)
        .where(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (_dsum(F.col("l_extendedprice")) / F.lit(7.0)).alias("avg_yearly")
        )
    )


Q17_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem l
JOIN part ON l_partkey = p_partkey
JOIN (
  SELECT l_partkey AS a_partkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS avg_qty
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#23'
  GROUP BY l_partkey
) a ON l.l_partkey = a.a_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < 0.2 * avg_qty
"""


# ---------------------------------------------------------------------------
# q2-shaped: cheapest-supplier lookup — correlated MIN over a derived
# part×supplier cost table, decorrelated to aggregate + equality join.
# ---------------------------------------------------------------------------

def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q2-shaped minimum-cost supplier: for each size-50 part,
    the supplier(s) whose average sale price for that part is the
    part's minimum. The testdata has no partsupp table, so the
    part×supplier cost relation is derived from the fact once
    (groupBy(partkey, suppkey)) — the correlated ``MIN(cost) WHERE
    ps_partkey = p_partkey`` then decorrelates into a second
    aggregate over the SAME derived table plus an equality join, so
    the fact is scanned once, not once per part. Cost is decimal-sum /
    count: bit-identical in both engines, making the MIN-equality
    exact. All joins after the derive are on partkey — one shuffle
    partitioning reused end-to-end."""
    p = load(spark, sf_dir, "part").where(F.col("p_size") == 50).select(
        "p_partkey", "p_name"
    )
    l = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    ps = (
        l.join(F.broadcast(p.select("p_partkey")), l.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(20,6)")).cast("double")
                / F.sum(F.col("l_quantity").cast("decimal(20,6)")).cast("double")
            ).alias("unit_cost")
        )
    )
    best = ps.groupBy(F.col("l_partkey").alias("m_partkey")).agg(
        F.min("unit_cost").alias("min_cost")
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        ps.join(
            best,
            (ps.l_partkey == best.m_partkey) & (ps.unit_cost == best.min_cost),
        )
        .join(p, ps.l_partkey == F.col("p_partkey"))
        .join(s, ps.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("p_partkey", "p_name", "s_name", "n_name", "unit_cost")
        .orderBy("p_partkey", "s_name")
    )


Q2_SQL = """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE)
           / CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS unit_cost
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 50)
  GROUP BY l_partkey, l_suppkey
)
SELECT p_partkey, p_name, s_name, n_name, unit_cost
FROM ps
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_size = 50
  AND unit_cost = (SELECT MIN(unit_cost) FROM ps i WHERE i.l_partkey = ps.l_partkey)
ORDER BY p_partkey, s_name
"""


# ---------------------------------------------------------------------------
# q15-shaped: top supplier — argmax against a global MAX scalar over an
# aggregated view (ties kept, exact by decimal sums).
# ---------------------------------------------------------------------------

def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q15-shaped top-revenue supplier: quarterly revenue per
    supplier, keep the supplier(s) equal to the global max. The view
    aggregates the fact once; the scalar MAX is a single-row
    broadcast crossed onto the view — no second scan of the fact, no
    window over an unpartitioned ORDER BY (which would funnel every
    row through one task at scale). Revenue is decimal-exact so the
    equality keeps exact ties like the SQL does."""
    l = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    rev = l.groupBy(F.col("l_suppkey").alias("r_suppkey")).agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == mx.max_revenue)
        .join(s, F.col("r_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "s_acctbal", "total_revenue")
        .orderBy("s_suppkey")
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS r_suppkey,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, s_acctbal, total_revenue
FROM supplier
JOIN revenue ON s_suppkey = r_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


# ---------------------------------------------------------------------------
# q19-shaped: disjunctive multi-clause predicate across a join — tests
# that an OR of conjunctions still prunes at the scan.
# ---------------------------------------------------------------------------

def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q19-shaped disjunctive-predicate revenue: an OR of three
    (brand, size-range, quantity-range) clause groups evaluated
    across the lineitem×part join. Written as one boolean expression
    so Catalyst can extract the common l_quantity bounds and push the
    part-only conjuncts (brand+size) below the join — the join input
    is pre-pruned on both sides rather than filtered after the fact.
    One row out; decimal-exact sum."""
    l = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = l.join(p, l.l_partkey == p.p_partkey)
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#15")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.where(clause).agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )


Q19_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""


# ---------------------------------------------------------------------------
# q21-shaped: sole late shipper — EXISTS + NOT EXISTS folded into ONE
# per-order aggregate instead of two correlated self-joins.
# ---------------------------------------------------------------------------

def q21_sole_late_shipper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q21-shaped 'suppliers who kept waiting': suppliers that
    were the ONLY late shipper in a multi-supplier finished order
    (late = shipped >60 days after the order date). The classic form
    is EXISTS(other supplier) AND NOT EXISTS(other late supplier) —
    two more scans of the fact. Here both predicates fold into ONE
    per-(order, supplier) aggregate followed by a per-order count:
    n_supps > 1 AND n_late_supps == 1 AND this supplier is the late
    one — one shuffle on orderkey replaces two correlated self-joins.
    At 100 TB that is the difference between 1 and 3 fact shuffles."""
    o = load(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    j = l.join(o, l.l_orderkey == o.o_orderkey)
    late_us = 60 * 86400 * 1_000_000  # 60 days in microseconds
    per_supp = j.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(
            (
                F.unix_micros(F.col("l_shipdate").cast("timestamp"))
                - F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            )
            > late_us
        ).alias("is_late")
    )
    per_order = per_supp.groupBy(F.col("l_orderkey").alias("p_orderkey")).agg(
        F.count(F.lit(1)).alias("n_supps"),
        F.sum(F.col("is_late").cast("int")).alias("n_late"),
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_supp.join(per_order, per_supp.l_orderkey == per_order.p_orderkey)
        .where(F.col("is_late") & (F.col("n_supps") > 1) & (F.col("n_late") == 1))
        .join(s, per_supp.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_suppkey")
    )


Q21_SQL = """
WITH per_supp AS (
  SELECT l_orderkey, l_suppkey,
         MAX(CASE WHEN epoch_us(l_shipdate) - epoch_us(o_orderdate) > CAST(60*86400 AS BIGINT)*1000000
                  THEN 1 ELSE 0 END) AS is_late
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY l_orderkey, l_suppkey
), per_order AS (
  SELECT l_orderkey AS p_orderkey,
         COUNT(*) AS n_supps,
         SUM(is_late) AS n_late
  FROM per_supp GROUP BY l_orderkey
)
SELECT s_suppkey, s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM per_supp
JOIN per_order ON l_orderkey = p_orderkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE is_late = 1 AND n_supps > 1 AND n_late = 1
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey
"""


# ---------------------------------------------------------------------------
# q22-shaped: dormant high-balance customers — scalar AVG subquery +
# anti-join, grouped by a derived code.
# ---------------------------------------------------------------------------

def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q22-shaped global-sales-opportunity: customers with
    above-average positive balance and NO orders at all, grouped by a
    derived country code (nationkey mod 10 — the testdata has no
    phone column). The scalar AVG is one tiny broadcast row; the NOT
    EXISTS is a left-anti join against just the orders keys. The
    anti-join is the only fact-sized shuffle; the comparison happens
    after the broadcast, map-side."""
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal", "c_nationkey")
    avg_bal = c.where(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(20,6)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_bal")
    )
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= "1999-01-01"
    ).select("o_custkey")
    return (
        c.join(F.broadcast(avg_bal), c.c_acctbal > F.col("avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy((F.col("c_nationkey") % 10).alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


Q22_SQL = """
SELECT c_nationkey % 10 AS cntrycode,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(20,6))) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (
    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(20,6))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE)
    FROM customer WHERE c_acctbal > 0.0
  )
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
GROUP BY cntrycode
ORDER BY cntrycode
"""


# ---------------------------------------------------------------------------
# q6: forecast revenue change — the purest scan-filter-aggregate in the
# suite. All three predicates push to the parquet scan (min/max row-group
# pruning on l_shipdate); the aggregate is a single partial+final sum with
# no shuffle beyond the 1-row exchange.
# ---------------------------------------------------------------------------

def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return l.agg(_dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))


Q6_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(20,6))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# q8: national market share — a two-level aggregate over a 7-table star
# join. All five dimension tables broadcast; the only fact-sized shuffle
# is the final groupBy(year). The share is a conditional sum over the
# same rows as the total, so it is one aggregate, not two joined ones.
# ---------------------------------------------------------------------------

def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market share of supplier nation NATION_2 within ASIA-customer
    orders of ECONOMY-type parts, by order year. Numerator and
    denominator are computed in the same aggregate (CASE inside SUM) —
    the classic decorrelation of q8's nested SELECT."""
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    c = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(n.select("n_nationkey", "n_regionkey")),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    s = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(n.select(F.col("n_nationkey").alias("sn_key"),
                                   F.col("n_name").alias("supp_nation"))),
              F.col("s_nationkey") == F.col("sn_key"))
        .select("s_suppkey", "supp_nation")
    )
    p = load(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY").select("p_partkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    l = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
    )
    j = (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return (
        j.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_2", F.col("volume"))
                    .otherwise(F.lit(0.0))
                    .cast("decimal(20,6)")
                ).cast("double")
                / F.sum(F.col("volume").cast("decimal(20,6)")).cast("double")
            ).alias("mkt_share"),
            _dsum(F.col("volume")).alias("total_volume"),
        )
        .orderBy("o_year")
    )


Q8_SQL = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(CASE WHEN n2.n_name = 'NATION_2'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0.0 END AS DECIMAL(20,6))) AS DOUBLE)
         / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE)
         AS mkt_share,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE)
         AS total_volume
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region   ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
GROUP BY o_year
ORDER BY o_year
"""


# ---------------------------------------------------------------------------
# q9-shaped: product-type profit by supplier nation and year. The
# testdata has no partsupp.ps_supplycost, so cost is proxied as
# 0.6 * p_retailprice * l_quantity (named in the docstring; the shape —
# LIKE-filtered part dimension, 4-way join, two-key aggregate — is
# unchanged from TPC-H q9).
# ---------------------------------------------------------------------------

def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit on '%gear%' parts grouped by (supplier nation, order
    year). part and nation broadcast; orders joins on the fact key.
    The profit expression is evaluated row-side before the aggregate
    so the decimal sum sees identical doubles in both engines."""
    p = load(spark, sf_dir, "part").where(F.col("p_name").like("%gear%")).select(
        "p_partkey", "p_retailprice"
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    l = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        l.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"),
                 F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(_dsum(profit).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


Q9_SQL = """
SELECT n_name AS nation,
       CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     - 0.6 * p_retailprice * l_quantity AS DECIMAL(20,6))) AS DOUBLE)
         AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_name LIKE '%gear%'
GROUP BY n_name, o_year
ORDER BY nation, o_year DESC
"""


# ---------------------------------------------------------------------------
# q11-shaped: important part values — group-aggregate + scalar-subquery
# threshold (HAVING sum > fraction * global total). The testdata has no
# partsupp, so "value" is shipped revenue by EUROPE-nation suppliers.
# The global total is one broadcast row; the comparison happens map-side
# after the per-part aggregate — no second fact scan.
# ---------------------------------------------------------------------------

def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    s = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    l = load(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("value"),
    ).join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
    per_part = l.groupBy("l_partkey").agg(_dsum(F.col("value")).alias("part_value"))
    total = per_part.agg(
        F.sum(F.col("part_value").cast("decimal(20,6)")).cast("double").alias("total_value")
    )
    return (
        per_part.join(F.broadcast(total))
        .where(F.col("part_value") > F.lit(0.00125) * F.col("total_value"))
        .select("l_partkey", "part_value")
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


Q11_SQL = """
WITH per_part AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE)
           AS part_value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
  GROUP BY l_partkey
)
SELECT l_partkey, part_value
FROM per_part
WHERE part_value > 0.00125 * (
    SELECT CAST(SUM(CAST(part_value AS DECIMAL(20,6))) AS DOUBLE) FROM per_part
  )
ORDER BY part_value DESC, l_partkey
"""


# ---------------------------------------------------------------------------
# q12-shaped: late-shipment priority counts. No l_shipmode /
# l_receiptdate in the testdata, so the group key is l_returnflag and
# "late" is shipdate > orderdate + 60 days (epoch-us arithmetic, like
# q21). The shape — fact join + CASE-conditional counts — is q12's.
# ---------------------------------------------------------------------------

def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    l = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    ).select("l_orderkey", "l_returnflag", "l_shipdate")
    late_us = 60 * 86400 * 1_000_000
    j = l.join(o, F.col("l_orderkey") == F.col("o_orderkey")).where(
        (
            F.unix_micros(F.col("l_shipdate").cast("timestamp"))
            - F.unix_micros(F.col("o_orderdate").cast("timestamp"))
        )
        > late_us
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        j.groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


Q12_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
            AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
            AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND epoch_us(l_shipdate) - epoch_us(o_orderdate) > CAST(60*86400 AS BIGINT)*1000000
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# q13: customer order-count distribution — LEFT OUTER join + double
# aggregation (count per customer, then histogram of counts). The
# priority filter stands in for q13's comment NOT LIKE. The outer join
# shuffles on custkey once; the histogram aggregate is tiny.
# ---------------------------------------------------------------------------

def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "5-LOW"
    ).select("o_orderkey", "o_custkey")
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count(F.col("o_orderkey")).alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


Q13_SQL = """
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN orders ON c_custkey = o_custkey
    AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM per_cust
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# ---------------------------------------------------------------------------
# q20-shaped: suppliers with significant shipped volume of 'red %'
# parts. No partsupp.ps_availqty, so the correlated "availqty > half of
# shipped" becomes "supplier's shipped qty of red parts exceeds 1% of
# the global shipped qty of red parts" — the same semi-join-against-
# aggregate shape with a broadcast scalar threshold.
# ---------------------------------------------------------------------------

def q20_significant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part").where(F.col("p_name").like("red %")).select("p_partkey")
    l = (
        load(spark, sf_dir, "lineitem")
        .where((F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01"))
        .select("l_partkey", "l_suppkey", "l_quantity")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    )
    per_supp = l.groupBy("l_suppkey").agg(_dsum(F.col("l_quantity")).alias("shipped_qty"))
    total = per_supp.agg(
        F.sum(F.col("shipped_qty").cast("decimal(20,6)")).cast("double").alias("total_qty")
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_supp.join(F.broadcast(total))
        .where(F.col("shipped_qty") > F.lit(0.01) * F.col("total_qty"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "shipped_qty")
        .orderBy("s_name")
    )


Q20_SQL = """
WITH per_supp AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS shipped_qty
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'red %'
    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, shipped_qty
FROM per_supp
JOIN supplier ON l_suppkey = s_suppkey
WHERE shipped_qty > 0.01 * (
    SELECT CAST(SUM(CAST(shipped_qty AS DECIMAL(20,6))) AS DOUBLE) FROM per_supp
  )
ORDER BY s_name
"""


def bloom_prefilter_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier shipped volume, restricted to high-balance
    suppliers via a Bloom-prefiltered exact semi join
    (`operators/bloom.py`). The result is identical to a plain semi
    join — the oracle IS the plain semi join — which gates the
    no-false-negative property on real data. The fact table never
    shuffles before the prefilter; rows surviving the ~KiB broadcast
    word-table probes are the only ones that reach the join."""
    from ..operators.bloom import bloom_semi_join

    li = load(spark, sf_dir, "lineitem").select("l_suppkey", "l_quantity")
    dim = load(spark, sf_dir, "supplier").where(F.col("s_acctbal") > 8000)
    kept = bloom_semi_join(li, "l_suppkey", dim, "s_suppkey",
                           num_bits=1 << 14, num_hashes=5)
    return (
        kept.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(20,6)")).cast("double").alias("sum_qty"),
        )
        .orderBy("l_suppkey")
    )


BLOOM_PREFILTER_SQL = """
SELECT l_suppkey,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty
FROM lineitem
WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 8000)
GROUP BY l_suppkey
ORDER BY l_suppkey
"""


def part_basket_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts over the 1995 market-basket graph
    (parts are adjacent when shipped in the same order during 1995) —
    the graph clustering-density feature
    (`operators/graph.py:triangle_count`). The date restriction keeps
    the co-occurrence graph sparse (~1% density); the ordered
    two-path + closing-edge plan is then linear in Σ deg⁺². (The
    UNRESTRICTED co-supply graph is ~90% dense — triangle counting is
    a sparse-graph operator and a dense input is the user's modeling
    error, not a plan problem.) Top 25 by (count, partkey)."""
    from ..operators.graph import triangle_count

    l = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1996-01-01")
    ).select("l_orderkey", "l_partkey")
    pairs = (
        l.alias("a")
        .join(l.alias("b"), "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
    )
    return (
        triangle_count(pairs)
        .orderBy(F.col("n_triangles").desc(), "node")
        .limit(25)
        .select(F.col("node").alias("p_partkey"), "n_triangles")
    )


def _triangles_sql() -> str:
    from ..operators.graph import triangle_count_sql

    edges = """
SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
WHERE a.l_partkey < b.l_partkey
  AND a.l_shipdate >= DATE '1995-01-01' AND a.l_shipdate < DATE '1996-01-01'
  AND b.l_shipdate >= DATE '1995-01-01' AND b.l_shipdate < DATE '1996-01-01'
"""
    inner = triangle_count_sql(edges)
    return f"""
SELECT node AS p_partkey, n_triangles FROM ({inner})
ORDER BY n_triangles DESC, node
LIMIT 25
"""


def median_quantity_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped median (`operators/stats.py:grouped_median2`):
    per return flag, twice-the-median of l_quantity as an integer
    (lower+upper middle) — rank-window selection here, DuckDB's own
    median() in the oracle: two independent algorithms, one answer."""
    from ..operators.stats import grouped_median2

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("qty")
    )
    return grouped_median2(li, "l_returnflag", "qty").orderBy("l_returnflag")


def _median_sql() -> str:
    from ..operators.stats import grouped_median2_sql

    inner = "SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS qty FROM lineitem"
    return (
        grouped_median2_sql(inner, "l_returnflag", "qty")
        + " ORDER BY l_returnflag"
    )


def minmax_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact min-max feature scaling (`operators/stats.py:
    minmax_normalize`): per order priority, each order's price as the
    rational (num, den) scaling pair — aggregate+broadcast-join here,
    a window formulation in the oracle."""
    from ..operators.stats import minmax_normalize

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    return minmax_normalize(o, "o_orderpriority", "cents").orderBy("o_orderkey")


def _minmax_sql() -> str:
    from ..operators.stats import minmax_normalize_sql

    inner = (
        "SELECT o_orderkey, o_orderpriority, "
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders"
    )
    return (
        minmax_normalize_sql(
            inner,
            "o_orderpriority",
            "cents",
            "o_orderkey, o_orderpriority, cents",
        )
        + " ORDER BY o_orderkey"
    )


def linkage_candidates_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood record-linkage blocking
    (`operators/setjoin.py:sorted_neighborhood_pairs`): customers
    blocked by nation, sorted by account balance, candidates within a
    3-wide neighborhood — O(n*w) pairs from one window per block, no
    self-join."""
    from ..operators.setjoin import sorted_neighborhood_pairs

    c = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("bal_cents"),
    )
    return sorted_neighborhood_pairs(
        c, "c_custkey", "c_nationkey", "bal_cents", window=3
    ).orderBy("id_a", "gap", "id_b")


def _linkage_sql() -> str:
    from ..operators.setjoin import sorted_neighborhood_pairs_sql

    inner = (
        "SELECT c_custkey, c_nationkey, "
        "CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents FROM customer"
    )
    return (
        sorted_neighborhood_pairs_sql(
            inner, "c_custkey", "c_nationkey", "bal_cents", window=3
        )
        + " ORDER BY id_a, gap, id_b"
    )


def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (`operators/stats.py:grouped_winsorize`):
    order prices clipped at the priority group's [5th, 95th] discrete
    percentiles — integer rank thresholds here, DuckDB's own
    quantile_disc in the oracle."""
    from ..operators.stats import grouped_winsorize

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    w = grouped_winsorize(o, "o_orderpriority", "cents", 5, 95)
    return (
        w.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("clipped").cast("long").alias("sum_clipped"),
            F.max("lo_val").cast("long").alias("lo_val"),
            F.max("hi_val").cast("long").alias("hi_val"),
            F.sum((F.col("cents") < F.col("lo_val")).cast("long")).alias(
                "n_lo_clipped"
            ),
            F.sum((F.col("cents") > F.col("hi_val")).cast("long")).alias(
                "n_hi_clipped"
            ),
        )
        .orderBy("o_orderpriority")
    )


def _winsorize_sql() -> str:
    from ..operators.stats import grouped_winsorize_sql

    inner = (
        "SELECT o_orderkey, o_orderpriority, "
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders"
    )
    wz = grouped_winsorize_sql(
        inner, "o_orderpriority", "cents", 5, 95,
        cols="o_orderkey, o_orderpriority, cents",
    )
    return f"""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(clipped) AS BIGINT) AS sum_clipped,
       max(lo_val) AS lo_val, max(hi_val) AS hi_val,
       CAST(sum(CASE WHEN cents < lo_val THEN 1 ELSE 0 END) AS BIGINT)
           AS n_lo_clipped,
       CAST(sum(CASE WHEN cents > hi_val THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hi_clipped
FROM ({wz}) __w
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def global_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global row_number over (totalprice DESC, orderkey) with NO
    single-partition window (`operators/windows.py:global_row_number`:
    range-repartition + per-partition rank + broadcast offsets) — the
    distributed-rank primitive behind rfm_segments' ntile rewrite,
    gated against the engine-native global window in DuckDB."""
    from ..operators.windows import global_row_number

    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked = global_row_number(
        orders,
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        out_col="rank",
    )
    return ranked.select(
        "o_orderkey", "o_totalprice", F.col("rank").cast("long").alias("rank")
    )


_GLOBAL_RANK_SQL = """
SELECT o_orderkey, o_totalprice,
       CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT)
           AS rank
FROM orders
"""


def equi_depth_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth histogram of order totals, 8 bins
    (`operators/stats.py:equi_depth_histogram` — distributed global
    rank + arithmetic ntile, no single-partition window)."""
    from ..operators.stats import equi_depth_histogram

    return equi_depth_histogram(
        load(spark, sf_dir, "orders"), "o_totalprice", 8, tiebreak=["o_orderkey"]
    )


def _equi_depth_sql() -> str:
    from ..operators.stats import equi_depth_histogram_sql

    return equi_depth_histogram_sql(
        "SELECT o_totalprice, o_orderkey FROM orders",
        "o_totalprice",
        8,
        tiebreak=["o_orderkey"],
    )


_WQ = [("0.25", 1, 4), ("0.5", 1, 2), ("0.75", 3, 4), ("0.9", 9, 10)]


def weighted_median_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted quantiles of lineitem price with quantity as the
    weight (`operators/stats.py:weighted_quantiles` — distributed
    weighted running total, integer targets): 'the price below which q
    of the shipped-quantity mass lies'."""
    from ..operators.stats import weighted_quantiles

    return weighted_quantiles(
        load(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        "l_quantity",
        _WQ,
        tiebreak=["l_orderkey", "l_linenumber"],
    )


def _weighted_median_sql() -> str:
    from ..operators.stats import weighted_quantiles_sql

    return weighted_quantiles_sql(
        "SELECT l_extendedprice, l_quantity, l_orderkey, l_linenumber FROM lineitem",
        "l_extendedprice",
        "l_quantity",
        _WQ,
        tiebreak=["l_orderkey", "l_linenumber"],
    )


def mad_outlier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority robust (median/MAD, k=2) outlier counts over order
    totals in integer cents (`operators/stats.py:mad_outliers`) — the
    50%-contamination-proof twin of the k-sigma gate."""
    from ..operators.stats import mad_outliers

    orders = load(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("cents"),
    )
    return mad_outliers(orders, "o_orderpriority", "cents", k_num=2, k_den=1)


def _mad_sql() -> str:
    from ..operators.stats import mad_outliers_sql

    return mad_outliers_sql(
        "SELECT o_orderpriority,"
        " CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders",
        "o_orderpriority",
        "cents",
        k_num=2,
        k_den=1,
    )


_PIVOT_YEARS = list(range(1992, 1999))


def pivot_shipmode_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PIVOT operator surface: revenue by return flag across ship
    years as columns — Spark's `groupBy().pivot(values=...)` (explicit
    value list, so the plan needs NO distinct-value pre-scan and stays
    a single aggregate) vs the oracle's conditional-sum spelling."""
    from pyspark.sql import functions as F

    l = load(spark, sf_dir, "lineitem")
    piv = (
        l.withColumn("yr", F.year("l_shipdate"))
        .groupBy("l_returnflag")
        .pivot("yr", _PIVOT_YEARS)
        .agg(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))))
    )
    for y in _PIVOT_YEARS:
        piv = piv.withColumnRenamed(str(y), f"rev_{y}")
    return piv


def _pivot_sql() -> str:
    cols = ",\n       ".join(
        "CAST(SUM(CASE WHEN year(l_shipdate) = {y} THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6)) END) AS DOUBLE) AS rev_{y}".format(y=y)
        for y in _PIVOT_YEARS
    )
    return f"SELECT l_returnflag,\n       {cols}\nFROM lineitem GROUP BY l_returnflag"


def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond the cube/rollup gates): per-flag,
    per-status, and grand-total revenue in ONE aggregate pass with
    grouping() flags disambiguating real NULL keys from subtotal rows."""
    l = load(spark, sf_dir, "lineitem")
    l.createOrReplaceTempView("__gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
               CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE) AS revenue
        FROM __gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


_GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
       CAST(grouping(l_linestatus) AS BIGINT) AS g_status,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6))) AS DOUBLE) AS revenue
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


def nations_with_customers_and_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation (U2 intersect as a user query): nation keys present
    on BOTH the customer and supplier side."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


NATIONS_INTERSECT_SQL = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
"""


def parts_never_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation (except as a user query): part keys that never
    appear in lineitem."""
    p = load(spark, sf_dir, "part").select(F.col("p_partkey").alias("partkey"))
    l = load(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("partkey"))
    return p.exceptAll(l.distinct()).distinct()


PARTS_EXCEPT_SQL = """
SELECT p_partkey AS partkey FROM part
EXCEPT
SELECT l_partkey AS partkey FROM lineitem
"""


def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (Catalyst decorrelates it into an
    aggregate + join): orders whose total exceeds their customer's
    average order total. Output: per-priority counts."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("__orders")
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n
        FROM __orders o
        WHERE o_totalprice > (
            SELECT avg(o_totalprice) FROM __orders i WHERE i.o_custkey = o.o_custkey
        )
        GROUP BY o_orderpriority
        """
    )


ORDERS_ABOVE_CUSTOMER_AVG_SQL = """
SELECT o_orderpriority, count(*) AS n
FROM orders o
WHERE o_totalprice > (
    SELECT avg(o_totalprice) FROM orders i WHERE i.o_custkey = o.o_custkey
)
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# PageRank over the customer→supplier trade network (iterative ranking
# beyond closure/CC; integer-exact, see operators.graph)
# ---------------------------------------------------------------------------

def pagerank_trade_network(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank on the bipartite customer→supplier trade
    graph (edge = customer ordered from supplier at least once; node
    ids disambiguated as 2·custkey / 2·suppkey+1). Ranks are integer-
    quantized micro-units — bit-identical to the unrolled-CTE DuckDB
    twin (operators/graph.py). Returns the 20 highest-ranked supplier
    nodes."""
    from ..operators.graph import pagerank

    l = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    pr = pagerank(edges, iters=3)
    return (
        pr.where(F.col("node") % 2 == 1)
        .select(
            ((F.col("node") - 1) / 2).cast("long").alias("s_suppkey"),
            "rank_q",
            "rank",
        )
        .orderBy(F.col("rank_q").desc(), "s_suppkey")
        .limit(20)
    )


def _pagerank_trade_sql() -> str:
    from ..operators.graph import pagerank_sql

    edges_sql = (
        "SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    )
    inner = pagerank_sql(edges_sql, iters=3)
    return f"""
SELECT CAST((node - 1) // 2 AS BIGINT) AS s_suppkey, rank_q, rank
FROM ({inner})
WHERE node % 2 = 1
ORDER BY rank_q DESC, s_suppkey
LIMIT 20
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_region_volume": q5_region_volume,
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q4_priority_late_ship": q4_priority_late_ship,
    "q7_nation_volume": q7_nation_volume,
    "q10_returned_revenue": q10_returned_revenue,
    "q14_promo_revenue": q14_promo_revenue,
    "q16_parts_supplier_counts": q16_parts_supplier_counts,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q18_large_volume_orders": q18_large_volume_orders,
    "q15_top_supplier": q15_top_supplier,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
    "q21_sole_late_shipper": q21_sole_late_shipper,
    "q22_dormant_customers": q22_dormant_customers,
    "topk_brands_by_revenue": topk_brands_by_revenue,
    "window_order_rank": window_order_rank,
    "rollup_returns": rollup_returns,
    "cube_revenue": cube_revenue,
    "skew_salted_order_totals": skew_salted_order_totals,
    "customers_without_orders": customers_without_orders,
    "suppliers_with_large_shipments": suppliers_with_large_shipments,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q11_important_parts": q11_important_parts,
    "q12_priority_shipping": q12_priority_shipping,
    "q13_customer_distribution": q13_customer_distribution,
    "q20_significant_suppliers": q20_significant_suppliers,
    "bloom_prefilter_supplier_volume": bloom_prefilter_supplier_volume,
    "part_basket_triangles": part_basket_triangles,
    "median_quantity_by_flag": median_quantity_by_flag,
    "minmax_order_prices": minmax_order_prices,
    "linkage_candidates_customers": linkage_candidates_customers,
    "winsorized_price_stats": winsorized_price_stats,
    "global_rank_orders": global_rank_orders,
    "equi_depth_prices": equi_depth_prices,
    "weighted_median_prices": weighted_median_prices,
    "mad_outlier_orders": mad_outlier_orders,
    "pivot_shipmode_year": pivot_shipmode_year,
    "grouping_sets_revenue": grouping_sets_revenue,
    "nations_with_customers_and_suppliers": nations_with_customers_and_suppliers,
    "parts_never_ordered": parts_never_ordered,
    "orders_above_customer_avg": orders_above_customer_avg,
    "pagerank_trade_network": pagerank_trade_network,
}

ORACLES: dict[str, str] = {
    "q1_pricing_summary": Q1_SQL,
    "q3_shipping_priority": Q3_SQL,
    "q5_region_volume": Q5_SQL,
    "q2_min_cost_supplier": Q2_SQL,
    "q4_priority_late_ship": Q4_SQL,
    "q7_nation_volume": Q7_SQL,
    "q10_returned_revenue": Q10_SQL,
    "q14_promo_revenue": Q14_SQL,
    "q16_parts_supplier_counts": Q16_SQL,
    "q17_small_quantity_revenue": Q17_SQL,
    "q18_large_volume_orders": Q18_SQL,
    "q15_top_supplier": Q15_SQL,
    "q19_disjunctive_revenue": Q19_SQL,
    "q21_sole_late_shipper": Q21_SQL,
    "q22_dormant_customers": Q22_SQL,
    "topk_brands_by_revenue": TOPK_BRANDS_SQL,
    "window_order_rank": WINDOW_RANK_SQL,
    "rollup_returns": ROLLUP_SQL,
    "cube_revenue": CUBE_SQL,
    "skew_salted_order_totals": SKEW_SALTED_SQL,
    "customers_without_orders": ANTI_JOIN_SQL,
    "suppliers_with_large_shipments": SEMI_JOIN_SQL,
    "q6_forecast_revenue": Q6_SQL,
    "q8_market_share": Q8_SQL,
    "q9_product_profit": Q9_SQL,
    "q11_important_parts": Q11_SQL,
    "q12_priority_shipping": Q12_SQL,
    "q13_customer_distribution": Q13_SQL,
    "q20_significant_suppliers": Q20_SQL,
    "bloom_prefilter_supplier_volume": BLOOM_PREFILTER_SQL,
    "part_basket_triangles": _triangles_sql(),
    "median_quantity_by_flag": _median_sql(),
    "minmax_order_prices": _minmax_sql(),
    "linkage_candidates_customers": _linkage_sql(),
    "winsorized_price_stats": _winsorize_sql(),
    "global_rank_orders": _GLOBAL_RANK_SQL,
    "equi_depth_prices": _equi_depth_sql(),
    "weighted_median_prices": _weighted_median_sql(),
    "mad_outlier_orders": _mad_sql(),
    "pivot_shipmode_year": _pivot_sql(),
    "grouping_sets_revenue": _GROUPING_SETS_SQL,
    "nations_with_customers_and_suppliers": NATIONS_INTERSECT_SQL,
    "parts_never_ordered": PARTS_EXCEPT_SQL,
    "orders_above_customer_avg": ORDERS_ABOVE_CUSTOMER_AVG_SQL,
    "pagerank_trade_network": _pagerank_trade_sql(),
}
