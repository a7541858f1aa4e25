"""Extended relational query suite — the remaining TPC-H query classes,
adapted to the driver's trimmed schema (no partsupp / commitdate /
receiptdate / shipmode / phone columns).

Each query exercises a relational capability the core trio (q1/q3/q5)
does not: semi-joins (EXISTS), anti-joins (NOT EXISTS / NOT IN),
correlated per-group subqueries, scalar aggregate subqueries, left
outer join + distribution, disjunctive join predicates, and
conditional-aggregate market shares. Together with the core trio this
is the full TPC-H capability matrix, which subsumes every relational
shape in the reference (joins/groupbys in
generate_intermediate_files.py, filters in correction_functions.py).

Scale notes per query are in the docstrings. Only bounded sides are
force-broadcast (nation/region dims, 1-row scalar aggregates): part and
supplier GROW with scale factor, so their joins are left to AQE, which
still auto-broadcasts them at small SF but falls back to shuffle joins
past the threshold — the plan that survives a 100x scale-up. Every
"subquery" is expressed as a join so Catalyst picks the strategy.

Where TPC-H uses `partsupp`, we derive the part–supplier relation from
`lineitem` (min observed unit price as supply cost); where it uses
commit/receipt lateness, we use `l_returnflag = 'R'` as the defect
signal; where it uses phone country codes, we use `c_nationkey % 7`.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyprima_spark.functions.agg import DEC, dec_sum

from pyprima_spark.catalog import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _dstr(col: str) -> F.Column:
    return F.date_format(col, "yyyy-MM-dd").alias(col)


# ---------------------------------------------------------------------------
# q2 — min-cost supplier (correlated MIN subquery as window-min)
# ---------------------------------------------------------------------------

def _q2_cost4_sql(div: str) -> str:
    """price / qty rounded HALF-AWAY-FROM-ZERO to 4 places, in units of
    1e-4, as an exact integer (quality_score's rounding). With NUM and
    DEN the micro-unit integers of price and qty (DEN > 0), it is
    (2·10⁴·NUM ± DEN) ``div`` (2·DEN); ``div`` is the engine's integer
    division, Spark ``div`` or DuckDB ``//``, both truncating toward
    zero. Rounding is monotone, so min() of the rounded values is the
    rounded min."""
    num = "cast(cast(l_extendedprice as decimal(27,6)) * 1000000 as bigint)"
    den = "cast(cast(l_quantity as decimal(27,6)) * 1000000 as bigint)"
    return f"(20000 * {num} + if({num} >= 0, {den}, -{den})) {div} (2 * {den})"


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each SMALL part of size <= 15, the supplier(s) offering the
    minimum observed unit price; top 100 by account balance.

    The correlated ``cost = (SELECT min ...)`` is a window-min over the
    part key — one shuffle on l_partkey, no re-scan. Part filter prunes
    before the join; supplier/nation/region dims broadcast.

    The reported ``supplycost`` rounds in exact integer space (see
    ``_q2_cost4_sql``): ``round(double, 4)`` of the quotient disagreed
    with DuckDB by 1e-4 whenever the decimal quotient ended in 5 at
    the fifth place (213.70625 -> Spark 213.7062, DuckDB 213.7063).
    The double ``min`` still elects the supplier, so ties are unchanged.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 15) & (F.col("p_type") == "SMALL")
    )
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    ps = (
        li.join(part.select("p_partkey", "p_name"), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "p_name", "l_suppkey")
        .agg(
            F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("supplycost"),
            F.min(F.expr(_q2_cost4_sql("div"))).alias("cost4"),
        )
    )
    w = Window.partitionBy("l_partkey")
    best = ps.withColumn("min_cost", F.min("supplycost").over(w)).filter(
        F.col("supplycost") == F.col("min_cost")
    )
    return (
        best.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            F.col("l_partkey").alias("p_partkey"),
            "p_name",
            (F.col("cost4").cast("double") / 10000).alias("supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


ORACLE_Q2 = f"""
WITH ps AS (
  SELECT l_partkey, p_name, l_suppkey,
         min(l_extendedprice / l_quantity) AS supplycost,
         min({_q2_cost4_sql("//")}) AS cost4
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_size <= 15 AND p_type = 'SMALL'
  GROUP BY 1, 2, 3
),
best AS (
  SELECT *, min(supplycost) OVER (PARTITION BY l_partkey) AS min_cost FROM ps
)
SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name,
       l_partkey AS p_partkey, p_name, cost4::DOUBLE / 10000 AS supplycost
FROM best
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE supplycost = min_cost
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


# ---------------------------------------------------------------------------
# q4 — order priority checking (EXISTS semi-join)
# ---------------------------------------------------------------------------

def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders per priority in 1996Q3 having at least one returned line.

    ``EXISTS`` is a left-semi join on the order key — the returned-line
    side is pre-filtered and deduplicated map-side by the semi-join
    itself (no distinct needed).
    """
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01"))
        & (F.col("o_orderdate") < F.lit("1996-10-01"))
    )
    returned = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


ORACLE_Q4 = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# q6 — forecasting revenue change (pure pushdown scan-filter-agg)
# ---------------------------------------------------------------------------

def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue delta from a discount band — all three predicates and the
    2-column projection reach the parquet scan (PushedFilters)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dec_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


ORACLE_Q6 = """
SELECT round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(27,6))), 2)::DOUBLE AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


# ---------------------------------------------------------------------------
# q7 — volume shipping between two nations
# ---------------------------------------------------------------------------

def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral trade volume NATION_1 <-> NATION_2 by ship year.

    Both nation dims broadcast; the disjunctive nation-pair predicate is
    applied after the joins so each big join stays a plain equi-join.
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") <= F.lit("1997-12-31"))
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


ORACLE_Q7 = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))), 2)::DOUBLE AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate <= TIMESTAMP '1997-12-31'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# q8 — national market share (conditional aggregate ratio)
# ---------------------------------------------------------------------------

def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_3's share of PROMO-part volume sold into ASIA by year."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") <= F.lit("1997-12-31"))
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n2 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(part.select("p_partkey"), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


ORACLE_Q8 = """
SELECT year(o_orderdate) AS o_year,
       round(sum(CASE WHEN n2.n_name = 'NATION_3'
                 THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE p_type = 'PROMO' AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate <= TIMESTAMP '1997-12-31'
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# q9 — product-type profit (cost proxy: retail price)
# ---------------------------------------------------------------------------

def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit on widget parts by supplier nation and order year, with
    ``p_retailprice * quantity * 0.1`` as the supply-cost proxy."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.col("l_quantity") * 0.1
    return (
        li.join(
            part.select("p_partkey", "p_retailprice"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy(F.col("n_name").alias("nation"), "o_year")
        .agg(dec_sum(amount).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


ORACLE_Q9 = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       round(sum(CAST(l_extendedprice * (1 - l_discount)
                 - p_retailprice * l_quantity * 0.1 AS DECIMAL(27,6))), 2)::DOUBLE AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
"""


# ---------------------------------------------------------------------------
# q10 — returned-item reporting (top 20 customers by lost revenue)
# ---------------------------------------------------------------------------

def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: returned-item revenue by customer, one quarter —
    top-20 lost-revenue customers (BHJ dims, one fact shuffle)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


ORACLE_Q10 = """
SELECT c_custkey, c_name,
       round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))), 2)::DOUBLE AS revenue,
       round(c_acctbal, 2) AS c_acctbal, n_name
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-10-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# ---------------------------------------------------------------------------
# q12 — shipping priority classes by line status (conditional counts)
# ---------------------------------------------------------------------------

def q12_priority_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12: shipmode-less adaptation — late-vs-on-time line
    counts per order priority class over a one-year ship window."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    orders = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


ORACLE_Q12 = """
SELECT l_linestatus,
       cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
         AS BIGINT) AS high_line_count,
       cast(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
         AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------------------
# q13 — customer order-count distribution (left outer join)
# ---------------------------------------------------------------------------

def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of per-customer order counts, keeping zero-order
    customers via a left outer join with a filtered right side."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "5-LOW"
    )
    counts = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        counts.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


ORACLE_Q13 = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# ---------------------------------------------------------------------------
# q14 — promotion effect (conditional ratio over one month)
# ---------------------------------------------------------------------------

def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo-part revenue share for one month — conditional
    DECIMAL sums over one broadcast part join, single division."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01"))
        & (F.col("l_shipdate") < F.lit("1996-10-01"))
    )
    part = _t(spark, sf_dir, "part")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(
            part.select("p_partkey", "p_type"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0))
                / F.sum(vol),
                4,
            ).alias("promo_revenue")
        )
    )


ORACLE_Q14 = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                         THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01'
"""


# ---------------------------------------------------------------------------
# q15 — top supplier (scalar MAX subquery)
# ---------------------------------------------------------------------------

def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) with maximum quarterly revenue. The scalar max is a
    1-row aggregate broadcast against the revenue table."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    supp = _t(spark, sf_dir, "supplier")
    revenue = li.groupBy("l_suppkey").agg(
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(27,6)"
            )
        ).alias("total")
    )
    mx = revenue.agg(F.max("total").alias("mx"))
    return (
        revenue.join(F.broadcast(mx), revenue.total == mx.mx)
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round("total", 2).cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


ORACLE_Q15 = """
WITH revenue AS (
  SELECT l_suppkey, sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS total
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY 1
)
SELECT s_suppkey, s_name, round(total, 2)::DOUBLE AS total_revenue
FROM revenue
JOIN supplier ON l_suppkey = s_suppkey
WHERE total = (SELECT max(total) FROM revenue)
ORDER BY s_suppkey
"""


# ---------------------------------------------------------------------------
# q16 — supplier count by part attributes (NOT IN anti-join)
# ---------------------------------------------------------------------------

def q16_part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct suppliers per (brand, type, size) bucket, excluding one
    brand and suppliers with negative balance (NOT IN → anti-join;
    s_suppkey is non-null so anti-join and NOT IN agree)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 3, 9, 14, 19, 23, 36, 45)
    )
    bad_supp = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(
            part.select("p_partkey", "p_brand", "p_type", "p_size"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(bad_supp, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


ORACLE_Q16 = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 3, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# ---------------------------------------------------------------------------
# q17 — small-quantity-order revenue (correlated AVG subquery)
# ---------------------------------------------------------------------------

def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avg yearly revenue lost if small-quantity lines of one brand were
    not filled. The correlated per-part AVG is a separate aggregate of
    the full lineitem joined back on the part key (quantities are
    integer-valued doubles, so the sums are exact in any order)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3").select(
        "p_partkey"
    )
    thresholds = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey")
        .agg((F.lit(0.2) * (F.sum(F.col("l_quantity").cast(DEC)).cast("double") / F.count("l_quantity"))).alias("qty_threshold"))
        .select(F.col("l_partkey").alias("t_partkey"), "qty_threshold")
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(thresholds, F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.round(F.sum(F.col("l_extendedprice").cast("decimal(27,6)")).cast("double") / 7.0, 2).alias("avg_yearly"))
    )


ORACLE_Q17 = """
SELECT round((sum(CAST(l_extendedprice AS DECIMAL(27,6)))::DOUBLE) / 7.0, 2) AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#3'
  AND l_quantity < (SELECT 0.2 * (sum(CAST(l2.l_quantity AS DECIMAL(27,6)))::DOUBLE / count(l2.l_quantity)) FROM lineitem l2
                    WHERE l2.l_partkey = p_partkey)
"""


# ---------------------------------------------------------------------------
# q18 — large-volume customers (HAVING semi-join + join-back)
# ---------------------------------------------------------------------------

def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: large-volume orders (per-order quantity rollup as the
    semi-join gate, then customer enrichment; quantity cut scaled to
    the trimmed schema's basket sizes)."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        li.join(big, li.l_orderkey == big.big_orderkey, "left_semi")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dec_sum("l_quantity").alias("total_qty"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            _dstr("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


ORACLE_Q18 = """
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       round(o_totalprice, 2) AS o_totalprice,
       round(sum(CAST(l_quantity AS DECIMAL(27,6))), 2)::DOUBLE AS total_qty
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


# ---------------------------------------------------------------------------
# q19 — discounted revenue under disjunctive predicates
# ---------------------------------------------------------------------------

def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three OR-ed (brand, size, quantity) bands — the join itself stays
    a plain part-key equi-join; the disjunction is a post-join filter
    Catalyst can partially push to each side (brand/size to part,
    nothing to lineitem since quantity bands differ per branch)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    cond = (
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
    return (
        li.join(
            part.select("p_partkey", "p_brand", "p_size"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .filter(cond)
        .agg(
            dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
    )


ORACLE_Q19 = """
SELECT round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))), 2)::DOUBLE AS revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
"""


# ---------------------------------------------------------------------------
# q20 — suppliers with excess movement (nested IN as semi-join chain)
# ---------------------------------------------------------------------------

def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EUROPE suppliers who moved > 50 units of gear parts in 1996 —
    two nested INs, both expressed as semi-joins."""
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    gear = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%")).select(
        "p_partkey"
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    movers = (
        li.join(gear, F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("moved"))
        .filter(F.col("moved") > 50)
        .select("l_suppkey")
    )
    return (
        supp.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"), "left_semi")
        .join(movers, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
        .orderBy("s_name")
    )


ORACLE_Q20 = """
SELECT s_name, round(s_acctbal, 2) AS s_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_regionkey IN (SELECT r_regionkey FROM region WHERE r_name = 'EUROPE')
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%gear%')
    GROUP BY l_suppkey HAVING sum(l_quantity) > 50)
ORDER BY s_name
"""


# ---------------------------------------------------------------------------
# q21 — sole blamed supplier (EXISTS + NOT EXISTS)
# ---------------------------------------------------------------------------

def q21_sole_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who were the ONLY supplier with returned lines on
    finalized multi-supplier orders.

    EXISTS(other supplier on the order) is a left-semi join against the
    distinct (order, other-supplier) pairs; NOT EXISTS(other supplier
    with a returned line) a left-anti join on the same shape — both
    shuffle on the order key only.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = _t(spark, sf_dir, "supplier")
    l1 = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    l2 = li.select(
        F.col("l_orderkey").alias("o2_orderkey"), F.col("l_suppkey").alias("o2_suppkey")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3_orderkey"), F.col("l_suppkey").alias("o3_suppkey")
    )
    return (
        l1.join(orders, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .join(
            l2,
            (F.col("l_orderkey") == F.col("o2_orderkey"))
            & (F.col("l_suppkey") != F.col("o2_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("o3_orderkey"))
            & (F.col("l_suppkey") != F.col("o3_suppkey")),
            "left_anti",
        )
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


ORACLE_Q21 = """
SELECT s_name, count(*) AS numwait
FROM lineitem l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM orders
              WHERE o_orderkey = l1.l_orderkey AND o_orderstatus = 'F')
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


# ---------------------------------------------------------------------------
# q22 — inactive wealthy customers (scalar AVG subquery + NOT EXISTS)
# ---------------------------------------------------------------------------

def q22_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers in 3 'country code' buckets (nationkey mod 7) with an
    above-average balance and no RECENT orders (none on/after
    1999-01-01 — TPC-H Q22's 'have not placed orders for 7 years'
    predicate anchored inside the 1995–2001 data span; the earlier
    no-orders-ever form was vacuously empty because every synthetic
    customer has at least one order)."""
    cust = _t(spark, sf_dir, "customer").withColumn(
        "cntrycode", F.col("c_nationkey") % 7
    ).filter(F.col("cntrycode").isin(1, 2, 3))
    avg_bal = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .agg((F.sum(F.col("c_acctbal").cast(DEC)).cast("double") / F.count("c_acctbal")).alias("avg_bal"))
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01"))
        .select("o_custkey")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dec_sum("c_acctbal").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


ORACLE_Q22 = """
SELECT c_nationkey % 7 AS cntrycode, count(*) AS numcust,
       round(sum(CAST(c_acctbal AS DECIMAL(27,6))), 2)::DOUBLE AS totacctbal
FROM customer
WHERE c_nationkey % 7 IN (1, 2, 3)
  AND c_acctbal > (SELECT sum(CAST(c_acctbal AS DECIMAL(27,6)))::DOUBLE / count(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY 1
ORDER BY 1
"""



# ---------------------------------------------------------------------------
# q11 — important part values (HAVING against a scalar fraction subquery)
# ---------------------------------------------------------------------------

def q11_important_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose traded value through NATION_7 suppliers exceeds a
    fixed fraction of that nation's total traded value. The scalar total
    is a 1-row aggregate broadcast against the per-part values — both
    branches reuse one shuffled aggregate of the filtered join."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    values = (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("val"))
    )
    total = values.agg(F.sum("val").alias("total"))
    return (
        values.join(F.broadcast(total))
        .filter(F.col("val") > F.col("total") * 0.001)
        .select(F.col("l_partkey").alias("p_partkey"), F.round("val", 2).alias("value"))
        .orderBy(F.desc("value"), "p_partkey")
    )


ORACLE_Q11 = """
WITH values_t AS (
  SELECT l_partkey, sum(l_extendedprice * l_quantity) AS val
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
  GROUP BY 1
)
SELECT l_partkey AS p_partkey, round(val, 2) AS value
FROM values_t
WHERE val > (SELECT sum(val) FROM values_t) * 0.001
ORDER BY value DESC, p_partkey
"""

EXTRA_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q4_order_priority": q4_order_priority,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q7_volume_shipping": q7_volume_shipping,
    "q8_market_share": q8_market_share,
    "q9_product_profit": q9_product_profit,
    "q10_returned_items": q10_returned_items,
    "q11_important_values": q11_important_values,
    "q12_priority_lines": q12_priority_lines,
    "q13_customer_distribution": q13_customer_distribution,
    "q14_promo_revenue": q14_promo_revenue,
    "q15_top_supplier": q15_top_supplier,
    "q16_part_supplier_counts": q16_part_supplier_counts,
    "q17_small_quantity": q17_small_quantity,
    "q18_large_orders": q18_large_orders,
    "q19_disjunctive_revenue": q19_disjunctive_revenue,
    "q20_excess_suppliers": q20_excess_suppliers,
    "q21_sole_blame": q21_sole_blame,
    "q22_inactive_customers": q22_inactive_customers,
}

EXTRA_ORACLES: dict[str, str] = {
    "q2_min_cost_supplier": ORACLE_Q2,
    "q4_order_priority": ORACLE_Q4,
    "q6_forecast_revenue": ORACLE_Q6,
    "q7_volume_shipping": ORACLE_Q7,
    "q8_market_share": ORACLE_Q8,
    "q9_product_profit": ORACLE_Q9,
    "q10_returned_items": ORACLE_Q10,
    "q11_important_values": ORACLE_Q11,
    "q12_priority_lines": ORACLE_Q12,
    "q13_customer_distribution": ORACLE_Q13,
    "q14_promo_revenue": ORACLE_Q14,
    "q15_top_supplier": ORACLE_Q15,
    "q16_part_supplier_counts": ORACLE_Q16,
    "q17_small_quantity": ORACLE_Q17,
    "q18_large_orders": ORACLE_Q18,
    "q19_disjunctive_revenue": ORACLE_Q19,
    "q20_excess_suppliers": ORACLE_Q20,
    "q21_sole_blame": ORACLE_Q21,
    "q22_inactive_customers": ORACLE_Q22,
}
