"""TPC-H-shaped analytical workloads beyond the core catalog.

The reference pipeline's query surface is `SELECT * LIMIT n`
(finalprojectapi.py:17-37) -- these queries extend the engine's proven
workload coverage to the canonical decision-support shapes (existence
semi-joins, disjunctive predicate pushdown, outer-join histograms,
per-group scalar subqueries, global-aggregate HAVING filters, anti-join
prospect lists) adapted to the driver testdata's reduced TPC-H schema
(no partsupp / commitdate / receiptdate / shipmode columns).

Scale notes apply to every query here: dims (region/nation/supplier) are
broadcast explicitly; part/customer are left to AQE so the same plan
works when they stop fitting in a broadcast at 100 TB; every aggregate
over doubles goes through decimal-exact summation so results are
partition-order-independent from local[32] to 1000 executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.aggregates import exact_avg, exact_sum
from ..io.readers import read_parquet_table as t
from . import register

# --------------------------------------------------------------- Q4 shape


@register(
    "tpch_q4_priority_exists",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate >= o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def tpch_q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (EXISTS over the fact table): orders with at least
    one line shipped >=30 days after the order date, counted by priority.
    The EXISTS is a LEFT SEMI join -- rows stop flowing at first match, no
    fan-out, and the date filter cuts orders before the shuffle."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (li.l_shipdate >= o.o_orderdate + F.expr("INTERVAL 30 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# --------------------------------------------------------------- Q7 shape


@register(
    "tpch_q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(CAST(volume AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
          OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by year.
    Both nation sides broadcast; the disjunctive nation-pair predicate is
    applied right after the broadcasts so only qualifying rows reach the
    final aggregate. The orders-lineitem equi-join is the only
    fact-sized shuffle."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


# --------------------------------------------------------------- Q8 shape


@register(
    "tpch_q8_market_share",
    oracle="""
    SELECT o_year,
           CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END
                         AS DECIMAL(38,6))) AS DOUBLE)
           / CAST(SUM(CAST(volume AS DECIMAL(38,6))) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n1.n_name AS supp_nation
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region ON n2.n_regionkey = r_regionkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      WHERE r_name = 'EUROPE'
    ) all_nations
    GROUP BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of supplier revenue into a
    region's customers, per year. The share is a conditional-sum /
    total-sum ratio computed in the SAME aggregate -- one pass, no
    self-join against a totals subquery."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region")
    )
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_region") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (
                exact_sum(
                    F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(F.lit(0.0))
                )
                / exact_sum(vol)
            ).alias("mkt_share")
        )
    )


# -------------------------------------------------------------- Q10 shape


@register(
    "tpch_q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
                AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate <  TIMESTAMP '1996-10-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer in one
    quarter. Both fact filters (quarter window, returnflag) are pushed to
    the scans; customer is left to AQE (broadcastable here, shuffled at
    100 TB where it's a billion rows)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


# -------------------------------------------------------------- Q12 shape


@register(
    "tpch_q12_late_priority_counts",
    oracle="""
    SELECT l_linestatus,
           COUNT(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                 THEN 1 END) AS high_line_count,
           COUNT(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                 THEN 1 END) AS low_line_count
    FROM orders
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
    GROUP BY l_linestatus
    """,
)
def tpch_q12_late_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode stand-in: linestatus): late-shipped lines
    split into high/low-priority conditional counts. The lateness
    predicate is a non-equi condition evaluated inside the equi-join on
    orderkey -- no extra pass."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            o,
            (li.l_orderkey == o.o_orderkey)
            & (li.l_shipdate >= o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        )
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, F.lit(1))).alias("high_line_count"),
            F.count(F.when(~high, F.lit(1))).alias("low_line_count"),
        )
    )


# -------------------------------------------------------------- Q13 shape


@register(
    "tpch_q13_order_histogram",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer
      LEFT OUTER JOIN orders ON c_custkey = o_custkey
        AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def tpch_q13_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count,
    INCLUDING zero-order customers -- which forces a left outer join (an
    inner join silently drops the c_count=0 bucket). Two-level aggregate:
    per-customer count (fact-sized shuffle) then histogram (tiny)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


# -------------------------------------------------------------- Q15 shape


@register(
    "tpch_q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
                  AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with maximum quarterly revenue. The
    per-supplier aggregate is computed ONCE and reused for both the max
    scalar and the final join (cached lineage, not two scans); decimal
    summation makes the float equality against MAX deterministic."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = t(spark, sf_dir, "supplier")
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "total_revenue"
            )
        )
    )
    top = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(
            F.broadcast(top), F.col("total_revenue") == F.col("max_revenue")
        )
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


# -------------------------------------------------------------- Q16 shape


@register(
    "tpch_q16_supplier_variety",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (1, 9, 17, 25, 33, 41, 49)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_type, p_size
    """,
)
def tpch_q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (lineitem stands in for partsupp): how many
    distinct suppliers serve each qualifying part profile, excluding
    suppliers from a denylist subquery. NOT IN becomes a broadcast
    LEFT ANTI join (safe here: s_suppkey is never null; a null-yielding
    denylist would need the three-valued NOT IN guard)."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 9, 17, 25, 33, 41, 49)
    )
    bad = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# -------------------------------------------------------------- Q17 shape


@register(
    "tpch_q17_small_qty_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / 7.0
           AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN (
      SELECT l_partkey AS agg_partkey,
             0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
                    / COUNT(l_quantity)) AS qty_threshold
      FROM lineitem GROUP BY l_partkey
    ) part_agg ON agg_partkey = l_partkey
    WHERE p_brand = 'Brand#3' AND l_quantity < qty_threshold
    """,
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from orders below 20%% of the per-part
    average quantity. The correlated scalar subquery is decorrelated into
    a per-part aggregate joined back to the fact (the aggregate output is
    O(parts) -- broadcastable until parts stop being dim-sized).
    Decimal-exact avg keeps the threshold comparison reproducible."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    part_agg = li.groupBy(F.col("l_partkey").alias("agg_partkey")).agg(
        (F.lit(0.2) * exact_avg("l_quantity")).alias("qty_threshold")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(part_agg, F.col("agg_partkey") == li.l_partkey)
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg((exact_sum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"))
    )


# -------------------------------------------------------------- Q19 shape


@register(
    "tpch_q19_disjunctive_bands",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
                AS DOUBLE) AS revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#4' AND p_size BETWEEN 11 AND 25
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#6' AND p_size BETWEEN 26 AND 50
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def tpch_q19_disjunctive_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: three OR'd (brand, size-band, quantity-band)
    branches. The single-table prefixes of the disjunction (brand+size on
    part, quantity envelope on lineitem) are derivable by Catalyst's
    disjunction-CNF pushdown; the full predicate is re-checked post-join."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    q, b, sz = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    branch = (
        ((b == "Brand#2") & sz.between(1, 10) & q.between(1, 11))
        | ((b == "Brand#4") & sz.between(11, 25) & q.between(10, 20))
        | ((b == "Brand#6") & sz.between(26, 50) & q.between(20, 30))
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(branch)
        .agg(
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


# -------------------------------------------------------------- Q22 shape


@register(
    "tpch_q22_anti_prospects",
    oracle="""
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
             / COUNT(c_acctbal) AS v
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT v FROM avg_bal)
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '1999-01-01'
      )
    GROUP BY c_nationkey
    """,
)
def tpch_q22_anti_prospects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: wealthy customers with no RECENT order, by
    nation. The global average is a one-row broadcast cross join (NOT a
    collect); NOT EXISTS is a LEFT ANTI join against a filtered orders
    key projection -- only o_custkey+o_orderdate are read from the scan."""
    c = t(spark, sf_dir, "customer")
    o_keys = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(exact_avg("c_acctbal").alias("avg_bal"))
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o_keys, c.c_custkey == o_keys.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            exact_sum("c_acctbal").alias("totacctbal"),
        )
    )


# --------------------------------------------------------------- Q6 shape


@register(
    "tpch_q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6)))
                AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount >= CAST(0.05 AS DOUBLE)
      AND l_discount <= CAST(0.07 AS DOUBLE)
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: single-table scan-filter-aggregate, the purest pushdown
    probe in the suite. All three predicates are parquet-pushable
    (min/max row-group pruning on l_shipdate); no shuffle at all --
    partial sums combine into one final row. Replaces the reference's
    full-load-then-carve pattern (DAG1:45) with scan-time filtering."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            exact_sum(F.col("l_extendedprice") * F.col("l_discount")).alias(
                "revenue"
            )
        )
    )


# --------------------------------------------------------------- Q2 shape


@register(
    "tpch_q2_min_cost_supplier",
    oracle="""
    WITH supply AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ),
    eur AS (
      SELECT s_suppkey, s_acctbal, s_name, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ),
    cand AS (
      SELECT p_partkey, p_brand, s_suppkey, s_acctbal, s_name, n_name
      FROM part
      JOIN supply ON l_partkey = p_partkey
      JOIN eur ON l_suppkey = s_suppkey
      WHERE p_size = 9 AND p_type = 'ECONOMY'
    ),
    best AS (
      SELECT p_partkey AS bk, MIN(s_acctbal) AS min_bal
      FROM cand GROUP BY p_partkey
    )
    SELECT p_partkey, p_brand, s_suppkey, s_name, n_name, s_acctbal
    FROM cand JOIN best ON p_partkey = bk AND s_acctbal = min_bal
    """,
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per-part argmin over qualified suppliers. The
    driver schema has no partsupp, so the supply relation is derived as
    DISTINCT (l_partkey, l_suppkey) -- one fact-sized shuffle -- and
    s_acctbal stands in for ps_supplycost. The correlated MIN subquery is
    decorrelated into a per-part aggregate joined back on value equality
    (exact: both sides compare the identical stored double). Supplier /
    nation / region qualify via broadcast; ties on the min balance keep
    every winning supplier, so no nondeterministic LIMIT is needed."""
    supply = (
        t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    )
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eur = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    p = t(spark, sf_dir, "part").filter(
        (F.col("p_size") == 9) & (F.col("p_type") == "ECONOMY")
    )
    cand = (
        supply.join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .join(F.broadcast(eur), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("p_partkey", "p_brand", "s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    best = cand.groupBy(F.col("p_partkey").alias("bk")).agg(
        F.min("s_acctbal").alias("min_bal")
    )
    return (
        cand.join(
            F.broadcast(best),
            (cand.p_partkey == F.col("bk"))
            & (cand.s_acctbal == F.col("min_bal")),
        )
        .select("p_partkey", "p_brand", "s_suppkey", "s_name", "n_name", "s_acctbal")
    )


# --------------------------------------------------------------- Q9 shape


@register(
    "tpch_q9_product_profit",
    oracle="""
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         - CAST(0.5 AS DOUBLE) * p_retailprice * l_quantity
                    AS DECIMAL(38,6))) AS DOUBLE) AS sum_profit
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN part     ON p_partkey  = l_partkey
    JOIN supplier ON s_suppkey  = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, CAST(year(o_orderdate) AS INT)
    """,
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier-nation and order year for parts
    matching a name pattern. ps_supplycost does not exist in the driver
    schema, so cost is modeled as half the part's retail price per unit.
    The p_name LIKE filter prunes part BEFORE the join (Catalyst pushes
    it into the scan), and part/supplier/nation broadcast -- the only
    fact-sized shuffle is lineitem-orders on orderkey, then the group-by
    reshuffles O(nations x years) partials."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    p = t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        0.5
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(exact_sum(profit).alias("sum_profit"))
    )


# -------------------------------------------------------------- Q11 shape


@register(
    "tpch_q11_important_parts",
    oracle="""
    WITH val AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
               AS part_value
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_3'
      GROUP BY l_partkey
    )
    SELECT l_partkey, part_value
    FROM val
    WHERE part_value >
      (SELECT CAST(0.001 AS DOUBLE)
              * CAST(SUM(CAST(part_value AS DECIMAL(38,6))) AS DOUBLE)
       FROM val)
    """,
)
def tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose stocked value in one nation exceeds a
    fraction of that nation's total. The global-total scalar subquery
    becomes a 1-row broadcast cross join against the per-part aggregate
    (computed once, reused for both sides). The rollup of per-part
    doubles goes back through decimal so the grand total is identical on
    any partition layout -- a plain double re-sum would make the
    threshold itself nondeterministic."""
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    li = t(spark, sf_dir, "lineitem")
    val = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("l_partkey")
        .agg(exact_sum("l_extendedprice").alias("part_value"))
    )
    total = val.agg(
        (F.lit(0.001) * exact_sum("part_value")).alias("threshold")
    )
    return (
        val.join(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", "part_value")
    )


# -------------------------------------------------------------- Q20 shape


@register(
    "tpch_q20_promotable_suppliers",
    oracle="""
    WITH perss AS (
      SELECT l_suppkey, l_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS supp_qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY l_suppkey, l_partkey
    ),
    perp AS (
      SELECT l_partkey AS pk,
             CAST(SUM(CAST(supp_qty AS DECIMAL(38,6))) AS DOUBLE) AS part_qty
      FROM perss GROUP BY l_partkey
    )
    SELECT DISTINCT s_suppkey, s_name, n_name
    FROM perss
    JOIN perp ON l_partkey = pk
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE 'small%'
      AND supp_qty > CAST(0.5 AS DOUBLE) * part_qty
    """,
)
def tpch_q20_promotable_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who dominated (>50%% share of) a
    promoted part's annual volume. availqty has no driver-schema analog,
    so the excess-stock predicate becomes a share-of-part comparison
    between two stacked aggregates: per-(supplier,part) quantity, then
    per-part totals rolled up FROM the first aggregate (no second scan
    of the fact). The DISTINCT at the end is the semi-join: a supplier
    qualifies once no matter how many parts it dominates."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    perss = li.groupBy("l_suppkey", "l_partkey").agg(
        exact_sum("l_quantity").alias("supp_qty")
    )
    perp = perss.groupBy(F.col("l_partkey").alias("pk")).agg(
        exact_sum("supp_qty").alias("part_qty")
    )
    p = t(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    return (
        perss.join(perp, perss.l_partkey == perp.pk)
        .join(F.broadcast(p), perss.l_partkey == p.p_partkey)
        .join(F.broadcast(s), perss.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .filter(F.col("supp_qty") > F.lit(0.5) * F.col("part_qty"))
        .select("s_suppkey", "s_name", "n_name")
        .distinct()
    )


# -------------------------------------------------------------- Q21 shape


@register(
    "tpch_q21_waiting_suppliers",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM lineitem l1
    JOIN orders   ON o_orderkey = l1.l_orderkey
    JOIN supplier ON s_suppkey  = l1.l_suppkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    """,
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the sole late supplier in multi-supplier finished
    orders (lateness = shipped >60 days after order date, standing in for
    receipt-after-commit). The classic EXISTS / NOT EXISTS double
    self-join is decorrelated into ONE per-order aggregate -- distinct
    suppliers and distinct LATE suppliers per order -- then late lines
    keep rows where n_supp > 1 and the late set is exactly themselves.
    One shuffle of the fact instead of three self-join shuffles; at
    100 TB the self-join formulation is strictly dominated."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    lines = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "is_late",
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
    )
    ord_agg = lines.groupBy(F.col("l_orderkey").alias("agg_orderkey")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    return (
        lines.filter(F.col("is_late"))
        .join(ord_agg, F.col("l_orderkey") == F.col("agg_orderkey"))
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "sql_tpch_q6",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6)))
                AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount >= CAST(0.05 AS DOUBLE)
      AND l_discount <= CAST(0.07 AS DOUBLE)
      AND l_quantity < 24
    """,
)
def sql_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 submitted as a literal SQL STRING through spark.sql() -- the
    SQL-surface twin of tpch_q6_forecast_revenue (DataFrame API). Same
    Catalyst plan, same pushdown, same decimal-exact sum; the pair is
    the evidence that the engine's two query surfaces are the same
    engine. The table is bound as a query argument, so no view outlives
    the call."""
    return spark.sql(
        """
        SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6)))
                    AS DOUBLE) AS revenue
        FROM {lineitem}
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount >= CAST(0.05 AS DOUBLE)
          AND l_discount <= CAST(0.07 AS DOUBLE)
          AND l_quantity < 24
        """,
        lineitem=t(spark, sf_dir, "lineitem"),
    )
