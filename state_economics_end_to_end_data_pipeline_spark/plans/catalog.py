"""Core relational query catalog -- one named query per operator row of
SURVEY.md section 2 (scan/project/filter, reshape, scalar functions, joins,
aggregation, quality checks, serving), expressed over the driver's TPC-H-ish
testdata with a DuckDB oracle each.

Plan-quality notes are embedded per query: what should push down, what
should broadcast, what shuffles -- these are asserted in
tests/test_plans.py, not just eyeballed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.aggregates import exact_avg, exact_cumsum, exact_sum
from ..functions.cleaning import currency_to_double
from ..io.readers import read_parquet_table as t
from ..operators.quality import duplicate_keys
from ..operators.reshape import surrogate_key
from . import register

# ---------------------------------------------------------------- scans P1/P2


@register(
    "scan_project_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net_price
    FROM lineitem
    WHERE l_quantity < 25
      AND l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate <  TIMESTAMP '1996-01-01'
    """,
)
def scan_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/P1/P2 -- projection + predicate straight onto the parquet scan
    (both the filters and the 5-column ReadSchema must appear in the scan
    node; row-level arithmetic is codegen'd)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_quantity") < 25)
            & (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        )
    )


# ------------------------------------------------------------- aggregation A1


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (TPC-H Q1 shape): scan -> filter -> hash-aggregate on a
    low-cardinality key. Partial aggregation makes the shuffle O(groups),
    not O(rows); decimal-exact sums keep the result identical from 2 cores
    to 1000 executors."""
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity").alias("sum_qty"),
            exact_sum("l_extendedprice").alias("sum_base_price"),
            exact_sum(disc_price).alias("sum_disc_price"),
            exact_sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            exact_avg("l_quantity").alias("avg_qty"),
            exact_avg("l_extendedprice").alias("avg_price"),
            exact_avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "groupby_avg",
    oracle="""
    SELECT c_mktsegment,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) / COUNT(c_acctbal) AS avg_balance,
           COUNT(*) AS n_customers
    FROM customer GROUP BY c_mktsegment
    """,
)
def groupby_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 -- the reference's inflation-multiplier group-mean (DAG1:162-164)
    re-expressed over testdata."""
    return (
        t(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            exact_avg("c_acctbal").alias("avg_balance"),
            F.count(F.lit(1)).alias("n_customers"),
        )
    )


# ----------------------------------------------------------------- reshape R1


@register(
    "unpivot_measures",
    oracle="""
    SELECT measure, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM (
      SELECT l_quantity AS value, 'l_quantity' AS measure FROM lineitem
      UNION ALL SELECT l_extendedprice, 'l_extendedprice' FROM lineitem
      UNION ALL SELECT l_discount, 'l_discount' FROM lineitem
      UNION ALL SELECT l_tax, 'l_tax' FROM lineitem
    ) GROUP BY measure
    """,
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 -- wide->long unpivot (native Expand node: no shuffle for the
    reshape itself; the only shuffle is the 4-group aggregate after)."""
    li = t(spark, sf_dir, "lineitem")
    measures = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    long = li.select("l_orderkey", *measures).unpivot(
        ["l_orderkey"], measures, "measure", "value"
    )
    return long.groupBy("measure").agg(
        F.count(F.lit(1)).alias("n"), exact_sum("value").alias("total")
    )


@register(
    "pivot_wide",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(38,6)) END) AS DOUBLE) AS qty_F,
           CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(38,6)) END) AS DOUBLE) AS qty_O
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long->wide pivot with explicit pivot values (avoids the extra
    distinct-values job; single shuffle on the grouping key)."""
    li = t(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(exact_sum("l_quantity"))
    )
    return out.withColumnRenamed("F", "qty_F").withColumnRenamed("O", "qty_O")


@register(
    "surrogate_key_dim",
    oracle="""
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY p_brand, p_type) - 1 AS BIGINT) AS type_id,
           p_brand, p_type
    FROM (SELECT DISTINCT p_brand, p_type FROM part)
    """,
)
def surrogate_key_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 -- deterministic surrogate key over a deduplicated dimension
    (row_number over explicit ordering, never monotonically_increasing_id:
    reproducible across runs and partitionings)."""
    dim = surrogate_key(t(spark, sf_dir, "part"), ["p_brand", "p_type"], "type_id")
    return dim.select(F.col("type_id").cast("bigint"), "p_brand", "p_type")


# ------------------------------------------------------- scalar functions F*


@register(
    "currency_parse",
    oracle="""
    SELECT o_orderkey,
           '$' || format('{:,}', o_custkey) AS raw,
           CAST(regexp_replace('$' || format('{:,}', o_custkey), '[$,]', '', 'g') AS DOUBLE) AS parsed
    FROM orders WHERE o_orderkey <= 2000
    """,
)
def currency_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 -- '$53,990' -> 53990.0 (reference DAG1:88,103), exercised on
    strings synthesized from keys so both engines see identical input."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    raw = F.format_string("$%,d", F.col("o_custkey"))
    return o.select(
        "o_orderkey", raw.alias("raw"), currency_to_double(raw).alias("parsed")
    )


@register(
    "lenient_cast_sentinels",
    oracle="""
    WITH raw AS (
      SELECT CASE WHEN p_size % 7 = 0 THEN '(D)' ELSE CAST(p_size AS VARCHAR) END AS cell
      FROM part
    )
    SELECT COUNT(*) AS n_rows,
           COUNT(CASE WHEN TRY_CAST(cell AS DOUBLE) IS NULL THEN 1 END) AS n_suppressed,
           CAST(SUM(CAST(TRY_CAST(cell AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE) AS sum_parsed
    FROM raw
    """,
)
def lenient_cast_sentinels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 -- lenient numeric cast: disclosure sentinels like '(D)' coerce to
    null (DAG1:103); try_cast matches pandas errors='coerce' and DuckDB
    TRY_CAST exactly."""
    p = t(spark, sf_dir, "part")
    cell = F.when(F.col("p_size") % 7 == 0, F.lit("(D)")).otherwise(
        F.col("p_size").cast("string")
    )
    val = cell.try_cast("double")
    return p.select(val.alias("val")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("val").isNull(), 1)).alias("n_suppressed"),
        exact_sum("val").alias("sum_parsed"),
    )


@register(
    "string_cleaning",
    oracle="""
    SELECT p_partkey,
           LPAD(CAST(p_partkey AS VARCHAR), 10, '0') AS padded_key,
           UPPER(TRIM(p_brand)) AS brand_norm,
           regexp_replace(p_type, ' ', '_', 'g') AS type_slug
    FROM part WHERE p_partkey <= 500
    """,
)
def string_cleaning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3-F7 -- trim/strip/zero-pad family (DAG1:39,98,106,117) as pure
    codegen expressions."""
    p = t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 500)
    return p.select(
        "p_partkey",
        F.lpad(F.col("p_partkey").cast("string"), 10, "0").alias("padded_key"),
        F.upper(F.trim("p_brand")).alias("brand_norm"),
        F.regexp_replace("p_type", " ", "_").alias("type_slug"),
    )


@register(
    "json_extract_regex",
    oracle="""
    SELECT event_type,
           COUNT(TRY_CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT)) AS n_with_k,
           CAST(SUM(CAST(TRY_CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT) AS DECIMAL(38,6))) AS DOUBLE)
             / COUNT(TRY_CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT)) AS avg_k
    FROM events GROUP BY event_type
    """,
)
def json_extract_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction from the events props payload
    (regexp_extract -- JVM-side, no UDF)."""
    ev = t(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k":\s*(\d+)', 1).try_cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.count("k").alias("n_with_k"), exact_avg("k").alias("avg_k"))
    )


@register(
    "variant_json_extract",
    oracle="""
    SELECT event_type,
           COUNT(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
           CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k,
           COUNT(*) - COUNT(TRY_CAST(json_extract_string(props, '$.missing') AS BIGINT))
             AS n_missing
    FROM events GROUP BY event_type
    """,
)
def variant_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction through the Spark 4 VARIANT type:
    ``parse_json`` once into a binary variant, then typed ``variant_get``
    path reads -- the engine-native successor to per-field regex/JSON
    string re-parsing (``json_extract_regex`` is the regex twin). At
    100 TB the difference is parse-once-read-many: a document parsed to
    VARIANT at ingest is stored columnar-shredded and every downstream
    path read skips the string parse entirely. A missing path surfaces
    as NULL (counted per group), not an error; so does an ill-typed
    value: ``try_variant_get`` degrades a failed cast to NULL exactly
    like the oracle's TRY_CAST, where strict ``variant_get`` would throw
    and diverge from the oracle on non-integral payloads."""
    ev = t(spark, sf_dir, "events")
    v = F.parse_json("props")
    staged = ev.select(
        "event_type",
        F.try_variant_get(v, "$.k", "bigint").alias("k"),
        F.try_variant_get(v, "$.missing", "bigint").alias("missing"),
    )
    return staged.groupBy("event_type").agg(
        F.count("k").alias("n_with_k"),
        F.sum("k").cast("bigint").alias("sum_k"),
        (F.count(F.lit(1)) - F.count("missing")).alias("n_missing"),
    )


# --------------------------------------------------------------------- joins


@register(
    "full_outer_join_coalesce",
    oracle="""
    WITH cs AS (
      SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers
      FROM customer WHERE c_acctbal > 9000 GROUP BY 1
    ), ss AS (
      SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers
      FROM supplier WHERE s_acctbal > 9000 GROUP BY 1
    )
    SELECT COALESCE(cs.nationkey, ss.nationkey) AS nationkey,
           COALESCE(cs.n_customers, 0) AS n_customers,
           COALESCE(ss.n_suppliers, 0) AS n_suppliers
    FROM cs FULL OUTER JOIN ss ON cs.nationkey = ss.nationkey
    """,
)
def full_outer_join_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/F10 -- the location-dimension build pattern (DAG1:111-116): full
    outer join of two keyed sides, coalesce across them."""
    cs = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    ss = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    joined = cs.withColumnRenamed("nationkey", "c_nk").join(
        ss.withColumnRenamed("nationkey", "s_nk"),
        F.col("c_nk") == F.col("s_nk"),
        "full_outer",
    )
    return joined.select(
        F.coalesce("c_nk", "s_nk").alias("nationkey"),
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


@register(
    "composite_key_join",
    oracle="""
    WITH dim AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY l_returnflag, l_linestatus) - 1 AS BIGINT) AS flag_status_id,
             l_returnflag, l_linestatus
      FROM (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem)
    )
    SELECT d.flag_status_id, COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN dim d ON l.l_returnflag = d.l_returnflag AND l.l_linestatus = d.l_linestatus
    GROUP BY d.flag_status_id
    """,
)
def composite_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/R2 -- facts resolve a surrogate-keyed dim by composite natural key
    (DAG1:137); dim is tiny so the join broadcasts (no fact shuffle)."""
    li = t(spark, sf_dir, "lineitem")
    dim = surrogate_key(li, ["l_returnflag", "l_linestatus"], "flag_status_id")
    dim = dim.withColumn("flag_status_id", F.col("flag_status_id").cast("bigint"))
    return (
        li.join(F.broadcast(dim), ["l_returnflag", "l_linestatus"], "inner")
        .groupBy("flag_status_id")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
    )


@register(
    "broadcast_dim_join",
    oracle="""
    SELECT p.p_brand, COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 -- fact x dimension name resolution (DAG1:139,157): part is a true
    dimension, so broadcast-hash join -- zero shuffle of the fact side."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "inner")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
    )


@register(
    "join_anti_no_orders",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers_without_orders
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
)
def join_anti_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (NOT EXISTS) -- customers with no orders."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers_without_orders"))
    )


@register(
    "join_semi_with_orders",
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers_with_orders
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
)
def join_semi_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (EXISTS) -- customers with at least one order."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers_with_orders"))
    )


# ------------------------------------------------------------------- set ops


@register(
    "set_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9500
    INTERSECT
    SELECT s_nationkey FROM supplier WHERE s_acctbal > 9500
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection of two keyed sides."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9500)
    s = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 9500)
    return c.select(F.col("c_nationkey").alias("nationkey")).intersect(
        s.select(F.col("s_nationkey").alias("nationkey"))
    )


@register(
    "set_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9500
    EXCEPT
    SELECT s_nationkey FROM supplier WHERE s_acctbal > 9500
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference of two keyed sides."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9500)
    s = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 9500)
    # subtract == EXCEPT DISTINCT (set semantics); exceptAll would keep
    # left-side multiplicity surplus even for keys present on the right.
    return c.select(F.col("c_nationkey").alias("nationkey")).subtract(
        s.select(F.col("s_nationkey").alias("nationkey"))
    )


@register(
    "set_union_distinct",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9900
    UNION
    SELECT s_nationkey FROM supplier WHERE s_acctbal > 9900
    """,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct union of two keyed sides."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9900)
    s = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 9900)
    return (
        c.select(F.col("c_nationkey").alias("nationkey"))
        .union(s.select(F.col("s_nationkey").alias("nationkey")))
        .dropDuplicates()
    )


# -------------------------------------------------------- dedup / quality A2+


@register(
    "dedup_exact",
    oracle="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 -- all-column dropDuplicates (the reference's most-used operator,
    15 call sites). Partial-aggregate dedup: shuffle O(distinct)."""
    return t(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").dropDuplicates()


@register(
    "dedup_subset_keep_latest",
    oracle="""
    SELECT o_custkey, o_orderkey AS latest_orderkey, o_totalprice AS latest_totalprice
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def dedup_subset_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 subset-dedup made deterministic: keep the latest row per key via
    row_number over an explicit total order (pandas drop_duplicates(subset)
    keeps arbitrary rows; at scale that's non-reproducible, so we pin it)."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.col("o_totalprice").alias("latest_totalprice"),
        )
    )


@register(
    "duplicate_key_count",
    oracle="""
    SELECT o_custkey, COUNT(*) AS cnt FROM orders
    GROUP BY o_custkey HAVING COUNT(*) > 1
    """,
)
def duplicate_key_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 -- duplicate-key detection with multiplicities (DAG1:74)."""
    return duplicate_keys(t(spark, sf_dir, "orders"), ["o_custkey"])


@register(
    "pk_check_violations",
    oracle="""
    SELECT
      (SELECT COUNT(*) FROM (
         SELECT l_orderkey, l_linenumber FROM lineitem
         GROUP BY 1, 2 HAVING COUNT(*) > 1)) AS n_dup_keys,
      (SELECT COUNT(*) FROM lineitem
        WHERE l_orderkey IS NULL OR l_linenumber IS NULL) AS n_null_key_rows
    """,
)
def pk_check_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 -- the reference's check_primary_key (DAG1:71-79) as a one-row
    violation summary over the lineitem PK."""
    li = t(spark, sf_dir, "lineitem")
    dups = duplicate_keys(li, ["l_orderkey", "l_linenumber"]).agg(
        F.count(F.lit(1)).alias("n_dup_keys")
    )
    nulls = li.agg(
        F.count(
            F.when(F.col("l_orderkey").isNull() | F.col("l_linenumber").isNull(), 1)
        ).alias("n_null_key_rows")
    )
    return dups.crossJoin(nulls)


@register(
    "fk_check_orphans",
    oracle="""
    SELECT 'lineitem->orders' AS fk_edge,
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE l.l_orderkey IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS n_orphans
    UNION ALL
    SELECT 'orders->customer',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE o.o_custkey IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'customer->nation',
           CAST((SELECT COUNT(*) FROM customer c
                 WHERE c.c_nationkey IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
    UNION ALL
    SELECT 'supplier->nation',
           CAST((SELECT COUNT(*) FROM supplier s
                 WHERE s.s_nationkey IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = s.s_nationkey)) AS BIGINT)
    """,
)
def fk_check_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity sweep over the star schema's FK edges --
    the natural extension of the reference's PK validation (DAG1:71-79)
    to the relationships its ERD declares. Each edge is a left-anti
    equi-join (broadcast when the parent is dim-sized) counted into a
    one-row-per-edge report; a consistent warehouse reports all zeros,
    and any non-zero pinpoints the broken edge."""
    from ..operators.quality import fk_orphans

    edges = [
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ]
    parts = [
        fk_orphans(
            t(spark, sf_dir, child), t(spark, sf_dir, parent), ck, pk
        ).agg(
            F.lit(name).alias("fk_edge"),
            F.count(F.lit(1)).alias("n_orphans"),
        )
        for name, child, ck, parent, pk in edges
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_QUARANTINE_GOOD = [(i, 10.5 * i, f"row{i}") for i in range(1, 9)]
_QUARANTINE_BAD = [
    "BAD,1.0,not-an-id",          # id fails the int cast
    "9,NOT_A_NUMBER,bad-amount",  # amount fails the double cast
    "x,y,z",                      # nothing casts
]


@register(
    "csv_quarantine_scan",
    oracle=f"""
    SELECT CAST({len(_QUARANTINE_GOOD)} AS BIGINT) AS good_rows,
           CAST({sum(i for i, _, _ in _QUARANTINE_GOOD)} AS BIGINT) AS good_id_sum,
           CAST({len(_QUARANTINE_BAD)} AS BIGINT) AS quarantined_rows,
           md5('{chr(10).join(sorted(_QUARANTINE_BAD))}') AS quarantined_md5
    """,
)
def csv_quarantine_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-tier io: malformed-row quarantine split (io.readers.
    read_csv_with_quarantine). A deterministic CSV fixture -- the literal
    good rows and malformed lines above, written driver-side, no Spark
    job at build -- is scanned ONCE in PERMISSIVE mode and split; the
    result proves all three quarantine contracts at once: every
    well-formed row survives with the declared schema (count + id
    checksum), every malformed row is captured (count), and the captured
    evidence is byte-identical to the offending input lines (md5 over the
    sorted raw lines -- the oracle computes the same md5 from the same
    literals in DuckDB, so a reader that trimmed or re-assembled lines
    would mismatch). The reference's CSV path has only FAILFAST-or-silent
    semantics; this is the keep-going-AND-keep-evidence third option a
    100 TB ingest needs."""
    import os
    import tempfile

    from pyspark.sql import types as T

    from ..io.readers import read_csv_with_quarantine

    path = os.path.join(tempfile.gettempdir(), "spark_graft_quarantine_fixture.csv")
    lines = ["id,amount,label"]
    lines += [f"{i},{a},{lab}" for i, a, lab in _QUARANTINE_GOOD]
    lines += _QUARANTINE_BAD
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")

    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("amount", T.DoubleType()),
            T.StructField("label", T.StringType()),
        ]
    )
    good, quarantined = read_csv_with_quarantine(spark, path, schema)
    g = good.agg(
        F.count(F.lit(1)).alias("good_rows"),
        F.sum("id").cast("bigint").alias("good_id_sum"),
    )
    q = quarantined.agg(
        F.count(F.lit(1)).alias("quarantined_rows"),
        F.md5(
            F.concat_ws("\n", F.array_sort(F.collect_list("raw_line")))
        ).alias("quarantined_md5"),
    )
    return g.crossJoin(q)  # two one-row frames


# ------------------------------------------------------------ windows / misc


@register(
    "window_running_spend",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS order_seq
    FROM orders WHERE o_custkey <= 200
    """,
)
def window_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions: running sum + sequence number per customer over an
    explicit total order (decimal-exact so the cumsum is engine-identical)."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 200)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_seq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        exact_cumsum("o_totalprice", w).alias("running_spend"),
        F.row_number().over(w_seq).cast("bigint").alias("order_seq"),
    )


@register(
    "rollup_counts",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP totals (subtotal + grand-total rows)."""
    return (
        t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@register(
    "limit_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderstatus
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2 -- the serving surface's LIMIT query, made deterministic with a
    total order (executes as TakeOrderedAndProject: no global sort)."""
    return (
        t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
    )


@register(
    "catalog_columns",
    oracle="""
    SELECT column_name FROM information_schema.columns
    WHERE table_name = 'lineitem'
    """,
)
def catalog_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1/V3 -- catalog introspection: column names of a served table."""
    li = t(spark, sf_dir, "lineitem")
    return spark.createDataFrame([(c,) for c in li.columns], ["column_name"])


@register(
    "events_hourly",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed aggregation over the events table (the batch twin of
    the streaming tumbling-window query in streaming/)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value").alias("total_value"),
        )
    )


@register(
    "profile_numeric",
    oracle="""
    SELECT 'c_acctbal' AS column_name, COUNT(*) AS n,
           COUNT(CASE WHEN c_acctbal IS NULL THEN 1 END) AS n_null,
           COUNT(DISTINCT c_acctbal) AS n_distinct,
           MIN(c_acctbal) AS min_value, MAX(c_acctbal) AS max_value,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) / COUNT(c_acctbal) AS mean_value
    FROM customer
    UNION ALL
    SELECT 'o_totalprice', COUNT(*),
           COUNT(CASE WHEN o_totalprice IS NULL THEN 1 END),
           COUNT(DISTINCT o_totalprice),
           MIN(o_totalprice), MAX(o_totalprice),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(o_totalprice)
    FROM orders
    """,
)
def profile_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Section 2.9 -- the profiling operator's numeric-stats core
    (count/nulls/distinct/min/max/mean) in long format."""
    from ..operators.profile import numeric_profile

    c = numeric_profile(t(spark, sf_dir, "customer"), ["c_acctbal"])
    o = numeric_profile(t(spark, sf_dir, "orders"), ["o_totalprice"])
    return c.union(o)


# ------------------------------------------------- multidim agg / windows


@register(
    "cube_counts",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def cube_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two keys -- Expand node fans each row into 4 grouping
    combinations before one aggregate; no extra shuffles vs plain groupBy."""
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), exact_sum("o_totalprice").alias("total"))
    )


@register(
    "grouping_sets_mix",
    oracle="""
    SELECT n_regionkey, n_name, GROUPING(n_regionkey, n_name) AS gid, COUNT(*) AS n
    FROM nation GROUP BY GROUPING SETS ((n_regionkey), (n_name), ())
    """,
)
def grouping_sets_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with the grouping-id bitmask distinguishing
    which aggregation level each output row came from."""
    return spark.sql(
        """
        SELECT n_regionkey, n_name, GROUPING_ID(n_regionkey, n_name) AS gid, COUNT(*) AS n
        FROM {nation} GROUP BY GROUPING SETS ((n_regionkey), (n_name), ())
        """,
        nation=t(spark, sf_dir, "nation"),
    )


@register(
    "topk_per_group",
    oracle="""
    SELECT * FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rk
      FROM customer
    ) WHERE rk <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via ranked window (one shuffle on the group key;
    AQE handles skewed groups). Tie-broken on the unique key so the
    result is total-order deterministic."""
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        t(spark, sf_dir, "customer")
        .select(
            "c_mktsegment", "c_custkey", "c_acctbal",
            F.row_number().over(w).cast("bigint").alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


@register(
    "window_lag_gaps",
    oracle="""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT user_id, COUNT(gap_us) AS n_gaps,
           CAST(SUM(gap_us) AS BIGINT) AS total_gap_us, MAX(gap_us) AS max_gap_us
    FROM g GROUP BY user_id
    """,
)
def window_lag_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() inter-event gaps per user (microsecond integers: exact),
    rolled up to per-user gap statistics."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gap = us - F.lag(us).over(w)
    return (
        ev.select("user_id", gap.alias("gap_us"))
        .groupBy("user_id")
        .agg(
            F.count("gap_us").alias("n_gaps"),
            F.sum("gap_us").alias("total_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
        )
    )


@register(
    "quantiles_grouped",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS q25,
           quantile_cont(l_quantity, 0.5) AS q50,
           quantile_cont(l_quantity, 0.75) AS q75
    FROM lineitem GROUP BY l_returnflag
    """,
)
def quantiles_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-PARITY VARIANT: exact interpolated quantiles (percentile
    buffers every group value in executor memory -- an OOM at 100 TB).
    It exists so the cross-engine check is bit-exact; the production
    default is quantiles_grouped_approx (GK sketch, bounded memory),
    property-tested against this one in tests/test_robust_stats.py."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.25)).alias("q25"),
        F.percentile("l_quantity", F.lit(0.5)).alias("q50"),
        F.percentile("l_quantity", F.lit(0.75)).alias("q75"),
    )


@register(
    "quantiles_grouped_approx",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n,
           TRUE AS q25_ok, TRUE AS q50_ok, TRUE AS q75_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def quantiles_grouped_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION quantiles: percentile_approx (Greenwald-Khanna sketch,
    bounded memory per group -- the only shape that survives 100 TB).
    The sketch guarantees rank error <= n/accuracy, and that property is
    itself exactly checkable at any scale with two COUNTs per cut -- no
    exact percentile anywhere, even in the verification: each returned
    cut q must satisfy count(x < q)/n <= p + eps and
    count(x <= q)/n >= p - eps (two-sided to be tie-safe). The oracle
    asserts the booleans."""
    li = t(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    cuts = li.groupBy("l_returnflag").agg(
        F.percentile_approx(
            "l_quantity",
            F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)),
            F.lit(10000),
        ).alias("qs")
    )
    q25, q50, q75 = (F.col("qs")[i] for i in range(3))
    joined = li.join(
        F.broadcast(cuts.select("l_returnflag", q25.alias("q25"),
                                q50.alias("q50"), q75.alias("q75"))),
        "l_returnflag",
    )
    x = F.col("l_quantity")
    agg = joined.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            c
            for p, qc in (("25", "q25"), ("50", "q50"), ("75", "q75"))
            for c in (
                F.count(F.when(x < F.col(qc), 1)).alias(f"lt{p}"),
                F.count(F.when(x <= F.col(qc), 1)).alias(f"le{p}"),
            )
        ],
    )
    eps = 0.005
    def ok(p: float, tag: str):  # noqa: E306
        n = F.col("n").cast("double")
        return (
            (F.col(f"lt{tag}") / n <= F.lit(p + eps))
            & (F.col(f"le{tag}") / n >= F.lit(p - eps))
        ).alias(f"q{tag}_ok")

    return agg.select(
        "l_returnflag", "n", ok(0.25, "25"), ok(0.5, "50"), ok(0.75, "75")
    )


@register(
    "conditional_agg",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished,
           CAST(SUM(CASE WHEN o_totalprice > 200000
                         THEN CAST(o_totalprice AS DECIMAL(38,6)) END) AS DOUBLE) AS big_total
    FROM orders GROUP BY o_orderpriority
    """,
)
def conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (filtered counts/sums in one pass -- never
    N passes or self-joins)."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
        F.sum(
            F.when(
                F.col("o_totalprice") > 200000,
                F.col("o_totalprice").cast("decimal(38,6)"),
            )
        ).cast("double").alias("big_total"),
    )


@register(
    "date_parts_agg",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(quarter(o_orderdate) AS INT) AS order_quarter,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM orders GROUP BY 1, 2
    """,
)
def date_parts_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar rollup from timestamp parts (year/quarter extraction is
    codegen'd; grouping key cardinality is bounded by the calendar)."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.quarter("o_orderdate").cast("int").alias("order_quarter"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"), exact_sum("o_totalprice").alias("total"))
    )


@register(
    "collect_sorted_list",
    oracle="""
    SELECT r_regionkey,
           array_to_string(list_sort(list(DISTINCT n_name)), '|') AS nations
    FROM region JOIN nation ON n_regionkey = r_regionkey
    GROUP BY r_regionkey
    """,
)
def collect_sorted_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic array aggregation: collect_set + array_sort (plain
    collect_list order is partition-dependent -- never publish it).
    Emitted as a '|'-joined string: the harness canonicalizes results via
    pandas sort+hash, which cannot hash raw list cells -- the array-typed
    variant of this plan is exercised in tests/test_catalog_golden.py."""
    r = t(spark, sf_dir, "region")
    n = t(spark, sf_dir, "nation")
    return (
        r.join(n, n.n_regionkey == r.r_regionkey)
        .groupBy("r_regionkey")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("n_name")), "|"
            ).alias("nations")
        )
    )


# --------------------------------------------------- non-equi / as-of joins


@register(
    "range_join_bands",
    oracle="""
    WITH bands AS (
      SELECT 0 AS band_id, 0.0 AS lo, 1000.0 AS hi
      UNION ALL SELECT 1, 1000.0, 1400.0
      UNION ALL SELECT 2, 1400.0, 2000.0
    )
    SELECT band_id, COUNT(*) AS n_parts,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(38,6))) AS DOUBLE) AS total_price
    FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
    GROUP BY band_id
    """,
)
def range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: facts against a tiny broadcast interval dim --
    executes as BroadcastNestedLoopJoin over 3 rows, never a cartesian
    against another fact. At scale, bucket the fact by floor(value) first
    if bands proliferate."""
    p = t(spark, sf_dir, "part")
    bands = p.sparkSession.createDataFrame(
        [(0, 0.0, 1000.0), (1, 1000.0, 1400.0), (2, 1400.0, 2000.0)],
        ["band_id", "lo", "hi"],
    )
    cond = (F.col("p_retailprice") >= F.col("lo")) & (F.col("p_retailprice") < F.col("hi"))
    return (
        p.join(F.broadcast(bands), cond)
        .groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            exact_sum("p_retailprice").alias("total_price"),
        )
    )


@register(
    "asof_join_events",
    oracle="""
    WITH u AS (
      SELECT user_id, ts, event_id, event_type,
             max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_us
      FROM events
    )
    SELECT event_id, user_id, last_click_us,
           epoch_us(ts) - last_click_us AS us_since_click
    FROM u WHERE event_type = 'purchase'
    """,
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join expressed Spark-first: instead of a per-row backward
    probe (the classic kdb/pandas merge_asof), union the two event roles
    and carry the last 'click' timestamp forward with a running-max window
    -- one shuffle on user_id, no range join, no skew blowup. Emits, per
    purchase, the microseconds since that user's previous click."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.unix_micros("ts"))
    ).over(w)
    return (
        ev.select(
            "event_id", "user_id", "event_type", "ts",
            last_click.alias("last_click_us"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id", "user_id", "last_click_us",
            (F.unix_micros("ts") - F.col("last_click_us")).alias("us_since_click"),
        )
    )


# ------------------------------------------------------------------ sketches


@register(
    "sketch_distinct_approx",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS exact_orders,
           TRUE AS distinct_within_5pct,
           TRUE AS median_within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def sketch_distinct_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates for the 100 TB path (HLL++ approx distinct,
    approx percentiles). Sketch outputs are algorithm-specific, so the
    cross-engine check is a BOUNDS check: emit the exact value plus
    booleans asserting the sketch landed within 5% of it; the oracle
    states the exact value and TRUE. (The exact aggregates here exist to
    judge the sketches -- the production path at scale is the sketch
    alone.)"""
    li = t(spark, sf_dir, "lineitem")
    # countDistinct rides the expand/two-phase distinct path; the sketch
    # and percentile aggregates carry imperative buffers. Fusing them into
    # ONE aggregate forces every expanded row through the object/sort
    # aggregate (measured 60s vs 2s at sf0.1) -- so run them as two
    # O(groups) aggregations and join the tiny results.
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders")
    )
    sketches = li.groupBy("l_returnflag").agg(
        # rsd=0.01: the 5% assertion below sits at ~5 sigma -- the default
        # rsd=0.05 sketch genuinely misses 5% at 1 sigma (observed at sf0.01).
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
        F.percentile("l_quantity", F.lit(0.5)).alias("exact_median"),
        F.percentile_approx("l_quantity", F.lit(0.5), F.lit(10000)).alias(
            "approx_median"
        ),
    )
    agg = exact.join(sketches, "l_returnflag")
    return agg.select(
        "l_returnflag",
        "exact_orders",
        (
            F.abs(F.col("approx_orders") - F.col("exact_orders"))
            <= 0.05 * F.col("exact_orders")
        ).alias("distinct_within_5pct"),
        (
            F.abs(F.col("approx_median") - F.col("exact_median"))
            <= 0.05 * F.col("exact_median")
        ).alias("median_within_5pct"),
    )


@register(
    "profile_freq_values",
    oracle="""
    SELECT o_orderpriority AS value, COUNT(*) AS freq
    FROM orders GROUP BY 1
    ORDER BY freq DESC, value ASC LIMIT 3
    """,
)
def profile_freq_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Section 2.9 -- frequent-values profile (top-k by count with a
    deterministic tie-break; TakeOrdered, no global sort)."""
    from ..operators.profile import frequent_values

    out = frequent_values(t(spark, sf_dir, "orders"), "o_orderpriority", k=3)
    return out.withColumnRenamed("o_orderpriority", "value")


@register(
    "profile_histogram",
    oracle="""
    WITH b AS (SELECT MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi FROM customer)
    SELECT CAST(least(floor((c_acctbal - lo) / ((hi - lo) / 20)), 19) AS INT) AS bucket,
           COUNT(*) AS n
    FROM customer, b WHERE c_acctbal IS NOT NULL
    GROUP BY 1 ORDER BY 1
    """,
)
def profile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Section 2.9 -- equi-width histogram (min/max pass, then one
    bucket-index aggregate)."""
    from ..operators.profile import histogram

    return histogram(t(spark, sf_dir, "customer"), "c_acctbal", n_buckets=20)


@register(
    "skew_salted_agg",
    oracle="""
    SELECT l_suppkey, COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM lineitem GROUP BY l_suppkey
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation for skewed keys: phase 1 aggregates on
    (key, salt) -- hot keys split across 16 reducers -- phase 2 merges the
    partials per key. Result is provably identical to the direct groupBy
    (the oracle) because count/decimal-sum are associative. AQE's skew
    handling covers joins; this is the explicit pattern for aggregations
    when one key dominates."""
    li = t(spark, sf_dir, "lineitem")
    salted = li.withColumn("__salt", F.pmod(F.col("l_orderkey"), F.lit(16)))
    partial = salted.groupBy("l_suppkey", "__salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("l_extendedprice").cast("decimal(38,6)")).alias("psum"),
    )
    return partial.groupBy("l_suppkey").agg(
        F.sum("pn").alias("n"), F.sum("psum").cast("double").alias("total")
    )


@register(
    "grouped_minmax_norm",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN mx = mn THEN 0.5 ELSE (l_quantity - mn) / (mx - mn) END AS qty_norm
    FROM (
      SELECT l_orderkey, l_linenumber, l_quantity,
             MIN(l_quantity) OVER (PARTITION BY l_orderkey) AS mn,
             MAX(l_quantity) OVER (PARTITION BY l_orderkey) AS mx
      FROM lineitem WHERE l_orderkey <= 600
    )
    """,
)
def grouped_minmax_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map Python boundary (applyInPandas, the batch twin of the
    streaming stateful operator): per-order min-max normalization in
    pandas. Min-max (not z-score) so the arithmetic is reproducible in
    any engine -- one subtraction and one division per value."""
    import pandas as pd

    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 600)

    def norm(pdf: pd.DataFrame) -> pd.DataFrame:
        mn, mx = pdf["l_quantity"].min(), pdf["l_quantity"].max()
        qn = (
            pd.Series(0.5, index=pdf.index)
            if mx == mn
            else (pdf["l_quantity"] - mn) / (mx - mn)
        )
        return pd.DataFrame(
            {
                "l_orderkey": pdf["l_orderkey"],
                "l_linenumber": pdf["l_linenumber"],
                "qty_norm": qn,
            }
        )

    return li.select("l_orderkey", "l_linenumber", "l_quantity").groupBy(
        "l_orderkey"
    ).applyInPandas(norm, schema="l_orderkey long, l_linenumber int, qty_norm double")


@register(
    "grouped_minmax_norm_window",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN mx = mn THEN 0.5 ELSE (l_quantity - mn) / (mx - mn) END AS qty_norm
    FROM (
      SELECT l_orderkey, l_linenumber, l_quantity,
             MIN(l_quantity) OVER (PARTITION BY l_orderkey) AS mn,
             MAX(l_quantity) OVER (PARTITION BY l_orderkey) AS mx
      FROM lineitem WHERE l_orderkey <= 600
    )
    """,
)
def grouped_minmax_norm_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION twin of grouped_minmax_norm: per-group min-max via
    window functions -- pure JVM, whole-stage-codegen'd, one shuffle on
    the group key, no Arrow boundary, no Python workers. Same answer as
    the applyInPandas variant (which exists to exercise the grouped-map
    API); this is the plan to run at 100 TB."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 600)
    w = Window.partitionBy("l_orderkey")
    mn, mx = F.min("l_quantity").over(w), F.max("l_quantity").over(w)
    qty_norm = F.when(mx == mn, F.lit(0.5)).otherwise(
        (F.col("l_quantity") - mn) / (mx - mn)
    )
    return li.select(
        "l_orderkey", "l_linenumber", qty_norm.cast("double").alias("qty_norm")
    )


# ------------------------------------------------ multi-join workloads (TPC-H)


@register(
    "tpch_q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1996-03-15'
      AND l_shipdate > TIMESTAMP '1996-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> 3-way join -> agg -> top-k.
    customer(filtered) broadcasts into orders, orders-side result joins
    lineitem on the shuffle key both already share; top-k is
    TakeOrdered, never a global sort."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1996-03-15").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .select(
            "l_orderkey", "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "tpch_q5_local_supplier",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with two tiny dims (region/nation
    broadcast), supplier broadcast, and the co-located orders-lineitem
    join on orderkey -- exactly one fact-sized shuffle pair."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


# --------------------------------------------------- quality / upsert patterns


@register(
    "quality_expectations",
    oracle="""
    SELECT 'l_quantity_positive' AS rule,
           COUNT(CASE WHEN l_quantity <= 0 THEN 1 END) AS n_violations FROM lineitem
    UNION ALL
    SELECT 'l_orderkey_not_null',
           COUNT(CASE WHEN l_orderkey IS NULL THEN 1 END) FROM lineitem
    UNION ALL
    SELECT 'l_discount_in_range',
           COUNT(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END) FROM lineitem
    UNION ALL
    SELECT 'l_returnflag_in_set',
           COUNT(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R') THEN 1 END) FROM lineitem
    """,
)
def quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite in ONE scan: every rule is a
    conditional count folded into a single aggregate, then reshaped to
    long (rule, n_violations) -- N rules never cost N passes."""
    li = t(spark, sf_dir, "lineitem")
    rules = {
        "l_quantity_positive": F.col("l_quantity") <= 0,
        "l_orderkey_not_null": F.col("l_orderkey").isNull(),
        "l_discount_in_range": (F.col("l_discount") < 0) | (F.col("l_discount") > 1),
        "l_returnflag_in_set": ~F.col("l_returnflag").isin("A", "N", "R"),
    }
    wide = li.agg(
        *[F.count(F.when(cond, 1)).alias(name) for name, cond in rules.items()]
    )
    rows = F.array(
        *[
            F.struct(F.lit(name).alias("rule"), F.col(name).alias("n_violations"))
            for name in rules
        ]
    )
    return wide.select(F.explode(rows).alias("s")).select("s.*")


@register(
    "upsert_scd1",
    oracle="""
    WITH updates AS (
      SELECT s_suppkey, s_name, CAST(s_acctbal + 1000 AS DOUBLE) AS s_acctbal
      FROM supplier WHERE s_suppkey % 10 = 0
    ), inserts AS (
      SELECT s_suppkey + 1000000 AS s_suppkey, s_name, s_acctbal
      FROM supplier WHERE s_suppkey % 25 = 0
    ), changes AS (SELECT * FROM updates UNION ALL SELECT * FROM inserts)
    SELECT COALESCE(c.s_suppkey, t.s_suppkey) AS s_suppkey,
           COALESCE(c.s_name, t.s_name) AS s_name,
           COALESCE(c.s_acctbal, t.s_acctbal) AS s_acctbal
    FROM (SELECT s_suppkey, s_name, s_acctbal FROM supplier) t
    FULL OUTER JOIN changes c ON t.s_suppkey = c.s_suppkey
    """,
)
def upsert_scd1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert (SCD type 1) without a table format: full outer join
    of target and changes, change side wins per column. On Delta/Iceberg
    this is MERGE INTO; the join shape (and its cost) is identical."""
    tgt = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    updates = (
        tgt.filter(F.col("s_suppkey") % 10 == 0)
        .withColumn("s_acctbal", (F.col("s_acctbal") + 1000).cast("double"))
    )
    inserts = tgt.filter(F.col("s_suppkey") % 25 == 0).withColumn(
        "s_suppkey", F.col("s_suppkey") + 1000000
    )
    chg = updates.union(inserts)
    joined = tgt.alias("t").join(
        chg.alias("c"), F.col("t.s_suppkey") == F.col("c.s_suppkey"), "full_outer"
    )
    return joined.select(
        F.coalesce("c.s_suppkey", "t.s_suppkey").alias("s_suppkey"),
        F.coalesce("c.s_name", "t.s_name").alias("s_name"),
        F.coalesce("c.s_acctbal", "t.s_acctbal").alias("s_acctbal"),
    )


@register(
    "profile_correlation",
    oracle="""
    WITH s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sxy
      FROM lineitem
    )
    SELECT 'l_quantity~l_extendedprice' AS pair,
           (n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS pearson_r,
           (n * sxy - sx * sy) / (CAST(n AS DOUBLE) * n) AS covar_pop
    FROM s
    """,
)
def profile_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Section 2.9 -- correlation via decimal-exact sufficient statistics
    (n, Σx, Σy, Σx², Σy², Σxy) folded in ONE pass, then the Pearson
    formula in identical double arithmetic on both engines. Built-in
    corr()/covar differ across engines in the last ulps; sufficient
    statistics are associative, shuffle O(1), and engine-portable."""
    li = t(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        exact_sum(x).alias("sx"),
        exact_sum(y).alias("sy"),
        exact_sum(x * x).alias("sxx"),
        exact_sum(y * y).alias("syy"),
        exact_sum(x * y).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return s.select(
        F.lit("l_quantity~l_extendedprice").alias("pair"),
        ((n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))).alias(
            "pearson_r"
        ),
        ((n * sxy - sx * sy) / (n.cast("double") * n)).alias("covar_pop"),
    )


@register(
    "sql_correlated_scalar",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal
    FROM customer c
    WHERE c_acctbal > (
      SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) * 1.8
      FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey
    )
    """,
)
def sql_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-surface parity: correlated scalar subquery (Catalyst decorrelates
    it into an aggregate + join -- never a per-row re-execution). Issued
    through spark.sql to exercise the SQL front end, not the DataFrame DSL."""
    return spark.sql(
        """
        SELECT c_custkey, c_nationkey, c_acctbal
        FROM {customer} c
        WHERE c_acctbal > (
          SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) * 1.8
          FROM {customer} c2 WHERE c2.c_nationkey = c.c_nationkey
        )
        """,
        customer=t(spark, sf_dir, "customer"),
    )


@register(
    "set_except_all",
    oracle="""
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
    EXCEPT ALL
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics EXCEPT ALL (multiplicity-aware difference -- the
    exceptAll counterpart to the set-semantics subtract)."""
    o = t(spark, sf_dir, "orders")
    left = o.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    right = o.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    return left.exceptAll(right)


@register(
    "window_ntile_deciles",
    oracle="""
    SELECT decile, COUNT(*) AS n,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
    FROM (
      SELECT o_totalprice,
             NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders
    ) GROUP BY decile
    """,
)
def window_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE decile assignment over a total order (unique-key tie-break),
    rolled up to per-decile bounds. The un-partitioned window is the one
    shape that single-threads -- acceptable here because the rollup keeps
    it out of hot paths; the CODED production twin is
    ``window_ntile_deciles_approx`` below (percentile cutpoints + a
    broadcast bucket expression -- zero windows)."""
    o = t(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        o.select("o_totalprice", F.ntile(10).over(w).alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


@register(
    "window_ntile_deciles_approx",
    oracle="""
    SELECT CAST(p AS DOUBLE) / 10 AS p, CAST(n AS BIGINT) AS n,
           TRUE AS lt_ok, TRUE AS le_ok, TRUE AS buckets_ok
    FROM (SELECT COUNT(*) AS n FROM orders)
    CROSS JOIN (SELECT unnest(range(1, 10)) AS p)
    """,
)
def window_ntile_deciles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION decile bucketing -- the coded 100 TB twin that
    ``window_ntile_deciles``'s docstring promises: NO global window.
    One percentile_approx aggregate (GK sketch) yields the nine decile
    cutpoints, broadcast back as a 1-row relation; each order buckets
    via a narrow sum-of-comparisons expression (ties at a cutpoint fall
    to the lower bucket, deterministically). Two passes, both fully
    partial-agg combinable; the plan contains zero WindowExec nodes
    (pinned in tests/test_scale_patterns.py).

    Oracle, in the quantiles_grouped_approx style: value-bucketing on
    tied data cannot reproduce NTILE's forced-equal buckets, so the
    check asserts the sketch's actual guarantee per cutpoint p --
    count(x < q_p)/n <= p + eps and count(x <= q_p)/n >= p - eps
    (eps = 0.005 + 1/n vs the sketch's 1e-4) -- plus bucket invariants
    (every row bucketed into 1..10, cutpoints non-decreasing)."""
    o = t(spark, sf_dir, "orders").select("o_totalprice")
    ps = [i / 10 for i in range(1, 10)]
    cuts = o.agg(
        F.percentile_approx(
            "o_totalprice", F.array(*[F.lit(p) for p in ps]), F.lit(10000)
        ).alias("cs")
    )
    x = F.col("o_totalprice")
    decile = F.lit(1)
    for i in range(9):
        decile = decile + F.when(x > F.col("cs")[i], 1).otherwise(0)
    staged = o.crossJoin(F.broadcast(cuts)).withColumn(
        "decile", decile.cast("int")
    )
    checks = staged.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("decile").alias("n_bucketed"),
        F.min("decile").alias("dmin"),
        F.max("decile").alias("dmax"),
        F.first(F.col("cs") == F.sort_array(F.col("cs"))).alias("cs_sorted"),
        *[
            c
            for i in range(9)
            for c in (
                F.count(F.when(x < F.col("cs")[i], 1)).alias(f"lt{i}"),
                F.count(F.when(x <= F.col("cs")[i], 1)).alias(f"le{i}"),
            )
        ],
    )
    nd = F.col("n").cast("double")
    eps = F.lit(0.005) + F.lit(1.0) / nd
    buckets_ok = (
        (F.col("n_bucketed") == F.col("n"))
        & (F.col("dmin") >= 1)
        & (F.col("dmax") <= 10)
        & F.col("cs_sorted")
    )
    staged2 = checks.select(
        F.col("n").cast("bigint").alias("n"),
        buckets_ok.alias("buckets_ok"),
        *[
            c
            for i, p in enumerate(ps)
            for c in (
                (F.col(f"lt{i}") / nd <= F.lit(p) + eps).alias(f"lt{i}_ok"),
                (F.col(f"le{i}") / nd >= F.lit(p) - eps).alias(f"le{i}_ok"),
            )
        ],
    )
    stack_args = ", ".join(
        f"cast({p!r} as double), lt{i}_ok, le{i}_ok" for i, p in enumerate(ps)
    )
    return staged2.select(
        F.expr(f"stack(9, {stack_args}) AS (p, lt_ok, le_ok)"),
        "n",
        "buckets_ok",
    ).select("p", "n", "lt_ok", "le_ok", "buckets_ok")


@register(
    "rollup_hierarchy_daily",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def rollup_hierarchy_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical rollup: daily aggregates derived from
    the HOURLY partials, not the raw events -- the continuous-aggregate
    pattern (coarser tiers cost O(finer tier), not O(raw); correct
    because count/decimal-sum are associative, which the oracle proves by
    aggregating raw directly)."""
    ev = t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(38,6)")).alias("dec_value"),
    )
    return (
        hourly.groupBy(
            F.date_format(F.date_trunc("day", "hour"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("dec_value").cast("double").alias("total_value"),
        )
    )


@register(
    "null_handling_fillna",
    oracle="""
    WITH holes AS (
      SELECT s_suppkey,
             CASE WHEN s_suppkey % 7 = 0 THEN NULL ELSE s_acctbal END AS bal,
             CASE WHEN s_suppkey % 5 = 0 THEN NULL ELSE s_name END AS name
      FROM supplier
    )
    SELECT COUNT(*) AS n_total,
           COUNT(CASE WHEN bal IS NULL THEN 1 END) AS n_null_bal,
           COUNT(CASE WHEN name IS NULL THEN 1 END) AS n_null_name,
           CAST(SUM(CAST(COALESCE(bal, 0.0) AS DECIMAL(38,6))) AS DOUBLE) AS sum_filled,
           COUNT(CASE WHEN bal IS NOT NULL AND name IS NOT NULL THEN 1 END) AS n_complete
    FROM holes
    """,
)
def null_handling_fillna(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fillna/dropna family over synthesized holes: null counts, a
    fill-with-default aggregate, and the dropna('any') survivor count --
    all in one scan."""
    s = t(spark, sf_dir, "supplier")
    holes = s.select(
        "s_suppkey",
        F.when(F.col("s_suppkey") % 7 == 0, None).otherwise(F.col("s_acctbal")).alias("bal"),
        F.when(F.col("s_suppkey") % 5 == 0, None).otherwise(F.col("s_name")).alias("name"),
    )
    filled = holes.fillna({"bal": 0.0})
    complete = holes.dropna(how="any", subset=["bal", "name"])
    return (
        holes.agg(
            F.count(F.lit(1)).alias("n_total"),
            F.count(F.when(F.col("bal").isNull(), 1)).alias("n_null_bal"),
            F.count(F.when(F.col("name").isNull(), 1)).alias("n_null_name"),
        )
        .crossJoin(filled.agg(exact_sum("bal").alias("sum_filled")))
        .crossJoin(complete.agg(F.count(F.lit(1)).alias("n_complete")))
    )


@register(
    "fuzzy_name_match",
    oracle="""
    WITH typo AS (
      SELECT s_suppkey AS typo_key,
             substr(s_name, 1, 4) || substr(s_name, 6) AS typo_name,
             substr(s_name, 1, 1) AS blk
      FROM supplier WHERE s_suppkey % 3 = 0
    ), cand AS (
      SELECT t.typo_key, s.s_suppkey AS match_key,
             levenshtein(t.typo_name, s.s_name) AS dist
      FROM typo t JOIN supplier s ON substr(s.s_name, 1, 1) = t.blk
    )
    SELECT typo_key, match_key, CAST(dist AS INT) AS dist FROM (
      SELECT typo_key, match_key, dist,
             ROW_NUMBER() OVER (PARTITION BY typo_key ORDER BY dist, match_key) AS rk
      FROM cand
    ) WHERE rk = 1
    """,
)
def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy name resolution (the scale-ready form of the reference's
    name->key joins, DAG1:139,157): names with a synthesized one-char
    deletion matched back by Levenshtein distance, candidates blocked on
    the first character so the pair space is O(n^2 / blocks), best match
    per name by ranked window. levenshtein() is the same DP in every
    engine -- integer-exact."""
    s = t(spark, sf_dir, "supplier")
    typo = s.filter(F.col("s_suppkey") % 3 == 0).select(
        F.col("s_suppkey").alias("typo_key"),
        F.concat(
            F.substring("s_name", 1, 4), F.expr("substr(s_name, 6)")
        ).alias("typo_name"),
        F.substring("s_name", 1, 1).alias("blk"),
    )
    cand = typo.join(
        s.withColumn("blk", F.substring("s_name", 1, 1)), "blk"
    ).select(
        "typo_key",
        F.col("s_suppkey").alias("match_key"),
        F.levenshtein("typo_name", "s_name").alias("dist"),
    )
    w = Window.partitionBy("typo_key").orderBy("dist", "match_key")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("typo_key", "match_key", F.col("dist").cast("int").alias("dist"))
    )


@register(
    "window_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER (
             PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
             RANGE BETWEEN 7776000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_90d
    FROM orders WHERE o_custkey <= 100
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame (value-based, not row-based): per customer, the
    rolling 90-day spend -- every order inside the time interval
    contributes regardless of row position (ties included, unlike ROWS)."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 100)
    epoch = F.unix_timestamp("o_orderdate").cast("long")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(epoch)
        .rangeBetween(-90 * 86400, Window.currentRow)
    )
    return o.select(
        "o_custkey", "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
        .over(w)
        .cast("double")
        .alias("spend_90d"),
    )


@register(
    "union_by_name",
    oracle="""
    SELECT nationkey, COUNT(*) AS n, CAST(SUM(CAST(bal AS DECIMAL(38,6))) AS DOUBLE) AS total
    FROM (
      SELECT c_nationkey AS nationkey, c_acctbal AS bal FROM customer
      UNION ALL
      SELECT s_nationkey AS nationkey, s_acctbal AS bal FROM supplier
    ) GROUP BY nationkey
    """,
)
def union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName: schema-aligned-by-NAME concatenation (positional union
    silently mismatches when column orders differ -- never use it across
    independently-produced frames)."""
    c = t(spark, sf_dir, "customer").select(
        F.col("c_acctbal").alias("bal"), F.col("c_nationkey").alias("nationkey")
    )
    s = t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), F.col("s_acctbal").alias("bal")
    )
    return (
        c.unionByName(s)
        .groupBy("nationkey")
        .agg(F.count(F.lit(1)).alias("n"), exact_sum("bal").alias("total"))
    )


@register(
    "array_functions",
    oracle="""
    SELECT vec_id,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_positive,
           CAST(list_max(embedding) AS DOUBLE) AS max_dim,
           CAST(list_reduce(list_transform(embedding[1:8],
             x -> CAST(x AS DOUBLE)), (a, b) -> a + b) AS DOUBLE) AS head8_sum,
           CAST(embedding[1] AS DOUBLE) * 2 AS first_doubled
    FROM embeddings WHERE vec_id < 300
    """,
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (filter/transform/aggregate/slice/
    element_at) over embedding vectors -- all JVM expressions, the
    building blocks every vector op here composes from."""
    e = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    head8 = F.slice("embedding", 1, 8)
    return e.select(
        "vec_id",
        F.size(F.filter("embedding", lambda x: x > 0)).cast("int").alias("n_positive"),
        F.array_max("embedding").cast("double").alias("max_dim"),
        F.aggregate(
            F.transform(head8, lambda x: x.cast("double")),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("head8_sum"),
        (F.element_at("embedding", 1).cast("double") * 2).alias("first_doubled"),
    )


# ------------------------------------------------- multi-join workloads (cont)


@register(
    "tpch_q14_promo_revenue",
    oracle="""
    SELECT CAST(100 AS DOUBLE)
             * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))
                 ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)))
                    AS DOUBLE) AS promo_revenue_pct
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-09-01'
      AND l_shipdate <  TIMESTAMP '1995-10-01'
    """,
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: fact filtered to one month, broadcast-joined to the
    part dim, conditional-aggregate ratio in one pass. The date filter must
    reach the parquet scan; part broadcasts (no fact shuffle at all -- the
    final single-group agg moves one partial row per task)."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01").cast("timestamp"))
    )
    p = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    net = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,6)")
    promo = F.when(F.col("p_type").startswith("PROMO"), net).otherwise(
        F.lit(0).cast("decimal(38,6)")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            # each decimal sum casts to double on its own (exact under
            # 2^53 at oracle scale), then one double multiply + divide --
            # the same op sequence the oracle states. A decimal-domain
            # ratio would round differently per engine.
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(net).cast("double")
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "tpch_q18_large_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > 180
    )
    SELECT c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey  = o_custkey
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): aggregate-then-join. The
    HAVING collapses the fact to a tiny key set *before* any join, so both
    joins run against the reduced side (AQE converts them to broadcast at
    runtime). Joining first and filtering later would shuffle the whole
    fact table -- the classic order-of-operations win at 100 TB."""
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(exact_sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 180)
    )
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )


@register(
    "sessionize_events_batch",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR date_diff('second', LAG(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_no
      FROM marked
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS session_value
    FROM sess GROUP BY user_id, session_no
    """,
)
def sessionize_events_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands, 30-min inactivity gap): the
    batch twin of stream_session_windows. One shuffle on user_id serves
    both window passes and the final per-session aggregate -- Spark keeps
    the partitioning across the lag, the running sum, and the groupBy, so
    the whole pipeline is a single exchange regardless of input size."""
    from ..operators.reshape import sessionize

    ev = t(spark, sf_dir, "events")
    sess = sessionize(ev, "user_id", "ts", 1800, tiebreak_cols=["event_id"])
    return sess.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        exact_sum("value").alias("session_value"),
    )


@register(
    "sample_stratified_systematic",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal FROM (
      SELECT c_custkey, c_mktsegment, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_custkey) AS rn
      FROM customer)
    WHERE rn % 20 = 1
    """,
)
def sample_stratified_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: every 20th row per stratum in key
    order -- reproducible across runs and cluster layouts, unlike
    ``sampleBy`` (which stays the right tool when statistical randomness
    matters more than replayability; this variant is what you audit with).
    One shuffle on the stratum key; no global sort."""
    w = Window.partitionBy("c_mktsegment").orderBy("c_custkey")
    return (
        t(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") % 20 == 1)
        .drop("rn")
    )


@register(
    "distinct_count_exact",
    oracle="""
    SELECT p_brand,
           COUNT(DISTINCT l_suppkey) AS n_suppliers,
           COUNT(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    GROUP BY p_brand
    """,
)
def distinct_count_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) alongside a plain count in one grouped pass
    (Catalyst plans the distinct via Expand + two-stage aggregate -- no
    per-group set materialization). The exact twin of
    sketch_distinct_approx: use this when the answer must be exact, the
    sketch when 2% error buys a 10x smaller shuffle at 100 TB."""
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "upsert_scd2",
    oracle="""
    WITH tgt AS (
      SELECT s_suppkey, s_acctbal, TIMESTAMP '2024-01-01' AS valid_from
      FROM supplier
    ), changes AS (
      SELECT s_suppkey, CAST(s_acctbal + 1000 AS DOUBLE) AS s_acctbal,
             TIMESTAMP '2024-06-01' AS valid_from
      FROM supplier WHERE s_suppkey % 10 = 0
    )
    SELECT t.s_suppkey, t.s_acctbal, t.valid_from,
           c.valid_from AS valid_to,
           (c.s_suppkey IS NULL) AS is_current
    FROM tgt t LEFT JOIN changes c ON t.s_suppkey = c.s_suppkey
    UNION ALL
    SELECT s_suppkey, s_acctbal, valid_from,
           CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
    FROM changes
    """,
)
def upsert_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type 2 (history-tracking upsert): changed keys get their current
    row closed (valid_to = effective date, is_current = false) plus a new
    open row; unchanged keys pass through untouched. One left join on the
    business key + a union -- the exact join shape Delta/Iceberg MERGE
    plans for this pattern; history grows append-only, so at 100 TB the
    target stays partitioned by valid_from and only the current slice
    joins against changes."""
    eff_old = F.lit("2024-01-01").cast("timestamp")
    eff_new = F.lit("2024-06-01").cast("timestamp")
    sup = t(spark, sf_dir, "supplier")
    tgt = sup.select("s_suppkey", "s_acctbal", eff_old.alias("valid_from"))
    changes = (
        sup.filter(F.col("s_suppkey") % 10 == 0)
        .select(
            "s_suppkey",
            (F.col("s_acctbal") + 1000).cast("double").alias("s_acctbal"),
            eff_new.alias("valid_from"),
        )
    )
    closed_or_kept = tgt.alias("t").join(
        changes.alias("c"), F.col("t.s_suppkey") == F.col("c.s_suppkey"), "left"
    ).select(
        F.col("t.s_suppkey").alias("s_suppkey"),
        F.col("t.s_acctbal").alias("s_acctbal"),
        F.col("t.valid_from").alias("valid_from"),
        F.col("c.valid_from").alias("valid_to"),
        F.col("c.s_suppkey").isNull().alias("is_current"),
    )
    new_rows = changes.select(
        "s_suppkey",
        "s_acctbal",
        "valid_from",
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return closed_or_kept.unionByName(new_rows)


@register(
    "scd2_as_of",
    oracle="""
    WITH tgt AS (
      SELECT s_suppkey, s_acctbal, TIMESTAMP '2024-01-01' AS valid_from
      FROM supplier
    ), changes AS (
      SELECT s_suppkey, CAST(s_acctbal + 1000 AS DOUBLE) AS s_acctbal,
             TIMESTAMP '2024-06-01' AS valid_from
      FROM supplier WHERE s_suppkey % 10 = 0
    ), scd AS (
      SELECT t.s_suppkey, t.s_acctbal, t.valid_from,
             c.valid_from AS valid_to
      FROM tgt t LEFT JOIN changes c ON t.s_suppkey = c.s_suppkey
      UNION ALL
      SELECT s_suppkey, s_acctbal, valid_from,
             CAST(NULL AS TIMESTAMP) AS valid_to
      FROM changes
    ), probes AS (
      SELECT unnest([TIMESTAMP '2024-03-01', TIMESTAMP '2024-07-01']) AS probe_ts
    )
    SELECT strftime(probe_ts, '%Y-%m-%d') AS probe_date,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(38,6))) AS DOUBLE)
             AS total_acctbal
    FROM scd JOIN probes
      ON valid_from <= probe_ts AND (valid_to IS NULL OR valid_to > probe_ts)
    GROUP BY 1
    """,
)
def scd2_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel READ over the SCD2 history upsert_scd2 builds: for
    each probe timestamp, select the rows whose [valid_from, valid_to)
    interval contains it and roll them up -- 2024-03-01 sees every
    supplier at its original balance, 2024-07-01 sees the changed keys
    at their +1000 versions. The as-of predicate is the query half of
    slowly-changing dimensions (the write half is upsert_scd2); at
    100 TB it rides valid_from partitioning, so a probe prunes to the
    partitions at or before its date. The probe relation broadcasts
    (2 rows); balance sums ride DECIMAL (rule 1)."""
    scd = upsert_scd2(spark, sf_dir)
    probes = spark.createDataFrame(
        [("2024-03-01",), ("2024-07-01",)], ["probe_date"]
    ).select(F.col("probe_date"), F.col("probe_date").cast("timestamp").alias("probe_ts"))
    return (
        scd.join(
            F.broadcast(probes),
            (F.col("valid_from") <= F.col("probe_ts"))
            & (F.col("valid_to").isNull() | (F.col("valid_to") > F.col("probe_ts"))),
        )
        .groupBy("probe_date")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("s_acctbal").cast("decimal(38,6)"))
            .cast("double")
            .alias("total_acctbal"),
        )
    )


@register(
    "xml_region_scan",
    oracle="""
    SELECT r.r_name, CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def xml_region_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source round trip (Spark 4 NATIVE xml format, no external
    package): the region dim is written as XML by the engine itself
    (distributed write, one element per row under rowTag), scanned back
    with an EXPLICIT schema (inference would read the data twice), and
    joined to the parquet nation table -- so the oracle checks the XML
    path against the canonical columnar data. Interchange coverage for
    the S-family beside CSV/Excel/JSON/ORC/JDBC; the source is
    splittable per file, so a directory of XML drops parallelizes like
    any file source."""
    import tempfile

    from ..io.readers import read_xml

    d = tempfile.mkdtemp(prefix="xmlsrc_")
    region = t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    region.write.mode("overwrite").format("xml").option("rowTag", "region").save(
        f"{d}/region_xml"
    )
    xml_region = read_xml(
        spark, f"{d}/region_xml", row_tag="region",
        schema="r_regionkey int, r_name string",
    )
    nation = t(spark, sf_dir, "nation")
    return (
        xml_region.join(
            F.broadcast(nation),
            nation.n_regionkey == xml_region.r_regionkey,
        )
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )


@register(
    "snapshot_diff_changes",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 11 <> 3
    ), new AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0
                  THEN CAST(o_totalprice * 2 AS DOUBLE)
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
      FROM orders WHERE o_orderkey % 7 <> 0
    )
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'inserted'
                WHEN n.o_orderkey IS NULL THEN 'deleted'
                WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice
                  OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                THEN 'updated' END AS change_type
    FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE (o.o_orderkey IS NULL OR n.o_orderkey IS NULL
           OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
           OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus)
    """,
)
def snapshot_diff_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (the validation half of CDC): two deterministic
    versions of orders -- the "new" one missing every 7th key
    (deletions... seen from old->new as inserts of keys the old slice
    lacked, deletes of keys the new slice drops, and doubled totalprice
    on every 5th key as updates) -- diffed by PK into one row per
    changed key. One full-outer hash join on the key, null-safe value
    compare; unchanged keys drop out. At 100 TB this is how a publish is
    gated: diff v(N) against v(N-1) and alarm on an impossible change
    profile before consumers read it (operators.quality.snapshot_diff)."""
    from ..operators.quality import snapshot_diff

    orders = t(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 11 != 3).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    new = orders.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 5 == 0,
            (F.col("o_totalprice") * 2).cast("double"),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    return snapshot_diff(
        old, new, keys=["o_orderkey"], compare_cols=["o_totalprice", "o_orderstatus"]
    )

@register(
    "json_map_explode",
    oracle="""
    WITH kv AS (
      SELECT unnest(json_keys(props)) AS prop_key,
             CAST(json_extract(props, '$."' || unnest(json_keys(props)) || '"')
                  AS BIGINT) AS prop_value
      FROM events
    )
    SELECT prop_key,
           COUNT(*) AS n_events,
           CAST(SUM(prop_value) AS BIGINT) AS value_total,
           MIN(prop_value) AS value_min,
           MAX(prop_value) AS value_max
    FROM kv GROUP BY prop_key
    """,
)
def json_map_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured metadata: parse the JSON props column into a typed
    map, explode entries, aggregate per key -- the schema-on-read path for
    ragged metadata (from_json + explode stay JVM-side; no UDF). At scale
    prefer promoting hot keys to real columns at ingest; this operator is
    for the long tail that stays ragged."""
    ev = t(spark, sf_dir, "events")
    kv = ev.select(
        F.explode(F.from_json("props", "map<string,bigint>")).alias(
            "prop_key", "prop_value"
        )
    )
    return kv.groupBy("prop_key").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("prop_value").alias("value_total"),
        F.min("prop_value").alias("value_min"),
        F.max("prop_value").alias("value_max"),
    )


@register(
    "cdc_apply_changelog",
    oracle="""
    WITH log AS (
      SELECT user_id AS key, ts, event_id,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             value
      FROM events
    ),
    latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY key ORDER BY ts DESC, event_id DESC) AS rn
        FROM log
      ) WHERE rn = 1
    )
    SELECT l.key AS user_id, l.value AS last_value, c.n_changes
    FROM latest l
    JOIN (SELECT key, COUNT(*) AS n_changes FROM log GROUP BY key) c
      ON l.key = c.key
    WHERE l.op <> 'D'
    """,
)
def cdc_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply: collapse an insert/update/delete changelog to the
    current snapshot -- latest op per key wins (ordered by ts with
    event_id as the total-order tie-break; a partial order here silently
    corrupts the snapshot), keys whose last op is a delete disappear.
    This is the incremental replacement for the reference's full-refresh
    DELETE+COPY loads (DAG1:272-290): one shuffle on the key, state
    O(keys). The change-count join reuses the same hash partitioning."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    log = e.select(
        F.col("user_id").alias("key"),
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        "value",
    )
    w = Window.partitionBy("key").orderBy(F.desc("ts"), F.desc("event_id"))
    latest = log.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    changes = log.groupBy("key").agg(F.count(F.lit(1)).alias("n_changes"))
    return (
        latest.filter(F.col("op") != "D")
        .join(changes, "key")
        .select(
            F.col("key").alias("user_id"),
            F.col("value").alias("last_value"),
            "n_changes",
        )
    )


@register(
    "window_rank_suite",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           percent_rank() OVER w AS prnk,
           cume_dist() OVER w AS cdist
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey ASC)
    """,
)
def window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rank-function family over one partitioned window: rank,
    dense_rank, percent_rank, cume_dist share a single sort (one window
    spec -> one exchange + one sort in the plan). The o_orderkey
    tie-break makes every rank deterministic under ties -- without it,
    percent_rank on equal prices is partition-layout-dependent."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
    )


# ---------------------------------------------- Python-native API surfaces


@register(
    "pyds_synthetic_events",
    oracle="""
    WITH e AS (
      SELECT range AS i,
             (range * 2654435761) % 97 AS user_id,
             (range * range) % 10000 + 100 AS amount_cents,
             CAST(range % 30 AS INT) AS day
      FROM range(0, 5000)
    )
    SELECT user_id, COUNT(*) AS n_events,
           CAST(SUM(amount_cents) AS BIGINT) AS total_cents,
           CAST(MIN(day) AS INT) AS first_day
    FROM e GROUP BY user_id
    """,
)
def pyds_synthetic_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python Data Source (Spark 4 DataSource API): a programmatic
    source that plans index-range partitions on the driver and generates
    rows on executors -- the supported pure-Python extension point for
    backfill generators and API readers. Every row is a pure function of
    its global index, so the whole source re-derives in SQL and the scan
    is oracle-checked end-to-end. Parallelism is the partition count the
    reader plans, independent of data volume."""
    from ..io.python_datasource import read_synthetic_events

    ev = read_synthetic_events(spark, n_rows=5000, n_parts=8)
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("amount_cents").cast("bigint").alias("total_cents"),
        F.min("day").cast("int").alias("first_day"),
    )


@register(
    "grouped_minmax_norm_arrow",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN mx = mn THEN 0.5 ELSE (l_quantity - mn) / (mx - mn) END AS qty_norm
    FROM (
      SELECT l_orderkey, l_linenumber, l_quantity,
             MIN(l_quantity) OVER (PARTITION BY l_orderkey) AS mn,
             MAX(l_quantity) OVER (PARTITION BY l_orderkey) AS mx
      FROM lineitem WHERE l_orderkey <= 600
    )
    """,
)
def grouped_minmax_norm_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-native grouped map (applyInArrow): the third variant of the
    per-group min-max norm, completing the boundary set -- window
    functions (pure JVM, the production plan), applyInPandas (pandas
    conversion both ways), applyInArrow (zero-copy pyarrow batches, no
    pandas materialization -- the cheaper Python boundary when the logic
    is expressible in Arrow compute kernels). Same doubles from all
    three: (x - mn) / (mx - mn) in IEEE double end to end."""
    import pyarrow as pa
    import pyarrow.compute as pc

    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 600)

    def norm(tbl: pa.Table) -> pa.Table:
        q = tbl.column("l_quantity")
        mn = pc.min(q).as_py()
        mx = pc.max(q).as_py()
        if mx == mn:
            normed = pa.array([0.5] * len(tbl), type=pa.float64())
        else:
            normed = pc.divide(pc.subtract(q, mn), mx - mn)
        return pa.table(
            {
                "l_orderkey": tbl.column("l_orderkey"),
                "l_linenumber": tbl.column("l_linenumber"),
                "qty_norm": normed,
            }
        )

    return (
        li.select("l_orderkey", "l_linenumber", "l_quantity")
        .groupBy("l_orderkey")
        .applyInArrow(norm, schema="l_orderkey long, l_linenumber int, qty_norm double")
    )


@register(
    "string_functions_suite",
    oracle="""
    SELECT c_custkey,
           upper(c_mktsegment) AS seg_upper,
           CAST(length(c_name) AS INT) AS name_len,
           substr(c_name, 10, 6) AS name_tail,
           CAST(strpos(c_name, '#') AS INT) AS hash_pos,
           lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS key_padded,
           translate(c_mktsegment, 'AEIOU', 'aeiou') AS seg_devowel,
           reverse(c_mktsegment) AS seg_rev,
           left(c_name, 8) AS name_left,
           right(c_name, 3) AS name_right,
           split_part(c_name, '#', 2) AS name_num_part,
           CAST(levenshtein(c_mktsegment, 'BUILDING') AS INT) AS lev_building,
           contains(c_name, '00') AS has_00,
           regexp_extract(c_name, '([0-9]+)', 1) AS digits
    FROM customer WHERE c_custkey <= 500
    """,
)
def string_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar string-function family (SURVEY 2.4 breadth): case,
    length, substring, search, padding, translate, reverse, left/right,
    split_part, edit distance, containment, regex extract -- all JVM
    expressions inside whole-stage codegen, verified cell-for-cell
    against the same functions in the oracle engine."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 500)
    name, seg = F.col("c_name"), F.col("c_mktsegment")
    return c.select(
        "c_custkey",
        F.upper(seg).alias("seg_upper"),
        F.length(name).cast("int").alias("name_len"),
        F.substring(name, 10, 6).alias("name_tail"),
        F.instr(name, "#").cast("int").alias("hash_pos"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("key_padded"),
        F.translate(seg, "AEIOU", "aeiou").alias("seg_devowel"),
        F.reverse(seg).alias("seg_rev"),
        F.substring(name, 1, 8).alias("name_left"),
        F.substring(name, -3, 3).alias("name_right"),
        F.split_part(name, F.lit("#"), F.lit(2)).alias("name_num_part"),
        F.levenshtein(seg, F.lit("BUILDING")).cast("int").alias("lev_building"),
        name.contains("00").alias("has_00"),
        F.regexp_extract(name, r"([0-9]+)", 1).alias("digits"),
    )


@register(
    "datetime_functions_suite",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS y,
           CAST(quarter(o_orderdate) AS INT) AS q,
           CAST(month(o_orderdate) AS INT) AS m,
           CAST(day(o_orderdate) AS INT) AS d,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
           CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
           strftime(date_trunc('month', CAST(o_orderdate AS DATE)), '%Y-%m-%d')
             AS month_start,
           CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
                AS INT) AS days_since_95,
           strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS plus_30d,
           strftime(o_orderdate, '%Y-%m') AS ym,
           CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
    FROM orders WHERE o_orderkey <= 1000
    """,
)
def datetime_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The calendar/date-arithmetic family: part extraction (year ..
    dayofweek -- Spark's 1=Sunday convention vs the oracle's 0=Sunday is
    reconciled in the oracle), ISO week, month boundaries, day diffs,
    date shifts, formatting, epoch seconds (UTC session so both engines
    agree). Date-typed results are published as strings -- harness
    canonicalizers hash date objects and datetime64 differently."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).cast("int").alias("y"),
        F.quarter(d).cast("int").alias("q"),
        F.month(d).cast("int").alias("m"),
        F.dayofmonth(d).cast("int").alias("d"),
        F.dayofweek(d).cast("int").alias("dow"),
        F.weekofyear(d).cast("int").alias("iso_week"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.trunc(d, "month"), "yyyy-MM-dd").alias("month_start"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).cast("int").alias(
            "days_since_95"
        ),
        F.date_format(F.date_add(d.cast("date"), 30), "yyyy-MM-dd").alias("plus_30d"),
        F.date_format(d, "yyyy-MM").alias("ym"),
        F.unix_timestamp(d).cast("bigint").alias("epoch_s"),
    )


@register(
    "map_struct_functions_suite",
    oracle="""
    SELECT o_orderkey,
           CAST(cardinality(MAP {'status': o_orderstatus,
                                 'priority': o_orderpriority}) AS INT) AS n_keys,
           array_to_string(list_sort(map_keys(
             MAP {'status': o_orderstatus, 'priority': o_orderpriority})), ',')
             AS keys_sorted,
           (MAP {'status': o_orderstatus,
                 'priority': o_orderpriority}['status'])[1] AS status_val,
           {'k': o_orderkey, 'p': o_orderpriority}.k AS struct_key,
           {'k': o_orderkey, 'p': o_orderpriority}.p AS struct_priority
    FROM orders WHERE o_orderkey <= 500
    """,
)
def map_struct_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-type construction and access: map build / cardinality /
    key listing / value lookup, struct build / field access. Map keys are
    published as a sorted joined string (map iteration order is
    engine-specific; raw maps are unhashable in harness canonicalizers,
    same rule as arrays)."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 500)
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("priority"), F.col("o_orderpriority"),
    )
    s = F.struct(F.col("o_orderkey").alias("k"), F.col("o_orderpriority").alias("p"))
    return o.select(
        "o_orderkey",
        F.size(m).cast("int").alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_sorted"),
        F.element_at(m, "status").alias("status_val"),
        s.getField("k").alias("struct_key"),
        s.getField("p").alias("struct_priority"),
    )


@register(
    "window_range_frame_trailing",
    oracle="""
    SELECT event_id, user_id,
           COUNT(*) OVER w AS n_trailing_1h,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)
             AS cents_trailing_1h
    FROM (SELECT event_id, user_id, value, epoch_us(ts) AS ts_us
          FROM events WHERE user_id < 20)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def window_range_frame_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per-user trailing-1-hour event count and cent
    sum at every event -- the sliding aggregate WITHOUT a self-join. The
    frame is value-based (microseconds PRECEDING), so ties share a frame
    and the state is one sorted pass per user partition; the interval
    self-join shape (stream_interval_join's batch oracle) is O(events x
    matches) where this is O(events log events). Money in integer cents:
    the windowed sum stays exact under any partition order."""
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    us = F.unix_micros("ts")
    cents = F.round(F.col("value") * 100).cast("bigint")
    w = (
        Window.partitionBy("user_id")
        .orderBy(us.alias("ts_us"))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_trailing_1h"),
        F.sum(cents).over(w).cast("bigint").alias("cents_trailing_1h"),
    )


@register(
    "rolling_zscore_anomalies",
    oracle="""
    WITH c AS (
      SELECT event_id, user_id, ts,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE user_id < 20
    ), w AS (
      SELECT event_id, user_id, cents,
             COUNT(*) OVER win AS n,
             CAST(SUM(cents) OVER win AS BIGINT) AS s1,
             CAST(SUM(cents * cents) OVER win AS BIGINT) AS s2
      FROM c
      WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, n,
           CASE WHEN n > 1 AND (s2 * n - s1 * s1) > 0
                THEN (CAST(cents AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
                     / sqrt(CAST(s2 * n - s1 * s1 AS DOUBLE) / (n * (n - 1)))
                END AS zscore,
           CASE WHEN n > 1 AND (s2 * n - s1 * s1) > 0
                THEN abs((CAST(cents AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
                     / sqrt(CAST(s2 * n - s1 * s1 AS DOUBLE) / (n * (n - 1)))) > 3
                ELSE FALSE END AS is_anomaly
    FROM w
    """,
)
def rolling_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling anomaly detection: each event's z-score against its own
    trailing 20-event window (per user, event-time ordered with an id
    tie-break). The sufficient statistics (count, sum, sum-of-squares)
    stay EXACT integers in cent space inside the window frame -- windowed
    double summation would be frame-order-dependent -- and only the final
    mean/std/z arithmetic runs in double, as the same op sequence in both
    engines. One shuffle on user_id; state is the 20-row frame. The
    streaming twin of this shape is stateful_user_totals with a deque."""
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    cents = F.round(F.col("value") * 100).cast("bigint")
    base = ev.select("event_id", "user_id", "ts", cents.alias("cents"))
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    w = base.select(
        "event_id",
        "user_id",
        "cents",
        F.count(F.lit(1)).over(win).alias("n"),
        F.sum("cents").over(win).cast("bigint").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).over(win).cast("bigint").alias("s2"),
    )
    var_num = F.col("s2") * F.col("n") - F.col("s1") * F.col("s1")
    z = (
        F.col("cents").cast("double") - F.col("s1").cast("double") / F.col("n")
    ) / F.sqrt(var_num.cast("double") / (F.col("n") * (F.col("n") - 1)))
    ok = (F.col("n") > 1) & (var_num > 0)
    return w.select(
        "event_id",
        "user_id",
        "n",
        F.when(ok, z).alias("zscore"),
        F.when(ok, F.abs(z) > 3).otherwise(F.lit(False)).alias("is_anomaly"),
    )


@register(
    "profile_nulls_all_columns",
    oracle="""
    SELECT 'o_orderkey' AS col, COUNT(*) AS n_rows,
           COUNT(*) - COUNT(o_orderkey) AS n_null,
           COUNT(DISTINCT o_orderkey) AS n_distinct FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey),
           COUNT(DISTINCT o_custkey) FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
           COUNT(DISTINCT o_orderstatus) FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*), COUNT(*) - COUNT(o_orderpriority),
           COUNT(DISTINCT o_orderpriority) FROM orders
    """,
)
def profile_nulls_all_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table completeness profile (SURVEY 2.9): row count, null
    count, and distinct count for every profiled column in ONE scan --
    the per-column aggregates all ride the same pass (the oracle states
    it as N scans because SQL must; the engine plan is a single
    aggregate). This is the first diagnostic a pipeline runs on a new
    drop at any scale: output is O(columns), never O(rows)."""
    o = t(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__null"),
            F.countDistinct(c).alias(f"{c}__distinct"),
        ]
    wide = o.agg(*aggs)
    stack_expr = ", ".join(
        f"'{c}', {c}__rows, {c}__null, {c}__distinct" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stack_expr}) AS (col, n_rows, n_null, n_distinct)"
    )


@register(
    "profile_histogram_2d",
    oracle="""
    WITH b AS (
      SELECT MIN(l_quantity) AS qlo, MAX(l_quantity) AS qhi,
             MIN(l_discount) AS dlo, MAX(l_discount) AS dhi
      FROM lineitem
    )
    SELECT CAST(least(floor((l_quantity - qlo) / ((qhi - qlo) / 8)), 7) AS INT)
             AS qty_bucket,
           CAST(least(floor((l_discount - dlo) / ((dhi - dlo) / 8)), 7) AS INT)
             AS disc_bucket,
           COUNT(*) AS n
    FROM lineitem, b
    GROUP BY 1, 2
    """,
)
def profile_histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate equi-width histogram (8x8): the joint-distribution
    profile behind correlation heatmaps and drift checks. One min/max
    pass (O(1) rows, broadcast) then one bucket-pair aggregate --
    O(buckets^2) output regardless of input size, same discipline as the
    1-D histogram operator."""
    li = t(spark, sf_dir, "lineitem")
    b = li.agg(
        F.min("l_quantity").alias("qlo"), F.max("l_quantity").alias("qhi"),
        F.min("l_discount").alias("dlo"), F.max("l_discount").alias("dhi"),
    )
    j = li.join(F.broadcast(b))
    qb = F.least(
        F.floor((F.col("l_quantity") - F.col("qlo"))
                / ((F.col("qhi") - F.col("qlo")) / 8)), F.lit(7)
    ).cast("int")
    db = F.least(
        F.floor((F.col("l_discount") - F.col("dlo"))
                / ((F.col("dhi") - F.col("dlo")) / 8)), F.lit(7)
    ).cast("int")
    return (
        j.select(qb.alias("qty_bucket"), db.alias("disc_bucket"))
        .groupBy("qty_bucket", "disc_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
