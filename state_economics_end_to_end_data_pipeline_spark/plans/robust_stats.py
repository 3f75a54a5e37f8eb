"""Robust statistics / data-quality diagnostics.

Extends the reference's profiling surface (finalprojectpandasprofiling.py
:41-55 renders per-table stats for human review) with the operational
checks a pipeline runs automatically at scale: per-group outlier
detection, hot-key skew reporting (the thing that kills shuffles at
100 TB), and winsorized aggregates. Variance goes through decimal-exact
sufficient statistics (sum, sum-of-squares) so every number is
partition-order-independent and matches the DuckDB oracle bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..io.readers import read_parquet_table as t
from . import register

# ------------------------------------------------------------- outliers


@register(
    "outlier_zscore_per_group",
    oracle="""
    WITH stats AS (
      SELECT l_returnflag,
             COUNT(l_extendedprice) AS n,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
                  AS HUGEINT) AS s1i,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) * 10000
                  AS HUGEINT) AS s2i
      FROM lineitem GROUP BY l_returnflag
    ),
    split AS (
      SELECT l_returnflag, n,
             (CAST(s1i // 16777216 AS DOUBLE) * CAST(16777216 AS DOUBLE)
              + CAST(s1i % 16777216 AS DOUBLE)) / CAST(100 AS DOUBLE) AS s1,
             (CAST(s2i // 16777216 AS DOUBLE) * CAST(16777216 AS DOUBLE)
              + CAST(s2i % 16777216 AS DOUBLE)) / CAST(10000 AS DOUBLE) AS s2
      FROM stats
    ),
    bounds AS (
      SELECT l_returnflag, n, s1 / n AS mean,
             sqrt((s2 - s1 * s1 / n) / (n - 1)) AS std
      FROM split
    )
    SELECT b.l_returnflag, b.n, b.mean, b.std,
           COUNT(CASE WHEN abs(l.l_extendedprice - b.mean) > 3 * b.std
                 THEN 1 END) AS n_outliers
    FROM lineitem l JOIN bounds b ON l.l_returnflag = b.l_returnflag
    GROUP BY b.l_returnflag, b.n, b.mean, b.std
    """,
)
def outlier_zscore_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group 3-sigma outlier count. Mean/std come from decimal-exact
    sufficient statistics (one aggregate pass), broadcast back onto the
    fact for the flagging pass -- two scans, zero fact-sized shuffles,
    and the output is O(groups) regardless of input size.

    The sums are carried as exact integers (cent / cent-squared grid) and
    converted to double via a hi/lo split at 2^24: a squared sum exceeds
    2^53, and a direct int128->double cast is correctly rounded on the
    JVM but double-rounded in some engines (observed 1-ulp divergence).
    Each split half converts exactly; the reconstruction is the same
    three correctly-rounded IEEE ops everywhere -- bit-identical inputs
    to the downstream mean/std arithmetic."""
    li = t(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    # prices sit exactly on the cent grid: DECIMAL(18,2) is a lossless
    # lift, so the square and both sums are computed fully in decimal --
    # no double->decimal rounding anywhere (that rounding is
    # engine-dependent: Java shortest-repr vs exact binary expansion).
    xd = x.cast("decimal(18,2)")
    stats = li.groupBy("l_returnflag").agg(
        F.count("l_extendedprice").alias("n"),
        (F.sum(xd) * 100).cast("decimal(38,0)").alias("s1i"),
        (F.sum(xd * xd) * 10000).cast("decimal(38,0)").alias("s2i"),
    )
    split = stats.selectExpr(
        "l_returnflag",
        "n",
        "(CAST(s1i div 16777216 AS DOUBLE) * CAST(16777216 AS DOUBLE)"
        " + CAST(s1i % 16777216 AS DOUBLE)) / CAST(100 AS DOUBLE) AS s1",
        "(CAST(s2i div 16777216 AS DOUBLE) * CAST(16777216 AS DOUBLE)"
        " + CAST(s2i % 16777216 AS DOUBLE)) / CAST(10000 AS DOUBLE) AS s2",
    )
    bounds = split.select(
        "l_returnflag",
        "n",
        (F.col("s1") / F.col("n")).alias("mean"),
        F.sqrt(
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("std"),
    )
    return (
        li.join(F.broadcast(bounds), "l_returnflag")
        .groupBy("l_returnflag", "n", "mean", "std")
        .agg(
            F.count(
                F.when(
                    F.abs(F.col("l_extendedprice") - F.col("mean"))
                    > 3 * F.col("std"),
                    F.lit(1),
                )
            ).alias("n_outliers")
        )
    )


# ------------------------------------------------------------ key skew


@register(
    "key_skew_report",
    oracle="""
    WITH counts AS (
      SELECT o_custkey, COUNT(*) AS n_orders
      FROM orders GROUP BY o_custkey
    ),
    total AS (SELECT COUNT(*) AS n_total FROM orders)
    SELECT o_custkey, n_orders,
           CAST(n_orders AS DOUBLE) / n_total AS share
    FROM counts, total
    ORDER BY n_orders DESC, o_custkey ASC
    LIMIT 20
    """,
)
def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key diagnosis: top-20 join/shuffle keys by row count with
    share-of-total -- the report that decides whether a key needs
    salting or AQE skew-join before a run at full scale. Deterministic
    top-k (count desc, key asc tie-break) via TakeOrdered, no global
    sort; the total rides a one-row broadcast."""
    o = t(spark, sf_dir, "orders")
    counts = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    total = o.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        counts.join(F.broadcast(total))
        .select(
            "o_custkey",
            "n_orders",
            (F.col("n_orders").cast("double") / F.col("n_total")).alias("share"),
        )
        .orderBy(F.desc("n_orders"), F.asc("o_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------- winsorizing


@register(
    "winsorized_mean_per_group",
    oracle="""
    WITH cuts AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.01) AS p01,
             quantile_cont(l_extendedprice, 0.99) AS p99
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           COUNT(CASE WHEN l_extendedprice < p01 THEN 1 END) AS n_low,
           COUNT(CASE WHEN l_extendedprice > p99 THEN 1 END) AS n_high,
           CAST(SUM(CAST(
             CASE WHEN l_extendedprice < p01 THEN p01
                  WHEN l_extendedprice > p99 THEN p99
                  ELSE l_extendedprice END AS DECIMAL(38,6))) AS DOUBLE)
             / COUNT(l_extendedprice) AS winsorized_mean
    FROM lineitem l JOIN cuts c ON l.l_returnflag = c.l_returnflag
    GROUP BY l.l_returnflag
    """,
)
def winsorized_mean_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-PARITY VARIANT: winsorized mean with exact p01/p99 cuts.
    Exact percentile buffers all group values in executor memory -- the
    classic OOM at 100 TB -- so this entry exists only for the bit-exact
    cross-engine check. The production default is
    winsorized_mean_per_group_approx (sketch cuts, bounded memory),
    bounds-checked against this one both in its own oracle and in
    tests/test_robust_stats.py."""
    li = t(spark, sf_dir, "lineitem")
    cuts = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.01)).alias("p01"),
        F.percentile("l_extendedprice", F.lit(0.99)).alias("p99"),
    )
    x = F.col("l_extendedprice")
    clamped = (
        F.when(x < F.col("p01"), F.col("p01"))
        .when(x > F.col("p99"), F.col("p99"))
        .otherwise(x)
    )
    return (
        li.join(F.broadcast(cuts), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(x < F.col("p01"), F.lit(1))).alias("n_low"),
            F.count(F.when(x > F.col("p99"), F.lit(1))).alias("n_high"),
            (
                F.sum(clamped.cast("decimal(38,6)")).cast("double")
                / F.count("l_extendedprice")
            ).alias("winsorized_mean"),
        )
    )


def _approx_wmean_cuts(li: DataFrame):
    """Sketch-only p01/p99 tail cuts (Greenwald-Khanna, bounded memory)."""
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", F.lit(0.01), F.lit(10000)).alias("a01"),
        F.percentile_approx("l_extendedprice", F.lit(0.99), F.lit(10000)).alias("a99"),
    )


def winsorized_mean_approx_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw production output (l_returnflag, n, approx_wmean): clamp
    tails at the sketch cuts and average. The value is sketch-dependent
    (engine-specific), so it is not oracle-registered directly;
    tests/test_robust_stats.py pins it to within 1% of the exact-parity
    winsorized_mean_per_group."""
    li = t(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    clamped = (
        F.when(x < F.col("a01"), F.col("a01"))
        .when(x > F.col("a99"), F.col("a99"))
        .otherwise(x)
    )
    return (
        li.join(F.broadcast(_approx_wmean_cuts(li)), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count("l_extendedprice").alias("n"),
            (
                F.sum(clamped.cast("decimal(38,6)")).cast("double")
                / F.count("l_extendedprice")
            ).alias("approx_wmean"),
        )
    )


@register(
    "winsorized_mean_per_group_approx",
    oracle="""
    SELECT l_returnflag, COUNT(l_extendedprice) AS n,
           TRUE AS cut01_ok, TRUE AS cut99_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def winsorized_mean_per_group_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION winsorized mean: clamp tails at percentile_approx
    p01/p99 (Greenwald-Khanna sketch, bounded executor memory -- the
    shape that survives 100 TB). SKETCH-ONLY: no exact percentile
    anywhere in the registered plan, even for verification. Like
    quantiles_grouped_approx, the cross-engine check is the GK rank
    guarantee itself, exactly checkable with two COUNTs per cut:
    count(x < q)/n <= p + eps and count(x <= q)/n >= p - eps. The oracle
    asserts the booleans; the 1%-of-exact mean check lives in
    tests/test_robust_stats.py against winsorized_mean_per_group."""
    li = t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    x = F.col("l_extendedprice")
    agg = (
        li.join(F.broadcast(_approx_wmean_cuts(li)), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count("l_extendedprice").alias("n"),
            F.count(F.when(x < F.col("a01"), 1)).alias("lt01"),
            F.count(F.when(x <= F.col("a01"), 1)).alias("le01"),
            F.count(F.when(x < F.col("a99"), 1)).alias("lt99"),
            F.count(F.when(x <= F.col("a99"), 1)).alias("le99"),
        )
    )
    # DELIBERATELY SLACK vs the GK guarantee (1/accuracy = 1e-4 at
    # accuracy=10000): the in-plan check is a cross-engine smoke bound
    # with headroom for ties and sketch-merge variation, matching
    # quantiles_grouped_approx. The tight value-level pin (1% of exact)
    # lives in tests/test_robust_stats.py.
    eps = 0.005

    def ok(p: float, tag: str):
        n = F.col("n").cast("double")
        return (
            (F.col(f"lt{tag}") / n <= F.lit(p + eps))
            & (F.col(f"le{tag}") / n >= F.lit(p - eps))
        ).alias(f"cut{tag}_ok")

    return agg.select("l_returnflag", "n", ok(0.01, "01"), ok(0.99, "99"))


@register(
    "mad_per_group",
    oracle="""
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS m
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag, m AS median_qty,
           quantile_cont(abs(l.l_quantity - m), 0.5) AS mad_qty
    FROM lineitem l JOIN med USING (l_returnflag)
    GROUP BY l.l_returnflag, m
    """,
)
def mad_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group -- the robust spread measure
    (insensitive to the outliers a std inflates on). Two percentile
    passes: the O(groups) medians broadcast back onto the fact for the
    deviation pass. ORACLE-PARITY exact percentiles; the production path
    at 100 TB is mad_per_group_approx (both passes on percentile_approx,
    bounded memory), pinned to this one in tests/test_robust_stats.py."""
    li = t(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("median_qty")
    )
    return (
        li.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag", "median_qty")
        .agg(
            F.percentile(
                F.abs(F.col("l_quantity") - F.col("median_qty")), F.lit(0.5)
            ).alias("mad_qty")
        )
    )


def _approx_mad_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-only MAD pipeline shared by the registered rank-check query
    and the test helper: approx median broadcast onto the fact, then an
    approx median of absolute deviations. Both passes are GK sketches --
    bounded executor memory at any scale."""
    li = t(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    med = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_quantity", F.lit(0.5), F.lit(10000)).alias(
            "approx_median"
        )
    )
    dev = li.join(F.broadcast(med), "l_returnflag").withColumn(
        "abs_dev", F.abs(F.col("l_quantity") - F.col("approx_median"))
    )
    return dev.groupBy("l_returnflag", "approx_median").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile_approx("abs_dev", F.lit(0.5), F.lit(10000)).alias("approx_mad"),
        F.count(F.when(F.col("l_quantity") < F.col("approx_median"), 1)).alias(
            "lt_med"
        ),
        F.count(F.when(F.col("l_quantity") <= F.col("approx_median"), 1)).alias(
            "le_med"
        ),
    )


def mad_approx_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw production output (l_returnflag, approx_median, approx_mad) --
    sketch-dependent values, pinned to the exact mad_per_group in
    tests/test_robust_stats.py rather than oracle-registered."""
    return _approx_mad_frame(spark, sf_dir).select(
        "l_returnflag", "approx_median", "approx_mad"
    )


@register(
    "mad_per_group_approx",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n,
           TRUE AS median_ok, TRUE AS mad_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def mad_per_group_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION median absolute deviation: both percentile passes on
    percentile_approx (GK sketch, bounded memory -- the shape that
    survives 100 TB, unlike the exact-parity mad_per_group). SKETCH-ONLY
    plan; the cross-engine check is the GK rank guarantee, checked with
    COUNTs: the approx median must sit at rank 0.5 +/- eps of the
    quantities, and the approx MAD at rank 0.5 +/- eps of the absolute
    deviations around that median. The oracle asserts the booleans; the
    value-level check against exact MAD lives in
    tests/test_robust_stats.py.

    The O(groups) sketch frame feeds two consumers (the abs_dev rank
    re-scan's broadcast and the final output join) of one lazy query."""
    frame = _approx_mad_frame(spark, sf_dir)
    li = t(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity")
    dev = li.join(
        F.broadcast(frame.select("l_returnflag", "approx_median", "approx_mad")),
        "l_returnflag",
    ).withColumn("abs_dev", F.abs(F.col("l_quantity") - F.col("approx_median")))
    mad_ranks = dev.groupBy("l_returnflag").agg(
        F.count(F.when(F.col("abs_dev") < F.col("approx_mad"), 1)).alias("lt_mad"),
        F.count(F.when(F.col("abs_dev") <= F.col("approx_mad"), 1)).alias("le_mad"),
    )
    # deliberately slack vs the 1e-4 GK guarantee -- see
    # winsorized_mean_per_group_approx for the rationale
    eps = 0.005
    joined = frame.join(mad_ranks, "l_returnflag")
    n = F.col("n").cast("double")

    def ok(lt: str, le: str, name: str):
        return (
            (F.col(lt) / n <= F.lit(0.5 + eps))
            & (F.col(le) / n >= F.lit(0.5 - eps))
        ).alias(name)

    return joined.select(
        "l_returnflag",
        "n",
        ok("lt_med", "le_med", "median_ok"),
        ok("lt_mad", "le_mad", "mad_ok"),
    )


@register(
    "mode_per_group",
    oracle="""
    SELECT l_returnflag, l_quantity AS mode_qty, n AS mode_count
    FROM (
      SELECT l_returnflag, l_quantity, COUNT(*) AS n,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY COUNT(*) DESC, l_quantity ASC) AS rk
      FROM lineitem GROUP BY l_returnflag, l_quantity
    ) WHERE rk = 1
    """,
)
def mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode per group: value-count aggregate then a
    row_number pick with an explicit value tie-break (the built-in
    mode() aggregate is tie-nondeterministic -- never publish it). Two
    shuffles, both O(distinct values), map-side combined."""
    li = t(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("n"), F.asc("l_quantity")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("mode_qty"),
            F.col("n").alias("mode_count"),
        )
    )


# ------------------------------------------------------------- drift tests


# Shared by the exact entry and its distributed twin: both compute the
# SAME statistic, so both check against the same naive-cumulative SQL.
_KS_ORACLE = """
    WITH s AS (
      SELECT value,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ib
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    pv AS (
      SELECT value, SUM(ia) AS ca, SUM(ib) AS cb FROM s GROUP BY value
    ),
    cum AS (
      SELECT value,
             SUM(ca) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
             SUM(cb) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
      FROM pv
    ),
    tot AS (SELECT CAST(SUM(ia) AS BIGINT) AS n, CAST(SUM(ib) AS BIGINT) AS m FROM s)
    SELECT n, m,
           CAST(MAX(abs(cuma * m - cumb * n)) AS BIGINT) AS d_num,
           CAST(MAX(abs(cuma * m - cumb * n)) AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(m AS DOUBLE)) AS ks
    FROM cum CROSS JOIN tot GROUP BY n, m
    """


@register("ks_drift_event_values", oracle=_KS_ORACLE)
def ks_drift_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the `value`
    distributions of click vs purchase events -- the standard
    distribution-drift test run between a reference window and a live
    window before features feed a model.

    Exact by construction: D = max |F_a - F_b| is computed as an INTEGER
    maximum max|cumA*m - cumB*n| over the merged support, divided once
    at the end -- no float accumulates across rows, so engines agree
    bit-for-bit (cross-multiplication stays far under 2^53). Scale
    shape: one groupBy(value) collapses the data to its distinct support
    BEFORE the cumulative pass; the global-order window here states the
    semantics -- the CODED 100 TB twin is
    ``ks_drift_event_values_distributed`` below (value slices from
    broadcast percentile cutpoints + per-slice prefix sums offset by
    broadcast slice totals; same oracle, same exact result)."""
    s = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "value",
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias("ia"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("ib"),
        )
    )
    pv = s.groupBy("value").agg(F.sum("ia").alias("ca"), F.sum("ib").alias("cb"))
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = pv.select(
        "value",
        F.sum("ca").over(w).alias("cuma"),
        F.sum("cb").over(w).alias("cumb"),
    )
    tot = s.agg(
        F.sum("ia").cast("bigint").alias("n"), F.sum("ib").cast("bigint").alias("m")
    )
    metric = F.abs(F.col("cuma") * F.col("m") - F.col("cumb") * F.col("n"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n", "m")
        .agg(
            F.max(metric).cast("bigint").alias("d_num"),
            (
                F.max(metric).cast("double")
                / (F.col("n").cast("double") * F.col("m").cast("double"))
            ).alias("ks"),
        )
    )


def collect_value_cutpoints(pv: DataFrame, n_slices: int = 32) -> list[float]:
    """EAGER by design: runs a Spark job (``percentile_approx`` over the
    distinct-value relation + ``.first()``) at PLAN-CONSTRUCTION time so
    the slice boundaries can be folded into literals -- that is what makes
    the slice id a deterministic function of the value (no ReuseExchange
    dependence, see ks_drift_event_values_distributed). Consequence:
    merely *building* the entries that call this (explain_dump, plan-pin
    tests) executes one fact scan. Explain-only consumers that need a
    side-effect-free build can pass a fixed ``cuts`` list to the entry
    function instead; correctness never depends on WHICH sorted cut set
    is used, only on all subtrees seeing the same one."""
    cut_row = pv.select(
        F.percentile_approx(
            "value", [i / float(n_slices) for i in range(1, n_slices)], 10000
        ).alias("cuts")
    ).first()
    return sorted(set(cut_row["cuts"] or [])) if cut_row is not None else []


def value_slice_pid(cuts: list[float]) -> F.Column:
    """Slice id = #cutpoints strictly below the value: deterministic in
    the data, computable per-row without a shuffle."""
    if not cuts:
        return F.lit(0)
    cuts_lit = F.array(*[F.lit(float(c)) for c in cuts])
    return F.size(F.filter(cuts_lit, lambda c: c < F.col("value")))


@register("ks_drift_event_values_distributed", eager_build=True, oracle=_KS_ORACLE)
def ks_drift_event_values_distributed(
    spark: SparkSession, sf_dir: str, cuts: list[float] | None = None
) -> DataFrame:
    """PRODUCTION two-sample KS -- the coded 100 TB twin of
    ``ks_drift_event_values``, same EXACT statistic and the SAME oracle,
    with the global-order cumulative replaced by the distributed prefix
    sum the exact entry's docstring names:

    1. collapse to the distinct value support (one hash shuffle);
    2. slice ids come from broadcast ``percentile_approx`` cutpoints
       (the rfm/decile-twin pattern): ``pid = #cutpoints < value`` is a
       DETERMINISTIC function of the value itself, so every subtree that
       references the sliced relation computes identical slice ids --
       no dependence on physical partition placement or on Catalyst's
       ReuseExchange deduplicating two range exchanges (the round-6
       ``spark_partition_id()``-over-``repartitionByRange`` variant was
       silently reuse-dependent; any contiguous split still yields
       identical cumulative sums, so exactness never depended on WHICH
       boundaries the sampler picked -- only on both references seeing
       the SAME ones, which a value-derived pid guarantees by
       construction);
    3. per-slice prefix sums via a window PARTITIONED by ``pid`` --
       parallel, never single-partition (pinned in
       tests/test_scale_patterns.py);
    4. per-slice totals (<=32 rows) broadcast through a pid-ordered
       theta-join to form each slice's starting offset -- cumulative
       across slices without any global sort;
    5. final cum = local prefix + slice offset, then the same integer
       max |cumA*m - cumB*n| / (n*m).

    Exactness is untouched: every accumulation is integer, so this plan
    matches the naive-cumulative oracle bit-for-bit while scaling the
    sort to the number of value slices."""
    s = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "value",
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias("ia"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("ib"),
        )
    )
    pv = s.groupBy("value").agg(F.sum("ia").alias("ca"), F.sum("ib").alias("cb"))
    # Driver-bounded by definition: 31 doubles.  Which boundaries the
    # approx sampler picks is irrelevant to the result (any contiguous
    # split works); collecting them ONCE and folding them into a literal
    # makes the slice id deterministic across all downstream subtrees.
    # NOTE: collect_value_cutpoints is an EAGER Spark job at construction
    # time -- explain-only callers pass `cuts` to stay side-effect-free.
    if cuts is None:
        cuts = collect_value_cutpoints(pv)
    pvr = pv.withColumn("pid", value_slice_pid(cuts).cast("int"))
    wloc = (
        Window.partitionBy("pid")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    loc = pvr.select(
        "pid",
        "value",
        F.sum("ca").over(wloc).alias("la"),
        F.sum("cb").over(wloc).alias("lb"),
    )
    slice_tot = pvr.groupBy("pid").agg(
        F.sum("ca").alias("ta"), F.sum("cb").alias("tb")
    )
    prior = slice_tot.select(
        F.col("pid").alias("ppid"),
        F.col("ta").alias("pta"),
        F.col("tb").alias("ptb"),
    )
    offsets = (
        slice_tot.join(F.broadcast(prior), F.col("ppid") < F.col("pid"), "left")
        .groupBy("pid")
        .agg(
            F.coalesce(F.sum("pta"), F.lit(0)).alias("oa"),
            F.coalesce(F.sum("ptb"), F.lit(0)).alias("ob"),
        )
    )
    cum = loc.join(F.broadcast(offsets), "pid").select(
        "value",
        (F.col("la") + F.col("oa")).alias("cuma"),
        (F.col("lb") + F.col("ob")).alias("cumb"),
    )
    tot = s.agg(
        F.sum("ia").cast("bigint").alias("n"), F.sum("ib").cast("bigint").alias("m")
    )
    metric = F.abs(F.col("cuma") * F.col("m") - F.col("cumb") * F.col("n"))
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n", "m")
        .agg(
            F.max(metric).cast("bigint").alias("d_num"),
            (
                F.max(metric).cast("double")
                / (F.col("n").cast("double") * F.col("m").cast("double"))
            ).alias("ks"),
        )
    )


@register(
    "psi_drift_event_values",
    oracle="""
    WITH s AS (
      SELECT CAST(least(floor(value / 50.0), 9) AS INT) AS bin,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ib
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    c AS (SELECT bin, SUM(ia) AS na_b, SUM(ib) AS nb_b FROM s GROUP BY bin),
    spine AS (SELECT CAST(unnest(range(10)) AS INT) AS bin),
    grid AS (
      SELECT spine.bin, COALESCE(na_b, 0) AS na_b, COALESCE(nb_b, 0) AS nb_b
      FROM spine LEFT JOIN c ON c.bin = spine.bin
    ),
    tot AS (SELECT CAST(SUM(ia) AS BIGINT) AS na, CAST(SUM(ib) AS BIGINT) AS nb
            FROM s),
    terms AS (
      SELECT bin, na_b, nb_b,
             CAST(floor(
               ((CAST(na_b AS DOUBLE) + 0.5) / (CAST(na AS DOUBLE) + 5.0)
                - (CAST(nb_b AS DOUBLE) + 0.5) / (CAST(nb AS DOUBLE) + 5.0))
               * ln(((CAST(na_b AS DOUBLE) + 0.5) / (CAST(na AS DOUBLE) + 5.0))
                    / ((CAST(nb_b AS DOUBLE) + 0.5) / (CAST(nb AS DOUBLE) + 5.0)))
               * 1e9 + 0.5) AS BIGINT) AS tn
      FROM grid CROSS JOIN tot
    ),
    tots AS (SELECT CAST(SUM(tn) AS BIGINT) AS tsum FROM terms)
    SELECT bin, CAST(na_b AS BIGINT) AS n_ref, CAST(nb_b AS BIGINT) AS n_live,
           CAST(tn AS DOUBLE) / 1e9 AS psi_term,
           CAST(tsum AS DOUBLE) / 1e9 AS psi
    FROM terms CROSS JOIN tots
    """,
)
def psi_drift_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the click (reference) and
    purchase (live) `value` distributions -- the ML-ops drift score run
    before features feed a model, complementing KS: KS is the max CDF
    gap (sensitive to one sharp shift), PSI sums per-bin share
    divergence (sensitive to broad reshaping), and production monitors
    report both.

    Ten fixed-width bins over the known value range (width 50, top bin
    open) with +0.5 Laplace smoothing so empty bins contribute finitely.
    Each term (p-q)*ln(p/q) >= 0 is a fixed sequence of correctly-rounded
    double ops snapped to nano-units (rule 7, the chisq discipline -- a
    1-ulp libm ln() difference flips the snapped integer only if a term
    lands within ~1 ulp of a half-nano boundary, which would surface as
    an oracle diff of exactly 1e-9; improbable, not impossible, same
    probabilistic guarantee chisq documents), then summed as exact
    integers -- order-insensitive, engine-exact.

    Scale shape: ONE fact-sized aggregate (groupBy bin), then all
    arithmetic on the 10-row grid with the totals as a broadcast one-row
    relation. Fixed bins are the deliberate choice at 100 TB (a second
    quantile pass is the alternative; the reference-decile variant would
    reuse the percentile_approx broadcast-cutpoint pattern of
    customer_rfm_segments_approx)."""
    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    s = ev.select(
        F.least(F.floor(F.col("value") / F.lit(50.0)), F.lit(9))
        .cast("int")
        .alias("bin"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("ia"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("ib"),
    )
    c = s.groupBy("bin").agg(F.sum("ia").alias("na_b"), F.sum("ib").alias("nb_b"))
    spine = spark.range(10).select(F.col("id").cast("int").alias("bin"))
    grid = spine.join(F.broadcast(c), "bin", "left").select(
        "bin",
        F.coalesce("na_b", F.lit(0)).alias("na_b"),
        F.coalesce("nb_b", F.lit(0)).alias("nb_b"),
    )
    tot = s.agg(
        F.sum("ia").cast("bigint").alias("na"), F.sum("ib").cast("bigint").alias("nb")
    )
    pa = (F.col("na_b").cast("double") + F.lit(0.5)) / (
        F.col("na").cast("double") + F.lit(5.0)
    )
    pb = (F.col("nb_b").cast("double") + F.lit(0.5)) / (
        F.col("nb").cast("double") + F.lit(5.0)
    )
    terms = grid.crossJoin(F.broadcast(tot)).select(
        "bin",
        "na_b",
        "nb_b",
        F.floor((pa - pb) * F.log(pa / pb) * F.lit(1e9) + F.lit(0.5))
        .cast("bigint")
        .alias("tn"),
    )
    tots = terms.agg(F.sum("tn").cast("bigint").alias("tsum"))
    return terms.crossJoin(F.broadcast(tots)).select(
        "bin",
        F.col("na_b").cast("bigint").alias("n_ref"),
        F.col("nb_b").cast("bigint").alias("n_live"),
        (F.col("tn").cast("double") / F.lit(1e9)).alias("psi_term"),
        (F.col("tsum").cast("double") / F.lit(1e9)).alias("psi"),
    )


@register(
    "chisq_lang_source",
    oracle="""
    WITH o AS (
      SELECT lang, source, COUNT(*) AS obs FROM documents GROUP BY 1, 2
    ),
    r AS (SELECT lang, SUM(obs) AS rn FROM o GROUP BY lang),
    c AS (SELECT source, SUM(obs) AS cn FROM o GROUP BY source),
    nt AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM o),
    grid AS (
      SELECT r.lang, c.source, r.rn, c.cn, COALESCE(o.obs, 0) AS obs
      FROM r CROSS JOIN c
      LEFT JOIN o ON o.lang = r.lang AND o.source = c.source
    ),
    terms AS (
      SELECT CAST(floor(
               (CAST(obs AS DOUBLE)
                  - CAST(rn * cn AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(obs AS DOUBLE)
                  - CAST(rn * cn AS DOUBLE) / CAST(n AS DOUBLE))
               / (CAST(rn * cn AS DOUBLE) / CAST(n AS DOUBLE))
               * 1e9 + 0.5) AS BIGINT) AS tn
      FROM grid CROSS JOIN nt
    )
    SELECT CAST(SUM(tn) AS DOUBLE) / 1e9 AS chi2,
           CAST(((SELECT COUNT(*) FROM r) - 1)
              * ((SELECT COUNT(*) FROM c) - 1) AS BIGINT) AS dof,
           (SELECT n FROM nt) AS n
    FROM terms
    """,
)
def chisq_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test on the lang x source contingency
    table -- the drift/leakage check for categorical structure (is a
    corpus source over-contributing one language? did a split break
    stratification?).

    The full grid (row-marginals x col-marginals, zero-filled via left
    join) is used so empty observed cells still contribute their
    expectation. Every per-cell term is a fixed sequence of
    correctly-rounded double ops (rule 19) snapped to nano-units
    (rule 7), then summed as exact integers -- order-insensitive,
    engine-exact. Marginals are category-sized aggregates; everything
    broadcasts."""
    o = t(spark, sf_dir, "documents").groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("obs")
    )
    r = o.groupBy("lang").agg(F.sum("obs").alias("rn"))
    c = o.groupBy("source").agg(F.sum("obs").alias("cn"))
    nt = o.agg(F.sum("obs").cast("bigint").alias("n"))
    grid = (
        r.crossJoin(F.broadcast(c))
        .join(o, ["lang", "source"], "left")
        .select("lang", "source", "rn", "cn", F.coalesce("obs", F.lit(0)).alias("obs"))
    )
    e = (F.col("rn") * F.col("cn")).cast("double") / F.col("n").cast("double")
    diff = F.col("obs").cast("double") - e
    tn = F.floor(diff * diff / e * F.lit(1e9) + F.lit(0.5)).cast("bigint")
    n_r = r.agg(F.count(F.lit(1)).alias("kr"))
    n_c = c.agg(F.count(F.lit(1)).alias("kc"))
    return (
        grid.crossJoin(F.broadcast(nt))
        .agg(F.sum(tn).alias("tsum"))
        .crossJoin(F.broadcast(n_r))
        .crossJoin(F.broadcast(n_c))
        .crossJoin(F.broadcast(nt))
        .select(
            (F.col("tsum").cast("double") / F.lit(1e9)).alias("chi2"),
            ((F.col("kr") - 1) * (F.col("kc") - 1)).cast("bigint").alias("dof"),
            F.col("n"),
        )
    )


# ------------------------------------------------------------- bootstrap

import math as _math

_BOOT_B = 32  # bootstrap replicates
# Poisson(1) CDF thresholds for inverse-CDF sampling of per-row weights;
# computed once and inlined as identical literals into BOTH engines'
# expressions (repr round-trips exactly).
_POIS_CDF = [
    _math.exp(-1) * sum(1 / _math.factorial(k) for k in range(j + 1))
    for j in range(7)
]


def _boot_weight_sql(u: str) -> str:
    """Poisson(1) weight from a uniform via inverse CDF -- portable SQL."""
    cases = " ".join(
        f"WHEN {u} < {t!r} THEN {j}" for j, t in enumerate(_POIS_CDF)
    )
    return f"(CASE {cases} ELSE 7 END)"


@register(
    "bootstrap_mean_ci",
    oracle=f"""
    WITH base AS (
      SELECT event_id, value FROM events WHERE event_type = 'purchase'
    ),
    rep AS (
      SELECT b.b, base.event_id, base.value,
             CAST(('0x' || substr(md5(CAST(base.event_id AS VARCHAR) || ':'
                     || CAST(b.b AS VARCHAR) || ':boot'), 1, 6))::BIGINT
                  AS DOUBLE) / CAST(16777216 AS DOUBLE) AS u
      FROM base CROSS JOIN (SELECT unnest(range({_BOOT_B})) AS b) b
    ),
    means AS (
      SELECT b,
             CAST(SUM(CAST(value AS DECIMAL(38,6))
                      * {_boot_weight_sql('u')}) AS DOUBLE)
               / CAST(SUM({_boot_weight_sql('u')}) AS DOUBLE) AS mean_b
      FROM rep GROUP BY b
    ),
    ranked AS (
      SELECT mean_b, ROW_NUMBER() OVER (ORDER BY mean_b, b) AS rn FROM means
    ),
    pt AS (
      SELECT CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS mean_full,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM base
    )
    SELECT CAST({_BOOT_B} AS BIGINT) AS n_reps, n_rows, mean_full,
           (SELECT mean_b FROM ranked WHERE rn = 2) AS ci_lo,
           (SELECT mean_b FROM ranked WHERE rn = {_BOOT_B - 1}) AS ci_hi
    FROM pt
    """,
)
def bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 93.75% confidence interval for the mean purchase
    value (B=32 replicates; CI = 2nd/31st order statistics of the
    replicate means) -- the uncertainty quantification a metrics pipeline
    attaches to every point estimate.

    The Poisson bootstrap is THE distributed bootstrap: instead of
    resampling n rows with replacement (which needs global coordination),
    each row independently draws a Poisson(1) multiplicity per replicate
    -- a narrow per-row expression, embarrassingly parallel, one shuffle
    per replicate batch (here a single groupBy over the exploded
    replicate index; at 100 TB the B weights ride ONE pass as B weighted
    partial aggregates, data read once). Determinism: the 'random' draw
    is an md5 inverse-CDF lookup (u exact as a 24-bit integer over 2^24;
    thresholds inlined as identical literals in both engines), weighted
    sums ride DECIMAL(38,6) (rule 1), and the final divisions are
    correctly rounded (rule 19) -- the whole CI is reproducible
    bit-for-bit across engines, runs, and partitionings."""
    base = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "value")
    )
    rep = base.select(
        "event_id",
        "value",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    ).withColumn(
        "u",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("event_id").cast("string"),
                        F.lit(":"),
                        F.col("b").cast("string"),
                        F.lit(":boot"),
                    )
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(16777216.0),
    )
    wexpr = F.expr(_boot_weight_sql("u"))
    means = rep.groupBy("b").agg(
        (
            F.sum(F.col("value").cast("decimal(38,6)") * wexpr).cast("double")
            / F.sum(wexpr).cast("double")
        ).alias("mean_b")
    )
    rn = F.row_number().over(Window.orderBy("mean_b", "b"))
    ranked = means.select("mean_b", rn.alias("rn"))
    # both order statistics in ONE pass over the replicate means (two
    # rn-filters would execute the 32-replicate aggregation twice)
    ci = ranked.agg(
        F.max(F.when(F.col("rn") == 2, F.col("mean_b"))).alias("ci_lo"),
        F.max(F.when(F.col("rn") == _BOOT_B - 1, F.col("mean_b"))).alias("ci_hi"),
    )
    pt = base.agg(
        (
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_full"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )
    return pt.select(
        F.lit(_BOOT_B).cast("bigint").alias("n_reps"), "n_rows", "mean_full"
    ).crossJoin(F.broadcast(ci))


# ------------------------------------------------ distributed selection

_MEDIAN_BUCKET = 16384  # cents per phase-1 bucket


@register(
    "distributed_exact_median",
    oracle=f"""
    WITH c AS (
      SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
      FROM lineitem
    ),
    ranked AS (
      SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rn,
             COUNT(*) OVER () AS n
      FROM c
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS BIGINT)
             AS median_cents
    FROM ranked
    """,
)
def distributed_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global median with NO global sort and NO single-partition
    window -- the two-phase distributed selection that several catalog
    docstrings cite as the 100 TB twin of their stated-semantics
    windows, implemented and gated here.

    Phase 1 bins values into fixed-width integer buckets (cents div
    {_MEDIAN_BUCKET}) and aggregates counts -- one narrow shuffle of
    O(buckets) rows; the cumulative scan and rank targeting run on that
    tiny grid. Phase 2 touches ONLY the bucket containing the target
    rank: its rows (a 1/buckets fraction of data) are ranked locally and
    the offset row selected. Both phases are lazy dataframe ops -- the
    target bucket travels as a broadcast one-row relation, never a
    driver collect. Oracle: the naive global order statistic. Values
    snap to integer cents via floor(x*100+0.5) (rule 7) so ranking is
    integer-exact in both engines."""
    li = t(spark, sf_dir, "lineitem")
    c = li.select(
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("cents")
    )
    grid = c.groupBy(F.expr(f"cents div {_MEDIAN_BUCKET}").alias("bucket")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wcum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = grid.select(
        "bucket", "cnt", F.sum("cnt").over(wcum).alias("cum")
    )
    n = c.agg(F.count(F.lit(1)).alias("n"))
    target = (
        cum.crossJoin(F.broadcast(n))
        .filter(F.col("cum") >= F.expr("(n + 1) div 2"))
        .orderBy("bucket")
        .limit(1)
        .select(
            "bucket",
            (F.expr("(n + 1) div 2") - (F.col("cum") - F.col("cnt"))).alias("offset"),
            "n",
        )
    )
    in_bucket = c.join(
        F.broadcast(target),
        F.expr(f"cents div {_MEDIAN_BUCKET}") == F.col("bucket"),
    )
    wlocal = Window.partitionBy("bucket").orderBy("cents")
    return (
        in_bucket.withColumn("rn", F.row_number().over(wlocal))
        .filter(F.col("rn") == F.col("offset"))
        .select(
            F.col("n").cast("bigint").alias("n"),
            F.col("cents").cast("bigint").alias("median_cents"),
        )
    )


# --------------------------------------------------------- digit auditing

_BENFORD = [
    0.3010299956639812, 0.17609125905568124, 0.12493873660829992,
    0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
    0.05799194697768673, 0.05115252244738129, 0.04575749056067514,
]
# literals wrapped in CAST(.. AS DOUBLE): bare decimal literals parse as
# DECIMAL in BOTH Spark SQL and DuckDB (DETERMINISM.md rule 5)
_BENFORD_SQL = "CASE digit " + " ".join(
    f"WHEN {d + 1} THEN CAST({p!r} AS DOUBLE)" for d, p in enumerate(_BENFORD)
) + " END"


@register(
    "benford_first_digit",
    oracle=f"""
    WITH c AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_totalprice >= 0.005
    ),
    d AS (
      SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit
      FROM c
    ),
    agg AS (
      SELECT digit, COUNT(*) AS n FROM d GROUP BY digit
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM agg)
    SELECT digit, CAST(n AS BIGINT) AS n,
           CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE) AS obs_share,
           {_BENFORD_SQL} AS exp_share,
           abs(CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)
               - {_BENFORD_SQL}) AS abs_dev
    FROM agg CROSS JOIN tot
    """,
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals -- the classic
    fabricated-numbers / unit-mixup detector a data-quality pipeline
    runs on monetary columns (organic multiplicative amounts follow
    log10(1+1/d); flat or spiked digit histograms flag synthetic or
    corrupted feeds).

    Digit extraction stays integer/string-exact: values snap to cents
    (floor(x*100+0.5), rule 7) and the leading digit is the first char
    of the BIGINT's decimal rendering -- no log10, so no libm hazard
    anywhere; expected shares are inlined as identical repr literals in
    both engines and the share arithmetic is correctly-rounded division
    and subtraction (rule 19). One O(9)-row aggregate; TPC-H totals are
    range-bounded (~1k-500k) so their Benford fit is itself a data
    property the table reports, not assumes."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 0.005)
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    d = o.select(
        F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit")
    )
    agg = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = agg.agg(F.sum("n").cast("bigint").alias("n_total"))
    exp = F.expr(_BENFORD_SQL)
    obs = F.col("n").cast("double") / F.col("n_total").cast("double")
    return agg.crossJoin(F.broadcast(tot)).select(
        "digit",
        F.col("n").cast("bigint").alias("n"),
        obs.alias("obs_share"),
        exp.alias("exp_share"),
        F.abs(obs - exp).alias("abs_dev"),
    )


@register(
    "user_behavior_entropy",
    oracle="""
    WITH ct AS (
      SELECT user_id, event_type, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    per_user AS (
      SELECT user_id,
             CAST(SUM(c) AS BIGINT) AS n_events,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             list_sort(list(CAST(c AS DOUBLE))) AS counts
      FROM ct GROUP BY user_id
    )
    SELECT user_id, n_events, n_types,
           round(log2(CAST(n_events AS DOUBLE))
             - list_reduce(list_transform(counts, c -> c * log2(c)), (a, b) -> a + b)
               / CAST(n_events AS DOUBLE), 6) AS entropy_bits
    FROM per_user
    """,
)
def user_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy over event-type usage (bits) -- the
    behavioral-diversity feature: bots and single-purpose scripts sit
    near 0, organic users spread across types. The events-table sibling
    of token_entropy, same determinism discipline: the log2 fold runs
    over the SORTED per-user count array (rule 17 -- aggregation order
    is engine-specific otherwise) and rounds to 6 decimals (rule 18).
    Two shuffles, both keyed on user_id; output O(users)."""
    ev = t(spark, sf_dir, "events")
    ct = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    per_user = ct.groupBy("user_id").agg(
        F.sum("c").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.array_sort(F.collect_list(F.col("c").cast("double"))).alias("counts"),
    )
    clogc = F.aggregate(
        F.transform("counts", lambda c: c * F.log2(c)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    ent = F.log2(F.col("n_events").cast("double")) - clogc / F.col("n_events").cast(
        "double"
    )
    return per_user.select(
        "user_id", "n_events", "n_types", F.round(ent, 6).alias("entropy_bits")
    )


@register(
    "theilsen_trend_event_values",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS m
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type,
             (b.m - a.m) / CAST(date_diff('day', a.day, b.day) AS DOUBLE)
               AS slope
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day < b.day
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           median(slope) AS theil_sen_slope
    FROM pairs GROUP BY event_type
    """,
)
def theilsen_trend_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event type: the median of all pairwise
    day-to-day slopes of the daily mean value -- the drift-TREND
    companion to the KS/PSI drift DETECTORS (is the metric drifting, and
    how fast, robust to outlier days that wreck a least-squares fit;
    breakdown point ~29%).

    Exactness without snapping: daily means are decimal-exact sums cast
    once to double then divided (identical op sequence in both engines);
    each slope is one subtraction and one division of those exact
    doubles; the median of an odd pair count selects an element, of an
    even count averages two -- every step correctly rounded and
    identical cross-engine (DETERMINISM.md: div/selection are exact).

    Scale shape: the pairwise join is O(days^2) per group on the
    DAY-AGGREGATED relation -- ~30 days = 435 slope rows per type, a
    few thousand rows TOTAL regardless of fact size; the only
    fact-sized pass is the first groupBy. At longer horizons cap the
    window (trailing 90 days) or switch to the repeated-median variant;
    the pair join stays an equi-join on the group key either way."""
    daily = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            (
                F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
    )
    a = daily.select(
        "event_type", F.col("day").alias("day_a"), F.col("m").alias("m_a")
    )
    b = daily.select(
        "event_type", F.col("day").alias("day_b"), F.col("m").alias("m_b")
    )
    slopes = (
        a.join(b, "event_type")
        .filter(F.col("day_a") < F.col("day_b"))
        .select(
            "event_type",
            (
                (F.col("m_b") - F.col("m_a"))
                / F.datediff(F.col("day_b"), F.col("day_a")).cast("double")
            ).alias("slope"),
        )
    )
    return slopes.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.percentile(F.col("slope"), F.lit(0.5)).alias("theil_sen_slope"),
    )


@register(
    "mannwhitney_u_event_values",
    eager_build=True,
    oracle="""
    WITH s AS (
      SELECT value,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ib
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    pv AS (SELECT value, SUM(ia) AS ca, SUM(ib) AS cb FROM s GROUP BY value),
    cum AS (
      SELECT value, ca, cb,
             COALESCE(SUM(ca) OVER (ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cuma_less
      FROM pv
    ),
    tot AS (SELECT CAST(SUM(ia) AS BIGINT) AS n, CAST(SUM(ib) AS BIGINT) AS m
            FROM s)
    SELECT n, m,
           CAST(2 * SUM(cb * cuma_less) + SUM(ca * cb) AS BIGINT) AS u2,
           CAST(CAST(2 * SUM(cb * cuma_less) + SUM(ca * cb) AS BIGINT)
                AS DOUBLE)
             / (2.0 * CAST(n AS DOUBLE) * CAST(m AS DOUBLE)) AS auc
    FROM cum CROSS JOIN tot GROUP BY n, m
    """,
)
def mannwhitney_u_event_values(
    spark: SparkSession, sf_dir: str, cuts: list[float] | None = None
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between the click and purchase
    `value` distributions -- the RANK-based drift test that completes the
    detector family: KS sees the max CDF gap, PSI broad reshaping, and
    U asks the stochastic-dominance question (does one population tend
    to larger values), with AUC = U/(n*m) as its effect size (the
    probability a random purchase exceeds a random click, ties half).

    INTEGER-exact: U needs only pair counts -- U = sum_v cb(v) *
    #clicks-below-v + ties/2 -- so the entry carries 2U as a bigint
    (ties contribute ca*cb whole units) and derives AUC by one division
    of exact integers: engine-identical with no snapping. The pair-count
    products accumulate in decimal(38,0) (matching the oracle's HUGEINT
    sum), so very large n*m can never wrap an int64 silently.

    Scale shape: the SAME production prefix-sum as
    ks_drift_event_values_distributed -- collapse to the distinct value
    support, slice by broadcast percentile cutpoints (a deterministic
    function of the value; no ReuseExchange dependence), per-slice
    cumulative counts partitioned by slice id, slice offsets through a
    broadcast theta-join. One fact-sized shuffle total."""
    s = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "value",
            F.when(F.col("event_type") == "click", 1).otherwise(0).alias("ia"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("ib"),
        )
    )
    pv = s.groupBy("value").agg(F.sum("ia").alias("ca"), F.sum("ib").alias("cb"))
    # Eager cutpoint job at construction time (see collect_value_cutpoints);
    # explain-only callers pass `cuts` to keep the build side-effect-free.
    if cuts is None:
        cuts = collect_value_cutpoints(pv)
    pvr = pv.withColumn("pid", value_slice_pid(cuts).cast("int"))
    wloc = (
        Window.partitionBy("pid")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    loc = pvr.select(
        "pid", "value", "ca", "cb",
        (F.sum("ca").over(wloc) - F.col("ca")).alias("la_less"),
    )
    slice_tot = pvr.groupBy("pid").agg(F.sum("ca").alias("ta"))
    prior = slice_tot.select(
        F.col("pid").alias("ppid"), F.col("ta").alias("pta")
    )
    offsets = (
        slice_tot.join(F.broadcast(prior), F.col("ppid") < F.col("pid"), "left")
        .groupBy("pid")
        .agg(F.coalesce(F.sum("pta"), F.lit(0)).alias("oa"))
    )
    cum = loc.join(F.broadcast(offsets), "pid").select(
        "value", "ca", "cb",
        (F.col("la_less") + F.col("oa")).alias("cuma_less"),
    )
    tot = s.agg(
        F.sum("ia").cast("bigint").alias("n"), F.sum("ib").cast("bigint").alias("m")
    )
    # House decimal-sum discipline: the oracle sums cb*cuma_less in
    # HUGEINT; a bigint product sum would WRAP silently at int64 overflow
    # in non-ANSI Spark. decimal(19,0) operands make the product exact up
    # to 2^126 < 10^38 and the accumulation decimal(38,0) -- overflow
    # (unreachable until 2U itself exceeds 10^38) would surface as null,
    # never a wrong number. 2U <= 2nm must still fit the bigint OUTPUT
    # column, a precondition the oracle's own BIGINT cast shares.
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    u2_dec = (
        F.lit(2).cast("decimal(19,0)") * F.sum(dec("cb") * dec("cuma_less"))
        + F.sum(dec("ca") * dec("cb"))
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n", "m")
        .agg(
            u2_dec.cast("bigint").alias("u2"),
            (
                u2_dec.cast("double")
                / (
                    F.lit(2.0)
                    * F.col("n").cast("double")
                    * F.col("m").cast("double")
                )
            ).alias("auc"),
        )
    )


@register(
    "cusum_changepoint_event_values",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             CAST(floor(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                  / COUNT(*) * 1e9 + 0.5) AS BIGINT) AS mn
      FROM events GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(mn) AS BIGINT) AS total
      FROM daily GROUP BY 1
    ),
    cum AS (
      SELECT d.event_type, d.day, t.n_days, t.total,
             CAST(SUM(mn) OVER (PARTITION BY d.event_type ORDER BY d.day)
                  AS BIGINT) AS cs,
             CAST(ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.day)
                  AS BIGINT) AS k
      FROM daily d JOIN tot t ON t.event_type = d.event_type
    ),
    dev AS (
      SELECT event_type, day, n_days,
             abs(n_days * cs - k * total) AS dabs
      FROM cum WHERE k < n_days
    ),
    sel AS (
      SELECT event_type, day, n_days, dabs,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY dabs DESC, day) AS r
      FROM dev
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS changepoint_day,
           CAST(dabs AS DOUBLE) / (CAST(n_days AS DOUBLE) * 1e9) AS cusum_max
    FROM sel WHERE r = 1
    """,
)
def cusum_changepoint_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint per event type: the day k maximizing the
    cumulative deviation of daily means from their series mean -- WHERE
    the shift happened, completing the drift toolkit (KS/PSI/U detect
    THAT distributions differ, Theil-Sen how fast the level trends,
    CUSUM locates the break).

    Integer-exact ranking: each daily mean is nano-snapped once (the
    psi/chisq discipline), then the scaled deviation |n*CumSum_k -
    k*Total| is pure bigint arithmetic -- same argmax as the textbook
    |S_k| (scaled by n), with NO float accumulation across days, so the
    selected day and the emitted magnitude are engine-identical
    (magnitude = one exact division at the end). Ties break to the
    earliest day.

    Scale shape: everything after the one fact-sized groupBy runs on the
    O(groups x days) relation; the cumulative window is PARTITIONED by
    event_type (never global). Bounds: n*cs and k*total stay far inside
    int64 for nano-snapped means < ~1e6 and horizons of years."""
    daily = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            F.floor(
                (
                    F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
                    / F.count(F.lit(1))
                )
                * F.lit(1e9)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("mn")
        )
    )
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("mn").cast("bigint").alias("total"),
    )
    wcum = Window.partitionBy("event_type").orderBy("day")
    cum = (
        daily.join(F.broadcast(tot), "event_type")
        .select(
            "event_type", "day", "n_days", "total",
            F.sum("mn").over(wcum).cast("bigint").alias("cs"),
            F.row_number().over(wcum).cast("bigint").alias("k"),
        )
        .filter(F.col("k") < F.col("n_days"))
    )
    dev = cum.select(
        "event_type", "day", "n_days",
        F.abs(F.col("n_days") * F.col("cs") - F.col("k") * F.col("total")).alias(
            "dabs"
        ),
    )
    wsel = Window.partitionBy("event_type").orderBy(F.col("dabs").desc(), "day")
    return (
        dev.withColumn("r", F.row_number().over(wsel))
        .filter(F.col("r") == 1)
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("changepoint_day"),
            (
                F.col("dabs").cast("double")
                / (F.col("n_days").cast("double") * F.lit(1e9))
            ).alias("cusum_max"),
        )
    )


@register(
    "seasonal_decompose_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(value * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS vn
      FROM events GROUP BY 1
    ), win AS (
      SELECT day, vn,
             SUM(vn) OVER w AS t7, COUNT(*) OVER w AS c7
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), det AS (
      SELECT day, vn, 7 * vn - t7 AS d_n,
             datediff('day', DATE '1970-01-01', day) % 7 AS dow
      FROM win WHERE c7 = 7
    ), seas AS (
      SELECT dow, CAST(SUM(d_n) AS BIGINT) AS s_num, COUNT(*) AS s_cnt
      FROM det GROUP BY dow
    )
    SELECT CAST(d.day AS VARCHAR) AS day,
           CAST(d.dow AS BIGINT) AS dow,
           d.vn,
           CAST(d.d_n AS BIGINT) AS d_n,
           s.s_num,
           CAST(s.s_cnt AS BIGINT) AS s_cnt,
           CAST(d.d_n * s.s_cnt - s.s_num AS BIGINT) AS r_num,
           CAST(d.vn AS DOUBLE) / 1000000000 AS v,
           CAST(d.d_n AS DOUBLE) / 7000000000 AS detrended,
           CAST(s.s_num AS DOUBLE) / (s.s_cnt * 7000000000) AS seasonal
    FROM det d JOIN seas s USING (dow)
    """,
)
def seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition of the daily event-value series
    (additive, period 7): trend = centered 7-day moving average,
    seasonal = day-of-week mean of the detrended series, residual = the
    rest -- the time-series triple the drift family (KS/PSI/CUSUM
    above) assumes has already been removed.  Everything is EXACT
    integer arithmetic in scaled nano units: per-event values snap once
    (floor(x*1e9+0.5), DETERMINISM.md rule 7), daily totals vn are
    bigint sums, the detrended numerator d_n = 7*vn - window_sum keeps
    the /7 exact by scaling, and the residual numerator
    r_num = d_n*s_cnt - s_num keeps the dow-mean exact the same way;
    every published double is ONE division of a bigint by a constant,
    so both engines round identically.  Day-of-week is epoch-day mod 7
    (Spark and DuckDB disagree on dayofweek() numbering -- mod is
    engine-neutral).

    Scale shape: one O(days) shuffle for the daily rollup, then every
    window/aggregate runs on the CALENDAR-BOUNDED day relation (the
    unpartitioned ORDER BY day window is over ~31 rows per month by
    construction, documented per the house rule on unpartitioned
    windows).  Edge days without a full 7-day window are dropped
    (c7 = 7), not extrapolated.

    Reference parity: the reference's analytics stop at yearly GDP/
    unemployment ratios (DAG2:1-82); decomposition is the standard
    next step a production metrics pipeline needs.
    """
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 1e9 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("vn")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    win = daily.select(
        "day",
        "vn",
        F.sum("vn").over(w).alias("t7"),
        F.count(F.lit(1)).over(w).alias("c7"),
    )
    det = win.filter(F.col("c7") == 7).select(
        "day",
        "vn",
        (F.lit(7) * F.col("vn") - F.col("t7")).alias("d_n"),
        (F.datediff("day", F.lit("1970-01-01")) % 7).alias("dow"),
    )
    seas = det.groupBy("dow").agg(
        F.sum("d_n").cast("bigint").alias("s_num"),
        F.count(F.lit(1)).alias("s_cnt"),
    )
    return det.join(F.broadcast(seas), "dow").select(
        F.col("day").cast("string").alias("day"),
        F.col("dow").cast("bigint").alias("dow"),
        "vn",
        F.col("d_n").cast("bigint").alias("d_n"),
        "s_num",
        F.col("s_cnt").cast("bigint").alias("s_cnt"),
        (F.col("d_n") * F.col("s_cnt") - F.col("s_num")).cast("bigint").alias("r_num"),
        (F.col("vn").cast("double") / F.lit(1e9)).alias("v"),
        (F.col("d_n").cast("double") / F.lit(7e9)).alias("detrended"),
        (F.col("s_num").cast("double") / (F.col("s_cnt") * F.lit(7e9)).cast("double")).alias("seasonal"),
    )


@register(
    "kaplan_meier_sessions",
    oracle="""
    WITH b AS (SELECT MAX(ts) AS max_ts FROM events),
    seq AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR date_diff('second', LAG(ts) OVER w, ts) > 1800
             THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM seq
    ), spans AS (
      SELECT user_id, sid, MIN(ts) AS t0, MAX(ts) AS t1
      FROM sess GROUP BY 1, 2
    ), lives AS (
      SELECT CASE WHEN date_diff('second', t1, b.max_ts) > 1800 THEN 1 ELSE 0 END AS died,
             CAST(FLOOR(date_diff('second', t0, t1) / 60) AS BIGINT) AS dur_min
      FROM spans CROSS JOIN b
    ), grid AS (
      SELECT dur_min, CAST(SUM(died) AS BIGINT) AS d_t,
             CAST(SUM(1 - died) AS BIGINT) AS c_t,
             CAST(COUNT(*) AS BIGINT) AS ending
      FROM lives GROUP BY dur_min
    ), risk AS (
      SELECT dur_min, d_t, c_t,
             CAST(SUM(ending) OVER (ORDER BY dur_min DESC
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_t
      FROM grid
    ), terms AS (
      SELECT dur_min, d_t, c_t, n_t,
             CAST(n_t - d_t AS BIGINT) AS step_num,
             CASE WHEN d_t = 0 THEN CAST(0 AS BIGINT)
                  WHEN n_t > d_t THEN CAST(FLOOR(
                    ln(CAST(n_t - d_t AS DOUBLE) / n_t) * 1000000000 + 0.5
                  ) AS BIGINT)
                  ELSE NULL END AS term_n
      FROM risk
    )
    SELECT dur_min, n_t, d_t, c_t, step_num,
           CASE WHEN MAX(CASE WHEN term_n IS NULL THEN 1 ELSE 0 END)
                     OVER (ORDER BY dur_min ROWS UNBOUNDED PRECEDING) = 1
                THEN NULL
                ELSE CAST(SUM(term_n) OVER (ORDER BY dur_min
                                            ROWS UNBOUNDED PRECEDING) AS BIGINT)
           END AS s_log_n
    FROM terms
    """,
)
def kaplan_meier_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit estimator over session lifetimes:
    survival S(t) of a 30-min-gap session reaching duration t minutes,
    with sessions still open at the observation boundary (within one
    gap of the global max timestamp) RIGHT-CENSORED at their observed
    duration -- the survival-analysis family (risk sets, censoring,
    product-limit) the retention/funnel entries above stop short of.

    Per duration row: the at-risk count n_t (reverse running sum --
    sessions ending at t count as at-risk THROUGH t, censored ties
    included, the standard KM convention), deaths d_t, censorings c_t,
    and the log-survival accumulator ``s_log_n`` = running sum of
    per-step ln((n_t-d_t)/n_t) snapped to nano units BEFORE summation
    (the `psi_drift_event_values` discipline: each term is one ln of
    an identical double rational in both engines, snapped, so the sum
    is integer-exact; cross-engine divergence would need a >=0.5-ulp
    libm split on a term, improbable not impossible). If the largest
    duration has every at-risk session die (n_t = d_t), S hits exact
    zero and ``s_log_n`` goes NULL from that row on (absorbing state,
    flagged identically in both engines) rather than faking -inf.

    Scale shape: sessionization is the one shuffle on user_id
    (`sessionize`, operators/reshape.py -- partitioning reused across
    both window passes and the span aggregate); the KM grid then lives
    on the duration relation, BOUNDED by minutes-in-horizon, so its
    unpartitioned windows are calendar-bounded by construction (house
    rule). Censoring on this fixture is boundary-only (~7 of ~9.5k
    sessions at sf0.01) but enters the risk sets through the same
    code path arbitrary censoring would.
    """
    from ..operators.reshape import sessionize

    ev = t(spark, sf_dir, "events")
    spans = (
        sessionize(ev, "user_id", "ts", 1800, tiebreak_cols=["event_id"])
        .groupBy("user_id", "session_no")
        .agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    )
    b = spans.agg(F.max("t1").alias("max_ts"))
    lives = spans.crossJoin(F.broadcast(b)).select(
        F.when(
            F.unix_timestamp("max_ts") - F.unix_timestamp("t1") > 1800, F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("died"),
        F.floor(
            (F.unix_timestamp("t1") - F.unix_timestamp("t0")) / 60
        )
        .cast("bigint")
        .alias("dur_min"),
    )
    grid = lives.groupBy("dur_min").agg(
        F.sum("died").cast("bigint").alias("d_t"),
        F.sum(F.lit(1) - F.col("died")).cast("bigint").alias("c_t"),
        F.count(F.lit(1)).cast("bigint").alias("ending"),
    )
    w_desc = Window.orderBy(F.col("dur_min").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = grid.select(
        "dur_min",
        "d_t",
        "c_t",
        F.sum("ending").over(w_desc).cast("bigint").alias("n_t"),
    )
    terms = risk.select(
        "dur_min",
        "d_t",
        "c_t",
        "n_t",
        (F.col("n_t") - F.col("d_t")).cast("bigint").alias("step_num"),
        F.when(F.col("d_t") == 0, F.lit(0).cast("bigint"))
        .when(
            F.col("n_t") > F.col("d_t"),
            F.floor(
                F.log((F.col("n_t") - F.col("d_t")).cast("double") / F.col("n_t"))
                * F.lit(1e9)
                + F.lit(0.5)
            ).cast("bigint"),
        )
        .otherwise(F.lit(None).cast("bigint"))
        .alias("term_n"),
    )
    w_asc = Window.orderBy("dur_min").rowsBetween(Window.unboundedPreceding, 0)
    return terms.select(
        "dur_min",
        "n_t",
        "d_t",
        "c_t",
        "step_num",
        F.when(
            F.max(F.when(F.col("term_n").isNull(), 1).otherwise(0)).over(w_asc) == 1,
            F.lit(None).cast("bigint"),
        )
        .otherwise(F.sum("term_n").over(w_asc).cast("bigint"))
        .alias("s_log_n"),
    )


@register(
    "acf_daily_lags",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(value * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS vn
      FROM events GROUP BY 1
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(vn) AS BIGINT) AS s FROM daily
    ), dev AS (
      SELECT day, CAST(tot.n AS DECIMAL(38,0)) * vn - tot.s AS dv
      FROM daily CROSS JOIN tot
    ), den AS (SELECT SUM(dv * dv) AS den FROM dev),
    lags AS (SELECT unnest(range(1, 8)) AS lag),
    pairs AS (
      SELECT l.lag, SUM(a.dv * b.dv) AS num
      FROM dev a CROSS JOIN lags l
      JOIN dev b ON b.day = a.day + CAST(l.lag AS INTEGER)
      GROUP BY l.lag
    )
    SELECT CAST(p.lag AS BIGINT) AS lag,
           CAST(p.num AS DOUBLE) AS num_d,
           CAST(d.den AS DOUBLE) AS den_d,
           CAST(p.num AS DOUBLE) / CAST(d.den AS DOUBLE) AS acf
    FROM pairs p CROSS JOIN den d
    """,
)
def acf_daily_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the daily event-value series at lags
    1..7 -- the diagnostic that motivates `seasonal_decompose_daily`
    above (a weekly cycle surfaces as a lag-7 peak; residual whiteness
    checks read the same function after decomposition).

    Exactness: deviations are scaled by n so they stay integers
    (dv_t = n*vn_t - sum), lag products and the variance accumulate in
    decimal(38,0) (|dv| < n*|vn| ~ 3e15 here, so sums stay ~33 digits
    -- within decimal(38) headroom up to multi-year horizons; the
    precondition is documented, matching the cusum discipline), and
    each published double is one decimal->double cast (house-trusted,
    the `exact_sum` pattern) with acf one further division.

    Scale shape: one O(days) shuffle builds the daily relation; the
    lag pairing is an equi-join of the CALENDAR-BOUNDED day grid
    against itself on day+lag (7x~31 rows -- broadcastable by
    construction), never a window over the fact table.
    """
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 1e9 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("vn")
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("vn").cast("bigint").alias("s"),
    )
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        (F.col("n").cast("decimal(38,0)") * F.col("vn") - F.col("s")).alias("dv"),
    )
    den = dev.agg(F.sum(F.col("dv") * F.col("dv")).alias("den"))
    lags = spark.range(1, 8).select(F.col("id").alias("lag"))
    left = dev.crossJoin(F.broadcast(lags)).select(
        "lag",
        "dv",
        F.date_add("day", F.col("lag").cast("int")).alias("jday"),
    )
    right = dev.select(F.col("day").alias("jday"), F.col("dv").alias("dv2"))
    pairs = (
        left.join(right, "jday")
        .groupBy("lag")
        .agg(F.sum(F.col("dv") * F.col("dv2")).alias("num"))
    )
    return pairs.crossJoin(F.broadcast(den)).select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("num").cast("double").alias("num_d"),
        F.col("den").cast("double").alias("den_d"),
        (F.col("num").cast("double") / F.col("den").cast("double")).alias("acf"),
    )


@register(
    "gini_user_spend",
    eager_build=True,
    oracle="""
    WITH s AS (
      SELECT user_id,
             CAST(SUM(CAST(FLOOR(value * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS sn
      FROM events GROUP BY user_id
    ), ranked AS (
      SELECT sn, ROW_NUMBER() OVER (ORDER BY sn, user_id) AS rk FROM s
    ), agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(CAST(sn AS DECIMAL(38,0))) AS DOUBLE) AS sum_spend,
             CAST(SUM(CAST(rk AS DECIMAL(38,0)) * sn) AS DOUBLE) AS rank_weighted
      FROM ranked
    )
    SELECT n_users, sum_spend, rank_weighted,
           (2.0 * rank_weighted - (n_users + 1) * sum_spend)
             / (n_users * sum_spend) AS gini
    FROM agg
    """,
)
def gini_user_spend(
    spark: SparkSession, sf_dir: str, cuts: list[float] | None = None
) -> DataFrame:
    """Gini coefficient of per-user spend -- the revenue-concentration
    statistic (0 = perfectly equal, ->1 = one whale), computed from the
    sorted-rank identity G = (2*SUM(rank*x) - (n+1)*SUM(x)) / (n*SUM(x)).

    The interesting part at 100 TB is the GLOBAL RANK: the oracle's
    ROW_NUMBER() OVER (ORDER BY ...) would be a single-partition window
    in Spark. This plan ranks distributedly instead -- the house
    cutpoint discipline (`collect_value_cutpoints`): broadcast
    percentile boundaries make the slice id a deterministic function of
    the spend, per-slice counts prefix-sum on the BOUNDED slice grid
    (<= 33 rows), and a within-slice row_number (window PARTITIONED by
    slice) plus the slice offset reconstructs the exact global rank
    with no unpartitioned window anywhere. Ties rank by (sn, user_id)
    -- a total order, and SUM(rank*x) is tie-order invariant anyway.

    Exactness: spend snaps once per event to nano units, all
    accumulations are decimal(38,0), the published doubles are one
    decimal cast each, and gini is the identical IEEE expression over
    those doubles in both engines. EAGER build caveat: like the KS/
    Mann-Whitney entries, collecting cutpoints runs one job at plan
    construction; explain-only callers pass ``cuts``.
    """
    ev = t(spark, sf_dir, "events")
    s = ev.groupBy("user_id").agg(
        F.sum(F.floor(F.col("value") * 1e9 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("sn")
    )
    pv = s.select(F.col("sn").cast("double").alias("value"))
    if cuts is None:
        cuts = collect_value_cutpoints(pv, 32)
    sliced = s.withColumn("value", F.col("sn").cast("double")).withColumn(
        "slice", value_slice_pid(cuts)
    )
    per_slice = sliced.groupBy("slice").agg(F.count(F.lit(1)).alias("cnt"))
    w_grid = Window.orderBy("slice").rowsBetween(Window.unboundedPreceding, -1)
    offsets = per_slice.select(
        "slice", F.coalesce(F.sum("cnt").over(w_grid), F.lit(0)).alias("offset")
    )
    w_in = Window.partitionBy("slice").orderBy("sn", "user_id")
    ranked = (
        sliced.join(F.broadcast(offsets), "slice")
        .withColumn("rk", F.row_number().over(w_in) + F.col("offset"))
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.col("sn").cast("decimal(38,0)")).cast("double").alias("sum_spend"),
        F.sum(F.col("rk").cast("decimal(38,0)") * F.col("sn"))
        .cast("double")
        .alias("rank_weighted"),
    ).select(
        "n_users",
        "sum_spend",
        "rank_weighted",
        (
            (F.lit(2.0) * F.col("rank_weighted") - (F.col("n_users") + 1) * F.col("sum_spend"))
            / (F.col("n_users") * F.col("sum_spend"))
        ).alias("gini"),
    )


_HILL_K = 100


@register(
    "hill_tail_index",
    oracle=f"""
    WITH topk AS (
      SELECT value, ROW_NUMBER() OVER (ORDER BY value DESC, event_id) AS rn
      FROM events ORDER BY value DESC, event_id LIMIT {_HILL_K + 1}
    ), terms AS (
      SELECT rn, CAST(FLOOR(ln(value) * 1000000000 + 0.5) AS BIGINT) AS ln_n
      FROM topk
    ), agg AS (
      SELECT CAST(SUM(CASE WHEN rn <= {_HILL_K} THEN ln_n END) AS BIGINT) AS sum_ln_top,
             CAST(MAX(CASE WHEN rn = {_HILL_K + 1} THEN ln_n END) AS BIGINT) AS ln_tail
      FROM terms
    )
    SELECT CAST({_HILL_K} AS BIGINT) AS k, sum_ln_top, ln_tail,
           CAST(sum_ln_top - {_HILL_K} * ln_tail AS BIGINT) AS hill_num,
           CAST(sum_ln_top - {_HILL_K} * ln_tail AS DOUBLE)
             / ({_HILL_K}.0 * 1000000000) AS hill_inv_alpha
    FROM agg
    """,
)
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the value distribution's tail index over the
    top k=100 (_HILL_K) order statistics: 1/alpha = mean(ln x_(i)) -
    ln x_(k+1). Extreme-value diagnostics are what tells a pipeline
    whether a column is heavy-tailed enough to need the skew machinery
    (salting, caps) the SCALEUP probes exercise -- a high 1/alpha is
    the early warning.

    Exactness: per-row ln snapped to nano units (PSI discipline; ties
    at the k-boundary broken by event_id so both engines pick the same
    x_(k+1)), then the estimate is pure bigint arithmetic with ONE
    double division at publish.

    Scale shape: ORDER BY ... LIMIT k+1 compiles to
    TakeOrderedAndProject -- per-partition partial top-(k+1) heaps and
    a driver-side merge of k+1-row slices, NO global sort and no
    shuffle of the fact table; everything after runs on k+1 rows.
    """
    ev = t(spark, sf_dir, "events")
    topk = (
        ev.select("value", "event_id")
        .orderBy(F.col("value").desc(), "event_id")
        .limit(_HILL_K + 1)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("value").desc(), "event_id")
            ),
        )
        .withColumn(
            "ln_n",
            F.floor(F.log("value") * F.lit(1e9) + F.lit(0.5)).cast("bigint"),
        )
    )
    agg = topk.agg(
        F.sum(F.when(F.col("rn") <= _HILL_K, F.col("ln_n")))
        .cast("bigint")
        .alias("sum_ln_top"),
        F.max(F.when(F.col("rn") == _HILL_K + 1, F.col("ln_n")))
        .cast("bigint")
        .alias("ln_tail"),
    )
    return agg.select(
        F.lit(_HILL_K).cast("bigint").alias("k"),
        "sum_ln_top",
        "ln_tail",
        (F.col("sum_ln_top") - F.lit(_HILL_K) * F.col("ln_tail"))
        .cast("bigint")
        .alias("hill_num"),
        (
            (F.col("sum_ln_top") - F.lit(_HILL_K) * F.col("ln_tail")).cast("double")
            / F.lit(float(_HILL_K) * 1e9)
        ).alias("hill_inv_alpha"),
    )


@register(
    "mann_kendall_trend",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(value * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS vn
      FROM events GROUP BY 1
    ), s AS (
      SELECT CAST(SUM(CASE WHEN b.vn > a.vn THEN 1
                           WHEN b.vn < a.vn THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      FROM daily a JOIN daily b ON b.day > a.day
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
    ties AS (
      SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tie_corr
      FROM (SELECT COUNT(*) AS t FROM daily GROUP BY vn HAVING COUNT(*) > 1)
    )
    SELECT n.n_days, s.s_stat,
           CAST(n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
                - ties.tie_corr AS BIGINT) AS var_num18,
           CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1)
                  / sqrt((n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
                          - ties.tie_corr) / 18.0)
                WHEN s.s_stat < 0 THEN (s.s_stat + 1)
                  / sqrt((n.n_days * (n.n_days - 1) * (2 * n.n_days + 5)
                          - ties.tie_corr) / 18.0)
                ELSE 0.0 END AS z
    FROM n CROSS JOIN s CROSS JOIN ties
    """,
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on the daily event-value series: the
    non-parametric SIGNIFICANCE companion to `theilsen_trend_event_values`
    (which estimates the slope; MK tests whether a monotone trend exists
    at all). S = sum over day pairs of sign(v_j - v_i) and the
    tie-corrected variance numerator n(n-1)(2n+5) - sum t(t-1)(2t+5)
    are pure bigints; the continuity-corrected Z is one sqrt and one
    division over exact integers, identical in both engines.

    Scale shape: one O(days) shuffle builds the daily relation, then
    the pair sum is a self-join of the CALENDAR-BOUNDED day grid
    (O(days^2) pairs on ~31 rows -- the `theilsen` precedent, bounded
    by horizon not data volume); ties group on the same tiny relation.
    """
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.floor(F.col("value") * 1e9 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("vn")
    )
    a = daily.select(F.col("day").alias("da"), F.col("vn").alias("va"))
    b = daily.select(F.col("day").alias("db"), F.col("vn").alias("vb"))
    s = (
        a.join(b, F.col("db") > F.col("da"))
        .agg(
            F.sum(
                F.when(F.col("vb") > F.col("va"), 1)
                .when(F.col("vb") < F.col("va"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    n = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    ties = (
        daily.groupBy("vn")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)), F.lit(0)
            )
            .cast("bigint")
            .alias("tie_corr")
        )
    )
    base = n.crossJoin(s).crossJoin(ties)
    v18 = (
        F.col("n_days") * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5)
        - F.col("tie_corr")
    )
    sd = F.sqrt(v18 / F.lit(18.0))
    return base.select(
        "n_days",
        "s_stat",
        v18.cast("bigint").alias("var_num18"),
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / sd)
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / sd)
        .otherwise(F.lit(0.0))
        .alias("z"),
    )
