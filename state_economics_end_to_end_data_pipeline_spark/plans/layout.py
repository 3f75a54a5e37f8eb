"""Data-layout optimization as an oracle-paired catalog entry.

``operators/partitioning.py:61`` (``zorder_column`` / ``write_zordered``)
implements the general Morton-key clustering used to make parquet footer
min/max stats prune file reads for filters on ANY keyed column. This
module states the layout's *measurable claim* as a differential query:
bucket lineitem 256 ways under (a) a z-order layout over
(l_partkey, l_suppkey) and (b) a single-column sorted layout, and report
each bucket's per-dimension bin span. Z-order buckets bound BOTH
dimensions (span <= 16 of 256 bins at 4+4 prefix bits); the linear
layout bounds only its sort column (second-dimension span ~254/256) --
which is exactly why a filter on l_suppkey skips ~15/16 of z-ordered
files and ~none of the partkey-sorted ones.

Binning here is the integer-exact twin of the operator's
``width_bucket`` path: ``FLOOR((key - min) * 256.0 / (max - min + 1))``
with all operands < 2^53, so the double division is correctly rounded
and both engines produce identical bins (DETERMINISM.md discipline).
Bounds are a 1-row aggregate cross-joined in-plan -- building the
DataFrame stays side-effect-free (no driver action), and at 100 TB the
bounds relation broadcasts while the quantize + interleave is a narrow
projection; the only shuffle is the final 512-group aggregate.

Reference parity: the reference has no layout optimization at all (its
published tables are whole-table JDBC loads, DAG1:216-253); this is the
kind of operator a 100 TB lakehouse needs that a 6 MB Postgres load
never will.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io.readers import read_parquet_table as t
from . import register

_BITS = 8  # 256 bins per dimension; 4+4 prefix bits -> 256 z-buckets


def _interleave_sql(px: str = "px", py: str = "py") -> str:
    """Morton interleave of two 8-bit coords as pure integer bit ops --
    the identical expression text runs in DuckDB and Spark SQL."""
    return " | ".join(
        f"((({px} >> {b}) & 1) << {2 * b + 1}) | ((({py} >> {b}) & 1) << {2 * b})"
        for b in range(_BITS)
    )


_LAYOUT_ORACLE = f"""
WITH b AS (SELECT MIN(l_partkey) AS minp, MAX(l_partkey) AS maxp,
                  MIN(l_suppkey) AS mins, MAX(l_suppkey) AS maxs FROM lineitem),
q AS (
  SELECT CAST(FLOOR((l_partkey - minp) * 256.0 / (maxp - minp + 1)) AS BIGINT) AS px,
         CAST(FLOOR((l_suppkey - mins) * 256.0 / (maxs - mins + 1)) AS BIGINT) AS py
  FROM lineitem CROSS JOIN b
),
z AS (SELECT px, py, ({_interleave_sql()}) AS zv FROM q),
per AS (
  SELECT 'zorder' AS layout, zv >> 8 AS bucket, COUNT(*) AS n_rows,
         MAX(px) - MIN(px) + 1 AS px_span, MAX(py) - MIN(py) + 1 AS py_span
  FROM z GROUP BY 2
  UNION ALL
  SELECT 'linear', px, COUNT(*), MAX(px) - MIN(px) + 1, MAX(py) - MIN(py) + 1
  FROM z GROUP BY 2
)
SELECT layout, CAST(bucket AS BIGINT) AS bucket, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(px_span AS BIGINT) AS px_span, CAST(py_span AS BIGINT) AS py_span
FROM per
"""


@register("zorder_layout_spans", oracle=_LAYOUT_ORACLE)
def zorder_layout_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order vs linear layout, measured: per-bucket bin spans for both
    keyed dimensions under each layout (512 rows: 2 layouts x 256
    buckets). See the module docstring for the claim and the scale
    shape; probed at sf0.01 the z-order side maxes at px_span=py_span=16
    while the linear side's py_span averages ~253 -- the pruning ratio a
    z-ordered file layout buys on the *non*-sort column.
    """
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bounds = li.agg(
        F.min("l_partkey").alias("minp"),
        F.max("l_partkey").alias("maxp"),
        F.min("l_suppkey").alias("mins"),
        F.max("l_suppkey").alias("maxs"),
    )
    q = li.crossJoin(F.broadcast(bounds)).select(
        F.floor((F.col("l_partkey") - F.col("minp")) * 256.0 / (F.col("maxp") - F.col("minp") + 1))
        .cast("bigint")
        .alias("px"),
        F.floor((F.col("l_suppkey") - F.col("mins")) * 256.0 / (F.col("maxs") - F.col("mins") + 1))
        .cast("bigint")
        .alias("py"),
    )
    z = q.select("px", "py", F.expr(_interleave_sql()).alias("zv"))
    # One scan feeds both layouts: pre-aggregate to the (px, zbucket)
    # grain (<= 256*16 groups -- zbucket is determined by the top halves
    # of px AND py, so each px meets at most 16 zbuckets), then roll up
    # to each layout's bucket. Both rollups consume the IDENTICAL
    # deterministic exchange, which AQE's ReuseExchange materializes
    # once -- correctness never depends on the reuse (DETERMINISM.md),
    # only the single-scan plan shape does.
    fine = z.groupBy("px", F.shiftright("zv", _BITS).cast("bigint").alias("zb")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("py").alias("py_lo"),
        F.max("py").alias("py_hi"),
    )

    def rollup(bucket_col: str) -> DataFrame:
        return fine.groupBy(F.col(bucket_col).alias("bucket")).agg(
            F.sum("n").cast("bigint").alias("n_rows"),
            (F.max("px") - F.min("px") + 1).cast("bigint").alias("px_span"),
            (F.max("py_hi") - F.min("py_lo") + 1).cast("bigint").alias("py_span"),
        )

    return rollup("zb").select(F.lit("zorder").alias("layout"), "*").unionByName(
        rollup("px").select(F.lit("linear").alias("layout"), "*")
    )


def _hilbert_step_sql(prev: str, out: str, s: int) -> str:
    """One unrolled step of the classic Hilbert xy->d transform (the
    Wikipedia/Hacker's-Delight bit algorithm) as pure integer SQL: the
    quadrant term ``(3*rx) XOR ry`` is rewritten arithmetically as
    ``3*rx + ry - 2*rx*ry`` (exact for rx, ry in {0,1} -- no ``^``
    operator, which DuckDB parses as exponentiation), and the
    reflect+swap rotation becomes two CASE projections. The identical
    text runs in DuckDB and Spark SQL."""
    return f"""
    {out} AS (
      SELECT px, py, n,
             CASE WHEN ry = 1 THEN x WHEN rx = 1 THEN {s - 1} - y ELSE y END AS x,
             CASE WHEN ry = 1 THEN y WHEN rx = 1 THEN {s - 1} - x ELSE x END AS y,
             d + {s * s} * (3 * rx + ry - 2 * rx * ry) AS d
      FROM (SELECT px, py, n, x, y, d,
                   CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END AS rx,
                   CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END AS ry
            FROM {prev})
    )
    """


_HILBERT_STEPS = "".join(
    _hilbert_step_sql(f"h{i}", f"h{i + 1}", 1 << (_BITS - 1 - i)) + ","
    for i in range(_BITS)
).rstrip(",")


_HILBERT_ORACLE = f"""
WITH b AS (SELECT MIN(l_partkey) AS minp, MAX(l_partkey) AS maxp,
                  MIN(l_suppkey) AS mins, MAX(l_suppkey) AS maxs FROM lineitem),
q AS (
  SELECT CAST(FLOOR((l_partkey - minp) * 256.0 / (maxp - minp + 1)) AS BIGINT) AS px,
         CAST(FLOOR((l_suppkey - mins) * 256.0 / (maxs - mins + 1)) AS BIGINT) AS py
  FROM lineitem CROSS JOIN b
),
fine AS (SELECT px, py, COUNT(*) AS n FROM q GROUP BY 1, 2),
h0 AS (SELECT px, py, n, px AS x, py AS y, 0 AS d FROM fine),
{_HILBERT_STEPS},
hz AS (SELECT px, py, n, d AS hv, ({_interleave_sql()}) AS zv FROM h{_BITS}),
cum AS (
  SELECT px, py, n,
         SUM(n) OVER (ORDER BY hv) - n AS hstart,
         SUM(n) OVER (ORDER BY zv) - n AS zstart,
         SUM(n) OVER () AS total
  FROM hz
),
per AS (
  SELECT 'hilbert' AS layout,
         CAST(FLOOR(hstart * 256.0 / total) AS BIGINT) AS bucket,
         SUM(n) AS n_rows,
         MAX(px) - MIN(px) + 1 AS px_span, MAX(py) - MIN(py) + 1 AS py_span
  FROM cum GROUP BY 2
  UNION ALL
  SELECT 'zorder', CAST(FLOOR(zstart * 256.0 / total) AS BIGINT),
         SUM(n), MAX(px) - MIN(px) + 1, MAX(py) - MIN(py) + 1
  FROM cum GROUP BY 2
)
SELECT layout, CAST(bucket AS BIGINT) AS bucket, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(px_span AS BIGINT) AS px_span, CAST(py_span AS BIGINT) AS py_span
FROM per
"""


@register("hilbert_layout_spans", oracle=_HILBERT_ORACLE)
def hilbert_layout_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout vs z-order under EQUAL-DATA-WEIGHT file
    cuts -- the way writers actually split files (by row count along the
    curve, repartitionByRange-style), NOT by aligned key prefix (where
    both curves trivially give 16x16 blocks and there is nothing to
    compare). 256 equal-weight buckets per layout; per bucket, the
    bounding-box span on both keyed dimensions. The claim: Hilbert's
    consecutive curve positions are always grid-adjacent, so an
    unaligned bucket's bounding box stays compact, while Morton has
    "seams" -- consecutive zv positions that jump across the key space --
    so buckets straddling a seam span a large box on at least one
    dimension. The worst-bucket bounding-box area is the measurable
    form (pinned by the invariant test: Hilbert's worst bucket is
    materially tighter than z-order's).

    Scale shape: the ONLY data-sized stage is one partial-aggregating
    groupBy to the quantized (px, py) grain -- at most 256x256 = 65,536
    groups regardless of input size -- after which the 8 unrolled
    integer transform steps, the two curve-order cumulative sums, and
    both rollups run on that dimension-sized relation (the unpartitioned
    windows are deliberate and bounded: 64Ki rows whatever the input).
    The transform is exact integer arithmetic, and the bucket cut
    ``FLOOR(start * 256.0 / total)`` keeps every operand < 2^53, so the
    doubles are correctly rounded and bit-identical across engines
    (DETERMINISM.md discipline).

    Reference parity: like ``zorder_layout_spans``, no reference
    counterpart (whole-table JDBC loads, DAG1:216-253) -- this is
    lakehouse file-layout machinery for 100 TB data skipping.
    """
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bounds = li.agg(
        F.min("l_partkey").alias("minp"),
        F.max("l_partkey").alias("maxp"),
        F.min("l_suppkey").alias("mins"),
        F.max("l_suppkey").alias("maxs"),
    )
    q = li.crossJoin(F.broadcast(bounds)).select(
        F.floor((F.col("l_partkey") - F.col("minp")) * 256.0 / (F.col("maxp") - F.col("minp") + 1))
        .cast("bigint")
        .alias("px"),
        F.floor((F.col("l_suppkey") - F.col("mins")) * 256.0 / (F.col("maxs") - F.col("mins") + 1))
        .cast("bigint")
        .alias("py"),
    )
    fine = q.groupBy("px", "py").agg(F.count(F.lit(1)).alias("n"))
    cur = fine.select("px", "py", "n", F.col("px").alias("x"), F.col("py").alias("y"), F.lit(0).alias("d"))
    for i in range(_BITS):
        s = 1 << (_BITS - 1 - i)
        # two-stage select mirrors the oracle's step CTE exactly: rx/ry
        # staged once, then the rotate + quadrant accumulate
        staged = cur.select(
            "px", "py", "n", "x", "y", "d",
            F.expr(f"CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END").alias("rx"),
            F.expr(f"CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END").alias("ry"),
        )
        cur = staged.select(
            "px", "py", "n",
            F.expr(f"CASE WHEN ry = 1 THEN x WHEN rx = 1 THEN {s - 1} - y ELSE y END").alias("x"),
            F.expr(f"CASE WHEN ry = 1 THEN y WHEN rx = 1 THEN {s - 1} - x ELSE x END").alias("y"),
            F.expr(f"d + {s * s} * (3 * rx + ry - 2 * rx * ry)").alias("d"),
        )
    from pyspark.sql import Window

    hz = cur.select(
        "px", "py", "n",
        F.col("d").alias("hv"),
        F.expr(_interleave_sql()).alias("zv"),
    )
    # bounded unpartitioned windows: hz has <= 65,536 rows by construction
    cum = hz.select(
        "px", "py", "n",
        (F.sum("n").over(Window.orderBy("hv")) - F.col("n")).alias("hstart"),
        (F.sum("n").over(Window.orderBy("zv")) - F.col("n")).alias("zstart"),
        F.sum("n").over(Window.partitionBy()).alias("total"),
    )

    def rollup(start_col: str, label: str) -> DataFrame:
        bucket = F.floor(F.col(start_col) * 256.0 / F.col("total")).cast("bigint")
        return cum.groupBy(bucket.alias("bucket")).agg(
            F.sum("n").cast("bigint").alias("n_rows"),
            (F.max("px") - F.min("px") + 1).cast("bigint").alias("px_span"),
            (F.max("py") - F.min("py") + 1).cast("bigint").alias("py_span"),
        ).select(F.lit(label).alias("layout"), "*")

    return rollup("hstart", "hilbert").unionByName(rollup("zstart", "zorder"))
