"""Partition-shape helpers.

The CPU-bound narrow operators (minhash, simhash, fingerprints, decode
UDFs) are only as parallel as their input splits. A small parquet file
scans as ONE partition, so a 32-core local run uses 1 core; at cluster
scale the same operator on a skewed file layout (few huge files) hits the
same wall. ``rebalance_for_cpu`` is the gated fix: repartition ONLY when
the scan produced fewer splits than the target -- on a healthy 100 TB
layout (thousands of splits) it is a no-op, so it never introduces a
corpus-wide shuffle where the file layout is already parallel.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

# Per-(application, analyzed-plan semanticHash) memo of a plan's scan
# partition count.  ``df.rdd.getNumPartitions()`` runs full physical
# planning + RDD conversion (~50 ms of driver work, r14-measured) and
# rebalance_for_cpu sits on ~50 catalog entry paths that rebuild the
# same table scans every bench pass; ``semanticHash`` (analysis only,
# ~15 ms) keys the memo instead.  Plan METADATA only -- never data or
# results; partition counts are stable within an app (same files, same
# split confs).  Entries of dead apps are evicted; like readers' scan
# views, the memo assumes the files at a path do not change (rewritten
# fixtures need clear_npart_memo()).  semanticHash is 32-bit: a
# collision would reuse another plan's partition count and mis-gate the
# repartition -- a PERFORMANCE-only risk (never correctness:
# rebalance_for_cpu returns row-identical data either way), accepted at
# ~2e-10 per plan pair.
_NPART_MEMO: dict[tuple[str, int], int] = {}


def clear_npart_memo() -> None:
    """Drop memoized partition counts (for callers that rewrite parquet
    fixtures in-process)."""
    _NPART_MEMO.clear()


def rebalance_for_cpu(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin repartition to ``target`` (default: cluster default
    parallelism) iff the current plan has fewer partitions. Use ahead of
    expensive per-row work, never as a default on cheap scans."""
    sc = df.sparkSession.sparkContext
    target = target or sc.defaultParallelism
    key = (sc.applicationId, df.semanticHash())
    nparts = _NPART_MEMO.get(key)
    if nparts is None:
        for k in [k for k in _NPART_MEMO if k[0] != key[0]]:
            del _NPART_MEMO[k]
        nparts = df.rdd.getNumPartitions()
        _NPART_MEMO[key] = nparts
    if nparts >= target:
        return df
    return df.repartition(target)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join when AQE's skew splitting is unavailable or a
    single key dominates: the big side gets a random-free deterministic
    salt (hash of its row via pmod on a second column is caller's choice;
    here round-robin by key hash spread), the small side is replicated
    ``n_salts`` times, and the join key becomes (key, salt) -- a hot key's
    rows land on n_salts reducers instead of one.

    Result is row-identical to ``big.join(small, key, how)``: salting
    only re-buckets the shuffle. Cost: small side x n_salts (keep it for
    dim-sized or pre-aggregated small sides)."""
    from pyspark.sql import functions as F

    salted_big = big.withColumn(
        "__salt", F.pmod(F.xxhash64(*big.columns), F.lit(n_salts))
    )
    salts = big.sparkSession.range(n_salts).select(
        F.col("id").cast("long").alias("__salt")
    )
    salted_small = small.crossJoin(F.broadcast(salts))
    out = salted_big.join(salted_small, [key, "__salt"], how)
    return out.drop("__salt")


def zorder_column(
    df: DataFrame,
    cols: list[str],
    bits_per_col: int = 8,
    out_col: str = "__zvalue",
) -> DataFrame:
    """Z-order (Morton) key over 2+ numeric columns: each column is binned
    to ``bits_per_col`` bits between its min and max, then the bits are
    interleaved. Rows close in z-value are close in EVERY keyed dimension,
    so after clustering files by z-value, parquet min/max stats prune
    file reads for filters on ANY of the columns -- the multi-dimensional
    answer to "sorted by one column helps only that column".

    All JVM expressions (width_bucket + shift/mask interleave); the only
    driver work is one min/max aggregate row. Uniform bins are used here;
    equi-depth boundaries from approxQuantile slot in unchanged when the
    distribution is heavily skewed."""
    from pyspark.sql import functions as F

    n_bins = 2 ** bits_per_col
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"{c}__min"), F.max(c).alias(f"{c}__max")]
    bounds = df.agg(*aggs).first()

    binned = []
    for c in cols:
        lo, hi = float(bounds[f"{c}__min"]), float(bounds[f"{c}__max"])
        hi = hi if hi > lo else lo + 1.0
        b = F.width_bucket(F.col(c).cast("double"), F.lit(lo), F.lit(hi), F.lit(n_bins)) - 1
        binned.append(F.greatest(F.lit(0), F.least(b, F.lit(n_bins - 1))))

    z = F.lit(0).cast("long")
    for bit in range(bits_per_col):
        for j, b in enumerate(binned):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(b.cast("long"), bit).bitwiseAND(F.lit(1)),
                    bit * len(cols) + j,
                )
            )
    return df.withColumn(out_col, z)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int,
    bits_per_col: int = 8,
    mode: str = "overwrite",
) -> None:
    """Cluster a dataset by z-value across ``cols`` and write ``n_files``
    parquet files: range-partition on the z-key (sampled exchange, no
    global sort), sort within each file, drop the key. Filters on any of
    ``cols`` then skip most files via footer min/max stats -- measured in
    tests/test_scale_patterns.py against a single-column-sorted layout."""
    zdf = zorder_column(df, cols, bits_per_col=bits_per_col)
    (
        zdf.repartitionByRange(n_files, "__zvalue")
        .sortWithinPartitions("__zvalue")
        .drop("__zvalue")
        .write.mode(mode)
        .parquet(path)
    )


@contextmanager
def runtime_bloom_filters(spark, application_side_min_bytes: int = 0):
    """Enable Catalyst's runtime bloom-filter join pruning for the scope:
    a selective filter on one join side materializes a bloom filter that
    is pushed into the other side's scan as ``might_contain`` -- rows that
    cannot join are dropped BEFORE the shuffle, often the single biggest
    shuffle reduction available on selective fact-fact joins at 100 TB.

    Spark gates injection on estimated scan size
    (``applicationSideScanSizeThreshold``, default 10GB -- correct in
    production, never met in local tests); ``application_side_min_bytes``
    overrides it for the scope. Prior conf values are restored on exit."""
    keys = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold":
            str(application_side_min_bytes),
    }
    old: dict[str, str | None] = {}
    for k, v in keys.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        yield spark
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
