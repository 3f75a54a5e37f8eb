"""Data-quality / constraint-validation operators (SURVEY.md section 2.7).

The reference's entire runtime test strategy is ``check_primary_key``
(`final project cleaning & upload dag 1.py:71-79`): raise if any key column
contains nulls or any key combination repeats. We reproduce those semantics
(including message shape) as distributed aggregates: every constraint is a
DataFrame of violating rows, and ``raise_first_violation`` counts any number
of them in one union-all aggregate drained by a single ``collect()`` -- no
collect of data rows, scale-safe.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def duplicate_keys(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """A3 -- key combinations that appear more than once, with their
    multiplicity (reference counts via ``df.duplicated(subset).sum()``,
    DAG1:74). Partial aggregation (map-side combine) keeps the shuffle
    proportional to the number of *distinct* keys, not rows.
    """
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
    )


def null_key_rows(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Rows where any key column is null (reference: ``isnull().sum()``,
    DAG1:72-75)."""
    return df.filter(reduce(lambda a, b: a | b, [F.col(c).isNull() for c in key_cols]))


def null_key_count(df: DataFrame, key_cols: Sequence[str]) -> int:
    """Number of ``null_key_rows``. Single aggregate job."""
    return null_key_rows(df, key_cols).count()


def primary_key_checks(
    df: DataFrame, key_cols: Sequence[str], table: str = ""
) -> list[tuple[DataFrame, str]]:
    """The two PK constraints as (violating rows, message) checks for
    ``raise_first_violation``: nulls first, then duplicates."""
    where = f"Primary key violation in {table or '<df>'}"
    return [
        (
            null_key_rows(df, key_cols),
            f"{where}: {{n}} rows with null in key columns {list(key_cols)}",
        ),
        (
            duplicate_keys(df, key_cols),
            f"{where}: duplicate values for key columns {list(key_cols)}",
        ),
    ]


def raise_first_violation(checks: Sequence[tuple[DataFrame, str]]) -> None:
    """Evaluate every check in ONE Spark action and raise ``ValueError``
    with the message of the first (in list order) that has violating rows;
    ``{n}`` in a message becomes that check's row count.

    Each check's rows are reduced to their check index and the union of all
    of them is counted per index, so the whole gate is one query: subplans
    the checks share (a parent key set several FKs reference) run once via
    exchange reuse, and the driver receives at most one row per check."""
    flagged = reduce(
        DataFrame.unionAll,
        [rows.select(F.lit(i).alias("check")) for i, (rows, _) in enumerate(checks)],
    )
    counts = dict(flagged.groupBy("check").count().collect())
    if counts:
        i = min(counts)
        raise ValueError(checks[i][1].replace("{n}", str(counts[i])))


def check_primary_key(df: DataFrame, key_cols: Sequence[str], table: str = "") -> None:
    """Q1 -- raise ``ValueError`` if ``key_cols`` is not a valid primary key
    (nulls or duplicates), mirroring reference behavior (DAG1:71-79)."""
    raise_first_violation(primary_key_checks(df, key_cols, table))


def fk_orphans(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
) -> DataFrame:
    """Referential-integrity check: child rows whose foreign key has no
    parent (NULL FKs are not orphans -- SQL FK semantics). A left-anti
    equi-join, so at scale it is one hash join keyed on the FK; when the
    parent key set is dimension-sized Spark broadcasts it and the check
    is a single narrow pass over the child. Duplicate parent keys cannot
    change an anti join's output, so the parent side is not deduplicated
    (a distinct there would only add an aggregate exchange)."""
    return child.filter(F.col(child_key).isNotNull()).join(
        parent.select(F.col(parent_key).alias(child_key)), child_key, "left_anti"
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """Diff two snapshots of a table by primary key: one row per changed
    key with change_type in {inserted, deleted, updated}. Unchanged keys
    are dropped.

    The shape is ONE full-outer hash join on the PK -- the same physical
    cost as the SCD upserts -- so diffing two 100 TB snapshots shuffles
    each side once by key and nothing else; comparisons are null-safe
    (eqNullSafe), so a value moving to/from NULL counts as an update.
    This is the validation half of CDC: publish v(N), diff against
    v(N-1), and alarm when the change profile is wrong (e.g. deletes in
    an append-only table) before consumers read it."""
    from pyspark.sql import functions as F

    o = old.select(*keys, *compare_cols).alias("o")
    n = new.select(*keys, *compare_cols).alias("n")
    cond = [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in keys]
    joined = o.join(n, cond, "full_outer")
    in_old = F.col(f"o.{keys[0]}").isNotNull()
    in_new = F.col(f"n.{keys[0]}").isNotNull()
    differs = None
    for c in compare_cols:
        d = ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
        differs = d if differs is None else (differs | d)
    change = (
        F.when(~in_old, F.lit("inserted"))
        .when(~in_new, F.lit("deleted"))
        .when(differs, F.lit("updated"))
    )
    return (
        joined.select(
            *[F.coalesce(f"o.{k}", f"n.{k}").alias(k) for k in keys],
            change.alias("change_type"),
        )
        .filter(F.col("change_type").isNotNull())
    )
