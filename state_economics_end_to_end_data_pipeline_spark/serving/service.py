"""Serving surface (SURVEY.md section 2.8, V1-V3).

The reference serves its 11 tables through a Flask endpoint that builds
``"SELECT * FROM final_project." + table + " LIMIT " + limit`` by string
concatenation (finalprojectapi.py:17-37 -- SQL injection). This module
keeps the same capability surface -- table catalog, column introspection,
limit query -- with identifiers validated against the catalog and the
limit bound-checked, never interpolated. No HTTP framework: any server
can wrap ``DataService`` (the reference's Flask layer is 20 lines of
transport, not data semantics).

The served tables change only when the batch republishes them, so
``register`` snapshots each one with a single bounded
``limit(MAX_LIMIT).collect()`` and requests are answered from that
snapshot without a Spark job. ``LIMIT n`` has no ORDER BY and a limit
scan reads partitions in order, so the first ``n`` snapshot rows are the
rows ``limit(n)`` returns. Driver memory is bounded at ``MAX_LIMIT`` rows
per table; re-registering a name after a publish replaces its snapshot.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Row, SparkSession

MAX_LIMIT = 10_000


class DataService:
    """Catalog of served table snapshots + validated limit queries."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        # name -> (column names, first MAX_LIMIT rows; Rows are immutable)
        self._tables: dict[str, tuple[tuple[str, ...], list[Row]]] = {}

    def register(self, name: str, df: DataFrame) -> None:
        if not name.isidentifier():
            raise ValueError(f"invalid table name: {name!r}")
        self._tables[name] = (tuple(df.columns), df.limit(MAX_LIMIT).collect())

    def register_parquet(self, name: str, path: str) -> None:
        self.register(name, self.spark.read.parquet(path))

    def list_tables(self) -> list[str]:
        """V1 -- table catalog."""
        return sorted(self._tables)

    def columns(self, table: str) -> list[str]:
        """V3 -- column-name introspection."""
        return list(self._resolve(table)[0])

    def get_data(self, table: str, limit: int = 10) -> dict[str, Any]:
        """V2 -- ``SELECT * FROM t LIMIT n`` with the identifier resolved
        against the catalog and the limit validated (the reference's
        injection path, made safe). Every call builds fresh row dicts."""
        if not isinstance(limit, int) or not (1 <= limit <= MAX_LIMIT):
            raise ValueError(f"limit must be an int in [1, {MAX_LIMIT}]: {limit!r}")
        cols, rows = self._resolve(table)
        return {
            "table": table,
            "columns": list(cols),
            "rows": [dict(zip(cols, r)) for r in rows[:limit]],
        }

    def _resolve(self, table: str) -> tuple[tuple[str, ...], list[Row]]:
        if table not in self._tables:
            raise KeyError(
                f"unknown table {table!r}; available: {self.list_tables()}"
            )
        return self._tables[table]
