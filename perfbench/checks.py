"""Output checks for every workload. A wrong result counts as a failed
operation, so the checks read the program's outputs independently of
Spark: DuckDB reads the published parquet, three published tables are
compared row for row with the same tables derived from the raw fixture
files by the standard library alone, and the catalog entries are compared
with their DuckDB oracles the same way ``tools/oracle_check.py`` compares
them.
"""

from __future__ import annotations

import csv
import zipfile
from collections import Counter
from pathlib import Path
from xml.etree import ElementTree

import duckdb

from state_economics_end_to_end_data_pipeline_spark.pipelines.economics import (
    FOREIGN_KEYS,
    PARTITIONED_PUBLISH,
    PRIMARY_KEYS,
)
from tests import fixtures_gen as fx
from tests.test_etl_pipeline import EXPECTED_SCHEMAS

DUCK_TYPES = {"int": "INTEGER", "double": "DOUBLE", "string": "VARCHAR"}
# hive partition directories come back as BIGINT
PARTITION_TYPE = "BIGINT"

# Row counts follow from the fixture generator's shape alone (any seed):
# GDP lists the US total, every state and the BEA regions; unemployment
# covers 2014-2022; school costs 2013-2021; min wage 1968-2020, and its
# extra jurisdictions have no location row so they drop out.
_N_GEO = 1 + len(fx.STATES) + len(fx.BEA_REGIONS)
_N_WAGE_YEARS = 2020 - 1968 + 1
EXPECTED_ROWS = {
    "table_location": _N_GEO,
    "table_Unemployment": len(fx.STATES) * 9,
    "table_HouseholdIncome2021": len(fx.STATES),
    "table_gdp": _N_GEO * len(fx.INDUSTRY_CODES) * (2020 - 1997 + 1),
    "table_industry": len(fx.INDUSTRY_CODES),
    "table_school_expense_type": len(fx.SCHOOL_COMBOS),
    "table_school_expenses": 9 * len(fx.STATES) * len(fx.SCHOOL_COMBOS),
    "table_state_min_wage": _N_WAGE_YEARS * len(fx.STATES),
    "table_inflation": _N_WAGE_YEARS,
    "table_CPI": _N_WAGE_YEARS,
    "table_fed_min_wage": _N_WAGE_YEARS,
}
# What the serving layer must return for the published tables
SERVED = {
    "tables": sorted(EXPECTED_ROWS),
    "columns": {t: sorted(cols) for t, cols in EXPECTED_SCHEMAS.items()},
    "rows": EXPECTED_ROWS,
}


def expected_schema(table: str) -> dict[str, str]:
    parts = PARTITIONED_PUBLISH.get(table, [])
    return {
        c: PARTITION_TYPE if c in parts else DUCK_TYPES[t]
        for c, t in EXPECTED_SCHEMAS[table].items()
    }


def _scan(root: Path, table: str) -> str:
    return f"read_parquet('{root / table}/**/*.parquet', hive_partitioning = true)"


def _number(text: str | None) -> float | None:
    """The ETL's lenient cast: sentinels such as ``(D)`` and blanks are null."""
    try:
        return float(text)
    except (TypeError, ValueError):
        return None


def _xlsx_rows(path: str) -> list[dict[str, str]]:
    """Cell text by column letter, row by row, of the fixture's one sheet."""
    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    with zipfile.ZipFile(path) as zf:
        sheet = ElementTree.fromstring(zf.read("xl/worksheets/sheet1.xml"))
    return [
        {c.get("r").rstrip("0123456789"): "".join(c.itertext()) for c in row.iter(f"{ns}c")}
        for row in sheet.iter(f"{ns}row")
    ]


def expected_content(paths: dict[str, str]) -> dict[str, tuple[list[str], Counter]]:
    """Rows of table_gdp, table_Unemployment and table_HouseholdIncome2021
    derived from the raw fixture files without Spark: table -> (columns,
    multiset of rows)."""
    gdp = Counter()
    with open(paths["gdp_csv"], newline="", encoding="utf-8") as f:
        records = csv.reader(f, skipinitialspace=True)
        years = [int(y) for y in next(records)[8:]]
        for rec in records:
            if rec and rec[0].strip().isdigit():  # footer notes have no FIPS
                for year, value in zip(years, rec[8:]):
                    gdp_m = _number(value)
                    gdp[(int(rec[0]), year, int(rec[4]), None if gdp_m is None else gdp_m * 1e6)] += 1

    sheet = _xlsx_rows(paths["unemployment_xlsx"])
    header = next(r for r in sheet if r.get("B", "").strip() == "FIPS")
    year_cols = {col: int(float(v)) for col, v in header.items() if v.replace(".", "").isdigit()}
    income_col = next(col for col, v in header.items() if "Income" in v)
    unemployment, income = Counter(), Counter()
    for row in sheet:
        fips = row.get("B", "").strip()
        if fips.isdigit():
            for col, year in year_cols.items():
                unemployment[(int(fips), year, _number(row.get(col)))] += 1
            income[(int(fips), _number(row[income_col].replace("$", "").replace(",", "")))] += 1
    return {
        "table_gdp": (["GeoFIPS", "Year", "Industry_Code", "GDP"], gdp),
        "table_Unemployment": (["GeoFIPS", "Year", "Unemployment_Rate"], unemployment),
        "table_HouseholdIncome2021": (["GeoFIPS", "Median_Household_Income_2021"], income),
    }


def publish_digest(root: Path) -> dict[str, dict]:
    """Per published table: schema and row count, as DuckDB reads them."""
    con = duckdb.connect()
    out = {}
    for d in sorted(p.name for p in root.iterdir() if p.is_dir()):
        rel = con.sql(f"SELECT * FROM {_scan(root, d)}")
        schema = {c: str(t) for c, t in zip(rel.columns, rel.types)}
        n = con.sql(f"SELECT count(*) FROM {_scan(root, d)}").fetchone()[0]
        out[d] = {"schema": schema, "rows": n}
    con.close()
    return out


def check_publish(root: Path, expected: dict[str, tuple[list[str], Counter]]) -> list[str]:
    """Problems with one published refresh: the 11 names, their schemas and
    row counts, the PK/FK contract re-checked in DuckDB, and the rows of
    the tables in ``expected`` (from ``expected_content``)."""
    problems = []
    digest = publish_digest(root)
    if sorted(digest) != sorted(EXPECTED_ROWS):
        return [f"published tables {sorted(digest)}"]
    for t, d in digest.items():
        if d["schema"] != expected_schema(t):
            problems.append(f"{t}: schema {d['schema']}")
        if d["rows"] != EXPECTED_ROWS[t]:
            problems.append(f"{t}: {d['rows']} rows, want {EXPECTED_ROWS[t]}")
    con = duckdb.connect()
    for t, (cols, want) in expected.items():
        got = Counter(con.sql(
            f"SELECT {', '.join(cols)} FROM {_scan(root, t)}"
        ).fetchall())
        if got != want:
            wrong = sum((got - want).values()) + sum((want - got).values())
            problems.append(f"{t}: content differs from the raw files in {wrong} rows")
    for t, keys in PRIMARY_KEYS.items():
        k = ", ".join(f'"{c}"' for c in keys)
        nulls = " OR ".join(f'"{c}" IS NULL' for c in keys)
        bad = con.sql(
            f"SELECT (SELECT count(*) FROM {_scan(root, t)} WHERE {nulls}) + "
            f"(SELECT count(*) FROM (SELECT {k} FROM {_scan(root, t)} "
            f"GROUP BY ALL HAVING count(*) > 1))"
        ).fetchone()[0]
        if bad:
            problems.append(f"{t}: primary key {keys} broken")
    for child, fk, parent, pk in FOREIGN_KEYS:
        orphans = con.sql(
            f'SELECT count(*) FROM {_scan(root, child)} c WHERE c."{fk}" IS NOT NULL '
            f'AND c."{fk}" NOT IN (SELECT "{pk}" FROM {_scan(root, parent)})'
        ).fetchone()[0]
        if orphans:
            problems.append(f"{child}.{fk}: {orphans} rows with no {parent}")
    con.close()
    return problems


def oracle_connection(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con
