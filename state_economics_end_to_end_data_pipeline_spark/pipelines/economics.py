"""The economics ETL: 4 messy raw sources -> 11 normalized tables.

Spark-first rebuild of the reference pipeline
(`final project cleaning & upload dag 1.py`, "DAG1"): same semantics, but
one declarative logical plan instead of 4 Airflow tasks glued by lossy
XCom JSON hops (DAG1:42,65 -- eliminated entirely; lineage replaces
serialization). Catalyst fuses scan->clean->reshape->join->dedup per output
table; the only shuffles are the dedups/aggregations themselves, and every
join is a broadcast against a dimension (<= 60 rows in the reference data;
the engine still works when facts are 100 TB because dims stay dim-sized).

``run(validate=True)`` ends at the integrity gate: each output is
materialized once (local checkpoint) and all PK/FK constraints are checked
in one Spark action over those materialized tables, which are what
``run`` returns and ``publish`` writes.

Documented deviations from reference values (BASELINE.md):
- GeoFIPS/Year canonicalized to int (reference zero-pads then loses it via
  XCom re-inference, DAG1:39-40 vs :65).
- Division-by-zero in the inflation multiplier -> null, not inf (DAG1:153).
- Surrogate expense-type ids assigned over sorted (Type, Length, Expense)
  order, not first-appearance order (DAG1:135) -- deterministic re-runs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.aggregates import exact_avg
from ..functions.cleaning import (
    coalesce_first,
    currency_to_double,
    lenient_double,
    normalize_column_names,
    safe_div,
    strip_chars,
)
from ..io.readers import read_csv, read_excel_sheet
from ..operators.quality import fk_orphans, primary_key_checks, raise_first_violation
from ..operators.reshape import surrogate_key, unpivot_wide_years

GDP_ID_COLS = [
    "GeoFIPS", "GeoName", "Region", "TableName", "LineCode",
    "IndustryClassification", "Description", "Unit",
]

# The min-wage CSV's 15 columns, named as in its header: declared so the
# refresh runs no schema-inference jobs. The 11 wage/CPI columns are
# double; the "Uncleaned" ranges and the footnotes stay strings.
MIN_WAGE_SCHEMA = T.StructType([
    T.StructField(name, dtype)
    for name, dtype in [
        ("Year", T.IntegerType()),
        ("State", T.StringType()),
        ("State.Minimum.Wage", T.DoubleType()),
        ("State.Minimum.Wage.2020.Dollars", T.DoubleType()),
        ("Federal.Minimum.Wage", T.DoubleType()),
        ("Federal.Minimum.Wage.2020.Dollars", T.DoubleType()),
        ("Effective.Minimum.Wage", T.DoubleType()),
        ("Effective.Minimum.Wage.2020.Dollars", T.DoubleType()),
        ("CPI.Average", T.DoubleType()),
        ("Department.Of.Labor.Uncleaned.Data", T.StringType()),
        ("Department.Of.Labor.Cleaned.Low.Value", T.DoubleType()),
        ("Department.Of.Labor.Cleaned.Low.Value.2020.Dollars", T.DoubleType()),
        ("Department.Of.Labor.Cleaned.High.Value", T.DoubleType()),
        ("Department.Of.Labor.Cleaned.High.Value.2020.Dollars", T.DoubleType()),
        ("Footnote", T.StringType()),
    ]
])

# PK contract mirrored from the reference's check_primary_key call sites
# (DAG1:91,92,121,122,123,145,146,172-175) -- 9 of the 11 tables.
PRIMARY_KEYS: dict[str, list[str]] = {
    "table_location": ["GeoFIPS"],
    "table_Unemployment": ["GeoFIPS", "Year"],
    "table_HouseholdIncome2021": ["GeoFIPS"],
    "table_gdp": ["GeoFIPS", "Year", "Industry_Code"],
    "table_industry": ["Industry_Code"],
    "table_school_expense_type": ["School_Expense_Type_Id"],
    "table_school_expenses": ["Year", "GeoFIPS", "School_Expense_Type_Id"],
    "table_state_min_wage": ["Year", "GeoFIPS"],
    "table_inflation": ["Year"],
}

# FK contract from the reference's ERD (EconomicDataBaseERD.png): the
# reference DECLARES these relationships but never validates them -- its
# only runtime check is the per-table PK assert. We enforce both.
# (child_table, fk_col, parent_table, pk_col)
FOREIGN_KEYS: list[tuple[str, str, str, str]] = [
    ("table_Unemployment", "GeoFIPS", "table_location", "GeoFIPS"),
    ("table_HouseholdIncome2021", "GeoFIPS", "table_location", "GeoFIPS"),
    ("table_gdp", "GeoFIPS", "table_location", "GeoFIPS"),
    ("table_gdp", "Industry_Code", "table_industry", "Industry_Code"),
    ("table_school_expenses", "GeoFIPS", "table_location", "GeoFIPS"),
    (
        "table_school_expenses",
        "School_Expense_Type_Id",
        "table_school_expense_type",
        "School_Expense_Type_Id",
    ),
    ("table_state_min_wage", "GeoFIPS", "table_location", "GeoFIPS"),
]


# Publish-time partition layout (SURVEY section 4: "publish Parquet
# partitioned by Year"). Only the Year-keyed FACT tables partition --
# partitioning a dim by its PK would make one directory per row. At 100 TB
# the payoff is partition PRUNING: a Year-filtered read lists and scans
# only the matching Year=N directories (explain shows PartitionFilters),
# so a one-year query over a 50-year table touches 2% of the files.
PARTITIONED_PUBLISH: dict[str, list[str]] = {
    "table_gdp": ["Year"],
    "table_school_expenses": ["Year"],
    "table_Unemployment": ["Year"],
}


@dataclass
class EconomicsETL:
    """End-to-end pipeline. ``run()`` returns the 11 output DataFrames,
    validated and materialized unless ``validate=False``.

    Stage structure mirrors DAG1 ``load >> transform >> save >> upload``
    but as pure functions over DataFrames; persistence is the caller's
    choice (write_parquet / write_csv / write_jdbc from ``io.writers``).
    """

    spark: SparkSession
    unemployment_xlsx: str
    gdp_csv: str
    school_csv: str
    min_wage_csv: str

    # ---------------- extract ----------------

    def load_unemployment(self) -> DataFrame:
        """DAG1:21-42 -- xlsx with 3 banner rows, empty col A, header row,
        trailing `Sources:` footer."""
        return read_excel_sheet(
            self.spark,
            self.unemployment_xlsx,
            skip_banner_rows=3,
            drop_first_col=True,
            header_row=True,
            drop_footer_rows=1,
        )

    def load_gdp(self) -> DataFrame:
        """DAG1:44-47 -- GDP CSV; 4 trailing footer note lines are dropped by
        predicate (footer rows have no parseable FIPS), not position -- the
        distributed-safe equivalent of ``iloc[:-4]`` (S5)."""
        fields = [T.StructField(c, T.StringType(), True) for c in GDP_ID_COLS]
        fields += [T.StructField(str(y), T.StringType(), True) for y in range(1997, 2021)]
        df = read_csv(self.spark, self.gdp_csv, schema=T.StructType(fields))
        return df.filter(strip_chars("GeoFIPS").rlike(r"^\d+$"))

    def load_school(self) -> DataFrame:
        """DAG1:49-51 -- clean UTF-8 CSV."""
        schema = T.StructType([
            T.StructField("Year", T.IntegerType(), True),
            T.StructField("State", T.StringType(), True),
            T.StructField("Type", T.StringType(), True),
            T.StructField("Length", T.StringType(), True),
            T.StructField("Expense", T.StringType(), True),
            T.StructField("Value", T.IntegerType(), True),
        ])
        return read_csv(self.spark, self.school_csv, schema=schema)

    def load_min_wage(self) -> DataFrame:
        """DAG1:53-59 -- Windows-1252 CSV, encoding sniffed from a byte
        prefix (S2). Column names contain dots; normalized to underscores."""
        df = read_csv(self.spark, self.min_wage_csv, schema=MIN_WAGE_SCHEMA, sniff=True)
        return normalize_column_names(df)

    # ---------------- transform ----------------

    def unemployment_tables(self, raw: DataFrame) -> dict[str, DataFrame]:
        """DAG1:82-92: melt 9 year columns; carve table_Unemployment and
        table_HouseholdIncome2021."""
        year_cols = [c for c in raw.columns if c.isdigit()]
        income_col = next(c for c in raw.columns if "Income" in c)
        df = raw.withColumnRenamed("FIPS", "GeoFIPS")
        df = df.withColumn("GeoFIPS", F.trim("GeoFIPS").cast("int"))
        long = unpivot_wide_years(
            df, ["GeoFIPS", "Name", income_col], year_cols,
            var_name="Year", value_name="Unemployment_Rate",
        )
        unemployment = (
            long.select(
                "GeoFIPS", "Year",
                lenient_double("Unemployment_Rate").alias("Unemployment_Rate"),
            )
            .dropDuplicates()
        )
        income = (
            df.select(
                "GeoFIPS",
                currency_to_double(income_col).alias("Median_Household_Income_2021"),
            )
            .dropDuplicates()
        )
        names = df.select("GeoFIPS", "Name").dropDuplicates()
        return {
            "table_Unemployment": unemployment,
            "table_HouseholdIncome2021": income,
            "_unemployment_names": names,
        }

    def gdp_tables(self, raw: DataFrame) -> dict[str, DataFrame]:
        """DAG1:95-123: strip quotes/space from GeoFIPS, melt 24 year
        columns, scale millions->dollars, null the (D)/(L)/(NA) sentinels;
        carve table_gdp, table_industry, and the GDP side of location."""
        year_cols = [str(y) for y in range(1997, 2021)]
        df = raw.withColumn("GeoFIPS", strip_chars("GeoFIPS").cast("int"))
        long = unpivot_wide_years(
            df, GDP_ID_COLS, year_cols, var_name="Year", value_name="GDP_In_Millions"
        )
        gdp = (
            long.select(
                "GeoFIPS", "Year",
                F.col("LineCode").cast("int").alias("Industry_Code"),
                (lenient_double("GDP_In_Millions") * F.lit(1_000_000.0)).alias("GDP"),
            )
            .dropDuplicates()
        )
        industry = (
            df.select(
                F.col("LineCode").cast("int").alias("Industry_Code"),
                F.trim("Description").alias("Description"),
            )
            .dropDuplicates()
        )
        location_gdp_side = (
            df.select(
                "GeoFIPS",
                strip_chars("GeoName", "*").alias("GeoName"),
                lenient_double(F.trim("Region")).alias("Region"),
            )
            .dropDuplicates()
        )
        return {
            "table_gdp": gdp,
            "table_industry": industry,
            "_location_gdp_side": location_gdp_side,
        }

    def location_table(self, gdp_side: DataFrame, names: DataFrame) -> DataFrame:
        """DAG1:108-118 (J1/F10): full outer join of the two geo sources on
        GeoFIPS, coalesce the name columns, dedup."""
        joined = gdp_side.join(names, "GeoFIPS", "full_outer")
        return (
            joined.select(
                "GeoFIPS",
                coalesce_first("GeoName", "Name").alias("GeoName"),
                "Region",
            )
            .dropDuplicates()
        )

    def school_tables(self, raw: DataFrame, location: DataFrame) -> dict[str, DataFrame]:
        """DAG1:132-146 (R2/J2/J3): surrogate-keyed expense-type dim;
        facts resolve the dim by composite natural key and the state name
        to GeoFIPS via the location dim (inner join drops unknown names)."""
        type_dim = surrogate_key(
            raw, ["Type", "Length", "Expense"], "School_Expense_Type_Id"
        )
        expense_type = type_dim.select(
            "School_Expense_Type_Id",
            F.col("Type").alias("School_Type"),
            F.col("Length").alias("Length"),
            F.col("Expense").alias("Expense_Type"),
        )
        facts = (
            raw.join(F.broadcast(type_dim), ["Type", "Length", "Expense"], "inner")
            .join(
                F.broadcast(location.select("GeoFIPS", F.col("GeoName").alias("State"))),
                "State",
                "inner",
            )
            .select(
                "Year", "GeoFIPS", "School_Expense_Type_Id",
                F.col("Value").alias("Expense_Amount"),
            )
            .dropDuplicates()
        )
        return {
            "table_school_expense_type": expense_type,
            "table_school_expenses": facts,
        }

    def min_wage_tables(self, raw: DataFrame, location: DataFrame) -> dict[str, DataFrame]:
        """DAG1:152-175: state min-wage facts (J3 name->key resolution,
        drops jurisdictions absent from location e.g. Guam/USVI), the
        year-level inflation multiplier (A1 group-avg of F8 division),
        CPI, and federal minimum wage."""
        df = raw.withColumn(
            "Inflation_Multiplier_2020",
            safe_div("State_Minimum_Wage_2020_Dollars", "State_Minimum_Wage"),
        )
        with_geo = df.join(
            F.broadcast(location.select("GeoFIPS", F.col("GeoName").alias("State"))),
            "State",
            "inner",
        )
        state_min_wage = (
            with_geo.select(
                "Year", "GeoFIPS",
                lenient_double("State_Minimum_Wage").alias("State_Min_Wage"),
                lenient_double("Department_Of_Labor_Cleaned_Low_Value").alias(
                    "Small_Business_Min_Wage"
                ),
                lenient_double("Department_Of_Labor_Cleaned_High_Value").alias(
                    "Large_Business_Min_Wage"
                ),
            )
            .dropDuplicates()
        )
        # decimal-exact mean: partition-order-independent, so re-runs on any
        # cluster layout publish bit-identical multipliers
        inflation = df.groupBy("Year").agg(
            exact_avg("Inflation_Multiplier_2020").alias("Inflation_Multiplier_2020")
        )
        cpi = (
            df.select("Year", lenient_double("CPI_Average").alias("CPI_Average"))
            .dropDuplicates()
        )
        fed = (
            df.select(
                "Year", lenient_double("Federal_Minimum_Wage").alias("Fed_Min_Wage")
            )
            .dropDuplicates()
        )
        return {
            "table_state_min_wage": state_min_wage,
            "table_inflation": inflation,
            "table_CPI": cpi,
            "table_fed_min_wage": fed,
        }

    # ---------------- orchestration ----------------

    def run(self, validate: bool = True) -> dict[str, DataFrame]:
        """Full pipeline -> the 11 output tables. With ``validate`` they
        pass the PK/FK gate (``validate_outputs``) and come back
        materialized: later actions and ``publish`` read the validated rows
        instead of recomputing the lineage from the raw files. Without it
        they are lazy DataFrames over the raw files."""
        unemp = self.unemployment_tables(self.load_unemployment())
        gdp = self.gdp_tables(self.load_gdp())
        location = self.location_table(
            gdp.pop("_location_gdp_side"), unemp.pop("_unemployment_names")
        )
        tables: dict[str, DataFrame] = {"table_location": location}
        tables.update(unemp)
        tables.update(gdp)
        tables.update(self.school_tables(self.load_school(), location))
        tables.update(self.min_wage_tables(self.load_min_wage(), location))
        if validate:
            tables = self.validate_outputs(tables)
        return tables

    @staticmethod
    def publish(tables: dict[str, DataFrame], root: str) -> dict[str, str]:
        """Persist the 11 outputs as parquet under ``root``, Year-keyed
        facts partitioned per PARTITIONED_PUBLISH. Replaces the
        reference's 11-CSV shared-volume drop (DAG1:199-209) with a
        layout a 1000-executor reader can prune. Returns table -> path."""
        from ..io.writers import write_parquet

        paths: dict[str, str] = {}
        for name, df in tables.items():
            path = f"{root}/{name}"
            write_parquet(df, path, partition_by=PARTITIONED_PUBLISH.get(name))
            paths[name] = path
        return paths

    @staticmethod
    def validate_outputs(tables: dict[str, DataFrame]) -> dict[str, DataFrame]:
        """Integrity gate over the 11 outputs: the reference's PK asserts
        (DAG1 call sites) plus the FK edges its ERD declares but never
        checks. Raises ValueError naming the first broken constraint (PKs
        in PRIMARY_KEYS order, nulls before duplicates, then FKs).

        Each table is materialized once (``localCheckpoint``: executor
        blocks, nothing in the CacheManager) and all 16 constraints run as
        one query over the materialized tables, so the ETL lineage is not
        recomputed per check. Returns the materialized tables: what the
        gate passed is exactly what a later publish writes."""
        tables = {name: df.localCheckpoint(eager=True) for name, df in tables.items()}
        checks = []
        for name, keys in PRIMARY_KEYS.items():
            checks += primary_key_checks(tables[name], keys, table=name)
        for child, fk, parent, pk in FOREIGN_KEYS:
            checks.append((
                fk_orphans(tables[child], tables[parent], fk, pk),
                f"Foreign key violation: {child}.{fk} has rows "
                f"with no parent in {parent}.{pk}",
            ))
        raise_first_violation(checks)
        return tables
