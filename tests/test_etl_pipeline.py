"""Pipeline-level golden tests: run the full economics ETL on
reference-shaped fixtures and assert the 11-table contract from
FIXTURES.md (schemas, PK invariants, spot aggregates, melt identity)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from state_economics_end_to_end_data_pipeline_spark.pipelines.economics import (
    MIN_WAGE_SCHEMA,
    PRIMARY_KEYS,
    EconomicsETL,
)
from state_economics_end_to_end_data_pipeline_spark.operators.quality import (
    check_primary_key,
    duplicate_keys,
    null_key_count,
)

EXPECTED_SCHEMAS = {
    "table_location": {"GeoFIPS": "int", "GeoName": "string", "Region": "double"},
    "table_Unemployment": {"GeoFIPS": "int", "Year": "int", "Unemployment_Rate": "double"},
    "table_HouseholdIncome2021": {"GeoFIPS": "int", "Median_Household_Income_2021": "double"},
    "table_gdp": {"GeoFIPS": "int", "Year": "int", "Industry_Code": "int", "GDP": "double"},
    "table_industry": {"Industry_Code": "int", "Description": "string"},
    "table_school_expense_type": {
        "School_Expense_Type_Id": "int", "School_Type": "string",
        "Length": "string", "Expense_Type": "string",
    },
    "table_school_expenses": {
        "Year": "int", "GeoFIPS": "int", "School_Expense_Type_Id": "int",
        "Expense_Amount": "int",
    },
    "table_state_min_wage": {
        "Year": "int", "GeoFIPS": "int", "State_Min_Wage": "double",
        "Small_Business_Min_Wage": "double", "Large_Business_Min_Wage": "double",
    },
    "table_inflation": {"Year": "int", "Inflation_Multiplier_2020": "double"},
    "table_CPI": {"Year": "int", "CPI_Average": "double"},
    "table_fed_min_wage": {"Year": "int", "Fed_Min_Wage": "double"},
}


@pytest.fixture(scope="module")
def tables(spark, fixture_paths):
    etl = EconomicsETL(spark=spark, **fixture_paths)
    return etl.run(validate=True)


def test_eleven_tables(tables):
    assert set(tables) == set(EXPECTED_SCHEMAS)


def test_schemas(tables):
    for name, expected in EXPECTED_SCHEMAS.items():
        got = dict(tables[name].dtypes)
        assert got == expected, f"{name}: {got} != {expected}"


def test_primary_keys(tables):
    for name, keys in PRIMARY_KEYS.items():
        df = tables[name]
        assert null_key_count(df, keys) == 0, f"{name}: null keys"
        assert duplicate_keys(df, keys).count() == 0, f"{name}: dup keys"


def test_location_coalesced_names(tables):
    loc = tables["table_location"].toPandas()
    assert loc["GeoName"].notna().all()
    # US-total row: '*' stripped, Region null (blank-coerced)
    us = loc[loc["GeoFIPS"] == 0]
    assert len(us) == 1 and us.iloc[0]["GeoName"] == "United States"
    assert us.iloc[0]["Region"] != us.iloc[0]["Region"]  # NaN


def test_gdp_sentinels_null_and_scaled(tables, spark, fixture_paths):
    gdp = tables["table_gdp"]
    assert gdp.filter(F.col("GDP").isNull()).count() > 0  # (D)/(L)/(NA)
    # values scaled to dollars: max must exceed raw millions cap
    assert gdp.agg(F.max("GDP")).first()[0] > 1_000_000


def test_melt_identity(spark, fixture_paths, tables):
    """rows(table_gdp) = gdp data rows x 24 year cols (dedup is a no-op on
    the synthetic fixture: keys are unique by construction)."""
    etl = EconomicsETL(spark=spark, **fixture_paths)
    n_raw = etl.load_gdp().count()
    assert tables["table_gdp"].count() == n_raw * 24


def test_school_expense_type_dim(tables):
    dim = tables["table_school_expense_type"].toPandas().sort_values(
        "School_Expense_Type_Id"
    )
    assert list(dim["School_Expense_Type_Id"]) == list(range(8))


def test_inflation_one_row_per_year(tables):
    inf = tables["table_inflation"]
    assert inf.count() == inf.select("Year").distinct().count() == 53  # 1968-2020


def test_min_wage_drops_unknown_jurisdictions(tables):
    """Guam/PR/USVI are not in the location dim -> inner join drops them."""
    mw = tables["table_state_min_wage"]
    assert mw.select("GeoFIPS").distinct().count() == 21  # the 21 fixture states


def test_min_wage_schema_matches_inferred(spark, fixture_paths):
    """The declared min-wage schema is the one inference would find on the
    reference-shaped fixture, so declaring it changes no column type."""
    from state_economics_end_to_end_data_pipeline_spark.io.readers import read_csv

    inferred = read_csv(spark, fixture_paths["min_wage_csv"], sniff=True).schema
    assert MIN_WAGE_SCHEMA == inferred


def _plant(tables, **planted):
    """The output set with each named table replaced by ``planted[name]``
    applied to it."""
    return {k: planted[k](v) if k in planted else v for k, v in tables.items()}


def _null_geofips(df):
    return df.unionByName(df.limit(1).withColumn("GeoFIPS", F.lit(None).cast("int")))


def _dup_row(df):
    return df.unionByName(df.limit(1))


def _orphan_geofips(df):
    return df.unionByName(df.limit(1).withColumn("GeoFIPS", F.lit(999999)))


@pytest.mark.parametrize(
    "planted, message",
    [
        (
            {"table_Unemployment": _null_geofips},
            "Primary key violation in table_Unemployment: 1 rows with null "
            "in key columns ['GeoFIPS', 'Year']",
        ),
        (
            {"table_gdp": _dup_row},
            "Primary key violation in table_gdp: duplicate values for key "
            "columns ['GeoFIPS', 'Year', 'Industry_Code']",
        ),
        # two breaks: the first in gate order is reported -- PKs in
        # PRIMARY_KEYS order, nulls before duplicates, then FKs
        (
            {"table_Unemployment": _dup_row, "table_location": _null_geofips},
            "Primary key violation in table_location: 1 rows with null in "
            "key columns ['GeoFIPS']",
        ),
        (
            {"table_Unemployment": lambda df: _null_geofips(_dup_row(df))},
            "Primary key violation in table_Unemployment: 1 rows with null "
            "in key columns ['GeoFIPS', 'Year']",
        ),
        (
            {"table_Unemployment": _orphan_geofips, "table_inflation": _dup_row},
            "Primary key violation in table_inflation: duplicate values for "
            "key columns ['Year']",
        ),
    ],
)
def test_validate_outputs_reports_first_violation(tables, planted, message):
    """The integrity gate rejects a corrupted output set with the message
    of the first broken constraint; the clean set passes (exercised by the
    `tables` fixture itself, which runs with validate=True)."""
    with pytest.raises(ValueError) as err:
        EconomicsETL.validate_outputs(_plant(tables, **planted))
    assert str(err.value) == message


def test_validate_outputs_catches_fk_violation(tables):
    """An orphan GeoFIPS planted in table_Unemployment (no parent in
    table_location) is rejected, naming that edge."""
    with pytest.raises(ValueError) as err:
        EconomicsETL.validate_outputs(_plant(tables, table_Unemployment=_orphan_geofips))
    assert str(err.value) == (
        "Foreign key violation: table_Unemployment.GeoFIPS has rows with "
        "no parent in table_location.GeoFIPS"
    )


def test_check_primary_key_messages(spark):
    """check_primary_key keeps the reference's messages, nulls first, on
    top of the same one-action helper as the gate."""
    df = spark.createDataFrame([(1, "a"), (1, "b"), (None, "c"), (None, "d")], "k int, v string")
    with pytest.raises(ValueError) as err:
        check_primary_key(df, ["k"])
    assert str(err.value) == "Primary key violation in <df>: 2 rows with null in key columns ['k']"
    with pytest.raises(ValueError) as err:
        check_primary_key(df.dropna(), ["k"], table="t")
    assert str(err.value) == "Primary key violation in t: duplicate values for key columns ['k']"
    check_primary_key(df, ["v"], table="t")


def test_validate_outputs_checks_in_one_query(spark, tables):
    """All 16 constraints run as one query: beyond re-materializing the 11
    tables, the gate's job group stays within 25 jobs, below what the 25
    per-constraint actions would submit."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("test-gate", "validate_outputs")
        EconomicsETL.validate_outputs(tables)
        sc.setJobGroup("test-gate-materialize", "localCheckpoint only")
        for df in tables.values():
            df.localCheckpoint(eager=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    gate = len(tracker.getJobIdsForGroup("test-gate"))
    materialize = len(tracker.getJobIdsForGroup("test-gate-materialize"))
    assert gate - materialize <= 25, (gate, materialize)


def test_validated_tables_are_materialized_without_leaks(spark, fixture_paths):
    """run(validate=True) returns checkpoint scans, not the raw-file
    lineage, and neither a passing nor a failing gate leaves an entry in
    the CacheManager or changes the session's SQL conf."""

    def sql_conf():
        return {k: v for k, v in spark.conf.getAll.items() if k.startswith("spark.sql.")}

    def cache_empty():
        return spark._jsparkSession.sharedState().cacheManager().isEmpty()

    spark.catalog.clearCache()
    conf = sql_conf()
    tables = EconomicsETL(spark=spark, **fixture_paths).run(validate=True)
    for name, df in tables.items():
        plan = df._jdf.queryExecution().logical().toString()
        assert plan.startswith("LogicalRDD"), f"{name}: {plan}"
    assert cache_empty() and sql_conf() == conf

    with pytest.raises(ValueError, match="table_gdp"):
        EconomicsETL.validate_outputs(_plant(tables, table_gdp=_dup_row))
    assert cache_empty() and sql_conf() == conf


def test_publish_partitions_gdp_by_year_and_prunes(tables, spark, tmp_path):
    """SURVEY section 4's promise made executable: publish() writes the
    Year-keyed facts partitioned by Year, and a Year-filtered read back
    PRUNES -- the physical plan carries a PartitionFilters entry on Year
    (directory-level listing skip), not a post-scan filter. Content
    round-trips exactly (partition col moves to the end; compare sorted
    column order)."""
    paths = EconomicsETL.publish(tables, str(tmp_path / "published"))
    assert set(paths) == set(tables)

    import pathlib

    gdp_dirs = {p.name for p in pathlib.Path(paths["table_gdp"]).iterdir() if p.is_dir()}
    assert gdp_dirs and all(d.startswith("Year=") for d in gdp_dirs)

    some_year = tables["table_gdp"].select(F.min("Year")).first()[0]
    back = spark.read.parquet(paths["table_gdp"]).filter(F.col("Year") == some_year)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "Year" in plan.split("PartitionFilters")[1][:120], plan

    cols = sorted(c for c in tables["table_gdp"].columns)
    key = lambda r: tuple((v is None, v) for v in r)  # noqa: E731 null-safe sort
    want = sorted(map(tuple, tables["table_gdp"].filter(F.col("Year") == some_year).select(*cols).collect()), key=key)
    got = sorted(map(tuple, back.select(*cols).collect()), key=key)
    assert got == want

    # dims stay unpartitioned -- one directory of plain part files
    loc_dirs = [p for p in pathlib.Path(paths["table_location"]).iterdir() if p.is_dir()]
    assert loc_dirs == []
