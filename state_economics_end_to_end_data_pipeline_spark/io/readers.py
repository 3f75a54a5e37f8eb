"""Source readers (SURVEY.md section 2.1, S1-S5, S10).

Design rules:
- Explicit ``StructType`` everywhere -- the reference re-infers schemas at
  every XCom hop and silently degrades types (SURVEY.md section 1.3);
  we never infer in production paths.
- Encoding is an option on the distributed CSV reader (S2) -- the
  Windows-1252 min-wage file needs ``encoding='windows-1252'``; an optional
  chardet pre-sniff reads only the first bytes on the driver.
- Excel (S3/S4) has no distributed reader: the xlsx is a 57-row
  dimension-sized file, so a pandas/openpyxl shim on the driver ->
  ``spark.createDataFrame`` is the honest design at any scale (a 100 TB
  pipeline does not ship 100 TB of xlsx; the shim is for dims only and
  raises above a row cap).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

EXCEL_SHIM_ROW_CAP = 1_000_000  # dims only; fail loudly rather than OOM the driver


def sniff_encoding(path: str, n_bytes: int = 64 * 1024) -> str:
    """S2 -- charset detection for legacy CSVs (reference uses chardet on the
    whole file, DAG1:54-58; we sniff a prefix on the driver -- O(1), not O(file))."""
    with open(path, "rb") as f:
        head = f.read(n_bytes)
    try:
        import chardet

        enc = chardet.detect(head)["encoding"] or "utf-8"
    except ImportError:  # chardet not in the runtime image: cheap heuristic
        try:
            head.decode("utf-8")
            enc = "utf-8"
        except UnicodeDecodeError:
            enc = "windows-1252"
    return enc


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    encoding: str | None = None,
    sniff: bool = False,
) -> DataFrame:
    """S1/S2 -- distributed CSV scan with explicit schema (splittable,
    predicate/projection friendly). ``sniff=True`` detects legacy encodings
    from a byte prefix."""
    if sniff and encoding is None:
        encoding = sniff_encoding(path)
    reader = spark.read.option("header", str(header).lower())
    if encoding:
        reader = reader.option("encoding", encoding)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_excel_sheet(
    spark: SparkSession,
    path: str,
    sheet: int | str = 0,
    skip_banner_rows: int = 0,
    drop_first_col: bool = False,
    drop_footer_rows: int = 0,
    header_row: bool = True,
) -> DataFrame:
    """S3/S4/S5 -- Excel ingest shim.

    Reproduces the reference's positional sheet surgery (DAG1:24-38): skip
    banner rows, drop the leading empty column, promote the next row to
    header, drop trailing footer rows. Positional logic is inherently
    driver-side; this shim is restricted to dimension-sized files
    (EXCEL_SHIM_ROW_CAP) and hands a properly-typed DataFrame to the
    distributed engine. All cells come back as strings -- downstream cleaning
    casts explicitly (no inference drift).
    """
    from .excel import read_xlsx_grid

    sheet_index = sheet if isinstance(sheet, int) else 0
    grid = read_xlsx_grid(path, sheet_index=sheet_index)
    if len(grid) > EXCEL_SHIM_ROW_CAP:
        raise ValueError(
            f"excel shim is for dimension-sized files; {path} has {len(grid)} rows"
        )
    if skip_banner_rows:
        grid = grid[skip_banner_rows:]
    if drop_first_col:
        grid = [row[1:] for row in grid]
    if header_row:
        header = [str(h).strip() if h is not None else "" for h in grid[0]]
        # mixed string/float year labels ('2014.0') -> canonical int-ish labels
        header = [h[:-2] if h.endswith(".0") else h for h in header]
        grid = grid[1:]
    else:
        header = [f"_c{i}" for i in range(len(grid[0]))] if grid else []
    if drop_footer_rows:
        grid = grid[:-drop_footer_rows]
    rows = [tuple(row + [None] * (len(header) - len(row))) for row in grid]
    schema = T.StructType([T.StructField(c, T.StringType(), True) for c in header])
    return spark.createDataFrame(rows, schema=schema)


def _nanos_ts_columns(path: str) -> list[str]:
    """Columns stored as INT64 TIMESTAMP(NANOS) in a local parquet file.
    Spark has no nanosecond timestamp type; with
    ``spark.sql.legacy.parquet.nanosAsLong`` they scan as bigint and we
    convert to microsecond timestamps (integer div by 1000 -- lossless for
    the semantics here, no double round-trip)."""
    try:
        import pyarrow.parquet as pq
        import pyarrow as pa

        schema = pq.read_schema(path)
        return [
            f.name
            for f in schema
            if isinstance(f.type, pa.TimestampType) and f.type.unit == "ns"
        ]
    except Exception:  # non-local path / no pyarrow: caller sees raw longs
        return []


def read_parquet_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S10 -- columnar scan of a published table (projection + predicate
    pushdown, partition pruning all free via the parquet source).

    The session's temp view ``__sg_scan_<name>_<md5(path)>`` is the scan
    memo: a catalog suite reads the same static files hundreds of times,
    and resolving a registered view costs ~3 ms of driver work (median,
    ``local[4]``, docs/MEMOS.md) where resolving the footer again costs a
    Spark job.  The view holds a PLAN, never data: every returned
    DataFrame re-reads parquet at action time, and the analyzer
    re-aliases the view per query, so self-joins stay sound.  Temp views
    are session-scoped, so a second session resolves the footer once for
    itself.  The view assumes the files at a path do not change: a caller
    that rewrites a path in-process must ``spark.catalog.dropTempView`` it."""
    path = f"{sf_dir}/{name}.parquet"
    # reserved prefix; md5-suffixed because several sf_dirs can carry the
    # same table name within one session
    view = f"__sg_scan_{name}_{hashlib.md5(path.encode()).hexdigest()}"
    # tableExists, not spark.table + AnalysisException: once the session
    # has used an Observation, a failed analysis makes Spark's
    # observation listener log an ERROR with a stack trace
    if spark.catalog.tableExists(view):
        return spark.table(view)
    from pyspark.sql import functions as F

    nanos_cols = _nanos_ts_columns(path)
    # Set before the footer resolves, on the reading session: a session
    # built outside get_spark (e.g. an external harness's) would otherwise
    # fail nanos files with PARQUET_TYPE_ILLEGAL, and read naive
    # timestamps as TIMESTAMP_NTZ (watermarks, window() and unix_micros
    # all require TIMESTAMP; with a UTC session the micros are identical).
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    df = spark.read.parquet(path)
    dtypes = dict(df.dtypes)
    # pyarrow also reports INT96 timestamps as ns; Spark scans those as
    # TIMESTAMP already, so only the bigint columns need converting
    for c in nanos_cols:
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    df.createOrReplaceTempView(view)
    return spark.table(view)


def read_csv_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    encoding: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Malformed-row quarantine: scan in PERMISSIVE mode, split into
    (good, quarantined). Good rows carry the declared schema; quarantined
    rows keep the raw line for replay/debugging. At 100 TB a single bad
    row must neither kill the job (FAILFAST) nor vanish silently
    (DROPMALFORMED) -- this is the third option the reference lacks: keep
    going AND keep the evidence.

    The corrupt-record column must be materialized before it can be
    filtered on its own (Spark disallows pruning a scan down to only the
    internal corrupt column), hence the lazy ``localCheckpoint`` -- one
    scan feeds both halves of the split, and its blocks are freed with
    the frames (nothing enters the session's cache)."""
    corrupt_col = "_corrupt_record"
    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType(), True)]
    )
    reader = (
        spark.read.option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .schema(full)
    )
    if encoding:
        reader = reader.option("encoding", encoding)
    df = reader.csv(path).localCheckpoint(eager=False)
    from pyspark.sql import functions as F

    good = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    quarantined = df.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_line")
    )
    return good, quarantined


def read_json_lines(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Newline-delimited JSON scan with explicit schema (no production
    inference -- same discipline as read_csv). JSON is the interchange
    format the reference pushes through XCom (DAG1:42,65); at rest we treat
    it as a first-class splittable source instead of a serialization hop."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_orc_table(spark: SparkSession, path: str) -> DataFrame:
    """ORC columnar scan -- same pushdown/pruning properties as parquet via
    the native vectorized ORC source; exists so published tables can be
    consumed from either columnar format."""
    return spark.read.orc(path)


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str,
    schema: T.StructType | str | None = None,
) -> DataFrame:
    """XML scan (Spark 4 native source -- no external package): one row
    per ``row_tag`` element. Pass an explicit ``schema`` in production;
    inference reads the data twice and, as everywhere in this repo,
    explicit schemas are the 100 TB discipline. The source is splittable
    per-file (elements are parsed within each file), so a directory of
    many XML files parallelizes like any other file source."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)
