"""Sources: scans with lineage, globs, and typed projections.

Reference equivalents (SURVEY.md §2.1):
- S1 recursive glob discovery (``/root/reference/raw_data_reformat.py:2-9``)
  → Spark path globs + ``recursiveFileLookup`` / ``pathGlobFilter``: the
  driver-side ``glob.glob`` loop becomes a property of the scan, executed
  in parallel by the data source, not a Python loop.
- S2 per-file JSON read + filename lineage + union
  (``/root/reference/raw_data_reformat.py:13-37``) → one multi-file
  whole-text scan parsed by ``from_json``, with ``input_file_name()``
  lineage; the union is implicit in the multi-file scan (no O(files)
  driver loop).
- S4/S5 typed CSV scans with projection
  (``/root/reference/filtering_data.py:51-71``,
  ``/root/reference/activity_categorize.py:50-66``) → schema'd
  ``spark.read.csv`` + ``select`` (Catalyst prunes into the scan).
- S3 Excel scan (``/root/reference/raw_data_reformat.py:151-181``) →
  driver-side pandas read (files are small, vendor-exported) then
  ``spark.createDataFrame``; gated behind an import-try since openpyxl
  is optional.
- S9 zip extraction (``/root/reference/organize_raw_files.py:7-20``) →
  ``binaryFile`` source + mapInPandas unzip (scale path) or driver-side
  ``zipfile`` (small archives).
"""

from __future__ import annotations

import io
import zipfile
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sensomics_data_pipeline_spark import schemas

#: Timestamp-in-filename lineage pattern
#: (``/root/reference/raw_data_reformat.py:13``).
FILE_REF_PATTERN = r"\d{4}-\d{2}-\d{2}\s\d{2}-\d{2}-\d{2}"


# ---------------------------------------------------------------------------
# Driver synthetic tables
# ---------------------------------------------------------------------------

def ensure_session_confs(spark: SparkSession) -> None:
    """Make an externally-provided SparkSession (e.g. the driver's)
    compatible with the engine's reads and oracle comparisons: UTC
    session timezone (naive parquet timestamps must read identically in
    Spark and DuckDB) and nanos-as-long parquet reads (events.ts is
    TIMESTAMP(NANOS), which the vectorized reader otherwise rejects).
    Both are runtime-settable SQL confs; idempotent."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver parquet table (TESTDATA.md).

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong`` it scans as a long which we
    convert to a microsecond timestamp (driver data is µs-aligned, so
    the floor-division is lossless and matches DuckDB's read).
    """
    ensure_session_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for field in df.schema.fields:
        if field.name == "ts" and field.dataType.simpleString() == "bigint":
            # integer DIV, not `/`: double division loses precision on
            # 1.7e18-scale nanosecond longs and rounds the microsecond
            df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        elif field.dataType.simpleString() == "timestamp_ntz":
            # Driver revisions have shipped events.ts as TIMESTAMP(NANOS)
            # (handled above) and TIMESTAMP(MICROS) with
            # isAdjustedToUTC=false, which scans as TIMESTAMP_NTZ. NTZ
            # breaks event-time ops (unix_micros, watermarks); under the
            # UTC session timezone the cast to TIMESTAMP is wall-clock
            # preserving and yields the exact type the nanos path
            # produced, so downstream plans and oracle comparisons are
            # identical across driver data revisions.
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    names = names or schemas.TPCH_TABLES
    return {n: load_table(spark, sf_dir, n) for n in names}


# ---------------------------------------------------------------------------
# Sensor-pipeline sources
# ---------------------------------------------------------------------------

def read_raw_json(
    spark: SparkSession,
    path: str,
    recursive: bool = False,
    file_ref_pattern: str = FILE_REF_PATTERN,
) -> DataFrame:
    """Scan raw watch JSON files with filename lineage (S2).

    One declarative multi-file scan replaces the reference's per-file
    ``pd.read_json`` + concat loop (``raw_data_reformat.py:13-37``).
    ``jname`` is the timestamp embedded in the file name
    (``raw_data_reformat.py:22-29``); rows from files without the pattern
    get ``jname = ''`` (parity with ``:23-25``).

    Each file is one JSON document (a record array), as ``pd.read_json``
    reads it, so an upload pretty-printed over many lines parses the same
    as one written on a single line. The files are scanned as whole texts
    and parsed with ``from_json`` rather than by the JSON source's
    ``multiLine`` mode: that mode re-reads the stream to cut each string
    value's exact input text, which made the scan of a 19-file,
    37k-record upload set about 10x slower (PySpark 4.1.2).

    ``data`` is kept as JSON text (``spark.sql.json`` can't type a
    polymorphic scalar-or-nested-list column); the unpivot operators
    parse it per-kind with ``from_json``.
    """
    files = (
        spark.read.option("recursiveFileLookup", str(recursive).lower())
        .option("pathGlobFilter", "*.json")
        .text(path, wholetext=True)
    )
    # input_file_name() is URL-encoded ("upload%202024-..."), so decode
    # before the timestamp regex (which contains a literal space); safe
    # decode so a malformed escape degrades to the raw name instead of
    # failing the scan (same guard as sources.organize)
    from sensomics_data_pipeline_spark.sources.organize import _safe_decode

    fname = _safe_decode(F.input_file_name())
    return files.select(
        F.from_json("value", T.ArrayType(schemas.RAW_JSON_SCHEMA)).alias("_recs"),
        F.regexp_extract(fname, file_ref_pattern, 0).alias("jname"),
    ).select(F.inline("_recs"), "jname")


def read_measurements_csv(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Typed CSV scan of the long measurement extract (S4/S5).

    Schema'd read + select — Catalyst pushes the projection into the scan
    (the reference does this by hand with ``usecols``,
    ``activity_categorize.py:50-55``).
    """
    return (
        spark.read.schema(schemas.MEASUREMENTS_SCHEMA)
        .option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]")
        .csv(paths)
    )


def read_acc_csv(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Accelerometer extract scan: revive the CSV-stringified 5-sample list
    (S6, ``acc_reformat.py:66``) with ``from_json`` instead of a per-row
    ``ast.literal_eval``."""
    raw = (
        spark.read.option("header", "true")
        .schema(
            T.StructType(
                [
                    T.StructField("jname", T.StringType(), True),
                    T.StructField("kind", T.StringType(), False),
                    T.StructField("data", T.StringType(), True),
                    T.StructField("date_time", T.TimestampType(), False),
                ]
            )
        )
        .csv(paths)
    )
    return raw.withColumn(
        "data", F.from_json("data", T.ArrayType(T.DoubleType()))
    )


def read_excel_measurements(spark: SparkSession, path: str) -> DataFrame:
    """Vendor "computed" workbook scan (S3, FIXTURES.md F2).

    The reference re-implements this loader three times
    (``raw_data_reformat.py:151-181``, ``filtering_data.py:15-45``,
    ``activity_categorize.py:14-44``); here it exists once. Driver-side
    pandas read (vendor workbooks are KBs, not TBs) feeding an Arrow
    ``createDataFrame``; all reshaping (rename → melt → filters →
    duration parse) happens in Spark — see
    ``operators.unpivot.melt_computed_wide``.
    """
    try:
        import openpyxl  # noqa: F401
        import pandas as pd

        sheets = pd.read_excel(path, sheet_name=None, dtype=str)
    except ImportError:
        # No openpyxl in this image: the pure-stdlib SpreadsheetML
        # parser honors the same {sheet: all-string frame} contract
        # (see sources/xlsx.py for its documented date-serial limit).
        from sensomics_data_pipeline_spark.sources.xlsx import read_xlsx_sheets

        sheets = read_xlsx_sheets(path)
    return computed_sheets_to_df(spark, sheets)


def computed_sheets_to_df(spark: SparkSession, sheets: dict) -> DataFrame:
    """Everything of the workbook source except the openpyxl parse:
    {sheet name: all-string pandas frame} → one Spark DataFrame with a
    ``_sheet`` lineage column. Split out so the full ingestion path is
    testable without openpyxl — a CSV read with ``dtype=str`` produces
    the identical frame shape ``pd.read_excel(dtype=str)`` would."""
    import pandas as pd

    frames = [df.assign(_sheet=name) for name, df in sheets.items()]
    pdf = pd.concat(frames, ignore_index=True)
    return spark.createDataFrame(pdf)


def read_zip_members(spark: SparkSession, path: str) -> DataFrame:
    """Zip-archive source (S9): distributed unzip via binaryFile +
    mapInPandas — each archive is exploded into (archive, member, size,
    payload) rows on the executors, so a directory of thousands of
    device-upload zips (``organize_raw_files.py:7-20``) never serializes
    through the driver.
    """
    out_schema = T.StructType(
        [
            T.StructField("archive", T.StringType(), False),
            T.StructField("member", T.StringType(), False),
            T.StructField("size", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )

    def explode_zip(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                with zipfile.ZipFile(io.BytesIO(row["content"])) as zf:
                    for info in zf.infolist():
                        if info.is_dir():
                            continue
                        rows.append(
                            (row["path"], info.filename, info.file_size,
                             zf.read(info.filename))
                        )
            yield pd.DataFrame(
                rows, columns=["archive", "member", "size", "payload"]
            )

    binary = spark.read.format("binaryFile").option("pathGlobFilter", "*.zip").load(path)
    return binary.select("path", "content").mapInPandas(explode_zip, out_schema)
