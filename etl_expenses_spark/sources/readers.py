"""Typed readers for the engine's sources (SURVEY.md §2.1).

The reference pulls from S3 objects (CSV ';', XLSX, JSON mail docs, raw PDF
bytes — `/root/reference/load_data/lambda_function.py:274-276`,
`transform_data_mp/lambda_function.py:52-62`,
`transform_data_bank_pay/lambda_function.py:80-81`). Here every source is a
declarative ``spark.read`` so Catalyst sees the schema and can push filters
and prune columns down to the scan; directory-listing + suffix filtering
(S5) is expressed as path globs and ``binaryFile`` metadata predicates
rather than imperative loops.
"""

# PROCESS GUARD: any behavioral edit to this file changes how EVERY query
# reads data — run the FULL-registry oracle sweep before committing
# (python tools/check_oracle.py /root/testdata/sf0.01 --vanilla); the
# round-2 json_struct_roundtrip wrong answer escaped exactly this way.

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# The driver-provided synthetic tables (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# load_table's schema memo: absolute path -> (file version + inference
# confs, StructType). Only the schema is kept, never a DataFrame: each call
# must build a fresh relation (fresh expression IDs) so that two loads of
# one table can still be self-joined.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata parquet table.

    Parquet scan → columnar vectorized reader, min/max stat pruning and
    predicate pushdown are automatic once filters are declared on the result.

    The testdata tiers store timestamps as INT64 TIMESTAMP(MICROS), not
    adjusted to UTC. A file that stores parquet TIMESTAMP(NANOS), which
    Spark's reader rejects, has the column read as long and truncated to
    microseconds — the same truncation DuckDB's reader applies, so both
    engines see identical values.

    Schema inference costs a Spark job per read. For a local regular file
    the inferred schema is remembered per file version (absolute path,
    size, mtime, inode) and the parquet inference confs not pinned here,
    and later reads pass it to the reader instead. Directories, URIs and
    missing paths are inferred on every call.
    """
    # Engine semantics are pinned to UTC and must hold even on a caller's
    # vanilla session (the driver constructs its own SparkSession).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Naive parquet timestamps (isAdjustedToUTC=false) would infer as
    # TIMESTAMP_NTZ on Spark 4, which epoch functions reject; with the
    # session pinned to UTC, plain TIMESTAMP is value-identical and matches
    # what DuckDB's oracle sees.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    path = f"{sf_dir}/{name}.parquet"
    try:
        st = os.stat(path) if os.path.isabs(path) else None
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        df = spark.read.parquet(path)
    else:
        stamp = (
            st.st_size,
            st.st_mtime_ns,
            st.st_ino,
            spark.conf.get("spark.sql.parquet.binaryAsString"),
            spark.conf.get("spark.sql.parquet.int96AsTimestamp"),
        )
        hit = _SCHEMAS.get(path)
        if hit is not None and hit[0] == stamp:
            df = spark.read.schema(hit[1]).parquet(path)
        else:
            df = spark.read.parquet(path)
            _SCHEMAS[path] = (stamp, df.schema)
    for f_ in df.schema.fields:
        if f_.name == "ts" and f_.dataType.typeName() in ("long", "bigint"):
            # integer div — float division would lose precision above 2^53 ns
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose all testdata tables to the SQL surface (`spark.sql`).

    This is the engine's catalog feed — the analog of the reference's Glue
    crawler + ``get_tables`` schema read-back
    (`/root/reference/ai_agent/lambda_function.py:22-36`), except schemas are
    transactionally known from parquet footers instead of crawled. Each
    file's footer is read once per file version (see ``load_table``); every
    call still re-points all views at fresh relations.
    """
    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def read_csv(
    spark: SparkSession,
    path: str,
    schema=None,
    sep: str = ",",
    header: bool = True,
) -> DataFrame:
    """CSV scan (S1) incl. the ';' dialect used by MP settlement reports
    (`/root/reference/transform_data_mp/lambda_function.py:52`)."""
    reader = spark.read.option("header", header).option("sep", sep)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_json_docs(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """One-JSON-document-per-file scan (S3), the bank-mail layout
    (`/root/reference/transform_data_bank_pay/lambda_function.py:80-81`)."""
    reader = spark.read.option("multiLine", True)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_excel(spark: SparkSession, path: str, sheet: str | int = 0) -> DataFrame:
    """Excel scan (S2) — the MP settlement XLSX variant
    (`/root/reference/transform_data_mp/lambda_function.py:62`,
    `load_data/lambda_function.py:276`).

    Spark has no core XLSX reader; the scalable recipe is ingest-time
    conversion: the (small) workbook is parsed once driver-side, the result
    lands as parquet bronze, and everything downstream is columnar. Parsing
    uses pandas+openpyxl when installed, else the built-in pure-stdlib
    reader (``sources/xlsx.py`` — zip+XML, shared/inline strings, typed
    cells), so ingestion works in dependency-free containers too.
    """
    try:
        import openpyxl  # noqa: F401
        import pandas as _pd

        pdf = _pd.read_excel(path, sheet_name=sheet)  # pragma: no cover
        return spark.createDataFrame(pdf)  # pragma: no cover
    except ImportError:
        pass
    from etl_expenses_spark.sources.xlsx import read_xlsx

    rows = read_xlsx(path, sheet=sheet)
    if not rows:
        raise ValueError(f"empty worksheet in {path}")
    header = [str(h) if h is not None else f"col{i}" for i, h in enumerate(rows[0])]
    data = rows[1:]

    def col_type(i: int) -> str:
        vals = [r[i] for r in data if r[i] is not None]
        if vals and all(isinstance(v, bool) for v in vals):
            return "boolean"
        if vals and all(isinstance(v, int) and not isinstance(v, bool) for v in vals):
            return "bigint"
        if vals and all(
            isinstance(v, (int, float)) and not isinstance(v, bool) for v in vals
        ):
            return "double"
        return "string"

    types = [col_type(i) for i in range(len(header))]
    schema_ddl = ", ".join(f"`{h}` {t}" for h, t in zip(header, types))

    def coerce(v, t):
        if v is None:
            return None
        if t == "double":
            return float(v)
        if t == "string" and not isinstance(v, str):
            return str(v)
        return v

    coerced = [tuple(coerce(r[i], types[i]) for i in range(len(header))) for r in data]
    return spark.createDataFrame(coerced, schema=schema_ddl)


def read_binary_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Binary scan (S4) for PDF-like payloads: columns
    (path, modificationTime, length, content). Suffix/size predicates (P3)
    are then plain filters on this metadata."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)
