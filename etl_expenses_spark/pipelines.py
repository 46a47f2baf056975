"""The reference's three ETL flows as Spark batch jobs (SURVEY.md §3).

Each pipeline is one declarative job — bronze scan → parse/normalize →
repair/cast → idempotent merge into a gold parquet table — replacing the
reference's lambda chain (Extract → Transform → Load → crawler) with a
single Catalyst-planned dataflow. Stage boundaries (shuffles) replace the
S3 handoffs; ``merge_append`` replaces the per-batch DISTINCT-key checks;
its staged write, counted from the parquet footers and moved into gold
by rename, replaces the Glue crawl.

The reference skips a processed file by moving it ``raw/`` → ``processed/``.
Here each gold table keeps a listing record, ``{gold}/_loaded.json``, of the
bronze files it has read as ``path → [size, mtime_ns]`` (Structured
Streaming's files-seen log, Armbrust et al., SIGMOD 2018). A run lists its
bronze dir on the driver with the rule Spark's scan applied (the flow's
glob, ``_``- and ``.``-prefixed names skipped, not recursive) and reads only
files the record lacks or that changed since; with none, it returns 0
without a Spark job. The record is swapped in after the publish, so a crash
in between costs a re-parse, which the key anti-join absorbs. The anti-join
runs on every load: it is what drops a byte-identical ticket re-delivered
under a new name.

EP1 `/root/reference/main.tf:851-921` (ticket PDFs)
EP2 `/root/reference/main.tf:924-999` (MP settlement reports)
EP3 `/root/reference/ai_agent/lambda_function.py:190-240` (SQL surface)
"""

from __future__ import annotations

import fnmatch
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from etl_expenses_spark.functions.dates import pad_time, to_date_dayfirst
from etl_expenses_spark.operators import wap
from etl_expenses_spark.operators.merge import merge_append
from etl_expenses_spark.parsers import mails_to_payments, tickets_to_items
from etl_expenses_spark.quality import require_fields
from etl_expenses_spark.schemas import MAIL_DOC, MP_HEADER_ALIASES
from etl_expenses_spark.sources.readers import read_binary_files, read_csv, read_json_docs


def _load_unseen(spark, bronze_dir: str, glob: str, gold_path: str, rows, keys) -> int:
    """``merge_append`` the batch ``rows(spark, paths)`` builds from the
    bronze files matching ``glob`` that the gold table's listing record lacks
    or holds with another size or mtime, then record them (module
    docstring). Returns the rows appended, 0 without a Spark job when no
    file is new."""
    record_path = os.path.join(gold_path, "_loaded.json")
    record = wap.read_json(record_path, {})
    listed = {
        e.path: [e.stat().st_size, e.stat().st_mtime_ns]
        for e in os.scandir(os.path.abspath(bronze_dir))
        if e.is_file() and not e.name.startswith(("_", ".")) and fnmatch.fnmatchcase(e.name, glob)
    }
    new = {path: v for path, v in listed.items() if record.get(path) != v}
    if not new:
        return 0
    n = merge_append(rows(spark, sorted(new)), gold_path, keys=keys)
    wap.atomic_write(record_path, json.dumps({**record, **new}))
    return n


def run_ticket_pipeline(spark: SparkSession, bronze_dir: str, gold_path: str) -> int:
    """EP1: raw ticket 'PDFs' → carrefour_data gold rows. Returns rows loaded."""
    keys = ["nro_ticket", "item_no"]
    return _load_unseen(spark, bronze_dir, "*.pdf", gold_path, _ticket_rows, keys)


def _ticket_rows(spark: SparkSession, paths: list[str]) -> DataFrame:
    raw = read_binary_files(spark, paths).filter(F.col("length") > 0)
    items = tickets_to_items(raw)
    w = W.partitionBy("nro_ticket").orderBy("prod", "p_total")
    return (
        items.withColumn("item_no", F.row_number().over(w))
        .withColumn("fecha", to_date_dayfirst("fecha"))
    )


def _normalize_mp_headers(df: DataFrame, passthrough: tuple[str, ...] = ()) -> DataFrame:
    """Dual-header ingestion, data-driven: match the observed header set to a
    dialect via the alias map (`load_data/lambda_function.py:76-159` did this
    with try/except INSERT fallback)."""
    renames = {c: MP_HEADER_ALIASES[c] for c in df.columns if c in MP_HEADER_ALIASES}
    unknown = [c for c in df.columns if c not in MP_HEADER_ALIASES and c not in passthrough]
    if unknown:
        raise ValueError(f"unrecognized MP report header(s): {unknown}")
    return df.select(
        *[F.col(f"`{src}`").alias(dst) for src, dst in renames.items()],
        *[F.col(c) for c in passthrough if c in df.columns],
    )


def run_mp_report_pipeline(spark: SparkSession, bronze_dir: str, gold_path: str) -> int:
    """EP2: settlement report CSVs (';', either header dialect) → mp_data.

    Filename encodes report metadata `<prefix>_<report_date>_<report_id>.csv`
    (`extract_data_mp/lambda_function.py:85-95`) — parsed as column
    expressions over input_file_name, not Python."""
    # J1: whole-report idempotency — skip any report_id already in gold
    return _load_unseen(spark, bronze_dir, "*.csv", gold_path, _mp_rows, ["report_id"])


def _mp_rows(spark: SparkSession, paths: list[str]) -> DataFrame:
    raw = read_csv(spark, paths, sep=";").withColumn(
        "__file", F.input_file_name()
    )
    fname = F.element_at(F.split(F.col("__file"), "/"), -1)
    stem = F.substring_index(fname, ".", 1)
    report_id = F.substring_index(stem, "_", -1)
    report_date = F.try_to_timestamp(F.substring_index(F.substring_index(stem, "_", -2), "_", 1))
    normalized = _normalize_mp_headers(
        raw.withColumn("report_id", report_id).withColumn("report_date", report_date).drop(
            "__file"
        ),
        passthrough=("report_id", "report_date"),
    )
    return normalized.select(
        F.col("source_id").cast("string"),
        "report_id",
        "report_date",
        F.try_to_timestamp("settlement_date").alias("settlement_date"),
        "payment_method_type",
        "transaction_type",
        F.col("transaction_amount").try_cast("double").alias("transaction_amount"),
        F.try_to_timestamp("transaction_date").alias("transaction_date"),
        F.col("real_amount").try_cast("double").alias("real_amount"),
        F.col("pos_id").cast("string").alias("pos_id"),
        F.col("store_id").cast("string").alias("store_id"),
        "store_name",
        "payer_name",
        "business_unit",
        "sub_unit",
    )


def run_bank_mail_pipeline(spark: SparkSession, bronze_dir: str, gold_path: str) -> int:
    """EP2-bank: mail JSON docs → bank_payments rows keyed by the md5
    natural id (J2 dedup on `id`)."""
    return _load_unseen(spark, bronze_dir, "*.json", gold_path, _mail_rows, ["id"])


def _mail_rows(spark: SparkSession, paths: list[str]) -> DataFrame:
    docs = read_json_docs(spark, paths, schema=MAIL_DOC)
    payments = mails_to_payments(docs)
    typed = (
        payments.withColumn("fecha_pago", to_date_dayfirst("fecha_pago"))
        .withColumn("hora_pago", pad_time("hora_pago"))
        .withColumn("monto", F.col("monto").try_cast("decimal(12,2)"))
        .withColumn("extraido_en", F.try_to_timestamp("extraido_en"))
    )
    return require_fields(
        typed, ["fecha_pago", "hora_pago", "comercio", "monto", "nro_tarjeta", "divisa"]
    )


def sql_surface(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    """EP3: the NL→SQL agent's execution surface — catalog + spark.sql.
    The agent supplies SQL; the engine supplies schemas and execution
    (`ai_agent/lambda_function.py:101-125`'s Data-API poll loop becomes a
    single Catalyst-planned query)."""
    from etl_expenses_spark.sources.readers import register_views

    register_views(spark, sf_dir)
    return spark.sql(sql)


def result_markdown(df: DataFrame, limit: int = 20) -> str:
    """K7: render a (small) result as an aligned markdown table — the
    presentation step of the NL→SQL agent
    (`/root/reference/ai_agent/lambda_function.py:127-154` builds the same
    aligned table for Telegram). Caps at ``limit`` rows (the agent's prompt
    rule 5, `:65`); only the capped result crosses to the driver."""
    rows = df.limit(limit).collect()
    cols = df.columns
    cells = [[("" if v is None else str(v)) for v in row] for row in rows]
    widths = [
        max(len(c), *(len(r[i]) for r in cells)) if cells else len(c)
        for i, c in enumerate(cols)
    ]

    def line(vals: list[str]) -> str:
        return "| " + " | ".join(v.ljust(w) for v, w in zip(vals, widths)) + " |"

    header = line(cols)
    sep = "|" + "|".join("-" * (w + 2) for w in widths) + "|"
    return "\n".join([header, sep, *(line(r) for r in cells)])
