"""End-to-end pipeline tests: bronze fixtures → gold parquet, twice
(idempotency — the EP1/EP2 contract)."""

from __future__ import annotations

import json
import shutil
import tempfile
from pathlib import Path

import pytest

from etl_expenses_spark.pipelines import (
    run_bank_mail_pipeline,
    run_mp_report_pipeline,
    run_ticket_pipeline,
    sql_surface,
)
from tests.test_parsers import MAIL_HTML, TICKET_TEXT

MP_CSV_EN = (
    "SOURCE_ID;SETTLEMENT_DATE;PAYMENT_METHOD_TYPE;TRANSACTION_TYPE;TRANSACTION_AMOUNT;"
    "TRANSACTION_DATE;REAL_AMOUNT;POS_ID;STORE_ID;STORE_NAME;PAYER_NAME;BUSINESS_UNIT;SUB_UNIT\n"
    "s1;2025-04-01 10:00:00;credit_card;payment;1500.5;2025-03-30 09:00:00;1450.2;p1;st1;Store One;Alice;online;checkout\n"
    "s2;2025-04-01 11:00:00;debit_card;payment;200.0;2025-03-30 10:00:00;195.0;p1;st1;Store One;Bob;online;checkout\n"
)

MP_CSV_ES = (
    "ID DE OPERACIÓN EN MERCADO PAGO;FECHA DE APROBACIÓN;TIPO DE MEDIO DE PAGO;TIPO DE OPERACIÓN;"
    "VALOR DE LA COMPRA;FECHA DE ORIGEN;MONTO NETO DE OPERACIÓN;ID DE CAJA;ID DE LA SUCURSAL;"
    "NOMBRE DE LA SUCURSAL;PAGADOR;CANAL DE VENTA;PLATAFORMA DE COBRO\n"
    "s3;2025-04-08 10:00:00;credit_card;payment;300.0;2025-04-06 09:00:00;290.0;p2;st2;Store Two;Carol;presencial;pos\n"
)


@pytest.fixture()
def tmpdirs():
    root = Path(tempfile.mkdtemp(prefix="pipe_"))
    bronze, gold = root / "bronze", root / "gold"
    bronze.mkdir()
    yield bronze, gold
    shutil.rmtree(root, ignore_errors=True)


def test_ticket_pipeline_end_to_end(spark, tmpdirs):
    bronze, gold = tmpdirs
    (bronze / "t1.pdf").write_bytes(b"%PDF" + TICKET_TEXT.encode())
    (bronze / "junk.txt").write_bytes(b"ignored")  # suffix predicate P3
    n = run_ticket_pipeline(spark, str(bronze), str(gold / "carrefour_data"))
    assert n == 3
    out = spark.read.parquet(str(gold / "carrefour_data"))
    rows = {r.prod: r for r in out.collect()}
    assert str(rows["Agua Mineral 2L"].fecha) == "2025-04-26"  # two-digit-year repaired
    # bruto = 1700 + 1250.5 + 2699.2 - 150 = 5499.7 ; meli = floor(0.3*bruto*100)/100
    assert rows["Agua Mineral 2L"].total_ticket_bruto == pytest.approx(5499.7)
    assert rows["Agua Mineral 2L"].total_ticket_meli == pytest.approx(1649.91)
    # idempotency: same bronze twice → no new rows
    assert run_ticket_pipeline(spark, str(bronze), str(gold / "carrefour_data")) == 0


def test_mp_pipeline_both_dialects(spark, tmpdirs):
    bronze, gold = tmpdirs
    (bronze / "settlement_2025-04-01_R100.csv").write_text(MP_CSV_EN)
    n1 = run_mp_report_pipeline(spark, str(bronze), str(gold / "mp_data"))
    assert n1 == 2
    # second report, Spanish dialect
    (bronze / "settlement_2025-04-08_R200.csv").write_text(MP_CSV_ES)
    n2 = run_mp_report_pipeline(spark, str(bronze), str(gold / "mp_data"))
    assert n2 == 1  # R100 rows skipped via report_id anti-join
    out = spark.read.parquet(str(gold / "mp_data"))
    assert out.count() == 3
    by_src = {r.source_id: r for r in out.collect()}
    assert by_src["s3"].report_id == "R200"
    assert by_src["s3"].transaction_amount == 300.0
    assert str(by_src["s1"].report_date) == "2025-04-01 00:00:00"
    assert run_mp_report_pipeline(spark, str(bronze), str(gold / "mp_data")) == 0


def test_bank_mail_pipeline(spark, tmpdirs):
    bronze, gold = tmpdirs
    doc = {
        "message_id": "19673b85c05b020c",
        "date": "2025-04-26T17:09:43",
        "sender": "mensajesyavisos@mails.santander.com.ar",
        "subject": "Pagaste ...",
        "html_body": MAIL_HTML,
        "raw_text": "...",
    }
    (bronze / "m1.json").write_text(json.dumps(doc))
    incomplete = dict(doc, message_id="m2", html_body="<p>no labeled fields</p>")
    (bronze / "m2.json").write_text(json.dumps(incomplete))
    n = run_bank_mail_pipeline(spark, str(bronze), str(gold / "bank_payments"))
    assert n == 1  # incomplete mail rejected by the required-fields gate (P7)
    row = spark.read.parquet(str(gold / "bank_payments")).collect()[0]
    assert float(row.monto) == 12345.67
    assert row.hora_pago == "19:44:00"  # padded
    assert str(row.fecha_pago) == "2025-04-26"
    assert run_bank_mail_pipeline(spark, str(bronze), str(gold / "bank_payments")) == 0


def test_sql_surface(spark):
    df = sql_surface(
        spark,
        "/root/testdata/sf0.001",
        "SELECT c_mktsegment, COUNT(*) AS n FROM customer GROUP BY 1 ORDER BY n DESC LIMIT 20",
    )
    rows = df.collect()
    assert 0 < len(rows) <= 20
    assert rows[0].n >= rows[-1].n


def test_result_markdown_renders_aligned_table(spark):
    from etl_expenses_spark.pipelines import result_markdown

    df = spark.createDataFrame(
        [(1, "BUILDING", None), (22, "x", 3.5)], "k long, seg string, v double"
    )
    md = result_markdown(df.orderBy("k"))
    lines = md.splitlines()
    assert lines[0].startswith("| k ") and "seg" in lines[0]
    assert set(lines[1]) <= {"|", "-"}
    assert len(lines) == 4
    assert all(len(line) == len(lines[0]) for line in lines[2:]), "aligned columns"
    assert "22" in lines[3] and "3.5" in lines[3]
    # NULL renders as empty cell, mirroring the reference's blank formatting
    assert "None" not in lines[2]


def test_result_markdown_caps_rows(spark):
    from etl_expenses_spark.pipelines import result_markdown

    df = spark.range(100).withColumnRenamed("id", "n")
    md = result_markdown(df, limit=20)
    assert len(md.splitlines()) == 22  # header + sep + 20 rows


def test_read_excel_real_workbook_to_parquet(spark, tmp_path):
    """S2 end-to-end: a real XLSX workbook (zip+XML, shared strings, typed
    cells) → read_excel → parquet bronze → reread. No openpyxl involved —
    the stdlib reader (sources/xlsx.py) carries the MP-report shape
    (`/root/reference/transform_data_mp/lambda_function.py:62`)."""
    from etl_expenses_spark.sources.readers import read_excel
    from etl_expenses_spark.sources.xlsx import make_xlsx

    rows = [
        ["report_id", "comercio", "monto", "cuotas", "aprobado"],
        ["r-001", "MERPAGO*CAFE", 1234.56, 3, True],
        ["r-002", "MERPAGO*CAFE", 99.0, 1, False],  # shared string deduped
        ["r-003", None, 0.5, 12, True],  # gap cell stays NULL
    ]
    wb = tmp_path / "settlement.xlsx"
    wb.write_bytes(make_xlsx(rows))

    df = read_excel(spark, str(wb))
    assert df.columns == ["report_id", "comercio", "monto", "cuotas", "aprobado"]
    assert [f.dataType.simpleString() for f in df.schema.fields] == [
        "string", "string", "double", "bigint", "boolean",
    ]
    out = tmp_path / "bronze"
    df.write.parquet(str(out))
    back = spark.read.parquet(str(out))
    got = {r["report_id"]: r for r in back.collect()}
    assert got["r-001"]["monto"] == 1234.56 and got["r-001"]["cuotas"] == 3
    assert got["r-003"]["comercio"] is None
    assert got["r-002"]["aprobado"] is False


def test_read_excel_sheet_selection_and_errors(spark, tmp_path):
    from etl_expenses_spark.sources.xlsx import make_xlsx, read_xlsx

    wb = make_xlsx([["a", "b"], [1, 2]], sheet_name="ventas")
    assert read_xlsx(wb, sheet="ventas") == [["a", "b"], [1, 2]]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no sheet named"):
        read_xlsx(wb, sheet="otra")
    with _pytest.raises(ValueError, match="out of range"):
        read_xlsx(wb, sheet=5)


def _ticket_pdf(nro: int = 778899) -> bytes:
    return b"%PDF" + TICKET_TEXT.replace("778899", str(nro)).encode()


def _jobs_in_group(spark, group: str, run) -> tuple[object, int]:
    """``run()``'s result and the number of Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_ticket_delivered_twice_in_one_batch_loads_once(spark, tmpdirs):
    """A byte-identical re-delivery under a new name in the SAME batch: the
    key anti-join cannot catch it (gold does not hold the ticket yet), so
    the parse keeps one document per nro_ticket before numbering items and
    summing the gross total."""
    bronze, gold = tmpdirs
    (bronze / "t1.pdf").write_bytes(_ticket_pdf())
    (bronze / "again_t1.pdf").write_bytes(_ticket_pdf())
    assert run_ticket_pipeline(spark, str(bronze), str(gold / "carrefour_data")) == 3
    rows = spark.read.parquet(str(gold / "carrefour_data")).collect()
    assert sorted(r.item_no for r in rows) == [1, 2, 3]
    assert [r.total_ticket_bruto for r in rows] == pytest.approx([5499.7] * 3)


def test_replay_of_unchanged_bronze_runs_no_spark_job(spark, tmpdirs):
    """Replay is a driver-side listing against the gold table's record of
    loaded files: unchanged bronze appends 0 rows without one Spark job."""
    bronze, gold = tmpdirs
    for sub in ("tickets", "mp", "mails"):
        (bronze / sub).mkdir()
    (bronze / "tickets" / "t1.pdf").write_bytes(_ticket_pdf())
    (bronze / "mp" / "settlement_2025-04-01_R100.csv").write_text(MP_CSV_EN)
    doc = {"message_id": "m1", "date": "2025-04-26T17:09:43", "sender": "s",
           "subject": "s", "html_body": MAIL_HTML, "raw_text": ""}
    (bronze / "mails" / "m1.json").write_text(json.dumps(doc))
    flows = [
        (run_ticket_pipeline, "tickets", 3),
        (run_mp_report_pipeline, "mp", 2),
        (run_bank_mail_pipeline, "mails", 1),
    ]
    for run, sub, rows in flows:
        src, dst = str(bronze / sub), str(gold / sub)
        assert run(spark, src, dst) == rows
        replayed, jobs = _jobs_in_group(spark, f"replay-{sub}", lambda: run(spark, src, dst))
        assert (replayed, jobs) == (0, 0), sub
        assert spark.read.parquet(dst).count() == rows


def test_bronze_file_rewritten_in_place_is_read_again(spark, tmpdirs):
    """A file whose size or mtime changed since it was recorded is parsed
    again, and the key anti-join drops the rows gold already holds."""
    import os

    bronze, gold = tmpdirs
    t1, dst = bronze / "t1.pdf", str(gold / "carrefour_data")
    t1.write_bytes(_ticket_pdf())
    assert run_ticket_pipeline(spark, str(bronze), dst) == 3

    def load(group):
        return _jobs_in_group(spark, group, lambda: run_ticket_pipeline(spark, str(bronze), dst))

    st = os.stat(t1)
    os.utime(t1, ns=(st.st_atime_ns, st.st_mtime_ns + 5_000_000_000))  # new mtime
    loaded, jobs = load("rewrite-mtime")
    assert loaded == 0 and jobs > 0
    t1.write_bytes(_ticket_pdf() + b"\n")  # new size
    loaded, jobs = load("rewrite-size")
    assert loaded == 0 and jobs > 0
    assert spark.read.parquet(dst).count() == 3
    # the rewrite is recorded: the next replay is a listing again
    assert load("rewrite-replay") == (0, 0)


def test_listing_skips_the_names_spark_skipped(spark, tmpdirs):
    """The listing keeps the scan's old rule: the flow's glob, no ``_``- or
    ``.``-prefixed names, no subdirectories. Each skipped file holds a
    ticket of its own, so reading any of them would load more rows."""
    bronze, gold = tmpdirs
    (bronze / "t1.pdf").write_bytes(_ticket_pdf(1))
    (bronze / "_partial.pdf").write_bytes(_ticket_pdf(2))
    (bronze / ".t1.pdf.crc").write_bytes(_ticket_pdf(3))
    (bronze / ".hidden.pdf").write_bytes(_ticket_pdf(4))
    (bronze / "junk.txt").write_bytes(_ticket_pdf(5))
    (bronze / "sub").mkdir()
    (bronze / "sub" / "t6.pdf").write_bytes(_ticket_pdf(6))
    dst = gold / "carrefour_data"
    assert run_ticket_pipeline(spark, str(bronze), str(dst)) == 3
    assert {r.nro_ticket for r in spark.read.parquet(str(dst)).collect()} == {1}
    record = json.loads((dst / "_loaded.json").read_text())
    assert list(record) == [str(bronze / "t1.pdf")]
