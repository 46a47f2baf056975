"""Parser UDTFs — the only logic Catalyst can't express (SURVEY.md §2.11).

Two document parsers re-expressed from the reference's semantics (layouts
documented in FIXTURES.md §2; reference behavior at
`/root/reference/transform_data_pdf/lambda_function.py:12-133` and
`/root/reference/transform_data_bank_pay/lambda_function.py:22-69`):

- ticket text → item rows (UDTF-shaped: 1 doc → N rows) via ``mapInPandas``
  — Arrow-batched, one Python worker per partition, no per-row pickling.
- bank-mail HTML → payment struct (scalar-shaped: 1 doc → 1 row) — same
  vehicle, stdlib html.parser (bs4 isn't assumed).

PDF *byte* decoding needs pdfplumber/PyPDF2 which this environment doesn't
ship; ``pdf_bytes_to_text`` is gated behind an import-try with a
clearly-marked deterministic fallback so the Spark plumbing (binaryFile →
mapInPandas → items) is real and tested end-to-end on text fixtures.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator
from html.parser import HTMLParser

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_expenses_spark.schemas import TICKET_CATEGORIES

# --------------------------------------------------------------------------
# PDF bytes → text (gated)
# --------------------------------------------------------------------------


def pdf_bytes_to_text(data: bytes) -> str:
    """Extract text from PDF bytes — REAL extraction, three tiers:

    1. pdfplumber when installed (exact parity with the reference,
       `transform_data_pdf/lambda_function.py:14-26`);
    2. the built-in pure-Python extractor (``etl_expenses_spark.pdftext``):
       FlateDecode + Tj/'/TJ content-stream walk — covers the
       machine-generated receipt/report PDFs this pipeline targets;
    3. only for streamless legacy fixtures (%PDF-prefixed UTF-8 text, no
       ``stream`` object at all): decode the remainder as UTF-8.
    """
    if not data.startswith(b"%PDF"):
        raise ValueError("not a PDF payload (missing %PDF magic)")
    try:
        import io

        import pdfplumber  # type: ignore

        with pdfplumber.open(io.BytesIO(data)) as pdf:
            return "\n".join(page.extract_text() or "" for page in pdf.pages)
    except ImportError:
        pass
    from etl_expenses_spark.pdftext import extract_text

    text = extract_text(data)
    if text.strip():
        return text
    if b"stream" not in data:
        # legacy text fixture: %PDF magic + UTF-8 body, no real objects
        return data[len(b"%PDF") :].decode("utf-8", errors="replace")
    return ""


# --------------------------------------------------------------------------
# Ticket text → item rows
# --------------------------------------------------------------------------

TICKET_ITEM_SCHEMA = T.StructType(
    [
        T.StructField("nro_ticket", T.LongType()),
        T.StructField("fecha", T.StringType()),  # raw D/M/YY — repaired downstream
        T.StructField("categ", T.StringType()),
        T.StructField("prod", T.StringType()),
        T.StructField("cant", T.LongType()),
        T.StructField("peso", T.DoubleType()),
        T.StructField("p_unit", T.DoubleType()),
        T.StructField("p_total", T.DoubleType()),
        T.StructField("descuento", T.DoubleType()),
    ]
)

_NUM = r"[\d.]+,\d+|\d+"


def _money_to_float(s: str) -> float:
    """Latam decimal-comma number → float ('1.234,56' → 1234.56)."""
    return float(s.replace(".", "").replace(",", "."))


# item line: "<cant> x <p_unit> ... <p_total>"  (unit-count sale) or
#            "<peso> x <p_unit> ... <p_total>"  with fractional first number
_ITEM_RE = re.compile(rf"^\s*({_NUM})\s*x\s*({_NUM})\b.*?\(?x?\)?\s*({_NUM})\s*$")


def parse_ticket_text(text: str) -> list[dict]:
    """One ticket document → item dicts. Stateful line scan: a 'Fecha … Hora'
    header, a 'Nro T.' ticket id, a 'Caja' line opening the items section,
    category header lines that carry forward onto following items, product
    name on the line preceding its amounts line, an optional 'AHORRO'
    discount, and a closing 'TOTAL'. Layout per FIXTURES.md §2.1."""
    text = text.replace("\xa0", " ").replace("\xad", "")
    lines = [ln.strip() for ln in text.splitlines()]

    fecha = None
    nro_ticket = None
    for ln in lines:
        if fecha is None and ln.startswith("Fecha"):
            m = re.search(r"Fecha\s+(\S+)\s+Hora", ln)
            if m:
                fecha = m.group(1)
        if nro_ticket is None and "Nro T." in ln:
            m = re.search(r"Nro T\.\s*(\d+)", ln)
            if m:
                nro_ticket = int(m.group(1))

    descuento = 0.0
    for ln in lines:
        if ln.startswith("AHORRO"):
            m = re.search(rf"\$\s*({_NUM})", ln)
            if m:
                descuento = _money_to_float(m.group(1))

    items: list[dict] = []
    in_items = False
    categ = None
    pending_prod = None
    for ln in lines:
        if not in_items:
            if ln.startswith("Caja"):
                in_items = True
            continue
        if ln.startswith("TOTAL"):
            break
        if not ln:
            continue
        if ln in TICKET_CATEGORIES:
            categ = ln
            pending_prod = None
            continue
        m = _ITEM_RE.match(ln)
        if m and pending_prod:
            qty_raw, p_unit_raw, p_total_raw = m.groups()
            by_weight = "," in qty_raw
            items.append(
                {
                    "nro_ticket": nro_ticket,
                    "fecha": fecha,
                    "categ": categ,
                    "prod": pending_prod,
                    "cant": 0 if by_weight else int(float(qty_raw)),
                    "peso": _money_to_float(qty_raw) if by_weight else 0.0,
                    "p_unit": _money_to_float(p_unit_raw),
                    "p_total": _money_to_float(p_total_raw),
                    "descuento": descuento,
                }
            )
            pending_prod = None
        else:
            pending_prod = ln
    return items


def tickets_to_items(binary_df: DataFrame) -> DataFrame:
    """binaryFile scan → item rows (the EP1 transform). mapInPandas: each
    Arrow batch of (path, content) yields item-row batches; per-ticket
    totals are then derived with a window — Spark-side, not in the parser
    (`transform_data_pdf/lambda_function.py:123-126` did it in pandas).

    A ticket delivered twice in one scan (the same ``nro_ticket`` in two
    files) keeps only the items of its first file by path, so neither the
    totals nor a later item numbering count it twice. That filter is a
    window on ``nro_ticket`` too, so it shares the totals' shuffle."""
    schema = T.StructType([*TICKET_ITEM_SCHEMA.fields, T.StructField("doc", T.StringType())])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf_batch in batches:
            rows: list[dict] = []
            for path, content in zip(pdf_batch["path"], pdf_batch["content"]):
                items = parse_ticket_text(pdf_bytes_to_text(bytes(content)))
                rows.extend(dict(item, doc=path) for item in items)
            yield pd.DataFrame(rows, columns=schema.fieldNames())

    items = binary_df.select("path", "content").mapInPandas(gen, schema=schema)
    from pyspark.sql.window import Window as W

    w = W.partitionBy("nro_ticket")
    bruto = F.sum(F.col("p_total").cast("decimal(18,2)")).over(w) - F.col(
        "descuento"
    ).cast("decimal(18,2)")
    return (
        items.withColumn("first_doc", F.min("doc").over(w))
        .filter(F.col("doc") == F.col("first_doc"))
        .drop("doc", "first_doc")
        .withColumn("total_ticket_bruto", bruto.cast("double"))
        .withColumn(
            "total_ticket_meli",
            (F.floor(bruto * F.lit(0.3) * 100) / 100).cast("double"),
        )
        .drop("descuento")
    )


# --------------------------------------------------------------------------
# Bank-mail HTML → payment struct
# --------------------------------------------------------------------------


class _TextExtractor(HTMLParser):
    """Collect stripped text tokens from HTML (bs4's stripped_strings analog,
    stdlib-only)."""

    def __init__(self) -> None:
        super().__init__()
        self.tokens: list[str] = []
        self._skip = 0

    def handle_starttag(self, tag, attrs):
        if tag in ("script", "style"):
            self._skip += 1

    def handle_endtag(self, tag):
        if tag in ("script", "style") and self._skip:
            self._skip -= 1

    def handle_data(self, data):
        if self._skip:
            return
        s = data.strip()
        if s:
            self.tokens.append(s)


def html_tokens(html: str) -> list[str]:
    p = _TextExtractor()
    p.feed(html or "")
    return p.tokens


def find_after_label(tokens: list[str], label: str) -> str | None:
    """Positional lookup: the value is the token following its label
    (`transform_data_bank_pay/lambda_function.py:22-47` semantics)."""
    for i, t in enumerate(tokens[:-1]):
        if t == label or t.rstrip(":") == label:
            return tokens[i + 1]
    return None


def parse_mail_record(message_id: str, html_body: str, extracted_at: str) -> dict:
    tokens = html_tokens(html_body)
    monto_raw = find_after_label(tokens, "Monto")
    fecha = find_after_label(tokens, "Fecha")
    hora = find_after_label(tokens, "Hora")
    comercio = find_after_label(tokens, "Comercio")
    cuotas_raw = find_after_label(tokens, "Cuotas")
    nro_tarjeta = find_after_label(tokens, "terminada en")
    tarjeta = next((t for t in tokens if "Tarjeta" in t), None)

    divisa = None
    monto = None
    if monto_raw:
        if any(p in monto_raw for p in ("U$S", "US$", "USD")):
            divisa = "USD"
        elif "$" in monto_raw:
            divisa = "ARS"
        stripped = re.sub(r"^\s*(U\$S|US\$|USD|ARS\$|AR\$|\$)\s*", "", monto_raw)
        try:
            monto = _money_to_float(stripped)
        except ValueError:
            monto = None

    ident = hashlib.md5(
        f"{fecha}_{hora}_{monto}_{comercio}_{nro_tarjeta}_{divisa}".encode()
    ).hexdigest()
    return {
        "id": ident,
        "message_id": message_id,
        "fecha_pago": fecha,
        "hora_pago": hora,
        "monto": monto,
        "divisa": divisa,
        "tarjeta": tarjeta,
        "nro_tarjeta": nro_tarjeta,
        "comercio": comercio,
        "cuotas": int(cuotas_raw) if cuotas_raw and cuotas_raw.isdigit() else 1,
        "extraido_en": extracted_at,
    }


MAIL_PAYMENT_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("message_id", T.StringType()),
        T.StructField("fecha_pago", T.StringType()),  # raw — repaired downstream
        T.StructField("hora_pago", T.StringType()),
        T.StructField("monto", T.DoubleType()),
        T.StructField("divisa", T.StringType()),
        T.StructField("tarjeta", T.StringType()),
        T.StructField("nro_tarjeta", T.StringType()),
        T.StructField("comercio", T.StringType()),
        T.StructField("cuotas", T.LongType()),
        T.StructField("extraido_en", T.StringType()),
    ]
)


def mails_to_payments(mail_df: DataFrame, extracted_at: str = "1970-01-01T00:00:00") -> DataFrame:
    """Mail-doc DataFrame (message_id, html_body, ...) → payment rows."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = [
                parse_mail_record(mid, body, extracted_at)
                for mid, body in zip(b["message_id"], b["html_body"])
            ]
            yield pd.DataFrame(rows, columns=[f.name for f in MAIL_PAYMENT_SCHEMA.fields])

    return mail_df.select("message_id", "html_body").mapInPandas(
        gen, schema=MAIL_PAYMENT_SCHEMA
    )
