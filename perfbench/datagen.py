"""Seeded inputs for the benchmark: the engine's tables and its bronze files.

Everything here is plain Python, NumPy and PyArrow, so inputs are made
without Spark and the same seed always gives the same bytes.

- ``write_tables`` writes the ten tables the SQL surface and the registry
  queries read (``sources.readers.TESTDATA_TABLES``), shaped like the sf0.1
  test data: the same row counts, column types and parquet timestamp
  encoding (microseconds, not adjusted to UTC), uniform TPC-H-like keys,
  Poisson(4) lines per order, a 30-word document vocabulary with 5%
  near-duplicate documents. The tables are always made from
  ``TABLE_SEED``, so every run questions the same data; a run's seed only
  draws the literals of its questions.
- ``BronzeGenerator.make_batch`` writes one daily bronze batch for the three ETL flows and
  returns the counts and ticket totals the flows must produce from it.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from etl_expenses_spark.pdftext import make_pdf

# ---------------------------------------------------------------------------
# Tables
# ---------------------------------------------------------------------------

# The fixed seed of the tables (the sf0.1 test data's is 42 as well).
TABLE_SEED = 42
N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_EVENTS = 100_000
N_DOCUMENTS = 5_000
N_EMBEDDINGS = 2_000

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
PART_NOUN = ["bolt", "gear", "nut", "pipe", "plate", "ring", "screw", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def _ts(days: np.ndarray, base: dt.date) -> pa.Array:
    epoch = np.datetime64(base.isoformat(), "us")
    return pa.array(epoch + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal money values, so decimal casts are exact in every engine."""
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def build_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng([TABLE_SEED, 1])
    cust = np.arange(N_CUSTOMER, dtype=np.int64)
    supp = np.arange(N_SUPPLIER, dtype=np.int64)
    part = np.arange(N_PART, dtype=np.int64)
    orders = np.arange(N_ORDERS, dtype=np.int64)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": cust,
            "c_name": [f"Customer#{k:09d}" for k in cust],
            "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
            "c_acctbal": _cents(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMER)],
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": supp,
            "s_name": [f"Supplier#{k:09d}" for k in supp],
            "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
            "s_acctbal": _cents(rng, -999.99, 9999.99, N_SUPPLIER),
        }
    )
    names = [f"{a} {n}" for a in PART_ADJ for n in PART_NOUN]
    tables["part"] = pa.table(
        {
            "p_partkey": part,
            "p_name": np.array(names)[rng.integers(0, len(names), N_PART)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, N_PART)],
            "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
            "p_retailprice": 900.0 + (part % 1000) / 10.0,
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": orders,
            "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
            "o_totalprice": _cents(rng, 1000, 500_000, N_ORDERS),
            "o_orderdate": _ts(rng.integers(0, 2404, N_ORDERS), dt.date(1995, 1, 1)),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)],
        }
    )
    lines_per_order = rng.poisson(4, N_ORDERS)
    n_li = int(lines_per_order.sum())
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": np.repeat(orders, lines_per_order),
            "l_partkey": rng.integers(0, N_PART, n_li),
            "l_suppkey": rng.integers(0, N_SUPPLIER, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _cents(rng, 900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(rng.integers(0, 2499, n_li), dt.date(1995, 1, 2)),
        }
    )
    jan = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, N_EVENTS))
    tables["events"] = pa.table(
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": pa.array(jan + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": rng.integers(0, 1500, N_EVENTS),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, N_EVENTS)],
            "value": np.round(rng.exponential(60.0, N_EVENTS), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
            texts.append(" ".join(words))
    lang_p = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, N_DOCUMENTS, p=lang_p)],
            "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, N_EMBEDDINGS)
    centers = rng.normal(0.0, 0.1, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.1, (N_EMBEDDINGS, 64))).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return tables


def write_tables(out_dir: str) -> None:
    """Write every table as ``<out_dir>/<name>.parquet`` (one file each)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables().items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Bronze batches for the ETL flows
# ---------------------------------------------------------------------------

TICKET_PRODUCTS = {
    "Bebidas": ["Agua Mineral 2L", "Gaseosa Cola 1.5L", "Jugo Naranja 1L", "Cerveza Rubia"],
    "Almacen": ["Arroz Largo Fino", "Fideos Tirabuzon", "Aceite Girasol", "Yerba Mate 1Kg"],
    "Carniceria": ["Carne Picada", "Pollo Entero", "Bife de Chorizo", "Matambre"],
    "Frutas Y Verduras": ["Banana Ecuador", "Manzana Roja", "Papa Negra", "Tomate Perita"],
    "Limpieza": ["Lavandina 1L", "Detergente", "Esponja Doble", "Jabon en Polvo"],
}
ALL_PRODUCTS = [(cat, prod) for cat, prods in TICKET_PRODUCTS.items() for prod in prods]
WEIGHED = {"Carniceria", "Frutas Y Verduras"}
# Every ticket has the same number of items and every batch the same number
# of incomplete mails, so a batch's row count does not depend on the seed
# and rows_per_s varies only with the engine's speed.
ITEMS_PER_TICKET = 4
MERCHANTS = ["MERPAGO*CAFE", "SUPERMERCADO", "FARMACIA", "ESTACION YPF", "LIBRERIA"]
MP_EN = (
    "SOURCE_ID;SETTLEMENT_DATE;PAYMENT_METHOD_TYPE;TRANSACTION_TYPE;TRANSACTION_AMOUNT;"
    "TRANSACTION_DATE;REAL_AMOUNT;POS_ID;STORE_ID;STORE_NAME;PAYER_NAME;BUSINESS_UNIT;SUB_UNIT"
)
MP_ES = (
    "ID DE OPERACIÓN EN MERCADO PAGO;FECHA DE APROBACIÓN;TIPO DE MEDIO DE PAGO;"
    "TIPO DE OPERACIÓN;VALOR DE LA COMPRA;FECHA DE ORIGEN;MONTO NETO DE OPERACIÓN;"
    "ID DE CAJA;ID DE LA SUCURSAL;NOMBRE DE LA SUCURSAL;PAGADOR;CANAL DE VENTA;"
    "PLATAFORMA DE COBRO"
)
MAIL_FIELDS = ("Monto", "Fecha", "Hora", "Comercio", "terminada en")


# One day's bronze files per source. An op's cost is mostly its flow's fixed
# cost, so small batches keep the run short without changing what it runs.
TICKETS_PER_DAY = 20
MP_REPORTS_PER_DAY = 2
MP_ROWS_PER_REPORT = 50
MAILS_PER_DAY = 20


@dataclass
class Batch:
    """One day's bronze files and what loading them must append."""

    root: str
    ticket_rows: int = 0
    mp_rows: int = 0
    mail_rows: int = 0
    # nro_ticket -> total_ticket_bruto in cents, for the tickets new in
    # this batch
    ticket_totals: dict[int, int] = field(default_factory=dict)

    def dir(self, flow: str) -> str:
        return os.path.join(self.root, flow)


def money(cents: int) -> str:
    """Latin-American money text: 123456 -> '1.234,56'."""
    return f"{cents // 100:,}".replace(",", ".") + f",{cents % 100:02d}"


def ticket_text(rng: np.random.Generator, nro: int, day: dt.date) -> tuple[str, int, int]:
    """One ticket's text in the FIXTURES.md §2.1 layout.
    Returns (text, item count, total_ticket_bruto in cents)."""
    lines = [
        "SUPERMERCADO EJEMPLO S.A.",
        f"Fecha {day:%d/%m/%y} Hora {int(rng.integers(8, 22)):02d}:{int(rng.integers(0, 60)):02d}",
        f"Local 001 P.V. 0003 Nro T. {nro}",
        "Caja 05",
    ]
    picks = rng.choice(len(ALL_PRODUCTS), ITEMS_PER_TICKET, replace=False)
    by_cat: dict[str, list[str]] = {}
    for cat, prod in sorted(ALL_PRODUCTS[i] for i in picks):
        by_cat.setdefault(cat, []).append(prod)
    n_items, total = 0, 0
    for cat, prods in by_cat.items():
        lines.append(cat)
        for prod in prods:
            unit = int(rng.integers(100, 900_000))
            if cat in WEIGHED:
                grams = int(rng.integers(100, 3000))
                p_total = unit * grams // 1000
                qty = f"{grams // 1000},{grams % 1000:03d}"
            else:
                count = int(rng.integers(1, 6))
                p_total = unit * count
                qty = str(count)
            lines += [str(prod), f"{qty} x {money(unit)} (x) {money(p_total)}"]
            n_items += 1
            total += p_total
    discount = int(rng.integers(0, 3)) * 5_000
    if 2 * discount >= total:
        discount = 0
    if discount:
        lines.append(f"AHORRO TOTAL $ {money(discount)}")
    lines.append(f"TOTAL {money(total - discount)}")
    return "\n".join(lines) + "\n", n_items, total - discount


def mail_doc(rng: np.random.Generator, n: int, day: dt.date, drop: str | None) -> dict:
    """One bank-mail JSON doc; ``drop`` names a required label left out."""
    usd = rng.random() < 0.2
    cents = int(rng.integers(100, 5_000_000))
    fields = {
        "Monto": ("U$S " if usd else "$") + money(cents),
        "Fecha": f"{day:%d/%m/%y}",
        "Hora": f"{int(rng.integers(0, 24)):02d}:{int(rng.integers(0, 60)):02d}",
        # a per-mail merchant suffix keeps every complete mail's natural id unique
        "Comercio": f"{MERCHANTS[int(rng.integers(0, len(MERCHANTS)))]} {n}",
        "Cuotas": str(int(rng.integers(1, 13))),
    }
    rows = [f"<tr><td>{k}</td><td>{v}</td></tr>" for k, v in fields.items() if k != drop]
    if drop != "terminada en":
        rows.append(
            "<tr><td>Tarjeta Santander Visa</td><td>terminada en</td>"
            f"<td>{int(rng.integers(0, 10_000)):04d}</td></tr>"
        )
    html = "<html><body><table>" + "".join(rows) + "</table></body></html>"
    return {
        "message_id": f"m{n:08x}",
        "date": f"{day:%Y-%m-%d}T{fields['Hora']}:00",
        "sender": "mensajesyavisos@mails.santander.com.ar",
        "subject": "Pagaste con tu tarjeta",
        "html_body": html,
        "raw_text": "",
    }


def mp_report(rng: np.random.Generator, first_id: int, rows: int, day: dt.date, spanish: bool) -> str:
    out = [MP_ES if spanish else MP_EN]
    for i in range(rows):
        amount = int(rng.integers(100, 5_000_000))
        fee = amount * int(rng.integers(0, 8)) // 100
        t0 = f"{day:%Y-%m-%d} {int(rng.integers(0, 24)):02d}:{int(rng.integers(0, 60)):02d}:00"
        out.append(
            ";".join(
                [
                    f"s{first_id + i}",
                    f"{day + dt.timedelta(days=2):%Y-%m-%d} 10:00:00",
                    ["credit_card", "debit_card", "account_money"][int(rng.integers(0, 3))],
                    "payment",
                    f"{amount / 100:.2f}",
                    t0,
                    f"{(amount - fee) / 100:.2f}",
                    f"p{int(rng.integers(1, 9))}",
                    f"st{int(rng.integers(1, 5))}",
                    f"Store {int(rng.integers(1, 5))}",
                    f"Payer {int(rng.integers(0, 500))}",
                    ["online", "presencial"][int(rng.integers(0, 2))],
                    ["checkout", "pos", "qr"][int(rng.integers(0, 3))],
                ]
            )
        )
    return "\n".join(out) + "\n"


class BronzeGenerator:
    """Makes consecutive daily batches. A tenth of each batch's tickets are
    byte-identical re-deliveries of tickets from earlier batches, a
    twentieth of its mails lack one required field, and half of its
    settlement reports use the Spanish header dialect."""

    def __init__(self, seed: int, root: str):
        self.rng = np.random.default_rng([seed, 2])
        self.root = root
        self.day = dt.date(2025, 1, 1)
        self.batches = 0
        self.next_ticket = 100_000
        self.next_mail = 0
        self.next_row = 0
        self.delivered: list[bytes] = []

    def make_batch(self) -> Batch:
        b = self.batches
        self.batches += 1
        self.day += dt.timedelta(days=1)
        batch = Batch(os.path.join(self.root, f"day{b:04d}"))
        for flow in ("tickets", "mp", "mails"):
            os.makedirs(batch.dir(flow), exist_ok=True)
        rng = self.rng
        n_redeliver = min(len(self.delivered), TICKETS_PER_DAY // 10)
        for i in rng.choice(len(self.delivered), n_redeliver, replace=False):
            with open(os.path.join(batch.dir("tickets"), f"again_{i:06d}.pdf"), "wb") as f:
                f.write(self.delivered[i])
        for _ in range(TICKETS_PER_DAY - n_redeliver):
            nro = self.next_ticket
            self.next_ticket += 1
            text, n_items, total = ticket_text(rng, nro, self.day)
            pdf = make_pdf([text])
            self.delivered.append(pdf)
            with open(os.path.join(batch.dir("tickets"), f"t{nro}.pdf"), "wb") as f:
                f.write(pdf)
            batch.ticket_rows += n_items
            batch.ticket_totals[nro] = total
        for i in range(MP_REPORTS_PER_DAY):
            report_id = f"R{b:04d}{i:02d}"
            csv = mp_report(rng, self.next_row, MP_ROWS_PER_REPORT, self.day, spanish=i % 2 == 1)
            self.next_row += MP_ROWS_PER_REPORT
            name = f"settlement_{self.day:%Y-%m-%d}_{report_id}.csv"
            with open(os.path.join(batch.dir("mp"), name), "w", encoding="utf-8") as f:
                f.write(csv)
            batch.mp_rows += MP_ROWS_PER_REPORT
        incomplete = set(rng.choice(MAILS_PER_DAY, MAILS_PER_DAY // 20, replace=False).tolist())
        for i in range(MAILS_PER_DAY):
            n = self.next_mail
            self.next_mail += 1
            drop = MAIL_FIELDS[int(rng.integers(0, 5))] if i in incomplete else None
            with open(os.path.join(batch.dir("mails"), f"mail_{n:08d}.json"), "w") as f:
                json.dump(mail_doc(rng, n, self.day, drop), f)
            batch.mail_rows += drop is None
        return batch
