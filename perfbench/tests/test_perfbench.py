"""Tests of the benchmark's own parts; none starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import numpy as np
import pytest

from etl_expenses_spark.parsers import parse_mail_record, parse_ticket_text, pdf_bytes_to_text
from perfbench import datagen
from perfbench.trace import Span, self_times, tail
from perfbench.workloads import TEMPLATES, AgentSql, Ingest, render_markdown


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for name in files:
            path = os.path.join(d, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def _batches(seed: int, root: str, n: int = 3) -> list[datagen.Batch]:
    gen = datagen.BronzeGenerator(seed, root)
    return [gen.make_batch() for _ in range(n)]


def test_same_seed_gives_identical_bronze_and_expectations(tmp_path):
    a = _batches(7, str(tmp_path / "a"))
    b = _batches(7, str(tmp_path / "b"))
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    key = lambda x: (x.ticket_rows, x.mp_rows, x.mail_rows, x.ticket_totals)  # noqa: E731
    assert [key(x) for x in a] == [key(x) for x in b]
    c = _batches(8, str(tmp_path / "c"))
    assert _tree_digest(str(tmp_path / "a")) != _tree_digest(str(tmp_path / "c"))
    assert [key(x) for x in a] != [key(x) for x in c]


def test_tables_are_identical_on_every_run_and_encoded_like_the_test_data(tmp_path):
    import pyarrow.parquet as pq

    datagen.write_tables(str(tmp_path / "a"))
    datagen.write_tables(str(tmp_path / "b"))
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))
    ts = pq.ParquetFile(str(tmp_path / "a" / "events.parquet")).schema.column(1)
    assert ts.name == "ts"
    assert "isAdjustedToUTC=false, timeUnit=microseconds" in str(ts.logical_type)


def test_batches_redeliver_tickets_and_drop_incomplete_mails(tmp_path):
    batches = _batches(3, str(tmp_path), n=4)
    first, later = batches[0], batches[1:]
    assert not any(n.startswith("again_") for n in os.listdir(first.dir("tickets")))
    for b in later:
        names = os.listdir(b.dir("tickets"))
        again = [n for n in names if n.startswith("again_")]
        assert len(again) == len(names) // 10
        assert len(b.ticket_totals) == len(names) - len(again)
    for b in batches:
        # a batch's row counts do not depend on the seed
        assert b.mail_rows == datagen.MAILS_PER_DAY - datagen.MAILS_PER_DAY // 20
        assert b.ticket_rows == datagen.ITEMS_PER_TICKET * len(b.ticket_totals)
    headers = set()
    for b in batches:
        for name in os.listdir(b.dir("mp")):
            with open(os.path.join(b.dir("mp"), name), encoding="utf-8") as f:
                headers.add(f.readline().strip())
    assert headers == {datagen.MP_EN, datagen.MP_ES}


def test_generated_tickets_parse_to_the_expected_items_and_totals(tmp_path):
    (batch,) = _batches(11, str(tmp_path), n=1)
    items = 0
    for name in sorted(os.listdir(batch.dir("tickets"))):
        with open(os.path.join(batch.dir("tickets"), name), "rb") as f:
            rows = parse_ticket_text(pdf_bytes_to_text(f.read()))
        nro = rows[0]["nro_ticket"]
        cents = round(sum(r["p_total"] for r in rows) * 100) - round(rows[0]["descuento"] * 100)
        assert cents == batch.ticket_totals[nro]
        items += len(rows)
    assert items == batch.ticket_rows


def test_generated_mails_parse_with_exactly_the_expected_gaps():
    rng = np.random.default_rng(1)
    day = datagen.dt.date(2025, 3, 4)
    for drop in (None, *datagen.MAIL_FIELDS):
        doc = datagen.mail_doc(rng, 42, day, drop)
        rec = parse_mail_record(doc["message_id"], doc["html_body"], "2025-03-04T00:00:00")
        required = ("fecha_pago", "hora_pago", "comercio", "monto", "nro_tarjeta", "divisa")
        missing = [k for k in required if rec[k] is None]
        assert (missing == []) == (drop is None), (drop, missing)


def test_money_format():
    assert datagen.money(123456) == "1.234,56"
    assert datagen.money(5) == "0,05"


def test_tail_is_the_value_with_ten_samples_beyond_it():
    xs = [float(i) for i in range(1, 25)]  # 24 samples
    value, pct, n = tail(xs)
    assert (value, n) == (14.0, 24)
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100 * 14 / 24)
    assert tail([3.0, 1.0, 2.0] + [9.0] * 8)[:2] == (1.0, pytest.approx(100 / 11))
    assert tail([1.0, 5.0, 2.0]) == (5.0, 100.0, 3)


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, "op", 0.0, 10.0, None, "a"),
        Span(1, "load", 1.0, 4.0, 0, "a"),
        Span(2, "inner", 2.0, 3.0, 1, "a"),
        Span(3, "replay", 5.0, 8.0, 0, "a"),
        # overlaps the replay span: covered time is the union, 5..9
        Span(4, "async", 6.0, 9.0, 0, "a"),
    ]
    own = self_times(spans)
    # op: 10 s minus its children's union, 1..4 and 5..9
    assert own[0] == pytest.approx(10.0 - 3.0 - 4.0)
    assert own[1] == pytest.approx(2.0)
    assert own[2] == pytest.approx(1.0)
    assert own[3] == pytest.approx(3.0)
    assert own[4] == pytest.approx(3.0)


@pytest.mark.parametrize("w", [Ingest, AgentSql])
def test_runs_are_whole_cycles_with_a_tail_above_the_median(w):
    assert w.warm_ops % w.cycle == 0 and w.timed_ops % w.cycle == 0
    _, pct, _ = tail([float(i) for i in range(w.timed_ops)])
    assert pct > 50


def test_render_markdown_layout():
    md = render_markdown(["k", "seg"], [(1, "BUILDING"), (22, None)])
    assert md.splitlines() == [
        "| k  | seg      |",
        "|----|----------|",
        "| 1  | BUILDING |",
        "| 22 |          |",
    ]


def test_questions_return_the_same_row_counts_whatever_the_seed(tmp_path):
    datagen.write_tables(str(tmp_path))
    con = duckdb.connect()
    for name in ("orders", "lineitem", "customer", "part", "events"):
        path = tmp_path / f"{name}.parquet"
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    counts = []
    for seed in (1, 2, 3):
        rng = np.random.default_rng(seed)
        counts.append([len(con.execute(t(rng)).fetchall()) for t in TEMPLATES])
    assert counts[0] == counts[1] == counts[2]
    assert all(1 <= n <= AgentSql.limit for n in counts[0])
    assert sum(counts[0]) == 52
