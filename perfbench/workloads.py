"""The benchmark's workloads. Each is one client in a closed loop: the next
op starts when the previous one has returned.

- ``Ingest``: one op is one source's daily batch: its ``run_*_pipeline``
  flow loads the fresh bronze files into a gold table that grows over the
  run, then replays them, which must append nothing. A day is three ops,
  one per source, as the reference runs one Lambda chain per source.
- ``AgentSql``: one op is one question of the NL→SQL agent, answered
  through ``pipelines.sql_surface`` and rendered by ``result_markdown``.

``run`` does the timed work and returns what it produced; ``check`` runs
outside the timed region and raises ``Mismatch`` on a wrong output.
"""

from __future__ import annotations

import os
from contextlib import nullcontext

import duckdb
import numpy as np

from etl_expenses_spark import pipelines
from etl_expenses_spark.sources.readers import TESTDATA_TABLES
from perfbench.datagen import Batch, BronzeGenerator, write_tables


class Mismatch(Exception):
    """An op's output differs from what its inputs require."""


def _span(tracer, name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

# (flow, pipeline function, bronze subdir, gold table)
FLOWS = (
    ("ticket", pipelines.run_ticket_pipeline, "tickets", "carrefour_data"),
    ("mp", pipelines.run_mp_report_pipeline, "mp", "mp_data"),
    ("mail", pipelines.run_bank_mail_pipeline, "mails", "bank_payments"),
)


class Ingest:
    """One op loads one source's daily batch into its gold table, then
    replays it. A cycle is one day: tickets, settlement reports, mails."""

    name = "ingest"
    cycle = len(FLOWS)
    # Op costs halve over the first days as the JVM warms; after two
    # untimed days the first timed day is still up to a sixth slower than
    # the later ones. A third warm-up day would take the run past the time
    # budget of a round.
    warm_ops = 2 * len(FLOWS)
    # Eight days: 24 ops, so the tail percentile (10 ops beyond it) is p58.
    # An op costs 1.1-2.3 s whatever the batch size (each flow's fixed
    # cost dominates), so the 36 ops of a p72 tail do not fit the time
    # budget of a round.
    timed_ops = 8 * len(FLOWS)

    def __init__(self, spark, seed: int, root: str):
        self.spark = spark
        self.gen = BronzeGenerator(seed, os.path.join(root, "bronze"))
        self.gold = {flow: os.path.join(root, "gold", table) for flow, _, _, table in FLOWS}
        self.expected = {flow: 0 for flow, _, _, _ in FLOWS}
        self.totals: dict[int, int] = {}

    def prepare(self, n: int) -> list[tuple[Batch, tuple]]:
        """Write the bronze files of the days that ``n`` ops need."""
        days = [self.gen.make_batch() for _ in range(-(-n // self.cycle))]
        return [(day, flow) for day in days for flow in FLOWS][:n]

    def run(self, op, tracer=None) -> dict[str, int]:
        batch, (flow, fn, sub, _) = op
        with _span(tracer, f"pipelines.{flow}"):
            loaded = fn(self.spark, batch.dir(sub), self.gold[flow])
        self.expected[flow] += getattr(batch, f"{flow}_rows")
        if flow == "ticket":
            self.totals.update(batch.ticket_totals)
        with _span(tracer, "pipelines.replay"):
            replayed = fn(self.spark, batch.dir(sub), self.gold[flow])
        return {"loaded": loaded, "replayed": replayed}

    @staticmethod
    def rows(out: dict[str, int]) -> int:
        return out["loaded"]

    def check(self, op, out: dict[str, int]) -> None:
        batch, (flow, _, sub, _) = op
        want = {"loaded": getattr(batch, f"{flow}_rows"), "replayed": 0}
        if out != want:
            raise Mismatch(f"{batch.dir(sub)}: appended {out}, expected {want}")

    def final_check(self) -> None:
        """Gold tables hold exactly the rows of every loaded batch, and each
        ticket's gross total equals the generator's."""
        from pyspark.sql import functions as F

        for flow, want in self.expected.items():
            got = self.spark.read.parquet(self.gold[flow]).count()
            if got != want:
                raise Mismatch(f"gold {flow}: {got} rows, expected {want}")
        got = {
            r["nro_ticket"]: r["bruto"]
            for r in self.spark.read.parquet(self.gold["ticket"])
            .groupBy("nro_ticket")
            .agg(F.max("total_ticket_bruto").alias("bruto"))
            .collect()
        }
        bad = [t for t, cents in self.totals.items() if got.get(t) != cents / 100]
        if bad or len(got) != len(self.totals):
            raise Mismatch(f"ticket totals differ for {len(bad)} tickets, e.g. {bad[:3]}")

    def close(self) -> None:
        pass

    def gold_files(self) -> tuple[int, int, int]:
        """(parquet files, bytes, rows) across the three gold tables."""
        files = size = 0
        for path in self.gold.values():
            for name in os.listdir(path):
                if name.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(path, name))
        return files, size, sum(self.expected.values())


# ---------------------------------------------------------------------------
# agent_sql
# ---------------------------------------------------------------------------

STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENTS = ["click", "error", "purchase", "signup", "view"]


def _day(rng: np.random.Generator, first_year: int = 1995, years: int = 6) -> str:
    return f"{int(rng.integers(first_year, first_year + years))}-{int(rng.integers(1, 13)):02d}-01"


def _next_month(day: str, months: int = 1) -> str:
    y, m, _ = (int(x) for x in day.split("-"))
    m += months
    return f"{y + (m - 1) // 12}-{(m - 1) % 12 + 1:02d}-01"


# The agent's dialect: every query is valid Spark SQL and DuckDB SQL, sums
# go through DECIMAL so both engines agree to the digit, and every
# multi-row result has a total ORDER BY so LIMIT picks the same rows. On
# the benchmark's tables the literals never change how many rows a
# question returns (52 per cycle), so rows_per_s varies only with the
# engine's speed.
def _q_max(rng):
    d = _day(rng)
    return f"SELECT MAX(o_totalprice) AS max_total FROM orders WHERE o_orderdate >= TIMESTAMP '{d} 00:00:00'"


def _q_sum(rng):
    d = _day(rng)
    flag = "ANR"[int(rng.integers(0, 3))]
    return (
        "SELECT SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS revenue FROM lineitem "
        f"WHERE l_shipdate >= TIMESTAMP '{d} 00:00:00' "
        f"AND l_shipdate < TIMESTAMP '{_next_month(d, 3)} 00:00:00' AND l_returnflag = '{flag}'"
    )


def _q_count(rng):
    s, p = STATUSES[int(rng.integers(0, 3))], PRIORITIES[int(rng.integers(0, 5))]
    return f"SELECT COUNT(*) AS n_orders FROM orders WHERE o_orderstatus = '{s}' AND o_orderpriority = '{p}'"


def _q_distinct(rng):
    e, d = EVENTS[int(rng.integers(0, 5))], int(rng.integers(1, 24))
    return (
        "SELECT COUNT(DISTINCT user_id) AS users FROM events "
        f"WHERE event_type = '{e}' AND ts >= TIMESTAMP '2024-01-{d:02d} 00:00:00' "
        f"AND ts < TIMESTAMP '2024-01-{d + 7:02d} 00:00:00'"
    )


def _q_case(rng):
    seg, cut = SEGMENTS[int(rng.integers(0, 5))], int(rng.integers(1, 9)) * 1000
    return (
        "SELECT CASE WHEN c_acctbal < 0 THEN 'negative' "
        f"WHEN c_acctbal < {cut} THEN 'low' ELSE 'high' END AS band, COUNT(*) AS n "
        f"FROM customer WHERE c_mktsegment = '{seg}' GROUP BY 1 ORDER BY band"
    )


def _q_month(rng):
    y, m = int(rng.integers(1995, 2001)), int(rng.integers(2, 9))
    return (
        "SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month, COUNT(*) AS n "
        f"FROM orders WHERE o_custkey % {m} = {int(rng.integers(0, m))} "
        f"AND o_orderdate >= TIMESTAMP '{y}-01-01 00:00:00' "
        f"AND o_orderdate < TIMESTAMP '{y + 1}-01-01 00:00:00' GROUP BY 1 ORDER BY order_month"
    )


def _q_group(rng):
    d = _day(rng, first_year=1996, years=5)
    return (
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
        "SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty FROM lineitem "
        f"WHERE l_shipdate < TIMESTAMP '{d} 00:00:00' "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
    )


def _q_top(rng):
    d = _day(rng)
    return (
        "SELECT o_orderkey, o_totalprice FROM orders "
        f"WHERE o_orderdate >= TIMESTAMP '{d} 00:00:00' "
        f"AND o_orderdate < TIMESTAMP '{_next_month(d)} 00:00:00' "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"
    )


def _q_join(rng):
    p = PRIORITIES[int(rng.integers(0, 5))]
    return (
        "SELECT c.c_mktsegment AS segment, COUNT(*) AS n_orders, "
        "SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS total "
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
        f"WHERE o.o_orderpriority = '{p}' GROUP BY c.c_mktsegment ORDER BY segment"
    )


def _q_minmax(rng):
    a = int(rng.integers(1, 40))
    return (
        "SELECT p_type, MIN(p_retailprice) AS lo, MAX(p_retailprice) AS hi, COUNT(*) AS n "
        f"FROM part WHERE p_size BETWEEN {a} AND {a + 10} GROUP BY p_type ORDER BY p_type"
    )


def _q_events(rng):
    u = int(rng.integers(50, 1500))
    return (
        "SELECT event_type, COUNT(*) AS n, SUM(CAST(value AS DECIMAL(18,2))) AS total "
        f"FROM events WHERE user_id < {u} GROUP BY event_type ORDER BY event_type"
    )


def _q_distinct_orders(rng):
    s, x = STATUSES[int(rng.integers(0, 3))], int(rng.integers(1, 49)) * 10_000
    return (
        "SELECT COUNT(DISTINCT o_custkey) AS customers, COUNT(*) AS n_orders "
        f"FROM orders WHERE o_orderstatus = '{s}' AND o_totalprice > {x}"
    )


TEMPLATES = (
    _q_max, _q_sum, _q_count, _q_distinct, _q_case, _q_month,
    _q_group, _q_top, _q_join, _q_minmax, _q_events, _q_distinct_orders,
)


def render_markdown(cols: list[str], rows: list[tuple]) -> str:
    """The table ``pipelines.result_markdown`` must print for these rows,
    built independently of it."""
    cells = [["" if v is None else str(v) for v in r] for r in rows]
    widths = [max([len(c)] + [len(r[i]) for r in cells]) for i, c in enumerate(cols)]
    lines = ["| " + " | ".join(c.ljust(w) for c, w in zip(cols, widths)) + " |"]
    lines.append("|" + "|".join("-" * (w + 2) for w in widths) + "|")
    lines += ["| " + " | ".join(v.ljust(w) for v, w in zip(r, widths)) + " |" for r in cells]
    return "\n".join(lines)


class AgentSql:
    name = "agent_sql"
    cycle = len(TEMPLATES)
    # A template's first question costs up to twice its later ones, so
    # every template is asked once before the timed cycles.
    warm_ops = len(TEMPLATES)
    # Two cycles: 24 questions, so the tail percentile (10 questions beyond
    # it) is p58; a third cycle would not fit the time budget of a round.
    timed_ops = 2 * len(TEMPLATES)
    limit = 20

    def __init__(self, spark, seed: int, root: str):
        self.spark = spark
        self.seed = seed
        self.sf_dir = os.path.join(root, "sf")
        self.duck = None

    def prepare(self, n: int) -> list[str]:
        """Write the tables and draw ``n`` questions: whole cycles through
        the templates in a fixed order, the seed drawing each literal."""
        write_tables(self.sf_dir)
        rng = np.random.default_rng([self.seed, 3])
        return [TEMPLATES[i % self.cycle](rng) for i in range(n)]

    def run(self, sql: str, tracer=None) -> str:
        with _span(tracer, "pipelines.sql_surface"):
            df = pipelines.sql_surface(self.spark, self.sf_dir, sql)
        with _span(tracer, "pipelines.result_markdown"):
            return pipelines.result_markdown(df, limit=self.limit)

    @staticmethod
    def rows(md: str) -> int:
        return len(md.splitlines()) - 2

    def check(self, sql: str, md: str) -> None:
        if self.duck is None:
            self.duck = duckdb.connect()
            for t in TESTDATA_TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        cur = self.duck.execute(sql)
        cols = [d[0] for d in cur.description]
        want = render_markdown(cols, cur.fetchmany(self.limit))
        if md != want:
            raise Mismatch(f"{sql}\n-- spark --\n{md}\n-- duckdb --\n{want}")

    def final_check(self) -> None:
        pass  # every answer is checked as it arrives

    def close(self) -> None:
        if self.duck is not None:
            self.duck.close()
