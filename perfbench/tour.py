"""The traced run: one tour over the layers of every workload.

Every traced run, whichever workload it is named for, makes the same tour,
so each one reports every per-layer metric:

1. start the session and make the inputs of both workloads;
2. warm up both workloads, untimed (the same warm-up the end-to-end runs
   use);
3. ingest: ``TRACE_INGEST_OPS`` ops (four days), traced and untraced in
   an ABBA order, so the drift of a warming JVM favours neither and each
   source has as many traced ops as untraced;
4. the scan/parse probes over the bronze files of ``PROBE_DAYS`` days;
5. agent_sql: every other question of one cycle, each asked once traced
   and once untraced, the first of the two alternating;
6. the output checks, then the gold table's storage.

A traced op records one span per call into the engine from this file:
the three pipeline loads and the replay for ``ingest``; ``sql_surface``,
the ``register_views`` call inside it and ``result_markdown`` for
``agent_sql``. Each traced op also runs in its own Spark job group, whose
job, stage and task counts are read from the status tracker after the op.
The tracing overhead is the median traced op minus the median untraced op.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager, nullcontext

from perfbench.harness import ROOT, Tally, final_check, metric, start_session, stop_session
from perfbench.trace import JobCounts, Tracer, job_counts, median, tree_peak_rss_mb

TRACE_INGEST_OPS = 12  # half of them traced
PROBE_DAYS = 1


@contextmanager
def _spans_around(module, attr: str, tracer: Tracer, name: str):
    """Record every call of ``module.attr`` as a span while the block runs."""
    fn = getattr(module, attr)
    setattr(module, attr, tracer.wrap(name, fn))
    try:
        yield
    finally:
        setattr(module, attr, fn)


def _traced(k: int) -> bool:
    """ABBA: untraced, traced, traced, untraced, ..."""
    return k % 4 in (1, 2)


class _Traced:
    """Runs ops with spans and a job group, or plain, and keeps both
    latency lists for the overhead comparison."""

    def __init__(self, spark, tracer: Tracer, w):
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.w = w
        self.tally = Tally()
        self.traced: list[float] = []
        self.untraced: list[float] = []
        self.counts: list[JobCounts] = []
        self.outputs: list = []

    def op(self, item, traced: bool) -> None:
        if not traced:
            if self.tally.op(self.w, item) is not None:
                self.untraced.append(self.tally.latencies[-1])
            return
        group = f"perfbench-{self.w.name}-{self.tally.attempted}"
        self.tracer.op = group
        self.sc.setJobGroup(group, group)
        with self.tracer.span(f"op.{self.w.name}"):
            out = self.tally.op(self.w, item, self.tracer)
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.tracer.op = None
        self.counts.append(job_counts(self.sc, group))
        if out is not None:
            self.traced.append(self.tally.latencies[-1])
            self.outputs.append(out)

    def metrics(self) -> dict:
        name = self.w.name
        return {
            f"spark.jobs_per_op.{name}": metric(median([c.jobs for c in self.counts]), "count"),
            f"spark.stages_per_op.{name}": metric(median([c.stages for c in self.counts]), "count"),
            f"spark.tasks_per_op.{name}": metric(median([c.tasks for c in self.counts]), "count"),
            f"trace.overhead_s.{name}": metric(median(self.traced) - median(self.untraced), "s"),
        }


def _probe(spark, tracer: Tracer, batches) -> tuple[list[float], list[float], int]:
    """Per day: the ticket and mail readers into the noop sink, then the
    same readers plus their parsers. Returns scan seconds, parse seconds
    (parse run minus scan run) and the rows the parsers produced."""
    from etl_expenses_spark.parsers import mails_to_payments, tickets_to_items
    from etl_expenses_spark.schemas import MAIL_DOC
    from etl_expenses_spark.sources.readers import read_binary_files, read_json_docs
    from pyspark.sql import functions as F

    def readers(batch):
        tickets = read_binary_files(spark, batch.dir("tickets"), glob="*.pdf")
        mails = read_json_docs(spark, f"{batch.dir('mails')}/*.json", schema=MAIL_DOC)
        return tickets.filter(F.col("length") > 0), mails

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    scans, parses, rows = [], [], 0
    for batch in batches:
        with tracer.span("readers.scan") as s:
            for df in readers(batch):
                noop(df)
        with tracer.span("parsers.parse") as p:
            tickets, mails = readers(batch)
            parsed = (tickets_to_items(tickets), mails_to_payments(mails))
            for df in parsed:
                noop(df)
        scans.append(s.end - s.start)
        parses.append((p.end - p.start) - (s.end - s.start))
        rows += sum(df.count() for df in parsed)
    return scans, parses, rows


def traced_tour(args, tmp: str) -> dict:
    from etl_expenses_spark.sources import readers

    from perfbench.workloads import AgentSql, Ingest

    tracer = Tracer()
    with tracer.span("session.start"):
        spark = start_session(tmp)
    ingest, agent = Ingest(spark, args.seed, tmp), AgentSql(spark, args.seed, tmp)
    try:
        with tracer.span("inputs.generate"):
            batches = ingest.prepare(ingest.warm_ops + TRACE_INGEST_OPS)
            questions = agent.prepare(agent.warm_ops + agent.cycle)
        warm = Tally()
        with tracer.span("session.warmup"):
            for item in batches[: ingest.warm_ops]:
                warm.op(ingest, item)
            for item in questions[: agent.warm_ops]:
                warm.op(agent, item)

        ing = _Traced(spark, tracer, ingest)
        timed = batches[ingest.warm_ops :]
        for k, batch in enumerate(timed):
            ing.op(batch, _traced(k))
        days = list({id(b): b for b, _ in timed}.values())[:PROBE_DAYS]
        scans, parses, rows_out = _probe(spark, tracer, days)

        sql = _Traced(spark, tracer, agent)
        for k, question in enumerate(questions[agent.warm_ops :: 2]):
            for traced in (k % 2 == 1, k % 2 == 0):
                # sql_surface imports register_views at each call, so the
                # module attribute is what it runs
                wrap = _spans_around(readers, "register_views", tracer, "readers.register_views")
                with wrap if traced else nullcontext():
                    sql.op(question, traced)

        ok = final_check(ingest) and final_check(agent)
        gold_files, gold_bytes, gold_rows = ingest.gold_files()
        peak_rss = tree_peak_rss_mb()
    finally:
        agent.close()
        stop_session(spark)

    spans = {s.name: s for s in tracer.spans}
    counts = ing.counts + sql.counts
    metrics = {
        "session.start_s": metric(spans["session.start"].end - spans["session.start"].start, "s"),
        "session.warmup_s": metric(spans["session.warmup"].end - spans["session.warmup"].start, "s"),
        "readers.register_views_s": metric(median(tracer.by_name("readers.register_views")), "s"),
        "pipelines.sql_surface_s": metric(median(tracer.by_name("pipelines.sql_surface")), "s"),
        "pipelines.result_markdown_s": metric(median(tracer.by_name("pipelines.result_markdown")), "s"),
        "pipelines.ticket_s": metric(median(tracer.by_name("pipelines.ticket")), "s"),
        "pipelines.mp_s": metric(median(tracer.by_name("pipelines.mp")), "s"),
        "pipelines.mail_s": metric(median(tracer.by_name("pipelines.mail")), "s"),
        "pipelines.replay_s": metric(median(tracer.by_name("pipelines.replay")), "s"),
        "readers.scan_s": metric(median(scans), "s"),
        "parsers.parse_s": metric(median(parses), "s"),
        "parsers.rows_out": metric(rows_out, "rows"),
        "merge.rows_appended": metric(sum(o["loaded"] for o in ing.outputs), "rows"),
        "merge.replay_rows_appended": metric(sum(o["replayed"] for o in ing.outputs), "rows"),
        "merge.gold_files": metric(gold_files, "files"),
        "merge.gold_bytes_per_row": metric(gold_bytes / gold_rows, "B/row"),
        **ing.metrics(),
        **sql.metrics(),
        "spark.failed_tasks": metric(sum(c.failed_tasks for c in counts), "count"),
        "driver.peak_rss_mb": metric(peak_rss, "MB"),
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump({"metrics": metrics, "spans": tracer.as_records()}, f)
    for key, m in metrics.items():
        print(f"  {key:<34} {m['value']:>14.4f} {m['unit']}")
    print(f"spans: {len(tracer.spans)} written to {os.path.relpath(path, ROOT)}")
    tallies = (warm, ing.tally, sql.tally)
    failed = sum(t.failed for t in tallies)
    return {
        "correct": ok and failed == 0,
        "attempted": sum(t.attempted for t in tallies),
        "failed": failed,
        "metrics": metrics,
    }
