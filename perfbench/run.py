#!/usr/bin/env python3
"""Benchmark of the expenses engine, run from the root of a checkout:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 40 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 40

Workloads (see perfbench/NOTES.md): ``ingest`` and ``agent_sql``, each one
client in a closed loop on a ``local[nproc]`` Spark session.

A run is a fixed number of whole cycles of ops (``warm_ops`` untimed, then
``timed_ops``), so the op mix is the same on every run; ``--seconds`` is
accepted for the benchmark's command line and recorded, and does not change
the count. The counts are sized so that the timed part of a run takes about
40 s or less on a 4-core host.

``--trace 0`` measures the named workload and prints its end-to-end
metrics. ``--trace 1`` runs the traced tour instead: a few ops of every
workload, half of them with spans around each call into the engine, plus
the scan/parse probes; it prints the per-layer metrics and writes the
spans to ``.perfbench_out/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Apart from the
spans, everything a run writes lives under ``.perfbench_tmp/`` and is
removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest", "agent_sql")
# bench.py's convention: a window where other processes used more cores
# than this was measured under contention
CONTENDED_CORES = 1.5


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run_workload(name: str, seed: int, seconds: int, tmp: str) -> dict:
    from perfbench.harness import Tally, final_check, metric, start_session, stop_session
    from perfbench.trace import TAIL_BEYOND, median, tail
    from perfbench.workloads import AgentSql, Ingest
    from tools.cpuprobe import ContentionWindow

    t0 = time.perf_counter()
    spark = start_session(tmp)
    start_s = time.perf_counter() - t0
    w = (Ingest if name == "ingest" else AgentSql)(spark, seed, tmp)
    try:
        ops = w.prepare(w.warm_ops + w.timed_ops)
        tally = Tally()
        for item in ops[: w.warm_ops]:
            tally.op(w, item)
        setup_s = time.perf_counter() - t0
        # warm-up ops count as attempted (and failed), not as timed
        tally.latencies, tally.rows, tally.wall = [], 0, 0.0
        load = os.getloadavg()[0]
        window, w0 = ContentionWindow(), time.perf_counter()
        for item in ops[w.warm_ops :]:
            tally.op(w, item)
        ext_cores = window.external_cores(time.perf_counter() - w0)
        ok = final_check(w)
    finally:
        w.close()
        stop_session(spark)

    timed = len(ops) - w.warm_ops
    tail_s, tail_pct, _ = tail(tally.latencies)
    metrics = {
        "setup_s": metric(setup_s, "s"),
        "op_p50_s": metric(median(tally.latencies), "s"),
        "op_tail_s": metric(tail_s, "s"),
        "ops_per_s": metric(len(tally.latencies) / tally.wall, "1/s"),
        "rows_per_s": metric(tally.rows / tally.wall, "rows/s"),
    }
    detail = {
        "workload": name,
        "seed": seed,
        "seconds_requested": seconds,
        "timed_s": round(tally.wall, 3),
        "timed_ops": timed,
        "warm_ops": w.warm_ops,
        "tail_percentile": round(tail_pct, 1),
        "tail_samples": len(tally.latencies),
        "session_start_s": round(start_s, 3),
        "ext_cores": round(ext_cores, 3),
        "loadavg_start": load,
        "contaminated": ext_cores > CONTENDED_CORES,
        "latencies_s": [round(x, 4) for x in tally.latencies],
    }
    print(f"{name}  seed={seed}  timed ops={timed}  attempted={tally.attempted}  failed={tally.failed}")
    for key, m in metrics.items():
        extra = ""
        if key == "op_tail_s":
            extra = f"  (p{tail_pct:.1f} of {len(tally.latencies)} ops, {TAIL_BEYOND} beyond it)"
        print(f"  {key:<11} {m['value']:>12.4f} {m['unit']}{extra}")
    flag = "CONTAMINATED" if detail["contaminated"] else "clean"
    print(f"  ext_cores   {ext_cores:>12.3f}  loadavg at start {load:.2f}  ({flag})")
    print("detail " + json.dumps(detail))
    return {
        "correct": ok and tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        # each workload in its own process, so each pays its own set-up
        codes = [
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", name,
                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(args.trace)],
                cwd=ROOT,
            ).returncode
            for name in WORKLOADS
        ]
        return max(codes)
    sys.path.insert(0, ROOT)
    try:
        import etl_expenses_spark  # noqa: F401
        import tools.cpuprobe  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.harness import isolate

    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    try:
        isolate(tmp)
        if args.trace:
            from perfbench.tour import traced_tour

            result = traced_tour(args, tmp)
        else:
            result = run_workload(args.workload, args.seed, args.seconds, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
