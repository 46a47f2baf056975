"""N-run re-measurement protocol for flagged bench queries (VERDICT r10 #1).

When tools/bench_compare.py flags a per-query regression, the first
question is whether it is code or noise: iterative BSP plans (k-core,
k-truss, CC, the curation funnel) run many small sequential stages, so
their wall is dominated by fixed scheduling/JIT/GC costs that drift
5-25% run-to-run even on an idle host (measured r11: ktruss_copurchase
sampled 3.2-4.0 s across clean same-code windows; kcore_copurchase
4.0-5.1 s). This tool makes the re-measure protocol executable: N runs
per query (default 5) in one warmed session, each query's window
bracketed by the tools/cpuprobe external-core probe, reporting median /
min / max / spread so a flagged delta can be judged against the query's
OWN clean-run spread instead of a single median-of-3 sample.

Usage:
    python tools/bench_remeasure.py [--sf-dir DIR] [--n 5] QUERY [QUERY ...]

Interpretation rule (the bench governance policy, COVERAGE.md): a
cross-round delta is a real regression only if the new round's value
lies OUTSIDE [min, max] of an N=5 clean re-measure window of the old
code — otherwise it is within the plan's own noise band and the honest
record is the band, not the point.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser(
        description="N-run clean-band re-measure of flagged bench queries "
        "(accepts both --n 5 and --n=5 forms)."
    )
    ap.add_argument("queries", nargs="+", metavar="QUERY")
    ap.add_argument("--n", type=int, default=5, help="runs per query (default 5)")
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
        help="testdata directory (default $SPARK_GRAFT_SF_DIR or sf0.1)",
    )
    ns = ap.parse_args(sys.argv[1:])
    args, n, sf_dir = ns.queries, ns.n, ns.sf_dir

    from etl_expenses_spark.plans import REGISTRY
    from etl_expenses_spark.session import get_spark
    from etl_expenses_spark.sources.readers import TESTDATA_TABLES, load_table
    from tools.cpuprobe import ContentionWindow

    unknown = [q for q in args if q not in REGISTRY]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = get_spark("bench-remeasure")
    for t in TESTDATA_TABLES:
        load_table(spark, sf_dir, t).count()

    def run_once(q) -> float:
        t0 = time.perf_counter()
        q.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    rc = 0
    for name in args:
        # one untimed run per query, just before its window, so no query's
        # first timed run carries its own plan compile and codegen
        run_once(REGISTRY[name])
        win = ContentionWindow()
        t0 = time.perf_counter()
        runs = [run_once(REGISTRY[name]) for _ in range(n)]
        ext = win.external_cores(time.perf_counter() - t0)
        med = statistics.median(runs)
        spread = max(runs) / min(runs) if min(runs) > 0 else float("inf")
        flag = "  <-- CONTAMINATED (ext cores > 1.5)" if ext > 1.5 else ""
        if ext > 1.5:
            rc = 2
        print(
            f"{name}: median={med:.2f}s band=[{min(runs):.2f}, {max(runs):.2f}] "
            f"spread={spread:.2f}x ext={ext:.2f}{flag} "
            f"runs={[round(r, 2) for r in runs]}"
        )
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
