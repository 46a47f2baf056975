"""Decompose the graph tiers' superlinear ×10 ratios (VERDICT r8 stretch
#7): is the cost growth ROUNDS (inherent — the synthetic graph densifies,
peeling/convergence depth grows) or PER-ROUND cost (a plan problem worth
tuning)?

For sf0.1 and the ×10 synth tier, measures:
- graph stats: nodes, edges, max degree, wedge count Σ C(deg, 2) — the
  work metric of every wedge-expanding operator — both uncapped and after
  the mutual cap (64, the tier the capped queries run);
- kcore_copurchase_capped / ktruss_copurchase_capped: wall time AND the
  BSP round count the operator's loop reported (caching.BSP_RUNS), giving
  per-round wall;
- triangle_count_copurchase / link_prediction_jaccard_capped: wall time
  (non-iterative — the wedge ratio is their whole story).

Prints one JSON line; paste the verdicts into tools/scaling_study.py's
SCALING.md notes.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from etl_expenses_spark import caching  # noqa: E402
from etl_expenses_spark.caching import clear_tracked_caches  # noqa: E402
from etl_expenses_spark.operators.graph import capped_adjacency  # noqa: E402
from etl_expenses_spark.plans import REGISTRY  # noqa: E402
from etl_expenses_spark.plans.sketch_ops import (  # noqa: E402
    _copurchase_edges,
    _LINKPRED_DEGREE_CAP,
)
from etl_expenses_spark.session import get_spark  # noqa: E402

SCALES = {
    "sf0.1": "/root/testdata/sf0.1",
    "sf1_synth": os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "spark-warehouse", "sf1_synth",
    ),
}


def graph_stats(spark, sf_dir) -> dict:
    edges = _copurchase_edges(spark, sf_dir).select("pa", "pb")
    canon = edges.select(
        F.least("pa", "pb").alias("pa"), F.greatest("pa", "pb").alias("pb")
    ).distinct()

    def wedge_stats(sym) -> dict:
        deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("d"))
        row = deg.agg(
            F.count(F.lit(1)).alias("nodes"),
            F.max("d").alias("max_deg"),
            F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("wedges"),
        ).first()
        return {"nodes": row["nodes"], "max_deg": row["max_deg"],
                "wedges": row["wedges"]}

    sym = canon.select(F.col("pa").alias("node"), F.col("pb").alias("nbr")).union(
        canon.select(F.col("pb").alias("node"), F.col("pa").alias("nbr"))
    )
    kept = capped_adjacency(canon, _LINKPRED_DEGREE_CAP)
    rev = kept.select(F.col("nbr").alias("node"), F.col("node").alias("nbr"))
    mutual = kept.join(rev, ["node", "nbr"], "left_semi")
    out = {
        "edges": canon.count(),
        "uncapped": wedge_stats(sym),
        "capped": wedge_stats(mutual),
    }
    clear_tracked_caches()
    return out


def timed(spark, name, sf_dir) -> float:
    clear_tracked_caches()
    t0 = time.perf_counter()
    REGISTRY[name].build(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    spark = get_spark("graph_scaling_verdict")
    out: dict = {}
    for label, sf_dir in SCALES.items():
        if not os.path.exists(sf_dir):
            print(f"skip {label}: {sf_dir} missing (run scaling_study first)")
            continue
        r: dict = {"stats": graph_stats(spark, sf_dir)}
        r["kcore_capped_s"] = timed(spark, "kcore_copurchase_capped", sf_dir)
        r["kcore_rounds"] = caching.BSP_RUNS[-1]["rounds"]
        r["ktruss_capped_s"] = timed(spark, "ktruss_copurchase_capped", sf_dir)
        r["ktruss_rounds"] = caching.BSP_RUNS[-1]["rounds"]
        r["triangle_s"] = timed(spark, "triangle_count_copurchase", sf_dir)
        r["linkpred_capped_s"] = timed(
            spark, "link_prediction_jaccard_capped", sf_dir
        )
        out[label] = r
        print(label, json.dumps(r), flush=True)
    print(json.dumps({"metric": "graph_scaling_verdict", "results": out}))


if __name__ == "__main__":
    main()
