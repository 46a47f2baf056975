"""Session-scoped lifetime management for persisted intermediates.

Operators persist() DataFrames that out-live their builder function (the
caller collects the returned, lineage-dependent DataFrame later), so the
builder can't unpersist locally without recomputing the cached stage.
Instead every persist goes through ``tracked_persist`` and the query
registry clears the PREVIOUS query's caches at the start of each build —
a long sequential session (the driver runs 50+ queries in one JVM) holds
at most one query's cached blocks instead of accumulating until LRU
eviction pressure.

The BSP helpers (``bsp_checkpoint``, ``bsp_iterate``) materialize loop
state once per round and hand the next round a stats-reset leaf. They do
not size that state: AQE's post-shuffle coalescing (on in ``session.py``
and by default in a bare session) never cuts a shuffle read into
partitions below ``coalescePartitions.minPartitionSize`` (1 MB), so a
KB-scale state runs its rounds at one task and a large one keeps a
data-sized width.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

_TRACKED_CACHES: list[DataFrame] = []


def tracked_persist(df: DataFrame) -> DataFrame:
    """persist() whose lifetime ends when the next registry query builds."""
    _TRACKED_CACHES.append(df.persist())
    return df


def track(df: DataFrame) -> DataFrame:
    """Register an ALREADY-persisted DataFrame (e.g. the surviving cache of
    an iterative loop that unpersists its per-round intermediates)."""
    _TRACKED_CACHES.append(df)
    return df


def clear_tracked_caches() -> None:
    while _TRACKED_CACHES:
        _TRACKED_CACHES.pop().unpersist()
    BSP_RUNS.clear()


def _rebuild_leaf(ck: DataFrame) -> DataFrame:
    """Fresh-stats leaf over an already-checkpointed DataFrame's RDD blocks.

    ``Dataset.localCheckpoint`` copies the origin plan's stats estimate
    onto the new LogicalRDD leaf. In an iterative loop whose per-round
    plan joins the state against something derived from the state, the
    size-only stats visitor MULTIPLIES the two sides, so the estimate's
    bit length roughly DOUBLES per checkpointed round (measured on the LPA
    loop: b_{n+1} = 2·b_n + 63). By round ~20 Catalyst is multiplying
    multi-megabit BigIntegers on every planning pass, and at bit length
    2³¹ stats estimation throws ``BigInteger would overflow supported
    range`` — the loop dies planning, not executing.

    Rebuilding the leaf from the checkpointed JVM row RDD
    (``createDataFrame(javaRDD, schema)``) keeps the same materialized
    blocks and the same lazy scan, but gives a fresh leaf whose default
    stats don't compound. It stays entirely JVM-side (no Python
    round-trip, no disk). Join strategy is unaffected: checkpointed
    leaves already carried conservative huge estimates, so static
    broadcast was never chosen off them — AQE's runtime sizes decide.
    """
    spark = ck.sparkSession
    # Classic-Spark internals (_jdf / _jsparkSession / the
    # createDataFrame(JavaRDD, StructType) overload) — absent under Spark
    # Connect and not a stable API. Fail with a self-diagnosing error
    # instead of an opaque Py4J failure far from the call site.
    if not hasattr(ck, "_jdf") or not hasattr(spark, "_jsparkSession"):
        raise RuntimeError(
            "bsp_checkpoint requires classic (JVM-local) PySpark: it "
            "rebuilds the checkpointed leaf via Dataset._jdf.javaRDD() to "
            "shed compounding stats estimates. Under Spark Connect these "
            "internals do not exist — fall back to df.localCheckpoint() "
            "and bound the loop's round count, or run on a classic session."
        )
    jdf = ck._jdf
    return DataFrame(
        spark._jsparkSession.createDataFrame(jdf.javaRDD(), jdf.schema()),
        spark,
    )


def bsp_checkpoint(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint behind a stats-reset leaf (see _rebuild_leaf).
    The leaf keeps the checkpoint's partitions, which AQE sized when it
    coalesced the shuffle that produced them."""
    return _rebuild_leaf(df.localCheckpoint())


# Telemetry of every bsp_iterate call since the last clear_tracked_caches:
# {"rounds": n, "rows": [per round], "changed": [per round]}. Never read by
# operator logic.
BSP_RUNS: list[dict] = []


def bsp_iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    *,
    max_rounds: int,
    exhausted: str | None,
) -> DataFrame:
    """Run a bulk-synchronous loop to its fixed point (the Pregel superstep
    loop with a vote to halt, Malewicz et al., SIGMOD 2010).

    Each round ``step(state, round)`` returns the next state with a boolean
    ``changed`` column. The round's single localCheckpoint job also counts
    ``count_if(changed)`` and ``count(*)`` as observed metrics, so the
    convergence test costs no extra driver round-trip: ``Observation.get``
    only waits for the listener. The checkpoint becomes a stats-reset leaf
    and is passed, flag column included, to the next step. The loop returns
    that leaf as soon as no row changed.

    If ``max_rounds`` run out while rows still change, it raises
    ``RuntimeError(exhausted)``: the state is not a fixed point, so
    returning it would be a plausible wrong answer. ``exhausted=None``
    returns the last state instead, for loops whose contract is a budget.
    """
    run = {"rounds": 0, "rows": [], "changed": []}
    BSP_RUNS.append(run)
    for rnd in range(max_rounds):
        obs = Observation()
        ck = (
            step(state, rnd)
            .observe(
                obs,
                F.count_if(F.col("changed")).alias("n"),
                F.count(F.lit(1)).alias("rows"),
            )
            .localCheckpoint()
        )
        got = obs.get
        rows, n = int(got["rows"]), int(got["n"])
        state = _rebuild_leaf(ck)
        run["rounds"] += 1
        run["rows"].append(rows)
        run["changed"].append(n)
        if n == 0:
            return state
    if exhausted is not None:
        raise RuntimeError(exhausted)
    return state
