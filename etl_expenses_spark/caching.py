"""Session-scoped lifetime management for persisted intermediates.

Operators persist() DataFrames that out-live their builder function (the
caller collects the returned, lineage-dependent DataFrame later), so the
builder can't unpersist locally without recomputing the cached stage.
Instead every persist goes through ``tracked_persist`` and the query
registry clears the PREVIOUS query's caches at the start of each build —
a long sequential session (the driver runs 50+ queries in one JVM) holds
at most one query's cached blocks instead of accumulating until LRU
eviction pressure.
"""

from __future__ import annotations

from collections.abc import Callable
from contextlib import contextmanager as _contextmanager

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


# Adaptive BSP-state sizing: a checkpointed state keeps the FIXED
# partition count of the plan that produced it (shuffle.partitions-ish)
# even when it has collapsed to a few hundred rows, so every later round
# schedules a full width of no-op tasks (profiled: the curation funnel's CC
# rounds ran 33-task localCheckpoint jobs with ZERO task time, ~0.24 s of
# pure scheduling per round). A sized leaf is coalesced (narrow, no
# shuffle) down to ceil(rows / _BSP_ROWS_PER_PARTITION) partitions —
# identity whenever the state is big enough to deserve its width, so the
# 100 TB path is untouched.
_BSP_ROWS_PER_PARTITION = 65536


def _rebuild_leaf(ck: DataFrame, rows: int | None = None) -> DataFrame:
    """Fresh-stats leaf over an already-checkpointed DataFrame's RDD blocks,
    coalesced to match ``rows`` when given (see above).

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
    jrdd = jdf.javaRDD()
    if rows is not None:
        cur = jrdd.getNumPartitions()
        want = max(1, min(cur, -(-rows // _BSP_ROWS_PER_PARTITION)))
        if want < cur:
            jrdd = jrdd.coalesce(want)
    return DataFrame(
        spark._jsparkSession.createDataFrame(jrdd, jdf.schema()),
        spark,
    )


def bsp_checkpoint(df: DataFrame, *, sized: bool = False) -> DataFrame:
    """Eager localCheckpoint behind a stats-reset leaf (see _rebuild_leaf).
    ``sized`` counts the rows as an observed metric of the checkpoint's own
    job and coalesces the leaf to them — for loop-invariant relations (edge
    lists, adjacency) whose width every round's joins inherit."""
    if not sized:
        return _rebuild_leaf(df.localCheckpoint())
    obs = Observation()
    ck = df.observe(obs, F.count(F.lit(1)).alias("rows")).localCheckpoint()
    return _rebuild_leaf(ck, int(obs.get["rows"]))


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
    size_leaf: bool = False,
) -> DataFrame:
    """Run a bulk-synchronous loop to its fixed point (the Pregel superstep
    loop with a vote to halt, Malewicz et al., SIGMOD 2010).

    Each round ``step(state, round)`` returns the next state with a boolean
    ``changed`` column. The round's single localCheckpoint job also counts
    ``count_if(changed)`` and ``count(*)`` as observed metrics, so the
    convergence test costs no extra driver round-trip: ``Observation.get``
    only waits for the listener. The checkpoint becomes a stats-reset leaf
    (sized to the counted rows when ``size_leaf``) and is passed, flag
    column included, to the next step. The loop returns that leaf as soon
    as no row changed.

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
        state = _rebuild_leaf(ck, rows if size_leaf else None)
        run["rounds"] += 1
        run["rows"].append(rows)
        run["changed"].append(n)
        if n == 0:
            return state
    if exhausted is not None:
        raise RuntimeError(exhausted)
    return state


@_contextmanager
def small_state_rounds(spark, enabled: bool = True):
    """Scope AQE's post-shuffle coalescing to SIZE-based targeting for a
    BSP loop whose state is observed tiny.

    AQE's default ``coalescePartitions.parallelismFirst=true`` floors the
    coalesced partition count at the session's default parallelism, so a
    loop whose whole state is a few hundred rows still runs every round's
    shuffle at full session width — profiled on the curation funnel's CC
    loop as 33-task jobs with ZERO task time, ~0.25 s of pure scheduling
    each. Inside this scope AQE targets ``advisoryPartitionSizeInBytes``
    instead, which collapses KB-scale shuffles to one task. Callers must
    enable it ONLY when the loop's per-round work is proportional to an
    observed-small state (per-row cost ~constant); compute-dense rounds
    (k-core H-steps, truss wedge expansion) keep the default. The conf is
    restored on exit, so surrounding plan execution is untouched."""
    key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    if not enabled:
        yield
        return
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
