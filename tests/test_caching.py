from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_expenses_spark import caching
from etl_expenses_spark.caching import bsp_checkpoint, bsp_iterate
from etl_expenses_spark.operators.dedup import connected_components


def test_bsp_iterate_raises_converges_and_survives_long_chains(spark):
    """bsp_iterate raises its caller's message when rounds run out,
    reports the rounds it ran, and still plans after 30 rounds whose step
    joins the state against an aggregate of a self-join (the plan shape
    whose copied stats estimates double in bit length every round and
    overflow near round 28)."""
    start = spark.range(8).select("id", F.col("id").alias("v"))

    def never(state, _round):
        return state.select("id", "v", F.lit(True).alias("changed"))

    with pytest.raises(RuntimeError, match="never settles"):
        bsp_iterate(start, never, max_rounds=3, exhausted="never settles")
    assert caching.BSP_RUNS[-1]["changed"] == [8, 8, 8]

    def settles_after(k):
        def step(state, rnd):
            return state.select("id", "v", F.lit(rnd < k - 1).alias("changed"))

        return step

    bsp_iterate(start, settles_after(4), max_rounds=10, exhausted="unreachable")
    run = caching.BSP_RUNS[-1]
    assert run["rounds"] == 4
    assert run["changed"] == [8, 8, 8, 0] and run["rows"] == [8] * 4

    def self_join(state, rnd):
        # each round must start from a leaf whose size estimate has not
        # compounded (a fresh leaf's default estimate is Long.MaxValue)
        stats = state._jdf.queryExecution().optimizedPlan().stats()
        assert stats.sizeInBytes().bit_length() <= 63, rnd
        # the CC round's shape: state ⋈ agg(state ⋈ state)
        keys = state.select(F.col("id").alias("k"))
        agg = (
            state.select(F.col("id").alias("k"), "v")
            .join(keys, "k")
            .groupBy("k")
            .agg(F.max("v").alias("m"))
        )
        return state.join(agg, state["id"] == agg["k"]).select(
            "id", (F.col("m") + 1).alias("v"), F.lit(rnd < 29).alias("changed")
        )

    out = bsp_iterate(start, self_join, max_rounds=30, exhausted="too few rounds")
    assert caching.BSP_RUNS[-1]["rounds"] == 30
    assert sorted(r.v for r in out.collect()) == list(range(30, 38))

    caching.clear_tracked_caches()
    assert caching.BSP_RUNS == []


def test_small_bsp_state_checkpoints_to_one_partition(spark):
    """KB-scale loop state runs at one task with no per-site sizing: AQE's
    post-shuffle coalescing never cuts a shuffle read below its minimum
    partition size, so a wide shuffle setting still checkpoints a small
    edge set, and every CC round over it, into one partition."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "32")
    try:
        # 1000 four-node chains: 3000 edges, 1000 components
        ids = spark.range(4000).filter(F.col("id") % 4 != 3)
        edges = ids.select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
        sym = bsp_checkpoint(
            edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
            .union(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
            .distinct()
        )
        assert sym.count() == 6000
        assert sym.rdd.getNumPartitions() == 1
        labels = connected_components(edges)
        assert labels.rdd.getNumPartitions() == 1
        assert labels.select("cluster_id").distinct().count() == 1000
    finally:
        spark.conf.set(key, old)
