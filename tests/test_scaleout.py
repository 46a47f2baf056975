"""fan_out / planned-partition probe cache (r14, VERDICT r13 #6).

The probe cache must never change fan_out's DECISION — only skip the
repeated physical-planning pass when the same (session, plan) is probed
again. These tests pin: the upward-only semantics, the cache hit on a
re-built identical plan, and that distinct plans do not alias.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_expenses_spark import scaleout
from etl_expenses_spark.scaleout import _PROBE_CACHE, _planned_partitions, fan_out


def _narrow(spark):
    # range with numPartitions=1 plans as one task — the starved-scan shape
    return spark.range(0, 1000, 1, 1).withColumn("k", F.col("id") % 7)


def test_fan_out_raises_narrow_input(spark):
    n = spark.sparkContext.defaultParallelism
    out = fan_out(_narrow(spark), "k")
    assert out.rdd.getNumPartitions() == n
    # row-preserving: repartition only moves rows
    assert out.count() == 1000


def test_fan_out_identity_on_wide_input(spark):
    n = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 1000, 1, n + 2)
    out = fan_out(wide, "id")
    # identity — no exchange added on an already-wide frame
    assert out is wide


def test_probe_cache_hits_on_rebuilt_plan(spark):
    scaleout._PROBE_CACHE.clear()
    a = _narrow(spark)
    n1 = _planned_partitions(a)
    assert len(_PROBE_CACHE) == 1
    # the SAME plan built again (fresh DataFrame object) must hit the cache
    b = _narrow(spark)
    n2 = _planned_partitions(b)
    assert len(_PROBE_CACHE) == 1
    assert n1 == n2 == 1


def test_probe_cache_distinguishes_plans(spark):
    scaleout._PROBE_CACHE.clear()
    one = spark.range(0, 100, 1, 1)
    three = spark.range(0, 100, 1, 3)
    assert _planned_partitions(one) == 1
    assert _planned_partitions(three) == 3
    assert len(_PROBE_CACHE) == 2


def test_probe_cache_confirms_hit_with_same_result(spark):
    # the key holds a 32-bit semanticHash, so two plans can share an entry;
    # a stored count may only answer for a plan that sameResults its own
    three = spark.range(0, 100, 1, 3)
    one = spark.range(0, 100, 1, 1)
    scaleout._PROBE_CACHE.clear()
    assert _planned_partitions(three) == 3
    (stored,) = _PROBE_CACHE.values()
    scaleout._PROBE_CACHE.clear()
    assert _planned_partitions(one) == 1
    (key,) = _PROBE_CACHE
    _PROBE_CACHE[key] = stored  # a hash collision: three's entry under one's key
    assert _planned_partitions(one) == 1


def test_probe_matches_public_rdd_count(spark):
    # the JVM-internal toRdd count must agree with the public df.rdd count
    for parts in (1, 2, 5):
        df = spark.range(0, 50, 1, parts)
        assert _planned_partitions(df) == df.rdd.getNumPartitions()


@pytest.mark.parametrize(
    "conf, value",
    [
        ("spark.sql.files.maxPartitionBytes", str(16 * 1024)),
        ("spark.sql.files.openCostInBytes", "1024"),
    ],
)
def test_probe_cache_rekeys_on_split_conf(spark, tmp_path, conf, value):
    # the same scan plan splits differently once a sizing conf changes; a
    # cache keyed on the plan alone would keep returning the old count
    scaleout._PROBE_CACHE.clear()
    path = str(tmp_path / "t.parquet")
    rng = np.random.default_rng(0)
    pq.write_table(pa.table({"k": rng.integers(0, 2**62, 20_000)}), path)
    before = _planned_partitions(spark.read.parquet(path))
    assert before == 1
    old = spark.conf.get(conf)
    spark.conf.set(conf, value)
    try:
        df = spark.read.parquet(path)
        truth = df.rdd.getNumPartitions()
        assert truth > before
        assert _planned_partitions(df) == truth
    finally:
        spark.conf.set(conf, old)
    assert _planned_partitions(spark.read.parquet(path)) == before
