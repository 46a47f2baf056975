"""load_table's schema memo.

A second read of an unchanged local parquet file must skip Spark's
schema-inference job, yet behave exactly like a fresh read: a changed
file or a changed inference conf re-infers, every call builds a new
relation, and directories and missing paths take the uncached path.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from etl_expenses_spark.sources.readers import load_table


def _jobs(spark, group, fn):
    """Run ``fn`` under job group ``group``; return (result, jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job events reach the status tracker through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write(path, **cols):
    pq.write_table(pa.table(cols), path)


def test_unchanged_file_reads_footer_once(spark, tmp_path):
    _write(tmp_path / "t.parquet", k=pa.array([1, 2, 3], pa.int64()))
    df1, first = _jobs(spark, "readers-once-1", lambda: load_table(spark, str(tmp_path), "t"))
    df2, second = _jobs(spark, "readers-once-2", lambda: load_table(spark, str(tmp_path), "t"))
    assert first >= 1  # inference ran, so the probe can see jobs
    assert second == 0
    assert df2.schema == df1.schema
    assert sorted(r.k for r in df2.collect()) == [1, 2, 3]


def test_rewritten_file_returns_new_schema(spark, tmp_path):
    path = tmp_path / "t.parquet"
    _write(path, k=pa.array([1, 2], pa.int64()))
    load_table(spark, str(tmp_path), "t")
    _, hit = _jobs(spark, "readers-rewrite-1", lambda: load_table(spark, str(tmp_path), "t"))
    assert hit == 0
    _write(path, k=pa.array([1, 2], pa.int64()), v=pa.array(["a", "b"]))
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "v"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "a"), (2, "b")]


def test_binary_as_string_flip_misses(spark, tmp_path):
    _write(tmp_path / "t.parquet", b=pa.array([b"x", b"y"], pa.binary()))
    conf = "spark.sql.parquet.binaryAsString"
    assert load_table(spark, str(tmp_path), "t").schema["b"].dataType.typeName() == "binary"
    _, hit = _jobs(spark, "readers-flip-1", lambda: load_table(spark, str(tmp_path), "t"))
    assert hit == 0
    old = spark.conf.get(conf)
    spark.conf.set(conf, "true")
    try:
        df = load_table(spark, str(tmp_path), "t")
        assert df.schema["b"].dataType.typeName() == "string"
        assert sorted(r.b for r in df.collect()) == ["x", "y"]
    finally:
        spark.conf.set(conf, old)
    assert load_table(spark, str(tmp_path), "t").schema["b"].dataType.typeName() == "binary"


def test_two_loads_self_join_unambiguously(spark, tmp_path):
    _write(
        tmp_path / "t.parquet",
        k=pa.array([1, 2, 3], pa.int64()),
        parent=pa.array([None, 1, 2], pa.int64()),
    )
    child = load_table(spark, str(tmp_path), "t")
    par = load_table(spark, str(tmp_path), "t")
    pairs = child.join(par, child["parent"] == par["k"]).select(
        child["k"].alias("c"), par["k"].alias("p")
    )
    assert sorted(tuple(r) for r in pairs.collect()) == [(2, 1), (3, 2)]


def test_missing_path_raises_path_not_found(spark, tmp_path):
    for _ in range(2):
        with pytest.raises(AnalysisException) as err:
            load_table(spark, str(tmp_path), "absent")
        assert err.value.getCondition() == "PATH_NOT_FOUND"


def test_directory_infers_every_time(spark, tmp_path):
    spark.range(0, 10).withColumn("v", F.col("id") * 2).write.parquet(
        os.path.join(str(tmp_path), "d.parquet")
    )
    for i in range(2):
        df, jobs = _jobs(spark, f"readers-dir-{i}", lambda: load_table(spark, str(tmp_path), "d"))
        assert jobs >= 1
        assert df.count() == 10
