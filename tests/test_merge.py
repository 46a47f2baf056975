"""Idempotency property: loading the same batch twice == once (the J1-J4
exactly-once contract, `/root/reference/load_data/lambda_function.py:39-73`)."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from etl_expenses_spark.operators.merge import merge_append, new_rows
from etl_expenses_spark.sources.readers import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_merge_append_idempotent(spark):
    target = tempfile.mkdtemp(prefix="gold_")
    shutil.rmtree(target)  # merge_append handles a missing target
    orders = load_table(spark, SF_DIR, "orders").limit(500)
    try:
        n1 = merge_append(orders, target, keys=["o_orderkey"])
        assert n1 == 500
        n2 = merge_append(orders, target, keys=["o_orderkey"])
        assert n2 == 0, "re-loading the same batch must be a no-op"
        assert spark.read.parquet(target).count() == 500
        # overlapping batch: only genuinely new keys are appended
        more = load_table(spark, SF_DIR, "orders").limit(600)
        n3 = merge_append(more, target, keys=["o_orderkey"])
        assert n3 == 100
        final = spark.read.parquet(target)
        assert final.count() == 600
        assert final.select("o_orderkey").distinct().count() == 600
    finally:
        shutil.rmtree(target, ignore_errors=True)


def test_new_rows_composite_key(spark):
    df = spark.createDataFrame(
        [(1, "a", 10.0), (1, "b", 20.0), (2, "a", 30.0)], ["k1", "k2", "v"]
    )
    target = spark.createDataFrame([(1, "a", 99.0)], ["k1", "k2", "v"])
    got = sorted(tuple(r) for r in new_rows(df, target, ["k1", "k2"]).collect())
    assert got == [(1, "b", 20.0), (2, "a", 30.0)]


def test_snapshot_diff_apply_roundtrip(spark):
    """CDC invariant: apply_diff(old, snapshot_diff(old, new)) == new —
    including deletes, NULL→value and value→NULL updates, and inserts."""
    from pyspark.sql import functions as F

    from etl_expenses_spark.operators.merge import apply_diff, snapshot_diff

    old = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = (
        old.filter(F.col("o_orderkey") % 11 != 0)  # deletes
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1)
            .when(F.col("o_orderkey") % 13 == 0, F.lit(None))  # value→NULL update
            .otherwise(F.col("o_totalprice")),
        )
        .unionByName(  # inserts, one with a NULL value column
            spark.createDataFrame(
                [(90000001, "O", 10.5), (90000002, "F", None)],
                "o_orderkey long, o_orderstatus string, o_totalprice double",
            )
        )
    )
    diff = snapshot_diff(old, new, ["o_orderkey"])
    ops = {r.op for r in diff.select("op").distinct().collect()}
    assert ops == {"I", "U", "D"}
    # unchanged rows are NOT in the feed
    assert diff.count() < old.count()

    rebuilt = apply_diff(old, diff, ["o_orderkey"])
    want = {tuple(r) for r in new.collect()}
    got = {tuple(r) for r in rebuilt.collect()}
    assert got == want, (len(got), len(want))


def test_merge_append_evolve_add_column_and_widen(spark, tmp_path):
    """Schema-evolving merge: a source that grows a column keeps loading;
    old rows read as NULL for the new column through read_evolved. A batch
    column NARROWER than the target is cast up losslessly; a batch column
    WIDER than the target is refused (appending wider footers makes the
    parquet table unreadable under mergeSchema — verified behavior)."""
    import pytest as _pytest

    from etl_expenses_spark.operators.merge import (
        merge_append_evolve,
        read_evolved,
    )

    g = str(tmp_path / "gold_evolve")
    b1 = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    assert merge_append_evolve(b1, g, keys=["k"]) == 2

    # batch 2: new column 'w' + re-delivered key 2 (dropped) + narrower v
    b2 = spark.createDataFrame([(2, 99, "x"), (3, 30, "y")], "k int, v int, w string")
    assert merge_append_evolve(b2, g, keys=["k"]) == 1
    rows = {r.k: (r.v, r.w) for r in read_evolved(spark, g).collect()}
    assert rows == {1: (10, None), 2: (20, None), 3: (30, "y")}
    out_types = dict(read_evolved(spark, g).dtypes)
    assert out_types["v"] == "bigint"  # narrower batch cast up, not forked

    # batch 3: missing column 'v' entirely -> typed NULL
    b3 = spark.createDataFrame([(4, "z")], "k long, w string")
    assert merge_append_evolve(b3, g, keys=["k"]) == 1
    assert {r.k: r.v for r in read_evolved(spark, g).collect()}[4] is None

    # idempotency is preserved through evolution
    assert merge_append_evolve(b2, g, keys=["k"]) == 0

    # a WIDER batch column must be refused, not appended (int table,
    # bigint batch: appending would leave unreadable mixed footers)
    g2 = str(tmp_path / "gold_narrow")
    merge_append_evolve(
        spark.createDataFrame([(1, 1)], "k long, v int"), g2, keys=["k"]
    )
    wide = spark.createDataFrame([(5, 50)], "k long, v long")
    with _pytest.raises(TypeError, match="WIDER"):
        merge_append_evolve(wide, g2, keys=["k"])
    # bigint -> double is lossy above 2^53: incompatible, not widenable
    lossy = spark.createDataFrame([(5, 50.0, "q")], "k long, v double, w string")
    with _pytest.raises(TypeError, match="incompatible"):
        merge_append_evolve(lossy, g, keys=["k"])
    bad = spark.createDataFrame([(6, "not-a-number")], "k long, v string")
    with _pytest.raises(TypeError, match="incompatible"):
        merge_append_evolve(bad, g, keys=["k"])
    # the table stayed readable throughout
    assert read_evolved(spark, g).count() == 4


def test_gold_read_loads_first_batch_only_for_missing_or_empty_target(spark, tmp_path):
    """A missing or empty gold dir is a first load (the full batch is
    appended); a gold dir whose read fails for any other reason raises
    and appends nothing, for both append paths."""
    import os

    import pytest as _pytest

    from etl_expenses_spark.operators.merge import merge_append_evolve

    batch = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    for load in (merge_append, merge_append_evolve):
        missing = tmp_path / f"{load.__name__}_missing"
        assert load(batch, str(missing), keys=["k"]) == 2
        assert spark.read.parquet(str(missing)).count() == 2

        empty = tmp_path / f"{load.__name__}_empty"
        empty.mkdir()
        assert load(batch, str(empty), keys=["k"]) == 2
        assert spark.read.parquet(str(empty)).count() == 2

        broken = tmp_path / f"{load.__name__}_broken"
        broken.mkdir()
        (broken / "notes.txt").write_text("not a parquet file")
        with _pytest.raises(Exception, match="not a Parquet file"):
            load(batch, str(broken), keys=["k"])
        assert os.listdir(broken) == ["notes.txt"]
