"""HLL sketch estimates stay within sane error of exact distinct counts."""

from __future__ import annotations

from etl_expenses_spark.plans import REGISTRY

SF_DIR = "/root/testdata/sf0.01"


def test_hll_estimates_close_to_exact(spark):
    # since r11 the query CARRIES its own error-bound verdict (the oracle
    # predicts TRUE) — the test asserts every verdict holds and the union
    # row's exact count can only grow past any per-type count
    rows = REGISTRY["sketch_hll_distinct_users"].build(spark, SF_DIR).collect()
    assert len(rows) == 6  # 5 event types + merged ALL
    for r in rows:
        assert r.est_within_5pct, f"{r.event_type}: exact={r.exact_users}"
    all_row = [r for r in rows if r.event_type == "ALL"][0]
    per_max = max(r.exact_users for r in rows if r.event_type != "ALL")
    assert all_row.exact_users >= per_max  # union can only grow


def test_theta_retention_partition_invariant_and_exact(spark):
    """Guards theta_retention_daily's oracle assumption: theta estimates
    are deterministic and PARTITION-invariant (fixed seed, exact mode at
    this cardinality), so the sketch rows equal the exact SQL counts on
    any layout. If a Spark upgrade ever changed sketch seeding or
    exact-mode thresholds, this is the test that catches it before the
    driver does."""
    from pyspark.sql import functions as F

    from etl_expenses_spark.sources.readers import load_table

    base = REGISTRY["theta_retention_daily"].build(spark, SF_DIR)
    rows = {tuple(r) for r in base.collect()}
    assert rows

    # same computation over a hostile repartitioning of the source
    ev = load_table(spark, SF_DIR, "events").repartition(13)
    du = ev.select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"), "user_id"
    )
    sk = du.groupBy("day").agg(F.theta_sketch_agg("user_id").alias("sk"))
    prev = sk.select(F.col("day").alias("prev_day"), F.col("sk").alias("sk_prev"))
    cur = sk.select("day", F.col("sk").alias("sk_cur"))
    j = cur.join(prev, cur.day == F.date_add(prev.prev_day, 1))
    inter = F.theta_sketch_estimate(
        F.theta_intersection("sk_prev", "sk_cur")
    ).cast("bigint")
    alt = {
        tuple(r)
        for r in j.select(
            "day",
            "prev_day",
            F.theta_sketch_estimate("sk_prev").cast("bigint").alias("n_prev"),
            F.theta_sketch_estimate("sk_cur").cast("bigint").alias("n_cur"),
            inter.alias("n_retained"),
            (F.theta_sketch_estimate("sk_cur").cast("bigint") - inter).alias("n_new"),
            (F.theta_sketch_estimate("sk_prev").cast("bigint") - inter).alias(
                "n_churned"
            ),
        ).collect()
    }
    assert alt == rows

    # exactness: estimates equal true distinct counts at this cardinality
    truth = {
        (r.day, r.n)
        for r in du.distinct().groupBy("day").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got_days = {(day, n_cur) for day, _, _, n_cur, *_ in rows}
    assert got_days <= truth


def test_hll_sliding_window_union_error_bound(spark):
    """Sliding 7-day distinct from merged daily sketches: every window's
    estimate within the lgK=12 error envelope of the exact count, and the
    window that unions ≤7 KB-sized sketches must agree with the raw
    rolling computation's day set."""
    from etl_expenses_spark.plans import REGISTRY

    rows = REGISTRY["hll_sliding_7d_users"].build(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "no windows"
    for r in rows:  # r11: the per-window bound verdict rides the output
        assert r.est_within_5pct, (r.day, r.exact_7d_users)


# ---- bottom-k quantile sketch (quantile_sketch_weekly_rollup) ----------

def _bottomk(rows, k):
    """(rank, value) bottom-k reference."""
    return sorted(rows)[:k]


def test_quantile_sketch_merge_associative_and_partition_invariant(spark):
    """bottom-k(union of per-part bottom-k's) == bottom-k(all rows), for
    any partitioning — the closure that makes the sketch a sketch."""
    import hashlib
    import random

    from pyspark.sql import functions as F

    rng = random.Random(7)
    rows = [(i, rng.randrange(10_000)) for i in range(1, 1001)]
    ranked = [
        (hashlib.md5(str(i).encode()).hexdigest()[:16], v) for i, v in rows
    ]
    k = 64
    want = _bottomk(ranked, k)

    df = spark.createDataFrame(rows, "id long, v long").select(
        F.substring(F.md5(F.col("id").cast("string")), 1, 16).alias("rk"), "v"
    )
    for parts in (1, 7, 32):
        got = (
            df.repartition(parts)
            .groupBy(F.spark_partition_id().alias("p"))
            .agg(
                F.slice(
                    F.array_sort(F.collect_list(F.struct("rk", "v"))), 1, k
                ).alias("sk")
            )
            .agg(
                F.slice(
                    F.array_sort(F.flatten(F.collect_list("sk"))), 1, k
                ).alias("sk")
            )
            .collect()[0]["sk"]
        )
        assert [(r["rk"], r["v"]) for r in got] == want


def test_quantile_sketch_rank_error_bound(spark):
    """The bottom-k hash sample is a uniform sample: its nearest-rank
    median must land within a few n/sqrt(k) ranks of the true median."""
    import hashlib

    n, k = 20_000, 256
    vals = list(range(n))  # value == true rank, so rank error is direct
    ranked = sorted(
        (hashlib.md5(str(i).encode()).hexdigest()[:16], v)
        for i, v in enumerate(vals)
    )[:k]
    sample = sorted(v for _, v in ranked)
    est = sample[(len(sample) - 1) // 2]
    true = (n - 1) // 2
    assert abs(est - true) < 5 * n / (k ** 0.5), (est, true)


def test_bottomk_stream_state_equals_batch_sketch(spark, tmp_path):
    """ANY micro-batching folds to the identical k-row state as the
    one-shot batch bottom-k (exact mergeability), and a restart on the
    same checkpoint re-commits nothing."""
    import os

    from pyspark.sql import functions as F

    from etl_expenses_spark.streaming.quantilesketch import (
        bottomk_state_sink,
        quantiles_from_state,
    )
    from etl_expenses_spark.streaming.state import read_meta as _read_meta

    rows = spark.range(1, 1501).select(
        F.substring(F.md5(F.col("id").cast("string")), 1, 16).alias("rk"),
        (F.col("id") * 7 % 1000).cast("long").alias("v"),
    )
    bronze = str(tmp_path / "bronze")
    rows.repartition(5).write.parquet(bronze)  # 5 files -> 5 micro-batches
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema("rk string, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(bronze)
    )
    bottomk_state_sink(stream, state, ckpt, k=32).awaitTermination()

    meta = _read_meta(state)
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(os.path.join(state, meta["state"])).collect()
    )
    want = sorted(
        tuple(r) for r in rows.orderBy("rk").limit(32).collect()
    )
    assert got == want
    assert meta["total"] == 1500

    # restart on the SAME checkpoint: availableNow finds nothing new;
    # state and meta must be unchanged (exactly-once across restarts)
    stream2 = (
        spark.readStream.schema("rk string, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(bronze)
    )
    bottomk_state_sink(stream2, state, ckpt, k=32).awaitTermination()
    meta2 = _read_meta(state)
    assert meta2 == meta
    q = quantiles_from_state(spark, state, ps=(0.5,)).collect()[0]
    assert q["n_in_sketch"] == 32


def test_bottomk_stream_reset_checkpoint_fails_fast(spark, tmp_path):
    """A FRESH checkpoint against committed state restarts epoch ids at 0
    below last_epoch — the sink must refuse rather than silently drop."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from etl_expenses_spark.streaming.quantilesketch import bottomk_state_sink

    rows = spark.range(1, 101).select(
        F.substring(F.md5(F.col("id").cast("string")), 1, 16).alias("rk"),
        F.col("id").cast("long").alias("v"),
    )
    bronze = str(tmp_path / "bronze")
    rows.repartition(3).write.parquet(bronze)
    state = str(tmp_path / "state")

    def run(ckpt):
        stream = (
            spark.readStream.schema("rk string, v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(bronze)
        )
        bottomk_state_sink(stream, state, ckpt, k=16).awaitTermination()

    run(str(tmp_path / "ckpt1"))
    with pytest.raises(StreamingQueryException) as ei:
        run(str(tmp_path / "ckpt2"))  # reset checkpoint: epochs restart at 0
    assert "checkpoint was lost or reset" in str(ei.value)
