"""Streaming incremental view maintenance — the stream twin of
plans/ivm_ops.py (operators/ivm.py z-set fold), i.e. a continuously
maintained materialized aggregate: each CDC micro-batch folds its signed
deltas into the stored COUNT/SUM view, and the view is correct after every
commit without ever rescanning the base facts.

Unlike the MG sink (whose summary state must cross to the driver), the
fold here is FULLY distributed: maintain_grouped_totals is a DataFrame
union-aggregate, so the per-epoch cost is one map-side-combined shuffle of
O(|Δ| touched keys) rows regardless of batch size. The stored view is
rewritten per epoch — right for the bounded-group views this serves (the
state is the AGGREGATE, not the facts); a 100 TB-keyed view would swap the
rewrite for a partition-scoped MERGE keyed on the delta's touched keys,
with the identical fold algebra.

State: ``state-{epoch}.parquet`` holds the view. Commit protocol, replay
skip and reset-checkpoint fail-fast are the versioned-state ledger of
streaming/state.py; ``init_view_state`` commits the base view as epoch
−1, so the first micro-batch (epoch 0) folds on top of it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from etl_expenses_spark.streaming.state import (
    commit_state,
    ledger_sink,
    read_state,
    start_available_now,
)


def init_view_state(view: DataFrame, state_dir: str) -> None:
    """Seed the state with the base view (epoch −1): the stored aggregate
    the stream maintains from then on. Normalizes the money column to
    DECIMAL(38,2) so every later fold re-writes the identical schema."""
    from pyspark.sql import functions as F

    os.makedirs(state_dir, exist_ok=True)
    commit_state(
        state_dir,
        view.withColumn("total", F.col("total").cast("decimal(38,2)")),
        -1,
        0,
    )


def read_view(spark: SparkSession, state_dir: str) -> DataFrame:
    return read_state(spark, state_dir, "ivm_state_sink")[0]


def ivm_state_sink(
    cdc_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    key: str = "key",
    key_old: str = "key_old",
    amt_old: str = "amt_old",
    key_new: str = "key_new",
    amt_new: str = "amt_new",
):
    """Start an availableNow foreachBatch query folding the CDC stream's
    I/U/D rows into the stored view at state_dir (seeded by
    init_view_state). Returns the StreamingQuery."""
    from pyspark.sql import functions as F

    from etl_expenses_spark.operators.ivm import (
        maintain_grouped_totals,
        zset_from_cdc,
    )

    def fold(batch_df: DataFrame, prev: DataFrame | None):
        if prev is None:
            raise RuntimeError(f"ivm_state_sink: no committed state at {state_dir}")
        deltas = zset_from_cdc(batch_df, key_old, amt_old, key_new, amt_new)
        new_view = maintain_grouped_totals(prev, deltas, key=key).withColumn(
            "total", F.col("total").cast("decimal(38,2)")
        )
        return new_view, 0

    return start_available_now(
        cdc_stream, ledger_sink(state_dir, "ivm_state_sink", fold), checkpoint_dir
    )
