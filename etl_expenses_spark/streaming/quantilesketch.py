"""Streaming bottom-k quantile-sketch state — the stream twin of
plans/sketch_ops.py:quantile_sketch_weekly_rollup.

The bottom-k hash-rank sample is EXACTLY mergeable (bottom-k of a union is
the bottom-k of the per-part bottom-k's), so folding each micro-batch's
k-row sample into a k-row persistent state yields, after ANY
micro-batching of the input, byte-identical state to the one-shot batch
sketch over the same rows. That is a stronger contract than the streaming
Misra-Gries sink's (whose summary content depends on batching and needs a
recount pass): here the state itself is the canonical sketch, so the
driver query gets a REAL declarative oracle, not a golden.

State: ``state-{epoch}.parquet`` holds the k (rk string, v bigint) rows
of the sketch and the ledger's ``total`` counts every streamed row. Commit
protocol, replay skip and reset-checkpoint fail-fast are the versioned-
state ledger of streaming/state.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_expenses_spark.streaming.state import (
    ledger_sink,
    read_state,
    start_available_now,
)


def bottomk_state_sink(
    rows: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    k: int = 64,
    rank_col: str = "rk",
    value_col: str = "v",
):
    """Start an availableNow foreachBatch query folding (rank_col,
    value_col) rows into the k-row bottom-k sketch state at ``state_dir``.
    Returns the StreamingQuery. Per batch: one distributed TakeOrdered
    (the batch's own bottom-k) unioned with the ≤ k state rows and cut to
    k — O(k) state forever, the batch's row count never reaches the
    driver as anything but a metadata total."""
    missing = [c for c in (rank_col, value_col) if c not in rows.columns]
    if missing:
        raise ValueError(
            f"bottomk_state_sink: stream is missing {missing} "
            f"(got {rows.columns})"
        )

    def fold(batch_df: DataFrame, prev: DataFrame | None):
        # ties ordered by (rk, v) — the same total order as the batch
        # sketch's array_sort over (rk, cents) structs, so which tied row
        # survives the k-cut is deterministic and the byte-identical-state
        # contract holds even for streams with colliding rank keys
        batch_k = batch_df.select(
            F.col(rank_col).alias("rk"), F.col(value_col).alias("v")
        ).orderBy("rk", "v").limit(k)
        if prev is not None:
            batch_k = batch_k.unionByName(prev)
        return batch_k.orderBy("rk", "v").limit(k).coalesce(1), batch_df.count()

    return start_available_now(
        rows, ledger_sink(state_dir, "bottomk_state_sink", fold), checkpoint_dir
    )


def quantiles_from_state(spark, state_dir: str, ps=(0.5, 0.9)) -> DataFrame:
    """One-row DataFrame (n_in_sketch, q_<p> ...) from the committed
    state: nearest-rank elements at index 1 + floor(p·(n−1)) of the
    value-sorted k-sample — the same estimator as the batch sketch."""
    st, _ = read_state(spark, state_dir, "quantiles_from_state")
    agg = st.agg(F.array_sort(F.collect_list("v")).alias("vals"))
    n = F.size("vals")
    cols = [n.cast("bigint").alias("n_in_sketch")]
    for p in ps:
        idx = (F.lit(1) + F.floor(F.lit(p) * (n - 1))).cast("int")
        cols.append(
            F.element_at("vals", idx).cast("bigint").alias(
                f"q{int(p * 100)}"
            )
        )
    return agg.select(*cols)
