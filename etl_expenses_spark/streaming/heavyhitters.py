"""Streaming Misra-Gries heavy-hitter state — the stream twin of
plans/advanced.py:heavy_hitters_two_pass.

Each micro-batch folds its keys into a bounded MG summary (capacity keys +
a running total), exactly the mergeable-summaries formulation the batch
query uses per partition: merge weights, then subtract the (cap+1)-th
largest weight from everyone and drop the non-positive. The state is
therefore a guaranteed SUPERSET of every key whose share of ALL events
streamed so far exceeds 1/(cap+1) — a recount pass over the candidates
gives the exact heavy-hitter set without ever shuffling the key space,
batch after batch.

Scale shape: the batch never crosses to the driver as raw distinct-key
counts — each partition folds its own MG summary inside one Arrow-batched
mapInPandas (the batch twin's kernel, shared via
``mg_partition_summaries``), so at most cap × num_partitions (key, weight)
rows reach the driver regardless of the batch's key cardinality. Merging
per-partition summaries then cutting to cap is the mergeable-summaries
merge, so the superset guarantee survives the two-level fold.

State: ``state-{epoch}.parquet`` holds ≤ cap (key bigint, weight bigint)
rows and the ledger's ``total`` counts every streamed row. Commit
protocol, replay skip and reset-checkpoint fail-fast are the versioned-
state ledger of streaming/state.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from etl_expenses_spark.streaming.state import (
    ledger_sink,
    read_state,
    start_available_now,
)


def _mg_fold(counters: dict[int, int], key: int, c: int, cap: int
             ) -> dict[int, int]:
    counters[key] = counters.get(key, 0) + c
    if len(counters) > cap:
        cut = sorted(counters.values(), reverse=True)[cap]
        counters = {k: v - cut for k, v in counters.items() if v > cut}
    return counters


def _merge_counts(state: dict[int, int], counts: dict[int, int], cap: int
                  ) -> dict[int, int]:
    """Mergeable-summaries merge: sum weights, then one generalized
    decrement to get back under cap."""
    for k, c in counts.items():
        state[k] = state.get(k, 0) + c
    if len(state) > cap:
        cut = sorted(state.values(), reverse=True)[cap]
        state = {k: v - cut for k, v in state.items() if v > cut}
    return state


def mg_partition_summaries(df: DataFrame, key_col: str, cap: int) -> DataFrame:
    """Per-partition Misra-Gries summaries as (key, weight) rows plus one
    (NULL, n_rows) row per partition carrying the partition's exact row
    count — ≤ (cap + 1) × num_partitions rows total. The same vectorized
    kernel as the batch twin (plans/advanced.py heavy_hitters_two_pass),
    which emits keys only; here weights ride along so summaries merge."""
    import pandas as pd

    def fold(batches):
        counters: dict[int, int] = {}
        n = 0
        for b in batches:
            n += len(b)
            for k, c in b[key_col].value_counts().items():
                counters = _mg_fold(counters, int(k), int(c), cap)
        keys = list(counters.keys()) + [None]
        weights = list(counters.values()) + [n]
        yield pd.DataFrame({"key": pd.array(keys, dtype="Int64"),
                            "weight": weights})

    return df.select(df[key_col].alias(key_col)).mapInPandas(
        fold, schema="key bigint, weight bigint"
    )


def mg_state_sink(events: DataFrame, state_dir: str, checkpoint_dir: str,
                  cap: int = 512, key_col: str = "user_id"):
    """Start an availableNow foreachBatch query folding `key_col` into the
    MG state at state_dir. Returns the StreamingQuery."""

    def fold(batch_df: DataFrame, prev: DataFrame | None):
        # distributed pre-aggregation: ≤ (cap+1)·partitions rows cross to
        # the driver, never the batch's raw key space
        rows = mg_partition_summaries(batch_df, key_col, cap).collect()
        counts: dict[int, int] = {}
        batch_n = 0
        for r in rows:
            if r["key"] is None:
                batch_n += r["weight"]
            else:
                counts[r["key"]] = counts.get(r["key"], 0) + r["weight"]
        counts = _merge_counts({}, counts, cap)
        state: dict[int, int] = {}
        if prev is not None:
            state = {r["key"]: r["weight"] for r in prev.collect()}
        state = _merge_counts(state, counts, cap)
        new_state = (
            batch_df.sparkSession.createDataFrame(
                list(state.items()) or [(None, None)], "key bigint, weight bigint"
            )
            .filter("key IS NOT NULL")
            .coalesce(1)
        )
        return new_state, batch_n

    return start_available_now(
        events, ledger_sink(state_dir, "mg_state_sink", fold), checkpoint_dir
    )


def heavy_hitters_from_state(spark, state_dir: str, events: DataFrame,
                             key_col: str = "user_id",
                             denom: int = 256) -> DataFrame:
    """Recount pass: exact counts of the state's candidate keys over
    `events`, gated at share > 1/denom of the STREAMED total — identical
    output to the batch two-pass query when the state has seen the same
    rows. Requires denom < cap+1 (else the superset guarantee is void)."""
    from pyspark.sql import functions as F

    state, meta = read_state(spark, state_dir, "heavy_hitters_from_state")
    total = meta["total"]
    cands = state.select(F.col("key").alias(key_col))
    return (
        events.join(F.broadcast(cands), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") * denom > F.lit(total))
        .select(
            key_col,
            "n",
            (F.col("n").cast("double") / F.lit(float(total))).alias("share"),
        )
    )
