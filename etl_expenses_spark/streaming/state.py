"""Streaming state store: the two commit regimes every foreachBatch state
sink in this package shares, plus the one way a query is started.

``foreachBatch`` is at-least-once: after a failure Spark re-delivers the
last in-flight micro-batch under the same epoch id (Armbrust et al.,
*Structured Streaming*, SIGMOD 2018). Both regimes key every write on that
id, so a re-delivery lands on its own earlier write instead of adding to
it.

1. Versioned-state ledger (``ledger_sink``) — for sinks that FOLD each
   batch into one small state (streaming/heavyhitters.py,
   quantilesketch.py, ivm_sink.py). Layout of ``state_dir``::

       state-{epoch}.parquet/   the committed state
       _meta.json               {"total": N, "last_epoch": E,
                                 "state": "state-{epoch}.parquet"}

   Commit order: write the new state to its EPOCH-VERSIONED path, then
   replace ``_meta.json`` with ``atomic_write`` (operators/wap.py), then
   garbage-collect stale states and ``._meta*`` temps a crash leaked. A
   crash between any two steps leaves the meta pointing at a complete
   prior state, so replaying the interrupted epoch re-folds from it and
   re-commits — never a lost state, never a double fold. A replayed
   ``epoch == last_epoch`` is not folded again (its commit completed);
   ``drain`` still runs it, for a stateful upstream's sake. An epoch
   BELOW ``last_epoch`` can only mean the stream restarted against a lost
   or reset checkpoint (batch ids restart at 0); skipping it would drop
   every new batch with no error, so the sink fails fast instead.
   Recovery is restoring the checkpoint or starting a fresh state_dir.

2. Epoch log (``epoch_log_sink``) — for sinks whose state is the union of
   per-batch partial states (streaming/pipeline.py). Each non-empty batch
   overwrites its own ``epoch={id}`` directory; readers merge all epochs
   at read time. ``compact_set_union`` folds the epochs of a set-semantics
   log into one; additive logs (CMS) publish their fold through a manifest
   swap instead (pipeline.py ``cms_compact``).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from etl_expenses_spark.operators.wap import atomic_write, read_json


def start_available_now(stream: DataFrame, sink, checkpoint_dir: str
                        ) -> StreamingQuery:
    """Start ``stream`` into the foreachBatch ``sink`` with an availableNow
    trigger — process everything present, then stop (the cron analog)."""
    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def drain(batch_df: DataFrame) -> None:
    """Run a replayed batch to the noop sink, writing nothing. A sink may
    not just return on a replay: Spark checks that a stateful upstream
    (dropDuplicates, windows) committed its state stores for every batch
    and fails the query otherwise."""
    batch_df.write.format("noop").mode("overwrite").save()


# ---- 1. versioned-state ledger -------------------------------------------

def read_meta(state_dir: str) -> dict:
    """The committed ledger; an empty one before the first commit."""
    return read_json(os.path.join(state_dir, "_meta.json"),
                     {"total": 0, "last_epoch": -1, "state": None})


def _state_df(spark: SparkSession, state_dir: str, meta: dict
              ) -> DataFrame | None:
    if meta["state"] is None:
        return None
    return spark.read.parquet(os.path.join(state_dir, meta["state"]))


def read_state(spark: SparkSession, state_dir: str, who: str
               ) -> tuple[DataFrame, dict]:
    """The committed state and its ledger; raises naming ``who`` when
    nothing was committed yet."""
    meta = read_meta(state_dir)
    state = _state_df(spark, state_dir, meta)
    if state is None:
        raise RuntimeError(f"{who}: no committed state at {state_dir}")
    return state, meta


def commit_state(state_dir: str, state: DataFrame, epoch_id: int,
                 total: int) -> None:
    """Write ``state`` as epoch ``epoch_id``'s version, swap the ledger to
    it, then reap stale versions and leaked temp metas."""
    name = f"state-{int(epoch_id)}.parquet"
    state.write.mode("overwrite").parquet(os.path.join(state_dir, name))
    atomic_write(os.path.join(state_dir, "_meta.json"), json.dumps(
        {"total": total, "last_epoch": int(epoch_id), "state": name}))
    for entry in os.listdir(state_dir):
        path = os.path.join(state_dir, entry)
        if entry != name and entry.startswith("state-"):
            shutil.rmtree(path, ignore_errors=True)
        elif entry.startswith("._meta"):
            # a crash inside atomic_write leaks the temp; it is dead once
            # any later commit lands
            try:
                os.unlink(path)
            except OSError:
                pass


def ledger_sink(
    state_dir: str,
    who: str,
    fold: Callable[[DataFrame, DataFrame | None], tuple[DataFrame, int]],
):
    """foreachBatch function folding each batch into the state at
    ``state_dir``. ``fold(batch_df, prev)`` gets the committed state (None
    before the first commit) and returns the new state and the batch's
    contribution to the ledger's ``total``."""
    os.makedirs(state_dir, exist_ok=True)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        meta = read_meta(state_dir)
        if epoch_id == meta["last_epoch"]:
            drain(batch_df)  # replay of the one batch whose commit completed
            return
        if epoch_id < meta["last_epoch"]:
            raise RuntimeError(
                f"{who}: epoch {int(epoch_id)} < committed last_epoch "
                f"{meta['last_epoch']} at {state_dir} — the stream's "
                "checkpoint was lost or reset (batch ids restarted), and "
                "silently skipping would drop new data with no error. "
                "Restore the checkpoint or start a fresh state_dir."
            )
        prev = _state_df(batch_df.sparkSession, state_dir, meta)
        state, n = fold(batch_df, prev)
        commit_state(state_dir, state, epoch_id, meta["total"] + n)

    return sink


# ---- 2. epoch log --------------------------------------------------------

def epoch_log_sink(path: str, build: Callable[[DataFrame], DataFrame]):
    """foreachBatch function writing ``build(batch_df)`` to
    ``path/epoch={id}`` with mode("overwrite"): a re-delivered epoch
    replaces its own partial state. Empty batches write nothing."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        build(batch_df).write.mode("overwrite").parquet(f"{path}/epoch={epoch_id}")

    return sink


def epoch_dirs(path: str) -> dict[int, str]:
    """Epoch id -> directory, for every ``epoch=N`` dir under ``path``."""
    return {
        int(d.rsplit("epoch=", 1)[1]): d for d in glob.glob(f"{path}/epoch=*")
    }


def compaction_target(epoch_ids) -> int:
    """A fresh NEGATIVE epoch id for a compacted fold: checkpoint batch ids
    are a monotone counter >= 0, so a resumed stream can never claim (and
    overwrite) it, where max+1 would collide with the very next batch.
    Strictly below every existing id, the target never pre-exists, so the
    fold never overwrites one of its own inputs mid-scan. Each successive
    compaction steps one lower (-1, -2, ...)."""
    return min(list(epoch_ids) + [0]) - 1


def compact_set_union(spark: SparkSession, path: str,
                      fold: Callable[[DataFrame], DataFrame]) -> int:
    """Fold all epochs of a set-semantics log into one: write
    ``fold(all epochs)`` to a fresh target id, then delete the old dirs.
    Returns the number of epochs folded (0 when there is at most one).

    No atomic multi-directory swap is needed: the merge is idempotent under
    duplication, so a crash between the write and the deletes leaves old
    and compacted epochs coexisting, which merge-on-read absorbs, and a
    re-run converges. Additive state would double-count in that window and
    needs a manifest swap instead."""
    dirs = epoch_dirs(path)
    if len(dirs) <= 1:
        return 0
    target = compaction_target(dirs)
    fold(spark.read.parquet(path)).write.mode("overwrite").parquet(
        f"{path}/epoch={target}"
    )
    for d in dirs.values():
        shutil.rmtree(d)
    return len(dirs)
