"""Torn-commit chaos tests for the three epoch-ledgered state sinks
(VERDICT r9 #6): kill the query BETWEEN the state write and the ledger
(meta) swap, restart on the same checkpoint, and assert the fold recovers
exactly-once — the crash window the commit protocol exists for, previously
pinned only for the orphan-state and reset-checkpoint cases.

Mechanism: the sinks' ledger swap is the driver-side ``os.replace(tmp,
state_dir/_meta.json)``; foreachBatch runs on a driver thread of this
process, so a fail-point wrapper around os.replace tears the commit at an
exact epoch. After the tear:

- the ledger still points at the PREVIOUS epoch's state (crash-safe read);
- the torn epoch's state file is an orphan and a ``._meta*`` temp file is
  leaked (the mkstemp succeeded);
- restarting on the SAME checkpoint replays the torn epoch (its offsets
  were never committed), the fold re-derives it from the prior ledger
  state, and the final state/total equals the never-crashed run;
- the recovery commit's GC sweeps the leaked ``._meta*`` temp (ADVICE r9).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F


class _TearReplace:
    """Fail-point: raise OSError on the Nth os.replace whose destination is
    ``<state_dir>/_meta.json``; pass everything else through."""

    def __init__(self, state_dir: str, fail_on_nth: int):
        self.state_dir = os.path.abspath(state_dir)
        self.countdown = fail_on_nth
        self.real = os.replace
        self.tore = False

    def __enter__(self):
        def patched(src, dst, *a, **kw):
            if (
                os.path.abspath(str(dst))
                == os.path.join(self.state_dir, "_meta.json")
            ):
                self.countdown -= 1
                if self.countdown == 0:
                    self.tore = True
                    raise OSError("torn commit (injected): crash before ledger swap")
            return self.real(src, dst, *a, **kw)

        os.replace = patched
        return self

    def __exit__(self, *exc):
        os.replace = self.real
        return False


def _meta(state_dir):
    with open(os.path.join(state_dir, "_meta.json")) as f:
        return json.load(f)


def _leaked_tmp_metas(state_dir):
    return [n for n in os.listdir(state_dir) if n.startswith("._meta")]


def test_bottomk_sink_recovers_from_torn_commit(spark, tmp_path):
    from etl_expenses_spark.streaming.quantilesketch import bottomk_state_sink

    rows = spark.range(1, 601).select(
        F.substring(F.md5(F.col("id").cast("string")), 1, 16).alias("rk"),
        (F.col("id") * 13 % 500).cast("long").alias("v"),
    )
    bronze, state, ckpt = (str(tmp_path / d) for d in ("bronze", "state", "ckpt"))
    rows.repartition(3).write.parquet(bronze)

    def run():
        stream = (
            spark.readStream.schema("rk string, v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(bronze)
        )
        bottomk_state_sink(stream, state, ckpt, k=32).awaitTermination()

    # tear the SECOND epoch's ledger swap (epoch 0 commits cleanly)
    with _TearReplace(state, fail_on_nth=2) as tear:
        with pytest.raises(Exception, match="torn commit"):
            run()
    assert tear.tore
    meta_after_tear = _meta(state)
    assert meta_after_tear["last_epoch"] == 0  # ledger still at epoch 0
    # the torn epoch left its state orphan and the temp meta leaked
    assert os.path.isdir(os.path.join(state, "state-1.parquet"))
    assert _leaked_tmp_metas(state)

    # same-checkpoint restart: the torn epoch replays, then the rest
    run()
    meta = _meta(state)
    assert meta["total"] == 600  # each batch folded exactly once
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(os.path.join(state, meta["state"])).collect()
    )
    want = sorted(tuple(r) for r in rows.orderBy("rk", "v").limit(32).collect())
    assert got == want  # byte-identical to the one-shot batch sketch
    assert not _leaked_tmp_metas(state)  # recovery commit swept the leak


def test_mg_sink_recovers_from_torn_commit(spark, tmp_path):
    from etl_expenses_spark.streaming.heavyhitters import mg_state_sink

    ev = (
        spark.range(0, 3000)
        .select(
            (F.col("id") % 97).alias("user_id"),
            F.col("id").alias("event_id"),
        )
    )
    bronze, state, ckpt = (str(tmp_path / d) for d in ("bronze", "state", "ckpt"))
    ev.repartition(3).write.parquet(bronze)

    def run():
        stream = (
            spark.readStream.schema("user_id long, event_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(bronze)
        )
        mg_state_sink(stream, state, ckpt, cap=512).awaitTermination()

    with _TearReplace(state, fail_on_nth=2) as tear:
        with pytest.raises(Exception, match="torn commit"):
            run()
    assert tear.tore
    assert _meta(state)["last_epoch"] == 0
    assert _leaked_tmp_metas(state)

    run()
    meta = _meta(state)
    assert meta["last_epoch"] == 2
    assert meta["total"] == 3000  # no batch lost, none double-counted
    assert not _leaked_tmp_metas(state)
    # cap=512 > 97 distinct keys: MG state holds exact counts; spot-check
    st = spark.read.parquet(os.path.join(state, meta["state"]))
    counts = {r["key"]: r["weight"] for r in st.collect()}
    assert sum(counts.values()) == 3000


def test_mg_sink_replay_after_commit_with_stateful_upstream(
    spark, tmp_path, monkeypatch
):
    """A crash after the ledger commit but before the checkpoint commits the
    epoch: the restart re-delivers it and the sink skips the fold. Under a
    stateful upstream (watermark + dropDuplicates) the skipped batch must
    still run, or Spark's state-store commit check fails every restart."""
    from etl_expenses_spark.streaming import state as state_mod
    from etl_expenses_spark.streaming.heavyhitters import mg_state_sink

    ev = spark.range(0, 2000).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 37).alias("user_id"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
    )
    bronze, state, ckpt = (str(tmp_path / d) for d in ("bronze", "state", "ckpt"))
    ev.repartition(2).write.parquet(bronze)

    def run():
        stream = (
            spark.readStream.schema("event_id long, user_id long, ts timestamp")
            .parquet(bronze)
            .withWatermark("ts", "1 hour")
            .dropDuplicates(["event_id"])
        )
        mg_state_sink(stream, state, ckpt).awaitTermination()

    real = state_mod.commit_state

    def crash_after_commit(*args):
        real(*args)
        monkeypatch.setattr(state_mod, "commit_state", real)
        raise RuntimeError("injected crash after ledger commit")

    monkeypatch.setattr(state_mod, "commit_state", crash_after_commit)
    with pytest.raises(Exception, match="injected crash after ledger commit"):
        run()
    assert _meta(state)["last_epoch"] == 0

    run()
    meta = _meta(state)
    assert meta["total"] == 2000  # epoch 0 folded once, not twice


def test_ivm_sink_recovers_from_torn_commit(spark, tmp_path):
    from decimal import Decimal

    from etl_expenses_spark.streaming.ivm_sink import (
        init_view_state,
        ivm_state_sink,
        read_view,
    )

    cdc_schema = (
        "op string, key_old int, amt_old decimal(18,2), "
        "key_new int, amt_new decimal(18,2)"
    )
    cdc_rows = [
        ("I", None, None, 1, Decimal("7.00")),
        ("I", None, None, 2, Decimal("3.00")),
        ("U", 1, Decimal("10.00"), 1, Decimal("4.50")),
        ("I", None, None, 3, Decimal("9.00")),
        ("D", 2, Decimal("5.00"), None, None),
        ("I", None, None, 2, Decimal("2.00")),
    ]
    feed, state, ckpt = (str(tmp_path / d) for d in ("cdc", "state", "ckpt"))
    spark.createDataFrame(cdc_rows, cdc_schema).repartition(3).write.parquet(feed)
    base = spark.createDataFrame(
        [(k, 2, Decimal("10.00")) for k in (1, 2)], "key int, n bigint, total decimal(18,2)"
    )
    init_view_state(base, state)

    def run():
        stream = (
            spark.readStream.schema(cdc_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        ivm_state_sink(stream, state, ckpt).awaitTermination()

    # init_view_state consumed one ledger swap already; tear the second
    # MICRO-BATCH commit (ledger swaps seen by the fail-point: epoch 0,
    # epoch 1 -> fail on the 2nd)
    with _TearReplace(state, fail_on_nth=2) as tear:
        with pytest.raises(Exception, match="torn commit"):
            run()
    assert tear.tore
    assert _meta(state)["last_epoch"] == 0
    assert _leaked_tmp_metas(state)

    run()
    meta = _meta(state)
    assert meta["last_epoch"] == 2
    assert not _leaked_tmp_metas(state)
    got = {r["key"]: (r["n"], r["total"]) for r in read_view(spark, state).collect()}
    # the never-crashed answer, derived by hand from base + CDC:
    # base(1)=2 rows/10.00:  I(1,7.00) -> 3/17.00 ; U(1,10.00->4.50) -> 3/11.50
    # base(2)=2 rows/10.00:  I(2,3.00) -> 3/13.00 ; D(2,5.00) -> 2/8.00 ;
    #                        I(2,2.00) -> 3/10.00
    # key 3:                 I(3,9.00) -> 1/9.00
    want = {
        1: (3, Decimal("11.50")),
        2: (3, Decimal("10.00")),
        3: (1, Decimal("9.00")),
    }
    assert got == want, f"got {got}"


def _tree(root) -> dict[str, bytes]:
    """Every file under ``root`` by relative path, with its bytes."""
    out = {}
    for d, _, files in os.walk(root):
        for name in files:
            path = os.path.join(d, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = f.read()
    return out


def test_ticket_load_recovers_from_torn_listing_record(spark, tmp_path, monkeypatch):
    """Crash AFTER the publish, before the listing record's swap: the rows
    are in gold but the record does not name their file. The re-run parses
    the file again, the key anti-join appends 0 rows, and the record is
    then written, so the run after that is a listing."""
    from etl_expenses_spark.pipelines import run_ticket_pipeline
    from tests.test_parsers import TICKET_TEXT

    bronze, gold = tmp_path / "bronze", tmp_path / "gold"
    bronze.mkdir()
    (bronze / "t1.pdf").write_bytes(b"%PDF" + TICKET_TEXT.encode())
    record = os.path.join(str(gold), "_loaded.json")
    real = os.replace

    def torn(src, dst, *a, **kw):
        if os.path.abspath(str(dst)) == record:
            raise OSError("torn commit (injected): crash before record swap")
        return real(src, dst, *a, **kw)

    monkeypatch.setattr(os, "replace", torn)
    with pytest.raises(OSError, match="before record swap"):
        run_ticket_pipeline(spark, str(bronze), str(gold))
    monkeypatch.setattr(os, "replace", real)
    assert not os.path.exists(record)
    assert spark.read.parquet(str(gold)).count() == 3

    assert run_ticket_pipeline(spark, str(bronze), str(gold)) == 0
    assert spark.read.parquet(str(gold)).count() == 3
    with open(record) as f:
        assert list(json.load(f)) == [str(bronze / "t1.pdf")]
    assert run_ticket_pipeline(spark, str(bronze), str(gold)) == 0


def test_failed_staged_write_leaves_gold_untouched(spark, tmp_path):
    """A write that fails inside its Spark job publishes nothing: gold is
    byte-identical to before, this call's stage is gone, and another
    writer's stage under ``_staging`` is left as it was."""
    from etl_expenses_spark.operators.merge import merge_append

    gold = str(tmp_path / "gold")
    first = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    assert merge_append(first, gold, keys=["k"]) == 2
    before = _tree(gold)
    failing = spark.createDataFrame([(3, "c"), (4, "d")], "k long, v string").withColumn(
        "v", F.when(F.col("k") == 4, F.raise_error(F.lit("boom"))).otherwise(F.col("v"))
    )
    with pytest.raises(Exception, match="boom"):
        merge_append(failing, gold, keys=["k"])
    assert _tree(gold) == before
    assert not os.path.exists(os.path.join(gold, "_staging"))

    other = os.path.join(gold, "_staging", "other-writer")
    os.makedirs(other)
    with open(os.path.join(other, "part-0.parquet"), "wb") as f:
        f.write(b"in flight")
    before = _tree(gold)
    with pytest.raises(Exception, match="boom"):
        merge_append(failing, gold, keys=["k"])
    assert _tree(gold) == before
    assert os.listdir(os.path.join(gold, "_staging")) == ["other-writer"]
    assert spark.read.parquet(gold).count() == 2
