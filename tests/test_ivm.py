"""Incremental view maintenance (operators/ivm.py): the z-set fold must
equal recompute for any CDC sequence, compose across batches, move
key-changing updates between groups, and eliminate count-0 tombstones."""

from __future__ import annotations

import random
from decimal import Decimal

from pyspark.sql import functions as F

from etl_expenses_spark.operators.ivm import maintain_grouped_totals, zset_from_cdc

_CDC_SCHEMA = (
    "op string, key_old long, amt_old decimal(18,2), "
    "key_new long, amt_new decimal(18,2)"
)


def _view_df(spark, rows):
    return spark.createDataFrame(rows, "key long, n long, total decimal(28,2)")


def _apply_python(state: dict, cdc_rows):
    """Literal reference semantics: state maps key -> [n, total]."""
    for op, ko, ao, kn, an in cdc_rows:
        if op in ("D", "U"):
            state[ko][0] -= 1
            state[ko][1] -= ao
        if op in ("I", "U"):
            st = state.setdefault(kn, [0, Decimal("0.00")])
            st[0] += 1
            st[1] += an
    return {k: v for k, v in state.items() if v[0] > 0}


def _fold(spark, view_rows, cdc_rows, key="key"):
    deltas = zset_from_cdc(
        spark.createDataFrame(cdc_rows, _CDC_SCHEMA),
        "key_old", "amt_old", "key_new", "amt_new",
    )
    out = maintain_grouped_totals(_view_df(spark, view_rows), deltas, key=key)
    return {r[key]: (r.n, r.total) for r in out.collect()}


def test_fold_matches_recompute_random_cdc(spark):
    rng = random.Random(4)
    state = {
        k: [3, Decimal("30.00")] for k in range(8)
    }
    view_rows = [(k, 3, Decimal("30.00")) for k in range(8)]
    cdc = []
    live = {k: 3 for k in range(8)}
    for _ in range(60):
        k = rng.randrange(8)
        amt = Decimal(rng.randrange(100, 9999)) / 100
        op = rng.choice(["I", "U", "D"])
        if op == "I":
            cdc.append(("I", None, None, k, amt))
            live[k] += 1
        elif op == "D" and live[k] > 0:
            cdc.append(("D", k, Decimal("10.00"), None, None))
            live[k] -= 1
        elif op == "U" and live[k] > 0:
            k2 = rng.randrange(8)  # key-changing update
            cdc.append(("U", k, Decimal("10.00"), k2, amt))
            live[k] -= 1
            live[k2] += 1
    want = {
        k: (v[0], v[1]) for k, v in _apply_python(state, cdc).items()
    }
    got = _fold(spark, view_rows, cdc)
    assert {k: (n, Decimal(t)) for k, (n, t) in got.items()} == want


def test_key_changing_update_moves_contribution(spark):
    view = [(1, 1, Decimal("10.00")), (2, 1, Decimal("5.00"))]
    cdc = [("U", 1, Decimal("10.00"), 2, Decimal("10.00"))]
    got = _fold(spark, view, cdc)
    assert 1 not in got  # count reached 0 -> tombstone eliminated
    assert got[2] == (2, Decimal("15.00"))


def test_two_batches_equal_one(spark):
    """Fold(fold(view, b1), b2) == fold(view, b1 ++ b2) — the incremental
    path is associative, so micro-batching never changes the view."""
    view = [(k, 2, Decimal("20.00")) for k in range(4)]
    b1 = [("I", None, None, 1, Decimal("7.00")),
          ("D", 2, Decimal("10.00"), None, None)]
    b2 = [("U", 1, Decimal("10.00"), 3, Decimal("4.50")),
          ("D", 2, Decimal("10.00"), None, None)]
    once = _fold(spark, view, b1 + b2)
    step1 = _fold(spark, view, b1)
    step1_rows = [(k, n, Decimal(t)) for k, (n, t) in sorted(step1.items())]
    step2 = _fold(spark, step1_rows, b2)
    assert step2 == once


def test_delta_feed_preaggregates_before_view_union(spark):
    """Plan shape: the delta side reaching the view union is an AGGREGATE
    over the feed (O(touched keys) rows), not the raw feed."""
    deltas = zset_from_cdc(
        spark.createDataFrame(
            [("I", None, None, 1, Decimal("1.00"))] * 5, _CDC_SCHEMA
        ),
        "key_old", "amt_old", "key_new", "amt_new",
    )
    out = maintain_grouped_totals(_view_df(spark, [(1, 1, Decimal("1.00"))]), deltas)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.lower().count("aggregate") >= 2  # delta pre-agg + final agg
    assert out.collect()[0].n == 6


def test_ivm_stream_fold_matches_one_shot(spark, tmp_path):
    """streaming/ivm_sink.py: folding the CDC feed as real micro-batches
    (file stream, one file per trigger) yields the SAME view as the
    one-shot fold — plus exactly-once discipline: a replayed committed
    epoch is skipped, and a reset checkpoint fails fast."""
    import os

    import pytest

    from etl_expenses_spark.streaming.ivm_sink import (
        init_view_state,
        ivm_state_sink,
        read_view,
    )
    from etl_expenses_spark.streaming.state import read_meta as _read_meta

    feed = str(tmp_path / "cdc")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    cdc_rows = [
        ("I", None, None, 1, Decimal("7.00")),
        ("I", None, None, 2, Decimal("3.00")),
        ("U", 1, Decimal("10.00"), 2, Decimal("4.50")),
        ("D", 3, Decimal("10.00"), None, None),
        ("D", 3, Decimal("10.00"), None, None),
        ("D", 3, Decimal("10.00"), None, None),  # group 3 fully deleted
        ("I", None, None, 4, Decimal("1.25")),
        ("U", 4, Decimal("10.00"), 4, Decimal("12.00")),
    ]
    spark.createDataFrame(cdc_rows, _CDC_SCHEMA).repartition(4).write.parquet(feed)
    view = [(k, 3, Decimal("30.00")) for k in (1, 2, 3, 4)]
    init_view_state(_view_df(spark, view), state)

    def run():
        stream = (
            spark.readStream.schema(_CDC_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        ivm_state_sink(stream, state, ckpt).awaitTermination()

    run()
    got = {r.key: (r.n, r.total) for r in read_view(spark, state).collect()}
    want = _fold(spark, view, cdc_rows)
    assert got == want
    assert 3 not in got  # tombstone eliminated through the stream path
    # restart on the same checkpoint: no new files -> view unchanged
    meta_before = _read_meta(state)
    run()
    assert _read_meta(state) == meta_before
    # reset checkpoint (batch ids restart at 0) must fail fast, not
    # silently double-fold
    import shutil

    shutil.rmtree(ckpt)
    with pytest.raises(Exception, match="checkpoint was lost or reset"):
        run()


def test_unknown_cdc_op_fails_fast(spark):
    """ADVICE r8: a row whose op is not 'I'/'U'/'D' (lowercase Debezium,
    snapshot 'r') must raise, not silently vanish from the fold."""
    import pytest

    cdc_rows = [
        ("I", None, None, 1, Decimal("5.00")),
        ("r", None, None, 2, Decimal("7.00")),  # snapshot-read code
    ]
    deltas = zset_from_cdc(
        spark.createDataFrame(cdc_rows, _CDC_SCHEMA),
        "key_old", "amt_old", "key_new", "amt_new",
    )
    with pytest.raises(Exception, match="unknown CDC op code"):
        deltas.collect()


# ---- MinHash-LSH index maintenance (operators/dedup.py) ----------------

def _corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _sig_set(df):
    return {(r["id"], tuple(r["hs"]), tuple(r["bands"])) for r in df.collect()}


def test_lsh_index_maintenance_equals_full_recompute(spark):
    from etl_expenses_spark.operators.dedup import (
        maintain_lsh_index,
        minhash_band_signatures,
    )

    base_rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "completely unrelated text about warehouse inventory levels"),
        (3, "the quick brown fox jumps over the lazy dog again and AGAIN"),
        (4, "this document will be deleted by the cdc batch below"),
        (5, "this document will be updated by the cdc batch below"),
    ]
    cdc_rows = [
        ("D", 4, None),
        ("U", 5, "this document was updated by the cdc batch just now"),
        ("I", 6, "the quick brown fox jumps over the lazy dog again and again!"),
    ]
    base = _corpus(spark, base_rows)
    cdc = spark.createDataFrame(cdc_rows, "op string, doc_id long, text string")
    maintained = maintain_lsh_index(minhash_band_signatures(base), cdc)

    after_rows = [r for r in base_rows if r[0] not in (4, 5)] + [
        (5, cdc_rows[1][2]),
        (6, cdc_rows[2][2]),
    ]
    full = minhash_band_signatures(_corpus(spark, after_rows))
    assert _sig_set(maintained) == _sig_set(full)


def test_lsh_delta_pairs_equal_restricted_full_pairs(spark):
    from etl_expenses_spark.operators.dedup import (
        lsh_delta_pairs,
        maintain_lsh_index,
        minhash_band_signatures,
        minhash_lsh_pairs,
    )

    base_rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "one two three four five six seven eight nine ten eleven twelve"),
        (3, "alpha beta gamma delta epsilon zeta eta theta iota KAPPA"),
    ]
    cdc_rows = [
        ("I", 10, "one two three four five six seven eight nine ten eleven twelve!"),
        ("U", 3, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"),
    ]
    base = _corpus(spark, base_rows)
    cdc = spark.createDataFrame(cdc_rows, "op string, doc_id long, text string")
    new_index = maintain_lsh_index(minhash_band_signatures(base), cdc)
    got = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in lsh_delta_pairs(
            new_index, cdc.filter("op in ('I','U')").select("doc_id")
        ).collect()
    }

    after_rows = [base_rows[0], base_rows[1], (3, cdc_rows[1][2]), (10, cdc_rows[0][2])]
    delta_ids = {10, 3}
    want = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in minhash_lsh_pairs(_corpus(spark, after_rows)).collect()
        if r["id_a"] in delta_ids or r["id_b"] in delta_ids
    }
    assert got == want
    assert got  # non-vacuous: the planted near-copies produced pairs


def test_lsh_index_maintenance_replay_idempotent(spark):
    from etl_expenses_spark.operators.dedup import (
        maintain_lsh_index,
        minhash_band_signatures,
    )

    base = _corpus(spark, [(1, "aa bb cc dd ee ff gg"), (2, "hh ii jj kk ll mm")])
    cdc = spark.createDataFrame(
        [("U", 1, "aa bb cc dd ee ff gg hh"), ("D", 2, None)],
        "op string, doc_id long, text string",
    )
    once = maintain_lsh_index(minhash_band_signatures(base), cdc)
    twice = maintain_lsh_index(once, cdc)
    assert _sig_set(once) == _sig_set(twice)


def test_lsh_index_maintenance_unknown_op_fails_fast(spark):
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from etl_expenses_spark.operators.dedup import (
        maintain_lsh_index,
        minhash_band_signatures,
    )

    base = _corpus(spark, [(1, "aa bb cc dd")])
    cdc = spark.createDataFrame(
        [("r", 1, "snapshot row")], "op string, doc_id long, text string"
    )
    with pytest.raises((Py4JJavaError, SparkRuntimeException, Exception)) as ei:
        maintain_lsh_index(minhash_band_signatures(base), cdc).collect()
    assert "unknown CDC op code" in str(ei.value)
