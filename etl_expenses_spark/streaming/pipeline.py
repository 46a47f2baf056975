"""Structured Streaming surface (SURVEY.md §2.10).

The reference's event-driven architecture — webhook → Step Function per
report (`/root/reference/webhook_mp_report/lambda_function.py:68-71`), weekly
cron batches, MAX(date) watermarks, and per-batch anti-join dedup — maps to:

- a file source over the bronze directory (each arriving file = micro-batch),
- ``withWatermark`` + ``dropDuplicates`` for the late-duplicate contract
  (J1-J4 made incremental: the state store replaces the DISTINCT-key fetch),
- tumbling/sliding/session window aggregations,
- ``foreachBatch`` → merge_append for the idempotent gold load,
- availableNow triggers for batch-parity runs (the cron analog), started
  through streaming/state.py ``start_available_now``.

Checkpointing replaces the reference's compensation lambda: a failed batch
replays from the checkpoint instead of running rollback UPDATEs
(`/root/reference/compensation_flow/lambda_function.py:34-56`).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_expenses_spark.operators.wap import (
    _last_epoch, _publish, _reread, atomic_write, read_json,
)
from etl_expenses_spark.streaming.state import (
    compact_set_union,
    compaction_target,
    drain,
    epoch_dirs,
    epoch_log_sink,
    start_available_now,
)

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(spark: SparkSession, bronze_dir: str) -> DataFrame:
    """File-source stream: the bronze directory as an unbounded table.
    maxFilesPerTrigger bounds micro-batch size under backlog (at scale this
    is the knob that keeps state-store updates incremental)."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(bronze_dir)
    )


def stream_windowed_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1-day windowed aggregate with late-data watermark; state for
    windows older than the watermark is evicted — bounded memory forever."""
    return (
        events.withWatermark("ts", watermark)
        .dropDuplicates(["event_id"])
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("day_start"), "n_events", "total_value")
    )


def stream_sessionized_values(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user (gap-based), streaming-native."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


def stream_interval_join_clicks_before_errors(
    errors: DataFrame, clicks: DataFrame, window_s: int = 300
) -> DataFrame:
    """Stream-stream interval join: pair each error with the same user's
    clicks from the preceding ``window_s`` seconds.

    Both sides carry watermarks, and the join condition bounds event time on
    both sides — that is what lets Spark EVICT state: a buffered click can be
    dropped once the error-side watermark passes ``click_ts + window_s``.
    An unbounded (equi-only) stream-stream join would grow state forever.
    This is the streaming twin of operators/rangejoin.py (same semantics,
    state-store bucketing instead of explicit bucket columns).
    """
    e = errors.select(
        F.col("event_id").alias("e_id"),
        F.col("user_id").alias("e_user"),
        F.col("ts").alias("e_ts"),
    ).withWatermark("e_ts", "1 hour")
    c = clicks.select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", "1 hour")
    return e.join(
        c,
        (F.col("c_user") == F.col("e_user"))
        & (F.col("c_ts") > F.col("e_ts") - F.expr(f"INTERVAL {int(window_s)} SECONDS"))
        & (F.col("c_ts") <= F.col("e_ts")),
        "inner",
    )


def stream_interval_left_outer_clicks(
    clicks: DataFrame, purchases: DataFrame, window_s: int = 300,
    watermark_s: int = 3600,
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every click pairs with the
    same user's purchases in the FOLLOWING ``window_s`` seconds — and a
    click with no such purchase is still emitted (purchase columns NULL)
    once the purchase-side watermark proves none can arrive. That
    "unmatched after timeout" row is the semantics the inner interval join
    cannot express: abandoned-cart / un-attributed-click detection under
    ingest, without a batch sweep.

    Why this is watermark-dependent in a way inner joins are not: an inner
    join can emit matches immediately; the NULL row exists only when the
    engine can PROVE no match is coming, i.e. when the purchase watermark
    passes ``click_ts + window_s``. Spark therefore (a) delays unmatched
    output by the watermark delay and (b) uses the same bound to evict
    buffered click state — correctness and bounded state come from the
    same clock. Both sides watermarked; both join-time bounds present, so
    click state is dropped once no future purchase can pair with it.

    Batch twin with identical semantics: a plain left join with the same
    interval predicate (`tests/test_streaming.py` pins stream == batch
    including the NULL rows)."""
    c = clicks.select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", f"{int(watermark_s)} seconds")
    p = purchases.select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", f"{int(watermark_s)} seconds")
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") < F.col("c_ts") + F.expr(f"INTERVAL {int(window_s)} SECONDS")),
        "leftOuter",
    )


def stream_interval_full_outer_clicks(
    clicks: DataFrame, purchases: DataFrame, window_s: int = 300,
    watermark_s: int = 3600,
) -> DataFrame:
    """Stream-stream FULL OUTER interval join — the last outer shape:
    clicks pair with the same user's purchases in the FOLLOWING
    ``window_s`` seconds; a click with no purchase AND a purchase with no
    preceding click both survive as NULL-padded rows (un-attributed click
    + organic purchase, in one operator).

    Each side's NULL row emits when the OTHER side's watermark proves no
    match can arrive: an unmatched click waits for the purchase watermark
    to pass ``c_ts + window_s``; an unmatched purchase waits for the click
    watermark to pass ``p_ts`` (its join window looks backward). The same
    two clocks bound both state stores — full-outer costs no more state
    than left-outer, it just keeps the other side's tombstone path too.
    Batch twin: a plain full_outer join with the identical predicate
    (stream == batch incl. both NULL sides pinned in
    tests/test_streaming.py)."""
    c = clicks.select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", f"{int(watermark_s)} seconds")
    p = purchases.select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", f"{int(watermark_s)} seconds")
    return c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") < F.col("c_ts") + F.expr(f"INTERVAL {int(window_s)} SECONDS")),
        "fullOuter",
    )


def run_events_stream_once(
    spark: SparkSession,
    bronze_dir: str,
    gold_path: str,
    checkpoint_dir: str,
) -> None:
    """availableNow micro-batch run: dedup → foreachBatch idempotent merge
    into gold. Restartable: the checkpoint tracks consumed files and sink
    epochs, so re-running after a crash neither skips nor duplicates."""
    from etl_expenses_spark.operators.merge import merge_append

    events = read_event_stream(spark, bronze_dir).withWatermark("ts", "1 hour").dropDuplicates(
        ["event_id"]
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        merge_append(batch_df, gold_path, keys=["event_id"])

    start_available_now(events, sink, checkpoint_dir).awaitTermination()


def run_media_stream_featurize(
    spark: SparkSession,
    bronze_dir: str,
    gold_path: str,
    checkpoint_dir: str,
) -> None:
    """Multimodal featurization UNDER INGEST: an availableNow stream of
    media rows (binary payload + typed meta, operators/multimodal.py
    MEDIA_SCHEMA) runs the REAL-codec decode→featurize stage
    (PPM/BMP/JPEG/PNG/GIF images, PCM/G.711 WAV, Y4M video) inside each
    micro-batch's Arrow-batched mapInPandas, then idempotently merges on
    media_id — the vision/audio-corpus twin of run_events_stream_once.
    Features are pure functions of the payload, so stream == batch
    equality is exact (pinned in tests/test_streaming.py); replay and
    re-delivery are absorbed by the left_anti merge.

    100 TB shape: payload bytes cross the Arrow boundary once per file,
    partition-parallel; the merge key is media_id, so gold never
    re-featurizes history."""
    from etl_expenses_spark.operators.merge import merge_append
    from etl_expenses_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_and_featurize,
    )

    media = spark.readStream.schema(MEDIA_SCHEMA).parquet(bronze_dir)
    feats = decode_and_featurize(media)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        merge_append(batch_df, gold_path, keys=["media_id"])

    start_available_now(feats, sink, checkpoint_dir).awaitTermination()


def run_media_stream_probe(
    spark: SparkSession,
    bronze_dir: str,
    gold_path: str,
    checkpoint_dir: str,
) -> None:
    """Container census UNDER INGEST: the header-only ``probe_media``
    stage (operators/containers.py — ISO-BMFF box walk, MP3 frame scan,
    image/audio/video header parses, EXIF orientation) runs per
    micro-batch and merges idempotently on media_id. This is how a 100 TB
    media lake keeps its format/duration/resolution census current as
    objects land, without ever decoding a sample: probe cost is O(header)
    per file, so the stream is ingest-I/O-bound.

    Probe rows are pure functions of the payload bytes, so stream ==
    batch equality is exact (pinned in tests/test_streaming.py); replay
    and re-delivery are absorbed by the left_anti merge, same contract as
    run_media_stream_featurize."""
    from etl_expenses_spark.operators.containers import probe_media
    from etl_expenses_spark.operators.merge import merge_append
    from etl_expenses_spark.operators.multimodal import MEDIA_SCHEMA

    media = spark.readStream.schema(MEDIA_SCHEMA).parquet(bronze_dir)
    probes = probe_media(media)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        merge_append(batch_df, gold_path, keys=["media_id"])

    start_available_now(probes, sink, checkpoint_dir).awaitTermination()


def run_events_stream_to_wap(
    spark: SparkSession,
    bronze_dir: str,
    table_root: str,
    checkpoint_dir: str,
    audits=None,
) -> None:
    """availableNow run publishing each micro-batch through write-audit-
    publish (operators/wap.py): the batch stages invisibly, audits run on
    what was actually written, and the manifest swap makes it visible
    atomically — readers never see a torn micro-batch, and a failed audit
    quarantines the batch without poisoning the table.

    Exactly-once composition: the streaming checkpoint guarantees each
    input file feeds exactly one successful foreachBatch epoch, and each
    epoch becomes exactly one atomically visible version. After a crash
    between the publish and the checkpoint's commit, Spark re-delivers the
    epoch under the same id; the version it published records that id
    (``v{N}/_EPOCH``, carried forward by compaction), so the replay is
    skipped instead of published twice (Armbrust et al., *Structured
    Streaming*, SIGMOD 2018). An epoch BELOW the table's last one means
    the checkpoint was lost or reset, or a second stream writes the table;
    skipping it would drop data silently, so the sink raises."""
    events = read_event_stream(spark, bronze_dir).withWatermark("ts", "1 hour").dropDuplicates(
        ["event_id"]
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        last = _last_epoch(table_root)
        if epoch_id < last:
            raise RuntimeError(
                f"stream->WAP: epoch {int(epoch_id)} < last published epoch {last} "
                f"at {table_root}: checkpoint lost or reset, or a second stream"
            )
        if epoch_id == last:
            drain(batch_df)  # a replay of a published epoch
            return
        if batch_df.isEmpty():
            return
        _publish(
            table_root, batch_df.write.mode("overwrite").parquet,
            _reread(spark, audits), epoch=epoch_id,
        )

    start_available_now(events, sink, checkpoint_dir).awaitTermination()


def stream_dedup_within_watermark(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once event feed via ``dropDuplicatesWithinWatermark``
    (Spark 3.5+). Unlike plain ``dropDuplicates([key])`` — whose state
    grows FOREVER when the dedup key excludes the event-time column —
    this variant guarantees eviction: a key's state is dropped once the
    watermark passes its first-seen timestamp, so duplicates arriving
    within the watermark interval are suppressed and state is bounded by
    (events per watermark window), not (all keys ever seen). At 100 TB
    of events/day this is the difference between a state store that
    holds an hour and one that holds the corpus."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_events_stream_upsert(
    spark: SparkSession,
    bronze_dir: str,
    gold_path: str,
    checkpoint_dir: str,
) -> None:
    """availableNow run maintaining a LATEST-STATE-PER-USER gold table via
    foreachBatch upsert (operators/merge.py:upsert) — the streaming form
    of the K3 row-INSERT sink when the contract is "current value", not
    "append log": each micro-batch reduces to one row per user (latest ts
    wins, event_id tiebreak), then replaces that user's gold row.

    Restart semantics: an epoch replayed after a crash recomputes the same
    per-user latest rows, and upsert converges to the same table —
    idempotent by construction, no dedup state needed."""
    from etl_expenses_spark.operators.merge import read_gold, upsert
    from pyspark.sql.window import Window

    events = read_event_stream(spark, bronze_dir)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        latest = (
            batch_df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("user_id", "ts", "event_type", "value")
        )
        spark_ = batch_df.sparkSession
        target = read_gold(spark_, gold_path)
        if target is None:
            latest.write.mode("overwrite").parquet(gold_path)
            return
        merged = upsert(latest, target, keys=["user_id"])
        # two-phase write: materialize the merge before overwriting the
        # dir it reads from (parquet has no transactional replace)
        tmp = gold_path.rstrip("/") + "__tmp"
        merged.write.mode("overwrite").parquet(tmp)
        spark_.read.parquet(tmp).write.mode("overwrite").parquet(gold_path)

    start_available_now(events, sink, checkpoint_dir).awaitTermination()


def pit_enrich_sink(dim_path: str, gold_path: str):
    """foreachBatch sink for the streaming point-in-time enrichment.

    Exposed at module level so replay-idempotency is directly testable:
    calling it twice with the same ``epoch_id`` (what an at-least-once
    replay does after a crash between write and checkpoint commit) must
    leave the gold table unchanged, which the epoch-keyed
    ``mode("overwrite")`` write guarantees."""

    def enrich(batch_df: DataFrame) -> DataFrame:
        dim = batch_df.sparkSession.read.parquet(dim_path)
        return (
            batch_df.join(F.broadcast(dim), "user_id")
            .filter(
                (F.col("ts") >= F.col("valid_from"))
                & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to")))
            )
            .select("event_id", "user_id", "ts", "event_type", "value", "tier")
        )

    return epoch_log_sink(gold_path, enrich)


def run_events_stream_pit_enrich(
    spark: SparkSession,
    bronze_dir: str,
    dim_path: str,
    gold_path: str,
    checkpoint_dir: str,
) -> None:
    """availableNow run enriching each micro-batch against an SCD2
    dimension AT EVENT TIME — the streaming form of the point-in-time join
    (plans/temporal_ops.py:pit_join_events_user_tier): every event picks
    the dimension version whose [valid_from, valid_to) interval covers its
    timestamp, so late-arriving events land with the attributes that were
    true WHEN THEY HAPPENED, not today's.

    The dimension is re-read per epoch (it may gain versions between
    batches) and broadcast — dim version history is small relative to the
    stream; the join stays an equi join on the key with the validity
    interval as a post-join filter, same plan shape as the batch PIT join.

    Replay-idempotent for real: foreachBatch is at-least-once (a crash
    after the write but before the epoch commits to the checkpoint replays
    the epoch), so each epoch lands in its own `epoch=N` partition
    directory with mode("overwrite") — a replayed epoch overwrites its own
    directory instead of appending duplicates. Readers see `epoch` as an
    ordinary discovered partition column; no cross-epoch rewrite, no
    read-the-target dedup join, O(epoch) work per batch at any scale."""
    events = read_event_stream(spark, bronze_dir)
    start_available_now(
        events, pit_enrich_sink(dim_path, gold_path), checkpoint_dir
    ).awaitTermination()


def mv_state_sink(mv_path: str):
    """foreachBatch sink maintaining a LOG-STRUCTURED incremental
    materialized view: each epoch writes its micro-batch's PARTIAL
    aggregate state (per-user count + decimal sum — mergeable state, the
    batch twin is plans/sketch_ops.incremental_agg_state_merge) to its own
    ``epoch=N`` partition with ``mode("overwrite")``.

    Idempotent by construction (a replayed epoch overwrites itself, same
    contract as pit_enrich_sink) and O(batch) per epoch — the view is
    never read, rewritten, or locked by the writer. Readers merge at read
    time via :func:`mv_read`; a periodic compaction folding old epochs
    into one is the same re-aggregation run offline."""

    def partial(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
        )

    return epoch_log_sink(mv_path, partial)


def mv_read(spark: SparkSession, mv_path: str) -> DataFrame:
    """Merge-on-read of the log-structured MV: re-aggregate the per-epoch
    partial states (counts add, decimal sums add). The merge input is one
    row per (epoch, user) — aggregate-sized, not event-sized."""
    return (
        spark.read.parquet(mv_path)
        .groupBy("user_id")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("total_value").alias("total_value"),
        )
    )


def run_events_stream_incremental_mv(
    spark: SparkSession, bronze_dir: str, mv_path: str, checkpoint_dir: str
) -> None:
    """availableNow run folding the event stream into the incremental MV:
    each micro-batch contributes its partial aggregate state; no batch
    ever rescans history. ``mv_read(...)`` must equal the full batch
    aggregate over the same inputs (pinned in tests/test_streaming.py)."""
    events = read_event_stream(spark, bronze_dir)
    start_available_now(
        events, mv_state_sink(mv_path), checkpoint_dir
    ).awaitTermination()


def jdbc_epoch_sink(url: str, table: str, connect, driver: str | None = None,
                    single_writer: bool = False):
    """Exactly-once streaming load into a SQL warehouse over JDBC — the
    reference's Redshift load path (`load_data/lambda_function.py:17-36`:
    one synchronous INSERT per row, DISTINCT-key probe per batch to skip
    replays) re-expressed as staged bulk load + transactional epoch publish.

    Per micro-batch (at-least-once foreachBatch made exactly-once):

    1. probe the epoch LEDGER (`{table}__epochs`) — a replayed epoch_id
       returns without writing anything (constant-cost probe, vs the
       reference re-fetching the full DISTINCT key set every batch);
    2. create-or-empty a per-epoch STAGE table through the control
       channel (so a crashed attempt's partial stage is wiped on replay),
       then bulk-write the batch into it via Spark's parallel JDBC writer
       in `mode("append")` — append skips Spark's `tableExists` probe,
       which SQLState-less drivers (DuckDB) confound;
    3. publish in ONE warehouse transaction: create-target-if-missing,
       `INSERT INTO target SELECT * FROM stage`, record the epoch in the
       ledger, commit — target rows and the ledger row land atomically,
       so a crash at ANY point either replays into an overwritten stage
       or probes out at step 1. Stage drop happens post-commit (cleanup,
       idempotent).

    ``connect`` is a zero-arg callable returning a DB-API connection to
    the SAME database (the warehouse's control channel for the txn; for
    embedded DuckDB it is `duckdb.connect(path)` — opened only while the
    JVM's JDBC connections are closed, respecting the single-writer lock).
    At scale the stage write fans out one JDBC connection per partition
    (`single_writer=False`); the txn is metadata-sized regardless of batch
    volume."""
    from etl_expenses_spark.sources.jdbc import write_jdbc_table

    ledger = f"{table}__epochs"
    # Spark simpleString -> ANSI DDL for the stage create. Unlisted types
    # fall through as their upper-cased simpleString (decimal(p,s) etc.).
    _SQL_TYPES = {
        "bigint": "BIGINT", "int": "INTEGER", "smallint": "SMALLINT",
        "tinyint": "TINYINT", "double": "DOUBLE", "float": "REAL",
        "string": "VARCHAR", "boolean": "BOOLEAN", "date": "DATE",
        "timestamp": "TIMESTAMP", "timestamp_ntz": "TIMESTAMP",
        "binary": "BLOB",
    }

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        stage = f"{table}__stage_{int(epoch_id)}"
        cols = ", ".join(f.name for f in batch_df.schema.fields)
        ddl = ", ".join(
            f"{f.name} {_SQL_TYPES.get(f.dataType.simpleString(), f.dataType.simpleString().upper())}"
            for f in batch_df.schema.fields
        )
        con = connect()
        try:
            con.execute(
                f"CREATE TABLE IF NOT EXISTS {ledger} (epoch_id BIGINT)"
            )
            seen = con.execute(
                f"SELECT COUNT(*) FROM {ledger} WHERE epoch_id = {int(epoch_id)}"
            ).fetchone()[0]
            if seen:
                # Replayed epoch: already published atomically. A crash
                # between COMMIT and the post-commit stage DROP leaves an
                # orphaned stage — reap it here (idempotent) so replays
                # never leak one stage table per crash.
                con.execute(f"DROP TABLE IF EXISTS {stage}")
                return
        finally:
            con.close()
        if batch_df.isEmpty():
            return
        con = connect()
        try:
            con.execute(f"CREATE OR REPLACE TABLE {stage} ({ddl}, _rid BIGINT)")
        finally:
            con.close()
        # _rid = within-batch duplicate ordinal: ROW_NUMBER partitioned by
        # the FULL row content. Spark's JDBC writer commits per PARTITION,
        # so a task that dies after its partition committed is re-run and
        # appends that partition AGAIN into the stage. The publish below
        # keeps one row per (content, _rid), which removes exactly those
        # task-retry duplicates while preserving genuine duplicate payload
        # rows (ordinals 1..k). Unlike a positional id, this key is
        # ORDER-insensitive: identical rows are interchangeable, so a
        # retried partition that recomputes the same multiset in a
        # different row order still publishes the exact multiset (a
        # positional _rid + reordered recomputation + duplicated payload
        # rows could publish a wrong multiset). The window shuffles only
        # this micro-batch, partitioned by row content — no global or
        # skewed partition at any batch size.
        from pyspark.sql.window import Window as _W

        dup_w = _W.partitionBy(
            *[F.col(f.name) for f in batch_df.schema.fields]
        ).orderBy(F.lit(1))
        write_jdbc_table(
            batch_df.withColumn(
                "_rid", F.row_number().over(dup_w).cast("long")
            ),
            url, stage, mode="append", driver=driver,
            single_writer=single_writer,
        )
        con = connect()
        try:
            con.execute("BEGIN TRANSACTION")
            con.execute(
                f"CREATE TABLE IF NOT EXISTS {table} AS "
                f"SELECT {cols} FROM {stage} WHERE 1 <> 1"
            )
            con.execute(
                f"INSERT INTO {table} "
                f"SELECT {cols} FROM ("
                f"  SELECT {cols}, ROW_NUMBER() OVER ("
                f"    PARTITION BY {cols}, _rid) AS _rn"
                f"  FROM {stage}"
                f") WHERE _rn = 1"
            )
            con.execute(f"INSERT INTO {ledger} VALUES ({int(epoch_id)})")
            con.execute("COMMIT")
            con.execute(f"DROP TABLE IF EXISTS {stage}")
        finally:
            con.close()

    return sink


def run_events_stream_to_jdbc(
    spark: SparkSession,
    bronze_dir: str,
    url: str,
    table: str,
    connect,
    checkpoint_dir: str,
    driver: str | None = None,
    single_writer: bool = False,
) -> None:
    """availableNow run loading the event stream into a JDBC warehouse
    exactly-once via `jdbc_epoch_sink` — the streaming version of the
    reference's webhook→Redshift flow with the ledger replacing its
    per-batch DISTINCT-key existence probe."""
    events = read_event_stream(spark, bronze_dir)
    start_available_now(
        events,
        jdbc_epoch_sink(url, table, connect, driver, single_writer),
        checkpoint_dir,
    ).awaitTermination()


DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_document_stream(spark: SparkSession, bronze_dir: str) -> DataFrame:
    """File-source stream over arriving document batches."""
    return (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(bronze_dir)
    )


def index_state_sink(index_path: str):
    """foreachBatch sink maintaining a log-structured INVERTED INDEX: each
    micro-batch contributes one per-epoch postings-delta partition
    (token -> sorted doc_ids seen in this batch). Same replay-idempotency
    contract as mv_state_sink: an epoch directory is overwritten, never
    appended, so at-least-once replays converge."""
    from etl_expenses_spark.functions.text import tokens

    def postings(batch_df: DataFrame) -> DataFrame:
        return (
            batch_df.select(
                "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
            )
            .distinct()
            .groupBy("tok")
            .agg(F.sort_array(F.collect_set("doc_id")).alias("postings"))
        )

    return epoch_log_sink(index_path, postings)


def index_read(spark: SparkSession, index_path: str) -> DataFrame:
    """Merge-on-read of the log-structured index: union the per-epoch
    postings deltas, re-merge per token. The merge input is one row per
    (epoch, token) with a bounded postings array — index-sized, never
    corpus-sized; a compaction pass (operators/layout.py shapes) would
    fold old epochs together exactly like any log-structured store.
    Equals the batch-built index over the same documents (pinned in
    tests/test_streaming.py — the stream==batch proof for index
    maintenance)."""
    return (
        spark.read.parquet(index_path)
        .select("tok", F.explode("postings").alias("doc_id"))
        .groupBy("tok")
        .agg(
            F.count_distinct("doc_id").alias("df"),
            F.sort_array(F.collect_set("doc_id")).alias("postings"),
        )
    )


def run_docs_stream_index(
    spark: SparkSession, bronze_dir: str, index_path: str, checkpoint_dir: str
) -> None:
    """availableNow run folding arriving documents into the incremental
    inverted index — the index-maintenance half of the retrieval surface
    (plans/retrieval_ops.py builds the same index as a batch query; this
    keeps it fresh under ingest without ever rescanning history)."""
    docs = read_document_stream(spark, bronze_dir)
    start_available_now(
        docs, index_state_sink(index_path), checkpoint_dir
    ).awaitTermination()


def index_compact(spark: SparkSession, index_path: str) -> int:
    """Fold all per-epoch postings deltas into ONE epoch — the log-
    structured compaction pass that keeps merge-on-read cost flat as
    epochs accumulate. Returns the number of epochs folded.

    The index merge is a SET UNION (postings dedupe, df = count
    distinct), so it is idempotent under duplication and compacts through
    streaming/state.py ``compact_set_union``: write-then-delete with no
    atomic swap, to a fresh negative epoch id no resumed stream can claim.
    Additive state (mv_state_sink's counts/sums) would double-count in the
    crash window and needs a manifest swap instead (cms_compact)."""
    return compact_set_union(spark, index_path, lambda log: (
        log.select("tok", F.explode("postings").alias("doc_id"))
        .distinct()
        .groupBy("tok")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("postings"))
    ))


def lsh_state_sink(
    index_path: str,
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
):
    """foreachBatch sink maintaining a log-structured MINHASH-LSH INDEX over
    arriving documents: each micro-batch contributes one per-epoch partition
    of (id, hs, bands) signature rows (operators/dedup.py:
    minhash_band_signatures) — streaming NEAR-duplicate detection, the
    upgrade of index_state_sink's exact-token index to similarity space.

    The expensive half of LSH dedup (tokenize -> shingle-fingerprint ->
    minhash -> band) is computed ONCE per document, at ingest; what
    accumulates is ~(num_perm+bands)·8 bytes per doc, not text. Replay
    contract matches the other epoch sinks: an epoch directory is
    overwritten, never appended, so at-least-once redelivery converges.
    Signatures depend on document content alone (no batch context), so the
    union of per-epoch signatures is EXACTLY the batch signature relation —
    the stream==batch equality lsh_read_pairs pins."""
    from etl_expenses_spark.operators.dedup import minhash_band_signatures

    return epoch_log_sink(index_path, lambda batch_df: minhash_band_signatures(
        batch_df, num_perm=num_perm, bands=bands, shingle_k=shingle_k
    ))


def lsh_compact(spark: SparkSession, index_path: str) -> int:
    """Fold all per-epoch LSH signature partitions into ONE epoch. Same
    crash-safety argument as index_compact — signature state is a SET of
    content-deterministic (id, hs, bands) rows, so duplication during the
    write-then-delete window is absorbed by lsh_read_pairs'
    dropDuplicates("id") — and the same collision-proof negative target
    (streaming/state.py ``compaction_target``)."""
    return compact_set_union(spark, index_path, _lsh_signatures)


def lsh_read_pairs(
    spark: SparkSession, index_path: str, min_jaccard: float = 0.5
) -> DataFrame:
    """Merge-on-read near-duplicate pairs over the whole ingest history:
    union the per-epoch signature partitions and run the SAME banded
    candidate join + exact-Jaccard verify as the batch operator
    (operators/dedup.py:lsh_pairs_from_signatures). New arrivals pair
    against every previously-seen document WITHOUT ever rescanning or
    re-shingling history — the per-doc signature is already in the log.

    dropDuplicates("id") absorbs at-least-once overlap (a doc re-delivered
    into two epochs has bit-identical signature rows, so keeping either is
    correct); equals minhash_lsh_pairs over the same corpus, pinned in
    tests/test_streaming.py."""
    from etl_expenses_spark.operators.dedup import lsh_pairs_from_signatures

    return lsh_pairs_from_signatures(
        _lsh_signatures(spark.read.parquet(index_path)), min_jaccard=min_jaccard
    )


def _lsh_signatures(log: DataFrame) -> DataFrame:
    """One signature row per doc id: a doc re-delivered into two epochs has
    bit-identical rows, so keeping either is correct."""
    return log.select("id", "hs", "bands").dropDuplicates(["id"])


def hll_state_sink(state_path: str):
    """foreachBatch sink maintaining per-day DISTINCT-USER HLL sketches as
    log-structured epoch state — the mergeable-sketch materialized view.
    Each micro-batch reduces to one Datasketches HLL binary per day seen in
    the batch (KB-sized regardless of row count); merge-on-read unions the
    per-epoch sketches per day. Because HLL union is register-max, the
    union of per-batch sketches is EXACTLY the sketch of the full stream —
    stream == batch to the bit, not approximately (the approximation is in
    the sketch, not the maintenance). Same overwrite-per-epoch replay
    contract as the other epoch sinks.

    This is the 100 TB shape for streaming COUNT(DISTINCT): exact distinct
    state grows with cardinality; sketch state is O(days · 2^lgK) bytes
    forever, and epochs compact by the same set-free union (any epoch
    grouping unions to the same registers)."""
    return epoch_log_sink(
        state_path, lambda batch_df: _daily_sketches(batch_df, F.hll_sketch_agg)
    )


def _daily_sketches(batch_df: DataFrame, sketch_agg) -> DataFrame:
    """One ``sketch_agg(user_id)`` row per day of ``batch_df``."""
    return (
        batch_df.select(
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"), "user_id"
        )
        .groupBy("day")
        .agg(sketch_agg("user_id").alias("sk"))
    )


def _hll_daily(log: DataFrame) -> DataFrame:
    """Per-day register-max union of an HLL log's sketches."""
    return log.groupBy("day").agg(F.hll_union_agg("sk").alias("sk"))


def hll_read_daily_users(spark: SparkSession, state_path: str) -> DataFrame:
    """Merge-on-read of the sketch MV: union per-epoch sketches per day,
    estimate distinct users. Input to the union is one KB-row per
    (epoch, day) — state-sized, never event-sized."""
    return _hll_daily(spark.read.parquet(state_path)).select(
        "day", F.hll_sketch_estimate("sk").alias("est_users")
    )


def hll_read_sliding_users(
    spark: SparkSession, state_path: str, window_days: int = 7
) -> DataFrame:
    """Sliding-window distinct users straight from the stream-maintained
    sketch MV: per-day sketches (merge-on-read over epochs) range-joined
    to the day spine and unioned per window. Because register-max union is
    associative and order-insensitive, this answers EXACTLY what the batch
    `hll_sliding_7d_users` query computes from raw events — pinned in
    tests — while touching only O(days) KB-sized state rows. The
    streaming system never re-scans events to answer a window question."""
    from etl_expenses_spark.operators.sketchwindow import sliding_hll_estimates

    return sliding_hll_estimates(_hll_daily(spark.read.parquet(state_path)), window_days)


def run_events_stream_hll(
    spark: SparkSession, bronze_dir: str, state_path: str, checkpoint_dir: str
) -> None:
    """availableNow run folding arriving events into the per-day distinct-
    user sketch MV."""
    events = read_event_stream(spark, bronze_dir)
    start_available_now(
        events, hll_state_sink(state_path), checkpoint_dir
    ).awaitTermination()


def cms_state_sink(state_path: str, depth: int = 3, width: int = 64):
    """foreachBatch sink maintaining a Count-Min frequency sketch as
    log-structured epoch state: each micro-batch reduces to (at most)
    depth×width (d, bucket, c) grid cells; merge-on-read SUMS cells across
    epochs. CMS is ADDITIVE state (like mv_state_sink's counts, unlike the
    set-union index/LSH logs), so replay safety rests entirely on the
    overwrite-per-epoch contract — a redelivered epoch replaces its own
    partial grid, never double-adds — and compaction would use the WAP
    swap, not the in-place union fold.

    Grid cells per epoch are bounded by depth·width (192 here) no matter
    how many events the batch held; the streaming frequency store for the
    100 TB heavy-hitters problem costs KB per epoch, forever. Bucket hash
    is the same md5 derivation as the batch twin
    (plans/sketch_ops.py:countmin_user_frequency), so stream==batch grids
    are bit-equal."""
    def grid(batch_df: DataFrame) -> DataFrame:
        ds = batch_df.sparkSession.range(depth).select(
            F.col("id").cast("int").alias("d")
        )
        bucket = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("user_id").cast("string"),
                            F.lit("|cm"),
                            F.col("d").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % width
        )
        return (
            batch_df.select("user_id")
            .crossJoin(F.broadcast(ds))
            .select("d", bucket.alias("bucket"))
            .groupBy("d", "bucket")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    write = epoch_log_sink(state_path, grid)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        # Checkpoint-reset guard: visibility hides epochs <= max_folded once
        # a manifest exists, so a stream restarted with a fresh/lost
        # checkpoint (batch ids back at 0) would write epochs that readers
        # silently never count — undercount with no error. Fail fast
        # instead; recovery is a new state_path or restoring the checkpoint.
        man = _cms_manifest(state_path)
        if man is not None and int(epoch_id) <= man["max_folded"]:
            raise RuntimeError(
                f"cms_state_sink: epoch {int(epoch_id)} <= compacted "
                f"max_folded {man['max_folded']} at {state_path} — the "
                "stream's checkpoint was reset after a compaction; rows "
                "written under replayed epoch ids would be invisible to "
                "readers. Restore the checkpoint or start a fresh "
                "state_path."
            )
        write(batch_df, epoch_id)

    return sink


def hll_compact(spark: SparkSession, state_path: str) -> int:
    """Fold all per-epoch HLL day-sketches into ONE epoch. Register-max
    union is IDEMPOTENT (union of a sketch with itself is itself), so HLL
    state compacts exactly like the set-union logs: write the per-day
    unions to a fresh negative epoch id (below any checkpoint batch id a
    resumed stream could claim), delete the old dirs after — crash-window
    coexistence is absorbed by the union algebra. Contrast cms_compact,
    whose additive grid needs the manifest swap instead."""
    return compact_set_union(spark, state_path, _hll_daily)


_CMS_MANIFEST = "_COMPACTED"


def _cms_manifest(state_path: str) -> dict | None:
    return read_json(os.path.join(state_path, _CMS_MANIFEST), None)


def _cms_live_epochs(state_path: str) -> dict[int, str]:
    """Epoch id -> dir for the epochs a reader may count, resolved through
    the compaction manifest. ADDITIVE state cannot use the index/LSH
    write-then-delete compaction (compacted + stale epochs coexisting in
    the crash window would DOUBLE-COUNT), so visibility is manifest-gated,
    WAP-style:

    - no manifest: only non-negative epochs count (an unpublished
      compacted dir a crash left behind is invisible);
    - manifest {compacted, max_folded}: the listed compacted dir plus
      epochs with id > max_folded (new sink batches — checkpoint batch
      ids grow past every folded id by construction). Stale positives
      <= max_folded and orphaned negatives never double-count."""
    ids = epoch_dirs(state_path)
    man = _cms_manifest(state_path)
    if man is None:
        return {i: d for i, d in ids.items() if i >= 0}
    return {
        i: d
        for i, d in ids.items()
        if i == man["compacted"] or i > man["max_folded"]
    }


def _cms_sum(spark: SparkSession, dirs) -> DataFrame:
    """Cellwise sum of the CMS grids in ``dirs``."""
    return spark.read.parquet(*dirs).groupBy("d", "bucket").agg(F.sum("c").alias("c"))


def cms_read_grid(spark: SparkSession, state_path: str) -> DataFrame:
    """Merge-on-read of the CMS state: cellwise sum across the LIVE epochs
    (manifest-resolved — see _cms_live_epochs). A fresh state dir yields an
    EMPTY grid rather than a confusing no-path py4j error; a manifest that
    points at a MISSING compacted dir is state corruption (silent
    undercount) and raises, naming the path."""
    live = _cms_live_epochs(state_path)
    if not live:
        man = _cms_manifest(state_path)
        if man is not None:
            raise RuntimeError(
                f"cms_read_grid: manifest at {state_path} names compacted "
                f"epoch {man['compacted']} but no live epoch dir exists — "
                "the compacted dir was deleted out-of-band; counts would "
                "silently undercount. Restore it or rebuild the state."
            )
        return spark.createDataFrame([], "d int, bucket bigint, c bigint")
    return _cms_sum(spark, live.values())


def cms_compact(spark: SparkSession, state_path: str) -> int:
    """Fold the live CMS epochs into one — the ADDITIVE-state compaction,
    which needs the write-audit-publish shape rather than index_compact's
    in-place union (summing a duplicated grid double-counts, so the crash
    window between write and delete must never be readable):

    1. WRITE the folded grid to a dot-prefixed staging dir (invisible to
       Spark's file index), then rename it to a fresh NEGATIVE epoch id —
       still invisible, because readers ignore negatives the manifest
       doesn't list;
    2. PUBLISH by replacing the ``_COMPACTED`` manifest with
       ``atomic_write``, which simultaneously reveals the folded dir and
       condemns every folded positive epoch;
    3. CLEAN UP the stale dirs (best-effort; a crash here leaves garbage
       that readers already ignore and the next compaction reaps).

    Returns the number of epochs folded. Mirrors operators/wap.py's
    manifest-swap commit on the epoch-log layout — the two compaction
    regimes side by side: set-semantics state folds in place
    (index_compact/lsh_compact), additive state swaps a manifest."""
    live = _cms_live_epochs(state_path)
    # reap what a previous crashed/cleaned compaction left behind: every
    # epoch dir a reader ignores
    for i, d in epoch_dirs(state_path).items():
        if i not in live:
            shutil.rmtree(d)
    if len(live) <= 1:
        return 0
    target = compaction_target(live)
    staging = os.path.join(state_path, f".compact_staging_{-target}")
    _cms_sum(spark, live.values()).write.mode("overwrite").parquet(staging)
    os.rename(staging, os.path.join(state_path, f"epoch={target}"))
    # every live id is above the old max_folded or is the old compacted id
    atomic_write(os.path.join(state_path, _CMS_MANIFEST),
                 json.dumps({"compacted": target, "max_folded": max(live)}))
    for d in live.values():
        shutil.rmtree(d)
    return len(live)


def run_events_stream_cms(
    spark: SparkSession, bronze_dir: str, state_path: str, checkpoint_dir: str
) -> None:
    """availableNow run folding arriving events into the CMS frequency
    grid."""
    events = read_event_stream(spark, bronze_dir)
    start_available_now(
        events, cms_state_sink(state_path), checkpoint_dir
    ).awaitTermination()


def theta_state_sink(state_path: str):
    """foreachBatch sink maintaining per-day user-set THETA sketches as
    epoch state. Theta union is set-theoretic and deterministic (fixed
    seed), so like HLL the union of per-batch sketches equals the sketch
    of the full stream — stream == batch exactly — and unlike CMS/KLL the
    state is replay-idempotent by NATURE (unioning a duplicate sketch
    changes nothing), with the overwrite-per-epoch contract as belt-and-
    braces. Downstream, theta_retention_daily's intersection/difference
    algebra runs directly on the merged per-day sketches — streaming
    retention under ingest."""
    return epoch_log_sink(
        state_path, lambda batch_df: _daily_sketches(batch_df, F.theta_sketch_agg)
    )


def theta_read_retention(spark: SparkSession, state_path: str) -> DataFrame:
    """Merge-on-read: union per-epoch day sketches, then consecutive-day
    intersection/difference estimates — the streaming twin of the
    theta_retention_daily batch query (plans/sketch_ops.py)."""
    sk = (
        spark.read.parquet(state_path)
        .groupBy("day")
        .agg(F.theta_union_agg("sk").alias("sk"))
    )
    prev = sk.select(F.col("day").alias("prev_day"), F.col("sk").alias("sk_prev"))
    cur = sk.select("day", F.col("sk").alias("sk_cur"))
    j = cur.join(prev, cur.day == F.date_add(prev.prev_day, 1))
    inter = F.theta_sketch_estimate(
        F.theta_intersection("sk_prev", "sk_cur")
    ).cast("bigint")
    return j.select(
        "day",
        "prev_day",
        F.theta_sketch_estimate("sk_prev").cast("bigint").alias("n_prev"),
        F.theta_sketch_estimate("sk_cur").cast("bigint").alias("n_cur"),
        inter.alias("n_retained"),
        (F.theta_sketch_estimate("sk_cur").cast("bigint") - inter).alias("n_new"),
        (F.theta_sketch_estimate("sk_prev").cast("bigint") - inter).alias(
            "n_churned"
        ),
    )


def run_events_stream_theta(
    spark: SparkSession, bronze_dir: str, state_path: str, checkpoint_dir: str
) -> None:
    """availableNow run folding arriving events into per-day theta
    sketches."""
    events = read_event_stream(spark, bronze_dir)
    start_available_now(
        events, theta_state_sink(state_path), checkpoint_dir
    ).awaitTermination()


def kll_state_sink(state_path: str):
    """foreachBatch sink maintaining a KLL QUANTILE sketch of event values
    as log-structured epoch state — the streaming percentile store. Each
    micro-batch reduces to ONE binary KLL sketch row; merge-on-read folds
    them with kll_merge_agg. Mergeable like HLL/CMS, but NOT
    partition-deterministic (KLL compaction samples), so the contract is
    weaker by design: merged quantiles carry the sketch's normalized rank
    error (~1.65% at default k), pinned by a rank-tolerance test rather
    than stream==batch bit equality. Same overwrite-per-epoch replay
    contract as the other sinks."""
    return epoch_log_sink(state_path, lambda batch_df: batch_df.agg(
        F.kll_sketch_agg_double(F.col("value").cast("double")).alias("sk")
    ))


def kll_read_quantiles(
    spark: SparkSession, state_path: str, fractions: tuple[float, ...] = (0.5, 0.9)
) -> DataFrame:
    """Merge-on-read of the KLL state: fold per-epoch sketches, read
    quantiles. One KB-row per epoch enters the merge."""
    merged = spark.read.parquet(state_path).agg(
        F.kll_merge_agg_double("sk").alias("sk")
    )
    return merged.select(
        *[
            F.kll_sketch_get_quantile_double("sk", F.lit(p)).alias(f"p{int(p * 100)}")
            for p in fractions
        ]
    )


def run_events_stream_kll(
    spark: SparkSession, bronze_dir: str, state_path: str, checkpoint_dir: str
) -> None:
    """availableNow run folding arriving event values into the KLL
    quantile state."""
    events = read_event_stream(spark, bronze_dir)
    start_available_now(
        events, kll_state_sink(state_path), checkpoint_dir
    ).awaitTermination()


def run_docs_stream_lsh(
    spark: SparkSession, bronze_dir: str, index_path: str, checkpoint_dir: str
) -> None:
    """availableNow run folding arriving documents into the incremental
    LSH signature log — streaming near-dup detection under ingest."""
    docs = read_document_stream(spark, bronze_dir)
    start_available_now(
        docs, lsh_state_sink(index_path), checkpoint_dir
    ).awaitTermination()
