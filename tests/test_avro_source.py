"""Spark-4 Python DataSource for Avro directories (sources/avro_source.py).

Pins the connector contract the oracle-checked query can't reach: date /
nullable-None / binary type mappings, per-partition file layout, overwrite
semantics, schema inference from the first header, empty-dir error.
"""

from __future__ import annotations

import datetime
import os

import pytest

from etl_expenses_spark.sources.avro_source import register


@pytest.fixture(scope="module")
def avro_spark(spark):
    try:
        register(spark)
    except Exception:
        pass
    return spark


def test_all_types_roundtrip(avro_spark, tmp_path):
    spark = avro_spark
    from decimal import Decimal

    rows = [
        (1, "a", 1.5, True, b"\x00\xff", datetime.date(2024, 2, 29),
         datetime.datetime(2024, 2, 29, 12, 34, 56, 789012),
         Decimal("12345.678")),
        (2, None, -0.0, False, b"", datetime.date(1970, 1, 1),
         datetime.datetime(1969, 12, 31, 23, 59, 59), Decimal("-0.001")),
        (-(2**62), "üñí✓", 2.0**-1022, None, None, None, None, None),
    ]
    ddl = ("k bigint, s string, d double, b boolean, bin binary, "
           "dt date, ts timestamp, amt decimal(12,3)")
    df = spark.createDataFrame(rows, ddl)
    target = str(tmp_path / "t")
    df.write.format("etl_avro").mode("overwrite").save(target)
    back = spark.read.format("etl_avro").load(target)
    assert back.schema == df.schema
    assert set(map(tuple, back.collect())) == set(map(tuple, df.collect()))


def test_one_file_per_partition_and_overwrite(avro_spark, tmp_path):
    spark = avro_spark
    target = str(tmp_path / "t")
    df = spark.range(100).selectExpr("id", "CAST(id AS STRING) AS s")
    df.repartition(4).write.format("etl_avro").mode("overwrite").save(target)
    files = sorted(f for f in os.listdir(target) if f.endswith(".avro"))
    assert len(files) == 4
    # overwrite replaces the old part files entirely
    df.limit(10).repartition(1).write.format("etl_avro").mode(
        "overwrite"
    ).save(target)
    files = sorted(f for f in os.listdir(target) if f.endswith(".avro"))
    assert len(files) == 1
    assert spark.read.format("etl_avro").load(target).count() == 10
    # temp-file + rename commit (r6 ADVICE): no torn/staging files remain,
    # and a stale crash-leftover temp is invisible to readers
    assert not [f for f in os.listdir(target) if f.startswith(".")]
    (tmp_path / "t" / ".part-dead-00000.avro.tmp").write_bytes(b"torn")
    assert spark.read.format("etl_avro").load(target).count() == 10


@pytest.mark.parametrize("mode", ["overwrite", "append"])
def test_failed_job_leaves_target_untouched(avro_spark, tmp_path, mode):
    """A 4-task write whose task 3 fails after the other three finished
    publishes nothing: the job commit, not each task, makes files visible,
    and overwrite removes the old parts only in that commit."""
    import time

    spark = avro_spark
    target = str(tmp_path / "t")
    ddl = "id bigint, s string"
    spark.range(10).selectExpr("id", "CAST(id AS STRING) AS s").write.format(
        "etl_avro"
    ).mode("overwrite").save(target)

    def fail_late(batches):
        from pyspark import TaskContext

        if TaskContext.get().partitionId() == 3:
            time.sleep(5)  # let tasks 0-2 write their files first
            raise RuntimeError("injected late task failure")
        yield from batches

    df = spark.range(0, 100, 1, 4).selectExpr("id", "CAST(id AS STRING) AS s")
    with pytest.raises(Exception, match="injected late task failure"):
        df.mapInPandas(fail_late, ddl).write.format("etl_avro").mode(mode).save(
            target
        )
    assert spark.read.format("etl_avro").load(target).count() == 10
    assert sorted(os.listdir(target)) == sorted(
        f for f in os.listdir(target) if f.endswith(".avro")
    )  # no _staging dir, no temp file


def test_schema_inference_matches_first_header(avro_spark, tmp_path):
    spark = avro_spark
    target = str(tmp_path / "t")
    spark.range(5).selectExpr(
        "id", "CAST(id AS DOUBLE) AS x", "id % 2 = 0 AS flag"
    ).write.format("etl_avro").mode("overwrite").save(target)
    back = spark.read.format("etl_avro").load(target)
    assert back.dtypes == [("id", "bigint"), ("x", "double"), ("flag", "boolean")]


def test_empty_dir_raises(avro_spark, tmp_path):
    spark = avro_spark
    os.makedirs(tmp_path / "empty", exist_ok=True)
    with pytest.raises(Exception, match="no .avro files"):
        spark.read.format("etl_avro").load(str(tmp_path / "empty")).count()


def test_filter_pushdown_equivalence(avro_spark, tmp_path):
    """Pushed EqualTo/GreaterThan/LessThan prune rows Python-side; the
    result must equal the unpushed filter exactly (Spark re-applies every
    pushed filter, so this also proves we never drop a wrong row)."""
    spark = avro_spark
    target = str(tmp_path / "t")
    df = spark.range(1000).selectExpr(
        "id", "CAST(id % 7 AS STRING) AS bucket", "CAST(id AS DOUBLE) * 0.5 AS x"
    )
    df.repartition(3).write.format("etl_avro").mode("overwrite").save(target)
    back = spark.read.format("etl_avro").load(target)
    got = back.filter("id > 100 AND id < 900 AND bucket = '3'").collect()
    expected = df.filter("id > 100 AND id < 900 AND bucket = '3'").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, expected))


def test_pushfilters_unit():
    from pyspark.sql.datasource import EqualTo, GreaterThan, In, LessThan

    from etl_expenses_spark.sources.avro_source import AvroReader

    r = AvroReader({"path": "/nonexistent"}, {"fields": []})
    rest = r.pushFilters(
        [EqualTo(("a",), 3), GreaterThan(("b",), 1.5), LessThan(("c",), "m"),
         In(("d",), (1, 2))]
    )
    assert [type(f).__name__ for f in rest] == ["In"]  # unsupported stays
    pred = r._predicate()
    assert pred({"a": 3, "b": 2.0, "c": "a"})
    assert not pred({"a": 4, "b": 2.0, "c": "a"})
    assert not pred({"a": 3, "b": 1.5, "c": "a"})
    assert not pred({"a": 3, "b": 2.0, "c": "z"})
    assert not pred({"a": None, "b": 2.0, "c": "a"})


def test_stream_reader_exactly_once(avro_spark, tmp_path):
    """availableNow over an Avro landing dir: first run reads the first
    batch of files; after more files land, a restart from the same
    checkpoint reads ONLY the new ones."""
    spark = avro_spark
    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def land(lo, hi, part):
        spark.range(lo, hi).selectExpr("id", "CAST(id AS STRING) AS s") \
            .coalesce(1).write.format("etl_avro").mode("append").save(landing)

    land(0, 50, 0)
    land(50, 100, 1)

    def run_once():
        q = (
            spark.readStream.format("etl_avro").load(landing)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # availableNow terminates on its own; block until it actually has
        # (a bounded wait can return early under full-suite load and let
        # the test read a half-written sink)
        q.awaitTermination()

    run_once()
    first = spark.read.parquet(out).count()
    assert first == 100
    # adversarial arrival: a file whose name sorts BEFORE everything
    # already processed — a count- or watermark-based offset would both
    # re-read an old file and skip this one
    from etl_expenses_spark.operators.avrocodec import write_avro

    schema = {
        "type": "record", "name": "row",
        "fields": [
            {"name": "id", "type": ["null", "long"]},
            {"name": "s", "type": ["null", "string"]},
        ],
    }
    recs = [{"id": i, "s": str(i)} for i in range(100, 130)]
    with open(os.path.join(landing, "aaa-first.avro"), "wb") as f:
        f.write(write_avro(recs, schema))
    run_once()
    rows = spark.read.parquet(out)
    assert rows.count() == 130  # 30 new rows, nothing re-read
    assert rows.select("id").distinct().count() == 130


def test_mixed_schema_directory_resolves(avro_spark, tmp_path):
    """A directory whose files span schema versions reads as ONE relation
    under an explicit reader schema (files written before a column existed
    surface it as null / default; int columns widen to long)."""
    import json

    from etl_expenses_spark.operators.avrocodec import write_avro

    spark = avro_spark
    landing = tmp_path / "mixed"
    landing.mkdir()
    v1 = {"type": "record", "name": "row", "fields": [
        {"name": "id", "type": "int"},
        {"name": "name", "type": ["null", "string"]}]}
    v2 = {"type": "record", "name": "row", "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": ["null", "string"]},
        {"name": "score", "type": ["null", "double"]}]}
    (landing / "a_v1.avro").write_bytes(
        write_avro([{"id": 1, "name": "one"}, {"id": 2, "name": None}], v1)
    )
    (landing / "b_v2.avro").write_bytes(
        write_avro([{"id": 3, "name": "three", "score": 0.5}], v2)
    )
    back = (
        spark.read.format("etl_avro")
        .option("avroSchema", json.dumps(v2))
        .load(str(landing))
    )
    assert back.dtypes == [("id", "bigint"), ("name", "string"),
                           ("score", "double")]
    rows = {tuple(r) for r in back.collect()}
    assert rows == {(1, "one", None), (2, None, None), (3, "three", 0.5)}
