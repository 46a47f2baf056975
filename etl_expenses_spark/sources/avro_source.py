"""Avro directory source/sink as a Spark-4 Python DataSource.

``spark.read.format("etl_avro").load(dir)`` / ``df.write.format("etl_avro")
.save(dir)`` over directories of Avro object-container files, backed by the
pure-Python codec in operators/avrocodec.py (public Avro 1.11 spec — the
container ships no avro/fastavro/spark-avro package, so this IS the Avro
surface). Companion to the webhook DataSource (sources/webhook_source.py):
that one demonstrates the API against a generated feed; this one is a real
file-format connector.

Scale shape: one input partition per file — the standard file-source
parallelism contract (a 100 TB Avro lake is many files; each task decodes
only its own). Schema is inferred once, driver-side, from the FIRST file's
header — O(header) bytes, no datum decode. The writer emits one container
file per task partition, ``part-<job>-<partitionId>.avro``, through the
staged job commit of sources/jsonl_sink.py: tasks stage under
``_staging``, and the job commit renames only the delivered attempts'
files into place (and, on overwrite, removes the old parts first), so a
failed job leaves the target as it was and a retried task never
duplicates rows.

Type mapping (both directions):
    long<->bigint   int<->int       double<->double   float<->float
    string<->string boolean<->boolean bytes<->binary
    {long, logicalType=timestamp-micros} <-> timestamp
    {int,  logicalType=date}             <-> date
    ["null", T] <-> nullable T
"""

from __future__ import annotations

import datetime
import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    EqualTo,
    GreaterThan,
    InputPartition,
    LessThan,
)

from etl_expenses_spark.operators.avrocodec import read_avro, write_avro
from etl_expenses_spark.sources.jsonl_sink import StagedFile, StagedWriter

_EPOCH_DATE = datetime.date(1970, 1, 1)
_EPOCH_TS = datetime.datetime(1970, 1, 1)


def _avro_field_to_ddl(ftype) -> str:
    """Avro field type -> Spark DDL type (nullable unions unwrap)."""
    if isinstance(ftype, list):  # ["null", T]
        inner = next(t for t in ftype if t != "null")
        return _avro_field_to_ddl(inner)
    if isinstance(ftype, dict):
        lt = ftype.get("logicalType")
        if lt == "timestamp-micros":
            return "timestamp"
        if lt == "date":
            return "date"
        if lt == "decimal":
            return f"decimal({ftype['precision']},{ftype.get('scale', 0)})"
        ftype = ftype["type"]
    return {
        "long": "bigint", "int": "int", "double": "double", "float": "float",
        "string": "string", "boolean": "boolean", "bytes": "binary",
    }[ftype]


def _is_logical(ftype, name: str) -> bool:
    if isinstance(ftype, list):
        return any(_is_logical(t, name) for t in ftype if t != "null")
    return isinstance(ftype, dict) and ftype.get("logicalType") == name


def _files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    if not os.path.isdir(path):  # first write into a fresh target
        return []
    return sorted(os.path.join(path, f) for f in os.listdir(path) if _is_part(f))


def _is_part(f: str) -> bool:
    return f.endswith(".avro") and not f.startswith(("_", "."))


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


def _converters(schema: dict):
    convs = []
    for fld in schema["fields"]:
        if _is_logical(fld["type"], "timestamp-micros"):
            convs.append(
                lambda v: None if v is None
                else _EPOCH_TS + datetime.timedelta(microseconds=v)
            )
        elif _is_logical(fld["type"], "date"):
            convs.append(
                lambda v: None if v is None
                else _EPOCH_DATE + datetime.timedelta(days=v)
            )
        else:
            convs.append(lambda v: v)
    return [f["name"] for f in schema["fields"]], convs


def _decode_file(path: str, predicate=None, reader_schema: dict | None = None
                 ) -> Iterator[tuple]:
    """Decode one container file; when `reader_schema` differs from the
    file's writer schema, apply the spec's schema-resolution rules
    (operators/avrocodec.py:resolve_record) so a directory whose files
    span schema versions still reads as ONE relation."""
    with open(path, "rb") as f:
        data = f.read()
    if reader_schema is not None:
        from etl_expenses_spark.operators.avrocodec import read_avro_resolved

        records = read_avro_resolved(data, reader_schema)
        schema = reader_schema
    else:
        schema, records = read_avro(data)
    names, convs = _converters(schema)
    for rec in records:
        if predicate is None or predicate(rec):
            yield tuple(c(rec[n]) for n, c in zip(names, convs))


class AvroReader(DataSourceReader):
    """Batch reader with Python-side filter pushdown: EqualTo / LessThan /
    GreaterThan on top-level primitive columns are evaluated on the raw
    decoded record, so filtered rows never cross into the JVM. Spark still
    re-applies every pushed filter (pushFilters contract: returning [] is
    an optimization, not a correctness transfer), so a miss here can only
    cost time, never rows."""

    def __init__(self, options, avro_schema: dict):
        self.path = options["path"]
        self.avro_schema = avro_schema
        self._pushed = []

    def pushFilters(self, filters):
        rest = []
        for f in filters:
            if (
                isinstance(f, (EqualTo, GreaterThan, LessThan))
                and len(f.attribute) == 1
                and isinstance(f.value, (int, float, str, bool))
            ):
                self._pushed.append(f)
            else:
                rest.append(f)
        return rest

    def _predicate(self):
        if not self._pushed:
            return None
        pushed = list(self._pushed)

        def pred(rec: dict) -> bool:
            for f in pushed:
                v = rec.get(f.attribute[0])
                if v is None:
                    return False
                if isinstance(f, EqualTo) and not v == f.value:
                    return False
                if isinstance(f, GreaterThan) and not v > f.value:
                    return False
                if isinstance(f, LessThan) and not v < f.value:
                    return False
            return True

        return pred

    def partitions(self):
        return [_FilePartition(p) for p in _files(self.path)]

    def read(self, partition: _FilePartition) -> Iterator[tuple]:
        return _decode_file(
            partition.path, self._predicate(), self.avro_schema
        )


class AvroStreamReader(DataSourceStreamReader):
    """Landing-directory stream. The offset carries the EXPLICIT sorted
    list of files seen — not a count or a name high-watermark — because
    newly-landed files may sort anywhere in the listing (writer job ids
    are random), and an index- or name-based watermark would both re-read
    and skip under that reordering. A (start, end) pair therefore always
    denotes the exact same file set, which is what makes checkpoint
    replay exactly-once (the same design as Spark's built-in file source,
    whose seen-file map lives in the checkpoint's offset log). Partition
    objects carry file PATHS, so a replayed task never re-lists the
    directory."""

    def __init__(self, options, avro_schema: dict):
        self.path = options["path"]
        self.avro_schema = avro_schema

    def initialOffset(self):
        return {"files": []}

    def latestOffset(self):
        return {"files": [os.path.basename(p) for p in _files(self.path)]}

    def partitions(self, start, end):
        seen = set(start["files"])
        new = [n for n in end["files"] if n not in seen]
        return [_FilePartition(os.path.join(self.path, n)) for n in new]

    def read(self, partition: _FilePartition) -> Iterator[tuple]:
        return _decode_file(partition.path, None, self.avro_schema)

    def commit(self, end):
        pass


class AvroWriter(StagedWriter, DataSourceWriter):
    def __init__(self, options, spark_schema, overwrite: bool = False):
        super().__init__(options)
        self.codec = options.get("codec", "deflate")
        self.spark_schema = spark_schema
        self.overwrite = overwrite

    def _avro_schema(self) -> dict:
        fields = []
        for f in self.spark_schema.fields:
            t = f.dataType.simpleString()
            if t == "timestamp":
                at: object = {"type": "long", "logicalType": "timestamp-micros"}
            elif t == "date":
                at = {"type": "int", "logicalType": "date"}
            elif t.startswith("decimal("):
                p, s = t[8:-1].split(",")
                at = {"type": "bytes", "logicalType": "decimal",
                      "precision": int(p), "scale": int(s)}
            else:
                at = {
                    "bigint": "long", "int": "int", "double": "double",
                    "float": "float", "string": "string",
                    "boolean": "boolean", "binary": "bytes",
                }[t]
            fields.append(
                {"name": f.name, "type": ["null", at] if f.nullable else at}
            )
        return {"type": "record", "name": "row", "fields": fields}

    def write(self, iterator) -> StagedFile:
        from pyspark import TaskContext

        schema = self._avro_schema()
        names = [f.name for f in self.spark_schema.fields]
        types = [f.dataType.simpleString() for f in self.spark_schema.fields]
        recs = []
        for row in iterator:
            rec = {}
            for n, t in zip(names, types):
                v = row[n]
                if v is not None and t == "timestamp":
                    # exact integer micros — total_seconds() is float64 and
                    # can mis-round by 1 µs at ~16 significant digits
                    td = v - _EPOCH_TS
                    v = (td.days * 86_400_000_000
                         + td.seconds * 1_000_000 + td.microseconds)
                elif v is not None and t == "date":
                    v = (v - _EPOCH_DATE).days
                elif v is not None and t == "binary":
                    v = bytes(v)
                rec[n] = v
            recs.append(rec)
        staged = self._stage(".avro")
        with open(staged, "wb") as f:
            f.write(write_avro(recs, schema, codec=self.codec))
        # the name is the job's and the partition's, so a retried attempt
        # of the task stages the same final name
        pid = TaskContext.get().partitionId()
        return StagedFile(staged, len(recs), f"part-{self.job_id}-{pid:05d}.avro")

    def commit(self, messages) -> None:
        """Publish the job: on overwrite remove the old parts, then rename
        each delivered file to its part name (sources/jsonl_sink.py). A
        reader listing the directory never sees a torn container: files are
        written under ``_staging``, which ``_files`` skips, and appear by
        rename."""
        self._commit_staged(
            messages, [m.name for m in messages], _is_part if self.overwrite else None
        )

    def abort(self, messages) -> None:
        self._sweep(messages)


class AvroDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "etl_avro"

    def schema(self) -> str:
        if not self.options.get("avroschema") and not _files(self.options["path"]):
            raise ValueError(f"etl_avro: no .avro files under {self.options['path']}")
        schema = self._first_schema()
        return ", ".join(
            f"{fld['name']} {_avro_field_to_ddl(fld['type'])}"
            for fld in schema["fields"]
        )

    def _first_schema(self) -> dict:
        # explicit reader schema wins (the evolution contract: files
        # written under older schemas resolve up to it); else the first
        # file's header defines the relation
        import json as _json

        if self.options.get("avroschema"):
            return _json.loads(self.options["avroschema"])
        files = _files(self.options["path"])
        from etl_expenses_spark.operators.avrocodec import _read_header

        with open(files[0], "rb") as f:
            head = f.read(65536)
        avro_schema, _c, _s, _p = _read_header(memoryview(head))
        return avro_schema

    def reader(self, schema) -> AvroReader:
        return AvroReader(self.options, self._first_schema())

    def streamReader(self, schema) -> AvroStreamReader:
        return AvroStreamReader(self.options, self._first_schema())

    def writer(self, schema, overwrite: bool) -> AvroWriter:
        return AvroWriter(self.options, schema, overwrite)


def register(spark) -> None:
    # implementing pushFilters() requires the session opt-in, else the
    # source refuses to initialize — self-configure like load_table does
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(AvroDataSource)
