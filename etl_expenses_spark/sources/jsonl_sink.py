"""Custom Python data-sink (Spark 4 DataSource writer API): JSONL export
with write-stage-commit atomicity, and the staged job commit every
file-writing DataSource in this package shares.

The reference's export sinks are driver-side loops: per-row INSERTs
(its ``load_data/lambda_function.py:17-36``) and a whole-DataFrame CSV
upload. This sink is the distributed, atomic form of "push rows to an
external consumer as JSON lines". ``StagedWriter`` holds the protocol
(also used by the ``etl_avro`` writer, sources/avro_source.py):

- every TASK stages its partition under ``<path>/_staging/<job>/`` and
  returns a ``StagedFile`` message naming the staged file + row count;
- ``commit()`` (driver, exactly once per job) removes the files the job
  replaces (overwrite), renames the staged files of the delivered
  messages to their final names, and sweeps the job's staging dir; the
  batch JSONL writer then writes a ``_SUCCESS`` manifest with the total
  row count;
- ``abort()`` runs the same sweep — a failed job leaves the target exactly
  as it was (no partial visibility, the same discipline as
  operators/wap.py).

Task retries are safe: each attempt stages under a fresh unique name, and
only the attempt whose commit message Spark delivers gets renamed in —
a retried task's orphan file is swept, never committed twice.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Callable, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)

from etl_expenses_spark.operators.wap import atomic_write, read_json

_STAGING = "_staging"


class StagedFile(WriterCommitMessage):
    """One task's staged file; ``name`` is its final name when the task
    chose it (None: the commit numbers the files)."""

    def __init__(self, staged: str, rows: int, name: str | None = None):
        self.staged = staged
        self.rows = rows
        self.name = name


JsonlCommit = StagedFile


def _is_part(f: str) -> bool:
    return f.startswith("part-") and f.endswith(".jsonl")


class StagedWriter:
    """Stage in the task, publish in the job commit (module docstring)."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError(f"{type(self).__name__} requires .option('path', ...)")
        # one id per write job, made on the driver: two jobs on one path
        # stage apart, and file names built from it never collide
        self.job_id = uuid.uuid4().hex[:12]

    def _stage(self, suffix: str) -> str:
        """A fresh staging file name for one task attempt."""
        job_dir = os.path.join(self.path, _STAGING, self.job_id)
        os.makedirs(job_dir, exist_ok=True)
        return os.path.join(job_dir, uuid.uuid4().hex + suffix)

    def _commit_staged(self, messages, names: list[str],
                       stale: Callable[[str], bool] | None = None) -> int:
        """Remove the target's files ``stale`` picks, rename each message's
        staged file to its name in ``names``, sweep. Returns the rows."""
        os.makedirs(self.path, exist_ok=True)
        if stale is not None:
            for f in filter(stale, os.listdir(self.path)):
                os.remove(os.path.join(self.path, f))
        for m, name in zip(messages, names):
            os.replace(m.staged, os.path.join(self.path, name))
        self._sweep(messages)
        return sum(m.rows for m in messages)

    def _sweep(self, messages) -> None:
        """Drop what the job staged but did not publish: the messages'
        files and every failed or zombie attempt under the job dir."""
        for m in messages:
            if m is not None and os.path.exists(m.staged):
                os.remove(m.staged)
        staging = os.path.join(self.path, _STAGING)
        shutil.rmtree(os.path.join(staging, self.job_id), ignore_errors=True)
        if os.path.isdir(staging) and not os.listdir(staging):
            os.rmdir(staging)


def _default(o):
    """JSON fallback for non-native types (timestamps, dates, decimals,
    bytes): ISO/str text — the lossless-enough export form."""
    if isinstance(o, (bytes, bytearray)):
        return o.hex()
    return str(o)


def _write_jsonl(writer: StagedWriter, iterator: Iterator) -> StagedFile:
    name = writer._stage(".jsonl")
    n = 0
    with open(name, "w", encoding="utf-8") as f:
        for row in iterator:
            f.write(
                json.dumps(
                    row.asDict(recursive=True),
                    separators=(",", ":"),
                    sort_keys=True,
                    default=_default,
                )
            )
            f.write("\n")
            n += 1
    return StagedFile(staged=name, rows=n)


class JsonlWriter(StagedWriter, DataSourceWriter):
    def __init__(self, options, overwrite: bool):
        super().__init__(options)
        self.overwrite = overwrite

    def write(self, iterator: Iterator) -> StagedFile:
        return _write_jsonl(self, iterator)

    def commit(self, messages) -> None:
        # append mode continues the part numbering
        base = 0 if self.overwrite else sum(map(_is_part, os.listdir(self.path)))
        names = [f"part-{base + i:05d}.jsonl" for i in range(len(messages))]
        total = self._commit_staged(messages, names, _is_part if self.overwrite else None)
        with open(os.path.join(self.path, "_SUCCESS"), "w") as f:
            json.dump({"rows": total, "files": len(messages)}, f)

    def abort(self, messages) -> None:
        self._sweep(messages)


class JsonlStreamWriter(StagedWriter, DataSourceStreamWriter):
    """Streaming twin of JsonlWriter (Spark 4 DataSourceStreamWriter):
    every micro-batch stages exactly like the batch sink, and ``commit``
    publishes under an EPOCH LEDGER — ``_batches.json`` records the
    committed batch ids, so a replayed epoch (foreachBatch-style replay
    after a crash, or a restart that re-delivers the last in-flight batch)
    drops its staged files instead of renaming a second copy in. Files are
    named ``part-<batch>-<i>.jsonl``; the ledger is replaced with
    ``atomic_write``, so a crash mid-commit is re-driven by the replay and
    never yields a half-published epoch the ledger claims is done."""

    def write(self, iterator: Iterator) -> StagedFile:
        return _write_jsonl(self, iterator)

    def commit(self, messages, batchId: int) -> None:
        ledger = os.path.join(self.path, "_batches.json")
        led = read_json(ledger, {"committed": [], "rows": 0})
        if int(batchId) in led["committed"]:
            # replayed epoch: the publish already happened — drop the
            # re-staged copies, never double-publish
            self._sweep(messages)
            return
        # an uncommitted epoch may have part files a torn attempt renamed
        # in before it crashed; if this replay produces FEWER files, the
        # higher-index orphans would stay visible while the ledger's row
        # count excludes them, so every part file of the epoch is replaced
        prefix = f"part-{int(batchId):05d}-"
        names = [f"{prefix}{i:05d}.jsonl" for i in range(len(messages))]
        led["rows"] += self._commit_staged(
            messages, names, lambda f: f.startswith(prefix) and f.endswith(".jsonl")
        )
        led["committed"].append(int(batchId))
        atomic_write(ledger, json.dumps(led))

    def abort(self, messages, batchId: int) -> None:
        self._sweep(messages)


class JsonlSinkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "jsonl_sink"

    def schema(self) -> str:  # pragma: no cover - writer-only source
        return "value string"

    def writer(self, schema, overwrite: bool) -> JsonlWriter:
        return JsonlWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool) -> JsonlStreamWriter:
        return JsonlStreamWriter(self.options)


def register(spark) -> None:
    spark.dataSource.register(JsonlSinkDataSource)
