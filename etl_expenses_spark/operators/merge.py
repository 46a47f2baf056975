"""Idempotent append — the reference's exactly-once loading core.

Re-expresses J1-J4 (SURVEY.md §2.4): the reference reads the target's
DISTINCT keys into a Python set and skips already-loaded batches
(`/root/reference/load_data/lambda_function.py:39-73,164-200`,
`extract_data_pdf/lambda_function.py:140-147`). Here it's a single
``left_anti`` join — distributed, no driver-side set, no O(target) memory:

- Small target-key side → Catalyst broadcasts it automatically.
- Huge target → the anti-join shuffles on the key, which AQE handles;
  at 100 TB the right design is a date-partitioned gold table so the
  anti-join only scans the partitions the batch can overlap (pass
  ``target_pruned`` accordingly).

An append is one staged write (``_append``): the fresh rows go once to
``{gold}/_staging/<uuid>/``, which no reader lists (Spark skips
``_``-prefixed paths); the appended count is summed from the staged parquet
footers on the driver, with no count job and no ``observe()``; and each
non-empty staged file is moved into gold with ``os.replace``. A crash
before the moves leaves gold untouched. A crash between two moves leaves
some of the batch's files published, each holding whole rows, so a re-run
of the same batch appends exactly the missing keys.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid
from collections.abc import Sequence
from contextlib import suppress

import pyarrow.parquet as pq
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def new_rows(batch: DataFrame, target: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Rows of ``batch`` whose key is absent from ``target`` (left_anti)."""
    return batch.join(target.select(*keys).distinct(), on=list(keys), how="left_anti")


def upsert(updates: DataFrame, target: DataFrame, keys: Sequence[str]) -> DataFrame:
    """MERGE semantics without a transactional table format: rows of
    ``updates`` replace target rows with the same key; all other target rows
    pass through. ``updates ∪ (target ⟕anti updates)`` — one anti-join
    shuffle (or broadcast when the batch is small, the common case: a daily
    batch vs a 100 TB gold table broadcasts the BATCH key set). Pair with
    operators/wap.py to publish the rewritten partitions atomically; at
    scale, pre-filter ``target`` to the partitions the batch touches so the
    rewrite is partition-local, not a full-table scan."""
    keep = target.join(updates.select(*keys).distinct(), on=list(keys), how="left_anti")
    return updates.unionByName(keep)


def read_gold(spark, target_path: str, schema=None, **options) -> DataFrame | None:
    """The parquet table at ``target_path``, or None when there is none yet.
    A given ``schema`` is read as is, with no footer-inference job.

    Only a MISSING or EMPTY target means "first load": PATH_NOT_FOUND for
    an absent dir, UNABLE_TO_INFER_SCHEMA for a dir with no parquet files
    yet. Any other failure (corrupt footer, a non-parquet file, schema
    problem, permissions surfaced as analysis) propagates — treating it as
    a first load would append the full batch and silently break the
    exactly-once J1-J4 contract."""
    reader = spark.read.options(**options)
    try:
        return (reader.schema(schema) if schema else reader).parquet(target_path)
    except AnalysisException as e:
        if e.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise


def merge_append(
    batch: DataFrame,
    target_path: str,
    keys: Sequence[str],
    partition_by: Sequence[str] | None = None,
) -> int:
    """Append only not-yet-loaded rows of ``batch`` to the parquet table at
    ``target_path``. Returns the number of rows appended. Loading the same
    batch twice is a no-op (the idempotency property test in
    tests/test_merge.py — the J1-J4 contract). Gold's key columns are read
    with the batch's own key schema, so no job infers gold's footers."""
    target = read_gold(batch.sparkSession, target_path, batch.select(*keys).schema)
    fresh = batch if target is None else new_rows(batch, target, keys)
    return _append(fresh, target_path, partition_by)


def _append(fresh: DataFrame, target_path: str,
            partition_by: Sequence[str] | None) -> int:
    """Write ``fresh`` once to this call's stage, count it from the footers
    and move its non-empty files into gold (module docstring). Whatever
    happens, this call's stage is removed, and ``_staging`` too once no
    other writer's stage is left in it."""
    staged = os.path.join(target_path, "_staging", uuid.uuid4().hex)
    try:
        writer = fresh.write
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staged)
        files = glob.glob("**/*.parquet", root_dir=staged, recursive=True)
        rows = {f: pq.read_metadata(os.path.join(staged, f)).num_rows for f in files}
        for f in (f for f in files if rows[f]):
            dst = os.path.join(target_path, f)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(os.path.join(staged, f), dst)
        return sum(rows.values())
    finally:
        shutil.rmtree(staged, ignore_errors=True)
        with suppress(OSError):
            os.rmdir(os.path.dirname(staged))


# numeric widening lattice for safe automatic evolution: a column may move
# UP this chain (int -> bigint, float -> double), never down or across
_WIDEN = {
    ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
    ("smallint", "int"), ("smallint", "bigint"),
    ("int", "bigint"),
    ("float", "double"),
    ("date", "timestamp"),
}


def _widened(a: str, b: str) -> str | None:
    """The wider of two primitive type names, or None if incompatible."""
    if a == b:
        return a
    if (a, b) in _WIDEN:
        return b
    if (b, a) in _WIDEN:
        return a
    return None


def evolve_schema(batch: DataFrame, target: DataFrame) -> DataFrame:
    """Align ``batch`` to the UNION of both schemas — the ADD COLUMN /
    widen-type half of schema evolution a parquet gold table can absorb
    without rewriting history:

    - columns only in the target are added to the batch as typed NULLs
      (old files already lack the batch's new columns; parquet
      ``mergeSchema`` readers see NULLs both ways),
    - shared columns where the batch is NARROWER are cast up to the
      target's type (int→bigint, float→double, date→timestamp: lossless);
    - a batch column WIDER than the target raises: appending wider
      footers makes the table unreadable (parquet mergeSchema refuses
      int32/int64 mixes — verified), and narrowing silently is how gold
      tables rot. Widening the table itself is a rewrite, not an append.

    Returns the aligned batch (target columns first, new columns after, so
    appended files keep a stable column order)."""
    t_fields = {f.name: f.dataType.simpleString() for f in target.schema.fields}
    b_fields = {f.name: f.dataType.simpleString() for f in batch.schema.fields}
    cols = []
    for f in target.schema.fields:
        name, t_type = f.name, f.dataType.simpleString()
        if name not in b_fields:
            cols.append(F.lit(None).cast(f.dataType).alias(name))
            continue
        b_type = b_fields[name]
        wide = _widened(b_type, t_type)
        if wide is None:
            raise TypeError(
                f"column {name!r}: batch type {b_type} incompatible with "
                f"target type {t_type} (not in the widening lattice)"
            )
        if wide != t_type:
            raise TypeError(
                f"column {name!r}: batch type {b_type} is WIDER than target "
                f"type {t_type} — appending would leave mixed parquet "
                f"footers mergeSchema cannot read; widen the table with a "
                f"rewrite (WAP compact), then load"
            )
        cols.append(F.col(name).cast(f.dataType).alias(name))
    for f in batch.schema.fields:  # genuinely new columns, batch order
        if f.name not in t_fields:
            cols.append(F.col(f.name))
    return batch.select(*cols)


def merge_append_evolve(
    batch: DataFrame,
    target_path: str,
    keys: Sequence[str],
    partition_by: Sequence[str] | None = None,
) -> int:
    """``merge_append`` with schema evolution: the batch is aligned to the
    union schema (``evolve_schema``) before the anti-join, so a source
    that grew a column — the reference's recurring dual-header problem
    (SURVEY §2.9 F16) in its incremental form — keeps loading instead of
    failing or forking the table. Readers of an evolved gold table must
    pass ``mergeSchema=true`` (older footers lack the new columns);
    ``read_evolved`` below does."""
    target = read_gold(batch.sparkSession, target_path, mergeSchema="true")
    if target is not None:
        batch = new_rows(evolve_schema(batch, target), target, keys)
    return _append(batch, target_path, partition_by)


def read_evolved(spark, target_path: str) -> DataFrame:
    """Read an evolved gold table: union schema across all footers, files
    missing newer columns contribute NULLs."""
    return spark.read.option("mergeSchema", "true").parquet(target_path)


def snapshot_diff(
    old: DataFrame, new: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Classify the change between two table versions into a CDC feed:
    one row per inserted / updated / deleted key — ``op`` ('I'/'U'/'D')
    plus the NEW image of every non-key column (NULL for deletes).
    Unchanged rows are dropped. One co-partitioned full-outer shuffle on
    the key; with both versions bucketed by key it is exchange-free.

    The inverse is ``apply_diff``: ``apply_diff(old, snapshot_diff(old,
    new), keys)`` reconstructs ``new`` exactly (property test in
    tests/test_merge.py) — which is what makes the feed safe to ship to a
    downstream consumer instead of the full snapshot."""
    val_cols = [c for c in new.columns if c not in keys]
    # alias both sides: old/new often share lineage (same source table), and
    # unqualified key references would be ambiguous in the self-join
    o = old.select(
        *keys, F.struct(*[F.col(c) for c in val_cols]).alias("__old")
    ).alias("__o")
    n = new.select(
        *keys, F.struct(*[F.col(c) for c in val_cols]).alias("__new")
    ).alias("__n")
    kcond = [
        F.col(f"__o.{k}").eqNullSafe(F.col(f"__n.{k}")) for k in keys
    ]
    j = o.join(n, kcond, "full_outer")
    old_present = F.col(f"__o.{keys[0]}").isNotNull()
    new_present = F.col(f"__n.{keys[0]}").isNotNull()
    op = (
        F.when(~old_present, "I")
        .when(~new_present, "D")
        .otherwise("U")
    )
    changed = ~old_present | ~new_present | ~F.col("__old").eqNullSafe(F.col("__new"))
    out_keys = [
        F.coalesce(F.col(f"__o.{k}"), F.col(f"__n.{k}")).alias(k) for k in keys
    ]
    return j.filter(changed).select(
        *out_keys,
        op.alias("op"),
        *[F.col(f"__new.{c}").alias(c) for c in val_cols],
    )


def apply_diff(old: DataFrame, diff: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Apply a ``snapshot_diff`` feed to ``old``, reconstructing the new
    version: drop every changed key (U and D), then union the new images
    (I and U). One anti-join shuffle + a union — the CDC consumer's merge,
    and exactly ``upsert`` + deletes in one pass."""
    touched = diff.select(*keys)
    kept = old.join(touched, on=list(keys), how="left_anti")
    new_rows_df = diff.filter(F.col("op") != "D").drop("op")
    return kept.unionByName(new_rows_df)
