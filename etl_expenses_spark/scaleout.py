"""Input fan-out for CPU-dense per-row stages (optimization guide §2.5/§4).

The problem this solves is input-parallelism starvation, not data volume:
a narrow scan — locally a single small parquet file with one row group, at
cluster scale one shard of a CDC delta or one unsplittable object — feeds a
compute-bound stage (text hashing, codec encode/decode, vector math) whose
per-row cost is thousands of cycles. Spark sizes scan partitions by BYTES
(``spark.sql.files.maxPartitionBytes``), so a few-MB input plans as ONE
task and the stage serializes on one core while the rest of the executor
sits idle (measured at sf0.1: the Avro codec ran 1.9 s on one task of a
32-core session; the MinHash signature stage 1.1 s on one task).

``fan_out`` hash-repartitions such an input up to the session's default
parallelism — and only UP: an input that already plans at or above the
session's parallelism (the 100 TB steady state) is returned untouched, so
this is never a coalesce and never adds an exchange where the scan is
already wide. The repartition is keyed (hash of the caller's id column),
not round-robin: deterministic row placement under task retry (no
sort-before-repartition pass, no SPARK-38388-class concerns).

Cost when it fires: one exchange of the narrow input (KBs..MBs here — the
payload columns selected by the caller, nothing more). The call sites are
exactly the stages a profile showed serializing on task-starved inputs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Planned-partition-count cache: probing a frame's partition count forces
# a physical-planning pass of its plan at build time, on EVERY invocation
# — pure driver overhead that grows with plan complexity. For the
# scan-derived frames every call site passes, the count is fixed by the
# logical plan (file listing included), the split size and the session's
# width, so the SECOND and later builds of the same query can reuse the
# first build's probe. Keyed by the canonicalized plan's semanticHash
# (JVM-side, no physical planning) plus every setting the count depends on
# besides the plan: the split-size and shuffle-width confs and the default
# parallelism, so a conf change re-probes instead of aliasing. The hash is
# 32 bits, so each entry keeps its analyzed plan and a hit counts only
# when that plan ``sameResult``s the probed one; a collision re-probes and
# takes the entry over. Checkpointed/cached leaves hash per-instance, so
# they simply miss and re-probe. Bounded: cleared wholesale if it ever
# grows past _PROBE_CACHE_MAX (sessions here build a few hundred distinct
# plans at most).
_PROBE_CACHE: dict[tuple, tuple[object, int]] = {}
_PROBE_CACHE_MAX = 1024
_PROBE_CONFS = (
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.files.openCostInBytes",
    "spark.sql.shuffle.partitions",
)


def _planned_partitions(df: DataFrame) -> int:
    """``df``'s physical partition count, memoized per (session, plan,
    sizing confs).

    Uses ``QueryExecution.toRdd`` via py4j — the internal row RDD, no
    Python-serializer wrapper like ``df.rdd`` — and falls back to the
    public path when JVM internals are unavailable (Spark Connect)."""
    jdf = getattr(df, "_jdf", None)
    if jdf is None:  # Spark Connect: no internals, no cheap cache key
        return df.rdd.getNumPartitions()
    qe = jdf.queryExecution()
    spark = df.sparkSession
    plan = qe.analyzed()
    key = (
        spark.sparkContext.applicationId,
        plan.semanticHash(),
        spark.sparkContext.defaultParallelism,
        *(spark.conf.get(k) for k in _PROBE_CONFS),
    )
    hit = _PROBE_CACHE.get(key)
    if hit is not None and hit[0].sameResult(plan):
        return hit[1]
    n = qe.toRdd().getNumPartitions()
    if len(_PROBE_CACHE) >= _PROBE_CACHE_MAX:
        _PROBE_CACHE.clear()
    _PROBE_CACHE[key] = (plan, n)
    return n


def fan_out(df: DataFrame, *keys: str | Column) -> DataFrame:
    """Raise ``df``'s partition count to the session's default parallelism
    when it plans below that; identity otherwise (never lowers parallelism,
    passes streaming frames through untouched)."""
    if df.isStreaming:
        return df
    n = df.sparkSession.sparkContext.defaultParallelism
    if _planned_partitions(df) >= n:
        return df
    cols = [F.col(k) if isinstance(k, str) else k for k in keys]
    return df.repartition(n, *cols) if cols else df.repartition(n)
