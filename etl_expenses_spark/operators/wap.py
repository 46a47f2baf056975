"""Write-audit-publish: atomic batch commits on plain parquet.

Plain parquet directory appends are not atomic: a crashed job leaves partial
files that readers see. The reference recovers from a failed load with a
compensation lambda that issues rollback UPDATEs and deletes temp objects
(its ``compensation_flow/lambda_function.py:34-56``). This engine commits
every batch write through one sequence instead (``_publish``):

1. CLAIM the next version number (an O_EXCL marker ``_staging/v{N}.claim``);
2. WRITE the batch to ``_staging/v{N}``, which no manifest names;
3. AUDIT what was actually written; a rejection deletes the stage and
   raises ValueError with the table untouched;
4. PUBLISH: rename the stage to ``v{N}``, replace the ``_CURRENT`` manifest
   readers resolve (append: committed + [N]; replace: [N]) with
   ``atomic_write``, and append the snapshot to ``_HISTORY``;
5. RELEASE the claim.

The public writers differ only in what they write and how they audit:
``publish_append``/``publish_replace`` re-read the stage, ``publish_append_
observed`` checks the ``df.observe`` metrics its own write job collected,
and ``compact_published`` writes a coalesced copy and checks the row count.

A version a stream epoch published records that epoch in ``v{N}/_EPOCH``
(the parquet reader skips ``_`` files), and a replace carries the table's
highest epoch forward, so a replayed epoch is recognised even after a
compaction (streaming/pipeline.py ``run_events_stream_to_wap``).

A crash before the manifest swap leaves garbage only in ``_staging`` or in
an unnamed version dir (``vacuum`` reaps both); readers always see a
consistent set of fully written versions. This is the commit shape of table
formats (Armbrust et al., *Delta Lake*, VLDB 2020): a version becomes
visible through one atomic metadata swap. ``os.replace`` stands in for the
metastore swap and is atomic on any POSIX filesystem.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

AuditFn = Callable[[DataFrame], str | None]  # error message or None = pass

_CURRENT = "_CURRENT"
_STAGING = "_staging"
_HISTORY = "_HISTORY"
_EPOCH = "_EPOCH"


def atomic_write(path: str, text: str) -> None:
    """Make ``text`` the content of ``path`` in one step: write a temp file
    beside it and ``os.replace`` it over ``path``, so a reader sees the old
    content or the new, never a torn file. A crash in between leaks the
    temp (``.<name>…``), which the owner's GC reaps; nothing cleans up here,
    since a real crash could not either. ``os.replace`` is called through
    the ``os`` module so a fail-point on it tears the commit."""
    fd, tmp = tempfile.mkstemp(
        dir=os.path.dirname(path), prefix="." + os.path.basename(path)
    )
    with os.fdopen(fd, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def _read(path: str) -> str:
    """The text of a file; empty while it does not exist."""
    if not os.path.exists(path):
        return ""
    with open(path) as f:
        return f.read().strip()


def read_json(path: str, default):
    """The JSON ``atomic_write`` committed at ``path``; ``default`` before
    the first commit."""
    text = _read(path)
    return json.loads(text) if text else default


def _ints(csv: str) -> list[int]:
    return [int(v) for v in csv.split(",") if v]


def _committed_versions(table_root: str) -> list[int]:
    return _ints(_read(os.path.join(table_root, _CURRENT)))


def _last_epoch(table_root: str) -> int:
    """The highest stream epoch a committed version recorded; -1 if none."""
    return max(
        (int(_read(os.path.join(table_root, f"v{v}", _EPOCH)) or -1)
         for v in _committed_versions(table_root)),
        default=-1,
    )


def _claim_version(table_root: str) -> tuple[int, str]:
    """Allocate the next version number with an O_EXCL claim marker so two
    concurrent publishers on the same filesystem can never pick the same
    version (each loser of the create race bumps and retries). The MANIFEST
    swap itself remains last-writer-wins — run one publisher per table, or
    front this with a real metastore/table-format commit at scale; the
    marker guarantees version-dir isolation either way."""
    os.makedirs(os.path.join(table_root, _STAGING), exist_ok=True)
    committed = _committed_versions(table_root)
    version = (max(committed) + 1) if committed else 1
    while True:
        marker = os.path.join(table_root, _STAGING, f"v{version}.claim")
        # skip a version dir a crash left between its rename and the swap
        if not os.path.exists(os.path.join(table_root, f"v{version}")):
            try:
                os.close(os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
                return version, marker
            except FileExistsError:
                pass
        version += 1


def _publish(
    table_root: str,
    write: Callable[[str], None],
    audit: Callable[[str], str | None],
    replace: bool = False,
    epoch: int = -1,
) -> int:
    """The one commit sequence (module docstring): ``write(staged)`` stages
    the batch, ``audit(staged)`` returns an error message or None. A stream
    sink passes its ``epoch`` (>= 0) to record it in the version dir."""
    version, marker = _claim_version(table_root)
    staged = os.path.join(table_root, _STAGING, f"v{version}")
    final = os.path.join(table_root, f"v{version}")
    try:
        write(staged)
        err = audit(staged)
        if err is not None:
            shutil.rmtree(staged, ignore_errors=True)
            raise ValueError(f"audit rejected staged v{version}: {err}")
        if replace:  # carry the epochs of the versions it drops forward
            epoch = max(epoch, _last_epoch(table_root))
        if epoch >= 0:
            with open(os.path.join(staged, _EPOCH), "w") as f:
                f.write(str(epoch))
        os.replace(staged, final)
        # re-read the manifest here, not at claim time: narrowest window
        manifest = [version] if replace else _committed_versions(table_root) + [version]
        atomic_write(os.path.join(table_root, _CURRENT), ",".join(map(str, manifest)))
        _append_history(table_root, version, manifest)
    finally:
        if os.path.exists(marker):
            os.remove(marker)
    return version


def _reread(spark: SparkSession, audits: list[AuditFn] | None):
    """A staged-path audit that re-reads the stage and runs ``audits`` on
    what was actually written, not on the in-flight plan."""

    def audit(staged: str) -> str | None:
        if not audits:
            return None
        staged_df = spark.read.parquet(staged)
        return next((e for a in audits if (e := a(staged_df)) is not None), None)

    return audit


def publish_append(
    spark: SparkSession,
    df: DataFrame,
    table_root: str,
    audits: list[AuditFn] | None = None,
) -> int:
    """Stage ``df`` as the table's next version, audit it, publish it.

    Returns the published version number; raises ValueError (table
    untouched) if any audit rejects the staged data.
    """
    return _publish(table_root, df.write.mode("overwrite").parquet, _reread(spark, audits))


def publish_replace(
    spark: SparkSession,
    df: DataFrame,
    table_root: str,
    audits: list[AuditFn] | None = None,
) -> int:
    """Stage ``df``, audit it, publish it as the table's NEW CURRENT STATE
    (manifest names only this version — the write path a MERGE/UPSERT or
    full rewrite uses, vs ``publish_append``'s union semantics). The prior
    state's version dirs stay on disk and remain reachable via the
    snapshot log (read_as_of) until vacuum — exactly the table-format
    contract: a merge creates a new snapshot, it never rewrites history.
    """
    return _publish(table_root, df.write.mode("overwrite").parquet,
                    _reread(spark, audits), replace=True)


def read_published(spark: SparkSession, table_root: str) -> DataFrame:
    """Scan exactly the committed versions (union of their parquet dirs)."""
    versions = _committed_versions(table_root)
    if not versions:
        raise FileNotFoundError(f"no published versions under {table_root}")
    return spark.read.parquet(*[os.path.join(table_root, f"v{v}") for v in versions])


def audit_min_rows(n: int) -> AuditFn:
    return lambda df: None if df.count() >= n else f"fewer than {n} rows"


def audit_no_nulls(cols: list[str]) -> AuditFn:
    def check(df: DataFrame) -> str | None:
        bad = df.filter(
            " OR ".join(f"{c} IS NULL" for c in cols)
        ).limit(1).count() if cols else 0
        return None if bad == 0 else f"NULL in one of {cols}"

    return check


def audit_unique_key(cols: list[str]) -> AuditFn:
    def check(df: DataFrame) -> str | None:
        total = df.count()
        distinct = df.select(*cols).distinct().count()
        return None if total == distinct else f"duplicate keys on {cols}"

    return check


def _rule_failure(rules, values) -> str | None:
    for n, _, pred in rules:
        if not pred(values[n]):
            return f"metric rule '{n}' failed (value={values[n]!r})"
    return None


def publish_append_observed(
    spark: SparkSession,
    df: DataFrame,
    table_root: str,
    rules: list[tuple[str, "Column", Callable[[object], bool]]],
) -> int:
    """WAP where the audit metrics ride ON the staging write itself
    (``df.observe``) — zero extra scans: the aggregates are folded into the
    write job, the staged files land, THEN the metrics are inspected and
    the version is published or discarded. The discard path only removes
    never-published staging files, so a rejected batch is invisible to
    readers, same contract as ``publish_append``.

    This is the production shape for auditing a 100 TB batch: re-reading
    what you just wrote doubles the I/O bill; observation metrics are free.
    """
    from pyspark.sql import Observation

    obs = Observation()
    observed = df.observe(obs, *[c.alias(n) for n, c, _ in rules])
    return _publish(
        table_root, observed.write.mode("overwrite").parquet,
        lambda _staged: _rule_failure(rules, obs.get),
    )


def compact_published(
    spark: SparkSession,
    table_root: str,
    target_files: int = 1,
) -> int:
    """Compact every committed version into one new version with
    ``target_files`` parquet files, then atomically swap the manifest to
    point at it alone.

    Small-file buildup is the chronic failure mode of append-style gold
    tables (every micro-batch/merge adds files; at 100 TB a scan pays an
    open/footer cost per file and the driver pays listing time). Compaction
    here is just WAP again: WRITE the coalesced copy as the next version,
    AUDIT nothing changed (row count preserved — cheap, metadata-only on
    parquet), PUBLISH a manifest naming only the compacted version. Old
    version dirs stay on disk for time travel until ``vacuum``.
    """
    current = read_published(spark, table_root)
    n_before = current.count()

    def audit(staged: str) -> str | None:
        n_after = spark.read.parquet(staged).count()
        return None if n_after == n_before else f"compaction row drift: {n_before} -> {n_after}"

    return _publish(
        table_root, current.coalesce(target_files).write.mode("overwrite").parquet,
        audit, replace=True,
    )


def vacuum(table_root: str, keep_unreferenced: bool = False) -> list[str]:
    """Remove files no reader can see: leftover ``_staging`` writes (crashed
    or audit-rejected jobs), version dirs no longer named by the manifest
    (superseded by compaction) and ``._CURRENT*`` temps a crashed manifest
    swap leaked. Returns the removed paths.

    Safe by construction: the manifest (_CURRENT) is the single source of
    reader truth and this only deletes paths outside it — the analog of a
    table format's expire-snapshots/vacuum with retention zero. Anything
    versioned NEWER than the manifest's high-water mark is skipped: it may
    belong to a concurrent publisher that claimed/renamed its version dir
    but has not yet swapped the manifest, and while such a publisher may be
    in flight the manifest temps are left alone too. Pass
    ``keep_unreferenced=True`` to keep superseded versions for debugging.
    """

    def _vnum(name: str) -> int | None:
        stem = name.split(".")[0]
        if stem.startswith("v") and stem[1:].isdigit():
            return int(stem[1:])
        return None

    committed = _committed_versions(table_root)
    high_water = max(committed) if committed else 0
    removed: list[str] = []
    in_flight = False
    staging_root = os.path.join(table_root, _STAGING)
    if os.path.isdir(staging_root):
        for leftover in sorted(os.listdir(staging_root)):
            v = _vnum(leftover)
            if v is not None and v > high_water:
                in_flight = True  # possibly a concurrent writer's stage/claim
                continue
            p = os.path.join(staging_root, leftover)
            shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)
            removed.append(p)
    live = {f"v{v}" for v in committed}
    for entry in sorted(os.listdir(table_root)):
        p = os.path.join(table_root, entry)
        v = _vnum(entry)
        if entry.startswith("." + _CURRENT) and not in_flight:
            os.remove(p)  # a manifest temp a crashed atomic_write leaked
            removed.append(p)
        elif (
            not keep_unreferenced
            and os.path.isdir(p)
            and v is not None
            and entry not in live
            and v <= high_water
        ):
            shutil.rmtree(p, ignore_errors=True)
            removed.append(p)
    return removed


def versions(table_root: str) -> list[int]:
    """The committed version list (manifest order) — the table's readable
    history. Superseded versions (dropped from the manifest by compaction)
    remain on disk until vacuum and stay individually readable via
    ``read_version``."""
    return _committed_versions(table_root)


def read_version(spark: SparkSession, table_root: str, version: int) -> DataFrame:
    """Time-travel-ish read of ONE version dir (a single publish's rows —
    audit forensics, incremental consumers reading exactly the batches
    they haven't seen). Any version that was ever published and not yet
    vacuumed is readable, including ones compaction superseded."""
    path = os.path.join(table_root, f"v{version}")
    if not os.path.isdir(path):
        raise FileNotFoundError(f"version {version} not on disk under {table_root}")
    return spark.read.parquet(path)


def _append_history(table_root: str, commit: int, manifest: list[int]) -> None:
    """Append one snapshot line ``commit:v0,v1,...`` to the manifest LOG.

    The _CURRENT manifest holds only the latest state; the log keeps every
    state ever committed, which is what gives the table Iceberg-style
    snapshot time travel (read_as_of) across appends AND compactions.
    Appended after the atomic manifest swap: a crash in between loses only
    the newest snapshot's history line (read_as_of falls back to the
    manifest-prefix rule for it), never corrupts prior lines."""
    with open(os.path.join(table_root, _HISTORY), "a") as f:
        f.write(f"{commit}:{','.join(str(v) for v in manifest)}\n")


def snapshots(table_root: str) -> dict[int, list[int]]:
    """commit id -> the manifest (version list) as of that commit."""
    out: dict[int, list[int]] = {}
    for line in _read(os.path.join(table_root, _HISTORY)).splitlines():
        if line.strip():
            commit, vs = line.strip().split(":", 1)
            out[int(commit)] = _ints(vs)
    return out


def read_as_of(spark: SparkSession, table_root: str, commit: int) -> DataFrame:
    """TIME TRAVEL: the table exactly as it stood after ``commit`` was
    published — the union of the versions that commit's manifest named,
    replayed from the snapshot log. Works across compaction (a pre-compact
    commit resolves to the original small versions, which stay on disk
    until ``vacuum``); after vacuum, snapshots older than the retained
    files raise FileNotFoundError — the standard retention contract.

    Falls back to the manifest-prefix rule (committed versions ≤ commit)
    when the snapshot log predates this feature or lost its newest line to
    a crash."""
    snaps = snapshots(table_root)
    manifest = snaps.get(int(commit))
    if manifest is None:
        prefix = [v for v in _committed_versions(table_root) if v <= int(commit)]
        if not prefix or int(commit) not in prefix:
            raise FileNotFoundError(
                f"no snapshot for commit {commit} under {table_root}"
            )
        manifest = prefix
    paths = [os.path.join(table_root, f"v{v}") for v in manifest]
    for p in paths:
        if not os.path.isdir(p):
            raise FileNotFoundError(
                f"snapshot {commit} references vacuumed version dir {p}; "
                "older-than-retention time travel is gone by design"
            )
    return spark.read.parquet(*paths)
