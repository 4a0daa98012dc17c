"""Minimal versioned table format: manifest-pointer snapshots over
plain parquet (Delta/Iceberg's core idea without the dependency).

Plain `df.write.parquet(path, mode="overwrite")` has two failure modes
at scale: a crashed overwrite leaves a half-deleted table, and readers
racing a writer see partial file sets. Both disappear when the data
files are immutable and a tiny pointer names the current version:

    table/
      data/<commit-uuid>/part-*.parquet   (immutable, append-only)
      _manifests/v{N}.json                (file-set of version N)
      _latest                             (text file: "N" — the pointer)

- WRITE: land data under a fresh uuid dir, claim manifest v{N+1}, then
  atomically swap the pointer (os.replace; both in
  :func:`commit_manifest`). A crash before the swap leaves garbage data
  files but a fully consistent table.
- READ: resolve the pointer (or an explicit version — time travel),
  load exactly the manifest's directories. Readers never see a partial
  commit.
- APPEND: new manifest = old manifest's dirs + the new dir. No data is
  rewritten.
- COMPACT: rewrite small files into a new dir and commit a manifest
  that references ONLY it — logically identical table, new version;
  time travel to the pre-compaction version still works.
- EXPIRE: drop manifests older than the last K and delete data dirs no
  surviving manifest references.

Local-filesystem ``os.replace`` gives the atomic pointer swap; on object
stores the same design uses a conditional PUT (S3 if-match) or a log
service — the reader/writer protocol is unchanged.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def _manifest_dir(table: str) -> str:
    return os.path.join(table, "_manifests")


def _pointer_path(table: str) -> str:
    return os.path.join(table, "_latest")


def read_pointer(pointer: str) -> int | None:
    """The version a pointer file names, or None before the first commit."""
    try:
        with open(pointer) as f:
            return int(f.read().strip())
    except FileNotFoundError:
        return None


def current_version(table: str) -> int | None:
    return read_pointer(_pointer_path(table))


def _load_manifest(table: str, version: int) -> dict:
    with open(os.path.join(_manifest_dir(table), f"v{version}.json")) as f:
        return json.load(f)


def commit_manifest(
    manifest_dir: str,
    pointer: str,
    prev: int | None,
    manifest_at: Callable[[int], dict],
) -> int:
    """Commit a manifest as ``v{prev+1}.json`` in ``manifest_dir`` (``v0``
    when ``prev`` is None), or as the next number no other writer holds,
    then swap ``pointer`` forward to it; returns the committed version.
    ``prev`` is the version the caller read before building its commit.
    Snapshot, rollback, catalog and release commits all go through here.

    The version CLAIM is ``os.link`` of a fully-written temp manifest (a
    conditional PUT, if-none-match, on object stores): the link fails if
    the number is taken, so two writers racing the same number never
    overwrite one manifest, and a claim lands with its content, so no
    reader sees a torn one. ``manifest_at(n)`` builds the manifest to
    claim as number ``n``; after a lost claim it is called again with the
    next number, which is where a caller rebases onto the winner. The
    pointer swap is forward-only: a slow writer that claimed a lower
    number never regresses the pointer past a faster writer's commit.
    Known residual anomaly, stated: a commit that serializes before a
    concurrent one becomes visible does not include it in its own lineage
    (optimistic concurrency without a commit log).
    """
    os.makedirs(manifest_dir, exist_ok=True)
    version = 0 if prev is None else prev + 1
    while True:
        target = os.path.join(manifest_dir, f"v{version}.json")
        tmp = f"{target}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest_at(version), f)
        try:
            os.link(tmp, target)
            break
        except FileExistsError:
            version += 1
        finally:
            os.remove(tmp)
    cur = read_pointer(pointer)
    if cur is None or cur < version:
        tmp = f"{pointer}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, pointer)  # the commit point
    return version


def _now() -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())


def snapshot_write(
    df: DataFrame,
    table: str,
    *,
    mode: str = "overwrite",
    ingest_ts: str | None = None,
) -> int:
    """Commit ``df`` as a new table version; returns the version number.

    ``mode='overwrite'`` replaces the logical content; ``'append'``
    adds to it. Either way no existing data file is touched — the
    difference is only which directories the new manifest references.
    """
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unsupported mode: {mode}")
    commit_id = uuid.uuid4().hex
    data_dir = os.path.join(table, "data", commit_id)
    df.write.parquet(data_dir)
    prev = current_version(table)

    def manifest_at(version: int) -> dict:
        dirs = [os.path.join("data", commit_id)]
        base = current_version(table)  # after a lost claim: the now-visible winner
        if mode == "append" and base is not None:
            dirs = _load_manifest(table, base)["data_dirs"] + dirs
        return {"version": version, "data_dirs": dirs, "committed_at": ingest_ts or _now(), "mode": mode}

    return commit_manifest(_manifest_dir(table), _pointer_path(table), prev, manifest_at)


def batch_marker(batch_id: int) -> str:
    """The ``committed_at`` marker a streaming micro-batch commits under:
    foreachBatch is at-least-once, so a replayed batch finds its marker
    in the history and skips the commit."""
    return f"batch-{batch_id}"


def marker_version(table: str, marker: str) -> int | None:
    """The version committed under ``marker``, or None if none was."""
    return next(
        (h["version"] for h in snapshot_history(table) if h.get("committed_at") == marker),
        None,
    )


def snapshot_append(df: DataFrame, table: str, *, marker: str) -> int:
    """Append ``df`` under ``marker``; the table's first commit is an
    overwrite that creates it."""
    mode = "append" if current_version(table) is not None else "overwrite"
    return snapshot_write(df, table, mode=mode, ingest_ts=marker)


def snapshot_read(
    spark: SparkSession, table: str, *, version: int | None = None
) -> DataFrame:
    """Read a table version (latest by default; older = time travel)."""
    if version is None:
        version = current_version(table)
    if version is None:
        raise FileNotFoundError(f"no committed version at {table}")
    manifest = _load_manifest(table, version)
    paths = [os.path.join(table, d) for d in manifest["data_dirs"]]
    return spark.read.parquet(*paths)


def snapshot_history(table: str) -> list[dict]:
    """All committed manifests, oldest first."""
    mdir = _manifest_dir(table)
    if not os.path.isdir(mdir):
        return []
    versions = sorted(
        int(f[1:-5]) for f in os.listdir(mdir) if f.startswith("v") and f.endswith(".json")
    )
    return [_load_manifest(table, v) for v in versions]


def snapshot_compact(
    spark: SparkSession,
    table: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_within_by: list[str] | None = None,
) -> int:
    """Rewrite the current version's files into ~target-sized files and
    commit the result as a NEW version (old versions stay readable)."""
    import math

    df = snapshot_read(spark, table)
    cur = current_version(table)
    size = sum(
        os.path.getsize(os.path.join(dp, f))
        for d in _load_manifest(table, cur)["data_dirs"]
        for dp, _, fns in os.walk(os.path.join(table, d))
        for f in fns
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(size / target_file_bytes))
    out = df.repartition(n_files)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    return snapshot_write(out, table, mode="overwrite")


class CheckViolation(ValueError):
    """Raised by :func:`snapshot_write_checked` — carries the failing
    (check, violations) rows so callers can log/alert precisely."""

    def __init__(self, failures: list):
        self.failures = failures
        super().__init__(f"write rejected by checks: {failures}")


def snapshot_write_checked(
    df: DataFrame,
    table: str,
    *,
    checks: list,
    ingest_ts: str | None = None,
) -> int:
    """Constraint-enforced commit: evaluate Deequ-style checks
    (operators/profiling — not_null / unique_key / in_range / in_set)
    in ONE aggregate pass; commit only if every check passes, else
    raise :class:`CheckViolation` with the per-check violation counts.

    The table NEVER sees a bad version — readers and time travel only
    observe constraint-clean commits (write-audit-publish with the
    audit inlined). At scale the check pass is one partial-agg scan of
    the incoming data, which the write was going to scan anyway.
    """
    from etl_weather_spark.operators.profiling import run_checks

    results = run_checks(df, checks).collect()
    failures = [(r["check"], r["violations"]) for r in results if not r["passed"]]
    if failures:
        raise CheckViolation(failures)
    return snapshot_write(df, table, mode="overwrite", ingest_ts=ingest_ts)


def snapshot_rollback(table: str, *, to_version: int) -> int:
    """Roll back to an earlier version APPEND-ONLY: commit a NEW
    version whose manifest references the old version's data dirs —
    no data moves, history stays intact (the bad version remains
    time-travelable for forensics until expiry), and concurrent
    readers just see the pointer advance. The new version is claimed
    like any commit (:func:`commit_manifest`), so a racer's manifest
    is never overwritten.
    """
    dirs = _load_manifest(table, to_version)["data_dirs"]
    prev = current_version(table)

    def manifest_at(version: int) -> dict:
        return {"version": version, "data_dirs": dirs, "committed_at": _now(), "mode": f"rollback(to=v{to_version})"}

    return commit_manifest(_manifest_dir(table), _pointer_path(table), prev, manifest_at)


def snapshot_merge(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    on: list[str],
    *,
    delete_condition=None,
) -> int:
    """MERGE a changeset into the current version (SCD1 upsert +
    optional delete), committed copy-on-write as a NEW version.

    Old versions stay readable (time travel), so a bad merge is a
    pointer rollback, not a restore job. The relational semantics live
    in operators/merge.merge_frames; at 100 TB pair with
    partition-pruned rewrite or bucketed targets (see that module's
    scale notes) so a small changeset doesn't rewrite the world.
    """
    from etl_weather_spark.operators.merge import merge_frames

    target = snapshot_read(spark, table)
    merged = merge_frames(target, source, on, delete_condition=delete_condition)
    return snapshot_write(merged, table, mode="overwrite")


def snapshot_changes(
    spark: SparkSession,
    table: str,
    on: list[str],
    *,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level CDC between two committed versions: (keys…,
    change_type ∈ insert/update/delete, row values). The batch analog
    of Delta's ``table_changes`` — downstream consumers re-derive
    increments without re-reading either full version twice."""
    from etl_weather_spark.operators.merge import diff_frames

    old = snapshot_read(spark, table, version=from_version)
    new = snapshot_read(spark, table, version=to_version)
    return diff_frames(old, new, on)


def expire_snapshots(table: str, *, keep_last: int = 2) -> list[int]:
    """Drop all but the newest ``keep_last`` versions and delete data
    dirs no surviving manifest references. Returns expired versions."""
    history = snapshot_history(table)
    if len(history) <= keep_last:
        return []
    surviving = history[-keep_last:]
    expired = history[:-keep_last]
    keep_dirs = {d for m in surviving for d in m["data_dirs"]}
    for m in expired:
        for d in m["data_dirs"]:
            if d not in keep_dirs:
                shutil.rmtree(os.path.join(table, d), ignore_errors=True)
        os.remove(os.path.join(_manifest_dir(table), f"v{m['version']}.json"))
    return [m["version"] for m in expired]
