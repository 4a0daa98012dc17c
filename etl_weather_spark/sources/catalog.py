"""Multi-table catalog: ATOMIC cross-table snapshot commits.

Per-table snapshots (sources/snapshots.py) make each table individually
consistent, but a training run reads SEVERAL tables — documents,
embeddings, labels — and a writer updating them one at a time exposes
readers to a torn state (new docs, old embeddings). The fix is one more
level of the same pointer trick:

    catalog/
      _versions/v{N}.json     {table_name: {"path": ..., "version": V}}
      _latest                 text file "N" — THE commit point

- COMMIT: land every table as a new per-table snapshot version (their
  own pointers advance, but catalog readers never consult them), then
  write catalog manifest v{N+1} and atomically swap the catalog
  pointer. A crash ANYWHERE before the swap leaves catalog readers on
  the old, mutually-consistent set — partially-written table versions
  are just unreferenced garbage.
- READ: resolve the catalog version once (or pin an explicit version —
  cross-table time travel), then read each table AT ITS PINNED
  VERSION. Every table a reader touches comes from the same commit.

This is the catalog-level atomicity Iceberg gets from a metastore
transaction and Delta from the _last_checkpoint protocol — here it is
one ``os.replace`` on local disk (conditional PUT on object stores).

Scale: the catalog manifest is a few hundred bytes regardless of data
size; commit cost is the per-table snapshot writes, which are the
writes you were doing anyway.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from etl_weather_spark.sources.snapshots import (
    commit_manifest,
    read_pointer,
    snapshot_read,
    snapshot_write,
)

__all__ = [
    "catalog_commit_pins",
    "catalog_commit_tables",
    "catalog_current",
    "catalog_manifest",
    "catalog_read",
    "catalog_versions",
]

PUBLISH_QUERY_NAME = "catalog_publish"


def _vdir(catalog: str) -> str:
    return os.path.join(catalog, "_versions")


def _pointer(catalog: str) -> str:
    return os.path.join(catalog, "_latest")


def catalog_current(catalog: str) -> int | None:
    return read_pointer(_pointer(catalog))


def _load(catalog: str, version: int) -> dict:
    with open(os.path.join(_vdir(catalog), f"v{version}.json")) as f:
        return json.load(f)


def catalog_versions(catalog: str, *, version: int | None = None) -> dict:
    """{table_name: {"path":…, "version":…}} pinned by one commit."""
    if version is None:
        version = catalog_current(catalog)
    if version is None:
        raise FileNotFoundError(f"no committed catalog version at {catalog}")
    pins = dict(_load(catalog, version))
    # "__"-prefixed keys are commit metadata (streaming batch marker,
    # release fingerprint), never tables
    for k in [k for k in pins if k.startswith("__")]:
        pins.pop(k)
    return pins


def catalog_manifest(catalog: str, *, version: int | None = None) -> dict:
    """The RAW manifest of one commit — pins plus any ``__``-prefixed
    commit metadata (e.g. a release's corpus fingerprint)."""
    if version is None:
        version = catalog_current(catalog)
    if version is None:
        raise FileNotFoundError(f"no committed catalog version at {catalog}")
    return dict(_load(catalog, version))


def catalog_commit_tables(
    spark: SparkSession,
    catalog: str,
    writes: dict[str, DataFrame],
    *,
    table_root: str | None = None,
) -> int:
    """Commit a set of table updates as ONE atomic catalog version.

    ``writes`` maps table name → DataFrame. Unmentioned tables carry
    over at their previously-pinned versions. Each table lands as a
    normal per-table snapshot first (crash-safe garbage if we die),
    and the single catalog pointer swap at the end is the only commit
    point.
    """
    return _commit_tables(spark, catalog, writes, table_root, "overwrite", {})


def _commit_tables(
    spark: SparkSession,
    catalog: str,
    writes: dict[str, DataFrame],
    table_root: str | None,
    mode: str,
    extra: dict,
) -> int:
    """:func:`catalog_commit_tables`, with ``extra`` commit metadata
    written into the claimed manifest, so it lands with the swap."""
    table_root = table_root or os.path.join(catalog, "tables")
    prev = catalog_current(catalog)
    pinned = dict(_load(catalog, prev)) if prev is not None else {}
    pinned.pop("__batch_id", None)  # never carry a batch marker forward

    for name, df in writes.items():
        path = pinned.get(name, {}).get("path") or os.path.join(table_root, name)
        v = snapshot_write(df, path, mode=mode)
        pinned[name] = {"path": path, "version": v}

    def manifest_at(version: int) -> dict:
        if version > (0 if prev is None else prev + 1):
            # lost v{version-1}: the tables this commit didn't write
            # follow the winner's pins
            theirs = dict(_load(catalog, version - 1))
            theirs.pop("__batch_id", None)
            pinned.update({n: pin for n, pin in theirs.items() if n not in writes})
        return {**pinned, **extra}

    return commit_manifest(_vdir(catalog), _pointer(catalog), prev, manifest_at)


def catalog_commit_pins(
    catalog: str,
    pins: dict[str, dict],
    *,
    extra: dict | None = None,
) -> int:
    """Commit a COMPLETE pin set {table: {"path":…, "version":…}} of
    already-committed per-table snapshot versions as one atomic catalog
    version — no data is written, only the manifest + pointer. This is
    how a RELEASE pins N independently-published artifact tables to one
    mutually-consistent set (operators/artifacts.publish_release).

    Unlike :func:`catalog_commit_tables`, previous pins are NOT carried
    forward — a release names everything it contains, and a partial
    carry-over would be exactly the mixed-version state releases exist
    to prevent. ``extra`` entries must be ``__``-prefixed commit
    metadata; they ride the manifest and are invisible to
    :func:`catalog_versions` readers. Concurrency: the same version
    claim as table commits — the loser simply retries at N+1 with its
    own complete pin set (no rebase needed).
    """
    bad = [k for k in (extra or {}) if not k.startswith("__")]
    if bad:
        raise ValueError(f"extra keys must be __-prefixed metadata: {bad}")
    manifest = {**pins, **(extra or {})}
    return commit_manifest(_vdir(catalog), _pointer(catalog), catalog_current(catalog), lambda _version: manifest)


def catalog_read(
    spark: SparkSession,
    catalog: str,
    table: str,
    *,
    catalog_version: int | None = None,
) -> DataFrame:
    """Read ``table`` at the version pinned by one catalog commit —
    every table read through the same ``catalog_version`` is mutually
    consistent, regardless of in-flight writers."""
    pin = catalog_versions(catalog, version=catalog_version)[table]
    return snapshot_read(spark, pin["path"], version=pin["version"])


def catalog_history(catalog: str) -> list[int]:
    """All committed catalog versions, oldest first."""
    vdir = _vdir(catalog)
    if not os.path.isdir(vdir):
        return []
    return sorted(
        int(f[1:-5])
        for f in os.listdir(vdir)
        if f.startswith("v") and f.endswith(".json")
    )


def catalog_expire(catalog: str) -> dict[str, list[int]]:
    """Catalog-AWARE garbage collection. The naive per-table
    ``expire_snapshots(keep_last=k)`` is UNSAFE under a catalog: a
    table that hasn't changed in many catalog commits may be pinned at
    an old per-table version that a blind keep-last-k would delete,
    breaking cross-table time travel (or even the CURRENT catalog
    read).

    This drops catalog versions beyond the newest 2, then
    expires, per table, exactly the per-table versions no SURVIVING
    catalog version pins (data dirs referenced by a surviving version's
    manifest are kept). Returns {table_name: [expired versions]}.
    """
    import shutil

    from etl_weather_spark.sources.snapshots import (
        _load_manifest,
        _manifest_dir,
        snapshot_history,
    )

    history = catalog_history(catalog)
    surviving_cat = history[-2:]
    for v in history[:-2]:
        os.remove(os.path.join(_vdir(catalog), f"v{v}.json"))

    pinned: dict[str, set[int]] = {}
    paths: dict[str, str] = {}
    for cv in surviving_cat:
        for name, pin in _load(catalog, cv).items():
            if name == "__batch_id":
                continue
            pinned.setdefault(name, set()).add(pin["version"])
            paths[name] = pin["path"]

    expired: dict[str, list[int]] = {}
    for name, keep_versions in pinned.items():
        table = paths[name]
        gone: list[int] = []
        keep_dirs = {
            d
            for v in keep_versions
            for d in _load_manifest(table, v)["data_dirs"]
        }
        for m in snapshot_history(table):
            v = m["version"]
            if v in keep_versions:
                continue
            for d in m["data_dirs"]:
                if d not in keep_dirs:
                    shutil.rmtree(os.path.join(table, d), ignore_errors=True)
            os.remove(os.path.join(_manifest_dir(table), f"v{v}.json"))
            gone.append(v)
        if gone:
            expired[name] = gone
    return expired


def stream_commit_tables(
    changes: DataFrame,
    *,
    catalog: str,
    checkpoint: str,
    derive: "dict[str, callable]",
):
    """Streaming medallion publish: every micro-batch derives N tables
    (``derive`` maps table name → fn(batch_df) -> DataFrame) and
    commits them as ONE atomic catalog version — downstream consumers
    never see table A from batch 7 next to table B from batch 6.

    Exactly-once: the batch id rides the claimed catalog manifest as
    ``__batch_id``, so it becomes visible with the pointer swap itself;
    a replayed batch whose id is already the latest commit's marker is
    skipped (foreachBatch is at-least-once).
    """
    from etl_weather_spark.streaming._state import start_batches

    def _body(batch_df: DataFrame, batch_id: int) -> None:
        cur = catalog_current(catalog)
        if cur is not None and _load(catalog, cur).get("__batch_id") == batch_id:
            return  # replay of the committed batch
        writes = {name: fn(batch_df) for name, fn in derive.items()}
        meta = {"__batch_id": batch_id}
        _commit_tables(batch_df.sparkSession, catalog, writes, None, "overwrite", meta)

    return start_batches(changes, checkpoint, _body, name=PUBLISH_QUERY_NAME)
