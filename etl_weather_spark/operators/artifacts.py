"""Committed-artifact registry: train/compute ONCE, read everywhere.

A production pipeline does not re-run its trainer inside every audit
query — it trains, COMMITS the model (weights, centroids, membership
tables) to a registry, and every downstream consumer reads the
committed artifact. This module is that registry, built on the
snapshot layer (`sources/snapshots.py`, the same persistence the PQ
ANN index uses in `operators/ann_index.py`):

    <root>/<name>/<dataset_key>/
      data/<uuid>/part-*.parquet      (snapshot layer, immutable)
      _manifests/v{N}.json, _latest   (snapshot layer, atomic pointer)
      artifact_meta/v{N}.json         (this module: fingerprint + meta)

Staleness is a first-class failure: every publish records a DATASET
FINGERPRINT (content stat of the source tables + the producing
algorithm's parameters). :func:`read_artifact` REFUSES a missing
artifact (:class:`ArtifactMissingError`) or one whose fingerprint does
not match the data the caller is about to audit
(:class:`ArtifactStaleError`) — a model trained on yesterday's corpus
must never silently score today's. :func:`artifact_if_absent` is the
compute-if-absent wrapper the registered queries use: read when the
committed version is current, rebuild-and-commit (a NEW snapshot
version — history stays time-travelable) when it is missing or stale.

Scale: the artifacts committed here are dimension-sized (a 1-row
weight table, a 9-row trajectory, a per-doc membership or feature
relation written once) while their producers are Θ(rounds·N) training
chains or multi-round connected-components jobs — reading the
committed parquet replaces re-running the producer in every consumer,
which at 100 TB is the difference between one training pass and
eleven. Writers land data under fresh uuid dirs and swap an atomic
pointer, so concurrent publishers (two audits racing the first build)
both commit consistent versions and readers never see a partial one.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

from etl_weather_spark.sources.snapshots import (
    current_version,
    snapshot_read,
    snapshot_write,
)

__all__ = [
    "ArtifactMissingError",
    "ArtifactStaleError",
    "MixedReleaseError",
    "artifact_if_absent",
    "artifact_meta",
    "artifact_table",
    "artifacts_gc",
    "artifacts_list",
    "artifacts_root",
    "dataset_fingerprint",
    "dataset_key",
    "publish_artifact",
    "publish_release",
    "read_artifact",
    "read_release_artifact",
    "release_artifact_read",
    "release_catalog",
    "release_diff",
    "release_if_absent",
    "release_meta",
    "release_rollback",
]


class ArtifactMissingError(FileNotFoundError):
    """No committed version of the artifact exists."""


class ArtifactStaleError(RuntimeError):
    """The committed artifact was produced from different data or
    parameters than the caller is auditing (fingerprint skew)."""


class MixedReleaseError(RuntimeError):
    """The artifacts a release would pin (or has pinned) were not all
    produced from the release's corpus — a half-rebuilt registry (one
    artifact republished after a corpus or recipe change, others not).
    Committing or serving such a set would mix artifact versions that
    are each individually plausible but mutually inconsistent."""


def artifacts_root() -> str:
    """Registry root — env-overridable so tests stay hermetic."""
    env = os.environ.get("SPARK_GRAFT_ARTIFACT_DIR")
    if env:
        return env
    repo = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    return os.path.join(repo, "spark-warehouse", "artifacts")


def dataset_key(sf_dir: str) -> str:
    """Stable per-dataset registry key: basename + realpath hash (two
    different dirs named sf0.01 must not share a model)."""
    real = os.path.realpath(sf_dir)
    base = os.path.basename(real.rstrip("/")) or "root"
    return f"{base}-{hashlib.sha256(real.encode()).hexdigest()[:8]}"


def _stat_walk(path: str) -> Iterable[str]:
    """(relative-name, size, mtime_ns) lines for a file or directory —
    the cheap content proxy (no data read) the fingerprint hashes."""
    if os.path.isfile(path):
        st = os.stat(path)
        yield f".:{st.st_size}:{st.st_mtime_ns}"
        return
    for dirpath, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            st = os.stat(os.path.join(dirpath, f))
            rel = os.path.relpath(os.path.join(dirpath, f), path)
            yield f"{rel}:{st.st_size}:{st.st_mtime_ns}"


def dataset_fingerprint(sf_dir: str, params: dict | None = None) -> str:
    """Fingerprint of (source table, producer parameters): stat-level
    content identity of the ``documents`` parquet the producers read,
    plus the algorithm version/hyperparameters, so EITHER data or
    recipe changing makes the committed artifact stale."""
    h = hashlib.sha256()
    h.update(os.path.realpath(sf_dir).encode())
    h.update(b"\x00documents\x00")
    for line in _stat_walk(os.path.join(sf_dir, "documents.parquet")):
        h.update(line.encode())
    if params:
        h.update(json.dumps(params, sort_keys=True, default=str).encode())
    return h.hexdigest()


def artifact_table(name: str, key: str) -> str:
    return os.path.join(artifacts_root(), name, key)


def _meta_path(table: str, version: int) -> str:
    return os.path.join(table, "artifact_meta", f"v{version}.json")


def artifact_meta(name: str, key: str, version: int | None = None) -> dict:
    """Committed metadata of a version (latest by default).

    A version whose meta file is absent (a publisher crashed between
    the snapshot pointer swap and the meta write) surfaces as
    :class:`ArtifactMissingError` — NOT a bare ``FileNotFoundError`` —
    so :func:`artifact_if_absent` self-heals by republishing instead of
    wedging the registry on an unreadable half-publish."""
    table = artifact_table(name, key)
    if version is None:
        version = current_version(table)
    if version is None:
        raise ArtifactMissingError(f"no committed version of {name}/{key}")
    try:
        with open(_meta_path(table, version)) as f:
            return json.load(f)
    except FileNotFoundError:
        raise ArtifactMissingError(
            f"artifact {name}/{key} v{version} has no committed meta "
            "(interrupted publish) — republish to heal"
        ) from None


def publish_artifact(
    df: DataFrame,
    name: str,
    key: str,
    *,
    fingerprint: str,
    meta: dict | None = None,
) -> int:
    """Commit ``df`` as the new current version of ``name``/``key``
    with its dataset fingerprint; returns the version. Old versions
    stay readable (snapshot history) — a registry keeps lineage.

    Crash/concurrency window: the snapshot pointer swaps BEFORE the
    meta file lands, so a reader racing the publish (or a publish that
    crashed between the two) can resolve a current version with no
    meta — :func:`artifact_meta` reports that as
    :class:`ArtifactMissingError` and :func:`artifact_if_absent`
    self-heals by republishing. Two publishers racing the same prev+1
    get DISTINCT versions (snapshots.commit_manifest's version claim —
    the loser retries at the next number), so no manifest is ever
    overwritten; both versions carry their own meta, and the
    forward-only pointer names one winner for every reader.
    """
    table = artifact_table(name, key)
    os.makedirs(table, exist_ok=True)
    version = snapshot_write(df, table, mode="overwrite")
    record = {"fingerprint": fingerprint, "name": name, "key": key, **(meta or {})}
    os.makedirs(os.path.dirname(_meta_path(table, version)), exist_ok=True)
    tmp = _meta_path(table, version) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(record, f)
    os.replace(tmp, _meta_path(table, version))
    return version


def read_artifact(
    spark: SparkSession,
    name: str,
    key: str,
    *,
    expect_fingerprint: str | None = None,
    version: int | None = None,
) -> DataFrame:
    """STRICT read: raises :class:`ArtifactMissingError` when nothing
    is committed, :class:`ArtifactStaleError` when the committed
    fingerprint differs from ``expect_fingerprint`` (the data or the
    recipe changed since training). Audits that must not run against
    a skewed model call this directly."""
    table = artifact_table(name, key)
    if version is None:
        version = current_version(table)
    if version is None:
        raise ArtifactMissingError(f"no committed version of {name}/{key}")
    meta = artifact_meta(name, key, version)
    if expect_fingerprint is not None and meta.get("fingerprint") != expect_fingerprint:
        raise ArtifactStaleError(
            f"artifact {name}/{key} v{version} was produced from "
            f"fingerprint {meta.get('fingerprint', '?')[:12]}…, caller "
            f"expects {expect_fingerprint[:12]}… — refusing to audit a "
            "stale model; re-publish first"
        )
    return snapshot_read(spark, table, version=version)


def artifact_if_absent(
    spark: SparkSession,
    name: str,
    key: str,
    *,
    fingerprint: str,
    build: Callable[[], DataFrame],
    meta: dict | None = None,
) -> DataFrame:
    """Compute-if-absent over the registry (the reference's M1
    ensure-then-serve semantics applied to models): read the committed
    version when its fingerprint is current; build + publish a new
    version when missing or stale, then read it back so every consumer
    — including the publisher itself — scans the same committed bytes.

    The miss path holds a per-artifact lock and re-reads under it, so
    two threads of one process that miss the same artifact together
    build and publish it once; the second reads the first's commit.
    The lock is per process: publishers in different processes can
    still both commit (each a consistent version, see publish_artifact).
    """
    try:
        return read_artifact(spark, name, key, expect_fingerprint=fingerprint)
    except (ArtifactMissingError, ArtifactStaleError):
        pass
    with _publish_lock(artifact_table(name, key)):
        try:
            return read_artifact(spark, name, key, expect_fingerprint=fingerprint)
        except (ArtifactMissingError, ArtifactStaleError):
            publish_artifact(build(), name, key, fingerprint=fingerprint, meta=meta)
            return read_artifact(spark, name, key, expect_fingerprint=fingerprint)


_PUBLISH_LOCKS: dict[str, threading.Lock] = {}
_PUBLISH_LOCKS_GUARD = threading.Lock()


def _publish_lock(table: str) -> threading.Lock:
    """The one lock guarding artifact_if_absent's miss path for
    ``table`` (one artifact name/key under the current root)."""
    with _PUBLISH_LOCKS_GUARD:
        return _PUBLISH_LOCKS.setdefault(table, threading.Lock())


# ---------------------------------------------------------------------------
# RELEASE pins: many artifacts, ONE atomic corpus-version commit.
#
# The per-artifact registry above keeps each artifact individually
# consistent, but a multi-artifact consumer (the release data card
# reads the trained classifier, the dedup CC membership, AND the BPE
# merge table) must never mix artifacts committed against different
# corpus states — each individually "current by fingerprint" at the
# time it was built, yet mutually inconsistent after a partial rebuild.
# A RELEASE fixes that with the catalog's pointer trick one level up
# (sources/catalog.py): one atomic manifest pinning every artifact
# table at an exact snapshot version, stamped with the corpus DATA
# fingerprint the whole set was built from. Readers resolve the release
# once and read every artifact AT ITS PINNED VERSION; a set that cannot
# be proven single-corpus is REFUSED (MixedReleaseError), never served.
# ---------------------------------------------------------------------------


def release_catalog(key: str) -> str:
    """The release catalog for one dataset key — a sources/catalog.py
    catalog whose tables are artifact snapshot tables."""
    return os.path.join(artifacts_root(), "_releases", key)


def publish_release(
    key: str,
    artifacts: dict[str, str],
    *,
    data_fingerprint: str,
    meta: dict | None = None,
) -> int:
    """Pin the CURRENT committed version of every named artifact as one
    atomic release for ``key``. ``artifacts`` maps artifact name → the
    fingerprint each is expected to carry (computed by the caller from
    the corpus being released + that producer's parameters).

    PIN-ONLY and strict: nothing is built here. Any artifact that is
    missing raises :class:`ArtifactMissingError`; any whose committed
    fingerprint differs from its expected one raises
    :class:`MixedReleaseError` — that is the half-rebuilt registry
    (one artifact republished after a corpus/recipe change, others
    not), and committing it would launder the very skew the registry
    refuses per-artifact. Use :func:`release_if_absent` for the
    build-then-pin flow.

    Scale: the release manifest is a few hundred bytes; the commit is
    one conditional manifest create + pointer swap regardless of how
    large the pinned artifacts are.
    """
    from etl_weather_spark.sources.catalog import catalog_commit_pins

    pins: dict[str, dict] = {}
    skewed: list[str] = []
    for name, expect_fp in sorted(artifacts.items()):
        table = artifact_table(name, key)
        version = current_version(table)
        if version is None:
            raise ArtifactMissingError(
                f"cannot pin release for {key}: artifact {name} has no "
                "committed version"
            )
        committed = artifact_meta(name, key, version).get("fingerprint")
        if committed != expect_fp:
            skewed.append(
                f"{name} v{version} (committed {str(committed)[:12]}…, "
                f"release corpus expects {expect_fp[:12]}…)"
            )
        pins[name] = {"path": table, "version": version}
    if skewed:
        raise MixedReleaseError(
            f"refusing to pin a mixed release for {key}: "
            + "; ".join(skewed)
            + " — republish the skewed artifact(s) against the release "
            "corpus first (release_if_absent does this)"
        )
    return catalog_commit_pins(
        release_catalog(key),
        pins,
        extra={
            "__release": {
                "data_fingerprint": data_fingerprint,
                "artifacts": dict(sorted(artifacts.items())),
                **(meta or {}),
            }
        },
    )


def release_meta(key: str, *, version: int | None = None) -> dict:
    """One committed release: {"version", "data_fingerprint", "pins",
    "artifacts" (expected fingerprints at pin time)}. Raises
    :class:`ArtifactMissingError` when no release is committed."""
    from etl_weather_spark.sources.catalog import (
        catalog_current,
        catalog_manifest,
    )

    cat = release_catalog(key)
    if version is None:
        version = catalog_current(cat)
    if version is None:
        raise ArtifactMissingError(f"no committed release for {key}")
    manifest = catalog_manifest(cat, version=version)
    rel = manifest.pop("__release", {})
    return {
        "version": version,
        "data_fingerprint": rel.get("data_fingerprint"),
        "artifacts": rel.get("artifacts", {}),
        "pins": {k: v for k, v in manifest.items() if not k.startswith("__")},
    }


def read_release_artifact(
    spark: SparkSession,
    key: str,
    name: str,
    *,
    expect_fingerprint: str,
    expect_data_fingerprint: str,
) -> DataFrame:
    """STRICT pinned read of one artifact through the release catalog.

    Refusal ladder: no release → :class:`ArtifactMissingError`; the
    release was cut from a different corpus than the caller is auditing
    (data fingerprint skew) → :class:`ArtifactStaleError`; the release
    claims this corpus but the PINNED artifact's committed fingerprint
    does not match the expected one (half-rebuilt set or recipe drift
    since the pin) → :class:`MixedReleaseError`. Only a fully
    consistent pin is ever served, and the read is at the pinned
    snapshot version — immune to later republishes."""
    rel = release_meta(key)
    if rel["data_fingerprint"] != expect_data_fingerprint:
        raise ArtifactStaleError(
            f"release v{rel['version']} for {key} was cut from corpus "
            f"{str(rel['data_fingerprint'])[:12]}…, caller audits "
            f"{expect_data_fingerprint[:12]}… — republish the release"
        )
    pin = rel["pins"].get(name)
    if pin is None:
        raise ArtifactMissingError(
            f"release v{rel['version']} for {key} pins no artifact {name}"
        )
    committed = artifact_meta(name, key, pin["version"]).get("fingerprint")
    if committed != expect_fingerprint:
        raise MixedReleaseError(
            f"release v{rel['version']} for {key} pins {name} "
            f"v{pin['version']} with fingerprint {str(committed)[:12]}…, "
            f"but the release corpus expects {expect_fingerprint[:12]}… — "
            "mixed release (partial rebuild or recipe drift); refusing"
        )
    return snapshot_read(spark, pin["path"], version=pin["version"])


def release_if_absent(
    spark: SparkSession,
    key: str,
    specs: dict[str, tuple[str, Callable[[], DataFrame]]],
    *,
    data_fingerprint: str,
    meta: dict | None = None,
) -> int:
    """Build-then-pin: ensure every artifact in ``specs`` (name →
    (fingerprint, build)) is committed and current via
    :func:`artifact_if_absent`, then commit ONE release pinning the
    set. Reuses the standing release when it already matches the corpus
    and every pin is consistent; otherwise publishes a new release
    version. Returns the release version serving this corpus."""
    try:
        rel = release_meta(key)
        # a pinned version whose meta vanished (interrupted publish,
        # out-of-band deletion) raises ArtifactMissingError inside the
        # check — caught below, so the release is simply re-cut instead
        # of wedging the publisher
        if rel["data_fingerprint"] == data_fingerprint and all(
            name in rel["pins"]
            and artifact_meta(name, key, rel["pins"][name]["version"]).get(
                "fingerprint"
            )
            == fp
            for name, (fp, _build) in specs.items()
        ):
            return rel["version"]
    except ArtifactMissingError:
        pass
    for name, (fp, build) in sorted(specs.items()):
        artifact_if_absent(
            spark,
            name,
            key,
            fingerprint=fp,
            build=build,
            meta={"data_fingerprint": data_fingerprint},
        )
    return publish_release(
        key,
        {name: fp for name, (fp, _build) in specs.items()},
        data_fingerprint=data_fingerprint,
        meta=meta,
    )


def release_artifact_read(
    spark: SparkSession,
    key: str,
    name: str,
    *,
    fingerprint: str,
    data_fingerprint: str,
    build: Callable[[], DataFrame],
    meta: dict | None = None,
) -> DataFrame:
    """What multi-artifact CONSUMERS call: read the artifact AT THE
    VERSION PINNED by the current release when that release matches the
    corpus (so every consumer in a run scans the same mutually-
    consistent set), falling back to the per-artifact compute-if-absent
    when no release exists, the release predates a corpus change, or
    the pin is mixed — the fallback still enforces the per-artifact
    fingerprint, so correctness never degrades; only the cross-artifact
    pinning does, until the next release publish. The STRICT refusal
    surface is :func:`read_release_artifact` / :func:`publish_release`
    (used by the release publisher and the CLI)."""
    try:
        return read_release_artifact(
            spark,
            key,
            name,
            expect_fingerprint=fingerprint,
            expect_data_fingerprint=data_fingerprint,
        )
    except (ArtifactMissingError, ArtifactStaleError, MixedReleaseError):
        return artifact_if_absent(
            spark,
            name,
            key,
            fingerprint=fingerprint,
            build=build,
            meta={**(meta or {}), "data_fingerprint": data_fingerprint},
        )


def release_rollback(key: str, *, to_version: int) -> int:
    """Roll the release pointer back APPEND-ONLY: commit a NEW release
    version whose pins and corpus fingerprint are copied from
    ``to_version`` (the snapshot_rollback discipline — history stays
    intact, the bad release remains inspectable until GC, concurrent
    readers just see the pointer advance). Returns the new release
    version. The rolled-to pins must still exist — GC keeps pinned
    versions of the newest ``keep_releases`` releases, so roll back
    before collecting, or raise ``keep_releases``."""
    rel = release_meta(key, version=to_version)
    missing = []
    for name, pin in rel["pins"].items():
        try:
            committed = artifact_meta(name, key, pin["version"]).get(
                "fingerprint"
            )
        except ArtifactMissingError:
            committed = None
        # identity, not mere existence: a table recreated after GC can
        # reuse version numbers with different content
        if committed is None or committed != rel["artifacts"].get(name):
            missing.append(name)
    if missing:
        raise ArtifactMissingError(
            f"cannot roll release {key} back to v{to_version}: pinned "
            f"versions already expired (or replaced) for {missing}"
        )
    from etl_weather_spark.sources.catalog import catalog_commit_pins

    return catalog_commit_pins(
        release_catalog(key),
        rel["pins"],
        extra={
            "__release": {
                "data_fingerprint": rel["data_fingerprint"],
                "artifacts": rel["artifacts"],
                "rolled_back_from": to_version,
            }
        },
    )


def release_diff(
    spark: SparkSession,
    key: str,
    *,
    v_a: int | None = None,
    v_b: int | None = None,
) -> DataFrame:
    """Content diff between two committed RELEASES — the promotion
    review: for every artifact either release pins, how many rows were
    added / removed / kept between the pinned snapshot versions
    (full-row comparison via a canonical JSON row key), plus whether
    the pin moved at all. ``v_b`` defaults to the latest release,
    ``v_a`` to the one before it. One row per artifact:
    (artifact, pin_a, pin_b, rows_a, rows_b, added, removed, unchanged,
    pin_moved). A single-release history refuses loudly — there is
    nothing to promote against.

    Scale: committed artifacts are dimension-sized (weights, merges,
    per-doc membership), so the diff is a keyed full-outer join on
    row hashes — 32-byte keys, never producer re-runs; pins that did
    not move are reported from the manifests alone (no data read).
    """
    from pyspark.sql import functions as F

    from etl_weather_spark.sources.catalog import catalog_history

    cat = release_catalog(key)
    history = catalog_history(cat)
    if v_b is None:
        v_b = history[-1] if history else None
    if v_b is None:
        raise ArtifactMissingError(f"no committed release for {key}")
    if v_a is None:
        earlier = [v for v in history if v < v_b]
        if not earlier:
            raise ValueError(
                f"release history for {key} has a single version (v{v_b}); "
                "nothing earlier to diff against"
            )
        v_a = earlier[-1]
    rel_a = release_meta(key, version=v_a)
    rel_b = release_meta(key, version=v_b)

    def _keyed(pin: dict) -> DataFrame:
        df = snapshot_read(spark, pin["path"], version=pin["version"])
        return df.select(
            F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("k")
        ).groupBy("k").agg(F.count(F.lit(1)).alias("n"))

    out_rows = []
    for name in sorted(set(rel_a["pins"]) | set(rel_b["pins"])):
        pa, pb = rel_a["pins"].get(name), rel_b["pins"].get(name)
        if pa is not None and pb is not None and pa["version"] == pb["version"]:
            n = snapshot_read(spark, pa["path"], version=pa["version"]).count()
            out_rows.append((name, pa["version"], pb["version"],
                             n, n, 0, 0, n, False))
            continue
        a = _keyed(pa) if pa is not None else None
        b = _keyed(pb) if pb is not None else None
        if a is None or b is None:
            present = a if a is not None else b
            n = present.agg(F.sum("n")).collect()[0][0] or 0
            out_rows.append(
                (name,
                 pa["version"] if pa else None,
                 pb["version"] if pb else None,
                 n if pa else 0, n if pb else 0,
                 n if pb and not pa else 0,
                 n if pa and not pb else 0,
                 0, True)
            )
            continue
        j = a.withColumnRenamed("n", "na").join(
            b.withColumnRenamed("n", "nb"), "k", "full_outer"
        )
        agg = j.agg(
            F.sum(F.coalesce(F.col("na"), F.lit(0))).alias("rows_a"),
            F.sum(F.coalesce(F.col("nb"), F.lit(0))).alias("rows_b"),
            F.sum(
                F.greatest(
                    F.coalesce(F.col("nb"), F.lit(0))
                    - F.coalesce(F.col("na"), F.lit(0)),
                    F.lit(0),
                )
            ).alias("added"),
            F.sum(
                F.greatest(
                    F.coalesce(F.col("na"), F.lit(0))
                    - F.coalesce(F.col("nb"), F.lit(0)),
                    F.lit(0),
                )
            ).alias("removed"),
            F.sum(
                F.least(
                    F.coalesce(F.col("na"), F.lit(0)),
                    F.coalesce(F.col("nb"), F.lit(0)),
                )
            ).alias("unchanged"),
        ).collect()[0]
        out_rows.append(
            (name, pa["version"], pb["version"],
             int(agg.rows_a or 0), int(agg.rows_b or 0),
             int(agg.added or 0), int(agg.removed or 0),
             int(agg.unchanged or 0), True)
        )
    return spark.createDataFrame(
        out_rows,
        "artifact string, pin_a long, pin_b long, rows_a long, rows_b long,"
        " added long, removed long, unchanged long, pin_moved boolean",
    ).orderBy("artifact")


# ---------------------------------------------------------------------------
# Lifecycle: listing + release-aware garbage collection.
#
# publish_artifact accretes snapshot versions forever by design (history
# is time-travelable); a production registry bounds that with GC that is
# RELEASE-AWARE — a version pinned by a surviving release must survive
# even if many newer per-table versions exist, and conversely the newest
# versions must survive even when no release pins them (they are what
# artifact_if_absent serves next read). Blind per-table keep-last-K
# violates the first invariant; catalog-only expiry violates the second.
# ---------------------------------------------------------------------------


def _artifact_tables() -> list[tuple[str, str, str]]:
    """(name, key, table-path) for every committed artifact table under
    the registry root (layout: <root>/<name>/<key>/_latest)."""
    root = artifacts_root()
    out: list[tuple[str, str, str]] = []
    if not os.path.isdir(root):
        return out
    for name in sorted(os.listdir(root)):
        if name.startswith("_"):
            continue
        ndir = os.path.join(root, name)
        if not os.path.isdir(ndir):
            continue
        for key in sorted(os.listdir(ndir)):
            table = os.path.join(ndir, key)
            if os.path.exists(os.path.join(table, "_latest")):
                out.append((name, key, table))
    return out


def artifacts_list() -> list[dict]:
    """Inventory of the registry: one row per artifact table with its
    current version, version count, and (when present) the fingerprint
    + data fingerprint of the current meta. The `cli.py artifacts list`
    surface."""
    from etl_weather_spark.sources.snapshots import snapshot_history

    rows = []
    for name, key, table in _artifact_tables():
        cur = current_version(table)
        try:
            meta = artifact_meta(name, key, cur)
        except ArtifactMissingError:
            meta = {}
        rows.append(
            {
                "name": name,
                "key": key,
                "current": cur,
                "versions": len(snapshot_history(table)),
                "fingerprint": str(meta.get("fingerprint", ""))[:12],
                "data_fingerprint": str(meta.get("data_fingerprint", ""))[:12],
            }
        )
    return rows


def _release_pinned_versions(keep_releases: int) -> dict[str, set[int]]:
    """{realpath(table): pinned versions} across the newest
    ``keep_releases`` release versions of every dataset key, after
    dropping older release manifests (the release history trim)."""
    from etl_weather_spark.sources.catalog import (
        catalog_history,
        catalog_manifest,
    )

    pinned: dict[str, set[int]] = {}
    rel_root = os.path.join(artifacts_root(), "_releases")
    if not os.path.isdir(rel_root):
        return pinned
    for key in sorted(os.listdir(rel_root)):
        cat = os.path.join(rel_root, key)
        history = catalog_history(cat)
        if not history:
            continue
        for v in history[:-keep_releases]:
            os.remove(os.path.join(cat, "_versions", f"v{v}.json"))
        for cv in history[-keep_releases:]:
            for tname, pin in catalog_manifest(cat, version=cv).items():
                if tname.startswith("__"):
                    continue
                pinned.setdefault(os.path.realpath(pin["path"]), set()).add(
                    pin["version"]
                )
    return pinned


def artifacts_gc(*, keep_last: int = 2, keep_releases: int = 2) -> dict:
    """Garbage-collect the registry: per artifact table, keep the union
    of (a) the newest ``keep_last`` snapshot versions (what
    artifact_if_absent serves and what history-diff tooling reads) and
    (b) every version pinned by one of the newest ``keep_releases``
    releases of any dataset key (pinned reads must never break); delete
    everything else — snapshot manifests, artifact_meta records, and
    data dirs no surviving manifest references. Older release manifests
    themselves are dropped first, so N rebuild cycles leave the
    registry dir bounded instead of monotonically growing.

    Returns {"expired": {"name/key": [versions…]}, "kept_pinned":
    {"name/key": [versions kept ONLY because a release pins them]}}.
    """
    import shutil

    from etl_weather_spark.sources.snapshots import (
        _manifest_dir,
        snapshot_history,
    )

    pinned = _release_pinned_versions(keep_releases)
    expired: dict[str, list[int]] = {}
    kept_pinned: dict[str, list[int]] = {}
    for name, key, table in _artifact_tables():
        history = snapshot_history(table)
        versions = [m["version"] for m in history]
        newest = set(versions[-keep_last:])
        pins = pinned.get(os.path.realpath(table), set())
        keep = newest | pins
        only_pinned = sorted(pins - newest)
        if only_pinned:
            kept_pinned[f"{name}/{key}"] = only_pinned
        keep_dirs = {
            d
            for m in history
            if m["version"] in keep
            for d in m["data_dirs"]
        }
        gone: list[int] = []
        for m in history:
            v = m["version"]
            if v in keep:
                continue
            for d in m["data_dirs"]:
                if d not in keep_dirs:
                    shutil.rmtree(os.path.join(table, d), ignore_errors=True)
            os.remove(os.path.join(_manifest_dir(table), f"v{v}.json"))
            meta = _meta_path(table, v)
            if os.path.exists(meta):
                os.remove(meta)
            gone.append(v)
        if gone:
            expired[f"{name}/{key}"] = gone
    return {"expired": expired, "kept_pinned": kept_pinned}
