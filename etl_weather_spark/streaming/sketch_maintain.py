"""Streaming sketch maintenance: a persisted Count-Min Sketch kept
current by foreachBatch — the continuous form of the batch rollup in
``queries.cms_user_freq``.

Each micro-batch builds its own partial CMS (one distributed pass over
the batch, ``operators/sketches.cms_build``) and ADDS it into the
stored matrix, so the artifact answers point-frequency queries over
everything ingested so far without any rescan. Mergeability is what
makes the maintenance loop O(batch), not O(history).

Exactly-once discipline (same contract as streaming/incremental_dedup):
foreachBatch is at-least-once, so the stored artifact carries the set
of applied batch ids; a replayed batch finds its id and SKIPS the add —
double-counting a batch would silently inflate every estimate, which
no downstream check could detect (CMS only promises estimate ≥ truth).

The applied-id set is only meaningful within ONE checkpoint lineage:
batch ids restart at 0 under a fresh checkpoint, so an old state file
would silently SKIP legitimate new batches (the under-counting twin of
the double-count hazard; ADVICE r2). The state therefore records the
checkpoint path it was built under and refuses to load against a
different one — delete the state file together with the checkpoint.

Persistence is a single .npz (matrix + applied ids) written
atomically via tmp+rename; at cluster scale put it next to the
snapshot tables on the object store (a conditional PUT replaces the
rename) — it is a few MB, not data-sized.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame

from etl_weather_spark.operators.sketches import cms_build
from etl_weather_spark.streaming._state import (
    AppliedIds,
    atomic_savez,
    check_lineage,
    start_batches,
)

__all__ = ["load_cms_state", "process_cms_batch", "stream_maintain_cms"]


def _read_state(path: str):
    """(matrix, applied ids, stored lineage; '' = unscoped legacy state)."""
    with np.load(path) as z:
        stored = str(z["lineage"]) if "lineage" in z.files else ""
        return z["m"].copy(), AppliedIds.from_arrays(z), stored


def load_cms_state(path: str, *, depth: int, width: int, lineage: str | None = None):
    """(matrix, applied_batch_ids) — zeros/empty when absent.

    ``lineage`` is the checkpoint location the applied ids are scoped
    by; a state file recorded under a DIFFERENT lineage raises instead
    of silently skipping replayed-looking (but legitimate) batch ids.
    """
    if not os.path.exists(path):
        return np.zeros((depth, width), dtype=np.int64), AppliedIds()
    m, applied, stored = _read_state(path)
    check_lineage(path, stored, lineage, "CMS")
    return m, applied


def _save_cms_state(path: str, m: np.ndarray, applied: AppliedIds, lineage: str) -> None:
    floor, tail = applied.arrays()
    atomic_savez(
        path, m=m, applied=tail, applied_floor=floor, lineage=np.str_(lineage)
    )


def process_cms_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    state_path: str,
    key_col: str,
    depth: int = 5,
    width: int = 2048,
    lineage: str | None = None,
) -> None:
    """The foreachBatch body — re-callable: a replayed batch id is a
    no-op (its partial was already added)."""
    if os.path.exists(state_path):
        m, applied, stored = _read_state(state_path)
        check_lineage(state_path, stored, lineage, "CMS")
    else:
        m, applied, stored = np.zeros((depth, width), dtype=np.int64), AppliedIds(), ""
    if batch_id in applied:
        return
    partial = cms_build(batch_df, key_col, depth=depth, width=width)
    _save_cms_state(state_path, m + partial, applied | {batch_id}, lineage or stored)


def stream_maintain_cms(
    stream: DataFrame,
    *,
    state_path: str,
    checkpoint: str,
    key_col: str,
    depth: int = 5,
    width: int = 2048,
):
    """Wire a stream to the maintenance loop; the checkpoint path scopes
    the applied ids. Returns the started StreamingQuery; the caller
    awaits termination."""
    return start_batches(
        stream,
        checkpoint,
        process_cms_batch,
        state_path=state_path,
        key_col=key_col,
        depth=depth,
        width=width,
        lineage=checkpoint,
    )
