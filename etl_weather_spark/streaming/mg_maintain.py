"""Streaming heavy-hitter maintenance: a persisted Misra-Gries summary
kept current by foreachBatch — the continuous companion of the exact
two-pass batch scheme in ``operators/frequent.heavy_hitters`` and the
frequency-sketch sibling of ``streaming/sketch_maintain`` (CMS).

Each micro-batch builds its own bounded MG summary with the SAME
distributed kernel the batch op uses (per-partition summaries of ≤ k
counters, driver-merged), then MG-MERGES it into the stored summary:
add counters, subtract the (k+1)-th largest, drop non-positives
(Agarwal et al., "Mergeable Summaries", PODS'12 — the decrement-merge
preserves the error bound). The artifact answers "top items so far"
with the standard MG guarantee over everything ingested:

    true_count − N/(k+1) ≤ stored_count ≤ true_count

so every item with frequency > N/(k+1) is PRESENT in the summary, and
with k ≥ 1/φ the summary is a superset of all φ-heavy items — feed it
to an exact recount (frequent.heavy_hitters pass 2) when exact counts
are needed.

Exactly-once + lineage discipline is identical to sketch_maintain:
applied batch ids make replays no-ops, and the ids are scoped to one
checkpoint lineage (a fresh checkpoint against an old state file
refuses to load instead of silently skipping legitimate batches).

Scale: per trigger the work is one pass over the BATCH; driver traffic
is ≤ (k+1) rows per partition for the kernel plus the k-counter state
file (a few KB) — never item-distribution-sized.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_weather_spark.operators.frequent import _mg_kernel
from etl_weather_spark.streaming._state import (
    AppliedIds,
    atomic_savez,
    check_lineage,
    start_batches,
)

__all__ = [
    "mg_merge_counts",
    "mg_batch_summary",
    "load_mg_state",
    "process_mg_batch",
    "stream_maintain_mg",
]


def mg_merge_counts(a: dict, b: dict, k: int) -> dict:
    """Merge two MG summaries to ≤ k counters (decrement-merge)."""
    out = dict(a)
    for item, n in b.items():
        out[item] = out.get(item, 0) + n
    if len(out) > k:
        thresh = sorted(out.values(), reverse=True)[k]
        out = {i: n - thresh for i, n in out.items() if n - thresh > 0}
    return out


def mg_batch_summary(df: DataFrame, key_col: str, k: int) -> tuple[dict, int]:
    """(counters ≤ k, batch item count) — distributed per-partition MG
    kernels, decrement-merged on the driver (≤ (k+1)·n_partitions rows
    collected)."""
    src = df.select(F.col(key_col).cast("string").alias("item")).filter(
        F.col("item").isNotNull()
    )
    rows = src.mapInPandas(_mg_kernel(k), "item string, n long").collect()
    counts: dict = {}
    n_total = 0
    for r in rows:
        if r.item is None:
            n_total += r.n
        else:
            counts = mg_merge_counts(counts, {r.item: r.n}, k)
    return counts, n_total


def _read_state(path: str):
    with np.load(path, allow_pickle=False) as z:
        stored = str(z["lineage"]) if "lineage" in z.files else ""
        items = [str(x) for x in z["items"]]
        counts = dict(zip(items, (int(v) for v in z["counts"])))
        return counts, int(z["n_total"]), AppliedIds.from_arrays(z), stored


def load_mg_state(path: str, *, lineage: str | None = None):
    """(counters, n_total, applied ids) — empty when absent."""
    if not os.path.exists(path):
        return {}, 0, AppliedIds()
    counts, n_total, applied, stored = _read_state(path)
    check_lineage(path, stored, lineage, "MG")
    return counts, n_total, applied


def _save_state(
    path: str, counts: dict, n_total: int, applied: AppliedIds, lineage: str
) -> None:
    items = sorted(counts)
    floor, tail = applied.arrays()
    atomic_savez(
        path,
        items=np.array(items, dtype="U"),
        counts=np.array([counts[i] for i in items], dtype=np.int64),
        n_total=np.int64(n_total),
        applied=tail,
        applied_floor=floor,
        lineage=np.str_(lineage),
    )


def process_mg_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    state_path: str,
    key_col: str,
    k: int = 64,
    lineage: str | None = None,
) -> None:
    """The foreachBatch body — re-callable: a replayed batch id is a
    no-op (its summary was already merged)."""
    if os.path.exists(state_path):
        counts, n_total, applied, stored = _read_state(state_path)
        check_lineage(state_path, stored, lineage, "MG")
    else:
        counts, n_total, applied, stored = {}, 0, AppliedIds(), ""
    if batch_id in applied:
        return
    batch_counts, batch_n = mg_batch_summary(batch_df, key_col, k)
    merged = mg_merge_counts(counts, batch_counts, k)
    _save_state(
        state_path,
        merged,
        n_total + batch_n,
        applied | {batch_id},
        lineage or stored,
    )


def stream_maintain_mg(
    stream: DataFrame,
    *,
    state_path: str,
    checkpoint: str,
    key_col: str,
    k: int = 64,
):
    """Wire a stream to the maintenance loop; the checkpoint path scopes
    the applied ids."""
    return start_batches(
        stream,
        checkpoint,
        process_mg_batch,
        state_path=state_path,
        key_col=key_col,
        k=k,
        lineage=checkpoint,
    )
