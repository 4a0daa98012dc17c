"""Shared foreachBatch machinery of the streaming surfaces.

- :func:`start_batches` is the one place a ``stream_*`` surface starts
  its query: its bound batch body through ``foreachBatch``, the
  checkpoint, an optional query name, and the ``availableNow`` trigger
  (drain what is available, then stop).
- :func:`write_batch` is the one per-batch output: ``root/batch_id=N``
  overwritten, so an at-least-once replay rewrites the same partition
  instead of adding one; readers of the root get ``batch_id`` back
  through partition discovery.
- The maintenance loops (CMS in sketch_maintain, Misra-Gries in
  mg_maintain) keep their state with checkpoint-lineage scoping, atomic
  tmp+rename persistence, and a COMPACT applied-batch-id set.

Batch ids within one checkpoint lineage are a dense monotone sequence,
so the applied set is stored as (floor, sparse tail): every id ≤ floor
is applied, plus the out-of-order tail ids. A maintenance loop that
runs for years keeps O(1) state instead of one int64 per micro-batch
forever (review finding r3).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame

__all__ = ["AppliedIds", "atomic_savez", "check_lineage", "start_batches", "write_batch"]


def start_batches(
    stream: DataFrame, checkpoint: str, body, *, name: str | None = None, **bound
):
    """Start ``body(batch_df, batch_id, **bound)`` on every micro-batch
    of ``stream`` (availableNow) and return the StreamingQuery."""
    writer = stream.writeStream.foreachBatch(
        lambda batch_df, batch_id: body(batch_df, batch_id, **bound)
    ).option("checkpointLocation", checkpoint)
    if name is not None:
        writer = writer.queryName(name)
    return writer.trigger(availableNow=True).start()


def write_batch(df: DataFrame, root: str, batch_id: int) -> None:
    """Overwrite ``root/batch_id=N`` with ``df``."""
    df.write.mode("overwrite").parquet(os.path.join(root, f"batch_id={batch_id}"))


class AppliedIds:
    """Set-like over applied batch ids, compacted to (floor, tail)."""

    def __init__(self, floor: int = -1, tail=()):  # noqa: D107
        self.floor = int(floor)
        self.tail = {int(t) for t in tail if int(t) > floor}
        self._compact()

    def _compact(self) -> None:
        while self.floor + 1 in self.tail:
            self.floor += 1
            self.tail.discard(self.floor)

    def __contains__(self, batch_id: int) -> bool:
        return 0 <= batch_id <= self.floor or batch_id in self.tail

    def __len__(self) -> int:
        return self.floor + 1 + len(self.tail)

    def __iter__(self):
        yield from range(self.floor + 1)
        yield from sorted(self.tail)

    def __or__(self, ids) -> "AppliedIds":
        out = AppliedIds(self.floor, self.tail)
        for b in ids:
            if b not in out:
                out.tail.add(int(b))
        out._compact()
        return out

    def arrays(self) -> tuple[np.int64, np.ndarray]:
        """(floor, sorted tail) in the persisted representation."""
        return np.int64(self.floor), np.array(sorted(self.tail), dtype=np.int64)

    @staticmethod
    def from_arrays(z) -> "AppliedIds":
        """Load from an npz — tolerates the legacy flat-``applied``
        layout (no floor key: everything lands in the tail and
        compacts)."""
        floor = int(z["applied_floor"]) if "applied_floor" in z.files else -1
        return AppliedIds(floor, (int(b) for b in z["applied"]))


def check_lineage(path: str, stored: str, lineage: str | None, what: str) -> None:
    """Refuse to reuse applied ids across checkpoint lineages: ids
    restart at 0 under a fresh checkpoint, so an old state file would
    silently SKIP legitimate new batches."""
    if lineage and stored and stored != lineage:
        raise ValueError(
            f"{what} state {path} was maintained under checkpoint "
            f"{stored!r}, not {lineage!r}: its applied batch ids are "
            "meaningless in this lineage (ids restart at 0, so new "
            "batches would be silently skipped). Delete the state file "
            "together with the old checkpoint."
        )


def atomic_savez(path: str, **arrays) -> None:
    """np.savez via tmp+rename — readers never see a partial state
    file. On object stores the rename becomes a conditional PUT; this
    is the ONE place to change it."""
    tmp = f"{path}.tmp.{os.getpid()}.npz"  # savez appends .npz otherwise
    np.savez(tmp[:-4], **arrays)
    os.replace(tmp, path)
