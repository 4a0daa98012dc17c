"""The engine's one materialization policy: :func:`fence` and :func:`persisted`.

- :func:`fence` is the package's only ``localCheckpoint``: it cuts the
  lineage of a frame that several consumers (or loop rounds) read, so
  its plan runs once. The fence's lifetime is bound to the returned
  DataFrame; the ContextCleaner releases its blocks after a JVM GC once
  that frame is unreferenced. Under AQE even a lazy fence runs the
  frame's shuffle stages at construction (``AdaptiveSparkPlanExec``
  materializes them inside ``toRdd``; see
  ``queries._registry._build_concurrently``).
- :func:`persisted` is the package's only ``persist``/``unpersist``, a
  cache scoped to one ``with`` block. A frame that leaves the block
  must be eagerly fenced or collected.
- Iterative operators fence their loop state lazily every
  :data:`FENCE_EVERY` rounds, never after the last round.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame

#: rounds between the lazy fences of an iterative operator's loop state
FENCE_EVERY = 4


def fence(df: DataFrame, *, eager: bool = False) -> DataFrame:
    """``df`` with its lineage cut by a local checkpoint."""
    return df.localCheckpoint(eager=eager)


@contextmanager
def persisted(df: DataFrame) -> Iterator[DataFrame]:
    """Cache ``df`` for the duration of one operator call — the
    engine's only persist.

    On entry the frame is persisted and eagerly counted: the count is a
    materialization barrier, so consumer stages that AQE schedules
    concurrently read the cache instead of each re-running the frame's
    plan (without it the candidate generator ran once per consumer:
    3× the minhash pipeline, +8 s on winnow at sf0.1). On exit — normal or by exception — the cache is released, so
    no CacheManager entry outlives the call and none can silently serve
    another query whose plan canonicalizes identically. Whatever the
    block returns must therefore not read the cache lazily: end it with
    an eager ``localCheckpoint`` or a driver collect.
    """
    cached = df.persist()
    try:
        cached.count()
        yield cached
    finally:
        cached.unpersist()
