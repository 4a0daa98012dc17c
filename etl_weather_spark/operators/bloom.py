"""Broadcast Bloom-filter screen for incremental exact dedup.

The 100 TB shape: a standing index of content fingerprints (billions of
keys) vs a new ingestion batch. A plain anti join shuffles the WHOLE
index every batch. A Bloom filter built once over the index and
broadcast to the batch answers "definitely new" locally — only the
(typically small) maybe-duplicate remainder pays the exact confirm
join, so the result stays EXACT while the index-sized shuffle is
reserved for actual collision candidates.

Spark's own runtime bloom (`spark.sql.optimizer.runtime.bloomFilter.*`,
plan-tested in tests/test_plans.py) does this transparently for
selective joins; this module is the explicit, reusable form for
pipelines that want to persist the filter across batches (build once,
screen every future ingestion) instead of rebuilding it per query.

Design notes
------------
- Hashing: one BLAKE2b(digest 16 B) per key, split into two u64 halves
  (g1, g2); probe position i = (g1 + i·g2) mod m — Kirsch–Mitzenmacher
  double hashing, so k probes cost one hash. Stable across Python
  versions/platforms (unlike ``hash()``), shared verbatim by the build
  and probe sides.
- Build: one distributed pass; each partition emits a PARTIAL packed
  bitmap (mapInPandas, numpy-vectorized bit sets), the driver ORs the
  partials. Nothing per-key ever reaches the driver — the collected
  volume is n_partitions × m/8 bytes, and the final bitmap must fit in
  memory anyway to broadcast.
- Probe: Arrow-batched pandas UDF over the broadcast bitmap; returns
  ``might_contain`` booleans (false ⇒ definitely absent).
- Sizing: m ≈ -n·ln(p)/(ln2)², k ≈ (m/n)·ln2 for target fp rate p.
  ``optimal_params`` computes both.
"""

from __future__ import annotations

import math
from collections.abc import Iterator
from hashlib import blake2b

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "optimal_params",
    "bloom_build",
    "bloom_might_contain",
    "bloom_screen",
]


def optimal_params(n_items: int) -> tuple[int, int]:
    """(m_bits, k_hashes) for ``n_items`` keys at a 1% false-positive rate.

    m is rounded up to a multiple of 64 so the bitmap packs into u64
    words with no ragged tail.
    """
    if n_items <= 0:
        return 64, 1
    m = int(math.ceil(-n_items * math.log(0.01) / (math.log(2) ** 2)))
    m = ((m + 63) // 64) * 64
    k = max(1, round(m / n_items * math.log(2)))
    return m, k


def _positions(keys: pd.Series, m_bits: int, k: int) -> np.ndarray:
    """(len(keys), k) int64 probe positions. One BLAKE2b per key.

    Callers must pass keys already cast to STRING on the Spark side:
    ``str(key)`` on a raw numeric pandas column is not stable — a null
    anywhere in the batch coerces int64→float64, so the same key
    stringifies as '5.0' in one batch and '5' in another, silently
    desynchronizing build and probe bytes (ADVICE r2)."""
    g = np.empty((len(keys), 2), dtype=np.uint64)
    for j, key in enumerate(keys):
        d = blake2b(str(key).encode("utf-8"), digest_size=16).digest()
        g[j, 0] = int.from_bytes(d[:8], "big")
        g[j, 1] = int.from_bytes(d[8:], "big")
    i = np.arange(k, dtype=np.uint64)
    # u64 wraparound is well-defined; mod at the end
    return ((g[:, :1] + i * g[:, 1:]) % np.uint64(m_bits)).astype(np.int64)


def bloom_build(
    df: DataFrame, key_col: str, *, m_bits: int, k: int
) -> np.ndarray:
    """Build the packed (m_bits/64,) u64 bitmap over ``df[key_col]``.

    One distributed pass: every partition sets its keys' bits in a
    local bitmap and emits the PACKED PARTIAL (one row of binary per
    partition); the driver ORs them. At any corpus size the driver
    sees n_partitions bitmaps, never keys.
    """
    n_words = m_bits // 64

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bits = np.zeros(n_words, dtype=np.uint64)
        seen = False
        for pdf in batches:
            keys = pdf[key_col].dropna()
            if len(keys) == 0:
                continue
            seen = True
            pos = _positions(keys, m_bits, k).ravel()
            np.bitwise_or.at(
                bits, pos >> 6, np.uint64(1) << (pos.astype(np.uint64) & np.uint64(63))
            )
        if seen:
            yield pd.DataFrame({"bm": [bits.tobytes()]})

    rows = (
        df.select(F.col(key_col).cast("string").alias(key_col))
        .mapInPandas(partials, "bm binary")
        .collect()
    )
    out = np.zeros(n_words, dtype=np.uint64)
    for r in rows:
        out |= np.frombuffer(r.bm, dtype=np.uint64)
    return out


def bloom_might_contain(
    spark_df: DataFrame, key: Column, bitmap: np.ndarray, *, m_bits: int, k: int
):
    """``might_contain`` boolean column for ``key`` against ``bitmap``.

    False is definitive (key not in the build set); True needs an exact
    confirm if exactness is required. The bitmap ships to executors via
    UDF closure capture (Spark broadcasts it with the task binary).
    """
    from pyspark.sql.functions import pandas_udf

    words = bitmap  # closure capture; read-only on executors

    @pandas_udf("boolean")
    def probe(keys: pd.Series) -> pd.Series:
        if len(keys) == 0:
            return pd.Series([], dtype="bool")
        pos = _positions(keys, m_bits, k)
        hit = (
            words[pos >> 6] >> (pos.astype(np.uint64) & np.uint64(63))
        ) & np.uint64(1)
        return pd.Series(hit.all(axis=1) & keys.notna().to_numpy())

    return probe(key.cast("string"))


def bloom_screen(index: DataFrame, batch: DataFrame, *, key_col: str) -> DataFrame:
    """EXACT novelty screen of ``batch`` against ``index``:
    ``batch`` columns + ``is_new`` boolean.

    Bloom answers most rows locally (might_contain=False ⇒ new, no
    shuffle); only the maybe-duplicates are confirmed with a semi join
    against the index — so false positives never surface and the
    result equals a plain anti-join, at a fraction of the shuffle. The
    filter is sized by ``index.count()``.
    """
    m_bits, k = optimal_params(max(index.count(), 1))
    bitmap = bloom_build(index, key_col, m_bits=m_bits, k=k)

    maybe = bloom_might_contain(
        batch, F.col(key_col), bitmap, m_bits=m_bits, k=k
    )
    screened = batch.withColumn("_maybe_dup", maybe)
    definite_new = screened.filter(~F.col("_maybe_dup")).withColumn(
        "is_new", F.lit(True)
    )
    idx_keys = index.select(F.col(key_col).alias("_idx_key")).distinct()
    confirmed = (
        screened.filter(F.col("_maybe_dup"))
        .join(idx_keys, F.col(key_col) == F.col("_idx_key"), "left")
        .withColumn("is_new", F.col("_idx_key").isNull())
        .drop("_idx_key")
    )
    return definite_new.unionByName(confirmed).drop("_maybe_dup")
