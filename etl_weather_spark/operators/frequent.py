"""Distributed heavy hitters: find every item with frequency ≥ φ·N
without shuffling the full item distribution.

The naive plan (groupBy item → global count → filter) shuffles one row
per DISTINCT item — at 100 TB of tokens that is the corpus vocabulary
(billions of rows) to find a handful of heavy items. The classic
two-pass scheme shuffles almost nothing:

Pass 1 (map-side, no shuffle): each partition maintains a Misra-Gries
summary of at most k counters (vectorized: add a batch's value_counts,
then subtract the (k+1)-th largest count and drop non-positives — the
mergeable-summaries decrement). Emits its surviving candidate items and
one partition-total row. By the MG guarantee any item with LOCAL count
> n_p/(k+1) survives; by pigeonhole an item with GLOBAL count > N/(k+1)
exceeds that local bar in at least one partition — so with k ≥ 1/φ the
union of partition candidates is a SUPERSET of every φ-heavy item.

Pass 2 (exact rescan): broadcast-semi-join the tiny candidate set back
onto the items and count exactly; keep count ≥ ceil(φ·N). The output is
therefore EXACT and independent of partitioning / batch boundaries —
the sketch only bounds pass-1 memory (O(k + batch-distinct) per
partition) and the shuffle (≤ k rows per partition), never the answer.

Cormode & Hadjieleftheriou, "Finding Frequent Items in Data Streams"
(VLDB'08) surveys the guarantee; Agarwal et al., "Mergeable Summaries"
(PODS'12) proves the decrement-merge bound used in the kernel.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["heavy_hitters"]


def _mg_kernel(k: int):
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counter = pd.Series(dtype="int64")
        n_local = 0
        for pdf in batches:
            col = pdf.iloc[:, 0].dropna()
            n_local += len(col)
            counter = counter.add(col.value_counts(), fill_value=0)
            if len(counter) > k:
                # vectorized Misra-Gries decrement: one subtraction
                # amortizes the whole batch
                thresh = counter.nlargest(k + 1).iloc[-1]
                counter = counter - thresh
                counter = counter[counter > 0]
        # the partition item-total rides in-band as one NULL-item row, so
        # no extra corpus scan is needed for N (NULL items are dropped
        # from counting, so the marker can never collide with a value)
        yield pd.DataFrame(
            {
                "item": list(counter.index.astype(object)) + [None],
                "n": list(counter.astype("int64")) + [n_local],
            }
        )

    return kernel


def heavy_hitters(
    items: DataFrame,
    *,
    phi: float = 0.001,
    slack: float = 2.0,
) -> DataFrame:
    """Exact φ-heavy hitters of ``items["item"]``: (item,
    n_occurrences, total_n) for every item with count ≥ ceil(φ·N),
    descending count. ``slack`` ≥ 1 widens the pass-1 summary (k =
    ceil(slack/φ)) — more candidate headroom, same exact output. NULL
    items are ignored.
    """
    k = max(8, math.ceil(slack / phi))
    src = items.select(F.col("item").cast("string").alias("item")).filter(
        F.col("item").isNotNull()
    )
    p1 = src.mapInPandas(_mg_kernel(k), "item string, n long")
    # the pass-1 summary has ONE consumer, so the Python pass runs once
    # with no cache: the in-band total rides every candidate row. The
    # unpartitioned window gathers ≤ k+1 rows per partition — the
    # candidate set the broadcast below ships anyway.
    total_n = F.sum(F.when(F.col("item").isNull(), F.col("n"))).over(
        Window.partitionBy()
    )
    cands = (
        p1.withColumn("total_n", total_n)
        .filter(F.col("item").isNotNull())
        .select("item", "total_n")
        .distinct()
    )
    exact = (
        src.join(F.broadcast(cands), "item")
        .groupBy("item", "total_n")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    return (
        exact.filter(
            F.col("n_occurrences") >= F.ceil(F.lit(phi) * F.col("total_n"))
        )
        .select("item", "n_occurrences", "total_n")
        .orderBy(F.desc("n_occurrences"), "item")
    )
