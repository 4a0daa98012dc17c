"""Token-budget batch packing for training-data pipelines.

Packs an ordered document stream into consecutive batches by token
budget: ``batch_id = floor(running_token_prefix / budget)``, the
deterministic "fill sequential batches" layout a dataloader consumes.
Precise semantics: batch boundaries fall at multiples of ``budget`` in
prefix-sum space, so a document straddling a boundary belongs to the
batch its FIRST token falls in and that batch can exceed ``budget`` by
up to that document's length − 1 (and an over-budget document spans
batches by id but never splits rows). This is the partition-friendly
rule — true at-most-budget greedy packing has data-dependent boundaries
(each depends on every earlier decision), which forces a sequential
scan; the fixed-boundary rule keeps the whole operator an exact,
order-independent prefix sum. Reference scope: beyond the reference
engine (BASELINE.json north-star training-pipeline ops); the reference
has no batching stage.

The whole operator is one exact global prefix-sum — implemented WITHOUT
a global single-reducer window. ``SUM() OVER (ORDER BY id)`` funnels
every row through one task at scale; here the prefix-sum is two-level:

1. rows are bucketed by contiguous id range (``id div group_size``);
   a within-bucket running sum is a window partitioned by bucket —
   fully parallel, one shuffle;
2. per-bucket totals (#buckets = rows/group_size rows — at 100 TB with
   group_size 1M that is ~1e5 rows) get an ordered cumulative window on
   the TINY aggregate, broadcast-joined back as bucket offsets.

global_prefix = bucket_offset + within_bucket_prefix, bit-identical to
the single-window form (integer sums, order-independent).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def pack_token_batches(
    df: DataFrame,
    token_col: Column,
    *,
    budget: int,
    group_size: int = 4096,
) -> DataFrame:
    """(doc_id, n_tok, batch_id) with batch_id = floor(prefix/budget)
    — fixed boundaries in prefix space, NOT at-most-budget greedy fill
    (see module docstring for the exact boundary rule).

    ``token_col``: expression producing the per-row token count (kept an
    expression so callers choose the tokenizer — arithmetic whitespace
    count, BPE-ish regex, a real tokenizer's stored count column).
    ``doc_id`` must be numeric and roughly dense so contiguous
    ``div group_size`` buckets are balanced; the packing order is
    ascending ``doc_id``.
    """
    base = df.select(
        F.col("doc_id"),
        token_col.cast("long").alias("n_tok"),
        F.expr(f"CAST(doc_id AS BIGINT) div {group_size}").alias("__bkt"),
    )
    w_in = (
        Window.partitionBy("__bkt")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = F.coalesce(F.sum("n_tok").over(w_in), F.lit(0))
    totals = base.groupBy("__bkt").agg(F.sum("n_tok").alias("__tot"))
    w_off = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "__bkt", F.coalesce(F.sum("__tot").over(w_off), F.lit(0)).alias("__off")
    )
    return (
        base.join(F.broadcast(offsets), "__bkt")
        .select(
            "doc_id",
            "n_tok",
            F.floor((F.col("__off") + within) / F.lit(float(budget))).cast("long").alias("batch_id"),
        )
    )
