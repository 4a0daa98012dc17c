"""Streaming TRAINED-classifier curation funnel: the deploy story for
``queries.corpus_prep_funnel_v4`` — the per-document gate chain with
the GD-trained quality gate reading COMMITTED weights, running at the
ingestion edge, with exact dedup against the standing accepted-corpus
index.

Gate chain per micro-batch (each gate is the registered batch core
reused verbatim, so the algebra cannot diverge from the batch funnel):

1. ``lang_confident``  — high-confidence language ID
   (``_lang_id_confidence_core``, pure per-doc);
2. ``not_code``        — code detector (pure per-doc);
3. ``gopher_keep``     — tuned Gopher rule gate (pure per-doc);
4. ``trained_keep``    — the trained classifier, weights PINNED at
   deploy time from the committed-model registry
   (``classifier_scorer.pin_trained_weights`` →
   ``operators/artifacts.py``) — never retrained per batch;
5. ``new_unique``      — exact fingerprint dedup, within-batch keep-min
   plus anti-join against the standing index (first-arrival wins, the
   ``corpus_ingest`` contract).

The batch funnel's corpus-FITTED gates (MAD length outliers, CCNet
perplexity terciles, DSIR buckets) are deliberately absent here: their
fit is a corpus-level statistic, so production re-fits them in the
nightly batch run and the streaming edge applies per-doc gates only —
stated scope, not an approximation. Stream == batch parity therefore
holds EXACTLY over the shared per-doc chain and is asserted in
tests/test_streaming_trained_funnel.py.

Exactly-once discipline (the corpus_ingest/incremental_dedup
contract): survivors append to the accepted snapshot table under the
batch's commit marker (``snapshots.batch_marker``; replay = no-op); the
per-batch stage-count stats row lands under ``stats/batch_id=N``
through ``_state.write_batch`` (replay = identical bytes).

Scale: per trigger, four codegen projections + one token-pass agg over
ONE micro-batch, a 5-constant broadcast score, one keyed anti join
against the index's 32-byte fingerprint projection — the accepted
corpus text is never rescanned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_weather_spark.operators.fence import fence
from etl_weather_spark.sources.snapshots import (
    batch_marker,
    current_version,
    marker_version,
    snapshot_append,
    snapshot_read,
)
from etl_weather_spark.streaming._state import start_batches, write_batch

__all__ = [
    "funnel_delta_report",
    "process_trained_funnel_batch",
    "stream_trained_funnel",
]

STAGES = ("raw", "lang_confident", "not_code", "gopher_keep",
          "trained_keep", "new_unique")


def _gate_chain(batch: DataFrame, weights: dict[str, float]) -> list[DataFrame]:
    """Apply the per-doc gates in funnel order; returns the survivor
    relation after each stage (raw first): the batch funnel's gate
    table and survivor chain, unfenced since a micro-batch is small."""
    from etl_weather_spark.queries.training import (
        _PER_DOC_GATES,
        _survivor_chain,
    )
    from etl_weather_spark.streaming.classifier_scorer import score_docs_batch

    return _survivor_chain(
        batch,
        _PER_DOC_GATES,
        trained=lambda s: score_docs_batch(s, weights).filter(F.col("keep")),
        fenced=False,
    )


def process_trained_funnel_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    accepted_table: str,
    stats_dir: str,
    weights: dict[str, float],
) -> None:
    """foreachBatch body — re-callable: a replayed batch id is a no-op
    for the snapshot append and a same-bytes rewrite for the stats.

    The replay marker guards ONLY the snapshot append; the stats
    partition is always (re)written (idempotent overwrite), so a crash
    between the append and the stats write heals on replay instead of
    leaving stats/batch_id=N permanently absent. On replay the standing
    index is read AT THE VERSION PRECEDING this batch's own marker
    commit (snapshot time travel), so the recomputed survivor count —
    and therefore the stats bytes — are identical to the first run."""
    from etl_weather_spark.functions.text import doc_fingerprint

    marker = batch_marker(batch_id)
    committed = marker_version(accepted_table, marker)
    if committed is None:
        standing_version = current_version(accepted_table)
    else:
        # replay: the append already committed; audit against pre-append state
        standing_version = committed - 1 if committed > 0 else None
    spark = batch_df.sparkSession

    chain = _gate_chain(batch_df, weights)
    counts = [df.count() for df in chain]

    fp = chain[-1].select(
        "*", doc_fingerprint(F.col("text")).alias("fingerprint")
    )
    keep = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    batch_unique = fp.join(keep, ["fingerprint", "doc_id"])
    if standing_version is not None:
        standing = snapshot_read(
            spark, accepted_table, version=standing_version
        ).select("fingerprint")
        batch_unique = batch_unique.join(
            standing, "fingerprint", "left_anti"
        )
    survivors = fence(batch_unique, eager=True)  # one pass: count + append
    counts.append(survivors.count())

    if committed is None and counts[-1] > 0:
        snapshot_append(survivors, accepted_table, marker=marker)

    schema = ", ".join(f"n_{s} long" for s in STAGES)
    stats = spark.createDataFrame([tuple(counts)], schema)
    write_batch(stats.coalesce(1), stats_dir, batch_id)


def funnel_delta_report(
    delta_docs: DataFrame,
    *,
    accepted_table: str,
    weights: dict[str, float],
) -> DataFrame:
    """The 6-row incremental funnel report for a DELTA against the
    standing accepted snapshot — the batch-query face of the streaming
    chain (no writes, one lazy relation): per-stage (stage, stage_name,
    n_kept, id_checksum) through raw → lang_confident → not_code →
    gopher_keep → trained_keep → new_unique, where new_unique is
    within-delta keep-min dedup plus an anti join against the standing
    index's 32-byte fingerprint projection.

    This is the production twin of the oracled
    ``queries.corpus_prep_funnel_incremental`` (which derives the
    standing set in-plan for SQL verifiability); the test suite pins
    the two to each other through the batch stats rows.

    Scale: delta cost ∝ delta size — per-doc gates + a broadcast
    5-constant trained score over the delta only; the standing side is
    one fingerprint-column scan of the committed snapshot (never the
    accepted text), and the report itself is 6 aggregate rows."""
    from etl_weather_spark.functions.text import doc_fingerprint
    from etl_weather_spark.queries.training import _stage_rows

    chain = _gate_chain(delta_docs, weights)
    fp = chain[-1].select(
        "doc_id", doc_fingerprint(F.col("text")).alias("fingerprint")
    )
    new_unique = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    if current_version(accepted_table) is not None:
        spark = delta_docs.sparkSession
        standing = snapshot_read(spark, accepted_table).select("fingerprint")
        new_unique = new_unique.join(standing, "fingerprint", "left_anti")
    chain.append(new_unique)
    return _stage_rows(STAGES, chain)


def stream_trained_funnel(
    docs_stream: DataFrame,
    *,
    accepted_table: str,
    stats_dir: str,
    checkpoint_dir: str,
    weights: dict[str, float],
):
    """Wire the trained funnel onto a document stream: survivors append
    to the accepted snapshot table, one stage-count row per batch."""
    return start_batches(
        docs_stream,
        checkpoint_dir,
        process_trained_funnel_batch,
        accepted_table=accepted_table,
        stats_dir=stats_dir,
        weights=weights,
    )
