"""Persisted PQ ANN index: the standing similarity-search artifact.

A production retrieval stack trains codebooks ONCE, encodes the corpus
into 8-byte codes, and then serves queries / absorbs new vectors
against that standing index — it never re-trains or re-encodes per
query. This module makes that artifact durable:

- :func:`build_pq_index` — train codebooks (deterministic sample),
  encode the corpus, commit codes via the snapshot layer and the
  codebooks + params alongside;
- :func:`load_pq_index` — reopen (codes DataFrame, codebooks, meta);
- :func:`append_pq_index` — encode NEW vectors with the FROZEN
  codebooks and snapshot-append their codes under a caller-supplied
  commit marker (idempotent replays — the streaming ingest contract);
- :class:`PQIndex.query` — ADC scan + exact re-rank over the stored
  codes (``operators/similarity.cosine_topk_pq`` with the encode pass
  skipped).

Freezing matters: appended vectors quantize into the ORIGINAL code
space, so old and new codes stay mutually comparable; periodic
re-train+re-encode is a compaction decision, not a per-batch one
(same policy as every IVF/PQ serving system).

Scale: the codes table is n_subspaces bytes per row and rides the
snapshot layer (append = new files + manifest, no rewrite); codebooks
are a (n_subspaces × n_codes × dim/n_subspaces) float table — KBs —
stored as parquet and broadcast into the encode/scan closures.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from etl_weather_spark.operators.similarity import (
    cosine_topk_pq,
    pq_encode,
    pq_train_codebooks,
)
from etl_weather_spark.sources.snapshots import (
    marker_version,
    snapshot_append,
    snapshot_read,
    snapshot_write,
)

__all__ = [
    "PQIndex",
    "append_pq_index",
    "build_pq_index",
    "compact_pq_index",
    "load_pq_index",
]


def _codes_table(path: str) -> str:
    return os.path.join(path, "codes")


def _meta_path(path: str) -> str:
    return os.path.join(path, "meta.json")


def _books_path(path: str) -> str:
    return os.path.join(path, "codebooks.parquet")


@dataclass
class PQIndex:
    path: str
    books: np.ndarray
    codes: DataFrame
    meta: dict

    def query(
        self, corpus: DataFrame, queries: DataFrame, *, k: int = 10, shortlist: int = 50
    ) -> DataFrame:
        """ADC scan over the STORED codes + exact re-rank against
        ``corpus`` full vectors (the same source table the index was
        built from / appended with). Identical results to running
        cosine_topk_pq directly with the same codebooks — asserted in
        tests and by the shared driver oracle."""
        return cosine_topk_pq(
            corpus,
            queries,
            vec_col=self.meta["vec_col"],
            id_col=self.meta["id_col"],
            k=k,
            shortlist=shortlist,
            books=self.books,
            codes=self.codes,
        )


def build_pq_index(corpus: DataFrame, path: str) -> PQIndex:
    """Train + encode + commit. Overwrites any index at ``path``."""
    spark = corpus.sparkSession
    books = pq_train_codebooks(corpus)
    codes = pq_encode(corpus, books)
    snapshot_write(codes, _codes_table(path), mode="overwrite", ingest_ts="build")
    n_sub, n_cd, sub = books.shape
    flat = [
        (s, c, d, float(books[s, c, d]))
        for s in range(n_sub)
        for c in range(n_cd)
        for d in range(sub)
    ]
    import pandas as pd  # noqa: PLC0415 — Arrow local-table build

    spark.createDataFrame(
        pd.DataFrame(flat, columns=["s", "c", "d", "value"])
    ).coalesce(1).write.mode("overwrite").parquet(_books_path(path))
    meta = {
        "vec_col": "embedding",
        "id_col": "vec_id",
        "n_subspaces": n_sub,
        "n_codes": n_cd,
        "sub_dim": sub,
        "seed": 42,
    }
    with open(_meta_path(path), "w") as f:
        json.dump(meta, f)
    return PQIndex(path, books, snapshot_read(spark, _codes_table(path)), meta)


def load_pq_index(spark: SparkSession, path: str) -> PQIndex:
    with open(_meta_path(path)) as f:
        meta = json.load(f)
    books = np.zeros((meta["n_subspaces"], meta["n_codes"], meta["sub_dim"]))
    for r in spark.read.parquet(_books_path(path)).collect():
        books[r.s, r.c, r.d] = r.value
    return PQIndex(path, books, snapshot_read(spark, _codes_table(path)), meta)


def append_pq_index(
    new_vectors: DataFrame, path: str, *, marker: str
) -> None:
    """Encode ``new_vectors`` with the index's FROZEN codebooks and
    append their codes. ``marker`` is the commit marker: a replayed
    marker (at-least-once streaming delivery) is a no-op, the same
    contract as streaming/incremental_dedup."""
    spark = new_vectors.sparkSession
    table = _codes_table(path)
    if marker_version(table, marker) is not None:
        return
    idx = load_pq_index(spark, path)
    codes = pq_encode(
        new_vectors, idx.books, vec_col=idx.meta["vec_col"], id_col=idx.meta["id_col"]
    )
    snapshot_append(codes, table, marker=marker)


def compact_pq_index(spark: SparkSession, path: str) -> int:
    """Rewrite the code table's accumulated append files into
    target-sized ones (a new snapshot version; history stays readable).
    The codes themselves are untouched — codebooks stay frozen, so this
    is pure file-layout maintenance. Run it on the same cadence as any
    snapshot table under high-frequency streaming appends
    (streaming/ann_ingest) so the per-query manifest scan stays short.
    Returns the new version number.
    """
    from etl_weather_spark.sources.snapshots import snapshot_compact

    with open(_meta_path(path)) as f:
        meta = json.load(f)
    return snapshot_compact(
        spark, _codes_table(path), sort_within_by=[meta["id_col"]]
    )
