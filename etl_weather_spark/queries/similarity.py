"""Embedding-similarity tier: ANN (brute/LSH/IVF/PQ), kmeans, kNN audits, PCA, semantic dedup and decontamination over the embeddings table.

Split from the original queries.py (round 9); unit order and bodies
are byte-identical to the monolith — only module boundaries and
imports changed.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from etl_weather_spark.functions.rounding import davg, dsum, rnd, sql_dsum
from etl_weather_spark.operators.fence import fence
from etl_weather_spark.queries._registry import _IVF_CENTROIDS, _ORACLES, load, query
from etl_weather_spark.queries.dedup import decontaminate_overlap


@query(
    "ann_cosine_topk",
    """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
),
c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings
),
scored AS (
  SELECT query_id, neighbor_id,
         FLOOR((list_dot_product(qv, cv)
                / (GREATEST(sqrt(list_dot_product(qv, qv)), 1e-12) * GREATEST(sqrt(list_dot_product(cv, cv)), 1e-12)))
               * 1000000 + 0.5) / 1000000 AS sim
  FROM q CROSS JOIN c
  WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, sim, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 10
""",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 5 query vectors against the corpus.

    Exact baseline for similarity search: broadcast queries × partitioned
    corpus, JVM array math, per-query window top-k. The LSH variant
    (ann_cosine_lsh) is the approximate scale path.
    """
    from etl_weather_spark.operators.similarity import (
        collect_ref_vectors,
        cosine_topk_vs_pinned_queries,
    )

    emb = load(spark, sf_dir, "embeddings")
    q_ids, q_mat = collect_ref_vectors(emb.filter(F.col("vec_id") < 5))
    return cosine_topk_vs_pinned_queries(emb, q_ids, q_mat, k=10)

@query(
    "ann_cosine_lsh",
    """
SELECT vec_id AS query_id,
       CAST(10 AS BIGINT) AS n_exact,
       CAST(10 AS BIGINT) AS n_approx,
       TRUE AS recall_ok
FROM embeddings WHERE vec_id < 5
ORDER BY query_id
""",
)
def ann_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH top-10 for 5 queries, gated per query
    against the exact brute-force top-10 (operators/similarity.
    recall_gate): n_exact/n_approx row counts plus recall ≥ 0.3.

    The LSH internals (seeded hyperplanes) aren't SQL-replayable, so
    the oracle checks the retrieval PROPERTY: full k retrieved for
    every query, per-query recall above the floor (measured ≥ 0.4 at
    sf 0.001/0.01/0.1 with 6 planes × 24 tables; threshold 0.3 leaves
    margin). A recall collapse or short result set flips a boolean and
    fails the hash.
    """
    from etl_weather_spark.operators.similarity import (
        collect_ref_vectors,
        cosine_topk_lsh,
        cosine_topk_vs_pinned_queries,
        recall_gate,
    )

    emb = load(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    q_ids, q_mat = collect_ref_vectors(qs)
    exact = cosine_topk_vs_pinned_queries(emb, q_ids, q_mat, k=10)
    approx = cosine_topk_lsh(emb, qs, n_tables=24)
    return recall_gate(exact, approx, threshold=0.3)

@query(
    "embedding_near_dupes",
    """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       FLOOR((list_dot_product(a.v, b.v)
              / (GREATEST(sqrt(list_dot_product(a.v, a.v)), 1e-12) * GREATEST(sqrt(list_dot_product(b.v, b.v)), 1e-12)))
             * 1000000 + 0.5) / 1000000 AS sim
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE FLOOR((list_dot_product(a.v, b.v)
             / (GREATEST(sqrt(list_dot_product(a.v, a.v)), 1e-12) * GREATEST(sqrt(list_dot_product(b.v, b.v)), 1e-12)))
            * 1000000 + 0.5) / 1000000 >= 0.3
""",
)
def embedding_near_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within label blocks (cosine ≥ 0.3).

    Blocked pairwise comparison — at 100 TB the block key is an LSH
    bucket or cluster id so the exact comparison never goes all-pairs.
    """
    from etl_weather_spark.operators.similarity import embedding_near_dupes as nd

    emb = load(spark, sf_dir, "embeddings")
    return nd(emb, block_col="label", threshold=0.3)

@query(
    "ann_cosine_ivf",
    """
SELECT vec_id AS query_id,
       CAST(10 AS BIGINT) AS n_exact,
       CAST(10 AS BIGINT) AS n_approx,
       TRUE AS recall_ok
FROM embeddings WHERE vec_id < 20
ORDER BY query_id
""",
)
def ann_cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (spherical-kmeans quantizer, fixed seed, 8 of 16
    clusters probed) gated per query against the exact brute-force
    top-10: full k retrieved, per-query recall ≥ 0.4.

    Centroids aren't SQL-expressible, so the oracle checks the
    retrieval property (same pattern as ann_cosine_lsh). Measured
    per-query recall floor at probe=8 is 0.5 across sf 0.001/0.01/0.1;
    threshold 0.4 leaves margin while still failing on any real
    regression of the quantizer or probe pruning.
    """
    from etl_weather_spark.operators.similarity import (
        collect_ref_vectors,
        cosine_topk_ivf,
        cosine_topk_vs_pinned_queries,
        recall_gate,
        train_ivf_centroids,
    )

    emb = load(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 20)
    q_ids, q_mat = collect_ref_vectors(qs)
    exact = cosine_topk_vs_pinned_queries(emb, q_ids, q_mat, k=10)
    # IVF is train-once / probe-many: memoize the trained quantizer per
    # (corpus, params) — an IVF index is a built artifact, not part of
    # each query's cost (at scale it persists next to the table the way
    # lakehouse.materialize_if_absent persists gold tables)
    key = (sf_dir, 16, 42)
    centroids = _IVF_CENTROIDS.get(key)
    if centroids is None:
        centroids = _IVF_CENTROIDS[key] = train_ivf_centroids(
            emb, n_clusters=16
        )
    approx = cosine_topk_ivf(emb, qs, centroids=centroids)
    return recall_gate(exact, approx, threshold=0.4)

@query(
    "ann_cosine_pq",
    """
SELECT vec_id AS query_id,
       CAST(10 AS BIGINT) AS n_exact,
       CAST(10 AS BIGINT) AS n_approx,
       TRUE AS recall_ok
FROM embeddings WHERE vec_id < 5
ORDER BY query_id
""",
)
def ann_cosine_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (8 subspaces × 16 codes: 64 floats → 8
    bytes, 32× compression) with ADC shortlist-100 + exact re-rank,
    gated per query against the exact brute-force top-10.

    The memory tier of the ANN ladder (brute force → LSH → IVF → PQ):
    at 100 TB the scan touches only the 8-byte code table; full
    vectors are read back for the 100-row-per-query shortlist alone.
    Codebooks (like IVF centroids) are a built artifact — trained once
    on a deterministic ordered sample, memoized per corpus. Measured
    per-query recall floor at shortlist=100 is 0.4 across sf
    0.001/0.01/0.1; threshold 0.3 leaves margin while still failing on
    real codebook/ADC regressions.
    """
    from etl_weather_spark.operators.similarity import (
        collect_ref_vectors,
        cosine_topk_pq,
        cosine_topk_vs_pinned_queries,
        pq_train_codebooks,
        recall_gate,
    )

    emb = load(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    q_ids, q_mat = collect_ref_vectors(qs)
    exact = cosine_topk_vs_pinned_queries(emb, q_ids, q_mat, k=10)
    key = (sf_dir, "pq", 8, 16, 42)
    books = _IVF_CENTROIDS.get(key)
    if books is None:
        books = _IVF_CENTROIDS[key] = pq_train_codebooks(emb)
    approx = cosine_topk_pq(emb, qs, k=10, shortlist=100, books=books)
    return recall_gate(exact, approx, threshold=0.3)

#: built PQ index dirs, one per sf_dir (the index is a durable artifact:
#: train+encode+commit once, reopen per query — the serving pattern)
_PQ_INDEX_PATHS: dict = {}

@query(
    "ann_pq_index_roundtrip",
    """
SELECT vec_id AS query_id,
       CAST(10 AS BIGINT) AS n_exact,
       CAST(10 AS BIGINT) AS n_approx,
       TRUE AS recall_ok
FROM embeddings WHERE vec_id < 5
ORDER BY query_id
""",
)
def ann_pq_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED-index ANN serving: the corpus is trained+encoded ONCE
    into a durable PQ index (operators/ann_index: snapshot-layer code
    table + codebooks + meta on disk), then queries run against the
    REOPENED index — the standing-artifact pattern every production
    retrieval stack uses, vs ann_cosine_pq's in-session build. Results
    must clear the same per-query recall gate against exact brute
    force, which makes this row a disk-roundtrip proof: any loss or
    reorder in codebook/code persistence breaks the gate (and the
    save→load→query ≡ direct-query identity is asserted exactly in
    tests/test_ann_index.py).

    Scale: the index build is one encode pass committed via the
    snapshot layer (appends for new vectors ride commit markers —
    streaming/ann_ingest); serving reads 8-byte codes + KB codebooks,
    never re-encodes, and the ADC scan + salted two-level top-k is
    identical to the in-session path.
    """
    import tempfile

    from etl_weather_spark.operators.ann_index import build_pq_index, load_pq_index
    from etl_weather_spark.operators.similarity import (
        collect_ref_vectors,
        cosine_topk_vs_pinned_queries,
        recall_gate,
    )

    emb = load(spark, sf_dir, "embeddings")
    path = _PQ_INDEX_PATHS.get(sf_dir)
    if path is None:
        path = _PQ_INDEX_PATHS[sf_dir] = tempfile.mkdtemp(prefix="spark_graft_pq_")
        build_pq_index(emb, path)
    idx = load_pq_index(spark, path)
    qs = emb.filter(F.col("vec_id") < 5)
    q_ids, q_mat = collect_ref_vectors(qs)
    exact = cosine_topk_vs_pinned_queries(emb, q_ids, q_mat, k=10)
    approx = idx.query(emb, qs, k=10, shortlist=100)
    return recall_gate(exact, approx, threshold=0.3)

@query(
    "embedding_component_stats",
    """
WITH per_vec AS (
  SELECT label,
         FLOOR(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'sum') * 1000000 + 0.5) / 1000000 AS comp_sum
  FROM embeddings
)
SELECT label, COUNT(*) AS n,
       FLOOR((CAST(SUM(CAST(FLOOR(comp_sum * 1000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000 / COUNT(comp_sum)) * 10000 + 0.5) / 10000 AS avg_comp_sum,
       FLOOR(MIN(comp_sum) * 10000 + 0.5) / 10000 AS min_comp_sum,
       FLOOR(MAX(comp_sum) * 10000 + 0.5) / 10000 AS max_comp_sum
FROM per_vec
GROUP BY label
ORDER BY label
""",
)
def embedding_component_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array math over embeddings per label: JVM F.aggregate component
    sums (sequential fold ≙ DuckDB list_aggregate — per-row bit
    equality), rounded per row to 6 dp so the group average can
    accumulate exactly in decimal.
    """
    emb = load(spark, sf_dir, "embeddings")
    comp_sum = rnd(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        6,
    )
    per_vec = emb.select("label", comp_sum.alias("comp_sum"))
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            rnd(davg("comp_sum", 6), 4).alias("avg_comp_sum"),
            rnd(F.min("comp_sum"), 4).alias("min_comp_sum"),
            rnd(F.max("comp_sum"), 4).alias("max_comp_sum"),
        )
        .orderBy("label")
    )

_SEMANTIC_SIM_SQL = """FLOOR((list_dot_product(a.v, b.v)
       / (GREATEST(sqrt(list_dot_product(a.v, a.v)), 1e-12) * GREATEST(sqrt(list_dot_product(b.v, b.v)), 1e-12)))
      * 1000000 + 0.5) / 1000000"""

_SEMANTIC_DEDUP_SQL = f"""
WITH RECURSIVE e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
kk AS (SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) AS k FROM e),
cent AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT (SELECT k FROM kk)),
scored AS (
  SELECT e.vec_id, cent.cid, FLOOR((list_dot_product(e.v, cent.cv)
       / (GREATEST(sqrt(list_dot_product(e.v, e.v)), 1e-12) * GREATEST(sqrt(list_dot_product(cent.cv, cent.cv)), 1e-12)))
      * 1000000 + 0.5) / 1000000 AS csim
  FROM e CROSS JOIN cent
),
cells AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
    FROM scored
  ) WHERE rn = 1
),
sized AS (SELECT label, COUNT(*) AS bs FROM e GROUP BY label),
ev AS (
  SELECT e.vec_id, e.label, c.cell, e.v, s.bs
  FROM e JOIN cells c ON c.vec_id = e.vec_id JOIN sized s ON s.label = e.label
),
prs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM ev a JOIN ev b ON a.label = b.label AND a.vec_id < b.vec_id
             AND (a.bs <= 32 OR a.cell = b.cell)
  WHERE {_SEMANTIC_SIM_SQL} >= 0.3
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM prs
  UNION
  SELECT id_b AS src, id_a AS dst FROM prs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT reach.node, e2.dst FROM reach JOIN edges e2 ON e2.src = reach.r
),
clusters AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node)
SELECT e.vec_id,
       COALESCE(c.cluster_id, e.vec_id) AS cluster_id,
       (COALESCE(c.cluster_id, e.vec_id) = e.vec_id) AS is_canonical
FROM e LEFT JOIN clusters c ON c.node = e.vec_id
ORDER BY e.vec_id
"""

@query("semantic_dedup", _SEMANTIC_DEDUP_SQL)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style SEMANTIC dedup decision per document: collapse
    embedding-cosine near-dup groups (sim ≥ 0.3 within label blocks)
    via connected components and keep one canonical per group —
    (vec_id, cluster_id, is_canonical) for every embedding row,
    singletons canonical by construction.

    The embedding twin of dup_canonicals (which collapses the LEXICAL
    trigram-Jaccard graph): semantic dedup catches paraphrases and
    re-encodings that share no n-grams, the published motivation for
    embedding-space dedup of web-scale training corpora (SemDeDup,
    Abbas et al. 2023 — here the cluster prune is the label block and
    the keep rule is min id).

    The block is BOUNDED BY DEFAULT (round-6): label blocks larger
    than ``block_cap`` rows are sub-split by deterministic IVF cell
    (K ∝ √N), so the within-block pair term grows Θ(N·√N) instead of
    the Θ(N²/L) a fixed label set costs at scale — the cap is set so
    the driver-checked sf0.01 run exercises the capped leg (labels
    hold ~50 rows there). Pure label blocking remains an explicit
    ``block_cap=None`` opt-in on the operator.

    Oracle: DuckDB recomputes the same rounded-cosine pair graph —
    including the √N seeded-centroid cell assignment and the
    per-label size gate, both pure functions of the table — and
    resolves components by recursive-CTE reachability (MIN reachable
    id == min-label-propagation fixpoint), then left-joins the full
    id spine so singleton docs keep themselves.

    Scale: pairs never go all-pairs (blocked comparison, oversized
    blocks equi-joined on (label, cell)), components run on the
    pruned pair graph only, and the final decision is one left join
    of two narrow (id, id) relations.
    """
    from etl_weather_spark.operators.dedup import connected_components
    from etl_weather_spark.operators.similarity import (
        embedding_near_dupes as near_dupes,
    )

    emb = load(spark, sf_dir, "embeddings")
    pairs = near_dupes(emb, block_col="label", threshold=0.3, block_cap=32)
    clusters = connected_components(pairs.select("id_a", "id_b"))
    cluster_of = F.coalesce(F.col("cluster_id"), F.col("vec_id"))
    return (
        emb.select("vec_id")
        .join(clusters, F.col("vec_id") == F.col("node"), "left")
        .select(
            "vec_id",
            cluster_of.alias("cluster_id"),
            (cluster_of == F.col("vec_id")).alias("is_canonical"),
        )
        .orderBy("vec_id")
    )

_SEMANTIC_CSIM_SQL = """FLOOR((list_dot_product(e.v, cent.cv)
       / (GREATEST(sqrt(list_dot_product(e.v, e.v)), 1e-12) * GREATEST(sqrt(list_dot_product(cent.cv, cent.cv)), 1e-12)))
      * 1000000 + 0.5) / 1000000"""

_SEMANTIC_DEDUP_IVF_SQL = f"""
WITH RECURSIVE e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
kk AS (SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) AS k FROM e),
cent AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT (SELECT k FROM kk)),
scored AS (
  SELECT e.vec_id, cent.cid, {_SEMANTIC_CSIM_SQL} AS csim
  FROM e CROSS JOIN cent
),
cells AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
    FROM scored
  ) WHERE rn = 1
),
ev AS (SELECT c.vec_id, c.cell, e.v FROM cells c JOIN e ON e.vec_id = c.vec_id),
prs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM ev a JOIN ev b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE {_SEMANTIC_SIM_SQL} >= 0.3
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM prs
  UNION
  SELECT id_b AS src, id_a AS dst FROM prs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT reach.node, e2.dst FROM reach JOIN edges e2 ON e2.src = reach.r
),
clusters AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node)
SELECT e.vec_id,
       COALESCE(c.cluster_id, e.vec_id) AS cluster_id,
       (COALESCE(c.cluster_id, e.vec_id) = e.vec_id) AS is_canonical
FROM e LEFT JOIN clusters c ON c.node = e.vec_id
ORDER BY e.vec_id
"""

@query("semantic_dedup_ivf", _SEMANTIC_DEDUP_IVF_SQL)
def semantic_dedup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semantic_dedup's 100 TB shape: blocking on DATA-ADAPTIVE IVF
    cell ids instead of the fixed label set (VERDICT r2 "What's wrong"
    #3 — L fixed labels make 10× rows ≈ 100× comparisons per block;
    K = ⌈√N⌉ cells keep expected block size ∝ √N, so blocked pair
    generation grows Θ(N·√N), benchmarked in scripts/bench_scale.py).

    Cells come from operators/similarity.ivf_cells_seeded: centroids =
    the K lowest-id vectors (IVF with deterministic seeding, zero
    Lloyd rounds), assignment = max rounded cosine with lowest-cid tie
    break — every ingredient a pure function of the table, so the
    DuckDB oracle replays K, the centroid set, the cell of every
    vector, and the within-cell pair graph exactly. Swap
    train_ivf_centroids in for trained spherical-kmeans cells in
    production (same plan shape; engine-internal, so oracled via the
    recall-gate pattern instead).

    Like any blocked dedup (SemDeDup included), near-dups straddling a
    cell boundary are missed by design — the recall/throughput trade
    the paper makes with its k-means clusters.
    """
    from etl_weather_spark.operators.dedup import connected_components
    from etl_weather_spark.operators.similarity import ivf_cells_seeded

    emb = load(spark, sf_dir, "embeddings")
    cells = ivf_cells_seeded(emb, cells_per_sqrt_n=1)
    a = cells.select(
        F.col("cell"), F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"), F.col("nv").alias("na"),
    )
    b = cells.select(
        F.col("cell"), F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"), F.col("nv").alias("nb"),
    )
    from etl_weather_spark.operators.similarity import dot as _dot

    # norms precomputed once per vector in ivf_cells_seeded — identical
    # value to the oracle's per-pair sqrt(list_dot_product(v,v)).
    # (A pair-verify Arrow kernel was measured and rejected here — see
    # embedding_near_dupes: shipping both joined arrays through the
    # Python boundary cost more than the interpreted fold.)
    sim = rnd(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    pairs = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(sim >= 0.3)
        .select("id_a", "id_b")
    )
    clusters = connected_components(pairs)
    cluster_of = F.coalesce(F.col("cluster_id"), F.col("vec_id"))
    return (
        emb.select("vec_id")
        .join(clusters, F.col("vec_id") == F.col("node"), "left")
        .select(
            "vec_id",
            cluster_of.alias("cluster_id"),
            (cluster_of == F.col("vec_id")).alias("is_canonical"),
        )
        .orderBy("vec_id")
    )

@query(
    "hard_negatives",
    """
WITH q AS (
  SELECT vec_id AS query_id, label AS qlabel, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
),
c AS (
  SELECT vec_id AS neighbor_id, label AS clabel, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings
),
scored AS (
  SELECT query_id, neighbor_id,
         FLOOR((list_dot_product(qv, cv)
                / (GREATEST(sqrt(list_dot_product(qv, qv)), 1e-12) * GREATEST(sqrt(list_dot_product(cv, cv)), 1e-12)))
               * 1000000 + 0.5) / 1000000 AS sim
  FROM q CROSS JOIN c
  WHERE qlabel <> clabel
)
SELECT query_id, neighbor_id, sim, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5
ORDER BY query_id, rank
""",
)
def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE mining for contrastive training: for each query
    embedding, the top-5 most-similar vectors with a DIFFERENT label —
    the near-miss examples that teach an encoder its decision boundary
    (random negatives are trivially separable; hard ones carry the
    gradient signal).

    Same scale shape as the brute-force ANN baseline (queries
    broadcast, corpus partitioned, one window top-k); at 100 TB swap
    the exact scan for the IVF/PQ shortlist and keep the label-mismatch
    filter — the mining logic is unchanged.
    """
    from etl_weather_spark.operators.similarity import (
        as_double_array,
        dot,
        norm_safe,
    )

    emb = load(spark, sf_dir, "embeddings")
    qs = (
        emb.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("qlabel"),
            as_double_array(F.col("embedding")).alias("qv"),
        )
        .withColumn("qn", norm_safe(F.col("qv")))
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("clabel"),
        as_double_array(F.col("embedding")).alias("cv"),
    ).withColumn("cn", norm_safe(F.col("cv")))
    sim = rnd(dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6)
    scored = (
        c.crossJoin(F.broadcast(qs))
        .filter(F.col("qlabel") != F.col("clabel"))
        .select("query_id", "neighbor_id", sim.alias("sim"))
    )
    from etl_weather_spark.operators.similarity import topk_per_group

    return topk_per_group(scored, group_col="query_id", k=5).orderBy(
        "query_id", "rank"
    )

@query(
    "docs_missing_labeled_embedding",
    """
SELECT d.doc_id AS orphan_key, COUNT(*) AS n_rows
FROM documents d
LEFT JOIN (SELECT vec_id FROM embeddings WHERE label >= 1) e
  ON e.vec_id = d.doc_id
WHERE e.vec_id IS NULL AND d.doc_id IS NOT NULL
GROUP BY d.doc_id
ORDER BY orphan_key
""",
)
def docs_missing_labeled_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity scan (operators/profiling
    .referential_integrity): documents lacking a positively-labeled
    embedding row — the anti-join audit a multimodal pipeline runs
    before training ("every doc must have its vector").

    Scale: the parent key projection broadcasts when small, else one
    co-partitioned left_anti join; never a full materialized outer join.
    """
    from etl_weather_spark.operators.profiling import referential_integrity

    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings").filter(F.col("label") >= 1)
    return (
        referential_integrity(d, "doc_id", e, "vec_id")
        .orderBy("orphan_key")
    )

@query(
    "nearest_hub",
    """
WITH hubs AS (
  SELECT n_name AS hub,
         (CAST(('0x' || substr(md5('lat|' || n_name), 1, 8)) AS BIGINT) % 1700) / 10.0 - 85.0 AS hlat,
         (CAST(('0x' || substr(md5('lon|' || n_name), 1, 8)) AS BIGINT) % 3600) / 10.0 - 180.0 AS hlon
  FROM nation
),
cust AS (
  SELECT c_custkey,
         (CAST(('0x' || substr(md5('lat|' || CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % 1700) / 10.0 - 85.0 AS clat,
         (CAST(('0x' || substr(md5('lon|' || CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % 3600) / 10.0 - 180.0 AS clon
  FROM customer
),
pairs AS (
  SELECT c.c_custkey, h.hub,
         (c.clat - h.hlat) * (c.clat - h.hlat) + (c.clon - h.hlon) * (c.clon - h.hlon) AS dist2
  FROM cust c CROSS JOIN hubs h
),
nearest AS (
  SELECT c_custkey, hub, dist2,
         ROW_NUMBER() OVER (PARTITION BY c_custkey ORDER BY dist2, hub) AS rn
  FROM pairs
)
SELECT hub, COUNT(*) AS n_customers,
       FLOOR(MIN(dist2) * 10000 + 0.5) / 10000 AS min_dist2,
       FLOOR(MAX(dist2) * 10000 + 0.5) / 10000 AS max_dist2
FROM nearest WHERE rn = 1
GROUP BY hub
ORDER BY hub
""",
)
def nearest_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor spatial assignment (the geocode-lookup S3
    pattern at scale): every customer is assigned to its closest hub
    out of a small hub dimension, then hubs roll up membership counts
    and distance spreads. Coordinates are derived deterministically
    from md5 so the query is self-contained on the synthetic corpus;
    distance is squared plate-carrée degrees (argmin-equivalent to
    euclidean, and every + * / is correctly-rounded IEEE — bit-identical
    across engines, no trig in the hash path).

    Scale: the hub side is tiny → broadcast cross join (a map-side
    25-way comparison per row, no shuffle); the argmin is a
    customer-partitioned window over 25 rows. MIN/MAX aggregates are
    order-independent, so no float-accumulation hazard. A real geo
    workload swaps the cross join for a geohash-bucketed band join
    (same shape as operators/joins.range_join_bucketed).
    """
    nat = load(spark, sf_dir, "nation")

    def coord(prefix: str, key: F.Column, mod: int, scale: float, shift: float):
        hv = F.conv(
            F.substring(F.md5(F.concat(F.lit(prefix), key)), 1, 8), 16, 10
        ).cast("long")
        return (hv % mod) / F.lit(scale) - F.lit(shift)

    hubs = nat.select(
        F.col("n_name").alias("hub"),
        coord("lat|", F.col("n_name"), 1700, 10.0, 85.0).alias("hlat"),
        coord("lon|", F.col("n_name"), 3600, 10.0, 180.0).alias("hlon"),
    )
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        coord("lat|", F.col("c_custkey").cast("string"), 1700, 10.0, 85.0).alias(
            "clat"
        ),
        coord("lon|", F.col("c_custkey").cast("string"), 3600, 10.0, 180.0).alias(
            "clon"
        ),
    )
    dlat = F.col("clat") - F.col("hlat")
    dlon = F.col("clon") - F.col("hlon")
    pairs = cust.crossJoin(F.broadcast(hubs)).select(
        "c_custkey", "hub", (dlat * dlat + dlon * dlon).alias("dist2")
    )
    w = Window.partitionBy("c_custkey").orderBy("dist2", "hub")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("hub")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            rnd(F.min("dist2"), 4).alias("min_dist2"),
            rnd(F.max("dist2"), 4).alias("max_dist2"),
        )
        .orderBy("hub")
    )

@query(
    "label_centroid_norms",
    """
WITH comp AS (
  SELECT label,
         generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
cavg AS (
  SELECT label, pos,
         COUNT(x) AS n,
         FLOOR((CAST(SUM(CAST(FLOOR(x * 10000000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000000 / COUNT(x)) * 1000000 + 0.5) / 1000000 AS c
  FROM comp GROUP BY label, pos
)
SELECT label,
       CAST(MAX(n) AS BIGINT) AS n_vecs,
       CAST(COUNT(*) AS BIGINT) AS dim,
       FLOOR(SQRT(CAST(SUM(CAST(FLOOR(c * c * 1000000000000 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000000000) * 1000000 + 0.5) / 1000000 AS centroid_norm
FROM cavg
GROUP BY label
ORDER BY label
""",
)
def label_centroid_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid with its L2 norm — the cluster-
    cohesion summary a training pipeline checks after labeling (a
    centroid norm near 0 means the label's vectors cancel out, i.e. the
    class is incoherent). Component averages quantize to 7 dp and
    accumulate in decimal so the cross-row sum is order-independent;
    the norm then folds the ROUNDED centroid components, so both
    engines square and sum identical doubles.

    Scale: posexplode fans each vector to (label, pos, x) rows — the
    shuffle is keyed (label, pos), spreading one label's D components
    over D reducers instead of hot-spotting one; the second agg
    reduces D rows per label.
    """
    emb = load(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label",
        F.posexplode(
            F.transform("embedding", lambda x: x.cast("double"))
        ).alias("pos", "x"),
    )
    cavg = comp.groupBy("label", "pos").agg(
        F.count("x").alias("n"), rnd(davg("x", 7), 6).alias("c")
    )
    return (
        cavg.groupBy("label")
        .agg(
            F.max("n").alias("n_vecs"),
            F.count(F.lit(1)).alias("dim"),
            rnd(F.sqrt(dsum(F.col("c") * F.col("c"), 12)), 6).alias(
                "centroid_norm"
            ),
        )
        .orderBy("label")
    )

def _kmeans_ctes(k: int, iters: int) -> list[str]:
    """CTE list shared by _kmeans_oracle and the IVF recall-audit
    oracle: one dist/asg/cent triple per Lloyd round, each step the
    same quantized-integer algebra the Spark operator runs. The final
    assignment CTE is ``asg{iters}``; the centroid table it ranked
    against is ``cent{iters - 1}``."""
    ctes = [
        """comp AS (
  SELECT vec_id,
         CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
)""",
        f"""seeds AS (
  SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cluster
  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k})
)""",
        """cent0 AS (
  SELECT s.cluster, comp.pos, FLOOR(comp.x * 1000000 + 0.5) / 1000000 AS c
  FROM seeds s JOIN comp ON comp.vec_id = s.vec_id
)""",
    ]
    for i in range(1, iters + 1):
        prev = f"cent{i - 1}"
        ctes.append(
            f"""dist{i} AS (
  SELECT comp.vec_id, cc.cluster,
         CAST(SUM(CAST(FLOOR((comp.x - cc.c) * (comp.x - cc.c)
                             * 1000000000000 + 0.5) AS BIGINT)) AS BIGINT) AS qd
  FROM comp JOIN {prev} cc ON cc.pos = comp.pos
  GROUP BY comp.vec_id, cc.cluster
)"""
        )
        ctes.append(
            f"""asg{i} AS (
  SELECT vec_id, cluster, qd FROM (
    SELECT vec_id, cluster, qd,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY qd ASC, cluster ASC) AS rn
    FROM dist{i}
  ) WHERE rn = 1
)"""
        )
        if i < iters:
            ctes.append(
                f"""cent{i} AS (
  SELECT p.cluster, p.pos, COALESCE(m.c, p.c) AS c
  FROM {prev} p LEFT JOIN (
    SELECT a.cluster, comp.pos,
           FLOOR((CAST(SUM(CAST(FLOOR(comp.x * 10000000 + 0.5) AS BIGINT))
                       AS DOUBLE) / 10000000 / COUNT(*)) * 1000000 + 0.5)
             / 1000000 AS c
    FROM asg{i} a JOIN comp ON comp.vec_id = a.vec_id
    GROUP BY a.cluster, comp.pos
  ) m ON m.cluster = p.cluster AND m.pos = p.pos
)"""
            )
    return ctes

def _kmeans_oracle(k: int, iters: int) -> str:
    """Unrolled-iteration SQL twin of operators/similarity.kmeans_lloyd_full
    (CTE construction shared with the IVF recall audit's oracle)."""
    return (
        "WITH "
        + ",\n".join(_kmeans_ctes(k, iters))
        + f"""
SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster, a.qd AS qdist, e.label
FROM asg{iters} a JOIN embeddings e ON e.vec_id = a.vec_id
ORDER BY a.vec_id"""
    )

@query("kmeans_embedding_clusters", _kmeans_oracle(k=4, iters=3))
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully-DISTRIBUTED Lloyd k-means over the embedding corpus
    (operators/similarity.kmeans_lloyd_full): 3 assignment/update rounds,
    k=4, from deterministic lowest-id seeds — the clustering step of a
    semantic-dedup / data-curation pipeline, run entirely as relational
    algebra (no driver-held centroids, unlike the pyspark.ml quantizer
    in train_ivf_centroids).

    This is the registry's iterative NUMERIC fixpoint proof: squared
    distances accumulate as 1e12-quantized integers and centroid means
    as 1e7-quantized decimal sums rounded once at 6 dp, so the DuckDB
    twin (one unrolled CTE triple per round, generated by
    _kmeans_oracle) replays the full iteration history bit-for-bit —
    assignments, tie-breaks, empty-cluster carry-over and all.

    Scale: per round, the k·D centroid table broadcasts against the
    exploded components and the N·D·k fanout collapses map-side into
    (vec_id, cluster) partial sums; the operator fences its centroids
    every FENCE_EVERY rounds for production iteration counts (lazy at
    this demo depth).
    """
    from etl_weather_spark.operators.similarity import kmeans_lloyd_full

    emb = load(spark, sf_dir, "embeddings")
    asg = kmeans_lloyd_full(emb, k=4, iters=3)[0]
    return (
        asg.join(emb.select("vec_id", "label"), "vec_id")
        .select(
            "vec_id",
            F.col("cluster").cast("long").alias("cluster"),
            "qdist",
            "label",
        )
        .orderBy("vec_id")
    )

@query(
    "knn_label_spread",
    """
WITH seeds AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS sv
  FROM embeddings WHERE vec_id % 5 = 0 AND vec_id < 1000
),
targets AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS tv
  FROM embeddings WHERE NOT (vec_id % 5 = 0 AND vec_id < 1000)
),
scored AS (
  SELECT t.vec_id AS query_id, s.vec_id AS neighbor_id, s.label AS nlabel,
         FLOOR((list_dot_product(tv, sv)
                / (GREATEST(sqrt(list_dot_product(tv, tv)), 1e-12)
                   * GREATEST(sqrt(list_dot_product(sv, sv)), 1e-12)))
               * 1000000 + 0.5) / 1000000 AS sim
  FROM targets t CROSS JOIN seeds s
),
knn AS (
  SELECT query_id, nlabel FROM (
    SELECT query_id, nlabel,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, neighbor_id ASC) AS rnk
    FROM scored
  ) WHERE rnk <= 3
),
votes AS (
  SELECT query_id, nlabel, COUNT(*) AS v FROM knn GROUP BY query_id, nlabel
),
pred AS (
  SELECT query_id, nlabel AS pred_label FROM (
    SELECT query_id, nlabel,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY v DESC, nlabel ASC) AS rn
    FROM votes
  ) WHERE rn = 1
)
SELECT t.label AS true_label, p.pred_label,
       CAST(COUNT(*) AS BIGINT) AS n
FROM pred p JOIN targets t ON t.vec_id = p.query_id
GROUP BY t.label, p.pred_label
ORDER BY true_label, pred_label
""",
)
def knn_label_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMI-SUPERVISED LABEL SPREADING: every fifth vector is a trusted
    labeled seed; each remaining vector takes the majority label of its
    3 nearest seeds by cosine (ties: higher vote count, then
    lexicographic label; neighbor rank ties on seed id) — the cheap
    label-propagation step a curation pipeline uses to extend a small
    set of human quality labels across the corpus — reported as the
    confusion matrix against the held-back true labels, i.e. the
    spread-quality check itself.

    Scale: the seed set is BOUNDED (the <=200 lowest seed ids — a
    human-labeled set does not grow with the crawl), so it is pinned
    driver-side once (the PQ-codebook / IVF-centroid convention) and
    the per-target top-3 is computed LOCALLY inside one Arrow-batched
    exact-fold numpy kernel over the partitioned targets — similarities
    quantize to 1e-6 integers before ranking, so neighbour selection
    and tie-break are bit-identical to the broadcast crossJoin +
    salted-top-k Catalyst form this replaces (which paid 200
    interpreted array-fold dots per target plus a targets×seeds
    shuffle: 3.2 s → ~0.5 s at sf0.1); votes and the confusion rollup
    stay dimension-sized aggs.
    """
    from etl_weather_spark.operators.similarity import (
        as_double_array,
        collect_ref_vectors,
        topk_vs_ref_udf,
    )

    emb = load(spark, sf_dir, "embeddings")
    is_seed = (F.col("vec_id") % 5 == 0) & (F.col("vec_id") < 1000)
    seeds = emb.filter(is_seed)
    targets = emb.filter(~is_seed)
    seed_ids, seed_mat = collect_ref_vectors(seeds)
    top3 = topk_vs_ref_udf(seed_ids, seed_mat, k=3)
    knn = (
        targets.select(
            F.col("vec_id").alias("query_id"),
            top3(
                "vec_id", as_double_array(F.col("embedding"))
            ).alias("__nb"),
        )
        .select("query_id", F.explode("__nb").alias("nb"))
        .select("query_id", F.col("nb.neighbor_id").alias("neighbor_id"))
    )
    votes = (
        knn.join(
            seeds.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nlabel"),
            ),
            "neighbor_id",
        )
        .groupBy("query_id", "nlabel")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("v"), F.asc("nlabel"))
    pred = (
        votes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("query_id", F.col("nlabel").alias("pred_label"))
    )
    return (
        pred.join(
            targets.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("true_label"),
            ),
            "query_id",
        )
        .groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("true_label", "pred_label")
    )

@query(
    "label_silhouette_lite",
    """
WITH comp AS (
  SELECT vec_id, label,
         CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
cent AS (
  SELECT label, pos,
         FLOOR((CAST(SUM(CAST(FLOOR(x * 10000000 + 0.5) AS BIGINT)) AS DOUBLE)
                / 10000000 / COUNT(*)) * 1000000 + 0.5) / 1000000 AS c
  FROM comp GROUP BY label, pos
),
qd AS (
  SELECT comp.vec_id, comp.label AS own_label, cent.label AS to_label,
         CAST(SUM(CAST(FLOOR((comp.x - cent.c) * (comp.x - cent.c)
                             * 1000000000000 + 0.5) AS BIGINT)) AS BIGINT) AS qd
  FROM comp JOIN cent ON cent.pos = comp.pos
  GROUP BY comp.vec_id, comp.label, cent.label
),
ab AS (
  SELECT vec_id, own_label,
         MIN(CASE WHEN to_label = own_label THEN qd END) AS a,
         MIN(CASE WHEN to_label <> own_label THEN qd END) AS b
  FROM qd GROUP BY vec_id, own_label
),
s AS (
  SELECT vec_id, own_label,
         CASE WHEN GREATEST(a, b) = 0 THEN 0.0
              ELSE FLOOR(CAST(b - a AS DOUBLE) / GREATEST(a, b)
                         * 1000000 + 0.5) / 1000000
         END AS sil
  FROM ab
)
SELECT own_label AS label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       FLOOR((CAST(SUM(CAST(FLOOR(sil * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
              / 1000000 / COUNT(*)) * 1000000 + 0.5) / 1000000
         AS mean_silhouette
FROM s GROUP BY own_label
ORDER BY label
""",
)
def label_silhouette_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER-VALIDITY scoring of the labeled embedding space: a
    centroid-based (simplified) silhouette per label — a = squared
    distance to the OWN label centroid, b = squared distance to the
    nearest OTHER centroid, s = (b−a)/max(a,b) — the label-quality
    audit run before trusting labels for blocking, semantic dedup, or
    classifier training (mean s near 0 = that label is not a real
    cluster; negative = its members sit closer to another class).

    Determinism composes the proven pieces: centroid means via the
    1e7-quantized decimal path (label_centroid_norms), distances as
    1e12-quantized integer sums (kmeans_lloyd_full), per-vector s rounded at
    6 dp then quantize-summed for the label mean. Scale: one
    (label,pos)-keyed centroid agg, then the L·D centroid table
    broadcasts against exploded components with map-side partial sums —
    N·D·L fanout collapses before the shuffle, same shape as one
    k-means round.
    """
    emb = load(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.expr("transform(embedding, v -> cast(v as double))")).alias(
            "pos", "x"
        ),
    )
    cent = (
        comp.groupBy(F.col("label").alias("clabel"), "pos")
        .agg(
            F.sum(
                F.floor(F.col("x") * F.lit(10000000) + F.lit(0.5))
                .cast("long")
                .cast("decimal(28,0)")
            ).alias("qs"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "clabel",
            "pos",
            (
                F.floor(
                    (F.col("qs").cast("double") / F.lit(10000000) / F.col("n"))
                    * F.lit(1000000)
                    + F.lit(0.5)
                )
                / F.lit(1000000)
            ).alias("c"),
        )
    )
    d = F.col("x") - F.col("c")
    qd = (
        comp.join(F.broadcast(cent), "pos")
        .groupBy(
            "vec_id",
            F.col("label").alias("own_label"),
            F.col("clabel").alias("to_label"),
        )
        .agg(
            F.sum(
                F.floor(d * d * F.lit(1000000000000) + F.lit(0.5)).cast("long")
            ).alias("qd")
        )
    )
    ab = qd.groupBy("vec_id", "own_label").agg(
        F.min(
            F.when(F.col("to_label") == F.col("own_label"), F.col("qd"))
        ).alias("a"),
        F.min(
            F.when(F.col("to_label") != F.col("own_label"), F.col("qd"))
        ).alias("b"),
    )
    sil = F.when(F.greatest("a", "b") == 0, F.lit(0.0)).otherwise(
        rnd(
            (F.col("b") - F.col("a")).cast("double") / F.greatest("a", "b"), 6
        )
    )
    s = ab.select("vec_id", "own_label", sil.alias("sil"))
    return (
        s.groupBy(F.col("own_label").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            (
                F.floor(
                    (
                        F.sum(
                            F.floor(
                                F.col("sil") * F.lit(1000000) + F.lit(0.5)
                            ).cast("long")
                        ).cast("double")
                        / F.lit(1000000)
                        / F.count(F.lit(1))
                    )
                    * F.lit(1000000)
                    + F.lit(0.5)
                )
                / F.lit(1000000)
            ).alias("mean_silhouette"),
        )
        .orderBy("label")
    )

@query(
    "embedding_coverage_audit",
    """
WITH d AS (
  SELECT doc_id, source FROM documents
),
e AS (SELECT vec_id FROM embeddings)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(e.vec_id) AS BIGINT) AS n_with_vec,
       CAST(COUNT(*) - COUNT(e.vec_id) AS BIGINT) AS n_missing,
       FLOOR(CAST(COUNT(e.vec_id) AS DOUBLE) / COUNT(*) * 1000000 + 0.5)
         / 1000000 AS coverage,
       CAST((SELECT COUNT(*) FROM e
             WHERE e.vec_id NOT IN (SELECT doc_id FROM d)) AS BIGINT)
         AS n_orphan_vecs
FROM d LEFT JOIN e ON e.vec_id = d.doc_id
GROUP BY d.source
ORDER BY d.source
""",
)
def embedding_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIPELINE-INTEGRITY audit between the text and vector stores: per
    source, how many documents have an embedding row (vec_id aligned to
    doc_id), how many are missing, and how many vectors are ORPHANED
    (no backing document) — the join-health check that catches a
    partially-failed embedding job or a stale vector snapshot before
    any ANN/semantic-dedup stage silently under-covers the corpus.

    Scale: one left join keyed on the id plus an anti-join for orphans
    — both partial-agg-friendly equi-joins; the per-source rollup is
    dimension-sized. The orphan count broadcasts as a single-row
    subquery result on both engines.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    emb = load(spark, sf_dir, "embeddings").select("vec_id")
    joined = docs.join(emb, docs.doc_id == emb.vec_id, "left")
    per = joined.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count("vec_id").cast("long").alias("n_with_vec"),
        (F.count(F.lit(1)) - F.count("vec_id")).cast("long").alias("n_missing"),
        rnd(
            F.count("vec_id").cast("double") / F.count(F.lit(1)), 6
        ).alias("coverage"),
    )
    orphans = (
        emb.join(docs, emb.vec_id == docs.doc_id, "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orphan_vecs"))
    )
    return (
        per.crossJoin(F.broadcast(orphans))
        .select(
            "source", "n_docs", "n_with_vec", "n_missing", "coverage",
            "n_orphan_vecs",
        )
        .orderBy("source")
    )

@query(
    "int8_quant_audit",
    """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
s AS (
  SELECT vec_id, label, v,
         FLOOR(GREATEST(list_aggregate(list_transform(v, x -> abs(x)), 'max'), 1e-12)
               / 127.0 * 1000000000 + 0.5) / 1000000000 AS scale9
  FROM e
),
r AS (
  SELECT vec_id, label, v, scale9,
         list_transform(v, x -> LEAST(GREATEST(FLOOR(x / scale9 + 0.5), -127.0), 127.0) * scale9) AS recon,
         CAST(list_aggregate(list_transform(v, x ->
              CASE WHEN FLOOR(x / scale9 + 0.5) > 127.0
                     OR FLOOR(x / scale9 + 0.5) < -127.0 THEN 1 ELSE 0 END), 'sum')
              AS BIGINT) AS n_clipped
  FROM s
)
SELECT vec_id, label, scale9, n_clipped,
       FLOOR(list_dot_product(list_transform(list_zip(v, recon), p -> p[1] - p[2]),
                              list_transform(list_zip(v, recon), p -> p[1] - p[2]))
             * 1000000000 + 0.5) / 1000000000 AS sq_err9,
       FLOOR((list_dot_product(v, recon)
              / (GREATEST(sqrt(list_dot_product(v, v)), 1e-12)
                 * GREATEST(sqrt(list_dot_product(recon, recon)), 1e-12)))
             * 1000000 + 0.5) / 1000000 AS cos6
FROM r
ORDER BY vec_id
""",
)
def int8_quant_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector INT8 quantization audit — the compression
    every embedding-serving stack applies before shipping vectors to an
    ANN index (4x smaller than float32, 8x smaller than the double
    math): scale = max|x|/127, q_i = clip(round(x_i/scale), ±127), and
    the audit reports reconstruction quality per vector — squared
    error, cosine(original, reconstruction), and how many components
    clipped (only possible via the 1e-9 scale rounding, so n_clipped>0
    flags quantizer-resolution trouble, not data trouble).

    Determinism: the scale is 1e-9-quantized ONCE and reused by both
    engines; round-half-up FLOOR(x+0.5) everywhere; the error/cosine
    aggregates ride the same sequential-fold dot used by every
    embedding oracle (list_dot_product twin), rounded once at the end.

    Scale: pure projection over higher-order functions — no shuffle,
    no UDF, whole-stage codegen end to end; 100 TB of vectors stream
    through map-side.
    """
    emb = load(spark, sf_dir, "embeddings")
    from etl_weather_spark.operators.similarity import dot

    v = "cast(embedding as array<double>)"
    scale9 = (
        f"floor(greatest(aggregate(transform({v}, x -> abs(x)), cast(0.0 as double),"
        f" (acc, x) -> greatest(acc, x)), 1e-12d) / 127.0d * 1000000000 + 0.5) / 1000000000"
    )
    base = emb.select(
        "vec_id",
        "label",
        F.expr(v).alias("v"),
        F.expr(scale9).alias("scale9"),
    )
    qexpr = "least(greatest(floor(x / scale9 + 0.5d), -127.0d), 127.0d)"
    r = base.select(
        "vec_id",
        "label",
        "v",
        "scale9",
        F.expr(f"transform(v, x -> {qexpr} * scale9)").alias("recon"),
        F.expr(
            "cast(aggregate(transform(v, x -> case when"
            f" floor(x / scale9 + 0.5d) > 127.0d or floor(x / scale9 + 0.5d) < -127.0d"
            " then 1 else 0 end), 0, (acc, x) -> acc + x) as bigint)"
        ).alias("n_clipped"),
    )
    d = F.zip_with("v", "recon", lambda a, b: a - b)
    cos = rnd(
        dot(F.col("v"), F.col("recon"))
        / (
            F.greatest(F.sqrt(dot(F.col("v"), F.col("v"))), F.lit(1e-12))
            * F.greatest(F.sqrt(dot(F.col("recon"), F.col("recon"))), F.lit(1e-12))
        ),
        6,
    )
    return r.select(
        "vec_id",
        "label",
        "scale9",
        "n_clipped",
        rnd(dot(d, d), 9).alias("sq_err9"),
        cos.alias("cos6"),
    ).orderBy("vec_id")

@query(
    "pca_power_iteration",
    """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
comp AS (
  SELECT vec_id,
         CAST(generate_subscripts(v, 1) - 1 AS BIGINT) AS pos,
         UNNEST(v) AS x
  FROM e
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e),
x0 AS (
  SELECT CAST(UNNEST(range(0, 64)) AS BIGINT) AS pos,
         FLOOR((1.0 / sqrt(64.0)) * 1000000 + 0.5) / 1000000 AS xv
),
s1 AS (
  SELECT c.vec_id,
         FLOOR((CAST(SUM(CAST(FLOOR(c.x * x.xv * 1000000000000 + 0.5) AS BIGINT)) AS DOUBLE)
                / 1000000000000) * 1000000 + 0.5) / 1000000 AS s6
  FROM comp c JOIN x0 x ON x.pos = c.pos
  GROUP BY c.vec_id
),
yraw1 AS (
  SELECT c.pos,
         CAST(SUM(CAST(FLOOR(c.x * s.s6 * 1000000000000 + 0.5) AS BIGINT)) AS DOUBLE)
           / 1000000000000 AS raw
  FROM comp c JOIN s1 s ON s.vec_id = c.vec_id
  GROUP BY c.pos
),
y1 AS (
  SELECT pos, FLOOR((raw / nn.n) * 1000000 + 0.5) / 1000000 AS y6
  FROM yraw1 CROSS JOIN nn
),
nr1 AS (
  SELECT FLOOR(sqrt(CAST(SUM(CAST(FLOOR(y6 * y6 * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1000000) * 1000000 + 0.5) / 1000000 AS norm6
  FROM y1
),
x1 AS (
  SELECT pos, FLOOR((y6 / nr1.norm6) * 1000000 + 0.5) / 1000000 AS xv
  FROM y1 CROSS JOIN nr1
),
s2 AS (
  SELECT c.vec_id,
         FLOOR((CAST(SUM(CAST(FLOOR(c.x * x.xv * 1000000000000 + 0.5) AS BIGINT)) AS DOUBLE)
                / 1000000000000) * 1000000 + 0.5) / 1000000 AS s6
  FROM comp c JOIN x1 x ON x.pos = c.pos
  GROUP BY c.vec_id
),
yraw2 AS (
  SELECT c.pos,
         CAST(SUM(CAST(FLOOR(c.x * s.s6 * 1000000000000 + 0.5) AS BIGINT)) AS DOUBLE)
           / 1000000000000 AS raw
  FROM comp c JOIN s2 s ON s.vec_id = c.vec_id
  GROUP BY c.pos
),
y2 AS (
  SELECT pos, FLOOR((raw / nn.n) * 1000000 + 0.5) / 1000000 AS y6
  FROM yraw2 CROSS JOIN nn
),
nr2 AS (
  SELECT FLOOR(sqrt(CAST(SUM(CAST(FLOOR(y6 * y6 * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1000000) * 1000000 + 0.5) / 1000000 AS norm6
  FROM y2
),
x2 AS (
  SELECT pos, FLOOR((y6 / nr2.norm6) * 1000000 + 0.5) / 1000000 AS xv
  FROM y2 CROSS JOIN nr2
),
s3 AS (
  SELECT c.vec_id,
         FLOOR((CAST(SUM(CAST(FLOOR(c.x * x.xv * 1000000000000 + 0.5) AS BIGINT)) AS DOUBLE)
                / 1000000000000) * 1000000 + 0.5) / 1000000 AS s6
  FROM comp c JOIN x2 x ON x.pos = c.pos
  GROUP BY c.vec_id
),
yraw3 AS (
  SELECT c.pos,
         CAST(SUM(CAST(FLOOR(c.x * s.s6 * 1000000000000 + 0.5) AS BIGINT)) AS DOUBLE)
           / 1000000000000 AS raw
  FROM comp c JOIN s3 s ON s.vec_id = c.vec_id
  GROUP BY c.pos
),
y3 AS (
  SELECT pos, FLOOR((raw / nn.n) * 1000000 + 0.5) / 1000000 AS y6
  FROM yraw3 CROSS JOIN nn
),
nr3 AS (
  SELECT FLOOR(sqrt(CAST(SUM(CAST(FLOOR(y6 * y6 * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1000000) * 1000000 + 0.5) / 1000000 AS norm6
  FROM y3
),
x3 AS (
  SELECT pos, FLOOR((y6 / nr3.norm6) * 1000000 + 0.5) / 1000000 AS xv
  FROM y3 CROSS JOIN nr3
)
SELECT x3.pos, x3.xv AS component6, nr3.norm6 AS eig_mean_gram6
FROM x3 CROSS JOIN nr3
ORDER BY x3.pos
""",
)
def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus via DISTRIBUTED
    POWER ITERATION on the mean Gram matrix (operators/similarity
    .power_iteration_top_component) — the second iterative numeric
    fixpoint in the registry next to Lloyd k-means, proven the same
    way: every dot is an order-free 1e12-quantized integer sum, every
    iterate re-rounds at 6 dp, and the oracle unrolls the three rounds
    as chained CTEs computing the bit-identical recurrence.

    Σx is computed as (1/N)·Σᵢ vᵢ(vᵢᵀx) — two keyed partial-agg
    aggregations per round over the exploded components — so the D×D
    matrix never materializes and nothing depends on N beyond two
    map-side-combinable shuffles. The eigenvalue estimate ‖Σx‖ (x
    unit) rides along from the last round.
    """
    from etl_weather_spark.operators.similarity import (
        power_iteration_top_component,
    )

    emb = load(spark, sf_dir, "embeddings")
    return power_iteration_top_component(emb, dim=64)

@query(
    "semantic_decontaminate",
    f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
ev AS (
  SELECT vec_id AS eval_id, v AS evv FROM e
  WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 50
),
tr AS (SELECT vec_id, v FROM e WHERE vec_id % 50 <> 0),
scored AS (
  SELECT tr.vec_id, ev.eval_id,
         FLOOR((list_dot_product(tr.v, ev.evv)
                / (GREATEST(sqrt(list_dot_product(tr.v, tr.v)), 1e-12)
                   * GREATEST(sqrt(list_dot_product(ev.evv, ev.evv)), 1e-12)))
               * 1000000 + 0.5) / 1000000 AS sim6
  FROM tr CROSS JOIN ev
)
SELECT vec_id, eval_id AS nearest_eval_id, sim6 AS nearest_sim6,
       (sim6 >= 0.3) AS contaminated
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY vec_id ORDER BY sim6 DESC, eval_id ASC) AS rn
  FROM scored
) WHERE rn = 1
ORDER BY vec_id
""",
)
def semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination — the embedding twin of
    decontaminate_overlap's shingle screen: flag every training vector
    whose cosine to ANY held-out benchmark vector (the vec_id % 50 = 0
    slice stands in for the eval set) clears the near-dup threshold.
    Paraphrased eval leakage shares no 5-gram shingles but lights up
    here — the reason modern decontamination runs both screens.

    Output: per training vector, its nearest benchmark neighbor, the
    rounded cosine, and the contamination verdict (ties break to the
    lowest eval id via the per-vector rank window).

    Scale: benchmark sets are small by construction — the eval slice is
    additionally capped at the 50 lowest ids so the reference side can
    never grow with the corpus (an unbounded mod-slice measured 4.4x at
    10x before this bound — the knn_label_spread seed lesson); it is
    pinned driver-side once (the PQ-codebook / IVF-centroid convention)
    and the per-vector argmax runs LOCALLY inside one Arrow-batched
    exact-fold numpy kernel over the training corpus — similarities
    quantize to 1e-6 integers before the argmax, so the nearest-eval
    pick and tie-break are bit-identical to the broadcast crossJoin +
    per-vector window form this replaces (which paid 50 interpreted
    array-fold dots per row plus an N×50-row window shuffle).
    """
    from etl_weather_spark.operators.similarity import (
        as_double_array,
        collect_ref_vectors,
        topk_vs_ref_udf,
    )

    emb = load(spark, sf_dir, "embeddings")
    ev_ids, ev_mat = collect_ref_vectors(
        emb.filter(F.col("vec_id") % 50 == 0), limit=50
    )
    top1 = topk_vs_ref_udf(ev_ids, ev_mat, k=1)
    tr = emb.filter(F.col("vec_id") % 50 != 0).select(
        "vec_id", as_double_array(F.col("embedding")).alias("v")
    )
    return (
        tr.select("vec_id", F.explode(top1("vec_id", "v")).alias("nb"))
        .select(
            "vec_id",
            F.col("nb.neighbor_id").alias("nearest_eval_id"),
            F.col("nb.sim").alias("nearest_sim6"),
            (F.col("nb.sim") >= 0.3).alias("contaminated"),
        )
        .orderBy("vec_id")
    )

def _matryoshka_oracle() -> str:
    """Per truncation dim: brute-force cosine top-10 on the PREFIX of
    each embedding, then overlap vs the full-dim (64) ground truth."""
    dims = (64, 32, 16, 8)
    parts = []
    for d in dims:
        parts.append(
            f"""t{d} AS (
  SELECT query_id, neighbor_id, CAST({d} AS BIGINT) AS dim FROM (
    SELECT q.query_id, c.neighbor_id,
           FLOOR((list_dot_product(list_slice(q.qv, 1, {d}), list_slice(c.cv, 1, {d}))
                  / (GREATEST(sqrt(list_dot_product(list_slice(q.qv, 1, {d}), list_slice(q.qv, 1, {d}))), 1e-12)
                     * GREATEST(sqrt(list_dot_product(list_slice(c.cv, 1, {d}), list_slice(c.cv, 1, {d}))), 1e-12)))
                 * 1000000 + 0.5) / 1000000 AS sim
    FROM q CROSS JOIN c
    WHERE q.query_id <> c.neighbor_id
  ) s
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) <= 10
)"""
        )
    union = "\nUNION ALL\n".join(f"SELECT * FROM t{d}" for d in dims)
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
),
c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings
),
{",".join(parts)},
alltk AS ({union}),
full64 AS (SELECT query_id, neighbor_id FROM t64)
SELECT a.query_id, a.dim,
       CAST(SUM(CASE WHEN f.neighbor_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         AS n_overlap,
       FLOOR((SUM(CASE WHEN f.neighbor_id IS NULL THEN 0 ELSE 1 END) * 1.0 / 10)
             * 10000 + 0.5) / 10000 AS recall4
FROM alltk a
LEFT JOIN full64 f
  ON f.query_id = a.query_id AND f.neighbor_id = a.neighbor_id
GROUP BY a.query_id, a.dim
ORDER BY a.query_id, a.dim DESC
"""

@query("matryoshka_truncation_audit", _matryoshka_oracle())
def matryoshka_truncation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA embedding-truncation audit (Kusupati et al. 2022:
    MRL trains embeddings whose PREFIXES are usable at lower cost —
    serving stacks truncate 64→16 dims for 4× cheaper ANN): for each
    truncation dim (64/32/16/8), run exact cosine top-10 retrieval on
    the prefix and report its overlap/recall against the full-dim
    ground truth — the measurement that decides how far an index can
    truncate before retrieval quality collapses.

    Exactness: each leg is the ann_cosine_topk convention (6-dp
    quantized cosine, rank by sim desc then neighbor id) on sliced
    arrays; the audit join moves only (query, neighbor, dim) triples.

    Scale: probes pinned driver-side once (≤5 — the PQ-codebook
    convention) and sliced per truncation dim in the exact-fold numpy
    kernel (column slicing changes no doubles); corpus scanned once per
    dim with the salted two-level top-k; the overlap join is
    (5·k·dims) rows. The full-dim ground-truth leg is fenced — it
    feeds both the per-dim union and the overlap spine.
    """
    from etl_weather_spark.operators.similarity import (
        collect_ref_vectors,
        cosine_topk_vs_pinned_queries,
    )

    emb = load(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 5)
    q_ids, q_mat = collect_ref_vectors(qs)
    dims = [64, 32, 16, 8]
    legs = []
    for d in dims:
        ce = emb.select("vec_id", F.slice("embedding", 1, d).alias("embedding"))
        legs.append(
            cosine_topk_vs_pinned_queries(ce, q_ids, q_mat[:, :d], k=10)
            .select("query_id", "neighbor_id")
            .withColumn("dim", F.lit(d).cast("long"))
        )
    legs[0] = fence(legs[0])
    alltk = legs[0]
    for leg in legs[1:]:
        alltk = alltk.unionByName(leg)
    full64 = legs[0].select(
        F.col("query_id").alias("gt_query_id"),
        F.col("neighbor_id").alias("hit_id"),
    )
    hit = F.when(F.col("hit_id").isNull(), 0).otherwise(1)
    return (
        alltk.join(
            full64,
            (F.col("query_id") == F.col("gt_query_id"))
            & (F.col("neighbor_id") == F.col("hit_id")),
            "left",
        )
        .groupBy("query_id", "dim")
        .agg(
            F.sum(hit).cast("long").alias("n_overlap"),
            rnd(F.sum(hit) * 1.0 / 10, 4).alias("recall4"),
        )
        .orderBy("query_id", F.col("dim").desc())
    )

def _decon_agreement_oracle() -> str:
    """Embed BOTH registered decontamination oracles verbatim (the
    funnel embedding discipline) and cross-tabulate their verdicts."""
    return f"""
WITH shingle_hits AS (
  SELECT doc_id FROM ({_ORACLES["decontaminate_overlap"]}
  )
),
semantic AS (
  SELECT vec_id AS doc_id, contaminated FROM ({_ORACLES["semantic_decontaminate"]}
  )
),
base AS (
  SELECT d.doc_id,
         (sh.doc_id IS NOT NULL) AS shingle_hit,
         s.contaminated AS semantic_hit
  FROM documents d
  JOIN semantic s ON s.doc_id = d.doc_id
  LEFT JOIN shingle_hits sh ON sh.doc_id = d.doc_id
  WHERE d.doc_id % 50 <> 0
)
SELECT shingle_hit, semantic_hit,
       CAST(COUNT(*) AS BIGINT) AS n_ids,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM base GROUP BY shingle_hit, semantic_hit
ORDER BY shingle_hit, semantic_hit
"""

@query("decontamination_method_agreement", _decon_agreement_oracle())
def decontamination_method_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """METHOD-AGREEMENT audit for the two decontamination screens —
    the report a release review actually reads: the 2×2 cross-tab of
    the verbatim 5-gram shingle screen against the embedding-cosine
    screen over the training ids both can judge (ids with a vector;
    the synthetic tables share one id space). shingle-only = verbatim
    overlap whose embedding drifted; semantic-only = the paraphrased
    leakage the shingle screen structurally misses — the cell whose
    size justifies running both, quantified instead of asserted.
    An id checksum per cell verifies the SETS, not just their sizes.

    Both legs are the REGISTERED queries, reused verbatim; the oracle
    embeds both registered oracles, so the cross-tab cannot drift from
    the standalone screens.

    Scale: each leg is its own documented bounded plan (broadcast
    benchmark shingles; capped eval-vector broadcast); the cross-tab
    moves only (id, flag) rows and outputs ≤4 cells.
    """
    sh = (
        decontaminate_overlap(spark, sf_dir)
        .select("doc_id")
        .withColumn("shingle_hit", F.lit(True))
    )
    se = semantic_decontaminate(spark, sf_dir).select(
        F.col("vec_id").alias("doc_id"),
        F.col("contaminated").alias("semantic_hit"),
    )
    docs = load(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") % 50 != 0
    )
    base = (
        docs.join(se, "doc_id")
        .join(sh, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("shingle_hit", F.lit(False)).alias("shingle_hit"),
            "semantic_hit",
        )
    )
    return (
        base.groupBy("shingle_hit", "semantic_hit")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ids"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        .orderBy("shingle_hit", "semantic_hit")
    )

@query(
    "embedding_outlier_knn",
    f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
ref AS (
  SELECT vec_id AS ref_id, v AS rv FROM e ORDER BY vec_id LIMIT 256
),
scored AS (
  SELECT e.vec_id, e.label, r.ref_id,
         FLOOR((1 - list_dot_product(e.v, r.rv)
                / (GREATEST(sqrt(list_dot_product(e.v, e.v)), 1e-12)
                   * GREATEST(sqrt(list_dot_product(r.rv, r.rv)), 1e-12)))
               * 1000000 + 0.5) / 1000000 AS dist6
  FROM e CROSS JOIN ref r WHERE r.ref_id <> e.vec_id
),
knn AS (
  SELECT vec_id, label, dist6,
         ROW_NUMBER() OVER (
           PARTITION BY vec_id ORDER BY dist6 ASC, ref_id ASC) AS rn
  FROM scored
),
sc AS (
  SELECT vec_id, MAX(label) AS label,
         FLOOR(({sql_dsum('dist6', 6)} / 5) * 1000000 + 0.5) / 1000000
           AS knn_dist6
  FROM knn WHERE rn <= 5 GROUP BY vec_id
)
SELECT CAST(rank AS BIGINT) AS rank, vec_id, label, knn_dist6 FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY knn_dist6 DESC, vec_id ASC) AS rank
  FROM sc
) WHERE rank <= 20
ORDER BY rank
""",
)
def embedding_outlier_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-DISTANCE embedding outlier detection: each vector's mean
    cosine distance to its 5 nearest neighbors among a BOUNDED
    reference sample (the 256 lowest vec_ids), reported as the top-20
    most isolated vectors — the screen that catches corrupted
    embeddings, mislabeled modality rows, and out-of-domain strays
    before they seed ANN index cells or semantic-dedup blocks.

    The reference side is hard-capped at 256 ids (the
    semantic_decontaminate / knn_label_spread seed lesson: a mod-slice
    that grows with the corpus turns the broadcast scan quadratic);
    sub-sampled kNN distance is the standard linear-time estimator of
    the exact kNN outlier score. Distances quantize at 6 dp, the
    5-neighbor mean re-derives each distance's exact 1e-6 integer
    before folding (bit-identical to the oracle's decimal-accumulated
    mean).

    Scale: the reference sample is pinned driver-side once (256 ids ×
    D doubles — the PQ-codebook / IVF-centroid deploy-time-broadcast
    convention) and the whole scoring pass is ONE Arrow-batched numpy
    kernel over the partitioned corpus: per batch, exact-fold dots
    (bit-identical to the JVM aggregate/zip_with sequence — see
    operators/similarity.fold_dots), 1e-6 integer quantization, and an
    integer k-smallest selection, so the score is byte-equal to the
    previous broadcast-array Catalyst form (which paid 256 interpreted
    array-fold dots + a 256-struct array_sort per row: 8.1 s at sf0.1
    vs ~0.5 s for this kernel). The final top-20 is the salted
    two-level topk_per_group, so no global sort ever materializes.
    """
    from etl_weather_spark.operators.similarity import (
        as_double_array,
        collect_ref_vectors,
        knn_mean_dist_udf,
        topk_per_group,
    )

    emb = load(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", "label", as_double_array(F.col("embedding")).alias("v")
    )
    ref_ids, ref_mat = collect_ref_vectors(emb, limit=256)
    score = knn_mean_dist_udf(ref_ids, ref_mat)
    sc = e.select("vec_id", "label", score("vec_id", "v").alias("knn_dist6"))
    return (
        topk_per_group(
            sc.withColumn("__g", F.lit(1)),
            group_col="__g",
            k=20,
            sim_col="knn_dist6",
            tie_col="vec_id",
        )
        .select(
            F.col("rank").cast("long").alias("rank"),
            "vec_id",
            "label",
            "knn_dist6",
        )
        .orderBy("rank")
    )

def _kcenter_oracle() -> str:
    """8 unrolled greedy farthest-point rounds (the kmeans/pca
    chained-CTE proof pattern): round i picks the vector maximizing
    the 6-dp-quantized min cosine distance to the chosen set, ties to
    the lowest id; chosen ids are excluded from later rounds."""

    def dist(c: str) -> str:
        return (
            f"FLOOR((1 - list_dot_product(e.v, (SELECT v FROM {c}))"
            f" / (GREATEST(sqrt(list_dot_product(e.v, e.v)), 1e-12)"
            f" * GREATEST(sqrt((SELECT list_dot_product(v, v) FROM {c})),"
            f" 1e-12))) * 1000000 + 0.5) / 1000000"
        )

    # MATERIALIZED everywhere: round i references every earlier round
    # (and e) several times — inlined CTEs would re-expand the whole
    # chain multiplicatively (the funnel-v3 lesson; observed as a
    # too-many-open-files parquet re-scan blow-up)
    ctes = [
        "e AS MATERIALIZED (SELECT vec_id, label,"
        " CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
        "c1 AS MATERIALIZED"
        " (SELECT vec_id, label, v FROM e ORDER BY vec_id LIMIT 1)",
    ]
    for i in range(2, 9):
        prev = ", ".join(
            dist(f"c{j}") for j in range(1, i)
        )
        md = f"LEAST({prev})" if i > 2 else prev
        chosen = ", ".join(f"(SELECT vec_id FROM c{j})" for j in range(1, i))
        ctes.append(
            f"c{i} AS MATERIALIZED (SELECT e.vec_id, e.label, e.v, {md} AS md"
            f" FROM e WHERE e.vec_id NOT IN ({chosen})"
            f" ORDER BY md DESC, e.vec_id ASC LIMIT 1)"
        )
    rows = [
        "SELECT CAST(1 AS BIGINT) AS round, vec_id, label,"
        " CAST(NULL AS DOUBLE) AS sel_dist6 FROM c1"
    ] + [
        f"SELECT CAST({i} AS BIGINT) AS round, vec_id, label,"
        f" md AS sel_dist6 FROM c{i}"
        for i in range(2, 9)
    ]
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL\n".join(rows)
        + "\nORDER BY round"
    )

@query("kcenter_coreset_selection", _kcenter_oracle())
def kcenter_coreset_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GREEDY k-CENTER coreset selection (farthest-point traversal —
    Gonzalez 1985; the Sener & Savarese active-learning / coreset
    data-selection primitive, and the standard diverse-seed picker for
    IVF training): starting from the lowest-id vector, each of 8
    rounds adds the vector farthest (max min cosine distance, 6 dp,
    ties to the lowest id) from everything chosen so far — the
    2-approximation of the k-center objective, selecting a maximally
    diverse subset for labeling, ANN seeding, or data-budget
    selection. The registry's iterative fixpoint #4, next to Lloyd
    k-means, PageRank, and power iteration.

    The chosen set rides as ONE array row (the embedding_outlier_knn
    broadcast-array shape): each round is a shuffle-free min-distance
    projection over the corpus + a TakeOrdered-1 argmax + an
    array_append — no driver collect anywhere; lazy fences keep the
    8-round lineage flat. The oracle unrolls the rounds as chained
    CTEs computing the bit-identical greedy
    recurrence (the kmeans/pca proof pattern).

    Scale: 8 passes over the corpus with ≤8 fold-dots per row each —
    Θ(8·N·D) map work, one 1-row argmax reduction per round.
    """
    from etl_weather_spark.operators.similarity import as_double_array, dot

    k = 8
    emb = load(spark, sf_dir, "embeddings")
    e = fence(emb.select(
        "vec_id", "label", as_double_array(F.col("embedding")).alias("v")
    ).withColumn(
        "nv", F.greatest(F.sqrt(dot(F.col("v"), F.col("v"))), F.lit(1e-12))
    ))
    seed = e.orderBy("vec_id").limit(1)
    centers = fence(seed.select(
        F.array(
            F.struct(
                F.col("vec_id").alias("cid"),
                F.col("v").alias("cv"),
                F.col("nv").alias("cn"),
            )
        ).alias("cs")
    ))
    rows = [
        seed.select(
            F.lit(1).cast("long").alias("round"),
            "vec_id",
            "label",
            F.lit(None).cast("double").alias("sel_dist6"),
        )
    ]
    for i in range(2, k + 1):
        scored = (
            e.crossJoin(F.broadcast(centers))
            .filter(
                ~F.array_contains(
                    F.transform(F.col("cs"), lambda c: c["cid"]),
                    F.col("vec_id"),
                )
            )
            .select(
                "vec_id",
                "label",
                F.array_min(
                    F.transform(
                        F.col("cs"),
                        lambda c: rnd(
                            F.lit(1)
                            - dot(F.col("v"), c["cv"])
                            / (F.col("nv") * c["cn"]),
                            6,
                        ),
                    )
                ).alias("md"),
                "v",
                "nv",
            )
        )
        top1 = scored.orderBy(F.desc("md"), F.asc("vec_id")).limit(1)
        top1 = fence(top1)
        rows.append(
            top1.select(
                F.lit(i).cast("long").alias("round"),
                "vec_id",
                "label",
                F.col("md").alias("sel_dist6"),
            )
        )
        centers = fence(
            centers.crossJoin(F.broadcast(top1))
            .select(
                F.array_append(
                    F.col("cs"),
                    F.struct(
                        F.col("vec_id").alias("cid"),
                        F.col("v").alias("cv"),
                        F.col("nv").alias("cn"),
                    ),
                ).alias("cs")
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("round")

def _ivf_recall_oracle(k: int, iters: int, nprobe: int, topk: int) -> str:
    """SQL twin of ann_ivf_recall_audit: the shared kmeans CTE chain
    (bit-exact quantizer replay), query-to-centroid probing with the
    SAME quantized-integer distance, in-cell exact cosine top-k, and
    the brute-force top-k as the recall denominator."""
    cent = f"cent{iters - 1}"
    cos = (
        "FLOOR((list_dot_product({a}, {b}) / "
        "(GREATEST(sqrt(list_dot_product({a}, {a})), 1e-12) * "
        "GREATEST(sqrt(list_dot_product({b}, {b})), 1e-12))) "
        "* 1000000 + 0.5) / 1000000"
    )
    return (
        "WITH "
        + ",\n".join(_kmeans_ctes(k, iters))
        + f""",
qdistc AS (
  SELECT comp.vec_id, cc.cluster,
         CAST(SUM(CAST(FLOOR((comp.x - cc.c) * (comp.x - cc.c)
                             * 1000000000000 + 0.5) AS BIGINT)) AS BIGINT) AS qd
  FROM comp JOIN {cent} cc ON cc.pos = comp.pos
  WHERE comp.vec_id < 8
  GROUP BY comp.vec_id, cc.cluster
),
probe AS (
  SELECT vec_id AS query_id, cluster FROM (
    SELECT vec_id, cluster,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY qd ASC, cluster ASC) AS rn
    FROM qdistc
  ) WHERE rn <= {nprobe}
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probe p JOIN asg{iters} a
    ON a.cluster = p.cluster AND a.vec_id <> p.query_id
),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT c.query_id, c.neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY c.query_id
             ORDER BY {cos.format(a="q.v", b="n.v")} DESC, c.neighbor_id
           ) AS rank
    FROM cand c
    JOIN e q ON q.vec_id = c.query_id
    JOIN e n ON n.vec_id = c.neighbor_id
  ) WHERE rank <= {topk}
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {cos.format(a="q.v", b="n.v")} DESC, n.vec_id
           ) AS rank
    FROM e q CROSS JOIN e n
    WHERE q.vec_id < 8 AND n.vec_id <> q.vec_id
  ) WHERE rank <= {topk}
),
hits AS (
  SELECT a.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
  FROM approx a JOIN exact x
    ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id
  GROUP BY a.query_id
),
ncand AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n FROM cand GROUP BY query_id
),
napprox AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n FROM approx GROUP BY query_id
),
nexact AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n FROM exact GROUP BY query_id
)
SELECT q.vec_id AS query_id,
       CAST(COALESCE(nc.n, 0) AS BIGINT) AS n_candidates,
       CAST(COALESCE(ne.n, 0) AS BIGINT) AS n_exact,
       CAST(COALESCE(na.n, 0) AS BIGINT) AS n_approx,
       CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       FLOOR((COALESCE(h.n_hit, 0) * 1.0 / GREATEST(COALESCE(ne.n, 0), 1))
             * 10000 + 0.5) / 10000 AS recall4
FROM embeddings q
LEFT JOIN ncand nc ON nc.query_id = q.vec_id
LEFT JOIN nexact ne ON ne.query_id = q.vec_id
LEFT JOIN napprox na ON na.query_id = q.vec_id
LEFT JOIN hits h ON h.query_id = q.vec_id
WHERE q.vec_id < 8
ORDER BY query_id"""
    )

@query("ann_ivf_recall_audit", _ivf_recall_oracle(k=4, iters=3, nprobe=2, topk=10))
def ann_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULLY HASH-VERIFIED IVF recall@10 audit — the evaluation step an
    ANN deployment runs before trusting the index: build the coarse
    quantizer (the registered distributed Lloyd k-means, k=4, 3
    rounds), assign the corpus to cells, probe the nprobe=2 nearest
    cells per query with the SAME quantized-integer distance the
    quantizer trained with, rank candidates by exact cosine, and score
    against brute-force top-10. Unlike ann_cosine_lsh (whose seeded
    hyperplanes force a property-style oracle), every stage here is
    engine-replayable, so the driver hash-matches the recall NUMBERS —
    candidate counts, hits, recall@10 — not just a boolean gate.

    The quantizer CTEs are the registered kmeans oracle's, shared via
    _kmeans_ctes (the composition discipline: the audit cannot drift
    from the clustering it evaluates); the Spark side reuses
    kmeans_lloyd_full's (assignments, centroids) pair.

    Scale: the cell index is built once (assignments + k·D centroids);
    each query probes nprobe cells, so candidate volume is
    nprobe/k of the corpus per query instead of all-pairs; the probe
    ranking is a k-row broadcast per query; the brute-force leg exists
    only because an audit needs ground truth — production reruns it on
    a bounded query SAMPLE (this one: 8 queries), never the corpus.
    """
    from etl_weather_spark.operators.similarity import (
        as_double_array,
        collect_ref_vectors,
        cosine_topk_vs_pinned_queries,
        dot,
        kmeans_lloyd_full,
        norm_safe,
        topk_per_group,
    )

    from etl_weather_spark.queries._registry import _build_concurrently

    nprobe, topk = 2, 10
    emb = load(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)

    def build_exact():
        # ground-truth leg: the 8 audit queries are pinned driver-side
        # and the per-pair cosine runs in the exact-fold numpy kernel
        # (same values, same salted top-k — cosine_topk_vs_pinned_queries)
        q_ids, q_mat = collect_ref_vectors(queries_df)
        return fence(
            cosine_topk_vs_pinned_queries(emb, q_ids, q_mat, k=topk)
            .select("query_id", "neighbor_id")
        )

    def build_assign():
        assign, cent = kmeans_lloyd_full(emb, k=4, iters=3)
        return fence(assign), cent

    # the IVF chain and the brute-force leg are independent until the
    # hits join — build concurrently (round 11, _build_concurrently:
    # the quantizer fit and the exact leg each run blocking jobs)
    (assign, cent), exact = _build_concurrently([build_assign, build_exact])
    qcomp = queries_df.select(
        "vec_id",
        F.posexplode(as_double_array(F.col("embedding"))).alias("pos", "x"),
    )
    d = F.col("x") - F.col("c")
    qdistc = (
        qcomp.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "cluster")
        .agg(
            F.sum(
                F.floor(d * d * F.lit(1000000000000) + F.lit(0.5)).cast("long")
            )
            .cast("long")
            .alias("qd")
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("qd"), F.asc("cluster"))
    probe = (
        qdistc.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= nprobe)
        .select(F.col("vec_id").alias("query_id"), "cluster")
    )
    # two consumers (the scored ranking + the n_candidates row) would
    # each replay the probe window and the quantizer chain behind it —
    # fence the narrow (query_id, neighbor_id) relation once
    cand = fence(
        probe.join(assign.select("vec_id", "cluster"), "cluster")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    ev = emb.select(
        "vec_id", as_double_array(F.col("embedding")).alias("v")
    ).withColumn("nv", norm_safe(F.col("v")))
    scored = (
        cand.join(
            F.broadcast(
                ev.filter(F.col("vec_id") < 8).select(
                    F.col("vec_id").alias("query_id"),
                    F.col("v").alias("qv"),
                    F.col("nv").alias("qn"),
                )
            ),
            "query_id",
        )
        .join(
            ev.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("v").alias("cv"),
                F.col("nv").alias("cn"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            rnd(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
            ).alias("sim"),
        )
    )
    approx = topk_per_group(scored, group_col="query_id", k=topk).select(
        "query_id", "neighbor_id"
    )
    approx = fence(approx)
    hits = approx.join(exact, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    ncand = cand.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    )
    napprox = approx.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_approx")
    )
    nexact = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    return (
        queries_df.select(F.col("vec_id").alias("query_id"))
        .join(ncand, "query_id", "left")
        .join(nexact, "query_id", "left")
        .join(napprox, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_candidates"), F.lit(0))
            .cast("long")
            .alias("n_candidates"),
            F.coalesce(F.col("n_exact"), F.lit(0))
            .cast("long")
            .alias("n_exact"),
            F.coalesce(F.col("n_approx"), F.lit(0))
            .cast("long")
            .alias("n_approx"),
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias("n_hit"),
            rnd(
                F.coalesce(F.col("n_hit"), F.lit(0))
                * 1.0
                / F.greatest(F.coalesce(F.col("n_exact"), F.lit(0)), F.lit(1)),
                4,
            ).alias("recall4"),
        )
        .orderBy("query_id")
    )
