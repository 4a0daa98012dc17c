"""Semantic tests for similarity search: exact baseline + LSH recall."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_weather_spark.operators.similarity import (
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    embedding_near_dupes,
)


def test_bruteforce_known_neighbors(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),  # opposite of 0
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = cosine_topk_bruteforce(df, df.filter(F.col("vec_id") == 0), k=3).collect()
    ranked = [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)]
    assert ranked == [1, 2, 3]
    assert out[0].sim <= 1.0 and min(r.sim for r in out) >= -1.0


def test_identical_vectors_sim_one(spark):
    vecs = [(0, [0.5, 0.5, 0.5]), (1, [0.5, 0.5, 0.5])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = cosine_topk_bruteforce(df, df, k=1).collect()
    assert all(abs(r.sim - 1.0) < 1e-9 for r in out)


def test_lsh_recall_against_bruteforce(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk_bruteforce(emb, queries, k=10).collect()
    approx = cosine_topk_lsh(emb, queries, n_tables=8).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    # multi-table LSH on 64-dim vectors: expect decent recall, far above random
    assert sum(recalls) / len(recalls) >= 0.4, recalls


def test_near_dupes_blocked(spark):
    vecs = [
        (0, 0, [1.0, 0.0]),
        (1, 0, [1.0, 0.001]),   # same block, near-dup
        (2, 1, [1.0, 0.0]),     # near-dup of 0 but different block → not compared
        (3, 0, [0.0, 1.0]),     # same block, orthogonal
    ]
    df = spark.createDataFrame(vecs, "vec_id long, label int, embedding array<float>")
    out = embedding_near_dupes(df, threshold=0.95).collect()
    pairs = {(r.id_a, r.id_b) for r in out}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs  # blocked away
    assert (0, 3) not in pairs  # below threshold


def test_block_cap_subsplit_semantics(spark, sf_dir):
    """block_cap: capped pairs == uncapped pairs restricted to
    (block ≤ cap) OR (same IVF cell); a cap above every block size is
    a no-op (identical pair set)."""
    from etl_weather_spark import queries as q
    from etl_weather_spark.operators.similarity import ivf_cells_seeded

    emb = q.load(spark, sf_dir, "embeddings")
    uncapped = {
        (r.id_a, r.id_b)
        for r in embedding_near_dupes(
            emb, block_col="label", threshold=0.3, block_cap=None
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in embedding_near_dupes(
            emb, block_col="label", threshold=0.3, block_cap=32
        ).collect()
    }
    # same cell geometry as the operator's capped leg (K = ⌈√N⌉)
    cells = {
        r.vec_id: r.cell
        for r in ivf_cells_seeded(emb, cells_per_sqrt_n=1).collect()
    }
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    sizes: dict[int, int] = {}
    for lab in labels.values():
        sizes[lab] = sizes.get(lab, 0) + 1
    expect = {
        (a, b)
        for (a, b) in uncapped
        if sizes[labels[a]] <= 32 or cells[a] == cells[b]
    }
    assert capped == expect
    assert capped < uncapped  # the cap binds on this data (blocks > 32)
    # a cap no block exceeds leaves the exact pair set untouched
    noop = {
        (r.id_a, r.id_b)
        for r in embedding_near_dupes(
            emb, block_col="label", threshold=0.3, block_cap=10_000
        ).collect()
    }
    assert noop == uncapped


def test_near_dupes_full_cross_requires_opt_in(spark):
    import pytest

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.001])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="allow_full_cross"):
        embedding_near_dupes(df, block_col=None)
    out = embedding_near_dupes(df, block_col=None, allow_full_cross=True).collect()
    assert {(r.id_a, r.id_b) for r in out} == {(0, 1)}


def test_ivf_recall_against_bruteforce(spark, sf_dir):
    from etl_weather_spark.operators.similarity import (
        cosine_topk_ivf,
        train_ivf_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk_bruteforce(emb, queries, k=10).collect()
    approx = cosine_topk_ivf(emb, queries).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    # probing half the clusters recovers most true neighbors (measured
    # 0.8 at sf0.001; recall curve: 4 probes 0.48, 6 → 0.64, 8 → 0.80)
    assert sum(recalls) / len(recalls) >= 0.6, recalls
    # every query returns a full (deterministically ranked) top-k
    assert all(len(s) == 10 for s in approx_sets.values())

    centroids = train_ivf_centroids(emb, n_clusters=8)
    assert centroids.shape == (8, 64)
    import numpy as np

    assert np.allclose(np.linalg.norm(centroids, axis=1), 1.0)


def test_recall_gate_counts_and_threshold(spark):
    from etl_weather_spark.operators.similarity import recall_gate

    exact = spark.createDataFrame(
        [(1, n) for n in range(10, 14)] + [(2, n) for n in range(20, 24)],
        "query_id long, neighbor_id long",
    )
    # query 1: 3/4 hits; query 2: 1/4 hits
    approx = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (1, 99), (2, 20), (2, 98), (2, 97), (2, 96)],
        "query_id long, neighbor_id long",
    )
    rows = {r.query_id: r for r in recall_gate(exact, approx, threshold=0.5).collect()}
    assert rows[1].n_exact == 4 and rows[1].n_approx == 4 and rows[1].recall_ok
    assert rows[2].n_exact == 4 and rows[2].n_approx == 4 and not rows[2].recall_ok


def test_semantic_dedup_invariants(spark, sf_dir):
    """semantic_dedup: full id spine, one canonical per cluster,
    cluster_id = min member, and members agree with its own pair graph."""
    from etl_weather_spark import queries as q
    from etl_weather_spark.operators.dedup import connected_components

    out = q.semantic_dedup(spark, sf_dir).collect()
    emb = q.load(spark, sf_dir, "embeddings")
    n = emb.count()
    assert len(out) == n  # every doc gets a decision

    by_cluster: dict[int, list] = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        assert cid == min(m.vec_id for m in members)  # min-id label
        canon = [m for m in members if m.is_canonical]
        assert len(canon) == 1 and canon[0].vec_id == cid

    # decisions consistent with the underlying near-dup pair graph
    # (same block_cap as the query: oversized labels sub-split by cell)
    pairs = embedding_near_dupes(emb, block_col="label", threshold=0.3, block_cap=32)
    cc = {
        r.node: r.cluster_id
        for r in connected_components(pairs.select("id_a", "id_b")).collect()
    }
    got = {r.vec_id: r.cluster_id for r in out}
    for node, cid in cc.items():
        assert got[node] == cid
    # singletons (no edges) keep themselves
    for vid, cid in got.items():
        if vid not in cc:
            assert cid == vid


def test_pq_recall_and_compression(spark, sf_dir):
    """PQ ADC + re-rank: codes are n_subspaces ints, encode is
    deterministic, and shortlist-100 recall clears the gate floor."""
    import numpy as np

    from etl_weather_spark import queries as q
    from etl_weather_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_pq,
        pq_encode,
        pq_train_codebooks,
    )

    emb = q.load(spark, sf_dir, "embeddings")
    books = pq_train_codebooks(emb)
    assert books.shape == (8, 16, 8)
    # training is deterministic (ordered sample + seeded init)
    books2 = pq_train_codebooks(emb)
    assert np.array_equal(books, books2)

    codes = pq_encode(emb, books).collect()
    assert all(len(r.codes) == 8 for r in codes)
    assert all(0 <= c < 16 for r in codes for c in r.codes)

    qs = emb.filter(F.col("vec_id") < 5)
    exact = cosine_topk_bruteforce(emb, qs, k=10)
    approx = cosine_topk_pq(emb, qs, k=10, shortlist=100, books=books)
    exact_sets: dict[int, set] = {}
    for r in exact.collect():
        exact_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx_sets: dict[int, set] = {}
    for r in approx.collect():
        approx_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert all(len(s) == 10 for s in approx_sets.values())
    recalls = [
        len(exact_sets[qq] & approx_sets.get(qq, set())) / len(exact_sets[qq])
        for qq in exact_sets
    ]
    assert min(recalls) >= 0.3, recalls


def test_pq_query_chunking_equivalent_at_1k_queries(spark, sf_dir):
    """The chunked-LUT fallback: a 1000-query batch processed in
    256-query chunks must return EXACTLY the same (query, neighbor,
    rank) rows as one unchunked pass — chunking bounds closure/score
    memory, never changes results."""
    from etl_weather_spark import queries as q
    from etl_weather_spark.operators.similarity import (
        cosine_topk_pq,
        pq_train_codebooks,
    )

    emb = q.load(spark, sf_dir, "embeddings")
    # the sf0.001 fixture has 500 vectors — synthesize a 1000-query
    # batch by unioning an id-shifted copy (vectors unchanged, so each
    # shifted query scores identically to its original)
    qs = emb.unionByName(
        emb.withColumn("vec_id", F.col("vec_id") + F.lit(10_000))
    )
    books = pq_train_codebooks(emb)
    one_pass = cosine_topk_pq(
        emb, qs, k=3, shortlist=20, books=books, query_chunk=1_000_000
    )
    chunked = cosine_topk_pq(
        emb, qs, k=3, shortlist=20, books=books, query_chunk=256
    )
    a = sorted((r.query_id, r.neighbor_id, r.rank) for r in one_pass.collect())
    b = sorted((r.query_id, r.neighbor_id, r.rank) for r in chunked.collect())
    assert len({qq for qq, _, _ in a}) >= 900  # genuinely large batch
    assert a == b


def test_zero_norm_vectors_are_deterministic_not_nan(spark):
    """norm_safe eps-clamp: an all-zeros embedding yields sim 0.0 (not
    NaN, which sorts as the LARGEST double and would top every ranking
    while the DuckDB oracle's NULL sorts last)."""
    import math

    from etl_weather_spark.operators.similarity import (
        cosine_topk_bruteforce,
        ivf_cells_seeded,
    )

    rows = [(i, [float(i + j) for j in range(4)]) for i in range(1, 9)]
    rows.append((0, [0.0, 0.0, 0.0, 0.0]))  # the hazard
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    out = cosine_topk_bruteforce(emb, emb.filter("vec_id <= 1"), k=8)
    sims = [r.sim for r in out.collect()]
    assert all(not math.isnan(s) for s in sims)
    zero_rows = [r for r in out.collect() if r.neighbor_id == 0 or r.query_id == 0]
    assert all(r.sim == 0.0 for r in zero_rows)
    # 0-sim rows rank LAST for the nonzero query, not first
    q1 = sorted(
        (r for r in out.collect() if r.query_id == 1), key=lambda r: r.rank
    )
    assert q1[-1].neighbor_id == 0

    cells = {r.vec_id: r.cell for r in ivf_cells_seeded(emb).collect()}
    assert len(cells) == 9  # the zero vector still gets a cell assignment


def test_ivf_kernel_honours_sim_decimals(spark, monkeypatch):
    """The kernel path ranks centroids at ``sim_decimals`` like the
    Catalyst fallback: vector 3 sits at cosine 0.9000 to centroid 0 and
    0.9002 to centroid 1 — a tie at 3 dp (lowest id wins) but not at 6."""
    import math

    from etl_weather_spark.operators import similarity

    theta = math.acos(0.9) + math.acos(0.9002)
    rows = [
        (0, [1.0, 0.0]),
        (1, [math.cos(theta), math.sin(theta)]),
        (2, [0.0, 1.0]),
        (3, [0.9, math.sqrt(1 - 0.81)]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def cells():
        out = similarity.ivf_cells_seeded(emb, cells_per_sqrt_n=1, sim_decimals=3)
        return {r.vec_id: r.cell for r in out.collect()}

    kernel = cells()
    monkeypatch.setattr(similarity, "IVF_KERNEL_MAX_CENTROIDS", 0)
    catalyst = cells()
    assert catalyst[3] == 0  # the 3-dp tie breaks to the lower centroid id
    assert kernel == catalyst


def test_ivf_catalyst_fallbacks_fail_loud_on_nan(spark, monkeypatch):
    """Past the kernel's centroid cap, both Catalyst cell assignments
    raise on a NaN cosine like the kernel does, instead of ranking it."""
    from etl_weather_spark.operators import similarity

    rows = [(0, [1.0, 0.0], "a"), (1, [0.0, 1.0], "a"), (2, [float("nan"), 1.0], "a")]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    monkeypatch.setattr(similarity, "IVF_KERNEL_MAX_CENTROIDS", 0)
    with pytest.raises(Exception, match="non-finite"):
        similarity.ivf_cells_seeded(emb, cells_per_sqrt_n=1).collect()
    with pytest.raises(Exception, match="non-finite"):
        similarity.embedding_near_dupes(emb, block_cap=1, threshold=0.0).collect()


def test_ivf_cells_seeded_sparse_offset_ids(spark):
    """Centroids are the K lowest ids BY RANK — an offset id space must
    still produce K centroids, not zero (review finding r3)."""
    from etl_weather_spark.operators.similarity import ivf_cells_seeded

    rows = [(1000 + i, [float(i + j) for j in range(4)]) for i in range(9)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = ivf_cells_seeded(emb, cells_per_sqrt_n=1).collect()
    assert len(out) == 9
    cells = {r.cell for r in out}
    # K = ceil(sqrt(9)) = 3 centroids, all drawn from the actual id space
    assert cells <= {1000, 1001, 1002} and len(cells) >= 1


def _py_lloyd(vecs: dict[int, list[float]], k: int, iters: int):
    """Independent pure-Python replay of kmeans_lloyd_full's quantized
    algebra: float64 components, 6-dp-rounded centroids, integer
    1e12-quantized squared distances, 1e7-quantized decimal means,
    ties to the lower cluster, empty clusters carried forward."""
    import math

    def r6(x):
        return math.floor(x * 1_000_000 + 0.5) / 1_000_000

    ids = sorted(vecs)
    cent = {c: [r6(x) for x in vecs[i]] for c, i in enumerate(ids[:k])}
    asg = {}
    for it in range(iters):
        asg = {}
        for i in ids:
            best = None
            for c in sorted(cent):
                qd = sum(
                    math.floor((x - cx) * (x - cx) * 1_000_000_000_000 + 0.5)
                    for x, cx in zip(vecs[i], cent[c])
                )
                if best is None or qd < best[0]:
                    best = (qd, c)
            asg[i] = best
        if it == iters - 1:
            break
        for c in sorted(cent):
            members = [i for i in ids if asg[i][1] == c]
            if not members:
                continue
            cent[c] = [
                math.floor(
                    (
                        sum(
                            math.floor(vecs[i][p] * 10_000_000 + 0.5)
                            for i in members
                        )
                        / 10_000_000
                        / len(members)
                    )
                    * 1_000_000
                    + 0.5
                )
                / 1_000_000
                for p in range(len(cent[c]))
            ]
    return {i: (qd, c) for i, (qd, c) in asg.items()}


def test_kmeans_lloyd_matches_pure_python_replay(spark):
    """The distributed operator and an independent sequential Lloyd
    implementation agree on every assignment AND every quantized
    distance after 3 rounds on adversarially unstructured data."""
    import random

    from etl_weather_spark.operators.similarity import kmeans_lloyd_full

    rng = random.Random(7)
    vecs = {i: [rng.uniform(-1, 1) for _ in range(8)] for i in range(60)}
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<float>",
    )
    # float32 storage: replay sees the same float32-rounded values
    stored = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in df.select("vec_id", "embedding").collect()
    }
    got = {
        r.vec_id: (r.qdist, r.cluster)
        for r in kmeans_lloyd_full(df, k=3, iters=3)[0].collect()
    }
    want = _py_lloyd(stored, k=3, iters=3)
    assert got == want


def test_kmeans_lloyd_separates_blobs_and_carries_empty(spark):
    """Two well-separated blobs with k=2 split perfectly in 2 rounds;
    duplicate seeds leave one cluster empty without crashing (its
    centroid carries forward)."""
    from etl_weather_spark.operators.similarity import kmeans_lloyd_full

    blob = [(i, [10.0 + 0.01 * i, 10.0]) for i in range(5)] + [
        (i, [-10.0 - 0.01 * i, -10.0]) for i in range(5, 10)
    ]
    df = spark.createDataFrame(blob, "vec_id long, embedding array<float>")
    assign = kmeans_lloyd_full(df, k=2, iters=2)[0]
    out = {r.vec_id: r.cluster for r in assign.collect()}
    pos, neg = {out[i] for i in range(5)}, {out[i] for i in range(5, 10)}
    assert len(pos) == 1 and len(neg) == 1 and pos != neg

    dup = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, [1.0, 1.0]), (2, [5.0, 5.0])],
        "vec_id long, embedding array<float>",
    )
    # seeds 0 and 1 are identical -> round 1 ties everything to cluster
    # 0 and cluster 1 goes EMPTY; its carried-forward centroid [1,1]
    # then wins the [1,1] vectors back once cluster 0's mean drifts
    # toward [5,5] — no NaN, no lost rows, correct Lloyd dynamics
    assign = kmeans_lloyd_full(dup, k=2, iters=3)[0]
    res = {r.vec_id: r.cluster for r in assign.collect()}
    assert len(res) == 3 and res[0] == res[1] == 1 and res[2] == 0


def test_power_iteration_replay_and_convergence(spark, sf_dir):
    """power_iteration_top_component: (a) the distributed result equals
    an independent numpy replay of the same 6-dp-quantized recurrence
    on the real corpus; (b) on a corpus WITH a spectral gap, 3 rounds
    align with numpy eigh's dominant eigenvector and the Rayleigh
    estimate approaches (never exceeds, modulo 1e-6 rounding) the true
    eigenvalue."""
    import numpy as np

    from etl_weather_spark import queries as q
    from etl_weather_spark.operators.similarity import (
        power_iteration_top_component,
    )

    def replay(X, iters=3):
        n = len(X)
        x = np.full(X.shape[1], np.floor((1 / np.sqrt(X.shape[1])) * 1e6 + 0.5) / 1e6)
        for _ in range(iters):
            s = np.floor(
                np.floor(X * x * 1e12 + 0.5).sum(axis=1) / 1e12 * 1e6 + 0.5
            ) / 1e6
            raw = np.floor(X * s[:, None] * 1e12 + 0.5).sum(axis=0) / 1e12
            y = np.floor(raw / n * 1e6 + 0.5) / 1e6
            nrm = np.floor(
                np.sqrt(np.floor(y * y * 1e6 + 0.5).sum() / 1e6) * 1e6 + 0.5
            ) / 1e6
            x = np.floor(y / nrm * 1e6 + 0.5) / 1e6
        return x, nrm

    # (a) exact replay on the real corpus
    emb = q.load(spark, sf_dir, "embeddings")
    X = np.array(
        [r.embedding for r in emb.select("vec_id", "embedding").orderBy("vec_id").collect()],
        dtype=np.float64,
    )
    want_x, want_eig = replay(X)
    rows = power_iteration_top_component(emb, dim=64).collect()
    got = np.array([r.component6 for r in sorted(rows, key=lambda r: r.pos)])
    assert np.array_equal(got, want_x)
    assert rows[0].eig_mean_gram6 == want_eig

    # (b) convergence where a dominant direction exists
    rng = np.random.default_rng(42)
    u = rng.standard_normal(16)
    u /= np.linalg.norm(u)
    A = np.outer(rng.standard_normal(300) * 3.0, u) + 0.1 * rng.standard_normal((300, 16))
    df = spark.createDataFrame(
        [(i, A[i].tolist()) for i in range(300)], "vec_id long, embedding array<double>"
    )
    rows = power_iteration_top_component(df, dim=16).collect()
    x = np.array([r.component6 for r in sorted(rows, key=lambda r: r.pos)])
    G = A.T @ A / len(A)
    w, V = np.linalg.eigh(G)
    cos = abs(x @ V[:, -1]) / np.linalg.norm(x)
    assert cos > 0.999, cos
    assert rows[0].eig_mean_gram6 <= w[-1] + 1e-3
    assert rows[0].eig_mean_gram6 >= 0.9 * w[-1]
