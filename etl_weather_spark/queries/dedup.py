"""Deduplication tier: exact/near-dup fingerprints, MinHash/SimHash/LSH candidate generation, prefix-filter Jaccard, connected components, snapshot diff/resemblance.

Split from the original queries.py (round 9); unit order and bodies
are byte-identical to the monolith — only module boundaries and
imports changed.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from etl_weather_spark.functions.rounding import dsum, rnd, sql_dsum
from etl_weather_spark.functions.text import doc_fingerprint
from etl_weather_spark.operators.artifacts import (
    artifact_if_absent,
    dataset_fingerprint,
    dataset_key,
)
from etl_weather_spark.operators.fence import fence
from etl_weather_spark.queries._registry import _ORACLES, _QUERIES, load, query
from etl_weather_spark.queries.relational import (
    _DOC_SAMPLE_SQL,
    _SWEEP_THRESHOLDS,
    _pr_iter_sql,
)


@query(
    "union_dedup",
    """
SELECT DISTINCT name, nationkey, FLOOR((acctbal) * 100 + 0.5) / 100 AS acctbal FROM (
  SELECT c_name AS name, c_nationkey AS nationkey, c_acctbal AS acctbal FROM customer
  UNION ALL
  SELECT s_name AS name, s_nationkey AS nationkey, s_acctbal AS acctbal FROM supplier
)
""",
)
def union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1+U2: unionByName then distinct (web.py:559-560, utils.py:166-169).

    Scale: distinct is a shuffle on all columns — acceptable because the
    projected payload is 3 narrow columns, not whole rows.
    """
    c = load(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_acctbal").alias("acctbal"),
    )
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"),
        F.col("s_nationkey").alias("nationkey"),
        F.col("s_acctbal").alias("acctbal"),
    )
    return c.unionByName(s).withColumn("acctbal", rnd("acctbal", 2)).distinct()

@query(
    "dedup_exact",
    """
SELECT fingerprint, COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
FROM (
  SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
  FROM documents
)
GROUP BY fingerprint
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on the 128-bit content fingerprint, keep min id.

    Scale: the shuffle moves (fingerprint, doc_id) pairs — 40 bytes per
    document regardless of document size. This is the 100 TB-safe shape
    of exact dedup.
    """
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", doc_fingerprint(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
    )

_SHINGLE_SQL = """
toks AS (
  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS tk
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         UNNEST(CASE WHEN len(tk) >= 3
                THEN list_transform(generate_series(1, len(tk) - 2),
                                    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                ELSE [array_to_string(tk, ' ')] END) AS sh
  FROM toks
)"""

# All trigram-Jaccard≥0.5 pairs — the exact near-dup ground truth. Also
# the oracle for the fast candidate generators (minhash_lsh_fast,
# winnow_candidates): their registry queries exact-verify candidates at
# the same threshold, so matching this SQL asserts the generator's
# recall on every planted near-dup pair.
_JACCARD05_SQL = f"""
WITH {_SHINGLE_SQL},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       FLOOR((ni * 1.0 / (sa.n + sb.n - ni)) * 10000 + 0.5) / 10000 AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE ni * 1.0 / (sa.n + sb.n - ni) >= 0.5
"""

@query("ngram_jaccard", _JACCARD05_SQL)
def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-trigram Jaccard near-dup pairs (threshold 0.5).

    Shingle-explode + self-join on shingle: pairs sharing no shingle never
    materialize (operators/dedup.py). Finds the corpus's planted
    near-duplicates.
    """
    from etl_weather_spark.operators.dedup import ngram_jaccard_pairs

    docs = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, min_jaccard=0.5)
    return pairs.select("id_a", "id_b", rnd(F.col("jaccard"), 4).alias("jaccard"))

@query("prefix_filter_jaccard", _JACCARD05_SQL)
def prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME exact Jaccard≥0.5 pair set as ngram_jaccard, via
    prefix-filtering candidates (PPJoin family) + exact verify instead
    of the shares-any-shingle self-join — the identical oracle IS the
    completeness proof for the pruned candidate generator.

    Scale: the pair join touches only each doc's (1−t) rarest
    shingles, so boilerplate shingles (the f²/2 blowup in the naive
    join) generate no candidates; see
    operators/dedup.prefix_filter_candidates. Measured sf0.1: 310k
    candidates vs 1.13M any-shingle pairs (3.6×; this corpus has
    little boilerplate — the pruning factor grows with shingle-df
    skew, which is exactly when the naive join degrades; the
    boilerplate-heavy unit-test corpus shows the stronger case).
    """
    from etl_weather_spark.operators.dedup import (
        prefix_filter_candidates,
        verify_candidates_jaccard,
    )

    docs = load(spark, sf_dir, "documents")
    cand = prefix_filter_candidates(docs, min_jaccard=0.5)
    pairs = verify_candidates_jaccard(docs, cand, min_jaccard=0.5)
    return pairs.select("id_a", "id_b", rnd(F.col("jaccard"), 4).alias("jaccard"))

_MINHASH_SIG_SQL = ",\n".join(
    f"       MIN(md5('{i}|' || sh)) AS s{i}" for i in range(8)
)

_MINHASH_MATCH_SQL = " + ".join(
    f"(CASE WHEN a.s{i} = b.s{i} THEN 1 ELSE 0 END)" for i in range(8)
)

#: the b=4, r=2 band layout and its bucket-collision predicate — ONE
#: definition shared by every oracle that replays the md5 banding
#: generator (minhash_lsh, lsh_recall_audit and, via embedding, the
#: sampled audit, plus lsh_scurve_calibration), so a band-layout change
#: cannot desynchronize an oracle from the generator it proves
_MINHASH_BANDED_SQL = """banded AS (
  SELECT *, s0 || '#' || s1 AS b0, s2 || '#' || s3 AS b1,
            s4 || '#' || s5 AS b2, s6 || '#' || s7 AS b3
  FROM sig
)"""

_MINHASH_BAND_JOIN_SQL = (
    "(a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)"
)

@query(
    "minhash_lsh",
    f"""
WITH {_SHINGLE_SQL},
sig AS (
  SELECT doc_id,
{_MINHASH_SIG_SQL}
  FROM sh GROUP BY doc_id
),
{_MINHASH_BANDED_SQL}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ({_MINHASH_MATCH_SQL}) / 8.0 AS est_jaccard
FROM banded a JOIN banded b
  ON a.doc_id < b.doc_id
 AND {_MINHASH_BAND_JOIN_SQL}
""",
)
def minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(H=8) + LSH(4 bands × 2 rows) candidate pairs with estimated
    Jaccard — the scalable near-dup path (no O(n²) comparison).

    Uses the engine-portable md5 hash family so DuckDB reproduces the
    signatures bit-for-bit; the production default is xxhash64
    (operators/dedup.py, exercised in tests).
    """
    from etl_weather_spark.operators.dedup import minhash_lsh_pairs

    docs = load(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, num_hashes=8, shingle_n=3, hash_family="md5"
    )

def _simhash_oracle_sql() -> str:
    from etl_weather_spark.operators.dedup import _md5_bit_sql

    votes = ",\n".join(
        f"         SUM(CASE WHEN {_md5_bit_sql(b)} THEN 1 ELSE -1 END) AS v{b}"
        for b in range(64)
    )
    hi = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << (b % 32)} ELSE 0 END)" for b in range(32, 64)
    )
    lo = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << (b % 32)} ELSE 0 END)" for b in range(32)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS tk
  FROM documents
),
tok AS (SELECT doc_id, UNNEST(tk) AS tok FROM toks),
hashed AS (SELECT doc_id, md5(tok) AS h FROM tok),
votes AS (
  SELECT doc_id,
{votes}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({hi} AS BIGINT) AS sig_hi, CAST({lo} AS BIGINT) AS sig_lo
FROM votes
"""

@query(
    "exact_substring_spans",
    """
WITH toks AS (
  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
),
sh AS (
  SELECT doc_id, g.i AS pos, array_to_string(t[g.i+1:g.i+12], ' ') AS sh
  FROM toks, LATERAL (SELECT UNNEST(generate_series(0, len(t) - 12)) AS i) g
  WHERE len(t) >= 12
),
rep AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2),
marked AS (SELECT s.doc_id, s.pos FROM sh s JOIN rep r USING (sh)),
isl AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM marked
)
SELECT doc_id,
       CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(COUNT(*) + 11 AS BIGINT) AS span_token_len
FROM isl
GROUP BY doc_id, grp
ORDER BY doc_id, span_start
""",
)
def exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING dedup (Lee et al., "Deduplicating Training Data
    Makes Language Models Better"): maximal verbatim token runs of
    >= 12 tokens that appear in >= 2 distinct documents — the paper
    finds these with a corpus suffix array; here the same spans come
    from bucketed shingle-run merging, which is shuffle-native:

    1. every 12-token shingle is hashed (xxhash64 — only the 8-byte
       hash rides the shuffle, never the string);
    2. one groupBy finds hashes present in >= 2 docs (map-side
       partial distinct);
    3. a semi join marks the repeated positions per doc;
    4. consecutive marked positions merge into maximal spans via the
       islands trick (pos - row_number per doc).

    A repeated run of L tokens is exactly a run of L-11 consecutive
    repeated shingles, so span_token_len = run_len + 11 and maximality
    is structural — no suffix array needed. The oracle recomputes with
    exact shingle STRINGS; the hash path can only differ on a 64-bit
    collision (~1e-10 at 1e5 shingles — at real corpus scale Lee et
    al. likewise accept the hashed variant).

    Scale: the shuffle carries (hash, doc_id, pos) triples; the
    per-doc window partitions on doc_id (positions per doc are bounded
    by doc length, no skew); nothing is quadratic in corpus size.
    """
    from etl_weather_spark.operators.dedup import tokens, widen_narrow_input

    K = 12
    t = (
        widen_narrow_input(load(spark, sf_dir, "documents"), "doc_id")
        .select("doc_id", tokens(F.col("text")).alias("t"))
        .filter(F.size("t") >= K)
    )
    sh = (
        t.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(t) - {K}),"
                    f" i -> struct(i AS pos, xxhash64(array_join(slice(t, i + 1, {K}), ' ')) AS h))"
                )
            ).alias("s"),
        )
        .select("doc_id", F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))
    )
    rep = sh.groupBy("h").agg(F.count_distinct("doc_id").alias("nd")).filter(F.col("nd") >= 2)
    marked = sh.join(rep.select("h"), "h", "left_semi")
    win = Window.partitionBy("doc_id").orderBy("pos")
    return (
        marked.withColumn("grp", F.col("pos") - F.row_number().over(win))
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.count(F.lit(1)) + F.lit(K - 1)).alias("span_token_len"),
        )
        .select("doc_id", "span_start", "span_token_len")
        .orderBy("doc_id", "span_start")
    )

@query(
    "exact_substring_clean",
    """
WITH toks AS (
  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
),
sh AS (
  SELECT doc_id, g.i AS pos, array_to_string(t[g.i+1:g.i+12], ' ') AS sh
  FROM toks, LATERAL (SELECT UNNEST(generate_series(0, len(t) - 12)) AS i) g
  WHERE len(t) >= 12
),
rep AS (SELECT sh FROM sh GROUP BY sh HAVING COUNT(DISTINCT doc_id) >= 2),
marked AS (SELECT s.doc_id, s.pos FROM sh s JOIN rep r USING (sh)),
removed AS (
  SELECT DISTINCT doc_id, UNNEST(generate_series(pos, pos + 11)) AS ti
  FROM marked
),
rm_counts AS (
  SELECT doc_id, COUNT(*) AS n_removed FROM removed GROUP BY doc_id
)
SELECT tk.doc_id,
       CAST(len(tk.t) AS BIGINT) AS n_tokens,
       CAST(COALESCE(r.n_removed, 0) AS BIGINT) AS n_removed,
       CAST(len(tk.t) - COALESCE(r.n_removed, 0) AS BIGINT) AS n_kept
FROM toks tk LEFT JOIN rm_counts r ON r.doc_id = tk.doc_id
ORDER BY tk.doc_id
""",
)
def exact_substring_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OUTPUT side of Lee-et-al exact-substring dedup: per document,
    how many tokens fall inside a cross-doc verbatim >=12-token run
    (and would be excised before training) vs how many survive. Builds
    on the same hash-bucketed marked-position relation as
    exact_substring_spans; each marked shingle position covers tokens
    [pos, pos+11], and the union of covered positions per doc is the
    removal set (distinct after an explode of per-shingle ranges — K
    rows per marked position, bounded, never corpus-quadratic).
    """
    from etl_weather_spark.operators.dedup import tokens, widen_narrow_input

    K = 12
    t = widen_narrow_input(load(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", tokens(F.col("text")).alias("t")
    )
    sh = (
        t.filter(F.size("t") >= K)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(t) - {K}),"
                    f" i -> struct(i AS pos, xxhash64(array_join(slice(t, i + 1, {K}), ' ')) AS h))"
                )
            ).alias("s"),
        )
        .select("doc_id", F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))
    )
    rep = (
        sh.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
    )
    removed = (
        sh.join(rep.select("h"), "h", "left_semi")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(K - 1))).alias("ti"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_removed"))
    )
    return (
        t.select("doc_id", F.size("t").cast("long").alias("n_tokens"))
        .join(removed, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_removed"), F.lit(0)).alias("n_removed"),
            (F.col("n_tokens") - F.coalesce(F.col("n_removed"), F.lit(0))).alias("n_kept"),
        )
        .orderBy("doc_id")
    )

@query("simhash_sigs", _simhash_oracle_sql())
def simhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash signature per document (near-dup fingerprinting),
    engine-portable md5 family: the oracle reproduces every bit.

    The oracle replays dedup._md5_bit_sql's bit extraction in SQL;
    the Spark side computes the identical longs in the Arrow votes
    kernel (optimization round 11 — one ArrowEvalPython projection over
    the Catalyst token array instead of a token explode + 64-sum
    codegen aggregate + doc-keyed vote exchange; bit-parity with the
    aggregate form pinned in tests/test_kernel_parity.py). Production
    hashing is xxhash64 (operators/dedup.simhash64, unit-tested); this
    is the verification twin, same split as minhash_lsh vs
    minhash_lsh_fast.
    """
    from etl_weather_spark.operators.dedup import simhash64_portable_kernel

    docs = load(spark, sf_dir, "documents")
    return simhash64_portable_kernel(docs)

def _simhash_banding_oracle_sql() -> str:
    return f"""
WITH sigs AS ({_simhash_oracle_sql().strip()}),
bands AS (
  SELECT doc_id, t.b,
         CASE t.b WHEN 0 THEN sig_lo % 65536 WHEN 1 THEN sig_lo // 65536
                  WHEN 2 THEN sig_hi % 65536 ELSE sig_hi // 65536 END AS v
  FROM sigs, UNNEST([0,1,2,3]) AS t(b)
),
cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM bands x JOIN bands y ON x.b = y.b AND x.v = y.v AND x.doc_id < y.doc_id
)
SELECT c.id_a, c.id_b,
       CAST(bit_count(xor(a.sig_lo, b.sig_lo)) + bit_count(xor(a.sig_hi, b.sig_hi)) AS INT) AS hamming
FROM cand c JOIN sigs a ON a.doc_id = c.id_a JOIN sigs b ON b.doc_id = c.id_b
WHERE bit_count(xor(a.sig_lo, b.sig_lo)) + bit_count(xor(a.sig_hi, b.sig_hi)) <= 3
ORDER BY id_a, id_b
"""

@query("simhash_near_dupes", _simhash_banding_oracle_sql())
def simhash_near_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS via pigeonhole banding (Manku et al.,
    WWW 2007 — the Google web-crawl dedup design): 4×16-bit bands over
    the 64-bit signature; hamming ≤ 3 implies at least one identical
    band, so an equi-join on (band, value) is a zero-recall-loss
    candidate generator and one bit_count(xor) filter is the verify.
    The signature itself is the oracle-replicable md5 family
    (simhash_sigs proves bit-parity), so the PAIR SET is hash-matched
    end-to-end — candidate generation, banding arithmetic, hamming —
    against the SQL recomputation.

    Scale: band equi-join shuffles 16-bit keys, never signatures ×
    signatures; hot_band_cap re-bands any boilerplate-dominated bucket
    recall-losslessly (operators/dedup.simhash_band_candidates), so the
    capped path exercised here returns the identical pair set with a
    bounded candidate expansion. Signatures come from the Arrow votes
    kernel (round 11 — same longs as the 64-sum aggregate form, one
    ArrowEvalPython projection instead of a token explode + vote
    exchange; A/B'd 6.3 s → 4.2 s at sf0.1).
    """
    from etl_weather_spark.operators.dedup import (
        simhash64_portable_kernel,
        simhash_band_pairs,
    )

    docs = load(spark, sf_dir, "documents")
    sigs = fence(simhash64_portable_kernel(docs))
    return simhash_band_pairs(sigs, hot_band_cap=64).orderBy("id_a", "id_b")

@query("winnow_candidates", _JACCARD05_SQL)
def winnow_candidates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting (winnowing / MOSS) feeding
    the exact-verify stage: guaranteed-detection candidates from
    ~2/(window+1) of the k-gram hashes, then exact trigram Jaccard on
    candidates only.

    The uint64 rolling hash isn't SQL-portable, but (as with
    minhash_lsh_fast) the verified pipeline output is: it must equal
    the exact Jaccard≥0.5 pair set, so the oracle asserts winnowing's
    detection guarantee on every planted near-dup. max_doc_freq=100:
    at 50 two sf0.1 pairs lost enough shared fingerprints to common
    postings to fall under min_shared (verified 0 misses at
    sf 0.001/0.01/0.1 with 100).

    k=20 (not the operator's generic k=12): candidate volume is
    quadratic in posting-list length, and short k-grams collide across
    the corpus's templated phrasing — k=12 emits 3.5M candidate pairs
    at sf0.1 where k=20 emits 242k (14×), for the identical verified
    output (0 recall loss at sf0.001/0.01/0.1; k=24 starts losing true
    pairs). The detection guarantee still covers any shared run ≥
    k+window-1 = 23 chars, far below what trigram-Jaccard≥0.5 implies.
    """
    from etl_weather_spark.operators.dedup import (
        verify_pairs_jaccard_inline,
        winnow_candidates,
    )

    docs = load(spark, sf_dir, "documents")
    # inline per-pair verify: the candidate table has ONE consumer, so
    # the rolling-hash UDF runs exactly once with no persist barrier
    # (winnow_candidates' 100-doc posting cap bounds per-doc pair
    # multiplicity, the regime
    # where per-pair text verify beats the shingle-set join)
    cand = winnow_candidates(docs, k=20, min_shared=10)
    verified = verify_pairs_jaccard_inline(docs, cand)
    return verified.select("id_a", "id_b", rnd(F.col("jaccard"), 4).alias("jaccard"))

@query("minhash_lsh_fast", _JACCARD05_SQL)
def minhash_lsh_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-path MinHash+LSH (16 xxhash64 min-hashes, 4 bands)
    feeding the exact-verify stage: the full candidates→verify dedup
    pipeline, JVM hashing end to end.

    The xxhash64 signatures aren't SQL-replayable, but the pipeline's
    OUTPUT is: candidates are verified with exact trigram Jaccard
    (dedup.verify_candidates_jaccard, candidate-pruned — no corpus
    self-join), so the result must equal the exact Jaccard≥0.5 pair
    set. The oracle (same SQL as ngram_jaccard) therefore asserts LSH
    recall on every planted near-dup pair — banding missing a true
    pair drops a row and fails the hash. Verified 0 misses at
    sf 0.001/0.01/0.1.
    """
    from etl_weather_spark.operators.dedup import (
        minhash_lsh_pairs,
        verify_pairs_jaccard_inline,
    )

    docs = load(spark, sf_dir, "documents")
    cand = minhash_lsh_pairs(docs, num_hashes=16, hash_family="xxhash64")
    verified = verify_pairs_jaccard_inline(docs, cand)
    return verified.select("id_a", "id_b", rnd(F.col("jaccard"), 4).alias("jaccard"))

@query(
    "similar_nation_names",
    """
SELECT a.n_name AS name_a, b.n_name AS name_b,
       levenshtein(a.n_name, b.n_name) AS edit_dist
FROM nation a
JOIN nation b ON a.n_name < b.n_name
WHERE levenshtein(a.n_name, b.n_name) <= 2
ORDER BY edit_dist, name_a, name_b
""",
)
def similar_nation_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity (typo detection / entity resolution):
    name pairs within levenshtein ≤ 2.

    Scale: fine as a broadcast self-join on a dimension; for a large
    entity table, block first (soundex/prefix/LSH bucket) so the
    quadratic comparison only runs inside blocks.
    """
    n = load(spark, sf_dir, "nation").select("n_name")
    a = n.select(F.col("n_name").alias("name_a"))
    b = n.select(F.col("n_name").alias("name_b"))
    return (
        a.join(F.broadcast(b), F.col("name_a") < F.col("name_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= 2)
        .orderBy("edit_dist", "name_a", "name_b")
    )

@query(
    "fuzzy_part_names",
    """
WITH names AS (SELECT DISTINCT p_name FROM part)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       levenshtein(a.p_name, b.p_name) AS edit_dist
FROM names a JOIN names b ON a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 2
ORDER BY edit_dist, name_a, name_b
""",
)
def fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-linkage over part names: pairs within
    Levenshtein <= 2 via padded char-trigram blocking + bounded verify
    (operators/linkage.py) — the entity-resolution pipeline shape that
    scales where similar_nation_names' broadcast all-pairs cannot.

    The oracle is the EXACT all-pairs answer, so a hash match asserts
    the blocking's completeness on this corpus (guaranteed for keys of
    length >= 5 at q=3, d=2 — one edit destroys at most q grams).
    """
    from etl_weather_spark.operators.linkage import fuzzy_join_blocked

    p = load(spark, sf_dir, "part")
    pairs = fuzzy_join_blocked(p, p, left_col="p_name", right_col="p_name")
    return (
        pairs.filter(F.col("name_a") < F.col("name_b"))
        .orderBy("edit_dist", "name_a", "name_b")
    )

#: dedup_clusters producer hyperparameters — shared by the CC query
#: and the committed-membership fingerprint (_cc_membership_committed),
#: the _QCT_PARAMS discipline: a recipe change is ONE edit that both
#: changes the pairs and invalidates the committed membership.
_CC_SHINGLE_N = 3
_CC_MIN_JACCARD = 0.5

@query(
    "dedup_clusters",
    f"""
WITH RECURSIVE {_SHINGLE_SQL},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE ni * 1.0 / (sa.n + sb.n - ni) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r
)
SELECT node AS doc_id, MIN(r) AS cluster_id
FROM reach
GROUP BY node
ORDER BY doc_id
""",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: exact trigram-Jaccard pairs (>= 0.5)
    fed through distributed connected components (min-label
    propagation, operators/dedup.py) — the step that turns candidate
    pairs into keep-one-per-cluster dedup decisions.

    Oracle: DuckDB recursive CTE computes full reachability and takes
    MIN(reachable id) per node — same fixpoint, different algorithm.

    Scale: label propagation is one shuffle per round, rounds ~ cluster
    diameter (tiny for near-dup graphs); the transitive-closure oracle
    is exponentially worse and exists only to cross-check at sf0.01.
    """
    from etl_weather_spark.operators.dedup import (
        connected_components,
        pruned_jaccard_pairs,
    )

    docs = load(spark, sf_dir, "documents")
    pairs = pruned_jaccard_pairs(
        docs, shingle_n=_CC_SHINGLE_N, min_jaccard=_CC_MIN_JACCARD
    )
    return (
        connected_components(pairs)
        .select(F.col("node").alias("doc_id"), "cluster_id")
        .orderBy("doc_id")
    )

@query(
    "dup_cluster_transitivity",
    f"""
WITH RECURSIVE {_SHINGLE_SQL},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
prs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE ni * 1.0 / (sa.n + sb.n - ni) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM prs
  UNION
  SELECT id_b AS src, id_a AS dst FROM prs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r
),
clusters AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node),
tri AS (
  SELECT c.cluster_id, COUNT(*) AS n_triangles
  FROM prs p1
  JOIN prs p2 ON p2.id_a = p1.id_b
  JOIN prs p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b
  JOIN clusters c ON c.node = p1.id_a
  GROUP BY c.cluster_id
),
per AS (
  SELECT c.cluster_id,
         CAST(COUNT(DISTINCT c.node) AS BIGINT) AS n_nodes,
         CAST(COUNT(DISTINCT p.id_a || '|' || p.id_b) AS BIGINT) AS n_edges
  FROM clusters c
  JOIN prs p ON p.id_a = c.node OR p.id_b = c.node
  GROUP BY c.cluster_id
)
SELECT per.cluster_id, per.n_nodes, per.n_edges,
       CAST(COALESCE(tri.n_triangles, 0) AS BIGINT) AS n_triangles,
       per.n_edges = per.n_nodes * (per.n_nodes - 1) // 2 AS is_clique
FROM per LEFT JOIN tri ON tri.cluster_id = per.cluster_id
ORDER BY per.cluster_id
""",
)
def dup_cluster_transitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-cluster QUALITY audit: per near-dup cluster, node/edge/
    triangle counts and a clique flag. Connected components merge
    transitively — a chain a~b~c collapses three docs on two edges
    even when a and c share nothing — so low edge density / zero
    triangles marks exactly the clusters a careful pipeline re-verifies
    before collapsing, while cliques are safe merges.

    Triangles via the node-ordered wedge join (id_a<id_b<id_c): each
    pair relation self-join keys on a shared endpoint, the standard
    distributed triangle count — never an all-pairs product. Edge and
    node rollups ride the same narrow (id, id) relations as
    dedup_clusters.
    """
    from etl_weather_spark.operators.dedup import (
        connected_components,
        pruned_jaccard_pairs,
    )

    docs = load(spark, sf_dir, "documents")
    pairs = fence(pruned_jaccard_pairs(docs, shingle_n=3, min_jaccard=0.5).select(
        "id_a", "id_b"
    ))
    cc = connected_components(pairs)

    p1 = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    p2 = pairs.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
    p3 = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
    tri = (
        p1.join(p2, "b")
        .join(p3, ["a", "c"])
        .join(cc, F.col("a") == F.col("node"))
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    ecl = (
        pairs.join(cc, F.col("id_a") == F.col("node"))
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )
    ncl = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_nodes"))
    return (
        ncl.join(ecl, "cluster_id", "left")
        .join(tri, "cluster_id", "left")
        .select(
            "cluster_id",
            F.col("n_nodes").cast("long").alias("n_nodes"),
            F.coalesce("n_edges", F.lit(0)).cast("long").alias("n_edges"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            (
                F.coalesce("n_edges", F.lit(0))
                == (F.col("n_nodes") * (F.col("n_nodes") - 1) / 2).cast("long")
            ).alias("is_clique"),
        )
        .orderBy("cluster_id")
    )

_PAGERANK_SQL = f"""
WITH {_SHINGLE_SQL},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
prs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE ni * 1.0 / (sa.n + sb.n - ni) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM prs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM prs
),
deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT src AS node, CAST(1000000000 AS BIGINT) AS r FROM deg),
{_pr_iter_sql("r0", "r1")},
{_pr_iter_sql("r1", "r2")},
{_pr_iter_sql("r2", "r3")}
SELECT node AS doc_id, r AS rank_scaled FROM r3 ORDER BY doc_id
"""

_CANONICALS_SQL = f"""
WITH RECURSIVE {_SHINGLE_SQL},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
prs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE ni * 1.0 / (sa.n + sb.n - ni) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM prs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM prs
),
deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT src AS node, CAST(1000000000 AS BIGINT) AS r FROM deg),
{_pr_iter_sql("r0", "r1")},
{_pr_iter_sql("r1", "r2")},
{_pr_iter_sql("r2", "r3")},
uedges AS (SELECT DISTINCT src, dst FROM edges),
reach(node, rch) AS (
  SELECT src, src FROM uedges
  UNION
  SELECT reach.node, e.dst FROM reach JOIN uedges e ON e.src = reach.rch
),
clusters AS (SELECT node, MIN(rch) AS cluster_id FROM reach GROUP BY node),
ranked AS (
  SELECT c.cluster_id, c.node, r3.r,
         ROW_NUMBER() OVER (PARTITION BY c.cluster_id ORDER BY r3.r DESC, c.node) AS rn
  FROM clusters c JOIN r3 ON r3.node = c.node
)
SELECT cluster_id,
       MAX(CASE WHEN rn = 1 THEN node END) AS canonical_doc_id,
       CAST(MAX(CASE WHEN rn = 1 THEN r END) AS BIGINT) AS canonical_rank,
       COUNT(*) AS cluster_size
FROM ranked
GROUP BY cluster_id
ORDER BY cluster_id
"""

@query("dup_canonicals", _CANONICALS_SQL)
def dup_canonicals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's FINAL decision: one canonical document per
    near-dup cluster, chosen by PageRank centrality (rank desc, doc_id
    as the deterministic tie-break) — connected components say WHICH
    docs collapse together, centrality says which one to KEEP.

    Composition of the two independently-oracled graph results
    (dedup_clusters × doc_pagerank) in one plan; the oracle recomputes
    both (recursive-CTE reachability + unrolled integer PageRank) and
    picks the same per-cluster argmax.

    Scale: clusters and ranks are both narrow (id, long) relations
    over the LSH-pruned pair graph; the keep-pick is one window over
    cluster_id.
    """
    from etl_weather_spark.operators.dedup import (
        connected_components,
        pruned_jaccard_pairs,
    )
    from etl_weather_spark.operators.graph import pagerank_scaled

    docs = load(spark, sf_dir, "documents")
    pairs = fence(pruned_jaccard_pairs(docs, shingle_n=3, min_jaccard=0.5).select(
        "id_a", "id_b"
    ))
    cc = connected_components(pairs)
    pr = pagerank_scaled(pairs, iterations=3)
    joined = cc.join(pr, "node")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("rank_scaled"), F.col("node")
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .groupBy("cluster_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("node"))).alias(
                "canonical_doc_id"
            ),
            F.max(F.when(F.col("rn") == 1, F.col("rank_scaled"))).alias(
                "canonical_rank"
            ),
            F.count(F.lit(1)).alias("cluster_size"),
        )
        .orderBy("cluster_id")
    )

@query("doc_pagerank", _PAGERANK_SQL)
def doc_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the near-dup pair graph: which document
    is the canonical hub of its duplicate neighborhood?

    Pipeline: exact trigram-Jaccard pairs (≥0.5, same ground truth as
    dedup_clusters) → symmetric edges → 3 Pregel-style rounds of
    integer-exact damped rank propagation (operators/graph.py). A doc
    near-duplicated by many others outranks a leaf that matched once —
    the keep-this-one signal a cluster-collapse step wants.

    Oracle: the three rounds unrolled as chained CTEs computing the
    bit-identical integer recurrence.

    Scale: each round is one keyed join + one agg over narrow
    (id, long) rows; rounds are fixed, never iterate-to-convergence.
    The pair graph is the LSH-pruned candidate set — orders of
    magnitude smaller than the corpus.
    """
    from etl_weather_spark.operators.dedup import pruned_jaccard_pairs
    from etl_weather_spark.operators.graph import pagerank_scaled

    docs = load(spark, sf_dir, "documents")
    # the fence cuts the pair-generator lineage so the 3 Pregel
    # rounds re-read a materialized edge relation instead of
    # re-running the prefix-filter join per round (same fence as
    # dup_canonicals)
    pairs = fence(pruned_jaccard_pairs(docs, shingle_n=3, min_jaccard=0.5).select(
        "id_a", "id_b"
    ))
    pr = pagerank_scaled(pairs, iterations=3)
    return pr.select(F.col("node").alias("doc_id"), "rank_scaled").orderBy("doc_id")

_CLUSTER_SAFE_SPLIT_SQL = f"""
WITH RECURSIVE {_SHINGLE_SQL},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
prs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE ni * 1.0 / (sa.n + sb.n - ni) >= 0.5
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM prs
  UNION
  SELECT id_b AS src, id_a AS dst FROM prs
),
reach(node, r) AS (
  SELECT src, src FROM edges
  UNION
  SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r
),
clusters AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node),
spine AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN clusters c ON c.node = d.doc_id
)
SELECT doc_id, cluster_id,
       CASE WHEN substr(md5('gsplit|' || CAST(cluster_id AS VARCHAR)), 1, 1) < 'd' THEN 'train'
            WHEN substr(md5('gsplit|' || CAST(cluster_id AS VARCHAR)), 1, 1) = 'd' THEN 'val'
            ELSE 'test' END AS split
FROM spine
ORDER BY doc_id
"""

_SHINGLE5 = """
  CASE WHEN len(tk) >= 5
       THEN list_transform(generate_series(1, len(tk) - 4),
                           i -> array_to_string(list_slice(tk, i, i + 4), ' '))
       ELSE [array_to_string(tk, ' ')] END
"""

@query(
    "decontaminate_overlap",
    f"""
WITH toks AS (
  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS tk
  FROM documents
),
bsh AS (
  SELECT DISTINCT doc_id, UNNEST({_SHINGLE5}) AS sh
  FROM toks WHERE doc_id % 50 = 0
),
tsh AS (
  SELECT DISTINCT doc_id, UNNEST({_SHINGLE5}) AS sh
  FROM toks WHERE doc_id % 50 <> 0
)
SELECT t.doc_id, COUNT(DISTINCT t.sh) AS n_shared_shingles,
       COUNT(DISTINCT b.doc_id) AS n_bench_docs
FROM tsh t JOIN bsh b ON b.sh = t.sh
GROUP BY t.doc_id
ORDER BY t.doc_id
""",
)
def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    5-gram with a held-out benchmark set (here: every 50th doc plays
    the benchmark). Real pipelines run exactly this shape with 8-13
    grams — long shingles so chance collisions vanish and only true
    verbatim overlap (the planted near-dups) survives the join.

    Scale: the benchmark side is tiny relative to the corpus →
    broadcast its distinct shingles; the training side then never
    shuffles (map-side hash join over a pure map stage). Counts are
    distinct-per-doc, so re-shingled appends can't inflate them. At
    100 TB swap the broadcast for a bloom filter of benchmark shingle
    hashes if the benchmark outgrows executor memory.
    """
    from etl_weather_spark.operators.dedup import exploded_shingles

    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    bsh = exploded_shingles(bench, keep_cols=["doc_id"], n=5)
    tsh = exploded_shingles(train, keep_cols=["doc_id"], n=5)
    hits = tsh.join(
        F.broadcast(bsh.withColumnRenamed("doc_id", "bench_doc_id")), "sh"
    )
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count_distinct("sh").alias("n_shared_shingles"),
            F.count_distinct("bench_doc_id").alias("n_bench_docs"),
        )
        .orderBy("doc_id")
    )

@query(
    "shared_shingle_fraction",
    f"""
WITH {_SHINGLE_SQL},
dfq AS (SELECT sh AS s2, COUNT(*) AS df FROM sh GROUP BY 1),
j AS (SELECT sh.doc_id, dfq.df FROM sh JOIN dfq ON dfq.s2 = sh.sh)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       FLOOR((CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)) * 1000000 + 0.5) / 1000000 AS shared_fraction
FROM j GROUP BY doc_id ORDER BY doc_id
""",
)
def shared_shingle_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc share of distinct word trigrams appearing in ≥2 docs
    (operators/textops.shared_shingle_fraction) — the boilerplate/
    near-dup saturation signal C4-style cleaners threshold on; on this
    corpus it lights up exactly the planted near-duplicates.

    Scale: one shingle explode feeds the document-frequency agg and
    the per-doc rollup; the df join keys on the shingle — the same
    plan shape as the prefix-filter index build.
    """
    from etl_weather_spark.operators.textops import (
        shared_shingle_fraction as ssf,
    )

    docs = load(spark, sf_dir, "documents")
    return ssf(docs).orderBy("doc_id")

_CROSS_DEDUP_SQL = f"""
WITH pairs AS ({_JACCARD05_SQL}),
s AS (SELECT doc_id, (source = 'src0') AS is_idx FROM documents)
SELECT CASE WHEN sa.is_idx THEN p.id_a ELSE p.id_b END AS index_id,
       CASE WHEN sa.is_idx THEN p.id_b ELSE p.id_a END AS new_id,
       jaccard
FROM pairs p
JOIN s sa ON sa.doc_id = p.id_a
JOIN s sb ON sb.doc_id = p.id_b
WHERE sa.is_idx <> sb.is_idx
"""

@query("incremental_index_dedup", _CROSS_DEDUP_SQL)
def incremental_index_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a NEW ingestion batch against the standing
    indexed corpus: src0 plays the index, every other source the new
    batch. LSH banding proposes only CROSS-side candidates (the index
    is never re-paired with itself — the property that makes continuous
    ingestion affordable), exact trigram Jaccard disposes; the oracle
    is the exact cross-side Jaccard>=0.5 pair set, so a banding miss on
    any true cross pair fails the hash (same verified-pipeline contract
    as minhash_lsh_fast).

    Scale: in production the index side's MinHash signatures are
    precomputed and stored (append-only sig table); the bucket join
    shuffles (band, bucket, id) rows only. See
    operators/dedup.minhash_lsh_cross_pairs.
    """
    from etl_weather_spark.operators.dedup import (
        minhash_lsh_cross_pairs,
        verify_pairs_jaccard_inline,
    )

    docs = load(spark, sf_dir, "documents")
    index = docs.filter(F.col("source") == "src0")
    batch = docs.filter(F.col("source") != "src0")
    cand = minhash_lsh_cross_pairs(
        index, batch, bands=4
    ).select(F.col("index_id").alias("id_a"), F.col("new_id").alias("id_b"))
    verified = verify_pairs_jaccard_inline(docs, cand)
    return verified.select(
        F.col("id_a").alias("index_id"),
        F.col("id_b").alias("new_id"),
        rnd(F.col("jaccard"), 4).alias("jaccard"),
    )

@query(
    "bloom_screen_new_docs",
    """
WITH fp AS (
  SELECT doc_id, source,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
),
idx AS (SELECT DISTINCT fp FROM fp WHERE source = 'src0')
SELECT f.doc_id, (idx.fp IS NULL) AS is_new
FROM fp f LEFT JOIN idx ON idx.fp = f.fp
WHERE f.source <> 'src0'
ORDER BY f.doc_id
""",
)
def bloom_screen_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT novelty screen of a new ingestion batch against the
    standing fingerprint index via a broadcast Bloom filter: src0 is
    the index, every other source the batch; output is (doc_id,
    is_new) for every batch doc.

    The Bloom bitmap (built in one distributed pass, partial bitmaps
    OR-ed — operators/bloom.py) answers "definitely new" executor-
    locally; only might-contain rows pay the exact confirm join, so
    the result equals the plain anti-join oracle while the index-sized
    shuffle shrinks to the collision candidates. At 100 TB the bitmap
    is built once and persisted next to the signature index
    (operators/dedup.minhash_sig_table), not rebuilt per batch.
    """
    from etl_weather_spark.operators.bloom import bloom_screen

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", doc_fingerprint(F.col("text")).alias("fp")
    )
    index = docs.filter(F.col("source") == "src0")
    batch = docs.filter(F.col("source") != "src0")
    return (
        bloom_screen(index, batch, key_col="fp")
        .select("doc_id", "is_new")
        .orderBy("doc_id")
    )

@query(
    "sentence_dedup_global",
    """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
s AS (
  SELECT doc_id, CAST(g.i AS BIGINT) AS sent_idx,
         array_to_string(t[g.i*8+1:g.i*8+8], ' ') AS sent
  FROM toks, LATERAL (
    SELECT UNNEST(generate_series(0, CAST(CEIL(len(t)/8.0) AS BIGINT) - 1)) AS i
  ) g
),
kd AS (SELECT sent, MIN(doc_id) AS kd FROM s GROUP BY sent),
ki AS (
  SELECT s.sent, k.kd, MIN(s.sent_idx) AS ki
  FROM s JOIN kd k ON k.sent = s.sent AND s.doc_id = k.kd
  GROUP BY s.sent, k.kd
),
kept AS (
  SELECT s.doc_id, s.sent_idx, s.sent
  FROM s JOIN ki ON ki.sent = s.sent
   AND s.doc_id = ki.kd AND s.sent_idx = ki.ki
),
reb AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_sents,
         string_agg(sent, ' ' ORDER BY sent_idx) AS dedup_text
  FROM kept GROUP BY doc_id
),
tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sents FROM s GROUP BY doc_id)
SELECT t.doc_id, t.n_sents,
       COALESCE(r.kept_sents, 0) AS kept_sents,
       t.n_sents - COALESCE(r.kept_sents, 0) AS removed_sents,
       COALESCE(r.dedup_text, '') AS dedup_text,
       CAST(LENGTH(COALESCE(r.dedup_text, '')) AS BIGINT) AS n_chars_kept
FROM tot t LEFT JOIN reb r ON r.doc_id = t.doc_id
ORDER BY t.doc_id
""",
)
def sentence_dedup_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style GLOBAL sentence dedup (Raffel et al. 2020 §2.2, at
    fixed 8-token grain since the corpus has no sentence boundaries):
    every pseudo-sentence survives only at its corpus-first occurrence
    (lowest doc_id, then lowest position), and each document's
    surviving text is REBUILT in order — the whole-corpus span-removal
    step that runs after per-doc quality gates and before training.

    The Spark side shuffles 8-byte xxhash64 sentence keys; the oracle
    replays with exact sentence strings (identical modulo a ~1e-10
    64-bit collision — the same hashed-twin acceptance as
    exact_substring_spans). Keeper resolution is two partial-agg
    groupBys, never a per-sentence window, so boilerplate repeated a
    million times costs a combiner, not a hot reducer; the rebuild
    sorts only within single documents.
    """
    from etl_weather_spark.operators.dedup import global_sentence_dedup

    return global_sentence_dedup(load(spark, sf_dir, "documents"), sent_tokens=8)

@query(
    "url_normalize_stats",
    """
WITH raw AS (
  SELECT doc_id, source,
         CASE CAST(doc_id % 4 AS INTEGER)
           WHEN 0 THEN 'HTTPS://WWW.' || source || '.example.com/Docs/'
                       || doc_id || '/?utm_source=feed&ref=x&q=keep#frag'
           WHEN 1 THEN 'http://' || source || '.example.com/Docs/'
                       || doc_id || '/'
           WHEN 2 THEN 'https://www.' || source || '.EXAMPLE.com/docs/'
                       || doc_id || '?id=' || doc_id || '&utm_campaign=a'
           ELSE 'https://' || source || '.example.com:443/docs/'
                || doc_id || '#section-2'
         END AS url_raw
  FROM documents
),
norm AS (
  SELECT doc_id, url_raw,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           regexp_replace(regexp_replace(regexp_replace(
             lower(url_raw),
             '^https?://', ''),
             '^www\\.', ''),
             ':(443|80)/', '/'),
             '#.*$', ''),
             '(utm_[a-z]+|ref)=[^&]*&?', '', 'g'),
             '[?&]+$', ''),
             '/+$', '') AS url_norm,
         CAST(len(regexp_extract_all(lower(url_raw), '[?&](utm_[a-z]+|ref)='))
              AS BIGINT) > 0 AS had_tracking
  FROM raw
)
SELECT doc_id, url_raw, url_norm,
       regexp_extract(url_norm, '^[^/]+') AS domain,
       regexp_replace(url_norm, '^[^/]+', '') AS path,
       had_tracking
FROM norm
ORDER BY doc_id
""",
)
def url_normalize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL CANONICALIZATION (the prep step before C4-style URL dedup
    and domain-level filtering): deterministic messy URLs — upper-case
    schemes, www. prefixes, :443 ports, utm_*/ref tracking params,
    fragments, trailing slashes — are synthesized in-plan per document
    (the corpus has no URL column; same seeding pattern as
    pii_scrub_stats), then normalized by a fixed regex chain shared
    VERBATIM with the oracle: lowercase → strip scheme → strip www. →
    strip default port → strip fragment → strip tracking params → tidy
    dangling separators → strip trailing slash; domain and path split
    off the canonical form.

    No backreferences anywhere (Spark's $1 and DuckDB's \\1 disagree),
    so every pattern is engine-portable. Scale: pure projection in
    whole-stage codegen — no shuffle, no Python; the downstream
    domain-level groupBy (not shown) would be the only exchange.
    """
    docs = load(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("HTTPS://WWW."),
                F.col("source"),
                F.lit(".example.com/Docs/"),
                F.col("doc_id").cast("string"),
                F.lit("/?utm_source=feed&ref=x&q=keep#frag"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("http://"),
                F.col("source"),
                F.lit(".example.com/Docs/"),
                F.col("doc_id").cast("string"),
                F.lit("/"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit("https://www."),
                F.col("source"),
                F.lit(".EXAMPLE.com/docs/"),
                F.col("doc_id").cast("string"),
                F.lit("?id="),
                F.col("doc_id").cast("string"),
                F.lit("&utm_campaign=a"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://"),
                F.col("source"),
                F.lit(".example.com:443/docs/"),
                F.col("doc_id").cast("string"),
                F.lit("#section-2"),
            )
        )
        .alias("url_raw"),
    )
    u = F.lower(F.col("url_raw"))
    for pat, rep in [
        (r"^https?://", ""),
        (r"^www\.", ""),
        (r":(443|80)/", "/"),
        (r"#.*$", ""),
        (r"(utm_[a-z]+|ref)=[^&]*&?", ""),
        (r"[?&]+$", ""),
        (r"/+$", ""),
    ]:
        u = F.regexp_replace(u, pat, rep)
    norm = raw.select(
        "doc_id",
        "url_raw",
        u.alias("url_norm"),
        (
            F.regexp_count(
                F.lower(F.col("url_raw")), F.lit(r"[?&](utm_[a-z]+|ref)=")
            )
            > 0
        ).alias("had_tracking"),
    )
    return norm.select(
        "doc_id",
        "url_raw",
        "url_norm",
        F.regexp_extract("url_norm", r"^[^/]+", 0).alias("domain"),
        F.regexp_replace("url_norm", r"^[^/]+", "").alias("path"),
        "had_tracking",
    ).orderBy("doc_id")

@query(
    "url_dedup_domains",
    """
WITH raw AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 5 = 0
              THEN 'HTTPS://WWW.' || source || '.example.com/'
           WHEN doc_id % 4 = 0
              THEN 'HTTPS://WWW.' || source || '.example.com/Docs/'
                   || doc_id || '/?utm_source=feed&ref=x&q=keep#frag'
           WHEN doc_id % 4 = 1
              THEN 'http://' || source || '.example.com/Docs/' || doc_id || '/'
           WHEN doc_id % 4 = 2
              THEN 'https://www.' || source || '.EXAMPLE.com/docs/'
                   || doc_id || '?id=' || doc_id || '&utm_campaign=a'
           ELSE 'https://' || source || '.example.com:443/docs/'
                || doc_id || '#section-2'
         END AS url_raw
  FROM documents
),
norm AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           regexp_replace(regexp_replace(regexp_replace(
             lower(url_raw),
             '^https?://', ''),
             '^www\\.', ''),
             ':(443|80)/', '/'),
             '#.*$', ''),
             '(utm_[a-z]+|ref)=[^&]*&?', '', 'g'),
             '[?&]+$', ''),
             '/+$', '') AS url_norm
  FROM raw
),
d AS (SELECT doc_id, url_norm, regexp_extract(url_norm, '^[^/]+') AS domain FROM norm)
SELECT domain,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT url_norm) AS BIGINT) AS n_urls,
       CAST(COUNT(*) - COUNT(DISTINCT url_norm) AS BIGINT) AS dups_removed,
       domain IN ('src3.example.com', 'src7.example.com') AS blocked
FROM d
GROUP BY domain
ORDER BY domain
""",
)
def url_dedup_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level exact dedup + per-DOMAIN rollup with a blocklist flag
    (the C4 steps that run right after canonicalization): every fifth
    document gets its source's HOMEPAGE URL (deterministic in-plan
    seeding — real crawls hit the same landing pages constantly), the
    rest the per-doc messy variants from url_normalize_stats; after the
    identical backreference-free normalization chain, documents
    sharing a canonical URL collapse (dups_removed per domain) and two
    domains carry the blocklist flag a production pipeline would drop.

    Scale: canonicalization is pure projection; the only exchange is
    the (domain)-keyed rollup whose distinct-URL count partial-aggs
    map-side — domain cardinality is bounded, and a pathological
    single-domain crawl shows up as one group whose DISTINCT still
    combines before the shuffle.
    """
    docs = load(spark, sf_dir, "documents")
    raw = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit("HTTPS://WWW."), F.col("source"), F.lit(".example.com/")
            ),
        )
        .when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("HTTPS://WWW."),
                F.col("source"),
                F.lit(".example.com/Docs/"),
                F.col("doc_id").cast("string"),
                F.lit("/?utm_source=feed&ref=x&q=keep#frag"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("http://"),
                F.col("source"),
                F.lit(".example.com/Docs/"),
                F.col("doc_id").cast("string"),
                F.lit("/"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit("https://www."),
                F.col("source"),
                F.lit(".EXAMPLE.com/docs/"),
                F.col("doc_id").cast("string"),
                F.lit("?id="),
                F.col("doc_id").cast("string"),
                F.lit("&utm_campaign=a"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://"),
                F.col("source"),
                F.lit(".example.com:443/docs/"),
                F.col("doc_id").cast("string"),
                F.lit("#section-2"),
            )
        )
        .alias("url_raw"),
    )
    u = F.lower(F.col("url_raw"))
    for pat, rep in [
        (r"^https?://", ""),
        (r"^www\.", ""),
        (r":(443|80)/", "/"),
        (r"#.*$", ""),
        (r"(utm_[a-z]+|ref)=[^&]*&?", ""),
        (r"[?&]+$", ""),
        (r"/+$", ""),
    ]:
        u = F.regexp_replace(u, pat, rep)
    d = raw.select(
        "doc_id",
        u.alias("url_norm"),
    ).withColumn("domain", F.regexp_extract("url_norm", r"^[^/]+", 0))
    return (
        d.groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count_distinct("url_norm").cast("long").alias("n_urls"),
            (F.count(F.lit(1)) - F.count_distinct("url_norm"))
            .cast("long")
            .alias("dups_removed"),
        )
        .select(
            "domain",
            "n_docs",
            "n_urls",
            "dups_removed",
            F.col("domain")
            .isin("src3.example.com", "src7.example.com")
            .alias("blocked"),
        )
        .orderBy("domain")
    )

@query(
    "lsh_recall_audit",
    f"""
WITH {_SHINGLE_SQL},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
exact AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE ni * 1.0 / (sa.n + sb.n - ni) >= 0.5
),
sig AS (
  SELECT doc_id,
{_MINHASH_SIG_SQL}
  FROM sh GROUP BY doc_id
),
{_MINHASH_BANDED_SQL},
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         ({_MINHASH_MATCH_SQL}) / 8.0 AS est_jaccard
  FROM banded a JOIN banded b
    ON a.doc_id < b.doc_id
   AND {_MINHASH_BAND_JOIN_SQL}
),
flagged AS (
  SELECT c.est_jaccard,
         CASE WHEN e.id_a IS NULL THEN 0 ELSE 1 END AS is_true
  FROM cand c LEFT JOIN exact e ON e.id_a = c.id_a AND e.id_b = c.id_b
),
bands AS (
  SELECT est_jaccard,
         CAST(COUNT(*) AS BIGINT) AS n_candidates,
         CAST(SUM(is_true) AS BIGINT) AS n_true
  FROM flagged GROUP BY est_jaccard
),
tot AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS n_exact_total,
         CAST(SUM(n_true) AS BIGINT) AS n_hits_total
  FROM bands
)
SELECT b.est_jaccard, b.n_candidates, b.n_true,
       FLOOR((b.n_true * 1.0 / b.n_candidates) * 10000 + 0.5) / 10000 AS precision4,
       t.n_exact_total, t.n_hits_total,
       CASE WHEN t.n_exact_total > 0
            THEN FLOOR((t.n_hits_total * 1.0 / t.n_exact_total) * 10000 + 0.5) / 10000
       END AS recall4
FROM bands b CROSS JOIN tot t
ORDER BY b.est_jaccard
""",
)
def lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTIFIED approximation quality of the MinHash+LSH candidate
    generator against the exact trigram-Jaccard≥0.5 ground truth — the
    audit a dedup pipeline runs before trusting banding parameters at
    scale: per estimated-Jaccard band (k/8 signature agreement), how
    many candidates, how many are true near-dups, the band's precision,
    and the generator's overall recall of the exact pair set.

    Composes two independently-oracled generators (minhash_lsh's md5
    signature family × prefix-filtered exact Jaccard); the oracle
    recomputes both sides and the join, so the recall/precision numbers
    themselves are cross-engine exact.

    Scale: the exact side uses the prefix-filtered generator (never
    all-pairs); the candidate side is the banding equi-join; the audit
    join moves only (id, id) pairs and the rollup is band-keyed
    (≤9 rows out).
    """
    return _lsh_recall_core(load(spark, sf_dir, "documents"))

def _lsh_recall_core(docs: DataFrame) -> DataFrame:
    """lsh_recall_audit on an arbitrary documents relation (the
    sampled variant passes a deterministic hash-sample)."""
    from etl_weather_spark.operators.dedup import (
        minhash_lsh_pairs,
        prefix_filter_candidates,
        verify_candidates_jaccard,
    )

    cand0 = prefix_filter_candidates(docs, min_jaccard=0.5)
    # two consumers each (the audit join + the totals row) would
    # otherwise re-run the whole prefix-filter + verify generator and
    # the banding generator a second time — the un-fenced plan carried
    # 496 parquet scans / 1644 Exchanges at sf0.1 (the funnel-v2
    # lesson applied here)
    exact = fence(
        verify_candidates_jaccard(docs, cand0, min_jaccard=0.5)
        .select("id_a", "id_b")
    )
    approx = minhash_lsh_pairs(
        docs, num_hashes=8, shingle_n=3, hash_family="md5"
    )
    flagged = approx.join(
        exact.withColumn("is_true", F.lit(1)), ["id_a", "id_b"], "left"
    ).select(
        "est_jaccard", F.coalesce(F.col("is_true"), F.lit(0)).alias("is_true")
    )
    bands = fence(flagged.groupBy("est_jaccard").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.sum("is_true").cast("long").alias("n_true"),
    ))
    tot = bands.agg(F.sum("n_true").cast("long").alias("n_hits_total")).crossJoin(
        exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact_total"))
    )
    return (
        bands.crossJoin(F.broadcast(tot))
        .select(
            "est_jaccard",
            "n_candidates",
            "n_true",
            rnd(F.col("n_true") * 1.0 / F.col("n_candidates"), 4).alias(
                "precision4"
            ),
            "n_exact_total",
            "n_hits_total",
            # the 25% sampled variant can surface LSH candidates with
            # ZERO exact pairs (true pairs decimate quadratically):
            # 0/0 must be NULL on both engines, never Spark NaN
            F.when(
                F.col("n_exact_total") > 0,
                rnd(F.col("n_hits_total") * 1.0 / F.col("n_exact_total"), 4),
            ).alias("recall4"),
        )
        .orderBy("est_jaccard")
    )

def _lsh_sampled_oracle() -> str:
    """Sampled-audit oracle: the registered full-audit oracle verbatim,
    run over the deterministic hash-sample CTE."""
    import re

    inner = re.sub(r"\bdocuments\b", "sdocs", _ORACLES["lsh_recall_audit"])
    return (
        "WITH sdocs AS MATERIALIZED"
        f" (SELECT * FROM documents WHERE {_DOC_SAMPLE_SQL})\n"
        f"SELECT * FROM ({inner}\n) ORDER BY est_jaccard"
    )

@query("lsh_recall_audit_sampled", _lsh_sampled_oracle())
def lsh_recall_audit_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lsh_recall_audit on a DETERMINISTIC 25% hash-sample of the
    corpus — the shape production actually runs when tuning banding
    parameters: the recall/precision surface is estimated on a bounded
    sample (pair work scales with the SQUARE of the doc count, so a
    25% sample costs ~6% of the full audit), and the full audit stays
    available as ground truth. The sample is membership-stable across
    engines and scale factors (first md5 nibble of the stringified
    doc_id), never a rand() — so the oracle replays it exactly.

    Scale: identical plan family to lsh_recall_audit (both generators
    bucketed, audit join on (id, id) pairs, band-keyed rollup) over a
    corpus whose size the operator controls.
    """
    docs = load(spark, sf_dir, "documents").filter(F.expr(_DOC_SAMPLE_SQL))
    return _lsh_recall_core(docs)

@query(
    "containment_pairs",
    f"""
WITH {_SHINGLE_SQL},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(ni AS BIGINT) AS n_shared,
       CAST(sa.n AS BIGINT) AS n_a,
       CAST(sb.n AS BIGINT) AS n_b,
       FLOOR((ni * 1.0 / LEAST(sa.n, sb.n)) * 10000 + 0.5) / 10000 AS containment4,
       CASE WHEN sa.n <= sb.n THEN id_a ELSE id_b END AS contained_id
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE ni * 1.0 / LEAST(sa.n, sb.n) >= 0.8
ORDER BY id_a, id_b
""",
)
def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection: pairs where the smaller document's
    shingle set is ≥80% CONTAINED in the other — quotes, excerpts, and
    expanded re-posts that symmetric Jaccard misses (a 100-shingle doc
    fully inside a 1000-shingle doc scores Jaccard 0.1 but containment
    1.0). RefinedWeb-style pipelines prune the contained side; the
    ``contained_id`` column is that decision.

    Scale: candidates come from the ASYMMETRIC prefix filter
    (operators/dedup.containment_candidates — the smaller side's
    ``n − ⌈t·n⌉ + 1`` rarest shingles probe the full index, the
    SSJoin prefix bound applied to the min-side overlap), then exact
    verify on the candidate pairs only. The oracle is the NAIVE
    shares-any-shingle SQL, so the oracle match at every SF is the
    pruned generator's completeness proof — the same contract as
    prefix_filter_jaccard.
    """
    from etl_weather_spark.operators.dedup import (
        containment_candidates,
        verify_candidates_containment,
    )

    docs = load(spark, sf_dir, "documents")
    cand = containment_candidates(docs)
    out = verify_candidates_containment(docs, cand)
    return out.select(
        "id_a",
        "id_b",
        F.col("n_inter").cast("long").alias("n_shared"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        rnd(F.col("containment"), 4).alias("containment4"),
        F.when(F.col("n_a") <= F.col("n_b"), F.col("id_a"))
        .otherwise(F.col("id_b"))
        .alias("contained_id"),
    ).orderBy("id_a", "id_b")

def _scurve_oracle() -> str:
    """Sampled-corpus s-curve calibration oracle: naive exact pairs
    (completeness proof for the prefix-filtered Spark generator, the
    containment_pairs discipline) + md5 banding capture + the
    closed-form capture probability, bucket-rolled."""
    shingles = _SHINGLE_SQL.replace("FROM documents", "FROM sdocs")
    return f"""
WITH sdocs AS MATERIALIZED
  (SELECT * FROM documents WHERE {_DOC_SAMPLE_SQL}),
{shingles},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
exact AS (
  SELECT id_a, id_b,
         FLOOR((ni * 1.0 / (sa.n + sb.n - ni)) * 10000 + 0.5) / 10000 AS s4
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE ni * 1.0 / (sa.n + sb.n - ni) >= 0.3
),
sig AS (
  SELECT doc_id,
{_MINHASH_SIG_SQL}
  FROM sh GROUP BY doc_id
),
{_MINHASH_BANDED_SQL},
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.doc_id < b.doc_id
   AND {_MINHASH_BAND_JOIN_SQL}
),
flag AS (
  SELECT e.s4, CASE WHEN c.id_a IS NULL THEN 0 ELSE 1 END AS cap
  FROM exact e LEFT JOIN cand c ON c.id_a = e.id_a AND c.id_b = e.id_b
),
py AS (
  SELECT CAST(FLOOR(s4 * 20) AS BIGINT) AS bucket, cap,
         FLOOR((1 - (1 - s4 * s4) * (1 - s4 * s4) * (1 - s4 * s4)
                    * (1 - s4 * s4)) * 1000000 + 0.5) / 1000000 AS p6
  FROM flag
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(cap) AS BIGINT) AS n_captured,
       FLOOR((SUM(cap) * 1.0 / COUNT(*)) * 10000 + 0.5) / 10000
         AS capture_rate4,
       FLOOR(({sql_dsum('p6', 6)} / COUNT(*)) * 1000000 + 0.5) / 1000000
         AS p_theory6
FROM py GROUP BY bucket ORDER BY bucket
"""

@query("lsh_scurve_calibration", _scurve_oracle())
def lsh_scurve_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BANDING S-CURVE calibration (the Mining-of-Massive-Datasets
    capture-probability curve, measured): for every exact pair with
    trigram Jaccard ≥ 0.3 on the deterministic 25% sample, whether the
    b=4, r=2 MinHash banding actually produced it as a candidate,
    rolled up per 0.05 similarity bucket against the closed-form
    capture probability P(s) = 1 − (1 − s²)⁴ — the table that decides
    whether the banding parameters match the dedup threshold before a
    full-corpus run trusts them (the analytical companion to
    lsh_recall_audit's empirical recall).

    Determinism: s quantizes to 4 dp before the polynomial, the
    polynomial is a fixed left-associated multiplication chain (no
    pow() — integer exponents only), bucket ids are integers, and the
    per-bucket mean uses decimal accumulation.

    Scale: both generators are the bucketed/prefix-filtered paths over
    the bounded sample; the capture join moves (id, id) pairs; output
    is ≤ 20 buckets.
    """
    from etl_weather_spark.operators.dedup import (
        minhash_lsh_pairs,
        prefix_filter_candidates,
        verify_candidates_jaccard,
    )

    docs = load(spark, sf_dir, "documents").filter(F.expr(_DOC_SAMPLE_SQL))
    cand0 = prefix_filter_candidates(docs, min_jaccard=0.3)
    exact = verify_candidates_jaccard(
        docs, cand0, min_jaccard=0.3
    ).select("id_a", "id_b", rnd("jaccard", 4).alias("s4"))
    appr = minhash_lsh_pairs(
        docs, num_hashes=8, shingle_n=3, hash_family="md5"
    ).select("id_a", "id_b", F.lit(1).alias("cap"))
    flag = exact.join(appr, ["id_a", "id_b"], "left").select(
        "s4", F.coalesce(F.col("cap"), F.lit(0)).alias("cap")
    )
    s4 = F.col("s4")
    y = F.lit(1) - s4 * s4
    p6 = rnd(F.lit(1) - y * y * y * y, 6)
    py = flag.select(
        F.floor(s4 * 20).cast("long").alias("bucket"),
        "cap",
        p6.alias("p6"),
    )
    n = F.count(F.lit(1))
    return (
        py.groupBy("bucket")
        .agg(
            n.cast("long").alias("n_pairs"),
            F.sum("cap").cast("long").alias("n_captured"),
            rnd(F.sum("cap") * 1.0 / n, 4).alias("capture_rate4"),
            rnd(dsum("p6", 6) / n, 6).alias("p_theory6"),
        )
        .orderBy("bucket")
    )

def _resemblance_oracle() -> str:
    mins = ",\n         ".join(
        f"MIN(md5('{i}|' || sh)) AS m{i}" for i in range(16)
    )
    agree = " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(16)
    )
    return f"""
WITH {_SHINGLE_SQL},
half AS (SELECT DISTINCT doc_id % 2 AS h, sh FROM sh),
mins AS (
  SELECT h, {mins}
  FROM half GROUP BY h
),
est AS (
  SELECT CAST({agree} AS BIGINT) AS n_agree
  FROM mins a JOIN mins b ON a.h = 0 AND b.h = 1
),
flags AS (
  SELECT sh, MAX(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS in_a,
         MAX(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS in_b
  FROM half GROUP BY sh
),
exact AS (
  SELECT CAST(SUM(in_a) AS BIGINT) AS n_sh_a,
         CAST(SUM(in_b) AS BIGINT) AS n_sh_b,
         CAST(SUM(in_a * in_b) AS BIGINT) AS n_inter,
         CAST(COUNT(*) AS BIGINT) AS n_union
  FROM flags
)
SELECT e.n_sh_a, e.n_sh_b, e.n_inter, e.n_union,
       FLOOR((e.n_inter * 1.0 / e.n_union) * 10000 + 0.5) / 10000
         AS exact_j4,
       CAST(16 AS BIGINT) AS n_seeds,
       s.n_agree,
       FLOOR((s.n_agree * 1.0 / 16) * 10000 + 0.5) / 10000 AS est_j4
FROM exact e CROSS JOIN est s
"""

@query("corpus_resemblance_sketch", _resemblance_oracle())
def corpus_resemblance_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-LEVEL resemblance sketch (Broder's k-min MinHash applied
    to whole SNAPSHOTS, not documents): estimate the trigram-shingle
    Jaccard between two corpus snapshots (the doc_id parity halves
    stand in for consecutive ingestion snapshots) from sixteen
    per-snapshot minimum hashes — the O(16)-byte artifact that answers
    'how much did the corpus actually change since yesterday?' without
    ever joining the two shingle sets — and report the EXACT set
    Jaccard next to it, so the estimator's error is measured in-plan
    (the sketch-tier convention: every sketch row carries its
    ground-truth check).

    Estimator: P(min hash agrees) = J(A,B) per seed; est = agreeing
    seeds / 16. Hashes are md5('seed|' || shingle) — engine-portable
    strings, lexicographic VARCHAR min on both engines.

    Scale: the sketch side is ONE pass over the distinct
    (half, shingle) relation with 16 map-side MIN aggregates — per
    snapshot the standing artifact is 16 hex strings, mergeable under
    MIN like the HLL/KLL tier; the exact side (one shingle-keyed agg)
    is the audit you run once to trust the sketch, not nightly. The
    SAME plan runs over two REAL committed versions of a snapshots.py
    table via :func:`snapshot_resemblance_between`.
    """
    from etl_weather_spark.operators.dedup import exploded_shingles

    # parity split derives from doc_id AFTER one shingle pass — the
    # full text explode runs ONCE over documents, not once per half
    # (the two-relation core below is for genuinely distinct snapshot
    # versions, where two scans are the semantics)
    docs = load(spark, sf_dir, "documents")
    half = (
        exploded_shingles(docs, keep_cols=["doc_id"], n=3)
        .select((F.col("doc_id") % 2).cast("int").alias("h"), "sh")
        .distinct()
    )
    return _resemblance_from_half(half)

def corpus_resemblance_core(a: DataFrame, b: DataFrame) -> DataFrame:
    """corpus_resemblance_sketch over two ARBITRARY document relations
    (anything with a ``text`` column) — the registered query derives
    its halves from doc_id parity in one shingle pass;
    :func:`snapshot_resemblance_between` passes two REAL versions of a
    snapshots.py table (VERDICT r7 item #5), which are two scans by
    nature."""
    from etl_weather_spark.operators.dedup import exploded_shingles

    def shingles(df: DataFrame, h: int) -> DataFrame:
        return exploded_shingles(
            df, keep_cols=[], n=3
        ).select(F.lit(h).alias("h"), "sh")

    half = shingles(a, 0).unionByName(shingles(b, 1)).distinct()
    return _resemblance_from_half(half)

def _resemblance_from_half(half: DataFrame) -> DataFrame:
    """Sketch + exact Jaccard from the distinct (h, sh) relation."""
    mins = half.groupBy("h").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("sh")))).alias(f"m{i}")
            for i in range(16)
        ]
    )
    a = mins.filter(F.col("h") == 0).drop("h")
    b = mins.filter(F.col("h") == 1).drop("h")
    a = a.select(*[F.col(f"m{i}").alias(f"a{i}") for i in range(16)])
    b = b.select(*[F.col(f"m{i}").alias(f"b{i}") for i in range(16)])
    n_agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(16)
    ).cast("long")
    est = a.crossJoin(F.broadcast(b)).select(n_agree.alias("n_agree"))
    flags = half.groupBy("sh").agg(
        F.max(F.when(F.col("h") == 0, 1).otherwise(0)).alias("in_a"),
        F.max(F.when(F.col("h") == 1, 1).otherwise(0)).alias("in_b"),
    )
    exact = flags.agg(
        F.sum("in_a").cast("long").alias("n_sh_a"),
        F.sum("in_b").cast("long").alias("n_sh_b"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_inter"),
        F.count(F.lit(1)).cast("long").alias("n_union"),
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "n_sh_a",
        "n_sh_b",
        "n_inter",
        "n_union",
        rnd(F.col("n_inter") * 1.0 / F.col("n_union"), 4).alias("exact_j4"),
        F.lit(16).cast("long").alias("n_seeds"),
        "n_agree",
        rnd(F.col("n_agree") * 1.0 / 16, 4).alias("est_j4"),
    )

def _cluster_size_hist_oracle() -> str:
    """Embed the registered dedup_clusters oracle verbatim and roll its
    membership up into the cluster-size histogram."""
    return f"""
WITH cc AS MATERIALIZED (
  SELECT doc_id, cluster_id FROM ({_ORACLES["dedup_clusters"]}
  )
),
sizes AS (
  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS size FROM cc
  GROUP BY cluster_id
),
tot AS (
  SELECT CAST(SUM(size) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN size >= 10 THEN size ELSE 0 END) AS BIGINT)
           AS mega_docs
  FROM sizes
)
SELECT s.size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(s.size) AS BIGINT) AS n_docs_at_size,
       CAST(SUM(s.size) - COUNT(*) AS BIGINT) AS removable_at_size,
       FLOOR((SUM(s.size) * 1.0 / t.n_docs) * 1000000 + 0.5) / 1000000
         AS doc_share6,
       FLOOR((t.mega_docs * 1.0 / t.n_docs) * 1000000 + 0.5) / 1000000
         AS mega_cluster_share6
FROM sizes s CROSS JOIN tot t
GROUP BY s.size, t.n_docs, t.mega_docs
ORDER BY s.size
"""

@query("dup_cluster_size_histogram", _cluster_size_hist_oracle())
def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-DUP CLUSTER-SIZE distribution — the first table every dedup
    paper reports (Lee et al. 2022, SemDeDup: cluster sizes are
    power-law; a handful of mega-clusters hold most removable mass):
    per cluster size, how many clusters, how many documents they hold,
    how many dedup would remove (size − 1 each), the document share,
    and the corpus share sitting in ≥10-doc mega-clusters — the number
    that decides whether boilerplate capping needs tightening before a
    full dedup run.

    The membership is the registered dedup_clusters pipeline's
    COMMITTED output (the artifact registry — CC runs once per corpus
    version; the oracle embeds dedup_clusters' oracle, hash-verifying
    the committed bytes), so the histogram cannot drift from the
    clustering it summarizes.

    Scale: membership is the LSH-pruned pair graph's CC output (narrow
    id relations); the rollup is two keyed partial aggs over
    (cluster_id) then (size) — both bounded dimensions downstream of
    the clustering itself.
    """
    cc = _cc_membership_committed(spark, sf_dir).select(
        "doc_id", "cluster_id"
    )
    sizes = cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("size")
    )
    tot = sizes.agg(
        F.sum("size").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("size") >= 10, F.col("size")).otherwise(0))
        .cast("long")
        .alias("mega_docs"),
    )
    return (
        sizes.crossJoin(F.broadcast(tot))
        .groupBy("size", "n_docs", "mega_docs")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("size").cast("long").alias("n_docs_at_size"),
            (F.sum("size") - F.count(F.lit(1)))
            .cast("long")
            .alias("removable_at_size"),
        )
        .select(
            "size",
            "n_clusters",
            "n_docs_at_size",
            "removable_at_size",
            rnd(F.col("n_docs_at_size") * 1.0 / F.col("n_docs"), 6).alias(
                "doc_share6"
            ),
            rnd(F.col("mega_docs") * 1.0 / F.col("n_docs"), 6).alias(
                "mega_cluster_share6"
            ),
        )
        .orderBy("size")
    )

def _cross_source_dup_oracle() -> str:
    """Embed the registered dedup_clusters oracle verbatim; roll the
    membership into per-(cluster, source) counts, then a source×source
    pair matrix by count products — never pair enumeration."""
    return f"""
WITH cc AS MATERIALIZED (
  SELECT doc_id, cluster_id FROM ({_ORACLES["dedup_clusters"]}
  )
),
cs AS (
  SELECT c.cluster_id, d.source, CAST(COUNT(*) AS BIGINT) AS n
  FROM cc c JOIN documents d ON d.doc_id = c.doc_id
  GROUP BY 1, 2
),
cross_pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(SUM(a.n * b.n) AS BIGINT) AS dup_pairs
  FROM cs a JOIN cs b
    ON a.cluster_id = b.cluster_id AND a.source < b.source
  GROUP BY 1, 2
),
same_pairs AS (
  SELECT source AS source_a, source AS source_b,
         CAST(SUM(CAST(n * (n - 1) / 2 AS BIGINT)) AS BIGINT) AS dup_pairs
  FROM cs GROUP BY 1, 2
),
pairs AS (SELECT * FROM cross_pairs UNION ALL SELECT * FROM same_pairs),
tot AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
grid AS (
  SELECT a.source AS source_a, b.source AS source_b,
         a.n_docs AS docs_a, b.n_docs AS docs_b,
         CASE WHEN a.source = b.source
              THEN CAST(a.n_docs * (a.n_docs - 1) / 2 AS BIGINT)
              ELSE a.n_docs * b.n_docs END AS possible_pairs
  FROM tot a JOIN tot b ON a.source <= b.source
)
SELECT g.source_a, g.source_b, g.docs_a, g.docs_b,
       CAST(COALESCE(p.dup_pairs, 0) AS BIGINT) AS dup_pairs,
       g.possible_pairs,
       FLOOR((COALESCE(p.dup_pairs, 0) * 1000000.0
              / GREATEST(g.possible_pairs, 1)) * 100 + 0.5) / 100
         AS dup_ppm2
FROM grid g
LEFT JOIN pairs p ON p.source_a = g.source_a AND p.source_b = g.source_b
ORDER BY g.source_a, g.source_b
"""

@query("cross_source_dup_matrix", _cross_source_dup_oracle())
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SOURCE DUPLICATION MATRIX — which sources copy which: for
    every (source_a ≤ source_b) cell, the number of near-dup document
    pairs straddling the two sources, the possible-pair denominator,
    and the rate in parts-per-million. Corpus reports lead with this
    table (mirror-site detection, license-laundering checks, "is src3
    just src0 re-crawled?"); a hot off-diagonal cell redirects the
    dedup budget before training ever starts.

    The membership is the registered dedup_clusters pipeline's
    COMMITTED output (the artifact registry — CC runs once per corpus
    version, this audit scans the committed relation; the oracle embeds
    dedup_clusters' oracle, hash-verifying the committed bytes). Zero
    cells are materialized from the full source×source grid so the
    matrix is always |sources|² rows regardless of what dedup found.

    Scale: pairs are NEVER enumerated — membership rolls up to
    per-(cluster, source) counts and the matrix is count PRODUCTS on a
    cluster-keyed self-join of that dimension-sized relation, so a
    mega-cluster costs |sources| rows, not size² pairs. The grid and
    totals are |sources|-sized broadcasts.
    """
    cc = _cc_membership_committed(spark, sf_dir).select(
        "doc_id", "cluster_id"
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    cs = fence(
        cc.join(docs, "doc_id")
        .groupBy("cluster_id", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    a = cs.select(
        F.col("cluster_id"),
        F.col("source").alias("source_a"),
        F.col("n").alias("na"),
    )
    b = cs.select(
        F.col("cluster_id"),
        F.col("source").alias("source_b"),
        F.col("n").alias("nb"),
    )
    cross_pairs = (
        a.join(b, "cluster_id")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.sum(F.col("na") * F.col("nb")).cast("long").alias("dup_pairs"))
    )
    same_pairs = cs.groupBy(
        F.col("source").alias("source_a"), F.col("source").alias("source_b")
    ).agg(
        F.sum((F.col("n") * (F.col("n") - 1) / 2).cast("long"))
        .cast("long")
        .alias("dup_pairs")
    )
    pairs = cross_pairs.unionByName(same_pairs)
    tot = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    ta = tot.select(
        F.col("source").alias("source_a"), F.col("n_docs").alias("docs_a")
    )
    tb = tot.select(
        F.col("source").alias("source_b"), F.col("n_docs").alias("docs_b")
    )
    grid = (
        ta.join(F.broadcast(tb), F.col("source_a") <= F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            "docs_a",
            "docs_b",
            F.when(
                F.col("source_a") == F.col("source_b"),
                (F.col("docs_a") * (F.col("docs_a") - 1) / 2).cast("long"),
            )
            .otherwise(F.col("docs_a") * F.col("docs_b"))
            .cast("long")
            .alias("possible_pairs"),
        )
    )
    return (
        grid.join(pairs, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            "docs_a",
            "docs_b",
            F.coalesce(F.col("dup_pairs"), F.lit(0))
            .cast("long")
            .alias("dup_pairs"),
            "possible_pairs",
            rnd(
                F.coalesce(F.col("dup_pairs"), F.lit(0))
                * 1000000.0
                / F.greatest(F.col("possible_pairs"), F.lit(1)),
                2,
            ).alias("dup_ppm2"),
        )
        .orderBy("source_a", "source_b")
    )

def _dedup_sweep_oracle() -> str:
    """Naive shares-a-shingle pair SQL (the prefix-filter completeness
    convention) + the identical threshold-dimension rollup."""
    ts = ", ".join(str(t) for t in _SWEEP_THRESHOLDS)
    return f"""
WITH {_SHINGLE_SQL},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b,
         FLOOR((ni * 1.0 / (sa.n + sb.n - ni)) * 1000000 + 0.5) / 1000000
           AS j6
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE ni * 1.0 / (sa.n + sb.n - ni) >= 0.5
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
qual AS (
  SELECT CAST(t.threshold AS DOUBLE) AS threshold, p.id_a, p.id_b
  FROM pairs p, UNNEST([{ts}]) AS t(threshold)
  WHERE p.j6 >= CAST(t.threshold AS DOUBLE)
),
docs_in AS (
  SELECT threshold, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_dup_docs
  FROM (
    SELECT threshold, id_a AS d FROM qual
    UNION ALL
    SELECT threshold, id_b AS d FROM qual
  ) GROUP BY threshold
)
SELECT CAST(t.threshold AS DOUBLE) AS threshold,
       CAST(COALESCE(p.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(COALESCE(di.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
       FLOOR((COALESCE(di.n_dup_docs, 0) * 1.0 / tt.n_docs) * 1000000 + 0.5)
         / 1000000 AS dup_doc_share6
FROM UNNEST([{ts}]) AS t(threshold)
LEFT JOIN (SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs
           FROM qual GROUP BY threshold) p
  ON p.threshold = CAST(t.threshold AS DOUBLE)
LEFT JOIN docs_in di ON di.threshold = CAST(t.threshold AS DOUBLE)
CROSS JOIN tot tt
ORDER BY threshold
"""

@query("dedup_threshold_sweep", _dedup_sweep_oracle())
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THRESHOLD-SENSITIVITY curve for near-dup dedup — the table that
    answers "what Jaccard threshold should this corpus run at?" before
    committing to a full dedup pass: per threshold in
    {0.5, 0.6, 0.7, 0.8, 0.9}, the qualifying pair count, the number
    of documents touching any qualifying pair, and their corpus share.
    A knee in this curve (pairs exploding below some t) is boilerplate
    bleeding into the near-dup range; a flat curve means the corpus is
    threshold-insensitive and the cheap high threshold suffices.

    Scale pattern worth stating: the pair generator runs ONCE at the
    LOWEST threshold (prefix-filtered exact Jaccard,
    operators/dedup.pruned_jaccard_pairs — the registered
    prefix_filter_jaccard generator) and the sweep is a pure
    threshold-dimension filter over the captured (pair, jaccard)
    relation — five thresholds cost one generation, not five. The
    oracle is the NAIVE shares-any-shingle SQL, so the oracle match is
    the pruned generator's completeness proof at every threshold
    simultaneously.
    """
    from etl_weather_spark.operators.dedup import pruned_jaccard_pairs

    docs = load(spark, sf_dir, "documents")
    pairs = pruned_jaccard_pairs(docs, shingle_n=3, min_jaccard=0.5).select(
        "id_a", "id_b", rnd(F.col("jaccard"), 6).alias("j6")
    )
    pairs = fence(pairs)
    tot = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    thr = spark.createDataFrame(
        [(float(t),) for t in _SWEEP_THRESHOLDS], "threshold double"
    )
    qual = pairs.crossJoin(F.broadcast(thr)).filter(
        F.col("j6") >= F.col("threshold")
    )
    per_pairs = qual.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    docs_in = (
        qual.select("threshold", F.col("id_a").alias("d"))
        .unionByName(qual.select("threshold", F.col("id_b").alias("d")))
        .groupBy("threshold")
        .agg(F.count_distinct("d").cast("long").alias("n_dup_docs"))
    )
    return (
        thr.join(per_pairs, "threshold", "left")
        .join(docs_in, "threshold", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "threshold",
            F.coalesce(F.col("n_pairs"), F.lit(0))
            .cast("long")
            .alias("n_pairs"),
            F.coalesce(F.col("n_dup_docs"), F.lit(0))
            .cast("long")
            .alias("n_dup_docs"),
            rnd(
                F.coalesce(F.col("n_dup_docs"), F.lit(0))
                * 1.0
                / F.col("n_docs"),
                6,
            ).alias("dup_doc_share6"),
        )
        .orderBy("threshold")
    )

@query(
    "snapshot_diff_report",
    r"""
WITH fp AS (
  SELECT DISTINCT source, CAST(doc_id % 2 AS BIGINT) AS half,
         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint
  FROM documents
),
a AS (SELECT source, fingerprint FROM fp WHERE half = 0),
b AS (SELECT source, fingerprint FROM fp WHERE half = 1),
j AS (
  SELECT COALESCE(a.source, b.source) AS source,
         CAST(COUNT(a.fingerprint) AS BIGINT) AS n_a,
         CAST(COUNT(b.fingerprint) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN a.fingerprint IS NOT NULL
                        AND b.fingerprint IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS retained,
         CAST(SUM(CASE WHEN a.fingerprint IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS added,
         CAST(SUM(CASE WHEN b.fingerprint IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS removed
  FROM a FULL OUTER JOIN b
    ON a.source = b.source AND a.fingerprint = b.fingerprint
  GROUP BY 1
)
SELECT source, n_a, n_b, retained, added, removed,
       FLOOR((added * 1.0 / GREATEST(n_b, 1)) * 1000000 + 0.5) / 1000000
         AS added_share6,
       FLOOR((removed * 1.0 / GREATEST(n_a, 1)) * 1000000 + 0.5) / 1000000
         AS removed_share6,
       FLOOR(((added + removed) * 1.0 / GREATEST(n_a + n_b, 1))
             * 1000000 + 0.5) / 1000000 AS churn_rate6
FROM j ORDER BY source
""",
)
def snapshot_diff_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT snapshot diff — the companion to corpus_resemblance_sketch
    (which ESTIMATES change in O(16) bytes): per source, how many
    distinct documents (by content fingerprint, the dedup_exact
    identity) were added, removed, and retained between two corpus
    snapshots (the doc_id parity halves stand in for consecutive
    ingestion snapshots — the established convention), with added/
    removed shares and the total churn rate. The sketch answers "did
    anything change?" nightly; this table is the drill-down a data
    release runs when the answer is yes.

    Scale: content identity is the 128-bit fingerprint, so the diff
    shuffles 32 bytes per distinct doc, never text; one distinct
    projection + one (source, fingerprint)-keyed full outer join +
    a |sources|-sized rollup. The SAME plan runs over two REAL
    committed versions of a snapshots.py table via
    :func:`snapshot_diff_between` (`cli.py snapshot-diff`) — the
    parity halves here exist only so the oracle has a deterministic
    fixture inside one parquet table.
    """
    docs = load(spark, sf_dir, "documents")
    return snapshot_diff_core(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )

def snapshot_diff_core(a: DataFrame, b: DataFrame) -> DataFrame:
    """snapshot_diff_report over two ARBITRARY document relations
    (anything with (source, text)) — the registered query passes the
    parity halves; :func:`snapshot_diff_between` passes two REAL
    versions of a snapshots.py table (VERDICT r7 item #5)."""

    def fps(df: DataFrame, s: str, f: str) -> DataFrame:
        return df.select(
            F.col("source").alias(s),
            doc_fingerprint(F.col("text")).alias(f),
        ).distinct()

    a = fps(a, "sa", "fa")
    b = fps(b, "sb", "fb")
    j = a.join(
        b,
        (F.col("sa") == F.col("sb")) & (F.col("fa") == F.col("fb")),
        "full_outer",
    )
    per = j.groupBy(
        F.coalesce(F.col("sa"), F.col("sb")).alias("source")
    ).agg(
        F.count("fa").cast("long").alias("n_a"),
        F.count("fb").cast("long").alias("n_b"),
        F.sum(
            F.when(F.col("fa").isNotNull() & F.col("fb").isNotNull(), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("retained"),
        F.sum(F.when(F.col("fa").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("added"),
        F.sum(F.when(F.col("fb").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("removed"),
    )
    return per.select(
        "source",
        "n_a",
        "n_b",
        "retained",
        "added",
        "removed",
        rnd(F.col("added") * 1.0 / F.greatest(F.col("n_b"), F.lit(1)), 6).alias(
            "added_share6"
        ),
        rnd(
            F.col("removed") * 1.0 / F.greatest(F.col("n_a"), F.lit(1)), 6
        ).alias("removed_share6"),
        rnd(
            (F.col("added") + F.col("removed"))
            * 1.0
            / F.greatest(F.col("n_a") + F.col("n_b"), F.lit(1)),
            6,
        ).alias("churn_rate6"),
    ).orderBy("source")

def _cc_fingerprint(sf_dir: str) -> str:
    """The CC membership artifact's fingerprint: corpus content stats +
    the producer's OWN hyperparameter constants — recipe drift cannot
    leave the committed fingerprint current (ADVICE r9)."""
    return dataset_fingerprint(
        sf_dir,
        {
            "algo": "dedup_clusters",
            "shingle_n": _CC_SHINGLE_N,
            "min_jaccard": _CC_MIN_JACCARD,
        },
    )


def _cc_membership_committed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The committed dedup_clusters membership (doc_id, cluster_id) —
    connected components run once per corpus version, and every
    downstream audit (cross-source matrix, dedup×quality interaction)
    reads the committed relation instead of re-running the multi-round
    CC job. Release-aware (round 10): when a committed RELEASE pins
    this corpus, the read is at the release's pinned snapshot version —
    every multi-artifact consumer in a run scans the same mutually-
    consistent set; otherwise per-artifact compute-if-absent."""
    from etl_weather_spark.operators.artifacts import release_artifact_read

    return release_artifact_read(
        spark,
        dataset_key(sf_dir),
        "dedup_cc_membership",
        fingerprint=_cc_fingerprint(sf_dir),
        data_fingerprint=dataset_fingerprint(sf_dir),
        build=lambda: _QUERIES["dedup_clusters"](spark, sf_dir),
        meta={"producer": "pruned_jaccard_pairs + connected_components"},
    )

def snapshot_diff_between(
    spark: SparkSession,
    table: str,
    *,
    v_a: int | None = None,
    v_b: int | None = None,
) -> DataFrame:
    """Exact per-source content diff between two REAL committed
    versions of a snapshots.py table (manifest-pointer time travel):
    ``v_b`` defaults to the latest version, ``v_a`` to the one before
    it — the nightly "what changed since yesterday's snapshot" report.
    Same plan as the registered snapshot_diff_report (32-byte
    fingerprints shuffled, never text), with the parity split swapped
    for two manifest-resolved scans."""
    from etl_weather_spark.sources.snapshots import (
        current_version,
        snapshot_read,
    )

    if v_b is None:
        v_b = current_version(table)
        if v_b is None:
            raise FileNotFoundError(f"no committed version at {table}")
    if v_a is None:
        if v_b < 1:
            raise ValueError(
                f"table {table} has a single version (v{v_b}); "
                "nothing earlier to diff against"
            )
        v_a = v_b - 1
    return snapshot_diff_core(
        snapshot_read(spark, table, version=v_a),
        snapshot_read(spark, table, version=v_b),
    )

def snapshot_resemblance_between(
    spark: SparkSession,
    table: str,
    *,
    v_a: int | None = None,
    v_b: int | None = None,
) -> DataFrame:
    """corpus_resemblance_sketch between two REAL committed versions of
    a snapshots.py table — the O(16)-byte "did anything change?" probe
    over manifest-resolved time travel; drill down with
    :func:`snapshot_diff_between` when the answer is yes."""
    from etl_weather_spark.sources.snapshots import (
        current_version,
        snapshot_read,
    )

    if v_b is None:
        v_b = current_version(table)
        if v_b is None:
            raise FileNotFoundError(f"no committed version at {table}")
    if v_a is None:
        if v_b < 1:
            raise ValueError(
                f"table {table} has a single version (v{v_b}); "
                "nothing earlier to compare against"
            )
        v_a = v_b - 1
    return corpus_resemblance_core(
        snapshot_read(spark, table, version=v_a),
        snapshot_read(spark, table, version=v_b),
    )
