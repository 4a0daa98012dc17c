"""Text-analysis tier: tokenization, quality scoring, language ID, BPE training/encoding, retrieval (BM25/RRF/nDCG), and corpus statistics over the documents table.

Split from the original queries.py (round 9); unit order and bodies
are byte-identical to the monolith — only module boundaries and
imports changed.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from etl_weather_spark.functions.rounding import dsum, rnd, sql_dsum, sql_round
from etl_weather_spark.functions.text import doc_fingerprint, token_count
from etl_weather_spark.operators.fence import fence, persisted
from etl_weather_spark.queries._registry import _ORACLES, _QUERIES, load, query
from etl_weather_spark.queries.relational import (
    _MD5_BUCKET_SQL,
    _SCRIPT_SEED_SQL,
    _doc_piece_stats,
    _ensemble_rank_block,
    _mad_outlier_core,
)


@query(
    "doc_stats",
    """
SELECT doc_id,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE length(regexp_replace(trim(text), '\\s+', ' ', 'g'))
                 - length(replace(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ', '')) + 1
            END AS n_tokens,
       length(text) AS n_chars_actual,
       md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
""",
)
def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: whitespace token count (arithmetic, no array
    materialization) + md5 fingerprint per document."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
        doc_fingerprint(F.col("text")).alias("fingerprint"),
    )

@query(
    "lang_quality",
    r"""
WITH scored AS (
  SELECT doc_id, lang,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE length(regexp_replace(trim(text), '\s+', ' ', 'g'))
                   - length(replace(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ', '')) + 1
              END AS n_tokens,
         len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpe_tokens,
         len(regexp_extract_all(lower(text), '\b(the|and|of|to|in)\b')) AS s_en,
         len(regexp_extract_all(lower(text), '\b(el|la|de|que|los)\b')) AS s_es,
         len(regexp_extract_all(lower(text), '\b(le|la|et|les|des)\b')) AS s_fr,
         len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist)\b')) AS s_de,
         length(text) AS n_chars_x,
         len(regexp_extract_all(text, '[^\w\s]')) AS n_punct
  FROM documents
)
SELECT doc_id, lang, n_tokens, n_bpe_tokens,
       CASE WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
            WHEN s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en'
            WHEN s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es'
            WHEN s_fr = greatest(s_en, s_es, s_fr, s_de) THEN 'fr'
            WHEN s_de = greatest(s_en, s_es, s_fr, s_de) THEN 'de'
            ELSE 'und' END AS lang_pred,
       FLOOR((0.4 * least(n_tokens / 100.0, 1.0)
              + 0.3 * (1.0 - (CASE WHEN n_chars_x > 0 THEN CAST(n_punct AS DOUBLE) / n_chars_x ELSE 0.0 END))
              + 0.3 * least((CASE WHEN n_tokens > 0 THEN CAST(s_en AS DOUBLE) / n_tokens ELSE 0.0 END) * 5.0, 1.0))
             * 10000 + 0.5) / 10000 AS quality
FROM scored
""",
)
def lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc language-ID (stopword heuristic) + quality score + token counts."""
    from etl_weather_spark.operators.textops import doc_profile

    docs = load(spark, sf_dir, "documents")
    return doc_profile(docs).select(
        "doc_id", "lang", "n_tokens", "n_bpe_tokens", "lang_pred", "quality"
    )

@query(
    "word_freq",
    """
SELECT word, COUNT(*) AS n
FROM (
  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            x -> len(x) > 0)) AS word
  FROM documents
)
GROUP BY word
ORDER BY n DESC, word
LIMIT 20
""",
)
def word_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4: Python UDTF (Spark ≥3.5 table function) — tokenize via
    LATERAL join, then count. The UDTF surface demo; the codegen path
    for the same shape is split+explode (doc_stats).
    """
    from etl_weather_spark.functions.table_functions import register_udtfs
    from etl_weather_spark.operators.dedup import widen_narrow_input

    register_udtfs(spark)
    docs = load(spark, sf_dir, "documents")
    # single-split parquet would serialize the per-row UDTF on one core
    # (same fix as udtf_melt_events)
    widen_narrow_input(docs, "doc_id").createOrReplaceTempView("__docs_for_udtf")
    return spark.sql(
        """
        SELECT t.word, COUNT(*) AS n
        FROM __docs_for_udtf, LATERAL tokenize(doc_id, text) t
        GROUP BY t.word
        ORDER BY n DESC, t.word
        LIMIT 20
        """
    )

@query(
    "tfidf_top_terms",
    """
WITH toks AS (
  SELECT doc_id, UNNEST(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         FLOOR((tf.tf * LN((n.n_docs + 1.0) / (df.df + 1.0))) * 10000 + 0.5) / 10000 AS tfidf,
         ROW_NUMBER() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf DESC, tf.term) AS rn
  FROM tf JOIN df ON df.term = tf.term CROSS JOIN n
)
SELECT doc_id, term, tf, tfidf, rn
FROM scored WHERE rn <= 3
ORDER BY doc_id, rn
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF: top-3 terms per document — the inverted-index statistic
    behind retrieval/quality filtering. Ranking keys on the INTEGER
    term frequency (term-name tie-break), so rank order is engine-exact;
    the smoothed idf (ln((N+1)/(df+1))) is reported rounded at 4 dp.

    Scale: term explode shuffles (doc, term) pairs once for tf; df is a
    second agg over the tf relation (already term-keyed — reuses its
    partitioning); doc count broadcasts. The rank window partitions by
    doc_id — no global sort.
    """
    from etl_weather_spark.operators.dedup import tokens

    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tf"), "term")
    return (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            rnd(F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 4),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "tfidf", "rn")
        .orderBy("doc_id", "rn")
    )

@query(
    "token_entropy_quality",
    f"""
WITH toks AS (
  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS tk
  FROM documents
),
tok AS (SELECT doc_id, UNNEST(tk) AS t FROM toks),
cnt AS (SELECT doc_id, t, COUNT(*) AS c FROM tok GROUP BY 1, 2),
agg AS (
  SELECT doc_id,
         {sql_dsum('c * log2(c)', 6)} AS s,
         CAST(SUM(c) AS BIGINT) AS n_tokens
  FROM cnt GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       FLOOR((log2(n_tokens) - s / n_tokens) * 1000000 + 0.5) / 1000000 AS token_entropy
FROM agg ORDER BY doc_id
""",
)
def token_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token Shannon entropy (bits) — the cheap perplexity
    proxy quality filters threshold on (operators/textops.
    token_entropy_profile): repetitive keyword soup scores low,
    vocabulary-rich prose approaches log2(n).

    Determinism: entropy = log2(n) − (Σ c·log2(c))/n, each c·log2(c)
    term rounded to 6 dp then decimal-summed (dsum) — the same
    per-item FP discipline as weighted_sample_topk's Gumbel keys, so
    both engines accumulate identical values in any order.
    """
    from etl_weather_spark.operators.textops import token_entropy_profile

    docs = load(spark, sf_dir, "documents")
    return token_entropy_profile(docs).orderBy("doc_id")

@query(
    "unigram_logprob_quality",
    f"""
WITH toks AS (
  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS tk
  FROM documents
),
tok AS (SELECT doc_id, UNNEST(tk) AS t FROM toks),
cnt_doc AS (SELECT doc_id, t, COUNT(*) AS c_d FROM tok GROUP BY 1, 2),
freq AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
total AS (SELECT CAST(SUM(c) AS BIGINT) AS tt FROM freq),
agg AS (
  SELECT doc_id,
         {sql_dsum('c_d * (log2(tt) - log2(c))', 6)} AS s,
         CAST(SUM(c_d) AS BIGINT) AS n_tokens
  FROM cnt_doc JOIN freq USING (t) CROSS JOIN total
  GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       FLOOR((s / n_tokens) * 1000000 + 0.5) / 1000000 AS avg_nll
FROM agg ORDER BY doc_id
""",
)
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filtering signal: average per-token
    negative log2-probability under the corpus's own unigram LM
    (operators/textops.unigram_logprob_profile). The complement of
    token_entropy_quality — entropy measures WITHIN-doc diversity,
    avg_nll measures rarity AGAINST the corpus distribution; quality
    pipelines threshold both.
    """
    from etl_weather_spark.operators.textops import unigram_logprob_profile

    docs = load(spark, sf_dir, "documents")
    return unigram_logprob_profile(docs).orderBy("doc_id")

@query(
    "vocab_coverage",
    """
WITH toks AS (
  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS tk
  FROM documents
),
tok AS (SELECT doc_id, UNNEST(tk) AS t FROM toks),
freq AS (SELECT t, COUNT(*) AS f FROM tok GROUP BY t),
vocab AS (
  SELECT t FROM (
    SELECT t, ROW_NUMBER() OVER (ORDER BY f DESC, t) AS rn FROM freq
  ) WHERE rn <= 100
),
probed AS (
  SELECT tok.doc_id, CASE WHEN v.t IS NULL THEN 1 ELSE 0 END AS oov
  FROM tok LEFT JOIN vocab v ON v.t = tok.t
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(oov) AS BIGINT) AS n_oov,
       FLOOR((CAST(SUM(oov) AS DOUBLE) / COUNT(*)) * 1000000 + 0.5) / 1000000 AS oov_rate
FROM probed GROUP BY doc_id ORDER BY doc_id
""",
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc out-of-vocabulary rate against the corpus's own top-100
    token vocabulary (operators/textops.vocab_coverage) — the
    tokenizer-fit signal: high-OOV docs fragment into long BPE
    sequences and waste training budget.

    Scale: vocabulary = tiny top-K cut of the distinct-token agg,
    broadcast into a map-side membership probe; no corpus-sized
    shuffle beyond the token count itself.
    """
    from etl_weather_spark.operators.textops import vocab_coverage as vc

    docs = load(spark, sf_dir, "documents")
    return vc(docs, vocab_k=100).orderBy("doc_id")

@query(
    "rare_bigram_quality",
    """
WITH toked AS (
  SELECT doc_id,
         string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, UNNEST(
    CASE WHEN len(toks) >= 2
         THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
         ELSE [array_to_string(toks, ' ')] END) AS sh
  FROM toked
),
df AS (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh),
per_doc AS (
  SELECT sh.doc_id,
         COUNT(*) AS n_bigrams,
         CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique_bigrams
  FROM sh JOIN df ON df.sh = sh.sh
  GROUP BY sh.doc_id
)
SELECT doc_id, n_bigrams, n_unique_bigrams,
       FLOOR(10000.0 * n_unique_bigrams / n_bigrams + 0.5) / 10000 AS unique_ratio,
       (10000.0 * n_unique_bigrams / n_bigrams >= 2000.0) AS is_outlier
FROM per_doc
ORDER BY doc_id
""",
)
def rare_bigram_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-bigram-rate quality filter (the integer-exact stand-in for
    LM-perplexity filtering): a document whose word bigrams mostly
    appear NOWHERE else in the corpus is statistically unlike the
    corpus — the CCNet/Gopher-style gibberish signal — while docs of
    corpus-typical phrasing score low. Counts are distinct-bigram
    document frequencies, so the score is integer-exact: no logs, no
    float accumulation, only one correctly-rounded division at the end.

    Scale: one shuffle keyed on the bigram for df, one map-side join
    back (bigram-keyed both sides — reuses the partitioning), one
    doc-keyed agg. The df relation is vocabulary-sized (≪ corpus);
    at 100 TB the df=1 test swaps to a count-min sketch broadcast.
    """
    from etl_weather_spark.operators.dedup import exploded_shingles

    docs = load(spark, sf_dir, "documents")
    sh = exploded_shingles(docs, keep_cols=["doc_id"], n=2)
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    ratio = F.lit(10000.0) * F.col("n_unique_bigrams") / F.col("n_bigrams")
    return (
        sh.join(dfreq, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).alias(
                "n_unique_bigrams"
            ),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_unique_bigrams",
            (F.floor(ratio + F.lit(0.5)) / 10000).alias("unique_ratio"),
            (ratio >= 2000.0).alias("is_outlier"),
        )
        .orderBy("doc_id")
    )

@query(
    "keyword_search",
    """
WITH toks AS (
  SELECT doc_id,
         UNNEST(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS term
  FROM documents
),
hits AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks
  WHERE term IN ('dup', 'hash', 'scan') GROUP BY doc_id, term
)
SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS total_tf
FROM hits
GROUP BY doc_id
HAVING COUNT(DISTINCT term) = 3
ORDER BY total_tf DESC, doc_id
""",
)
def keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive keyword search (inverted-index semantics without the
    index): documents containing ALL of {dup, hash, scan}, ranked by
    total term frequency. The AND is a posting-list intersection
    expressed as HAVING count(distinct term) = n_terms — one pass, no
    self-joins per term.

    Scale: the IN-list filter runs inside the token explode's map
    stage, so only matching postings shuffle (3 terms × matching docs,
    not the whole token stream). With a materialized inverted index
    this becomes a 3-way posting join; the one-pass form wins whenever
    the query set is ad hoc.
    """
    from etl_weather_spark.operators.dedup import tokens

    docs = load(spark, sf_dir, "documents")
    terms = ["dup", "hash", "scan"]
    hits = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        hits.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("total_tf"),
            F.count_distinct("term").alias("__nt"),
        )
        .filter(F.col("__nt") == len(terms))
        .select("doc_id", "total_tf")
        .orderBy(F.desc("total_tf"), "doc_id")
    )

@query(
    "token_repetition",
    """
WITH toks AS (
  SELECT doc_id, t.tok AS tok
  FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
  WHERE t.tok <> ''
),
tc AS (
  SELECT doc_id, tok, COUNT(*) AS cnt FROM toks GROUP BY doc_id, tok
)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(MAX(cnt) AS BIGINT) AS top_count,
       FLOOR(CAST(COUNT(*) AS DOUBLE) / SUM(cnt) * 1000000 + 0.5) / 1000000 AS distinct_ratio,
       FLOOR(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) * 1000000 + 0.5) / 1000000 AS top_share,
       MAX(cnt) * 5 > SUM(cnt) AS is_repetitive
FROM tc
GROUP BY doc_id
ORDER BY doc_id
""",
)
def token_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality scoring (the Gopher-rule family): per
    document, distinct-token ratio and most-frequent-token share; a doc
    whose top token covers >20% of its tokens is flagged repetitive.
    The flag compares integers (top*5 > n) so the threshold has no
    float boundary; the ratios are exact integer quotients rounded once.

    Scale: tokenize+explode is map-side; the (doc_id, tok) count and the
    per-doc rollup are both partial-agg shuffles keyed by doc so a
    1000-executor run never materializes a global token table. This is
    the cheap pre-filter that runs before any pairwise dedup pass.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    tc = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        tc.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("cnt").alias("top_count"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            "top_count",
            rnd(
                F.col("n_distinct").cast("double") / F.col("n_tokens"), 6
            ).alias("distinct_ratio"),
            rnd(
                F.col("top_count").cast("double") / F.col("n_tokens"), 6
            ).alias("top_share"),
            (F.col("top_count") * 5 > F.col("n_tokens")).alias("is_repetitive"),
        )
        .orderBy("doc_id")
    )

@query(
    "hybrid_search_rrf",
    """
WITH toks AS (
  SELECT doc_id,
         UNNEST(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS term
  FROM documents
),
kw AS (
  SELECT doc_id, SUM(tf) AS total_tf FROM (
    SELECT doc_id, term, COUNT(*) AS tf FROM toks
    WHERE term IN ('dup', 'hash', 'scan') GROUP BY doc_id, term
  ) GROUP BY doc_id
),
kwr AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY total_tf DESC, doc_id) AS rank_kw
  FROM kw QUALIFY rank_kw <= 30
),
q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
  WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)
),
scored AS (
  SELECT e.vec_id AS doc_id,
         FLOOR((list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[]))
                / (GREATEST(sqrt(list_dot_product(q.qv, q.qv)), 1e-12)
                   * GREATEST(sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))), 1e-12)))
               * 1000000 + 0.5) / 1000000 AS sim
  FROM embeddings e, q WHERE e.vec_id <> q.qid
),
vr AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS rank_vec
  FROM scored QUALIFY rank_vec <= 30
),
fused AS (
  SELECT COALESCE(kwr.doc_id, vr.doc_id) AS doc_id, kwr.rank_kw, vr.rank_vec,
         CAST(FLOOR((COALESCE(1.0 / (60 + kwr.rank_kw), 0.0)
                     + COALESCE(1.0 / (60 + vr.rank_vec), 0.0)) * 1000000 + 0.5)
              AS BIGINT) AS rrf_1e6
  FROM kwr FULL OUTER JOIN vr ON kwr.doc_id = vr.doc_id
)
SELECT doc_id, rank_kw, rank_vec, rrf_1e6 FROM fused
ORDER BY rrf_1e6 DESC, doc_id LIMIT 20
""",
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval with Reciprocal Rank Fusion (Cormack et al.
    SIGIR'09; the fusion step every RAG retrieval stack runs): a
    keyword ranking (total tf of {dup, hash, scan} postings) and a
    dense ranking (exact cosine against one query embedding, the
    min-vec_id row) are fused by summed reciprocal ranks
    1/(60+rank) — score-scale-free, so BM25-ish tf counts and cosine
    similarities need no calibration against each other.

    Determinism: both legs rank with a total order (metric desc,
    doc_id), the fused score is emitted as an INTEGER (floor of
    1e6x — IEEE division/sum is bit-identical across engines), and
    the final order is (rrf_1e6 desc, doc_id).

    Scale: the keyword leg shuffles only matching postings (the
    IN-list runs inside the token explode's map stage); the dense leg
    broadcasts the 1-row query set against the partitioned corpus and
    top-k's via the salted two-level pattern (operators/similarity
    .topk_per_group inside cosine_topk_bruteforce); the fusion itself
    joins two <=30-row sides. At 100 TB swap the dense leg's exact
    scan for the IVF/PQ shortlist — the fusion is unchanged.
    """
    from etl_weather_spark.operators.dedup import tokens
    from etl_weather_spark.operators.similarity import (
        collect_ref_vectors,
        cosine_topk_vs_pinned_queries,
        topk_per_group,
    )

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    terms = ["dup", "hash", "scan"]

    kw = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("total_tf"))
    )
    # the keyword top-30 goes through the same salted two-level top-k
    # as the dense leg (a constant group key makes the global ranking a
    # one-group case of topk_per_group): for THIS query's 3 rare terms
    # a single window would work, but this function is the template for
    # broad-vocabulary keyword legs where Window.orderBy over all
    # matching docs is a single-reducer sort.
    kwr = topk_per_group(
        kw.withColumn("__g", F.lit(0)),
        group_col="__g",
        k=30,
        sim_col="total_tf",
        tie_col="doc_id",
        rank_col="rank_kw",
    ).select("doc_id", "rank_kw")

    q_ids, q_mat = collect_ref_vectors(emb, limit=1)
    vr = (
        cosine_topk_vs_pinned_queries(emb, q_ids, q_mat, k=30)
        .select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("rank_vec"))
    )

    rrf = (
        F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("rank_kw")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("rank_vec")), F.lit(0.0))
    )
    return (
        kwr.join(vr, "doc_id", "full_outer")
        .select(
            "doc_id",
            "rank_kw",
            "rank_vec",
            F.floor(rrf * 1000000 + F.lit(0.5)).cast("long").alias("rrf_1e6"),
        )
        .orderBy(F.desc("rrf_1e6"), "doc_id")
        .limit(20)
    )

def _bpe_oracle_round(n: int, carry: str = "") -> str:
    """One BPE round of the oracle: pairs -> best pair -> greedy merge.

    Mirrors the engine exactly: symbols ride a chr(31)-joined string,
    the merge is DuckDB's list_reduce twin of the Spark F.aggregate
    fold (replace-trailing-left-then-append, greedy left-to-right).
    ``carry`` (e.g. ``", word"``) threads key columns through each
    round for the encode-side join.
    """
    p = n - 1
    return f"""
p{n} AS (
  SELECT s[i] AS left_sym, s[i+1] AS right_sym, CAST(SUM(freq) AS BIGINT) AS pair_count
  FROM (SELECT string_split(ws, chr(31)) AS s, freq FROM v{p}),
       LATERAL (SELECT UNNEST(generate_series(1, len(s) - 1)) AS i) t
  GROUP BY 1, 2
),
b{n} AS (
  SELECT left_sym, right_sym, pair_count FROM p{n}
  ORDER BY pair_count DESC, left_sym, right_sym LIMIT 1
),
v{n} AS (
  SELECT list_reduce(string_split(ws, chr(31)), (acc, x) ->
           CASE WHEN (acc = b.left_sym OR ends_with(acc, chr(31) || b.left_sym))
                     AND x = b.right_sym
                THEN left(acc, length(acc) - length(b.left_sym)) || b.left_sym || b.right_sym
                ELSE acc || chr(31) || x END) AS ws, freq{carry}
  FROM v{p}, b{n} b
)"""

#: BPE producer hyperparameters — shared by the training query, the
#: committed-artifact fingerprint (_BPE_ARTIFACT_PARAMS), and every
#: consumer's token filter, so a recipe change is ONE edit that
#: simultaneously retrains and invalidates the committed artifact
#: (the _QCT_PARAMS discipline; a hand-copied literal in the
#: fingerprint would let a recipe drift read stale committed bytes).
_BPE_MERGE_ROUNDS = 3
_BPE_TOKEN_FILTER = "^[a-z0-9]+$"

@query(
    "bpe_merge_rounds",
    """
WITH words AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT UNNEST(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS word
    FROM documents
  ) WHERE regexp_matches(word, '^[a-z0-9]+$') GROUP BY word
),
v0 AS (
  SELECT array_to_string(string_split(word, ''), chr(31)) AS ws, freq FROM words
),"""
    + ",".join(_bpe_oracle_round(i) for i in (1, 2, 3))
    + """
SELECT 1 AS merge_round, left_sym, right_sym, left_sym || right_sym AS merged, pair_count FROM b1
UNION ALL
SELECT 2, left_sym, right_sym, left_sym || right_sym, pair_count FROM b2
UNION ALL
SELECT 3, left_sym, right_sym, left_sym || right_sym, pair_count FROM b3
ORDER BY merge_round
""",
)
def bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer TRAINING (Sennrich et al. ACL'16), 3
    merge rounds: count adjacent symbol pairs
    over the corpus vocabulary (frequency-weighted), pick the most
    frequent pair (ties: lexicographic), merge it greedily
    left-to-right in every word, repeat. The merge table this emits
    IS the tokenizer artifact an LLM pipeline trains before anything
    else touches the corpus.

    The merge apply is an ``F.aggregate`` fold over the symbol array
    (replace trailing left-symbol + append, exactly the greedy scan) —
    no Python UDF anywhere; the oracle reruns the identical algorithm via
    DuckDB's ``list_reduce`` twin over chr(31)-joined symbol strings.

    Scale: classic BPE runs on the VOCAB (distinct word, freq), not
    the token stream — the explode-heavy stage is the one vocab
    groupBy. Training runs the batched eager trainer
    (operators/textops._bpe_rounds) at every budget: one job per
    ~batch_cap provably-sequential-equivalent merges, ≤ pool_size-row
    driver transfer per round, fence-flat lineage — so 32k
    merges is ~32k/batch_cap jobs and never a 32k-deep plan (1k-merge
    artifact: ``git show 56ef44c:bpe1k.json``). The vocab is cached for
    the call only: the merge table comes back as a driver-built local
    table.
    """
    from etl_weather_spark.operators.dedup import tokens
    from etl_weather_spark.operators.textops import bpe_train

    docs = load(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .filter(F.col("word").rlike(_BPE_TOKEN_FILTER))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(F.split("word", "").alias("syms"), "freq")
    )
    with persisted(vocab) as cached:
        return bpe_train(cached, _BPE_MERGE_ROUNDS)

#: shared oracle for BOTH encode-side BPE queries: replays 3 training
#: rounds and the fold-based segmentation via the DuckDB list_reduce
#: twin. bpe_encode_stats runs the same fold replay Spark-side;
#: bpe_ranked_encode_stats runs the rank-based tokenizer-apply
#: algorithm instead — the shared oracle is the cross-algorithm proof
#: that the two encodes agree.
_BPE_ENCODE_ORACLE = (
    """
WITH tok AS (
  SELECT doc_id, word FROM (
    SELECT doc_id,
           UNNEST(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS word
    FROM documents
  ) WHERE regexp_matches(word, '^[a-z0-9]+$')
),
words AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY word),
v0 AS (
  SELECT array_to_string(string_split(word, ''), chr(31)) AS ws, freq, word FROM words
),"""
    + ",".join(_bpe_oracle_round(i, carry=", word") for i in (1, 2, 3))
    + """,
seg AS (SELECT word, len(string_split(ws, chr(31))) AS n_pieces FROM v3)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(length(word)) AS BIGINT) AS n_chars,
       CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
       CAST((10000 * SUM(n_pieces)) // COUNT(*) AS BIGINT) AS pieces_per_word_1e4
FROM tok JOIN seg USING (word)
GROUP BY doc_id ORDER BY doc_id
"""
)

@query("bpe_encode_stats", _BPE_ENCODE_ORACLE)
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLY (the encode side of bpe_merge_rounds): the
    3-round-trained segmentation is applied to every document, emitting
    per-doc word/char/piece counts and the pieces-per-word compression
    ratio (integer 1e4 fixed-point) — the "how many tokens does my
    corpus cost under this tokenizer" accounting every training-budget
    plan starts from.

    Encoding runs on the VOCAB (operators/textops.bpe_segment — each
    distinct word segmented once), then fans back to documents via a
    word-keyed join: at 100 TB the token stream is huge but the vocab
    join side is millions of rows — broadcast- or at worst
    shuffle-joinable — so no per-token Python or per-token re-encode
    ever happens. The oracle replays training AND encoding via the
    DuckDB list_reduce twin.
    """
    from etl_weather_spark.operators.dedup import tokens

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("word")
    ).filter(F.col("word").rlike("^[a-z0-9]+$"))
    return _doc_piece_stats(tok, _bpe_segment_pieces(tok))


def _bpe_segment_pieces(tok: DataFrame) -> DataFrame:
    """(word, n_pieces) under the 3-round fold-replay segmentation of
    ``tok``'s vocab — fenced by bpe_segment, so the vocab cache
    (read by every training round) ends with this call."""
    from etl_weather_spark.operators.textops import bpe_segment

    vocab = (
        tok.groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(F.split("word", "").alias("syms"), "freq", "word")
    )
    with persisted(vocab) as cached:
        return bpe_segment(cached, 3).select(
            "word", F.size("syms").alias("n_pieces")
        )

@query("bpe_ranked_encode_stats", _BPE_ENCODE_ORACLE)
def bpe_ranked_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encode via the PRODUCTION tokenizer-apply algorithm: train 3
    rounds (batched trainer — the merge table comes back driver-side),
    then segment every distinct word by repeatedly merging its
    lowest-RANK table pair (operators/textops.bpe_encode_ranked, a
    broadcast rank dict + one Arrow-batched pass over the vocab) rather
    than replaying the training folds. Same stats surface as
    bpe_encode_stats and the SAME DuckDB oracle — which makes this row
    a cross-algorithm proof: the rank-based encode must agree
    bit-for-bit with the fold-replay the oracle computes.

    Why it exists: fold-replay is O(|merge_table|) Catalyst folds per
    word — fine at 3 merges, impossible at a production tokenizer's
    32k. Rank-based apply is O(|word| × applied merges) with dict
    lookups, independent of table size, and is the encode every
    deployed BPE tokenizer runs.
    """
    from etl_weather_spark.operators.dedup import tokens
    from etl_weather_spark.operators.textops import _bpe_rounds, bpe_encode_ranked

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("word")
    ).filter(F.col("word").rlike("^[a-z0-9]+$"))
    vocab = (
        tok.groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(F.split("word", "").alias("syms"), "freq", "word")
    )
    with persisted(vocab) as cached:
        merges, _ = _bpe_rounds(cached, 3)
    seg = bpe_encode_ranked(
        vocab, [(left, right) for _rnd, left, right, _m, _c in merges]
    ).select("word", F.size("syms").alias("n_pieces"))
    return _doc_piece_stats(tok, seg)

@query(
    "html_extract_stats",
    r"""
WITH raw AS (
  SELECT doc_id,
         '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
         || ' &amp; friends</title><style>p {color: red}</style>'
         || '<script>var x = 1 < 2;</script></head><body><p>'
         || regexp_replace(text, '\s+', '</p>' || chr(10) || '<p>', 'g')
         || '</p><!-- hidden comment --><div class="footer">footer &lt;nav&gt; '
         || '&quot;links&quot; &#39;here&#39;&nbsp;end</div></body></html>' AS html
  FROM documents
),
extracted AS (
  SELECT doc_id, html,
         trim(regexp_replace(
           replace(replace(replace(replace(replace(replace(
             regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1),
             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
             '&nbsp;', ' '), '&amp;', '&'),
           '\s+', ' ', 'g')) AS title,
         trim(regexp_replace(
           replace(replace(replace(replace(replace(replace(
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               html,
               '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
               '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
               '(?is)<head[^>]*>.*?</head>', ' ', 'g'),
               '(?s)<!--.*?-->', ' ', 'g'),
               '(?s)<[^>]+>', ' ', 'g'),
             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
             '&nbsp;', ' '), '&amp;', '&'),
           '\s+', ' ', 'g')) AS clean_text
  FROM raw
)
SELECT doc_id, title, clean_text,
       CAST(length(html) AS BIGINT) AS n_raw,
       CAST(length(clean_text) AS BIGINT) AS n_clean,
       CAST(len(string_split(clean_text, ' ')) AS BIGINT) AS n_words
FROM extracted
ORDER BY doc_id
""",
)
def html_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEB-TEXT EXTRACTION (the WET step every web-crawl corpus runs
    before quality/dedup): deterministic HTML is synthesized in-plan
    around each document (title, style/script blocks, comments,
    entity-escaped footer), then operators/textops.html_to_text strips
    invisible blocks and tags and decodes entities while html_title
    recovers the decoded <title> — all pure Catalyst regex/replace
    chains in whole-stage codegen.

    The oracle runs the IDENTICAL construction and extraction regexes
    in DuckDB (both engines: leftmost lazy-quantifier semantics), so
    the full cleaned text, title, and length/word accounting are
    hash-matched character for character — any divergence in block
    stripping order, entity decode order (&amp; must decode last), or
    whitespace collapsing breaks the row hash.

    Scale: per-row regex, no shuffle before the final sort; fans out
    by input split like every map-only conform stage.
    """
    from etl_weather_spark.operators.textops import html_title, html_to_text

    docs = load(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit(" &amp; friends</title><style>p {color: red}</style>"),
        F.lit("<script>var x = 1 < 2;</script></head><body><p>"),
        F.regexp_replace("text", r"\s+", "</p>\n<p>"),
        F.lit('</p><!-- hidden comment --><div class="footer">footer &lt;nav&gt; '),
        F.lit("&quot;links&quot; &#39;here&#39;&nbsp;end</div></body></html>"),
    )
    raw = docs.select("doc_id", html.alias("html"))
    return (
        raw.select(
            "doc_id",
            html_title(F.col("html")).alias("title"),
            html_to_text(F.col("html")).alias("clean_text"),
            F.length("html").cast("long").alias("n_raw"),
        )
        .withColumn("n_clean", F.length("clean_text").cast("long"))
        .withColumn("n_words", F.size(F.split("clean_text", " ")).cast("long"))
        .orderBy("doc_id")
    )

@query(
    "ngram_repetition",
    """
WITH toks AS (
  SELECT doc_id,
         CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS pos,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
),
toks_f AS (SELECT * FROM toks WHERE tok <> ''),
g AS (
  SELECT doc_id, pos, tok,
         LEAD(tok, 1) OVER w AS nxt1,
         LEAD(tok, 2) OVER w AS nxt2
  FROM toks_f
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
g2 AS (
  SELECT doc_id, pos, tok,
         CASE WHEN nxt1 IS NULL THEN NULL
              ELSE tok || ' ' || nxt1 END AS bigram,
         CASE WHEN nxt2 IS NULL THEN NULL
              ELSE tok || ' ' || nxt1 || ' ' || nxt2 END AS trigram
  FROM g
),
gc AS (
  SELECT doc_id, pos, tok, bigram,
         CASE WHEN bigram IS NOT NULL
                   AND COUNT(*) OVER (PARTITION BY doc_id, bigram) >= 2
              THEN 1 ELSE 0 END AS dup2,
         CASE WHEN trigram IS NOT NULL
                   AND COUNT(*) OVER (PARTITION BY doc_id, trigram) >= 2
              THEN 1 ELSE 0 END AS dup3
  FROM g2
),
cov AS (
  SELECT doc_id, tok,
         MAX(dup2) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS covered2,
         MAX(dup3) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS covered3
  FROM gc
),
per_doc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(LENGTH(tok)) AS BIGINT) AS tok_chars,
         CAST(SUM(CASE WHEN covered2 = 1 THEN LENGTH(tok) ELSE 0 END) AS BIGINT)
           AS covered2_chars,
         CAST(SUM(CASE WHEN covered3 = 1 THEN LENGTH(tok) ELSE 0 END) AS BIGINT)
           AS covered3_chars
  FROM cov GROUP BY doc_id
),
top AS (
  SELECT doc_id, bigram AS top_bigram, top2_count
  FROM (
    SELECT doc_id, bigram, CAST(COUNT(*) AS BIGINT) AS top2_count,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY COUNT(*) DESC, bigram ASC) AS rn
    FROM g2 WHERE bigram IS NOT NULL
    GROUP BY doc_id, bigram
  ) WHERE rn = 1
)
SELECT p.doc_id, p.n_tokens, p.tok_chars, p.covered2_chars, p.covered3_chars,
       FLOOR(CAST(p.covered2_chars AS DOUBLE) / p.tok_chars * 1000000 + 0.5) / 1000000
         AS dup2_char_frac,
       FLOOR(CAST(p.covered3_chars AS DOUBLE) / p.tok_chars * 1000000 + 0.5) / 1000000
         AS dup3_char_frac,
       COALESCE(t.top_bigram, '') AS top_bigram,
       COALESCE(t.top2_count, 0) AS top2_count,
       FLOOR(CAST(COALESCE(t.top2_count * (LENGTH(t.top_bigram) - 1), 0) AS DOUBLE)
             / p.tok_chars * 1000000 + 0.5) / 1000000 AS top2_char_share,
       p.covered2_chars * 4 > p.tok_chars AS is_repetitive
FROM per_doc p LEFT JOIN top t ON t.doc_id = p.doc_id
ORDER BY p.doc_id
""",
)
def ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOPHER n-gram repetition gate (Rae et al. 2021, Table A1 — the
    rule family every pre-training corpus runs after the unigram stats
    in token_repetition): per document, the fraction of CHARACTERS
    covered by duplicated word bigrams/trigrams plus the top-bigram
    character share, and the classic >25% duplicate-bigram-coverage
    repetitive flag.

    Coverage is positional (a token counts once no matter how many
    duplicated n-grams overlap it): a duplicate-START flag per position,
    then a windowed MAX over ``ROWS BETWEEN n-1 PRECEDING AND CURRENT
    ROW`` marks every token inside any duplicated occurrence — both
    engines run the identical window algebra, so the match is exact.
    The repetitive flag compares integers (covered*4 > chars), no float
    boundary anywhere; fractions round once at 6 dp.

    Scale: all shuffles are keyed doc_id or (doc_id, gram) and document
    length is bounded, so no window partition outgrows an executor; one
    explode row per token, everything else whole-stage codegen.
    """
    from etl_weather_spark.operators.textops import ngram_repetition_profile

    return ngram_repetition_profile(load(spark, sf_dir, "documents"))

@query(
    "boilerplate_strip",
    """
WITH corpus AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 3 < 2
              THEN 'follow ' || source ||
                   ' on our channel subscribe for daily ' || text
              ELSE text END AS text
  FROM documents
),
toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM corpus),
s AS (
  SELECT doc_id, source, CAST(g.i AS BIGINT) AS sent_idx,
         array_to_string(t[g.i*8+1:g.i*8+8], ' ') AS sent
  FROM toks, LATERAL (
    SELECT UNNEST(generate_series(0, CAST(CEIL(len(t)/8.0) AS BIGINT) - 1)) AS i
  ) g
),
nd AS (SELECT source, COUNT(*) AS n_docs FROM corpus GROUP BY source),
freq AS (
  SELECT source, sent, COUNT(DISTINCT doc_id) AS ndocs
  FROM s GROUP BY source, sent
),
boiler AS (
  SELECT f.source, f.sent
  FROM freq f JOIN nd ON nd.source = f.source
  WHERE f.ndocs * 5 >= 2 * nd.n_docs
),
kept AS (
  SELECT s.doc_id, s.sent_idx, s.sent
  FROM s LEFT JOIN boiler b ON b.source = s.source AND b.sent = s.sent
  WHERE b.sent IS NULL
),
reb AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_sents,
         string_agg(sent, ' ' ORDER BY sent_idx) AS clean_text
  FROM kept GROUP BY doc_id
),
tot AS (
  SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_sents
  FROM s GROUP BY doc_id, source
)
SELECT t.doc_id, t.source, t.n_sents,
       t.n_sents - COALESCE(r.kept_sents, 0) AS boiler_removed,
       COALESCE(r.clean_text, '') AS clean_text,
       CAST(LENGTH(COALESCE(r.clean_text, '')) AS BIGINT) AS n_chars_clean
FROM tot t LEFT JOIN reb r ON r.doc_id = t.doc_id
ORDER BY t.doc_id
""",
)
def boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style BOILERPLATE removal (Wenzek et al. 2020 §3.1, at the
    corpus's fixed 8-token grain): a deterministic per-source subscribe
    header is seeded onto 2/3 of each source's documents IN-PLAN (the
    corpus has no natural boilerplate — same seeding pattern as
    pii_scrub_stats), then operators/dedup.strip_boilerplate_sentences
    strips every pseudo-sentence present in >=40% of its source's
    documents and rebuilds the surviving text. The seeded header is
    exactly one window, so cleaned seeded docs must byte-equal their
    original text — the oracle hash-checks that invariant corpus-wide.

    Thresholding is integer (nd*5 >= 2*n_docs); the Spark side shuffles
    xxhash64 sentence keys while the oracle replays exact strings (the
    hashed-twin acceptance); the boilerplate set is broadcast-sized by
    construction (>=40% frequency).
    """
    from etl_weather_spark.operators.dedup import strip_boilerplate_sentences

    docs = load(spark, sf_dir, "documents")
    header = F.concat_ws(
        " ",
        F.lit("follow"),
        F.col("source"),
        F.lit("on our channel subscribe for daily"),
    )
    corpus = docs.select(
        "doc_id",
        "source",
        F.when(
            F.col("doc_id") % 3 < 2, F.concat_ws(" ", header, F.col("text"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return strip_boilerplate_sentences(corpus)

_BM25_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, t.tok AS tok
  FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
  WHERE t.tok <> ''
),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS tot_dl
  FROM dl
),
tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE tok IN ('table', 'scan', 'merge')
  GROUP BY doc_id, tok
),
dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
per_term AS (
  SELECT tf.doc_id,
         FLOOR(((FLOOR(LN(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                       * 10000 + 0.5) / 10000)
                * ((tf.tf * 2.2)
                   / (tf.tf + 1.2 * (0.25 + (0.75 * dl.dl)
                                     / (CAST(s.tot_dl AS DOUBLE) / s.n_docs)))))
               * 1000000 + 0.5) / 1000000 AS s6
  FROM tf
  JOIN dfreq d USING (tok)
  JOIN dl ON dl.doc_id = tf.doc_id
  CROSS JOIN stats s
),
ds AS (
  SELECT doc_id, {sql_dsum('s6', 6)} AS score,
         CAST(COUNT(*) AS BIGINT) AS n_terms
  FROM per_term GROUP BY doc_id
)
SELECT doc_id, score, n_terms, rank FROM (
  SELECT doc_id, score, n_terms,
         CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT)
           AS rank
  FROM ds
) WHERE rank <= 20
ORDER BY rank
"""

@query("bm25_topk", _BM25_ORACLE)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 ranked retrieval (Robertson & Zaragoza 2009; k1=1.2,
    b=0.75, the Lucene-default +1 idf smoothing that keeps weights
    positive) for a 3-term query over the documents table — the
    KEYWORD leg a production retrieval stack runs next to the dense
    ANN leg (hybrid_search_rrf fuses exactly these two families).

    Determinism: idf rounds once at 4 dp, each per-term contribution at
    6 dp, and the document score accumulates through dsum (decimal,
    order-free), so both engines sum identical doubles; the top-20
    tie-breaks on doc_id. Scale: tf is a partial-agg groupBy keyed
    (doc, term) AFTER the IN-list prunes the token stream map-side; the
    df and length stats are dimension-sized; the final ranking rides
    the salted two-level top-k, never a global single-reducer sort of
    all matching documents.
    """
    from etl_weather_spark.operators.similarity import topk_per_group

    terms = ["table", "scan", "merge"]
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("tot_dl"),
    )
    tf = (
        toks.filter(F.col("tok").isin(terms))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    avgdl = F.col("tot_dl").cast("double") / F.col("n_docs")
    idf4 = (
        F.floor(
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            )
            * F.lit(10000)
            + F.lit(0.5)
        )
        / F.lit(10000)
    )
    tfc = (F.col("tf") * F.lit(2.2)) / (
        F.col("tf")
        + F.lit(1.2) * (F.lit(0.25) + (F.lit(0.75) * F.col("dl")) / avgdl)
    )
    per_term = (
        tf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", rnd(idf4 * tfc, 6).alias("s6"))
    )
    ds = per_term.groupBy("doc_id").agg(
        dsum("s6", 6).alias("score"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
    )
    return (
        topk_per_group(
            ds.withColumn("__g", F.lit(1)),
            group_col="__g",
            k=20,
            sim_col="score",
            tie_col="doc_id",
        )
        .select("doc_id", "score", "n_terms", F.col("rank").cast("long").alias("rank"))
        .orderBy("rank")
    )

@query(
    "quality_logistic_filter",
    """
WITH toks AS (
  SELECT doc_id, t.tok AS tok
  FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
  WHERE t.tok <> ''
),
tc AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM toks GROUP BY doc_id, tok),
per AS (
  SELECT doc_id,
         CAST(SUM(cnt) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_distinct,
         CAST(MAX(cnt) AS BIGINT) AS top_count,
         CAST(SUM(CASE WHEN tok IN ('the','and','of','to','in')
                       THEN cnt ELSE 0 END) AS BIGINT) AS n_stop
  FROM tc GROUP BY doc_id
),
feat AS (
  SELECT doc_id, n_tokens,
         FLOOR(CAST(n_distinct AS DOUBLE) / n_tokens * 1000000 + 0.5) / 1000000
           AS f_distinct,
         FLOOR(CAST(top_count AS DOUBLE) / n_tokens * 1000000 + 0.5) / 1000000
           AS f_top,
         FLOOR(LEAST(n_tokens / 100.0, 1.0) * 1000000 + 0.5) / 1000000
           AS f_len,
         FLOOR(LEAST((n_stop * 5.0) / n_tokens, 1.0) * 1000000 + 0.5) / 1000000
           AS f_stop
  FROM per
)
SELECT doc_id, n_tokens, f_distinct, f_top, f_len, f_stop,
       FLOOR((-2.0 + 3.5 * f_distinct - 4.0 * f_top + 1.5 * f_len
              + 2.0 * f_stop) * 10000 + 0.5) / 10000 AS z,
       FLOOR((-2.0 + 3.5 * f_distinct - 4.0 * f_top + 1.5 * f_len
              + 2.0 * f_stop) * 10000 + 0.5) / 10000 > 0 AS keep
FROM feat
ORDER BY doc_id
""",
)
def quality_logistic_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL-BASED quality filtering (the CCNet/FineWeb classifier
    stage): a fixed-weight logistic model over per-doc lexical features
    — distinct-token ratio, top-token share, capped length, capped
    stopword density — scored on the LOGIT scale (keep ⇔ z > 0, which
    equals sigmoid(z) > 0.5 without ever calling exp, so no libm
    transcendental parity risk beyond the proven LN family; the weights
    are illustrative constants standing in for a trained model's).

    Each feature rounds once at 6 dp BEFORE the linear combination and
    z rounds at 4 dp, so both engines fold identical doubles in the
    identical written order. Scale: one (doc, token) partial-agg
    shuffle and one per-doc rollup — the stopword count folds out of
    the same token-count relation (no second pass over text); pure
    whole-stage codegen after the aggs.
    """
    return _quality_logistic_core(load(spark, sf_dir, "documents"))

def _quality_logistic_core(docs: DataFrame) -> DataFrame:
    """quality_logistic_filter on an arbitrary documents relation."""
    stoplist = ["the", "and", "of", "to", "in"]
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    tc = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    per = tc.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.max("cnt").cast("long").alias("top_count"),
        F.sum(F.when(F.col("tok").isin(stoplist), F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n_stop"),
    )
    feat = per.select(
        "doc_id",
        "n_tokens",
        rnd(F.col("n_distinct").cast("double") / F.col("n_tokens"), 6).alias(
            "f_distinct"
        ),
        rnd(F.col("top_count").cast("double") / F.col("n_tokens"), 6).alias(
            "f_top"
        ),
        rnd(F.least(F.col("n_tokens") / F.lit(100.0), F.lit(1.0)), 6).alias(
            "f_len"
        ),
        rnd(
            F.least(
                (F.col("n_stop") * F.lit(5.0)) / F.col("n_tokens"), F.lit(1.0)
            ),
            6,
        ).alias("f_stop"),
    )
    z = rnd(
        F.lit(-2.0)
        + F.lit(3.5) * F.col("f_distinct")
        - F.lit(4.0) * F.col("f_top")
        + F.lit(1.5) * F.col("f_len")
        + F.lit(2.0) * F.col("f_stop"),
        4,
    )
    return feat.select(
        "doc_id",
        "n_tokens",
        "f_distinct",
        "f_top",
        "f_len",
        "f_stop",
        z.alias("z"),
        (z > 0).alias("keep"),
    ).orderBy("doc_id")

@query(
    "zipf_fit_stats",
    """
WITH toks AS (
  SELECT t.tok AS tok
  FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
  WHERE t.tok <> ''
),
tc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY tok),
ranked AS (
  SELECT tok, cnt,
         CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC) AS BIGINT) AS rnk
  FROM tc
),
top AS (SELECT * FROM ranked WHERE rnk <= 100),
q AS (
  SELECT rnk, cnt,
         LN(CAST(rnk AS DOUBLE)) AS x,
         LN(CAST(cnt AS DOUBLE)) AS y
  FROM top
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(FLOOR(x * 1000000000 + 0.5) AS BIGINT)) AS DOUBLE)
           / 1000000000 AS sx,
         CAST(SUM(CAST(FLOOR(y * 1000000000 + 0.5) AS BIGINT)) AS DOUBLE)
           / 1000000000 AS sy,
         CAST(SUM(CAST(FLOOR((x * y) * 1000000000 + 0.5) AS BIGINT)) AS DOUBLE)
           / 1000000000 AS sxy,
         CAST(SUM(CAST(FLOOR((x * x) * 1000000000 + 0.5) AS BIGINT)) AS DOUBLE)
           / 1000000000 AS sxx
  FROM q
),
fit AS (
  SELECT n, sx, sy,
         FLOOR((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1000000 + 0.5)
           / 1000000 AS slope
  FROM s
)
SELECT (SELECT CAST(SUM(cnt) AS BIGINT) FROM tc) AS n_tokens_total,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM tc) AS vocab,
       n AS n_fit, slope,
       FLOOR((sy - slope * sx) / n * 1000000 + 0.5) / 1000000 AS intercept
FROM fit
""",
)
def zipf_fit_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF-LAW fit over the corpus token distribution: least-squares
    slope/intercept of log(freq) vs log(rank) for the top-100 tokens —
    the corpus-health diagnostic every pre-training data report plots
    (natural language sits near slope -1; a synthetic or
    template-heavy corpus shows up immediately as a flat or cliffed
    curve).

    Determinism: every log term is 1e9-quantized BEFORE summing, so the
    four regression sums are exact integers and the closed-form slope
    folds identical doubles in the identical written order; the
    intercept reuses the ROUNDED slope. Scale: the only corpus-sized
    stage is the vocab groupBy (map-side partial counts); the ranking
    window runs over the VOCAB (a bounded dimension — the corpus's
    distinct-token space), and the regression reduces 100 rows.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok")).filter(
        F.col("tok") != ""
    )
    tc = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    ranked = tc.withColumn(
        "rnk",
        F.row_number()
        .over(Window.orderBy(F.desc("cnt"), F.asc("tok")))
        .cast("long"),
    ).filter(F.col("rnk") <= 100)
    qd = ranked.select(
        F.log(F.col("rnk").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )

    def qsum(c, name):
        return (
            F.sum(F.floor(c * F.lit(1000000000) + F.lit(0.5)).cast("long")).cast(
                "double"
            )
            / F.lit(1000000000)
        ).alias(name)

    s = qd.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        qsum(F.col("x"), "sx"),
        qsum(F.col("y"), "sy"),
        qsum(F.col("x") * F.col("y"), "sxy"),
        qsum(F.col("x") * F.col("x"), "sxx"),
    )
    slope = rnd(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
        6,
    )
    fit = s.select("n", "sx", "sy", slope.alias("slope"))
    totals = tc.agg(
        F.sum("cnt").cast("long").alias("n_tokens_total"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
    )
    return fit.crossJoin(F.broadcast(totals)).select(
        "n_tokens_total",
        "vocab",
        F.col("n").alias("n_fit"),
        "slope",
        rnd((F.col("sy") - F.col("slope") * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
    )

@query(
    "bigram_logprob_quality",
    """
WITH toks AS (
  SELECT doc_id,
         CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS pos,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
),
g AS (
  SELECT doc_id, pos, tok,
         LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
  FROM toks
),
b AS (
  SELECT doc_id, tok AS w1, tok || ' ' || nxt AS bg
  FROM g WHERE nxt IS NOT NULL
),
db AS (
  SELECT doc_id, bg, MIN(w1) AS w1, CAST(COUNT(*) AS BIGINT) AS d12
  FROM b GROUP BY doc_id, bg
),
c12 AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c12 FROM b GROUP BY bg),
c1 AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c1 FROM toks GROUP BY tok),
vv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM c1),
per AS (
  SELECT db.doc_id,
         CAST(db.d12 AS DOUBLE)
           * (log2(c1.c1 + 0.5 * vv.v) - log2(c12.c12 + 0.5)) AS contrib,
         db.d12
  FROM db
  JOIN c12 ON c12.bg = db.bg
  JOIN c1 ON c1.tok = db.w1
  CROSS JOIN vv
),
agg AS (
  SELECT doc_id,
         (CAST(SUM(CAST(FLOOR((contrib) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
          / 1000000) AS s,
         CAST(SUM(d12) AS BIGINT) AS n_bigrams
  FROM per GROUP BY doc_id
),
tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM toks GROUP BY doc_id)
SELECT t.doc_id, t.n_tokens,
       COALESCE(a.n_bigrams, 0) AS n_bigrams,
       CASE WHEN a.n_bigrams IS NULL THEN 0.0
            ELSE FLOOR(a.s / a.n_bigrams * 1000000 + 0.5) / 1000000
       END AS avg_nll2
FROM tot t LEFT JOIN agg a ON a.doc_id = t.doc_id
ORDER BY t.doc_id
""",
)
def bigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIGRAM-LM perplexity-proxy quality scoring: average per-bigram
    negative log2-probability under the corpus's OWN add-0.5-smoothed
    bigram model, nll(w2|w1) = log2(c(w1) + 0.5·V) − log2(c(w1w2) + 0.5)
    — the context-aware upgrade of unigram_logprob_quality (CCNet runs
    a 5-gram KenLM for exactly this signal; a doc full of common words
    in UNCOMMON orders scores high here while the unigram filter lets
    it through).

    Determinism follows the unigram op: each (doc, bigram-type)
    contribution is 1e6-quantized before the integer sum, so engines
    accumulate in any order; the per-doc average rounds once. Scale:
    one lead window keyed by doc, then all joins key on the bigram/
    unigram VOCABULARY (bounded dimensions); the corpus vocab size
    rides as a broadcast 1-row cross join.
    """
    return _bigram_logprob_core(load(spark, sf_dir, "documents"))

def _bigram_logprob_core(docs: DataFrame) -> DataFrame:
    """bigram_logprob_quality on an arbitrary documents relation — the
    bigram LM itself re-fits on whatever corpus is passed in.

    NOTE (optimization round 10): a zip_with array-slice bigram form
    (no posexplode + lead() window) and a fenced (doc, bigram) relation
    were both measured — standalone the variants tie (~1.2 s at sf0.1),
    but inside composed consumers (ccnet_ppl_buckets fences the scored
    relation; the funnels fence survivors) the window form pipelines
    better under the outer fence and won every A/B (1.76 s vs
    2.05 s on ccnet), so it stays."""
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    g = toks.select(
        "doc_id",
        "tok",
        F.lead("tok", 1)
        .over(Window.partitionBy("doc_id").orderBy("pos"))
        .alias("nxt"),
    )
    b = g.filter(F.col("nxt").isNotNull()).select(
        "doc_id",
        F.col("tok").alias("w1"),
        F.concat_ws(" ", "tok", "nxt").alias("bg"),
    )
    db = b.groupBy("doc_id", "bg").agg(
        F.min("w1").alias("w1"), F.count(F.lit(1)).cast("long").alias("d12")
    )
    c12 = b.groupBy("bg").agg(F.count(F.lit(1)).cast("long").alias("c12"))
    c1 = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c1"))
    vv = c1.agg(F.count(F.lit(1)).cast("long").alias("v"))
    contrib = F.col("d12").cast("double") * (
        F.log2(F.col("c1") + F.lit(0.5) * F.col("v"))
        - F.log2(F.col("c12") + F.lit(0.5))
    )
    per = (
        db.join(c12, "bg")
        .join(c1, F.col("w1") == F.col("tok"))
        .crossJoin(F.broadcast(vv))
        .select("doc_id", contrib.alias("contrib"), "d12")
    )
    agg = per.groupBy("doc_id").agg(
        (
            F.sum(
                F.floor(F.col("contrib") * F.lit(1000000) + F.lit(0.5)).cast(
                    "long"
                )
            ).cast("double")
            / F.lit(1000000)
        ).alias("s"),
        F.sum("d12").cast("long").alias("n_bigrams"),
    )
    tot = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens")
    )
    return (
        tot.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_bigrams", F.lit(0).cast("long")).alias("n_bigrams"),
            F.when(F.col("n_bigrams").isNull(), F.lit(0.0))
            .otherwise(rnd(F.col("s") / F.col("n_bigrams"), 6))
            .alias("avg_nll2"),
        )
        .orderBy("doc_id")
    )

@query(
    "collocation_pmi_topk",
    """
WITH toks AS (
  SELECT doc_id,
         CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS pos,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
),
g AS (
  SELECT doc_id, pos, tok,
         LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
  FROM toks
),
b AS (SELECT tok AS w1, nxt AS w2, tok || ' ' || nxt AS bg FROM g WHERE nxt IS NOT NULL),
cb AS (
  SELECT bg, MIN(w1) AS w1, MIN(w2) AS w2, CAST(COUNT(*) AS BIGINT) AS c12
  FROM b GROUP BY bg
),
cu AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY tok),
nn AS (
  SELECT CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n_bi,
         CAST((SELECT COUNT(*) FROM toks) AS BIGINT) AS n_uni
),
pmi AS (
  SELECT cb.bg, cb.c12,
         FLOOR(log2((CAST(cb.c12 AS DOUBLE) / nn.n_bi)
                    / ((CAST(u1.c AS DOUBLE) / nn.n_uni)
                       * (CAST(u2.c AS DOUBLE) / nn.n_uni)))
               * 1000000 + 0.5) / 1000000 AS pmi
  FROM cb
  JOIN cu u1 ON u1.tok = cb.w1
  JOIN cu u2 ON u2.tok = cb.w2
  CROSS JOIN nn
  WHERE cb.c12 >= 5
)
SELECT bg, c12, pmi, rank FROM (
  SELECT bg, c12, pmi,
         CAST(ROW_NUMBER() OVER (ORDER BY pmi DESC, bg ASC) AS BIGINT) AS rank
  FROM pmi
) WHERE rank <= 20
ORDER BY rank
""",
)
def collocation_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLLOCATION extraction by pointwise mutual information: the
    top-20 adjacent word pairs (support >= 5) ranked by
    PMI = log2(p(w1w2) / (p(w1)·p(w2))) — the corpus-analysis op that
    surfaces multiword expressions worth protecting from tokenizer
    splits and reveals templated phrasing that per-doc stats miss.

    Determinism: PMI rounds once at 6 dp from identically-written
    double algebra (log2 parity per the unigram-LM precedent); the
    ranking tie-breaks on the bigram string. Scale: bigram and unigram
    counts are vocabulary-keyed partial aggs; the two scalar totals
    broadcast; the support filter prunes BEFORE the joins, and the
    final ranking rides the salted two-level top-k over the (bounded)
    surviving bigram vocabulary.
    """
    from etl_weather_spark.operators.similarity import topk_per_group

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    g = toks.select(
        "tok",
        F.lead("tok", 1)
        .over(Window.partitionBy("doc_id").orderBy("pos"))
        .alias("nxt"),
    )
    b = g.filter(F.col("nxt").isNotNull()).select(
        F.col("tok").alias("w1"),
        F.col("nxt").alias("w2"),
        F.concat_ws(" ", "tok", "nxt").alias("bg"),
    )
    cb = (
        b.groupBy("bg")
        .agg(
            F.min("w1").alias("w1"),
            F.min("w2").alias("w2"),
            F.count(F.lit(1)).cast("long").alias("c12"),
        )
        .filter(F.col("c12") >= 5)
    )
    cu = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c"))
    nn = b.agg(F.count(F.lit(1)).cast("long").alias("n_bi")).crossJoin(
        toks.agg(F.count(F.lit(1)).cast("long").alias("n_uni"))
    )
    u1 = cu.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    u2 = cu.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    pmi = (
        cb.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(nn))
        .select(
            "bg",
            "c12",
            rnd(
                F.log2(
                    (F.col("c12").cast("double") / F.col("n_bi"))
                    / (
                        (F.col("c1").cast("double") / F.col("n_uni"))
                        * (F.col("c2").cast("double") / F.col("n_uni"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return (
        topk_per_group(
            pmi.withColumn("__g", F.lit(1)),
            group_col="__g",
            k=20,
            sim_col="pmi",
            tie_col="bg",
        )
        .select("bg", "c12", "pmi", F.col("rank").cast("long").alias("rank"))
        .orderBy("rank")
    )

@query(
    "lang_vocab_overlap",
    """
WITH toks AS (
  SELECT DISTINCT lang, t.tok AS tok
  FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
  WHERE t.tok <> ''
),
sizes AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS vocab FROM toks GROUP BY lang),
inter AS (
  SELECT a.lang AS lang_a, b.lang AS lang_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM toks a JOIN toks b ON b.tok = a.tok AND a.lang < b.lang
  GROUP BY a.lang, b.lang
)
SELECT i.lang_a, i.lang_b, sa.vocab AS vocab_a, sb.vocab AS vocab_b,
       i.n_shared,
       FLOOR(CAST(i.n_shared AS DOUBLE)
             / (sa.vocab + sb.vocab - i.n_shared) * 1000000 + 0.5) / 1000000
         AS jaccard
FROM inter i
JOIN sizes sa ON sa.lang = i.lang_a
JOIN sizes sb ON sb.lang = i.lang_b
ORDER BY i.lang_a, i.lang_b
""",
)
def lang_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-LANGUAGE vocabulary overlap audit: Jaccard similarity of
    the distinct-token vocabularies of every language pair — a
    multilingual corpus whose language tags are trustworthy shows low
    off-diagonal overlap; a high-overlap pair means mislabeled docs or
    a shared boilerplate layer leaking across language shards (the
    check run before per-language mixture weights are trusted).

    Scale: the (lang, token) relation is distinct-reduced map-side
    BEFORE the self-join; the join keys on the token so each token's
    cross-language fanout is |langs| at most (bounded dimension), never
    corpus-sized; vocab sizes broadcast. Pure integer set algebra plus
    one 6-dp rounded division.
    """
    docs = load(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "lang", F.explode(F.split("text", " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    sizes = toks.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("vocab")
    )
    a = toks.select(F.col("lang").alias("lang_a"), "tok")
    b = toks.select(F.col("lang").alias("lang_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    sa = sizes.select(F.col("lang").alias("lang_a"), F.col("vocab").alias("vocab_a"))
    sb = sizes.select(F.col("lang").alias("lang_b"), F.col("vocab").alias("vocab_b"))
    return (
        inter.join(F.broadcast(sa), "lang_a")
        .join(F.broadcast(sb), "lang_b")
        .select(
            "lang_a",
            "lang_b",
            "vocab_a",
            "vocab_b",
            "n_shared",
            rnd(
                F.col("n_shared").cast("double")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
        .orderBy("lang_a", "lang_b")
    )

@query(
    "lang_id_confidence",
    r"""
WITH scored AS (
  SELECT doc_id, lang,
         len(regexp_extract_all(lower(text), '\b(the|and|of|to|in)\b')) AS s_en,
         len(regexp_extract_all(lower(text), '\b(el|la|de|que|los)\b')) AS s_es,
         len(regexp_extract_all(lower(text), '\b(le|la|et|les|des)\b')) AS s_fr,
         len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist)\b')) AS s_de
  FROM documents
),
ranked AS (
  SELECT doc_id, lang, s_en, s_es, s_fr, s_de,
         list_sort([s_en, s_es, s_fr, s_de], 'DESC') AS l
  FROM scored
)
SELECT doc_id, lang,
       CASE WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
            WHEN s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en'
            WHEN s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es'
            WHEN s_fr = greatest(s_en, s_es, s_fr, s_de) THEN 'fr'
            WHEN s_de = greatest(s_en, s_es, s_fr, s_de) THEN 'de'
            ELSE 'und' END AS lang_pred,
       CAST(l[1] AS BIGINT) AS best,
       CAST(l[2] AS BIGINT) AS runner_up,
       CAST(l[1] - l[2] AS BIGINT) AS margin,
       CASE WHEN l[1] = 0 THEN 'none'
            WHEN l[1] - l[2] >= 3 AND l[1] >= 3 THEN 'high'
            ELSE 'low' END AS tier,
       (CASE WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
             WHEN s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en'
             WHEN s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es'
             WHEN s_fr = greatest(s_en, s_es, s_fr, s_de) THEN 'fr'
             WHEN s_de = greatest(s_en, s_es, s_fr, s_de) THEN 'de'
             ELSE 'und' END) = lang AS agree
FROM ranked
ORDER BY doc_id
""",
)
def lang_id_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LANGUAGE-ID CONFIDENCE audit (CCNet keeps a doc only when the
    classifier is CONFIDENT, not merely argmax): per document, the
    winning stopword score, the runner-up, their margin, an integer-
    thresholded confidence tier (high: margin >= 3 and best >= 3; low:
    any hits; none: zero hits), and whether the prediction agrees with
    the stored language tag — the report that decides which shards need
    re-identification before per-language processing.

    All comparisons are integers (stopword hit counts), so no float
    boundary exists anywhere; the runner-up comes from a 4-element
    sorted literal array on both engines. Scale: pure projection — four
    regexp_count columns and integer algebra in whole-stage codegen, no
    shuffle but the final sort.
    """
    return _lang_id_confidence_core(load(spark, sf_dir, "documents"))

def _lang_id_confidence_core(docs: DataFrame) -> DataFrame:
    """lang_id_confidence on an arbitrary documents relation."""
    from etl_weather_spark.operators.textops import LANG_STOPWORDS, lang_id

    scores = {
        lng: F.regexp_count(
            F.lower(F.col("text")),
            F.lit(r"\b(" + "|".join(ws) + r")\b"),
        ).cast("long")
        for lng, ws in LANG_STOPWORDS.items()
    }
    arr = F.sort_array(F.array(*scores.values()), asc=False)
    return docs.select(
        "doc_id",
        "lang",
        lang_id(F.col("text")).alias("lang_pred"),
        arr.getItem(0).alias("best"),
        arr.getItem(1).alias("runner_up"),
        (arr.getItem(0) - arr.getItem(1)).alias("margin"),
        F.when(arr.getItem(0) == 0, F.lit("none"))
        .when(
            (arr.getItem(0) - arr.getItem(1) >= 3) & (arr.getItem(0) >= 3),
            F.lit("high"),
        )
        .otherwise(F.lit("low"))
        .alias("tier"),
        (lang_id(F.col("text")) == F.col("lang")).alias("agree"),
    ).orderBy("doc_id")

#: bigram list per document, shared convention with rare_bigram_quality
#: (docs under 2 tokens contribute one pseudo-bigram = the whole text)
_BIGRAMS_EXPR = (
    "CASE WHEN size(tk) >= 2"
    " THEN zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1),"
    " (a, b) -> concat(a, ' ', b))"
    " ELSE array(array_join(tk, ' ')) END"
)

@query(
    "dsir_importance_weights",
    f"""
WITH toked AS (
  SELECT doc_id, lang,
         string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
b AS (
  SELECT doc_id, lang, UNNEST(
    CASE WHEN len(toks) >= 2
         THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
         ELSE [array_to_string(toks, ' ')] END) AS bg
  FROM toked
),
bb AS (SELECT doc_id, lang, {_MD5_BUCKET_SQL} AS bucket FROM b),
dbc AS (SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS c_d FROM bb GROUP BY 1, 2),
qb AS (SELECT bucket, CAST(SUM(c_d) AS BIGINT) AS c_all FROM dbc GROUP BY bucket),
tb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS c_t FROM bb WHERE lang = 'en' GROUP BY bucket),
tot AS (
  SELECT CAST(SUM(c_all) AS BIGINT) AS n_all,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM bb WHERE lang = 'en') AS n_t
  FROM qb
),
dim AS (
  SELECT qb.bucket,
         FLOOR((LN(COALESCE(tb.c_t, 0) + 1.0) - LN(t.n_t + 256.0)
                - LN(qb.c_all + 1.0) + LN(t.n_all + 256.0)) * 1000000 + 0.5)
           / 1000000 AS ratio6
  FROM qb LEFT JOIN tb ON tb.bucket = qb.bucket CROSS JOIN tot t
)
SELECT dbc.doc_id,
       CAST(SUM(dbc.c_d) AS BIGINT) AS n_bigrams,
       {sql_dsum('dbc.c_d * dim.ratio6', 6)} AS dsir_logweight,
       ({sql_dsum('dbc.c_d * dim.ratio6', 6)} > 0.0) AS kept
FROM dbc JOIN dim ON dim.bucket = dbc.bucket
GROUP BY dbc.doc_id
ORDER BY dbc.doc_id
""",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw
    document by the log importance weight of its HASHED BIGRAM features
    under an add-1-smoothed bag-of-buckets model of the target
    distribution (here: the English subcorpus stands in for the
    high-quality target) versus the raw corpus, log w(d) = Σ_b c_d(b) ·
    (ln p_target(b) − ln q_raw(b)) over 256 md5 buckets. kept =
    positive weight — the resampling keep-set.

    Determinism: the bucket is an engine-portable md5-nibble hash (the
    bucket identity itself replays in SQL, not just as an opaque join
    key), each per-bucket log-ratio is 1e6-quantized once on the
    256-row dimension, and per-doc accumulation is decimal (dsum), so
    both engines sum identical values in any order.

    Scale: the feature space is FIXED (256 buckets) — both corpus
    models are 256-row aggregates and the scoring join broadcasts the
    dimension; the only corpus-sized stages are one bigram projection
    and one (doc, bucket) partial-agg groupBy. This is DSIR's whole
    point: importance weights at 100 TB without training a model.
    """
    return _dsir_core(load(spark, sf_dir, "documents"))

def _dsir_core(docs: DataFrame) -> DataFrame:
    """dsir_importance_weights on an arbitrary documents relation —
    both the raw and target (lang='en') bucket models re-fit on
    whatever corpus is passed in."""
    tk = F.split(
        F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "), " "
    )
    b = (
        docs.select("doc_id", "lang", tk.alias("tk"))
        .select("doc_id", "lang", F.explode(F.expr(_BIGRAMS_EXPR)).alias("bg"))
        .select("doc_id", "lang", F.expr(_MD5_BUCKET_SQL).alias("bucket"))
    )
    # ONE (doc, lang, bucket) partial agg fenced once — the raw/target
    # bucket models and both scalar totals all derive from it, where
    # the un-fenced form re-ran the tokenize→bigram→md5 chain three
    # times (dbc + the lang='en' count + the n_t total); lang is
    # constant per doc, so the extra group key changes nothing
    dbc = fence(b.groupBy("doc_id", "lang", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c_d")
    ))
    qb = dbc.groupBy("bucket").agg(F.sum("c_d").cast("long").alias("c_all"))
    tb = (
        dbc.filter(F.col("lang") == "en")
        .groupBy("bucket")
        .agg(F.sum("c_d").cast("long").alias("c_t"))
    )
    tot = qb.agg(F.sum("c_all").cast("long").alias("n_all")).crossJoin(
        dbc.filter(F.col("lang") == "en").agg(
            F.sum("c_d").cast("long").alias("n_t")
        )
    )
    ratio6 = rnd(
        F.log(F.coalesce(F.col("c_t"), F.lit(0)) + F.lit(1.0))
        - F.log(F.col("n_t") + F.lit(256.0))
        - F.log(F.col("c_all") + F.lit(1.0))
        + F.log(F.col("n_all") + F.lit(256.0)),
        6,
    )
    dim = (
        qb.join(tb, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select("bucket", ratio6.alias("ratio6"))
    )
    lw = dsum(F.col("c_d") * F.col("ratio6"), 6)
    return (
        dbc.join(F.broadcast(dim), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c_d").cast("long").alias("n_bigrams"),
            lw.alias("dsir_logweight"),
            (lw > 0.0).alias("kept"),
        )
        .orderBy("doc_id")
    )

@query(
    "ctfidf_source_keywords",
    """
WITH toked AS (
  SELECT doc_id, source,
         string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks
  FROM documents
),
tok AS (SELECT doc_id, source, UNNEST(toks) AS t FROM toked WHERE len(toks) > 0),
tf AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS tf FROM tok WHERE t <> '' GROUP BY 1, 2),
sdf AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS src_df FROM tf GROUP BY t),
ns AS (SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS n_src FROM tf),
scored AS (
  SELECT tf.source, tf.t AS token, tf.tf, sdf.src_df,
         FLOOR(tf.tf * LN(CAST(ns.n_src AS DOUBLE) / sdf.src_df) * 1000000 + 0.5)
           / 1000000 AS score6
  FROM tf JOIN sdf ON sdf.t = tf.t CROSS JOIN ns
)
SELECT source, token, tf, src_df, score6,
       CAST(rn AS BIGINT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY source ORDER BY score6 DESC, token ASC) AS rn
  FROM scored
) WHERE rn <= 5
ORDER BY source, rank
""",
)
def ctfidf_source_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-based TF-IDF keyword extraction per source (the c-TF-IDF
    move BERTopic popularized, over the classic idf = ln(N/df) on
    SOURCE-level document frequency): which tokens characterize each
    crawl source against the rest of the corpus? Tokens present in
    every source score exactly 0 (idf = ln(1)); the per-source top-5
    are the source's signature vocabulary — the triage view a curation
    team reads before writing source-level filters.

    Determinism: score = tf · ln(n_src/src_df) quantized once at 6 dp;
    ranking tie-breaks on the token string.

    Scale: tf is a (source, token) partial-agg groupBy; src_df and
    n_src are token/dimension-sized aggregates joined ON TOKEN (the
    bounded vocabulary side); the per-source top-5 rides the salted
    two-level top-k, never a global single-partition window.
    """
    from etl_weather_spark.operators.similarity import topk_per_group

    docs = load(spark, sf_dir, "documents")
    tk = F.split(
        F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "), " "
    )
    tok = (
        docs.select("doc_id", "source", tk.alias("tk"))
        .filter(F.size("tk") > 0)
        .select("doc_id", "source", F.explode("tk").alias("t"))
        .filter(F.col("t") != "")
    )
    tf = tok.groupBy("source", "t").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    sdf = tf.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("src_df"))
    ns = tf.agg(F.count_distinct("source").cast("long").alias("n_src"))
    scored = (
        tf.join(sdf, "t")
        .crossJoin(F.broadcast(ns))
        .select(
            "source",
            F.col("t").alias("token"),
            "tf",
            "src_df",
            rnd(
                F.col("tf")
                * F.log(F.col("n_src").cast("double") / F.col("src_df")),
                6,
            ).alias("score6"),
        )
    )
    return (
        topk_per_group(
            scored, group_col="source", k=5, sim_col="score6", tie_col="token"
        )
        .select(
            "source", "token", "tf", "src_df", "score6",
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("source", "rank")
    )

@query(
    "ccnet_ppl_buckets",
    """
WITH toks AS (
  SELECT doc_id,
         CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS pos,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
),
g AS (
  SELECT doc_id, pos, tok,
         LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
  FROM toks
),
b AS (
  SELECT doc_id, tok AS w1, tok || ' ' || nxt AS bg
  FROM g WHERE nxt IS NOT NULL
),
db AS (
  SELECT doc_id, bg, MIN(w1) AS w1, CAST(COUNT(*) AS BIGINT) AS d12
  FROM b GROUP BY doc_id, bg
),
c12 AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c12 FROM b GROUP BY bg),
c1 AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c1 FROM toks GROUP BY tok),
vv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM c1),
per AS (
  SELECT db.doc_id,
         CAST(db.d12 AS DOUBLE)
           * (log2(c1.c1 + 0.5 * vv.v) - log2(c12.c12 + 0.5)) AS contrib,
         db.d12
  FROM db
  JOIN c12 ON c12.bg = db.bg
  JOIN c1 ON c1.tok = db.w1
  CROSS JOIN vv
),
agg AS (
  SELECT doc_id,
         (CAST(SUM(CAST(FLOOR((contrib) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
          / 1000000) AS s,
         CAST(SUM(d12) AS BIGINT) AS n_bigrams
  FROM per GROUP BY doc_id
),
scores AS (
  SELECT d.doc_id, d.lang,
         CASE WHEN a.n_bigrams IS NULL THEN 0.0
              ELSE FLOOR(a.s / a.n_bigrams * 1000000 + 0.5) / 1000000
         END AS avg_nll2
  FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
),
samp AS (
  SELECT doc_id, lang, avg_nll2 FROM (
    SELECT doc_id, lang, avg_nll2,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS srn
    FROM scores
  ) WHERE srn <= 200
),
cnt AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS ns FROM samp GROUP BY lang),
rk AS (
  SELECT s.doc_id, s.lang, s.avg_nll2, c.ns,
         ROW_NUMBER() OVER (PARTITION BY s.lang ORDER BY s.avg_nll2, s.doc_id) AS rn
  FROM samp s JOIN cnt c ON c.lang = s.lang
),
bd AS (
  SELECT lang,
         MAX(CASE WHEN rn = CAST(CEIL(ns / 3.0) AS BIGINT) THEN avg_nll2 END) AS s1,
         MAX(CASE WHEN rn = CAST(CEIL(ns / 3.0) AS BIGINT) THEN doc_id END) AS d1,
         MAX(CASE WHEN rn = CAST(CEIL(2.0 * ns / 3.0) AS BIGINT) THEN avg_nll2 END) AS s2,
         MAX(CASE WHEN rn = CAST(CEIL(2.0 * ns / 3.0) AS BIGINT) THEN doc_id END) AS d2
  FROM rk GROUP BY lang
)
SELECT sc.doc_id, sc.lang, sc.avg_nll2,
       CASE WHEN sc.avg_nll2 < bd.s1 OR (sc.avg_nll2 = bd.s1 AND sc.doc_id <= bd.d1)
              THEN 'head'
            WHEN sc.avg_nll2 < bd.s2 OR (sc.avg_nll2 = bd.s2 AND sc.doc_id <= bd.d2)
              THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scores sc JOIN bd ON bd.lang = sc.lang
ORDER BY sc.doc_id
""",
)
def ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's signature curation move (Wenzek et al. 2020 §3.3):
    bucket every document into head/middle/tail by per-LANGUAGE
    perplexity terciles — head = most-fluent third, the slice CCNet
    keeps by default. The perplexity proxy is the corpus-trained
    bigram LM shared with bigram_logprob_quality (CCNet uses a 5-gram
    KenLM; same signal family).

    The tercile BOUNDARIES are trained on a bounded deterministic
    sample (the 200 lowest doc_ids per language — CCNet likewise fits
    its cutoffs on a sample, not the crawl) and applied to every doc by
    broadcast comparison, tie-broken on (score, doc_id) so the split is
    total and exact. This avoids the per-lang full-corpus window sort
    an NTILE would plan (few languages = few reducers = a straggler
    wall at 100 TB).

    Scale: scoring reuses the bigram-LM shape (doc-keyed lead window +
    vocabulary-keyed joins); the sample is ≤200·n_langs rows via the
    salted two-level top-k; boundaries are a broadcast dimension; the
    final bucket is a map-side CASE.
    """
    return _ccnet_ppl_core(load(spark, sf_dir, "documents"))

def _ccnet_ppl_core(docs: DataFrame) -> DataFrame:
    """ccnet_ppl_buckets on an arbitrary documents relation — LM AND
    tercile boundaries both re-fit on whatever corpus is passed in."""
    from etl_weather_spark.operators.similarity import topk_per_group

    # two consumers (boundary sample + final bucket join) would
    # otherwise each recompute the whole bigram-LM chain — fence the
    # scored relation once
    scores = fence(
        _bigram_logprob_core(docs)
        .select("doc_id", "avg_nll2")
        .join(docs.select("doc_id", "lang"), "doc_id")
    )
    # two consumers (per-lang counts + the rank window) would each
    # replay the salted top-k sample — fence the ≤200·L-row relation
    samp = fence(topk_per_group(
        scores.withColumn("negid", (-F.col("doc_id")).cast("long")),
        group_col="lang",
        k=200,
        sim_col="negid",
        tie_col="doc_id",
    ).select("doc_id", "lang", "avg_nll2"))
    cnt = samp.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("ns"))
    w = Window.partitionBy("lang").orderBy("avg_nll2", "doc_id")
    rk = (
        samp.join(F.broadcast(cnt), "lang")
        .withColumn("rn", F.row_number().over(w).cast("long"))
    )
    p1 = F.ceil(F.col("ns") / 3.0).cast("long")
    p2 = F.ceil(F.col("ns") * 2.0 / 3.0).cast("long")
    bd = rk.groupBy("lang").agg(
        F.max(F.when(F.col("rn") == p1, F.col("avg_nll2"))).alias("s1"),
        F.max(F.when(F.col("rn") == p1, F.col("doc_id"))).alias("d1"),
        F.max(F.when(F.col("rn") == p2, F.col("avg_nll2"))).alias("s2"),
        F.max(F.when(F.col("rn") == p2, F.col("doc_id"))).alias("d2"),
    )
    is_head = (F.col("avg_nll2") < F.col("s1")) | (
        (F.col("avg_nll2") == F.col("s1")) & (F.col("doc_id") <= F.col("d1"))
    )
    is_mid = (F.col("avg_nll2") < F.col("s2")) | (
        (F.col("avg_nll2") == F.col("s2")) & (F.col("doc_id") <= F.col("d2"))
    )
    return (
        scores.join(F.broadcast(bd), "lang")
        .select(
            "doc_id",
            "lang",
            "avg_nll2",
            F.when(is_head, "head").when(is_mid, "middle").otherwise("tail").alias("bucket"),
        )
        .orderBy("doc_id")
    )

@query(
    "code_detect_stats",
    """
WITH f AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[{}();]')) AS BIGINT) AS n_punct,
         CAST(len(regexp_extract_all(text, '(^|\\s)(def|class|import|return|function|var|const|if|else|for|while)(\\s|$)')) AS BIGINT) AS n_kw,
         CAST(len(regexp_extract_all(text, '=')) AS BIGINT) AS n_assign,
         CAST(len(regexp_extract_all(text, '[a-zA-Z_][a-zA-Z0-9_]*\\([^)]*\\)')) AS BIGINT) AS n_calls,
         CAST(length(text) AS BIGINT) AS n_chars_t
  FROM documents
)
SELECT doc_id, n_punct, n_kw, n_assign, n_calls,
       FLOOR(((n_punct * 3.0 + n_kw * 5.0 + n_assign * 2.0 + n_calls * 4.0)
              / GREATEST(n_chars_t, 1)) * 1000000 + 0.5) / 1000000 AS code_score6,
       (FLOOR(((n_punct * 3.0 + n_kw * 5.0 + n_assign * 2.0 + n_calls * 4.0)
               / GREATEST(n_chars_t, 1)) * 1000000 + 0.5) / 1000000 > 0.05)
         AS looks_like_code
FROM f
ORDER BY doc_id
""",
)
def code_detect_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose routing signal (the StarCoder/FineWeb-style
    separation every mixed crawl needs before mixture weighting — code
    wants different dedup grain, quality gates, and sampling
    temperature than prose): per-doc counts of code-punctuation,
    keyword hits, assignments, and call-shaped spans, folded into a
    length-normalized score with a fixed routing threshold.

    Determinism: pure counting regexes (no backrefs, no lookaround —
    engine-portable), fixed written-order weight fold, one 6-dp
    rounding; the flag compares the ROUNDED score so both engines
    decide identically at the boundary.

    Scale: projection-only (regexp_count in whole-stage codegen), no
    shuffle but the final sort.
    """
    return _code_detect_core(load(spark, sf_dir, "documents"))

def _code_detect_core(docs: DataFrame) -> DataFrame:
    """code_detect_stats on an arbitrary documents relation (funnel v3
    re-runs gates on survivor-restricted corpora)."""
    n_punct = F.regexp_count("text", F.lit(r"[{}();]")).cast("long")
    n_kw = F.regexp_count(
        "text",
        F.lit(r"(^|\s)(def|class|import|return|function|var|const|if|else|for|while)(\s|$)"),
    ).cast("long")
    n_assign = F.regexp_count("text", F.lit("=")).cast("long")
    n_calls = F.regexp_count(
        "text", F.lit(r"[a-zA-Z_][a-zA-Z0-9_]*\([^)]*\)")
    ).cast("long")
    n_chars_t = F.length("text").cast("long")
    score = rnd(
        (
            F.col("n_punct") * 3.0
            + F.col("n_kw") * 5.0
            + F.col("n_assign") * 2.0
            + F.col("n_calls") * 4.0
        )
        / F.greatest(F.col("n_chars_t"), F.lit(1)),
        6,
    )
    return (
        docs.select(
            "doc_id",
            n_punct.alias("n_punct"),
            n_kw.alias("n_kw"),
            n_assign.alias("n_assign"),
            n_calls.alias("n_calls"),
            n_chars_t.alias("n_chars_t"),
        )
        .select(
            "doc_id", "n_punct", "n_kw", "n_assign", "n_calls",
            score.alias("code_score6"),
            (score > 0.05).alias("looks_like_code"),
        )
        .orderBy("doc_id")
    )

_BPE_FERTILITY_ORACLE = (
    """
WITH tok AS (
  SELECT doc_id, lang, word FROM (
    SELECT doc_id, lang,
           UNNEST(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS word
    FROM documents
  ) WHERE regexp_matches(word, '^[a-z0-9]+$')
),
words AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY word),
v0 AS (
  SELECT array_to_string(string_split(word, ''), chr(31)) AS ws, freq, word FROM words
),"""
    + ",".join(_bpe_oracle_round(i, carry=", word") for i in (1, 2, 3))
    + """,
seg AS (SELECT word, len(string_split(ws, chr(31))) AS n_pieces FROM v3)
SELECT lang,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(length(word)) AS BIGINT) AS n_chars,
       CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
       CAST((10000 * SUM(n_pieces)) // COUNT(*) AS BIGINT) AS pieces_per_word_1e4,
       CAST((10000 * SUM(length(word))) // SUM(n_pieces) AS BIGINT) AS chars_per_piece_1e4
FROM tok JOIN seg USING (word)
GROUP BY lang ORDER BY lang
"""
)

@query("tokenizer_fertility_by_lang", _BPE_FERTILITY_ORACLE)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY equity audit: pieces-per-word and
    chars-per-piece of the corpus-trained BPE segmentation, rolled up
    per LANGUAGE — the fairness diagnostic every multilingual tokenizer
    report leads with (a vocab trained on English-heavy data fragments
    other languages into more, shorter pieces, silently taxing their
    training budget and context window).

    Same vocab-level segmentation as bpe_encode_stats (each distinct
    word encoded once, token stream joined by word); the rollup keys on
    the bounded language dimension. Integer 1e4 fixed-point ratios keep
    both engines exact.
    """
    from etl_weather_spark.operators.dedup import tokens

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("word")
    ).filter(F.col("word").rlike("^[a-z0-9]+$"))
    return (
        tok.join(F.broadcast(_bpe_segment_pieces(tok)), "word")
        .groupBy("lang")
        .agg(
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.length("word")).cast("long").alias("n_chars"),
            F.sum("n_pieces").cast("long").alias("n_pieces"),
        )
        .select(
            "lang", "n_docs", "n_words", "n_chars", "n_pieces",
            F.expr("(10000 * n_pieces) div n_words").alias("pieces_per_word_1e4"),
            F.expr("(10000 * n_chars) div n_pieces").alias("chars_per_piece_1e4"),
        )
        .orderBy("lang")
    )

def _gopher_oracle(min_stopwords: int) -> str:
    """SQL twin of operators/textops.gopher_quality_profile — every
    keep rule is integer arithmetic; ratio columns are 6-dp display."""
    return rf"""
WITH toks AS (
  SELECT doc_id, lower(t.tok) AS tok
  FROM documents, UNNEST(regexp_split_to_array(text, '\s+')) AS t(tok)
  WHERE t.tok <> ''
),
words AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(LENGTH(tok)) AS BIGINT) AS word_chars,
         CAST(SUM(CASE WHEN regexp_matches(tok, '[a-z]')
                       THEN 1 ELSE 0 END) AS BIGINT) AS alpha_words,
         CAST(COUNT(DISTINCT CASE WHEN tok IN
                ('the','be','to','of','and','that','have','with')
              THEN tok END) AS BIGINT) AS n_stopwords
  FROM toks GROUP BY doc_id
),
lns AS (
  SELECT doc_id, l.line AS line
  FROM documents, UNNEST(string_split(text, chr(10))) AS l(line)
),
linestats AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CASE WHEN regexp_matches(line, '^\s*[-*•]')
                       THEN 1 ELSE 0 END) AS BIGINT) AS bullet_lines,
         CAST(SUM(CASE WHEN regexp_matches(line, '(\.\.\.|…)\s*$')
                       THEN 1 ELSE 0 END) AS BIGINT) AS ellipsis_lines
  FROM lns GROUP BY doc_id
),
sym AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '#'))
              + len(regexp_extract_all(text, '\.\.\.')) AS BIGINT)
           AS n_symbols
  FROM documents
),
base AS (
  SELECT d.doc_id,
         COALESCE(w.n_words, 0) AS n_words,
         COALESCE(w.word_chars, 0) AS word_chars,
         COALESCE(w.alpha_words, 0) AS alpha_words,
         COALESCE(w.n_stopwords, 0) AS n_stopwords,
         COALESCE(ls.n_lines, 0) AS n_lines,
         COALESCE(ls.bullet_lines, 0) AS bullet_lines,
         COALESCE(ls.ellipsis_lines, 0) AS ellipsis_lines,
         COALESCE(s.n_symbols, 0) AS n_symbols
  FROM documents d
  LEFT JOIN words w ON w.doc_id = d.doc_id
  LEFT JOIN linestats ls ON ls.doc_id = d.doc_id
  LEFT JOIN sym s ON s.doc_id = d.doc_id
),
m AS (
  SELECT *,
         CAST(CASE WHEN n_words < 50 OR n_words > 100000
                   THEN 1 ELSE 0 END
              + CASE WHEN NOT (word_chars >= 3 * n_words
                               AND word_chars <= 10 * n_words)
                     THEN 2 ELSE 0 END
              + CASE WHEN n_symbols * 100 > 10 * n_words
                     THEN 4 ELSE 0 END
              + CASE WHEN bullet_lines * 100 > 90 * n_lines
                     THEN 8 ELSE 0 END
              + CASE WHEN ellipsis_lines * 100 > 30 * n_lines
                     THEN 16 ELSE 0 END
              + CASE WHEN alpha_words * 100 < 80 * n_words
                     THEN 32 ELSE 0 END
              + CASE WHEN n_stopwords < {min_stopwords}
                     THEN 64 ELSE 0 END AS BIGINT) AS fail_mask
  FROM base
)
SELECT doc_id, n_words, n_lines,
       FLOOR(CAST(word_chars AS DOUBLE) / GREATEST(n_words, 1)
             * 1000000 + 0.5) / 1000000 AS mean_word_len6,
       FLOOR(CAST(n_symbols AS DOUBLE) / GREATEST(n_words, 1)
             * 1000000 + 0.5) / 1000000 AS symbol_ratio6,
       FLOOR(CAST(bullet_lines AS DOUBLE) / GREATEST(n_lines, 1)
             * 1000000 + 0.5) / 1000000 AS bullet_line_frac6,
       FLOOR(CAST(ellipsis_lines AS DOUBLE) / GREATEST(n_lines, 1)
             * 1000000 + 0.5) / 1000000 AS ellipsis_line_frac6,
       FLOOR(CAST(alpha_words AS DOUBLE) / GREATEST(n_words, 1)
             * 1000000 + 0.5) / 1000000 AS alpha_word_frac6,
       n_stopwords, fail_mask, fail_mask = 0 AS keep
FROM m ORDER BY doc_id
"""

@query("gopher_quality_gate", _gopher_oracle(2))
def gopher_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full GOPHER document-quality composite at the PUBLISHED
    constants (Rae et al. 2021, Table A1): word-count bounds, mean
    word-length window, symbol-to-word ratio, bullet/ellipsis line
    fractions, alphabetic-word fraction, and the ≥2-of-8 stop-word
    presence check — the rule half that ngram_repetition doesn't cover.
    Emits per-rule evidence (counts + 6-dp ratios), a fail bitmask, and
    the composite keep flag.

    On the synthetic corpus the published stop-word rule is
    unsatisfiable by construction (the vocabulary contains exactly one
    of the eight published words), so ``keep`` is uniformly false here
    — the per-rule columns and fail_mask carry the signal; see
    gopher_quality_gate_tuned for the corpus-tuned variant a production
    pipeline would run (thresholds are always re-tuned per corpus).

    Scale: two doc-keyed explode→partial-agg passes plus a scan
    projection, all joined on doc_id; integer-exact keep logic, no
    Python anywhere.
    """
    from etl_weather_spark.operators.textops import gopher_quality_profile

    return gopher_quality_profile(load(spark, sf_dir, "documents"))

def _gopher_tuned_core(docs: DataFrame) -> DataFrame:
    from etl_weather_spark.operators.textops import gopher_quality_profile

    return gopher_quality_profile(docs, min_stopwords=1)

def _domain_reweight_oracle() -> str:
    """Embed the registered bigram-LM oracle verbatim as the per-doc
    proxy-loss relation (the funnel-v2 embedding discipline)."""
    inner = _ORACLES["bigram_logprob_quality"]
    return f"""
WITH scores AS (
  SELECT d.doc_id, d.source, b.avg_nll2
  FROM documents d JOIN ({inner}
  ) b ON b.doc_id = d.doc_id
),
per AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         FLOOR(({sql_dsum('avg_nll2', 6)} / COUNT(*)) * 1000000 + 0.5)
           / 1000000 AS loss6
  FROM scores GROUP BY source
),
gtot AS (
  SELECT FLOOR(({sql_dsum('avg_nll2', 6)} / COUNT(*)) * 1000000 + 0.5)
           / 1000000 AS gloss6,
         CAST(COUNT(*) AS BIGINT) AS n_all
  FROM scores
),
e AS (
  SELECT p.source, p.n_docs,
         FLOOR((p.n_docs * 1.0 / g.n_all) * 1000000 + 0.5) / 1000000 AS w_ref6,
         p.loss6, g.gloss6,
         FLOOR((p.loss6 - g.gloss6) * 1000000 + 0.5) / 1000000 AS excess6
  FROM per p CROSS JOIN gtot g
),
u AS (
  SELECT *,
         FLOOR((w_ref6 * GREATEST(1.0 + 0.5 * excess6, 0.0)) * 1000000 + 0.5)
           / 1000000 AS raw6
  FROM e
),
z AS (SELECT {sql_dsum('raw6', 6)} AS zs FROM u)
SELECT u.source, u.n_docs, u.loss6, u.excess6, u.w_ref6,
       FLOOR((u.raw6 / z.zs) * 1000000 + 0.5) / 1000000 AS w_new6,
       CASE WHEN u.w_ref6 > 0
            THEN FLOOR((FLOOR((u.raw6 / z.zs) * 1000000 + 0.5) / 1000000
                        / u.w_ref6) * 10000 + 0.5) / 10000
       END AS boost4
FROM u CROSS JOIN z
ORDER BY u.source
"""

@query(
    "proximity_search_topk",
    """
WITH toks AS (
  SELECT doc_id,
         CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS pos,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
),
hits AS (
  SELECT doc_id, pos, tok FROM toks WHERE tok IN ('table', 'scan', 'merge')
),
pairs AS (
  SELECT a.doc_id,
         MIN(ABS(a.pos - b.pos)) AS min_gap
  FROM hits a JOIN hits b
    ON b.doc_id = a.doc_id AND a.tok < b.tok
  GROUP BY a.doc_id
),
present AS (
  SELECT doc_id, CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_terms
  FROM hits GROUP BY doc_id
),
scored AS (
  SELECT p.doc_id, pr.n_terms, CAST(p.min_gap AS BIGINT) AS min_gap,
         FLOOR((1.0 / (1 + p.min_gap)) * 1000000 + 0.5) / 1000000
           AS proximity6
  FROM pairs p JOIN present pr ON pr.doc_id = p.doc_id
  WHERE pr.n_terms >= 2
)
SELECT doc_id, n_terms, min_gap, proximity6, rank FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY proximity6 DESC, doc_id) AS rank
  FROM scored
) WHERE rank <= 20
ORDER BY rank
""",
)
def proximity_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TERM-PROXIMITY retrieval (the classic BM25 companion signal —
    Büttcher/Clarke-style: documents where distinct query terms occur
    CLOSE together outrank bag-of-words matches): for the fixed query
    terms, the minimum token distance between occurrences of two
    DIFFERENT terms per document, scored 1/(1+gap), top-20.

    Determinism: positions are integers, the score is a 6-dp-quantized
    rational of an integer gap, ties break on doc_id.

    Scale: the hits relation is IN-list-pruned at the scan (tiny
    posting subset); the pair join is doc-keyed with per-doc
    occurrence counts bounded by document length; the final top-20
    runs the salted two-level top-k, never a global sort.
    """
    from etl_weather_spark.operators.similarity import topk_per_group

    docs = load(spark, sf_dir, "documents")
    terms = ["table", "scan", "merge"]
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "tok")
    hits = fence(toks.filter(F.col("tok").isin(terms)))
    b = hits.select(
        F.col("doc_id").alias("b_doc_id"),
        F.col("pos").alias("b_pos"),
        F.col("tok").alias("b_tok"),
    )
    pairs = (
        hits.join(
            b,
            (F.col("b_doc_id") == F.col("doc_id"))
            & (F.col("tok") < F.col("b_tok")),
        )
        .groupBy("doc_id")
        .agg(F.min(F.abs(F.col("pos") - F.col("b_pos"))).cast("long").alias("min_gap"))
    )
    present = hits.groupBy("doc_id").agg(
        F.count_distinct("tok").cast("long").alias("n_terms")
    )
    scored = (
        pairs.join(present, "doc_id")
        .filter(F.col("n_terms") >= 2)
        .select(
            "doc_id",
            "n_terms",
            "min_gap",
            rnd(F.lit(1.0) / (F.lit(1) + F.col("min_gap")), 6).alias(
                "proximity6"
            ),
        )
    )
    return (
        topk_per_group(
            scored.withColumn("__g", F.lit(1)),
            group_col="__g",
            k=20,
            sim_col="proximity6",
            tie_col="doc_id",
        )
        .select(
            "doc_id", "n_terms", "min_gap", "proximity6",
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("rank")
    )

def _ensemble_oracle() -> str:
    rrf = (
        "FLOOR(1.0 / (60 + r1.rnk) * 1000000 + 0.5) / 1000000"
        " + FLOOR(1.0 / (60 + r2.rnk) * 1000000 + 0.5) / 1000000"
        " + FLOOR(1.0 / (60 + r3.rnk) * 1000000 + 0.5) / 1000000"
    )
    return f"""
WITH {_ensemble_rank_block("1", _ORACLES["quality_logistic_filter"], "z", True)},
{_ensemble_rank_block("2", _ORACLES["bigram_logprob_quality"], "avg_nll2", False)},
{_ensemble_rank_block("3", _ORACLES["token_entropy_quality"], "token_entropy", True)},
f AS (
  SELECT r1.doc_id, r1.rnk AS r_quality, r2.rnk AS r_fluency,
         r3.rnk AS r_entropy,
         FLOOR(({rrf}) * 1000000 + 0.5) / 1000000 AS rrf6
  FROM r1
  JOIN r2 ON r2.doc_id = r1.doc_id
  JOIN r3 ON r3.doc_id = r1.doc_id
)
SELECT doc_id, r_quality, r_fluency, r_entropy, rrf6, rank FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY rrf6 DESC, doc_id) AS rank FROM f
) WHERE rank <= 20
ORDER BY rank
"""

@query(
    "script_mixture_audit",
    f"""
WITH seeded AS (
  SELECT doc_id, source, {_SCRIPT_SEED_SQL} AS s FROM documents
),
counted AS (
  SELECT doc_id, source,
    length(s) - length(regexp_replace(s, '[a-zA-Z]', '', 'g')) AS n_latin,
    length(s) - length(regexp_replace(s, '[\\x{{0400}}-\\x{{04FF}}]', '', 'g'))
      AS n_cyrillic,
    length(s) - length(regexp_replace(s, '[\\x{{4E00}}-\\x{{9FFF}}]', '', 'g'))
      AS n_cjk,
    length(s) - length(regexp_replace(s, '[\\x{{0370}}-\\x{{03FF}}]', '', 'g'))
      AS n_greek
  FROM seeded
),
flagged AS (
  SELECT doc_id,
    CASE WHEN n_latin >= n_cyrillic AND n_latin >= n_cjk
              AND n_latin >= n_greek THEN 'latin'
         WHEN n_cyrillic >= n_cjk AND n_cyrillic >= n_greek THEN 'cyrillic'
         WHEN n_cjk >= n_greek THEN 'cjk'
         ELSE 'greek' END AS dominant_script,
    (CASE WHEN n_latin > 0 THEN 1 ELSE 0 END
     + CASE WHEN n_cyrillic > 0 THEN 1 ELSE 0 END
     + CASE WHEN n_cjk > 0 THEN 1 ELSE 0 END
     + CASE WHEN n_greek > 0 THEN 1 ELSE 0 END) >= 2 AS mixed_script,
    n_latin, n_cyrillic, n_cjk, n_greek
  FROM counted
)
SELECT dominant_script, mixed_script,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum,
       CAST(SUM(n_latin) AS BIGINT) AS latin_chars,
       CAST(SUM(n_cyrillic) AS BIGINT) AS cyrillic_chars,
       CAST(SUM(n_cjk) AS BIGINT) AS cjk_chars,
       CAST(SUM(n_greek) AS BIGINT) AS greek_chars
FROM flagged
GROUP BY dominant_script, mixed_script
ORDER BY dominant_script, mixed_script
""",
)
def script_mixture_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNICODE-SCRIPT mixture audit: per-document character counts by
    script range (Latin, Cyrillic, CJK, Greek — explicit code-point
    ranges, engine-portable in both Java regex and RE2), a dominant
    script per document with a fixed tie-break order, and a
    mixed-script flag — the classic spam/SEO-keyword-stuffing signal
    (a 'mostly-Latin page with embedded CJK runs' is the single
    highest-precision web-spam feature in the CCNet/FineWeb lineage)
    and the pre-langid routing check for multilingual corpora.

    The corpus is ASCII-synthetic, so non-Latin runs are SEEDED
    in-plan by an identical CASE on both engines (the pii_scrub /
    url_normalize discipline); all seeds are single-code-point BMP
    characters so Spark's code-point length and DuckDB's grapheme
    length count identically (probed both engines). Counts are pure
    integer projections; the rollup carries an id checksum so cell
    MEMBERSHIP is verified, not just sizes.

    Scale: per-row regex counting inside whole-stage codegen, one
    (dominant, mixed)-keyed partial agg; output ≤ 8 cells.
    """
    docs = load(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id", "source", F.expr(_SCRIPT_SEED_SQL).alias("s")
    )

    def cnt(pat: str):
        return F.length("s") - F.length(F.regexp_replace("s", pat, ""))

    counted = seeded.select(
        "doc_id",
        cnt("[a-zA-Z]").alias("n_latin"),
        cnt(r"[\x{0400}-\x{04FF}]").alias("n_cyrillic"),
        cnt(r"[\x{4E00}-\x{9FFF}]").alias("n_cjk"),
        cnt(r"[\x{0370}-\x{03FF}]").alias("n_greek"),
    )
    dom = (
        F.when(
            (F.col("n_latin") >= F.col("n_cyrillic"))
            & (F.col("n_latin") >= F.col("n_cjk"))
            & (F.col("n_latin") >= F.col("n_greek")),
            F.lit("latin"),
        )
        .when(
            (F.col("n_cyrillic") >= F.col("n_cjk"))
            & (F.col("n_cyrillic") >= F.col("n_greek")),
            F.lit("cyrillic"),
        )
        .when(F.col("n_cjk") >= F.col("n_greek"), F.lit("cjk"))
        .otherwise(F.lit("greek"))
    )
    nz = lambda c: F.when(F.col(c) > 0, 1).otherwise(0)  # noqa: E731
    flagged = counted.select(
        "doc_id",
        dom.alias("dominant_script"),
        (
            (nz("n_latin") + nz("n_cyrillic") + nz("n_cjk") + nz("n_greek"))
            >= 2
        ).alias("mixed_script"),
        "n_latin",
        "n_cyrillic",
        "n_cjk",
        "n_greek",
    )
    return (
        flagged.groupBy("dominant_script", "mixed_script")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
            F.sum("n_latin").cast("long").alias("latin_chars"),
            F.sum("n_cyrillic").cast("long").alias("cyrillic_chars"),
            F.sum("n_cjk").cast("long").alias("cjk_chars"),
            F.sum("n_greek").cast("long").alias("greek_chars"),
        )
        .orderBy("dominant_script", "mixed_script")
    )

@query(
    "c4_line_filters",
    """
WITH dt AS (
  SELECT doc_id, source,
         list_filter(string_split(text, ' '), x -> x <> '') AS t
  FROM documents
),
ln0 AS (
  SELECT doc_id, source, t,
         UNNEST(generate_series(0,
                GREATEST(CAST(FLOOR((len(t) + 11) / 12) AS INT), 1) - 1))
           AS line_id
  FROM dt
),
ln1 AS (
  -- COALESCE: on a zero-token doc the guarded single line slices an
  -- empty list, and DuckDB's array_to_string([]) is NULL where
  -- Spark's array_join([]) is '' — without it the NULL line would
  -- fall through every CASE arm to 'kept'
  SELECT doc_id, source, line_id,
         COALESCE(array_to_string(
           list_slice(t, line_id * 12 + 1, line_id * 12 + 12), ' '), '')
           AS base
  FROM ln0
),
ln2 AS (
  SELECT doc_id, source, line_id,
         CASE WHEN doc_id % 97 = 13 AND line_id = 0
                THEN 'lorem ipsum ' || base
              WHEN doc_id % 13 = 4 AND line_id = 0
                THEN 'javascript ' || base
              WHEN doc_id % 41 = 7 AND line_id = 1 THEN base || ' {'
              ELSE base END AS base2
  FROM ln1
),
lines AS (
  SELECT doc_id, source,
         CASE WHEN (doc_id + line_id) % 3 <> 0 THEN base2 || '.'
              ELSE base2 END AS line
  FROM ln2
),
judged AS (
  SELECT doc_id, source, line,
         CASE WHEN contains(line, 'javascript') THEN 'js'
              WHEN contains(line, '{') THEN 'brace'
              WHEN len(string_split(line, ' ')) < 5 THEN 'short'
              WHEN right(line, 1) NOT IN ('.', '!', '?') THEN 'no_punct'
              ELSE 'kept' END AS verdict
  FROM lines
),
perdoc AS (
  SELECT doc_id, source,
         CAST(COUNT(*) AS BIGINT) AS n_lines,
         CAST(SUM(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
           AS lines_kept,
         CAST(SUM(CASE WHEN verdict = 'js' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_js,
         CAST(SUM(CASE WHEN verdict = 'brace' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_brace,
         CAST(SUM(CASE WHEN verdict = 'short' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_short,
         CAST(SUM(CASE WHEN verdict = 'no_punct' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_no_punct,
         MAX(CASE WHEN contains(line, 'lorem ipsum') THEN 1 ELSE 0 END)
           AS has_lorem
  FROM judged GROUP BY doc_id, source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN lines_kept >= 3 AND has_lorem = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_kept,
       CAST(SUM(n_lines) AS BIGINT) AS n_lines,
       CAST(SUM(lines_kept) AS BIGINT) AS lines_kept,
       CAST(SUM(n_js) AS BIGINT) AS js_lines,
       CAST(SUM(n_brace) AS BIGINT) AS brace_lines,
       CAST(SUM(n_short) AS BIGINT) AS short_lines,
       CAST(SUM(n_no_punct) AS BIGINT) AS no_punct_lines,
       FLOOR((SUM(lines_kept) * 1.0 / SUM(n_lines)) * 10000 + 0.5) / 10000
         AS line_keep_rate4
FROM perdoc GROUP BY source ORDER BY source
""",
)
def c4_line_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 LINE-LEVEL heuristic filters (Raffel et al. 2020 §2.2 — the
    half of C4 the pseudo-sentence boilerplate strip doesn't cover):
    per LINE, keep only lines that end in terminal punctuation, have
    ≥5 words, and mention neither 'javascript' nor '{'; per DOCUMENT,
    keep only docs with ≥3 surviving lines and no 'lorem ipsum'.
    Reported as the per-source funnel (docs/lines kept, drops
    attributed to the FIRST failing rule in a fixed order — js >
    brace > short > no_punct — so every dropped line has exactly one
    reason).

    The corpus has no newlines or punctuation, so lines are rebuilt at
    a 12-token grain and the trigger features (terminal '.', a
    'javascript' line, a '{' line, a 'lorem ipsum' doc) are SEEDED by
    identical deterministic CASEs on both engines (the pii_scrub
    seeding discipline; the boilerplate_strip line-grain twin).

    Scale: tokenize-once-per-doc feeding the explode (the
    chunk_documents CollapseProject boundary); everything after is a
    per-line projection plus two keyed partial aggs; no shuffle
    carries text beyond the line relation itself.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.expr("filter(split(text, ' '), x -> x != '')").alias("t"),
    ).withColumn("_n", F.size("t"))
    # GREATEST(..., 1): a zero-token doc still yields ONE empty line on
    # both engines (dropped as 'short') — without it Spark's
    # sequence(0, -1) DESCENDS ([0, -1]) while DuckDB's
    # generate_series(0, -1) is empty, a silent row-count divergence
    n_lines = F.greatest(
        F.floor((F.col("_n") + 11) / F.lit(12)).cast("int"), F.lit(1)
    )
    ln0 = toks.select(
        "doc_id",
        "source",
        "t",
        F.explode(F.sequence(F.lit(0), n_lines - 1)).alias("line_id"),
    )
    base = F.array_join(
        F.slice(F.col("t"), F.col("line_id") * 12 + 1, F.lit(12)), " "
    )
    ln1 = ln0.select("doc_id", "source", "line_id", base.alias("base"))
    base2 = (
        F.when(
            (F.col("doc_id") % 97 == 13) & (F.col("line_id") == 0),
            F.concat(F.lit("lorem ipsum "), F.col("base")),
        )
        .when(
            (F.col("doc_id") % 13 == 4) & (F.col("line_id") == 0),
            F.concat(F.lit("javascript "), F.col("base")),
        )
        .when(
            (F.col("doc_id") % 41 == 7) & (F.col("line_id") == 1),
            F.concat(F.col("base"), F.lit(" {")),
        )
        .otherwise(F.col("base"))
    )
    ln2 = ln1.select("doc_id", "source", "line_id", base2.alias("base2"))
    line = F.when(
        (F.col("doc_id") + F.col("line_id")) % 3 != 0,
        F.concat(F.col("base2"), F.lit(".")),
    ).otherwise(F.col("base2"))
    lines = ln2.select("doc_id", "source", line.alias("line"))
    verdict = (
        F.when(F.col("line").contains("javascript"), F.lit("js"))
        .when(F.col("line").contains("{"), F.lit("brace"))
        .when(F.size(F.split("line", " ")) < 5, F.lit("short"))
        .when(
            ~F.expr("right(line, 1)").isin(".", "!", "?"), F.lit("no_punct")
        )
        .otherwise(F.lit("kept"))
    )
    judged = lines.select("doc_id", "source", "line", verdict.alias("verdict"))
    vc = lambda v: F.sum(  # noqa: E731
        F.when(F.col("verdict") == v, 1).otherwise(0)
    ).cast("long")
    perdoc = judged.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        vc("kept").alias("lines_kept"),
        vc("js").alias("n_js"),
        vc("brace").alias("n_brace"),
        vc("short").alias("n_short"),
        vc("no_punct").alias("n_no_punct"),
        F.max(
            F.when(F.col("line").contains("lorem ipsum"), 1).otherwise(0)
        ).alias("has_lorem"),
    )
    return (
        perdoc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                F.when(
                    (F.col("lines_kept") >= 3) & (F.col("has_lorem") == 0), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("docs_kept"),
            F.sum("n_lines").cast("long").alias("n_lines"),
            F.sum("lines_kept").cast("long").alias("lines_kept"),
            F.sum("n_js").cast("long").alias("js_lines"),
            F.sum("n_brace").cast("long").alias("brace_lines"),
            F.sum("n_short").cast("long").alias("short_lines"),
            F.sum("n_no_punct").cast("long").alias("no_punct_lines"),
            rnd(F.sum("lines_kept") * 1.0 / F.sum("n_lines"), 4).alias(
                "line_keep_rate4"
            ),
        )
        .orderBy("source")
    )

@query(
    "heaps_law_fit",
    """
WITH toks AS (
  SELECT doc_id, t.tok AS tok
  FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
  WHERE t.tok <> ''
),
ids AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM documents),
dtc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nt FROM toks GROUP BY doc_id),
ddec AS (
  SELECT CAST(((d.doc_id - i.mn) * 10) // (i.mx - i.mn + 1) + 1 AS BIGINT)
           AS dec,
         CAST(SUM(d.nt) AS BIGINT) AS toks
  FROM dtc d CROSS JOIN ids i GROUP BY 1
),
fdoc AS (SELECT tok, MIN(doc_id) AS fd FROM toks GROUP BY tok),
vdec AS (
  SELECT CAST(((f.fd - i.mn) * 10) // (i.mx - i.mn + 1) + 1 AS BIGINT) AS dec,
         CAST(COUNT(*) AS BIGINT) AS nv
  FROM fdoc f CROSS JOIN ids i GROUP BY 1
),
grid AS (
  SELECT g.dec,
         SUM(COALESCE(d.toks, 0)) OVER (ORDER BY g.dec) AS cum_toks,
         SUM(COALESCE(v.nv, 0)) OVER (ORDER BY g.dec) AS cum_vocab
  FROM (SELECT UNNEST(generate_series(1, 10)) AS dec) g
  LEFT JOIN ddec d ON d.dec = g.dec
  LEFT JOIN vdec v ON v.dec = g.dec
),
q AS (
  SELECT LN(CAST(cum_toks AS DOUBLE)) AS x,
         LN(CAST(cum_vocab AS DOUBLE)) AS y
  FROM grid WHERE cum_toks > 0 AND cum_vocab > 0
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(FLOOR(x * 1000000000 + 0.5) AS BIGINT)) AS DOUBLE)
           / 1000000000 AS sx,
         CAST(SUM(CAST(FLOOR(y * 1000000000 + 0.5) AS BIGINT)) AS DOUBLE)
           / 1000000000 AS sy,
         CAST(SUM(CAST(FLOOR((x * y) * 1000000000 + 0.5) AS BIGINT)) AS DOUBLE)
           / 1000000000 AS sxy,
         CAST(SUM(CAST(FLOOR((x * x) * 1000000000 + 0.5) AS BIGINT)) AS DOUBLE)
           / 1000000000 AS sxx
  FROM q
),
fit AS (
  SELECT n, sx, sy,
         FLOOR((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1000000 + 0.5)
           / 1000000 AS beta6
  FROM s
)
SELECT (SELECT CAST(SUM(nt) AS BIGINT) FROM dtc) AS tokens_total,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM fdoc) AS vocab_total,
       n AS n_points, beta6,
       FLOOR((sy - beta6 * sx) / n * 1000000 + 0.5) / 1000000 AS lnk6
FROM fit
""",
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAPS'-LAW fit of vocabulary growth — V(n) = K·n^β estimated as
    the log-log least-squares line through (cumulative tokens,
    cumulative vocabulary) at ten id-space decile checkpoints — the
    companion diagnostic to zipf_fit_stats every corpus report pairs
    it with (natural text sits near β ≈ 0.5; a template-generated or
    heavily-duplicated corpus flattens toward β → 0 because new
    documents stop introducing new words).

    The checkpoints cut the DOC-ID SPACE into ten integer deciles
    (pure arithmetic on min/max ids — no row sort, no per-row
    cumulative): cumulative tokens per decile come from per-doc token
    counts bucketed by decile, and cumulative vocabulary from each
    token's FIRST document (min doc_id, one groupBy) bucketed the same
    way — so 'vocabulary at checkpoint q' is exact first-occurrence
    counting, computed from two bounded 10-row relations. The
    regression reuses zipf_fit_stats' 1e9-quantized exact-integer sums
    and 6-dp slope/intercept; β is the slope, ln K the intercept.

    Scale: two map-side-combinable groupBys (per-doc counts, per-token
    min) over the token stream; every window runs over ≤10 rows.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    ids = docs.agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    )
    dtc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("nt")
    )
    ddec = (
        dtc.crossJoin(F.broadcast(ids))
        .select(
            F.expr("((doc_id - mn) * 10) div (mx - mn + 1) + 1")
            .cast("long")
            .alias("dec"),
            "nt",
        )
        .groupBy("dec")
        .agg(F.sum("nt").cast("long").alias("toks"))
    )
    fdoc = toks.groupBy("tok").agg(F.min("doc_id").alias("fd"))
    vdec = (
        fdoc.crossJoin(F.broadcast(ids))
        .select(
            F.expr("((fd - mn) * 10) div (mx - mn + 1) + 1")
            .cast("long")
            .alias("dec")
        )
        .groupBy("dec")
        .agg(F.count(F.lit(1)).cast("long").alias("nv"))
    )
    g = spark.range(1, 11).select(F.col("id").alias("dec"))
    w = Window.orderBy("dec")
    grid = (
        g.join(ddec, "dec", "left")
        .join(vdec, "dec", "left")
        .select(
            "dec",
            F.sum(F.coalesce("toks", F.lit(0))).over(w).alias("cum_toks"),
            F.sum(F.coalesce("nv", F.lit(0))).over(w).alias("cum_vocab"),
        )
    )
    qd = grid.filter((F.col("cum_toks") > 0) & (F.col("cum_vocab") > 0)).select(
        F.log(F.col("cum_toks").cast("double")).alias("x"),
        F.log(F.col("cum_vocab").cast("double")).alias("y"),
    )

    def qsum(c, name):
        return (
            F.sum(F.floor(c * F.lit(1000000000) + F.lit(0.5)).cast("long")).cast(
                "double"
            )
            / F.lit(1000000000)
        ).alias(name)

    s = qd.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        qsum(F.col("x"), "sx"),
        qsum(F.col("y"), "sy"),
        qsum(F.col("x") * F.col("y"), "sxy"),
        qsum(F.col("x") * F.col("x"), "sxx"),
    )
    beta6 = rnd(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")),
        6,
    )
    fit = s.select("n", "sx", "sy", beta6.alias("beta6"))
    totals = dtc.agg(F.sum("nt").cast("long").alias("tokens_total")).crossJoin(
        fdoc.agg(F.count(F.lit(1)).cast("long").alias("vocab_total"))
    )
    return fit.crossJoin(F.broadcast(totals)).select(
        "tokens_total",
        "vocab_total",
        F.col("n").alias("n_points"),
        "beta6",
        rnd((F.col("sy") - F.col("beta6") * F.col("sx")) / F.col("n"), 6).alias(
            "lnk6"
        ),
    )

@query(
    "token_burstiness_topk",
    """
WITH toks AS (
  SELECT doc_id, t.tok AS tok
  FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
  WHERE t.tok <> ''
),
stats AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS cf,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM toks GROUP BY tok
),
f AS (
  SELECT tok, cf, df,
         FLOOR((cf * 1.0 / df) * 10000 + 0.5) / 10000 AS burstiness4
  FROM stats WHERE df >= 5
)
SELECT CAST(rank AS BIGINT) AS rank, tok, cf, df, burstiness4 FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY burstiness4 DESC, tok ASC) AS rank
  FROM f
) WHERE rank <= 20
ORDER BY rank
""",
)
def token_burstiness_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN BURSTINESS (Church & Gale: collection frequency over
    document frequency — mean occurrences per document that contains
    the token at all): the top-20 burstiest tokens with support ≥ 5
    docs. A content word occurs in bursts (high cf/df) while function
    words spread thin (cf/df → 1); on a WEB corpus the extreme tail of
    this ranking is boilerplate — nav text, cookie banners, templated
    footers — which is exactly what the winnowing max_doc_freq cap and
    the CCNet boilerplate strip need tuned against, measured instead
    of guessed.

    Determinism: cf and df are exact integers; the single division
    rounds at 4 dp; ties break on the token.

    Scale: one token-keyed groupBy (cf is map-side-combinable; df's
    COUNT DISTINCT partial-aggs per token); the ranked relation is
    vocabulary-sized; the top-20 is the salted two-level
    topk_per_group — no global sort.
    """
    from etl_weather_spark.operators.similarity import topk_per_group

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    stats = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("cf"),
        F.count_distinct("doc_id").cast("long").alias("df"),
    )
    f = stats.filter(F.col("df") >= 5).select(
        "tok",
        "cf",
        "df",
        rnd(F.col("cf") * 1.0 / F.col("df"), 4).alias("burstiness4"),
    )
    return (
        topk_per_group(
            f.withColumn("__g", F.lit(1)),
            group_col="__g",
            k=20,
            sim_col="burstiness4",
            tie_col="tok",
        )
        .select(
            F.col("rank").cast("long").alias("rank"),
            "tok",
            "cf",
            "df",
            "burstiness4",
        )
        .orderBy("rank")
    )

def _qnorm_oracle() -> str:
    """Embed the registered logistic-quality oracle verbatim and
    quantile-normalize its z score across sources."""
    return f"""
WITH ql AS MATERIALIZED (
  SELECT doc_id, z FROM ({_ORACLES["quality_logistic_filter"]}
  )
),
d AS (
  SELECT q.doc_id, dc.source, FLOOR(q.z * 1000 + 0.5) / 1000 AS z3
  FROM ql q JOIN documents dc ON dc.doc_id = q.doc_id
),
sh AS (SELECT source, z3, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1, 2),
scum AS (
  SELECT source, z3,
         SUM(c) OVER (PARTITION BY source ORDER BY z3) AS cc,
         SUM(c) OVER (PARTITION BY source) AS n
  FROM sh
),
srank AS (SELECT source, z3, cc * 1.0 / n AS r FROM scum),
ch AS (SELECT z3 AS x, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY 1),
ccum AS (
  SELECT x, SUM(c) OVER (ORDER BY x) AS cc, SUM(c) OVER () AS n FROM ch
),
cfrac AS (SELECT x, cc * 1.0 / n AS f FROM ccum),
map AS (
  SELECT s.source, s.z3, s.r, MIN(c.x) AS z_norm3
  FROM srank s JOIN cfrac c ON c.f >= s.r
  GROUP BY s.source, s.z3, s.r
)
SELECT d.doc_id, d.source, d.z3,
       FLOOR(m.r * 1000000 + 0.5) / 1000000 AS src_rank6,
       m.z_norm3
FROM d JOIN map m ON m.source = d.source AND m.z3 = d.z3
ORDER BY d.doc_id
"""

@query("quality_score_quantile_norm", _qnorm_oracle())
def quality_score_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SOURCE score calibration by QUANTILE NORMALIZATION: map
    each document's quality score onto the corpus-wide score value at
    its source-relative rank — the fix for the fact that a raw
    classifier score is not comparable across sources (each source has
    its own score distribution, so one global threshold over-filters
    some sources and under-filters others; FineWeb-class pipelines
    tune per-source thresholds — this op removes the need by making
    one threshold mean the same quantile everywhere). The normalized
    score is z_norm = min corpus value whose cumulative fraction ≥ the
    doc's within-source cumulative fraction (the nearest-rank
    convention of length_percentiles_by_source).

    The score is the REGISTERED logistic-quality z reused verbatim
    (Spark calls the registered query; the oracle embeds its oracle —
    the release-report discipline).

    Determinism: z quantizes to 3 dp; both cumulative fractions are
    exact integer ratios (correctly-rounded double division, identical
    on both engines); the rank→value lookup is an integer-backed
    non-equi min.

    Scale: both cumulative windows run over DISTINCT (source, score)
    / (score) relations — bounded by 3-dp score cardinality, never a
    row sort (the mad/percentile histogram discipline); the rank→
    value mapping is a dimension × dimension broadcast range join;
    the only row-grain stages are the score projection and the final
    dimension-keyed joins.
    """
    ql = _QUERIES["quality_logistic_filter"](spark, sf_dir).select(
        "doc_id", "z"
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    d = fence(ql.join(docs, "doc_id").select(
        "doc_id", "source", rnd(F.col("z"), 3).alias("z3")
    ))
    sh = d.groupBy("source", "z3").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    ws = Window.partitionBy("source").orderBy("z3")
    wsn = Window.partitionBy("source")
    srank = sh.select(
        "source",
        "z3",
        (F.sum("c").over(ws) * 1.0 / F.sum("c").over(wsn)).alias("r"),
    )
    ch = d.groupBy("z3").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wc = Window.orderBy("z3")
    wcn = Window.partitionBy()
    cfrac = ch.select(
        F.col("z3").alias("x"),
        (F.sum("c").over(wc) * 1.0 / F.sum("c").over(wcn)).alias("f"),
    )
    mapped = (
        srank.join(F.broadcast(cfrac), F.col("f") >= F.col("r"))
        .groupBy("source", "z3", "r")
        .agg(F.min("x").alias("z_norm3"))
    )
    return (
        d.join(mapped, ["source", "z3"])
        .select(
            "doc_id",
            "source",
            "z3",
            rnd(F.col("r"), 6).alias("src_rank6"),
            "z_norm3",
        )
        .orderBy("doc_id")
    )

_FLESCH_EASY = 70.0

_FLESCH_STANDARD = 50.0

_FLESCH_DIFFICULT = 30.0

@query(
    "readability_flesch_gate",
    r"""
WITH m AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_words,
         CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
           AS n_sentences,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
           AS n_syllables
  FROM documents
),
scored AS (
  SELECT doc_id, n_words, n_sentences, n_syllables,
         FLOOR((CAST(n_words AS DOUBLE) / n_sentences) * 1000000 + 0.5)
           / 1000000 AS words_per_sentence6,
         FLOOR((CAST(n_syllables AS DOUBLE) / GREATEST(n_words, 1))
               * 1000000 + 0.5) / 1000000 AS syllables_per_word6,
         FLOOR((206.835
                - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                - 84.6 * (CAST(n_syllables AS DOUBLE) / GREATEST(n_words, 1)))
               * 1000000 + 0.5) / 1000000 AS flesch6,
         FLOOR((0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
                + 11.8 * (CAST(n_syllables AS DOUBLE) / GREATEST(n_words, 1))
                - 15.59)
               * 1000000 + 0.5) / 1000000 AS fk_grade6
  FROM m
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       words_per_sentence6, syllables_per_word6, flesch6, fk_grade6,
       CASE WHEN flesch6 >= 70.0 THEN 'easy'
            WHEN flesch6 >= 50.0 THEN 'standard'
            WHEN flesch6 >= 30.0 THEN 'difficult'
            ELSE 'very_difficult' END AS band,
       (n_words >= 5 AND flesch6 >= 30.0) AS keep
FROM scored ORDER BY doc_id
""",
)
def readability_flesch_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """READABILITY gate — Flesch reading-ease + Flesch-Kincaid grade
    per document from surface counts (words = non-space runs,
    sentences = [.!?]+ runs clamped ≥ 1, syllables = vowel-group runs,
    the standard library-free heuristic), banded into the published
    score ranges and gated at the 'difficult' floor. Readability is a
    classic curation signal (textbook-quality selection pipelines gate
    on it); unlike the classifier variants it is exactly replayable,
    so the driver hash-verifies every score.

    Determinism: both engines run the IDENTICAL regexes ('\\S+',
    '[.!?]+', '[aeiouy]+' — no engine-divergent syntax) and the
    IDENTICAL double expression shape for the two formulas, so the
    6-dp floor-rounded scores match bit-for-bit; the band CASE reads
    the ROUNDED score, never the raw double.

    Scale: pure stateless projection + one count — no shuffle at all
    until the final ORDER BY (display only). Three regexp_count passes
    per document, all JVM-side codegen; at 100 TB this is a map-only
    job that saturates scan bandwidth.
    """
    docs = load(spark, sf_dir, "documents")
    wps = F.col("n_words").cast("double") / F.col("n_sentences")
    spw = F.col("n_syllables").cast("double") / F.greatest(
        F.col("n_words"), F.lit(1)
    )
    scored = docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(r"\S+")).cast("long").alias(
            "n_words"
        ),
        F.greatest(
            F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1)
        )
        .cast("long")
        .alias("n_sentences"),
        F.regexp_count(F.lower(F.col("text")), F.lit(r"[aeiouy]+"))
        .cast("long")
        .alias("n_syllables"),
    ).select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        rnd(wps, 6).alias("words_per_sentence6"),
        rnd(spw, 6).alias("syllables_per_word6"),
        rnd(F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw, 6).alias(
            "flesch6"
        ),
        rnd(
            F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59), 6
        ).alias("fk_grade6"),
    )
    return scored.select(
        "*",
        F.when(F.col("flesch6") >= _FLESCH_EASY, F.lit("easy"))
        .when(F.col("flesch6") >= _FLESCH_STANDARD, F.lit("standard"))
        .when(F.col("flesch6") >= _FLESCH_DIFFICULT, F.lit("difficult"))
        .otherwise(F.lit("very_difficult"))
        .alias("band"),
        (
            (F.col("n_words") >= 5)
            & (F.col("flesch6") >= F.lit(_FLESCH_DIFFICULT))
        ).alias("keep"),
    ).orderBy("doc_id")

def _ndcg_oracle() -> str:
    """Embed the registered bm25_topk oracle verbatim as the ranking
    under evaluation; grade relevance by distinct-query-term count over
    the same tokenization; identical quantized log-discount algebra."""
    term6 = sql_round("h.rel * ln(2.0) / ln(h.rank + 1.0)", 6)
    iterm6 = sql_round("i.rel * ln(2.0) / ln(i.rank + 1.0)", 6)
    return f"""
WITH ranked AS (
  SELECT doc_id, rank FROM ({_ORACLES["bm25_topk"]}
  ) WHERE rank <= 10
),
toks AS (
  SELECT doc_id, t.tok AS tok
  FROM documents, UNNEST(string_split(text, ' ')) AS t(tok)
  WHERE t.tok <> ''
),
rel AS (
  SELECT doc_id, CAST(COUNT(DISTINCT tok) AS BIGINT) AS rel
  FROM toks WHERE tok IN ('table', 'scan', 'merge') GROUP BY doc_id
),
nrel AS (
  SELECT CAST(COUNT(CASE WHEN rel >= 2 THEN 1 END) AS BIGINT) AS n_relevant
  FROM rel
),
hits AS (
  SELECT r.rank, COALESCE(e.rel, 0) AS rel
  FROM ranked r LEFT JOIN rel e ON e.doc_id = r.doc_id
),
dcg AS (
  SELECT {sql_dsum(term6.replace('h.', ''), 6)} AS dcg10_6,
         CAST(COUNT(*) AS BIGINT) AS n_retrieved,
         CAST(COUNT(CASE WHEN rel >= 2 THEN 1 END) AS BIGINT) AS hits10,
         MIN(CASE WHEN rel >= 2 THEN rank END) AS first_rel_rank
  FROM hits h
),
ideal AS (
  SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id ASC) AS rank
  FROM rel
),
idcg AS (
  SELECT {sql_dsum(iterm6.replace('i.', ''), 6)} AS idcg10_6
  FROM ideal i WHERE rank <= 10
)
SELECT CAST(10 AS BIGINT) AS k,
       n.n_relevant, d.n_retrieved, d.hits10,
       {sql_round("d.hits10 * 1.0 / 10", 6)} AS precision10_6,
       {sql_round("d.hits10 * 1.0 / GREATEST(n.n_relevant, 1)", 6)}
         AS recall10_6,
       CASE WHEN d.first_rel_rank IS NULL THEN 0.0
            ELSE {sql_round("1.0 / d.first_rel_rank", 6)} END AS mrr6,
       d.dcg10_6, g.idcg10_6,
       CASE WHEN g.idcg10_6 > 0
            THEN {sql_round("d.dcg10_6 / g.idcg10_6", 6)}
            ELSE 0.0 END AS ndcg10_6
FROM dcg d CROSS JOIN idcg g CROSS JOIN nrel n
"""

@query("retrieval_ndcg_audit", _ndcg_oracle())
def retrieval_ndcg_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANKING-QUALITY audit of the registered BM25 leg — the metrics a
    retrieval deployment reports before swapping rankers: nDCG@10 with
    graded relevance (distinct query terms present, 1–3, log2 discount),
    precision/recall@10 and MRR against the STRICT relevance cut
    (rel ≥ 2 — at least two of the three query terms; every BM25 hit
    trivially contains ≥ 1 term, so the binary metrics are only
    meaningful above that floor), and the DCG/IDCG components. The
    ranking under evaluation is the REGISTERED bm25_topk reused
    verbatim (oracle embeds its oracle — the composition discipline);
    relevance is graded over the same whitespace tokenization.

    Determinism: each log-discounted gain rounds at 6 dp before a
    decimal dsum (both engines run identical ln/divide/floor
    sequences); the ideal ranking tie-breaks (rel desc, doc_id asc).

    Scale: the judged list is 10 rows; the relevance relation is
    bounded by the query terms' posting lists (IN-list pruned
    map-side); IDCG's global window runs over the top-10 of that
    bounded relation via one TakeOrdered — nothing row-grain shuffles.
    """
    terms = ["table", "scan", "merge"]
    ranked = (
        _QUERIES["bm25_topk"](spark, sf_dir)
        .filter(F.col("rank") <= 10)
        .select("doc_id", "rank")
    )
    docs = load(spark, sf_dir, "documents")
    rel = fence(
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok").isin(terms))
        .groupBy("doc_id")
        .agg(F.count_distinct("tok").cast("long").alias("rel"))
    )
    nrel = rel.agg(
        F.count(F.when(F.col("rel") >= 2, 1)).cast("long").alias("n_relevant")
    )
    hits = ranked.join(rel, "doc_id", "left").select(
        "rank", F.coalesce(F.col("rel"), F.lit(0)).alias("rel")
    )
    t6 = rnd(
        F.col("rel") * F.log(F.lit(2.0)) / F.log(F.col("rank") + F.lit(1.0)),
        6,
    )
    dcg = hits.select("rank", "rel", t6.alias("t6")).agg(
        dsum("t6", 6).alias("dcg10_6"),
        F.count(F.lit(1)).cast("long").alias("n_retrieved"),
        F.count(F.when(F.col("rel") >= 2, 1)).cast("long").alias("hits10"),
        F.min(F.when(F.col("rel") >= 2, F.col("rank"))).alias(
            "first_rel_rank"
        ),
    )
    wi = Window.orderBy(F.desc("rel"), F.asc("doc_id"))
    ideal = (
        rel.withColumn("rank", F.row_number().over(wi))
        .filter(F.col("rank") <= 10)
        .select(
            rnd(
                F.col("rel")
                * F.log(F.lit(2.0))
                / F.log(F.col("rank") + F.lit(1.0)),
                6,
            ).alias("t6")
        )
    )
    idcg = ideal.agg(dsum("t6", 6).alias("idcg10_6"))
    return (
        dcg.crossJoin(F.broadcast(idcg))
        .crossJoin(F.broadcast(nrel))
        .select(
            F.lit(10).cast("long").alias("k"),
            "n_relevant",
            "n_retrieved",
            "hits10",
            rnd(F.col("hits10") * 1.0 / 10, 6).alias("precision10_6"),
            rnd(
                F.col("hits10") * 1.0 / F.greatest(F.col("n_relevant"), F.lit(1)),
                6,
            ).alias("recall10_6"),
            F.when(
                F.col("first_rel_rank").isNull(), F.lit(0.0)
            )
            .otherwise(rnd(F.lit(1.0) / F.col("first_rel_rank"), 6))
            .alias("mrr6"),
            "dcg10_6",
            "idcg10_6",
            F.when(
                F.col("idcg10_6") > 0,
                rnd(F.col("dcg10_6") / F.col("idcg10_6"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("ndcg10_6"),
        )
    )

def _langid_confusion_oracle() -> str:
    """Embed the registered lang_quality oracle verbatim; roll its
    (lang, lang_pred) into the confusion matrix with per-true-lang row
    shares and the corpus accuracy."""
    return f"""
WITH scored AS (
  SELECT doc_id, lang, lang_pred FROM ({_ORACLES["lang_quality"]}
  )
),
cells AS (
  SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
  FROM scored GROUP BY lang, lang_pred
),
rows_tot AS (
  SELECT lang, CAST(SUM(n) AS BIGINT) AS lang_total FROM cells GROUP BY lang
),
acc AS (
  SELECT FLOOR((SUM(CASE WHEN lang = lang_pred THEN n ELSE 0 END) * 1.0
                / SUM(n)) * 1000000 + 0.5) / 1000000 AS accuracy6
  FROM cells
)
SELECT c.lang, c.lang_pred, c.n, r.lang_total,
       FLOOR((c.n * 1.0 / r.lang_total) * 1000000 + 0.5) / 1000000
         AS row_share6,
       a.accuracy6
FROM cells c
JOIN rows_tot r ON r.lang = c.lang
CROSS JOIN acc a
ORDER BY c.lang, c.lang_pred
"""

@query("langid_confusion_matrix", _langid_confusion_oracle())
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LANGUAGE-ID EVALUATION — the confusion matrix of the registered
    stopword-heuristic language detector (lang_quality's lang_pred)
    against the stored language label: per (true lang, predicted lang)
    cell the document count and its share of the true language's row,
    plus the corpus accuracy. This is the third leg of the evaluation
    tier (ranking: retrieval_ndcg_audit; classification: quality_pr_
    curve; now multiclass detection) — the table that decides whether
    the cheap n-gram detector is good enough to gate on, and which
    language pairs it confuses (the und/low-resource failure mode the
    CCNet lineage documents).

    The detector is the REGISTERED lang_quality reused verbatim; the
    oracle embeds its oracle (the composition discipline).

    Scale: lang_quality's own bounded plan (one token pass) + a
    |langs|²-dimension rollup — the matrix never exceeds dimension
    grain.
    """
    scored = _QUERIES["lang_quality"](spark, sf_dir).select(
        "lang", "lang_pred"
    )
    cells = scored.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    cells = fence(cells)
    rows_tot = cells.groupBy("lang").agg(
        F.sum("n").cast("long").alias("lang_total")
    )
    acc = cells.agg(
        rnd(
            F.sum(F.when(F.col("lang") == F.col("lang_pred"), F.col("n")).otherwise(0))
            * 1.0
            / F.sum("n"),
            6,
        ).alias("accuracy6")
    )
    return (
        cells.join(rows_tot, "lang")
        .crossJoin(F.broadcast(acc))
        .select(
            "lang",
            "lang_pred",
            "n",
            "lang_total",
            rnd(F.col("n") * 1.0 / F.col("lang_total"), 6).alias("row_share6"),
            "accuracy6",
        )
        .orderBy("lang", "lang_pred")
    )


# ---------------------------------------------------------------------------
# round 9: the tokenizer joins the committed-artifact registry — the
# merge table is trained once per corpus version and committed; token
# accounting reads the committed vocab (the quality-classifier pattern
# applied to the second fitted-artifact class).
# ---------------------------------------------------------------------------

_BPE_ARTIFACT_PARAMS = {
    "algo": "bpe-greedy",
    # derived from the SAME constants the producer trains with — a
    # recipe change cannot leave the committed fingerprint "current"
    "rounds": _BPE_MERGE_ROUNDS,
    "token_filter": _BPE_TOKEN_FILTER,
}


def _bpe_fingerprint(sf_dir: str) -> str:
    from etl_weather_spark.operators.artifacts import dataset_fingerprint

    return dataset_fingerprint(sf_dir, _BPE_ARTIFACT_PARAMS)


def _bpe_merges_committed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMMITTED BPE merge table: read from the registry when the
    corpus fingerprint is current, train-and-commit once when missing
    or stale (operators/artifacts.py — same contract as the quality
    classifier's trajectory and the dedup CC membership). Release-aware
    (round 10): a committed release pin for this corpus serves the
    pinned snapshot version, so tokenizer consumers and the other
    artifact consumers scan ONE mutually-consistent set."""
    from etl_weather_spark.operators.artifacts import (
        dataset_fingerprint,
        dataset_key,
        release_artifact_read,
    )

    return release_artifact_read(
        spark,
        dataset_key(sf_dir),
        "bpe_merges",
        fingerprint=_bpe_fingerprint(sf_dir),
        data_fingerprint=dataset_fingerprint(sf_dir),
        build=lambda: _QUERIES["bpe_merge_rounds"](spark, sf_dir),
        meta={"producer": f"bpe_merge_rounds ({_BPE_MERGE_ROUNDS} greedy merges)"},
    )


@query(
    "bpe_vocab_publish",
    "SELECT 'bpe_merges' AS artifact, merge_round, left_sym, right_sym,"
    " merged, pair_count FROM ("
    + _ORACLES["bpe_merge_rounds"]
    + "\n) ORDER BY merge_round",
)
def bpe_vocab_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PUBLISH the tokenizer to the committed-artifact registry — the
    deploy step between bpe_merge_rounds (training) and every consumer
    that tokenizes with the result: trains the greedy merge table ONCE
    per corpus version (compute-if-absent), commits it with the dataset
    fingerprint, and emits the COMMITTED rows. Training is
    deterministic (frequency ties break lexicographically), so the
    oracle re-runs the merge rounds as CTEs and hash-verifies that the
    registry bytes equal what training produces — the same
    write-path-under-the-gate contract as quality_classifier_publish.

    Scale: training cost once per corpus version (vocab-bound rounds);
    the committed artifact is |merges| rows — KBs at a production 32k
    budget — and consumers broadcast it.
    """
    return _bpe_merges_committed(spark, sf_dir).select(
        F.lit("bpe_merges").alias("artifact"), "*"
    ).orderBy("merge_round")


@query(
    "tokenizer_cost_report",
    """
WITH tok AS (
  SELECT doc_id, source, word FROM (
    SELECT doc_id, source,
           UNNEST(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS word
    FROM documents
  ) WHERE regexp_matches(word, '^[a-z0-9]+$')
),
words AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY word),
v0 AS (
  SELECT array_to_string(string_split(word, ''), chr(31)) AS ws, freq, word FROM words
),"""
    + ",".join(_bpe_oracle_round(i, carry=", word") for i in (1, 2, 3))
    + """,
seg AS (SELECT word, len(string_split(ws, chr(31))) AS n_pieces FROM v3),
per AS (
  SELECT source,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(n_pieces) AS BIGINT) AS n_pieces
  FROM tok JOIN seg USING (word) GROUP BY source
),
tot AS (SELECT CAST(SUM(n_pieces) AS BIGINT) AS total_pieces FROM per)
SELECT p.source, p.n_docs, p.n_words, p.n_pieces,
       CAST((10000 * p.n_pieces) // p.n_words AS BIGINT) AS pieces_per_word_1e4,
       FLOOR((p.n_pieces * 1.0 / t.total_pieces) * 1000000 + 0.5) / 1000000
         AS piece_share6
FROM per p CROSS JOIN tot t
ORDER BY p.source
""",
)
def tokenizer_cost_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-SOURCE TOKEN-COST accounting under the COMMITTED tokenizer —
    the table a training-budget/mixture plan actually consumes: for
    each source, documents, words, BPE pieces under the committed merge
    table, the pieces-per-word fertility (integer 1e4 fixed point, the
    tokenizer_fertility_by_lang convention), and each source's share of
    the total token budget. Downstream: temperature/DoReMi mixture
    weights operate on TOKEN shares, not doc counts — this is the
    bridge from the committed tokenizer to those plans.

    The merge table comes from the registry (bpe_vocab_publish;
    compute-if-absent) and is applied with the PRODUCTION rank-based
    encoder (operators/textops.bpe_encode_ranked — a broadcast rank
    dict, one Arrow pass over the vocab), while the oracle replays
    training + fold segmentation via the DuckDB list_reduce twin — a
    cross-algorithm, cross-engine proof on top of committed bytes.

    Scale: the committed merge table is a KB-scale broadcast (a
    deploy-time pin, the IVF-centroid convention); encode runs on the
    VOCAB and fans back over a word-keyed join; the rollup is
    |sources| rows.
    """
    from etl_weather_spark.operators.dedup import tokens
    from etl_weather_spark.operators.textops import bpe_encode_ranked

    merges = _bpe_merges_committed(spark, sf_dir)
    pairs = [
        (r.left_sym, r.right_sym)
        for r in merges.orderBy("merge_round").collect()
    ]
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", "source", F.explode(tokens(F.col("text"))).alias("word")
    ).filter(F.col("word").rlike(_BPE_TOKEN_FILTER))
    # the token stream feeds three consumers (vocab, sw, nd): cached for
    # the call, released once the per-source rollup is fenced
    with persisted(words) as tok:
        vocab = (
            tok.groupBy("word")
            .agg(F.count(F.lit(1)).alias("freq"))
            .select(F.split("word", "").alias("syms"), "freq", "word")
        )
        seg = bpe_encode_ranked(vocab, pairs).select(
            "word", F.size("syms").cast("long").alias("n_pieces")
        )
        # pre-aggregate the token stream to (source, word) grain BEFORE
        # the vocab join (round 10, VERDICT r9 next-item #4): the
        # fan-back join then moves vocab-sized rows, not the token
        # stream — the map-side partial agg collapses the big shuffle,
        # and n_words/n_pieces fold as cnt-weighted sums. Every word in
        # tok is in vocab, so the join preserves totals; n_docs is its
        # own stream-grain countDistinct.
        sw = tok.groupBy("source", "word").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        nd = tok.groupBy("source").agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs")
        )
        per = fence(
            sw.join(seg, "word")
            .groupBy("source")
            .agg(
                F.sum("cnt").cast("long").alias("n_words"),
                F.sum(F.col("cnt") * F.col("n_pieces")).cast("long").alias(
                    "n_pieces"
                ),
            )
            .join(nd, "source")
            .select("source", "n_docs", "n_words", "n_pieces"),
            eager=True,
        )
    tot = per.agg(F.sum("n_pieces").cast("long").alias("total_pieces"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_words",
            "n_pieces",
            F.expr("(10000 * n_pieces) div n_words")
            .cast("long")
            .alias("pieces_per_word_1e4"),
            rnd(F.col("n_pieces") * 1.0 / F.col("total_pieces"), 6).alias(
                "piece_share6"
            ),
        )
        .orderBy("source")
    )


@query(
    "token_mixture_plan",
    f"""
WITH rep AS (
  SELECT source, n_pieces, piece_share6
  FROM ({_ORACLES['tokenizer_cost_report']})
),
tot AS (SELECT CAST(SUM(n_pieces) AS BIGINT) AS total_pieces FROM rep),
s AS (
  SELECT source, n_pieces, piece_share6,
         FLOOR(sqrt(piece_share6) * 1000000 + 0.5) / 1000000 AS s6
  FROM rep
),
z AS (SELECT {sql_dsum('s6', 6)} AS zs FROM s),
qq AS (
  SELECT s.source, s.n_pieces, s.piece_share6,
         FLOOR((s.s6 / z.zs) * 1000000 + 0.5) / 1000000 AS q6,
         t.total_pieces
  FROM s CROSS JOIN z CROSS JOIN tot t
),
a AS (
  SELECT source, n_pieces, piece_share6, q6,
         CAST(FLOOR(q6 * total_pieces + 0.5) AS BIGINT) AS alloc_tokens
  FROM qq
)
SELECT source, n_pieces, piece_share6, q6, alloc_tokens,
       CASE WHEN piece_share6 > 0
            THEN FLOOR((q6 / piece_share6) * 10000 + 0.5) / 10000 END
         AS boost4,
       CASE WHEN n_pieces > 0
            THEN FLOOR((alloc_tokens * 1.0 / n_pieces) * 10000 + 0.5) / 10000
       END AS epochs4,
       alloc_tokens > 4 * n_pieces AS over_repeated
FROM a ORDER BY source
""",
)
def token_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE MIXTURE PLAN IN TOKENS — the composition the tokenizer
    registry exists for: temperature rebalancing (α = 1/2, the
    lang_temperature_sampling libm-safe √ discipline) over per-source
    TOKEN shares from the committed tokenizer's cost report, not doc
    counts — a source of long documents weighs what it actually costs
    the token budget. Per source: natural token share, temperature
    weight q ∝ √share, the token allocation under a one-epoch total
    budget, the boost q/share, the implied per-source EPOCHS
    (alloc / own tokens, 4 dp), and the Muennighoff-style
    over-repetition flag at > 4 epochs — the number that says a tail
    source would repeat too often under this plan and the budget or
    temperature must change.

    Oracle embeds the tokenizer_cost_report oracle verbatim (which
    itself replays the committed tokenizer's training) — so the whole
    chain corpus → committed vocab → token accounting → mixture plan
    is hash-verified end to end.

    Scale: the cost report's own plan + |sources|-row dimension math.
    """
    rep = fence(_QUERIES["tokenizer_cost_report"](spark, sf_dir).select(
        "source", "n_pieces", "piece_share6"
    ))
    tot = rep.agg(F.sum("n_pieces").cast("long").alias("total_pieces"))
    s = rep.select(
        "source",
        "n_pieces",
        "piece_share6",
        rnd(F.sqrt("piece_share6"), 6).alias("s6"),
    )
    z = s.agg(dsum("s6", 6).alias("zs"))
    qq = (
        s.crossJoin(F.broadcast(z))
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_pieces",
            "piece_share6",
            rnd(F.col("s6") / F.col("zs"), 6).alias("q6"),
            "total_pieces",
        )
    )
    a = qq.select(
        "source",
        "n_pieces",
        "piece_share6",
        "q6",
        F.floor(F.col("q6") * F.col("total_pieces") + F.lit(0.5))
        .cast("long")
        .alias("alloc_tokens"),
    )
    return a.select(
        "source",
        "n_pieces",
        "piece_share6",
        "q6",
        "alloc_tokens",
        F.when(
            F.col("piece_share6") > 0,
            rnd(F.col("q6") / F.col("piece_share6"), 4),
        ).alias("boost4"),
        F.when(
            F.col("n_pieces") > 0,
            rnd(F.col("alloc_tokens") * 1.0 / F.col("n_pieces"), 4),
        ).alias("epochs4"),
        (F.col("alloc_tokens") > 4 * F.col("n_pieces")).alias("over_repeated"),
    ).orderBy("source")
