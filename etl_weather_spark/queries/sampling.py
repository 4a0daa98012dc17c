"""Mixture/sampling tier: temperature and DoReMi-style mixtures, train/test splits, token-budget packing, shard manifests, curricula.

Split from the original queries.py (round 9); unit order and bodies
are byte-identical to the monolith — only module boundaries and
imports changed.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from etl_weather_spark.functions.rounding import dsum, rnd, sql_dsum
from etl_weather_spark.functions.text import doc_fingerprint, token_count
from etl_weather_spark.queries._registry import load, query
from etl_weather_spark.queries.text import (
    _bigram_logprob_core,
    _domain_reweight_oracle,
)
from etl_weather_spark.queries.dedup import _CLUSTER_SAFE_SPLIT_SQL


@query(
    "curriculum_quality_order",
    r"""
WITH scored AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE length(regexp_replace(trim(text), '\s+', ' ', 'g'))
                   - length(replace(regexp_replace(trim(text), '\s+', ' ', 'g'), ' ', '')) + 1
              END AS n_tokens,
         len(regexp_extract_all(lower(text), '\b(the|and|of|to|in)\b')) AS s_en,
         length(text) AS n_chars_x,
         len(regexp_extract_all(text, '[^\w\s]')) AS n_punct
  FROM documents
),
qual AS (
  SELECT doc_id,
         FLOOR((0.4 * least(n_tokens / 100.0, 1.0)
                + 0.3 * (1.0 - (CASE WHEN n_chars_x > 0 THEN CAST(n_punct AS DOUBLE) / n_chars_x ELSE 0.0 END))
                + 0.3 * least((CASE WHEN n_tokens > 0 THEN CAST(s_en AS DOUBLE) / n_tokens ELSE 0.0 END) * 5.0, 1.0))
               * 10000 + 0.5) / 10000 AS quality
  FROM scored
),
ranked AS (
  SELECT doc_id, quality,
         NTILE(10) OVER (ORDER BY quality DESC, doc_id) AS quality_decile
  FROM qual
)
SELECT doc_id, quality, quality_decile,
       CAST(ROW_NUMBER() OVER (
         ORDER BY quality_decile,
                  substr(md5('cur|' || CAST(doc_id AS VARCHAR)), 1, 16),
                  doc_id
       ) AS BIGINT) AS curriculum_rank
FROM ranked ORDER BY doc_id
""",
)
def curriculum_quality_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURRICULUM ordering for training: quality deciles (easy/clean
    first) with a content-addressed shuffle WITHIN each decile — the
    standard curriculum-learning data layout: coarse difficulty
    ordering without the pathological exact-sort (identical-quality
    runs would otherwise cluster near-duplicate docs back to back).

    Determinism: quality is the 4-dp-rounded heuristic both engines
    compute identically (textops.quality_score / the funnel's SQL
    mirror); decile = NTILE over a total order; the within-decile
    shuffle key is md5 of the doc id — stable under re-runs, appends
    re-rank but never reshuffle survivors relative to each other.

    Scale note: like RFM, the NTILE + global rank ride the DOCUMENT-ID
    dimension projection (doc_id, quality) — at 100 TB replace the
    exact decile with approx-percentile cutoffs and write
    curriculum_rank as (decile, shuffle_key) sort keys instead of
    materializing a global row number.
    """
    from etl_weather_spark.operators.textops import doc_profile

    docs = load(spark, sf_dir, "documents")
    q = doc_profile(docs).select("doc_id", "quality")
    decile = F.ntile(10).over(Window.orderBy(F.desc("quality"), "doc_id"))
    ranked = q.select("*", decile.alias("quality_decile"))
    skey = F.substring(
        F.md5(F.concat(F.lit("cur|"), F.col("doc_id").cast("string"))), 1, 16
    )
    rank = F.row_number().over(
        Window.orderBy("quality_decile", skey, "doc_id")
    )
    return ranked.select(
        "doc_id", "quality", "quality_decile",
        rank.cast("long").alias("curriculum_rank"),
    ).orderBy("doc_id")

@query(
    "mixture_temperature_weights",
    """
WITH per_source AS (
  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS n_chars_src,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(SUM(n_chars_src) AS BIGINT) AS total FROM per_source),
raw AS (
  SELECT source, n_docs, n_chars_src,
         FLOOR((CAST(n_chars_src AS DOUBLE) / total) * 1000000000 + 0.5) / 1000000000 AS share,
         FLOOR(POW(CAST(n_chars_src AS DOUBLE) / total, 0.7) * 1000000000 + 0.5) AS w_scaled
  FROM per_source CROSS JOIN tot
),
norm AS (SELECT CAST(SUM(w_scaled) AS BIGINT) AS w_total FROM raw)
SELECT source, n_docs, n_chars_src, share,
       FLOOR((CAST(w_scaled AS DOUBLE) / w_total) * 1000000 + 0.5) / 1000000 AS sample_weight
FROM raw CROSS JOIN norm
ORDER BY source
""",
)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights per source (the T5/mT5
    multilingual sampling rule): weight ∝ share^0.7, normalized —
    up-weights small sources, down-weights dominant ones, the standard
    fix for head-domain domination in multi-source training mixes.

    Determinism: shares come from exact integer char counts; each
    pow(share, 0.7) is rounded to an integer at 1e9 scale before the
    exact-integer normalization sum, so both engines normalize over
    identical values in any order (the weighted_sample_topk per-term
    discipline).

    Scale: one agg (≤ #sources rows) + two broadcast 1-row cross joins
    — the whole computation after the first agg is dimension-sized.
    """
    d = load(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("n_chars_src"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    tot = per.agg(F.sum("n_chars_src").cast("long").alias("total"))
    share_raw = F.col("n_chars_src").cast("double") / F.col("total")
    raw = per.crossJoin(F.broadcast(tot)).select(
        "source", "n_docs", "n_chars_src",
        rnd(share_raw, 9).alias("share"),
        F.floor(F.pow(share_raw, F.lit(0.7)) * 1e9 + F.lit(0.5)).alias("w_scaled"),
    )
    norm_t = raw.agg(F.sum("w_scaled").cast("long").alias("w_total"))
    return (
        raw.crossJoin(F.broadcast(norm_t))
        .select(
            "source", "n_docs", "n_chars_src", "share",
            rnd(F.col("w_scaled").cast("double") / F.col("w_total"), 6).alias(
                "sample_weight"
            ),
        )
        .orderBy("source")
    )

@query("cluster_safe_split", _CLUSTER_SAFE_SPLIT_SQL)
def cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/val/test split: near-duplicate CLUSTERS are
    the split unit, not documents — every member of a trigram-Jaccard
    cluster lands in the same split, so no near-copy of a test document
    can sit in train (the dedup-leakage failure mode benchmark papers
    keep finding; plain per-doc splits cannot prevent it).

    Split assignment reuses train_test_split's content-addressed rule,
    applied to the CLUSTER id (md5('gsplit|' || cluster_id) nibble →
    ~81/6/13), so membership stays stable under re-runs, repartitioning,
    and appends that don't merge clusters.

    Scale: cluster ids come from the LSH-pruned pair graph (narrow),
    the spine join is one keyed left join, the split rule is map-side.
    """
    from etl_weather_spark.operators.dedup import (
        connected_components,
        pruned_jaccard_pairs,
    )

    docs = load(spark, sf_dir, "documents")
    pairs = pruned_jaccard_pairs(docs, shingle_n=3, min_jaccard=0.5)
    cc = connected_components(pairs.select("id_a", "id_b"))
    cluster_of = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    spine = docs.select("doc_id").join(
        cc, F.col("doc_id") == F.col("node"), "left"
    ).select("doc_id", cluster_of.alias("cluster_id"))
    nib = F.substring(
        F.md5(F.concat(F.lit("gsplit|"), F.col("cluster_id").cast("string"))), 1, 1
    )
    split = (
        F.when(nib < "d", "train").when(nib == "d", "val").otherwise("test")
    ).alias("split")
    return spine.select("doc_id", "cluster_id", split).orderBy("doc_id")

@query(
    "token_dropout_augment",
    r"""
WITH toks AS (
  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS tk
  FROM documents
),
kept AS (
  SELECT doc_id, len(tk) AS n_in,
         list_filter(
           list_transform(tk, (x, i) ->
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || '|' || CAST(i AS VARCHAR) || '|' || x), 1, 1) = '0'
                  THEN NULL ELSE x END),
           x -> x IS NOT NULL) AS kept_tk
  FROM toks
)
SELECT doc_id, n_in, len(kept_tk) AS n_out,
       array_to_string(kept_tk, ' ') AS aug_text
FROM kept
ORDER BY doc_id
""",
)
def token_dropout_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic token-dropout augmentation (~1/16 of tokens
    dropped): a noising pass for training-data robustness that is
    content-addressed — md5(doc|position|token) decides each drop, so
    re-runs, repartitions, and appends reproduce the identical
    augmented text (the same determinism discipline as
    train_test_split). Entirely Catalyst higher-order functions: no
    Python, no shuffle — a pure map stage at any scale.

    NOTE the index-base trap this query pins: DuckDB's list_transform
    lambda index is 1-based, Spark's ``transform`` is 0-based — the
    Spark side hashes ``i+1`` so both engines hash identical strings.
    """
    docs = load(spark, sf_dir, "documents")
    toks = F.split(
        F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " "), " "
    )
    kept = F.filter(
        F.transform(
            toks,
            lambda x, i: F.when(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"), F.lit("|"),
                            (i + 1).cast("string"), F.lit("|"), x,
                        )
                    ),
                    1, 1,
                )
                == "0",
                F.lit(None),
            ).otherwise(x),
        ),
        lambda x: x.isNotNull(),
    )
    return (
        docs.select(
            "doc_id",
            F.size(toks).alias("n_in"),
            F.size(kept).alias("n_out"),
            F.array_join(kept, " ").alias("aug_text"),
        )
        .orderBy("doc_id")
    )

@query(
    "train_test_split",
    """
SELECT split, lang, COUNT(*) AS n_docs
FROM (
  SELECT lang,
         CASE WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 1) < 'd' THEN 'train'
              WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 1) = 'd' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
GROUP BY split, lang
ORDER BY split, lang
""",
)
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-addressed train/val/test split (~81/6/13):
    first hex nibble of md5('split|' || id) buckets each document, so
    membership is stable under re-runs, re-partitioning, and appends —
    the property a training pipeline needs (a seeded .sample() is none
    of those across engines or cluster sizes).

    Scale: pure map-side expression (no shuffle for the split itself);
    the count rolls up per (split, lang). Swap the salt string to derive
    independent splits.
    """
    docs = load(spark, sf_dir, "documents")
    nib = F.substring(
        F.md5(F.concat(F.lit("split|"), F.col("doc_id").cast("string"))), 1, 1
    )
    split = (
        F.when(nib < "d", "train").when(nib == "d", "val").otherwise("test")
    ).alias("split")
    return (
        docs.select(split, "lang")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("split", "lang")
    )

@query(
    "stratified_sample_counts",
    """
WITH assigned AS (
  SELECT lang,
         CASE lang WHEN 'en' THEN 4 WHEN 'zh' THEN 8 ELSE 16 END AS keep_of_16,
         CAST(('0x' || substr(md5('strat|' || CAST(doc_id AS VARCHAR)), 1, 1)) AS INT) AS nib
  FROM documents
)
SELECT lang, COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN nib < keep_of_16 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM assigned
GROUP BY lang
ORDER BY lang
""",
)
def stratified_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sampling (``sampleBy`` done right for
    pipelines): downsample the dominant language (en keeps 4/16),
    lightly thin zh (8/16), keep the tail languages whole — rebalancing
    a training mix. Membership hashes the DOC ID (md5 nibble vs a
    per-stratum threshold), so the sample is reproducible across runs,
    engines, and cluster layouts, unlike seeded ``df.sampleBy`` whose
    output depends on partitioning.

    Scale: pure map-side predicate — no shuffle to sample, one agg to
    report; at 100 TB the sampled write stays embarrassingly parallel.
    """
    docs = load(spark, sf_dir, "documents")
    nib = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("strat|"), F.col("doc_id").cast("string"))), 1, 1
        ),
        16,
        10,
    ).cast("int")
    keep = (
        F.when(F.col("lang") == "en", 4)
        .when(F.col("lang") == "zh", 8)
        .otherwise(16)
    )
    return (
        docs.select("lang", keep.alias("keep_of_16"), nib.alias("nib"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(
                F.when(F.col("nib") < F.col("keep_of_16"), 1).otherwise(0)
            ).alias("n_sampled"),
        )
        .orderBy("lang")
    )

@query(
    "doc_chunks",
    """
WITH toks AS (
  SELECT doc_id,
         string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
),
chunks AS (
  SELECT doc_id, t,
         UNNEST(generate_series(0,
                CAST(FLOOR((len(t) + 39) / 40) AS INT) - 1)) AS chunk_id
  FROM toks
)
SELECT doc_id, chunk_id, chunk_id * 40 AS chunk_start,
       len(list_slice(t, chunk_id * 40 + 1, chunk_id * 40 + 50)) AS n_tokens,
       array_to_string(list_slice(t, chunk_id * 40 + 1, chunk_id * 40 + 50), ' ') AS chunk_text
FROM chunks
ORDER BY doc_id, chunk_id
""",
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (50-token chunks, stride 40,
    10-token overlap) — the context-window prep step every LLM
    training pipeline runs over its corpus. Chunk text is compared
    verbatim against the oracle, so tokenization, windowing, and
    boundary clamping are all hash-checked.

    Scale: shuffle-free row amplification (~n_tokens/stride per doc);
    the explode boundary keeps tokenization once-per-document (the
    CollapseProject lambda-inlining trap). At 100 TB this runs as a
    pure map stage and writes partitioned by input split.
    """
    from etl_weather_spark.operators.textops import chunk_documents

    docs = load(spark, sf_dir, "documents")
    return chunk_documents(docs).orderBy("doc_id", "chunk_id")

@query(
    "per_source_quota",
    """
WITH ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5('quota|' || CAST(doc_id AS VARCHAR)), doc_id) AS pri
  FROM documents
)
SELECT doc_id, source, pri
FROM ranked
WHERE pri <= 10
ORDER BY source, pri
""",
)
def per_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota capping (keep at most 10 docs per source) with a
    content-addressed priority: rank by md5 of the doc id, not by
    ingestion order — so the kept set is stable across re-runs,
    repartitioning, and appends that don't touch the winners. This is
    the 'cap any one domain's share of the training mix' op.

    Scale: one shuffle on source; a skewed mega-source is the known
    hazard — the rank window only needs the top-10, so at scale this
    swaps to a per-partition partial top-k before the shuffle (same
    pattern as top5_days); AQE skew-split covers the rest.
    """
    docs = load(spark, sf_dir, "documents")
    pri_key = F.md5(F.concat(F.lit("quota|"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(pri_key, "doc_id")
    return (
        docs.select("doc_id", "source", F.row_number().over(w).alias("pri"))
        .filter(F.col("pri") <= 10)
        .orderBy("source", "pri")
    )

@query(
    "weighted_sample_topk",
    """
WITH keyed AS (
  SELECT doc_id, n_chars,
         -LN((CAST(('0x' || substr(md5('ws|' || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 1.0)
             / 4503599627370496.0) / n_chars AS raw_key
  FROM documents
),
rounded AS (
  SELECT doc_id, n_chars, FLOOR(raw_key * 1000000 + 0.5) / 1000000 AS race_key
  FROM keyed
),
ranked AS (
  SELECT doc_id, n_chars, race_key,
         ROW_NUMBER() OVER (ORDER BY race_key, doc_id) AS rn
  FROM rounded
)
SELECT doc_id, n_chars, race_key, rn FROM ranked WHERE rn <= 20 ORDER BY rn
""",
)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (exponential
    clocks, ≙ Efraimidis-Spirakis A-ES): each doc draws a uniform from
    md5 of its id, races with key -ln(u)/weight (weight = n_chars), and
    the 20 smallest keys win — P(selection) ∝ weight, yet membership is
    reproducible across runs, engines, and cluster layouts (a seeded
    .sample() is none of those). The training-mix op: upweight long
    documents without a mutable RNG state. 13 hex digits = 52 bits so
    the uniform is integer-exact in a double on both engines; ranking
    keys on the ROUNDED key (doc_id tie-break) so a ±1-ulp ln()
    difference cannot flip the order.

    Scale: the key is a pure map-side expression; top-20 is
    TakeOrderedAndProject (per-partition partial top-k, no shuffle of
    the losers) — the same plan at 500 rows or 100 TB.
    """
    docs = load(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ws|"), F.col("doc_id").cast("string"))), 1, 13
        ),
        16,
        10,
    ).cast("double")
    u = (h + F.lit(1.0)) / F.lit(float(1 << 52))
    key = rnd(-F.log(u) / F.col("n_chars"), 6)
    # top-k FIRST (TakeOrderedAndProject: per-partition partial top-20,
    # only 20·P rows reach the driver-side merge) — the row_number window
    # then runs over 20 rows, never a global single-partition sort.
    winners = (
        docs.select("doc_id", "n_chars", key.alias("race_key"))
        .orderBy("race_key", "doc_id")
        .limit(20)
    )
    return winners.withColumn(
        "rn", F.row_number().over(Window.orderBy("race_key", "doc_id"))
    ).orderBy("rn")

@query(
    "token_budget_batches",
    """
WITH toks AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE length(regexp_replace(trim(text), '\\s+', ' ', 'g'))
                   - length(replace(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ', '')) + 1
              END AS n_tok
  FROM documents
)
SELECT doc_id, n_tok,
       CAST(FLOOR(COALESCE(SUM(n_tok) OVER (
              ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
            ), 0) / 512.0) AS BIGINT) AS batch_id
FROM toks
ORDER BY doc_id
""",
)
def token_budget_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack the document stream into consecutive <=512-token batches —
    the deterministic dataloader layout (a doc larger than the budget
    gets its own batch). The oracle is the naive single-window global
    prefix-sum; the engine computes the identical integer prefix with
    operators/batching's two-level form (bucketed within-partition
    windows + a cumulative offset over the tiny per-bucket totals), so
    no row ever passes through a global single-reducer sort.
    """
    from etl_weather_spark.operators.batching import pack_token_batches

    docs = load(spark, sf_dir, "documents")
    return pack_token_batches(
        docs, token_count(F.col("text")), budget=512
    ).orderBy("doc_id")

@query(
    "source_mix_rebalance",
    """
WITH w AS (
  SELECT doc_id, source,
         CASE WHEN source = 'src0' THEN 4 WHEN source = 'src1' THEN 2 ELSE 1 END AS wt
  FROM documents
),
counts AS (SELECT source, wt, COUNT(*) AS n FROM w GROUP BY source, wt),
m AS (SELECT n AS n_m, wt AS w_m FROM counts ORDER BY n * 1.0 / wt, source LIMIT 1),
caps AS (
  SELECT source, wt, n AS available,
         CAST(FLOOR((wt * n_m * 1.0) / w_m) AS BIGINT) AS cap
  FROM counts, m
),
ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5('mix|' || CAST(doc_id AS VARCHAR)), doc_id) AS pri
  FROM w
),
kept AS (
  SELECT r.source, COUNT(*) AS n_kept, CAST(SUM(r.doc_id) AS BIGINT) AS kept_id_sum
  FROM ranked r JOIN caps c ON c.source = r.source
  WHERE r.pri <= c.cap
  GROUP BY r.source
)
SELECT c.source, c.wt, c.available, c.cap, k.n_kept, k.kept_id_sum
FROM caps c JOIN kept k ON k.source = c.source
ORDER BY c.source
""",
)
def source_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance the corpus to a target source mixture (weights src0:4,
    src1:2, rest:1) by downsampling only: the binding source (min
    n/weight) is kept whole and every other source is capped at
    floor(weight * n_m / w_m) — the largest corpus achieving the exact
    target proportions without upsampling (DoReMi-style static remix).
    Selection within a source is content-addressed (md5 priority), so
    the kept set is stable under re-runs, repartitioning, and appends
    that don't displace winners; kept_id_sum checksums the exact kept
    SET against the oracle, not just its size.

    Scale: counts/caps are a tiny broadcast; the rank window shuffles
    once on source (skewed mega-source -> partial top-k pre-filter,
    same note as per_source_quota).
    """
    docs = load(spark, sf_dir, "documents")
    wt = (
        F.when(F.col("source") == "src0", 4)
        .when(F.col("source") == "src1", 2)
        .otherwise(1)
    )
    w = docs.select("doc_id", "source", wt.alias("wt"))
    counts = w.groupBy("source", "wt").agg(F.count(F.lit(1)).alias("n"))
    m = (
        counts.orderBy((F.col("n") * 1.0 / F.col("wt")).asc(), F.col("source"))
        .limit(1)
        .select(F.col("n").alias("n_m"), F.col("wt").alias("w_m"))
    )
    caps = counts.crossJoin(F.broadcast(m)).select(
        "source",
        "wt",
        F.col("n").alias("available"),
        F.floor((F.col("wt") * F.col("n_m") * 1.0) / F.col("w_m")).cast("long").alias("cap"),
    )
    pri_key = F.md5(F.concat(F.lit("mix|"), F.col("doc_id").cast("string")))
    rw = Window.partitionBy("source").orderBy(pri_key, "doc_id")
    ranked = w.select("doc_id", "source", F.row_number().over(rw).alias("pri"))
    kept = (
        ranked.join(F.broadcast(caps.select("source", "cap")), "source")
        .filter(F.col("pri") <= F.col("cap"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.sum("doc_id").alias("kept_id_sum"))
    )
    return (
        caps.join(kept, "source")
        .select("source", "wt", "available", "cap", "n_kept", "kept_id_sum")
        .orderBy("source")
    )

@query(
    "mixture_stratified_sample",
    """
WITH per_source AS (
  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS n_chars_src,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(SUM(n_chars_src) AS BIGINT) AS total FROM per_source),
wts AS (
  SELECT source, n_docs,
         CAST(FLOOR(POW(CAST(n_chars_src AS DOUBLE) / total, 0.7) * 1000000000 + 0.5) AS BIGINT) AS w_scaled
  FROM per_source CROSS JOIN tot
),
norm AS (SELECT CAST(SUM(w_scaled) AS BIGINT) AS w_total FROM wts),
quota AS (
  SELECT source, n_docs, w_scaled, w_total,
         (w_scaled * 200) // w_total AS base,
         (w_scaled * 200) % w_total AS rem
  FROM wts CROSS JOIN norm
),
short AS (SELECT CAST(200 - SUM(base) AS BIGINT) AS leftover FROM quota),
alloc AS (
  SELECT source, n_docs,
         LEAST(base + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, source) <= leftover
                           THEN 1 ELSE 0 END,
               n_docs) AS alloc
  FROM quota CROSS JOIN short
),
ranked AS (
  SELECT d.doc_id, d.source,
         ROW_NUMBER() OVER (
           PARTITION BY d.source
           ORDER BY md5('mix|' || CAST(d.doc_id AS VARCHAR)), d.doc_id
         ) AS smp_rank
  FROM documents d
)
SELECT r.doc_id, r.source, CAST(r.smp_rank AS BIGINT) AS smp_rank,
       CAST(a.alloc AS BIGINT) AS alloc
FROM ranked r JOIN alloc a ON a.source = r.source
WHERE r.smp_rank <= a.alloc
ORDER BY r.source, r.smp_rank
""",
)
def mixture_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE the temperature mixture: turn mixture_temperature_weights'
    per-source sampling weights into an actual deterministic sampled
    corpus of (budget) 200 documents — integer largest-remainder
    allocation per source (base = floor(w·N/Σw); the leftover seats go
    to the largest remainders, ties by source), capped at each source's
    availability, then per-source selection of the alloc lowest
    md5('mix|'||doc_id) ranks. Content-addressed sampling means re-runs,
    late-arriving partitions, and both engines pick the IDENTICAL
    document set — no RNG state anywhere.

    Scale: the allocation math is dimension-sized (#sources rows); the
    per-source ranking rides the salted two-level top-k
    (operators/similarity.topk_per_group), so no reducer ever sorts a
    whole source's documents — the final per-source window sees
    ≤ n_salt × N survivors.
    """
    from etl_weather_spark.operators.similarity import topk_per_group

    n_budget = 200
    d = load(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("n_chars_src"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    tot = per.agg(F.sum("n_chars_src").cast("long").alias("total"))
    wts = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.floor(
            F.pow(F.col("n_chars_src").cast("double") / F.col("total"), F.lit(0.7))
            * 1e9
            + F.lit(0.5)
        )
        .cast("long")
        .alias("w_scaled"),
    )
    norm_t = wts.agg(F.sum("w_scaled").cast("long").alias("w_total"))
    quota = wts.crossJoin(F.broadcast(norm_t)).select(
        "source",
        "n_docs",
        F.expr(f"(w_scaled * {n_budget}) div w_total").alias("base"),
        F.expr(f"(w_scaled * {n_budget}) % w_total").alias("rem"),
    )
    short = quota.agg(
        (F.lit(n_budget) - F.sum("base")).cast("long").alias("leftover")
    )
    seat_rank = F.row_number().over(Window.orderBy(F.desc("rem"), "source"))
    alloc = (
        quota.crossJoin(F.broadcast(short))
        .withColumn("__seat", seat_rank)
        .select(
            "source",
            F.least(
                F.col("base")
                + F.when(F.col("__seat") <= F.col("leftover"), 1).otherwise(0),
                F.col("n_docs"),
            )
            .cast("long")
            .alias("alloc"),
        )
    )
    ranked = topk_per_group(
        d.select(
            "doc_id",
            "source",
            F.md5(F.concat(F.lit("mix|"), F.col("doc_id").cast("string"))).alias(
                "__h"
            ),
        ).withColumn("__neg", F.lit(0)),
        group_col="source",
        k=n_budget,
        sim_col="__neg",
        tie_col="__h",
        rank_col="smp_rank",
    )
    return (
        ranked.join(F.broadcast(alloc), "source")
        .filter(F.col("smp_rank") <= F.col("alloc"))
        .select("doc_id", "source", F.col("smp_rank").cast("long"), "alloc")
        .orderBy("source", "smp_rank")
    )

@query(
    "augment_word_dropout",
    """
WITH toks AS (
  SELECT doc_id,
         CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) AS pos,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
),
marked AS (
  SELECT doc_id, pos, tok,
         substring(md5('aug|' || CAST(doc_id AS VARCHAR) || '|'
                       || CAST(pos AS VARCHAR) || '|' || tok), 1, 2) < '34'
           AS dropped
  FROM toks
),
reb AS (
  SELECT doc_id,
         string_agg(tok, ' ' ORDER BY pos) FILTER (WHERE NOT dropped)
           AS aug_text,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) FILTER (WHERE dropped) AS BIGINT) AS n_dropped
  FROM marked GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_dropped,
       COALESCE(aug_text, '') AS aug_text,
       CAST(LENGTH(COALESCE(aug_text, '')) AS BIGINT) AS n_chars_aug
FROM reb
ORDER BY doc_id
""",
)
def augment_word_dropout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA AUGMENTATION by deterministic word dropout (~20% of tokens,
    the noising step contrastive/denoising training recipes apply):
    each token drops iff the first hex byte of
    ``md5('aug|'||doc_id||'|'||pos||'|'||tok)`` sorts below '34'
    (0x34/0x100 ≈ 20%) — CONTENT-ADDRESSED like mixture sampling's
    ranks, so re-runs, replays, and both engines drop the identical
    tokens with no RNG state anywhere.

    Scale: one explode row per token and one doc-keyed rebuild shuffle;
    the drop decision is a pure projection. The hex-prefix comparison
    is a string compare on lowercase md5 output (identical in both
    engines), never a float threshold.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "tok")
    marked = toks.withColumn(
        "dropped",
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.lit("aug"),
                    F.col("doc_id").cast("string"),
                    F.col("pos").cast("string"),
                    F.col("tok"),
                )
            ),
            1,
            2,
        )
        < "34",
    )
    reb = marked.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("dropped"), F.struct("pos", "tok")
                        )
                    )
                ),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("aug_text"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("dropped"), 1).otherwise(0))
        .cast("long")
        .alias("n_dropped"),
    )
    return reb.select(
        "doc_id",
        "n_tokens",
        "n_dropped",
        F.coalesce("aug_text", F.lit("")).alias("aug_text"),
        F.length(F.coalesce("aug_text", F.lit("")))
        .cast("long")
        .alias("n_chars_aug"),
    ).orderBy("doc_id")

@query(
    "span_corruption_pairs",
    """
WITH toks AS (
  SELECT doc_id,
         CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT) - 1
           AS pos0,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
),
m AS (
  SELECT doc_id, pos0, tok,
         ((pos0 // 3) % 5 = 0) AS masked,
         pos0 // 15 AS span_id
  FROM toks
),
inp AS (
  SELECT doc_id,
         string_agg(
           CASE WHEN NOT masked THEN tok
                WHEN pos0 % 15 = 0
                THEN '<extra_id_' || CAST(span_id AS VARCHAR) || '>'
           END, ' ' ORDER BY pos0)
           FILTER (WHERE NOT masked OR pos0 % 15 = 0) AS input_text
  FROM m GROUP BY doc_id
),
tgt_rows AS (
  SELECT doc_id, pos0, 0 AS sub,
         '<extra_id_' || CAST(span_id AS VARCHAR) || '>' AS ttok
  FROM m WHERE masked AND pos0 % 15 = 0
  UNION ALL
  SELECT doc_id, pos0, 1 AS sub, tok AS ttok FROM m WHERE masked
),
tgt AS (
  SELECT doc_id, string_agg(ttok, ' ' ORDER BY pos0, sub) AS target_text
  FROM tgt_rows GROUP BY doc_id
),
stats AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) FILTER (WHERE masked) AS BIGINT) AS n_masked,
         CAST(COUNT(*) FILTER (WHERE masked AND pos0 % 15 = 0) AS BIGINT)
           AS n_spans
  FROM m GROUP BY doc_id
)
SELECT s.doc_id, s.n_tokens, s.n_masked, s.n_spans,
       COALESCE(i.input_text, '') AS input_text,
       COALESCE(t.target_text, '') AS target_text
FROM stats s
LEFT JOIN inp i ON i.doc_id = s.doc_id
LEFT JOIN tgt t ON t.doc_id = s.doc_id
ORDER BY s.doc_id
""",
)
def span_corruption_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-STYLE SPAN CORRUPTION (Raffel et al. 2020 §3.1.4): every
    15-token stride masks its first 3 tokens into one sentinel —
    deterministic by POSITION (no RNG, both engines mask identical
    spans) — and each document becomes the (input, target) pair the
    denoising objective trains on: the input keeps unmasked tokens with
    one ``<extra_id_N>`` per span; the target lists each sentinel
    followed by the tokens it hid, in order. ~20% mask rate, mean span
    3 — the paper's defaults.

    Scale: one explode row per token, a doc-keyed rebuild for each side
    (the target side unions one sentinel row per span before the same
    ordered fold); everything else is projection arithmetic on the
    position — no joins bigger than doc-keyed, no Python.
    """
    docs = load(spark, sf_dir, "documents")
    m = (
        docs.select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("p", "tok")
        )
        .select(
            "doc_id",
            F.col("p").cast("long").alias("pos0"),
            "tok",
        )
        .select(
            "doc_id",
            "pos0",
            "tok",
            (F.expr("(pos0 div 3) % 5") == 0).alias("masked"),
            F.expr("pos0 div 15").alias("span_id"),
        )
    )
    sentinel = F.concat(
        F.lit("<extra_id_"), F.col("span_id").cast("string"), F.lit(">")
    )
    inp = (
        m.filter(~F.col("masked") | (F.col("pos0") % 15 == 0))
        .select(
            "doc_id",
            "pos0",
            F.when(~F.col("masked"), F.col("tok"))
            .otherwise(sentinel)
            .alias("itok"),
        )
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos0", "itok"))),
                    lambda x: x["itok"],
                ),
                " ",
            ).alias("input_text")
        )
    )
    tgt_rows = (
        m.filter(F.col("masked") & (F.col("pos0") % 15 == 0))
        .select("doc_id", "pos0", F.lit(0).alias("sub"), sentinel.alias("ttok"))
        .unionByName(
            m.filter(F.col("masked")).select(
                "doc_id", "pos0", F.lit(1).alias("sub"), F.col("tok").alias("ttok")
            )
        )
    )
    tgt = tgt_rows.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos0", "sub", "ttok"))),
                lambda x: x["ttok"],
            ),
            " ",
        ).alias("target_text")
    )
    stats = m.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("masked"), 1).otherwise(0))
        .cast("long")
        .alias("n_masked"),
        F.sum(
            F.when(F.col("masked") & (F.col("pos0") % 15 == 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_spans"),
    )
    return (
        stats.join(inp, "doc_id", "left")
        .join(tgt, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_masked",
            "n_spans",
            F.coalesce("input_text", F.lit("")).alias("input_text"),
            F.coalesce("target_text", F.lit("")).alias("target_text"),
        )
        .orderBy("doc_id")
    )

@query(
    "dedup_weighted_sampling",
    """
WITH corpus AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 10 < 3 THEN l.text ELSE d.text END AS text
  FROM documents d
  JOIN documents l ON l.doc_id = (d.doc_id // 10) * 10
),
fps AS (
  SELECT doc_id,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
  FROM corpus
),
g AS (
  SELECT fp, CAST(COUNT(*) AS BIGINT) AS group_size,
         MIN(doc_id) AS canon
  FROM fps GROUP BY fp
)
SELECT f.doc_id, g.group_size,
       FLOOR(POW(1.0 / g.group_size, 0.7) * 1000000 + 0.5) / 1000000 AS weight,
       f.doc_id = g.canon AS is_canonical
FROM fps f JOIN g USING (fp)
ORDER BY f.doc_id
""",
)
def dedup_weighted_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT dedup via duplication discounting (the RefinedWeb/Pile
    alternative to hard removal): every document keeps a sampling
    weight ``(1/group_size)^0.7`` from its exact-fingerprint duplicate
    group — repeated boilerplate still contributes, but sub-linearly —
    plus the canonical flag hard dedup would keep. Duplicate groups are
    seeded in-plan (each decade's first three documents share the
    decade leader's text; the natural corpus is exact-dup-free), so
    both engines weigh the identical groups.

    Scale: the leader join and the fingerprint groupBy are both keyed
    shuffles moving 32-byte md5 values, never document bodies; the
    group stats join back broadcast-shaped (distinct fingerprints <=
    docs). POW parity follows the mixture-weights precedent.
    """
    docs = load(spark, sf_dir, "documents")
    leaders = docs.select(
        F.col("doc_id").alias("lid"), F.col("text").alias("ltext")
    )
    corpus = (
        docs.withColumn("lid", F.expr("(doc_id div 10) * 10"))
        .join(leaders, "lid")
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 10 < 3, F.col("ltext"))
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    fps = corpus.select("doc_id", doc_fingerprint(F.col("text")).alias("fp"))
    g = fps.groupBy("fp").agg(
        F.count(F.lit(1)).cast("long").alias("group_size"),
        F.min("doc_id").alias("canon"),
    )
    return (
        fps.join(g, "fp")
        .select(
            "doc_id",
            "group_size",
            rnd(F.pow(F.lit(1.0) / F.col("group_size"), F.lit(0.7)), 6).alias(
                "weight"
            ),
            (F.col("doc_id") == F.col("canon")).alias("is_canonical"),
        )
        .orderBy("doc_id")
    )

@query(
    "packing_efficiency_audit",
    """
WITH toks AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE length(regexp_replace(trim(text), '\\s+', ' ', 'g'))
                   - length(replace(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ', '')) + 1
              END AS n_tok
  FROM documents
),
packed AS (
  SELECT doc_id, n_tok,
         CAST(FLOOR(COALESCE(SUM(n_tok) OVER (
                ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
              ), 0) / 512.0) AS BIGINT) AS batch_id
  FROM toks
)
SELECT batch_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS batch_tokens,
       FLOOR((SUM(n_tok) / 512.0) * 10000 + 0.5) / 10000 AS fill_rate4,
       (SUM(n_tok) > 512) AS over_budget
FROM packed
GROUP BY batch_id
ORDER BY batch_id
""",
)
def packing_efficiency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataloader-layout audit over token_budget_batches' packing: per
    batch, how many documents landed, the token load, the fill rate
    against the 512 budget, and whether the batch overflows (greedy
    prefix packing lets a batch run over when a document straddles the
    boundary — the padding-vs-truncation tradeoff a training run needs
    quantified before choosing sequence length).

    Scale: composes the two-level prefix-sum packer (no global
    single-reducer window) with one batch-keyed partial agg; output is
    batch-count-sized.
    """
    from etl_weather_spark.operators.batching import pack_token_batches

    docs = load(spark, sf_dir, "documents")
    packed = pack_token_batches(
        docs, token_count(F.col("text")), budget=512
    )
    return (
        packed.groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("batch_tokens"),
            rnd(F.sum("n_tok") / 512.0, 4).alias("fill_rate4"),
            (F.sum("n_tok") > 512).alias("over_budget"),
        )
        .orderBy("batch_id")
    )

@query(
    "lang_temperature_sampling",
    f"""
WITH g AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n_all FROM g),
p AS (
  SELECT g.lang, g.n_docs,
         FLOOR((g.n_docs * 1.0 / t.n_all) * 1000000 + 0.5) / 1000000 AS p6,
         t.n_all
  FROM g CROSS JOIN tot t
),
s AS (
  SELECT lang, n_docs, p6, n_all,
         FLOOR(sqrt(p6) * 1000000 + 0.5) / 1000000 AS s6
  FROM p
),
z AS (SELECT {sql_dsum('s6', 6)} AS zs FROM s)
SELECT s.lang, s.n_docs, s.p6,
       FLOOR((s.s6 / z.zs) * 1000000 + 0.5) / 1000000 AS q6,
       CAST(FLOOR(FLOOR((s.s6 / z.zs) * 1000000 + 0.5) / 1000000 * s.n_all + 0.5)
            AS BIGINT) AS expected_docs,
       CASE WHEN s.p6 > 0
            THEN FLOOR((FLOOR((s.s6 / z.zs) * 1000000 + 0.5) / 1000000 / s.p6)
                       * 10000 + 0.5) / 10000
       END AS boost4
FROM s CROSS JOIN z
ORDER BY s.lang
""",
)
def lang_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-BASED language rebalancing (the multilingual-
    pretraining move of mBERT/XLM-R: sample languages ∝ p^α with α<1
    so head languages shrink and tail languages grow): per language,
    the natural share p, the α=0.5 temperature weight q ∝ √p, the
    expected document count under q, and the boost factor q/p.

    α is fixed at 1/2 deliberately: √x is CORRECTLY ROUNDED in
    IEEE-754 (both engines produce identical bits), while pow(x, 0.3)
    is not — the published α=0.3 would put a libm parity risk inside
    the oracle. p is quantized to 6 dp BEFORE the sqrt so both engines
    feed it identical inputs; the normalizer is a decimal sum.

    Scale: one partial-agg groupBy over the language dimension plus
    broadcast 1-row totals — dimension-sized everything.
    """
    docs = load(spark, sf_dir, "documents")
    g = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    tot = g.agg(F.sum("n_docs").cast("long").alias("n_all"))
    p = g.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        rnd(F.col("n_docs") * 1.0 / F.col("n_all"), 6).alias("p6"),
        "n_all",
    )
    s = p.select(
        "lang", "n_docs", "p6", "n_all", rnd(F.sqrt("p6"), 6).alias("s6")
    )
    z = s.agg(dsum("s6", 6).alias("zs"))
    q6 = rnd(F.col("s6") / F.col("zs"), 6)
    return (
        s.crossJoin(F.broadcast(z))
        .select(
            "lang",
            "n_docs",
            "p6",
            q6.alias("q6"),
            F.floor(q6 * F.col("n_all") + F.lit(0.5))
            .cast("long")
            .alias("expected_docs"),
            # p6 quantizes to 0 for a <5e-7 share (plausible for a rare
            # language at 100 TB): 0/0 must be NULL on both engines,
            # never Spark NaN vs DuckDB NULL
            F.when(F.col("p6") > 0, rnd(q6 / F.col("p6"), 4)).alias(
                "boost4"
            ),
        )
        .orderBy("lang")
    )

@query("domain_mixture_reweight", _domain_reweight_oracle())
def domain_mixture_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-flavored DOMAIN REWEIGHTING (Xie et al. 2023, "DoReMi:
    Optimizing Data Mixtures"): per source domain, the mean proxy loss
    (the corpus bigram-LM perplexity proxy, reused from the registered
    bigram_logprob_quality), its EXCESS over the corpus mean, and one
    multiplicative-weights update step — domains the proxy model finds
    hard gain mixture weight, easy domains shrink.

    The published update is exponentiated-gradient w ∝ w_ref ·
    exp(η·excess); this implements its first-order form w ∝ w_ref ·
    max(1 + η·excess, 0) (η=0.5) DELIBERATELY: exp() is not correctly
    rounded in IEEE-754 and the repo keeps libm transcendentals out of
    oracle arithmetic beyond the proven LN family — the Taylor form is
    rational in quantized inputs, so both engines agree bit-for-bit,
    and for |η·excess| ≪ 1 (always, here) it is the same update to
    first order.

    Scale: the per-doc loss relation is the bigram LM's documented
    bounded plan; everything after is a source-dimension agg with
    broadcast 1-row totals.
    """
    docs = load(spark, sf_dir, "documents")
    scores = _bigram_logprob_core(docs).select("doc_id", "avg_nll2").join(
        docs.select("doc_id", "source"), "doc_id"
    )
    per = scores.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        rnd(dsum("avg_nll2", 6) / F.count(F.lit(1)), 6).alias("loss6"),
    )
    glob = scores.agg(
        rnd(dsum("avg_nll2", 6) / F.count(F.lit(1)), 6).alias("gloss6"),
        F.count(F.lit(1)).cast("long").alias("n_all"),
    )
    e = per.crossJoin(F.broadcast(glob)).select(
        "source",
        "n_docs",
        rnd(F.col("n_docs") * 1.0 / F.col("n_all"), 6).alias("w_ref6"),
        "loss6",
        rnd(F.col("loss6") - F.col("gloss6"), 6).alias("excess6"),
    )
    u = e.withColumn(
        "raw6",
        rnd(
            F.col("w_ref6")
            * F.greatest(F.lit(1.0) + F.lit(0.5) * F.col("excess6"), F.lit(0.0)),
            6,
        ),
    )
    z = u.agg(dsum("raw6", 6).alias("zs"))
    w_new6 = rnd(F.col("raw6") / F.col("zs"), 6)
    return (
        u.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            "loss6",
            "excess6",
            "w_ref6",
            w_new6.alias("w_new6"),
            # w_ref6 quantizes to 0 for a <5e-7 domain share: 0/0 must
            # be NULL on both engines, never Spark NaN vs DuckDB NULL
            F.when(
                F.col("w_ref6") > 0, rnd(w_new6 / F.col("w_ref6"), 4)
            ).alias("boost4"),
        )
        .orderBy("source")
    )

@query(
    "shard_assignment_stats",
    """
WITH d AS (
  SELECT doc_id, n_chars,
         CAST(('0x' || substr(md5('shard|' || CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 64 AS shard_id
  FROM documents
),
per AS (
  SELECT shard_id,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars,
         CAST(SUM(doc_id) AS BIGINT) AS id_checksum
  FROM d GROUP BY shard_id
),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs FROM per)
SELECT p.shard_id, p.n_docs, p.n_chars, p.id_checksum,
       FLOOR((p.n_docs * 1.0 / t.total_docs) * 1000000 + 0.5) / 1000000
         AS share6,
       FLOOR((p.n_docs * 64.0 / t.total_docs) * 10000 + 0.5) / 10000
         AS skew4
FROM per p CROSS JOIN tot t
ORDER BY p.shard_id
""",
)
def shard_assignment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUTPUT-SHARD assignment audit — the training-data writer's last
    step (WebDataset/TFRecord-style): every document lands in one of
    64 shards by a CONTENT-ADDRESSED hash (md5 of the doc id, never
    ingestion order or partition index), so the shard layout is stable
    across re-runs, repartitioning, and engine versions, and a
    re-ingested corpus diffs shard-by-shard. Reports per shard: doc
    count, byte load, an id checksum (membership, not just size), the
    corpus share, and skew = share/(1/64) — the balance check a
    data-loader's samplers assume (skew ≈ 1.0 everywhere; a hot shard
    starves epoch shuffling).

    Scale: one md5-keyed partial agg — the audit's shuffle IS the
    writer's shuffle (64 keys, map-side combined); output is 64 rows.
    """
    docs = load(spark, sf_dir, "documents")
    shard = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit("shard|"), F.col("doc_id").cast("string"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 64
    )
    per = (
        docs.select(
            shard.alias("shard_id"), "doc_id", "n_chars"
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
    )
    tot = per.agg(F.sum("n_docs").cast("long").alias("total_docs"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "shard_id",
            "n_docs",
            "n_chars",
            "id_checksum",
            rnd(F.col("n_docs") * 1.0 / F.col("total_docs"), 6).alias(
                "share6"
            ),
            rnd(F.col("n_docs") * 64.0 / F.col("total_docs"), 4).alias(
                "skew4"
            ),
        )
        .orderBy("shard_id")
    )

@query(
    "epoch_sampling_plan",
    f"""
WITH tc AS (
  SELECT source,
         CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> '')))
              AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t_all FROM tc),
p AS (
  SELECT tc.source, tc.n_docs, tc.n_tokens, t.t_all,
         FLOOR((tc.n_tokens * 1.0 / t.t_all) * 1000000 + 0.5) / 1000000 AS p6
  FROM tc CROSS JOIN tot t
),
s AS (
  SELECT source, n_docs, n_tokens, t_all, p6,
         FLOOR(sqrt(p6) * 1000000 + 0.5) / 1000000 AS s6
  FROM p
),
z AS (SELECT {sql_dsum('s6', 6)} AS zs FROM s),
q AS (
  SELECT s.source, s.n_docs, s.n_tokens, s.p6,
         FLOOR((s.s6 / z.zs) * 1000000 + 0.5) / 1000000 AS q6,
         s.t_all
  FROM s CROSS JOIN z
),
plan AS (
  SELECT source, n_docs, n_tokens, p6, q6,
         CAST(FLOOR(q6 * (2 * t_all) + 0.5) AS BIGINT) AS alloc_tokens
  FROM q
)
SELECT source, n_docs, n_tokens, p6, q6, alloc_tokens,
       FLOOR((alloc_tokens * 1.0 / n_tokens) * 10000 + 0.5) / 10000
         AS epochs4,
       (FLOOR((alloc_tokens * 1.0 / n_tokens) * 10000 + 0.5) / 10000 > 4.0)
         AS over_four_epochs
FROM plan ORDER BY source
""",
)
def epoch_sampling_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPOCH-SAMPLING plan under a fixed token budget — the
    data-constrained-scaling table (Muennighoff et al. 2023: repeating
    data is near-free up to ~4 epochs, then returns decay fast): given
    a training budget of 2× the corpus's tokens and α=1/2 temperature
    weights over sources (q ∝ √p on TOKEN shares — the same
    libm-safe √ construction as lang_temperature_sampling), each
    source's allocated tokens imply an epoch count
    alloc/available; sources pushed past 4 epochs are flagged — the
    review that catches a mixture plan quietly over-repeating a small
    high-weight source.

    Determinism: token counts are exact integers; p quantizes to 6 dp
    before the correctly-rounded sqrt; the normalizer is a decimal
    sum; allocations floor to integer tokens; epochs round at 4 dp.

    Scale: one token-count groupBy over the source dimension
    (map-side-combinable sum of per-row array lengths) + broadcast
    1-row totals — everything after is dimension-sized.
    """
    docs = load(spark, sf_dir, "documents")
    tc = docs.select(
        "source",
        F.size(F.expr("filter(split(text, ' '), x -> x != '')")).alias("nt"),
    ).groupBy("source").agg(
        F.sum("nt").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    tot = tc.agg(F.sum("n_tokens").cast("long").alias("t_all"))
    p = tc.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        "t_all",
        rnd(F.col("n_tokens") * 1.0 / F.col("t_all"), 6).alias("p6"),
    )
    s = p.withColumn("s6", rnd(F.sqrt("p6"), 6))
    z = s.agg(dsum("s6", 6).alias("zs"))
    q = s.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        "n_tokens",
        "p6",
        rnd(F.col("s6") / F.col("zs"), 6).alias("q6"),
        "t_all",
    )
    plan = q.select(
        "source",
        "n_docs",
        "n_tokens",
        "p6",
        "q6",
        F.floor(F.col("q6") * (2 * F.col("t_all")) + F.lit(0.5))
        .cast("long")
        .alias("alloc_tokens"),
    )
    epochs4 = rnd(F.col("alloc_tokens") * 1.0 / F.col("n_tokens"), 4)
    return plan.select(
        "source",
        "n_docs",
        "n_tokens",
        "p6",
        "q6",
        "alloc_tokens",
        epochs4.alias("epochs4"),
        (epochs4 > 4.0).alias("over_four_epochs"),
    ).orderBy("source")
