"""Governance tier: PII scrubbing stats, k-anonymity, l-diversity, t-closeness, DP releases, and corpus release reporting.

Split from the original queries.py (round 9); unit order and bodies
are byte-identical to the monolith — only module boundaries and
imports changed.
"""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from etl_weather_spark.functions.rounding import dsum, rnd, sql_dsum
from etl_weather_spark.operators.fence import fence
from etl_weather_spark.queries._registry import (
    _ORACLES,
    _build_concurrently,
    load,
    query,
)
from etl_weather_spark.queries.text import gopher_quality_gate, script_mixture_audit
from etl_weather_spark.queries.dedup import decontaminate_overlap, dedup_exact
from etl_weather_spark.queries.similarity import semantic_decontaminate


@query(
    "redact_terms",
    r"""
SELECT doc_id,
       len(regexp_extract_all(text, '\b(customer|supplier)\b')) AS n_hits,
       regexp_replace(text, '\b(customer|supplier)\b', '[TERM]', 'g') AS redacted
FROM documents
ORDER BY doc_id
""",
)
def redact_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denylist-term scrubbing over the corpus — the PII-redaction
    plumbing every training pipeline runs (emails/phones/names swap in
    for the denylist regex; the engine mechanics are identical): count
    hits, rewrite the text, keep zero-hit docs as verbatim passthrough.
    The redacted text itself is hash-checked, so the regex dialects
    (Java on the Spark side, RE2 in DuckDB) must agree on boundaries
    and replacement — ``\\b`` + literal alternation is the portable
    subset.

    Scale: pure map stage — no shuffle, whole-stage codegen end to
    end; at 100 TB this is a rewrite-in-place pass partitioned by
    input split, and the n_hits column doubles as the audit metric.
    """
    docs = load(spark, sf_dir, "documents")
    pat = r"\b(customer|supplier)\b"
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(pat), 0)).cast("long").alias("n_hits"),
        F.regexp_replace("text", pat, "[TERM]").alias("redacted"),
    ).orderBy("doc_id")

@query(
    "pii_scrub_stats",
    r"""
WITH seeded AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail'
              || CAST(doc_id % 7 AS VARCHAR) || '.net or 555-'
              || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
              || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
              || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.'
              || CAST((doc_id * 3) % 256 AS VARCHAR) || '.'
              || CAST((doc_id * 5) % 256 AS VARCHAR) || ' card '
              || lpad(CAST((doc_id * 2654435761) % 10000000000000000 AS VARCHAR), 16, '0')
         AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
       CAST(len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(text, '\b\d{16}\b')) AS BIGINT) AS n_num16,
       regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         text,
         '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
         '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
         '\b\d{16}\b', '<NUM16>', 'g') AS scrubbed,
       CAST(length(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         text,
         '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
         '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
         '\b\d{16}\b', '<NUM16>', 'g')) AS BIGINT) AS n_chars_scrubbed
FROM seeded
ORDER BY doc_id
""",
)
def pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-CLASS detection + redaction (the Dolma/C4-style scrub pass a
    corpus runs before raw text persists anywhere): deterministic PII
    — an email, a dashed phone, a dotted-quad IP, a 16-digit number —
    is seeded into every document in-plan, then
    operators/textops.pii_scrub masks each class with its token in a
    fixed order (emails FIRST: their local parts and domains contain
    digit runs the numeric classes must never see) and pii_count_cols
    reports per-class match counts.

    The oracle seeds the identical strings and runs the identical
    RE2-and-Java-portable regexes (no lookaround), so per-class counts
    AND the fully scrubbed text of every document hash-match char for
    char — a divergence in pattern semantics, scrub order, or
    boundary handling breaks the row.

    Scale: per-row regex in whole-stage codegen, no shuffle before the
    final sort; the scrub composes with the corpus-ingest funnel the
    same way redact_terms does.
    """
    from etl_weather_spark.operators.textops import pii_count_cols, pii_scrub

    docs = load(spark, sf_dir, "documents")
    seeded = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(".net or 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        ((F.col("doc_id") * 3) % 256).cast("string"),
        F.lit("."),
        ((F.col("doc_id") * 5) % 256).cast("string"),
        F.lit(" card "),
        F.lpad(
            ((F.col("doc_id") * F.lit(2654435761)) % F.lit(10000000000000000))
            .cast("string"),
            16,
            "0",
        ),
    )
    t = docs.select("doc_id", seeded.alias("text"))
    return (
        t.select(
            "doc_id",
            *[c.cast("long") for c in pii_count_cols(F.col("text"))],
            pii_scrub(F.col("text")).alias("scrubbed"),
        )
        .withColumn("n_chars_scrubbed", F.length("scrubbed").cast("long"))
        .orderBy("doc_id")
    )

@query(
    "k_anonymity_audit",
    """
WITH g AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY lang, source
),
tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
         CAST(SUM(CASE WHEN n_docs < 5 THEN n_docs ELSE 0 END) AS BIGINT) AS risk_docs
  FROM g
)
SELECT g.lang, g.source, g.n_docs,
       (g.n_docs >= 5) AS k_ok,
       t.risk_docs,
       FLOOR((t.risk_docs * 1.0 / t.total_docs) * 10000 + 0.5) / 10000 AS risk_share4
FROM g CROSS JOIN tot t
ORDER BY g.lang, g.source
""",
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier pair (lang, source):
    any group smaller than k=5 makes its documents re-identifiable by
    those attributes alone — the governance check run before releasing
    a training corpus with metadata attached (k-anonymity, Sweeney
    2002). Reports every equivalence class, its k status, and the
    corpus-wide share of at-risk documents.

    Scale: one partial-agg groupBy over the (bounded) quasi-identifier
    dimensions plus a broadcast 1-row total; output is
    dimension-sized.
    """
    docs = load(spark, sf_dir, "documents")
    g = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    tot = g.agg(
        F.sum("n_docs").cast("long").alias("total_docs"),
        F.sum(F.when(F.col("n_docs") < 5, F.col("n_docs")).otherwise(0))
        .cast("long")
        .alias("risk_docs"),
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n_docs",
            (F.col("n_docs") >= 5).alias("k_ok"),
            "risk_docs",
            rnd(F.col("risk_docs") * 1.0 / F.col("total_docs"), 4).alias(
                "risk_share4"
            ),
        )
        .orderBy("lang", "source")
    )

@query(
    "l_diversity_audit",
    """
WITH cls AS (
  SELECT source, CAST(FLOOR(n_chars / 100.0) AS BIGINT) AS len_band,
         lang, doc_id
  FROM documents
),
g AS (
  SELECT source, len_band,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS l_distinct
  FROM cls GROUP BY source, len_band
),
tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
         CAST(SUM(CASE WHEN l_distinct < 2 THEN n_docs ELSE 0 END) AS BIGINT)
           AS risk_docs
  FROM g
)
SELECT g.source, g.len_band, g.n_docs, g.l_distinct,
       (g.l_distinct >= 2) AS l_ok,
       t.risk_docs,
       FLOOR((t.risk_docs * 1.0 / t.total_docs) * 10000 + 0.5) / 10000
         AS risk_share4
FROM g CROSS JOIN tot t
ORDER BY g.source, g.len_band
""",
)
def l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-DIVERSITY audit (Machanavajjhala et al. 2007 — the successor
    governance check to k-anonymity): within each quasi-identifier
    equivalence class (source × 100-char length band), how many
    DISTINCT values of the sensitive attribute (language) appear — a
    class can satisfy k-anonymity yet leak the sensitive value exactly
    when every member shares it (the homogeneity attack l-diversity
    exists to catch). Reports every class, its l, the l ≥ 2 status,
    and the corpus share of documents in failing classes.

    Scale: one partial-agg groupBy over the bounded QI dimensions
    (count-distinct over the tiny language domain) plus a broadcast
    1-row total; output is dimension-sized. Pairs with
    k_anonymity_audit (same QI discipline, orthogonal attack model).
    """
    docs = load(spark, sf_dir, "documents")
    cls = docs.select(
        "source",
        F.floor(F.col("n_chars") / F.lit(100.0)).cast("long").alias("len_band"),
        "lang",
    )
    g = cls.groupBy("source", "len_band").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_distinct("lang").cast("long").alias("l_distinct"),
    )
    tot = g.agg(
        F.sum("n_docs").cast("long").alias("total_docs"),
        F.sum(F.when(F.col("l_distinct") < 2, F.col("n_docs")).otherwise(0))
        .cast("long")
        .alias("risk_docs"),
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "len_band",
            "n_docs",
            "l_distinct",
            (F.col("l_distinct") >= 2).alias("l_ok"),
            "risk_docs",
            rnd(F.col("risk_docs") * 1.0 / F.col("total_docs"), 4).alias(
                "risk_share4"
            ),
        )
        .orderBy("source", "len_band")
    )

def _release_report_oracle() -> str:
    """Embed the SEVEN registered audit oracles verbatim (the funnel /
    decontamination-agreement discipline: composition cannot drift from
    the standalone audits) and reduce each to its release-card scalar."""
    return f"""
WITH tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
tr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train FROM documents
       WHERE doc_id % 50 <> 0),
dup AS (
  SELECT CAST(SUM(n_docs) - COUNT(*) AS BIGINT) AS removed
  FROM ({_ORACLES["dedup_exact"]})
),
pii AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN n_email + n_ip + n_phone + n_num16 > 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS hits
  FROM ({_ORACLES["pii_scrub_stats"]})
),
shing AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS flagged
  FROM ({_ORACLES["decontaminate_overlap"]})
),
sem AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT)
           AS hits
  FROM ({_ORACLES["semantic_decontaminate"]})
),
kan AS (
  SELECT MAX(risk_share4) AS risk_share4
  FROM ({_ORACLES["k_anonymity_audit"]})
),
gq AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept
  FROM ({_ORACLES["gopher_quality_gate"]})
),
scr AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN mixed_script THEN n_docs ELSE 0 END) AS BIGINT)
           AS mixed
  FROM ({_ORACLES["script_mixture_audit"]})
)
SELECT tot.n_docs,
       FLOOR((dup.removed * 1.0 / tot.n_docs) * 1000000 + 0.5) / 1000000
         AS dup_rate6,
       FLOOR((pii.hits * 1.0 / pii.n) * 1000000 + 0.5) / 1000000
         AS pii_rate6,
       FLOOR((shing.flagged * 1.0 / tr.n_train) * 1000000 + 0.5) / 1000000
         AS shingle_contam_rate6,
       FLOOR((sem.hits * 1.0 / sem.n) * 1000000 + 0.5) / 1000000
         AS semantic_contam_rate6,
       kan.risk_share4 AS k_anon_risk_share4,
       FLOOR((gq.kept * 1.0 / gq.n) * 1000000 + 0.5) / 1000000
         AS gopher_keep_rate6,
       FLOOR((scr.mixed * 1.0 / scr.n) * 1000000 + 0.5) / 1000000
         AS mixed_script_share6
FROM tot CROSS JOIN tr CROSS JOIN dup CROSS JOIN pii CROSS JOIN shing
CROSS JOIN sem CROSS JOIN kan CROSS JOIN gq CROSS JOIN scr
"""

@query("corpus_release_report", _release_report_oracle())
def corpus_release_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELEASE-GOVERNANCE data card (Datasheets for Datasets /
    Data Cards shape): the one-row report a corpus publisher signs off
    on, composing SEVEN independently-oracled audits into their
    headline scalars — exact-duplicate rate, PII incidence, verbatim
    (5-gram) and semantic (embedding) benchmark-contamination rates,
    k-anonymity re-identification risk share, the Gopher quality keep
    rate, and the mixed-script (spam-signal) share.

    Every leg is the REGISTERED query reused verbatim on the Spark
    side, and the oracle embeds the seven registered oracles verbatim
    (the corpus_prep_funnel / decontamination_method_agreement
    discipline) — so the report is definitionally consistent with the
    standalone audits it summarizes.

    Scale: each leg keeps its own documented bounded plan; the report
    itself joins eight 1-row relations (broadcast by construction).
    """
    docs = load(spark, sf_dir, "documents")
    # the nine legs are independent registered audits — build them
    # concurrently (round 11, _registry._build_concurrently: leg
    # construction runs blocking fence/reference-pin jobs serially
    # otherwise)
    tot, tr, dup, pii, shing, sem, kan, gq, scr = _build_concurrently(
        [
            lambda: docs.agg(
                F.count(F.lit(1)).cast("long").alias("n_docs")
            ),
            lambda: docs.filter(F.col("doc_id") % 50 != 0).agg(
                F.count(F.lit(1)).cast("long").alias("n_train")
            ),
            lambda: dedup_exact(spark, sf_dir).agg(
                (F.sum("n_docs") - F.count(F.lit(1)))
                .cast("long")
                .alias("removed")
            ),
            lambda: pii_scrub_stats(spark, sf_dir).agg(
                F.count(F.lit(1)).cast("long").alias("pii_n"),
                F.sum(
                    F.when(
                        F.col("n_email") + F.col("n_ip") + F.col("n_phone")
                        + F.col("n_num16")
                        > 0,
                        1,
                    ).otherwise(0)
                )
                .cast("long")
                .alias("pii_hits"),
            ),
            lambda: decontaminate_overlap(spark, sf_dir).agg(
                F.count(F.lit(1)).cast("long").alias("flagged")
            ),
            lambda: semantic_decontaminate(spark, sf_dir).agg(
                F.count(F.lit(1)).cast("long").alias("sem_n"),
                F.sum(F.when(F.col("contaminated"), 1).otherwise(0))
                .cast("long")
                .alias("sem_hits"),
            ),
            lambda: k_anonymity_audit(spark, sf_dir).agg(
                F.max("risk_share4").alias("k_anon_risk_share4")
            ),
            lambda: gopher_quality_gate(spark, sf_dir).agg(
                F.count(F.lit(1)).cast("long").alias("gq_n"),
                F.sum(F.when(F.col("keep"), 1).otherwise(0))
                .cast("long")
                .alias("gq_kept"),
            ),
            lambda: script_mixture_audit(spark, sf_dir).agg(
                F.sum("n_docs").cast("long").alias("scr_n"),
                F.sum(
                    F.when(F.col("mixed_script"), F.col("n_docs")).otherwise(0)
                )
                .cast("long")
                .alias("scr_mixed"),
            ),
        ]
    )
    out = tot
    for leg in (tr, dup, pii, shing, sem, kan, gq, scr):
        out = out.crossJoin(F.broadcast(leg))
    return out.select(
        "n_docs",
        rnd(F.col("removed") * 1.0 / F.col("n_docs"), 6).alias("dup_rate6"),
        rnd(F.col("pii_hits") * 1.0 / F.col("pii_n"), 6).alias("pii_rate6"),
        rnd(F.col("flagged") * 1.0 / F.col("n_train"), 6).alias(
            "shingle_contam_rate6"
        ),
        rnd(F.col("sem_hits") * 1.0 / F.col("sem_n"), 6).alias(
            "semantic_contam_rate6"
        ),
        "k_anon_risk_share4",
        rnd(F.col("gq_kept") * 1.0 / F.col("gq_n"), 6).alias(
            "gopher_keep_rate6"
        ),
        rnd(F.col("scr_mixed") * 1.0 / F.col("scr_n"), 6).alias(
            "mixed_script_share6"
        ),
    )

@query(
    "dp_laplace_release",
    """
WITH g AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_true
  FROM documents GROUP BY lang, source
),
u AS (
  SELECT lang, source, n_true,
         (CAST(('0x' || substr(md5('dp|' || lang || '|' || source), 1, 13))
               AS BIGINT) + 1.0) / 4503599627370496 AS uu
  FROM g
),
nz AS (
  SELECT lang, source, n_true,
         CASE WHEN uu - 0.5 >= 0 THEN -1.0 ELSE 1.0 END
         * (FLOOR(LN(GREATEST(1 - 2 * ABS(uu - 0.5), 1e-15))
                  * 1000000000 + 0.5) / 1000000000) AS raw
  FROM u
),
rel AS (
  SELECT lang, source, n_true,
         FLOOR(raw * 1000000 + 0.5) / 1000000 AS noise6
  FROM nz
)
SELECT lang, source, n_true, noise6,
       FLOOR((n_true + noise6) * 1000000 + 0.5) / 1000000 AS noisy6,
       CAST(GREATEST(FLOOR(n_true + noise6 + 0.5), 0) AS BIGINT)
         AS released,
       CAST(1.0 AS DOUBLE) AS epsilon
FROM rel ORDER BY lang, source
""",
)
def dp_laplace_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENTIALLY-PRIVATE count release (the Laplace mechanism,
    ε = 1, sensitivity 1) over the (lang, source) contingency table —
    the third leg of the release-governance stack next to k-anonymity
    and l-diversity: publish noisy cell counts instead of true ones.
    Noise is Laplace(1/ε) via the inverse CDF
    −b·sign(u−½)·ln(1−2|u−½|) with u drawn content-addressed from
    md5 of the cell key (the weighted_sample_topk −ln(u) convention):
    deterministic so the MECHANISM's algebra is cross-engine-verified
    end to end — a production release swaps in a secure RNG for u and
    changes nothing else. Reports true count, noise, noisy value, and
    the clipped integer actually released.

    Determinism: u is an exact rational from a 13-hex-digit md5
    prefix over 2^52; the log-term floor-guard (1e-15) keeps the
    inverse CDF finite at the u→1 boundary; ln quantizes at 1e9 (the
    zipf discipline), noise at 6 dp, and the released integer is a
    FLOOR(x+0.5) of identical doubles.

    Scale: one partial-agg groupBy over the bounded QI dimensions;
    everything after is a per-cell projection.
    """
    docs = load(spark, sf_dir, "documents")
    g = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_true")
    )
    uu = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("dp|"),
                        F.col("lang"),
                        F.lit("|"),
                        F.col("source"),
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(1 << 52))
    t = uu - F.lit(0.5)
    raw = F.when(t >= 0, F.lit(-1.0)).otherwise(F.lit(1.0)) * rnd(
        F.log(F.greatest(F.lit(1) - 2 * F.abs(t), F.lit(1e-15))), 9
    )
    rel = g.select(
        "lang", "source", "n_true", rnd(raw, 6).alias("noise6")
    )
    return rel.select(
        "lang",
        "source",
        "n_true",
        "noise6",
        rnd(F.col("n_true") + F.col("noise6"), 6).alias("noisy6"),
        F.greatest(
            F.floor(F.col("n_true") + F.col("noise6") + F.lit(0.5)), F.lit(0)
        )
        .cast("long")
        .alias("released"),
        F.lit(1.0).alias("epsilon"),
    ).orderBy("lang", "source")

@query(
    "t_closeness_audit",
    f"""
WITH cls AS (
  SELECT source, CAST(FLOOR(n_chars / 100.0) AS BIGINT) AS len_band, lang
  FROM documents
),
cl AS (
  SELECT source, len_band, lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM cls GROUP BY 1, 2, 3
),
classes AS (
  SELECT source, len_band, CAST(SUM(n) AS BIGINT) AS n_docs
  FROM cl GROUP BY 1, 2
),
langs AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS nl FROM cl GROUP BY 1),
tot AS (SELECT CAST(SUM(nl) AS BIGINT) AS total FROM langs),
grid AS (
  SELECT c.source, c.len_band, c.n_docs,
         FLOOR((COALESCE(x.n, 0) * 1.0 / c.n_docs) * 1000000 + 0.5)
           / 1000000 AS p6,
         FLOOR((l.nl * 1.0 / t.total) * 1000000 + 0.5) / 1000000 AS q6
  FROM classes c
  CROSS JOIN langs l
  CROSS JOIN tot t
  LEFT JOIN cl x ON x.source = c.source AND x.len_band = c.len_band
                AND x.lang = l.lang
),
tv AS (
  SELECT source, len_band, MAX(n_docs) AS n_docs,
         FLOOR(({sql_dsum('ABS(p6 - q6)', 7)} * 0.5) * 1000000 + 0.5)
           / 1000000 AS tvd6
  FROM grid GROUP BY 1, 2
),
mx AS (
  SELECT MAX(tvd6) AS max_tvd6,
         CAST(SUM(CASE WHEN tvd6 > 0.2 THEN n_docs ELSE 0 END) AS BIGINT)
           AS risk_docs,
         CAST(SUM(n_docs) AS BIGINT) AS total_docs
  FROM tv
)
SELECT v.source, v.len_band, v.n_docs, v.tvd6, v.tvd6 <= 0.2 AS t_ok,
       m.max_tvd6,
       FLOOR((m.risk_docs * 1.0 / m.total_docs) * 10000 + 0.5) / 10000
         AS risk_share4
FROM tv v CROSS JOIN mx m
ORDER BY v.source, v.len_band
""",
)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-CLOSENESS audit (Li, Li & Venkatasubramanian 2007 — the rung
    above l-diversity on the anonymity ladder this registry now walks
    end to end: k-anonymity → l-diversity → t-closeness → DP release):
    a QI class can be k-anonymous AND l-diverse yet still leak — if its
    sensitive-attribute DISTRIBUTION differs sharply from the global
    one, an observer learns a posterior shift (the skewness attack).
    Per class (source × 100-char length band, the registry's QI
    discipline): the total-variation distance between the class's
    language distribution and the corpus's, the t ≤ 0.2 verdict
    (categorical attributes take the variational distance; 0.2 is the
    paper's illustrative setting, documented as configurable), the
    corpus max t, and the share of documents in failing classes.

    Scale: one (QI × lang) partial agg, then a classes × |langs| grid
    — both dimension-sized at any corpus size; per-class TVD sums fold
    through the decimal dsum so cell order cannot matter.
    """
    docs = load(spark, sf_dir, "documents")
    cls = docs.select(
        "source",
        F.floor(F.col("n_chars") / F.lit(100.0)).cast("long").alias("len_band"),
        "lang",
    )
    cl = cls.groupBy("source", "len_band", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    cl = fence(cl)
    classes = cl.groupBy("source", "len_band").agg(
        F.sum("n").cast("long").alias("n_docs")
    )
    langs = cl.groupBy("lang").agg(F.sum("n").cast("long").alias("nl"))
    tot = langs.agg(F.sum("nl").cast("long").alias("total"))
    grid = (
        classes.crossJoin(F.broadcast(langs))
        .crossJoin(F.broadcast(tot))
        .join(cl, ["source", "len_band", "lang"], "left")
        .select(
            "source",
            "len_band",
            "n_docs",
            rnd(
                F.coalesce(F.col("n"), F.lit(0)) * 1.0 / F.col("n_docs"), 6
            ).alias("p6"),
            rnd(F.col("nl") * 1.0 / F.col("total"), 6).alias("q6"),
        )
    )
    tv = grid.groupBy("source", "len_band").agg(
        F.max("n_docs").alias("n_docs"),
        rnd(dsum(F.abs(F.col("p6") - F.col("q6")), 7) * 0.5, 6).alias("tvd6"),
    )
    tv = fence(tv)
    mx = tv.agg(
        F.max("tvd6").alias("max_tvd6"),
        F.sum(F.when(F.col("tvd6") > 0.2, F.col("n_docs")).otherwise(0))
        .cast("long")
        .alias("risk_docs"),
        F.sum("n_docs").cast("long").alias("total_docs"),
    )
    return (
        tv.crossJoin(F.broadcast(mx))
        .select(
            "source",
            "len_band",
            "n_docs",
            "tvd6",
            (F.col("tvd6") <= 0.2).alias("t_ok"),
            "max_tvd6",
            rnd(F.col("risk_docs") * 1.0 / F.col("total_docs"), 4).alias(
                "risk_share4"
            ),
        )
        .orderBy("source", "len_band")
    )
