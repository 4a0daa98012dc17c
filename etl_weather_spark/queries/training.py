"""Trained-classifier tier: distributed batch-GD training, the committed-model registry wiring, trained-vs-fixed audits, curation funnels, and training-dynamics analytics.

Split from the original queries.py (round 9); unit order and bodies
are byte-identical to the monolith — only module boundaries and
imports changed.
"""

from __future__ import annotations
from functools import reduce
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
from etl_weather_spark.queries._registry import (
    _ORACLES,
    _QUERIES,
    _build_concurrently,
    load,
    query,
)
from etl_weather_spark.queries.relational import (
    _BOOT_B,
    _BUDGET_FRACS,
    _FUNNEL_SQL,
    _POISSON_HEX_BOUNDS,
    _boot_weight_sql,
    _mad_outlier_core,
    _scalable_rank,
)
from etl_weather_spark.queries.text import (
    _bigram_logprob_core,
    _ccnet_ppl_core,
    _code_detect_core,
    _dsir_core,
    _ensemble_oracle,
    _gopher_oracle,
    _gopher_tuned_core,
    _lang_id_confidence_core,
    _quality_logistic_core,
    token_entropy_quality,
)
from etl_weather_spark.queries.dedup import _cc_membership_committed
from etl_weather_spark.streaming.trained_funnel import STAGES


@query("corpus_prep_funnel", _FUNNEL_SQL)
def corpus_prep_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus preparation: the whole training-data prep
    chain as ONE composition — holdout split → language filter →
    quality threshold → exact dedup (min-id per fingerprint) →
    near-dup collapse (trigram-Jaccard ≥0.5 pairs → connected
    components, keep cluster min) → benchmark decontamination (5-gram
    overlap vs the held-out set). Emits per-stage survivor counts AND
    a kept_id_sum checksum, so the oracle verifies the surviving SET
    at every stage, not just its size.

    Every stage reuses the independently-oracled operator (doc_profile,
    doc_fingerprint, pruned_jaccard_pairs, connected_components,
    exploded_shingles) — this query proves they COMPOSE: filters feed
    dedup feeds decontamination with sequential semantics, the thing a
    real pipeline runs nightly.

    Scale: each stage is the same plan shape its standalone query
    runs; survivors pass between stages as narrow (doc_id) keys
    (semi/anti joins), never re-materialized text. In production each
    stage's survivor set checkpoints to the lakehouse
    (materialize_if_absent) instead of recomputing the chain per
    downstream action.
    """
    from etl_weather_spark.operators.dedup import (
        connected_components,
        exploded_shingles,
        pruned_jaccard_pairs,
    )
    from etl_weather_spark.operators.textops import doc_profile

    docs = load(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    bench = docs.filter(F.col("doc_id") % 50 == 0)

    s1 = corpus.filter(F.col("lang") == "en")
    good = doc_profile(s1).filter(F.col("quality") >= 0.5).select("doc_id")
    s2 = s1.join(good, "doc_id")
    keep3 = (
        s2.select("doc_id", doc_fingerprint(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    s3 = s2.join(keep3, "doc_id")
    cc = connected_components(pruned_jaccard_pairs(s3, shingle_n=3, min_jaccard=0.5))
    drop4 = cc.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id")
    )
    s4 = s3.join(drop4, "doc_id", "left_anti")
    bsh = exploded_shingles(bench, keep_cols=[], n=5).select("sh").distinct()
    tsh = exploded_shingles(s4, keep_cols=["doc_id"], n=5)
    contaminated = tsh.join(F.broadcast(bsh), "sh").select("doc_id").distinct()
    s5 = s4.join(contaminated, "doc_id", "left_anti")

    def stage(no: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("doc_id"), F.lit(0)).cast("long").alias("kept_id_sum"),
        ).select(
            F.lit(no).alias("stage_no"), F.lit(name).alias("stage"),
            "n_docs", "kept_id_sum",
        )

    rows = [
        stage(0, "raw", corpus), stage(1, "lang_en", s1), stage(2, "quality", s2),
        stage(3, "exact_dedup", s3), stage(4, "near_dedup", s4),
        stage(5, "decontaminated", s5),
    ]
    return reduce(lambda a, b: a.unionByName(b), rows).orderBy("stage_no")

@query("gopher_quality_gate_tuned", _gopher_oracle(1))
def gopher_quality_gate_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gopher_quality_gate with the ONE corpus adaptation production
    always makes — the stop-word floor tuned to the corpus vocabulary
    (here ``min_stopwords=1``: the synthetic vocabulary contains
    exactly one of the published eight, so the published ≥2 floor
    rejects every document regardless of quality). All other rules stay
    at the published constants; this is the variant the corpus-prep
    funnel runs.
    """
    from etl_weather_spark.operators.textops import gopher_quality_profile

    return gopher_quality_profile(
        load(spark, sf_dir, "documents"), min_stopwords=1
    )

#: THE funnel gate chain, defined exactly once: every funnel-family
#: surface (v2, v3, v4, the incremental funnel, the shard manifest, the
#: attribution and bias audits, and the streaming trained funnel) reads
#: its gates from here, Spark side and oracle side alike; a per-surface
#: copy once desynchronized silently. Tuples: (stage_name, registered
#: query/oracle key, SQL keep condition, docs-parameterized core). The
#: Spark side filters with ``F.expr(cond)``, the same Catalyst predicate
#: the oracle's WHERE states, so the two sides cannot drift apart.
_FUNNEL_GATES = [
    ("lang_confident", "lang_id_confidence", "tier = 'high'",
     _lang_id_confidence_core),
    ("not_code", "code_detect_stats", "NOT looks_like_code",
     _code_detect_core),
    ("gopher_keep", "gopher_quality_gate_tuned", "keep", _gopher_tuned_core),
    ("quality_keep", "quality_logistic_filter", "keep",
     _quality_logistic_core),
    ("length_sane", "mad_outlier_docs", "NOT is_outlier", _mad_outlier_core),
    ("fluent", "ccnet_ppl_buckets", "bucket <> 'tail'", _ccnet_ppl_core),
    ("dsir_keep", "dsir_importance_weights", "kept", _dsir_core),
]

#: the per-doc gates of the delta funnels (the incremental query and
#: the streaming trained funnel): the corpus-FITTED gates are re-fit by
#: the nightly full run, never per delta
_PER_DOC_GATES = [g for g in _FUNNEL_GATES if g[0] in STAGES]

def _gate_flags(
    spark: SparkSession, sf_dir: str, *cols: str, swap=None
) -> tuple[DataFrame, list[str]]:
    """The flags relation of the globally-fit funnels and its gate
    names: every registered gate's full-corpus keep-set, built
    concurrently (each construction runs its fences' jobs), LEFT-joined
    onto the ``documents`` spine and projected as (doc_id, *cols,
    k1..kn), k_i = 1 when gate i keeps the doc, else 0. ``swap`` =
    (gate name, new name, keep relation) puts another keep-set in one
    gate's place (v4's trained classifier); build it before the call
    (see _build_concurrently on artifacts). Every keep-set has one row
    per doc_id (test_funnel_gate_keep_sets_unique_per_doc), so the
    joins never multiply spine rows."""
    swap = swap or (None, None, None)
    names = [swap[1] if n == swap[0] else n for n, *_ in _FUNNEL_GATES]

    def keep(i: int, name: str, key: str, cond: str) -> DataFrame:
        rel = (
            swap[2]
            if name == swap[0]
            else _QUERIES[key](spark, sf_dir).filter(F.expr(cond))
        )
        return rel.select("doc_id", F.lit(1).alias(f"__k{i}"))

    keeps = _build_concurrently(
        [
            lambda i=i, g=g: keep(i, *g[:3])
            for i, g in enumerate(_FUNNEL_GATES, start=1)
        ]
    )
    flags = load(spark, sf_dir, "documents").select("doc_id", *cols)
    for k in keeps:
        flags = flags.join(k, "doc_id", "left")
    ks = [
        F.coalesce(F.col(f"__k{i}"), F.lit(0)).alias(f"k{i}")
        for i in range(1, len(names) + 1)
    ]
    return flags.select("doc_id", *cols, *ks), names

def _survivor_chain(
    src: DataFrame, gates, trained=None, fenced: bool = True
) -> list[DataFrame]:
    """The sequential survivor chain, ``src`` first: gate i's core is
    fit on stage i-1's survivors and its keep-set semi-joined onto them;
    ``trained`` (survivors -> keep-set), when given, is the last gate.
    ``fenced`` puts a lazy fence on every level: in a batch
    query each level has three consumers (its stage row, the next gate's
    fit and the next semi-join), and unfenced the plan re-expands the
    whole prior chain per level."""
    keeps = [
        lambda s, cond=cond, core=core: core(s).filter(F.expr(cond))
        for _name, _key, cond, core in gates
    ]
    if trained is not None:
        keeps.append(trained)
    out = [src]
    for keep in keeps:
        s = out[-1].join(keep(out[-1]).select("doc_id"), "doc_id", "left_semi")
        out.append(fence(s) if fenced else s)
    return out

def _stage_rows(names: list[str], stages: list[DataFrame]) -> DataFrame:
    """One (stage, stage_name, n_kept, id_checksum) row per survivor
    relation, in stage order."""
    rows = [
        df.agg(
            F.lit(i).cast("long").alias("stage"),
            F.lit(name).alias("stage_name"),
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        for i, (name, df) in enumerate(zip(names, stages, strict=True))
    ]
    return reduce(DataFrame.unionByName, rows).orderBy("stage")

def _gate_sql(gates, swap=None) -> list[tuple[str, str]]:
    """(stage name, ``g{i}`` CTE) per gate: the registered gate oracle
    embedded verbatim (a nested-WITH derived table) under its SQL keep
    condition, so no funnel oracle's stage logic can drift from the
    standalone queries'. ``swap`` as in _gate_flags, its keep relation
    given as SQL."""
    out = []
    for i, (name, key, cond, _core) in enumerate(gates, start=1):
        if swap and name == swap[0]:
            out.append((swap[1], f"g{i} AS {swap[2]}"))
        else:
            out.append(
                (name, f"g{i} AS (SELECT doc_id FROM ({_ORACLES[key]}\n) WHERE {cond})")
            )
    return out

def _chain_sql(swap=None) -> tuple[list[str], list[str]]:
    """The oracle's survivor chain over the gate table, s0 = documents
    and s_i = s_{i-1} JOIN g_i: its CTEs, and the stage names (all_docs
    first) for _stage_report_sql."""
    ctes = ["s0 AS (SELECT doc_id FROM documents)"]
    names = ["all_docs"]
    for i, (name, cte) in enumerate(_gate_sql(_FUNNEL_GATES, swap), start=1):
        ctes.append(cte)
        ctes.append(
            f"s{i} AS (SELECT s.doc_id FROM s{i-1} s JOIN g{i} g ON g.doc_id = s.doc_id)"
        )
        names.append(name)
    return ctes, names

def _flags_sql(*cols: str) -> tuple[list[str], list[str]]:
    """The oracle twin of _gate_flags: the g_i CTEs plus one
    MATERIALIZED (doc_id, *cols, k1..kn) flags relation, and the gate
    names."""
    gates = _gate_sql(_FUNNEL_GATES)
    ids = range(1, len(gates) + 1)
    ctes = [cte for _name, cte in gates]
    ctes.append(
        "flags AS MATERIALIZED (SELECT "
        + ", ".join(
            [f"d.{c}" for c in ("doc_id", *cols)]
            + [f"CASE WHEN g{i}.doc_id IS NULL THEN 0 ELSE 1 END AS k{i}" for i in ids]
        )
        + " FROM documents d "
        + " ".join(f"LEFT JOIN g{i} ON g{i}.doc_id = d.doc_id" for i in ids)
        + ")"
    )
    return ctes, [name for name, _cte in gates]

def _stage_report_sql(ctes: list[str], names: list[str], rel: str = "s") -> str:
    """``WITH ctes`` and one (stage, stage_name, n_kept, id_checksum)
    row per stage relation ``{rel}{i}``, in stage order."""
    rows = [
        f"SELECT {i} AS stage, '{name}' AS stage_name,"
        f" CAST(COUNT(*) AS BIGINT) AS n_kept,"
        f" CAST(SUM(doc_id) AS BIGINT) AS id_checksum FROM {rel}{i}"
        for i, name in enumerate(names)
    ]
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL\n".join(rows)
        + "\nORDER BY stage"
    )

@query("corpus_prep_funnel_v2", _stage_report_sql(*_chain_sql()))
def corpus_prep_funnel_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MODERN corpus-curation funnel: the rule-based, model-based
    and statistical gates intersected in pipeline order — language
    confidence (keep only high-margin lang-ID) → code routing (prose
    lane) → Gopher rule composite (corpus-tuned stop-word floor) →
    logistic quality classifier → robust length-outlier
    removal (median+MAD) → per-language perplexity tercile (drop the
    tail third) → DSIR importance keep. Emits per-stage survivor
    counts AND an id checksum, so the oracle verifies the surviving
    SET at every stage (corpus_prep_funnel's contract, on the new
    gate family).

    Semantics note (deliberate): every gate's population statistics
    (MAD medians, perplexity tercile boundaries, the DSIR bucket
    models) are fit on the FULL corpus, exactly as each standalone
    query computes them — the stages here measure the attrition of
    GLOBALLY-fit gates applied in order. A pipeline that re-fits each
    gate on the previous stage's survivors (as some production stacks
    do) would produce different boundaries; that variant is a
    parameterization of the same operators, not a different engine
    capability, and global fitting is what keeps every stage
    independently oracled.

    Every gate is the independently-oracled registry query, reused
    verbatim — Spark side calls the registered functions, and the
    oracle EMBEDS the registered oracle strings (built
    programmatically, so stage logic cannot drift).

    Scale (optimization round 10): because every gate is GLOBALLY fit,
    stage i's survivor set is exactly {doc | gates 1..i all keep} — so
    instead of a sequential semi-join chain with a blocking
    fence per stage (8 serialized materialization jobs), the
    seven keep-sets LEFT-join once into ONE flags relation (the
    gate_attribution_audit shape — the gates then compute CONCURRENTLY
    inside one job), each doc's survival depth = its first failing
    gate, and all 8 stage rows fall out of a single aggregation pass
    over the flags (conditional sums on depth ≥ i). Identical
    rows to the chained form — intersections of globally-fit keep-sets
    commute — measured 6.2 s → ~4 s at sf0.1.
    """
    return _funnel_stage_report(*_gate_flags(spark, sf_dir))

def _funnel_stage_report(flags: DataFrame, names: list[str]) -> DataFrame:
    """Stage-attrition report for funnels whose gates are all globally
    fit (v2 and v4), over the _gate_flags relation: per-doc survival
    depth = count of leading gates passed, one unfenced aggregation pass
    producing every stage row. Stage i survivors == the sequential
    chain's, because intersecting globally-fit keep-sets is
    order-insensitive; n_kept / id_checksum use count(when)/sum(when) so
    empty stages yield 0/NULL exactly like an aggregate over an empty
    survivor relation."""
    # survival depth: number of LEADING gates passed (first fail stops).
    # No fence on the flags: this aggregation pass is their only
    # consumer, so a fence would materialize a corpus-sized
    # relation nothing re-reads (round 11)
    ks = [F.col(f"k{i}") for i in range(1, len(names) + 1)]
    depth = ks[0]
    prefix = ks[0]
    for k in ks[1:]:
        prefix = prefix * k
        depth = depth + prefix
    per = flags.select("doc_id", depth.alias("__depth"))
    names = ["all_docs"] + names
    aggs = []
    for i in range(len(names)):
        cond = F.col("__depth") >= i
        aggs.append(F.count(F.when(cond, 1)).cast("long").alias(f"n{i}"))
        aggs.append(
            F.sum(F.when(cond, F.col("doc_id"))).cast("long").alias(f"c{i}")
        )
    one = per.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("stage"),
                F.lit(names[i]).alias("stage_name"),
                F.col(f"n{i}").alias("n_kept"),
                F.col(f"c{i}").alias("id_checksum"),
            )
            for i in range(len(names))
        ]
    )
    return (
        one.select(F.explode(rows).alias("r"))
        .select("r.stage", "r.stage_name", "r.n_kept", "r.id_checksum")
        .orderBy("stage")
    )

def _funnel_v3_oracle() -> str:
    """v3 oracle: the SAME registered gate oracles, but each one's
    ``documents`` references are mechanically rewritten to the previous
    stage's survivor-restricted corpus (``docs_s{i-1}``), so every
    gate's statistics — MAD medians, the bigram LM and its tercile
    boundaries, the DSIR bucket models — are re-fit on the survivors,
    the CCNet/RefinedWeb production shape. The rewrite is a word-
    boundary substitution on a table name that appears only in
    FROM/JOIN position in every gate oracle, so gate logic still
    cannot drift from the standalone queries'."""
    import re

    ctes = ["s0 AS (SELECT doc_id FROM documents)"]
    for i, (_name, key, cond, _core) in enumerate(_FUNNEL_GATES, start=1):
        refit = re.sub(r"\bdocuments\b", f"docs_s{i - 1}", _ORACLES[key])
        # MATERIALIZED fences: every gate oracle references its
        # restricted corpus several times, and each survivor set feeds
        # both its stage row and the next restriction — inlined CTEs
        # would re-expand the whole prior chain multiplicatively
        # (the SQL twin of the Spark side's fences)
        ctes.append(
            f"docs_s{i - 1} AS MATERIALIZED (SELECT d.* FROM documents d"
            f" JOIN s{i - 1} ON s{i - 1}.doc_id = d.doc_id)"
        )
        ctes.append(
            f"s{i} AS MATERIALIZED"
            f" (SELECT doc_id FROM ({refit}\n) WHERE {cond})"
        )
    return _stage_report_sql(ctes, ["all_docs"] + [n for n, *_ in _FUNNEL_GATES])

@query("corpus_prep_funnel_v3", _funnel_v3_oracle())
def corpus_prep_funnel_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_prep_funnel_v2 with RE-FIT-PER-STAGE statistics — the
    CCNet/RefinedWeb production parameterization: each gate's
    population statistics (MAD medians, the bigram LM and its
    per-language perplexity terciles, the DSIR raw/target bucket
    models) are fit on the PREVIOUS stage's survivors instead of the
    full corpus. Per-document gates (lang-ID, code routing, Gopher
    rules, the fixed-weight logistic) decide identically either way;
    the fitted gates diverge from v2 exactly where refitting matters
    — a tighter survivor distribution moves the boundaries.

    The oracle rewrites each registered gate oracle's ``documents``
    table references to the survivor-restricted corpus, so v3's stage
    logic is still the registered queries', verbatim, applied to a
    different population.

    Scale: inherently sequential (stage i's fit needs stage i-1's
    survivors — the price of refitting), but each stage is the gate's
    own documented bounded plan over a shrinking corpus; the restricted
    corpus is fenced once per stage because
    every gate scans it several times.
    """
    docs = fence(load(spark, sf_dir, "documents"))
    return _stage_rows(
        ["all_docs"] + [n for n, *_ in _FUNNEL_GATES],
        _survivor_chain(docs, _FUNNEL_GATES),
    )

@query("quality_ensemble_rank", _ensemble_oracle())
def quality_ensemble_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENSEMBLE quality ranking by reciprocal-rank fusion of three
    independently-oracled signals — the FineWeb-style move of trusting
    AGREEMENT between heterogeneous quality models over any single
    score: the fixed-weight logistic classifier (higher better), the
    bigram-LM perplexity proxy (lower better), and token entropy
    (higher better), fused as Σ 1/(60+rank) and reported as the
    corpus top-20 with each signal's rank as evidence.

    The global ranks are EXACT but never globally sorted: each score
    is quantized to 3 dp (ties broken by doc_id), ranked via a
    histogram over the bounded distinct-value relation — cumulative
    better-count plus within-value row_number — so every window runs
    over value cardinality or within one tie group. RRF terms quantize
    at 6 dp before the written-order sum; both engines fold identical
    doubles.

    Scale: three signal relations (each its documented bounded plan),
    three value-histogram rank joins, one broadcast-sized fusion join
    keyed doc_id, salted two-level final top-20.
    """
    from etl_weather_spark.operators.similarity import topk_per_group

    docs = load(spark, sf_dir, "documents")
    # the three signal legs are independent and each contains a
    # blocking _scalable_rank fence — build them concurrently
    # (round 11, see _build_concurrently)
    r1, r2, r3 = _build_concurrently(
        [
            lambda: _scalable_rank(
                _quality_logistic_core(docs).select(
                    "doc_id", rnd("z", 3).alias("s")
                ),
                desc=True,
            ).withColumnRenamed("rnk", "r_quality"),
            lambda: _scalable_rank(
                _bigram_logprob_core(docs).select(
                    "doc_id", rnd("avg_nll2", 3).alias("s")
                ),
                desc=False,
            ).withColumnRenamed("rnk", "r_fluency"),
            lambda: _scalable_rank(
                token_entropy_quality(spark, sf_dir).select(
                    "doc_id", rnd("token_entropy", 3).alias("s")
                ),
                desc=True,
            ).withColumnRenamed("rnk", "r_entropy"),
        ]
    )
    term = lambda c: rnd(F.lit(1.0) / (F.lit(60) + F.col(c)), 6)  # noqa: E731
    f = (
        r1.join(r2, "doc_id")
        .join(r3, "doc_id")
        .select(
            "doc_id",
            "r_quality",
            "r_fluency",
            "r_entropy",
            rnd(
                term("r_quality") + term("r_fluency") + term("r_entropy"), 6
            ).alias("rrf6"),
        )
    )
    return (
        topk_per_group(
            f.withColumn("__g", F.lit(1)),
            group_col="__g",
            k=20,
            sim_col="rrf6",
            tie_col="doc_id",
        )
        .select(
            "doc_id", "r_quality", "r_fluency", "r_entropy", "rrf6",
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("rank")
    )

def _manifest_oracle() -> str:
    """End-to-end pipeline oracle: the funnel-v2 survivor chain
    (registered gate oracles embedded verbatim, _chain_sql), then the
    dedup_exact keeper restricted to the final survivors, then the
    content-addressed shard rollup."""
    ctes, _names = _chain_sql()
    ctes.append(
        f"""keep AS MATERIALIZED (
  SELECT MIN(d.doc_id) AS doc_id
  FROM s{len(_FUNNEL_GATES)} s JOIN documents d ON d.doc_id = s.doc_id
  GROUP BY md5(lower(regexp_replace(trim(d.text), '\\s+', ' ', 'g')))
)"""
    )
    ctes.append(
        """sh AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('shard|' || CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 16 AS shard_id
  FROM keep
)"""
    )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + """SELECT shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM sh GROUP BY shard_id ORDER BY shard_id"""
    )

@query("curated_shard_manifest", _manifest_oracle())
def curated_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END training-data pipeline in one plan: the
    corpus_prep_funnel_v2 gate chain (all seven registered quality
    gates, semi-join intersected in pipeline order) → exact-duplicate
    collapse among the survivors (min-id keeper per content
    fingerprint — dedup runs AFTER curation so near-identical docs
    that both fail quality never cost dedup work) → the
    content-addressed 16-way shard manifest of the final kept set.
    This is the artifact a production run hands to the training job:
    which shard holds which curated, deduplicated documents.

    Oracle discipline: the funnel chain reuses the registered gate
    oracles verbatim (the _chain_sql assembly), the keeper is
    dedup_exact's fingerprint+MIN restricted to the survivors, the
    shard hash is shard_assignment_stats' — end-to-end composition of
    independently-oracled parts, with id checksums proving shard
    MEMBERSHIP.

    Scale (optimization round 10): the manifest only needs the FINAL
    survivor set (every gate passes), so the seven keep-sets LEFT-join
    once into one flags relation and the chain collapses to a single
    all-gates-pass filter — no per-stage blocking checkpoint, gates
    compute concurrently (the funnel-v2 flags rationale; identical set
    because globally-fit keep-set intersections commute); dedup
    shuffles (fingerprint, doc_id) pairs for SURVIVORS only; the
    manifest agg is the writer's own 16-key shuffle.
    """
    flags, names = _gate_flags(spark, sf_dir)
    # no fence on survivors (round 11): the left_semi below is its only
    # consumer, so the fence bought no reuse — it just ran a
    # blocking job at construction and materialized a corpus-sized
    # relation nothing re-read
    survivors = flags.filter(
        sum((F.col(f"k{i}") for i in range(1, len(names) + 1)), start=F.lit(0))
        == len(names)
    ).select("doc_id")
    docs = load(spark, sf_dir, "documents")
    keepers = (
        docs.select(
            "doc_id", doc_fingerprint(F.col("text")).alias("fingerprint")
        )
        .join(survivors, "doc_id", "left_semi")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
    )
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
        % 16
    )
    return (
        keepers.select(shard.alias("shard_id"), "doc_id")
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        .orderBy("shard_id")
    )

def _gate_attribution_oracle() -> str:
    """Embed every funnel gate oracle verbatim, build one per-doc flag
    relation, and attribute failures: per gate, total fails and
    UNIQUE fails (docs that fail only that gate)."""
    ctes, names = _flags_sql()
    n = len(names)
    rows = []
    for i, name in enumerate(names, start=1):
        others = " + ".join(f"k{j}" for j in range(1, n + 1) if j != i)
        rows.append(
            f"""SELECT {i} AS gate, '{name}' AS gate_name,
  CAST(SUM(1 - k{i}) AS BIGINT) AS n_fail,
  CAST(SUM(CASE WHEN k{i} = 0 AND ({others}) = {n - 1} THEN 1 ELSE 0 END)
       AS BIGINT) AS n_unique_fail,
  FLOOR((SUM(1 - k{i}) * 1.0 / COUNT(*)) * 1000000 + 0.5) / 1000000
    AS fail_rate6,
  FLOOR((SUM(CASE WHEN k{i} = 0 AND ({others}) = {n - 1} THEN 1 ELSE 0 END)
         * 1.0 / COUNT(*)) * 1000000 + 0.5) / 1000000 AS unique_fail_rate6
FROM flags"""
        )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL\n".join(rows)
        + "\nORDER BY gate"
    )

@query("gate_attribution_audit", _gate_attribution_oracle())
def gate_attribution_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GATE ATTRIBUTION — which quality gates earn their cost: for each
    of the seven registered funnel gates, the total documents it fails
    and the documents ONLY it fails (unique kills — every other gate
    would have kept them). A gate with near-zero unique kills is
    redundant with the rest of the stack and a candidate for removal;
    a gate with a large unique-kill share is load-bearing. This is the
    ablation table curation teams actually consult before adding or
    dropping a filter (the FineWeb-style per-filter ablation, computed
    set-theoretically instead of by retraining).

    Every gate is the REGISTERED query reused verbatim (Spark side)
    and the registered oracle embedded verbatim (oracle side) — the
    funnel discipline, applied to attribution instead of intersection.

    Scale: one doc-keyed relation with 7 boolean flags (7 left joins
    of narrow (doc_id) keep-sets against the corpus spine — each
    gate's own documented bounded plan), then 7 aggregate rows over
    it; the flag relation is fenced once and reused by all 7 rows.
    """
    # no fence on the flags: the round 10 single-agg collapse left them
    # with exactly one consumer, so a fence only cost a
    # full-tree plan pass at construction (these queries are
    # driver-bound at sf0.1) and a corpus-sized materialization nothing
    # re-read at scale (round 11)
    flags, names = _gate_flags(spark, sf_dir)
    n = len(names)
    # ONE aggregation pass computes every gate's failure counts
    # (optimization round 10 — the per-gate agg form re-scanned the
    # flags relation 7 times and union-chained 7 single-row jobs);
    # rates are derived per row AFTER the agg from the identical
    # count/sum doubles, so values are unchanged
    aggs = [F.count(F.lit(1)).alias("__cnt")]
    for i in range(1, n + 1):
        others = sum(F.col(f"k{j}") for j in range(1, n + 1) if j != i)
        aggs.append(F.sum(F.lit(1) - F.col(f"k{i}")).alias(f"__fail{i}"))
        aggs.append(
            F.sum(
                F.when(
                    (F.col(f"k{i}") == 0) & (others == n - 1), 1
                ).otherwise(0)
            ).alias(f"__uniq{i}")
        )
    one = flags.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("gate"),
                F.lit(name).alias("gate_name"),
                F.col(f"__fail{i}").alias("fail"),
                F.col(f"__uniq{i}").alias("uniq"),
            )
            for i, name in enumerate(names, start=1)
        ]
    )
    return (
        one.select("__cnt", F.explode(rows).alias("r"))
        .select(
            F.col("r.gate").alias("gate"),
            F.col("r.gate_name").alias("gate_name"),
            F.col("r.fail").cast("long").alias("n_fail"),
            F.col("r.uniq").cast("long").alias("n_unique_fail"),
            rnd(F.col("r.fail") * 1.0 / F.col("__cnt"), 6).alias("fail_rate6"),
            rnd(F.col("r.uniq") * 1.0 / F.col("__cnt"), 6).alias(
                "unique_fail_rate6"
            ),
        )
        .orderBy("gate")
    )

def _gate_bias_oracle() -> str:
    """Per (gate, lang) keep rate vs the gate's corpus-wide keep rate —
    the registered gate oracles embedded verbatim, one flags relation,
    a (gate × lang) rollup."""
    ctes, names = _flags_sql("lang")
    rows = []
    for i, name in enumerate(names, start=1):
        rows.append(
            f"""SELECT {i} AS gate, '{name}' AS gate_name, lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(k{i}) AS BIGINT) AS n_kept,
  FLOOR((SUM(k{i}) * 1.0 / COUNT(*)) * 1000000 + 0.5) / 1000000
    AS keep_rate6,
  FLOOR(((SELECT SUM(k{i}) * 1.0 / COUNT(*) FROM flags)) * 1000000 + 0.5)
    / 1000000 AS overall_keep_rate6
FROM flags GROUP BY lang"""
        )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + "SELECT gate, gate_name, lang, n_docs, n_kept, keep_rate6,"
        + " overall_keep_rate6,\n"
        + "  FLOOR((keep_rate6 - overall_keep_rate6) * 1000000 + 0.5)"
        + " / 1000000 AS bias6,\n"
        + "  (ABS(keep_rate6 - overall_keep_rate6) > 0.1) AS flagged\n"
        + "FROM (\n" + "\nUNION ALL\n".join(rows) + "\n)\n"
        + "ORDER BY gate, lang"
    )

@query("gate_bias_audit", _gate_bias_oracle())
def gate_bias_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-BIAS audit — the responsible-curation companion to
    gate_attribution_audit: per (gate, language), the gate's keep rate
    against its corpus-wide keep rate, with a flag when the deviation
    exceeds 10 points. Quality filters are known to systematically
    penalize particular languages and dialects (the documented failure
    mode of classifier-based curation); this table makes that
    disparity a measured, release-blocking artifact instead of a
    post-hoc discovery. The same construction extends to any stored
    demographic proxy column.

    Every gate is the REGISTERED query reused verbatim; the oracle
    embeds the registered oracles (the attribution/funnel discipline);
    the ONE fenced flags relation feeds all gate × lang cells.

    Scale: seven narrow keep-set joins onto the doc spine (each gate's
    own documented bounded plan), then a (gate × lang)-sized rollup —
    dimensions, not rows.
    """
    flags, names = _gate_flags(spark, sf_dir, "lang")
    n = len(names)
    # ONE per-lang aggregation covers all 7 gates (optimization round
    # 10 — the per-gate form ran 7 lang groupBys + 7 global aggs + 7
    # crossJoins over the same fenced flags). Round 11: the corpus-wide
    # keep rates derive from the per-lang rollup itself via a global
    # window over the tiny (lang)-sized relation — SUM(kept_i) and
    # COUNT(*) over langs are the identical longs the second flags agg
    # summed, so the rates are unchanged, the second corpus pass and
    # the crossJoin are gone, and with exactly one flags consumer left
    # the fence is vestigial (it cost a blocking
    # construction-time job and a corpus-sized materialization nothing
    # re-read).
    per_lang = flags.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        *[
            F.sum(f"k{i}").cast("long").alias(f"__kept{i}")
            for i in range(1, n + 1)
        ],
    )
    wall = Window.partitionBy()
    per_lang = per_lang.select(
        "lang",
        "n_docs",
        *[F.col(f"__kept{i}") for i in range(1, n + 1)],
        *[
            rnd(
                F.sum(f"__kept{i}").over(wall)
                * 1.0
                / F.sum("n_docs").over(wall),
                6,
            ).alias(f"__orate{i}")
            for i in range(1, n + 1)
        ],
    )
    cells = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("gate"),
                F.lit(name).alias("gate_name"),
                F.col(f"__kept{i}").alias("n_kept"),
                F.col(f"__orate{i}").alias("overall_keep_rate6"),
            )
            for i, name in enumerate(names, start=1)
        ]
    )
    keep_rate6 = rnd(F.col("r.n_kept") * 1.0 / F.col("n_docs"), 6)
    return (
        per_lang.select("lang", "n_docs", F.explode(cells).alias("r"))
        .select(
            F.col("r.gate").alias("gate"),
            F.col("r.gate_name").alias("gate_name"),
            "lang",
            "n_docs",
            F.col("r.n_kept").alias("n_kept"),
            keep_rate6.alias("keep_rate6"),
            F.col("r.overall_keep_rate6").alias("overall_keep_rate6"),
            rnd(keep_rate6 - F.col("r.overall_keep_rate6"), 6).alias("bias6"),
            (F.abs(keep_rate6 - F.col("r.overall_keep_rate6")) > 0.1).alias(
                "flagged"
            ),
        )
        .orderBy("gate", "lang")
    )

_PR_THRESHOLDS = [-1.0, -0.5, 0.0, 0.5, 1.0, 1.5, 2.0, 2.5, 3.0]

def _pr_curve_oracle() -> str:
    """Embed the registered classifier (logit scores) and rule-gate
    (weak labels) oracles verbatim; sweep the fixed threshold grid as
    an UNNEST dimension; identical guarded precision/recall/F1."""
    ts = ", ".join(str(t) for t in _PR_THRESHOLDS)
    return f"""
WITH scores AS (
  SELECT doc_id, z FROM ({_ORACLES["quality_logistic_filter"]}
  )
),
labels AS (
  SELECT doc_id, keep AS label FROM ({_ORACLES["gopher_quality_gate"]}
  )
),
joined AS (
  SELECT s.doc_id, s.z, l.label
  FROM scores s JOIN labels l ON l.doc_id = s.doc_id
),
cells AS (
  SELECT CAST(t.threshold AS DOUBLE) AS threshold,
         CAST(SUM(CASE WHEN z > t.threshold AND label THEN 1 ELSE 0 END)
              AS BIGINT) AS tp,
         CAST(SUM(CASE WHEN z > t.threshold AND NOT label THEN 1 ELSE 0 END)
              AS BIGINT) AS fp,
         CAST(SUM(CASE WHEN z <= t.threshold AND label THEN 1 ELSE 0 END)
              AS BIGINT) AS fn,
         CAST(SUM(CASE WHEN z <= t.threshold AND NOT label THEN 1 ELSE 0 END)
              AS BIGINT) AS tn
  FROM joined, UNNEST([{ts}]) AS t(threshold)
  GROUP BY 1
),
pr AS (
  SELECT *,
         FLOOR((tp * 1.0 / GREATEST(tp + fp, 1)) * 1000000 + 0.5) / 1000000
           AS precision6,
         FLOOR((tp * 1.0 / GREATEST(tp + fn, 1)) * 1000000 + 0.5) / 1000000
           AS recall6
  FROM cells
)
SELECT threshold, tp, fp, fn, tn, precision6, recall6,
       CASE WHEN precision6 + recall6 > 0
            THEN FLOOR((2.0 * precision6 * recall6
                        / (precision6 + recall6)) * 1000000 + 0.5) / 1000000
            ELSE 0.0 END AS f1_6
FROM pr ORDER BY threshold
"""

@query("quality_pr_curve", _pr_curve_oracle())
def quality_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSIFIER EVALUATION — the precision/recall curve a curation
    team reads before picking the quality classifier's operating
    threshold: the registered logistic scores (quality_logistic_filter,
    logit scale) swept over a fixed 9-point threshold grid against the
    registered Gopher rule composite as weak labels (the standard
    rules-as-silver-labels evaluation when no human labels exist —
    exactly how FineWeb-class classifier filters are sanity-checked).
    One row per threshold: confusion counts, precision, recall, F1
    (computed from the ROUNDED p/r so both engines divide identical
    doubles).

    Both legs are the REGISTERED queries reused verbatim; the oracle
    embeds their oracles (the composition discipline), so the curve
    can never drift from the gates it evaluates.

    Scale: the (doc, score, label) relation is two already-bounded
    gate plans joined on doc_id; the 9-threshold sweep is a dimension
    explode collapsed map-side into 9 confusion rows — no per-threshold
    rescan of the corpus.
    """
    scores = _QUERIES["quality_logistic_filter"](spark, sf_dir).select(
        "doc_id", "z"
    )
    labels = _QUERIES["gopher_quality_gate"](spark, sf_dir).select(
        "doc_id", F.col("keep").alias("label")
    )
    joined = fence(scores.join(labels, "doc_id"))
    thr = F.explode(
        F.array(*[F.lit(float(t)) for t in _PR_THRESHOLDS])
    ).alias("threshold")
    cells = (
        joined.select("z", "label", thr)
        .groupBy("threshold")
        .agg(
            F.sum(
                F.when((F.col("z") > F.col("threshold")) & F.col("label"), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("tp"),
            F.sum(
                F.when(
                    (F.col("z") > F.col("threshold")) & ~F.col("label"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("fp"),
            F.sum(
                F.when(
                    (F.col("z") <= F.col("threshold")) & F.col("label"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("fn"),
            F.sum(
                F.when(
                    (F.col("z") <= F.col("threshold")) & ~F.col("label"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("tn"),
        )
    )
    pr = cells.select(
        "*",
        rnd(F.col("tp") * 1.0 / F.greatest(F.col("tp") + F.col("fp"), F.lit(1)), 6).alias(
            "precision6"
        ),
        rnd(F.col("tp") * 1.0 / F.greatest(F.col("tp") + F.col("fn"), F.lit(1)), 6).alias(
            "recall6"
        ),
    )
    return pr.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        "tn",
        "precision6",
        "recall6",
        F.when(
            F.col("precision6") + F.col("recall6") > 0,
            rnd(
                F.lit(2.0)
                * F.col("precision6")
                * F.col("recall6")
                / (F.col("precision6") + F.col("recall6")),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("f1_6"),
    ).orderBy("threshold")

_QCT_LR = "2.0"  # SQL literal text AND the float both sides fold

_QCT_ROUNDS = 8  # weight updates; output rows = rounds + 1 (incl. w0)

def _qct_train_sql(name: str = "train", where: str = "") -> str:
    """The (doc_id, features, y) relation as a CTE named ``name``: the
    registered quality_logistic_filter's 6-dp features joined to the
    registered gopher_quality_gate_tuned keep bit as the weak label
    (the published gate's stop-word rule rejects everything on this
    vocabulary, so the TUNED gate is the only label source with both
    classes present). ``where`` restricts the doc set (the holdout
    split) — both features and labels are pure per-doc functions, so
    filtering commutes with their computation."""
    return (
        f"{name} AS MATERIALIZED (\n"
        "  SELECT f.doc_id, f.f_distinct, f.f_top, f.f_len, f.f_stop,\n"
        "         CASE WHEN l.keep THEN 1.0 ELSE 0.0 END AS y\n"
        "  FROM (SELECT doc_id, f_distinct, f_top, f_len, f_stop FROM ("
        + _ORACLES["quality_logistic_filter"]
        + "\n)) f\n"
        "  JOIN (SELECT doc_id, keep FROM ("
        + _ORACLES["gopher_quality_gate_tuned"]
        + "\n)) l ON l.doc_id = f.doc_id\n"
        + (f"  WHERE {where}\n" if where else "")
        + ")"
    )

_QCT_Z_SQL = (
    "FLOOR((w.wb + w.w1 * t.f_distinct + w.w2 * t.f_top"
    " + w.w3 * t.f_len + w.w4 * t.f_stop) * 1000000 + 0.5) / 1000000"
)

#: the trained gate's keep-set over the _qct_ctes chain (keep ⇔ z > 0
#: under the final weights): the funnels' trained stage
_QCT_KEEP_SQL = (
    f"(SELECT t.doc_id FROM train t CROSS JOIN w{_QCT_ROUNDS} w"
    f" WHERE ({_QCT_Z_SQL}) > 0)"
)

def _qct_ctes(rounds: int, where: str = "") -> list[str]:
    """The unrolled GD chain as MATERIALIZED CTEs (the kmeans/PCA/
    k-center proof pattern): w{r} = weights entering round r, a{r} =
    the one-row scoring/gradient agg of w{r} over train. Every CTE is
    MATERIALIZED — a{r} feeds both the output row and w{r+1}, and an
    inlined chain would re-expand multiplicatively (the funnel-v3
    lesson). ``where`` restricts the training doc set (holdout)."""
    ctes = [
        _qct_train_sql(where=where),
        "w0 AS MATERIALIZED (SELECT 0.0 AS wb, 0.0 AS w1, 0.0 AS w2,"
        " 0.0 AS w3, 0.0 AS w4)",
    ]
    for r in range(rounds + 1):
        ctes.append(
            f"a{r} AS MATERIALIZED (\n"
            "  SELECT CAST(COUNT(*) AS BIGINT) AS n,\n"
            "         CAST(SUM(CASE WHEN z > 0 THEN 1 ELSE 0 END) AS BIGINT)"
            " AS n_pred_keep,\n"
            "         CAST(SUM(CASE WHEN (z > 0) = (y > 0.5) THEN 1 ELSE 0 END)"
            " AS BIGINT) AS n_correct,\n"
            f"         {sql_dsum('err', 7)} AS sb,\n"
            f"         {sql_dsum('err * f_distinct', 7)} AS s1,\n"
            f"         {sql_dsum('err * f_top', 7)} AS s2,\n"
            f"         {sql_dsum('err * f_len', 7)} AS s3,\n"
            f"         {sql_dsum('err * f_stop', 7)} AS s4\n"
            "  FROM (\n"
            "    SELECT y, f_distinct, f_top, f_len, f_stop, z,\n"
            "           FLOOR(LEAST(GREATEST(0.5 + z / 4.0, 0.0), 1.0)"
            " * 1000000 + 0.5) / 1000000 - y AS err\n"
            "    FROM (\n"
            f"      SELECT t.*, {_QCT_Z_SQL} AS z\n"
            f"      FROM train t CROSS JOIN w{r} w\n"
            "    )\n"
            "  )\n"
            ")"
        )
        if r < rounds:
            upd = ", ".join(
                f"FLOOR((w.{wc} - {_QCT_LR} * FLOOR((a.{sc} / a.n)"
                f" * 1000000 + 0.5) / 1000000) * 1000000 + 0.5) / 1000000"
                f" AS {wc}"
                for wc, sc in [
                    ("wb", "sb"),
                    ("w1", "s1"),
                    ("w2", "s2"),
                    ("w3", "s3"),
                    ("w4", "s4"),
                ]
            )
            ctes.append(
                f"w{r + 1} AS MATERIALIZED (SELECT {upd}"
                f" FROM w{r} w CROSS JOIN a{r} a)"
            )
    return ctes

def _qct_oracle(rounds: int) -> str:
    rows = [
        f"SELECT CAST({r} AS BIGINT) AS round, w.wb AS w_bias,"
        f" w.w1 AS w_distinct, w.w2 AS w_top, w.w3 AS w_len,"
        f" w.w4 AS w_stop, a.n_pred_keep, a.n_correct,\n"
        f"       FLOOR((a.n_correct * 1.0 / a.n) * 1000000 + 0.5) / 1000000"
        f" AS acc6\n"
        f"FROM w{r} w CROSS JOIN a{r} a"
        for r in range(rounds + 1)
    ]
    return (
        "WITH "
        + ",\n".join(_qct_ctes(rounds))
        + "\n"
        + "\nUNION ALL\n".join(rows)
        + "\nORDER BY round"
    )

def _qct_train_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    feats = _quality_logistic_core(docs).select(
        "doc_id", "f_distinct", "f_top", "f_len", "f_stop"
    )
    labels = _gopher_tuned_core(docs).select(
        "doc_id",
        F.when(F.col("keep"), F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
    )
    return fence(feats.join(labels, "doc_id"))

def _qct_z() -> F.Column:
    """The 6-dp logit — identical left-associated shape as _QCT_Z_SQL."""
    return rnd(
        F.col("wb")
        + F.col("w1") * F.col("f_distinct")
        + F.col("w2") * F.col("f_top")
        + F.col("w3") * F.col("f_len")
        + F.col("w4") * F.col("f_stop"),
        6,
    )

def _qct_pass(train: DataFrame, w: DataFrame) -> DataFrame:
    """One scoring/gradient pass: (n, n_pred_keep, n_correct, sb..s4)."""
    scored = train.crossJoin(F.broadcast(w)).select(
        "y", "f_distinct", "f_top", "f_len", "f_stop", _qct_z().alias("z")
    )
    p = rnd(
        F.least(
            F.greatest(F.lit(0.5) + F.col("z") / F.lit(4.0), F.lit(0.0)),
            F.lit(1.0),
        ),
        6,
    )
    scored = scored.select("*", (p - F.col("y")).alias("err"))
    return fence(scored.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("z") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_pred_keep"),
        F.sum(
            F.when((F.col("z") > 0) == (F.col("y") > 0.5), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_correct"),
        dsum(F.col("err"), 7).alias("sb"),
        dsum(F.col("err") * F.col("f_distinct"), 7).alias("s1"),
        dsum(F.col("err") * F.col("f_top"), 7).alias("s2"),
        dsum(F.col("err") * F.col("f_len"), 7).alias("s3"),
        dsum(F.col("err") * F.col("f_stop"), 7).alias("s4"),
    ))

def _qct_chain(
    spark: SparkSession,
    sf_dir: str,
    parity: int | None = None,
) -> tuple[list[tuple[DataFrame, DataFrame]], DataFrame]:
    """Run the GD chain; returns ([(w_r, a_r)] for r=0.._QCT_ROUNDS, w_final).
    Weights stay a broadcast 1-row DataFrame end to end — no driver
    collect (the kmeans/k-center discipline); every 1-row stage is
    lazily fenced so the unrolled lineage never replays. The feature/
    label relation comes from the COMMITTED feature table (one token
    pass per corpus version, not one per training run)."""
    train = _qct_train_committed(spark, sf_dir, parity)
    w = fence(
        spark.range(1)
        .select(
            F.lit(0.0).alias("wb"),
            F.lit(0.0).alias("w1"),
            F.lit(0.0).alias("w2"),
            F.lit(0.0).alias("w3"),
            F.lit(0.0).alias("w4"),
        )
    )
    lr = float(_QCT_LR)
    out = []
    for r in range(_QCT_ROUNDS + 1):
        agg = _qct_pass(train, w)
        out.append((w, agg))
        if r < _QCT_ROUNDS:
            grads = [
                ("wb", "sb"),
                ("w1", "s1"),
                ("w2", "s2"),
                ("w3", "s3"),
                ("w4", "s4"),
            ]
            w = fence(
                w.crossJoin(F.broadcast(agg))
                .select(
                    *[
                        rnd(
                            F.col(wc)
                            - F.lit(lr) * rnd(F.col(sc) / F.col("n"), 6),
                            6,
                        ).alias(wc)
                        for wc, sc in grads
                    ]
                )
            )
    return out, w

_QCT_FEAT_PARAMS = {
    "features": "lexical4-6dp-v1",
    "labels": "gopher_quality_gate_tuned-v1",
}

_QCT_PARAMS = {
    **_QCT_FEAT_PARAMS,
    "algo": "batch-gd",
    "activation": "hard-sigmoid-z4-6dp",
    "rounds": _QCT_ROUNDS,
    "lr": _QCT_LR,
}

def _qct_train_committed(
    spark: SparkSession, sf_dir: str, parity: int | None = None
) -> DataFrame:
    """The committed feature/label table (doc_id, 4 features, y) — the
    feature-store read. Built by ONE distributed token pass the first
    time (or after the corpus changes), then every trainer/audit scans
    the committed parquet instead of re-tokenizing the corpus. The
    parity filter applies on read (pure doc_id predicate — commutes
    with the per-doc feature computation, the holdout discipline)."""
    fp = dataset_fingerprint(sf_dir, _QCT_FEAT_PARAMS)
    df = artifact_if_absent(
        spark,
        "quality_train_features",
        dataset_key(sf_dir),
        fingerprint=fp,
        build=lambda: _qct_train_relation(spark, sf_dir),
        meta={"producer": "quality_logistic features + tuned-gate labels"},
    )
    if parity is not None:
        df = df.filter(F.col("doc_id") % 2 == parity)
    return df

def _qct_trajectory_df(
    spark: SparkSession, sf_dir: str, parity: int | None = None
) -> DataFrame:
    """Run the GD chain and shape its full trajectory as one relation:
    (round, wb..w4, n, n_pred_keep, n_correct), round = 0.._QCT_ROUNDS.
    This is the publishable model artifact — the final weights are the
    round = _QCT_ROUNDS row, and the per-round rows are what the
    training-dynamics audits (data maps) consume."""
    chain, _w = _qct_chain(spark, sf_dir, parity=parity)
    rows = None
    for r, (w, agg) in enumerate(chain):
        row = w.crossJoin(F.broadcast(agg)).select(
            F.lit(r).cast("long").alias("round"),
            "wb",
            "w1",
            "w2",
            "w3",
            "w4",
            "n",
            "n_pred_keep",
            "n_correct",
        )
        rows = row if rows is None else rows.unionByName(row)
    return rows.orderBy("round")

def _qct_fingerprint(sf_dir: str, parity: int | None = None) -> str:
    return dataset_fingerprint(sf_dir, {**_QCT_PARAMS, "parity": parity})


def _qct_trajectory(
    spark: SparkSession, sf_dir: str, parity: int | None = None
) -> DataFrame:
    """The COMMITTED training trajectory: read from the registry when
    current, train-and-commit once when missing or stale. The
    parity=None production model is release-aware (round 10): a
    committed release pin for this corpus serves the pinned snapshot
    version; parity holdout variants stay per-artifact (they are audit
    internals, not released models)."""
    from etl_weather_spark.operators.artifacts import release_artifact_read

    name = "quality_classifier" + ("" if parity is None else f"_p{parity}")
    fp = _qct_fingerprint(sf_dir, parity)
    build = lambda: _qct_trajectory_df(spark, sf_dir, parity)  # noqa: E731
    meta = {"producer": "quality_classifier_train GD chain"}
    if parity is not None:
        return artifact_if_absent(
            spark, name, dataset_key(sf_dir),
            fingerprint=fp, build=build, meta=meta,
        )
    return release_artifact_read(
        spark,
        dataset_key(sf_dir),
        name,
        fingerprint=fp,
        data_fingerprint=dataset_fingerprint(sf_dir),
        build=build,
        meta=meta,
    )

def _qct_weights(
    spark: SparkSession,
    sf_dir: str,
    parity: int | None = None,
) -> DataFrame:
    """The committed 1-row weight table (wb..w4) at the final round —
    what every trained-model audit broadcasts.
    Reading this replaces re-running the 8-round chain per audit: at
    100 TB, one training pass instead of eleven."""
    return fence(
        _qct_trajectory(spark, sf_dir, parity)
        .filter(F.col("round") == _QCT_ROUNDS)
        .select("wb", "w1", "w2", "w3", "w4")
    )

@query("quality_classifier_train", _qct_oracle(_QCT_ROUNDS))
def quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN the quality classifier distributed — the FineWeb/CCNet
    production stage the fixed-weight quality_logistic_filter stood in
    for: batch gradient descent on a linear model over the registered
    6-dp lexical features (distinct-token ratio, top-token share,
    capped length, capped stopword density), weak labels = the
    registered gopher_quality_gate_tuned keep bit (the rules-as-silver-
    labels bootstrap; the published gate's stop-word floor rejects this
    vocabulary entirely, so the tuned gate is the label source with
    both classes present — 50/50 here). Emits the full weight/accuracy
    TRAJECTORY: one row per round r = 0..8 with the weights entering
    the round and that round's predicted-keep count and train accuracy,
    so the oracle hash-verifies every update, not just the endpoint
    (train accuracy climbs ~0.50 → ~0.94 on the synthetic corpus).

    Exactness discipline (what lets a SQL engine replay GD bit-for-bit,
    which float training never allows): the activation is the HARD
    sigmoid clamp(0.5 + z/4, 0, 1) — the exact piecewise-linear
    logistic surrogate quantized-training systems use — so no exp()
    enters the parity surface; per-example gradient terms quantize at
    1e7 and accumulate through the decimal dsum; gradients and weights
    round once at 6 dp per round. The registry's iterative fixpoint #5,
    after Lloyd k-means, PCA power iteration, BPE, and k-center — the
    oracle unrolls all 8 updates as MATERIALIZED CTE pairs (w_r, a_r).

    Scale: one pass over the narrow (doc_id, 4 features, label)
    relation per round — each pass is a broadcast of the 1-row weight
    table + one map-side-collapsed global agg (9 numbers out); the
    feature/label relation is fenced once. Weights never touch the
    driver. At 100 TB this is exactly distributed-data-parallel batch
    GD: Θ(rounds · N) map work, Θ(rounds) tiny reduces.
    """
    return _qct_trajectory_out(_qct_trajectory_df(spark, sf_dir))

def _qct_trajectory_out(traj: DataFrame) -> DataFrame:
    """Driver-facing shape of a trajectory relation (committed or
    freshly trained): rename to the published column names and derive
    the per-round train accuracy."""
    return traj.select(
        "round",
        F.col("wb").alias("w_bias"),
        F.col("w1").alias("w_distinct"),
        F.col("w2").alias("w_top"),
        F.col("w3").alias("w_len"),
        F.col("w4").alias("w_stop"),
        "n_pred_keep",
        "n_correct",
        rnd(F.col("n_correct") * 1.0 / F.col("n"), 6).alias("acc6"),
    ).orderBy("round")

@query(
    "quality_classifier_publish",
    "SELECT 'quality_classifier' AS artifact, round, w_bias, w_distinct,"
    " w_top, w_len, w_stop, n_pred_keep, n_correct, acc6 FROM ("
    + _qct_oracle(_QCT_ROUNDS)
    + "\n) ORDER BY round",
)
def quality_classifier_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PUBLISH the trained model to the committed-artifact registry
    (operators/artifacts.py) and return what was committed — the
    deploy step between quality_classifier_train and every audit that
    consumes the model: trains the GD chain ONCE (compute-if-absent:
    a current committed version is reused, a missing or stale one is
    rebuilt), commits the full trajectory as a snapshot version with
    the dataset fingerprint, and emits the COMMITTED rows. Because the
    chain is 6-dp-decimal deterministic, the oracle unrolls the same
    training as MATERIALIZED CTEs and hash-verifies that the bytes in
    the registry are exactly what training produces — the write path
    itself is under the correctness gate.

    Every trained-model audit in the registry (PR curves, data maps,
    kappa, calibration, bootstrap, funnel v4, budget thresholds) reads
    this committed artifact instead of re-training; the streaming
    scorer pins its weights from the same table
    (streaming/classifier_scorer.pin_trained_weights).

    Scale: training cost once per corpus version (Θ(rounds·N) map,
    Θ(rounds) 9-number reduces); the committed artifact is 9 rows, and
    the publish is a snapshot commit (immutable data + atomic pointer
    swap), so racing publishers and concurrent readers are safe.
    """
    return _qct_trajectory_out(_qct_trajectory(spark, sf_dir)).select(
        F.lit("quality_classifier").alias("artifact"), "*"
    )

def _qct_pr_trained_oracle(rounds: int) -> str:
    """Both-model PR sweep: the trained chain's final weights score the
    corpus next to the fixed-weight registered z, both against the SAME
    tuned labels, over the same 9-threshold grid."""
    ts = ", ".join(str(t) for t in _PR_THRESHOLDS)
    ctes = _qct_ctes(rounds)
    ctes.append(
        "fixed AS MATERIALIZED (SELECT doc_id, z FROM ("
        + _ORACLES["quality_logistic_filter"]
        + "\n))"
    )
    ctes.append(
        "scores AS MATERIALIZED (\n"
        "  SELECT t.doc_id, 'fixed' AS model, f.z, t.y FROM train t\n"
        "  JOIN fixed f ON f.doc_id = t.doc_id\n"
        "  UNION ALL\n"
        f"  SELECT t.doc_id, 'trained' AS model, {_QCT_Z_SQL} AS z, t.y\n"
        f"  FROM train t CROSS JOIN w{rounds} w\n"
        ")"
    )
    ctes.append(
        "cells AS (\n"
        "  SELECT model, CAST(t.threshold AS DOUBLE) AS threshold,\n"
        "         CAST(SUM(CASE WHEN z > t.threshold AND y > 0.5"
        " THEN 1 ELSE 0 END) AS BIGINT) AS tp,\n"
        "         CAST(SUM(CASE WHEN z > t.threshold AND NOT y > 0.5"
        " THEN 1 ELSE 0 END) AS BIGINT) AS fp,\n"
        "         CAST(SUM(CASE WHEN z <= t.threshold AND y > 0.5"
        " THEN 1 ELSE 0 END) AS BIGINT) AS fn,\n"
        "         CAST(SUM(CASE WHEN z <= t.threshold AND NOT y > 0.5"
        " THEN 1 ELSE 0 END) AS BIGINT) AS tn\n"
        f"  FROM scores, UNNEST([{ts}]) AS t(threshold)\n"
        "  GROUP BY 1, 2\n"
        ")"
    )
    ctes.append(
        "pr AS (\n"
        "  SELECT *,\n"
        "         FLOOR((tp * 1.0 / GREATEST(tp + fp, 1)) * 1000000 + 0.5)"
        " / 1000000 AS precision6,\n"
        "         FLOOR((tp * 1.0 / GREATEST(tp + fn, 1)) * 1000000 + 0.5)"
        " / 1000000 AS recall6\n"
        "  FROM cells\n"
        ")"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT model, threshold, tp, fp, fn, tn, precision6, recall6,\n"
        "       CASE WHEN precision6 + recall6 > 0\n"
        "            THEN FLOOR((2.0 * precision6 * recall6"
        " / (precision6 + recall6)) * 1000000 + 0.5) / 1000000\n"
        "            ELSE 0.0 END AS f1_6\n"
        "FROM pr ORDER BY model, threshold"
    )

@query("quality_pr_curve_trained", _qct_pr_trained_oracle(_QCT_ROUNDS))
def quality_pr_curve_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DID TRAINING HELP — the PR comparison a curation team reads
    before swapping the fixed-weight classifier for the trained one:
    the quality_classifier_train chain's FINAL weights and the fixed
    registered weights both score the corpus, both are swept over the
    same 9-threshold grid against the SAME tuned-gate labels the
    trainer learned from, one row per (model, threshold). On the
    synthetic corpus the trained model's best F1 beats the fixed
    weights' (the fixed constants were never fit to this corpus —
    that was the round-7 gap this query closes); read the two models'
    f1_6 columns side by side for the honest answer at any SF.

    Caveat stated plainly: evaluating on the training labels measures
    FIT to the rule gate (the standard rules-as-silver-labels check),
    not generalization — a held-out split is one train_test_split
    composition away and deliberately out of scope for the hash-
    verified comparison.

    Scale: the trained leg reads the COMMITTED weights (the model
    registry — training ran once at publish time, not per audit); both
    score legs are broadcast-weight codegen projections over the
    committed feature table; the sweep is the PR-curve dimension
    explode collapsed map-side into 2×9 confusion rows.
    """
    w_final = _qct_weights(spark, sf_dir)
    train = _qct_train_committed(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    fixed = _quality_logistic_core(docs).select("doc_id", "z")
    s_fixed = train.join(fixed, "doc_id").select(
        "doc_id", F.lit("fixed").alias("model"), "z", "y"
    )
    s_trained = train.crossJoin(F.broadcast(w_final)).select(
        "doc_id", F.lit("trained").alias("model"), _qct_z().alias("z"), "y"
    )
    scores = fence(s_fixed.unionByName(s_trained))
    thr = F.explode(
        F.array(*[F.lit(float(t)) for t in _PR_THRESHOLDS])
    ).alias("threshold")
    lab = F.col("y") > 0.5
    cells = (
        scores.select("model", "z", "y", thr)
        .groupBy("model", "threshold")
        .agg(
            F.sum(F.when((F.col("z") > F.col("threshold")) & lab, 1).otherwise(0))
            .cast("long")
            .alias("tp"),
            F.sum(F.when((F.col("z") > F.col("threshold")) & ~lab, 1).otherwise(0))
            .cast("long")
            .alias("fp"),
            F.sum(F.when((F.col("z") <= F.col("threshold")) & lab, 1).otherwise(0))
            .cast("long")
            .alias("fn"),
            F.sum(F.when((F.col("z") <= F.col("threshold")) & ~lab, 1).otherwise(0))
            .cast("long")
            .alias("tn"),
        )
    )
    pr = cells.select(
        "*",
        rnd(
            F.col("tp") * 1.0 / F.greatest(F.col("tp") + F.col("fp"), F.lit(1)), 6
        ).alias("precision6"),
        rnd(
            F.col("tp") * 1.0 / F.greatest(F.col("tp") + F.col("fn"), F.lit(1)), 6
        ).alias("recall6"),
    )
    return pr.select(
        "model",
        "threshold",
        "tp",
        "fp",
        "fn",
        "tn",
        "precision6",
        "recall6",
        F.when(
            F.col("precision6") + F.col("recall6") > 0,
            rnd(
                F.lit(2.0)
                * F.col("precision6")
                * F.col("recall6")
                / (F.col("precision6") + F.col("recall6")),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("f1_6"),
    ).orderBy("model", "threshold")

def _pr_sweep_spark(scored: DataFrame, group_cols: list[str]) -> DataFrame:
    """The PR-grid sweep over a (z, y) relation — identical algebra to
    quality_pr_curve's cells/pr legs, grouping by ``group_cols`` +
    threshold."""
    thr = F.explode(
        F.array(*[F.lit(float(t)) for t in _PR_THRESHOLDS])
    ).alias("threshold")
    lab = F.col("y") > 0.5
    cells = (
        scored.select(*group_cols, "z", "y", thr)
        .groupBy(*group_cols, "threshold")
        .agg(
            F.sum(F.when((F.col("z") > F.col("threshold")) & lab, 1).otherwise(0))
            .cast("long")
            .alias("tp"),
            F.sum(F.when((F.col("z") > F.col("threshold")) & ~lab, 1).otherwise(0))
            .cast("long")
            .alias("fp"),
            F.sum(F.when((F.col("z") <= F.col("threshold")) & lab, 1).otherwise(0))
            .cast("long")
            .alias("fn"),
            F.sum(F.when((F.col("z") <= F.col("threshold")) & ~lab, 1).otherwise(0))
            .cast("long")
            .alias("tn"),
        )
    )
    pr = cells.select(
        "*",
        rnd(
            F.col("tp") * 1.0 / F.greatest(F.col("tp") + F.col("fp"), F.lit(1)), 6
        ).alias("precision6"),
        rnd(
            F.col("tp") * 1.0 / F.greatest(F.col("tp") + F.col("fn"), F.lit(1)), 6
        ).alias("recall6"),
    )
    return pr.select(
        *group_cols,
        "threshold",
        "tp",
        "fp",
        "fn",
        "tn",
        "precision6",
        "recall6",
        F.when(
            F.col("precision6") + F.col("recall6") > 0,
            rnd(
                F.lit(2.0)
                * F.col("precision6")
                * F.col("recall6")
                / (F.col("precision6") + F.col("recall6")),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("f1_6"),
    )

_PR_SWEEP_SQL_TAIL = """
pr AS (
  SELECT *,
         FLOOR((tp * 1.0 / GREATEST(tp + fp, 1)) * 1000000 + 0.5) / 1000000
           AS precision6,
         FLOOR((tp * 1.0 / GREATEST(tp + fn, 1)) * 1000000 + 0.5) / 1000000
           AS recall6
  FROM cells
)"""

def _qct_holdout_oracle(rounds: int) -> str:
    """Train on the even parity half, sweep the PR grid on the odd
    held-out half — the GD chain CTEs restricted by WHERE, plus a
    second embed of the feature/label oracles as the eval relation."""
    ts = ", ".join(str(t) for t in _PR_THRESHOLDS)
    ctes = _qct_ctes(rounds, where="f.doc_id % 2 = 0")
    ctes.append(_qct_train_sql(name="evalset", where="f.doc_id % 2 = 1"))
    ctes.append(
        "scored AS MATERIALIZED (\n"
        f"  SELECT t.doc_id, {_QCT_Z_SQL} AS z, t.y\n"
        f"  FROM evalset t CROSS JOIN w{rounds} w\n"
        ")"
    )
    ctes.append(
        "cells AS (\n"
        "  SELECT CAST(t.threshold AS DOUBLE) AS threshold,\n"
        "         CAST(SUM(CASE WHEN z > t.threshold AND y > 0.5"
        " THEN 1 ELSE 0 END) AS BIGINT) AS tp,\n"
        "         CAST(SUM(CASE WHEN z > t.threshold AND NOT y > 0.5"
        " THEN 1 ELSE 0 END) AS BIGINT) AS fp,\n"
        "         CAST(SUM(CASE WHEN z <= t.threshold AND y > 0.5"
        " THEN 1 ELSE 0 END) AS BIGINT) AS fn,\n"
        "         CAST(SUM(CASE WHEN z <= t.threshold AND NOT y > 0.5"
        " THEN 1 ELSE 0 END) AS BIGINT) AS tn\n"
        f"  FROM scored, UNNEST([{ts}]) AS t(threshold)\n"
        "  GROUP BY 1\n"
        ")"
    )
    ctes.append(_PR_SWEEP_SQL_TAIL.strip().lstrip("\n"))
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT threshold, tp, fp, fn, tn, precision6, recall6,\n"
        "       CASE WHEN precision6 + recall6 > 0\n"
        "            THEN FLOOR((2.0 * precision6 * recall6"
        " / (precision6 + recall6)) * 1000000 + 0.5) / 1000000\n"
        "            ELSE 0.0 END AS f1_6\n"
        "FROM pr ORDER BY threshold"
    )

@query("quality_classifier_holdout", _qct_holdout_oracle(_QCT_ROUNDS))
def quality_classifier_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERALIZATION, not fit — the held-out evaluation the
    quality_pr_curve_trained docstring deferred: the GD chain trains on
    the EVEN doc_id half only, and the PR grid sweeps its final weights
    over the ODD half the trainer never saw (labels = the same tuned
    rule gate, computed per-doc so the split can't leak population
    statistics). Read next to quality_pr_curve_trained: held-out best
    F1 tracking the train-set best F1 is the no-overfit evidence a
    4-parameter linear model should show; a gap is memorization.

    The parity split is the deterministic stand-in for the registered
    train_test_split's hash split — parity keeps the oracle's WHERE
    clause a pure doc_id predicate, so the chain's CTEs restrict
    mechanically (the funnel gate-rewrite discipline).

    Scale: the GD chain over half the corpus (Θ(rounds·N/2)), one
    broadcast-weight scoring pass over the other half, and the 9-row
    dimension sweep — nothing beyond the registered pieces it composes.
    """
    w_final = _qct_weights(spark, sf_dir, parity=0)
    evalset = _qct_train_committed(spark, sf_dir, parity=1)
    scored = evalset.crossJoin(F.broadcast(w_final)).select(
        "doc_id", _qct_z().alias("z"), "y"
    )
    return _pr_sweep_spark(scored, []).orderBy("threshold")

def _qct_disagreement_oracle(rounds: int) -> str:
    ctes = _qct_ctes(rounds)
    ctes.append(
        "scored AS MATERIALIZED (\n"
        f"  SELECT t.doc_id, {_QCT_Z_SQL} AS z, t.y\n"
        f"  FROM train t CROSS JOIN w{rounds} w\n"
        ")"
    )
    ctes.append(
        "dis AS (\n"
        "  SELECT doc_id, z, z > 0 AS pred_keep, y > 0.5 AS label_keep\n"
        "  FROM scored WHERE (z > 0) <> (y > 0.5)\n"
        ")"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT doc_id, z, pred_keep, label_keep,\n"
        "       CASE WHEN label_keep THEN 'false_reject'"
        " ELSE 'false_accept' END AS error_type,\n"
        "       CAST(rank AS BIGINT) AS rank\n"
        "FROM (SELECT *, ROW_NUMBER() OVER"
        " (ORDER BY ABS(z) DESC, doc_id) AS rank FROM dis)\n"
        "WHERE rank <= 20 ORDER BY rank"
    )

@query("quality_label_disagreement", _qct_disagreement_oracle(_QCT_ROUNDS))
def quality_label_disagreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE REVIEW QUEUE — the active-learning loop's next batch: the 20
    documents where the trained classifier and the rule gate disagree
    most confidently (largest |z| on the wrong side), split into
    false_reject (gate keeps, model rejects) and false_accept (gate
    rejects, model keeps). This is the table a curation team actually
    reads after training: confident disagreements are either label
    noise in the rule gate (fix the rules) or systematic model error
    (add features) — and sampling them beats random audit sampling by
    construction.

    Scale: one broadcast-weight scoring pass, the disagreement filter,
    then the salted two-level top-k (never a global row sort) — the
    bm25/weighted-sample discipline on a relation that is already a
    small fraction of the corpus (the ~6% the two gates disagree on).
    """
    from etl_weather_spark.operators.similarity import topk_per_group

    w_final = _qct_weights(spark, sf_dir)
    train = _qct_train_committed(spark, sf_dir)
    scored = train.crossJoin(F.broadcast(w_final)).select(
        "doc_id", _qct_z().alias("z"), "y"
    )
    dis = scored.filter(
        (F.col("z") > 0) != (F.col("y") > 0.5)
    ).select(
        "doc_id",
        "z",
        (F.col("z") > 0).alias("pred_keep"),
        (F.col("y") > 0.5).alias("label_keep"),
        F.abs(F.col("z")).alias("__az"),
    )
    top = topk_per_group(
        dis.withColumn("__g", F.lit(1)),
        group_col="__g",
        k=20,
        sim_col="__az",
        tie_col="doc_id",
    )
    return top.select(
        "doc_id",
        "z",
        "pred_keep",
        "label_keep",
        F.when(F.col("label_keep"), F.lit("false_reject"))
        .otherwise(F.lit("false_accept"))
        .alias("error_type"),
        F.col("rank").cast("long").alias("rank"),
    ).orderBy("rank")

_QCT_FEATS = [
    ("f_distinct", "w1"),
    ("f_top", "w2"),
    ("f_len", "w3"),
    ("f_stop", "w4"),
]

def _qct_importance_oracle(rounds: int) -> str:
    ctes = _qct_ctes(rounds)
    sums = ",\n         ".join(
        f"{sql_dsum(feat, 7)} AS sx_{feat},\n"
        f"         {sql_dsum(f'{feat} * {feat}', 7)} AS sxx_{feat}"
        for feat, _w in _QCT_FEATS
    )
    ctes.append(
        "stats AS MATERIALIZED (\n"
        "  SELECT CAST(COUNT(*) AS BIGINT) AS n,\n"
        f"         {sums}\n"
        "  FROM train\n"
        ")"
    )
    legs = "\n  UNION ALL\n".join(
        f"  SELECT '{feat}' AS feature, w.{w} AS weight,"
        f" s.sx_{feat} AS sx, s.sxx_{feat} AS sxx, s.n AS n"
        f" FROM stats s CROSS JOIN w{rounds} w"
        for feat, w in _QCT_FEATS
    )
    ctes.append("feats AS (\n" + legs + "\n)")
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
, m AS (
  SELECT feature, weight,
         FLOOR((sx / n) * 1000000 + 0.5) / 1000000 AS mean6,
         FLOOR((sxx / n) * 1000000 + 0.5) / 1000000 AS ex2_6
  FROM feats
),
v AS (
  SELECT feature, weight, mean6,
         FLOOR((ex2_6 - mean6 * mean6) * 1000000 + 0.5) / 1000000 AS var6
  FROM m
),
s AS (
  SELECT *, FLOOR(SQRT(GREATEST(var6, 0.0)) * 1000000 + 0.5) / 1000000
         AS std6
  FROM v
)
SELECT feature, weight, mean6, std6,
       FLOOR((ABS(weight) * std6) * 1000000 + 0.5) / 1000000 AS importance6
FROM s ORDER BY importance6 DESC, feature"""
    )

@query("quality_feature_importance", _qct_importance_oracle(_QCT_ROUNDS))
def quality_feature_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHICH FEATURE CARRIES THE MODEL — standardized coefficients
    (|w_j| · std(x_j), the classical comparable-importance measure for
    a linear model over unstandardized features): per feature the
    trained weight, the corpus mean and std of the feature (exact
    decimal-quantized moments, var = E[x²] − E[x]² at 6 dp, IEEE sqrt),
    and the importance. The table that tells a curation team whether
    the classifier is a length detector in disguise (f_len dominating)
    or actually reads vocabulary structure — the first sanity check on
    any trained quality filter before it gates a corpus.

    Scale: the GD chain + ONE extra pass over the train relation with
    8 decimal-sum aggregates; the importance rollup is 4 rows.
    """
    w_final = _qct_weights(spark, sf_dir)
    train = _qct_train_committed(spark, sf_dir)
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for feat, _w in _QCT_FEATS:
        aggs.append(dsum(F.col(feat), 7).alias(f"sx_{feat}"))
        aggs.append(dsum(F.col(feat) * F.col(feat), 7).alias(f"sxx_{feat}"))
    stats = fence(train.agg(*aggs))
    legs = None
    for feat, w in _QCT_FEATS:
        leg = stats.crossJoin(F.broadcast(w_final)).select(
            F.lit(feat).alias("feature"),
            F.col(w).alias("weight"),
            F.col(f"sx_{feat}").alias("sx"),
            F.col(f"sxx_{feat}").alias("sxx"),
            "n",
        )
        legs = leg if legs is None else legs.unionByName(leg)
    m = legs.select(
        "feature",
        "weight",
        rnd(F.col("sx") / F.col("n"), 6).alias("mean6"),
        rnd(F.col("sxx") / F.col("n"), 6).alias("ex2_6"),
    )
    v = m.select(
        "feature",
        "weight",
        "mean6",
        rnd(F.col("ex2_6") - F.col("mean6") * F.col("mean6"), 6).alias("var6"),
    )
    s = v.select(
        "*",
        rnd(F.sqrt(F.greatest(F.col("var6"), F.lit(0.0))), 6).alias("std6"),
    )
    return s.select(
        "feature",
        "weight",
        "mean6",
        "std6",
        rnd(F.abs(F.col("weight")) * F.col("std6"), 6).alias("importance6"),
    ).orderBy(F.desc("importance6"), "feature")

def _qct_scored_round_sql(r: int) -> str:
    """(doc_id, y, p) for round r's weights — the trainer's own
    hard-sigmoid probability, identical algebra to the a{r} CTEs."""
    return (
        f"sc{r} AS MATERIALIZED (\n"
        f"  SELECT t.doc_id, t.y,\n"
        f"         FLOOR(LEAST(GREATEST(0.5 + ({_QCT_Z_SQL}) / 4.0, 0.0),"
        f" 1.0) * 1000000 + 0.5) / 1000000 AS p\n"
        f"  FROM train t CROSS JOIN w{r} w\n"
        f")"
    )

def _data_map_oracle(rounds: int) -> str:
    ctes = _qct_ctes(rounds)
    for r in range(1, rounds + 1):
        ctes.append(_qct_scored_round_sql(r))
    union = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, y,"
        f" CASE WHEN y > 0.5 THEN p ELSE"
        f" FLOOR((1.0 - p) * 1000000 + 0.5) / 1000000 END AS q"
        f" FROM sc{r}"
        for r in range(1, rounds + 1)
    )
    ctes.append("allr AS (\n" + union + "\n)")
    ctes.append(
        "per AS (\n"
        "  SELECT doc_id, MAX(y) AS y,\n"
        f"         {sql_dsum('q', 7)} AS sq,\n"
        f"         {sql_dsum('q * q', 7)} AS sqq,\n"
        "         CAST(COUNT(*) AS BIGINT) AS nr\n"
        "  FROM allr GROUP BY doc_id\n"
        ")"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
, m AS (
  SELECT doc_id, y,
         FLOOR((sq / nr) * 1000000 + 0.5) / 1000000 AS conf6,
         FLOOR((sqq / nr) * 1000000 + 0.5) / 1000000 AS eq2_6
  FROM per
),
v AS (
  SELECT doc_id, y, conf6,
         FLOOR(SQRT(GREATEST(
           FLOOR((eq2_6 - conf6 * conf6) * 1000000 + 0.5) / 1000000,
           0.0)) * 1000000 + 0.5) / 1000000 AS var6
  FROM m
)
SELECT doc_id, y > 0.5 AS label_keep, conf6, var6,
       CASE WHEN var6 >= 0.045 THEN 'ambiguous'
            WHEN conf6 >= 0.58 THEN 'easy_to_learn'
            WHEN conf6 <= 0.50 THEN 'hard_to_learn'
            ELSE 'mid' END AS region
FROM v ORDER BY doc_id"""
    )

@query("training_data_map", _data_map_oracle(_QCT_ROUNDS))
def training_data_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA MAPS over the GD trajectory (Swayamdipta et al. 2020,
    "Dataset Cartography"): per document, the CONFIDENCE (mean
    probability assigned to the doc's true label across the 8 training
    rounds) and VARIABILITY (std of that series), plus the region —
    high-variability docs are 'ambiguous' (the ones worth human review
    or up-weighting), high-confidence 'easy_to_learn' (safe but
    low-information), low-confidence 'hard_to_learn' (often label
    errors in the rule gate). This is the modern data-selection
    artifact a curation team computes from training dynamics they
    already paid for — no extra model, just the trajectory.

    Region thresholds (0.045 variability, 0.58/0.50 confidence) are
    tuned to THIS score scale and say so: the hard-sigmoid z/4
    activation compresses probabilities toward 0.5, so Swayamdipta's
    absolute cutoffs for softmax models do not transfer; the conf6/
    var6 columns carry the raw signal for any other cut.

    Scale: ONE pass over the committed feature table cross-joined with
    the committed 8-round weight trajectory (an 8-row broadcast — the
    per-round scores materialize map-side, no re-training and no
    8-legged union), then one doc-keyed moment agg — Θ(rounds·N) map
    work, one shuffle on doc_id; decimal-quantized moments, IEEE sqrt.
    """
    # w0 is all-zero: p = 0.5 for every doc, no signal — rounds 1..R
    traj = fence(
        _qct_trajectory(spark, sf_dir)
        .filter(F.col("round") >= 1)
        .select("round", "wb", "w1", "w2", "w3", "w4")
    )
    train = _qct_train_committed(spark, sf_dir)
    p = rnd(
        F.least(
            F.greatest(F.lit(0.5) + F.col("z") / F.lit(4.0), F.lit(0.0)),
            F.lit(1.0),
        ),
        6,
    )
    scored = train.crossJoin(F.broadcast(traj)).select(
        "doc_id", "y", _qct_z().alias("z")
    )
    allr = scored.select(
        "doc_id",
        "y",
        F.when(F.col("y") > 0.5, p)
        .otherwise(rnd(F.lit(1.0) - p, 6))
        .alias("q"),
    )
    per = allr.groupBy("doc_id").agg(
        F.max("y").alias("y"),
        dsum(F.col("q"), 7).alias("sq"),
        dsum(F.col("q") * F.col("q"), 7).alias("sqq"),
        F.count(F.lit(1)).cast("long").alias("nr"),
    )
    m = per.select(
        "doc_id",
        "y",
        rnd(F.col("sq") / F.col("nr"), 6).alias("conf6"),
        rnd(F.col("sqq") / F.col("nr"), 6).alias("eq2_6"),
    )
    v = m.select(
        "doc_id",
        "y",
        "conf6",
        rnd(
            F.sqrt(
                F.greatest(
                    rnd(F.col("eq2_6") - F.col("conf6") * F.col("conf6"), 6),
                    F.lit(0.0),
                )
            ),
            6,
        ).alias("var6"),
    )
    return v.select(
        "doc_id",
        (F.col("y") > 0.5).alias("label_keep"),
        "conf6",
        "var6",
        F.when(F.col("var6") >= 0.045, F.lit("ambiguous"))
        .when(F.col("conf6") >= 0.58, F.lit("easy_to_learn"))
        .when(F.col("conf6") <= 0.50, F.lit("hard_to_learn"))
        .otherwise(F.lit("mid"))
        .alias("region"),
    ).orderBy("doc_id")

def _kappa_oracle(rounds: int) -> str:
    ctes = _qct_ctes(rounds)
    ctes.append(
        "fixedkeep AS MATERIALIZED (SELECT doc_id, keep FROM ("
        + _ORACLES["quality_logistic_filter"]
        + "\n))"
    )
    ctes.append(
        "sigs AS MATERIALIZED (\n"
        "  SELECT t.doc_id,\n"
        "         t.y > 0.5 AS g,\n"
        "         f.keep AS l,\n"
        f"         ({_QCT_Z_SQL}) > 0 AS tr\n"
        f"  FROM train t CROSS JOIN w{rounds} w\n"
        "  JOIN fixedkeep f ON f.doc_id = t.doc_id\n"
        ")"
    )
    legs = "\n  UNION ALL\n".join(
        f"  SELECT '{pair}' AS pair, {a} AS a, {b} AS b FROM sigs"
        for pair, a, b in [
            ("gate_vs_fixed", "g", "l"),
            ("gate_vs_trained", "g", "tr"),
            ("fixed_vs_trained", "l", "tr"),
        ]
    )
    ctes.append("pairs AS (\n" + legs + "\n)")
    ctes.append(
        "cnt AS (\n"
        "  SELECT pair, CAST(COUNT(*) AS BIGINT) AS n,\n"
        "         CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT)"
        " AS n11,\n"
        "         CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)"
        " AS BIGINT) AS n00,\n"
        "         CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na1,\n"
        "         CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS nb1\n"
        "  FROM pairs GROUP BY pair\n"
        ")"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
, po AS (
  SELECT *,
         FLOOR(((n11 + n00) * 1.0 / n) * 1000000 + 0.5) / 1000000 AS po6,
         FLOOR(((na1 * 1.0 / n) * (nb1 * 1.0 / n)
                + ((n - na1) * 1.0 / n) * ((n - nb1) * 1.0 / n))
               * 1000000 + 0.5) / 1000000 AS pe6
  FROM cnt
)
SELECT pair, n, n11 AS n_both_keep, n00 AS n_both_drop,
       n - n11 - n00 AS n_disagree, po6, pe6,
       CASE WHEN 1.0 - pe6 > 0
            THEN FLOOR(((po6 - pe6) / (1.0 - pe6)) * 1000000 + 0.5)
                 / 1000000
            ELSE 0.0 END AS kappa6
FROM po ORDER BY pair"""
    )

@query("gate_agreement_kappa", _kappa_oracle(_QCT_ROUNDS))
def gate_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTER-GATE AGREEMENT — Cohen's κ between the three keep signals
    a curation pipeline now owns (the tuned Gopher rule gate, the
    fixed-weight logistic filter, the TRAINED classifier), pairwise:
    chance-corrected agreement is the standard answer to "are these
    gates redundant or complementary?" — κ near 1 means drop one, κ
    near 0 means they see different things and the funnel needs both.
    Per pair: confusion mass, observed agreement po, chance agreement
    pe (from the marginals), and κ = (po−pe)/(1−pe), all at 6 dp with
    the divide-identical-rounded-doubles discipline.

    Scale: ONE fenced (doc, g, l, t) spine (the gate-audit pattern)
    exploded into 3 pair legs that collapse map-side into 3 count
    rows; κ is arithmetic on the dimension table.
    """
    w_final = _qct_weights(spark, sf_dir)
    train = _qct_train_committed(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    fixed = _quality_logistic_core(docs).select("doc_id", F.col("keep").alias("l"))
    sigs = fence(
        train.crossJoin(F.broadcast(w_final))
        .select("doc_id", (F.col("y") > 0.5).alias("g"), (_qct_z() > 0).alias("tr"))
        .join(fixed, "doc_id")
    )
    pair_structs = [
        F.struct(F.lit(p).alias("pair"), F.col(a).alias("a"), F.col(b).alias("b"))
        for p, a, b in [
            ("gate_vs_fixed", "g", "l"),
            ("gate_vs_trained", "g", "tr"),
            ("fixed_vs_trained", "l", "tr"),
        ]
    ]
    pairs = sigs.select(
        F.explode(F.array(*pair_structs)).alias("p")
    ).select("p.pair", "p.a", "p.b")
    cnt = pairs.groupBy("pair").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("a") & F.col("b"), 1).otherwise(0))
        .cast("long")
        .alias("n11"),
        F.sum(F.when(~F.col("a") & ~F.col("b"), 1).otherwise(0))
        .cast("long")
        .alias("n00"),
        F.sum(F.when(F.col("a"), 1).otherwise(0)).cast("long").alias("na1"),
        F.sum(F.when(F.col("b"), 1).otherwise(0)).cast("long").alias("nb1"),
    )
    po = cnt.select(
        "*",
        rnd((F.col("n11") + F.col("n00")) * 1.0 / F.col("n"), 6).alias("po6"),
        rnd(
            (F.col("na1") * 1.0 / F.col("n")) * (F.col("nb1") * 1.0 / F.col("n"))
            + ((F.col("n") - F.col("na1")) * 1.0 / F.col("n"))
            * ((F.col("n") - F.col("nb1")) * 1.0 / F.col("n")),
            6,
        ).alias("pe6"),
    )
    return po.select(
        "pair",
        "n",
        F.col("n11").alias("n_both_keep"),
        F.col("n00").alias("n_both_drop"),
        (F.col("n") - F.col("n11") - F.col("n00")).alias("n_disagree"),
        "po6",
        "pe6",
        F.when(
            F.lit(1.0) - F.col("pe6") > 0,
            rnd((F.col("po6") - F.col("pe6")) / (F.lit(1.0) - F.col("pe6")), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("kappa6"),
    ).orderBy("pair")

def _calibration_oracle(rounds: int) -> str:
    ctes = _qct_ctes(rounds)
    ctes.append(_qct_scored_round_sql(rounds))
    ctes.append(
        "binned AS (\n"
        f"  SELECT CAST(LEAST(FLOOR(p * 10), 9) AS BIGINT) AS bin, p, y\n"
        f"  FROM sc{rounds}\n"
        ")"
    )
    ctes.append(
        "cells AS MATERIALIZED (\n"
        "  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,\n"
        f"         {sql_dsum('p', 7)} AS sp,\n"
        "         CAST(SUM(CASE WHEN y > 0.5 THEN 1 ELSE 0 END) AS BIGINT)"
        " AS nk\n"
        "  FROM binned GROUP BY bin\n"
        ")"
    )
    ctes.append(
        "curve AS MATERIALIZED (\n"
        "  SELECT bin, n,\n"
        "         FLOOR((sp / n) * 1000000 + 0.5) / 1000000 AS mean_p6,\n"
        "         FLOOR((nk * 1.0 / n) * 1000000 + 0.5) / 1000000"
        " AS keep_rate6\n"
        "  FROM cells\n"
        ")"
    )
    ctes.append(
        "gaps AS MATERIALIZED (\n"
        "  SELECT bin, n, mean_p6, keep_rate6,\n"
        "         FLOOR(ABS(mean_p6 - keep_rate6) * 1000000 + 0.5) / 1000000"
        " AS gap6\n"
        "  FROM curve\n"
        ")"
    )
    ctes.append(
        "ece AS (\n"
        f"  SELECT FLOOR(({sql_dsum('n * gap6', 7)} / SUM(n))"
        " * 1000000 + 0.5) / 1000000 AS ece6\n"
        "  FROM gaps\n"
        ")"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT g.bin, g.n, g.mean_p6, g.keep_rate6, g.gap6, e.ece6\n"
        "FROM gaps g CROSS JOIN ece e ORDER BY g.bin"
    )

@query("quality_calibration_curve", _calibration_oracle(_QCT_ROUNDS))
def quality_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS THE SCORE A PROBABILITY — the reliability curve of the
    trained classifier: the hard-sigmoid scores bucketed into ten
    equal-width bins, per bin the mean predicted probability vs the
    empirical keep rate (vs the same tuned-gate labels), the |gap|,
    and the expected calibration error (ECE, bin-mass-weighted mean
    gap) repeated on every row. A well-calibrated filter can be
    THRESHOLDED BY BUDGET ("keep the top p≥0.8 mass"); a miscalibrated
    one can only be ranked — this table is how you know which you have
    before a data-budget decision relies on the scores.

    Scale: one broadcast-weight scoring pass, a ≤10-bin keyed agg, and
    dimension-table arithmetic; the ECE rollup reads 10 rows.
    """
    w_final = _qct_weights(spark, sf_dir)
    train = _qct_train_committed(spark, sf_dir)
    p = rnd(
        F.least(
            F.greatest(F.lit(0.5) + F.col("z") / F.lit(4.0), F.lit(0.0)),
            F.lit(1.0),
        ),
        6,
    )
    scored = train.crossJoin(F.broadcast(w_final)).select(
        "doc_id", "y", _qct_z().alias("z")
    )
    binned = scored.select(
        F.least(F.floor(p * 10), F.lit(9)).cast("long").alias("bin"),
        p.alias("p"),
        "y",
    )
    cells = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum(F.col("p"), 7).alias("sp"),
        F.sum(F.when(F.col("y") > 0.5, 1).otherwise(0)).cast("long").alias("nk"),
    )
    curve = cells.select(
        "bin",
        "n",
        rnd(F.col("sp") / F.col("n"), 6).alias("mean_p6"),
        rnd(F.col("nk") * 1.0 / F.col("n"), 6).alias("keep_rate6"),
    )
    gaps = fence(curve.select(
        "*",
        rnd(F.abs(F.col("mean_p6") - F.col("keep_rate6")), 6).alias("gap6"),
    ))
    # decimal dsum, not a bare double SUM: n·gap6 terms are 6-dp
    # decimals, and partial-agg accumulation order must not be able to
    # flip the 6-dp half-boundary (the rounding.py hazard)
    ece = gaps.agg(
        rnd(dsum(F.col("n") * F.col("gap6"), 7) / F.sum("n"), 6).alias("ece6")
    )
    return (
        gaps.crossJoin(F.broadcast(ece))
        .select("bin", "n", "mean_p6", "keep_rate6", "gap6", "ece6")
        .orderBy("bin")
    )

def _f1_bootstrap_oracle(rounds: int) -> str:
    ctes = _qct_ctes(rounds)
    ctes.append(
        "scored AS MATERIALIZED (\n"
        f"  SELECT t.doc_id, ({_QCT_Z_SQL}) > 0 AS pred, t.y > 0.5 AS label\n"
        f"  FROM train t CROSS JOIN w{rounds} w\n"
        ")"
    )
    w = _boot_weight_sql(
        "substr(md5(CAST(s.doc_id AS VARCHAR) || '|'"
        " || CAST(b.b AS VARCHAR)), 1, 8)"
    )
    ctes.append(
        "expanded AS MATERIALIZED (\n"
        "  SELECT b.b, s.pred, s.label,\n"
        f"         {w} AS w\n"
        f"  FROM scored s CROSS JOIN"
        f" (SELECT UNNEST(generate_series(0, {_BOOT_B - 1})) AS b) b\n"
        ")"
    )
    ctes.append(
        "resamp AS MATERIALIZED (\n"
        "  SELECT b,\n"
        "         CAST(SUM(CASE WHEN pred AND label THEN w ELSE 0 END)"
        " AS BIGINT) AS tp,\n"
        "         CAST(SUM(CASE WHEN pred AND NOT label THEN w ELSE 0 END)"
        " AS BIGINT) AS fp,\n"
        "         CAST(SUM(CASE WHEN NOT pred AND label THEN w ELSE 0 END)"
        " AS BIGINT) AS fn\n"
        "  FROM expanded GROUP BY b\n"
        ")"
    )
    ctes.append(
        "f1s AS MATERIALIZED (\n"
        "  SELECT b, tp, fp, fn,\n"
        "         FLOOR((tp * 1.0 / GREATEST(tp + fp, 1)) * 1000000 + 0.5)"
        " / 1000000 AS precision6,\n"
        "         FLOOR((tp * 1.0 / GREATEST(tp + fn, 1)) * 1000000 + 0.5)"
        " / 1000000 AS recall6\n"
        "  FROM resamp\n"
        ")"
    )
    ctes.append(
        "f1v AS MATERIALIZED (\n"
        "  SELECT b, tp, fp, fn, precision6, recall6,\n"
        "         CASE WHEN precision6 + recall6 > 0\n"
        "              THEN FLOOR((2.0 * precision6 * recall6"
        " / (precision6 + recall6)) * 1000000 + 0.5) / 1000000\n"
        "              ELSE 0.0 END AS f1_6\n"
        "  FROM f1s\n"
        ")"
    )
    ctes.append(
        "stats AS (\n"
        f"  SELECT FLOOR(({sql_dsum('f1_6', 7)} / {_BOOT_B})"
        " * 1000000 + 0.5) / 1000000 AS mean_f1_6,\n"
        "         (list(f1_6 ORDER BY f1_6))[2] AS f1_lo6,\n"
        f"         (list(f1_6 ORDER BY f1_6))[{_BOOT_B - 1}] AS f1_hi6\n"
        "  FROM f1v\n"
        ")"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT v.b, v.tp, v.fp, v.fn, v.precision6, v.recall6, v.f1_6,\n"
        "       s.mean_f1_6, s.f1_lo6, s.f1_hi6\n"
        "FROM f1v v CROSS JOIN stats s ORDER BY v.b"
    )

@query("quality_f1_bootstrap", _f1_bootstrap_oracle(_QCT_ROUNDS))
def quality_f1_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOW SURE IS THAT F1 — a deterministic Poisson bootstrap over the
    trained classifier's confusion counts: 32 resamples where each doc
    enters resample b with weight ~ Poisson(1), drawn by comparing an
    md5(doc_id|b) prefix against precomputed CDF cut points (fixed-
    width lowercase hex compares lexicographically AS the number, so
    both engines draw identical weights with zero RNG and zero
    engine-specific hash). Per resample the weighted confusion counts
    and F1 at the z > 0 operating point; every row carries the mean
    and the [2nd, 31st] order-statistic band (≈94% interval for B=32).
    The Poisson bootstrap is THE distributed-bootstrap formulation
    (weights are independent per doc, so no global resample pass) —
    this is how you find out whether a 0.01 F1 'improvement' between
    two classifier versions is real or resampling noise.

    Scale: one broadcast-weight scoring pass, a 32-way dimension
    explode collapsed map-side into 32 confusion rows, and order
    statistics over a 32-row relation (sort_array over a bounded
    collect_list — executor-side, dimension-sized, never a driver
    collect).
    """
    w_final = _qct_weights(spark, sf_dir)
    train = _qct_train_committed(spark, sf_dir)
    scored = train.crossJoin(F.broadcast(w_final)).select(
        "doc_id", (_qct_z() > 0).alias("pred"), (F.col("y") > 0.5).alias("label")
    )
    expanded = scored.select(
        "doc_id",
        "pred",
        "label",
        F.explode(
            F.array(*[F.lit(b) for b in range(_BOOT_B)])
        ).alias("b"),
    )
    h = F.substring(
        F.md5(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit("|"),
                F.col("b").cast("string"),
            )
        ),
        1,
        8,
    )
    w = F.lit(7)
    for k in range(len(_POISSON_HEX_BOUNDS) - 1, -1, -1):
        w = F.when(h < _POISSON_HEX_BOUNDS[k], F.lit(k)).otherwise(w)
    expanded = expanded.select("b", "pred", "label", w.alias("w"))
    resamp = expanded.groupBy("b").agg(
        F.sum(F.when(F.col("pred") & F.col("label"), F.col("w")).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when(F.col("pred") & ~F.col("label"), F.col("w")).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when(~F.col("pred") & F.col("label"), F.col("w")).otherwise(0))
        .cast("long")
        .alias("fn"),
    )
    f1s = resamp.select(
        "*",
        rnd(
            F.col("tp") * 1.0 / F.greatest(F.col("tp") + F.col("fp"), F.lit(1)), 6
        ).alias("precision6"),
        rnd(
            F.col("tp") * 1.0 / F.greatest(F.col("tp") + F.col("fn"), F.lit(1)), 6
        ).alias("recall6"),
    )
    f1v = fence(f1s.select(
        "*",
        F.when(
            F.col("precision6") + F.col("recall6") > 0,
            rnd(
                F.lit(2.0)
                * F.col("precision6")
                * F.col("recall6")
                / (F.col("precision6") + F.col("recall6")),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("f1_6"),
    ))
    stats = f1v.agg(
        rnd(dsum(F.col("f1_6"), 7) / F.lit(_BOOT_B), 6).alias("mean_f1_6"),
        F.element_at(F.sort_array(F.collect_list("f1_6")), 2).alias("f1_lo6"),
        F.element_at(
            F.sort_array(F.collect_list("f1_6")), _BOOT_B - 1
        ).alias("f1_hi6"),
    )
    return (
        f1v.crossJoin(F.broadcast(stats))
        .select(
            "b",
            "tp",
            "fp",
            "fn",
            "precision6",
            "recall6",
            "f1_6",
            "mean_f1_6",
            "f1_lo6",
            "f1_hi6",
        )
        .orderBy("b")
    )

def _funnel_v4_oracle() -> str:
    """v2's mechanical assembly with ONE swap: the quality_keep stage's
    gate is the trained classifier (keep ⇔ z > 0 under the GD chain's
    final weights) instead of the fixed-weight logistic. The chain CTEs
    are prepended verbatim (the composition discipline), every other
    gate embeds its registered oracle unchanged, so the only semantic
    difference from v2 IS the trained gate."""
    ctes, names = _chain_sql(
        swap=("quality_keep", "quality_trained_keep", _QCT_KEEP_SQL)
    )
    return _stage_report_sql(_qct_ctes(_QCT_ROUNDS) + ctes, names)

@query("corpus_prep_funnel_v4", _funnel_v4_oracle())
def corpus_prep_funnel_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE FUNNEL YOU SHIP AFTER TRAINING — corpus_prep_funnel_v2 with
    exactly one stage swapped: the fixed-weight logistic quality gate
    becomes the GD-TRAINED classifier (keep ⇔ z > 0 under
    quality_classifier_train's final weights, trained on the full
    corpus — v2's globally-fit-gates semantics). Every other gate is
    the registered query reused verbatim, and the oracle prepends the
    training chain's CTEs unchanged, so the diff between v2's and v4's
    stage rows measures PRECISELY what swapping in the trained model
    does to the funnel — the before/after table a curation team reads
    when deciding to promote a trained filter into production.

    Scale: v2's flags shape (each gate's own bounded plan LEFT-joined
    once into the flags relation, all 8 stage rows from one
    aggregation pass over survival depth — see _funnel_stage_report);
    the trained gate itself is one broadcast-weight codegen projection
    over the COMMITTED feature table with the COMMITTED weights — no
    training inside the funnel, cheaper than the fixed gate's two
    token-pass aggs.
    """
    w_final = _qct_weights(spark, sf_dir)
    train = _qct_train_committed(spark, sf_dir)
    trained_keep = (
        train.crossJoin(F.broadcast(w_final))
        .filter(_qct_z() > 0)
        .select("doc_id")
    )
    return _funnel_stage_report(
        *_gate_flags(
            spark,
            sf_dir,
            swap=("quality_keep", "quality_trained_keep", trained_keep),
        )
    )

def _funnel_incr_oracle() -> str:
    """The incremental chain is the STREAMING per-doc gate chain
    (streaming/trained_funnel.py STAGES — corpus-fitted gates are
    deliberately absent from delta processing; production re-fits those
    in the nightly full run): per-doc gates embed their registered
    oracles verbatim, the trained gate prepends the GD chain CTEs
    unchanged, and new_unique is within-delta keep-min plus an anti
    join against the standing half's survivor fingerprints."""
    n = len(_PER_DOC_GATES) + 1  # the trained gate runs last
    ctes = _qct_ctes(_QCT_ROUNDS)
    ctes += [cte for _name, cte in _gate_sql(_PER_DOC_GATES)]
    ctes.append(f"g{n} AS {_QCT_KEEP_SQL}")
    ctes.append(
        "fpr AS (SELECT doc_id,"
        " md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))"
        " AS fingerprint FROM documents)"
    )
    ctes.append("d0 AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 1)")
    ctes.append("e0 AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0)")
    for i in range(1, n + 1):
        for side in ("d", "e"):
            ctes.append(
                f"{side}{i} AS (SELECT s.doc_id FROM {side}{i-1} s"
                f" JOIN g{i} g ON g.doc_id = s.doc_id)"
            )
    ctes.append(
        f"standing AS (SELECT DISTINCT f.fingerprint FROM e{n} s"
        " JOIN fpr f ON f.doc_id = s.doc_id)"
    )
    ctes.append(
        f"d{n + 1} AS (SELECT k.doc_id FROM ("
        f"SELECT f.fingerprint, MIN(s.doc_id) AS doc_id FROM d{n} s"
        " JOIN fpr f ON f.doc_id = s.doc_id GROUP BY f.fingerprint) k"
        " WHERE k.fingerprint NOT IN (SELECT fingerprint FROM standing))"
    )
    return _stage_report_sql(ctes, STAGES, rel="d")

@query("corpus_prep_funnel_incremental", _funnel_incr_oracle())
def corpus_prep_funnel_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """THE DELTA FUNNEL — the scale answer to corpus_prep_funnel_v4's
    full-corpus re-scan (VERDICT r9 next-item #5): process ONLY the
    docs not yet in the standing accepted corpus through the streaming
    per-doc gate chain (lang confidence → code detect → tuned Gopher →
    COMMITTED trained classifier), then keep first-arrivals whose
    fingerprints are absent from the standing survivors — the exact
    logic streaming/trained_funnel.py runs per micro-batch, expressed
    as one oracled batch relation. Emits the per-stage (n_kept,
    id_checksum) report for the DELTA, same shape as the funnel family.

    Standing-set convention (what makes this SQL-oracle-able): the
    even-doc_id half plays yesterday's processed corpus — its chain
    survivors' fingerprints are the standing index — and the odd half
    is the delta. The production surface with a REAL standing snapshot
    is streaming/trained_funnel.funnel_delta_report (same chain, the
    accepted table's fingerprint projection instead of the derived
    standing set); tests/test_streaming_trained_funnel.py pins this
    query's stage counts to the snapshot path's batch stats row, and
    delta-then-merge == full-recompute holds at the fingerprint level.

    Corpus-FITTED gates (MAD length, CCNet terciles, DSIR) are
    deliberately absent: their fit is a corpus-level statistic, so
    production re-fits them in the nightly batch funnel and the delta
    path applies per-doc gates only — stated scope, the streaming
    module's documented contract.

    Scale: THE point — delta cost ∝ delta size. Per-doc gates and the
    broadcast-weight trained gate scan only the delta; the standing
    side is one 32-byte-fingerprint projection (in production a
    committed snapshot column scan, optionally Bloom-screened) — never
    a re-scan of the accepted corpus text, never a re-train, never a
    re-fit. scripts/funnel_delta_probe.py measures a fixed delta
    against 1x vs Rx standing corpora."""
    docs = load(spark, sf_dir, "documents")
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    standing_src = docs.filter(F.col("doc_id") % 2 == 0)
    w_final = _qct_weights(spark, sf_dir)
    train = _qct_train_committed(spark, sf_dir)
    # consumed by BOTH the delta and the standing chain — fence once so
    # the committed-registry read + scoring projection is not replayed
    # per chain (the funnel-v2 discipline)
    trained_keep = fence(
        train.crossJoin(F.broadcast(w_final))
        .filter(_qct_z() > 0)
        .select("doc_id")
    )

    def chain(src: DataFrame) -> list[DataFrame]:
        return _survivor_chain(
            src, _PER_DOC_GATES, trained=lambda _s: trained_keep
        )

    # the delta and standing chains are independent (both hang off the
    # shared trained_keep fence) — build concurrently (round 11, see
    # _registry._build_concurrently: each chain level's fence runs a
    # blocking job at construction)
    stages, standing_last = _build_concurrently(
        [lambda: chain(delta), lambda: chain(standing_src)[-1]]
    )
    standing_fp = standing_last.select(
        doc_fingerprint(F.col("text")).alias("fingerprint")
    ).distinct()
    d4fp = stages[-1].select(
        "doc_id", doc_fingerprint(F.col("text")).alias("fingerprint")
    )
    new_unique = (
        d4fp.groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .join(standing_fp, "fingerprint", "left_anti")
        .select("doc_id")
    )
    stages.append(new_unique)
    return _stage_rows(STAGES, stages)

def _budget_threshold_oracle(rounds: int) -> str:
    ctes = _qct_ctes(rounds)
    ctes.append(
        "scored AS MATERIALIZED (\n"
        f"  SELECT t.doc_id, {_QCT_Z_SQL} AS z\n"
        f"  FROM train t CROSS JOIN w{rounds} w\n"
        ")"
    )
    ctes.append(
        "hist AS MATERIALIZED (\n"
        "  SELECT z, CAST(COUNT(*) AS BIGINT) AS c FROM scored GROUP BY z\n"
        ")"
    )
    ctes.append(
        "cum AS MATERIALIZED (\n"
        "  SELECT z, CAST(SUM(c) OVER (ORDER BY z DESC"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)"
        " AS n_at_or_above\n"
        "  FROM hist\n"
        ")"
    )
    ctes.append(
        "tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM hist)"
    )
    fr = ", ".join(f"({n}, {d})" for n, d in _BUDGET_FRACS)
    ctes.append(
        "fracs AS (SELECT f.* FROM (VALUES " + fr + ") AS f(num, den))"
    )
    ctes.append(
        "picks AS (\n"
        "  SELECT f.num, f.den, t.n,\n"
        "         (t.n * f.num + f.den - 1) // f.den AS target,\n"
        "         MAX(c.z) AS threshold_z\n"
        "  FROM fracs f CROSS JOIN tot t\n"
        "  JOIN cum c ON c.n_at_or_above >= (t.n * f.num + f.den - 1) // f.den\n"
        "  GROUP BY f.num, f.den, t.n\n"
        ")"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT FLOOR((p.num * 1.0 / p.den) * 1000000 + 0.5) / 1000000
         AS budget_frac6,
       p.threshold_z, p.target, c.n_at_or_above AS n_kept,
       FLOOR((c.n_at_or_above * 1.0 / p.n) * 1000000 + 0.5) / 1000000
         AS kept_share6
FROM picks p JOIN cum c ON c.z = p.threshold_z
ORDER BY budget_frac6"""
    )

@query("quality_budget_threshold", _budget_threshold_oracle(_QCT_ROUNDS))
def quality_budget_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEEP THE TOP p% — the data-budget selector: for each budget
    fraction (25/50/75/100%), the trained-score threshold that keeps
    the smallest set of at least ⌈frac·N⌉ documents (ties at the
    threshold keep together, so kept_share can exceed the budget by
    the tie mass — reported honestly). This is how a token-budget
    decision actually consumes a quality score: not "z > 0" but "the
    best 50% we can afford" — and because quality_calibration_curve
    showed the scores are NOT calibrated probabilities, rank-based
    budget cuts are the only safe way to threshold them (the two
    queries are two halves of one decision).

    Exactness: targets are pure integer ceilings ((N·num + den−1) DIV
    den — no float budget math), and the threshold comes from the
    VALUE-HISTOGRAM cumulative rank (the quality_ensemble_rank
    sortless pattern): the single-partition window runs over distinct
    6-dp scores, never rows.

    Scale: one broadcast-weight scoring pass, a score-keyed histogram
    agg (bounded by distinct 6-dp score cardinality), a window over
    that histogram, and a 4-row dimension join.
    """
    w_final = _qct_weights(spark, sf_dir)
    train = _qct_train_committed(spark, sf_dir)
    scored = train.crossJoin(F.broadcast(w_final)).select(
        "doc_id", _qct_z().alias("z")
    )
    hist = scored.groupBy("z").agg(F.count(F.lit(1)).cast("long").alias("c"))
    hist = fence(hist)
    w = (
        Window.orderBy(F.desc("z"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = fence(hist.select(
        "z", F.sum("c").over(w).cast("long").alias("n_at_or_above")
    ))
    tot = hist.agg(F.sum("c").cast("long").alias("n"))
    fracs = None
    for num, den in _BUDGET_FRACS:
        leg = tot.select(
            F.lit(num).alias("num"), F.lit(den).alias("den"), "n"
        )
        fracs = leg if fracs is None else fracs.unionByName(leg)
    picks = (
        fracs.withColumn(
            "target",
            F.expr("(n * num + den - 1) div den"),
        )
        .join(cum, F.col("n_at_or_above") >= F.col("target"))
        .groupBy("num", "den", "n", "target")
        .agg(F.max("z").alias("threshold_z"))
    )
    return (
        picks.join(
            cum.select(
                F.col("z").alias("threshold_z"),
                F.col("n_at_or_above").alias("n_kept"),
            ),
            "threshold_z",
        )
        .select(
            rnd(F.col("num") * 1.0 / F.col("den"), 6).alias("budget_frac6"),
            "threshold_z",
            "target",
            "n_kept",
            rnd(F.col("n_kept") * 1.0 / F.col("n"), 6).alias("kept_share6"),
        )
        .orderBy("budget_frac6")
    )

def _dedup_quality_oracle(rounds: int) -> str:
    ctes = _qct_ctes(rounds)
    ctes.append(
        "mem AS MATERIALIZED (SELECT doc_id, cluster_id FROM ("
        + _ORACLES["dedup_clusters"]
        + "\n))"
    )
    ctes.append(
        "siz AS MATERIALIZED (SELECT cluster_id,"
        " CAST(COUNT(*) AS BIGINT) AS csize FROM mem GROUP BY cluster_id)"
    )
    ctes.append(
        "scored AS MATERIALIZED (\n"
        f"  SELECT t.doc_id, {_QCT_Z_SQL} AS z, t.y\n"
        f"  FROM train t CROSS JOIN w{rounds} w\n"
        ")"
    )
    ctes.append(
        "j AS (\n"
        "  SELECT CASE WHEN sz.csize IS NULL THEN 'no_dup'\n"
        "              WHEN sz.csize = 2 THEN 'dup_2'\n"
        "              ELSE 'dup_3_plus' END AS band,\n"
        "         s.z, s.y\n"
        "  FROM scored s\n"
        "  LEFT JOIN mem m ON m.doc_id = s.doc_id\n"
        "  LEFT JOIN siz sz ON sz.cluster_id = m.cluster_id\n"
        ")"
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT band, CAST(COUNT(*) AS BIGINT) AS n_docs,
       FLOOR(({sql_dsum('z', 7)} / COUNT(*)) * 1000000 + 0.5) / 1000000
         AS mean_z6,
       FLOOR((SUM(CASE WHEN z > 0 THEN 1 ELSE 0 END) * 1.0 / COUNT(*))
             * 1000000 + 0.5) / 1000000 AS pred_keep_rate6,
       FLOOR((SUM(CASE WHEN y > 0.5 THEN 1 ELSE 0 END) * 1.0 / COUNT(*))
             * 1000000 + 0.5) / 1000000 AS gate_keep_rate6
FROM j GROUP BY band ORDER BY band"""
    )

@query("dedup_quality_interaction", _dedup_quality_oracle(_QCT_ROUNDS))
def dedup_quality_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARE DUPLICATED DOCS LOW-QUALITY — the interaction table every
    curation writeup reports (C4/RefinedWeb observe near-dup text skews
    boilerplate): per near-dup BAND (no_dup / dup_2 / dup_3_plus from
    the registered dedup_clusters membership), the document count, the
    mean trained quality score, the trained keep rate and the rule-gate
    keep rate. If the dup bands score systematically lower, dedup and
    quality filtering are partially redundant and the funnel can run
    the cheaper one first; if they score the same, the two gates prune
    independent populations and BOTH earn their cost — this table is
    the evidence either way.

    Both legs read COMMITTED artifacts (the registry): the dedup leg
    scans the committed dedup_clusters membership, the quality leg the
    committed weights + feature table — CC and training each ran once
    at publish time, and the oracle still unrolls both pipelines as
    CTEs to hash-verify the committed bytes.

    Scale: two committed-parquet scans + one broadcast-weight scoring
    pass, joined on doc_id and rolled to ≤3 rows; the band CASE rides
    the (doc, cluster-size) relation, never text — the audit no longer
    pays the multi-round CC job (the r8 13.2×@100× generator-bound
    curve collapses to the scan).
    """
    w_final = _qct_weights(spark, sf_dir)
    train = _qct_train_committed(spark, sf_dir)
    scored = train.crossJoin(F.broadcast(w_final)).select(
        "doc_id", _qct_z().alias("z"), "y"
    )
    mem = _cc_membership_committed(spark, sf_dir)
    siz = mem.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("csize")
    )
    j = (
        scored.join(mem, "doc_id", "left")
        .join(siz, "cluster_id", "left")
        .select(
            F.when(F.col("csize").isNull(), F.lit("no_dup"))
            .when(F.col("csize") == 2, F.lit("dup_2"))
            .otherwise(F.lit("dup_3_plus"))
            .alias("band"),
            "z",
            "y",
        )
    )
    return (
        j.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            rnd(dsum(F.col("z"), 7) / F.count(F.lit(1)), 6).alias("mean_z6"),
            rnd(
                F.sum(F.when(F.col("z") > 0, 1).otherwise(0))
                * 1.0
                / F.count(F.lit(1)),
                6,
            ).alias("pred_keep_rate6"),
            rnd(
                F.sum(F.when(F.col("y") > 0.5, 1).otherwise(0))
                * 1.0
                / F.count(F.lit(1)),
                6,
            ).alias("gate_keep_rate6"),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# round 9: active-learning batch selection (uncertainty x diversity) and
# the data card extended with the trained-model tier.
# ---------------------------------------------------------------------------

_AL_SHORTLIST = 40
_AL_K = 10
_AL_FEATS = ("f_distinct", "f_top", "f_len", "f_stop")


def _al_sqdist_sql(c: str) -> str:
    """6-dp-quantized squared L2 between shortlist row s and the single
    row of CTE ``c`` over the 4 trained features — left-associated sum
    of exact-squared 6-dp terms, identical shape both engines."""
    terms = [
        f"(s.{f} - (SELECT {f} FROM {c})) * (s.{f} - (SELECT {f} FROM {c}))"
        for f in _AL_FEATS
    ]
    return f"FLOOR(({' + '.join(terms)}) * 1000000 + 0.5) / 1000000"


def _al_batch_oracle(rounds: int) -> str:
    ctes = _qct_ctes(rounds)
    ctes.append(
        "scored AS MATERIALIZED (\n"
        "  SELECT t.doc_id, t.f_distinct, t.f_top, t.f_len, t.f_stop,\n"
        f"         {_QCT_Z_SQL} AS z\n"
        f"  FROM train t CROSS JOIN w{rounds} w\n"
        ")"
    )
    ctes.append(
        "sl AS MATERIALIZED (\n"
        "  SELECT doc_id, z, f_distinct, f_top, f_len, f_stop,\n"
        "         CAST(rank AS BIGINT) AS unc_rank\n"
        "  FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY ABS(z) ASC, doc_id)"
        " AS rank FROM scored)\n"
        f"  WHERE rank <= {_AL_SHORTLIST}\n"
        ")"
    )
    ctes.append("c1 AS MATERIALIZED (SELECT * FROM sl WHERE unc_rank = 1)")
    for i in range(2, _AL_K + 1):
        dists = ", ".join(_al_sqdist_sql(f"c{j}") for j in range(1, i))
        md = f"LEAST({dists})" if i > 2 else dists
        chosen = ", ".join(f"(SELECT doc_id FROM c{j})" for j in range(1, i))
        ctes.append(
            f"c{i} AS MATERIALIZED (\n"
            f"  SELECT s.doc_id, s.z, s.f_distinct, s.f_top, s.f_len,"
            f" s.f_stop, s.unc_rank, {md} AS md\n"
            f"  FROM sl s WHERE s.doc_id NOT IN ({chosen})\n"
            f"  ORDER BY md DESC, s.doc_id ASC LIMIT 1\n"
            f")"
        )
    rows = [
        "SELECT CAST(1 AS BIGINT) AS pick, doc_id, z, unc_rank,"
        " CAST(NULL AS DOUBLE) AS sel_dist6 FROM c1"
    ] + [
        f"SELECT CAST({i} AS BIGINT) AS pick, doc_id, z, unc_rank,"
        f" md AS sel_dist6 FROM c{i}"
        for i in range(2, _AL_K + 1)
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\n"
        + "\nUNION ALL\n".join(rows)
        + "\nORDER BY pick"
    )


@query("active_learning_batch", _al_batch_oracle(_QCT_ROUNDS))
def active_learning_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE NEXT ANNOTATION BATCH — uncertainty x diversity selection,
    the standard active-learning composite (uncertainty sampling per
    Lewis & Gale; diversity via greedy k-center per Sener & Savarese's
    coreset argument): shortlist the 40 documents the COMMITTED trained
    classifier is least sure about (smallest |z| — nearest the decision
    boundary; the disagreement queue samples confident errors, this
    samples the boundary), then pick 10 by greedy farthest-point over
    the 4-dim trained-feature space (6-dp-quantized squared L2, ties to
    the lowest doc_id, seeded at the most uncertain doc) so the batch
    spans the boundary region instead of sampling one dense blob of
    near-identical borderline docs. Emits (pick, doc_id, z, unc_rank,
    sel_dist6) — pick order IS the labeling priority.

    Reads the committed model (registry) — selection never retrains.
    The oracle unrolls the greedy rounds as chained MATERIALIZED CTEs
    over the same shortlist (the kcenter proof pattern) on top of the
    GD chain, so every pick is hash-verified.

    Scale: one broadcast-weight scoring pass + the salted two-level
    top-40 (never a global row sort); the greedy runs on the 40-row
    shortlist with a broadcast chosen-set array — 9 argmax rounds over
    a dimension-sized relation.
    """
    from etl_weather_spark.operators.similarity import topk_per_group

    w_final = _qct_weights(spark, sf_dir)
    train = _qct_train_committed(spark, sf_dir)
    scored = train.crossJoin(F.broadcast(w_final)).select(
        "doc_id", *_AL_FEATS, _qct_z().alias("z")
    )
    top = topk_per_group(
        scored.withColumn("__g", F.lit(1)).withColumn(
            "__negaz", -F.abs(F.col("z"))
        ),
        group_col="__g",
        k=_AL_SHORTLIST,
        sim_col="__negaz",
        tie_col="doc_id",
    )
    sl = fence(top.select(
        "doc_id",
        "z",
        *_AL_FEATS,
        F.col("rank").cast("long").alias("unc_rank"),
    ))

    def sqdist(c) -> F.Column:
        terms = None
        for f, cf in zip(_AL_FEATS, ("cd", "ct", "cl", "cw"), strict=True):
            t = (F.col(f) - c[cf]) * (F.col(f) - c[cf])
            terms = t if terms is None else terms + t
        return rnd(terms, 6)

    def center_struct(prefix):
        return F.struct(
            prefix["f_distinct"].alias("cd"),
            prefix["f_top"].alias("ct"),
            prefix["f_len"].alias("cl"),
            prefix["f_stop"].alias("cw"),
            prefix["doc_id"].alias("cid"),
        )

    seed = fence(sl.filter(F.col("unc_rank") == 1))
    centers = fence(seed.select(
        F.array(center_struct(F.struct(*[F.col(c) for c in sl.columns]))).alias("cs")
    ))
    rows = [
        seed.select(
            F.lit(1).cast("long").alias("pick"),
            "doc_id",
            "z",
            "unc_rank",
            F.lit(None).cast("double").alias("sel_dist6"),
        )
    ]
    for i in range(2, _AL_K + 1):
        cand = (
            sl.crossJoin(F.broadcast(centers))
            .filter(
                ~F.array_contains(
                    F.transform(F.col("cs"), lambda c: c["cid"]),
                    F.col("doc_id"),
                )
            )
            .select(
                "doc_id",
                "z",
                "unc_rank",
                *_AL_FEATS,
                F.array_min(
                    F.transform(F.col("cs"), sqdist)
                ).alias("md"),
            )
        )
        top1 = cand.orderBy(F.desc("md"), F.asc("doc_id")).limit(1)
        top1 = fence(top1)
        rows.append(
            top1.select(
                F.lit(i).cast("long").alias("pick"),
                "doc_id",
                "z",
                "unc_rank",
                F.col("md").alias("sel_dist6"),
            )
        )
        centers = fence(
            centers.crossJoin(F.broadcast(top1))
            .select(
                F.array_append(
                    F.col("cs"),
                    center_struct(
                        F.struct(*[F.col(c) for c in top1.columns])
                    ),
                ).alias("cs")
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("pick")


def _release_specs(spark: SparkSession, sf_dir: str) -> dict:
    """name → (expected fingerprint, build) for every artifact a corpus
    RELEASE pins: the trained classifier trajectory, the dedup CC
    membership, and the BPE merge table — each fingerprint computed
    from the release corpus + that producer's own param constants."""
    from etl_weather_spark.queries.dedup import _cc_fingerprint
    from etl_weather_spark.queries.text import _bpe_fingerprint

    return {
        "quality_classifier": (
            _qct_fingerprint(sf_dir, None),
            lambda: _qct_trajectory_df(spark, sf_dir, None),
        ),
        "dedup_cc_membership": (
            _cc_fingerprint(sf_dir),
            lambda: _QUERIES["dedup_clusters"](spark, sf_dir),
        ),
        "bpe_merges": (
            _bpe_fingerprint(sf_dir),
            lambda: _QUERIES["bpe_merge_rounds"](spark, sf_dir),
        ),
    }


def _ensure_release(spark: SparkSession, sf_dir: str) -> int:
    """Build-then-pin the corpus release (operators/artifacts.
    release_if_absent): train/compute any missing or stale artifact,
    then commit ONE atomic catalog version pinning all three to this
    corpus's data fingerprint. Idempotent — a current consistent
    release is reused. Returns the release version."""
    import os as _os

    from etl_weather_spark.operators.artifacts import release_if_absent

    return release_if_absent(
        spark,
        dataset_key(sf_dir),
        _release_specs(spark, sf_dir),
        data_fingerprint=dataset_fingerprint(sf_dir),
        meta={"sf_dir": _os.path.realpath(sf_dir)},
    )


@query(
    "corpus_release_manifest",
    f"""
SELECT 'bpe_merges' AS artifact, CAST(COUNT(*) AS BIGINT) AS n_rows,
       TRUE AS corpus_consistent
FROM ({{BPE}})
UNION ALL
SELECT 'dedup_cc_membership', CAST(COUNT(*) AS BIGINT), TRUE
FROM ({{CC}})
UNION ALL
SELECT 'quality_classifier', CAST(COUNT(*) AS BIGINT), TRUE
FROM ({{QCT}})
ORDER BY artifact
""".format(
        BPE=_ORACLES["bpe_merge_rounds"],
        CC=_ORACLES["dedup_clusters"],
        QCT=_qct_oracle(_QCT_ROUNDS),
    ),
)
def corpus_release_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PUBLISH-AND-PROVE the atomic corpus release (round 10, VERDICT
    r9 next-item #1): ensure the three fitted artifacts — classifier
    trajectory, dedup CC membership, BPE merges — are committed against
    THIS corpus, pin them as ONE atomic release catalog version
    (sources/catalog.py pointer trick one level up), then read every
    artifact back STRICTLY through the pin (read_release_artifact's
    refusal ladder: missing → stale corpus → mixed set) and emit one
    row per artifact with its pinned row count. The oracle re-derives
    each artifact from the raw corpus (GD chain unrolled, recursive-CTE
    connected components, BPE merge replay), so a row-count+hash match
    proves the pinned bytes are exactly what the release corpus
    produces — the release write path under the driver gate, the
    quality_classifier_publish trick applied to the whole release.

    ``corpus_consistent`` is emitted only after every strict pinned
    read passed; a half-rebuilt registry (one artifact republished
    against different data, others not) raises MixedReleaseError here
    instead of serving a silently mixed set. The release id is surfaced
    via `cli.py artifacts release-show` and the committed release meta.

    Scale: the pin commit is one conditional manifest create + pointer
    swap; the proof reads are three dimension-sized committed scans —
    training/CC/BPE costs are paid once per corpus version, never per
    audit."""
    from etl_weather_spark.operators.artifacts import read_release_artifact

    _ensure_release(spark, sf_dir)
    key = dataset_key(sf_dir)
    data_fp = dataset_fingerprint(sf_dir)
    legs = []
    for name, (fp, _build) in sorted(_release_specs(spark, sf_dir).items()):
        pinned = read_release_artifact(
            spark,
            key,
            name,
            expect_fingerprint=fp,
            expect_data_fingerprint=data_fp,
        )
        legs.append(
            pinned.agg(F.count(F.lit(1)).cast("long").alias("n_rows")).select(
                F.lit(name).alias("artifact"),
                "n_rows",
                F.lit(True).alias("corpus_consistent"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.orderBy("artifact")


def _release_report_v2_oracle() -> str:
    """v1's card embedded verbatim + the trained-model tier reduced to
    release scalars: trained keep rate at the z>0 operating point and
    best F1 (from the registered trained-PR oracle), calibration ECE,
    t-closeness max TVD + failing-class share, and the near-dup doc
    share from the dedup_clusters membership."""
    return f"""
WITH v1 AS (SELECT * FROM ({_ORACLES["corpus_release_report"]})),
prt AS (
  SELECT MAX(f1_6) AS trained_best_f1_6,
         MAX(CASE WHEN threshold = 0.0 THEN
           FLOOR(((tp + fp) * 1.0 / (tp + fp + fn + tn)) * 1000000 + 0.5)
             / 1000000 END) AS trained_keep_rate6
  FROM ({_ORACLES["quality_pr_curve_trained"]}) WHERE model = 'trained'
),
cal AS (
  SELECT MAX(ece6) AS calibration_ece6
  FROM ({_ORACLES["quality_calibration_curve"]})
),
tc AS (
  SELECT MAX(max_tvd6) AS t_closeness_max_tvd6,
         MAX(risk_share4) AS t_risk_share4
  FROM ({_ORACLES["t_closeness_audit"]})
),
nd AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS neardup_docs
  FROM ({_ORACLES["dedup_clusters"]})
)
SELECT v1.*,
       prt.trained_keep_rate6, prt.trained_best_f1_6,
       cal.calibration_ece6,
       tc.t_closeness_max_tvd6, tc.t_risk_share4,
       FLOOR((nd.neardup_docs * 1.0 / v1.n_docs) * 1000000 + 0.5) / 1000000
         AS neardup_doc_share6
FROM v1 CROSS JOIN prt CROSS JOIN cal CROSS JOIN tc CROSS JOIN nd
"""


@query("corpus_release_report_v2", _release_report_v2_oracle())
def corpus_release_report_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE DATA CARD A MODEL-GATED RELEASE SIGNS OFF ON — v1's seven
    governance scalars (dup rate, PII, verbatim + semantic
    contamination, k-anonymity risk, Gopher keep rate, mixed-script
    share) extended with the trained-model tier a modern curation
    pipeline also publishes: the COMMITTED classifier's keep rate at
    the z>0 operating point and its best F1 vs the tuned labels, the
    calibration ECE (can the score be budget-thresholded?), the
    t-closeness worst-class TVD + failing-class doc share (the
    anonymity ladder's top rung), and the near-dup document share from
    the committed CC membership. One row; every column definitionally
    consistent with the standalone audit it summarizes because every
    leg IS the registered query (Spark side) and its embedded oracle
    (DuckDB side).

    Scale: v1's legs keep their documented bounded plans; the trained
    tier reads committed artifacts (weights, membership) — the card
    adds registry scans + dimension-sized rollups, never a second
    training or CC run.

    Round 10: the card ensures the ATOMIC RELEASE PIN first
    (_ensure_release), so every artifact leg below — the trained
    scores, the calibration, the CC membership — reads the versions
    pinned by ONE release catalog commit (release_artifact_read inside
    each committed helper), never a mix of artifact versions committed
    at different times. The release id is surfaced via
    `cli.py artifacts release-show`.
    """
    _ensure_release(spark, sf_dir)

    def build_prt():
        prt_rows = _QUERIES["quality_pr_curve_trained"](spark, sf_dir).filter(
            F.col("model") == "trained"
        )
        return prt_rows.agg(
            F.max("f1_6").alias("trained_best_f1_6"),
            F.max(
                F.when(
                    F.col("threshold") == 0.0,
                    rnd(
                        (F.col("tp") + F.col("fp"))
                        * 1.0
                        / (
                            F.col("tp")
                            + F.col("fp")
                            + F.col("fn")
                            + F.col("tn")
                        ),
                        6,
                    ),
                )
            ).alias("trained_keep_rate6"),
        )

    # the five legs are independent (each reads the corpus or the one
    # pinned release) — build concurrently (round 11, see
    # _build_concurrently: leg construction runs blocking fence jobs)
    v1, prt, cal, tc, nd = _build_concurrently(
        [
            lambda: _QUERIES["corpus_release_report"](spark, sf_dir),
            build_prt,
            lambda: _QUERIES["quality_calibration_curve"](spark, sf_dir).agg(
                F.max("ece6").alias("calibration_ece6")
            ),
            lambda: _QUERIES["t_closeness_audit"](spark, sf_dir).agg(
                F.max("max_tvd6").alias("t_closeness_max_tvd6"),
                F.max("risk_share4").alias("t_risk_share4"),
            ),
            lambda: _cc_membership_committed(spark, sf_dir).agg(
                F.count(F.lit(1)).cast("long").alias("neardup_docs")
            ),
        ]
    )
    out = v1
    for leg in (prt, cal, tc, nd):
        out = out.crossJoin(F.broadcast(leg))
    return out.select(
        *[c for c in v1.columns],
        "trained_keep_rate6",
        "trained_best_f1_6",
        "calibration_ece6",
        "t_closeness_max_tvd6",
        "t_risk_share4",
        rnd(F.col("neardup_docs") * 1.0 / F.col("n_docs"), 6).alias(
            "neardup_doc_share6"
        ),
    )
