"""Text-analysis operators over a documents table.

Everything is built-in Catalyst expressions (regexp_count, length
arithmetic, when-chains) — no Python in the hot path. Each op is also
exposed as an oracle-checked query in queries.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_weather_spark.functions.rounding import rnd
from etl_weather_spark.functions.text import bpe_ish_token_count, token_count
from etl_weather_spark.operators.fence import FENCE_EVERY, fence

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small and deterministic; in production these
# would be a broadcast dimension table.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
}


def stopword_hits(text: Column, words: list[str]) -> Column:
    """Count of stopword occurrences (word-boundary regex, JVM-side)."""
    pattern = r"\b(" + "|".join(words) + r")\b"
    return F.regexp_count(F.lower(text), F.lit(pattern))


def lang_id(text: Column) -> Column:
    """Argmax language by stopword hits; 'und' (undetermined) when all zero.

    Ties resolve by the fixed language order of LANG_STOPWORDS — a
    deterministic when-chain, reproducible in plain SQL.
    """
    scores = {lang: stopword_hits(text, ws) for lang, ws in LANG_STOPWORDS.items()}
    best = F.greatest(*scores.values())
    expr = F.when(best == 0, F.lit("und"))
    for lang in LANG_STOPWORDS:
        expr = expr.when(scores[lang] == best, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def quality_score(text: Column) -> Column:
    """Heuristic quality in [0,1]: length, punctuation and stopword ratios.

    score = 0.4*min(tokens/100, 1) + 0.3*(1 - punct_ratio) +
            0.3*min(stopword_ratio*5, 1)
    — length rewards substance, punct_ratio penalizes symbol soup,
    stopword density separates prose from keyword lists.
    """
    ntok = token_count(text).cast("double")
    nchar = F.length(text).cast("double")
    npunct = F.regexp_count(text, F.lit(r"[^\w\s]")).cast("double")
    nstop = stopword_hits(text, LANG_STOPWORDS["en"]).cast("double")
    punct_ratio = F.when(nchar > 0, npunct / nchar).otherwise(F.lit(0.0))
    stop_ratio = F.when(ntok > 0, nstop / ntok).otherwise(F.lit(0.0))
    score = (
        0.4 * F.least(ntok / 100.0, F.lit(1.0))
        + 0.3 * (1.0 - punct_ratio)
        + 0.3 * F.least(stop_ratio * 5.0, F.lit(1.0))
    )
    return rnd(score, 4)


def doc_profile(docs: DataFrame) -> DataFrame:
    """Full per-document text profile: tokens, BPE-ish tokens, lang, quality."""
    t = F.col("text")
    return docs.select(
        "*",
        token_count(t).alias("n_tokens"),
        bpe_ish_token_count(t).alias("n_bpe_tokens"),
        lang_id(t).alias("lang_pred"),
        quality_score(t).alias("quality"),
    )


def chunk_documents(docs: DataFrame) -> DataFrame:
    """Split each document into overlapping token-window chunks — the
    context-window prep step of a training-data pipeline (chunks of 50
    tokens, step 40, so consecutive chunks overlap by 10 tokens).

    Chunk starts are 0, 40, 80, ... while start < n_tokens, so
    every token is covered and a short document still yields one chunk.

    PERF: tokenization happens in the projection FEEDING the explode —
    the Generate is the boundary that stops CollapseProject from
    inlining the regex into per-chunk expressions (the [[spark-hof-
    lambda-inlining]] trap); after the explode, ``F.slice`` is a plain
    array op, not a per-element lambda. Scale: explode amplifies rows
    by ~n_tokens/40 (the inherent cost of overlap-chunking); the
    op is shuffle-free — chunks stay on their document's partition.
    """
    from etl_weather_spark.operators.dedup import tokens

    toks = docs.select(
        F.col("doc_id"), tokens(F.col("text")).alias("_toks")
    ).withColumn("_n", F.size("_toks"))
    n_chunks = F.floor((F.col("_n") + 40 - 1) / F.lit(40)).cast("int")
    return (
        toks.select(
            "doc_id",
            "_toks",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            (F.col("chunk_id") * 40).alias("chunk_start"),
            F.slice(F.col("_toks"), F.col("chunk_id") * 40 + 1, 50).alias("_c"),
        )
        .select(
            "doc_id",
            "chunk_id",
            "chunk_start",
            F.size("_c").alias("n_tokens"),
            F.array_join("_c", " ").alias("chunk_text"),
        )
    )


#: HTML entities decoded by :func:`html_to_text`, in decode order —
#: ``&amp;`` LAST so escaped ampersands never double-decode
HTML_ENTITIES: list[tuple[str, str]] = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]


def html_title(html: Column) -> Column:
    """<title> contents (first match, entity-decoded,
    whitespace-collapsed), '' if none."""
    raw = F.regexp_extract(html, r"(?is)<title[^>]*>(.*?)</title>", 1)
    for ent, rep in HTML_ENTITIES:
        raw = F.replace(raw, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(raw, r"\s+", " "))


def html_to_text(html: Column) -> Column:
    """Visible text of an HTML document — the WET-extraction step every
    web-scale corpus pipeline runs before any quality/dedup stage.

    Pure Catalyst regexp chain (no parser, no Python): drop
    script/style/head blocks and comments wholesale (their contents are
    never visible text), replace every remaining tag with a space,
    decode the common entities (``&amp;`` last), collapse whitespace.
    Heuristic by design — a browser-grade DOM is out of scope — but
    deterministic and engine-portable: the same regexes run verbatim in
    the DuckDB oracle (both engines compile to leftmost-match lazy
    quantifier semantics for these patterns).

    Scale: per-row regex in whole-stage codegen; fans out by input
    split, nothing shuffles.
    """
    out = html
    for blk in (
        r"(?is)<script[^>]*>.*?</script>",
        r"(?is)<style[^>]*>.*?</style>",
        r"(?is)<head[^>]*>.*?</head>",
        r"(?s)<!--.*?-->",
    ):
        out = F.regexp_replace(out, blk, " ")
    out = F.regexp_replace(out, r"(?s)<[^>]+>", " ")
    for ent, rep in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


#: PII regex classes, scrub order matters: emails first (their local
#: parts/domains contain digits and dots that the narrower numeric
#: classes must never see), then IPs before bare digit runs. Patterns
#: are RE2-and-Java-portable (no lookaround), shared verbatim with the
#: SQL oracle.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
    ("num16", r"\b\d{16}\b", "<NUM16>"),
]


def pii_count_cols(text: Column) -> list[Column]:
    """Per-class non-overlapping match counts (n_email, n_ip, ...)."""
    return [
        F.regexp_count(text, F.lit(pat)).alias(f"n_{name}")
        for name, pat, _tok in PII_PATTERNS
    ]


def pii_scrub(text: Column) -> Column:
    """Replace every PII match with its class token, in PII_PATTERNS
    order — the redaction pass a corpus runs before anything persists
    raw text downstream. Class tokens contain no digits, so earlier
    replacements can never manufacture later-class matches."""
    out = text
    for _name, pat, tok in PII_PATTERNS:
        out = F.regexp_replace(out, pat, tok)
    return out


def ngram_repetition_profile(docs: DataFrame) -> DataFrame:
    """Gopher-rule n-gram repetition signals per document (Rae et al.
    2021, "Scaling Language Models", Table A1): the fraction of a
    document's CHARACTERS covered by duplicated word n-grams (n=2,3)
    plus the top-bigram character share. token_repetition covers the
    unigram family; this is the n-gram half of the rule set — the
    standard pre-training quality gate that catches boilerplate and
    looping generations that unigram stats miss.

    Coverage semantics match the reference implementations: a token is
    "covered" for n if ANY duplicated n-gram's occurrence span contains
    it, i.e. a duplicated n-gram starts at one of the previous n-1
    positions or at the token itself — computed as a windowed MAX of
    the duplicate-start flag over ``ROWS BETWEEN n-1 PRECEDING AND
    CURRENT ROW``, so overlapping occurrences never double-count. The
    top-bigram share is the classic occurrences×gram_chars / tok_chars
    approximation (overlaps DO double-count there, by definition).

    Determinism: coverage and counts are pure integers; the two
    fractions round once at 6 dp; the top bigram tie-breaks (count
    desc, bigram asc). Scale: every shuffle is keyed by doc_id or
    (doc_id, gram) — document size is bounded, so no window partition
    outgrows an executor; no Python, no explode beyond 1 row/token.
    """
    w_pos = Window.partitionBy("doc_id").orderBy("pos")
    toks = docs.select(
        F.col("doc_id"), F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    ).filter(F.col("tok") != "")
    g = fence(toks.select(
        "doc_id",
        "pos",
        "tok",
        F.lead("tok", 1).over(w_pos).alias("nxt1"),
        F.lead("tok", 2).over(w_pos).alias("nxt2"),
    ).select(
        "doc_id",
        "pos",
        "tok",
        F.when(
            F.col("nxt1").isNotNull(), F.concat_ws(" ", "tok", "nxt1")
        ).alias("bigram"),
        F.when(
            F.col("nxt2").isNotNull(), F.concat_ws(" ", "tok", "nxt1", "nxt2")
        ).alias("trigram"),
    ))
    # ^ two consumers (the coverage chain and the top-bigram branch)
    # would otherwise each re-run the explode + two lead() windows
    gc = g.select(
        "*",
        F.count(F.lit(1)).over(Window.partitionBy("doc_id", "bigram")).alias("cnt2"),
        F.count(F.lit(1)).over(Window.partitionBy("doc_id", "trigram")).alias("cnt3"),
    ).select(
        "doc_id",
        "pos",
        "tok",
        "bigram",
        "cnt2",
        F.when(F.col("bigram").isNotNull() & (F.col("cnt2") >= 2), 1)
        .otherwise(0)
        .alias("dup2"),
        F.when(F.col("trigram").isNotNull() & (F.col("cnt3") >= 2), 1)
        .otherwise(0)
        .alias("dup3"),
    )
    cov = gc.select(
        "doc_id",
        "tok",
        "bigram",
        "cnt2",
        F.max("dup2").over(w_pos.rowsBetween(-1, 0)).alias("covered2"),
        F.max("dup3").over(w_pos.rowsBetween(-2, 0)).alias("covered3"),
    )
    per_doc = cov.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.length("tok")).cast("long").alias("tok_chars"),
        F.sum(F.when(F.col("covered2") == 1, F.length("tok")).otherwise(0))
        .cast("long")
        .alias("covered2_chars"),
        F.sum(F.when(F.col("covered3") == 1, F.length("tok")).otherwise(0))
        .cast("long")
        .alias("covered3_chars"),
    )
    top = (
        g.filter(F.col("bigram").isNotNull())
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).cast("long").alias("top2_count"))
        .withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.desc("top2_count"), F.asc("bigram")
                )
            ),
        )
        .filter(F.col("__rn") == 1)
        .select("doc_id", F.col("bigram").alias("top_bigram"), "top2_count")
    )
    return (
        per_doc.join(top, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "tok_chars",
            "covered2_chars",
            "covered3_chars",
            rnd(
                F.col("covered2_chars").cast("double") / F.col("tok_chars"), 6
            ).alias("dup2_char_frac"),
            rnd(
                F.col("covered3_chars").cast("double") / F.col("tok_chars"), 6
            ).alias("dup3_char_frac"),
            F.coalesce("top_bigram", F.lit("")).alias("top_bigram"),
            F.coalesce("top2_count", F.lit(0).cast("long")).alias("top2_count"),
            rnd(
                F.coalesce(
                    F.col("top2_count") * (F.length("top_bigram") - 1), F.lit(0)
                ).cast("double")
                / F.col("tok_chars"),
                6,
            ).alias("top2_char_share"),
            (F.col("covered2_chars") * 4 > F.col("tok_chars")).alias("is_repetitive"),
        )
        .orderBy("doc_id")
    )


def token_entropy_profile(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, token_entropy) — per-doc token-level Shannon
    entropy in bits, the cheap perplexity proxy quality filters use
    (low entropy = repetitive keyword soup, near-log2(n) = no reuse).

    Entropy is computed as ``log2(n) − (Σ c·log2(c))/n`` over per-token
    counts c so the floating-point work is per-DISTINCT-token and the
    accumulation is the decimal-exact ``dsum`` (order-independent,
    oracle-reproducible — each c·log2(c) term is rounded to 6 dp before
    summation, the same per-item discipline as weighted_sample_topk's
    Gumbel keys).

    Scale: explode → two hash aggs, all map-side-combinable; no joins.
    """
    from etl_weather_spark.functions.rounding import dsum
    from etl_weather_spark.operators.dedup import tokens

    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    cnt = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    agg = cnt.groupBy("doc_id").agg(
        dsum(F.col("c").cast("double") * F.log2("c"), 6).alias("__s"),
        F.sum("c").cast("long").alias("n_tokens"),
    )
    ent = rnd(F.log2("n_tokens") - F.col("__s") / F.col("n_tokens"), 6)
    return agg.select("doc_id", "n_tokens", ent.alias("token_entropy"))


def vocab_coverage(docs: DataFrame, *, vocab_k: int = 100 ) -> DataFrame:
    """(doc_id, n_tokens, n_oov, oov_rate) — per-doc out-of-vocabulary
    token share against the corpus's own top-``vocab_k`` token
    vocabulary (frequency desc, token asc tie-break). The tokenizer-fit
    signal: docs full of OOV occurrences fragment into long BPE
    sequences and waste training budget.

    Scale: the vocabulary is an aggregate of the token stream cut to K
    rows — broadcast; the membership probe is a map-side left join, and
    the top-K cut itself is the tiny global sort of an already-reduced
    (distinct tokens) relation.
    """
    from etl_weather_spark.operators.dedup import tokens

    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("__f"))
    vocab = (
        freq.orderBy(F.col("__f").desc(), F.col("t"))
        .limit(vocab_k)
        .select("t", F.lit(True).alias("__in_vocab"))
    )
    probed = tok.join(F.broadcast(vocab), "t", "left")
    out = probed.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
    )
    return out.select(
        "doc_id", "n_tokens", "n_oov",
        rnd(F.col("n_oov") / F.col("n_tokens"), 6).alias("oov_rate"),
    )


def shared_shingle_fraction(docs: DataFrame) -> DataFrame:
    """(doc_id, n_shingles, n_shared, shared_fraction) — the share of a
    doc's DISTINCT word 3-grams that also appear in ≥ 2 docs:
    the boilerplate/near-dup saturation signal C4-style cleaners
    threshold on (a doc made of corpus-common phrasing carries little
    novel text).

    Scale: one shingle explode feeds both the document-frequency agg
    and the per-doc rollup; the df join is keyed on the shingle — the
    same plan shape as the prefix-filter index build.
    """
    from etl_weather_spark.operators.dedup import exploded_shingles

    sh = exploded_shingles(docs, keep_cols=["doc_id"], n=3)
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
    joined = sh.join(dfreq, "sh")
    out = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        F.sum(F.when(F.col("__df") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_shared"),
    )
    return out.select(
        "doc_id", "n_shingles", "n_shared",
        rnd(F.col("n_shared") / F.col("n_shingles"), 6).alias("shared_fraction"),
    )


def unigram_logprob_profile(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, avg_nll) — average per-token negative
    log2-probability under the corpus's OWN unigram LM, the CCNet-style
    perplexity filter: low avg_nll = built from corpus-common tokens,
    high = rare-token heavy (or out-of-domain).

    Determinism: per-(doc, token-type) contribution
    c_d · (log2(total) − log2(c)) is rounded to 6 dp then decimal-summed
    (dsum), so both engines accumulate identically in any order.

    Scale: token explode → two hash aggs + one join keyed on the token
    (the LM side is vocabulary-sized); the corpus total rides as a
    broadcast 1-row cross join, keeping the plan fully lazy.
    """
    from etl_weather_spark.functions.rounding import dsum
    from etl_weather_spark.operators.dedup import tokens

    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    cnt_doc = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c_d"))
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").cast("long").alias("__total"))
    per = F.col("c_d").cast("double") * (F.log2("__total") - F.log2("c"))
    agg = (
        cnt_doc.join(freq, "t")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(dsum(per, 6).alias("__s"), F.sum("c_d").cast("long").alias("n_tokens"))
    )
    return agg.select(
        "doc_id", "n_tokens",
        rnd(F.col("__s") / F.col("n_tokens"), 6).alias("avg_nll"),
    )


def bpe_pair_counts(vocab: DataFrame) -> DataFrame:
    """Frequency-weighted adjacent-pair counts over a BPE vocab.

    ``vocab`` is (syms: array<string>, freq: long) — one row per
    distinct word, symbols are the word's current BPE segmentation.
    Emits (left_sym, right_sym, pair_count). The pair extraction is a
    Catalyst ``transform`` over index positions (no Python), so the
    only shuffle is the pair groupBy — |vocab| rows wide, shrinking
    every merge round.
    """
    pairs = F.when(
        F.size("syms") > 1,
        F.transform(
            F.sequence(F.lit(1), F.size("syms") - 1),
            lambda i: F.struct(
                F.element_at(F.col("syms"), i).alias("left_sym"),
                F.element_at(F.col("syms"), i + 1).alias("right_sym"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<left_sym:string,right_sym:string>>"))
    return (
        vocab.select(F.explode(pairs).alias("p"), "freq")
        .groupBy("p.left_sym", "p.right_sym")
        .agg(F.sum("freq").alias("pair_count"))
    )


def _bpe_fold_literal(syms: Column, left: str, right: str) -> Column:
    """One greedy left-to-right merge of a LITERAL (left, right) pair.

    An ``F.aggregate`` fold over the symbol array: if the accumulator's
    last symbol is ``left`` and the next symbol is ``right``, the tail
    is replaced by the concatenated symbol — exactly the sequential
    scan BPE specifies ("aaaa" under (a,a) becomes [aa, aa], never
    [aa, a, a]). The pair is a driver-side string (the batched trainer
    already collected it), so the merge is a plain projection
    expression, chainable ``batch``-deep in one select.
    """
    merged = left + right
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _bpe_safe_batch(
    pool: list, cap: int, alphabet: set[str], *, pool_complete: bool = False
) -> list[tuple[str, str, int]]:
    """Select a batch of merges provably identical to running them as
    sequential classic-BPE rounds.

    ``pool`` is the ranked (count desc, left, right) head of the pair
    table. The batch is the maximal ranked PREFIX (no skips — skipping
    would let a skipped pair outrank a later batch member mid-sequence)
    such that:

    1. pairs are pairwise non-interacting — symbol sets
       {left, right, left+right} are disjoint, so no batch merge can
       change another batch pair's count;
    2. no merged string is an existing symbol (``alphabet`` is a
       conservative superset of the live symbol set) — otherwise the
       merge could INCREASE a pre-existing pair's count (e.g. merging
       (a,b) when "ab" already exists grows (ab,c) by up to count(b,c)),
       breaking the dominance bound below;
    3. every accepted count beats every possible outsider at its
       sequential round. Any pair outside the batch — untouched,
       decremented, or newly created — stays ≤ the boundary count (the
       count at the first excluded rank) at every intermediate round:
       each occurrence of a new pair maps injectively to an original
       adjacency containing a batch symbol, which is excluded and so
       ranks at or below the boundary. Accepted counts strictly above
       the boundary are therefore always safe. Accepted counts EQUAL to
       the boundary (the "tie tail") are safe too when (a) excluded
       existing rows at that count cannot win — automatic, because pool
       rank order at equal count IS the sequential lexicographic
       tie-break, so every accepted tie pair lex-precedes every excluded
       tie row — and (b) no NEW pair can reach the boundary count, i.e.
       no pool row at exactly the boundary count interacts with an
       accepted pair (new-pair count ≤ its source adjacency's count, and
       sources always contain an accepted symbol) and the pool was not
       truncated mid-tie (unknown rows below could be such sources).

    Rank-0 alone is always exact (it IS classic BPE's next merge), so
    the fallback when the guards strip everything is a 1-pair batch.
    """
    top = (pool[0].left_sym, pool[0].right_sym, pool[0].pair_count)
    if top[0] + top[1] in alphabet:
        return [top]
    accepted = [top]
    used = {top[0], top[1], top[0] + top[1]}
    boundary = None
    stop_idx = len(pool)
    for i, row in enumerate(pool[1:], start=1):
        l, r, c = row.left_sym, row.right_sym, row.pair_count
        m = l + r
        if len(accepted) >= cap or ({l, r, m} & used) or (m in alphabet):
            boundary = c
            stop_idx = i
            break
        accepted.append((l, r, c))
        used |= {l, r, m}
    if boundary is None:
        # prefix exhausted the pool. If the pool was truncated by the
        # LIMIT there are unknown ranks below it, each ≤ the last pool
        # count — use that as the boundary; if the pool IS the whole
        # pair table, nothing ranks below and the guard is vacuous.
        boundary = 0 if pool_complete else pool[-1].pair_count
    if any(t[2] == boundary for t in accepted):
        truncated_mid_tie = (not pool_complete) and pool[-1].pair_count == boundary
        tie_source_interacts = any(
            r.pair_count == boundary
            and ({r.left_sym, r.right_sym, r.left_sym + r.right_sym} & used)
            for r in pool[stop_idx:]
        )
        if truncated_mid_tie or tie_source_interacts:
            accepted = [t for t in accepted if t[2] > boundary]
    return accepted or [top]


def _bpe_rounds(
    vocab: DataFrame,
    n_merges: int,
    *,
    batch_cap: int = 16,
    pool_size: int = 96,
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """Shared batched BPE round loop: (merge table rows, final vocab).

    Production shape (the 32k-merge regime a real tokenizer needs):

    - **one Spark job per ROUND, not per merge** — each round collects a
      bounded ``pool_size``-row head of the pair counts (the only
      driver-side transfer, ≤ pool_size rows), picks up to ``batch_cap``
      merges via :func:`_bpe_safe_batch` (exactly equivalent to that
      many sequential rounds), and applies them as chained literal folds
      in a single projection;
    - **flat lineage** — the vocab is fenced every ``FENCE_EVERY``
      rounds (:mod:`~etl_weather_spark.operators.fence`), so plan depth
      is bounded by FENCE_EVERY × batch_cap regardless of total merges.
    """
    v = vocab
    # conservative superset of the live symbol alphabet, maintained
    # driver-side: seeded once (alphabet-sized collect), grown by each
    # merge; extinct symbols are kept — only makes guard 2 stricter.
    alphabet = {
        r.s for r in v.select(F.explode("syms").alias("s")).distinct().collect()
    }
    merges: list[tuple[int, str, str, str, int]] = []
    rounds = 0
    while len(merges) < n_merges:
        pool = (
            bpe_pair_counts(v)
            .orderBy(F.desc("pair_count"), "left_sym", "right_sym")
            .limit(pool_size)
            .collect()
        )
        if not pool:
            break
        batch = _bpe_safe_batch(
            pool,
            min(batch_cap, n_merges - len(merges)),
            alphabet,
            pool_complete=len(pool) < pool_size,
        )
        syms = F.col("syms")
        for left, right, count in batch:
            merges.append((len(merges) + 1, left, right, left + right, count))
            alphabet.add(left + right)
            syms = _bpe_fold_literal(syms, left, right)
        carry = [c for c in v.columns if c != "syms"]
        v = v.select(syms.alias("syms"), *carry)
        rounds += 1
        if rounds % FENCE_EVERY == 0 and len(merges) < n_merges:
            v = fence(v)
    return merges, v


def bpe_train(vocab: DataFrame, n_merges: int, **round_opts) -> DataFrame:
    """``n_merges`` BPE rounds: (merge_round, left_sym, right_sym,
    merged, pair_count) — the merge-table artifact of tokenizer
    training. Classic BPE runs on the VOCAB (distinct word, freq), not
    the token stream.

    Runs the batched eager engine (:func:`_bpe_rounds`, proven
    against the pure-Python sequential reference in tests): one job
    per ~batch_cap merges, bounded driver transfer, fence-flat
    lineage — the shape that survives 32k merges. The merge table is
    driver-built and returned via an Arrow local table (never a
    Python-RDD scan), so it does not read ``vocab`` once returned.
    """
    import pandas as pd  # noqa: PLC0415 — Arrow local-table build only

    merges, _ = _bpe_rounds(vocab, n_merges, **round_opts)
    pdf = pd.DataFrame(
        merges,
        columns=["merge_round", "left_sym", "right_sym", "merged", "pair_count"],
    )
    return (
        vocab.sparkSession.createDataFrame(pdf)
        .select(
            F.col("merge_round").cast("int"),
            "left_sym",
            "right_sym",
            "merged",
            F.col("pair_count").cast("long"),
        )
        .coalesce(1)
        .orderBy("merge_round")
    )


def bpe_encode_ranked(vocab: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Rank-based BPE ENCODE from a trained merge table — the
    production tokenizer-apply algorithm (what HF-style encoders run):
    per word, repeatedly find the LOWEST-RANK adjacent pair present and
    merge it exhaustively left-to-right, until no table pair applies.

    Provably equivalent to replaying the training merges in rank order
    (:func:`bpe_segment`): a pair, once exhausted within a word, can
    never reappear (merges only concatenate — two tokens separated by a
    third stay separated by its merger), and pairs created by a merge
    contain its output symbol, which no earlier-rank merge references.
    The equivalence is asserted against bpe_segment in tests and
    cross-checked by the DuckDB fold-replay oracle in
    queries.bpe_ranked_encode_stats.

    Scale: the merge table is a driver-side artifact (vocab-budget
    rows — 32k for a production tokenizer) broadcast in the UDF
    closure as a dict; encoding runs once per DISTINCT word
    (vocab-bound, never token-stream-bound) inside one Arrow-batched
    ``mapInPandas`` with per-word cost O(|word| × applied merges) and
    O(1) dict lookups — NOT |merge_table| folds, which is what makes
    32k-merge tables applicable at all. All non-``syms`` columns pass
    through for the encode-side join.
    """
    rank = {(l, r): i for i, (l, r) in enumerate(merges)}
    pairs = list(merges)
    schema = vocab.schema

    def encode(syms: list[str]) -> list[str]:
        while True:
            best = None
            for i in range(len(syms) - 1):
                r = rank.get((syms[i], syms[i + 1]))
                if r is not None and (best is None or r < best):
                    best = r
            if best is None:
                return syms
            left, right = pairs[best]
            merged = left + right
            out: list[str] = []
            for x in syms:
                if out and out[-1] == left and x == right:
                    out[-1] = merged
                else:
                    out.append(x)
            syms = out

    def run(batches):
        import pandas as pd  # noqa: PLC0415 — worker-side import

        for pdf in batches:
            pdf = pdf.copy()
            pdf["syms"] = [encode(list(s)) for s in pdf["syms"]]
            yield pdf

    return vocab.mapInPandas(run, schema=schema)


def bpe_segment(vocab: DataFrame, n_merges: int, **round_opts) -> DataFrame:
    """ENCODE side of BPE: the vocab after ``n_merges`` trained rounds.

    Same engine as :func:`bpe_train` (:func:`_bpe_rounds`), keeping the
    segmented vocab (all non-``syms`` columns pass through) instead of
    the merge table — the tokenizer-apply step. The result is eagerly
    fenced (flat plan), so it no longer reads ``vocab``.
    """
    _, v = _bpe_rounds(vocab, n_merges, **round_opts)
    return fence(v, eager=True)


#: Rae et al. 2021 ("Scaling Language Models: ... Gopher"), Table A1 —
#: the published stop-word presence list for the document-quality rules.
GOPHER_STOPWORDS: list[str] = [
    "the", "be", "to", "of", "and", "that", "have", "with",
]


def gopher_quality_profile(
    docs: DataFrame,
    *,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: int = 3,
    max_mean_word_len: int = 10,
    max_symbol_word_pct: int = 10,
    max_bullet_line_pct: int = 90,
    max_ellipsis_line_pct: int = 30,
    min_alpha_word_pct: int = 80,
    stopwords: list[str] | None = None,
    min_stopwords: int = 2,
) -> DataFrame:
    """The FULL Gopher document-quality composite (Rae et al. 2021,
    Table A1 — the rule half not covered by
    :func:`ngram_repetition_profile`): per document —

    - word count within ``[min_words, max_words]`` (published 50..100k)
    - mean word length within ``[3, 10]`` characters
    - symbol-to-word ratio (``#`` and ``...``) ≤ 10%
    - lines starting with a bullet (``-``/``*``/``•``) ≤ 90%
    - lines ending with an ellipsis ≤ 30%
    - words containing ≥1 alphabetic character ≥ 80%
    - ≥ 2 distinct stop words from the published 8-word list present

    Every threshold comparison is INTEGER arithmetic (``chars ≥ 3·n``,
    ``symbols·100 ≤ pct·n`` …) so the keep decision has no float
    boundary in either engine; the ratio columns are 6-dp display
    values only. ``fail_mask`` is a bitmask (bit i = rule i failed,
    in the order above); ``keep ⇔ fail_mask = 0``.

    Defaults are the PUBLISHED constants. Thresholds and the stop list
    are parameters because production always re-tunes them per corpus
    (and the synthetic test vocabulary contains exactly one of the
    published stop words, making the ≥2 rule unsatisfiable there by
    construction — see queries.gopher_quality_gate_tuned).

    Scale: two doc-keyed explode→partial-agg passes (words, lines) and
    one scan projection (symbols), joined on doc_id — the shuffles are
    all on the same key and bounded by document length; everything is
    whole-stage codegen, no Python.
    """
    stoplist = GOPHER_STOPWORDS if stopwords is None else stopwords
    # NOTE (optimization round 10): an array-function projection form
    # (size/filter/aggregate lambdas, zero shuffles) was measured and
    # REJECTED — Catalyst evaluates higher-order-function lambdas
    # interpreted per element, and the per-token regex lambdas ran 1.3×
    # slower than this explode→codegen-regex→partial-agg form at sf0.1
    # (0.83 s vs 1.10 s A/B on the same session). The explode shuffles
    # only (doc_id, small-int partial aggs) thanks to map-side partial
    # aggregation, so this form also scales.
    toks = (
        docs.select(
            "doc_id", F.explode(F.split(text_col, r"\s+")).alias("tok0")
        )
        .filter(F.col("tok0") != "")
        .select("doc_id", F.lower(F.col("tok0")).alias("tok"))
    )
    words = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(F.length("tok")).cast("long").alias("word_chars"),
        F.sum(F.when(F.col("tok").rlike("[a-z]"), 1).otherwise(0))
        .cast("long")
        .alias("alpha_words"),
        F.count_distinct(
            F.when(F.col("tok").isin(stoplist), F.col("tok"))
        )
        .cast("long")
        .alias("n_stopwords"),
    )
    lines = docs.select(
        "doc_id", F.explode(F.split(text_col, "\n")).alias("line")
    )
    linestats = lines.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.when(F.col("line").rlike(r"^\s*[-*•]"), 1).otherwise(0))
        .cast("long")
        .alias("bullet_lines"),
        F.sum(
            F.when(F.col("line").rlike(r"(\.\.\.|…)\s*$"), 1).otherwise(0)
        )
        .cast("long")
        .alias("ellipsis_lines"),
    )
    sym = docs.select(
        "doc_id",
        (
            F.regexp_count(text_col, F.lit("#"))
            + F.regexp_count(text_col, F.lit(r"\.\.\."))
        )
        .cast("long")
        .alias("n_symbols"),
    )
    base = (
        docs.select("doc_id")
        .join(words, "doc_id", "left")
        .join(linestats, "doc_id", "left")
        .join(sym, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.coalesce("word_chars", F.lit(0)).alias("word_chars"),
            F.coalesce("alpha_words", F.lit(0)).alias("alpha_words"),
            F.coalesce("n_stopwords", F.lit(0)).alias("n_stopwords"),
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.coalesce("bullet_lines", F.lit(0)).alias("bullet_lines"),
            F.coalesce("ellipsis_lines", F.lit(0)).alias("ellipsis_lines"),
            F.coalesce("n_symbols", F.lit(0)).alias("n_symbols"),
        )
    )
    n, wc = F.col("n_words"), F.col("word_chars")
    fails = [
        (n < min_words) | (n > max_words),
        ~((wc >= min_mean_word_len * n) & (wc <= max_mean_word_len * n)),
        F.col("n_symbols") * 100 > max_symbol_word_pct * n,
        F.col("bullet_lines") * 100 > max_bullet_line_pct * F.col("n_lines"),
        F.col("ellipsis_lines") * 100
        > max_ellipsis_line_pct * F.col("n_lines"),
        F.col("alpha_words") * 100 < min_alpha_word_pct * n,
        F.col("n_stopwords") < min_stopwords,
    ]
    mask = sum(
        (F.when(cond, F.lit(1 << i)).otherwise(0) for i, cond in enumerate(fails)),
        start=F.lit(0),
    ).cast("long")
    nz = F.greatest(n, F.lit(1)).cast("double")
    lz = F.greatest(F.col("n_lines"), F.lit(1)).cast("double")
    return base.select(
        "doc_id",
        "n_words",
        "n_lines",
        rnd(wc / nz, 6).alias("mean_word_len6"),
        rnd(F.col("n_symbols") / nz, 6).alias("symbol_ratio6"),
        rnd(F.col("bullet_lines") / lz, 6).alias("bullet_line_frac6"),
        rnd(F.col("ellipsis_lines") / lz, 6).alias("ellipsis_line_frac6"),
        rnd(F.col("alpha_words") / nz, 6).alias("alpha_word_frac6"),
        "n_stopwords",
        mask.alias("fail_mask"),
        (mask == 0).alias("keep"),
    ).orderBy("doc_id")
