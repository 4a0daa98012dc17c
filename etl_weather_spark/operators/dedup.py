"""Deduplication operators for large-scale training-data pipelines.

Four families, all designed so the shuffle payload stays tiny relative to
document size (the 100 TB rule: never shuffle document bodies when a
fingerprint will do):

- :func:`exact_dedup` — group on a 128-bit content fingerprint.
- :func:`minhash_signatures` / :func:`minhash_lsh_pairs` — MinHash + LSH
  banding: shingle → H independent min-hashes per doc → band buckets →
  candidate pairs only within buckets (no O(n²) pairwise scan).
- :func:`simhash64` — 64-bit SimHash per doc via xxhash64 bit-votes.
- :func:`ngram_jaccard_pairs` — exact n-gram Jaccard via shingle
  explode + self-join on shingle (blocked, no cross join).

Hashing strategy: production paths use ``xxhash64`` (JVM built-in, fast).
``hash_family='md5'`` switches to md5-hex string mins — slower but
byte-portable across engines, used by the oracle-checked queries so
DuckDB can reproduce signatures exactly.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_weather_spark.functions.text import doc_fingerprint
from etl_weather_spark.operators.fence import fence, persisted


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Keep one doc per exact (normalized) content; returns survivors.

    Shuffle carries (fingerprint, id) — 40 bytes/doc regardless of size.
    """
    fp = docs.select(F.col("doc_id"), doc_fingerprint(F.col("text")).alias("fingerprint"))
    keep = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    return docs.join(keep, on="doc_id", how="leftsemi")


def tokens(text: Column) -> Column:
    """Whitespace tokens of normalized lowercase text."""
    return F.split(F.lower(F.regexp_replace(F.trim(text), r"\s+", " ")), " ")


def shingles(text: Column, n: int = 2) -> Column:
    """Word n-gram shingles as an array of strings (distinct not enforced).

    PERF: ``text`` should be a plain column REFERENCE to an
    already-materialized token array's source, not a heavy expression —
    anything passed here is inlined into a per-element lambda by
    CollapseProject and re-evaluated per shingle. Use
    :func:`exploded_shingles` for DataFrame-level callers; it inserts
    the projection boundary that keeps tokenization once-per-row
    (measured 19× on 20k docs).
    """
    toks = tokens(text)
    if n <= 1:
        return toks
    return shingles_of_tokens(toks, n)


def shingles_of_tokens(toks: Column, n: int = 2) -> Column:
    """Shingles from a token-array column (pass a column reference)."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.when(F.size(toks) >= n, F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)])
    )).otherwise(F.array(F.concat_ws(" ", toks)))


def widen_narrow_input(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition when the input arrives narrower than the
    cluster: a single 70 MB parquet file is ONE split, which serializes
    every CPU-bound stage (shingling, hashing, Arrow UDFs) behind one
    core. The shuffle moves the raw rows once and unlocks full-width
    execution. No-op at scale — big inputs already arrive wide — so this
    only fires on the small-file layouts where it matters.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 2 <= target:
        return df.repartition(target, *map(F.col, cols)) if cols else df.repartition(target)
    return df


def exploded_shingles(
    docs: DataFrame, *, text_col: str, keep_cols: list[str], n: int = 2
) -> DataFrame:
    """(keep_cols..., sh) — one row per distinct shingle per doc.

    Tokenizes in its OWN projection so the Generate consumes a bound
    array column: without the boundary, Catalyst inlines the
    regex+split into the shingle lambda and re-runs it per element.
    """
    docs = widen_narrow_input(docs, *keep_cols)
    toked = docs.select(*keep_cols, tokens(F.col(text_col)).alias("__toks"))
    return toked.select(
        *keep_cols,
        F.explode(F.array_distinct(shingles_of_tokens(F.col("__toks"), n))).alias("sh"),
    )


def _hash_expr(shingle: Column, seed: int, family: str) -> Column:
    if family == "md5":
        # engine-portable: md5 of seeded string; MIN over hex strings is a
        # valid min-hash (hash order = random permutation)
        return F.md5(F.concat(F.lit(f"{seed}|"), shingle))
    # fast path: 64-bit xxhash with per-function seed
    return F.xxhash64(shingle, F.lit(seed))


def minhash_signatures(
    docs: DataFrame,
    *,
    num_hashes: int = 8,
    shingle_n: int = 2,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Per-doc MinHash signature: columns ``s0..s{H-1}``.

    One explode + one groupBy(doc): the shuffle carries
    (doc_id, shingle-hash) pairs; signatures are H mins computed
    map-side-partially. At 100 TB, H mins per doc ≈ H*8 bytes/doc state.
    """
    sh = exploded_shingles(
        docs, text_col="text", keep_cols=["doc_id"], n=shingle_n
    )
    aggs = [
        F.min(_hash_expr(F.col("sh"), i, hash_family)).alias(f"s{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(
    docs: DataFrame,
    *,
    num_hashes: int = 8,
    shingle_n: int = 2,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b) with estimated Jaccard similarity.

    Signature → 4 bands of ``num_hashes/4`` rows each; docs
    sharing any band bucket become candidates. The self-join keys on
    (band_index, band_value), so comparisons happen only inside buckets —
    the scalable alternative to an O(n²) cross join. Estimated similarity
    = fraction of matching signature components.

    Scale: the signature (the expensive part — tokenize + shingle
    explode + H-way min agg) is computed ONCE and carried through the
    banding as a single ``array<>`` column (~H·8 bytes/doc), never as H
    separate columns. Buckets are expanded to pairs from COLLECTED
    posting lists (one groupBy per (band, bucket)) rather than a
    bucket-keyed self-join: a self-join consumes the bucket table
    twice, and Spark re-runs the whole signature subtree per consumer
    (branched subtrees only share identical exchanges, and each join
    side projects differently — measured ~2x the query). The estimate
    is computed per pair inside the posting-list expansion, so the
    final dedup is a distinct over three narrow columns. Every bucket
    expands (exact LSH semantics).

    Operating point (recall is probabilistic per pair): with b bands of
    r rows, P(candidate | sig-Jaccard s) = 1-(1-s^r)^b. The default
    16-hash/4x4 layout gives ~99.7% at s=0.9 (where near-copies sit on
    word-2-shingles) while keeping s=0.3 noise pairs under 4% — the
    downstream exact verify disposes those for free, so the only real
    cost of a looser band layout is candidate volume, and the only loss
    of a tighter one is recall (measured: 100% of true trigram-J>=0.5
    pairs at sf0.001-0.1; 2557/2560 on a 10x salted corpus,
    scripts/bench_scale.py).
    """
    rows_per_band = num_hashes // 4
    assert rows_per_band * 4 == num_hashes
    sig = minhash_signatures(
        docs, num_hashes=num_hashes, shingle_n=shingle_n, hash_family=hash_family
    )
    band_cols = [
        F.concat_ws("#", *[F.col(f"s{b * rows_per_band + r}").cast("string") for r in range(rows_per_band)]).alias(f"b{b}")
        for b in range(4)
    ]
    buckets = sig.select(
        "doc_id",
        F.array(*[F.col(f"s{i}") for i in range(num_hashes)]).alias("sig"),
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(b) for b in range(4)]).alias("band"),
                F.array(*band_cols).alias("bucket"),
            )
        ).alias("bb"),
    ).select(
        "doc_id",
        "sig",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )

    posting = (
        buckets.groupBy("band", "bucket")
        .agg(F.collect_list(F.struct(F.col("doc_id").alias("id"), F.col("sig").alias("sig"))).alias("members"))
        .filter(F.size("members") >= 2)
    )
    # ids are unique, so sorting the structs orders by id (first field);
    # expansion emits each in-bucket pair once with id_a < id_b
    members = F.array_sort("members")

    def est(x, y):
        matches = F.aggregate(
            F.zip_with(x["sig"], y["sig"], lambda u, v: F.when(u == v, 1).otherwise(0)),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        return matches / F.lit(float(num_hashes))

    pair_structs = F.flatten(
        F.transform(
            members,
            lambda x, i: F.transform(
                F.slice(members, i + F.lit(2), F.size(members)),
                lambda y: F.struct(
                    x["id"].alias("id_a"), y["id"].alias("id_b"),
                    est(x, y).alias("est_jaccard"),
                ),
            ),
        )
    )
    return (
        posting.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b", "p.est_jaccard")
        .distinct()
    )


def minhash_lsh_cross_pairs(
    index_docs: DataFrame,
    new_docs: DataFrame,
    *,
    bands: int = 4,
) -> DataFrame:
    """Incremental-dedup candidates: (index_id, new_id) pairs where a
    NEW document shares an LSH band bucket with an already-INDEXED
    document — the continuous-ingestion shape of MinHash dedup (a new
    batch is screened against the standing corpus without re-pairing
    the corpus with itself).

    Scale: in production the index side's signatures are precomputed
    and stored (they are pure functions of the text, so the sig table
    is append-only); this operator recomputes them from text so the
    pipeline is self-contained. The two sides are signed in ONE pass
    over a side-tagged union — never as two branches filtering a shared
    subtree, which Spark would evaluate once per branch — and bucket
    membership is expanded from per-bucket posting lists (single
    consumer, same rationale as :func:`minhash_lsh_pairs`): each
    bucket's index-side and new-side member arrays cross, so only
    cross-side pairs ever materialize; intra-corpus and intra-batch
    pairs (other queries' jobs) cost nothing here. Signatures are 16
    xxhash64 minhashes over word-2-shingles.
    """
    rows_per_band = 16 // bands
    assert rows_per_band * bands == 16
    tagged = (
        index_docs.select(F.col("doc_id"), F.col("text"))
        .withColumn("__side", F.lit(0))
        .unionByName(
            new_docs.select(F.col("doc_id"), F.col("text")).withColumn("__side", F.lit(1))
        )
    )
    sh = exploded_shingles(tagged, text_col="text", keep_cols=["doc_id", "__side"], n=2)
    aggs = [
        F.min(_hash_expr(F.col("sh"), i, "xxhash64")).alias(f"s{i}")
        for i in range(16)
    ]
    sig = sh.groupBy("doc_id", "__side").agg(*aggs)
    band_cols = [
        F.concat_ws(
            "#", *[F.col(f"s{b * rows_per_band + r}").cast("string") for r in range(rows_per_band)]
        ).alias(f"b{b}")
        for b in range(bands)
    ]
    buckets = sig.select(
        "doc_id",
        "__side",
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(b) for b in range(bands)]).alias("band"),
                F.array(*band_cols).alias("bucket"),
            )
        ).alias("bb"),
    ).select("doc_id", "__side", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    posting = buckets.groupBy("band", "bucket").agg(
        F.collect_list(F.struct(F.col("doc_id").alias("id"), F.col("__side").alias("side"))).alias(
            "members"
        )
    )
    idx_ids = F.transform(
        F.filter(F.col("members"), lambda m: m["side"] == 0), lambda m: m["id"]
    )
    new_ids = F.transform(
        F.filter(F.col("members"), lambda m: m["side"] == 1), lambda m: m["id"]
    )
    cross = F.flatten(
        F.transform(
            idx_ids,
            lambda x: F.transform(new_ids, lambda y: F.struct(x.alias("index_id"), y.alias("new_id"))),
        )
    )
    return (
        posting.select(F.explode(cross).alias("p"))
        .select("p.index_id", "p.new_id")
        .distinct()
    )


def minhash_sig_table(docs: DataFrame, *, num_hashes: int = 16) -> DataFrame:
    """(id, sig) rows for a PERSISTED signature index — ``sig`` is one
    array column of xxhash64 minhashes (longs), the storable form
    of the MinHash index an incremental dedup pipeline appends to: the
    signature is a pure function of the text, so the index table is
    append-only and never recomputed for already-ingested documents.
    """
    sig = minhash_signatures(docs, num_hashes=num_hashes)
    return sig.select(
        F.col("doc_id"), F.array(*[F.col(f"s{i}") for i in range(num_hashes)]).alias("sig")
    )


def lsh_band_buckets_from_sigs(sigs: DataFrame, *, bands: int) -> DataFrame:
    """(id, band, bucket) from a stored signature-array table."""
    # rows-per-band derives from the array length per row (constant by
    # construction), so no driver action is needed to read the width
    band_idx = F.explode(F.sequence(F.lit(0), F.lit(bands - 1)))
    rows_per_band = (F.size("sig") / bands).cast("int")
    exploded = sigs.select(F.col("doc_id"), F.col("sig"), band_idx.alias("band"))
    bucket = F.concat_ws(
        "#",
        F.transform(
            F.slice(
                F.col("sig"), F.col("band") * rows_per_band + 1, rows_per_band
            ),
            lambda v: v.cast("string"),
        ),
    )
    return exploded.select("doc_id", "band", bucket.alias("bucket"))


def screen_against_sig_index(
    index_sigs: DataFrame,
    new_sigs: DataFrame,
    *,
    bands: int,
) -> DataFrame:
    """(index_id, new_id) LSH candidates of a new batch against a STORED
    signature index — the steady-state loop of incremental dedup: the
    index side is a parquet scan of previously-committed signatures
    (nothing re-hashed), only the new batch is signed.

    Scale: both banded sides are narrow (id, band, bucket) rows; the
    join keys on (band, bucket) and the new batch is the small side —
    AQE broadcasts it at runtime, so the standing index is never
    shuffled. Each side is consumed exactly once (two independent
    subtrees, not branches of a shared plan), so no double-evaluation.
    """
    ib = lsh_band_buckets_from_sigs(index_sigs, bands=bands)
    nb = lsh_band_buckets_from_sigs(new_sigs, bands=bands)
    return (
        ib.select("band", "bucket", F.col("doc_id").alias("index_id"))
        .join(
            nb.select("band", "bucket", F.col("doc_id").alias("new_id")),
            ["band", "bucket"],
        )
        .select("index_id", "new_id")
        .distinct()
    )


def simhash64(docs: DataFrame) -> DataFrame:
    """64-bit SimHash per document (near-dup fingerprint).

    Each token votes its xxhash64 bits; the signature's bit i is the
    sign of the vote sum. Implemented as explode → per-bit conditional
    sums → bit reassembly, all JVM-side (no UDF).
    """
    def bit_mask(i: int):
        # bit 63 as two's-complement: 1<<63 overflows a signed long literal
        return F.lit(1 << i if i < 63 else -(1 << 63))

    tok = widen_narrow_input(docs, "doc_id").select(
        F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("tok")
    )
    h = F.xxhash64("tok")
    bit_votes = [
        F.sum(F.when(h.bitwiseAND(bit_mask(i)) != 0, 1).otherwise(-1)).alias(f"v{i}")
        for i in range(64)
    ]
    votes = tok.groupBy("doc_id").agg(*bit_votes)
    sig = None
    for i in range(64):
        bit = F.when(F.col(f"v{i}") > 0, bit_mask(i)).otherwise(F.lit(0))
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return votes.select(F.col("doc_id"), sig.alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures via bit_count(xor)."""
    return F.bit_count(a.bitwiseXOR(b))


#: hex-nibble lookup used by the portable simhash (both engines 1-index)
_HEX = "0123456789abcdef"


def _md5_bit_sql(b: int) -> str:
    """Portable SQL for bit ``b`` (0..63) of an md5 hex digest: nibble
    ``b//4`` decoded via an instr lookup, masked with ``1 << (b % 4)``.
    Only uses substr/instr/& — identical semantics in Spark SQL and
    DuckDB, so the SAME text runs on both engines."""
    return (
        f"((instr('{_HEX}', substr(h, {b // 4 + 1}, 1)) - 1)"
        f" & {1 << (b % 4)}) != 0"
    )


def simhash64_portable(docs: DataFrame) -> DataFrame:
    """Engine-portable SimHash: identical bits in Spark and DuckDB.

    Same algorithm as :func:`simhash64` (per-token bit votes, sign of
    the sum) but the token hash is md5 — deterministic across engines —
    instead of Spark's xxhash64, which lets a SQL oracle reproduce the
    signature bit-for-bit. One md5 per token; the 64 bit-votes read
    nibbles of that single digest (no per-bit hashing, no row
    explosion). Output: (id, sig_hi, sig_lo) — two 32-bit halves, so no
    signed-64 overflow games in either engine.

    Production uses :func:`simhash64` (JVM xxhash64, no hex-string
    materialization); this twin exists for verification, the same
    md5/xxhash64 split as minhash_lsh vs minhash_lsh_fast.
    """
    tok = widen_narrow_input(docs, "doc_id").select(
        F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("tok")
    )
    hashed = tok.select("doc_id", F.md5("tok").alias("h"))
    # NOTE (optimization round 10): pre-decoding the 16 digest nibbles
    # into int columns before the aggregate was measured SLOWER than
    # evaluating _md5_bit_sql inline in the vote conditions (1.32 s vs
    # 1.09 s at sf0.1 — the extra projection materializes a 16-column
    # row the aggregate then consumes, while the inline form keeps one
    # string column flowing through a single codegen stage); kept as-is.
    votes = [
        F.sum(
            F.when(F.expr(_md5_bit_sql(b)), 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(64)
    ]
    per_doc = hashed.groupBy("doc_id").agg(*votes)
    hi = None
    lo = None
    for b in range(64):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(1 << (b % 32)).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        if b < 32:
            lo = bit if lo is None else lo + bit
        else:
            hi = bit if hi is None else hi + bit
    return per_doc.select(F.col("doc_id"), hi.alias("sig_hi"), lo.alias("sig_lo"))


def _simhash_votes_kernel():
    """Arrow kernel for the portable SimHash: one token ARRAY in,
    struct(sig_hi, sig_lo) out — md5 via hashlib (same digest bytes the
    JVM's md5() hexes), the 64 nibble-decoded bit-votes vectorized in
    numpy exactly as :func:`_md5_bit_sql` reads them (hex char b//4,
    mask 1 << (b%4)), per-doc ±1 vote sums via np.add.reduceat.
    Integer math end-to-end, so the signature longs are bit-identical
    to the aggregate form's by construction (pinned in
    tests/test_kernel_parity.py over adversarial and corpus inputs)."""
    import hashlib

    from pyspark.sql.functions import pandas_udf

    shifts4 = np.arange(4, dtype=np.uint8)[None, None, :]
    w32 = 1 << np.arange(32, dtype=np.int64)

    @pandas_udf("struct<sig_hi:bigint,sig_lo:bigint>")
    def kernel(toks: pd.Series) -> pd.DataFrame:
        lens = np.fromiter(
            (len(a) for a in toks), dtype=np.int64, count=len(toks)
        )
        total = int(lens.sum())
        md5 = hashlib.md5
        # _md5_bit_sql reads hex chars 1..16 only = the FIRST 8 digest
        # bytes (bit b lives in hex char b//4, 0-indexed 0..15)
        buf = bytearray(total * 8)
        pos = 0
        for arr in toks:
            for t in arr:
                buf[pos : pos + 8] = md5(t.encode("utf-8")).digest()[:8]
                pos += 8
        votes = np.zeros((len(toks), 64), dtype=np.int64)
        if total:
            raw = np.frombuffer(bytes(buf), dtype=np.uint8).reshape(-1, 8)
            nib = np.empty((raw.shape[0], 16), dtype=np.uint8)
            nib[:, 0::2] = raw >> 4  # hexdigest char 2k = high nibble
            nib[:, 1::2] = raw & 15  # hexdigest char 2k+1 = low nibble
            bits = ((nib[:, :, None] >> shifts4) & 1).reshape(-1, 64)
            pm1 = 2 * bits.astype(np.int64) - 1
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            nz = lens > 0
            if nz.all():
                votes = np.add.reduceat(pm1, starts, axis=0)
            else:
                # reduceat misreads zero-length segments; tokens() never
                # yields one (split always returns >= 1 element), but
                # stay exact if a caller ever feeds empty arrays
                votes[nz] = np.add.reduceat(pm1, starts[nz], axis=0)
        sig = votes > 0
        lo = (sig[:, :32] * w32).sum(axis=1)
        hi = (sig[:, 32:] * w32).sum(axis=1)
        return pd.DataFrame({"sig_hi": hi, "sig_lo": lo})

    return kernel


def simhash64_portable_kernel(docs: DataFrame) -> DataFrame:
    """:func:`simhash64_portable` computed by the Arrow votes kernel:
    identical (id, sig_hi, sig_lo) longs, but as ONE ArrowEvalPython
    projection over the Catalyst-tokenized array — no token explode, no
    doc-keyed exchange of 64 vote columns, no 64-sum codegen aggregate
    (guide §4.2, the round-10 exact-fold shape). Tokenization stays the
    shared Catalyst :func:`tokens` expression, so split semantics cannot
    drift from the aggregate form or the oracle.

    Docs whose token array is NULL are dropped, mirroring the aggregate
    form (explode of a NULL array emits no rows, so groupBy never sees
    the doc)."""
    base = (
        widen_narrow_input(docs, "doc_id")
        .select(F.col("doc_id"), tokens(F.col("text")).alias("__toks"))
        .filter(F.col("__toks").isNotNull())
    )
    kernel = _simhash_votes_kernel()
    return base.select(F.col("doc_id"), kernel("__toks").alias("__s")).select(
        F.col("doc_id"),
        F.col("__s.sig_hi").alias("sig_hi"),
        F.col("__s.sig_lo").alias("sig_lo"),
    )


def simhash_band_candidates(
    sigs: DataFrame,
    *,
    id_col: str = "doc_id",
    hot_band_cap: int | None = None,
) -> DataFrame:
    """Candidate (id_a, id_b) pairs from 16-bit pigeonhole banding,
    with an optional RECALL-LOSSLESS hot-band refinement.

    Plain path: equi-join docs on (band_index, band_value); any pair
    within hamming ≤ 3 shares at least one of the 4 bands (pigeonhole).

    ``hot_band_cap``: a band value shared by f docs expands to f²/2
    candidate rows. For true near-dup clusters that expansion IS the
    answer, but an adversarial corpus (shared boilerplate dominating
    one band while documents differ everywhere else) concentrates one
    bucket with ~0 surviving pairs. Buckets with f > hot_band_cap are
    therefore re-banded instead of pair-expanded: their members agree
    on band b already, so a qualifying pair's ≤ 3 differing bits all
    lie in the OTHER 48 bits — split those into 4 disjoint 12-bit
    sub-bands and by the same pigeonhole at least one sub-band is
    identical. The hot bucket's expansion becomes an equi-join on
    (b, v, sub_band, sub_value): boilerplate-only agreement scatters
    across 2¹² sub-values and collapses, while every true ≤ 3-hamming
    pair is still found — zero recall loss, proven against the
    brute-force oracle in tests. (Still-hot SUB-buckets are docs
    agreeing on 28+ bits — either genuine dup clusters, where the
    quadratic output is the answer, or a deeper adversarial regime
    Manku et al. handle with more tables; one refinement level matches
    their finite table budget.)
    """
    v_exprs = [
        F.expr("shiftright(sig_lo, 0) & 65535").cast("long").alias("v0"),
        F.expr("shiftright(sig_lo, 16) & 65535").cast("long").alias("v1"),
        F.expr("shiftright(sig_hi, 0) & 65535").cast("long").alias("v2"),
        F.expr("shiftright(sig_hi, 16) & 65535").cast("long").alias("v3"),
    ]
    band_structs = [
        F.struct(F.lit(b).alias("b"), F.col(f"v{b}").alias("v")) for b in range(4)
    ]
    bands = sigs.select(F.col(id_col), *v_exprs).select(
        F.col(id_col),
        "v0",
        "v1",
        "v2",
        "v3",
        F.explode(F.array(*band_structs)).alias("bv"),
    ).select(F.col(id_col), "v0", "v1", "v2", "v3", "bv.b", "bv.v")

    def pair_join(rows: DataFrame, keys: list[str]) -> DataFrame:
        return (
            rows.alias("x")
            .join(rows.alias("y"), keys)
            .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
            .select(
                F.col(f"x.{id_col}").alias("id_a"),
                F.col(f"y.{id_col}").alias("id_b"),
            )
        )

    if hot_band_cap is None:
        cand = pair_join(bands.select(id_col, "b", "v"), ["b", "v"])
    else:
        # bucket sizes via agg + BROADCAST join back: the (b, v) key
        # space is structurally bounded at 4 × 2^16 = 262k rows at ANY
        # corpus size, so the size table always broadcasts — no extra
        # full shuffle of the bands table (a Window.partitionBy count
        # would sort-shuffle every row)
        freq = bands.groupBy("b", "v").agg(F.count(F.lit(1)).alias("f"))
        sized = bands.join(F.broadcast(freq), ["b", "v"])
        cold = sized.filter(F.col("f") <= hot_band_cap).select(id_col, "b", "v")
        # pack the three non-hot 16-bit bands into one 48-bit value,
        # then slice it into 4 disjoint 12-bit sub-bands
        rem = F.expr(
            "CASE b WHEN 0 THEN v1 | shiftleft(v2, 16) | shiftleft(v3, 32) "
            "WHEN 1 THEN v0 | shiftleft(v2, 16) | shiftleft(v3, 32) "
            "WHEN 2 THEN v0 | shiftleft(v1, 16) | shiftleft(v3, 32) "
            "ELSE v0 | shiftleft(v1, 16) | shiftleft(v2, 32) END"
        )
        sub_structs = [
            F.struct(
                F.lit(j).alias("sb"),
                F.expr(f"shiftright(__rem, {12 * j}) & 4095").alias("sv"),
            )
            for j in range(4)
        ]
        hot = (
            sized.filter(F.col("f") > hot_band_cap)
            .withColumn("__rem", rem)
            .select(F.col(id_col), "b", "v", F.explode(F.array(*sub_structs)).alias("s"))
            .select(F.col(id_col), "b", "v", "s.sb", "s.sv")
        )
        cand = pair_join(cold, ["b", "v"]).unionByName(
            pair_join(hot, ["b", "v", "sb", "sv"])
        )
    return cand.distinct()


def simhash_band_pairs(
    sigs: DataFrame,
    *,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    hot_band_cap: int | None = None,
) -> DataFrame:
    """SimHash near-dup PAIRS via pigeonhole banding (Manku, Jain &
    Sarma, "Detecting Near-Duplicates for Web Crawling", WWW 2007 —
    Google's web-scale simhash dedup): split the 64-bit signature into
    4 disjoint 16-bit bands; two signatures within hamming distance
    ``max_hamming`` ≤ 3 differ in at most 3 bit positions, so by
    pigeonhole at least one band is IDENTICAL — an equi-join on
    (band_index, band_value) finds every such pair with zero recall
    loss, then one bit_count(xor) filter verifies the exact distance.

    Input: (id, sig_hi, sig_lo) — the two 32-bit signature halves
    (from :func:`simhash64_portable`, or any producer of the same
    shape). Output: (id_a, id_b, hamming), id_a < id_b.

    Scale: the candidate join is an equi-join on a 16-bit band key —
    shuffle-native, no similarity scan. ``hot_band_cap`` bounds the
    adversarial boilerplate regime by recall-losslessly re-banding hot
    buckets (see :func:`simhash_band_candidates`).
    """
    if not 0 <= max_hamming <= 3:
        raise ValueError(
            f"max_hamming={max_hamming}: the 4-band pigeonhole guarantee "
            "only holds for 0 <= max_hamming <= 3 (4+ differing bits can "
            "touch every band); use wider banding, not a larger threshold"
        )
    cand = simhash_band_candidates(sigs, id_col=id_col, hot_band_cap=hot_band_cap)
    s_a = sigs.select(
        F.col(id_col).alias("id_a"),
        F.col("sig_hi").alias("hi_a"),
        F.col("sig_lo").alias("lo_a"),
    )
    s_b = sigs.select(
        F.col(id_col).alias("id_b"),
        F.col("sig_hi").alias("hi_b"),
        F.col("sig_lo").alias("lo_b"),
    )
    hamming = (
        F.bit_count(F.expr("lo_a ^ lo_b")) + F.bit_count(F.expr("hi_a ^ hi_b"))
    ).cast("int")
    return (
        cand.join(s_a, "id_a")
        .join(s_b, "id_b")
        .select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_cross_pairs(
    index_sigs: DataFrame,
    new_sigs: DataFrame,
    *,
    id_col: str = "doc_id",
    index_id: str = "index_id",
    new_id: str = "new_id",
    max_hamming: int = 3,
    hot_band_cap: int | None = None,
) -> DataFrame:
    """CROSS-side simhash banding: near-dup pairs between a standing
    signature index and a new batch — the incremental form of
    :func:`simhash_band_pairs` (same 4×16-bit pigeonhole, same
    hamming ≤ 3 guarantee), keyed so only index×new candidates are
    generated, never index×index. Output: (index_id, new_id, hamming).

    Scale: both sides shuffle once on the 16-bit (band, value) key with
    the batch as the small side; a boilerplate-hot band on the INDEX
    side multiplies candidates by the batch's share of that bucket only
    (f_index × f_new, not f²/2). ``hot_band_cap`` applies the same
    recall-lossless sub-band refinement as
    :func:`simhash_band_candidates` to buckets whose INDEX-side size
    exceeds the cap: a qualifying cross pair shares the hot band, so
    its ≤ 3 differing bits lie in the other 48 — re-banding BOTH sides
    of the hot bucket on 4 disjoint 12-bit sub-bands keeps every such
    pair (pigeonhole) while boilerplate-only agreement scatters.
    """
    if not 0 <= max_hamming <= 3:
        raise ValueError(
            f"max_hamming={max_hamming}: the 4-band pigeonhole guarantee "
            "only holds for 0 <= max_hamming <= 3"
        )

    v_exprs = [
        F.expr("shiftright(sig_lo, 0) & 65535").cast("long").alias("v0"),
        F.expr("shiftright(sig_lo, 16) & 65535").cast("long").alias("v1"),
        F.expr("shiftright(sig_hi, 0) & 65535").cast("long").alias("v2"),
        F.expr("shiftright(sig_hi, 16) & 65535").cast("long").alias("v3"),
    ]
    band_structs = [
        F.struct(F.lit(b).alias("b"), F.col(f"v{b}").alias("v")) for b in range(4)
    ]

    def bands(df: DataFrame, out_id: str, hi: str, lo: str) -> DataFrame:
        return (
            df.select(
                F.col(id_col).alias(out_id),
                F.col("sig_hi").alias(hi),
                F.col("sig_lo").alias(lo),
                *v_exprs,
            )
            .select(
                out_id, hi, lo, "v0", "v1", "v2", "v3",
                F.explode(F.array(*band_structs)).alias("bv"),
            )
            .select(out_id, hi, lo, "v0", "v1", "v2", "v3", "bv.b", "bv.v")
        )

    def sub_banded(rows: DataFrame) -> DataFrame:
        rem = F.expr(
            "CASE b WHEN 0 THEN v1 | shiftleft(v2, 16) | shiftleft(v3, 32) "
            "WHEN 1 THEN v0 | shiftleft(v2, 16) | shiftleft(v3, 32) "
            "WHEN 2 THEN v0 | shiftleft(v1, 16) | shiftleft(v3, 32) "
            "ELSE v0 | shiftleft(v1, 16) | shiftleft(v2, 32) END"
        )
        sub_structs = [
            F.struct(
                F.lit(j).alias("sb"),
                F.expr(f"shiftright(__rem, {12 * j}) & 4095").alias("sv"),
            )
            for j in range(4)
        ]
        keep = [c for c in rows.columns if c not in ("v0", "v1", "v2", "v3")]
        return (
            rows.withColumn("__rem", rem)
            .select(*keep, F.explode(F.array(*sub_structs)).alias("s"))
            .select(*keep, "s.sb", "s.sv")
        )

    bx = bands(index_sigs, index_id, "hi_a", "lo_a")
    by = bands(new_sigs, new_id, "hi_b", "lo_b")
    hamming = (
        F.bit_count(F.expr("lo_a ^ lo_b")) + F.bit_count(F.expr("hi_a ^ hi_b"))
    ).cast("int")

    if hot_band_cap is None:
        cand = bx.join(by, ["b", "v"])
    else:
        # hotness is judged on the INDEX side (the unbounded one): the
        # (b, v) key space is ≤ 4 × 2^16 rows, so the size table always
        # broadcasts
        freq = bx.groupBy("b", "v").agg(F.count(F.lit(1)).alias("f"))
        bx_sized = bx.join(F.broadcast(freq), ["b", "v"])
        by_sized = by.join(
            F.broadcast(freq), ["b", "v"], "left"
        ).withColumn("f", F.coalesce(F.col("f"), F.lit(0)))
        vcols = ["f", "v0", "v1", "v2", "v3"]
        cold = bx_sized.filter(F.col("f") <= hot_band_cap).drop(*vcols).join(
            by_sized.filter(F.col("f") <= hot_band_cap).drop(*vcols), ["b", "v"]
        )
        hot = sub_banded(
            bx_sized.filter(F.col("f") > hot_band_cap).drop("f")
        ).join(
            sub_banded(by_sized.filter(F.col("f") > hot_band_cap).drop("f")),
            ["b", "v", "sb", "sv"],
        )
        cand = cold.unionByName(hot, allowMissingColumns=True)
    return (
        cand.select(index_id, new_id, hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def verify_candidates_jaccard(
    docs: DataFrame,
    cand: DataFrame,
    *,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Exact-verify candidate pairs: n-gram Jaccard computed ONLY for
    the candidate (id_a, id_b) pairs — the verify stage of the
    candidates→verify dedup pipeline (LSH/winnow propose, exact Jaccard
    disposes).

    Scale: the shingle table is semi-join-pruned to candidate docs
    before any pair join, so the expensive exact comparison touches
    |candidate docs| ≪ corpus; the corpus-wide self-join of
    :func:`ngram_jaccard_pairs` never happens here. The candidate
    pairs and the pruned shingle table both have several consumers in
    this plan, so each is held by :func:`persisted` (eager count, then
    unpersist on return); both are candidate-sized, not corpus-sized,
    so MEMORY_AND_DISK is safe at scale. The verified (narrow) result
    is eagerly checkpointed before the caches are released.
    """
    jaccard = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return _verify_candidates(
        docs, cand,
        score=lambda sized: sized.select("id_a", "id_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard),
    )


def _verify_candidates(
    docs: DataFrame,
    cand: DataFrame,
    *,
    score: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Shared verify skeleton of :func:`verify_candidates_jaccard` and
    :func:`verify_candidates_containment`: exact trigram intersections
    of ``text`` for the candidate pairs, as (id_b, id_a, n_inter, n_a,
    n_b), handed
    to ``score`` (the measure + threshold filter); its result is the
    eagerly checkpointed output, so both caches are released on return."""
    with persisted(cand.select("id_a", "id_b")) as pairs:
        cand_ids = (
            pairs.select(F.col("id_a").alias("doc_id"))
            .union(pairs.select(F.col("id_b").alias("doc_id")))
            .distinct()
        )
        shingled = exploded_shingles(
            docs.join(cand_ids, "doc_id", "left_semi"),
            text_col="text", keep_cols=["doc_id"], n=3,
        )
        with persisted(shingled) as sh:
            sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
            inter = (
                pairs.join(sh.select(F.col("doc_id").alias("id_a"), "sh"), "id_a")
                .join(sh.select(F.col("doc_id").alias("id_b"), "sh"), ["id_b", "sh"])
                .groupBy("id_a", "id_b")
                .agg(F.count(F.lit(1)).alias("n_inter"))
            )
            sized = inter.join(
                sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a")),
                "id_a",
            ).join(
                sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b")),
                "id_b",
            )
            return fence(score(sized), eager=True)


def verify_pairs_jaccard_inline(docs: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact-verify candidate pairs by joining each pair's two document
    TEXTS and computing trigram Jaccard per pair row in pure Catalyst
    array ops (``array_distinct``/``array_intersect``/``size``) — the
    low-candidate-multiplicity fast path of the candidates→verify
    pipeline.

    vs :func:`verify_candidates_jaccard` (the shingle-set join): this
    plan is a single LINEAR flow. The candidate-pair table — the
    expensive generator output (LSH banding / winnowing) — has exactly
    one consumer, so no persist/materialization barrier is needed and
    AQE cannot race sibling stages into recomputing the generator (the
    +8 s failure mode the set-join variant guards against with eager
    counts). The docs table is scanned twice, but recomputing a raw
    parquet scan is free compared to re-running a fingerprint UDF.

    Tradeoffs, by candidate multiplicity per doc:

    - LOW (the normal post-LSH/winnow regime — winnowing caps posting
      lists at 100 docs, so a doc lands in a bounded number of pairs):
      each doc's shingle set is recomputed once per pair it appears
      in; with multiplicity ~1-3 that beats the set-join variant's
      extra shuffles + two aggregations + persists by a wide margin.
    - HIGH (one doc in thousands of pairs): use the set-join variant —
      it shingles each doc once.

    The pair list is broadcast into the FIRST join only. The second
    join shuffles on id_b — deliberately: a broadcast hint on the
    pair+text_a intermediate would embed the
    candidate-generator subplan in a SECOND broadcast-exchange job, and
    broadcast exchanges are built per-job, so the generator (the
    expensive part — an LSH banding pass or a rolling-hash UDF over the
    whole corpus) would execute twice (measured: 2× the generator time,
    +2.7 s on minhash_lsh_fast at sf0.1). With one broadcast the
    generator runs exactly once; the id_b shuffle moves only
    |pairs|+|corpus| slim rows and AQE downgrades it to a runtime
    broadcast from the already-materialized stage output, not a
    recompute. Pairs reach Jaccard >= 0.5 on word-3-shingles.
    """
    pairs = cand.select("id_a", "id_b")
    ta = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("__text_a"))
    tb = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("__text_b"))
    with_a = F.broadcast(pairs).join(ta, "id_a")
    with_ab = with_a.join(tb, "id_b")
    # bind tokens, then shingle sets, in SEPARATE projections: each alias
    # is multi-referenced downstream so CollapseProject keeps the
    # boundary and the lambda bodies see cheap attribute refs, not the
    # inlined regex pipeline (the 19x re-evaluation hazard, see
    # :func:`shingles`)
    toked = with_ab.select(
        "id_a", "id_b",
        tokens(F.col("__text_a")).alias("__tk_a"),
        tokens(F.col("__text_b")).alias("__tk_b"),
    )
    shingled = toked.select(
        "id_a", "id_b",
        F.array_distinct(shingles_of_tokens(F.col("__tk_a"), 3)).alias("__sh_a"),
        F.array_distinct(shingles_of_tokens(F.col("__tk_b"), 3)).alias("__sh_b"),
    )
    counted = shingled.select(
        "id_a", "id_b",
        F.size(F.array_intersect(F.col("__sh_a"), F.col("__sh_b"))).alias("__ni"),
        F.size(F.col("__sh_a")).alias("__na"),
        F.size(F.col("__sh_b")).alias("__nb"),
    )
    # Aggregate fence — load-bearing. (id_a, id_b) is unique here, so
    # the groupBy/max is a semantic no-op, but it is the one barrier
    # Catalyst respects on BOTH axes that were destroying this plan:
    # 1. PushDownPredicates happily rewrites the jaccard>=t filter
    #    through projections (and even an explicit repartition),
    #    substituting aliases until PushPredicateThroughJoin lands the
    #    ENTIRE tokenize→shingle→intersect chain in the id_b join's
    #    residual condition — evaluated per joined row, interpreted
    #    (higher-order-function lambdas are neither codegen'd nor CSE'd),
    #    and measured as a 3.2 s single-thread stall inside a broadcast
    #    build at sf0.1 (38 copies of the token regex in the executed
    #    plan). A predicate referencing aggregate outputs cannot be
    #    pushed below the Aggregate, so the chain is evaluated once,
    #    in parallel, below the fence.
    # 2. CollapseProject cannot merge the jaccard arithmetic into the
    #    shingle projections across it.
    # The agg's exchange carries three ints per candidate pair with
    # map-side partials — negligible at any scale.
    fenced = counted.groupBy("id_a", "id_b").agg(
        F.max("__ni").alias("__ni"),
        F.max("__na").alias("__na"),
        F.max("__nb").alias("__nb"),
    )
    return (
        fenced.select(
            "id_a", "id_b",
            (F.col("__ni") / (F.col("__na") + F.col("__nb") - F.col("__ni"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


def ngram_jaccard_pairs(docs: DataFrame, *, min_jaccard: float = 0.0) -> DataFrame:
    """Exact n-gram Jaccard for all pairs sharing ≥1 shingle.

    shingle-explode → self-join on shingle → per-pair intersection count;
    union size from per-doc distinct counts (|A|+|B|−|A∩B|). Pairs with
    zero shared shingles never materialize. Shingles are word 3-grams.
    """
    sh = exploded_shingles(docs, text_col="text", keep_cols=["doc_id"], n=3)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))

    a = sh.select(F.col("doc_id").alias("id_a"), "sh")
    b = sh.select(F.col("doc_id").alias("id_b"), "sh")
    inter = (
        a.join(b, on=["sh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    out = (
        inter.join(sa, "id_a").join(sb, "id_b")
        .select(
            "id_a", "id_b",
            (F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))).alias("jaccard"),
        )
    )
    if min_jaccard > 0:
        out = out.filter(F.col("jaccard") >= min_jaccard)
    return out


def prefix_filter_candidates(docs: DataFrame, *, min_jaccard: float = 0.5) -> DataFrame:
    """PPJoin-family candidate pairs for Jaccard ≥ t — complete, and far
    fewer candidates than "shares any shingle".

    ``ngram_jaccard_pairs`` joins on EVERY shared shingle, so one
    boilerplate shingle shared by f docs contributes f²/2 candidate
    pairs. Prefix filtering (Chaudhuri et al. SSJoin/ICDE'06; Xiao et
    al. PPJoin/WWW'08) indexes only each doc's RAREST
    p = |d| − ceil(t·|d|) + 1 shingles under a global canonical order
    (ascending document frequency, shingle text as tie-break): any pair
    with J ≥ t must share at least one PREFIX shingle — sharing only
    frequent suffix shingles cannot reach the overlap bound
    α ≥ ceil(t·|d|) — so completeness is preserved while the most
    frequent shingles never generate a candidate. A length filter
    (t·max(|A|,|B|) ≤ min(|A|,|B|), necessary for J ≥ t) prunes the
    rest.

    Scale: the joined relation is the PREFIX index, (1−t)·corpus
    shingle rows skewed toward rare shingles — exactly the ones with
    short posting lists. The df ranking is one extra narrow shuffle.
    Feed the result to :func:`verify_candidates_jaccard` for the exact
    join (completeness asserted against ``ngram_jaccard_pairs`` in
    tests and by the shared oracle of queries.prefix_filter_jaccard).

    The per-doc distinct shingle ARRAYS are cached for the duration of
    the operator call ONLY (:func:`persisted`), and the NARROW candidate
    pairs are eagerly checkpointed before the cache is released: the
    candidate machinery reads this relation several times within one
    execution, and with every cache correctly released the honest
    interleaved A/B is decisive — prefix_filter_jaccard 4.91 s with the
    intra-call fence vs 18.2 s unfenced, lsh_recall_audit 5.94 s vs
    17.7 s (min-of-3, leak-free session). Nothing outlives the call:
    the checkpointed candidate LEAF is the only thing downstream
    consumers see. The ``size()``-on-array improvement from r10 (vs the
    old explode→groupBy(sizes)→join size shuffle) is kept.
    """
    with persisted(_shingle_sets(docs, 3)) as shsets:
        sh = shsets.select("doc_id", "n_sh", F.explode("__sh_arr").alias("sh"))
        return fence(_candidates_from_sized_shingles(sh, t=min_jaccard), eager=True)


def _shingle_sets(docs: DataFrame, shingle_n: int) -> DataFrame:
    """(doc_id, __sh_arr, n_sh): each ``text``'s DISTINCT shingle array and its
    size — the relation the prefix-filter operators cache per call.
    Tokens are bound in their OWN projection first: passing the
    tokens() expression straight into the shingle lambda would
    re-evaluate the regex+split per element (the CollapseProject
    inlining trap, see :func:`shingles`)."""
    toked = widen_narrow_input(docs, "doc_id").select(
        F.col("doc_id"), tokens(F.col("text")).alias("__toks")
    )
    return toked.select(
        F.col("doc_id"),
        F.array_distinct(
            shingles_of_tokens(F.col("__toks"), shingle_n)
        ).alias("__sh_arr"),
    ).withColumn("n_sh", F.size("__sh_arr"))


def _candidates_from_sized_shingles(sh: DataFrame, *, t: float) -> DataFrame:
    """PPJoin candidate pairs from a (doc_id, n_sh, sh) relation — the ONE
    implementation of the prefix/length/positional filter bounds,
    shared by :func:`prefix_filter_candidates` (docs input) and
    :func:`pruned_jaccard_pairs` (precomputed shingle-array input) so
    the FP-sensitive cut expressions can never diverge between them.
    """
    from pyspark.sql import Window

    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "sh")
    prefix = (
        sh.join(dfreq, "sh")
        .withColumn("rnk", F.row_number().over(w))
        .filter(
            F.col("rnk")
            <= F.col("n_sh") - F.ceil(F.lit(t) * F.col("n_sh")) + 1
        )
    )
    a = prefix.select(
        F.col("doc_id").alias("id_a"),
        "sh",
        F.col("n_sh").alias("n_a"),
        F.col("rnk").alias("rnk_a"),
    )
    b = prefix.select(
        F.col("doc_id").alias("id_b"),
        "sh",
        F.col("n_sh").alias("n_b"),
        F.col("rnk").alias("rnk_b"),
    )
    # positional filter (PPJoin): J ≥ t needs overlap α ≥
    # ceil(t/(1+t)·(|A|+|B|)); a shared prefix shingle at positions
    # (i, j) caps the still-achievable overlap at 1 + min(|A|−i, |B|−j).
    # For a true pair the EARLIEST shared prefix shingle satisfies the
    # cap, so keeping a pair when ANY of its shared rows passes stays
    # complete while pruning the dense-shingle candidates the length
    # filter can't (measured 3.1M → far fewer on the word-soup corpus,
    # where every doc shares rare-ish trigrams with hundreds of others).
    alpha = F.ceil(F.lit(t / (1.0 + t)) * (F.col("n_a") + F.col("n_b")))
    pos_cap = F.lit(1) + F.least(
        F.col("n_a") - F.col("rnk_a"), F.col("n_b") - F.col("rnk_b")
    )
    return (
        a.join(b, "sh")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.lit(t) * F.greatest("n_a", "n_b") <= F.least("n_a", "n_b"))
            & (pos_cap >= alpha)
        )
        .select("id_a", "id_b")
        .distinct()
    )


def pruned_jaccard_pairs(
    docs: DataFrame,
    *,
    shingle_n: int = 3,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard ≥ t pairs via prefix-filter candidates +
    exact verify — the SAME pair set as :func:`ngram_jaccard_pairs`
    (completeness of the prefix/length/positional filters, asserted
    pair-set-identical in tests and by the shared exact oracle of
    queries.prefix_filter_jaccard) without its f²/2 blowup on frequent
    shingles.

    This is the generator the downstream graph pipelines (clusters,
    PageRank canonical pick, leakage-safe split, corpus funnel) compose:
    at 100 TB the any-shared-shingle self-join is the plan's quadratic
    term, while the prefix index joins only each doc's rarest
    (1−t)·|d|+1 shingles. Requires ``min_jaccard > 0`` (the filters'
    completeness bound is vacuous at t = 0 — use
    :func:`ngram_jaccard_pairs` for the exhaustive baseline).
    """
    if min_jaccard <= 0:
        raise ValueError("pruned_jaccard_pairs requires min_jaccard > 0")
    # One cached table carries ALL the expensive text work: per-doc
    # DISTINCT shingle arrays. The prefix index, document frequencies,
    # and the verify stage all derive from it, so tokenization runs
    # once and the eager count is the single materialization barrier
    # (same AQE-race rationale as verify_candidates_jaccard, one
    # barrier instead of two).
    with persisted(_shingle_sets(docs, shingle_n)) as shsets:
        sh = shsets.select("doc_id", "n_sh", F.explode("__sh_arr").alias("sh"))
        cand = _candidates_from_sized_shingles(sh, t=min_jaccard)
        # verify: per-pair exact intersection over the cached shingle
        # ARRAYS (JVM array_intersect), not a re-exploded shingle join —
        # the join moves |cand| rows with two array payloads instead of
        # |cand|×|shingles| slim rows. AQE broadcasts the shsets side
        # while it is small and falls back to a keyed shuffle join when
        # it is corpus-sized — exactly the scale behaviour wanted, so no
        # hint.
        sa = shsets.select(
            F.col("doc_id").alias("id_a"),
            F.col("__sh_arr").alias("__a"),
            F.col("n_sh").alias("n_a"),
        )
        sb = shsets.select(
            F.col("doc_id").alias("id_b"),
            F.col("__sh_arr").alias("__b"),
            F.col("n_sh").alias("n_b"),
        )
        counted = cand.join(sa, "id_a").join(sb, "id_b").select(
            "id_a", "id_b",
            F.size(F.array_intersect("__a", "__b")).alias("__ni"),
            "n_a", "n_b",
        )
        # aggregate fence against predicate-pushdown re-inlining (see
        # verify_pairs_jaccard_inline's load-bearing-fence comment)
        fenced = counted.groupBy("id_a", "id_b").agg(
            F.max("__ni").alias("__ni"),
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
        )
        jaccard = F.col("__ni") / (F.col("n_a") + F.col("n_b") - F.col("__ni"))
        return fence(
            fenced.select("id_a", "id_b", jaccard.alias("jaccard"))
            .filter(F.col("jaccard") >= min_jaccard),
            eager=True,
        )


_WB = np.uint64(1000003)  # polynomial base; uint64 wraparound = mod 2^64
_WBINV = np.uint64(pow(1000003, -1, 1 << 64))  # modular inverse mod 2^64


def _winnow_docwise(texts: list, k: int) -> list:
    """Per-doc vectorized winnowing over windows of 4 hashes (module-level:
    testable without Spark)."""
    out = []
    for t in texts:
        b = np.frombuffer((t or "").encode("utf-8"), dtype=np.uint8).astype(np.uint64)
        n = len(b)
        if n < k:
            h = np.uint64(0)
            for v in b:
                h = h * _WB + v
            v = int(h)
            out.append([v - (1 << 64) if v >= (1 << 63) else v])
            continue
        powers = np.empty(n, dtype=np.uint64)
        powers[0] = 1
        np.cumprod(np.full(n - 1, _WB, dtype=np.uint64), out=powers[1:])
        prefix = np.concatenate(([np.uint64(0)], np.cumsum(b * powers[::-1])))
        seg = prefix[k:] - prefix[:-k]
        inv = np.empty(n - k + 1, dtype=np.uint64)
        inv[0] = 1
        if n - k > 0:
            np.cumprod(np.full(n - k, _WBINV, dtype=np.uint64), out=inv[1:])
        hashes = seg * inv[::-1]
        if len(hashes) <= 4:
            mins = np.array([hashes.min()], dtype=np.uint64)
        else:
            mins = np.lib.stride_tricks.sliding_window_view(hashes, 4).min(axis=1)
        out.append(np.unique(mins).view(np.int64).tolist())
    return out


def winnow_fingerprints(docs: DataFrame, *, k: int = 12) -> DataFrame:
    """Winnowing document fingerprints (rolling-hash selection, the
    MOSS algorithm): Karp-Rabin-hash every character ``k``-gram, slide
    a window of 4 hashes, keep each window's minimum — guaranteeing any
    match of length ≥ k+3 shares a fingerprint, while storing only ~2/5
    of the hashes.

    Output: one (doc_id, fp) row per distinct selected hash.
    Implementation: normalization stays Catalyst; the rolling hash +
    window-min is a vectorized numpy pass PER DOC (:func:`_winnow_docwise`:
    cumulative powers for O(n) k-gram hashes, stride-view window min,
    small per-doc unique). A whole-batch concatenated variant (one
    cumprod over all batch bytes, owner-masked boundaries, global
    lexsort dedup) was built and parity-tested, then REJECTED on
    measurement: at 10k docs/batch it ran 3× slower — the global
    (doc, fp) lexsort over ~1.4M window mins loses badly to 10k cheap
    cache-resident per-doc sorts, and numpy call overhead at ~300
    chars/doc is only ~10% of the cost. A higher-order-function version
    was 30× slower still: Catalyst inlines the normalization into the
    per-element lambda, so every k-gram re-ran the regex. Per-doc cost
    is linear in length; the shuffle carries only (id, fp) pairs (see
    :func:`winnow_candidates`).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def winnow(texts: pd.Series) -> pd.Series:
        return pd.Series(_winnow_docwise(list(texts), k))

    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    # Widened: with the fingerprint table consumed exactly once (see
    # winnow_candidates), fanning the Arrow-UDF stage out beats one
    # worker streaming all batches — measured 1.8s vs 7.1s cold, 1.5s
    # vs 2.3s warm at sf0.1. (An earlier single-worker measurement
    # predated single-consumption: the UDF ran once per join branch,
    # so 32 workers × 2 evals paid double cold-start.)
    return widen_narrow_input(docs, "doc_id").select(
        F.col("doc_id"), F.explode(winnow(norm)).alias("fp")
    )


def winnow_candidates(
    docs: DataFrame,
    *,
    k: int = 12,
    min_shared: int = 5,
) -> DataFrame:
    """Near-dup candidate pairs: docs sharing ≥ ``min_shared`` winnowed
    fingerprints, with the shared count.

    Scale: the fingerprint table — ~2/5 the size of a full
    shingle table — is shuffled ONCE, keyed by fingerprint, into a
    collect_list per hash; pairs are generated from each posting list
    with array ops (a fp shared by docs [a,b,c] emits (a,b),(a,c),
    (b,c)). An fp-keyed self-join would consume the table twice, and
    Spark re-runs the rolling-hash UDF per consumer (branched subtrees
    don't share exchanges keyed differently). Posting lists longer than
    100 documents are dropped (boilerplate/stopword
    k-grams) BEFORE pair expansion: a fingerprint in f docs contributes
    f²/2 pair rows, so capping f bounds the expansion quadratically —
    without it one viral footer string pairs the whole corpus with
    itself. The cap also bounds collect_list state per key; under
    adversarial skew (one hash in millions of docs) pre-filter with a
    frequency sketch so the list never materializes.
    """
    fps = winnow_fingerprints(docs, k=k)
    posting = fps.groupBy("fp").agg(F.collect_list("doc_id").alias("ids"))
    posting = posting.filter(F.size("ids") >= 2)
    posting = posting.filter(F.size("ids") <= 100)
    ids = F.array_sort("ids")
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        posting.select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def connected_components(
    pairs: DataFrame,
    *,
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """Connected components over an undirected pair graph:
    (node, cluster_id) with cluster_id = min node id in the component.

    The step AFTER candidate generation in a dedup pipeline: LSH/winnow
    emit pairs, components turn them into duplicate CLUSTERS (keep
    cluster_id, drop the rest).

    Hybrid execution, sized by the pair count (counted on the cached
    pair set BEFORE any edge-doubling shuffle — the union+distinct edge
    set is built only for the distributed path that needs it):

    - ``<= local_threshold`` edges: collect to the driver and union-find
      in microseconds. Candidate-pair graphs are SMALL relative to the
      corpus (LSH already pruned 99.99% of pairs) — a distributed
      iteration here spends seconds of per-round job scheduling on a
      graph that fits in one list. 1M edges ≈ 16 MB collected, well
      under driver headroom, solved in <1 s.
    - above the threshold: distributed large-star/small-star
      (Kiveris et al., "Connected Components in MapReduce and Beyond",
      the Two-Phase algorithm) via :func:`cc_large_small_star` —
      converges in O(log² n) rounds worst-case (practically ≤ ~10 even
      on adversarial chain graphs, vs O(graph diameter) for naive
      min-label propagation). Each round is two groupBy-min shuffles on
      node id; the edge set only shrinks toward stars, never grows
      beyond 2|E|.

    Both paths compute the identical fixpoint (asserted against each
    other in tests/test_dedup.py on chain/star/random graphs).
    """
    # decide the path on the raw pair count BEFORE building the doubled
    # edge set: the union+distinct shuffle only pays off for the
    # distributed iteration; the local path union-finds the pairs as-is
    # (0 forces the distributed path).
    with persisted(pairs.select("id_a", "id_b")) as cached:
        if local_threshold > 0 and cached.count() * 2 <= local_threshold:
            collected = [(r[0], r[1]) for r in cached.collect()]
        else:
            # the cache serves the eager edge checkpoint; the returned
            # node list re-reads ``pairs`` lazily once it is released
            return cc_large_small_star(cached, max_iter=20)
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in collected:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    nodes = {v for e in collected for v in e}
    rows = [(n, find(n)) for n in sorted(nodes)]
    spark = pairs.sparkSession
    schema = T.StructType(
        [
            T.StructField("node", pairs.schema["id_a"].dataType, False),
            T.StructField("cluster_id", pairs.schema["id_a"].dataType, False),
        ]
    )
    return spark.createDataFrame(rows, schema)


def cc_large_small_star(
    pairs: DataFrame,
    *,
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Distributed connected components via alternating large-star /
    small-star rounds (Kiveris et al., "Connected Components in
    MapReduce and Beyond", Two-Phase algorithm).

    Each round:

    - **large-star**: every node ``u`` connects its strictly-LARGER
      neighbors to ``m = min(Γ(u) ∪ {u})`` — emit ``(v, m)`` for
      ``v ∈ Γ(u), v > u``. One groupBy-min on the doubled edge list.
    - **small-star**: orient every edge toward its larger endpoint,
      then every node ``u`` connects its (all smaller) neighbors AND
      itself to ``m = min(Γ(u) ∪ {u})``. One groupBy-min on the
      oriented edge list.

    Invariants: the output of each step is oriented ``src > dst``,
    self-loop-free, and never exceeds 2|E| edges; the component
    minimum is a fixpoint. Convergence = the oriented edge set stops
    changing (checked by count + bit_xor(xxhash64) signature — one
    tiny agg per round, no exceptAll shuffle). At the fixpoint the
    edge set is a star forest: every non-root points directly at its
    component minimum, so the rounds needed are O(log² n) worst-case
    and ≤ ~10 in practice even on a chain graph where min-label
    propagation needs O(diameter) rounds (asserted in
    tests/test_dedup.py::test_large_small_star_round_count_on_chain).

    ``stats``, when passed, receives ``{"rounds": <int>, "converged":
    <bool>}`` for tests and bench instrumentation; a non-converged run
    (max_iter hit before the fixpoint) also emits a RuntimeWarning.

    Returns (node, cluster_id) with cluster_id = min node id of the
    component — identical fixpoint to the driver union-find path.
    """
    # single consumer (the final left join) — no persist: a cached copy
    # would either be dropped before the caller materializes the result
    # or leak past it.
    nodes = (
        pairs.select(F.col("id_a").alias("node"))
        .unionByName(pairs.select(F.col("id_b").alias("node")))
        .distinct()
    )
    # canonical orientation src > dst; drop self loops
    edges = fence(
        pairs.select(
            F.greatest(F.col("id_a"), F.col("id_b")).alias("src"),
            F.least(F.col("id_a"), F.col("id_b")).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct(),
        eager=True,
    )
    sig_prev = None
    rounds = 0
    converged = False
    for _ in range(max_iter):
        rounds += 1
        # -- large-star: doubled edge list, group under every endpoint
        both = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = both.groupBy("src").agg(F.min("dst").alias("mn"))
        large = (
            both.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(
                F.col("dst").alias("src"),
                F.least(F.col("src"), F.col("mn")).alias("dst"),
            )
            .distinct()
        )
        # -- small-star: input already oriented src > dst ⇒ every
        # neighbor is smaller; link them (and src itself) to the min
        mins2 = large.groupBy("src").agg(F.min("dst").alias("mn"))
        small = (
            large.join(mins2, "src")
            .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
            .unionByName(mins2.select(F.col("src"), F.col("mn").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # materialize AND truncate lineage so the plan stays flat
        # across rounds (persist alone doubles the logical plan per
        # round)
        new_edges = fence(small, eager=True)
        sig = tuple(
            new_edges.agg(
                F.count("*").alias("n"),
                F.expr("bit_xor(xxhash64(src, dst))").alias("x"),
            ).first()
        )
        edges = new_edges
        if sig == sig_prev:
            converged = True
            break
        sig_prev = sig
    if not converged:
        # a truncated run can silently return non-minimum cluster ids
        # (groupBy-min over a non-star edge set need not be the
        # component minimum) — surface it instead of letting callers
        # treat the output as exact.
        import warnings

        warnings.warn(
            f"cc_large_small_star stopped at max_iter={max_iter} without "
            "reaching the signature fixpoint; cluster ids may not be "
            "component minima (rounds needed are O(log^2 n) — raise "
            "max_iter)",
            RuntimeWarning,
            stacklevel=2,
        )
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged
    # at the fixpoint each src has exactly one dst (its component min);
    # min() guards the max_iter-truncated case
    star = edges.groupBy("src").agg(F.min("dst").alias("cluster_id"))
    result = (
        nodes.join(star.withColumnRenamed("src", "node"), "node", "left")
        .select(
            "node",
            F.coalesce(F.col("cluster_id"), F.col("node")).alias("cluster_id"),
        )
    )
    return result


def _sentence_windows(
    docs: DataFrame,
    *,
    sent_tokens: int = 8,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_id, [keep_cols...], sent_idx, sent): fixed non-overlapping
    ``sent_tokens``-token pseudo-sentence windows per document (the last
    window keeps its short tail). Shared grain for the sentence-level
    corpus ops below."""
    t = F.split(F.col("text"), " ")
    n_windows = F.ceil(F.size(t) / F.lit(float(sent_tokens))).cast("int")
    return docs.select(
        F.col("doc_id"),
        *[F.col(c) for c in keep_cols],
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_windows - F.lit(1)),
                lambda i: F.array_join(
                    F.slice(t, i * sent_tokens + 1, sent_tokens), " "
                ),
            )
        ).alias("sent_idx", "sent"),
    )


def global_sentence_dedup(docs: DataFrame, *, sent_tokens: int = 8) -> DataFrame:
    """C4-style GLOBAL sentence dedup: split every document into fixed
    ``sent_tokens``-token pseudo-sentences, keep only the corpus-FIRST
    occurrence of each distinct sentence (lowest doc id, then lowest
    position within it), and rebuild each document's surviving text —
    the span-removal dedup C4 runs at three-sentence grain (Raffel et
    al. 2020 §2.2); the corpus here has no sentence boundaries, so the
    grain is a fixed token window.

    Returns one row per document: (doc_id, n_sents, kept_sents,
    removed_sents, dedup_text, n_chars_kept).

    Scale: the dedup shuffles 8-byte ``xxhash64(sentence)`` keys, never
    sentence strings (the Lee-et-al hashed-shingle acceptance — a
    collision needs ~1e-10 odds at 1e5 sentences); keeper resolution is
    two partial-agg groupBys (min doc, then min position within it),
    NOT a per-sentence window, so a boilerplate sentence repeated a
    million times costs a combiner, not a single hot reducer. The
    rebuild sorts only within one document (array_sort of bounded
    per-doc lists).
    """
    sents = _sentence_windows(docs, sent_tokens=sent_tokens).withColumn("h", F.xxhash64("sent"))
    kept = keep_first_sentence_occurrence(sents)
    return rebuild_sentence_docs(sents, kept)


def keep_first_sentence_occurrence(sents: DataFrame) -> DataFrame:
    """Keeper resolution for sentence dedup: of every distinct hash in
    ``sents`` (doc_id, sent_idx, sent, h), keep only the occurrence at
    the lowest doc_id, then the lowest sent_idx within it — two
    partial-agg groupBys, never a per-sentence window (a boilerplate
    sentence repeated a million times costs a combiner, not one hot
    reducer)."""
    kd = sents.groupBy("h").agg(F.min("doc_id").alias("kd"))
    ki = (
        sents.join(kd, "h")
        .filter(F.col("doc_id") == F.col("kd"))
        .groupBy("h", "kd")
        .agg(F.min("sent_idx").alias("ki"))
    )
    return (
        sents.join(ki, "h")
        .filter(
            (F.col("doc_id") == F.col("kd")) & (F.col("sent_idx") == F.col("ki"))
        )
        .select("doc_id", "sent_idx", "sent", "h")
    )


def rebuild_sentence_docs(all_sents: DataFrame, kept: DataFrame) -> DataFrame:
    """Per-document rebuild: every doc in ``all_sents`` gets a row with
    its surviving text (kept sentences in original order; '' when all
    were removed). Sorts only within single documents (array_sort of
    bounded per-doc lists)."""
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("kept_sents"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sent_idx", "sent"))),
                lambda x: x["sent"],
            ),
            " ",
        ).alias("dedup_text"),
    )
    totals = all_sents.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sents")
    )
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "n_sents",
            F.coalesce("kept_sents", F.lit(0).cast("long")).alias("kept_sents"),
            (F.col("n_sents") - F.coalesce("kept_sents", F.lit(0).cast("long")))
            .cast("long")
            .alias("removed_sents"),
            F.coalesce("dedup_text", F.lit("")).alias("dedup_text"),
            F.length(F.coalesce("dedup_text", F.lit("")))
            .cast("long")
            .alias("n_chars_kept"),
        )
        .orderBy("doc_id")
    )


def strip_boilerplate_sentences(docs: DataFrame, *, sent_tokens: int = 8) -> DataFrame:
    """CCNet-style BOILERPLATE removal: inside each ``source`` group
    (source/domain), any pseudo-sentence present in at least 2/5 of
    the group's documents is boilerplate
    (headers, footers, subscribe banners) and is stripped from EVERY
    document — the frequency-based companion to global_sentence_dedup's
    first-occurrence rule (CCNet does this at paragraph grain;
    Wenzek et al. 2020 §3.1).

    Returns (doc_id, source, n_sents, boiler_removed, clean_text,
    n_chars_clean) per document.

    The threshold compares integers (nd·5 >= 2·n_docs) so no float
    boundary exists. Scale: document frequency per (group, sentence)
    shuffles 8-byte xxhash64 keys with map-side partial distinct; the
    boilerplate set per group is tiny (it must appear in >=40% of docs
    to qualify) and the strip is a left_anti join on (group, hash);
    rebuild sorts only within documents.
    """
    sents = _sentence_windows(
        docs, sent_tokens=sent_tokens, keep_cols=("source",)
    ).withColumn("h", F.xxhash64("sent"))
    n_docs = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    freq = sents.groupBy("source", "h").agg(
        F.count_distinct("doc_id").alias("nd")
    )
    boiler = (
        freq.join(F.broadcast(n_docs), "source")
        .filter(F.col("nd") * F.lit(5) >= F.lit(2) * F.col("n_docs"))
        .select("source", "h")
    )
    kept = sents.join(boiler, ["source", "h"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("kept_sents"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sent_idx", "sent"))),
                lambda x: x["sent"],
            ),
            " ",
        ).alias("clean_text"),
    )
    totals = sents.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_sents")
    )
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_sents",
            (F.col("n_sents") - F.coalesce("kept_sents", F.lit(0).cast("long")))
            .cast("long")
            .alias("boiler_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.length(F.coalesce("clean_text", F.lit("")))
            .cast("long")
            .alias("n_chars_clean"),
        )
        .orderBy("doc_id")
    )


def containment_candidates(docs: DataFrame) -> DataFrame:
    """Candidate pairs (id_a < id_b) for min-side set CONTAINMENT ≥ t
    (t = 0.8 over word 3-grams) — complete, and pruned far below
    "shares any shingle".

    Containment bounds overlap by the SMALLER side only:
    α ≥ ⌈t·min(|A|,|B|)⌉, so any qualifying pair must share one of the
    smaller doc's first ``n − ⌈t·n⌉ + 1`` shingles under the global
    canonical order (ascending document frequency, shingle as
    tie-break) — the asymmetric form of the SSJoin/PPJoin prefix
    filter. The join is therefore PREFIX(probe side) ⋈ ALL(index
    side), restricted to probe-smaller-than-index (ties on size break
    by id), which covers every pair exactly once with the smaller doc
    as the probe. No length filter exists — containment permits any
    size ratio (a 100-shingle quote inside a 10k-shingle page is the
    point).

    Scale: the probe relation is (1−t)·corpus shingle rows skewed
    toward RARE shingles (short posting lists); the index side is the
    full shingle table, equi-joined on shingle. Frequent-shingle
    blowup (f²/2) can only come through a doc whose PREFIX contains a
    frequent shingle — i.e., docs that are mostly boilerplate, the
    same boundary PPJoin has. Completeness is asserted by
    queries.containment_pairs' oracle (the naive shares-any-shingle
    SQL) matching at every SF.
    """
    # per-doc distinct shingle arrays cached for the duration of THIS
    # call only — see prefix_filter_candidates for the leak-free A/B
    # evidence (intra-call fence 3.7x faster than unfenced once the
    # accidental cross-query caches were closed)
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("df", "sh")
    t = 0.8
    with persisted(_shingle_sets(docs, 3)) as shsets:
        sized = shsets.select("doc_id", "n_sh", F.explode("__sh_arr").alias("sh"))
        dfreq = sized.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
        prefix = (
            sized.join(dfreq, "sh")
            .withColumn("rnk", F.row_number().over(w))
            .filter(
                F.col("rnk") <= F.col("n_sh") - F.ceil(F.lit(t) * F.col("n_sh")) + 1
            )
            .select(F.col("doc_id").alias("id_p"), "sh", F.col("n_sh").alias("n_p"))
        )
        index = sized.select(
            F.col("doc_id").alias("id_f"), "sh", F.col("n_sh").alias("n_f")
        )
        return fence(
            prefix.join(index, "sh")
            .filter(
                (F.col("n_p") < F.col("n_f"))
                | ((F.col("n_p") == F.col("n_f")) & (F.col("id_p") < F.col("id_f")))
            )
            .select(
                F.least("id_p", "id_f").alias("id_a"),
                F.greatest("id_p", "id_f").alias("id_b"),
            )
            .distinct(),
            eager=True,
        )


def verify_candidates_containment(docs: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact min-side containment for the candidate pairs only:
    (id_a, id_b, n_inter, n_a, n_b, containment) with containment =
    |A∩B| / min(|A|,|B|) ≥ t. Same semi-join pruning and call-scoped
    caches as :func:`verify_candidates_jaccard`."""
    containment = F.col("n_inter") / F.least(F.col("n_a"), F.col("n_b"))
    return _verify_candidates(
        docs, cand,
        score=lambda sized: sized.withColumn("containment", containment)
        .filter(F.col("containment") >= 0.8),
    )
