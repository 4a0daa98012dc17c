"""Semantic tests for text analysis operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_weather_spark.operators.textops import doc_profile, lang_id, quality_score


def test_lang_id(spark):
    rows = [
        (1, "the cat and the dog of to in"),
        (2, "el que de los la casa"),
        (3, "le chat et les des maisons"),
        (4, "der hund und die das ist"),
        (5, "xyzzy plugh qwerty"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.lp for r in df.select("doc_id", lang_id(F.col("text")).alias("lp")).collect()}
    assert got == {1: "en", 2: "es", 3: "fr", 4: "de", 5: "und"}


def test_quality_score_bounds(spark):
    rows = [(1, "the " * 120), (2, "!!! ### $$$"), (3, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [r.q for r in df.select(quality_score(F.col("text")).alias("q")).collect()]
    assert all(0.0 <= q <= 1.0 for q in got)
    assert got[0] > got[1]  # prose beats symbol soup


def test_doc_profile_on_corpus(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    prof = doc_profile(docs)
    assert {"n_tokens", "n_bpe_tokens", "lang_pred", "quality"} <= set(prof.columns)
    row = prof.filter(F.col("n_tokens") > 0).limit(1).collect()[0]
    assert row.n_bpe_tokens >= row.n_tokens  # BPE-ish splits at least at words


def test_chunk_documents_invariants(spark):
    from etl_weather_spark.operators.textops import chunk_documents

    rows = [
        (1, " ".join(f"w{i}" for i in range(95))),   # 95 toks -> 3 chunks
        (2, " ".join(f"w{i}" for i in range(40))),   # exactly one stride
        (3, "solo"),                                  # short doc -> 1 chunk
        (4, ""),                                      # empty -> [''] -> 1 chunk
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df).collect()
    by_doc: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r.doc_id, r.chunk_id)):
        by_doc.setdefault(r.doc_id, []).append(r)

    assert [len(v) for _, v in sorted(by_doc.items())] == [3, 1, 1, 1]
    d1 = by_doc[1]
    # starts advance by the stride; sizes clamp at the tail
    assert [c.chunk_start for c in d1] == [0, 40, 80]
    assert [c.n_tokens for c in d1] == [50, 50, 15]
    # consecutive chunks overlap by size - stride = 10 tokens
    for a, b in zip(d1, d1[1:]):
        assert a.chunk_text.split()[-10:] == b.chunk_text.split()[:10]
    # full coverage: union of chunks (dedup by position) == the doc
    seen = {}
    for c in d1:
        for i, t in enumerate(c.chunk_text.split()):
            seen[c.chunk_start + i] = t
    assert [seen[i] for i in range(95)] == [f"w{i}" for i in range(95)]
    assert by_doc[3][0].chunk_text == "solo"


def test_token_entropy_profile_hand_values(spark):
    import math

    from etl_weather_spark.operators.textops import token_entropy_profile

    docs = spark.createDataFrame(
        [
            (0, "a a a a"),        # one token type -> entropy 0
            (1, "a b c d"),        # uniform over 4 -> 2 bits
            (2, "a a b b b c"),    # H = log2(6) - (2log2 2 + 3log2 3)/6
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in token_entropy_profile(docs).collect()}
    assert out[0].n_tokens == 4 and out[0].token_entropy == 0.0
    assert out[1].n_tokens == 4 and out[1].token_entropy == 2.0
    expected = math.log2(6) - (2 * math.log2(2) + 3 * math.log2(3)) / 6
    assert abs(out[2].token_entropy - expected) < 2e-6


def test_vocab_coverage_hand_values(spark):
    from etl_weather_spark.operators.textops import vocab_coverage

    # vocab_k=2 -> vocab = {'a' (4 hits), 'b' (3)}; 'c'/'d' are OOV
    docs = spark.createDataFrame(
        [(0, "a a b c"), (1, "a a b b d d")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in vocab_coverage(docs, vocab_k=2).collect()}
    assert (out[0].n_tokens, out[0].n_oov, out[0].oov_rate) == (4, 1, 0.25)
    assert (out[1].n_tokens, out[1].n_oov, out[1].oov_rate) == (6, 2, round(2 / 6, 6))


def test_shared_shingle_fraction_hand_values(spark):
    from etl_weather_spark.operators.textops import shared_shingle_fraction

    # docs 0 and 1 share the 'x y z' trigram; doc 2 shares nothing
    docs = spark.createDataFrame(
        [(0, "x y z p q"), (1, "x y z r s"), (2, "m n o u v")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in shared_shingle_fraction(docs).collect()}
    assert (out[0].n_shingles, out[0].n_shared) == (3, 1)
    assert out[0].shared_fraction == round(1 / 3, 6)
    assert (out[2].n_shingles, out[2].n_shared, out[2].shared_fraction) == (3, 0, 0.0)


def test_unigram_logprob_hand_values(spark):
    import math

    from etl_weather_spark.operators.textops import unigram_logprob_profile

    # corpus: 'a' x4, 'b' x2, 'c' x2 -> total 8
    docs = spark.createDataFrame(
        [(0, "a a b c"), (1, "a a b c")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in unigram_logprob_profile(docs).collect()}
    # per doc: 2*(-log2(4/8)) + (-log2(2/8)) + (-log2(2/8)) all over 4
    expected = (2 * 1.0 + 2.0 + 2.0) / 4
    assert out[0].n_tokens == 4
    assert abs(out[0].avg_nll - expected) < 2e-6
    assert out[0].avg_nll == out[1].avg_nll  # identical docs, same score

    # a rare-token doc scores strictly higher than a common-token doc
    docs2 = spark.createDataFrame(
        [(0, "x x x x x x"), (1, "q")], "doc_id long, text string"
    )
    out2 = {r.doc_id: r.avg_nll for r in unigram_logprob_profile(docs2).collect()}
    assert out2[1] > out2[0]


def test_html_to_text_extraction(spark):
    """WET-style extraction on adversarial hand-written HTML: script/
    style/head contents and comments vanish entirely, tags (incl.
    attributes and multiline) become spaces, entities decode with
    &amp; last, whitespace collapses."""
    from pyspark.sql import functions as F

    from etl_weather_spark.operators.textops import html_title, html_to_text

    rows = [
        (1, "<html><head><title> Hello &amp; Bye </title>"
            "<style>body { color: red }</style></head>"
            "<body><p>one</p><p>two</p></body></html>"),
        (2, "<div class='x'\n data-v='1'>a</div><script>if (1 < 2) { alert('</p>'); }"
            "</script><b>b</b>"),
        (3, "pre &lt;tag&gt; &amp;amp; &quot;q&quot;&nbsp;end"),
        (4, "<!-- a <b> comment --><span>kept</span><!--x-->"),
        (5, "no markup at all"),
    ]
    df = spark.createDataFrame(rows, "id long, html string")
    got = {
        r.id: (r.t, r.x)
        for r in df.select(
            "id",
            html_title(F.col("html")).alias("t"),
            html_to_text(F.col("html")).alias("x"),
        ).collect()
    }
    assert got[1] == ("Hello & Bye", "one two")
    assert got[2] == ("", "a b")
    # &amp;amp; decodes exactly once (&amp; last → "&amp;")
    assert got[3] == ("", 'pre <tag> &amp; "q" end')
    assert got[4] == ("", "kept")
    assert got[5] == ("", "no markup at all")


def test_pii_scrub_classes_and_order(spark):
    """Each PII class detects and masks independently; emails scrub
    FIRST so their digit runs never feed the numeric classes; class
    tokens never cascade into new matches."""
    from pyspark.sql import functions as F

    from etl_weather_spark.operators.textops import pii_count_cols, pii_scrub

    rows = [
        (1, "mail a.b-c_9@host.co and x9@y.io twice"),
        (2, "call 555-123-4567 or 555-000-1111 now"),
        (3, "host 192.168.0.1 and 10.0.0.255"),
        (4, "card 1234567890123456 ok, short 123456789012345 no"),
        (5, "mixed u1@a.io 1.2.3.4 111-222-3333 0000111122223333"),
        (6, "clean text with numbers 12 and dots. end"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {
        r.id: (r.n_email, r.n_ip, r.n_phone, r.n_num16, r.s)
        for r in df.select(
            "id", *pii_count_cols(F.col("t")), pii_scrub(F.col("t")).alias("s")
        ).collect()
    }
    assert got[1][:4] == (2, 0, 0, 0) and got[1][4] == "mail <EMAIL> and <EMAIL> twice"
    assert got[2][:4] == (0, 0, 2, 0)
    assert got[3][:4] == (0, 2, 0, 0) and got[3][4] == "host <IP> and <IP>"
    assert got[4][:4] == (0, 0, 0, 1)
    assert got[4][4] == "card <NUM16> ok, short 123456789012345 no"
    assert got[5][4] == "mixed <EMAIL> <IP> <PHONE> <NUM16>"
    assert got[6][:4] == (0, 0, 0, 0) and got[6][4] == rows[5][1]


def test_ngram_repetition_coverage_semantics(spark):
    """Positional coverage: a token counts once no matter how many
    duplicated n-grams overlap it; unique-gram docs get zero coverage;
    the top-bigram share uses the occurrences×chars approximation."""
    from etl_weather_spark.operators.textops import ngram_repetition_profile

    rows = [
        # "a b" occurs twice (starts 0 and 2) -> tokens 0..3 covered,
        # token 4 ('c') not; trigrams all distinct -> covered3 = 0
        (1, "a b a b c"),
        # fully repetitive loop: every bigram/trigram duplicated
        (2, "x y x y x y x y"),
        # no duplicated n-grams at all
        (3, "p q r s t"),
        # overlapping occurrences of "z z": starts 0,1,2 -> all covered;
        # trigram "z z z" dup (starts 0,1) -> all covered
        (4, "z z z z"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in ngram_repetition_profile(df).collect()}

    d1 = got[1]
    assert (d1["n_tokens"], d1["tok_chars"]) == (5, 5)
    assert (d1["covered2_chars"], d1["covered3_chars"]) == (4, 0)
    assert d1["dup2_char_frac"] == 0.8 and d1["dup3_char_frac"] == 0.0
    assert (d1["top_bigram"], d1["top2_count"]) == ("a b", 2)
    assert d1["top2_char_share"] == 0.8  # 2 occurrences x 2 chars / 5
    assert d1["is_repetitive"] is True  # 4*4 > 5

    d2 = got[2]
    assert d2["covered2_chars"] == d2["tok_chars"] == 8
    assert d2["covered3_chars"] == 8 and d2["is_repetitive"] is True

    d3 = got[3]
    assert d3["covered2_chars"] == 0 and d3["covered3_chars"] == 0
    assert d3["dup2_char_frac"] == 0.0 and d3["is_repetitive"] is False
    assert d3["top2_count"] == 1  # ties break lexicographically
    assert d3["top_bigram"] == "p q"

    d4 = got[4]
    assert d4["covered2_chars"] == 4 and d4["covered3_chars"] == 4
    assert (d4["top_bigram"], d4["top2_count"]) == ("z z", 3)
    assert d4["top2_char_share"] == 1.5  # overlap double-counts by definition


def _py_bpe(vocab: dict[str, int], n_merges: int):
    """Independent pure-Python BPE reference: returns the merge table
    [(left, right, merged, count)] with the same greedy left-to-right
    apply and (count desc, left, right) tie-break as the operator."""
    segs = {w: list(w) for w in vocab}
    merges = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in segs.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + vocab[w]
        if not counts:
            break
        (l, r), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((l, r, l + r, c))
        for w, syms in segs.items():
            out: list[str] = []
            for x in syms:
                if out and out[-1] == l and x == r:
                    out[-1] = l + r
                else:
                    out.append(x)
            segs[w] = out
    return merges


def test_bpe_train_matches_python_reference(spark):
    """bpe_train ≡ an independent pure-Python BPE on a randomized vocab
    (overlapping-pair greediness, frequency weighting, tie-breaks)."""
    import random

    from pyspark.sql import functions as F

    from etl_weather_spark.operators.textops import bpe_train

    rng = random.Random(7)
    words = ["aaaa", "abab", "banana", "x"] + [
        "".join(rng.choice("abcde") for _ in range(rng.randint(1, 8)))
        for _ in range(60)
    ]
    vocab = {}
    for w in words:
        vocab[w] = vocab.get(w, 0) + rng.randint(1, 9)

    vdf = spark.createDataFrame(
        [(w, c) for w, c in vocab.items()], "word string, freq long"
    ).select(F.split("word", "").alias("syms"), "freq")
    got = [
        (r.left_sym, r.right_sym, r.merged, r.pair_count)
        for r in bpe_train(vdf, 4).collect()
    ]
    assert got == _py_bpe(vocab, 4)


def test_bpe_fold_greedy_overlap(spark):
    """The fold is greedy left-to-right: 'aaaa' under (a,a) segments to
    [aa, aa] and 'aaa' to [aa, a] — never re-merging the new symbol."""
    from pyspark.sql import functions as F

    from etl_weather_spark.operators.textops import _bpe_fold_literal

    v = spark.createDataFrame(
        [("aaaa", 1), ("aaa", 1), ("baaab", 1)], "word string, freq long"
    ).select(F.split("word", "").alias("syms"))
    folded = v.select(_bpe_fold_literal(F.col("syms"), "a", "a").alias("syms"))
    got = sorted("|".join(r.syms) for r in folded.collect())
    assert got == sorted(["aa|aa", "aa|a", "b|aa|a|b"])


def test_bpe_batched_matches_sequential_reference_deep(spark, count_fences):
    """The batched trainer (_bpe_safe_batch: disjoint ranked prefix +
    fresh-merged-string guard + boundary/tie dominance) is merge-for-
    merge identical to sequential classic BPE, stressed DEEP: 40-merge
    runs, tiny pools (forcing pool-truncation paths), small alphabets
    (forcing count ties and merged-string/alphabet collisions)."""
    import random

    from pyspark.sql import functions as F

    from etl_weather_spark.operators import textops
    from etl_weather_spark.operators.textops import bpe_train

    fences = count_fences(textops)
    for seed, chars, n in [(0, "abc", 40), (1, "abcde", 40), (5, "abc", 25)]:
        rng = random.Random(seed)
        vocab: dict[str, int] = {}
        for _ in range(rng.randint(30, 80)):
            w = "".join(rng.choice(chars) for _ in range(rng.randint(1, 9)))
            vocab[w] = vocab.get(w, 0) + rng.randint(1, 6)
        vdf = spark.createDataFrame(
            list(vocab.items()), "word string, freq long"
        ).select(F.split("word", "").alias("syms"), "freq")
        got = [
            (r.merge_round, r.left_sym, r.right_sym, r.merged, r.pair_count)
            for r in bpe_train(vdf, n, batch_cap=8, pool_size=12).collect()
        ]
        exp = [(i + 1, l, r, m, c) for i, (l, r, m, c) in enumerate(_py_bpe(vocab, n))]
        assert got == exp, f"seed={seed}"
    # the 40-merge runs cross the round cadence: lazy fences were taken
    assert fences and not any(fences)


def test_bpe_encode_ranked_equals_fold_replay(spark):
    """The rank-based tokenizer-apply (lowest-rank pair first, dict
    lookups) segments every word identically to replaying the training
    merges in order (bpe_segment) — the equivalence that lets a
    32k-merge production table be applied without 32k folds."""
    import random

    from pyspark.sql import functions as F

    from etl_weather_spark.operators.textops import (
        _bpe_rounds,
        bpe_encode_ranked,
        bpe_segment,
    )

    rng = random.Random(21)
    vocab = {}
    for w in ["aaaa", "abab", "banana", "x"] + [
        "".join(rng.choice("abcd") for _ in range(rng.randint(1, 9)))
        for _ in range(50)
    ]:
        vocab[w] = vocab.get(w, 0) + rng.randint(1, 5)
    vdf = (
        spark.createDataFrame(list(vocab.items()), "word string, freq long")
        .select(F.split("word", "").alias("syms"), "freq", "word")
        .persist()
    )
    n = 10
    merges, _ = _bpe_rounds(vdf, n)
    ranked = {
        r.word: list(r.syms)
        for r in bpe_encode_ranked(
            vdf, [(left, right) for _i, left, right, _m, _c in merges]
        ).collect()
    }
    replay = {r.word: list(r.syms) for r in bpe_segment(vdf, n).collect()}
    vdf.unpersist()
    assert ranked == replay
    # and at least one multi-merge word actually changed
    assert any(len(s) < len(w) for w, s in ranked.items())


def test_bpe_production_rounds_flat_lineage(spark, count_fences):
    """150 merges complete with CHECKPOINT-BOUNDED lineage: the final
    vocab's optimized plan must be a handful of lines (a LogicalRDD
    scan + the post-checkpoint projections), never merges-deep — the
    property that makes 32k-merge production training viable. Driver
    transfer per round is ≤ pool_size rows by construction."""
    import random

    from pyspark.sql import functions as F

    from etl_weather_spark.operators import textops
    from etl_weather_spark.operators.fence import FENCE_EVERY
    from etl_weather_spark.operators.textops import _bpe_rounds

    rng = random.Random(42)
    chars = "abcdefghijklmnopqrstuvwxyz0123456789"
    vocab: dict[str, int] = {}
    for _ in range(800):
        w = "".join(rng.choice(chars) for _ in range(rng.randint(3, 12)))
        vocab[w] = vocab.get(w, 0) + rng.randint(1, 50)
    vdf = (
        spark.createDataFrame(list(vocab.items()), "word string, freq long")
        .select(F.split("word", "").alias("syms"), "freq")
        .repartition(4)
        .persist()
    )
    vdf.count()
    fences = count_fences(textops)
    merges, v = _bpe_rounds(vdf, 150, batch_cap=32, pool_size=256)
    assert fences and not any(fences)
    assert len(merges) == 150
    assert [m[0] for m in merges] == list(range(1, 151))
    plan = v._jdf.queryExecution().optimizedPlan().numberedTreeString()
    depth = len(plan.splitlines())
    assert depth <= 2 + FENCE_EVERY, f"lineage not truncated: {depth} plan lines"
    vdf.unpersist()


def test_bpe_segment_matches_python_reference(spark):
    """bpe_segment's final segmentation ≡ the pure-Python reference
    after the same number of merges (word key carried through rounds)."""
    import random

    from pyspark.sql import functions as F

    from etl_weather_spark.operators.textops import bpe_segment

    rng = random.Random(13)
    vocab = {}
    for w in ["aaaa", "abab", "banana", "x"] + [
        "".join(rng.choice("abc") for _ in range(rng.randint(1, 7)))
        for _ in range(40)
    ]:
        vocab[w] = vocab.get(w, 0) + rng.randint(1, 5)

    # reference: re-run _py_bpe and keep the segmentations
    segs = {w: list(w) for w in vocab}
    for l, r, m, _c in _py_bpe(vocab, 4):
        for w, syms in segs.items():
            out = []
            for x in syms:
                if out and out[-1] == l and x == r:
                    out[-1] = m
                else:
                    out.append(x)
            segs[w] = out

    vdf = spark.createDataFrame(
        [(w, c) for w, c in vocab.items()], "word string, freq long"
    ).select(F.split("word", "").alias("syms"), "freq", "word")
    got = {r.word: list(r.syms) for r in bpe_segment(vdf, 4).collect()}
    assert got == segs


def test_gopher_quality_profile_rules(spark):
    """Each published Gopher Table-A1 rule fires on a crafted document
    (the synthetic corpus never exercises bullets/ellipses/symbols);
    fail_mask bit order: wc, mwl, symbol, bullet, ellipsis, alpha,
    stopwords."""
    from etl_weather_spark.operators.textops import gopher_quality_profile

    good = "the cat sat and that dog ran off with one hat " * 6  # 60 words
    rows = [
        (1, good),                                   # passes everything
        (2, "the of short doc"),                     # wc fail (4 words)
        (3, " ".join(["a"] * 60) + " the of"),       # mean word len < 3
        (4, good + "### # ## " + "#" * 10),          # symbol ratio > 10%
        (5, "\n".join(["- bullet item the of"] * 20)),  # bullet lines
        (6, "\n".join(["trailing words the of..."] * 20)),  # ellipsis ends
        (7, " ".join(["123"] * 60) + " the of"),     # alpha frac < 80%
        (8, " ".join(["cats"] * 60)),                # no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in gopher_quality_profile(df).collect()}

    assert got[1]["keep"] is True and got[1]["fail_mask"] == 0
    assert got[2]["fail_mask"] & 1           # word count
    assert got[3]["fail_mask"] & 2           # mean word length
    assert got[4]["fail_mask"] & 4           # symbol-to-word
    assert got[5]["fail_mask"] & 8           # bullet lines
    assert got[5]["n_lines"] == 20
    assert got[6]["fail_mask"] & 16          # ellipsis line ends
    assert got[7]["fail_mask"] & 32          # alphabetic-word fraction
    assert got[8]["fail_mask"] & 64          # stop-word presence
    # doc 5 has 100% bullet lines -> frac6 == 1.0; doc 1 is one line
    assert got[5]["bullet_line_frac6"] == 1.0
    assert got[1]["n_lines"] == 1
    # tuned floor: one stopword suffices
    tuned = {
        r.doc_id: r.keep
        for r in gopher_quality_profile(df, min_stopwords=1).collect()
    }
    assert tuned[1] is True and tuned[8] is False


def test_gopher_stopword_rule_distinct_not_total(spark):
    """The published rule counts DISTINCT stop words present, not
    occurrences: 60 repeats of 'the' is still only one stop word."""
    from etl_weather_spark.operators.textops import gopher_quality_profile

    rows = [(1, " ".join(["the"] * 60))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = gopher_quality_profile(df).collect()[0]
    assert r.n_stopwords == 1 and (r.fail_mask & 64)
