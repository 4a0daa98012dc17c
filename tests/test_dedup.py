"""Semantic unit tests for the dedup operator family."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_weather_spark.operators.dedup import (
    exact_dedup,
    hamming64,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash64,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
    (3, "completely different content about spark engines"),
    (4, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
    (5, "THE  quick   brown fox jumps over the lazy dog"),  # normalizes to dup of 1
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_persisted_unpersists_when_block_raises(spark):
    """The scoped persist releases its cache on the error path too, so a
    failing operator cannot leave a CacheManager entry behind."""
    import pytest

    from etl_weather_spark.operators.fence import persisted

    with pytest.raises(RuntimeError, match="inside the block"):
        with persisted(spark.range(10).withColumn("x", F.col("id") * 3)) as cached:
            assert cached.storageLevel.useMemory or cached.storageLevel.useDisk
            raise RuntimeError("inside the block")
    assert not (cached.storageLevel.useMemory or cached.storageLevel.useDisk)


def test_materialization_is_spelled_once():
    """Every fence and every cache goes through ``operators/fence.py``:
    no other package file calls ``localCheckpoint``, ``persist``,
    ``unpersist``, ``cache`` or ``checkpoint`` itself."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / "etl_weather_spark"
    home = "operators/fence.py"
    call = re.compile(
        r"localCheckpoint\(|\.persist\(|\.unpersist\(|\.cache\(\)|\.checkpoint\("
    )
    strays = [
        f"{path.relative_to(pkg).as_posix()}:{n}"
        for path in sorted(pkg.rglob("*.py"))
        if path.relative_to(pkg).as_posix() != home
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if call.search(line)
    ]
    assert strays == []


#: defaulted parameters that every call leaves at one value on purpose,
#: keyed (package-relative function, parameter)
ONE_VALUE_OK = {
    ("serve.py::EngineAPI.__init__", "geocode_dim"): "seam: injects a geocode table",
    ("serve.py::EngineAPI.__init__", "funfact_model"): "seam: injects a model",
    ("serve.py::make_server", "geocode_dim"): "seam: forwarded to EngineAPI",
    ("serve.py::make_server", "funfact_model"): "seam: forwarded to EngineAPI",
    ("sources/snapshots.py::snapshot_write_checked", "ingest_ts"): "seam: the commit clock",
    ("sources/catalog.py::catalog_commit_tables", "table_root"): "deployment: a directory",
    ("streaming/sketch_maintain.py::load_cms_state", "lineage"): "deployment: a checkpoint",
}


def _one_value_parameters() -> dict[tuple[str, str], str]:
    """Defaulted parameters of package functions that every call in the
    repo (package, tests, scripts, perfbench, bench.py) leaves at one
    value: (function, parameter) -> that value.

    A call that omits the parameter passes its default; a literal
    argument is its value; a bare name forwarding a defaulted parameter
    of the enclosing function passes whatever values THAT parameter
    takes. Anything else — an expression, a ``*``/``**`` splat, or the
    function used as a value (a callback, a decorator, the registry) —
    counts as "any value". Calls resolve by bare name, so a name shared
    by several functions pools their calls (conservative); ``from m
    import f as g`` makes ``g(...)`` a call of ``f``.
    """
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    pkg = root / "etl_weather_spark"
    callers = [p for p in sorted(pkg.rglob("*.py")) if "_vendor" not in p.parts]
    for d in ("tests", "scripts", "perfbench"):
        callers += sorted((root / d).rglob("*.py"))
    callers += [root / "bench.py", root / "__spark_entry__.py"]
    transparent = {"staticmethod", "classmethod", "contextmanager", "lru_cache", "cache"}
    ANY = ("any",)

    def literal(node):
        try:
            return ("lit", repr(ast.literal_eval(node)))
        except ValueError:
            return None

    def name_of(node):
        node = node.func if isinstance(node, ast.Call) else node
        return node.attr if isinstance(node, ast.Attribute) else getattr(node, "id", "")

    funcs = {}  # id(def node) -> record
    by_name: dict[str, list] = {}
    trees = [(p, ast.parse(p.read_text())) for p in callers]
    for path, tree in trees:
        if pkg not in path.parents:
            continue
        rel = path.relative_to(pkg).as_posix()

        def visit(node, prefix, cls):
            for ch in ast.iter_child_nodes(node):
                if isinstance(ch, ast.ClassDef):
                    visit(ch, f"{prefix}{ch.name}.", ch.name)
                elif isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    a = ch.args
                    pos = [x.arg for x in a.posonlyargs + a.args]
                    defaults = dict(zip(pos[len(pos) - len(a.defaults):], a.defaults))
                    defaults.update(
                        (x.arg, d) for x, d in zip(a.kwonlyargs, a.kw_defaults) if d
                    )
                    decos = {name_of(d) for d in ch.decorator_list}
                    f = {
                        "key": f"{rel}::{prefix}{ch.name}",
                        "name": ch.name,
                        "pos": pos,
                        "self": int(cls is not None and "staticmethod" not in decos),
                        "defaults": defaults,
                        "values": {p: set() for p in defaults},
                        "any": bool(decos - transparent),
                        "stores": {
                            n.id for n in ast.walk(ch)
                            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
                        },
                    }
                    funcs[id(ch)] = f
                    by_name.setdefault(ch.name, []).append(f)
                    if cls and ch.name == "__init__":
                        by_name.setdefault(cls, []).append(f)
                    visit(ch, f"{prefix}{ch.name}.", None)
                else:
                    visit(ch, prefix, cls)

        visit(tree, "", None)

    def value(node, scopes):
        lit = literal(node)
        if lit is not None or not isinstance(node, ast.Name):
            return lit or ANY
        for fn in reversed(scopes):
            f = funcs.get(id(fn))
            a = fn.args
            if node.id in {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}:
                ok = f and node.id in f["defaults"] and node.id not in f["stores"]
                return ("fwd", id(fn), node.id) if ok else ANY
        return ANY

    def record(call, scopes, aliases):
        bare = isinstance(call.func, ast.Name)
        called = aliases.get(name_of(call), name_of(call)) if bare else name_of(call)
        for f in by_name.get(called, ()):
            # self is bound unless a method is called by its bare name
            skip = 0 if bare and called == f["name"] else f["self"]
            given, star = {}, None
            for i, arg in enumerate(call.args):
                if isinstance(arg, ast.Starred):
                    star = i + skip
                    break
                if i + skip < len(f["pos"]):
                    given[f["pos"][i + skip]] = value(arg, scopes)
            splat = any(kw.arg is None for kw in call.keywords)
            given.update((kw.arg, value(kw.value, scopes)) for kw in call.keywords if kw.arg)
            for p in f["defaults"]:
                late = star is not None and p in f["pos"] and f["pos"].index(p) >= star
                f["values"][p].add(given.get(p, ANY if splat or late else ("default",)))

    def walk(node, scopes, aliases):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scopes = scopes + [node]
        if isinstance(node, ast.Call):
            record(node, scopes, aliases)
        for ch in ast.iter_child_nodes(node):
            called = isinstance(node, ast.Call) and node.func is ch
            loaded = isinstance(ch, (ast.Name, ast.Attribute)) and isinstance(ch.ctx, ast.Load)
            if loaded and not called:
                name = name_of(ch)
                for f in by_name.get(aliases.get(name, name), ()):
                    f["any"] = True  # used as a value
            walk(ch, scopes, aliases)

    for _, tree in trees:
        aliases = {
            a.asname: a.name
            for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)
            for a in n.names if a.asname
        }
        walk(tree, [], aliases)

    def resolve(f, p, seen):
        if f["any"]:
            return {ANY}
        out = set()
        for v in f["values"][p] or {("default",)}:
            if v == ("default",):
                out.add(literal(f["defaults"][p]) or ("expr", ast.dump(f["defaults"][p])))
            elif v[0] == "fwd":
                hop = (v[1], v[2])
                out |= {ANY} if hop in seen else resolve(funcs[v[1]], v[2], seen | {hop})
            else:
                out.add(v)
        return out

    one = {}
    for f in funcs.values():
        for p in f["defaults"]:
            vals = resolve(f, p, {(id(f), p)})
            if len(vals) == 1 and ANY not in vals:
                one[(f["key"], p)] = next(iter(vals))[1]
    return one


def test_every_defaulted_parameter_takes_two_values():
    """A defaulted parameter that every call leaves at one value is a
    configuration no test and no workload runs: give it that value and
    delete the code only other values reach. Seams that inject an
    effectful dependency and deployment settings stay, listed in
    ``ONE_VALUE_OK`` with a reason."""
    one = _one_value_parameters()
    assert sorted(set(one) - set(ONE_VALUE_OK)) == []
    assert sorted(set(ONE_VALUE_OK) - set(one)) == []  # no stale entries


def test_exact_dedup(spark):
    out = exact_dedup(_docs(spark))
    ids = sorted(r.doc_id for r in out.collect())
    # 1, 4, 5 normalize identically -> keep min id 1
    assert ids == [1, 2, 3]


def test_minhash_signature_identity(spark):
    sig = minhash_signatures(_docs(spark), num_hashes=8, shingle_n=2)
    rows = {r.doc_id: tuple(r)[1:] for r in sig.collect()}
    assert rows[1] == rows[4] == rows[5]  # identical content → identical signature
    assert rows[1] != rows[3]


def test_minhash_lsh_finds_near_dups(spark):
    pairs = minhash_lsh_pairs(_docs(spark), num_hashes=8, shingle_n=2)
    got = {(r.id_a, r.id_b): r.est_jaccard for r in pairs.collect()}
    assert got[(1, 4)] == 1.0 and got[(1, 5)] == 1.0
    assert (1, 2) in got and got[(1, 2)] >= 0.5  # near-dup caught by some band
    assert (1, 3) not in got  # unrelated docs don't collide


def test_simhash_distance(spark):
    sig = simhash64(_docs(spark))
    by_id = {r.doc_id: r.simhash for r in sig.collect()}
    df = spark.createDataFrame(
        [(by_id[1], by_id[4]), (by_id[1], by_id[2]), (by_id[1], by_id[3])],
        "a long, b long",
    ).select(hamming64(F.col("a"), F.col("b")).alias("d"))
    d_dup, d_near, d_far = [r.d for r in df.collect()]
    assert d_dup == 0
    assert d_near < d_far  # near-dup closer than unrelated doc


def test_ngram_jaccard_exact_value(spark):
    # doc1 vs doc2: 7 distinct 3-gram shingles each, 6 shared
    pairs = ngram_jaccard_pairs(_docs(spark)).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert abs(got[(1, 2)] - 6 / 8) < 1e-9
    assert got[(1, 4)] == 1.0
    assert (1, 3) not in got


def test_range_join_bucketed_matches_naive(spark):
    """Bucketed band join == naive filtered cross join on a small corpus."""
    import datetime as dt

    from pyspark.sql import functions as F

    from etl_weather_spark.operators.joins import range_join_bucketed

    base = dt.datetime(2024, 1, 1)
    lrows = [(u, base + dt.timedelta(seconds=s)) for u in (1, 2) for s in range(0, 4000, 37)]
    rrows = [(u, base + dt.timedelta(seconds=s)) for u in (1, 2) for s in range(13, 4200, 41)]
    left = spark.createDataFrame(lrows, "user_id long, lts timestamp")
    right = spark.createDataFrame(rrows, "user_id long, rts timestamp")

    got = range_join_bucketed(
        left, right, left_ts="lts", right_ts="rts",
        upper_sec=600,
    )
    naive = (
        left.join(right, "user_id")
        .filter(
            (F.col("rts").cast("double") - F.col("lts").cast("double")).between(0, 600)
        )
    )
    assert got.count() == naive.count()
    assert got.count() > 0
    g = {(r.user_id, r.lts, r.rts) for r in got.collect()}
    n = {(r.user_id, r.lts, r.rts) for r in naive.collect()}
    assert g == n


def test_winnow_identical_docs_share_all_fingerprints(spark):
    from etl_weather_spark.operators.dedup import (
        winnow_candidates,
        winnow_fingerprints,
    )

    base = "spark shuffles partition data across executors for wide dependencies"
    rows = [
        (1, base),
        (2, base),                              # exact dup
        (3, base.replace("wide", "wine")),      # near dup: 1-char change
        (4, "completely different content about weather and rainfall totals"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {r.doc_id: set() for r in docs.collect()}
    for r in winnow_fingerprints(docs).collect():
        fps[r.doc_id].add(r.fp)
    assert fps[1] == fps[2]                     # identical → identical sets
    overlap_near = len(fps[1] & fps[3]) / len(fps[1])
    overlap_far = len(fps[1] & fps[4]) / len(fps[1])
    assert overlap_near >= 0.5                  # 1-char edit keeps most
    assert overlap_far < 0.2                    # unrelated shares few

    cands = winnow_candidates(docs, min_shared=5)
    pairs = {(r.id_a, r.id_b) for r in cands.collect()}
    assert (1, 2) in pairs and (1, 3) in pairs
    assert (1, 4) not in pairs


def test_winnow_guarantee_short_doc(spark):
    # docs shorter than k+window-1 still fingerprint (no empty arrays)
    from etl_weather_spark.operators.dedup import winnow_fingerprints

    docs = spark.createDataFrame([(1, "tiny"), (2, "")], "doc_id long, text string")
    got = winnow_fingerprints(docs).groupBy("doc_id").count().collect()
    assert {r.doc_id for r in got} == {1, 2}


def test_asof_union_matches_merge_asof_randomized(spark):
    """asof_join_union (union+window, the scale path) must agree with
    pandas merge_asof backward semantics on randomized keyed series."""
    import numpy as np
    import pandas as pd

    from etl_weather_spark.operators.joins import asof_join_union

    rng = np.random.default_rng(7)
    for trial in range(3):
        lts = np.sort(rng.choice(np.arange(0, 5000), size=80, replace=False))
        rts = np.sort(rng.choice(np.arange(0, 5000), size=40, replace=False))
        keys_l = rng.integers(0, 3, size=80)
        keys_r = rng.integers(0, 3, size=40)
        lpd = pd.DataFrame({"k": keys_l, "t": lts, "lv": rng.normal(size=80)})
        rpd = pd.DataFrame({"k": keys_r, "t": rts, "rv": rng.normal(size=40)})

        left = spark.createDataFrame(lpd.assign(t=lpd.t.astype("int64")))
        right = spark.createDataFrame(rpd.assign(t=rpd.t.astype("int64")))
        got = (
            asof_join_union(left, right, on="t", by=["k"], value_cols=["rv"])
            .orderBy("k", "t")
            .collect()
        )

        expected = pd.merge_asof(
            lpd.sort_values("t"), rpd.sort_values("t"),
            on="t", by="k", direction="backward",
        ).sort_values(["k", "t"])
        exp_pairs = list(
            zip(expected.k, expected.t,
                [None if pd.isna(v) else round(v, 9) for v in expected.rv])
        )
        got_pairs = [
            (r.k, r.t, None if r.rv_asof is None else round(r.rv_asof, 9))
            for r in got
        ]
        assert sorted(got_pairs) == sorted(exp_pairs), f"trial {trial}"


def test_connected_components_chains_and_isolates(spark):
    from etl_weather_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        # chain 1-2-3, pair 10-11, chain 20-21-22-23 (via 21-22 bridge)
        [(1, 2), (2, 3), (10, 11), (20, 21), (22, 23), (21, 22)],
        "id_a long, id_b long",
    )
    expected = {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20, 23: 20,
    }
    # driver-side union-find path (small graph)
    got = {r.node: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == expected
    # distributed label-propagation path (threshold forced off)
    got_dist = {
        r.node: r.cluster_id
        for r in connected_components(pairs, local_threshold=0).collect()
    }
    assert got_dist == expected


def test_large_small_star_round_count_on_chain(spark):
    """Kiveris large-star/small-star must converge in O(log^2 n) rounds
    on a 1000-node CHAIN — the adversarial case where naive min-label
    propagation needs ~1000 rounds (one per hop of graph diameter)."""
    from etl_weather_spark.operators.dedup import cc_large_small_star

    n = 1000
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    stats: dict = {}
    got = {
        r.node: r.cluster_id
        for r in cc_large_small_star(pairs, stats=stats).collect()
    }
    assert got == {i: 0 for i in range(n)}
    # O(log^2 n) with a practical constant ~1: a diameter-bound
    # algorithm would need ~1000 rounds here
    assert stats["rounds"] <= 15, stats


def test_large_small_star_star_and_selfloop_graphs(spark):
    from etl_weather_spark.operators.dedup import cc_large_small_star

    # already a star: hub 0 with 50 leaves — must be stable, 2 rounds
    stats: dict = {}
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 51)], "id_a long, id_b long"
    )
    got = {
        r.node: r.cluster_id
        for r in cc_large_small_star(star, stats=stats).collect()
    }
    assert got == {i: 0 for i in range(51)}
    assert stats["rounds"] <= 3, stats

    # self-loops only: every node is its own singleton cluster
    loops = spark.createDataFrame(
        [(7, 7), (9, 9)], "id_a long, id_b long"
    )
    got = {r.node: r.cluster_id for r in cc_large_small_star(loops).collect()}
    assert got == {7: 7, 9: 9}

    # string ids order lexicographically, same as the union-find path
    spairs = spark.createDataFrame(
        [("doc_b", "doc_a"), ("doc_b", "doc_c")], "id_a string, id_b string"
    )
    got = {r.node: r.cluster_id for r in cc_large_small_star(spairs).collect()}
    assert got == {"doc_a": "doc_a", "doc_b": "doc_a", "doc_c": "doc_a"}


def test_simhash_band_pairs_pigeonhole(spark):
    """Manku-style banding: any pair within hamming<=3 is guaranteed
    found (some 16-bit band untouched); pairs differing in every band
    are not candidates; candidates beyond max_hamming are filtered."""
    from etl_weather_spark.operators.dedup import simhash_band_pairs

    base_hi, base_lo = 0x12345678, 0x9ABCDEF0
    rows = [
        (1, base_hi, base_lo),
        # hamming 3: flip 3 bits inside ONE band (lo bits 0,1,2)
        (2, base_hi, base_lo ^ 0b111),
        # hamming 2: flip one bit in two different bands
        (3, base_hi ^ (1 << 20), base_lo ^ 1),
        # hamming 4 spread across ALL four bands: never a candidate
        (4, base_hi ^ (1 << 0) ^ (1 << 16), base_lo ^ (1 << 0) ^ (1 << 16)),
        # hamming 5 concentrated in one band: candidate, filtered by verify
        (5, base_hi, base_lo ^ 0b11111),
        # unrelated signature
        (6, 0x0F0F0F0F, 0x33CC33CC),
    ]
    sigs = spark.createDataFrame(rows, "doc_id long, sig_hi long, sig_lo long")
    got = {
        (r.id_a, r.id_b): r.hamming for r in simhash_band_pairs(sigs).collect()
    }
    assert got[(1, 2)] == 3
    assert got[(1, 3)] == 2
    assert (1, 4) not in got  # differs in every band AND hamming 4
    assert (1, 5) not in got  # candidate by band0, rejected by verify
    assert (2, 5) in got  # 0b111 vs 0b11111 differ in 2 bits
    assert all(h <= 3 for h in got.values())


def test_simhash_max_hamming_validation(spark):
    """The 4-band pigeonhole only guarantees recall for hamming <= 3;
    a larger threshold must raise, not silently lose pairs."""
    import pytest

    from etl_weather_spark.operators.dedup import simhash_band_pairs

    sigs = spark.createDataFrame([(1, 0, 0)], "doc_id long, sig_hi long, sig_lo long")
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_band_pairs(sigs, max_hamming=4)


def test_simhash_hot_band_cap_recall_lossless_and_bounded(spark):
    """Adversarial boilerplate corpus: every doc shares band 0 (one hot
    bucket) but differs randomly in the other 48 bits. The hot-band
    refinement must (a) keep recall EXACTLY equal to the brute-force
    hamming oracle — including planted pairs whose ONLY shared band is
    the hot one — and (b) collapse the f²/2 candidate expansion."""
    import random

    from etl_weather_spark.operators.dedup import (
        simhash_band_candidates,
        simhash_band_pairs,
    )

    rng = random.Random(99)
    shared_band0 = 0xBEEF  # low 16 bits of sig_lo, identical everywhere
    rows = []
    for i in range(120):
        upper48 = rng.getrandbits(48)
        sig = (upper48 << 16) | shared_band0
        rows.append((i, sig >> 32, sig & 0xFFFFFFFF))
    # planted near-dups: flip ONE bit in each of bands 1, 2, 3 — the
    # pair's only shared band is the hot band 0, so finding it requires
    # the sub-band path, not a lucky cold band.
    for i, base_id in enumerate([0, 7, 33]):
        hi, lo = rows[base_id][1], rows[base_id][2]
        sig = (hi << 32) | lo
        sig ^= (1 << (16 + 5 * i)) ^ (1 << (32 + 3 * i)) ^ (1 << (48 + 7 * i))
        rows.append((1000 + i, sig >> 32, sig & 0xFFFFFFFF))
    sigs = spark.createDataFrame(rows, "doc_id long, sig_hi long, sig_lo long")

    def brute(rows):
        out = set()
        for a in range(len(rows)):
            for b in range(a + 1, len(rows)):
                ia, ha, la = rows[a]
                ib, hb, lb = rows[b]
                d = bin(((ha << 32) | la) ^ ((hb << 32) | lb)).count("1")
                if d <= 3:
                    out.add((min(ia, ib), max(ia, ib)))
        return out

    expected = brute(rows)
    assert len(expected) >= 3  # the planted pairs are in play
    capped = {
        (r.id_a, r.id_b)
        for r in simhash_band_pairs(sigs, hot_band_cap=10).collect()
    }
    uncapped = {(r.id_a, r.id_b) for r in simhash_band_pairs(sigs).collect()}
    assert capped == expected == uncapped
    # candidate bound: the uncapped hot bucket expands ~f²/2; the capped
    # path scatters boilerplate agreement across 2^12 sub-values
    n_uncapped = simhash_band_candidates(sigs).count()
    n_capped = simhash_band_candidates(sigs, hot_band_cap=10).count()
    assert n_uncapped >= (120 * 119) // 2
    assert n_capped < n_uncapped // 10, (n_capped, n_uncapped)


def test_simhash_cross_pairs_hot_band_cap_recall_lossless(spark):
    """Cross-side banding with a boilerplate-hot INDEX bucket: capped
    pairs == uncapped == brute force over index x new, including a
    planted pair whose only shared band is the hot one."""
    import random

    from etl_weather_spark.operators.dedup import simhash_cross_pairs

    rng = random.Random(7)
    shared = 0xFACE
    idx_rows, new_rows = [], []
    for i in range(80):
        sig = (rng.getrandbits(48) << 16) | shared
        idx_rows.append((i, sig >> 32, sig & 0xFFFFFFFF))
    for i in range(20):
        sig = (rng.getrandbits(48) << 16) | shared
        new_rows.append((500 + i, sig >> 32, sig & 0xFFFFFFFF))
    # planted cross near-dup: new row = index row 3 with one bit flipped
    # in each of bands 1, 2, 3 (only the hot band 0 is shared)
    base = (idx_rows[3][1] << 32) | idx_rows[3][2]
    tweaked = base ^ (1 << 20) ^ (1 << 40) ^ (1 << 60)
    new_rows.append((999, tweaked >> 32, tweaked & 0xFFFFFFFF))

    def sigdf(rows):
        return spark.createDataFrame(rows, "doc_id long, sig_hi long, sig_lo long")

    def brute():
        out = set()
        for ii, ih, il in idx_rows:
            for ni, nh, nl in new_rows:
                d = bin(((ih << 32) | il) ^ ((nh << 32) | nl)).count("1")
                if d <= 3:
                    out.add((ii, ni))
        return out

    expected = brute()
    assert (3, 999) in expected
    capped = {
        (r.index_id, r.new_id)
        for r in simhash_cross_pairs(
            sigdf(idx_rows), sigdf(new_rows), hot_band_cap=10
        ).collect()
    }
    uncapped = {
        (r.index_id, r.new_id)
        for r in simhash_cross_pairs(sigdf(idx_rows), sigdf(new_rows)).collect()
    }
    assert capped == expected == uncapped


def test_widen_narrow_input_fans_out_and_preserves_rows(spark):
    from etl_weather_spark.operators.dedup import widen_narrow_input

    df = spark.createDataFrame([(i, f"d{i}") for i in range(100)], "id long, t string").coalesce(1)
    wide = widen_narrow_input(df, "id")
    assert wide.rdd.getNumPartitions() > 1
    assert wide.count() == 100
    # already-wide input passes through untouched (no extra shuffle)
    assert widen_narrow_input(wide, "id") is wide


def test_connected_components_matches_union_find_randomized(spark):
    """Property: distributed label propagation == classic union-find."""
    import random

    from etl_weather_spark.operators.dedup import connected_components

    rng = random.Random(7)
    for trial in range(3):
        n_nodes = rng.randint(5, 60)
        n_edges = rng.randint(1, 80)
        pairs = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        if not pairs:
            continue

        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {v for p in pairs for v in p}
        # canonical label = min node id in the component
        comp = {}
        for v in touched:
            comp.setdefault(find(v), []).append(v)
        expected = {
            v: min(members) for members in comp.values() for v in members
        }

        pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
        got = {
            r.node: r.cluster_id for r in connected_components(pdf).collect()
        }
        assert got == expected, f"trial {trial} (local path)"
        got_dist = {
            r.node: r.cluster_id
            for r in connected_components(pdf, local_threshold=0).collect()
        }
        assert got_dist == expected, f"trial {trial} (distributed path)"


def test_simhash_portable_semantics(spark):
    """Portable (md5) SimHash: identical docs → identical signature;
    near-dup docs → small hamming distance; unrelated → large."""
    from etl_weather_spark.operators.dedup import simhash64_portable

    base = "spark shuffles partition data across executors for wide dependencies"
    rows = [
        (1, base),
        (2, base),
        (3, base.replace("wide", "wine")),
        (4, "completely different content about weather and rainfall totals"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r.doc_id: (r.sig_hi, r.sig_lo) for r in simhash64_portable(docs).collect()}

    def ham(a, b):
        return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")

    assert sigs[1] == sigs[2]
    assert ham(sigs[1], sigs[3]) < ham(sigs[1], sigs[4])
    assert ham(sigs[1], sigs[3]) <= 16
    # halves stay in unsigned-32 range (portable across engines)
    for hi, lo in sigs.values():
        assert 0 <= hi < 1 << 32 and 0 <= lo < 1 << 32


def test_verify_candidates_jaccard_prunes_and_scores(spark):
    """Verify stage: scores ONLY the proposed pairs, filters below
    threshold, and agrees with the full self-join on surviving pairs."""
    from pyspark.sql import functions as F

    from etl_weather_spark.operators.dedup import (
        ngram_jaccard_pairs,
        verify_candidates_jaccard,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy cat today"),
        (3, "an entirely different sentence about database query planning"),
        (4, "the quick brown fox jumps over the lazy dog today"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # candidates: one true near-dup pair, one junk pair; pair (1,4)
    # deliberately NOT proposed — verify must not resurrect it
    cand = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    got = {(r.id_a, r.id_b): r.jaccard
           for r in verify_candidates_jaccard(docs, cand, min_jaccard=0.5).collect()}
    assert set(got) == {(1, 2)}
    full = {(r.id_a, r.id_b): r.jaccard
            for r in ngram_jaccard_pairs(docs, min_jaccard=0.5).collect()}
    assert got[(1, 2)] == full[(1, 2)]


def test_verified_pipelines_detect_planted_mutations(spark):
    """Property: for corpora with planted strong near-duplicates (one
    token mutated of 60 → trigram J ≈ 0.9), BOTH fast candidate
    generators feed the verify stage every pair the exact Jaccard>=0.5
    ground truth contains — the recall property the driver oracle
    asserts on the fixed corpus, here under seeded random corpora.
    (At J≈0.9 the 16-hash/4-band miss probability is ~1e-3 per pair;
    weaker pairs — e.g. 3 mutations, J≈0.73 — can legitimately miss a
    band, which is exactly why the registry pipelines verify
    candidates instead of trusting the banding.)"""
    import random

    from etl_weather_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        verify_candidates_jaccard,
        winnow_candidates,
    )

    words = [f"w{i}" for i in range(80)]
    for seed in (1, 7, 42):
        rng = random.Random(seed)
        docs_rows = []
        doc_id = 0
        for _ in range(8):
            base = " ".join(rng.choice(words) for _ in range(60))
            docs_rows.append((doc_id, base)); doc_id += 1
            # planted strong near-dup: mutate 1 of 60 tokens
            toks = base.split()
            toks[rng.randrange(60)] = rng.choice(words)
            docs_rows.append((doc_id, " ".join(toks))); doc_id += 1
        # unrelated noise docs
        for _ in range(10):
            docs_rows.append((doc_id, " ".join(rng.choice(words) for _ in range(40))))
            doc_id += 1
        docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
        truth = {
            (r.id_a, r.id_b)
            for r in ngram_jaccard_pairs(docs, min_jaccard=0.5).collect()
        }
        assert truth, f"seed {seed}: generator planted no >=0.5 pairs"
        mh_cand = minhash_lsh_pairs(docs, num_hashes=16, hash_family="xxhash64")
        mh = {
            (r.id_a, r.id_b)
            for r in verify_candidates_jaccard(docs, mh_cand, min_jaccard=0.5).collect()
        }
        assert mh == truth, f"seed {seed}: minhash missed {truth - mh}"
        wn_cand = winnow_candidates(docs, min_shared=10)
        wn = {
            (r.id_a, r.id_b)
            for r in verify_candidates_jaccard(docs, wn_cand, min_jaccard=0.5).collect()
        }
        assert wn == truth, f"seed {seed}: winnow missed {truth - wn}"


def test_prefix_filter_candidates_complete_and_pruned(spark):
    """Prefix filtering must (a) propose a SUPERSET of every exact
    Jaccard>=t pair — the PPJoin completeness guarantee — and
    (b) propose fewer candidates than the shares-any-shingle join on a
    corpus with a common boilerplate phrase."""
    import random

    from etl_weather_spark.operators.dedup import (
        exploded_shingles,
        ngram_jaccard_pairs,
        prefix_filter_candidates,
        verify_candidates_jaccard,
    )

    words = [f"w{i}" for i in range(60)]
    boiler = "all rights reserved contact us for terms of service apply"
    for seed in (3, 11):
        rng = random.Random(seed)
        rows, doc_id = [], 0
        for _ in range(8):
            base = " ".join(rng.choice(words) for _ in range(40)) + " " + boiler
            rows.append((doc_id, base)); doc_id += 1
            toks = base.split()
            toks[rng.randrange(40)] = rng.choice(words)
            rows.append((doc_id, " ".join(toks))); doc_id += 1
        for _ in range(12):
            rows.append(
                (doc_id, " ".join(rng.choice(words) for _ in range(30)) + " " + boiler)
            )
            doc_id += 1
        docs = spark.createDataFrame(rows, "doc_id long, text string")

        truth = {
            (r.id_a, r.id_b)
            for r in ngram_jaccard_pairs(docs, min_jaccard=0.5).collect()
        }
        assert truth, f"seed {seed}: no planted pairs"
        cand = prefix_filter_candidates(docs, min_jaccard=0.5)
        cand_set = {(r.id_a, r.id_b) for r in cand.collect()}
        assert truth <= cand_set, f"seed {seed}: prefix filter dropped a true pair"

        # every doc shares the boilerplate shingles -> the naive join
        # proposes ~all pairs; the prefix index must propose fewer
        naive_sh = exploded_shingles(docs, keep_cols=["doc_id"], n=3)
        naive_pairs = (
            naive_sh.alias("a")
            .join(naive_sh.alias("b"), "sh")
            .filter("a.doc_id < b.doc_id")
            .select("a.doc_id", "b.doc_id")
            .distinct()
            .count()
        )
        assert len(cand_set) < naive_pairs, (len(cand_set), naive_pairs)

        verified = {
            (r.id_a, r.id_b)
            for r in verify_candidates_jaccard(
                docs, cand, min_jaccard=0.5
            ).collect()
        }
        assert verified == truth

        # the fused generator the graph pipelines compose (round 3) must
        # produce the identical pair set AND the same jaccard values
        from etl_weather_spark.operators.dedup import pruned_jaccard_pairs

        fused = {
            (r.id_a, r.id_b): round(r.jaccard, 9)
            for r in pruned_jaccard_pairs(
                docs, shingle_n=3, min_jaccard=0.5
            ).collect()
        }
        exact = {
            (r.id_a, r.id_b): round(r.jaccard, 9)
            for r in ngram_jaccard_pairs(
                docs, min_jaccard=0.5
            ).collect()
        }
        assert fused == exact


def test_pruned_jaccard_pairs_rejects_zero_threshold(spark):
    import pytest as _pytest

    from etl_weather_spark.operators.dedup import pruned_jaccard_pairs

    docs = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="min_jaccard"):
        pruned_jaccard_pairs(docs, min_jaccard=0.0)


def test_cluster_safe_split_no_cross_split_near_dups(spark, sf_dir):
    """The leakage property itself: every near-dup pair lands in ONE
    split, every cluster is split-homogeneous, every doc is assigned."""
    from etl_weather_spark import queries as q
    from etl_weather_spark.operators.dedup import ngram_jaccard_pairs

    out = {r.doc_id: (r.cluster_id, r.split)
           for r in q.cluster_safe_split(spark, sf_dir).collect()}
    docs = q.load(spark, sf_dir, "documents")
    assert len(out) == docs.count()
    assert set(s for _, s in out.values()) <= {"train", "val", "test"}

    # split is a function of the cluster -> cluster-homogeneous
    by_cluster: dict[int, set] = {}
    for cid, split in out.values():
        by_cluster.setdefault(cid, set()).add(split)
    assert all(len(s) == 1 for s in by_cluster.values())

    # and therefore no near-dup pair straddles two splits
    pairs = ngram_jaccard_pairs(docs, min_jaccard=0.5).collect()
    assert len(pairs) > 0  # corpus has planted near-dups; test is live
    for p in pairs:
        assert out[p.id_a][1] == out[p.id_b][1], (p.id_a, p.id_b)


def test_global_sentence_dedup_keeper_and_rebuild(spark):
    """Corpus-first occurrence survives (lowest doc, then lowest
    position); later occurrences — including within the keeper doc —
    are removed; rebuilt text preserves sentence order; a doc whose
    every sentence is seen earlier elsewhere rebuilds to ''."""
    from etl_weather_spark.operators.dedup import global_sentence_dedup

    rows = [
        # doc 1: sentences A B A  (A repeats within the doc)
        (1, "a1 a2 b1 b2 a1 a2"),
        # doc 2: sentences B C    (B already seen in doc 1)
        (2, "b1 b2 c1 c2"),
        # doc 3: sentences A B    (everything seen earlier -> empty)
        (3, "a1 a2 b1 b2"),
        # doc 4: a short tail window, unique
        (4, "d1 d2 d3"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r.asDict()
        for r in global_sentence_dedup(df, sent_tokens=2).collect()
    }
    d1 = got[1]
    assert (d1["n_sents"], d1["kept_sents"], d1["removed_sents"]) == (3, 2, 1)
    assert d1["dedup_text"] == "a1 a2 b1 b2"
    d2 = got[2]
    assert (d2["kept_sents"], d2["removed_sents"]) == (1, 1)
    assert d2["dedup_text"] == "c1 c2"
    d3 = got[3]
    assert (d3["kept_sents"], d3["removed_sents"]) == (0, 2)
    assert d3["dedup_text"] == "" and d3["n_chars_kept"] == 0
    d4 = got[4]
    # 3 tokens at 2-token grain -> windows "d1 d2" and "d3"
    assert (d4["n_sents"], d4["kept_sents"]) == (2, 2)
    assert d4["dedup_text"] == "d1 d2 d3"


def test_strip_boilerplate_sentences_threshold_and_restore(spark):
    """Sentences at >= frac of a group's docs are stripped group-wide;
    below-threshold repeats survive; a doc made ONLY of boilerplate
    rebuilds to ''; the threshold is inclusive (integer compare)."""
    from etl_weather_spark.operators.dedup import strip_boilerplate_sentences

    hdr = "sub now"
    rows = [
        # srcA: 4 docs, header on 2 (50% >= 40% -> boilerplate)
        (1, "srcA", f"{hdr} w1 w2"),
        (2, "srcA", f"{hdr} w3 w4"),
        (3, "srcA", "w5 w6"),
        (4, "srcA", "w7 w8"),
        # srcB: 4 docs, header on 1 only (25% < 40% -> kept)
        (5, "srcB", f"{hdr} w9 wa"),
        (6, "srcB", "wb wc"),
        (7, "srcB", "wd we"),
        (8, "srcB", "wf wg"),
        # srcC: docs that are ONLY boilerplate (100% frequency)
        (9, "srcC", hdr),
        (10, "srcC", hdr),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r.doc_id: r.asDict()
        for r in strip_boilerplate_sentences(
            df, sent_tokens=2
        ).collect()
    }
    assert got[1]["clean_text"] == "w1 w2" and got[1]["boiler_removed"] == 1
    assert got[2]["clean_text"] == "w3 w4"
    assert got[3]["boiler_removed"] == 0 and got[3]["clean_text"] == "w5 w6"
    # srcB: header below threshold -> survives
    assert got[5]["clean_text"] == f"{hdr} w9 wa" and got[5]["boiler_removed"] == 0
    # srcC: all-boilerplate docs rebuild to ''
    assert got[9]["clean_text"] == "" and got[9]["n_chars_clean"] == 0
    assert got[10]["boiler_removed"] == 1


def test_boilerplate_strip_query_restores_original_text(spark, sf_dir):
    """End-to-end invariant of the seeded query: stripping returns every
    seeded document to byte-identical original text, and leaves unseeded
    documents untouched."""
    from etl_weather_spark.queries import _QUERIES, load

    out = _QUERIES["boilerplate_strip"](spark, sf_dir).select(
        "doc_id", "clean_text"
    )
    orig = load(spark, sf_dir, "documents").select("doc_id", "text")
    diff = (
        out.join(orig, "doc_id")
        .filter(F.col("clean_text") != F.col("text"))
        .count()
    )
    assert diff == 0
