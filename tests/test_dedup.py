"""Dedup operators: planted duplicates must be found; clean corpora
must stay clean."""

import pytest
from pyspark.sql import functions as F

from llogtail_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat "
    "watches from the warm windowsill in the afternoon sun light"
)
NEAR = BASE.replace("lazy", "sleepy")  # one word differs
FAR = (
    "completely different content about spark shuffles partitions "
    "broadcast joins catalyst optimizer whole stage codegen arrow batches"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, BASE), (2, BASE), (3, "  THE  quick brown fox jumps over the lazy dog "
                                  "while the cat watches from the warm windowsill "
                                  "in the afternoon sun light"),
        (4, NEAR), (5, FAR),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_exact_dedup_normalized(corpus):
    out = exact_dedup(corpus)
    kept = sorted(r["doc_id"] for r in out.collect())
    # 1,2,3 normalize to the same text -> keep min id 1; 4 and 5 unique
    assert kept == [1, 4, 5]


def test_minhash_lsh_finds_near_dup(corpus):
    pairs = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_pairs(corpus, num_hashes=16, bands=8).collect()}
    assert (1, 2) in pairs and (1, 3) in pairs  # exact dups always collide
    assert (1, 4) in pairs                      # near dup caught by some band
    assert (1, 5) not in pairs and (4, 5) not in pairs


def test_ngram_jaccard_values(spark):
    df = spark.createDataFrame(
        [(BASE, BASE), (BASE, FAR)], "a string, b string"
    )
    got = [r["jaccard_x10000"] for r in ngram_jaccard(df, "a", "b").collect()]
    assert got[0] == 10000  # identical
    assert got[1] == 0      # disjoint shingles


def test_embedding_near_dup_planted(spark):
    from llogtail_spark.operators.dedup import embedding_near_dup_pairs

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0, 0.0]),  # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),     # orthogonal
    ]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    pairs = {(r["id_a"], r["id_b"]) for r in
             embedding_near_dup_pairs(emb, threshold_x10000=9500).collect()}
    assert pairs == {(1, 2)}


def test_minhash_portable_mode_matches_xxhash_semantics(corpus):
    """Portable hash family finds the same planted near-dups as the
    engine-native one (different hashes, same LSH structure)."""
    pairs = {(r["id_a"], r["id_b"]) for r in
             minhash_lsh_pairs(corpus, num_hashes=16, bands=8,
                               hash_mode="portable").collect()}
    assert (1, 2) in pairs and (1, 3) in pairs
    assert (1, 4) in pairs
    assert (1, 5) not in pairs and (4, 5) not in pairs


def test_minhash_cap_reps_bounds_hot_bucket(spark):
    """Mass duplication (the motivating production case): 1000 copies
    of one doc land in ONE bucket per band. Uncapped pairing is
    O(k^2) = 499500 pairs; cap_reps=R keeps it O(R*k) while every copy
    still pairs with the first representative (connectivity for
    component resolution)."""
    k, R = 1000, 8
    rows = [(i, "identical mass duplicated content row for bucket cap test")
            for i in range(k)]
    rows.append((5000, "totally different text about unrelated shuffle topics"))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    pairs = minhash_lsh_pairs(df, num_hashes=16, bands=8,
                              hash_mode="portable", cap_reps=R).collect()
    n = len(pairs)
    # reps (8 smallest ids) x all members, dedup: R*k - R*(R+1)/2 pairs
    assert n == R * k - R * (R + 1) // 2
    with_rep0 = {p["id_b"] for p in pairs if p["id_a"] == 0}
    assert with_rep0 == set(range(1, k))  # everyone reaches rep 0
    assert all(p["n_bands_hit"] == 8 for p in pairs)  # exact copies: all bands


def test_simhash_portable_clusters_like_simhash64(spark, corpus):
    from llogtail_spark.operators.dedup import simhash_portable

    sh = {r["doc_id"]: r["simhash"] for r in simhash_portable(corpus).collect()}
    assert sh[1] == sh[2] == sh[3]  # identical normalized word sets

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(sh[1], sh[4]) < hamming(sh[1], sh[5])
    assert 0 <= sh[1] < (1 << 30)


import pytest as _pytest


@_pytest.mark.parametrize("thresh", [2_000_000, 0])  # driver / iterative
def test_resolve_components_known_graph(spark, thresh):
    """chain 1-2-3, pair 5-6, singleton 9: components resolve to the
    min id; keep flags exactly one survivor per component — on BOTH
    the driver union-find path and the distributed iterative path."""
    from llogtail_spark.operators.dedup import resolve_components

    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (5, 6)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 5, 6, 9]], "doc_id long")
    got = {r["doc_id"]: (r["rep"], r["keep"]) for r in
           resolve_components(pairs, nodes,
                              driver_edge_threshold=thresh).collect()}
    assert got == {1: (1, 1), 2: (1, 0), 3: (1, 0),
                   5: (5, 1), 6: (5, 0), 9: (9, 1)}


@_pytest.mark.parametrize("thresh", [2_000_000, 0])
def test_resolve_components_long_chain_converges(spark, thresh):
    """a 12-node path graph (worst-case diameter) still converges to
    one component on both paths (iteration guard on the distributed
    one)."""
    from llogtail_spark.operators.dedup import resolve_components

    n = 12
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    rows = resolve_components(pairs, nodes, driver_edge_threshold=thresh).collect()
    assert all(r["rep"] == 0 for r in rows)
    assert sum(r["keep"] for r in rows) == 1


def test_resolve_components_gate_boundary(spark, monkeypatch):
    """VERDICT r03 #8: drive the driver/distributed gate AT its
    boundary on one graph. The gate compares the doubled edge count
    against 2*driver_edge_threshold, so with 25 undirected pairs
    (50 directed edges): threshold=25 -> driver union-find path,
    threshold=24 -> distributed min-label path. Both paths must
    produce byte-identical (doc_id, rep, keep) output, and the path
    taken is asserted, not assumed."""
    import random

    from llogtail_spark.operators import dedup as D

    calls = []
    orig = D._resolve_components_driver

    def spy(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(D, "_resolve_components_driver", spy)

    rng = random.Random(7)
    pairs_rows = sorted({(rng.randrange(30), rng.randrange(30))
                         for _ in range(40)})[:25]
    pairs = spark.createDataFrame(pairs_rows, "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")

    at_gate = sorted(map(tuple, D.resolve_components(
        pairs, nodes, driver_edge_threshold=25).collect()))
    assert calls == [1], "threshold=25 (50 <= 2*25) must take the driver path"

    # contraction_passes=0 pins the PURE distributed min-label path
    # (with passes > 0 an above-gate graph may legitimately contract
    # back under the gate — covered by the contraction tests below)
    above_gate = sorted(map(tuple, D.resolve_components(
        pairs, nodes, driver_edge_threshold=24,
        contraction_passes=0).collect()))
    assert calls == [1], "threshold=24 (50 > 2*24) must take the distributed path"

    # and the default (contraction enabled) above-gate route must
    # produce the same bytes whichever sub-path it lands on
    contracted = sorted(map(tuple, D.resolve_components(
        pairs, nodes, driver_edge_threshold=24).collect()))

    assert at_gate == above_gate == contracted
    # sanity: singletons kept, every component keeps exactly one
    reps = {}
    for doc, rep, keep in above_gate:
        reps.setdefault(rep, []).append(keep)
    assert all(sum(v) == 1 for v in reps.values())


def test_contract_edges_once_preserves_components(spark):
    """One hash-to-min pass over a representative-star pair set (the
    LSH shape: every member paired with the first R reps) must shrink
    the edge count toward the spanning star while keeping components
    byte-identical — the round-6 scaling fix's core invariant."""
    from llogtail_spark.operators import dedup as D

    # two clusters ({0..9} with reps 0..2, {100..109} with reps
    # 100..102) + an unrelated pair (500, 501)
    rows = []
    for base in (0, 100):
        for rep in range(base, base + 3):
            rows += [(rep, m) for m in range(rep + 1, base + 10)]
    rows.append((500, 501))
    und = spark.createDataFrame(rows, "src long, dst long")
    out = D._contract_edges_once(und).collect()
    assert len(out) < len(rows)                      # it actually shrinks
    assert all(r["src"] < r["dst"] for r in out)     # invariant survives
    # components unchanged: every node still reaches its cluster min
    import collections
    adj = collections.defaultdict(set)
    for r in out:
        adj[r["src"]].add(r["dst"])
        adj[r["dst"]].add(r["src"])

    def comp(seed):
        seen, todo = set(), [seed]
        while todo:
            n = todo.pop()
            if n in seen:
                continue
            seen.add(n)
            todo += list(adj[n])
        return seen

    assert comp(0) == set(range(0, 10))
    assert comp(100) == set(range(100, 110))
    assert comp(500) == {500, 501}


def test_resolve_components_contraction_path(spark, monkeypatch):
    """Above the gate, the contraction passes must re-enter the
    driver union-find path on a star-cluster graph and produce output
    identical to the pure distributed path and to the driver ground
    truth."""
    from llogtail_spark.operators import dedup as D

    calls = []
    orig = D._resolve_components_driver

    def spy(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(D, "_resolve_components_driver", spy)

    # rep-star cluster of 40 nodes x 8 reps (~290 pairs) + singletons
    rows = [(rep, m) for rep in range(8) for m in range(rep + 1, 40)]
    pairs = spark.createDataFrame(rows, "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in range(60)], "doc_id long")

    truth = sorted(map(tuple, D.resolve_components(
        pairs, nodes, driver_edge_threshold=1_000_000).collect()))
    assert calls == [1]

    # gate at 100 < 292 pairs: must contract (~39 spanning edges)
    # and re-enter the driver path rather than looping
    via_contraction = sorted(map(tuple, D.resolve_components(
        pairs, nodes, driver_edge_threshold=100).collect()))
    assert calls == [1, 1], "contraction must re-enter the driver path"

    distributed = sorted(map(tuple, D.resolve_components(
        pairs, nodes, driver_edge_threshold=100,
        contraction_passes=0).collect()))
    assert calls == [1, 1]

    assert truth == via_contraction == distributed
    kept = [doc for doc, rep, keep in truth if keep == 1]
    assert 0 in kept and len(kept) == 1 + (60 - 40)


def test_dedup_pipeline_end_to_end(spark, corpus):
    """pairs -> components -> keep-list over the planted corpus:
    docs 1,2,3 are copies (and 4 a near-dup); 5 is unrelated — the
    survivor set is exactly {1, 5}."""
    from llogtail_spark.operators.dedup import minhash_lsh_pairs, resolve_components

    pairs = minhash_lsh_pairs(corpus, num_hashes=16, bands=8, hash_mode="portable")
    res = resolve_components(pairs, corpus.select("doc_id"))
    kept = sorted(r["doc_id"] for r in res.filter("keep = 1").collect())
    assert kept == [1, 5]


def test_minhash_null_text_rows_dropped_in_both_modes(spark):
    rows = [(1, BASE), (2, None), (3, BASE)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    for mode in ["xxhash64", "portable"]:
        pairs = {(r["id_a"], r["id_b"]) for r in
                 minhash_lsh_pairs(df, num_hashes=16, bands=8,
                                   hash_mode=mode).collect()}
        assert pairs == {(1, 3)}, mode


def test_normalize_whitespace_class_consistent_with_duckdb(spark):
    """The explicit whitespace class must produce the same word
    boundaries in Catalyst, the Python UDF and DuckDB RE2 — including
    on NBSP (NOT whitespace here) and vertical tab (whitespace)."""
    import duckdb

    from llogtail_spark.operators.dedup import WS_CLASS, normalize_text

    tricky = "a b\x0bc  d\te"
    (spark_norm,) = (
        spark.createDataFrame([(tricky,)], "text string")
        .select(normalize_text("text").alias("n")).collect()
    )
    duck_norm = duckdb.connect().execute(
        f"SELECT trim(regexp_replace(lower(?), '{WS_CLASS}', ' ', 'g'))",
        [tricky],
    ).fetchone()[0]
    py_norm = __import__("re").sub("[ \t\n\r\f\x0b]+", " ", tricky.lower()).strip(" ")
    assert spark_norm["n"] == duck_norm == py_norm == "a b c d e"


def _reference_grams(t, n, distinct):
    """The pure-Python word n-gram loop the dedup operators used to
    run in a pandas UDF: the reference word_grams must equal."""
    import re

    if t is None:
        return None
    ws = re.sub("[ \t\n\r\f\x0b]+", " ", t.lower()).strip(" ").split(" ")
    k = max(len(ws) - (n - 1), 1)
    gs = [" ".join(ws[i:i + n]) for i in range(k)]
    # dict.fromkeys == array_distinct: dedup, first-occurrence order
    return list(dict.fromkeys(gs)) if distinct else gs


def test_word_grams_match_the_python_reference(spark):
    """word_grams (JVM expressions) equals the Python reference row for
    row: NULL, "", whitespace-only, docs shorter than n, every
    whitespace-class character, NBSP (not whitespace here) and the
    case-mapping edge cases, for n=3 and 5, as exploded rows and as
    distinct arrays."""
    import random
    from collections import Counter

    from llogtail_spark.operators.dedup import word_grams

    ws_chars = [" ", "\t", "\n", "\r", "\f", "\x0b"]
    # dotted capital I, capital and final sigma, sharp s, titlecase dz,
    # the fi ligature, the Kelvin sign, NBSP inside a word
    words = ["a", "B", "cd", "cd", "\u0130", "\u039f\u0394\u039f\u03a3",
             "\u03a3", "\u00df", "\u01c5", "\ufb01", "\u212a",
             "x\u00a0y", "\u00a0", "STRASSE", "dup", "dup"]
    texts = [None, "", " ", "\t\n\r\f\x0b", "    ", "one", "one two",
             "one two three four", "\u039f\u0394\u039f\u03a3. \u03a3\u03a3",
             "\u0130stanbul \u01c5emal \ufb01le \u212aelvin Stra\u00dfe"]
    texts += [f"{c}a{c}b{c}c{c}d{c}e{c}" for c in ws_chars]
    rng = random.Random(7)
    for _ in range(3000):
        text = ""
        for _ in range(rng.randrange(0, 12)):
            text += rng.choice(words) + "".join(
                rng.choice(ws_chars) for _ in range(rng.randrange(0, 3)))
        texts.append(text)
    df = spark.createDataFrame(list(enumerate(texts)), "id long, text string")
    for n in (3, 5):
        arrays = word_grams(df, "text", n, "_dist")
        exploded = word_grams(df, "text", n, "_g", explode=True)
        got_rows = Counter((r["id"], r["_g"]) for r in exploded.collect())
        want_rows = Counter(
            (i, g) for i, t in enumerate(texts)
            for g in _reference_grams(t, n, False) or [])
        assert got_rows == want_rows, n
        diffs = [
            (r["id"], r["text"]) for r in arrays.collect()
            if r["_dist"] != _reference_grams(r["text"], n, True)
        ]
        assert diffs == [], (n, diffs[:5])


def test_resolve_components_nonconvergence_raises(spark):
    """ADVICE r02: exhausting max_iter with labels still moving must
    fail loudly — silently returning unconverged labels under-dedups
    and diverges from the recursive-CTE oracle."""
    import pytest

    from llogtail_spark.operators.dedup import resolve_components

    n = 12  # chain of diameter 11 cannot converge in 2 rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    with pytest.raises(RuntimeError, match="did not converge"):
        # driver_edge_threshold=0 forces the iterative path the guard
        # protects (the union-find path cannot fail to converge)
        resolve_components(pairs, nodes, max_iter=2, driver_edge_threshold=0)


def test_contamination_hits_semantics(spark):
    """Known overlaps: doc sharing a 3-gram with the benchmark is
    flagged with the right distinct-gram count; clean docs are not."""
    from llogtail_spark.operators.dedup import contamination_hits

    bench = spark.createDataFrame(
        [(1000, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "look the quick brown fox appeared"),      # 2 shared 3-grams
            (2, "entirely unrelated text about spark"),    # clean
            (3, "THE  Quick   BROWN fox jumps here"),      # normalization: 3
            (4, None),                                     # null text: dropped
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["n_hits"] for r in
           contamination_hits(corpus, bench, n=3).collect()}
    assert got == {1: 2, 3: 3}


def test_contamination_plan_broadcasts_benchmark(spark):
    """The corpus side must never shuffle before the hit count: the
    benchmark n-gram set rides a BroadcastExchange, and the only hash
    exchange is the per-doc count agg over matching rows."""
    import os

    import pytest

    import __spark_entry__ as entry

    if not os.path.isdir("/root/testdata/sf0.001"):
        pytest.skip("driver testdata not present")
    df = entry.queries()["decontaminate_docs"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # no Python; the grams' regexp+split is planned once per side
    # (word_grams' own projection, not inlined per gram), and every
    # hash exchange is benchmark/result-sized (benchmark distinct +
    # the two-phase per-doc distinct count over matching rows); the
    # CORPUS scan feeds the broadcast join directly, no corpus shuffle
    assert plan.count("EvalPython") == 0
    assert plan.count("split(") == 2
    assert plan.count("Exchange hashpartitioning") == 3


def test_dup_cluster_histogram_counts(spark):
    """csize * n_clusters == n_docs per row; totals reconcile with the
    input; whitespace-variant texts fold into one cluster."""
    from llogtail_spark.operators.dedup import dup_cluster_histogram

    rows = (
        [(i, "unique text %d" % i) for i in range(10)]
        + [(100 + j, "Dup  Pair") for j in range(2)]      # ws+case variants
        + [(200 + j, "dup pair") for j in range(1)]       # folds with above
        + [(300 + j, "triple") for j in range(3)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["csize"]: (r["n_clusters"], r["n_docs"])
           for r in dup_cluster_histogram(df).collect()}
    assert out == {1: (10, 10), 3: (2, 6)}
    assert sum(v[1] for v in out.values()) == df.count()


def test_dup_cluster_histogram_plan_two_shuffles(spark):
    """Text never shuffles: both exchanges key on small columns (the
    fingerprint, then csize) with partial aggs below each."""
    from llogtail_spark.operators.dedup import dup_cluster_histogram

    df = spark.range(0, 1000).selectExpr(
        "id AS doc_id", "concat('t', id % 100) AS text")
    plan = dup_cluster_histogram(df)._jdf.queryExecution(
    ).executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 2
    # the wide text column is pruned before the first exchange
    import re
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1)


def test_containment_catches_subset_jaccard_misses(spark):
    """A short doc fully embedded in a 4x longer one: containment
    (overlap coefficient) = 10000, while jaccard stays well under a
    7000 verification threshold — the case the asymmetric signal
    exists for."""
    from llogtail_spark.operators.dedup import (
        ngram_jaccard,
        shingle_containment,
    )

    short = "alpha beta gamma delta epsilon zeta"
    long = short + " " + " ".join(f"filler{i} pad{i} word{i}" for i in range(8))
    pairs = spark.createDataFrame(
        [(1, 2, short, long)], "id_a long, id_b long, _ta string, _tb string"
    )
    c = shingle_containment(pairs, "_ta", "_tb").collect()[0]
    j = ngram_jaccard(pairs, "_ta", "_tb").collect()[0]
    assert c["containment_x10000"] == 10000
    assert j["jaccard_x10000"] < 7000


# ------------------------------------------------------- fuzzy_join


def _lev(a, b):
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _norm(s):
    import re
    return re.sub(r"[ \t\n\r\f\x0b]+", " ", s.lower()).strip()


def _bf_pairs(rows, max_dist, q=3):
    out = {}
    norm = {d: _norm(t) for d, t in rows if t is not None}
    ids = sorted(d for d in norm if len(norm[d]) >= q)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            dd = _lev(norm[a], norm[b])
            if dd <= max_dist:
                out[(a, b)] = dd
    return out


def test_fuzzy_join_matches_bruteforce_planted(spark):
    from llogtail_spark.operators.dedup import fuzzy_join

    base = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, base),
        (2, base.replace("quick", "quback")),         # ed 2 (sub + ins)
        (3, base + "!"),                              # ed 1
        (4, "The  Quick brown fox jumps over the lazy dog"),  # ed 0 normed
        (5, base.replace("brown fox", "green cat")),  # ed > 2
        (6, "completely unrelated string here"),
        (7, None),                                    # NULL drops
        (8, "ab"),                                    # < q chars drops
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {(r["doc_a"], r["doc_b"]): r["dist"]
           for r in fuzzy_join(df).collect()}
    assert got == _bf_pairs(rows, 2)
    assert got[(1, 3)] == 1 and got[(1, 4)] == 0 and got[(1, 2)] == 2
    assert (1, 5) not in got


def test_fuzzy_join_randomized_no_false_negatives(spark):
    # deterministic pseudo-random corpus with planted edits at the
    # threshold boundary: the prefix filter must lose NOTHING.
    import random

    from llogtail_spark.operators.dedup import fuzzy_join

    rng = random.Random(42)
    alpha = "abcdefgh "
    rows = []
    did = 0
    for _ in range(30):
        s = "".join(rng.choice(alpha) for _ in range(rng.randint(10, 30)))
        rows.append((did, s)); did += 1
        if rng.random() < 0.6:  # plant a <=2-edit neighbor
            t = list(s)
            for _ in range(rng.randint(1, 2)):
                op = rng.choice("sid")
                pos = rng.randrange(len(t))
                if op == "s":
                    t[pos] = rng.choice(alpha)
                elif op == "i":
                    t.insert(pos, rng.choice(alpha))
                elif len(t) > 4:
                    del t[pos]
            rows.append((did, "".join(t))); did += 1
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {(r["doc_a"], r["doc_b"]): r["dist"]
           for r in fuzzy_join(df).collect()}
    assert got == _bf_pairs(rows, 2)


def test_fuzzy_join_plan_no_cartesian_no_python(spark):
    from llogtail_spark.operators.dedup import fuzzy_join

    rows = [(i, f"string number {i} with shared structure")
            for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    plan = fuzzy_join(df)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


# words for the numpy char fold: non-ASCII (BMP) letters, the empty
# word and one 20,000-char token among short ones
FOLD_WORDS = ["", "a", "café", "naïve", "Ωmega", "日本語", "x" * 20_000,
              "ab" * 7, "", "zz9"]


def test_char_fold_np_equals_char_fold_hash(spark):
    """The Arrow UDFs' numpy fold and the Catalyst char_fold_hash
    agree word for word."""
    from llogtail_spark.functions.portable_hash import (
        char_fold_hash, char_fold_np,
    )

    df = spark.createDataFrame([(i, w) for i, w in enumerate(FOLD_WORDS)],
                               "i int, w string")
    got = [r["h"] for r in
           df.select("i", char_fold_hash("w").alias("h")).orderBy("i").collect()]
    assert char_fold_np(FOLD_WORDS).tolist() == got


def _band_keys_reference(text, num_hashes, bands, shingle_n):
    """Per-doc pure-Python band keys, straight from the portable
    family's recurrences (functions/portable_hash.py)."""
    import re

    from llogtail_spark.functions import portable_hash as ph

    M, BM = ph.MOD, ph.BAND_MULT
    words = re.sub("[ \t\n\r\f\x0b]+", " ", (text or "").lower()).strip(" ").split(" ")

    def fold(w):
        h = 0
        for c in w:
            h = (h * ph.MULT + ord(c)) % M
        return h

    P = shingle_n - 1
    hw = [fold(w) for w in words] + [0] * P
    shingles = []
    for i in range(max(len(words) - P, 1)):
        v = 0
        for x in hw[i:i + shingle_n]:
            v = (v * BM + x) % M
        shingles.append(v)
    sig = [min((v * a + b) % M for v in shingles)
           for a, b in map(ph.seed_mults, range(num_hashes))]
    rpb = num_hashes // bands
    keys = []
    for b in range(bands):
        kv = 0
        for r in range(rpb):
            kv = (kv * BM + sig[b * rpb + r]) % M
        keys.append(kv)
    return keys


def test_portable_band_keys_with_long_token_null_and_empty(spark):
    """The portable band keys equal the per-doc reference on a batch
    holding a 20,000-char token, a NULL text and "" beside ordinary
    texts."""
    from llogtail_spark.operators.dedup import _portable_band_keys_udf

    texts = [BASE, "word " + "y" * 20_000 + " tail end", None, "",
             "Café  naïve\tΩmega", "one", "two words"]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    udf = _portable_band_keys_udf(32, 8, 3)
    got = [list(r["k"]) for r in
           df.select("i", udf("text").alias("k")).orderBy("i").collect()]
    assert got == [_band_keys_reference(t, 32, 8, 3) for t in texts]
