"""KMV distinct-count sketch: exactness below capacity, estimation
accuracy above it, merge-invariance under repartition, and the
rank-limit (WindowGroupLimit) plan shape."""

import math

import pytest
from pyspark.sql import functions as F

from llogtail_spark.operators.sketches import KMV_K, kmv_distinct


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_exact_below_capacity(spark):
    # 10 distinct tokens < K=64 -> the sketch IS the exact count.
    rows = [
        (1, "a", "t0 t1 t2 t3 t4"),
        (2, "a", "t3 t4 t5 t6 t7 t8 t9"),  # overlap dedupes
        (3, "b", "x0 x1 x0 x1"),
    ]
    out = {r["source"]: r for r in kmv_distinct(_docs(spark, rows)).collect()}
    assert out["a"]["n_kept"] == 10
    assert out["a"]["est_distinct"] == 10
    assert out["b"]["n_kept"] == 2
    assert out["b"]["est_distinct"] == 2


def test_estimate_accuracy_above_capacity(spark):
    # one group with n_true >> K: the estimate must land within the
    # ~1/sqrt(K) relative-error envelope (generous 4-sigma bound).
    n_true = 5000
    text = " ".join(f"tok{i}" for i in range(n_true))
    out = kmv_distinct(_docs(spark, [(1, "big", text)])).collect()[0]
    assert out["n_kept"] == KMV_K
    rel_err = abs(out["est_distinct"] - n_true) / n_true
    assert rel_err < 4 / math.sqrt(KMV_K), (out["est_distinct"], n_true)


def test_merge_invariance_under_layout(spark):
    # the K-min-of-union == K-min-of-part-K-mins property means the
    # result cannot depend on partitioning.
    rows = [(i, f"s{i % 3}", " ".join(f"w{i}_{j}" for j in range(40)))
            for i in range(60)]
    df = _docs(spark, rows)
    a = sorted(map(tuple, kmv_distinct(df.repartition(1)).collect()))
    b = sorted(map(tuple, kmv_distinct(df.repartition(16, "doc_id")).collect()))
    assert a == b


def test_duplicate_tokens_do_not_inflate(spark):
    # mass duplication of one token (the hot-key case at scale) must
    # not move the estimate: hashes dedupe before ranking.
    base = " ".join(f"u{i}" for i in range(200))
    spam = " ".join(["dup"] * 5000)
    one = kmv_distinct(_docs(spark, [(1, "s", base + " dup")])).collect()[0]
    many = kmv_distinct(
        _docs(spark, [(1, "s", base + " " + spam)])
    ).collect()[0]
    assert one["est_distinct"] == many["est_distinct"]
    assert one["kth_hash"] == many["kth_hash"]


def test_rank_limit_pushed_below_exchange(spark):
    # the scale contract: Spark must plan WindowGroupLimit (per-
    # partition top-K heaps) so the per-group shuffle carries <= K
    # rows per upstream partition, never the whole distinct set.
    rows = [(i, f"s{i % 2}", " ".join(f"w{i}_{j}" for j in range(80)))
            for i in range(20)]
    plan = kmv_distinct(_docs(spark, rows))._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_countmin_upper_bounds_truth(spark):
    """CM never underestimates: for every probe token present in the
    corpus, est >= exact count; and the overestimate respects the
    eps*N bound at 4-row confidence."""
    from collections import Counter

    from llogtail_spark.operators.sketches import (
        CM_PROBES,
        CM_WIDTH,
        countmin_freq,
    )

    words = ["join", "hash", "scan", "window", "the", "vector", "stream"]
    rows, truth, total = [], Counter(), 0
    for i in range(300):
        text = " ".join(words[j % len(words)] for j in range(i % 9 + 1))
        for w in text.split():
            truth[w] += 1
            total += 1
        rows.append((i, "s", text))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    est = {r["token"]: r["est_count"] for r in countmin_freq(df).collect()}
    eps_n = (2.718 / CM_WIDTH) * total
    for t in CM_PROBES:
        assert est[t] >= truth[t], (t, est[t], truth[t])
        assert est[t] <= truth[t] + eps_n, (t, est[t], truth[t], eps_n)


def test_countmin_merge_invariance(spark):
    from llogtail_spark.operators.sketches import countmin_freq

    rows = [(i, "s", " ".join(f"w{j}" for j in range(i % 20)))
            for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    a = sorted(map(tuple, countmin_freq(df.repartition(1)).collect()))
    b = sorted(map(tuple, countmin_freq(df.repartition(16, "doc_id")).collect()))
    assert a == b


def test_countmin_sketch_is_fixed_size(spark):
    """The materialized sketch is DEPTH*WIDTH rows regardless of
    input — the probe join must see a broadcast, never a shuffled
    join against the corpus."""
    from llogtail_spark.operators.sketches import countmin_freq

    rows = [(i, "s", "join hash scan") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    plan = countmin_freq(df)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_heavy_hitters_exercises_mg_prune_small_k(spark):
    """With k smaller than the distinct-token count the per-partition
    Misra-Gries prune actually fires; the result must STILL equal the
    exact brute-force definition (sketch errors can only add false
    candidates, which the exact rerank removes)."""
    import duckdb

    from llogtail_spark.operators.sketches import (
        heavy_hitters,
        heavy_hitters_sql,
    )

    rows = []
    # zipf-ish: token t_i appears ~ 2000/i times; plus a NULL doc
    for i in range(1, 60):
        rows += [(len(rows) + j, f"t{i}") for j in range(2000 // i)]
    docs = [(i, " ".join(t for _, t in rows[i::7])) for i in range(7)]
    docs.append((7, None))
    pdf_cols = "doc_id long, text string"
    sdf = spark.createDataFrame(docs, pdf_cols).repartition(4)

    got = sorted(map(tuple, heavy_hitters(sdf, k=5).collect()))
    con = duckdb.connect()
    import pandas as pd

    con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text"]))
    want = sorted(map(tuple, con.execute(heavy_hitters_sql(k=5)).fetchall()))
    assert got == want
    assert 0 < len(got) <= 5


def test_heavy_hitters_empty_corpus(spark):
    from llogtail_spark.operators.sketches import heavy_hitters

    sdf = spark.createDataFrame([(1, ""), (2, None)],
                                "doc_id long, text string")
    assert heavy_hitters(sdf).count() == 0


# ---------------------------------------------------------------- HLL


def _py_hll(groups):
    """Pure-Python replication of hll_distinct's register file and
    estimator — independent of both Spark and DuckDB."""
    from llogtail_spark.functions.portable_hash import MOD, MULT, order_mults
    from llogtail_spark.operators.sketches import (
        HLL_LC, HLL_M, HLL_NUMER, HLL_RMAX,
    )

    a, b = order_mults(9)
    out = {}
    for grp, texts in groups.items():
        regs = {}
        for text in texts:
            for tok in text.lower().split():
                h = 0
                for c in tok:
                    h = (h * MULT + ord(c)) % MOD
                hv = (h * a + b) % MOD
                bkt, w = hv % HLL_M, hv // HLL_M
                rho = HLL_RMAX if w == 0 else HLL_RMAX - w.bit_length()
                regs[bkt] = max(regs.get(bkt, 0), rho)
        n_seen = len(regs)
        s = sum(1 << (HLL_RMAX - m) for m in regs.values())
        s += (HLL_M - n_seen) * (1 << HLL_RMAX)
        raw = HLL_NUMER // (1000000 * s)
        est = (
            HLL_LC[HLL_M - n_seen - 1]
            if n_seen < HLL_M and raw <= 5 * HLL_M // 2
            else raw
        )
        out[grp] = (n_seen, s, raw, est)
    return out


def test_hll_matches_python_reference(spark):
    from llogtail_spark.operators.sketches import hll_distinct

    rows = [
        (1, "a", "alpha beta gamma delta epsilon zeta"),
        (2, "a", "beta gamma eta theta iota"),
        (3, "b", " ".join(f"tok{i}" for i in range(300))),
    ]
    expect = _py_hll({
        "a": [rows[0][2], rows[1][2]], "b": [rows[2][2]],
    })
    got = {
        r["source"]: (r["n_seen"], r["harmonic_scaled"],
                      r["est_raw"], r["est_distinct"])
        for r in hll_distinct(_docs(spark, rows)).collect()
    }
    assert got == expect


def test_hll_linear_counting_regime(spark):
    # tiny cardinality: raw HLL is biased ~2x high; the literal-table
    # linear-counting branch must bring it within a few counts.
    from llogtail_spark.operators.sketches import hll_distinct

    text = " ".join(f"w{i}" for i in range(20))
    out = hll_distinct(_docs(spark, [(1, "s", text)])).collect()[0]
    assert out["est_raw"] > 25          # documents the raw bias
    assert abs(out["est_distinct"] - 20) <= 5


def test_hll_estimate_accuracy_large(spark):
    from llogtail_spark.operators.sketches import HLL_M, hll_distinct

    n_true = 5000
    text = " ".join(f"tok{i}" for i in range(n_true))
    out = hll_distinct(_docs(spark, [(1, "big", text)])).collect()[0]
    rel_err = abs(out["est_distinct"] - n_true) / n_true
    assert rel_err < 4 * 1.04 / math.sqrt(HLL_M), out["est_distinct"]


def test_hll_layout_and_duplication_invariance(spark):
    # registers are max-merge: repartitioning cannot move them, and
    # mass duplication of one token cannot inflate them.
    from llogtail_spark.operators.sketches import hll_distinct

    rows = [(i, f"s{i % 3}", " ".join(f"w{i}_{j}" for j in range(40)))
            for i in range(60)]
    df = _docs(spark, rows)
    a = sorted(map(tuple, hll_distinct(df.repartition(1)).collect()))
    b = sorted(map(tuple, hll_distinct(df.repartition(16, "doc_id")).collect()))
    assert a == b
    spam = _docs(spark, rows + [(999, "s0", " ".join(["w0_0"] * 5000))])
    c = sorted(map(tuple, hll_distinct(spam).collect()))
    assert a == c


def test_hll_register_table_is_fixed_size(spark):
    # the shuffled register relation is <= m rows per group no matter
    # the input size - the mergeable-summary property.
    from llogtail_spark.operators.sketches import HLL_M, hll_distinct

    text = " ".join(f"tok{i}" for i in range(3000))
    out = hll_distinct(_docs(spark, [(1, "s", text)])).collect()[0]
    assert out["n_seen"] <= HLL_M
    plan = (
        hll_distinct(_docs(spark, [(1, "s", text)]))
        ._jdf.queryExecution().executedPlan().toString()
    )
    # pure Catalyst: no Python eval anywhere
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# KMV set algebra
# ---------------------------------------------------------------------------


def test_kmv_set_ops_exact_below_capacity(spark):
    # union(50) < K=64 -> every output is EXACT set arithmetic:
    # a = t0..t29, b = t20..t49: inter 10, union 50, J = 2000 bp.
    from llogtail_spark.operators.sketches import kmv_set_ops

    rows = [(1, "a", " ".join(f"t{i}" for i in range(30))),
            (2, "b", " ".join(f"t{i}" for i in range(20, 50)))]
    out = kmv_set_ops(_docs(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["src_a"], r["src_b"]) == ("a", "b")
    assert r["n_common"] == 10
    assert r["union_est"] == 50
    assert r["inter_est"] == 10
    assert r["jaccard_bp"] == 2000


def test_kmv_set_ops_estimator_envelope(spark):
    # 5 independent replicas of (3000 distinct per side, 1500
    # shared): true J = 1/3, union 4500 in each. Any single
    # deterministic draw can sit a few sigma out (the k-th-order-
    # statistic rel sigma is ~1/sqrt(K) ~ 12.5%; replica p0 of this
    # very family lands +52%), so the per-pair bound is loose (6
    # sigma) and the REAL assertion is on the replica mean, where an
    # estimator bias would show through: mean union within 25%, mean
    # Jaccard within 0.12 of truth.
    from llogtail_spark.operators.sketches import kmv_set_ops

    reps = 5
    rows = []
    for p in range(reps):
        a = " ".join(f"p{p}s{i}" for i in range(1500)) + " " + \
            " ".join(f"p{p}a{i}" for i in range(1500))
        b = " ".join(f"p{p}s{i}" for i in range(1500)) + " " + \
            " ".join(f"p{p}b{i}" for i in range(1500))
        rows += [(2 * p, f"a{p}", a), (2 * p + 1, f"b{p}", b)]
    out = kmv_set_ops(_docs(spark, rows)).collect()
    matched = [r for r in out
               if r["src_a"][0] == "a" and r["src_b"] == "b" + r["src_a"][1:]]
    assert len(matched) == reps
    for r in matched:
        assert abs(r["jaccard_bp"] / 10000 - 1 / 3) < 0.36, r
        assert abs(r["union_est"] - 4500) / 4500 < 0.75, r
    mu = sum(r["union_est"] for r in matched) / reps
    mj = sum(r["jaccard_bp"] for r in matched) / reps / 10000
    assert abs(mu - 4500) / 4500 < 0.25, (mu, [r["union_est"] for r in matched])
    assert abs(mj - 1 / 3) < 0.12, (mj, [r["jaccard_bp"] for r in matched])


def test_kmv_set_ops_layout_invariance(spark):
    # sketch-merge is a semilattice: results cannot depend on the
    # physical partitioning of the input.
    from llogtail_spark.operators.sketches import kmv_set_ops

    rows = [(i, f"s{i % 4}", " ".join(f"w{(i * 7 + j) % 300}" for j in range(40)))
            for i in range(80)]
    df = _docs(spark, rows)
    a = sorted(map(tuple, kmv_set_ops(df.repartition(1)).collect()))
    b = sorted(map(tuple, kmv_set_ops(df.repartition(16, "doc_id")).collect()))
    assert a == b


def test_kmv_set_ops_disjoint_and_identical(spark):
    # the two boundary regimes: disjoint vocabularies must report
    # zero overlap; identical vocabularies must report J = 10000 with
    # inter == union.
    from llogtail_spark.operators.sketches import kmv_set_ops

    common = " ".join(f"c{i}" for i in range(200))
    rows = [(1, "x", " ".join(f"x{i}" for i in range(200))),
            (2, "y", " ".join(f"y{i}" for i in range(200))),
            (3, "p", common), (4, "q", common)]
    out = {(r["src_a"], r["src_b"]): r
           for r in kmv_set_ops(_docs(spark, rows)).collect()}
    assert out[("x", "y")]["n_common"] == 0
    assert out[("x", "y")]["jaccard_bp"] == 0
    assert out[("x", "y")]["inter_est"] == 0
    assert out[("p", "q")]["jaccard_bp"] == 10000
    assert out[("p", "q")]["inter_est"] == out[("p", "q")]["union_est"]


# ---------------------------------------------------------------------------
# hll_sliding_dau / cm_join_size
# ---------------------------------------------------------------------------


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")


def test_hll_sliding_exact_in_lc_regime(spark):
    """Small distinct counts resolve through the linear-counting
    table; with few users the sliding estimate equals the exact
    trailing-window distinct count."""
    from datetime import datetime

    from llogtail_spark.operators.sketches import hll_sliding_dau

    # users 1..5 on day 0; users 4..8 on day 10 (outside the window)
    rows = [(i, datetime(2024, 1, 1), u, "t", 0.0, None)
            for i, u in enumerate(range(1, 6))]
    rows += [(100 + i, datetime(2024, 1, 11), u, "t", 0.0, None)
             for i, u in enumerate(range(4, 9))]
    out = {r["day"]: r for r in hll_sliding_dau(_events(spark, rows)).collect()}
    days = sorted(out)
    assert len(days) == 2 and days[1] - days[0] == 10
    assert out[days[0]]["est_distinct"] == 5
    assert out[days[1]]["est_distinct"] == 5   # day-0 registers expired


def test_hll_sliding_window_unions_days(spark):
    """Disjoint user sets on consecutive days must UNION in the
    trailing window: day1's estimate covers both days' users."""
    from datetime import datetime

    from llogtail_spark.operators.sketches import hll_sliding_dau

    rows = [(i, datetime(2024, 1, 1), u, "t", 0.0, None)
            for i, u in enumerate(range(0, 10))]
    rows += [(100 + i, datetime(2024, 1, 2), u, "t", 0.0, None)
             for i, u in enumerate(range(1000, 1010))]
    out = {r["day"]: r["est_distinct"]
           for r in hll_sliding_dau(_events(spark, rows)).collect()}
    d0 = min(out)
    # linear counting rounds: 10 users may read 9-11, the union must
    # land near 20 and strictly above the single day
    assert 9 <= out[d0] <= 11
    assert 17 <= out[d0 + 1] <= 23
    assert out[d0 + 1] > out[d0]


def test_hll_sliding_envelope_vs_exact(spark):
    """Above the LC regime the estimate must stay inside a generous
    4/sqrt(m) envelope of the exact trailing distinct count."""
    import math
    from datetime import datetime, timedelta

    from llogtail_spark.operators.sketches import HLL_M, hll_sliding_dau

    rows = []
    eid = 0
    for d in range(10):
        for u in range(d * 137, d * 137 + 600):   # 600 users/day, drifting
            rows.append((eid, datetime(2024, 1, 1) + timedelta(days=d),
                         u, "t", 0.0, None))
            eid += 1
    df = _events(spark, rows)
    got = {r["day"]: r["est_distinct"] for r in hll_sliding_dau(df).collect()}
    # exact trailing-7d distinct per day, recomputed in python
    byday = {}
    for d in range(10):
        byday[d] = set(range(d * 137, d * 137 + 600))
    d0 = min(got)
    for d in range(10):
        exact = len(set().union(*[byday[j] for j in range(max(0, d - 6), d + 1)]))
        rel = abs(got[d0 + d] - exact) / exact
        assert rel < 4 / math.sqrt(HLL_M), (d, got[d0 + d], exact)


def test_cm_join_size_unbiased_envelope(spark):
    """Small key domains land entirely in the exact-heavy stage, so
    the hybrid estimator is EXACT here; the sketch tail only engages
    beyond 2*CMJ_HEAVY distinct keys (covered by the tail test and
    the zipf stress bench)."""
    from llogtail_spark.operators.sketches import cm_join_size

    a = spark.createDataFrame([(i % 50,) for i in range(2000)], "k long")
    b = spark.createDataFrame([(i % 80,) for i in range(800)], "j long")
    true = sum(40 * 10 for k in range(50))
    rows = cm_join_size(a, "k", b, "j").collect()
    assert len(rows) == 4
    est = rows[0]["est"]
    # 50 + 80 distinct keys < 2*64 heavy slots -> the WHOLE join is
    # in the exact-heavy stage and the estimate is EXACT
    assert est == true, (est, true)
    assert all(r["inner_prod"] == 0 for r in rows)   # empty tail


def test_cm_join_size_disjoint_keys(spark):
    """Disjoint key ranges: the true join is empty; signed collision
    terms are small and can be negative — the clamped estimate must
    sit near zero, nowhere near a real join's size."""
    from llogtail_spark.operators.sketches import cm_join_size

    a = spark.createDataFrame([(i,) for i in range(20)], "k long")
    b = spark.createDataFrame([(1000 + i,) for i in range(20)], "j long")
    rows = cm_join_size(a, "k", b, "j").collect()
    # all 40 keys fit the heavy stage, which sees zero overlap
    assert rows and rows[0]["est"] == 0


def test_kmv_set_ops_sketch_built_once(spark):
    """The a<b pair condition plans a BroadcastNestedLoopJoin whose
    branches do not canonicalize to a reusable exchange — without the
    lineage cut the corpus-scan sketch build would execute TWICE. Pin:
    both pair branches scan the cut sketch relation, and the sketch
    aggregate is not in the plan at all."""
    from llogtail_spark.operators.sketches import kmv_set_ops

    rows = [(i, f"s{i % 3}", " ".join(f"w{j}" for j in range(i % 20)))
            for i in range(60)]
    df = kmv_set_ops(_docs(spark, rows))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") == 2, plan
    assert plan.count("collect_list") == 0, plan
    assert df.count() == 3


def test_cm_join_size_tail_engages_and_estimates(spark):
    """With >> 2*heavy distinct keys the AGMS tail carries most of
    the mass: the hybrid estimate must land within the tail-variance
    envelope of the true join size, far from the count-min collision
    floor."""
    from llogtail_spark.operators.sketches import cm_join_size

    # 2000 distinct keys per side, uniform counts (no heavy head):
    # true join = overlap(1000 keys) * 5 * 3
    a = spark.createDataFrame([(i % 2000,) for i in range(10000)], "k long")
    b = spark.createDataFrame([(1000 + (i % 2000),) for i in range(6000)],
                              "j long")
    rows = cm_join_size(a, "k", b, "j").collect()
    true = 1000 * 5 * 3
    est = rows[0]["est"]
    # exact-heavy covers 128 keys; the remaining ~87% of the join
    # value comes from the sketch: allow a 3-sigma-ish envelope
    # (sigma ~ sqrt(F2a*F2b/256) ~ 2.7k on ~13k true)
    assert abs(est - true) / true < 0.75, (est, true)
    assert any(r["inner_prod"] != 0 for r in rows)
