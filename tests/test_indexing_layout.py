"""Hand-computed semantics for the indexing / layout / governance
batch: Morton z-order keys, k-anonymity, inverted-index postings,
integer PageRank, and SCD-2 intervals."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F


def _ts(day, hour=0, minute=0):
    return datetime(2024, 1, day, hour, minute)


# ------------------------------------------------------------ zorder

def test_morton_interleave_hand_values(spark):
    """morton16(bx, by) interleaves bits: bx=0b11, by=0b01 ->
    z = (1<<1)|(1<<3) | (1<<0) = 0b1011 = 11."""
    from llogtail_spark.operators.layout import morton16

    df = spark.range(1).select(
        morton16(F.lit(3), F.lit(1)).alias("z"),
        morton16(F.lit(0), F.lit(0)).alias("z0"),
        morton16(F.lit(255), F.lit(255)).alias("zmax"),
    )
    r = df.collect()[0]
    assert r["z"] == 0b1011
    assert r["z0"] == 0
    assert r["zmax"] == 65535


def test_zorder_shards_locality(spark):
    """Rows in the same (user, hour) 16x16 block land in the same
    shard, and the audit spans stay within the block width (16)."""
    from llogtail_spark.operators.layout import zorder_shards

    rows = [
        (1, _ts(1, 0)), (2, _ts(1, 1)),      # users 1-2, hours 0-1
        (200, _ts(5, 3)), (201, _ts(5, 4)),  # far block
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = zorder_shards(df).collect()
    assert sum(r["n"] for r in out) == 4
    for r in out:
        assert r["user_hi"] - r["user_lo"] < 16
        assert r["hour_hi"] - r["hour_lo"] < 16


# ------------------------------------------------------- k-anonymity

def test_k_anonymity_hand_values(spark):
    """6 'en' docs in one QI group (>=k), 2 'fr' docs alone in
    theirs (<k): fr is fully at risk, en not at all."""
    from llogtail_spark.operators.governance import k_anonymity

    rows = [(i, "t", "en", "web", 150) for i in range(6)]
    rows += [(10, "t", "fr", "web", 150), (11, "t", "fr", "web", 450)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    out = {r["lang"]: r for r in k_anonymity(df, k=5).collect()}
    assert out["en"]["groups_below_k"] == 0
    assert out["en"]["rows_at_risk"] == 0
    assert out["en"]["risk_bp"] == 0
    assert out["fr"]["n_groups"] == 2
    assert out["fr"]["groups_below_k"] == 2
    assert out["fr"]["rows_at_risk"] == 2
    assert out["fr"]["risk_bp"] == 10000


# ---------------------------------------------------- inverted index

def test_inverted_index_df_and_postings(spark):
    """df counts DISTINCT docs (repeats inside a doc collapse);
    postings are ascending doc ids, capped."""
    from llogtail_spark.operators.indexing import inverted_index

    rows = [
        (3, "alpha alpha beta"),
        (1, "alpha gamma"),
        (2, "beta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["term"]: r for r in
           inverted_index(df, top_terms=10, cap=2).collect()}
    assert out["alpha"]["df"] == 2
    assert out["alpha"]["postings"] == "1,3"
    assert out["beta"]["df"] == 2
    assert out["beta"]["postings"] == "2,3"
    assert out["gamma"]["df"] == 1
    assert out["gamma"]["postings"] == "1"


def test_inverted_index_cap_bounds_postings(spark):
    """A stop-word appearing in every doc keeps only `cap` ids —
    the reducer never materializes the full posting list cell."""
    from llogtail_spark.operators.indexing import inverted_index

    df = spark.createDataFrame(
        [(i, "the") for i in range(50)], "doc_id long, text string")
    r = inverted_index(df, top_terms=1, cap=3).collect()[0]
    assert r["df"] == 50
    assert r["postings"] == "0,1,2"


# ---------------------------------------------------------- pagerank

def test_pagerank_star_graph(spark):
    """Star: customer 0 orders from suppliers 1,2,3; supplier 1 also
    serves customer 9. The hub (c0) must outrank leaf suppliers 2,3,
    and s1 (two neighbors) outranks s2/s3 (one). Integer arithmetic
    checked against a driver-side replay of the same recurrence."""
    from llogtail_spark.operators.indexing import (
        PR_BASE, PR_DAMP_DEN, PR_DAMP_NUM, PR_INIT, pagerank)

    orders = spark.createDataFrame(
        [(100, 0), (101, 9)], "o_orderkey long, o_custkey long")
    line = spark.createDataFrame(
        [(100, 1), (100, 2), (100, 3), (101, 1)],
        "l_orderkey long, l_suppkey long")
    out = {r["node"]: r["rank"] for r in
           pagerank(orders, line, iters=3, top_k=10).collect()}

    # driver replay
    edges = [("c0", "s1"), ("c0", "s2"), ("c0", "s3"), ("c9", "s1")]
    edges += [(b, a) for a, b in edges]
    deg = {}
    for a, _ in edges:
        deg[a] = deg.get(a, 0) + 1
    rank = {n: PR_INIT for n in deg}
    for _ in range(3):
        nxt = {}
        for a, b in edges:
            nxt[b] = nxt.get(b, 0) + rank[a] // deg[a]
        rank = {n: PR_BASE + PR_DAMP_NUM * s // PR_DAMP_DEN
                for n, s in nxt.items()}
    assert out == rank
    assert out["c0"] > out["s2"] == out["s3"]
    assert out["s1"] > out["s2"]


def test_pagerank_reliable_checkpoint_knob(spark, tmp_path):
    """VERDICT r03 #6: with sc.setCheckpointDir configured, the
    iterative operators switch their lineage cuts from localCheckpoint
    (executor blocks — lost on executor failure) to reliable
    checkpoint() files under the dir, and results are unchanged.
    Covers pagerank end-to-end and the ckpt helper's dispatch."""
    from llogtail_spark.operators.ckpt import checkpoint_is_reliable
    from llogtail_spark.operators.indexing import pagerank

    orders = spark.createDataFrame(
        [(100, 0), (101, 9)], "o_orderkey long, o_custkey long")
    line = spark.createDataFrame(
        [(100, 1), (100, 2), (100, 3), (101, 1)],
        "l_orderkey long, l_suppkey long")
    base = sorted(map(tuple, pagerank(orders, line, iters=3).collect()))

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    assert not checkpoint_is_reliable(orders)
    ckdir = tmp_path / "reliable-ckpt"
    sc.setCheckpointDir(str(ckdir))
    try:
        assert checkpoint_is_reliable(orders)
        got = sorted(map(tuple, pagerank(orders, line, iters=3).collect()))
        assert got == base
        # the adjacency cuts materialized as reliable checkpoint FILES
        rdd_files = [p for p in ckdir.rglob("*") if p.is_file()]
        assert rdd_files, "no reliable checkpoint files were written"
    finally:
        sc.setCheckpointDir(None)  # don't leak the knob to other tests
    assert sc.getCheckpointDir() is None


def _pinning_cases(spark):
    """name -> thunk building one frame per operator that pins an
    intermediate read by two branches of its plan."""
    from llogtail_spark.operators.corpus import (
        doc_perplexity, kn_bigram_lm, source_kl_matrix,
    )
    from llogtail_spark.operators.dedup import fuzzy_join
    from llogtail_spark.operators.indexing import triangle_counts
    from llogtail_spark.operators.sketches import cm_join_size, kmv_set_ops

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "u long, v long")
    docs = spark.createDataFrame(
        [("a", "s1", "the quick brown fox"), ("b", "s1", "the quick brown fax"),
         ("c", "s2", "completely different text"),
         ("d", "s3", "the brown text is quick")],
        "doc_id string, source string, text string")
    keys = spark.createDataFrame([(i % 7,) for i in range(50)], "k long")
    return {
        "triangle_counts": lambda: triangle_counts(edges),
        "fuzzy_join": lambda: fuzzy_join(docs),
        "kn_bigram_lm": lambda: kn_bigram_lm(docs),
        "doc_perplexity": lambda: doc_perplexity(docs),
        "kmv_set_ops": lambda: kmv_set_ops(docs),
        "cm_join_size": lambda: cm_join_size(keys, "k", keys, "k"),
        "source_kl_matrix": lambda: source_kl_matrix(docs),
    }


def test_triangle_and_fuzzy_reliable_checkpoint_knob(spark, tmp_path):
    """VERDICT r04 #8: every lineage pin — triangle_counts' two eager
    cuts, fuzzy_join's prefix relation and the sketch/LM operators'
    shared intermediates — honors sc.setCheckpointDir like pagerank
    does: results identical, and reliable checkpoint files appear
    under the dir for each operator."""
    cases = _pinning_cases(spark)
    base = {n: sorted(map(tuple, f().collect())) for n, f in cases.items()}
    assert base["triangle_counts"] and base["fuzzy_join"]  # planted

    sc = spark.sparkContext
    try:
        for n, f in cases.items():
            ckdir = tmp_path / n
            sc.setCheckpointDir(str(ckdir))
            assert sorted(map(tuple, f().collect())) == base[n], n
            rdd_files = [p for p in ckdir.rglob("*") if p.is_file()]
            assert rdd_files, f"{n}: no reliable checkpoint files were written"
    finally:
        sc.setCheckpointDir(None)
    assert sc.getCheckpointDir() is None


def test_pinning_operators_register_nothing_with_the_cache_manager(spark):
    """The pins are lineage cuts owned by the returned frame: running
    each operator leaves Spark's CacheManager empty, so nothing stays
    pinned for the session's life and no later query is matched
    against a stale cached plan."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # other modules' fixtures may cache
    for n, f in _pinning_cases(spark).items():
        f().collect()
        assert cm.isEmpty(), n


# ------------------------------------------------------------- SCD-2

def test_scd2_change_compression(spark):
    """Consecutive same-state events collapse into one interval;
    the last state per user stays open (valid_to NULL)."""
    from llogtail_spark.operators.telemetry import scd2_intervals

    rows = [
        (1, 1, _ts(1, 0), "view"),
        (2, 1, _ts(1, 1), "view"),     # same state, no new interval
        (3, 1, _ts(1, 2), "click"),    # closes view @ 2h
        (4, 2, _ts(1, 0), "view"),     # open forever
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string")
    out = {r["event_type"]: r for r in scd2_intervals(df).collect()}
    assert out["view"]["n_intervals"] == 2
    assert out["view"]["n_closed"] == 1
    assert out["view"]["open_now"] == 1
    assert out["view"]["avg_dur_sec"] == 7200
    assert out["view"]["max_dur_sec"] == 7200
    assert out["click"]["n_intervals"] == 1
    assert out["click"]["open_now"] == 1


def test_scd2_tiebreak_on_event_id(spark):
    """Equal timestamps order by event_id: state flips A->B at the
    same ts still produce a closed A interval of 0 seconds."""
    from llogtail_spark.operators.telemetry import scd2_intervals

    rows = [
        (1, 1, _ts(1), "a"),
        (2, 1, _ts(1), "b"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string")
    out = {r["event_type"]: r for r in scd2_intervals(df).collect()}
    assert out["a"]["n_closed"] == 1
    assert out["a"]["max_dur_sec"] == 0
    assert out["b"]["open_now"] == 1


# --------------------------------------------- markov / drift / MV

def test_markov_transitions_hand_values(spark):
    """u1: a->b->b; u2: a->b. Transitions: (a,b)x2, (b,b)x1.
    p_bp from origin a: (a,b)=10000; from b: (b,b)=10000."""
    from llogtail_spark.operators.telemetry import markov_transitions

    rows = [
        (1, 1, _ts(1, 0), "a"), (2, 1, _ts(1, 1), "b"),
        (3, 1, _ts(1, 2), "b"),
        (4, 2, _ts(1, 0), "a"), (5, 2, _ts(1, 1), "b"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string")
    out = {(r["from_type"], r["to_type"]): r
           for r in markov_transitions(df).collect()}
    assert out[("a", "b")]["n"] == 2
    assert out[("a", "b")]["p_bp"] == 10000
    assert out[("b", "b")]["n"] == 1
    assert out[("b", "b")]["p_bp"] == 10000
    assert ("b", "a") not in out


def test_markov_no_cross_user_transitions(spark):
    """The lag window is per user: u1 ends with 'a', u2 starts with
    'b' — no (a,b) transition may appear."""
    from llogtail_spark.operators.telemetry import markov_transitions

    rows = [(1, 1, _ts(1, 0), "a"), (2, 2, _ts(1, 1), "b")]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string")
    assert markov_transitions(df).count() == 0


def test_event_type_drift_hand_values(spark):
    """Day 0: 2xA, 2xB (5000/5000 bp). Day 1: 4xA (10000/0).
    TV = (|10000-5000| + |0-5000|) / 2 = 5000 bp."""
    from llogtail_spark.operators.telemetry import event_type_drift

    rows = [(i, 1, _ts(1, i), t) for i, t in enumerate("AABB")]
    rows += [(10 + i, 1, _ts(2, i), "A") for i in range(4)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string")
    out = event_type_drift(df).collect()
    assert len(out) == 1
    assert out[0]["tv_bp"] == 5000


def test_incremental_mv_merge_equals_full_aggregate(spark):
    """Merged partial states == from-scratch GROUP BY, including a
    key present on only one side of the split."""
    from llogtail_spark.operators.aggregate import incremental_mv_merge

    rows = [
        (1, 1, _ts(2), "a", 1.25),    # old batch (day < 15)
        (2, 1, _ts(3), "a", 2.00),
        (3, 1, _ts(20), "a", 0.50),   # delta
        (4, 1, _ts(21), "b", 7.75),   # delta-only key
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
              "event_type string, value double")
    out = {r["event_type"]: r for r in incremental_mv_merge(df).collect()}
    assert out["a"]["n"] == 3
    assert out["a"]["value_cents"] == 375
    assert out["a"]["vmin_cents"] == 50
    assert out["a"]["vmax_cents"] == 200
    assert out["b"]["n"] == 1
    assert out["b"]["value_cents"] == 775


def test_global_ordinals_exact_and_layout_invariant(spark):
    """global_ordinals == the naive global row_number, regardless of
    input partitioning; NULL order keys drop."""
    import numpy as np

    from llogtail_spark.operators.layout import global_ordinals

    rng = np.random.default_rng(5)
    vals = rng.integers(0, 1000, size=500).tolist()
    rows = [(i, int(v)) for i, v in enumerate(vals)] + [(9000, None)]
    want = {
        i: r + 1
        for r, (i, v) in enumerate(
            sorted(((i, v) for i, v in rows if v is not None),
                   key=lambda kv: (kv[1], kv[0]))
        )
    }
    for parts in (1, 13):
        df = spark.createDataFrame(rows, "id long, v long").repartition(parts)
        got = {
            r["id"]: r["ordinal"]
            for r in global_ordinals(df, ["v", "id"], n_parts=7).collect()
        }
        assert got == want, parts


def test_global_ordinals_no_single_partition_exchange(spark):
    """The scalable promise: no SinglePartition exchange anywhere in
    the executed plan (the naive global window would plan one)."""
    from llogtail_spark.operators.layout import global_ordinals

    df = global_ordinals(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("event_id", "ts"),
        ["ts", "event_id"],
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan


def test_pareto_front_matches_bruteforce_and_is_layout_invariant(spark):
    """Skyline semantics vs an O(n^2) dominance check, and the result
    must not depend on input partitioning (the range-partition +
    driver-prefix-max path has no layout-sensitive step)."""
    import random

    from llogtail_spark.operators.layout import pareto_front

    rng = random.Random(11)
    rows = [(rng.randint(0, 300) / 4.0, rng.randint(0, 800)) for _ in range(2500)]
    best = {}
    for p, s in rows:
        best[p] = max(best.get(p, -1), s)
    exp = {
        (p, s)
        for p, s in best.items()
        if not any(
            p2 <= p and s2 >= s and (p2 < p or s2 > s)
            for p2, s2 in best.items()
        )
    }
    df = spark.createDataFrame(rows, "price double, score long")
    got = {(r["price"], r["score"]) for r in pareto_front(df, "price", "score").collect()}
    assert got == exp
    got2 = {
        (r["price"], r["score"])
        for r in pareto_front(df.repartition(17), "price", "score").collect()
    }
    assert got2 == exp


def test_pareto_front_no_single_partition_exchange(spark):
    """The scalable promise (same as global_ordinals): the naive
    running-max window over ORDER BY with no PARTITION BY plans an
    Exchange SinglePartition; the two-phase prefix-max must not."""
    from llogtail_spark.operators.layout import pareto_front

    df = pareto_front(
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet"),
        "o_totalprice",
        "o_orderdate",
    )
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan


def test_triangle_counts_hand_graph_and_random(spark):
    """K4 (+ a pendant edge): every K4 node sits in 3 triangles, the
    pendant in none. Then a random graph vs brute-force enumeration,
    with the broadcast probe ON and OFF (identical counts — the knob
    changes the physical join, never the result)."""
    import itertools
    import random

    from llogtail_spark.operators.indexing import triangle_counts

    k4 = [(a, b) for a, b in itertools.combinations([1, 2, 3, 4], 2)] + [(4, 9)]
    got = {
        r["node"]: r["n_tri"]
        for r in triangle_counts(spark.createDataFrame(k4, "u long, v long")).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}

    rng = random.Random(5)
    n = 45
    edges = sorted(
        {
            (min(a, b), max(a, b))
            for a, b in ((rng.randrange(n), rng.randrange(n)) for _ in range(260))
            if a != b
        }
    )
    es = set(edges)
    exp: dict[int, int] = {}
    for a, b, c in itertools.combinations(range(n), 3):
        if (a, b) in es and (b, c) in es and (a, c) in es:
            for x in (a, b, c):
                exp[x] = exp.get(x, 0) + 1
    edf = spark.createDataFrame(edges, "u long, v long")
    for bc in (True, False):
        got = {
            r["node"]: r["n_tri"]
            for r in triangle_counts(edf, broadcast_edges=bc).collect()
        }
        assert got == exp, f"broadcast_edges={bc}"


def test_triangle_counts_broadcast_knob_changes_plan(spark):
    """broadcast_edges=True must probe the closing edge via a
    BroadcastHashJoin (the wedge set never shuffles); False must not
    broadcast the edge set (web-scale fallback) — and neither path may
    plan a cartesian/nested-loop."""
    from llogtail_spark.operators.indexing import triangle_counts

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "u long, v long"
    )
    on = triangle_counts(edges, broadcast_edges=True)
    on.collect()
    p_on = on._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p_on
    off = triangle_counts(edges, broadcast_edges=False)
    off.collect()
    p_off = off._jdf.queryExecution().executedPlan().toString()
    for plan in (p_on, p_off):
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


# ------------------------------------------------------- bfs_levels


def test_bfs_levels_hand_graph(spark):
    from llogtail_spark.operators.indexing import bfs_levels

    # path 1-2-3-4-5, plus a disconnected pair 10-11
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "u long, v long"
    )
    got = {r["node"]: r["dist"] for r in bfs_levels(edges).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}  # 10,11 unreachable
    # explicit source, reverse direction travels the undirected edges
    got5 = {r["node"]: r["dist"] for r in bfs_levels(edges, src=5).collect()}
    assert got5 == {5: 0, 4: 1, 3: 2, 2: 3, 1: 4}


def test_bfs_levels_raises_past_max_iter(spark):
    import pytest as _pytest

    from llogtail_spark.operators.indexing import bfs_levels

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "u long, v long"
    )
    with _pytest.raises(RuntimeError, match="non-empty after 2"):
        bfs_levels(edges, max_iter=2)


def test_bfs_levels_hop_batch_invariance(spark):
    """Distances are hop_batch-invariant, including the round-6
    early-return path (an empty in-batch hop proves completion): a
    diameter-3 graph under hop_batch=4 returns after ONE round and
    must equal the per-hop (hop_batch=1) result."""
    from llogtail_spark.operators.indexing import bfs_levels

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (5, 6), (2, 6)],
        "u long, v long",
    )
    want = sorted(map(tuple, bfs_levels(edges, hop_batch=1).collect()))
    for hb in (2, 3, 4, 5):
        got = sorted(map(tuple, bfs_levels(edges, hop_batch=hb).collect()))
        assert got == want, hb


def test_bfs_levels_layout_invariance(spark):
    import random

    from llogtail_spark.operators.indexing import bfs_levels

    rng = random.Random(5)
    edges = [(i, rng.randrange(i + 1, 60)) for i in range(59) if i < 59]
    df = spark.createDataFrame(edges, "u long, v long")
    a = sorted(map(tuple, bfs_levels(df.repartition(1)).collect()))
    b = sorted(map(tuple, bfs_levels(df.repartition(16, "v")).collect()))
    assert a == b and a[0][1] == 0


# ----------------------------------------------------------- hilbert


def _py_hilbert(x, y, n=256):
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert256_full_grid_bijection(spark):
    """hilbert256 equals the textbook xy->d walk on the ENTIRE
    256x256 grid and is a bijection onto [0, 65536)."""
    from llogtail_spark.operators.layout import hilbert256

    grid = spark.range(256 * 256).select(
        (F.col("id") % 256).cast("int").alias("bx"),
        (F.col("id") / 256).cast("int").alias("by"),
    )
    rows = grid.withColumn(
        "h", hilbert256(F.col("bx"), F.col("by"))
    ).collect()
    assert all(r["h"] == _py_hilbert(r["bx"], r["by"]) for r in rows)
    assert len({r["h"] for r in rows}) == 65536


def test_hilbert_adjacency_beats_morton(spark):
    """The defining Hilbert property: EVERY pair of consecutive keys
    is grid-adjacent (Manhattan distance 1); Morton jumps (distance
    up to 255 across quadrant seams). This is why consecutive key
    ranges (files) cover tighter regions."""
    from llogtail_spark.operators.layout import hilbert256, morton16

    grid = spark.range(256 * 256).select(
        (F.col("id") % 256).cast("int").alias("bx"),
        (F.col("id") / 256).cast("int").alias("by"),
    )
    rows = grid.select(
        "bx", "by",
        hilbert256(F.col("bx"), F.col("by")).alias("h"),
        morton16(F.col("bx"), F.col("by")).alias("z"),
    ).collect()
    by_h = {r["h"]: (r["bx"], r["by"]) for r in rows}
    dists_h = [abs(by_h[k][0] - by_h[k + 1][0])
               + abs(by_h[k][1] - by_h[k + 1][1])
               for k in range(65535)]
    assert max(dists_h) == 1
    by_z = {r["z"]: (r["bx"], r["by"]) for r in rows}
    dists_z = [abs(by_z[k][0] - by_z[k + 1][0])
               + abs(by_z[k][1] - by_z[k + 1][1])
               for k in range(65535)]
    assert max(dists_z) > 1


def test_hilbert_shards_locality_and_plan(spark):
    from llogtail_spark.operators.layout import hilbert_shards

    rows = [
        (1, _ts(1, 0)), (2, _ts(1, 1)),
        (200, _ts(5, 3)), (201, _ts(5, 4)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = hilbert_shards(df).collect()
    assert sum(r["n"] for r in out) == 4
    for r in out:
        assert r["user_hi"] - r["user_lo"] < 16
        assert r["hour_hi"] - r["hour_lo"] < 16
    plan = hilbert_shards(df)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Exchange SinglePartition" not in plan


# ---------------------------------------------------------------------------
# rrf_fuse
# ---------------------------------------------------------------------------


def test_rrf_fuse_hand_case(spark):
    from llogtail_spark.operators.indexing import (
        RRF_C, RRF_SCALE, rrf_fuse,
    )

    # doc 1 ranks #1 for 'join' (tf 5) and #2 for 'scan' (tf 1);
    # doc 2 ranks #2 for 'join' (tf 2) and #1 for 'scan' (tf 3);
    # doc 3 only matches 'hash'.
    rows = [(1, "s", "join join join join join scan"),
            (2, "s", "join join scan scan scan"),
            (3, "s", "hash nothing else")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["doc_id"]: r for r in rrf_fuse(df).collect()}
    r1 = RRF_SCALE // (RRF_C + 1)
    r2 = RRF_SCALE // (RRF_C + 2)
    assert out[1]["n_lists"] == 2 and out[1]["rrf_x6"] == r1 + r2
    assert out[2]["n_lists"] == 2 and out[2]["rrf_x6"] == r1 + r2
    assert out[3]["n_lists"] == 1 and out[3]["rrf_x6"] == r1


def test_rrf_fuse_depth_excludes_tail(spark):
    from llogtail_spark.operators.indexing import rrf_fuse

    # 30 docs matching 'join' with distinct tf; depth=10 keeps the
    # top 10 only, and top=5 returns the 5 best overall.
    rows = [(i, "s", " ".join(["join"] * (i + 1))) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = rrf_fuse(df, depth=10, top=5).collect()
    assert len(got) == 5
    # highest tf = doc 29 -> rank 1 -> best fused score
    assert got[0]["doc_id"] == 29
    assert [r["doc_id"] for r in got] == [29, 28, 27, 26, 25]


def test_copurchase_lift_hand_case(spark):
    """Parts 1+2 always co-purchased (lift = N/(n1*n2)*1000 > 1000);
    duplicate line items for the same (order, part) must not inflate
    counts."""
    from llogtail_spark.operators.indexing import copurchase_lift

    rows = []
    # baskets 1..4: {1,2}; baskets 5..8: {3}; basket 9: {1,2,3}
    for o in range(1, 5):
        rows += [(o, 1), (o, 2), (o, 1)]     # dup (o,1) line
    for o in range(5, 9):
        rows += [(o, 3)]
    rows += [(9, 1), (9, 2), (9, 3)]
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    out = {(r["part_a"], r["part_b"]): r
           for r in copurchase_lift(df).collect()}
    r12 = out[(1, 2)]
    # n_ab=5, N=9, n_1=5, n_2=5 -> lift = 5*9*1000//25 = 1800
    assert r12["n_ab"] == 5
    assert r12["support_bp"] == 5 * 10000 // 9
    assert r12["lift_x3"] == 1800
    # pair (1,3) co-occurs once in 9 baskets with n1=5, n3=5:
    # lift = 1*9*1000//25 = 360 (< 1000: anti-correlated)
    assert out[(1, 3)]["lift_x3"] == 360


@pytest.mark.parametrize("bad", [-1, 2**31])
def test_triangle_counts_rejects_ids_outside_31_bits(spark, bad):
    """The (degree, id) and (b, c) keys pack ids into 31 bits; an id
    outside [0, 2^31) fails the job instead of colliding silently."""
    from llogtail_spark.operators.indexing import triangle_counts

    tri = [(0, 1), (min(0, bad), max(0, bad)), (min(1, bad), max(1, bad))]
    edges = spark.createDataFrame(tri, "u long, v long")
    with pytest.raises(Exception, match=r"outside \[0, 2\^31\)"):
        triangle_counts(edges).collect()
