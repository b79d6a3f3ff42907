"""Temporal joins: as-of semantics against a hand-computed oracle;
range join plan shape (equi-join, never a nested loop)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from llogtail_spark.operators.joins import asof_join, range_join_bucketed


def _ts(m):
    return dt.datetime(2024, 1, 1, 0, m, 0)


@pytest.fixture(scope="module")
def frames(spark):
    left = spark.createDataFrame(
        [(1, _ts(0), "l0"), (1, _ts(5), "l5"), (1, _ts(10), "l10"),
         (2, _ts(3), "l3"), (3, _ts(1), "lone")],
        "k long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, _ts(5), 100), (1, _ts(8), 101), (2, _ts(2), 200)],
        "k long, ts timestamp, v long",
    )
    return left, right


def test_asof_backward_semantics(frames):
    left, right = frames
    out = {r["tag"]: r["v"] for r in
           asof_join(left, right, on=["k"], left_ts="ts", right_ts="ts",
                     right_cols=["v"]).collect()}
    assert out == {
        "l0": None,   # nothing at or before t0
        "l5": 100,    # equal timestamp counts (>= semantics)
        "l10": 101,   # most recent wins
        "l3": 200,
        "lone": None,  # key with no right rows at all
    }


def test_asof_tolerance(frames):
    left, right = frames
    out = {r["tag"]: r["v"] for r in
           asof_join(left, right, on=["k"], left_ts="ts", right_ts="ts",
                     right_cols=["v"], tolerance_sec=60).collect()}
    assert out["l5"] == 100      # 0s away
    assert out["l10"] is None    # 101 is 120s stale -> masked
    assert out["l3"] == 200      # 60s away, inclusive


def test_asof_tolerance_subsecond_precision(spark):
    """The tolerance gap must use full timestamp precision: second-
    truncated unix_timestamp classified a 5.9s gap as 5s (stale match
    carried) and a 0.1s gap as 1s (fresh match masked)."""
    base = dt.datetime(2024, 1, 1, 10, 0, 0)
    us = dt.timedelta(microseconds=1)
    left = spark.createDataFrame(
        [(1, base + 5_900_000 * us, "gap5.9"),
         (2, base + 6_000_000 * us, "gap0.1")],
        "k long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, base, 100), (2, base + 5_900_000 * us, 200)],
        "k long, ts timestamp, v long",
    )
    out = {r["tag"]: r["v"] for r in
           asof_join(left, right, on=["k"], left_ts="ts", right_ts="ts",
                     right_cols=["v"], tolerance_sec=5).collect()}
    assert out["gap5.9"] is None  # 5.9s > 5 -> masked (floor said 5<=5)
    assert out["gap0.1"] == 200   # 0.1s <= 5 -> kept

    out0 = {r["tag"]: r["v"] for r in
            asof_join(left, right, on=["k"], left_ts="ts", right_ts="ts",
                      right_cols=["v"], tolerance_sec=0).collect()}
    assert out0["gap0.1"] is None  # 0.1s > 0 (floor diff said 1>0 too,
    # but for the wrong reason); exact-equality matches still pass:
    eq = asof_join(right, right, on=["k"], left_ts="ts", right_ts="ts",
                   right_cols=["v"], tolerance_sec=0).collect()
    assert all(r["v"] is not None for r in eq)


def test_range_join_matches_inequality_semantics(spark, frames):
    _, right = frames
    points = spark.createDataFrame(
        [(1, _ts(6), "in-5"), (1, _ts(5), "excl-start"), (1, _ts(9), "in-8"),
         (1, _ts(40), "in-8-edge"), (1, _ts(41), "out"), (2, _ts(30), "in-200")],
        "k long, ts timestamp, tag string",
    )
    intervals = right.select(
        "k", F.col("v").alias("iv"), F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 32 MINUTES")).alias("e"),
    )
    got = {(r["tag"], r["iv"]) for r in
           range_join_bucketed(points, intervals, on=["k"], point_ts="ts",
                               start_ts="s", end_ts="e",
                               bucket_sec=600).collect()}
    assert got == {
        ("in-5", 100),       # strictly after start; "excl-start" absent
        ("in-8", 100),       # inside both overlapping windows...
        ("in-8", 101),       # ...matches each exactly once
        ("in-8-edge", 101),  # t40 == t8 + 32min end, inclusive
        ("in-200", 200),     # second key; "out" absent
    }


def test_range_join_plan_is_equi_join(spark, frames):
    left, right = frames
    intervals = right.select(
        "k", F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("e"),
    )
    df = range_join_bucketed(left.select("k", "ts"), intervals, on=["k"],
                             point_ts="ts", start_ts="s", end_ts="e")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_join_drops_inverted_intervals(spark):
    points = spark.createDataFrame([(1, _ts(5), "p")], "k long, ts timestamp, tag string")
    intervals = spark.createDataFrame(
        [(1, _ts(10), _ts(0), 9)], "k long, s timestamp, e timestamp, iv long"
    )  # end < start: can never contain anything, must not error or match
    got = range_join_bucketed(points, intervals, on=["k"], point_ts="ts",
                              start_ts="s", end_ts="e").collect()
    assert got == []


def test_asof_null_right_value_not_spliced(spark):
    """A NULL in a right column must come through as NULL from the
    matched row — never spliced with a value from an OLDER right row
    (per-column carry would do that)."""
    left = spark.createDataFrame([(1, _ts(10), "l")], "k long, ts timestamp, tag string")
    right = spark.createDataFrame(
        [(1, _ts(5), 100), (1, _ts(8), None)], "k long, ts timestamp, v long"
    )
    (row,) = asof_join(left, right, on=["k"], left_ts="ts", right_ts="ts",
                       right_cols=["v"]).collect()
    assert row["_asof_ts"] == _ts(8)  # matched the ts=8 row...
    assert row["v"] is None           # ...whose v IS null


def test_asof_tolerance_masks_asof_ts_too(frames):
    left, right = frames
    out = {r["tag"]: (r["_asof_ts"], r["v"]) for r in
           asof_join(left, right, on=["k"], left_ts="ts", right_ts="ts",
                     right_cols=["v"], tolerance_sec=60).collect()}
    assert out["l10"] == (None, None)  # stale match: whole group null


def test_asof_plan_single_exchange_no_join_node(frames):
    """The union-window as-of formulation must plan as ONE hash
    exchange on the key and zero join nodes — no range explosion, no
    nested loop (the property that makes it survive 10^12 rows)."""
    left, right = frames
    df = asof_join(left, right, on=["k"], left_ts="ts", right_ts="ts",
                   right_cols=["v"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    for node in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                 "BroadcastNestedLoopJoin"):
        assert node not in plan, node


def test_asof_null_right_ts_never_matches(spark):
    """ADVICE r02: a right row with NULL right_ts sorts first under
    asc-nulls-first and was carried by last(ignorenulls) as a spurious
    match for left rows preceding all real right rows. NULL ts can
    never satisfy right_ts <= left_ts (DuckDB ASOF agrees) — such rows
    must be dropped."""
    left = spark.createDataFrame(
        [(1, _ts(3), "early"), (1, _ts(10), "late")],
        "k long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, None, 999), (1, _ts(5), 100)], "k long, ts timestamp, v long"
    )
    out = {r["tag"]: (r["_asof_ts"], r["v"]) for r in
           asof_join(left, right, on=["k"], left_ts="ts", right_ts="ts",
                     right_cols=["v"]).collect()}
    assert out["early"] == (None, None)  # no real prior row -> null group
    assert out["late"] == (_ts(5), 100)


# ---------------------------------------------------------------- salted join


@pytest.fixture(scope="module")
def skewed(spark):
    # 90% of rows share one hot key; duplicates on both sides so the
    # equality check covers multiplicity, plus NULL keys on both sides
    rows = [(i, "hot" if i % 10 else "cold", i % 7) for i in range(1, 401)]
    rows += [(900, None, 1), (901, None, 2)]
    big = spark.createDataFrame(rows, "rid int, k string, v int")
    dim = spark.createDataFrame(
        [("hot", 1), ("hot", 2), ("cold", 3), (None, 4), ("unseen", 5)],
        "k string, w int",
    )
    return big, dim


def _sorted_rows(df):
    # None-safe total order (left-join rows carry NULLs)
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((x is None, repr(x)) for x in t),
    )


@pytest.mark.parametrize("how", ["inner", "left"])
def test_salted_join_equals_plain_join(skewed, how):
    from llogtail_spark.operators.joins import salted_join

    big, dim = skewed
    plain = big.join(dim, on=["k"], how=how)
    salted = salted_join(big, dim, on=["k"], n_salts=8, how=how,
                         salt_on=["rid"])
    assert _sorted_rows(salted) == _sorted_rows(plain)


def test_salted_join_spreads_hot_key(skewed):
    """The whole point: rows of ONE key land in many shuffle
    partitions. Count distinct salts assigned to the hot key."""
    from llogtail_spark.operators.joins import salted_join
    from pyspark.sql import functions as F

    big, dim = skewed
    n = (
        big.withColumn("_salt", F.pmod(F.xxhash64("rid"), F.lit(8)))
        .filter(F.col("k") == "hot")
        .select("_salt").distinct().count()
    )
    assert n == 8  # 360 hot rows cover all 8 salts w.h.p. (seeded hash)


def test_salted_join_keys_include_salt(spark, skewed):
    """With broadcast disabled the executed plan must be a shuffled
    join whose partitioning includes the salt — the hot key no longer
    maps to a single reducer."""
    from llogtail_spark.operators.joins import salted_join

    big, dim = skewed
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = (
            salted_join(big, dim, on=["k"], n_salts=8, salt_on=["rid"])
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "_salt" in plan and "hashpartitioning(k" in plan
    assert "BroadcastHashJoin" not in plan


def test_salted_join_rejects_outer(skewed):
    from llogtail_spark.operators.joins import salted_join

    big, dim = skewed
    with pytest.raises(ValueError):
        salted_join(big, dim, on=["k"], how="full")


# ---------------------------------------------------------------------------
# Bloom runtime pruning
# ---------------------------------------------------------------------------


def test_bloom_prune_frame_keeps_its_broadcast_across_gc(spark):
    """The pruned frame's plan holds the probe UDF, and the UDF holds
    the bitset broadcast: with no registry keeping a Python reference,
    a full Python and JVM garbage collection leaves the frame's
    broadcast alive, so it counts the same rows before and after."""
    import gc

    from llogtail_spark.operators.joins import bloom_prune_probe

    probe = spark.range(0, 4000).withColumnRenamed("id", "k")
    build = spark.range(0, 4000, 3).withColumnRenamed("id", "bk")
    df = bloom_prune_probe(probe, build, "k", "bk")
    before = df.count()
    assert before >= 1334  # no false negatives: every k % 3 == 0 survives
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    assert df.count() == before


def test_bloom_prune_no_false_negatives_random_keys(spark):
    """Property: every probe row whose key IS in the build set
    survives pruning (bloom guarantees no false negatives), across
    random 64-bit keys including negatives."""
    import numpy as np

    from llogtail_spark.operators.joins import bloom_prune_probe

    rng = np.random.default_rng(7)
    build_keys = rng.integers(-(2**62), 2**62, size=500).tolist()
    probe_keys = build_keys + rng.integers(-(2**62), 2**62, size=5000).tolist()
    probe = spark.createDataFrame([(int(k),) for k in probe_keys], "k long")
    build = spark.createDataFrame([(int(k),) for k in build_keys], "bk long")
    kept = {
        r["k"] for r in bloom_prune_probe(probe, build, "k", "bk").collect()
    }
    assert set(map(int, build_keys)) <= kept


def test_bloom_prune_drops_most_non_matching_and_nulls(spark):
    """Dense int keys (the adversarial case for a weak hash): pruning
    keeps well under 1% of non-matching rows at 16 bits/key, and NULL
    probe keys never survive (NULL never equi-joins)."""
    from llogtail_spark.operators.joins import bloom_prune_probe

    probe = spark.createDataFrame(
        [(i,) for i in range(20000)] + [(None,)], "k long"
    )
    build = spark.createDataFrame([(i,) for i in range(100)], "bk long")
    kept = [r["k"] for r in bloom_prune_probe(probe, build, "k", "bk").collect()]
    assert None not in kept
    fp = len(kept) - 100
    assert 0 <= fp < 200  # fpp ~4e-4 -> expected ~8 of 19900


def test_bloom_prune_build_gate_raises(spark):
    from llogtail_spark.operators.joins import bloom_prune_probe

    probe = spark.createDataFrame([(1,)], "k long")
    build = spark.range(50).select(F.col("id").alias("bk"))
    with pytest.raises(ValueError, match="distinct keys"):
        bloom_prune_probe(probe, build, "k", "bk", max_build_keys=10)


def test_bloom_prune_single_arrow_eval_in_scan_stage(spark):
    """Plan pin: the probe side carries exactly ONE ArrowEvalPython
    (the bitset test) and no exchange before the filter — the bloom
    prunes in the scan stage, ahead of any join shuffle (the r02
    double-eval pathology must not reappear here)."""
    from llogtail_spark.operators.joins import bloom_prune_probe

    probe = spark.range(10000).select(F.col("id").alias("k"))
    build = spark.range(50).select(F.col("id").alias("bk"))
    pruned = bloom_prune_probe(probe, build, "k", "bk")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    n_eval = plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")
    assert n_eval == 1, plan
    assert "Exchange" not in plan, plan


def test_bloom_prune_no_false_negatives_big_keys_with_nulls(spark):
    """Regression (r3 review): a probe batch mixing NULLs with keys
    >= 2^53 must NOT lose matches — a nullable long series reaches
    the pandas UDF as float64, silently rounding huge keys before
    hashing. The key is now coalesced JVM-side so the UDF input
    stays int64."""
    from llogtail_spark.operators.joins import bloom_prune_probe

    big = 2**60 + 1  # not representable in float64 (rounds to 2^60)
    probe = spark.createDataFrame(
        [(big,), (None,), (2**60 + 3,), (5,)], "k long"
    )
    build = spark.createDataFrame([(big,), (2**60 + 3,)], "bk long")
    kept = sorted(
        r["k"] for r in bloom_prune_probe(probe, build, "k", "bk").collect()
    )
    assert big in kept and (2**60 + 3) in kept
    assert None not in kept
