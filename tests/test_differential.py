"""Randomized differential tests: seeded random inputs, Spark result
vs an independent DuckDB recompute. These catch cross-engine semantic
drift the fixed fixtures can't (boundary timestamps, hash arithmetic
on adversarial strings, interval edge cases)."""

import datetime as dt

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

SEED = 1234


def test_char_fold_hash_matches_duckdb_on_random_strings(spark):
    from llogtail_spark.functions import portable_hash as ph

    rng = np.random.default_rng(SEED)
    alphabet = list("abcdefghijklmnopqrstuvwxyz0123456789 .,!?-_")
    strings = [
        "".join(rng.choice(alphabet, size=rng.integers(0, 40)))
        for _ in range(300)
    ]
    got = {
        r["s"]: r["h"]
        for r in spark.createDataFrame([(s,) for s in strings], "s string")
        .select("s", ph.char_fold_hash("s").alias("h"))
        .collect()
    }
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"s": strings}))
    want = dict(con.execute(
        f"SELECT s, {ph.char_fold_hash_sql('s')} FROM t"
    ).fetchall())
    assert got == want


def test_asof_join_matches_duckdb_on_random_events(spark):
    from llogtail_spark.operators.joins import asof_join

    rng = np.random.default_rng(SEED)
    base = dt.datetime(2024, 1, 1)

    def frame(n, id0):
        return pd.DataFrame({
            "k": rng.integers(0, 5, size=n),
            "ts": [base + dt.timedelta(seconds=int(s))
                   for s in rng.integers(0, 120, size=n)],  # many ties
            "eid": np.arange(id0, id0 + n),
        })

    lpdf, rpdf = frame(200, 0), frame(60, 1000)
    # right must be unique per (k, ts): keep max eid
    rpdf = rpdf.sort_values("eid").groupby(["k", "ts"], as_index=False).last()
    left = spark.createDataFrame(lpdf)
    right = spark.createDataFrame(rpdf).select(
        "k", "ts", F.col("eid").alias("rid")
    )
    got = {
        r["eid"]: r["rid"]
        for r in asof_join(left, right, on=["k"], left_ts="ts",
                           right_ts="ts", right_cols=["rid"]).collect()
    }
    con = duckdb.connect()
    con.register("l", lpdf)
    con.register("r", rpdf.rename(columns={"eid": "rid"}))
    want = dict(con.execute("""
        SELECT l.eid, r.rid FROM l ASOF LEFT JOIN r
        ON l.k = r.k AND l.ts >= r.ts
    """).fetchall())
    want = {k: (None if pd.isna(v) else int(v)) for k, v in want.items()}
    assert got == want


def test_asof_join_tolerance_matches_duckdb_subsecond(spark):
    """Microsecond-resolution timestamps + tolerance: the gap check
    must use full precision (a second-truncated diff misclassifies
    both sides of the boundary — regression for the review finding),
    verified against DuckDB ASOF + exact epoch_us masking."""
    from llogtail_spark.operators.joins import asof_join

    rng = np.random.default_rng(SEED + 1)
    base = dt.datetime(2024, 1, 1)
    tol = 2  # seconds

    def frame(n, id0):
        return pd.DataFrame({
            "k": rng.integers(0, 4, size=n),
            "ts": [base + dt.timedelta(microseconds=int(u))
                   for u in rng.integers(0, 10_000_000, size=n)],
            "eid": np.arange(id0, id0 + n),
        })

    lpdf, rpdf = frame(250, 0), frame(80, 1000)
    rpdf = rpdf.sort_values("eid").groupby(["k", "ts"], as_index=False).last()
    left = spark.createDataFrame(lpdf)
    right = spark.createDataFrame(rpdf).select(
        "k", "ts", F.col("eid").alias("rid")
    )
    got = {
        r["eid"]: r["rid"]
        for r in asof_join(left, right, on=["k"], left_ts="ts",
                           right_ts="ts", right_cols=["rid"],
                           tolerance_sec=tol).collect()
    }
    con = duckdb.connect()
    con.register("l", lpdf)
    con.register("r", rpdf.rename(columns={"eid": "rid"}))
    want = dict(con.execute(f"""
        SELECT l.eid,
               CASE WHEN epoch_us(l.ts) - epoch_us(r.ts) <= {tol} * 1000000
                    THEN r.rid END
        FROM l ASOF LEFT JOIN r ON l.k = r.k AND l.ts >= r.ts
    """).fetchall())
    want = {k: (None if pd.isna(v) else int(v)) for k, v in want.items()}
    assert got == want
    # the boundary must actually be exercised: some matches masked,
    # some kept (else the fixture proves nothing)
    assert any(v is None for v in got.values())
    assert any(v is not None for v in got.values())


@pytest.mark.parametrize("bucket_sec", [7, 60, 600])
def test_range_join_matches_duckdb_inequality(spark, bucket_sec):
    from llogtail_spark.operators.joins import range_join_bucketed

    rng = np.random.default_rng(SEED + bucket_sec)
    base = dt.datetime(2024, 1, 1)
    pts = pd.DataFrame({
        "k": rng.integers(0, 4, size=150),
        "ts": [base + dt.timedelta(seconds=float(s))
               for s in rng.uniform(0, 3600, size=150)],
        "pid": np.arange(150),
    })
    durs = rng.uniform(0, 900, size=40)
    starts = rng.uniform(0, 3600, size=40)
    iv = pd.DataFrame({
        "k": rng.integers(0, 4, size=40),
        "s": [base + dt.timedelta(seconds=float(x)) for x in starts],
        "e": [base + dt.timedelta(seconds=float(x + d))
              for x, d in zip(starts, durs)],
        "iid": np.arange(40),
    })
    got = {
        (r["pid"], r["iid"])
        for r in range_join_bucketed(
            spark.createDataFrame(pts), spark.createDataFrame(iv),
            on=["k"], point_ts="ts", start_ts="s", end_ts="e",
            bucket_sec=bucket_sec,
        ).collect()
    }
    con = duckdb.connect()
    con.register("p", pts)
    con.register("i", iv)
    want = set(map(tuple, con.execute("""
        SELECT p.pid, i.iid FROM p JOIN i
        ON p.k = i.k AND p.ts > i.s AND p.ts <= i.e
    """).fetchall()))
    assert got == want


def test_minhash_portable_pairs_match_oracle_on_random_corpus(spark):
    """The full portable-LSH pair pipeline vs its DuckDB oracle on a
    RANDOM corpus with planted duplicates — same comparison the driver
    runs, but on adversarial data (repeats, punctuation, weird
    whitespace) instead of the fixed fixture."""
    import __spark_entry__ as entry
    from llogtail_spark.operators.dedup import minhash_lsh_pairs

    rng = np.random.default_rng(SEED)
    vocab = ["alpha", "beta", "gamma", "delta,", "eps!", "x9", "-", "the"]
    docs = []
    for i in range(80):
        words = rng.choice(vocab, size=rng.integers(1, 30))
        docs.append((i, " ".join(words)))
    for j in range(10):  # planted dups with whitespace noise
        docs.append((1000 + j, docs[j][1].upper() + "\t "))
    pdf = pd.DataFrame(docs, columns=["doc_id", "text"])

    got = sorted(
        map(tuple, minhash_lsh_pairs(
            spark.createDataFrame(pdf), hash_mode="portable",
            **entry.MINHASH_CONF).collect())
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    want = sorted(map(tuple, con.execute(entry._minhash_oracle()).fetchall()))
    assert got == want
    planted = {(j, 1000 + j) for j in range(10)}
    assert planted <= {(a, b) for a, b, _ in got}


def test_route_predicate_dsl_matches_duckdb_fuzz(spark, data_dir):
    """Routing predicates are arbitrary SQL expressions (the config's
    sink rules). Fuzz a grammar of comparisons / IN / LIKE / modulo /
    AND-OR-NOT combos and assert Spark and DuckDB agree on (count,
    sum(n_tok)) for every predicate — one aggregation per engine."""
    import os

    from llogtail_spark.operators.parse import parse_stage

    df = parse_stage(
        spark.read.parquet(os.path.join(data_dir, "sequences"))
    ).select("doc_id", "source", "n_tok", "level", "level_num", "component")
    pdf = df.toPandas()

    rng = np.random.default_rng(77)
    levels = ["DEBUG", "INFO", "WARN", "ERROR", "FATAL"]
    comps = sorted(pdf["component"].unique())[:6]

    def atom():
        k = rng.integers(0, 6)
        if k == 0:
            return f"level_num >= {int(rng.integers(10, 60))}"
        if k == 1:
            return f"n_tok % {int(rng.integers(2, 9))} = {int(rng.integers(0, 2))}"
        if k == 2:
            pick = ", ".join(f"'{c}'" for c in rng.choice(comps, size=2, replace=False))
            return f"component IN ({pick})"
        if k == 3:
            return f"level = '{levels[rng.integers(0, 5)]}'"
        if k == 4:
            return f"source LIKE '%{int(rng.integers(0, 6))}'"
        return f"n_tok BETWEEN {int(rng.integers(50, 150))} AND {int(rng.integers(150, 400))}"

    def pred():
        a, b = atom(), atom()
        op = ["AND", "OR", "AND NOT", "OR NOT"][rng.integers(0, 4)]
        return f"({a}) {op} ({b})"

    preds = [pred() for _ in range(40)]

    agg = df.agg(
        *[
            F.sum(F.when(F.expr(p), F.lit(1)).otherwise(F.lit(0))).alias(f"c{i}")
            for i, p in enumerate(preds)
        ],
        *[
            F.sum(F.when(F.expr(p), F.col("n_tok")).otherwise(F.lit(0))).alias(f"s{i}")
            for i, p in enumerate(preds)
        ],
    ).collect()[0]

    con = duckdb.connect()
    con.register("t", pdf)
    sel = ", ".join(
        f"count(*) FILTER (WHERE {p}) AS c{i}, "
        f"coalesce(sum(n_tok) FILTER (WHERE {p}), 0) AS s{i}"
        for i, p in enumerate(preds)
    )
    want = con.execute(f"SELECT {sel} FROM t").df().iloc[0]

    for i, p in enumerate(preds):
        assert agg[f"c{i}"] == int(want[f"c{i}"]), (p, agg[f"c{i}"], want[f"c{i}"])
        assert agg[f"s{i}"] == int(want[f"s{i}"]), (p, agg[f"s{i}"], want[f"s{i}"])


def test_grouped_aggregation_semantics_match_duckdb_fuzz(spark):
    """Randomized grouped aggregations with NULLs: count/count(col)/
    min/max/sum over integer columns must agree with DuckDB exactly —
    including null-group membership and empty-group absence."""
    rng = np.random.default_rng(99)
    n = 2000
    pdf = pd.DataFrame(
        {
            "g1": rng.choice(["a", "b", "c", None], size=n, p=[0.4, 0.3, 0.2, 0.1]),
            "g2": rng.integers(0, 5, size=n),
            "v1": rng.integers(-1000, 1000, size=n).astype("int64"),
            "v2": rng.integers(0, 100, size=n).astype("float64"),
        }
    )
    pdf.loc[rng.choice(n, size=200, replace=False), "v1"] = None
    df = spark.createDataFrame(pdf)

    got = (
        df.groupBy("g1", "g2")
        .agg(
            F.count("*").alias("n"),
            F.count("v1").alias("n_v1"),
            F.min("v1").alias("min_v1"),
            F.max("v1").alias("max_v1"),
            F.sum("v1").alias("sum_v1"),
            F.countDistinct("v2").alias("nd_v2"),
        )
        .toPandas()
    )
    con = duckdb.connect()
    con.register("t", pdf)
    want = con.execute(
        """
        SELECT g1, g2, count(*) AS n, count(v1) AS n_v1,
               min(v1) AS min_v1, max(v1) AS max_v1,
               CAST(sum(v1) AS BIGINT) AS sum_v1,
               count(DISTINCT v2) AS nd_v2
        FROM t GROUP BY g1, g2
        """
    ).df()

    def norm(d):
        d = d.copy()
        d["g1"] = d["g1"].fillna("<null>")
        return (
            d.sort_values(["g1", "g2"]).reset_index(drop=True)
            .astype({"n": "int64", "n_v1": "int64", "nd_v2": "int64"})
        )

    g, w = norm(got), norm(want)
    assert len(g) == len(w)
    for col in ["g1", "g2", "n", "n_v1", "nd_v2"]:
        assert g[col].tolist() == w[col].tolist(), col
    for col in ["min_v1", "max_v1", "sum_v1"]:
        a = g[col].astype("float64").fillna(float("nan"))
        b = w[col].astype("float64").fillna(float("nan"))
        assert ((a == b) | (a.isna() & b.isna())).all(), col


def test_window_functions_match_duckdb_fuzz(spark):
    """Randomized window functions over partitions with NULLs, order
    ties, and frame boundaries: ranking (tie semantics), lag/lead
    (boundary NULLs), rows frames over a total order, and a RANGE
    frame over the tied order column must agree with DuckDB exactly.
    Order columns are non-null (Spark defaults NULLS FIRST, DuckDB
    NULLS LAST — the portability footgun is avoided, not papered
    over)."""
    rng = np.random.default_rng(4242)
    n = 1500
    pdf = pd.DataFrame(
        {
            "p": rng.choice(["a", "b", "c", None], size=n, p=[0.4, 0.3, 0.2, 0.1]),
            "o": rng.integers(0, 40, size=n).astype("int64"),  # many ties
            "id": np.arange(n, dtype="int64"),
            "v": rng.integers(-500, 500, size=n).astype("float64"),
        }
    )
    pdf.loc[rng.choice(n, size=150, replace=False), "v"] = None
    pdf["v"] = pdf["v"].astype("Int64")
    df = spark.createDataFrame(pdf)

    from pyspark.sql import Window as W

    total = W.partitionBy("p").orderBy("o", "id")
    tied = W.partitionBy("p").orderBy("o")
    got = (
        df.select(
            "id",
            F.row_number().over(total).alias("rn"),
            F.rank().over(tied).alias("rk"),
            F.dense_rank().over(tied).alias("drk"),
            F.lag("v").over(total).alias("lg"),
            F.lead("v", 2).over(total).alias("ld"),
            F.sum("v").over(total.rowsBetween(-2, 0)).alias("s3"),
            F.min("v").over(total.rowsBetween(0, 3)).alias("m4"),
            F.sum("v").over(tied.rangeBetween(-5, 0)).alias("sr"),
        )
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("t", pdf)
    want = con.execute(
        """
        SELECT id,
          row_number() OVER (PARTITION BY p ORDER BY o, id) AS rn,
          rank() OVER (PARTITION BY p ORDER BY o) AS rk,
          dense_rank() OVER (PARTITION BY p ORDER BY o) AS drk,
          lag(v) OVER (PARTITION BY p ORDER BY o, id) AS lg,
          lead(v, 2) OVER (PARTITION BY p ORDER BY o, id) AS ld,
          sum(v) OVER (PARTITION BY p ORDER BY o, id
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS s3,
          min(v) OVER (PARTITION BY p ORDER BY o, id
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m4,
          sum(v) OVER (PARTITION BY p ORDER BY o
                       RANGE BETWEEN 5 PRECEDING AND CURRENT ROW) AS sr
        FROM t ORDER BY id
        """
    ).df()
    for col in ["rn", "rk", "drk"]:
        assert got[col].astype("int64").tolist() == want[col].astype("int64").tolist(), col
    for col in ["lg", "ld", "s3", "m4", "sr"]:
        a = got[col].astype("float64")
        b = want[col].astype("float64")
        assert ((a == b) | (a.isna() & b.isna())).all(), col


def test_corpus_ops_match_duckdb_on_random_texts(spark):
    """boilerplate_strip (greedy-regex chunking) vs its DuckDB oracle
    (list-slice chunking) plus token_budget_select and
    corpus_shuffle_shards, on adversarial random texts: mixed
    whitespace runs, punctuation-glued tokens, case noise, empty and
    whitespace-only documents. The two chunking algorithms are
    independent derivations — exactly what a differential test is
    for."""
    import __spark_entry__ as entry

    rng = np.random.default_rng(SEED)
    vocab = ["foo", "BAR", "baz,", "q-x", "the", "a!", "zz9", "..", "&"]
    docs = []
    for i in range(150):
        n = int(rng.integers(0, 40))
        ws = rng.choice([" ", "  ", "\t", " \n"], size=max(n, 1))
        words = rng.choice(vocab, size=n)
        docs.append((i, "".join(w + s for w, s in zip(words, ws))))
    docs += [(900, ""), (901, "   \t "), (902, None), (903, "one two three")]
    # planted boilerplate: the same 8-token footer in 5 docs
    footer = "fine print legal footer all rights reserved here"
    for j in range(5):
        docs.append((950 + j, f"body {j} unique words {footer}"))
    pdf = pd.DataFrame(docs, columns=["doc_id", "text"])

    sdf = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("documents", pdf)
    oracles = entry.oracle_sql()

    from llogtail_spark.operators.corpus import (
        boilerplate_strip,
        corpus_shuffle_shards,
        token_budget_select,
    )

    for name, fn in [
        ("boilerplate_strip", boilerplate_strip),
        ("token_budget_select", token_budget_select),
        ("corpus_shuffle_shards", corpus_shuffle_shards),
    ]:
        got = sorted(map(tuple, fn(sdf).collect()))
        want = sorted(map(tuple, con.execute(oracles[name]).fetchall()))
        assert got == want, name

    # the planted footer must actually get stripped (>= 3 docs)
    strip = {r[0]: r for r in boilerplate_strip(sdf).collect()}
    for j in range(5):
        assert "footer" not in strip[950 + j]["text_clean"]
        assert strip[950 + j]["n_kept"] < strip[950 + j]["n_chunks"]


def test_sketch_and_entropy_ops_match_duckdb_on_random_texts(spark):
    """kmv_distinct / countmin_freq / source_entropy / token_pmi vs
    their DuckDB oracles on adversarial random texts (mixed
    whitespace, punctuation-glued tokens, empties, NULLs) — the hash
    and eighth-bit-log arithmetic must agree bit-for-bit."""
    import __spark_entry__ as entry

    rng = np.random.default_rng(SEED + 7)
    vocab = ["join", "hash", "scan,", "the", "a!", "zz9", "..", "&", "Vector"]
    docs = []
    for i in range(200):
        n = int(rng.integers(0, 30))
        ws = rng.choice([" ", "  ", "\t", " \n"], size=max(n, 1))
        words = rng.choice(vocab, size=n)
        docs.append((i, "".join(w + s for w, s in zip(words, ws)),
                     f"s{int(rng.integers(0, 4))}"))
    docs += [(900, "", "s0"), (901, "   \t ", "s1"), (902, None, "s2")]
    pdf = pd.DataFrame(docs, columns=["doc_id", "text", "source"])

    sdf = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("documents", pdf)
    oracles = entry.oracle_sql()

    from llogtail_spark.operators.corpus import source_entropy, token_pmi
    from llogtail_spark.operators.sketches import countmin_freq, kmv_distinct

    for name, fn in [
        ("kmv_distinct", kmv_distinct),
        ("countmin_freq", countmin_freq),
        ("source_entropy", source_entropy),
        ("token_pmi", token_pmi),
    ]:
        got = sorted(map(tuple, fn(sdf).collect()))
        want = sorted(map(tuple, con.execute(oracles[name]).fetchall()))
        assert got == want, name


def test_telemetry_ops_match_duckdb_on_random_events(spark):
    """rate_spikes / interarrival_stats / active_users_7d vs DuckDB
    on random event streams with timestamp ties, NULL users/ts, and
    bursty minutes."""
    import __spark_entry__ as entry

    rng = np.random.default_rng(SEED + 11)
    base = dt.datetime(2024, 3, 1)
    rows = []
    for i in range(800):
        # bursty: half the events land in 3 hot minutes
        if rng.random() < 0.5:
            sec = int(rng.choice([60, 300, 3600])) + int(rng.integers(0, 60))
        else:
            sec = int(rng.integers(0, 14 * 86400))
        rows.append((
            i,
            base + dt.timedelta(seconds=sec),
            int(rng.integers(1, 40)) if rng.random() > 0.05 else None,
            str(rng.choice(["view", "click", "purchase"])),
        ))
    rows.append((9000, None, 5, "view"))
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type"])

    sdf = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("events", pdf)
    oracles = entry.oracle_sql()

    from llogtail_spark.operators.telemetry import (
        active_users_7d,
        interarrival_stats,
        rate_spikes,
    )

    for name, fn in [
        ("rate_spikes", rate_spikes),
        ("interarrival_stats", interarrival_stats),
        ("active_users_7d", active_users_7d),
    ]:
        got = sorted(map(tuple, fn(sdf).collect()))
        want = sorted(map(tuple, con.execute(oracles[name]).fetchall()))
        assert got == want, name
        assert len(got) > 0, name


def test_behavior_ops_match_duckdb_on_random_events(spark):
    """markov_transitions / event_type_drift / scd2_intervals /
    incremental_mv_merge / zorder_shards vs DuckDB on random event
    streams with timestamp ties, NULL users/ts/values, and bursty
    days — the NULL-ordering and grid-poisoning traps the operators
    filter explicitly."""
    import __spark_entry__ as entry

    rng = np.random.default_rng(SEED + 13)
    base = dt.datetime(2024, 3, 1)
    rows = []
    for i in range(900):
        sec = int(rng.integers(0, 20 * 86400))
        rows.append((
            i,
            base + dt.timedelta(seconds=sec)
            if rng.random() > 0.04 else None,
            int(rng.integers(1, 40)) if rng.random() > 0.05 else None,
            str(rng.choice(["view", "click", "purchase", "error"])),
            round(float(rng.uniform(0.01, 300.0)), 2)
            if rng.random() > 0.05 else None,
        ))
    # exact ties: same user, same ts, distinct event ids
    tie = base + dt.timedelta(seconds=777)
    rows += [(2000, tie, 7, "view", 1.0), (2001, tie, 7, "click", 2.0),
             (2002, tie, 7, "view", None)]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value"])

    sdf = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("events", pdf)
    oracles = entry.oracle_sql()

    from llogtail_spark.operators.aggregate import incremental_mv_merge
    from llogtail_spark.operators.layout import zorder_shards
    from llogtail_spark.operators.telemetry import (
        event_type_drift,
        markov_transitions,
        scd2_intervals,
    )

    for name, fn in [
        ("markov_transitions", markov_transitions),
        ("event_type_drift", event_type_drift),
        ("scd2_intervals", scd2_intervals),
        ("incremental_mv_merge", incremental_mv_merge),
        ("zorder_shards", zorder_shards),
    ]:
        got = sorted(map(tuple, fn(sdf).collect()))
        want = sorted(map(tuple, con.execute(oracles[name]).fetchall()))
        assert got == want, (name, got[:5], want[:5])
        assert len(got) > 0, name


def test_time_weighted_avg_matches_duckdb_on_random_events(spark):
    """time_weighted_avg vs DuckDB on random gauge streams with
    timestamp ties (dt=0 weight, so tie order can't matter), NULL
    ts/user/value, microsecond-precision timestamps, and single-
    reading users (dropped: no holding duration)."""
    import __spark_entry__ as entry

    rng = np.random.default_rng(SEED + 17)
    base = dt.datetime(2024, 3, 1)
    rows = []
    for i in range(900):
        rows.append((
            i,
            base + dt.timedelta(seconds=float(rng.uniform(0, 7 * 86400)))
            if rng.random() > 0.04 else None,
            int(rng.integers(1, 60)) if rng.random() > 0.05 else None,
            round(float(rng.uniform(0.0, 490.0)), 2)
            if rng.random() > 0.05 else None,
        ))
    tie = base + dt.timedelta(seconds=123.456789)
    rows += [(2000, tie, 3, 1.5), (2001, tie, 3, 2.5),
             (2002, tie, 3, None), (2003, None, 3, 9.0)]
    # user 59 reserved: exactly one reading -> no output row
    rows = [r for r in rows if r[2] != 59] + [(3000, base, 59, 7.0)]
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "value"])

    sdf = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("events", pdf)

    from llogtail_spark.operators.telemetry import time_weighted_avg

    got = sorted(map(tuple, time_weighted_avg(sdf).collect()))
    want = sorted(map(tuple, con.execute(
        entry.oracle_sql()["time_weighted_avg"]).fetchall()))
    assert got == want, (got[:5], want[:5])
    assert len(got) > 10
    assert all(u != 59 for u, *_ in got)


def test_mad_outliers_matches_duckdb_on_random_events(spark):
    """mad_outliers vs DuckDB on random values with NULLs, ties, a
    planted heavy-tail type (outliers must be flagged), and a
    constant-value type (MAD = 0: every deviation > 0 is an
    outlier)."""
    import __spark_entry__ as entry

    rng = np.random.default_rng(SEED + 19)
    rows = []
    for i in range(800):
        t = str(rng.choice(["gauge_a", "gauge_b", "spiky"]))
        v = round(float(rng.uniform(10, 20)), 2)
        if t == "spiky" and rng.random() < 0.05:
            v = round(float(rng.uniform(5000, 9000)), 2)
        rows.append((i, t, v if rng.random() > 0.05 else None))
    rows += [(9000 + j, "flat", 42.0) for j in range(20)]
    rows += [(9100, "flat", 43.5), (9101, None, 1.0)]
    pdf = pd.DataFrame(rows, columns=["event_id", "event_type", "value"])

    sdf = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("events", pdf)

    from llogtail_spark.operators.telemetry import mad_outliers

    got = sorted(map(tuple, mad_outliers(sdf).collect()))
    want = sorted(map(tuple, con.execute(
        entry.oracle_sql()["mad_outliers"]).fetchall()))
    assert got == want, (got, want)
    by_type = {r[0]: r for r in got}
    assert by_type["spiky"][4] > 0          # planted tail flagged
    assert by_type["flat"][3] == 0          # MAD 0
    assert by_type["flat"][4] == 1          # the lone 43.5 deviates


def test_gram_matrix_matches_numpy_and_is_layout_invariant(spark):
    """gram_matrix == the numpy brute force (per-row floor), and the
    result is identical under repartitioning (per-row integerization
    makes the sum exactly associative); NULL / wrong-length vectors
    are dropped from both the sums and n."""
    from llogtail_spark.operators.similarity import gram_matrix

    rng = np.random.default_rng(SEED + 23)
    d = 8
    X = rng.normal(0, 1, size=(40, d)).astype(np.float64)
    rows = [(i, [float(x) for x in X[i]]) for i in range(40)]
    rows += [(100, None), (101, [1.0] * (d - 1))]
    sdf = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    want_g = np.floor(
        (X[:, :, None] * X[:, None, :]) * 1_000_000.0
    ).astype(np.int64).sum(axis=0)
    ii, jj = np.triu_indices(d)
    want = sorted(
        (int(a) + 1, int(b) + 1, int(want_g[a, b]), 40)
        for a, b in zip(ii, jj)
    )

    for parts in (1, 7):
        got = sorted(map(tuple,
                         gram_matrix(sdf.repartition(parts), dim=d).collect()))
        assert got == want, parts


def test_range_frame_and_locf_match_duckdb_on_random_events(spark):
    """range_frame_sum (time-RANGE frame, set-defined ties) and
    locf_impute (last ignoreNulls carry-forward) vs DuckDB on random
    events with NULL values (imputation targets), leading NULLs,
    exact-tie timestamps, and sub-second spacing."""
    import __spark_entry__ as entry

    rng = np.random.default_rng(SEED + 29)
    base = dt.datetime(2024, 3, 1)
    rows = []
    for i in range(700):
        rows.append((
            i,
            base + dt.timedelta(seconds=float(rng.uniform(0, 3 * 3600)))
            if rng.random() > 0.04 else None,
            int(rng.integers(1, 25)) if rng.random() > 0.05 else None,
            round(float(rng.uniform(0, 400)), 2)
            if rng.random() > 0.3 else None,   # plenty of NULL gauges
        ))
    tie = base + dt.timedelta(seconds=50)
    rows += [(2000, tie, 4, 1.0), (2001, tie, 4, None), (2002, tie, 4, 3.0)]
    # user 24: leading NULL readings (no prior observation stays NULL)
    rows = [r for r in rows if r[2] != 24] + [
        (3000, base, 24, None), (3001, base + dt.timedelta(1), 24, None),
        (3002, base + dt.timedelta(2), 24, 5.5)]
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "value"])

    sdf = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("events", pdf)
    oracles = entry.oracle_sql()

    for name in ("range_frame_sum", "locf_impute"):
        got = sorted(map(tuple, _run_inline(entry, name, spark, sdf)))
        want = sorted(map(tuple, con.execute(oracles[name]).fetchall()))
        assert got == want, (name, got[:5], want[:5])
    # leading NULLs stayed NULL, later NULL got filled somewhere
    locf = dict(
        ((r[0]), (r[2], r[3]))
        for r in _run_inline(entry, "locf_impute", spark, sdf)
    )
    assert locf[3000] == (None, 0) and locf[3001] == (None, 0)
    assert locf[2001] == (100, 1)  # tie row carries the 1.0 reading


def _run_inline(entry, name, spark, sdf):
    """Run a queries() entry against an in-memory events frame by
    temporarily pointing the table loader at a temp view."""
    import tempfile

    d = tempfile.mkdtemp()
    sdf.write.mode("overwrite").parquet(f"{d}/events.parquet")
    return entry.queries()[name](spark, d).collect()


def test_cdc_chunking_matches_duckdb_on_random_texts(spark):
    """cdc_chunking vs DuckDB on random token soups, including empty
    and NULL texts (dropped), single-token docs, and a doc whose
    final token is itself a content boundary (no duplicate close)."""
    import __spark_entry__ as entry

    rng = np.random.default_rng(SEED + 31)
    vocab = [f"w{i}" for i in range(300)]
    docs = []
    for i in range(120):
        n = int(rng.integers(1, 120))
        docs.append((i, " ".join(rng.choice(vocab, size=n))))
    docs += [(500, ""), (501, None), (502, "solo")]
    pdf = pd.DataFrame(docs, columns=["doc_id", "text"])

    import tempfile

    d = tempfile.mkdtemp()
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        f"{d}/documents.parquet")
    got = sorted(map(tuple, entry.queries()["cdc_chunking"](spark, d).collect()))
    con = duckdb.connect()
    con.register("documents", pdf)
    want = sorted(map(tuple, con.execute(
        entry.oracle_sql()["cdc_chunking"]).fetchall()))
    assert got == want, (got[:5], want[:5])
    ids = {r[0] for r in got}
    assert 500 not in ids and 501 not in ids and 502 in ids
    # chunk-length invariant: sum(mean * n_chunks) reconstructs tokens
    for doc_id, n_tokens, n_chunks, max_len, mean_x100 in got:
        assert 1 <= n_chunks <= n_tokens
        assert max_len <= n_tokens
        assert mean_x100 == n_tokens * 100 // n_chunks


def test_gram_matrix_drops_nan_element_rows(spark):
    """Regression (r3 review): a NULL/NaN ELEMENT inside a vector
    reaches numpy as NaN and floor(NaN)->INT64_MIN would poison a
    whole row+column of G. Such rows must be dropped entirely (and
    excluded from n) — matching the oracle's finite-only filter."""
    from llogtail_spark.operators.similarity import gram_matrix

    d = 4
    clean = [(1, [1.0, 2.0, 3.0, 4.0]), (2, [0.5, 0.5, 0.5, 0.5])]
    dirty = [(3, [1.0, None, 2.0, 3.0]), (4, [float("nan"), 1.0, 1.0, 1.0])]
    sdf = spark.createDataFrame(clean + dirty,
                                "vec_id long, embedding array<double>")
    got = {(r["i"], r["j"]): (r["gram_fp"], r["n"])
           for r in gram_matrix(sdf, dim=d).collect()}
    import numpy as np

    X = np.array([v for _, v in clean], dtype=np.float64)
    G = np.floor((X[:, :, None] * X[:, None, :]) * 1e6).astype(np.int64).sum(0)
    for (i, j), (g, n) in got.items():
        assert n == 2
        assert g == G[i - 1, j - 1], (i, j)


def test_conversion_latency_matches_duckdb_on_random_events(spark):
    """conversion_latency vs DuckDB on random signup/purchase streams
    with sub-second fractions (the truncate-then-subtract rule must
    match exactly), purchases before signup (excluded), users with no
    purchase, and NULL ts/user."""
    import tempfile

    import __spark_entry__ as entry

    rng = np.random.default_rng(SEED + 37)
    base = dt.datetime(2024, 3, 1)
    rows = []
    for i in range(900):
        rows.append((
            i,
            base + dt.timedelta(seconds=float(rng.uniform(0, 10 * 86400)))
            if rng.random() > 0.03 else None,
            int(rng.integers(1, 80)) if rng.random() > 0.04 else None,
            str(rng.choice(["signup", "purchase", "view"])),
        ))
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                      "event_type"])
    d = tempfile.mkdtemp()
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(
        f"{d}/events.parquet")
    got = [tuple(r) for r in
           entry.queries()["conversion_latency"](spark, d).collect()]
    con = duckdb.connect()
    con.register("events", pdf)
    want = [tuple(r) for r in con.execute(
        entry.oracle_sql()["conversion_latency"]).fetchall()]
    assert got == want, (got, want)
    assert got[0][0] > 10  # enough converting users to mean something


def test_round4_ops_match_duckdb_on_random_texts(spark):
    """seq_packing / hll_distinct / dup_token_spans / fuzzy_join vs
    their DuckDB oracles on adversarial random texts (mixed
    whitespace runs, repeated phrases, near-identical strings, empty
    and NULL docs) — the same cross-engine drift net the older corpus
    ops run under."""
    import __spark_entry__ as entry  # noqa: F401  (oracle parity style)
    from llogtail_spark.operators.corpus import (
        dup_token_spans, dup_token_spans_sql, seq_packing, seq_packing_sql,
    )
    from llogtail_spark.operators.dedup import fuzzy_join, fuzzy_join_sql
    from llogtail_spark.operators.sketches import (
        hll_distinct, hll_distinct_sql,
    )

    rng = np.random.default_rng(SEED)
    vocab = ["foo", "BAR", "baz,", "q-x", "the", "a!", "zz9", "..", "&"]
    docs = []
    for i in range(120):
        n = int(rng.integers(0, 40))
        ws = rng.choice([" ", "  ", "\t", " \n"], size=max(n, 1))
        words = rng.choice(vocab, size=n)
        docs.append((i, f"s{i % 4}",
                     "".join(w + s for w, s in zip(words, ws))))
    # repeated phrase -> dup_token_spans work; near-identical strings
    # -> fuzzy_join work
    phrase = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs += [(300 + j, "s0", f"lead {j} {phrase} tail {j}")
             for j in range(4)]
    docs += [(400, "s1", "nearly identical string value one"),
             (401, "s1", "nearly identicaX string value one"),
             (402, "s1", "nearly identical string value one!"),
             (900, "s2", ""), (901, "s2", "   \t "), (902, "s3", None)]
    pdf = pd.DataFrame(docs, columns=["doc_id", "source", "text"])

    sdf = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("documents", pdf)

    for name, df, sql in [
        ("seq_packing", seq_packing(sdf), seq_packing_sql()),
        ("hll_distinct", hll_distinct(sdf), hll_distinct_sql()),
        ("dup_token_spans", dup_token_spans(sdf), dup_token_spans_sql()),
        ("fuzzy_join", fuzzy_join(sdf), fuzzy_join_sql()),
    ]:
        got = sorted(map(tuple, df.collect()))
        want = sorted(map(tuple, con.execute(sql).fetchall()))
        assert got == want, name

    # the planted structures must actually be found
    spans = {r["doc_id"] for r in dup_token_spans(sdf).collect()}
    assert {301, 302, 303} <= spans  # later copies of the phrase
    fz = {(r["doc_a"], r["doc_b"]): r["dist"]
          for r in fuzzy_join(sdf).collect()}
    assert fz[(400, 401)] == 1 and fz[(400, 402)] == 1


def test_late_round4_text_ops_match_duckdb_on_random_texts(spark):
    """quality_classifier / kmv_set_ops / kn_bigram_lm /
    doc_perplexity / source_kl_matrix vs their DuckDB oracles on
    adversarial random texts (mixed whitespace, punctuation tokens,
    empty and NULL docs, single-token docs) — cross-engine drift net
    for the late-round-4 additions."""
    from llogtail_spark.operators.classify import (
        quality_classifier, quality_classifier_sql,
    )
    from llogtail_spark.operators.corpus import (
        doc_perplexity, doc_perplexity_sql, kn_bigram_lm, kn_bigram_lm_sql,
        source_kl_matrix, source_kl_matrix_sql,
    )
    from llogtail_spark.operators.sketches import kmv_set_ops, kmv_set_ops_sql

    rng = np.random.default_rng(SEED + 7)
    vocab = ["foo", "BAR", "baz,", "q-x", "the", "a!", "zz9", "..", "&",
             "Mixed", "CASE"]
    docs = []
    for i in range(150):
        n = int(rng.integers(0, 50))
        ws = rng.choice([" ", "  ", "\t", " \n"], size=max(n, 1))
        words = rng.choice(vocab, size=n)
        docs.append((i, f"s{i % 5}",
                     "".join(w + s for w, s in zip(words, ws))))
    docs += [(900, "s0", ""), (901, "s1", "   \t "), (902, "s2", None),
             (903, "s3", "solo")]
    pdf = pd.DataFrame(docs, columns=["doc_id", "source", "text"])
    sdf = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("documents", pdf)

    cases = [
        ("quality_classifier", quality_classifier(sdf),
         quality_classifier_sql()),
        ("kmv_set_ops", kmv_set_ops(sdf), kmv_set_ops_sql()),
        ("kn_bigram_lm", kn_bigram_lm(sdf), kn_bigram_lm_sql()),
        ("doc_perplexity", doc_perplexity(sdf), doc_perplexity_sql()),
        ("source_kl_matrix", source_kl_matrix(sdf),
         source_kl_matrix_sql()),
    ]
    for name, df, sql in cases:
        got = sorted(map(tuple, df.collect()))
        want = sorted(map(tuple, con.execute(sql).fetchall()))
        assert got == want, name


def test_late_round4_event_ops_match_duckdb_on_random_events(spark):
    """journey_paths / event_trigrams / ohlc_bars / decayed_scores /
    trend_slope / benford_digits / hist_quantiles / rank_normalize /
    hll_sliding_dau vs their DuckDB oracles on adversarial random
    events: heavy (ts) ties, NULL user/ts/value/event_id rows, and
    negative-ish tiny values (cent-floor boundary)."""
    from llogtail_spark.operators.sketches import hll_sliding_dau
    from llogtail_spark.operators.sketches import hll_sliding_dau_sql
    from llogtail_spark.operators.telemetry import (
        benford_digits, benford_digits_sql, decayed_scores,
        decayed_scores_sql, event_trigrams, event_trigrams_sql,
        hist_quantiles, hist_quantiles_sql, journey_paths,
        journey_paths_sql, ohlc_bars, ohlc_bars_sql, rank_normalize,
        rank_normalize_sql, trend_slope, trend_slope_sql,
    )

    rng = np.random.default_rng(SEED + 11)
    base = dt.datetime(2024, 3, 1)
    n = 600
    rows = []
    for i in range(n):
        ts = base + dt.timedelta(
            seconds=int(rng.integers(0, 20 * 86400)) % (20 * 86400))
        if i % 7 == 0:  # heavy tie block: same second
            ts = base
        rows.append((
            i if i % 53 else None,                         # NULL eids
            None if i % 41 == 0 else ts,                   # NULL ts
            int(rng.integers(0, 25)) if i % 37 else None,  # NULL user
            rng.choice(["click", "view", "purchase", "signup", "error"]),
            None if i % 43 == 0 else float(np.round(
                rng.uniform(0.001, 300.0), 3)),            # NULL + tiny
            None,
        ))
    pdf = pd.DataFrame(rows, columns=[
        "event_id", "ts", "user_id", "event_type", "value", "props"])
    pdf["event_id"] = pdf["event_id"].astype("Int64")
    pdf["user_id"] = pdf["user_id"].astype("Int64")
    sdf = spark.createDataFrame(pdf)
    con = duckdb.connect()
    con.register("events", pdf)

    cases = [
        ("journey_paths", journey_paths(sdf), journey_paths_sql()),
        ("event_trigrams", event_trigrams(sdf), event_trigrams_sql()),
        ("ohlc_bars", ohlc_bars(sdf), ohlc_bars_sql()),
        ("decayed_scores", decayed_scores(sdf), decayed_scores_sql()),
        ("trend_slope", trend_slope(sdf), trend_slope_sql()),
        ("benford_digits", benford_digits(sdf), benford_digits_sql()),
        ("hist_quantiles", hist_quantiles(sdf), hist_quantiles_sql()),
        ("rank_normalize", rank_normalize(sdf), rank_normalize_sql()),
        ("hll_sliding_dau", hll_sliding_dau(sdf), hll_sliding_dau_sql()),
    ]
    for name, df, sql in cases:
        got = sorted(map(tuple, df.collect()))
        want = sorted(map(tuple, con.execute(sql).fetchall()))
        assert got == want, name
