"""Temporal joins: as-of and point-in-interval (range), Spark-first.

Neither exists as a Spark builtin; both are re-expressed as
compositions whose plans scale:

- asof_join: tag + union both sides, ONE window pass per key carries
  the latest right-side values forward (last ignoreNulls over rows
  unbounded-preceding), filter back to left rows. Single shuffle on
  the key, no range explosion, no per-key loop — the standard
  union-merge formulation. Equal timestamps resolve right-before-left
  (>= / "backward" semantics, matching DuckDB ASOF JOIN).
- range_join_bucketed: quantize interval starts/ends and points to
  fixed-width buckets, explode each interval to the buckets it covers
  (few, when intervals are short relative to the bucket), equi-join on
  (key, bucket), exact post-filter. Turns an inequality join a generic
  engine would nested-loop into a hash join keyed on (key, bucket);
  a point matches an interval in exactly the point's own bucket, so no
  dedup pass is needed.

Reference anchor: llogtail keys every event to its file and processes
strictly in offset order (collector.go:74-78) — these operators are
the batch generalization of "latest state at or before this offset".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    tolerance_sec: int | None = None,
) -> DataFrame:
    """For each left row, attach the right row with the greatest
    right_ts <= left_ts within the same `on` key (backward as-of).

    right MUST be unique per (on, right_ts) — dedupe upstream,
    deterministically, or the carried values are undefined.
    Output: all left columns + `_asof_ts` (the matched right_ts) +
    right_cols, all taken from the SAME right row; the entire group
    (including _asof_ts) is null when no prior right row exists or the
    match is older than `tolerance_sec`.
    """
    lcols = left.columns
    # the whole right row travels as ONE struct so the carried values
    # always come from the SAME right row — per-column last(ignorenulls)
    # would splice values across rows whenever a right column is null
    rstruct = F.struct(
        F.col(right_ts).alias("_rts"), *[F.col(c) for c in right_cols]
    )
    l = left.select(
        *lcols,
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_tag"),
        F.lit(None).cast(
            right.select(rstruct.alias("_r")).schema["_r"].dataType
        ).alias("_r"),
    )
    # a NULL right_ts can never satisfy right_ts <= left_ts (ASOF
    # semantics; DuckDB agrees) — but it would sort FIRST under the
    # default asc-nulls-first window order and be carried by
    # last(ignorenulls) as a spurious whole-struct match for left rows
    # preceding all real right rows (ADVICE r02). Drop such rows, the
    # same way minhash_lsh_pairs drops null text.
    right = right.filter(F.col(right_ts).isNotNull())
    r = right.select(
        *[F.col(c) for c in on],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in lcols if c not in on],
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_tag"),
        rstruct.alias("_r"),
    ).select(*l.columns)  # align column order for unionByName safety
    u = l.unionByName(r)
    w = (
        Window.partitionBy(*on)
        .orderBy("_ts", "_tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        u.select(*u.columns, F.last("_r", ignorenulls=True).over(w).alias("_c"))
        .filter(F.col("_tag") == 1)
    )
    carried = F.col("_c")
    if tolerance_sec is not None:
        # timestamp->double keeps microsecond precision; unix_timestamp
        # would truncate to whole seconds and misclassify sub-second
        # gaps on either side of the tolerance boundary (e.g. a 5.9s
        # gap passing tolerance_sec=5). The intermediate timestamp cast
        # keeps string-typed ts columns working.
        within = (
            carried.isNotNull()
            & (F.col("_ts").cast("timestamp").cast("double")
               - carried["_rts"].cast("timestamp").cast("double")
               <= tolerance_sec)
        )
        carried = F.when(within, carried)  # stale match -> whole row null
    return out.select(
        *lcols,
        carried["_rts"].alias("_asof_ts"),
        *[carried[c].alias(c) for c in right_cols],
    )


def range_join_bucketed(
    points: DataFrame,
    intervals: DataFrame,
    on: list[str],
    point_ts: str,
    start_ts: str,
    end_ts: str,
    bucket_sec: int = 3600,
) -> DataFrame:
    """Inner join of points to the intervals containing them:
    start_ts < point_ts <= end_ts, same `on` key.

    Columns from both sides are kept (qualify duplicates upstream).
    The equi-join key is (on..., bucket); intervals explode to
    ceil(len/bucket)+1 buckets. Pick bucket_sec ~ the typical interval
    length: shuffle stays keyed and skew-safe (AQE splits hot keys).
    """
    us = 1_000_000 * bucket_sec

    def _micros(c):  # unix_micros rejects TIMESTAMP_NTZ; session is UTC
        return F.unix_micros(F.col(c).cast("timestamp"))

    pb = points.withColumn("_bkt", F.floor(_micros(point_ts) / us))
    # inverted intervals (end < start) would make sequence() count
    # DOWN and fabricate buckets — they can never match, so drop them
    ib = intervals.filter(F.col(end_ts) >= F.col(start_ts)).withColumn(
        "_bkt",
        F.explode(
            F.sequence(F.floor(_micros(start_ts) / us), F.floor(_micros(end_ts) / us))
        ),
    )
    return pb.join(ib, on=[*on, "_bkt"]).filter(
        (F.col(point_ts) > F.col(start_ts)) & (F.col(point_ts) <= F.col(end_ts))
    ).drop("_bkt")


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    n_salts: int = 16,
    how: str = "inner",
    salt_on: list[str] | None = None,
) -> DataFrame:
    """Skew-proof shuffled equi-join: salt the big (skewed) side,
    replicate the small side across all salts, join on (on..., salt).

    A shuffled join on a hot key puts every row of that key in ONE
    reducer task — the straggler that stalls a 1000-executor stage.
    Salting splits each key's rows across `n_salts` shuffle partitions
    (salt = pmod(xxhash64(salt_on...), n_salts), deterministic under
    retry) at the cost of writing the small side n_salts times; each
    matching (big, small) pair still meets exactly once, so the result
    is row-identical to the plain join for 'inner' and 'left' (NULL
    keys never equi-match on either path, and an unmatched left row
    survives exactly once). This is the explicit form of the north
    rule's "salted repartitioning ... before the per-sink aggregation
    stage"; AQE skew-split (session.py) stays on as the runtime
    backstop, but AQE cannot split a hot key finer than one reducer's
    input — salting can. Reference anchor: llogtail shards work by
    file, so one hot source serializes a worker the same way
    (collector.go:74-78); salting is the shard-split it lacks.

    salt_on defaults to all big-side columns: duplicate rows collide
    on a salt, which only skews the spread when the table is mostly
    copies of one row. Pass a row-unique column (an id) when you have
    one — cheaper to hash and perfectly uniform.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salt_src = [F.col(c) for c in (salt_on or big.columns)]
    b = big.withColumn(
        "_salt", F.pmod(F.xxhash64(*salt_src), F.lit(n_salts)).cast("int")
    )
    s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return b.join(s, on=[*on, "_salt"], how=how).drop("_salt")


# ---------------------------------------------------------------------------
# Bloom-filter runtime pruning (explicit runtime filter / semi-join push)
# ---------------------------------------------------------------------------

# bloom sizing: bits per distinct build key and probes per lookup.
# 16 bits/key with 8 probes gives fpp ~= 4e-4 — false positives only
# cost a wasted shuffle row (the exact join removes them), never a
# wrong answer.
BLOOM_BITS_PER_KEY = 16
BLOOM_N_HASHES = 8
# driver-side gate: a bloom build collects the DISTINCT build keys to
# the driver (like Spark's own InjectRuntimeFilter, whose creation
# side must fit under a threshold). 4M int64 keys = 32 MB — past
# that, skip pruning and let the plain shuffled join run.
BLOOM_MAX_BUILD_KEYS = 4_000_000

def _splitmix64(x):
    """Vectorized splitmix64 finalizer (public-domain constants) over
    a np.uint64 array — the per-batch hash the probe-side Arrow UDF
    runs, so it must be pure numpy (no per-row Python)."""
    import numpy as np

    z = x + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _bloom_positions(keys, m_bits: int, n_hashes: int):
    """(n_keys, n_hashes) bit positions via double hashing
    pos_i = h1 + i*h2 mod m (m a power of two)."""
    import numpy as np

    k = keys.astype(np.uint64)
    h1 = _splitmix64(k)
    h2 = _splitmix64(k ^ np.uint64(0xA076_1D64_78BD_642F)) | np.uint64(1)
    i = np.arange(n_hashes, dtype=np.uint64)
    return (h1[:, None] + i[None, :] * h2[:, None]) & np.uint64(m_bits - 1)


def bloom_prune_probe(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str | None = None,
    bits_per_key: int = BLOOM_BITS_PER_KEY,
    n_hashes: int = BLOOM_N_HASHES,
    max_build_keys: int = BLOOM_MAX_BUILD_KEYS,
) -> DataFrame:
    """Explicit runtime filter: prune `probe` rows whose integer
    `key` cannot match any `build` key, BEFORE the join's shuffle.

    This is the hand-rolled form of Spark's InjectRuntimeFilter /
    bloom_filter_agg (not exposed to PySpark): when the build side is
    too big to broadcast-join but its DISTINCT key set still fits in a
    few MB of bloom bits, shipping the bloom to every probe task turns
    a shuffle of 10^12 rows into a shuffle of only the ~matching rows.
    llogtail's analog is glob-level pruning — a sink never reads files
    its pattern can't match (log_watcher.go:97-126); this prunes at
    row granularity with the same "cheap check before expensive work"
    contract.

    No false negatives (every build key's bits are set), so a follow-up
    exact join returns exactly the plain join's rows; false positives
    (~2^-bits_per_key*ln2... ≈ 4e-4 at 16/8) only leak extra rows into
    the shuffle. NULL probe keys are dropped — NULL never equi-joins.

    Plan shape: build = one distinct-aggregate + driver collect (gated
    at max_build_keys); probe = scan -> ONE ArrowEvalPython (numpy
    bitset test, ~30 ns/row) -> filter. The bitset ships once per
    executor via sc.broadcast, not per task.

    Lifetime (ADVICE r03): the build-side distinct+collect and the
    Spark broadcast happen EAGERLY here, at DataFrame-construction
    time — the build cost lands outside any later timed action. The
    returned frame's plan holds the UDF, and the UDF holds the
    broadcast, so the bitset lives exactly as long as the frame:
    once it is garbage-collected, Spark's ContextCleaner removes the
    broadcast from the executors. Nothing needs releasing.
    """
    import numpy as np

    spark = probe.sparkSession
    build_key = build_key or probe_key
    rows = (
        build.select(F.col(build_key).cast("long").alias("k"))
        .filter(F.col("k").isNotNull())
        .distinct()
        .limit(max_build_keys + 1)
        .collect()
    )
    if len(rows) > max_build_keys:
        raise ValueError(
            f"bloom build side has >{max_build_keys} distinct keys; "
            "skip bloom pruning and run the plain join"
        )
    keys = np.array([r["k"] for r in rows], dtype=np.int64)
    n = max(len(keys), 1)
    m_bits = 1 << max(int(n * bits_per_key - 1).bit_length(), 6)
    bitset = np.zeros(m_bits >> 6, dtype=np.uint64)
    if len(keys):
        pos = _bloom_positions(keys, m_bits, n_hashes).ravel()
        np.bitwise_or.at(
            bitset, (pos >> np.uint64(6)).astype(np.int64),
            np.uint64(1) << (pos & np.uint64(63)),
        )
    bc = spark.sparkContext.broadcast(bitset)

    @F.pandas_udf("boolean")
    def _might_contain(s):
        import pandas as pd

        # the input is coalesced JVM-side so this series NEVER holds
        # nulls and arrives as int64. A nullable long batch would
        # arrive as float64 and round-trip keys >= 2^53 lossily —
        # hashing the WRONG key and turning bloom false positives
        # into silent FALSE NEGATIVES (dropped matching rows).
        bits = bc.value
        vals = s.to_numpy(dtype=np.int64)
        p = _bloom_positions(vals, m_bits, n_hashes)
        hit = (
            bits[(p >> np.uint64(6)).astype(np.int64)]
            >> (p & np.uint64(63)) & np.uint64(1)
        ).astype(bool).all(axis=1)
        return pd.Series(hit)

    key = F.col(probe_key).cast("long")
    # NULL probe keys are dropped JVM-side (NULL never equi-joins);
    # the coalesce sentinel only keeps the UDF input non-nullable —
    # sentinel rows never survive the isNotNull conjunct
    return probe.filter(
        key.isNotNull() & _might_contain(F.coalesce(key, F.lit(0)))
    )
