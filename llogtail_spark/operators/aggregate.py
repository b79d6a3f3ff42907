"""Per-sink rollups and order-insensitive content checksums.

The reference's only 'aggregate' is a logged byte count per push
(file_sink.go:78); the north rule promotes per-sink row counts and
byte/token totals to a first-class, exactly-verified output.

Checksum design: BIT_XOR of xxhash64(doc_id, tokens) — order-
insensitive (XOR is commutative), overflow-free under ANSI mode, and
collision-unlikely, playing the role of llogtail's first-1KB MD5
identity (utils.go:36-46) at partition/sink granularity. Catalyst
runs this as partial+final aggregation automatically: map-side XOR
per partition, tiny shuffle.

Skew: per-sink aggregation keys on `sink` — very low cardinality, so
one hot sink (the reference's one noisy log) would bottleneck a
single reducer. `salted_sink_aggregates` pre-aggregates on
(sink, salt) then folds salts — two narrow shuffles, no hot reducer.
Spark's AQE skew handling (on by default) is belt-and-braces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BYTES_PER_TOKEN = 4  # int32 tokens — byte totals derive exactly


def content_checksum(doc_id_col: str = "doc_id", tokens_col: str = "tokens",
                     tok_hash_col: str | None = None):
    """Order-insensitive row-content checksum aggregate expression.

    When the frame carries the parse stage's tok_hash (scalar content
    hash computed in the Arrow pass), hash that — JVM xxhash64 over
    array<int> is ~30x slower (per-element, allocation-heavy) and its
    garbage degrades every co-resident stage. The array fallback is
    kept for raw frames in tests/tools."""
    if tok_hash_col:
        return F.bit_xor(F.xxhash64(F.col(doc_id_col), F.col(tok_hash_col)))
    return F.bit_xor(F.xxhash64(F.col(doc_id_col), F.col(tokens_col)))


def _cksum_for(df: DataFrame):
    return content_checksum(
        tok_hash_col="tok_hash" if "tok_hash" in df.columns else None
    )


def sink_aggregates(routed: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Rollup over a routed frame (must carry a `sink` column)."""
    group_cols = group_cols or ["sink"]
    return routed.groupBy(*group_cols).agg(
        F.count("*").alias("row_count"),
        F.sum("n_tok").alias("tok_total"),
        (F.sum("n_tok") * BYTES_PER_TOKEN).alias("byte_total"),
        F.countDistinct("source").alias("n_sources"),
        _cksum_for(routed).alias("checksum"),
    )


def salted_sink_aggregates(routed: DataFrame, n_salts: int = 64) -> DataFrame:
    """Two-phase (salted) variant producing IDENTICAL results.

    Phase 1 groups on (sink, salt) — spreads a pathological single-
    sink distribution over n_salts reducers; phase 2 folds the salts.
    All component aggregates are decomposable (count/sum -> sum,
    bit_xor -> bit_xor); countDistinct is rebuilt exactly from the
    phase-1 (sink, salt, source)-level grouping.
    """
    salted = routed.withColumn(
        "_salt", F.pmod(F.xxhash64("doc_id"), F.lit(n_salts))
    )
    partial = salted.groupBy("sink", "_salt", "source").agg(
        F.count("*").alias("c"),
        F.sum("n_tok").alias("t"),
        _cksum_for(routed).alias("x"),
    )
    return (
        partial.groupBy("sink")
        .agg(
            F.sum("c").alias("row_count"),
            F.sum("t").alias("tok_total"),
            (F.sum("t") * BYTES_PER_TOKEN).alias("byte_total"),
            F.countDistinct("source").alias("n_sources"),
            F.bit_xor("x").alias("checksum"),
        )
    )


def salted_event_rollup(df: DataFrame, key_col: str = "event_type",
                        id_col: str = "event_id",
                        user_col: str = "user_id",
                        val_col: str = "value",
                        n_salts: int = 64) -> DataFrame:
    """Two-phase salted rollup over a low-cardinality key, producing
    results IDENTICAL to the plain GROUP BY (which is its oracle):
    the skew discipline the north rule names, driver-visible.

    Phase 1 groups on (key, salt, user) — a pathological hot key
    spreads over n_salts * |users-in-key| reducers; phase 2 folds
    the salts. Values are fixed-point BIGINT per row BEFORE summing
    (round(value*100)) so the fold is exactly associative — a salted
    double sum could differ from the plain sum in the last ulp and
    flip a floor.

    Output: (key_col, n_events:long, sum_value_x100:long,
    n_users:long).
    """
    v100 = F.round(F.col(val_col) * 100).cast("long")
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts))
    ).withColumn("_v", v100)
    partial = salted.groupBy(key_col, "_salt", user_col).agg(
        F.count("*").alias("c"), F.sum("_v").alias("v")
    )
    return partial.groupBy(key_col).agg(
        F.sum("c").cast("long").alias("n_events"),
        F.sum("v").cast("long").alias("sum_value_x100"),
        F.countDistinct(user_col).cast("long").alias("n_users"),
    )


def salted_event_rollup_sql(key_col: str = "event_type",
                            user_col: str = "user_id",
                            val_col: str = "value") -> str:
    """The salted rollup's oracle IS the plain GROUP BY — salting is
    an execution strategy, not a semantic."""
    return f"""
        SELECT {key_col},
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(round({val_col} * 100) AS BIGINT)) AS BIGINT)
                   AS sum_value_x100,
               CAST(count(DISTINCT {user_col}) AS BIGINT) AS n_users
        FROM events GROUP BY 1
    """


# ------------------------------------------- incremental MV merge

MV_SPLIT_DAY = 15  # synthetic batch boundary: days < 15 = old MV


def incremental_mv_merge(df: DataFrame, split_day: int = MV_SPLIT_DAY,
                         key_col: str = "event_type") -> DataFrame:
    """Incremental materialized-view maintenance by partial-state
    merge: the standing MV (events before `split_day` of the month)
    and the new-batch delta are aggregated INDEPENDENTLY, then merged
    by re-aggregating the two partial-state tables — never rescanning
    the old fact data. Equals the from-scratch GROUP BY (the oracle)
    because every kept statistic is mergeable: count/sum/min/max
    (NOT countDistinct — a distinct would need a sketch like KMV,
    see operators/sketches.py).

    This is llogtail's resume discipline applied to aggregates: on
    restart the collector re-reads only past-checkpoint bytes and
    FOLDS them into standing per-sink counts (collector.go:125-174,
    utils.go:218-228); here the checkpointed state is the MV rows.

    Scale shape (10^12 events/day): each side is one combinable
    shuffle onto the key domain; the merge re-agg runs on 2x dim-size
    rows. At cluster scale the old side is a stored table — zero
    fact-scan cost per refresh.

    Returns (event_type, n, value_cents, vmin_cents, vmax_cents)."""
    cents = F.round(F.col("value") * 100).cast("long")

    def partial(part: DataFrame) -> DataFrame:
        return part.groupBy(key_col).agg(
            F.count("*").alias("n"),
            F.sum(cents).alias("value_cents"),
            F.min(cents).alias("vmin_cents"),
            F.max(cents).alias("vmax_cents"),
        )

    # the two sides must PARTITION the input exactly — a NULL ts row
    # would satisfy neither predicate and silently vanish from the
    # merge while the from-scratch oracle still counts it. NULL ts
    # joins the old batch by definition.
    dom = F.dayofmonth(F.col("ts").cast("timestamp"))
    old_mv = partial(df.filter((dom < split_day) | dom.isNull()))
    delta = partial(df.filter(dom >= split_day))
    return (
        old_mv.unionByName(delta)
        .groupBy(key_col)
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("value_cents").cast("long").alias("value_cents"),
            F.min("vmin_cents").cast("long").alias("vmin_cents"),
            F.max("vmax_cents").cast("long").alias("vmax_cents"),
        )
    )


def incremental_mv_merge_sql(key_col: str = "event_type") -> str:
    """Oracle = the from-scratch aggregate the merge must equal."""
    return f"""
        SELECT {key_col},
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS value_cents,
               CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS vmin_cents,
               CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS vmax_cents
        FROM events GROUP BY {key_col}
    """
