"""Deterministic sampling & batch-shaping operators for training-data
pipelines.

All three are pure Catalyst expressions — no RNG state, no shuffle in
the filter itself, no Python — so they are reproducible across runs,
cluster sizes, and partition layouts (the property that matters when
a 100 TB corpus is re-materialized and the sample must not drift):

- deterministic_sample: keep a fixed pseudo-random fraction keyed on a
  stable id (hash-threshold sampling). Unlike `df.sample()`, the same
  row set survives re-runs, repartitioning, and speculative retries.
- mixture_weights: per-category keep-rates (the "data mixing" step of
  LLM corpus prep — e.g. downsample web, upsample wiki) as one CASE
  expression over the same hash, so a row's fate is a pure function of
  (key, category, weights).
- length_buckets: power-of-two sequence-length histogram (the batch-
  shaping / bucketed-batching prep step) — floor(log2(n)) computed as
  length(bin(n))-1 in exact integer arithmetic, then one map-side-
  combinable aggregation.

Hashing uses the engine-portable char-fold family
(functions/portable_hash.py) so every operator has a value-exact
DuckDB oracle; production can swap xxhash64 in one place.
Reference anchor: cheap-identity-first routing (utils.go:36-46) — a
row's destiny is decided by an O(row) pure function, never by state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llogtail_spark.functions.portable_hash import char_fold_hash, seeded_hash


def sample_bucket(key, seed_i: int = 0) -> "F.Column":
    """0..99 pseudo-random bucket for a key column: the hash-threshold
    sampling primitive. Different seed_i values give (affinely)
    decorrelated bucketings, so a 10% eval split (seed 1) is not a
    subset of a 30% train sample (seed 0)."""
    c = F.col(key) if isinstance(key, str) else key
    return seeded_hash(char_fold_hash(c.cast("string")), seed_i) % 100


def deterministic_sample(
    df: DataFrame, key_col: str, rate_pct: int, seed_i: int = 0
) -> DataFrame:
    """Keep ~rate_pct% of rows, decided per-row by hash(key) — stable
    under re-runs, retries, and any partitioning. The filter is a
    scan-level predicate (no shuffle, no RNG state to coordinate)."""
    return df.filter(sample_bucket(key_col, seed_i) < rate_pct)


def mixture_weights(
    df: DataFrame,
    category_col: str,
    key_col: str,
    weights: dict[str, int],
    default_pct: int = 100,
    seed_i: int = 0,
) -> DataFrame:
    """Per-category hash-threshold sampling: category c keeps
    ~weights[c]% of its rows (default default_pct). One CASE over a
    broadcast-free literal map — weights are config, not data."""
    cat = F.col(category_col)
    rate = F.lit(default_pct)
    for k, v in sorted(weights.items()):
        rate = F.when(cat == k, F.lit(int(v))).otherwise(rate)
    return df.filter(sample_bucket(key_col, seed_i) < rate)


def len_bucket(n) -> "F.Column":
    """floor(log2(n)) for n >= 1 via exact integer arithmetic
    (length of the binary representation minus one) — no float log,
    no boundary rounding hazard at powers of two."""
    c = F.col(n) if isinstance(n, str) else n
    return (F.length(F.bin(c.cast("long"))) - 1).cast("long")


def length_buckets(df: DataFrame, len_col: str) -> DataFrame:
    """Power-of-two length histogram: (bucket, n_rows, len_total,
    len_min, len_max). One hash aggregation, map-side combined; at
    100 TB this is a single near-free pass that sizes the bucketed-
    batching plan."""
    return (
        df.withColumn("bucket", len_bucket(len_col))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col(len_col).cast("long")).alias("len_total"),
            F.min(F.col(len_col).cast("long")).alias("len_min"),
            F.max(F.col(len_col).cast("long")).alias("len_max"),
        )
    )


def stratified_fixed_n(
    df: DataFrame,
    group_col: str,
    key_col: str,
    n: int,
    seed_i: int = 0,
) -> DataFrame:
    """EXACT-quota stratified sample: the first `n` rows per stratum
    in seeded-hash order (ties broken by the key) — the balanced-
    eval-subset primitive that Bernoulli hash-threshold sampling
    can't give (its per-stratum counts are binomial, not exact).

    One shuffle keyed on the stratum; the rank filter plans as
    WindowGroupLimit (per-partition top-n heaps before the exchange),
    so a 10^12-row stratum ships at most n rows per map task. Order is
    (hash, key): deterministic under re-runs and any layout, and
    decorrelated across seed_i values.
    """
    from pyspark.sql import Window as W

    from llogtail_spark.functions.portable_hash import order_hash

    c = F.col(key_col)
    # order_hash, not seeded_hash: the threshold family's small
    # multipliers never wrap MOD for short-key folds, so its "hash
    # order" degenerates to key order (measured: identical samples
    # for every seed)
    h = order_hash(char_fold_hash(c.cast("string")), seed_i)
    w = W.partitionBy(group_col).orderBy(h.asc(), c.asc())
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n)
        .drop("_rk")
    )


def leakage_safe_split(
    labels: DataFrame,
    train_pct: int = 90,
    rep_col: str = "rep",
    seed_i: int = 3,
) -> DataFrame:
    """Train/val assignment that can never leak near-duplicates
    across the split: the decision hashes the dedup COMPONENT
    representative, not the document id, so every member of a
    near-dup cluster lands on the same side. Input is
    resolve_components' output (doc_id, rep, keep); the split is a
    pure projection — zero extra shuffle on top of resolution."""
    bucket = sample_bucket(F.col(rep_col).cast("string"), seed_i)
    return labels.withColumn(
        "split",
        F.when(bucket < train_pct, F.lit("train")).otherwise(F.lit("val")),
    )


# ---- SQL twins (DuckDB dialect) ----

def sample_bucket_sql(key_expr: str, seed_i: int = 0) -> str:
    from llogtail_spark.functions.portable_hash import (
        char_fold_hash_sql,
        seeded_hash_sql,
    )

    return (
        "("
        + seeded_hash_sql(char_fold_hash_sql(f"CAST({key_expr} AS VARCHAR)"), seed_i)
        + ") % 100"
    )


def len_bucket_sql(n_expr: str) -> str:
    return f"(length(bin(CAST({n_expr} AS BIGINT))) - 1)"


def mixture_resample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    targets_bp: dict[str, int],
    seed_i: int = 0,
) -> DataFrame:
    """Exact-quota data-mixture enforcement: downsample every group so
    the OUTPUT mixture hits `targets_bp` (basis points per group,
    summing to 10000) exactly — the "data mixing" step of pretraining
    corpus prep (e.g. pin web/wiki/code shares), but with exact
    realized proportions instead of mixture_weights' binomial drift.

    The kept total is the LARGEST feasible without upsampling:
      T       = min_g floor(n_g * 10000 / w_g)   (the scarcest group
                relative to its target caps the corpus)
      quota_g = floor(w_g * T / 10000)  <= n_g   for every group
    Groups absent from targets_bp are dropped (weight 0); a target
    group absent from df forces T = 0 (loudly empty, never a silently
    skewed mixture).

    Per-group counts are dim-sized (the group domain: languages,
    sources, ...), so they are collected and the quota arithmetic runs
    in exact Python integers on the driver — the same metadata-sized-
    collect discipline as token_budget_select's histogram; n_g*10000
    stays exact far beyond 10^12 rows (2^63). Construction is
    therefore EAGER. The kept rows are the first quota_g per group in
    seeded-hash order — stratified_fixed_n's machinery with per-group
    quotas — so the sample is deterministic under re-runs, retries,
    and any partition layout, and decorrelated across seed_i.

    Plan: one column-pruned count scan + one window pass (single
    exchange on the group; WindowGroupLimit caps nothing here since
    quotas are per-group literals, but the rank filter still drops
    rows before the final projection). Returns the kept rows
    (key_col, group_col).

    Reference anchor: routing rules decide each row's destiny by a
    pure predicate (log_watcher.go:97-126); here the predicate is
    (group quota, hash rank).
    """
    from pyspark.sql import Window as W

    from llogtail_spark.functions.portable_hash import order_hash

    if sum(targets_bp.values()) != 10000:
        raise ValueError(
            f"targets_bp must sum to 10000, got {sum(targets_bp.values())}"
        )
    counts = {
        r["g"]: r["n"]
        for r in df.filter(F.col(group_col).isin(*targets_bp))
        .groupBy(F.col(group_col).alias("g"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    total = min(
        (counts.get(g, 0) * 10000) // w for g, w in targets_bp.items() if w
    )
    quotas = {g: (w * total) // 10000 for g, w in targets_bp.items()}

    c = F.col(key_col)
    h = order_hash(char_fold_hash(c.cast("string")), seed_i)
    w = W.partitionBy(group_col).orderBy(h.asc(), c.asc())
    quota = F.lit(0)
    for g, q in sorted(quotas.items()):
        quota = F.when(F.col(group_col) == g, F.lit(q)).otherwise(quota)
    return (
        df.filter(F.col(group_col).isin(*targets_bp))
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= quota)
        .select(key_col, group_col)
    )


def mixture_resample_sql(
    table: str,
    group_expr: str,
    key_expr: str,
    targets_bp: dict[str, int],
    seed_i: int = 0,
) -> str:
    """DuckDB twin of mixture_resample: identical integer quota
    arithmetic (// floors on exact BIGINTs) and identical seeded-hash
    rank order."""
    from llogtail_spark.functions.portable_hash import (
        char_fold_hash_sql,
        order_hash_sql,
    )

    vals = ", ".join(
        f"('{g}', {w})" for g, w in sorted(targets_bp.items())
    )
    h = order_hash_sql(char_fold_hash_sql(f"CAST({key_expr} AS VARCHAR)"), seed_i)
    return f"""
        WITH t(g, wbp) AS (SELECT * FROM (VALUES {vals})),
        c AS (SELECT {group_expr} AS g, count(*) AS n FROM {table}
              GROUP BY {group_expr}),
        j AS (SELECT t.g, coalesce(c.n, 0) AS n, t.wbp
              FROM t LEFT JOIN c ON t.g = c.g),
        tt AS (SELECT min((n * 10000) // wbp) AS total FROM j WHERE wbp > 0),
        q AS (SELECT g, (wbp * total) // 10000 AS quota FROM j, tt),
        r AS (SELECT {key_expr} AS k, {group_expr} AS g,
                     row_number() OVER (PARTITION BY {group_expr}
                                        ORDER BY ({h}), {key_expr}) AS rk
              FROM {table})
        SELECT r.k AS {key_expr}, r.g AS {group_expr}
        FROM r JOIN q ON r.g = q.g WHERE r.rk <= q.quota
    """


def temperature_mixture(df: DataFrame, text_col: str = "text",
                        source_col: str = "source") -> DataFrame:
    """Temperature-scaled source sampling weights — the multilingual /
    multi-source mixture-flattening trick (sample source i with
    probability ∝ p_i^(1/T), here T=2 i.e. sqrt smoothing): small
    sources are upweighted, dominant sources damped.

    Returns one row per source: (source, n_docs, tok_total, share_bp,
    temp_bp) where share_bp is the raw token share and temp_bp the
    sqrt-tempered share, both in basis points.

    Integer-exact cross-engine arithmetic: the tempered weight is
    floor(sqrt(tok_total)) as BIGINT — IEEE sqrt is correctly rounded
    and token counts < 2^52 are exact doubles, so floor(sqrt(n)) is
    deterministic in any engine (a float p_i^alpha + float-sum
    normalization would be summation-order-dependent). bp floors are
    BIGINT*10000 / BIGINT.

    Scale shape (10^12 sequences): one combinable agg keyed on the
    source dim — partial sums absorb everything map-side; the totals
    and bp arithmetic run over the dim-sized result (a broadcast
    1-row cross, never a corpus-wide window).
    """
    from llogtail_spark.operators.dedup import tokenize

    per = (
        df.groupBy(F.col(source_col).alias("source"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.coalesce(F.sum(F.size(tokenize(text_col))), F.lit(0))
            .cast("long").alias("tok_total"),
        )
        .withColumn("w", F.floor(F.sqrt(F.col("tok_total"))).cast("long"))
    )
    totals = per.select(
        F.sum("tok_total").alias("tok_all"), F.sum("w").alias("w_all")
    )
    return per.crossJoin(F.broadcast(totals)).select(
        "source", "n_docs", "tok_total",
        F.floor(F.col("tok_total") * 10000 / F.col("tok_all"))
        .cast("long").alias("share_bp"),
        F.floor(F.col("w") * 10000 / F.col("w_all"))
        .cast("long").alias("temp_bp"),
    )


def temperature_mixture_sql() -> str:
    """DuckDB twin of temperature_mixture: identical tokenization and
    floor(sqrt())/bp integer arithmetic."""
    from llogtail_spark.operators.dedup import WS_CLASS

    return f"""
        WITH per AS (
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(coalesce(sum(len(list_filter(
                       string_split_regex(lower(coalesce(text, '')),
                                          '{WS_CLASS}'),
                       x -> x <> ''))), 0) AS BIGINT) AS tok_total
            FROM documents GROUP BY source),
        w AS (SELECT *, CAST(floor(sqrt(tok_total)) AS BIGINT) AS wv
              FROM per),
        tot AS (SELECT sum(tok_total) AS tok_all, sum(wv) AS w_all FROM w)
        SELECT source, n_docs, tok_total,
               CAST(floor(tok_total * 10000 / tok_all) AS BIGINT)
                   AS share_bp,
               CAST(floor(wv * 10000 / w_all) AS BIGINT) AS temp_bp
        FROM w CROSS JOIN tot
    """


def priority_sample(df: DataFrame, key_col: str, weight_col: str,
                    k: int) -> DataFrame:
    """Weighted sampling WITHOUT replacement, deterministic: priority
    sampling (Duffield, Lund & Thorup, "Priority sampling for
    estimation of arbitrary subset sums", JACM'07). Each row gets
    priority = weight / u with u ~ U(0,1] keyed on its stable id; the
    k highest-priority rows form the sample — heavier rows more
    likely, no row twice, and (unlike weighted df.sample) the SAME
    rows survive re-runs, repartitioning and speculative retries,
    because u is a pure function of the key.

    Scale shape: priority is a scan-local projection; top-k plans as
    TakeOrderedAndProject — per-partition k-heaps merged on the
    driver, never a global sort (the same shape as global_topk).

    Integer arithmetic end-to-end: u_int = Knuth-multiplicative hash
    in [1, 2^32], priority = w * 2^32 div u_int — bit-identical in
    the DuckDB twin (pow()/ln() of the textbook exponential-key
    formulation differ in the last ulp across libm implementations,
    which flips rows at the k boundary; integer div cannot).

    Returns (key_col, weight_col, priority), ties broken by key.
    """
    out = (
        df.filter(F.col(key_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn(
            "_u",
            F.pmod(
                F.col(key_col).cast("long") * F.lit(2654435761),
                F.lit(4294967296),
            )
            + 1,
        )
        .withColumn(
            "priority",
            F.expr(f"(cast({weight_col} as bigint) * 4294967296L) div _u"),
        )
    )
    return (
        out.orderBy(F.desc("priority"), F.col(key_col))
        .select(key_col, weight_col, "priority")
        .limit(k)
    )


def priority_sample_per_group(df: DataFrame, key_col: str,
                              weight_col: str, group_col: str,
                              k: int) -> DataFrame:
    """Per-stratum weighted sampling without replacement: the
    priority_sample estimator applied independently inside every
    group — k highest-priority rows per group, deterministic (u is a
    pure function of the key, so re-runs, repartitioning and
    speculative retries keep the same rows). The per-source variant
    of a training-mix builder: "give me the k heaviest-ish docs per
    source, weight-proportionally, reproducibly".

    Scale shape: priority is a scan-local projection; the per-group
    top-k plans as a rank filter under WindowGroupLimit — Spark keeps
    a bounded k-heap per group BELOW the stratum exchange, so a
    billion-row group ships at most k rows per map task (the
    stratified_sample_events discipline; pinned in test_sampling).

    Returns (group_col, key_col, weight_col, priority), ties broken
    by key.
    """
    from pyspark.sql import Window as W

    out = (
        df.filter(F.col(key_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn(
            "_u",
            F.pmod(
                F.col(key_col).cast("long") * F.lit(2654435761),
                F.lit(4294967296),
            )
            + 1,
        )
        .withColumn(
            "priority",
            F.expr(f"(cast({weight_col} as bigint) * 4294967296L) div _u"),
        )
    )
    w = W.partitionBy(group_col).orderBy(F.desc("priority"), F.col(key_col))
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .select(group_col, key_col, weight_col, "priority")
    )

