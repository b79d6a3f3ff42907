"""Model-inference scan operators: linear classifiers over hashed
text features, run as pure Catalyst expressions.

The quality-classifier pattern (fastText, Joulin et al. 2017; the
CCNet / LLaMA corpus quality filter, Wenzek et al. 2020) is the
workhorse of LLM data curation: score every document with a tiny
linear model over hashed bag-of-n-grams, keep the high-scoring
slice. At 10^12 documents the model is microscopic next to the data,
so the ONLY sane plan is inference-as-scan: features, weight lookup
and the dot product all evaluate inside whole-stage codegen with
ZERO shuffles — the per-doc result never even leaves its input
partition. This module builds that plan.

Weights here are derived arithmetically from the bucket id via the
portable hash family (a fixed pseudo-random projection) so the
operator is deterministic and oracle-verifiable with no model
artifact in the repo; swapping in trained fastText weights means
broadcast-joining a b-row (bucket, weight) table instead of
computing `_bucket_weight` — same plan shape plus one broadcast
(b = 4096 rows, trivially broadcastable at any corpus size).

Reference anchor: the reference pipeline's per-event filter stage
(`log_collector.go:175-185`) is the same shape — a cheap per-row
decision evaluated inline during the scan, never a separate pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from llogtail_spark.operators.dedup import WS_CLASS, tokenize

CLS_B = 4096          # hashed feature buckets
CLS_SEED_UNI = 21     # hash family member: unigram bucketing
CLS_SEED_BI = 22      # hash family member: bigram bucketing
CLS_SEED_W = 23       # ORDER-hash member: bucket -> weight projection
CLS_W_SPAN = 1000     # weights uniform in [-1000, 1000] milli-units
CLS_BIAS_M = 17       # bias, milli-units
CLS_THRESH_M = 25     # keep when mean per-feature logit > 25 milli


def _bucket_weight(bkt: Column) -> Column:
    """Deterministic weight for a feature bucket: the ORDER-hash
    family (large Knuth multiplier — `seed_mults`' small multipliers
    never wrap MOD for values < b, so the weight would correlate
    with the bucket id) folded to [-CLS_W_SPAN, CLS_W_SPAN]."""
    from llogtail_spark.functions.portable_hash import order_hash

    return order_hash(bkt, CLS_SEED_W) % (2 * CLS_W_SPAN + 1) - CLS_W_SPAN


def quality_classifier(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", b: int = CLS_B,
                       thresh_m: int = CLS_THRESH_M) -> DataFrame:
    """Score every document with a hashed-feature linear classifier
    and emit the keep/drop decision — fastText-style quality
    filtering as a ZERO-SHUFFLE scan.

    Features are unigrams + adjacent-bigram folds hashed into `b`
    buckets on the portable family (the DSIR feature shape,
    different seeds); the logit is

        logit_m = bias + sum over feature occurrences of w(bucket)

    in integer milli-units, computed by one `aggregate` HOF over the
    per-row feature array — no explode, no groupBy, no join: the
    whole operator is a projection, so Catalyst keeps it in a single
    WholeStageCodegen span over the parquet scan and 10^12 docs cost
    exactly one pass with map-side parallelism and nothing else.

    keep = logit_m > thresh_m * n_feats — the mean-per-feature
    threshold cross-multiplied into pure integer arithmetic (no
    division, so Spark and the DuckDB oracle agree on every bit;
    integer div truncation direction differs between engines on
    negatives, so we never divide).

    Output, one row per non-empty document:
      (id_col, n_feats:long, logit_m:long, keep:boolean)
    """
    from llogtail_spark.functions.portable_hash import (
        MOD, char_fold_hash, seeded_hash,
    )

    toks = df.select(
        F.col(id_col),
        tokenize(text_col).alias("t"),
    ).where(F.size("t") > 0)
    th = toks.select(
        id_col,
        F.transform(F.col("t"), lambda x: char_fold_hash(x)).alias("th"),
    )
    uni = F.transform(
        F.col("th"),
        lambda h: F.pmod(seeded_hash(h, CLS_SEED_UNI), F.lit(b)),
    )
    big = F.when(
        F.size("th") >= 2,
        F.transform(
            F.slice(F.col("th"), 1, F.size("th") - 1),
            lambda h, i: F.pmod(
                seeded_hash(
                    (h * F.lit(8191)
                     + F.element_at(F.col("th"), i + 2)) % F.lit(MOD),
                    CLS_SEED_BI,
                ),
                F.lit(b),
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    feats = th.select(id_col, F.concat(uni, big).alias("fs"))
    logit = (
        F.aggregate(
            F.col("fs"), F.lit(0).cast("long"),
            lambda acc, f: acc + _bucket_weight(f),
        ) + F.lit(CLS_BIAS_M)
    )
    return feats.select(
        id_col,
        F.size("fs").cast("long").alias("n_feats"),
        logit.alias("logit_m"),
        (logit > F.lit(thresh_m) * F.size("fs")).alias("keep"),
    )


def quality_classifier_sql(b: int = CLS_B,
                           thresh_m: int = CLS_THRESH_M) -> str:
    """DuckDB twin of quality_classifier — identical feature
    hashing, weight projection, and integer threshold."""
    from llogtail_spark.functions.portable_hash import (
        MOD, char_fold_hash_sql, order_mults, seed_mults,
    )

    a1, b1 = seed_mults(CLS_SEED_UNI)
    a2, b2 = seed_mults(CLS_SEED_BI)
    aw, bw = order_mults(CLS_SEED_W)
    cf = char_fold_hash_sql("x")
    w = (f"(((f * {aw} + {bw}) % {MOD}) % {2 * CLS_W_SPAN + 1}"
         f" - {CLS_W_SPAN})")
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(coalesce(text, '')),
                                                  '{WS_CLASS}'),
                               x -> x <> '') AS t
            FROM documents),
        th AS (
            SELECT doc_id, list_transform(t, x -> {cf}) AS th
            FROM toks WHERE len(t) > 0),
        feats AS (
            SELECT doc_id,
                   list_concat(
                       list_transform(th,
                           h -> (h * {a1} + {b1}) % {MOD} % {b}),
                       CASE WHEN len(th) >= 2 THEN
                           list_transform(range(1, len(th)),
                               i -> (((th[i] * 8191 + th[i + 1]) % {MOD})
                                     * {a2} + {b2}) % {MOD} % {b})
                       ELSE [] END) AS fs
            FROM th),
        scored AS (
            SELECT doc_id, len(fs) AS n_feats,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                                    list_transform(fs, f -> {w})),
                       (acc, v) -> acc + v) + {CLS_BIAS_M} AS logit_m
            FROM feats)
        SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats,
               CAST(logit_m AS BIGINT) AS logit_m,
               logit_m > {thresh_m} * n_feats AS keep
        FROM scored
    """
