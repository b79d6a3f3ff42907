"""Mergeable sketch operators: K-minimum-values (KMV) distinct-count
estimation over a hashed domain.

Why a sketch family at all: the reference dedups work items by cheap
identity hashes before doing any expensive work (utils.go:36-46,
log_watcher.go:97-126). At 10^12 sequences the analogous corpus
question — "how many distinct tokens/urls/chunks does each source
contribute?" — cannot afford an exact distinct (the distinct set IS
the data). KMV (Bar-Yossef et al. 2002, "Counting distinct elements
in a data stream") keeps only the K smallest hash values per group;
the K-th smallest order statistic of N uniform hashes estimates N as
(K-1) / h_(K) (normalized), with relative error ~ 1/sqrt(K).

Spark-first shape (kmv_distinct):
  explode tokens -> hash (pure Catalyst char-fold, no Python)
  -> groupBy(group, hash)        # ONE shuffle; map-side partial agg
                                 # dedupes each hash before the wire
  -> rank-limit window rn <= K   # Spark's WindowGroupLimit keeps a
                                 # per-partition top-K heap BELOW the
                                 # exchange, so the second shuffle
                                 # carries <= K rows per partition
                                 # per group, not the distinct set
  -> per-group agg (count, max)  # K rows per group
  -> estimate = (K-1) * MOD / h_K  (integer arithmetic, exact floor)

The sketch is mergeable by construction: the K smallest of a union is
computable from the K smallest of each part — exactly what the
rank-limit heap + final window computes, so the plan IS the
distributed merge. All arithmetic is the engine-portable hash family
(functions/portable_hash.py): BIGINT-exact in DuckDB, so the oracle
verifies values, not just shapes.

Estimation error is tested against the exact distinct count at
fixture scale (tests/test_sketches.py); the driver-facing query
output contains only sketch-derived columns, because at 10^12 rows
the exact count does not exist to compare against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from llogtail_spark.functions.portable_hash import (
    MOD,
    char_fold_hash,
    char_fold_hash_sql,
    order_hash,
    order_hash_sql,
    order_mults,
)
from llogtail_spark.operators.ckpt import checkpoint
from llogtail_spark.operators.dedup import WS_CLASS, tokenize

KMV_K = 64        # sketch size: rel. error ~ 1/sqrt(K) ~ 12.5%
KMV_SEED = 5      # order_hash family member (large multiplier: wraps MOD)


def _kmv_mix(h):
    """Quadratic lattice-breaker applied before the order hash. KMV
    estimates are k-th-order statistics, so they need the LOW tail of
    the hash distribution to be uniform — but char-fold values of
    short sequential tokens ("tok0".."tok4999") form near-arithmetic
    progressions, and every affine map mod p preserves that lattice
    (compositions of affine maps are affine), which measurably biases
    the k-min: the 5-replica set-ops fixture read -30% union error
    systematically before this mix, -1% mean after. h^2 + h mod p is
    the cheapest nonlinearity that is exact in int64 on both engines
    (h < MOD ~ 1e9, h^2 < 1e18 < 2^63)."""
    return (h * h + h) % MOD


def _kmv_mix_sql(expr: str) -> str:
    return f"((({expr}) * ({expr}) + ({expr})) % {MOD})"


def kmv_distinct(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    k: int = KMV_K,
    seed: int = KMV_SEED,
) -> DataFrame:
    """Per-group KMV distinct-token estimate.

    Output: (group_col, n_kept:long, kth_hash:long, est_distinct:long)
      n_kept   — min(K, exact distinct) hashes retained
      kth_hash — the largest retained hash (the K-th order statistic)
      est_distinct — n_kept if the group has < K distinct tokens
                     (the sketch is exact below its capacity), else
                     floor((K-1) * MOD / kth_hash).

    Collision caveat: the hash domain is MOD ~ 1e9, so distinct-token
    counts approaching sqrt(MOD) ~ 3e4 per group start losing
    distinct values to collisions — fine for vocabulary-sized domains
    and for the oracle (which replays identical collisions); a
    production variant swaps in xxhash64 (64-bit domain) at the cost
    of the cross-engine oracle.
    """
    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(tokenize(text_col)).alias("tok"),
    )
    hashed = toks.select(
        "grp", order_hash(_kmv_mix(char_fold_hash(F.col("tok"))), seed).alias("hv")
    )
    # ONE wide shuffle: hash-distinct with map-side combine.
    dedup = hashed.groupBy("grp", "hv").agg(F.lit(1))
    # rank-limit: WindowGroupLimit plans a per-partition bottom-K heap
    # BELOW the group exchange (pinned in tests/test_sketches.py), so
    # the per-group shuffle moves K rows per upstream partition, not
    # the whole distinct set.
    w = Window.partitionBy("grp").orderBy("hv")
    kept = dedup.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
    agg = kept.groupBy("grp").agg(
        F.count("*").alias("n_kept"), F.max("hv").alias("kth_hash")
    )
    return agg.select(
        F.col("grp").alias(group_col),
        F.col("n_kept").cast("long").alias("n_kept"),
        F.col("kth_hash").cast("long").alias("kth_hash"),
        F.when(F.col("n_kept") < k, F.col("n_kept"))
        .otherwise(F.floor(F.lit((k - 1) * MOD) / F.col("kth_hash")))
        .cast("long")
        .alias("est_distinct"),
    )


CM_DEPTH = 4     # independent hash rows; P(overestimate > eps*N) <= 2^-D
CM_WIDTH = 64    # counters per row; eps = e / W
# Probe tokens: literal constants so the DuckDB twin recomputes the
# identical cells. Mix of frequent, mid, and absent tokens — the
# absent one exercises CM's collision-floor overestimate.
CM_PROBES = ("join", "hash", "scan", "window", "the", "vector",
             "stream", "zzz_absent")


def countmin_freq(
    df: DataFrame,
    text_col: str = "text",
    probes: tuple = CM_PROBES,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """Count-min frequency sketch (Cormode & Muthukrishnan 2005) over
    the token stream, probed at literal tokens.

    Build: every token increments one counter per hash row — a
    (row, cell) explode (x DEPTH, constant) into ONE map-side-
    combinable groupBy; the materialized sketch is DEPTH x WIDTH
    counters (256 rows here) regardless of input size, i.e. the
    mergeable fixed-size summary that replaces an exact token
    histogram at 10^12 rows. Probe: each probe token's DEPTH cells
    look up the (broadcast, dim-sized) sketch; the estimate is the
    min over rows — an upper bound on the true count, within
    eps*N = (e/WIDTH)*N with probability 1 - 2^-DEPTH.

    Output: (token, est_count:long). Deterministic: the portable hash
    family makes every counter and therefore every estimate
    reproducible in the DuckDB twin. Reference anchor: llogtail's
    byte/line counters per sink (collector.go:125-174) — the same
    counting discipline compressed to sublinear space.
    """
    spark = df.sparkSession
    toks = df.select(F.explode(tokenize(text_col)).alias("tok"))
    # collapse to the vocab-sized token histogram BEFORE hashing: the
    # cell depends only on the token, so sketch[cell] += count is
    # identical to per-instance increments — and the char-fold hash
    # (whose expression each of the `depth` cell entries embeds a
    # copy of, via project collapse) runs `depth` times per DISTINCT
    # token instead of per token instance (measured 3x on sf0.1).
    hist = toks.groupBy("tok").agg(F.count("*").cast("long").alias("n"))
    h = char_fold_hash(F.col("tok"))
    cells = hist.select(
        "n",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("row_i"),
                    (order_hash(h, i) % width).alias("cell"),
                )
                for i in range(depth)
            ])
        ).alias("rc"),
    )
    sketch = cells.groupBy(
        F.col("rc.row_i").alias("row_i"), F.col("rc.cell").alias("cell")
    ).agg(F.sum("n").cast("long").alias("cnt"))

    # probe side: a tiny literal DF (len(probes) x depth rows); the
    # row_i-th seed picks that row's cell via a constant-depth CASE.
    probe_rows = [(t, i) for t in probes for i in range(depth)]
    probes_df = spark.createDataFrame(probe_rows, "token string, row_i int")
    hh = char_fold_hash(F.col("token"))
    cell_expr = order_hash(hh, 0) % width
    for i in range(1, depth):
        cell_expr = F.when(
            F.col("row_i") == i, order_hash(hh, i) % width
        ).otherwise(cell_expr)
    probes_df = probes_df.withColumn("cell", cell_expr)
    # sketch is DEPTH*WIDTH rows -> broadcast; missing cells (never
    # incremented) are true zeros.
    looked = probes_df.join(
        F.broadcast(sketch), ["row_i", "cell"], "left"
    ).select("token", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"))
    return looked.groupBy("token").agg(
        F.min("cnt").cast("long").alias("est_count")
    )


def countmin_freq_sql(
    text_col: str = "text",
    probes: tuple = CM_PROBES,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
    table: str = "documents",
) -> str:
    """DuckDB twin of countmin_freq — identical hash rows, cells, and
    min-over-rows estimate."""
    rows = " UNION ALL ".join(
        f"SELECT tok, {i} AS row_i, "
        f"({order_hash_sql('h', i)}) % {width} AS cell FROM hashed"
        for i in range(depth)
    )
    probe_vals = ", ".join(f"('{t}')" for t in probes)
    probe_cells = " UNION ALL ".join(
        f"SELECT token, {i} AS row_i, "
        f"({order_hash_sql(char_fold_hash_sql('token'), i)}) % {width} AS cell "
        f"FROM probe_toks"
        for i in range(depth)
    )
    return f"""
        WITH tok AS (
            SELECT unnest(list_filter(
                string_split_regex(lower(coalesce({text_col}, '')),
                                   '{WS_CLASS}'),
                x -> x <> '')) AS tok
            FROM {table}),
        hashed AS (SELECT tok, {char_fold_hash_sql('tok')} AS h FROM tok),
        cells AS ({rows}),
        sketch AS (
            SELECT row_i, cell, CAST(count(*) AS BIGINT) AS cnt
            FROM cells GROUP BY 1, 2),
        probe_toks AS (SELECT * FROM (VALUES {probe_vals}) AS v(token)),
        probe_cells AS ({probe_cells}),
        looked AS (
            SELECT p.token, coalesce(s.cnt, 0) AS cnt
            FROM probe_cells p
            LEFT JOIN sketch s ON s.row_i = p.row_i AND s.cell = p.cell)
        SELECT token, CAST(min(cnt) AS BIGINT) AS est_count
        FROM looked GROUP BY token
    """


def kmv_distinct_sql(
    text_col: str = "text",
    group_col: str = "source",
    k: int = KMV_K,
    seed: int = KMV_SEED,
    table: str = "documents",
) -> str:
    """DuckDB twin of kmv_distinct — identical hash family, identical
    integer estimate arithmetic."""
    h = order_hash_sql(_kmv_mix_sql(char_fold_hash_sql("tok")), seed)
    return f"""
        WITH tok AS (
            SELECT {group_col} AS grp,
                   unnest(list_filter(
                       string_split_regex(lower(coalesce({text_col}, '')),
                                          '{WS_CLASS}'),
                       x -> x <> '')) AS tok
            FROM {table}),
        hashed AS (SELECT DISTINCT grp, {h} AS hv FROM tok),
        ranked AS (
            SELECT grp, hv,
                   row_number() OVER (PARTITION BY grp ORDER BY hv) AS rn
            FROM hashed),
        agg AS (
            SELECT grp, CAST(count(*) AS BIGINT) AS n_kept,
                   CAST(max(hv) AS BIGINT) AS kth_hash
            FROM ranked WHERE rn <= {k} GROUP BY grp)
        SELECT grp AS {group_col}, n_kept, kth_hash,
               CAST(CASE WHEN n_kept < {k} THEN n_kept
                    ELSE floor(CAST({(k - 1) * MOD} AS BIGINT) / kth_hash)
               END AS BIGINT) AS est_distinct
        FROM agg
    """


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters (sketch-guided exact top frequencies)
# ---------------------------------------------------------------------------

# counters kept per partition summary; any token with global frequency
# > n_tokens / HH_K survives the per-partition sketch union (see proof
# in heavy_hitters docstring), so the exact rerank sees every true
# heavy hitter.
HH_K = 200


def heavy_hitters(df: DataFrame, k: int = HH_K,
                  text_col: str = "text") -> DataFrame:
    """EXACT tokens with global frequency > n_tokens / k, found
    without shuffling the full token vocabulary: a per-partition
    Misra-Gries summary (Misra & Gries 1982; merged per the
    mergeable-summaries rule of Agarwal et al. 2012) nominates a
    candidate set, then one broadcast-semi-join pass counts ONLY the
    candidates exactly.

    Why the union of per-partition sketches suffices: an MG summary
    with k counters over a partition of n_p tokens undercounts any
    token by at most n_p/(k+1); a token t it drops entirely has
    c_p(t) <= n_p/(k+1). If EVERY partition dropped t, then
    c(t) = sum c_p(t) <= sum n_p/(k+1) = n/(k+1) < n/k — so every
    global heavy hitter survives in at least one partition summary.
    False candidates cost only a few exact counts.

    Scale shape (10^12 tokens): pass 1 streams each partition once
    through a k-entry dict (mapInPandas, batch pre-counted with
    vectorized value_counts) and ships <= k+1 rows per partition;
    pass 2 filters the token stream against the broadcast candidate
    set BEFORE the count shuffle, so the groupBy carries candidate
    tokens only — never the 10^10-term vocabulary. llogtail analog:
    per-sink counts track totals, not term frequencies
    (collector.go:125-174); this is the term-level hot-list a routing
    layer needs to spot a runaway logger.

    Returns (token, n, freq_bp) for exact n*k > n_tokens; integer bp.
    """
    from pyspark.sql import types as T

    tokens = df.select(F.explode(tokenize(text_col)).alias("token"))

    out_schema = T.StructType([
        T.StructField("token", T.StringType()),   # NULL = partition-total row
        T.StructField("n", T.LongType()),
    ])

    def _mg_partition(batches):
        import pandas as pd

        def prune(cs: dict) -> dict:
            if len(cs) <= k:
                return cs
            # mergeable-summaries prune: subtract the (k+1)-th
            # largest counter from all, drop the non-positive
            vals = sorted(cs.values(), reverse=True)
            sub = vals[k]
            return {t: c - sub for t, c in cs.items() if c - sub > 0}

        counters: dict[str, int] = {}
        n_part = 0
        for pdf in batches:
            vc = pdf["token"].value_counts()  # vectorized exact batch count
            n_part += int(vc.sum())
            # merge in bounded slices so peak dict size is O(k + slice),
            # not O(k + batch distinct) — each slice-merge then prune is
            # itself a mergeable-summaries merge, so the error bound
            # still telescopes to n_part/(k+1) (r3 review)
            items = list(vc.items())
            for off in range(0, len(items), max(8 * k, 1)):
                for tok, cnt in items[off:off + max(8 * k, 1)]:
                    counters[tok] = counters.get(tok, 0) + int(cnt)
                counters = prune(counters)
        yield pd.DataFrame(
            {"token": list(counters) + [None], "n": list(counters.values()) + [n_part]}
        )

    sketch = tokens.mapInPandas(_mg_partition, out_schema)
    # the sketch output is <= (k+1) rows per partition — tiny. Two
    # driver-visible scalars come out of it: candidate set + n_tokens.
    rows = sketch.collect()
    n_tokens = sum(r["n"] for r in rows if r["token"] is None)
    cands = sorted({r["token"] for r in rows if r["token"] is not None})
    if not cands or n_tokens == 0:
        spark = df.sparkSession
        return spark.createDataFrame(
            [], "token string, n long, freq_bp long")

    cand_df = F.broadcast(
        df.sparkSession.createDataFrame([(c,) for c in cands],
                                        "token string"))
    exact = (
        tokens.join(cand_df, "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") * k > F.lit(n_tokens))
    )
    return exact.select(
        "token", "n",
        (F.col("n") * 10000 / F.lit(n_tokens)).cast("long").alias("freq_bp"),
    )


def heavy_hitters_sql(k: int = HH_K) -> str:
    """DuckDB twin: the brute-force exact definition the sketch-guided
    two-pass must equal — identical tokenization, threshold, and bp
    arithmetic (floor via CAST of a non-negative quotient)."""
    from llogtail_spark.operators.dedup import WS_CLASS as ws

    return f"""
        WITH toks AS (
            SELECT unnest(list_filter(
                regexp_split_to_array(lower(coalesce(text, '')), '{ws}'),
                x -> x <> '')) AS token
            FROM documents),
        tot AS (SELECT count(*) AS n_tokens FROM toks)
        SELECT token, CAST(count(*) AS BIGINT) AS n,
               CAST(floor(count(*) * 10000.0 / n_tokens) AS BIGINT) AS freq_bp
        FROM toks, tot
        GROUP BY token, n_tokens
        HAVING count(*) * {k} > n_tokens
    """


HLL_P = 6                    # 2^6 = 64 registers
HLL_M = 1 << HLL_P
HLL_W = 24                   # bucket-stripped hash width: MOD / 2^p < 2^24
HLL_RMAX = HLL_W + 1         # rho(0) — all-zero remainder
HLL_SEED = 9                 # order_hash family member
HLL_ALPHA_X1M = 709341       # alpha_64 = 0.7213 / (1 + 1.079/64), x 1e6
# raw-estimate numerator alpha * m^2 * 2^RMAX, kept integral so the
# estimate is a BIGINT-exact integer division in BOTH engines
HLL_NUMER = HLL_ALPHA_X1M * HLL_M * HLL_M * (1 << HLL_RMAX)
# linear-counting lookup: LC[V] = round(m * ln(m / V)) for V = 1..m
# empty registers — precomputed literal, so neither engine evaluates
# a float ln at query time
HLL_LC = [
    int(__import__("math").floor(
        HLL_M * __import__("math").log(HLL_M / v) + 0.5))
    for v in range(1, HLL_M + 1)
]


def hll_distinct(df: DataFrame, text_col: str = "text",
                 group_col: str = "source") -> DataFrame:
    """Per-group HyperLogLog distinct-token estimate (Flajolet et al.
    2007) on the portable hash family — the register file is the
    classic mergeable fixed-size summary (64 x 5-bit here), the
    companion to KMV with O(1) merge instead of O(K log K).

    Output: (group_col, n_seen:long registers hit, harmonic_scaled:
    long = sum_b 2^(RMAX - M_b) over ALL m registers with M_b = 0 for
    unseen, est_raw:long = floor(alpha*m^2*2^RMAX / 10^6 /
    harmonic_scaled), est_distinct:long = the paper's small-range
    correction — linear counting m*ln(m/V) when est_raw <= 5/2*m and
    V = m - n_seen > 0, else est_raw).

    Everything is integer: rho comes from length(bin(w)) (both
    engines print unpadded binary), the harmonic sum is scaled by
    2^RMAX into a BIGINT, the raw estimate is an integer DIV, and the
    linear-counting ln lives in a LITERAL m-entry lookup table
    (V has only m possible values; the table is precomputed in Python
    at import and embedded identically in the Spark plan and the SQL
    twin) — so the DuckDB oracle reproduces every output bit with no
    cross-engine libm in sight. The high-range correction is moot at
    MOD ~ 2^30. Production swaps in approx_count_distinct (Spark's
    native HLL++) when cross-engine verification isn't needed.

    Scale shape (10^12 rows): ONE wide shuffle groupBy(grp, bucket)
    max(rho) — map-side combinable, at most m rows per group survive
    each task — then an m-bounded per-group rollup. The register
    table is m rows per group forever, the mergeable summary that
    replaces an exact distinct at any scale.
    """
    return hll_finalize(hll_registers(df, text_col, group_col), group_col)


def hll_registers(df: DataFrame, text_col: str = "text",
                  group_col: str = "source") -> DataFrame:
    """The register file of hll_distinct: (grp, bucket, m_b) — the
    mergeable fixed-size summary itself. Merging two corpora's
    register files is max(m_b) per (grp, bucket): idempotent and
    commutative, so re-merging a batch's registers is a no-op."""
    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(tokenize(text_col)).alias("tok"),
    )
    hv = order_hash(char_fold_hash(F.col("tok")), HLL_SEED)
    hashed = toks.select(
        "grp",
        F.pmod(hv, F.lit(HLL_M)).cast("int").alias("bucket"),
        F.floor(hv / HLL_M).cast("long").alias("w"),
    )
    rho = (
        F.when(F.col("w") == 0, F.lit(HLL_RMAX))
        .otherwise(F.lit(HLL_RMAX) - F.length(F.bin(F.col("w"))))
        .cast("int")
    )
    return hashed.select("grp", "bucket", rho.alias("rho")).groupBy(
        "grp", "bucket"
    ).agg(F.max("rho").cast("int").alias("m_b"))


def hll_finalize(regs: DataFrame, group_col: str = "source") -> DataFrame:
    """Roll a register file (grp, bucket, m_b) into the hll_distinct
    output columns."""
    rolled = regs.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_seen"),
        F.sum(
            F.pow(F.lit(2.0), F.lit(HLL_RMAX) - F.col("m_b")).cast("long")
        ).alias("s_seen"),
    )
    lc = F.element_at(
        F.array(*[F.lit(v).cast("long") for v in HLL_LC]),
        (F.lit(HLL_M) - F.col("n_seen")).cast("int"),
    )
    return rolled.select(
        F.col("grp").alias(group_col),
        "n_seen",
        (
            F.col("s_seen")
            + (F.lit(HLL_M) - F.col("n_seen")) * F.lit(1 << HLL_RMAX)
        ).cast("long").alias("harmonic_scaled"),
    ).withColumn(
        "est_raw",
        F.expr(
            f"CAST({HLL_NUMER} DIV (1000000 * harmonic_scaled) AS BIGINT)"
        ),
    ).withColumn(
        "est_distinct",
        F.when(
            (F.col("n_seen") < HLL_M)
            & (F.col("est_raw") <= F.lit(5 * HLL_M // 2)),
            lc,
        ).otherwise(F.col("est_raw")).cast("long"),
    )


def hll_distinct_sql(group_col: str = "source") -> str:
    """DuckDB twin of hll_distinct: identical hash, register max,
    scaled harmonic sum, integer-DIV estimate."""
    h = order_hash_sql(char_fold_hash_sql("tok"), HLL_SEED)
    return f"""
        WITH toks AS (
            SELECT {group_col} AS grp, unnest(list_filter(
                string_split_regex(lower(coalesce(text, '')), '{WS_CLASS}'),
                x -> x <> '')) AS tok
            FROM documents),
        hashed AS (
            SELECT grp,
                   CAST(({h}) % {HLL_M} AS INTEGER) AS bucket,
                   CAST(floor(({h}) / {HLL_M}) AS BIGINT) AS w
            FROM toks),
        regs AS (
            SELECT grp, bucket,
                   max(CASE WHEN w = 0 THEN {HLL_RMAX}
                            ELSE {HLL_RMAX} - len(bin(w)) END) AS m_b
            FROM hashed GROUP BY grp, bucket),
        rolled AS (
            SELECT grp,
                   CAST(count(*) AS BIGINT) AS n_seen,
                   CAST(sum(CAST(power(2, {HLL_RMAX} - m_b) AS BIGINT))
                        + ({HLL_M} - count(*)) * {1 << HLL_RMAX} AS BIGINT)
                       AS harmonic_scaled
            FROM regs GROUP BY grp),
        raw AS (
            SELECT grp, n_seen, harmonic_scaled,
                   {HLL_NUMER} // (1000000 * harmonic_scaled) AS est_raw
            FROM rolled)
        SELECT grp AS {group_col}, n_seen, harmonic_scaled, est_raw,
               CAST(CASE WHEN n_seen < {HLL_M} AND est_raw <= {5 * HLL_M // 2}
                         THEN {HLL_LC}[CAST({HLL_M} - n_seen AS INTEGER)]
                         ELSE est_raw END AS BIGINT) AS est_distinct
        FROM raw
    """


# ---------------------------------------------------------------------------
# KMV set algebra (cross-source sketch union / intersection / Jaccard)
# ---------------------------------------------------------------------------


def kmv_set_ops(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    k: int = KMV_K,
    seed: int = KMV_SEED,
) -> DataFrame:
    """Pairwise source-vocabulary overlap from MERGEABLE KMV sketches
    (Beyer et al., SIGMOD'07, "On Synopses for Distinct-Value
    Estimation under Multiset Operations"): the property that makes
    KMV more than a distinct counter is that two sketches combine
    into a sketch of the UNION by re-taking the k smallest of the
    merged value sets — so union size, intersection size and Jaccard
    between any pair of sources come from the tiny sketches alone,
    never re-touching the corpus.

    Per pair (a < b):
      K        = k smallest of merge(sketch_a, sketch_b)  (the union
                 sketch), M = max(K)
      union_est = |K| if |K| < k (exact below capacity) else
                  floor((k-1) * MOD / M)
      n_common = |{v in K : v in sketch_a AND v in sketch_b}|
      jaccard_bp = floor(10000 * n_common / |K|)   (the unbiased
                 KMV Jaccard estimator: common fraction of the
                 union's k-min set)
      inter_est = floor(n_common * union_est / |K|)

    Output: (src_a, src_b, n_common:long, union_est:long,
             inter_est:long, jaccard_bp:long), one row per unordered
    source pair.

    Scale shape (10^12 docs): the per-source sketch build is exactly
    kmv_distinct's bounded shape — hash-distinct with map-side
    combine, then a WindowGroupLimit bottom-k heap below the group
    exchange — so each source contributes ONE k-value array. The
    pair stage self-joins the S-row sketch table (S = #sources,
    dim-sized; lineage-cut by ckpt.checkpoint before the self-join —
    the a<b pair condition plans a BroadcastNestedLoopJoin whose two
    branches do NOT canonicalize to a reusable exchange, so without
    the cut the whole corpus-scan sketch build would execute twice),
    with one side broadcast. For web-scale S the pair stage is
    S^2/2 rows of O(k) arrays — band the pairs or prefilter on
    min-hash equality before calling; the sketches themselves stay
    mergeable either way. Rel. error ~ 1/sqrt(k) on union; Jaccard
    error additive ~ 1/sqrt(k).

    Collision caveat: same MOD ~ 1e9 domain as kmv_distinct — a
    production variant swaps xxhash64 at the cost of the oracle.
    """
    toks = df.select(
        F.col(group_col).alias("grp"),
        F.explode(tokenize(text_col)).alias("tok"),
    )
    hashed = toks.select(
        "grp", order_hash(_kmv_mix(char_fold_hash(F.col("tok"))), seed).alias("hv")
    )
    dedup = hashed.groupBy("grp", "hv").agg(F.lit(1))
    w = Window.partitionBy("grp").orderBy("hv")
    kept = (
        dedup.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )
    sk = checkpoint(
        kept.groupBy("grp").agg(
            F.array_sort(F.collect_list("hv")).alias("sk")),
        eager=False,
    )
    a, b = sk.alias("a"), sk.alias("b")
    pairs = a.join(
        F.broadcast(b), F.col("a.grp") < F.col("b.grp"), "inner"
    ).select(
        F.col("a.grp").alias("src_a"), F.col("b.grp").alias("src_b"),
        F.col("a.sk").alias("ska"), F.col("b.sk").alias("skb"),
    )
    merged = F.slice(F.array_sort(F.array_union("ska", "skb")), 1, k)
    out = pairs.select(
        "src_a", "src_b",
        F.size(
            F.array_intersect(merged, F.array_intersect("ska", "skb"))
        ).cast("long").alias("n_common"),
        F.size(merged).alias("n_u"),
        F.element_at(merged, F.size(merged)).alias("m_k"),
    )
    union_est = F.when(F.col("n_u") < k, F.col("n_u")).otherwise(
        F.floor(F.lit((k - 1) * MOD) / F.col("m_k"))
    ).cast("long")
    return out.select(
        "src_a", "src_b", "n_common",
        union_est.alias("union_est"),
        F.floor(F.col("n_common") * union_est / F.col("n_u"))
        .cast("long").alias("inter_est"),
        F.floor(F.col("n_common") * 10000 / F.col("n_u"))
        .cast("long").alias("jaccard_bp"),
    )


def kmv_set_ops_sql(
    text_col: str = "text",
    group_col: str = "source",
    k: int = KMV_K,
    seed: int = KMV_SEED,
    table: str = "documents",
) -> str:
    """DuckDB twin of kmv_set_ops — identical sketches, identical
    merge / intersect / estimate arithmetic."""
    h = order_hash_sql(_kmv_mix_sql(char_fold_hash_sql("tok")), seed)
    return f"""
        WITH tok AS (
            SELECT {group_col} AS grp,
                   unnest(list_filter(
                       string_split_regex(lower(coalesce({text_col}, '')),
                                          '{WS_CLASS}'),
                       x -> x <> '')) AS tok
            FROM {table}),
        hashed AS (SELECT DISTINCT grp, {h} AS hv FROM tok),
        ranked AS (
            SELECT grp, hv,
                   row_number() OVER (PARTITION BY grp ORDER BY hv) AS rn
            FROM hashed),
        sk AS (
            SELECT grp, list_sort(list(hv)) AS sk
            FROM ranked WHERE rn <= {k} GROUP BY grp),
        pairs AS (
            SELECT a.grp AS src_a, b.grp AS src_b,
                   a.sk AS ska, b.sk AS skb,
                   list_slice(list_sort(list_distinct(
                       list_concat(a.sk, b.sk))), 1, {k}) AS m
            FROM sk a JOIN sk b ON a.grp < b.grp),
        stats AS (
            SELECT src_a, src_b,
                   CAST(len(list_intersect(m, list_intersect(ska, skb)))
                        AS BIGINT) AS n_common,
                   len(m) AS n_u, m[len(m)] AS m_k
            FROM pairs),
        est AS (
            SELECT src_a, src_b, n_common, n_u,
                   CAST(CASE WHEN n_u < {k} THEN n_u
                        ELSE floor(CAST({(k - 1) * MOD} AS BIGINT) / m_k)
                   END AS BIGINT) AS union_est
            FROM stats)
        SELECT src_a, src_b, n_common, union_est,
               CAST(floor(n_common * union_est / n_u) AS BIGINT)
                   AS inter_est,
               CAST(floor(n_common * 10000 / n_u) AS BIGINT) AS jaccard_bp
        FROM est
    """


# ---------------------------------------------------------------------------
# Sliding-window HLL (distinct users over a trailing window, per day)
# ---------------------------------------------------------------------------

SLIDE_DAYS = 7


def hll_sliding_dau(df: DataFrame, user_col: str = "user_id",
                    ts_col: str = "ts",
                    window_days: int = SLIDE_DAYS) -> DataFrame:
    """Trailing-`window_days` distinct-user estimate per day from
    per-day HLL register files — the sketch answer to WAU/rolling
    DAU. The exact twin (active_users_7d) re-touches every (user,
    day) pair per window; here each day is summarized ONCE into m=64
    registers and every window estimate is a register-wise MAX over
    the trailing days (HLL union = pointwise max, a semilattice), so
    the window stage costs O(n_days * m) regardless of user count.

    User ids pass through the quadratic mix before the order hash:
    they are SEQUENTIAL integers, exactly the affine-lattice input
    that biased the KMV k-min (see _kmv_mix) — and HLL's max-rho
    statistic needs uniform hash bits just the same.

    Shape: ONE combinable (day, bucket) max-rho shuffle over the
    events; a dim-sized (n_days x m) grid LEFT-joins the registers
    (broadcast); the sliding union is a RANGE-frame window max
    (range, not rows: gap days must still expire old registers);
    finalization reuses hll_finalize's integer-exact estimate + the
    literal linear-counting table.

    Output: (day:long epoch-day, n_seen, harmonic_scaled, est_raw,
    est_distinct) — est_distinct is the trailing-window DAU estimate.
    """
    return hll_sliding_finalize(
        user_day_registers(df, user_col, ts_col), window_days
    )


def user_day_registers(df: DataFrame, user_col: str = "user_id",
                       ts_col: str = "ts") -> DataFrame:
    """The (day, bucket, m_b) register file of hll_sliding_dau — the
    mergeable unit: register files from any partition of the input
    (micro-batches, shards, replays) combine by max per (day,
    bucket), so a replayed batch changes nothing."""
    day = F.floor(
        F.col(ts_col).cast("timestamp").cast("long") / 86400
    ).cast("long")
    hv = order_hash(_kmv_mix(F.col("u") % MOD), HLL_SEED)
    hashed = (
        df.select(day.alias("day"), F.col(user_col).alias("u"))
        .where(F.col("u").isNotNull() & F.col("day").isNotNull())
        .select(
            "day",
            F.pmod(hv, F.lit(HLL_M)).cast("int").alias("bucket"),
            F.floor(hv / HLL_M).cast("long").alias("w"),
        )
    )
    rho = (
        F.when(F.col("w") == 0, F.lit(HLL_RMAX))
        .otherwise(F.lit(HLL_RMAX) - F.length(F.bin(F.col("w"))))
        .cast("int")
    )
    return (
        hashed.select("day", "bucket", rho.alias("rho"))
        .groupBy("day", "bucket")
        .agg(F.max("rho").cast("int").alias("m_b"))
    )


def hll_sliding_finalize(regs: DataFrame,
                         window_days: int = SLIDE_DAYS) -> DataFrame:
    """Roll a (day, bucket, m_b) register file into per-day
    trailing-window estimates: dense day x bucket grid, RANGE-frame
    window max (the sliding HLL union), integer finalization."""
    days = regs.select("day").distinct()
    grid = days.select(
        "day", F.explode(F.sequence(F.lit(0), F.lit(HLL_M - 1))).alias("bucket")
    )
    win = (
        Window.partitionBy("bucket").orderBy("day")
        .rangeBetween(-(window_days - 1), 0)
    )
    slid = (
        grid.join(F.broadcast(regs), ["day", "bucket"], "left")
        .withColumn("m_w", F.max("m_b").over(win))
        .filter(F.col("m_w").isNotNull())
        .select(F.col("day").alias("grp"), "bucket",
                F.col("m_w").alias("m_b"))
    )
    return hll_finalize(slid, group_col="day")


def hll_sliding_dau_sql(window_days: int = SLIDE_DAYS,
                        table: str = "events") -> str:
    """DuckDB twin of hll_sliding_dau — identical registers, RANGE
    window union, and integer finalization."""
    h = order_hash_sql(_kmv_mix_sql("(u % " + str(MOD) + ")"), HLL_SEED)
    return f"""
        WITH ev AS (
            SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
                   user_id AS u
            FROM {table}
            WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        hashed AS (
            SELECT day,
                   CAST(({h}) % {HLL_M} AS INTEGER) AS bucket,
                   CAST(floor(({h}) / {HLL_M}) AS BIGINT) AS w
            FROM ev),
        regs AS (
            SELECT day, bucket,
                   max(CASE WHEN w = 0 THEN {HLL_RMAX}
                            ELSE {HLL_RMAX} - len(bin(w)) END) AS m_b
            FROM hashed GROUP BY day, bucket),
        grid AS (
            SELECT d.day, b.bucket
            FROM (SELECT DISTINCT day FROM regs) d
            CROSS JOIN (SELECT unnest(range(0, {HLL_M})) AS bucket) b),
        slid AS (
            SELECT g.day, g.bucket,
                   max(r.m_b) OVER (
                       PARTITION BY g.bucket ORDER BY g.day
                       RANGE BETWEEN {window_days - 1} PRECEDING
                             AND CURRENT ROW) AS m_w
            FROM grid g
            LEFT JOIN regs r ON r.day = g.day AND r.bucket = g.bucket),
        rolled AS (
            SELECT day,
                   CAST(count(*) AS BIGINT) AS n_seen,
                   CAST(sum(CAST(power(2, {HLL_RMAX} - m_w) AS BIGINT))
                        + ({HLL_M} - count(*)) * {1 << HLL_RMAX} AS BIGINT)
                       AS harmonic_scaled
            FROM slid WHERE m_w IS NOT NULL GROUP BY day),
        raw AS (
            SELECT day, n_seen, harmonic_scaled,
                   {HLL_NUMER} // (1000000 * harmonic_scaled) AS est_raw
            FROM rolled)
        SELECT day, n_seen, harmonic_scaled, est_raw,
               CAST(CASE WHEN n_seen < {HLL_M} AND est_raw <= {5 * HLL_M // 2}
                         THEN {HLL_LC}[CAST({HLL_M} - n_seen AS INTEGER)]
                         ELSE est_raw END AS BIGINT) AS est_distinct
        FROM raw
    """


# ---------------------------------------------------------------------------
# Skew-aware join-size estimation (exact heavy keys + Fast-AGMS tail)
# ---------------------------------------------------------------------------


CMJ_WIDTH = 256      # tail sketch width
CMJ_SIGN_SEED = 40   # order_hash members for the +-1 sign hashes
CMJ_HEAVY = 64       # exact heavy-hitter keys per side


def cm_join_size(dfa: DataFrame, key_a: str, dfb: DataFrame, key_b: str,
                 depth: int = CM_DEPTH, width: int = CMJ_WIDTH,
                 heavy: int = CMJ_HEAVY) -> DataFrame:
    """Skew-aware equi-join cardinality estimation: EXACT products
    for the heavy-hitter keys plus a Fast-AGMS (count-sketch) signed
    inner product for the tail (AMS '96; Charikar '02 signs;
    Cormode-Garofalakis '05 sketch joins; the heavy/tail split is
    the standard skewed-data refinement, cf. Ganguly et al.'s
    skimmed sketches).

    Why all three stages exist — measured on a 10M x 1M zipf(1.3)
    stress (BENCH/newops_stress_r04.json lineage):
      plain count-min inner product: +50000% (collision mass
        N_A*N_B/width is the floor — a useless upper bound);
      signed AGMS alone: +526% (unbiased, but per-row sigma ~
        sqrt(F2_A*F2_B/width) and a zipf head inflates F2 by orders
        of magnitude);
      exact-heavy + AGMS tail: the head keys that dominate BOTH F2
        and the true join size are counted exactly from the key
        histograms, so the sketch only absorbs the low-F2 tail,
        where its variance bound actually bites.

    est = sum over heavy keys (top-`heavy` per side, unioned) of
    fA(k)*fB(k)   [exact, <= 2*heavy broadcast keys]
        + max(0, lower-median over rows of the signed tail inner
          products).

    Shapes: each side's key histogram is ONE combinable shuffle and
    feeds BOTH the heavy top-k (TakeOrderedAndProject) and the tail
    sketch (anti-join against the broadcast heavy set) — lineage-cut
    (ckpt.checkpoint) so the corpus aggregates once. Integer keys
    pass the quadratic mix (_kmv_mix) before cell and sign hashing.

    Output, depth rows: (row_i:int, inner_prod:long signed TAIL
    product for that hash row, est:long = exact_heavy +
    clamped-tail-median, repeated — per-row products stay visible so
    the oracle verifies every row, not just the final estimate).
    """
    spark = dfa.sparkSession

    def hist(df, key):
        return checkpoint(
            df.where(F.col(key).isNotNull())
            .groupBy(F.col(key).alias("k"))
            .agg(F.count(F.lit(1)).alias("n")),
            eager=False,
        )

    ha, hb = hist(dfa, key_a), hist(dfb, key_b)
    heavy_keys = (
        ha.orderBy(F.desc("n"), F.asc("k")).limit(heavy).select("k")
        .unionByName(
            hb.orderBy(F.desc("n"), F.asc("k")).limit(heavy).select("k"))
        .distinct()
    )
    exact = (
        ha.join(F.broadcast(heavy_keys), "k")
        .join(hb.withColumnRenamed("n", "nb"), "k")
        .agg(F.coalesce(F.sum(F.col("n") * F.col("nb")), F.lit(0))
             .cast("long").alias("exact_heavy"))
    )

    def tail_sketch(h):
        t = h.join(F.broadcast(heavy_keys), "k", "left_anti")
        hh = _kmv_mix(F.col("k") % MOD)
        # sign hash: a SECOND quadratic mix, not another affine member
        # — parity of an affine map of the same h correlates with the
        # (affine) cell hash, which biased every row of the zipf
        # stress identically (+315% on the uniform-tail test; the
        # independent nonlinearity lands within one sigma)
        cells = t.select(
            "n",
            F.explode(F.array(*[
                F.struct(
                    F.lit(i).alias("row_i"),
                    (order_hash(hh, i) % width).alias("cell"),
                    ((F.lit(3) * hh * hh + F.lit(7) * hh
                      + F.lit(order_mults(CMJ_SIGN_SEED + i)[0]))
                     % MOD % 2 * 2 - 1).alias("sgn"),
                ) for i in range(depth)
            ])).alias("rc"),
        )
        return cells.groupBy(
            F.col("rc.row_i").alias("row_i"), F.col("rc.cell").alias("cell")
        ).agg(F.sum(F.col("rc.sgn") * F.col("n")).cast("long").alias("cnt"))

    sa, sb = tail_sketch(ha), tail_sketch(hb)
    inner = (
        sa.alias("a").join(F.broadcast(sb.alias("b")), ["row_i", "cell"])
        .groupBy("row_i")
        .agg(F.sum(F.col("a.cnt") * F.col("b.cnt")).cast("long")
             .alias("inner_prod"))
    )
    # depth output rows exist even when the tail is empty (all keys
    # heavy): a literal row spine left-joins the tail products
    spine = spark.range(depth).select(F.col("id").cast("int").alias("row_i"))
    rows = spine.join(inner, "row_i", "left").select(
        "row_i", F.coalesce(F.col("inner_prod"), F.lit(0))
        .cast("long").alias("inner_prod"),
    )
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    med = F.element_at(
        F.sort_array(F.collect_list("inner_prod").over(w_all)),
        (depth + 1) // 2,
    )
    return rows.crossJoin(F.broadcast(exact)).select(
        "row_i", "inner_prod",
        (F.col("exact_heavy")
         + F.greatest(F.lit(0).cast("long"), med.cast("long")))
        .cast("long").alias("est"),
    )


def cm_join_size_sql(table_a: str = "events", key_a: str = "user_id",
                     table_b: str = "orders", key_b: str = "o_custkey",
                     depth: int = CM_DEPTH, width: int = CMJ_WIDTH,
                     heavy: int = CMJ_HEAVY) -> str:
    """DuckDB twin of cm_join_size — identical heavy split, signed
    tail cells, products, and lower median."""
    def cells(name):
        hexpr = _kmv_mix_sql("(k % " + str(MOD) + ")")
        return " UNION ALL ".join(
            f"SELECT n, {i} AS row_i, "
            f"({order_hash_sql(hexpr, i)})"
            f" % {width} AS cell, "
            f"((3 * ({hexpr}) * ({hexpr}) + 7 * ({hexpr})"
            f" + {order_mults(CMJ_SIGN_SEED + i)[0]})"
            f" % {MOD}) % 2 * 2 - 1 AS sgn FROM {name}_tail"
            for i in range(depth)
        )

    return f"""
        WITH a_hist AS (
            SELECT {key_a} AS k, count(*) AS n FROM {table_a}
            WHERE {key_a} IS NOT NULL GROUP BY {key_a}),
        b_hist AS (
            SELECT {key_b} AS k, count(*) AS n FROM {table_b}
            WHERE {key_b} IS NOT NULL GROUP BY {key_b}),
        heavy_keys AS (
            SELECT DISTINCT k FROM (
                (SELECT k FROM a_hist ORDER BY n DESC, k LIMIT {heavy})
                UNION ALL
                (SELECT k FROM b_hist ORDER BY n DESC, k LIMIT {heavy}))),
        exact AS (
            SELECT CAST(coalesce(sum(a.n * b.n), 0) AS BIGINT)
                       AS exact_heavy
            FROM a_hist a
            JOIN heavy_keys USING (k)
            JOIN b_hist b USING (k)),
        a_tail AS (
            SELECT k, n FROM a_hist
            WHERE k NOT IN (SELECT k FROM heavy_keys)),
        b_tail AS (
            SELECT k, n FROM b_hist
            WHERE k NOT IN (SELECT k FROM heavy_keys)),
        a_cells AS ({cells('a')}),
        b_cells AS ({cells('b')}),
        a_sketch AS (
            SELECT row_i, cell, CAST(sum(sgn * n) AS BIGINT) AS cnt
            FROM a_cells GROUP BY 1, 2),
        b_sketch AS (
            SELECT row_i, cell, CAST(sum(sgn * n) AS BIGINT) AS cnt
            FROM b_cells GROUP BY 1, 2),
        spine AS (SELECT unnest(range(0, {depth})) AS row_i),
        inner_p AS (
            SELECT a_sketch.row_i,
                   CAST(sum(a_sketch.cnt * b_sketch.cnt) AS BIGINT)
                       AS inner_prod
            FROM a_sketch
            JOIN b_sketch ON a_sketch.row_i = b_sketch.row_i
                         AND a_sketch.cell = b_sketch.cell
            GROUP BY a_sketch.row_i),
        rows_t AS (
            SELECT CAST(spine.row_i AS INTEGER) AS row_i,
                   CAST(coalesce(inner_p.inner_prod, 0) AS BIGINT)
                       AS inner_prod
            FROM spine LEFT JOIN inner_p ON inner_p.row_i = spine.row_i)
        SELECT row_i, inner_prod,
               CAST((SELECT exact_heavy FROM exact)
                    + greatest(0, list_sort(list(inner_prod) OVER ())
                                  [{(depth + 1) // 2}]) AS BIGINT) AS est
        FROM rows_t
    """
