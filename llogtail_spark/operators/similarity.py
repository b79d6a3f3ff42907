"""Similarity search over an embedding column (array<float>).

- cosine_sim / brute_force_topk: exact baseline. The dot product is a
  pure Catalyst expression (zip_with + aggregate folded in double) —
  deterministic left-to-right summation, which keeps results bit-
  comparable with an oracle that folds the same way.
- lsh_bucket / lsh_topk: the scale path — random-hyperplane signed
  bits bucket vectors (vectorized numpy matmul inside one Arrow
  pandas_udf), candidates come from same-bucket joins (plus optional
  multi-probe), exact rerank only inside buckets. At 10^12 vectors
  brute force is O(N*Q); LSH keeps the join near-linear and the
  shuffle keyed on bucket ids.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dot(a, b) -> "F.Column":
    """Exact-order double-precision dot product expression."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a) -> "F.Column":
    sq = F.aggregate(
        a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
    )
    return F.sqrt(sq)


def cosine_sim(a, b) -> "F.Column":
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return dot(a, b) / (norm(a) * norm(b))


def _pair_cos_np(va: np.ndarray, vb: np.ndarray) -> np.ndarray:
    """cosine_sim over aligned object arrays of vectors, vectorized
    over pairs and SEQUENTIAL over dims — `acc += A[:,j]*B[:,j]`
    replays the HOF left fold's exact double-addition order (float32
    products are exact in double), so each cosine is bit-identical to
    dot/(norm*norm). Rows are grouped by dimension, so a batch may mix
    dims. A row whose vectors are NULL or of different lengths is NaN
    where the fold yields NULL (zip_with pads the shorter side with
    NULLs); a zero-norm row divides to NaN."""
    n = len(va)
    la = np.fromiter((-1 if v is None else len(v) for v in va), np.int64, n)
    lb = np.fromiter((-1 if v is None else len(v) for v in vb), np.int64, n)
    ok = (la >= 0) & (la == lb)
    out = np.full(n, np.nan)
    for d in np.unique(la[ok]):
        rows = np.flatnonzero(ok & (la == d))
        A = np.vstack(va[rows]).astype(np.float64)
        B = np.vstack(vb[rows]).astype(np.float64)
        accd = np.zeros(len(rows))
        acca = np.zeros(len(rows))
        accb = np.zeros(len(rows))
        for j in range(d):
            accd += A[:, j] * B[:, j]
            acca += A[:, j] * A[:, j]
            accb += B[:, j] * B[:, j]
        with np.errstate(divide="ignore", invalid="ignore"):
            out[rows] = accd / (np.sqrt(acca) * np.sqrt(accb))
    return out


def _make_pair_cos_arrow():
    """Arrow pandas_udf twin of cosine_sim for BULK pair reranks
    (`_pair_cos_np`): ~3*dim numpy array ops per Arrow batch instead of
    an interpreted per-element lambda fold (guide §4.2; measured ~1.3s
    -> ~0.3s on the 1.44M-pair sf0.1 rerank). Non-deterministic marker
    for the same reason as make_bucket_udf below: the >= threshold
    filter on the derived column must not re-inline a second Python
    eval. Every NaN — NULL, ragged and zero-norm rows — reaches Spark
    as NULL (the pandas -> Arrow conversion maps NaN to null). The
    fold agrees on NULL and ragged rows; on a zero-norm row it raises
    DIVIDE_BY_ZERO under ANSI and is NULL without it. The caller's
    floor/cast stays in Catalyst so downstream semantics are
    unchanged."""

    @F.pandas_udf(T.DoubleType())
    def pair_cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        return pd.Series(_pair_cos_np(va.to_numpy(), vb.to_numpy()))

    return pair_cos.asNondeterministic()


pair_cos_arrow = _make_pair_cos_arrow()


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The query side is broadcast (Q << N always at scale), so the scan
    of the big side stays shuffle-free; the only shuffle is the
    per-query top-k (tiny: N_q * k rows after partial sort).
    Output: (query_id, neighbor_id, rank, cos_x10000).
    """
    from llogtail_spark.sources.reader import ensure_parallelism

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    n = ensure_parallelism(emb, id_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nv")
    )
    scored = (
        n.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("_cos", cosine_sim("_qv", "_nv"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("_cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.floor(F.col("_cos") * 10000).cast("long").alias("cos_x10000"),
        )
    )


def _hyperplanes(dim: int, n_bits: int, seed: int) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((dim, n_bits)).astype(np.float64)


def _probe_masks(n_bits: int, probe_hamming: int) -> np.ndarray:
    """All bit masks of weight <= probe_hamming over n_bits (multi-probe
    LSH: probing neighbors at hamming distance d trades probe fan-out
    for band count at equal recall)."""
    masks = [0]
    if probe_hamming >= 1:
        masks += [1 << j for j in range(n_bits)]
    if probe_hamming >= 2:
        masks += [
            (1 << j) | (1 << k)
            for j in range(n_bits)
            for k in range(j + 1, n_bits)
        ]
    if probe_hamming >= 3:
        raise ValueError("probe_hamming > 2 not supported (fan-out explodes)")
    return np.array(masks, dtype=np.int64)


def make_band_keys_udf(
    dim: int, n_bits: int, n_bands: int, seed: int, probe_hamming: int = 0
):
    """Arrow pandas_udf: embedding -> array of banded LSH keys.

    Key layout: (band << n_bits) | code, so one flat explode+equi-join
    covers all bands. probe_hamming > 0 additionally emits every code
    within that hamming distance (multi-probe side of the join). All
    numpy, one matmul + one broadcasted XOR per Arrow batch.
    """
    planes = _hyperplanes(dim, n_bits * n_bands, seed)
    masks = _probe_masks(n_bits, probe_hamming)
    band_off = (np.arange(n_bands, dtype=np.int64) << n_bits)[:, None]

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def keys(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy()).astype(np.float64)
        bits = (m @ planes) > 0  # (n, n_bits*n_bands)
        weights = (1 << np.arange(n_bits, dtype=np.int64))
        codes = bits.reshape(len(m), n_bands, n_bits) @ weights  # (n, bands)
        # (n, bands, masks): every probe key, band index folded in
        probed = (codes[:, :, None] ^ masks[None, None, :]) | band_off[None, :, :]
        flat = probed.reshape(len(m), -1)
        return pd.Series(list(flat))

    return keys


def embedding_near_dup_pairs_lsh(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold_x10000: int = 5000,
    dim: int = 64,
    n_bits: int = 10,
    n_bands: int = 24,
    probe_hamming: int = 2,
    seed: int = 7,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via multi-probe hyperplane LSH
    + exact in-candidate rerank — the scale path (NO cartesian).

    Plan shape: explode band keys on both sides -> one equi-join on the
    key (shuffle keyed on 2^n_bits * n_bands values) -> distinct pairs
    -> fetch both vectors back by id (two equi-joins) -> exact cosine
    filter. Every join is hash/merge on a key; there is no nested-loop
    anywhere (tests/test_plans.py pins that).

    Recall: per qualifying pair with per-bit agreement p = 1 - theta/pi,
    a band of b bits probed to hamming<=2 catches it with
    P = sum_{i<=2} C(b,i) p^(b-i) (1-p)^i; missing all `n_bands` bands
    is (1-P)^n_bands. The defaults (b=10, 24 bands, probe 2) give miss
    < 2e-4 per pair at cos 0.5 and < 1e-12 at cos 0.9; recall is
    exactly 1 on the test fixtures (verified against the brute-force
    twin). At production thresholds (>=0.9) the same shape prunes
    candidates by orders of magnitude; at the fixture's deliberately
    weak 0.5 the pruning is modest but the plan is the one that
    survives 10^12 vectors. Reference anchor: cheap-identity-first,
    exact-verify-after (utils.go:36-46).
    """
    from llogtail_spark.sources.reader import ensure_parallelism

    # single-row-group test files scan as ONE partition; the 1000x
    # band-key explode below must not inherit that (no-op at scale)
    emb = ensure_parallelism(emb, id_col)
    keys_base = make_band_keys_udf(dim, n_bits, n_bands, seed, 0)
    keys_probe = make_band_keys_udf(dim, n_bits, n_bands, seed, probe_hamming)
    base = emb.select(
        F.col(id_col).alias("id_b"), F.explode(keys_base(F.col(vec_col))).alias("_key")
    )
    probe = emb.select(
        F.col(id_col).alias("id_a"), F.explode(keys_probe(F.col(vec_col))).alias("_key")
    )
    cand = (
        probe.join(base, "_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # exact rerank: the bulk pair cosine runs in ONE ArrowEvalPython
    # (pair_cos_arrow — bit-identical to the dot/norm HOF fold, see
    # its docstring); floor/cast/threshold stay Catalyst expressions
    # so integer and ANSI semantics are exactly the HOF path's
    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cos_x10000",
            F.floor(pair_cos_arrow(F.col("_va"), F.col("_vb")) * 10000)
            .cast("long"),
        )
        .filter(F.col("cos_x10000") >= threshold_x10000)
        .select("id_a", "id_b", "cos_x10000")
    )


def rounded_hyperplanes(
    dim: int, n_bits: int, seed: int, decimals: int = 6
) -> np.ndarray:
    """Hyperplanes rounded to fixed decimals — every coefficient has an
    exact short decimal literal, so an independent engine can recompute
    the identical bucket ids from the same constants (oracle path)."""
    return np.round(_hyperplanes(dim, n_bits, seed), decimals)


def make_bucket_udf(dim: int, n_bits: int = 12, seed: int = 7,
                    decimals: int | None = None):
    """Arrow pandas_udf: embedding -> LSH bucket id (signed-bit code).
    One numpy matmul per Arrow batch — fully vectorized. decimals
    rounds the planes for cross-engine reproducibility."""
    planes = (
        rounded_hyperplanes(dim, n_bits, seed, decimals)
        if decimals is not None
        else _hyperplanes(dim, n_bits, seed)
    )

    @F.pandas_udf(T.LongType())
    def bucket(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy()).astype(np.float64)
        bits = (m @ planes) > 0
        code = np.zeros(len(m), dtype=np.int64)
        for j in range(n_bits):
            code |= bits[:, j].astype(np.int64) << j
        return pd.Series(code)

    # The function IS deterministic; the marker exists to bar
    # PushPredicateThroughProject from re-inlining it. Joining on the
    # bucket column synthesizes an isnotnull(_bkt) constraint filter
    # that Catalyst pushes below the projection, substituting the UDF
    # back in — the quantizer then runs TWICE per row on the 10^12-row
    # side (measured: 4 ArrowEvalPython nodes where 2 suffice). Same
    # pathology as the fixed route-explode (commit 7caa621); pinned in
    # tests/test_plans.py.
    return bucket.asNondeterministic()


def rounded_centroids(
    dim: int, n_cells: int, seed: int, decimals: int = 6
) -> np.ndarray:
    """Seeded spherical centroids rounded to fixed decimals: every
    coefficient has an exact short decimal literal, so an independent
    engine recomputes identical cell assignments from the same
    constants (the oracle path — same technique as
    rounded_hyperplanes). At production scale the centroids come from
    a k-means fit over a sample instead; the query plan is identical
    either way."""
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((n_cells, dim))
    c /= np.linalg.norm(c, axis=1, keepdims=True)
    return np.round(c, decimals)


def make_cell_udf(centroids: np.ndarray, nprobe: int):
    """Arrow pandas_udf: embedding -> the `nprobe` nearest cell ids
    (max dot product, deterministic order: score desc then cell asc).
    One numpy matmul per Arrow batch."""
    cents = centroids.astype(np.float64)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def cells(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy()).astype(np.float64)
        scores = m @ cents.T  # (n, n_cells)
        order = np.argsort(-scores, axis=1, kind="stable")[:, :nprobe]
        return pd.Series(list(order.astype(np.int32)))

    # Deterministic in fact; marked nondeterministic to bar the
    # join-key isnotnull constraint filter from being pushed through
    # the projection and re-inlining the UDF (the coarse quantizer ran
    # twice per row on the big side — see make_bucket_udf).
    return cells.asNondeterministic()


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 11,
    decimals: int | None = 6,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF-flavored approximate top-k: a coarse quantizer assigns each
    vector to its max-dot centroid cell; queries probe their `nprobe`
    nearest cells; exact cosine rerank runs only inside probed cells.

    This is the inverted-file alternative to lsh_topk: the shuffle is
    keyed on `n_cells` cell ids (tune n_cells ~ sqrt(N) so cells hold
    ~N/n_cells vectors; AQE splits skewed cells), the query side is
    broadcast, and a (query, neighbor) pair appears at most once
    because a neighbor lives in exactly one cell. Recall/nprobe is the
    usual IVF dial — probing all cells degrades to exact search.
    Output schema matches brute_force_topk. Reference anchor:
    cheap-identity-first, exact-verify-after (utils.go:36-46).
    """
    from llogtail_spark.sources.reader import ensure_parallelism

    emb = ensure_parallelism(emb, id_col)
    cents = (
        centroids
        if centroids is not None
        else rounded_centroids(dim, n_cells, seed,
                                6 if decimals is None else decimals)
    )
    assign1 = make_cell_udf(cents, 1)
    probe_udf = make_cell_udf(cents, nprobe)
    n = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nv")
    ).withColumn("_cell", F.element_at(assign1(F.col("_nv")), 1))
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    ).withColumn("_cell", F.explode(probe_udf(F.col("_qv"))))
    scored = (
        n.join(F.broadcast(q), on="_cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("_cos", cosine_sim("_qv", "_nv"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.floor(F.col("_cos") * 10000).cast("long").alias("cos_x10000"),
        )
    )


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bits: int = 8,
    seed: int = 7,
    decimals: int | None = None,
) -> DataFrame:
    """Approximate top-k: bucket both sides with the same hyperplanes,
    equi-join on bucket, exact cosine rerank within buckets.

    Shuffle is keyed on the bucket id (2^n_bits keys) — tune n_bits so
    buckets hold ~N/2^bits vectors; skewed buckets are split by AQE.
    Output schema matches brute_force_topk (recall < 1 by design).
    decimals: round hyperplanes to fixed decimals so an oracle engine
    can recompute identical buckets from literal constants.
    """
    from llogtail_spark.sources.reader import ensure_parallelism

    emb = ensure_parallelism(emb, id_col)
    bucket = make_bucket_udf(dim, n_bits, seed, decimals)
    n = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_nv")
    ).withColumn("_bkt", bucket(F.col("_nv")))
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    ).withColumn("_bkt", bucket(F.col("_qv")))
    scored = (
        n.join(F.broadcast(q), on="_bkt")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("_cos", cosine_sim("_qv", "_nv"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.floor(F.col("_cos") * 10000).cast("long").alias("cos_x10000"),
        )
    )

def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_cells: int = 16,
    seed: int = 11,
    decimals: int | None = 6,
    threshold_x10000: int = 9000,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): assign every embedding to its nearest coarse-
    quantizer cell, compute the EXACT pairwise cosine matrix inside
    each cell, and keep exactly one document per within-cell near-dup
    group (deterministic keep-lowest-id rule; the paper keeps the
    member farthest from the centroid — a policy choice orthogonal to
    the machinery, and keep-lowest is reproducible by an independent
    SQL engine).

    Returns one row per input vector:
      (vec_id, cell:int, n_near:long, keep:int)
    n_near = within-cell neighbors at floor(cos*10000) >= threshold;
    keep = 0 iff some SMALLER-id within-cell neighbor clears the
    threshold (so each dup group keeps its minimum id).

    Spark-first shape: one vectorized Arrow assignment UDF (shared
    with ivf_topk's coarse quantizer), ONE shuffle keyed on the cell
    id, and a per-cell numpy Gram matrix inside applyInPandas — the
    published algorithm is literally "cosine matrix per cluster", and
    a BLAS matmul per group is far cheaper than exploding
    O(cell_size^2) pair rows through a self-join (which would also
    plan the scan+assignment twice; cf. the capped-minhash
    restructure in dedup.py). At 10^12 vectors n_cells scales ~N/C so
    cells hold a bounded C (the paper uses C ~ 10^4-10^5; a C x dim
    float64 block is tens of MB); the known failure mode — one giant
    pathological cluster — is the paper's too, and shows up loudly as
    an OOM-ing task rather than silently wrong output. Recall is
    cell-bounded by design: twins split across cells are missed
    (paper: dups across clusters are rare at large k).

    Cosine arithmetic is the same double-precision dot/norm ratio as
    cosine_sim, computed as one Gram matmul; diag(G) supplies the
    norms, so both factors come from the same products the oracle's
    list_dot_product computes. Reference anchor: identity-keyed
    exactly-once dedup of work items (utils.go:36-46,
    log_watcher.go:97-126) lifted to semantic identity.
    """
    from llogtail_spark.sources.reader import ensure_parallelism

    emb = ensure_parallelism(emb, id_col)
    cents = (
        centroids
        if centroids is not None
        else rounded_centroids(dim, n_cells, seed,
                                6 if decimals is None else decimals)
    )
    assign1 = make_cell_udf(cents, 1)
    base = emb.select(
        F.col(id_col).cast("long").alias("_id"), F.col(vec_col).alias("_v")
    ).withColumn("_cell", F.element_at(assign1(F.col("_v")), 1))

    thr = int(threshold_x10000)

    def cell_matrix(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["_id"].to_numpy()
        m = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
        g = m @ m.T
        nrm = np.sqrt(np.diag(g))
        cos = g / np.outer(nrm, nrm)
        mask = np.floor(cos * 10000) >= thr
        np.fill_diagonal(mask, False)
        smaller = mask & (ids[None, :] < ids[:, None])
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cell": np.int32(pdf["_cell"].iloc[0]),
                "n_near": mask.sum(axis=1).astype(np.int64),
                "keep": (~smaller.any(axis=1)).astype(np.int32),
            }
        )

    return base.groupBy("_cell").applyInPandas(
        cell_matrix, "vec_id long, cell int, n_near long, keep int"
    )


def kmeans_cluster_profile(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    dim: int = 64,
    n_clusters: int = 8,
    seed: int = 5,
    decimals: int | None = 6,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Cluster-assignment profile: assign every embedding to its
    nearest centroid (max dot product — one Lloyd assignment step over
    the FULL table) and roll each cluster up against a ground-truth
    label column:

      (cluster_id, n, majority_label, purity_x1000)

    majority_label is the most frequent label in the cluster (ties ->
    lowest label); purity_x1000 = (1000 * majority_count) div n, exact
    integer arithmetic so an independent engine reproduces it
    bit-for-bit. This is the evaluation loop of semantic-mixture
    balancing / topic bucketing over a training corpus: fit centroids
    on a sample, then profile how the full corpus lands.

    Spark-first shape: the assignment is the shared IVF coarse-
    quantizer Arrow UDF (one numpy matmul per batch, JVM->Arrow->BLAS,
    no per-row Python); the rollup is two partial-aggregable
    hash aggregates — shuffle keyed on (cluster, label) whose
    cardinality is n_clusters * n_labels, i.e. tiny at any corpus
    scale, then a k-row majority pick. At 10^12 rows the plan is scan
    -> UDF -> map-side combine -> two ~zero-cost reduces: the scan
    dominates, which is the floor.

    Default centroids are the seeded decimal-rounded constants
    (rounded_centroids) so the DuckDB oracle recomputes identical
    assignments from the same literals; pass centroids= for the
    production path (fit on a reservoir sample).
    """
    cents = (
        centroids
        if centroids is not None
        else rounded_centroids(dim, n_clusters, seed,
                               6 if decimals is None else decimals)
    )
    assign1 = make_cell_udf(cents, 1)
    assigned = emb.select(
        F.element_at(assign1(F.col(vec_col)), 1).alias("cluster_id"),
        F.col(label_col).alias("_lbl"),
    )
    by_label = assigned.groupBy("cluster_id", "_lbl").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("_cnt"), F.asc("_lbl")
    )
    return (
        by_label.withColumn("_rk", F.row_number().over(w))
        .withColumn("n", F.sum("_cnt").over(Window.partitionBy("cluster_id")))
        .filter(F.col("_rk") == 1)
        .select(
            "cluster_id",
            F.col("n").cast("long").alias("n"),
            F.col("_lbl").cast("int").alias("majority_label"),
            F.expr("(1000 * _cnt) div n").cast("long").alias("purity_x1000"),
        )
    )


# ---------------------------------------------------------------------------
# Distributed Gram matrix (token/embedding second-moment aggregation)
# ---------------------------------------------------------------------------

# fixed-point scale for per-row products; each row's term is
# integerized BEFORE summation so the sum is exactly associative
# (independent of partitioning) and the DuckDB oracle can match it
# bit-for-bit. At 10^12 rows drop to 1e4 to keep sums inside int64.
GRAM_SCALE = 1_000_000
# rows per numpy outer-product block: 2048 * d^2 * 8B = 67 MB at d=64
GRAM_CHUNK = 2048


def gram_matrix(df: DataFrame, vec_col: str = "embedding",
                dim: int = 64, scale: int = GRAM_SCALE) -> DataFrame:
    """Upper-triangular Gram matrix sum_rows floor(x_i*x_j*scale) over
    an embedding column — the second-moment statistic behind PCA
    whitening, covariance shift detection, and feature-correlation
    audits of an embedding corpus.

    Spark-first shape: the ONLY data-sized work is a per-partition
    numpy block accumulation (mapInPandas; X-chunk outer products in
    BLAS, floor, int64 accumulate), emitting ONE d*(d+1)/2-row partial
    per partition. The shuffle then carries d^2-ish tiny rows per
    partition — never the data — and the final groupBy(i,j) sum is the
    classic mergeable tree-reduce. Per-row integerization (not
    floor-after-sum) keeps the result independent of row order and
    partition boundaries, which is what makes the value-level oracle
    (and retry/speculative-execution determinism at cluster scale)
    possible.

    Rows that are NULL or of the wrong length are dropped and counted
    nowhere; `n` (rows aggregated) rides every output row so the
    consumer can normalize. Returns (i, j, gram_fp, n), 1-based
    indices, i <= j.
    """
    import numpy as np
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("i", T.IntegerType()),
        T.StructField("j", T.IntegerType()),
        T.StructField("gram_fp", T.LongType()),
        T.StructField("n", T.LongType()),
    ])
    def _partial(batches):
        import pandas as pd

        G = np.zeros((dim, dim), dtype=np.int64)
        n_rows = 0
        for pdf in batches:
            vecs = [v for v in pdf[vec_col]
                    if v is not None and len(v) == dim]
            if not vecs:
                continue
            X = np.asarray(vecs, dtype=np.float64)
            # a NULL/NaN ELEMENT arrives as NaN and floor(NaN) casts
            # to INT64_MIN — one dirty element would poison a whole
            # row+column of G. Drop non-finite rows entirely (and
            # count them nowhere), as the contract states.
            finite = np.isfinite(X).all(axis=1)
            X = X[finite]
            if not len(X):
                continue
            for s in range(0, len(X), GRAM_CHUNK):
                C = X[s:s + GRAM_CHUNK]
                P = np.floor(
                    (C[:, :, None] * C[:, None, :]) * float(scale)
                ).astype(np.int64)
                G += P.sum(axis=0)
            n_rows += len(X)
        ii, jj = np.triu_indices(dim)
        yield pd.DataFrame({
            "i": (ii + 1).astype(np.int32), "j": (jj + 1).astype(np.int32),
            "gram_fp": G[ii, jj], "n": np.int64(n_rows),
        })

    partials = df.select(vec_col).mapInPandas(_partial, out_schema)
    return (
        partials.groupBy("i", "j")
        .agg(F.sum("gram_fp").alias("gram_fp"), F.sum("n").alias("n"))
    )


def gram_matrix_sql(dim: int = 64, scale: int = GRAM_SCALE) -> str:
    """DuckDB twin: brute-force per-row floor(x_i*x_j*scale) over the
    upper-triangular index grid — identical float64 product and
    integerization order."""
    return f"""
        WITH idx AS (SELECT unnest(range(1, {dim + 1})) AS i),
        pairs AS (
            SELECT a.i AS i, b.i AS j FROM idx a JOIN idx b ON a.i <= b.i),
        vecs AS (
            SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings
            WHERE embedding IS NOT NULL AND len(embedding) = {dim}
              AND len(list_filter(embedding,
                       x -> x IS NULL OR isnan(x) OR isinf(x))) = 0)
        SELECT CAST(p.i AS INTEGER) AS i, CAST(p.j AS INTEGER) AS j,
               CAST(sum(CAST(floor(e[p.i] * e[p.j] * {scale}) AS BIGINT))
                    AS BIGINT) AS gram_fp,
               CAST(count(*) AS BIGINT) AS n
        FROM vecs, pairs p
        GROUP BY p.i, p.j
    """
