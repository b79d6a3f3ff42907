"""Similarity search: brute force vs a numpy oracle; LSH recall and
plan shape."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from llogtail_spark.operators.similarity import brute_force_topk, lsh_topk

DIM = 16
N = 200


@pytest.fixture(scope="module")
def emb_np():
    rng = np.random.default_rng(5)
    return rng.standard_normal((N, DIM)).astype(np.float32)


@pytest.fixture(scope="module")
def emb(spark, emb_np):
    rows = [(i, emb_np[i].tolist()) for i in range(N)]
    return spark.createDataFrame(rows, "vec_id int, embedding array<float>").cache()


def numpy_topk(emb_np, q_ids, k=3):
    m = emb_np.astype(np.float64)
    normed = m / np.linalg.norm(m, axis=1, keepdims=True)
    sims = normed @ normed.T
    out = {}
    for q in q_ids:
        s = sims[q].copy()
        s[q] = -np.inf
        order = np.argsort(-s, kind="stable")
        out[q] = [int(i) for i in order[:k]]
    return out


def test_brute_force_matches_numpy(emb, emb_np):
    queries = emb.filter(F.col("vec_id") < 5)
    got = brute_force_topk(emb, queries, k=3).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert by_q == numpy_topk(emb_np, range(5), k=3)


def test_brute_force_query_side_is_broadcast(emb):
    queries = emb.filter(F.col("vec_id") < 5)
    plan = brute_force_topk(emb, queries)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan  # never an unbroadcast cross


def test_lsh_results_are_valid_and_overlap_exact(emb, emb_np):
    queries = emb.filter(F.col("vec_id") < 10)
    approx = lsh_topk(emb, queries, k=3, dim=DIM, n_bits=4, seed=7).collect()
    exact = numpy_topk(emb_np, range(10), k=3)
    # every returned neighbor must be a real vector and not the query
    for r in approx:
        assert 0 <= r["neighbor_id"] < N and r["neighbor_id"] != r["query_id"]
    # recall@3 > 0 overall (approximate, but must find something real)
    hits = sum(
        1 for r in approx if r["neighbor_id"] in exact[r["query_id"]]
    )
    assert hits > 0


def test_lsh_deterministic(emb):
    queries = emb.filter(F.col("vec_id") < 5)
    a = sorted(map(tuple, lsh_topk(emb, queries, k=3, dim=DIM, seed=7).collect()))
    b = sorted(map(tuple, lsh_topk(emb, queries, k=3, dim=DIM, seed=7).collect()))
    assert a == b


def test_near_dup_lsh_equals_brute_force(spark, emb, emb_np):
    """The LSH + rerank near-dup pairs must EQUAL the brute-force pair
    set on this fixture (recall 1 at the configured params/threshold)."""
    from llogtail_spark.operators.dedup import embedding_near_dup_pairs
    from llogtail_spark.operators.similarity import embedding_near_dup_pairs_lsh

    got = sorted(
        map(tuple, embedding_near_dup_pairs_lsh(
            emb, threshold_x10000=5000, dim=DIM).collect())
    )
    want = sorted(
        map(tuple, embedding_near_dup_pairs(
            emb, id_col="vec_id", vec_col="embedding",
            threshold_x10000=5000).collect())
    )
    assert got == want


def test_near_dup_lsh_catches_planted_duplicates(spark):
    """The production case: planted true near-dups (cos >= 0.95) must
    all surface at a high threshold, where LSH pruning is strong."""
    rng = np.random.default_rng(9)
    base = rng.standard_normal((100, DIM))
    rows = [(i, base[i].tolist()) for i in range(100)]
    # plant 10 near-copies: vector i' = vector i + small noise
    planted = []
    for j in range(10):
        noisy = base[j] + 0.05 * rng.standard_normal(DIM)
        rows.append((1000 + j, noisy.tolist()))
        planted.append((j, 1000 + j))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")

    from llogtail_spark.operators.similarity import embedding_near_dup_pairs_lsh

    got = embedding_near_dup_pairs_lsh(df, threshold_x10000=9000, dim=DIM).collect()
    got_pairs = {(r["id_a"], r["id_b"]) for r in got}
    for a, b in planted:
        assert (a, b) in got_pairs, f"planted near-dup ({a},{b}) missed"
    for r in got:
        assert r["cos_x10000"] >= 9000


def test_near_dup_lsh_plan_has_no_cartesian(emb):
    from llogtail_spark.operators.similarity import embedding_near_dup_pairs_lsh

    plan = embedding_near_dup_pairs_lsh(
        emb, threshold_x10000=5000, dim=DIM
    )._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_bucket_signs_have_robust_margin():
    """Oracle parity for ann_lsh depends on numpy (BLAS, reordered
    sums) and DuckDB (sequential list_dot_product) agreeing on the
    SIGN of every projection. Cross-engine float sums differ by at
    most ~1e-13 relative; assert every fixture projection clears that
    by orders of magnitude, so a sign flip is impossible."""
    import os

    import duckdb

    from llogtail_spark.operators.similarity import rounded_hyperplanes

    if not os.path.isdir("/root/testdata/sf0.001"):
        pytest.skip("driver testdata not present")
    planes = rounded_hyperplanes(64, 6, 7, 6)
    for sf in ["0.001", "0.01", "0.1"]:
        emb = duckdb.connect().execute(
            f"SELECT embedding FROM read_parquet('/root/testdata/sf{sf}/embeddings.parquet')"
        ).fetchall()
        m = np.array([r[0] for r in emb], dtype=np.float64)
        margin = np.abs(m @ planes).min()
        assert margin > 1e-6, (sf, margin)


def test_ivf_full_probe_equals_exact(emb):
    """Probing every cell degenerates IVF to exact search: the result
    must EQUAL brute_force_topk (same rerank, same tiebreak)."""
    from llogtail_spark.operators.similarity import ivf_topk

    queries = emb.filter(F.col("vec_id") < 10)
    got = sorted(map(tuple, ivf_topk(
        emb, queries, k=3, dim=DIM, n_cells=8, nprobe=8, seed=11
    ).collect()))
    want = sorted(map(tuple, brute_force_topk(emb, queries, k=3).collect()))
    assert got == want


def test_ivf_neighbors_come_from_probed_cells(emb, emb_np):
    """Structural validity at nprobe < n_cells: every returned
    neighbor's cell must be among the query's probed cells (checked
    against a numpy recompute of the same quantizer)."""
    from llogtail_spark.operators.similarity import ivf_topk, rounded_centroids

    cents = rounded_centroids(DIM, 8, 11)
    scores = emb_np.astype(np.float64) @ cents.T
    order = np.argsort(-scores, axis=1, kind="stable")
    assign = order[:, 0]
    probed = {i: set(order[i, :3]) for i in range(N)}

    queries = emb.filter(F.col("vec_id") < 10)
    rows = ivf_topk(emb, queries, k=3, dim=DIM, n_cells=8, nprobe=3,
                    seed=11).collect()
    assert rows, "ivf returned nothing"
    for r in rows:
        assert 0 <= r["neighbor_id"] < N and r["neighbor_id"] != r["query_id"]
        assert assign[r["neighbor_id"]] in probed[r["query_id"]]


def test_ivf_deterministic(emb):
    from llogtail_spark.operators.similarity import ivf_topk

    queries = emb.filter(F.col("vec_id") < 5)
    a = sorted(map(tuple, ivf_topk(emb, queries, k=3, dim=DIM).collect()))
    b = sorted(map(tuple, ivf_topk(emb, queries, k=3, dim=DIM).collect()))
    assert a == b


def test_ivf_plan_no_cartesian_and_broadcast(emb):
    from llogtail_spark.operators.similarity import ivf_topk

    queries = emb.filter(F.col("vec_id") < 10)
    plan = ivf_topk(emb, queries, k=3, dim=DIM)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_ivf_cell_margins_robust():
    """Oracle parity for ann_ivf needs numpy and DuckDB to agree on
    the cell RANKING per vector. Assert the score gaps at the decision
    boundaries (cell rank 1 vs 2, rank nprobe vs nprobe+1) clear
    cross-engine float-sum noise (~1e-13) by orders of magnitude."""
    import os

    import duckdb

    from llogtail_spark.operators.similarity import rounded_centroids

    if not os.path.isdir("/root/testdata/sf0.001"):
        pytest.skip("driver testdata not present")
    cents = rounded_centroids(64, 16, 11)
    for sf in ["0.001", "0.01", "0.1"]:
        rows = duckdb.connect().execute(
            f"SELECT embedding FROM read_parquet('/root/testdata/sf{sf}/embeddings.parquet')"
        ).fetchall()
        m = np.array([r[0] for r in rows], dtype=np.float64)
        s = np.sort(m @ cents.T, axis=1)[:, ::-1]
        gaps = np.concatenate([s[:, 0] - s[:, 1], s[:, 3] - s[:, 4]])
        assert gaps.min() > 1e-6, (sf, gaps.min())


# --- semantic_dedup (SemDeDup: cell -> within-cell cosine matrix) ---

SD_CONF = dict(dim=DIM, n_cells=8, seed=11, decimals=6,
               threshold_x10000=5000)


def numpy_semdedup(emb_np, ids=None, n_cells=8, seed=11, decimals=6,
                   thr=5000):
    """Independent reimplementation: nearest rounded centroid (argmax
    dot, ties -> lowest cell), within-cell all-pairs cosine at
    floor(cos*10000) >= thr, keep-lowest-id."""
    from llogtail_spark.operators.similarity import rounded_centroids

    m = emb_np.astype(np.float64)
    ids = np.arange(len(m)) if ids is None else np.asarray(ids)
    cents = rounded_centroids(m.shape[1], n_cells, seed, decimals)
    assign = np.argmax(m @ cents.T, axis=1)
    out = {}
    for c in np.unique(assign):
        sel = np.where(assign == c)[0]
        sub = m[sel]
        g = sub @ sub.T
        nrm = np.sqrt(np.diag(g))
        mask = np.floor(g / np.outer(nrm, nrm) * 10000) >= thr
        np.fill_diagonal(mask, False)
        cid = ids[sel]
        smaller = mask & (cid[None, :] < cid[:, None])
        for j, vid in enumerate(cid):
            out[int(vid)] = (
                int(c), int(mask[j].sum()), int(not smaller[j].any())
            )
    return out


def test_semantic_dedup_matches_numpy(emb, emb_np):
    from llogtail_spark.operators.similarity import semantic_dedup

    got = {
        r["vec_id"]: (r["cell"], r["n_near"], r["keep"])
        for r in semantic_dedup(emb, **SD_CONF).collect()
    }
    want = numpy_semdedup(emb_np, n_cells=SD_CONF["n_cells"],
                          thr=SD_CONF["threshold_x10000"])
    assert got == want
    assert len(got) == N  # one row per input vector, none lost
    # the organic fixture must actually exercise dup groups at this
    # threshold, or the test is vacuous
    assert any(k == 0 for (_, _, k) in got.values())


def test_semantic_dedup_planted_twins(spark, emb_np):
    """An exact twin always lands in the same cell (identical
    assignment), so the higher id is dropped and both count each
    other as near."""
    from llogtail_spark.operators.similarity import semantic_dedup

    rows = [(i, emb_np[i].tolist()) for i in range(50)]
    rows += [(1000 + i, emb_np[i].tolist()) for i in range(0, 50, 10)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    got = {r["vec_id"]: r for r in
           semantic_dedup(df, **{**SD_CONF, "threshold_x10000": 9999}).collect()}
    for i in range(0, 50, 10):
        assert got[1000 + i]["keep"] == 0
        assert got[i]["keep"] == 1
        assert got[i]["n_near"] >= 1 and got[1000 + i]["n_near"] >= 1
        assert got[i]["cell"] == got[1000 + i]["cell"]


def test_semantic_dedup_plan(emb):
    """One vectorized assignment eval + one grouped-map stage, no
    joins: the whole operator is assignment -> ONE cell shuffle ->
    per-cell matrix."""
    from llogtail_spark.operators.similarity import semantic_dedup

    plan = (
        semantic_dedup(emb, **SD_CONF)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("ArrowEvalPython") == 1
    assert plan.count("FlatMapGroupsInPandas") == 1
    for node in ("Join", "CartesianProduct", "BatchEvalPython"):
        assert node not in plan


def numpy_kmeans_profile(emb_np, labels, cents):
    """Independent argmax-dot assignment (ties -> lowest cell,
    make_cell_udf's stable order) + exact integer purity rollup."""
    scores = emb_np.astype(np.float64) @ cents.T
    assign = np.argsort(-scores, axis=1, kind="stable")[:, 0]
    out = {}
    for c in sorted(set(int(a) for a in assign)):
        ls = [int(l) for l, a in zip(labels, assign) if a == c]
        n = len(ls)
        counts = {}
        for l in ls:
            counts[l] = counts.get(l, 0) + 1
        maj = min(
            (l for l in counts if counts[l] == max(counts.values()))
        )
        out[c] = (n, maj, (1000 * counts[maj]) // n)
    return out


def test_kmeans_profile_matches_numpy(spark, emb_np):
    from llogtail_spark.operators.similarity import (
        kmeans_cluster_profile, rounded_centroids,
    )

    labels = [i % 3 for i in range(N)]
    rows = [(i, labels[i], emb_np[i].tolist()) for i in range(N)]
    df = spark.createDataFrame(
        rows, "vec_id int, label int, embedding array<float>"
    )
    got = {
        r["cluster_id"]: (r["n"], r["majority_label"], r["purity_x1000"])
        for r in kmeans_cluster_profile(
            df, dim=DIM, n_clusters=4, seed=5, decimals=6
        ).collect()
    }
    cents = rounded_centroids(DIM, 4, 5, 6)
    assert got == numpy_kmeans_profile(emb_np, labels, cents)
    assert sum(n for (n, _, _) in got.values()) == N  # every row assigned


def test_kmeans_profile_plan_single_eval(spark, emb_np):
    """Scan -> ONE Arrow assignment eval -> partial+final hash aggs;
    no joins, no second UDF eval (the isnotnull re-inline pathology
    pinned out for lsh/ivf must not reappear here)."""
    from llogtail_spark.operators.similarity import kmeans_cluster_profile

    rows = [(i, i % 3, emb_np[i].tolist()) for i in range(50)]
    df = spark.createDataFrame(
        rows, "vec_id int, label int, embedding array<float>"
    )
    plan = (
        kmeans_cluster_profile(df, dim=DIM, n_clusters=4, seed=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("ArrowEvalPython") == 1
    for node in ("Join", "CartesianProduct", "BatchEvalPython"):
        assert node not in plan


def test_pair_cos_arrow_bit_identical_to_hof_fold(spark):
    """r06: the Arrow rerank kernel must reproduce the dot/(norm*norm)
    HOF fold BIT-for-bit — it claims to replay the identical
    left-fold double-addition order (sequential over dims), so exact
    == comparison, not approx. Random float32 vectors across dims and
    magnitudes, including near-orthogonal and near-parallel pairs."""
    import numpy as np

    from pyspark.sql import functions as F
    from llogtail_spark.operators.similarity import (
        dot, norm, pair_cos_arrow,
    )

    rng = np.random.default_rng(11)
    rows = []
    rid = 0
    for dim in (2, 16, 64, 65):
        for scale in (1e-3, 1.0, 1e3):
            for _ in range(8):
                a = (rng.standard_normal(dim) * scale).astype(np.float32)
                b = (rng.standard_normal(dim) * scale).astype(np.float32)
                rows.append((rid, a.tolist(), b.tolist()))
                rid += 1
                # near-parallel pair (floor boundaries live near 1.0)
                rows.append((rid, a.tolist(),
                             (a + rng.standard_normal(dim).astype(
                                 np.float32) * 1e-4).tolist()))
                rid += 1
    df = spark.createDataFrame(
        rows, "id int, va array<float>, vb array<float>")
    got = df.select(
        "id",
        pair_cos_arrow(F.col("va"), F.col("vb")).alias("arrow"),
        (dot(F.col("va"), F.col("vb"))
         / (norm(F.col("va")) * norm(F.col("vb")))).alias("hof"),
    ).collect()
    assert len(got) == rid
    for r in got:
        assert r["arrow"] == r["hof"], (r["id"], r["arrow"], r["hof"])


def test_pair_cos_arrow_masks_null_ragged_and_zero_norm(spark):
    """ADVICE r06 #2: NULL or ragged vectors must not fail the Arrow
    batch. Over ONE batch that mixes dims, NULL, ragged, empty and
    zero-norm rows, pair_cos_arrow equals the cosine_sim fold row for
    row: NULL where the fold is NULL, bit-identical elsewhere. The fold
    raises DIVIDE_BY_ZERO on a zero-norm row under ANSI, so the
    comparison runs with ANSI off, where the fold is NULL there; the
    kernel itself divides to NaN on those rows."""
    import numpy as np

    from pyspark.sql import functions as F
    from llogtail_spark.operators.similarity import (
        _pair_cos_np, cosine_sim, pair_cos_arrow,
    )

    rng = np.random.default_rng(3)

    def vec(dim):
        return rng.standard_normal(dim).astype(np.float32).tolist()

    rows = [
        (0, vec(4), vec(4)),
        (1, None, vec(4)),
        (2, vec(4), None),
        (3, None, None),
        (4, vec(4), vec(3)),  # ragged
        (5, [0.0] * 4, vec(4)),  # zero norm
        (6, [], []),  # zero norm, no dims
        (7, vec(16), vec(16)),  # another dim in the same batch
        (8, vec(3), vec(5)),  # ragged
        (9, vec(4), vec(4)),
    ]
    df = spark.createDataFrame(
        rows, "id int, va array<float>, vb array<float>").coalesce(1)
    arrow = {r["id"]: r["c"] for r in df.select(
        "id", pair_cos_arrow(F.col("va"), F.col("vb")).alias("c")).collect()}
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        fold = {r["id"]: r["c"] for r in df.select(
            "id", cosine_sim("va", "vb").alias("c")).collect()}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert arrow == fold
    assert {i for i, c in arrow.items() if c is None} == {1, 2, 3, 4, 5, 6, 8}

    def col(i):
        v = [None if r[i] is None else np.asarray(r[i], np.float32)
             for r in rows]
        out = np.empty(len(v), dtype=object)
        out[:] = v
        return out

    assert np.isnan(_pair_cos_np(col(1), col(2))[[5, 6]]).all()
