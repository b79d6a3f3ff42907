"""Index-construction operators: inverted-index postings and
link-graph PageRank.

Both generalize the reference's routing tables. llogtail keeps a
static map sink-name -> matching files and fans every line out by
consulting it (collector.go:125-174); an inverted index is the same
structure built FROM the data (term -> posting list of documents),
and PageRank is the iterative importance weighting a crawler/selector
applies over a link graph before deciding what to keep.

Scale shape (10^12 rows):
- inverted_index: explode to (doc, term), distinct within the doc
  (map-side), then ONE shuffle on term with map-side combine for df;
  posting lists are CAPPED (top POSTINGS_CAP doc ids) so no reducer
  materializes an unbounded list for a stop-word — the full posting
  list at scale is written as term-bucketed parquet instead of a
  single array cell. Final top-k terms by df is a
  TakeOrderedAndProject, never a global sort.
- pagerank: rank updates as integer arithmetic (division-floored
  contributions), so results are bitwise-reproducible regardless of
  partitioning / summation order — the property that makes the
  DuckDB oracle value-exact and cluster reruns deterministic. Each
  iteration is one equi-join (edges x ranks, both hash-partitioned
  on the SAME key so the exchange is reused round to round) plus one
  combinable sum. Iteration count is fixed and small (power-method
  convergence is geometric); each round's lineage is cut by the
  caller at cluster scale (checkpoint) — here 3 unrolled rounds stay
  a single plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llogtail_spark.operators.dedup import tokenize

POSTINGS_CAP = 10
INDEX_TOP_TERMS = 20

PR_ITERS = 3
# fixed-point PageRank constants: rank scale 1e6, damping 0.85
PR_INIT = 1_000_000
PR_BASE = 150_000
PR_DAMP_NUM = 85
PR_DAMP_DEN = 100


def inverted_index(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   top_terms: int = INDEX_TOP_TERMS,
                   cap: int = POSTINGS_CAP) -> DataFrame:
    """Top-df terms with capped posting lists: (term, df, postings)
    where postings is the first `cap` doc ids in ascending order,
    comma-joined (a string so independent engines hash it
    identically). df counts DISTINCT documents containing the term.

    The distinct runs on the exploded (doc, term) pairs BEFORE the
    term aggregation — partial distinct + partial count both combine
    map-side. Aggregation STATE is bounded too (ADVICE r03: a
    collect_list-then-slice buffers the full posting list in the agg
    buffer, so a stop word at 10^12 docs would blow one reducer):
    df comes from a combinable count over ALL pairs, while postings
    are built only from the rank<=cap pairs — the rank filter sits
    directly above a row_number window, which Catalyst rewrites to
    WindowGroupLimit (a bounded top-cap heap inserted both below and
    above the term exchange), so no operator ever materializes more
    than `cap` docs per term."""
    from pyspark.sql import Window

    pairs = (
        df.select(F.col(id_col).alias("doc"),
                  F.explode(tokenize(text_col)).alias("term"))
        .distinct()
    )
    counts = pairs.groupBy("term").agg(F.count("*").alias("df"))
    top = (
        counts.orderBy(F.desc("df"), F.asc("term"))
        .limit(top_terms)
        .select("term", F.col("df").cast("long").alias("df"))
    )
    capped = (
        pairs.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("term").orderBy(F.asc("doc"))
            ),
        )
        .filter(F.col("rk") <= cap)
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(F.sort_array(F.collect_list("doc")),
                            lambda x: x.cast("string")),
                ","
            ).alias("postings")
        )
    )
    # top is top_terms rows — broadcast it so only the capped posting
    # rows of the winning terms survive the join
    return F.broadcast(top).join(capped, "term", "inner").select(
        "term", "df", "postings"
    )


def inverted_index_sql(top_terms: int = INDEX_TOP_TERMS,
                       cap: int = POSTINGS_CAP) -> str:
    """DuckDB twin: identical tokenization, distinct grain, posting
    cap/order, and (df DESC, term ASC) top-k tiebreak."""
    from llogtail_spark.operators.dedup import WS_CLASS
    return f"""
        WITH pairs AS (
            SELECT DISTINCT doc_id AS doc, term
            FROM (SELECT doc_id,
                         unnest(list_filter(
                             string_split_regex(lower(coalesce(text, '')),
                                                '{WS_CLASS}'),
                             x -> x <> '')) AS term
                  FROM documents)),
        agg AS (
            SELECT term, count(*) AS df,
                   array_to_string(
                       (list_sort(list(doc)))[1:{cap}], ',') AS postings
            FROM pairs GROUP BY term)
        SELECT term, CAST(df AS BIGINT) AS df, postings
        FROM agg ORDER BY df DESC, term LIMIT {top_terms}
    """


def _pr_edges(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Undirected customer<->supplier edges from order lines:
    customer c placed an order containing a line supplied by s.
    Distinct node pairs, namespaced ids, both directions."""
    base = (
        lineitem.select("l_orderkey", "l_suppkey")
        .join(orders.select("o_orderkey", "o_custkey"),
              lineitem.l_orderkey == orders.o_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("a"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("b"),
        )
        .distinct()
    )
    return base.union(base.select(F.col("b").alias("a"),
                                  F.col("a").alias("b")))


def pagerank(orders: DataFrame, lineitem: DataFrame,
             iters: int = PR_ITERS, top_k: int = 20,
             broadcast_ranks: bool = True) -> DataFrame:
    """Integer-arithmetic PageRank over the customer<->supplier
    graph, `iters` power iterations, top_k nodes by final rank.

    rank'(v) = PR_BASE + (85 * sum over in-neighbors u of
               floor(rank(u) / outdeg(u))) / 100, all integer ops —
    deterministic under any partitioning. Returns (node, rank).

    broadcast_ranks=True ships each round's rank table to every
    executor so the ADJACENCY — the edge-sized side — never shuffles:
    the per-round join is a map-side hash probe over the checkpointed
    adjacency scan (guide §3.1; the triangle_counts broadcast_edges
    judgment applied to the rank vector). Right whenever the node set
    is dim-sized — customers + suppliers here is O(catalog), two
    BIGINTs per node. Measured plan diff at sf0.1: 3 adjacency
    Exchange+Sort pairs (SortMergeJoin per round) collapse to
    BroadcastHashJoins; only the node-sized partial-agg exchange
    remains per round. For graphs whose node set dwarfs executor
    memory (10^9+ web nodes) set False: every round's join returns to
    a key-partitioned shuffle, values unchanged (integer arithmetic
    is partitioning-invariant)."""
    # Materialize the adjacency (edges + out-degree) ONCE: it feeds
    # every round, and without the cut each iteration re-derives the
    # whole orders x lineitem subtree (measured: 61 parquet scans in
    # the 3-round executed plan; 2 after the checkpoint). LAZY cut —
    # materialized by the final action, zero extra driver jobs.
    # ckpt.checkpoint upgrades to reliable checkpointing when
    # sc.setCheckpointDir is set (cluster deployments), else
    # localCheckpoint (local/test default).
    from llogtail_spark.operators.ckpt import checkpoint

    edges = checkpoint(_pr_edges(orders, lineitem), eager=False)
    deg = edges.groupBy("a").agg(F.count("*").alias("outdeg"))
    # shuffle join on 'a' (deg is node-sized — NOT broadcastable at
    # 10^9 nodes); both sides partition on the same key.
    adj = checkpoint(edges.join(deg, "a"), eager=False)
    ranks = deg.select(F.col("a").alias("node"),
                       F.lit(PR_INIT).cast("long").alias("rank"))
    maybe_bc = F.broadcast if broadcast_ranks else (lambda d: d)
    for _ in range(iters):
        contrib = (
            adj.join(maybe_bc(ranks), adj.a == ranks.node)
            .select(
                F.col("b").alias("node"),
                F.floor(F.col("rank") / F.col("outdeg"))
                .cast("long").alias("c"),
            )
        )
        ranks = (
            contrib.groupBy("node")
            .agg(
                (F.lit(PR_BASE)
                 + F.floor(F.lit(PR_DAMP_NUM) * F.sum("c")
                           / F.lit(PR_DAMP_DEN)))
                .cast("long").alias("rank")
            )
        )
    return ranks.orderBy(F.desc("rank"), F.asc("node")).limit(top_k)


def pagerank_sql(iters: int = PR_ITERS, top_k: int = 20) -> str:
    """DuckDB twin: the same `iters` rounds unrolled as CTEs with
    identical integer arithmetic."""
    rounds = []
    prev = "r0"
    for i in range(1, iters + 1):
        rounds.append(f"""
        r{i} AS (
            SELECT e.b AS node,
                   CAST({PR_BASE} + floor({PR_DAMP_NUM} *
                        sum(floor(r.rank / d.outdeg)) / {PR_DAMP_DEN})
                        AS BIGINT) AS rank
            FROM edges e JOIN deg d ON e.a = d.a
                         JOIN {prev} r ON e.a = r.node
            GROUP BY e.b)""")
        prev = f"r{i}"
    return f"""
        WITH base AS (
            SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS a,
                            's' || CAST(l.l_suppkey AS VARCHAR) AS b
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        edges AS (
            SELECT a, b FROM base
            UNION ALL SELECT b AS a, a AS b FROM base),
        deg AS (SELECT a, count(*) AS outdeg FROM edges GROUP BY a),
        r0 AS (SELECT a AS node, CAST({PR_INIT} AS BIGINT) AS rank
               FROM deg),
        {",".join(rounds)}
        SELECT node, rank FROM {prev}
        ORDER BY rank DESC, node LIMIT {top_k}
    """


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Undirected co-purchase edge set over parts: (u, v), u < v, iff
    some order contains both parts. One distinct on (order, part)
    (map-side combinable), then ONE self-equi-join co-partitioned on
    the order key — per-order fanout is C(basket, 2), bounded by
    basket size, never by table size — then a distinct on the pair.
    The graph-construction twin of the routing-table build
    (collector.go:125-174): structure derived FROM the data."""
    items = (
        lineitem.select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
        )
        .filter(F.col("o").isNotNull() & F.col("p").isNotNull())
        .distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    return (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .distinct()
    )


def triangle_counts(edges: DataFrame,
                    broadcast_edges: bool = True) -> DataFrame:
    """Per-node triangle participation counts over an undirected edge
    set (u < v, deduplicated) — the graph-motif census used to score
    community structure (e.g. how clustered a co-purchase catalog or
    a citation corpus is) before sampling from it.

    Scale shape — the published MapReduce pattern (Suri &
    Vassilvitskii, "Counting Triangles and the Curse of the Last
    Reducer", WWW'11): orient every edge from the lower-(degree, id)
    endpoint to the higher one. Out-degree is then O(sqrt(2m)) for
    EVERY node — a celebrity hub with 10^8 neighbors emits wedges
    only toward higher-degree nodes, of which there are at most
    O(sqrt m) — so the wedge join is bounded O(m^1.5) total and no
    single reducer melts. Enumeration: wedges (x->y, x->z) with
    okey(y) < okey(z), probed against the oriented edge (y->z); each
    triangle surfaces exactly once. The final per-node count is a
    combinable agg over an exploded 3-array.

    broadcast_edges=True ships the closing-edge set (and the node-dim
    degree table) to every executor so the WEDGES — the m^1.5-sized
    intermediate, 41M rows for the sf0.1 co-purchase graph — never
    shuffle: the probe is a map-side hash join right where the wedge
    is produced (measured 2.6x on the tri stage). Right whenever the
    edge set is dim-sized — a support-filtered co-purchase / citation
    graph is O(catalog), two BIGINTs per edge. For web-scale graphs
    whose edges dwarf executor memory set False: every join becomes a
    key-partitioned shuffle and the only big exchange is the wedge
    set itself, still bounded O(m^1.5) with no hot reducer.

    Output: (node, n_tri) for every node in at least one triangle.
    """
    from llogtail_spark.operators.ckpt import checkpoint

    # cut lineage ONCE: the edge set feeds three consumers (degree
    # agg, wedge self-join, closing probe) — without the cut the whole
    # upstream construction (e.g. the co-purchase self-join+distinct)
    # re-executes per consumer. Same discipline as pagerank's
    # adjacency pin; reliable when sc.setCheckpointDir is configured.
    edges = checkpoint(edges, eager=True)
    maybe_bc = F.broadcast if broadcast_edges else (lambda d: d)
    deg = maybe_bc(
        edges.select(F.col("u").alias("n"))
        .unionAll(edges.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("deg"))
    )
    # okey: total order by (degree, id) packed into one BIGINT —
    # degree <= n < 2^31, and the pack is collision-free only for ids
    # in [0, 2^31); any other id fails the job here, inline, instead
    # of colliding silently (this guard also covers the (b, c) pack
    # below, whose ids are these u, v)
    def id31(c):
        return F.when((F.col(c) >= 0) & (F.col(c) < 2**31), F.col(c)).otherwise(
            F.raise_error(F.concat(
                F.lit("triangle_counts: node id "), F.col(c).cast("string"),
                F.lit(" outside [0, 2^31); the packed BIGINT keys need 31-bit ids"))))

    e = (
        edges.join(deg.withColumnRenamed("n", "u").withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("n", "v").withColumnRenamed("deg", "dv"), "v")
        .withColumn("ku", F.col("du") * F.lit(2**31) + id31("u"))
        .withColumn("kv", F.col("dv") * F.lit(2**31) + id31("v"))
    )
    oriented = checkpoint(
        e.select(
            F.when(F.col("ku") < F.col("kv"), F.struct("u", "v", "ku", "kv"))
            .otherwise(
                F.struct(
                    F.col("v").alias("u"), F.col("u").alias("v"),
                    F.col("kv").alias("ku"), F.col("ku").alias("kv"),
                )
            ).alias("s")
        ).select(
            F.col("s.u").alias("x"), F.col("s.v").alias("y"),
            F.col("s.kv").alias("ky"),
        ),
        # the oriented set also feeds three consumers (both wedge
        # aliases + the closing probe) — pin it too
        eager=True,
    )
    w1, w2 = oriented.alias("w1"), oriented.alias("w2")
    # the closing probe joins on (b, c) packed into ONE collision-free
    # BIGINT (ids checked < 2^31 by the okey pack above): a
    # single-long join key lets the broadcast build a long-keyed hash
    # relation instead of hashing a two-column row per probe — measured
    # 2.9s -> 0.95s for the 41M-wedge probe on the sf0.1 co-purchase
    # graph (r06); the un-broadcast fallback shuffles one long instead
    # of two columns
    wedges = w1.join(
        w2,
        (F.col("w1.x") == F.col("w2.x")) & (F.col("w1.ky") < F.col("w2.ky")),
    ).select(
        F.col("w1.x").alias("a"),
        F.col("w1.y").alias("b"),
        F.col("w2.y").alias("c"),
        (F.col("w1.y").cast("long") * F.lit(2**31) + F.col("w2.y"))
        .alias("bc"),
    )
    closing = maybe_bc(
        oriented.select(
            (F.col("x").cast("long") * F.lit(2**31) + F.col("y")).alias("bc")
        )
    )
    tri = wedges.join(closing, ["bc"], "inner")
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_tri"))
    )


BFS_MAX_ITER = 20


BFS_HOP_BATCH = 4


def bfs_levels(edges: DataFrame, src=None,
               max_iter: int = BFS_MAX_ITER,
               hop_batch: int = BFS_HOP_BATCH) -> DataFrame:
    """Single-source shortest hop counts (BFS) over an undirected
    (u, v) edge list — frontier expansion, the Pregel-lite loop that
    complements pagerank's fixed-iteration shape with a
    data-dependent-termination one. Returns (node, dist:int) for
    every node reachable from `src` (default: the minimum node id —
    deterministic; in a u<v edge list the global minimum always
    appears in the u column).

    Scale shape (10^9 nodes): the bidirectional adjacency is
    checkpointed ONCE (reliable when sc.setCheckpointDir is set, the
    pagerank/ckpt.py discipline) and every round is one equi-join
    frontier x adjacency + one left-anti against the visited set —
    all key-partitioned, no broadcast of node-sized state, no driver
    data. The visited set re-checkpoints every round, so lineage
    stays O(1) deep no matter the diameter. Each round costs one
    isEmpty() action (a driver boolean, not data).

    Loud-fail contract: if the frontier is still non-empty after
    max_iter rounds the result would be silently incomplete — raise
    instead (the oracle's recursion carries the same bound, so the
    two engines agree exactly whenever the operator returns at all).

    EAGER by necessity: unlike pagerank (fixed iterations, fully
    lazy plan), data-dependent termination requires a driver action
    per round, so this function runs its Spark jobs AT CALL TIME and
    returns an (already checkpointed) result frame — callers timing
    queries should treat construction as execution.

    hop_batch (VERDICT r04 #7): each driver round expands up to
    `hop_batch` hops LAZILY (chained joins with in-batch anti-join
    against the accumulating level set) before the one eager
    checkpoint + isEmpty action, cutting the scheduling floor —
    2 driver actions per `hop_batch` hops instead of per hop. The
    trade: within a lazy batch, hop i's frontier subtree is
    recomputed as an input to hop i+1 (bounded by hop_batch, and the
    per-hop join is the cheap part next to the round floor). Results
    are hop-batch-invariant: each in-batch hop anti-joins the lazily
    grown level set, so a node keeps its first (minimal) distance.

    Reference anchor: recovery walks the pending-rotation queue
    transitively until no new work appears (log_watcher.go:163-200)
    — the same converge-until-empty-frontier loop, here over a
    graph.
    """
    from llogtail_spark.operators.ckpt import checkpoint

    spark = edges.sparkSession
    bidir = checkpoint(
        edges.select("u", "v").union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ),
        eager=False,
    )
    if src is None:
        # min over bidir.u == min over edges.u (a u<v list's global
        # minimum appears in u, and bidir only adds reversed copies).
        # Computing it FROM bidir makes this driver scalar's job also
        # materialize the lazy adjacency checkpoint — round 6: the old
        # edges.agg(min) re-derived the whole edge-construction
        # subtree once more on top of the round-1 materialization.
        src = bidir.agg(F.min("u")).collect()[0][0]  # driver scalar
    schema = edges.select(F.col("u").alias("node")).schema \
        .add("dist", "integer")
    levels = spark.createDataFrame([(src, 0)], schema)
    frontier = levels
    hop_batch = max(1, hop_batch)
    d = 0
    while d < max_iter:
        # one lazy chain of up to hop_batch hops, then ONE eager
        # checkpoint + ONE per-hop count (the whole round's driver
        # cost)
        d0 = d
        batch_new = None
        lazy_levels = levels
        for _ in range(min(hop_batch, max_iter - d)):
            d += 1
            nxt = (
                frontier.join(bidir, frontier.node == bidir.u)
                .select(F.col("v").alias("node"))
                .distinct()
                .join(lazy_levels, "node", "left_anti")
                .withColumn("dist", F.lit(d).cast("integer"))
            )
            batch_new = nxt if batch_new is None else batch_new.union(nxt)
            lazy_levels = lazy_levels.union(nxt)
            frontier = nxt
        batch_new = checkpoint(batch_new, eager=True)
        # round 6: per-hop counts of the materialized batch replace
        # the bare isEmpty — an EMPTY IN-BATCH HOP proves completion
        # (hop j+1 chains from hop j's frontier, so once one hop adds
        # nothing, every deeper hop is empty and the level set is
        # final), which saves the old terminal round whose only job
        # was to discover emptiness. Same one-driver-action cost as
        # isEmpty, on checkpointed (never recomputed) data.
        hop_counts = {
            r["dist"]: r["n"]
            for r in batch_new.groupBy("dist")
            .agg(F.count(F.lit(1)).alias("n")).collect()
        }
        if not hop_counts:
            # nothing new anywhere in the batch: the pre-batch level
            # set is complete
            return levels
        if min(hop_counts.get(j, 0) for j in range(d0 + 1, d + 1)) == 0:
            return levels.union(batch_new)
        # rebuild levels/frontier ON TOP OF the materialized batch so
        # the next round's lineage starts at the checkpoint, not at
        # the batch's chained join subtree (which lazy_levels carries)
        levels = checkpoint(levels.union(batch_new), eager=False)
        frontier = batch_new.where(F.col("dist") == d)
    if not frontier.join(bidir, frontier.node == bidir.u) \
            .select(F.col("v").alias("node")).distinct() \
            .join(levels, "node", "left_anti").isEmpty():
        raise RuntimeError(
            f"bfs_levels: frontier still non-empty after {max_iter} "
            "rounds - raise max_iter (graph diameter exceeds the bound; "
            "returning now would silently truncate distances)"
        )
    return levels


def bfs_levels_sql(max_iter: int = BFS_MAX_ITER) -> str:
    """DuckDB twin of bfs_levels over the co-purchase graph: a
    recursive CTE bounded by the same max_iter (UNION set semantics
    dedupe (node, dist) pairs, so the recursion is O(N * diameter)
    rows, not path-enumeration), then min(dist) per node — equal to
    frontier BFS whenever the bound holds, which the Spark side
    enforces loudly."""
    return f"""
        WITH RECURSIVE items AS (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p
            FROM lineitem
            WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        base AS (
            SELECT DISTINCT a.p AS u, b.p AS v
            FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
        bidir AS (
            SELECT u, v FROM base UNION ALL SELECT v AS u, u AS v FROM base),
        walk(node, dist) AS (
            SELECT (SELECT min(u) FROM base), 0
            UNION
            SELECT bidir.v, walk.dist + 1
            FROM walk JOIN bidir ON walk.node = bidir.u
            WHERE walk.dist < {max_iter}),
        best AS (
            SELECT node, min(dist) AS d FROM walk GROUP BY node)
        SELECT node, CAST(d AS INTEGER) AS dist FROM best
    """


# ---------------------------------------------------------------------------
# Reciprocal Rank Fusion (multi-ranker result merging)
# ---------------------------------------------------------------------------

RRF_TERMS = ("join", "scan", "hash")   # one ranker per probe term
RRF_C = 60          # the standard RRF damping constant
RRF_DEPTH = 100     # per-ranker list depth
RRF_TOP = 20        # fused results reported
RRF_SCALE = 1_000_000


def rrf_fuse(df: DataFrame, terms: tuple = RRF_TERMS,
             text_col: str = "text", id_col: str = "doc_id",
             depth: int = RRF_DEPTH, top: int = RRF_TOP) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR'09)
    of per-term term-frequency rankings — the standard way hybrid
    retrieval (BM25 + dense + recency) merges result lists without
    score calibration, fused here over one tf ranker per probe term:

        rrf(d) = sum over rankers r where d is in r's top `depth` of
                 floor(10^6 / (C + rank_r(d)))

    with C = 60 (the paper's constant) and ranks from (tf DESC, doc)
    — a total order, so both engines agree. Integer division only:
    no float score ever exists.

    Shape: ONE pass computes every ranker's tf table (explode +
    filter to the probe terms + (doc, term) count, combinable);
    per-term ranking is a WindowGroupLimit bounded top-`depth` heap
    below the term exchange (#terms partitions); the fuse is a
    (doc)-keyed combinable sum over <= terms x depth rows; final
    `top` by (rrf DESC, doc) plans TakeOrderedAndProject. Nothing
    corpus-sized survives past the first aggregation.

    Output: (id_col, n_lists:long, rrf_x6:long), top rows by
    (rrf_x6 DESC, id).
    """
    from pyspark.sql import Window

    tf = (
        df.select(
            F.col(id_col).alias("doc"),
            F.explode(tokenize(text_col)).alias("term"),
        )
        .where(F.col("term").isin(*terms) & F.col("doc").isNotNull())
        .groupBy("doc", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    ranked = (
        tf.withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("term").orderBy(F.desc("tf"), F.asc("doc"))
            ),
        )
        .filter(F.col("rank") <= depth)
    )
    score = F.floor(F.lit(RRF_SCALE) / (F.lit(RRF_C) + F.col("rank")))
    return (
        ranked.groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lists"),
            F.sum(score).cast("long").alias("rrf_x6"),
        )
        .orderBy(F.desc("rrf_x6"), F.asc("doc"))
        .limit(top)
        .select(F.col("doc").alias(id_col), "n_lists", "rrf_x6")
    )


def rrf_fuse_sql(terms: tuple = RRF_TERMS, depth: int = RRF_DEPTH,
                 top: int = RRF_TOP) -> str:
    """DuckDB twin of rrf_fuse — identical ranking and integer RRF
    arithmetic."""
    from llogtail_spark.operators.dedup import WS_CLASS

    term_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
        WITH tok AS (
            SELECT doc_id AS doc,
                   unnest(list_filter(
                       string_split_regex(lower(coalesce(text, '')),
                                          '{WS_CLASS}'),
                       x -> x <> '')) AS term
            FROM documents),
        tf AS (
            SELECT doc, term, count(*) AS tf
            FROM tok WHERE term IN ({term_list}) AND doc IS NOT NULL
            GROUP BY doc, term),
        ranked AS (
            SELECT doc, term, tf,
                   row_number() OVER (PARTITION BY term
                                      ORDER BY tf DESC, doc) AS rank
            FROM tf),
        fused AS (
            SELECT doc, CAST(count(*) AS BIGINT) AS n_lists,
                   CAST(sum(floor({RRF_SCALE} / ({RRF_C} + rank)))
                        AS BIGINT) AS rrf_x6
            FROM ranked WHERE rank <= {depth} GROUP BY doc)
        SELECT doc AS doc_id, n_lists, rrf_x6
        FROM fused ORDER BY rrf_x6 DESC, doc LIMIT {top}
    """


# ---------------------------------------------------------------------------
# Association rules: co-purchase support / lift
# ---------------------------------------------------------------------------

LIFT_TOP = 30
LIFT_X3 = 1000


def copurchase_lift(lineitem: DataFrame, top: int = LIFT_TOP) -> DataFrame:
    """Frequent co-purchased part pairs with support and lift — the
    A-Priori pair-counting step of association-rule mining (Agrawal &
    Srikant, VLDB'94), kept exact because pair counting is already
    the bounded-fanout copurchase_edges shape (per-basket C(k,2),
    never table-squared).

        support_bp(a,b) = floor(10^4 * n_ab / N)
        lift_x3(a,b)    = floor(10^3 * n_ab * N / (n_a * n_b))

    with n_x = baskets containing x, N = total baskets — lift > 1000
    means the pair co-occurs more than independence predicts. All
    integer: n_ab * N * 10^3 needs n_ab * N < 9.2e15, fine through
    ~10^7 baskets per shard; beyond that drop to x1 or compute per
    partition-of-time and merge counts first.

    Shape: basket-item distinct (combinable), the co-keyed pair join,
    pair counts (combinable), top-`top` pairs by (n_ab DESC, a, b)
    via TakeOrderedAndProject, then item counts join the tiny
    candidate set (broadcast) and the 1-row basket total rides a
    broadcast crossJoin.

    Output: (part_a:long, part_b:long, n_ab:long, support_bp:long,
    lift_x3:long).
    """
    items = (
        lineitem.select(
            F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
        )
        .filter(F.col("o").isNotNull() & F.col("p").isNotNull())
        .distinct()
    )
    a, b = items.alias("a"), items.alias("b")
    pair_counts = (
        a.join(b, (F.col("a.o") == F.col("b.o"))
               & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("pa"), F.col("b.p").alias("pb"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    cand = pair_counts.orderBy(
        F.desc("n_ab"), F.asc("pa"), F.asc("pb")
    ).limit(top)
    item_counts = items.groupBy("p").agg(F.count(F.lit(1)).alias("n_p"))
    n_baskets = items.select("o").distinct().agg(
        F.count(F.lit(1)).alias("nb")
    )
    j = (
        F.broadcast(cand)
        .join(item_counts.withColumnRenamed("p", "pa")
              .withColumnRenamed("n_p", "n_a"), "pa")
        .join(item_counts.withColumnRenamed("p", "pb")
              .withColumnRenamed("n_p", "n_b"), "pb")
        .crossJoin(F.broadcast(n_baskets))
    )
    return j.select(
        F.col("pa").alias("part_a"), F.col("pb").alias("part_b"),
        F.col("n_ab").cast("long").alias("n_ab"),
        F.floor(F.col("n_ab") * 10000 / F.col("nb")).cast("long")
        .alias("support_bp"),
        F.floor(F.col("n_ab") * F.col("nb") * LIFT_X3
                / (F.col("n_a") * F.col("n_b"))).cast("long")
        .alias("lift_x3"),
    )


def copurchase_lift_sql(top: int = LIFT_TOP) -> str:
    """DuckDB twin of copurchase_lift — identical counts and integer
    fixed-point arithmetic."""
    return f"""
        WITH items AS (
            SELECT DISTINCT l_orderkey AS o, l_partkey AS p
            FROM lineitem
            WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
        pair_counts AS (
            SELECT a.p AS pa, b.p AS pb, count(*) AS n_ab
            FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
            GROUP BY pa, pb),
        cand AS (
            SELECT * FROM pair_counts
            ORDER BY n_ab DESC, pa, pb LIMIT {top}),
        item_counts AS (SELECT p, count(*) AS n_p FROM items GROUP BY p),
        nb AS (SELECT count(DISTINCT o) AS nb FROM items)
        SELECT cand.pa AS part_a, cand.pb AS part_b,
               CAST(cand.n_ab AS BIGINT) AS n_ab,
               CAST(floor(cand.n_ab * 10000 / nb.nb) AS BIGINT)
                   AS support_bp,
               CAST(floor(cand.n_ab * nb.nb * {LIFT_X3}
                          / (ia.n_p * ib.n_p)) AS BIGINT) AS lift_x3
        FROM cand
        JOIN item_counts ia ON ia.p = cand.pa
        JOIN item_counts ib ON ib.p = cand.pb
        CROSS JOIN nb
    """
