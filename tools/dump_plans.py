"""Regenerate PLANS.md: formatted physical plans of the headline
query shapes, annotated with the scale property each one pins.

Run: python tools/dump_plans.py   (writes PLANS.md at the repo root)

The same properties are enforced by tests/test_plans.py; this file
exists so a reviewer can READ the plans without running Spark.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"

# (queries() name, what the plan must show)
SHOWCASE = [
    ("enrich_broadcast_revenue",
     "BroadcastHashJoin on every dim hop — the big side never shuffles; "
     "partial+final HashAggregate around one exchange."),
    ("agg_pricing_summary",
     "Partial+final aggregation (map-side combine); two exact "
     "countDistincts force the expand — exact-distinct is the spec."),
    ("topk_per_group",
     "Single hash exchange; rank filter stays in the window pass — "
     "no global sort."),
    ("ngram_top_bigrams",
     "Explode -> partial+final count -> TakeOrderedAndProject: the "
     "n-gram table (bigger than the corpus at 100 TB) is never "
     "globally sorted."),
    ("embedding_near_dup",
     "Multi-probe LSH: explode band keys -> hash equi-joins keyed on "
     "bucket -> exact rerank. No CartesianProduct / nested loop "
     "anywhere."),
    ("ann_ivf",
     "IVF: one vectorized cell assignment (ArrowEvalPython), broadcast "
     "query side, exact in-cell rerank behind a single window pass."),
    ("asof_join_last_purchase",
     "Union-window as-of: ONE exchange on the key, zero join nodes — "
     "no range explosion."),
    ("sample_deterministic",
     "Hash-threshold sampling is a scan-level filter: zero exchanges, "
     "decided per-row by pure expressions."),
    ("text_repetition",
     "Repetition quality signals are scan-stage HOF projections: one "
     "file scan, zero exchanges, zero Python."),
    ("decontaminate_docs",
     "Benchmark n-gram set rides a BroadcastExchange; the corpus scan "
     "joins executor-locally — the only hash exchanges are the tiny "
     "benchmark distinct and the per-doc hit-count agg."),
    ("boilerplate_strip",
     "Cross-doc boilerplate removal: chunk explode -> frequency agg "
     "and membership join share the chunk-key partitioning; ordered "
     "reassembly is one doc_id exchange. Zero Python evals."),
    ("token_budget_select",
     "Token-budget selection WITHOUT a global ordered cumsum: the "
     "corpus aggregates to a <=10001-row score histogram resolved on "
     "the driver; kept classes are a literal-predicate filter and "
     "only the single boundary score class is windowed."),
    ("semantic_dedup",
     "SemDeDup: ONE vectorized cell assignment (ArrowEvalPython), one "
     "shuffle keyed on the cell id, per-cell cosine matrix inside a "
     "single FlatMapGroupsInPandas — zero joins, zero extra scans."),
    ("mixture_resample",
     "Exact-quota mixture enforcement: quotas resolve from a column-"
     "pruned dim-sized count agg on the driver, then ONE window "
     "exchange on the group ranks and cuts every group to its "
     "literal quota."),
    ("stratified_sample_events",
     "Exact-quota stratified sample: WindowGroupLimit pushes per-"
     "partition top-n heaps below the single stratum exchange — a "
     "huge stratum ships at most n rows per map task."),
    ("vocab_coverage",
     "Vocabulary coverage CDF: one combinable count shuffle, "
     "TakeOrderedAndProject top-V (never a global vocab sort), and "
     "the rank/cumsum window runs AFTER the limit over exactly V "
     "rows; the corpus total is a separate scan-only aggregate."),
    ("source_overlap",
     "Cross-source contamination matrix with ZERO join nodes: "
     "groupBy(chunk) -> sorted source set -> HOF pair fan-out -> "
     "dim^2-sized combinable pair count. A self-join on chunk would "
     "shuffle the corpus twice."),
    ("span_dedup",
     "Exact span-level dedup: first-occurrence is a map-side-"
     "combinable min(struct) agg (the hottest chunk combines per "
     "task), NOT a row_number window over the chunk key; membership "
     "join stays AQE-skew-eligible."),
    ("char_diversity",
     "Integer Gini-Simpson per doc: the ENTIRE arithmetic lives in "
     "one HOF fold's finish lambda — exactly one aggregate(array_sort"
     "(...)) in the plan (separate references would re-run the sort "
     "per reference); ensure_parallelism restores the core floor "
     "above the single-row-group scan."),
    ("length_quantiles",
     "Exact per-source length quantiles with NO global sort: the "
     "cumulative window runs over the dim-sized (source, length) "
     "histogram; the final per-source agg reuses the window's "
     "partitioning — <=2 hash exchanges end to end."),
    ("unigram_surprisal",
     "CCNet-style unigram-LM quality score, integer eighth-bit "
     "arithmetic: one combinable token histogram feeds BOTH the "
     "top-V vocab (TakeOrdered) and T (ReusedExchange at runtime); "
     "per-doc scoring is a broadcast join + map-side collapse; "
     "terciles run over the dim-sized centibit histogram."),
    ("corpus_diff",
     "Recrawl snapshot diff: FULL OUTER sort-merge join on the "
     "unique doc id; exchanges carry (id, source, md5 digest) only — "
     "document bodies never cross the wire. Bucketed snapshots make "
     "it zero-Exchange (pinned in test_corpus.py)."),
    ("funnel_counts",
     "Ordered funnel: one shuffle on user, Catalyst HOF fold over "
     "each user's sorted events (greedy earliest-advance == the "
     "sequential-min chain), per-step counts via a tiny sequence "
     "explode — zero joins, zero Python."),
    ("kmv_distinct",
     "KMV cardinality sketch: hash-distinct with map-side combine, "
     "then WindowGroupLimit keeps a bottom-K heap BELOW the per-"
     "group exchange — the shuffle ships K rows per partition per "
     "group, never the distinct set."),
    ("countmin_freq",
     "Count-min sketch: one combinable (row, cell) groupBy builds "
     "the fixed DEPTHxWIDTH counter table; probes look it up via "
     "BroadcastHashJoin — no shuffled join anywhere."),
    ("rate_spikes",
     "Minute-rate spike alert: the only wide op is the combinable "
     "(type, minute) rollup; the rank median runs over the dim-"
     "sized histogram and rejoins by broadcast."),
    ("interarrival_stats",
     "Inter-arrival stats: one user-keyed lag window, then the gap "
     "domain collapses to a combinable (type, gap) histogram — the "
     "exact p95 cumulative never sorts raw gaps."),
    ("token_pmi",
     "PMI collocation mining: two combinable histograms, broadcast "
     "vocab joins, TakeOrderedAndProject — the bigram table is never "
     "globally sorted."),
    ("salted_event_rollup",
     "Salted skew rollup: (key, salt, user) partial spreads a hot "
     "key over 64 reducers, the key-level fold is exact (fixed-"
     "point BIGINT) — result == plain GROUP BY."),
    ("log_templates",
     "Drain-style template mining: one combinable (source, len, pos, "
     "token) count shuffle, modal pick via rank-limit window, "
     "assembly over the bounded position table — lines are never "
     "re-sorted."),
    ("tfidf_topterms",
     "Per-source tf-idf terms: vocab-sized df side broadcast; "
     "WindowGroupLimit top-n heaps below the source exchange."),
    ("zorder_shards",
     "Z-order layout audit: the 16-bit Morton interleave is a pure "
     "codegen projection (zero Python, zero pre-shuffle); the audit "
     "is ONE partial+final aggregation exchange over <=256 shards."),
    ("pagerank",
     "Integer PageRank: the adjacency (edges + outdeg) materializes "
     "ONCE via lazy localCheckpoint; every power iteration probes it "
     "with a BROADCAST of the node-dim rank vector (round 6 — the "
     "SortMergeJoin per round re-exchanged+sorted the checkpointed "
     "adjacency; broadcast_ranks=False restores the shuffle join for "
     "web-scale node sets) and folds with a combinable integer sum."),
    ("scd2_intervals",
     "SCD-2 intervals: change-detect lag and closing lead share ONE "
     "user_id exchange + sort (the filter between them preserves "
     "both); the rollup exchange moves only dim-sized rows."),
    ("bloom_prune_join",
     "Bloom runtime filter: ONE ArrowEvalPython (broadcast bitset "
     "test) prunes the probe in its scan stage BEFORE any shuffle; "
     "the exact join then sees only ~matching rows."),
    ("star_join_q3",
     "TPC-H Q3 star shape: both dims broadcast (no SortMergeJoin — "
     "the fact side never shuffles for the joins), partial+final agg, "
     "TakeOrderedAndProject top-10."),
    ("time_weighted_avg",
     "TWA: lead window, partial+final agg, and integer division all "
     "ride ONE user_id exchange."),
    ("mad_outliers",
     "Median/MAD/outlier census from ONE histogram of the data (a "
     "single parquet scan; AQE stage reuse feeds every consumer); all "
     "later exchanges are dim-sized."),
    ("gram_matrix",
     "Distributed Gram matrix: scan -> ONE MapInPandas (numpy block "
     "partials) -> partial agg -> one d^2-row exchange -> final "
     "mergeable reduce. The data never shuffles."),
    ("conversion_latency",
     "Exact latency percentiles without sorting deltas: combinable "
     "histogram, rank windows over the dim-sized histogram, one-row "
     "output."),
    ("global_ordinals",
     "Global row numbering with NO SinglePartition exchange: range "
     "repartition + per-partition sort + map-literal offsets."),
    ("pareto_front_orders",
     "2-D skyline with NO SinglePartition exchange: one combinable "
     "agg per distinct min-key, range repartition, per-partition "
     "cummax window (partitioned by _pid), map-literal prefix-max."),
    ("triangle_counts",
     "Triangle census: degree-ordered orientation (out-degree "
     "O(sqrt 2m) for every node), wedge self-join on the oriented "
     "source, closing edge probed via BroadcastHashJoin so the "
     "m^1.5-sized wedge set never shuffles."),
    ("priority_sample_docs",
     "Weighted sampling without replacement: integer-only priority "
     "projection in the scan stage, TakeOrderedAndProject top-k — "
     "per-partition heaps, no global sort, no SinglePartition "
     "exchange."),
    ("seq_packing_docs",
     "Concat-and-chunk training-sequence packing: tokenize-count in "
     "the scan stage, ONE nshards-way exchange, per-shard cumsum "
     "window — no global sort, no SinglePartition exchange."),
    ("hll_distinct_tokens",
     "HyperLogLog registers: explode in the scan stage, ONE "
     "map-side-combinable (grp,bucket) max shuffle, m-bounded "
     "per-group rollup — fixed-size mergeable summary, no Python."),
    ("dup_token_spans",
     "ExactSubstr spans: double rolling fingerprints as scan-stage "
     "HOFs, ONE combinable count+min-struct shuffle on the "
     "fingerprint, equi-join back, per-doc islands window — no "
     "cartesian, no SinglePartition exchange."),
    ("fuzzy_join_heads",
     "Edit-distance similarity join: q-gram explode, combinable "
     "frequency count, per-doc bounded prefix window, equi-join on "
     "rarest prefix grams only, Levenshtein verify on candidates — "
     "no cartesian, no hot-gram skew."),
    ("quality_classifier",
     "fastText-style quality filter as inference-as-scan: hashed "
     "features, arithmetic weight lookup and the dot product all in "
     "ONE WholeStageCodegen projection — zero Exchange, zero Join, "
     "zero Python; 10^12 docs cost exactly one pass."),
    ("hll_sliding_dau",
     "Trailing-7d distinct users from per-day HLL registers: one "
     "combinable (day, bucket) max-rho shuffle, then the sliding "
     "union is a RANGE-frame window MAX over the dim-sized register "
     "grid — O(days x 64) window work regardless of user count."),
    ("doc_perplexity",
     "Bigram-LM perplexity filter: the lineage-cut bigram-type table "
     "feeds the LM statistics and the per-doc join; per-doc "
     "multiplicities collapse BEFORE the LM join (types, not "
     "instances cross the wire); all token-keyed and combinable."),
    ("cm_join_size",
     "Skew-aware join-size estimation: ONE lineage-cut key histogram "
     "per side feeds both the exact heavy top-k "
     "(TakeOrderedAndProject) and the signed AGMS tail sketch "
     "(anti-join vs the broadcast heavy set); the estimate "
     "combines from two dim-sized relations — the tables are "
     "never re-touched."),
]


def main() -> None:
    import __spark_entry__ as entry
    from llogtail_spark.session import get_spark

    spark = get_spark("dump_plans", cores=4, shuffle_partitions=8)
    qs = entry.queries()
    out = [
        "# PLANS — formatted physical plans of the headline shapes\n",
        "Auto-generated by `python tools/dump_plans.py` (sf0.001, AQE on —",
        "`AdaptiveSparkPlan isFinalPlan=false` shows the pre-execution plan).",
        "The property stated above each plan is enforced by",
        "`tests/test_plans.py` / `tests/test_joins.py`; this file exists so",
        "the plans can be read without running Spark.\n",
    ]
    for name, note in SHOWCASE:
        df = qs[name](spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        # keep the operator tree, drop the verbose per-node detail dump
        tree = plan.split("\n\n")[0]
        out.append(f"## {name}\n")
        out.append(f"**Pinned property:** {note}\n")
        out.append("```")
        out.append(tree.rstrip())
        out.append("```\n")
    # the flagship: the pipeline's ONE heavy pass (scan -> Arrow parse
    # -> broadcast enrich -> route-explode -> staged write) — must be
    # exchange-free end to end (tests/test_plans.py pins it)
    import shutil
    import tempfile

    from llogtail_spark.generate import write_fixture
    from llogtail_spark.operators.enrich import enrich_stage
    from llogtail_spark.operators.parse import parse_stage
    from llogtail_spark.operators.route import SinkRule, explode_routed
    from llogtail_spark.sources import reader

    tmp = tempfile.mkdtemp(prefix="dump_plans_")
    try:
        write_fixture(tmp, 300, seed=42, n_files=2)
        df = reader.with_partition_id(
            spark.read.parquet(os.path.join(tmp, "sequences"))
        )
        df = parse_stage(df)
        df = enrich_stage(df, spark.read.parquet(
            os.path.join(tmp, "lookup_sources.parquet")))
        from pyspark.sql import functions as F

        routed = explode_routed(df, [
            SinkRule("errors", "level_num >= 40", "/dev/null"),
            SinkRule("firehose", "true", "/dev/null"),
        ]).withColumn("row_hash", F.xxhash64("doc_id", "tok_hash"))
        plan = routed._sc._jvm.PythonSQLUtils.explainString(
            routed._jdf.queryExecution(), "formatted"
        ).split("\n\n")[0]
        out.append("## pipeline write path (the ONE heavy pass)\n")
        out.append(
            "**Pinned property:** scan -> zero-copy Arrow parse -> "
            "broadcast enrich -> route-explode is a SINGLE stage with "
            "zero (non-broadcast) exchanges; the partitioned staged "
            "write consumes it directly, so the whole 100 TB pass "
            "shuffles nothing.\n"
        )
        out.append("```")
        out.append(plan.rstrip())
        out.append("```\n")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
