"""The one way an operator pins an intermediate that several consumers
read: cut its lineage with `checkpoint(df)` below. The operator library
has no `persist()` and no module-level cache registry.

Users:
- iterative operators, so each round re-reads a materialized table
  instead of re-deriving the whole upstream subtree: pagerank,
  triangle_counts and bfs_levels (indexing.py), resolve_components
  (dedup.py), global_ordinals and pareto_front (layout.py);
- relations read by two or more branches of one plan: fuzzy_join's
  prefix relation (dedup.py); kn_bigram_lm's and doc_perplexity's
  bigram tables, source_kl_matrix's dense grid, dup_token_spans'
  occurrences and dsir_weights' features (corpus.py); kmv_set_ops'
  sketch table and cm_join_size's key histograms (sketches.py);
- the corpus funnel's stage outputs (corpus_pipeline.corpus_stages
  and corpus_funnel_counts).

A cut keeps AQE's coalesced partition layout, which a cached plan
freezes at spark.sql.shuffle.partitions (see resolve_components).

By default the cut is `localCheckpoint()`: blocks on the executors,
fast and zero config, but an executor loss mid-query kills the
lineage — fine on local[N], wrong at 1000-executor scale. The knob is
Spark's own: call `sc.setCheckpointDir(path)` (any HDFS/S3/posix path
all executors can reach) and every cut above becomes a reliable
`DataFrame.checkpoint`, which survives executor loss. Reference
anchor: llogtail persists its offset checkpoints to durable storage
for exactly this reason (checkpoint.go:34-58).

Lifetime: a cut belongs to the DataFrame it returns and to every frame
built on it. Nothing registers it with the session (Spark's
CacheManager never sees it, so no later query is matched against it),
and nothing needs releasing. Once those frames are garbage-collected,
Spark's ContextCleaner frees a local cut's blocks; a reliable cut's
files are deleted too only when the session sets
spark.cleaner.referenceTracking.cleanCheckpoints=true.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def checkpoint_is_reliable(df: DataFrame) -> bool:
    """True iff the session has a reliable checkpoint dir configured
    (``sc.setCheckpointDir``)."""
    return df.sparkSession.sparkContext.getCheckpointDir() is not None


def checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """Cut lineage: reliable ``checkpoint()`` when the session has a
    checkpoint dir configured, else ``localCheckpoint()``. `eager`
    passes through — most users take a lazy cut, so the first action
    on the result materializes it and no extra driver job is
    scheduled."""
    if checkpoint_is_reliable(df):
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
