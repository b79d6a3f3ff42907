"""SparkSession factory with scale-oriented defaults.

Local mode here is a stand-in for a multi-executor cluster: every
config below is chosen to survive a 1000-executor / 100 TB scale-up
(AQE on, skew-join handling on, Arrow batching sized, dynamic
partition overwrite for idempotent per-partition commits).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "llogtail_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: parallelism for local mode; defaults to $SPARK_GRAFT_CPUS or '*'.
    shuffle_partitions: defaults to max(2*cores, 32) — at cluster scale
      this would be set to ~2-3x total executor cores instead.
    extra_conf: Spark settings applied last; its spark.driver.memory,
      else $SPARK_DRIVER_MEM (default 8g), sizes the fixed heap.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * n, 32)
    extra_conf = extra_conf or {}
    # one value sizes the whole fixed heap (-Xms below and the -Xmx
    # that spark.driver.memory sets): an -Xms above -Xmx kills the JVM
    # at start
    mem = extra_conf.get("spark.driver.memory") or os.environ.get(
        "SPARK_DRIVER_MEM", "8g")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(n))
        # AQE: runtime coalescing of small shuffle partitions + skew-join
        # splitting — the batch analog of llogtail's event-storm debounce
        # (log_watcher.go:17, 272-281): graceful degradation under skew.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Catalyst's runtime bloom filter: prune the big side of a
        # shuffle join by the filtered build side's keys before the
        # shuffle — the engine-native form of
        # operators/joins.bloom_prune_probe, off by default upstream.
        # Thresholds rarely trigger at test scale; at 10^12 rows this
        # is the difference between shuffling the fact table and
        # shuffling the ~matching rows. NOTE: the companion
        # runtimeFilter.semiJoinReduction rewrite is deliberately NOT
        # enabled — with it on, the pipeline test suite hangs (>9x
        # its 1-minute runtime before the harness killed it; the
        # injected in-subquery duplicates heavy subtrees under the
        # dynamic-partition write). Bloom-only measured neutral.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Arrow batches are the analog of the 4 MB BlockingBuffer fetch
        # (buffer.go:31-36): bounded vectorized hand-off to pandas UDFs.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Split sizing: default 128 MB packing coalesced 64 ~28 MB
        # input files into ~16 splits, capping a local[32] scan stage
        # at 16 tasks. 32 MB keeps scan parallelism >= cores on these
        # inputs while staying a sane row-group multiple at cluster
        # scale (Iceberg split planning would govern there).
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        # Idempotent per-partition overwrite: re-shipping a partition on
        # resume replaces rather than duplicates (upgrades llogtail's
        # at-least-once push-then-checkpoint to effectively-once).
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # v1 committer: v2's task-side commit is non-atomic — a task
        # retried after a partial commit can leave duplicate files that
        # ship and self-consistently checksum. v1's job-commit rename
        # walk is metadata-only, and the pipeline's staged-rename ship
        # already avoids serial driver I/O at the final destination;
        # measured cost of v1 vs v2 on the bench pipeline: <2%.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "1")
        # partition values in staged paths are OUR string keys (sink
        # name, input-file basename); inference would read a numeric
        # basename back as int/date and break manifest stat lookups.
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        # dynamic-partition writes otherwise SORT each task's rows by
        # partition key before writing; with <=8 open writers per task
        # (3 sinks x couple parts) concurrent writers skip the sort.
        .config("spark.sql.maxConcurrentOutputFileWriters", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", mem)
        # Fixed-size, pre-touched ParallelGC heap. Measured on this
        # host: G1's commit/uncommit cycling caused a minor-page-fault
        # storm (java stime ~5 cores, 60-90% system CPU, 3x run-to-run
        # variance); Xms=Xmx + AlwaysPreTouch + ParallelGC cut the
        # vectorized-parse pass from 10-28s to a stable ~1.4-2s at
        # local[32]. On a real cluster apply the same trio to
        # spark.executor.extraJavaOptions.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{mem} -XX:+UseParallelGC -XX:+AlwaysPreTouch",
        )
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
