"""SparkSession factory.

`get_spark` sets only what the package relies on: the Arrow UDF batch
bound, dynamic partition overwrite and the v1 committer (idempotent,
non-duplicating per-partition commits), string partition values, the
bound on concurrent dynamic-partition writers, UTC, a codegen cache
that holds the pipelines' generated classes, and a fixed pre-touched
heap. Everything else, AQE, the runtime bloom filter, the parquet codec
and scan split sizing (min(128 MB, bytes per core)) among it, is
Spark's default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries of the JVM-wide LRU cache of compiled whole-stage classes
# (spark.sql.codegen.cache.maxEntries, a static conf; Spark's default
# is 100). One corpus_funnel run needs about 153 distinct classes and
# one bulk_fresh run 29, so at 100 every corpus run recompiled 137-139
# of them with Janino (9.6% of the JVM's samples in a JFR profile of
# one run). At 1000 no timed run of either workload compiles a class.
# Generated bytecode averages about 2.3 KB per class: the metaspace
# after set-up and 2 corpus runs was 164 MB, against 166 MB at 100.
CODEGEN_CACHE_ENTRIES = 1000


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
        # runtimeFilter.semiJoinReduction hung the test suite when on;
        # Spark 4.0 removed it (setting it is an error), so it stays off.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the parse UDF's batch bound (the analog of the 4 MB
        # BlockingBuffer fetch, buffer.go:31-36): a Python worker's peak
        # memory grows with it, so a cluster default must not raise it
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
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
        # a dynamic-partition write task keeps up to 8 (sink, part)
        # writers open at once; when a 9th key arrives it sorts the
        # task's remaining rows by key instead. Each of bulk_fresh's 4
        # write tasks reads 8 parts, so it meets up to 24 keys and sorts
        # the rest of its rows (UnsafeExternalRowSorter.sort under
        # DynamicPartitionDataConcurrentWriter in JFR). Sorting every
        # row by key before the write (the planned-write sort) was
        # measured and rejected.
        .config("spark.sql.maxConcurrentOutputFileWriters", "8")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.session.timeZone", "UTC")
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
