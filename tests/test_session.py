"""get_spark: heap sizing (in a subprocess: the heap is fixed when the
JVM starts, so it cannot be checked on the shared test session), and the
shared session's scan splits and defaults."""

import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

from llogtail_spark.sources import reader

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_driver_memory_override_sizes_whole_heap():
    """spark.driver.memory in extra_conf sets -Xmx; -Xms must follow
    it, not $SPARK_DRIVER_MEM, or the JVM refuses to start ("Initial
    heap size set to a larger value than the maximum heap size")."""
    code = (
        "from llogtail_spark.session import get_spark\n"
        "s = get_spark('heap', cores=1, "
        "extra_conf={'spark.driver.memory': '1g'})\n"
        "assert s.range(1).count() == 1\n"
        "s.stop()\n"
    )
    env = {**os.environ, "SPARK_DRIVER_MEM": "8g"}
    r = subprocess.run([sys.executable, "-c", code], cwd=ROOT, env=env,
                       capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]


def test_a_scan_of_tiny_parts_plans_one_split_per_core(spark, tmp_path, jobs_in):
    """Spark's own split rule, min(128 MB, bytes per core) counting each
    part's 4 MB open cost, packs 12 x cores tiny parts into exactly one
    split per core (a 32 MB split override planned 12 x cores / 8, one
    and a half waves). Planning reads only file lengths: no job."""
    cores = spark.sparkContext.defaultParallelism
    table = pa.table({"x": list(range(10))})
    files = [str(tmp_path / f"p{i:03d}.parquet") for i in range(12 * cores)]
    for f in files:
        pq.write_table(table, f)
    df = reader.read_files(spark, files)
    with jobs_in(f"splits-{tmp_path}") as jobs:
        n = df.rdd.getNumPartitions()
    assert (n, jobs) == (cores, [0])


def test_the_session_keeps_sparks_defaults(spark):
    """AQE with coalescing and skew joins, the runtime bloom filter and
    snappy parquet come from Spark's defaults, which get_spark leaves
    alone."""
    conf = spark.conf
    for key in ("spark.sql.adaptive.enabled",
                "spark.sql.adaptive.coalescePartitions.enabled",
                "spark.sql.adaptive.skewJoin.enabled",
                "spark.sql.optimizer.runtime.bloomFilter.enabled"):
        assert conf.get(key) == "true", key
    assert conf.get("spark.sql.parquet.compression.codec") == "snappy"
