"""get_spark heap sizing (runs in a subprocess: the heap is fixed when
the JVM starts, so it cannot be checked on the shared test session)."""

import os
import subprocess
import sys

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
