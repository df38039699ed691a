"""The engine session's build-time settings.

Checked in a fresh interpreter: the suite's shared session comes from
conftest, not ``session.get_session``, and static confs apply only
when a session's JVM starts.
"""

from __future__ import annotations

import os
import subprocess
import sys


def test_codegen_cache_holds_a_query_mix_across_calls():
    """A mix of queries that compiles more classes than Spark's default
    codegen cache (100 entries) runs its second round without compiling
    anything: at the default size every round evicted and re-compiled
    the whole mix."""
    code = (
        "from pandas_reporter_spark import session\n"
        "spark = session.get_session('codegen-cache-test')\n"
        "cg = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics"
        ".METRIC_COMPILATION_TIME()\n"
        "def mix():\n"
        "    for i in range(60):\n"
        "        spark.range(4).selectExpr(f'id * {i} + {i} AS x').collect()\n"
        "mix()\n"
        "first = cg.getCount()\n"
        "mix()\n"
        "print(first, cg.getCount() - first)\n"
        "spark.stop()\n"
    )
    root = os.path.join(os.path.dirname(__file__), "..")
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, env=env, capture_output=True,
        text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr
    first, second = map(int, out.stdout.split())
    assert first > 100  # the mix overflows the default cache
    assert second == 0
