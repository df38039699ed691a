"""The engine session's build-time settings.

Checked in a fresh interpreter: the suite's shared session comes from
conftest, not ``session.get_session``, static confs apply only when a
session's JVM starts, and PySpark caches the call-site setting once per
process.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest


def _run_fresh(code: str, **env: str) -> str:
    """Run `code` in a new interpreter on a small engine session, with
    `env` added to the environment, and return its stdout."""
    root = os.path.join(os.path.dirname(__file__), "..")
    env = {
        **os.environ, "SPARK_GRAFT_CPUS": "2", "SPARK_GRAFT_DRIVER_MEM": "1g",
        **env,
    }
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, env=env, capture_output=True,
        text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr
    return out.stdout


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
    first, second = map(int, _run_fresh(code).split())
    assert first > 100  # the mix overflows the default cache
    assert second == 0


@pytest.mark.parametrize("first_column_on", ["main", "pool"])
def test_call_site_capture_is_off(first_column_on):
    """PySpark decides once per process, on the first Column operation,
    whether to capture call sites. The engine session pins it off, so
    the answer no longer depends on which thread builds that Column."""
    code = (
        "from concurrent.futures import ThreadPoolExecutor\n"
        "from pyspark.errors.utils import is_debugging_enabled\n"
        "from pyspark.sql import functions as F\n"
        "from pandas_reporter_spark import session\n"
        "spark = session.get_session('call-site-test')\n"
        f"if {first_column_on!r} == 'pool':\n"
        "    with ThreadPoolExecutor(1) as ex:\n"
        "        ex.submit(lambda: F.col('x') * 2).result()\n"
        "else:\n"
        "    F.col('x') * 2\n"
        "print(is_debugging_enabled())\n"
        "spark.stop()\n"
    )
    assert _run_fresh(code).split() == ["False"]


def test_column_operation_is_one_round_trip_each():
    """`F.col("x") * 2` costs 3 JVM calls for the name (two of them
    py4j's reflection lookups) and 1 for the product. With call-site
    capture on, the same expression cost 13 + 11."""
    code = (
        "from py4j.clientserver import ClientServerConnection\n"
        "from pyspark.sql import functions as F\n"
        "from pandas_reporter_spark import session\n"
        "spark = session.get_session('round-trip-test')\n"
        "F.col('y') * 3\n"
        "calls = []\n"
        "send = ClientServerConnection.send_command\n"
        "def counting(self, command):\n"
        "    calls.append(command)\n"
        "    return send(self, command)\n"
        "ClientServerConnection.send_command = counting\n"
        "c = F.col('x')\n"
        "n_col = len(calls)\n"
        "c * 2\n"
        "ClientServerConnection.send_command = send\n"
        "print(n_col, len(calls) - n_col)\n"
        "spark.stop()\n"
    )
    n_col, n_mul = map(int, _run_fresh(code).split())
    assert 0 < n_mul <= 2
    assert n_col + n_mul <= 4


def test_configure_warns_on_an_immutable_conf(spark, monkeypatch):
    """A conf the deployment will not let `configure` change is reported
    and skipped; any other error is raised."""
    from pyspark.errors import IllegalArgumentException

    from pandas_reporter_spark import session

    # static: Spark refuses to change it on a running session
    monkeypatch.setitem(
        session._STATIC_CONFS, "spark.sql.codegen.cache.maxEntries", "2000"
    )
    with pytest.warns(UserWarning, match="could not set spark.sql.codegen"):
        session.configure(spark)
    # the first conf `configure` sets, so nothing is half applied
    monkeypatch.setitem(session._STATIC_CONFS, "spark.sql.ansi.enabled", "maybe")
    with pytest.raises(IllegalArgumentException):
        session.configure(spark)


def test_work_partitions_falls_back_on_a_stopped_context():
    """Stopped from the JVM side or from Python, the context raises
    different errors; both fall back to the configured CPU count."""
    code = (
        "import os\n"
        "from pandas_reporter_spark import session\n"
        "spark = session.get_session('stopped-context-test')\n"
        "live = session.work_partitions(spark, 1)\n"
        "os.environ['SPARK_GRAFT_CPUS'] = '3'  # the fallback's answer\n"
        "spark.sparkContext._jsc.sc().stop()\n"
        "jvm_stopped = session.work_partitions(spark, 1)\n"
        "spark.stop()\n"
        "print(live, jvm_stopped, session.work_partitions(spark, 1))\n"
    )
    assert _run_fresh(code).split() == ["2", "3", "3"]


def test_session_key_falls_back_on_a_stopped_context():
    """Stopped from Python, the context has no `_jsc`: the key falls
    back to a dead-session key. Stopped only on the JVM side, it keeps
    its own never-reused id."""
    code = (
        "from pandas_reporter_spark import artifacts, session\n"
        "spark = session.get_session('session-key-test')\n"
        "live = artifacts._session_key(spark)\n"
        "spark.sparkContext._jsc.sc().stop()\n"
        "jvm_stopped = artifacts._session_key(spark)\n"
        "spark.stop()\n"
        "py_stopped = artifacts._session_key(spark)\n"
        "print(jvm_stopped == live, py_stopped == f'dead-{id(spark)}')\n"
    )
    assert _run_fresh(code).split() == ["True", "True"]


def test_session_key_propagates_other_errors():
    """Only what a stopped context raises falls back; a bug surfaces."""
    from pandas_reporter_spark.artifacts import _session_key

    class Broken:
        @property
        def sparkContext(self):
            raise RuntimeError("not a stopped context")

    with pytest.raises(RuntimeError):
        _session_key(Broken())


def test_driver_heap_default_follows_physical_memory():
    """Half the host's memory in whole GiB, between 1g and 48g; the
    default reads the host."""
    from pandas_reporter_spark.session import _driver_mem_default

    gib = 2**30
    assert _driver_mem_default(15 * gib) == "7g"
    assert _driver_mem_default(96 * gib) == "48g"
    assert _driver_mem_default(512 * gib) == "48g"
    assert _driver_mem_default(gib) == "1g"
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert _driver_mem_default() == _driver_mem_default(host)
