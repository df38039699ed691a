"""SparkSession factory + runtime configuration.

Engine posture (SURVEY §4.3-4.4):
- ANSI off: double/0 -> NULL (matches the DuckDB oracle; the pandas
  reference produces `inf` — documented divergence).
- AQE on (runtime re-plan, skew-join handling, partition coalescing).
- UTC session timezone (oracle timestamps are tz-naive UTC).
- Arrow for any pandas interchange (vectorized Pandas UDF path).
- TIMESTAMP(NANOS) parquet read as long (events.ts; `tables.load`
  normalizes it).
- Shuffle partitions sized to cores, not the 200 default: correct for
  local[N]; on a real cluster this is set per-deploy (AQE coalesces
  down when partitions run small, so erring high is safe at scale).
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession

# Runtime-settable SQL configs, applied both at build time and to
# driver-provided sessions (the verify driver builds its own session;
# `configure` is called at the top of every registered query).
def _aqe_default() -> str:
    """AQE posture, env-overridable (SPARK_GRAFT_AQE=false to disable).

    Default ON — runtime skew-split/coalesce/re-plan is the 100 TB
    posture, what every test pins, and what bench.py and perfbench
    time. bench.py opted out at sf0.1 in rounds 8-15 (per-stage
    re-plan round-trips measured as overhead on that era's plans);
    an interleaved 115-query re-A/B on the r16 code measured AQE on
    4.7 s faster in total, and the opt-out was dropped. The env switch
    stays for A/Bs; the engine's plans are identical either way
    (broadcast thresholds and partition sizing do not depend on AQE).
    """
    raw = os.environ.get("SPARK_GRAFT_AQE", "true")
    # normalize: Spark's conf parser accepts only true/false, so
    # plausible env spellings ("0", "off", "NO") must not reach it
    # verbatim — at build time that fails the whole session construct.
    return "false" if raw.strip().lower() in {"0", "false", "no", "off"} else "true"


_STATIC_CONFS = {
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet's ts is TIMESTAMP(NANOS), which the parquet reader
    # rejects without this (`tables.load`); set with the posture, so the
    # side-by-side relayout builds read events without changing a conf
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def _runtime_confs() -> dict[str, str]:
    """Read the env-dependent confs at call time, not import time, so a
    harness that sets SPARK_GRAFT_AQE after import still takes effect."""
    return {**_STATIC_CONFS, "spark.sql.adaptive.enabled": _aqe_default()}


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def configure(spark: SparkSession) -> SparkSession:
    """Apply engine runtime confs to an existing session (idempotent).

    Safe to call per-query: `spark.conf.set` on an unchanged value is a
    no-op driver-side and never touches executors.
    """
    import warnings

    for k, v in _runtime_confs().items():
        try:
            spark.conf.set(k, v)
        except AnalysisException as e:  # immutable in this deployment — say so
            warnings.warn(f"could not set {k}={v}: {e}")
    try:
        shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (ValueError, TypeError) as e:
        # some managed runtimes set non-numeric values (e.g. 'auto');
        # leave their tuning alone rather than failing every query
        warnings.warn(f"non-numeric spark.sql.shuffle.partitions: {e}")
        shuffle_parts = None
    if shuffle_parts is not None and shuffle_parts > 4 * _cpus():
        spark.conf.set("spark.sql.shuffle.partitions", str(_cpus()))
    return spark


def work_partitions(spark: SparkSession, floor: int = 8) -> int:
    """Partition count for operator-internal artifacts and iterative
    micro-joins: ``max(floor, defaultParallelism)``.

    Rounds 4-8 hardcoded 8/16 at these sites because at bench SFs the
    artifacts are tiny and fewer partitions means fewer empty-task
    rounds per iteration (measured). But a literal ``repartition(8)``
    is a scale bug: on a 1000-executor cluster it serializes the write
    into 8 tasks. ``defaultParallelism`` is the cluster's actual slot
    count (local[N] -> N, cluster -> total executor cores), so the
    floor preserves the local-measured minimum while the cluster term
    scales the same code path to deployment size. (VERDICT r8 item 6.)
    """
    try:
        dp = int(spark.sparkContext.defaultParallelism)
    except (AttributeError, Py4JJavaError):  # context stopped (Python / JVM side)
        dp = _cpus()
    return max(floor, dp)


def scaled_partitions(
    n_rows: int, rows_per_part: int = 100_000, floor: int = 8
) -> int:
    """Partition count for a MATERIALIZED artifact of known row count:
    ``max(floor, ceil(n_rows / rows_per_part))`` — size-driven, not
    slot-driven.

    `work_partitions` answers "how wide should this computation run";
    for a small persisted relation the file count should track DATA
    SIZE instead: writing a 16k-row signature artifact as
    defaultParallelism files costs ~0.25 s of per-task/per-file
    overhead on every downstream read at bench scale (measured,
    q_similarity_join sf0.1 1.10 → 1.35 s), while at corpus scale the
    same rule grows the file count linearly with rows and keeps
    individual files scan-sized. (Round-10 follow-up to the r8 item-6
    partition-constant lift.)
    """
    import math

    return max(floor, math.ceil(max(n_rows, 1) / rows_per_part))


def _driver_mem_default(phys_bytes: int | None = None) -> str:
    """The driver heap `get_session` asks for unless
    SPARK_GRAFT_DRIVER_MEM says otherwise: half the host's physical
    memory (`phys_bytes`, read from the OS when None) in whole GiB,
    at least 1g and at most 48g.

    local[N] is ONE JVM doing driver + all executor work: 32 concurrent
    tasks' shuffle/broadcast/codegen state in a 16g heap caused
    measurable GC drag on a long query sequence (bench headline 45.9s
    at 16g -> 39.8s at 48g on a 32-core host, with the heavy tail —
    fuzzy dedup, LSH joins — improving up to 2x). A fixed 48g ignores
    the host, though: on a 15 GB VM one sf0.01 bench JVM grew to ~11 GB
    RSS, and a second Spark process on the host lost its JVM. Half
    leaves the other half to the JVM's off-heap memory, the Python
    workers and the tmpfs artifacts. On a real cluster the equivalent
    knobs are executor memory and spark.memory.fraction, set
    per-deploy."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48, max(1, phys_bytes // 2**31))}g"


def get_session(app_name: str = "pandas_reporter_spark") -> SparkSession:
    """Build (or fetch) the engine's local session.

    local[N] for tests/bench; a cluster deployment passes its own
    master/conf and relies on `configure` only.
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _driver_mem_default(),
        )
        .config("spark.ui.enabled", "false")
        # 16 MiB, not the 64 MiB of rounds 2-6: the sf1 scale run
        # (tools/scale_bench.py, round 7) caught the generous setting
        # broadcasting a FILTERED FACT TABLE — at sf1 the shipdate
        # slice of lineitem (~3M rows, file-size estimate just under
        # 64 MiB) became the build side of TPC-H Q3/Q5/Q18, a
        # 3.8s/3.4s/3.6s disaster that would be fatal at cluster
        # scale (driver OOM, not just latency). 16 MiB keeps every
        # genuine dimension broadcast at bench SFs (all dims ≤ 11 MiB
        # at sf0.1 — plans there are byte-identical) while fact slices
        # fall back to co-partitioned shuffle joins: Q3 1.07s, Q5
        # 1.41s, Q18 1.52s at sf1. Snappy parquet also decompresses
        # ~3-5×, so 16 MiB on disk is already a ~50-80 MiB hash
        # relation per executor.
        .config("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
        # Spark keeps 100 compiled codegen classes by default; one pass
        # of perfbench's 7 llm_curation queries compiles ~170, so every
        # repeated pass evicted and re-compiled them (135-188 Janino
        # compiles and ~300 freshly loaded classes per pass, which the
        # JIT then compiled again), work whose cost rose and fell with
        # the host's speed. At 2000 a repeated pass compiles 0-2
        # classes. perfbench on a 4-vCPU VM against the 100-entry
        # default, runs alternated: llm_curation queries_per_s
        # 1.47 -> 2.03 (10 and 9 runs), census_moe 2.27 -> 2.63 and
        # CPU per query 1.20 -> 0.97 s (10 pairs). Static: a session
        # built elsewhere keeps its own value.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # PySpark's call-site capture adds ~10 py4j round trips to every
        # Column operation (11-13 per F.col / * / cast / alias) to record
        # a Python file:line that only ANSI runtime errors report, and
        # the engine runs with ANSI off. With it on, a census_moe pass
        # spent 2.0-2.2 s building plans against 2.8-2.9 s running them
        # (perfbench traced, 4-vCPU VM); pinned off with the one-
        # expression replicate MOE, 0.7-0.8 s, and queries_per_s went
        # 2.64 -> 3.46 (10 pairs). PySpark reads the setting once per
        # process, on the first Column operation, and reads false on a
        # thread with no active session, so unpinned it depended on call
        # order (true after `relayout`, false after `ingest`). Static:
        # only the builder can set it; `configure` cannot.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in _runtime_confs().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure(spark)
