"""Event-time windowing + Structured Streaming operators (SURVEY §2.3).

Batch windowing over `events` (10k rows, µs timestamps via tables.load's
nanos handling) expressed with `F.window` / `F.session_window`, oracled
against gaps-and-islands / bucket SQL in DuckDB.

Streaming ops run REAL Structured Streaming inside the query callable:
`readStream` over the same parquet, `trigger(availableNow=True)` into an
in-memory sink, then return the sink table — so watermarks,
`dropDuplicatesWithinWatermark`, and `applyInPandasWithState` execute
the genuine streaming code path while still yielding a batch DataFrame
for the driver's comparator. On a cluster the same plans run unbounded
(kafka/file source, checkpointed sink); nothing here is local-mode-only.

Value sums go through exact integer-cents longs (tables.dsum pattern) so hashes are
partition-count independent.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager as _contextmanager

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from pandas_reporter_spark import artifacts
from pandas_reporter_spark.registry import query
from pandas_reporter_spark.session import configure
from pandas_reporter_spark.tables import dsum, load, normalize_ts, oracle_dsum


@query(
    "q_events_tumbling",
    oracle="""
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS win_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
             AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_events_tumbling(spark, sf):
    """Per-10-minute tumbling counts/sums by event_type.

    `F.window` is a projection (bucket = floor(ts/10min)) + groupBy —
    one shuffle on (bucket, type), partials combine map-side. The same
    expression under readStream is the streaming aggregation; batch and
    stream share this logical plan.
    """
    configure(spark)
    e = load(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query(
    "q_events_sliding",
    oracle="""
    SELECT win_start, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
             AS sum_value
    FROM (
      SELECT time_bucket(INTERVAL '5 minutes', ts) - k * INTERVAL '5 minutes'
               AS win_start,
             event_type, value
      FROM events, unnest([0, 1]) AS u(k)
    )
    GROUP BY 1, 2
    """,
)
def q_events_sliding(spark, sf):
    """10-minute windows sliding every 5 — each event lands in 2 buckets.

    Spark materializes the window replication inside the `window()`
    expression (generator, no join); shuffle volume is 2× the tumbling
    case, which is the honest cost of overlap at any scale.
    """
    configure(spark)
    e = load(spark, sf, "events")
    return (
        e.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"), dsum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query(
    "q_events_session",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       <= INTERVAL '30 minutes'
                  THEN 0 ELSE 1 END AS new_sess
      FROM events
    ), numbered AS (
      SELECT user_id, ts, value,
             SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING
             ) AS sess_id
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n,
           CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
             AS sum_value
    FROM numbered GROUP BY user_id, sess_id
    """,
)
def q_events_session(spark, sf):
    """30-minute-gap session windows per user.

    `F.session_window` merges adjacent events server-side during the
    aggregation — one shuffle on user_id, then an ordered merge within
    each partition (Spark's native session operator; the gaps-and-
    islands SQL in the oracle is the relational unrolling of the same
    semantics). Session end = last event + gap, matching Spark's
    definition.
    """
    configure(spark)
    e = load(spark, sf, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"), dsum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# Structured Streaming: run the real streaming engine to a memory sink.
# ---------------------------------------------------------------------------


#: raw (pre-normalization) events schema per (session, sf) — see
#: _read_events_stream
_RAW_SCHEMA_CACHE: dict = {}

#: recentProgress of the LAST completed streaming run (list of parsed
#: progress dicts) — introspection for the scale grid and the
#: state-bound pins: stateOperators[].numRowsTotal / memoryUsedBytes
#: and durationMs.addBatch per micro-batch. Overwritten per run.
LAST_PROGRESS: list = []


def _capture_progress(q) -> None:
    import json as _json

    global LAST_PROGRESS
    out = []
    try:  # PySpark returns dicts (<=3.x) or StreamingQueryProgress (4.x)
        for p in q.recentProgress:
            if isinstance(p, dict):
                out.append(p)
            elif isinstance(p, str):
                out.append(_json.loads(p))
            else:
                out.append(_json.loads(p.json))
    except Exception:  # progress is diagnostics, never a failure path
        out = []
    LAST_PROGRESS = out


@_contextmanager
def _bounded_state_parts(spark, n: int = 2):
    """Cap the STATE partition count for a streaming run (fixed at
    stream start from spark.sql.shuffle.partitions).

    Each state partition costs a state-store instance + (on Python
    paths) a state-channel worker, so running 32 of them for a few
    thousand keys oversubscribes the box — measured 2-5× wall-clock
    noise under concurrent JVM load. 4 partitions (A/B-measured best
    of {4, 8} at sf0.1: stream-stream join −0.4 s, file sink −0.2 s,
    enrich −0.25 s) still spread the
    driver data's keys evenly (r6 re-A/B over {4, 2, 1}: 2 is best
    for the join/enrich/sink states — stream-stream −0.26 s, enrich
    −0.17 s, file sink −0.10 s — while the stateful Python path runs
    WIDER: its per-key Python upd() calls are the parallel resource,
    and the r8 A/B over {2, 4, 8, 16} measured 16 best, 2.0 s → 1.37 s
    steady-state; 1 partition serializes stateful 1.7 s → 2.9 s). A
    real deployment sizes this to
    keys×state-bytes / executor, not core count. Batch shuffles keep
    the session's own setting (restored on exit; the conf is only read
    at stream start, so the restore cannot affect the running query).
    """
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(min(n, int(prev))))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _run_stream(spark, stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Execute a streaming plan to completion on available data.

    availableNow + memory sink: the streaming engine runs its genuine
    micro-batch path (state store, watermark tracking) over the finite
    input, then we hand the sink's contents back as a batch frame. On a
    cluster this same writeStream targets kafka/delta with a DURABLE
    checkpoint dir instead.

    The checkpoint for these finite memory-sink runs is throwaway (the
    sink itself is in-memory; nothing resumes from it), so it goes to
    tmpfs when available — the offset/commit WAL fsyncs are ~0.4s of
    the ~2s streaming-query startup floor on disk-backed /tmp
    (measured sf0.1, min-of-3). A real deployment passes a durable
    checkpointLocation and keeps it.
    """
    import os
    import shutil

    name = "s" + uuid.uuid4().hex[:12]
    w = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    ckpt = None
    if os.path.isdir("/dev/shm"):
        ckpt = f"/dev/shm/prs_ckpt_{name}"
        w = w.option("checkpointLocation", ckpt)
    # Skip the trailing no-data micro-batch (~0.3-1.0s each at bench
    # scale; q_stream_stream_join 2.5s → 1.5s). That batch exists to
    # advance the watermark so APPEND-mode AGGREGATES emit finalized
    # windows and event-time timeouts fire — none of which the
    # _run_stream callers need: complete mode re-emits full state in
    # the data batch, the update-mode stateful op uses NoTimeout, and
    # the one append caller is an inner stream-stream join that emits
    # on match (the finalize batch would only evict state). A query
    # that DOES need finalization (q_stream_file_sink's append-mode
    # windowed agg) runs its own writeStream with the default on.
    prev_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try:
        q = w.start()
        q.awaitTermination()
        _capture_progress(q)
    finally:
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_nodata
        )
        if ckpt is not None:
            shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


def _read_events_stream(spark, sf: str) -> DataFrame:
    """readStream over the events parquet, ts normalized to TIMESTAMP.

    Shares `tables.normalize_ts` with the batch loader so the two paths
    can't drift: whatever physical ts type the driver snapshot writes
    (ns-INT64, µs-NTZ, µs-LTZ), the stream surfaces event-time as LTZ —
    `withWatermark` rejects anything else.
    """
    import os

    from pandas_reporter_spark import tables
    from pandas_reporter_spark.tables import _session_key

    batch = load(spark, sf, "events")  # sets nanosAsLong conf
    # Prefer the multi-file relayout copy when the session built one:
    # the driver snapshot is ONE row group, so a stream sourced from it
    # runs its entire map side (scan → filter/join → shuffle write) as
    # a SINGLE task per micro-batch — the dominant term of the
    # streaming bench floor (addBatch 599 ms of a 1.24 s enrich run,
    # measured sf0.1). A real landing dir is many files by
    # construction; the relayout copy reproduces that shape.
    lay = tables._RELAYOUT_DIRS.get(sf)
    if lay is not None:
        dst = os.path.join(lay, "events")
        if os.path.exists(os.path.join(dst, "_SUCCESS")):
            key = (_session_key(spark), dst)
            schema = _RAW_SCHEMA_CACHE.get(key)
            if schema is None:
                schema = spark.read.parquet(dst).schema
                _RAW_SCHEMA_CACHE[key] = schema
            s = (
                spark.readStream.schema(schema)
                .option("pathGlobFilter", "*.parquet")  # skip _SUCCESS
                .parquet(dst)
            )
            # ts already normalized by relayout; normalize_ts is a
            # no-op on a proper timestamp, kept for uniformity
            return normalize_ts(s).select(*batch.columns)
    key = (_session_key(spark), sf)
    raw_schema = _RAW_SCHEMA_CACHE.get(key)
    if raw_schema is None:
        # footer-only read; memoized like tables._LOAD_CACHE (the file
        # is immutable for a session, and every streaming query paid
        # this listing+inference again)
        raw_schema = spark.read.parquet(f"{sf}/events.parquet").schema
        _RAW_SCHEMA_CACHE[key] = raw_schema
    # The file stream source monitors a DIRECTORY (on a cluster: the
    # landing dir new files drop into). Two physical layouts exist:
    # the driver snapshot is a single FILE at {sf}/events.parquet
    # (monitor {sf}, glob to that one name), while writer-produced
    # tables — the make_sfn synthetic trees, any real ingest — are a
    # DIRECTORY of part files (monitor the directory itself, glob
    # *.parquet to skip _SUCCESS). Globbing the file name against a
    # directory layout matches ZERO part files and silently streamed
    # nothing — caught by the sf1 oracle sweep (round 8).
    src = os.path.join(sf, "events.parquet")
    if os.path.isdir(src):
        s = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(src)
        )
    else:
        s = (
            spark.readStream.schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf)
        )
    return normalize_ts(s).select(*batch.columns)


@query(
    "q_events_late",
    oracle="""
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS win_start,
           COUNT(*) AS n
    FROM events GROUP BY 1
    """,
)
def q_events_late(spark, sf):
    """Watermarked tumbling counts — the late-data policy, actually run.

    `withWatermark('ts', '10 minutes')` bounds state: the engine
    finalizes windows older than max(ts)−10min and drops later-arriving
    rows for them. Over this finite input nothing is late (single
    micro-batch), so the oracle is the plain bucket count — the point
    verified here is that the watermarked streaming plan computes the
    same answer through the state store. Complete mode keeps all
    windows visible in the memory sink.
    """
    configure(spark)
    s = _read_events_stream(spark, sf)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("win_start"), "n")
    )
    with _bounded_state_parts(spark):
        return _run_stream(spark, agg, "complete")


@query(
    "q_events_stream_dedup",
    oracle="""
    SELECT event_type, COUNT(*) AS n FROM (
      SELECT DISTINCT ON (event_id) event_id, event_type FROM events
    ) GROUP BY event_type
    """,
)
def q_events_stream_dedup(spark, sf):
    """Streaming dedup by event_id within a 30-minute watermark.

    `dropDuplicatesWithinWatermark` keeps per-key state only until the
    watermark passes — bounded memory on an unbounded stream (plain
    dropDuplicates on a stream grows state forever). event_id is unique
    in the data, so the deduped count per type equals the distinct
    count — which is what the oracle pins.
    """
    configure(spark)
    s = _read_events_stream(spark, sf)
    deduped = s.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = deduped.groupBy("event_type").agg(F.count("*").alias("n"))
    with _bounded_state_parts(spark):
        return _run_stream(spark, agg, "complete")


@query(
    "q_events_stateful",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           round(CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0, 6)
             AS total_value
    FROM events GROUP BY user_id
    """,
)
def q_events_stateful(spark, sf):
    """Custom stateful per-key processing via applyInPandasWithState.

    Running per-user (count, sum) held in GroupState across
    micro-batches, emitted on timeout/end — the escape hatch for
    aggregations Spark's built-ins can't express (custom eviction,
    ML-ish accumulators). State is per-key and partitioned by the
    grouping key, so it scales horizontally; the Arrow-batched pandas
    path keeps the Python cost amortized. Sum accumulates in integer
    cents to stay order-independent (float sums depend on batch order).

    A stateless mapInPandas COMBINER pre-aggregates each Arrow batch to
    per-key partials (vectorized pandas groupby) before the per-key
    state loop — the classic map-side combine: the keyed shuffle and
    the Python state channel then carry #batches×#keys partial rows
    instead of every event, which is what keeps this viable when a key
    has millions of events. The state merge is associative (count/sum
    of exact integer cents), so partial order never changes the answer.

    Measured floor (sf0.1, local[32], min-of-3): ~2s of the wall time
    is streaming-query startup (state stores + offset/commit WAL +
    Python state workers), not data — see SCALING.md. Spark 4.1's
    transformWithStateInPandas was tried as a replacement and its
    driver worker crashes in this deployment (STREAM_FAILED
    "TransformWithStateInPySpark driver worker exited unexpectedly"),
    so the GroupState API stays.
    """
    import numpy as np  # noqa: PLC0415 — worker-side import
    import pandas as pd  # noqa: PLC0415 — worker-side import
    from pyspark.sql.streaming.state import GroupStateTimeout

    configure(spark)
    prev_arrow = spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"
    )
    # fewer, larger Arrow batches through the Python state channel
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
    s = _read_events_stream(spark, sf)

    def partial(batches):
        # map-side combine, one vectorized groupby per Arrow batch.
        # per-ROW floor(x*100 + 0.5) to cents (matches the oracle's
        # quantizer exactly), THEN the exact int sum.
        for pdf in batches:
            cents = np.floor(pdf["value"].to_numpy() * 100.0 + 0.5).astype("int64")
            yield (
                pd.DataFrame(
                    {"user_id": pdf["user_id"], "n": 1, "cents": cents}
                )
                .groupby("user_id", as_index=False)
                .sum()
            )

    s = s.select("user_id", "value").mapInPandas(
        partial, "user_id long, n long, cents long"
    )

    # per-key emit frames come off a prototype .copy() + .iat writes:
    # the state channel calls upd once per KEY, and column-dict
    # DataFrame construction is ~3× the cost of mutating a copied
    # 1-row frame (measured 205 ms vs 117 ms per 1500 keys) — at
    # bench scale the per-key Python overhead IS this operator's cost
    proto = pd.DataFrame(
        {"user_id": [0], "n_events": [0], "total_value": [0.0]}
    )

    def upd(key, pdfs, state):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += int(pdf["n"].sum())
            cents += int(pdf["cents"].sum())
        state.update((n, cents))
        out = proto.copy()
        out.iat[0, 0] = key[0]
        out.iat[0, 1] = n
        out.iat[0, 2] = round(cents / 100.0, 6)
        yield out

    out = s.groupBy("user_id").applyInPandasWithState(
        upd,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, cents long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    try:
        with _bounded_state_parts(spark, 16):
            res = _run_stream(spark, out, "update")
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", prev_arrow
        )
    # update mode may emit a row per micro-batch per key; keep the last
    # (= final totals) deterministically via max n_events.
    return (
        res.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("total_value", "n_events").alias("total_value"),
        )
    )

@query(
    "q_events_stream_session",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       <= INTERVAL '30 minutes'
                  THEN 0 ELSE 1 END AS new_sess
      FROM events
    ), numbered AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING
             ) AS sess_id
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n
    FROM numbered GROUP BY user_id, sess_id
    """,
)
def q_events_stream_session(spark, sf):
    """Session windows through the STREAMING engine (state merge path).

    Same session semantics as q_events_session, but executed by the
    streaming session-window operator: per-key session state is
    created, extended, and MERGED across micro-batches in the state
    store, with the watermark bounding how long an open session stays
    in memory - the part the batch plan never exercises. Single-batch
    input => results equal the batch/oracle answer.
    """
    configure(spark)
    s = _read_events_stream(spark, sf)
    agg = (
        s.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(
            "user_id", F.col("w.start").alias("session_start"), "n"
        )
    )
    with _bounded_state_parts(spark):
        return _run_stream(spark, agg, "complete")



@query(
    "q_stream_file_sink",
    oracle="""
    -- append-mode emission: only windows FINALIZED by the watermark
    -- (win_end <= max(ts) - 10min) ever reach the sink; the last
    -- ~20 minutes of windows stay in state awaiting later data
    WITH mx AS (SELECT max(ts) AS m FROM events)
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS win_start,
           event_type, COUNT(*) AS n
    FROM events GROUP BY 1, 2
    HAVING win_start + INTERVAL '10 minutes'
             <= (SELECT m FROM mx) - INTERVAL '10 minutes'
    """,
)
def q_stream_file_sink(spark, sf):
    """File-to-file streaming: parquet source → watermarked tumbling
    agg → foreachBatch parquet sink, read back as the result.

    The production ingestion loop (landing dir → curated table) end to
    end: APPEND output mode emits a window exactly once, when the
    watermark (max event time − 10 min) passes its end — so unlike the
    memory-sink queries (complete mode re-emits everything each batch)
    the sink receives only finalized windows, and the trailing windows
    correctly NEVER appear (the oracle's HAVING mirrors that contract).
    foreachBatch gets each micro-batch as a plain DataFrame — the
    universal sink adapter (JDBC upsert, MERGE INTO, multi-table
    writes); exactly-once comes from the checkpoint's batch-id + an
    idempotent write per batch. Fresh checkpoint/output dirs per call
    keep reruns deterministic.
    """
    import os
    import tempfile

    configure(spark)
    s = _read_events_stream(spark, sf)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n")
    )
    # throwaway run: checkpoint WAL + sink output on tmpfs when present
    # (the same ~0.4 s fsync saving _run_stream documents); a real
    # deployment passes durable locations for both. out_dir must
    # outlive THIS call (the returned frame reads it lazily), so each
    # invocation retires the PREVIOUS one's dir instead — the persist
    # handle-retirement discipline applied to tmpfs (without it every
    # invocation leaked a parquet dir into /dev/shm for the process
    # lifetime; 36 found after one bench session, r16).
    import shutil

    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    out_dir = artifacts.hold(
        "q_stream_file_sink",
        tempfile.mkdtemp(prefix="pr_spark_stream_sink_", dir=base),
    )
    ckpt = tempfile.mkdtemp(prefix="pr_spark_stream_ckpt_", dir=base)

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        # mode=append + checkpointed batch ids = effectively-once here;
        # a real deployment makes this a MERGE/upsert keyed on batch_id
        bdf.write.mode("append").parquet(out_dir)

    # The windowed agg runs a state store per shuffle partition PER
    # MICRO-BATCH (this query runs two: data, then the
    # watermark-finalize batch), and the foreachBatch parquet write
    # inherits the same partitioning — the bound cuts stream wall-clock
    # ~2× at bench scale.
    with _bounded_state_parts(spark):
        q = (
            agg.writeStream.foreachBatch(write_batch)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        _capture_progress(q)
    # the WAL is throwaway once the finite run terminated; out_dir must
    # SURVIVE — the returned frame reads it lazily (retired by the
    # NEXT invocation, see above)
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.read.parquet(out_dir)


@query(
    "q_stream_enrich",
    oracle=f"""
    SELECT time_bucket(INTERVAL '10 minutes', e.ts) AS win_start,
           c.c_mktsegment AS segment,
           COUNT(*) AS n,
           {oracle_dsum("e.value")} AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def q_stream_enrich(spark, sf):
    """Stream-static enrichment: the standard ingestion topology where
    each arriving event is joined against a slowly-changing dimension
    BEFORE aggregation (clickstream x customer-profile, log x service
    catalog). The static side is broadcast, so the stream-side join
    adds no shuffle and no state — every micro-batch hash-probes the
    dim locally; only the windowed agg keeps state. At 100 TB/day the
    dim refresh is a re-broadcast, never a repartition of the stream.
    The enriched agg (count + integer-cent value sum per window x
    segment) matches the plain batch join+GROUP BY oracle through the
    genuine micro-batch state-store path."""
    configure(spark)
    s = _read_events_stream(spark, sf)
    dim = F.broadcast(
        load(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    )
    enriched = (
        s.withWatermark("ts", "10 minutes")
        .join(dim, s["user_id"] == dim["c_custkey"])
        .select("ts", F.col("c_mktsegment").alias("segment"), "value")
    )
    agg = (
        enriched.groupBy(F.window("ts", "10 minutes").alias("w"), "segment")
        .agg(F.count("*").alias("n"), dsum("value").alias("sum_value"))
        .select(F.col("w.start").alias("win_start"), "segment", "n", "sum_value")
    )
    with _bounded_state_parts(spark):
        return _run_stream(spark, agg, "complete")


@query(
    "q_stream_stream_join",
    oracle="""
    SELECT v.user_id AS user_id, v.event_id AS view_id,
           c.event_id AS click_id,
           epoch_us(c.ts) - epoch_us(v.ts) AS latency_us
    FROM events v JOIN events c ON v.user_id = c.user_id
    WHERE v.event_type = 'view' AND c.event_type = 'click'
      AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL '30 minutes'
    """,
)
def q_stream_stream_join(spark, sf):
    """Stream-stream inner join: views x clicks per user within a
    30-minute event-time window — attribution, the join Structured
    Streaming exists for. Both sides carry a watermark AND the join
    condition bounds click.ts to [view.ts, view.ts + 30min], which is
    what lets the engine EVICT state: a buffered view can be dropped
    once the click-side watermark passes view.ts + 30min, so state is
    bounded by the time window x arrival skew, not by history — the
    property that makes this run forever on a 100 TB/day stream. Each
    side pre-filters its event type at the scan (pushed predicate), so
    only the two relevant slices are ever buffered; the join itself
    hash-partitions both streams on user_id once. Over this finite
    single-batch input nothing is evicted early, so the result equals
    the batch interval self-join the oracle runs."""
    configure(spark)
    # ONE stream source, branched twice (self-join): a single file
    # source / offset log instead of two independent scans of the same
    # landing dir; in production this is one Kafka topic consumed once
    s = _read_events_stream(spark, sf)
    views = (
        s.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "30 minutes")
    )
    clicks = (
        s.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "30 minutes")
    )
    joined = views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "click_id",
        (
            F.unix_micros(F.col("c_ts")) - F.unix_micros(F.col("v_ts"))
        ).alias("latency_us"),
    )
    # one state store per shuffle partition PER SIDE on a
    # stream-stream join, so the bound matters double here
    with _bounded_state_parts(spark):
        return _run_stream(spark, joined, "append")


@query(
    "q_events_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(epoch_us(ts)) AS first_view_us
      FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS first_click_us
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.first_view_us
      GROUP BY 1
    )
    SELECT v.user_id, v.first_view_us, c.first_click_us,
           CASE WHEN c.first_click_us IS NOT NULL THEN 1 ELSE 0 END AS converted,
           c.first_click_us - v.first_view_us AS latency_us
    FROM v LEFT JOIN c ON v.user_id = c.user_id
    """,
)
def q_events_funnel(spark, sf):
    """Two-step conversion funnel: first 'view' -> first subsequent
    'click' per user, with conversion flag and latency.

    ONE scan and ONE shuffle: events hash-partition on user_id once,
    then two windows over that same partitioning (first-view min, then
    min of clicks after it) and a final per-user collapse whose
    ClusteredDistribution is already satisfied — Catalyst inserts no
    further Exchange (r6 rewrite of the two-aggregation join form:
    3 shuffles + 2 scans → 1+1; 0.51s → ~0.3s at sf0.1). State per
    user is still two timestamps. Timestamps travel as epoch
    MICROSECOND longs (`unix_micros` / `epoch_us`) so the driver hash
    is exact — no float epoch, no second-truncation divergence. At
    100 TB the one shuffle is on user_id; hot users are AQE/salting
    cases like any hot key.

    Reference parity: none (driver-mandated events surface, SURVEY
    §2.3).
    """
    configure(spark)
    e = load(spark, sf, "events")
    w = Window.partitionBy("user_id")
    rows = (
        e.filter(F.col("event_type").isin("view", "click"))
        .select(
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("us"),
        )
        .withColumn(
            "first_view_us",
            F.min(F.when(F.col("event_type") == "view", F.col("us"))).over(w),
        )
        .withColumn(
            "first_click_us",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("us") > F.col("first_view_us")),
                    F.col("us"),
                )
            ).over(w),
        )
        .filter(F.col("first_view_us").isNotNull())
    )
    return rows.groupBy("user_id").agg(
        F.min("first_view_us").alias("first_view_us"),
        F.min("first_click_us").alias("first_click_us"),
        F.when(F.min("first_click_us").isNotNull(), 1)
        .otherwise(0)
        .alias("converted"),
        (F.min("first_click_us") - F.min("first_view_us")).alias("latency_us"),
    )


@query(
    "q_events_retention",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(floor(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                        / 7.0) AS BIGINT) AS week
      FROM events
    ),
    cohort AS (
      SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY 1
    )
    SELECT c.cohort_week, uw.week - c.cohort_week AS week_offset,
           COUNT(DISTINCT uw.user_id) AS n_users
    FROM uw JOIN cohort c ON uw.user_id = c.user_id
    GROUP BY 1, 2
    """,
)
def q_events_retention(spark, sf):
    """Cohort retention: users bucketed by first-activity week, counted
    at each later week offset — the classic retention triangle.

    Week indexes are integer day-arithmetic from a fixed origin
    (2024-01-01), not calendar `date_trunc('week')`, so both engines
    bucket identically with no week-start convention risk. Plan: one
    distinct over (user, week) — map-side combined, carries at most
    n_users x n_weeks rows — then a groupBy(user) for cohorts and a
    join back on user_id. At 100 TB the distinct is the only scan-wide
    shuffle and it reduces to the activity matrix, which is tiny
    relative to raw events; the retention aggregation runs on that
    matrix alone.

    Reference parity: none (driver-mandated events surface, SURVEY
    §2.3).
    """
    configure(spark)
    e = load(spark, sf, "events")
    week = F.floor(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")) / 7.0
    ).alias("week")
    uw = e.select("user_id", week).distinct()
    cohort = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        uw.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@query(
    "q_events_anomaly",
    oracle="""
    WITH s AS (
      SELECT event_type,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_c,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)
                      * CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sumsq_c,
             COUNT(*) AS n
      FROM events GROUP BY 1
    )
    SELECT e.event_id, e.event_type, e.value,
           round((e.value - (sum_c / 100.0) / n)
                 / sqrt(((sumsq_c / 10000.0) - (sum_c / 100.0)
                         * ((sum_c / 100.0) / n)) / n), 6) AS zscore
    FROM events e JOIN s ON e.event_type = s.event_type
    WHERE abs((e.value - (sum_c / 100.0) / n)
              / sqrt(((sumsq_c / 10000.0) - (sum_c / 100.0)
                      * ((sum_c / 100.0) / n)) / n)) > 3.0
    """,
)
def q_events_anomaly(spark, sf):
    """Per-type z-score outlier gate: |value - mean| > 3 sigma.

    The standard metric-stream anomaly screen. Moment sums accumulate
    in integer cents (values are 2-decimal) so mean/variance are
    bit-identical across engines and partition orders; the broadcast
    of per-type stats (a handful of rows) back onto the stream makes
    the scoring pass shuffle-free — at 100 TB this is scan + broadcast
    hash join + filter, fully inside codegen.

    Reference parity: none (driver-mandated events surface, SURVEY
    §2.3).
    """
    configure(spark)
    e = load(spark, sf, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    s = e.groupBy("event_type").agg(
        F.sum(cents).alias("sum_c"),
        F.sum(cents * cents).alias("sumsq_c"),
        F.count(F.lit(1)).alias("n"),
    )
    mean = (F.col("sum_c") / 100.0) / F.col("n")
    var = (
        (F.col("sumsq_c") / 10000.0) - (F.col("sum_c") / 100.0) * mean
    ) / F.col("n")
    z = (F.col("value") - mean) / F.sqrt(var)
    return (
        e.join(F.broadcast(s), "event_type")
        .filter(F.abs(z) > 3.0)
        .select("event_id", "event_type", "value", F.round(z, 6).alias("zscore"))
    )


@query(
    "q_events_resample",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    span AS (
      SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi
      FROM events
    ),
    grid AS (
      SELECT t.event_type, CAST(gs.g AS DATE) AS day
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT unnest(generate_series(CAST(lo AS TIMESTAMP),
                                                CAST(hi AS TIMESTAMP),
                                                INTERVAL 1 DAY)) AS g
                  FROM span) gs
    )
    SELECT g.event_type, g.day, COALESCE(c.n, 0) AS n
    FROM grid g LEFT JOIN c
      ON g.event_type = c.event_type AND g.day = c.day
    """,
)
def q_events_resample(spark, sf):
    """Resample an irregular event stream onto a regular daily grid,
    zero-filling silent days — the gap-filling step every time-series
    chart/model needs (a day with no 'error' events must report 0,
    not vanish).

    The grid is GENERATED in-plan — distinct types × explode(
    sequence(min_day, max_day)) from a broadcast 1-row span aggregate
    — so no calendar table is maintained, and the left join back onto
    the daily counts is dimension-sized (types × days), never
    corpus-sized. At 100 TB the only full scan is the daily-count
    aggregation (map-side combined, key space = types × days); the
    gap-fill itself costs nothing that scales with event volume.

    Reference parity: none (driver-mandated events surface, SURVEY
    §2.3).
    """
    configure(spark)
    e = load(spark, sf, "events")
    c = (
        e.select("event_type", F.to_date("ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    span = e.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    days = span.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("interval 1 day"))
        ).alias("day")
    )
    types = e.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(days))
    return grid.join(c, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce("n", F.lit(0)).alias("n")
    )


@query(
    "q_events_transitions",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    )
    SELECT event_type, next_type, COUNT(*) AS n
    FROM o WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def q_events_transitions(spark, sf):
    """First-order transition counts over each user's event sequence
    (the Markov matrix behind 'what do users do after X' and
    next-event prediction features).

    lead() over (user, time) pairs each event with its successor in
    ONE window pass — the shuffle is on user_id and the per-user sort
    is the only ordering work; the transition aggregation then
    reduces to a (types × types) key space, constant-sized output
    regardless of volume. Ordering ties broken by the unique
    event_id, so the sequence — and the counts — are deterministic in
    both engines. At 100 TB: one shuffle, bounded state, no
    self-join on the stream (the naive formulation joins the stream
    to itself on adjacency).

    Reference parity: none (driver-mandated events surface, SURVEY
    §2.3).
    """
    configure(spark)
    from pyspark.sql.window import Window as W

    e = load(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    o = e.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    )
    return (
        o.filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q_fillna_group",
    oracle="""
    WITH base AS (
      SELECT event_id, user_id, event_type,
             CASE WHEN event_type = 'error' THEN NULL ELSE value END
               AS value_gapped
      FROM events
    ),
    m AS (
      SELECT user_id,
             CAST(SUM(CAST(floor(value_gapped * 100.0 + 0.5) AS BIGINT))
                  AS DOUBLE) / 100.0 / COUNT(value_gapped) AS user_mean
      FROM base GROUP BY user_id
    )
    SELECT b.event_id, b.user_id, b.event_type,
           CAST(floor(COALESCE(b.value_gapped, m.user_mean) * 10000.0
                      + 0.5) AS DOUBLE) / 10000.0 AS value_imputed,
           (b.value_gapped IS NULL) AS was_imputed
    FROM base b JOIN m ON b.user_id = m.user_id
    """,
)
def q_fillna_group(spark, sf):
    """Group-mean imputation: NULL metric values (here: gapped on the
    'error' type to model sensor dropout) filled with the OWNER's
    per-user mean — the standard ML-prep step one level above the
    scalar fillna (q_fillna).

    The per-user means are a map-side-combined aggregation over
    integer cents (order-independent, engine-exact) joined back on
    user_id; SUM/COUNT skip NULLs identically in both engines, so the
    mean is over observed values only. At 100 TB both the agg and the
    join shuffle on user_id once — or zero times if the table is
    already bucketed by user (q_join_bucketed's discipline); the
    imputation itself is a codegen'd coalesce in the scan stage.

    Reference parity: fillna exercised in reference
    test_basic.py (scalar form); the grouped form is the
    driver-mandated ML-prep extension (SURVEY §2.3).
    """
    configure(spark)
    e = load(spark, sf, "events")
    base = e.select(
        "event_id",
        "user_id",
        "event_type",
        F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
            F.col("value")
        ).alias("value_gapped"),
    )
    cents = F.floor(F.col("value_gapped") * 100.0 + 0.5).cast("long")
    m = base.groupBy("user_id").agg(
        (
            F.sum(cents).cast("double") / 100.0 / F.count("value_gapped")
        ).alias("user_mean")
    )
    # 4-decimal quantization via floor(x·1e4 + .5), NOT round(x, 4):
    # Spark's round goes through BigDecimal.valueOf (the double's
    # SHORTEST decimal string — "39.88175" rounds half-up to .8818)
    # while DuckDB rounds the binary value (39.88174999... → .8817),
    # so a mean landing near a .xxxx5 boundary hash-diverges (found
    # at sf0.1, row 'user 11525': one of 600k rows; invisible at
    # sf0.01). floor of an identical IEEE product is bit-equal in
    # both engines for every input.
    return base.join(m, "user_id").select(
        "event_id",
        "user_id",
        "event_type",
        (
            F.floor(
                F.coalesce("value_gapped", "user_mean") * 10000.0 + 0.5
            ).cast("double")
            / 10000.0
        ).alias("value_imputed"),
        F.col("value_gapped").isNull().alias("was_imputed"),
    )


@query(
    "q_events_interpolate",
    oracle="""
    -- daily per-type value series with silent days LINEARLY
    -- interpolated between neighbors (NULL outside the observed span).
    -- Arithmetic is exact integer cents with a double floor for the
    -- slope term (magnitudes << 2^53, so the double math is exact and
    -- engine-identical).
    WITH c AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(floor(value * 100.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS v
      FROM events GROUP BY 1, 2
    ),
    span AS (
      SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi
      FROM events
    ),
    grid AS (
      SELECT t.event_type, CAST(gs.g AS DATE) AS day
      FROM (SELECT DISTINCT event_type FROM events) t
      CROSS JOIN (SELECT unnest(generate_series(CAST(lo AS TIMESTAMP),
                                                CAST(hi AS TIMESTAMP),
                                                INTERVAL 1 DAY)) AS g
                  FROM span) gs
    ),
    g AS (
      SELECT grid.event_type, grid.day, c.v
      FROM grid LEFT JOIN c
        ON grid.event_type = c.event_type AND grid.day = c.day
    ),
    x AS (
      SELECT *,
        last_value(v IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY day
           ROWS UNBOUNDED PRECEDING) AS pv,
        last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY day
           ROWS UNBOUNDED PRECEDING) AS pd,
        first_value(v IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER
          (PARTITION BY event_type ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM g
    )
    SELECT event_type, day,
      CASE WHEN v IS NOT NULL THEN v
           WHEN pv IS NULL OR nv IS NULL THEN NULL
           ELSE pv + CAST(floor(
                  (CAST(nv - pv AS DOUBLE) * (day - pd)) / (nd - pd)
                ) AS BIGINT)
      END AS v_cents,
      CAST(v IS NULL AND pv IS NOT NULL AND nv IS NOT NULL
           AS BOOLEAN) AS is_interp
    FROM x
    """,
)
def q_events_interpolate(spark, sf):
    """Gap interpolation on the daily grid: silent days get the linear
    interpolation between their nearest observed neighbors (per
    event_type), NULL outside the observed span — the time-series prep
    step after q_events_resample's zero-fill, for metrics where
    "missing" means unobserved rather than zero.

    Plan: the daily integer-cent aggregate (map-side combined) left-
    joins the generated grid, then ONE window partitioning carries all
    four neighbor columns (running last/first with ignorenulls over
    the same ordering — Catalyst evaluates them in two frames over one
    sort, no extra shuffle). Everything downstream of the daily
    aggregate is dimension-sized (types × days); at 100 TB the event
    volume only ever touches the first aggregate. The slope term uses
    a double floor over exact cent integers (magnitudes << 2^53) so
    both engines — and any partition count — produce identical bits;
    integer `div` is avoided because Spark truncates toward zero while
    DuckDB floors, and negative slopes would diverge.

    Reference parity: none (driver-mandated events surface, SURVEY
    §2.3).
    """
    configure(spark)
    e = load(spark, sf, "events")
    c = e.select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
        .cast("bigint")
        .alias("vc"),
    ).groupBy("event_type", "day").agg(F.sum("vc").alias("v"))
    span = e.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    days = span.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("interval 1 day"))
        ).alias("day")
    )
    grid = e.select("event_type").distinct().crossJoin(F.broadcast(days))
    g = grid.join(c, ["event_type", "day"], "left")
    wp = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    x = (
        g.withColumn("pv", F.last("v", ignorenulls=True).over(wp))
        .withColumn("pd", F.last(obs_day, ignorenulls=True).over(wp))
        .withColumn("nv", F.first("v", ignorenulls=True).over(wn))
        .withColumn("nd", F.first(obs_day, ignorenulls=True).over(wn))
    )
    interp = F.col("pv") + F.floor(
        (F.col("nv") - F.col("pv")).cast("double")
        * F.datediff("day", "pd")
        / F.datediff("nd", "pd")
    ).cast("bigint")
    return x.select(
        "event_type",
        "day",
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull() | F.col("nv").isNull(), F.lit(None))
        .otherwise(interp)
        .alias("v_cents"),
        (
            F.col("v").isNull()
            & F.col("pv").isNotNull()
            & F.col("nv").isNotNull()
        ).alias("is_interp"),
    )


@query(
    "q_events_scd2",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ),
    changes AS (
      SELECT user_id, event_type, ts, event_id FROM o
      WHERE prev_type IS NULL OR prev_type <> event_type
    ),
    iv AS (
      SELECT user_id, event_type,
             CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS valid_from_us,
             lead(CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_us
      FROM changes
    )
    SELECT user_id, event_type, valid_from_us, valid_to_us,
           CAST(valid_to_us IS NULL AS BIGINT) AS is_current
    FROM iv
    """,
)
def q_events_scd2(spark, sf):
    """Slowly-changing-dimension type-2 build from a change-event log:
    collapse each user's consecutive same-type runs into validity
    intervals [valid_from, valid_to) with an is_current flag — the
    standard warehouse historization shape (Kimball SCD2), and the
    batch form of a CDC compaction.

    Plan: ONE shuffle. Both window passes (the lag() change detector
    and the lead() that closes each interval with the next change's
    timestamp) and the run collapse share the user_id partitioning,
    so Catalyst plans a single Exchange on user_id followed by two
    in-partition sorts — at 100 TB this is a by-key repartition of
    the event log and nothing else; no join, no second shuffle, and
    the output is change-runs-sized, not events-sized. Ties inside a
    user's history break on the unique event_id (same determinism
    discipline as q_events_transitions). Timestamps surface as exact
    epoch-microsecond BIGINTs: the driver's comparator sees integers,
    immune to ns-vs-us formatting drift between engines.

    Reference parity: none (driver-mandated events surface).
    """
    configure(spark)
    return scd2_intervals(load(spark, sf, "events"))


def scd2_intervals(e: DataFrame) -> DataFrame:
    """Reusable SCD-2 core of q_events_scd2 (see its docstring): takes
    any (user_id, event_type, ts, event_id) frame, returns validity
    intervals. Property-swept against a driver-side brute force on
    adversarial logs (single-event users, all-same-type runs, equal
    timestamps tie-broken by event_id) in tests/test_events.py."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
    )
    iv = changes.select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("valid_from_us"),
        F.lead(F.unix_micros("ts")).over(w).alias("valid_to_us"),
    )
    return iv.select(
        "user_id",
        "event_type",
        "valid_from_us",
        "valid_to_us",
        F.col("valid_to_us").isNull().cast("bigint").alias("is_current"),
    )


@query(
    "q_stream_topk",
    oracle="""
    WITH c AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start,
             event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY win_start
                                   ORDER BY n DESC, event_type) AS rk
      FROM c
    )
    SELECT win_start, event_type, n, rk FROM r WHERE rk <= 3
    """,
)
def q_stream_topk(spark, sf):
    """Streaming top-k: the 3 busiest event types per hourly window —
    the trending/leaderboard shape.

    The state-bearing half (windowed counts per (window, type)) runs
    in the REAL micro-batch engine — per-window per-type running
    counts are incremental state, same as q_events_tumbling's
    streaming twin. The RANKING half is a batch window pass over the
    sink table: top-k is not an incremental append-mode operator
    (a late event can reorder a whole window), and production
    deployments rank in foreachBatch or the serving layer — exactly
    this split. Rank work is windows × types sized, trivially small
    at any corpus scale; ties break on event_type so the emitted
    leaderboard is deterministic.
    """
    configure(spark)
    s = _read_events_stream(spark, sf)
    agg = s.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count("*").alias("n"))
    with _bounded_state_parts(spark):
        counts = _run_stream(spark, agg, "complete")
    win = Window.partitionBy("win_start").orderBy(
        F.col("n").desc(), "event_type"
    )
    return (
        counts.select(
            F.col("w.start").alias("win_start"), "event_type", "n"
        )
        .withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= 3)
    )
