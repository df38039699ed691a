"""Semantics pins for the round-4 event-analytics operators.

Fixtures are written with pyarrow as TIMESTAMP(NANOS) parquet — the
same physical type the driver's events.parquet uses — so `tables.load`'s
ns→µs truncation path is exercised, not bypassed.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pandas_reporter_spark.registry import QUERIES, load_all

load_all()

_T0 = 1704067200_000_000_000  # 2024-01-01T00:00:00Z in ns


def _write_events(path: str, rows):
    """rows: (event_id, ns_ts, user_id, event_type, value, props)."""
    cols = list(zip(*rows))
    t = pa.table(
        {
            "event_id": pa.array(cols[0], pa.int64()),
            "ts": pa.array(cols[1], pa.timestamp("ns")),
            "user_id": pa.array(cols[2], pa.int64()),
            "event_type": pa.array(cols[3], pa.string()),
            "value": pa.array(cols[4], pa.float64()),
            "props": pa.array(cols[5], pa.string()),
        }
    )
    pq.write_table(t, path)


@pytest.fixture(scope="module")
def funnel_sf(tmp_path_factory):
    sf = str(tmp_path_factory.mktemp("funnel"))
    sec = 1_000_000_000
    rows = [
        # u1: view then click 5s later -> converts, latency 5_000_000 us
        (0, _T0, 1, "view", 1.0, "{}"),
        (1, _T0 + 5 * sec, 1, "click", 1.0, "{}"),
        # u2: click BEFORE its first view, none after -> no conversion
        (2, _T0, 2, "click", 1.0, "{}"),
        (3, _T0 + 10 * sec, 2, "view", 1.0, "{}"),
        # u3: views only -> no conversion
        (4, _T0, 3, "view", 1.0, "{}"),
        (5, _T0 + 60 * sec, 3, "view", 1.0, "{}"),
        # u4: click at EXACTLY first_view ts -> strict 'after' excludes it
        (6, _T0, 4, "view", 1.0, "{}"),
        (7, _T0, 4, "click", 1.0, "{}"),
        # u5: clicks only -> not in the funnel at all (no view step)
        (8, _T0, 5, "click", 1.0, "{}"),
    ]
    _write_events(os.path.join(sf, "events.parquet"), rows)
    return sf


def test_funnel_conversion_semantics(spark, funnel_sf):
    out = {r.user_id: r for r in QUERIES["q_events_funnel"](spark, funnel_sf).collect()}
    assert set(out) == {1, 2, 3, 4}  # view-step users only
    assert out[1].converted == 1 and out[1].latency_us == 5_000_000
    assert out[2].converted == 0 and out[2].first_click_us is None
    assert out[3].converted == 0
    # equal timestamps: the click is not strictly after the view
    assert out[4].converted == 0
    assert out[1].first_view_us == _T0 // 1000


def test_retention_triangle(spark, tmp_path_factory):
    sf = str(tmp_path_factory.mktemp("retention"))
    day = 86_400 * 1_000_000_000
    rows = [
        # u1: first active week 0, returns week 1 and week 2
        (0, _T0, 1, "view", 1.0, "{}"),
        (1, _T0 + 8 * day, 1, "view", 1.0, "{}"),
        (2, _T0 + 15 * day, 1, "view", 1.0, "{}"),
        # u2: first active week 0 only
        (3, _T0 + 2 * day, 2, "view", 1.0, "{}"),
        # u3: first active week 1, returns week 2
        (4, _T0 + 7 * day, 3, "view", 1.0, "{}"),
        (5, _T0 + 14 * day, 3, "view", 1.0, "{}"),
    ]
    _write_events(os.path.join(sf, "events.parquet"), rows)
    got = {
        (r.cohort_week, r.week_offset): r.n_users
        for r in QUERIES["q_events_retention"](spark, sf).collect()
    }
    assert got == {
        (0, 0): 2,
        (0, 1): 1,
        (0, 2): 1,
        (1, 0): 1,
        (1, 1): 1,
    }


def test_quantize_reconstruction_bound(spark, tmp_path_factory):
    sf = str(tmp_path_factory.mktemp("quant"))
    vecs = [
        (0, [1.0, -0.5, 0.25, 0.0], 0),
        (1, [0.002, -0.001, 0.0005, 0.00025], 1),  # tiny norms still quantize
        (2, [-2.0, 2.0, 1.0, -1.0], 0),
    ]
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "embeddings.parquet")
    )
    out = {r.vec_id: r for r in QUERIES["q_embed_quantize"](spark, sf).collect()}
    # scale = maxabs/127; the max-magnitude element maps to exactly +/-127
    assert out[0].scale_r == pytest.approx(1.0 / 127, abs=1e-9)
    assert out[0].n_clipped == 1
    assert out[2].n_clipped == 2  # -2.0 and 2.0 both hit the clip rail
    # checksum is the plain sum of the quantized ints: symmetric vec -> 0
    assert out[2].q_checksum == 0
    # reconstruction error bound: |x - q*scale| <= scale/2 per element
    # -> SSE <= dims * (scale/2)^2, in picounits
    for r in out.values():
        scale = r.scale_r
        assert r.sse_picounits <= 4 * (scale / 2) ** 2 * 1e12 + 4


def test_anomaly_flags_only_outliers(spark, tmp_path_factory):
    sf = str(tmp_path_factory.mktemp("anomaly"))
    sec = 1_000_000_000
    # 20 calm points at 10.00 +/- 0.02 and one 50.00 spike
    rows = [
        (i, _T0 + i * sec, 1, "metric", 10.0 + (0.02 if i % 2 else -0.02), "{}")
        for i in range(20)
    ] + [(20, _T0 + 21 * sec, 1, "metric", 50.0, "{}")]
    _write_events(os.path.join(sf, "events.parquet"), rows)
    out = QUERIES["q_events_anomaly"](spark, sf).collect()
    assert [r.event_id for r in out] == [20]
    assert out[0].zscore > 3


def test_stream_enrich_joins_dim_before_agg(spark, tmp_path_factory):
    sf = str(tmp_path_factory.mktemp("enrich"))
    minute = 60 * 1_000_000_000
    # users 1,2 -> AUTO; user 3 -> RAIL; two 10-min windows
    rows = [
        (0, _T0 + 1 * minute, 1, "view", 1.25, "{}"),
        (1, _T0 + 2 * minute, 2, "view", 2.25, "{}"),
        (2, _T0 + 3 * minute, 3, "view", 4.00, "{}"),
        (3, _T0 + 11 * minute, 1, "click", 8.50, "{}"),
    ]
    _write_events(os.path.join(sf, "events.parquet"), rows)
    dim = pa.table(
        {
            "c_custkey": pa.array([1, 2, 3], pa.int64()),
            "c_mktsegment": pa.array(["AUTO", "AUTO", "RAIL"], pa.string()),
        }
    )
    pq.write_table(dim, os.path.join(sf, "customer.parquet"))
    out = {
        (r.win_start.minute, r.segment): r
        for r in QUERIES["q_stream_enrich"](spark, sf).collect()
    }
    assert set(out) == {(0, "AUTO"), (0, "RAIL"), (10, "AUTO")}
    w0 = out[(0, "AUTO")]
    assert w0.n == 2 and w0.sum_value == 3.5
    assert out[(0, "RAIL")].n == 1 and out[(0, "RAIL")].sum_value == 4.0
    assert out[(10, "AUTO")].n == 1 and out[(10, "AUTO")].sum_value == 8.5


def test_stream_stream_join_window_bounds(spark, tmp_path_factory):
    sf = str(tmp_path_factory.mktemp("ssjoin"))
    minute = 60 * 1_000_000_000
    rows = [
        (0, _T0, 1, "view", 0.0, "{}"),
        (1, _T0 + 30 * minute, 1, "click", 0.0, "{}"),  # at bound: included
        (2, _T0 + 31 * minute, 1, "click", 0.0, "{}"),  # past bound: excluded
        (3, _T0 + 5 * minute, 2, "click", 0.0, "{}"),   # other user: excluded
        (4, _T0 - 1 * minute, 1, "click", 0.0, "{}"),   # before view: excluded
    ]
    _write_events(os.path.join(sf, "events.parquet"), rows)
    out = QUERIES["q_stream_stream_join"](spark, sf).collect()
    assert [(r.user_id, r.view_id, r.click_id, r.latency_us) for r in out] == [
        (1, 0, 1, 30 * 60 * 1_000_000)
    ]


# ---------------------------------------------------------------------------
# ts-dtype robustness: the driver's events.parquet physical type has
# changed once mid-project (ns-INT64 -> µs TIMESTAMP_NTZ, round 4), and
# each flavor breaks a different path (ns: PARQUET_TYPE_ILLEGAL without
# nanosAsLong; NTZ: EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE at watermark
# plan time). Pin that every flavor surfaces as TimestampType with
# identical UTC instants, batch and stream.

_TS_FLAVORS = {
    "ns": pa.timestamp("ns"),
    "us_ntz": pa.timestamp("us"),
    "us_ltz": pa.timestamp("us", tz="UTC"),
}


@pytest.mark.parametrize("flavor", sorted(_TS_FLAVORS))
def test_events_ts_normalized_per_flavor(spark, tmp_path_factory, flavor):
    from pyspark.sql.types import TimestampType

    from pandas_reporter_spark.tables import load

    sf = str(tmp_path_factory.mktemp(f"tsdtype_{flavor}"))
    t = pa.table(
        {
            "event_id": pa.array([0, 1], pa.int64()),
            "ts": pa.array([_T0, _T0 + 90 * 1_000_000_000], pa.timestamp("ns")).cast(
                _TS_FLAVORS[flavor]
            ),
            "user_id": pa.array([1, 1], pa.int64()),
            "event_type": pa.array(["view", "click"], pa.string()),
            "value": pa.array([1.0, 2.0], pa.float64()),
            "props": pa.array(["{}", "{}"], pa.string()),
        }
    )
    pq.write_table(t, os.path.join(sf, "events.parquet"))

    df = load(spark, sf, "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType), flavor
    got = [r.ts.isoformat() for r in df.orderBy("event_id").select("ts").collect()]
    assert got == ["2024-01-01T00:00:00", "2024-01-01T00:01:30"], flavor

    # structural watermark pin: the streaming read must accept an
    # event-time watermark at PLAN time (this is exactly where the NTZ
    # regression exploded) and carry it in the analyzed plan
    from pandas_reporter_spark.operators.events import _read_events_stream

    s = _read_events_stream(spark, sf).withWatermark("ts", "10 minutes")
    assert isinstance(s.schema["ts"].dataType, TimestampType), flavor
    plan = s._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in plan, flavor


def test_events_ts_is_timestamp_across_sf_dirs(spark):
    from pyspark.sql.types import TimestampType

    from pandas_reporter_spark.tables import load

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        d = f"/root/testdata/{sf}"
        if not os.path.isdir(d):
            continue
        dt = load(spark, d, "events").schema["ts"].dataType
        assert isinstance(dt, TimestampType), (sf, dt)


def test_interpolate_linear_between_neighbors(spark, tmp_path_factory):
    """Hand series: day0 v=100, day3 v=400 (cents 10000/40000) ->
    day1/day2 interpolate to 20000/30000; days outside the span NULL
    only when another type widens the grid."""
    import datetime as dt

    tmp = tmp_path_factory.mktemp("interp")
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base, 10, "a", 100.0, "{}"),
        (2, base + dt.timedelta(days=3), 10, "a", 400.0, "{}"),
        # type b spans wider so type a has out-of-span NULL days
        (3, base - dt.timedelta(days=1), 11, "b", 5.0, "{}"),
        (4, base + dt.timedelta(days=4), 11, "b", 7.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(tmp / "events.parquet"))
    from pandas_reporter_spark.operators.events import q_events_interpolate

    out = {
        (r["event_type"], str(r["day"])): (r["v_cents"], r["is_interp"])
        for r in q_events_interpolate(spark, str(tmp)).collect()
    }
    assert out[("a", "2024-01-01")] == (10000, False)
    assert out[("a", "2024-01-02")] == (20000, True)
    assert out[("a", "2024-01-03")] == (30000, True)
    assert out[("a", "2024-01-04")] == (40000, False)
    assert out[("a", "2023-12-31")] == (None, False)  # before a's span
    assert out[("a", "2024-01-05")] == (None, False)  # after a's span
    assert out[("b", "2024-01-02")][1] is True  # interpolated b day


def test_watermark_eviction_bounds_dedup_state(spark, tmp_path_factory):
    """The 100 TB state claim, pinned (VERDICT r8 item 3): with a
    30-minute watermark, dropDuplicatesWithinWatermark state is bounded
    by the keys inside the watermark horizon — NOT by total distinct
    keys — because batch-end watermark advance evicts expired keys.
    4 hourly files × 100 unique ids each, one file per micro-batch:
    un-evicted state would reach 400 rows; the horizon holds ~2 files."""
    import datetime as dt

    import pandas_reporter_spark.operators.events as ev

    base = tmp_path_factory.mktemp("wmstate")
    src = str(base / "src")
    for h in range(4):
        rows = [
            (
                h * 1000 + i,
                dt.datetime(2024, 1, 1, h, i % 60, 0),
                i % 50,
                "a",
                1.0,
                "{}",
            )
            for i in range(100)
        ]
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long,"
            " event_type string, value double, props string",
        ).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema
    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(src)
    )
    dd = s.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = (
        dd.writeStream.format("memory")
        .queryName("wmstate")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(base / "ckpt"))
        .start()
    )
    q.awaitTermination()
    ev._capture_progress(q)
    assert spark.table("wmstate").count() == 400  # nothing lost
    state = [
        op["numRowsTotal"]
        for p in ev.LAST_PROGRESS
        for op in p.get("stateOperators", [])
        if op.get("numRowsTotal") is not None
    ]
    assert state, "no state metrics captured"
    # eviction bound: never more than ~2 files' keys in state at once
    assert max(state) <= 250, state
    # and eviction actually ran at least once (state shrank or held
    # under the cumulative key count by the final batch)
    assert state[-1] < 400, state


def test_scd2_property_sweep(spark):
    """scd2_intervals vs a driver-side brute force on adversarial logs:
    seeded random histories plus single-event users, all-one-type runs
    (one open-ended interval), and equal timestamps where only the
    event_id tie-break defines the sequence."""
    import datetime

    from pandas_reporter_spark.operators.events import scd2_intervals

    def mix(x):
        x = (x ^ (x >> 33)) * 0xFF51AFD7ED558CCD % (1 << 64)
        return (x ^ (x >> 29)) % (1 << 63)

    base = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0
    for uid in range(1, 13):
        n = [1, 1, 2, 5, 9, 17][uid % 6] + (uid % 3)
        for k in range(n):
            if uid % 4 == 0:
                t = base  # all-equal timestamps: event_id breaks ties
            else:
                t = base + datetime.timedelta(
                    minutes=int(mix(uid * 1000 + k) % 10_000)
                )
            typ = (
                "only"
                if uid % 5 == 0  # all-same-type: one open interval
                else f"t{mix(eid * 7 + uid) % 3}"
            )
            rows.append((uid, typ, t, eid))
            eid += 1
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp, event_id long"
    )
    key = lambda t: tuple(-1 if v is None else v for v in t)
    got = sorted(
        (tuple(r) for r in scd2_intervals(df).collect()), key=key
    )

    def brute():
        from collections import defaultdict

        by_user = defaultdict(list)
        for uid, typ, t, e in rows:
            by_user[uid].append((t, e, typ))
        out = []
        for uid, evs in by_user.items():
            evs.sort()
            runs = []
            for t, e, typ in evs:
                if not runs or runs[-1][1] != typ:
                    us = int(
                        t.replace(
                            tzinfo=datetime.timezone.utc
                        ).timestamp()
                        * 1_000_000
                    )
                    runs.append((us, typ))
            for i, (us, typ) in enumerate(runs):
                nxt = runs[i + 1][0] if i + 1 < len(runs) else None
                out.append(
                    (uid, typ, us, nxt, 1 if nxt is None else 0)
                )
        return sorted(out, key=key)

    assert got == brute()


class _Progress:
    """A stand-in for a finished streaming query's progress list."""

    def __init__(self, progress):
        self._progress = progress

    @property
    def recentProgress(self):
        if isinstance(self._progress, Exception):
            raise self._progress
        return self._progress


def test_capture_progress_drops_only_unparseable_progress():
    """Progress is diagnostics: a malformed progress JSON leaves no
    progress, any other error propagates."""
    from pandas_reporter_spark.operators import events as ev

    ev._capture_progress(_Progress([{"batchId": 0}, '{"batchId": 1}']))
    assert ev.LAST_PROGRESS == [{"batchId": 0}, {"batchId": 1}]
    ev._capture_progress(_Progress(['{"batchId": 0}', "{not json"]))
    assert ev.LAST_PROGRESS == []
    with pytest.raises(RuntimeError):
        ev._capture_progress(_Progress(RuntimeError("lost the JVM")))
