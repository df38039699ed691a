"""Driver-table loaders + oracle-exactness helpers.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet each under
/root/testdata/sf{0.001,0.01,0.1}/.
"""

from __future__ import annotations

import logging
import os
from typing import Sequence, Union

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

log = logging.getLogger(__name__)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimensions worth broadcasting in joins (≤ a few thousand rows at
# any SF that fits a dimension role; at 100 TB these remain < the 64 MB
# broadcast threshold).
BROADCAST_DIMS = {"region", "nation", "supplier"}

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to TimestampType (LTZ), whatever the
    driver snapshot wrote.

    The testdata's `ts` physical type has changed once mid-project
    already (ns-INT64 → µs TIMESTAMP_NTZ), so every read path — batch
    and stream — funnels through this one helper:

    - LongType (legacy nanosAsLong read of a TIMESTAMP(NANOS) file):
      truncate ns→µs. The data is µs-granular (probed zero sub-µs
      components) so this is lossless and matches DuckDB.
    - TimestampNTZType (µs file with isAdjustedToUTC=false): cast to
      TIMESTAMP. The session timezone is pinned to UTC (session.py), so
      the cast is value-preserving — the wall-clock fields are
      reinterpreted as UTC instants, exactly what DuckDB does with the
      same file. `withWatermark`/`window`/`unix_micros` require LTZ.
    - TimestampType: already right, no-op.
    """
    dt = df.schema[col].dataType
    if isinstance(dt, LongType):
        return df.withColumn(col, F.expr(f"timestamp_micros({col} DIV 1000)"))
    if isinstance(dt, TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


#: sf_dir -> relayout dir holding multi-file copies of the big tables
#: (see `relayout`). Process-local: only a caller that explicitly ran
#: `relayout` (the bench) ever reads the copies.
_RELAYOUT_DIRS: dict[str, str] = {}

#: Output file count per re-laid-out table, sized so each file is a
#: few hundred KB to a few MB at sf0.1 — enough scan tasks to feed the
#: local cores without tiny-file overhead.
_RELAYOUT_SPLITS = {
    "lineitem": 16,
    "orders": 8,
    "events": 8,
    "customer": 4,
    # documents/embeddings feed CPU-bound Arrow kernels (shingle
    # minhash, levenshtein rerank, vector math): split to near core
    # count — measured best of {4, 8, 16} at sf0.1 (A/B in-session:
    # fuzzy dedup 2.44s→1.22s, langid 0.89s→0.69s vs single-file)
    "documents": 16,
    "embeddings": 8,
}


def relayout(spark: SparkSession, sf: str, base: str = "/dev/shm") -> None:
    """Rewrite the big driver tables as multi-file parquet and redirect
    subsequent `load` calls for this sf_dir to the copies.

    WHY: the driver snapshots are one file with ONE row group per
    table, so every scan — and, worse, every shuffle-map stage over a
    fact table — runs as a single task no matter how many cores exist
    (measured: the lineitem⨝orders shuffle join drops 0.62s → 0.30s at
    sf0.1 once lineitem has 16 files). At the 100 TB design point this
    situation cannot arise: ingest controls file/row-group sizing
    (SCALING.md), and a table is thousands of splits. Re-laying-out
    once per session is the same one-time table-prep cost the bench
    already pays for the bucketed-join and partition-pruned inputs —
    a cluster pays it at ingest, not per query.

    Identical data, different physical layout: results are unaffected
    (every registered aggregate is accumulation-order independent by
    construction — tables.dsum). Idempotent per (sf, base); failures
    fall back to the original files."""
    if sf in _RELAYOUT_DIRS or not os.path.isdir(base):
        return
    # fingerprint the source snapshot's mtime into the copy path: a
    # regenerated testdata dir (round 4 changed the events physical
    # type) must never silently reuse a stale tmpfs layout
    try:
        src_tag = int(
            max(
                os.path.getmtime(os.path.join(sf, f"{n}.parquet"))
                for n in _RELAYOUT_SPLITS
                if os.path.exists(os.path.join(sf, f"{n}.parquet"))
            )
        )
    except (OSError, ValueError):
        src_tag = 0
    out = os.path.join(
        base,
        f"prs_layout_{os.path.basename(os.path.normpath(sf))}_{src_tag}",
    )
    try:
        for name, n in _RELAYOUT_SPLITS.items():
            src = os.path.join(sf, f"{name}.parquet")
            dst = os.path.join(out, name)
            if not os.path.exists(src) or os.path.exists(os.path.join(dst, "_SUCCESS")):
                continue
            if name == "events":
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
                df = normalize_ts(spark.read.parquet(src))
            else:
                df = spark.read.parquet(src)
            df.repartition(n).write.mode("overwrite").parquet(dst)
        _RELAYOUT_DIRS[sf] = out
    except Exception as e:  # read-only /dev/shm, no space: originals still work
        log.warning("relayout of %s failed, reading the originals: %s", sf, e, exc_info=e)
        return
    # drop memoized single-file scans for this sf so reads re-resolve
    for key in [k for k in _LOAD_CACHE if k[1] == sf]:
        del _LOAD_CACHE[key]


def src_mtime(sf: str, name: str) -> int:
    """mtime tag of one driver table file (0 if absent). Folded into
    caches keyed on (session, sf) — e.g. the corpus-count caches that
    drive LSH plane counts — so regenerating testdata mid-session
    invalidates the cached value instead of silently serving a stale
    count (ADVICE r10: stale n breaks Spark/oracle LSH bucket parity).
    Directory-shaped multi-file tables tag by the directory mtime,
    which every rewrite touches."""
    try:
        return int(os.path.getmtime(os.path.join(sf, f"{name}.parquet")))
    except OSError:
        return 0


#: (session_key, sf) -> {table_name: catalog_table} for tables written
#: bucketed at rest (see use_bucketed_layout). Consulted by `load`
#: ahead of the relayout copies.
_BUCKETED_TABLES: dict = {}

#: fact tables co-bucketed on the orderkey join column
_BUCKET_SPEC = {"lineitem": "l_orderkey", "orders": "o_orderkey"}


def use_bucketed_layout(
    spark: SparkSession,
    sf: str,
    n_buckets: int = 32,
    base: str = "/dev/shm",
) -> bool:
    """Write lineitem/orders co-bucketed (and sorted) on orderkey and
    redirect subsequent `load` calls to the bucketed catalog tables.

    The at-rest layout lever for the TPC-H join family (VERDICT r8
    item 4): orders⨝lineitem — and any groupBy on the bucket key —
    then reads bucket i of each side in task i with NO Exchange on
    either side, the same property q_join_bucketed demonstrates on a
    2-column slice, now applied to the full tables so every downstream
    query on this session benefits. At 100 TB co-bucketing the two
    fact tables at ingest is the difference between shuffling ~all
    fact bytes per join and shuffling none; locally it is a one-time
    write, exactly like `relayout`. Nothing turns it on by default:
    the bench times the stock layout.

    Sorted buckets additionally let the sort-merge join skip its sort
    (SortExec sees the required ordering satisfied per bucket file).
    Returns True when the layout is active for this (session, sf).

    Activation also sets two planner confs that only pay off when the
    one-file-per-bucket sorted invariant THIS function establishes
    holds (r11, measured in docs/BUCKETED_SF100_r11.json):
    `spark.sql.legacy.bucketedTableScan.outputOrdering` lets the scan
    report its per-bucket sort order (Spark dropped the default claim
    in 3.0 because multi-file buckets interleave; our writer clusters
    to exactly one file per bucket, and Spark still re-verifies
    single-file-ness per scan before reporting, so the conf is safe
    even for other bucketed tables in the session), and
    `spark.sql.execution.replaceHashWithSortAgg` turns any groupBy on
    the bucket key into a zero-sort zero-hash-table STREAMING
    SortAggregate over the sorted bucket files (TPC-H Q3's orderkey
    pre-agg: 8.7 -> 6.5 s at sf100; the rule only fires when the
    child's ordering already satisfies the keys, so it can never add
    a sort elsewhere). Set once at layout activation — the function
    that owns the invariant — not per query.
    """
    key = (_session_key(spark), sf)
    if key in _BUCKETED_TABLES:
        return True
    if not os.path.isdir(base):
        return False
    try:
        src_tag = int(
            max(
                os.path.getmtime(os.path.join(sf, f"{n}.parquet"))
                for n in _BUCKET_SPEC
                if os.path.exists(os.path.join(sf, f"{n}.parquet"))
            )
        )
    except (OSError, ValueError):
        src_tag = 0
    # The parquet FILES are session-independent (bucket ids live in
    # the file names, exactly how a metastore-backed deployment reads
    # a bucketed table written by an earlier job); only the catalog
    # METADATA is per-session. A later session therefore re-REGISTERS
    # the existing files with CREATE TABLE ... CLUSTERED BY ...
    # LOCATION (milliseconds) instead of re-paying the relayout write
    # (r11: the pid-tagged copies made every fresh process rewrite
    # ~12 GB at sf100 — 200 s and double tmpfs). The src_tag in the
    # name keeps a regenerated source from silently reusing stale
    # buckets.
    import re

    # sanitize: 'sf0.1' would otherwise read as schema.table
    safe = re.sub(r"[^A-Za-z0-9]+", "_", os.path.basename(os.path.normpath(sf)))
    tag = f"{safe}_{src_tag}_b{n_buckets}"
    out = os.path.join(base, f"prs_bucketed_{tag}")
    names = {}
    try:
        for name, bucket_col in _BUCKET_SPEC.items():
            tbl = f"prs_{name}_atrest_{tag}"
            path = os.path.join(out, name)
            if not spark.catalog.tableExists(tbl):
                if not os.path.exists(os.path.join(path, "_SUCCESS")):
                    # The directory is SHARED across processes (the
                    # whole point of dropping the pid from the tag in
                    # r11) but two fresh processes can race here, both
                    # seeing a missing _SUCCESS (ADVICE r11, medium).
                    # Commit protocol: build into a process-unique
                    # dir, then atomically os.rename into place — a
                    # complete, _SUCCESS-bearing file set appears at
                    # `path` in one step or not at all; the loser's
                    # rename fails (ENOTEMPTY/EEXIST) and it registers
                    # over the winner's files instead.
                    build_tbl = f"{tbl}_build_{os.getpid()}"
                    build_path = f"{path}.build-{os.getpid()}"
                    # one file per bucket: cluster rows by the bucket
                    # hash before the bucketed write so each bucket is
                    # a single contiguous file, not #tasks fragments
                    (
                        load(spark, sf, name)
                        .repartition(n_buckets, F.col(bucket_col))
                        .write.mode("overwrite")
                        .format("parquet")
                        .bucketBy(n_buckets, bucket_col)
                        .sortBy(bucket_col)
                        .option("path", build_path)
                        .saveAsTable(build_tbl)
                    )
                    # external table: DROP leaves the files in place
                    spark.sql(f"DROP TABLE {build_tbl}")
                    try:
                        os.rename(build_path, path)
                    except OSError:
                        import shutil

                        shutil.rmtree(build_path, ignore_errors=True)
                        if not os.path.exists(
                            os.path.join(path, "_SUCCESS")
                        ):
                            raise  # not a lost race: surface it
                # register metadata over the committed files (this
                # process's rename or a concurrent winner's)
                cols = ", ".join(
                    f"{f.name} {f.dataType.simpleString()}"
                    for f in load(spark, sf, name).schema.fields
                )
                spark.sql(
                    f"CREATE TABLE {tbl} ({cols}) USING parquet"
                    f" CLUSTERED BY ({bucket_col})"
                    f" SORTED BY ({bucket_col})"
                    f" INTO {n_buckets} BUCKETS LOCATION '{path}'"
                )
            names[name] = tbl
        _BUCKETED_TABLES[key] = names
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
        )
        spark.conf.set("spark.sql.execution.replaceHashWithSortAgg", "true")
    except Exception:  # no space / read-only base: originals still work
        return False
    for k in [k for k in _LOAD_CACHE if k[1] == sf and k[2] in names]:
        del _LOAD_CACHE[k]
    return True


def bucketed_active(spark: SparkSession, sf: str) -> bool:
    """True when `use_bucketed_layout` is in effect for (session, sf).

    Lets a query pick a physical shape by LAYOUT, the way a
    cost-based planner would consult table properties: e.g. TPC-H Q3
    semi-filters lineitem before its pre-agg only at rest, where the
    SMJ-semi is bucket-local and order-preserving (zero extra
    exchange, sort-agg retained); on the stock layout the same semi
    would exchange raw lineitem rows that the pre-agg's map-side
    partial would otherwise have collapsed first."""
    return (_session_key(spark), sf) in _BUCKETED_TABLES


def load(spark: SparkSession, sf: str, name: str) -> DataFrame:
    """Parquet scan of one driver table (vectorized reader, pushdown-able).

    Some driver snapshots write events.parquet `ts` as TIMESTAMP(NANOS),
    which Spark's parquet reader rejects (PARQUET_TYPE_ILLEGAL); others
    write plain TIMESTAMP(MICROS) with or without isAdjustedToUTC.
    Handle all three: read with the legacy nanosAsLong conf (a no-op for
    µs files) and normalize whatever `ts` type surfaces via
    `normalize_ts`.

    The nanosAsLong conf is deliberately left set session-wide: Spark
    consults it again at execution time (the scan's per-file schema
    converter), so a save/restore scoped to DataFrame creation would
    make a later ACTION on an ns-file frame fail. No driver table other
    than events carries a nanos column, and an unrelated nanos read
    surfacing as long is a visible type, not silent corruption.
    """
    key = (_session_key(spark), sf, name)
    cached = _LOAD_CACHE.get(key)
    if cached is not None:
        return cached
    bucketed = _BUCKETED_TABLES.get((_session_key(spark), sf))
    if bucketed is not None and name in bucketed:
        df = spark.table(bucketed[name])
        _LOAD_CACHE[key] = df
        return df
    lay = _RELAYOUT_DIRS.get(sf)
    if lay is not None and name in _RELAYOUT_SPLITS:
        dst = os.path.join(lay, name)
        if os.path.exists(os.path.join(dst, "_SUCCESS")):
            # multi-file copy written by `relayout` (ts already
            # normalized there for events)
            df = spark.read.parquet(dst)
            _LOAD_CACHE[key] = df
            return df
    path = os.path.join(sf, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = normalize_ts(spark.read.parquet(path))
    else:
        df = spark.read.parquet(path)
    _LOAD_CACHE[key] = df
    return df


#: Memoized unresolved-scan DataFrames. `spark.read.parquet` performs a
#: driver-side file listing + footer schema inference EVERY call —
#: ~100-200ms of fixed cost per query at bench scale, pure waste since
#: the driver tables are immutable for a session's lifetime. The cached
#: object is just the analyzed logical plan (no data is pinned); actions
#: on it re-scan files normally. Keyed by session identity so a fresh
#: driver session never sees another session's plans.
_LOAD_CACHE: dict = {}


def _session_key(spark: SparkSession) -> str:
    """Stable per-session cache key. `id(spark)` is unsafe: CPython can
    reuse the address for a NEW session after the old one is stopped,
    silently serving DataFrames bound to a dead SparkContext. The
    applicationId is unique per started context; fall back to id() only
    if the context is already gone (entries then die unused). Stopped
    from Python, `_jsc` is None (AttributeError); a failing JVM call
    raises Py4JJavaError. Stopped only on the JVM side, the context
    still reports its own (never reused) id. Anything else is a bug and
    propagates."""
    try:
        return spark.sparkContext.applicationId
    except (AttributeError, Py4JJavaError):  # key can't collide with a live one
        return f"dead-{id(spark)}"


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: Union[StructType, str]
) -> DataFrame:
    """A driver-built list of rows as a DataFrame over a local relation.

    `spark.createDataFrame(rows, schema)` pickles the rows and
    parallelizes them over the session's default parallelism; the plan
    scans that RDD (`Scan ExistingRDD`, no size statistics) and every
    action on it runs a job that unpickles the rows task by task —
    0.26 s of run time for the 3-row Census Reporter pivot. Built as one
    Arrow table instead (one typed array per column, types from the
    schema), the frame is a `LocalRelation`: a `LocalTableScan` the
    planner sizes and broadcasts, 0.03 s for the same pivot.

    Values are exact: pyarrow keeps NaN apart from NULL and int64 above
    2^53 (a pandas intermediate would turn None into NaN and route
    nullable bigints through float64). `schema` is a StructType or a
    DDL string; each row holds one value per field, in field order."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [
            pa.array([r[i] for r in rows], type=f.type)
            for i, f in enumerate(arrow_schema)
        ],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def pack_ascii(col) -> Column:
    """A short ASCII string (1–7 bytes) packed into a BIGINT so it can
    ride a keeper-selection min/max STRUCT without breaking
    HashAggregateExec: var-length aggregate BUFFERS (any string or
    array inside min/max/min_by/first) silently demote the whole
    aggregate to SortAggregate — a per-partition sort of the full
    input stream (r12 plan audit found this in the dedup/curate/
    langid keeper aggregates). Group KEYS may stay var-length; only
    what the buffer carries must be fixed-width. Byte order is
    preserved, so comparisons between EQUAL-LENGTH packed strings
    keep their lexicographic order."""
    return F.conv(F.hex(F.encode(col, "utf-8")), 16, 10).cast("long")


def unpack_ascii(col) -> Column:
    """Inverse of `pack_ascii`. Exact for ≥1 printable-ASCII byte:
    every byte is ≥ 0x20, so the minimal hex form conv() emits has no
    leading zero and an even digit count — unhex round-trips the
    bytes exactly."""
    return F.decode(
        F.unhex(F.conv(col.cast("string"), 10, 16)), "utf-8"
    )


def dsum(col, scale: int = 2) -> Column:
    """Order-independent, oracle-exact sum of a double column.

    sum(double) is accumulation-order dependent (Spark partial aggs vs
    DuckDB's scan order produce last-ulp differences that break value
    hashing). Each value is quantized to an INTEGER number of
    10^-scale units — floor(x·10^scale + 0.5) cast to BIGINT — summed
    as a long, and divided back once. Long sums are exact and
    commutative, so the result is partition-count independent, and the
    aggregate stays on the codegen'd long path (the previous
    DECIMAL(18,s) accumulator was bit-stable too but ran the
    object-path decimal aggregate — 90× slower on q_groupby_rss at
    sf0.1; floor beats round() ~1.5× because round routes every value
    through BigDecimal while floor is one double instruction).

    Cross-engine exactness: x·10^s + 0.5 and floor are IEEE-identical
    single double ops in Spark and DuckDB — verified bit-identical
    over every driver double column at scales 2/4/6. (The quantizer is
    round-half-toward-+inf; exact .5 ties cannot occur for data on a
    10^-scale grid, where x·10^s lands within 1 ulp of an integer.)
    Headroom: Σ|x|·10^scale must stay < 2^63 (~9.2e18) — at extreme
    corpus scale drop `scale`, which only changes the (documented)
    quantization, not the stability guarantee.

    Oracle: CAST(SUM(CAST(floor(x*1eS + 0.5) AS BIGINT)) AS DOUBLE) / 1eS.
    """
    c = F.col(col) if isinstance(col, str) else col
    f = float(10**scale)
    return F.sum(
        F.floor(c * F.lit(f) + F.lit(0.5)).cast("bigint")
    ).cast("double") / F.lit(f)


def davg(col, scale: int = 4) -> Column:
    """Oracle-exact mean: exact long-units sum / count, divided in double.

    Oracle: (CAST(SUM(CAST(floor(x*1eS + 0.5) AS BIGINT)) AS DOUBLE) / 1eS) / COUNT(x).
    """
    c = F.col(col) if isinstance(col, str) else col
    f = float(10**scale)
    return (
        F.sum(F.floor(c * F.lit(f) + F.lit(0.5)).cast("bigint")).cast("double")
        / F.lit(f)
    ) / F.count(c)


def oracle_dsum(expr: str, scale: int = 2) -> str:
    f = float(10**scale)
    return f"CAST(SUM(CAST(floor(({expr}) * {f} + 0.5) AS BIGINT)) AS DOUBLE) / {f}"


def oracle_davg(expr: str, scale: int = 4) -> str:
    f = float(10**scale)
    return (
        f"(CAST(SUM(CAST(floor(({expr}) * {f} + 0.5) AS BIGINT)) AS DOUBLE) / {f})"
        f" / COUNT({expr})"
    )
