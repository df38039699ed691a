"""Driver-table loaders + oracle-exactness helpers.

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet each under
/root/testdata/sf{0.001,0.01,0.1}/.
"""

from __future__ import annotations

import os
import re
from typing import Sequence, Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

from pandas_reporter_spark import artifacts

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


def _declare_layout(table: str, n: int) -> str:
    name = f"layout_{table}"

    def build(spark, sf, path):
        # `load` normalizes events.ts, so the copy stores a TIMESTAMP
        load(spark, sf, table).repartition(n).write.parquet(path)

    artifacts.declare(name, table, name, build)
    return name


#: The relayout copies, one artifact per table in `_RELAYOUT_SPLITS`.
LAYOUTS = tuple(_declare_layout(t, n) for t, n in _RELAYOUT_SPLITS.items())


def relayout(
    spark: SparkSession, sf: str, base: str = "/dev/shm"
) -> dict[str, dict]:
    """Build the multi-file copies of the big driver tables for `sf`
    and make `load` (and `stream_source`) read them in this session.

    WHY: the driver snapshots are one file with ONE row group per
    table, so every scan — and, worse, every shuffle-map stage over a
    fact table — runs as a single task no matter how many cores exist
    (measured: the lineitem⨝orders shuffle join drops 0.62s → 0.30s at
    sf0.1 once lineitem has 16 files). At the 100 TB design point this
    situation cannot arise: ingest controls file/row-group sizing
    (SCALING.md), and a table is thousands of splits. The copies are
    one-time table prep, like the bucketed layout (`BUCKETED`) and the
    scale queries' inputs (`operators.scale.INPUTS`): a cluster pays it
    at ingest, not per query.

    Each copy is an artifact (`LAYOUTS`) on the one lifecycle in
    `artifacts`, built side by side by `artifacts.run` like `ingest`'s
    sidecars, and the report has `ingest`'s shape: {name: {ok, primed,
    seconds, reason}}. The files are reused across sessions and
    processes (`_SUCCESS`); only the registration is per session.
    Identical data, different physical layout: results are unaffected
    (every registered aggregate is accumulation-order independent by
    construction — tables.dsum). A copy that fails leaves its table on
    the original file."""
    return artifacts.run(spark, sf, LAYOUTS, base)


#: Buckets per table of the at-rest layout, one file each.
_N_BUCKETS = 32

#: fact tables co-bucketed (and sorted) on the orderkey join column
_BUCKET_KEYS = {"lineitem": "l_orderkey", "orders": "o_orderkey"}

#: a bucketed write's file name ends in its bucket id
#: (`part-00000-<uuid>_00007.c000.snappy.parquet`), Spark's own rule
_BUCKET_ID = re.compile(r".*_(\d+)(?:\..*)?$")


def _table_name(path: str) -> str:
    """The catalog name of the bucketed table over directory `path`."""
    return re.sub(r"\W+", "_", path).strip("_")


def write_bucketed(df: DataFrame, col: str, n: int, path: str) -> None:
    """Write `df` under `path` in `n` buckets on `col`, each sorted on
    `col`. Spark writes buckets only through a catalog table, so this
    goes through a throwaway external one; DROP leaves the files."""
    tbl = _table_name(path)
    (
        df.write.format("parquet")
        .bucketBy(n, col)
        .sortBy(col)
        .option("path", path)
        .saveAsTable(tbl)
    )
    df.sparkSession.sql(f"DROP TABLE `{tbl}`")


def open_bucketed(
    spark: SparkSession, schema: StructType, col: str, n: int, path: str
) -> DataFrame:
    """The bucketed files under `path` as a catalog table: bucket ids
    live in the file names, so the table is metadata only (CREATE ...
    LOCATION, milliseconds), exactly how a metastore-backed deployment
    reads a table an earlier job wrote. Idempotent; the refresh drops
    a file listing cached from an earlier build at the same path."""
    tbl = _table_name(path)
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema)
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS `{tbl}` ({cols}) USING parquet"
        f" CLUSTERED BY ({col}) SORTED BY ({col}) INTO {n} BUCKETS"
        f" LOCATION '{path}'"
    )
    spark.catalog.refreshTable(tbl)
    return spark.table(tbl)


def _declare_bucketed(table: str, col: str) -> str:
    name = f"bucketed_{table}"

    def build(spark, sf, path):
        # cluster rows by the bucket hash first, so each bucket is one
        # task's output: one file, not a fragment from every task
        df = load(spark, sf, table).repartition(_N_BUCKETS, F.col(col))
        write_bucketed(df, col, _N_BUCKETS, path)

    def open_(spark, sf, path):
        ids = sorted(
            int(m.group(1))
            for f in os.listdir(path)
            if not f.startswith(("_", ".")) and (m := _BUCKET_ID.match(f))
        )
        if ids != list(range(_N_BUCKETS)):
            raise artifacts.Invalid(
                f"{len(ids)} files for {_N_BUCKETS} buckets, want one each"
            )
        schema = load(spark, sf, table).schema
        return open_bucketed(spark, schema, col, _N_BUCKETS, path)

    artifacts.declare(name, table, name, build, open_)
    return name


#: The at-rest layout, one artifact per table in `_BUCKET_KEYS`.
BUCKETED = tuple(_declare_bucketed(t, c) for t, c in _BUCKET_KEYS.items())


def use_bucketed_layout(
    spark: SparkSession, sf: str, base: str = "/dev/shm"
) -> bool:
    """Build (or reuse) lineitem/orders co-bucketed and sorted on
    orderkey (`BUCKETED`), so `load` serves the bucketed tables in this
    session. Returns True when both are registered.

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

    Each table is an artifact on the one lifecycle in `artifacts`:
    the files are session-independent, so a later session (or the
    same one after `artifacts.drop`) reuses them and pays only the
    catalog CREATE (r11: rewriting them per process cost 200 s and
    double tmpfs at sf100). Registration is activation: `load` serves
    a registered bucketed table ahead of the relayout copy, and
    `artifacts.drop` of both names turns the layout off again.

    Sorted buckets additionally let the sort-merge join skip its sort
    (SortExec sees the required ordering satisfied per bucket file).

    Activation also sets two planner confs that only pay off when the
    one-file-per-bucket sorted invariant holds, which each table's
    `open` checks before it registers (r11, measured in
    docs/BUCKETED_SF100_r11.json):
    `spark.sql.legacy.bucketedTableScan.outputOrdering` lets the scan
    report its per-bucket sort order (Spark dropped the default claim
    in 3.0 because multi-file buckets interleave; Spark still
    re-verifies single-file-ness per scan before reporting, so the
    conf is safe even for other bucketed tables in the session), and
    `spark.sql.execution.replaceHashWithSortAgg` turns any groupBy on
    the bucket key into a zero-sort zero-hash-table STREAMING
    SortAggregate over the sorted bucket files (TPC-H Q3's orderkey
    pre-agg: 8.7 -> 6.5 s at sf100; the rule only fires when the
    child's ordering already satisfies the keys, so it can never add
    a sort elsewhere). Set once at layout activation, not per query.
    """
    artifacts.run(spark, sf, BUCKETED, base)
    if not bucketed_active(spark, sf):
        return False
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    spark.conf.set("spark.sql.execution.replaceHashWithSortAgg", "true")
    return True


def bucketed_active(spark: SparkSession, sf: str) -> bool:
    """True when both at-rest bucketed tables are registered for
    (session, sf) (`use_bucketed_layout`).

    Lets a query pick a physical shape by LAYOUT, the way a
    cost-based planner would consult table properties: e.g. TPC-H Q3
    semi-filters lineitem before its pre-agg only at rest, where the
    SMJ-semi is bucket-local and order-preserving (zero extra
    exchange, sort-agg retained); on the stock layout the same semi
    would exchange raw lineitem rows that the pre-agg's map-side
    partial would otherwise have collapsed first."""
    key = artifacts._session_key(spark)
    return all(artifacts.lookup(key, sf, n) for n in BUCKETED)


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
    surfacing as long is a visible type, not silent corruption. It is
    part of the session posture (`session.configure`), so on a
    configured session this set changes nothing; it stays for sessions
    that read a table before any query configured them.

    Served, first match: the session's registered bucketed table
    (`use_bucketed_layout`), its relayout copy (`relayout`), the
    memoized scan of the snapshot file (`raw_scan`); events get
    `normalize_ts` over the scan, which lists no files.
    """
    # a registered artifact's frame is its memoized scan
    hit = artifacts.lookup(artifacts._session_key(spark), sf, f"bucketed_{name}")
    if hit is not None:
        return hit[1]
    df = raw_scan(spark, sf, name)
    return normalize_ts(df) if name == "events" else df


def stream_source(spark: SparkSession, sf: str, name: str) -> tuple[str, str]:
    """(directory, pathGlobFilter) for a file stream over table `name`.

    The session's relayout copy when it has one: the driver snapshot
    is ONE row group, so a stream sourced from it runs its entire map
    side (scan → filter/join → shuffle write) as a SINGLE task per
    micro-batch — the dominant term of the streaming bench floor
    (addBatch 599 ms of a 1.24 s enrich run, measured sf0.1). A real
    landing dir is many files by construction; the copy reproduces
    that shape. Otherwise the table itself: a DIRECTORY of part files
    (the make_sfn synthetic trees, any real ingest) is monitored as
    is, and the snapshot's single FILE through its parent directory,
    globbed to its name. Globbing the file name against a directory
    layout matches ZERO part files and silently streamed nothing —
    caught by the sf1 oracle sweep (round 8)."""
    copy = artifacts.lookup(artifacts._session_key(spark), sf, f"layout_{name}")
    if copy is not None:
        return copy[0], "*.parquet"
    path = os.path.join(sf, f"{name}.parquet")
    if os.path.isdir(path):
        return path, "*.parquet"
    return sf, f"{name}.parquet"


#: (session_key, sf, table) -> the scan of the snapshot file(s), as
#: read, before `normalize_ts`: the engine's one session memo.
#: `spark.read.parquet` lists the files and runs a schema-inference job
#: EVERY call, ~100-200 ms of fixed cost per query at bench scale, for
#: tables that are immutable for a session's lifetime. The memoized
#: object is just the analyzed logical plan (no data is pinned);
#: actions on it re-scan the files. Keyed by session identity so a
#: fresh driver session never sees another session's plans.
_LOAD_CACHE: dict = {}


def raw_scan(spark: SparkSession, sf: str, name: str) -> DataFrame:
    """The memoized scan of the files a plan over table `name` reads
    (`stream_source`'s files): the session's relayout copy when it has
    one, else the snapshot, with its physical `ts` type as stored."""
    key = artifacts._session_key(spark)
    copy = artifacts.lookup(key, sf, f"layout_{name}")
    if copy is not None:
        return copy[1]
    df = _LOAD_CACHE.get((key, sf, name))
    if df is None:
        if name == "events":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(os.path.join(sf, f"{name}.parquet"))
        _LOAD_CACHE[(key, sf, name)] = df
    return df


def _parquet_files(path: str) -> list[str]:
    """`path` itself when it is a file, else the part files Spark reads
    in the directory: names starting with ``_`` or ``.`` (``_SUCCESS``,
    checksums, in-flight files) are hidden from Spark and skipped."""
    if not os.path.isdir(path):
        return [path]
    return [
        os.path.join(path, n)
        for n in sorted(os.listdir(path))
        if not n.startswith(("_", "."))
    ]


def footer_rows(path: str) -> int:
    """Row count of the parquet file at `path`, or of every part file
    in the directory at `path`, summed from the footers alone: no Spark
    job, ~1 ms where `count()` costs a scan job (SCALING.md). Exact for
    any file set a plan reads in full; a filtered frame still needs
    `count()`."""
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in _parquet_files(path))


def table_rows(sf: str, name: str) -> int:
    """Row count of driver table `name` from its footers. The relayout
    copy and the bucketed layout hold the same rows as the snapshot."""
    return footer_rows(os.path.join(sf, f"{name}.parquet"))


def read_footed(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan of the Spark-written files at `path`, with the
    schema Spark recorded in their footer (the same one its inference
    would read back) instead of the schema-inference job
    `spark.read.parquet` runs: a scan that starts no job until it is
    acted on."""
    import json

    import pyarrow.parquet as pq

    meta = pq.read_schema(_parquet_files(path)[0]).metadata
    spark_schema = meta[b"org.apache.spark.sql.parquet.row.metadata"]
    return spark.read.schema(StructType.fromJson(json.loads(spark_schema))).parquet(
        path
    )


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
