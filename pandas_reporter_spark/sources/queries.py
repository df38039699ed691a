"""Driver-registered queries for the source/sink layer (S3, S7, S12).

These make the source adapters visible to the correctness gate:
- q_source_cr_pivot: CR-JSON pivot over the committed offline fixture
- q_source_csv_roundtrip: parquet → CSV → scan back → aggregate (S7)
- q_sink_parquet: aggregate → parquet sink → read back (S12); the
  oracle runs the same aggregate on the original table, so the sink
  round-trip itself is what's being hash-checked.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import functions as F

from pandas_reporter_spark.registry import query
from pandas_reporter_spark.session import configure
from pandas_reporter_spark.sources.crjson import cr_bulk_frame, cr_frame
from pandas_reporter_spark.sources.varrep import (
    get_varrep_dataframe,
    moe_from_replicates,
    varrep_frame,
)
from pandas_reporter_spark.tables import dsum, load


def _scratch(name: str, sf: str) -> str:
    """Per-process, per-sf scratch dir for roundtrip/compaction sinks.

    A FIXED shared path races any concurrent session (one process's
    mode('overwrite') deletes part files another is mid-read on — a
    spurious correctness FAIL) and collides across users on a shared
    /tmp. Keying by sf basename + pid makes the path private to this
    process while staying STABLE within it (so Spark's per-path file-
    listing cache sees overwrites by the same process, which
    invalidate it correctly)."""
    return os.path.join(
        tempfile.gettempdir(),
        f"prs_{name}_{os.path.basename(os.path.normpath(sf))}_{os.getpid()}",
    )


_FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")


#: The committed CR fixtures are CONSTRUCTED from a closed form
#: (geo g ∈ 1..5: estimate(var v) = 10·v·g, margin = v·g; tract names
#: indexed by g), so their expected pivots are expressible as plain SQL
#: over that closed form — the oracle checks the whole JSON-ingest +
#: title-stack + margin-interleave path against it, independent of the
#: ingest code. Not a tautology: the fixture file and this SQL share
#: only the generator formula, not any code path.
_CR_GEOS = """
    (VALUES (1, '14000US06073000100', 'Census Tract 1, San Diego, CA'),
            (2, '14000US06073000201', 'Census Tract 2.01, San Diego, CA'),
            (3, '14000US06073000202', 'Census Tract 2.02, San Diego, CA'),
            (4, '14000US06073000300', 'Census Tract 3, San Diego, CA'),
            (5, '14000US06073000400', 'Census Tract 4, San Diego, CA'))
"""


def _cr_pivot_oracle(max_g: int) -> str:
    cols = []
    for v in range(1, 7):
        est = f"CAST(10 * {v} * g AS DOUBLE)"
        m90 = f"CAST({v} * g AS DOUBLE)"
        # cr_b99001_part2.json leaves var 3 of tract 4 (g=5) unpublished
        if v == 3:
            est = f"CASE WHEN g = 5 THEN NULL ELSE {est} END"
            m90 = f"CASE WHEN g = 5 THEN NULL ELSE {m90} END"
        cols.append(f"{est} AS B9900100{v}")
        cols.append(f"{m90} AS B9900100{v}_m90")
    return f"""
    SELECT geoid, name, {', '.join(cols)}
    FROM (SELECT * FROM {_CR_GEOS} AS t(g, geoid, name) WHERE g <= {max_g})
    ORDER BY geoid
    """


@query("q_source_cr_pivot", oracle=_cr_pivot_oracle(3))
def q_source_cr_pivot(spark, sf):
    """S3: CR-JSON → wide frame on the offline fixture (3 geos × 6 vars
    → 3 rows × 14 cols, margins interleaved). Oracled since r6 against
    the fixture's closed-form generator (see _cr_pivot_oracle)."""
    configure(spark)
    with open(os.path.join(_FIXTURES, "cr_b99001.json")) as f:
        data = json.load(f)
    cf = cr_frame(spark, data, "B99001")
    return cf.df


@query("q_source_cr_bulk", oracle=_cr_pivot_oracle(5))
def q_source_cr_bulk(spark, sf):
    """S3 scale path: `spark.read.json` over a cache dir of ≥2 CR-JSON
    responses → explode + wide map-extract projection (5 geos × 14
    cols, one unpublished cell surfacing NULL). Frame-equality with the
    per-file driver pivots is pinned in tests/test_sources.py; oracled
    since r6 against the fixtures' closed-form generator."""
    configure(spark)
    cf = cr_bulk_frame(
        spark,
        [
            os.path.join(_FIXTURES, "cr_b99001.json"),
            os.path.join(_FIXTURES, "cr_b99001_part2.json"),
        ],
        "B99001",
    )
    return cf.df.orderBy("geoid")


@query(
    "q_source_csv_roundtrip",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n,
           CAST(SUM(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100.0 AS sum_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_source_csv_roundtrip(spark, sf):
    """S7: CSV scan. lineitem → CSV → read back with explicit schema →
    aggregate; hash-matching the oracle on the parquet original proves
    the CSV writer/scanner round-trips values exactly."""
    configure(spark)
    li = load(spark, sf, "lineitem").select(
        "l_returnflag", "l_quantity"
    )
    out = _scratch("csv_roundtrip", sf)
    li.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.csv(out, header=True, schema="l_returnflag string, l_quantity double")
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n"), dsum("l_quantity").alias("sum_qty")
    )


@query(
    "q_varrep_moe",
    oracle="""
    -- replicate i = est + ((i*o_orderkey) % 7 - 3): integer offsets, so
    -- every squared diff is exact; sum order mirrors Spark's left-to-right
    SELECT o_orderkey,
           round(1.645 * sqrt(4.0/80.0 * list_aggregate(
             list_transform(range(1, 81),
                            i -> CAST((i * o_orderkey) % 7 - 3 AS DOUBLE) ^ 2),
             'sum')), 6) AS moe_rep
    FROM orders
    """,
)
def q_varrep_moe(spark, sf):
    """S11 on driver tables: MOE from 80 synthesized replicates.

    Replicates are deterministic offsets of o_totalprice; the registered
    check pins the successive-difference formula end-to-end
    (1.645·sqrt((4/80)·Σ(repᵢ−est)²)) as an 80-term codegen'd
    expression — no shuffle, scan-speed at any scale. The replicates
    are SQL text, so the JVM parses the whole formula in one call.
    """
    configure(spark)
    o = load(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    reps = [
        f"o_totalprice + CAST(({i} * o_orderkey) % 7 - 3 AS DOUBLE)"
        for i in range(1, 81)
    ]
    return o.select(
        "o_orderkey",
        F.round(moe_from_replicates("o_totalprice", reps), 6).alias("moe_rep"),
    )


def _varrep_source_oracle() -> str:
    """Golden-pin oracle: the committed VRT mini-fixture is static, so
    the expected (est, published-MOE, recomputed-MOE) frame is a
    constant. ESTIMATE follows the fixture generator's closed form
    (1000·g + 37·order); the MOE pins are the published values the
    replicate recomputation must land on (±0.01), which is the whole
    point of the round-trip check."""
    moe = {
        (1, 1): 10.28, (1, 2): 10.35, (1, 3): 10.38, (1, 4): 10.38,
        (1, 5): 10.35, (2, 1): 10.35, (2, 2): 10.38, (2, 3): 10.38,
        (2, 4): 10.35, (2, 5): 10.42, (3, 1): 10.38, (3, 2): 10.38,
        (3, 3): 10.35, (3, 4): 10.42, (3, 5): 10.33,
    }
    geoid = {1: "14000US11001000100", 2: "14000US11001000201",
             3: "14000US11001000202"}
    rows = ",\n      ".join(
        f"('B01001', '{geoid[g]}', {o}, CAST({1000 * g + 37 * o} AS DOUBLE),"
        f" CAST({m} AS DOUBLE), CAST({m} AS DOUBLE), TRUE)"
        for (g, o), m in sorted(moe.items())
    )
    return f"""
    SELECT * FROM (VALUES
      {rows})
    AS t(TBLID, GEOID, "ORDER", ESTIMATE, MOE, MOE_REP, moe_agrees)
    """


@query("q_varrep_source", oracle=_varrep_source_oracle())
def q_varrep_source(spark, sf):
    """S11 source half: VRT long-format CSV ingest -> replicate MOE.

    Reads the committed mini-fixture in the public
    TBLID,GEOID,ORDER,TITLE,ESTIMATE,MOE,SE,CV,VAR_REP1..80 layout
    (reference test_basic.py:221-225 semantics), computes MOE_REP from
    the 80 replicates, and returns rows where the recomputed margin
    agrees with the published MOE — the round-trip check that the
    ingest + formula pipeline is self-consistent.
    """
    configure(spark)
    df = varrep_frame(get_varrep_dataframe(spark))
    return df.select(
        "TBLID",
        "GEOID",
        "ORDER",
        "ESTIMATE",
        "MOE",
        F.round("MOE_REP", 2).alias("MOE_REP"),
        (F.abs(F.round("MOE_REP", 2) - F.col("MOE")) < 0.01).alias("moe_agrees"),
    )


@query(
    "q_sink_parquet",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(SUM(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100.0 AS sum_price
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def q_sink_parquet(spark, sf):
    """S12: parquet sink. Aggregate → write parquet → read back. The
    read-back frame must hash-match the oracle's direct aggregate —
    i.e. the sink loses nothing. Snappy parquet, one file per shuffle
    partition (at scale: partitionBy on a stable key for pruning)."""
    configure(spark)
    li = load(spark, sf, "lineitem")
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), dsum("l_extendedprice").alias("sum_price")
    )
    out = os.path.join(tempfile.gettempdir(), "prs_sink_parquet")
    agg.write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)

_CENSUS_WORKFLOW_ORACLE = f"""
-- Closed form of the committed fixture (est(v,g)=10vg, moe=vg) pushed
-- through the engine's EXACT float chain: per-row sum_m margin is
-- sqrt(4g²+25g²) (integer radicand, exact), and group_sum's RSS margin
-- re-quantizes m² as ⌊m²⌋ + round(frac·1e8)/1e8 before the final sqrt
-- (frame._rss_sum's split-sum — replicated op-for-op so every double
-- instruction matches Spark's).
WITH geos AS (
  SELECT g, geoid FROM {_CR_GEOS} AS t(g, geoid, name) WHERE g <= 3
), m AS (
  SELECT g, geoid, sqrt(CAST(29 * g * g AS DOUBLE)) AS tm FROM geos
), q AS (
  SELECT g, geoid, tm * tm AS sq FROM m
)
SELECT geoid,
       CAST(20 * g AS DOUBLE) AS B99001002_sum,
       CAST(2 * g AS DOUBLE)  AS B99001002_m90_sum_rs,
       CAST(50 * g AS DOUBLE) AS B99001005_sum,
       CAST(5 * g AS DOUBLE)  AS B99001005_m90_sum_rs,
       CAST(70 * g AS DOUBLE) AS total_sex_sum,
       sqrt(CAST(CAST(floor(sq) AS BIGINT) AS DOUBLE)
            + CAST(floor((sq - floor(sq)) * 1e8 + 0.5) AS BIGINT) / 1e8)
         AS total_sex_m90_sum_rs
FROM q
"""


@query("q_census_workflow", oracle=_CENSUS_WORKFLOW_ORACLE)
def q_census_workflow(spark, sf):
    """The reference's core workflow end-to-end on the CR fixture:
    pivot -> margin-carrying select -> sum_m derived measure -> RSS
    grouped margins (censusreporter.py ingest + test_basic.py:90-207
    semantics, all through the CensusFrame layer)."""
    configure(spark)
    with open(os.path.join(_FIXTURES, "cr_b99001.json")) as f:
        data = json.load(f)
    cf = cr_frame(spark, data, "B99001")
    sel = cf[["geoid", "B99001002", "B99001005"]]  # margin-carry expands
    est, moe = sel.sum_m("B99001002", "B99001005")
    with_total = sel.with_measure("total_sex", est, moe)
    grouped = with_total.group_sum("geoid")
    return grouped.df



@query(
    "q_source_schema_merge",
    oracle="""
    -- batch 1 (even doc_ids) predates the quality column; batch 2
    -- (odd) carries quality = n_chars/1000. The merged read must see
    -- batch-1 quality as NULL — exactly what this UNION models.
    WITH merged AS (
      SELECT doc_id, source, CAST(NULL AS DOUBLE) AS quality
      FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id, source, round(n_chars / 1000.0, 3) AS quality
      FROM documents WHERE doc_id % 2 = 1
    )
    SELECT source, COUNT(*) AS n,
           CAST(COUNT(quality) AS BIGINT) AS n_scored,
           round(CAST(SUM(CAST(floor(quality * 1000.0 + 0.5) AS BIGINT))
                 AS DOUBLE) / 1000.0, 3) AS sum_quality
    FROM merged GROUP BY source
    """,
)
def q_source_schema_merge(spark, sf):
    """Schema evolution on a parquet lake: an old batch written WITHOUT
    the `quality` column and a new batch WITH it, read as one table
    via mergeSchema — old rows surface NULL for the added column.

    The 100 TB reality: columns get added mid-corpus and you cannot
    rewrite history. Parquet + `mergeSchema=true` reconciles footer
    schemas at planning time (on a lake, the table format pins the
    merged schema in metadata instead, making the read free); readers
    see one evolved schema and NULL-fill the old files. The oracle
    models exactly that contract with a UNION, so the hash check pins
    the NULL-fill semantics, not just row counts.
    """
    configure(spark)
    d = load(spark, sf, "documents")
    root = tempfile.mkdtemp(prefix="prs_schema_merge_")
    d.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "source"
    ).write.mode("overwrite").parquet(os.path.join(root, "batch1"))
    d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        "source",
        F.round(F.col("n_chars") / 1000.0, 3).alias("quality"),
    ).write.mode("overwrite").parquet(os.path.join(root, "batch2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "batch1"), os.path.join(root, "batch2")
    )
    return merged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.count("quality").alias("n_scored"),
        F.round(dsum("quality", scale=3), 3).alias("sum_quality"),
    )


@query(
    "q_source_jsonl_roundtrip",
    oracle="""
    -- checksum on the parquet ORIGINAL: hash-matching it after a
    -- JSONL round-trip proves the writer/scanner preserves every
    -- text byte and value exactly
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(CAST(concat('0x', substring(md5(text), 1, 15))
                    AS BIGINT) % 1000000007) AS BIGINT) AS text_check
    FROM documents GROUP BY source
    """,
)
def q_source_jsonl_roundtrip(spark, sf):
    """S7-family: JSON-Lines scan — the interchange format LLM
    corpora actually ship in (one JSON object per line). documents →
    JSONL → read back with explicit schema → per-source rollup whose
    text column enters an md5-derived checksum, so hash-matching the
    oracle (which reads the parquet ORIGINAL) proves the JSONL
    writer/scanner round-trips every text byte exactly — escaping,
    unicode, and all.

    Scale shape: Spark's json writer/reader are per-partition
    streaming codecs (no shuffle either way); schema is EXPLICIT on
    read (schema inference is a full extra pass at 100 TB — the
    standing source-layer rule, same as the CSV roundtrip).
    """
    configure(spark)
    d = load(spark, sf, "documents")
    out = _scratch("jsonl_roundtrip", sf)
    d.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).json(out)
    h = F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long")
    return back.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.sum(h % F.lit(1000000007)).cast("bigint").alias("text_check"),
    )


#: compaction target: text bytes per output file. 2 MB at test scale
#: so the op exercises multi-file output on the driver snapshot; a
#: production deployment sets ~128 MB (one HDFS/object-store block).
_COMPACT_CHARS = 2_000_000


@query(
    "q_sink_compaction",
    oracle=f"""
    -- size-derived file count + full-fidelity checksum, computed on
    -- the ORIGINAL: hash-matching after the compacted write/read
    -- proves the re-layout preserved every row and byte
    SELECT CAST(GREATEST(1, (SUM(n_chars) + {_COMPACT_CHARS} - 1)
                 // {_COMPACT_CHARS}) AS BIGINT) AS n_files,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(CAST(concat('0x', substring(md5(text), 1, 15))
                    AS BIGINT) % 1000000007) AS BIGINT) AS text_check
    FROM documents
    """,
)
def q_sink_compaction(spark, sf):
    """S12-family: COMPACTION — the small-files problem every
    long-running ingest hits (thousands of tiny part files per
    micro-batch/partition turn listing + open overhead into the
    dominant scan cost). Re-lay the table out at a SIZE-DERIVED file
    count: n_files = ceil(total_text_chars / target), rewrite via
    repartition(n_files), read the compacted copy back and emit its
    row count + char volume + md5-derived text checksum — which must
    hash-match the oracle computed on the ORIGINAL, proving the
    re-layout lost nothing.

    Scale shape: one stats aggregate (map-side combined, one row
    collected — bounded), one round-robin repartition exchange
    (unavoidable: re-sizing files IS a data movement), one
    streaming-codec write. The size proxy is SUM(n_chars) — a column
    the table carries — rather than filesystem bytes, so the file
    count is SQL-replayable and layout-independent (the same corpus
    compacts to the same count whether it arrives as 3 files or
    30,000). The exact-file-count assertion lives in tests (the
    oracle checks values; the filesystem is Spark-side).
    """
    configure(spark)
    d = load(spark, sf, "documents")
    st = d.agg(
        F.sum("n_chars").cast("bigint").alias("sc"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    ).collect()[0]
    # SUM over zero rows is NULL: an empty table degrades to a single
    # empty file (n_files=1), matching the oracle's NULL-sum row,
    # instead of raising on int(None)
    n_files = max(1, (int(st["sc"] or 0) + _COMPACT_CHARS - 1) // _COMPACT_CHARS)
    out = _scratch("compaction", sf)
    d.repartition(n_files).write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    h = F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long")
    return back.agg(
        F.lit(n_files).cast("bigint").alias("n_files"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.sum(h % F.lit(1000000007)).cast("bigint").alias("text_check"),
    )
