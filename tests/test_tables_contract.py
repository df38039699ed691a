"""Driver-testdata contract pins.

The testdata's physical details have already changed once mid-project
(events.ts ns-INT64 -> µs-NTZ, round 4) and broke seven queries at
plan time. These pins make the NEXT snapshot change a loud, localized
test failure instead of a scattered plan-time regression: every driver
table must load, and the columns the registered queries depend on must
exist within a stable type family.

Current reality (round 5): dim keys are 32-bit ints, fact keys bigint,
o_orderdate / l_shipdate surface as timestamp_ntz (harmless for
comparisons — every query using them is hash-verified), and events.ts
is normalized to plain TIMESTAMP by tables.normalize_ts.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from pandas_reporter_spark.tables import (
    TABLES,
    footer_rows,
    load,
    local_frame,
    table_rows,
)

_FAMILIES = {
    "integral": {"tinyint", "smallint", "int", "bigint"},
    "double": {"float", "double"},
    "string": {"string"},
    # any event-time-capable encoding; queries that need LTZ normalize
    "timestamp": {"timestamp", "timestamp_ntz"},
    # must be EXACTLY ltz (the normalize_ts guarantee: watermarks
    # reject anything else)
    "timestamp_ltz": {"timestamp"},
    "float_array": {"array<float>", "array<double>"},
}

#: column -> type family from _FAMILIES
_CORE_COLUMNS = {
    "region": {"r_regionkey": "integral", "r_name": "string"},
    "nation": {"n_nationkey": "integral", "n_name": "string",
               "n_regionkey": "integral"},
    "customer": {"c_custkey": "integral", "c_name": "string",
                 "c_nationkey": "integral", "c_acctbal": "double",
                 "c_mktsegment": "string"},
    "supplier": {"s_suppkey": "integral", "s_nationkey": "integral"},
    "part": {"p_partkey": "integral", "p_type": "string",
             "p_retailprice": "double"},
    "orders": {"o_orderkey": "integral", "o_custkey": "integral",
               "o_orderdate": "timestamp", "o_orderpriority": "string",
               "o_totalprice": "double"},
    "lineitem": {"l_orderkey": "integral", "l_partkey": "integral",
                 "l_suppkey": "integral", "l_quantity": "double",
                 "l_extendedprice": "double", "l_discount": "double",
                 "l_returnflag": "string", "l_linestatus": "string",
                 "l_shipdate": "timestamp"},
    "events": {"event_id": "integral", "ts": "timestamp_ltz",
               "user_id": "integral", "event_type": "string",
               "value": "double", "props": "string"},
    "documents": {"doc_id": "integral", "text": "string",
                  "lang": "string", "source": "string",
                  "n_chars": "integral"},
    "embeddings": {"vec_id": "integral", "embedding": "float_array",
                   "label": "integral"},
}

_SF_DIRS = [
    d for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.01")
    if os.path.isdir(d)
]


@pytest.mark.parametrize("sf", _SF_DIRS)
@pytest.mark.parametrize("table", TABLES)
def test_table_contract(spark, sf, table):
    df = load(spark, sf, table)
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for col, family in _CORE_COLUMNS[table].items():
        assert col in got, f"{table}.{col} missing at {sf}: {sorted(got)}"
        assert got[col] in _FAMILIES[family], (
            f"{table}.{col} at {sf}: expected {family} "
            f"{sorted(_FAMILIES[family])}, got {got[col]} — a driver "
            "snapshot changed the physical type; normalize in "
            "tables.load like normalize_ts does for events.ts"
        )
    assert df.limit(1).count() >= 0  # scan actually executes


@pytest.mark.parametrize("sf", _SF_DIRS)
@pytest.mark.parametrize("table", TABLES)
def test_footer_rows_equal_the_scan_count(spark, sf, table):
    path = os.path.join(sf, f"{table}.parquet")
    want = spark.read.parquet(path).count()
    assert footer_rows(path) == table_rows(sf, table) == want


def test_footer_rows_of_a_multi_file_copy(spark, tmp_path):
    """A relayout copy's directory: the part files sum to the scan
    count, and `_SUCCESS` and the hidden checksum files are skipped."""
    from pandas_reporter_spark import artifacts, tables

    sf = "/root/testdata/sf0.001"
    base = str(tmp_path)
    assert artifacts.build(spark, sf, "layout_documents", base=base)["primed"]
    try:
        path = artifacts.path(spark, sf, "layout_documents", base)
        names = os.listdir(path)
        assert "_SUCCESS" in names and any(n.startswith(".") for n in names)
        parts = [n for n in names if n.startswith("part-")]
        assert len(parts) == tables._RELAYOUT_SPLITS["documents"]
        assert footer_rows(path) == spark.read.parquet(path).count()
        assert footer_rows(path) == table_rows(sf, "documents")
    finally:
        artifacts.drop(spark, sf, "layout_documents")


def test_relayout_redirect_preserves_data(spark, tmp_path):
    """`tables.relayout` must be invisible to results: same schema, same
    rows, different physical layout (multiple files). Uses its own base
    dir and unregisters the copies afterwards, so no other test reads
    them."""
    from pandas_reporter_spark import artifacts, tables

    sf = "/root/testdata/sf0.001"
    before = {}
    for t in ("lineitem", "events", "documents"):
        df = load(spark, sf, t)
        before[t] = (
            tuple(df.columns),
            df.count(),
            df.agg({df.columns[0]: "sum"}).collect()[0][0],
        )
    try:
        report = tables.relayout(spark, sf, base=str(tmp_path))
        assert list(report) == list(tables.LAYOUTS)
        assert all(r["ok"] and r["primed"] for r in report.values()), report
        for t in ("lineitem", "events", "documents"):
            df = load(spark, sf, t)
            assert df is artifacts.get(spark, sf, f"layout_{t}")
            # redirected scan reads >1 input file
            n_files = len(df.inputFiles())
            assert n_files == tables._RELAYOUT_SPLITS[t], (t, n_files)
            assert (
                tuple(df.columns),
                df.count(),
                df.agg({df.columns[0]: "sum"}).collect()[0][0],
            ) == before[t]
    finally:
        for name in tables.LAYOUTS:
            artifacts.drop(spark, sf, name)


def test_relayout_failure_is_logged_and_falls_back(spark, tmp_path, caplog):
    """A relayout that cannot read its source says so, with the
    exception, and leaves the sf on its original files."""
    from pandas_reporter_spark import artifacts, tables

    sf = tmp_path / "torn_sf"
    sf.mkdir()
    (sf / "lineitem.parquet").write_bytes(b"not parquet")
    with caplog.at_level("WARNING", logger="pandas_reporter_spark.artifacts"):
        report = tables.relayout(spark, str(sf), base=str(tmp_path))
    rep = report["layout_lineitem"]
    assert not rep["ok"] and not rep["primed"] and rep["reason"], rep
    assert artifacts.get(spark, str(sf), "layout_lineitem") is None
    assert tables.stream_source(spark, str(sf), "lineitem") == (
        str(sf), "lineitem.parquet"
    )
    assert any(
        "layout_lineitem" in r.getMessage() and r.exc_info for r in caplog.records
    )


@pytest.mark.parametrize("sf", _SF_DIRS)
def test_documents_text_is_ascii(spark, sf):
    """Pin the ASCII invariant the multimodal byte-arithmetic oracles
    rely on (q_multimodal_features / q_multimodal_resize replay the
    mapInPandas BYTE math per-CHARACTER in DuckDB — ord(char) equals
    the utf-8 byte only below 128, and the resize stride samples bytes
    on one side and characters on the other). If the driver ever
    regenerates documents with non-ASCII text, this failure names the
    two oracles that must switch to blob-based arithmetic."""
    from pyspark.sql import functions as F

    d = load(spark, sf, "documents")
    n_bad = d.filter(
        F.octet_length("text") != F.length("text")
    ).count()
    assert n_bad == 0, (
        f"{n_bad} non-ASCII documents at {sf}: the q_multimodal_features/"
        "q_multimodal_resize oracles assume byte==character"
    )


def test_pack_ascii_roundtrip_and_order(spark):
    """pack_ascii/unpack_ascii: exact round-trip for 1-7 printable
    ASCII bytes, and numeric order == lexicographic order for
    equal-length strings (the langid tie-break contract)."""
    import random
    import string

    from pyspark.sql import functions as F

    from pandas_reporter_spark.tables import pack_ascii, unpack_ascii

    rng = random.Random(11)
    printable = string.ascii_letters + string.digits + " _-./:"
    vals = sorted(
        {
            "".join(rng.choice(printable) for _ in range(rng.randint(1, 7)))
            for _ in range(200)
        }
    ) + ["en", "zh", "src0", "src19"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    rows = df.select(
        "s",
        pack_ascii(F.col("s")).alias("p"),
        unpack_ascii(pack_ascii(F.col("s"))).alias("rt"),
    ).collect()
    packed = {}
    for r in rows:
        assert r["rt"] == r["s"], r
        packed[r["s"]] = r["p"]
    # equal-length strings: packed order == lexicographic order
    from itertools import combinations

    by_len = {}
    for v in vals:
        by_len.setdefault(len(v), []).append(v)
    for group in by_len.values():
        for a, b in combinations(sorted(group), 2):
            assert packed[a] < packed[b], (a, b)


# -- driver-built frames: one Arrow local relation ---------------------------


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _row_reprs(df) -> list:
    """Collected rows as reprs: NaN equals NaN, and None stays apart."""
    return [repr(tuple(r)) for r in df.collect()]


@pytest.mark.parametrize("as_ddl", [False, True], ids=["structtype", "ddl"])
def test_local_frame_is_a_local_table_scan(spark, as_ddl):
    ddl = "k int, v double, s string"
    schema = ddl if as_ddl else StructType.fromDDL(ddl)
    df = local_frame(spark, [(1, 0.5, "a"), (2, None, None)], schema)
    plan = _executed_plan(df)
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_local_frame_values_round_trip_exactly(spark):
    import math

    big = 2**62 + 1  # not representable in float64
    rows = [(float("nan"), None, big, [1, big, None]), (None, 1.5, None, [])]
    got = local_frame(
        spark, rows, "x double, y double, n bigint, a array<bigint>"
    ).collect()
    assert math.isnan(got[0]["x"]) and got[1]["x"] is None
    assert got[0]["y"] is None and got[1]["y"] == 1.5
    assert got[0]["n"] == big and got[1]["n"] is None
    assert got[0]["a"] == [1, big, None] and got[1]["a"] == []
    empty = local_frame(spark, [], "n bigint, a array<bigint>")
    assert empty.collect() == []
    assert "LocalTableScan" in _executed_plan(empty)


def _census_struct(names, numeric):
    return StructType(
        [
            StructField(n, DoubleType() if n in numeric else StringType(), True)
            for n in names
        ]
    )


#: One case per converted site: its schema and rows of the shape it
#: builds (nulls and NaN where the site can produce them).
_SITE_CASES = {
    "crjson.cr_frame": (
        _census_struct(
            ["geoid", "name", "B99001001", "B99001001_m90"],
            {"B99001001", "B99001001_m90"},
        ),
        [("14000US06073000100", "Tract 1", 10.0, 1.0),
         ("14000US06073000400", "Tract 4", None, float("nan"))],
    ),
    "censusapi.fetch_dataframe": (
        _census_struct(["GEONAME", "POP", "state", "county"], {"POP"}),
        [("San Diego County", 3299521.0, "06", "073"), ("X", None, "06", "001")],
    ),
    "frame.CensusFrame.T": (
        "`column` string, `0` string, `1` string",
        [("geoid", "1", "2"), ("col0", "1.0", None)],
    ),
    "text.q_text_overlap_matrix": (
        "src_a string, src_b string, n_shared bigint, n_a bigint,"
        " n_b bigint, jacc_micro bigint",
        [("books", "web", 3, 10, 12, 157894)],
    ),
    "text.bpe_merges": (
        "round int, lhs string, rhs string, pair_count bigint,"
        " merged string",
        [(1, "t", "h", 420, "th"), (2, "th", "e", 377, "the")],
    ),
    "text.q_text_vocab_coverage": (
        "n_vocab int",
        [(16,), (256,), (4096,)],
    ),
    "text.q_pipeline_curriculum": (
        "k int",
        [(k,) for k in range(1, 8)],
    ),
    "similarity._pq_train": (
        "m int, cell bigint, cq array<bigint>",
        [(0, 3, [-12, 0, 2**40]), (1, 7, [5, -5, 1])],
    ),
    "similarity.q_search_eval_ndcg": (
        "qid long, hits10 long, rank_of_true1 long, rr_nano long, "
        "dcg_nano long, ndcg_r6 double",
        [],
    ),
}


@pytest.mark.parametrize("site", sorted(_SITE_CASES))
def test_local_frame_equals_the_parallelized_frame(spark, site):
    """Per converted site: the same schema and the same collected rows
    as `createDataFrame(rows, schema)`, the path it replaced."""
    schema, rows = _SITE_CASES[site]
    new = local_frame(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    assert new.schema == ref.schema
    assert _row_reprs(new) == _row_reprs(ref)


def test_no_driver_frame_built_outside_local_frame():
    """Every driver-side list of rows becomes a frame through
    `tables.local_frame`; a direct `createDataFrame` call would
    parallelize the rows as an RDD again."""
    import ast

    engine = os.path.join(os.path.dirname(__file__), "..", "pandas_reporter_spark")
    found = []
    for d, _, files in os.walk(engine):
        for f in files:
            if not f.endswith(".py"):
                continue
            p = os.path.join(d, f)
            tree = ast.parse(open(p).read())
            allowed = {
                id(n)
                for fn in tree.body
                if f == "tables.py"
                and isinstance(fn, ast.FunctionDef)
                and fn.name == "local_frame"
                for n in ast.walk(fn)
            }
            found += [
                f"{p}:{n.lineno}"
                for n in ast.walk(tree)
                if isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "createDataFrame"
                and id(n) not in allowed
            ]
    assert not found, found
