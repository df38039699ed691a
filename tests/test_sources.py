"""Source-adapter pins (S1-S13) against the committed offline fixtures.

URL pins reproduce reference/test/test_url.py:17-34 exactly (four
accepted spellings, five rejected); pivot pins check the CR-JSON
shaping rules (sorted codes, '.'-skip, title stack, margin interleave,
scalar guard) from censusreporter.py:178-282; varrep/API pins come
from test_basic.py:221-234 and test_censusapi.py:15-34.
"""

from __future__ import annotations

import gc
import json
import operator
import os
import threading
from functools import reduce

import pytest
from pyspark.sql import functions as F

from pandas_reporter_spark.functions.moe import Z90
from pandas_reporter_spark.sources import (
    CensusReporterURL,
    URLError,
    cr_frame,
    cr_rows,
    get_ave_weight,
    get_k_val_f,
    make_citation_dict,
    varrep_frame,
)
from pandas_reporter_spark.sources.censusapi import CensusApi
from pandas_reporter_spark.sources.crjson import (
    cr_bulk_frame,
    cr_row_generator,
    get_cr_dataframe,
)
from pandas_reporter_spark.sources.varrep import replicate_moe_sql

FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "pandas_reporter_spark",
    "sources",
    "fixtures",
)


def fx(name):
    with open(os.path.join(FIXTURES, name)) as f:
        return json.load(f)


# -- S1: URL scheme (test_url.py:17-34) -------------------------------------


@pytest.mark.parametrize(
    "us",
    [
        "censusreporter:B17001/140/05000US06073",
        "censusreporter:/B17001/140/05000US06073",
        "censusreporter://B17001/140/05000US06073",
        "censusreporter://B17001/140/05000US06073/",
    ],
)
def test_url_accepted_spellings(us):
    u = CensusReporterURL(us)
    assert u.table_id == "B17001"
    assert u.summary_level == "140"
    assert u.geoid == "05000US06073"
    # str round-trips to a canonical form that re-parses identically
    assert str(CensusReporterURL(str(u))) == str(u)


@pytest.mark.parametrize(
    "us",
    [
        "censusreporter:B17001",
        "censusreporter:/B17001/140/",
        "censusreporter://B17001/",
        "censusreporter://B17001/140/",
        "censusreporter://B17001/140/05000US06073/foobar",
    ],
)
def test_url_rejected_spellings(us):
    with pytest.raises(URLError):
        CensusReporterURL(us)


def test_url_locators():
    u = CensusReporterURL("censusreporter:B17001/140/05000US06073")
    assert u.cache_key == (
        "api.censusreporter.org/1.0/B17001/140/05000US06073.json"
    )
    assert "table_ids=B17001" in u.resource_url
    assert "geo_ids=140|05000US06073" in u.resource_url


# -- S3/S4: CR-JSON pivot ----------------------------------------------------


def test_cr_pivot_shape_and_metadata():
    rows, columns, release = cr_rows(fx("cr_b99001.json"), "B99001")
    # 3 geos; 2 lead cols + 6 real vars × 2 (dot-code skipped)
    assert len(rows) == 3
    assert len(columns) == 2 + 6 * 2
    assert release["id"] == "acs2015_5yr"
    codes = [c["code"] for c in columns]
    assert codes[:2] == ["geoid", "name"]
    # margins interleaved est-then-margin, sorted by code
    assert codes[2:6] == ["B99001001", "B99001001_m90", "B99001002", "B99001002_m90"]
    assert all("." not in c for c in codes)
    # positions are dense and match list order
    assert [c["position"] for c in columns] == list(range(len(columns)))


def test_cr_pivot_title_stack():
    _, columns, _ = cr_rows(fx("cr_b99001.json"), "B99001")
    by_code = {c["code"]: c for c in columns}
    # ':' stripped at every level; child title = joined stack
    assert by_code["B99001001"]["title"] == "Total"
    assert by_code["B99001002"]["title"] == "Total Male"
    assert by_code["B99001003"]["title"] == "Total Male Under 5 years"
    # sibling subtree replaces the stack slot, not appends
    assert by_code["B99001006"]["title"] == "Total Female Under 5 years"
    # margins mirror with the prefix
    assert by_code["B99001003_m90"]["title"] == "Margins for Total Male Under 5 years"
    assert by_code["B99001003"]["index"] == "003"


def test_cr_pivot_single_column_scalar_guard():
    rows, columns, _ = cr_rows(fx("cr_b99002.json"), "B99002")
    assert len(columns) == 4  # geoid, name, est, m90
    assert all(len(r) == 4 for r in rows)
    assert sorted(r[2] for r in rows) == [1.0, 2.0, 3.0]


def test_cr_row_generator_header_plus_rows():
    gen = list(cr_row_generator(fx("cr_b99001.json"), "B99001"))
    assert len(gen) == 4  # header + 3 rows (test_url.py:52 idiom)
    assert gen[0][0] == "geoid"


def test_cr_frame_materializes_census_frame(spark):
    cf = cr_frame(spark, fx("cr_b99001.json"), "B99001")
    assert cf.df.count() == 3
    assert cf.release["id"] == "acs2015_5yr"
    # margin-carry works over the pivoted frame
    sel = cf[["geoid", "B99001001"]]
    assert sel.df.columns == ["geoid", "B99001001", "B99001001_m90"]
    # lookup by census index
    assert cf.lookup("003").name == "B99001003"


@pytest.mark.parametrize("q", ["q_source_cr_pivot", "q_census_workflow"])
def test_cr_pivot_queries_scan_a_local_relation(spark, q):
    """The driver-side pivot reaches Spark as a local relation: no job
    over a parallelized Python RDD (`Scan ExistingRDD`)."""
    from pandas_reporter_spark.registry import QUERIES, load_all
    from pandas_reporter_spark.tables import sf_dir

    load_all()
    df = QUERIES[q](spark, sf_dir())
    assert df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_cr_bulk_frame_equals_per_file_pivots(spark):
    """S3 scale path: spark.read.json over ≥2 responses == the union of
    driver-side per-file pivots, column-for-column and value-for-value."""
    paths = [
        os.path.join(FIXTURES, "cr_b99001.json"),
        os.path.join(FIXTURES, "cr_b99001_part2.json"),
    ]
    bulk = cr_bulk_frame(spark, paths, "B99001")
    single = cr_frame(spark, fx("cr_b99001.json"), "B99001")
    part2 = cr_frame(spark, fx("cr_b99001_part2.json"), "B99001")
    assert bulk.df.columns == single.df.columns
    assert bulk.release == single.release
    assert bulk.meta == single.meta  # identical column contract (titles etc.)
    nullsafe = lambda t: [(v is None, str(v)) for v in t]  # noqa: E731
    want = sorted(
        (tuple(r) for r in single.df.union(part2.df).collect()), key=nullsafe
    )
    got = sorted((tuple(r) for r in bulk.df.collect()), key=nullsafe)
    assert got == want
    # the part2 fixture carries a null estimate/margin pair — nulls must
    # survive the map-extract projection, not turn into 0.0
    by_geoid = {r[0]: r for r in got}
    assert by_geoid["14000US06073000400"][6] is None  # B99001003
    assert by_geoid["14000US06073000400"][7] is None  # B99001003_m90


def test_cr_bulk_frame_single_column_table(spark):
    """Single-column tables take the same bulk path (no itemgetter
    scalar special-case executor-side)."""
    bulk = cr_bulk_frame(
        spark, os.path.join(FIXTURES, "cr_b99002.json"), "B99002"
    )
    assert bulk.df.columns == ["geoid", "name", "B99002001", "B99002001_m90"]
    assert sorted(r["B99002001"] for r in bulk.df.collect()) == [1.0, 2.0, 3.0]


def test_cr_bulk_frame_missing_table_raises(spark):
    with pytest.raises(KeyError):
        cr_bulk_frame(
            spark, os.path.join(FIXTURES, "cr_b99001.json"), "B77777"
        )


def test_get_cr_dataframe_via_cache(spark, tmp_path):
    """S6+S2: cache-first fetch — prime the cache, then load with no
    fetcher (a network call would raise)."""
    u = CensusReporterURL("censusreporter:B99001/140/05000US06073")
    path = tmp_path / u.cache_key
    path.parent.mkdir(parents=True)
    path.write_text(json.dumps(fx("cr_b99001.json")))
    cf = get_cr_dataframe(
        spark, "B99001", "140", "05000US06073", cache_dir=str(tmp_path),
        fetcher=lambda url: (_ for _ in ()).throw(AssertionError("network hit")),
    )
    assert cf.df.count() == 3


# -- S8-S10: Census Data API -------------------------------------------------


def _api():
    def fetcher(url):
        if "variables" in url:
            return fx("censusapi_variables.json")
        return fx("censusapi_response.json")

    return CensusApi(fetcher=fetcher, catalog=fx("censusapi_catalog.json"))


def test_api_catalog_search_and_get():
    api = _api()
    hits = api.search_datasets("Vintage 2015 Population Estimates")
    assert len(hits) == 1
    ds = api.get_dataset("POPESTpop2015")
    assert ds.title.startswith("Vintage 2015")


def test_api_variables_and_search():
    ds = _api().get_dataset("POPESTpop2015")
    assert "POP" in ds.variables
    assert ("POP", "Population") in ds.search_variables("population")


def test_api_fetch_url_shape():
    ds = _api().get_dataset("POPESTpop2015")
    url = ds.fetch_url(
        "PLACE", "GEONAME", "POP", geo_in="state:06+county:073", geo_for="place:*"
    )
    assert url == (
        "https://api.census.gov/data/2015/pep/population"
        "?get=PLACE,GEONAME,POP&for=place:*&in=state:06+county:073"
    )


def test_api_fetch_dataframe(spark):
    ds = _api().get_dataset("POPESTpop2015")
    df = ds.fetch_dataframe(spark, "GEONAME", "POP")
    rows = {r["GEONAME"]: r for r in df.collect()}
    assert rows["San Diego County, California"]["POP"] == 3299521.0
    # GEOID synthesized from state+county FIPS
    assert rows["San Diego County, California"]["GEOID"] == "05000US06073"
    assert dict(df.dtypes)["POP"] == "double"


# -- S11: varrep -------------------------------------------------------------


def test_varrep_step_pins():
    f = get_k_val_f()
    assert f(1000) == 4
    assert f(10000) == 10
    assert f(49999) == 18
    assert f(50001) == 22
    assert get_ave_weight(11) == 13


def test_varrep_moe_from_replicates(spark):
    """MOE = 1.645·sqrt((4/80)·Σ(rep−est)²): replicates est±1 → every
    squared diff is 1 → MOE = 1.645·sqrt(4/80·80) = 3.29."""
    row = {"TBLID": "B01001", "GEOID": "g", "ESTIMATE": 100.0}
    for i in range(1, 81):
        row[f"VAR_REP{i}"] = 100.0 + (1 if i % 2 else -1)
    df = varrep_frame(spark.createDataFrame([row]))
    (moe,) = df.select("MOE_REP").collect()[0]
    assert round(moe, 6) == round(1.645 * 2.0, 6)


def test_varrep_missing_replicates_raise(spark):
    df = spark.createDataFrame([{"ESTIMATE": 1.0, "VAR_REP1": 1.0}])
    with pytest.raises(ValueError):
        varrep_frame(df)


def test_varrep_csv_source_shape_and_moe(spark):
    """VRT CSV ingest (reference test_basic.py:221-225 shape logic):
    long format = n_geos × n_vars rows, TBLID-filtered, and the
    replicate-derived MOE reproduces the published MOE column."""
    from pandas_reporter_spark.sources.varrep import get_varrep_dataframe

    df = get_varrep_dataframe(spark, 2015, "B01001", "140", state="11")
    rows = df.collect()
    n_geos = len({r.GEOID for r in rows})
    n_vars = len({r.ORDER for r in rows})
    assert len(rows) == n_geos * n_vars  # 8,771 = 179×49 in the reference
    assert dict(df.dtypes)["VAR_REP80"] == "double"
    # unknown table id filters to empty, same scan
    assert get_varrep_dataframe(spark, tableid="B99999").count() == 0
    # round-trip: recomputed margin matches the published MOE column
    rt = varrep_frame(df).select(
        (F.abs(F.round("MOE_REP", 2) - F.col("MOE")) < 0.01).alias("ok")
    )
    assert all(r.ok for r in rt.collect())


def _moe_columns(est, reps):
    """Reference: the replicate MOE built Column by Column, the form the
    one-expression SQL text replaced."""
    e = est.cast("double")
    terms = [(r.cast("double") - e) * (r.cast("double") - e) for r in reps]
    ss = reduce(operator.add, terms)
    return F.lit(Z90) * F.sqrt(F.lit(4.0 / len(terms)) * ss)


def _same_plan_and_rows(new, ref):
    """Optimized plans are `sameResult`-equal and collected rows equal."""
    new_plan, ref_plan = (
        df._jdf.queryExecution().optimizedPlan() for df in (new, ref)
    )
    assert new_plan.sameResult(ref_plan)
    assert new.columns == ref.columns
    rows = sorted(new.collect())
    assert rows and rows == sorted(ref.collect())


def test_varrep_moe_sql_matches_column_formula(spark):
    from pandas_reporter_spark.registry import QUERIES, load_all
    from pandas_reporter_spark.tables import load

    load_all()
    sf = "/root/testdata/sf0.001"
    o = load(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    reps = [
        F.col("o_totalprice")
        + ((F.lit(i) * F.col("o_orderkey")) % 7 - 3).cast("double")
        for i in range(1, 81)
    ]
    ref = o.select(
        "o_orderkey",
        F.round(_moe_columns(F.col("o_totalprice"), reps), 6).alias("moe_rep"),
    )
    _same_plan_and_rows(QUERIES["q_varrep_moe"](spark, sf), ref)


def test_varrep_frame_matches_column_formula(spark):
    from pandas_reporter_spark.sources.varrep import get_varrep_dataframe

    df = get_varrep_dataframe(spark)
    reps = [F.col(f"VAR_REP{i}") for i in range(1, 81)]
    ref = df.withColumn("MOE_REP", _moe_columns(F.col("ESTIMATE"), reps))
    _same_plan_and_rows(varrep_frame(df), ref)


def test_varrep_moe_builds_in_few_round_trips(spark, monkeypatch):
    """Building the 80-replicate query is a handful of JVM calls, not
    one or more per Column node (~1,600 built as Columns, and
    11,000-13,000 with call-site capture on).

    Only the building thread's calls count. py4j tells the JVM about
    every collected JavaObject with a memory-delete command (`m\nd\n`),
    sent through the same `send_command` by its finalizer thread: a
    backlog from earlier tests' objects, drained during the call, once
    counted 556. No collection runs during the call either, so none
    can add to that backlog (or, where deletes are sent inline, to the
    count)."""
    from py4j.clientserver import ClientServerConnection

    from pandas_reporter_spark.registry import QUERIES, load_all

    load_all()
    sf = "/root/testdata/sf0.001"
    QUERIES["q_varrep_moe"](spark, sf)  # first call caches the scan
    calls = []
    send = ClientServerConnection.send_command
    builder = threading.get_ident()

    def counting(self, command):
        if threading.get_ident() == builder:
            calls.append(command)
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    gc.collect()
    gc.disable()
    try:
        QUERIES["q_varrep_moe"](spark, sf)
    finally:
        gc.enable()
        monkeypatch.undo()
    assert 0 < len(calls) <= 100


def test_replicate_moe_sql_depth_does_not_grow_with_replicates():
    """The sum is flat text: a left-nested sum is as deep as it is long,
    and its parse time in a cold JVM grows with that depth."""

    def depth(sql):
        d = deepest = 0
        for ch in sql:
            d += (ch == "(") - (ch == ")")
            deepest = max(deepest, d)
        assert d == 0
        return deepest

    def text(n):
        return replicate_moe_sql("e + 1", [f"r{i} * 2" for i in range(n)])

    assert depth(text(8)) == depth(text(80))


# -- S13: citation -----------------------------------------------------------


class _Term:
    url = "censusreporter:B17001/140/05000US06073"
    name = "B17001_test"
    description = "Poverty Status"


def test_citation_dict():
    c = make_citation_dict(_Term())
    assert c["publisher"] == "CensusReporter.org"
    assert c["title"].endswith("Table B17001: Poverty Status")
    assert c["year"] == 2015


# -- S4: entry-point packaging ----------------------------------------------


def test_entry_points_resolve():
    """pyproject.toml registers the reference's dispatch entry points
    (reference setup.py:50-58: appurl.urls 'censusreporter:',
    rowgenerators 'CRJSON+'); each target must import and be callable/
    instantiable so third-party dispatchers can load them."""
    import importlib

    tomllib = pytest.importorskip("tomllib")  # stdlib only on >=3.11

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "pyproject.toml"), "rb") as f:
        proj = tomllib.load(f)
    eps = proj["project"]["entry-points"]
    assert "censusreporter:" in eps["appurl.urls"]
    assert "CRJSON+" in eps["rowgenerators"]
    for group in eps.values():
        for target in group.values():
            mod, _, attr = target.partition(":")
            obj = getattr(importlib.import_module(mod), attr)
            assert callable(obj)


def test_citation_non_censusreporter_is_false():
    class T:
        url = "http://example.com/x.csv"
        name = "x"
        description = "d"

    assert make_citation_dict(T()) is False


#: opt-in for the one test that fetches from the real API: the suite
#: makes no outbound connection unless the caller asks for it
_LIVE_API = os.environ.get("SPARK_GRAFT_LIVE_API") == "1"


@pytest.mark.skipif(
    not _LIVE_API,
    reason="live api.censusreporter.org test: set SPARK_GRAFT_LIVE_API=1",
)
def test_live_cr_fetch_roundtrip_and_pivot_invariants(tmp_path):
    """ONE real api.censusreporter.org round-trip (the reference's
    test_censusapi idiom), asserting the S3 pivot invariants hold on
    the LIVE payload — the schema-drift canary the fixture tests
    cannot be: lead columns, est/margin interleave, dense positions,
    and cache-fill-then-hit semantics."""
    from pandas_reporter_spark.sources.url import fetch_json

    u = CensusReporterURL("censusreporter:B17001/140/05000US06073")
    calls = {"n": 0}

    def counting_fetcher(url):
        import urllib.request

        calls["n"] += 1
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.loads(r.read().decode())

    data = fetch_json(u, cache_dir=str(tmp_path), fetcher=counting_fetcher)
    assert calls["n"] == 1
    rows, columns, release = cr_rows(data, "B17001")
    assert rows and release.get("id")
    codes = [c["code"] for c in columns]
    assert codes[:2] == ["geoid", "name"]
    est_codes = codes[2::2]
    assert all(codes[i + 1] == f"{codes[i]}_m90" for i in range(2, len(codes), 2))
    assert est_codes == sorted(est_codes)
    assert [c["position"] for c in columns] == list(range(len(columns)))
    # second fetch must come from the cache the first one filled
    again = fetch_json(u, cache_dir=str(tmp_path), fetcher=counting_fetcher)
    assert calls["n"] == 1
    assert again == data


def test_compaction_writes_exactly_the_derived_file_count(spark):
    """The part-file count the result reads equals the size-derived
    n_files (the oracle checks values; the filesystem is pinned here)."""
    from pandas_reporter_spark.registry import QUERIES, load_all

    load_all()
    df = QUERIES["q_sink_compaction"](spark, "/root/testdata/sf0.001")
    row = df.collect()[0]
    assert len(df.inputFiles()) == row["n_files"] >= 1
    assert row["n_rows"] > 0


def test_compaction_degrades_on_empty_table(spark, tmp_path):
    """SUM(n_chars) over zero rows is NULL: an empty documents table
    compacts to one empty file instead of raising (ADVICE r12)."""
    from pandas_reporter_spark.registry import QUERIES, load_all

    load_all()
    sf = str(tmp_path)
    spark.createDataFrame(
        [],
        "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint",
    ).write.parquet(f"{sf}/documents.parquet")
    row = QUERIES["q_sink_compaction"](spark, sf).collect()[0]
    assert row["n_files"] == 1
    assert row["n_rows"] == 0
    assert row["sum_chars"] is None and row["text_check"] is None
