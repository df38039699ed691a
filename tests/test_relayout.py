"""The relayout copies on the artifact lifecycle.

Each copy (``tables.LAYOUTS``) is invisible to results: a build that
fails or is torn leaves its table on the original file with identical
rows and is reported with its reason, a ``.build-<pid>`` directory is
never read (and is removed once its process has died), and the stream
queries, which read the copies through ``tables.stream_source``,
return the same rows with and without them.
"""

from __future__ import annotations

import dataclasses
import hashlib
import os
import shutil
import subprocess
import sys
from urllib.parse import urlparse

import pytest

from pandas_reporter_spark import artifacts, tables
from pandas_reporter_spark.registry import QUERIES, load_all

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from verify_local import frame_key  # noqa: E402

#: the shared read-only sf0.001 snapshot (TESTDATA.md)
SF = "/root/testdata/sf0.001"

#: every query whose stream reads a relayout copy when one is registered
STREAM_QUERIES = (
    "q_events_late",
    "q_events_stateful",
    "q_events_stream_dedup",
    "q_events_stream_session",
    "q_stream_enrich",
    "q_stream_stream_join",
    "q_stream_topk",
    "q_stream_quality_gate",
    "q_stream_sample_weighted",
)


@pytest.fixture(scope="module")
def private(spark, tmp_path_factory):
    """(sf, base): a private copy of sf0.001, so no other test reads
    the copies registered for it, and a root for those copies."""
    sf = str(tmp_path_factory.mktemp("relayout_sf"))
    shutil.rmtree(sf)
    shutil.copytree(SF, sf)
    yield sf, str(tmp_path_factory.mktemp("relayout_base"))
    _unregister(spark, sf)


def _unregister(spark, sf):
    for name in tables.LAYOUTS:
        artifacts.drop(spark, sf, name)


def _digest(df):
    rows = [tuple(r) for r in df.collect()]
    return len(rows), hashlib.md5(frame_key(df.columns, rows).encode()).hexdigest()


@pytest.mark.parametrize("table", list(tables._RELAYOUT_SPLITS))
def test_failed_or_torn_copy_falls_back_to_the_original(
    spark, private, monkeypatch, table
):
    sf, base = private
    name = f"layout_{table}"
    _unregister(spark, sf)
    original = os.path.join(sf, f"{table}.parquet")
    expected = _digest(tables.load(spark, sf, table))
    out = artifacts.path(spark, sf, name, base)
    shutil.rmtree(out, ignore_errors=True)

    # a build that raises after writing half the copy
    def torn(spark, sf, path):
        tables.load(spark, sf, table).limit(5).write.parquet(path)
        raise RuntimeError("disk full")

    declared = dataclasses.replace(artifacts.DECLARED[name], build=torn)
    monkeypatch.setitem(artifacts.DECLARED, name, declared)
    report = tables.relayout(spark, sf, base)
    monkeypatch.undo()
    rep = report[name]
    assert (rep["ok"], rep["primed"]) == (False, False)
    assert rep["reason"] == "RuntimeError: disk full"
    assert all(r["primed"] for n, r in report.items() if n != name), report
    df = tables.load(spark, sf, table)
    assert [urlparse(f).path for f in df.inputFiles()] == [original]
    assert _digest(df) == expected
    assert tables.stream_source(spark, sf, table)[1] == f"{table}.parquet"
    assert not [d for d in os.listdir(base) if ".build-" in d], "build dir leaked"

    # torn leftovers: the build dir of a builder that died (removed),
    # one of a live process (a concurrent build: kept), and a copy at
    # the committed path without _SUCCESS (a crashed writer)
    child = subprocess.Popen([sys.executable, "-c", ""])
    child.wait()
    dead = f"{out}.build-{child.pid}"
    live = f"{out}.build-{os.getppid()}"
    for d in (dead, live, out):
        tables.load(spark, sf, table).limit(5).write.parquet(d)
    os.remove(os.path.join(out, "_SUCCESS"))
    try:
        assert tables.relayout(spark, sf, base)[name]["primed"]
        assert not os.path.exists(dead)
        assert os.path.isdir(live)
        df = tables.load(spark, sf, table)
        files = df.inputFiles()
        assert len(files) == tables._RELAYOUT_SPLITS[table], files
        assert {os.path.dirname(urlparse(f).path) for f in files} == {out}
        assert tables.stream_source(spark, sf, table) == (out, "*.parquet")
        assert _digest(df) == expected
    finally:
        shutil.rmtree(dead, ignore_errors=True)
        shutil.rmtree(live, ignore_errors=True)
        _unregister(spark, sf)


@pytest.mark.parametrize("query", STREAM_QUERIES)
def test_stream_queries_read_the_copies_with_identical_rows(spark, private, query):
    sf, base = private
    load_all()
    _unregister(spark, sf)
    stock = _digest(QUERIES[query](spark, sf))
    try:
        assert all(r["primed"] for r in tables.relayout(spark, sf, base).values())
        for t in ("events", "documents"):
            assert tables.stream_source(spark, sf, t) == (
                artifacts.path(spark, sf, f"layout_{t}", base), "*.parquet"
            )
        assert _digest(QUERIES[query](spark, sf)) == stock
    finally:
        _unregister(spark, sf)
    assert stock[0] > 0


def test_a_build_reaps_every_dead_build_dir_in_its_base(spark, private):
    """The next build in a base removes a dead builder's dir even under
    a name no declared artifact produces (its input is gone), and keeps
    a live process's."""
    sf, base = private
    child = subprocess.Popen([sys.executable, "-c", ""])
    child.wait()
    dead = os.path.join(base, f"prs_tokidx_in_o_1_1.build-{child.pid}")
    live = os.path.join(base, f"prs_ivfindex_in_o_1_1.build-{os.getppid()}")
    for d in (dead, live):
        os.makedirs(os.path.join(d, "partial"))
    try:
        assert artifacts.build(spark, sf, "layout_customer", base)["primed"]
        assert not os.path.exists(dead)
        assert os.path.isdir(live)
    finally:
        _unregister(spark, sf)
        shutil.rmtree(live, ignore_errors=True)
