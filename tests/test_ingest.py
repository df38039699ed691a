"""The at-rest ingest contract and the artifact lifecycle.

Coverage: every declared artifact is one of ``ingest.MATERIALIZERS``,
``tables.LAYOUTS``, ``tables.BUCKETED`` or ``operators.scale.INPUTS``,
and no hand-rolled sidecar cache, handle list, input cache or temp dir
survives outside ``pandas_reporter_spark.artifacts``. Behavior:
ingest() builds everything side by side on a tiny snapshot, starts an
artifact only after its declared ``after`` artifacts, and the
consumers see their artifacts; no build, sidecar or relayout copy,
changes a session conf (what makes the concurrent builds safe); torn
or failing builds are rejected loudly and leave consumers on their
self-derive plans; every artifact's primed result equals its unprimed
one, and a scale query returns the same rows without its input; the
partitioned writes stay at the session's width; per-query handles
retire only their own query's predecessor, and interpreter exit
retires the last ones; a sink query's scratch dir outlives its call
until the next one, and a process that ran every sink and scale query
leaves no directory behind but the committed artifacts.
"""

from __future__ import annotations

import ast
import dataclasses
import hashlib
import os
import re
import shutil
import subprocess
import sys
import threading
import uuid

import pytest

from pandas_reporter_spark import artifacts
from pandas_reporter_spark import ingest as ing
from pandas_reporter_spark.operators.scale import INPUTS
from pandas_reporter_spark.registry import QUERIES, load_all
from pandas_reporter_spark.session import configure, work_partitions
from pandas_reporter_spark.tables import _RELAYOUT_SPLITS, BUCKETED, LAYOUTS

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

from verify_local import frame_key  # noqa: E402
from test_session import _run_fresh  # noqa: E402

ENGINE = os.path.join(os.path.dirname(__file__), "..", "pandas_reporter_spark")
#: the shared read-only sf0.001 snapshot (TESTDATA.md)
SF = "/root/testdata/sf0.001"

#: one representative consumer query per artifact
CONSUMER = {
    "doc_tokens": "q_text_tfidf",
    "token_index": "q_text_bm25",
    "bpe_merges": "q_text_bpe_apply",
    "docq": "q_pipeline_curriculum",
    "lsh_signatures": "q_similarity_ann_lsh",
    "ivf_index": "q_similarity_ivf",
    "pq_index": "q_similarity_pq_adc",
    "srp_codes": "q_similarity_srp",
    "knn_graph": "q_similarity_knn_graph",
    "minhash": "q_dedup_minhash",
    "graph": "q_graph_pagerank",
    "wm_stats": "q_agg_weighted_median",
    "vocab_stats": "q_text_perplexity_bigram",
}


def _private_sf(factory, name):
    """A private copy of sf0.001: priming the canonical path would flip
    other tests' plan-shape pins (artifact-primed plans legitimately
    drop the tokenize explode) for the rest of the shared session."""
    sf = str(factory.mktemp(name))
    shutil.rmtree(sf)
    shutil.copytree(SF, sf)
    return sf


@pytest.fixture
def ingest_sf(spark, tmp_path_factory):
    """A private sf for ingest(), which builds at the default location.
    Its artifacts there are removed afterwards: the copy keeps the
    basename and mtime that name them on every run, so a leftover would
    hold tmpfs memory and turn the next run's builds into reuses."""
    sf = _private_sf(tmp_path_factory, "ingest_sf")
    yield sf
    for name in artifacts.DECLARED:
        artifacts.drop(spark, sf, name)
        shutil.rmtree(artifacts.path(spark, sf, name), ignore_errors=True)


def _result(spark, sf, q):
    df = QUERIES[q](spark, sf)
    rows = [tuple(r) for r in df.collect()]
    digest = hashlib.md5(frame_key(df.columns, rows).encode()).hexdigest()
    return len(rows), digest


def test_materializers_list_every_declared_artifact():
    """Each declared artifact belongs to exactly one of ingest's
    sidecars, relayout's copies, the at-rest bucketed layout and the
    scale queries' inputs."""
    load_all()
    lists = (ing.MATERIALIZERS, LAYOUTS, BUCKETED, INPUTS)
    listed = [name for names in lists for name in names]
    assert sorted(listed) == sorted(artifacts.DECLARED)
    assert len(LAYOUTS) == len(_RELAYOUT_SPLITS)
    assert set(CONSUMER) == set(ing.MATERIALIZERS)
    for a in artifacts.DECLARED.values():
        assert set(a.after) <= set(artifacts.DECLARED) - {a.name}, a


def _engine_sources():
    """(path, source) of every engine module."""
    for d, _, files in os.walk(ENGINE):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                yield p, open(p).read()


def test_no_hand_rolled_sidecar_caches_or_handle_lists():
    """No sidecar dicts or handle lists, and `tables._LOAD_CACHE` is
    the engine's one module-level cache: a count a plan needs comes
    from parquet footers, not from a memo keyed by hand."""
    pat = re.compile(
        r"^\s*(_\w+_ART|_\w+_HANDLES)\s*[:=]|^\s*def materialize_\w+", re.M
    )
    found, caches = [], []
    for p, src in _engine_sources():
        found += [f"{p}: {m.group(0).strip()}" for m in pat.finditer(src)]
        for node in ast.parse(src).body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign):
                targets = [node.target]
            else:
                continue
            caches += [
                f"{os.path.basename(p)}: {t.id}"
                for t in targets
                if isinstance(t, ast.Name) and re.fullmatch(r"_\w*CACHE\w*", t.id)
            ]
    assert not found, found
    assert caches == ["tables.py: _LOAD_CACHE"], caches


def test_artifacts_build_is_the_only_catch_all():
    """`artifacts.build` is the one failure path that catches every
    exception (and reports it); anywhere else a handler names the
    errors it expects, so a bug propagates."""
    found = []
    for p, src in _engine_sources():
        tree = ast.parse(src)
        owner = {
            id(h): fn.name
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef)
            for h in ast.walk(fn)
            if isinstance(h, ast.ExceptHandler)
        }
        for h in ast.walk(tree):
            if not isinstance(h, ast.ExceptHandler):
                continue
            caught = h.type.elts if isinstance(h.type, ast.Tuple) else [h.type]
            if any(
                t is None or (isinstance(t, ast.Name) and t.id in ("Exception", "BaseException"))
                for t in caught
            ):
                found.append(f"{os.path.basename(p)}:{owner.get(id(h))}")
    assert found == ["artifacts.py:build"], found


def test_no_temp_dirs_or_input_caches_outside_artifacts():
    """Every directory the engine writes comes from `artifacts`: no
    other module makes temp dirs or keeps its own registry of built
    inputs or bucketed tables."""
    uses = re.compile(r"^\s*(import|from)\s+tempfile\b|\btempfile\.", re.M)
    caches = re.compile(r"^\s*(_BUILT|_BUCKETED_TABLES)\s*[:=]", re.M)
    found = []
    for d, _, files in os.walk(ENGINE):
        for f in files:
            p = os.path.join(d, f)
            if not f.endswith(".py"):
                continue
            pats = [caches]
            if p != os.path.join(ENGINE, "artifacts.py"):
                pats.append(uses)
            src = open(p).read()
            found += [
                f"{p}: {m.group(0).strip()}" for r in pats for m in r.finditer(src)
            ]
    assert not found, found


def test_ingest_builds_and_primes_consumers(spark, ingest_sf, monkeypatch):
    sf = ingest_sf
    # record, through a wrapped artifacts.build, which builds overlap
    # and what each saw registered when it started. doc_tokens is held
    # back until vocab_stats starts or every other build is done, so an
    # ingest that ignored `after` would start vocab_stats first.
    real, lock, release = artifacts.build, threading.Lock(), threading.Event()
    running, peak, seen, done = set(), [0], {}, set()
    others = set(ing.MATERIALIZERS) - {"doc_tokens", "vocab_stats"}

    def build(spark, sf, name, *a, **k):
        if name == "doc_tokens":
            release.wait(timeout=300)
        with lock:
            seen[name] = {n for n in artifacts.DECLARED if artifacts.get(spark, sf, n)}
            running.add(name)
            peak[0] = max(peak[0], len(running))
            if name == "vocab_stats":
                release.set()
        try:
            return real(spark, sf, name, *a, **k)
        finally:
            with lock:
                running.discard(name)
                done.add(name)
                if others <= done:
                    release.set()

    monkeypatch.setattr(artifacts, "build", build)
    report = ing.ingest(spark, sf)
    monkeypatch.undo()
    assert list(report) == list(ing.MATERIALIZERS)
    assert set(seen) == set(ing.MATERIALIZERS)
    # vocab_stats derives from doc_tokens when that is primed
    assert artifacts.DECLARED["vocab_stats"].after == ("doc_tokens",)
    assert "doc_tokens" in seen["vocab_stats"], "vocab_stats did not wait"
    if spark.sparkContext.defaultParallelism > 1:
        assert peak[0] > 1, "ingest built the artifacts one at a time"
    failed = [n for n, r in report.items() if not r["ok"]]
    assert not failed, {n: report[n]["reason"] for n in failed}
    # ok means "didn't raise"; primed means "the consumer will actually
    # read the sidecar" (ADVICE r14) — on a clean build both hold
    unprimed = [n for n, r in report.items() if not r["primed"]]
    assert not unprimed, {n: report[n]["reason"] for n in unprimed}
    assert all(r["reason"] is None for r in report.values())
    for name in ("bpe_merges", "docq", "srp_codes"):
        assert artifacts.get(spark, sf, name) is not None
    # idempotent: second call is a fast no-op for already-registered keys
    report2 = ing.ingest(spark, sf)
    assert all(r["ok"] and r["primed"] for r in report2.values())


def test_ingest_dependency_chain_longer_than_pool(spark, tmp_path, monkeypatch):
    """A chain of `after` dependencies longer than the pool is wide, plus
    independent and two-parent builds, all on fake artifacts: ingest
    neither deadlocks nor starts a build before its dependencies are
    registered, and registers every one (thread switches forced often)."""
    width = spark.sparkContext.defaultParallelism
    chain = [f"chain{i}" for i in range(width + 3)]
    after = {c: (p,) for p, c in zip(chain, chain[1:])}
    after.update({f"free{i}": () for i in range(2 * width)})
    after["join"] = (chain[-1], "free0")
    names = [chain[0], *after]
    late = []

    def declared(name):
        def build(spark, sf, path):
            if any(artifacts.get(spark, sf, d) is None for d in after.get(name, ())):
                late.append(name)
            os.makedirs(path)

        return artifacts.Artifact(
            name, "documents", f"fake{name}", build, lambda *_: name,
            after=after.get(name, ()),
        )

    monkeypatch.setattr(artifacts, "DECLARED", {n: declared(n) for n in names})
    monkeypatch.setattr(ing, "MATERIALIZERS", tuple(reversed(names)))
    real = artifacts.build
    monkeypatch.setattr(
        artifacts,
        "build",
        lambda spark, sf, name, _base: real(spark, sf, name, str(tmp_path)),
    )
    sf, out = str(tmp_path / "fake_sf"), {}
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        t = threading.Thread(
            target=lambda: out.update(ing.ingest(spark, sf)), daemon=True
        )
        t.start()
        t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not t.is_alive(), "ingest deadlocked"
    assert list(out) == list(reversed(names))
    assert not late, f"started before their dependencies: {late}"
    assert all(r["primed"] for r in out.values()), out
    assert all(artifacts.get(spark, sf, n) == n for n in names)


def test_torn_artifact_is_rejected_not_cached(
    spark, tmp_path_factory, monkeypatch
):
    """The validate-before-register guard (ADVICE r13): a torn artifact
    — fewer rows than the source table, as a concurrent overwrite can
    expose — must be rejected (consumer stays on its inline plan), a
    build that raises must be contained and reported, and a subsequent
    clean rebuild must prime normally."""
    from pandas_reporter_spark.operators import similarity as S
    from pandas_reporter_spark.operators import text as T
    from pandas_reporter_spark.tables import load

    sf = _private_sf(tmp_path_factory, "torn_sf")
    base = str(tmp_path_factory.mktemp("torn_base"))
    unprimed = _result(spark, sf, "q_pipeline_curriculum")

    tag = int(os.path.getmtime(os.path.join(sf, "documents.parquet")))
    torn = os.path.join(
        base, f"prs_docq_{os.path.basename(os.path.normpath(sf))}_{tag}"
    )
    assert artifacts.path(spark, sf, "docq", base) == torn
    # a torn docq: half the docs, but structurally valid parquet with
    # a _SUCCESS marker — indistinguishable from complete without the
    # count check
    T._docq_rel(spark, sf).limit(250).write.mode("overwrite").parquet(torn)
    assert os.path.exists(os.path.join(torn, "_SUCCESS"))
    rep = artifacts.build(spark, sf, "docq", base=base)
    assert artifacts.get(spark, sf, "docq") is None, "torn docq was cached"
    # the report sees through the clean return (ADVICE r14: ok=True
    # alone would claim the sidecar is live) and says why
    assert rep["ok"] is True and rep["primed"] is False
    assert rep["reason"].startswith("rejected: docq has 250 rows")

    # same for the SRP codes
    etag = int(os.path.getmtime(os.path.join(sf, "embeddings.parquet")))
    storn = os.path.join(
        base, f"prs_srp256_{os.path.basename(os.path.normpath(sf))}_{etag}"
    )
    S.srp_codes(load(spark, sf, "embeddings").limit(100), 256).write.mode(
        "overwrite"
    ).parquet(storn)
    rep = artifacts.build(spark, sf, "srp_codes", base=base)
    assert artifacts.get(spark, sf, "srp_codes") is None, "torn codes cached"
    assert rep["primed"] is False and rep["reason"].startswith("rejected:")

    # a build that raises: contained, reported, consumer unchanged
    def boom(spark, sf, path):
        os.makedirs(os.path.join(path, "partial"))
        raise RuntimeError("disk full")

    shutil.rmtree(torn)
    monkeypatch.setitem(
        artifacts.DECLARED, "docq",
        dataclasses.replace(artifacts.DECLARED["docq"], build=boom),
    )
    rep = artifacts.build(spark, sf, "docq", base=base)
    assert rep["ok"] is False and rep["primed"] is False
    assert rep["reason"] == "RuntimeError: disk full"
    assert artifacts.get(spark, sf, "docq") is None
    assert not os.path.exists(torn)
    assert not [d for d in os.listdir(base) if ".build-" in d], "build dir leaked"
    assert _result(spark, sf, "q_pipeline_curriculum") == unprimed
    monkeypatch.undo()

    # rebuild from scratch -> both prime; a directory without _SUCCESS
    # (a crashed writer, or an older layout) is replaced by the commit
    shutil.rmtree(storn)
    os.makedirs(os.path.join(torn, "stale"))
    assert artifacts.build(spark, sf, "docq", base=base)["primed"] is True
    assert not os.path.exists(os.path.join(torn, "stale"))
    assert artifacts.build(spark, sf, "srp_codes", base=base)["primed"] is True
    assert artifacts.get(spark, sf, "docq") is not None
    assert artifacts.get(spark, sf, "srp_codes") is not None
    assert _result(spark, sf, "q_pipeline_curriculum") == unprimed


def _jobs(spark, fn) -> int:
    """How many Spark jobs `fn()` starts, read off a job group of its
    own."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_whole_table_counts_start_no_job(spark, equality_sf):
    """A count of a file set a plan reads in full is a footer read: the
    minhash width, the LSH plane count (and the unprimed ANN probe it
    feeds) and the vocab_stats/docq/srp_codes validators start no Spark
    job. The knn_graph validator starts only its per-cell aggregate's
    jobs."""
    from pandas_reporter_spark.operators import dedup
    from pandas_reporter_spark.operators import similarity as S
    from pandas_reporter_spark.tables import load

    load_all()
    sf, base = equality_sf
    docs = load(spark, sf, "documents")
    emb = load(spark, sf, "embeddings")
    assert _jobs(spark, lambda: dedup._mh_width(docs, spark, sf)) == 0
    assert _jobs(spark, lambda: S.corpus_planes(sf)) == 0
    assert artifacts.get(spark, sf, "lsh_signatures") is None
    assert _jobs(spark, lambda: QUERIES["q_similarity_ann_lsh"](spark, sf)) == 0

    names = ("vocab_stats", "docq", "srp_codes", "knn_graph")
    for name in names:
        assert artifacts.build(spark, sf, name, base=base)["primed"], name
    try:
        key = artifacts._session_key(spark)
        opened = {}
        for name in names:
            path, _ = artifacts.lookup(key, sf, name)

            def open_(name=name, path=path):
                opened[name] = artifacts.DECLARED[name].open(spark, sf, path)

            want = 0
            if name == "knn_graph":
                want = _jobs(
                    spark, lambda: emb.groupBy("label").count().collect()
                )
                assert want > 0
            assert _jobs(spark, open_) == want, name
            # the footer schema is the one Spark's own inference reads
            assert opened[name].schema == spark.read.parquet(path).schema
    finally:
        for name in names:
            artifacts.drop(spark, sf, name)


@pytest.fixture(scope="module")
def equality_sf(tmp_path_factory):
    return (
        _private_sf(tmp_path_factory, "equality_sf"),
        str(tmp_path_factory.mktemp("equality_base")),
    )


@pytest.mark.parametrize("name", ing.MATERIALIZERS)
def test_primed_equals_unprimed(spark, equality_sf, name):
    """Every artifact is invisible to results: its representative
    consumer returns the same row count and order-insensitive value
    hash with the artifact registered and with it dropped."""
    sf, base = equality_sf
    rep = artifacts.build(spark, sf, name, base=base)
    assert rep["primed"], rep["reason"]
    try:
        primed = _result(spark, sf, CONSUMER[name])
    finally:
        artifacts.drop(spark, sf, name)
    assert primed[0] > 0
    assert _result(spark, sf, CONSUMER[name]) == primed


#: the scale query that reads each input artifact
SCALE_CONSUMER = {
    "bucket_slice": "q_join_bucketed",
    "part_docs": "q_partition_pruned_scan",
    "sorted_docs": "q_layout_sorted_scan",
}


@pytest.mark.parametrize("name", INPUTS)
def test_scale_query_without_its_input_returns_the_same_rows(
    spark, equality_sf, monkeypatch, name
):
    """A scale query whose input artifact cannot be built reads the
    table through `load` instead: the same rows as over the artifact."""
    sf, base = equality_sf
    load_all()
    assert artifacts.build(spark, sf, name, base=base)["primed"]
    try:
        primed = _result(spark, sf, SCALE_CONSUMER[name])
    finally:
        artifacts.drop(spark, sf, name)

    def boom(spark, sf, path):
        raise RuntimeError("disk full")

    declared = dataclasses.replace(artifacts.DECLARED[name], build=boom)
    monkeypatch.setitem(artifacts.DECLARED, name, declared)
    assert primed[0] > 0
    assert _result(spark, sf, SCALE_CONSUMER[name]) == primed
    assert artifacts.get(spark, sf, name) is None


@pytest.mark.parametrize(
    "name,table,col",
    [("token_index", "postings", "bucket"), ("ivf_index", "by_cell", "label")],
)
def test_partitioned_writes_stay_at_session_width(
    spark, equality_sf, name, table, col
):
    """Each bucket/cell directory holds at most one file per write task
    at the session's width: a fixed wider floor multiplies tiny files
    (756 postings files for 0.9 MB at width 32 on 4 slots)."""
    sf, base = equality_sf
    load_all()
    assert artifacts.build(spark, sf, name, base=base)["primed"]
    root = os.path.join(artifacts.path(spark, sf, name, base), table)
    dirs = [d for d in os.listdir(root) if d.startswith(f"{col}=")]
    assert dirs
    width = work_partitions(spark)
    files = {
        d: sum(f.endswith(".parquet") for f in os.listdir(os.path.join(root, d)))
        for d in dirs
    }
    assert max(files.values()) <= width, (width, files)


def _confs(spark):
    return (
        sorted(spark.sparkContext.getConf().getAll()),
        sorted(spark.conf.getAll.items()),
    )


@pytest.fixture(scope="module")
def conf_base(tmp_path_factory):
    return str(tmp_path_factory.mktemp("conf_base"))


@pytest.mark.parametrize("name", ing.MATERIALIZERS + LAYOUTS)
def test_build_leaves_session_confs_unchanged(spark, equality_sf, conf_base, name):
    """ingest and relayout run their builds side by side in one
    session, which is safe only while no build changes a conf another
    build's plan reads: the context conf and the runtime SQL confs are
    identical around a build (the session is configured first, as
    every query does)."""
    sf, _ = equality_sf
    load_all()
    configure(spark)
    artifacts.drop(spark, sf, name)
    shutil.rmtree(artifacts.path(spark, sf, name, conf_base), ignore_errors=True)
    before = _confs(spark)
    try:
        assert artifacts.build(spark, sf, name, base=conf_base)["ok"]
        assert _confs(spark) == before
    finally:
        artifacts.drop(spark, sf, name)


@pytest.mark.parametrize(
    "first,second",
    [
        ("q_dedup_substring", "q_dedup_substring_removal"),
        ("q_pipeline_dsir", "q_pipeline_dsir_bigram"),
    ],
)
def test_held_handles_are_per_query(spark, first, second):
    """A query's persisted frame survives another query's call (the two
    used to share one handle list) and is retired by its own next call."""
    load_all()
    QUERIES[first](spark, SF)
    held = artifacts._HELD[first]
    QUERIES[second](spark, SF)
    assert held.is_cached, f"{second} retired {first}'s live cache"
    QUERIES[first](spark, SF)
    assert not held.is_cached
    assert artifacts._HELD[first].is_cached


#: the queries that write a sink and return a frame reading it back
SINK_QUERIES = (
    "q_stream_file_sink",
    "q_sink_parquet",
    "q_sink_compaction",
    "q_source_csv_roundtrip",
    "q_source_jsonl_roundtrip",
    "q_source_schema_merge",
)


@pytest.mark.parametrize("query", SINK_QUERIES)
def test_sink_dir_outlives_its_call_and_is_retired_by_the_next(spark, query):
    """A sink query's returned frame reads its scratch dir lazily, so
    the dir must survive the call and go on the query's next call."""
    load_all()
    first = QUERIES[query](spark, SF)
    held = artifacts._HELD[query]
    assert first.count() > 0 and os.path.isdir(held)
    QUERIES[query](spark, SF).count()
    assert not os.path.exists(held)
    assert os.path.isdir(artifacts._HELD[query])


#: the queries that read an input artifact they build on first use
SCALE_QUERIES = (
    "q_join_bucketed",
    "q_partition_pruned_scan",
    "q_layout_sorted_scan",
    "q_join_bucketed_atrest",
)


def test_a_process_leaves_only_its_committed_artifacts(spark, tmp_path_factory):
    """A fresh process runs every sink query twice and every scale
    query once on a private snapshot, then exits. Its private TMPDIR
    then holds no ``prs_*`` dir, and the only dirs it added to
    /dev/shm are the committed input artifacts (removed here): no
    scratch dir and no build dir."""
    if not os.path.isdir("/dev/shm"):
        pytest.skip("no /dev/shm")
    sf = _private_sf(tmp_path_factory, "residue_sf")
    tmp = tmp_path_factory.mktemp("residue_tmp")
    committed = [artifacts.path(spark, sf, n) for n in BUCKETED + INPUTS]
    before = set(os.listdir("/dev/shm"))
    code = (
        "from pandas_reporter_spark import session\n"
        "from pandas_reporter_spark.registry import QUERIES, load_all\n"
        "spark = session.get_session('residue-test')\n"
        "load_all()\n"
        f"for q in {SINK_QUERIES * 2 + SCALE_QUERIES!r}:\n"
        f"    QUERIES[q](spark, {sf!r}).collect()\n"
    )
    try:
        _run_fresh(code, TMPDIR=str(tmp))
        assert not [n for n in os.listdir(tmp) if n.startswith("prs_")]
        added = set(os.listdir("/dev/shm")) - before
        assert added == {os.path.basename(p) for p in committed}
    finally:
        for p in committed:
            shutil.rmtree(p, ignore_errors=True)


def test_held_handles_are_retired_at_exit(tmp_path):
    """The last call's handles have no next call to retire them: the
    interpreter-exit hook does, so a held tmpfs dir never outlives the
    process."""
    held = tmp_path / "sink"
    held.mkdir()
    code = (
        "from pandas_reporter_spark import artifacts\n"
        "class Frame:\n"
        "    def unpersist(self): print('unpersisted')\n"
        f"artifacts.hold('q_dir', {str(held)!r})\n"
        "artifacts.hold('q_frame', Frame())\n"
    )
    root = os.path.join(os.path.dirname(__file__), "..")
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True,
        text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert not held.exists()
    assert out.stdout.split() == ["unpersisted"]
