"""Text-operator pins not covered by the driver's oracle gate.

The driver corpus has a 10-token floor, so the short-document edge —
where Spark's sequence(1, 0) yields a DESCENDING [1, 0] and element_at
would throw — only gets exercised here.
"""

from __future__ import annotations

import os

import pytest

from pandas_reporter_spark import artifacts
from pandas_reporter_spark.registry import QUERIES, load_all

load_all()


@pytest.fixture(scope="module")
def short_doc_sf(spark, tmp_path_factory):
    """A documents table whose docs are SHORTER than every shingle k."""
    sf = str(tmp_path_factory.mktemp("shortdocs"))
    rows = [
        (0, "alpha beta", "en", "web", 10),          # 2 tokens < k=3
        (1, "one", "en", "web", 3),                  # 1 token
        (2, "a b c d", "en", "web", 7),              # 4 tokens < k=5
        (3, "the quick brown fox jumps over dogs", "en", "web", 35),
        (30, "the quick brown fox jumps over dogs", "en", "web", 35),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    return sf


def test_fingerprint_survives_short_docs(spark, short_doc_sf):
    out = {r.doc_id: r for r in QUERIES["q_text_fingerprint"](spark, short_doc_sf).collect()}
    assert len(out) == 5
    # short docs: no shingles -> NULL min-shingle, doc hash still present
    assert out[0].min_shingle_md5 is None
    assert out[1].min_shingle_md5 is None
    assert out[0].doc_md5 is not None
    # long doc still fingerprints
    assert out[3].min_shingle_md5 is not None


def test_decontaminate_survives_short_docs(spark, short_doc_sf):
    rows = {r.doc_id: r.n_shared for r in
            QUERIES["q_text_decontaminate"](spark, short_doc_sf).collect()}
    # doc 30 duplicates benchmark doc 3 (7 tokens -> 3 5-gram shingles)
    assert rows == {30: 3}


def test_chunk_covers_text_with_overlap(spark, short_doc_sf):
    """Chunks tile each doc: starts at 0,150,300,...; 200-char slices;
    stripping the 50-char overlap reconstructs the original text."""
    rows = QUERIES["q_text_chunk"](spark, short_doc_sf).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {0, 1, 2, 3, 30}
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))
        rebuilt = chunks[0].chunk + "".join(c.chunk[50:] for c in chunks[1:])
        text = next(
            r.text for r in spark.read.parquet(
                os.path.join(short_doc_sf, "documents.parquet")).collect()
            if r.doc_id == doc_id
        )
        assert rebuilt == text
        assert all(c.n_chunk_chars == len(c.chunk) for c in chunks)


def test_redact_rewrites_pii_and_counts(spark, tmp_path_factory):
    sf = str(tmp_path_factory.mktemp("redact"))
    rows = [
        (0, "mail me at jo.doe+x@ex-ample.co.uk now", "en", "web", 38),
        (1, "ssn 123-45-6789 and 987 65 4321 ok", "en", "web", 34),
        (2, "customer met a customer; customers stayed", "en", "web", 41),
        (3, "clean text, nothing to redact", "en", "web", 29),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    out = {r.doc_id: r for r in QUERIES["q_text_redact"](spark, sf).collect()}
    assert out[0].redacted == "mail me at <EMAIL> now"
    assert out[1].redacted == "ssn <ID> and <ID> ok"
    # \b keeps 'customers' (different token) intact
    assert out[2].redacted == "<NAME> met a <NAME>; customers stayed"
    assert out[2].n_names == 2
    assert out[3].redacted == out[3].redacted == rows[3][1]
    assert out[3].n_names == 0


def test_doc_token_tf_artifact_is_result_invariant(spark, tmp_path):
    """The shared tokenize artifact must be invisible to results: every
    consumer query returns byte-identical rows whether it starts from
    the materialized (doc, token, tf) relation or its standalone plan."""

    sf = "/root/testdata/sf0.001"
    consumers = (
        "q_text_tokens",
        "q_text_tfidf",
        "q_text_langid",
        "q_text_logprob",
        "q_text_kl_divergence",
        "q_sketch_heavy_hitters",
        "q_pipeline_dsir",
    )
    from pandas_reporter_spark.registry import QUERIES

    artifacts.drop(spark, sf, "doc_tokens")
    base = {
        q: sorted(map(tuple, QUERIES[q](spark, sf).collect()))
        for q in consumers
    }
    try:
        artifacts.build(spark, sf, "doc_tokens", base=str(tmp_path))
        assert artifacts.get(spark, sf, "doc_tokens") is not None
        for q in consumers:
            got = sorted(map(tuple, QUERIES[q](spark, sf).collect()))
            assert got == base[q], f"{q} diverged on the artifact path"
    finally:
        artifacts.drop(spark, sf, "doc_tokens")


def test_canonicalize_url_edge_cases(spark):
    """URL canonicalizer edge pins beyond the oracle's derived fixture:
    portless, query-less, http with default :80 vs non-default port,
    fragment-only decoration, tracking-only query, and param sorting."""
    from pandas_reporter_spark.operators.text import canonicalize_url

    cases = [
        ("HTTP://Example.COM:80/a", "http://example.com/a"),
        ("http://example.com:8080/a", "http://example.com:8080/a"),
        ("https://WWW.Site.org/Path/Case", "https://site.org/Path/Case"),
        ("https://site.org/p#frag", "https://site.org/p"),
        ("https://site.org/p?utm_campaign=x&ref=y", "https://site.org/p"),
        ("https://site.org/p?b=2&a=1&utm_s=z", "https://site.org/p?a=1&b=2"),
        ("ftp://Host.net:21/f?x=1", "ftp://host.net:21/f?x=1"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [
        r.c for r in df.select(canonicalize_url("url").alias("c")).collect()
    ]
    assert got == [want for _, want in cases]


def test_canonicalize_url_fused_equals_regex_reference(spark):
    """The r11 string-intrinsic canonicalizer must be byte-equivalent
    to the r10 all-regex body on an adversarial URL sweep: missing
    scheme, empty hostport, port-less, non-numeric port, multi-colon
    hosts, fragment-before-query, tracking-only queries, empty params,
    and the registered query's derived fixture shape."""
    from pandas_reporter_spark.operators.text import (
        _canonicalize_url_regex,
        canonicalize_url,
    )

    urls = [
        "HTTPS://WWW.S1.Example.COM:443/Docs/7?utm_source=feed&ref=1&id=3#s2",
        "http://example.com:80/a",
        "http://example.com:8080/a",
        "https://WWW.Site.org/Path/Case",
        "https://site.org/p#frag",
        "https://site.org/p#frag?notaquery=1",
        "https://site.org/p?utm_campaign=x&ref=y",
        "https://site.org/p?b=2&a=1&utm_s=z",
        "https://site.org/p?b=2&&a=1",
        "ftp://Host.net:21/f?x=1",
        "no-scheme-at-all",
        "1http://bad.scheme/x",
        "https:///path-no-host",
        "https://?q=1",
        "https://site.org",
        "https://site.org?a=1",
        "https://site.org:notaport/x",
        "https://a:b:443/x",
        "https://:443/x",
        "https://site.org:/x",
        "https://www.www.site.org/x",
        "HTTPS://WWW.X.COM:443",
        "http://h/p?ref=1&refx=2&utm=3&utm_=4",
        "",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select(
        canonicalize_url("url").alias("fused"),
        _canonicalize_url_regex("url").alias("ref"),
    ).collect()
    for u, r in zip(urls, rows):
        assert r.fused == r.ref, f"divergence on {u!r}: {r.fused!r} != {r.ref!r}"


def test_token_index_probe_is_result_invariant_and_pruned(spark, tmp_path):
    """The at-rest inverted index must be invisible to results (BM25
    and the RRF fusion return byte-identical rows on the probe path)
    and actually PRUNE: the probe plan's postings scan must carry a
    bucket partition filter, and no plan node may scan documents.text."""
    import io
    import contextlib

    from pandas_reporter_spark.registry import QUERIES, load_all

    load_all()
    sf = "/root/testdata/sf0.001"
    consumers = ("q_text_bm25", "q_search_hybrid_rrf")
    artifacts.drop(spark, sf, "token_index")
    base = {
        q: sorted(map(tuple, QUERIES[q](spark, sf).collect()))
        for q in consumers
    }
    try:
        artifacts.build(spark, sf, "token_index", base=str(tmp_path))
        assert artifacts.get(spark, sf, "token_index") is not None
        for q in consumers:
            got = sorted(map(tuple, QUERIES[q](spark, sf).collect()))
            assert got == base[q], f"{q} diverged on the index path"
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            QUERIES["q_text_bm25"](spark, sf).explain("formatted")
        p = buf.getvalue()
        assert "PartitionFilters: [bucket" in p.replace(
            "PartitionFilters: [isnotnull(bucket", "PartitionFilters: [bucket"
        ), "postings scan lost its bucket partition filter"
        assert "text" not in _scanned_columns(p), (
            "the probe path still scans documents.text"
        )
    finally:
        artifacts.drop(spark, sf, "token_index")


def _scanned_columns(plan: str) -> set[str]:
    """Column names appearing in any scan's ReadSchema line."""
    import re

    cols = set()
    for m in re.finditer(r"ReadSchema:[^\n]*struct<([^>]*)>", plan):
        for field in m.group(1).split(","):
            name = field.split(":")[0].strip()
            if name:
                cols.add(name)
    return cols


def test_overlap_matrix_planted_cross_source_shingle(spark, tmp_path):
    """Two sources sharing exactly ONE 5-token shingle must produce a
    single matrix row with n_shared=1 and the closed-form Jaccard;
    disjoint sources must produce no row."""
    from pandas_reporter_spark.registry import QUERIES, load_all

    load_all()
    shared = "alpha beta gamma delta epsilon"
    docs = [
        # srcA: the shared shingle + 1 private shingle (6 tokens -> 2
        # shingles total)
        (0, shared + " zeta", "en", "srcA", 36),
        # srcB: the shared shingle only (5 tokens -> 1 shingle)
        (1, shared, "en", "srcB", 30),
        # srcC: disjoint
        (2, "one two three four five six", "en", "srcC", 27),
    ]
    spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = {
        (r["src_a"], r["src_b"]): r
        for r in QUERIES["q_text_overlap_matrix"](
            spark, str(tmp_path)
        ).collect()
    }
    assert set(rows) == {("srcA", "srcB")}
    r = rows[("srcA", "srcB")]
    # |A|=2, |B|=1, shared=1 -> J = 1/2 -> 500000 micro
    assert (r["n_shared"], r["n_a"], r["n_b"], r["jacc_micro"]) == (
        1, 2, 1, 500000,
    )


def test_overlap_matrix_distributed_fallback_matches_local(
    spark, tmp_path, monkeypatch
):
    """Above the driver-assembly row ceiling the matrix assembles
    distributed (two broadcast joins); forcing the fallback with a
    zero ceiling must reproduce the driver-side rows exactly —
    including on a many-source frame (VERDICT r15 item 5)."""
    from pandas_reporter_spark.operators import text as T
    from pandas_reporter_spark.registry import QUERIES, load_all

    load_all()
    shared = "alpha beta gamma delta epsilon"
    docs = [
        # 12 sources all holding the shared shingle, plus one private
        # shingle each (every pair overlaps -> 66 pair rows + 12 totals)
        (i, f"{shared} tok{i}", "en", f"src{i:02d}", 40)
        for i in range(12)
    ]
    spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    def run():
        return sorted(
            tuple(r) for r in QUERIES["q_text_overlap_matrix"](
                spark, str(tmp_path)
            ).collect()
        )

    local = run()
    monkeypatch.setattr(T, "_OVERLAP_LOCAL_MAX_ROWS", 0)
    dist = run()
    assert local == dist
    assert len(local) == 66  # C(12, 2) overlapping pairs


def test_perplexity_bigram_ranks_novel_above_repetitive(spark, tmp_path):
    """A document of globally-unique bigrams must out-perplex a
    document that repeats one corpus-common bigram, single-token docs
    must drop out (no bigrams), and n_bg must equal len(tokens)-1."""
    from pandas_reporter_spark.registry import QUERIES, load_all

    load_all()
    docs = [
        # doc 0: one bigram ("x y") repeated 9 times via 10 tokens
        (0, " ".join(["x", "y"] * 5), "en", "srcA", 19),
        # doc 1: 5 tokens, all 4 bigrams globally unique
        (1, "alpha beta gamma delta epsilon", "en", "srcA", 30),
        # doc 2: single token -> no bigrams -> absent from output
        (2, "solo", "en", "srcB", 4),
    ]
    spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = QUERIES["q_text_perplexity_bigram"](spark, str(tmp_path)).collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert set(by_id) == {0, 1}
    assert by_id[0]["n_bg"] == 9 and by_id[1]["n_bg"] == 4
    assert by_id[1]["avg_nll_nano"] > by_id[0]["avg_nll_nano"]
    # ordering: most-perplexing first
    assert rows[0]["doc_id"] == 1


# ---------------------------------------------------------------------------
# BPE tokenizer training


def _py_bpe(words, k):
    """Reference BPE (Sennrich et al. 2016 learn_bpe), reimplemented
    from the paper with the ENGINE'S documented merge semantics:
    boundary-anchored left-to-right non-overlapping literal replace
    (Python str.replace == Spark/DuckDB replace), tie-break
    (count DESC, pair ASC)."""
    from collections import Counter

    dic = Counter()
    for w, c in Counter(words).items():
        dic[" ".join(list(w)) + " ¶"] += c
    merges = []
    for rnd in range(k):
        pc = Counter()
        for s, c in dic.items():
            t = s.split(" ")
            for a, b in zip(t, t[1:]):
                pc[(a, b)] += c
        if not pc:
            break  # exhausted: every word is one symbol (engine breaks too)
        (l, r) = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append((rnd + 1, l, r, pc[(l, r)], l + r))
        nxt = Counter()
        for s, c in dic.items():
            nxt[(" " + s + " ").replace(f" {l} {r} ", f" {l}{r} ").strip()] += c
        dic = nxt
    return merges


@pytest.fixture(scope="module")
def bpe_sf(spark, tmp_path_factory):
    """The Sennrich worked example: low*5 lower*2 newest*6 widest*3."""
    sf = str(tmp_path_factory.mktemp("bpedocs"))
    rows = [
        (0, "low low low low low", "en", "web", 19),
        (1, "lower lower", "en", "web", 11),
        (2, "newest newest newest newest newest newest", "en", "web", 41),
        (3, "widest widest widest", "en", "web", 20),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "documents.parquet")
    )
    return sf


def test_bpe_merge_table_hand_pin(spark, bpe_sf):
    """All 8 merges on the worked example, computed by hand: the es/
    est/est¶ cascade (9), lo/low (7), then ew/ewest¶/newest¶ (6) —
    every round exercises the (count DESC, pair ASC) tie-break at
    least once in rounds 1, 2, 6 and 7."""
    out = [tuple(r) for r in QUERIES["q_text_bpe_train"](spark, bpe_sf).collect()]
    assert out == [
        (1, "e", "s", 9, "es"),
        (2, "es", "t", 9, "est"),
        (3, "est", "¶", 9, "est¶"),
        (4, "l", "o", 7, "lo"),
        (5, "lo", "w", 7, "low"),
        (6, "e", "w", 6, "ew"),
        (7, "ew", "est¶", 6, "ewest¶"),
        (8, "n", "ewest¶", 6, "newest¶"),
    ]


def test_bpe_matches_python_reference_at_sf0001(spark):
    """Engine merge table == the pure-Python reference implementation
    over the identical token stream (independent of the SQL oracle)."""
    import duckdb

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    words = [
        r[0]
        for r in con.execute(
            "SELECT unnest(list_filter(string_split(lower(text), ' '),"
            " x -> x <> '')) FROM"
            f" read_parquet('{sf}/documents.parquet')"
        ).fetchall()
    ]
    expect = _py_bpe(words, 8)
    got = [tuple(r) for r in QUERIES["q_text_bpe_train"](spark, sf).collect()]
    assert got == expect


def test_bpe_apply_hand_pin(spark, bpe_sf):
    """Fertility rollup on the worked example, segmentations by hand:
    low->(low ¶)x5, lower->(low e r ¶)x2, newest->(newest¶)x6,
    widest->(w i d est¶)x3 -> ws=16, bpe=10+8+6+12=36."""
    out = [tuple(r) for r in QUERIES["q_text_bpe_apply"](spark, bpe_sf).collect()]
    assert out == [("web", 4, 16, 36, 36 * 10**6 // 16)]


def test_bpe_apply_empty_and_single_token_docs(spark, tmp_path_factory):
    """Zero-token and one-token docs survive the doc-level apply."""
    sf = str(tmp_path_factory.mktemp("bpeedge"))
    rows = [
        (0, "", "en", "a", 0),
        (1, "x", "en", "a", 1),
        (2, "x x x x", "en", "b", 7),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "documents.parquet")
    )
    out = {r["source"]: tuple(r) for r in QUERIES["q_text_bpe_apply"](spark, sf).collect()}
    # merge 1 is (x, ¶) count 5 -> 'x¶' single symbol everywhere;
    # the empty doc contributes 0/0 and a NULL-safe rollup
    assert out["a"] == ("a", 2, 1, 1, 10**6)
    assert out["b"] == ("b", 1, 4, 4, 10**6)


# ---------------------------------------------------------------------------
# Efraimidis-Spirakis weighted sampling


def test_sample_weighted_matches_hashlib_reference(spark):
    """Third-opinion reimplementation: hashlib md5 + math.log, same
    key formula, over the full sf0.001 corpus."""
    import duckdb
    import hashlib
    import math

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    rows = con.execute(
        "SELECT doc_id, source, n_chars FROM"
        f" read_parquet('{sf}/documents.parquet') WHERE n_chars > 0"
    ).fetchall()

    def key_nano(doc_id, w):
        h = int(hashlib.md5(f"{doc_id}:wsample".encode()).hexdigest()[:15], 16)
        x = math.log((h + 1.0) / float(1 << 60)) / float(w) * 1e9
        # half-away-from-zero, matching Spark F.round and DuckDB round
        # (Python's round() is banker's and would diverge on an
        # exact-.5 key)
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    expect = sorted(
        ((d, s, n, key_nano(d, n)) for d, s, n in rows),
        key=lambda r: (-r[3], r[0]),
    )[:64]
    got = [
        tuple(r)
        for r in QUERIES["q_sample_weighted"](spark, sf).collect()
    ]
    assert got == expect


def test_sample_weighted_is_top_k_no_global_sort(spark):
    p = QUERIES["q_sample_weighted"](
        spark, "/root/testdata/sf0.001"
    )._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p, p


def test_vocab_coverage_saturates_beyond_vocab(spark, tmp_path_factory):
    """3-token vocab: every threshold clamps to vocab_used=3 with
    full coverage; hand-checked counts on a 10-occurrence corpus."""
    sf = str(tmp_path_factory.mktemp("vocabdocs"))
    rows = [
        (0, "a a a a a b b b c", "en", "web", 17),
        (1, "c", "en", "web", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "documents.parquet")
    )
    out = sorted(
        tuple(r) for r in QUERIES["q_text_vocab_coverage"](spark, sf).collect()
    )
    assert out == [
        (8, 3, 10, 10, 10**6),
        (16, 3, 10, 10, 10**6),
        (32, 3, 10, 10, 10**6),
        (64, 3, 10, 10, 10**6),
    ]


def test_stream_reservoir_equals_batch_draw(spark):
    """The streaming reservoir must reproduce the batch E-S sample
    bit-for-bit (mergeable top-k + deterministic keys)."""
    sf = "/root/testdata/sf0.001"
    batch = [tuple(r) for r in QUERIES["q_sample_weighted"](spark, sf).collect()]
    stream = [
        tuple(r) for r in QUERIES["q_stream_sample_weighted"](spark, sf).collect()
    ]
    assert stream == batch


def test_bpe_property_random_corpora_match_python_reference(spark, tmp_path):
    """Hypothesis: engine merge table == the pure-Python reference on
    random small corpora — exercises regex-metachar tokens, multibyte
    chars, runs of identical words, and merge exhaustion."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    alphabet = "ab.(β "  # regex metachar, multibyte, spaces

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        texts=st.lists(
            st.text(alphabet=alphabet, min_size=0, max_size=24),
            min_size=1,
            max_size=4,
        )
    )
    def inner(texts):
        import os as _os
        import uuid

        # unique dir per example: Spark caches the file listing per
        # path, so overwriting a reused path serves deleted part files
        sf = str(tmp_path / f"bpeprop_{uuid.uuid4().hex[:10]}")
        rows = [
            (i, t, "en", "web", len(t)) for i, t in enumerate(texts)
        ]
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        ).coalesce(1).write.mode("overwrite").parquet(
            _os.path.join(sf, "documents.parquet")
        )
        words = [
            w for t in texts for w in t.lower().split(" ") if w != ""
        ]
        expect = _py_bpe(words, 8) if words else []
        got = [
            tuple(r)
            for r in QUERIES["q_text_bpe_train"](spark, sf).collect()
        ]
        assert got == expect, (texts, got, expect)

    inner()


def test_bpe_artifact_path_is_bit_equal(spark, tmp_path):
    """apply via the at-rest trained-merges artifact == the
    self-training path, and the artifact equals the train query."""

    sf = "/root/testdata/sf0.001"
    artifacts.drop(spark, sf, "bpe_merges")
    fresh = sorted(tuple(r) for r in QUERIES["q_text_bpe_apply"](spark, sf).collect())
    artifacts.build(spark, sf, "bpe_merges", base=str(tmp_path))
    assert artifacts.get(spark, sf, "bpe_merges") is not None
    train = [tuple(r) for r in QUERIES["q_text_bpe_train"](spark, sf).collect()]
    assert artifacts.get(spark, sf, "bpe_merges") == train
    via_art = sorted(tuple(r) for r in QUERIES["q_text_bpe_apply"](spark, sf).collect())
    assert via_art == fresh
    artifacts.drop(spark, sf, "bpe_merges")


def test_bpe_local_loop_matches_distributed(spark):
    """The driver-side production merge loop (bpe_learn_local — the
    k≈30k path SCALING.md documents) must produce bit-identical merge
    tables to the distributed loop at k beyond the checkpoint cadence
    (so the localCheckpoint lineage truncation is covered too)."""
    from pandas_reporter_spark.operators import text as T

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        k = T._BPE_CKPT_EVERY + 4  # crosses one checkpoint boundary
        assert T.bpe_learn_local(spark, sf, k) == T._bpe_learn(spark, sf, k), sf


def test_bpe_artifact_rejects_torn_read(spark, tmp_path):
    """A concurrent overwrite can let the shared-artifact read collect
    0 or partial rows without raising (ADVICE r12): such reads must
    never be cached — apply falls back to self-training."""
    import os

    from pandas_reporter_spark.operators import text as T

    sf = "/root/testdata/sf0.001"
    src_tag = int(os.path.getmtime(os.path.join(sf, "documents.parquet")))
    out = os.path.join(str(tmp_path), f"prs_bpe_sf0.001_{src_tag}")
    for rows in ([], [(1, "a", "b", 3, "ab"), (2, "c", "d", 2, "cd")]):
        artifacts.drop(spark, sf, "bpe_merges")
        spark.createDataFrame(
            rows,
            "round int, lhs string, rhs string, pair_count bigint,"
            " merged string",
        ).coalesce(1).write.mode("overwrite").parquet(out)
        artifacts.build(spark, sf, "bpe_merges", base=str(tmp_path))
        assert artifacts.get(spark, sf, "bpe_merges") is None, rows
    # a complete artifact (rounds exactly 1..k) IS accepted
    full = [(i + 1, f"l{i}", f"r{i}", 9 - i, f"l{i}r{i}")
            for i in range(T._BPE_MERGES)]
    spark.createDataFrame(
        full,
        "round int, lhs string, rhs string, pair_count bigint, merged string",
    ).coalesce(1).write.mode("overwrite").parquet(out)
    artifacts.build(spark, sf, "bpe_merges", base=str(tmp_path))
    assert artifacts.get(spark, sf, "bpe_merges") == full
    artifacts.drop(spark, sf, "bpe_merges")


def test_curriculum_artifact_path_is_bit_equal(spark, tmp_path):
    """curriculum via the at-rest docq score sidecar == the inline
    self-scoring path (the BM25 artifact discipline)."""

    sf = "/root/testdata/sf0.001"
    artifacts.drop(spark, sf, "docq")
    fresh = sorted(
        tuple(r) for r in QUERIES["q_pipeline_curriculum"](spark, sf).collect()
    )
    artifacts.build(spark, sf, "docq", base=str(tmp_path))
    assert artifacts.get(spark, sf, "docq") is not None
    via_art = sorted(
        tuple(r) for r in QUERIES["q_pipeline_curriculum"](spark, sf).collect()
    )
    assert via_art == fresh
    artifacts.drop(spark, sf, "docq")


def test_curriculum_octiles_are_balanced_and_ordered(spark):
    """8 stages, score ranges strictly ordered and non-overlapping,
    counts equal up to value ties (each stage <= ceil(N/8) + tie
    slack bounded by the largest q-tie run)."""
    sf = "/root/testdata/sf0.001"
    rows = sorted(
        (r["stage"], r) for r in QUERIES["q_pipeline_curriculum"](spark, sf).collect()
    )
    stages = [s for s, _ in rows]
    assert stages == list(range(len(stages)))
    # ranges ordered and disjoint
    for (_, a), (_, b) in zip(rows, rows[1:]):
        # strictly disjoint: stage is a function of q, so a boundary
        # value belongs entirely to one stage
        assert a["q_max"] < b["q_min"], (a, b)
    n = sum(r["n_docs"] for _, r in rows)
    assert n > 0
    # every stage nonempty on this corpus and none holds a majority
    assert all(r["n_docs"] > 0 for _, r in rows)
    assert max(r["n_docs"] for _, r in rows) < n


def test_fim_matches_hashlib_and_reassembles(spark):
    """Third-opinion FIM: recompute every transformed doc with
    hashlib + str slicing; the PSM parts must reassemble the original
    and the per-source checksums must match the query."""
    import hashlib

    import duckdb

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, source, text FROM read_parquet('{sf}/documents.parquet')"
    ).fetchall()

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    agg = {}
    for doc_id, source, text in rows:
        L = len(text)
        sel = h60(f"{doc_id}:fimsel") % 2 == 0
        if L >= 2 and sel:
            c1 = 1 + h60(f"{doc_id}:fim1") % (L - 1)
            c2 = 1 + h60(f"{doc_id}:fim2") % (L - 1)
            lo, hi = min(c1, c2), max(c1, c2)
            pre, mid, suf = text[:lo], text[lo:hi], text[hi:]
            assert pre + mid + suf == text  # reassembly invariant
            out = f"<PRE>{pre}<SUF>{suf}<MID>{mid}"
            fim = 1
        else:
            out, fim = text, 0
        n, nf, ck = agg.get(source, (0, 0, 0))
        agg[source] = (n + 1, nf + fim, ck + h60(out) % 1000000007)
    got = {
        r["source"]: (r["n_docs"], r["n_fim"], r["out_check"])
        for r in QUERIES["q_text_fim"](spark, sf).collect()
    }
    assert got == agg
    # the draw actually transforms a nontrivial share
    assert sum(v[1] for v in agg.values()) > 0


def test_qc_weight_table_matches_md5_derivation(spark):
    """The literal weight table must be bit-identical to the in-engine
    double-md5 chain the oracle still specifies — for every bucket."""
    from pyspark.sql import functions as F

    from pandas_reporter_spark.operators import text as T

    wt = T._qc_weight_array()
    assert len(wt) == T._QC_BUCKETS
    got = (
        spark.range(T._QC_BUCKETS)
        .select(
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("w#"), F.col("id").cast("string"))),
                        1, 15,
                    ),
                    16, 10,
                ).cast("long")
                % T._QC_WMOD
                - 128
            ).alias("w")
        )
        .collect()
    )
    assert [r["w"] for r in got] == wt


def test_bpe_segment_kernel_bit_equal_to_chain(spark):
    """The Arrow kernel (production-k apply path) must be bit-equal to
    the compiled replace chain — per DISTINCT WORD, on a real corpus
    dictionary with a k=16 merge table trained on that corpus (twice
    the registered k, deep enough that later merges consume earlier
    merges' output symbols and the consumed-space replace subtlety is
    exercised)."""
    from pyspark.sql import functions as F

    from pandas_reporter_spark.operators.text import (
        bpe_learn_local,
        bpe_segment_nsub,
    )
    from pandas_reporter_spark.tables import load

    sf = "/root/testdata/sf0.001"
    merges = bpe_learn_local(spark, sf, 16)
    assert len(merges) == 16
    words = (
        load(spark, sf, "documents")
        .select(
            F.explode(
                F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
            ).alias("w")
        )
        .distinct()
    )
    both = words.select(
        "w",
        bpe_segment_nsub(merges, mode="chain").alias("a"),
        bpe_segment_nsub(merges, mode="kernel").alias("b"),
    )
    diff = both.filter(F.col("a") != F.col("b"))
    assert diff.count() == 0, diff.limit(5).collect()
    # and the kernel actually compresses (merges fired somewhere)
    stats = both.agg(
        F.sum("a").alias("sa"),
        F.sum(F.length("w") + 1).alias("raw"),
    ).collect()[0]
    assert stats["sa"] < stats["raw"]


def test_qc_production_tier_deterministic_and_consistent(spark):
    """The engine-only xxhash64 classifier tier (bench-only row): no
    DuckDB oracle exists (no xxhash64 there), so its gates are (a)
    bit-identical results across input partitionings and shuffle
    widths — pure deterministic expression work must not care how the
    scan is sliced — and (b) structural parity with the oracled md5
    form: same sources, same per-source doc counts (the feature hash
    cannot change which docs exist), sane pass counts."""
    from pandas_reporter_spark.operators.text import qc_production_audit
    from pandas_reporter_spark.registry import QUERIES
    from pandas_reporter_spark.tables import load

    sf = "/root/testdata/sf0.001"
    d = load(spark, sf, "documents")
    a = {tuple(r) for r in qc_production_audit(d.repartition(13)).collect()}
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        b = {tuple(r) for r in qc_production_audit(d.coalesce(1)).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert a == b and a
    md5_form = {
        r["source"]: (r["n_docs"], r["n_pass"])
        for r in QUERIES["q_text_quality_classifier"](spark, sf).collect()
    }
    prod = {src: (nd, np_) for src, nd, np_, _ in a}
    assert set(prod) == set(md5_form)
    for src, (nd, np_) in prod.items():
        assert nd == md5_form[src][0], "doc counts must not depend on hash"
        assert 0 <= np_ <= nd
