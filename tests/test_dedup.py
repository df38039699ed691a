"""Dedup-operator behavior pins: planted near-duplicates.

The driver gate only row-counts the hash-defined dedup ops; these
tests pin their BEHAVIOR — a planted near-duplicate must be found, an
unrelated document must not pair with anything.
"""

from __future__ import annotations

import pytest

from pandas_reporter_spark.operators.dedup import (
    connected_components,
    minhash_pairs,
    with_hashed_shingles,
)


@pytest.fixture(scope="module")
def corpus(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "sleeps near the warm fire and the birds sing in the tall "
        "green trees beside the quiet river bank every single morning"
    )
    near = base.replace("quiet river", "noisy river")  # 1-word edit
    far = (
        "completely different content about spark query engines and "
        "distributed joins with shuffles partitions and broadcast "
        "exchanges running on large clusters processing huge datasets"
    )
    return spark.createDataFrame(
        [
            {"doc_id": 1, "text": base},
            {"doc_id": 2, "text": near},
            {"doc_id": 3, "text": far},
            {"doc_id": 4, "text": base},  # exact dup of 1
        ]
    )


def test_minhash_finds_planted_near_dup(corpus):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_pairs(corpus, threshold=0.5).collect()
    }
    assert (1, 2) in pairs  # one-word edit → high-Jaccard pair
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # exact dup
    assert not any(3 in p for p in pairs)  # unrelated doc pairs with nothing


def test_minhash_threshold_excludes(corpus):
    pairs = minhash_pairs(corpus, threshold=0.999).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(1, 4)}


def test_hashed_shingles_shape(spark):
    df = spark.createDataFrame(
        [{"doc_id": 1, "text": "a b c d"}, {"doc_id": 2, "text": "a b"}]
    )
    rows = {r["doc_id"]: r["hs"] for r in with_hashed_shingles(df).collect()}
    assert len(rows[1]) == 2  # 4 tokens → 2 trigram shingles
    assert rows[2] == []  # shorter than k → empty, not null


def test_connected_components_transitive_chain(spark):
    # path graph 1-2-3 (transitivity: 1 and 3 never paired directly),
    # plus isolated node 4 labeling itself
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], ["doc_id"])
    pairs = spark.createDataFrame([(2, 1), (2, 3)], ["doc_a", "doc_b"])
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(nodes, pairs, "doc_a", "doc_b").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4}


def test_connected_components_pathological_chain_logn_rounds(spark):
    # the VERDICT r8 item-7 pin: a 256-node PATH graph (diameter 255)
    # must converge in O(log n) large/small-star rounds, not O(diameter)
    # — the failure mode of the retired min-label propagation.
    import pandas_reporter_spark.operators.dedup as dd

    n = 256
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"]
    )
    labels = connected_components(nodes, pairs, "doc_a", "doc_b").collect()
    assert all(r["cluster_id"] == 0 for r in labels)
    assert len(labels) == n
    # 2*ceil(log2 n) + slack; min-label would need ~255 rounds
    assert 1 <= dd.CC_LAST_ROUNDS <= 20, dd.CC_LAST_ROUNDS


def test_span_dedup_drops_repeated_boilerplate(spark, tmp_path_factory):
    import os

    sf = str(tmp_path_factory.mktemp("spans"))
    boiler = " ".join(f"b{i}" for i in range(16))  # exactly one chunk
    uniq_a = " ".join(f"a{i}" for i in range(16))
    uniq_b = " ".join(f"c{i}" for i in range(16))
    rows = [
        (0, boiler + " " + uniq_a, "en", "web", 0),
        (1, boiler + " " + uniq_b, "en", "web", 0),  # boiler repeats: dropped
        (2, boiler, "en", "web", 0),                 # all chunks dropped
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "documents.parquet")
    )
    from pandas_reporter_spark.registry import QUERIES

    out = {r.doc_id: r for r in QUERIES["q_dedup_spans"](spark, sf).collect()}
    assert out[0].n_chunks == 2 and out[0].n_kept == 2  # first occurrence kept
    assert out[1].n_chunks == 2 and out[1].n_kept == 1
    assert out[2].n_chunks == 1 and out[2].n_kept == 0
    assert out[2].kept_md5 is None  # fully-deduplicated doc -> no text


def test_portable_token_hash_matches_md5_prefix(spark):
    """The r6 portable hash must equal int(md5(t)[:15], 16) exactly —
    the property that makes the signature pipelines oracle-checkable."""
    import hashlib

    from pyspark.sql import functions as F

    from pandas_reporter_spark.operators.dedup import portable_token_hash

    toks = ["hello", "WORLD", "", "a b", "42", "ünïcode"]
    df = spark.createDataFrame([(t,) for t in toks], "t string")
    got = {
        r["t"]: r["h"]
        for r in df.select("t", portable_token_hash(F.col("t")).alias("h")).collect()
    }
    for t in toks:
        exp = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
        assert got[t] == exp, t


def test_wrap64_duckdb_matches_numpy_wraparound():
    """Property pin of the cross-engine arithmetic contract: DuckDB's
    HUGEINT-mod wrap (_duck_wrap64) equals numpy int64 two's-complement
    overflow for the minhash mix on arbitrary inputs."""
    import duckdb
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from pandas_reporter_spark.operators.dedup import _duck_wrap64

    con = duckdb.connect()

    @settings(max_examples=60, deadline=None)
    @given(
        h=st.integers(min_value=-(2**63), max_value=2**63 - 1),
        i=st.integers(min_value=0, max_value=63),
    )
    def check(h, i):
        with np.errstate(over="ignore"):
            expect = int(
                np.int64(h) * np.int64(2 * i + 1)
                + np.int64(i * 2654435761 + 1)
            )
        sql = "SELECT " + _duck_wrap64(
            f"CAST({h} AS HUGEINT) * (2*{i}+1) + ({i}*2654435761+1)"
        )
        assert con.execute(sql).fetchone()[0] == expect

    check()


def test_hot_bucket_cap_drops_boilerplate_keeps_planted(spark):
    """The production hot-bucket guard (q_dedup_minhash_capped): a
    boilerplate group BIGGER than the cap contributes no candidate
    pairs, while planted near-dups in small buckets survive — recall
    on true near-dups is preserved because their collisions live in
    small buckets (VERDICT r7 #5: the guard as code, not prose)."""
    from pandas_reporter_spark.operators.dedup import (
        minhash_candidates,
        minhash_pairs,
    )

    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "sleeps near the warm fire and the birds sing in the tall "
        "green trees beside the quiet river bank every single morning"
    )
    near = base.replace("quiet river", "noisy river")
    boiler = (
        "copyright two thousand twenty four all rights reserved "
        "terms of service privacy policy contact us about careers"
    )
    rows = [
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": near},
    ]
    # 12 identical boilerplate docs — every band bucket holds all 12
    rows += [{"doc_id": 100 + i, "text": boiler} for i in range(12)]
    docs = spark.createDataFrame(rows)

    capped = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_candidates(docs, bucket_cap=8).collect()
    }
    # the 12-doc boilerplate buckets exceed the cap → zero pairs from it
    assert not any(a >= 100 for a, _ in capped)
    # the planted near-dup pair survives (its buckets hold 2 docs)
    assert (1, 2) in capped

    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_candidates(docs).collect()
    }
    # sanity: without the cap the boilerplate group emits 12·11/2 pairs
    assert sum(1 for a, _ in uncapped if a >= 100) == 66

    # the verified pairs compose the cap with the exact size-ratio
    # prefilter: the planted pair survives both, boilerplate never
    # reaches the verify
    verified = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_pairs(docs, bucket_cap=8).collect()
    }
    assert (1, 2) in verified
    assert not any(a >= 100 for a, _ in verified)


def test_connected_components_matches_union_find_property(spark):
    """Property pin for the large-star/small-star CC: on random graphs
    the labels must equal a pure-Python union-find's min-id components.
    hypothesis would respawn Spark jobs per example (minutes); a seeded
    sweep of random graphs covers the same space deterministically."""
    import random

    def union_find_labels(n_nodes, edges):
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # min label per component
        comp_min = {}
        for v in range(n_nodes):
            r = find(v)
            comp_min[r] = min(comp_min.get(r, v), v)
        return {v: comp_min[find(v)] for v in range(n_nodes)}

    rng = random.Random(20260815)
    for trial in range(4):
        n = rng.randint(5, 40)
        m = rng.randint(0, n * 2)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        expect = union_find_labels(n, edges)
        nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
        if edges:
            pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
        else:
            pairs = spark.createDataFrame([], "doc_a long, doc_b long")
        got = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components(
                nodes, pairs, "doc_a", "doc_b"
            ).collect()
        }
        assert got == expect, (trial, n, sorted(edges))


def test_cdc_substring_planted_overlap_recall(spark):
    """Recall pin for q_dedup_substring's CDC core: a long substring
    planted at DIFFERENT offsets inside otherwise-different documents
    must be detected through its interior chunks — the exact case the
    fixed-stride grid (q_dedup_spans) cannot align."""
    import random

    from pandas_reporter_spark.operators.dedup import (
        _CDC_MIN_TOKENS,
        cdc_chunks,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(500)]
    shared = " ".join(rng.choice(vocab) for _ in range(120))
    pre_a = " ".join(rng.choice(vocab) for _ in range(3))
    pre_b = " ".join(rng.choice(vocab) for _ in range(47))
    post = " ".join(rng.choice(vocab) for _ in range(20))
    unrelated = " ".join(rng.choice(vocab) for _ in range(150))
    docs = spark.createDataFrame(
        [
            {"doc_id": 1, "text": f"{pre_a} {shared} {post}"},
            {"doc_id": 2, "text": f"{pre_b} {shared}"},
            {"doc_id": 3, "text": unrelated},
        ]
    )
    from pyspark.sql import functions as F

    chunks = cdc_chunks(docs).filter(
        F.col("n_toks") >= _CDC_MIN_TOKENS
    )
    rows = chunks.collect()
    c1 = {r["chunk"] for r in rows if r["doc_id"] == 1}
    c2 = {r["chunk"] for r in rows if r["doc_id"] == 2}
    c3 = {r["chunk"] for r in rows if r["doc_id"] == 3}
    common = c1 & c2
    # the planted substring's interior chunks collide across the two
    # different offsets (3 vs 47 tokens of leading context)
    assert common, "planted 120-token overlap produced no shared chunk"
    # every shared chunk really is part of the planted text
    for ch in common:
        assert ch in shared
    # the unrelated document shares nothing with either
    assert not (c3 & (c1 | c2))
    # and the shared chunks cover a substantial fraction of the overlap
    covered = sum(len(ch.split(" ")) for ch in common)
    assert covered >= 60, covered


def test_semantic_dedup_cell_scoped_semantics(spark, monkeypatch):
    """SemDeDup behavior pin: a >=0.99-cosine pair in the SAME cell
    drops the higher id; the SAME pair split across two cells both
    survive — the cluster-boundary miss the paper accepts by
    construction."""
    from pandas_reporter_spark.operators import dedup as dd
    from pandas_reporter_spark import tables

    base = [float(i % 7 + 1) for i in range(64)]
    near = list(base)
    near[0] += 0.001  # cosine ~ 0.9999997
    far = [float((i * 13) % 11 - 5) or 1.0 for i in range(64)]
    rows = [
        (0, 0, base),
        (1, 0, near),   # same cell as 0 -> dropped
        (2, 1, far),
        (3, 1, base),   # near-identical to 0 but cell 1 -> survives
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    monkeypatch.setattr(
        tables, "load", lambda s, sf, name: df
    )
    monkeypatch.setattr(
        dd, "load", lambda s, sf, name: df
    )
    got = {
        r["cell"]: (r["n_vectors"], r["n_kept"], r["kept_id_sum"])
        for r in dd.q_dedup_semantic(spark, "unused").collect()
    }
    assert got[0] == (2, 1, 0)   # vec 1 dropped, keeper id 0
    assert got[1] == (2, 2, 5)   # cross-cell near-dup survives (2+3)


def test_cdc_substring_removal_keeps_first_occurrence(spark, tmp_path_factory):
    """Removal semantics on offset-shifted boilerplate: the shared
    substring survives only in the globally-first document; later
    hosts keep their unique context (short chunks always survive)."""
    import os
    import random

    sf = str(tmp_path_factory.mktemp("cdcrm"))
    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(500)]
    shared = " ".join(rng.choice(vocab) for _ in range(120))
    pre_b = " ".join(rng.choice(vocab) for _ in range(37))
    rows = [
        (0, shared, "en", "web", 0),
        (1, f"{pre_b} {shared}", "en", "web", 0),
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "documents.parquet")
    )
    from pandas_reporter_spark.registry import QUERIES, load_all

    load_all()
    out = {
        r.doc_id: r
        for r in QUERIES["q_dedup_substring_removal"](spark, sf).collect()
    }
    # doc 0 (first) keeps everything
    assert out[0].n_kept == out[0].n_chunks
    # doc 1 loses the shared substring's interior chunks but keeps some
    assert out[1].n_kept < out[1].n_chunks
    assert out[1].cleaned_md5 is not None
    assert out[0].cleaned_md5 != out[1].cleaned_md5


def test_substring_removal_fully_removed_doc_is_null(spark, tmp_path):
    """A document that consists of ONE long duplicated chunk (its
    only chunk removed as a later occurrence) must report n_kept=0
    and cleaned_md5 NULL — the 'document entirely removed' marker —
    in line with the oracle's all-removed string_agg semantics
    (found by the r13 sf0.1 sweep: doc 2523)."""
    from pandas_reporter_spark.registry import QUERIES, load_all

    load_all()
    # 10 tokens, verified breakpoint-free under the CDC rule, so the
    # whole doc is ONE >=8-token chunk
    blurb = "foxtrot delta lima papa hotel mike romeo yankee victor alpha"
    docs = [
        (0, blurb, "en", "srcA", len(blurb)),          # first occurrence
        (1, blurb, "en", "srcB", len(blurb)),          # later -> removed
        (2, "tiny unrelated words here", "en", "srcA", 25),
    ]
    spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = {
        r["doc_id"]: r
        for r in QUERIES["q_dedup_substring_removal"](
            spark, str(tmp_path)
        ).collect()
    }
    # precondition: the blurb is one single >=8-token chunk
    assert rows[0]["n_chunks"] == 1 and rows[0]["n_kept"] == 1
    assert rows[0]["cleaned_md5"] is not None
    # the later duplicate loses its only chunk
    assert rows[1]["n_kept"] == 0
    assert rows[1]["cleaned_md5"] is None
    # short-chunk doc untouched
    assert rows[2]["n_kept"] == rows[2]["n_chunks"]


def test_fuzzy_branches_cover_every_ed1_shape(spark, tmp_path_factory):
    """The position-tagged rewrite (r14) splits ED<=1 into three
    equi-join branches; TPC-H's uniform-length names exercise only the
    substitution branch, so this corpus plants one pair of each shape
    — equal strings, substitution, insertion/deletion (incl. a run,
    where several deletion positions yield the same variant) — plus an
    ED-2 decoy, and pins the exact pair set against brute force."""
    import itertools
    import os

    names = [
        (1, "alpha"),
        (2, "alpha"),      # dist 0 (identity branch)
        (3, "alphb"),      # substitution of 1/2
        (4, "alpha7"),     # insertion into 1/2
        (5, "aalpha"),     # insertion creating a run ('aa')
        (6, "alp"),        # ED 2 from everything: must not appear
        (7, "betta"),
        (8, "beta"),       # deletion inside the 'tt' run of 7
    ]
    sf = str(tmp_path_factory.mktemp("fuzzy"))
    spark.createDataFrame(
        names, "c_custkey long, c_name string"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "customer.parquet")
    )

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    want = {
        (ka, kb, na, nb, lev(na, nb))
        for (ka, na), (kb, nb) in itertools.combinations(names, 2)
        if lev(na, nb) <= 1
    }
    from pandas_reporter_spark.registry import QUERIES

    got = [tuple(r) for r in QUERIES["q_dedup_fuzzy"](spark, sf).collect()]
    assert len(got) == len(set(got)), "duplicate pair rows emitted"
    assert set(got) == want


def test_fuzzy_substitution_join_keys_exclude_substrings(spark):
    """Plan-shape pin (ADVICE r14): the substitution branch's exactness
    guard is spelled as `<= AND >=` pairs SPECIFICALLY so Catalyst's
    ExtractEquiJoinKeys does NOT fold the prefix/suffix substrings into
    the shuffle/hash keys — as equi-keys, every build/probe/partitioner
    row allocates and hashes two substrings (measured 18.1 s vs 3.6 s
    at sf10, dedup.py). A future optimizer rule canonicalizing
    `x<=y AND x>=y` to `x==y` would silently restore the 5x regression;
    this pin fails loudly instead: every hash-join key list in the
    fuzzy plan must be substring-free, and the vhp-keyed join must
    still carry the substring guard as a residual condition."""
    import re

    from pandas_reporter_spark.registry import QUERIES

    df = QUERIES["q_dedup_fuzzy"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    joins = re.findall(
        r"(ShuffledHashJoin|SortMergeJoin|BroadcastHashJoin)"
        r" \[([^\]]*)\], \[([^\]]*)\](.*)",
        plan,
    )
    assert joins, "no hash joins found in the fuzzy plan"
    vhp_joins = [j for j in joins if "vhp" in j[1]]
    assert vhp_joins, "substitution branch join (vhp keys) not found"
    for kind, lk, rk, rest in joins:
        assert "substring" not in lk and "substring" not in rk, (
            f"substring folded into {kind} keys — the <=/>= guard was "
            f"canonicalized to equality: [{lk}], [{rk}]"
        )
    assert any("substring" in j[3] for j in vhp_joins), (
        "substring guard missing from the vhp join's residual condition"
    )


def test_fuzzy_cross_branch_prefix_run_pruning(spark, tmp_path_factory):
    """Cross-length pairs whose only deletion position sits INSIDE the
    global common prefix must survive the lcp position pruning via the
    delete-at-lcp representative (delete(L, i<=lcp) == delete(L, lcp)
    whenever the variant is a real name). Corpus: lcp('aaab','aacd')
    = 2, and ('aab', 'aaab') differ by a deletion at position 1 — in
    the prefix run."""
    import itertools
    import os

    names = [(1, "aab"), (2, "aaab"), (3, "aacd"), (4, "aa")]
    sf = str(tmp_path_factory.mktemp("fuzzylcp"))
    spark.createDataFrame(
        names, "c_custkey long, c_name string"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "customer.parquet")
    )

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    want = {
        (ka, kb, na, nb, lev(na, nb))
        for (ka, na), (kb, nb) in itertools.combinations(names, 2)
        if lev(na, nb) <= 1
    }
    assert (1, 2, "aab", "aaab", 1) in want  # the in-prefix deletion pair
    from pandas_reporter_spark.registry import QUERIES

    got = [tuple(r) for r in QUERIES["q_dedup_fuzzy"](spark, sf).collect()]
    assert len(got) == len(set(got))
    assert set(got) == want


def test_fuzzy_matches_brute_force_on_random_corpora(spark, tmp_path_factory):
    """Seeded randomized pin of the r14 three-branch rewrite (the
    repo's hypothesis-without-respawning-Spark pattern): small-alphabet
    corpora maximize ED<=1 density — runs of equal chars (shared
    deletion variants), duplicates (dist 0), adjacent lengths
    including the empty string (cross-length at the boundary) — and
    the full pair set must equal brute force exactly."""
    import itertools
    import os
    import random

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    from pandas_reporter_spark.registry import QUERIES

    for seed in (7, 21, 1914):
        rng = random.Random(seed)
        names = [
            (k, "".join(rng.choice("ab") for _ in range(rng.randint(0, 5))))
            for k in range(1, 41)
        ]
        sf = str(tmp_path_factory.mktemp(f"fuzzrand{seed}"))
        spark.createDataFrame(
            names, "c_custkey long, c_name string"
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(sf, "customer.parquet")
        )
        want = {
            (ka, kb, na, nb, lev(na, nb))
            for (ka, na), (kb, nb) in itertools.combinations(names, 2)
            if lev(na, nb) <= 1
        }
        got = [
            tuple(r) for r in QUERIES["q_dedup_fuzzy"](spark, sf).collect()
        ]
        assert len(got) == len(set(got)), f"seed {seed}: duplicate rows"
        assert set(got) == want, (
            f"seed {seed}: missing={sorted(want - set(got))[:5]} "
            f"extra={sorted(set(got) - want)[:5]}"
        )
