"""LSH similarity pins: recall on PLANTED near-duplicates.

The driver corpus has no pairs above cosine ~0.51, so the oracle gate
never exercises the ≥0.99 near-dup path with real positives. These
tests plant near-identical vectors and pin that the deterministic
hyperplane buckets recover them (P(candidate | cos≥0.999) ≈ 1-3e-5
per pair with 8 tables × 8 planes — and the planes are fixed
constants, so the outcome is deterministic, not probabilistic).
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from pandas_reporter_spark.operators.similarity import (
    _mix64,
    lsh_candidate_pairs,
    lsh_signatures,
    plane_signs,
)
from pandas_reporter_spark import artifacts
from pandas_reporter_spark.registry import QUERIES, load_all

load_all()

N_BASE, N_PLANTED, DIM = 60, 12, 64


def _base_vec(i: int) -> list[float]:
    # deterministic pseudo-random unit-ish vector from splitmix64
    return [(_mix64(i * DIM + j) % 2001 - 1000) / 1000.0 for j in range(DIM)]


def _vectors():
    rows = []
    for i in range(N_BASE):
        rows.append((i, [float(v) for v in _base_vec(i)], i % 5))
    for k in range(N_PLANTED):  # vec 100+k ≈ vec k (cos > 0.999)
        v = _base_vec(k)
        pert = [x + 0.001 * ((_mix64(9_000_000 + k * DIM + j) % 3) - 1) for j, x in enumerate(v)]
        rows.append((100 + k, [float(x) for x in pert], k % 5))
    return rows


@pytest.fixture(scope="module")
def planted(spark):
    return spark.createDataFrame(
        _vectors(), "vec_id long, embedding array<float>, label int"
    )


def test_plane_signs_deterministic_and_balanced():
    p = plane_signs(3, 5)
    assert p == plane_signs(3, 5)
    assert set(p) == {1.0, -1.0}
    # splitmix64 bit 0 is well-mixed: signs roughly balanced
    assert 16 <= sum(1 for v in p if v > 0) <= 48


def test_occupancy_rule_matches_oracle_formula():
    # the Spark-side rule and the oracle's in-SQL LEAST/GREATEST/ceil/
    # log2 chain must pick the IDENTICAL b for every corpus size —
    # a divergence silently changes the candidate set on one side only
    import duckdb

    from pandas_reporter_spark.operators.similarity import lsh_planes_for

    con = duckdb.connect()
    for n in (0, 1, 7, 8, 63, 64, 200, 2000, 2048, 20000, 200000,
              2_000_000, 10**9, 10**12):
        got = con.execute(
            "SELECT LEAST(20, GREATEST(6, CAST(ceil(log2(GREATEST("
            f"{n}, 1) / 8.0)) AS INT)))"
        ).fetchone()[0]
        assert got == lsh_planes_for(n), (n, got, lsh_planes_for(n))


def test_lsh_signatures_shape(spark, planted):
    sigs = lsh_signatures(planted)
    assert sigs.columns == ["vec_id", "tbl", "sig"]
    n = planted.count()
    assert sigs.count() == n * 8  # one sig per vector per table
    assert sigs.filter((F.col("sig") < 0) | (F.col("sig") > 255)).count() == 0


def test_lsh_recall_on_planted_near_dups(spark, planted):
    pairs = {
        (r.vec_a, r.vec_b) for r in lsh_candidate_pairs(planted).collect()
    }
    planted_pairs = {(k, 100 + k) for k in range(N_PLANTED)}
    missed = planted_pairs - pairs
    assert not missed, f"LSH buckets missed planted near-dups: {missed}"


def test_dedup_embedding_keeps_lowest_id(spark, planted, tmp_path):
    sf = str(tmp_path)
    planted.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf, "embeddings.parquet")
    )
    kept = {r.vec_id for r in QUERIES["q_dedup_embedding"](spark, sf).collect()}
    # every planted duplicate (higher id) dropped, every base kept
    for k in range(N_PLANTED):
        assert k in kept and (100 + k) not in kept
    assert all(i in kept for i in range(N_BASE))


def _brute_topk(rows, qv, k=10, exclude=(0,)):
    """Ground-truth top-k vec_ids by exact cosine (driver-side)."""
    import heapq

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na and nb else 0.0

    scored = [
        (cos(v, qv), vid) for vid, v, _ in rows if vid not in exclude
    ]
    return [vid for _, vid in heapq.nlargest(k, scored)]


def test_ann_lsh_recall_at_10_on_planted_neighbors(spark):
    """Recall@10 operating point for the L=8×b=8 LSH ANN dials, pinned
    on planted neighbors over the REAL sf0.1 embedding corpus (falls
    back to sf0.01 when the big snapshot is absent): 10 vectors at
    cos≈0.999 of the query must dominate top-10 and the probe must
    recover ≥9 of them (VERDICT r7 #8)."""
    from pandas_reporter_spark.operators.similarity import ann_lsh_topk

    sf = "/root/testdata/sf0.1"
    if not os.path.isdir(sf):
        sf = "/root/testdata/sf0.01"
        if not os.path.isdir(sf):
            pytest.skip("no driver testdata")
    e = spark.read.parquet(os.path.join(sf, "embeddings.parquet")).select(
        "vec_id", "embedding", "label"
    )
    q = e.filter(F.col("vec_id") == 0).collect()[0]
    planted_ids = list(range(10_000_000, 10_000_010))
    rows = []
    for n, pid in enumerate(planted_ids):
        pert = [
            float(x) + 0.001 * ((_mix64(31_000_000 + n * DIM + j) % 3) - 1)
            for j, x in enumerate(q.embedding)
        ]
        rows.append((pid, pert, int(q.label)))
    extra = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    full = e.unionByName(extra)
    got = {
        r.vec_id
        for r in ann_lsh_topk(full, query_vec_id=0, k=10).collect()
    }
    recall = len(got & set(planted_ids)) / 10
    assert recall >= 0.9, f"LSH ANN recall@10 {recall} on planted neighbors"


def test_ivf_recall_at_10_on_clustered_corpus(spark):
    """Recall@10 operating point for the IVF probe dial (2 of 10
    cells): IVF's contract presumes cluster structure (cells = coarse
    quantizer), so the pin runs on a clustered corpus — 10 Gaussian-ish
    clusters, label == cluster, query inside cluster 3. Probing 2/10
    cells must recover ≥9 of the true top-10 (which live in the
    query's own cluster). Exercises the full centroid-build + probe +
    rerank plan, not just bucket math (VERDICT r7 #8)."""
    from pandas_reporter_spark.operators.similarity import ivf_topk

    centers = {
        c: [(_mix64(77_000 + c * DIM + j) % 2001 - 1000) / 250.0 for j in range(DIM)]
        for c in range(10)
    }
    rows = []
    vid = 1
    for c in range(10):
        for i in range(60):
            noise = [
                (_mix64(88_000_000 + (c * 60 + i) * DIM + j) % 2001 - 1000)
                / 1000.0
                for j in range(DIM)
            ]
            rows.append(
                (vid, [float(a + b) for a, b in zip(centers[c], noise)], c)
            )
            vid += 1
    qnoise = [
        (_mix64(99_000_000 + j) % 2001 - 1000) / 1000.0 for j in range(DIM)
    ]
    qvec = [float(a + b) for a, b in zip(centers[3], qnoise)]
    rows.append((0, qvec, 3))
    e = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    truth = set(_brute_topk([(r[0], r[1], r[2]) for r in rows], qvec))
    got = {r.vec_id for r in ivf_topk(e, probes=2, k=10).collect()}
    recall = len(got & truth) / 10
    assert recall >= 0.9, f"IVF recall@10 {recall} on clustered corpus"


def test_kmeans_recovers_planted_clusters(spark, tmp_path):
    """Lloyd's on 4 planted tight clusters (centers at distinct
    corners of the 64-dim cube, small deterministic jitter) must
    assign every member to its plant and keep inertia tiny relative
    to the between-center distance; seeds are the 4 lowest vec_ids,
    one per plant, so the recovery is exact."""
    import os

    from pandas_reporter_spark.registry import QUERIES, load_all

    load_all()
    dim, per = 64, 25
    centers = []
    for c in range(4):
        base = [0.0] * dim
        for j in range(dim):
            base[j] = 1.0 if (j % 4) == c else -1.0
        centers.append(base)
    rows = []
    vid = 0
    # vec_ids 0..3 are one seed per plant (the deterministic init)
    for c in range(4):
        rows.append({"vec_id": vid, "label": c,
                     "embedding": centers[c]})
        vid += 1
    for c in range(4):
        for m in range(per - 1):
            jit = [x + 0.001 * ((m + j) % 7 - 3) for j, x in
                   enumerate(centers[c])]
            rows.append({"vec_id": vid, "label": c, "embedding": jit})
            vid += 1
    sf = str(tmp_path)
    spark.createDataFrame(rows).selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS FLOAT)) AS embedding",
        "CAST(label AS INT) AS label"
    ).write.mode("overwrite").parquet(os.path.join(sf, "embeddings.parquet"))
    out = QUERIES["q_embed_kmeans"](spark, sf).collect()
    assert sorted(r["cell"] for r in out) == [0, 1, 2, 3]
    assert all(r["n_members"] == per for r in out)
    # jitter <= 3e-3/dim = 3000 micro-units -> <= 9e6/dim squared,
    # x64 dims x25 members ~ 1.4e10; any cross-plant member would add
    # ~(2e6)^2 x32 = 1.3e14 — a 4-decade gap, so 1e12 cleanly
    # separates planted recovery from any mis-assignment
    assert all(r["inertia"] < 1e12 for r in out)


def test_pq_adc_fidelity_median_rank(spark):
    """PQ-ADC fidelity pin: the ADC top-10's MEDIAN exact-L2 rank must
    land in the top quartile of the corpus (random ranking would put
    it at the 50th percentile; measured ~8th percentile at sf0.01
    with the r10 K=4/M=4 codebooks; the r11 size-driven dials give
    K=13 at this corpus and a lower median). Pins that the learned
    codebooks and
    the ADC table order vectors by genuine proximity, without
    demanding exact-top-k agreement a 4-cell-per-subspace quantizer
    cannot give."""
    sf = "/root/testdata/sf0.01"
    if not os.path.isdir(sf):
        pytest.skip("no driver testdata")
    got = [r.vec_id for r in QUERIES["q_similarity_pq_adc"](spark, sf).collect()]
    assert len(got) == 10
    rows = (
        spark.read.parquet(os.path.join(sf, "embeddings.parquet"))
        .select("vec_id", "embedding")
        .collect()
    )
    vecs = {r.vec_id: [round(x * 1e6 + 0.5) // 1 for x in r.embedding] for r in rows}
    qv = vecs[0]
    d = {
        vid: sum((a - b) * (a - b) for a, b in zip(v, qv))
        for vid, v in vecs.items()
        if vid != 0
    }
    ranked = sorted(d, key=lambda vid: (d[vid], vid))
    pos = {vid: i for i, vid in enumerate(ranked)}
    pcts = sorted(pos[v] / len(ranked) for v in got)
    median = pcts[len(pcts) // 2]
    assert median <= 0.25, f"ADC median exact-rank percentile {median}"


def test_pq_index_artifact_path_matches_fresh(spark, tmp_path):
    """VERDICT r11 item 2 — the at-rest PQ index: q_similarity_pq_adc
    riding a materialized codes+codebook artifact must return
    BIT-IDENTICAL rows to the fresh train+encode path (deterministic
    vec_id-prefix training, integer Lloyd, argmin tie-break)."""

    load_all()
    sf = "/root/testdata/sf0.001"
    artifacts.drop(spark, sf, "pq_index")
    fresh = [
        tuple(r)
        for r in QUERIES["q_similarity_pq_adc"](spark, sf).collect()
    ]
    artifacts.build(spark, sf, "pq_index", base=str(tmp_path))
    try:
        assert artifacts.get(spark, sf, "pq_index") is not None, "artifact did not build"
        art = [
            tuple(r)
            for r in QUERIES["q_similarity_pq_adc"](spark, sf).collect()
        ]
    finally:
        artifacts.drop(spark, sf, "pq_index")
    assert art == fresh


def test_ivf_index_artifact_path_matches_fresh(spark, tmp_path):
    """At-rest IVF (round 12): q_similarity_ivf riding the persisted
    centroids + cell-partitioned corpus must return BIT-IDENTICAL rows
    to the fresh path (deterministic integer-mean centroids)."""

    load_all()
    sf = "/root/testdata/sf0.001"
    artifacts.drop(spark, sf, "ivf_index")
    fresh = [
        tuple(r)
        for r in QUERIES["q_similarity_ivf"](spark, sf).collect()
    ]
    artifacts.build(spark, sf, "ivf_index", base=str(tmp_path))
    try:
        assert artifacts.get(spark, sf, "ivf_index") is not None, "artifact did not build"
        art_df = QUERIES["q_similarity_ivf"](spark, sf)
        # the probe must be a partition-pruned scan of the cell layout
        import io, contextlib

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            art_df.explain("formatted")
        assert "PartitionFilters" in buf.getvalue()
        art = [tuple(r) for r in art_df.collect()]
    finally:
        artifacts.drop(spark, sf, "ivf_index")
    assert art == fresh


def test_index_artifacts_idempotent_and_stale_tagged(spark, tmp_path):
    """The at-rest PQ/IVF indexes: (a) a second materialize call is a
    no-op registration (files not rebuilt), (b) the artifact path
    carries the SOURCE mtime, so a regenerated corpus gets a fresh
    directory instead of silently serving stale codes."""
    import os


    sf = "/root/testdata/sf0.001"
    for name in ("pq_index", "ivf_index"):
        artifacts.drop(spark, sf, name)
    artifacts.build(spark, sf, "pq_index", base=str(tmp_path))
    artifacts.build(spark, sf, "ivf_index", base=str(tmp_path))
    dirs = sorted(os.listdir(tmp_path))
    assert any(d.startswith("prs_pqindex_") for d in dirs)
    assert any(d.startswith("prs_ivfindex_") for d in dirs)
    src_tag = int(
        os.path.getmtime(os.path.join(sf, "embeddings.parquet"))
    )
    for d in dirs:
        assert d.endswith(f"_{src_tag}"), d  # stale-tag in the path
    mtimes = {
        d: os.path.getmtime(os.path.join(tmp_path, d)) for d in dirs
    }
    # drop the in-memory handles; re-materialize must REGISTER the
    # existing files, not rebuild them
    for name in ("pq_index", "ivf_index"):
        artifacts.drop(spark, sf, name)
    artifacts.build(spark, sf, "pq_index", base=str(tmp_path))
    artifacts.build(spark, sf, "ivf_index", base=str(tmp_path))
    assert artifacts.get(spark, sf, "pq_index") is not None
    assert artifacts.get(spark, sf, "ivf_index") is not None
    for d in dirs:
        assert os.path.getmtime(os.path.join(tmp_path, d)) == mtimes[d]
    for name in ("pq_index", "ivf_index"):
        artifacts.drop(spark, sf, name)


def test_hamming_identical_and_negated_vectors(spark, tmp_path):
    """Sign-bit Hamming pins: an exact copy of the query ranks first
    with distance 0; the elementwise NEGATION (every sign flipped,
    no zero components) lands at the maximum distance 64."""
    from pandas_reporter_spark.registry import QUERIES, load_all

    load_all()
    base = _base_vec(7)  # no exact-zero components by construction
    assert all(v != 0.0 for v in base)
    rows = [
        (0, [float(v) for v in base], 0),            # the query
        (1, [float(v) for v in base], 1),            # exact copy
        (2, [float(-v) for v in base], 2),           # negation
        (3, [float(v) for v in _base_vec(8)], 3),    # unrelated
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    got = QUERIES["q_similarity_hamming"](spark, str(tmp_path)).collect()
    by_id = {r["vec_id"]: r["hamming"] for r in got}
    assert got[0]["vec_id"] == 1 and by_id[1] == 0
    assert by_id[2] == 64
    assert 0 < by_id[3] < 64


def test_srp_codes_identity_negation_and_at_rest_path(spark, tmp_path):
    """256-bit SRP pins: an exact copy of the query is Hamming-0 and
    ranks first; the negation flips every plane sign (distance =
    bits); the at-rest artifact path returns the identical ranking
    (bit-equal by construction)."""
    from pandas_reporter_spark.operators import similarity as S

    base = _base_vec(7)
    rows = [
        (0, [float(v) for v in base], 0),
        (1, [float(v) for v in base], 1),
        (2, [float(-v) for v in base], 2),
        (3, [float(v) for v in _base_vec(8)], 3),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    sf = str(tmp_path)
    got = S.srp_hamming_topk(spark, sf, 256).collect()
    by_id = {r["vec_id"]: r["hamming"] for r in got}
    assert got[0]["vec_id"] == 1 and by_id[1] == 0
    assert by_id[2] == 256  # dot flips sign on every plane
    assert 0 < by_id[3] < 256
    artifacts.drop(spark, sf, "srp_codes")
    artifacts.build(spark, sf, "srp_codes", base=str(tmp_path / "art"))
    # base dir doesn't exist -> no artifact; create and retry
    import os

    os.makedirs(str(tmp_path / "art"), exist_ok=True)
    artifacts.build(spark, sf, "srp_codes", base=str(tmp_path / "art"))
    assert artifacts.get(spark, sf, "srp_codes") is not None
    at_rest = S.srp_hamming_topk(spark, sf, 256).collect()
    assert [tuple(r) for r in at_rest] == [tuple(r) for r in got]
    artifacts.drop(spark, sf, "srp_codes")


def test_random_projection_identical_vector_is_rank_one(spark):
    """vec 0 (the query) projects onto itself: d_rp = 0 at rank 1;
    distances are non-decreasing and int64-exact."""
    from pandas_reporter_spark.registry import QUERIES, load_all

    load_all()
    out = QUERIES["q_embed_random_projection"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(out) == 10
    assert out[0]["vec_id"] == 0 and out[0]["d_rp"] == 0
    ds = [r["d_rp"] for r in out]
    assert ds == sorted(ds)


def test_random_projection_sign_matrix_is_md5_parity(spark):
    """The in-engine sign derivation == hashlib parity (third
    opinion), checked by recomputing one projection in Python."""
    import hashlib

    import duckdb

    from pandas_reporter_spark.registry import QUERIES, load_all

    load_all()
    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    vecs = dict(
        (r[0], r[1])
        for r in con.execute(
            f"SELECT vec_id, embedding FROM read_parquet('{sf}/embeddings.parquet')"
        ).fetchall()
    )

    def q(x):
        import math
        return [int(math.floor(float(v) * 1e6 + 0.5)) for v in x]

    def sgn(i, j):
        h = int(hashlib.md5(f"rp:{i}:{j}".encode()).hexdigest()[:15], 16)
        return 1 if h % 2 == 0 else -1

    def proj(x):
        xq = q(x)
        return [sum(sgn(i, j) * xq[i] for i in range(64)) for j in range(8)]

    yq = proj(vecs[0])
    out = QUERIES["q_embed_random_projection"](spark, sf).collect()
    for r in out[:3]:
        y = proj(vecs[r["vec_id"]])
        d = sum((a - b) * (a - b) for a, b in zip(y, yq))
        assert d == r["d_rp"], (r["vec_id"], d, r["d_rp"])


def test_gram_matches_numpy_reference(spark):
    """Full 2080-cell Gram vs a direct numpy computation over the
    same parquet (third opinion, independent of the SQL oracle)."""
    import duckdb
    import numpy as np

    from pandas_reporter_spark.registry import QUERIES, load_all

    load_all()
    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    x = np.array(
        [
            r[0]
            for r in con.execute(
                f"SELECT embedding FROM read_parquet('{sf}/embeddings.parquet') ORDER BY vec_id"
            ).fetchall()
        ],
        dtype=np.float64,
    )
    xq = np.floor(x * 1000.0 + 0.5).astype(np.int64)
    g = xq.T @ xq
    out = QUERIES["q_embed_gram"](spark, sf).collect()
    assert len(out) == 64 * 65 // 2
    for r in out:
        assert g[r["i"], r["j"]] == r["g"], (r["i"], r["j"])
    # diagonal is a sum of squares: strictly positive for real data
    assert all(r["g"] > 0 for r in out if r["i"] == r["j"])


def test_pca_power_direction_matches_numpy_eig(spark):
    """The integer power-iteration PC1 should align with numpy's
    float eigensolver on the same Gram (|cos| > 0.99 after 5 rounds
    given this corpus's spectral gap) — semantic check, not bit
    parity (floats can't be pinned)."""
    import numpy as np

    from pandas_reporter_spark.operators.similarity import (
        _GRAM_DIM,
        _PCA_ITERS,
        gram_df,
    )
    from pandas_reporter_spark.registry import QUERIES, load_all

    load_all()
    sf = "/root/testdata/sf0.001"
    rows = gram_df(spark, sf).collect()
    G = np.zeros((_GRAM_DIM, _GRAM_DIM))
    for r in rows:
        G[r["i"], r["j"]] = r["g"]
        G[r["j"], r["i"]] = r["g"]
    evals, evecs = np.linalg.eigh(G)
    top = evecs[:, -1]

    Gi = [[int(G[i, j]) for j in range(_GRAM_DIM)] for i in range(_GRAM_DIM)]
    v = [1000000] * _GRAM_DIM
    for _ in range(_PCA_ITERS):
        w = [
            sum(Gi[i][j] * v[j] for j in range(_GRAM_DIM))
            for i in range(_GRAM_DIM)
        ]
        s = max(abs(x) for x in w) // 1000000 + 1
        v = [x // s if x >= 0 else -((-x) // s) for x in w]
    vf = np.array(v, dtype=np.float64)
    cos = abs(vf @ top) / (np.linalg.norm(vf) * np.linalg.norm(top))
    assert cos > 0.99, cos  # 0.93^80 collapses the off-axis mass

    # and the registered query is deterministic across runs
    a = [tuple(r) for r in QUERIES["q_embed_pca_power"](spark, sf).collect()]
    b = [tuple(r) for r in QUERIES["q_embed_pca_power"](spark, sf).collect()]
    assert a == b and len(a) == 10


def test_hard_negatives_hand_corpus_and_plan(spark, tmp_path):
    """Planted geometry: anchor 0's positive must be the same-label
    near-copy, its hard negative the other-label near-copy (not the
    far one); vec_id tie-break pinned via two identical vectors. Plan
    pin: the argmax is a map-side-combined aggregate — no Window, no
    corpus sort on the Spark side."""
    from pandas_reporter_spark.registry import QUERIES, load_all

    load_all()
    q = _base_vec(3)
    near = [v + (0.001 if i == 0 else 0.0) for i, v in enumerate(q)]
    far = [-v for v in q]
    rows = [
        (0, [float(v) for v in q], 1),       # anchor (label 1)
        # same-label candidates: a near copy and an anti-copy
        (30, [float(v) for v in near], 1),
        (31, [float(v) for v in far], 1),
        # other-label: two IDENTICAL near copies (tie -> lower id)
        (40, [float(v) for v in near], 2),
        (41, [float(v) for v in near], 2),
        (42, [float(v) for v in far], 2),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    got = {
        r["qid"]: r
        for r in QUERIES["q_embed_hard_negatives"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got[0]["pos_id"] == 30
    assert got[0]["neg_id"] == 40  # tie between 40/41 -> lower vec_id
    assert got[0]["pos_cos"] > 0.99 and got[0]["neg_cos"] > 0.99
    df = QUERIES["q_embed_hard_negatives"](spark, str(tmp_path))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # no per-group row_number sort (the oracle's window is the spec,
    # not the plan) and ONE pass over the fan-out: the max_by struct
    # key demotes to SortAggregate, and the r13 A/B KEPT that form —
    # the hash-able two-pass alternative recomputes the interpreted
    # cosine fan-out and measured 2x slower (28.7 vs 15.1 s at sf100)
    assert "Window" not in plan, plan
    assert plan.count("FileScan parquet") == 2, plan  # anchors + corpus


def test_matryoshka_full_width_is_exact_topk_and_flags_monotone(spark):
    """The w=64 leg must equal q_similarity_topk's ids in order; every
    w=64 row carries in_full_top10=1; and each leg has exactly 10
    ranked rows 1..10."""
    from pandas_reporter_spark.registry import QUERIES, load_all

    load_all()
    sf = "/root/testdata/sf0.001"
    rows = QUERIES["q_embed_matryoshka"](spark, sf).collect()
    by_w = {}
    for r in rows:
        by_w.setdefault(r["width"], []).append(r)
    assert set(by_w) == {8, 16, 32, 64}
    for w, rs in by_w.items():
        assert [r["rank"] for r in rs] == list(range(1, 11)), w
    full = [r["vec_id"] for r in by_w[64]]
    topk = [r["vec_id"] for r in QUERIES["q_similarity_topk"](spark, sf).collect()]
    assert full == topk
    assert all(r["in_full_top10"] == 1 for r in by_w[64])


def test_matryoshka_prefix_ignores_suffix_dims(spark, tmp_path):
    """Two vectors identical in dims 1-8 but opposite in dims 9-64
    must tie at w=8 (tie -> lower vec_id first) and split at w=64."""
    from pandas_reporter_spark.registry import QUERIES, load_all

    load_all()
    q = _base_vec(5)
    a = list(q)
    b = q[:8] + [-v for v in q[8:]]
    rows = [
        (0, [float(v) for v in q], 0),
        (7, [float(v) for v in a], 1),   # full copy
        (9, [float(v) for v in b], 2),   # prefix-only copy
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    got = QUERIES["q_embed_matryoshka"](spark, str(tmp_path)).collect()
    w8 = sorted((r["rank"], r["vec_id"]) for r in got if r["width"] == 8)
    w64 = sorted((r["rank"], r["vec_id"]) for r in got if r["width"] == 64)
    assert w8 == [(1, 7), (2, 9)]   # identical prefix cos: id tiebreak
    assert w64 == [(1, 7), (2, 9)]  # full copy strictly ahead
    c8 = {r["vec_id"]: r["cos"] for r in got if r["width"] == 8}
    assert c8[7] == c8[9]           # exact tie at the prefix width


def test_topk_batch_contains_single_query_answer_and_forms_agree(spark):
    """The batch op's qid=0 block must equal q_similarity_topk's
    answer exactly (same discipline, same tiebreak), and the two
    engine forms — concurrent legs vs salted one-scan — must produce
    the identical top-k set per query."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from pandas_reporter_spark.operators.similarity import (
        _TOPKB_K,
        topk_batch_salted,
    )
    from pandas_reporter_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    batch = QUERIES["q_similarity_topk_batch"](spark, sf)
    b0 = {
        (r["vec_id"], r["label"], r["cos"])
        for r in batch.filter(F.col("qid") == 0).collect()
    }
    single = {
        tuple(r) for r in QUERIES["q_similarity_topk"](spark, sf).collect()
    }
    assert b0 == single

    rnk = F.row_number().over(
        W.partitionBy("qid").orderBy(F.col("c").desc(), "vec_id")
    )
    salted = (
        topk_batch_salted(spark, sf)
        .withColumn("rank", rnk.cast("bigint"))
        .filter(F.col("rank") <= _TOPKB_K)
        .select("qid", "rank", "vec_id", "label",
                F.round("c", 6).alias("cos"))
    )
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, batch.collect())
    )


def test_knn_graph_artifact_bit_equals_fresh_plan(spark, tmp_path_factory):
    """The knn_graph artifact -> the consumer rides the artifact and its
    rows are BIT-equal to the fresh in-plan derivation (the artifact IS
    the plan's output); torn artifacts (wrong row count) are rejected,
    leaving the consumer on the fresh path."""
    import os
    import shutil

    from pandas_reporter_spark.operators import similarity as S
    from pandas_reporter_spark.registry import QUERIES

    sf = str(tmp_path_factory.mktemp("knn_sf"))
    shutil.rmtree(sf)
    shutil.copytree("/root/testdata/sf0.001", sf)
    base = str(tmp_path_factory.mktemp("knn_base"))

    fresh = {tuple(r) for r in QUERIES["q_similarity_knn_graph"](spark, sf).collect()}
    assert artifacts.get(spark, sf, "knn_graph") is None

    # torn artifact: half the rows, structurally valid, _SUCCESS present
    tag = int(os.path.getmtime(os.path.join(sf, "embeddings.parquet")))
    out = os.path.join(
        base, f"prs_knn{S._KNN_K}_{os.path.basename(os.path.normpath(sf))}_{tag}"
    )
    full = S._knn_graph_rel(spark, sf)
    full.limit(full.count() // 2).write.mode("overwrite").parquet(out)
    artifacts.build(spark, sf, "knn_graph", base=base)
    assert artifacts.get(spark, sf, "knn_graph") is None, "torn graph was cached"

    shutil.rmtree(out)
    artifacts.build(spark, sf, "knn_graph", base=base)
    assert artifacts.get(spark, sf, "knn_graph") is not None
    primed = {tuple(r) for r in QUERIES["q_similarity_knn_graph"](spark, sf).collect()}
    assert primed == fresh and primed
    # every vector in a >=2 cell appears, ranks dense from 1
    import collections

    by_vec = collections.defaultdict(list)
    for vec_id, rank, neighbor_id, cos in primed:
        by_vec[vec_id].append(rank)
        assert neighbor_id != vec_id
    for ranks in by_vec.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
