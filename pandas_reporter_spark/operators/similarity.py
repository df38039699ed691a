"""Similarity-search operators over `embeddings` (SURVEY §2.3).

`embeddings` is (vec_id long, embedding array<float> [64-dim], label int).
Four shapes:

- brute-force cosine top-k     — the exact baseline; TakeOrderedAndProject
- blocked all-pairs sim join   — pairs inside a blocking key, never n²
- random-hyperplane LSH ANN    — sign-bucket join; the 100 TB path
- IVF (inverted-file) search   — centroid assignment + probe-cell scan

Dot products are pure Column expressions (`zip_with` + `aggregate`) with
explicit per-element double casts so Spark and DuckDB accumulate
identically (both left-to-right over doubles); cosines are round(6)-ed
before hashing.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window as W

from pandas_reporter_spark import artifacts
from pandas_reporter_spark.registry import query
from pandas_reporter_spark.session import configure, work_partitions
from pandas_reporter_spark.tables import (
    footer_rows, load, local_frame, read_footed, table_rows,
)


def dot(a, b):
    """Σ aᵢ·bᵢ with double accumulation, left-to-right (oracle-exact)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a):
    return F.sqrt(dot(a, a))


def cosine(a, b):
    return dot(a, b) / (norm(a) * norm(b))


# r15 NOT-DONE: an unrolled fixed-64 `dot` (flat element_at chain,
# bit-identical left-to-right IEEE fold) was built to escape the HOF
# CodegenFallback and measured 5.1 → 27.2 s (q_dedup_embedding) /
# 4.1 → 27.6 s (q_similarity_join) at sf10 — the ~190-term generated
# method is far SLOWER than Spark 4's interpreted HOF fold over
# primitive arrays. Removed; the aggregate(zip_with(...)) form above
# is the measured-fast exact dot.


#: Oracle-side dot product over DuckDB lists, mirroring `dot` exactly:
#: element-wise double-cast multiply, then left-to-right double sum.
_DUCK_DOT = (
    "list_aggregate(list_transform(range(1, 65), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), 'sum')"
)


def _duck_cos(a: str, b: str) -> str:
    d = _DUCK_DOT.format(a=a, b=b)
    na = f"sqrt({_DUCK_DOT.format(a=a, b=a)})"
    nb = f"sqrt({_DUCK_DOT.format(a=b, b=b)})"
    return f"({d} / ({na} * {nb}))"


@query(
    "q_similarity_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, label, round({_duck_cos('e.embedding', 'q.qv')}, 6) AS cos
    FROM embeddings e CROSS JOIN q
    WHERE e.vec_id <> 0
    ORDER BY {_duck_cos('e.embedding', 'q.qv')} DESC, vec_id
    LIMIT 10
    """,
)
def q_similarity_topk(spark, sf):
    """Exact cosine top-10 against the vec_id=0 query vector.

    The single-row query side is crossJoin-broadcast (a literal in the
    plan after AQE); orderBy+limit compiles to TakeOrderedAndProject —
    each task keeps its local top-10, the driver merges 10×n_tasks
    rows. No global sort, no full shuffle: this is the shape that
    survives a 100 TB scan. Deterministic tiebreak on vec_id.
    """
    configure(spark)
    e = load(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    cos = cosine(F.col("embedding"), F.col("qv"))
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", cos.alias("_cos"))
        .orderBy(F.col("_cos").desc(), "vec_id")
        .limit(10)
        .select("vec_id", "label", F.round("_cos", 6).alias("cos"))
    )


#: LSH geometry: 8 hash tables × b signed hyperplanes, where b is
#: OCCUPANCY-AWARE (VERDICT r8 item 5): bucket population ~ n/2^b, so
#: b = clamp(ceil(log2(n / _OCC_TARGET)), _B_LO, _B_HI) holds expected
#: occupancy ≈ _OCC_TARGET per bucket as the corpus grows — within-
#: bucket pair volume stays ~flat per decade instead of ~100×.
#: Candidates are vectors sharing ANY table's b-bit bucket;
#: P(candidate | cosθ) = 1 - (1 - (1 - θ/π)^b)^L. Recall at a given
#: cosine is held by L (_N_TABLES) while b tracks corpus size.
#: The rule is evaluated IDENTICALLY on both engines: Spark derives b
#: from a cached count(*), and the oracle SQL computes the same
#: LEAST/GREATEST/ceil/log2 chain from count(*) in-query — same
#: integer count, same IEEE log2, same b, same buckets.
#: _B_HI bounds the oracle's unrolled plane VALUES table; a 100 TB
#: deployment raises it (log2(1e12/8) ≈ 37 planes — still one bigint
#: signature) without touching the pipeline shape.
_N_TABLES = 8
_B_LO, _B_HI = 6, 20
_OCC_TARGET = 8.0
#: plane-constant namespace stride: plane identity (table, plane) must
#: NOT depend on the runtime b, so the splitmix base uses a fixed
#: stride ≥ _B_HI rather than the live plane count
_B_STRIDE = 32


def lsh_planes_for(n: int) -> int:
    """Occupancy rule: smallest b with n/2^b <= _OCC_TARGET, clamped.

    Oracle twin (exact):
    LEAST(20, GREATEST(6, CAST(ceil(log2(GREATEST(n,1)/8.0)) AS INT)))
    — n is an exact integer in both engines, /8.0 is a power-of-two
    scale (exact), and libm log2/ceil agree bit-for-bit on identical
    doubles, so Spark and DuckDB always pick the same b.
    """
    import math

    return min(_B_HI, max(_B_LO, math.ceil(math.log2(max(n, 1) / _OCC_TARGET))))


def corpus_planes(sf) -> int:
    """b for the embeddings corpus of `sf`: the occupancy rule over the
    table's parquet-footer row count (no Spark job). Every corpus plan
    reads the whole table, so this is the count the oracle sees too."""
    return lsh_planes_for(table_rows(sf, "embeddings"))


def corpus_signatures(spark, sf) -> DataFrame:
    """(vec_id, tbl, sig) of the embeddings corpus of `sf`: the
    session's `lsh_signatures` artifact, else the kernel over the
    table at `corpus_planes`."""
    sigs = artifacts.get(spark, sf, "lsh_signatures")
    if sigs is None:
        sigs = lsh_signatures(
            load(spark, sf, "embeddings"), planes=corpus_planes(sf)
        )
    return sigs


def _mix64(x: int) -> int:
    """splitmix64 finalizer (public-domain PRNG) — pure-Python, so the
    plane constants exist OUTSIDE any engine and can be embedded as
    literals in both the Spark plan and the DuckDB oracle SQL."""
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


def plane_signs(table: int, plane: int, dim: int = 64) -> list[float]:
    """Deterministic ±1.0 hyperplane components for (table, plane).

    Driver-side constants: they ship inside the plan / SQL text as
    literal arrays (zero data movement) and make the whole LSH
    pipeline engine-portable — the sign of dot(v, plane) is a chain of
    IEEE double ops both engines evaluate identically, so bucket
    membership (and therefore the candidate-pair set) is EXACTLY
    reproducible in the oracle, not just approximately.
    """
    base = (table * _B_STRIDE + plane) << 8
    return [1.0 if _mix64(base | i) & 1 else -1.0 for i in range(dim)]


def lsh_signatures(df: DataFrame, planes: int | None = None) -> DataFrame:
    """(vec_id, tbl, sig): one b-bit bucket signature per hash table.

    `planes=None` derives b by the occupancy rule (`lsh_planes_for`)
    from a `count()` of the frame itself, so an ad-hoc or filtered
    frame gets the b of exactly the rows it holds; corpus callers pass
    `corpus_planes`, the same rule over the table's footer row count,
    which runs no job.

    ONE Arrow-batched projection computes all _N_TABLES×b dots
    per vector and bit-packs sig_t = Σ_p 2^p·[dot_p ≥ 0]; posexplode
    fans out to one row per (vec, tbl). ZERO shuffle, and the
    embedding payload never leaves the scan stage.

    Why a pandas UDF here when the whole repo favors built-ins: the
    sign-projection is pure dense arithmetic, and every built-in
    spelling measured worse (round 4, sf0.1, 2000×64-dim, warm):
    HOF aggregate-over-zip_with dots are CodegenFallback — Spark
    evaluates them INTERPRETED, ~1.5s; a fully-unrolled codegen'd
    add-chain (4096 expression nodes) pays Catalyst/codegen plan
    costs per run, 4.3s; this UDF runs 0.3s (5×). Bit-exactness is
    PRESERVED, not traded: the kernel accumulates `acc += v[:,i]·sᵢ`
    with i strictly ascending — per row the identical left-to-right
    IEEE addition chain as the lambda/DuckDB form (planes are ±1.0,
    so the multiply is exact) — verified: all 16000 (vec,tbl) sigs at
    sf0.1 match the HOF form bit-for-bit, and the LSH oracle queries
    still hash-match. numpy matmul (pairwise summation) remains
    rejected — THAT would break the contract.

    At 100 TB: per-batch work is O(batch·dim·planes) with planes a
    driver-constant closure (no broadcast join needed); Arrow batch
    transfer is the only overhead, amortized by
    spark.sql.execution.arrow.maxRecordsPerBatch.
    """
    from pyspark.sql.functions import pandas_udf

    b = planes if planes is not None else lsh_planes_for(df.count())
    signs = np.array(
        [
            [plane_signs(t, p) for p in range(b)]
            for t in range(_N_TABLES)
        ]
    )  # (_N_TABLES, b, dim) of ±1.0

    @pandas_udf("array<long>")
    def _sigs(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype=object)
        m = np.vstack(col.to_numpy()).astype(np.float64)  # (n, dim)
        n, dim = m.shape
        out = np.zeros((n, _N_TABLES), dtype=np.int64)
        for t in range(_N_TABLES):
            for p in range(b):
                acc = np.zeros(n, dtype=np.float64)
                s = signs[t, p]
                for i in range(dim):  # ascending i = oracle's sum order
                    acc += m[:, i] * s[i]
                out[:, t] += (acc >= 0).astype(np.int64) << p
        return pd.Series(list(out))

    return df.select(
        "vec_id", F.posexplode(_sigs(F.col("embedding"))).alias("tbl", "sig")
    )


def _build_lsh_signatures(spark, sf, path):
    """(vec_id, tbl, sig) once per snapshot — the embedding twin of the
    doc_tokens artifact: three queries (similarity join, embedding
    dedup, ANN probe) consume the same signature relation, and a
    pipeline computes signatures at ingest, not per analysis. The
    artifact is the EXACT kernel output routed through parquet longs
    (lossless), so every signature-derived oracle stays
    hash-identical."""
    from pandas_reporter_spark.session import scaled_partitions

    e = load(spark, sf, "embeddings")
    n = table_rows(sf, "embeddings")
    # size-driven file count: the artifact is n·L rows; slot-count
    # files cost ~0.25 s/query of read overhead at bench scale
    # (session.scaled_partitions docstring)
    lsh_signatures(e, planes=lsh_planes_for(n)).repartition(
        scaled_partitions(n * _N_TABLES)
    ).write.mode("overwrite").parquet(path)


def _lsh_suffix(spark, sf):
    """Occupancy-aware geometry: b in the path invalidates any artifact
    written under a different plane count (r9 and earlier wrote
    fixed-8 signatures)."""
    return f"_b{corpus_planes(sf)}"


artifacts.declare(
    "lsh_signatures", "embeddings", "lshsig", _build_lsh_signatures,
    suffix=_lsh_suffix,
)


def lsh_candidate_pairs(df: DataFrame, spark=None, sf=None) -> DataFrame:
    """Distinct (vec_a < vec_b) pairs sharing ≥1 (tbl, sig) bucket.

    Bucket-explode (groupBy + collect_list + pair-explode), the
    q_dedup_minhash shape: ONE pass over the signature pipeline and a
    shuffle of id-lists only — payload vectors never enter the pair
    generation. Pair space is Σ_buckets n_b² ≈ n²·L/2^b, held ~flat by the occupancy rule;
    a hot bucket is an AQE-skew/salting case, same as any hot key.
    With spark+sf, `df` is that snapshot's embeddings table and its
    signatures are `corpus_signatures` (the artifact when the session
    has it, so the kernel pass is skipped entirely).
    """
    if spark is not None and sf is not None:
        b = corpus_signatures(spark, sf)
    else:
        b = lsh_signatures(df)
    try:
        sess = spark if spark is not None else df.sparkSession
        n = int(sess.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError, AttributeError):
        n = 32
    buckets = (
        b.groupBy("tbl", "sig")
        .agg(F.collect_list("vec_id").alias("ids"))
        .filter(F.size("ids") >= 2)
        # numbered repartition: the bucket relation is byte-TINY, so
        # AQE's coalescePartitions would shrink this exchange to ~1
        # partition — but the NEXT operator explodes it ~100× into
        # candidate pairs, so coalescing serializes pair generation
        # (write-bytes are blind to downstream fan-out). User-numbered
        # repartitions are coalesce-exempt.
        .repartition(n, "tbl", "sig")
    )
    # The numbered repartition sits BEFORE dropDuplicates: the dedup
    # then satisfies its clustering requirement from the
    # coalesce-exempt exchange (no ENSURE_REQUIREMENTS exchange of
    # its own for AQE to coalesce), so pair dedup AND the downstream
    # cosine verify both run at full width. Measured at sf1 AQE-on
    # (q_dedup_embedding): 13.9 s unguarded → ~3 s with the explode
    # and dedup exchanges pinned.
    return (
        buckets.select(F.explode("ids").alias("vec_a"), "ids")
        .select("vec_a", F.explode("ids").alias("vec_b"))
        .filter(F.col("vec_a") < F.col("vec_b"))
        .repartition(n, "vec_a", "vec_b")
        .dropDuplicates(["vec_a", "vec_b"])
    )


def _duck_planes_values() -> str:
    """Plane VALUES unrolled to the _B_HI ceiling; the params CTE's
    runtime b selects the prefix actually hashed."""
    rows = []
    for t in range(_N_TABLES):
        for p in range(_B_HI):
            vals = ",".join(
                "1.0" if v > 0 else "-1.0" for v in plane_signs(t, p)
            )
            rows.append(f"({t}, {p}, [{vals}])")
    return ", ".join(rows)


def _duck_cand_cte() -> str:
    """Oracle twin of lsh_signatures + lsh_candidate_pairs: identical
    plane constants as a VALUES table (same reasons as _planes_df),
    identical left-to-right double dots, same bucket equality, and the
    IDENTICAL occupancy rule for b — computed in-SQL from count(*), so
    the oracle is scale-agnostic (see lsh_planes_for)."""
    return f"""
    lsh_n AS (SELECT count(*) AS c FROM embeddings),
    lsh_params AS (
      SELECT LEAST({_B_HI}, GREATEST({_B_LO},
               CAST(ceil(log2(GREATEST(c, 1) / {_OCC_TARGET})) AS INT)
             )) AS b
      FROM lsh_n
    ),
    planes(tbl, plane, pvec) AS (VALUES {_duck_planes_values()}),
    dots AS (
      SELECT e.vec_id, p.tbl, p.plane,
             {_DUCK_DOT.format(a='e.embedding', b='p.pvec')} AS d
      FROM embeddings e CROSS JOIN planes p CROSS JOIN lsh_params
      WHERE p.plane < lsh_params.b
    ), buckets AS (
      SELECT vec_id, tbl,
             CAST(SUM(CASE WHEN d >= 0
                           THEN (CAST(1 AS BIGINT) << plane)
                           ELSE 0 END) AS BIGINT) AS sig
      FROM dots GROUP BY vec_id, tbl
    ), cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM buckets a
      JOIN buckets b
        ON a.tbl = b.tbl AND a.sig = b.sig AND a.vec_id < b.vec_id
    )"""


@query(
    "q_similarity_join",
    oracle=f"""
    WITH {_duck_cand_cte()}
    SELECT c.vec_a, c.vec_b,
           round({_duck_cos('ea.embedding', 'eb.embedding')}, 6) AS cos
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.vec_a
    JOIN embeddings eb ON eb.vec_id = c.vec_b
    WHERE {_duck_cos('ea.embedding', 'eb.embedding')} >= 0.4
    """,
)
def q_similarity_join(spark, sf):
    """Similarity join: cosine ≥ 0.4 over LSH-bucketed candidate pairs.

    The 0.4 threshold is a DEMO dial: the driver corpus tops out at
    pairwise cosine ~0.51, so a production near-dup cut (0.99) returns
    an empty — vacuously passing — result; 0.4 makes the official
    hash check exercise real pair rows end-to-end. Production dedup
    runs the same pipeline at 0.99 (q_dedup_embedding), where LSH
    recall is ~0.9999; at 0.4 recall is intentionally partial, which
    is fine because the oracle reproduces the SAME buckets, so the
    result is exact, not approximate, w.r.t. the declared semantics.

    Candidate pairs come ONLY from shared (table, sig) hyperplane
    buckets — never an all-pairs (or label-blocked-quadratic) join:
    pair space is Σ_buckets n_b² ≈ n²·L/2^b, tuned by plane count, and
    the exact cosine runs on candidates alone. This is the 100 TB
    embedding-sweep shape (the round-2 label-blocked form grew
    quadratically inside blocks). The plane constants are pure-Python
    literals, so the DuckDB oracle reproduces the SAME bucket geometry
    and the result is hash-checked exactly — recall vs the true
    all-pairs sweep is pinned separately in tests/test_similarity.py
    on planted near-duplicates.
    """
    configure(spark)
    e = load(spark, sf, "embeddings")
    cand = lsh_candidate_pairs(e, spark, sf)
    # per-vector norms hoisted into the scan projection — one dot per
    # pair instead of three; bit-identical to the per-pair recompute.
    # (r15 NOT-DONE: the unrolled fixed-64 element_at chain measured
    # 4.1 → 27.6 s at sf10 — see q_dedup_embedding's note; the HOF
    # fold is the fast form on Spark 4.)
    en = e.select("vec_id", "embedding", norm(F.col("embedding")).alias("nrm"))
    ea = en.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    eb = en.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    cos = dot(F.col("emb_a"), F.col("emb_b")) / (F.col("nrm_a") * F.col("nrm_b"))
    # The EMBEDDING sides are the build sides, explicitly: Catalyst's
    # size estimate for `cand` is fan-out-blind (it cannot see the
    # bucket explode), so left to stats it broadcasts the PAIR
    # relation — 100× the vector table in rows at high SF (r8 sf1
    # measurement). Pairs must stay the streaming probe. At corpus
    # scale, where the vector table itself outgrows broadcast, the
    # same pipeline carries payloads into the buckets instead
    # (SCALING.md) — the candidate relation is never the build side
    # either way.
    return (
        cand.join(F.broadcast(ea), "vec_a")
        .join(F.broadcast(eb), "vec_b")
        .withColumn("_cos", cos)
        .filter(F.col("_cos") >= 0.4)
        .select("vec_a", "vec_b", F.round("_cos", 6).alias("cos"))
    )


@query(
    "q_similarity_join_shuffled",
    oracle=f"""
    WITH {_duck_cand_cte()}
    SELECT c.vec_a, c.vec_b,
           round({_duck_cos('ea.embedding', 'eb.embedding')}, 6) AS cos
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.vec_a
    JOIN embeddings eb ON eb.vec_id = c.vec_b
    WHERE {_duck_cos('ea.embedding', 'eb.embedding')} >= 0.4
    """,
)
def q_similarity_join_shuffled(spark, sf):
    """Bucket-LOCAL physical form of q_similarity_join — identical
    semantics and oracle, different strategy: embedding payloads are
    carried INTO the LSH buckets (one shuffle, L=8 copies of each
    vector) and pairs verify inside the bucket, so there is NO
    post-hoc payload join at all.

    This is the corpus-scale tier q_similarity_join's broadcast form
    cannot reach: when the vector table itself outgrows executor
    memory, broadcasting ea/eb stops being an option, and re-joining
    the pair relation against a corpus-sized table shuffles the pairs
    TWICE by id. Here the only corpus-sized exchange is the bucket
    shuffle (L·n payload rows, hash-partitioned by (tbl, sig)); pair
    generation, the cosine verify, and the threshold filter all run
    bucket-locally at scan speed. Memory per task is one bucket's
    payload — which is exactly what the hot-bucket cap bounds
    (q_dedup_minhash_capped; same dial here). Cross-bucket duplicate
    pairs compute identical cosines, so the final pair-dedup keeps an
    arbitrary row. The broadcast form wins while dims fit (bench
    SFs); this form is what survives when they don't — both are
    registered so the crossover is a one-line choice.

    Measured (r8): sf0.1 0.65 s ≈ the broadcast form; sf1 min-of-3
    3.4 s (parity with broadcast) but with GC-driven variance up to
    ~20 s in this single-JVM local run — 7.5 M pair-structs of
    2×64 floats churn one heap here, where a cluster spreads them
    across executor heaps. The per-task memory bound (one bucket) is
    the property that matters at 100 TB.
    """
    configure(spark)
    e = load(spark, sf, "embeddings")
    b = corpus_signatures(spark, sf)
    en = e.select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("nrm")
    )
    try:
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        n = 32
    payload = b.join(en, "vec_id").select(
        "tbl", "sig", F.struct("vec_id", "embedding", "nrm").alias("x")
    )
    buckets = (
        payload.repartition(n, "tbl", "sig")
        .groupBy("tbl", "sig")
        .agg(F.array_sort(F.collect_list("x")).alias("xs"))
        .filter(F.size("xs") >= 2)
    )
    # i<j pairs generated by position (buckets sorted by vec_id once
    # in the agg, explode each element + its strictly-later slice):
    # only n_b²/2 struct copies flow, vs n_b² for a full cross
    # filtered after the fact — struct traffic through the two
    # explodes halves.
    pairs = (
        buckets.select(F.posexplode("xs").alias("i", "a"), "xs")
        .select(
            "a",
            F.explode(
                F.slice(F.col("xs"), F.col("i") + 2, F.size("xs"))
            ).alias("b"),
        )
    )
    cos = dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        pairs.withColumn("_cos", cos)
        .filter(F.col("_cos") >= 0.4)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round("_cos", 6).alias("cos"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )


def _ann_lsh_oracle() -> str:
    """Oracle twin of the LSH ANN probe (promoted from rows-only in r6):
    the planes are literal constants shared with the Spark plan, so the
    bucket signatures — and therefore the candidate set — are exactly
    reproducible in SQL. vec_id 0 is the minimum id, so the all-pairs
    cand CTE's (vec_a = 0) slice IS the query's bucket-mates."""
    return f"""
    WITH {_duck_cand_cte()},
    cand0 AS (
      -- probe only vec 0's L buckets (not the all-pairs cand CTE,
      -- which is unreferenced and therefore never evaluated)
      SELECT DISTINCT b.vec_id
      FROM buckets b
      JOIN buckets q0 ON q0.vec_id = 0
                     AND b.tbl = q0.tbl AND b.sig = q0.sig
      WHERE b.vec_id <> 0
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           round({_duck_cos('e.embedding', 'q.qv')}, 6) AS cos
    FROM embeddings e JOIN cand0 USING (vec_id) CROSS JOIN q
    ORDER BY cos DESC, vec_id
    LIMIT 10
    """


def ann_lsh_topk(e, sigs=None, query_vec_id: int = 0, k: int = 10):
    """LSH ANN probe over any (vec_id, label, embedding) frame: the
    query's L (tbl, sig) buckets broadcast against the signature
    table, candidate IDs come out of that join, embeddings are
    fetched only for candidates, exact-cosine rerank to top-k.
    Reused by q_similarity_ann_lsh and the planted-neighbor recall
    pin (tests/test_similarity.py)."""
    if sigs is None:
        sigs = lsh_signatures(e)
    qsig = sigs.filter(F.col("vec_id") == query_vec_id).select("tbl", "sig")
    cand_ids = (
        sigs.join(F.broadcast(qsig), ["tbl", "sig"])
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id")
        .distinct()
    )
    qv = (
        e.filter(F.col("vec_id") == query_vec_id)
        .select(F.col("embedding").alias("qv"))
    )
    cos = cosine(F.col("embedding"), F.col("qv"))
    return (
        e.join(cand_ids, "vec_id")
        .crossJoin(F.broadcast(qv))
        .select("vec_id", "label", F.round(cos, 6).alias("cos"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(k)
    )


@query("q_similarity_ann_lsh", oracle=_ann_lsh_oracle())
def q_similarity_ann_lsh(spark, sf):
    """ANN via multi-table random-hyperplane LSH: bucket join + rerank.

    Signature rows (lsh_signatures) carry only (vec_id, tbl, sig); the
    query's 8 (tbl, sig) buckets broadcast against them; candidate IDS
    come out of that join, and embeddings are fetched (one join) only
    for the candidate set before the exact-cosine rerank. At 100 TB
    the bucket join shuffles ~L·n/2^b signature rows, rerank cost is
    the candidate set — recall/cost dials are L (tables), b (planes);
    the measured operating point (recall@10 on planted neighbors) is
    pinned in tests/test_similarity.py.
    """
    configure(spark)
    e = load(spark, sf, "embeddings")
    return ann_lsh_topk(e, sigs=corpus_signatures(spark, sf))


def _ivf_oracle() -> str:
    """Oracle twin of the IVF probe (promoted from rows-only in r6).

    Exactly reproducible because the centroid build quantizes each
    component to micro-units BEFORE summing (exact long sums, order
    independent — the tables.dsum discipline), so both engines build
    bit-identical centroids; the centroid/query and rerank cosines are
    then the shared left-to-right list dots."""
    cdot = (
        "list_aggregate(list_transform(range(1, 65), "
        "i -> c.centroid[i] * CAST(q.qv[i] AS DOUBLE)), 'sum')"
    )
    cnorm = (
        "sqrt(list_aggregate(list_transform(range(1, 65), "
        "i -> c.centroid[i] * c.centroid[i]), 'sum'))"
    )
    qnorm = (
        "sqrt(list_aggregate(list_transform(range(1, 65), "
        "i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)), 'sum'))"
    )
    return f"""
    WITH dims AS (
      SELECT label, i - 1 AS dim,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
               AS vu
      FROM embeddings CROSS JOIN range(1, 65) AS t(i)
    ), cent AS (
      SELECT label AS cell,
             list(CAST(su AS DOUBLE) / (1e6 * n) ORDER BY dim) AS centroid
      FROM (SELECT label, dim, SUM(vu) AS su, COUNT(*) AS n
            FROM dims GROUP BY label, dim)
      GROUP BY label
    ), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    probe AS (
      SELECT c.cell
      FROM cent c CROSS JOIN q
      ORDER BY ({cdot} / ({cnorm} * {qnorm})) DESC, c.cell
      LIMIT 2
    )
    SELECT e.vec_id, e.label,
           round({_duck_cos('e.embedding', 'q.qv')}, 6) AS cos
    FROM embeddings e JOIN probe ON e.label = probe.cell CROSS JOIN q
    WHERE e.vec_id <> 0
    ORDER BY cos DESC, vec_id
    LIMIT 10
    """


@query("q_similarity_ivf", oracle=_ivf_oracle())
def q_similarity_ivf(spark, sf):
    """IVF-style ANN: label-mean centroids, probe the 2 nearest cells.

    Build phase: per-label per-dim mean → 10 centroids (tiny,
    broadcast). Components are quantized to micro-unit longs before
    the mean sum (exact, order-independent — the engine-wide float
    discipline), which is what makes the centroids reproducible
    bit-for-bit on any partition count AND lets the DuckDB oracle
    build the identical coarse quantizer (oracled since r6).
    Query phase: rank cells by centroid cosine, scan only
    vectors in the top-2 cells, exact-rerank top-10. At 100 TB the
    centroid build is one map-side-combined groupBy over the corpus
    (or a sampled k-means); the probe scan reads 2/k of the data —
    partition the parquet by cell id and the probe becomes partition
    pruning at the source.

    At-rest tier (round 12): the `ivf_index` artifact persists exactly
    that layout — the centroids table plus the corpus partitioned by
    cell — and this query rides it when present: the coarse ranking
    reads 10 persisted rows, the two probe cell ids (a bounded
    `probes`-row collect) turn into a STATIC partition-pruned scan of
    2/k of the corpus bytes, and the fresh path's full centroid
    rebuild disappears. Bit-identical to the fresh path
    (deterministic integer-mean centroids; equality pinned in
    tests/test_similarity.py); measured tiering in
    docs/PQ_MEMORY_r12.json.
    """
    configure(spark)
    e = load(spark, sf, "embeddings")
    art = artifacts.get(spark, sf, "ivf_index")
    if art is None:
        return ivf_topk(e)
    e_part, cent = art
    cell_rank, qv = ivf_probe_cells(e, cent=cent)
    cells = [r["cell"] for r in cell_rank.collect()]  # bounded: probes rows
    cos = cosine(F.col("embedding"), F.col("qv"))
    return (
        e_part.filter(F.col("label").isin(cells))
        .filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select("vec_id", "label", F.round(cos, 6).alias("cos"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(10)
    )


def ivf_centroids(e):
    """Exact-integer label-mean centroids (cell, centroid) — the IVF
    coarse quantizer, factored out so the at-rest index can persist it
    (micro-unit long sums make it bit-reproducible on any partition
    count — and on re-build at materialize time)."""
    dims = e.select(
        "label",
        F.posexplode(F.col("embedding")).alias("dim", "v"),
    ).select(
        "label",
        "dim",
        F.floor(F.col("v").cast("double") * F.lit(1e6) + F.lit(0.5))
        .cast("bigint")
        .alias("vu"),
    )
    return (
        dims.groupBy("label", "dim")
        .agg(
            (
                F.sum("vu").cast("double")
                / (F.lit(1e6) * F.count(F.lit(1)))
            ).alias("c")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "c"))).alias("dc"))
        .select(
            F.col("label").alias("cell"),
            F.transform(F.col("dc"), lambda s: s["c"]).alias("centroid"),
        )
    )


def ivf_probe_cells(e, query_vec_id: int = 0, probes: int = 2, cent=None):
    """(probe_cells, qv): the IVF coarse front — exact-integer
    label-mean centroids and the top-`probes` cells by centroid/query
    cosine — shared by q_similarity_ivf and the IVF-PQ composition
    (r11). `cent` overrides the centroid build with a persisted
    coarse quantizer (the at-rest index path)."""
    if cent is None:
        cent = ivf_centroids(e)
    qv = (
        e.filter(F.col("vec_id") == query_vec_id)
        .select(F.col("embedding").alias("qv"))
    )
    cell_rank = (
        cent.crossJoin(F.broadcast(qv))
        .select("cell", cosine(F.col("centroid"), F.col("qv")).alias("ccos"))
        .orderBy(F.col("ccos").desc(), "cell")
        .limit(probes)
        .select("cell")
    )
    return cell_rank, qv


def ivf_topk(e, query_vec_id: int = 0, probes: int = 2, k: int = 10):
    """IVF probe over any (vec_id, label, embedding) frame — the body
    of q_similarity_ivf, reusable for the planted-neighbor recall pin
    (tests/test_similarity.py)."""
    cell_rank, qv = ivf_probe_cells(e, query_vec_id, probes)
    cos = cosine(F.col("embedding"), F.col("qv"))
    return (
        e.join(F.broadcast(cell_rank), e.label == F.col("cell"))
        .filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(qv))
        .select("vec_id", "label", F.round(cos, 6).alias("cos"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(k)
    )


def _build_ivf_index(spark, sf, path):
    """The IVF index at rest: the coarse quantizer (one tiny
    centroids table) and the corpus REPARTITIONED BY CELL
    (partitionBy(label) parquet) — exactly the layout the IVF
    docstring promises at 100 TB, where the probe becomes partition
    PRUNING at the source: a probes=2-of-k query reads 2/k of the
    corpus bytes and never touches the rest. Deterministic centroid
    build (exact-integer label means) keeps the artifact path
    bit-identical to the fresh one (equality pinned in
    tests/test_similarity.py)."""
    e = load(spark, sf, "embeddings")
    (
        # repartition by (label, vec_id), NOT label alone: one file per
        # cell would cap the pruned probe's read parallelism at
        # `probes` tasks (measured 4.5 s vs 1.4 s fresh at sf100 —
        # worse than no index); hashing vec_id in spreads every cell
        # over all tasks, so each cell directory holds ~n_tasks
        # splittable files. Session width, no higher floor: a 32-way
        # floor on 4 slots wrote 248 files for 0.35 MB at sf0.01
        e.repartition(work_partitions(spark), F.col("label"), F.col("vec_id"))
        .write.mode("overwrite")
        .partitionBy("label")
        .parquet(os.path.join(path, "by_cell"))
    )
    ivf_centroids(e).write.mode("overwrite").parquet(
        os.path.join(path, "centroids")
    )


artifacts.declare(
    "ivf_index", "embeddings", "ivfindex", _build_ivf_index,
    artifacts.parts("by_cell", "centroids"),
)


@query(
    "q_embed_stats",
    oracle=f"""
    SELECT label,
           COUNT(*) AS n,
           round(CAST(SUM(CAST(floor(round(sqrt({_DUCK_DOT.format(a='embedding', b='embedding')}), 6)
                 * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 / COUNT(*), 6) AS avg_norm
    FROM embeddings GROUP BY label
    """,
)
def q_embed_stats(spark, sf):
    """Per-label embedding count + mean L2 norm.

    Norms are rounded to 6dp BEFORE the mean and summed as exact
    micro-unit longs (tables.dsum pattern) so the aggregate is
    accumulation-order independent — the discipline every float
    aggregate in this engine uses to stay bit-stable across partition
    counts (and engines) while staying on the codegen'd long path.
    """
    configure(spark)
    e = load(spark, sf, "embeddings")
    nrm = F.round(norm(F.col("embedding")), 6)
    return (
        e.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(
                    F.floor(F.col("nrm") * F.lit(1000000.0) + F.lit(0.5)).cast(
                        "bigint"
                    )
                ).cast("double")
                / F.lit(1000000.0)
                / F.count("*"),
                6,
            ).alias("avg_norm"),
        )
    )


@query(
    "q_embed_quantize",
    oracle="""
    WITH b AS (
      SELECT vec_id, label,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
      FROM embeddings
    ),
    m AS (
      SELECT vec_id, label, x,
             list_max(list_transform(x, v -> abs(v))) / 127.0 AS scale
      FROM b
    ),
    qq AS (
      SELECT vec_id, label, x, scale,
             list_transform(x, v -> CAST(greatest(-127.0,
               least(127.0, round(v / scale, 0))) AS BIGINT)) AS q
      FROM m
    )
    SELECT vec_id, label,
           round(scale, 9) AS scale_r,
           len(list_filter(q, v -> abs(v) = 127)) AS n_clipped,
           CAST(list_sum(q) AS BIGINT) AS q_checksum,
           CAST(list_sum(list_transform(range(1, len(x) + 1),
             i -> CAST(round((x[i] - q[i] * scale) * (x[i] - q[i] * scale)
                             * 1e12, 0) AS BIGINT))) AS BIGINT) AS sse_picounits
    FROM qq
    """,
)
def q_embed_quantize(spark, sf):
    """Symmetric int8 quantization of the embedding column: per-vector
    max-abs scale, q_i = clip(round(x_i/scale), ±127), plus the
    reconstruction stats a compression pass reports (clip count,
    checksum, squared error).

    THE storage op for ANN at scale — int8 cuts a 100 TB float32
    vector store to 25 TB and quadruples cache hit rates; rerank reads
    the float originals for candidates only. Pure per-row projection:
    no shuffle, scales embarrassingly. HOFs are kept single-level and
    staged as named columns (the measured interpreted-HOF trap);
    squared error sums as exact picounit longs so the driver hash is
    accumulation-order independent, and d*d is a single multiply (no
    libm pow) so both engines produce identical doubles.

    Reference parity: none (driver-mandated pipeline surface, SURVEY
    §2.3 similarity family).
    """
    configure(spark)
    e = load(spark, sf, "embeddings")
    base = e.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda v: v.cast("double")).alias("x"),
    )
    base = base.withColumn(
        "scale",
        F.array_max(F.transform("x", lambda v: F.abs(v))) / 127.0,
    )
    base = base.withColumn(
        "q",
        F.transform(
            "x",
            lambda v: F.greatest(
                F.lit(-127.0),
                F.least(F.lit(127.0), F.round(v / F.col("scale"), 0)),
            ).cast("long"),
        ),
    )
    err_units = F.zip_with(
        "x",
        "q",
        lambda xv, qv: F.round(
            (xv - qv * F.col("scale")) * (xv - qv * F.col("scale")) * 1e12, 0
        ).cast("long"),
    )
    base = base.withColumn("err_units", err_units)
    return base.select(
        "vec_id",
        "label",
        F.round("scale", 9).alias("scale_r"),
        F.size(F.filter("q", lambda v: F.abs(v) == 127)).alias("n_clipped"),
        F.aggregate("q", F.lit(0).cast("long"), lambda a, v: a + v).alias(
            "q_checksum"
        ),
        F.aggregate(
            "err_units", F.lit(0).cast("long"), lambda a, v: a + v
        ).alias("sse_picounits"),
    )


@query(
    "q_embed_centroids",
    oracle="""
    WITH comp AS (
      SELECT label, u.pos AS pos,
             CAST(floor(CAST(u.val AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
               AS units
      FROM embeddings,
           LATERAL (
             SELECT UNNEST(embedding) AS val,
                    generate_subscripts(embedding, 1) AS pos
           ) u
    ), agg AS (
      SELECT label, pos,
             (CAST(SUM(units) AS DOUBLE) / 1000000.0) / COUNT(*) AS c
      FROM comp GROUP BY label, pos
    )
    SELECT label, pos, c, n FROM agg
    JOIN (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label)
      USING (label)
    ORDER BY label, pos
    """,
)
def q_embed_centroids(spark, sf):
    """Per-label centroid of the embedding vectors — the k-means E-step
    / IVF coarse-quantizer training kernel (`q_similarity_ivf` consumes
    exactly this artifact).

    Vector aggregation done the way it survives 100 TB: posexplode the
    components so the engine aggregates SCALARS per (label, position) —
    a map-side-combinable, skew-free shuffle of #labels × dim cells.
    The alternative (aggregate whole arrays in driver-side or UDAF
    loops) neither combines map-side nor prunes columns. Component sums
    use the exact integer-unit quantizer (tables.dsum discipline, 1e-6
    units) so the float mean is bit-identical cross-engine and
    partition-order independent. Output stays LONG-FORMAT scalar cells
    (label, pos, c, n) rather than reassembled arrays: semantically the
    same centroid, but hashable/sortable by any downstream comparator
    (array columns come back from DuckDB as numpy.ndarray, which is
    unhashable and broke the round-5 driver canonicalizer), and the
    IVF consumer (q_similarity_ivf) pivots it back cheaply.

    Reference parity: none (driver-mandated similarity surface,
    SURVEY §2.3 — the training half of IVF; the search half is
    q_similarity_ivf).
    """
    configure(spark)
    e = load(spark, sf, "embeddings")
    comp = e.select(
        "label", F.posexplode("embedding").alias("pos0", "val")
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),  # 1-based like the oracle
        # explicit float->double BEFORE the multiply: DuckDB otherwise
        # evaluates FLOAT * literal at float precision and the unit
        # quantizer disagrees by one on values near the grid midpoint
        F.floor(F.col("val").cast("double") * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("units"),
    )
    agg = comp.groupBy("label", "pos").agg(
        (
            (F.sum("units").cast("double") / F.lit(1e6)) / F.count("*")
        ).alias("c")
    )
    counts = e.groupBy("label").agg(F.count("*").alias("n"))
    return (
        agg.join(F.broadcast(counts), "label")
        .select("label", "pos", "c", "n")
        .orderBy("label", "pos")
    )


@query(
    "q_similarity_maxsim",
    oracle=f"""
    -- MaxSim late interaction: per (doc=label, query token) take the
    -- MAX cosine (order-independent), quantize to micro-units, THEN
    -- sum — exact long addition, engine-portable.
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv
      FROM embeddings WHERE vec_id < 4
    ),
    best AS (
      SELECT e.label, q.qid,
             MAX(round({_duck_cos('e.embedding', 'q.qv')}, 6)) AS m
      FROM embeddings e CROSS JOIN q
      GROUP BY e.label, q.qid
    )
    SELECT label,
           CAST(SUM(CAST(floor(m * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT)
             AS score_micro
    FROM best GROUP BY label
    """,
)
def q_similarity_maxsim(spark, sf):
    """ColBERT-style MaxSim scoring: multi-vector docs (one per label)
    scored against a 4-token multi-vector query.

    score(doc) = Σ_{query token} max_{doc vector} cos(q, v) — the late-
    interaction retrieval kernel. Plan: the query's token vectors are a
    4-row broadcast; each corpus vector computes 4 cosines in the scan
    stage; two map-side-combined aggregations (per-(label, qid) MAX →
    per-label SUM of micro-unit longs) reduce it to one row per doc.
    Per-vector work is O(q_tokens·dim) with NO pairwise doc×doc term
    and the shuffles carry only (label, qid) rows — at 100 TB this is
    scan-bound, the same cost class as brute-force top-k. The max is
    order-independent and the sum is exact integer addition, so the
    score is bit-stable on any partition count (engine float
    discipline).

    Reference parity: none (driver-mandated similarity surface;
    public algorithm — Khattab & Zaharia 2020, ColBERT).
    """
    configure(spark)
    e = load(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    cos = cosine(F.col("embedding"), F.col("qv"))
    best = (
        e.crossJoin(F.broadcast(q))
        .select("label", "qid", F.round(cos, 6).alias("c"))
        .groupBy("label", "qid")
        .agg(F.max("c").alias("m"))
    )
    return best.groupBy("label").agg(
        F.sum(
            F.floor(F.col("m") * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")
        ).alias("score_micro")
    )


# ---------------------------------------------------------------------------
# k-means codebook training (Lloyd's) — the unsupervised IVF companion
# ---------------------------------------------------------------------------

#: k-means geometry: k cells, 2 assignment→update rounds, then final
#: stats; micro-unit quantization makes every iteration integer-exact
_KM_K, _KM_ITERS = 4, 2
#: driver embeddings are 64-dim (FIXTURES.md); a generic deployment
#: derives this from size(embedding)
_KM_DIM = 64

#: array<float> -> array<bigint> exact micro-units: floor(x·1e6 + .5)
#: rounds identically in both engines (half-up toward +inf, negatives
#: included), after the same float32->double widening
_KM_QUANT = (
    "transform({c}, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0D"
    " + 0.5D) AS BIGINT))"
)

#: dim-guarded quantizer (ADVICE r8): the oracle's distance/update SQL
#: unrolls over a FIXED dim, so a corpus with a different embedding
#: width must fail loudly in the Spark plan rather than silently
#: compute over mismatched dimensionality (DuckDB's out-of-range list
#: index yields NULL, not an error). raise_error is NullType, so the
#: CASE coerces cleanly to array<bigint>.
_KM_QUANT_CHECKED = (
    "CASE WHEN size({c}) = {dim} THEN " + _KM_QUANT
    + " WHEN {c} IS NULL THEN"
    " raise_error('q_embed_kmeans: embedding is NULL"
    " (expected array<float> of dim {dim})')"
    " ELSE"
    " raise_error(concat('q_embed_kmeans: embedding dim ',"
    " CAST(size({c}) AS STRING), ' != oracle-unrolled dim {dim}')) END"
)
#: squared L2 between two micro-unit arrays — pure int64 (|diff| <=
#: ~6e6 -> diff^2 <= 3.6e13, x64 dims <= 2.3e15, far under 2^63)
_KM_D = (
    "aggregate(zip_with(xq, cq, (a, b) -> (a - b) * (a - b)),"
    " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)


def _kmeans_oracle() -> str:
    """SQL twin of q_embed_kmeans: identical quantization, identical
    integer L2, identical (d, cell) tie-break, identical
    floor(double-mean) centroid update, unrolled _KM_ITERS times."""
    quant = (
        "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
        " * 1000000.0 + 0.5) AS BIGINT))"
    )
    dist = (
        "CAST(list_sum(list_transform(range({dim}), i ->"
        " (q.xq[i + 1] - c.cq[i + 1]) * (q.xq[i + 1] - c.cq[i + 1])))"
        " AS BIGINT)"
    ).format(dim=_KM_DIM)
    parts = [
        f"WITH q AS (SELECT vec_id, {quant} AS xq FROM embeddings)",
        f"c0 AS (SELECT vec_id AS cell, xq AS cq FROM q"
        f" WHERE vec_id < {_KM_K})",
    ]
    prev = "c0"
    for it in range(1, _KM_ITERS + 1):
        parts.append(
            f"d{it} AS (SELECT q.vec_id, q.xq, c.cell, {dist} AS d"
            f" FROM q CROSS JOIN {prev} c)"
        )
        parts.append(
            f"a{it} AS (SELECT vec_id, xq, cell FROM"
            f" (SELECT *, row_number() OVER (PARTITION BY vec_id"
            f" ORDER BY d, cell) AS rn FROM d{it}) WHERE rn = 1)"
        )
        parts.append(
            f"u{it} AS (SELECT cell, i,"
            f" CAST(floor(CAST(sum(xq[i + 1]) AS DOUBLE) / count(*))"
            f" AS BIGINT) AS cval"
            f" FROM a{it} CROSS JOIN range({_KM_DIM}) t(i)"
            f" GROUP BY cell, i)"
        )
        parts.append(
            f"c{it} AS (SELECT cell, list(cval ORDER BY i) AS cq"
            f" FROM u{it} GROUP BY cell)"
        )
        prev = f"c{it}"
    parts.append(
        f"df AS (SELECT q.vec_id, c.cell, {dist} AS d"
        f" FROM q CROSS JOIN {prev} c)"
    )
    parts.append(
        "af AS (SELECT vec_id, cell, d FROM"
        " (SELECT *, row_number() OVER (PARTITION BY vec_id"
        " ORDER BY d, cell) AS rn FROM df) WHERE rn = 1)"
    )
    parts.append(
        f"cs AS (SELECT cell, CAST(list_sum(cq) AS BIGINT) AS c_sum"
        f" FROM {prev})"
    )
    return (
        ",\n".join(parts)
        + """
    SELECT af.cell, COUNT(*) AS n_members,
           CAST(sum(af.d) AS BIGINT) AS inertia, any_value(cs.c_sum) AS c_sum
    FROM af JOIN cs ON af.cell = cs.cell
    GROUP BY af.cell
    """
    )


@query("q_embed_kmeans", oracle=_kmeans_oracle())
def q_embed_kmeans(spark, sf):
    """Lloyd's k-means over the embedding corpus — unsupervised
    codebook training, the companion q_similarity_ivf is missing
    (IVF's cells there come from the supervised label column; a real
    deployment LEARNS the coarse quantizer from the vectors). k=4
    centroids seeded deterministically (lowest vec_ids), 2
    assignment→update rounds, then final assignment stats.

    Everything is INTEGER-EXACT, so the whole training run — not
    just a tolerance verdict — value-hash-matches the unrolled SQL
    twin: embeddings quantize to micro-units (floor(x·1e6+.5), the
    engine's standard exact-decimal discipline), distances are pure
    int64 squared-L2, argmin ties break on (d, cell), and the
    centroid update floor(double(sum)/n) is one shared-shape IEEE
    divide (sums ≤ ~1.5e10 are exactly representable doubles). An
    empty cell simply drops out — deterministically in both engines.

    Plan shape: the quantized corpus persists once (it feeds every
    round); each round is corpus × broadcast(k×dim centroids) with
    the distance evaluated per-pair JVM-side, argmin via one
    min(struct) groupBy (map-side combinable), and the update a
    posexplode → (cell, pos) rollup — the same exchange discipline
    as q_embed_centroids. At 100 TB: k·dim is KBs broadcast per
    round; the only corpus-scale exchanges are the per-round argmin
    combine and (cell,pos) rollup, both map-side reduced; rounds are
    a fixed unrolled pipeline exactly like q_graph_pagerank's. The
    HOF distance is CodegenFallback — a deployment chasing the last
    2-3x moves it into the minhash-style Arrow kernel; the plan
    around it is unchanged.

    Output per surviving cell: member count, exact integer inertia
    (Σ final squared-L2), and the centroid component-sum fingerprint
    (c_sum) pinning the learned codebook itself.

    Reference parity: none (driver-mandated similarity surface).
    """
    configure(spark)
    e = load(spark, sf, "embeddings")
    q = (
        e.select(
            "vec_id",
            F.expr(
                _KM_QUANT_CHECKED.format(c="embedding", dim=_KM_DIM)
            ).alias("xq"),
        )
        .persist()
    )
    cents = q.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cell"), F.col("xq").alias("cq")
    )

    def assign(cframe):
        d = q.crossJoin(F.broadcast(cframe)).select(
            "vec_id", "xq", "cell", F.expr(_KM_D).alias("d")
        )
        # Narrow scalar argmin: the (d, cell) tie-broken argmin
        # collapses into ONE min of d·K + cell (cell < K,
        # d ≤ 64·(2e6)² ≈ 2.6e14, so d·K ≪ 2^63 and the combined
        # order ≡ the (d, cell) lexicographic order) — a fixed-width
        # buffer, so the per-round aggregate stays HashAggregate.
        # xq rejoins from the PERSISTED quantized corpus by vec_id
        # instead of riding the aggregate: an array inside min(struct)
        # is a var-length buffer (demotes to SortAggregate), and an
        # array GROUP KEY measured worse than both (3.8 s vs 2.6 at
        # sf10 — per-row array hashing).
        ordv = F.col("d") * F.lit(_KM_K) + F.col("cell")
        m = d.groupBy("vec_id").agg(F.min(ordv).alias("o"))
        cell = F.pmod(F.col("o"), F.lit(_KM_K))
        return m.select(
            "vec_id",
            cell.cast("long").alias("cell"),
            ((F.col("o") - cell) / F.lit(_KM_K)).cast("long").alias("d"),
        ).join(q, "vec_id")

    for _ in range(_KM_ITERS):
        assigned = assign(cents)
        cents = (
            assigned.select("cell", F.posexplode("xq").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(
                F.floor(
                    F.sum("x").cast("double") / F.count(F.lit(1))
                ).alias("cval")
            )
            .groupBy("cell")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos,"
                    " cval))), s -> s.cval)"
                ).alias("cq")
            )
        )
    cents = cents.persist()
    final = assign(cents)
    csum = cents.select(
        "cell",
        F.expr(
            "aggregate(cq, CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        ).alias("c_sum"),
    )
    return (
        final.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("d").cast("bigint").alias("inertia"),
        )
        .join(F.broadcast(csum), "cell")
        .select("cell", "n_members", "inertia", "c_sum")
    )


#: Product quantization: M subspaces of SUB dims (M·SUB = _KM_DIM) —
#: dimension-derived and fixed; K (codebook size) and the training
#: sample are CORPUS-SIZE-derived via pq_dials (VERDICT r10 item 3).
_PQ_M, _PQ_SUB, _PQ_ITERS = 4, 16, 2
_PQ_QUERY, _PQ_TOPK = 0, 10

#: SQL spelling of the K rule, shared by the oracle (which must
#: derive the same dials from count(*) that pq_dials derives in
#: Python — same discipline as the LSH occupancy b-rule).
_PQ_K_SQL = (
    "LEAST(256, GREATEST(4, CAST(ceil(count(*) / 39.0) AS BIGINT)))"
)


#: exact int64 squared-L2 between two SUB-dim micro-unit arrays
_PQ_D_EXPR = (
    "aggregate(zip_with(sq, cq, (a, b) -> (a - b) * (a - b)),"
    " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)


def pq_dials(n: int) -> tuple[int, int]:
    """(K, train_n) from corpus count — the PQ analog of the LSH
    occupancy rule (VERDICT r10 item 3; Jégou et al. 2011 sizing:
    ~39 training points per centroid).

    K = clamp(ceil(n/39), 4, 256): a 500-vector test corpus trains a
    13-cell codebook (tight enough for the fidelity pin), a
    0.5M+-vector corpus saturates at the classic 256 cells = one byte
    per subvector code. train_n = min(n, 64·K): Lloyd rounds touch at
    most 64 points per centroid — training cost is CONSTANT once the
    corpus passes ~1.05M vectors (64·256·M rows/round), while encode
    stays the only n-proportional stage, exactly how production PQ
    separates sample-train from full-encode. The train subset is the
    vec_id prefix, so the oracle replays it as WHERE vec_id < t."""
    k = max(4, min(256, -(-n // 39)))
    return k, min(n, 64 * k)

#: squared L2 between two SUB-dim micro-unit lists (DuckDB spelling)
_PQ_DUCK_D = (
    "CAST(list_sum(list_transform(range({sub}), i ->"
    " ({x}[i + 1] - {y}[i + 1]) * ({x}[i + 1] - {y}[i + 1])))"
    " AS BIGINT)"
)


def _pq_oracle() -> str:
    """SQL twin of q_similarity_pq_adc: identical quantization and
    subvector split, the identical size-derived dials (kv CTE computes
    K and train_n from count(*) exactly as pq_dials does), the
    identical Lloyd rounds per (subspace, cell) key over the SAME
    vec_id-prefix training sample, identical encoding argmin and ADC
    table, unrolled."""
    quant = (
        "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
        " * 1000000.0 + 0.5) AS BIGINT))"
    )
    d_sc = _PQ_DUCK_D.format(sub=_PQ_SUB, x="s.sq", y="c.cq")
    d_qc = _PQ_DUCK_D.format(sub=_PQ_SUB, x="qs.sq", y="c.cq")
    parts = [
        f"WITH kv AS (SELECT {_PQ_K_SQL} AS k,"
        f" LEAST(count(*), 64 * {_PQ_K_SQL}) AS t FROM embeddings)",
        f"q AS (SELECT vec_id, {quant} AS xq FROM embeddings)",
        f"sub AS (SELECT vec_id, m, list_transform(range({_PQ_SUB}),"
        f" i -> xq[m * {_PQ_SUB} + i + 1]) AS sq"
        f" FROM q CROSS JOIN range({_PQ_M}) t(m))",
        "subt AS (SELECT * FROM sub WHERE vec_id < (SELECT t FROM kv))",
        # seeds draw from subt (the training sample), NOT sub: when
        # k > train_n with non-dense vec_ids, sub would hand the SQL
        # side an extra seed the Python side (which seeds from the
        # collected training prefix) lacks (ADVICE r11)
        "c0 AS (SELECT m, vec_id AS cell, sq AS cq FROM subt"
        " WHERE vec_id < (SELECT k FROM kv))",
    ]
    prev = "c0"
    for it in range(1, _PQ_ITERS + 1):
        parts.append(
            f"d{it} AS (SELECT s.vec_id, s.m, s.sq, c.cell, {d_sc} AS d"
            f" FROM subt s JOIN {prev} c ON s.m = c.m)"
        )
        parts.append(
            f"a{it} AS (SELECT vec_id, m, sq, cell FROM"
            f" (SELECT *, row_number() OVER (PARTITION BY vec_id, m"
            f" ORDER BY d, cell) AS rn FROM d{it}) WHERE rn = 1)"
        )
        parts.append(
            f"u{it} AS (SELECT m, cell, i,"
            f" CAST(floor(CAST(sum(sq[i + 1]) AS DOUBLE) / count(*))"
            f" AS BIGINT) AS cval"
            f" FROM a{it} CROSS JOIN range({_PQ_SUB}) t(i)"
            f" GROUP BY m, cell, i)"
        )
        parts.append(
            f"c{it} AS (SELECT m, cell, list(cval ORDER BY i) AS cq"
            f" FROM u{it} GROUP BY m, cell)"
        )
        prev = f"c{it}"
    parts.append(
        f"de AS (SELECT s.vec_id, s.m, c.cell, {d_sc} AS d"
        f" FROM sub s JOIN {prev} c ON s.m = c.m)"
    )
    parts.append(
        "enc AS (SELECT vec_id, m, cell FROM"
        " (SELECT *, row_number() OVER (PARTITION BY vec_id, m"
        " ORDER BY d, cell) AS rn FROM de) WHERE rn = 1)"
    )
    parts.append(
        f"qs AS (SELECT m, sq FROM sub WHERE vec_id = {_PQ_QUERY})"
    )
    parts.append(
        f"adc AS (SELECT c.m, c.cell, {d_qc} AS d"
        f" FROM {prev} c JOIN qs ON qs.m = c.m)"
    )
    return (
        ",\n".join(parts)
        + f"""
    SELECT e.vec_id, CAST(SUM(a.d) AS BIGINT) AS d_adc
    FROM enc e JOIN adc a ON e.m = a.m AND e.cell = a.cell
    WHERE e.vec_id <> {_PQ_QUERY}
    GROUP BY e.vec_id
    ORDER BY d_adc, vec_id
    LIMIT {_PQ_TOPK}
    """
    )


def _pq_subframe(e):
    """(vec_id, m, sq) subvector rows from an embeddings-shaped frame —
    the quantize+split front shared by full-corpus training/encoding
    and the single-row query-point lookup of the artifact path."""
    quant = _KM_QUANT_CHECKED.format(c="embedding", dim=_KM_DIM).replace(
        "q_embed_kmeans", "q_similarity_pq_adc"
    )
    q = e.select("vec_id", F.expr(quant).alias("xq"))
    return q.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {_PQ_M - 1}), m -> struct(m AS m,"
                f" slice(xq, m * {_PQ_SUB} + 1, {_PQ_SUB}) AS sq))"
            )
        ).alias("s"),
    ).select("vec_id", "s.m", "s.sq")


def _pq_sub(spark, sf):
    """(sub, k_cells, train_n): the (vec_id, m, sq) subvector frame
    plus the size-derived dials — the shared front of training,
    encoding, and the ANN-grid measurement tool."""
    from pandas_reporter_spark.tables import load as _load

    e = _load(spark, sf, "embeddings")
    k_cells, train_n = pq_dials(table_rows(sf, "embeddings"))
    return _pq_subframe(e), k_cells, train_n


def _build_pq_index(spark, sf, path):
    """Train + encode ONCE and persist the PQ index at rest: codes
    (vec_id, m, cell — M small ints per vector) and the M·K codebook.

    This is what PQ is FOR at 100 TB: the index is an ingest-time
    artifact (the same amortization as tables.use_bucketed_layout and
    the minhash artifact), and the per-query path then scans CODES —
    a few bytes per vector — instead of raw float vectors, so query
    bytes-scanned drops by the code/raw ratio (measured in
    docs/PQ_MEMORY_r12.json; ~19× smaller at rest at sf100). Training
    and encoding are deterministic (vec_id-prefix sample, integer
    Lloyd, argmin tie-break), so the artifact is bit-identical to
    what q_similarity_pq_adc computes fresh — equality pinned in
    tests/test_similarity.py."""
    sub, k_cells, train_n = _pq_sub(spark, sf)
    sub = sub.persist()
    book_p = os.path.join(path, "codebook")
    _pq_train(spark, sub, k_cells, train_n).write.mode("overwrite").parquet(
        book_p
    )
    (
        _pq_encode(spark, sub, spark.read.parquet(book_p))
        .repartition(work_partitions(spark, 16))
        .write.mode("overwrite")
        .parquet(os.path.join(path, "codes"))
    )
    sub.unpersist()


artifacts.declare(
    "pq_index", "embeddings", "pqindex", _build_pq_index,
    artifacts.parts("codes", "codebook"),
)


def _pq_train(spark, sub, k_cells, train_n):
    """Lloyd rounds over the vec_id-prefix training sample, computed
    DRIVER-SIDE in exact integer numpy and returned as the (m, cell,
    cq) codebook DataFrame.

    Why driver-side is the right scale posture here, not a smell: the
    sample is ABSOLUTELY bounded by pq_dials (≤ 64·K·M ≤ 65 536 rows
    of 16 ints, regardless of corpus size — the same bounded-artifact
    argument as the codebook collect in _pq_encode), while the r10
    join-explode training DAG paid ~5 distributed stage floors per
    Lloyd round and re-derived every prior round inside each
    reference to the lazy codebook plan (measured 4.4 s at sf0.1 for
    2 rounds of a 2 000-vector sample — pure scheduling, no data).
    Production PQ trains on a coordinator for the same reason.

    Exactness parity with the oracle's relational Lloyd is preserved
    op-for-op: int64 squared-L2 ((x−c)² = x²+c²−2xc, |terms| ≤
    3.2e13), argmin ties to the smallest cell (codebook kept
    cell-ascending), and the update is floor(float64(sum)/count) —
    the SAME IEEE double division both engines evaluate (|sum| ≤
    6.5e10 ≪ 2^53, so the cast is exact); empty cells drop, exactly
    as the SQL's group-by does."""
    import math

    import numpy as np

    rows = sub.filter(F.col("vec_id") < train_n).collect()
    by_m: dict = {}
    for r in rows:
        by_m.setdefault(int(r.m), []).append(
            (int(r.vec_id), np.asarray(r.sq, dtype=np.int64))
        )
    out = []
    for m, vecs in sorted(by_m.items()):
        vecs.sort(key=lambda t: t[0])
        x = np.stack([v for _, v in vecs])
        x2 = (x**2).sum(axis=1)
        cells = np.array(
            [vid for vid, _ in vecs if vid < k_cells], dtype=np.int64
        )
        cbook = np.stack([v for vid, v in vecs if vid < k_cells])
        for _ in range(_PQ_ITERS):
            c2 = (cbook**2).sum(axis=1)
            dist = x2[:, None] + c2[None, :] - 2 * (x @ cbook.T)
            idx = np.argmin(dist, axis=1)  # first min = smallest cell
            surviving = np.unique(idx)
            new_cells, new_book = [], []
            for ci in surviving:
                mem = x[idx == ci]
                cnt = mem.shape[0]
                new_cells.append(int(cells[ci]))
                new_book.append(
                    [
                        math.floor(float(int(s)) / cnt)
                        for s in mem.sum(axis=0)
                    ]
                )
            cells = np.array(new_cells, dtype=np.int64)
            cbook = np.array(new_book, dtype=np.int64)
        for ci, cq in zip(cells, cbook):
            out.append((m, int(ci), [int(v) for v in cq]))
    return local_frame(spark, out, "m int, cell bigint, cq array<bigint>")


def _pq_encode(spark, sub, cents):
    """Full-corpus PQ encode — the one n-proportional stage — as a
    vectorized Arrow kernel instead of the training loop's
    join-explode. The explode shape materializes n·M·K rows and runs
    the squared-L2 lambda interpreted (flat HOFs are CodegenFallback
    in Spark 4.1): fine for the capped training sample, but at
    K=256 the full-corpus encode would evaluate ~0.5G interpreted
    lambdas at sf10 (~50 s; ~500 s at sf100). The kernel computes the
    identical exact int64 arithmetic per Arrow batch —
    (x−c)² = x² + c² − 2x·c with |terms| ≤ 3.2e13 ≪ 2^63, numpy
    integer matmul is exact — and np.argmin's first-minimum matches
    the (d, cell) tie-break because codebook rows are cell-ascending.
    The codebook itself is an M·K-row collect (KBs — broadcast-scalar
    artifact, not corpus data). Cross-engine parity is unchanged: the
    oracle replays the same argmin relationally at oracle scale."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    by_m: dict = {}
    for r in cents.collect():
        by_m.setdefault(int(r.m), []).append((int(r.cell), list(r.cq)))
    packed = {
        m: (
            np.array([c for c, _ in sorted(v)], dtype=np.int64),
            np.array([cq for _, cq in sorted(v)], dtype=np.int64),
        )
        for m, v in by_m.items()
    }

    @pandas_udf("long")
    def enc_cell(m: pd.Series, sq: pd.Series) -> pd.Series:
        if len(m) == 0:
            return pd.Series([], dtype="int64")
        mv = m.to_numpy()
        x_all = np.stack([np.asarray(a, dtype=np.int64) for a in sq])
        x2 = (x_all**2).sum(axis=1)
        out = np.empty(len(mv), dtype=np.int64)
        for mm in np.unique(mv):
            cells, cbook = packed[int(mm)]
            mask = mv == mm
            x = x_all[mask]
            c2 = (cbook**2).sum(axis=1)
            dist = x2[mask][:, None] + c2[None, :] - 2 * (x @ cbook.T)
            out[mask] = cells[np.argmin(dist, axis=1)]
        return pd.Series(out)

    return sub.select("vec_id", "m", enc_cell("m", "sq").alias("cell"))


@query("q_similarity_pq_adc", oracle=_pq_oracle())
def q_similarity_pq_adc(spark, sf):
    """Product-quantization ANN with asymmetric distance computation
    (Jégou et al. 2011): split each 64-dim embedding into M=4
    subvectors, LEARN a size-dialed K-cell codebook per subspace
    (pq_dials: K = clamp(ceil(n/39), 4, 256), two Lloyd rounds over a
    capped vec_id-prefix training sample, deterministic seeds),
    encode the corpus as M-byte codes,
    then answer a query via an ADC lookup table — the memory-bound
    scale path past IVF: the scored representation is M small ints
    per vector (here 4, vs 64 floats), so a 100 TB corpus's codes fit
    in a fraction of the space and the scan is table-lookup-bound,
    never touching raw vectors after encoding.

    One dataflow trains ALL subspace codebooks: subvectors explode to
    (vec_id, m, sq) rows and the Lloyd round runs keyed by (m, cell)
    — assignment is an m-equi-join against the broadcast M·K×SUB
    codebook (KBs), argmin one min(struct) map-side combine, the
    update a (m, cell, pos) rollup. Scoring joins the M-row-per-
    vector code table against the broadcast 16-entry ADC table and
    map-side-sums — zero corpus-keyed shuffles beyond the final
    groupBy(vec_id), and the result is TakeOrdered(k). Everything is
    integer-exact (micro-unit quantization, int64 squared-L2,
    (d, cell) tie-break, floor-mean update), so the LEARNED codebooks,
    the codes, and the ADC scores all value-hash-match the unrolled
    SQL twin — the same proof discipline as q_embed_kmeans.

    At-rest tier (round 12, VERDICT r11 item 2): when
    the `pq_index` artifact has persisted the codes + codebook, this
    query rides the artifact — the scan reads M small ints per vector
    instead of 64 floats and skips train+encode entirely (the query
    point's subvectors come from a pushed-down vec_id point lookup).
    Deterministic training makes the two paths bit-identical
    (equality pinned in tests/test_similarity.py); measured tiering
    in docs/PQ_MEMORY_r12.json.

    Reference parity: none (driver-mandated similarity surface).
    """
    configure(spark)
    art = artifacts.get(spark, sf, "pq_index")
    if art is not None:
        enc, cents = art
        qs = _pq_subframe(
            load(spark, sf, "embeddings").filter(
                F.col("vec_id") == _PQ_QUERY
            )
        ).select("m", F.col("sq").alias("qsq"))
    else:
        sub, k_cells, train_n = _pq_sub(spark, sf)
        sub = sub.persist()
        cents = _pq_train(spark, sub, k_cells, train_n).persist()
        enc = _pq_encode(spark, sub, cents).select("vec_id", "m", "cell")
        qs = sub.filter(F.col("vec_id") == _PQ_QUERY).select(
            "m", F.col("sq").alias("qsq")
        )
    adc = (
        cents.join(F.broadcast(qs), "m")
        .select(
            "m",
            "cell",
            F.expr(
                _PQ_D_EXPR.replace("zip_with(sq, cq", "zip_with(qsq, cq")
            ).alias("d"),
        )
    )
    return (
        enc.filter(F.col("vec_id") != _PQ_QUERY)
        .join(F.broadcast(adc), ["m", "cell"])
        .groupBy("vec_id")
        .agg(F.sum("d").cast("bigint").alias("d_adc"))
        .orderBy("d_adc", "vec_id")
        .limit(_PQ_TOPK)
    )


#: hybrid-retrieval fusion geometry: reciprocal rank fusion
#: (Cormack/Clarke/Büttcher 2009) with the standard k=60 over two
#: top-20 legs. Contributions are EXACT integers — 10^9 DIV (60+rank)
#: — so the fused score is engine-portable by construction.
_RRF_K = 60
_RRF_LEG_K = 20


@query(
    "q_search_hybrid_rrf",
    oracle=None,  # set below: needs text._BM25_SQL_CTES at import time
)
def q_search_hybrid_rrf(spark, sf):
    """Hybrid retrieval via reciprocal rank fusion — the stage a
    retrieval-augmented curation pipeline runs to merge a SPARSE
    ranker (BM25 over the inverted index, q_text_bm25's scoring
    dataflow verbatim via text.bm25_scores) with a DENSE ranker
    (exact cosine against the vec_id=0 query embedding,
    q_similarity_topk's shape): RRF(d) = Σ_legs 1/(k + rank_leg(d)),
    k=60, each leg contributing its top-20.

    Rank, not score, is what fuses — so each leg's scores are first
    quantized to exact integer units (cosine → micro-units, BM25
    already micro-units) and ranked with a deterministic doc_id
    tiebreak, making the RANKS identical in both engines even where
    raw floats could differ by an ulp. The fused contribution
    10^9 DIV (60+r) is pure int64 division — the summed fusion score
    is exact, no float discipline needed past the per-leg quantize.

    Scale shape: each leg is the 100 TB-safe top-k form —
    TakeOrderedAndProject (per-task local top-20, driver merges) with
    the corpus never globally sorted; the rank window then runs over
    ≤20 rows per leg (a one-partition sort of 20 rows, not a corpus
    sort). Fusion unions ≤40 rows, hash-aggregates, and the final
    order is again top-k. Legs share nothing, so Spark schedules
    their scans concurrently; the BM25 leg rides the shared tokenize
    artifact when materialized.

    Reference parity: none (driver-mandated pipeline surface).
    """
    from pandas_reporter_spark.operators.text import bm25_scores

    configure(spark)
    e = load(spark, sf, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    cos_micro = F.floor(
        cosine(F.col("embedding"), F.col("qv")) * F.lit(1000000.0) + F.lit(0.5)
    ).cast("long")
    dense_top = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(F.col("vec_id").alias("id"), cos_micro.alias("s"))
        .orderBy(F.col("s").desc(), "id")
        .limit(_RRF_LEG_K)
    )
    dense = dense_top.select(
        "id",
        F.row_number().over(W.orderBy(F.col("s").desc(), "id")).alias("r"),
    )
    sparse_top = (
        bm25_scores(spark, sf)
        .orderBy(F.col("score_micro").desc(), "doc_id")
        .limit(_RRF_LEG_K)
    )
    sparse = sparse_top.select(
        F.col("doc_id").alias("id"),
        F.row_number()
        .over(W.orderBy(F.col("score_micro").desc(), "doc_id"))
        .alias("r"),
    )
    contrib = F.expr(f"CAST(1000000000 DIV ({_RRF_K} + r) AS BIGINT)")
    fused = dense.select("id", contrib.alias("c")).unionByName(
        sparse.select("id", contrib.alias("c"))
    )
    return (
        fused.groupBy("id")
        .agg(
            F.sum("c").cast("bigint").alias("rrf_nano"),
            F.count(F.lit(1)).cast("bigint").alias("legs"),
        )
        .select(F.col("id").alias("doc_id"), "rrf_nano", "legs")
        .orderBy(F.col("rrf_nano").desc(), "doc_id")
        .limit(10)
    )


def _install_rrf_oracle() -> None:
    """Attach the RRF oracle after module init: the sparse leg embeds
    text._BM25_SQL_CTES verbatim (one source of truth for the BM25
    dataflow), and text imports before similarity in registry order."""
    from pandas_reporter_spark.operators.text import _BM25_SQL_CTES
    from pandas_reporter_spark.registry import ORACLES

    ORACLES["q_search_hybrid_rrf"] = f"""
    WITH {_BM25_SQL_CTES},
    qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cosq AS (
      SELECT e.vec_id AS id,
             CAST(floor({_duck_cos('e.embedding', 'qv.qv')}
                        * 1000000.0 + 0.5) AS BIGINT) AS s
      FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> 0
    ),
    dense AS (
      SELECT id, r FROM (
        SELECT id, ROW_NUMBER() OVER (ORDER BY s DESC, id) AS r FROM cosq
      ) WHERE r <= {_RRF_LEG_K}
    ),
    sparse AS (
      SELECT id, r FROM (
        SELECT doc_id AS id,
               ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS r
        FROM bm
      ) WHERE r <= {_RRF_LEG_K}
    ),
    fused AS (
      SELECT id, CAST(1000000000 // ({_RRF_K} + r) AS BIGINT) AS c
      FROM dense
      UNION ALL
      SELECT id, CAST(1000000000 // ({_RRF_K} + r) AS BIGINT) AS c
      FROM sparse
    )
    SELECT id AS doc_id, CAST(SUM(c) AS BIGINT) AS rrf_nano,
           CAST(COUNT(*) AS BIGINT) AS legs
    FROM fused GROUP BY id
    ORDER BY rrf_nano DESC, doc_id
    LIMIT 10
    """


_install_rrf_oracle()


def _sign_half(col: str, lo: int):
    """Pack dims [lo, lo+32) of an array<float> into one BIGINT of
    sign bits (bit i = [dim lo+i >= 0]). Halves stay < 2^32 so BOTH
    engines compute them in exact integer range (no 64-bit wraparound
    to emulate); -0.0 >= 0 and NaN >= 0 evaluate identically in Java
    and DuckDB. (SQL-expr form: the DataFrame shiftleft builtin only
    takes a literal shift, the SQL one takes the lambda index.)"""
    return F.expr(
        f"aggregate(transform(slice({col}, {lo + 1}, 32), (x, i) -> "
        f"IF(x >= 0, shiftleft(1L, i), 0L)), 0L, (acc, v) -> acc + v)"
    )


def _duck_sign_half(col: str, lo: int) -> str:
    return (
        f"CAST(list_aggregate(list_transform(range(1, 33), i -> "
        f"CASE WHEN {col}[{lo} + i] >= 0 THEN (1::BIGINT << (i - 1)) "
        f"ELSE 0::BIGINT END), 'sum') AS BIGINT)"
    )


#: SRP plane namespace: tables _SRP_TABLE0.. are disjoint from the
#: LSH tables (0.._N_TABLES) in plane_signs' splitmix base, so SRP
#: codes and LSH signatures never share hyperplanes.
_SRP_TABLE0 = 512


def srp_codes(df: DataFrame, bits: int) -> DataFrame:
    """(vec_id, label, code array<long>): `bits` signed-random-
    projection sign bits per vector, packed 64 per long.

    Raw component signs top out at dim bits (64 here) — the width the
    r12 grid measured collapsing to recall 0.10 at sf100. SRP widens
    the code past the dimensionality: bit j is the sign of
    dot(v, plane_j) for the deterministic ±1 hyperplane
    plane_signs(_SRP_TABLE0 + j//32, j%32) (plane index kept inside
    _B_STRIDE so the namespace never collides), and Hamming(u, v)/bits
    estimates θ(u,v)/π with standard error ∝ 1/√bits — 256 bits
    doubles the angular resolution of 64.

    Same bit-exactness contract as lsh_signatures: the kernel
    accumulates dims in ascending order (the identical IEEE chain an
    engine-portable oracle would run); planes are ±1.0 so the multiply
    is exact. Scan-stage Arrow projection, zero shuffle; at rest the
    codes are bits/8 B/vec (32 B at 256 bits — still 8× under raw)."""
    from pyspark.sql.functions import pandas_udf

    n_longs = (bits + 63) // 64
    signs = np.array(
        [
            plane_signs(_SRP_TABLE0 + j // _B_STRIDE, j % _B_STRIDE)
            for j in range(bits)
        ]
    )  # (bits, dim) of ±1.0

    @pandas_udf("array<long>")
    def _codes(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype=object)
        m = np.vstack(col.to_numpy()).astype(np.float64)  # (n, dim)
        n, dim = m.shape
        out = np.zeros((n, n_longs), dtype=np.uint64)
        for j in range(bits):
            acc = np.zeros(n, dtype=np.float64)
            s = signs[j]
            for i in range(dim):  # ascending i = portable sum order
                acc += m[:, i] * s[i]
            out[:, j // 64] |= (acc >= 0).astype(np.uint64) << np.uint64(
                j % 64
            )
        return pd.Series(list(out.view(np.int64)))

    return df.select("vec_id", "label", _codes(F.col("embedding")).alias("code"))


def srp_hamming_topk(spark, sf, bits: int, k: int = 10) -> DataFrame:
    """Hamming top-k to the vec_id=0 query over `bits`-wide SRP codes
    — the width-parameterized engine path behind the HAMMING_AB grid
    (the registered q_similarity_hamming keeps the 64-bit raw-sign
    form whose oracle needs no plane table; docs/HAMMING_AB_r13.json
    demotes that width to the planted-duplicate regime and makes
    256-bit the moderate-similarity tier). Rides the at-rest codes
    when a session has materialized them (the `srp_codes` artifact —
    bit-equal by construction, the artifact IS srp_codes' output);
    else packs inline. Distance is Σ popcount(xor) over the packed
    longs (zip_with + aggregate on a bits/64-element array — bounded
    HOF, not corpus-width); ranking is TakeOrderedAndProject."""
    configure(spark)
    s = artifacts.get(spark, sf, "srp_codes") if bits == _SRP_BITS else None
    if s is None:
        e = load(spark, sf, "embeddings")
        s = srp_codes(e, bits)
    q = s.filter(F.col("vec_id") == 0).select(F.col("code").alias("qcode"))
    ham = F.aggregate(
        F.zip_with(
            "code", "qcode", lambda a, b: F.bit_count(a.bitwiseXOR(b))
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    return (
        s.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", ham.alias("hamming"))
        .orderBy("hamming", "vec_id")
        .limit(k)
    )


@query(
    "q_similarity_hamming",
    oracle=f"""
    -- binary (sign-bit) embedding quantization + Hamming ranking:
    -- 64 dims -> two 32-bit sign halves, distance = popcount(xor)
    WITH s AS (
      SELECT vec_id, label,
             {_duck_sign_half('embedding', 0)} AS h1,
             {_duck_sign_half('embedding', 32)} AS h2
      FROM embeddings
    ),
    q AS (SELECT h1 AS q1, h2 AS q2 FROM s WHERE vec_id = 0)
    SELECT vec_id, label,
           CAST(bit_count(xor(h1, q1)) + bit_count(xor(h2, q2))
                AS BIGINT) AS hamming
    FROM s CROSS JOIN q
    WHERE vec_id <> 0
    ORDER BY hamming, vec_id
    LIMIT 10
    """,
)
def q_similarity_hamming(spark, sf):
    """Binary embedding search — sign-bit quantization (64 dims → 64
    bits) ranked by Hamming distance to the vec_id=0 query: the 32×
    compression tier of the quantization family (scalar int8 →
    q_embed_quantize, PQ codes → q_similarity_pq_adc, binary → here)
    that production vector stores use as a first-pass filter before
    exact re-ranking, because popcount(xor) is orders cheaper than a
    float dot product and the codes are 8 B/vec at rest.

    Engine-portable by construction: the sign of an IEEE float is an
    exact predicate (x >= 0, with -0.0 and NaN agreeing across
    engines), the two 32-bit halves stay inside exact integer range
    in BOTH engines (no 64-bit wraparound emulation needed — the
    q_dedup_simhash lesson made cheap), and Hamming is pure int ops —
    the whole query carries ZERO float-discipline exposure.

    Scale shape: packing is scan-stage expression work (one pass,
    zero shuffle); the single-row query side broadcasts; ranking is
    TakeOrderedAndProject. At 100 TB the codes would materialize at
    rest like the PQ index (8 B/vec vs 263 B/vec raw — same
    artifact discipline, smaller still than PQ's 25 B/vec) and the
    scan reads codes only; the ties a 64-bit code can't break are
    re-ranked exactly by the q_similarity_topk form over the
    candidate set.

    Reference parity: none (driver-mandated similarity surface).
    """
    configure(spark)
    e = load(spark, sf, "embeddings")
    s = e.select(
        "vec_id",
        "label",
        _sign_half("embedding", 0).alias("h1"),
        _sign_half("embedding", 32).alias("h2"),
    )
    q = s.filter(F.col("vec_id") == 0).select(
        F.col("h1").alias("q1"), F.col("h2").alias("q2")
    )
    ham = (
        F.bit_count(F.col("h1").bitwiseXOR(F.col("q1")))
        + F.bit_count(F.col("h2").bitwiseXOR(F.col("q2")))
    ).cast("bigint")
    return (
        s.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", ham.alias("hamming"))
        .orderBy("hamming", "vec_id")
        .limit(10)
    )


#: binary-prefilter shortlist width: candidates re-ranked exactly
_HAM_SHORTLIST = 100


@query(
    "q_similarity_hamming_rerank",
    oracle=f"""
    -- the production binary-ANN shape: Hamming top-100 shortlist
    -- from the 8 B/vec sign codes, exact cosine re-rank of ONLY the
    -- shortlist (deterministic ranks via quantized keys + id ties)
    WITH s AS (
      SELECT vec_id, label,
             {_duck_sign_half('embedding', 0)} AS h1,
             {_duck_sign_half('embedding', 32)} AS h2
      FROM embeddings
    ),
    q AS (SELECT h1 AS q1, h2 AS q2 FROM s WHERE vec_id = 0),
    short AS (
      SELECT vec_id, hamming FROM (
        SELECT s.vec_id,
               CAST(bit_count(xor(h1, q1)) + bit_count(xor(h2, q2))
                    AS BIGINT) AS hamming,
               ROW_NUMBER() OVER (
                 ORDER BY bit_count(xor(h1, q1)) + bit_count(xor(h2, q2)),
                          s.vec_id) AS rn
        FROM s CROSS JOIN q
        WHERE s.vec_id <> 0
      ) WHERE rn <= {_HAM_SHORTLIST}
    ),
    qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label, short.hamming,
           round({_duck_cos('e.embedding', 'qv.qv')}, 6) AS cos
    FROM embeddings e
    JOIN short ON short.vec_id = e.vec_id
    CROSS JOIN qv
    ORDER BY {_duck_cos('e.embedding', 'qv.qv')} DESC, e.vec_id
    LIMIT 10
    """,
)
def q_similarity_hamming_rerank(spark, sf):
    """Binary prefilter + exact re-rank — the two-stage form
    production vector search actually deploys: popcount(xor) over the
    8 B/vec sign codes shortlists {_HAM_SHORTLIST} candidates
    (q_similarity_hamming's ranking), then the float vectors are
    fetched for ONLY the shortlist and re-ranked by exact cosine.

    The scale economics are the point: stage 1 touches codes only
    (8 B/vec — at rest, a 33× smaller scan than raw vectors; the
    materialized-codes variant would read a codes sidecar exactly
    like q_similarity_pq_adc reads PQ codes), and stage 2's
    vector-fetch is a {_HAM_SHORTLIST}-row broadcast join — at 100 TB
    the full-precision embeddings are touched via point lookups, not
    scanned. Stage-1 ranks are pure-integer deterministic (Hamming,
    vec_id tiebreak), so the shortlist SET is engine-identical and
    the re-rank inherits q_similarity_topk's (judge-green) float
    discipline.

    Reference parity: none (driver-mandated similarity surface).
    """
    configure(spark)
    e = load(spark, sf, "embeddings")
    s = e.select(
        "vec_id",
        "label",
        _sign_half("embedding", 0).alias("h1"),
        _sign_half("embedding", 32).alias("h2"),
    )
    q = s.filter(F.col("vec_id") == 0).select(
        F.col("h1").alias("q1"), F.col("h2").alias("q2")
    )
    ham = (
        F.bit_count(F.col("h1").bitwiseXOR(F.col("q1")))
        + F.bit_count(F.col("h2").bitwiseXOR(F.col("q2")))
    ).cast("bigint")
    short = (
        s.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", ham.alias("hamming"))
        .orderBy("hamming", "vec_id")
        .limit(_HAM_SHORTLIST)
    )
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    cos = cosine(F.col("embedding"), F.col("qv"))
    return (
        e.join(F.broadcast(short), "vec_id")
        .crossJoin(F.broadcast(qv))
        .select("vec_id", "label", "hamming", cos.alias("_cos"))
        .orderBy(F.col("_cos").desc(), "vec_id")
        .limit(10)
        .select(
            "vec_id", "label", "hamming", F.round("_cos", 6).alias("cos")
        )
    )


#: JL random projection: 64 -> 8 dims. P=8 keeps the projected
#: squared-L2 inside int64 with headroom at the quantizer's own
#: worst case (|xq| <= 6e6 -> |y| <= 64*6e6 = 3.84e8, diff^2 <=
#: 5.9e17, x8 dims = 4.7e18 < 2^63); P=16 would not.
_RP_P, _RP_Q, _RP_TOPK = 8, 0, 10


@query(
    "q_embed_random_projection",
    oracle=f"""
    -- JL random projection (Achlioptas-style +-1 matrix, derived
    -- IN-ENGINE from the portable md5 hash — the classifier's
    -- virtual-weight discipline): project the micro-quantized
    -- corpus 64 -> {_RP_P} dims, rank by exact integer squared-L2
    -- to the projected query vector
    WITH sg AS (
      SELECT (i // 64) AS j, (i % 64) AS ii,
             CASE WHEN CAST(concat('0x', substring(md5(
                    'rp:' || CAST(i % 64 AS VARCHAR) || ':'
                          || CAST(i // 64 AS VARCHAR)), 1, 15))
                  AS BIGINT) % 2 = 0
                  THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT)
             END AS s
      FROM range({_RP_P} * 64) t(i)
    ),
    sgm AS (SELECT j, list(s ORDER BY ii) AS r FROM sg GROUP BY j),
    sgn AS (SELECT list(r ORDER BY j) AS m FROM sgm),
    e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)
               * 1000000.0 + 0.5) AS BIGINT)) AS xq
      FROM embeddings
    ),
    p AS (
      SELECT vec_id,
             list_transform(range({_RP_P}), j ->
               CAST(list_sum(list_transform(range(64), i ->
                 xq[i + 1] * m[j + 1][i + 1])) AS BIGINT)) AS y
      FROM e, sgn
    ),
    q AS (SELECT y AS yq FROM p WHERE vec_id = {_RP_Q})
    SELECT p.vec_id,
           CAST(list_sum(list_transform(range({_RP_P}), j ->
             (p.y[j + 1] - q.yq[j + 1]) * (p.y[j + 1] - q.yq[j + 1])))
             AS BIGINT) AS d_rp
    FROM p, q
    ORDER BY d_rp, p.vec_id LIMIT {_RP_TOPK}
    """,
)
def q_embed_random_projection(spark, sf):
    """Johnson-Lindenstrauss random projection for embeddings (public
    method: the +-1 sign-matrix construction of Achlioptas 2003,
    "Database-friendly random projections"): compress 64-dim vectors
    to P=8 dims with a DETERMINISTIC sign matrix and rank the
    corpus by exact integer squared-L2 to the projected query — the
    distance-preservation-GUARANTEED member of the dimensionality
    ladder (scalar int8 quantize / PQ codes / sign-bit Hamming are
    the lossy-codebook members; JL is the one with the lemma).

    The sign matrix derives IN-ENGINE from the portable md5 hash
    (s(i,j) = +-1 by hash parity — the quality classifier's
    virtual-weight discipline, so the oracle replays the derivation
    rather than trusting an embedded literal): ONE 512-row job,
    gathered into an array-of-arrays and broadcast. Projection is
    scan-stage HOF work over the micro-quantized corpus (zip_with
    products, int64-exact); the query row joins back as a broadcast
    scalar; ranking is TakeOrderedAndProject. P=8 is the int64
    headroom bound: at the quantizer's worst case |y| <= 64*6e6, so
    the 8-term squared-L2 tops out at 4.7e18 < 2^63 (16 terms would
    not fit).

    Reference parity: none (driver-mandated similarity surface).
    """
    configure(spark)
    from pandas_reporter_spark.operators.dedup import portable_token_hash

    sg = spark.range(_RP_P * 64).select(
        F.expr("id DIV 64").alias("j"),
        F.expr("id % 64").alias("ii"),
        F.when(
            portable_token_hash(
                F.concat(
                    F.lit("rp:"),
                    F.expr("CAST(id % 64 AS STRING)"),
                    F.lit(":"),
                    F.expr("CAST(id DIV 64 AS STRING)"),
                )
            )
            % 2
            == 0,
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .cast("bigint")
        .alias("s"),
    )
    sgm = sg.groupBy("j").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(ii, s))), x -> x.s)"
        ).alias("r")
    )
    sgn = sgm.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(j, r))), x -> x.r)"
        ).alias("m")
    )
    e = load(spark, sf, "embeddings").select(
        "vec_id",
        F.expr(_KM_QUANT_CHECKED.format(c="embedding", dim=_KM_DIM)).alias(
            "xq"
        ),
    )
    p = e.crossJoin(F.broadcast(sgn)).select(
        "vec_id",
        F.expr(
            f"transform(sequence(0, {_RP_P - 1}), j ->"
            " aggregate(zip_with(xq, element_at(m, j + 1),"
            " (a, b) -> a * b), CAST(0 AS BIGINT),"
            " (acc, v) -> acc + v))"
        ).alias("y"),
    )
    q = p.filter(F.col("vec_id") == _RP_Q).select(F.col("y").alias("yq"))
    return (
        p.crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.expr(
                "aggregate(zip_with(y, yq, (a, b) -> (a - b) * (a - b)),"
                " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
            ).alias("d_rp"),
        )
        .orderBy("d_rp", "vec_id")
        .limit(_RP_TOPK)
    )


#: Gram-matrix quantization unit: MILLI, not the family's usual
#: micro — second moments square the unit, and micro would overflow
#: int64 (|x| <= 6 -> micro products 3.6e13, x2M rows = 7e19 > 2^63;
#: milli products 3.6e7, x2M = 7.2e13, five decades of headroom).
_GRAM_DIM = 64

#: the Gram SQL core, shared by the q_embed_gram oracle and the PCA
#: power-iteration oracle's first CTE
_GRAM_SQL = f"""
    SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
           CAST(SUM(xq[i + 1] * xq[j + 1]) AS BIGINT) AS g
    FROM (
      SELECT list_transform(embedding, x ->
               CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))
             AS xq
      FROM embeddings
    ), UNNEST(range({_GRAM_DIM})) a(i), UNNEST(range({_GRAM_DIM})) b(j)
    WHERE i <= j
    GROUP BY i, j
"""


@query(
    "q_embed_gram",
    oracle="""
    -- upper-triangle Gram matrix of the milli-quantized corpus:
    -- G[i,j] = sum over vectors of xq[i]*xq[j], exact int64
    """
    + _GRAM_SQL,
)
def q_embed_gram(spark, sf):
    """Distributed Gram matrix over the embedding corpus — the
    X'X building block of PCA / covariance / anisotropy diagnostics
    (the shape Spark MLlib's RowMatrix.computeGramianMatrix
    implements): G[i,j] = Σ_vectors x_i·x_j over the 64-dim corpus,
    upper triangle, exact int64 over MILLI-quantized components
    (second moments square the unit — micro would overflow int64 at
    2M vectors, milli leaves five decades of headroom; documented
    next to the family's micro-unit convention).

    Scale shape — this is the ONE place a Python kernel earns its
    keep on the numeric path: per Arrow batch, numpy builds the
    64×64 partial Gram with a single int64 matmul (dense BLAS-shaped
    work no Catalyst expression matches; an explode-based SQL form
    fans every vector into 64² rows — 8.4e9 intermediate rows at
    sf100 — which is the oracle's spec, not a plan). Each task emits
    one 2080-row triangle per batch, so the shuffle carries
    2080 × #batches rows REGARDLESS of corpus size (pure map-side
    reduction), and the final groupBy(i, j) sum is a 2080-group
    HashAggregate. float32→double widening and floor(x·1000+0.5)
    match the oracle bit-for-bit (same IEEE double ops in numpy and
    both engines).

    Reference parity: none (driver-mandated similarity surface).
    """
    import numpy as np
    configure(spark)
    return gram_df(spark, sf)


def gram_df(spark, sf) -> DataFrame:
    """The q_embed_gram dataflow (mapInPandas partial Gram +
    2080-group sum), shared with the PCA power iteration."""
    import pandas as pd

    d = _GRAM_DIM
    e = load(spark, sf, "embeddings").select("embedding")

    def partial_gram(batches):
        iu = np.triu_indices(d)
        for pdf in batches:
            if pdf.empty:
                continue
            col = pdf["embedding"]
            # fail-loud policy of _KM_QUANT_CHECKED: a NULL or ragged
            # embedding must raise a CHECKED error, not an opaque
            # np.stack shape error (and never silently skip, which is
            # what the oracle's list_transform(NULL) would do)
            if col.isna().any():
                raise ValueError(
                    f"q_embed_gram: embedding is NULL (expected"
                    f" array<float> of dim {d})"
                )
            lens = col.map(len)
            if (lens != d).any():
                bad = int(lens[lens != d].iloc[0])
                raise ValueError(
                    f"q_embed_gram: embedding dim {bad} != {d}"
                )
            x = np.stack(col.to_numpy()).astype(np.float64)
            xq = np.floor(x * 1000.0 + 0.5).astype(np.int64)
            g = xq.T @ xq
            yield pd.DataFrame(
                {
                    "i": iu[0].astype("int32"),
                    "j": iu[1].astype("int32"),
                    "g": g[iu],
                }
            )

    return (
        e.mapInPandas(partial_gram, "i int, j int, g long")
        .groupBy("i", "j")
        .agg(F.sum("g").alias("g"))
    )


_PCA_ITERS = 80


def _pca_oracle(k: int) -> str:
    """Gram CTE + k integer power-iteration rounds (64-row CTEs) +
    corpus projection onto the resulting PC1. All CTEs MATERIALIZED
    (the BPE-oracle lesson: multiply-referenced chained CTEs
    re-expand exponentially under DuckDB's default inlining)."""
    rounds = []
    for t in range(k):
        rounds.append(
            f""",
    w{t + 1} AS MATERIALIZED (
      -- HUGEINT: at sf100 g*v tops 7.2e19 (the DRIVER side is exact
      -- Python bigint; only this replay needs 128-bit)
      SELECT gs.i, SUM(CAST(gs.g AS HUGEINT) * v{t}.v) AS w
      FROM gs JOIN v{t} ON gs.j = v{t}.i GROUP BY gs.i
    ),
    m{t + 1} AS MATERIALIZED (
      SELECT (MAX(ABS(w)) // 1000000 + 1) AS s FROM w{t + 1}
    ),
    v{t + 1} AS MATERIALIZED (
      -- renormalize to ~milli scale with TRUNCATION-TOWARD-ZERO
      -- (sign-split: DuckDB // floors, Spark DIV truncates; on
      -- |w| // s they agree)
      SELECT i, CAST(CASE WHEN w < 0
                  THEN -((-w) // (SELECT s FROM m{t + 1}))
                  ELSE w // (SELECT s FROM m{t + 1}) END AS BIGINT) AS v
      FROM w{t + 1}
    )"""
        )
    return f"""
    -- PC1 by deterministic integer power iteration on the Gram
    -- matrix (v0 = all-milli-ones, {k} rounds, truncating renorm),
    -- then the corpus projected onto it: the 10 most-positive
    -- extreme vectors along the dominant principal direction
    WITH gram AS MATERIALIZED (
      {_GRAM_SQL}
    ),
    gs AS MATERIALIZED (
      SELECT i, j, g FROM gram
      UNION ALL
      SELECT j AS i, i AS j, g FROM gram WHERE i < j
    ),
    v0 AS MATERIALIZED (
      SELECT CAST(i AS INT) AS i, CAST(1000000 AS BIGINT) AS v
      FROM range({_GRAM_DIM}) t(i)
    ){''.join(rounds)},
    pc AS MATERIALIZED (
      SELECT list(v ORDER BY i) AS vl FROM v{k}
    ),
    proj AS (
      SELECT vec_id,
             CAST(list_sum(list_transform(range({_GRAM_DIM}), i ->
               xq[i + 1] * vl[i + 1])) AS BIGINT) AS proj
      FROM (
        SELECT vec_id,
               list_transform(embedding, x ->
                 CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))
               AS xq
        FROM embeddings
      ), pc
    )
    SELECT vec_id, proj FROM proj
    ORDER BY proj DESC, vec_id LIMIT 10
    """


@query("q_embed_pca_power", oracle=_pca_oracle(_PCA_ITERS))
def q_embed_pca_power(spark, sf):
    """PC1 extraction by POWER ITERATION on the distributed Gram
    matrix, then the corpus projected onto it — the classic
    two-stage distributed PCA (the Gram fits any driver once the
    dimensionality is model-sized; cf. MLlib RowMatrix.computePrincipalComponents,
    which does exactly this collect-then-eigendecompose): surfaces
    the 10 most-extreme vectors along the dominant principal
    direction, the anisotropy / outlier diagnostic an embedding-
    quality report leads with.

    Determinism contract (what makes this ORACLE-REPLAYABLE where a
    float eigensolver is not): v0 = all-1e6, 80 iterations of
    w = G·v followed by integer renormalization v = trunc(w / (max|w|
    // 1e6 + 1)) — every step is exact integer arithmetic, identical
    in driver Python (native bigint) and DuckDB (HUGEINT for the G·v
    products, which top int64 at sf100; the truncating division is
    sign-split because DuckDB floors where Python // floors too — on
    |w| // s both truncate). max|w| // 1e6 + 1 also makes the
    renormalizer zero-proof (an all-zero corpus yields v = 0, not a
    division error). 80 rounds because the synthetic corpus is
    near-isotropic (measured gap λ2/λ1 = 0.93 at sf0.001): 0.93^80
    collapses the off-axis mass three orders, and the 1e6 renorm
    scale keeps quantization from freezing the tail — the numpy-eig
    alignment test pins |cos| > 0.99.

    Scale shape: stage 1 is the q_embed_gram dataflow (mapInPandas
    partial Grams, 2080-row-per-batch shuffle); the Gram COLLECT is a
    bounded 2080-cell artifact (the PQ-codebook discipline) and the
    80-round iteration is driver arithmetic on a 64x64 integer
    matrix (microseconds);
    stage 2 broadcasts the 64-component PC1 as a literal into a
    scan-stage zip_with projection with a TakeOrderedAndProject
    top-10. |proj| <= 64 * 6e3 * 1e6 = 3.8e11 — int64-safe.

    Reference parity: none (driver-mandated similarity surface).
    """
    configure(spark)
    d = _GRAM_DIM
    rows = gram_df(spark, sf).collect()  # bounded: 2080 cells
    G = [[0] * d for _ in range(d)]
    for r in rows:
        G[r["i"]][r["j"]] = r["g"]
        G[r["j"]][r["i"]] = r["g"]
    v = [1000000] * d
    for _ in range(_PCA_ITERS):
        w = [sum(G[i][j] * v[j] for j in range(d)) for i in range(d)]
        s = max(abs(x) for x in w) // 1000000 + 1
        v = [x // s if x >= 0 else -((-x) // s) for x in w]
    vlit = "array(" + ",".join(f"CAST({c} AS BIGINT)" for c in v) + ")"
    e = load(spark, sf, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
            " * 1000.0 + 0.5) AS BIGINT))"
        ).alias("xq"),
    )
    return (
        e.select(
            "vec_id",
            F.expr(
                f"aggregate(zip_with(xq, {vlit}, (a, b) -> a * b),"
                " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ).alias("proj"),
        )
        .orderBy(F.col("proj").desc(), "vec_id")
        .limit(10)
    )


#: anchors for contrastive mining: the first _HN_ANCHORS vec_ids
_HN_ANCHORS = 8


@query(
    "q_embed_hard_negatives",
    oracle=f"""
    -- contrastive-pair mining: for each anchor, nearest same-label
    -- vector (positive) and nearest OTHER-label vector (hard
    -- negative) by exact cosine, deterministic (cos DESC, vec_id)
    WITH a AS (
      SELECT vec_id AS qid, label AS qlabel, embedding AS qv
      FROM embeddings WHERE vec_id < {_HN_ANCHORS}
    ),
    scored AS (
      SELECT a.qid, a.qlabel, e.vec_id, e.label,
             {_duck_cos('e.embedding', 'a.qv')} AS c,
             (e.label = a.qlabel) AS is_pos
      FROM embeddings e JOIN a ON e.vec_id <> a.qid
    ),
    ranked AS (
      SELECT qid, qlabel, vec_id, c, is_pos,
             ROW_NUMBER() OVER (PARTITION BY qid, is_pos
                                ORDER BY c DESC, vec_id) AS rn
      FROM scored
    )
    SELECT p.qid AS qid, p.qlabel,
           p.vec_id AS pos_id, round(p.c, 6) AS pos_cos,
           n.vec_id AS neg_id, round(n.c, 6) AS neg_cos
    FROM ranked p JOIN ranked n ON p.qid = n.qid
    WHERE p.is_pos AND p.rn = 1 AND (NOT n.is_pos) AND n.rn = 1
    ORDER BY p.qid
    """,
)
def q_embed_hard_negatives(spark, sf):
    """Contrastive-pair mining — for each anchor vector, the nearest
    SAME-label vector (the positive) and the nearest OTHER-label
    vector (the hard negative) by exact cosine: the training-data
    prep every contrastive retrieval/embedding fine-tune runs
    (in-batch negatives are easy; the pairs that move the loss are
    the nearest wrong-label ones — Karpukhin et al. 2020, DPR, §4).

    Plan shape: the anchor set broadcasts (a literal handful of
    rows); ONE corpus scan computes all anchor cosines at scan stage
    (BroadcastNestedLoopJoin fan-out of 8 rows/vector), and the
    argmax collapses through a map-side-combined MAX over
    struct(c, -vec_id) into ≤ 2·|anchors| groups — the corpus is
    never shuffled, no per-group row_number sort exists on the Spark
    side (the oracle's window IS the spec, not the plan). The struct
    max's lexicographic order encodes the (cos DESC, vec_id ASC)
    tie-break exactly: both engines compute the identical
    ascending-index IEEE cosine chain, so the winner is engine-
    identical, not just approximately.

    At 100 TB with anchor sets beyond broadcast (mining pairs for
    EVERY training example), the same argmax rides the ANN tier:
    IVF cells or the at-rest SRP codes shortlist candidates per
    anchor and this exact scan runs within the shortlist — the
    tiered discipline of q_similarity_hamming_rerank.

    Reference parity: none (driver-mandated pipeline surface).
    """
    configure(spark)
    e = load(spark, sf, "embeddings")
    a = e.filter(F.col("vec_id") < _HN_ANCHORS).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qv"),
    )
    # norms hoist OUT of the 8-anchor fan-out: each side's norm is
    # computed once (corpus rows in the pre-join projection, anchors
    # in the broadcast build), and cos = dot/(rn*qn) is bit-identical
    # to the oracle's per-pair recomputation — sqrt over the same
    # ascending-index IEEE chain yields the same double wherever it
    # runs. 8 dots + 1 norm per row instead of 8 dots + 16 norms
    # (measured: 1.93 -> 0.98 s at sf10).
    en = e.select("vec_id", "label", "embedding", norm("embedding").alias("rn"))
    an = a.select("qid", "qlabel", "qv", norm("qv").alias("qn"))
    scored = (
        en.crossJoin(F.broadcast(an))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "vec_id",
            (dot(F.col("embedding"), F.col("qv"))
             / (F.col("rn") * F.col("qn"))).alias("c"),
            (F.col("label") == F.col("qlabel")).alias("is_pos"),
        )
    )
    # ONE conditional aggregate finds both argmaxes: the ordering key
    # struct(c, -vec_id) encodes (cos DESC, vec_id ASC) and the WHEN
    # nulls route each row to exactly one max_by (null keys are
    # skipped). The struct buffer demotes this to SortAggregate — and
    # the r13 A/B KEPT it: the hash-aggregable two-pass alternative
    # (max(c) then broadcast join-back + min id) must compute the
    # interpreted-HOF cosine fan-out TWICE and measured 2x slower
    # (28.7 vs 15.1 s at sf100, equal results). The sort is map-side
    # over the fan-out with 8 groups; the cosine compute dominates.
    key = F.struct(F.col("c"), (-F.col("vec_id")).alias("nid"))
    res = (
        scored.groupBy("qid", "qlabel")
        .agg(
            F.max_by("vec_id", F.when(F.col("is_pos"), key)).alias("pos_id"),
            F.round(
                F.max(F.when(F.col("is_pos"), F.col("c"))), 6
            ).alias("pos_cos"),
            F.max_by("vec_id", F.when(~F.col("is_pos"), key)).alias("neg_id"),
            F.round(
                F.max(F.when(~F.col("is_pos"), F.col("c"))), 6
            ).alias("neg_cos"),
        )
        # a label with no same-label (or no other-label) candidate has
        # no pair — the oracle's inner join drops it identically
        .filter(F.col("pos_id").isNotNull() & F.col("neg_id").isNotNull())
        .orderBy("qid")
    )
    return res


def _duck_srp_planes(bits: int) -> str:
    """VALUES table of the SRP hyperplanes as literal ±1.0 lists —
    the same driver-side plane_signs constants the kernel closes
    over, so bucket bits are engine-identical by construction (the
    lsh_signatures discipline at 4× the width)."""
    rows = []
    for j in range(bits):
        s = plane_signs(_SRP_TABLE0 + j // _B_STRIDE, j % _B_STRIDE)
        rows.append(
            "(" + str(j) + ", [" + ", ".join(
                "1.0" if v > 0 else "-1.0" for v in s
            ) + "])"
        )
    return ",\n      ".join(rows)


_SRP_BITS = 256


def _build_srp_codes(spark, sf, path):
    """Pack the _SRP_BITS-wide SRP sign codes once per snapshot — the
    production posture for the binary tier: packing is ingest-time
    work (256 plane dots/vec), queries scan bits/8 B/vec codes (32 B
    at 256 bits, 8× under the raw vectors) and never touch the float
    embeddings."""
    srp_codes(load(spark, sf, "embeddings"), _SRP_BITS).write.mode(
        "overwrite"
    ).parquet(path)


def _open_srp_codes(spark, sf, path):
    """srp_codes is one code row per embedding, so a complete artifact
    matches the source count exactly. Both counts and the schema come
    from parquet footers: validating starts no Spark job."""
    n, n_vec = footer_rows(path), table_rows(sf, "embeddings")
    if n != n_vec:
        raise artifacts.Invalid(f"srp codes has {n} rows for {n_vec} embeddings")
    return read_footed(spark, path)


artifacts.declare(
    "srp_codes", "embeddings", f"srp{_SRP_BITS}", _build_srp_codes,
    _open_srp_codes,
)


@query(
    "q_similarity_srp",
    oracle=f"""
    -- 256-bit SRP Hamming top-10: the oracle never PACKS bits (a
    -- 64-bit shift at j=63 wraps BIGINT), it counts differing signs
    -- directly: hamming(v, q) = #{{j : sign(dot(v, p_j)) !=
    -- sign(dot(q, p_j))}} — value-identical to the engine's
    -- popcount-of-xor over packed longs
    WITH planes(j, p) AS (VALUES
      {_duck_srp_planes(_SRP_BITS)}
    ),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    qs AS (
      SELECT j,
             (list_aggregate(list_transform(range(1, 65),
                i -> CAST(qv[i] AS DOUBLE) * p[i]), 'sum') >= 0) AS s
      FROM planes CROSS JOIN q
    )
    SELECT e.vec_id, e.label, CAST(SUM(CASE WHEN
             (list_aggregate(list_transform(range(1, 65),
                i -> CAST(e.embedding[i] AS DOUBLE) * planes.p[i]),
                'sum') >= 0) <> qs.s
           THEN 1 ELSE 0 END) AS BIGINT) AS hamming
    FROM embeddings e
    CROSS JOIN planes JOIN qs ON qs.j = planes.j
    WHERE e.vec_id <> 0
    GROUP BY e.vec_id, e.label
    ORDER BY hamming, e.vec_id
    LIMIT 10
    """,
)
def q_similarity_srp(spark, sf):
    """The moderate-similarity binary tier, driver-verified: 256-bit
    signed-random-projection Hamming top-10 to the vec_id=0 query.
    64-bit raw-sign codes (q_similarity_hamming) top out at the
    embedding dimensionality and the r13 width A/B measured them
    collapsing to median exact-rank percentile 0.0082 at sf100;
    SRP widens the code past dim — bit j is sign(dot(v, plane_j))
    for 256 deterministic ±1 hyperplanes — and restores percentile
    0.0000 (~top 200 of 2M) at 4× the at-rest bytes (32 B/vec, still
    8× under raw). docs/HAMMING_AB_r13.json is the decision record.

    Engine path: srp_hamming_topk — the Arrow kernel packs 64
    bits/long with the ascending-dim IEEE chain (bit-exact with the
    oracle's list sums), distance is Σ popcount(xor) over 4 longs,
    ranking is TakeOrderedAndProject; a session that has materialized
    the codes (the `srp_codes` artifact — the production posture) scans
    32 B/vec and never touches the float vectors: 0.35 s vs 2.0 s
    exact at sf100. The oracle counts differing signs directly (no
    packing — a BIGINT shift at bit 63 wraps), which is value-
    identical to popcount-of-xor.

    Reference parity: none (driver-mandated similarity surface).
    """
    return srp_hamming_topk(spark, sf, _SRP_BITS)


#: Matryoshka prefix widths probed by q_embed_matryoshka
_MRL_WIDTHS = (8, 16, 32, 64)


def _duck_prefix_cos(a: str, b: str, w: int) -> str:
    d = (f"list_aggregate(list_transform(range(1, {w + 1}), "
         f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), 'sum')")
    na = (f"sqrt(list_aggregate(list_transform(range(1, {w + 1}), "
          f"i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)), 'sum'))")
    nb = (f"sqrt(list_aggregate(list_transform(range(1, {w + 1}), "
          f"i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), 'sum'))")
    return f"({d} / ({na} * {nb}))"


def _prefix_cos(w: int):
    """Cosine over the first w dims (prefix norm on BOTH sides — the
    Matryoshka convention), same ascending-index IEEE chain as the
    oracle's list sums."""
    a = F.expr(f"slice(embedding, 1, {w})")
    b = F.expr(f"slice(qv, 1, {w})")
    d = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(
        F.zip_with(a, a, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(
        F.zip_with(b, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v))
    return d / (na * nb)


def _mrl_oracle() -> str:
    branches = []
    for w in _MRL_WIDTHS:
        branches.append(f"""
    SELECT {w} AS width, rnk, vec_id, cosw FROM (
      SELECT e.vec_id,
             round({_duck_prefix_cos('e.embedding', 'q.qv', w)}, 6) AS cosw,
             ROW_NUMBER() OVER (
               ORDER BY {_duck_prefix_cos('e.embedding', 'q.qv', w)} DESC,
                        e.vec_id) AS rnk
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> 0
    ) WHERE rnk <= 10""")
    union = "\n    UNION ALL".join(branches)
    return f"""
    -- Matryoshka truncation fidelity: top-10 by prefix-dim cosine at
    -- each width, flagged against the full-width top-10
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    ranked AS ({union}),
    full10 AS (SELECT vec_id FROM ranked WHERE width = 64)
    SELECT r.width, r.rnk AS rank, r.vec_id, r.cosw AS cos,
           CAST(CASE WHEN f.vec_id IS NOT NULL THEN 1 ELSE 0 END
                AS BIGINT) AS in_full_top10
    FROM ranked r LEFT JOIN full10 f ON r.vec_id = f.vec_id
    ORDER BY r.width, r.rnk
    """


@query("q_embed_matryoshka", oracle=_mrl_oracle())
def q_embed_matryoshka(spark, sf):
    """Matryoshka truncation fidelity (Kusupati et al. 2022, MRL) —
    for each prefix width w ∈ 8/16/32/64, the top-10 neighbors of the
    vec_id=0 query by PREFIX-dim cosine, each row flagged by whether
    it appears in the full-width top-10. This is the diagnostic
    behind shipping truncated embeddings: the width where the flag
    column stops degrading is the width the at-rest store can keep —
    the adaptive-retrieval counterpart of the fixed-codebook ladder
    (int8 / PQ / SRP-binary / JL) this module already measures.

    Plan shape: each width is an independent TakeOrderedAndProject
    leg over the same scan (legs share nothing and schedule
    concurrently — the RRF discipline); the full-width top-10 is one
    of the legs, broadcast back as the flag's build side; the final
    rank window runs over 40 rows. Prefix cosines are the identical
    ascending-index IEEE chain in both engines (slice + zip_with vs
    list_transform over range), so ranks are engine-identical, not
    approximately so.

    Reference parity: none (driver-mandated similarity surface).
    """
    from pyspark.sql import Window as W

    configure(spark)
    e = load(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    scored = e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(q))
    legs = []
    for w in _MRL_WIDTHS:
        legs.append(
            scored.select(
                F.lit(w).alias("width"),
                "vec_id",
                _prefix_cos(w).alias("c"),
            )
            .orderBy(F.col("c").desc(), "vec_id")
            .limit(10)
        )
    ranked = legs[0]
    for leg in legs[1:]:
        ranked = ranked.unionAll(leg)
    rnk = F.row_number().over(
        W.partitionBy("width").orderBy(F.col("c").desc(), "vec_id")
    )
    ranked = ranked.select("width", "vec_id", "c", rnk.alias("rank"))
    full10 = ranked.filter(F.col("width") == 64).select(
        F.col("vec_id").alias("fid")
    )
    return (
        ranked.join(
            F.broadcast(full10), ranked["vec_id"] == full10["fid"], "left"
        )
        .select(
            "width",
            "rank",
            "vec_id",
            F.round("c", 6).alias("cos"),
            F.col("fid").isNotNull().cast("bigint").alias("in_full_top10"),
        )
        .orderBy("width", "rank")
    )


# ---------------------------------------------------------------------------
# Batched multi-query retrieval (round 14)
# ---------------------------------------------------------------------------

#: batch retrieval geometry: Q query vectors ranked together, top-K
#: each — the kNN-graph/hard-negative-mining shape (every other
#: registered retrieval op is single-query by construction)
_TOPKB_Q = 8
_TOPKB_K = 10


def topk_batch_salted(spark, sf, n_q: int = _TOPKB_Q, k: int = _TOPKB_K):
    """Batch top-k as ONE corpus scan + two-phase rank — the LARGE-
    batch regime: the scan crossJoins the broadcast query block
    (n_q x N scored rows stay in the scan stage), a first row_number
    partitioned by (qid, spark_partition_id) takes each partition's
    local top-k (the shuffle carries balanced (qid, pid) keys, never
    a per-qid hot partition), and a second rank over the surviving
    n_q x P x k rows is corpus-independent."""
    configure(spark)
    e = load(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < n_q).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            "label",
            cosine(F.col("embedding"), F.col("qv")).alias("c"),
            F.spark_partition_id().alias("pid"),
        )
    )
    local = F.row_number().over(
        W.partitionBy("qid", "pid").orderBy(F.col("c").desc(), "vec_id")
    )
    return (
        scored.withColumn("lr", local)
        .filter(F.col("lr") <= k)
        .drop("pid", "lr")
    )


@query(
    "q_similarity_topk_batch",
    oracle=f"""
    -- batched exact retrieval: top-{_TOPKB_K} per query over a
    -- {_TOPKB_Q}-vector query block, deterministic vec_id tiebreak
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qv
      FROM embeddings WHERE vec_id < {_TOPKB_Q}
    ),
    scored AS (
      SELECT q.qid, e.vec_id, e.label,
             {_duck_cos('e.embedding', 'q.qv')} AS c
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.qid
    ),
    ranked AS (
      SELECT qid, vec_id, label, c,
             row_number() OVER (PARTITION BY qid
                                ORDER BY c DESC, vec_id) AS rnk
      FROM scored
    )
    SELECT qid, CAST(rnk AS BIGINT) AS rank, vec_id, label,
           round(c, 6) AS cos
    FROM ranked WHERE rnk <= {_TOPKB_K}
    """,
)
def q_similarity_topk_batch(spark, sf):
    """Exact cosine top-{k} for a BATCH of query vectors (vec_id <
    {q}) in one answer set — the retrieval shape training pipelines
    actually run (kNN-graph construction, hard-negative mining,
    dedup-by-nearest): every other registered retrieval op ranks a
    single query.

    Registered plan: the ZERO-SHUFFLE Arrow kernel (topk_batch_kernel
    — query block broadcast as a bounded driver artifact, per-Arrow-
    batch order-exact scoring of all queries, only n_q x k rows leave
    each batch) + a corpus-independent final rank. The three-form A/B
    (docs/TOPK_BATCH_r14.json, all forms asserted value-identical
    in-run at every cell) was decisive, not close: at sf100/batch=64
    the kernel runs 4.5 s vs 107.5 s for the one-scan salted
    two-phase rank and 133.8 s for per-query TakeOrderedAndProject
    legs, and it is flat in batch size (0.38 -> 0.93 s from batch 8
    to 64 at sf10) because the scoring loop amortizes the scan across
    the whole query block while nothing corpus-width ever shuffles.
    The salted JVM form remains as an engine path (topk_batch_salted)
    and as the A/B's equality oracle.

    Reference parity: none (driver-mandated similarity surface).
    """
    kern = topk_batch_kernel(spark, sf)
    rnk = F.row_number().over(
        W.partitionBy("qid").orderBy(F.col("c").desc(), "vec_id")
    )
    return (
        kern.withColumn("rank", rnk.cast("bigint"))
        .filter(F.col("rank") <= _TOPKB_K)
        .select("qid", "rank", "vec_id", "label",
                F.round("c", 6).alias("cos"))
    )


q_similarity_topk_batch.__doc__ = q_similarity_topk_batch.__doc__.format(
    k=_TOPKB_K, q=_TOPKB_Q
)


def topk_batch_kernel(spark, sf, n_q: int = _TOPKB_Q, k: int = _TOPKB_K):
    """Batch top-k as a ZERO-SHUFFLE scan-stage kernel — the 100 TB
    regime: the query block ships as a bounded driver artifact (n_q
    rows, the hard-negatives anchors-broadcast precedent), every Arrow
    batch scores all n_q queries with the ORDER-EXACT sequential
    float64 sums the `dot` expression defines (ascending-dim
    accumulation from 0.0 — the LSH/SRP kernel discipline, so the c
    values are bit-identical to the JVM and oracle forms), and only
    each batch's per-query top-k leaves the scan (n_q x k rows per
    Arrow batch; nothing corpus-width moves). The caller's final rank
    over n_q x k x n_batches rows is corpus-independent."""
    configure(spark)
    e = load(spark, sf, "embeddings")
    qrows = (
        e.filter(F.col("vec_id") < n_q)
        .select("vec_id", "embedding")
        .collect()
    )
    qs = [
        (int(r["vec_id"]), np.asarray(r["embedding"], dtype=np.float64))
        for r in sorted(qrows, key=lambda r: r["vec_id"])
    ]

    def _seq_dot(m, v):
        # ascending-dim sequential sum from 0.0 == the `dot` expression
        acc = np.zeros(m.shape[0], dtype=np.float64)
        for i in range(m.shape[1]):
            acc = acc + m[:, i] * v[i]
        return acc

    qnorm = {qid: float(np.sqrt(_seq_dot(v[None, :], v)[0]))
             for qid, v in qs}

    def _score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            vids = pdf["vec_id"].to_numpy()
            labels = pdf["label"].to_numpy()
            # norm(embedding): same sequential discipline on squares
            acc = np.zeros(m.shape[0], dtype=np.float64)
            for i in range(m.shape[1]):
                acc = acc + m[:, i] * m[:, i]
            na = np.sqrt(acc)
            out = []
            for qid, qv in qs:
                c = _seq_dot(m, qv) / (na * qnorm[qid])
                mask = vids != qid
                cv, iv, lv = c[mask], vids[mask], labels[mask]
                order = np.lexsort((iv, -cv))[:k]
                out.append(
                    pd.DataFrame(
                        {
                            "qid": np.full(len(order), qid, dtype=np.int64),
                            "vec_id": iv[order].astype(np.int64),
                            "label": lv[order].astype(np.int32),
                            "c": cv[order],
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    return e.select("vec_id", "label", "embedding").mapInPandas(
        _score, "qid long, vec_id long, label int, c double"
    )


# ---------------------------------------------------------------------------
# Document-level kNN graph at rest (VERDICT r14 item 8)

#: neighbors kept per vector in the materialized graph
_KNN_K = 8


def _knn_graph_rel(spark, sf, k: int = _KNN_K) -> DataFrame:
    """Cell-scoped exact kNN graph — the SemDeDup geometry
    (q_dedup_semantic's cells: the label column stands in for a
    learned coarse quantizer): within each cell, exact pairwise
    cosine, top-k neighbors per vector with the (cos DESC, id ASC)
    tie-break. One row per (vec_id, rank).

    Float discipline: the pairwise matrix accumulates ascending-dim
    outer products from 0.0, so every entry is the SAME sequential
    left-to-right float64 sum the `dot` expression and the DuckDB
    oracle compute — bit-identical cos, rank-stable across engines
    (the topk_batch kernel's discipline, extended to all-pairs).

    Scale shape: cells process independently (groupBy(label)
    applyInPandas — one shuffle on the cell key); within a cell the
    kernel walks row-blocks of 1024 so memory is block x n_c, never
    n_c². The in-cell pair space is quadratic BY DESIGN (SemDeDup
    accepts it because a production quantizer sizes K ∝ n, holding
    n_c — and therefore Σ n_c² — constant per the pq_dials
    discipline); at 100 TB this runs once at ingest and every
    graph/dedup/clustering consumer rides the ~k rows/vec artifact.
    """
    configure(spark)
    e = load(spark, sf, "embeddings").select("label", "vec_id", "embedding")

    def per_cell(pdf):
        import numpy as np  # noqa: PLC0415 — worker-side
        import pandas as pd  # noqa: PLC0415 — worker-side

        n = len(pdf)
        empty = pd.DataFrame(
            {
                "vec_id": pd.Series([], dtype="int64"),
                "rank": pd.Series([], dtype="int64"),
                "neighbor_id": pd.Series([], dtype="int64"),
                "cos": pd.Series([], dtype="float64"),
            }
        )
        if n < 2:
            return empty
        m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy().astype(np.int64)
        # sort the cell by id so that a STABLE row-wise argsort on
        # -cos breaks ties in ascending-id column order — exactly the
        # per-row lexsort((iv, -cv)) the original (r15 first-sitting)
        # loop computed, but one C-level sort per block instead of one
        # Python lexsort + one DataFrame PER ROW (that shape measured
        # ~390 s for the sf10 build; this one ~10× less)
        id_order = np.argsort(ids, kind="stable")
        m, ids = m[id_order], ids[id_order]
        dims = m.shape[1]
        take = min(k, n - 1)
        mT = np.ascontiguousarray(m.T)  # dim-major for the tile loop
        # norms: ascending-dim sequential sum of squares from 0.0
        acc = np.zeros(n, dtype=np.float64)
        for i in range(dims):
            acc = acc + m[:, i] * m[:, i]
        nrm = np.sqrt(acc)
        out = []
        tile = 512
        for lo in range(0, n, 1024):
            hi = min(lo + 1024, n)
            nb = hi - lo
            cosm = np.empty((nb, n), dtype=np.float64)
            # column-tiled ascending-dim outer-product accumulation:
            # entry (a, b) still sums m[a,i]*m[b,i] in i order from
            # 0.0 == the `dot` fold exactly (tiling changes WHICH
            # elements share a pass, never any element's op sequence)
            # — but the 4 MB tile stays cache-resident across the 64
            # passes instead of streaming a 160 MB block 64 times
            for c0 in range(0, n, tile):
                c1 = min(c0 + tile, n)
                blk = np.zeros((nb, c1 - c0), dtype=np.float64)
                for i in range(dims):
                    blk = blk + np.outer(mT[i, lo:hi], mT[i, c0:c1])
                cosm[:, c0:c1] = blk / np.outer(nrm[lo:hi], nrm[c0:c1])
            rows_local = np.arange(nb)
            # the emitted neighbor values are untouched: only the
            # self column and already-taken columns are masked, and
            # values are recorded before masking
            cosm[rows_local, np.arange(lo, hi)] = -np.inf
            sel_id = np.empty((nb, take), dtype=np.int64)
            sel_cos = np.empty((nb, take), dtype=np.float64)
            for r in range(take):
                # argmax returns the FIRST maximum; columns are
                # ascending-id, so ties break toward the lower id —
                # exactly the lexsort((iv, -cv)) discipline
                j = np.argmax(cosm, axis=1)
                sel_id[:, r] = ids[j]
                sel_cos[:, r] = cosm[rows_local, j]
                cosm[rows_local, j] = -np.inf
            out.append(
                pd.DataFrame(
                    {
                        "vec_id": np.repeat(ids[lo:hi], take),
                        "rank": np.tile(
                            np.arange(1, take + 1, dtype=np.int64), nb
                        ),
                        "neighbor_id": sel_id.ravel(),
                        "cos": sel_cos.ravel(),
                    }
                )
            )
        return pd.concat(out, ignore_index=True) if out else empty

    return e.groupBy("label").applyInPandas(
        per_cell, "vec_id long, rank long, neighbor_id long, cos double"
    )


def _build_knn_graph(spark, sf, path):
    """The cell-scoped kNN graph once per snapshot — the
    embedding-at-rest completion: SemDeDup-style clustering, graph
    ops, and neighborhood features all read ~_KNN_K rows/vec instead
    of re-paying the in-cell pairwise pass."""
    _knn_graph_rel(spark, sf).write.mode("overwrite").parquet(path)


def _open_knn_graph(spark, sf, path):
    """Row count must equal the analytically-expected
    Σ_cells n_c · min(n_c - 1, k), so a partial file never primes a
    consumer. The per-cell sizes are the one Spark aggregate this
    runs; the artifact's count and schema come from its footers."""
    cells = load(spark, sf, "embeddings").groupBy("label").count().collect()
    expected = sum(
        int(r["count"]) * min(int(r["count"]) - 1, _KNN_K) for r in cells
    )
    n = footer_rows(path)
    if n != expected:
        raise artifacts.Invalid(f"knn graph has {n} rows, expected {expected}")
    return read_footed(spark, path)


artifacts.declare(
    "knn_graph", "embeddings", f"knn{_KNN_K}", _build_knn_graph,
    _open_knn_graph,
)


@query(
    "q_similarity_knn_graph",
    oracle=f"""
    -- cell-scoped exact kNN graph (SemDeDup geometry): within each
    -- label cell, top-{_KNN_K} neighbors per vector by exact cosine,
    -- ties broken by neighbor id — bit-identical cos by the shared
    -- sequential-sum float discipline
    WITH p AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             {{cos}} AS cos
      FROM embeddings a
      JOIN embeddings b
        ON a.label = b.label AND a.vec_id <> b.vec_id
    ),
    r AS (
      SELECT vec_id, neighbor_id, cos,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY cos DESC, neighbor_id
             ) AS rank
      FROM p
    )
    SELECT vec_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
           round(cos, 6) AS cos
    FROM r WHERE rank <= {_KNN_K}
    """.format(cos=_duck_cos("a.embedding", "b.embedding")),
)
def q_similarity_knn_graph(spark, sf):
    """The document-level kNN graph (VERDICT r14 item 8): top-k
    in-cell cosine neighbors for EVERY vector — the one artifact that
    feeds SemDeDup-style clustering, mutual-kNN graph ops, and
    neighborhood features. Rides the at-rest graph when a session has
    materialized it (the `knn_graph` artifact — the artifact IS this
    plan's output, bit-equal by construction); else derives in-plan.

    Scale notes live on `_knn_graph_rel`; the consumer here reads
    ~{k} rows/vec either way, so downstream cost is corpus-linear.

    Reference parity: none (driver-mandated similarity surface).
    """
    configure(spark)
    art = artifacts.get(spark, sf, "knn_graph")
    rel = art if art is not None else _knn_graph_rel(spark, sf)
    return rel.select(
        "vec_id", "rank", "neighbor_id", F.round("cos", 6).alias("cos")
    )


q_similarity_knn_graph.__doc__ = q_similarity_knn_graph.__doc__.format(
    k=_KNN_K
)


# ---------------------------------------------------------------------------
# Round-15 (second sitting): the two missing diagnostics of the embedding
# pipeline — retrieval-quality evaluation (how good is the quantized index)
# and the contrastive-batch audit (how clean are the training batches).
# ---------------------------------------------------------------------------

#: evaluation geometry: vec_id < _EVAL_NQ are the query set, the rest the
#: corpus; metrics are @_EVAL_K. Graded relevance is rank-derived
#: (rel = _EVAL_K + 1 - rank_true for the true top-K, else 0) so the gain
#: (2^rel - 1) is an EXACT integer in both engines; the DCG discount is the
#: natural-log variant (ln(rank+1)) because ln is the one transcendental
#: this engine already trusts cross-engine (the q_agg_entropy /
#: q_text_logprob discipline) — Spark's log2 lowers to log(x)/log(2) while
#: DuckDB's log2 is a distinct libm entry point, an avoidable ulp hazard.
_EVAL_NQ = 20
_EVAL_K = 10

#: oracle-side integer dot over the int8 codes (embeddings are 64-dim;
#: products and the sum are exact integers, order-free)
_DUCK_DOT8 = (
    "CAST(list_aggregate(list_transform(range(1, 65), "
    "i -> {a}[i] * {b}[i]), 'sum') AS BIGINT)"
)

#: per-term nano-quantized DCG gain at system rank `rank` for true rank
#: `rel_rank` (SQL text shared by the DCG and IDCG legs so both engines
#: evaluate the identical expression shape)
_DUCK_GAIN = (
    "CAST(round((CAST((CAST(1 AS BIGINT) << (11 - {rel_rank})) - 1 AS DOUBLE)"
    " / ln(CAST({rank} + 1 AS DOUBLE))) * 1000000000.0, 0) AS BIGINT)"
)


def _gain_expr(rel_rank: str, rank: str):
    """The Spark twin of _DUCK_GAIN over the named rank columns:
    exact-integer numerator (shiftleft), single ln denominator, nano
    quantization — identical in the DCG leg, the IDCG leg, the JVM
    form and the kernel form."""
    return F.round(
        (
            F.expr(
                "CAST(shiftleft(CAST(1 AS BIGINT),"
                f" CAST(11 - {rel_rank} AS INT)) - 1 AS DOUBLE)"
            )
            / F.log((F.col(rank) + F.lit(1)).cast("double"))
        )
        * F.lit(1000000000.0),
        0,
    ).cast("long")


def _seq_acc_sq(m):
    """Ascending-dim sequential Σ mᵢ² from 0.0 — the `norm` fold."""
    acc = np.zeros(m.shape[0], dtype=np.float64)
    for i in range(m.shape[1]):
        acc = acc + m[:, i] * m[:, i]
    return acc


def _int8_codes(m, scale):
    """The q_embed_quantize int8 codes, numpy-side but BIT-IDENTICAL to
    the JVM `round(v/scale, 0)` clamp chain: Spark's Round(double, 0)
    is decimal HALF_UP (away from zero), which the fractional-part
    test below reproduces exactly — `av - floor(av)` is an exact
    float64 subtraction, so the >= 0.5 comparison agrees with the
    decimal expansion for every double (no `floor(x + 0.5)` boundary
    bug, where the addition itself can round across the half)."""
    v = m / scale[:, None]
    av = np.abs(v)
    fl = np.floor(av)
    r = np.where(av - fl >= 0.5, fl + 1.0, fl)
    return np.clip(np.sign(v) * r, -127.0, 127.0).astype(np.int64)


@query(
    "q_search_eval_ndcg",
    oracle=f"""
    -- retrieval-quality eval: int8-reconstructed ranking vs the exact
    -- cosine ground truth, per query: recall-hits@10, rank of the true
    -- top-1, MRR, and NDCG@10 (graded rel = 11 - rank_true, ln discount)
    WITH b AS (
      SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
      FROM embeddings
    ),
    m AS (
      SELECT vec_id, x,
             list_max(list_transform(x, v -> abs(v))) / 127.0 AS scale
      FROM b
    ),
    qq AS (
      SELECT vec_id, x, scale,
             list_transform(x, v -> CAST(greatest(-127.0,
               least(127.0, round(v / scale, 0))) AS BIGINT)) AS q8
      FROM m
    ),
    pair AS (
      SELECT q.vec_id AS qid, c.vec_id AS cid,
             {_duck_cos('q.x', 'c.x')} AS cos,
             (CAST({_DUCK_DOT8.format(a='q.q8', b='c.q8')} AS DOUBLE)
              * q.scale) * c.scale AS recon
      FROM qq q JOIN qq c ON q.vec_id < {_EVAL_NQ} AND c.vec_id >= {_EVAL_NQ}
    ),
    r AS (
      SELECT qid, cid,
             row_number() OVER (
               PARTITION BY qid ORDER BY cos DESC, cid) AS rank_true,
             row_number() OVER (
               PARTITION BY qid ORDER BY recon DESC, cid) AS rank_sys
      FROM pair
    ),
    idcg AS (
      SELECT CAST(SUM({_DUCK_GAIN.format(rel_rank='i', rank='i')})
             AS BIGINT) AS idcg_nano
      FROM (SELECT unnest(generate_series(1, {_EVAL_K})) AS i)
    ),
    met AS (
      SELECT qid,
             CAST(SUM(CASE WHEN rank_true <= {_EVAL_K}
                            AND rank_sys <= {_EVAL_K}
                       THEN 1 ELSE 0 END) AS BIGINT) AS hits10,
             CAST(MAX(CASE WHEN rank_true = 1 THEN rank_sys END)
                  AS BIGINT) AS rank_of_true1,
             CAST(SUM(CASE WHEN rank_true <= {_EVAL_K}
                            AND rank_sys <= {_EVAL_K}
                       THEN {_DUCK_GAIN.format(rel_rank='rank_true',
                                               rank='rank_sys')}
                       ELSE 0 END) AS BIGINT) AS dcg_nano
      FROM r GROUP BY qid
    )
    SELECT qid, hits10, rank_of_true1,
           CAST(round(1000000000.0 / rank_of_true1, 0) AS BIGINT) AS rr_nano,
           dcg_nano,
           round(CAST(dcg_nano AS DOUBLE) / CAST(idcg_nano AS DOUBLE), 6)
             AS ndcg_r6
    FROM met CROSS JOIN idcg
    """,
)
def q_search_eval_ndcg(spark, sf):
    """Retrieval-quality evaluation of the int8 index against the exact
    ranking — the missing closing loop of the ANN/quantization ladder:
    the grid (docs/ANN_GRID_r14.json) reports rank-percentile drift per
    tier, but a retrieval deployment reports recall@k / MRR / NDCG@k,
    so this query computes them, per query, for the symmetric-int8 tier
    (the q_embed_quantize scheme: per-vector max-abs scale, reconstructed
    score = dot8·scale_q·scale_c).

    Per query (vec_id < 20): `hits10` = |top-10_true ∩ top-10_int8|
    (recall@10 numerator), `rank_of_true1` = the int8 rank of the true
    nearest neighbor (MRR numerator as `rr_nano`), and NDCG@10 with
    rank-derived graded relevance (rel = 11 - rank_true, gain 2^rel - 1
    exact-integer, ln-discount — see _EVAL_NQ note) quantized to
    nano-units per term before the sum (the q_agg_entropy float
    discipline), plus the raw `dcg_nano` so the driver hash pins the
    integer path, not just the 6-dp ratio.

    Registered plan: the ZERO-SHUFFLE two-pass Arrow kernel (the
    q_similarity_topk_batch discipline, similarity.py:3165): the query
    block ships as a bounded driver artifact; pass 1 scores every
    Arrow batch against all 20 queries with the ORDER-EXACT
    sequential float64 sums the `dot`/`norm` expressions define and
    emits only each batch's per-query top-10-by-cos ∪ top-10-by-recon
    (≤ n_q·2k rows per batch — nothing corpus-width shuffles). Global
    row_number over that union is exact for every rank ≤ k by the
    standard top-k-merge argument: any item in a global top-10 beats
    all items outside its batch-local top-10, so all its global
    betters are in the union — and an item OUTSIDE a global top-10
    sees all 10 global winners in the union, so its union rank is
    ≥ 11 and the in_k gate cannot false-positive. `rank_of_true1`
    needs the UNBOUNDED int8 rank of one cid per query, which no
    local top-k can carry, so pass 2 re-scans with the 20 collected
    (cid, recon) thresholds broadcast and counts strictly-better
    reconstructions per batch (20 rows out per batch; count + 1 = the
    row_number by construction, ties broken by cid like the window).
    The int8 codes are numpy-side but bit-identical to the JVM chain
    (_int8_codes: decimal-HALF_UP via the exact fractional-part test);
    all metric arithmetic stays in Spark expressions over the tiny
    union, so the driver hash pins the same integer path as the JVM
    form (eval_ndcg_jvm, kept as the A/B equality oracle — the
    measured 4.2× sf10 gap of the window form was the 20-partition
    qid Exchange sorting the full n_q·n_c pair stream).

    Reference parity: none (driver-mandated similarity surface,
    SURVEY §2.3 evaluation family).
    """
    configure(spark)
    e = load(spark, sf, "embeddings")

    qrows = (
        e.filter(F.col("vec_id") < _EVAL_NQ)
        .select("vec_id", "embedding")
        .collect()
    )
    out_schema = (
        "qid long, hits10 long, rank_of_true1 long, rr_nano long, "
        "dcg_nano long, ndcg_r6 double"
    )
    if not qrows:
        return local_frame(spark, [], out_schema)
    qblock = []
    for r in sorted(qrows, key=lambda r: r["vec_id"]):
        qv = np.asarray(r["embedding"], dtype=np.float64)
        sc = float(np.max(np.abs(qv)) / 127.0)
        qblock.append(
            (
                int(r["vec_id"]),
                qv,
                sc,
                _int8_codes(qv[None, :], np.array([sc]))[0],
                float(np.sqrt(_seq_acc_sq(qv[None, :])[0])),
            )
        )
    qid_arr = np.array([q[0] for q in qblock], dtype=np.int64)
    Q = np.stack([q[1] for q in qblock], axis=1)  # dim × n_q
    qsc = np.array([q[2] for q in qblock], dtype=np.float64)
    Q8 = np.stack([q[3] for q in qblock], axis=1)  # dim × n_q int64
    qn = np.array([q[4] for q in qblock], dtype=np.float64)

    corpus = e.filter(F.col("vec_id") >= _EVAL_NQ).select(
        "vec_id", "embedding"
    )

    def _score_block(m, scale, q8c, nc):
        # per element: the same mult-then-add sequence per ascending
        # dim as the `dot` fold; division/products associate exactly
        # as the JVM expressions
        acc = np.zeros((m.shape[0], Q.shape[1]), dtype=np.float64)
        for i in range(m.shape[1]):
            acc = acc + m[:, i : i + 1] * Q[i : i + 1, :]
        cos = acc / (qn[None, :] * nc[:, None])
        d8 = q8c @ Q8  # exact int64 — fold order immaterial
        recon = (d8.astype(np.float64) * qsc[None, :]) * scale[:, None]
        return cos, recon

    def _pass1(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            vids = pdf["vec_id"].to_numpy().astype(np.int64)
            scale = np.max(np.abs(m), axis=1) / 127.0
            cos, recon = _score_block(
                m, scale, _int8_codes(m, scale), np.sqrt(_seq_acc_sq(m))
            )
            out = []
            for j in range(len(qid_arr)):
                keep = np.union1d(
                    np.lexsort((vids, -cos[:, j]))[:_EVAL_K],
                    np.lexsort((vids, -recon[:, j]))[:_EVAL_K],
                )
                out.append(
                    pd.DataFrame(
                        {
                            "qid": np.full(
                                len(keep), qid_arr[j], dtype=np.int64
                            ),
                            "cid": vids[keep],
                            "cos": cos[keep, j],
                            "recon": recon[keep, j],
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    union = corpus.mapInPandas(
        _pass1, "qid long, cid long, cos double, recon double"
    ).persist()
    wt = W.partitionBy("qid").orderBy(F.col("cos").desc(), "cid")
    ws = W.partitionBy("qid").orderBy(F.col("recon").desc(), "cid")
    ranked = union.select(
        "qid",
        "cid",
        "recon",
        F.row_number().over(wt).alias("rank_true"),
        F.row_number().over(ws).alias("rank_sys"),
    )
    t1 = {
        int(r["qid"]): (int(r["cid"]), float(r["recon"]))
        for r in ranked.filter(F.col("rank_true") == 1)
        .select("qid", "cid", "recon")
        .collect()
    }
    if not t1:  # empty corpus: every metric set is empty
        return local_frame(spark, [], out_schema)
    t1_order = [j for j in range(len(qid_arr)) if int(qid_arr[j]) in t1]
    t1_qid = np.array([qid_arr[j] for j in t1_order], dtype=np.int64)
    t1_cid = np.array([t1[int(q)][0] for q in t1_qid], dtype=np.int64)
    t1_rec = np.array([t1[int(q)][1] for q in t1_qid], dtype=np.float64)

    # pass 2 needs ONLY the int8 reconstructions against the t1
    # columns — not the order-exact cosine fold (a dim-length loop of
    # vectorized adds) nor the norms _score_block also computes. The
    # arithmetic below is the _score_block recon chain verbatim
    # (same int64 matmul, same multiply order) restricted to the t1
    # query columns, so the values are bit-identical (r15, guide
    # §1.2 "don't compute things you throw away").
    Q8_t1 = Q8[:, t1_order]
    qsc_t1 = qsc[t1_order]

    def _pass2(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            vids = pdf["vec_id"].to_numpy().astype(np.int64)
            scale = np.max(np.abs(m), axis=1) / 127.0
            d8 = _int8_codes(m, scale) @ Q8_t1  # exact int64
            rec = (d8.astype(np.float64) * qsc_t1[None, :]) * scale[:, None]
            better = (rec > t1_rec[None, :]) | (
                (rec == t1_rec[None, :]) & (vids[:, None] < t1_cid[None, :])
            )
            yield pd.DataFrame(
                {
                    "qid": t1_qid,
                    "n_better": better.sum(axis=0).astype(np.int64),
                }
            )

    rt1 = (
        corpus.mapInPandas(_pass2, "qid long, n_better long")
        .groupBy("qid")
        .agg(
            (F.sum("n_better") + F.lit(1))
            .cast("long")
            .alias("rank_of_true1")
        )
    )
    in_k = (F.col("rank_true") <= _EVAL_K) & (F.col("rank_sys") <= _EVAL_K)
    met = ranked.groupBy("qid").agg(
        F.sum(F.when(in_k, 1).otherwise(0)).cast("long").alias("hits10"),
        F.sum(
            F.when(in_k, _gain_expr("rank_true", "rank_sys")).otherwise(
                F.lit(0).cast("long")
            )
        )
        .cast("long")
        .alias("dcg_nano"),
    )
    rng = spark.range(1, _EVAL_K + 1).select(F.col("id").alias("i"))
    idcg = rng.agg(
        F.sum(_gain_expr("i", "i")).cast("long").alias("idcg_nano")
    )
    return (
        met.join(rt1, "qid")
        .crossJoin(F.broadcast(idcg))
        .select(
            "qid",
            "hits10",
            "rank_of_true1",
            F.round(F.lit(1000000000.0) / F.col("rank_of_true1"), 0)
            .cast("long")
            .alias("rr_nano"),
            "dcg_nano",
            F.round(
                F.col("dcg_nano").cast("double")
                / F.col("idcg_nano").cast("double"),
                6,
            ).alias("ndcg_r6"),
        )
    )


def eval_ndcg_jvm(spark, sf):
    """The one-stage JVM window form of q_search_eval_ndcg — kept as
    the registered kernel's A/B equality oracle (the topk_batch
    three-form discipline): quantize in the scan projection, broadcast
    the query block, score n_q·n_c pairs in one stage, ONE qid shuffle
    for both row_number windows. Row-identical to the kernel by
    construction; measured 4.2× DuckDB at sf10 because the qid
    Exchange has only n_q partitions and sorts the full pair stream
    twice, which is why the kernel is the registered plan."""
    configure(spark)
    e = load(spark, sf, "embeddings")
    base = e.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("x"),
    ).withColumn(
        "scale",
        F.array_max(F.transform("x", lambda v: F.abs(v))) / 127.0,
    ).withColumn(
        "q8",
        F.transform(
            "x",
            lambda v: F.greatest(
                F.lit(-127.0),
                F.least(F.lit(127.0), F.round(v / F.col("scale"), 0)),
            ).cast("long"),
        ),
    )
    qs = base.filter(F.col("vec_id") < _EVAL_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("x").alias("xq"),
        F.col("scale").alias("scale_q"),
        F.col("q8").alias("q8q"),
    )
    cs = base.filter(F.col("vec_id") >= _EVAL_NQ).select(
        F.col("vec_id").alias("cid"),
        F.col("x").alias("xc"),
        F.col("scale").alias("scale_c"),
        F.col("q8").alias("q8c"),
    )
    dot8 = F.aggregate(
        F.zip_with("q8q", "q8c", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    pair = cs.crossJoin(F.broadcast(qs)).select(
        "qid",
        "cid",
        cosine(F.col("xq"), F.col("xc")).alias("cos"),
        ((dot8.cast("double") * F.col("scale_q")) * F.col("scale_c")).alias(
            "recon"
        ),
    )
    wt = W.partitionBy("qid").orderBy(F.col("cos").desc(), "cid")
    ws = W.partitionBy("qid").orderBy(F.col("recon").desc(), "cid")
    ranked = pair.select(
        "qid",
        F.row_number().over(wt).alias("rank_true"),
        F.row_number().over(ws).alias("rank_sys"),
    )
    # per-term nano-quantized gain: exact-integer numerator (shiftleft),
    # single ln in the denominator — the identical expression both legs
    # and both engines evaluate
    gain = F.round(
        (
            F.expr(
                "CAST(shiftleft(CAST(1 AS BIGINT),"
                " CAST(11 - rank_true AS INT)) - 1 AS DOUBLE)"
            )
            / F.log((F.col("rank_sys") + F.lit(1)).cast("double"))
        )
        * F.lit(1000000000.0),
        0,
    ).cast("long")
    in_k = (F.col("rank_true") <= _EVAL_K) & (F.col("rank_sys") <= _EVAL_K)
    met = ranked.groupBy("qid").agg(
        F.sum(F.when(in_k, 1).otherwise(0)).cast("long").alias("hits10"),
        F.max(F.when(F.col("rank_true") == 1, F.col("rank_sys")))
        .cast("long")
        .alias("rank_of_true1"),
        F.sum(F.when(in_k, gain).otherwise(F.lit(0).cast("long")))
        .cast("long")
        .alias("dcg_nano"),
    )
    rng = spark.range(1, _EVAL_K + 1).select(F.col("id").alias("i"))
    igain = F.round(
        (
            F.expr(
                "CAST(shiftleft(CAST(1 AS BIGINT),"
                " CAST(11 - i AS INT)) - 1 AS DOUBLE)"
            )
            / F.log((F.col("i") + F.lit(1)).cast("double"))
        )
        * F.lit(1000000000.0),
        0,
    ).cast("long")
    idcg = rng.agg(F.sum(igain).cast("long").alias("idcg_nano"))
    return met.crossJoin(F.broadcast(idcg)).select(
        "qid",
        "hits10",
        "rank_of_true1",
        F.round(F.lit(1000000000.0) / F.col("rank_of_true1"), 0)
        .cast("long")
        .alias("rr_nano"),
        "dcg_nano",
        F.round(
            F.col("dcg_nano").cast("double") / F.col("idcg_nano").cast("double"),
            6,
        ).alias("ndcg_r6"),
    )


#: contrastive-batch audit geometry: fixed batch size (the training
#: batch), batch count derived from the corpus count the same way on both
#: engines, assignment by the portable 60-bit md5 of vec_id (the
#: q_mix_temperature / token-index discipline) so both engines place every
#: vector in the identical batch.
_BATCH_SIZE = 64
_COLLISION_TAU = 0.9


@query(
    "q_embed_inbatch_collisions",
    oracle=f"""
    -- in-batch false-negative audit: hash vectors into training batches
    -- of ~{_BATCH_SIZE}, count within-batch pairs whose exact cosine
    -- clears the collision threshold {_COLLISION_TAU}
    WITH n AS (
      SELECT CAST(ceil(COUNT(*) / {_BATCH_SIZE}.0) AS BIGINT) AS nb
      FROM embeddings
    ),
    b AS (
      SELECT vec_id, embedding,
             CAST(concat('0x', substring(md5(CAST(vec_id AS VARCHAR)),
               1, 15)) AS BIGINT) % (SELECT nb FROM n) AS batch
      FROM embeddings
    ),
    pr AS (
      SELECT a.batch AS batch,
             {_duck_cos('a.embedding', 'b2.embedding')} AS cos
      FROM b a JOIN b b2
        ON a.batch = b2.batch AND a.vec_id < b2.vec_id
    ),
    rows_per AS (SELECT batch, COUNT(*) AS n_rows FROM b GROUP BY batch),
    agg AS (
      SELECT batch, COUNT(*) AS n_pairs,
             SUM(CASE WHEN cos >= {_COLLISION_TAU} THEN 1 ELSE 0 END)
               AS n_collisions,
             MAX(cos) AS mx,
             SUM(CAST(round(cos * 1000000000.0, 0) AS BIGINT))
               AS sum_cos_nano
      FROM pr GROUP BY batch
    )
    SELECT r.batch AS batch,
           CAST(r.n_rows AS BIGINT) AS n_rows,
           CAST(COALESCE(a.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(a.n_collisions, 0) AS BIGINT) AS n_collisions,
           round(a.mx, 6) AS max_cos_r6,
           CAST(COALESCE(a.sum_cos_nano, 0) AS BIGINT) AS sum_cos_nano
    FROM rows_per r LEFT JOIN agg a ON r.batch = a.batch
    """,
)
def q_embed_inbatch_collisions(spark, sf):
    """Contrastive-training batch audit: rate of in-batch FALSE NEGATIVES
    — pairs that land in the same training batch (so one would be the
    other's "negative" under in-batch sampling) while being near-
    duplicates by exact cosine. The standard data-quality check run
    before contrastive embedding training: a corpus with unremoved
    near-dups poisons the InfoNCE loss at exactly the rate this query
    measures.

    Batch assignment is the training sharder's hash (portable 60-bit
    md5 of vec_id mod ceil(n/{B}) — the q_mix_temperature discipline,
    so the oracle places every vector identically); per batch it
    reports row count, pairs checked, collisions at cosine ≥ {tau},
    the max cosine seen (round-6), and the order-free nano-quantized
    cosine sum pinning the full pair stream, not just the extremes.

    Plan shape: ONE shuffle on the batch key, then a self-join whose
    groups are ≤ ~{B} rows BY CONSTRUCTION — pair volume is
    n·({B}-1)/2, linear in the corpus, never all-pairs; norms are
    hoisted into the scan projection (one dot per pair, bit-identical
    to the per-pair recompute — the q_dedup_embedding discipline). No
    skew is possible: md5 spreads uniformly and the group bound is the
    batch size. At 100 TB this runs as one linear pass per training
    epoch plan; the collision threshold and batch size are the
    training recipe's own hyperparameters.

    Reference parity: none (driver-mandated similarity surface,
    SURVEY §2.3 evaluation family).
    """
    import math  # noqa: PLC0415

    configure(spark)
    e = load(spark, sf, "embeddings")
    nb = max(1, math.ceil(table_rows(sf, "embeddings") / float(_BATCH_SIZE)))
    b = e.select(
        "vec_id",
        "embedding",
        (
            F.conv(
                F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15),
                16,
                10,
            ).cast("long")
            % F.lit(nb)
        ).alias("batch"),
        norm(F.col("embedding")).alias("nrm"),
    )
    a = b.select(
        "batch",
        F.col("vec_id").alias("va"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    c = b.select(
        "batch",
        F.col("vec_id").alias("vb"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    pr = (
        a.join(c, "batch")
        .filter(F.col("va") < F.col("vb"))
        .select(
            "batch",
            (dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")))
            .alias("cos"),
        )
    )
    agg = pr.groupBy("batch").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("cos") >= _COLLISION_TAU, 1).otherwise(0))
        .cast("long")
        .alias("n_collisions"),
        F.max("cos").alias("mx"),
        F.sum(F.round(F.col("cos") * F.lit(1000000000.0), 0).cast("long"))
        .cast("long")
        .alias("sum_cos_nano"),
    )
    rows_per = b.groupBy("batch").agg(F.count(F.lit(1)).alias("n_rows"))
    return rows_per.join(agg, "batch", "left").select(
        "batch",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
        F.coalesce("n_collisions", F.lit(0)).cast("long").alias(
            "n_collisions"
        ),
        F.round("mx", 6).alias("max_cos_r6"),
        F.coalesce("sum_cos_nano", F.lit(0)).cast("long").alias(
            "sum_cos_nano"
        ),
    )


q_embed_inbatch_collisions.__doc__ = q_embed_inbatch_collisions.__doc__.format(
    B=_BATCH_SIZE, tau=_COLLISION_TAU
)


#: SemDeDup drop threshold: a vector is a semantic duplicate when an
#: in-cell kNN neighbor with a LOWER id sits at cosine >= tau. Driver
#: embeddings contain no >= 0.99 pairs (honest zero-drop accounting —
#: same posture as q_dedup_embedding); the drop machinery is pinned on
#: planted fixtures in tests/test_new_ops.py.
_SEMDEDUP_TAU = 0.99


@query(
    "q_dedup_semdedup",
    oracle=f"""
    -- SemDeDup over the cell-scoped kNN graph: drop a vector when any
    -- of its top-{_KNN_K} in-cell neighbors has cosine >= {_SEMDEDUP_TAU}
    -- and a lower id (keep-lowest-id); per-cell accounting plus the
    -- nearest-neighbor density profile
    WITH p AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             {{cos}} AS cos
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id <> b.vec_id
    ),
    r AS (
      SELECT vec_id, neighbor_id, cos,
             row_number() OVER (
               PARTITION BY vec_id ORDER BY cos DESC, neighbor_id
             ) AS rank
      FROM p
    ),
    per_vec AS (
      SELECT vec_id,
             MAX(CASE WHEN cos >= {_SEMDEDUP_TAU}
                       AND neighbor_id < vec_id THEN 1 ELSE 0 END)
               AS dropped,
             MAX(CASE WHEN rank = 1 THEN cos END) AS nn_cos
      FROM r WHERE rank <= {_KNN_K}
      GROUP BY vec_id
    )
    SELECT e.label AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(COALESCE(v.dropped, 0)) AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN COALESCE(v.dropped, 0) = 1
                     THEN e.vec_id ELSE 0 END) AS BIGINT) AS dropped_id_sum,
           round(MAX(v.nn_cos), 6) AS max_nn_cos_r6,
           CAST(SUM(COALESCE(CAST(round(v.nn_cos * 1000000000.0, 0)
             AS BIGINT), 0)) AS BIGINT) AS nn_cos_nano_sum
    FROM embeddings e LEFT JOIN per_vec v ON e.vec_id = v.vec_id
    GROUP BY e.label
    """.format(cos=_duck_cos("a.embedding", "b.embedding")),
)
def q_dedup_semdedup(spark, sf):
    """SemDeDup (Abbas et al. 2023 geometry) riding the at-rest kNN
    graph — the second consumer the r14-item-8 artifact was built for:
    within each cell, a vector is a semantic duplicate when any of its
    top-{k} neighbors clears cosine {tau} with a LOWER id
    (keep-lowest-id, the q_dedup_embedding rule), and the query reports
    per-cell drop accounting plus the nearest-neighbor DENSITY profile
    (max and order-free nano-summed top-1 cosine) — the curve a
    curation run reads to pick tau before committing to a drop rate.

    Plan shape: when the `knn_graph` artifact has primed the sidecar,
    this reads ~{k} rows/vec from parquet — the in-cell pairwise pass
    is already paid, so the whole query is two small aggregates (per
    vec, then per cell) plus one join back to (vec_id, label); fresh
    sessions derive the graph in-plan (cost profile of
    `q_similarity_knn_graph`, cells keep per-cell pair volume bounded).
    Driver embeddings hold no >= {tau} pairs, so n_dropped is honestly
    zero there; the drop rule and keep-lowest-id orientation are pinned
    on planted near-identical fixtures in tests.

    Reference parity: none (driver-mandated dedup family, SURVEY §2.3).
    """
    configure(spark)
    e = load(spark, sf, "embeddings")
    art = artifacts.get(spark, sf, "knn_graph")
    rel = art if art is not None else _knn_graph_rel(spark, sf)
    per_vec = rel.groupBy("vec_id").agg(
        F.max(
            F.when(
                (F.col("cos") >= _SEMDEDUP_TAU)
                & (F.col("neighbor_id") < F.col("vec_id")),
                1,
            ).otherwise(0)
        ).alias("dropped"),
        F.max(F.when(F.col("rank") == 1, F.col("cos"))).alias("nn_cos"),
    )
    return (
        e.select("vec_id", "label")
        .join(per_vec, "vec_id", "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.coalesce("dropped", F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
            F.sum(
                F.when(F.coalesce("dropped", F.lit(0)) == 1, F.col("vec_id"))
                .otherwise(0)
            )
            .cast("long")
            .alias("dropped_id_sum"),
            F.round(F.max("nn_cos"), 6).alias("max_nn_cos_r6"),
            F.sum(
                F.coalesce(
                    F.round(F.col("nn_cos") * F.lit(1000000000.0), 0).cast(
                        "long"
                    ),
                    F.lit(0).cast("long"),
                )
            )
            .cast("long")
            .alias("nn_cos_nano_sum"),
        )
    )


q_dedup_semdedup.__doc__ = q_dedup_semdedup.__doc__.format(
    k=_KNN_K, tau=_SEMDEDUP_TAU
)


@query(
    "q_embed_separation",
    oracle=f"""
    -- embedding-space separation per cell: within-cell cohesion
    -- (cosine to own centroid) vs the nearest OTHER centroid — the
    -- cluster-quality curve read before trusting cell-scoped ops
    -- (IVF probes, SemDeDup cells) on a given labeling
    WITH comp AS (
      SELECT label, u.pos AS pos,
             CAST(floor(CAST(u.val AS DOUBLE) * 1000000.0 + 0.5)
                  AS BIGINT) AS units
      FROM embeddings,
           LATERAL (
             SELECT UNNEST(embedding) AS val,
                    generate_subscripts(embedding, 1) AS pos
           ) u
    ),
    agg AS (
      SELECT label, pos,
             (CAST(SUM(units) AS DOUBLE) / 1000000.0) / COUNT(*) AS c
      FROM comp GROUP BY label, pos
    ),
    cent AS (
      SELECT label, array_agg(c ORDER BY pos) AS cv
      FROM agg GROUP BY label
    ),
    w AS (
      SELECT e.label AS label,
             {{cos_ec}} AS cs
      FROM embeddings e JOIN cent c ON e.label = c.label
    ),
    ws AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
             CAST(SUM(CAST(round(cs * 1000000000.0, 0) AS BIGINT))
                  AS BIGINT) AS within_nano_sum,
             round(MAX(cs), 6) AS within_max_r6
      FROM w GROUP BY label
    ),
    bt AS (
      SELECT a.label AS label, b.label AS nn_label,
             {{cos_ab}} AS cc,
             row_number() OVER (PARTITION BY a.label
               ORDER BY {{cos_ab}} DESC, b.label) AS rnk
      FROM cent a JOIN cent b ON a.label <> b.label
    )
    SELECT label, n_vecs, nn_label, round(cc, 6) AS nn_cos_r6,
           within_nano_sum, within_max_r6
    FROM ws JOIN bt USING (label)
    WHERE rnk = 1
    """.format(
        cos_ec=_duck_cos("e.embedding", "c.cv"),
        cos_ab=_duck_cos("a.cv", "b.cv"),
    ),
)
def q_embed_separation(spark, sf):
    """Embedding-space separation diagnostics per cell — the
    cluster-quality profile (within-cell cohesion vs nearest-other-
    centroid similarity, a silhouette-style contrast at aggregate
    cost) that decides whether a labeling is tight enough to scope
    cell-local operators: q_similarity_ivf probes, q_dedup_semantic /
    q_dedup_semdedup cells, and the kNN-graph sidecar all assume
    within-cell neighbors dominate — this query measures by how much.

    Per cell: n_vecs, the nearest OTHER centroid (by centroid-pair
    cosine, lowest-label tiebreak), and the within-cell cohesion
    profile (order-free nano-quantized sum + round-6 max of each
    vector's cosine to its own centroid).

    Float discipline: centroids use the exact integer-unit quantizer
    (the q_embed_centroids 1e-6 discipline — component sums are exact
    longs, so the derived double centroid is bit-identical
    cross-engine and partition-order independent); every downstream
    cosine is the sequential `dot` fold against that deterministic
    array; per-row cosines nano-quantize BEFORE the order-free sum.

    Plan: one posexplode aggregate builds centroids (#labels × dim
    scalar cells, map-side combined), centroids broadcast back for a
    single linear cohesion scan, and the #labels² centroid-pair block
    is driver-trivial. No corpus-width shuffle at any scale.

    Reference parity: none (driver-mandated similarity surface,
    SURVEY §2.3 embedding-diagnostics family).
    """
    configure(spark)
    e = load(spark, sf, "embeddings")
    comp = e.select(
        "label", F.posexplode("embedding").alias("pos0", "val")
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("val").cast("double") * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("units"),
    )
    agg = comp.groupBy("label", "pos").agg(
        ((F.sum("units").cast("double") / F.lit(1e6)) / F.count("*")).alias(
            "c"
        )
    )
    cent = agg.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: s["c"],
        ).alias("cv")
    )
    w = e.join(F.broadcast(cent), "label").select(
        "label", cosine(F.col("embedding"), F.col("cv")).alias("cs")
    )
    ws = w.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum(F.round(F.col("cs") * F.lit(1000000000.0), 0).cast("long"))
        .cast("long")
        .alias("within_nano_sum"),
        F.round(F.max("cs"), 6).alias("within_max_r6"),
    )
    b = cent.select(
        F.col("label").alias("nn_label"), F.col("cv").alias("cv2")
    )
    bt = (
        cent.crossJoin(F.broadcast(b))
        .filter(F.col("label") != F.col("nn_label"))
        .select(
            "label",
            "nn_label",
            cosine(F.col("cv"), F.col("cv2")).alias("cc"),
        )
    )
    nn = bt.withColumn(
        "rnk",
        F.row_number().over(
            W.partitionBy("label").orderBy(F.col("cc").desc(), "nn_label")
        ),
    ).filter(F.col("rnk") == 1)
    return ws.join(nn, "label").select(
        "label",
        "n_vecs",
        "nn_label",
        F.round("cc", 6).alias("nn_cos_r6"),
        "within_nano_sum",
        "within_max_r6",
    )
