"""Deduplication operators for the LLM-data-pipeline layer (SURVEY §2.3).

Four dedup families over `documents`, each in its scale-correct shape:

- exact dedup      — hash-groupBy with map-side combine (never a window
                     over the full corpus when only keepers are needed)
- keep-first by key— row_number window (the deterministic form of
                     dropDuplicates, whose keeper choice is partition-
                     order dependent and therefore unstable on a cluster)
- n-gram Jaccard   — blocked self-join (blocking key caps the pair
                     space; the unblocked all-pairs form is O(n²) and
                     banned at 100 TB)
- MinHash + LSH    — shingle → 64 minhashes → 16 banded signatures →
                     bucket join → exact-Jaccard verify. The bucket join
                     IS the scale story: candidate pairs only ever form
                     inside equal-signature buckets.
- SimHash          — 64-bit signature via per-bit majority of token
                     hashes; near-dups collide on signature prefixes.

Token/shingle hashing is the PORTABLE md5-derived 60-bit hash (since
r6 — it made every signature pipeline here oracle-expressible); the
dense signature kernels (64 minhash mixes + band combines, 63-bit
simhash majority) are Arrow-batched pandas UDFs with arithmetic
bit-identical to the expression form they replaced — flat HOFs are
CodegenFallback (interpreted) in Spark 4.1.2, and the kernels measured
3-6× faster (see SCALING.md). No row-at-a-time Python anywhere.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from pandas_reporter_spark import artifacts
from pandas_reporter_spark.registry import query
from pandas_reporter_spark.session import configure, work_partitions
from pandas_reporter_spark.tables import load, table_rows


def tokens_col(col: str = "text"):
    """Distinct lowercase whitespace tokens (set semantics for Jaccard)."""
    return F.array_distinct(F.split(F.lower(F.col(col)), " "))


#: coefficients for the arithmetic 3-gram combine (odd ⇒ invertible mod 2⁶⁴)
_SH_C = (1000003, 998244353, 911382323)


def portable_token_hash(s):
    """60-bit token hash both engines can compute bit-identically:
    the first 15 hex digits of md5 as a BIGINT. Replaced xxhash64 in
    r6 so the ENTIRE minhash pipeline — shingles, 64 mixes, band
    signatures, candidate buckets — became oracle-expressible (DuckDB
    twin: CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT));
    cost is ~md5-per-token at scan speed, and hash quality at 60 bits
    is unchanged for dedup purposes (collisions ~|tokens|²/2⁶⁰)."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


#: DuckDB twin of portable_token_hash (format with the token expr)
_DUCK_TOKHASH = "CAST(concat('0x', substring(md5({t}), 1, 15)) AS BIGINT)"

#: DuckDB signed-64 wraparound over HUGEINT arithmetic — bit-equal to
#: numpy/Java long overflow (prototype-verified against the kernel)
def _duck_wrap64(inner: str) -> str:
    m = "18446744073709551616::HUGEINT"
    h = "9223372036854775808::HUGEINT"
    return (
        f"CAST((((({inner}) % {m} + {m} + {h}) % {m}) - {h}) AS BIGINT)"
    )


def with_hashed_shingles(df, col: str = "text", k: int = 3, out: str = "hs"):
    """Adds distinct k-token shingles as 64-bit hashes — never strings.

    Each token is hashed ONCE into a named column; the shingle hash
    is the arithmetic combine Σ cⱼ·h(tokᵢ₊ⱼ) over ATTRIBUTE references
    (wrapping long math). Two rules, both measured:
    - shingle strings cost ~20× the arithmetic combine (3.77s vs 0.19s
      at sf0.1), and every consumer only ever hashes them anyway;
    - the token-hash array must be a materialized column, NOT an
      expression embedded in the combine lambda — composing one
      lambda-bearing expression inside another lambda drops the whole
      tree to interpreted eval (4.8s vs 0.2s for this exact helper).
    Collisions (~|shingles|²/2⁶⁴) are negligible for dedup purposes.
    """
    assert k == len(_SH_C)
    th = F.transform(
        F.split(F.lower(F.col(col)), " "), lambda s: portable_token_hash(s)
    )
    step1 = df.withColumn("_th", th)
    thc = F.col("_th")
    n = F.size(thc)
    idx = F.sequence(F.lit(1), n - (k - 1))
    make = F.transform(
        idx,
        lambda i: sum(
            [F.element_at(thc, i + j) * _SH_C[j] for j in range(1, k)],
            F.element_at(thc, i) * _SH_C[0],
        ),
    )
    hs = F.when(n >= k, F.array_distinct(make)).otherwise(
        F.array().cast("array<bigint>")
    )
    return step1.withColumn(out, hs).drop("_th")


@query(
    "q_dedup_exact",
    oracle="""
    SELECT doc_id, lang, source, n_chars FROM (
      SELECT MIN(doc_id) AS doc_id,
             MIN_BY(lang, doc_id) AS lang,
             MIN_BY(source, doc_id) AS source,
             MIN_BY(n_chars, doc_id) AS n_chars
      FROM documents GROUP BY text
    )
    """,
)
def q_dedup_exact(spark, sf):
    """Exact dedup by full text, keep lowest doc_id.

    groupBy(text) + ONE min(struct), NOT a row_number window:
    aggregation gets map-side partial combine (each task pre-dedups
    its partition before the shuffle), so shuffled bytes ≈ distinct
    texts, not total rows. At 100 TB with heavy duplication that is
    the difference between shuffling the corpus and shuffling the
    dictionary.

    Plan note (r12, measured): the string min_by riders have
    var-length buffers, so Catalyst demotes this aggregate to a
    SortAggregate (per-partition sort by the text group key before
    the map-side combine). The demotion was A/B'd against a
    fixed-width form (riders packed to BIGINTs via tables.pack_ascii)
    and the SORT FORM WON — 1.3 vs 2.3 s at sf10 for the curate
    pipeline built on this shape: the per-row encode/hex/conv tax
    exceeds a per-partition sort whose runs are mostly-duplicate
    keys. Partial aggregation still happens either way; SortAggregate
    is a nuance here, not a scale-killer. Whitelisted in the
    registry-wide plan lint (tests/test_scale.py)."""
    configure(spark)
    d = load(spark, sf, "documents")
    return (
        d.groupBy("text")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("lang", "doc_id").alias("lang"),
            F.min_by("source", "doc_id").alias("source"),
            F.min_by("n_chars", "doc_id").alias("n_chars"),
        )
        .select("doc_id", "lang", "source", "n_chars")
    )


@query(
    "q_dedup_keep_first",
    oracle="""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def q_dedup_keep_first(spark, sf):
    """Keep-first per (lang, source): the deterministic dropDuplicates.

    dropDuplicates([...]) keeps an arbitrary (partition-order dependent)
    row — unstable across cluster runs; the row_number form pins the
    keeper by explicit order (reference keep-first semantics).
    """
    configure(spark)
    d = load(spark, sf, "documents")
    w = W.partitionBy("lang", "source").orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source")
    )


@query(
    "q_dedup_ngram_jaccard",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             list_distinct(string_split(lower(text), ' ')) AS toks
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 6)
             AS jaccard
    FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
          / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.9
    """,
)
def q_dedup_ngram_jaccard(spark, sf):
    """Near-dup pairs by token-set Jaccard ≥ 0.9, blocked by lang.

    The self-join runs INSIDE a blocking key (lang), never all-pairs:
    pair space is Σ n_block² instead of n². At 100 TB the blocking key
    would be an LSH band (see q_dedup_minhash) — same plan shape, and a
    skewed block is handled by AQE skew-join or salting the block key.

    Size-ratio prefilter (round 10): J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|)
    always (|A∩B| ≤ min, |A∪B| ≥ max), so J ≥ 0.9 REQUIRES
    10·min ≥ 9·max over the distinct-token counts. The two integer
    compares sit in the join condition ahead of the array_intersect,
    so the O(|A|+|B|) set intersection only runs for size-compatible
    pairs — an implication of the declared threshold, not a semantic
    change, which is why the oracle is untouched (result
    hash-identical; measured 49 s → 3.4 s warm at sf0.1 where most
    of the 6 M in-block pairs fail the ratio test). The intersect itself is
    computed ONCE and reused for the union via the
    inclusion-exclusion identity.
    """
    configure(spark)
    d = load(spark, sf, "documents").select(
        "doc_id", "lang", tokens_col().alias("toks")
    )
    a = d.select(
        F.col("doc_id").alias("doc_a"), "lang", F.col("toks").alias("toks_a")
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("toks").alias("toks_b"),
    )
    na, nb = F.size("toks_a"), F.size("toks_b")
    return (
        a.join(
            b,
            (a.lang == b.lang_b)
            & (a.doc_a < b.doc_b)
            & (na * 10 >= nb * 9)
            & (nb * 10 >= na * 9),
        )
        .withColumn(
            "_i", F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
        )
        .withColumn("jaccard", F.col("_i") / (na + nb - F.col("_i")))
        .filter(F.col("jaccard") >= 0.9)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


#: MinHash geometry: 64 hash functions in 16 bands of 4 rows.
#: P(candidate | J) = 1 - (1 - J^4)^16 — ~0.97 at J=0.8, ~0.07 at J=0.3.
_N_HASH, _N_BANDS, _BAND_ROWS = 64, 16, 4

#: band-combine coefficients (odd ⇒ invertible mod 2⁶⁴); arithmetic —
#: not xxhash64 — since r6 so the oracle can replay band signatures
_BC = np.array(
    [1469598103934665603, 1099511628211, 16777619, 1000003],
    dtype=np.int64,
)




def _minhash_bands_sql() -> str:
    """WITH-clause prefix: tokens → shingle hashes → 64 mixes → band
    signatures (ends at the `bands` CTE). Shared by the pair-candidate
    twin (_minhash_cand_sql), the incremental batch-vs-corpus twin,
    and the bloom sketch's shingle replay."""
    t = _DUCK_TOKHASH
    sh_sum = " + ".join(
        f"CAST({t.format(t=f'toks[i + {j}]')} AS HUGEINT) * {_SH_C[j]}"
        for j in range(3)
    )
    mix = _duck_wrap64(
        "CAST(h AS HUGEINT) * (2 * i + 1) + (i * 2654435761 + 1)"
    )
    band_exprs = ", ".join(
        "("
        + _duck_wrap64(
            " + ".join(
                f"CAST(mh[{4 * b + j + 1}] AS HUGEINT) * {int(_BC[j])}"
                for j in range(_BAND_ROWS)
            )
        )
        + f") AS s{b}"
        for b in range(_N_BANDS)
    )
    sig_list = ", ".join(f"s{b}" for b in range(_N_BANDS))
    return f"""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 1),
               i -> {_duck_wrap64(sh_sum)})) AS hs
      FROM t WHERE len(toks) >= 3
    ),
    mh AS (
      SELECT doc_id, hs,
             list_transform(range(0, {_N_HASH}),
               i -> list_min(list_transform(hs, h -> {mix}))) AS mh
      FROM sh WHERE len(hs) > 0
    ),
    bands_w AS (SELECT doc_id, hs, {band_exprs} FROM mh),
    bands AS (
      SELECT doc_id, hs, u.band, [{sig_list}][u.band + 1] AS sig
      FROM bands_w, unnest(range(0, {_N_BANDS})) AS u(band)
    )"""


def _minhash_cand_sql(bucket_cap: int | None = None) -> str:
    """_minhash_bands_sql plus the distinct candidate-pair CTE
    (callers append their own verify/select). With `bucket_cap`,
    buckets holding more than cap docs are dropped before pairing —
    the SQL twin of the production hot-bucket guard."""
    cap_join = ""
    if bucket_cap is not None:
        cap_join = (
            "\n        JOIN (SELECT band, sig, count(*) AS n FROM bands"
            "\n              GROUP BY band, sig) z"
            "\n          ON z.band = a.band AND z.sig = a.sig"
            f" AND z.n <= {bucket_cap}"
        )
    return f"""{_minhash_bands_sql()},
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id{cap_join}
    )"""


def _minhash_oracle() -> str:
    """Full SQL twin of the MinHash-LSH pipeline (promoted from
    rows-only in r6): md5-derived token hashes, wraparound shingle
    combines, the 64 affine mixes, arithmetic band signatures, bucket
    self-join, exact-Jaccard verify — every stage the identical
    integer arithmetic (HUGEINT-mod = int64 wraparound)."""
    return f"""
    {_minhash_cand_sql()},
    j AS (
      SELECT c.doc_a, c.doc_b,
             CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
               / (len(sa.hs) + len(sb.hs)
                  - len(list_intersect(sa.hs, sb.hs))) AS jac
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, round(jac, 6) AS jaccard
    FROM j WHERE jac >= 0.8
    """


@query("q_dedup_minhash", oracle=_minhash_oracle())
def q_dedup_minhash(spark, sf):
    """MinHash-LSH near-dup detection — the 100 TB dedup path
    (public algorithm: Broder 1997 resemblance sketches; banded LSH
    per Leskovec/Rajaraman/Ullman, Mining of Massive Datasets ch. 3).

    Pipeline (all JVM expressions):
    1. hashed 3-token shingles (tokens md5-hashed once — the
       portable_token_hash — then an arithmetic combine; shingle
       strings never materialize, 20× measured); the 64 minhash
       functions are arithmetic mixes h·odd₁ + odd₂ (universal
       hashing), not re-hashes.
    2. 16 band signatures = wrapping combines of each 4-minhash slice
       → explode to (doc_id, band, sig) — 16 SMALL rows per doc; the
       shingle payload never enters the explode or the shuffle.
       Since r6 the ENTIRE pipeline is hash-checked against a DuckDB
       twin (_minhash_oracle) — candidates, not just verified pairs.
    3. Candidates via bucket-explode: groupBy (band, sig), collect doc
       ids, pair within buckets — ONE pass over the signature pipeline
       and one shuffle (a self-join would recompute the pipeline per
       side).
    4. Join candidates back to the shingle-hash table (payload moves
       only for the candidate set) → exact Jaccard ≥ 0.8 on shingle
       hashes.

    Scale: shuffle volume is 16 tiny rows/doc for bucketing plus
    shingle sets for candidates only. A hot bucket (boilerplate) is a
    salting candidate; AQE skew-join covers it.
    """
    configure(spark)
    return minhash_pairs(load(spark, sf, "documents"), spark=spark, sf=sf)


#: Production hot-bucket cap (max docs per LSH bucket before the
#: bucket is dropped as boilerplate). 3 is deliberately LOW so the
#: guard genuinely fires at the sf0.01 correctness gate (bucket-size
#: histogram there: 335×2, 17×3, 1×4 — the size-4 bucket must be
#: droppable or the registered row verifies a no-op). A deployment
#: tunes this to its boilerplate profile (hundreds–thousands); the
#: pair-cost bound is cap²/2 per bucket either way.
_HOT_BUCKET_CAP = 3


@query("q_dedup_minhash_capped", oracle="""
    {cand}
    SELECT doc_a, doc_b FROM cand
    """.format(cand=_minhash_cand_sql(bucket_cap=_HOT_BUCKET_CAP)))
def q_dedup_minhash_capped(spark, sf):
    """MinHash-LSH candidate generation under the hot-bucket cap — the
    production skew guard as a verified operator, not prose.

    Identical signature pipeline to q_dedup_minhash, but LSH buckets
    holding more than _HOT_BUCKET_CAP docs are dropped BEFORE pair
    explosion (see minhash_pairs). At corpus scale the bucket-size
    distribution is heavy-tailed — boilerplate/empty/template text
    collapse to a handful of signatures whose buckets each emit n²/2
    pairs; the cap bounds every bucket's work, making worst-case
    candidate volume linear in corpus size (Σ min(n_b, cap)²/2 ≤
    cap²/2 · #buckets). The emitted result is the CANDIDATE set
    (pre-verify), so the oracle — which replays the cap as a
    bucket-count join — checks exactly the rows the guard
    admits/drops; the Jaccard verify stage is unchanged and already
    gated by q_dedup_minhash. Recall under the cap is pinned on
    planted dups in tests/test_dedup.py.
    """
    configure(spark)
    docs = load(spark, sf, "documents")
    return minhash_candidates(
        docs, spark=spark, sf=sf, bucket_cap=_HOT_BUCKET_CAP
    )


@query("q_dedup_minhash_incremental", oracle=f"""
    {_minhash_bands_sql()},
    cand AS (
      SELECT DISTINCT a.doc_id AS batch_doc, b.doc_id AS corpus_doc
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig
      WHERE a.doc_id % 7 = 0 AND b.doc_id % 7 <> 0
    ),
    j AS (
      SELECT c.batch_doc, c.corpus_doc,
             CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
               / (len(sa.hs) + len(sb.hs)
                  - len(list_intersect(sa.hs, sb.hs))) AS jac
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.batch_doc
      JOIN sh sb ON sb.doc_id = c.corpus_doc
    )
    SELECT batch_doc, corpus_doc, round(jac, 6) AS jaccard
    FROM j WHERE jac >= 0.8
    """)
def q_dedup_minhash_incremental(spark, sf):
    """Incremental NEAR-dup dedup: an arriving batch (docs with
    doc_id % 7 == 0 stand in for the new ingest) probed against the
    standing corpus's LSH band index — the streaming-ingest
    complement of q_dedup_minhash (which is the full-corpus batch
    pass) and the near-dup upgrade of q_dedup_incremental (which is
    exact content-hash only).

    Plan: batch band signatures equi-join the CORPUS band index on
    (band, sig) — never batch×batch, never corpus×corpus — so
    per-ingest cost is |batch| signatures against a checkpointed
    index (here the session's band artifact; at 100 TB a
    bucket-partitioned table the batch join prunes into). The batch
    side is ingest-sized by construction and broadcasts; Jaccard
    verify fetches shingle payloads for candidate pairs only. The
    oracle replays the identical two-sided candidate join and verify.
    """
    configure(spark)
    docs = load(spark, sf, "documents")
    art = artifacts.get(spark, sf, "minhash")
    if art is not None:
        d, bands = art
    else:
        from pyspark import StorageLevel

        d = with_hashed_shingles(docs).select("doc_id", "hs")
        d = d.persist(StorageLevel.MEMORY_AND_DISK)
        bands = _band_signatures(d)
    live = bands.filter(F.col("sig").isNotNull())
    bb = live.filter(F.col("doc_id") % 7 == 0).select(
        F.col("doc_id").alias("batch_doc"), "band", "sig"
    )
    cb = live.filter(F.col("doc_id") % 7 != 0).select(
        F.col("doc_id").alias("corpus_doc"), "band", "sig"
    )
    cand = (
        cb.join(F.broadcast(bb), ["band", "sig"])
        .select("batch_doc", "corpus_doc")
        .dropDuplicates(["batch_doc", "corpus_doc"])
    )
    sha = d.select(F.col("doc_id").alias("batch_doc"), F.col("hs").alias("sh_a"))
    shb = d.select(F.col("doc_id").alias("corpus_doc"), F.col("hs").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    return (
        cand.join(sha, "batch_doc")
        .join(shb, "corpus_doc")
        .withColumn("_isz", inter)
        .withColumn(
            "jaccard",
            F.col("_isz")
            / (F.size("sh_a") + F.size("sh_b") - F.col("_isz")),
        )
        .filter(F.col("jaccard") >= 0.8)
        .select(
            "batch_doc", "corpus_doc", F.round("jaccard", 6).alias("jaccard")
        )
    )


def _build_minhash(spark, sf, path):
    """The minhash pipeline's two reusable relations, (doc_id, hs)
    hashed shingles under `hs` and (doc_id, band, sig) band signatures
    under `bands` (derived from the written shingles). The timed query
    then reads plain parquet instead of re-tokenizing AND paying an
    in-query cache materialization per run. Values are int64-lossless
    through parquet, so candidate sets and Jaccard verifies are
    bit-identical (pinned by the recall tests either way)."""
    hs_p, bd_p = os.path.join(path, "hs"), os.path.join(path, "bands")
    with_hashed_shingles(load(spark, sf, "documents")).select(
        "doc_id", "hs"
    ).repartition(work_partitions(spark, 16)).write.mode("overwrite").parquet(hs_p)
    _band_signatures(spark.read.parquet(hs_p)).repartition(
        work_partitions(spark, 16)
    ).write.mode("overwrite").parquet(bd_p)


artifacts.declare(
    "minhash", "documents", "mh2", _build_minhash, artifacts.parts("hs", "bands")
)


def _band_signatures(d):
    """(doc_id, band, sig) from a (doc_id, hs) frame — ONE Arrow
    kernel computes the 64 minhash mixes AND the 16 band signatures
    sig_b = wrap64(Σⱼ mh[4b+j]·BCⱼ) (see minhash_pairs for the kernel
    history; numpy int64 wraparound is bit-equal to the oracle's
    HUGEINT-mod arithmetic, prototype-verified)."""
    a_mul = np.arange(_N_HASH, dtype=np.int64) * 2 + 1
    b_add = np.arange(_N_HASH, dtype=np.int64) * 2654435761 + 1

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def _band_sigs(col: pd.Series) -> pd.Series:
        none_row = [None] * _N_BANDS
        out = []
        for hs in col:
            if hs is None or len(hs) == 0:
                out.append(none_row)  # matches list_min([]) -> NULL
                continue
            h = np.asarray(hs, dtype=np.int64)
            with np.errstate(over="ignore"):
                mh = (h[:, None] * a_mul + b_add).min(axis=0)
                sigs = (mh.reshape(_N_BANDS, _BAND_ROWS) * _BC).sum(
                    axis=1
                )
            out.append(sigs)
        return pd.Series(out)

    return d.select(
        "doc_id",
        F.posexplode(_band_sigs(F.col("hs"))).alias("band", "sig"),
    )


def _mh_width(docs, spark=None, sf=None) -> int:
    """Size-driven width for the candidate explosion and the Jaccard
    payload joins. The fixed session width (32 locally) is correct at
    bench scale but caps the verify join at 32 in-process slots: the
    perturbed synthesis produces ~5 LSH candidate pairs per document
    (9.2 M pairs at 2 M docs, sf10 grid), so at sf100 each slot holds
    ~3 M pairs x2 shingle arrays — the single-JVM heap OOM observed
    round 10. 250k pairs per task bounds the payload-join footprint;
    the document count comes from the table's parquet footers (no
    Spark job), and bare frames (tests, ad-hoc callers) keep the
    session width.
    On a cluster this is exactly "more reduce slots for more data" —
    the same rule scaled_partitions applies to artifacts."""
    try:
        n = int(
            docs.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    except (TypeError, ValueError, AttributeError):
        n = 32
    if spark is None or sf is None:
        return n
    from pandas_reporter_spark.session import scaled_partitions

    return max(n, scaled_partitions(table_rows(sf, "documents") * 5, 250_000))


def _mh_shingles_candidates(docs, id_col="doc_id", spark=None, sf=None,
                            bucket_cap: int | None = None,
                            size_ratio: float | None = None):
    """(hashed-shingle DF, candidate-pair DF) — the shared front of the
    minhash family. Uses the session's checkpointed artifact when
    the `minhash` artifact is registered; otherwise builds and persists the
    shingle table (read by the signature branch and both payload-join
    sides of minhash_pairs).

    ``size_ratio``: EXACT shingle-count prefilter applied INSIDE the
    bucket pair explosion (r15, guide §3.2 "reduce the big side before
    shuffling it"): hs is array_distinct, so |A∩B| ≤ min(|A|,|B|) and
    J = I/(|A|+|B|−I) ≥ t REQUIRES min(|A|,|B|) ≥ t·max(|A|,|B|) —
    pairs failing the ratio cannot pass the verify at threshold t, so
    dropping them at generation time changes nothing downstream
    (ε = 1e-9 keeps exact-boundary ratios on the verify side: a float
    ulp can only ADMIT a pair into the verify, never drop one). Sizes
    ride the collect_list structs (8 extra bytes per band row), the
    filter runs during the explode — BEFORE the pair-dedup exchange —
    and the payload/verify joins see only ratio-compatible survivors
    (sf10: 15.8 M → 9.8 M pairs). A post-hoc size JOIN on the deduped
    pair stream was measured instead and REJECTED (+0.2 s at sf10:
    two extra pair-stream joins cost more than the 38% verify cut).
    None (the capped/candidates path) keeps the oracle-pinned
    unfiltered candidate semantics. With ``bucket_cap`` too, the cap
    drops hot buckets first and the ratio filters the pairs of the
    rest."""
    from pyspark import StorageLevel

    art = None
    if spark is not None and sf is not None:
        art = artifacts.get(spark, sf, "minhash")
    if art is not None:
        d, bands = art
    else:
        # hashed shingles only — shingle strings never materialize
        d = with_hashed_shingles(docs).select(
            F.col(id_col).alias("doc_id"), "hs"
        )
        d = d.persist(StorageLevel.MEMORY_AND_DISK)
        bands = _band_signatures(d)
    n = _mh_width(docs, spark=spark, sf=sf)
    # null signatures mark empty shingle sets (docs under 3 tokens) —
    # the oracle's `WHERE len(hs) > 0` twin. Filtering here also keeps
    # the all-empty-docs mega-bucket out of the pair explosion (its
    # pairs previously died at the jaccard verify, but only after
    # being generated).
    live = bands.filter(F.col("sig").isNotNull())
    if size_ratio is not None:
        # sizes ride the bucket lists for the ratio filter below
        live = live.join(d.select("doc_id", F.size("hs").alias("sz")), "doc_id")
        member = F.struct("doc_id", "sz")
    else:
        member = F.col("doc_id")
    buckets = (
        live.groupBy("band", "sig")
        .agg(F.collect_list(member).alias("ids"))
        .filter(F.size("ids") >= 2)
        # numbered repartition — coalesce-exempt: AQE would shrink
        # this byte-tiny exchange to ~1 partition and serialize the
        # pair explosion it feeds (see lsh_candidate_pairs; measured
        # at sf1 AQE-on).
        .repartition(n, "band", "sig")
    )
    if bucket_cap is not None:
        # hot-bucket guard: a bucket of n docs emits n(n-1)/2 pairs;
        # boilerplate signatures (template text) produce buckets of
        # thousands at corpus scale whose pairs almost never pass the
        # 0.8 verify. Dropping buckets above the cap bounds per-bucket
        # work at cap²/2 — the production guard SCALING.md names, now
        # a real code path. Recall loss is confined to pairs whose
        # ONLY collision is a hot bucket; a true near-dup pair
        # collides in ~bands·J^rows of the 16 bands, so it
        # overwhelmingly retains a small-bucket collision too
        # (planted-dup recall under the cap pinned in tests).
        buckets = buckets.filter(F.size("ids") <= bucket_cap)
    pairs = buckets.select(F.explode("ids").alias("pa"), "ids").select(
        "pa", F.explode("ids").alias("pb")
    )
    pa, pb = F.col("pa"), F.col("pb")
    if size_ratio is not None:
        pairs = pairs.filter(
            (pa["doc_id"] < pb["doc_id"])
            & (
                F.least(pa["sz"], pb["sz"]).cast("double")
                >= F.lit(size_ratio - 1e-9) * F.greatest(pa["sz"], pb["sz"])
            )
        ).select(pa["doc_id"].alias("doc_a"), pb["doc_id"].alias("doc_b"))
    else:
        pairs = pairs.select(pa.alias("doc_a"), pb.alias("doc_b")).filter(
            F.col("doc_a") < F.col("doc_b")
        )
    # Numbered repartition BEFORE the pair dedup: dropDuplicates then
    # satisfies its clustering from the coalesce-exempt exchange, so
    # the dedup and the downstream array_intersect verify both keep
    # full width under AQE (write-bytes say nothing about per-row
    # compute). Same fix, same measurement, as lsh_candidate_pairs.
    cand = pairs.repartition(n, "doc_a", "doc_b").dropDuplicates(
        ["doc_a", "doc_b"]
    )
    return d, cand


def minhash_candidates(docs, id_col: str = "doc_id", spark=None, sf=None,
                       bucket_cap: int | None = None):
    """LSH candidate pairs only (no Jaccard verify) — what the
    hot-bucket guard admits. See q_dedup_minhash_capped."""
    _, cand = _mh_shingles_candidates(
        docs, id_col=id_col, spark=spark, sf=sf, bucket_cap=bucket_cap
    )
    return cand


def minhash_pairs(docs, id_col: str = "doc_id", threshold: float = 0.8,
                  spark=None, sf=None, bucket_cap: int | None = None):
    """MinHash-LSH near-dup pairs over any (id, text) frame.

    The reusable core of q_dedup_minhash — see that docstring for the
    plan rationale; tests/test_dedup.py pins recall on planted dups.

    The hashed-shingle table is persisted (MEMORY_AND_DISK): the plan
    reads it three times (signature branch + both payload-join sides),
    and recomputing the tokenize+hash pass per branch tripled the
    steady-state cost (measured 3.8s → 2.6s at sf0.1). At 100 TB the
    cache is the token-hash footprint of the corpus (≈ corpus-sized,
    spills to local disk); Spark's ContextCleaner unpersists it when
    the plan is garbage-collected driver-side.
    """
    # The 64 minhash functions mh_i = min_h(h·(2i+1) + i·2654435761+1)
    # run as ONE Arrow-batched kernel (_band_signatures). History of
    # this hot spot: a nested HOF (inner lambda capturing the outer
    # variable) fell out of codegen into interpreted eval (25.7s at
    # sf0.01); 64 python-unrolled flat transforms fixed THAT (0.66s)
    # but HOFs are CodegenFallback — still interpreted per element —
    # and the Arrow kernel is another ~2× on the signature stage
    # (measured round 4). Arithmetic is IDENTICAL: numpy int64 ops
    # wrap two's-complement exactly like Java longs (non-ANSI Spark),
    # so every mh value is bit-equal to the HOF form — pinned by
    # tests/test_dedup.py recall and the no-self-pairs invariants.
    d, cand = _mh_shingles_candidates(
        docs, id_col=id_col, spark=spark, sf=sf, bucket_cap=bucket_cap,
        size_ratio=threshold,
    )
    # payload joins happen AFTER candidate dedup — shingle sets move
    # only for candidate pairs
    sha = d.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("sh_a"))
    shb = d.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("sh_b"))
    # materialize the intersection size once — Catalyst does not CSE
    # across independent column expressions, and array_intersect is the
    # expensive half of the verify
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    # Size-driven width on each payload join, applied ONLY when the
    # corpus demands more than the session width (the join key changes
    # doc_a -> doc_b, so each join needs its own clustering): at 32
    # slots every candidate pair's two shingle arrays share one JVM —
    # the round-10 sf100 OOM (see _mh_width). At bench scale the
    # session width suffices and the planner's own choice (broadcast
    # of the small shingle sides) is strictly better — forcing the
    # repartition there cost +36% (measured sf0.1 A/B, 1.07->1.45 s).
    nw = _mh_width(docs, spark=spark, sf=sf)
    try:
        ns = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError, AttributeError):
        ns = 32
    left = cand if nw <= ns else cand.repartition(nw, "doc_a")
    j1 = left.join(sha, "doc_a")
    if nw > ns:
        j1 = j1.repartition(nw, "doc_b")
    return (
        j1.join(shb, "doc_b")
        .withColumn("_isz", inter)
        .withColumn(
            "jaccard",
            F.col("_isz") / (F.size("sh_a") + F.size("sh_b") - F.col("_isz")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _simhash_oracle() -> str:
    """SQL twin of the SimHash pipeline (promoted from rows-only in
    r6): md5-derived token hashes (< 2⁶⁰, so >> is shift-equal for
    both engines), per-bit majority over the token multiset, exact
    63-bit signature, self-join on equal signatures."""
    th = _DUCK_TOKHASH.format(t="s")
    return f"""
    WITH t AS (
      SELECT doc_id,
             string_split(lower(coalesce(text, '')), ' ') AS toks
      FROM documents
    ),
    th AS (
      SELECT doc_id, list_transform(toks, s -> {th}) AS hs FROM t
    ),
    sig AS (
      SELECT doc_id,
             CAST(list_aggregate(list_transform(range(0, 63),
               j -> CASE WHEN 2 * list_aggregate(
                             list_transform(hs, h -> (h >> j) & 1), 'sum')
                          > len(hs)
                     THEN (CAST(1 AS BIGINT) << j) ELSE 0 END), 'sum')
                  AS BIGINT) AS simhash
      FROM th
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.simhash
    FROM sig a JOIN sig b
      ON a.simhash = b.simhash AND a.doc_id < b.doc_id
    """


@query("q_dedup_simhash", oracle=_simhash_oracle())
def q_dedup_simhash(spark, sf):
    """64-bit SimHash signatures + near-dup pairs at Hamming distance 0
    (public algorithm: Charikar 2002 similarity estimation; the
    Google near-dup variant, Manku et al. 2007).

    Per doc: bit j of the signature is the per-bit majority of
    xxhash64(token) over the token multiset (±1 votes; 2·popcountⱼ > n).
    Near-dup docs (token multisets mostly shared) agree on most bits;
    exact-signature collision is the cheapest (groupBy, no join)
    near-dup screen. Wider Hamming radii use the standard trick of
    joining on signature quarters (any d≤3 pair shares at least one
    exact quarter) — same banded-join shape as LSH.

    Shape: tokens hashed in-plan (portable md5-derived hash — since
    r6 the signature is oracle-checked, not merely engine-defined),
    then the per-doc 63-bit majority runs as ONE
    Arrow kernel over each doc's hash array — ZERO shuffle to build
    signatures (evolution, all measured at sf0.1 warm: 63 per-row
    `F.aggregate` HOF re-walks 4.8s → explode + 63 codegen'd
    `sum(bit_j)` aggregates 1.2s → this kernel 0.25s, bit-identical
    on all 500 sf0.01 signatures; numpy uint64 shifts match
    shiftrightunsigned exactly). Scale: the explode form shuffled the
    tokenized corpus' partial aggregates; the kernel keeps signature
    construction embarrassingly parallel in the scan stage — only the
    n_docs·16B signature table ever reaches the pair-finding shuffle.
    """
    configure(spark)
    j_bits = np.arange(63)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _simhash(col: pd.Series) -> pd.Series:
        out = np.empty(len(col), dtype=np.int64)
        ju = j_bits.astype(np.uint64)
        for r, hs in enumerate(col):
            h = np.asarray(hs, dtype=np.int64).view(np.uint64)
            k = len(h)
            # bit j majority: Σ((h >>> j) & 1)·2 > n — 63 bits (not
            # 64) keeps the signature positive in a signed long
            counts = ((h[:, None] >> ju) & 1).sum(axis=0)
            out[r] = int(((counts * 2 > k).astype(np.int64) << j_bits).sum())
        return pd.Series(out)

    th = F.transform(
        F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), " "),
        lambda s: portable_token_hash(s),
    )
    agg = load(spark, sf, "documents").select(
        "doc_id", _simhash(th).alias("_sig")
    )
    sig = F.col("_sig")
    # persist: the self-join below reads the signature table twice and
    # would otherwise run the explode+aggregate pipeline per side (the
    # minhash_pairs argument; n_docs·16B rows, trivially cacheable)
    from pyspark import StorageLevel

    sigs = agg.select("doc_id", sig.alias("simhash")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    a = sigs.select(F.col("doc_id").alias("doc_a"), "simhash")
    b = sigs.select(F.col("doc_id").alias("doc_b"), "simhash")
    return (
        a.join(b, "simhash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "simhash")
    )

def _dedup_embedding_oracle() -> str:
    from pandas_reporter_spark.operators.similarity import (
        _duck_cand_cte,
        _duck_cos,
    )

    return f"""
    -- keep a vector iff no lower-id vector sharing an LSH bucket is a
    -- cosine >= 0.99 near-duplicate (identical literal hyperplanes to
    -- the Spark plan, so the candidate set matches exactly)
    WITH {_duck_cand_cte()},
    dup_b AS (
      SELECT DISTINCT c.vec_b AS vec_id
      FROM cand c
      JOIN embeddings ea ON ea.vec_id = c.vec_a
      JOIN embeddings eb ON eb.vec_id = c.vec_b
      WHERE {_duck_cos('ea.embedding', 'eb.embedding')} >= 0.99
    )
    SELECT e.vec_id, e.label FROM embeddings e
    WHERE e.vec_id NOT IN (SELECT vec_id FROM dup_b)
    """


@query("q_dedup_embedding", oracle=_dedup_embedding_oracle())
def q_dedup_embedding(spark, sf):
    """Embedding-cosine near-dup dedup: keep the lowest-id member of
    every >= 0.99-cosine pair found via hyperplane-LSH buckets.

    Near-dup PAIRS come from shared LSH buckets (similarity.
    lsh_candidate_pairs) with an exact-cosine rerank — pair space is
    Σ_buckets n_b², never the round-2 label-blocked quadratic. The
    KEEPER set is a left-anti join of the corpus against the pairs'
    higher ids. Not connected components: the keep-lowest rule is
    single-pass and deterministic, which is what a production dedup
    wants (CC is iterative and order-sensitive). The deterministic
    literal planes make the whole pipeline oracle-checkable; recall on
    planted near-identical vectors is pinned in tests/test_similarity.py.
    """
    from pandas_reporter_spark.operators.similarity import (
        dot,
        lsh_candidate_pairs,
        norm,
    )

    configure(spark)
    e = load(spark, sf, "embeddings")
    cand = lsh_candidate_pairs(e, spark, sf)
    # norms hoisted into the scan projection: ONE dot per candidate
    # pair instead of three (bit-identical to the per-pair recompute).
    # (r15 NOT-DONE: unrolling the 64-dim fold into a flat
    # element_at expression chain — bit-identical IEEE order —
    # measured 5.1 → 27.2 s at sf10: the 190-term generated method
    # regresses codegen instead of escaping CodegenFallback. The HOF
    # aggregate(zip_with) fold IS the fast form on Spark 4.)
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
    # embedding sides broadcast explicitly — Catalyst's fan-out-blind
    # stats would otherwise broadcast the PAIR relation (see
    # q_similarity_join; r8 sf1 measurement)
    dup_b = (
        cand.join(F.broadcast(ea), "vec_a")
        .join(F.broadcast(eb), "vec_b")
        .filter(cos >= 0.99)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
    )
    return e.join(dup_b, "vec_id", "left_anti").select("vec_id", "label")


def _dedup_semantic_oracle() -> str:
    from pandas_reporter_spark.operators.similarity import _duck_cos

    return f"""
    -- SemDeDup: within each cell, drop every vector with a
    -- cosine >= 0.99 neighbor of LOWER vec_id; per-cell report
    WITH dup AS (
      SELECT DISTINCT eb.vec_id AS vec_id
      FROM embeddings ea JOIN embeddings eb
        ON ea.label = eb.label AND ea.vec_id < eb.vec_id
      WHERE {_duck_cos('ea.embedding', 'eb.embedding')} >= 0.99
    )
    SELECT e.label AS cell,
           COUNT(*) AS n_vectors,
           CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN d.vec_id IS NULL THEN e.vec_id ELSE 0 END)
             AS BIGINT) AS kept_id_sum
    FROM embeddings e LEFT JOIN dup d ON e.vec_id = d.vec_id
    GROUP BY e.label
    """


@query("q_dedup_semantic", oracle=_dedup_semantic_oracle())
def q_dedup_semantic(spark, sf):
    """SemDeDup-style semantic dedup (public method: Abbas et al.
    2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication"): partition the embedding corpus into
    semantic CELLS via a coarse quantizer, run EXACT pairwise cosine
    only within each cell, and keep the lowest-id member of every
    >= 0.99 pair. Per-cell report: size, survivors, keeper-id
    checksum.

    How it differs from the two embedding-dedup shapes already here:
    q_dedup_embedding generates candidates by hyperplane-LSH (recall
    bounded by bucket collisions); q_dedup_cluster builds connected
    components from those pairs. SemDeDup's trade is the opposite —
    EXACT pairwise inside a semantic cell (no hash-recall loss) at
    the cost of missing cross-cell pairs, which the paper accepts by
    construction (duplicates land in the same cluster because the
    quantizer is trained on the same geometry).

    Cells here are the `label` column — the same supervised stand-in
    q_similarity_ivf documents for its coarse quantizer (a deployment
    LEARNS cells with a size-dialed k-means: K ∝ n via the pq_dials
    discipline keeps per-cell size — and therefore the Σ n_c²
    in-cell pair space — CONSTANT as the corpus grows; the in-cell
    join below is cell-partitioned, so cells process independently
    across executors). The cosine is the engine's exact
    left-to-right double dot (bit-identical in DuckDB), norms hoisted
    into the scan projection so each pair costs one dot.

    Cluster-boundary semantics (near-identical vectors in DIFFERENT
    cells both survive) are pinned in tests/test_dedup.py.

    Reference parity: none (driver-mandated LLM-pipeline surface).
    """
    from pandas_reporter_spark.operators.similarity import dot, norm

    configure(spark)
    e = load(spark, sf, "embeddings")
    en = e.select(
        "label",
        "vec_id",
        "embedding",
        norm(F.col("embedding")).alias("nrm"),
    )
    ea = en.select(
        "label",
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    eb = en.select(
        "label",
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    cos = dot(F.col("emb_a"), F.col("emb_b")) / (
        F.col("nrm_a") * F.col("nrm_b")
    )
    dup = (
        ea.join(eb, "label")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(cos >= 0.99)
        .select("vec_b")
        .distinct()
    )
    kept_flag = F.col("vec_b").isNull()
    return (
        en.select("label", "vec_id")
        .join(dup, en.vec_id == dup.vec_b, "left")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum(F.when(kept_flag, 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum(F.when(kept_flag, F.col("vec_id")).otherwise(0))
            .cast("long")
            .alias("kept_id_sum"),
        )
        .select(
            F.col("label").alias("cell"),
            "n_vectors",
            "n_kept",
            "kept_id_sum",
        )
    )


@query(
    "q_dedup_cluster",
    oracle="""
    WITH RECURSIVE t AS (
      SELECT doc_id, lang,
             list_distinct(string_split(lower(text), ' ')) AS toks
      FROM documents
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
            >= 0.9
    ), edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ), reach(node, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, MIN(r) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def q_dedup_cluster(spark, sf):
    """Connected components over near-dup pairs: every doc labeled with
    the MIN doc_id of its duplicate cluster (singletons label themselves).

    Pairwise dedup (q_dedup_ngram_jaccard / q_dedup_minhash) emits
    EDGES; production dedup needs GROUPS — near-duplication is
    transitive in effect (A~B, B~C => keep one of {A,B,C}), so the
    canonical form is one keeper per connected component. Computed by
    large-star/small-star alternation (see `connected_components`):
    O(log n) rounds regardless of component diameter, lineage truncated
    per round via localCheckpoint — shuffles only (node, node) pairs,
    never text.
    - Oracle: DuckDB recursive CTE computes min reachable id per node
      — exact transitive closure, feasible at verify scale only.

    Reference parity: the reference has no graph/dedup layer; this is
    driver-mandated pipeline surface (SURVEY §2.3).
    """
    configure(spark)
    pairs = q_dedup_ngram_jaccard(spark, sf).select("doc_a", "doc_b")
    nodes = load(spark, sf, "documents").select("doc_id")
    return connected_components(nodes, pairs, "doc_a", "doc_b")


#: rounds the last connected_components call took to converge —
#: introspection hook for the O(log n) pin in tests/test_dedup.py
CC_LAST_ROUNDS = 0


def _large_star(E):
    """Kiveris large-star: every node links its strictly-LARGER
    neighbors to the min of its closed neighborhood. Input/output
    edges point down (u > v)."""
    bid = E.union(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # min("u") over the GROUP KEY ≡ first("u") but stays on the
    # HashAggregate path — first() is order-sensitive, so Catalyst
    # plans a SortAggregate and SORTS the full bidirectional edge list
    # inside every CC round (r12 plan audit)
    m = bid.groupBy("u").agg(
        F.least(F.min("v"), F.min("u")).alias("m")
    )
    return (
        bid.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(E):
    """Kiveris small-star: every node links its smaller neighbors
    (all of them, in the down-pointing representation) AND itself to
    the neighborhood min."""
    m = E.groupBy("u").agg(F.min("v").alias("m"))
    linked = (
        E.join(m, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_link = m.select(F.col("u"), F.col("m").alias("v"))
    return linked.union(self_link).distinct()


def connected_components(nodes, pairs, src: str, dst: str):
    """(doc_id, cluster_id): min node id reachable from each node.

    Large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) — O(log n) rounds
    REGARDLESS of component diameter, replacing the r5-r9 min-label
    propagation whose round count equaled the diameter (fine for
    near-clique dup clusters, pathological for chain graphs; VERDICT
    r8 item 7). Each round:

      E <- small_star(large_star(E))

    with edges kept in the down-pointing canonical form (u > v).
    Fixpoint detection: E only shrinks toward the star form where every
    non-root points at its component root; we compare a (count,
    xxhash64-sum) checksum across rounds — equal checksum => the edge
    SET is unchanged (hash-sum collision odds ~2^-64 per round), and a
    star set is stable under both operators, so unchanged == converged.

    - Per round: 2 shuffles (the two groupBys) + the join back — all on
      (node, node) pairs, never payload; edge count is bounded by the
      input pair count and shrinks monotonically in practice. ONE job
      per round: the checksum action materializes the lazy
      localCheckpoint, and shuffle width for the loop is set from the
      measured edge count (size-driven, floor 8) — at 246 k pairs the
      original eager-checkpoint + 32-wide + extra-repartition loop ran
      15.3 s; this form runs 5.6-8.2 s on the same input (~2-3×).
    - Labels fall out of the converged star: cluster_id(u) = min direct
      neighbor (the root), singletons label themselves via the left
      join. min() (not first()) guards the theoretical pre-fixpoint
      checksum-collision case — the star root IS the min.
    - Oracle: DuckDB recursive CTE computes min reachable id per node
      — exact transitive closure, feasible at verify scale only.
    """
    global CC_LAST_ROUNDS
    spark = nodes.sparkSession
    node_col = nodes.columns[0]
    raw = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    # localCheckpoint (not persist): each star round references E ~4×,
    # so un-truncated lineage grows as 4^rounds and OOMs the ANALYZER
    # before any data moves (hit at 9 rounds on a 256-edge graph).
    # eager=False: the checksum action below materializes the
    # checkpoint, so each round costs exactly ONE job. On a cluster
    # swap for reliable checkpoint(dir) for executor-loss recovery.
    E = (
        raw.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )

    def checksum(df):
        row = df.agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(F.xxhash64("u", "v")).alias("h"),
        ).collect()[0]
        return (row["c"], row["h"])

    prev = checksum(E)
    CC_LAST_ROUNDS = 0
    # loop shuffle width from the MEASURED edge count (the initial
    # checksum is a count): size-driven like scaled_partitions, with
    # the work_partitions ceiling so a corpus-scale edge set still
    # spreads over every slot. The conf is loop-scoped (plans read it
    # at construction) and restored after.
    from pandas_reporter_spark.session import scaled_partitions

    nparts = min(
        work_partitions(spark, 8), scaled_partitions(2 * prev[0], 100_000)
    )
    # NOTE (ADVICE r10): this conf swap is session-global for the
    # loop's duration — a plan constructed CONCURRENTLY on the same
    # session (threads, streaming callbacks) would pick up the loop
    # width. Explicit .repartition inside the star steps would forfeit
    # map-side partial aggregation (the repartition exchange moves full
    # rows before any combine), so the documented contract is instead:
    # connected_components assumes no concurrent plan construction on
    # its session — which holds for every driver/bench/test caller
    # (single-threaded per session).
    prev_conf = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(nparts))
    converged = prev[0] == 0
    try:
        if prev[0] > 0:
            for _ in range(32):  # safety bound; O(log n) expected
                CC_LAST_ROUNDS += 1
                new = _small_star(_large_star(E)).localCheckpoint(
                    eager=False
                )
                cur = checksum(new)
                E = new
                if cur == prev:  # unchanged edge set == star fixpoint
                    converged = True
                    break
                prev = cur
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_conf)
    if not converged:
        # Exiting via the bound means the edge set never reached the
        # star fixpoint: labels below would be min DIRECT neighbor, not
        # the component root — silent wrong answers (ADVICE r10).
        # Unreachable for realistic inputs (O(log n) rounds ⇒ 32 covers
        # n ~ 2^32 nodes), so fail loudly rather than guess.
        raise RuntimeError(
            "connected_components: star iteration hit the 32-round "
            f"safety bound without converging (last checksum {prev}); "
            "labels would be unreliable — refusing to return them"
        )

    roots = E.groupBy("u").agg(F.min("v").alias("root"))
    labels = (
        nodes.select(F.col(node_col).alias("doc_id"))
        .join(roots, F.col("doc_id") == F.col("u"), "left")
        .select(
            "doc_id",
            F.coalesce("root", F.col("doc_id")).alias("cluster_id"),
        )
    )
    return labels


@query(
    "q_dedup_fuzzy",
    oracle="""
    SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
           a.c_name AS name_a, b.c_name AS name_b,
           levenshtein(a.c_name, b.c_name) AS dist
    FROM customer a JOIN customer b
      ON a.c_custkey < b.c_custkey
     AND levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def q_dedup_fuzzy(spark, sf):
    """Fuzzy entity matching at edit distance <= 1 via the
    POSITION-TAGGED deletion-variant join — the linear-scale exact
    algorithm for the O(n²) levenshtein self-join the oracle runs.

    An ED<=1 pair is exactly one of three shapes, each with its own
    equi-join branch:
      (0) equal strings            -> identity-hash self-join;
      (1) substitution at pos i    -> both names' deletion-at-i
          variants are equal, so they meet on key (i, variant) —
          and ONLY at i (deleting j != i keeps the differing column);
      (2) insertion/deletion       -> the shorter name IS a deletion
          variant of the longer: identity-vs-deletion join.
    Union of the three is complete; a residual levenshtein guard
    keeps hash collisions from admitting false pairs.

    Folding the position into the substitution join key is the skew
    fix the r13 verdict demanded, and it is intrinsic rather than a
    recall-losing cap: an untagged variant group collects every name
    that reaches the variant by deleting ANY position (the r13 plan's
    measured 125.7M candidate pairs vs 39.75M true pairs at sf10,
    max group 141), while a (pos, variant) group only holds names
    that differ from the variant by an insertion at that one slot —
    its size is bounded by the ALPHABET, for any data. Because a
    substitution pair meets at exactly one position and branch (1)
    excludes equal names, the union is duplicate-free without the
    old plan's 125M-row string-keyed dropDuplicates shuffle; only
    the tiny cross-length branch dedups (a run of equal chars in the
    longer name yields the same variant from several positions).

    The cross-length branch re-shuffles the deletion stream on an
    untagged hash, so it is gated by a bounded driver artifact: the
    set of distinct name lengths (<= a few dozen rows). A corpus with
    no adjacent lengths — every fixed-width entity key, including
    this one — skips the branch at plan time.

    At 100 TB: replication is (len+1)x linear, every shuffle key is
    an 8-byte xxhash64, every join group is alphabet-bounded, and
    join output ~= true output (no candidate blowup to dedup).
    Measured (docs/FUZZY_AB_r14.json, row-identical to the r13 plan):
    sf0.1 4.3 -> 0.67 s; sf10 (1.5M mixed-length names, 41.2M pairs)
    51.7 -> 4.9 s; sf100 (15M names, 489M pairs) 559 -> 61 s —
    linear across the two measured decades.

    Reference parity: none (driver-mandated dedup surface, SURVEY
    §2.3; the entity-resolution cousin of document near-dup).
    """
    configure(spark)
    c = load(spark, sf, "customer").select("c_custkey", "c_name")

    # Bounded driver artifact (one agg, three values): the corpus'
    # distinct name lengths — gates the cross-length branch — and the
    # GLOBAL longest common prefix, via the sorted-extremes identity
    # lcp(all) = lcp(min, max). Entity-key corpora share a long
    # constant prefix ("Customer#00…" is 11 of 18 chars at sf10), and
    # no substitution pair can differ inside a prefix every name
    # shares — so deletion positions <= lcp can never join two
    # DIFFERENT names and need not be generated at all: 18 -> 7
    # variant rows per name here, generically 0 savings when names
    # share nothing.
    stats = c.agg(
        F.min("c_name").alias("lo"),
        F.max("c_name").alias("hi"),
        F.collect_set(F.length("c_name")).alias("lens"),
    ).collect()[0]
    lens = set(stats["lens"] or [])
    lcp = 0
    for x, y in zip(stats["lo"] or "", stats["hi"] or ""):
        if x != y:
            break
        lcp += 1

    # (1) substitution: deletion variants tagged with their position,
    # position folded into the 8-byte shuffle key. BOTH join inputs
    # are the SAME relation (aliased), so the exchange canonicalizes
    # identically and ReuseExchange writes the variant shuffle once;
    # SHUFFLE_HASH skips the two big sorts a sort-merge self-join
    # would pay (per-partition build side ~1M rows at sf10 —
    # comfortably in executor memory at any SF once the key carries
    # the partition count).
    dele = c.filter(F.length("c_name") > lcp).select(
        "c_custkey",
        "c_name",
        F.explode(
            F.expr(f"sequence({lcp + 1}, length(c_name))")
        ).alias("pos"),
    ).select(
        "c_custkey",
        "c_name",
        "pos",
        F.xxhash64(
            "pos",
            F.expr("concat(substring(c_name, 1, pos-1),"
                   " substring(c_name, pos+1))"),
        ).alias("vhp"),
    )
    a, b = dele.alias("a"), dele.alias("b")
    # The guard is the branch's structural invariant, not levenshtein:
    # same tagged position and equal prefix/suffix around it <=> the
    # names differ at exactly that slot (dist 1 given names differ).
    # True pairs satisfy it by construction; an xxhash64 collision
    # fails it — exactness without 2x O(len²) DP per output row.
    # The prefix/suffix checks are spelled <=AND>= ON PURPOSE: as ==
    # they are equi-join keys to Catalyst (ExtractEquiJoinKeys), which
    # folds both substrings into the shuffle/hash key — every build,
    # probe, AND partitioner row then allocates and hashes two
    # substrings, measured 18.1 s vs 3.6 s at sf10. As inequalities
    # they stay a residual join condition, evaluated only on the
    # 8-byte-hash matches, which are almost all true pairs.
    pre_a = F.expr("substring(a.c_name, 1, a.pos - 1)")
    pre_b = F.expr("substring(b.c_name, 1, b.pos - 1)")
    suf_a = F.expr("substring(a.c_name, a.pos + 1)")
    suf_b = F.expr("substring(b.c_name, b.pos + 1)")
    sub = (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.vhp") == F.col("b.vhp"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey"))
            & (F.col("a.c_name") != F.col("b.c_name"))
            & (F.col("a.pos") <= F.col("b.pos"))
            & (F.col("a.pos") >= F.col("b.pos"))
            & (pre_a <= pre_b) & (pre_a >= pre_b)
            & (suf_a <= suf_b) & (suf_a >= suf_b),
        )
        .select(
            F.col("a.c_custkey").alias("key_a"),
            F.col("b.c_custkey").alias("key_b"),
            F.col("a.c_name").alias("name_a"),
            F.col("b.c_name").alias("name_b"),
            F.lit(1).alias("dist"),
        )
    )

    # (0) equal strings (dist 0) — kept out of branch (1) so the
    # union stays duplicate-free; string equality IS the exact guard
    ih = c.select("c_custkey", "c_name", F.xxhash64("c_name").alias("nh"))
    ia, ib = ih.alias("ia"), ih.alias("ib")
    dup = (
        ia.join(ib.hint("shuffle_hash"), F.col("ia.nh") == F.col("ib.nh"))
        .filter(
            (F.col("ia.c_custkey") < F.col("ib.c_custkey"))
            & (F.col("ia.c_name") == F.col("ib.c_name"))
        )
        .select(
            F.col("ia.c_custkey").alias("key_a"),
            F.col("ib.c_custkey").alias("key_b"),
            F.col("ia.c_name").alias("name_a"),
            F.col("ib.c_name").alias("name_b"),
            F.lit(0).alias("dist"),
        )
    )
    out = sub.unionByName(dup)

    # (2) insertion/deletion, only when adjacent name lengths exist
    # (from the same bounded pre-scan)
    long_lens = sorted(l for l in lens if l - 1 in lens)
    if long_lens:
        # deletions inside the global prefix P can be pruned here too,
        # with one representative kept: if delete(L, i) with i <= lcp
        # equals some NAME S, then S starts with P (every name does),
        # which forces P[i..lcp] to be a uniform run continued by
        # L[lcp+1] — and then delete(L, i) == delete(L, lcp) exactly.
        # So positions max(lcp, 1)..len lose nothing (proof inline
        # since the sub branch's "no pair differs inside P" argument
        # does NOT apply across lengths).
        dvar = (
            c.filter(F.length("c_name").isin(long_lens))
            .select(
                "c_custkey",
                "c_name",
                F.explode(
                    F.expr(f"sequence({max(lcp, 1)}, length(c_name))")
                ).alias("pos"),
            )
            .select(
                "c_custkey",
                "c_name",
                F.xxhash64(
                    F.expr("concat(substring(c_name, 1, pos-1),"
                           " substring(c_name, pos+1))")
                ).alias("vh"),
            )
        )
        ident = c.filter(
            F.length("c_name").isin([l - 1 for l in long_lens])
        ).select(
            F.col("c_custkey").alias("kb"),
            F.col("c_name").alias("nb"),
            F.xxhash64("c_name").alias("vh"),
        )
        # shuffle_hash with the identity side as build, EXPLICITLY:
        # Catalyst's size estimate for a Generate (explode) child can
        # undercount so badly that it broadcast the 29M-row variant
        # side at sf10 (BuildLeft, 15.8 s of an 18 s wall); two 8-byte
        # hash shuffles and a build on the smaller identity side is
        # the scale-safe shape at any corpus size.
        cross = (
            dvar.join(ident.hint("shuffle_hash"), "vh")
            .filter(F.col("c_custkey") != F.col("kb"))
            .select(
                F.least("c_custkey", "kb").alias("key_a"),
                F.greatest("c_custkey", "kb").alias("key_b"),
                F.when(F.col("c_custkey") < F.col("kb"), F.col("c_name"))
                .otherwise(F.col("nb")).alias("name_a"),
                F.when(F.col("c_custkey") < F.col("kb"), F.col("nb"))
                .otherwise(F.col("c_name")).alias("name_b"),
            )
            .dropDuplicates(["key_a", "key_b", "name_a", "name_b"])
            # structural dist is 1 (S = L minus one char); levenshtein
            # is the collision guard, affordable on this small branch
            .filter(F.levenshtein("name_a", "name_b") == 1)
            .withColumn("dist", F.lit(1))
        )
        out = out.unionByName(cross)

    return out.select("key_a", "key_b", "name_a", "name_b",
                      F.col("dist").cast("int").alias("dist"))


@query(
    "q_dedup_spans",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    chunks AS (
      SELECT doc_id, CAST(gs.i AS BIGINT) AS chunk_idx,
             array_to_string(
               t[CAST(gs.i*16+1 AS BIGINT):CAST(gs.i*16+16 AS BIGINT)], ' '
             ) AS chunk
      FROM toks, LATERAL (
        SELECT UNNEST(range(0, CAST(ceil(len(t)/16.0) AS BIGINT))) AS i
      ) gs
    ),
    firsts AS (
      SELECT chunk, MIN(doc_id*100000 + chunk_idx) AS first_key
      FROM chunks GROUP BY chunk
    )
    SELECT c.doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN c.doc_id*100000 + c.chunk_idx = f.first_key
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(string_agg(
             CASE WHEN c.doc_id*100000 + c.chunk_idx = f.first_key
                  THEN c.chunk END, ' ' ORDER BY c.chunk_idx)) AS kept_md5
    FROM chunks c JOIN firsts f USING (chunk)
    GROUP BY c.doc_id
    """,
)
def q_dedup_spans(spark, sf):
    """Span-level exact dedup (the C4/RefinedWeb curation op): drop
    every occurrence of a repeated 16-token span except the globally
    first one (ordered by doc_id, position), then report per document
    how much survived plus an md5 fingerprint of the deduplicated
    text. Unlike document-level dedup this removes boilerplate that
    is EMBEDDED in otherwise-unique pages — headers, navigation,
    license blurbs — the dominant duplication mode in web corpora.

    Scale shape: chunking happens in the scan stage (split + sequence
    + slice — zero shuffle, docs never leave their partition intact);
    the global first-occurrence is a groupBy(chunk).min(key) — map-
    side combined, so a boilerplate span appearing a billion times
    combines to ONE row per input partition before the shuffle, which
    is why this beats the window form (PARTITION BY chunk must move
    every occurrence of the hot span to one reducer — guaranteed skew
    at 100 TB); the keeper flag comes back via an equi-join on the
    chunk (both sides already hash-partitioned on it), and the per-doc
    rebuild is a second map-side-combinable groupBy. State per
    distinct span is one long."""
    configure(spark)
    docs = load(spark, sf, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    n_chunks = F.ceil(F.size("t") / F.lit(16.0)).cast("long")
    # r15 rewrite (guide §8 "decide with small rows, move big rows
    # once"): the previous form shuffled SPAN TEXT three times — both
    # sides of the chunk-equality join, then the per-doc collect_list
    # of kept (idx, chunk) structs. Now every decision travels as a
    # 16-byte md5 + a chunk index: the first-occurrence dictionary
    # groups digests, the keeper flags come back as per-doc INDEX
    # lists, and the surviving text is re-derived from the original
    # document row (the identical slice expression that built the
    # chunk) behind one doc_id join — text crosses exactly one
    # exchange. Chunk identity by md5 equals identity by text modulo
    # md5 collisions (none at any SF; the q_dedup_substring family
    # already rests on md5 chunk identity, and the oracle's
    # text-grouped firsts agree row-for-row).
    chunk_at = lambda i: F.concat_ws(  # noqa: E731
        " ", F.slice("t", i * 16 + 1, 16)
    )
    ch = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0).cast("long"), n_chunks - 1),
                lambda i: F.md5(chunk_at(i)),
            )
        ).alias("chunk_idx", "h"),
    ).withColumn("_key", F.col("doc_id") * 100000 + F.col("chunk_idx"))
    firsts = ch.groupBy("h").agg(F.min("_key").alias("first_key"))
    is_first = F.col("_key") == F.col("first_key")
    flags = (
        ch.join(firsts, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(is_first, 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.array_sort(
                F.collect_list(F.when(is_first, F.col("chunk_idx")))
            ).alias("_kept_idx"),
        )
    )
    return docs.join(flags, "doc_id").select(
        "doc_id",
        "n_chunks",
        "n_kept",
        F.when(
            F.col("n_kept") > 0,
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform("_kept_idx", lambda i: chunk_at(i)),
                )
            ),
        ).alias("kept_md5"),
    )


#: content-defined chunking dials: rolling window of 4 token hashes,
#: breakpoint where the window polynomial ≡ 0 (mod 16) → expected
#: chunk length 16 tokens; chunks of ≥ 8 tokens participate in the
#: cross-document duplicate report. Shared by the Spark plan, the
#: oracle SQL, and the planted-overlap recall test.
_CDC_W = 4
_CDC_DIV = 16
_CDC_MIN_TOKENS = 8


def cdc_extents(tok_col, n_col):
    """Chunk-boundary extents [0, b1, b2, ..., n] for a token array —
    the content-defined-chunking core, as pure Catalyst HOFs (zero
    shuffle; runs in the scan stage).

    A boundary falls AFTER token i (1-based, _CDC_W ≤ i ≤ n-1) when a
    degree-3 polynomial of the trailing _CDC_W portable token hashes
    (each reduced mod 2^20 so the polynomial stays far from int64
    overflow — DuckDB raises on overflow where Spark wraps) is ≡ 0
    mod _CDC_DIV. Because the boundary decision depends only on the
    LOCAL token window, two documents sharing a long substring cut it
    at the same interior points regardless of each document's offset
    — the property that makes the chunks comparable across documents
    (fixed-stride grids, e.g. q_dedup_spans, lose exactly this).
    """
    hs = F.transform(
        tok_col,
        lambda tok: F.conv(F.substring(F.md5(tok), 1, 15), 16, 10)
        .cast("long")
        % 1048576,
    )
    n = F.col(n_col)

    def is_bp(i):
        return (
            F.element_at("hs", (i - 3).cast("int")) * 8191
            + F.element_at("hs", (i - 2).cast("int")) * 127
            + F.element_at("hs", (i - 1).cast("int")) * 31
            + F.element_at("hs", i.cast("int"))
        ) % _CDC_DIV == 0

    bps = F.when(
        n >= _CDC_W + 1,
        F.filter(F.sequence(F.lit(_CDC_W).cast("long"), n - 1), is_bp),
    ).otherwise(F.array().cast("array<long>"))
    return hs, F.concat(
        F.array(F.lit(0).cast("long")), bps, F.array(n)
    )


def cdc_chunks(docs, id_col: str = "doc_id", text_col: str = "text"):
    """(id, chunk, n_toks) rows from content-defined chunking of a
    text column — one row per chunk, chunk boundaries at rolling-hash
    breakpoints (see `cdc_extents`). All chunk construction happens
    inside the document's own row (HOFs over the token array); the
    explode emits the per-chunk rows without any exchange."""
    t = docs.select(id_col, F.split(text_col, " ").alias("t")).withColumn(
        "n", F.size("t").cast("long")
    )
    hs, ext = cdc_extents(F.col("t"), "n")
    t = t.withColumn("hs", hs).withColumn("ext", ext)
    chunk_at = lambda j: F.concat_ws(  # noqa: E731
        " ",
        F.slice(
            "t",
            (F.element_at("ext", j.cast("int")) + 1).cast("int"),
            (
                F.element_at("ext", (j + 1).cast("int"))
                - F.element_at("ext", j.cast("int"))
            ).cast("int"),
        ),
    )
    return t.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1).cast("long"), F.size("ext") - 1),
                chunk_at,
            )
        ).alias("chunk_idx", "chunk"),
    ).select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "chunk",
        F.size(F.split("chunk", " ")).cast("long").alias("n_toks"),
    )


@query(
    "q_dedup_substring",
    oracle=f"""
    -- exact cross-document substring dedup via content-defined
    -- chunking: boundaries from a rolling hash of the trailing
    -- {_CDC_W} token hashes (mod 2^20) ≡ 0 mod {_CDC_DIV}, so shared
    -- substrings chunk identically at ANY offset; chunks of
    -- ≥ {_CDC_MIN_TOKENS} tokens appearing in ≥ 2 distinct docs are
    -- the duplicated substring mass.
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    hashed AS (
      SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n,
             list_transform(t, tok ->
               CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT)
                 % 1048576) AS hs
      FROM toks
    ),
    bounded AS (
      SELECT doc_id, t, n,
             [CAST(0 AS BIGINT)] || list_filter(range({_CDC_W}, n), i ->
               (hs[i-3]*8191 + hs[i-2]*127 + hs[i-1]*31 + hs[i])
                 % {_CDC_DIV} = 0)
               || [n] AS ext
      FROM hashed
    ),
    -- per-doc chunk counts come straight from the extents array: a
    -- PURE MAP over the scan (no explode, no doc_id exchange);
    -- n_toks of a chunk IS the extent diff
    perdoc AS (
      SELECT doc_id,
             CAST(len(ext) - 1 AS BIGINT) AS n_chunks,
             CAST(len(list_filter(range(1, len(ext)), j ->
               ext[j+1] - ext[j] >= {_CDC_MIN_TOKENS})) AS BIGINT)
               AS n_long
      FROM bounded
    ),
    -- only the >= min-token chunks ever materialize as rows, and
    -- they carry md5 digests + counts, never text
    longch AS (
      SELECT doc_id,
             md5(array_to_string(t[ext[j.j]+1:ext[j.j+1]], ' '))
               AS chunk_md5,
             ext[j.j+1] - ext[j.j] AS n_toks
      FROM bounded, UNNEST(range(1, len(ext))) AS j(j)
      WHERE ext[j.j+1] - ext[j.j] >= {_CDC_MIN_TOKENS}
    ),
    dup AS (
      SELECT chunk_md5 FROM longch
      GROUP BY chunk_md5 HAVING MIN(doc_id) <> MAX(doc_id)
    ),
    dupdoc AS (
      SELECT c.doc_id, COUNT(*) AS n_dup_chunks,
             SUM(c.n_toks) AS dup_toks
      FROM longch c JOIN dup USING (chunk_md5)
      GROUP BY c.doc_id
    )
    SELECT p.doc_id,
           CAST(p.n_chunks AS BIGINT) AS n_chunks,
           CAST(p.n_long AS BIGINT) AS n_long,
           CAST(COALESCE(d.n_dup_chunks, 0) AS BIGINT) AS n_dup_chunks,
           CAST(COALESCE(d.dup_toks, 0) AS BIGINT) AS dup_toks
    FROM perdoc p LEFT JOIN dupdoc d USING (doc_id)
    """,
)
def q_dedup_substring(spark, sf):
    """Exact cross-document substring dedup (the Lee et al. 2021
    "Deduplicating Training Data Makes Language Models Better" family,
    rebuilt on content-defined chunking instead of suffix arrays):
    find substrings of ≥ _CDC_MIN_TOKENS tokens shared VERBATIM
    between different documents at ARBITRARY offsets, and report per
    document how much of it is duplicated substring mass.

    Why content-defined chunking: q_dedup_spans' fixed 16-token grid
    only matches spans that happen to align to the same stride — a
    license blurb starting at token 3 in one page and token 11 in
    another never collides. Here chunk boundaries come from a rolling
    hash of the local token window (`cdc_extents`), so a shared
    substring is cut at the SAME interior points in every document
    containing it; its interior chunks then collide exactly. This is
    the public Rabin/CDC trick storage dedup systems (LBFS, restic,
    borg) use for offset-independent block matching, applied to the
    token stream — a scalable stand-in for the suffix-array approach,
    which needs a corpus-global sorted structure no 1000-executor
    shuffle builds cheaply.

    Scale shape: chunking is pure scan-stage HOFs inside each
    document row — zero shuffle, no window over the corpus (the
    per-doc token arrays never leave their partition). The per-doc
    chunk counts are a PURE MAP over the extents array (a chunk's
    token count IS the extent diff — no explode, no doc_id exchange
    for the base stats). Only chunks of ≥ _CDC_MIN_TOKENS tokens ever
    materialize as rows, and they shuffle as md5 DIGESTS + counts,
    never as text. Duplicate detection is
    groupBy(chunk_md5).agg(min,max doc) — map-side combined, so a
    boilerplate chunk appearing a billion times collapses to one row
    per input partition before the exchange (the window form would
    move every occurrence of the hottest chunk to one reducer). The
    join back is chunk_md5-equi (both sides already partitioned on
    it), the per-doc rollup map-side combines, and the final left
    join attaches zeros for clean documents. Recall is pinned by a
    planted-overlap test (tests/test_dedup.py): a long substring
    planted at different offsets in otherwise-different documents is
    detected via its interior chunks.

    Reference parity: none (driver-mandated LLM-pipeline surface;
    VERDICT r11 item 4)."""
    configure(spark)
    docs = load(spark, sf, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    ).withColumn("n", F.size("t").cast("long"))
    hs, ext = cdc_extents(F.col("t"), "n")
    bounded = docs.withColumn("hs", hs).withColumn("ext", ext)
    js = F.sequence(F.lit(1).cast("long"), F.size("ext") - 1)
    diff_at = lambda j: F.element_at(  # noqa: E731
        "ext", (j + 1).cast("int")
    ) - F.element_at("ext", j.cast("int"))
    # ONE evaluation of the CDC chain (r15, guide §1.2 "don't compute
    # things you throw away"): the before-plan evaluated the rolling-
    # hash extents THREE times — once for the per-doc stats, once for
    # the duplicate-digest dictionary, once for the join-back stream.
    # Collapse to a single scan that emits per doc the bounded stats
    # plus the ≥min-token chunk digests as an in-row array (16 B md5 +
    # count per long chunk — text never persists), persist THAT, and
    # derive all three consumers from it. Same digests, same counts,
    # same rollups — exact equivalence. Each invocation retires the
    # previous one's cache handle (artifacts.hold, ADVICE r15 —
    # waiting on ContextCleaner GC lets a long bench session
    # accumulate abandoned cached blocks).
    from pyspark import StorageLevel

    base = bounded.select(
        "doc_id",
        (F.size("ext") - 1).cast("long").alias("n_chunks"),
        F.transform(
            F.filter(js, lambda j: diff_at(j) >= _CDC_MIN_TOKENS),
            lambda j: F.struct(
                F.md5(
                    F.concat_ws(
                        " ",
                        F.slice(
                            "t",
                            (
                                F.element_at("ext", j.cast("int")) + 1
                            ).cast("int"),
                            diff_at(j).cast("int"),
                        ),
                    )
                ).alias("chunk_md5"),
                diff_at(j).alias("n_toks"),
            ),
        ).alias("chunks"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    artifacts.hold("q_dedup_substring", base)
    perdoc = base.select(
        "doc_id",
        "n_chunks",
        F.size("chunks").cast("long").alias("n_long"),
    )
    long_chunks = base.select(
        "doc_id", F.explode("chunks").alias("ch")
    ).select("doc_id", F.col("ch.chunk_md5").alias("chunk_md5"),
             F.col("ch.n_toks").alias("n_toks"))
    dup = (
        long_chunks.groupBy("chunk_md5")
        .agg(F.min("doc_id").alias("_mn"), F.max("doc_id").alias("_mx"))
        .filter(F.col("_mn") != F.col("_mx"))
        .select("chunk_md5")
    )
    dupdoc = (
        long_chunks.join(dup, "chunk_md5")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("_ndc"),
            F.sum("n_toks").cast("long").alias("_dt"),
        )
    )
    return perdoc.join(dupdoc, "doc_id", "left").select(
        "doc_id",
        "n_chunks",
        "n_long",
        F.coalesce(F.col("_ndc"), F.lit(0)).cast("long").alias("n_dup_chunks"),
        F.coalesce(F.col("_dt"), F.lit(0)).cast("long").alias("dup_toks"),
    )


@query(
    "q_dedup_substring_removal",
    oracle=f"""
    -- Lee et al. 2021 removal semantics on the CDC chunk stream:
    -- every repeated >= {_CDC_MIN_TOKENS}-token chunk keeps ONLY its
    -- globally first occurrence (by doc_id, then position); short
    -- chunks always survive. Per doc: counts + the md5 of the
    -- cleaned text rebuilt from surviving chunks in order.
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    hashed AS (
      SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n,
             list_transform(t, tok ->
               CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT)
                 % 1048576) AS hs
      FROM toks
    ),
    bounded AS (
      SELECT doc_id, t, n,
             [CAST(0 AS BIGINT)] || list_filter(range({_CDC_W}, n), i ->
               (hs[i-3]*8191 + hs[i-2]*127 + hs[i-1]*31 + hs[i])
                 % {_CDC_DIV} = 0)
               || [n] AS ext
      FROM hashed
    ),
    chunks AS (
      SELECT doc_id, j.j - 1 AS chunk_idx,
             array_to_string(t[ext[j.j]+1:ext[j.j+1]], ' ') AS chunk,
             ext[j.j+1] - ext[j.j] AS n_toks
      FROM bounded, UNNEST(range(1, len(ext))) AS j(j)
    ),
    firsts AS (
      SELECT md5(chunk) AS chunk_md5,
             MIN(doc_id * 100000 + chunk_idx) AS first_key
      FROM chunks WHERE n_toks >= {_CDC_MIN_TOKENS}
      GROUP BY md5(chunk)
    )
    SELECT c.doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN c.n_toks < {_CDC_MIN_TOKENS}
                      OR c.doc_id * 100000 + c.chunk_idx = f.first_key
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(string_agg(
             CASE WHEN c.n_toks < {_CDC_MIN_TOKENS}
                    OR c.doc_id * 100000 + c.chunk_idx = f.first_key
                  THEN c.chunk END, ' ' ORDER BY c.chunk_idx))
             AS cleaned_md5
    FROM chunks c LEFT JOIN firsts f ON md5(c.chunk) = f.chunk_md5
    GROUP BY c.doc_id
    """,
)
def q_dedup_substring_removal(spark, sf):
    """Substring-dedup REMOVAL (the op Lee et al. 2021 actually run):
    drop every occurrence of a repeated >= _CDC_MIN_TOKENS-token CDC
    chunk except the globally first one (ordered by doc_id, then
    position), keep all short chunks, and emit per document the
    surviving-chunk count plus an md5 fingerprint of the CLEANED
    text. q_dedup_substring is the detection/report half; this is the
    curation half that actually rewrites the corpus — the pair mirrors
    how q_dedup_spans packages the fixed-grid variant, but on the
    offset-independent CDC chunking, so a license blurb starting at
    token 3 in one page and token 11 in another deduplicates here.

    Scale shape: identical fronts to q_dedup_substring (scan-stage
    HOF chunking, zero shuffle); the keeper rule is a
    groupBy(chunk_md5).min(key) — map-side combined, digests not
    text; the flag joins back chunk_md5-equi; the per-doc rebuild is
    one collect_list of (idx, chunk) per doc (bounded by document
    length, never corpus-sized). A document whose EVERY chunk is a
    removed duplicate (possible when the whole doc is one long
    duplicated chunk — first seen at sf0.1, doc 2523) gets
    cleaned_md5 = NULL, the "document entirely removed" marker, in
    BOTH engines (DuckDB's string_agg over an all-removed group is
    naturally NULL; Spark matches it explicitly — r13 sweep fix).

    Reference parity: none (driver-mandated LLM-pipeline surface).
    """
    configure(spark)
    docs = load(spark, sf, "documents")
    # persist the chunk stream: the keeper dictionary AND the flag
    # join both consume it, and un-persisted each re-ran the CDC
    # rolling-hash chain from the parquet scan (r15, guide §1.2; the
    # q_dedup_substring fusion measured 2.21 → 1.78 s interleaved).
    # The cache is local blocks, never a shuffle — the "digests not
    # text" posture governs what crosses exchanges, which is unchanged
    # (firsts shuffles (md5, key); the rebuild was always per-doc).
    # This cache DOES hold chunk text, so the retire-previous-handle
    # discipline matters doubly here (ADVICE r15).
    from pyspark import StorageLevel

    chunks = cdc_chunks(docs).withColumn(
        "_key", F.col("doc_id") * 100000 + F.col("chunk_idx")
    ).withColumn("chunk_md5", F.md5("chunk")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    artifacts.hold("q_dedup_substring_removal", chunks)
    firsts = (
        chunks.filter(F.col("n_toks") >= _CDC_MIN_TOKENS)
        .groupBy("chunk_md5")
        .agg(F.min("_key").alias("first_key"))
    )
    flagged = chunks.join(firsts, "chunk_md5", "left")
    keep = (F.col("n_toks") < _CDC_MIN_TOKENS) | (
        F.col("_key") == F.col("first_key")
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(keep, 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.array_sort(
                F.collect_list(
                    F.when(keep, F.struct("chunk_idx", "chunk"))
                )
            ).alias("_kept"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_kept",
            F.when(
                F.col("n_kept") > 0,
                F.md5(
                    F.concat_ws(
                        " ", F.transform("_kept", lambda s: s["chunk"])
                    )
                ),
            ).alias("cleaned_md5"),
        )
    )


@query(
    "q_dedup_incremental",
    oracle="""
    -- incremental dedup: the new batch (doc_id % 10 = 7) against the
    -- standing corpus (everything else) by exact content hash, plus
    -- keep-first within the batch itself
    WITH b AS (
      SELECT doc_id, source, md5(text) AS h
      FROM documents WHERE doc_id % 10 = 7
    ),
    f AS (
      SELECT b.doc_id, b.source,
             row_number() OVER (PARTITION BY b.h ORDER BY b.doc_id) AS rn
      FROM b
      WHERE NOT EXISTS (
        SELECT 1 FROM documents c
        WHERE c.doc_id % 10 <> 7 AND md5(c.text) = b.h
      )
    )
    SELECT doc_id, source FROM f WHERE rn = 1
    """,
)
def q_dedup_incremental(spark, sf):
    """Incremental (batch-vs-corpus) exact dedup: admit a new-crawl
    batch only where its content hash is absent from the standing
    corpus, then keep-first within the batch.

    This is the shape every production ingest actually runs — dedup
    the DELTA against an existing corpus, never re-deduping the corpus
    itself. Plan: both sides reduce to content-hash dictionaries
    before any join (the corpus side via distinct — map-side
    combined), the anti join shuffles hashes only, and the in-batch
    keep-first is one window over the already-hash-partitioned batch.
    At 100 TB the corpus hash set lives as a sorted/bucketed artifact,
    and a bloom filter of it prunes the batch at scan time before the
    anti join (the q_join_bloom_pruned technique composes here);
    payload text never enters a shuffle.

    Reference parity: none (driver-mandated dedup surface, SURVEY
    §2.3).
    """
    configure(spark)
    d = load(spark, sf, "documents")
    batch = d.filter(F.col("doc_id") % 10 == 7).select(
        "doc_id", "source", F.md5("text").alias("h")
    )
    corpus_hashes = (
        d.filter(F.col("doc_id") % 10 != 7)
        .select(F.md5("text").alias("h"))
        .distinct()
    )
    fresh = batch.join(corpus_hashes, "h", "left_anti")
    w = W.partitionBy("h").orderBy("doc_id")
    return (
        fresh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source")
    )


def _containment_oracle() -> str:
    return f"""
    {_minhash_cand_sql()},
    j AS (
      SELECT c.doc_a, c.doc_b,
             CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
               / least(len(sa.hs), len(sb.hs)) AS cont
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, round(cont, 6) AS containment
    FROM j WHERE cont >= 0.7
    """


@query("q_dedup_containment", oracle=_containment_oracle())
def q_dedup_containment(spark, sf):
    """Asymmetric near-dup: shingle CONTAINMENT |A∩B| / min(|A|,|B|)
    ≥ 0.7 over the LSH candidate pairs — catches quote/subset
    relationships (one doc embedded in a longer one) that symmetric
    Jaccard misses because the union denominator dilutes them.

    Same scale shape as q_dedup_minhash (shared shingle + band
    artifacts when materialized; candidates only ever form inside
    equal-signature buckets), different verify metric. Known recall
    caveat, documented rather than hidden: extreme size ratios push
    Jaccard — and therefore LSH collision probability — down even at
    high containment, so a production subset-hunter adds shorter
    shingle bands or a suffix-automaton pass for the tail; candidates
    here are what banded MinHash yields. Oracle replays the identical
    candidate set and metric (public technique: Broder's containment
    sketches; RefinedWeb-style subset filtering).
    """
    configure(spark)
    docs = load(spark, sf, "documents")
    # shared candidate front (artifact reuse, null-sig filter, AQE
    # parallelism pins) — containment differs only in the verify metric
    d, cand = _mh_shingles_candidates(docs, spark=spark, sf=sf)
    sha = d.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("sh_a"))
    shb = d.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    cont = inter / F.least(F.size("sh_a"), F.size("sh_b"))
    return (
        cand.join(sha, "doc_a")
        .join(shb, "doc_b")
        .withColumn("containment", cont)
        .filter(F.col("containment") >= 0.7)
        .select(
            "doc_a", "doc_b", F.round("containment", 6).alias("containment")
        )
    )
